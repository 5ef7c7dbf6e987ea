package graft.incremental

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame

/** The shared mechanics of the SCREENED incremental states — operators
  * whose non-linear coupling (idf in [[TfIdfState]], the N/T/df corpus
  * constants in [[MultiBm25State]]) is confined per step by a
  * quantization-aware screen: maintain constants O(Δ) → broadcast an
  * old/new constant table → one no-shuffle screen of the restricted index
  * for floor crossings → recompute exactly the affected keys → emit a
  * −old/+new replacement delta (VERDICT r13 #8). The two steps factored
  * here are the ones with subtle lifecycle/job-shape invariants that must
  * not drift apart between states; the constants, indexes, and rescore
  * bodies stay per-operator (they ARE the operator).
  */
private[incremental] object Screened {

  /** Affected-set acquisition: affected = screened keys ∪ delta keys,
    * dedup'd and eagerly pinned, with the touched-bucket span riding the
    * checkpoint's own materialization action via an Observation — the d31
    * CDC discipline: the span is data-dependent (it IS the screen's
    * pruning output) but never costs its own discovery job. The returned
    * frame is pinned; the caller owns its release (prevStepPins). */
  def affectedKeys(screened: DataFrame, deltaKeys: DataFrame,
                   key: String, nBuckets: Int): (DataFrame, Seq[Int]) = {
    val obs = new Observation()
    val affected = screened.union(deltaKeys).distinct()
      .observe(obs, collect_set(
        KeyedState.bucketOf(Seq(col(key)), nBuckets)).as("bks"))
      .localCheckpoint(true)
    (affected, obs.get("bks").asInstanceOf[Seq[Int]].sorted)
  }

  /** Run independent per-step maintenance tasks CONCURRENTLY (r17 — the
    * aggStep/TfIdf-fwd-merge job-fusion discipline generalized): each task
    * is one driver-synchronous Spark action over already-pinned inputs, so
    * the step pays max(tasks) instead of Σ(tasks) of the per-action barrier
    * floor. Threads are fresh per call (Spark's job-local properties are
    * inherited at thread creation; a shared pool thread would not see
    * them). On failure every task is still barriered before propagating —
    * a caller's finally-close() must never race a daemon merge (the
    * TfIdfState r14 lesson), and all failures surface (first thrown,
    * rest suppressed). */
  def inParallel(tasks: (String, () => Unit)*): Unit = {
    val futs = tasks.map { case (n, f) =>
      val t = new java.util.concurrent.FutureTask[Unit](() => f())
      val th = new Thread(t, s"graft-par-$n")
      th.setDaemon(true)
      th.start()
      t
    }
    var err: Throwable = null
    futs.foreach { t =>
      try t.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          val c = if (e.getCause != null) e.getCause else e
          if (err == null) err = c else err.addSuppressed(c)
        case e: Throwable =>
          if (err == null) err = e else err.addSuppressed(e)
      }
    }
    if (err != null) throw err
  }

  /** Replacement-delta emission: out = (new − old) consolidated, eagerly
    * checkpointed (the emitted delta outlives the step's view-validity
    * window), with ITS touched span riding the checkpoint — the span a
    * consumer state's merge needs (for a global top-k, a displaced former
    * winner can live outside the affected buckets, so the span must come
    * from the delta itself, not from the affected set; VERDICT r13 #2). */
  def replacementDelta(newRows: DataFrame, oldRows: DataFrame,
                       key: String, nBuckets: Int): (ZSetFrame, Seq[Int]) = {
    val obs = new Observation()
    val out = ZSetFrame.fromDelta(
      (ZSetFrame.fromTable(newRows) - ZSetFrame.fromTable(oldRows))
        .consolidate.df
        .observe(obs, collect_set(
          KeyedState.bucketOf(Seq(col(key)), nBuckets)).as("bks"))
        .localCheckpoint(true))
    (out, obs.get("bks").asInstanceOf[Seq[Int]].sorted)
  }
}
