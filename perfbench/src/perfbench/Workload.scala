package perfbench

import java.util.concurrent.{Callable, Executors, Future, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's single generator thread. Every input of a run — base
  * tables, deltas, command files — is produced on it from the workload
  * seed, in a fixed order, so a seed gives the same inputs whatever the
  * engine's speed. Generator-side workload state is touched only from
  * tasks submitted here. */
final class GenThread(seed: Long) {
  val rng = new java.util.SplittableRandom(seed)
  private val ex = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-gen")
    t.setDaemon(true)
    t
  }

  def submit[T](f: => T): Future[T] = ex.submit(new Callable[T] { def call(): T = f })
  def run[T](f: => T): T = submit(f).get()

  def close(): Unit = {
    ex.shutdownNow()
    ex.awaitTermination(60, TimeUnit.SECONDS)
  }

  /** `n` distinct ints in [0, bound), in draw order. */
  def distinct(n: Int, bound: Int): Seq[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    while (seen.size < math.min(n, bound)) seen += rng.nextInt(bound)
    seen.toSeq
  }
}

/** What one run of a workload needs: the session, the generator, the
  * tracer, the input scale (1.0 = the sizes in the README) and a scratch
  * directory inside the checkout. */
final class Ctx(val spark: SparkSession, val gen: GenThread, val tr: Tracer,
                val scale: Double, val workDir: java.nio.file.Path) {
  val cpus: Int = spark.sparkContext.defaultParallelism

  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** A pinned multi-partition table: the engine sees it like a scan. */
  def table(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), schema)
      .localCheckpoint(true)

  def scaled(n: Int, min: Int): Int = math.max(min, math.round(n * scale).toInt)
}

/** One measured step (closed-loop delta, drain, or micro-batch). */
final case class StepSample(id: String, wallS: Double, rows: Long)

/** What `measure` hands back. `steps` are the steady-load steps; `drains`
  * each apply a whole backlog at once; `eventLatencyS` holds one value
  * per input row (a delta row or a command). */
final case class Measured(steps: Seq[StepSample], drains: Seq[StepSample],
                          eventLatencyS: Seq[Double],
                          layer: Map[String, Double] = Map.empty)

trait Workload {
  def params: Seq[(String, Any)]
  /** Generate the inputs and pin the base tables (part of set-up). */
  def setup(): Unit
  /** Build the seeded state (timed as `load_s`). */
  def load(): Unit
  /** Untimed steps that warm caches and the JIT (part of set-up). */
  def warmup(): Unit
  def measure(seconds: Double): Measured
  /** Per-layer figures only the workload knows, over the given steps. */
  def layerFigures(steps: Seq[StepSample]): Map[String, Double] = Map.empty
  /** Batch recompute over the accumulated input vs the integrated output;
    * `corrupt` first damages the integrated output (self-test). Returns
    * the mismatch, if any. */
  def verify(corrupt: Boolean): Option[String]
  def close(): Unit
}

/** Closed loop: the next delta is submitted when the previous step has
  * returned its output. The generator runs one delta ahead (it builds
  * delta i+1 while step i runs); each row of a delta has the delta's event
  * latency, from the moment the delta was built to the end of the step
  * that emitted its output.
  * After the loop, `drains` backlogs of `drainDeltas` deltas each are
  * coalesced into one Z-set delta and applied in one step — the catch-up
  * a consumer does after falling behind. */
abstract class ClosedLoop[D](ctx: Ctx) extends Workload {
  import ctx._

  /** Next delta, advancing the generator's copy of the input (gen thread). */
  protected def next(): D
  /** Z-set sum of consecutive deltas (gen thread). */
  protected def coalesce(ds: Seq[D]): D
  protected def rows(d: D): Long
  /** Apply one delta and hand its output to the sink (main thread). */
  protected def apply(d: D): Unit

  protected def drainDeltas: Int
  protected val warmSteps = 3
  protected val drains = 4
  protected val acc = new ZAcc

  private def ahead(): Future[(D, Long)] = gen.submit {
    val d = next()
    (d, System.nanoTime())
  }

  private def timed(d: D, id: String): StepSample = {
    val sc = spark.sparkContext
    tr.step = id
    sc.setLocalProperty(StepListener.StepKey, id)
    val t0 = System.nanoTime()
    try tr("step")(apply(d))
    finally sc.setLocalProperty(StepListener.StepKey, null)
    StepSample(id, (System.nanoTime() - t0) / 1e9, rows(d))
  }

  def warmup(): Unit = (0 until warmSteps).foreach(i => timed(ahead().get()._1, s"w$i"))

  def measure(seconds: Double): Measured = {
    val steps = ArrayBuffer[StepSample]()
    val lat = ArrayBuffer[Double]()
    var pending = ahead()
    // untimed steps until the JIT has settled on the step path
    val w0 = System.nanoTime()
    var pre = 0
    while ((System.nanoTime() - w0) / 1e9 < ClosedLoop.PreMeasureSeconds) {
      val d = pending.get()._1
      pending = ahead()
      timed(d, s"p$pre")
      pre += 1
    }
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (d, stamp) = pending.get()
      pending = ahead()
      val s = timed(d, s"s${steps.length}")
      val l = (System.nanoTime() - stamp) / 1e9
      steps += s
      lat ++= Iterator.fill(s.rows.toInt)(l)
    }
    // the delta built ahead is already part of the generator's input: it
    // leads the first backlog
    val carried = pending.get()._1
    val drained = (0 until drains).map { k =>
      val backlog = gen.run(coalesce(
        (if (k == 0) Seq(carried) else Nil) ++
          Seq.fill(if (k == 0) drainDeltas - 1 else drainDeltas)(next())))
      timed(backlog, s"d$k")
    }
    Measured(steps.toSeq, drained, lat.toSeq)
  }
}

object ClosedLoop {
  /** Untimed stepping between set-up and the measured window. */
  val PreMeasureSeconds = 5.0
}
