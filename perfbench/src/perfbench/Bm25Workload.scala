package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ZSetFrame
import graft.functions.Bm25
import graft.incremental.{Bm25State, Pinned}
import graft.queries.Postings

/** screened-bm25: the screened-state family. A Bm25State (standing top-10
  * over the four t13 query terms) is seeded with most of a documents
  * corpus; each epoch then inserts, deletes and rewrites a few documents
  * (a rewrite ships −old/+new). Every epoch's documents go through
  * Postings.build before Bm25State.step: tokenizing, screening and top-k
  * dominate, with little KeyedState work. */
final class ScreenedBm25(ctx: Ctx) extends ClosedLoop[Seq[Row]](ctx) {
  import ScreenedBm25._
  import ctx._

  private val nDocs = scaled(5000, 200)
  private val seedFrac = 0.9
  private val perEpoch = 4 // inserts, deletes and rewrites each
  private val nBuckets = 32
  protected val drainDeltas = 20
  // a step costs seconds: keep the fixed part of a run short
  override protected val warmSteps = 1
  override protected val drains = 2

  def params: Seq[(String, Any)] = Seq("documents" -> nDocs, "seed_frac" -> seedFrac,
    "inserts_deletes_rewrites_per_epoch" -> perEpoch, "buckets" -> nBuckets,
    "query_terms" -> Postings.QueryTerms.mkString(" "),
    "drain_epochs" -> drainDeltas, "drains" -> drains)

  // generator side: live documents, and never-inserted ones
  private val live = mutable.LinkedHashMap[Long, String]()
  private val liveIds = mutable.ArrayBuffer[Long]()
  private var unseen = List.empty[(Long, String)]
  private var lastId = 0L

  private def text(): String =
    Seq.fill(10 + gen.rng.nextInt(91))(Vocab(gen.rng.nextInt(Vocab.length))).mkString(" ")

  private def newDoc(): (Long, String) = { lastId += 1; (lastId, text()) }

  private def takeLive(): Long = {
    val i = gen.rng.nextInt(liveIds.length)
    val id = liveIds(i)
    liveIds(i) = liveIds.last
    liveIds.remove(liveIds.length - 1)
    id
  }

  private var st: Bm25State = _
  private var seedDocs: Seq[Row] = _

  private def postings(docs: DataFrame): ZSetFrame =
    ZSetFrame.fromDelta(Postings.build(docs, withDl = true)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("w").as(ZSetFrame.W)))

  def setup(): Unit = gen.run {
    val docs = Seq.fill(nDocs)(newDoc())
    val (seed, rest) = docs.splitAt((nDocs * seedFrac).toInt)
    seed.foreach { case (id, t) => live(id) = t; liveIds += id }
    unseen = rest.toList
    seedDocs = seed.map { case (id, t) => Row(id, t, 1L) }
  }

  def load(): Unit = {
    st = new Bm25State(postings(frame(Nil, DocSchema)), Postings.QueryTerms, nBuckets)
    apply(seedDocs)
  }

  protected def next(): Seq[Row] = {
    val rewrites = Seq.fill(perEpoch)(takeLive())
    val deletes = Seq.fill(perEpoch)(takeLive())
    val inserts = Seq.fill(perEpoch)(unseen match {
      case d :: tail => unseen = tail; d
      case Nil => newDoc()
    })
    val rw = rewrites.flatMap { id =>
      val (old, now) = (live(id), text())
      live(id) = now
      Seq(Row(id, old, -1L), Row(id, now, 1L))
    }
    val del = deletes.map(id => Row(id, live.remove(id).get, -1L))
    val ins = inserts.map { case (id, t) => live(id) = t; Row(id, t, 1L) }
    liveIds ++= rewrites
    liveIds ++= inserts.map(_._1)
    rw ++ del ++ ins
  }

  protected def coalesce(ds: Seq[Seq[Row]]): Seq[Row] =
    ZRows.sumRows(ds.flatten)

  protected def rows(d: Seq[Row]): Long = d.length.toLong

  protected def apply(d: Seq[Row]): Unit = {
    val docs = tr("core.delta")(frame(d, DocSchema))
    // the epoch's postings, consolidated (a rewrite that keeps a term's
    // tf and dl cancels) and materialized here so tokenizing is timed on
    // its own
    val post = tr("postings.build")(postings(docs).consolidate.localCheckpoint(eager = true))
    val out = tr("bm25.step")(st.step(post))
    tr("bm25.emit") {
      acc.addRows(out.df.select(OutCols.map(col) :+ col(ZSetFrame.W): _*).collect())
    }
    Pinned.release(post.df)
  }

  def verify(corrupt: Boolean): Option[String] = {
    val docs = table(gen.run(live.toSeq.map { case (id, t) => Row(id, t, 1L) }), DocSchema)
    val c = docs.agg(count(lit(1)), sum(size(split(col("text"), " ")).cast("long"))).head()
    val tf = Postings.build(docs.drop("w"), withDl = true,
      termFilter = Some(col("term").isin(Postings.QueryTerms: _*)))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = tf.join(df, "term")
      .select(col("doc_id"), Bm25.sq(col("tf"), col("dl"), col("df"),
        lit(c.getLong(0)), lit(c.getLong(1))).as("sq"))
      .groupBy("doc_id").agg(sum("sq").as("score_q"))
    val batch = score
      .withColumn("rnk", row_number().over(Window.orderBy(desc("score_q"), asc("doc_id"))))
      .where(col("rnk") <= 10).select(OutCols.map(col): _*).collect()
    if (corrupt) acc.m.remove(acc.m.head._1)
    ZAcc.diff(acc, batch)
  }

  def close(): Unit = if (st != null) st.close()
}

object ScreenedBm25 {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("w", LongType, nullable = false)))
  val OutCols: Seq[String] = Seq("doc_id", "score_q", "rnk")
}
