package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** keyed-small-delta: the O(Δ) promise. A KeyedState holds a lineitem-shaped
  * table bucketed by l_partkey and maintains the per-part max/count/min
  * aggregate (the q42 shape). Each delta retracts every row of a few parts
  * and inserts a fresh set for them; the delta's buckets come from its keys,
  * as a CDC source would supply them. */
final class KeyedSmallDelta(ctx: Ctx) extends ClosedLoop[KeyedSmallDelta.Delta](ctx) {
  import KeyedSmallDelta._
  import ZRows._
  import ctx._

  private val parts = scaled(5000, 50)
  private val lineitems = scaled(150000, 1500)
  private val nBuckets = 32
  private val keysPerDelta = 4
  protected val drainDeltas = 25

  def params: Seq[(String, Any)] = Seq("parts" -> parts, "lineitems" -> lineitems,
    "buckets" -> nBuckets, "keys_per_delta" -> keysPerDelta,
    "drain_deltas" -> drainDeltas, "drains" -> drains)

  // generator side: the current rows of every part
  private val byKey = mutable.HashMap[Long, Vector[Row]]()
  private var lastOrder = 0L
  private def lineRow(part: Long): Row = {
    lastOrder += 1
    val qty = (1 + gen.rng.nextInt(50)).toDouble
    Row(part, lastOrder, (lastOrder % 7 + 1).toInt, qty,
      gen.rng.nextInt(10000000) / 100.0)
  }
  private def freshRows(part: Long): Vector[Row] =
    Vector.fill(1 + gen.rng.nextInt(2 * lineitems / parts - 1))(lineRow(part))

  // main side
  private var li: org.apache.spark.sql.DataFrame = _
  private var state: KeyedState = _
  private val touchedFrac = mutable.HashMap[String, Double]()

  private def aggFn(z: ZSetFrame): ZSetFrame =
    z.aggregate(Seq(col("l_partkey")), expandWeights = false,
      max(col("l_extendedprice")).as("max_price"),
      count(lit(1)).as("n_items"),
      min(col("l_quantity")).as("min_qty"))

  private def emit(out: ZSetFrame): Unit = {
    acc.addRows(out.df.select(OutCols.map(col) :+ col(ZSetFrame.W): _*).collect())
    Pinned.release(out.df)
  }

  def setup(): Unit = {
    val rows = gen.run {
      val rs = (1 to lineitems).map(_ => lineRow(1 + gen.rng.nextInt(parts).toLong))
      rs.foreach(r => byKey(r.getLong(0)) = byKey.getOrElse(r.getLong(0), Vector()) :+ r)
      rs
    }
    li = table(rows, Schema)
  }

  def load(): Unit = {
    state = new KeyedState(Seq("l_partkey"), nBuckets,
      ZSetFrame.fromTable(li.where(lit(false))))
    emit(tr("keyed.aggstep")(
      state.aggStep(ZSetFrame.fromTable(li), checkpointDelta = false)(aggFn)))
  }

  protected def next(): Delta = {
    val keys = gen.distinct(keysPerDelta, parts).map(_ + 1L)
    val rows = keys.flatMap { k =>
      val old = byKey.getOrElse(k, Vector())
      val now = freshRows(k)
      byKey(k) = now
      old.map(withW(_, -1L)) ++ now.map(withW(_, 1L))
    }
    Delta(rows, keys)
  }

  protected def coalesce(ds: Seq[Delta]): Delta =
    Delta(sumRows(ds.flatMap(_.rows)), ds.flatMap(_.keys).distinct)

  protected def rows(d: Delta): Long = d.rows.length.toLong

  protected def apply(d: Delta): Unit = {
    val z = tr("core.delta")(ZSetFrame.fromDelta(frame(d.rows, SchemaW)))
    val touched = KeyedState.bucketsOfLongKeys(d.keys, nBuckets)
    touchedFrac(tr.step) = touched.size.toDouble / nBuckets
    // local rows are stable under re-evaluation: no delta checkpoint
    val out = tr("keyed.aggstep")(state.aggStep(z, checkpointDelta = false,
      knownTouched = Some(touched))(aggFn))
    tr("keyed.emit")(emit(out))
  }

  override def layerFigures(steps: Seq[StepSample]): Map[String, Double] =
    Map("keyed.buckets_touched_frac" -> Stats.mean(steps.map(s => touchedFrac(s.id))))

  def verify(corrupt: Boolean): Option[String] = {
    val current = gen.run(byKey.values.flatten.toVector)
    val batch = table(current, Schema).groupBy("l_partkey")
      .agg(max("l_extendedprice"), count(lit(1)), min("l_quantity")).collect()
    if (corrupt) acc.m.remove(acc.m.head._1)
    ZAcc.diff(acc, batch)
  }

  def close(): Unit = if (state != null) state.close()
}

object KeyedSmallDelta {
  final case class Delta(rows: Seq[Row], keys: Seq[Long])

  val Schema: StructType = StructType(Seq(
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false)))
  val SchemaW: StructType = ZRows.withWeight(Schema)
  val OutCols: Seq[String] = Seq("l_partkey", "max_price", "n_items", "min_qty")
}

/** keyed-bulk-join: the same layer under bulk writes. Two KeyedStates
  * (orders and customers on the customer key, the q54 shape) are driven by
  * dense waves — each about a tenth of both tables — through
  * Incremental.joinDeltaKeyed: four insert waves, then four retraction
  * waves, repeating. Row CPU and shuffle dominate. */
final class KeyedBulkJoin(ctx: Ctx) extends ClosedLoop[KeyedBulkJoin.Delta](ctx) {
  import KeyedBulkJoin._
  import ZRows._
  import ctx._

  private val nOrders = scaled(30000, 1000)
  private val nCust = scaled(3000, 100)
  private val nBuckets = 32
  private val waveFrac = 0.1
  private val seedFrac = 0.5
  protected val drainDeltas = 3
  override protected val warmSteps = 1
  private val keys = Seq("c_custkey")

  def params: Seq[(String, Any)] = Seq("orders" -> nOrders, "customers" -> nCust,
    "buckets" -> nBuckets, "wave_frac" -> waveFrac, "seed_frac" -> seedFrac,
    "cycle" -> "4 insert waves, 4 retraction waves",
    "drain_waves" -> drainDeltas, "drains" -> drains)

  /** Generator side: which rows of a table are in the input now. */
  private final class Side(val rows: IndexedSeq[Row]) {
    /** Row indexes; the first `present` are in the input. */
    private val order = Array.tabulate(rows.length)(identity)
    var present = 0
    private def swap(i: Int, j: Int): Unit = {
      val t = order(i); order(i) = order(j); order(j) = t
    }
    /** Move `n` random absent (insert) or present (retract) rows across. */
    def wave(n: Int, insert: Boolean): Seq[Row] =
      (0 until n).flatMap { _ =>
        if (insert && present < rows.length) {
          swap(present + gen.rng.nextInt(rows.length - present), present)
          present += 1
          Some(withW(rows(order(present - 1)), 1L))
        } else if (!insert && present > 0) {
          swap(gen.rng.nextInt(present), present - 1)
          present -= 1
          Some(withW(rows(order(present)), -1L))
        } else None
      }
    def current: Seq[Row] = (0 until present).map(i => rows(order(i)))
  }

  private var a: Side = _
  private var b: Side = _
  private var waveNo = 0

  private var aSt: KeyedState = _
  private var bSt: KeyedState = _
  private var seedWave: Delta = _
  private val touchedFrac = mutable.HashMap[String, Double]()

  def setup(): Unit = gen.run {
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    b = new Side((1 to nCust).map(c =>
      Row(c.toLong, f"Customer#$c%09d", segments(gen.rng.nextInt(segments.length)))))
    a = new Side((1 to nOrders).map(o =>
      Row(1L + gen.rng.nextInt(nCust), o.toLong)))
    seedWave = Delta(a.wave((nOrders * seedFrac).toInt, insert = true),
      b.wave((nCust * seedFrac).toInt, insert = true))
  }

  def load(): Unit = {
    aSt = new KeyedState(keys, nBuckets, ZSetFrame.fromTable(frame(Nil, OrderSchema)))
    bSt = new KeyedState(keys, nBuckets, ZSetFrame.fromTable(frame(Nil, CustSchema)))
    apply(seedWave)
  }

  protected def next(): Delta = {
    val insert = waveNo % 8 < 4
    waveNo += 1
    Delta(a.wave((nOrders * waveFrac).toInt, insert),
      b.wave((nCust * waveFrac).toInt, insert))
  }

  protected def coalesce(ds: Seq[Delta]): Delta =
    Delta(sumRows(ds.flatMap(_.a)), sumRows(ds.flatMap(_.b)))

  protected def rows(d: Delta): Long = (d.a.length + d.b.length).toLong

  protected def apply(d: Delta): Unit = {
    val (za, zb) = tr("core.delta")((
      ZSetFrame.fromDelta(frame(d.a, withWeight(OrderSchema))),
      ZSetFrame.fromDelta(frame(d.b, withWeight(CustSchema)))))
    val ta = KeyedState.bucketsOfLongKeys(d.a.map(_.getLong(0)), nBuckets)
    val tb = KeyedState.bucketsOfLongKeys(d.b.map(_.getLong(0)), nBuckets)
    touchedFrac(tr.step) = (ta.size + tb.size).toDouble / (2 * nBuckets)
    val out = tr("keyed.join_step")(Incremental.joinDeltaKeyed(aSt, za, bSt, zb,
      keys, checkpointDeltas = false, knownTouchedA = Some(ta), knownTouchedB = Some(tb)))
    tr("keyed.join_emit") {
      acc.addRows(out.df.select(OutCols.map(col) :+ col(ZSetFrame.W): _*).collect())
      Pinned.release(out.df)
    }
  }

  override def layerFigures(steps: Seq[StepSample]): Map[String, Double] =
    Map("keyed.buckets_touched_frac" -> Stats.mean(steps.map(s => touchedFrac(s.id))))

  def verify(corrupt: Boolean): Option[String] = {
    val (ca, cb) = gen.run((a.current, b.current))
    val batch = table(ca, OrderSchema).join(table(cb, CustSchema), keys)
      .select(OutCols.map(col): _*).collect()
    if (corrupt) acc.add("0|0|corrupt|corrupt", 1L)
    ZAcc.diff(acc, batch)
  }

  def close(): Unit = {
    if (aSt != null) aSt.close()
    if (bSt != null) bSt.close()
  }
}

object KeyedBulkJoin {
  final case class Delta(a: Seq[Row], b: Seq[Row])

  val OrderSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("o_orderkey", LongType, nullable = false)))
  val CustSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))
  val OutCols: Seq[String] = Seq("c_custkey", "o_orderkey", "c_name", "c_mktsegment")
}
