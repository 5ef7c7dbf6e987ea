package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its own calls into each layer.
  * Only the driver's main thread records; spans nest by call order, so a
  * span's children are the spans opened while it was open. With tracing
  * off, `apply` is a plain call. Spans stay in memory until `write`. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, step: String, parent: Int,
                        start: Long, end: Long)

  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  /** Id of the step or trigger the next spans belong to. */
  var step: String = ""

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.length
      spans += null
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, name, step, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Self time in seconds, summed per span name over the spans whose step
    * satisfies `inSteps`: a span's duration minus its children's (children
    * run on the same thread, one after another, so their union is their
    * sum). */
  def selfSeconds(inSteps: String => Boolean): Map[String, Double] = {
    val childNs = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.filter(s => inSteps(s.step))
      .groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9 }
  }

  def count: Int = spans.length

  /** One JSON object per span, times in ns relative to the first span. */
  def write(path: java.nio.file.Path): Unit = if (on && spans.nonEmpty) {
    val base = spans.head.start
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","step":"${s.step}",""" +
        s""""parent":${s.parent},"start_ns":${s.start - base},"end_ns":${s.end - base}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark scheduler figures of one step or trigger. */
final class StepStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  /** Wall milliseconds covered by at least one job. */
  def jobUnionMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Attributes Spark jobs, stages and tasks to benchmark steps. A closed-loop
  * step tags its jobs with the local property [[StepListener.StepKey]]
  * (threads the engine starts inside a step inherit it); a streaming
  * trigger's jobs carry the micro-batch id. Registered from outside the
  * engine, and only for traced runs. */
final class StepListener extends SparkListener {
  private val steps = new ConcurrentHashMap[String, StepStats]()
  private val jobStep = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageStep = new ConcurrentHashMap[Int, String]()

  private def stepOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(StepListener.StepKey))
      .orElse(Option(p.getProperty(StepListener.BatchKey)).map("b" + _)))

  private def stats(step: String): StepStats =
    steps.computeIfAbsent(step, _ => new StepStats)

  def get(step: String): Option[StepStats] = Option(steps.get(step))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    stepOf(e.properties).foreach { s =>
      jobStep.put(e.jobId, (s, e.time))
      stats(s).jobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStep.remove(e.jobId)).foreach { case (s, t0) =>
      stats(s).jobIntervals += ((t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stepOf(e.properties).foreach { s =>
      stageStep.put(e.stageInfo.stageId, s)
      stats(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageStep.get(e.stageId)).foreach { s =>
      val st = stats(s)
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.taskBusyMs += m.executorRunTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
}

object StepListener {
  val StepKey = "perfbench.step"
  val BatchKey: String =
    org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution.BATCH_ID_KEY
}

object Stats {
  /** Linear-interpolation percentile (the numpy default), q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Peak resident set of this process, in MB (Linux VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))
    finally src.close()
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Z-set helpers for generator-side rows whose last field is the weight. */
object ZRows {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  def withWeight(s: StructType): StructType =
    s.add(StructField(graft.core.ZSetFrame.W, LongType, nullable = false))

  def withW(r: Row, w: Long): Row = Row.fromSeq(r.toSeq :+ w)

  /** Z-set sum: equal rows' weights added, zero weights dropped. */
  def sumRows(rows: Seq[Row]): Seq[Row] = {
    val m = mutable.LinkedHashMap[Seq[Any], Long]()
    rows.foreach { r =>
      val k = r.toSeq.init
      m(k) = m.getOrElse(k, 0L) + r.getLong(r.length - 1)
    }
    m.iterator.collect { case (k, w) if w != 0L => Row.fromSeq(k :+ w) }.toSeq
  }
}

/** Driver-side integration of an emitted Z-set delta stream: row → summed
  * weight, zero weights dropped. Rows are keyed by their rendered values,
  * so integer and long columns from different plans compare equal. */
final class ZAcc {
  val m = mutable.HashMap[String, Long]()

  def add(key: String, w: Long): Unit = {
    val n = m.getOrElse(key, 0L) + w
    if (n == 0L) m.remove(key) else m(key) = n
  }

  /** Rows whose LAST column is the weight. */
  def addRows(rows: Array[org.apache.spark.sql.Row]): Unit =
    rows.foreach(r => add(ZAcc.key(r, r.length - 1), r.getLong(r.length - 1)))
}

object ZAcc {
  def key(r: org.apache.spark.sql.Row, n: Int): String =
    (0 until n).map(i => String.valueOf(r.get(i))).mkString("|")

  /** Compares an integrated output with a batch result (each batch row
    * weight 1). Returns a description of the first difference, if any. */
  def diff(acc: ZAcc, batch: Array[org.apache.spark.sql.Row]): Option[String] = {
    val want = mutable.HashMap[String, Long]()
    batch.foreach { r =>
      val k = key(r, r.length)
      want(k) = want.getOrElse(k, 0L) + 1L
    }
    if (want == acc.m) None
    else {
      val missing = want.find { case (k, w) => acc.m.getOrElse(k, 0L) != w }
      val extra = acc.m.find { case (k, w) => want.getOrElse(k, 0L) != w }
      Some(s"integrated output has ${acc.m.size} distinct rows, batch " +
        s"recompute ${want.size}; first batch row not matched: " +
        s"${missing.getOrElse("none")}; first output row not matched: " +
        s"${extra.getOrElse("none")}")
    }
  }
}
