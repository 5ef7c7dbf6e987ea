package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, one seed, one measured window.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--scale <f>] [--corrupt <0|1>]
  *
  * Set-up is repeated [[Setups]] times (session, inputs, seeded state,
  * warm-up; all but the last torn down) so set-up and load times are
  * medians. The last set-up is measured for `--seconds`, then checked
  * against a batch recompute outside the timed region. The last stdout
  * line is the result object; the lines before it record the session
  * config, the workload parameters and the failure fraction. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: Double, corrupt: Boolean)

  val Setups = 3
  /** Scratch space of a run, under the checkout it runs in. */
  val WorkDir: Path = Paths.get(".bench_build", "work")

  val Workloads: Seq[String] =
    Seq("keyed-small-delta", "keyed-bulk-join", "screened-bm25", "stream-upsert")

  /** End-to-end metrics (untraced runs), name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "load_s" -> "s", "step_p50_s" -> "s",
    "delta_rows_per_s" -> "rows/s", "event_latency_p50_s" -> "s",
    "drain_rows_per_s" -> "rows/s", "peak_rss_mb" -> "MB")

  /** Per-layer metrics (traced runs), name → unit. A layer the workload
    * does not run reads 0. screened-bm25 adds [[Bm25Layer]]. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_step" -> "count", "spark.stages_per_step" -> "count",
    "spark.tasks_per_step" -> "count", "spark.driver_gap_s_per_step" -> "s",
    "spark.task_busy_s_per_step" -> "s", "spark.shuffle_write_mb_per_step" -> "MB",
    "core.delta_s" -> "s",
    "keyed.aggstep_s" -> "s", "keyed.emit_s" -> "s", "keyed.buckets_touched_frac" -> "ratio",
    "keyed.join_step_s" -> "s", "keyed.join_emit_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.offsets_s" -> "s",
    "streaming.walcommit_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.addbatch_s" -> "s", "streaming.rows_per_trigger" -> "rows",
    "streaming.triggers" -> "count", "streaming.generator_lag_s" -> "s",
    "streaming.backlog_rows_end" -> "rows", "streaming.state_rows" -> "rows",
    "pinned.rdds_end" -> "count", "pinned.storage_mb_end" -> "MB",
    "jvm.gc_s" -> "s", "trace.step_p50_s" -> "s", "trace.spans" -> "count")

  /** The screened-state layers, measured only by screened-bm25. */
  val Bm25Layer: Seq[(String, String)] = Seq(
    "postings.build_s" -> "s", "bm25.step_s" -> "s", "bm25.emit_s" -> "s")

  /** Span name → per-layer metric (self seconds per step). */
  private val SpanMetric: Seq[(String, String)] = Seq(
    "core.delta" -> "core.delta_s", "keyed.aggstep" -> "keyed.aggstep_s",
    "keyed.emit" -> "keyed.emit_s", "keyed.join_step" -> "keyed.join_step_s",
    "keyed.join_emit" -> "keyed.join_emit_s", "postings.build" -> "postings.build_s",
    "bm25.step" -> "bm25.step_s", "bm25.emit" -> "bm25.emit_s")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", m.getOrElse("scale", "1").toDouble,
      m.getOrElse("corrupt", "0") == "1")
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0 && o.scale > 0, "bad sizes")
    o
  }

  def session(cpus: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def make(name: String, ctx: Ctx): Workload = name match {
    case "keyed-small-delta" => new KeyedSmallDelta(ctx)
    case "keyed-bulk-join" => new KeyedBulkJoin(ctx)
    case "screened-bm25" => new ScreenedBm25(ctx)
    case "stream-upsert" => new StreamUpsert(ctx)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val mainNs = System.nanoTime()
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val cpus = Runtime.getRuntime.availableProcessors
    val perLayer = PerLayer ++ (if (o.workload == "screened-bm25") Bm25Layer else Nil)
    val root = Files.createDirectories(WorkDir
      .resolve(s"run-${ProcessHandle.current().pid()}")).toAbsolutePath
    val setupS, loadS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var gen: GenThread = null
    var wl: Workload = null
    var tr: Tracer = null
    try {
      for (rep <- 0 until Setups) {
        val t0 = if (rep == 0) mainNs else System.nanoTime()
        val work = Files.createDirectories(root.resolve(s"setup-$rep"))
        spark = session(cpus, work)
        spark.sparkContext.setLogLevel("ERROR")
        gen = new GenThread(o.seed)
        tr = new Tracer(o.trace && rep == Setups - 1)
        wl = make(o.workload, new Ctx(spark, gen, tr, o.scale, work))
        val s0 = System.nanoTime()
        wl.setup()
        val l0 = System.nanoTime()
        wl.load()
        val w0 = System.nanoTime()
        loadS += (w0 - l0) / 1e9
        wl.warmup()
        val end = System.nanoTime()
        setupS += (end - t0) / 1e9 + (if (rep == 0) jvmS else 0.0)
        System.err.println(f"perfbench: set-up $rep: session ${(s0 - t0) / 1e9}%.2f s, " +
          f"inputs ${(l0 - s0) / 1e9}%.2f s, load ${(w0 - l0) / 1e9}%.2f s, " +
          f"warm-up ${(end - w0) / 1e9}%.2f s")
        if (rep < Setups - 1) {
          wl.close(); gen.close(); spark.stop()
          deleteTree(work)
        }
      }
      val sc = spark.sparkContext
      val listener = new StepListener
      if (o.trace) sc.addSparkListener(listener)
      // start the measured window from a collected heap: garbage from the
      // set-ups is not charged to the first steps
      System.gc()
      val gc0 = Stats.gcMillis
      val m = wl.measure(o.seconds)
      val gcS = (Stats.gcMillis - gc0) / 1000.0
      val pinnedRdds = sc.getPersistentRDDs.size
      val pinnedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      org.apache.spark.PerfbenchBus.drain(sc)
      require(m.steps.nonEmpty, "no step completed inside the measured window")

      val mismatch = wl.verify(o.corrupt)
      val attempted = m.steps.length + m.drains.length
      val failed = if (mismatch.isDefined) attempted else 0
      mismatch.foreach(d => System.err.println(s"perfbench: correctness check FAILED: $d"))

      val walls = m.steps.map(_.wallS)
      System.err.println("perfbench: step seconds " + walls.map(w => f"$w%.3f").mkString(" ") +
        "; drain seconds " + m.drains.map(d => f"${d.wallS}%.3f").mkString(" "))
      val metrics: Map[String, Double] =
        if (!o.trace) Map(
          "setup_s" -> Stats.median(setupS.toSeq),
          "load_s" -> Stats.median(loadS.toSeq),
          "step_p50_s" -> Stats.pct(walls, 50),
          "delta_rows_per_s" -> m.steps.map(_.rows).sum / walls.sum,
          "event_latency_p50_s" -> Stats.pct(m.eventLatencyS, 50),
          "drain_rows_per_s" -> Stats.median(m.drains.map(d => d.rows / d.wallS)),
          "peak_rss_mb" -> Stats.peakRssMb)
        else {
          val ids = m.steps.map(_.id).toSet
          val per = m.steps.map(s => s -> listener.get(s.id).getOrElse(new StepStats))
          def spark(f: (StepSample, StepStats) => Double) = Stats.mean(per.map(f.tupled))
          val self = tr.selfSeconds(ids.contains)
          val n = m.steps.length.toDouble
          val base = Map(
            "spark.jobs_per_step" -> spark((_, s) => s.jobs.toDouble),
            "spark.stages_per_step" -> spark((_, s) => s.stages.toDouble),
            "spark.tasks_per_step" -> spark((_, s) => s.tasks.toDouble),
            "spark.driver_gap_s_per_step" -> spark((st, s) => st.wallS - s.jobUnionMs / 1000.0),
            "spark.task_busy_s_per_step" -> spark((_, s) => s.taskBusyMs / 1000.0),
            "spark.shuffle_write_mb_per_step" -> spark((_, s) => s.shuffleWriteBytes / 1e6),
            "pinned.rdds_end" -> pinnedRdds.toDouble,
            "pinned.storage_mb_end" -> pinnedMb,
            "jvm.gc_s" -> gcS,
            "trace.step_p50_s" -> Stats.pct(walls, 50),
            "trace.spans" -> tr.count.toDouble) ++
            SpanMetric.map { case (span, metric) => metric -> self.getOrElse(span, 0.0) / n }
          val all = base ++ wl.layerFigures(m.steps) ++ m.layer
          perLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
        }
      val units = if (o.trace) perLayer else EndToEnd
      val conf = spark.conf.getAll.filter { case (k, _) =>
        (k.startsWith("spark.sql.") && !k.endsWith(".dir")) ||
          k == "spark.master" || k == "spark.serializer"
      }
      println("perfbench session " + Json.obj(conf.toSeq.sorted :+
        ("jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString)))
      println("perfbench params " + Json.obj(Seq("workload" -> o.workload,
        "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace, "scale" -> o.scale,
        "setups" -> Setups, "steps" -> m.steps.length, "drains" -> m.drains.length) ++
        wl.params))
      println("perfbench failures " + Json.obj(Seq("failed_frac" -> failed.toDouble / attempted,
        "attempted" -> attempted, "failed" -> failed,
        "check" -> mismatch.getOrElse("integrated output equals batch recompute"))))
      if (o.trace) {
        val out = Files.createDirectories(WorkDir.getParent.resolve("traces"))
          .resolve(s"${o.workload}-seed${o.seed}.jsonl")
        tr.write(out)
        println(s"perfbench trace $out")
      }
      println(Json.obj(Seq("correct" -> mismatch.isEmpty, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> ListMap(units.map { case (k, u) =>
          k -> ListMap("value" -> metrics(k), "unit" -> u)
        }: _*))))
      if (mismatch.isEmpty) 0 else 1
    } finally {
      if (wl != null) try wl.close() catch { case _: Throwable => () }
      if (gen != null) gen.close()
      if (spark != null) spark.stop()
      deleteTree(root)
    }
  }
}
