package perfbench

import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.{StreamOps, UpsertCmd}

/** stream-upsert: the per-trigger floor. A file-source stream of upsert
  * commands feeds StreamOps.upsertDeltas and a foreachBatch sink that
  * integrates the emitted −old/+new deltas. Open loop: the generator drops
  * a command file every `periodMs` whatever the engine does, and each
  * command's latency runs from the moment its file was due to the end of
  * the micro-batch that emitted its delta. Drains then drop a backlog of
  * files at once. No KeyedState runs here. */
final class StreamUpsert(ctx: Ctx) extends Workload {
  import ctx._
  import StreamUpsert._

  private val keys = scaled(20000, 200)
  private val perFile = scaled(1000, 20)
  private val periodMs = 800
  private val backlogFiles = 20
  private val drains = 4
  private val warmFiles = 3

  def params: Seq[(String, Any)] = Seq("keys" -> keys, "commands_per_file" -> perFile,
    "period_ms" -> periodMs, "delete_frac" -> DeleteFrac,
    "backlog_files" -> backlogFiles, "drains" -> drains)

  private val srcDir = workDir.resolve("commands")
  private val stageDir = workDir.resolve("staging")
  private val ckDir = workDir.resolve("checkpoint")

  // generator side
  private var seq = 0L
  private var fileNo = 0
  /** file name → (due time ns, rows); filled on the generator thread. */
  private val due = new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

  private def cmdLine(key: Long, delete: Boolean): String = {
    seq += 1
    s"$key,${gen.rng.nextInt(1000000)},$seq,$delete"
  }

  /** Writes command files into the staging directory, then renames them
    * into the source directory together; returns their names. */
  private def drop(files: Seq[Seq[String]], dueNs: Long): Seq[String] = {
    val staged = files.map { lines =>
      fileNo += 1
      val name = f"cmd-$fileNo%08d.csv"
      Files.write(stageDir.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      due.put(name, (dueNs, lines.length))
      name
    }
    staged.foreach(n => Files.move(stageDir.resolve(n), srcDir.resolve(n),
      StandardCopyOption.ATOMIC_MOVE))
    staged
  }

  private def randomFile(): Seq[String] = Seq.fill(perFile) {
    cmdLine(1L + gen.rng.nextInt(keys), gen.rng.nextDouble() < DeleteFrac)
  }

  // main side
  private val acc = new ZAcc
  /** batch id → time its sink call returned, written by the sink. */
  private val batchEnd = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private var query: StreamingQuery = _

  def setup(): Unit = {
    Seq(srcDir, stageDir).foreach(Files.createDirectories(_))
    // the seed snapshot: every key once
    gen.run(drop(Seq((1 to keys).map(k => cmdLine(k.toLong, delete = false))), System.nanoTime()))
  }

  def load(): Unit = {
    import spark.implicits._
    val cmds = spark.readStream.schema(CmdSchema).csv(srcDir.toString).as[UpsertCmd]
    query = StreamOps.upsertDeltas(cmds).toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        acc.synchronized(acc.addRows(b.select("key", "value", "weight").collect()))
        batchEnd.put(id, System.nanoTime())
        ()
      }
      .option("checkpointLocation", ckDir.toString)
      .start()
    query.processAllAvailable()
  }

  def warmup(): Unit = {
    gen.run(drop(Seq.fill(warmFiles)(randomFile()), System.nanoTime()))
    query.processAllAvailable()
  }

  /** Command file name → end time of the micro-batch that read it, from
    * the file source's own log in the checkpoint (one JSON entry per file,
    * carrying its batch id; compacted logs repeat earlier entries). */
  private def fileEnds(): Map[String, Long] = {
    val entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    val logs = Files.list(ckDir.resolve("sources").resolve("0"))
    try logs.iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case entry(name, id) if batchEnd.containsKey(id.toLong) =>
        name -> batchEnd.get(id.toLong) }
      .toMap
    finally logs.close()
  }

  private def lastBatch: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

  def measure(seconds: Double): Measured = {
    val before = lastBatch
    val n = math.max(1, (seconds * 1000 / periodMs).toInt)
    val t0 = System.nanoTime() + 50000000L
    val lag = ArrayBuffer[Double]()
    val written = gen.run {
      (0 until n).flatMap { i =>
        val dueNs = t0 + i * periodMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val lines = randomFile()
        val names = drop(Seq(lines), dueNs)
        lag += (System.nanoTime() - dueNs) / 1e9
        names
      }
    }
    val loopEnd = System.nanoTime()
    query.processAllAvailable()
    val after = lastBatch
    // recentProgress is updated before processAllAvailable returns (a
    // listener may not have seen the last trigger yet)
    val prog = query.recentProgress.toSeq
      .filter(p => p.batchId > before && p.batchId <= after && p.numInputRows > 0)
    val steps = prog.map(p => StepSample(s"b${p.batchId}",
      p.durationMs.get("triggerExecution").toDouble / 1000.0, p.numInputRows))
    val endOf = fileEnds()
    val lat = written.flatMap { f =>
      val (d, rows) = due.get(f)
      Seq.fill(rows)((endOf(f) - d) / 1e9)
    }
    val backlogEnd = written.filter(f => endOf(f) > loopEnd).map(f => due.get(f)._2).sum
    val drained = (0 until drains).map { k =>
      val (names, dropNs) = gen.run {
        val files = Seq.fill(backlogFiles)(randomFile())
        val t = System.nanoTime()
        (drop(files, t), t)
      }
      query.processAllAvailable()
      val endOf = fileEnds()
      StepSample(s"d$k", (names.map(endOf).max - dropNs) / 1e9,
        names.map(due.get(_)._2).sum.toLong)
    }
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
    def meanOf(f: StreamingQueryProgress => Double): Double = Stats.mean(prog.map(f))
    val layer = Map(
      "streaming.planning_s" -> meanOf(dur(_, "queryPlanning")),
      "streaming.offsets_s" -> meanOf(p => dur(p, "latestOffset") + dur(p, "getBatch")),
      "streaming.walcommit_s" -> meanOf(dur(_, "walCommit")),
      "streaming.commit_s" -> meanOf(dur(_, "commitOffsets")),
      "streaming.addbatch_s" -> meanOf(dur(_, "addBatch")),
      "streaming.rows_per_trigger" -> meanOf(_.numInputRows.toDouble),
      "streaming.triggers" -> prog.length.toDouble,
      "streaming.generator_lag_s" -> Stats.mean(lag),
      "streaming.backlog_rows_end" -> backlogEnd.toDouble,
      "streaming.state_rows" -> prog.lastOption
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0))
    Measured(steps, drained, lat, layer)
  }

  def verify(corrupt: Boolean): Option[String] = {
    query.stop()
    val batch = spark.read.schema(CmdSchema).csv(srcDir.toString)
      .withColumn("rn", row_number().over(Window.partitionBy("key").orderBy(desc("seq"))))
      .where(col("rn") === 1 && !col("delete"))
      .select("key", "value").collect()
    if (corrupt) acc.m.remove(acc.m.head._1)
    ZAcc.diff(acc, batch)
  }

  def close(): Unit = if (query != null) query.stop()
}

object StreamUpsert {
  val DeleteFrac = 0.1
  val CmdSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("delete", BooleanType, nullable = false)))
}
