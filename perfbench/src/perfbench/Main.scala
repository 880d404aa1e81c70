package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ops.{Analytics, EventPipeline}
import graft.stream.Pipeline

/** JVM side of the streaming-pipeline benchmark.
  *
  * Drives the public streaming API from outside, over inputs the load
  * generator (gen.py) has staged under `--dir`, and writes everything it
  * observed to `--out` as JSON: per-stage timings, per-batch progress,
  * per-file commit times, sink/dead-letter/window observations and query
  * answers. run.py turns that into metrics and checks it against the
  * generator's expectations. With `--trace 1` it also records spans and
  * task metrics ([[Trace]]), runs the isolated layer actions and drains
  * the ingest input once more at `local[1]`.
  */
object Main {

  final case class Opts(workload: String, dir: String, out: String,
      seconds: Int, trace: Boolean, cores: Int)

  /** Processing-time trigger of the live workload's sinks. */
  private val LiveTriggerMs = 500L

  private var spark: SparkSession = _
  private var trace: Option[Trace] = None
  private var runDir: String = _
  private var seq = 0
  private val stages = scala.collection.mutable.Buffer.empty[Map[String, Any]]
  private var firstTimedMs = 0L

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("dir"), kv("out"), kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("cores").toInt)
    runDir = s"${o.dir}/run"
    spark = session(o.cores, o.dir)
    if (o.trace) {
      val t = new Trace(spark.sparkContext)
      spark.streams.addListener(t.listener)
      trace = Some(t)
    }
    val manifest = Json.parse(new String(Files.readAllBytes(Paths.get(o.dir, "manifest.json")), UTF_8))
      .asInstanceOf[Map[String, Any]]
    val sets = manifest("sets").asInstanceOf[Map[String, Map[String, Any]]]
    def set(name: String) = InputSet(name, s"${o.dir}/${sets(name)("dir")}",
      sets(name)("events").asInstanceOf[Number].longValue)

    val extra = scala.collection.mutable.Map.empty[String, Any]
    // each workload returns the staged backlog its ingest stage drains
    val ingestSet = o.workload match {
      case "ingest_backlog" =>
        val backlog = set("backlog"); val win = set("window")
        warm { ingest(set("warm")); queryRounds(2, set("warm"))
          ingest(backlog); queryRounds(1, backlog); window(win, 2) }
        // three rounds per drain: the first read of a fresh sink is slower,
        // and a third of the samples keeps the median off that boundary
        measure(o.seconds) { ingest(backlog); queryRounds(3, backlog) }
        probes(2) { window(win, 2) }
        backlog
      case "live_mixed" =>
        val warmSet = set("warm"); val win = set("window")
        warm { ingest(warmSet); queryRounds(2, warmSet)
          ingest(warmSet); queryRounds(1, warmSet); window(win, 2) }
        primaryPhase { live(set("live"), o) }
        probes(2) { window(win, 2) }
        warmSet
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    if (o.trace) layerActions(ingestSet, extra)
    val rt = Runtime.getRuntime
    val traceOut = trace.map { t =>
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      def withTasks(m: Map[String, Any]): Map[String, Any] = m.get("span") match {
        case Some(id: Long) if id > 0 => m + ("tasks" -> t.tasksOf(Set(id)).toMap)
        case _ => m
      }
      def results(key: String)(m: Map[String, Any]) = m.get(key) match {
        case Some(rs: Seq[_]) => m + (key -> rs.map(r => withTasks(r.asInstanceOf[Map[String, Any]])))
        case _ => m
      }
      stages.indices.foreach(i => stages(i) = results("client")(results("results")(withTasks(stages(i)))))
      extra.mapValuesInPlace { case (_, v: Map[_, _]) => withTasks(v.asInstanceOf[Map[String, Any]]); case (_, v) => v }
      Map("spans" -> t.dump, "tasks_total" -> t.snapshotTotal().toMap)
    }
    if (o.trace) singleCore(ingestSet, o, extra)
    val result = Map[String, Any](
      "first_timed_ms" -> firstTimedMs,
      "env" -> Map("cores" -> o.cores, "max_heap_mb" -> rt.maxMemory / (1 << 20),
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version")),
      "phase" -> phase,
      "stages" -> stages.toSeq,
      "extra" -> extra.toMap,
      "trace" -> traceOut.getOrElse(Map.empty))
    Files.write(Paths.get(o.out), Json.write(result).getBytes(UTF_8))
    spark.stop()
  }

  final case class InputSet(name: String, dir: String, events: Long)

  private def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.statefulOperator.allowMultiple", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // --- phases ---------------------------------------------------------------

  private var role = "warm"

  private def warm(body: => Unit): Unit = { role = "warm"; body; settle() }

  /** The measured part of the run: its wall time, heap peak and (traced)
    * the task totals of every job it ran. */
  private var phase: Map[String, Any] = Map.empty

  private def primaryPhase(body: => Unit): Unit = {
    role = "primary"
    resetHeapPeak()
    def tasks() = trace.map { t =>
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext); t.snapshotTotal()
    }
    val before = tasks()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val after = tasks()
    phase = Map("wall_s" -> wall, "heap_peak_mb" -> heapPeakMb(),
      "tasks" -> after.zip(before).map { case (a, b) => a.minus(b).toMap }.orNull)
  }

  /** Repeats `cycle` until `seconds` have passed (at least once). */
  private def measure(seconds: Int)(cycle: => Unit): Unit = {
    primaryPhase {
      firstTimedMs = System.currentTimeMillis()
      val end = System.nanoTime() + seconds * 1000000000L
      do cycle while (System.nanoTime() < end)
    }
    settle()
  }

  private def probes(n: Int)(body: => Unit): Unit = {
    role = "probe"
    (1 to n).foreach(_ => body)
    settle()
  }

  private def newDir(tag: String): String = {
    seq += 1
    val d = s"$runDir/$tag-$seq"
    new File(d).mkdirs()
    d
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  private def traced[T](name: String, layer: String, parent: Long = 0)(body: Long => T): T =
    trace match {
      case Some(t) => t.span(name, layer, parent)(body)
      case None => body(0)
    }

  private var lastSink: String = _

  /** Drains whose sink and dead letters are still to be read back (stage
    * index, or -1 when not recorded, and directory). Reading them is
    * deferred to the end of a phase so it stays out of the timed loop. */
  private val unsettled = scala.collection.mutable.Buffer.empty[(Int, String)]

  private def settle(): Unit = {
    unsettled.foreach { case (i, d) =>
      if (i >= 0) stages(i) = stages(i) ++ Map("sink" -> observeSink(s"$d/sink"),
        "dlq" -> observeDlq(s"$d/dlq")) ++ sinkFiles(s"$d/sink")
      deleteTree(d)
    }
    unsettled.clear()
  }

  private def err(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  /** K1 + K4 over one staged backlog, drained with AvailableNow. */
  private def ingest(in: InputSet, record: Boolean = true): Map[String, Any] = {
    val d = newDir(s"ingest-${in.name}")
    val sink = s"$d/sink"; val dlq = s"$d/dlq"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var error: Option[String] = None
    val (q1, q4, span) = traced(s"ingest.${in.name}", "stream.query") { span =>
      val raw = Pipeline.fromTextDir(spark, in.dir)
      val q1 = Pipeline.startSink(Pipeline.process(raw), sink, s"$d/ck1", Trigger.AvailableNow())
      val q4 = Pipeline.startDeadLetterSink(raw, dlq, s"$d/ck4", trigger = Trigger.AvailableNow())
      trace.foreach { t => t.bindRun(q1.runId.toString, span); t.bindRun(q4.runId.toString, span) }
      Seq(q1, q4).foreach(q => try q.awaitTermination() catch {
        case NonFatal(e) => error = Some(err(e))
      })
      trace.foreach { t =>
        t.batchSpans(span, q1.runId.toString, "k1"); t.batchSpans(span, q4.runId.toString, "k4")
      }
      (q1, q4, span)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val stage = Map[String, Any]("kind" -> "ingest", "role" -> role,
      "set" -> in.name, "events" -> in.events, "start_ms" -> startMs, "wall_s" -> wall,
      "span" -> span, "batches" -> batches(q1), "dlq_batches" -> batches(q4),
      "file_commit_ms" -> fileCommits(s"$d/ck1", q1), "error" -> error.orNull)
    if (record) stages += stage
    unsettled += ((if (record) stages.size - 1 else -1, d))
    lastSink = sink
    stage
  }

  /** process → dedupStream → windowedCounts over a staged backlog, in
    * micro-batches of `filesPerTrigger` files, into a memory sink. */
  private def window(in: InputSet, filesPerTrigger: Int): Unit = {
    val d = newDir(s"window-${in.name}")
    val name = s"win_$seq"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var error: Option[String] = None
    val (q, span) = traced(s"window.${in.name}", "stream.query") { span =>
      val raw = spark.readStream.format("text").option("maxFilesPerTrigger", filesPerTrigger.toLong)
        .load(in.dir)
      val out = Pipeline.windowedCounts(Pipeline.dedupStream(Pipeline.process(raw)))
      val q = out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$d/ck").trigger(Trigger.AvailableNow()).start()
      trace.foreach(_.bindRun(q.runId.toString, span))
      try q.awaitTermination() catch { case NonFatal(e) => error = Some(err(e)) }
      trace.foreach(_.batchSpans(span, q.runId.toString, "win"))
      (q, span)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val rows = try spark.table(name).collect().toSeq.map(r => Seq(
        micros(r.getTimestamp(0)), r.getString(2), r.getLong(3), r.getDouble(4)))
      catch { case NonFatal(e) => error = error.orElse(Some(err(e))); Seq.empty }
    spark.catalog.dropTempView(name)
    stages += Map("kind" -> "window", "role" -> role, "set" -> in.name,
      "events" -> in.events, "start_ms" -> startMs, "wall_s" -> wall, "span" -> span,
      "batches" -> batches(q),
      "file_commit_ms" -> fileCommits(s"$d/ck", q), "rows" -> rows, "error" -> error.orNull)
    deleteTree(d)
  }

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  // --- query plane ----------------------------------------------------------

  /** The sink's columns in the shape the Analytics reference queries read. */
  private def analyticsView(sink: String): DataFrame =
    spark.read.parquet(sink).select(col("id").as("event_id"), col("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("message").as("props"))

  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "eventSummary" -> Analytics.eventSummary,
    "verificationCount" -> Analytics.verificationCount,
    "healthCheck" -> Analytics.healthCheck,
    "dashboardMetrics" -> Analytics.dashboardMetrics,
    "recentEvents" -> (df => Analytics.recentEvents(df, 100)))

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Runs one reference query; answer rows only when `keepRows`. */
  private def runQuery(sink: String, name: String, f: DataFrame => DataFrame,
      keepRows: Boolean): Map[String, Any] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    traced(s"query.$name", "analytics") { span =>
      try {
        val df = f(analyticsView(sink))
        val rows = df.collect()
        val lat = (System.nanoTime() - t0) / 1e6
        val scan = if (trace.isEmpty) Map.empty[String, Any] else {
          val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
          val scans = Plans.collect(plan) { case s: org.apache.spark.sql.execution.DataSourceScanExec => s }
          def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
          Map("scan_files" -> m("numFiles"), "scan_rows" -> m("numOutputRows"), "span" -> span)
        }
        Map("name" -> name, "start_ms" -> startMs, "lat_ms" -> lat, "error" -> null,
          "rows" -> (if (keepRows) rows.toSeq.map(rowJson) else null)) ++ scan
      } catch {
        case NonFatal(e) => Map("name" -> name, "start_ms" -> startMs,
          "lat_ms" -> (System.nanoTime() - t0) / 1e6, "error" -> err(e), "rows" -> null)
      }
    }
  }

  private def rowJson(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.sql.Timestamp => micros(t)
    case d: java.math.BigDecimal => d.doubleValue
    case v => v
  }

  /** `n` query rounds over the sink of the last drain of `in`. */
  private def queryRounds(n: Int, in: InputSet): Unit =
    (1 to n).foreach(_ => queryRound(lastSink, in))

  /** One closed-loop pass over the five queries against a drained sink. */
  private def queryRound(sink: String, in: InputSet): Unit = {
    val t0 = System.nanoTime()
    val results = queries.map { case (n, f) => runQuery(sink, n, f, keepRows = true) }
    stages += Map("kind" -> "queries", "role" -> role, "set" -> in.name,
      "wall_s" -> (System.nanoTime() - t0) / 1e9, "results" -> results)
  }

  // --- live ---------------------------------------------------------------

  /** Open-loop ingest: gen.py renames files in on its own schedule while
    * K1 + K4 run on a processing-time trigger and one closed-loop client
    * cycles the five queries over the growing sink. */
  private def live(in: InputSet, o: Opts): Unit = {
    val d = newDir("live")
    val sink = s"$d/sink"; val dlq = s"$d/dlq"
    val trig = Trigger.ProcessingTime(LiveTriggerMs)
    var error: Option[String] = None
    val period = o.seconds * 1000L
    traced("live", "stream.query") { span =>
      val raw = Pipeline.fromTextDir(spark, in.dir)
      val q1 = Pipeline.startSink(Pipeline.process(raw), sink, s"$d/ck1", trig)
      val q4 = Pipeline.startDeadLetterSink(raw, dlq, s"$d/ck4", trigger = trig)
      trace.foreach { t => t.bindRun(q1.runId.toString, span); t.bindRun(q4.runId.toString, span) }
      val goMs = System.currentTimeMillis() + 300
      firstTimedMs = goMs
      val tmp = Paths.get(o.dir, "go.tmp")
      Files.write(tmp, goMs.toString.getBytes(UTF_8))
      Files.move(tmp, Paths.get(o.dir, "go"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val endMs = goMs + period
      @volatile var stop = false
      val client = scala.collection.mutable.Buffer.empty[Map[String, Any]]
      val clientThread = new Thread(() => {
        val meta = new File(s"$sink/_spark_metadata")
        while (!stop && !Option(meta.list()).exists(_.exists(_.head.isDigit))) Thread.sleep(10)
        var i = 0
        while (!stop) {
          val (n, f) = queries(i % queries.size)
          val r = runQuery(sink, n, f, keepRows = false)
          client.synchronized(client += r)
          i += 1
        }
      }, "query-client")
      clientThread.start()
      while (System.currentTimeMillis() < endMs) Thread.sleep(20)
      stop = true
      clientThread.join()
      // all renames done: drain what is left, then stop
      val log = Paths.get(o.dir, "live_log.json")
      val waitUntil = System.currentTimeMillis() + 30000
      while (!Files.exists(log) && System.currentTimeMillis() < waitUntil) Thread.sleep(20)
      Seq(q1, q4).foreach { q =>
        try q.processAllAvailable() catch { case NonFatal(e) => error = Some(err(e)) }
        q.stop()
      }
      trace.foreach { t =>
        t.batchSpans(span, q1.runId.toString, "k1"); t.batchSpans(span, q4.runId.toString, "k4")
      }
      stages += (Map[String, Any]("kind" -> "live", "role" -> "primary",
        "set" -> in.name, "events" -> in.events, "go_ms" -> goMs, "end_ms" -> endMs,
        "trigger_ms" -> LiveTriggerMs, "span" -> span, "batches" -> batches(q1), "dlq_batches" -> batches(q4),
        "file_commit_ms" -> fileCommits(s"$d/ck1", q1), "client" -> client.toSeq,
        "error" -> error.orNull, "sink" -> observeSink(sink), "dlq" -> observeDlq(dlq))
        ++ sinkFiles(sink))
    }
    // final answers once ingest has stopped
    role = "final"
    queryRound(sink, in)
    deleteTree(d)
  }

  // --- observations --------------------------------------------------------

  private def batches(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map(progressJson)

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "durations" -> d,
      "state" -> Map(
        "rows_total" -> ops.map(_.numRowsTotal).sum,
        "memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "rows_removed" -> ops.map(_.numRowsRemoved).sum,
        "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "commit_ms" -> ops.map(_.commitTimeMs).sum))
  }

  private val SourceEntry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** Per input file: end of the sink batch that committed it (epoch ms),
    * joining the source's file log in the checkpoint with the batch
    * progress of the query. */
  private def fileCommits(checkpoint: String, q: StreamingQuery): Map[String, Long] = {
    val ends = q.recentProgress.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))).toMap
    val logDir = new File(s"$checkpoint/sources/0")
    Option(logDir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .collect { case SourceEntry(path, batch) =>
        path.substring(path.lastIndexOf('/') + 1) -> batch.toLong }
      .flatMap { case (file, b) => ends.get(b).map(file -> _) }
      .toMap
  }

  private def observeSink(sink: String): Map[String, Any] =
    try {
      val r = spark.read.parquet(sink)
        .agg(count(lit(1)), sum(crc32(col("id").cast("binary"))))
        .head()
      Map("rows" -> r.getLong(0), "id_crc_sum" -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
    } catch { case NonFatal(e) => Map("error" -> err(e)) }

  private def observeDlq(dlq: String): Map[String, Any] =
    try spark.read.parquet(dlq).groupBy("reject_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    catch { case NonFatal(e) => Map("error" -> err(e)) }

  private def sinkFiles(sink: String): Map[String, Any] = {
    val files = Option(new File(sink)).filter(_.exists).toSeq.flatMap(f =>
      Files.walk(f.toPath).iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
          !p.toString.contains("_spark_metadata")).toSeq)
    Map("sink_files" -> files.size, "sink_bytes" -> files.map(Files.size(_)).sum)
  }

  // --- traced-run extras ---------------------------------------------------

  /** Each layer on its own over the same staged input: the parse chain
    * and the dead-letter split into a no-op sink, and the partitioned
    * parquet write of an already parsed frame. */
  private def layerActions(in: InputSet, extra: scala.collection.mutable.Map[String, Any]): Unit = {
    role = "isolated"
    def timed(name: String, layer: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val span = traced(name, layer) { s => body; s }
      extra(name) = Map("busy_s" -> (System.nanoTime() - t0) / 1e9, "span" -> span)
    }
    val raw = spark.read.text(in.dir)
    timed("isolated.pipeline", "isolated.pipeline") {
      EventPipeline.fromRawJson(raw).write.format("noop").mode("overwrite").save()
    }
    timed("isolated.dlq", "isolated.dlq") {
      EventPipeline.deadLetter(raw).write.format("noop").mode("overwrite").save()
    }
    val parsed = EventPipeline.fromRawJson(raw)
      .withColumn("event_date", to_date(col("timestamp"))).persist()
    parsed.count()
    val d = newDir("isolated-sink")
    timed("isolated.sink", "isolated.sink") {
      parsed.write.partitionBy("event_date").parquet(s"$d/out")
    }
    parsed.unpersist()
    extra("isolated.events") = in.events
    deleteTree(d)
  }

  /** The ingest drain once more on a fresh `local[1]` session. */
  private def singleCore(in: InputSet, o: Opts, extra: scala.collection.mutable.Map[String, Any]): Unit = {
    spark.stop()
    spark = session(1, o.dir)
    trace = None
    role = "single_core"
    val s = ingest(in, record = false)
    settle()
    extra("single_core") = Map("events" -> s("events"), "wall_s" -> s("wall_s"),
      "error" -> s("error"))
  }

  // --- jvm ------------------------------------------------------------------

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
