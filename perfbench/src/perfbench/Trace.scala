package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Task metric totals of a set of tasks. */
final class Tasks {
  var cpuNs, runMs, gcMs, shuffleWrite, fetchWaitMs, inBytes, inRecords,
      outBytes, tasks = 0L
  def add(o: Tasks): Unit = {
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; fetchWaitMs += o.fetchWaitMs
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
    tasks += o.tasks
  }
  def minus(o: Tasks): Tasks = {
    val t = new Tasks
    t.cpuNs = cpuNs - o.cpuNs; t.runMs = runMs - o.runMs; t.gcMs = gcMs - o.gcMs
    t.shuffleWrite = shuffleWrite - o.shuffleWrite; t.fetchWaitMs = fetchWaitMs - o.fetchWaitMs
    t.inBytes = inBytes - o.inBytes; t.inRecords = inRecords - o.inRecords
    t.outBytes = outBytes - o.outBytes; t.tasks = tasks - o.tasks
    t
  }
  def toMap: Map[String, Any] = Map("cpu_ns" -> cpuNs, "run_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "fetch_wait_ms" -> fetchWaitMs, "input_bytes" -> inBytes,
    "input_records" -> inRecords, "output_bytes" -> outBytes, "tasks" -> tasks)
}

/** In-memory spans plus task metrics per span, for the traced run only.
  *
  * A span is opened around each call the benchmark makes into a layer.
  * Jobs a span starts carry its id as their job group, so the task
  * metrics a [[SparkListener]] sees are charged to that span; streaming
  * queries tag their own jobs with their run id, which the benchmark maps
  * to the span of the drain that started them. Per-batch child spans come
  * from [[StreamingQueryProgress]] after the query ends. Nothing is
  * written until [[Trace.dump]].
  */
final class Trace(sc: SparkContext) {

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      startNs: Long, endNs: Long)

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Task totals keyed by job group (span id, or a streaming run id). */
  private val byGroup = mutable.Map.empty[String, Tasks]
  private val stageGroup = mutable.Map.empty[Int, String]
  val total = new Tasks

  private val groupSpan = mutable.Map.empty[String, Long]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      Trace.this.synchronized(e.stageInfos.foreach(s => stageGroup(s.stageId) = g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val t = new Tasks
      t.cpuNs = m.executorCpuTime; t.runMs = m.executorRunTime; t.gcMs = m.jvmGCTime
      t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      t.inBytes = m.inputMetrics.bytesRead; t.inRecords = m.inputMetrics.recordsRead
      t.outBytes = m.outputMetrics.bytesWritten; t.tasks = 1
      Trace.this.synchronized {
        total.add(t)
        byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Tasks).add(t)
      }
    }
  })

  /** Progress events as they arrive, by streaming run id. */
  private val progress = mutable.Map.empty[String, mutable.Buffer[StreamingQueryProgress]]
  val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized(
        progress.getOrElseUpdate(e.progress.runId.toString, mutable.Buffer.empty) += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def record(id: Long, parent: Long, name: String, layer: String,
      startNs: Long, endNs: Long): Unit =
    spans.add(Span(id, parent, name, layer, startNs, endNs))

  /** Runs `body` as a span whose jobs are charged to it. */
  def span[T](name: String, layer: String, parent: Long = 0)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val start = System.nanoTime()
    sc.setJobGroup(id.toString, name)
    try body(id)
    finally {
      sc.clearJobGroup()
      record(id, parent, name, layer, start, System.nanoTime())
    }
  }

  /** Charges a streaming query's jobs (tagged with its run id) to `span`. */
  def bindRun(runId: String, span: Long): Unit = synchronized(groupSpan(runId) = span)

  /** Per-batch spans of one streaming query under `parent`, laid out in
    * the trigger's own order: offsets, WAL, batch, planning, sink, commit.
    */
  def batchSpans(parent: Long, runId: String, label: String): Unit = {
    val ps = synchronized(progress.getOrElse(runId, mutable.Buffer.empty).toList)
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val startNs = toNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = nextId.getAndIncrement()
      record(id, parent, s"$label.batch${p.batchId}", "stream.batch", startNs,
        startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = startNs
      Seq("latestOffset" -> "stream.source", "walCommit" -> "stream.commit",
          "getBatch" -> "stream.source", "queryPlanning" -> "stream.plan",
          "addBatch" -> "stream.sink", "commitOffsets" -> "stream.commit")
        .foreach { case (k, layer) =>
          val ms = d.getOrElse(k, 0L)
          if (ms > 0) {
            record(nextId.getAndIncrement(), id, s"$label.$k", layer, at, at + ms * 1000000L)
            at += ms * 1000000L
          }
        }
    }
  }

  private def toNs(epochMs: Long): Long = t0Ns + (epochMs - t0Ms) * 1000000L

  /** Task totals charged to the given span ids (directly or via bound runs). */
  def tasksOf(spanIds: Set[Long]): Tasks = synchronized {
    val t = new Tasks
    byGroup.foreach { case (g, v) =>
      val s = groupSpan.getOrElse(g, g.toLongOption.getOrElse(-1L))
      if (spanIds.contains(s)) t.add(v)
    }
    t
  }

  def snapshotTotal(): Tasks = synchronized { val t = new Tasks; t.add(total); t }

  def dump: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> (s.startNs - t0Ns) / 1000, "end_us" -> (s.endNs - t0Ns) / 1000))
}
