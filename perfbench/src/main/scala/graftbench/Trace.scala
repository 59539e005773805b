package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The engine's layers, named after its modules. */
object Layers {
  val All: Seq[String] = Seq("sources", "ingest", "dedup",
    "vector_index.write", "vector_index.probe", "inverted_index.probe",
    "scatter", "sql", "streaming")

  /** The layers that write storage; only they report `output_bytes`. */
  val Writers: Set[String] = Set("vector_index.write", "streaming")

  /** Per-path probe latencies reported on their own. */
  val Paths: Seq[(String, String)] = Seq(
    "vector_index.probe" -> "approx", "vector_index.probe" -> "approx_filter",
    "vector_index.probe" -> "knn_join", "vector_index.probe" -> "fetch",
    "inverted_index.probe" -> "bm25", "scatter" -> "many_approx",
    "scatter" -> "knn_join_sharded", "scatter" -> "bm25_sharded",
    "sql" -> "knn", "sql" -> "hybrid")
}

/** Wraps every benchmark call into a layer. The untraced form does
  * nothing but run the call. */
trait Tracing {
  def apply[A](layer: String, path: String)(f: => A): A
  /** Records a named side measurement (e.g. SQL analysis time). */
  def note(name: String, value: Double): Unit
}

object NoTrace extends Tracing {
  def apply[A](layer: String, path: String)(f: => A): A = f
  def note(name: String, value: Double): Unit = ()
}

/** One call into a layer, as the benchmark saw it. */
final class Span(val id: Long, val layer: String, val path: String) {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  var endMs: Long = startMs
  var durMs: Double = 0.0
  var ok = true
  val fsOps = new LongAdder
  def close(succeeded: Boolean): Unit = {
    durMs = (System.nanoTime() - t0) / 1e6
    endMs = System.currentTimeMillis()
    ok = succeeded
  }
}

/** Per-layer tracing from outside the engine. Each span runs under its
  * own Spark job group, which the engine's scatter threads inherit
  * (`Par` creates its pool per call). A listener files every job, with
  * its tasks' metrics, under the span whose group it ran in; jobs of a
  * streaming query carry `sql.streaming.queryId` instead and are filed
  * under the streaming span open when they started. Filesystem
  * metadata operations are counted by [[CountingLocalFileSystem]] and
  * attributed the same way. Spans stay in memory until [[report]]. */
final class Tracer(spark: SparkSession) extends SparkListener with Tracing {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  @volatile private var active: Span = null
  private val notes = ArrayBuffer.empty[(String, Double)]

  private final class JobRec(val group: String, val streaming: Boolean, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
  }
  // written by the listener thread only; read after `drain`
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val triggerMs = ArrayBuffer.empty[Double] // triggers that read rows
  private val progress = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        Option(p.durationMs.get("triggerExecution")).foreach(t => triggerMs += t.doubleValue)
    }
  }

  sc.addSparkListener(this)
  spark.streams.addListener(progress)
  CountingLocalFileSystem.tracer = this

  def apply[A](layer: String, path: String)(f: => A): A = {
    val s = new Span(spans.length.toLong, layer, path)
    spans += s
    byId.put(s.id, s)
    val prev = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(GroupPrefix + s.id, s"$layer/$path", interruptOnCancel = false)
    active = s
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      s.close(ok)
      active = null
      if (prev == null) sc.clearJobGroup() else sc.setLocalProperty(GroupKey, prev)
    }
  }

  def note(name: String, value: Double): Unit = notes += ((name, value))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(GroupKey))).orNull
    val streaming = props.exists(_.getProperty(QueryIdKey) != null)
    jobs(e.jobId) = new JobRec(group, streaming, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.inBytes += m.inputMetrics.bytesRead
      r.outBytes += m.outputMetrics.bytesWritten
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }

  /** Called on every counted filesystem metadata operation, from
    * whichever thread performs it. */
  private[graftbench] def fsOp(): Unit = {
    val tc = TaskContext.get()
    def prop(k: String): String =
      if (tc != null) tc.getLocalProperty(k) else sc.getLocalProperty(k)
    val g = prop(GroupKey)
    val span =
      if (g != null && g.startsWith(GroupPrefix)) byId.get(g.drop(GroupPrefix.length).toLong)
      else if (prop(QueryIdKey) != null) { val a = active
        if (a != null && a.layer == "streaming") a else null }
      else null
    if (span != null) span.fsOps.increment()
  }

  private def spanOf(r: JobRec): Option[Span] =
    if (r.group != null && r.group.startsWith(GroupPrefix))
      Option(byId.get(r.group.drop(GroupPrefix.length).toLong))
    else if (r.streaming)
      spans.find(s => s.layer == "streaming" && s.startMs <= r.startMs && r.startMs <= s.endMs)
    else None

  /** Wall time inside `s` with none of its jobs running. */
  private def driverGapMs(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var upTo = s.startMs
    iv.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    math.max(0.0, s.durMs - covered)
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(sc)

  /** Stops attributing: spans opened from here on are not counted. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.streams.removeListener(progress)
    CountingLocalFileSystem.tracer = null
  }

  /** Every per-layer metric over the spans recorded so far. */
  def report(overheadFrac: Double): Map[String, Metric] = {
    drain()
    val window = spans.toSeq
    val jobsBySpan = jobs.values.toSeq.flatMap(r => spanOf(r).map(_ -> r))
      .groupBy(_._1.id).map { case (id, xs) => id -> xs.map(_._2) }
    def js(s: Span) = jobsBySpan.getOrElse(s.id, Nil)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    Layers.All.foreach { layer =>
      val ss = window.filter(_.layer == layer)
      val jr = ss.flatMap(js)
      def put(name: String, v: Double, unit: String): Unit =
        out(s"$layer.$name") = Metric(v, unit)
      put("calls", ss.length, "count")
      put("wall_s", ss.map(_.durMs).sum / 1e3, "s")
      put("p50_ms", if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durMs)), "ms")
      put("jobs", jr.length, "count")
      put("tasks", jr.map(_.tasks).sum.toDouble, "count")
      put("task_cpu_s", jr.map(_.cpuNs).sum / 1e9, "s")
      put("input_bytes", jr.map(_.inBytes).sum.toDouble, "bytes")
      if (Layers.Writers(layer)) put("output_bytes", jr.map(_.outBytes).sum.toDouble, "bytes")
      put("shuffle_write_bytes", jr.map(_.shuffleWrite).sum.toDouble, "bytes")
      put("shuffle_read_bytes", jr.map(_.shuffleRead).sum.toDouble, "bytes")
      put("driver_gap_s", ss.map(s => driverGapMs(s, js(s))).sum / 1e3, "s")
      put("fs_meta_ops", ss.map(_.fsOps.sum()).sum.toDouble, "count")
      put("failed", ss.count(!_.ok).toDouble, "count")
    }
    Layers.Paths.foreach { case (layer, path) =>
      val d = window.filter(s => s.layer == layer && s.path == path).map(_.durMs)
      out(s"$layer.$path.p50_ms") = Metric(if (d.isEmpty) 0.0 else Stats.median(d), "ms")
    }
    def noted(name: String) = { val v = notes.collect { case (`name`, x) => x }.toSeq
      if (v.isEmpty) 0.0 else Stats.median(v) }
    out("sql.analysis_ms") = Metric(noted("sql.analysis_ms"), "ms")
    val batches = window.filter(_.layer == "streaming")
    out("streaming.jobs_per_batch") = Metric(
      if (batches.isEmpty) 0.0 else batches.map(js(_).length).sum.toDouble / batches.length, "count")
    out("streaming.trigger_ms") = Metric(
      if (triggerMs.isEmpty) 0.0 else Stats.median(triggerMs.toSeq), "ms")
    out("vector_index.write.files_per_commit") =
      Metric(noted("vector_index.write.files_per_commit"), "count")
    out("trace.overhead_frac") = Metric(overheadFrac, "ratio")
    out.toMap
  }

  /** Span records for the run's trace file, one JSON object per line. */
  def spanLines: Seq[String] = spans.toSeq.map(s =>
    Json.obj(Seq("id" -> s.id, "layer" -> s.layer, "path" -> s.path,
      "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "ok" -> s.ok,
      "fs_meta_ops" -> s.fsOps.sum())))
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val QueryIdKey = "sql.streaming.queryId"
  val GroupPrefix = "perfbench:"
}

final case class Metric(value: Double, unit: String)
