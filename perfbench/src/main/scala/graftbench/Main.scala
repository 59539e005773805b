package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR [--out DIR]`. Prints an environment record, one line per
  * metric, and as its last line the JSON result. With `--trace 1` the
  * run measures untraced, then sets up again and measures traced, and
  * reports per-layer metrics plus the tracing overhead. */
object Main {
  val SetupReps = 3

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Host CPU seconds stolen by the hypervisor so far (Linux), or -1. */
  def stealSeconds(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
  } catch { case _: Exception => -1.0 }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use after full collections, repeated until it stops
    * falling: Spark's cleaner frees cached blocks only once the first
    * collection has released the references to them. */
  def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var i = 0
    var falling = true
    while (falling && i < 8) {
      Thread.sleep(250)
      val now = used()
      falling = now < last - (1L << 20)
      last = math.min(last, now)
      i += 1
    }
    last / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    require(Workloads.Names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val load0 = loadAvg()
    val steal0 = stealSeconds()
    val spark = Session.create(work,
      if (trace) Map("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName)
      else Map.empty)
    val gen = new Gen(seed)
    val wl = Workloads(name, new Ctx(spark, gen, work))
    val res = new Results

    val setupTimes = ArrayBuffer.empty[Double]
    var digest = ""
    var state: wl.State = null.asInstanceOf[wl.State]
    (0 until SetupReps).foreach { rep =>
      if (state != null) wl.discard(state)
      val t0 = System.nanoTime()
      state = wl.setup(NoTrace, res)
      setupTimes += Workloads.elapsed(t0)
      if (rep == 0) digest = gen.digest
    }
    wl.prepare(state)
    val tWarm = System.nanoTime()
    wl.warmUp(state)
    val tMeasure = System.nanoTime()
    wl.measure(state, NoTrace, seconds, res)
    val tFinish = System.nanoTime()
    // ends the measured state (and its stream) before a traced phase
    // starts, so nothing of it runs beside the traced calls
    wl.finish(state, res)
    val phases = ArrayBuffer("warmup_s" -> (tMeasure - tWarm) / 1e9,
      "measure_s" -> (tFinish - tMeasure) / 1e9, "finish_s" -> Workloads.elapsed(tFinish))

    var layers = Map.empty[String, Metric]
    var failedB, attemptedB = 0
    if (trace) {
      val tracer = new Tracer(spark)
      val resB = new Results
      val tB = System.nanoTime()
      val stB = wl.setup(tracer, resB)
      wl.prepare(stB)
      wl.warmUp(stB)
      wl.measure(stB, tracer, seconds, resB)
      wl.finish(stB, resB)
      phases += "traced_s" -> Workloads.elapsed(tB)
      val a = wl.primary(res)
      val b = wl.primary(resB)
      val overhead = if (a.isEmpty || b.isEmpty) 0.0 else Stats.median(b) / Stats.median(a) - 1.0
      layers = tracer.report(overhead)
      tracer.detach()
      opts.get("out").foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spans-$name-$seed.jsonl"),
          tracer.spanLines.asJava)
      }
      failedB = resB.failed
      attemptedB = resB.attempted
    }
    val heapMb = retainedHeapMb()

    val probes = res.probes.latencies
    val batches = res.batches.latencies
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.hdQuantile(xs, p)
    val attempted = res.attempted + attemptedB
    val failed = res.failed + failedB
    val dedup = res.dedup
    val e2e = Seq(
      "setup_s" -> Metric(Stats.median(setupTimes.toSeq), "s"),
      "probe_p50_ms" -> Metric(q(probes, 0.5), "ms"),
      "probe_p90_ms" -> Metric(q(probes, 0.9), "ms"),
      "probe_qps" -> Metric(if (probes.isEmpty) 0.0 else probes.length / (probes.sum / 1e3), "1/s"),
      "recall_at_10" -> Metric(if (res.recalls.isEmpty) 0.0 else res.recalls.sum / res.recalls.length, "ratio"),
      "rows_per_s" -> Metric(res.rowsPerS, "1/s"),
      "batch_p50_ms" -> Metric(q(batches, 0.5), "ms"),
      "dedup_recall" -> Metric(if (dedup.planted == 0) 0.0 else dedup.droppedPlanted.toDouble / dedup.planted, "ratio"),
      "dedup_precision" -> Metric(if (dedup.dropped == 0) 0.0 else dedup.droppedPlanted.toDouble / dedup.dropped, "ratio"),
      "stored_bytes_ratio" -> Metric(res.storedBytesRatio, "ratio"),
      "ok_frac" -> Metric((attempted - failed).toDouble / math.max(attempted, 1), "ratio"),
      "retained_heap_mb" -> Metric(heapMb, "MB"))

    val env = Seq("workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> Session.cpus, "os_cpus" -> Runtime.getRuntime.availableProcessors(),
      "load1_before" -> load0, "load1_after" -> loadAvg(), "gc_s" -> gcSeconds(),
      "steal_s" -> (stealSeconds() - steal0),
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "unknown"),
      "input_digest" -> digest, "phases" -> phases.toMap, "setup_s_reps" -> setupTimes.toSeq,
      "probes" -> probes.length, "batches" -> batches.length,
      "tail_percentile_with_10_beyond" -> Stats.tailPercentile(probes.length).getOrElse(-1.0))
    println(Json.obj(Seq("env" -> env.toMap)))
    val metrics = if (trace) layers.toSeq.sortBy(_._1) else e2e
    metrics.foreach { case (k, Metric(v, u)) => println(f"$k%-45s $v%14.4f $u") }
    spark.stop()
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.toMap)))
  }
}
