package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-trace-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  test("a job run under a layer's span lands in that layer") {
    val tr = new Tracer(spark)
    try {
      spark.range(100).count() // outside any span: attributed nowhere
      tr("dedup", "minhash")(spark.range(1000).selectExpr("id % 7 AS k").distinct().count())
      // threads created inside the span (as the engine's scatter pool is,
      // once per call) inherit its job group
      tr("scatter", "many_approx") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try (1 to 3).map(i => pool.submit(() => spark.range(10L * i).count())).foreach(_.get())
        finally pool.shutdown()
      }
      val m = tr.report(0.0)
      assert(m("dedup.calls").value == 1.0)
      assert(m("dedup.jobs").value >= 1.0)
      assert(m("dedup.tasks").value >= 1.0)
      assert(m("dedup.shuffle_write_bytes").value > 0.0)
      assert(m("dedup.shuffle_read_bytes").value > 0.0)
      assert(!m.contains("dedup.output_bytes"))
      // every pool thread's job, and nothing run outside the spans
      assert(m("scatter.jobs").value >= 3.0)
      assert(m.filter(_._1.endsWith(".jobs")).values.map(_.value).sum ==
        m("dedup.jobs").value + m("scatter.jobs").value)
      assert(m("scatter.many_approx.p50_ms").value > 0.0)
      assert(m("vector_index.probe.jobs").value == 0.0)
      assert(m("sql.calls").value == 0.0)
    } finally tr.detach()
  }

  test("a failed call is counted against its layer and rethrown") {
    val tr = new Tracer(spark)
    try {
      intercept[IllegalStateException](tr("sql", "knn")(throw new IllegalStateException("boom")))
      assert(tr.report(0.0)("sql.failed").value == 1.0)
    } finally tr.detach()
  }
}
