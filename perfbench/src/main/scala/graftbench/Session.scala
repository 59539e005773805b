package graftbench

import org.apache.spark.sql.SparkSession

/** The `local[N]` session the benchmark runs in: the settings of the
  * engine's own `Verify`/`Bench` mains, with every directory Spark
  * writes to placed under the run's work directory. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(workDir: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val n = cpus
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.TableFunctions.register(s)
    s
  }
}
