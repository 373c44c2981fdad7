package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession config that every main runs under, so the
  * oracle run (Verify) and the timed run (Bench) execute the same
  * physical plans. The test fixture keeps its own config: PlanSpec pins
  * plans under Spark's default 10 MB broadcast threshold. */
object Sessions {

  /** Cores for `local[N]` and the shuffle partition count: the
    * `SPARK_GRAFT_CPUS` deployment setting, else every core the JVM sees
    * (at local scale oversized shuffles dominate runtime). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "128m",
    // columnar-cache compression costs CPU at build time; the heap has
    // room, so the build-once caches stay uncompressed
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The JVM's session under [[settings]]. The heap comes from build.sbt's
    * -Xmx (SPARK_DRIVER_MEM): spark.driver.memory set after the JVM has
    * started would be a no-op. */
  def local(): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
