package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The benchmark's one Spark session, configured and extended exactly as
  * `graft.Bench` does it: local[cores], shuffle partitions = cores, UTC,
  * graft SQL functions registered, TopK strategy and rewrite installed.
  */
object Session {
  def config(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def build(cores: Int): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    config(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def register(spark: SparkSession): Unit = {
    graft.functions.GraftExtensions.register(spark)
    graft.plans.TopKPerKey.ensureRegistered(spark)
  }

  /** The same warm-up job `graft.Bench` runs before timing. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000L).selectExpr("sum(id)").collect()

  /** `graft.Bench`'s canary: an idiomatic row_number ≤ k filter must plan
    * as the TopK operator, or plans would depend on registration order.
    */
  def topKFires(spark: SparkSession, dataDir: String): Boolean = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
    graft.model.Tables.events(spark, dataDir)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .queryExecution.executedPlan.toString.contains("FinalTopK")
  }

  /** Peak resident set of this JVM, in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
