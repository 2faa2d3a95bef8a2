package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One closed-loop operation and its outcome. */
final case class Op(kind: String, name: String, seconds: Double, error: Option[String],
                    rows: Long = -1L) {
  def failed: Boolean = error.isDefined
}

/** The batch workloads: registry queries run one at a time, each timed as
  * `fn(spark, sf).count()` with construction included, as `graft.Bench`
  * times them.
  */
object Batch {

  /** The reference's historical surface (`ReferenceQueries` plus the
    * tpch_, join_ and window_ families: 57 queries, ~51 s a pass at sf0.1
    * on 4 cores) cut to a pass that fits the benchmark's time budget. The
    * queries were chosen from a traced pass of all 57 so that the cut's
    * construct, plan and execute shares, core use and jobs per second
    * match the full surface's within a point or two (perfbench/README.md
    * has both). It keeps ETL writing parquet, ORC and CSV, TPC-H,
    * broadcast anti-joins and TopK window ranking.
    */
  val reference: Seq[String] = Seq(
    "raw_schema_evolution", "format_orc_roundtrip", "format_csv_roundtrip",
    "join_anti_customers_without_orders", "tpch_q6_forecast_revenue",
    "tpch_q15_top_supplier", "window_session_paths", "window_top_order_per_customer")

  /** The LLM-data curation operators (dedup_, sim_, multimodal_: 42
    * queries, ~69 s a pass) cut the same way, from a traced pass of all
    * 42. It keeps eager construction (k-means training, power
    * iteration), the n-gram kernel and the Spread-ed all-pairs baseline.
    */
  val curation: Seq[String] = Seq(
    "dedup_ngram_jaccard", "sim_topk_ivf", "sim_power_iteration",
    "multimodal_features", "multimodal_frame_sample")

  /** The queries one pass runs, per workload. */
  def queries(workload: String): Seq[String] = workload match {
    case "reference" => reference
    case "curation"  => curation
  }

  /** The seed fixes each pass's query order. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Runs `names` in order. Untraced, each query is one timed
    * `fn(spark, sf).count()`. Traced, the same work is split into
    * construct (the registry call), plan (`executedPlan` of the count
    * plan) and execute (collecting that same plan), and the final plan's
    * structure lands in `plans`. Each operation carries its count, which
    * run.py holds against the size of the query's checked output.
    */
  def pass(spark: SparkSession, dataDir: String, names: Seq[String], trace: Trace,
           plans: mutable.Buffer[PlanStats]): Seq[Op] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      run(name) {
        trace match {
          case NoTrace => fn(spark, dataDir).count()
          case t: Tracer =>
            t.span("query", name, name) {
              val df = t.span("construct", name)(fn(spark, dataDir))
              val counted = df.groupBy().count()
              t.span("plan", name)(counted.queryExecution.executedPlan)
              val n = t.span("execute", name)(counted.collect().head.getLong(0))
              plans += PlanStats.of(counted.queryExecution.executedPlan)
              n
            }
        }
      }
    }

  /** The unmeasured warm-up pass, which also produces the outputs that are
    * checked: each query's frame is written as one parquet file set under
    * `outDir`, beside `oracle_sql.json`, the layout `scripts/check.py`
    * compares. With `inject == "throw"` the first query throws; with
    * `inject == "wrong"` the first query that has an oracle gets one
    * duplicated row, which the compare must catch.
    */
  def warmAndWrite(spark: SparkSession, dataDir: String, names: Seq[String],
                   outDir: String, inject: String): Seq[Op] = {
    val oracles = SparkEntry.oracleSql
    val corrupt = names.find(oracles.contains)
    val ops = names.map { name =>
      run(name) {
        if (inject == "throw" && name == names.head)
          throw new IllegalStateException(s"injected failure in $name")
        val df = SparkEntry.queries(name)(spark, dataDir)
        val out = if (inject == "wrong" && corrupt.contains(name)) df.union(df.limit(1)) else df
        out.write.mode("overwrite").parquet(s"$outDir/$name")
        -1L
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      Json(names.filter(oracles.contains).map(n => n -> oracles(n)).toMap).getBytes("UTF-8"))
    ops
  }

  /** Times `body`, which returns a row count, as one query operation; a
    * throw is a failed operation.
    */
  private def run(name: String)(body: => Long): Op = {
    val t0 = System.nanoTime()
    try {
      val rows = body
      Op("query", name, Stats.secondsSince(t0), None, rows)
    } catch {
      case e: Throwable => Op("query", name, Stats.secondsSince(t0), Some(StreamServe.message(e)))
    }
  }
}
