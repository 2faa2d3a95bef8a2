package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorExprs
import graft.model.Tables
import graft.text.TextAnalysis

/** Per-row cost of the codegen'd kernels over the sf documents and
  * embeddings. Inputs are cached first, so a timing is one scan of the
  * cache plus the kernel. Every kernel output feeds an aggregate checksum:
  * a bare count would let column pruning drop the kernel altogether.
  */
object Kernels {
  val Reps = 5
  /** Query vectors each embedding is dotted with. */
  val DotQueries = 8

  final case class Timing(nsPerRow: Double, rows: Long, checksum: String)

  def run(spark: SparkSession, dataDir: String): Map[String, Timing] = {
    val docs = Tables.documents(spark, dataDir)
      .select(TextAnalysis.tokens(lower(col("text"))).as("toks")).persist()
    val nDocs = docs.count()
    val shingled = docs.select(Dedup.shingles(col("toks"), 5).as("sh")).persist()
    shingled.count()
    val emb = Tables.embeddings(spark, dataDir)
    val queries = emb.orderBy("vec_id").limit(DotQueries).select(col("embedding").as("q"))
    val pairs = emb.select(col("embedding").as("e")).crossJoin(broadcast(queries)).persist()
    val nPairs = pairs.count()
    try Map(
      "float_dot" -> time(pairs, nPairs, bit_xor(xxhash64(VectorExprs.float_dot(col("e"), col("q"))))),
      "simhash64" -> time(docs, nDocs, bit_xor(VectorExprs.simhash64(col("toks")))),
      "minhash" -> time(shingled, nDocs,
        bit_xor(xxhash64(Dedup.minhashSignature(col("sh"), 128)))),
      "token_ngrams" -> time(docs, nDocs,
        bit_xor(xxhash64(VectorExprs.token_ngrams(col("toks"), 3)))))
    finally Seq(docs, shingled, pairs).foreach(_.unpersist())
  }

  /** Median of [[Reps]] timed aggregations after one warm-up. */
  private def time(input: DataFrame, rows: Long, checksum: Column): Timing = {
    val q = input.agg(checksum.as("c"))
    val first = q.collect().head.get(0)
    val secs = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val c = q.collect().head.get(0)
      require(c == first, s"kernel checksum changed between runs: $first vs $c")
      Stats.secondsSince(t0)
    }
    Timing(Stats.median(secs) * 1e9 / rows, rows, String.valueOf(first))
  }
}
