package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Scan

/** Pure-Catalyst oracles over the raw documents table — declarative
  * DataFrame plans (tokenize via SQL functions, BM25 as column
  * expressions) that Catalyst optimizes end-to-end. These double as the
  * SQL-expressible verification path for the kernel engine (SURVEY.md
  * §2.5 Q7 oracle form) and are mirrored by equivalent DuckDB SQL in
  * SparkEntry.oracleSql. */
object Oracle {

  /** documents -> (doc_id, term) token stream; matches
    * Tokenize.tokens (lower + split on non-alphanumeric runs). */
  def tokens(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the explode + partial aggregate below is the map side of every
    // oracle consumer
    Scan.spread(spark, docs, "doc_id")
      .select(col("doc_id"),
              explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
  }

  // The tokenize+groupBy scan feeds every oracle consumer (bm25TopK's
  // postings/lens/df, the 8-type round-trip compare, the hybrid gate);
  // without a persist each consumer re-runs it from the parquet scan —
  // measured >linear blowup at sf0.1 (144.7 s for one gate). One
  // materialized copy per sfDir serves them all.
  private val postingsCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Unpersist and drop every cached postings DataFrame. Long-lived
    * sessions touching several sf dirs otherwise accumulate
    * MEMORY_AND_DISK copies indefinitely; callers like Bench release
    * the cache between sections. */
  def clearCache(): Unit =
    postingsCache.keys.foreach { k =>
      postingsCache.remove(k).foreach { df =>
        try df.unpersist()
        catch { case scala.util.control.NonFatal(_) => }
      }
    }

  /** (term, doc_id, tf) postings — persisted per sfDir. */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    postingsCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$sfDir", {
      val p = tokens(spark, sfDir).groupBy("term", "doc_id")
        .agg(count(lit(1)).cast("long").as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    })

  /** (doc_id, len) document lengths, derived from the cached postings
    * (len = sum of tf). */
  def docLens(spark: SparkSession, sfDir: String): DataFrame =
    postings(spark, sfDir).groupBy("doc_id")
      .agg(sum("tf").cast("long").as("len"))

  /** Declarative double-precision BM25 top-k, quantized to
    * floor(score*100) so Spark and DuckDB rank identically despite
    * sum-order ulps; tie-break (score_q desc, doc_id asc).
    * queriesDf: (query_id, term) with duplicates = query-term
    * multiplicity. */
  /** All (query_id, doc_id, score_q) matching pairs — the unranked
    * double-precision BM25 score surface that bm25TopK windows over.
    * Exposed so kernel results can be checked against the SQL-verified
    * scores without re-deriving them. */
  def bm25Scores(spark: SparkSession, sfDir: String,
                 queriesDf: DataFrame): DataFrame = {
    val post = postings(spark, sfDir)
    val lens = docLens(spark, sfDir)
    val stats = lens.agg(count(lit(1)).cast("double").as("n"),
                         (sum("len") / count(lit(1))).as("avg_len"))
    val df = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val q = queriesDf.groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("qtf"))

    q.join(post, "term")
      .join(df, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("qw", col("qtf") *
        greatest(lit(1.0e-6), log((col("n") - col("df") + 0.5) / (col("df") + 0.5))) *
        lit(2.2))
      .withColumn("dtw", col("tf").cast("double") /
        (col("tf").cast("double") +
         lit(1.2) * (lit(0.5) + lit(0.5) * (col("len").cast("double") / col("avg_len")))))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qw") * col("dtw")).as("score"))
      .withColumn("score_q", floor(col("score") * 100).cast("long"))
  }

  def bm25TopK(spark: SparkSession, sfDir: String, queriesDf: DataFrame,
               k: Int): DataFrame = {
    val scored = bm25Scores(spark, sfDir, queriesDf)

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").cast("long").as("query_id"),
              col("rank").cast("long").as("rank"),
              col("doc_id").cast("long").as("doc_id"),
              col("score_q"))
      .orderBy("query_id", "rank")
  }
}
