package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The query workloads: which queries, in what order, and how one query
  * execution is timed.
  */
object QueryWorkload {

  /** api_lookup: the queries that mirror the faculty API and the flagship SQL. */
  val Api: Seq[String] = Seq("q_search_filter", "q_point_lookup", "q_interest_overlap",
    "q_topk_revenue", "q_window_rank", "q_semi_anti", "q_text_search", "q_flagship_agg")

  /** The curation queries that the dedup, TF-IDF and decontamination work
    * targets.
    */
  val Corpus: Seq[String] = Seq("q_tfidf_cosine", "q_minhash_lsh", "q_decontaminate")

  val All: Seq[String] = Api ++ Corpus

  /** Rows-only queries (no DuckDB oracle): checked against pinned digests. */
  val RowsOnly: Set[String] = Set("q_minhash_lsh")

  /** Set-up warm-up: one query per table family (star, corpus), the
    * cheapest of each in the set.
    */
  val Warm: Seq[String] = Seq("q_search_filter", "q_decontaminate")

  /** A seed-drawn permutation of `names` (Fisher–Yates on a splitmix stream). */
  def shuffled(names: Seq[String], seed: Long, round: Int): Seq[String] = {
    val a = names.toArray
    val rnd = new java.util.SplittableRandom(seed * 1000003L + round)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** One query execution as the workloads time it: build the DataFrame
    * through the engine's public entry point, then force it through the noop
    * sink (a `count()` would let Catalyst prune the projected work). Returns
    * the build and the execution seconds.
    */
  def execute(spark: SparkSession, name: String, dataDir: String): (Double, Double) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dataDir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** The correctness execution: the same query, written as one parquet file. */
  def writeResult(spark: SparkSession, name: String, dataDir: String, out: String): Unit =
    SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(out)
}
