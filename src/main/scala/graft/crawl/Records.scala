package graft.crawl

import graft.extract.SpanExtract
import graft.synth.SyntheticSite.Seed
import graft.urls.Urls

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Faculty-record assembly (SURVEY.md §2.8 G11): the relational form of the
  * reference's per-row record construction (reference `scraper.py:69-78`).
  *
  * The reference builds each record from its index row (name, title) merged
  * with the profile-page extraction (email, interests, publications),
  * degrading to empty detail fields when the profile fetch fails
  * (reference `scraper.py:102-106,160-162`). Relationally that is:
  *
  *   indexRows(depth-0 docs)  LEFT JOIN  profileFields(depth-1 docs)
  *                            ON canonical profile URL
  *
  * — a row-local extraction on both sides (no UDF), one shuffled equi-join.
  * The seeds table (university/department per index URL) is tiny →
  * broadcast.
  */
object Records {

  def facultyRecords(spark: SparkSession, docs: DataFrame, seeds: Seq[Seed]): DataFrame = {
    import spark.implicits._
    val seedsDF = seeds
      .map(s => (Urls.normalize(s.url), s.rank, s.university, s.department))
      .toDF("parent_url", "seed_rank", "university", "department")

    val rows = SpanExtract.indexRowsDF(docs.filter(col("depth") === 0))
      .withColumn("profile_url",
        when(col("href").isNotNull, Urls.canonicalizeUdf(col("href"), col("parent_url")))
          .otherwise(lit("")))
      .join(broadcast(seedsDF), Seq("parent_url"))

    val profiles = SpanExtract.profileFieldsDF(docs.filter(col("depth") === 1))
      .withColumnRenamed("url", "profile_url")

    // a shuffled hash join by hint: left to itself, adaptive execution turns
    // the join into a broadcast when the profile side's shuffle happens to
    // finish first and small, so the plan — and the classes it compiles —
    // would depend on task timing and crawl size
    rows.join(profiles.hint("shuffle_hash"), Seq("profile_url"), "left")
      .select(
        col("name"),
        col("title"),
        col("university"),
        col("department"),
        coalesce(col("email"), lit("")).as("email"),
        coalesce(col("research_interests"), array().cast("array<string>"))
          .as("research_interests"),
        coalesce(col("publications"), array().cast("array<string>")).as("publications"),
        col("profile_url"),
        // deterministic ordering keys (reference append order: seed × row rank)
        col("seed_rank"), col("rank").as("row_rank"))
  }
}
