package graft

import graft.functions.VectorExprs
import graft.ops.{Ann, Cluster, Dedup}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-benchmark for the native vector expressions vs the HOF folds they
  * replaced (`zip_with` + `aggregate` are CodegenFallback — interpreted
  * lambda dispatch plus an intermediate array per row). Times each primitive
  * over a persisted synthetic corpus (default 1M × 64 dims), alternating
  * arms, best-of-3, and prints ONE JSON line. The parity spec in OpsSpec
  * proves the two arms bit-identical; this main records why the native form
  * is the default.
  *
  * Run: `SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.VectorBench [rows]"`
  */
object VectorBench {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dims = 64
    val k = 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-vector-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic synthetic corpus, persisted so generation isn't timed
    val e = spark.range(rows).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dims)),
        d => (pmod(xxhash64(col("id"), d), lit(1000)).cast("double") - 500.0) / 500.0)
        .as("v"))
      .persist()
    e.count()

    val qv = Array.tabulate(dims)(d => math.sin(d + 1.0))
    val qvCol = array(qv.map(lit): _*)
    val cents = Array.tabulate(k)(c => Array.tabulate(dims)(d =>
      math.cos(c * dims + d + 1.0)))

    // token corpus for the hash-signature arms: ~40 distinct synthetic
    // tokens per row (the documents table's distinct-token order of
    // magnitude), derived from the same deterministic id stream. Fewer rows
    // than the vector corpus — the HOF minhash is two orders slower.
    val hashRows = math.max(1000L, rows / 20)
    val t = spark.range(hashRows).select(col("id").as("doc_id"),
      transform(sequence(lit(1), lit(40)),
        w => concat(lit("tok"), pmod(xxhash64(col("id"), w), lit(100000))))
        .as("toks"))
      .withColumn("txt", concat(lit("Mixed CASE header 42! "),
        array_join(col("toks"), ", ")))
      .persist()
    t.count()

    def drive(c: Column): Unit = { e.select(sum(c)).head() }
    def driveT(c: Column): Unit = { t.select(sum(hash(c))).head() }
    val arms: Seq[(String, () => Unit)] = Seq(
      "cosine_native" -> (() => drive(VectorExprs.cosine(col("v"), qvCol))),
      "cosine_hof"    -> (() => drive(Ann.cosineHof(col("v"), qvCol))),
      "dist2_native"  -> (() => drive(VectorExprs.dist2(col("v"), qvCol))),
      "dist2_hof"     -> (() => drive(Cluster.dist2(col("v"), qvCol))),
      "nearest_native" -> (() => drive(VectorExprs.nearestCell(col("v"), cents))),
      "nearest_hof"    -> (() => drive(Cluster.nearestCellHof(col("v"), cents))),
      "minhash_native" -> (() => driveT(Dedup.minhashSignatureFromTokens(col("toks")))),
      "minhash_hof"    -> (() => driveT(Dedup.minhashSignatureFromTokensHof(col("toks")))),
      "simhash_native" -> (() => driveT(Dedup.simhashFromTokens(col("toks")))),
      "simhash_hof"    -> (() => driveT(Dedup.simhashFromTokensHof(col("toks")))),
      "tokens_native"  -> (() => driveT(graft.ops.TextOps.tokens(col("txt")))),
      "tokens_regex"   -> (() => driveT(graft.ops.TextOps.tokensRegex(col("txt")))),
      "grams2_native"  -> (() => driveT(graft.functions.TextExprs.grams(col("toks"), 2))),
      "grams2_hof"     -> (() => driveT(graft.ops.Prep.gramArrHof(col("toks"), 2))),
      "nonstop_native" -> (() => driveT(graft.functions.TextExprs.nonStop(col("toks")))),
      "nonstop_hof"    -> (() => driveT(filter(col("toks"), t =>
        !t.isin(graft.ops.TextOps.Stopwords.map(_.asInstanceOf[Any]): _*)))))

    arms.foreach(_._2()) // one untimed warmup pass (JIT + codegen compile)
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to 3; (name, f) <- arms) {
      val s = time(f())
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
    }
    val fields = best.map { case (n, s) => s""""$n":${f"$s%.3f"}""" }
    println(s"""{"rows":$rows,"dims":$dims,"k":$k,"hash_rows":$hashRows,"cpus":$cpus,""" +
      fields.mkString(",") + "}")
    spark.stop()
  }
}
