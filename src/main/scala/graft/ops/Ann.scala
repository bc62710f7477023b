package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding: array<float>`,
  * dim 64): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path (bucket the
  * corpus once, probe only the query's bucket — at 10^10 vectors the bucket
  * join touches 1/2^planes of the data per probe).
  *
  * The LSH bucket and the cosine bind the native vector expressions
  * ([[graft.functions.VectorExprs]]) directly, so they need no optimizer
  * rule; [[dot]] and [[cosineHof]] are the `zip_with` + `aggregate` HOF forms
  * they replace, kept as the parity cross-checks.
  */
object Ann {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** dot(a, b) over array<double>. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the NATIVE fused expression
    * ([[graft.functions.VectorExprs]]): one codegen'd pass instead of three
    * interpreted HOF folds, bit-identical results (same accumulation order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine(a, b)

  /** The HOF fold [[cosine]] replaced — kept as the parity cross-check. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k against the query vector (vec_id = min).
    * Exact baseline: one broadcast of the query row, one row-local cosine per
    * vector, TakeOrderedAndProject for the top-k — no shuffle of the corpus.
    */
  def cosineTopk(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val e = emb(spark, dir).withColumn("v", col("embedding").cast("array<double>"))
    val qId = e.agg(min(col("vec_id")).as("q_id"))
    val q = e.join(broadcast(qId), e("vec_id") === qId("q_id"))
      .select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** DuckDB oracle for exact cosine top-k at `k` — also the oracle of the
    * FULL-PROBE ANN queries, whose results are exact by construction.
    */
  def cosineTopkSqlK(k: Int): String =
    s"""SELECT e.vec_id, e.label,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
       |FROM embeddings e
       |CROSS JOIN (SELECT embedding FROM embeddings
       |            WHERE vec_id = (SELECT min(vec_id) FROM embeddings)) q
       |ORDER BY cos DESC, e.vec_id ASC
       |LIMIT $k""".stripMargin

  val cosineTopkSql: String = cosineTopkSqlK(20)

  /** Deterministic random hyperplanes (splitmix-style mixing of (plane, dim))
    * — pure function, identical on driver and executors.
    */
  def hyperplane(plane: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { d =>
      var z = (plane.toLong << 32 | d.toLong) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (math.abs(z % 2000L).toDouble - 1000.0) / 1000.0
    }

  /** Random-hyperplane LSH bucket id (sign-bit signature over `planes`),
    * from the native dot product: bit-identical to the HOF [[dot]].
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val plane = array(hyperplane(p, dims).map(lit): _*)
      when(graft.functions.VectorExprs.dot(v, plane) > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Embedding dimensionality of the driver's `embeddings` table. */
  val Dims = 64

  // ---- materialized LSH index + multi-probe ----

  /** Build the LSH bucket table — the structure a deployment materializes
    * ONCE and probes per query (the round-2 variant re-bucketed the corpus
    * every query): (bucket, vec_id, label, v).
    */
  def buildLshIndex(emb: DataFrame, planes: Int, dims: Int = Dims): DataFrame =
    emb.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("bucket", lshBucket(col("v"), planes, dims))
      .select(col("bucket"), col("vec_id"), col("label"), col("v"))

  /** Persist the bucket table partitioned BY BUCKET: a probe's
    * `bucket IN (...)` filter becomes parquet partition pruning — at 10^10
    * vectors a query reads only its nProbe bucket directories, never the
    * corpus.
    */
  def writeLshIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("bucket").parquet(path)

  def readLshIndex(spark: SparkSession, path: String): DataFrame =
    // The partition column keeps its INFERRED type (small bucket ids read
    // back as int): casting it here would wrap the partition attribute in a
    // Cast that defeats parquet partition pruning on every probe (ADVICE
    // r3). Probes adapt their literals to the raw column type instead, and
    // restore the stable long type in their own output projection.
    spark.read.parquet(path)

  /** Driver-side dot (the query vector is client-held in any ANN service). */
  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Multi-probe bucket sequence (Lv et al., multi-probe LSH): all buckets
    * ordered by perturbation cost = Σ |hyperplane margin| of the flipped
    * planes (the query's own bucket first, then the cheapest sign flips —
    * the planes the query sits closest to). `nProbe = 2^planes` degenerates
    * to probing everything, which is the exactness anchor the spec checks.
    */
  def lshProbeBuckets(qv: Array[Double], planes: Int, nProbe: Int,
      dims: Int = Dims): Seq[Long] = {
    val margins = Array.tabulate(planes)(p => dotLocal(qv, hyperplane(p, dims)))
    val qBucket = (0 until planes)
      .map(p => if (margins(p) > 0) 1L << p else 0L).reduce(_ | _)
    (0L until (1L << planes)).map { b =>
      val flipped = b ^ qBucket
      var cost = 0.0
      var p = 0
      while (p < planes) {
        if (((flipped >> p) & 1L) == 1L) cost += math.abs(margins(p))
        p += 1
      }
      (cost, b)
    }.sortBy(identity).take(nProbe).map(_._2)
  }

  /** Probe a materialized LSH index: exact cosine inside the query's nProbe
    * cheapest buckets, top-k. The bucket filter is a literal IN over ≤nProbe
    * ids — partition-pruned against [[writeLshIndex]]'s layout.
    */
  def lshTopkIndexed(index: DataFrame, qv: Array[Double], planes: Int,
      nProbe: Int, k: Int): DataFrame = {
    val buckets = lshProbeBuckets(qv, planes, nProbe)
    // literals typed to match the raw partition column (int when read back
    // from [[readLshIndex]], long when probing an in-memory build): a
    // type-mismatched IN would cast the partition ATTRIBUTE and defeat
    // pruning; the stable long bucket is restored in the projection below
    val bucketVals: Seq[Any] = index.schema("bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType => buckets.map(_.toInt)
      case _                                      => buckets
    }
    val qvCol = array(qv.map(lit): _*)
    index
      .filter(col("bucket").isin(bucketVals: _*))
      .select(col("vec_id"), col("label"), col("bucket").cast("long").as("bucket"),
        round(cosine(col("v"), qvCol), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-sf-dir scratch location for the demo queries' materialized indexes. */
  private def indexPath(dir: String, kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_ann/${dir.replaceAll("[^A-Za-z0-9]", "_")}/$kind"

  /** LSH ANN as a driver-contract query: build + persist the bucket table,
    * then probe the PERSISTED index multi-probe (nProbe > 1 — recall < 1 by
    * construction, bounded in OpsSpec; the exact baseline is [[cosineTopk]]).
    */
  def annLshTopk(spark: SparkSession, dir: String, planes: Int = 8,
      nProbe: Int = 4, k: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    writeLshIndex(buildLshIndex(e, planes), indexPath(dir, s"lsh_$planes"))
    val index = readLshIndex(spark, indexPath(dir, s"lsh_$planes"))
    val qv = e.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).collect()
      .head.getSeq[Double](0).toArray
    lshTopkIndexed(index, qv, planes, nProbe, k)
  }

  /** FULL-probe LSH over the materialized index (nProbe = 2^planes): every
    * bucket is probed, so the result is EXACT cosine top-k and carries a
    * DuckDB oracle ([[cosineTopkSqlK]]) — the driver-gate anchor for the
    * whole materialized-index path (build, bucket-partitioned write,
    * pruned probe). The `bucket` column is dropped: it is engine-internal
    * (hash-derived), and the exactness claim is about the ranking.
    * Multi-probe recall stays covered by [[annLshTopk]] + OpsSpec.
    */
  def annLshTopkFull(spark: SparkSession, dir: String, planes: Int = 8,
      k: Int = 10): DataFrame =
    annLshTopk(spark, dir, planes, nProbe = 1 << planes, k = k)
      .select(col("vec_id"), col("label"), col("cos"))

  // ---- IVF (inverted-file) ANN ----

  /** Deterministic Lloyd k-means on a driver-side sample (init = first k
    * sample points, fixed iteration count, empty cells keep their centroid)
    * — the coarse quantizer must be reproducible run-to-run for the
    * inverted lists to be a stable table.
    */
  def kmeansDeterministic(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.length >= k, s"need ≥ $k sample points")
    val dims = points.head.length
    var cents = points.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums   = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dims) { val x = p(i) - cents(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dims) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dims)(i => sums(c)(i) / counts(c)))
      it += 1
    }
    cents
  }

  /** Train the coarse quantizer on a bounded deterministic sample and return
    * it as a TABLE (cell, centroid) — never codegen literals: at production
    * nlist (4k-64k) an nlist×dim literal array explodes generated-code size
    * (the round-2 finding), while a broadcast table join is flat in nlist.
    */
  def trainIvfCentroids(emb: DataFrame, nlist: Int, sampleN: Int = 256): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.withColumn("v", col("embedding").cast("array<double>"))
      .orderBy(col("vec_id")).limit(sampleN)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    kmeansDeterministic(sample, nlist, iters = 5).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
  }

  /** Assign every vector to its nearest centroid via a BROADCAST JOIN against
    * the centroid table: corpus × nlist candidate rows are pre-aggregated
    * map-side by the min_by (one shuffled row per vector), and the generated
    * code is independent of nlist. (At real scale the inner loop would be a
    * `mapPartitions` BLAS gemm; the relational form keeps the path UDF-free
    * and plan-inspectable.)
    */
  def assignIvfCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val e = emb.withColumn("v", col("embedding").cast("array<double>"))
    val d2 = graft.functions.VectorExprs.dist2(col("v"), col("centroid"))
    e.crossJoin(broadcast(centroids))
      .withColumn("__d", d2)
      .groupBy(col("vec_id"))
      .agg(min_by(
        struct(col("cell"), col("label"), col("v")),
        struct(col("__d"), col("cell"))).as("c"))
      .select(col("c.cell").as("cell"), col("vec_id"),
        col("c.label").as("label"), col("c.v").as("v"))
  }

  /** Persist the inverted lists partitioned BY CELL (probe filters become
    * parquet partition pruning, as in [[writeLshIndex]]).
    */
  def writeIvfIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  def readIvfIndex(spark: SparkSession, path: String): DataFrame =
    // raw inferred partition type for the same pruning reason as
    // [[readLshIndex]]; the probe projection pins the stable int type
    spark.read.parquet(path)

  /** Probe a materialized IVF index: the query's nProbe nearest cells
    * (ranked against the collected centroid table — O(nlist) driver work,
    * the query-planning step any ANN service runs client-side), exact cosine
    * inside them, top-k. Work per query is O(corpus × nProbe / nlist).
    */
  def ivfTopkIndexed(index: DataFrame, centroids: DataFrame, qv: Array[Double],
      nProbe: Int, k: Int): DataFrame = {
    val qCells = centroids.collect().map { r =>
      val c = r.getSeq[Double](r.fieldIndex("centroid")).toArray
      var d = 0.0; var j = 0
      while (j < qv.length) { val x = qv(j) - c(j); d += x * x; j += 1 }
      (d, r.getInt(r.fieldIndex("cell")))
    }.sortBy(identity).take(nProbe).map(_._2)
    val qvCol = array(qv.map(lit): _*)
    index
      .filter(col("cell").isin(qCells.map(Int.box).toSeq: _*))
      .select(col("vec_id"), col("label"), col("cell").cast("int").as("cell"),
        round(cosine(col("v"), qvCol), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF ANN as a driver-contract query: train the quantizer, materialize
    * centroids + inverted lists ONCE (cell-partitioned parquet), probe the
    * persisted index.
    *
    * Exactness anchor: with nProbe = nlist the probe covers every cell and
    * the result equals [[cosineTopk]] exactly (spec-tested); smaller nProbe
    * trades recall for probe cost (recall < 1 by construction, bounded in
    * OpsSpec).
    */
  def ivfTopk(spark: SparkSession, dir: String, nlist: Int = 16,
      nProbe: Int = 4, k: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    val centroids = trainIvfCentroids(e, nlist)
    writeIvfIndex(assignIvfCells(e, centroids), indexPath(dir, s"ivf_$nlist"))
    val index = readIvfIndex(spark, indexPath(dir, s"ivf_$nlist"))
    val qv = e.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).collect()
      .head.getSeq[Double](0).toArray
    ivfTopkIndexed(index, centroids, qv, nProbe, k)
  }

  /** FULL-probe IVF (nProbe = nlist): every inverted list is probed, so the
    * result is EXACT cosine top-k with a DuckDB oracle — same rationale as
    * [[annLshTopkFull]]; the engine-internal `cell` column is dropped.
    */
  def ivfTopkFull(spark: SparkSession, dir: String, nlist: Int = 16,
      k: Int = 10): DataFrame =
    ivfTopk(spark, dir, nlist, nProbe = nlist, k = k)
      .select(col("vec_id"), col("label"), col("cos"))

  /** Embedding near-duplicate pairs on a deterministic candidate set
    * (adjacent vec_ids), cosine ≥ threshold — the embedding-space analog of
    * [[Dedup.ngramJaccard]].
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.95): DataFrame = {
    // persist the shared (vec_id, v) projection feeding both self-join sides
    // (round 6 — the same single-scan contract as ngramJaccard /
    // semanticNearDup: unpersisted, the scan + array<double> cast ran twice
    // per query). Callers release via `clearCache()`.
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
    a.join(b, col("a_id") + 1 === col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("a_v"), col("b_v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  val embeddingNearDupSql: String =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.95""".stripMargin
}
