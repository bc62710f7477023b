package graft

import graft.functions.{HashExprs, TextExprs, VectorExprs}
import graft.ops.{Ann, Cluster, Dedup, Multimodal, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators: dedup family (exact, MinHash/LSH,
  * SimHash), ANN, text stats, multimodal plumbing — self-oracled on
  * constructed fixtures plus the sf0.001 tables.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while seven wizards mix potent elixirs under a pale moon tonight"
    val nearDup = base.replace("tonight", "today") // 1-token diff
    val distinct = "completely different content about spark catalyst optimizer " +
      "rules partitions shuffles and whole stage code generation pipelines"
    val docs = Seq((0L, base), (1L, nearDup), (2L, distinct), (3L, base))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("lsh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhashLshPairs(spark, tmp, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair must be found")
    assert(pairs.contains((0L, 3L)), "exact dup pair must be found")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "distinct doc must not pair")
  }

  test("minhash signature: identical texts → identical signatures; stable length") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "f g h i j"))
      .toDF("t1", "t2")
      .select(Dedup.minhashSignature(col("t1")).as("s1"),
        Dedup.minhashSignature(col("t2")).as("s2"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](0) === rows(0).getSeq[Long](1))
    assert(rows(1).getSeq[Long](0) !== rows(1).getSeq[Long](1))
    assert(rows(0).getSeq[Long](0).length === Dedup.MinhashK)
  }

  test("native tokenizer is bit-identical to the regex form (corpus + unicode edges)") {
    // the parity argument: [a-z]+ runs over a LOWERED string are byte runs —
    // exercised on the real corpus plus the shapes that could break it:
    // multi-byte UTF-8 straddling runs, Unicode lowercasing that PRODUCES
    // ascii letters (İ → i + combining dot; K (Kelvin) → k), digits/punct
    // separators, empty and null strings
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select(col("text"))
    val edges = Seq(
      "İstanbul and KELVIN K sign", "ABC def GHI", "a1b2c3", "παν a γλώ b",
      "🦊fox🦊dog", "", "   ", "no-break space", "ALLCAPS", "ß sharp s"
    ).toDF("text")
    for (df <- Seq(corpus, edges)) {
      val bad = df.select(TextOps.tokens(col("text")).as("n"),
          TextOps.tokensRegex(col("text")).as("r"))
        .filter(not(col("n") <=> col("r")))
      assert(bad.isEmpty, s"native/regex tokenizer mismatch:\n${bad.take(5).mkString("\n")}")
    }
    // null propagates identically
    val r = Seq[Option[String]](None).toDF("text")
      .select(TextOps.tokens(col("text")).as("n"), TextOps.tokensRegex(col("text")).as("r"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("property: native text/hash expressions match HOF forms on random inputs") {
    import org.scalacheck.Gen
    // random TEXTS: mixed unicode/ascii/digits/punct/whitespace — drives the
    // tokenizer parity over shapes no fixture anticipates
    val textGen = Gen.listOf(Gen.oneOf(
      Gen.alphaStr, Gen.numStr, Gen.oneOf(" ", "\t", "\n", "-", "_", "!", "É",
        "ß", "İ", "🦊", "κ", " ", "K"), Gen.asciiPrintableStr))
      .map(_.mkString)
    // random TOKEN ARRAYS: lowercase words, stopwords, empties, nulls
    val tokGen = Gen.listOf(Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString),
      2 -> Gen.oneOf(TextOps.Stopwords),
      1 -> Gen.const(""),
      1 -> Gen.const(null: String))).map(_.toSeq)
    val texts = GenHelper.samples(textGen, 300).toDF("text")
    val toks  = GenHelper.samples(tokGen, 300).toDF("toks")

    val badText = texts.select(TextOps.tokens(col("text")).as("n"),
        TextOps.tokensRegex(col("text")).as("r"))
      .filter(not(col("n") <=> col("r")))
    assert(badText.isEmpty, s"tokenizer property failed:\n${badText.take(3).mkString("\n")}")

    def charSumHof(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0), (acc, t) => acc + length(t)).cast("long")
    val stops = TextOps.Stopwords
    val badTok = toks.select(
        Dedup.minhashSignatureFromTokens(col("toks")).as("mn"),
        Dedup.minhashSignatureFromTokensHof(col("toks")).as("mh"),
        Dedup.simhashFromTokens(col("toks")).as("xn"),
        Dedup.simhashFromTokensHof(col("toks")).as("xh"),
        graft.functions.TextExprs.grams(col("toks"), 2).as("gn"),
        graft.ops.Prep.gramArrHof(col("toks"), 2).as("gh"),
        graft.functions.TextExprs.nonStop(col("toks")).as("fn"),
        filter(col("toks"), t => !t.isin(stops.map(_.asInstanceOf[Any]): _*)).as("fh"),
        graft.functions.TextExprs.charSum(col("toks")).as("cn"),
        charSumHof(col("toks")).as("ch"),
        graft.functions.TextExprs.setHits(col("toks"), stops).as("sn"),
        size(filter(col("toks"), t => t.isin(stops.map(_.asInstanceOf[Any]): _*))).as("sh"))
      .filter(not(col("mn") <=> col("mh")) || not(col("xn") <=> col("xh")) ||
        not(col("gn") <=> col("gh")) || not(col("fn") <=> col("fh")) ||
        not(col("cn") <=> col("ch")) || not(col("sn") <=> col("sh")))
    assert(badTok.isEmpty, s"token-array property failed:\n${badTok.take(3).mkString("\n")}")
  }

  test("native grams/nonstop/charsum/sethits match their HOF forms (corpus + edges)") {
    import graft.functions.TextExprs
    // HOF reference forms, written inline where no main-source form exists
    def charSumHof(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0), (acc, t) => acc + length(t)).cast("long")
    def setHitsHof(c: org.apache.spark.sql.Column, ws: Seq[String]) =
      size(filter(c, t => t.isin(ws.map(_.asInstanceOf[Any]): _*)))
    val stops = TextOps.Stopwords
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"), TextOps.tokensRegex(col("text")).as("toks"))
    // edge arrays: empty, single, stopword-only, null element mid-gram,
    // unicode, and a null array (grams → EMPTY both forms; filter → null)
    val edges = Seq(
      (Some(Seq.empty[String]), "x"), (Some(Seq("alpha")), "alpha"),
      (Some(Seq("the", "a")), "the a"), (Some(Seq("a", null, "b")), "a b"),
      (Some(Seq("παν", "naïve", "z")), "παν naïve z"), (None, "")
    ).toDF("toks", "text")
    for (df <- Seq(corpus, edges); k <- Seq(1, 2, 3)) {
      val bad = df.select(
          TextExprs.grams(col("toks"), k).as("gn"),
          graft.ops.Prep.gramArrHof(col("toks"), k).as("gh"),
          TextExprs.nonStop(col("toks")).as("fn"),
          filter(col("toks"), t => !t.isin(stops.map(_.asInstanceOf[Any]): _*)).as("fh"),
          TextExprs.charSum(col("toks")).as("cn"),
          charSumHof(col("toks")).as("ch"),
          TextExprs.setHits(col("toks"), stops).as("sn"),
          setHitsHof(col("toks"), stops).as("sh"))
        .filter(not(col("gn") <=> col("gh")) || not(col("fn") <=> col("fh")) ||
          not(col("cn") <=> col("ch")) || not(col("sn") <=> col("sh")))
      assert(bad.isEmpty, s"k=$k mismatch:\n${bad.take(3).mkString("\n")}")
    }
    // bigrams() and nonStopTokens() public forms vs their HOF references
    val bad2 = corpus.select(
        TextOps.bigrams(col("toks")).as("bn"), TextOps.bigramsHof(col("toks")).as("bh"),
        TextOps.nonStopTokens(col("text")).as("nn"),
        TextOps.nonStopTokensHof(col("text")).as("nh"))
      .filter(not(col("bn") <=> col("bh")) || not(col("nn") <=> col("nh")))
    assert(bad2.isEmpty, s"bigrams/nonstop mismatch:\n${bad2.take(3).mkString("\n")}")
  }

  test("native minhash/simhash are bit-identical to the HOF folds (corpus + edges)") {
    // real corpus texts plus the edge shapes the null/empty semantics cover:
    // empty token array, empty-string token, null element, unicode, and a
    // null array (→ NULL through both forms)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(array_distinct(TextOps.tokens(col("text"))).as("toks"))
    val edges = Seq(
      Seq.empty[String], Seq(""), Seq("a"), Seq("a", null, "b"),
      Seq("καλημέρα", "naïve", "🦊")
    ).toDF("toks")
    for (df <- Seq(corpus, edges)) {
      val got = df.select(
        Dedup.minhashSignatureFromTokens(col("toks")).as("mn"),
        Dedup.minhashSignatureFromTokensHof(col("toks")).as("mh"),
        Dedup.simhashFromTokens(col("toks")).as("sn"),
        Dedup.simhashFromTokensHof(col("toks")).as("sh")).collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), "minhash lanes")
        assert(r.getLong(2) === r.getLong(3), "simhash bits")
      }
    }
    // null token array: the HOF's outer array() wrapper yields 32 NULL lanes
    // while the native signature is NULL — a deliberate divergence (the
    // native form is saner), and indistinguishable downstream: xxhash64
    // skips null lanes, so both band every null-text doc to the same
    // per-band bucket. Pin all three facts.
    val nr = Seq(Option.empty[Seq[String]]).toDF("toks").select(
      Dedup.minhashSignatureFromTokens(col("toks")).as("mn"),
      Dedup.minhashSignatureFromTokensHof(col("toks")).as("mh"),
      Dedup.simhashFromTokens(col("toks")).as("sn"),
      Dedup.simhashFromTokensHof(col("toks")).as("sh"),
      xxhash64(Dedup.minhashSignatureFromTokens(col("toks"))(0),
        Dedup.minhashSignatureFromTokens(col("toks"))(1), lit(0)).as("bn"),
      xxhash64(Dedup.minhashSignatureFromTokensHof(col("toks"))(0),
        Dedup.minhashSignatureFromTokensHof(col("toks"))(1), lit(0)).as("bh"))
      .head()
    assert(nr.isNullAt(0), "native minhash of null array is null")
    assert(nr.getSeq[java.lang.Long](1).forall(_ == null), "HOF yields null lanes")
    assert(nr.isNullAt(2) && nr.isNullAt(3), "both simhash forms null")
    assert(nr.getLong(4) === nr.getLong(5), "identical band hash downstream")
    // interpreted-path parity: force the non-codegen eval() of the native
    // expressions and compare against the HOF answers again
    val conf = spark.conf
    val saved = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val r = Seq(Seq("x", "y", "z")).toDF("toks")
        .select(Dedup.minhashSignatureFromTokens(col("toks")).as("mn"),
          Dedup.minhashSignatureFromTokensHof(col("toks")).as("mh"),
          Dedup.simhashFromTokens(col("toks")).as("sn"),
          Dedup.simhashFromTokensHof(col("toks")).as("sh")).head()
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      assert(r.getLong(2) === r.getLong(3))
      // the text expressions with codegen separate from eval(): tokenizer,
      // char sum, and the null→empty grams branch, on the interpreted path
      val t = Seq(("İs KELVIN K a1b2 🦊fox", Seq("ab", "cd", "ef"))).toDF("text", "toks")
        .select(TextOps.tokens(col("text")).as("tn"),
          TextOps.tokensRegex(col("text")).as("tr"),
          graft.functions.TextExprs.charSum(col("toks")).as("cn"),
          aggregate(col("toks"), lit(0), (acc, x) => acc + length(x)).cast("long").as("ch"),
          graft.functions.TextExprs.grams(lit(null).cast("array<string>"), 2).as("gn"))
        .head()
      assert(t.getSeq[String](0) === t.getSeq[String](1))
      assert(t.getLong(2) === t.getLong(3))
      assert(t.getSeq[String](4) === Seq.empty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("simhash pairs: planted boilerplate cluster is capped, never O(n²)") {
    // 300 copies of one boilerplate doc share every band value → uncapped,
    // the band self-join would emit C(300,2) = 44,850 pairs; the MaxBucket
    // cap must drop the cluster (it's exact-dedup's job) while the small
    // bucket holding the planted identical pair still pairs up.
    val boiler = "terms of service privacy policy all rights reserved contact " +
      "us subscribe newsletter copyright footer navigation menu links"
    val real = "novel research article about catalyst shuffle partitioning " +
      "strategies for exascale training data pipelines and dedup"
    val docs = ((0 until 300).map(i => (i.toLong, boiler)) ++
      Seq((1000L, real), (1001L, real))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("simhash_cap").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.simhashPairs(spark, tmp)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(pairs === Set((1000L, 1001L)),
      s"expected only the planted pair; got ${pairs.size} pairs")
  }

  test("sortedPairs: grouped pair emission equals the quadratic a<b reference") {
    // the round-6 LSH rewrite replaced the capped bucket SELF-JOIN with
    // collect_list + this row-local pair explosion — pin its semantics
    // against the quadratic reference on empty/singleton/small/cap-sized
    // member arrays
    val arrs: Seq[Seq[Long]] = Seq(Seq(), Seq(7L), Seq(3L, 5L),
      Seq(1L, 2L, 4L, 9L), (1L to Dedup.MaxBucket).map(_.toLong))
    arrs.foreach { ids =>
      val got = Seq(ids).toDF("ids")
        .select(explode(Dedup.sortedPairs(col("ids"))).as("p"))
        .select(col("p.a"), col("p.b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for { a <- ids; b <- ids if a < b } yield (a, b)).toSet
      assert(got === want, s"pairs differ for $ids")
    }
  }

  test("minhash LSH: one corpus scan — reads go through the cached projection") {
    val df = Dedup.minhashLshPairs(spark, sf)
    val p  = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the projection is materialized as an eager localCheckpoint (round 6 —
    // plain-row blocks, no columnar cache encode/decode); it appears in the
    // plan as an ExistingRDD scan. A persisted (InMemoryTableScan) form is
    // also accepted — the contract is materialized-once, either way.
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan"),
      "token projection must be materialized (checkpoint or cache)")
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans <= 1, s"documents scanned $docScans times:\n$p")
    spark.catalog.clearCache()
  }

  test("simhash: near-identical texts within small hamming; distinct texts far") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog and runs far away tonight",
        "the quick brown fox jumps over the lazy dog and runs far away today"),
      ("the quick brown fox jumps over the lazy dog and runs far away tonight",
        "catalyst optimizer shuffles partitions codegen stages broadcast joins"))
      .toDF("t1", "t2")
      .select(Dedup.simhash(col("t1")).as("h1"), Dedup.simhash(col("t2")).as("h2"))
    val rows = df.collect()
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(rows(0).getLong(0), rows(0).getLong(1)) <= 8)
    assert(hamming(rows(1).getLong(0), rows(1).getLong(1)) > 8)
  }

  test("brute-force cosine top-k: query vector ranks itself first with cos 1.0") {
    val got = Ann.cosineTopk(spark, sf, k = 5).collect()
    assert(got.length === 5)
    assert(got.head.getAs[Double]("cos") === 1.0) // self-similarity
    val cosines = got.map(_.getAs[Double]("cos"))
    assert(cosines.sameElements(cosines.sorted.reverse), "descending order")
  }

  test("IVF ANN: full probe equals brute force exactly; partial probe finds the query") {
    val nlist = 16
    // nProbe = nlist covers every inverted list → must equal the exact top-k
    val full  = Ann.ivfTopk(spark, sf, nlist = nlist, nProbe = nlist, k = 10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Ann.cosineTopk(spark, sf, k = 10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exact, "full-probe IVF must reproduce the exact baseline")
    // partial probe: the query's own cell is always probed → self at cos 1.0
    val part = Ann.ivfTopk(spark, sf, nlist = nlist, nProbe = 2, k = 10).collect()
    assert(part.nonEmpty)
    assert(part.head.getAs[Double]("cos") === 1.0)
  }

  test("LSH bucket ids from the native dot equal the HOF form's") {
    // lshBucket binds VectorExprs.dot itself, so it needs no optimizer
    // rule; this session has none, so the HOF form below stays a HOF
    val planes = 8
    val v = col("embedding").cast("array<double>")
    val hof = (0 until planes).map { p =>
      val plane = array(Ann.hyperplane(p, Ann.Dims).toIndexedSeq.map(lit): _*)
      when(Ann.dot(v, plane) > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    val got = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(Ann.lshBucket(v, planes, Ann.Dims), hof).collect()
    assert(got.nonEmpty && got.forall(r => r.getLong(0) == r.getLong(1)))
    assert(got.map(_.getLong(0)).distinct.length > 1, "buckets must vary")
  }

  test("LSH ANN: single probe stays in the query bucket; full probe == exact; multi-probe recall bound") {
    val planes = 6
    // single probe: the query's own bucket only (contains the query itself)
    val one = Ann.annLshTopk(spark, sf, planes = planes, nProbe = 1, k = 5).collect()
    assert(one.nonEmpty)
    assert(one.head.getAs[Double]("cos") === 1.0)
    assert(one.map(_.getAs[Long]("bucket")).distinct.length === 1,
      "single probe must stay in the query's bucket")
    // full probe (nProbe = 2^planes) covers every bucket of the PERSISTED
    // index → must equal the exact brute-force baseline
    val exact = Ann.cosineTopk(spark, sf, k = 10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Ann.annLshTopk(spark, sf, planes = planes, nProbe = 1 << planes, k = 10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exact, "full-probe LSH must reproduce the exact baseline")
    // multi-probe: flipping the lowest-margin planes must recover a useful
    // fraction of the exact top-k at a fraction of the corpus read
    val multi = Ann.annLshTopk(spark, sf, planes = planes, nProbe = 8, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.map(_._1).count(multi.contains).toDouble / exact.size
    assert(recall >= 0.3, s"multi-probe recall too low: $recall")
  }

  test("multi-probe bucket sequence: query bucket first, nested prefixes, full coverage") {
    val qv = Array.tabulate(64)(i => math.sin(i * 1.7) * 2.0)
    val all = Ann.lshProbeBuckets(qv, planes = 6, nProbe = 64)
    // full probe enumerates every bucket exactly once (the full-probe == exact
    // anchor depends on this)
    assert(all.length === 64 && all.toSet === (0L until 64L).toSet)
    // nProbe=k is always a prefix of nProbe=k' for k < k' (probe cost order is
    // a fixed total order), and the cheapest probe is the query's own bucket
    assert(Ann.lshProbeBuckets(qv, 6, 1) === all.take(1))
    assert(Ann.lshProbeBuckets(qv, 6, 8) === all.take(8))
  }

  test("LSH ANN: probes run against the persisted index without rebuilding") {
    val planes = 6
    val tmp = java.nio.file.Files.createTempDirectory("lshidx").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    Ann.writeLshIndex(Ann.buildLshIndex(e, planes), tmp)
    val index = Ann.readLshIndex(spark, tmp)
    // two different queries probe the SAME persisted table — no rebuild
    val vecs = e.orderBy(col("vec_id")).limit(2)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    vecs.foreach { qv =>
      val got = Ann.lshTopkIndexed(index, qv, planes, nProbe = 4, k = 5).collect()
      assert(got.nonEmpty)
      assert(got.head.getAs[Double]("cos") === 1.0) // each query finds itself
    }
  }

  test("language-ID heuristic: obvious marker texts classify correctly") {
    val df = Seq(
      (0L, "the model of the data and the code"),
      (1L, "der mann und die frau und das kind"),
      (2L, "el problema y la solucion y los datos"),
      (3L, "le monde et les gens et des idees"))
      .toDF("doc_id", "text").withColumn("lang", lit("x"))
    val tmp = java.nio.file.Files.createTempDirectory("lang").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.langId(spark, tmp).collect()
      .map(r => r.getAs[String]("predicted")).toSet
    assert(got === Set("en", "de", "es", "fr"))
  }

  test("multimodal: stub decode is deterministic and byte counts are real") {
    val meta = Multimodal.decodeStage(spark, Multimodal.withMedia(spark, sf))
    val twice = Multimodal.decodeStage(spark, Multimodal.withMedia(spark, sf))
    val a = meta.collect().sortBy(_.doc_id)
    val b = twice.collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq, "stub decode must be deterministic")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    a.foreach(m => assert(m.n_bytes === docs(m.doc_id)))
    assert(a.forall(m => Set("jpeg", "png", "wav", "mp4")(m.format)))
  }

  test("connected components match a sequential union-find on random graphs; chain converges in O(log n)") {
    // deterministic pseudo-random edge sets, checked against a driver-side
    // union-find (the sequential oracle for the distributed algorithm)
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
      val nodesDF = spark.range(n.toLong).toDF("id")
      val edgesDF = edges.toDF("a_id", "b_id")
      val got = graft.ops.Dedup.connectedComponents(nodesDF, edgesDF)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === unionFind(n, edges))
    }
    // random graph (fixed seed), with dup + self edges
    val rnd = new scala.util.Random(7)
    val rand = (0 until 120).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    check(80, rand ++ rand.take(10) ++ Seq((5L, 5L)))
    // worst-case chain: plain neighbor propagation needs O(n) rounds; the
    // pointer-jumping variant must finish inside the 64-round bound
    check(64, (0L until 63L).map(i => (i, i + 1)))
    // isolated nodes stay singleton clusters
    check(6, Seq((0L, 1L)))
  }

  test("planted mega-component: salted jump join is exact, O(log n) rounds") {
    // the skew case the 100-TB dedup actually hits: one boilerplate cluster
    // whose members all converge onto ONE label, concentrating the jump
    // join's key. A 10^4-node chain is the worst case for both dimensions:
    // maximal diameter (tests pointer jumping) and a single final label
    // (tests the salt guard).
    val n = 10000
    val nodesDF = spark.range(n.toLong).toDF("id")
    val edgesDF = spark.range(n - 1L)
      .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
    val base = Dedup.connectedComponentsStats(nodesDF, edgesDF)
    val baseMap = base.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(baseMap.size === n)
    assert(baseMap.values.forall(_ == 0L), "chain must collapse to cluster 0")
    assert(base.rounds <= 16,
      s"pointer jumping must converge in ~log2(n) rounds, took ${base.rounds}")
    // force the guard with a tiny salt threshold: once the mega-label forms,
    // rounds must run salted AND stay exact
    val salted = Dedup.connectedComponentsStats(nodesDF, edgesDF,
      skewSaltRows = 64L, maxSaltShards = 8)
    assert(salted.saltedRounds > 0, "mega-label must trip the salt guard")
    val saltedMap = salted.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saltedMap === baseMap, "salted jump join must be exact")
  }

  test("connected components: durable checkpoint mode yields identical clusters") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val rnd = new scala.util.Random(13)
    val edges = (0 until 150).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
    val nodesDF = spark.range(100L).toDF("id")
    val edgesDF = edges.toDF("a_id", "b_id")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local   = toMap(Dedup.connectedComponents(nodesDF, edgesDF))
    val durable = toMap(Dedup.connectedComponents(nodesDF, edgesDF,
      checkpointDir = Some(dir)))
    assert(durable === local, "reliable-checkpoint mode must not change results")
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)),
      "reliable checkpoints must actually land under the given dir")
  }

  test("dupClustersLsh: planted near-dup group becomes one cluster with min-id survivor") {
    // 12 docs over the same token set (order varies — distinct-token minhash
    // is set-based, so all four bands collide inside one ≤MaxBucket bucket),
    // plus distinct-vocabulary singletons
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "theta", "kappa", "lambda", "sigma")
    val rnd = new scala.util.Random(29)
    val dups = (0L until 12L).map(i => (i, rnd.shuffle(words).mkString(" ")))
    val singles = (12L until 20L).map { i =>
      // tokens are [a-z]+ runs — keep the per-doc vocab purely alphabetic
      val t = ('a' + (i - 12)).toChar
      (i, s"zz${t}one zz${t}two zz${t}three zz${t}four zz${t}five")
    }
    val tmp = java.nio.file.Files.createTempDirectory("lshcc").toString
    (dups ++ singles).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dupClustersLsh(spark, tmp, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
    assert(out.length === 20)
    out.foreach { case (d, c, keep) =>
      if (d < 12L) assert(c === 0L, s"near-dup doc $d must join cluster 0")
      else assert(c === d, s"distinct doc $d must stay a singleton")
      assert(keep === (d == c))
    }
  }

  test("fingerprint: whitespace-normalized dup detection") {
    val df = Seq((0L, "Hello   World"), (1L, "hello world"), (2L, "other text"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("fp").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val groups = TextOps.fingerprint(spark, tmp).collect()
    assert(groups.length === 2)
    assert(groups.find(_.getAs[Long]("n") === 2L).get.getAs[Long]("first_doc") === 0L)
  }

  /** Deterministic 3-blob fixture: blob centers far apart, per-vector noise
    * tiny relative to the separation (assignment margins are huge, so the
    * distributed/driver double-summation-order difference cannot flip them).
    */
  private def blobEmbeddings(perBlob: Int, dims: Int): Seq[(Long, Int, Seq[Float])] = {
    val centers = Array(
      Array.fill(dims)(10.0), Array.fill(dims)(-10.0),
      Array.tabulate(dims)(d => if (d % 2 == 0) 10.0 else -10.0))
    // vec_ids 0,1,2 are one member of each blob → k-means init (the k lowest
    // ids) starts with one centroid per blob
    (0 until 3 * perBlob).map { i =>
      val blob = i % 3
      val v = centers(blob).zipWithIndex.map { case (c, d) =>
        var z = (i.toLong << 16) + d
        z = (z ^ (z >>> 13)) * 0x9e3779b97f4a7c15L
        (c + (math.abs(z % 1000L).toDouble / 1000.0 - 0.5)).toFloat
      }
      (i.toLong, blob, v.toSeq)
    }
  }

  test("k-means: planted blobs are recovered; distributed == driver Lloyd reference") {
    val dims = 4
    val data = blobEmbeddings(perBlob = 20, dims = dims)
    val e0 = data.toDF("vec_id", "label", "embedding")
    val iters = 4
    val got = graft.ops.Cluster.kmeansAssign(e0, k = 3, iters = iters, dims = dims)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // blob purity: every member shares its blob's cluster; blobs differ
    val byBlob = data.groupBy(_._2).view.mapValues(_.map(v => got(v._1)).toSet).toMap
    byBlob.foreach { case (b, cs) => assert(cs.size === 1, s"blob $b split: $cs") }
    assert(byBlob.values.flatten.toSet.size === 3, "blobs must map to distinct clusters")

    // exact parity with the sequential Lloyd reference (same init order,
    // iters-1 recomputes, then a final assignment by nearest centroid)
    val pts = data.sortBy(_._1).map(_._3.map(_.toDouble).toArray).toArray
    val cents = Ann.kmeansDeterministic(pts, k = 3, iters = iters - 1)
    data.foreach { case (id, _, v) =>
      val p = v.map(_.toDouble).toArray
      val best = cents.indices.minBy { c =>
        var d = 0.0; var i = 0
        while (i < dims) { val x = p(i) - cents(c)(i); d += x * x; i += 1 }
        (d, c)
      }
      assert(got(id) === best.toLong, s"vec $id: distributed ${got(id)} vs reference $best")
    }
  }

  test("semantic near-dup: pairs equal brute force within the operator's clusters") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val clusters = graft.ops.Cluster.kmeansClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if clusters(vecs(i)._1) == clusters(vecs(j)._1)
      if cos(vecs(i)._2, vecs(j)._2) >= 0.3
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    val got = graft.ops.Cluster.semanticNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "threshold should yield candidate pairs on this corpus")
  }

  test("shuffle-shard: a deterministic permutation — dense 1..n positions per shard") {
    val out = graft.ops.Prep.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length.toLong === total, "every document gets a slot")
    assert(out.map(_._1).distinct.length === out.length)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < graft.ops.Prep.ShuffleShards)
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions must be dense 1..n")
    }
    val again = graft.ops.Prep.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet === out.toSet, "pure function of doc_id — reproducible")
  }

  test("chunk dedup: corpus-wide keep-first, within-doc repeats drop, text rewritten") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"),            // both chunks first occurrences
      (1L, "alpha beta epsilon zeta"),           // loses "alpha beta" to doc 0
      (2L, "omega psi omega psi"),               // within-doc repeat drops
      (3L, "gamma delta"),                       // whole doc already seen
      (4L, "1234 5678"))                         // no alphabetic tokens -> absent
    val tmp = java.nio.file.Files.createTempDirectory("chunkdedup").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.ops.Prep.chunkDedup(spark, tmp, chunk = 2).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_kept"), r.getAs[String]("clean_text")))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(0L) === ((2L, 2L, "alpha beta gamma delta")))
    assert(out(1L) === ((2L, 1L, "epsilon zeta")))
    assert(out(2L) === ((2L, 1L, "omega psi")))
    assert(out(3L) === ((1L, 0L, "")))
    // trailing partial chunk is kept and can itself dedup
    val odd = Seq((0L, "one two three"), (1L, "zzz yyy three"))
    odd.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val o2 = graft.ops.Prep.chunkDedup(spark, tmp, chunk = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    assert(o2(0L) === "one two three")
    assert(o2(1L) === "zzz yyy") // partial chunk "three" lost to doc 0
  }

  test("vocab encode: deterministic top-V cut, order-preserving ids, OOV as -1") {
    // frequencies: aa x4, bb x3, cc x2 tie dd x2 (token order breaks the
    // tie), ee x1 falls outside V=4
    val docs = Seq(
      (0L, "aa bb cc dd aa"),
      (1L, "bb dd cc aa bb"),
      (2L, "ee aa"),
      (3L, "12 34")) // token-less -> absent
    val tmp = java.nio.file.Files.createTempDirectory("vocab").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.ops.Prep.vocabEncode(spark, tmp, v = 4).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getSeq[Long](r.fieldIndex("ids"))))).toMap
    // vocab: aa=0 (4), bb=1 (3), cc=2 (2, tie ct<dd), dd=3 (2)
    assert(out.keySet === Set(0L, 1L, 2L))
    assert(out(0L) === ((5L, 0L, Seq(0L, 1L, 2L, 3L, 0L))))
    assert(out(1L) === ((5L, 0L, Seq(1L, 3L, 2L, 0L, 1L))))
    assert(out(2L) === ((2L, 1L, Seq(-1L, 0L))))
  }

  test("native vector expressions: bit-identical to the HOF folds, matching null semantics") {
    import graft.functions.VectorExprs
    import java.lang.Double.doubleToLongBits
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
    val rows = a.join(b, col("a_id") + 1 === col("b_id"))
      .select(
        VectorExprs.cosine(col("a_v"), col("b_v")).as("nc"),
        Ann.cosineHof(col("a_v"), col("b_v")).as("hc"),
        VectorExprs.dist2(col("a_v"), col("b_v")).as("nd"),
        graft.ops.Cluster.dist2(col("a_v"), col("b_v")).as("hd"))
      .collect()
    assert(rows.length === 499)
    rows.foreach { r =>
      assert(doubleToLongBits(r.getDouble(0)) === doubleToLongBits(r.getDouble(1)))
      assert(doubleToLongBits(r.getDouble(2)) === doubleToLongBits(r.getDouble(3)))
    }

    // nearest cell: native reference-object loop == HOF fold, every vector
    val cents = e.orderBy(col("vec_id")).limit(5)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    val cells = e.select(VectorExprs.nearestCell(col("v"), cents).as("n"),
      graft.ops.Cluster.nearestCellHof(col("v"), cents).as("h")).collect()
    cells.foreach(r => assert(r.getInt(0) === r.getInt(1)))

    // zip_with pads a length mismatch with nulls (nulling the fold); the
    // native expressions must agree, and element nulls must also null out
    val odd = Seq(
      (Seq(1.0, 2.0), Seq(3.0)),
      (Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a_v", "b_v")
      .withColumn("b_v", when(lit(true), col("b_v"))) // keep nullable type
    val nulled = odd.select(
      VectorExprs.cosine(col("a_v"), col("b_v")).as("nc"),
      Ann.cosineHof(col("a_v"), col("b_v")).as("hc"),
      VectorExprs.dist2(col("a_v"), col("b_v")).as("nd"),
      graft.ops.Cluster.dist2(col("a_v"), col("b_v")).as("hd")).collect()
    assert(nulled.count(_.isNullAt(0)) === 1)
    nulled.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      assert(r.isNullAt(2) === r.isNullAt(3))
    }
  }

  test("boilerplate grams: planted cross-doc phrase flagged, unique doc untouched") {
    val boiler = "subscribe to our newsletter today"
    // per-doc suffix words must be LETTER-distinct: the tokenizer is [a-z]+,
    // so a digit suffix would collapse every doc to the same token stream
    val docs = (0L until 9L).map { i =>
      val s = ('a' + i.toInt).toChar
      (i, s"$boiler unique$s$s content$s$s words$s$s")
    } :+ (9L, "entirely original prose with no shared material anywhere")
    val tmp = java.nio.file.Files.createTempDirectory("boiler").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // threshold 50% of docs: the planted phrase's bigrams (in 9/10 docs)
    // qualify; each doc's unique suffix bigrams don't
    val out = graft.ops.Prep.boilerplateGrams(spark, tmp, n = 2, minDocFracBp = 5000L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"))).toMap
    (0L until 9L).foreach { i =>
      // "subscribe to","to our","our newsletter","newsletter today" = 4
      // boilerplate bigrams; "today unique$i" etc. are per-doc unique
      assert(out(i)._2 === 4L, s"doc $i boiler grams: ${out(i)}")
      assert(out(i)._1 === 7L)
    }
    assert(out(9L)._2 === 0L, "unique doc carries no boilerplate")
  }

  // Native expressions are bound into their Columns, not looked up by name:
  // a Column built under one session resolves in any other, and plans built
  // at once in one session cannot see each other's bound state.
  test("a native Column built in one session evaluates in another, equal to its HOF form") {
    SparkSession.setActiveSession(spark)
    // built while the shared session is active ...
    val native: Seq[(String, Column)] = Seq(
      "tokens"  -> TextOps.tokens(col("text")),
      "nonstop" -> TextOps.nonStopTokens(col("text")),
      "bigrams" -> TextOps.bigrams(col("toks")),
      "minhash" -> HashExprs.minhash(col("toks")),
      "simhash" -> HashExprs.simhash(col("toks")),
      "charsum" -> TextExprs.charSum(col("toks")),
      "sethits" -> TextExprs.setHits(col("toks"), TextOps.Stopwords),
      "cosine"  -> VectorExprs.cosine(col("a"), col("b")),
      "dist2"   -> VectorExprs.dist2(col("a"), col("b")),
      "dot"     -> VectorExprs.dot(col("a"), col("b")))
    // ... and evaluated in a fresh session whose registry holds no graft_* name
    val ns = spark.newSession()
    assert(SparkSession.getActiveSession.contains(spark))
    val df = ns.createDataFrame(Seq(
      ("The quick brown fox and the lazy dog of the town", Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0)),
      ("İstanbul KELVIN K a1b2 🦊fox🦊dog", Seq(0.25, 4.0, -3.0), Seq(1.0, 1.0, 1.0)),
      ("to be", Seq(2.0, 0.0, 1.0), Seq(2.0, 0.0)),
      ("", Seq(1.0), Seq(3.0))))
      .toDF("text", "a", "b")
      .withColumn("toks", TextOps.tokensRegex(col("text")))
    val hof: Map[String, Column] = Map(
      "tokens"  -> TextOps.tokensRegex(col("text")),
      "nonstop" -> TextOps.nonStopTokensHof(col("text")),
      "bigrams" -> TextOps.bigramsHof(col("toks")),
      "minhash" -> Dedup.minhashSignatureFromTokensHof(col("toks")),
      "simhash" -> Dedup.simhashFromTokensHof(col("toks")),
      "charsum" -> aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)).cast("long"),
      "sethits" -> size(filter(col("toks"),
        t => t.isin(TextOps.Stopwords.map(_.asInstanceOf[Any]): _*))),
      "cosine"  -> Ann.cosineHof(col("a"), col("b")),
      "dist2"   -> Cluster.dist2(col("a"), col("b")),
      "dot"     -> Ann.dot(col("a"), col("b")))
    native.foreach { case (name, c) =>
      val got = df.select(c).collect().toSeq
      assert(got === df.select(hof(name)).collect().toSeq, name)
      assert(got.length === 4)
    }

    // a whole dedup query runs there and registers nothing
    assert(SparkEntry.queries("q_minhash_lsh")(ns, sf).count() >= 0L)
    val graftFns = ns.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, graftFns.mkString(", "))
    ns.catalog.clearCache()
  }

  test("k-means plans built at once in one session each equal their solo run") {
    // each assignment Column carries its own centroid snapshot; two plans
    // with different data and k, built on two threads, must not bind each
    // other's centroids
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def planA() = Cluster.kmeansAssign(emb, 3, 3, Ann.Dims)
    def planB() = Cluster.kmeansAssign(emb.filter(col("vec_id") % 2 === 0), 5, 3, Ann.Dims)
    def result(df: DataFrame): Seq[(Long, Long)] =
      df.select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val soloA = result(planA())
    val soloB = result(planB())
    assert(soloA.map(_._2).distinct.size > 1 && soloB.map(_._2).distinct.size > 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 20).foreach { round =>
        val start = new java.util.concurrent.CountDownLatch(1)
        def task(plan: () => DataFrame) = pool.submit(
          new java.util.concurrent.Callable[Seq[(Long, Long)]] {
            def call(): Seq[(Long, Long)] = { start.await(); result(plan()) }
          })
        val a = task(() => planA())
        val b = task(() => planB())
        start.countDown()
        assert(a.get() === soloA, s"round $round: plan A")
        assert(b.get() === soloB, s"round $round: plan B")
      }
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}
