package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Unit tests for the dedup / similarity / text-analysis extension
  * operators. */
class ExtSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("shingles: distinct word n-grams, row-local") {
    val sh = Dedup.shingles(docs(1L -> "a b c d"), "doc_id", "text", 3)
      .select("shingle").as[String].collect().sorted
    assert(sh.toSeq == Seq("a b c", "b c d"))
  }

  test("exactByContent groups case-insensitively, min id survives") {
    val d = docs(1L -> "Hello World", 2L -> "hello world", 3L -> "other")
    val out = Dedup.exactByContent(d, "doc_id", "text")
      .select("survivor_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("jaccardPairs exact on known sets; stop-shingle cap prunes join") {
    // doc1 {a b c, b c d}, doc2 {x y b, y b c, b c d}: common = {b c d},
    // union = 2 + 3 − 1 = 4 → jaccard 0.25
    val d = docs(1L -> "a b c d", 2L -> "x y b c d", 3L -> "q r s t")
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    val pairs = Dedup.jaccardPairs(sh, "doc_id")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0.25)))
    // with maxDf = 1 every shared shingle is a stop-shingle → no pairs
    assert(Dedup.jaccardPairs(sh, "doc_id", maxDf = 1L).count() == 0)
  }

  test("minhash LSH banding surfaces identical docs as candidates") {
    val d = docs(1L -> "w x y z a b", 2L -> "w x y z a b", 3L -> "p q r s t u")
    val sh  = Dedup.shingles(d, "doc_id", "text", 3)
    val ids = Dedup.shingleIds(sh)
    val bk  = Dedup.minhashBuckets(ids, "doc_id", numHashes = 16, rowsPerBand = 4)
    val cand = Dedup.minhashCandidates(bk, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L)))
  }

  test("minhash production path (xxhash64 ids, no dictionary) finds planted dups") {
    // the scale path (minhashBucketsRowLocal) skips the sorted dictionary
    // entirely — shingle ids are row-local xxhash64; candidates must still
    // surface identical docs
    val d = docs(1L -> "w x y z a b", 2L -> "w x y z a b", 3L -> "p q r s t u")
    val bk = Dedup.minhashBucketsRowLocal(d, "doc_id", "text", n = 3,
      numHashes = 16, rowsPerBand = 4)
    val cand = Dedup.minhashCandidates(bk, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L)))
  }

  test("sketch accuracy: approx_count_distinct and percentile_approx within bounds") {
    // the 100 TB substitutes for exact distinct/percentile: HLL++ and
    // KLL-style sketches; assert documented error bounds on fixture data
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val (approxD, exactD) = li.select(
        approx_count_distinct(col("l_partkey"), rsd = 0.05).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.15,
      s"approx=$approxD exact=$exactD")
    val row = li.select(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("a"),
        percentile(col("l_extendedprice"), lit(0.5)).as("e"))
      .as[(Double, Double)].head()
    assert(math.abs(row._1 - row._2) / row._2 < 0.05,
      s"approx=${row._1} exact=${row._2}")
  }

  test("simhash accepts full-range xxhash64 token ids (no ANSI overflow)") {
    // production path: xxhash64 shingle ids (minhashBucketsRowLocal)
    // span the full signed-64 range; the unguarded
    // sid * 2654435761 overflows long and ANSI mode (Spark 4 default)
    // throws. The pmod reduction must make this a working hash, and
    // dictionary-id values must be unchanged by it (pmod is identity
    // below 2^31-1 — the oracle-parity premise).
    val extreme = Seq((1L, Long.MinValue), (1L, Long.MaxValue),
      (2L, -987654321098765432L), (2L, 42L)).toDF("doc_id", "sid")
    val out = Dedup.simhash(extreme, "doc_id").as[(Long, Long)].collect()
    assert(out.length == 2 && out.forall(r => r._2 >= 0L && r._2 < (1L << 16)))
  }

  test("simhashPairs rejects maxHamming >= bits (zero-width segment)") {
    // at maxHamming >= bits a pigeonhole segment has zero width and
    // mask 0 — every doc shares one bucket and the banded join silently
    // becomes the O(n²) cross join; must fail fast instead
    val df = Seq((1L, 5L), (2L, 6L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", maxHamming = 16, bits = 16)
    }
    assert(e.getMessage.contains("zero"))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", maxHamming = -1, bits = 16)
    }
  }

  test("jaccardPairs borrows a caller-held cache instead of dropping it") {
    // the helper fans the shingle frame into four consumers and persists
    // it; if the CALLER already persisted it (to reuse across several
    // dedup passes), that cache must survive the call
    val d = docs(1L -> "a b c d", 2L -> "x y b c d")
    val sh = Dedup.shingles(d, "doc_id", "text", 3).persist()
    try {
      sh.count()
      assert(Dedup.jaccardPairs(sh, "doc_id").count() >= 1)
      assert(sh.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "caller's cache was dropped by the helper")
      // and a SECOND dedup pass over the same frame consumes the cache —
      // the q97 composition's premise (one corpus shingling feeds both
      // passes): its scan must be an InMemoryTableScan, not a re-run of
      // the shingling lineage
      val mh = Dedup.minhashBuckets(
        sh.withColumn("sid", xxhash64(col("shingle"))), "doc_id",
        numHashes = 8, rowsPerBand = 2)
      assert(mh.count() > 0)
      val plan = mh.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"second pass did not read the shared cache:\n${plan.take(1500)}")
    } finally sh.unpersist()
  }

  test("chunk: overlapping windows, exact boundaries, every doc chunks") {
    val d = docs(1L -> (1 to 10).map("t" + _).mkString(" "), 2L -> "a",
      3L -> "")
    val out = TextAnalysis.chunk(d, "doc_id", "text",
        chunkLen = 4, stride = 3)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_text")
      .as[(Long, Int, Int, Int, String)].collect().sorted.toSeq
    assert(out == Seq(
      // doc 1: 10 tokens → starts 0,3,6,9; 1-token overlap per pair
      (1L, 0, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 3, 4, "t4 t5 t6 t7"),
      (1L, 2, 6, 4, "t7 t8 t9 t10"),
      (1L, 3, 9, 1, "t10"),
      // short and empty docs still emit exactly one chunk (split("")
      // yields one empty token — the tokenizer's convention, q37 parity)
      (2L, 0, 0, 1, "a"),
      (3L, 0, 0, 1, "")))
    // a stride above chunkLen would silently drop tokens between chunks
    intercept[IllegalArgumentException] {
      TextAnalysis.chunk(d, "doc_id", "text", chunkLen = 3, stride = 4)
    }
  }

  test("chunk == the q98 oracle arithmetic at EVERY (chunkLen, stride), " +
      "incl. the empty-string boundary") {
    // ADVICE r18 #8: the q98 oracle generates starts with DuckDB's
    // `generate_series(0, greatest(len(t)-1, 0), stride)` over
    // `string_split(text, ' ')` — which tokenizes '' to [''] (len 1),
    // exactly like Spark's split. The engine and a verbatim Scala
    // transcription of the ORACLE's arithmetic must agree on every
    // boundary, length, and chunk text at every legal (chunkLen, stride),
    // not just the registered 64/48 — cheap insurance for the next
    // fixture generation. Exhaustive: 36 combos × 5 corner docs.
    val corner = Seq(
      1L -> "",                                     // [''] — len 1
      2L -> "a",                                    // single token
      3L -> (1 to 8).map("w" + _).mkString(" "),    // == max chunkLen
      4L -> (1 to 9).map("w" + _).mkString(" "),    // chunkLen + 1
      5L -> (1 to 17).map("w" + _).mkString(" "))   // several strides
    val d = docs(corner: _*)
    for (chunkLen <- 1 to 8; stride <- 1 to chunkLen) {
      val got = TextAnalysis.chunk(d, "doc_id", "text", chunkLen, stride)
        .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_text")
        .as[(Long, Int, Int, Int, String)].collect().sorted.toSeq
      val want = corner.flatMap { case (id, text) =>
        val t = text.split(" ", -1).toSeq // split('') == Seq("") both engines
        (0 to math.max(t.length - 1, 0) by stride).map { i =>
          (id, i / stride, i, math.min(chunkLen, t.length - i),
            t.slice(i, i + chunkLen).mkString(" "))
        }
      }.sorted
      assert(got == want, s"chunkLen=$chunkLen stride=$stride")
    }
  }

  test("simhashPairs pigeonhole banding == brute force") {
    // random 16-bit signatures; banding must find EXACTLY the pairs
    // within hamming <= 2 (recall 1 by pigeonhole)
    val rnd = new scala.util.Random(7)
    val sigs = (1L to 40L).map(i => (i, rnd.nextInt(1 << 16).toLong)) ++
      Seq((41L, 0x00FFL), (42L, 0x00FEL), (43L, 0x00FFL)) // planted close
    val df = sigs.toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(df, "doc_id", maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (a, b)).toSet
    assert(got == want && want.contains((41L, 42L)) && want.contains((41L, 43L)))
  }

  test("quantizeInt8: known codes, scale = max|x|/127, roundtrip error ≤ scale/2") {
    val df = Seq((1L, Seq(1.27f, -1.27f, 0.635f, 0.0f)),
        (2L, Seq(0.02f, -0.01f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "embedding")
      .select(col("vec_id"), col("q8_scale"), col("q8"),
        Similarity.dequantizeInt8(col("q8"), col("q8_scale")).as("dq"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Double, Seq[Byte], Seq[Double], Seq[Double])]
      .collect().sortBy(_._1)
    val (_, s1, q1, dq1, v1) = q(0)
    assert(math.abs(s1 - 1.27 / 127.0) < 1e-9)
    assert(q1 == Seq[Byte](127, -127, 64, 0), s"codes: $q1")
    v1.zip(dq1).foreach { case (x, d) =>
      assert(math.abs(x - d) <= s1 / 2 + 1e-9, s"err ${math.abs(x - d)}")
    }
    val (_, s2, q2, _, _) = q(1)
    assert(q2.forall(b => b >= -127 && b <= 127))
    assert(math.abs(s2 - 0.02f.toDouble / 127.0) < 1e-9)
  }

  test("cosine: exact values via HOF dot products") {
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(2.0, 2.0)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairsBruteForce(df, "vec_id", "embedding",
      threshold = -1.0)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(pairs((1L, 2L)) == 0.0)
    assert(math.abs(pairs((1L, 3L)) - 0.707107) < 1e-6)
  }

  test("fused expressions ignore the session's function registry") {
    // the kernels are bound as Columns, so no graft_ name is ever looked
    // up: squatting or dropping one in a session changes no result there
    val vecs = Seq((1L, Seq(0.3, -1.2, 0.7, 2.2)),
      (2L, Seq(-0.5, 0.4, -0.1, 0.9)), (3L, Seq(1.0, 1.0, 1.0, 1.0)))
    val texts = Seq(1L -> "a b c d e f", 2L -> "a b c d e g",
      3L -> "q r s t u v")
    type S = org.apache.spark.sql.SparkSession
    def cosines(s: S) = {
      val v = s.createDataFrame(vecs).toDF("id", "v")
      v.as("x").crossJoin(v.as("y"))
        .select(col("x.id"), col("y.id"),
          Similarity.cosine(col("x.v"), col("y.v")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    }
    def bands(s: S) =
      s.createDataFrame(vecs).toDF("id", "v")
        .select(col("id"), Similarity.lshBandBuckets(col("v"), 4, 3, 5))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
        .toSeq
    def buckets(s: S) =
      Dedup.minhashBucketsRowLocal(s.createDataFrame(texts)
          .toDF("doc_id", "text"), "doc_id", "text", 3, 8, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sorted.toSeq
    val kernels = Seq[(String, S => Seq[Any])]("cosine" -> cosines,
      "lshBandBuckets" -> bands, "minhashBucketsRowLocal" -> buckets)
    val expected = kernels.map { case (_, f) => f(spark) }
    assert(expected(2).nonEmpty)
    val s2 = spark.newSession()
    val names = Seq("graft_cosine_sim", "graft_lsh_bands",
      "graft_minhash_mins")
    def check(step: String): Unit =
      kernels.zip(expected).foreach { case ((k, f), want) =>
        assert(f(s2) == want, s"$k changed after the graft_ names were $step")
      }
    names.foreach(n =>
      s2.sessionState.functionRegistry.createOrReplaceTempFunction(n,
        _ => org.apache.spark.sql.catalyst.expressions.Literal(-99.0),
        "scala_udf"))
    check("squatted")
    names.foreach(n => s2.sql(s"DROP TEMPORARY FUNCTION $n"))
    check("dropped")
  }

  test("native codegen cosine == HOF cosine bit-for-bit") {
    val rnd = new scala.util.Random(3)
    val vecs = (1 to 50).map(_ => (Seq.fill(64)(rnd.nextGaussian()),
      Seq.fill(64)(rnd.nextGaussian()))).toDF("a", "b")
    val both = vecs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    // identical accumulation order → identical IEEE doubles, no epsilon
    assert(both.forall { case (n, h) => n == h })
  }

  test("native lsh band hashing == HOF formulation bit-for-bit") {
    val vecs = Seq((1L, Seq(0.3, -1.2, 0.7, 2.2)),
        (2L, Seq(-0.5, 0.4, -0.1, 0.9)), (3L, Seq(1.0, 1.0, 1.0, 1.0)),
        (4L, Seq(-2.0, -0.01, 3.5, 0.0)))
      .toDF("id", "v")
    val both = vecs.select(col("id"),
        graft.ext.Similarity.lshBandBuckets(col("v"), 4, 3, 5).as("native"),
        graft.ext.Similarity.lshBandBucketsHof(col("v"), 4, 3, 5).as("hof"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, n, h) =>
      assert(n == h, s"id=$id native=$n hof=$h")
    }
  }

  test("cosineTopK: at most k neighbors per query, scores non-increasing") {
    val vecs = (1L to 6L).map(i =>
      (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7)))).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(vecs.filter(col("vec_id") <= 2), vecs,
      "vec_id", "embedding", k = 3)
      .select("query_id", "score", "rank").as[(Long, Double, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length == 3)
      val ordered = rows.sortBy(_._3).map(_._2)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cosinePairsLsh: subset of brute force, finds exact duplicates") {
    val rnd = new scala.util.Random(11)
    val base = (1L to 30L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val withDup = base :+ (31L, base.head._2) // identical to vec 1
    val df = withDup.toDF("vec_id", "embedding")
    val brute = Similarity.cosinePairsBruteForce(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.cosinePairsLsh(df, "vec_id", "embedding",
      dims = 8, bands = 4, bitsPerBand = 2, threshold = 0.9)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(brute))
    // identical vectors share every band bucket → always found
    assert(lsh.exists { case (a, b, c) => a == 1L && b == 31L && c == 1.0 })
  }

  test("lshBucketedTopK == brute-force top-k over same-bucket pairs") {
    // the q36 oracle shape: bucket every vector (the HOF reference
    // hashing), keep buckets of 2..cap members, rank each vector's
    // bucket-mates by (score desc, id asc) and keep k. The cap drops the
    // largest bucket.
    val rnd = new scala.util.Random(13)
    val vecs = (1L to 40L).map(i => (i, Seq.fill(4)(rnd.nextGaussian())))
    val bucketOf = vecs.toDF("vec_id", "embedding").select(col("vec_id"),
        element_at(Similarity.lshBandBucketsHof(col("embedding"), 4, 1, 2), 1))
      .as[(Long, Long)].collect().toMap
    val cap = vecs.groupBy(v => bucketOf(v._1)).values.map(_.size).max - 1
    def cos(a: Seq[Double], b: Seq[Double]) = BigDecimal(
        a.zip(b).map(p => p._1 * p._2).sum /
          (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = vecs.groupBy(v => bucketOf(v._1)).filter(_._2.size <= cap)
      .toSeq.flatMap { case (bucket, m) => m.flatMap { case (q, qv) =>
        m.filter(_._1 != q).map { case (n, nv) => (n, cos(qv, nv)) }
          .sortBy { case (n, sc) => (-sc, n) }.take(3).zipWithIndex
          .map { case ((n, sc), i) => (bucket, q, n, sc, i + 1) }
      } }
    val got = Similarity.lshBucketedTopK(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dims = 4, nBits = 2, k = 3, maxBucketSize = cap)
      .select("bucket", "query_id", "neighbor_id", "score", "rank")
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(want.nonEmpty && got.sorted.toSeq == want.sorted,
      s"extra ${got.toSet -- want}, missing ${want.toSet -- got}")
  }

  test("tfidf: exact values on a known corpus") {
    // "a" in both docs → ln(2/2)=0; "b" only in doc1 → tf=2, ln(2/1)
    val d = docs(1L -> "a b b", 2L -> "a c")
    val got = TextAnalysis.tfidf(d, "doc_id", "text")
      .select("doc_id", "tok", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((1L, "a")) == ((1L, 2L, 0.0)))
    assert(got((1L, "b")) == ((2L, 1L,
      math.rint(2 * math.log(2.0) * 10000) / 10000)))
    assert(got((2L, "c")) == ((1L, 1L,
      math.rint(math.log(2.0) * 10000) / 10000)))
  }

  test("ivfTopK: ≤ k per query, self excluded, deterministic across runs") {
    val rnd = new scala.util.Random(5)
    val df = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    def run() = Similarity.ivfTopK(df, "vec_id", "embedding",
      col("vec_id") <= 5, nLists = 4, nProbe = 2, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val out = run()
    assert(out.groupBy(_._1).values.forall(_.length <= 3))
    assert(out.forall { case (q, n, _) => q != n })
    assert(out == run()) // seeded quantizer → repeatable
  }

  test("langId picks the marker-dominant language, 'und' when no markers") {
    val d = Seq(
      (1L, "the cat is one of the animals in a house"),
      (2L, "le chat et la maison de un chien"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("qualityScore stays in [0,1]") {
    val d = Seq("the of and in is to a", "x", "!!!???;;;",
      ("word " * 200).trim).toDF("text")
    val scores = d.select(TextAnalysis.qualityScore(col("text")))
      .as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("fingerprint is order-sensitive, n_tokens exact") {
    val d = docs(1L -> "alpha beta", 2L -> "beta alpha")
    val fp = TextAnalysis.fingerprint(d, "doc_id", "text")
      .select("doc_id", "fingerprint", "n_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fp(1L)._1 != fp(2L)._1)   // swapped tokens change the hash
    assert(fp(1L)._2 == 2L && fp(2L)._2 == 2L)
  }

  test("tokenDict ids are the sorted rank") {
    val d = docs(1L -> "b c", 2L -> "a c")
    val dict = TextAnalysis.tokenDict(d, "text")
      .as[(String, Long)].collect().toMap
    assert(dict == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("q92 redaction deltas stay exact when the base text itself contains PII") {
    // q92's oracle recomputes counts/lengths from the planting rule and
    // never runs a regex — which is only sound because the engine side
    // reports DELTAS attributable to the planted dirt (base-text matches
    // cancel across the subtraction). Pin that: salt every 5th doc of a
    // staged corpus copy with a real email AND url, then the planting-rule
    // arithmetic must still hold row-for-row over the salted corpus.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf fixture not present")
    val staged = TestSpark.tempDir("docs_pii_")
    Tables.documents(spark, sf)
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" mail someone@mail.example.com or " +
            "see http://www.example.com/a here"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val lens = spark.read.parquet(s"$staged/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val rows = QueryRegistry.byName("q92_pii_redaction")
      .fn(spark, staged.toString)
      .select("doc_id", "n_emails", "n_urls", "len_clean")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.exists(_._1 % 5 == 0), "salt never landed — vacuous test")
    rows.foreach { case (id, ne, nu, lc) =>
      assert(ne == (if (id % 7 == 0) 1L else 0L), s"doc $id n_emails=$ne")
      assert(nu == (if (id % 11 == 0) 1L else 0L), s"doc $id n_urls=$nu")
      val expect = lens(id) + (if (id % 7 == 0) 20L else 0L) +
        (if (id % 11 == 0) 15L else 0L)
      assert(lc == expect, s"doc $id len_clean=$lc expected=$expect")
    }
  }

  test("paragraphHashes: non-overlapping blocks partition every token, " +
    "identical blocks hash identically across docs") {
    val d = docs(
      1L -> (1 to 70).map(i => s"t$i").mkString(" "),      // 3 paras: 32+32+6
      2L -> (1 to 32).map(i => s"t$i").mkString(" "),      // == doc 1 para 0
      3L -> "solo")
    val p = Dedup.paragraphHashes(d, "doc_id", "text", paraLen = 32)
      .select("doc_id", "para_id", "para_hash")
      .as[(Long, Int, String)].collect()
    assert(p.count(_._1 == 1L) == 3 && p.count(_._1 == 2L) == 1 &&
      p.count(_._1 == 3L) == 1)
    // stride == len: paragraph ids are contiguous from 0
    assert(p.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 1, 2))
    // doc 2 IS doc 1's first paragraph — sub-document dedup's raison d'etre
    val h1 = p.find(r => r._1 == 1L && r._2 == 0).get._3
    assert(p.find(_._1 == 2L).get._3 == h1)
    assert(p.find(_._1 == 3L).get._3 != h1)
  }

  test("epochShuffle: reproducible for a seed, reshuffled by the next, " +
    "ranks contiguous per shard, shards in range") {
    val d = docs((0L until 200L).map(i => i -> s"doc $i"): _*)
    def run(seed: String) = TextAnalysis.epochShuffle(d, "doc_id", seed)
      .select("doc_id", "shuffle_key", "shard", "epoch_pos")
      .as[(Long, String, Int, Long)].collect().sortBy(_._1).toSeq
    val a = run("epoch1")
    assert(run("epoch1") == a, "same seed must reproduce the epoch order")
    val b = run("epoch2")
    assert(a.map(r => (r._1, r._3, r._4)) != b.map(r => (r._1, r._3, r._4)),
      "a new seed must reshuffle")
    assert(a.forall(r => r._3 >= 0 && r._3 < 16))
    // per shard: epoch_pos is exactly 1..n (a training loader walks it)
    a.groupBy(_._3).foreach { case (shard, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.size).toSeq,
        s"shard $shard ranks not contiguous")
    }
    // the md5 key is order-defining: within a shard, pos follows key
    a.groupBy(_._3).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._4).map(_._2)
      assert(byPos == byPos.sorted)
    }
    // hexWidth 8 would overflow the int shard cast (nulling ~half the
    // corpus into one skewed shard) — must reject, 7 must not
    intercept[IllegalArgumentException] {
      TextAnalysis.epochShuffle(d, "doc_id", "s", hexWidth = 8)
    }
    TextAnalysis.epochShuffle(d, "doc_id", "s", hexWidth = 7)
  }

  test("incrementalCandidates: planted cross-side dup caught, " +
    "batch side broadcasts") {
    val corpus = docs(
      0L -> "x y z w q r s t u v",
      2L -> "totally different corpus tokens living here now ok")
    val batch = docs(1L -> "x y z w q r s t u v") // exact copy of doc 0
    val out = Dedup.incrementalCandidates(
      Dedup.minhashBucketsRowLocal(corpus, "doc_id", "text", 3, 24, 3),
      Dedup.minhashBucketsRowLocal(batch, "doc_id", "text", 3, 24, 3),
      "doc_id")
    // identical docs share every minhash -> every band collides
    assert(out.select("new_id", "old_id").as[(Long, Long)]
      .collect().toSet == Set((1L, 0L)))
    // the scale claim: the BATCH side broadcasts — no probe join may
    // shuffle index rows
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // the boilerplate-bucket guard: an oversized corpus bucket is
    // pruned BEFORE the probe. Three identical corpus docs put 3
    // members in every one of their buckets; maxBucketSize = 2 must
    // drop them all (no candidates), the default must catch all three.
    val corpus3 = docs(0L -> "x y z w q r s t u v",
      2L -> "x y z w q r s t u v", 4L -> "x y z w q r s t u v")
    def probe(cap: Int) = Dedup.incrementalCandidates(
      Dedup.minhashBucketsRowLocal(corpus3, "doc_id", "text", 3, 24, 3),
      Dedup.minhashBucketsRowLocal(batch, "doc_id", "text", 3, 24, 3),
      "doc_id", maxBucketSize = cap)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(probe(2) == Set.empty)
    assert(probe(1000) == Set((1L, 0L), (1L, 2L), (1L, 4L)))
  }

  test("bigramLm: exact hand-computed smoothed log-probs, " +
    "single-token docs drop out") {
    // corpus: c(a,b)=3, c(b,a)=1; first-word counts a=3, b=1; V=3
    val d = docs(1L -> "a b a b", 2L -> "a b", 3L -> "z")
    val out = TextAnalysis.bigramLm(d, "doc_id", "text")
      .select("doc_id", "n_bigrams", "sum_lnp_micro", "avg_lnp")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // ln((3+1)/(3+3)) = ln(2/3) -> -405465 micro; ln((1+1)/(1+3)) =
    // ln(1/2) -> -693147 micro
    assert(out == Seq(
      (1L, 3L, -405465L * 2 + -693147L, -0.5014),
      (2L, 1L, -405465L, -0.4055)))
  }
}
