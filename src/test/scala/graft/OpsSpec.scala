package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CleaningOps, RelationalOps}

/** Unit tests for the relational/cleaning operator combinators
  * (SURVEY.md §5.2: trim semantics, mode tie-break, IQR degenerate
  * fences, dictionary ranking). */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("trimLowImportance keeps only rows popular on BOTH keys, single pass") {
    // item 1 has 3 rows, item 2 has 1; user a has 3 rows, user b has 1.
    val fact = Seq((1, "a"), (1, "a"), (1, "b"), (2, "a"))
      .toDF("item", "user")
    val out = RelationalOps.trimLowImportance(fact, "item", 2, "user", 2)
      .select("item", "user").as[(Int, String)].collect()
    // single pass like the reference: user counts are over ALL items,
    // so (1, a) survives ×2 and nothing else
    assert(out.length == 2)
    assert(out.forall(r => r == ((1, "a"))))
  }

  test("modeOf breaks ties by smallest value") {
    val df = Seq("b", "a", "b", "a", "c").toDF("v")
    val m = RelationalOps.modeOf(df, "v").collect()
    assert(m.length == 1 && m(0).getString(0) == "a" && m(0).getLong(1) == 2L)
  }

  test("removeOutliersIqr drops far outliers, keeps the bulk") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    assert(RelationalOps.removeOutliersIqr(df, Seq("x")).count() == 100)
    val withOutlier = ((1 to 20).map(_.toDouble) :+ 1e6).toDF("x")
    val kept = RelationalOps.removeOutliersIqr(withOutlier, Seq("x"))
      .as[Double].collect()
    assert(!kept.contains(1e6) && kept.length == 20)
  }

  test("removeOutliersIqr degenerate IQR=0 keeps equal values (>=/<= branch)") {
    val df = (Seq.fill(10)(10.0) :+ 1000.0).toDF("x")
    // Q1 = Q3 = 10 → IQR 0; strict fences would drop everything, the
    // inclusive branch keeps exactly the constant bulk
    val kept = RelationalOps.removeOutliersIqr(df, Seq("x")).as[Double].collect()
    assert(kept.length == 10 && kept.forall(_ == 10.0))
  }

  test("zipWithRank = row_number over sorted order, distributed") {
    val df = Seq("c", "a", "d", "b").toDF("v").repartition(3)
    val ranked = RelationalOps.zipWithRank(df, Seq(col("v")), "rk")
      .as[(String, Long)].collect().sortBy(_._2)
    assert(ranked.toSeq == Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
  }

  test("zipWithPrefixSum = exclusive running sum in sort order, distributed") {
    // (key, weight) deliberately delivered unsorted across 3 partitions;
    // exclusive prefix: a→0, b→2, c→5, d→6 (a=2, b=3, c=1 precede)
    val df = Seq(("c", 1L), ("a", 2L), ("d", 4L), ("b", 3L))
      .toDF("v", "w").repartition(3)
    val got = RelationalOps.zipWithPrefixSum(df, Seq(col("v")), "w", "cum")
      .select("v", "cum").as[(String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 0L), ("b", 2L), ("c", 5L), ("d", 6L)))
    // q52's use: arank_g = cum_before + (n_g+1)/2 must equal avg of the
    // consecutive ranks the group occupies — pin the identity on a
    // grouped frame with ties
    val rows = Seq(("x", 1.0), ("x", 0.0), ("y", 1.0), ("z", 0.0), ("z", 1.0))
      .toDF("score", "y")
    val ranked = RelationalOps.zipWithRank(rows,
      Seq(col("score"), col("y")), "rn")
    val viaAvg = ranked.groupBy("score")
      .agg(org.apache.spark.sql.functions.avg(col("rn")).as("arank"))
      .as[(String, Double)].collect().toMap
    val groups = rows.groupBy("score")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_g"))
    val viaCum = RelationalOps.zipWithPrefixSum(groups,
        Seq(col("score")), "n_g", "cum")
      .select(col("score"), (col("cum").cast("double")
        + (col("n_g") + 1).cast("double") / 2).as("arank"))
      .as[(String, Double)].collect().toMap
    assert(viaAvg == viaCum)
  }

  test("exactPercentileFromPrefix is bit-equal to functions.percentile") {
    import org.apache.spark.sql.functions.{count, lit, percentile}
    // fixtures that hit every branch of Percentile.getPercentile:
    // odd count (integral position), even count (0.5 interpolation),
    // ties spanning the middle (higherKey == lowerKey short-circuit),
    // a single row, and several percentages (interpolation fractions
    // other than 0.5)
    val fixtures = Seq(
      Seq(3.0, 1.0, 2.0),                          // odd, distinct
      Seq(4.0, 1.0, 3.0, 2.0),                     // even, distinct
      Seq(2.0, 2.0, 2.0, 7.0),                     // tie across the middle
      Seq(5.5),                                    // single row
      Seq(10.0, 10.0, 1.0, 1.0, 5.0, 7.25, 7.25))  // mixed ties
    for (vals <- fixtures; p <- Seq(0.0, 0.25, 0.5, 0.75, 1.0)) {
      val df = vals.toDF("x").repartition(3)
      val expected = df.agg(percentile(col("x"), lit(p))).head().getDouble(0)
      val groups = df.groupBy("x").agg(count(lit(1)).as("n"))
      val ps = RelationalOps.zipWithPrefixSum(groups, Seq(col("x")), "n", "cum")
      val got = RelationalOps.exactPercentileFromPrefix(
        ps, "x", "n", "cum", vals.size.toLong, p)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(expected),
        s"vals=$vals p=$p got=$got expected=$expected")
    }
  }

  test("exactPercentileBracketed is bit-equal to functions.percentile") {
    import org.apache.spark.sql.functions.{lit, percentile}
    // same branch-covering fixtures as the prefix-sum variant, PLUS a
    // large-ish tied/dense sample where the bracket genuinely prunes
    // (the sketch path only degenerates to exact below ~accuracy rows,
    // so exercise both a tiny accuracy — forcing real compression and
    // wide brackets — and the production default)
    val rng = new scala.util.Random(7)
    val dense = Seq.fill(2000)(math.floor(rng.nextDouble() * 50) / 7.0)
    val fixtures = Seq(
      Seq(3.0, 1.0, 2.0),
      Seq(4.0, 1.0, 3.0, 2.0),
      Seq(2.0, 2.0, 2.0, 7.0),
      Seq(5.5),
      Seq(10.0, 10.0, 1.0, 1.0, 5.0, 7.25, 7.25),
      dense)
    for (vals <- fixtures; p <- Seq(0.0, 0.25, 0.5, 0.75, 1.0);
         acc <- Seq(100, 10000)) {
      val df = vals.toDF("x").repartition(3)
      val expected = df.agg(percentile(col("x"), lit(p))).head().getDouble(0)
      val got = RelationalOps.exactPercentileBracketed(df, "x", p, acc).get
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(expected),
        s"n=${vals.size} p=$p acc=$acc got=$got expected=$expected")
    }
    // empty input -> None (the built-in's NULL)
    assert(RelationalOps.exactPercentileBracketed(
      Seq.empty[Double].toDF("x"), "x", 0.5).isEmpty)
  }

  test("frequencyIndex: most frequent value gets index 0, ties by value") {
    val df = Seq("x", "y", "y", "z", "z").toDF("v")
    val idx = RelationalOps.frequencyIndex(df, "v")
      .select("v", "idx").as[(String, Long)].collect().toMap
    assert(idx == Map("y" -> 0L, "z" -> 1L, "x" -> 2L))
  }

  test("StringIndexer (M1) ranks by descending frequency like the relational analog") {
    // SURVEY §7.3: the ML dictionary (reference PDF §3 'most frequent
    // label gets index 0') must agree with frequencyIndex on untied data
    val df = Seq("a", "b", "b", "c", "c", "c").toDF("v")
    val ml = graft.ml.FeaturePipeline.indexString(df, "v", "v_idx")
      .select("v", "v_idx").as[(String, Double)].collect()
      .toSet.map((t: (String, Double)) => (t._1, t._2.toLong))
    val rel = RelationalOps.frequencyIndex(df, "v")
      .select("v", "idx").as[(String, Long)].collect().toSet
    assert(ml == rel && rel == Set(("c", 0L), ("b", 1L), ("a", 2L)))
  }

  test("topKPerGroup emits at most k rows per group, rank contiguous") {
    val df = Seq(("g1", 5.0), ("g1", 3.0), ("g1", 9.0), ("g2", 1.0))
      .toDF("g", "s")
    val out = RelationalOps.topKPerGroup(df, Seq(col("g")),
      Seq(col("s").desc), k = 2).collect()
    val byG = out.groupBy(_.getString(0))
    assert(byG("g1").length == 2 && byG("g2").length == 1)
    assert(byG("g1").map(_.getDouble(1)).toSet == Set(9.0, 5.0))
  }

  test("nullAudit counts nulls per column in one row") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (None, None))
      .toDF("i", "s")
    val r = CleaningOps.nullAudit(df).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
  }

  test("fillWithMean / fillWithMode impute in-plan") {
    val df = Seq(Some(1.0), Some(3.0), None).toDF("x")
    val filled = CleaningOps.fillWithMean(df, "x").as[Double].collect().sorted
    assert(filled.toSeq == Seq(1.0, 2.0, 3.0))
    val s = Seq(Some("a"), Some("a"), Some("b"), None).toDF("v")
    val modeFilled = CleaningOps.fillWithMode(s, "v").as[String].collect()
    assert(modeFilled.count(_ == "a") == 3)
  }

  test("sentinelToNull + binaryToCategorical + sanitizeNames") {
    val df = Seq("[]", "real").toDF("v")
    val nulled = CleaningOps.sentinelToNull(df, "v", lit("[]"))
    assert(nulled.filter(col("v").isNull).count() == 1)

    val flags = Seq((5, 100.0), (30, 1000.0)).toDF("size", "price")
    val tagged = CleaningOps.binaryToCategorical(flags,
      Seq("large" -> (col("size") > 25), "pricey" -> (col("price") > 900)),
      "tags").select("tags").as[String].collect().sorted
    assert(tagged.toSeq == Seq("", "large, pricey"))

    val dotted = Seq((1, 2)).toDF("a.b", "c.d.e")
    assert(CleaningOps.sanitizeNames(dotted).columns.toSeq == Seq("ab", "cde"))
  }

  test("zeroVariancePrune drops constant columns only") {
    val df = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("varies", "const")
    val pruned = CleaningOps.zeroVariancePrune(df, Seq("varies", "const"))
    assert(pruned.columns.toSeq == Seq("varies"))
  }

  test("saltedJoin == plain inner join (multiset)") {
    val fact = Seq((1, "x"), (1, "y"), (2, "z"), (1, "w"), (3, "q"))
      .toDF("k", "v")
    val dim = Seq((1, "A"), (2, "B")).toDF("k", "d")
    val salted = RelationalOps.saltedJoin(fact, dim, "k", salts = 4)
      .select("k", "v", "d").as[(Int, String, String)].collect().sorted.toSeq
    val plain = fact.join(dim, Seq("k"))
      .select("k", "v", "d").as[(Int, String, String)].collect().sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("saltedJoin tolerates unhashable (MapType) fact columns") {
    // xxhash64 over a MapType column throws AnalysisException; the salt
    // must exclude such columns (ADVICE r17) and still join correctly
    val fact = Seq((1, "x"), (1, "y"), (2, "z"))
      .toDF("k", "v")
      .withColumn("m", map(col("v"), col("k")))
    val dim = Seq((1, "A"), (2, "B")).toDF("k", "d")
    val salted = RelationalOps.saltedJoin(fact, dim, "k", salts = 4)
      .select("k", "v", "d").as[(Int, String, String)].collect().sorted.toSeq
    val plain = fact.join(dim, Seq("k"))
      .select("k", "v", "d").as[(Int, String, String)].collect().sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("writeBucketed table joins without exchange below the join") {
    val spark2 = spark
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val tmp = TestSpark.tempDir("graft_bkt").toString
    graft.sources.Sources.writeBucketed(df, "bkt_a", s"$tmp/a", "k", 4)
    graft.sources.Sources.writeBucketed(df, "bkt_b", s"$tmp/b", "k", 4)
    val joined = spark2.table("bkt_a")
      .join(spark2.table("bkt_b").hint("merge"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"), s"unexpected exchange:\n$plan")
    assert(joined.count() == 100)
  }

  test("range-clustered write produces non-overlapping per-file shipdate ranges") {
    // run the registered query once so the staged layout exists, then
    // audit the files it wrote: disjoint [min,max] slices per file are
    // WHAT makes footer-stat skipping effective (q70's claim)
    val d = "/root/testdata/sf0.001"
    QueryRegistry.byName("q70_range_cluster").fn(spark, d).collect()
    val staged = spark.read.parquet(Staging.dir("rangecluster", d))
    val ranges = staged
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .select("lo", "hi")
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect()
      .sortBy(_._1.getTime)
    assert(ranges.length > 1, "expected multiple range-clustered files")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(!hi.after(lo), s"overlapping file ranges: hi=$hi lo=$lo")
    }
  }

  test("zOrderKey bit-interleave is exact; clustered files bound BOTH dimensions") {
    // 1) exhaustive 8-bit equality against a scalar reference Morton
    def refMorton(rx: Long, ry: Long): Long =
      (0 until 8).foldLeft(0L) { (acc, i) =>
        acc | (((rx >> i) & 1L) << (2 * i)) | (((ry >> i) & 1L) << (2 * i + 1))
      }
    val pairs = for { rx <- 0 until 256; ry <- 0 until 256 }
      yield (rx.toLong, ry.toLong, refMorton(rx.toLong, ry.toLong))
    val bad = pairs.toDF("rx", "ry", "expect")
      .withColumn("z", RelationalOps.zOrderKey(col("rx"), col("ry"), 8))
      .filter(col("z") =!= col("expect")).count()
    assert(bad == 0, s"$bad of 65536 interleaves wrong")

    // 2) run the registered query, audit the staged layout
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(d).isDirectory, s"$d fixture not present")
    QueryRegistry.byName("q89_zorder_cluster").fn(spark, d).collect()
    val staged = spark.read.parquet(Staging.dir("zorder", d))
      .select(input_file_name().as("f"), col("zkey"))
      .as[(String, Long)].collect()
    // zkey file ranges must be disjoint (what repartitionByRange buys)
    val zRanges = staged.groupBy(_._1).values
      .map(rs => (rs.map(_._2).min, rs.map(_._2).max)).toArray.sortBy(_._1)
    assert(zRanges.length > 1, "expected multiple z-clustered files")
    zRanges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file z-ranges: hi=$hi lo=$lo")
    }
    // the point of z-order vs 1-D clustering: BOTH rank dimensions stay
    // bounded per file. De-interleave the keys and compare the mean
    // per-file y-extent against the same rows 1-D-clustered on x alone
    // (which leaves y near its full width): z-order must at least halve
    // it, while keeping the x-extent under ~60% of the rank space.
    def deX(z: Long) = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
    def deY(z: Long) = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
    val pts = staged.map { case (f, z) => (f, deX(z), deY(z)) }
    def meanExtent(groups: Iterable[Array[(Long, Long)]],
                   pick: ((Long, Long)) => Long): Double = {
      val es = groups.map { g =>
        val v = g.map(pick); (v.max - v.min + 1).toDouble }
      es.sum / es.size
    }
    val zGroups = pts.groupBy(_._1).values
      .map(_.map(p => (p._2, p._3))).toList
    val sortedByX = pts.map(p => (p._2, p._3)).sortBy(identity)
    val n = sortedByX.length
    val xGroups = (0 until 8).map(k =>
      sortedByX.slice(k * n / 8, (k + 1) * n / 8)).toList
    val zY = meanExtent(zGroups, _._2)
    val baseY = meanExtent(xGroups, _._2)
    val zX = meanExtent(zGroups, _._1)
    assert(zY < 0.75 * baseY,
      s"z-order mean y-extent $zY not < 0.75 × 1-D baseline $baseY")
    assert(zX <= 160.0, s"z-order mean x-extent $zX exceeds 160/256")
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    // salting (q50) is the explicit skew tool; this proves the RUNTIME
    // lever — AQE re-plans a skewed SMJ into split sub-partitions after
    // seeing the actual shuffle sizes. Thresholds lowered so the fixture
    // triggers what a hot key does at TB scale.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // xxhash payload defeats shuffle compression — the skew detector
      // sees COMPRESSED map-output sizes, and a constant-key column of
      // constants compresses below any realistic threshold
      val fact = spark.range(1000000)
        .select(lit(1L).as("k"), xxhash64(col("id")).as("v"))
        .union(spark.range(200)
          .select((col("id") % 10 + 2).as("k"), xxhash64(col("id")).as("v")))
      val dim = spark.range(12).select(col("id").as("k"), (col("id") * 2).as("d"))
      val j = fact.join(dim, Seq("k"))
      // drive THIS queryExecution's own RDD: df.count() builds a separate
      // Aggregate plan, and the adaptive final plan (isFinalPlan=true)
      // only exists on the execution that actually ran
      val qe = j.queryExecution
      assert(qe.executedPlan.execute().count() == 1000200)
      val plan = qe.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // Catalyst's InjectRuntimeFilter: a selective filter on the dim side
    // spawns a bloom_filter_agg subquery whose result pre-filters the
    // fact scan (might_contain) BEFORE the join shuffle — rows that
    // cannot match never get shuffled. At production scale the 10 GB
    // application-side threshold triggers this automatically; the test
    // zeroes it so the fixture-sized join demonstrates the same plan.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> c.getOption(k))
    val tmp = TestSpark.tempDir("graft_bloom").toString
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.range(100000).select(col("id").as("k"), xxhash64(col("id")).as("v"))
        .write.mode("overwrite").parquet(s"$tmp/fact")
      spark.range(10000).select(col("id").as("k"), (col("id") % 100).as("grp"))
        .write.mode("overwrite").parquet(s"$tmp/dim")
      val fact = spark.read.parquet(s"$tmp/fact")
      val dim = spark.read.parquet(s"$tmp/dim").filter(col("grp") === 7)
      val j = fact.join(dim, Seq("k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
      assert(j.count() == 100)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("operator contracts on empty/degenerate inputs") {
    import org.apache.spark.sql.types._
    // asOfJoin: empty right side → left-outer nulls, row count preserved
    val left = Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("k", "t", "lv")
    val emptyRight = Seq.empty[(Int, Long, Double)].toDF("k", "t", "rv")
    val asOf = RelationalOps.asOfJoin(left, emptyRight, "k", "t")
    assert(asOf.count() == 2 && asOf.filter(col("asof").isNull).count() == 2)
    // bandJoin: no overlap → empty, never an error
    val bj = RelationalOps.bandJoin(
      Seq((100L, 1)).toDF("lt", "lid"), Seq((500L, 2)).toDF("rt", "rid"),
      "lt", "rt", 10L)
    assert(bj.count() == 0)
    // connectedComponents: empty edge list → empty labels
    val cc = graft.ext.Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(cc.count() == 0)
    // quantizeInt8: all-zero vector → scale floor, zero codes, roundtrip 0
    val qz = graft.ext.Similarity
      .quantizeInt8(Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"),
        "embedding")
      .select(col("q8"), col("q8_scale"))
      .as[(Seq[Byte], Double)].head()
    assert(qz._1 == Seq[Byte](0, 0) && qz._2 > 0.0)
  }

  test("CSV inferSchema roundtrip preserves values and types") {
    val df = Seq((1L, "alpha", 12.75), (2L, "beta", -3.5))
      .toDF("id", "name", "score")
    val tmp = TestSpark.tempDir("graft_csv_spec").toString
    graft.sources.Sources.writeCsv(df, tmp)
    // scale-path sink: one file per partition, no single-task funnel
    val tmpD = TestSpark.tempDir("graft_csvd_spec").toString
    graft.sources.Sources.writeCsvDistributed(df.repartition(3), tmpD)
    assert(new java.io.File(tmpD).listFiles().count(_.getName.endsWith(".csv")) > 1)
    val back = graft.sources.Sources.csv(spark, tmp) // S1 inferred-schema path
    // inference picks the narrowest integral type (int here, like the
    // reference's inferSchema=True runs)
    assert(back.schema.map(_.dataType.typeName).toSeq ==
      Seq("integer", "string", "double"))
    assert(back.selectExpr("cast(id as long)", "name", "score")
      .as[(Long, String, Double)].collect().toSet ==
      Set((1L, "alpha", 12.75), (2L, "beta", -3.5)))
  }

  test("minMaxScale maps to [0,1] with endpoints hit") {
    val df = Seq(10.0, 20.0, 30.0).toDF("x")
    val scaled = RelationalOps.minMaxScale(df, "x", "s")
      .select("s").as[Double].collect().sorted
    assert(scaled.toSeq == Seq(0.0, 0.5, 1.0))
  }

  test("minMaxScale degenerate range: constant column maps to 0.5") {
    // Spark ML MinMaxScaler's constant-column semantic; the unguarded
    // form is a DIVIDE_BY_ZERO under Spark 4's default ANSI mode for
    // integral columns (and a silent NaN for doubles)
    val const = Seq(7L, 7L, 7L).toDF("x")
    assert(RelationalOps.minMaxScale(const, "x", "s")
      .select("s").as[Double].collect().toSeq == Seq(0.5, 0.5, 0.5))
    val single = Seq(3.25).toDF("x")
    assert(RelationalOps.minMaxScale(single, "x", "s")
      .select("s").as[Double].collect().toSeq == Seq(0.5))
  }

  test("connectedComponents runs one job per round (accumulator convergence)") {
    // path graph 1-2-3-4-5-6: the min label walks one hop per round, so
    // 5 propagation rounds + 1 quiet round prove convergence. Each round
    // must cost exactly ONE job (the count that materializes the next
    // label table and tallies the changed-flags accumulator) — the old
    // shape paid a second isEmpty probe per round. Expected: 6 round
    // jobs (the first also fills the symmetrized-edge cache).
    // AQE submits one JOB per query stage and a broadcast-hash join one
    // per broadcast build — both would hide the action-count claim under
    // physical-plan noise. Disable them here so one ACTION == one job
    // and the assertion is exact.
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("cc-jobs", "connectedComponents job audit")
    val labels = try graft.ext.Dedup.connectedComponents(edges, "a", "b")
      finally {
        sc.clearJobGroup()
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    // status listener is async: poll until the job count stops moving
    def groupJobs: Int = sc.statusTracker.getJobIdsForGroup("cc-jobs").length
    var (prev, cur, spins) = (-1, groupJobs, 0)
    while (prev != cur && spins < 50) {
      prev = cur; Thread.sleep(100); cur = groupJobs; spins += 1
    }
    assert(cur <= 8, s"expected ~6 jobs (6 rounds), got $cur")
    // and the answer is still right: one component labeled by its min
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == 6 && out.forall(_._2 == 1L))
  }

  test("minhash params: no shared minimizer across hash functions (rank-1 guard)") {
    // The defect class the sf0.1 promotion caught in round 7: with
    // a_i = (i+1)·c the whole family factored through one base hash, so
    // ONE shingle minimized every h_i simultaneously and the signature
    // carried ~1 effective hash. Guard: over a fixed 200-element id set,
    // the per-function argmins must be genuinely diverse — a rank-1
    // family yields exactly 1 distinct argmin; an independent family
    // yields ~min(numHashes, distinct-minima) of them.
    val p = graft.ext.Dedup.MinhashPrime
    val ids = (1L to 200L).map(x => x * 982451653L % p) // spread sample
    val numHashes = 24
    val argmins = (0 until numHashes).map { i =>
      val (a, b) = graft.ext.Dedup.hashParams(i)
      ids.minBy(x => (Math.floorMod(x, p) * a + b) % p)
    }
    assert(argmins.distinct.size >= numHashes / 2,
      s"only ${argmins.distinct.size} distinct argmins across $numHashes " +
        "hash functions — the family is collapsing toward rank-1 again")
    // and the parameters themselves are in range and collision-free
    val params = (0 until 64).map(graft.ext.Dedup.hashParams)
    assert(params.forall { case (a, b) =>
      a >= 1 && a < p && b >= 0 && b < p })
    assert(params.map(_._1).distinct.size == 64 &&
      params.map(_._2).distinct.size == 64)
    // a signature wider than the precomputed family fails loudly
    val tooMany = graft.functions.MinhashParams.MaxHashes + 4
    intercept[IllegalArgumentException](graft.ext.Dedup.minhashBuckets(
      spark.emptyDataFrame, "doc_id", numHashes = tooMany, rowsPerBand = 4))
  }

  test("row-local minhash banding == exploded production path") {
    // the row-fused production path must emit the EXACT (id, band,
    // bucket) set the explode → xxhash64 → aggregate composition does —
    // same shingles, same hash family, zero shuffle
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(100)
    val exploded = graft.ext.Dedup.minhashBuckets(
      graft.ext.Dedup.shingles(docs, "doc_id", "text", 3)
        .withColumn("sid", xxhash64(col("shingle"))),
      "doc_id", numHashes = 24, rowsPerBand = 3)
    val rowLocal = graft.ext.Dedup.minhashBucketsRowLocal(
      docs, "doc_id", "text", n = 3, numHashes = 24, rowsPerBand = 3)
    assert(exploded.exceptAll(rowLocal).isEmpty &&
      rowLocal.exceptAll(exploded).isEmpty,
      "row-local and exploded production banding disagree")
    // a doc too short for a single 3-gram emits no bucket rows (matches
    // the exploded path, where it never reaches the aggregation)
    val shorty = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(graft.ext.Dedup.minhashBucketsRowLocal(
      shorty, "doc_id", "text", 3, 8, 4).count() == 0)
  }

  test("min-label CC fails loudly when the round budget runs out") {
    // 100-node path 0-1-2-...-99: the min label walks ONE hop per round,
    // so min-label needs 99 rounds — capped at 15 it must throw rather
    // than hand back half-propagated labels.
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(path, "a", "b", maxIter = 15)
        .count()
    }
  }

  test("connectedComponents leaves only its result persisted and the " +
      "session checkpoint dir untouched") {
    // path 1-2-3-4-5 needs 4 propagation rounds + 1 quiet round; the
    // pair 10-11 is a second component. Every intermediate (the
    // symmetrized edges, the seed labels, each earlier round) must be
    // released, so the returned labels are the only new persisted RDD.
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "test precondition: shared session must start with no checkpoint dir")
    val cpRoot = java.nio.file.Files.createTempDirectory("graft_cc_cp")
    BenchSession.releaseCaches(spark)
    try {
      sc.setCheckpointDir(cpRoot.toString)
      val cpBefore = sc.getCheckpointDir
      val before = sc.getPersistentRDDs.keySet
      val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) :+ (10L, 11L))
        .toDF("a", "b")
      val labels = graft.ext.Dedup.connectedComponents(edges, "a", "b")
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 1 && before.subsetOf(sc.getPersistentRDDs.keySet),
        s"expected exactly one new persisted RDD, got $added")
      assert(spark.sharedState.cacheManager.isEmpty,
        "connectedComponents left a cached plan behind")
      assert(sc.getCheckpointDir == cpBefore,
        s"session checkpoint dir moved: $cpBefore -> ${sc.getCheckpointDir}")
      val out = labels.as[(Long, Long)].collect().toMap
      assert(out == (1L to 5L).map(_ -> 1L).toMap ++ Map(10L -> 10L, 11L -> 10L),
        s"wrong labels: $out")
      added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = false))
    } finally {
      sc.setCheckpointDir(null)
      graft.Staging.deleteRecursively(cpRoot)
    }
  }

  test("withMaterialized caches for the body only, also when it throws, " +
      "and reuses a cache the caller holds") {
    import org.apache.spark.storage.StorageLevel
    val cm = spark.sharedState.cacheManager
    BenchSession.releaseCaches(spark)
    val df = spark.range(100).select((col("id") % 7).as("k"))
    val n = RelationalOps.withMaterialized(df) { p =>
      assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "body does not run on a cached frame")
      // the body's first action fills the cache
      val c = p.count()
      assert(spark.sparkContext.getPersistentRDDs.size == 1,
        "expected exactly one cached relation during the body")
      c
    }
    assert(n == 100 && cm.isEmpty, "cache not released after the body")
    intercept[IllegalStateException] {
      RelationalOps.withMaterialized(df) { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(cm.isEmpty, "cache not released when the body throws")
    val held = df.persist()
    try {
      held.count()
      RelationalOps.withMaterialized(df) { p => p.count() }
      assert(df.storageLevel != StorageLevel.NONE,
        "the caller's cache was dropped")
    } finally held.unpersist()
  }

  test("withMaterialized launches no job of its own") {
    // the body's first action fills the cache. The status store records
    // jobs in launch order, so once a later fence job shows up, a job
    // launched in the scope would have shown up too.
    val sc = spark.sparkContext
    def jobs(group: String) = sc.statusTracker.getJobIdsForGroup(group).length
    try {
      sc.setJobGroup("wm-scope", "withMaterialized job audit")
      RelationalOps.withMaterialized(spark.range(100).toDF())(_ => ())
      sc.setJobGroup("wm-fence", "status store fence")
      sc.parallelize(Seq(1)).count()
    } finally sc.clearJobGroup()
    var spins = 0
    while (jobs("wm-fence") == 0 && spins < 300) { Thread.sleep(100); spins += 1 }
    assert(jobs("wm-fence") == 1 && jobs("wm-scope") == 0,
      s"withMaterialized ran ${jobs("wm-scope")} job(s) of its own")
  }

  test("dictionary queries leave no persisted RDDs behind (zipWithRank lifecycle)") {
    // The round-3→5 leak: zipWithRank persisted its sorted RDD with no
    // owner, so every dictionary consumer accumulated cache blocks across
    // queries in a long-lived session. Now nothing is persisted — run the
    // dictionary-backed registered queries end-to-end and assert the
    // persistent-RDD map gained nothing.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf fixture not present")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q17_string_indexer", "q40_text_fingerprint", "q46_positional_join")
      .foreach { name =>
        QueryRegistry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"dictionary queries left persisted RDDs: $leaked")
    // and the direct operator path, with a shuffle-bearing lineage
    val dict = RelationalOps.frequencyIndex(
      Seq("x", "y", "y", "z", "z").toDF("v").repartition(3), "v")
    dict.write.format("noop").mode("overwrite").save()
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.isEmpty, s"frequencyIndex left persisted RDDs: $leaked2")
  }

  test("Tables.events normalizes ts across fixture generations (NTZ and TIMESTAMP(NANOS))") {
    // The round-14 breakage class: the driver regenerated the fixtures
    // with events.ts as naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ)
    // where earlier generations carried TIMESTAMP(NANOS) (read as long
    // under nanosAsLong), and the loader's unconditional nanos rebuild
    // failed analysis on 12 queries. Pin BOTH branches: whatever the
    // on-disk generation, the loader must yield TimestampType with
    // identical instant values.
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf fixture not present")
    val native = Tables.events(spark, sf)
    assert(native.schema("ts").dataType == TimestampType,
      s"native load must normalize to TimestampType, got ${native.schema("ts").dataType}")
    // stage a legacy-generation copy with a REAL TIMESTAMP(NANOS) footer
    // via parquet-mr's low-level writer (Spark itself cannot produce
    // NANOS), so the genuine footer-decode path stays pinned — not the
    // plain-INT64 stand-in that skips it
    val legacyDir = TestSpark.tempDir("events_nanos_")
    val legacyFile = s"$legacyDir/events.parquet"
    val rows = native
      .select(col("event_id"), expr("unix_micros(ts) * 1000L"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)].collect()
      .map { case (id, ns, uid, et, v, p) =>
        NanosEventsWriter.Row(id, ns, uid, et, v, p) }
    NanosEventsWriter.write(legacyFile, rows.toIndexedSeq)
    // the staged file must really carry the NANOS annotation: without the
    // legacy conf Spark refuses it outright (PARQUET_TYPE_ILLEGAL)...
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val err = intercept[Exception] {
      strict.read.parquet(legacyFile).collect()
    }.toString
    assert(err.toLowerCase.contains("illegal"),
      s"expected PARQUET_TYPE_ILLEGAL on a NANOS footer, got: $err")
    // ...and under it the footer reads as a plain long of epoch nanos
    assert(Tables.eventsRawSchema(spark, legacyDir.toString)("ts").dataType == LongType)
    val legacy = Tables.events(spark, legacyDir.toString)
    assert(legacy.schema("ts").dataType == TimestampType,
      s"legacy load must rebuild TimestampType, got ${legacy.schema("ts").dataType}")
    val nativeRows = native.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().sorted
    val legacyRows = legacy.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().sorted
    assert(nativeRows.sameElements(legacyRows),
      "instant values must be identical across fixture generations")
  }

  test("Tables.events instants are independent of spark.sql.session.timeZone") {
    // The NTZ relabel used to be a bare cast("timestamp") — value-
    // preserving only under the engine-wide UTC session pin; an entry
    // point that forgot the pin would silently shift every instant by
    // the host offset. The make_timestamp(..., 'UTC') rebuild must give
    // identical instants under ANY session timezone (a separate session
    // keeps the tz override away from concurrently running suites).
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf fixture not present")
    val utcRows = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().sorted
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val laRows = Tables.events(la, sf)
      .select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().sorted
    assert(laRows.sameElements(utcRows),
      "NTZ rebuild shifted instants under a non-UTC session timezone")
  }
}
