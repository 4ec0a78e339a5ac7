package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{Classifiers, FeaturePipeline, Recsys}
import graft.streaming.StreamingWindows

/** ML metric-tolerance tests (seeded, ceiling-style — mirrors how the
  * reference itself judges models, SURVEY.md §5.1) and batch-vs-stream
  * agreement for the streaming wrappers. Uses the sf0.001 fixtures. */
class MlStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("seeded ALS on sf0.001: RMSE under ceiling, top-k shape") {
    val fit = Recsys.fitAls(Tables.ratings(spark, Sf), "user_id", "item_id",
      "rating", rank = 8, regParam = 0.1, maxIter = 5)
    // generous ceiling: ratings span ~0–10, a constant predictor scores
    // ~stddev ≈ 4.2 here — the fit must at least beat that
    assert(fit.rmse > 0.0 && fit.rmse < 4.2, s"rmse=${fit.rmse}")
    val recs = Recsys.recommendTopK(fit.model, k = 5)
      .select("user_id", "rank").as[(Int, Int)].collect()
    val byUser = recs.groupBy(_._1)
    assert(byUser.values.forall(_.length <= 5))
    assert(byUser.values.forall(_.map(_._2).sorted.toSeq ==
      (1 to byUser.values.head.length).take(5)))
  }

  test("ALS blocks follow the session's parallelism") {
    val cores = spark.sparkContext.defaultParallelism
    val model = Recsys.fitAls(Tables.ratings(spark, Sf), "user_id", "item_id",
      "rating").model
    assert(model.userFactors.rdd.getNumPartitions == cores)
    assert(model.itemFactors.rdd.getNumPartitions == cores)
    val ranks = Recsys.recommendTopK(model, k = 3)
      .select("user_id", "rank").as[(Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val bad = ranks.filter(_._2 != Seq(1, 2, 3))
    assert(ranks.nonEmpty && bad.isEmpty, s"ranks not 1..3: ${bad.take(5)}")
  }

  test("ALS TVS grid on sf0.001: winner comes from the grid, RMSE under ceiling") {
    val r = Recsys.fitAlsGrid(Tables.ratings(spark, Sf), "user_id",
      "item_id", "rating", ranks = Seq(4, 8), regParams = Seq(0.1, 0.01),
      maxIter = 5)
    assert(Seq(4, 8).contains(r.bestRank), s"rank=${r.bestRank}")
    assert(Seq(0.1, 0.01).contains(r.bestRegParam), s"reg=${r.bestRegParam}")
    // same constant-predictor ceiling as the single-point ALS test
    assert(r.rmse > 0.0 && r.rmse < 4.2, s"rmse=${r.rmse}")
  }

  test("high-cardinality one-hot: width equals category count on every row") {
    val out = QueryRegistry.byName("qml59_high_card_onehot")
      .fn(spark, Sf)
      .select("id_col", "width_matches").as[(String, Boolean)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq("item_id", "user_id"))
    assert(out.forall(_._2), s"width mismatch: ${out.mkString(",")}")
  }

  test("model save/load roundtrip: identical coefficients and predictions") {
    val raw = Seq((1.0, 10.0, 0.0), (2.0, 8.0, 0.0), (6.0, 2.0, 1.0),
      (7.0, 1.0, 1.0), (5.5, 2.5, 1.0), (1.5, 9.0, 0.0))
      .toDF("x1", "x2", "y")
    val df = FeaturePipeline.assembleAndScale(raw, Seq("x1", "x2"))
    val tmp = TestSpark.tempDir("graft_model_spec").toString
    val (fitted, reloaded) = Classifiers.saveLoadRoundtrip(df,
      "scaled_features", "y", tmp)
    assert(fitted.coefficients == reloaded.coefficients)
    assert(fitted.intercept == reloaded.intercept)
    val p1 = fitted.transform(df).select("prediction").as[Double].collect()
    val p2 = reloaded.transform(df).select("prediction").as[Double].collect()
    assert(p1.toSeq == p2.toSeq)
  }

  test("strictParity replicates the reference's degenerate DT metrics; default mode fixes them") {
    // 200 linearly separable rows, 60% majority class — a sane tree gets
    // ~perfect accuracy; the reference's minInfoGain ≥ 20 grid rejects
    // every split (binary impurity gain ≤ 1), leaving a depth-0
    // majority-class tree, and its ROC-on-hard-predictions quirk then
    // scores that constant predictor at exactly 0.5
    val raw = (0 until 200).map { i =>
      if (i % 5 < 3) (i.toDouble % 7, 10.0 + i % 11, 0.0)
      else (50.0 + i % 7, i.toDouble % 11, 1.0)
    }.toDF("x1", "x2", "y")
    val df = FeaturePipeline.assembleAndScale(raw, Seq("x1", "x2"))
    val strict = Classifiers.decisionTree(df, "scaled_features", "y",
      strictParity = true)
    val sane = Classifiers.decisionTree(df, "scaled_features", "y")
    // replicate the harness's seeded split to get the exact expected
    // majority-class accuracy on the held-out 20%
    val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed = 42L)
    val maj = tr.groupBy("y").count().orderBy(col("count").desc)
      .select("y").as[Double].head()
    val expectAcc = te.filter(col("y") === maj).count().toDouble / te.count()
    assert(math.abs(strict.value1 - expectAcc) < 1e-9,
      s"strict accuracy ${strict.value1} != majority-class $expectAcc")
    assert(math.abs(strict.value2 - 0.5) < 1e-9,
      s"strict ROC ${strict.value2} != 0.5")
    assert(sane.value1 > 0.95 && sane.value2 > 0.95,
      s"sane mode should separate this data: $sane")
  }

  test("the held-out harness releases every cache it takes, also when the fit throws") {
    // the harness persists an unpersisted input and the held-out
    // predictions; both must be gone afterwards. ALS's factor RDDs are
    // Spark's own (never in the cache manager) and not checked here.
    val cm = spark.sharedState.cacheManager
    BenchSession.releaseCaches(spark)
    Recsys.fitAls(Tables.ratings(spark, Sf), "user_id", "item_id", "rating",
      rank = 4, regParam = 0.1, maxIter = 2)
    assert(cm.isEmpty, "fitAls left a cached relation")
    val raw = (0 until 200).map { i =>
      (i.toDouble % 7, 10.0 + i % 11, if (i % 5 < 3) 0.0 else 1.0)
    }.toDF("x1", "x2", "y")
    val df = FeaturePipeline.assembleAndScale(raw, Seq("x1", "x2"))
    Classifiers.fmRegression(df, "scaled_features", "x2", maxIter = 2)
    assert(cm.isEmpty, "fmRegression left a cached relation")
    Classifiers.logistic(df, "scaled_features", "y", maxIters = Seq(5))
    assert(cm.isEmpty, "logistic left a cached relation")
    intercept[IllegalArgumentException] {
      Classifiers.logistic(df, "scaled_features", "no_such_label")
    }
    assert(cm.isEmpty, "a throwing fit left a cached relation")
  }

  test("tumbling stream (Append + watermark) agrees with batch on closed windows") {
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val q = StreamingWindows.runTumblingStream(spark, Sf,
      "tumbling_spec")
    try {
      q.processAllAvailable()
      // Append emits a window once the watermark passes its end — that
      // happens in the no-data batch after the first; poll for it.
      val deadline = System.currentTimeMillis() + 30000
      var rows = spark.table("tumbling_spec").collect()
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
        rows = spark.table("tumbling_spec").collect()
      }
      val batch = StreamingWindows.tumblingAgg(Tables.events(spark, Sf))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(rows.nonEmpty, "stream emitted no closed windows within 30s")
      // every emitted window must match the batch result exactly
      rows.foreach { r =>
        val k = (r.getLong(0), r.getString(1))
        assert(batch(k) == ((r.getLong(2), r.getLong(3))),
          s"window $k: stream=(${r.getLong(2)},${r.getLong(3)}) batch=${batch(k)}")
      }
      // windows newer than (max ts − watermark) stay open → strictly fewer
      assert(rows.length < batch.size)
    } finally q.stop()
  }

  test("tumbling stream adapts to a legacy TIMESTAMP(NANOS) fixture generation") {
    // The streaming source derives its read schema from the footer of
    // the directory it streams (Tables.eventsRawSchema) — stage a
    // genuine NANOS-footer copy (the pre-r14 driver generation, written
    // via parquet-mr since Spark cannot emit NANOS) and pin that the
    // stream both starts AND agrees with the batch loader on the same
    // dir, exercising the nanos branch end-to-end under readStream.
    import spark.implicits._
    val nanosDir = TestSpark.tempDir("events_nanos_stream_")
    val rows = Tables.events(spark, Sf)
      .select(col("event_id"), expr("unix_micros(ts) * 1000L"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)].collect()
      .map { case (id, ns, uid, et, v, p) =>
        NanosEventsWriter.Row(id, ns, uid, et, v, p) }
    NanosEventsWriter.write(s"$nanosDir/events.parquet", rows.toIndexedSeq)
    val q = StreamingWindows.runTumblingStream(spark, nanosDir.toString,
      "tumbling_nanos_spec")
    try {
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var out = spark.table("tumbling_nanos_spec").collect()
      while (out.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
        out = spark.table("tumbling_nanos_spec").collect()
      }
      assert(out.nonEmpty, "nanos-fixture stream emitted no closed windows")
      val batch = StreamingWindows
        .tumblingAgg(Tables.events(spark, nanosDir.toString))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      out.foreach { r =>
        val k = (r.getLong(0), r.getString(1))
        assert(batch(k) == ((r.getLong(2), r.getLong(3))),
          s"window $k: stream=(${r.getLong(2)},${r.getLong(3)}) batch=${batch(k)}")
      }
    } finally q.stop()
  }

  test("tumbling stream adapts to a directory-layout events fixture") {
    // The fixtures ship events.parquet as a single FILE and the stream
    // picks it out of the sf dir with a pathGlobFilter — but a
    // regenerated fixture using Spark's default write layout would make
    // it a DIRECTORY of part files, which that glob silently excludes
    // (a zero-row stream, not an error). Stage the directory layout and
    // pin that the stream still starts and agrees with batch.
    val dirGen = TestSpark.tempDir("events_dirlayout_")
    Tables.events(spark, Sf)
      .withColumn("ts", expr("cast(ts as timestamp_ntz)")) // naive gen
      .repartition(3) // several part files, like a real distributed write
      .write.parquet(s"$dirGen/events.parquet")
    val q = StreamingWindows.runTumblingStream(spark, dirGen.toString,
      "tumbling_dirlayout_spec")
    try {
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var out = spark.table("tumbling_dirlayout_spec").collect()
      while (out.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
        out = spark.table("tumbling_dirlayout_spec").collect()
      }
      assert(out.nonEmpty, "directory-layout stream emitted no closed windows")
      val batch = StreamingWindows
        .tumblingAgg(Tables.events(spark, dirGen.toString))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      out.foreach { r =>
        val k = (r.getLong(0), r.getString(1))
        assert(batch(k) == ((r.getLong(2), r.getLong(3))),
          s"window $k: stream=(${r.getLong(2)},${r.getLong(3)}) batch=${batch(k)}")
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer agrees with batch gaps-and-islands") {
    import org.apache.spark.sql.expressions.Window
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val q = StreamingWindows.sessionizeStream(spark, Sf,
      "sessionize_spec")
    try {
      q.processAllAvailable()
      // event-time timeouts fire in the no-data batch after the
      // watermark advances; poll until output stabilizes
      var prev = -1L
      var rows = 0L
      val deadline = System.currentTimeMillis() + 30000
      while ((rows == 0 || rows != prev) &&
          System.currentTimeMillis() < deadline) {
        prev = rows
        Thread.sleep(1000)
        q.processAllAvailable()
        rows = spark.table("sessionize_spec").count()
      }
      val streamed = spark.table("sessionize_spec")
        .select("user_id", "s_start", "n_events", "sum_cents")
        .as[(Long, Long, Long, Long)].collect().toSet

      // batch truth: gaps-and-islands over the same events
      val e = Tables.events(spark, Sf)
        .select(col("user_id").cast("long").as("u"),
          unix_timestamp(col("ts")).as("t"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val w = Window.partitionBy("u").orderBy("t")
      val sess = e
        .withColumn("new_s",
          when(col("t") - lag("t", 1).over(w) < 1800, 0).otherwise(1))
        .withColumn("sid", sum("new_s").over(
          Window.partitionBy("u").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("u", "sid")
        .agg(min("t").as("s_start"), max("t").as("s_last"),
          count(lit(1)).as("n"), sum("cents").as("cents"))
      val maxT = e.agg(max("t")).as[Long].head()
      // expected emissions: every non-last session closes in-batch (the
      // next event's arrival proves the gap); a user's LAST session only
      // emits via event-time timeout, which fires on watermark STRICTLY
      // past (last + gap)
      val lastSid = Window.partitionBy("u")
      val expected = sess
        .withColumn("max_sid", max("sid").over(lastSid))
        .filter(col("sid") < col("max_sid") ||
          col("s_last") + 1800 < maxT)
        .select(col("u"), col("s_start"), col("n"), col("cents"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == expected,
        s"stream=${streamed.size} expected=${expected.size}")
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join") {
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val dim = Tables.events(spark, Sf).groupBy("user_id")
      .agg(count(lit(1)).as("hist_n"))
    val q = StreamingWindows.enrichStream(spark, Sf, dim,
      "enrich_spec")
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_spec")
        .groupBy("user_id", "hist_n").agg(count(lit(1)).as("n"),
          sum("cents").as("cents"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = Tables.events(spark, Sf)
        .select(col("user_id"), round(col("value") * 100, 0).cast("long")
          .as("cents"))
        .join(dim, Seq("user_id"))
        .groupBy("user_id", "hist_n").agg(count(lit(1)).as("n"),
          sum("cents").as("cents"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      // every event found its dimension row (left join, no null hist_n)
      assert(spark.table("enrich_spec").filter(col("hist_n").isNull).count() == 0)
    } finally q.stop()
  }

  test("streaming dedup emits exactly one row per distinct content hash") {
    // the raw fixture has NO duplicate (user_id, event_type, value)
    // triples, which would make this test pass even with the dedup line
    // deleted — stage a copy with 100 planted duplicates (same content,
    // ts shifted +1s, well inside the watermark horizon) so the operator
    // must actually drop rows
    val base = Tables.events(spark, Sf)
      .select("ts", "event_id", "user_id", "event_type", "value")
    val planted = base.limit(100)
      .withColumn("ts", col("ts") + expr("interval 1 second"))
      .withColumn("event_id", col("event_id") + 1000000L)
    val staged = base.unionByName(planted)
    val tmpA = TestSpark.tempDir("graft_dedup_raw")
    val tmpB = TestSpark.tempDir("graft_dedup_src")
    staged.coalesce(1).write.mode("overwrite").parquet(tmpA.toString)
    val part = java.nio.file.Files.list(tmpA).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      tmpB.resolve("events.parquet"))
    val nTotal = staged.count()
    val q = StreamingWindows.dedupStream(spark, tmpB.toString,
      "dedup_spec")
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_spec")
        .select("content_hash").as[String].collect()
      val batchHashes = spark.read.parquet(s"$tmpB/events.parquet")
        .select(md5(concat_ws("|", col("user_id"), col("event_type"),
          col("value"))).as("h"))
        .distinct().as[String].collect().toSet
      // the staged input REALLY contains duplicates...
      assert(batchHashes.size.toLong < nTotal,
        "staging failed to plant duplicate content")
      // ...the stream dropped them: one emission per digest, sets agree
      assert(streamed.nonEmpty)
      assert(streamed.length == streamed.distinct.length,
        "a digest was emitted more than once within the horizon")
      assert(streamed.length < nTotal, "no rows were deduplicated")
      assert(streamed.toSet == batchHashes,
        s"stream=${streamed.length} batch=${batchHashes.size}")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val q = StreamingWindows.intervalJoinStream(spark, Sf,
      "interval_spec", deltaSec = 600L)
    try {
      q.processAllAvailable()
      val streamed = spark.table("interval_spec")
        .as[(Long, Long)].collect().toSet
      // batch truth at full micros precision: brute force is fine on the
      // sf0.001 fixture (210 clicks x 188 views)
      val e = Tables.events(spark, Sf)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("ts").as("v_ts"))
      val batch = c.crossJoin(v)
        .filter(col("v_ts") >= col("c_ts") - expr("interval 600 seconds") &&
          col("v_ts") <= col("c_ts"))
        .select("c_id", "v_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty,
        s"stream=${streamed.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("foreachBatch parquet sink: content matches batch, replay is idempotent") {
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val outDir = TestSpark.tempDir("graft_sink_spec").toString
    val q = StreamingWindows.parquetSinkStream(spark, Sf, outDir)
    try q.processAllAvailable() finally q.stop()
    def readBack() = spark.read.parquet(outDir)
      .agg(count(lit(1)), sum("cents")).as[(Long, Long)].head()
    val expected = Tables.events(spark, Sf)
      .agg(count(lit(1)), sum(round(col("value") * 100, 0).cast("long")))
      .as[(Long, Long)].head()
    assert(readBack() == expected)
    // simulate the failure contract: re-run batch 0 with the same input
    // (batchId-stable replay) — overwrite semantics must leave the sink
    // byte-identical, not duplicated
    val replayInput = Tables.events(spark, Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    StreamingWindows.writeBatch(replayInput, outDir, 0L)
    assert(readBack() == expected, "replayed batch duplicated rows")
  }

  test("mapGroupsWithState user stats agree with batch counts") {
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val q = StreamingWindows.userStatsStream(spark, Sf,
      "userstats_spec")
    try {
      q.processAllAvailable()
      val streamed = spark.table("userstats_spec")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .as[(Long, Long)].collect().toMap
      val batch = Tables.events(spark, Sf).groupBy("user_id").count()
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}
