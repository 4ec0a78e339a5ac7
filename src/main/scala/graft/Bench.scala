package graft

import scala.collection.immutable.ListMap

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR,
  * prints the JSON result on stdout (its machine-read output) and writes it, with
  * every raw run, to `target/bench_out.json`. local[N] with N-sized shuffle
  * partitioning and AQE — the same knobs a cluster deploy would set per
  * executor count.
  *
  * Honesty rules (round-2 fixes):
  *  - the action is a `noop`-format write, not `count()` — a count lets
  *    Catalyst prune every unreferenced projection, so pure-projection
  *    queries would be "benchmarked" without computing their outputs;
  *  - a query that throws is recorded as value -1 and listed in an
  *    `errors` field — a failure is never disguised as a fast pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q31,q32 — iterate on a subset without paying the
    // full-suite wall-clock. Resolved BEFORE the SparkSession: a typo'd
    // filter fails in milliseconds, not after Spark startup + warmup.
    val only = OnlyFilter.resolve("bench", QueryRegistry.all.map(_.name).toSet)
    // session knobs + cache release shared with PlanStamp via
    // BenchSession — the plan-shape gate compares their plans, so the
    // conf block is physically one definition (review r20 #3)
    val spark = BenchSession.build(BenchSession.cpus)
    // warm before timing: JVM/codegen/scheduler init PLUS the Hadoop
    // FileSystem + parquet datasource stack (range().count() alone never
    // touches the I/O path, which is the larger first-touch cost) —
    // none of it should be attributed to whichever query runs first
    spark.range(100).count()
    // best-effort: an unreadable sfDir must surface as per-query -1 rows
    // (the honesty contract), not kill the run before the first query;
    // the read is the I/O-stack warm-up and an early stderr signal.
    try spark.read.parquet(s"$sfDir/region.parquet").limit(1).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup read failed: $e")
    }
    val selected = QueryRegistry.all
      .filter(q => only.forall(_.contains(q.name)))
    // ML-stack warmup (r22): the range()/parquet warmups above never
    // touch mllib, so the FIRST ALS query used to absorb its
    // classloading + C2 JIT of the factor-shuffle/GEMM/top-k paths —
    // measured at sf0.1: qml50 first run 27.9s vs 6.9s warm on an
    // identical plan, and even its second run read 9.1s because the
    // hot loops were still compiling. One tiny SEEDED fit + topk over
    // a synthetic range()-derived frame (no testdata, nothing cached,
    // ~10s once) warms those paths outside every timed span — the same
    // attribution contract as the existing warmups: one-time JVM cost
    // must not land on whichever query runs first. Skipped when the
    // selection has no qml query (subset iteration stays cheap).
    if (selected.exists(_.name.startsWith("qml"))) {
      try {
        val tiny = spark.range(20000).select(
          (org.apache.spark.sql.functions.col("id") % 500)
            .cast("int").as("user_id"),
          ((org.apache.spark.sql.functions.col("id") * 7) % 300)
            .cast("int").as("item_id"),
          ((org.apache.spark.sql.functions.col("id") % 5) + 1)
            .cast("double").as("rating"))
        val fit = ml.Recsys.fitAls(tiny, "user_id", "item_id", "rating",
          rank = 8, regParam = 0.1, maxIter = 3)
        ml.Recsys.recommendTopK(fit.model, 3)
          .write.format("noop").mode("overwrite").save()
        BenchSession.releaseCaches(spark)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ml warmup failed (continuing): $e")
      }
    }
    // Timing protocol (BASELINE.md): each query runs twice and reports
    // the min; sub-5s queries, where one GC pause or JIT hit is a large
    // relative swing, take a third run and report the median of 3; sub-2s
    // queries take five runs and report the median of 5, robust to two
    // such hits. Queries of 5s and more (the ML fits) keep min-of-2: their
    // relative noise is small and extra runs would cost minutes. Every raw
    // run stays in the durable JSON so the noise itself is visible. The
    // totals split relational (q*) from ML-fit (qml*) time, and the fit
    // time into its families, because the fits swing 2-3x between runs of
    // identical code and would otherwise hide relational movement.
    val Protocol = "min2_med3_sub5s_med5_sub2s_split_famsplit"
    // Host context at run START (best-effort, Linux /proc; omitted
    // off-Linux or on any read failure): boot age, load and page-cache
    // state explain a uniformly hot map from the artifact alone.
    val host: Option[ListMap[String, Any]] = try {
      def read(p: String): String = {
        val src = scala.io.Source.fromFile(p)
        try src.mkString finally src.close()
      }
      val up = read("/proc/uptime").split("\\s+")(0).toDouble
      val load1 = read("/proc/loadavg").split("\\s+")(0).toDouble
      val mem = read("/proc/meminfo").linesIterator
        .map(_.split(":\\s+|\\s+kB")).collect {
          case Array(k, v) if k == "MemAvailable" || k == "Cached" =>
            k -> v.trim.toLong
        }.toMap
      Some(ListMap("uptime_sec" -> Json.decimal(up),
        "load1" -> Json.decimal(load1),
        "mem_available_kb" -> mem.getOrElse("MemAvailable", -1L),
        "page_cache_kb" -> mem.getOrElse("Cached", -1L)))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] host context unavailable: $e")
      None
    }
    def runOnce(q: GQuery): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err: Option[String] = try {
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: $e")
          Some(e.getClass.getSimpleName)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // outside the timer: release caches so no run inherits cache
      // pressure (and run 2 never reads run 1's caches) — BenchSession
      BenchSession.releaseCaches(spark)
      (elapsed, err)
    }
    val results = selected.map { q =>
      def once(): (Double, Option[String]) = runOnce(q)
      val first = once()
      var runs = if (first._2.isEmpty) Seq(first, once()) else Seq(first)
      // `ok` re-checked after every append: a failure on any run stops
      // the protocol (no further runs of a known-failed query) and
      // forces the reported value to -1
      def ok = runs.forall(_._2.isEmpty)
      if (ok && runs.map(_._1).min < 5.0) {
        runs = runs :+ once()
        if (ok && runs.map(_._1).min < 2.0) {
          runs = runs :+ once()
          if (ok) runs = runs :+ once() // a 4th-run failure stops the 5th
        }
      }
      val reported =
        if (!ok) -1.0
        else runs.size match {
          case 5 => runs.map(_._1).sorted.apply(2) // median of 5
          case 3 => runs.map(_._1).sorted.apply(1) // median of 3
          case _ => runs.map(_._1).min
        }
      val err = runs.flatMap(_._2).headOption
      (q.name, reported, err, runs.map(_._1))
    }
    val queries = ListMap(results.map { case (k, v, err, _) =>
      k -> (if (err.isDefined) -1 else Json.decimal(v))
    }: _*)
    val allRuns = ListMap(results.map { case (k, _, _, runs) =>
      k -> runs.map(Json.decimal(_))
    }: _*)
    val errs = ListMap(results.collect { case (k, _, Some(e), _) => k -> e }: _*)
    val total = results.collect { case (_, v, None, _) => v }.sum
    val mlfit = results.collect {
      case (k, v, None, _) if k.startsWith("qml") => v }.sum
    val relational = total - mlfit
    // ML-fit families: als = the checkpointed ALS fits, classifiers = the
    // TVS/FM/LogReg/tree grid fits plus the model-IO roundtrip's LR fit,
    // other = the one-shot feature/PCA/ANN stages. als + classifiers +
    // other == value_mlfit by construction.
    val AlsFamily = Set("qml50_als_topk", "qml58_als_grid")
    val ClassifierFamily =
      Set("qml53_classifiers", "qml54_fmreg", "qml55_model_io")
    def famSum(in: String => Boolean) = results.collect {
      case (k, v, None, _) if k.startsWith("qml") && in(k) => v }.sum
    val mlfitAls = famSum(AlsFamily)
    val mlfitClassifiers = famSum(ClassifierFamily)
    val mlfitOther = famSum(k => !AlsFamily(k) && !ClassifierFamily(k))
    val nFailed = results.count(_._3.isDefined)
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_out.json"))
    // Three lines, one totals definition. Readers keep only a tail of
    // stdout, and the full JSON with every raw `runs` array outgrew it
    // (BENCH_r04/r05 clipped mid-object), so stdout carries a COMPACT
    // line (totals + per-query values + errors) and the full JSON goes
    // only to the durable file. n_queries makes a SPARK_GRAFT_ONLY subset
    // self-describing; "out" names the durable file.
    val totals = ListMap[String, Any]("metric" -> "total", "value" -> total,
      "value_relational" -> relational, "value_mlfit" -> mlfit,
      "value_mlfit_als" -> mlfitAls,
      "value_mlfit_classifiers" -> mlfitClassifiers,
      "value_mlfit_other" -> mlfitOther, "unit" -> "sec",
      "n_queries" -> results.size, "n_failed" -> nFailed,
      "protocol" -> Protocol, "cpus" -> BenchSession.cpus.toInt,
      "sf" -> sfDir, "out" -> outPath.toString) ++ host.map("host" -> _)
    val compact = totals ++ ListMap("queries" -> queries, "errors" -> errs)
    println(Json.write(compact))
    try {
      Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outPath,
        (Json.write(compact + ("runs" -> allRuns)) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] result JSON also written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] file write failed (stdout line stands): $e")
    }
    // best-effort: a shutdown failure must not swallow the totals line
    // below — the driver artifact's whole point (ADVICE r10)
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed (totals line stands): $e")
    }
    // Totals-only line, printed LAST (after spark.stop() so no Spark
    // shutdown output can follow it): a tail capture clips from the
    // FRONT, and the ~3.5 KB compact line kept losing exactly its front —
    // the totals (BENCH_r06–r09 "parsed": null). Any tail window
    // that sees the end of stdout sees all of this short line.
    println(Json.write(totals))
  }
}
