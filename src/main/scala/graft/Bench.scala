package graft


/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). local[N] with N-sized shuffle
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
    // (the honesty contract), not kill the run before the first query.
    // The read's success no longer feeds the probe routing (that keys on
    // the all-queries-failed OUTCOME since review pass 4 — a partially
    // populated sfDir passes this region-only read); it remains as the
    // I/O-stack warm-up and an early stderr signal.
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
    def fmt(v: Double): String =
      // Locale.ROOT: a comma-decimal default locale would break the
      // one-JSON-line contract
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Env-controlled strings (sfDir, the bench-out path) ride in the
    // hand-built JSON lines; a quote, backslash, or control char in one
    // would corrupt both the stdout line and the durable file (ADVICE
    // r12). Query names and error CLASS names are identifier-safe by
    // construction and stay unescaped.
    def jsonStr(s: String): String = JsonEscape.str(s)
    // Timing protocol (documented in BASELINE.md): single-run timings on a
    // shared machine swing far beyond the plan cost — GC pauses and
    // JIT/codegen warmup land on whichever query runs first. Each query
    // runs twice and reports the min; SUB-5s queries (where a single GC
    // pause is a large relative swing — q39 in r5, q64 in r6 sat just
    // above the old 2s cutoff and one slow run skewed min-of-2) get a
    // third run and report the MEDIAN of 3, which is robust to one
    // outlier in either direction. Queries ≥5s (the ML fits) keep
    // min-of-2 — their relative noise is small and a third run would
    // add minutes of wall-clock for no signal. All raw runs are kept in
    // the JSON so the noise itself stays visible.
    // _split v2: the JSON additionally carries value_relational (q*) and
    // value_mlfit (qml*) subtotals — the ML-fit queries swing 2-3× between
    // runs on identical code, so round-over-round comparisons should track
    // the relational subtotal and read the fit subtotal as its own series.
    // _med5 v3: sub-2s queries take 5 runs and report the median — twice
    // now (q64 r6, q40 r7) a sub-2s query drew TWO environmental outliers
    // in one round and the 3-run median reported slow; a 5-run median is
    // robust to two. Costs ~1 min over the full suite, only where runs
    // are cheapest. The 2–5s band keeps median-of-3, ≥5s keeps min-of-2.
    // _rerun v4: after the main loop, any query the PREVIOUS durable full
    // map prices sub-5s that this run reported at >3× that reference gets
    // two extra runs, and the MIN over all observed runs is reported
    // (BenchRerun.scala: the r16/r17 false-regression class — environ-
    // mental hits on sub-second plans — killed at the source; re-run
    // names ride in the "reruns" field, raw extra runs in "runs").
    val Protocol = "min2_med3_sub5s_med5_sub2s_split_rerun_famsplit"
    // Host context at run START (best-effort, Linux /proc; empty string
    // off-Linux or on any read failure). The r16→r17 adjudication of a
    // uniform driver-side slowdown hinged on host state the artifact
    // didn't carry — boot age (fresh-boot page-cache warm-up reads
    // 1.5-2× uniform), concurrent load, and cache residency. Recording
    // them IN the JSON lets any hot map carry its own explanation
    // instead of a next-round forensic.
    val hostJson = try {
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
      s""","host":{"uptime_sec":${fmt(up)},"load1":${fmt(load1)}""" +
        s""","mem_available_kb":${mem.getOrElse("MemAvailable", -1L)}""" +
        s""","page_cache_kb":${mem.getOrElse("Cached", -1L)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] host context unavailable: $e")
      ""
    }
    // plan-shape stamps (ADVICE r18 #7): one per query, captured OUTSIDE
    // the timed span from the first successful run's DataFrame — shape is
    // a planning property, so the capture costs driver-side analysis only
    val shapes = scala.collection.mutable.Map.empty[String, PlanShape.Shape]
    def runOnce(q: GQuery): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      val err: Option[String] = try {
        df = q.fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: $e")
          Some(e.getClass.getSimpleName)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (err.isEmpty && df != null && !shapes.contains(q.name))
        try shapes(q.name) = PlanShape.of(df)
        catch { case e: Throwable => // never fail a timing over a stamp
          System.err.println(s"[bench] plan-shape stamp failed for ${q.name}: $e")
        }
      // outside the timer: release caches so no run inherits cache
      // pressure (and run 2 never reads run 1's caches) — BenchSession
      BenchSession.releaseCaches(spark)
      (elapsed, err)
    }
    val measured = selected.map { q =>
      def once(): (Double, Option[String]) = runOnce(q)
      val first = once()
      var runs = if (first._2.isEmpty) Seq(first, once()) else Seq(first)
      // `ok` re-checked after every append: a failure on the 3rd run must
      // both stop the protocol (no 4th/5th run of a known-failed query)
      // and force reported = -1 — previously only the first two runs
      // could set the sentinel, so a late failure left a positive
      // median for downstream consumers (the re-run pass) while the
      // JSON said -1.
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
    // ---- outlier re-run pass (protocol _rerun; BenchRerun.scala) --------
    // Reference = the previous durable FULL map at its default path, read
    // here (after the loop, before this run overwrites it). Unreadable,
    // absent, or DIFFERENT-SCALE reference (the artifact's own "sf"
    // stamp vs this run's sfDir) simply disarms the pass.
    val reference: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("target/bench_out.json")
      if (java.nio.file.Files.exists(p))
        BenchRerun.referenceFor(java.nio.file.Files.readString(p), sfDir)
      else {
        // fresh checkout / sbt clean — the DRIVER's environment, the one
        // run this pass exists to protect (r18 shipped `reruns: []` there
        // because this branch only disarmed): fall back to the newest
        // COMMITTED builder artifact; referenceFor still validates its sf
        // stamp, so a different-scale fallback disarms, never mis-fires
        BenchRerun.newestBuilderArtifact(
          Option(new java.io.File(".").list()).map(_.toSeq)
            .getOrElse(Seq.empty)) match {
          case Some(f) =>
            System.err.println(
              s"[bench] no reference map at $p — falling back to committed $f")
            BenchRerun.referenceFor(
              java.nio.file.Files.readString(java.nio.file.Paths.get(f)),
              sfDir)
          case None =>
            System.err.println(s"[bench] no reference map at $p and no " +
              "committed bench_builder_r*.json — re-run pass disarmed")
            Map.empty
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] reference map unreadable (re-run pass disarmed): $e")
      Map.empty
    }
    val rerun = BenchRerun.rerunSet(
      measured.map(r => r._1 -> r._2).toMap, reference)
    val byName = selected.map(q => q.name -> q).toMap
    val results = measured.map { case t @ (name, reported, err, runs) =>
      if (!rerun.contains(name)) t
      else {
        System.err.println(s"[bench] $name reported ${fmt(reported)}s vs " +
          s"reference ${fmt(reference(name))}s — outlier re-run")
        val extra = Seq(runOnce(byName(name)), runOnce(byName(name)))
        // a re-run failure is a real signal, never an upgrade: keep the
        // original verdict and only note the failure
        if (extra.exists(_._2.isDefined)) t
        else {
          val all = runs ++ extra.map(_._1)
          (name, all.min, err, all)
        }
      }
    }
    val rerunNames = rerun.toSeq.sorted
    val qs = results.map { case (k, v, err, _) =>
      "\"" + k + "\":" + (if (err.isDefined) "-1" else fmt(v))
    }.mkString("{", ",", "}")
    val allRuns = results.map { case (k, _, _, runs) =>
      "\"" + k + "\":[" + runs.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) =>
      "\"" + k + "\":\"" + e + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None, _) => v }.sum
    val mlfit = results.collect {
      case (k, v, None, _) if k.startsWith("qml") => v }.sum
    val relational = total - mlfit
    // _famsplit v5 (VERDICT r19 #5): the mlfit series swings 2-3×
    // intrinsically and qml53 alone is ~10% of total — break the fit
    // subtotal into its iterative-fit families so a driver-map swing is
    // attributable from the artifact alone (als = the checkpointed ALS
    // fits, classifiers = the TVS/FM/LogReg/tree grid fits plus the
    // model-IO roundtrip's LR fit, other = the one-shot feature/PCA/ANN
    // stages). als + classifiers + other == value_mlfit by construction.
    val AlsFamily = Set("qml50_als_topk", "qml58_als_grid")
    val ClassifierFamily =
      Set("qml53_classifiers", "qml54_fmreg", "qml55_model_io")
    def famSum(in: String => Boolean) = results.collect {
      case (k, v, None, _) if k.startsWith("qml") && in(k) => v }.sum
    val mlfitAls = famSum(AlsFamily)
    val mlfitClassifiers = famSum(ClassifierFamily)
    val mlfitOther = famSum(k => !AlsFamily(k) && !ClassifierFamily(k))
    val nFailed = results.count(_._3.isDefined)
    // Two artifacts, one contract: the driver tails stdout, and the full
    // JSON with every raw `runs` array has repeatedly outgrown that tail
    // (BENCH_r04/r05 clipped mid-object; r06–r08 "parsed": null). The
    // stdout line is therefore COMPACT — totals + per-query reported
    // values + errors, no raw runs — and the full JSON (with runs) goes
    // only to the durable file.
    // One source of truth for the totals fields: embedded in the compact
    // line, the durable file, AND the totals-only final line below — a
    // protocol change edited here stays consistent across all three.
    // n_queries makes a SPARK_GRAFT_ONLY subset run self-describing: a
    // totals line with n_queries far below the registry size is a probe,
    // not a full-suite total.
    // Subset runs (SPARK_GRAFT_ONLY) and failure probes default to
    // different files so an ad-hoc probe never clobbers the round's
    // full-map artifact. Probe routing keys on the actual run OUTCOME
    // (every query failed — an unreadable or partially populated sfDir),
    // not the warmup read: a transient warmup failure on a genuine full
    // run (all queries green) must still land in bench_out.json
    // (ADVICE r11). The chosen path rides in the totals line ("out") so
    // the driver can detect any diversion from stdout.
    // ANY all-queries-failed run is probe-class, whether or not the
    // warmup read survived (a partially populated sfDir passes the
    // region-only warmup): a genuine full run never fails 100%, and an
    // all-minus-1 map written to bench_out.json would become the re-run
    // reference — non-positive values never trigger, so the protection
    // would be off with zero observability (review pass 4). ADVICE r11's
    // case (transient warmup failure, all queries green) still routes to
    // bench_out.json because nFailed == 0 there.
    val probeRun = results.nonEmpty && nFailed == results.size
    val defaultOut =
      if (only.isDefined) "target/bench_subset.json"
      else if (probeRun) "target/bench_probe.json"
      else "target/bench_out.json"
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    val rerunsJson = rerunNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totals = s""""metric":"total","value":$total,"value_relational":$relational,"value_mlfit":$mlfit,"value_mlfit_als":$mlfitAls,"value_mlfit_classifiers":$mlfitClassifiers,"value_mlfit_other":$mlfitOther,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"protocol":"$Protocol","reruns":$rerunsJson,"sf":"${jsonStr(sfDir)}","out":"${jsonStr(outPath.toString)}"$hostJson"""
    val json = s"""{$totals,"queries":$qs,"errors":$errs,"runs":$allRuns}"""
    println(s"""{$totals,"queries":$qs,"errors":$errs}""")
    try {
      Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outPath,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] result JSON also written to $outPath")
      // plan-shape stamps, sibling to the bench artifact. The name keys
      // on the same OUTCOME routing as the bench JSON: a subset run or a
      // failure probe (all queries errored → empty shape map) must never
      // clobber target/plan_shape.json — the round's committed
      // plan-regression baseline diffs against it, and a probe-zeroed
      // file would read as "109 queries removed" (review finding r19).
      // key on the probe OUTCOME, not the output filename — a
      // SPARK_GRAFT_BENCH_OUT override during a probe would otherwise
      // re-open the clobber (review pass 2) — and ALSO on whether any
      // shape was actually captured: probeRun (all queries failed)
      // already covers the no-successful-run case, so shapes.isEmpty is
      // the belt-and-braces guard for the remaining sliver — every
      // per-query CAPTURE threw on an otherwise green run — where an
      // empty map must still never overwrite the round's baseline
      val shapePath = outPath.resolveSibling(
        if (only.isDefined) "plan_shape_subset.json"
        else if (probeRun || shapes.isEmpty) "plan_shape_probe.json"
        else "plan_shape.json")
      java.nio.file.Files.write(shapePath,
        (PlanShape.toJson(shapes) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] plan shapes written to $shapePath")
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
    // shutdown output can follow it): the driver's tail capture clips from
    // the FRONT, and the compact line above (~3.5 KB: totals + per-query
    // map) kept losing exactly its front — the totals (BENCH_r06–r09
    // "parsed": null). This ~200-byte line carries only the totals, so any
    // tail window that sees the end of stdout sees all of it. The compact
    // line stays for the per-query map; the full JSON with raw runs stays
    // in the durable file.
    println(s"{$totals}")
  }
}
