package graft


/** The plan-shape stamp writer: the per-query
  * `{n_exchanges, has_broadcast, wholestage}` JSON ([[PlanShape]]) that
  * the plan-regression gate (`scripts/plan_gate.sh`) diffs, produced
  * without any timed run. Building a query is not planning-only:
  * counted with a job listener around each `fn` at sf0.01, 50 of the
  * 117 registered queries run Spark jobs while they are built, besides
  * the one parquet schema read per table load — the ML fits, operators
  * that materialize cached intermediates, staging that writes or
  * collects scratch inputs, zipWithRank dictionary ids, driver-side
  * scalars (q44, q66, q85, q93) and q106's bounded streaming run
  * (per-query counts: ROADMAP direction 4). A full stamp therefore costs
  * roughly the ML subtotal plus those jobs, still far below a full
  * bench, and what it stamps is the plan left after them — for q52 and
  * the ML harnesses a local result relation, not the topology the jobs
  * ran (the streaming topology is pinned by StreamParitySpec + the
  * env-gated suites, not the plan gate).
  *
  * A query whose construction or capture throws is OMITTED from the
  * stamp — the diff then reports it as REMOVED and exits 1, so a
  * failure can never read as a clean gate.
  *
  * Usage: runMain graft.PlanStamp [sfDir] [outPath]
  * Defaults: sf0.1 (the scale the committed plan_shape_r*.json baselines
  * were captured at — broadcast decisions key on file-size stats, so the
  * diff must compare same-scale stamps) and target/plan_shape_stamp.json.
  */
object PlanStamp {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.drop(1).headOption
      .getOrElse("target/plan_shape_stamp.json")
    val only = OnlyFilter.resolve("planstamp",
      QueryRegistry.all.map(_.name).toSet)
    // SAME session knobs as Bench, by construction (BenchSession —
    // the stamp must describe the plans the bench would get)
    val spark = BenchSession.build(BenchSession.cpus)
    val selected = QueryRegistry.all
      .filter(q => only.forall(_.contains(q.name)))
    val shapes = selected.flatMap { q =>
      val shape = try Some(q.name -> PlanShape.of(q.fn(spark, sfDir)))
      catch { case e: Throwable =>
        System.err.println(s"[planstamp] ${q.name} FAILED (omitted — " +
          s"diff will read it as REMOVED): $e")
        None
      }
      // release anything a multi-pass op left persisted, as Bench does
      BenchSession.releaseCaches(spark)
      shape
    }.toMap
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, (PlanShape.toJson(shapes) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[planstamp] ${shapes.size}/${selected.size} shapes -> $p")
    spark.stop()
    if (shapes.size != selected.size) sys.exit(1)
  }
}
