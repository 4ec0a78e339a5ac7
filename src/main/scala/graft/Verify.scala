package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q17,q32 — builder-side targeted re-verification;
    // the driver never sets it (full dump). Resolved BEFORE the
    // SparkSession: a typo'd or degenerate filter (which would
    // otherwise make the manifest-driven verify_local flow report
    // green for a query that never ran, or run zero queries and exit
    // 0) fails in milliseconds, not after Spark startup.
    val only = OnlyFilter.resolve("verify", SparkEntry.queries.keySet)
    // the benched session; micros (not INT96) so pyarrow/DuckDB read
    // the dumps with the oracle's timestamp semantics
    val spark = BenchSession.build(BenchSession.cpus)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // A failed query leaves no parquet dir; errors.json names every
    // failure so a missing dump is never silently "unmeasured".
    // The run's scope, computed ONCE: the loop below executes exactly
    // this list and the attempted.json manifest declares exactly it, so
    // the two can never drift.
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
    // Both scope-describing files are written BEFORE the query loop, and
    // any stale errors.json from a previous run in a reused outDir is
    // removed: an interrupted run then reads as missing-dump FAILs under
    // the fresh full-scope manifest, never as a previous run's (smaller
    // or different) green scope.
    // oracle_sql.json is always the FULL registry, even under
    // SPARK_GRAFT_ONLY — the full map lets scripts/oracle_type_sweep.py
    // type-check every registered oracle from any Verify run's output;
    // attempted.json declares which queries THIS run executed (errored
    // ones included — their dumps are absent, and a scope-aware compare
    // must still flag them, never skip them).
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/attempted.json"), Json.write(attempted))
    Files.deleteIfExists(Paths.get(s"$outDir/errors.json"))
    // Also remove each attempted query's STALE dump dir up front: in a
    // reused outDir, an interrupted run must read as missing-dump FAILs
    // — a previous run's dumps surviving under this run's fresh
    // manifest would certify queries this run never executed. (Dumps
    // of queries OUTSIDE the scope are kept: the manifest excludes
    // them from the compare.)
    // Strict variant deliberately: a swallowed delete failure here
    // would silently re-admit stale dumps into the compare.
    attempted.foreach { name =>
      Staging.deleteRecursivelyStrict(Paths.get(s"$outDir/$name"))
    }
    val errors = attempted.map(name => name -> SparkEntry.queries(name))
      .flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: $e")
          Some(name -> e.toString.take(500))
        } finally {
          // release what multi-pass ops left persisted for their
          // consumers, so cache residency never accumulates
          BenchSession.releaseCaches(spark)
        }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      Json.write(ListMap(errors: _*)))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    spark.stop()
  }
}
