package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (sbt forks a single
  * test JVM; suites may run concurrently — Spark handles concurrent jobs
  * on one context). The benched session, on a fixed 4 cores so results
  * and partition counts do not depend on the host. */
object TestSpark {
  lazy val spark: SparkSession = BenchSession.build("4")

  /** Temp dir that deletes itself when the test JVM exits — every spec
    * staging fixture goes through here so test runs stop accumulating
    * dirs under /tmp (the checkpoint-dir litter lesson, round 9). */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => Staging.deleteRecursively(d), s"rm-$prefix"))
    d
  }
}
