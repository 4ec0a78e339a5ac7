package graft

import org.apache.spark.sql.SparkSession

/** The one session definition for every main ([[Bench]], [[PlanStamp]],
  * [[Verify]], [[Explain]], [[graft.ml.ReferenceAls]])
  * and the test harness, plus the between-runs
  * cache release. One definition because the configuration the oracle
  * checks (Verify) and the plans the gate stamps (PlanStamp) must be the
  * configuration that is benched.
  *
  * Callers that truly differ set the key with `spark.conf.set` right
  * after [[build]], so each difference is explicit:
  *  - Verify sets `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`
  *    (not INT96) so pyarrow/DuckDB read its dumps with the oracle's
  *    timestamp semantics;
  *  - Explain `--codegen` sets `spark.sql.adaptive.enabled=false`, because
  *    AQE wraps the whole plan before execution and hides the codegen
  *    subtrees from `debugCodegen`;
  *  - the tests build with a fixed `"4"` cores instead of [[cpus]], so
  *    partition-count assertions do not depend on the host. */
object BenchSession {

  /** Default core count: `SPARK_GRAFT_CPUS` if set, else the host's. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** local[cpus] with cpus-sized shuffle partitioning, AQE + partition
    * coalescing, UTC, UI off. No extension or function registration:
    * graft's custom expressions are bound as Columns
    * ([[graft.functions.VectorFunctions]]). */
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // shuffle parallelism follows the core count (the knob a cluster
      // deploy derives from its executor count); AQE coalescing (below)
      // sizes the actual post-shuffle partitions from the data
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst is deliberately left at its default (true):
      // false (Spark's own production recommendation) was measured — it
      // coalesces the CPU-dense shingle self-join to ONE partition at
      // this scale (advisory 64MB >> the 4–5MB shingle shuffles) and
      // serialized it: q31 4.3→5.6s, q71 5.1→6.9s. With true, AQE still
      // coalesces below minPartitionSize but never below the core count
      // a CPU-bound stage can use.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // The multi-pass dedup/ML operators persist their fan-out frames
      // (jaccardPairs, bigramLm, the CC round tables). By default AQE is
      // NOT applied inside cached-plan materialization
      // (canChangeCachedPlanOutputPartitioning=false), so every cache
      // builds with the full initial shuffle partitioning and every
      // consumer stage inherits core-count many tiny tasks. Allowing AQE
      // in cached plans lets the same size-based coalescing govern cache
      // builds (measured on the dedup subset: 16.9s vs 18.5s without);
      // at 100 TB caches keep real partition counts either way.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Always use the sort-based (Unsafe) shuffle writer: the bypass
      // writer opens one file PER REDUCE PARTITION per map task (M·R
      // tiny files + an mmap'd merge — thread samples of the 32-core
      // bench sat in FileChannel map0/unmap0 and open0, and concurrent
      // munmap serializes in the kernel, so the churn grows superlinearly
      // with task threads). At production partition counts (R > 200) the
      // bypass path never fires anyway, so sort-based IS the at-scale
      // shuffle shape; this only stops tiny local runs from taking the
      // small-R detour the real deploy never takes.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // (r21: KryoSerializer for the RDD-path shuffles was measured —
      // qml50 8.5s vs 8.1s, qml58 10.9s vs 10.7s, i.e. no win at these
      // block sizes — and deliberately NOT adopted.)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release frames/RDDs the multi-pass ops leave persisted for their
    * consumers, so no run (or stamp) inherits another's cache pressure. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
