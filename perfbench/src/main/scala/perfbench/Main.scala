package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.BenchSession

/** One benchmark run in one JVM: set up the session as `graft.Bench`
  * does and run a cold pass; a traced run then makes warm passes for
  * `--seconds`, at least two. Every pass's outputs are checked. Prints one
  * JSON result as the last stdout line and writes the stamped detail
  * next to it. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, sf: String,
                        expected: String, out: String, commit: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--data"), get("--sf"), get("--expected"),
      get("--out"), m.getOrElse("--commit", "unknown"))
  }

  /** A pass's figures: wall and CPU seconds (checks excluded), operations
    * attempted and failed, and — when traced — its per-layer metrics. */
  final case class PassResult(wallS: Double, cpuS: Double, checkS: Double,
                              attempted: Int,
                              failed: Map[String, String],
                              layers: Map[String, Double], spans: Seq[Span])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workload.all.find(_.name == args.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val expected = new ObjectMapper().readTree(new File(args.expected))
      .path(workload.name)
    require(expected.isObject,
      s"${args.expected} holds no expectations for ${workload.name}")
    // the core count the host really has, not Bench's default of 32
    val cores = Runtime.getRuntime.availableProcessors
    val spark = BenchSession.build(cores.toString)
    try {
      warmUp(spark, args.data)
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val rng = new scala.util.Random(args.seed)
      def pass(traced: Boolean): PassResult =
        runPass(spark, workload, args.data, rng, expected, traced, cores)
      val cold = pass(traced = false)
      val warm = Vector.newBuilder[(Boolean, PassResult)]
      val t0 = System.nanoTime()
      var i = 0
      while (args.trace && (i < MinTracedPasses ||
          System.nanoTime() - t0 < args.seconds * 1e9)) {
        // traced runs alternate traced and untraced passes: the gap
        // between their walls is the tracing overhead
        val traced = i % 2 == 0
        warm += traced -> pass(traced)
        i += 1
      }
      val passes = warm.result()
      val all = cold +: passes.map(_._2)
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed.size).sum
      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) {
          val v = Map(
            "setup_s" -> setupS,
            "cold_wall_s" -> cold.wallS,
            "cpu_s" -> cold.cpuS,
            "peak_rss_mb" -> peakRssMb(),
            "success_rate" -> (1.0 - failed.toDouble / attempted))
          EndToEnd.map { case (n, unit) => (n, v(n), unit) }
        } else {
          val traced = passes.collect { case (true, r) => r }
          val untraced = passes.collect { case (false, r) => r }
          val overhead =
            median(traced.map(_.wallS)) - median(untraced.map(_.wallS))
          Layers.all.map { case (n, unit) =>
            val v = if (n == "tracing.overhead_s") overhead
              else median(traced.map(_.layers.getOrElse(n, 0.0)))
            (n, v, unit)
          }
        }
      val stamp = Main.stamp(args, cores, workload.name)
      writeDetail(args, stamp, cold, passes, metrics, setupS)
      println(s"stamp ${Json.obj(stamp)}")
      println(Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) =>
          n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
        })))
    } finally spark.stop()
  }

  /** (name, unit) of the end-to-end metrics, reported with tracing off:
    * set-up (session + Bench's warmups, from JVM start), the cold pass's
    * wall and process CPU, peak RSS, and the share of operations that
    * neither failed nor produced a wrong output. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "cold_wall_s" -> "s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "success_rate" -> "ratio")

  /** Warm passes a traced run makes at least: it alternates traced and
    * untraced ones, and the gap between their walls is the overhead. */
  val MinTracedPasses = 2

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Bench's engine warmups: JVM/codegen/scheduler init and the parquet
    * I/O stack. Bench's seeded ALS warm fit is left out: it exists to keep
    * mllib's first-use cost off Bench's first timed ML query, and here that
    * cost is what the cold pass measures. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(100).count()
    spark.read.parquet(s"$dir/region.parquet").limit(1).count()
  }

  def runPass(spark: SparkSession, workload: Workload, dir: String,
              rng: scala.util.Random, expected: JsonNode, traced: Boolean,
              cores: Int): PassResult = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val tracer = new Tracer(traced, s =>
      sc.setLocalProperty(LayerListener.ModuleKey, s.map(_.module).orNull))
    val p = new Pass(spark, dir, tracer, rng, Some(expected))
    try workload.pass(p)
    catch { case scala.util.control.NonFatal(e) =>
      // a throw outside any operation fails the pass as a whole
      p.check("pass", e.toString)(false)
    }
    val wall = p.wallS
    val cpu = p.cpuS
    // what the program left persisted after the workload released its
    // own frames, then Bench's release — all outside the timed span
    val residue = sc.getPersistentRDDs.size.toDouble
    val residueMb = sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    BenchSession.releaseCaches(spark)
    System.gc()
    val spans = tracer.drain()
    val layers = if (!traced) Map.empty[String, Double] else {
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
      Layers.of(spans, listener, p, wall, cores) ++ Map(
        "cache.residue" -> residue, "cache.residue_mb" -> residueMb)
    }
    PassResult(wall, cpu, p.untimedS, p.attempted, p.failed, layers, spans)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Host and input facts a comparison must match on. */
  def stamp(a: Args, cores: Int, workload: String): Seq[(String, Any)] = {
    def proc(f: String) = {
      val s = scala.io.Source.fromFile(f)
      try s.mkString finally s.close()
    }
    Seq("workload" -> workload, "seed" -> a.seed, "cores" -> cores,
      "sf" -> a.sf, "commit" -> a.commit, "trace" -> a.trace,
      "load1" -> proc("/proc/loadavg").split("\\s+")(0).toDouble,
      "mem_available_kb" -> proc("/proc/meminfo").linesIterator
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong }.getOrElse(-1L))
  }

  private def writeDetail(a: Args, stamp: Seq[(String, Any)],
                          cold: PassResult,
                          passes: Seq[(Boolean, PassResult)],
                          metrics: Seq[(String, Double, String)],
                          setupS: Double): Unit = {
    def pass(r: PassResult, traced: Boolean) = Json.Raw(Json.obj(Seq(
      "traced" -> traced, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
      "check_s" -> r.checkS,
      "attempted" -> r.attempted,
      "failed" -> r.failed.toSeq.sortBy(_._1),
      "layers" -> r.layers.toSeq.sortBy(_._1),
      "spans" -> r.spans.sortBy(_.startNs).map(sp => Seq(
        "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "start_s" -> (sp.startNs - r.spans.map(_.startNs).min) / 1e9,
        "dur_s" -> (sp.endNs - sp.startNs) / 1e9)))))
    val doc = Json.obj(Seq(
      "stamp" -> Json.Raw(Json.obj(stamp)),
      "setup_s" -> setupS,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) },
      "cold" -> pass(cold, traced = false),
      "warm" -> passes.map { case (t, r) => pass(r, t) }))
    val dir = new File(a.out)
    dir.mkdirs()
    val name = s"${stamp.head._2}_seed${a.seed}_trace${if (a.trace) 1 else 0}" +
      s"_${System.currentTimeMillis()}.json"
    Files.write(new File(dir, name).toPath, (doc + "\n").getBytes(UTF_8))
  }
}
