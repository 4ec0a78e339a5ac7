package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Registry contract checks: names unique, oracle discipline held. */
class RegistrySpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Names of the Scala files under `roots` whose text matches `pattern`. */
  private def filesWith(roots: Seq[String], pattern: String): Seq[String] = {
    val re = pattern.r
    roots.flatMap(scalaFiles)
      .filter(f => re.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString).sorted
  }

  test("query names are unique and well-formed") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("q(ml)?[0-9]+_[a-z0-9_]+")))
  }

  test("every query carries a DuckDB oracle (all of them, since r20)") {
    val noOracle = QueryRegistry.all.filter(_.oracle.isEmpty).map(_.name)
    // r20 retired the last rows-only entry (qml51): the registry is
    // fully oracle-checked and must never regress to a weaker check
    assert(noOracle.isEmpty, s"missing oracle: $noOracle")
  }

  test("sessions are built and the core count read only in BenchSession") {
    // split literals, so this file does not match its own scan
    val builder = "SparkSession" + ".builder"
    val cpusKey = "\"SPARK_GRAFT_" + "CPUS\""
    val sources = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
    for (needle <- Seq(builder, cpusKey)) {
      val hits = sources.filter(Files.readString(_).contains(needle))
        .map(_.getFileName.toString)
      assert(hits == Seq("BenchSession.scala"), s"$needle in $hits")
    }
  }

  test("JSON artifacts have one writer") {
    // split literal, so this file does not match its own scan
    val escaper = filesWith(Seq("src/main/scala", "src/test/scala"),
      "Json" + "Escape")
    assert(escaper.isEmpty, s"hand-built escaping in $escaper")
    // `new ObjectMapper`, fully qualified or not, or a JsonMapper builder
    val mappers = filesWith(Seq("src/main/scala"),
      """new\s+[\w.]*(Object|Json)Mapper\b|JsonMapper\s*\.\s*builder""")
    assert(mappers == Seq("Json.scala"), s"JSON mapper constructed in $mappers")
  }

  test("the session checkpoint dir is set only by fitAlsGrid's temp anchor") {
    // the dir is session-global: a second scoped override elsewhere
    // would redirect every later checkpoint user while it runs
    val hits = scalaFiles("src/main/scala")
      .filter(Files.readString(_).contains("setCheckpointDir"))
      .map(_.toString)
    assert(hits == Seq("src/main/scala/graft/ml/Recsys.scala"),
      s"setCheckpointDir in $hits")
  }

  test("cached intermediates have one owner") {
    // RelationalOps.withMaterialized owns every cache an operator or query
    // takes for its own consumers; the CC loop's per-round label RDD is
    // the one hand-managed persist, BenchSession.releaseCaches the one
    // global release. Split literals, so this file does not match itself.
    val main = Seq("src/main/scala")
    val persists = filesWith(main, """\.persist\(|\.cache""" + """\(\)""")
    assert(persists.toSet.subsetOf(Set("RelationalOps.scala", "Dedup.scala")),
      s"persist/cache in $persists")
    val releases = filesWith(main, "un" + "persist")
    assert(releases.toSet.subsetOf(
        Set("RelationalOps.scala", "Dedup.scala", "BenchSession.scala")),
      s"unpersist in $releases")
    val gone = filesWith(Seq("src/main/scala", "src/test/scala"),
      "borrow" + "Materialized|asOfJoin" + "WithRelease|hotKey" + "Threshold")
    assert(gone.isEmpty, s"removed cache/hot-key API named in $gone")
  }

  test("custom expressions are bound in one place") {
    // VectorFunctions builds each kernel's Column from its Catalyst
    // expression through ExpressionBridge: no name is registered or looked
    // up, and no session extension is installed. Split literals, so this
    // file does not match its own scan.
    val registry = filesWith(Seq("src/main/scala"),
      "call_" + "function|function" + "Registry|inject" + "Function|" +
        """spark\.sql\.""" + "extensions|Graft" + "Extensions")
    assert(registry.isEmpty, s"function registry reached from $registry")
    val inSpark = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .map(_.toString).filter(_.contains("org/apache/spark/sql"))
    assert(inSpark == Seq(
        "src/main/scala/org/apache/spark/sql/graft/ExpressionBridge.scala"),
      s"files inside Spark's package: $inSpark")
  }

  /** Every match of `pattern` under src/main, named by its file and the
    * last `def` above it. */
  private def sites(pattern: String): Seq[String] = {
    val re = pattern.r
    val enclosingDef = """def\s+(\w+)""".r
    scalaFiles("src/main/scala").flatMap { f =>
      val text = Files.readString(f)
      re.findAllMatchIn(text).map { m =>
        val owner = enclosingDef.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"${Paths.get("src/main/scala").relativize(f)}:$owner"
      }
    }.sorted
  }

  test("models share one held-out harness") {
    // every model function splits, fits and scores through
    // Classifiers.heldOut and tunes through Classifiers.tvsGrid. Split
    // literals, so this file does not match its own scan.
    val splits = sites("random" + """Split\(""")
    assert(splits == Seq("graft/ml/Classifiers.scala:heldOut"),
      s"randomSplit at $splits")
    val tuners = sites("""new\s+""" + "TrainValidationSplit")
    assert(tuners == Seq("graft/ml/Classifiers.scala:tvsGrid"),
      s"TrainValidationSplit built at $tuners")
  }

  test("ALS is built in one place, its blocks sized there") {
    // fitAls and fitAlsGrid share Recsys.als, the only site that sets the
    // block count. Split literals, so this file does not match its own scan.
    val builder = Seq("graft/ml/Recsys.scala:als")
    val built = sites("""new\s+""" + """ALS\(""")
    assert(built == builder, s"ALS built at $built")
    val blocks = sites("setNum" + "Blocks")
    assert(blocks == builder, s"setNumBlocks at $blocks")
  }

  test("bucket self-joins have one site") {
    // every LSH / inverted-index candidate generator self-joins through
    // Dedup.bucketPairs, the one place that sizes, caps and joins the
    // buckets. Split literals, so this file does not match its own scan.
    val hinted = sites("shuffle" + "_hash")
    assert(hinted == Seq("graft/ext/Dedup.scala:bucketPairs"),
      s"shuffle-hash self-join at $hinted")
  }

  test("oracle SQL never references fixture paths or engine internals") {
    QueryRegistry.all.flatMap(_.oracle).foreach { sql =>
      assert(!sql.contains("/root/"), "oracle must address tables by name")
    }
  }
}
