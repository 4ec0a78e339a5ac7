package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  test("the top-k contract rejects gaps, rising scores and unnamed items") {
    val ok = Seq((1L, 1, Some("x"), 0.9), (1L, 2, Some("y"), 0.9),
      (2L, 1, Some("x"), 0.5), (2L, 2, Some("z"), 0.1))
    assert(Checks.topKContract(ok, 2))
    assert(!Checks.topKContract(ok.updated(1, (1L, 3, Some("y"), 0.9)), 2))
    assert(!Checks.topKContract(ok.updated(3, (2L, 2, Some("z"), 0.6)), 2))
    assert(!Checks.topKContract(ok.updated(0, (1L, 1, None, 0.9)), 2))
    assert(!Checks.topKContract(Nil, 2))
  }

  test("components are labelled with their smallest id") {
    assert(Checks.minLabels(Set((5L, 3L), (3L, 9L), (7L, 8L))) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L))
  }

  test("the brute-force truth is exact word-3-gram Jaccard") {
    val t = Truth.fromShingles(Seq(
      1L -> Truth.shingles("a b c d"), // {abc, bcd}
      2L -> Truth.shingles("a b c d e"), // {abc, bcd, cde}
      3L -> Truth.shingles("x y z")))
    assert(t.jaccard == Map((1L, 2L) -> 2.0 / 3))
    assert(t.pairsAtLeast(0.5) == Set((1L, 2L)) && t.documents == 3)
    // several pairs of one document survive (a Map would keep one)
    val u = Truth.fromShingles(Seq(1L, 2L, 3L).map(_ -> Set("s")))
    assert(u.pairsAtLeast(1.0) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("JSON output escapes strings and nests objects and arrays") {
    assert(Json.obj(Seq("a" -> 1, "b" -> "q\"\n", "c" -> Seq(true, 2.5),
      "d" -> Seq("x" -> 1L))) ==
      "{\"a\":1,\"b\":\"q\\\"\\u000a\",\"c\":[true,2.5],\"d\":{\"x\":1}}")
  }

  test("BENCHMARK.json lists exactly the metrics a run prints") {
    val b = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def listed(k: String) = {
      val it = b.path(k).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.path("name").asText -> m.path("unit").asText).toSeq
    }
    assert(listed("end_to_end") == Main.EndToEnd)
    assert(listed("per_layer") == Layers.all)
  }
}
