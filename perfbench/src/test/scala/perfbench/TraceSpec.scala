package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private val s = 1000000000L // one second in ns

  private def span(id: Int, parent: Int, module: String, fn: String,
                   from: Double, to: Double) =
    Span(id, parent, module, fn, (from * s).toLong, (to * s).toLong)

  test("union merges overlapping and touching intervals") {
    assert(Intervals.union(Seq((5L, 7L), (1L, 3L), (2L, 4L), (7L, 8L))) ==
      List((1L, 4L), (5L, 8L)))
    assert(Intervals.length(Seq((0L, 10L), (2L, 3L), (9L, 12L))) == 12L)
  }

  test("minus cuts the union of the cut intervals out of one interval") {
    assert(Intervals.minus((0L, 10L), Seq((2L, 4L), (3L, 5L), (8L, 12L))) ==
      List((0L, 2L), (5L, 8L)))
    assert(Intervals.minus((0L, 10L), Seq((0L, 10L))) == Nil)
    assert(Intervals.minus((0L, 10L), Nil) == List((0L, 10L)))
  }

  test("self time is the duration minus the union of the children") {
    val spans = Seq(
      span(1, 0, "ml.Recsys", "fitAls", 0, 10),
      span(2, 1, "Tables", "ratings", 1, 4),
      span(3, 1, "ml.FeaturePipeline", "x", 3, 6), // overlaps span 2
      span(4, 3, "ext.Dedup", "shingles", 4, 5)) // grandchild of 1
    val byName = Intervals.selfByName(spans)
    assert(byName("ml.Recsys.fitAls") == 5.0) // 10 - |[1,6]|
    assert(byName("Tables.ratings") == 3.0)
    assert(byName("ml.FeaturePipeline.x") == 2.0) // 3 - 1
    assert(byName("ext.Dedup.shingles") == 1.0)
    // self times of a tree add up to the root's wall time
    assert(byName.values.sum == 11.0) // ratings and x overlap by 1
  }

  test("a 4-wide pool under one parent is not counted twice") {
    // qml53: four classifier harnesses run concurrently under a pool span
    val spans = Seq(
      span(1, 0, "ml.Classifiers", "", 0, 10),
      span(2, 1, "ml.Classifiers", "logistic", 1, 9),
      span(3, 1, "ml.Classifiers", "decisionTree", 2, 8),
      span(4, 1, "ml.Classifiers", "randomForest", 1, 5),
      span(5, 1, "ml.Classifiers", "fmClassification", 3, 9))
    val self = Intervals.selfIntervals(spans)
    assert(Intervals.length(self(1)) == 2 * s) // 10 - |[1,9]|, not 10 - 24
    // the module's self time is the wall time its spans cover, once
    assert(Intervals.selfByModule(spans)("ml.Classifiers") == 10.0)
    // each harness keeps its own duration
    assert(Intervals.selfByName(spans)("ml.Classifiers.logistic") == 8.0)
  }

  test("the tracer records parents across a pool and threads through") {
    val t = new Tracer(enabled = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try t.span("ml.Classifiers") {
      val parent = t.currentSpan
      Seq("a", "b").map(fn => pool.submit[Unit](() =>
        t.within(parent)(t.span("ml.Classifiers", fn)(Thread.sleep(20)))))
        .foreach(_.get())
    } finally pool.shutdown()
    val spans = t.drain()
    val root = spans.find(_.fn.isEmpty).get
    assert(spans.size == 3 && root.parent == 0)
    assert(spans.filter(_.fn.nonEmpty).forall(_.parent == root.id))
    assert(t.drain().isEmpty)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("Tables", "x")(41) + 1 == 42)
    assert(t.drain().isEmpty)
  }
}
