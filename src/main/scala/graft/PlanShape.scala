package graft

import org.apache.spark.sql.DataFrame
import scala.collection.immutable.ListMap

/** Per-query physical-plan SHAPE stamp (ADVICE r18 #7): a
  * `{query → {n_exchanges, has_broadcast, wholestage}}` JSON written by
  * [[PlanStamp]], so round-over-round plan regressions — a lost
  * broadcast, a new shuffle, an operator falling out of whole-stage
  * codegen — are diffable from the artifacts alone instead of re-derived
  * by hand from `.explain` output each round.
  *
  * The stamp reads the query's OWN (pre-execution) adaptive plan: shape
  * is a property of static planning + stats, deterministic for a fixed
  * fixture, which is exactly what a cross-round diff wants (AQE runtime
  * conversions such as SMJ→BHJ happen on top of it and are asserted
  * where they matter by PlanLintSpec). Parsing works off
  * `explainString("formatted")` node-detail headers — `(7) Exchange`,
  * `(5) HashAggregate [codegen id : 2]` — each operator id appears
  * exactly once there, so counts never double on tree re-prints.
  */
object PlanShape {

  final case class Shape(nExchanges: Int, hasBroadcast: Boolean,
                         wholestage: Boolean)

  /** Node-detail header of a formatted explain: `(id) Name ...`. The
    * name runs to the first bracketed annotation (`[codegen id : n]`,
    * `[Reuses operator id: n]`) or end of line; "Scan parquet t" keeps
    * its source word. */
  private val NodeLine = """^\((\d+)\) ([A-Za-z][A-Za-z0-9 ]*?)(?: \[.*)?$""".r

  /** PURE parser of a formatted explain string (testable without a
    * SparkSession). `nExchanges` counts shuffle `Exchange` nodes only —
    * broadcast distribution is the separate `hasBroadcast` bit (any
    * BroadcastExchange or Broadcast*Join node). `wholestage` is true iff
    * any operator carries a codegen id. */
  def parse(formatted: String): Shape = {
    val names = formatted.linesIterator.collect {
      case NodeLine(_, name) => name.trim
    }.toSeq
    Shape(
      nExchanges = names.count(_ == "Exchange"),
      hasBroadcast = names.exists(n =>
        n.startsWith("BroadcastExchange") ||
          (n.startsWith("Broadcast") && n.contains("Join"))),
      wholestage = formatted.contains("[codegen id :"))
  }

  /** Shape of the query's STATIC physical plan. Planned with AQE off for
    * the capture (same precedent as Explain's --codegen mode): the
    * adaptive wrapper's initial plan carries no codegen annotations
    * until runtime, which would pin `wholestage` uniformly false. The
    * conf toggle is restored immediately; the re-planned Dataset (a
    * no-op filter wrapper, pruned by the optimizer) is never executed —
    * the capture costs driver-side planning only.
    *
    * NOT reentrant/thread-safe (ADVICE r19): the toggle mutates the
    * session-global conf, so a query planned CONCURRENTLY in the same
    * session during the capture window would plan with AQE off. The
    * callers (PlanStamp, PlanShapeSpec) are strictly sequential; keep it
    * that way, or capture via a cloned `spark.newSession()` if a parallel
    * caller ever appears. */
  def of(df: DataFrame): Shape = {
    val spark = df.sparkSession
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try parse(df.filter(org.apache.spark.sql.functions.lit(true))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    finally spark.conf.set(key, old)
  }

  /** One deterministic JSON object, queries sorted by name. */
  def toJson(shapes: collection.Map[String, Shape]): String =
    Json.write(ListMap(shapes.toSeq.sortBy(_._1).map { case (n, s) =>
      n -> ListMap("n_exchanges" -> s.nExchanges,
        "has_broadcast" -> s.hasBroadcast, "wholestage" -> s.wholestage)
    }: _*))
}
