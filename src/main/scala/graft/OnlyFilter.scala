package graft

/** The `SPARK_GRAFT_ONLY` env filter shared by the [[Verify]], [[Bench]]
  * and [[PlanStamp]] mains (subset iteration during development; full
  * runs never set it). ONE parser for all three so the contract cannot
  * drift again: a typo'd name or a degenerate value ("" / ",," — e.g.
  * an unset shell variable interpolated into the env) exits 2 with the
  * offending names printed — silently running a smaller (or empty)
  * scope would read as success to any exit-status gate. Pure (no
  * Spark): call BEFORE building the SparkSession so a bad filter
  * costs milliseconds, not a full JVM + Spark startup. */
object OnlyFilter {
  def resolve(tag: String, known: Set[String]): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map { raw =>
      val o = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = (o -- known).toSeq.sorted
      if (o.isEmpty || unknown.nonEmpty) {
        System.err.println(
          if (o.isEmpty)
            s"[$tag] SPARK_GRAFT_ONLY is set but names no queries"
          else s"[$tag] SPARK_GRAFT_ONLY names unknown queries: " +
            unknown.mkString(", "))
        sys.exit(2)
      }
      o
    }
}
