package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The reference's relational operator surface, re-expressed as reusable
  * Spark-native combinators (SURVEY.md §2.2–§2.5). Everything is
  * declarative DataFrame API so Catalyst keeps pushdown / pruning /
  * join-strategy freedom; nothing collects to the driver except bounded
  * scalar aggregates that feed broadcast joins.
  */
object RelationalOps {

  /** Persist `df` (MEMORY_AND_DISK — bounded memory, spills, never OOMs)
    * and materialize it with one count job, so every later consumer scans
    * the cache instead of re-running the lineage. The way to hand an
    * owned, persisted result to the caller (operator outputs); the caller
    * owns the returned handle. The count is what makes it owned: an
    * output read from a [[withMaterialized]] intermediate must be filled
    * before that intermediate is released. A cache used only inside one
    * scope goes through [[withMaterialized]] instead. */
  def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The one owner of a cached intermediate: for a frame that fans out
    * into several consumers (a shingle / bucket / banded frame feeding a
    * sized filter and a self-join) — unpersisted, the lineage above the
    * fan-out runs once PER consumer, at 100 TB re-reading the corpus ~4×.
    * Persists `df` (MEMORY_AND_DISK) without running a job: the body's
    * first action fills the cache and every later consumer scans it.
    * Runs `body` over the cache and unpersists it in a `finally`, so the
    * cache is released when `body` throws too. If `df` is already
    * persisted — a cache the CALLER holds to reuse across several passes —
    * `body` runs on it and nothing is released: persist state lives on the
    * shared plan, so dropping it here would drop the caller's cache.
    *
    * Contract: whatever `body` returns that reads the cache must be
    * materialized inside `body` (e.g. via [[materialized]] or a driver
    * action); a lazy result would re-run the lineage once the cache is
    * gone. */
  def withMaterialized[T](df: DataFrame)(body: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) body(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      try body(p) finally p.unpersist()
    }

  /** J1 — "trim low-importance elements", the reference's most distinctive
    * relational op (reference `PySpark Scripts/bgrfunctions.py:43-53`):
    * keep fact rows whose `keyA` group has > minA rows AND whose `keyB`
    * group has > minB rows. Single pass (not a fixpoint), exactly like the
    * reference.
    *
    * Scale: the two aggregated sides carry one row per distinct key —
    * usually orders of magnitude smaller than the fact — so AQE picks a
    * broadcast-hash semi join from runtime stats while they fit (fact
    * streams map-side, no fact shuffle), and falls back to a shuffled
    * semi join when a dictionary outgrows the broadcast limit — a slower
    * plan, never a driver OOM.
    */
  def trimLowImportance(fact: DataFrame, keyA: String, minA: Long,
                        keyB: String, minB: Long): DataFrame = {
    val popularA = fact.groupBy(keyA).count().filter(col("count") > minA)
    val popularB = fact.groupBy(keyB).count().filter(col("count") > minB)
    // No forced broadcast: the aggregated sides are usually tiny, but at
    // 100× the distinct-key dictionaries can exceed the broadcast limit —
    // AQE picks broadcast-hash from runtime stats when they fit, and falls
    // back to a shuffled semi join (instead of a driver OOM) when not.
    fact
      .join(popularA.select(keyA), Seq(keyA), "left_semi")
      .join(popularB.select(keyB), Seq(keyB), "left_semi")
  }

  /** Deterministic dense rank ids for (already-distinct) rows of `df` in
    * `sortCols` order, WITHOUT a no-partition `Window.orderBy` (which
    * funnels every row through a single task — a scale-killer for
    * shingle/token dictionaries): row i's `out` = `startAt` + the number
    * of rows before it ([[sortedOffsets]] with weight 1), identical to
    * `row_number() OVER (ORDER BY sortCols)` + (startAt−1). */
  def zipWithRank(df: DataFrame, sortCols: Seq[Column], out: String,
                  startAt: Long = 1L): DataFrame =
    sortedOffsets(df, sortCols, out, startAt)(_ => 1L)

  /** EXCLUSIVE running prefix sum of long column `weight` in `sortCols`
    * order: row i's `out` = Σ weight over all rows STRICTLY before it in
    * the sort order ([[sortedOffsets]]). */
  def zipWithPrefixSum(df: DataFrame, sortCols: Seq[Column], weight: String,
                       out: String): DataFrame = {
    val idx = df.schema.fieldIndex(weight)
    sortedOffsets(df, sortCols, out, 0L)(_.getLong(idx))
  }

  /** `df` sorted by `sortCols` with `out` = `start` + Σ `weight` over the
    * rows before each row: a distributed range sort, one bounded job
    * collecting a single weight total per partition (all but the last,
    * whose rows precede no partition — as `zipWithIndex` does), then a
    * map adding each partition's offset to its running local sum. The
    * global order is the sort order regardless of partition boundaries,
    * so `sortCols` must totally order the rows (all callers order
    * distinct keys, or break ties by the key) for `out` to be
    * well-defined and for the lifecycle below to be deterministic
    * across re-executions.
    *
    * Lifecycle: nothing is persisted. The upstream shuffles' map outputs
    * are computed once and registered; the offsets job and the final
    * pass run over the SAME RDD (same shuffle dependencies), so the
    * DAGScheduler skips those map stages and re-runs only the
    * reduce-side sort — bounded re-work instead of cache blocks
    * accumulating across queries in a long-lived session. */
  private def sortedOffsets(df: DataFrame, sortCols: Seq[Column],
                            out: String, start: Long)(
      weight: Row => Long): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.sort(sortCols: _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val sortedRdd = sorted.rdd
    val partSums = spark.sparkContext.runJob(sortedRdd,
      (it: Iterator[Row]) => it.foldLeft(0L)(_ + weight(_)),
      0 until sortedRdd.getNumPartitions - 1)
    val offsets = partSums.scanLeft(start)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val rows = sortedRdd.mapPartitionsWithIndex { case (i, it) =>
      var run = bc.value(i)
      it.map { r =>
        val before = run
        run += weight(r)
        Row.fromSeq(r.toSeq :+ before)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** EXACT percentile of a double column recovered from a grouped
    * (value, count, exclusive-prefix-count) frame — bit-identical to
    * `functions.percentile(value, p)` over the expanded rows, pinned by
    * OpsSpec on odd/even/tied/single-row fixtures.
    *
    * Why: the built-in exact `Percentile` aggregate buffers a
    * value→count map per partition and merges every partition's map in
    * ONE final task — a serial merge that grows with distinct-value
    * count (3.3s over lineitem's 583k distinct prices at sf0.1, and
    * anti-scaling: more cores only add maps to merge). A caller that
    * already groups by value for other reasons (q52's rank statistics)
    * gets the same scalar from the prefix-sum frame with two bounded
    * lookups: the value at sorted position k is the unique group with
    * `cumBefore <= k < cumBefore + count`.
    *
    * Replicates Percentile.getPercentile exactly: position
    * = p·(N−1); lower/higher = floor/ceil; no interpolation when the
    * position is integral or both bracketing values are equal;
    * otherwise `(higher−pos)·lowerVal + (pos−lower)·higherVal` in the
    * same double arithmetic. `ps` should be cached by the caller (it
    * fans out here and into the caller's own aggregates); `totalRows`
    * must be Σ count (> 0), i.e. the non-null row count the built-in
    * would see. */
  def exactPercentileFromPrefix(ps: DataFrame, valueCol: String,
                                countCol: String, cumBeforeCol: String,
                                totalRows: Long,
                                percentage: Double): Double = {
    require(totalRows > 0,
      "exactPercentileFromPrefix: empty input (the built-in returns " +
        "NULL there — callers on provably non-empty frames only)")
    val position = percentage * (totalRows - 1)
    val lower = math.floor(position).toLong
    val higher = math.ceil(position).toLong
    // the 1-2 groups bracketing positions lower/higher (consecutive, so
    // min = value at lower, max = value at higher); one bounded lookup
    val cand = ps
      .filter(col(cumBeforeCol) <= higher &&
        col(cumBeforeCol) + col(countCol) > lower)
      .agg(min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
      .head()
    val lowerVal = cand.getDouble(0)
    if (higher == lower) lowerVal
    else {
      val higherVal = cand.getDouble(1)
      if (higherVal == lowerVal) lowerVal
      else (higher - position) * lowerVal + (position - lower) * higherVal
    }
  }

  /** EXACT percentile of a double column in two distributed passes with
    * BOUNDED per-task and driver memory — the 100 TB shape for a scalar
    * exact percentile the oracle pins by value, replacing the built-in
    * `Percentile` aggregate whose value→count buffer merges every
    * partition's map in ONE final task (serial in distinct-value count
    * and anti-scaling; the q52/q66 finding).
    *
    * Pass 1 (one codegen agg): N plus a value bracket [vLo, vHi] from
    * `percentile_approx` at quantiles p ± 2/accuracy — the GK sketch
    * guarantees the returned value's true rank is within N/accuracy of
    * the requested one, so the exact percentile's positions fall
    * strictly inside the bracket. Pass 2 (one codegen agg): the count
    * below vLo and the ≲ 6N/accuracy in-bracket values, sorted; the
    * exact positions are then read off driver-side with
    * Percentile.getPercentile's own arithmetic (position = p·(N−1),
    * floor/ceil, same interpolation — bit-identical, pinned by a
    * ScalaCheck property in OpsSpec against `functions.percentile`).
    * In-bracket cardinality scales as N/accuracy: a production deploy
    * sizes `accuracy` ∝ N to keep the collect bounded (documented
    * contract; the default 10⁴ holds it at ~hundreds of rows per 10⁶).
    *
    * If the sketch guarantee is ever violated (it cannot be by the GK
    * bound, but the bracket check is cheap), falls back to the built-in
    * aggregate rather than returning a wrong value, logging to stderr.
    * Returns None on an empty/all-null column (the built-in's NULL). */
  def exactPercentileBracketed(df: DataFrame, valueCol: String,
                               percentage: Double,
                               accuracy: Int = 10000): Option[Double] = {
    val v = col(valueCol).cast("double")
    val eps = 2.0 / accuracy
    val qLo = math.max(percentage - eps, 0.0)
    val qHi = math.min(percentage + eps, 1.0)
    val s1 = df.agg(
      count(v).as("n"),
      percentile_approx(v, array(lit(qLo), lit(qHi)), lit(accuracy))
        .as("bracket")).head()
    val n = s1.getLong(0)
    if (n == 0) return None
    val bracket = s1.getSeq[Double](1)
    val (vLo, vHi) = (bracket(0), bracket(1))
    val position = percentage * (n - 1)
    val lower = math.floor(position).toLong
    val higher = math.ceil(position).toLong
    // the guards make the bracket's rank coverage exact at its edges:
    // the max value strictly below vLo occupies rank below−1 BY
    // DEFINITION (whatever its own multiplicity), and the min value
    // strictly above vHi occupies rank below+|mid| — so a sketch answer
    // one rank shy on either side (the small-N ceil-vs-floor edge, where
    // ε·N < 1 and GK's target rank rounding differs from getPercentile's
    // floor(p·(N−1)) by one) is still served exactly
    val s2 = df.agg(
      sum(when(v < vLo, 1L).otherwise(0L)).as("below"),
      sort_array(collect_list(when(v.between(vLo, vHi), v))).as("mid"),
      max(when(v < vLo, v)).as("lo_guard"),
      min(when(v > vHi, v)).as("hi_guard"))
      .head()
    val below = s2.getLong(0)
    val mid = s2.getSeq[Double](1)
    def valueAt(k: Long): Option[Double] = {
      val i = k - below
      if (i >= 0 && i < mid.size) Some(mid(i.toInt))
      else if (i == -1 && !s2.isNullAt(2)) Some(s2.getDouble(2))
      else if (i == mid.size && !s2.isNullAt(3)) Some(s2.getDouble(3))
      else None
    }
    (valueAt(lower), valueAt(higher)) match {
      case (Some(lowerVal), Some(higherVal)) =>
        Some(
          if (higher == lower || higherVal == lowerVal) lowerVal
          else (higher - position) * lowerVal +
            (position - lower) * higherVal)
      case _ =>
        // sketch answer >1 rank off (never observed; the GK bound plus
        // the one-rank guards forbid it) — recompute with the built-in
        // rather than risk a wrong value
        System.err.println(s"[exactPercentileBracketed] bracket missed " +
          s"(below=$below mid=${mid.size} lower=$lower higher=$higher) " +
          "— falling back to the built-in Percentile aggregate")
        Some(df.agg(percentile(v, lit(percentage))).head().getDouble(0))
    }
  }

  /** P8 — CASE WHEN discretization (reference `bgrfunctions.py:22-24`:
    * `when(Rating < 4, 0.0).otherwise(1.0)`). */
  def discretize(df: DataFrame, c: String, threshold: Double,
                 out: String): DataFrame =
    df.withColumn(out, when(col(c) < threshold, 0.0).otherwise(1.0))

  /** A6 + P7 — IQR outlier fences (reference `bgrfunctions.py:369-393`):
    * per column, Q1/Q3 via *exact* percentile, IQR = Q3−Q1, keep rows in
    * (Q1−IQR, Q3+IQR). The reference computes fences driver-side in
    * pandas; here they stay in the plan as a 1-row aggregate cross-joined
    * (broadcast) into the filter, so the fact table streams once.
    *
    * Scale note: EXACT percentile is the reference's semantic (pandas
    * `quantile`) and is what the oracle checks, but its aggregation
    * buffers distinct values — memory grows with distinct-value count,
    * not a bounded sketch. That is fine for the bounded-cardinality
    * columns this op targets (sizes, prices); for a continuous column
    * with billions of distinct values use the `percentile_approx`
    * fences (the q66/q59 approx family, same fence arithmetic) — the
    * fact-side plan shape is identical, only the 1-row aggregate
    * changes. */
  def removeOutliersIqr(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(percentile(col(c), lit(0.25)).as(s"${c}_q1"),
          percentile(col(c), lit(0.75)).as(s"${c}_q3"))
    }
    val fences = df.agg(aggs.head, aggs.tail: _*)
    val withFences = df.crossJoin(broadcast(fences))
    val keep = cols.map { c =>
      val iqr = col(s"${c}_q3") - col(s"${c}_q1")
      val lo  = col(s"${c}_q1") - iqr
      val hi  = col(s"${c}_q3") + iqr
      // degenerate fence (IQR = 0, constant-ish column): strict bounds
      // would drop every row, so the fence becomes inclusive — the
      // reference's own >=/<= variant (`bgrfunctions.py:384-387`)
      when(iqr === 0, col(c) >= lo && col(c) <= hi)
        .otherwise(col(c) > lo && col(c) < hi)
    }.reduce(_ && _)
    withFences.filter(keep).drop(cols.flatMap(c =>
      Seq(s"${c}_q1", s"${c}_q3")): _*)
  }

  /** A11 — min-max scaling of one column to [0,1], relational analog of
    * `ml.feature.MinMaxScaler` (reference `fmreg.py:35-37`). The 1-row
    * min/max aggregate is broadcast; no shuffle of the fact side. A
    * constant (or single-row) column maps to 0.5 — Spark ML
    * MinMaxScaler's own degenerate-range semantic — instead of a
    * divide-by-zero (an ANSI-mode ArithmeticException for integral
    * columns, NaN for doubles). */
  def minMaxScale(df: DataFrame, c: String, out: String): DataFrame = {
    val mm = df.agg(min(col(c)).as("__mn"), max(col(c)).as("__mx"))
    df.crossJoin(broadcast(mm))
      .withColumn(out,
        when(col("__mx") === col("__mn"), lit(0.5))
          .otherwise((col(c) - col("__mn")) /
            (col("__mx") - col("__mn"))))
      .drop("__mn", "__mx")
  }

  /** A7/P17 — mode with deterministic tie-break (smallest value wins),
    * reference `bgrfunctions.py:27-32` (pandas groupby→size→sort→first).
    * One hash aggregation + a 1-row sort — scale-safe. */
  def modeOf(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).count()
      .orderBy(col("count").desc, col(c).asc)
      .limit(1)

  /** M1 relational analog — frequency-ranked dictionary like StringIndexer
    * (reference `bgrfunctions.py:151-160`): most frequent value → index 0;
    * ties broken by value ascending (deterministic, unlike raw
    * StringIndexer). Ranked via [[zipWithRank]] — no single-partition
    * Window even when the dictionary is large. */
  def frequencyIndex(df: DataFrame, c: String): DataFrame =
    zipWithRank(df.groupBy(col(c)).agg(count(lit(1)).as("cnt")),
      Seq(col("cnt").desc, col(c).asc), "idx", startAt = 0L)

  /** Skew-safe equi join: when one fact key holds a disproportionate
    * share of rows, a plain hash join sends the whole hot key to one
    * task. Salting splits every fact key into `salts` sub-keys and
    * replicates each dim row `salts` ways, so the hot key spreads over
    * `salts` tasks. Result is identical to the plain inner equi join.
    * AQE's skew-join handles sort-merge skew automatically; explicit
    * salting remains the tool for broadcast-ineligible hash joins and
    * for aggregations.
    *
    * The salt is a hash of the ROW CONTENT, never of a
    * nondeterministic id: monotonically_increasing_id re-enumerates
    * differently when a lost map task is recomputed, so a partial
    * stage retry would route the re-hashed rows to different reducers
    * than the surviving shuffle outputs — silently duplicating or
    * dropping fact rows (the SPARK-23207 class, invisible in
    * single-attempt runs and live exactly at the cluster scale the
    * salt guard exists for). Identical rows sharing a salt is fine
    * for CORRECTNESS — the salt only balances, it never changes the
    * join result — but it is a balancing limitation: a hot key whose
    * rows are exact duplicates (plausible in a pre-dedup corpus) all
    * land on ONE salt, i.e. one task, exactly as if unsalted. Such
    * keys need exact dedup (or a count pre-aggregation) first; no
    * content-derived salt can split indistinguishable rows without
    * reintroducing the retry-nondeterminism above.
    *
    * Unhashable column types (MapType, nested or top-level) are
    * excluded from the salt hash — xxhash64 rejects them with an
    * AnalysisException. The remaining columns still balance; in the
    * degenerate all-map-schema case the salt is constant (balancing
    * off, result still correct). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 salts: Int): DataFrame = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.forall(f => hashable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hashable(a.elementType)
        case _ => true
      }
    val hashCols = fact.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name)).toIndexedSeq
    val saltBase =
      if (hashCols.nonEmpty) xxhash64(hashCols: _*) else lit(0L)
    val saltedFact = fact.withColumn("__salt",
      pmod(saltBase, lit(salts)).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Band (interval) join with NO equi key: pair every left row with the
    * right rows whose time lies in `[leftTime - delta, leftTime]` (both
    * ends inclusive). Time columns are epoch-seconds longs (any monotone
    * integer clock works); the two inputs must have disjoint column
    * names. The naive formulation is a crossJoin + range filter —
    * O(n·m) compares, the canonical scale-killer. Shape here: bucket
    * both sides by `time div delta`; a right row in bucket b can only
    * match left rows in buckets {b, b+1}, so the left side is exploded
    * to its own bucket and the one below (fixed 2× replication — NOT
    * data-dependent), equi-joined on the bucket, then exact-filtered.
    * One shuffle on the bucket key, matching cost O(output + n + m).
    * Pair count grows with time density × delta — that is intrinsic to
    * the semantics, not the plan. A pathologically hot Δ-window makes a
    * hot bucket; shrink delta (finer buckets, same answer) or let AQE
    * skew-split handle it. */
  def bandJoin(left: DataFrame, right: DataFrame, leftTime: String,
               rightTime: String, delta: Long): DataFrame = {
    require(delta > 0, "bandJoin: delta must be positive")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "bandJoin: inputs must have disjoint column names")
    // `div` = integral division (no double rounding at epoch magnitudes)
    val lb = left.withColumn("__bucket",
      explode(array(expr(s"$leftTime div $delta"),
        expr(s"$leftTime div $delta") - 1)))
    val rb = right.withColumn("__rbucket", expr(s"$rightTime div $delta"))
    lb.join(rb, col("__bucket") === col("__rbucket") &&
        col(rightTime) >= col(leftTime) - delta &&
        col(rightTime) <= col(leftTime))
      .drop("__bucket", "__rbucket")
  }

  /** As-of join: attach to every left row the single latest right row of
    * the same `key` with right.`time` <= left.`time` (ties at equal time
    * match, like DuckDB/kdb ASOF semantics); left rows with no prior
    * right row get a null match (left-outer). Spark has no native as-of
    * join and the naive formulations are scale-killers (range-predicate
    * theta join → O(n·m) per key; per-left-row subquery → one window sort
    * per probe).
    *
    * Shape here: tag both inputs, UNION them, and run ONE running
    * `last(right_payload, ignoreNulls)` window per key ordered by
    * (time, side) with right rows sorting before left rows at equal
    * times. Single shuffle on `key`, running frame is computed
    * incrementally (no per-row re-scan), memory is one carried struct per
    * partition stream. A pathologically hot key funnels to one task, the
    * generic window-skew caveat — pre-split such keys by time range and
    * stitch the boundary row if that ever dominates.
    *
    * The right side should be unique per (key, time) — pre-aggregate to
    * pick the semantically meaningful row. If it is not unique, the
    * winner among equal-(key, time) right rows is still DETERMINISTIC
    * (the window order carries an xxhash64 of the right payload as the
    * final tie-break, so reruns and repartitionings agree), just not
    * semantically chosen. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               time: String, out: String = "asof"): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val rFields = right.schema.fields.filterNot(_.name == key)
    val lType = StructType(left.schema.fields)
    val rType = StructType(rFields)
    val lPart = left.select(col(key), col(time).as("__t"),
      lit(1).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"),
      lit(null).cast(rType).as("__r"))
    val rPart = right.select(col(key), col(time).as("__t"),
      lit(0).as("__side"),
      lit(null).cast(lType).as("__l"),
      struct(rFields.map(f => col(f.name)).toIndexedSeq: _*).as("__r"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t"), col("__side"), xxhash64(col("__r")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lPart.unionByName(rPart)
      .withColumn(out, last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col(out))
  }

  /** W4 — grouped top-k via ranked window; Spark 4's WindowGroupLimit rule
    * pushes the `rn <= k` predicate into the window exec, so only k rows
    * per group survive the shuffle (no full per-group sort materialized).
    * Relational analog of `recommendForAllUsers(10)`
    * (reference `als.py:44-47`). */
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column],
                   k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Morton (z-order) key: bit-interleave of two pre-quantized ranks in
    * [0, 2^bits). The multi-dimensional layout lever next to q70's 1-D
    * range clustering: files clustered on the z-key bound BOTH source
    * dimensions per file, so parquet footer min/max stats prune scans for
    * predicates on EITHER column — at 100 TB the difference between
    * "filter on the sort key prunes, anything else reads everything" and
    * two-sided pruning. Built as a static 2·bits-term expression tree of
    * shift/and/or Column ops — whole-stage-codegen'd, no UDF, no HOF.
    * (the standard construction open-source lakehouse table formats
    * apply for multi-column OPTIMIZE / cluster-by). */
  def zOrderKey(rx: Column, ry: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(rx, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ry, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Driver-free equal-width quantization of `c` into [0, 2^bits):
    * `lo`/`hi` are columns (from a broadcast 1-row min/max aggregate, not
    * a collect). `floor` over the double quotient is exact while the
    * numerator `(c−lo)·(2^bits−1)` stays under 2^53 — holds for any
    * 32-bit-range column at bits ≤ 20, asserted nowhere because the
    * oracle compare would catch a violation as a value mismatch.
    * Equal-WIDTH (not equal-frequency): rank boundaries depend only on
    * [min, max], so no global sort / quantile pass over 100 TB is
    * needed; heavy value skew concentrates ranks, which z-order
    * tolerates (skewed cells simply span more files). */
  def equalWidthRank(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val levels = (1L << bits) - 1
    floor(((c - lo) * lit(levels)) / greatest(hi - lo, lit(1L))).cast(LongType)
  }
}
