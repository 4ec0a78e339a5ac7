package graft

import org.apache.spark.sql.functions._
import graft.ml.{Classifiers, FeaturePipeline, Recsys}
import graft.ops.RelationalOps.withMaterialized

/** ML-layer queries (SURVEY.md §2.9). Since r20 EVERY entry here is
  * oracle-checked — a qml prefix does not imply a weaker check:
  * qml52/qml57/qml60 via invariant claims + DuckDB-recomputable values,
  * qml55/qml59 via exact values, qml50/qml53/qml54 via count parity +
  * domain theorems (the q76/q77 expected-TRUE pattern), qml56/qml58 via
  * per-query contract verdicts + DuckDB-recomputed keys/counts, and
  * qml51 (the last rows-only holdout, converted r20) via
  * vector_to_array + round-6 values — the only genuinely
  * non-SQL-replicable part of its old emission was Java's
  * shortest-representation double FORMATTING, not the values.
  * Exact-metric coverage lives in the ScalaTest suite. Inputs are
  * derived deterministically from the fixtures; all seeds pinned.
  */
object MlQueries {

  /** Labeled frame for the classifier family: predict whether a line ships
    * a large quantity from price-ish numerics — the reference's
    * "discretize then classify" shape (`bgrfunctions.py:22-24` + fmclas).
    * Bounded sample so the bench measures the engine, not grid-search
    * hours (the reference's own runs took 1–5 h per model, BASELINE.md). */
  private def labeled(s: org.apache.spark.sql.SparkSession, d: String) = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"),
      col("p_size"))
    // part scales with SF — leave the join strategy to AQE stats
    val df = li.join(p, li("l_partkey") === p("p_partkey"))
      .withColumn("buckets", when(col("l_quantity") < 25, 0.0).otherwise(1.0))
    // The fixture's (l_orderkey, l_linenumber) is NOT unique (measured
    // 45,832 distinct of 60,000 rows at sf0.01; r18) — an orderBy+limit
    // over it is tie-ambiguous, and qml55's parity join on it silently
    // became a partial cross product (78,078 of 50,000 expected rows).
    // The FULL joined row tuple IS unique (measured at sf0.01 and
    // sf0.1), so a content hash over every column is a deterministic
    // total order (TakeOrderedAndProject, no tie ambiguity up to the
    // negligible 64-bit collision odds) AND a genuine 1:1 key for the
    // prediction-parity join. Content hash, not
    // monotonically_increasing_id, for the same retry-determinism
    // reason as saltedJoin's salt.
    val keyed = df.withColumn("uid",
      xxhash64(df.columns.map(col).toIndexedSeq: _*))
    val bounded = keyed.orderBy("uid").limit(50000)
    FeaturePipeline.assembleAndScale(bounded,
      Seq("l_extendedprice", "l_discount", "l_tax", "p_retailprice", "p_size"))
  }

  /** Per-group audit of a ranked top-k frame — the shared verdict core of
    * qml50 (recommendations per user) and qml56 (ANN neighbors per
    * query), kept in one place so a fix in one contract check cannot
    * silently miss the other. For each `keyCol` group over
    * (rank, score): row count `n`, rank contiguity 1..k as `ranks_ok`,
    * and the count of score `inversions` (score increasing with rank).
    * Callers append their own extra aggregates. Window partitioned by
    * the key — no global sort; the audited frame is n_keys × k, tiny
    * next to the corpus at any scale. */
  private def rankedGroupAudit(df: org.apache.spark.sql.DataFrame,
                               keyCol: String, k: Int,
                               extraAggs: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("rank")
    val aggs = Seq(
      count(lit(1)).as("n"),
      (min("rank") === 1 && max("rank") === k &&
        countDistinct("rank") === k).as("ranks_ok"),
      sum(when(col("prev_score").isNotNull &&
        col("score") > col("prev_score"), 1L).otherwise(0L))
        .as("inversions")) ++ extraAggs
    df.withColumn("prev_score", lag(col("score"), 1).over(w))
      .groupBy(keyCol).agg(aggs.head, aggs.tail: _*)
  }

  val all: Seq[GQuery] = Seq(

    // ---- M7+M8: ALS + top-k recommendations (flagship) ------------------
    GQuery("qml50_als_topk",
      (s, d) => {
        // Oracle-checked since r19 (was rows-only): the factor values are
        // not SQL-expressible, but the recommendation FRAME's defining
        // properties are — exactly k contiguous ranks 1..k per user
        // (recommendForAllUsers' contract, the W4 top-k shape q10 pins
        // relationally), scores non-increasing by rank (monotone under
        // the round-4 presentation), every recommended item resolving a
        // name through the J3 broadcast dim join (item ids are l_partkey
        // FKs), and every recommended user present in the ratings
        // derivation (the model trains on a seeded 0.8 split of it, so
        // the TRAIN user set itself is not oracle-derivable — the
        // subset claim is, as a pinned zero). n_users_total is a real
        // cross-engine value (DuckDB recomputes the derivation). The
        // full als.py lineage — fit + recommendForAllUsers + explode/
        // round + name join — still executes inside this plan.
        val spark = s
        import spark.implicits._
        // persist the derivation once: it feeds the ALS fit, the
        // known-users dim, and the totals agg; the whole output collapses
        // to one driver row below, so the cache releases before return
        val row = withMaterialized(Tables.ratings(s, d)) { ratings =>
          val fit = Recsys.fitAls(ratings, "user_id", "item_id",
            "rating", rank = 8, regParam = 0.1, maxIter = 5)
          // J3 presentation join (reference als.py:48-49: attach the game
          // Name to each recommendation): item dim broadcast
          val names = Tables.part(s, d)
            .select(col("p_partkey").as("item_id"), col("p_name").as("item_name"))
          val recs = Recsys.recommendTopK(fit.model, k = 5)
            .join(broadcast(names), Seq("item_id"), "left")
            .select("user_id", "rank", "item_id", "item_name", "score")
          val audited = rankedGroupAudit(recs, "user_id", k = 5,
            extraAggs = Seq(sum(when(col("item_name").isNull, 1L)
              .otherwise(0L)).as("unnamed")))
          val known = ratings.select("user_id").distinct()
            .withColumn("known", lit(1))
          // coalesce: on an EMPTY recommendation frame the sums aggregate
          // to NULL and the typed head() would throw. Zero-filling alone
          // would be WORSE than the crash — (5, n, 0, 0, 0, 0) is exactly
          // the oracle's pinned-zero row, so a recommender that recommends
          // NOTHING would read green (review pass 3). The coverage claim
          // below makes emptiness (and any silent-empty regression in the
          // recommendTopK lineage) an explicit red: n_audited_users must
          // reach a majority of the derivation's users — per-user dropout
          // from the 0.8 train split is 0.2^n_ratings, so real coverage is
          // ~100% and the ½ floor is distribution-safe.
          val verdict = audited.join(known, Seq("user_id"), "left").agg(
            count(lit(1)).as("n_audited_users"),
            coalesce(sum(when(col("n") =!= 5 || !col("ranks_ok"), 1L)
              .otherwise(0L)), lit(0L)).as("bad_rank_users"),
            coalesce(sum(col("inversions")), lit(0L)).as("score_inversions"),
            coalesce(sum(col("unnamed")), lit(0L)).as("n_unnamed"),
            coalesce(sum(when(col("known").isNull, 1L).otherwise(0L)),
              lit(0L)).as("n_unknown_users"))
          verdict.crossJoin( // 1×1
              ratings.agg(countDistinct("user_id").as("n_users_total")))
            .select(col("n_users_total"), col("n_audited_users"),
              col("bad_rank_users"), col("score_inversions"),
              col("n_unnamed"), col("n_unknown_users"))
            .as[(Long, Long, Long, Long, Long, Long)].head()
        }
        Seq((5, row._1, row._2 * 2 >= row._1 + 1, row._3, row._4,
            row._5, row._6))
          .toDF("k", "n_users_total", "coverage_ok", "bad_rank_users",
            "score_inversions", "n_unnamed", "n_unknown_users")
      },
      Some("""WITH r AS (SELECT o.o_custkey AS user_id
             |           FROM lineitem l
             |           JOIN orders o ON l.l_orderkey = o.o_orderkey
             |           GROUP BY o.o_custkey, l.l_partkey)
             |SELECT CAST(5 AS INTEGER) AS k,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_total,
             |  TRUE AS coverage_ok,
             |  CAST(0 AS BIGINT) AS bad_rank_users,
             |  CAST(0 AS BIGINT) AS score_inversions,
             |  CAST(0 AS BIGINT) AS n_unnamed,
             |  CAST(0 AS BIGINT) AS n_unknown_users
             |FROM r""".stripMargin),
      doc = "reference als.py end-to-end: ALS fit + recommendForAllUsers + explode/round + J3 name-dim join (als.py:48-49); oracle-checked since r19 — exactly-k contiguous ranks per user, round-4 score monotonicity, all items name-resolved, rec users ⊆ ratings users (pinned zeros), majority user coverage (coverage_ok — an empty or silently-empty recommendation frame reads RED, never a zero-filled green) + n_users_total recomputed by DuckDB from the ratings derivation"),

    // ---- M1–M6 feature pipeline -----------------------------------------
    GQuery("qml51_feature_pipeline",
      (s, d) => {
        // Oracle-converted r20 (VERDICT r19 #1): the r17-r19 rows-only
        // justification ("vector payloads are not SQL-replicable") only
        // ever covered the cast-to-string shortest-repr double FORMATTING
        // — the VALUES are replicable. vector_to_array unpacks both
        // payloads: the one-hot layout reduces to (size, nnz_index) —
        // q96's proven oracle arithmetic — and MinMaxScaler with default
        // [0,1] range computes raw*1.0 + 0.0 where raw =
        // (x−colMin)/(colMax−colMin) (constant-range column → 0.5), i.e.
        // plain IEEE double arithmetic DuckDB reproduces bit-exactly
        // (q16 established round-6 parity for exactly this expression on
        // c_acctbal). The REAL ml.feature stages still run end to end —
        // only the emission changed.
        import org.apache.spark.ml.functions.vector_to_array
        val c = Tables.customer(s, d)
        val indexed = FeaturePipeline.indexAndOneHot(c, Seq("c_mktsegment"))
        val scaled = FeaturePipeline.assembleAndScale(indexed,
          Seq("c_acctbal", "c_nationkey"))
        scaled.select(col("c_custkey"),
            col("c_mktsegment_idx").cast("long").as("idx"),
            vector_to_array(col("c_mktsegment_vec")).as("oh"),
            vector_to_array(col("scaled_features")).as("sf"))
          .select(col("c_custkey"), col("idx"),
            size(col("oh")).as("vec_size"),
            (array_position(col("oh"), 1.0) - 1).cast("int").as("nnz_index"),
            round(element_at(col("sf"), 1), 6).as("scaled_acctbal"),
            round(element_at(col("sf"), 2), 6).as("scaled_nationkey"))
          .orderBy("c_custkey")
      },
      Some("""WITH freq AS (SELECT c_mktsegment, count(*) AS cnt
             |              FROM customer GROUP BY 1),
             |dict AS (SELECT c_mktsegment,
             |           CAST(row_number() OVER (ORDER BY cnt DESC,
             |                c_mktsegment) - 1 AS BIGINT) AS idx,
             |           CAST(count(*) OVER () AS INTEGER) AS ncat
             |         FROM freq),
             |mm AS (SELECT min(c_acctbal) AS bmn, max(c_acctbal) AS bmx,
             |         CAST(min(c_nationkey) AS DOUBLE) AS nmn,
             |         CAST(max(c_nationkey) AS DOUBLE) AS nmx
             |       FROM customer)
             |SELECT c.c_custkey, d.idx,
             |  CAST(d.ncat - 1 AS INTEGER) AS vec_size,
             |  CAST(CASE WHEN d.idx < d.ncat - 1 THEN d.idx ELSE -1 END
             |       AS INTEGER) AS nnz_index,
             |  round(CASE WHEN mm.bmx = mm.bmn THEN CAST(0.5 AS DOUBLE)
             |             ELSE (c.c_acctbal - mm.bmn) / (mm.bmx - mm.bmn)
             |        END, 6) AS scaled_acctbal,
             |  round(CASE WHEN mm.nmx = mm.nmn THEN CAST(0.5 AS DOUBLE)
             |             ELSE (CAST(c.c_nationkey AS DOUBLE) - mm.nmn) /
             |                  (mm.nmx - mm.nmn)
             |        END, 6) AS scaled_nationkey
             |FROM customer c JOIN dict d USING (c_mktsegment), mm
             |ORDER BY c.c_custkey""".stripMargin),
      doc = "StringIndexer→OneHotEncoder→VectorAssembler→MinMaxScaler (reference fmreg.py:20-37), oracle-checked since r20: one-hot layout via q96's dictionary arithmetic, scaled values via DuckDB's (x-min)/(max-min) recomputation (round-6 parity established by q16)"),

    // ---- M1+M2 deterministic fragments, oracle-checked -------------------
    GQuery("q96_feature_meta",
      (s, d) => {
        import org.apache.spark.ml.functions.vector_to_array
        // the qml51 split (r17 verdict): the ML stages' vector payloads
        // are not SQL-expressible, but the StringIndexer dictionary rank
        // and the OneHotEncoder layout metadata ARE relational — emit
        // per-row (idx, vec_size, nnz_index) from the REAL ml.feature
        // stages (not the q17 relational analog) and oracle them with the
        // frequency-rank SQL. dropLast=true (the encoder default qml51
        // uses): width = nCat−1 and the last category encodes as the
        // all-zero vector, so its nnz_index is −1 — the oracle replicates
        // both rules arithmetically from the dictionary.
        val c = Tables.customer(s, d)
        val enc = FeaturePipeline.indexAndOneHot(c, Seq("c_mktsegment"))
        enc.select(col("c_custkey"), col("c_mktsegment"),
            col("c_mktsegment_idx").cast("long").as("idx"),
            vector_to_array(col("c_mktsegment_vec")).as("va"))
          .select(col("c_custkey"), col("c_mktsegment"), col("idx"),
            size(col("va")).as("vec_size"),
            (array_position(col("va"), 1.0) - 1).cast("int").as("nnz_index"))
          .orderBy("c_custkey")
      },
      Some("""WITH freq AS (SELECT c_mktsegment, count(*) AS cnt
             |              FROM customer GROUP BY 1),
             |d AS (SELECT c_mktsegment,
             |        CAST(row_number() OVER (ORDER BY cnt DESC, c_mktsegment)
             |             - 1 AS BIGINT) AS idx,
             |        CAST(count(*) OVER () AS INTEGER) AS ncat
             |      FROM freq)
             |SELECT c.c_custkey, c.c_mktsegment, d.idx,
             |  CAST(d.ncat - 1 AS INTEGER) AS vec_size,
             |  CAST(CASE WHEN d.idx < d.ncat - 1 THEN d.idx ELSE -1 END
             |       AS INTEGER) AS nnz_index
             |FROM customer c JOIN d USING (c_mktsegment)
             |ORDER BY c_custkey""".stripMargin),
      doc = "M1+M2 deterministic fragments of qml51, oracle-checked (reference bgrfunctions.py:151-160): per-row StringIndexer frequency-desc rank and OneHotEncoder (vec_size, nnz_index) from the REAL ml stages vs DuckDB's frequency-rank dictionary; dropLast semantics (width nCat−1, last category all-zero) replicated arithmetically"),

    // ---- M5 PCA over embeddings -----------------------------------------
    GQuery("qml52_pca",
      (s, d) => {
        // Oracle-checked since r18 (was rows-only): the projection itself
        // is not SQL-expressible, but two exact linear-algebra invariants
        // of it ARE checkable per row as expected-TRUE claims (the q76/q77
        // pattern) — (a) contraction: ‖Pᵀx‖² ≤ ‖x‖² because P has
        // orthonormal columns, and (b) the Pythagoras reconstruction
        // identity ‖x − P·Pᵀx‖² = ‖x‖² − ‖Pᵀx‖². (b) recomputes the
        // reconstruction IN-PLAN from the fitted loadings (a 512-double
        // literal, dims×k) against the transform output, so it fails if
        // the loadings are not orthonormal, the transform is not y = Pᵀx,
        // or the two drift apart. Row-local HOFs, whole-stage codegen, no
        // shuffle; measured identity error ~1e-16 vs the 1e-9 claim bound.
        val k = 8
        val e = Tables.embeddings(s, d).withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(
            col("embedding").cast("array<double>")))
        val model = FeaturePipeline.pcaModel(e, "features", "pca", k)
        val pc = model.pc // dims × k, column-major: P(d,j) = values(j·dims+d)
        val dims = pc.numRows
        val pcLit = lit(pc.values)
        val y = org.apache.spark.ml.functions.vector_to_array(col("pca"))
        model.transform(e)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("x"), y.as("y"))
          .withColumn("xn", aggregate(col("x"), lit(0.0),
            (a, v) => a + v * v))
          .withColumn("yn", aggregate(col("y"), lit(0.0),
            (a, v) => a + v * v))
          .withColumn("xhat", transform(sequence(lit(0), lit(dims - 1)),
            dd => aggregate(sequence(lit(0), lit(k - 1)), lit(0.0),
              (acc, j) => acc +
                element_at(pcLit, j * dims + dd + 1) *
                element_at(col("y"), j + 1))))
          .withColumn("errsq", aggregate(
            zip_with(col("x"), col("xhat"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (a, v) => a + v))
          .select(col("vec_id"), size(col("y")).as("k_dims"),
            (col("yn") <= col("xn") + 1e-9).as("contraction_ok"),
            (abs(col("errsq") - (col("xn") - col("yn"))) <= 1e-9)
              .as("reconstruction_ok"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(8 AS INTEGER) AS k_dims,
             |  TRUE AS contraction_ok, TRUE AS reconstruction_ok
             |FROM embeddings ORDER BY vec_id""".stripMargin),
      doc = "PCA k=8 over the embedding column (reference bgrfunctions.py:172-177, k=15): per-row oracle claims — projection-norm contraction and the exact Pythagoras reconstruction identity recomputed in-plan from the fitted loadings"),

    // ---- M5 PCA explained variance (k-selection diagnostic) -------------
    GQuery("qml57_pca_variance",
      (s, d) => {
        val spark = s
        import spark.implicits._
        import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
        import org.apache.spark.ml.stat.Summarizer
        // the reference picks k from the cumulative explained-variance
        // curve (data_cleaning.py:122 prints the cumsum; PDF §2.2.3:
        // "15 PCs retain >90% variance"). Oracle-checked since r18 (was
        // rows-only): the eigendecomposition is not SQL-expressible, but
        // its variance accounting IS — explainedVariance_i is λ_i / trace
        // with λ_i = sample variance of projected component i and trace =
        // Σ per-dim sample variance of the INPUT, which DuckDB recomputes
        // from the same parquet. The trace rides as a value column (round
        // 6, both engines var_samp — measured cross-engine diff ~1e-15);
        // the per-component link var(proj_i)/trace == ratio_i, ratio
        // monotonicity, and cumsum ≤ 1 ride as expected-TRUE claims
        // (measured identity error ~4e-17 vs the 1e-9 bound). Variances
        // via vector-native Summarizer — one buffer per partial, the q81
        // lesson, not a dims× exploded shuffle.
        val k = 16
        // this query consumes the converted frame FOUR times (fit, the
        // two variance aggregates, transform) — persist once; everything
        // below is collected to driver values, so the cache releases
        // before return (no lazy consumer, unlike qml52's output)
        val (ev, trace, projVar) = withMaterialized(
          Tables.embeddings(s, d).withColumn("features",
            array_to_vector(col("embedding").cast("array<double>")))) { e =>
          val model = FeaturePipeline.pcaModel(e, "features", "pca", k)
          val ev = model.explainedVariance.toArray
          val inVar = e.select(Summarizer.variance(col("features")).as("v"))
            .select(vector_to_array(col("v"))).head().getSeq[Double](0)
          val trace = inVar.sum
          val projVar = model.transform(e)
            .select(Summarizer.variance(col("pca")).as("v"))
            .select(vector_to_array(col("v"))).head().getSeq[Double](0)
          (ev, trace, projVar)
        }
        ev.zipWithIndex.map { case (r, i) =>
          (i + 1, math.rint(trace * 1e6) / 1e6,
            math.abs(projVar(i) / trace - r) <= 1e-9,
            i == 0 || ev(i) <= ev(i - 1) + 1e-12,
            ev.take(i + 1).sum <= 1.0 + 1e-9)
        }.toSeq.toDF("component", "trace_var", "ratio_ok",
            "nonincreasing_ok", "cum_ok")
          .orderBy("component")
      },
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |x AS (SELECT i AS dim, v[i] AS x
             |      FROM e, unnest(generate_series(1, len(v))) AS u(i)),
             |tr AS (SELECT round(sum(vs), 6) AS trace_var
             |       FROM (SELECT var_samp(x) AS vs FROM x GROUP BY dim) q)
             |SELECT CAST(r.c AS INTEGER) AS component, tr.trace_var,
             |  TRUE AS ratio_ok, TRUE AS nonincreasing_ok, TRUE AS cum_ok
             |FROM range(1, 17) r(c), tr ORDER BY component""".stripMargin),
      doc = "M5 diagnostic: the k-selection curve's variance accounting, oracle-checked (reference data_cleaning.py:122, PDF §2.2.3) — covariance trace recomputed by DuckDB from the parquet as a value column; var(proj_i)/trace == explainedVariance_i, monotone ratios, cumsum ≤ 1 as in-plan claims"),

    // ---- M9–M13 classifier family metrics -------------------------------
    GQuery("qml53_classifiers",
      (s, d) => {
        val spark = s
        import spark.implicits._
        // persist once: four TVS grid harnesses otherwise re-run the
        // join + assemble + scaler-fit lineage for every grid point
        // (the reference's own missing-cache problem, SURVEY §4.1).
        // withMaterialized fills the cache on first use, so one count
        // fills it BEFORE the concurrent harnesses below: left to them,
        // all four race to fill it, which a job-counting listener saw
        // cost more jobs than the count (sf0.01, 4 cores, three runs
        // each: 176–178 jobs unfilled, 174–176 with the count included)
        val results = withMaterialized(labeled(s, d)) { df =>
          df.count()
          // the four harnesses are INDEPENDENT eager evaluations over the
          // same cached frame — run them as concurrent driver threads so
          // each harness's straggler tail back-fills with the next
          // harness's tasks (optimization guide §2.6: actions are only
          // sequential because the driver calls them sequentially).
          // Determinism is untouched: every split/fit is seeded per
          // harness, nothing is shared but the immutable cached input, and
          // the results Seq is assembled in declaration order regardless
          // of completion order.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence(Seq(
            Future(Classifiers.logistic(df, "scaled_features", "buckets")),
            Future(Classifiers.decisionTree(df, "scaled_features", "buckets")),
            Future(Classifiers.randomForest(df, "scaled_features", "buckets",
              numTrees = 10)),
            Future(Classifiers.fmClassification(df, "scaled_features",
              "buckets", maxIter = 10)))), Duration.Inf)
          finally pool.shutdown()
        }
        // Oracle-checked since r19 (was rows-only): the metric VALUES are
        // fitted-model outputs (and near-chance on this fixture — the
        // quantity bucket is independent of the price features by
        // construction), genuinely non-SQL; the harness's relational
        // verdicts ARE checkable — n_rows (nTrain+nTest: the seeded
        // randomSplit is exhaustive/disjoint, so the sum is the bounded
        // sample size DuckDB recomputes as least(50000, join count)),
        // prediction-count parity (transform is row-preserving), and the
        // metric domain theorems (accuracy, ROC-AUC ∈ [0,1]). Exact
        // metric coverage lives in MlStreamSpec (incl. strictParity).
        results.map(r => (r.model, r.nTrain + r.nTest,
            r.nPred == r.nTest,
            r.value1 >= 0.0 && r.value1 <= 1.0,
            r.value2 >= 0.0 && r.value2 <= 1.0))
          .toDF("model", "n_rows", "pred_parity_ok", "acc_in_unit",
            "roc_in_unit")
          .orderBy("model")
      },
      Some("""WITH n AS (SELECT CAST(least(50000, (SELECT count(*)
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey))
             |  AS BIGINT) AS n_rows)
             |SELECT m.model, n.n_rows, TRUE AS pred_parity_ok,
             |  TRUE AS acc_in_unit, TRUE AS roc_in_unit
             |FROM n, (VALUES ('decision_tree'), ('fm_classifier'),
             |  ('logistic_regression'), ('random_forest')) m(model)
             |ORDER BY model""".stripMargin),
      doc = "LR / DT / RF / FMClassifier through the TrainValidationSplit grid harness (reference bgrfunctions.py:238-366); oracle-checked since r19 — per-model n_rows vs DuckDB's bounded join count (split-exhaustiveness), prediction-count parity, metric domain theorems; exact metrics stay in the seeded test suite"),

    // ---- M9 FM regression -----------------------------------------------
    GQuery("qml54_fmreg",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val r = Classifiers.fmRegression(labeled(s, d), "scaled_features",
          "l_quantity", maxIter = 10)
        // same conversion as qml53: counts + domain theorems (rmse ≥ 0;
        // r² = 1 − SSres/SStot ≤ 1 for any predictor) are checkable, the
        // metric values are not
        Seq((r.model, r.nTrain + r.nTest, r.nPred == r.nTest,
          r.value1 >= 0.0, r.value2 <= 1.0 + 1e-12))
          .toDF("model", "n_rows", "pred_parity_ok", "rmse_nonneg",
            "r2_le_1")
      },
      Some("""SELECT 'fm_regressor' AS model,
             |  CAST(least(50000, (SELECT count(*) FROM lineitem l
             |    JOIN part p ON l.l_partkey = p.p_partkey)) AS BIGINT)
             |    AS n_rows,
             |  TRUE AS pred_parity_ok, TRUE AS rmse_nonneg,
             |  TRUE AS r2_le_1""".stripMargin),
      doc = "FMRegressor through TVS grid (reference bgrfunctions.py:204-236); oracle-checked since r19 — n_rows vs DuckDB's bounded join count, prediction-count parity, rmse/r² domain theorems"),

    // ---- M7+M14: ALS through the TrainValidationSplit grid --------------
    GQuery("qml58_als_grid",
      (s, d) => {
        val spark = s
        import spark.implicits._
        // the reference's flagship tuning loop (bgrfunctions.py:179-201):
        // rank × regParam through TVS, trainRatio 0.8, RMSE-selected.
        // qml50 stays single-point. Bounded sample (deterministic: the
        // ratings derivation's (user_id, item_id) is unique by
        // construction, so orderBy+limit is a total order): the grid
        // fits 5 ALS models — the bench measures the harness, not 5×
        // full-corpus factorizations.
        // Oracle-checked since r19 (was rows-only): WHICH grid point
        // wins and its held-out RMSE/R² are model quality values
        // (non-SQL; RMSE ceiling pinned in MlStreamSpec), but the
        // harness verdicts are — the winner must come FROM the grid,
        // rmse ≥ 0 / r² ≤ 1 are theorems, and n_rows is the bounded
        // sample size DuckDB recomputes as least(100000, derivation
        // count).
        // persist once: without it the derivation + global sort + limit
        // would run once for the count and again for the fit
        val ranks = Seq(8, 12)
        val regs = Seq(0.1, 0.01)
        val (n, r) = withMaterialized(Tables.ratings(s, d)
            .orderBy("user_id", "item_id").limit(100000)) { bounded =>
          (bounded.count(), Recsys.fitAlsGrid(bounded, "user_id", "item_id",
            "rating", ranks = ranks, regParams = regs, maxIter = 5))
        }
        Seq((n, ranks.contains(r.bestRank), regs.contains(r.bestRegParam),
          r.rmse >= 0.0, r.r2 <= 1.0 + 1e-12))
          .toDF("n_rows", "best_rank_in_grid", "best_reg_in_grid",
            "rmse_nonneg", "r2_le_1")
      },
      Some("""WITH r AS (SELECT o.o_custkey AS user_id,
             |             l.l_partkey AS item_id
             |           FROM lineitem l
             |           JOIN orders o ON l.l_orderkey = o.o_orderkey
             |           GROUP BY 1, 2)
             |SELECT CAST(least(100000, (SELECT count(*) FROM r))
             |    AS BIGINT) AS n_rows,
             |  TRUE AS best_rank_in_grid, TRUE AS best_reg_in_grid,
             |  TRUE AS rmse_nonneg, TRUE AS r2_le_1""".stripMargin),
      doc = "ALS tuned via TrainValidationSplit over rank × regParam (reference bgrfunctions.py:179-201); oracle-checked since r19 — winner-from-grid, rmse/r² domain theorems, n_rows vs DuckDB's bounded derivation count; the winning params + metric values stay pinned in the seeded suite"),

    // ---- M1+M2 at design-matrix cardinality ------------------------------
    GQuery("qml59_high_card_onehot",
      (s, d) => {
        val spark = s
        import spark.implicits._
        // the reference's defining design matrix one-hots the two ID
        // columns themselves (fmreg.py:21-24 — 411k users + 349k items =
        // width 760,549 at full scale, risultati.txt:42). Same shape here:
        // index+encode the derived user/item ids (thousands of categories
        // at sf0.1), verify width == category count two independent ways —
        // sparse metadata (head vector) and a full-data max-index scan.
        val (stats, widths) = withMaterialized(Tables.ratings(s, d)
          .select(col("user_id").cast("string").as("user_id"),
            col("item_id").cast("string").as("item_id"))) { ids =>
          val enc = FeaturePipeline.indexAndOneHot(ids,
            Seq("user_id", "item_id"), dropLast = false)
          // coalesce the maxes to -1 and take the head row as an Option:
          // on an EMPTY encoded frame the raw NULL max would crash the
          // typed decode and the bare head() would throw — -1 stats and
          // -1 widths mismatch every oracle value instead, keeping
          // emptiness red AND diagnosable (review pass 3's empty-frame
          // class fix; zero-filling is never safe where 0-adjacent values
          // could equal an oracle pin)
          val stats = enc.agg(
            countDistinct("user_id").as("u_n"),
            countDistinct("item_id").as("i_n"),
            coalesce(max("user_id_idx") + 1, lit(-1.0)).as("u_max"),
            coalesce(max("item_id_idx") + 1, lit(-1.0)).as("i_max"))
            .as[(Long, Long, Double, Double)].head()
          val widths = enc.select("user_id_vec", "item_id_vec").head(1)
            .headOption.map { h =>
              (h.getAs[org.apache.spark.ml.linalg.Vector](0).size.toLong,
                h.getAs[org.apache.spark.ml.linalg.Vector](1).size.toLong)
            }.getOrElse((-1L, -1L))
          (stats, widths)
        }
        Seq(
          ("user_id", stats._1, stats._3.toLong, widths._1,
            stats._1 == widths._1 && stats._3.toLong == widths._1),
          ("item_id", stats._2, stats._4.toLong, widths._2,
            stats._2 == widths._2 && stats._4.toLong == widths._2))
          .toDF("id_col", "n_categories", "max_index_plus_1", "onehot_width",
            "width_matches")
          .orderBy("id_col")
      },
      // Oracle-checked since r18 (was rows-only): every output column is
      // relational — n_categories is a distinct count DuckDB recomputes
      // from the ratings derivation, and a dense frequency-desc indexer
      // (no nulls, handleInvalid skip) makes max_index+1 and the
      // dropLast=false width EQUAL it, so the oracle pins all three as
      // the same value plus the expected-TRUE claim.
      Some("""WITH r AS (SELECT o.o_custkey AS user_id,
             |             l.l_partkey AS item_id
             |           FROM lineitem l
             |           JOIN orders o ON l.l_orderkey = o.o_orderkey
             |           GROUP BY 1, 2),
             |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u,
             |             CAST(count(DISTINCT item_id) AS BIGINT) AS i
             |      FROM r)
             |SELECT 'item_id' AS id_col, i AS n_categories,
             |  i AS max_index_plus_1, i AS onehot_width,
             |  TRUE AS width_matches FROM n
             |UNION ALL
             |SELECT 'user_id', u, u, u, TRUE FROM n
             |ORDER BY id_col""".stripMargin),
      doc = "high-cardinality OneHotEncoder over the raw user/item ids — the reference's sparse design-matrix shape (fmreg.py:21-24, width 760,549 at full scale); oracle pins n_categories = max_index+1 = onehot width, all equal to DuckDB's distinct-id count over the same ratings derivation"),

    // ---- M5 PCA loadings matrix ------------------------------------------
    GQuery("qml60_pca_loadings",
      (s, d) => {
        val spark = s
        import spark.implicits._
        // the reference prints the component loadings themselves
        // (functions.py:209-215, model.pc). Oracle-checked since r18 (was
        // rows-only k×dims value rows): the loading VALUES are not
        // SQL-expressible, but the matrix's defining property is — emit
        // the Gram matrix LᵀL as (comp_a, comp_b, gram) rows, which must
        // be the k×k identity (orthonormal columns; measured deviation
        // ~2e-15, rounded at 6 so the oracle pins EXACT 1.0/0.0 values,
        // not just a TRUE claim), plus n_dims = one loading row per input
        // dimension, which DuckDB recomputes as len(embedding) from the
        // parquet. The values themselves stay pinned through qml52's
        // in-plan reconstruction claim, which multiplies these same
        // loadings against the transform output per row.
        val k = 8
        val e = Tables.embeddings(s, d).withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(
            col("embedding").cast("array<double>")))
        val pc = FeaturePipeline.pcaModel(e, "features", "pca", k).pc
        // dims × k, column-major
        (for (i <- 0 until k; j <- 0 until k) yield {
          val dot = (0 until pc.numRows).map(r => pc(r, i) * pc(r, j)).sum
          // rint of a tiny NEGATIVE off-diagonal dot (~-2e-15) returns
          // IEEE -0.0 and the division preserves the sign bit; the oracle
          // emits +0.0 — value-equal but bit-different, and the driver's
          // hash compare is bit-exact (the r18 round's only red cell).
          // `+ 0.0` normalizes -0.0 → +0.0 and is identity elsewhere.
          val g = math.rint(dot * 1e6) / 1e6 + 0.0
          (i + 1, j + 1, g, pc.numRows)
        }).toDF("comp_a", "comp_b", "gram", "n_dims")
          .orderBy("comp_a", "comp_b")
      },
      Some("""WITH dims AS (SELECT CAST(max(len(embedding)) AS INTEGER)
             |                AS n_dims FROM embeddings)
             |SELECT CAST(a.i AS INTEGER) AS comp_a,
             |  CAST(b.j AS INTEGER) AS comp_b,
             |  CAST(CASE WHEN a.i = b.j THEN 1.0 ELSE 0.0 END AS DOUBLE)
             |    AS gram,
             |  d.n_dims
             |FROM range(1, 9) a(i), range(1, 9) b(j), dims d
             |ORDER BY comp_a, comp_b""".stripMargin),
      doc = "M5: the PCA loadings matrix's defining invariant, oracle-checked (reference functions.py:209-215 prints model.pc) — Gram matrix LᵀL emitted as k×k rows that must equal the identity EXACTLY at round-6, and one loading row per input dim (n_dims vs DuckDB len(embedding))"),

    // ---- IVF ANN (centroid-partitioned scale path) ----------------------
    GQuery("qml56_knn_ivf",
      (s, d) => {
        // Oracle-checked since r19 (was rows-only): WHICH neighbors the
        // seeded KMeans quantizer routes to is not SQL-expressible (its
        // retrieval quality is measured against the exact baseline by
        // q88's oracle-checked ≥0.75 recall claim for the 8-probe
        // variant; this 4-probe one measures 0.69/0.71 — the
        // accuracy/cost dial), but the output frame's CONTRACT is:
        // per query, exactly k self-excluded neighbors with contiguous
        // ranks and cosine scores in [-1,1] non-increasing by rank —
        // and the query set itself (vec_id < 20) is oracle-derivable
        // from the parquet, so the verdict rows keep a real cross-engine
        // key column. The full IVF pipeline (KMeans fit, probe ranking,
        // in-cell scoring, top-k) still executes inside this plan.
        val recs = graft.ext.Similarity.ivfTopK(Tables.embeddings(s, d),
          "vec_id", "embedding", queryPred = col("vec_id") < 20,
          nLists = 16, nProbe = 4, k = 5)
        rankedGroupAudit(recs, "query_id", k = 5, extraAggs = Seq(
            (sum(when(col("neighbor_id") === col("query_id"), 1L)
              .otherwise(0L)) === 0).as("self_excluded_ok"),
            (min("score") >= -1.000001 && max("score") <= 1.000001)
              .as("scores_in_range_ok")))
          .select(col("query_id"), col("n").as("n_neighbors"),
            col("ranks_ok"), (col("inversions") === 0)
              .as("scores_monotone_ok"),
            col("self_excluded_ok"), col("scores_in_range_ok"))
          .orderBy("query_id")
      },
      Some("""SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_neighbors,
             |  TRUE AS ranks_ok, TRUE AS scores_monotone_ok,
             |  TRUE AS self_excluded_ok, TRUE AS scores_in_range_ok
             |FROM embeddings WHERE vec_id < 20
             |ORDER BY query_id""".stripMargin),
      doc = "IVF ANN: seeded KMeans coarse quantizer, nProbe nearest cells per query, exact cosine inside cells; oracle-checked since r19 — per-query exactly-k self-excluded neighbors, contiguous ranks, monotone in-range cosine scores, query set recomputed by DuckDB; retrieval quality vs the exact baseline is q88's measured claim"),

    // ---- S5 model persistence: save → load → identical predictions ------
    GQuery("qml55_model_io",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val (nRows, nDiff) = withMaterialized(labeled(s, d)) { df =>
          val (fitted, reloaded) = Classifiers.saveLoadRoundtrip(df,
            "scaled_features", "buckets",
            Staging.dir("model", d))
          // prediction parity between the in-memory and reloaded model:
          // every row must agree (n_diff = 0). Joined on the labeled
          // sample's content-hash uid — the fixture's (l_orderkey,
          // l_linenumber) is not unique (see labeled()), so a join on it
          // would cross-pair rows within duplicate keys
          val a = fitted.transform(df)
            .select(col("uid"), col("prediction").as("p1"))
          val b = reloaded.transform(df)
            .select(col("uid"), col("prediction").as("p2"))
          val joined = a.join(b, Seq("uid"))
          // collect the 1-row comparison INSIDE the cache's scope: the agg
          // is lazy, and executed after the release it would recompute the
          // whole labeled() lineage once per transform branch.
          // Coalesce n_diff to -1 on an EMPTY joined frame: the raw NULL
          // sum would crash the typed head() (undiagnosable red), and a
          // zero-fill would EQUAL the oracle's n_diff=0 pin — -1 cannot,
          // so emptiness stays red and diagnosable (n_rows=0 also
          // mismatches the oracle's join count; review pass 3's
          // empty-frame class fix)
          joined.agg(
            count(lit(1)).as("n_rows"),
            coalesce(sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L)),
              lit(-1L)).as("n_diff"))
            .as[(Long, Long)].head()
        }
        Seq((nRows, nDiff)).toDF("n_rows", "n_diff")
      },
      // Oracle-checked since r18 (was rows-only): the model itself is not
      // SQL-expressible but the roundtrip VERDICT is — n_rows is the
      // bounded labeled-sample size (min of the 50k cap and the
      // lineitem⋈part join count, which DuckDB recomputes), and bitwise
      // prediction parity between the fitted and reloaded model means
      // n_diff is exactly 0.
      Some("""SELECT CAST(least(50000, (SELECT count(*) FROM lineitem l
             |  JOIN part p ON l.l_partkey = p.p_partkey)) AS BIGINT)
             |  AS n_rows,
             |CAST(0 AS BIGINT) AS n_diff""".stripMargin),
      doc = "S5 MLWritable save + load roundtrip (reference bgrfunctions.py:228,262,298,328,360); loaded model must predict identically — the verdict is oracle-checked: n_diff pinned to 0, n_rows to DuckDB's bounded join count")
  )
}
