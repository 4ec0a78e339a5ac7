package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.ops.RelationalOps.{materialized, withMaterialized}

/** Similarity search over the `embeddings` fixture: brute-force exact
  * cosine as the correctness baseline, sign-LSH bucketed ANN as the scale
  * path, plus embedding-cosine near-dup pairs.
  *
  * Oracle parity for floats: dot products and norms are computed with the
  * same left-to-right index-order accumulation in both engines (Spark
  * `aggregate` HOF vs DuckDB zipped `unnest`), scores are rounded to 6
  * decimals, and thresholds / rank orderings apply to the *rounded* value.
  */
object SimilarityQueries {

  /** Oracle CTEs: vectors as DOUBLE[], squared norms. */
  private val VecCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nrm AS (SELECT vec_id, (SELECT sum(x*x) FROM unnest(v) AS t(x)) AS n2
      |        FROM e),""".stripMargin

  val all: Seq[GQuery] = Seq(

    // ---- int8 quantized embedding storage --------------------------------
    GQuery("q76_embedding_quantize",
      (s, d) => {
        // storage-scale lever for ANN: float32 → int8 + per-vector scale
        // (≈4× smaller candidate stage at 100 TB). The oracle checks the
        // scheme's hard guarantee — per-dim reconstruction error ≤
        // scale/2 — as a claim column, plus exact dims/row counts.
        val q = Similarity.quantizeInt8(Tables.embeddings(s, d), "embedding")
        q.select(col("vec_id"), size(col("embedding")).as("n_dims"),
            array_max(zip_with(col("embedding").cast("array<double>"),
              Similarity.dequantizeInt8(col("q8"), col("q8_scale")),
              (x, dq) => abs(x - dq))).as("err"),
            col("q8_scale"),
            array_max(transform(col("q8"), v => abs(v.cast("int"))))
              .as("qmax"))
          .select(col("vec_id"), col("n_dims"),
            (col("err") <= col("q8_scale") * 0.5 + 1e-9).as("within_half_step"),
            (col("qmax") <= 127).as("in_int8_range"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims,
             |  TRUE AS within_half_step, TRUE AS in_int8_range
             |FROM embeddings ORDER BY vec_id""".stripMargin),
      doc = "int8 scalar quantization of the embedding column (row-local HOFs, no shuffle): per-dim reconstruction error provably ≤ scale/2 and every code in [−127,127] — both verified per vector as oracle claims"),

    // ---- quantized-space search quality ----------------------------------
    GQuery("q77_quantized_recall",
      (s, d) => {
        // does the 4×-smaller int8 space (q76) still find the right
        // neighbors? Top-1 search in the dequantized space vs the exact
        // float space; the oracle pins the query count and the ≥90%
        // top-1 agreement claim (observed 100% on the fixtures — the
        // claim bound leaves room for legitimate quantized rank flips).
        // both searches consume their corpus twice (query side + index
        // side) — persist each once so the scan and the quantize/
        // dequantize transforms run once per row, not per consumer
        // (the house persist-shared-lineage pattern)
        withMaterialized(
            Tables.embeddings(s, d).select("vec_id", "embedding")) { emb =>
          withMaterialized(Similarity.quantizeInt8(emb, "embedding")
              .select(col("vec_id"),
                Similarity.dequantizeInt8(col("q8"), col("q8_scale"))
                  .as("embedding"))) { dq =>
            val exact = Similarity
              .cosineTopK(emb.filter(col("vec_id") < 20), emb, "vec_id",
                "embedding", k = 1)
              .select(col("query_id"), col("neighbor_id").as("exact_nn"))
            val approx = Similarity
              .cosineTopK(dq.filter(col("vec_id") < 20), dq, "vec_id",
                "embedding", k = 1)
              .select(col("query_id"), col("neighbor_id").as("q8_nn"))
            materialized(
              exact.join(approx, Seq("query_id"))
                .agg(count(lit(1)).as("n_queries"),
                  sum(when(col("exact_nn") === col("q8_nn"), 1L).otherwise(0L))
                    .as("agree"))
                .select(col("n_queries"),
                  (col("agree").cast("double") >=
                    col("n_queries").cast("double") * 0.9).as("recall_ok")))
          }
        }
      },
      Some("""SELECT count(*) AS n_queries, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 20""".stripMargin),
      doc = "top-1 recall of int8-quantized search vs exact float search (≥90% agreement claim): closes the quantization loop — q76 proves the storage error bound, this proves the SEARCH survives it"),

    // ---- IVF search quality ----------------------------------------------
    GQuery("q88_ivf_recall",
      (s, d) => {
        // closes the ANN quality loop the way q77 does for quantization:
        // the IVF path (seeded KMeans coarse quantizer — rows-only as
        // qml56, KMeans isn't SQL-expressible) is here MEASURED against
        // the brute-force baseline and the recall@5 claim oracle-checked.
        // Operating point 8-of-16 probed cells = ~50% of the corpus
        // scanned per query for measured mean recall 0.94 (sf0.01) /
        // 0.86 (sf0.1); the claim bound is 0.75 — real headroom under
        // the measured values, deterministic per dataset via the fixed
        // KMeans seed. (qml56's aggressive 4-of-16 probe measures
        // 0.69/0.71 — the accuracy/cost dial made visible; the fixture's
        // label clusters are noisy enough that recall, not speed, is
        // what bounds the probe count here.)
        withMaterialized(
            Tables.embeddings(s, d).select("vec_id", "embedding")) { emb =>
          val exact = Similarity
            .cosineTopK(emb.filter(col("vec_id") < 20), emb, "vec_id",
              "embedding", k = 5)
            .select(col("query_id"), col("neighbor_id"))
          val ivf = Similarity
            .ivfTopK(emb, "vec_id", "embedding",
              queryPred = col("vec_id") < 20, nLists = 16, nProbe = 8, k = 5)
            .select(col("query_id"), col("neighbor_id"))
          materialized(
            exact.join(ivf.withColumn("__hit", lit(1L)),
                Seq("query_id", "neighbor_id"), "left")
              .groupBy("query_id")
              .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") /
                count(lit(1))).as("recall"))
              .agg(count(lit(1)).as("n_queries"),
                avg(col("recall")).as("mean_recall"))
              .select(col("n_queries"),
                (col("mean_recall") >= 0.75).as("recall_ok")))
        }
      },
      Some("""SELECT count(*) AS n_queries, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 20""".stripMargin),
      doc = "recall@5 of the IVF ANN path (seeded KMeans, 8-of-16 probed cells) vs the exact baseline: measured 0.94/0.86 at sf0.01/sf0.1, ≥0.75 claim oracle-checked — upgrades IVF from rows-only to a measured-quality component"),

    // ---- per-class embedding centroids (vector-native aggregation) -------
    GQuery("q81_embedding_centroids",
      (s, d) => {
        import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
        import org.apache.spark.ml.stat.Summarizer
        // class centroids via ml.stat.Summarizer — ONE vector-typed
        // partial aggregate per partition, merged tree-wise. The naive
        // posexplode + groupBy(label, dim) alternative multiplies the
        // shuffle by dims (64× here, 4096× for real embedding widths);
        // the vector-native agg shuffles one 64-dim buffer per
        // (partition, label) instead. Explode happens only on the k×dims
        // RESULT rows.
        val emb = Tables.embeddings(s, d)
          .select(col("label"), array_to_vector(col("embedding")).as("v"))
        emb.groupBy("label")
          .agg(Summarizer.mean(col("v")).as("centroid"),
            count(lit(1)).as("n"))
          .select(col("label").cast("long").as("label"), col("n"),
            posexplode(vector_to_array(col("centroid")))
              .as(Seq("dim", "value")))
          .select(col("label"), col("n"), col("dim").cast("long").as("dim"),
            round(col("value"), 6).as("value"))
          .orderBy("label", "dim")
      },
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |x AS (SELECT label, i - 1 AS dim, v[i] AS x
             |      FROM e, unnest(generate_series(1, len(v))) AS u(i))
             |SELECT CAST(label AS BIGINT) AS label,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(dim AS BIGINT) AS dim,
             |  round(avg(x), 6) AS value
             |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin),
      doc = "per-class embedding centroids via vector-native Summarizer.mean (one vector buffer per partial, not a dims× exploded shuffle); result exploded to (label, dim, value) rows for the oracle"),

    // ---- brute-force exact cosine top-k ---------------------------------
    GQuery("q34_knn_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 20)
        Similarity.cosineTopK(queries, emb, "vec_id", "embedding", k = 5)
          .select("query_id", "neighbor_id", "score", "rank")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $VecCte
              |scored AS (
              |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
              |    round((SELECT sum(qx*xx)
              |           FROM (SELECT unnest(q.v) AS qx, unnest(x.v) AS xx) z)
              |          / (sqrt(nq.n2) * sqrt(nx.n2)), 6) AS score
              |  FROM e q JOIN e x ON q.vec_id <> x.vec_id
              |  JOIN nrm nq ON q.vec_id = nq.vec_id
              |  JOIN nrm nx ON x.vec_id = nx.vec_id
              |  WHERE q.vec_id < 20),
              |ranked AS (SELECT *, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              |  FROM scored)
              |SELECT query_id, neighbor_id, score, rank FROM ranked
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      doc = "exact ANN baseline: bounded query set broadcast against the corpus"),

    // ---- embedding-cosine near-dup pairs (banded LSH + exact rescore) ---
    GQuery("q35_dedup_embedding",
      (s, d) => Similarity.cosinePairsLsh(Tables.embeddings(s, d), "vec_id",
          "embedding", dims = 64, bands = 4, bitsPerBand = 4,
          threshold = 0.45, maxBucketSize = 1000)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |proj AS (
             |  SELECT vec_id, j,
             |    (SELECT sum(v[i+1] * (((1103515245 * (j*64 + i) + 12345) % 2147483648)
             |                          / 1073741824.0 - 1.0))
             |     FROM range(0, 64) r(i)) AS p
             |  FROM e, range(0, 16) t(j)),
             |bk AS (SELECT vec_id, CAST(j // 4 AS INTEGER) AS band,
             |         CAST(sum((CASE WHEN p > 0 THEN 1 ELSE 0 END) * (2 ** (j % 4))) AS BIGINT) AS bucket
             |       FROM proj GROUP BY 1, 2),
             |sized AS (SELECT band, bucket FROM bk GROUP BY 1, 2
             |          HAVING count(*) > 1 AND count(*) <= 1000),
             |b2 AS (SELECT bk.* FROM bk JOIN sized USING (band, bucket)),
             |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |         FROM b2 a JOIN b2 b ON a.band = b.band
             |           AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
             |nrm AS (SELECT vec_id, (SELECT sum(x*x) FROM unnest(v) AS t(x)) AS n2 FROM e),
             |p AS (SELECT id_a, id_b,
             |        round((SELECT sum(ax*bx)
             |               FROM (SELECT unnest(ea.v) AS ax, unnest(eb.v) AS bx) z)
             |              / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_sim
             |      FROM cand
             |      JOIN e ea ON id_a = ea.vec_id JOIN e eb ON id_b = eb.vec_id
             |      JOIN nrm na ON id_a = na.vec_id JOIN nrm nb ON id_b = nb.vec_id)
             |SELECT id_a, id_b, cos_sim FROM p
             |WHERE cos_sim >= 0.45 ORDER BY id_a, id_b""".stripMargin),
      doc = "near-dup by embedding cosine at scale: 4-band×4-bit sign-LSH candidates (bucket-capped) + exact rescoring; brute-force kept as cosinePairsBruteForce baseline"),

    // ---- sign-LSH bucketed ANN (scale path) -----------------------------
    GQuery("q36_knn_lsh",
      (s, d) => Similarity.lshBucketedTopK(Tables.embeddings(s, d),
          "vec_id", "embedding", dims = 64, nBits = 4, k = 3,
          maxBucketSize = 1000)
        .select("bucket", "query_id", "neighbor_id", "score", "rank")
        .orderBy("query_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |proj AS (
             |  SELECT vec_id, j,
             |    (SELECT sum(v[i+1] * (((1103515245 * (j*64 + i) + 12345) % 2147483648)
             |                          / 1073741824.0 - 1.0))
             |     FROM range(0, 64) r(i)) AS p
             |  FROM e, range(0, 4) t(j)),
             |bk AS (SELECT vec_id,
             |         CAST(sum((CASE WHEN p > 0 THEN 1 ELSE 0 END) * (2 ** j)) AS BIGINT) AS bucket
             |       FROM proj GROUP BY 1),
             |sized AS (SELECT bucket FROM bk GROUP BY 1
             |          HAVING count(*) > 1 AND count(*) <= 1000),
             |eb AS (SELECT e.vec_id, v, bucket
             |       FROM e JOIN bk USING (vec_id) JOIN sized USING (bucket)),
             |nrm AS (SELECT vec_id, (SELECT sum(x*x) FROM unnest(v) AS t(x)) AS n2 FROM eb),
             |scored AS (
             |  SELECT a.bucket, a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    round((SELECT sum(ax*bx)
             |           FROM (SELECT unnest(a.v) AS ax, unnest(b.v) AS bx) z)
             |          / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
             |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
             |  JOIN nrm na ON a.vec_id = na.vec_id
             |  JOIN nrm nb ON b.vec_id = nb.vec_id),
             |ranked AS (SELECT *, CAST(row_number() OVER (
             |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
             |  FROM scored)
             |SELECT bucket, query_id, neighbor_id, score, rank FROM ranked
             |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
      doc = "sign-LSH buckets (row-local LCG hyperplanes) shrink the candidate set; exact rescoring inside buckets")
  )
}
