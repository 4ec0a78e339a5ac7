package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.RelationalOps

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *  - [[cosineTopK]] — brute-force exact top-k: O(n·m) pair scores. The
  *    correctness baseline; at 100 TB it is only viable for a bounded
  *    query set against a broadcastable index shard.
  *  - [[lshBucketedTopK]] — sign-random-projection LSH: each vector gets a
  *    small integer bucket from the signs of deterministic pseudo-random
  *    projections (row-local, no shuffle), then exact scoring runs only
  *    within buckets — the shuffle carries bucket keys, and candidate
  *    count drops from n·m to Σ|bucket|². Projections use an integer LCG
  *    for the weights, so the oracle can replicate them exactly.
  *
  * All dot products run in double with index-order accumulation, which
  * keeps float results bit-identical to the DuckDB oracle's zipped
  * unnest. Pair scoring uses the fused codegen expression
  * [[graft.functions.CosineSimilarity]]; bucket hashing stays in
  * higher-order functions (once per row, not per pair).
  */
object Similarity {

  /** dot(a, b) in double via HOFs; `a`,`b` are array<double> columns.
    * Reference formulation (also the shape the oracle replicates) — kept
    * for tests and one-off use; the pair-scoring hot path uses the fused
    * codegen expression below. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** HOF cosine — bit-identical to [[cosine]]; used to cross-check the
    * native expression in tests. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** cos(a, b) — fused single-pass codegen expression
    * ([[graft.functions.CosineSimilarity]]): interpreted HOF lambdas
    * allocate a zipped array per scored pair and fall out of whole-stage
    * codegen, which dominated the candidate-scoring joins; accumulation
    * order (index 0..n−1) is unchanged, so results stay bit-identical to
    * the HOF form and the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force exact cosine top-k neighbors for each query vector.
    * @param queries  (idCol, vecCol) — the bounded query side (broadcast)
    * @param index    (idCol, vecCol) — the searched corpus
    */
  def cosineTopK(queries: DataFrame, index: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val x = index.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("xv"))
    val scored = x.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("xv")), 6))
      .select("query_id", "neighbor_id", "score")
    nearest(scored, k)
  }

  /** The `k` best neighbours of each query in a (query_id, neighbor_id,
    * score) frame — score descending, ties to the smaller neighbour id,
    * numbered in `rank`: the one ranking every top-k operator emits. */
  private def nearest(scored: DataFrame, k: Int): DataFrame =
    RelationalOps.topKPerGroup(scored,
      part = Seq(col("query_id")),
      order = Seq(col("score").desc, col("neighbor_id").asc),
      k = k, rankCol = "rank")

  /** All pairs with cosine ≥ threshold — brute force. O(n²) pair scores:
    * the explicitly-named baseline for small corpora and for recall
    * audits of [[cosinePairsLsh]]; never the registered scale path. */
  def cosinePairsBruteForce(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val e = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val a = e.select(col(idCol).as("id_a"), col("v").as("va"))
    val b = e.select(col(idCol).as("id_b"), col("v").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Embedding near-dup pairs at scale: banded sign-LSH candidate
    * generation + exact re-scoring. Each vector hashes to `bands`
    * independent bucket ids (row-local — no shuffle until the bucket
    * groupBy); a pair is a candidate iff it shares ANY band bucket
    * (recall ≈ 1−(1−p^r)^b, the standard LSH amplification), buckets
    * above `maxBucketSize` are dropped ([[Dedup.bucketPairs]]: one
    * degenerate bucket must not emit O(n²) pairs), and only candidates
    * get the exact O(dims) cosine. Shuffles carry (band, bucket, id)
    * keys — never all pairs. Threshold compares the rounded score for
    * engine parity. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     dims: Int, bands: Int, bitsPerBand: Int,
                     threshold: Double,
                     maxBucketSize: Int = 1000): DataFrame = {
    // `e` feeds the banding pass AND both exact-rescore joins; `banded`
    // feeds the size count and both candidate self-join sides — persist
    // each once so the hyperplane hashing (O(bands·bits·dims) per row)
    // and the source scan run once, not per consumer.
    RelationalOps.withMaterialized(
      df.select(col(idCol), asDouble(col(vecCol)).as("v"))) { e =>
      RelationalOps.withMaterialized(
        e.select(col(idCol),
          posexplode(lshBandBuckets(col("v"), dims, bands, bitsPerBand))
            .as(Seq("band", "bucket")))) { banded =>
        val cand = Dedup.bucketPairs(banded, Seq("band", "bucket"), idCol,
            maxBucketSize)
          .select("id_a", "id_b").distinct()
        RelationalOps.materialized(cand
          .join(e.select(col(idCol).as("id_a"), col("v").as("va")), Seq("id_a"))
          .join(e.select(col(idCol).as("id_b"), col("v").as("vb")), Seq("id_b"))
          .withColumn("cos_sim", round(cosine(col("va"), col("vb")), 6))
          .filter(col("cos_sim") >= threshold)
          .select("id_a", "id_b", "cos_sim"))
      }
    }
  }

  /** ANN: exact cosine top-k, but only within sign-LSH buckets. Recall is
    * tunable via nBits (fewer bits → bigger buckets → higher recall);
    * buckets above `maxBucketSize` are dropped ([[Dedup.bucketPairs]]) so
    * a degenerate bucket (e.g. the all-zeros region) cannot make the
    * in-bucket join quadratic in n. Each unordered pair is scored once
    * and then ranked for both of its vectors. */
  def lshBucketedTopK(df: DataFrame, idCol: String, vecCol: String,
                      dims: Int, nBits: Int, k: Int,
                      maxBucketSize: Int = 1000): DataFrame = {
    // persist the bucketed frame: the size count and both in-bucket join
    // sides consume it — the hyperplane hashing must run once per row,
    // not once per consumer
    RelationalOps.withMaterialized(
      df.select(col(idCol), asDouble(col(vecCol)).as("v"))
        .withColumn("bucket", lshBucketInt(col("v"), dims, nBits))) { e =>
      // cosine is symmetric bit-for-bit (IEEE products commute), so one
      // score serves the (a, b) and (b, a) orientations
      val scored = Dedup.bucketPairs(e, Seq("bucket"), idCol, maxBucketSize)
        .select(col("bucket"),
          round(cosine(col("v_a"), col("v_b")), 6).as("score"),
          explode(array(
            struct(col("id_a").as("query_id"), col("id_b").as("neighbor_id")),
            struct(col("id_b").as("query_id"), col("id_a").as("neighbor_id"))))
            .as("qn"))
        .select("bucket", "qn.query_id", "qn.neighbor_id", "score")
      RelationalOps.materialized(nearest(scored, k))
    }
  }

  /** IVF (inverted-file) ANN — the centroid-partitioned scale path, the
    * standard alternative to LSH bucketing: a KMeans coarse quantizer
    * (seeded → deterministic) assigns every corpus vector to one of
    * `nLists` cells; each query probes only its `nProbe` nearest cells
    * and scores exactly inside them. Candidates drop from n·m to
    * m·nProbe·(n/nLists) on average. The cell assignment shuffles once on
    * the cell id; centroids are driver-held model state (nLists ≪ n) and
    * broadcast into the probe ranking. Not oracle-expressible (KMeans) →
    * registered rows-only. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, nLists: Int, nProbe: Int, k: Int,
              seed: Long = 1L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // persist `e`: the iterative KMeans fit and the assignment transform
    // both consume the array→vector conversion lineage
    RelationalOps.withMaterialized(
      df.select(col(idCol), asDouble(col(vecCol)).as("v"))
        .withColumn("features", array_to_vector(col("v")))) { e =>
      val model = new KMeans().setK(nLists).setSeed(seed)
        .setFeaturesCol("features").setPredictionCol("cell").fit(e)
      // persist `assigned`: the probe ranking and the in-cell scoring join
      // are independent consumers of the cell assignment
      RelationalOps.withMaterialized(model.transform(e)
        .select(col(idCol), col("v"), col("cell"))) { assigned =>
        val spark = df.sparkSession
        import spark.implicits._
        val cents = model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "cent")
        // probe ranking: squared L2 distance query→centroid (KMeans metric)
        val dist2 = aggregate(
          zip_with(col("qv"), col("cent"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
        val probes = RelationalOps.topKPerGroup(
          assigned.filter(queryPred)
            .select(col(idCol).as("query_id"), col("v").as("qv"))
            .crossJoin(broadcast(cents))
            .withColumn("d2", dist2),
          part = Seq(col("query_id")),
          order = Seq(col("d2").asc, col("cell").asc),
          k = nProbe, rankCol = "probe_rank")
          .select("query_id", "qv", "cell")
        val scored = probes.join(assigned, Seq("cell"))
          .filter(col("query_id") =!= col(idCol))
          .withColumn("score", round(cosine(col("qv"), col("v")), 6))
          .select(col("query_id"), col(idCol).as("neighbor_id"), col("score"))
        RelationalOps.materialized(nearest(scored, k))
      }
    }
  }

  /** Sign of deterministic hyperplane `j` (global plane index) applied to
    * `vec`. Weight for (plane j, dim i) is an LCG value in [−1, 1):
    * w(j,i) = ((1103515245·(j·dims+i) + 12345) mod 2^31) / 2^30 − 1.
    * Row-local (HOFs only) → no shuffle; the LCG keeps it oracle-replicable. */
  private def planeBit(vec: Column, j: Column, dims: Int): Column = {
    val prods = zip_with(vec,
      sequence(lit(0), lit(dims - 1)),
      (x, i) => x * (((lit(1103515245L) * (j * dims + i) + 12345L) % 2147483648L)
        .cast("double") / 1073741824.0 - 1.0))
    when(aggregate(prods, lit(0.0), (acc, x) => acc + x) > 0, lit(1L))
      .otherwise(lit(0L))
  }

  /** Sign-LSH bucket = Σ_j (proj_j > 0) · 2^j, from `nBits` deterministic
    * hyperplanes. Native codegen path
    * ([[graft.functions.SignLshBands]]); `dims` is kept in the signature
    * for call-site clarity but derived from the array inside. */
  def lshBucketInt(vec: Column, dims: Int, nBits: Int): Column =
    element_at(
      graft.functions.VectorFunctions.lshBands(vec, lit(1), lit(nBits)), 1)

  /** `bands` independent sign-LSH buckets per vector; band b uses global
    * planes [b·bitsPerBand, (b+1)·bitsPerBand) so no two bands share a
    * hyperplane. Returns array<long> of length `bands` (element b = bucket
    * id within band b). Fused codegen expression — the HOF form
    * ([[lshBandBucketsHof]]) evaluated bands×bits interpreted lambdas
    * per row and dominated the banding pass. */
  def lshBandBuckets(vec: Column, dims: Int, bands: Int,
                     bitsPerBand: Int): Column =
    graft.functions.VectorFunctions.lshBands(vec, lit(bands), lit(bitsPerBand))

  /** Interpreted HOF formulation of [[lshBandBuckets]] — retained as the
    * independent reference implementation for the bit-parity test (same
    * role [[cosineHof]] plays for the cosine expression). */
  def lshBandBucketsHof(vec: Column, dims: Int, bands: Int,
                        bitsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b => {
      val jjs = sequence(lit(0), lit(bitsPerBand - 1))
      val bits = transform(jjs,
        jj => planeBit(vec, b * bitsPerBand + jj, dims))
      aggregate(
        zip_with(bits, jjs, (bit, jj) => bit * pow(lit(2.0), jj).cast("long")),
        lit(0L), (acc, x) => acc + x)
    })

  /** Int8 scalar quantization for embedding storage: float32 per dim →
    * one byte per dim + one float scale per vector — the ~4× shrink that
    * decides whether an ANN index's candidate stage is IO-bound at
    * 100 TB (shuffle bytes, page-cache footprint, broadcast size all
    * scale with it). Symmetric per-vector scheme: scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [−127, 127], so dequantized error per dim
    * is ≤ scale/2. Entirely row-local (codegen'd HOFs) — no shuffle, no
    * state. Adds `scaleCol` (double) and `out` (array<tinyint>). */
  def quantizeInt8(df: DataFrame, vecCol: String, out: String = "q8",
                   scaleCol: String = "q8_scale"): DataFrame =
    df.withColumn(scaleCol,
        greatest(array_max(transform(col(vecCol),
          x => abs(x.cast("double")))) / 127.0, lit(1e-12)))
      .withColumn(out, transform(col(vecCol),
        x => round(x.cast("double") / col(scaleCol)).cast("tinyint")))

  /** Inverse of [[quantizeInt8]]: array<tinyint> × scale → array<double>. */
  def dequantizeInt8(qCol: Column, scaleCol: Column): Column =
    transform(qCol, q => q.cast("double") * scaleCol)
}
