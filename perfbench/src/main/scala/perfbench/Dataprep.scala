package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.ops.RelationalOps

/** Data preparation, no ML. LLM-data preparation over `documents` and
  * `embeddings`: quality and language scoring, exact dedup, the
  * production MinHash chain (shingles → fused row-local signatures →
  * banded candidates → Jaccard verify → connected components → keep-best
  * compaction), the incremental batch-vs-corpus probe, and embedding
  * near-dup pairs — the operator chains of q38, q39, q30, q87, q71, q95,
  * q103 and q35, audited against a brute-force truth computed on the
  * driver from the raw documents, untimed. Beside them, one registered
  * query for each remaining layer the data passes through: mean
  * imputation (cleaning), a CSV write-then-read (sources) and a streaming
  * tumbling aggregate checked against its batch twin. */
object DataprepWorkload extends Workload {
  val name = "dataprep"

  /** q87's operating point: 24 hashes in 3-row bands; pairs at Jaccard
    * ≥ 0.9 are the planted near-duplicates and must all be caught. */
  val NearDup = 0.9
  /** q87's oracle pins every true near-duplicate pair caught. */
  val MinRecall = 1.0
  /** q71's cluster threshold. */
  val ClusterEdge = 0.5

  /** Registered queries run by name, with the module they exercise. */
  val Queries: Seq[(String, String)] = Seq(
    "ops.CleaningOps" -> "q21_impute_mean",
    "sources.Sources" -> "q42_csv_roundtrip",
    "streaming.StreamingWindows" -> "q106_stream_batch_parity")

  def pass(p: Pass): Unit = {
    val s = p.spark
    val docs = Tables.documents(s, p.dir)
    val emb = Tables.embeddings(s, p.dir)
    p.op("Tables", "documents")(docs)(noop)
    p.op("Tables", "embeddings")(emb)(noop)
    val truth = p.untimed(Truth.of(s, p.dir))
    val chains: Seq[() => Unit] = Seq(
      () => text(p, docs),
      () => exact(p, docs),
      () => minhashChain(p, docs, truth),
      () => incremental(p, docs, truth),
      () => embeddings(p, emb))
    val queries = Queries.map { case (module, q) =>
      () => Registered.run(p, module, q) }
    p.inSeededOrder(chains ++ queries: _*)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def text(p: Pass, docs: DataFrame): Unit =
    p.op("ext.TextAnalysis")(docs.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("pred_lang")))(_.collect())
      .foreach { rows =>
        p.expect("ext.TextAnalysis", "documents", rows.length)
        p.expect("ext.TextAnalysis", "langid_agree",
          rows.count(r => r.getString(1) == r.getString(3)))
        p.check("ext.TextAnalysis", "quality in [0,1]")(
          rows.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
      }

  private def exact(p: Pass, docs: DataFrame): Unit =
    p.op("ext.Dedup", "exactByContent")(
        Dedup.exactByContent(docs, "doc_id", "text"))(_.collect())
      .foreach { rows =>
        p.expect("ext.Dedup.exactByContent", "exact_groups", rows.length)
        p.expect("ext.Dedup.exactByContent", "documents",
          rows.map(_.getLong(2)).sum.toInt)
      }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (Checks.long(r, 0), Checks.long(r, 1))).toSet

  private def minhashChain(p: Pass, docs: DataFrame, truth: Truth): Unit = {
    val sh = p.op("ext.Dedup", "shingles")(
      Dedup.shingles(docs, "doc_id", "text", 3))(RelationalOps.materialized)
    val bk = p.op("ext.Dedup", "minhashBucketsRowLocal")(
      Dedup.minhashBucketsRowLocal(docs, "doc_id", "text", n = 3,
        numHashes = 24, rowsPerBand = 3))(RelationalOps.materialized)
    val cands = bk.flatMap(b => p.op("ext.Dedup", "minhashCandidates")(
      Dedup.minhashCandidates(b, "doc_id"))(c => pairSet(c.collect())))
    // jaccardPairs is also the verify step: the candidates whose true
    // Jaccard clears the near-dup bar
    val pairs = for (x <- sh; c <- cands; out <- p.op("ext.Dedup",
        "jaccardPairs")(Dedup.jaccardPairs(x, "doc_id", maxDf = 1000L)) { jp0 =>
        val jp = RelationalOps.materialized(jp0)
        val cand = p.spark.createDataFrame(c.toSeq).toDF("id_a", "id_b")
        (jp, pairSet(jp.filter(col("jaccard") >= NearDup)
          .join(cand, Seq("id_a", "id_b"), "left_semi")
          .select("id_a", "id_b").collect()))
      }) yield {
      val (jp, verified) = out
      p.counts.merge("ext.Dedup.candidates", c.size.toDouble, _ + _)
      p.counts.merge("ext.Dedup.verified_pairs", verified.size.toDouble, _ + _)
      p.check("ext.Dedup.jaccardPairs", "verified ⊆ candidates, recall")(
        verified.subsetOf(c) &&
          truth.recall(verified, truth.nearDup) >= MinRecall)
      p.expect("ext.Dedup.jaccardPairs", "near_dup_pairs", truth.nearDup.size)
      jp
    }
    for (jp <- pairs) {
      val edges = jp.filter(col("jaccard") >= ClusterEdge)
        .select(col("id_a"), col("id_b"))
      p.op("ext.Dedup", "connectedComponents")(
          Dedup.connectedComponents(edges, "id_a", "id_b"))(
          cc => RelationalOps.materialized(cc))
        .foreach { cc =>
          val labels = p.untimed(cc.collect()
            .map(r => Checks.long(r, 0) -> Checks.long(r, 1)).toMap)
          p.check("ext.Dedup.connectedComponents", "min-label components")(
            labels == Checks.minLabels(truth.pairsAtLeast(ClusterEdge)))
          p.expect("ext.Dedup.connectedComponents", "cluster_nodes",
            labels.size)
          keepBest(p, docs, cc, labels)
          cc.unpersist()
        }
    }
    sh.foreach(_.unpersist()); bk.foreach(_.unpersist())
    pairs.foreach(_.unpersist())
  }

  /** q95: one survivor per cluster, the best-quality member. */
  private def keepBest(p: Pass, docs: DataFrame, cc: DataFrame,
                       labels: Map[Long, Long]): Unit = {
    val scored = docs
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    p.op("ops.RelationalOps", "topKPerGroup")(RelationalOps.topKPerGroup(
        scored, Seq(col("cluster")), Seq(col("quality").desc,
          col("doc_id").asc), k = 1).select("cluster", "doc_id"))(
        _.collect())
      .foreach { kept =>
        val clusters = labels.values.toSet.size
        val docs = p.untimed(Truth.of(p.spark, p.dir).documents)
        p.check("ops.RelationalOps.topKPerGroup", "one survivor per cluster")(
          kept.map(r => Checks.long(r, 0)).distinct.length == kept.length &&
            kept.length == docs - labels.size + clusters)
      }
  }

  /** q103: odd doc ids are a new crawl probed against the even corpus. */
  private def incremental(p: Pass, docs: DataFrame, truth: Truth): Unit = {
    val side = (parity: Int) => Dedup.minhashBucketsRowLocal(
      docs.filter(pmod(col("doc_id"), lit(2)) === parity), "doc_id", "text",
      n = 3, numHashes = 24, rowsPerBand = 3)
    p.op("ext.Dedup", "incrementalCandidates")(
        Dedup.incrementalCandidates(side(0), side(1), "doc_id"))(
        c => c.select("new_id", "old_id").collect()
          .map(r => (Checks.long(r, 0), Checks.long(r, 1))).toSet)
      .foreach { cands =>
        val cross = truth.nearDup.filter { case (a, b) => (a + b) % 2 == 1 }
          .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }
        p.check("ext.Dedup.incrementalCandidates", "cross pairs caught")(
          cross.subsetOf(cands))
        p.expect("ext.Dedup.incrementalCandidates", "cross_near_dup_pairs",
          cross.size)
      }
  }

  private def embeddings(p: Pass, emb: DataFrame): Unit = {
    p.op("ext.Similarity", "cosinePairsLsh")(Similarity.cosinePairsLsh(emb,
        "vec_id", "embedding", dims = 64, bands = 4, bitsPerBand = 4,
        threshold = 0.45, maxBucketSize = 1000))(_.collect())
      .foreach { rows =>
        val vecs = p.untimed(Checks.vectors(emb))
        p.expect("ext.Similarity.cosinePairsLsh", "embedding_pairs",
          rows.length)
        p.check("ext.Similarity.cosinePairsLsh", "rescored cosines")(
          rows.forall { r =>
              val c = Checks.cosine(vecs(Checks.long(r, 0)),
                vecs(Checks.long(r, 1)))
              c >= 0.45 && math.abs(c - r.getDouble(2)) <= 1e-6
            })
      }
  }
}

/** Brute-force near-duplicate truth: every document pair's word-3-gram
  * Jaccard, computed on the driver from the raw text with no engine
  * operator involved (the definition the DuckDB oracles of q31/q87 use). */
final case class Truth(documents: Int, jaccard: Map[(Long, Long), Double]) {
  def pairsAtLeast(t: Double): Set[(Long, Long)] =
    jaccard.keysIterator.filter(jaccard(_) >= t).toSet
  lazy val nearDup: Set[(Long, Long)] = pairsAtLeast(DataprepWorkload.NearDup)
  def recall(found: Set[(Long, Long)], want: Set[(Long, Long)]): Double =
    if (want.isEmpty) 1.0 else (found & want).size.toDouble / want.size
}

object Truth {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Truth]()

  /** Inputs are fixed per run, so the audit is computed once. */
  def of(spark: org.apache.spark.sql.SparkSession, dir: String): Truth =
    cache.computeIfAbsent(dir, _ => {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => Checks.long(r, 0) -> shingles(r.getString(1)))
      fromShingles(docs.toSeq)
    })

  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  /** Pairs with any overlap, keyed (smaller id, larger id). */
  def fromShingles(docs: Seq[(Long, Set[String])]): Truth = {
    val byId = docs.sortBy(_._1).toIndexedSeq
    val out = Map.newBuilder[(Long, Long), Double]
    for (i <- byId.indices; j <- i + 1 until byId.length) {
      val (a, sa) = byId(i)
      val (b, sb) = byId(j)
      val common = (if (sa.size < sb.size) sa.count(sb) else sb.count(sa))
      if (common > 0)
        out += (a, b) -> common.toDouble / (sa.size + sb.size - common)
    }
    Truth(byId.length, out.result())
  }
}
