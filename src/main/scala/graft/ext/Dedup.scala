package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MinhashParams
import graft.ops.RelationalOps

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB posture):
  *  - exact dedup is a single hash shuffle on a 128-bit digest — never on
  *    the raw text (shuffle bytes = 16B/row + id);
  *  - shingling / hashing / signatures are row-local (explode + HOF, no
  *    shuffle until the band-bucket groupBy);
  *  - every candidate generator that self-joins a bucket key (shingle,
  *    LSH band bucket, SimHash segment) goes through [[bucketPairs]]: it
  *    shuffles bucket keys only, and caps bucket size so a degenerate
  *    bucket (all-equal docs, boilerplate) cannot produce a quadratic
  *    pair explosion;
  *  - the *oracle-parity* shingle-id path uses a sorted dictionary (exact
  *    cross-engine determinism); the *production* path is
  *    [[minhashBucketsRowLocal]], which keys shingles by `xxhash64` — no
  *    global dictionary and no sort.
  */
object Dedup {

  val MinhashPrime: Long = MinhashParams.Prime

  /** Exact dedup: survivor = min(id) per content digest. One shuffle on a
    * 128-bit md5 (raw text stays at the mappers). */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(lower(col(textCol))).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_dups"))

  /** Paragraph stream for SUB-document dedup (VERDICT r19 #3): whole-doc
    * dedup misses the dominant boilerplate class in real corpora —
    * repeated paragraphs inside otherwise-unique documents. The fixture
    * corpus carries no explicit paragraph separators, so "paragraph" =
    * non-overlapping `paraLen`-token block ([[TextAnalysis.chunk]] with
    * stride == chunkLen — same slicing arithmetic q98 pins against the
    * oracle at every legal combo); a corpus with real separators would
    * swap the splitter, not this pipeline. Row-local (HOF slice + md5,
    * zero shuffle): only the 16-byte digests ever leave the mappers —
    * the q30 scale posture, now per paragraph.
    * Output: (idCol, para_id, para_hash). */
  def paragraphHashes(df: DataFrame, idCol: String, textCol: String,
                      paraLen: Int): DataFrame =
    TextAnalysis.chunk(df, idCol, textCol,
        chunkLen = paraLen, stride = paraLen)
      .select(col(idCol), col("chunk_id").as("para_id"),
        md5(col("chunk_text")).as("para_hash"))

  /** Distinct word n-gram shingles, row-local (split + HOF slide, no
    * shuffle — `array_distinct` dedupes within the row BEFORE the explode,
    * so (id, shingle) rows are already unique and no distinct shuffle is
    * needed). Output: (idCol, shingle). */
  def shingles(df0: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame = {
    val df = graft.Tables.spreadSmallScan(df0)
    // Tokenize ONCE into its own projection (guide §1.2 step 2 / §4:
    // expression choice in the hot path). Higher-order functions are
    // interpreted — no whole-stage codegen and no common-subexpression
    // elimination — so a `split` referenced inside the slicing lambda
    // re-tokenizes the document for EVERY shingle position: O(len²)
    // regex work per doc (thread samples of the 32-core bench put
    // StringSplit.nullSafeEval at the top of the explode stages).
    // A separate Project evaluates the split once per row; CollapseProject
    // keeps it separate because the alias is non-cheap and referenced
    // more than once downstream.
    val toked = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    toked.select(col(idCol),
      explode(shingleSet(col("__toks"), n)).as("shingle"))
  }

  /** The distinct word n-grams of one tokenized document, as an array —
    * the shingle semantics [[shingles]] and [[minhashBucketsRowLocal]]
    * share. Docs shorter than n tokens emit NO start positions, so no
    * sub-n stub is ever constructed (a post-explode filter removing them
    * re-split every shingle string to count its tokens, a second O(len)
    * pass per shingle that profiled at a third of the shingling stage);
    * for size >= n every slice is exactly n tokens by construction. */
  private def shingleSet(toks: Column, n: Int): Column = {
    val starts = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts,
      i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Pairwise Jaccard over shingle sets: inverted-index self-join on the
    * shingle ([[bucketPairs]]), count common, |A∪B| = |A|+|B|−common. A
    * shingle shared by n docs emits O(n²) join rows, so shingles with
    * document frequency > `maxDf` (stop-shingles: boilerplate headers,
    * license blurbs) are dropped from the join — the standard
    * stop-shingle guard; set sizes |A|,|B| stay the TRUE sizes so Jaccard
    * is at worst underestimated for pairs sharing only boilerplate. Use
    * [[minhashCandidates]] when even capped fan-out explodes.
    * Output: (id_a, id_b, common, n_a, n_b) with id_a < id_b. */
  def jaccardPairs(sh: DataFrame, idCol: String,
                   maxDf: Long = 1000L): DataFrame = {
    // the shingle frame fans out four ways (sizes, shingle df, both join
    // sides): persist it once
    RelationalOps.withMaterialized(sh) { s =>
      val sizes = s.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
      RelationalOps.materialized(
        bucketPairs(s, Seq("shingle"), idCol, maxDf)
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
          .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")),
            Seq("id_a"))
          .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")),
            Seq("id_b"))
          .withColumn("jaccard",
            col("common").cast("double") /
              (col("n_a") + col("n_b") - col("common"))))
    }
  }

  /** Shingle → integer id by rank-by-sort (deterministic in any engine →
    * DuckDB-checkable), built with a distributed sort + offsets
    * ([[RelationalOps.zipWithRank]]) — NOT a no-partition Window, which
    * would funnel every distinct shingle through one task. */
  def shingleIds(sh: DataFrame): DataFrame = {
    val dict = RelationalOps.zipWithRank(
      sh.select("shingle").distinct(), Seq(col("shingle")), "sid")
    sh.join(dict, Seq("shingle"))
  }

  /** Parameters (a_i, b_i) of the i-th minhash h_i(x) = (a_i·x + b_i) mod p,
    * read from the one hash family [[graft.functions.MinhashParams]] that
    * the fused `MinhashMins` expression binds too (the DuckDB oracles
    * embed the same values as literals). */
  def hashParams(i: Int): (Long, Long) =
    (MinhashParams.A(i), MinhashParams.B(i))

  /** MinHash signatures with `numHashes` affine hashes
    * h_i(x) = (a_i·x + b_i) mod p, banded `numHashes/rowsPerBand` ways.
    * a_i/b_i derive from i by a fixed mixing formula ([[hashParams]] —
    * no RNG → reproducible and oracle-replicable).
    *
    * Plan shape: the hash parameters are compile-time constants, so all
    * `numHashes` minima are computed as columns of ONE hash aggregation —
    * a single shuffle of |shIds| rows with map-side partial mins. (The
    * alternative — crossJoin with a hash-params table then groupBy
    * (id, i) — multiplies the shuffle by numHashes.) Bands are then cut
    * from the signature columns row-locally.
    * Output: (id, band, bucket) — one row per doc per band; `bucket` is
    * the joined band-signature string. */
  def minhashBuckets(shIds: DataFrame, idCol: String, numHashes: Int,
                     rowsPerBand: Int): DataFrame = {
    require(numHashes <= MinhashParams.MaxHashes,
      s"numHashes ($numHashes) exceeds the hash family's " +
        s"${MinhashParams.MaxHashes} precomputed functions")
    val mins = (0 until numHashes).map { i =>
      val (a, b) = hashParams(i)
      // reduce sid into [0, p) FIRST: xxhash64 ids (production path) span
      // the full signed-64 range and sid·a would overflow long (ANSI mode
      // throws). For dictionary ids (< p always) pmod is the identity, so
      // the oracle-checked values are unchanged.
      min((pmod(col("sid"), lit(MinhashPrime)) * a + b) % MinhashPrime)
        .as(s"mh_$i")
    }
    val sig = shIds.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    cutBands(sig, idCol, numHashes, rowsPerBand)
  }

  /** Cut a signature frame (idCol, mh_0..mh_{numHashes−1}) into
    * (id, band, bucket) rows — row-local. */
  private def cutBands(sig: DataFrame, idCol: String, numHashes: Int,
                       rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand " +
        s"($rowsPerBand) — a partial band would silently drop hashes")
    val bands = (0 until numHashes / rowsPerBand).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_", (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
          .map(i => col(s"mh_$i").cast("string")): _*).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Production minhash banding computed ROW-LOCALLY: shingling, xxhash64
    * shingle ids, all `numHashes` minima and the band cut are higher-order
    * functions over the text column — NO shuffle at all until the
    * consumer's band-bucket groupBy, vs the exploded path's signature
    * aggregation shuffling |docs × shingles| rows. At corpus scale the
    * signature stage therefore costs one map pass over the data.
    *
    * Exactly the [[shingles]] → xxhash64 shingle ids →
    * [[minhashBuckets]] composition, row-fused: same shingle semantics
    * (distinct word n-grams, sub-n stubs dropped, docs with no valid
    * shingle emit no rows), same hash family ([[hashParams]]), same
    * (id, band, bucket) output — equality is pinned by test. The
    * dictionary path cannot fuse this way (its ids need a global sort),
    * which is fine: it exists for oracle parity, not production. */
  def minhashBucketsRowLocal(docs0: DataFrame, idCol: String,
                             textCol: String, n: Int, numHashes: Int,
                             rowsPerBand: Int): DataFrame = {
    // the numHashes×|shingles| hash evaluation below is the most
    // CPU-dense map stage in the engine (profiled ~3s single-threaded
    // at sf0.1): spread an underparallelized scan before it (guide
    // §2.5 — the one-row-group fixture-file case; a no-op whenever the
    // source already plans enough splits, i.e. at any real scale)
    val docs = graft.Tables.spreadSmallScan(docs0)
    // tokenize ONCE in its own codegen'd projection — HOF lambdas are
    // interpreted with no CSE, so an inline `split` referenced in the
    // slicing lambda re-tokenizes the document per shingle position,
    // O(len²) per doc (the Dedup.shingles finding)
    // drop no-shingle docs on the TOKEN count, before any shingle
    // construction. The row set is identical to the old
    // `filter(size(__sids) > 0)` (sids is empty ⟺ starts is empty ⟺
    // size(toks) < n), but that late filter was catastrophic: Catalyst
    // pushes deterministic predicates through projections by alias
    // substitution, so the condition re-evaluated the ENTIRE interpreted
    // shingle+hash chain per row — with `split(text)` re-inlined into
    // the lambdas (the O(len²) re-split this function's tokenize-once
    // projection exists to prevent) and BELOW the spreadSmallScan
    // exchange, i.e. at the unspread scan's parallelism. Measured 2.5–
    // 3.8s vs 0.5–0.7s for this stage at sf0.1/32c (guide §1.2, §4).
    val toked = docs.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .filter(size(col("__toks")) >= n)
    // the same shingle set as [[shingles]] (pinned equal by OpsSpec); the
    // filter above makes its empty branch unreachable here
    val sids = transform(shingleSet(col("__toks"), n),
      s => pmod(xxhash64(s), lit(MinhashPrime)))
    // all numHashes minima in ONE fused codegen pass over the sid array
    // (functions.MinhashMins) instead of numHashes separate interpreted
    // array_min(transform(...)) evaluations — the signature arithmetic,
    // parameters and min semantics are identical (one hash family,
    // MinhashParams; composition equality vs the exploded aggregation
    // path pinned in OpsSpec), only the evaluation fuses (guide §4)
    val mins = (0 until numHashes).map { i =>
      element_at(col("__mins"), i + 1).as(s"mh_$i")
    }
    val sig = toked.select(col(idCol), sids.as("__sids"))
      .select(col(idCol), graft.functions.VectorFunctions.minhashMins(
        col("__sids"), lit(numHashes)).as("__mins"))
      .select(col(idCol) +: mins: _*)
    cutBands(sig, idCol, numHashes, rowsPerBand)
  }

  /** The one bucket-pair stage behind every candidate generator that
    * self-joins a bucket key: `members` holds one row per (bucket, member)
    * keyed by `keys`. Buckets with 2..`maxBucketSize` members are kept —
    * the one cap policy, a keep list: a singleton forms no pair, and one
    * oversized bucket (boilerplate; at 100 TB an all-identical-header
    * bucket) would emit O(n²) pairs. ONE self-join on `keys` then emits
    * each same-bucket pair with `id_a < id_b`, once per shared bucket.
    * Every other member column rides along onto both sides, suffixed
    * `_a` / `_b`, so callers read their payload without joining it back.
    * Output: (keys…, id_a, payload_a…, id_b, payload_b…).
    *
    * Deliberate shape: count-filter-then-self-join, NOT
    * `collect_list`-per-bucket with row-local pair explosion. The latter
    * would halve the lineage passes but materializes an entire bucket in
    * one aggregation buffer BEFORE any size filter can apply — an
    * executor OOM on exactly the degenerate buckets the cap exists for.
    * `members` is read three times (size count, both join sides), so
    * callers pass a frame they hold through
    * [[RelationalOps.withMaterialized]]. SHUFFLE_HASH hint: post-explode
    * size estimates are far below real cardinality, so Catalyst would
    * otherwise BROADCAST a whole side (observed at sf0.1) — a driver OOM
    * at scale; both sides are identical subplans, so the exchange is
    * reused. */
  private[ext] def bucketPairs(members: DataFrame, keys: Seq[String],
                               idCol: String,
                               maxBucketSize: Long): DataFrame = {
    val k = keys.map(col)
    val sized = members.groupBy(k: _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
    val kept = members.join(sized.select(k: _*), keys)
    val payload = members.columns
      .filterNot(c => c == idCol || keys.contains(c))
    val Seq(a, b) = Seq("a", "b").map(s => kept.select(k ++
      (col(idCol).as(s"id_$s") +: payload.map(c => col(c).as(s"${c}_$s"))): _*))
    a.join(b.hint("shuffle_hash"), keys).filter(col("id_a") < col("id_b"))
  }

  /** LSH candidate pairs: docs sharing any (band, bucket), through
    * [[bucketPairs]] — buckets larger than `maxBucketSize` are dropped.
    * The (id, band, bucket) frame is bounded (one row per doc per band)
    * and spillable, so it is persisted once and every consumer — the size
    * count and both self-join sides — scans the cache: the expensive
    * lineage above it (shingles → dictionary → signature aggregation)
    * runs exactly once, not once per consumer. */
  def minhashCandidates(buckets: DataFrame, idCol: String,
                        maxBucketSize: Int = 1000): DataFrame =
    RelationalOps.withMaterialized(buckets) { bk =>
      RelationalOps.materialized(
        bucketPairs(bk, Seq("band", "bucket"), idCol, maxBucketSize)
          .select("id_a", "id_b").distinct())
    }

  /** Incremental near-dup probe — the PRODUCTION dedup shape at corpus
    * scale: a new crawl batch is probed against the STANDING corpus
    * LSH index instead of re-deduping the whole corpus per ingest. Both
    * sides carry the same banding (the dictionary-free xxhash64 path
    * makes their bucket keys agree with no shared state), and the join
    * BROADCASTS the batch side. CONTRACT: the batch must be the
    * broadcast-sized side — that is the operator's definition (a crawl
    * batch vs a 100 TB index): the batch probe join is an explicit
    * broadcast, the tiny stop-list anti join is broadcast-eligible
    * (AQE converts at runtime — never a forced driver collect), and
    * the index is written bucket-partitioned once at build; the
    * guard's size aggregation shuffles bucket-key partials once, which
    * a production deploy skips by precomputing sizes at index build. A batch that
    * grows with the corpus belongs in [[minhashCandidates]] over the
    * union instead. Corpus-side buckets larger than `maxBucketSize`
    * are dropped BEFORE the join (the same boilerplate guard as
    * minhashCandidates — one all-identical-header bucket would
    * otherwise emit |corpus∩bucket|·|batch∩bucket| rows; review r20
    * pass-3 #2). This is a probe across two sets, not a self-join, so it
    * keeps its own corpus-side STOP list instead of [[bucketPairs]]'s
    * keep list: a corpus bucket with one member can still match a batch
    * doc. Output: distinct (new_id, old_id) candidate pairs; verify with
    * true Jaccard downstream. */
  def incrementalCandidates(corpusBuckets: DataFrame,
                            batchBuckets: DataFrame,
                            idCol: String,
                            maxBucketSize: Int = 1000): DataFrame = {
    // two consumers of the corpus lineage (the size aggregation + the
    // anti-join probe side): persist the CALLER's frame — not a local
    // projection of it, which would never match a caller-held cache — so
    // the expensive index lineage runs once, not twice
    RelationalOps.withMaterialized(corpusBuckets) { cached =>
      val corpus = cached
        .select(col("band"), col("bucket"), col(idCol).as("old_id"))
      // the OVERSIZED-bucket list is tiny by construction (boilerplate
      // buckets are few in distinct count), so the anti join is
      // broadcast-eligible; deliberately UNHINTED — AQE converts from
      // runtime stats when the list is genuinely tiny, and a degenerate
      // cap that inflates it degrades to a shuffled anti join instead of
      // a forced driver collect (the trimLowImportance / jaccardPairs
      // convention). The size aggregation itself shuffles bucket-key
      // partials once; a production deploy precomputes bucket sizes at
      // index-build time and skips that pass entirely.
      val stop = corpus.groupBy("band", "bucket")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucketSize)
        .select("band", "bucket")
      RelationalOps.materialized(
        corpus.join(stop, Seq("band", "bucket"), "left_anti")
          .join(broadcast(batchBuckets.select(col("band"), col("bucket"),
            col(idCol).as("new_id"))), Seq("band", "bucket"))
          .select(col("new_id"), col("old_id")).distinct())
    }
  }

  /** 16-bit SimHash from per-doc distinct token ids: bit b of token t is
    * bit b of (t·2654435761); the signature bit is the sign of the summed
    * ±1 votes. Everything is integer arithmetic → engine-agnostic.
    *
    * Plan shape: like [[minhashBuckets]], all `bits` vote sums are
    * columns of ONE hash aggregation — a single map-side-combined
    * shuffle of |tokIds| rows. (The explode-a-bit-index-table
    * formulation shuffles bits× the rows through TWO aggregations; at
    * 16 bits that is a 16× shuffle multiplier for identical output.)
    * The signature is then assembled row-locally from the vote signs. */
  def simhash(tokIds: DataFrame, idCol: String, bits: Int = 16): DataFrame = {
    val votes = (0 until bits).map { b =>
      // reduce sid into [0, 2^31-1) FIRST — the same guard as
      // minhashBuckets: production xxhash64 sids span the full
      // signed-64 range and sid·2654435761 would overflow long (ANSI
      // mode throws). For dictionary ids (row_number ranks, always far
      // below 2^31-1) pmod is the identity, so the oracle-checked
      // values are unchanged; the oracle mirrors the same reduction.
      sum(when(expr(
          s"((pmod(sid, 2147483647) * 2654435761) >> $b) & 1") === 1, 1)
        .otherwise(-1)).as(s"__v_$b")
    }
    tokIds.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
            when(col(s"__v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Pairs within `maxHamming` of each other, via exact pigeonhole
    * banding: split the `bits`-bit signature into `maxHamming + 1`
    * segments — a pair with ≤ maxHamming differing bits MUST agree exactly
    * on at least one segment, so joining on (segment, value) loses no
    * pair (recall = 1, results identical to the all-pairs crossJoin) while
    * the shuffle carries only (segment, value, id, sig) keys and the join
    * fan-out is per-segment-bucket, not O(n²). */
  def simhashPairs(sh: DataFrame, idCol: String, maxHamming: Int,
                   bits: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"simhashPairs: maxHamming ($maxHamming) must be in [0, bits=" +
        s"$bits) — at maxHamming >= bits a pigeonhole segment has zero " +
        "width, its mask is 0, and every document lands in one bucket: " +
        "the banded self-join silently degrades to the O(n²) cross " +
        "join the banding exists to prevent")
    val nSeg = maxHamming + 1
    val segVals = array((0 until nSeg).map { s =>
      val lo = s * bits / nSeg
      val w  = (s + 1) * bits / nSeg - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1))
    }: _*)
    // persist the segmented frame: the bucket sizing and both self-join
    // sides consume it, and its lineage (tokens → dictionary → signature)
    // must run once, not per consumer. Pigeonhole recall = 1 needs every
    // bucket, so there is no cap.
    RelationalOps.withMaterialized(
      sh.select(col(idCol), col("simhash"),
        posexplode(segVals).as(Seq("seg", "segval")))) { banded =>
      RelationalOps.materialized(
        bucketPairs(banded, Seq("seg", "segval"), idCol, Long.MaxValue)
          .select("id_a", "id_b", "simhash_a", "simhash_b").distinct()
          .withColumn("hamming", expr("bit_count(simhash_a ^ simhash_b)"))
          .filter(col("hamming") <= maxHamming)
          .select("id_a", "id_b", "hamming"))
    }
  }

  /** Connected components over an undirected edge list — the clustering
    * step every dedup pipeline needs AFTER candidate pairs: pairs
    * (a,b),(b,c) must collapse into one cluster {a,b,c} with a single
    * canonical survivor, or the "dedup" keeps transitive duplicates.
    *
    * Iterative min-label propagation: O(diameter) rounds at one action
    * per round. Near-duplicate graphs are star/clique shaped (diameter
    * ≤ ~3), so 3–4 rounds in practice.
    *
    * Each round truncates lineage by rebuilding the frame from an
    * explicitly persisted row RDD (`LogicalRDD` boundary) — without
    * truncation the plan tree doubles every iteration and Catalyst
    * re-derives the whole chain (the classic iterative-algorithm trap).
    * Owning the RDD handle (instead of `localCheckpoint`, whose storage
    * is only freed when the GC collects the RDD) lets each round
    * unpersist the previous round's blocks eagerly, so at most two
    * round tables are ever materialized; the RETURNED frame stays
    * persisted for the caller.
    *
    * Returns (id, label) for every node that appears in an edge, label
    * = min id of the component; a silent non-converged return would
    * hand back WRONG labels, so non-convergence throws. */
  def connectedComponents(edges: DataFrame, a: String, b: String,
                          maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    RelationalOps.withMaterialized(
      edges.select(col(a).as("src"), col(b).as("dst"))
        .union(edges.select(col(b).as("src"), col(a).as("dst")))
        .distinct()) { sym =>
      val seed = sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
      // lazy: the first round's job materializes these blocks
      var labelsRdd = seed.rdd.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var labels = spark.createDataFrame(labelsRdd, seed.schema)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = sym.join(labels, col("src") === col("id"))
          .groupBy(col("dst"))
          .agg(min(col("label")).as("nbr"))
        // ONE action per round: the step frame carries a per-row "label
        // shrank" flag, and the same job that materializes the next label
        // table tallies the flags through an accumulator — no separate
        // convergence probe (which used to cost a second pass over the
        // labels each round). A task retry can only over-count the
        // accumulator, so a spurious non-zero costs at most one extra
        // round; a zero is exact, so convergence is never declared early.
        val stepped = labels
          .join(nbrMin, col("id") === col("dst"), "left")
          .select(col("id"), least(col("label"), coalesce(col("nbr"),
            col("label"))).as("label"),
            (coalesce(col("nbr"), col("label")) < col("label"))
              .as("__changed"))
        val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
        val nextRdd = stepped.rdd.map { row =>
          if (row.getBoolean(2)) acc.add(1L)
          org.apache.spark.sql.Row(row.get(0), row.get(1))
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        nextRdd.count()
        converged = acc.value == 0L
        labelsRdd.unpersist(blocking = false)
        labels = spark.createDataFrame(nextRdd, labels.schema)
        labelsRdd = nextRdd
        iter += 1
      }
      // real dup graphs converge in a handful of rounds, so hitting this
      // means the graph has a pathological long path (raise maxIter).
      // Release the final round's label blocks before throwing — the
      // caller never receives a handle to them.
      if (!converged) {
        labelsRdd.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds")
      }
      labels
    }
  }
}
