package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.RelationalOps

/** Text-analysis operators for training-data pipelines: tokenization /
  * token counting, quality scoring, marker-based language ID, and
  * positional fingerprinting. All row-local (codegen'd built-ins — no
  * UDFs, no shuffle except where a global dictionary is requested), and
  * free of transcendental functions so every score is bit-reproducible in
  * the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Expression-level let-binding: evaluate `c` ONCE per row and hand the
    * bound value to `f`. A higher-order function evaluates its input
    * array a single time and passes elements to the lambda by reference,
    * so subexpressions `f` references many times are computed once —
    * HOF-bearing projections run interpreted with NO common-subexpression
    * elimination, so an expensive `c` (a tokenizing split) referenced k
    * times would otherwise be evaluated k times per row. Null-equivalent:
    * a null `c` rides through as the lambda argument exactly as the
    * inlined expression would propagate it. */
  private def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** BPE-ish subword segmentation count: runs of letters, runs of digits,
    * or single other non-space chars — the standard pre-tokenizer shape. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Marker word lists per language (tiny n-gram-heuristic language ID:
    * score = #tokens found in each language's marker list, argmax wins,
    * fixed tie-break order en>fr>es>de, all-zero → 'und'). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une"),
    "es" -> Seq("el", "los", "las", "de", "y", "uno", "una"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu"))

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))

  /** Language prediction column from marker scores. */
  def langId(text: Column): Column =
    // bind the split AND the four marker scores once each: inlined, the
    // argmax when-chain references every score up to 5× (4 in `best`
    // plus its own branch), each reference re-splitting the text —
    // ~20 tokenizations per row in the interpreted HOF path
    bindOnce(tokens(lower(text))) { toks =>
      bindOnce(array(Markers.map { case (_, ms) => markerScore(toks, ms) }: _*)) {
        scores =>
          val best = array_max(scores)
          Markers.map(_._1).zipWithIndex
            .foldRight(lit("und"): Column) { case ((l, i), els) =>
              val s = element_at(scores, i + 1)
              when(s === best && s > 0, lit(l)).otherwise(els)
            }
      }
    }

  /** Quality score in [0,1] from length / stopword ratio / punctuation
    * ratio. Linear (no exp/log) → bit-identical across engines. */
  def qualityScore(text: Column): Column =
    // bind the split once: inlined, the three token-derived terms each
    // re-tokenized the text per row (interpreted HOF path, no CSE)
    bindOnce(tokens(text)) { toks =>
      val n = size(toks).cast("double")
      val stopRatio = markerScore(toks, Markers.head._2).cast("double") / n
      val alnumSpace = regexp_replace(text, "[^a-z0-9 ]", "")
      val punctRatio =
        (length(text) - length(alnumSpace)).cast("double") /
          greatest(length(text), lit(1)).cast("double")
      round(lit(0.5) * stopRatio
        + lit(0.3) * least(n, lit(100.0)) / 100.0
        + lit(0.2) * (lit(1.0) - punctRatio), 6)
    }

  /** Overlapping token-window chunking — the canonical pre-tokenization
    * pass of an LLM data pipeline (long documents → model-window-sized
    * pieces; retrieval corpora → overlapping passages). Each chunk covers
    * up to `chunkLen` whitespace tokens, consecutive chunk starts are
    * `stride` apart (overlap = chunkLen − stride), the last chunk per doc
    * may be shorter, and every doc emits at least one chunk. Entirely
    * row-local (split → start sequence → slice/join per start →
    * posexplode): codegen'd HOFs, ZERO shuffle — at 100 TB this is a pure
    * map stage whose output row count is ~n_tokens/stride per doc, the
    * intrinsic cost of the semantics. Complements q91's sequence packing
    * (concat-then-chunk across docs): chunking stays within one document
    * and preserves provenance per piece.
    * Output: (idCol, chunk_id, start_tok, n_tokens, chunk_text). */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkLen: Int, stride: Int): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"chunk: need 0 < stride ($stride) <= chunkLen ($chunkLen) — " +
        "a stride above chunkLen silently drops tokens between chunks")
    // tokenize ONCE in its own codegen'd projection — HOF lambdas are
    // interpreted with no CSE, so an inline `split` here re-tokenizes
    // the document per chunk start (the Dedup.shingles finding)
    val toked = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    toked.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
          st => struct(st.as("start"),
            least(lit(chunkLen), size(toks) - st).as("n"),
            array_join(slice(toks, st + 1, lit(chunkLen)), " ").as("txt"))))
          .as(Seq("chunk_id", "c")))
      .select(col(idCol), col("chunk_id"), col("c.start").as("start_tok"),
        col("c.n").as("n_tokens"), col("c.txt").as("chunk_text"))
  }

  /** Global token dictionary (token → dense id by sorted rank), built with
    * a distributed sort + offsets ([[RelationalOps.zipWithRank]]) —
    * no single-partition Window. The dictionary is the oracle-parity path;
    * production uses xxhash64 per token and skips the global sort. */
  def tokenDict(df: DataFrame, textCol: String): DataFrame =
    RelationalOps.zipWithRank(
      df.select(explode(array_distinct(tokens(col(textCol)))).as("tok"))
        .distinct(),
      Seq(col("tok")), "tid")

  /** TF-IDF per (doc, token): tf = in-doc count, df = number of docs
    * containing the token, tfidf = tf · ln(N/df). Two hash aggregations
    * (by (doc, tok) then by tok) + one join on tok; the 1-row corpus
    * count broadcasts. No dictionary, no global sort — fully
    * shuffle-parallel at any scale. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .select(col(idCol), col("tok"), col("tf"), col("df"), col("tfidf"))
  }

  /** Positional fingerprint: Σ (pos+1)·token_id mod p, plus token count.
    * A rolling-hash-style content fingerprint that is order-sensitive
    * (swapped tokens change it) yet engine-agnostic (pure int64 math). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dict = tokenDict(df, textCol)
    df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .join(dict, Seq("tok"))
      .groupBy(col(idCol))
      .agg((sum((col("pos") + 1) * col("tid")) % Dedup.MinhashPrime)
          .as("fingerprint"),
        count(lit(1)).as("n_tokens"))
  }

  /** Corpus-trained bigram-LM quality score — perplexity-style filtering,
    * the standard "does this doc read like the corpus" signal a training
    * pipeline runs before mixing. Estimation and scoring in one pass over
    * the corpus: add-one-smoothed P(b|a) = (c(a,b)+1)/(c(a·)+V), per-doc
    * mean log-probability. Scale shape: the bigram stream is row-local
    * (HOF pair zip, zero shuffle before the counts), the model is two
    * hash aggregations (by (a,b) and by a), scoring is two
    * shuffle-parallel joins back onto the stream plus a broadcast 1-row
    * vocabulary count — no dictionary, no global sort, no driver state;
    * at 100 TB the count tables shard on their own keys.
    * Cross-engine exactness: each position's ln P is rounded to integer
    * MICROS before the per-doc sum (the money-cents pattern) — identical
    * int-derived doubles → identical ln to ≤1 ulp (q48 precedent), and
    * the integer SUM is order-independent where a float sum is not.
    * Output: (idCol, n_bigrams, sum_lnp_micro, avg_lnp); single-token
    * docs have no bigrams and drop out (inner semantics, same in the
    * oracle). */
  def bigramLm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize ONCE in its own codegen'd projection — HOF lambdas are
    // interpreted with no CSE, so an inline `split` here re-tokenizes
    // the document per bigram position (the Dedup.shingles finding)
    val toked = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    // sequence(1, size-1) would DESCEND for single-token docs (Spark
    // defaults to step -1 when start > stop) and element_at(_, 0)
    // throws — guard to an empty pair list instead
    val starts = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(array().cast("array<int>"))
    // the bigram stream fans out two ways (the c2 aggregation + the
    // scoring join's probe side): persist it once
    RelationalOps.withMaterialized(
      toked.select(col(idCol),
          explode(transform(starts,
            i => struct(element_at(toks, i).as("a"),
              element_at(toks, i + 1).as("b")))).as("bg"))
        .select(col(idCol), col("bg.a").as("a"), col("bg.b").as("b"))) { bi =>
      val c2 = bi.groupBy("a", "b").agg(count(lit(1)).as("c2"))
      // c1 derives from c2 (c1(a) = Σ_b c2(a,b) — exact integer rollup of
      // the same stream), so the corpus-sized stream is aggregated ONCE,
      // not twice (guide §2.3: the old shape ran a second full-stream
      // shuffle by `a` for a count c2 already contains)
      val c1 = c2.groupBy("a").agg(sum(col("c2")).as("c1"))
      val v = toked.select(explode(toks).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      // the model (a, b, micro) is assembled on the MODEL side — tables of
      // |distinct bigrams| rows — and joined to the stream once, so the ln
      // is computed per DISTINCT bigram and the stream is never re-shuffled
      // by `a` (the old shape joined c2 then c1 onto every OCCURRENCE)
      val model = c2.join(c1, Seq("a"))
        .crossJoin(broadcast(v))
        .withColumn("micro",
          round(log((col("c2") + 1).cast("double") /
            (col("c1") + col("v")).cast("double")) * 1000000, 0).cast("long"))
        .select(col("a"), col("b"), col("micro"))
      RelationalOps.materialized(
        bi.join(model, Seq("a", "b"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("micro")).as("sum_lnp_micro"))
          .withColumn("avg_lnp",
            round(col("sum_lnp_micro").cast("double") / 1000000 /
              col("n_bigrams"), 4)))
    }
  }

  /** Deterministic epoch shuffle (VERDICT r19 #4) — the seeded,
    * reproducible global reshuffle a training loader needs per epoch.
    * Every row gets a seed-keyed md5 `shuffle_key`; its first `hexWidth`
    * hex chars pick one of 16^hexWidth shards, and `epoch_pos` ranks
    * within the shard by (key, id). One shuffle total: the shard-
    * partitioned window IS the `repartition + sortWithinPartitions` a
    * cluster deploy would run — there is deliberately NO global row
    * number (a global total order means a single-task sort; a loader
    * consumes shards independently, so (shard, epoch_pos) is the epoch
    * order). Scale knob: hexWidth sizes shards to tasks — 1 → 16 shards
    * (this fixture), 2 → 256, 3 → 4096 for a 1000-executor corpus; md5
    * equidistributes, so shards stay balanced without salting. Changing
    * `seed` reshuffles every epoch; same seed + same ids → the same
    * order on any cluster, any partitioning, any retry.
    * hexWidth caps at 7 (16^7 ≈ 268M shards — far beyond any deploy):
    * at 8 the shard id can exceed Int.MaxValue and the non-ANSI
    * string→int cast would null ~half the corpus into one skewed
    * shard (review r20 #2). */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
                   hexWidth: Int = 1): DataFrame = {
    require(hexWidth >= 1 && hexWidth <= 7,
      s"epochShuffle: hexWidth ($hexWidth) must be in [1, 7]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shuffle_key",
        md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
      .withColumn("shard",
        // int by contract (q100's oracle pins INTEGER); safe only
        // because the require caps hexWidth at 7 — widen BOTH together
        conv(substring(col("shuffle_key"), 1, hexWidth), 16, 10).cast("int"))
      .withColumn("epoch_pos", row_number().over(w).cast("long"))
  }
}
