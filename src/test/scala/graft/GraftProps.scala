package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.ops.RelationalOps

/** ScalaCheck invariants (SURVEY.md §5.2). Each case builds one small
  * DataFrame and runs the operator once; case counts are bounded in
  * build.sbt (`-minSuccessfulTests`) because every case is a Spark job. */
object GraftProps extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val smallDoubles = Gen.listOfN(25, Gen.choose(-100.0, 100.0))

  property("discretize: buckets ∈ {0,1} and = 0 iff x < threshold") =
    forAll(smallDoubles, Gen.choose(-50.0, 50.0)) { (xs, thr) =>
      xs.nonEmpty ==> {
        val out = RelationalOps.discretize(xs.toDF("x"), "x", thr, "b")
          .as[(Double, Double)].collect()
        out.forall { case (x, b) =>
          (b == 0.0 || b == 1.0) && ((b == 0.0) == (x < thr))
        }
      }
    }

  property("removeOutliersIqr: output is a sub-multiset of input") =
    forAll(smallDoubles) { xs =>
      xs.nonEmpty ==> {
        val kept = RelationalOps.removeOutliersIqr(xs.toDF("x"), Seq("x"))
          .as[Double].collect()
        val inCounts = xs.groupBy(identity).view.mapValues(_.size).toMap
        kept.groupBy(identity).forall { case (v, g) =>
          g.size <= inCounts.getOrElse(v, 0)
        }
      }
    }

  property("minMaxScale: non-constant column lands in [0,1]") =
    forAll(smallDoubles) { xs =>
      (xs.distinct.size > 1) ==> {
        val out = RelationalOps.minMaxScale(xs.toDF("x"), "x", "s")
          .select("s").as[Double].collect()
        out.forall(s => s >= 0.0 && s <= 1.0)
      }
    }

  property("topKPerGroup: ≤ k rows per group, ranks start at 1") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.choose(0.0, 10.0))),
      Gen.choose(1, 5)) { (rows, k) =>
      rows.nonEmpty ==> {
        val out = RelationalOps.topKPerGroup(rows.toDF("g", "s"),
          Seq(col("g")), Seq(col("s").desc, col("g")), k)
          .select("g", "rn").as[(String, Int)].collect()
        out.groupBy(_._1).forall { case (_, g) =>
          g.length <= k && g.map(_._2).sorted.toSeq == (1 to g.length)
        }
      }
    }

  property("saltedJoin == plain inner join for any fact/dim") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(1, 5), Gen.alphaStr.map(_.take(4)))),
      Gen.listOfN(5, Gen.zip(Gen.choose(1, 5), Gen.alphaStr.map(_.take(4)))),
      Gen.choose(2, 6)) { (factRows, dimRows, salts) =>
      (factRows.nonEmpty && dimRows.nonEmpty) ==> {
        val fact = factRows.toDF("k", "v")
        val dim = dimRows.toDF("k", "d")
        val salted = RelationalOps.saltedJoin(fact, dim, "k", salts)
          .select("k", "v", "d").as[(Int, String, String)]
          .collect().sorted.toSeq
        val plain = fact.join(dim, Seq("k"))
          .select("k", "v", "d").as[(Int, String, String)]
          .collect().sorted.toSeq
        salted == plain
      }
    }

  property("minhash LSH: identical docs always share every band bucket") =
    forAll(Gen.listOfN(3, Gen.listOfN(8,
      Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")))) { wordLists =>
      wordLists.forall(_.distinct.size >= 4) ==> {
        // duplicate doc 1 as doc 100: the pair (1, 100) must always be a
        // candidate — identical shingle sets give identical signatures
        val texts = wordLists.map(_.mkString(" "))
        val docs = (texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
          :+ (100L, texts.head)).toDF("doc_id", "text")
        val sh = graft.ext.Dedup.shingles(docs, "doc_id", "text", 3)
        val ids = sh.withColumn("sid", xxhash64(col("shingle")))
        val bk = graft.ext.Dedup.minhashBuckets(ids, "doc_id", 16, 4)
        val cand = graft.ext.Dedup.minhashCandidates(bk, "doc_id")
          .as[(Long, Long)].collect().toSet
        cand.contains((1L, 100L))
      }
    }

  property("asOfJoin == brute-force latest-prior-row lookup") =
    forAll(
      Gen.listOfN(20, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 50L),
        Gen.choose(0.0, 9.0))),
      Gen.listOfN(10, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 50L),
        Gen.choose(0.0, 9.0)))) { (lRows, rRowsRaw) =>
      (lRows.nonEmpty && rRowsRaw.nonEmpty) ==> {
        // right side unique per (key, time) — the operator's contract
        val rRows = rRowsRaw.groupBy(r => (r._1, r._2))
          .map { case ((k, t), g) => (k, t, g.map(_._3).max) }.toList
        val out = RelationalOps.asOfJoin(
            lRows.toDF("k", "t", "lv"), rRows.toDF("k", "t", "rv"), "k", "t")
          .select(col("k"), col("t"), col("lv"), col("asof.rv"))
          .as[(Int, Long, Double, Option[Double])].collect()
        out.length == lRows.size && out.forall { case (k, t, _, m) =>
          val cands = rRows.filter(r => r._1 == k && r._2 <= t)
          if (cands.isEmpty) m.isEmpty
          else m.contains(cands.maxBy(_._2)._3)
        }
      }
    }

  property("bandJoin == brute-force range filter") =
    forAll(
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 200L), Gen.choose(0, 99))),
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 200L), Gen.choose(0, 99))),
      Gen.choose(1L, 30L)) { (lRows, rRows, delta) =>
      (lRows.nonEmpty && rRows.nonEmpty) ==> {
        val out = RelationalOps.bandJoin(
            lRows.toDF("lt", "lid"), rRows.toDF("rt", "rid"), "lt", "rt",
            delta)
          .select("lid", "rid").as[(Int, Int)].collect()
        val brute = for {
          (lt, lid) <- lRows
          (rt, rid) <- rRows
          if rt >= lt - delta && rt <= lt
        } yield (lid, rid)
        // multiset equality: no pair lost, none duplicated by the
        // 2-bucket explode
        out.sorted.toSeq == brute.sorted
      }
    }

  property("connectedComponents == union-find, labels are component minima") =
    forAll(Gen.listOfN(10,
        Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { edges0 =>
      val edges = edges0.filter(e => e._1 != e._2)
      edges.nonEmpty ==> {
        val out = graft.ext.Dedup
          .connectedComponents(edges.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
        def find(x: Long): Long = {
          var r = x; while (parent(r) != r) r = parent(r); r
        }
        edges.foreach { case (x, y) =>
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) parent(rx max ry) = rx min ry
        }
        val expected = nodes.groupBy(find).values
          .flatMap(ns => ns.map(_ -> ns.min)).toMap
        out == expected
      }
    }

  property("intersect/except == Scala set semantics for any multisets") =
    forAll(Gen.listOfN(20, Gen.choose(0, 8)),
        Gen.listOfN(20, Gen.choose(0, 8))) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val da = a.toDF("x")
        val db = b.toDF("x")
        da.intersect(db).as[Int].collect().toSet == (a.toSet & b.toSet) &&
        da.except(db).as[Int].collect().toSet == (a.toSet -- b.toSet)
      }
    }

  property("jaccard df-cap: underestimates, never overestimates, any pair") =
    forAll(Gen.listOfN(5, Gen.listOfN(8,
        Gen.oneOf("aa", "bb", "cc", "dd", "ee"))),
      Gen.choose(1L, 3L)) { (wordLists, maxDf) =>
      wordLists.nonEmpty ==> {
        // tiny vocabulary → shingles repeat across docs → the df cap
        // actually fires. Claim under test (Dedup.scala stop-shingle
        // guard): dropping df>maxDf shingles only removes COMMON counts
        // while |A|,|B| stay true sizes, so every surviving pair's
        // jaccard is ≤ the uncapped truth — pairs sharing only
        // boilerplate fall to 0/absent, none are inflated.
        val docs = wordLists.zipWithIndex
          .map { case (ws, i) => ((i + 1).toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        val sh = graft.ext.Dedup.shingles(docs, "doc_id", "text", 3)
        // jaccardPairs hands back a persisted result the caller owns
        def pairs(cap: Long) = {
          val out = graft.ext.Dedup.jaccardPairs(sh, "doc_id", maxDf = cap)
          try out.select("id_a", "id_b", "jaccard")
            .as[(Long, Long, Double)].collect()
          finally out.unpersist()
        }
        val truth = pairs(1000000L).map { case (a, b, j) => (a, b) -> j }.toMap
        pairs(maxDf).forall { case (a, b, j) =>
          truth.get((a, b)).exists(t => j <= t + 1e-12)
        }
      }
    }

  // Not a Spark job — pure string round-trip. A plain ObjectMapper is
  // the independent reader standing in for a consumer's json.load; lone
  // surrogates are excluded from the generator because they are
  // unrepresentable in any UTF-8 artifact to begin with. Paired
  // surrogates ARE covered: the astral arm emits whole code points
  // 0x10000–0x10FFFF via Character.toChars, and the upper-BMP arm covers
  // 0xe000–0xfffd, so the writer's whole pass-through range is exercised
  // (not just chars below the surrogate gap).
  property("Json: a written string round-trips through a plain JSON parser") =
    forAll(Gen.listOf(Gen.frequency(
      3 -> Gen.asciiPrintableChar.map(_.toString),
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t').map(_.toString),
      1 -> Gen.choose(0.toChar, 0x1f.toChar).map(_.toString),
      1 -> Gen.choose(0x20.toChar, 0xd7ff.toChar).map(_.toString),
      1 -> Gen.choose(0xe000.toChar, 0xfffd.toChar).map(_.toString),
      1 -> Gen.choose(0x10000, 0x10ffff)
        .map(cp => new String(Character.toChars(cp))))).map(_.mkString)) { s =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(Json.write(Map("k" -> s)), classOf[java.util.Map[_, _]])
        .get("k") == s
    }

  property("zOrderKey: de-interleaving recovers both ranks, key is z-monotone") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)))) { pts =>
      pts.nonEmpty ==> {
        val out = pts.toDF("rx", "ry")
          .withColumn("z", RelationalOps.zOrderKey(col("rx"), col("ry"), 8))
          .as[(Long, Long, Long)].collect()
        def deX(z: Long) = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
        def deY(z: Long) = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        out.forall { case (rx, ry, z) =>
          deX(z) == rx && deY(z) == ry && z >= 0L && z < (1L << 16)
        }
      }
    }

  property("equalWidthRank: in [0, 2^bits), monotone, endpoints hit 0 and max") =
    forAll(Gen.listOfN(20, Gen.choose(-100000L, 100000L))) { raw =>
      val xs = raw.distinct
      (xs.size >= 2) ==> {
        val out = xs.toDF("v")
          .withColumn("r", RelationalOps.equalWidthRank(col("v"),
            lit(xs.min), lit(xs.max), 8))
          .as[(Long, Long)].collect().sortBy(_._1)
        val ranks = out.map(_._2)
        ranks.forall(r => r >= 0L && r <= 255L) &&
          ranks.zip(ranks.tail).forall { case (a, b) => a <= b } &&
          ranks.head == 0L && ranks.last == 255L
      }
    }

  property("nanos→micros rebuild == Math.floorDiv for arbitrary instants") =
    forAll(Gen.listOfN(20,
      Gen.oneOf(Gen.choose(-3_000_000L, 3_000_000L),    // dense near epoch
        Gen.choose(-9_000_000_000_000_000_000L,          // full long range
          9_000_000_000_000_000_000L)))) { ns =>
      ns.nonEmpty ==> {
        // stage through the loader's LongType branch (what a NANOS
        // footer reads as) and recover the micros the rebuild produced
        val got = Tables.normalizeDateish(ns.toDF("o_orderdate"), "o_orderdate")
          .select(unix_micros(col("o_orderdate"))).as[Long].collect().toSeq
        got.sorted == ns.map(Math.floorDiv(_, 1000L)).sorted
      }
    }

  property("zipWithRank: ids are 1..n in sorted order") =
    forAll(Gen.listOfN(15, Gen.identifier.map(_.take(8)))) { raw =>
      val xs = raw.distinct
      xs.nonEmpty ==> {
        val ranked = RelationalOps.zipWithRank(xs.toDF("v"),
          Seq(col("v")), "rk").as[(String, Long)].collect().sortBy(_._2)
        ranked.map(_._2).toSeq == (1L to xs.size.toLong) &&
          ranked.map(_._1).toSeq == xs.sorted
      }
    }

  property("chunk: full coverage, exact boundaries, stride-aligned starts") =
    forAll(Gen.choose(1, 30), Gen.choose(1, 8), Gen.choose(1, 8)) {
      (nTok, chunkLen, strideRaw) =>
        val stride = math.min(strideRaw, chunkLen) // contract: stride ≤ len
        val toks = (1 to nTok).map(i => s"w$i")
        val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
        val out = graft.ext.TextAnalysis
          .chunk(df, "doc_id", "text", chunkLen, stride)
          .select("chunk_id", "start_tok", "n_tokens", "chunk_text")
          .as[(Int, Int, Int, String)].collect().sortBy(_._1).toSeq
        // claims (TextAnalysis.chunk): starts are 0, stride, 2·stride …
        // ≤ nTok−1; each chunk is EXACTLY tokens [start, start+n) with
        // n = min(chunkLen, nTok−start); stride ≤ chunkLen ⇒ every token
        // index is covered by at least one chunk
        val startsOk = out.zipWithIndex.forall { case ((cid, st, _, _), i) =>
          cid == i && st == i * stride && st <= nTok - 1
        }
        val contentOk = out.forall { case (_, st, n, txt) =>
          n == math.min(chunkLen, nTok - st) &&
            txt == toks.slice(st, st + n).mkString(" ")
        }
        val covered = out.flatMap { case (_, st, n, _) => st until st + n }
        startsOk && contentOk && covered.toSet == (0 until nTok).toSet
    }

  property("epochShuffle: per-shard ranks are exactly 1..n, " +
    "order deterministic for a seed, shards in range") =
    forAll(Gen.choose(1, 60), Gen.alphaNumStr.map(_.take(8))) { (n, seed) =>
      val df = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "t")
      def run() = graft.ext.TextAnalysis.epochShuffle(df, "doc_id", seed)
        .select("doc_id", "shard", "epoch_pos")
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
      val a = run()
      val ranksOk = a.groupBy(_._2).forall { case (_, rows) =>
        rows.map(_._3).sorted == (1L to rows.size).toSeq
      }
      val shardsOk = a.forall(r => r._2 >= 0 && r._2 < 16)
      ranksOk && shardsOk && run() == a
    }

  property("paragraphHashes: ceil(len/paraLen) blocks per doc, ids 0..k-1") =
    forAll(Gen.choose(1, 80), Gen.choose(1, 8)) { (nTok, paraLen) =>
      val df = Seq((1L, (1 to nTok).map(i => s"w$i").mkString(" ")))
        .toDF("doc_id", "text")
      val ids = graft.ext.Dedup.paragraphHashes(df, "doc_id", "text", paraLen)
        .select("para_id").as[Int].collect().sorted.toSeq
      val k = (nTok + paraLen - 1) / paraLen
      ids == (0 until k)
    }

  property("bigramLm: n_bigrams per doc == max(len-1, 0), " +
    "smoothed log-probs strictly negative") =
    forAll(Gen.listOfN(4, Gen.choose(1, 12))) { lens =>
      val df = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, (1 to n).map(t => s"w${t % 3}").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.ext.TextAnalysis.bigramLm(df, "doc_id", "text")
        .select("doc_id", "n_bigrams", "sum_lnp_micro")
        .as[(Long, Long, Long)].collect().toSeq
      val expect = lens.zipWithIndex.collect {
        case (n, i) if n >= 2 => i.toLong -> (n - 1).toLong
      }.toMap
      out.map(r => r._1 -> r._2).toMap == expect &&
        // add-one smoothing: P < 1 always (V >= 1 and c2 < c1+V), so
        // every per-position micro is negative and so is the sum
        out.forall(_._3 < 0)
    }
}
