package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns — the one hot-path scalar where the built-in
  * higher-order functions (`zip_with` + `aggregate`) are not enough:
  * HOFs evaluate interpreted lambdas and allocate a zipped struct array
  * per row, which dominates pair-scoring joins (millions of candidate
  * pairs × 64 dims). This expression is a single fused loop (dot and both
  * norms in one pass) with `doGenCode`, so it runs inside whole-stage
  * codegen with zero allocation.
  *
  * Float parity: accumulation is index order 0..n−1, identical to the
  * HOF formulation and to the DuckDB oracle's zipped-unnest `sum()` —
  * same IEEE result bit for bit.
  *
  * Null elements inside the arrays are not expected (embedding fixtures
  * are dense); a null element reads as 0.0 like Spark's own vector ops.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  // contract: both children are array<double> (callers cast explicitly —
  // `Similarity.asDouble`); no ImplicitCastInputTypes because Spark keeps
  // AbstractDataType private[sql]
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen form of the sign-LSH band hashing
  * ([[graft.ext.Similarity.lshBandBuckets]]'s HOF formulation): for each
  * band b and bit jj, hyperplane j = b·bits+jj is dotted with the vector
  * using LCG weights w(j,i) = ((1103515245·(j·dims+i) + 12345) mod 2^31)
  * / 2^30 − 1, and the sign bits pack into a long bucket id per band.
  *
  * Why native: the HOF version materializes `bands × bits` interpreted
  * lambda evaluations per row, each allocating a zipped sequence array —
  * O(bands·bits·dims) interpreted work on every corpus row before the
  * candidate shuffle. This is one fused triple loop inside whole-stage
  * codegen, zero allocation beyond the output array.
  *
  * Parity contract: double accumulation runs in index order i=0..dims−1
  * with identical long LCG arithmetic, so buckets are bit-for-bit equal
  * to the HOF form (asserted in ExtSpec) and to the DuckDB oracle's
  * replication of the same formula. `dims` is the array length (callers
  * of the HOF form always passed the true length). */
case class SignLshBands(vec: Expression, bands: Expression,
                        bitsPerBand: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with Serializable {

  override def first: Expression = vec
  override def second: Expression = bands
  override def third: Expression = bitsPerBand
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"

  override def nullSafeEval(v: Any, nb: Any, bpb: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nBands = nb.asInstanceOf[Int]
    val bits = bpb.asInstanceOf[Int]
    val dims = x.numElements()
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var bucket = 0L
      var jj = 0
      while (jj < bits) {
        val j = b.toLong * bits + jj
        var s = 0.0
        var i = 0
        while (i < dims) {
          val w = ((1103515245L * (j * dims + i) + 12345L) % 2147483648L)
            .toDouble / 1073741824.0 - 1.0
          s += x.getDouble(i) * w
          i += 1
        }
        if (s > 0) bucket += (1L << jj)
        jj += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nb, bpb) => {
      val dims = ctx.freshName("dims")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val jj = ctx.freshName("jj")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      val bucket = ctx.freshName("bucket")
      s"""
         |int $dims = $v.numElements();
         |long[] $out = new long[$nb];
         |for (int $b = 0; $b < $nb; $b++) {
         |  long $bucket = 0L;
         |  for (int $jj = 0; $jj < $bpb; $jj++) {
         |    long $j = (long) $b * $bpb + $jj;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $dims; $i++) {
         |      double $w = (double) ((1103515245L * ($j * $dims + $i) + 12345L)
         |        % 2147483648L) / 1073741824.0 - 1.0;
         |      $s += $v.getDouble($i) * $w;
         |    }
         |    if ($s > 0) $bucket += (1L << $jj);
         |  }
         |  $out[$b] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, bands = newSecond, bitsPerBand = newThird)
}

/** Native codegen form of the row-local minhash signature: all
  * `numHashes` minima of h_i(x) = (a_i·x + b_i) mod p over a
  * pre-reduced `array<long>` of shingle ids, in ONE pass.
  *
  * Why native: the HOF formulation evaluated numHashes SEPARATE
  * interpreted `array_min(transform(sids, x → (x·a_i + b_i) % p))`
  * passes per row — 24 allocations of a boxed projection array per
  * document at q87's operating point, profiled at ~1.8s of the sf0.1
  * signature stage. This is one fused two-level loop (elements outer,
  * hash functions inner) inside whole-stage codegen, zero allocation
  * beyond the output array.
  *
  * Parity contract: identical long arithmetic ((x·a_i + b_i) % p with
  * x ∈ [0,p) pre-reduced by the caller, so no overflow: x·a < 2^62),
  * identical parameters ([[MinhashParams]], the one family
  * Dedup.hashParams reads), min over the same elements —
  * bit-equal to the HOF form, asserted against the exploded
  * aggregation composition in OpsSpec. Empty input returns null (the
  * HOF form's array_min(empty) = null); callers filter empties first. */
case class MinhashMins(sids: Expression, numHashes: Expression)
    extends BinaryExpression with Serializable {

  override def left: Expression = sids
  override def right: Expression = numHashes
  override def nullable: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_mins"

  override def nullSafeEval(s: Any, nh: Any): Any = {
    val x = s.asInstanceOf[ArrayData]
    val k = nh.asInstanceOf[Int]
    require(k > 0 && k <= MinhashParams.MaxHashes,
      s"graft_minhash_mins: numHashes $k outside (0, ${MinhashParams.MaxHashes}]")
    val n = x.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val v = x.getLong(i)
      var h = 0
      while (h < k) {
        val hv = (v * MinhashParams.A(h) + MinhashParams.B(h)) %
          MinhashParams.Prime
        if (hv < mins(h)) mins(h) = hv
        h += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, nh) => {
      val aRef = ctx.addReferenceObj("mhA", MinhashParams.A, "long[]")
      val bRef = ctx.addReferenceObj("mhB", MinhashParams.B, "long[]")
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val hv = ctx.freshName("hv")
      s"""
         |int $n = $s.numElements();
         |if ($n == 0 || $nh <= 0 || $nh > ${MinhashParams.MaxHashes}) {
         |  if ($n != 0) throw new IllegalArgumentException(
         |    "graft_minhash_mins: numHashes " + $nh + " outside (0, ${MinhashParams.MaxHashes}]");
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$nh];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = $s.getLong($i);
         |    for (int $h = 0; $h < $nh; $h++) {
         |      long $hv = ($v * $aRef[$h] + $bRef[$h]) % ${MinhashParams.Prime}L;
         |      if ($hv < $mins[$h]) $mins[$h] = $hv;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sids = newLeft, numHashes = newRight)
}

/** The one minhash hash family: h_i(x) = (A(i)·x + B(i)) mod Prime with
  * a_i ∈ [1, p−1], b_i ∈ [0, p−1], both splitmix64-mixed from i — a fixed
  * pure function of i (no RNG state → reproducible everywhere), precomputed
  * once for codegen reference-object binding and read by
  * `Dedup.hashParams`, so the expression layer does not depend on the
  * operator layer. Mixed, not a linear ramp: a_i = (i+1)·c factors every
  * h_i through one base hash, so one shingle minimizes them all and the
  * signature collapses to a single effective hash (sf0.1 surfaced
  * Jaccard-0.98 pairs missed across every band). */
object MinhashParams {
  val Prime: Long = 2147483647L
  val MaxHashes: Int = 256
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  val A: Array[Long] = Array.tabulate(MaxHashes)(i =>
    Math.floorMod(mix64(2L * i), Prime - 1) + 1L)
  val B: Array[Long] = Array.tabulate(MaxHashes)(i =>
    Math.floorMod(mix64(2L * i + 1), Prime))
}

/** Column wrappers over the fused expressions: each builds its Catalyst
  * expression directly, so it works on any session with no setup and
  * no function-registry name can change what it computes. */
object VectorFunctions {
  import org.apache.spark.sql.graft.ExpressionBridge.{column, expression}

  /** Fused codegen cosine similarity ([[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Fused codegen sign-LSH band buckets ([[SignLshBands]]). */
  def lshBands(vec: Column, bands: Column, bitsPerBand: Column): Column =
    column(SignLshBands(expression(vec), expression(bands),
      expression(bitsPerBand)))

  /** Fused codegen minhash signature minima ([[MinhashMins]]). */
  def minhashMins(sids: Column, numHashes: Column): Column =
    column(MinhashMins(expression(sids), expression(numHashes)))
}
