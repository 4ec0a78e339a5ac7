package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Driver-side output checks that need no engine operator. */
object Checks {
  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** Equal up to floating-point summation order. */
  def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** Ranked top-k rows `(key, rank, name, score)`: every key has exactly
    * ranks 1..k, scores never increase with rank, every item is named. */
  def topKContract(rows: Seq[(Long, Int, Option[String], Double)],
                   k: Int): Boolean =
    rows.nonEmpty && rows.groupBy(_._1).values.forall { g =>
      val byRank = g.sortBy(_._2)
      byRank.map(_._2) == (1 to k) &&
        byRank.forall(_._3.isDefined) &&
        byRank.map(_._4).sliding(2).forall {
          case Seq(a, b) => b <= a
          case _ => true
        }
    }

  /** Connected components of an undirected edge set, each node labelled
    * with the smallest id of its component (union-find). */
  def minLabels(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  def vectors(emb: DataFrame): Map[Long, Array[Double]] =
    emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => long(r, 0) -> r.getSeq[Double](1).toArray).toMap

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.indices.map(i => a(i) * b(i)).sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }
}
