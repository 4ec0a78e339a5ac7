package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Registered queries run by name through `SparkEntry.queries`. A query
  * is forced by collecting one hash of every output row — like Bench's
  * `noop` write, it computes every column, and the same action yields the
  * row count and order-normalised content digest that must equal the
  * stored expectation, so no pass re-runs a query to check it. */
object Registered {
  /** Runs query `q` as one operation of `module` and checks its output
    * against the expectations `<q>/rows` and `<q>/digest`. */
  def run(p: Pass, module: String, q: String): Unit =
    p.op(module, q)(SparkEntry.queries(q)(p.spark, p.dir))(Digest.of)
      .foreach { got =>
        p.expect(s"$module.$q", s"$q/rows", got.rows)
        p.expect(s"$module.$q", s"$q/digest", got.digest)
      }
}

/** Row count and an order-independent digest: the wrapping sum of every
  * row's xxhash64 over all columns (bit-exact, so -0.0 ≠ +0.0). */
final case class Digest(rows: Long, digest: String)

object Digest {
  def of(df: DataFrame): Digest = {
    val hs = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
      .collect().map(_.getLong(0))
    Digest(hs.length.toLong, java.lang.Long.toHexString(hs.sum))
  }
}
