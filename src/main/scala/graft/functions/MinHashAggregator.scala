package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable MinHash sketch as a typed aggregate.
  *
  * [[graft.operators.Dedup.minhashSignature]] computes a document's
  * signature in-row from its tokens (the `graft_minhash` kernel) — fine
  * when the whole document is in one row. This aggregator produces the
  * same signature as ONE mergeable buffer over a stream of shingle
  * hashes, which is what an incremental 100 TB pipeline needs:
  * per-partition/per-day sketches can be persisted and `merge`d
  * (elementwise min) without re-reading old data, exactly like HLL sketch
  * unions. Input is the portable base hash of each shingle
  * ([[PortableHash.baseHash]]), so results match the in-row kernel and
  * the DuckDB oracle — an independent path the specs compare it with.
  */
object MinHashAggregator {

  import PortableHash.{K, P, minhashCoef}

  val agg: Aggregator[Long, Array[Long], Array[Long]] =
    new Aggregator[Long, Array[Long], Array[Long]] {
      def zero: Array[Long] = Array.fill(K)(Long.MaxValue)
      def reduce(buf: Array[Long], h: Long): Array[Long] = {
        var k = 0
        while (k < K) {
          val (a, b) = minhashCoef(k)
          val v = (h * a + b) % P
          if (v < buf(k)) buf(k) = v
          k += 1
        }
        buf
      }
      def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
        var k = 0
        while (k < K) { if (y(k) < x(k)) x(k) = y(k); k += 1 }
        x
      }
      def finish(buf: Array[Long]): Array[Long] = buf
      def bufferEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
      def outputEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    }

  /** Column form: `minhash_sketch(baseHashCol)` → ARRAY<BIGINT> of size K. */
  def minhashSketch(h: Column): Column = udaf(agg).apply(h)

  /** Estimated Jaccard between two sketches: fraction of equal slots. */
  def estJaccard(a: Array[Long], b: Array[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / K
}
