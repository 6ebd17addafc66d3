package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-count sketch as a typed
  * `Aggregator` — the mergeable summary AS A REAL SPARK AGGREGATE
  * (q152), where q144 assembled the same sketch from driver-side
  * TakeOrderedAndProject frames. As a UDAF the sketch rides the
  * normal partial-aggregation machinery: each task folds its rows
  * into a ≤k-element buffer (`reduce` — duplicates fold, the sketch
  * is a SET), partial buffers union-bottom-k in `merge` (KMV's merge
  * IS bottom-k of the union, closed), and only |groups|·k hashes ever
  * cross the wire — per-group distinct counting at 100 TB without the
  * per-group DISTINCT shuffle of data rows.
  *
  * Determinism: the buffer is a sorted array of distinct hash values;
  * reduce/merge are order-insensitive by construction (KmvAggSpec
  * pins commutativity + associativity under scalacheck permutations),
  * so the finished sketch is bit-identical to the oracle's sorted
  * `row_number ≤ k over DISTINCT hashes` formulation, and the
  * estimator `(k−1)·P div h_k` is pure int64 — the q144 discipline,
  * per group this time.
  *
  * Estimator contract (same as q144): under-filled sketch (< k
  * values) means the group's distinct count is EXACT = |sketch|;
  * otherwise (k−1)·P div h_k where P is the hash modulus. Both
  * branches stated identically in the oracle SQL.
  */
final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  require(k >= 2, s"sketch size $k")

  def zero: Array[Long] = Array.emptyLongArray

  def reduce(b: Array[Long], h: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(b, h)
    if (i >= 0) b // already present: duplicates fold
    else {
      val ins = -i - 1
      if (b.length < k) {
        val out = new Array[Long](b.length + 1)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, b.length - ins)
        out
      } else if (ins < k) { // smaller than the current k-th minimum: evict it
        val out = new Array[Long](k)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
        out
      } else b
    }
  }

  def merge(a: Array[Long], c: Array[Long]): Array[Long] = {
    // sorted two-pointer union, distinct, first k — KMV's closed merge
    val out = new Array[Long](math.min(k, a.length + c.length))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < a.length || j < c.length)) {
      val v =
        if (j >= c.length || (i < a.length && a(i) <= c(j))) { val x = a(i); i += 1; x }
        else { val x = c(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def finish(b: Array[Long]): Array[Long] = b

  def bufferEncoder: Encoder[Array[Long]] = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    ExpressionEncoder[Array[Long]]()
  }
  def outputEncoder: Encoder[Array[Long]] = bufferEncoder
}
