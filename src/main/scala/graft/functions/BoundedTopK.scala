package graft.functions

import org.apache.spark.sql.expressions.Aggregator

/** Shared k-bounded sorted-buffer Aggregator: the single audited
  * implementation of insert-into-sorted-prefix and bounded sorted
  * merge behind every window-replacing ranking aggregate
  * ([[TopKTerms]], [[graft.engine.FirstKViolations]], and the
  * neighbor-ranking semantics twin in the tests).
  *
  * Subclasses provide the TOTAL order (`cmp < 0` iff `a` outranks
  * `b`) and the encoders; the buffer invariant — ascending by `cmp`,
  * length ≤ k, ties inserted AFTER equals (stable) — lives here once.
  * Runs as an ObjectHashAggregate with map-side partial aggregation:
  * the exchange carries ≤ k rows per (group, map task) instead of the
  * group's whole candidate set, which is the entire point (see
  * [[TopKNeighbors]]'s scaladoc for the shuffle-volume argument).
  */
abstract class BoundedTopK[T](k: Int)
    extends Aggregator[T, Seq[T], Seq[T]] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  /** < 0 iff `a` outranks (sorts before) `b`. Must be a total order
    * replicating the window's `orderBy` exactly — Spark sort-key
    * semantics included (NaN greatest, signed zero collapsed, UTF8
    * binary strings; see [[Utf8Order]]). */
  protected def cmp(a: T, b: T): Int

  final override def zero: Seq[T] = Vector.empty

  /** Hot-path cost shape: a row that cannot enter the full buffer —
    * the overwhelming case once a map task has seen ≥ k rows per group
    * (accept probability k/i for the i-th row) — pays exactly ONE
    * comparison and zero allocation via the `buf.last` gate (and that
    * comparison is itself allocation-free for string keys since
    * [[Utf8Order]]'s surrogate-aware fast path). Accepted rows find
    * their slot by binary search over the sorted buffer — O(log k)
    * comparisons, ties landing AFTER equals (stable, the upper bound)
    * — and pay one O(k) immutable rebuild, which totals O(k·ln(n/k))
    * rebuilds per group over a whole task: not worth a mutable buffer
    * (the Aggregator BUF type is immutable `Seq`, so mutation would
    * fight the encoder contract for rare wins). */
  final override def reduce(buf: Seq[T], in: T): Seq[T] = {
    if (buf.length >= k && cmp(buf.last, in) <= 0) buf
    else {
      var lo = 0
      var hi = buf.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(in, buf(mid)) < 0) hi = mid else lo = mid + 1
      }
      (buf.take(lo) :+ in) ++ buf.drop(lo).take(k - lo - 1)
    }
  }

  final override def merge(a: Seq[T], b: Seq[T]): Seq[T] = {
    val out = Vector.newBuilder[T]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length ||
        (i < a.length && cmp(a(i), b(j)) <= 0)
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  final override def finish(buf: Seq[T]): Seq[T] = buf
}
