package graft.ops

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

/**
 * The one memory-bounded bucket-expansion operator, shared by every
 * candidate-pair generator (minhash-LSH, simhash, banded ANN, winnow).
 *
 * Over a keyed table — the bucket key columns, then an id column, then any
 * payload the caller's per-pair step reads (simhash carries its 64-bit
 * hash) — it owns ONE exchange keyed by the key columns, a sort within
 * partitions on (key, id), and a streaming window that buffers at most
 * `cap` rows of the current bucket, so task memory is O(cap) whatever the
 * bucket or corpus size (no `collect_list` aggregation buffer anywhere).
 * Each pair of buffered rows with strictly increasing ids (duplicate ids
 * never self-pair) goes through the caller's `step`, which may drop it or
 * turn it into an output row in the partition that generated it.
 *
 * Past the cap, ids are never buffered: they are counted on the named
 * counter and logged once per task (the no-silent-caps rule). The bucket
 * rule decides what a bucket past the cap still emits:
 *  - `wholeBucket = false` keeps its first `cap` ids (the smallest, so the
 *    kept set is deterministic) and counts the overflow;
 *  - `wholeBucket = true` emits nothing and counts every id in it — the
 *    document-frequency stop rule of fingerprint dedup (a fingerprint
 *    shared by thousands of documents is boilerplate, not near-dup
 *    signal).
 */
private[ops] object BucketWindow {

  /** `rows`' columns before `id` are the bucket key; `counter` is the
    * [[graft.Counters]] name its dropped ids land on. */
  def expand[T <: Product, U: Encoder](rows: Dataset[T], id: String, cap: Int,
      wholeBucket: Boolean, counter: String)(step: (T, T) => Option[U]): Dataset[U] = {
    val cols = rows.columns
    val nKeys = cols.indexOf(id)
    require(nKeys > 0, s"$id must follow the bucket key columns in ${cols.mkString(", ")}")
    val dropped = graft.Counters(rows.sparkSession, counter)
    val tag = counter.stripSuffix(".dropped_ids")
    rows
      .repartition(cols.take(nKeys).toIndexedSeq.map(col): _*)
      .sortWithinPartitions(cols.take(nKeys + 1).toIndexedSeq.map(col): _*)
      .mapPartitions { it =>
        val in = it.buffered
        val bucket = new scala.collection.mutable.ArrayBuffer[T](16)
        val ids = new scala.collection.mutable.ArrayBuffer[Long](16)
        var warned = false
        def sameKey(a: T, b: T): Boolean = {
          var i = 0
          while (i < nKeys && a.productElement(i) == b.productElement(i)) i += 1
          i == nKeys
        }
        // one bucket per refill: rows arrive sorted, so its ids ascend
        def nextBucket(): Iterator[U] = {
          val first = in.head
          bucket.clear(); ids.clear()
          var overflow = 0L
          while (in.hasNext && sameKey(in.head, first)) {
            val r = in.next()
            if (bucket.size < cap) {
              bucket += r
              ids += r.productElement(nKeys).asInstanceOf[Long]
            } else overflow += 1
          }
          if (overflow > 0) {
            dropped.add(if (wholeBucket) bucket.size + overflow else overflow)
            if (!warned) {
              val key = (0 until nKeys).map(first.productElement).mkString("(", ", ", ")")
              System.err.println(s"[$tag] bucket $key exceeds cap=$cap — dropping " +
                (if (wholeBucket) "the whole bucket" else "overflow ids") + s" (counted on $counter)")
              warned = true
            }
          }
          if (wholeBucket && overflow > 0) Iterator.empty
          else {
            val n = bucket.size
            Iterator.range(0, n).flatMap(i => Iterator.range(i + 1, n).flatMap(j =>
              if (ids(i) < ids(j)) step(bucket(i), bucket(j)) else None))
          }
        }
        new Iterator[U] {
          private var out: Iterator[U] = Iterator.empty
          def hasNext: Boolean = {
            while (!out.hasNext && in.hasNext) out = nextBucket()
            out.hasNext
          }
          def next(): U = { hasNext; out.next() }
        }
      }
  }
}
