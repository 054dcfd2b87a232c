package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Streaming heavy hitters: bucketed Misra–Gries sketches as STREAM
  * STATE (q106) — hot-key detection on a live event stream, the
  * online feed for the skew defenses the batch side already carries
  * (q61's salted join, AQE skew handling).
  *
  * Why a sketch and not a count: a streaming `groupBy(key).count()`
  * keeps one state row PER DISTINCT KEY — unbounded on a 100 TB/day
  * stream. Here state is [[NBuckets]] Misra–Gries maps of ≤ [[Cap]]
  * entries each — a few thousand rows FOREVER, independent of stream
  * length or key cardinality (the bounded-state property, by
  * construction). Keys hash to exactly one bucket, so a key's whole
  * frequency mass lands in one sketch, and the classic guarantee
  * applies per bucket: any key with bucket-frequency > n_b/(Cap+1)
  * survives. Candidates only — the exact counts come from a recount
  * against the table, never from sketch values (q67's discipline).
  * Fixture sizing note (same honesty as q67's MgCapacity): the event
  * fixtures are near-uniform (≤ ~94 distinct users per bucket at
  * sf0.1), so Cap=128 means no eviction ever fires there and the
  * candidate set is provably complete; on a real zipfian stream the
  * threshold guarantee is what carries the top-k through eviction.
  * StreamTopKSpec drives eviction explicitly with an adversarial
  * MemoryStream and pins chunking-independence of the final sketch.
  */
object StreamTopK {

  val NBuckets = 16L
  val Cap = 128

  /** One bucket's emission for a micro-batch: the update sequence
    * number picks each bucket's LAST emission out of an update-mode
    * sink; `cands` are the sketch's surviving keys after the batch. */
  final case class BucketCands(bucket: Long, seq: Long, cands: Seq[Long])

  /** Misra–Gries fold of one micro-batch into a bucket's sketch map.
    * State: (sketch, update-seq); sketch ≤ [[Cap]] entries always. */
  def update(bucket: Long, rows: Iterator[Long],
      state: GroupState[(Map[Long, Long], Long)]): BucketCands = {
    val (m0, seq0) = state.getOption.getOrElse((Map.empty[Long, Long], 0L))
    val m = scala.collection.mutable.Map.empty[Long, Long] ++ m0
    rows.foreach { u =>
      val cur = m.getOrElse(u, 0L)
      if (cur != 0L || m.size < Cap) m(u) = cur + 1L
      else { // full and u absent: decrement all, drop zeros (u dropped too)
        m.mapValuesInPlace((_, v) => v - 1L)
        m.filterInPlace((_, v) => v > 0L)
      }
    }
    state.update((m.toMap, seq0 + 1L))
    BucketCands(bucket, seq0 + 1L, m.keys.toSeq.sorted)
  }
}
