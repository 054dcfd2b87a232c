package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Deterministic streaming uniform sample: bucketed BOTTOM-K by an
  * arithmetic hash as STREAM STATE — the online companion to the
  * batch sampling family (q68 stratified, q75 mixture, q97 weighted).
  *
  * Why bottom-k-by-hash and not `rand()`: hashing every record with a
  * fixed multiplicative hash and keeping the k smallest values IS a
  * uniform sample of the distinct records (each record's rank under a
  * fixed uniform-ish hash is exchangeable), but — unlike `rand()` —
  * it is DETERMINISTIC: replayed micro-batches, speculative retries,
  * and the DuckDB oracle all select the identical rows, so the sample
  * is exactly-once under at-least-once replay and hash-gated by the
  * driver compare. The same trick powers the engine's other
  * order-free determinism (O4 first-wins dedup, q99's shuffle).
  *
  * Why state is bounded: a streaming global ORDER BY hash LIMIT k
  * would buffer the stream; here each record folds into one of
  * [[NBuckets]] per-bucket bottom-k sets of ≤ [[K]] entries — state
  * is NBuckets·K scalars FOREVER, independent of stream length (the
  * bounded-state property by construction), and the final sample is the
  * k smallest across buckets, a ≤ NBuckets·K-row presentation step.
  * At 100 TB/day the same topology holds: buckets scale with
  * parallelism, each holds k values, and the merge is trivial.
  *
  * StreamSampleSpec pins chunking-independence (any micro-batch
  * split folds to the same final sample) and the state bound;
  * q131 oracle-gates the end-to-end sample against DuckDB computing
  * the identical hash ranking arithmetically. */
object StreamSample {

  val NBuckets = 16L
  val K = 100

  /** Knuth multiplicative hash, exact in any engine's BIGINT
    * arithmetic for ALL Long ids: reducing mod 1e9+7 FIRST bounds the
    * product at (1e9+6)·2654435761 ≈ 2.66e18 < 2^63−1 (the raw
    * `id * 2654435761` wraps at id ≳ 3.47e9 — Spark would wrap
    * silently while DuckDB raises, so the oracle compare would
    * diverge; same guard as [[graft.llm.TextMining]]'s split hash). */
  def hashOf(id: Long): Long = ((id % 1000000007L) * 2654435761L) % 1000000007L

  /** The same hash as a SQL fragment (the lehmer3/lehmer3Sql pairing
    * discipline, review r18): [[graft.streaming.EmbDeconGate]]'s
    * sampled-audit filter and the spec's expected-sample computation
    * must share ONE definition or a constant tweak silently diverges
    * the gate's sample from the spec's expectation. */
  def hashOfSql(idCol: String): String =
    s"(($idCol % 1000000007) * 2654435761) % 1000000007"

  /** One bucket's emission: update-seq picks the LAST emission out of
    * an update-mode sink (the q106 pattern); `ids` are the bucket's
    * current bottom-k record ids by hash. */
  final case class BucketSample(bucket: Long, seq: Long, ids: Seq[Long])

  /** Fold one micro-batch into a bucket's bottom-k set. State:
    * (ids sorted by (hash, id), update-seq); ≤ [[K]] entries always. */
  def update(bucket: Long, rows: Iterator[Long],
      state: GroupState[(Seq[Long], Long)]): BucketSample = {
    val (ids0, seq0) = state.getOption.getOrElse((Seq.empty[Long], 0L))
    var set = ids0.toSet
    rows.foreach(set += _)
    val kept = set.toSeq.sortBy(id => (hashOf(id), id)).take(K)
    state.update((kept, seq0 + 1L))
    BucketSample(bucket, seq0 + 1L, kept)
  }
}
