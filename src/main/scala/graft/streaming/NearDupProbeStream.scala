package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.BandStore

/** Streaming admission twin of the persisted MinHash band store
  * (q98/q340; VERDICT r15 #1 — the last persisted store without a live
  * gate): documents arriving on a stream are probed for NEAR-duplication
  * against the STORED corpus before admission — the fuzzy verdict
  * q94's whole-doc hash (DedupStream) cannot see and the substring
  * store (SubstringProbeStream) only sees for verbatim spans.
  *
  * The frozen artifact is NOT collectable (the band + shingle tables
  * are the accumulated corpus), so — like [[SubstringProbeStream]] —
  * the twin follows [[StreamUpsert]]'s discipline: `foreachBatch` runs
  * the registered batch prober ([[BandStore.probeStore]], q435's
  * operator) against the store generation captured at query start. One
  * document's verdict (band-collide → Jaccard-verify → collapse) depends
  * on nothing but that document and the frozen store, so the output is
  * a pure function of the delivered doc set — independent of how the
  * log splits into micro-batches (the spec replays the same log in
  * different splits and gets identical rows).
  *
  * Generation discipline: `bands`/`shingles` are resolved ONCE, before
  * `start` — a concurrent GC (q340's anti-join rewrite) writes a NEW
  * generation and cannot disturb the running query; admitting the next
  * generation is an explicit restart, never a mid-flight mutation.
  *
  * Scale shape per micro-batch: exactly the batch probe — the store
  * side of the candidate join rides the bucket_key-bucketed scan and
  * the verify fetch rides the doc_id-bucketed shingle scan, both
  * exchange-free; only the micro-batch (8 band rows + one shingle set
  * per doc) pays shuffles. No state store, no watermark — statelessness
  * against a frozen generation replaces dedup state. */
object NearDupProbeStream {

  /** Start the admission gate: probe each micro-batch of `docs`
    * (doc_id, text) against the frozen store generation, writing verdict
    * rows (q435's schema — one per batch document, clean docs included
    * with is_near_dup = 0) through [[VerdictSink]] (replay dedup needs a
    * durable `checkpointLocation`). */
  def start(docs: DataFrame, bands: DataFrame, shingles: DataFrame,
            outPath: String,
            checkpointLocation: Option[String] = None): StreamingQuery =
    VerdictSink.start(docs, outPath, checkpointLocation)(
      BandStore.probeStore(_, bands, shingles))
}
