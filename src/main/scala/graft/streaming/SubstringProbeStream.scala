package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SubstringStore

/** Streaming admission twin of the persisted substring position store
  * (q358, VERDICT r14 #4) — the live-crawl gate: documents arriving on
  * a stream are probed for excerpt-level reuse of the STORED corpus
  * before admission, the verdict q94's whole-doc hash cannot see.
  *
  * Unlike [[ContamStream]], the frozen artifact here is NOT
  * collectable — the store is the accumulated corpus (100 TB of
  * position rows), not a benchmark of a few thousand docs — so the
  * ContamStream closure-index recipe does not apply. Instead the twin
  * follows [[StreamUpsert]]'s discipline: `foreachBatch` runs the
  * registered batch prober ([[SubstringStore.probeStore]]) against the
  * store generation captured at query start. One document's verdict
  * depends on nothing but that document and the frozen store, so the
  * output is a pure function of the delivered doc set — independent of
  * how the log is split into micro-batches (the spec replays the same
  * log in different splits and gets identical rows).
  *
  * Generation discipline: the `store` frame is resolved ONCE, before
  * `start` — a concurrent GC ([[SubstringStore.retireFromStore]])
  * writes a NEW table (q340's generation swap) and cannot disturb the
  * running query; admitting the next generation is an explicit
  * restart, never a mid-flight mutation.
  *
  * Scale shape: per micro-batch this is exactly the batch probe — the
  * store side of the fingerprint join and the BF boilerplate-cap count
  * ride the bucketed scan with no exchange; only the micro-batch pays
  * shuffles (stitch window keyed per batch doc). No state store, no
  * watermark — statelessness replaces dedup state. */
object SubstringProbeStream {

  /** Start the admission gate: probe each micro-batch of `docs`
    * (doc_id, text) against the frozen `store` generation, writing
    * verdict rows (q358's schema — one per batch document, clean docs
    * included with is_dup = 0) through [[VerdictSink]] (replay dedup
    * needs a durable `checkpointLocation`). */
  def start(docs: DataFrame, store: DataFrame, outPath: String,
            checkpointLocation: Option[String] = None)
      : StreamingQuery =
    VerdictSink.start(docs, outPath, checkpointLocation)(
      SubstringStore.probeStore(_, store))
}
