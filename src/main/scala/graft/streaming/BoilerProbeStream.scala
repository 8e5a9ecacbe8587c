package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.BoilerStore

/** Streaming admission twin of the persisted boilerplate-fingerprint
  * store ([[BoilerStore]], q450's operator): documents arriving on a
  * stream are screened for KNOWN template text before admission — the
  * chunk-granularity verdict none of the existing gates see (exact-hash
  * and near-dup judge whole documents; the substring store sees verbatim
  * spans but needs the heavy position chain; this gate answers the
  * cheaper, more common question "is this mostly boilerplate we have
  * already catalogued?").
  *
  * Same discipline as [[NearDupProbeStream]]/[[SubstringProbeStream]]:
  * the frozen artifact (the fp-bucketed incidence table) is not
  * collectable, so `foreachBatch` runs the registered batch prober
  * ([[BoilerStore.probeStore]]) against the generation captured at query
  * start. One document's verdict depends on nothing but that document
  * and the frozen store — a pure function of the delivered doc set,
  * independent of micro-batch splits (the spec replays one log under two
  * splits and gets identical rows). A concurrent append/retire writes a
  * NEW generation; admitting it is an explicit restart.
  *
  * Scale shape per micro-batch: CDC-chunking is per-row array
  * expressions; the store side of the fp join rides the bucketed scan
  * (exchange-free); only the batch's distinct fps shuffle. Stateless —
  * no state store, no watermark. */
object BoilerProbeStream {

  /** Start the admission gate: probe each micro-batch of `docs`
    * (doc_id, text) against the frozen incidence generation, writing
    * verdict rows (q450's schema — one per batch document, clean docs
    * included) through [[VerdictSink]] (replay dedup needs a durable
    * `checkpointLocation`). */
  def start(docs: DataFrame, inc: DataFrame, outPath: String,
            checkpointLocation: Option[String] = None): StreamingQuery =
    VerdictSink.start(docs, outPath, checkpointLocation)(
      BoilerStore.probeStore(_, inc))
}
