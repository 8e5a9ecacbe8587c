package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SequencePack

/** Concat-and-chunk sequence packing: placement math, span handling,
  * stream independence, and conservation invariants. */
class SequencePackSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  test("placement walks the stream contiguously; big docs span sequences") {
    // one (lang, shard) stream: shards=1 keeps doc order = packing order
    val docs = Seq(
      (0L, "en", 100), (1L, "en", 500), (2L, "en", 12), (3L, "en", 1200))
      .toDF("doc_id", "lang", "n_tokens")
    val out = SequencePack.pack(docs, capacity = 512, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5),
        r.getInt(6)))
    assert(out(0) == ((0L, 0L, 1L, 0)))    // [0, 100)
    assert(out(1) == ((1L, 0L, 2L, 100)))  // [100, 600) spans seq 0→1
    assert(out(2) == ((2L, 1L, 1L, 88)))   // [600, 612)
    assert(out(3) == ((3L, 1L, 3L, 100)))  // [612, 1812) spans seq 1→3
  }

  test("exact-boundary doc ends a sequence; the next doc opens the next one") {
    val docs = Seq((0L, "en", 512), (1L, "en", 1)).toDF("doc_id", "lang", "n_tokens")
    val out = SequencePack.pack(docs, capacity = 512, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(out(0) == ((0L, 1L, 0)))  // fills seq 0 exactly, spans only it
    assert(out(1) == ((1L, 1L, 0)))  // starts seq 1 at offset 0
  }

  test("non-power-of-two capacity stays exact integer math") {
    // regression guard for the double-division pitfall: 3 docs of 1000
    // tokens at capacity 1000 → each owns exactly one sequence
    val docs = (0L until 3L).map(i => (i, "en", 1000)).toDF("doc_id", "lang", "n_tokens")
    val out = SequencePack.pack(docs, capacity = 1000, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(out.toSeq == Seq((0L, 1L, 0), (1L, 1L, 0), (2L, 1L, 0)))
  }

  test("zero-token doc at a stream head keeps integer math non-negative") {
    // cum_after - 1 = -1 for an empty doc opening a stream: Spark `div`
    // truncates toward zero, DuckDB `//` floors toward -inf — the
    // greatest(..) clamp keeps both engines on the same (non-negative)
    // dividends and pins the n_seqs = 1 convention for empty docs.
    val docs = Seq((0L, "en", 0), (1L, "en", 5), (2L, "en", 0))
      .toDF("doc_id", "lang", "n_tokens")
    val out = SequencePack.pack(docs, capacity = 512, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(out(0) == ((0L, 1L, 0)))  // empty head doc sits in seq 0
    assert(out(1) == ((0L, 1L, 0)))
    assert(out(2) == ((0L, 1L, 5)))  // empty doc mid-stream: first_seq from cum
    assert(out.forall { case (first, n, off) => first >= 0 && n >= 1 && off >= 0 })
  }

  test("q47: tokens are conserved and streams pack independently") {
    val out = SparkEntry.queries("q47_sequence_pack")(spark, sfDir)
    val rows = out.collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(rows.length == docs.count())
    // per stream: last doc's cum_after (reconstructed) equals the stream's
    // token total, and first doc starts at seq 0 offset 0
    rows.groupBy(r => (r.getString(1), r.getInt(2))).foreach {
      case (_, stream) =>
        val sorted = stream.sortBy(_.getLong(0))
        assert(sorted.head.getLong(4) == 0L && sorted.head.getInt(6) == 0)
        // walk: each doc's start offset equals the running token sum so far
        var cum = 0L
        sorted.foreach { r =>
          assert(r.getLong(4) == cum / 512 && r.getInt(6) == (cum % 512).toInt,
            s"doc ${r.getLong(0)} misplaced")
          cum += r.getInt(3)
        }
    }
  }
}
