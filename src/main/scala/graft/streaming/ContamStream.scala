package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.SubstringQueries.{BF, K, L}

/** Streaming admission twin of q352's span-level benchmark
  * contamination — the live-ingest gate a training pipeline actually
  * runs: documents arriving on a stream are checked for verbatim
  * benchmark leaks BEFORE admission, so eval contamination never
  * reaches the stored corpus.
  *
  * The q352 split applied to streaming: the BENCHMARK is the frozen
  * artifact (eval sets change by release, not by micro-batch), shipped
  * as a collected fingerprint→positions index captured at query start
  * (the CellStream/LookStream preregistered-artifact discipline) with
  * the same BF boilerplate cap. Contamination of one document depends
  * on NOTHING but that document and the frozen index, so the stream is
  * fully STATELESS — a flatMap with a broadcast-closure index, no
  * `flatMapGroupsWithState`, no watermark, unlimited parallelism.
  * Per live document the closure replays q352's chain in-memory:
  * K-shingle md5 fingerprints → index probe → per-(bench, diagonal)
  * gaps-and-islands stitch → interval-union sweep — emitting the same
  * five columns q352 registers (contaminated docs only, clean docs
  * pass silently). ContamStreamSpec proves row-for-row agreement with
  * the registered batch output on a replayed corpus.
  *
  * Scale shape: benchmark sets are thousands of docs (~10⁶ positions)
  * against an unbounded stream — the index is a one-time per-executor
  * closure cost; each document's work is O(tokens × ≤BF probe hits),
  * linear per batch with zero shuffle and zero state. */
object ContamStream {
  import AdmissionStream.{md5Hex, snap, tokenize}

  final case class DocIn(doc_id: Long, text: String)
  final case class Contam(doc_id: Long, n_tokens: Long, n_regions: Long,
      contam_tokens: Long, longest_contam_tokens: Long, contam_frac: Double)

  private def shingleFps(toks: Array[String]): Array[String] =
    Array.tabulate(toks.length - K + 1)(i =>
      md5Hex(toks.slice(i, i + K).mkString(" ")))

  /** The frozen benchmark index: fingerprint → (bench_id, position)
    * hits, with fingerprints at more than BF benchmark positions
    * dropped (q352's boilerplate cap). Built batch-side from the
    * benchmark table — by definition small enough to collect. */
  def benchIndex(bench: DataFrame): Map[String, Array[(Long, Int)]] = {
    val spark = bench.sparkSession
    import spark.implicits._
    bench.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
      .iterator.flatMap { case (id, text) =>
        val toks = tokenize(text)
        if (toks.length < K) Iterator.empty
        else shingleFps(toks).iterator.zipWithIndex
          .map { case (fp, bp) => (fp, (id, bp)) }
      }
      .toArray.groupBy(_._1)
      .collect { case (fp, hits) if hits.length <= BF =>
        fp -> hits.map(_._2).sortBy(identity)
      }
  }

  /** Maximal matched runs ((start, end, runLenShingles) in positions) of
    * `toks` against the frozen index — q352's per-(bench, diagonal)
    * gaps-and-islands stitch as a closure, factored out of [[verdicts]]
    * so the composed live gate ([[CurationGateStream]]) shares the ONE
    * spelling. Only runs spanning ≥ L tokens (rl + K − 1 ≥ L) return. */
  private[streaming] def spanRuns(toks: Array[String],
      index: Map[String, Array[(Long, Int)]]): Array[(Int, Int, Int)] = {
    if (toks.length < K) return Array.empty
    // (bench_id, diag) -> sorted corpus positions, stitched to maximal
    // runs exactly as the batch window does
    val hits = shingleFps(toks).iterator.zipWithIndex.flatMap {
      case (fp, cp) => index.getOrElse(fp, Array.empty)
        .iterator.map { case (bid, bp) => ((bid, cp - bp), cp) }
    }.toArray
    hits.groupBy(_._1).iterator.flatMap { case (_, grp) =>
      val cps = grp.map(_._2).sorted
      // split ascending positions into consecutive runs
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int)] // (start, len)
      var s = cps(0); var len = 1
      cps.iterator.drop(1).foreach { cp =>
        if (cp == s + len) len += 1
        else { runs += ((s, len)); s = cp; len = 1 }
      }
      runs += ((s, len))
      runs.iterator.filter(_._2 + K - 1 >= L)
        .map { case (c0, rl) => (c0, c0 + rl + K - 2, rl) }
    }.toArray
  }

  /** True iff the document shares a verbatim span of ≥ L tokens with any
    * indexed benchmark document — the gate boolean of [[spanRuns]]. */
  private[streaming] def contaminated(toks: Array[String],
      index: Map[String, Array[(Long, Int)]]): Boolean =
    spanRuns(toks, index).nonEmpty

  /** Contamination verdicts for a stream of raw documents against the
    * frozen index. Emits one [[Contam]] row per CONTAMINATED document
    * (a span of ≥ L tokens shared with any benchmark doc); clean and
    * sub-K documents emit nothing, matching q352's output contract. */
  def verdicts(docs: DataFrame, index: Map[String, Array[(Long, Int)]])
      : Dataset[Contam] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[DocIn]
      .flatMap { d =>
        val toks = tokenize(d.text)
        if (toks.length < K) Iterator.empty
        else {
          val spans = spanRuns(toks, index)
          if (spans.isEmpty) Iterator.empty
          else {
            val longest = spans.map(_._3).max + K - 1
            // interval-union sweep over distinct (s, e)
            val distinct = spans.map(t => (t._1, t._2)).distinct
              .sortBy(identity)
            var nRegions = 0L; var covered = 0L
            var rs = distinct(0)._1; var re = distinct(0)._2
            distinct.iterator.drop(1).foreach { case (sp, ep) =>
              if (sp > re + 1) {
                nRegions += 1; covered += re - rs + 1; rs = sp; re = ep
              } else if (ep > re) re = ep
            }
            nRegions += 1; covered += re - rs + 1
            Iterator.single(Contam(d.doc_id, toks.length.toLong, nRegions,
              covered, longest.toLong,
              snap(covered.toDouble / toks.length.toDouble, 6) + 0.0))
          }
        }
      }
  }

  /** Convenience twin entry mirroring q352's fixture derivation: the
    * benchmark is the derived holdout (doc_id % 10 == 7) of `dir`'s
    * documents table. Production passes a real eval-set table. */
  def indexFromDir(spark: SparkSession, dir: String)
      : Map[String, Array[(Long, Int)]] =
    benchIndex(spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 === 7))
}
