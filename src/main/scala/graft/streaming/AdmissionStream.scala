package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Live admission quality gate — the streaming twin of q400's per-doc
  * gate stages (s1 quality → s2 perplexity → s3 self-repetition): the
  * filter a training-data intake actually runs on documents AS THEY
  * ARRIVE, before anything touches the corpus store. Each document's
  * verdict depends on nothing but the document and two FROZEN
  * artifacts, so the stream is fully STATELESS (the ContamStream
  * discipline — flatMap with broadcast-closure artifacts, no state
  * store, no watermark, unlimited parallelism):
  *
  *   - the quality rule is q23's composite with q154's floor — pure
  *     per-doc arithmetic, no artifact at all;
  *   - the perplexity rule scores against a FROZEN unigram LM — the
  *     (token → 9-dp log-prob) index captured at query start. In
  *     production the scoring LM is a fixed model artifact with a
  *     bounded vocabulary (CCNet ships exactly such a frozen LM); the
  *     fixture index is the full self-trained vocab, and [[lmIndex]]
  *     takes a topV cap for the bounded form. Out-of-vocabulary tokens
  *     score the index's floor (min lp − ln 2 on the same 9-dp grid);
  *     with the full fixture vocab no OOV occurs, so batch agreement is
  *     exact;
  *   - the self-repetition rule is q393's: any tandem repeat ≥ L tokens
  *     (nearest-next-equal-shingle gaps stitched per period — an O(n)
  *     closure replay of the relational chain).
  *
  * AdmissionStreamSpec proves the streamed verdicts equal the batch
  * stages row for row on a replayed log: admitted ⇔ the doc survives
  * q400's s1→s3 chain when the batch LM is the same frozen artifact.
  *
  * Scale shape: per document O(tokens) work against broadcast-closure
  * artifacts; zero shuffle, zero state. The LM index is the one
  * artifact whose size matters — bounded by topV in production. */
object AdmissionStream {

  final case class DocIn(doc_id: Long, text: String)
  final case class Verdict(doc_id: Long, n_tokens: Long, quality: Double,
      avg_nll: Double, has_loop: Boolean, admitted: Boolean,
      reject_reason: String)

  private val K = graft.queries.SubstringQueries.K
  private val L = graft.queries.SubstringQueries.L
  val QualityMin = 0.5
  val NllMax = 8.0

  /** q352's tokenizer (TextFunctions.tokens over lower): trim, lower,
    * split on whitespace; whitespace-only → empty. Shared with
    * [[ContamStream]] and [[CurationGateStream]]. */
  private[graft] def tokenize(text: String): Array[String] = {
    val t = text.trim.toLowerCase
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** Spark md5(): lowercase hex of the UTF-8 digest. */
  private[streaming] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Spark `round(x, n)` image (HALF_UP through decimal — the Sessionize
    * idiom; math.round(v·10ⁿ) diverges near .5 edges); shared with the
    * other streaming twins. */
  private[streaming] def snap(v: Double, n: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(n, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The frozen scoring-LM artifact: token → 9-dp log-prob from a
    * tokenized training frame (doc_id, toks), capped at the topV most
    * frequent tokens (count then token as the deterministic tiebreak),
    * plus the OOV floor. Built batch-side once per generation. */
  def lmIndex(train: DataFrame, topV: Int = Int.MaxValue)
      : (Map[String, Double], Double) = {
    val spark = train.sparkSession
    import spark.implicits._
    val counts = train.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(topV)
      .as[(String, Long)].collect()
    val total = train.select(explode(col("toks")).as("token"))
      .count().toDouble
    val lp = counts.iterator
      .map { case (t, c) => t -> snap(math.log(c.toDouble / total), 9) }
      .toMap
    val floor =
      if (lp.isEmpty) 0.0
      else snap(lp.values.min - math.log(2.0), 9)
    (lp, floor)
  }

  /** q393's tandem-repeat rule as an O(n) closure: true iff the doc
    * carries a repeated span of ≥ L tokens at any period. */
  private[graft] def hasLoop(toks: Array[String]): Boolean = {
    if (toks.length < K) return false
    val lastAt = scala.collection.mutable.HashMap.empty[String, Int]
    // (period -> last position and current run length) per active gap
    val runPos = scala.collection.mutable.HashMap.empty[Int, Int]
    val runLen = scala.collection.mutable.HashMap.empty[Int, Int]
    var i = 0
    val n = toks.length - K + 1
    while (i < n) {
      val fp = md5Hex(toks.slice(i, i + K).mkString(" "))
      lastAt.get(fp).foreach { prev =>
        val d = i - prev
        // the run advances when the previous pair at this period ended
        // exactly one position earlier (consecutive matched positions —
        // the closure image of the batch gaps-and-islands stitch)
        val rl = runPos.get(d) match {
          case Some(p) if p == i - 1 => runLen(d) + 1
          case _ => 1
        }
        runPos.update(d, i)
        runLen.update(d, rl)
        if (rl + K - 1 >= L) return true
      }
      lastAt.update(fp, i)
      i += 1
    }
    false
  }

  /** q23's composite quality over the normalized token form (q400's s1
    * spelling: text = tokens joined by one space). */
  private[graft] def quality(toks: Array[String]): Double = {
    val nTok = toks.length.toDouble
    val nChars = (toks.map(_.length).sum + (toks.length - 1).max(0)).toDouble
    val nStop = toks.count(t => t == "the" || t == "a").toDouble
    math.min(1.0, nTok / 100.0) * 0.4 +
      (1.0 - nStop / nTok) * 0.3 +
      math.min(1.0, nChars / 500.0) * 0.3
  }

  /** Verdicts for a stream of raw documents against the frozen LM
    * artifact — one row per document, admitted or not (an intake gate
    * must log rejects with their reason). */
  def verdicts(docs: DataFrame, lp: Map[String, Double], floor: Double)
      : Dataset[Verdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[DocIn]
      .map { d =>
        val toks = tokenize(d.text)
        if (toks.isEmpty)
          Verdict(d.doc_id, 0L, 0.0, 0.0, has_loop = false,
            admitted = false, "empty")
        else {
          val q = quality(toks)
          if (q < QualityMin)
            Verdict(d.doc_id, toks.length.toLong, q, 0.0,
              has_loop = false, admitted = false, "quality")
          else {
            val nll = snap(
              -toks.iterator.map(t => lp.getOrElse(t, floor)).sum /
                toks.length, 6) + 0.0
            if (nll > NllMax)
              Verdict(d.doc_id, toks.length.toLong, q, nll,
                has_loop = false, admitted = false, "perplexity")
            else {
              val loop = hasLoop(toks)
              Verdict(d.doc_id, toks.length.toLong, q, nll, loop,
                admitted = !loop, if (loop) "loop" else "")
            }
          }
        }
      }
  }
}
