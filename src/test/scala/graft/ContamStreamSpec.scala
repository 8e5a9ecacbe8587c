package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SubstringQueries
import graft.streaming.{AdmissionStream, ContamStream}
import graft.streaming.ContamStream.DocIn

/** Streaming contamination gate: replaying the corpus through
  * [[ContamStream.verdicts]] with the frozen benchmark index reproduces
  * q352's registered batch output row for row — including the injected
  * leak (the spec applies q352's fixture injection to the stream input
  * text-side, proving the token-level and text-level constructions
  * agree) and the 6-dp contamination fractions. */
class ContamStreamSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  test("replayed corpus reproduces q352's batch verdicts row for row") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(length(trim(col("text"))) > 0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val benchText = docs.filter(_._1 % 10 == 7).toMap
    // q352's fixture leak, applied text-side: corpus doc 10k+3 gains the
    // first 30 tokens of bench doc 10k+7
    val lives = docs.filter(_._1 % 10 != 7).map { case (id, text) =>
      benchText.get(id + 4) match {
        case Some(bt) =>
          val extra = AdmissionStream.tokenize(bt).take(30).mkString(" ")
          DocIn(id, text + " " + extra)
        case None => DocIn(id, text)
      }
    }
    val index = ContamStream.indexFromDir(spark, sfDir)
    assert(index.nonEmpty, "benchmark index must not be empty")

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[DocIn]
    val q = ContamStream.verdicts(mem.toDF(), index)
      .writeStream.format("memory").queryName("contam_verdicts")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: statelessness means the split cannot matter
      val (b1, b2) = lives.splitAt(lives.length / 2)
      mem.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()

      val cols = Seq("doc_id", "n_tokens", "n_regions", "contam_tokens",
        "longest_contam_tokens", "contam_frac")
      val got = spark.table("contam_verdicts")
        .select(cols.map(col): _*).orderBy("doc_id").collect().toSeq
      val want = SubstringQueries.q352ContamSpans(spark, sfDir)
        .select(cols.map(col): _*).orderBy("doc_id").collect().toSeq
      assert(want.nonEmpty, "fixture must contain contaminated docs")
      assert(got.size == want.size && got == want,
        s"stream verdicts diverge from q352:\n  stream: ${got.take(5)}" +
          s"\n  batch:  ${want.take(5)}")
    } finally q.stop()
  }

  test("a clean document emits nothing; a verbatim quote gates exactly") {
    val index = ContamStream.benchIndex(
      Seq((7L, (1 to 40).map(i => s"b$i").mkString(" ")))
        .toDF("doc_id", "text"))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[DocIn]
    val q = ContamStream.verdicts(mem.toDF(), index)
      .writeStream.format("memory").queryName("contam_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        DocIn(1L, (1 to 30).map(i => s"z$i").mkString(" ")),
        DocIn(2L, ((1 to 5).map(i => s"u$i") ++ (5 to 24).map(i => s"b$i")
          ++ (1 to 5).map(i => s"v$i")).mkString(" ")))
      q.processAllAvailable()
      val rows = spark.table("contam_gate").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows.keySet == Set(2L), "only the quoting doc is gated")
      assert(rows(2L).getAs[Long]("contam_tokens") == 20L &&
        rows(2L).getAs[Long]("n_regions") == 1L)
    } finally q.stop()
  }
}
