package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Router
import graft.sink.AuditLog
import graft.streaming.Stream

/** The batch run (`Router.runBatch`) and the streaming drain
  * (`Stream.drain`) over copies of one mixed drop zone give the same
  * per-file verdicts, the same `processed/` and `failed/<reason>/`
  * placement, the same audit history per file and the same loaded rows. */
class IngestParitySpec extends AnyFunSuite {
  import IngestParitySpec.Run
  import SparkTestSession.spark
  import spark.implicits._

  private val header = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"

  private def record(id: String, date: String): String =
    s"""{"sale_id":"$id","sale_date":"$date","customer_id":"c","product_id":"p","quantity":"2","amount":"2.5"}"""

  private lazy val parquet: Array[Byte] = {
    val dir = Files.createTempDirectory("graft-parity-pq").resolve("out")
    Seq(("p1", "2024-01-06 00:00:00", "c", "p", "1", "6.0"),
        ("p2", "2024-01-07 00:00:00", "c", "p", "2", "7.0"))
      .toDF("sale_id", "sale_date", "customer_id", "product_id", "quantity", "amount")
      .coalesce(1).write.parquet(dir.toString)
    val s = Files.list(dir)
    try Files.readAllBytes(
      s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
    finally s.close()
  }

  /** Valid files of every format, one invalid file per validation rule,
    * and two names both drains leave alone. */
  private lazy val drop: Seq[(String, Array[Byte])] = Seq(
    "good.csv" -> (header +
      "c1,2024-01-02 03:04:05,c,p,1,2.0\n" +
      "c2,2024-01-03 00:00:00,c,p,1,5.0\n" +
      "c2,2024-01-04 00:00:00,c,p,3,7.5\n" +
      "nan,2024-01-05 00:00:00,c,p,1,1.0\n").getBytes,
    "array.json" -> Seq(record("a1", "2024-02-01 00:00:00"),
      record("a2", "2024-02-02 00:00:00")).mkString("[\n", ",\n", "\n]").getBytes,
    "records.ndjson" -> Seq(record("n1", "2024-03-01 00:00:00"),
      record("n2", "never")).mkString("", "\n", "\n").getBytes,
    "blob_noext" -> parquet,
    "missing_col.csv" ->
      "sale_id,sale_date,customer_id,product_id,quantity\nm1,2024-01-01,c,p,1\n".getBytes,
    "bad_dates.csv" -> (header + "b1,2024-01-01,c,p,1,1\nb2,never-a-date,c,p,1,1\n").getBytes,
    "keyless.ndjson" -> (record("k1", "2024-04-01 00:00:00") + "\n" +
      """{"sale_id":"k2","sale_date":"2024-04-02 00:00:00"}""" + "\n").getBytes,
    "cut.parquet" -> parquet.take(parquet.length / 2),
    ".draft.csv" -> (header + "d1,2024-05-01 00:00:00,c,p,1,1.0\n").getBytes,
    "late.csv._COPYING_" -> header.getBytes)

  private def zone(): Path = {
    val base = Files.createTempDirectory("graft-parity")
    val incoming = Files.createDirectories(base.resolve("incoming"))
    drop.foreach { case (n, b) => Files.write(incoming.resolve(n), b) }
    base
  }

  /** Relative path → bytes of every file under `base`. */
  private def tree(base: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(base)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def run(ingest: (Router.Bucket, AuditLog.Sink, DataFrame => Long) =>
      Router.RunReport): Run = {
    val base = zone()
    val audit = new AuditLog.InMemorySink
    val loaded = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = ingest(Router.Bucket(base.toString), audit, df => {
      val rows = df.collect().map(_.toString)
      loaded ++= rows; rows.length.toLong
    })
    // an error's first line, without the copy's path or Spark's stage and
    // task numbers
    def local(e: Option[String]) = e.map(_.linesIterator.next()
      .replace(base.toString, "<base>").replaceAll("[0-9]+", "#"))
    Run(report.outcomes.map(o => o.copy(error = local(o.error))).sortBy(_.key),
      audit.history.groupBy(_.file_key).map { case (k, es) =>
        k -> es.map(e => (e.status, e.rows_processed, local(e.error))) },
      loaded.sorted.toSeq, tree(base))
  }

  test("batch and streaming drains route, audit and load a mixed drop zone alike") {
    val batch = run(Router.runBatch(spark, _, _, _))
    val ckpt = Files.createTempDirectory("graft-parity-ckpt").toString
    val drain = run(Stream.drain(spark, _, ckpt, _, _))

    assert(batch.outcomes.map(o => o.key -> o.status).toMap == Map(
      "good.csv" -> "loaded", "array.json" -> "loaded",
      "records.ndjson" -> "loaded", "blob_noext" -> "loaded",
      "missing_col.csv" -> "validation_failed",
      "bad_dates.csv" -> "validation_failed",
      "keyless.ndjson" -> "validation_failed",
      "cut.parquet" -> "validation_failed"))
    assert(batch.loaded.length == 8)
    assert(batch.files.keySet == Set(
      "incoming/.draft.csv", "incoming/late.csv._COPYING_",
      "processed/good.csv", "processed/array.json",
      "processed/records.ndjson", "processed/blob_noext",
      "failed/validation_failed/missing_col.csv",
      "failed/validation_failed/bad_dates.csv",
      "failed/validation_failed/keyless.ndjson",
      "failed/validation_failed/cut.parquet"))

    assert(drain.outcomes == batch.outcomes)
    assert(drain.audit == batch.audit)
    assert(drain.loaded == batch.loaded)
    assert(drain.files.keySet == batch.files.keySet)
    assert(drain.files == batch.files, "a moved file's bytes differ")
  }
}

object IngestParitySpec {
  /** What one run left: outcomes, audit history per file (status, rows,
    * error), loaded rows and the bucket's files. */
  final case class Run(
      outcomes: Seq[Router.FileOutcome],
      audit: Map[String, Seq[(String, Option[Long], Option[String])]],
      loaded: Seq[String],
      files: Map[String, Seq[Byte]])
}
