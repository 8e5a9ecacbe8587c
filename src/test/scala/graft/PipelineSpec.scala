package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Router
import graft.sink.{AuditLog, Upsert}
import graft.streaming.Stream

/** Sinks (SQL text + batching), routing state machine e2e smoke, and the
  * streaming wrapper (SURVEY §2.6, §3.1 intended semantics, §5 "the test
  * the reference never wrote"). */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.spark

  // ------------------------------------------------------------ upsert sink
  test("upsert SQL text matches the ON CONFLICT contract") {
    val sql = Upsert.upsertSql("sales",
      Seq("sale_id", "sale_date", "amount"), "sale_id")
    assert(sql.contains("INSERT INTO sales (sale_id, sale_date, amount)"))
    assert(sql.contains("VALUES (?, ?, ?)"))
    assert(sql.contains("ON CONFLICT (sale_id) DO UPDATE"))
    assert(sql.contains("sale_date = EXCLUDED.sale_date"))
    assert(sql.contains("amount = EXCLUDED.amount"))
    assert(!sql.contains("sale_id = EXCLUDED.sale_id")) // key not updated
    intercept[IllegalArgumentException] {
      Upsert.upsertSql("t", Seq("a", "b"), "missing")
    }
  }

  test("batching: chunks of batchSize, exact row count, no empty batch") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val n = Upsert.batched((1 to 2500).iterator, 1000) { chunk =>
      seen += chunk.size
    }
    assert(n == 2500)
    assert(seen.toSeq == Seq(1000, 1000, 500))
    assert(Upsert.batched(Iterator.empty[Int], 1000)(_ => fail()) == 0)
  }

  test("audit upsert SQL keys on file_key and updates status columns") {
    val sql = AuditLog.auditUpsertSql
    assert(sql.contains("ON CONFLICT (file_key) DO UPDATE"))
    assert(sql.contains("status = EXCLUDED.status"))
  }

  test("in-memory audit sink keeps latest per key plus full history") {
    import graft.ingest.Schemas.AuditEntry
    val sink = new AuditLog.InMemorySink
    sink.log(AuditEntry("f1", "b", "validated", None, None))
    sink.log(AuditEntry("f1", "b", "processed", Some(10L), None))
    assert(sink.current("f1").status == "processed")
    assert(sink.history.map(_.status) == Seq("validated", "processed"))
  }

  // ------------------------------------------------------------ router e2e
  private def writeFile(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  private val goodCsv =
    " Sale_ID ,SALE_DATE,customer_id,product_id,quantity,amount\n" +
    "g1,2024-01-02 03:04:05,CUST-1,PROD-1,2,20.50\n" +
    "g2,2024-01-03 00:00:00,CUST-2,PROD-2,1,5.00\n" +
    "g2,2024-01-04 00:00:00,CUST-2,PROD-2,3,7.50\n" // dup key, later date wins

  test("e2e smoke: adversarial drop routes, audits, and loads correctly") {
    val base = Files.createTempDirectory("graft-bucket")
    val incoming = base.resolve("incoming")
    Files.createDirectories(incoming)
    writeFile(incoming, "good.csv", goodCsv)
    writeFile(incoming, "missing_col.csv",
      "sale_id,sale_date,customer_id,product_id,quantity\nm1,2024-01-01,c,p,1\n")
    writeFile(incoming, "bad_dates.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "b1,never-a-date,c,p,1,1\n")
    writeFile(incoming, "records.ndjson",
      """{"sale_id":"j1","sale_date":"2024-02-01 00:00:00","customer_id":"c","product_id":"p","quantity":"4","amount":"8.25"}""" + "\n")
    writeFile(incoming, "array.json",
      """[{"sale_id":"a1","sale_date":"2024-03-01 00:00:00","customer_id":"c","product_id":"p","quantity":2,"amount":3.5}]""")

    val bucket = Router.Bucket(base.toString)
    val audit = new AuditLog.InMemorySink
    val loadedRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val report = Router.runBatch(spark, bucket, audit,
      df => { val n = df.count(); loadedRows += n; n })

    // routing: valid files loaded, invalid quarantined
    assert(report.byStatus("loaded").toSet ==
      Set("good.csv", "records.ndjson", "array.json"))
    assert(report.byStatus("validation_failed").toSet ==
      Set("missing_col.csv", "bad_dates.csv"))
    // good.csv: 3 rows, dedup → 2
    assert(report.outcomes.find(_.key == "good.csv").get.rows == 2)
    assert(report.totalLoaded == 4)

    // physical moves (the quarantine/archive convention)
    def names(p: Path): Set[String] =
      if (!Files.exists(p)) Set.empty
      else { val s = Files.list(p); try s.map[String](_.getFileName.toString).toArray.map(_.toString).toSet finally s.close() }
    assert(names(base.resolve("incoming")).isEmpty)
    assert(names(base.resolve("processed")) ==
      Set("good.csv", "records.ndjson", "array.json"))
    assert(names(base.resolve("failed/validation_failed")) ==
      Set("missing_col.csv", "bad_dates.csv"))

    // audit state machine: full lifecycle for a good file
    assert(audit.history.filter(_.file_key == "good.csv").map(_.status) ==
      Seq("validated", "processed", "loaded"))
    assert(audit.current("missing_col.csv").status == "validation_failed")
    assert(audit.current("missing_col.csv").error.get.contains("amount"))
  }

  test("e2e: load failure quarantines to loading_failed with load_failed status") {
    val base = Files.createTempDirectory("graft-bucket2")
    val incoming = base.resolve("incoming")
    Files.createDirectories(incoming)
    writeFile(incoming, "good.csv", goodCsv)
    val audit = new AuditLog.InMemorySink
    val report = Router.runBatch(spark, Router.Bucket(base.toString), audit,
      _ => throw new RuntimeException("warehouse down"))
    assert(report.byStatus("load_failed") == Seq("good.csv"))
    assert(Files.exists(base.resolve("failed/loading_failed/good.csv")))
    assert(audit.history.filter(_.file_key == "good.csv").map(_.status) ==
      Seq("validated", "processed", "load_failed"))
    assert(audit.current("good.csv").error.get.contains("warehouse down"))
  }

  // ------------------------------------------------------------ streaming
  test("streaming drain: checkpoint skips already-processed files across runs") {
    val base = Files.createTempDirectory("graft-stream")
    val incoming = base.resolve("incoming"); Files.createDirectories(incoming)
    val bucket = Router.Bucket(base.toString)
    val ckpt = base.resolve("ckpt").toString
    val audit = new AuditLog.InMemorySink

    writeFile(incoming, "first.csv", goodCsv)
    val r1 = Stream.drain(spark, bucket, ckpt, audit, _.count())
    assert(r1.totalLoaded == 2) // 3 rows, dedup → 2
    assert(Files.exists(base.resolve("processed/first.csv")))

    // second drain: the NEW file loads; the same name dropped again is a
    // path the checkpoint has seen, so it is skipped and stays put (T4)
    writeFile(incoming, "first.csv", goodCsv)
    writeFile(incoming, "second.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "n1,2024-05-01 00:00:00,c,p,1,1.0\n")
    val r2 = Stream.drain(spark, bucket, ckpt, audit, _.count())
    assert(r2.outcomes.map(_.key) == Seq("second.csv"))
    assert(r2.totalLoaded == 1)
    assert(Files.exists(incoming.resolve("first.csv")))
  }

  test("streaming quarantine-on-sink-failure keeps the raw batch replayable") {
    val base = Files.createTempDirectory("graft-stream2")
    val incoming = base.resolve("incoming"); Files.createDirectories(incoming)
    writeFile(incoming, "x.csv", goodCsv)
    val bucket = Router.Bucket(base.toString)
    val ckpt = base.resolve("ckpt").toString
    val audit = new AuditLog.InMemorySink
    val r = Stream.drain(spark, bucket, ckpt, audit,
      _ => throw new RuntimeException("sink down"))
    assert(r.byStatus("load_failed") == Seq("x.csv"))
    assert(audit.history.map(_.status) == Seq("validated", "processed", "load_failed"))
    assert(audit.current("x.csv").error.get.contains("sink down"))
    // the raw file waits in failed/loading_failed/, byte for byte
    val failed = base.resolve("failed/loading_failed/x.csv")
    assert(Files.readString(failed) == goodCsv)
    assert(!Files.exists(incoming.resolve("x.csv")))

    // replay: requeue it under a fresh name, then drain into a working sink
    val requeued = Stream.requeueQuarantined(spark, failed.toString, incoming.toString)
    assert(requeued.endsWith("x.retry1.csv"))
    val again = Stream.drain(spark, bucket, ckpt, audit, _.count())
    assert(again.outcomes == Seq(Router.FileOutcome("x.retry1.csv", "loaded", 2L, None)))
  }

  test("streaming drain: a batch replayed after a crash skips the files it already routed") {
    val base = Files.createTempDirectory("graft-stream4")
    val incoming = base.resolve("incoming"); Files.createDirectories(incoming)
    val bucket = Router.Bucket(base.toString)
    val ckpt = base.resolve("ckpt")
    val audit = new AuditLog.InMemorySink
    writeFile(incoming, "a.csv", goodCsv)
    assert(Stream.drain(spark, bucket, ckpt.toString, audit, _.count()).totalLoaded == 2)
    // the driver died after routing batch 0 but before committing it
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(ckpt.resolve("commits").resolve(f)))
    writeFile(incoming, "b.csv", goodCsv)
    val r = Stream.drain(spark, bucket, ckpt.toString, audit, _.count())
    assert(r.outcomes == Seq(Router.FileOutcome("b.csv", "loaded", 2L, None)))
    assert(audit.history.filter(_.file_key == "a.csv").map(_.status) ==
      Seq("validated", "processed", "loaded"))
  }

  test("streaming drain handles NDJSON sources") {
    val base = Files.createTempDirectory("graft-stream3")
    val incoming = base.resolve("incoming"); Files.createDirectories(incoming)
    writeFile(incoming, "r.ndjson",
      """{"sale_id":"j1","sale_date":"2024-02-01 00:00:00","customer_id":"c","product_id":"p","quantity":"4","amount":"8.25"}""" + "\n" +
      """{"sale_id":"j2","sale_date":"bad","customer_id":"nan","product_id":"p","quantity":"x","amount":""}""" + "\n")
    val loaded = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    val r = Stream.drain(spark, Router.Bucket(base.toString),
      base.resolve("ckpt").toString, new AuditLog.InMemorySink,
      df => { loaded += df.orderBy("sale_id").collect(); loaded.last.length.toLong })
    assert(r.totalLoaded == 2)
    val rows = loaded.flatten
    assert(rows.find(_.getString(0) == "j2").get.getAs[Int]("quantity") == 1)
    assert(rows.find(_.getString(0) == "j2").get.getAs[Double]("amount") == 0.0)
  }

  test("pandas-parity date forms: datetime, date-only, ISO-T all parse; junk nulls") {
    import spark.implicits._
    val out = Seq("2024-01-02 03:04:05", "2024-01-02", "2024-01-02T03:04:05",
      "02/01/2024", "never").toDF("s")
      .select(expr("try_to_timestamp(s)").as("ts")).collect().map(_.isNullAt(0))
    // Spark's default parser accepts the reference generator's format
    // (yyyy-MM-dd HH:mm:ss — SURVEY §7.3b pins it canonical), date-only,
    // and ISO-T; locale-ambiguous and junk forms coerce to NULL like
    // pandas errors="coerce" (pandas would parse 02/01/2024 — documented
    // permissiveness delta).
    assert(out.toSeq == Seq(false, false, false, true, true))
  }

  test("format sweep stream drains a mixed drop zone exactly once, quarantining corrupt files") {
    import SparkTestSession.spark.implicits._
    val base = Files.createTempDirectory("graft-sweep")
    val incoming = base.resolve("incoming"); Files.createDirectories(incoming)
    val header = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
    writeFile(incoming, "a.csv", header + "s1,2024-01-02 03:04:05,c,p,1,2.0\n")
    // ARRAY-form JSON — a json file source cannot parse it beside NDJSON
    writeFile(incoming, "b.json",
      """[
        |  {"sale_id":"s2","sale_date":"2024-01-03 00:00:00","customer_id":"c","product_id":"p","quantity":"1","amount":"3.0"},
        |  {"sale_id":"s3","sale_date":"2024-01-04 00:00:00","customer_id":"c","product_id":"p","quantity":"2","amount":"4.0"}
        |]""".stripMargin)
    writeFile(incoming, "c.ndjson",
      """{"sale_id":"s4","sale_date":"2024-01-05 00:00:00","customer_id":"c","product_id":"p","quantity":"1","amount":"5.0"}""" + "\n")
    // extensionless parquet — only magic-byte detection can classify it
    val pqDir = base.resolve("pq")
    Seq(("s5", "2024-01-06 00:00:00", "c", "p", "1", "6.0"))
      .toDF("sale_id", "sale_date", "customer_id", "product_id", "quantity", "amount")
      .coalesce(1).write.parquet(pqDir.toString)
    val part = Files.list(pqDir).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, incoming.resolve("blob_noext"))
    // a file that cannot be read must quarantine loudly, not wedge the query
    writeFile(incoming, "corrupt.parquet", "this is not parquet")

    val bucket = Router.Bucket(base.toString)
    val ckpt = base.resolve("ckpt").toString
    val audit = new AuditLog.InMemorySink
    val loaded = scala.collection.mutable.ArrayBuffer.empty[String]
    val load = (df: DataFrame) => {
      val ids = df.select("sale_id").collect().map(_.getString(0))
      loaded ++= ids; ids.length.toLong
    }
    val results = Stream.drain(spark, bucket, ckpt, audit, load)

    assert(results.outcomes.length == 5)
    assert(results.byStatus("validation_failed") == Seq("corrupt.parquet"))
    assert(audit.current("corrupt.parquet").error.get.startsWith("Parquet parse error"))
    assert(loaded.sorted.toSeq == Seq("s1", "s2", "s3", "s4", "s5"))
    val quarantined = base.resolve("failed/validation_failed/corrupt.parquet")
    assert(Files.exists(quarantined))
    assert(!Files.exists(incoming.resolve("corrupt.parquet")))

    // exactly-once: a re-run over the same checkpoint re-processes nothing
    val again = Stream.drain(spark, bucket, ckpt, audit, load)
    assert(again.outcomes.isEmpty)
    assert(loaded.length == 5)

    // repair + requeue: fixing the file in place under its ORIGINAL name
    // would be skipped forever (checkpoint dedups on path); the requeue
    // helper moves it back under a fresh retry-suffixed name that the
    // checkpoint has never seen, so the next drain picks it up.
    val fixedCsv = quarantined.resolveSibling("corrupt.csv")
    Files.write(fixedCsv, (header + "s6,2024-01-07 00:00:00,c,p,1,7.0\n").getBytes)
    Files.delete(quarantined)
    val requeued = Stream.requeueQuarantined(spark, fixedCsv.toString,
      incoming.toString)
    assert(requeued.endsWith("corrupt.retry1.csv"))
    val third = Stream.drain(spark, bucket, ckpt, audit, load)
    assert(third.outcomes == Seq(
      Router.FileOutcome("corrupt.retry1.csv", "loaded", 1L, None)))
    assert(loaded.sorted.toSeq == Seq("s1", "s2", "s3", "s4", "s5", "s6"))
  }

  test("streaming dedup drops same-key re-arrivals within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sc = spark.sqlContext
    import SparkTestSession.spark.implicits._
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val in = mem.toDF().toDF("sale_id", "sale_date", "amount")
    val q = Stream.dedupStream(in, "sale_date")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
      mem.addData(("a", t, 1.0), ("a", t, 2.0), ("b", t, 3.0))
      q.processAllAvailable()
      // replay across batches: same key+time AND same key with a DIFFERENT
      // event time — per-key dedup must drop both within the watermark
      mem.addData(("a", t, 4.0), ("a", t2, 5.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 2) // one per key
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("streaming tumbling window equals the batch hourly rollup on events") {
    import SparkTestSession.sfDir
    val events = graft.queries.Kpis.eventsTable(spark, sfDir)
    val windowed = Stream.tumblingHourly(events)
      .orderBy("hour", "event_type").collect()
    val batch = graft.queries.Kpis.q13EventsHourly(spark, sfDir)
      .select("hour", "event_type", "n_events").collect()
    assert(windowed.length == batch.length)
    assert(windowed.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sameElements(batch.map(r => (r.getString(0), r.getString(1), r.getLong(2)))))
  }
}
