package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.BusDrain
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Router
import graft.sink.{AuditLog, Upsert}

/** `Router.runBatch` per drop-zone format and on its failure paths: a
  * truncated file, hidden and in-flight names, magic-byte detection, the
  * audited row count, a load failure followed by a re-drop, and the Spark
  * jobs each valid file costs before its load. */
class RouterSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val header = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"

  // five rows: three keys (the second twice; its later date wins) and a null key
  private def csvRows(p: String): String = header +
    s"${p}1,2024-01-01 00:00:00,c,p,1,1.5\n" +
    s"${p}2,2024-01-02 00:00:00,c,p,2,2.5\n" +
    s"${p}2,2024-01-03 00:00:00,c,p,3,3.5\n" +
    s"nan,2024-01-04 00:00:00,c,p,4,4.5\n" +
    s"${p}3,2024-01-05 00:00:00,c,p,5,5.5\n"

  private def jsonRecords(p: String): Seq[String] = Seq(
    (s"${p}1", "2024-01-01 00:00:00", "1"), (s"${p}2", "2024-01-02 00:00:00", "2"),
    (s"${p}2", "2024-01-03 00:00:00", "3"), (s"${p}3", "2024-01-05 00:00:00", "5"))
    .map { case (id, d, q) =>
      s"""{"sale_id":"$id","sale_date":"$d","customer_id":"c","product_id":"p","quantity":"$q","amount":"$q.5"}"""
    }

  /** One single-file parquet part with the same rows as [[csvRows]]. */
  private def parquetBytes(p: String): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-router-pq").resolve("out")
    Seq((s"${p}1", "2024-01-01 00:00:00", 1, 1.5), (s"${p}2", "2024-01-02 00:00:00", 2, 2.5),
      (s"${p}2", "2024-01-03 00:00:00", 3, 3.5), (s"${p}3", "2024-01-05 00:00:00", 5, 5.5))
      .toDF("sale_id", "sale_date", "quantity", "amount")
      .selectExpr("sale_id", "sale_date", "'c' AS customer_id", "'p' AS product_id",
        "quantity", "amount")
      .coalesce(1).write.parquet(dir.toString)
    val s = Files.list(dir)
    try Files.readAllBytes(
      s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
    finally s.close()
  }

  /** One file per drop-zone format; its name's first letter prefixes its keys. */
  private lazy val formats: Seq[(String, Array[Byte])] = Seq(
    "a.csv" -> csvRows("a").getBytes,
    "b_noext" -> csvRows("b").getBytes,
    "c.ndjson" -> jsonRecords("c").mkString("", "\n", "\n").getBytes,
    "d.json" -> jsonRecords("d").mkString("[\n", ",\n", "\n]").getBytes,
    "e.parquet" -> parquetBytes("e"),
    "f_noext" -> parquetBytes("f"))

  private def zone(files: (String, Array[Byte])*): Path = {
    val base = Files.createTempDirectory("graft-router")
    val incoming = Files.createDirectories(base.resolve("incoming"))
    files.foreach { case (n, b) => Files.write(incoming.resolve(n), b) }
    base
  }

  private def files(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet finally s.close()
    }

  test("a truncated parquet file fails validation with a parquet parse error") {
    val pq = parquetBytes("t")
    val base = zone("cut.parquet" -> pq.take(pq.length / 2))
    val audit = new AuditLog.InMemorySink
    val report = Router.runBatch(spark, Router.Bucket(base.toString), audit, _.count())
    val o = report.outcomes.single
    assert(o.status == "validation_failed")
    assert(o.error.exists(_.startsWith("Parquet parse error")), o.error)
    assert(audit.history.map(_.status) == Seq("validation_failed"))
    assert(files(base.resolve("failed/validation_failed")) == Set("cut.parquet"))
    assert(files(base.resolve("incoming")).isEmpty)
  }

  test("hidden and in-flight files stay in incoming/ untouched while a sibling CSV loads") {
    // a hidden file, a half-copied `hadoop fs -put` and an `_`-prefixed
    // file: the names Spark's file source skips
    val skipped = Seq(".draft.csv" -> csvRows("d").getBytes,
      "b.csv._COPYING_" -> csvRows("b").take(40).getBytes,
      "_c.csv" -> csvRows("c").getBytes)
    val base = zone(("a.csv" -> csvRows("a").getBytes) +: skipped: _*)
    val audit = new AuditLog.InMemorySink
    val report = Router.runBatch(spark, Router.Bucket(base.toString), audit, _.count())
    assert(report.outcomes.map(o => o.key -> o.status) == Seq("a.csv" -> "loaded"))
    assert(audit.history.map(_.file_key).toSet == Set("a.csv"))
    assert(files(base.resolve("incoming")) == skipped.map(_._1).toSet)
    skipped.foreach { case (n, bytes) =>
      assert(Files.readAllBytes(base.resolve("incoming").resolve(n)).sameElements(bytes), n)
    }
  }

  test("every format loads, extensionless ones by magic bytes, and the " +
      "processed audit row carries the deduplicated count") {
    val base = zone(formats: _*)
    val audit = new AuditLog.InMemorySink
    val loaded = scala.collection.mutable.Map.empty[String, Seq[(String, Int)]]
    val report = Router.runBatch(spark, Router.Bucket(base.toString), audit, df => {
      val rows = df.select("sale_id", "quantity").as[(String, Int)].collect().toSeq
      loaded(rows.head._1.take(1)) = rows.sortBy(_._1)
      rows.length.toLong
    })
    val names = formats.map(_._1).toSet
    assert(report.byStatus("loaded").toSet == names, report.outcomes)
    assert(files(base.resolve("processed")) == names)
    // three keys survive per file; the second keeps its later row (quantity 3)
    "abcdef".foreach { p =>
      assert(loaded(p.toString) == Seq((s"${p}1", 1), (s"${p}2", 3), (s"${p}3", 5)), p)
    }
    names.foreach { n =>
      val h = audit.history.filter(_.file_key == n)
      assert(h.map(_.status) == Seq("validated", "processed", "loaded"), n)
      assert(h(1).rows_processed.contains(3L), n)
      assert(h(2).rows_processed.contains(3L), n)
    }
  }

  test("a load failure, re-dropped and re-run, converges to the warehouse " +
      "state of a clean run with one audit row per stage per run") {
    val url = "jdbc:derby:memory:graftRouter;create=true"
    def sql[A](f: java.sql.Statement => A): A = {
      val c = DriverManager.getConnection(url)
      try f(c.createStatement()) finally c.close()
    }
    Seq("sales_retry", "sales_clean").foreach(t => sql(_.execute(
      s"""CREATE TABLE $t (sale_id VARCHAR(32) PRIMARY KEY, sale_date TIMESTAMP,
         |customer_id VARCHAR(32), product_id VARCHAR(32), quantity INT,
         |amount DOUBLE)""".stripMargin)))
    def upsert(table: String): DataFrame => Long = df =>
      Upsert.upsert(df.coalesce(1), url, new Properties(), table, "sale_id",
        sqlOverride = Some(
          s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 s
             |ON t.sale_id = CAST(? AS VARCHAR(32))
             |WHEN MATCHED THEN UPDATE SET sale_date = CAST(? AS TIMESTAMP),
             |  customer_id = CAST(? AS VARCHAR(32)), product_id = CAST(? AS VARCHAR(32)),
             |  quantity = CAST(? AS INT), amount = CAST(? AS DOUBLE)
             |WHEN NOT MATCHED THEN INSERT
             |  (sale_id, sale_date, customer_id, product_id, quantity, amount)
             |  VALUES (CAST(? AS VARCHAR(32)), CAST(? AS TIMESTAMP),
             |    CAST(? AS VARCHAR(32)), CAST(? AS VARCHAR(32)), CAST(? AS INT),
             |    CAST(? AS DOUBLE))""".stripMargin),
        paramOrder = Some((0 until 6) ++ (0 until 6)))
    def state(table: String): Seq[String] = sql { st =>
      val rs = st.executeQuery(s"SELECT * FROM $table ORDER BY sale_id")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) out += (1 to 6).map(i => String.valueOf(rs.getObject(i))).mkString(",")
      out.toSeq
    }

    val base = zone("r.csv" -> csvRows("r").getBytes)
    val bucket = Router.Bucket(base.toString)
    val audit = new AuditLog.InMemorySink
    // the write commits, then the acknowledgement is lost
    val first = Router.runBatch(spark, bucket, audit, df => {
      upsert("sales_retry")(df); throw new java.io.IOException("ack lost")
    })
    assert(first.outcomes.single.status == "load_failed")
    assert(files(base.resolve("failed/loading_failed")) == Set("r.csv"))
    Files.move(base.resolve("failed/loading_failed/r.csv"),
      base.resolve("incoming/r.csv"))
    val second = Router.runBatch(spark, bucket, audit, upsert("sales_retry"))
    assert(second.outcomes.single == Router.FileOutcome("r.csv", "loaded", 3L, None))
    assert(files(base.resolve("processed")) == Set("r.csv"))
    assert(audit.history.map(_.status) == Seq(
      "validated", "processed", "load_failed",
      "validated", "processed", "loaded"))

    val clean = zone("r.csv" -> csvRows("r").getBytes)
    Router.runBatch(spark, Router.Bucket(clean.toString), new AuditLog.InMemorySink,
      upsert("sales_clean"))
    assert(state("sales_retry").length == 3)
    assert(state("sales_retry") == state("sales_clean"))
  }

  test("each valid file costs at most its measured Spark jobs before the load") {
    // jobs from the start of runBatch to the load call, per format: the
    // read's schema job (CSV header, JSON inference, parquet footer), the
    // sampled probe (CSV dates, NDJSON keys), and the counted checkpoint's
    // shuffle-map and result jobs
    val budget = Map("a.csv" -> 4, "b_noext" -> 4, "c.ndjson" -> 4,
      "d.json" -> 3, "e.parquet" -> 3, "f_noext" -> 3)
    val sc = spark.sparkContext
    val tag = "graft.routerSpec"
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null) {
          jobs.incrementAndGet(); ()
        }
    }
    BusDrain(sc)
    sc.addSparkListener(counter)
    sc.setLocalProperty(tag, "on")
    try formats.foreach { case (name, bytes) =>
      val base = zone(name -> bytes)
      var beforeLoad = -1
      BusDrain(sc)
      jobs.set(0)
      val report = Router.runBatch(spark, Router.Bucket(base.toString),
        new AuditLog.InMemorySink, df => {
          BusDrain(sc); beforeLoad = jobs.get; df.collect().length.toLong
        })
      assert(report.outcomes.single.status == "loaded", name)
      assert(beforeLoad >= 1 && beforeLoad <= budget(name),
        s"$name ran $beforeLoad jobs before its load, budget ${budget(name)}")
    } finally {
      sc.setLocalProperty(tag, null)
      BusDrain(sc)
      sc.removeSparkListener(counter)
    }
  }

  private implicit class Single[A](xs: Seq[A]) {
    def single: A = { assert(xs.length == 1, xs); xs.head }
  }
}
