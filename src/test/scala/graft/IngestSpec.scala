package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Clean, Detect, Readers, Schemas, Validate}

/** Unit suite for the ingest half (SURVEY §2.1-§2.4, FIXTURES.md §A):
  * format detection, all-string readers, validators, cleaning coercions,
  * dedup keep-latest. */
class IngestSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-ingest")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  // ------------------------------------------------------------ detection
  test("format detection: extensions, magic bytes, csv default") {
    assert(Detect.detectFormat("a/b/sales.CSV", Array.emptyByteArray) == "csv")
    assert(Detect.detectFormat("x.json", Array.emptyByteArray) == "json")
    assert(Detect.detectFormat("x.ndjson", Array.emptyByteArray) == "json")
    assert(Detect.detectFormat("x.PARQUET", Array.emptyByteArray) == "parquet")
    assert(Detect.detectFormat("noext", "PAR1".getBytes) == "parquet")
    assert(Detect.detectFormat("noext", "PK".getBytes) == "parquet")
    assert(Detect.detectFormat("noext", "sale_id,amount".getBytes) == "csv")
    assert(Detect.detectFormat("noext", Array.emptyByteArray) == "csv")
  }

  test("format detection reads magic bytes from disk for extensionless files") {
    val p = tmpFile("noext", "PAR1junk")
    assert(Detect.forPath(p) == "parquet")
    val c = tmpFile("noext2", "sale_id,sale_date\nx,y\n")
    assert(Detect.forPath(c) == "csv")
  }

  // ------------------------------------------------------------ readers
  test("csv reader: all-string schema, mixed-case headers normalized") {
    val p = tmpFile("good.csv",
      " Sale_ID ,SALE_DATE,customer_id,Product_Id,QUANTITY,Amount\n" +
      "s1,2024-01-02 03:04:05,CUST-1,PROD-1,2,20.50\n")
    val df = Readers.readCsv(spark, p)
    assert(df.columns.toSeq == Schemas.required)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 1)
  }

  test("json reader handles both array form and ndjson, primitives as strings") {
    val arr = tmpFile("array.json",
      """[{"sale_id":"a","quantity":3},{"sale_id":"b","quantity":4}]""")
    val nd = tmpFile("records.ndjson",
      "{\"sale_id\":\"a\",\"quantity\":3}\n{\"sale_id\":\"b\",\"quantity\":4}\n")
    val dfa = Readers.readJson(spark, arr, Readers.isJsonArray(spark, arr))
    val dfn = Readers.readJson(spark, nd, Readers.isJsonArray(spark, nd))
    assert(dfa.count() == 2 && dfn.count() == 2)
    assert(dfa.schema("quantity").dataType.typeName == "string")
    assert(dfn.schema("quantity").dataType.typeName == "string")
  }

  test("parquet reader stringifies and round-trips values") {
    val dir = Files.createTempDirectory("graft-pq").resolve("good.parquet")
    import spark.implicits._
    Seq(("s1", "2024-01-02 03:04:05", "CUST-1", "PROD-1", 2, 20.5))
      .toDF("Sale_ID", "sale_date", "customer_id", "product_id", "quantity", "amount")
      .write.parquet(dir.toString)
    val df = Readers.readParquet(spark, dir.toString)
    assert(df.columns.contains("sale_id"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val r = df.head()
    assert(r.getAs[String]("quantity") == "2")
    assert(r.getAs[String]("amount") == "20.5")
  }

  // ------------------------------------------------------------ validators
  test("validate csv: happy path with mixed-case headers") {
    val p = tmpFile("good.csv",
      " Sale_ID ,SALE_DATE,customer_id,product_id,quantity,amount\n" +
      "s1,2024-01-02 03:04:05,c,p,1,2.0\n")
    assert(Validate.validateCsv(spark, p) == (true, ""))
  }

  test("validate csv: missing column fails with named columns") {
    val p = tmpFile("missing_col.csv",
      "sale_id,sale_date,customer_id,product_id,quantity\ns1,2024-01-01,c,p,1\n")
    val (ok, msg) = Validate.validateCsv(spark, p)
    assert(!ok && msg.contains("amount"))
  }

  test("validate csv: bad date in first 50 rows fails the file") {
    val p = tmpFile("bad_dates.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "s1,definitely-not-a-date,c,p,1,2.0\n")
    val (ok, msg) = Validate.validateCsv(spark, p)
    assert(!ok && msg.contains("sale_date parse issue"))
  }

  test("validate json: per-record key check fails on one incomplete record") {
    val p = tmpFile("records.ndjson",
      """{"sale_id":"a","sale_date":"2024-01-01","customer_id":"c","product_id":"p","quantity":"1","amount":"2"}""" +
      "\n" + """{"sale_id":"b","sale_date":"2024-01-01"}""" + "\n")
    val (ok, msg) = Validate.validateJson(spark, p)
    assert(!ok && msg.contains("Missing columns"))
  }

  test("validate json: array form with all keys passes") {
    val p = tmpFile("array.json",
      """[{"Sale_ID":"a","sale_date":"2024-01-01","customer_id":"c","product_id":"p","quantity":"1","amount":"2"}]""")
    assert(Validate.validateJson(spark, p) == (true, ""))
  }

  test("validate parquet: metadata-only column check") {
    val dir = Files.createTempDirectory("graft-pqv")
    import spark.implicits._
    Seq(("s1", "d")).toDF("sale_id", "sale_date")
      .write.parquet(dir.resolve("bad.parquet").toString)
    val (ok, msg) = Validate.validateParquet(spark, dir.resolve("bad.parquet").toString)
    assert(!ok && msg.contains("Missing required columns"))
  }

  test("validate dispatch returns structured verdicts") {
    val good = tmpFile("good.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\ns1,2024-01-01,c,p,1,2\n")
    val v = Validate.validate(spark, good)
    assert(v.valid && v.error.isEmpty)
  }

  // ------------------------------------------------------------ cleaning
  private def cleanOf(csv: String): Array[Row] = {
    val p = tmpFile("in.csv", csv)
    Clean.cleanSales(Readers.readCsv(spark, p)).orderBy("sale_id").collect()
  }

  test("clean: trim, nan→NULL, defaults, parse-or-NULL date") {
    val rows = cleanOf(
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "s1,2024-01-02 03:04:05,  CUST-1  ,nan,notanum,xyz\n" +
      "s2,not-a-date,CUST-2,PROD-2,,\n")
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[String]("customer_id") == "CUST-1") // trimmed
    assert(r1.getAs[String]("product_id") == null)      // "nan" → NULL
    assert(r1.getAs[Int]("quantity") == 1)              // bad → default 1
    assert(r1.getAs[Double]("amount") == 0.0)           // bad → default 0.0
    assert(r1.getAs[Timestamp]("sale_date") ==
      Timestamp.valueOf("2024-01-02 03:04:05"))
    val r2 = rows(1)
    assert(r2.getAs[Timestamp]("sale_date") == null)    // parse-or-NULL
    assert(r2.getAs[Int]("quantity") == 1)              // missing → 1
    assert(r2.getAs[Double]("amount") == 0.0)           // missing → 0.0
  }

  test("clean: quantity '2.5' truncates to 2 (pandas astype(int) parity)") {
    val rows = cleanOf(
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "s1,2024-01-01 00:00:00,c,p,2.5,9.99\n")
    assert(rows.head.getAs[Int]("quantity") == 2)
    assert(rows.head.getAs[Double]("amount") == 9.99)
  }

  test("clean: rows with NULL/'nan' sale_id dropped; empty-string kept") {
    val rows = cleanOf(
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      ",2024-01-01 00:00:00,c,p,1,1\n" +          // empty cell → NULL → drop
      "nan,2024-01-01 00:00:00,c,p,1,1\n" +       // "nan" → NULL → drop
      "s9,2024-01-01 00:00:00,c,p,1,1\n")
    assert(rows.map(_.getAs[String]("sale_id")).toSeq == Seq("s9"))
  }

  test("clean: missing columns added as NULL, extras dropped, order fixed") {
    val p = tmpFile("odd.csv", "sale_id,extra_col\ns1,whatever\n")
    val out = Clean.cleanSales(Readers.readCsv(spark, p))
    assert(out.columns.toSeq == Schemas.required)
    val r = out.head()
    assert(r.getAs[Timestamp]("sale_date") == null)
    assert(r.getAs[Int]("quantity") == 1)
    assert(r.getAs[Double]("amount") == 0.0)
  }

  // ------------------------------------------------------------ dedup
  test("dedup: keep latest sale_date per key; NULL dates lose; ties break by ingest order") {
    val rows = cleanOf(
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "a,2024-01-05 00:00:00,first,p,1,1\n" +
      "a,2024-01-09 00:00:00,winner,p,1,1\n" +
      "a,not-a-date,nulldate,p,1,1\n" +
      "b,2024-02-01 00:00:00,tie1,p,1,1\n" +
      "b,2024-02-01 00:00:00,tie2-wins,p,1,1\n" +
      "c,bad,only-null,p,1,1\n")
    assert(rows.length == 3)
    val byId = rows.map(r => r.getAs[String]("sale_id") -> r.getAs[String]("customer_id")).toMap
    assert(byId("a") == "winner")      // max date wins, NULL loses
    assert(byId("b") == "tie2-wins")   // tie → last ingest order wins
    assert(byId("c") == "only-null")   // all-NULL key still keeps one row
  }

  test("dedup properties: unique keys, kept date is the max per group") {
    val p = tmpFile("dups.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      (1 to 200).map { i =>
        val k = s"k${i % 37}"
        f"$k,2024-01-${i % 28 + 1}%02d 00:00:00,c$i,p,1,1"
      }.mkString("\n") + "\n")
    val raw = Clean.coerce(Clean.ensureRequired(
      Clean.withIngestOrder(Readers.readCsv(spark, p))))
    val deduped = Clean.dedupLatest(raw)
    val n = deduped.count()
    assert(n == deduped.select("sale_id").distinct().count())
    // each kept row carries its group's max date
    val maxes = raw.groupBy("sale_id")
      .agg(org.apache.spark.sql.functions.max("sale_date").as("mx"))
    val joined = deduped.join(maxes, "sale_id")
      .filter(org.apache.spark.sql.functions.col("sale_date") =!=
        org.apache.spark.sql.functions.col("mx"))
    assert(joined.count() == 0)
  }

  test("typed clean: Dataset[Sale] round-trip with compile-time fields") {
    val p = tmpFile("typed.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "t1,2024-01-02 03:04:05,CUST-1,PROD-1,2,20.50\n")
    val ds = Clean.cleanSalesTyped(Readers.readCsv(spark, p))
    val s = ds.collect().head
    assert(s.sale_id == "t1" && s.quantity == 2 && s.amount == 20.50)
    assert(s.sale_date == Timestamp.valueOf("2024-01-02 03:04:05"))
  }

  test("edge inputs: empty file, header-only file, zero-byte detection") {
    // zero-byte extensionless file → default csv, validation fails cleanly
    val empty = tmpFile("noext3", "")
    assert(Detect.forPath(empty) == "csv")
    val (ok1, _) = Validate.validateCsv(spark, empty)
    assert(!ok1)
    // header-only CSV: validates (columns present, no dates to probe),
    // cleans to zero rows
    val hdr = tmpFile("hdr.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n")
    assert(Validate.validateCsv(spark, hdr) == (true, ""))
    assert(Clean.cleanSales(Readers.readCsv(spark, hdr)).count() == 0)
  }

  test("observed clean reports input and dropped-null-key counts in one pass") {
    val p = tmpFile("obs.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      ",2024-01-01 00:00:00,c,p,1,1\n" +
      "nan,2024-01-01 00:00:00,c,p,1,1\n" +
      "s1,2024-01-01 00:00:00,c,p,1,1\n" +
      "s1,2024-01-02 00:00:00,c,p,1,1\n")
    val obs = new org.apache.spark.sql.Observation("clean_stats")
    val out = Clean.cleanSalesObserved(Readers.readCsv(spark, p), obs)
    assert(out.count() == 1) // one surviving key after dedup
    val m = obs.get
    assert(m("rows_in") == 4L)
    assert(m("rows_null_key") == 2L) // empty cell + "nan"
  }

  test("clean is idempotent on its own output") {
    val p = tmpFile("in.csv",
      "sale_id,sale_date,customer_id,product_id,quantity,amount\n" +
      "s1,2024-01-02 03:04:05, c ,nan,2.5,bad\n" +
      "s1,2024-01-03 00:00:00,c2,p2,1,5.5\n")
    val once = Clean.cleanSales(Readers.readCsv(spark, p))
    val strings = once.select(once.columns.map(c =>
      org.apache.spark.sql.functions.col(c).cast("string").as(c)): _*)
    val twice = Clean.cleanSales(strings)
    assert(once.orderBy("sale_id").collect()
      .sameElements(twice.orderBy("sale_id").collect()))
  }
}
