package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubstringStore

/** The persisted substring position store: excerpt-level re-crawl
  * dedup the whole-doc fingerprint store (q94) cannot see, the append
  * round-trip, and the bucketing property (probing the bucketed table
  * plans strictly fewer exchanges than probing the same rows as plain
  * parquet). */
class SubstringStoreSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val a = (r: Range) => r.map(i => s"a$i").mkString(" ")
  private val c = (r: Range) => r.map(i => s"c$i").mkString(" ")

  test("excerpt reuse flags against the store; fresh text admits clean") {
    val base = Files.createTempDirectory("graft-substore")
    val table = "substr_store_t1"
    try {
      SubstringStore.writeStore(
        docsDf(1L -> a(1 to 40), 2L -> c(1 to 40)),
        table, base.resolve("s").toString)
      val batch = docsDf(
        // 24 verbatim tokens of doc 1 in fresh filler — q94-invisible
        101L -> ((1 to 6).map(i => s"u$i").mkString(" ") + " " +
          a(5 to 28) + " " + (1 to 6).map(i => s"v$i").mkString(" ")),
        // entirely fresh
        102L -> (1 to 30).map(i => s"w$i").mkString(" "),
        // spans from BOTH stored docs; equal lengths tie to doc 1
        103L -> (a(1 to 20) + " " + c(1 to 20)))
      val out = SubstringStore.probeStore(batch, spark.table(table))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(out(101L).getAs[Int]("is_dup") == 1)
      assert(out(101L).getAs[Long]("longest_span_tokens") == 24L)
      assert(out(101L).getAs[Long]("best_store_doc") == 1L)
      assert(out(102L).getAs[Int]("is_dup") == 0 &&
        out(102L).getAs[Long]("best_store_doc") == -1L)
      assert(out(103L).getAs[Long]("n_matched_store_docs") == 2L)
      assert(out(103L).getAs[Long]("longest_span_tokens") == 20L)
      assert(out(103L).getAs[Long]("best_store_doc") == 1L,
        "equal-length spans tie-break to the smallest store doc")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("appended documents become discoverable; append keeps verdicts stable") {
    val base = Files.createTempDirectory("graft-substore-append")
    val table = "substr_store_t2"
    try {
      SubstringStore.writeStore(docsDf(1L -> a(1 to 40)),
        table, base.resolve("s").toString)
      val probe = docsDf(300L ->
        ((1 to 4).map(i => s"p$i").mkString(" ") + " " + c(5 to 28)))
      val before = SubstringStore.probeStore(probe, spark.table(table))
        .head()
      assert(before.getAs[Int]("is_dup") == 0,
        "c-tokens unknown before the append")
      SubstringStore.appendToStore(docsDf(200L -> c(1 to 40)),
        table, base.resolve("s").toString)
      val after = SubstringStore.probeStore(probe, spark.table(table))
        .head()
      assert(after.getAs[Int]("is_dup") == 1 &&
        after.getAs[Long]("best_store_doc") == 200L,
        "the appended doc must be discoverable through the same probe")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("append is idempotent per document: a re-delivery, or one batch " +
    "carrying a document twice, changes neither the store nor the verdict") {
    val base = Files.createTempDirectory("graft-substore-idem")
    val (t1, t2) = ("substr_store_t4", "substr_store_t5")
    try {
      val doc = 200L -> c(1 to 40)
      val probe = docsDf(300L ->
        ((1 to 4).map(i => s"p$i").mkString(" ") + " " + c(5 to 28)))
      def verdict(t: String) =
        SubstringStore.probeStore(probe, spark.table(t)).head()
      SubstringStore.writeStore(docsDf(1L -> a(1 to 40)), t1,
        base.resolve("s1").toString)
      SubstringStore.appendToStore(docsDf(doc), t1,
        base.resolve("s1").toString)
      val rows = spark.table(t1).count()
      val once = verdict(t1)
      assert(once.getAs[Int]("is_dup") == 1 &&
        once.getAs[Long]("longest_span_tokens") == 24L,
        s"the appended doc must flag with its 24-token span: $once")
      SubstringStore.appendToStore(docsDf(doc), t1,
        base.resolve("s1").toString)
      assert(spark.table(t1).count() == rows,
        "a re-delivered document must not add position rows")
      assert(verdict(t1) == once, "a re-delivery must not change the verdict")

      SubstringStore.writeStore(docsDf(1L -> a(1 to 40)), t2,
        base.resolve("s2").toString)
      SubstringStore.appendToStore(docsDf(doc, doc), t2,
        base.resolve("s2").toString)
      assert(spark.table(t2).count() == rows,
        "a document twice in one batch must append its positions once")
      assert(verdict(t2) == once)
    } finally Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the bucketed store plans fewer exchanges than plain parquet") {
    val base = Files.createTempDirectory("graft-substore-plan")
    val table = "substr_store_t3"
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val store = docsDf((1L to 50L).map(i =>
        i -> (1 to 40).map(j => s"s${i}_$j").mkString(" ")): _*)
      SubstringStore.writeStore(store, table, base.resolve("s").toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = docsDf(900L -> (1 to 40).map(j => s"s7_$j").mkString(" "))
      def exchanges(storeDf: org.apache.spark.sql.DataFrame) =
        "Exchange hashpartitioning".r.findAllIn(
          SubstringStore.probeStore(batch, storeDf)
            .queryExecution.executedPlan.toString).length
      val bucketed = exchanges(spark.table(table))
      val plain = exchanges(
        spark.read.parquet(base.resolve("s").toString))
      assert(bucketed < plain,
        s"bucketed probe ($bucketed exchanges) must beat plain ($plain): " +
          "the store-side join and the cap count ride the bucketed scan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS substr_store_t3")
    }
  }
}
