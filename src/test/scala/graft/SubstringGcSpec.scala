package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubstringStore

/** Substring-store GC (the takedown story): retiring a document removes
  * ITS spans from future verdicts, preserves every unrelated verdict
  * row for row, and the new generation keeps the fp bucketing (probe
  * plans gain no store-side exchange). */
class SubstringGcSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("retirement admits takedown-only probes, preserves the rest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssgc")
      .toString
    val store = Seq(
      (10L, words("alpha", 40)),
      (20L, words("beta", 40))).toDF("doc_id", "text")
    SubstringStore.writeStore(store, "graft_ssgc_store", s"$tmp/store")
    // probes: each quotes 30 tokens of one store doc inside fresh filler
    val probes = Seq(
      (1L, words("pa", 5) + " " + (3 to 32).map(i => s"alpha$i")
        .mkString(" ") + " " + words("qa", 5)),
      (2L, words("pb", 5) + " " + (3 to 32).map(i => s"beta$i")
        .mkString(" ") + " " + words("qb", 5)))
      .toDF("doc_id", "text")
    def verdicts(table: String) =
      SubstringStore.probeStore(probes, spark.table(table))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    val pre = verdicts("graft_ssgc_store")
    assert(pre(1L).getAs[Int]("is_dup") == 1 &&
      pre(1L).getAs[Long]("best_store_doc") == 10L)
    assert(pre(2L).getAs[Int]("is_dup") == 1 &&
      pre(2L).getAs[Long]("best_store_doc") == 20L)

    SubstringStore.retireFromStore(spark, "graft_ssgc_store",
      Seq(10L).toDF("doc_id"), "graft_ssgc_store_g2", s"$tmp/g2")
    val post = verdicts("graft_ssgc_store_g2")
    assert(post(1L).getAs[Int]("is_dup") == 0 &&
      post(1L).getAs[Long]("n_matched_store_docs") == 0L,
      s"probe of the retired doc must now admit: ${post(1L)}")
    assert(post(2L).toString == pre(2L).toString,
      "an unrelated probe's verdict must be preserved row for row")

    // the new generation keeps the bucket spec: probing it adds no
    // store-side exchange vs the original bucketed store
    def exchanges(table: String): Int =
      SubstringStore.probeStore(probes, spark.table(table))
        .queryExecution.executedPlan.toString()
        .split("\n").count(_.contains("Exchange"))
    assert(exchanges("graft_ssgc_store_g2") <=
      exchanges("graft_ssgc_store"),
      "GC must not cost the probe plan an extra exchange")
  }
}
