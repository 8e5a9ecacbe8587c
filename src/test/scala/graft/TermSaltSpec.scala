package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Salting
import graft.queries.SplitQueries

/** q43 salted aggregation and q44 TF-IDF: result equivalence with the
  * straightforward single-stage formulations, plan shape, and invariants. */
class TermSaltSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("q43: salted two-stage sum equals the plain groupBy") {
    val salted = SparkEntry.queries("q43_salted_sum")(spark, sfDir).collect()
    val plain = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
        .as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
      .collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("q43: plan regroup is two aggregation layers, no extra shuffle of raw rows") {
    val df = SparkEntry.queries("q43_salted_sum")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // stage 1 groups on (key, salt), stage 2 on key — both hash aggregates
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    assert("_salt".r.findAllIn(plan).nonEmpty, s"no salt column in plan:\n$plan")
  }

  test("salting never clobbers a caller-owned _salt column") {
    import spark.implicits._
    // big side already carries a data column literally named _salt
    val big = Seq((1L, "keep-a", 10.0), (1L, "keep-b", 20.0), (2L, "keep-c", 5.0))
      .toDF("k", "_salt", "v")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "name")
    val joined = Salting.saltedJoin(big, small, "k",
      struct(col("v")), saltBuckets = 4)
    // caller's _salt values survive the join untouched
    assert(joined.select("_salt").as[String].collect().sorted.toSeq ==
      Seq("keep-a", "keep-b", "keep-c"))
    val agg = Salting.saltedSumCount(big, "k", "v",
      struct(col("_salt")), saltBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(agg == Map(1L -> 30.0, 2L -> 5.0))
  }

  test("q44: tf-idf output invariants (rank bounds, df consistency, score math)") {
    val out = SparkEntry.queries("q44_tfidf_terms")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val langs = out.map(_.getString(0)).distinct
    // top-3 per lang, ranks 1..3, unique per lang
    langs.foreach { l =>
      val ranks = out.filter(_.getString(0) == l).map(_.getInt(5)).sorted
      assert(ranks.head == 1 && ranks.length <= 3 &&
        ranks.toSeq == (1 to ranks.length))
    }
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    out.foreach { r =>
      val (tf, df, score) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(df >= 1 && df <= nDocs)
      assert(tf >= 1)
      val expected = BigDecimal(tf.toDouble * math.log(nDocs.toDouble / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(score - expected) < 1e-9,
        s"score $score vs recomputed $expected (tf=$tf df=$df)")
    }
  }

  test("q44: df(term) counts documents, not occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "alpha alpha beta"),
      (2L, "en", "alpha gamma"),
      (3L, "fr", "beta beta beta")).toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q44_tfidf_terms")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // alpha: df=2 (docs 1,2) even though it occurs 3 times; en tf(alpha)=3
    assert(out.contains(("en", "alpha", 3L, 2L)))
    // beta: df=2 (docs 1,3); fr tf(beta)=3
    assert(out.contains(("fr", "beta", 3L, 2L)))
  }

  test("q46: split assignment is stable under corpus growth and ~80/10/10") {
    import spark.implicits._
    val half = (0L until 500L by 2).toDF("k")
      .select(col("k"), SplitQueries.splitFor(col("k").cast("string")).as("s"))
    val full = (0L until 500L).toDF("k")
      .select(col("k"), SplitQueries.splitFor(col("k").cast("string")).as("s"))
    val halfMap = half.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fullMap = full.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // a key's split never changes when the corpus grows (pure key function)
    halfMap.foreach { case (k, s) => assert(fullMap(k) == s) }
    // proportions near 204/26/26 out of 256 (binomial slack at n=500)
    val counts = fullMap.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("train") < 450, counts.toString)
    assert(counts("val") > 20 && counts("val") < 90, counts.toString)
    assert(counts("test") > 20 && counts("test") < 90, counts.toString)
  }

  test("q46: census fractions sum to 1 within each lang") {
    val out = SparkEntry.queries("q46_split_census")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val total = rows.map(_.getDouble(4)).sum
      assert(math.abs(total - 1.0) < 1e-12, s"$lang fracs sum to $total")
    }
  }
}
