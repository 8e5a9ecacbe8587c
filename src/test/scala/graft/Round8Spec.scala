package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ColumnProfile, PageRank, WeightedSample}
import graft.queries.{BasketQueries, CurationQueries, EntityQueries,
  FunnelQueries, LmQueries, RankQueries, ReshapeQueries, StatsQueries,
  Tpch2Queries}

/** Round-8 additions: TPC-H Q10/Q14 shapes (q76/q77), BM25 retrieval
  * (q78), A-ES weighted sampling (q79), PageRank (q80), and blocked
  * fuzzy entity resolution (q81). */
class Round8Spec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  test("q76 top-20 is revenue-ordered; filters pushed; top-k not a global sort") {
    val df = Tpch2Queries.q76ReturnedItems(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.map(_.getAs[Double]("revenue")).sliding(2).foreach {
      case Array(hi, lo) => assert(hi >= lo, "revenue order broken")
      case _ =>
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      s"returnflag not pushed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 global-sorts:\n$plan")
  }

  test("q77 promo share is a true ratio of the two reported sums") {
    val r = Tpch2Queries.q77PromoRevenue(spark, sfDir).head()
    val (promo, total, pct) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(promo > 0 && total > promo, s"degenerate month: $promo/$total")
    assert(math.abs(pct - 100.0 * promo / total) < 1e-9)
    assert(pct > 0 && pct < 100)
  }

  test("q78 BM25 scores only docs containing query terms, descending") {
    val rows = RankQueries.q78Bm25(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_terms")
      assert(n >= 1 && n <= 3, s"n_terms $n out of range")
      assert(r.getAs[Double]("bm25") > 0)
    }
    rows.map(_.getAs[Double]("bm25")).sliding(2).foreach {
      case Array(hi, lo) => assert(hi >= lo, "bm25 order broken")
      case _ =>
    }
    // every returned doc really contains at least one query term
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").rlike("(^| )(spark|query|join)( |$)"))
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(withTerm))
  }

  test("q79 A-ES sample is deterministic and favors heavy orders") {
    val a = WeightedSample.q79WeightedSample(spark, sfDir).collect()
    val b = WeightedSample.q79WeightedSample(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "weighted sample not reproducible")
    assert(a.length == 20)
    val sampleMean = a.map(_.getAs[Double]("o_totalprice")).sum / a.length
    val corpusMean = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(avg("o_totalprice")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighting had no effect: sample $sampleMean vs corpus $corpusMean")
  }

  test("pageRank on a star graph ranks the hub first; mass is conserved") {
    // star: hub h ↔ leaves l1..l4 (symmetric edges, no dangling nodes)
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = leaves.flatMap(l => Seq(("h", l), (l, "h")))
      .toDF("src", "dst")
    val got = PageRank.pageRank(edges, iters = 3).collect()
      .map(r => r.getAs[String]("node") ->
        (r.getAs[Double]("r"), r.getAs[Long]("n_out"))).toMap
    assert(got("h")._2 == 4 && got("l1")._2 == 1)
    assert(leaves.forall(l => got("h")._1 > got(l)._1), s"hub not top: $got")
    // symmetric + no dangling ⇒ total mass stays ~1 (12-dp grid slack)
    val mass = got.values.map(_._1).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass leaked: $mass")
    // all leaves are symmetric — identical ranks
    assert(leaves.map(got(_)._1).distinct.size == 1)
  }

  test("q80 plan broadcasts the rank-vector side, no cartesian product") {
    val df = SparkEntry.queries("q80_pagerank")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    val rows = df.collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getAs[Double]("rank_score") > 0))
  }

  test("q81 blocking finds 1-edit pairs in either half and rejects 2-edit") {
    val dir = java.nio.file.Files.createTempDirectory("er").toString
    Seq(
      (1L, "Customer#000000001"), // pair with 2 (last digit — half 2)
      (2L, "Customer#000000002"),
      (3L, "Custoner#000000002"), // 1 edit in half 1 vs id 2
      (4L, "Xustoner#100000002")  // 2 edits vs id 3 — must be rejected
    ).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = EntityQueries.q81FuzzyNames(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_1"), r.getAs[Long]("id_2"),
        r.getAs[Int]("dist"))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1)), s"got $got")
  }

  test("q82 profiles prune each scan to its single column") {
    val df = ColumnProfile.q82ColumnProfile(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_null") == 0L)
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("mean_v") &&
        r.getAs[Double]("mean_v") <= r.getAs[Double]("max_v"))
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_rows"))
    }
    val plan = df.queryExecution.executedPlan.toString
    // each unioned branch reads exactly one column
    Seq("l_quantity", "l_discount").foreach { c =>
      assert(plan.contains(s"ReadSchema: struct<$c:double>"),
        s"$c scan not pruned to one column:\n$plan")
    }
  }

  test("q83 bigram NLL: model probabilities are conditionals that sum to 1") {
    val rows = LmQueries.q83BigramNll(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_nll") > 0)
      assert(r.getAs[Int]("n_bigrams") >= 1)
    }
    // a two-token doc scores exactly -ln P(w2|w1) under the corpus model
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bg").toString
    Seq((1L, "en", "a b"), (2L, "en", "a b"), (3L, "en", "a c"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = LmQueries.q83BigramNll(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_nll")).toMap
    val nll = (p: Double) => BigDecimal(-BigDecimal(math.log(p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(1L) - nll(2.0 / 3.0)) < 1e-9) // P(b|a) = 2/3
    assert(math.abs(got(3L) - nll(1.0 / 3.0)) < 1e-9) // P(c|a) = 1/3
  }

  test("q84 buckets cover every order exactly once with monotone bounds") {
    val rows = StatsQueries.q84EquiwidthHist(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      spark.read.parquet(s"$sfDir/orders.parquet").count())
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(b >= 0 && b <= 19)
      assert(r.getAs[Double]("lo") < r.getAs[Double]("hi"))
    }
    val plan = StatsQueries.q84EquiwidthHist(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "equi-width hist must not sort/window")
    // degenerate constant column: width 0 must land everything in
    // bucket 0, not NaN/∞ buckets
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hist").toString
    (1L to 7L).map(i => (i, 42.5)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val deg = StatsQueries.q84EquiwidthHist(spark, dir).collect()
    assert(deg.length == 1 && deg.head.getAs[Int]("bucket") == 0 &&
      deg.head.getAs[Long]("n") == 7L, deg.mkString(","))
  }

  test("q85 span dedup: first occurrence wins, repeats are marked") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("c4").toString
    val span = (1 to 16).map(i => s"w$i").mkString(" ") // one exact span
    Seq(
      (1L, span),                                  // owns the span
      (2L, span),                                  // full repeat → dup
      (3L, span + " tail words here"),             // span + partial tail
      (4L, "completely different words only")      // untouched
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CurationQueries.q85ParagraphDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup"))).toMap
    assert(got(1L) == (1L, 0L), s"owner marked dup: $got")
    assert(got(2L) == (1L, 1L), s"repeat not marked: $got")
    assert(got(3L) == (2L, 1L), s"span+tail wrong: $got") // tail unique
    assert(got(4L) == (1L, 0L), s"clean doc flagged: $got")
  }

  test("q85 plans winner election as an agg with map-side partials, not a window") {
    val df = CurationQueries.q85ParagraphDedup(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"span winner must not window:\n$plan")
    assert(plan.contains("partial_min"), s"no map-side combine:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the fixture's planted excerpts yield at least one duplicated span
    assert(rows.map(_.getAs[Long]("n_dup")).sum > 0, "no dup spans found")
  }

  test("q86 funnel stages shrink monotonically and honor strict order") {
    val rows = FunnelQueries.q86Funnel(spark, sfDir).collect()
    assert(rows.length == 3)
    val ns = rows.sortBy(_.getAs[Int]("stage")).map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel widened: ${ns.toSeq}")
    assert(rows.head.getAs[Double]("conversion") == 1.0)
    // strict ordering on a crafted stream: click at the SAME ts as the
    // first view must NOT clear stage 2
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fun").toString
    // events.ts is a nanosecond long in the testdata layout (eventsTable
    // rebuilds the timestamp via integer division)
    val t0 = 1704067200L * 1000000000L
    val t1 = t0 + 3600L * 1000000000L
    Seq(
      (1L, t0, 10L, "view", 0.0, "{}"),
      (2L, t0, 10L, "click", 0.0, "{}"),  // tie — excluded
      (3L, t0, 20L, "view", 0.0, "{}"),
      (4L, t1, 20L, "click", 0.0, "{}"),  // strictly after — counts
      (5L, t1, 30L, "click", 0.0, "{}"))  // click with no view at all
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = FunnelQueries.q86Funnel(spark, dir).collect()
      .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got(1) == 2L && got(2) == 1L && got(3) == 0L, s"got $got")
  }

  test("q87 retention: offset-0 cells cover every cohort at rate 1.0") {
    val rows = FunnelQueries.q87Retention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val zero = rows.filter(_.getAs[Int]("week_offset") == 0)
    // every user is active in their own cohort week ⇒ offset 0 = size
    zero.foreach(r => assert(r.getAs[Double]("retention") == 1.0,
      s"cohort ${r.get(0)} offset-0 rate ${r.get(3)}"))
    rows.foreach { r =>
      assert(r.getAs[Int]("week_offset") >= 0)
      val ret = r.getAs[Double]("retention")
      assert(ret > 0 && ret <= 1.0)
    }
    // cohorts partition the user base: offset-0 counts sum to all users
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(zero.map(_.getAs[Long]("n_users")).sum == users)
  }

  test("q88 SymSpell blocking recovers every planted cross-length typo") {
    val rows = EntityQueries.q88SymspellNames(spark, sfDir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("id_1"),
      r.getAs[Long]("id_2"), r.getAs[Int]("dist")))
    // every 7th customer has a one-char-deleted clone at id+1e12:
    // each must pair with its base at dist 1 (cross-length — q81's
    // same-length scheme cannot see these)
    val n = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val planted = (0L until n by 7).map(id => (id, id + 1000000000000L)).toSet
    val found = pairs.filter { case (a, b, _) => b == a + 1000000000000L }
      .map { case (a, b, _) => (a, b) }.toSet
    assert(planted.subsetOf(found),
      s"missed typo pairs: ${(planted -- found).take(5)}")
    pairs.foreach { case (_, _, d) => assert(d >= 0 && d <= 1) }
    val plan = EntityQueries.q88SymspellNames(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join shape in:\n$plan")
  }

  test("q89 running balance: prefix sums reconcile and the filter is pushed") {
    val df = ReshapeQueries.q89RunningBalance(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per customer: seq is 1..n and the final running total equals the
    // independent sum of that customer's order totals
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (ck, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("order_seq"))
      assert(sorted.map(_.getAs[Int]("order_seq")).toSeq ==
        (1 to rs.length), s"cust $ck seq broken")
      val direct = BigDecimal(sorted.map(r =>
        BigDecimal(r.getAs[Double]("o_totalprice"))).sum.toDouble)
      val last = sorted.last.getAs[Double]("running_total")
      assert(math.abs(last - direct.toDouble) < 1e-6,
        s"cust $ck total $last vs $direct")
      sorted.map(_.getAs[Double]("running_total")).sliding(2).foreach {
        case Array(a2, b2) => assert(b2 >= a2, s"cust $ck not monotone")
        case _ =>
      }
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,50)"),
      s"custkey cap not pushed to scan:\n$plan")
    assert(plan.contains("Window"), "running total must be a window")
  }

  test("q91 unpivot round-trips q73's pivot cells exactly") {
    val wide = ReshapeQueries.q73DailyPivot(spark, sfDir).collect()
    val long = ReshapeQueries.q91UnpivotDaily(spark, sfDir).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
    assert(long.size == wide.length * 5, "melt must be dense: days × types")
    wide.foreach { r =>
      val day = r.getAs[java.sql.Date]("day").toString
      Seq("click", "error", "purchase", "signup", "view").foreach { t =>
        assert(long((day, t)) == r.getAs[Long](t), s"cell ($day, $t)")
      }
    }
  }

  test("q92 array-local pair explosion equals the relational self-join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("basket").toString
    // baskets: {1,2,3}, {2,3}, {3}, plus a duplicate line (must dedup)
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L),
        (20L, 2L), (20L, 3L),
        (30L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = BasketQueries.q92Copurchase(spark, dir).collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")) ->
        (r.getAs[Long]("n_both"), r.getAs[Double]("lift"))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((2L, 3L))._1 == 2L) // baskets 10 and 20
    assert(got((1L, 2L))._1 == 1L && got((1L, 3L))._1 == 1L)
    // lift(2,3) = P(2,3)/(P(2)P(3)) = (2/3)/((2/3)*(3/3)) = 1.0
    assert(math.abs(got((2L, 3L))._2 - 1.0) < 1e-12)
    // lift(1,2) = (1/3)/((1/3)*(2/3)) = 1.5
    assert(math.abs(got((1L, 2L))._2 - 1.5) < 1e-12)
  }

  test("q92 plan has no orderkey self-join of the exploded corpus") {
    val df = BasketQueries.q92Copurchase(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb"))
      assert(r.getAs[Long]("n_both") >= 1 && r.getAs[Double]("lift") > 0)
    }
    val plan = df.queryExecution.executedPlan.toString
    // pairs come from the array-level nested transform, not a join of
    // the exploded lineitem against itself on l_orderkey
    assert(!plan.contains("l_orderkey#") ||
      !"SortMergeJoin.*l_orderkey".r.findFirstIn(plan).isDefined,
      s"orderkey self-join shape in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 global-sorts")
  }

  test("q93 latency stats agree with the q86 stage-3 population") {
    val r = FunnelQueries.q93ConversionLatency(spark, sfDir).head()
    val stage3 = FunnelQueries.q86Funnel(spark, sfDir).collect()
      .find(_.getAs[Int]("stage") == 3).get.getAs[Long]("n_users")
    assert(r.getAs[Long]("n_converted") == stage3)
    val (mean, p50, p90, mx) = (r.getAs[Double]("mean_sec"),
      r.getAs[Double]("p50_sec"), r.getAs[Double]("p90_sec"),
      r.getAs[Long]("max_sec"))
    assert(mean > 0 && p50 > 0)
    assert(p50 <= p90 && p90 <= mx.toDouble)
    assert(mean <= mx.toDouble)
  }

  test("q81 plan is equi-join blocked — no nested-loop all-pairs") {
    val df = EntityQueries.q81FuzzyNames(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join shape in:\n$plan")
  }

  test("q81 interleaved blocking keeps candidates far below all-pairs") {
    // contiguous halves would degenerate here: every name shares the
    // literal prefix "Customer#", making a first-half block corpus-sized
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .withColumn("len", length(col("name")))
      .withColumn("h1", regexp_replace(col("name"), "(.).?", "$1"))
      .withColumn("h2", regexp_replace(col("name"), ".(.)?", "$1"))
    val n = c.count()
    val cand = EntityQueries.candidatePairs(c).count()
    val allPairs = n * (n - 1) / 2
    // threshold is loose because n is tiny here (~150 names ⇒ coarse
    // blocks); the cut ratio grows with corpus size (≈6% at sf0.01).
    // the guarded failure mode — a corpus-sized block — would put cand
    // at ≈ allPairs
    assert(cand < allPairs / 4,
      s"blocking degenerated: $cand candidates vs $allPairs all-pairs")
  }
}
