package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DupClusters

/** Connected-components clustering: transitive closure, min-label choice,
  * pruning semantics of the inverted-index candidate stage, and the q45
  * end-to-end invariants on the fixture corpus. */
class DupClustersSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] =
    DupClusters.connectedComponents(
        edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("prefix candidates are recall-complete vs brute-force Jaccard") {
    // corpus with controlled overlap: clones, a near-clone, and noise.
    // brute-force every pair; every pair at Jaccard >= 0.7 must appear in
    // the prefix-filtered candidate set (completeness is the contract —
    // extra candidates are fine, the verify stage removes them).
    val docs = Seq(
      1L -> Seq("a b c", "b c d", "c d e", "d e f"),
      2L -> Seq("a b c", "b c d", "c d e", "d e f"),          // clone of 1
      3L -> Seq("a b c", "b c d", "c d e", "x y z"),          // 3/5 vs 1
      4L -> Seq("p q r", "q r s"),                            // unrelated
      5L -> Seq("p q r", "q r s"),                            // clone of 4
      6L -> Seq("m n o"))                                     // singleton
    val t = 0.7
    val truth = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = sa.toSet.intersect(sb.toSet).size
      union = sa.toSet.union(sb.toSet).size
      if inter.toDouble / union >= t
    } yield (a, b)).toSet
    assert(truth == Set((1L, 2L), (4L, 5L))) // fixture sanity
    val got = DupClusters.prefixCandidatePairs(
        docs.toDF("id", "sh"), t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(got), s"missing pairs: ${truth -- got}")
  }

  test("chain merges transitively; separate components stay separate") {
    // 1-2, 2-3, 3-4 is one component even though 1 and 4 share no edge;
    // 10-11 is another
    val got = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("long path needs as many rounds as its diameter — still converges") {
    val n = 12L // diameter 11 < default maxIter
    val got = comps((1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L) && got.size == n.toInt)
  }

  test("round count reflects star contraction (sub-diameter) + detection round") {
    // one-hop label propagation would need diameter-many (5) productive
    // rounds on this chain; large-star/small-star contracts distances
    // geometrically: 3 productive rounds + 1 set-stable detection round.
    // Pinning the exact count catches extra rounds, a lost contraction
    // step, AND any regression to a separate convergence-check action
    // (the edge count is observed inside each round's materialization).
    val (labels, rounds) = DupClusters.connectedComponentsWithRounds(
      (1L until 6L).map(i => (i, i + 1)).toDF("src", "dst"), "src", "dst")
    assert(labels.collect().map(_.getLong(1)).forall(_ == 1L))
    assert(rounds == 4)
  }

  test("reliable-checkpoint mode yields identical labels") {
    // cluster posture: checkpointEveryK writes every k-th round's edge
    // state through the configured checkpoint dir (survives executor
    // loss, unlike localCheckpoint blocks)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("src", "dst")
    val base = DupClusters.connectedComponents(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (ckpt, _) = DupClusters.connectedComponentsWithRounds(
      edges, "src", "dst", checkpointEveryK = 1)
    assert(ckpt.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == base)
    // the reliable checkpoint actually went through the configured dir
    assert(java.nio.file.Files.list(dir).count() > 0,
      "no checkpoint data written to the checkpoint dir")
  }

  test("non-convergence at maxIter throws instead of returning wrong labels") {
    // path of diameter 9 cannot finish min-label propagation in 3 rounds;
    // a silent return here would hand back under-merged components
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      DupClusters.connectedComponents(edges, "src", "dst", maxIter = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("empty and self-loop-only edge inputs yield empty labels in one round") {
    val (l1, r1) = DupClusters.connectedComponentsWithRounds(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    assert(l1.isEmpty && r1 == 1)
    val (l2, r2) = DupClusters.connectedComponentsWithRounds(
      Seq((7L, 7L)).toDF("src", "dst"), "src", "dst")
    assert(l2.isEmpty && r2 == 1)
  }

  test("triangle, reversed/duplicate edges, and self-loops are harmless") {
    val got = comps(Seq((3L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (3L, 1L),
      (5L, 5L)))
    // 5 has only a self-loop → not a member of any edge component
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("candidate pairs require a shared shingle under the df cap") {
    val docs = Seq(
      (1L, Seq("a b c", "x y z")),
      (2L, Seq("a b c", "q r s")),
      (3L, Seq("hot hot hot")),
      (4L, Seq("hot hot hot"))).toDF("id", "sh")
    // cap 1: "a b c" (df=2) and "hot hot hot" (df=2) both pruned → no pairs
    assert(DupClusters.shingleCandidatePairs(docs, dfCap = 1).isEmpty)
    // cap 2: both shared shingles usable → (1,2) and (3,4)
    val got = DupClusters.shingleCandidatePairs(docs, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)))
  }

  test("q45 equals a brute-force all-pairs closure computed independently") {
    val out = SparkEntry.queries("q45_dup_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // independent ground truth: collect the tiny derived corpus, all-pairs
    // exact Jaccard in plain Scala, union-find transitive closure — no
    // inverted index, no df pruning, no Spark joins
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val variants = base.flatMap { case (id, t) => Seq(
      id -> t,
      (id + 100000L) -> (t + " zz extra tail"),
      (id + 200000L) -> (t + " zz extra tail rr more pad")) }
    def sh(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val shingled = variants.map { case (id, t) => id -> sh(t) }
    val parent = scala.collection.mutable.Map(
      shingled.map(p => p._1 -> p._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      (a, sa) <- shingled; (b, sb) <- shingled if a < b
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.7
    } parent(find(a)) = find(b)
    val byComp = shingled.map(_._1).groupBy(find)
      // min-id representative, edge-members only (singletons excluded)
      .filter(_._2.length > 1)
    val expected = byComp.toSeq.flatMap { case (_, members) =>
      val cid = members.min
      members.toSeq.map(m => (m, cid, members.length.toLong))
    }.toSet
    assert(out == expected)
    // the fixture genuinely exercises transitive closure: short docs
    // (< 21 tokens) have NO direct orig↔v2 edge ((T-2)/(T+4) < 0.7), and
    // docs 0/50 are a real cross-doc near-dup pair merging two families
    val shortDocs = base.count(_._2.trim.split("\\s+").length < 21)
    assert(shortDocs > 0, "fixture lost its short docs; transitivity untested")
    assert(expected.exists(_._3 > 3L),
      "expected at least one merged multi-family cluster (docs 0/50)")
  }
}
