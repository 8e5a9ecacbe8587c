package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.BusDrain
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q80: every job lands in one action, and the rank checkpoint " +
      "shows its pre-checkpoint plan under its PageRank call site") {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    BusDrain(sc)
    sc.addSparkListener(counter)
    val p = try Profile.profile(spark, "q80_pagerank", sfDir)
      finally { BusDrain(sc); sc.removeSparkListener(counter) }
    assert(p.error.isEmpty, p.error)
    assert(p.layers.keys.toSeq == Seq("construct", "catalyst", "execute"))
    val actions = p.layers.values.flatMap(_.actions).toSeq
    assert(p.layers.values.map(_.jobs).sum == started.get)
    assert(actions.map(_.jobs).sum == started.get,
      "per-action job counts must add up to the query's jobs")
    val ckpt = p.layers("construct").actions
      .filter(_.site.contains("(PageRank.scala:"))
    assert(ckpt.nonEmpty, p.layers("construct").actions.map(_.site))
    val ops = Profile.operators(ckpt.head.plan)
    assert(ops.exists(_.contains("HashAggregate")) &&
      ops.exists(_.contains("Join")), ops)
    assert(ops.exists(o => o != "Scan ExistingRDD" &&
      o != "AdaptiveSparkPlan"), ops)
  }
}
