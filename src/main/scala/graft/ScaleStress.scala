package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

// Driver-tooling scale-stress main (VERDICT r8 #3): builds deterministic
// 1x and 10x fixtures from sf0.1 and measures wall time + shuffle-write
// bytes for the dedup/ANN/ER family (q45/q50/q55/q66/q81/q88). Growth
// ratios are the evidence: sub-quadratic (ideally ~linear) time and
// shuffle growth at 10x the corpus certifies the plan shapes' 100 TB
// claims empirically, not just structurally.
//
// Clone construction keeps the workload's TRUE structure linear: each
// clone is an ISOMORPHIC copy of the corpus that is disjoint from every
// other clone in its similarity space —
//   documents:  every token suffixed "_c<i>" (shingle spaces disjoint;
//               intra-clone near-dup structure preserved exactly)
//   embeddings: components circularly rotated by <i> (norms + intra-clone
//               distances exact-preserved; cross-clone cosines ~random)
//   customer:   keys offset by i*1e9; names suffixed with a 6-hex-char
//               md5 tag (cross-clone levenshtein >> any verify threshold)
// so true pairs/clusters grow exactly 10x while candidate generation has
// 10x the input to prune. Results → artifacts/SCALE_NOTES_r09.md.
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)

    val shuffleBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    def build(nClones: Int, out: String): Unit = {
      // a rotation by >= dim degenerates clone c=dim into an exact copy of
      // the base corpus (silently breaking the disjoint-clone invariant
      // the measurements depend on) and errors beyond
      require(nClones <= 64, s"at most 64 clones (embedding dim): $nClones")
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dim = 64
      // per-table build (round 12, full-suite sweep): each table is
      // checked and built independently, so a clone dir produced by an
      // older ScaleStress gains the newly-cloned tables instead of being
      // trusted wholesale; tables missing at the SOURCE are skipped with
      // a note so older testdata generations keep working (ADVICE r11)
      def cloneTable(t: String)(f: (org.apache.spark.sql.DataFrame, Int)
          => org.apache.spark.sql.DataFrame): Unit =
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$src/$t.parquet")))
          System.err.println(s"ScaleStress: $src/$t.parquet absent; skipping")
        else if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet"))) {
          val base = spark.read.parquet(s"$src/$t.parquet")
          (0 until nClones).map(c => if (c == 0) base else f(base, c))
            .reduce(_ unionAll _)
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
        }
      cloneTable("events") { (ev, c) =>
        ev.withColumn("event_id", col("event_id") + lit(c * 1000000000000L))
          // disjoint user spaces: per-user windows/sessions replicate
          // exactly; hour buckets and the value domain stay shared
          .withColumn("user_id", col("user_id") + lit(c * 1000000L))
      }
      cloneTable("documents") { (docs, c) =>
        docs.withColumn("doc_id", col("doc_id") + lit(c * 1000000000000L))
          .withColumn("text", concat_ws(" ",
            transform(split(trim(col("text")), "\\s+"),
              t => concat(t, lit(s"_c$c")))))
      }
      cloneTable("embeddings") { (emb, c) =>
        emb.withColumn("vec_id", col("vec_id") + lit(c * 1000000000000L))
          .withColumn("embedding", concat(
            slice(col("embedding"), c + 1, dim - c),
            slice(col("embedding"), 1, c)))
      }
      cloneTable("customer") { (cust, c) =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(c * 1000000000L))
          .withColumn("c_name",
            concat(col("c_name"), lit("_"), substring(md5(lit(c.toString)), 1, 6)))
      }
      // TPC-H facts (round 12): clone-local order keys; o_custkey follows
      // the customer offset so each clone is an isomorphic order history
      cloneTable("orders") { (o, c) =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(c * 1000000000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000000L))
      }
      cloneTable("lineitem") { (l, c) =>
        // l_partkey / l_suppkey stay on the SHARED dims: scaling facts 10x
        // against fixed dimensions is the realistic fan-out shape
        l.withColumn("l_orderkey", col("l_orderkey") + lit(c * 1000000000000L))
      }
      // dims are shared across clones — copied once, unscaled
      Seq("region", "nation", "supplier", "part").foreach { t =>
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$src/$t.parquet")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet")))
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }

    // SPARK_GRAFT_QUERIES=ALL sweeps the ENTIRE registered set (the
    // round-12 full-suite scale flush); a comma list selects; default is
    // the historical dedup/ANN/ER family
    val queries = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list)  => list.split(",").toSeq.filter(_.nonEmpty)
      case None => Seq("q45_dup_clusters",
        "q50_semantic_dedup", "q55_containment_dup", "q66_ivf_pq",
        "q81_fuzzy_names", "q88_symspell_names")
    }
    // runs per (query, scale): min-of-N guards against GC/throttle noise;
    // the full sweep uses 1 (shuffle bytes — the headline metric — are
    // deterministic regardless)
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val scales = sys.env.get("SPARK_GRAFT_SCALES")
      .map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 10))

    val tmp = System.getProperty("java.io.tmpdir")
    scales.foreach { n =>
      val dir = s"$tmp/graft_scale_$n"
      build(n, dir)
      // warm the scans once so timing excludes first-touch I/O
      Seq("documents", "customer", "orders", "lineitem", "events").foreach { t =>
        try spark.read.parquet(s"$dir/$t.parquet").write
          .format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      queries.foreach { name =>
        val times = (1 to runsPer).flatMap { _ =>
          spark.sharedState.cacheManager.clearCache()
          val b0 = shuffleBytes.get()
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(name)(spark, dir)
              .write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            Some((secs, shuffleBytes.get() - b0))
          } catch { case e: Throwable =>
            // a failed query must not kill the sweep — report and move on
            System.err.println(s"[scale] $name FAILED at $n x: ${e.getMessage}")
            None
          }
        }
        if (times.nonEmpty) {
          val (bestT, bytesAt) = times.minBy(_._1)
          println(f"scale=$n%2d $name%-22s ${bestT}%7.2f s  shuffle=${bytesAt / 1048576.0}%9.2f MiB")
        } else
          println(f"scale=$n%2d $name%-22s    FAIL s  shuffle=     FAIL MiB")
      }
      // the linear-scale semantic-dedup path: constant cell size (k ∝ N),
      // single- and multi-probe variants
      if (sys.env.get("SPARK_GRAFT_CELLS").contains("1")) {
        val e = graft.operators.SemanticCells.embFrom(spark, dir)
        Seq(1, 2).foreach { probes =>
          val times = (1 to 2).map { _ =>
            spark.sharedState.cacheManager.clearCache()
            val b0 = shuffleBytes.get()
            val t0 = System.nanoTime()
            graft.operators.SemanticCells
              .clusters(e, k = 16 * n, iters = 2, t = 0.4, probes)
              .write.format("noop").mode("overwrite").save()
            ((System.nanoTime() - t0) / 1e9, shuffleBytes.get() - b0)
          }
          val (bestT, bytesAt) = times.minBy(_._1)
          println(f"scale=$n%2d cells_k${16 * n}_p$probes%-10s ${bestT}%7.2f s  shuffle=${bytesAt / 1048576.0}%9.2f MiB")
        }
      }
    }
    spark.stop()
  }
}
