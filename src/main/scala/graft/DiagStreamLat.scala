package graft

// Micro-batch admission-cycle latency pass (r18 directive #8, driver
// tooling): times ONE foreachBatch body per probe stream at the stress
// fixture — persist batch, run the stream's registered prober against
// the frozen store generation, write the verdict parquet partitioned by
// batch_id (the real sink) — warm-up + min-of-2, so the table in
// artifacts/ reflects what a live gate pays per micro-batch now that the
// stores are one-file-per-bucket.
object DiagStreamLat {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{BandStore, BoilerStore, IncrementalDedup, SubstringStore}
    import graft.streaming.{AdmissionStream, ContamStream, CurationGateStream, VerdictSink}
    import graft.queries.Kpis
    import graft.functions.TextFunctions
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val par = spark.sparkContext.defaultParallelism
    val slug = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tmp = System.getProperty("java.io.tmpdir")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def cycle(name: String)(body: => Unit): Unit = {
      body // warm-up admission cycle
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val line = f"$name%-22s ${times.min}%.2f s/batch (min of 2, warm)"
      println(line); out += line
    }

    val d = Kpis.table(spark, sfDir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)
    // the micro-batch: every 10th doc re-delivered as a near-clone —
    // the q435/q450 injection shape, ~|docs|/10 arrivals per cycle
    val batch = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat(col("text"), lit(" zz extra tail")).as("text"))
      .localCheckpoint(true)

    // frozen store generations (built once, outside the timed cycles —
    // generation discipline: streams resolve stores before start)
    val bandT = s"graft_dsl_band$slug"
    BandStore.writeStore(d, bandT, s"$tmp/$bandT")
    val boilT = s"graft_dsl_boil$slug"
    BoilerStore.writeStore(d, boilT, s"$tmp/$boilT")
    val subT = s"graft_dsl_sub$slug"
    SubstringStore.writeStore(d, subT, s"$tmp/$subT")
    val fpT = s"graft_dsl_fp$slug"
    IncrementalDedup.writeStore(
      d.select(TextFunctions.fingerprint(
        concat_ws(" ", TextFunctions.tokens(lower(col("text"))))).as("fp")),
      fpT, s"$tmp/$fpT")
    val toksD = d.select(col("doc_id"),
      TextFunctions.tokens(lower(col("text"))).as("toks"))
    val (lp, floor) = AdmissionStream.lmIndex(toksD)
    val contamIdx = ContamStream.benchIndex(
      d.filter(col("doc_id") % 10 === 7))
    val bands = spark.table(BandStore.bandsTable(bandT))
    val shingles = spark.table(BandStore.shinglesTable(bandT))
    val inc = spark.table(BoilerStore.incTable(boilT))
    val sub = spark.table(subT)
    val fpStore = spark.table(fpT)

    def sink(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      VerdictSink.write(df, 0L, path)

    cycle("neardup_probe")(
      sink(BandStore.probeStore(batch, bands, shingles), s"$tmp/dsl_o1"))
    cycle("boiler_probe")(
      sink(BoilerStore.probeStore(batch, inc), s"$tmp/dsl_o2"))
    cycle("substring_probe")(
      sink(SubstringStore.probeStore(batch, sub), s"$tmp/dsl_o3"))
    cycle("contam_verdicts")(
      sink(ContamStream.verdicts(batch, contamIdx).toDF(), s"$tmp/dsl_o4"))
    cycle("curation_gate")(
      sink(CurationGateStream.verdicts(batch, lp, floor, contamIdx,
        fpStore, bands, shingles, CurationGateStream.Q437NllMax),
        s"$tmp/dsl_o5"))

    try java.nio.file.Files.write(
      java.nio.file.Paths.get("artifacts/STREAM_LATENCY_r18.txt"),
      (s"micro-batch admission latency, $sfDir, local[$cpus], " +
        s"batch = |docs|/10 near-clones, store = full corpus\n" +
        out.mkString("\n") + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
