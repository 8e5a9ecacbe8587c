package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One pass of a workload's work list: wall time, per-operation
  * latencies, whole-pass Spark counts and, when traced, per-layer values. */
final case class PassRec(traced: Boolean, wall: Double, ops: Seq[Double],
    gcS: Double, counts: Counts, layers: Map[String, Double])

/** Runs one workload of the benchmark inside one JVM and writes a JSON
  * record of every pass, the set-up times and the output checks. The
  * Python front end `perfbench/run.py` turns that record into metrics.
  *
  * Arguments (`--key value`): workload, seconds, trace (0|1), data (the
  * generated inputs, complete once the file `ready` appears in it), work
  * (scratch directory), out (record path), cpus, t0 (epoch ms at which the
  * run started, the origin of the set-up time) and, for gate_stream, period
  * (seconds between scheduled batches).
  */
object Harness {
  private val t0Jvm = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work"))
    val cpus = opt("cpus")
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Jvm) / 1e3
    // the inputs are generated while the session starts
    val ready = Paths.get(opt("data"), "ready")
    val waitUntil = System.nanoTime() + 120000000000L
    while (!Files.exists(ready) && System.nanoTime() < waitUntil) Thread.sleep(20)
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = Ctx(spark, opt, Paths.get(opt("data")), work, cpus.toInt, seconds,
      listener, new Tracer(traced, listener, () => BusDrain(spark.sparkContext)))
    val wl: Workload = opt("workload") match {
      case "kpi_dash" => new QueryWorkload(ctx, Workloads.kpiDash, 4.0)
      case "curation_batch" => new QueryWorkload(ctx, Workloads.curationBatch, 17.0)
      case "ingest_upsert" => new IngestWorkload(ctx)
      case "gate_stream" => new GateWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    wl.prepare()
    val storeS = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - t2) / 1e9
    val setupS = (System.currentTimeMillis() - opt("t0").toLong) / 1e3
    val passes = wl.measure()
    val heapMb = liveHeapMb()
    val rec = Map(
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
        "store_build_s" -> storeS, "warmup_s" -> warmS),
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wall,
        "ops" -> p.ops, "gc_s" -> p.gcS, "counts" -> countsMap(p.counts, p.wall, ctx.cpus),
        "layers" -> p.layers)),
      "live_heap_mb" -> heapMb,
      "checks" -> Map("attempted" -> wl.attempted, "failed" -> wl.failed,
        "notes" -> wl.notes.toSeq),
      "oracle" -> wl.oracle,
      "stamp" -> Map("cpus" -> ctx.cpus, "heap_max_mb" ->
        Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version))
    Files.writeString(Paths.get(opt("out")), Json(rec))
    if (traced) Files.writeString(work.resolve("spans.jsonl"),
      ctx.tracer.spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "pass" -> s.pass, "name" -> s.name,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "jobs" -> s.counts.jobs, "stages" -> s.counts.stages,
        "tasks" -> s.counts.tasks))).mkString("", "\n", "\n"))
    spark.stop()
  }

  /** A tracer that records nothing, for the untraced passes of a traced run. */
  val noTrace = new Tracer(false, null, () => ())

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after full collections; the least of two rounds,
    * with pauses that let Spark's context cleaner drop what the previous
    * collection freed. */
  private def liveHeapMb(): Double = (1 to 2).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def countsMap(c: Counts, wall: Double, cpus: Int): Map[String, Double] = Map(
    "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
    "tasks" -> c.tasks.toDouble,
    "core_util" -> (if (wall > 0) c.taskMs / 1e3 / (wall * cpus) else 0.0),
    "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
    "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
    "spill_mb" -> c.spill / 1048576.0, "input_mb" -> c.input / 1048576.0)
}

final case class Ctx(spark: SparkSession, opt: Map[String, String], data: Path,
    work: Path, cpus: Int, seconds: Double, listener: CountingListener,
    tracer: Tracer) {
  def drain(): Unit = BusDrain(spark.sparkContext)
}

/** A workload: set-up (stores, sinks), an untimed warm-up that also makes
  * the outputs the checks read, and the measured passes. */
abstract class Workload(ctx: Ctx) {
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer.empty[String]
  /** query name -> (result parquet dir, oracle SQL) for the DuckDB check. */
  var oracle: Map[String, Map[String, String]] = Map.empty

  def prepare(): Unit = ()
  def warmup(): Unit
  def measure(): Seq[PassRec]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 50) notes += what }
  }

  /** Closed loop: as many passes as fit the run's seconds at the nominal
    * pass time `passS`, at least two. The count depends on the seconds
    * only, so every run of a workload does the same work however fast the
    * machine runs. Traced runs alternate untraced and traced passes, so the
    * tracing overhead is measured within one run. */
  protected def closedLoop(passS: Double)(pass: Boolean => PassRec): Seq[PassRec] = {
    val out = ArrayBuffer.empty[PassRec]
    val n = math.max(2, math.ceil(ctx.seconds / passS).toInt)
    while (out.size < n) {
      val traced = ctx.tracer.enabled && out.size % 2 == 1
      ctx.tracer.pass = out.size
      ctx.drain()
      val c0 = ctx.listener.snapshot
      val g0 = Harness.gcSeconds
      val p = pass(traced)
      ctx.drain()
      out += p.copy(counts = ctx.listener.snapshot - c0,
        gcS = Harness.gcSeconds - g0)
    }
    out.toSeq
  }
}

object Workloads {
  /** The reference pipeline's own KPIs (daily revenue, top customers,
    * product performance, rolling 7-day revenue, ingestion failure trend)
    * plus the two pipeline queries: the dashboard refresh. */
  val kpiDash: Seq[String] = Seq("q1_daily_revenue", "q2_top_customers",
    "q3_product_performance", "q4_rolling_7day", "q5_failure_trend",
    "q17_clean_sales", "q18_dedup_latest")
  /** The batch curation chain and the batch replay of the live gate. */
  val curationBatch: Seq[String] = Seq("q432_curation_v3", "q437_live_gate_replay")
}

/** Closed-loop query workload: each operation is one registered query,
  * split into construction (the query function), Catalyst (forcing the
  * executed plan) and execution (a `noop` write of the returned frame). */
final class QueryWorkload(ctx: Ctx, names: Seq[String], passS: Double)
    extends Workload(ctx) {
  import ctx.{spark, tracer}
  private val dir = ctx.data.toString

  override def warmup(): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    oracle = names.map { n =>
      val out = ctx.work.resolve("results").resolve(n).toString
      graft.SparkEntry.queries(n)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(out)
      n -> Map("path" -> out, "sql" -> sqls.getOrElse(n, ""))
    }.toMap
  }

  override def measure(): Seq[PassRec] = closedLoop(passS) { traced =>
    val pass = tracer.pass
    val lat = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    names.zipWithIndex.foreach { case (n, i) =>
      val op = pass * 1000L + i
      val s = System.nanoTime()
      val t = if (traced) tracer else Harness.noTrace
      t.span(n, op) { id =>
        val df = t.span("queries.construct", op, id)(_ =>
          graft.SparkEntry.queries(n)(spark, dir))
        t.span("catalyst.plan", op, id)(_ => df.queryExecution.executedPlan)
        t.span("exec.execute", op, id)(_ =>
          df.write.format("noop").mode("overwrite").save())
      }
      lat += (System.nanoTime() - s) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val layers = if (!traced) Map.empty[String, Double] else {
      val sp = tracer.spans.filter(_.pass == pass)
      def total(n: String, f: Span => Double) = sp.filter(_.name == n).map(f).sum
      def secs(s: Span) = (s.end - s.start) / 1e9
      Map(
        "queries.construct_s" -> total("queries.construct", secs),
        "catalyst.plan_s" -> total("catalyst.plan", secs),
        "exec.execute_s" -> total("exec.execute", secs),
        "queries.construct_jobs" -> total("queries.construct", _.counts.jobs.toDouble),
        "exec.jobs" -> total("exec.execute", _.counts.jobs.toDouble),
        "exec.stages" -> total("exec.execute", _.counts.stages.toDouble),
        "exec.tasks" -> total("exec.execute", _.counts.tasks.toDouble))
    }
    PassRec(traced, wall, lat.toSeq, 0, Counts(), layers)
  }
}

/** `Router.runBatch` over the generated drop zone, loading through
  * `Upsert.upsert` into embedded Derby. Every pass restages the zone and
  * empties the table first (untimed), so each pass does the same inserts
  * and updates. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}
  import graft.pipeline.Router
  import graft.sink.{AuditLog, Upsert}
  import graft.ingest.Schemas.AuditEntry

  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val zone = ctx.data.resolve("zone")
  // manifest.tsv: one "valid|invalid <tab> file" line per file, and the
  // rows the zone holds as "rows_read <tab> n"
  private val manifest = Files.readAllLines(ctx.data.resolve("manifest.tsv")).asScala
    .map(_.split("\t", 2)).map(a => (a(0), a(1))).toSeq
  private val valid = manifest.collect { case ("valid", f) => f }.toSet
  private val invalid = manifest.collect { case ("invalid", f) => f }.toSet
  private val rowsRead = manifest.collect { case ("rows_read", n) => n.toDouble }.head
  private val expected: Seq[String] =
    Files.readAllLines(ctx.data.resolve("expected.csv")).asScala.toSeq
  // Derby's standard-SQL MERGE binds the key in the ON clause and again in
  // the INSERT arm; paramOrder maps the six row columns onto twelve
  // placeholders
  private val mergeSql =
    """MERGE INTO sales t USING SYSIBM.SYSDUMMY1 s
      |ON t.sale_id = CAST(? AS VARCHAR(32))
      |WHEN MATCHED THEN UPDATE SET sale_date = CAST(? AS TIMESTAMP),
      |  customer_id = CAST(? AS VARCHAR(32)), product_id = CAST(? AS VARCHAR(32)),
      |  quantity = CAST(? AS INT), amount = CAST(? AS DOUBLE)
      |WHEN NOT MATCHED THEN INSERT
      |  (sale_id, sale_date, customer_id, product_id, quantity, amount)
      |  VALUES (CAST(? AS VARCHAR(32)), CAST(? AS TIMESTAMP),
      |    CAST(? AS VARCHAR(32)), CAST(? AS VARCHAR(32)), CAST(? AS INT),
      |    CAST(? AS DOUBLE))""".stripMargin
  private val order = (0 until 6) ++ (0 until 6)
  private var passNo = 0

  private def sql(s: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(s); () } finally c.close()
  }

  /** Audit sink that stamps each row with the monotonic clock. */
  private final class TimedAudit extends AuditLog.Sink {
    private val inner = new AuditLog.InMemorySink
    val events = ArrayBuffer.empty[(String, String, Long)]
    def log(e: AuditEntry): Unit = synchronized {
      events += ((e.file_key, e.status, System.nanoTime())); inner.log(e)
    }
    def current: Map[String, AuditEntry] = inner.current
  }

  override def prepare(): Unit = {
    System.setProperty("derby.stream.error.file",
      ctx.work.resolve("derby.log").toString)
    sql("""CREATE TABLE sales (sale_id VARCHAR(32) PRIMARY KEY,
          |sale_date TIMESTAMP, customer_id VARCHAR(32), product_id VARCHAR(32),
          |quantity INT, amount DOUBLE)""".stripMargin)
  }

  override def warmup(): Unit = { runPass(traced = false); () }

  override def measure(): Seq[PassRec] = closedLoop(5.5)(runPass)

  private def runPass(traced: Boolean): PassRec = {
    passNo += 1
    val base = ctx.work.resolve(s"bucket$passNo")
    val incoming = Files.createDirectories(base.resolve("incoming"))
    Files.list(zone).iterator().asScala.toList.foreach(f =>
      Files.copy(f, incoming.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    sql("TRUNCATE TABLE sales")
    val audit = new TimedAudit
    val loads = ArrayBuffer.empty[(Long, Long, Long)]
    val load: DataFrame => Long = df => {
      val s = System.nanoTime()
      // one writer partition: embedded Derby's MERGE is not safe under
      // concurrent writer transactions (see perfbench/NOTES.md)
      val n = Upsert.upsert(df.coalesce(1), url, new Properties(), "sales",
        "sale_id", sqlOverride = Some(mergeSql), paramOrder = Some(order))
      loads += ((s, System.nanoTime(), n)); n
    }
    val t0 = System.nanoTime()
    val report = Router.runBatch(spark, Router.Bucket(base.toAbsolutePath.toString), audit, load)
    val t1 = System.nanoTime()
    // per-file stage boundaries from the audit rows
    val finals = Set("loaded", "validation_failed", "processing_failed", "load_failed")
    var start = t0
    var validated = t0
    var processed = t0
    var loadIx = 0
    val lat = ArrayBuffer.empty[Double]
    var vS, cS, lS, rS = 0.0
    val op0 = tracer.pass * 1000L
    audit.events.foreach { case (key, status, t) =>
      if (status == "validated" || status == "validation_failed") validated = t
      if (status == "processed") processed = t
      if (finals(status)) {
        val op = op0 + lat.size
        val v = (validated - start) / 1e9
        val c = if (status == "validation_failed") 0.0 else (processed - validated) / 1e9
        val load = if (status == "loaded" || status == "load_failed") {
          loadIx += 1; Some(loads(loadIx - 1))
        } else None
        val l = load.map(x => (x._2 - x._1) / 1e9).getOrElse(0.0)
        val total = (t - start) / 1e9
        if (traced) {
          val id = tracer.record("pipeline.file", op, -1, start, t)
          tracer.record("ingest.validate", op, id, start, validated)
          if (c > 0) tracer.record("ingest.clean", op, id, validated, processed)
          load.foreach(x => tracer.record("sink.load", op, id, x._1, x._2))
        }
        vS += v; cS += c; lS += l; rS += total - v - c - l
        lat += total
        start = t
      }
    }
    // checks: every file's final status, then the warehouse state
    report.outcomes.foreach { o =>
      val want = if (valid(o.key)) "loaded" else if (invalid(o.key)) "validation_failed" else "?"
      check(o.status == want, s"ingest: ${o.key} ended ${o.status}, expected $want (${o.error.getOrElse("")})")
    }
    val got = warehouse()
    check(got == expected, s"ingest: warehouse has ${got.size} rows, expected ${expected.size}" +
      got.zip(expected).find(p => p._1 != p._2).map(p => s"; first diff ${p._1} vs ${p._2}").getOrElse(""))
    val wall = (t1 - t0) / 1e9
    val loaded = report.totalLoaded.toDouble
    val nFiles = lat.size
    PassRec(traced, wall, lat.toSeq, 0, Counts(), Map(
      "ingest.validate_s" -> vS, "ingest.clean_s" -> cS, "sink.load_s" -> lS,
      "pipeline.route_s" -> rS, "pipeline.rows_per_s" -> loaded / wall,
      "sink.rows_per_s" -> (if (lS > 0) loaded / lS else 0.0),
      "ingest.keep_ratio" -> loaded / rowsRead, "ingest.files" -> nFiles.toDouble))
  }

  /** The sales table as sorted CSV lines, in the generator's spelling. */
  private def warehouse(): Seq[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT sale_id, sale_date, customer_id, product_id, quantity, amount " +
          "FROM sales ORDER BY sale_id")
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      val out = ArrayBuffer.empty[String]
      while (rs.next()) out += Seq(rs.getString(1), fmt.format(rs.getTimestamp(2)),
        rs.getString(3), rs.getString(4), rs.getInt(5).toString,
        rs.getDouble(6).toString).mkString(",")
      out.toSeq
    } finally c.close()
  }
}

/** Open loop: near-clone document batches arrive on a fixed schedule at
  * the live curation gate (`CurationGateStream.start` over a
  * `MemoryStream`), whose frozen stores are built in set-up the way q437
  * builds them. Admission latency runs from a batch's scheduled send time
  * to the progress event of the micro-batch that committed its verdicts. */
final class GateWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}
  import spark.implicits._
  import graft.functions.TextFunctions
  import graft.operators.{BandStore, IncrementalDedup}
  import graft.streaming.{AdmissionStream, ContamStream, CurationGateStream}
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.StreamingQueryListener

  /** Seconds between scheduled batch sends. */
  private val period = ctx.opt("period").toDouble
  private var lp: Map[String, Double] = _
  private var floor = 0.0
  private var contam: Map[String, Array[(Long, Int)]] = _
  private var fpT, bandT = ""
  /** (warm-up, documents) per batch, in sending order. */
  private val batches: Seq[(Boolean, Seq[(Long, String)])] = {
    val rows = spark.read.parquet(ctx.data.resolve("gate_batches.parquet").toString)
      .select("batch", "warm", "doc_id", "text").as[(Int, Boolean, Long, String)]
      .collect().toSeq
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.head._2 -> rs.map(r => (r._3, r._4)) }
  }
  private val expectedStage: Map[Long, String] =
    spark.read.parquet(ctx.data.resolve("gate_batches.parquet").toString)
      .select("doc_id", "expected_stage").as[(Long, String)].collect().toMap

  override def prepare(): Unit = {
    val par = spark.sparkContext.defaultParallelism
    val d = spark.read.parquet(ctx.data.resolve("documents.parquet").toString)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(lower(col("text"))).as("toks"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)
    val bench = d.filter(col("doc_id") % 10 === 7)
    val body = d.filter(col("doc_id") % 10 =!= 7)
    val store = ctx.work.resolve("stores")
    fpT = "perfbench_gate_fp"; bandT = "perfbench_gate_band"
    val (l, f) = AdmissionStream.lmIndex(body.select(col("doc_id"), col("toks")))
    lp = l; floor = f
    contam = ContamStream.benchIndex(bench.select(col("doc_id"), col("text")))
    IncrementalDedup.writeStore(
      body.select(TextFunctions.fingerprint(col("text")).as("fp")),
      fpT, store.resolve(fpT).toString)
    BandStore.writeStore(
      body.select(col("doc_id"), array_join(col("toks"), " ").as("text")),
      bandT, store.resolve(bandT).toString)
  }

  private final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer.empty[(Long, Long, Long, Map[String, Long])]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = Option(p.sources.headOption.map(_.endOffset).orNull)
        .map(_.trim.toLong).getOrElse(-1L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      synchronized {
        events += ((end, System.nanoTime(), startMs,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
  }

  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val mem = MemoryStream[(Long, String)]
  private val progress = new Progress
  private val out = ctx.work.resolve("verdicts").toString
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  /** Starts the gate and admits the warm-up batches one at a time, so the
    * timed schedule runs on a stream that is already past its first
    * micro-batches. */
  override def warmup(): Unit = {
    spark.streams.addListener(progress)
    query = CurationGateStream.start(mem.toDF().toDF("doc_id", "text"), lp, floor,
      contam, spark.table(fpT), spark.table(BandStore.bandsTable(bandT)),
      spark.table(BandStore.shinglesTable(bandT)), out,
      Some(ctx.work.resolve("checkpoint").toString), CurationGateStream.Q437NllMax)
    batches.filter(_._1).foreach { case (_, b) =>
      mem.addData(b: _*)
      query.processAllAvailable()
    }
  }

  /** Sends the timed batches on the fixed schedule; returns per batch the
    * scheduled time, the send time (ns and epoch ms) and the progress
    * event of the micro-batch that committed it. */
  private def schedule(bs: Seq[Seq[(Long, String)]]) = {
    val sent = ArrayBuffer.empty[(Long, Long, Long, Long)]
    try {
      val t0 = System.nanoTime() + 200000000L
      bs.zipWithIndex.foreach { case (b, i) =>
        val due = t0 + (i * period * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val sentNs = System.nanoTime()
        val sentMs = System.currentTimeMillis()
        val off = mem.addData(b: _*).json().trim.toLong
        sent += ((due, sentNs, sentMs, off))
      }
      query.processAllAvailable()
      ctx.drain()
      // listener events are delivered asynchronously; wait for the last
      val last = sent.last._4
      val until = System.nanoTime() + 30000000000L
      while (progress.synchronized(!progress.events.exists(_._1 >= last)) &&
        System.nanoTime() < until) Thread.sleep(5)
    } finally { query.stop(); spark.streams.removeListener(progress) }
    val ev = progress.synchronized(progress.events.toSeq).filter(_._1 >= 0).sortBy(_._1)
    sent.toSeq.map { case (due, sNs, sMs, off) => (due, sNs, sMs, ev.find(_._1 >= off)) }
  }

  override def measure(): Seq[PassRec] = {
    val timed = batches.filterNot(_._1)
    val traced = tracer.enabled
    ctx.drain()
    val c0 = ctx.listener.snapshot
    val g0 = Harness.gcSeconds
    val res = schedule(timed.map(_._2))
    ctx.drain()
    val counts = ctx.listener.snapshot - c0
    val gcS = Harness.gcSeconds - g0
    val lat = res.map { case (due, _, _, e) => e.map(x => (x._2 - due) / 1e9).getOrElse(Double.NaN) }
    res.zipWithIndex.foreach { case ((due, sNs, _, e), i) =>
      check(e.isDefined, s"gate: batch $i never committed")
      if (traced) e.foreach { x =>
        val id = tracer.record("stream.batch", i, -1, due, x._2)
        tracer.record("harness.gen_late", i, id, due, sNs)
        val trig = (x._4.getOrElse("triggerExecution", 0L) * 1e6).toLong
        tracer.record("stream.trigger", i, id, x._2 - trig, x._2)
      }
    }
    // checks: one verdict per document sent, with the planted stage
    val got = spark.read.parquet(out).select("doc_id", "drop_stage", "admitted")
      .as[(Long, String, Int)].collect()
    val want = batches.flatMap(_._2.map(_._1))
    check(got.length == want.size, s"gate: ${got.length} verdicts for ${want.size} documents")
    val byId = got.map(r => r._1 -> r._2).toMap
    want.foreach { id =>
      val w = expectedStage(id)
      check(byId.get(id).contains(w),
        s"gate: doc $id dropped at '${byId.getOrElse(id, "<missing>")}', planted '$w'")
    }
    val evs = res.flatMap(_._4).distinctBy(_._1)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    def dur(k: String*) = med(evs.map(e => k.map(e._4.getOrElse(_, 0L)).sum / 1e3))
    val queueWait = res.flatMap { case (_, _, sMs, e) => e.map(x => (x._3 - sMs).max(0L) / 1e3) }
    val layers = Map(
      "stream.trigger_s" -> dur("triggerExecution"),
      "stream.addbatch_s" -> dur("addBatch"),
      "stream.walcommit_s" -> dur("walCommit", "commitOffsets"),
      "stream.queue_wait_s" -> med(queueWait),
      "gate.admitted_ratio" -> got.count(_._3 == 1).toDouble / got.length.max(1),
      "harness.gen_late_s" -> res.map { case (due, sNs, _, _) => (sNs - due) / 1e9 }.max)
    val wall = (res.flatMap(_._4).map(_._2).max - res.head._1) / 1e9
    Seq(PassRec(traced, wall, lat, gcS, counts, layers))
  }
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
