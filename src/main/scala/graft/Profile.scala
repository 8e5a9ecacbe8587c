package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.BusDrain

/** Per-query profile, run like [[Bench]] (same optional query names,
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`). Each query is warmed once,
  * then run once in three layers: construction (the `SparkEntry.queries`
  * call, with every eager checkpoint, count and collect it makes), Catalyst
  * (forcing the executed plan; `QueryExecution.tracker` phases) and
  * execution (the `noop` write). Each job belongs to one action: the
  * Dataset action whose SQL execution ran it or, outside any, the job under
  * its stage's call site. Prints a line per query and per construction
  * action; the full record, plans included, goes to `PROFILE_FULL.json`. */
object Profile {
  /** Summed task metrics of one stage; bytes and executor milliseconds. */
  final case class StageStats(id: Int, var tasks: Int = 0,
      var runMs: Long = 0, var shuffleRead: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0)
  final case class Action(site: String, seconds: Double, jobs: Int,
      stages: Seq[StageStats], plan: String)
  /** `jobs` counts every job the layer started. */
  final case class Layer(seconds: Double, jobs: Int, actions: Seq[Action])
  final case class QueryProfile(name: String, layers: ListMap[String, Layer],
      catalystPhasesMs: Map[String, Long], error: Option[String])

  /** The first user frame of an action's stack outside `graft.plans`, so an
    * `Eager.ckpt` or `Overlap.two` resolves to the query line that called
    * it. The first line of `details` is the Spark method itself. */
  private def callSite(details: String, fallback: String): String =
    details.linesIterator.drop(1)
      .find(f => !f.matches("""(.*/)?graft\.plans\..*""")).getOrElse(fallback)

  /** Operator names of a formatted physical plan's tree, root first; for a
    * finished adaptive plan, those of its final plan. */
  private[graft] def operators(plan: String): Seq[String] =
    plan.linesIterator.drop(1).takeWhile(_.trim.nonEmpty)
      .map(_.replaceAll("""^[\s+\-:*]+|\s*\(\d+\).*$""", ""))
      .takeWhile(_ != "== Initial Plan ==").filterNot(_.startsWith("=="))
      .toSeq

  private final class Recorder extends SparkListener {
    private final class Exec(val root: Long, val site: String,
        var plan: String, val start: Long) { var end = start }
    private final class Job(val exec: Option[Long], val site: String,
        val stageIds: Seq[Int], val start: Long) { var end = start }
    private val execs = mutable.LinkedHashMap.empty[Long, Exec]
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.HashMap.empty[Int, StageStats]

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = new Exec(s.rootExecutionId.getOrElse(
            s.executionId), callSite(s.details, s.description),
            s.physicalPlanDescription, s.time)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execs.get(u.executionId).foreach(_.plan = u.physicalPlanDescription)
        case x: SparkListenerSQLExecutionEnd =>
          execs.get(x.executionId).foreach(_.end = x.time)
        case _ =>
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs(j.jobId) = new Job(exec.map(_.toLong),
        j.stageInfos.maxBy(_.stageId).name, j.stageIds, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(_.end = j.time)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(t.stageId, StageStats(t.stageId))
      s.tasks += 1
      Option(t.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }

    /** The layer made of the events seen since the last call. */
    def take(seconds: Double): Layer = synchronized {
      // a nested execution (a command's inner query) joins its root
      val byAction = jobs.values.groupBy(
        _.exec.flatMap(execs.get).map(_.root).filter(execs.contains))
      def stagesOf(js: Iterable[Job]) =
        js.flatMap(_.stageIds).toSeq.distinct.sorted.flatMap(stages.get)
      val sql = execs.collect { case (id, e) if e.root == id =>
        val js = byAction.getOrElse(Some(id), Nil)
        e.start -> Action(e.site, (e.end - e.start) / 1e3, js.size,
          stagesOf(js), e.plan)
      }
      val bare = byAction.getOrElse(None, Nil).map(j => j.start ->
        Action(j.site, (j.end - j.start) / 1e3, 1, stagesOf(Seq(j)), ""))
      val layer = Layer(seconds, jobs.size,
        (sql ++ bare).toSeq.sortBy(_._1).map(_._2))
      execs.clear(); jobs.clear()
      layer
    }
  }

  /** Profiles one construction, planning and execution of `name`. */
  def profile(spark: SparkSession, name: String, dir: String): QueryProfile = {
    val sc = spark.sparkContext
    val rec = new Recorder
    BusDrain(sc)
    sc.addSparkListener(rec)
    var layers = ListMap.empty[String, Layer]
    def layer[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally {
        val s = (System.nanoTime() - t0) / 1e9
        BusDrain(sc); layers += label -> rec.take(s)
      }
    }
    var phases = Map.empty[String, Long]
    val error =
      try {
        val df = layer("construct")(SparkEntry.queries(name)(spark, dir))
        val qe = df.queryExecution
        layer("catalyst")(qe.executedPlan)
        phases = ListMap(qe.tracker.phases.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.durationMs }: _*)
        layer("execute")(noop(df))
        None
      } catch { case e: Throwable => Some(e.toString) }
      finally sc.removeSparkListener(rec)
    QueryProfile(name, layers, phases, error)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def stats(st: Seq[StageStats]): String = {
    def mb(f: StageStats => Long) = f"${st.map(f).sum / 1048576.0}%.1f"
    s"${st.size} stages ${st.map(_.tasks).sum} tasks shuffle r/w " +
      s"${mb(_.shuffleRead)}/${mb(_.shuffleWrite)} MB spill ${mb(_.spill)} MB"
  }

  /** The summary line, then one line per construction action. */
  private def render(p: QueryProfile, cpus: Int): Seq[String] = {
    val st = p.layers.values.flatMap(_.actions.flatMap(_.stages)).toSeq
    val wall = p.layers.values.map(_.seconds).sum
    val util = if (wall > 0) st.map(_.runMs).sum / 1e3 / (wall * cpus) else 0
    val phases = p.catalystPhasesMs.toSeq
      .map { case (k, v) => s"$k $v ms" }.mkString(" (", ", ", ")")
    val layers = p.layers.map { case (k, l) =>
      f"$k ${l.seconds}%.2f s ${l.actions.size} actions ${l.jobs} jobs" +
        (if (k == "catalyst") phases else "")
    }.mkString(" | ")
    val head = f"${p.name} $wall%.2f s: $layers | ${stats(st)} " +
      f"util ${util * 100}%.0f%%" + p.error.fold("")(e => s" | FAILED $e")
    head +: p.layers.get("construct").toSeq.flatMap(_.actions).map { a =>
      val ops = operators(a.plan)
      val plan = ops.distinct.map { o =>
        val n = ops.count(_ == o); if (n > 1) s"$o x$n" else o
      }.mkString(", ")
      f"  ${a.seconds}%7.2f s ${a.jobs}%3d jobs ${stats(a.stages)}  " +
        s"${a.site}  plan: $plan"
    }
  }

  /** JSON of a profile: a case class becomes an object keyed by its field
    * names. */
  private def json(v: Any): String = v match {
    case s: String => Verify.jsonString(s)
    case o: Option[_] => o.fold("null")(json)
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product =>
      json(ListMap(p.productElementNames.zip(p.productIterator).toSeq: _*))
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val (selected, sfDir, spark) = Bench.setup(args)
    selected.foreach(n => try noop(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => () })
    val profiles = selected.map { n =>
      val p = profile(spark, n, sfDir)
      render(p, spark.sparkContext.defaultParallelism).foreach(println)
      p
    }
    Files.writeString(Paths.get(sys.props("user.dir"), "PROFILE_FULL.json"),
      json(profiles))
    spark.stop()
  }
}
