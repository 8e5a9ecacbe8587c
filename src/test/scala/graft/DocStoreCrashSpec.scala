package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BandStore, BoilerStore, DocStore}

/** Crash-retry contract of the two-table document stores: when one of
  * the two concurrently written tables fails inside its Spark job, the
  * caller gets the job's own exception, the failed table is untouched,
  * the other table holds either its complete write or none of it, and
  * running the same step again leaves both tables — and every probe
  * verdict — exactly as one clean run does. An append fails through a row
  * function that throws on one document; a retire fails on a corrupted
  * file of the source table, restored before the retry. Either table
  * fails in turn: the second one, which `Overlap.two` runs on its worker
  * thread, lets the first table's write run to its end; a failing first
  * table cancels the second table's write and waits for it before the
  * exception leaves. Toy rows only. */
class DocStoreCrashSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  import DocStoreCrashSpec.{Injected, boom}

  /** `store` with table `i`'s rows failing inside the job on doc 4. */
  private def failing(store: DocStore, i: Int): DocStore = {
    val t = store.tables(i)
    store.copy(tables = store.tables.updated(i, t.copy(rows = df =>
      t.rows(df).withColumn("doc_id", boom(col("doc_id"))))))
  }

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private def contents(store: DocStore, table: String): Seq[Seq[String]] =
    store.tables.map(t => spark.table(t.name(table)).collect()
      .map(_.toString).sorted.toSeq)

  private def causes(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: causes(t.getCause)

  /** Zero one parquet file of `dir` (same length) until `body` ends. */
  private def corrupted[A](dir: Path)(body: => A): A = {
    val f = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.matches("part-.*\\.parquet")).min
    val bytes = Files.readAllBytes(f)
    Files.write(f, new Array[Byte](bytes.length))
    try body finally { Files.write(f, bytes); () }
  }

  /** Append `batch` and retire `retired` on a store built from `base`,
    * failing each table in turn, and compare with one clean run. */
  private def crashAndRetry(tag: String, store: DocStore, base: DataFrame,
      batch: DataFrame, retired: DataFrame,
      verdicts: String => Map[Long, String]): Unit = {
    val dir = Files.createTempDirectory(s"graft-crash-$tag")
    def path(t: String) = dir.resolve(t).toString
    val (ref, gcRef) = (s"crash_${tag}_ref", s"crash_${tag}_gcref")
    val failed = Seq(1, 0)
    val names = Seq(ref, gcRef) ++
      failed.flatMap(i => Seq(s"crash_${tag}_t$i", s"crash_${tag}_gc$i"))
    try {
      store.write(base, ref, path(ref))
      val pre = contents(store, ref)
      store.append(batch, ref, path(ref))
      store.retire(spark, ref, retired, gcRef, path(gcRef))
      val clean = contents(store, ref)
      val cleanGc = contents(store, gcRef)
      assert(clean != pre, "the batch must add rows to both tables")
      assert(verdicts(ref) != verdicts(gcRef), "the retire must change a verdict")

      for (i <- failed) {
        val (t, gc, other) = (s"crash_${tag}_t$i", s"crash_${tag}_gc$i", 1 - i)
        store.write(base, t, path(t))
        val e = intercept[SparkException](
          failing(store, i).append(batch, t, path(t)))
        assert(causes(e).exists(c => String.valueOf(c.getMessage)
          .contains(Injected)), s"not the injected failure: $e")
        val mid = contents(store, t)
        assert(mid(i) == pre(i), s"the failed table $i must be untouched")
        if (i == 1) assert(mid(other) == clean(other), "the other table's append lands")
        else assert(mid(other) == pre(other) || mid(other) == clean(other),
          "the cancelled append of the other table is whole or absent")
        store.append(batch, t, path(t))
        assert(contents(store, t) == clean,
          s"the retried append must equal one clean append (table $i failed)")
        assert(verdicts(t) == verdicts(ref))

        val src = Paths.get(path(t) + store.tables(i).suffix)
        intercept[SparkException](corrupted(src)(
          store.retire(spark, t, retired, gc, path(gc))))
        store.retire(spark, t, retired, gc, path(gc))
        assert(contents(store, gc) == cleanGc,
          s"the retried retire must equal one clean retire (table $i failed)")
        assert(verdicts(gc) == verdicts(gcRef))
      }
    } finally
      for (n <- names; tb <- store.tables)
        spark.sql(s"DROP TABLE IF EXISTS ${tb.name(n)}")
  }

  private val a = (r: Range) => r.map(i => s"a$i").mkString(" ")
  private val c = (r: Range) => r.map(i => s"c$i").mkString(" ")
  private val e = (r: Range) => r.map(i => s"e$i").mkString(" ")

  test("band store: a failed append or retire of one table heals on retry") {
    val probe = docsDf(101L -> (a(1 to 40) + " zz tail"),
      103L -> (c(1 to 40) + " zz tail"), 104L -> (e(1 to 40) + " zz tail"))
    crashAndRetry("band", BandStore.Store,
      base = docsDf(1L -> a(1 to 40)),
      batch = docsDf(3L -> c(1 to 40), 4L -> e(1 to 40), 4L -> e(1 to 40)),
      retired = Seq(1L).toDF("doc_id"),
      verdicts = t => BandStore.probeStore(probe,
        spark.table(BandStore.bandsTable(t)),
        spark.table(BandStore.shinglesTable(t)))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.toString).toMap)
  }

  test("boilerplate store: a failed append or retire of one table heals on retry") {
    // "ntp00 … ntp23" cuts into four eligible CDC chunks (BoilerStoreSpec)
    val ntp = (0 until 24).map(i => f"ntp$i%02d").mkString(" ")
    def host(i: Long) = (0 until 30).map(j => s"h${i}w$j").mkString(" ")
    val wave = Seq(4L, 7L, 8L, 9L, 10L).map(i => i -> s"$ntp ${host(i)}")
    val probe = docsDf(900L -> s"$ntp ${host(900L)}")
    crashAndRetry("boiler", BoilerStore.Store,
      base = docsDf((1L to 3L).map(i => i -> host(i)): _*),
      batch = docsDf((wave :+ wave.head): _*),
      retired = Seq(7L).toDF("doc_id"),
      verdicts = t => BoilerStore.probeStore(probe,
        spark.table(BoilerStore.incTable(t)))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.toString).toMap)
  }
}

object DocStoreCrashSpec {
  val Injected = "injected store failure"
  // in the companion, so the task closure captures no test instance
  val boom = udf { (id: Long) =>
    if (id == 4L) throw new IllegalStateException(Injected)
    id
  }
}
