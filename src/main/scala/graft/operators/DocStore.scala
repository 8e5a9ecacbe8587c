package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.plans.Overlap
import graft.sink.Warehouse

/** The lifecycle of the persisted document stores ([[BandStore]],
  * [[BoilerStore]], [[SubstringStore]]). A store is one or two tables of
  * rows derived from (doc_id, …) documents, each bucketed + sorted on its
  * own probe key, so probes read the store side straight off the bucketed
  * scan. A store declares its layout — a shared `prepare` step and one
  * [[DocStore.Table]] per table — and gets [[write]], [[append]] and
  * [[retire]]. Two tables' writes run concurrently ([[Overlap.two]]:
  * disjoint tables, so the results are the sequential ones) over the
  * prepared frame, persisted so the shared step runs once.
  *
  * Idempotence is per table and per document: [[append]] dedups the batch
  * on doc_id (an at-least-once flow may deliver a document twice in ONE
  * batch, and both copies would pass a store-only guard), then each table
  * anti-joins the batch against its OWN doc_ids. A re-delivered document
  * is a no-op, and a crash that lands one table's append but not the
  * other's leaves no permanent skew: the retry appends exactly the missing
  * table's rows (DocStoreCrashSpec). A retry never overlaps the failed
  * call's writes: when the first table fails, [[Overlap.two]] cancels the
  * second table's write and waits for it before rethrowing.
  *
  * Retirement is a generation swap (q340's rule): each table minus the
  * retired doc_ids is written as a NEW table with its own bucketing, so a
  * complete generation stays live at every step, a running probe keeps
  * the generation it resolved at start, and a failed retire is healed by
  * running it again. */
final case class DocStore(prepare: DataFrame => DataFrame,
                          tables: Seq[DocStore.Table]) {
  require(tables.size == 1 || tables.size == 2,
    s"a document store has one or two tables, not ${tables.size}")

  /** (Over)write every table from a (doc_id, …) corpus. */
  def write(corpus: DataFrame, table: String, path: String): Unit =
    prepared(corpus) { p =>
      each(t => t.put(t.rows(p), table, path, "overwrite"))
    }

  /** Append admitted documents that each table does not hold yet;
    * `saveAsTable` append keeps every table's bucket spec. */
  def append(admitted: DataFrame, table: String, path: String): Unit = {
    val spark = admitted.sparkSession
    prepared(admitted.dropDuplicates("doc_id")) { p =>
      each { t =>
        val novel = p.join(spark.table(t.name(table)).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        t.put(t.rows(novel), table, path, "append")
      }
    }
  }

  /** Write every table minus the `retired` doc_ids as the GC generation
    * (`gcTable`, `gcPath`), keeping each table's columns and bucketing. */
  def retire(spark: SparkSession, table: String, retired: DataFrame,
             gcTable: String, gcPath: String): Unit = {
    val r = retired.select(col("doc_id"))
    each { t =>
      val current = spark.table(t.name(table))
      t.put(current.join(r, Seq("doc_id"), "left_anti")
          .select(current.columns.map(col).toSeq: _*),
        gcTable, gcPath, "overwrite")
    }
  }

  private def prepared(docs: DataFrame)(f: DataFrame => Unit): Unit =
    if (tables.size == 1) f(prepare(docs))
    else {
      val p = prepare(docs).persist(StorageLevel.MEMORY_AND_DISK)
      try f(p) finally { p.unpersist(); () }
    }

  private def each(f: DocStore.Table => Unit): Unit = tables match {
    case Seq(t) => f(t)
    case Seq(a, b) => Overlap.two(f(a), f(b)); ()
  }
}

object DocStore {

  /** One table of a store: `<store><suffix>` at `<path><suffix>`,
    * bucketed + sorted on `bucketCol`, holding `rows` of the prepared
    * documents. */
  final case class Table(suffix: String, bucketCol: String,
                         rows: DataFrame => DataFrame) {
    def name(store: String): String = store + suffix

    private[DocStore] def put(df: DataFrame, store: String, path: String,
                              mode: String): Unit =
      Warehouse.writeBucketed(df, name(store), path + suffix, bucketCol,
        IncrementalDedup.StoreBuckets, mode)
  }
}
