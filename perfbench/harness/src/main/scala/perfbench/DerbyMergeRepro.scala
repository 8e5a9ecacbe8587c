package perfbench

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.SparkSession

/** Repro of the embedded-Derby concurrent-writer defect the ingest
  * workload avoids with one writer partition: `Upsert.upsert` with the
  * Derby MERGE spelling, `writers` concurrent partitions and disjoint keys,
  * against the same path with a plain INSERT. Prints one line per variant
  * with the number of rounds that raised.
  *
  * Arguments: work directory, keys per round, writers, rounds.
  */
object DerbyMergeRepro {
  def main(args: Array[String]): Unit = {
    val Array(work, keys, writers, rounds) = args.take(4)
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    // a writer left blocked by the failure gives up after 5 s, not 60
    System.setProperty("derby.locks.waitTimeout", "5")
    val spark = SparkSession.builder().master(s"local[$writers]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    import spark.implicits._
    def sql(url: String, s: String): Unit = {
      val c = DriverManager.getConnection(url)
      try { c.createStatement().execute(s); () } finally c.close()
    }
    val merge =
      """MERGE INTO t USING SYSIBM.SYSDUMMY1 s ON t.k = CAST(? AS VARCHAR(32))
        |WHEN MATCHED THEN UPDATE SET v = CAST(? AS DOUBLE)
        |WHEN NOT MATCHED THEN INSERT (k, v)
        |  VALUES (CAST(? AS VARCHAR(32)), CAST(? AS DOUBLE))""".stripMargin
    val insert = "INSERT INTO t (k, v) VALUES (?, ?)"
    for ((name, stmt, order) <- Seq(("merge", merge, Seq(0, 1, 0, 1)),
        ("insert", insert, Seq(0, 1)))) {
      val failures = (1 to rounds.toInt).count { r =>
        // a fresh in-memory database per round: a failed round may leave
        // its own behind in any state
        val url = s"jdbc:derby:memory:repro_${name}_$r;create=true"
        sql(url, "CREATE TABLE t (k VARCHAR(32) PRIMARY KEY, v DOUBLE)")
        val df = (1 to keys.toInt).map(i => (s"r$r-k$i", i.toDouble)).toDF("k", "v")
          .repartition(writers.toInt)
        val failed =
          try {
            graft.sink.Upsert.upsert(df, url, new Properties(), "t", "k",
              sqlOverride = Some(stmt), paramOrder = Some(order)); false
          } catch { case _: Exception => true }
        failed
      }
      println(s"$name: $failures of $rounds rounds failed ($keys keys, $writers writers)")
    }
    spark.stop()
  }
}
