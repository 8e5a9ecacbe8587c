package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains and the test suite run on, so every
  * measurement and every check sees the same plans. */
object Session {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // lets nanos-era events.parquet generations load; current micros
      // testdata ignores it — see Kpis.eventsTable's dual-form handling
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
