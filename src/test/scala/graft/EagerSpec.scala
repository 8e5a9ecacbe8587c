package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Eager

class EagerSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("ckptCounted counts what count() counts and keeps the rows") {
    val multi = spark.range(0, 1000, 1, 7).toDF("id")
      .selectExpr("id % 97 AS k", "id").repartition(5, col("k"))
    val cases = Seq(
      "empty" -> spark.range(0, 0).toDF("id").selectExpr("id AS k", "id"),
      "emptied through a shuffle" -> multi.where("id < 0"),
      "multi-partition" -> multi)
    cases.foreach { case (name, df) =>
      val (out, n) = Eager.ckptCounted(df)
      assert(n == df.count(), name)
      assert(out.collect().sortBy(_.getLong(1)).toSeq ==
        df.collect().sortBy(_.getLong(1)).toSeq, name)
    }
    assert(Eager.ckptCounted(multi)._2 == 1000L)
  }
}
