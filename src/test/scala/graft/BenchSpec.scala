package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** The bench inventory and the bench's per-row timing. */
class BenchSpec extends AnyFunSuite {
  test("inventory names are unique; classes are 332/19/18") {
    // `queries` and `oracleSql` are built with .toMap: a duplicate name
    // would silently drop a row
    val names = SparkEntry.inventory.map(_._1)
    assert(names.diff(names.distinct).isEmpty, "duplicate inventory names")
    // the class_subtotals counts of bench_detail_r12_resume1.json
    val counts = SparkEntry.inventory.groupBy(_._2.benchClass).map { case (c, rs) => c -> rs.size }
    assert(counts == Map(SparkEntry.Plan -> 332, SparkEntry.IndexBuild -> 19,
      SparkEntry.StreamingHarness -> 18))
  }

  test("a throwing row is reported failed and not timed") {
    val spark = TestSpark.spark
    val boom = udf((x: Long) => if (x == 3) throw new IllegalStateException("planted") else x)
    val rows: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "throws_at_plan" -> ((_, _) => throw new IllegalArgumentException("planted")),
      // a filter, because count() would prune a projected column away
      "throws_at_exec" -> ((s, _) => s.range(10).filter(boom(col("id")) >= 0).toDF()))
    val p = Bench.pass(spark, TestSpark.sfDir, rows)
    assert(p.times.keySet == Set("ok"))
    assert(p.failed.keySet == Set("throws_at_plan", "throws_at_exec"))
    assert(p.failed("throws_at_plan") == classOf[IllegalArgumentException].getName)
  }
}
