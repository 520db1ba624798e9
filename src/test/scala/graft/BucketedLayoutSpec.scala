package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.BucketedLayout

/** The point of bucketing is the PLAN: a join of two tables bucketed on
  * the join key must show no Exchange on either side (pre-partitioned at
  * rest = shuffle-free co-located join). */
class BucketedLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("join of two bucketed tables plans with zero exchanges") {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    BucketedLayout.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 4)
    BucketedLayout.writeBucketed(ord, "b_orders", Seq("o_orderkey"), 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("o_totalprice"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(plan.contains("SortMergeJoin"))
      // no shuffle below the join: both sides read their buckets in place
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"),
        s"unexpected exchange under the join:\n$joinPart")
      assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected exchange under the join:\n$joinPart")
      // correctness unchanged vs the unbucketed join
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() > 0)
      assert(spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey")).count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("declared tmp_bucketed_join: shuffle-free SMJ over its bucketed tables") {
    // run the declared query body once — writes the bucketed layout and
    // returns the join result (the CORRECTNESS row checks the values;
    // here we pin the PLAN the layout buys)
    assert(SparkEntry.bucketedJoinQuery(spark, TestSpark.sfDir).count() > 0)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off = the 100 TB shape (neither side broadcastable)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = SparkEntry.bucketedJoinOver(spark)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      // zero exchange on either join side: buckets are co-located at rest
      assert(!joinPart.contains("Exchange hashpartitioning(c_custkey"),
        s"unexpected exchange under the join:\n$joinPart")
      assert(!joinPart.contains("Exchange hashpartitioning(o_custkey"),
        s"unexpected exchange under the join:\n$joinPart")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    }
  }

  test("concurrently awaits every task and rethrows the first failure") {
    // results arrive in task order regardless of completion order
    val slowFast = graft.sources.BucketedLayout.concurrently(
      () => { Thread.sleep(50); "slow" }, () => "fast")
    assert(slowFast === Seq("slow", "fast"))
    // a failing task must not abandon its siblings (no half-written
    // index: the survivors run to completion before the rethrow)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val ex = intercept[RuntimeException] {
      graft.sources.BucketedLayout.concurrently[Unit](
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(20); ran.incrementAndGet(); () },
        () => { ran.incrementAndGet(); () })
    }
    assert(ex.getMessage === "boom")
    assert(ran.get() === 2)
  }
}
