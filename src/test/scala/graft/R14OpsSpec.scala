package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.LlmOps

/** r14 ops: IVF-probed hard-negative mining (the growing-anchor scale
  * path the scan form's Scaladoc promised). */
class R14OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def embs = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  test("hardNegativesIvf: nProbe = nLists degenerates to the scan form exactly") {
    // probing every cell scans the whole different-label corpus — the
    // candidate sets are identical, so the deterministic quantized
    // (cos_u desc, id) cut must return the SAME rows
    val bf = LlmOps.hardNegatives(embs, anchorEvery = 100, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val ivf = LlmOps.hardNegativesIvf(embs, anchorEvery = 100, k = 5,
      nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(bf.nonEmpty && ivf == bf)
  }

  test("hardNegativesIvf: pruned probes keep scores exact; recall vs scan form") {
    val bf = LlmOps.hardNegatives(embs, anchorEvery = 100, k = 5)
    val ivf = LlmOps.hardNegativesIvf(embs, anchorEvery = 100, k = 5,
      nLists = 8, nProbe = 3)
    // (1) every returned score is the exact quantized cosine — recompute
    // independently per returned pair (bounded: anchors × k pairs)
    val v = embs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("n", sqrt(aggregate(col("v"), lit(0d), (a, x) => a + x * x)))
    val recomputed = ivf
      .join(v.select(col("vec_id").as("anchor_id"), col("v").as("av"), col("n").as("an")), "anchor_id")
      .join(v.select(col("vec_id").as("neg_id"), col("v").as("nv"), col("n").as("nn")), "neg_id")
      .withColumn("cos_chk", round(
        graft.expr.DotProductD(spark, col("av"), col("nv")) /
          (col("an") * col("nn")) * 10000).cast("long"))
    assert(recomputed.filter(col("cos_chk") =!= col("cos_u")).count() == 0L)
    // (2) pruning never invents pairs with the anchor's own label and
    // ranks stay a dense 1..n per anchor
    val perAnchor = ivf.groupBy("anchor_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx")).collect()
    perAnchor.foreach(r => assert(r.getLong(1) == r.getLong(2)))
    // (3) recall of the scan form's top-k at nProbe=3/8 — measured well
    // above this floor at the fixture; the margin absorbs corpus drift
    val hit = ivf.join(bf, Seq("anchor_id", "neg_id")).count().toDouble
    val total = bf.count().toDouble
    assert(total > 0 && hit / total >= 0.5, s"recall ${hit / total}")
  }

  test("hardNegativesIvfIndexed: at-rest probes — full-probe parity, pruned recall") {
    // the deployed form: cells assigned ONCE at buildIvfIndex time (the
    // parquet partition column), probes pay no per-call assignment
    val path = sys.props("java.io.tmpdir") + "/graft_hn_ivf_spec"
    val cents = LlmOps.buildIvfIndex(embs, path, nLists = 8)
    val bf = LlmOps.hardNegatives(embs, anchorEvery = 100, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // probing all cells scans the whole corpus regardless of how the
    // quantizer assigned it — exact parity with the scan form
    val full = LlmOps.hardNegativesIvfIndexed(spark, path, cents,
        anchorEvery = 100, k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(bf.nonEmpty && full == bf)
    // pruned probes: dense per-anchor ranks and a recall floor
    val pruned = LlmOps.hardNegativesIvfIndexed(spark, path, cents,
      anchorEvery = 100, k = 5, nProbe = 3)
    pruned.groupBy("anchor_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx")).collect()
      .foreach(r => assert(r.getLong(1) == r.getLong(2)))
    val bfSet = bf.map(t => (t._1, t._3)).toSet
    val hit = pruned.collect().count(r => bfSet((r.getLong(0), r.getLong(2))))
    assert(bf.nonEmpty && hit.toDouble / bf.size >= 0.5,
      s"recall ${hit.toDouble / bf.size}")
  }

  test("hardNegativesStream: pruned-probe batch parity with the one-shot form") {
    // the index is read-only under the stream, so batch boundaries
    // cannot change results — union of two micro-batches' commits must
    // equal the one-shot indexed form over the same anchors, at the
    // SAME pruned nProbe (parity must not rely on exhaustive probes)
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = sys.props("java.io.tmpdir") + "/graft_hn_stream_spec"
    val cents = LlmOps.buildIvfIndex(embs, path, nLists = 8)
    graft.sources.BucketedLayout.dropTable(spark, "graft_hn_stream_spec_out")
    val anchors = embs.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Long, Seq[Double])].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Seq[Double])]
    val src = ms.toDF().toDF("vec_id", "label", "embedding")
    val q = graft.streaming.StreamingOps.hardNegativesStream(
      src, path, cents, "graft_hn_stream_spec_out", k = 5, nProbe = 3)
    try {
      ms.addData(anchors.filter(_._1 % 200 == 0): _*); q.processAllAvailable()
      ms.addData(anchors.filter(_._1 % 200 != 0): _*); q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("graft_hn_stream_spec_out")
    val streamed = spark.table("graft_hn_stream_spec_out")
      .select("anchor_id", "rank", "neg_id", "cos_u").collect()
      .map(_.toString).sorted.toSeq
    val oneShot = LlmOps.hardNegativesIvfIndexed(spark, path, cents,
        anchorEvery = 100, k = 5, nProbe = 3).collect()
      .map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == oneShot)
  }

  test("hardNegativesIvf: pretrained centroids short-circuit training") {
    val cents = LlmOps.trainIvfCentroids(embs, nLists = 8)
    val a = LlmOps.hardNegativesIvf(embs, anchorEvery = 200, k = 3,
      nLists = 8, nProbe = 2, pretrained = Some(cents)).collect()
    val b = LlmOps.hardNegativesIvf(embs, anchorEvery = 200, k = 3,
      nLists = 8, nProbe = 2).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq)
  }
}
