package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** One timed pass: seconds for every row that ran, the error class of
    * every row that threw. */
  final case class Pass(times: Map[String, Double], failed: Map[String, String])

  /** Times each row's `count()`, clearing what it persisted after it. A
    * row that throws is recorded as failed with its error class and gets
    * no time: a crash must never read as a fast row. */
  def pass(spark: SparkSession, sfDir: String,
           rows: Iterable[(String, (SparkSession, String) => DataFrame)]): Pass = {
    val out = rows.toSeq.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r =
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(e.getClass.getName) }
      GraftSession.clearAll(spark)
      name -> r
    }
    Pass(out.collect { case (n, Right(t)) => n -> t }.toMap,
      out.collect { case (n, Left(e)) => n -> e }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (k, _) => only.forall(_(k)) }
    val rowClass = SparkEntry.inventory.map { case (n, q) => n -> q.benchClass }.toMap
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.build(cpus)
    // loadavg BEFORE the warm-up pass: loadavg_before is sampled after
    // warm-up, when the bench's own 32 threads have already driven the
    // 1-min average to 5+ — only this pre-warmup sample can prove the
    // host was externally quiet (the r8 verdict's clean-host ask)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg()
    // JIT/codegen warm-up: run every query once against the smallest
    // fixture so the timed pass below measures the engine, not
    // first-touch class loading and codegen compilation (cold-vs-warm
    // deltas of 3-6× were measured on the heavier queries).
    val warmDir = new java.io.File(sfDir).getParentFile match {
      case p if p != null && new java.io.File(p, "sf0.001").isDirectory =>
        Some(new java.io.File(p, "sf0.001").getPath)
      case _ => None
    }
    warmDir.foreach(pass(spark, _, selected))
    // bytes of block-manager storage currently in use — visible leak
    // detector: should be ~0 at every pass boundary after clearAll()
    def storageUsed(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
    // Per-query perf budgets (r6 verdict task 4): bench_budget.json pins
    // each query's clean-host best-of-2; any row whose best exceeds
    // multiplier× its budget lands in budget_violations. Turns "diff
    // per-query bests across bench_detail_r*.json by hand" into a
    // machine check that protects the 2×-of-baseline gate as heavy
    // coverage rows accumulate. Interpret under the loadavg fields: a
    // loaded host (r6: loadavg 8-9.5) produces spurious violations.
    val budgetFile = new java.io.File("bench_budget.json")
    val (budgets, budgetMult): (Map[String, Double], Double) =
      if (budgetFile.isFile) {
        val txt = scala.io.Source.fromFile(budgetFile).mkString
        val kv = "\"(\\w+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        (kv - "multiplier", kv.getOrElse("multiplier", 2.0))
      } else (Map.empty, 2.0)
    val loadBefore = loadavg()
    // best-of-2 timed passes: single-JVM local mode shows large
    // run-to-run variance (page cache, JIT recompilation, shuffle-file
    // GC); the min is the reproducible engine cost.
    val p1 = pass(spark, sfDir, selected)
    val (loadMid, storageMid) = (loadavg(), storageUsed())
    val p2 = pass(spark, sfDir, selected)
    val (loadAfter, storageAfter) = (loadavg(), storageUsed())
    // a row that threw in either pass is failed and left out of the
    // totals, the class subtotals and the gate
    val failed = (p2.failed ++ p1.failed).toSeq.sortBy(_._1)
    failed.foreach { case (k, e) =>
      System.err.println(s"[bench] $k failed: $e")
    }
    val results = p1.times.collect {
      case (k, v) if p2.times.contains(k) => k -> math.min(v, p2.times(k))
    }
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // detailed line FIRST (it is huge and the driver tails stdout — r1's
    // single combined line got truncated and parsed as null), then a
    // compact machine-readable total as the LAST line
    val classTotals = results.toSeq.groupBy { case (k, _) => rowClass(k) }
      .map { case (c, m) => c -> m.map(_._2).sum }
    val classJson = SparkEntry.benchClasses
      .map(c => s""""$c":{"sec":${classTotals.getOrElse(c, 0.0)},""" +
        s""""n":${results.keys.count(rowClass(_) == c)}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"detail","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // machine-readable 2×-of-baseline gate (r9 verdict task 7): per-query
    // seconds against the recorded r2 clean-host band (0.344 s/query at
    // sf0.1 / local[32] — BASELINE.md), all-in and plan-class. The gate
    // is a fact of the artifact, not a BASELINE.md hand computation.
    // the 0.344 band was recorded at sf0.1/local[32] ONLY — on any other
    // fixture the ratios would be meaningless, so they are emitted null
    // there (the per-query seconds stay; ADVICE r10)
    val baselinePerQ: Option[Double] =
      if (new java.io.File(sfDir).getName == "sf0.1") Some(0.344) else None
    val planSec = classTotals.getOrElse(SparkEntry.Plan, 0.0)
    val planN = results.keys.count(rowClass(_) == SparkEntry.Plan)
    val allInPerQ = if (results.nonEmpty) total / results.size else 0.0
    val planPerQ = if (planN > 0) planSec / planN else 0.0
    def j(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    val gateJson =
      s"""{"metric":"gate","baseline_per_q":${j(baselinePerQ)},""" +
      s""""all_in_per_q":$allInPerQ,"plan_per_q":$planPerQ,""" +
      s""""all_in_vs_baseline":${j(baselinePerQ.map(allInPerQ / _))},""" +
      s""""plan_vs_baseline":${j(baselinePerQ.map(planPerQ / _))}}"""
    println(gateJson)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"class_subtotals":$classJson,"sf":"$sfDir"}""")
    // Complete per-query artifact ON DISK (r2/r3 verdicts: both driver
    // stdout tails truncate at 2k chars, which made the r3 75.6s-vs-48.3s
    // scare undiagnosable from the recorded artifacts alone). Includes
    // both raw passes so environment noise (min≠either pass trend) is
    // visible after the fact.
    val detail = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""  "$k": {"best":$v,"pass1":${p1.times(k)},"pass2":${p2.times(k)}}"""
    }.mkString("{\n", ",\n", "\n}")
    // loadavg before/mid/after + storage-bytes at pass boundaries: makes
    // external-host-load contamination and cache leaks machine-detectable
    // from the artifact alone (r5 verdict tasks 1+7)
    // violations: best > multiplier×budget. New queries (no budget row
    // yet) are listed separately so a missing budget is visible, not a
    // silent pass. r11 verdict task 7: budgets regenerated from quiet
    // MINs fire on every loaded roll (22 refuted flags on the r11
    // driver roll) and protect nothing — on a roll whose PRE-WARMUP
    // loadavg shows external load (any of the 1/5/15-min averages
    // > 2.0), violations land in budget_violations_suspect_load
    // instead, still visible but not asserted; the next quiet roll
    // confirms or clears them.
    val hostLoaded = loadStart.split(",").take(3)
      .exists(s => s.nonEmpty && s.toDouble > 2.0)
    val allViolations = results.toSeq.sortBy(_._1).collect {
      case (k, v) if budgets.contains(k) && v > budgetMult * budgets(k) =>
        s"""{"q":"$k","best":$v,"budget":${budgets(k)}}"""
    }
    val violations = if (hostLoaded) Seq.empty else allViolations
    val suspectViolations = if (hostLoaded) allViolations else Seq.empty
    val unbudgeted = results.keys.filterNot(budgets.contains).toSeq.sorted
    val payload =
      s"""{"total":$total,"n_queries":${results.size},"sf":"$sfDir","cpus":$cpus,""" +
      s""""loadavg_start":"$loadStart","loadavg_before":"$loadBefore","loadavg_mid":"$loadMid","loadavg_after":"$loadAfter",""" +
      s""""storage_bytes_mid":$storageMid,"storage_bytes_after":$storageAfter,""" +
      s""""gate":$gateJson,""" +
      s""""class_subtotals":$classJson,""" +
      s""""budget_violations":${violations.mkString("[", ",", "]")},""" +
      s""""budget_violations_suspect_load":${suspectViolations.mkString("[", ",", "]")},""" +
      s""""host_loaded":$hostLoaded,""" +
      s""""unbudgeted":${unbudgeted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""failed":${failed.map { case (k, e) =>
        s"""{"q":"$k","error":"$e"}""" }.mkString("[", ",", "]")},""" +
      s""""queries":$detail}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), payload)
    // ALSO write a round-numbered copy (r4 verdict task 8): the driver
    // overwrites bench_detail.json every round, which made round-over-
    // round per-query regressions (q61-class noise) invisible without
    // git archaeology. Round = max existing BENCH_r* + 1 — the driver
    // writes BENCH_r{N}.json only after the round ends, so during round
    // N the highest on-disk artifact is N−1. Full runs only: dev runs
    // with SPARK_GRAFT_BENCH_ONLY would otherwise overwrite the round's
    // history with a partial query set.
    if (only.isEmpty) {
      val roundNum = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName))
        .map(_.group(1).toInt).foldLeft(0)(math.max) + 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"bench_detail_r$roundNum%02d.json"), payload)
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
