package graft

import org.apache.spark.sql.SparkSession

/** The one graft session. Bench, Verify, Explain, Scale and the specs
  * all run on this configuration, so a plan printed or tested anywhere is
  * the plan Bench times. */
object GraftSession {
  /** Executor threads: `SPARK_GRAFT_CPUS`, else the host's core count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int = defaultCores, logLevel: String = "WARN"): SparkSession = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // KQL fidelity: failed casts yield null, not errors (SURVEY §7.4)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // fixture events.ts is TIMESTAMP(NANOS); read as long + normalize
      // in graft.kql.Catalog
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // session-build extensions hook: graft_* SQL functions (the
      // tmp_extensions_sql inventory row proves the injection end-to-end)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Kryo for the one RDD path (connected components): Tuple2[Long,
      // Long] shuffle rounds are ~2x cheaper than Java serialization;
      // DataFrame shuffles (Tungsten UnsafeRow) are unaffected
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // the inventory's many codegen'd stages blow through the default
      // 100-entry generated-class cache, so later queries (and every
      // pass-2 rerun) pay full JIT again — the main source of the
      // in-bench-vs-standalone gap on the heavy rows
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop everything a row persisted, between rows. Accumulated storage
    * otherwise squeezes execution memory and inflates the heavy shuffle
    * rows (measured 2× on minhash by the end of a 142-query pass).
    * clearCache() only drops DataFrame/catalog caches; RDD-level persists
    * (the CC loop's localCheckpoint blocks) are invisible to it and are
    * reclaimed only by ContextCleaner GC, which a large single-JVM heap
    * almost never triggers (r5: llm_pipeline_v2 4.8→19.2 s in pass 2), so
    * every RDD is unpersisted too. Last, the library's persist-tracking
    * queue is drained, freeing the retained plan references. */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.ext.LlmOps.releaseCaches()
  }
}
