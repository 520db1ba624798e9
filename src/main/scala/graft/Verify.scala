package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (builder iteration)
    val only = args.drop(2).toSet
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        // Pin the file's physical row order to the query's logical order:
        // collect() is order-preserving, and one in-order partition makes
        // the dump deterministic run-to-run. (Note: the r2/r3 q96 hash
        // mismatch was NOT row order — it was the oracle SQL's uncast
        // DuckDB HUGEINT, fixed in SparkEntry — but a deterministic dump
        // is still cheap insurance.) Verify runs at sf≤0.01 only — this
        // collect is test-harness plumbing, not an engine path.
        val res = fn(spark, sfDir)
        val rows = java.util.Arrays.asList(res.collect(): _*)
        spark.createDataFrame(rows, res.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally GraftSession.clearAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // every other row is dumped, but a row that threw fails the run
    if (failed.nonEmpty) sys.exit(1)
  }
}
