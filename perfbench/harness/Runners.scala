package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.LlmOps
import graft.kql.{Catalog, Kql, Parser, Planner}
import graft.streaming.StreamingOps

/** KQL text → collected rows. Untraced it is exactly `Kql.run(spark,
  * text, dir)`; traced, the same three steps run one at a time so each
  * gets its span: a fresh Catalog resolves the op's tables, then the
  * parser, then the planner (whose table lookups now hit that catalog).
  * Set-up resolves every table once, as a server would at start. */
final class KqlRunner(spark: SparkSession, dir: String, tables: Seq[String]) extends Runner {
  tables.foreach(Catalog(spark, dir).table)

  def run(op: JsonNode, spans: Spans, traced: Boolean): OpOut = {
    val text = op.get("kql").asText
    val df =
      if (!traced) Kql.run(spark, text, dir)
      else {
        val cat = Catalog(spark, dir)
        spans("catalog") { op.get("tables").elements().asScala.foreach(t => cat.table(t.asText)) }
        val st = spans("parse") { new Parser(text).parseStatements() }
        spans("plan") { new Planner(spark, cat).planStatements(st) }
      }
    val rows = spans("execute") { df.collect() }
    OpOut(rows.toSeq, Map("result_rows" -> rows.length), Some(df))
  }
}

/** One `graft.ext.LlmOps` stage per op over a doc-id / vec-id slice. The
  * fixture tables are resolved once, here, as a pipeline would. */
final class LlmRunner(spark: SparkSession, dir: String, ivfPath: String,
                      mhTable: String, warehouse: String) extends Runner {
  private val cat = Catalog(spark, dir)
  private val docs = cat.table("documents")
  private val embs = cat.table("embeddings")
  private val vectors: Map[Long, Array[Double]] =
    embs.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
  @volatile private var centroids: Array[Array[Double]] = Array.empty
  @volatile private var cellRows: Map[Int, Long] = Map.empty

  private def docSlice(op: JsonNode): DataFrame =
    docs.filter(col("doc_id") >= op.get("doc_lo").asLong && col("doc_id") < op.get("doc_hi").asLong)
  private def embSlice(op: JsonNode): DataFrame =
    embs.filter(col("vec_id") >= op.get("emb_lo").asLong && col("vec_id") < op.get("emb_hi").asLong)
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  def run(op: JsonNode, spans: Spans, traced: Boolean): OpOut = {
    val stage = op.get("stage").asText
    val result: Any = spans(s"llm.$stage") {
      stage match {
        case "dedup_exact" => Map("rows" -> LlmOps.dedupExact(docSlice(op)).collect().length)
        case "near_dup_minhash" => noop(LlmOps.nearDupPairsMinhash(docSlice(op), 0.8)); Map()
        case "quality_score" => Map("rows" -> LlmOps.qualityScore(docSlice(op)).collect().length)
        case "tf_idf" => noop(LlmOps.tfIdf(docSlice(op))); Map()
        case "knn_cosine" =>
          Map("ids" -> ids(LlmOps.knnCosine(embSlice(op), op.get("query_id").asLong,
            op.get("k").asInt)))
        case "ivf_build" =>
          centroids = LlmOps.buildIvfIndex(embSlice(op), ivfPath, nLists = 16)
          Map("cells" -> centroids.length)
        case "ivf_probe" =>
          Map("ids" -> ids(LlmOps.annCosineIvfIndexed(spark, ivfPath, centroids,
            vectors(op.get("query_id").asLong), op.get("k").asInt, nProbe = 2)))
        case "minhash_index_build" => LlmOps.buildMinhashIndex(docSlice(op), mhTable); Map()
        case "minhash_index_append" => LlmOps.appendToMinhashIndex(docSlice(op), mhTable); Map()
        case "dedup_incremental" =>
          Map("kept" -> ids(LlmOps.dedupIncremental(docSlice(op), mhTable).select("doc_id")))
      }
    }
    OpOut(result, if (traced) sideData(stage, op) else Map.empty)
  }

  /** Traced only, after the op's own spans: index footprint on disk and
    * the IVF probe's scanned share of the index. */
  private def sideData(stage: String, op: JsonNode): Map[String, Any] = stage match {
    case "ivf_build" =>
      cellRows = spark.read.parquet(ivfPath).groupBy("__cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Map("index" -> Harness.dirStats(ivfPath))
    case "ivf_probe" =>
      val cells = LlmOps.ivfProbeCells(centroids, vectors(op.get("query_id").asLong), 2)
      Map("scanned_rows" -> cells.map(c => cellRows.getOrElse(c, 0L)).sum,
        "index_rows" -> cellRows.values.sum)
    case "minhash_index_build" | "minhash_index_append" =>
      Map("index" -> Seq("bands", "toks", "meta")
        .map(s => Harness.dirStats(s"$warehouse/${mhTable}_$s"))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2)))
    case _ => Map.empty
  }
}

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Five streaming queries over six MemoryStream sources (the join reads
  * two), started at set-up. A feed op adds the stream's next seeded batch
  * and waits until the query has committed it; a read op reads the
  * materialized view. */
final class StreamRunner(spark: SparkSession, dir: String, eventsFile: String,
                         ckpt: String, minValue: Double) extends Runner {
  import spark.implicits._
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** (stream, side, batch) → events, from the generator's TSV file. */
  private val batches: Map[(String, Int, Int), Seq[Ev]] = {
    val src = scala.io.Source.fromFile(eventsFile)
    try src.getLines().map(_.split('\t')).toSeq.groupBy(f => (f(0), f(1).toInt, f(2).toInt))
      .map { case (k, rows) => k -> rows.map(f => Ev(f(3).toLong,
        java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(f(4).toLong * 1000)),
        f(5).toLong, f(6), f(7).toDouble)) }
    finally src.close()
  }
  private val view = "mv"
  private val sources = Seq("kql_bin", "tumbling_matview", "session", "dedup", "join", "join_r")
    .map(s => s -> MemoryStream[Ev]).toMap
  private def memory(df: DataFrame, name: String, mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", s"$ckpt/$name").start()
  private val queries: Map[String, StreamingQuery] = Map(
    "kql_bin" -> memory(Kql.runStream(spark,
      s"events | where value > $minValue | summarize n = count(), s = sum(value) by w = bin(ts, 1h), event_type",
      dir, Map("events" -> sources("kql_bin").toDF())), "kql_bin", "update"),
    "tumbling_matview" -> StreamingOps.matViewStream(
      StreamingOps.tumblingAgg(sources("tumbling_matview").toDF(), "10 minutes", "1 hour"),
      view, Some(s"$ckpt/$view")),
    "session" -> memory(StreamingOps.sessionAgg(sources("session").toDF(), "5 minutes", "5 minutes"),
      "session", "append"),
    "dedup" -> memory(StreamingOps.dedupStream(sources("dedup").toDF(), "event_id", "1 hour"),
      "dedup", "append"),
    "join" -> memory(sources("join").toDF().withWatermark("ts", "1 hour")
      .join(sources("join_r").toDF().select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value")).withWatermark("r_ts", "1 hour"),
        expr("user_id = r_user AND r_ts >= ts AND r_ts <= ts + interval 10 minutes")),
      "join", "append"))

  def run(op: JsonNode, spans: Spans, traced: Boolean): OpOut = {
    val stream = op.get("stream").asText
    val batch = op.get("cycle").asInt
    if (stream == "matview_read") {
      val rows = spans("stream.read") {
        spark.catalog.refreshTable(view)
        StreamingOps.matViewRead(spark, view, Seq("ts", "event_type"))
          .select("ts", "event_type", "n", "s", "n_updates").collect()
      }
      return OpOut(rows.toSeq, Map("result_rows" -> rows.length))
    }
    val q = queries(stream)
    val since = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MILLIS)
    spans("stream.feed") {
      sources(stream).addData(batches((stream, 0, batch)))
      if (stream == "join") sources("join_r").addData(batches((stream, 1, batch)))
      q.processAllAvailable()
    }
    q.exception.foreach(e => throw e)
    // the micro-batches this op triggered: progress reports since it began
    val mine = q.recentProgress.filter(p => !java.time.Instant.parse(p.timestamp).isBefore(since))
    OpOut(Map("input_rows" -> mine.map(_.numInputRows).sum),
      Map("batches" -> ((q.id.toString, q.runId.toString, since.toEpochMilli))))
  }

  /** Every memory sink, whole: what the feeds so far have produced. The
    * session stream's watermark is read first: the sink already holds
    * what the batch that reported it emitted (progress follows the sink
    * commit), and perhaps more. */
  override def sinks(): Map[String, Any] = {
    queries.values.foreach(_.processAllAvailable())
    val wm = Option(queries("session").lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark"))).map(java.time.Instant.parse)
    Map("session_watermark" -> wm) ++ memorySinks()
  }

  private def memorySinks(): Map[String, Any] = Map(
    "kql_bin" -> spark.table("kql_bin").select("w", "event_type", "n", "s").collect().toSeq,
    "session" -> spark.table("session").select("user_id", "sess_start", "sess_end", "n_events")
      .collect().toSeq,
    "dedup" -> spark.table("dedup").select("event_id").collect().map(_.getLong(0)).toSeq,
    "join" -> spark.table("join").select("user_id", "ts", "r_ts").collect().toSeq)
}

/** LlmOps stages and stream ops of one pipeline, dispatched by op kind. */
final class PipelineRunner(llm: LlmRunner, stream: StreamRunner) extends Runner {
  def run(op: JsonNode, spans: Spans, traced: Boolean): OpOut =
    if (op.get("kind").asText == "llm") llm.run(op, spans, traced) else stream.run(op, spans, traced)
  override def sinks(): Map[String, Any] = stream.sinks()
}
