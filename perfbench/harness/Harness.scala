package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one op hands back: a JSON-writable result plus side data that
  * only a traced run records. */
final case class OpOut(result: Any, extra: Map[String, Any] = Map.empty,
                       df: Option[DataFrame] = None)

/** Executes one workload's ops through graft's public entry points. */
trait Runner {
  def run(op: JsonNode, spans: Spans, traced: Boolean): OpOut
  /** Output the ops left behind that only a read after the run can check. */
  def sinks(): Map[String, Any] = Map.empty
}

/** The benchmark's JVM: set-up, closed-loop timed phase,
  * raw per-op records to a JSON file. Statistics and output checks are
  * the Python side's job (perfbench/run.py).
  *
  * Usage: Harness <config.json> <out.json> */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val cfg = mapper.readTree(new File(args(0)))
    val clock = new Clock
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = cfg.get("workload").asText

    // set-up, once and cold: from JVM start, build the session and the
    // workload's runner (fixture tables resolved, streams started), then
    // the warm-up pass; set-up ends where the first timed op begins.
    val spark = buildSession(cfg)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runner = mkRunner(workload, spark, cfg)
    val runnerS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // warm-up pass, untimed and unchecked, every template once: KQL ops
    // on the tiny fixture, pipeline ops on the run's own runner so the
    // timed ops meet started streams and existing indexes. Ops of one
    // group run in order; groups run side by side, in list order.
    val w0 = clock.now()
    val warm = if (workload == "query") new KqlRunner(spark, cfg.get("warm_dir").asText, Nil) else runner
    val warmTimes = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val warmOps = cfg.get("warmup").elements().asScala.toSeq
    val groups = warmOps.map(_.get("group").asText).distinct
      .map(g => warmOps.filter(_.get("group").asText == g))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.get("cores").asInt)
    groups.map(ops => pool.submit(new Runnable { def run(): Unit = ops.foreach { op =>
      val t = clock.now()
      try warm.run(op, new Spans(clock, false), traced = false)
      catch { case scala.util.control.NonFatal(_) => () }
      warmTimes.merge(op.get("template").asText, clock.now() - t, _ + _)
    }})).foreach(_.get())
    pool.shutdown()
    clearCaches(spark)
    val warmupS = clock.now() - w0
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed closed loop: `clients` threads take ops in list order. An
    // untraced run is one segment with no listener; a traced run adds a
    // second segment, as many whole cycles again, with the listeners on,
    // so the tracing overhead is measured in the same JVM on the same mix.
    val clients = cfg.get("clients").asInt
    val records = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRecord]())
    val sc = spark.sparkContext
    val execL = new ExecListener(clock)
    val progL = new ProgressListener
    val phases = mutable.ArrayBuffer[(Boolean, Double, Double)]()
    val loadBefore = loadavg()
    for ((seg, ops) <- cfg.get("ops").elements().asScala.toIndexedSeq
        .groupBy(_.get("segment").asInt).toSeq.sortBy(_._1)) {
      val traced = seg == 1
      if (traced) { sc.addSparkListener(execL); spark.streams.addListener(progL) }
      val next = new AtomicInteger(0)
      val p0 = clock.now()
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < ops.size) {
            records.add(runOp(spark, runner, ops(i), c, clients == 1, traced, clock))
            i = next.getAndIncrement()
          }
        }, s"client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      phases += ((traced, p0, clock.now()))
      if (traced) {
        org.apache.spark.graftbench.BusDrain.drain(sc)
        sc.removeSparkListener(execL); spark.streams.removeListener(progL)
      }
    }
    val loadAfter = loadavg()
    // what the stream sinks hold after every feed, read outside the
    // timed phase for the output checks
    val sinks = try runner.sinks() catch {
      case scala.util.control.NonFatal(e) => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }

    val gen = new JsonFactory().createGenerator(new File(args(1)), JsonEncoding.UTF8)
    gen.writeStartObject()
    gen.writeStringField("workload", workload)
    gen.writeNumberField("setup_s", setupS)
    gen.writeNumberField("session_s", sessionS)
    gen.writeNumberField("runner_s", runnerS)
    gen.writeNumberField("warmup_s", warmupS)
    gen.writeFieldName("warmup_ops_s"); Json.write(gen, warmTimes.asScala)
    gen.writeFieldName("phases")
    Json.write(gen, phases.map { case (t, a, b) => Map("traced" -> t, "start" -> a, "end" -> b) }.toSeq)
    gen.writeFieldName("sinks"); Json.write(gen, sinks)
    gen.writeFieldName("env")
    Json.write(gen, Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "cores" -> cfg.get("cores").asInt,
      "loadavg_before_timed" -> loadBefore, "loadavg_after_timed" -> loadAfter,
      "vm_hwm_kb" -> vmHwmKb()))
    gen.writeArrayFieldStart("ops")
    records.asScala.sortBy(_.t0).foreach(_.write(gen, execL, progL))
    gen.writeEndArray()
    gen.writeEndObject()
    gen.close()
    // Spark's shutdown hook stops the session and its streams
    sys.exit(0)
  }

  final class OpRecord(val id: Int, template: String, client: Int, traced: Boolean,
                       val t0: Double, val t1: Double, out: Option[OpOut],
                       error: Option[String], spans: Seq[Span],
                       catalyst: Map[String, (Double, Double)]) {
    def write(g: JsonGenerator, execL: ExecListener, progL: ProgressListener): Unit = {
      val base = Map[String, Any]("id" -> id, "template" -> template, "client" -> client,
        "traced" -> traced, "t0" -> t0, "t1" -> t1, "ok" -> error.isEmpty,
        "error" -> error.orNull, "result" -> out.map(_.result).orNull)
      val tr: Map[String, Any] = if (!traced) Map.empty else Map(
        "spans" -> spans.map(s => Map("name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s"op-$id")),
        "catalyst" -> catalyst.map { case (k, (a, b)) => k -> Seq(a, b) },
        "extra" -> out.map(_.extra).getOrElse(Map.empty),
        "jobs" -> jobsOf(execL).map(j => Map(
          "start" -> j.start, "end" -> (if (j.end.isNaN) null else j.end), "stages" -> j.stages, "tasks" -> j.tasks,
          "run_s" -> j.runS, "cpu_s" -> j.cpuS, "sched_s" -> j.schedS,
          "max_task_s" -> j.maxTaskS, "gc_s" -> j.gcS, "shuffle_w" -> j.shuffleW,
          "shuffle_r" -> j.shuffleR, "spill" -> j.spill)),
        "progress" -> progressOf(out, progL))
      Json.write(g, base ++ tr)
    }

    /** The op's Spark jobs: those of its own job group, plus, for a
      * stream feed, the jobs its query ran (under the query's run id)
      * while the op waited for the commit. */
    private def jobsOf(execL: ExecListener): Seq[execL.Job] = {
      val stream = out.flatMap(_.extra.get("batches")).toSeq.flatMap {
        case (_, runId: String, _) => execL.jobsOf(runId).filter(j => j.start >= t0 && j.start <= t1)
        case _ => Nil
      }
      execL.jobsOf(s"op-$id") ++ stream
    }
  }

  private def progressOf(out: Option[OpOut], progL: ProgressListener): Seq[Map[String, Any]] =
    out.flatMap(_.extra.get("batches")).toSeq.flatMap {
      case (qid: String, _, sinceMs: Long) =>
        progL.progress.asScala.toSeq.filter(p => p.id.toString == qid &&
            java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs).map { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          Map[String, Any]("duration_ms" -> d, "input_rows" -> p.numInputRows,
            "state" -> p.stateOperators.toSeq.map(s => Map(
              "rows" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
              "commit_ms" -> s.commitTimeMs,
              "dropped_by_watermark" -> s.numRowsDroppedByWatermark)))
        }
      case _ => Nil
    }

  private def runOp(spark: SparkSession, runner: Runner, op: JsonNode, client: Int,
                    exclusive: Boolean, traced: Boolean, clock: Clock): OpRecord = {
    val id = op.get("id").asInt
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", op.get("template").asText, interruptOnCancel = false)
    val spans = new Spans(clock, traced)
    val t0 = clock.now()
    val (out, err) =
      try (Some(runner.run(op, spans, traced)), None)
      catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))) }
    val t1 = clock.now()
    sc.clearJobGroup()
    val catalyst = if (!traced) Map.empty[String, (Double, Double)] else
      out.flatMap(_.df).map(_.queryExecution.tracker.phases.map { case (k, p) =>
        k -> (clock.wallMs(p.startTimeMs), clock.wallMs(p.endTimeMs)) }).getOrElse(Map.empty)
    // a concurrent client may still be reading what another op cached
    if (exclusive) clearCaches(spark)
    new OpRecord(id, op.get("template").asText, client, traced, t0, t1,
      out.map(o => o.copy(df = None)), err, spans.items.toSeq, catalyst)
  }

  /** Drop what an op persisted, outside its timing (as Bench does). */
  private def clearCaches(spark: SparkSession): Unit = {
    graft.ext.LlmOps.releaseCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def mkRunner(workload: String, spark: SparkSession, cfg: JsonNode): Runner = {
    val dir = cfg.get("data_dir").asText
    val wh = cfg.get("warehouse").asText
    workload match {
      case "query" => new KqlRunner(spark, dir, cfg.get("tables").elements().asScala.map(_.asText).toSeq)
      case "pipeline" => new PipelineRunner(
        new LlmRunner(spark, dir, s"$wh/ivf", "mh", wh),
        new StreamRunner(spark, dir, cfg.get("stream_events").asText,
          s"$wh/ckpt", cfg.get("stream_min_value").asDouble))
    }
  }

  /** The session `graft.Bench` builds: Kryo, graft's SQL extensions, AQE,
    * a 5000-entry codegen cache, shuffle partitions = cores. */
  private def buildSession(cfg: JsonNode): SparkSession = {
    val cores = cfg.get("cores").asInt
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", cfg.get("warehouse").asText)
      .config("spark.local.dir", cfg.get("local_dir").asText)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.get("local_dir").asText)
      .config("spark.sql.streaming.checkpointLocation",
        s"${cfg.get("warehouse").asText}/ckpt")
      .getOrCreate()
    require(!spark.sparkContext.isStopped, "session builder returned a stopped context")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (bytes, data files) under a directory; Spark's bookkeeping files
    * (`_SUCCESS`, checksums) are not index data and are left out. */
  def dirStats(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(p).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
        .toSeq
      (files.map(f => java.nio.file.Files.size(f)).sum, files.size.toLong)
    }
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "" }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case scala.util.control.NonFatal(_) => -1L }
}

/** Minimal value → JSON writer for collected rows and records. Datetimes
  * become epoch microseconds, so both engines' answers compare as ints. */
object Json {
  def write(g: JsonGenerator, v: Any): Unit = v match {
    case null | None => g.writeNull()
    case Some(x) => write(g, x)
    case b: Boolean => g.writeBoolean(b)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case s: Short => g.writeNumber(s)
    case b: Byte => g.writeNumber(b.toInt)
    case d: Double => if (d.isNaN || d.isInfinite) g.writeString(d.toString) else g.writeNumber(d)
    case f: Float => write(g, f.toDouble)
    case d: java.math.BigDecimal => g.writeNumber(d)
    case d: BigDecimal => g.writeNumber(d.bigDecimal)
    case s: String => g.writeString(s)
    case t: java.sql.Timestamp => write(g, t.toInstant)
    case t: java.time.Instant => g.writeNumber(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => write(g, t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => g.writeString(d.toString)
    case d: java.time.LocalDate => g.writeString(d.toString)
    case a: Array[Byte] => g.writeString(a.map("%02x".format(_)).mkString)
    case r: Row => write(g, r.toSeq)
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(k.toString); write(g, x) }
      g.writeEndObject()
    case p: Product if !p.isInstanceOf[scala.collection.Iterable[_]] =>
      write(g, p.productIterator.toSeq)
    case s: scala.collection.Iterable[_] =>
      g.writeStartArray(); s.foreach(write(g, _)); g.writeEndArray()
    case a: Array[_] => write(g, a.toSeq)
    case other => g.writeString(other.toString)
  }
}
