package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.functions.IpFunctions
import graft.operators.Baseline.{BaselineConfig, ThresholdRule}
import graft.sources.Tables
import graft.streaming.StreamingHostgroups

final case class StreamRow(host: String, ts: Timestamp, value: Double)

/** One benchmark run inside one JVM: set-up, a cold pass, warm passes
  * for a fixed time, then the outputs the oracle check needs. Every
  * measurement is written as one JSON record per line to
  * `<out>/records.jsonl` when the run ends; `perfbench/run.py` turns the
  * records into metrics. Nothing here computes a statistic.
  *
  * Arguments are `key=value`: workload, data, out, seconds, trace (0|1),
  * seed, cores, and for the stream window_batches and window_seconds.
  */
object Main {

  // ---- records --------------------------------------------------------

  private val records = new ConcurrentLinkedQueue[String]()

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case b: Boolean => b.toString
    case r: RawJson => r.s
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  private def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(js(mutable.LinkedHashMap(("t" -> kind) +: fields: _*)))

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * time base as Spark's task and stage timestamps.
    */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  /** A span record; its id is the `id` attribute when given. */
  private def span(name: String, parent: Long, start: Double, end: Double,
      attrs: (String, Any)*): Unit = {
    val withId = if (attrs.exists(_._1 == "id")) attrs else ("id" -> newId()) +: attrs
    emit("span", Seq("name" -> name, "parent" -> parent, "start" -> start,
      "end" -> end) ++ withId: _*)
  }

  // ---- tracing: listeners attached only while a traced pass runs -----

  private def taskRecord(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    emit("task", "stage" -> e.stageId, "start" -> i.launchTime.toDouble,
      "end" -> i.finishTime.toDouble, "ok" -> i.successful,
      "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
      "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
      "gc_ms" -> m.map(_.jvmGCTime).getOrElse(0L),
      "shuffle_write" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "shuffle_read" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "spill" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "input_rows" -> m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      "input_bytes" -> m.map(_.inputMetrics.bytesRead).getOrElse(0L))
  }

  private final class Tap extends SparkListener {
    @volatile var drained: Set[String] = Set.empty
    private val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      groups.put(e.jobId, group)
      emit("job", "id" -> e.jobId, "group" -> group,
        "batch" -> p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))),
        "start" -> e.time.toDouble, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      emit("job_end", "id" -> e.jobId, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))
      val g = groups.remove(e.jobId)
      if (g != null && g.startsWith("drain")) drained += g
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      emit("stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.map(_.toDouble),
        "end" -> s.completionTime.map(_.toDouble), "tasks" -> s.numTasks,
        "ok" -> s.failureReason.isEmpty)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskRecord(e)
  }

  private final class Planning extends QueryExecutionListener {
    @volatile var drained: Set[String] = Set.empty
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val marker = qe.analyzed.output.map(_.name).find(_.startsWith("drain"))
      marker match {
        case Some(m) => drained += m
        case None =>
          val phases = qe.tracker.phases.map { case (k, p) =>
            k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
          }
          emit("plan", "func" -> func, "ok" -> ok, "phases" -> phases)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(f, qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe, ok = false)
  }

  private final class Progress extends StreamingQueryListener {
    @volatile var lastBatch = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(s: String): Option[Double] = Option(s).map(x =>
        java.time.Instant.parse(x).toEpochMilli.toDouble)
      val et = Option(p.eventTime).map(_.asScala).getOrElse(Map.empty[String, String])
      emit("progress", "batch" -> p.batchId, "start" -> ms(p.timestamp),
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_memory" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "watermark" -> et.get("watermark").flatMap(ms),
        "max_event" -> et.get("max").flatMap(ms))
      lastBatch = p.batchId
    }
  }

  private final class Tracer(spark: SparkSession) {
    val tap = new Tap
    val planning = new Planning
    val progress = new Progress
    private var drains = 0
    var on = false

    def start(): Unit = {
      spark.sparkContext.addSparkListener(tap)
      spark.listenerManager.register(planning)
      spark.streams.addListener(progress)
      on = true
    }

    /** Detach after every event of the traced work has been delivered:
      * a marker job queued behind them comes back through both buses.
      */
    def stop(lastStreamBatch: Long = -1L): Unit = {
      drains += 1
      val marker = s"drain$drains"
      spark.sparkContext.setJobGroup(marker, marker)
      spark.range(1).toDF(marker).collect()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000000000L
      while ((!tap.drained(marker) || !planning.drained(marker) ||
          progress.lastBatch < lastStreamBatch) && System.nanoTime() < deadline)
        Thread.sleep(1)
      spark.sparkContext.removeSparkListener(tap)
      spark.listenerManager.unregister(planning)
      spark.streams.removeListener(progress)
      on = false
    }
  }

  /** Classes compiled so far. The compile-time histogram beside this
    * counter samples and decays, so it gives no exact per-pass total.
    */
  private def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A pass span with the classes compiled since `cg0`. */
  private def passSpan(runSpan: Long, id: Long, pass: Int, traced: Boolean,
      start: Double, end: Double, cg0: Long): Unit =
    span("pass", runSpan, start, end, "id" -> id, "pass" -> pass, "traced" -> traced,
      "codegen_compiles" -> (codegenCount() - cg0))

  /** A traced run traces the cold pass, then warm passes in the order
    * traced, untraced, untraced, traced, ...: a warm-up trend then
    * biases neither side of the tracing overhead.
    */
  private def traced(c: Conf, pass: Int): Boolean =
    c.trace && (pass == 0 || pass % 4 == 0 || pass % 4 == 1)

  // ---- set-up ---------------------------------------------------------

  final case class Conf(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cores: Int,
      args: Map[String, String])

  private def parse(args: Array[String]): Conf = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    Conf(get("workload"), get("data"), get("out"), get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong, get("cores").toInt, kv)
  }

  /** Session, warm-up and table load, timed from JVM start: what a
    * one-shot run pays before its first query.
    */
  private def setup(c: Conf, tables: Seq[String], runSpan: Long): SparkSession = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation", s"${c.out}/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = now()
    spark.range(1000000).selectExpr("sum(id * 2)")
      .write.format("noop").mode("overwrite").save()
    val t2 = now()
    tables.foreach(t => Tables.load(spark, c.data, t).schema)
    val t3 = now()
    val id = newId()
    span("setup", runSpan, t0, t3, "id" -> id)
    span("session", id, t0, t1)
    span("warmup", id, t1, t2)
    span("table_load", id, t2, t3)
    spark
  }

  // ---- batch workloads ------------------------------------------------

  val pipelineKeys: Seq[String] = Seq("q_ip_roundtrip", "q_cidr_filter",
    "q_baseline_avg", "q_baseline_max", "q_metrics_wide", "q_baseline_p95",
    "q_thresholds", "q_hostgroups", "q_hostgroup_lifecycle", "q_lpm_enrich",
    "q_baseline_incremental")

  private def batch(c: Conf, keys: Seq[String], tables: Seq[String], runSpan: Long): Unit = {
    val spark = setup(c, tables, runSpan)
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(c.seed)
    var queryNo = 0

    def runQuery(key: String, passId: Long, pass: Int): Unit = {
      queryNo += 1
      val group = s"q$queryNo"
      val fn = SparkEntry.queries(key)
      sc.setJobGroup(group, key)
      val t0 = now()
      var t1 = t0
      var analysisMs = 0.0
      val ok =
        try {
          val df = fn(spark, c.data)
          t1 = now()
          // the built DataFrame was analysed eagerly, outside any action
          analysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
          df.write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $key failed: $e")
            false
        } finally sc.clearJobGroup()
      val t2 = now()
      val id = newId()
      span(s"query:$key", passId, t0, t2, "id" -> id, "group" -> group,
        "key" -> key, "pass" -> pass, "ok" -> ok, "build_analysis_ms" -> analysisMs)
      span("build", id, t0, t1)
      span("execute", id, t1, t2)
    }

    def runPass(pass: Int): Unit = {
      val on = traced(c, pass)
      if (on) tracer.start()
      val id = newId()
      val cg0 = codegenCount()
      val t0 = now()
      rng.shuffle(keys).foreach(k => runQuery(k, id, pass))
      val t1 = now()
      if (on) tracer.stop()
      passSpan(runSpan, id, pass, on, t0, t1, cg0)
    }

    runPass(0)
    // warm passes for `seconds`, at least three
    val start = now()
    var pass = 1
    while (now() - start < c.seconds * 1000 || pass < 4) {
      runPass(pass)
      pass += 1
    }
    if (c.trace) functionCosts(spark)

    // outputs for the oracle check, outside the timed passes
    keys.foreach { k =>
      try SparkEntry.queries(k)(spark, c.data).coalesce(1).write
        .mode("overwrite").parquet(s"${c.out}/results/$k")
      catch { case e: Exception => System.err.println(s"[perfbench] $k result failed: $e") }
    }
    emit("oracle", "sql" -> keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap)
    spark.stop()
  }

  /** ns/row of the IP expressions over a generated column, each timed
    * against the same plan with a constant in the expression's place.
    */
  private def functionCosts(spark: SparkSession): Unit = {
    val n = 8000000L
    val ids = spark.range(n)
    val host = concat_ws(".", lit(10), shiftright(col("id"), 16).bitwiseAND(255),
      shiftright(col("id"), 8).bitwiseAND(255), col("id").bitwiseAND(255))
    val ipNum = col("id") + lit(167772160L)
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    def perRow(input: Column, constant: Column, fn: Column): Double = {
      val base = ids.select(input.as("in"), constant.as("out"))
      val withFn = ids.select(input.as("in"), fn.as("out"))
      time(base); time(withFn)
      val diffs = (1 to 5).map(_ => time(withFn) - time(base)).sorted
      diffs(2) / n
    }
    emit("function", "name" -> "ip4_to_num", "ns_per_row" ->
      perRow(host, lit(0L), IpFunctions.ip4ToNum(host)))
    emit("function", "name" -> "cidr_contains", "ns_per_row" ->
      perRow(ipNum, lit(false), IpFunctions.cidrContains("10.0.0.64/26", ipNum)))
  }

  // ---- streaming workload ---------------------------------------------

  /** Baseline and threshold rules of the reference pipeline
    * (`ReferenceQueries`' hostgroup configuration), avg aggregation.
    */
  val streamCfg: BaselineConfig = BaselineConfig(
    hostCol = "host", tsCol = "ts", aggregationFunction = "avg",
    metrics = Map(
      "packets_incoming" -> col("value"),
      "bits_incoming" -> (col("value") * 1048576L),
      "flows_incoming" -> (col("value") / 10)),
    rules = Seq(
      ThresholdRule("packets_incoming", "value * 2", "threshold_pps"),
      ThresholdRule("bits_incoming", "value * 3", "threshold_mbps", divisor = 1048576L),
      ThresholdRule("flows_incoming", "value + 200", "threshold_flows")))

  private def stream(c: Conf, windowBatches: Int, windowSeconds: Int, runSpan: Long): Unit = {
    val spark = setup(c, Seq("stream"), runSpan)
    // the generated rows, grouped by batch, go to the driver before timing
    val tLoad = now()
    val batches: Array[Array[StreamRow]] = Tables.load(spark, c.data, "stream")
      .select("batch", "host", "ts", "value").collect()
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map(_._2.map(r => StreamRow(r.getString(1), r.getTimestamp(2), r.getDouble(3))))
    span("stream_load", runSpan, tLoad, now())

    val tracer = new Tracer(spark)
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[StreamRow]
    val actions = new ConcurrentLinkedQueue[String]()
    val window = s"$windowSeconds seconds"

    var warmStart = 0.0
    if (c.trace) tracer.start()
    var cycleSpan = newId()
    var cycleStart = now()
    var cycleCg = codegenCount()
    var cycleTraced = traced(c, 0)
    val query: StreamingQuery = StreamingHostgroups.run(
      mem.toDF(), streamCfg, prefix = 24,
      windowDuration = window, slideDuration = window, watermarkDelay = "0 seconds",
      removeExisting = true,
      currentHostgroups = s => {
        import s.implicits._
        Seq("global", "stale_group").toDF("name")
      },
      applyActions = (id, rows) => actions.add(js(mutable.LinkedHashMap(
        "batch" -> id,
        "rows" -> rows.map(r => Seq[Any](r.getAs[Int]("step"), r.getAs[String]("action"),
          r.getAs[String]("name"), r.getAs[Any]("threshold_pps"),
          r.getAs[Any]("threshold_mbps"), r.getAs[Any]("threshold_flows")))))))
    var fed = 0
    var failed = false
    try {
      // cycles of one window each; the first is the cold pass
      var cycle = 0
      while (!failed && (cycle < 4 || now() - warmStart < c.seconds * 1000) &&
          fed + windowBatches <= batches.length) {
        for (_ <- 0 until windowBatches) {
          val t0 = now()
          val ok =
            try { mem.addData(batches(fed).toSeq); query.processAllAvailable(); true }
            catch { case e: Exception =>
              System.err.println(s"[perfbench] batch $fed failed: $e"); false }
          fed += 1
          failed = !ok
          span("batch", cycleSpan, t0, now(), "index" -> (fed - 1), "ok" -> ok,
            "rows" -> batches(fed - 1).length)
        }
        val end = now()
        val lastTrigger = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
        if (cycleTraced) tracer.stop(lastTrigger)
        passSpan(runSpan, cycleSpan, cycle, cycleTraced, cycleStart, end, cycleCg)
        if (cycle == 0) warmStart = now() // warm cycles run for `seconds`
        cycle += 1
        cycleTraced = traced(c, cycle)
        cycleSpan = newId()
        cycleCg = codegenCount()
        cycleStart = now()
        if (cycleTraced) tracer.start()
      }
      if (tracer.on) tracer.stop(Option(query.lastProgress).map(_.batchId).getOrElse(-1L))
    } finally query.stop()
    if (c.trace) functionCosts(spark)
    emit("stream", "fed_batches" -> fed, "window_seconds" -> windowSeconds,
      "actions" -> actions.asScala.toSeq.map(RawJson))
    spark.stop()
  }

  /** A pre-rendered JSON value inside an emitted record. */
  private final case class RawJson(s: String) { override def toString: String = s }

  // ---- main -----------------------------------------------------------

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val runSpan = newId()
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    c.workload match {
      case "hostgroup_pipeline" => batch(c, pipelineKeys, Seq("events"), runSpan)
      case "hostgroup_stream" =>
        stream(c, c.args("window_batches").toInt, c.args("window_seconds").toInt, runSpan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    span("run", 0L, t0, now(), "id" -> runSpan)
    emit("end", "peak_rss_kb" -> peakRssKb(), "cores" -> c.cores)
    val out = Paths.get(c.out, "records.jsonl")
    Files.write(out, records.asScala.map(s => s: CharSequence).asJava)
  }
}
