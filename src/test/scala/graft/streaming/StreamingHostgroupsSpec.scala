package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSuite
import graft.operators.Baseline.{BaselineConfig, ThresholdRule}

/** The reference's cron loop (baseline → hostgroups → remove/create
  * API actions) as one continuous query: each watermark-finalized
  * window triggers a reconciliation against the current hostgroups.
  */
class StreamingHostgroupsSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("finalized windows drive remove/create hostgroup actions") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext

    val mem = MemoryStream[Ev]
    val cfg = BaselineConfig(
      hostCol = "host", tsCol = "ts", aggregationFunction = "avg",
      metrics = Map("packets_incoming" -> col("value")),
      rules = Seq(ThresholdRule("packets_incoming", "value * 2", "threshold_pps")))

    val applied = mutable.Buffer.empty[(Long, Seq[(Int, String, String)])]
    val query = StreamingHostgroups.run(
      mem.toDF(), cfg, prefix = 24,
      windowDuration = "10 minutes", slideDuration = "10 minutes",
      watermarkDelay = "0 seconds",
      removeExisting = true,
      currentHostgroups = s => {
        import s.implicits._
        Seq("global", "stale_group").toDF("name")
      },
      applyActions = (id, rows) => applied.synchronized {
        applied += id -> rows.map((r: Row) => (r.getAs[Int]("step"),
          r.getAs[String]("action"), r.getAs[String]("name")))
      })
    try {
      mem.addData(
        Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0),
        Ev("10.0.1.9", ts("2024-01-01 00:03:00"), 50.0))
      query.processAllAvailable()
      // advance the watermark past window 1 to finalize it
      mem.addData(Ev("10.0.0.7", ts("2024-01-01 00:25:00"), 75.0))
      query.processAllAvailable()

      val plans = applied.synchronized(applied.toList)
      assert(plans.nonEmpty, "no reconciliation fired")
      val actions = plans.head._2
      // sweep removes everything but global, then creates the groups
      // generated from the finalized window
      assert(actions == Seq(
        (0, "remove", "stale_group"),
        (1, "create", "10_0_0_0"),
        (1, "create", "10_0_1_0")))
    } finally query.stop()
  }

  private val cfg = BaselineConfig(
    hostCol = "host", tsCol = "ts", aggregationFunction = "avg",
    metrics = Map("packets_incoming" -> col("value")),
    rules = Seq(ThresholdRule("packets_incoming", "value * 2", "threshold_pps")))

  private val key = LocalCheckpointFileManager.ConfKey

  /** A run over `mem` that records each trigger's create actions and
    * the checkpoint file manager its stream session names.
    */
  private final class Run(mem: MemoryStream[Ev], checkpoint: Option[String]) {
    val creates = mutable.Buffer.empty[(Long, String)]
    val managers = mutable.Set.empty[Option[String]]
    val query: StreamingQuery = StreamingHostgroups.run(
      mem.toDF(), cfg, prefix = 24,
      windowDuration = "10 minutes", slideDuration = "10 minutes",
      watermarkDelay = "0 seconds",
      removeExisting = true,
      currentHostgroups = s => {
        managers.synchronized(managers += s.conf.getOption(key))
        import s.implicits._
        Seq("global").toDF("name")
      },
      applyActions = (id, rows) => creates.synchronized {
        creates ++= rows.filter(_.getAs[String]("action") == "create")
          .map(r => id -> r.getAs[String]("name"))
      },
      checkpointLocation = checkpoint)
  }

  /** Window `w` (10 minutes from midnight) on network 10.0.w.0/24. */
  private def windowRow(w: Int) =
    Ev(s"10.0.$w.1", ts(f"2024-01-01 00:${w * 10 + 1}%02d:00"), 10.0 * w)

  test("each trigger executes the stateful stage once") {
    val sq = spark
    implicit val ctx = sq.sqlContext
    import sq.implicits._
    val mem = MemoryStream[Ev]
    val run = new Run(mem, None)
    val queryId = run.query.id.toString
    // stage id -> batch id of this query's jobs; batch id -> stateful stages run
    val stageBatch = new ConcurrentHashMap[Integer, java.lang.Long]()
    val stateful = new ConcurrentHashMap[java.lang.Long, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") == queryId)
          Option(e.properties.getProperty("streaming.sql.batchId")).foreach { b =>
            e.stageIds.foreach(stageBatch.put(_, b.toLong))
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD"))
          Option(stageBatch.get(e.stageInfo.stageId)).foreach { b =>
            stateful.merge(b, 1, (x: Integer, y: Integer) => x + y)
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (0 to 3).foreach { w =>
        mem.addData(windowRow(w))
        run.query.processAllAvailable()
      }
      val last = run.query.lastProgress.batchId
      eventually(timeout(30.seconds))(assert(stateful.containsKey(last)))
      val finalizing = run.creates.synchronized(run.creates.map(_._1).distinct.toList)
      assert(finalizing.size == 3, s"windows 0-2 finalize in distinct triggers: $finalizing")
      finalizing.foreach(b => assert(stateful.get(b) == 1,
        s"finalizing trigger $b ran the stateful stage ${stateful.get(b)} times"))
      stateful.forEach((b, n) => assert(n == 1, s"trigger $b ran the stateful stage $n times"))
    } finally {
      run.query.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("local checkpoints by default; the session conf is left as it was") {
    val sq = spark
    implicit val ctx = sq.sqlContext
    import sq.implicits._
    assert(spark.conf.getOption(key).isEmpty)
    val mem = MemoryStream[Ev]
    val run = new Run(mem, None)
    try {
      assert(spark.conf.getOption(key).isEmpty, "run must restore the session conf")
      mem.addData(windowRow(0), windowRow(1))
      run.query.processAllAvailable()
      assert(run.managers == Set(Some(classOf[LocalCheckpointFileManager].getName)))
    } finally run.query.stop()
  }

  test("a checkpoint file manager the user set is respected") {
    val sq = spark
    implicit val ctx = sq.sqlContext
    import sq.implicits._
    val mine = classOf[CountingCheckpointFileManager].getName
    spark.conf.set(key, mine)
    try {
      val before = CountingCheckpointFileManager.created.get
      val mem = MemoryStream[Ev]
      val run = new Run(mem, None)
      try {
        assert(spark.conf.getOption(key).contains(mine))
        mem.addData(windowRow(0), windowRow(1))
        run.query.processAllAvailable()
        assert(run.managers == Set(Some(mine)))
        assert(CountingCheckpointFileManager.created.get > before)
      } finally run.query.stop()
    } finally spark.conf.unset(key)
  }

  /** Runs windows 0-1 under `first`, restarts on the same checkpoint
    * under `second`, runs windows 2-3; `None` is the default.
    */
  private def restartAcross(first: Option[String], second: Option[String]): Unit = {
    val sq = spark
    implicit val ctx = sq.sqlContext
    import sq.implicits._
    val dir = Files.createTempDirectory("graft-hostgroups-cp")
    val mem = MemoryStream[Ev]
    def phase(manager: Option[String], windows: Seq[Int]): Run = {
      manager.foreach(spark.conf.set(key, _))
      try {
        val run = new Run(mem, Some(dir.toString))
        try {
          windows.foreach { w =>
            mem.addData(windowRow(w))
            run.query.processAllAvailable()
          }
        } finally run.query.stop()
        assert(run.managers == Set(Some(manager.getOrElse(
          classOf[LocalCheckpointFileManager].getName))))
        run
      } finally spark.conf.unset(key)
    }
    try {
      val a = phase(first, Seq(0, 1))
      val b = phase(second, Seq(2, 3))
      // window 0 finalizes before the restart, 1 and 2 after it; 3 is open
      assert(a.creates.map(_._2) == Seq("10_0_0_0"))
      assert(b.creates.map(_._2) == Seq("10_0_1_0", "10_0_2_0"))
      assert(b.creates.map(_._1).min > a.creates.map(_._1).max)
      assert(!Files.walk(dir).anyMatch(_.getFileName.toString.endsWith(".tmp")))
    } finally Files.walk(dir).sorted(Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private val sparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  test("restart from a default-manager checkpoint emits each window once") {
    restartAcross(first = sparkDefault, second = None)
  }

  test("restart from a local checkpoint under the default manager emits each window once") {
    restartAcross(first = None, second = sparkDefault)
  }
}

/** Spark's default manager, counting its instances. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}

object CountingCheckpointFileManager {
  val created = new java.util.concurrent.atomic.AtomicInteger()
}
