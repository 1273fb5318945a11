package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.BanSettings
import graft.operators.Baseline.BaselineConfig

/** The reference's ENTIRE cron loop as one continuous query
  * (/root/reference/main.go:96-208): read events → trailing-window
  * baseline per network → threshold expressions → ban-settings
  * payloads → reconcile against the deployment's current hostgroups →
  * remove/create API actions. The reference re-reads a week of history
  * per tick; here the windowed aggregation is incremental and each
  * trigger only reconciles the windows the watermark just finalized.
  */
object StreamingHostgroups {

  /** Start the continuous reconciliation. Per trigger with finalized
    * windows: the newest finalized window per network becomes a
    * hostgroup (name-mangled, thresholds applied, payload rendered),
    * [[BanSettings.lifecyclePlan]] diffs those against
    * `currentHostgroups` (the reference's GetAllHostgroups read), and
    * the ordered action rows go to `applyActions` — one row per API
    * call, collected because an API-calling sink is driver-side by
    * nature and the plan is config-sized (O(hostgroups), like the
    * reference's loop). Triggers with no finalized window are no-ops
    * (the batch reference regenerates groups every tick; a stream only
    * acts when a window closes).
    *
    * Each trigger executes the stateful stage once: the finalized rows
    * (O(networks)) are collected in one action and the newest-window /
    * payload / lifecycle step runs over a local DataFrame of them. A
    * second action on the micro-batch would re-run the state store.
    *
    * Checkpoints: `checkpointLocation`, else the session's
    * `spark.sql.streaming.checkpointLocation`, else a temporary one.
    * A `file:` checkpoint is written through
    * [[LocalCheckpointFileManager]] unless the session already names a
    * `spark.sql.streaming.checkpointFileManagerClass`. Hadoop's local
    * file system, without native `libhadoop`, launches a `readlink`
    * per rename and a `chmod` per created file, and those launches,
    * not the computation, set each trigger's floor. Other schemes keep
    * Spark's default manager. The key is set only around `start()`
    * (the query clones the session there) and restored after, so a
    * concurrent user of the same session can see it meanwhile.
    */
  def run(
      events: DataFrame,
      cfg: BaselineConfig,
      prefix: Int,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      removeExisting: Boolean,
      currentHostgroups: SparkSession => DataFrame,
      applyActions: (Long, Seq[Row]) => Unit,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val windows = StreamingBaseline.perNetwork(events, cfg, prefix,
      windowDuration, slideDuration, watermarkDelay)
    val writer = windows.writeStream
      .outputMode("append") // only watermark-finalized windows reach the batch
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val finalized = batch.collect()
        if (finalized.nonEmpty) {
          val spark = batch.sparkSession
          // several windows can finalize in one trigger; the newest one
          // per network is the group's current baseline
          val newest = Window.partitionBy(col("network"))
            .orderBy(col("window.start").desc)
          val latest = spark.createDataFrame(finalized.toSeq.asJava, batch.schema)
            .withColumn("__rn", row_number().over(newest))
            .filter(col("__rn") === 1)
            .withColumn("hostgroup",
              regexp_replace(regexp_replace(col("network"), "\\.", "_"), "/", "_"))
          val generated = BanSettings.fromHostgroups(latest)
          val plan = BanSettings.lifecyclePlan(
            generated, currentHostgroups(spark), removeExisting)
          applyActions(batchId,
            plan.orderBy("step", "action", "name").collect().toSeq)
        }
        ()
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    withLocalCheckpoints(events.sparkSession)(writer.start())
  }

  /** Runs `start` with [[LocalCheckpointFileManager]] as the session's
    * checkpoint file manager, unless one is already set.
    */
  private def withLocalCheckpoints[T](spark: SparkSession)(start: => T): T = {
    val key = LocalCheckpointFileManager.ConfKey
    if (spark.conf.getOption(key).isDefined) start
    else {
      spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
      try start finally spark.conf.unset(key)
    }
  }
}
