package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps explain("formatted") for every SparkEntry query to a file —
  * the per-round plan-shape review artifact (pushdown present?
  * broadcasts chosen? codegen spans wide? shuffles keyed sensibly?).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE hides codegen ids in the pre-execution formatted plan;
      // the dump is for static review, runtime still uses AQE
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // session-conf overrides, e.g. SPARK_GRAFT_CONF="graft.materializer=lazy"
    // — a lazy-materializer dump shows the full operator pipeline where
    // the default eager localCheckpoint would print an opaque
    // Scan ExistingRDD over the already-materialized index
    ConfOverrides.applyEnv(spark)
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n${"=" * 72}\n== $name\n${"=" * 72}\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
