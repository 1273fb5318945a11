package graft
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness: time a SUBSET of SparkEntry
  * queries under the exact Bench session config (same master, shuffle
  * partitions, extensions, warm-up, noop sink, median-of-runs), without
  * paying for the other ~190 queries per iteration. Args = query names;
  * prints one line per query with every run plus the median. This is
  * tooling only — the driver contract stays in [[Bench]].
  */
object ProbeOpt {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val evDir = sys.env.get("SPARK_GRAFT_EVENTLOG")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = evDir.fold(b0) { d =>
      new java.io.File(d).mkdirs()
      b0.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", d)
        .config("spark.eventLog.compress", "false")
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session-conf overrides for A/B probes
    ConfOverrides.applyEnv(spark)
    spark.range(1000000).selectExpr("sum(id * 2)")
      .write.format("noop").mode("overwrite").save()
    graft.sources.Tables.all.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").schema catch { case _: Throwable => () }
    }
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(cast(l_extendedprice as decimal(12,2)))", "max(l_shipdate)")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/events.parquet").schema
    } catch { case _: Throwable => () }
    val qs = SparkEntry.queries
    args.foreach { name =>
      qs.get(name) match {
        case None => println(s"[probe] UNKNOWN query: $name")
        case Some(fn) =>
          val times = (1 to runs).map { _ =>
            spark.sparkContext.setJobDescription(s"probe:$name")
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val med = times.sorted.apply(runs / 2)
          println(f"[probe] $name%-24s median=$med%7.3f  runs=" +
            times.map(t => f"$t%.3f").mkString(","))
      }
    }
    spark.stop()
  }
}
