package graft

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_CONF`: session-conf overrides for the tooling mains, as
  * `;`-separated `key=value` entries, e.g.
  * `SPARK_GRAFT_CONF="graft.materializer=lazy;graft.clusters.roundsPerHop=1"`.
  */
object ConfOverrides {

  /** The `(key, value)` entries of `spec`, in order; empty entries are
    * skipped, and an entry that is not `key=value` fails naming it.
    */
  def parse(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** Sets every `SPARK_GRAFT_CONF` entry, if the variable is set. */
  def applyEnv(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(parse(_).foreach { case (k, v) =>
      spark.conf.set(k, v)
    })
}
