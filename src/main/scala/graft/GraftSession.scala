package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every main and the test base share:
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, no UI. A caller adds its own confs to the returned builder
  * before `getOrCreate()`. */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = envNum(sys.env, "SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toLong).toInt

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A numeric env setting: `default` when unset, and also when
    * malformed — with a stderr warning, so a typo degrades to the
    * default instead of aborting a long run before it writes
    * anything. */
  def envNum(env: Map[String, String], key: String, default: Long): Long =
    env.get(key).fold(default) { v =>
      v.trim.toLongOption.getOrElse {
        System.err.println(
          s"[graft] ignoring malformed $key=$v; using $default")
        default
      }
    }
}
