package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a graft process gets its SparkSession and its core
  * count. Every main (Bench, Verify, PipelineCli, HeapCli, HeapServer,
  * HeapMcp and the dev tools) starts here, so they all read the same
  * environment:
  *
  *   SPARK_GRAFT_CPUS  local cores and shuffle partitions
  *                     (default: the host's available processors)
  *   SPARK_MASTER      set = the launcher (spark-submit) supplies the
  *                     master; graft overrides neither master nor
  *                     shuffle partitions
  */
object GraftSession {

  /** Resolved core count and the session config derived from it. */
  final case class Settings(cpus: Int, conf: Map[String, String])

  /** Pure resolution of `env` against the host's `cores`. */
  def settings(env: Map[String, String], cores: Int): Settings = {
    val cpus = env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(cores)
    val local =
      if (env.contains("SPARK_MASTER")) Map.empty[String, String]
      else Map("spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus.toString)
    Settings(cpus, local ++ Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  private lazy val resolved =
    settings(sys.env, Runtime.getRuntime.availableProcessors)

  /** Core count this process runs with. */
  def cpus: Int = resolved.cpus

  def apply(): SparkSession = {
    val spark = SparkSession.builder().config(resolved.conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined ... single partition" on
    // every unpartitioned window, including the bucket-prefix combines
    // whose input is a bucket-count-bounded aggregate by design. There
    // is no per-plan suppression; PlanSpec's "WindowExec guardrail"
    // sweep polices the anti-pattern instead of the log.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    // DataSource warns "All paths were ignored" on every overwrite whose
    // target dir does not exist yet (heap exports, index builds): write
    // path noise only, an empty READ still fails its oracle hash check.
    Configurator.setLevel("org.apache.spark.sql.execution.datasources.DataSource", Level.ERROR)
    spark
  }
}
