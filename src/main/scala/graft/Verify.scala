package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast
    // local iteration; the driver always passes exactly two args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // full JSON escaping (graft.Json) — a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    // {SF_BASE} resolves to the sf-dir basename at dump time: gates
    // whose oracle reads engine-written temp files scope their glob to
    // THIS run's sf-dir subtree (a wildcard would aggregate every
    // sf-dir ever written by the JVM and fail spuriously on the
    // second one).
    val sfBase = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${Json.str(k)}: ${Json.str(v.replace("{SF_BASE}", sfBase))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
