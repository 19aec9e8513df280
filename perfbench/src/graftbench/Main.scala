package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw record as JSON.
  *
  *   graftbench.Main --workload convert|investigate|curate --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  *
  * perfbench/run.py builds the classpath, starts this JVM and turns the
  * record into the benchmark's metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = new File(opts("work"))
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opts("trace") == "1")
    val r = new Record(spark, tracer, opts("seconds").toInt, opts("seed").toLong, work)
    try {
      workload match {
        case "convert" => ConvertWorkload.run(r)
        case "investigate" => InvestigateWorkload.run(r)
        case "curate" => CurateWorkload.run(r)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val out = new java.io.PrintWriter(opts("out"), "UTF-8")
      try out.write(r.toJson) finally out.close()
    } finally {
      tracer.close()
      spark.stop()
    }
  }
}
