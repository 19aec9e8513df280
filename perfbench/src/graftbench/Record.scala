package graftbench

import graft.Json
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run measured: raw samples, output checks, spans.
  * Percentiles and self time are computed from this record afterwards
  * (perfbench/benchlib.py), so the JVM side only measures.
  */
final class Record(val spark: SparkSession, val tracer: Tracer, val seconds: Int,
    val seed: Long, val work: File) {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var oldGenPeak = 0L

  def sample(name: String, v: Double): Unit =
    samples.synchronized(samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  /** Count one checked operation; a failed check names what was wrong. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += what
    }
    ok
  }

  /** Old-generation bytes still live after a full collection. The
    * second collection frees what Spark's cleaner released after the
    * first.
    */
  def markHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
    oldGenPeak = math.max(oldGenPeak, used)
  }

  def toJson: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val spans = tracer.recorded.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "req" -> Json.str(s.req),
        "start_ms" -> num((s.startNs - tracer.t0) / 1e6),
        "end_ms" -> num((s.endNs - tracer.t0) / 1e6),
        "counts" -> s.counts.fold("null")(c => Json.obj(Seq(
          "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
          "tasks" -> c.tasks.toString, "executor_run_ms" -> c.runMs.toString,
          "executor_cpu_ns" -> c.cpuNs.toString, "input_bytes" -> c.inputBytes.toString,
          "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
          "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
          "spill_bytes" -> c.spillBytes.toString, "gc_ms" -> c.gcMs.toString)))))
    }
    Json.obj(Seq(
      "samples" -> Json.obj(samples.toSeq.map { case (k, vs) => k -> Json.arr(vs.toSeq.map(num)) }),
      "scalars" -> Json.obj(Seq("heap_peak_mb" -> num(oldGenPeak / 1e6))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "spans" -> Json.arr(spans),
      "jobs" -> Json.arr(tracer.jobs.map { case (a, b) => Json.arr(Seq(a.toString, b.toString)) })))
  }
}

object Record {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** (files, bytes) of the regular files under `f`, hidden files excluded. */
  def dataFiles(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_SUCCESS"))
      .map(dataFiles).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else (1L, f.length())

  def sha256(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(n => md.update(buf, 0, n))
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
