package graftbench

import java.io.File
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

object Setup {
  /** Set-up runs at least [[minReps]] times, and again while all
    * repetitions so far took under [[minSeconds]], up to [[maxReps]];
    * `setup_s` is their median. A short set-up is repeated more, so its
    * median rests on enough warm repetitions.
    */
  val (minReps, maxReps, minSeconds) = (5, 20, 3.0)

  /** Run `setup` repeatedly, timing each, and check that every
    * repetition produced the same digest: the inputs are a function of
    * the seed alone. Takes the first heap reading and returns the last
    * repetition's result.
    */
  def repeat[T](r: Record)(setup: Int => T)(digest: T => String): T = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(T, String)]
    var total = 0.0
    while (results.size < minReps || (total < minSeconds && results.size < maxReps)) {
      val i = results.size
      val (v, sec) = Record.timed(r.tracer.span("setup", s"setup-$i")(setup(i)))
      r.sample("setup_s", sec)
      total += sec
      results += ((v, digest(v)))
    }
    val digests = results.map(_._2).distinct
    r.check(digests.size == 1, s"same seed gave different inputs: ${digests.mkString(", ")}")
    r.markHeap()
    results.last._1
  }
}

/** Row counts from Parquet footers, without a Spark job. */
object Footers {
  private val conf = new Configuration()

  def rows(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map { f =>
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try rdr.getRecordCount finally rdr.close()
      }.sum
}
