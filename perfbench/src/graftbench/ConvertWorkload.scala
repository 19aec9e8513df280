package graftbench

import graft.heap.{HeapDump, HeapIO, HprofParser}
import java.io.File
import Record.{dataFiles, deleteRecursively, sha256, timed}

/** `convert`: the heap ETL write path. One seeded dump is converted to
  * Parquet again and again with `new HeapDump(spark, path).writeParquet`.
  */
object ConvertWorkload {

  val spec: HeapGen.Spec = HeapGen.Spec(appClasses = 60, appInstances = 20000,
    strings = 40000, dupGroups = 800, dupCopies = 4, boxes = 8000, maps = 3000,
    lists = 2000, arrays = 4000, primArrays = 1500, threads = 40)

  def run(r: Record): Unit = {
    val hprof = new File(r.work, "convert.hprof")
    val truth = Setup.repeat(r)(_ => HeapGen.write(hprof.getPath, spec, r.seed))(_ => sha256(hprof))
    val mb = truth.bytes / 1e6

    // the first conversion in a JVM pays class loading and code
    // generation, as a one-shot conversion does; it is reported apart
    // and the repeated conversions below start warm
    val warm = new File(r.work, "pq_cold")
    val (_, coldSec) = timed(r.tracer.span("convert.cold", "cold") {
      new HeapDump(r.spark, hprof.getPath).writeParquet(warm.getPath)
    })
    r.sample("secondary_s", coldSec)
    deleteRecursively(warm)
    // the JIT keeps compiling over the next conversions; two more stay untimed
    (0 until 2).foreach { _ =>
      new HeapDump(r.spark, hprof.getPath).writeParquet(warm.getPath)
      deleteRecursively(warm)
    }

    val deadline = System.nanoTime() + r.seconds * 1000000000L
    var rep = 0
    while (rep < 4 || System.nanoTime() < deadline) {
      val req = s"convert-$rep"
      val out = new File(r.work, s"pq_$rep")
      if (r.tracer.enabled) r.tracer.span("hprof.header_walk", req) { headerWalk(hprof.getPath) }
      val (_, sec) = timed {
        r.tracer.span("convert.rep", req) {
          val hd = r.tracer.span("heapdump.construct", req)(new HeapDump(r.spark, hprof.getPath))
          r.tracer.span("heapdump.export", req)(hd.writeParquet(out.getPath))
        }
      }
      r.sample("op_ms", sec * 1000)
      r.sample("rate", mb / sec)
      checkExport(r, out, truth, rep)
      val (files, bytes) = dataFiles(out)
      r.sample("out_bytes_per_in_byte", bytes.toDouble / truth.bytes)
      r.sample("export.files", files.toDouble)
      r.sample("export.mb", bytes / 1e6)
      deleteRecursively(out)
      rep += 1
    }
    r.markHeap()
  }

  /** The pass-1 header walk on its own, as the constructor runs it. */
  private def headerWalk(path: String): Unit = {
    val header = HprofParser.parseHeader(HeapIO.readRange(path, 0L, 64))
    HeapIO.withFs(path) { (fs, p) =>
      val in = fs.open(p)
      try HprofParser.indexRecords((off, n) => {
        val buf = new Array[Byte](n)
        in.readFully(off, buf)
        buf
      }, fs.getFileStatus(p).getLen, header.bodyStart)
      finally in.close()
    }
  }

  /** Rows per system table and per class table must equal what the
    * generator wrote. Row counts come from the Parquet footers.
    */
  private def checkExport(r: Record, out: File, truth: HeapGen.Truth, rep: Int): Unit = {
    truth.systemRows.foreach { case (table, rows) =>
      val got = Footers.rows(new File(out, table))
      r.check(got == rows, s"rep $rep: $table has $got rows, generated $rows")
    }
    val classDirs = Option(out.listFiles()).toSeq.flatten.map(_.getName).filterNot(_.startsWith("_")).toSet
    r.check(classDirs == truth.classTableRows.keySet,
      s"rep $rep: class tables ${(classDirs diff truth.classTableRows.keySet).take(3)} / " +
        s"missing ${(truth.classTableRows.keySet diff classDirs).take(3)}")
    val wrong = truth.classTableRows.collect {
      case (dir, rows) if Footers.rows(new File(out, dir)) != rows => dir
    }
    r.check(wrong.isEmpty, s"rep $rep: row counts differ for ${wrong.take(3).mkString(", ")}")
  }
}
