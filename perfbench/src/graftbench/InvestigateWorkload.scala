package graftbench

import graft.heap.{HeapAnalysis, HeapDiff, HeapDump, HeapServer, HeapSessions, HeapSql, HeapTables}
import java.io.File
import scala.jdk.CollectionConverters._
import Record.{sha256, timed}

/** `investigate`: the heap serving read path, driven over HTTP.
  *
  * A HeapServer starts, set-up writes a "before" and an "after" dump,
  * and both dumps are then exported. Then (a) both sessions open, (b) two clients run a
  * closed loop on "before" with a fixed request mix, and (c) one client
  * alternates query pages between the sessions, so every page
  * re-registers the views.
  */
object InvestigateWorkload {

  val spec: HeapGen.Spec = HeapGen.Spec(appClasses = 8, appInstances = 8000,
    strings = 20000, dupGroups = 300, dupCopies = 4, boxes = 4000, maps = 1200,
    lists = 1000, arrays = 1500, primArrays = 600, threads = 20)
  val growBy = 3000

  final case class Dump(id: String, dir: File, truth: HeapGen.Truth)

  /** Requests per client in the closed loop, and the heavy requests'
    * positions; every other request is a query page. At the same point
    * one client sends the analysis and the other the diff, so query
    * pages do not wait behind them in some runs and not in others; each
    * client lists the tables once.
    */
  val loopRequests = 20
  def route(client: Int, i: Int): String = (client, i) match {
    case (0, 5) => "analyze"
    case (1, 5) => "diff"
    case (_, 14) => "tables"
    case _ => "query"
  }
  /** Query pages in phase (c), alternating between the sessions. */
  val switches = 3

  def run(r: Record): Unit = {
    // the server starts once, outside the timed set-up; set-up writes
    // both dumps, and the exports that follow are convert's measured work
    val server = new HeapServer(r.spark, 0).start()
    try {
      val ids = Seq("before" -> 0, "after" -> growBy)
      val hprof = (id: String) => new File(r.work, s"$id.hprof")
      val truths = Setup.repeat(r) { _ =>
        ids.map { case (id, grow) => HeapGen.write(hprof(id).getPath, spec.copy(growBy = grow), r.seed) }
      }(_ => ids.map(i => sha256(hprof(i._1))).mkString("/"))
      val dumps = ids.zip(truths).map { case ((id, _), t) =>
        val dir = new File(r.work, s"pq_$id")
        r.tracer.span("heapdump.export", id)(new HeapDump(r.spark, hprof(id).getPath).writeParquet(dir.getPath))
        Dump(id, dir, t)
      }
      val Seq(before, after) = dumps
      r.sample("out_bytes_per_in_byte",
        dumps.map(d => Record.dataFiles(d.dir)._2).sum.toDouble / dumps.map(_.truth.bytes).sum)
      val port = server.boundPort

      // (a) open both sessions
      val main = new Http(port)
      dumps.foreach { d =>
        val rep = r.tracer.span("loop.open", d.id, count = false) {
          main.post("/sessions/open", "parquet_dir" -> d.dir.getPath, "session_id" -> d.id)
        }
        r.check(rep.ok && rep.json.exists(_.path("session_id").asText == d.id),
          s"open ${d.id}: HTTP ${rep.status} ${rep.body.take(200)}")
        r.sample("investigate.open_s", rep.seconds)
      }
      // warm-up, untimed: one query page of each kind
      val warmRnd = new scala.util.Random(r.seed)
      (0 until 3).foreach(k => request(r, main, before, after, "query", k, warmRnd))

      // (b) closed loop, two clients on "before"
      val start = System.nanoTime()
      val clients = (0 until 2).map { c =>
        val t = new Thread(() => {
          val http = new Http(port)
          val rnd = new scala.util.Random(r.seed * 31 + c)
          (0 until loopRequests).foreach { i =>
            val kind = route(c, i)
            val rep = r.tracer.span(s"loop.$kind", s"c$c-$i", count = false) {
              try request(r, http, before, after, kind, i, rnd)
              catch {
                case e: Exception =>
                  r.check(ok = false, s"client $c $kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
                  None
              }
            }
            rep.foreach { sec =>
              kind match {
                case "query" => r.sample("op_ms", sec * 1000)
                case "analyze" => r.sample("investigate.analyze_s", sec)
                case "diff" => r.sample("investigate.diff_s", sec)
                case "tables" => r.sample("investigate.tables_ms", sec * 1000)
              }
            }
          }
        }, s"client-$c")
        t.start()
        t
      }
      clients.foreach(_.join())
      r.sample("rate", 2 * loopRequests / ((System.nanoTime() - start) / 1e9))

      // (c) one client alternates sessions: every page switches owner
      val rnd = new scala.util.Random(r.seed * 17)
      (0 until switches).foreach { k =>
        val target = if (k % 2 == 0) after else before
        r.tracer.span("loop.switch", s"switch-$k", count = false) {
          query(r, main, target, k, rnd)
        }.foreach { sec =>
          r.sample("investigate.switch_s", sec)
          r.sample("secondary_s", sec)
        }
      }
      r.markHeap()

      if (r.tracer.enabled) layers(r, main, before, after)
    } finally server.stop()
  }

  /** Send one request of `kind` and check its reply; returns the
    * latency when the reply was correct.
    */
  private def request(r: Record, http: Http, before: Dump, after: Dump, kind: String,
      i: Int, rnd: scala.util.Random): Option[Double] = kind match {
    case "query" => query(r, http, before, i, rnd)
    case "analyze" =>
      val rep = http.post("/analyze", "session_id" -> before.id, "graph" -> false)
      val findings = rep.json.map(_.path("waste_findings").elements().asScala
        .map(f => f.path("check_name").asText -> f.path("affected_count").asLong).toMap)
        .getOrElse(Map.empty)
      val ok = r.check(rep.ok, s"analyze: HTTP ${rep.status} ${rep.body.take(200)}") &&
        before.truth.waste.forall { case (name, n) =>
          r.check(findings.get(name).contains(n),
            s"analyze: '$name' affected_count ${findings.get(name)}, planted $n")
        }
      Option.when(ok)(rep.seconds)
    case "diff" =>
      val rep = http.post("/diff", "session_before" -> before.id,
        "session_after" -> after.id, "top_n" -> 10)
      val top = rep.json.flatMap(j => Option(j.path("rows").get(0)))
      val grown = HeapGen.appClassName(HeapGen.growClass)
      val ok = r.check(rep.ok && top.exists(t => t.path("type_name").asText == grown &&
        t.path("delta_n").asLong == growBy), s"diff: top row ${top.map(_.toString)}, planted $grown +$growBy")
      Option.when(ok)(rep.seconds)
    case "tables" =>
      val rep = http.get(s"/tables?session_id=${before.id}")
      val names = rep.json.map(_.path("tables").elements().asScala
        .map(_.path("table").asText).toSet).getOrElse(Set.empty)
      val dirs = Option(before.dir.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
      val ok = r.check(rep.ok && names == dirs, s"tables: HTTP ${rep.status}, ${names.size} of ${dirs.size} tables")
      Option.when(ok)(rep.seconds)
  }

  /** One seeded query page on `d`: a point lookup, a group-by page or a
    * class-table scan, each with the answer the generator knows.
    */
  private def query(r: Record, http: Http, d: Dump, i: Int,
      rnd: scala.util.Random): Option[Double] = {
    val t = d.truth
    val (sql, limit, offset, expect) = i % 3 match {
      case 0 =>
        val (id, cls) = t.lookups(rnd.nextInt(t.lookups.size))
        (s"SELECT obj_id, type_name FROM _object_index WHERE obj_id = $id", 10, 0,
          (rows: Seq[Map[String, String]]) => rows.map(_("type_name")) == Seq(cls))
      case 1 =>
        ("SELECT type_name, count(*) AS n FROM _object_index GROUP BY type_name ORDER BY n DESC, type_name",
          10, 10 * rnd.nextInt(2),
          (rows: Seq[Map[String, String]]) => rows.size == 10 && rows.forall { row =>
            t.classRows.get(row("type_name")).forall(_.toString == row("n"))
          })
      case _ =>
        val (cls, bs) = t.scanValues.toSeq(rnd.nextInt(t.scanValues.size))
        val x = rnd.nextInt(1000)
        (s"SELECT count(*) AS n FROM ${HeapSql.viewName(cls)} WHERE b < $x", 10, 0,
          (rows: Seq[Map[String, String]]) => rows.map(_("n")) == Seq(bs.count(_ < x).toString))
    }
    val rep = http.post("/query", "session_id" -> d.id, "sql" -> sql, "limit" -> limit,
      "offset" -> offset)
    val rows = rep.json.toSeq.flatMap(_.path("rows").elements().asScala.map { row =>
      row.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.toSeq)
    val ok = r.check(rep.ok && expect(rows), s"query on ${d.id}: HTTP ${rep.status} '$sql' -> ${rep.body.take(200)}")
    Option.when(ok)(rep.seconds)
  }

  /** Traced run only: the same calls one layer down, one at a time, so
    * every span's Spark counts belong to it alone.
    */
  private def layers(r: Record, http: Http, before: Dump, after: Dump): Unit = {
    val tr = r.tracer
    val rnd = new scala.util.Random(r.seed * 7)
    (0 until 6).foreach(i => tr.span("route.query", s"route-q$i")(query(r, http, before, i, rnd)))
    Seq("analyze", "diff", "tables").foreach { k =>
      tr.span(s"route.$k", s"route-$k")(request(r, http, before, after, k, 0, rnd))
    }
    // HTTP latency against a direct library call for the same page;
    // the direct instance owns the same session id and tables, so the
    // server's views stay registered
    val direct = new HeapSessions(r.spark)
    direct.open(before.dir.getPath, before.id)
    val pages = Seq(
      "SELECT type_name, count(*) AS n FROM _object_index GROUP BY type_name ORDER BY n DESC, type_name",
      s"SELECT count(*) AS n FROM ${HeapSql.viewName(HeapGen.appClassName(0))} WHERE b < 500")
    (0 until 6).foreach { i =>
      val sql = pages(i % 2)
      val req = s"overhead-$i"
      val rep = tr.span("http.query", req)(http.post("/query", "session_id" -> before.id,
        "sql" -> sql, "limit" -> 20, "offset" -> 0))
      r.check(rep.ok, s"overhead query: HTTP ${rep.status}")
      val (_, sec) = timed(tr.span("sessions.queryPage", req)(direct.queryPage(before.id, sql, 20, 0)))
      r.sample("http.overhead_ms", (rep.seconds - sec) * 1000)
      val df = tr.span("sessions.query_analyze", req)(direct.query(before.id,
        s"SELECT * FROM ($sql) __p LIMIT 21 OFFSET 0"))
      tr.span("sessions.collect", req)(df.collect())
    }
    (0 until 3).foreach(i => tr.span("sessions.register", s"register-$i") {
      HeapSql.register(r.spark, before.dir.getPath)
    })
    val a = new HeapAnalysis(new HeapTables(r.spark, before.dir.getPath))
    Seq[(String, () => Any)](
      "summary" -> (() => a.summary.map(_.collect())),
      "top_types" -> (() => a.topTypes(30).map(_.collect())),
      "categories" -> (() => a.categoryBreakdown.map(_.collect())),
      "byte_array_distribution" -> (() => a.byteArrayDistribution.map(_.collect())),
      "large_byte_arrays" -> (() => a.largeByteArrays().map(_.collect()))
    ).foreach { case (name, f) => tr.span(s"analysis.section.$name", "analysis")(f()) }
    checks(a).foreach { case (name, f) => tr.span(s"analysis.check.$name", "analysis")(f()) }
    tr.span("heapdiff.type_delta", "diff") {
      HeapDiff.typeDelta(new HeapTables(r.spark, before.dir.getPath),
        new HeapTables(r.spark, after.dir.getPath)).map(_.collect())
    }
  }

  /** The 13 checks `runWasteAnalysis` runs, by metric name. */
  def checks(a: HeapAnalysis): Seq[(String, () => Any)] = Seq(
    "duplicate_strings" -> (() => a.checkDuplicateStrings()),
    "bad_collections" -> (() => a.checkBadCollections()),
    "bad_object_arrays" -> (() => a.checkBadObjectArrays()),
    "bad_primitive_arrays" -> (() => a.checkBadPrimitiveArrays()),
    "boxed_numbers" -> (() => a.checkBoxedNumbers()),
    "collection_sizing" -> (() => a.checkCollectionSizing()),
    "duplicate_byte_arrays" -> (() => a.checkDuplicateByteArrays()),
    "class_count" -> (() => a.checkClassCount()),
    "gc_roots" -> (() => a.checkGcRoots()),
    "direct_byte_buffers" -> (() => a.checkDirectByteBuffers()),
    "thread_stacks" -> (() => a.checkThreadStacks()),
    "duplicate_object_arrays" -> (() => a.checkDuplicateObjectArrays()),
    "estimated_shallow_size" -> (() => a.checkEstimatedShallowSize()))
}
