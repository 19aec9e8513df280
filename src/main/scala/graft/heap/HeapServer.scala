package graft.heap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{GraftSession, Json}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** Long-running serving layer over the heap library — the transport
  * counterpart of the reference's MCP server (mcp_server/server.py):
  * an external client can convert dumps, open/list/close/cleanup
  * sessions, list tables, page through ad-hoc SQL, run the waste
  * analysis, and fetch the guides, all as JSON over HTTP. Built on
  * the JDK's `com.sun.net.httpserver` (public API since Java 6) so
  * the zero-dependency build constraint holds.
  *
  * Tool → route map (server.py names in parens):
  *   POST /convert            (dump_hprof_to_parquet)
  *   POST /sessions/open      (open_session)
  *   GET  /sessions           (list_sessions)
  *   POST /sessions/close     (close_session)
  *   POST /sessions/cleanup   (cleanup_session)
  *   GET  /tables?session_id= (list_parquet_files)
  *   POST /query              (query_heap, LIMIT n+1 OFFSET pagination)
  *   POST /analyze            (analyze_heap)
  *   GET  /guides, /guides/<name>  (guide resources)
  *
  * The server is a thin adapter: every behavior behind a route is the
  * library call the specs and driver gates already prove; nothing
  * here re-implements analysis or query semantics.
  */
final class HeapServer(spark: SparkSession, port: Int) {
  import HeapServer._

  private val sessions = new HeapSessions(spark)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // daemon worker threads: an embedding process (the q_heap_http gate,
  // a test JVM) must be able to exit without an explicit stop(); the
  // standalone main blocks its own non-daemon thread regardless
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "heap-http")
      t.setDaemon(true)
      t
    }))

  /** Bound port (differs from the requested one when port = 0). */
  def boundPort: Int = server.getAddress.getPort

  private def sessionJson(s: sessions.Session): String = Json.obj(Seq(
    "session_id" -> Json.str(s.id),
    "parquet_dir" -> Json.str(s.dir),
    "tables" -> Json.arr(s.tables.map(Json.str))))

  server.createContext("/", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      val (code, body, ctype) = route(method, path, ex) match {
        case Text(t) => (200, t, "text/markdown; charset=utf-8")
        case JsonBody(j) => (200, j, "application/json")
      }
      respond(ex, code, body, ctype)
    } catch {
      case e: NoSuchElementException => respondErr(ex, 404, e)
      case e: IllegalArgumentException => respondErr(ex, 400, e)
      case e: UnsupportedOperationException => respondErr(ex, 405, e)
      case e: Exception => respondErr(ex, 500, e)
    } finally ex.close()
  })

  private def route(method: String, path: String, ex: HttpExchange): Reply = (method, path) match {
    case ("GET", "/health") => JsonBody(Json.obj(Seq("ok" -> "true")))

    case ("POST", "/convert") =>
      val p = parseFlat(readBody(ex))
      val hprof = reqStr(p, "hprof_path")
      val out = reqStr(p, "output_dir")
      val resolve = p.get("resolve_refs").exists(_ == true)
      new HeapDump(spark, hprof).writeParquet(out, resolveRefs = resolve)
      val tables = new HeapTables(spark, out)
      JsonBody(Json.obj(Seq(
        "parquet_dir" -> Json.str(out),
        "resolve_refs" -> resolve.toString,
        "n_tables" -> tables.list.count().toString)))

    case ("POST", "/sessions/open") =>
      val p = parseFlat(readBody(ex))
      JsonBody(sessionJson(
        sessions.open(reqStr(p, "parquet_dir"), p.get("session_id").fold("")(_.toString))))

    case ("GET", "/sessions") =>
      JsonBody(Json.obj(Seq("sessions" -> Json.arr(sessions.list.map(sessionJson)))))

    case ("POST", "/sessions/close") =>
      val p = parseFlat(readBody(ex))
      sessions.close(reqStr(p, "session_id"))
      JsonBody(Json.obj(Seq("closed" -> "true")))

    case ("POST", "/sessions/cleanup") =>
      val p = parseFlat(readBody(ex))
      sessions.cleanup(reqStr(p, "session_id"), p.get("confirm").exists(_ == true))
      JsonBody(Json.obj(Seq("cleaned" -> "true")))

    case ("GET", "/tables") =>
      val sid = queryParam(ex, "session_id")
        .getOrElse(throw new IllegalArgumentException("session_id query parameter required"))
      val df = sessions.listTables(sid)
      JsonBody(Json.obj(Seq(
        "session_id" -> Json.str(sid),
        "tables" -> rowsJson(df.columns.toSeq, df.collect().toSeq))))

    case ("POST", "/query") =>
      val p = parseFlat(readBody(ex))
      val sid = reqStr(p, "session_id")
      val page = sessions.queryPage(sid, reqStr(p, "sql"),
        limit = p.get("limit").fold(100)(_.toString.toInt),
        offset = p.get("offset").fold(0L)(_.toString.toLong))
      JsonBody(Json.obj(Seq(
        "session_id" -> Json.str(sid),
        "columns" -> Json.arr(page.columns.map(Json.str)),
        "rows" -> rowsJson(page.columns, page.rows.toSeq),
        "row_count" -> page.rows.length.toString,
        "has_more" -> page.hasMore.toString,
        "next_offset" -> page.nextOffset.toString)))

    case ("POST", "/analyze") =>
      val p = parseFlat(readBody(ex))
      JsonBody(sessions.analyze(reqStr(p, "session_id"),
        topN = p.get("top_n").fold(30)(_.toString.toInt),
        waste = p.get("waste").forall(_ == true),
        maxTier = p.get("max_tier").fold(2)(_.toString.toInt),
        // graph sections are opt-in, as on the MCP twin: they are the
        // expensive closure passes (minutes on a large dump)
        graph = p.get("graph").exists(_ == true)))

    case ("POST", "/diff") =>
      val p = parseFlat(readBody(ex))
      // mode=retained switches the census from shallow deltas (B25)
      // to retained-size deltas (B29) — same request/response shape
      val retained = p.get("mode").exists(_.toString == "retained")
      val df =
        if (retained) sessions.diffRetained(
          reqStr(p, "session_before"), reqStr(p, "session_after"))
        else sessions.diff(reqStr(p, "session_before"), reqStr(p, "session_after"))
      val rows = df.limit(p.get("top_n").fold(100)(_.toString.toInt)).collect()
      JsonBody(Json.obj(Seq(
        "session_before" -> Json.str(reqStr(p, "session_before")),
        "session_after" -> Json.str(reqStr(p, "session_after")),
        "columns" -> Json.arr(df.columns.toSeq.map(Json.str)),
        "rows" -> rowsJson(df.columns, rows.toSeq),
        "row_count" -> rows.length.toString)))

    case ("GET", "/guides") =>
      JsonBody(Json.obj(Seq("guides" -> Json.arr(HeapGuide.guides.keys.toSeq.sorted.map(Json.str)))))

    case ("GET", g) if g.startsWith("/guides/") =>
      val name = g.stripPrefix("/guides/")
      Text(HeapGuide.guides.getOrElse(name,
        throw new NoSuchElementException(
          s"no guide '$name' (available: ${HeapGuide.guides.keys.toSeq.sorted.mkString(", ")})")))

    case ("GET" | "POST", _) =>
      throw new NoSuchElementException(s"no route $method $path")
    case (m, _) =>
      throw new UnsupportedOperationException(s"method $m not supported")
  }

  def start(): HeapServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

object HeapServer {

  private[heap] sealed trait Reply
  private[heap] final case class JsonBody(json: String) extends Reply
  private[heap] final case class Text(text: String) extends Reply

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def respond(ex: HttpExchange, code: Int, body: String, ctype: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def respondErr(ex: HttpExchange, code: Int, e: Exception): Unit =
    respond(ex, code,
      Json.obj(Seq("error" -> Json.str(Option(e.getMessage).getOrElse(e.getClass.getName)))),
      "application/json")

  private def reqStr(p: Map[String, Any], key: String): String =
    p.get(key) match {
      case Some(s: String) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException(s"'$key' (string) required")
    }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == key =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), UTF_8)
    })

  private[heap] def rowsJson(columns: Seq[String], rows: Seq[org.apache.spark.sql.Row]): String =
    Json.arr(rows.map(r =>
      Json.obj(columns.zipWithIndex.map { case (c, i) => c -> Json.cell(r.get(i)) })))

  /** A request body: one flat JSON object (strings, numbers, booleans,
    * null) parsed by [[Json.parse]] — exactly the payload shapes the
    * tool routes take. A blank body is an empty map; a non-object or a
    * nested object/array value is rejected loudly.
    */
  def parseFlat(s: String): Map[String, Any] =
    if (s.trim.isEmpty) Map.empty
    else Json.parse(s) match {
      case m: Map[String, Any] @unchecked
          if !m.values.exists(v => v.isInstanceOf[Map[_, _]] || v.isInstanceOf[Vector[_]]) => m
      case _ =>
        throw new IllegalArgumentException("nested JSON values are not supported by this API")
    }

  /** Standalone entry point: `runMain graft.heap.HeapServer [port]`
    * (or spark-submit on a cluster with SPARK_MASTER set).
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8765)
    val spark = GraftSession()
    val srv = new HeapServer(spark, port).start()
    println(s"""{"serving":true,"port":${srv.boundPort}}""")
    // block: the HTTP executor threads are non-daemon, but keep the
    // main thread alive explicitly so Ctrl-C is the only way out
    val lock = new Object
    lock.synchronized(lock.wait())
  }
}
