package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** R3: the HTTP face of the status/metrics registries — the reference
  * runs a real server exposing `/info` (status JSON,
  * `pkg/apiservice/api_info.go:38-129`) and `/metrics` (Prometheus text,
  * `pkg/apiservice/server.go:37-41` via promhttp); this is the same
  * surface on the JDK's built-in `HttpServer`, so a `cloud`-mode
  * replication job is scrapeable with zero extra dependencies.
  *
  * `port = 0` binds an ephemeral port (tests); `boundPort` reports it.
  * The endpoints render from the same [[StatusApi]]/[[ReplicationMetrics]]
  * instances the pipelines write, so responses always reflect live state.
  */
final class ApiServer(status: StatusApi, metrics: ReplicationMetrics, port: Int = 0) {

  private var server: Option[HttpServer] = None

  def start(): Int = synchronized {
    require(server.isEmpty, "ApiServer already started")
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/info", handler(() => (status.render, "application/json")))
    s.createContext("/metrics",
      handler(() => (renderPrometheus, "text/plain; version=0.0.4; charset=utf-8")))
    s.setExecutor(null) // two tiny read-only endpoints; dispatch thread suffices
    s.start()
    server = Some(s)
    boundPort
  }

  def boundPort: Int = synchronized {
    server.map(_.getAddress.getPort).getOrElse(sys.error("ApiServer not started"))
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
  }

  private def handler(body: () => (String, String)): HttpHandler = new HttpHandler {
    override def handle(x: HttpExchange): Unit = {
      val (text, code, ctype) =
        try { val (t, c) = body(); (t, 200, c) }
        catch { case e: Exception => (s"internal error: ${e.getMessage}", 500, "text/plain") }
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", ctype)
      x.sendResponseHeaders(code, bytes.length)
      val os = x.getResponseBody
      try os.write(bytes) finally os.close()
      x.close()
    }
  }

  /** Prometheus text exposition (format 0.0.4) of every cell in the
    * registry, namespaced `graft_` the way the reference namespaces
    * `tidb2dw_` (`pkg/metrics/metrics.go:10-79`): one table-labelled
    * series per cell plus the `table_num` gauge. A family's `# TYPE` is
    * how its name is written: `set` → gauge, `add` only → counter. */
  private[streaming] def renderPrometheus: String = {
    def escLabel(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    val families = metrics.all
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, cells) =>
        val lines = cells.sortBy(_._2).map { case (_, table, v) =>
          s"""graft_$name{table="${escLabel(table)}"} $v"""
        }
        val kind = if (metrics.isGauge(name)) "gauge" else "counter"
        (s"# TYPE graft_$name $kind" +: lines).mkString("\n")
      }
    val tableNum = s"# TYPE graft_table_num gauge\ngraft_table_num ${metrics.tables.size}"
    (tableNum +: families).mkString("", "\n", "\n")
  }
}
