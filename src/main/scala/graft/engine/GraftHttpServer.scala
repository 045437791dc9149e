package graft.engine

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.logging.log4j.LogManager

import org.apache.spark.sql.graftshim.ArrowBridge

/** Network binding for the four [[GraftService]] entry points — the
  * runnable counterpart of the reference's Arrow Flight server
  * (`serve_flight.py:21-377`). This environment ships no flight/gRPC
  * jars, so the listener is HTTP/1.1 on the JDK's built-in
  * `com.sun.net.httpserver` (zero added dependencies) carrying the SAME
  * Arrow IPC record-batch payloads [[ArrowBridge]] produces and consumes;
  * a Flight binding substitutes transport only, not payloads or service
  * calls.
  *
  * Routes (auth via `X-Graft-Client` / `X-Graft-Password` headers, exactly
  * the credentials the reference's middleware checks):
  *
  *  - `PUT  /files/{filename}`         do_put: body = framed Arrow batches,
  *    pulled one frame at a time into the raw CSV after auth
  *  - `GET  /files/{filename}/report`  do_get get_budget_report — the
  *    report stored with the live build, streamed with no Spark job; the
  *    first request of a build computes and stores it
  *    ([[GraftService.budgetReportArrow]])
  *  - `GET  /files/{filename}/export`  do_get get_full_clean — STREAMED
  *    via [[GraftService.fullExportArrow]] under the warehouse's read lock,
  *    never materialized on the driver (chunked transfer encoding)
  *  - `GET  /files`                    do_action list_files (text listing)
  *
  * Framing ([[ArrowBridge.writeFramed]]): each Arrow IPC batch (schema
  * embedded) is preceded by its 4-byte big-endian length; the stream ends
  * at EOF. An upload body is capped at [[GraftHttpServer.MaxBodyBytes]]
  * (1 GiB, frame headers included): a declared `Content-Length` past the
  * cap is answered 413 PAYLOAD_TOO_LARGE before the body is read, and so
  * is a frame that would take the running total past it. Auth failures
  * map to 401 with the service's uniform AUTHENTICATION_FAILED (no
  * client-id enumeration) before the body is read; the unread rest of a
  * refused body, up to [[GraftHttpServer.DrainBytes]], is then read and
  * discarded before the connection closes, so a client still sending it
  * reads its status instead of failing on the write. A report or export of
  * a file never uploaded to 404, other rejections to 400, unexpected
  * errors to 500. A 500
  * body is `INTERNAL_ERROR <id>`; the same id heads the error's log line,
  * which carries the stack trace, so a caller's report finds the cause.
  *
  * Every accepted connection runs with `TCP_NODELAY`. The JDK server
  * writes a response's headers and its body in separate writes; under
  * Nagle the body waits for the ACK of the headers, and the client's
  * delayed-ACK timer (40 ms on Linux) holds that ACK back, so every
  * response — report, upload `OK`, listing, error, an export's last
  * chunk — took about 44 ms on loopback whatever its size. The JDK's only
  * switch is the system property `sun.net.httpserver.nodelay`, which
  * `sun.net.httpserver.ServerConfig` reads once, in its static
  * initializer, on the first `HttpServer.create` in the JVM; there is no
  * per-socket API. The companion object sets it (unless `-D` already did)
  * and is the one place a listener is created, so the property is in
  * place before that first read. The drain bound is a property of the
  * same kind (`sun.net.httpserver.drainAmount`), set in the same place.
  *
  * [[stop]] closes the listener and then shuts down its request pool,
  * waiting for the requests in flight, so a stopped server leaves no
  * thread behind.
  */
final class GraftHttpServer(service: GraftService, port: Int = 0) {

  private val log = LogManager.getLogger(classOf[GraftHttpServer])

  // through the companion: its initializer sets the no-delay property
  // before the JDK's one read of it (see the class doc)
  private val server =
    GraftHttpServer.listen(new InetSocketAddress("127.0.0.1", port))
  // small fixed pool: each request may run Spark jobs; unbounded request
  // concurrency would just queue on the cluster anyway
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/files", (ex: HttpExchange) => handle(ex))

  /** Start listening; returns the bound port (ephemeral when 0). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Stop listening, close every connection, and wait (up to a minute)
    * for the requests in flight; then the pool's threads are gone.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(60, TimeUnit.SECONDS)) pool.shutdownNow()
  }

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case e: IllegalArgumentException
          if e.getMessage == "AUTHENTICATION_FAILED" =>
        respondText(ex, 401, "AUTHENTICATION_FAILED")
      case e: IllegalArgumentException
          if e.getMessage == "PAYLOAD_TOO_LARGE" =>
        respondText(ex, 413, "PAYLOAD_TOO_LARGE")
      case e: IllegalArgumentException =>
        respondText(ex, 400, String.valueOf(e.getMessage))
      case e: NoSuchElementException if e.getMessage == "NOT_FOUND" =>
        respondText(ex, 404, "NOT_FOUND")
      case e: Throwable =>
        val id = java.util.UUID.randomUUID().toString
        log.error(s"request $id failed: ${ex.getRequestMethod} " +
          ex.getRequestURI.getPath, e)
        respondText(ex, 500, s"INTERNAL_ERROR $id")
    } finally ex.close()

  private def route(ex: HttpExchange): Unit = {
    val client = Option(ex.getRequestHeaders.getFirst("X-Graft-Client"))
      .getOrElse("")
    val password = Option(ex.getRequestHeaders.getFirst("X-Graft-Password"))
      .getOrElse("")
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    (ex.getRequestMethod, parts.toList) match {
      case ("GET", List("files")) =>
        val (raw, clean) = service.listFiles(client, password)
        respondText(ex, 200,
          (raw.map("raw/" + _) ++ clean.map("clean/" + _)).mkString("\n"))
      case ("PUT", List("files", filename)) =>
        val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        if (declared.exists(_.trim.toLong > GraftHttpServer.MaxBodyBytes))
          throw new IllegalArgumentException("PAYLOAD_TOO_LARGE")
        // lazy: the service pulls frames only once the caller is let in
        service.uploadArrow(client, password, filename,
          ArrowBridge.framed(ex.getRequestBody, GraftHttpServer.MaxBodyBytes))
        respondText(ex, 200, "OK")
      case ("GET", List("files", filename, "report")) =>
        val batches = service.budgetReportArrow(client, password, filename)
        respondFrames(ex, batches.iterator)
      case ("GET", List("files", filename, "export")) =>
        service.fullExportArrow(client, password, filename)(respondFrames(ex, _))
      case _ =>
        respondText(ex, 404, "NOT_FOUND")
    }
  }

  /** Chunked response: batches are written (and for the export, PULLED
    * from the cluster) one at a time — bounded memory end to end.
    */
  private def respondFrames(ex: HttpExchange,
                            batches: Iterator[Array[Byte]]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/x-graft-arrow")
    ex.sendResponseHeaders(200, 0) // length 0 => chunked
    val out = ex.getResponseBody
    try ArrowBridge.writeFramed(out, batches)
    finally out.close()
  }

  private def respondText(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    // sendResponseHeaders: >0 fixed length, 0 would mean chunked, -1 no body
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes)
    finally out.close()
  }
}

object GraftHttpServer {

  /** Upload body cap in bytes, frame headers included (1 GiB). */
  val MaxBodyBytes: Long = 1L << 30

  /** How much of a request body the handler left unread (a refused
    * upload's) is read and discarded before the connection closes (64 MiB).
    */
  val DrainBytes: Long = 64L << 20

  // read once per JVM, on the first HttpServer.create: set here, before
  // listen can run; an explicit -D of either still wins
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  System.getProperties.putIfAbsent("sun.net.httpserver.drainAmount",
    DrainBytes.toString)

  /** The one `HttpServer.create`: a call initializes this object first. */
  private def listen(addr: InetSocketAddress): HttpServer =
    HttpServer.create(addr, 0)
}
