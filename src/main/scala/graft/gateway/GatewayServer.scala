package graft.gateway

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader, OutputStream,
  OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.util.control.NonFatal

/** Gateway credentials. The defaults are the reference app's hardcoded
  * integration-test pair (`integration-tests/app/src/main.rs:184-188`:
  * admin / admin123); production embeddings pass their own. `tokenTtl`
  * bounds a bearer token's lifetime; `None` (the default) matches the
  * reference, whose handshake tokens never expire — multi-user
  * deployments should set one so a leaked token stops working without a
  * server restart. An expired token's next use answers the same
  * unauthenticated error as a bad password; the client re-handshakes.
  * `maxTokens` caps the issued-token map when no TTL would prune it:
  * past the cap, each handshake evicts the oldest live token. */
/** A fetch resume offset the partition cannot satisfy — answered as a
  * protocol `ok:false` (the client falls back to a whole-ticket
  * re-fetch); the job handle is deliberately NOT evicted. */
final class FetchOffsetException(msg: String) extends RuntimeException(msg)

final case class GatewayAuth(user: String = "admin", password: String = "admin123",
    tokenTtl: Option[scala.concurrent.duration.FiniteDuration] = None,
    maxTokens: Int = 4096) {
  // A non-positive cap would make every handshake fail inside the
  // eviction loop — reject the misconfiguration at construction.
  require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
}

/** A minimal socket front-end for [[JobRuntime]] — the client-facing
  * service surface of SURVEY §3.1 (the reference exposes FlightSQL over
  * gRPC, `integration-tests/app/src/main.rs:101-330`; this is the same
  * handshake → submit → tickets → per-ticket streaming fetch contract over
  * a line-delimited JSON protocol, dependency-free).
  *
  * Authentication mirrors the reference's FlightSQL handshake
  * (`app/src/main.rs:166-207`): Basic credentials are validated
  * (constant-time compare) and exchanged for a bearer token; every other
  * op is rejected until the connection handshakes or presents a
  * previously issued token (`"token"` field — the `authorization: Bearer`
  * metadata analog, letting one client fan fetches over many sockets).
  * Pass `auth = None` only for trusted in-process embedding.
  *
  * Protocol (one JSON object per line):
  *   {"op": "handshake", "user": "...", "password": "..."}
  *       -> {"ok": true, "token": "...", "authorization": "Bearer ..."}
  *   {"op": "submit", "sql": "...", "meta": {...}}
  *       -> {"ok": true, "job_id": "...", "partitions": N,
  *           "columns": [...]}
  *   {"op": "fetch", "job_id": "...", "partition": P[, "offset": K,
  *    "ctoken": "T"]}
  *       -> {"ok": true, "format": "rows", "token": "T"} header (T = the
  *       partition's computation token, echoed back as "ctoken" on an
  *       offset resume so the server can PROVE the kept prefix and the
  *       resumed tail come from the same computation — a mismatch answers
  *       ok:false and the client falls back to a whole-ticket re-fetch),
  *       then one {"row": [...]} line per row (from row K when an offset
  *       is sent — the mid-stream-drop resume), then
  *       {"ok": true, "rows": N} (text mode — the human/debug wire)
  *   {"op": "fetch_arrow", "job_id": "...", "partition": P[, "offset": K,
  *    "ctoken": "T"]}
  *       -> {"ok": true, "format": "arrow_ipc_stream", "token": "T"}\n,
  *       then one raw Arrow IPC stream (schema + one record batch per
  *       ≤arrowBatchRows rows + EOS, self-delimiting) with LZ4_FRAME body
  *       compression: each buffer one lz4-java frame of independent 64 KB
  *       blocks, decodable by any LZ4_FRAME Arrow reader (commons-compress
  *       included), then {"ok": true, "rows": N} — the reference's result
  *       wire (LZ4 Arrow FlightData, `networks/tonic/src/server.rs:109-141`).
  *       A failure after the ack line (encode error, mid-stream partition
  *       recompute) closes the connection instead of answering: the client
  *       is reading raw Arrow bytes, sees a truncated stream, and takes its
  *       transport retry path
  *   {"op": "running_jobs"} / {"op": "cluster_nodes"} /
  *   {"op": "store_occupancy"}
  *       -> one {"row": [...]} per row, then {"ok": true, "rows": N}
  *   {"op": "cancel", "job_id": "..."} -> {"ok": true}
  *   errors -> {"ok": false, "error": "..."}
  *
  * Flush discipline: every accepted socket sets `TCP_NODELAY`, and each
  * connection writes through one 64 KB buffer shared by the JSON lines and
  * the Arrow stream. A response (everything answering one request line,
  * error answers included) is flushed once, when it is complete; a longer
  * one also leaves each time the buffer fills, so a slow client still
  * blocks the writer (backpressure). The server holds at most one fetch
  * page, one encoded Arrow batch and the 64 KB buffer per connection. An
  * ack written and flushed on its own would let Nagle hold the body until
  * the client's delayed ACK — 40 ms per fetch on Linux.
  *
  * The accept loop and per-connection handlers run on daemon threads
  * (driver-side control plane only — row data streams straight from the
  * per-partition runJob results, never accumulating beyond one partition).
  */
final class GatewayServer(runtime: JobRuntime, port: Int = 0,
    arrowBatchRows: Int = 4096,
    auth: Option[GatewayAuth] = Some(GatewayAuth()),
    handleGraceMs: Long = 60000L) extends AutoCloseable {
  private val server = new ServerSocket(port)
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-gateway-conn"); t.setDaemon(true); t
  })
  @volatile private var closed = false

  /** The bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val sock = server.accept()
        pool.submit(new Runnable { def run(): Unit = handle(sock) })
      } catch {
        case _: SocketException if closed => () // normal shutdown
        case NonFatal(_) => ()
      }
    }
  }, "graft-gateway-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  // --- tiny JSON helpers (no deps; values are strings/numbers/objects) ---
  import GatewayServer.jstr

  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp => jstr(t.toString)
    case d: java.sql.Date => jstr(d.toString)
    case seq: scala.collection.Seq[_] => seq.map(jval).mkString("[", ",", "]")
    case other => jstr(String.valueOf(other))
  }

  /** Extract a top-level string field from one-line JSON (protocol fields
    * are flat strings/ints — a full parser is not warranted here). */
  private def field(json: String, name: String): Option[String] = {
    val m = ("\"" + java.util.regex.Pattern.quote(name) +
      "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|(\\d+))").r
    m.findFirstMatchIn(json).map { g =>
      Option(g.group(2)).map(unescapeJson).getOrElse(g.group(3))
    }
  }

  /** Full JSON string unescape — a submitted SQL may legitimately carry
    * \n, \t, or \uXXXX escapes (e.g. multi-line queries sent by a client
    * that encodes them properly). */
  private def unescapeJson(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case '/' => b.append('/'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  // --- auth: Basic credentials -> bearer token (reference handshake,
  // app/src/main.rs:166-207). Issued tokens are accepted from any
  // connection (bearer semantics); the issuing connection is also marked
  // authenticated so clients need not echo the token per line. Values are
  // issue timestamps on the MONOTONIC clock (nanoTime — a wall-clock NTP
  // step must not stretch or collapse token lifetimes): a token older than
  // auth.tokenTtl is rejected and dropped at its next use, and each
  // handshake prunes the whole map — no background thread. Growth is
  // bounded to one live entry per handshake within a TTL window when a TTL
  // is configured; with tokenTtl=None nothing ever expires, so a hard cap
  // evicts the oldest token instead of growing per handshake forever.
  private val issuedTokens = new ConcurrentHashMap[String, java.lang.Long]()
  private def maxIssuedTokens: Int = auth.map(_.maxTokens).getOrElse(4096)

  private def tokenLive(issuedAtNanos: Long): Boolean =
    auth.flatMap(_.tokenTtl).forall(ttl =>
      System.nanoTime() - issuedAtNanos <= ttl.toNanos)

  private def tokenValid(token: String): Boolean =
    Option(issuedTokens.get(token)) match {
      case Some(t) if tokenLive(t) => true
      case Some(_) => issuedTokens.remove(token); false
      case None => false
    }

  private def constantTimeEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  private def handshake(line: String): String = {
    val creds = auth.getOrElse(
      throw new IllegalStateException("handshake not required: auth disabled"))
    val user = field(line, "user").getOrElse("")
    val password = field(line, "password").getOrElse("")
    // Evaluate both compares unconditionally: no early-exit on user.
    val userOk = constantTimeEq(user, creds.user)
    val passOk = constantTimeEq(password, creds.password)
    if (!userOk || !passOk)
      throw new SecurityException("unauthenticated: invalid username or password")
    val token = java.util.UUID.randomUUID().toString
    issuedTokens.entrySet().removeIf(e => !tokenLive(e.getValue))
    // No-TTL mode: expiry never prunes, so enforce the cap by evicting the
    // oldest issue (nanoTime order — compared by SUBTRACTION, the only
    // wrap-safe ordering the nanoTime contract allows). O(n) scan, but
    // only at handshake rate and only once the cap is hit. The evict+put
    // is synchronized: each connection handshakes on its own pool thread,
    // and an unsynchronized check-then-act would let a handshake flood —
    // the exact scenario the cap bounds — overshoot it.
    issuedTokens.synchronized {
      while (issuedTokens.size() >= maxIssuedTokens) {
        val entries = issuedTokens.entrySet().iterator()
        var min: java.util.Map.Entry[String, java.lang.Long] = null
        while (entries.hasNext) {
          val e = entries.next()
          if (min == null || e.getValue - min.getValue < 0) min = e
        }
        issuedTokens.remove(min.getKey) // non-null: size >= cap > 0
      }
      issuedTokens.put(token, System.nanoTime())
    }
    token
  }

  private def authorized(line: String, connAuthed: Boolean): Boolean =
    auth.isEmpty || connAuthed ||
      field(line, "token").exists(tokenValid)

  private def handle(sock: Socket): Unit = {
    // Nagle off: a response's last segment leaves at once instead of
    // waiting for the client's delayed ACK (40 ms on Linux) of the previous
    // one. With one flush per response there are no small writes left for
    // Nagle to coalesce.
    sock.setTcpNoDelay(true)
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    // One buffer under both the JSON lines and the Arrow stream; `out` is
    // flushed only when a response is complete.
    val raw = new BufferedOutputStream(sock.getOutputStream, GatewayServer.ResponseBufferBytes)
    val out = new PrintWriter(new OutputStreamWriter(raw, StandardCharsets.UTF_8))
    try {
      // The issuing connection rides its own token: when a tokenTtl is
      // configured, expiry forces a re-handshake even on this connection.
      var connToken: String = null
      var line = in.readLine()
      while (line != null && !closed) {
        try {
          val msg = line.trim
          field(msg, "op") match {
            case Some("handshake") =>
              val token = handshake(msg)
              connToken = token
              out.println(s"""{"ok": true, "token": ${jstr(token)}, """ +
                s""""authorization": ${jstr("Bearer " + token)}}""")
            case _ if !authorized(msg, connToken != null && tokenValid(connToken)) =>
              throw new SecurityException(
                "unauthenticated: handshake first (op=handshake) or send a valid token")
            case _ => dispatch(msg, out, raw)
          }
        } catch {
          case e: StreamAbortedException => throw e
          case NonFatal(e) =>
            out.println(s"""{"ok": false, "error": ${jstr(
              Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
        }
        // The response is complete: its one socket flush.
        out.flush()
        line = in.readLine()
      }
    } catch { case NonFatal(_) => () }
    finally sock.close()
  }

  private val handles = new scala.collection.concurrent.TrieMap[String, JobHandle]()

  // `handleGraceMs` (constructor): grace window between a job reaching a
  // terminal state and its handle leaving the map. The server CANNOT
  // observe delivery: PrintWriter swallows write failures and TCP buffers
  // absorb a whole small partition, so a client that died mid-stream
  // looks exactly like a clean drain — evicting at the terminal-state
  // instant would strand that client's retried fetch on "unknown job"
  // (found by the resume-sweep lane on a single-partition job). Same
  // serve-then-retry discipline as [[graft.Tables]]' store-eviction
  // grace. Construct with 0 for immediate eviction.
  private val condemnedHandles =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Start (or refresh) the eviction clock on a terminal job's handle. */
  private def condemnHandle(jobId: String): Unit = {
    val grace = handleGraceMs
    if (grace <= 0L) { handles.remove(jobId); () }
    else { condemnedHandles.put(jobId, System.currentTimeMillis() + grace); () }
  }

  /** Drop handles whose grace deadline passed — piggybacked on every
    * dispatch (a live gateway drains the queue with its own traffic) AND
    * run by [[graceSweeper]] so a gateway that goes QUIET still frees
    * what a condemned handle pins (the JobState and its analyzed plan;
    * the executed plan and pages were already released at runtime
    * cleanup). */
  private def sweepHandles(): Unit = {
    val now = System.currentTimeMillis()
    val it = condemnedHandles.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue <= now) { handles.remove(e.getKey); it.remove() }
    }
  }

  /** Count of live + condemned-but-ungraced handles (observability /
    * specs: the idle sweeper's effect is invisible through the protocol,
    * since any probe op would itself sweep). */
  def pinnedHandles: Int = handles.size

  private val graceSweeper: Option[java.util.concurrent.ScheduledExecutorService] =
    if (handleGraceMs <= 0L) None
    else {
      val ex = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-gateway-grace-sweeper")
        t.setDaemon(true); t
      })
      val period = math.max(100L, handleGraceMs / 2)
      ex.scheduleWithFixedDelay(() => sweepHandles(), period, period,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    }

  private def streamRows(rows: Iterator[org.apache.spark.sql.Row], out: PrintWriter): Long = {
    var n = 0L
    rows.foreach { r =>
      out.println(s"""{"row": ${jval(r.toSeq)}}""")
      n += 1
    }
    n
  }

  private def dispatch(line: String, out: PrintWriter, raw: OutputStream): Unit = {
    sweepHandles()
    field(line, "op") match {
      case Some("submit") =>
        val sql = field(line, "sql").getOrElse(
          throw new IllegalArgumentException("submit requires sql"))
        val h = runtime.submit(sql)
        handles.put(h.jobId, h)
        val cols = h.schema.fieldNames.toSeq
        out.println(s"""{"ok": true, "job_id": ${jstr(h.jobId)}, """ +
          s""""partitions": ${h.tickets.size}, "columns": ${jval(cols)}}""")
      case Some("fetch") =>
        val jobId = field(line, "job_id").getOrElse(
          throw new IllegalArgumentException("fetch requires job_id"))
        val p = field(line, "partition").getOrElse("0").toInt
        // Resume offset (100-TB hardening over the reference's whole-task
        // re-fetch, runtime.rs:499-525): a retry after a mid-stream drop
        // asks for rows FROM `offset`, so a multi-GB partition re-streams
        // only the tail. The ticket re-executes either way (that is the
        // reference's discipline); what the offset saves is the WIRE. Row
        // order is stable per computation token — the stream pages over
        // the cached final stage and throws PartitionRecomputeException on
        // a token/boundary mismatch — so skip-k resumes exactly where the
        // dropped stream stopped.
        val off = field(line, "offset").map(_.toLong).getOrElse(0L)
        val ctoken = field(line, "ctoken")
        val h = handles.getOrElse(jobId,
          throw new IllegalStateException(s"unknown job $jobId"))
        // Bounded streaming: rows go from ≤fetchPageSize-row pages through
        // the connection buffer to the socket. A slow client backpressures
        // the page producer via blocking TCP writes once the buffer fills —
        // the reference's bounded-channel semantics
        // (dist/src/runtime.rs:253-303) end to end.
        val n = {
          val stream = h.fetchStream(Ticket(jobId, p))
          try {
            // Force the first page job: stamps the computation token the
            // header carries and the resume-continuity check compares.
            stream.hasNext
            val tok = stream.computationToken
            // Continuity (ADVICE r15 high): an offset resume must splice
            // onto the SAME computation the client's kept prefix came from
            // — recomputed row order is not guaranteed identical, so a
            // token mismatch answers ok:false (handle stays live) and the
            // client's whole-ticket fallback re-fetches self-consistently.
            if (off > 0 && ctoken.exists(_ != tok.toString))
              throw new FetchOffsetException(
                s"computation token mismatch (kept ${ctoken.get}, current " +
                  s"$tok): the partition was recomputed since the dropped " +
                  "stream; re-fetch the whole ticket")
            var skipped = 0L
            while (skipped < off && stream.hasNext) { stream.next(); skipped += 1 }
            if (skipped < off)
              // A served answer, not a failure: the client falls back to a
              // whole-ticket re-fetch. The handle stays live for it.
              throw new FetchOffsetException(
                s"offset $off beyond partition end ($skipped rows)")
            out.println(s"""{"ok": true, "format": "rows", """ +
              s""""token": ${jstr(tok.toString)}}""")
            streamRows(stream, out)
          }
          catch {
            case e: FetchOffsetException => throw e
            // Recoverable by contract: the ticket stays re-fetchable (a
            // fresh stream re-reads the partition self-consistently), so
            // the handle must survive for that re-fetch (ADVICE r15).
            case e: PartitionRecomputeException => throw e
            case e: Throwable => handles.remove(jobId); throw e
          }
          finally stream.close()
        }
        // Evict once the job reaches a terminal state (all partitions
        // delivered → runtime cleaned up) — through the GRACE window:
        // the handle map and the DataFrame/RDD it pins stay bounded in a
        // long-lived gateway, but a client whose stream died into the
        // TCP void can still re-fetch the ticket meanwhile.
        h.status match {
          case JobStatus.Completed | JobStatus.Cancelled | JobStatus.Failed(_) =>
            condemnHandle(jobId)
          case _ => ()
        }
        out.println(s"""{"ok": true, "rows": $n}""")
      case Some("fetch_arrow") =>
        val jobId = field(line, "job_id").getOrElse(
          throw new IllegalArgumentException("fetch_arrow requires job_id"))
        val p = field(line, "partition").getOrElse("0").toInt
        // Same resume-offset contract as the text fetch: the ticket
        // re-executes, the wire re-streams only rows FROM `offset`. The
        // skip runs BEFORE the ack so an unsatisfiable offset answers a
        // clean protocol `ok:false` (after the ack the client is reading
        // raw Arrow bytes and a JSON error line would desync it).
        val off = field(line, "offset").map(_.toLong).getOrElse(0L)
        val ctoken = field(line, "ctoken")
        val h = handles.getOrElse(jobId,
          throw new IllegalStateException(s"unknown job $jobId"))
        // Validate convertibility BEFORE the ack: once the ack line is out,
        // the client switches to reading raw Arrow bytes, so a late
        // conversion failure (array/struct/map columns) would desync the
        // protocol. Failing here answers with a clean JSON error and the
        // client can fall back to text fetch.
        ArrowCodec.toArrowSchema(h.schema)
        // Binary result wire: ack line, then a self-delimiting Arrow IPC
        // stream fed page-by-page from the bounded fetch, every buffer an
        // lz4-java frame of independent 64 KB blocks (Lz4FrameCodec) — at
        // no point does the server hold more than one page + one encoded
        // batch + the connection buffer.
        val stream = h.fetchStream(Ticket(jobId, p))
        var acked = false
        val n =
          try {
            // Force the first page job before the ack: stamps the token the
            // ack carries; a continuity or offset failure still answers a
            // clean JSON ok:false (the client has not switched to raw
            // Arrow bytes yet).
            stream.hasNext
            val tok = stream.computationToken
            if (off > 0 && ctoken.exists(_ != tok.toString))
              throw new FetchOffsetException(
                s"computation token mismatch (kept ${ctoken.get}, current " +
                  s"$tok): the partition was recomputed since the dropped " +
                  "stream; re-fetch the whole ticket")
            var skipped = 0L
            while (skipped < off && stream.hasNext) { stream.next(); skipped += 1 }
            if (skipped < off)
              throw new FetchOffsetException(
                s"offset $off beyond partition end ($skipped rows)")
            // Straight into the connection buffer, ahead of the Arrow bytes
            // (nothing of this response is pending in `out`).
            raw.write((s"""{"ok": true, "format": "arrow_ipc_stream", """ +
              s""""token": ${jstr(tok.toString)}}\n""").getBytes(StandardCharsets.UTF_8))
            acked = true
            ArrowCodec.write(h.schema, stream, raw, arrowBatchRows)
          } catch {
            case e: Throwable =>
              // The handle survives for the client's fallback after a
              // rejected offset, a partition recompute (recoverable by
              // contract, ADVICE r15) or a dead socket (raw-stream writes
              // DO throw on one: transport loss, same rule as the text
              // path); any other failure evicts it.
              e match {
                case _: FetchOffsetException | _: PartitionRecomputeException |
                    _: java.io.IOException => ()
                case _ => handles.remove(jobId)
              }
              // Past the ack the client is decoding raw Arrow bytes: a JSON
              // error line there reads as a huge message length and stalls
              // it. Drop the connection instead — the truncated stream
              // sends the client down its transport retry path.
              throw (if (acked) new StreamAbortedException(e) else e)
          }
          finally stream.close()
        h.status match {
          case JobStatus.Completed | JobStatus.Cancelled | JobStatus.Failed(_) =>
            condemnHandle(jobId)
          case _ => ()
        }
        out.println(s"""{"ok": true, "rows": $n}""")
      case Some("running_jobs") =>
        val n = streamRows(runtime.runningJobs().collect().iterator, out)
        out.println(s"""{"ok": true, "rows": $n}""")
      case Some("cluster_nodes") =>
        val n = streamRows(runtime.clusterNodes().collect().iterator, out)
        out.println(s"""{"ok": true, "rows": $n}""")
      case Some("store_occupancy") =>
        val n = streamRows(runtime.storeOccupancy().collect().iterator, out)
        out.println(s"""{"ok": true, "rows": $n}""")
      case Some("cancel") =>
        field(line, "job_id").foreach { id =>
          runtime.cancel(id)
          // Explicit cancel is a client statement, not an inference from a
          // drained stream: evict immediately, no grace.
          handles.remove(id)
          condemnedHandles.remove(id)
        }
        out.println("""{"ok": true}""")
      case other =>
        throw new IllegalArgumentException(s"unknown op: $other")
    }
  }

  override def close(): Unit = {
    closed = true
    try server.close() catch { case NonFatal(_) => () }
    graceSweeper.foreach(_.shutdownNow())
    pool.shutdownNow()
  }
}

object GatewayServer {
  /** Per-connection response buffer: a response leaves when it is complete
    * or when this much of it is pending, whichever comes first. */
  private val ResponseBufferBytes = 64 * 1024

  /** JSON string literal: quotes, backslashes and every control character
    * escaped, so a value never breaks the one-object-per-line framing.
    * Shared by the server, [[GatewayClient]] and the running_jobs JSON. */
  private[gateway] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** A fetch_arrow failure after the ack line: the connection handler closes
  * the socket rather than answer, since the client is mid-Arrow-stream. */
private final class StreamAbortedException(cause: Throwable)
  extends RuntimeException(cause)
