package graft.gateway

import java.io.PrintWriter
import java.net.Socket
import java.nio.charset.StandardCharsets

/** A server-side (`"ok": false`) answer — NOT retried: the server is
  * healthy and said no; re-asking cannot change the answer. */
final class GatewayRequestException(msg: String) extends RuntimeException(msg)

/** Transport failure after every retry was spent. */
final class GatewayTransportException(msg: String, cause: Throwable)
  extends java.io.IOException(msg, cause)

/** Client for [[GatewayServer]]'s line-JSON protocol with the RETRY
  * DISCIPLINE the reference applies to its result wire (VERDICT r13 next
  * #4; dist ref networks/tonic/src/network.rs:134-141 — up to 3 retries,
  * exponential backoff capped at 10 s, jitter): a fetch whose socket dies
  * MID-STREAM reconnects, re-handshakes, re-issues the same ticket, and
  * discards the partial rows — tickets are idempotently re-executable
  * server-side (JobRuntime re-runs the partition job on a re-fetch), so
  * the retried stream is row-identical. Spark retries TASKS; nothing
  * retried the gateway fetch itself until here.
  *
  * Only TRANSPORT failures retry (IOException, or EOF before the
  * terminator line). A served `{"ok": false}` is a protocol answer from a
  * healthy server and throws [[GatewayRequestException]] immediately.
  *
  * `port` is a function so a test (or a failing-over deployment) can
  * re-resolve the endpoint between attempts. `sleeper`/`jitterFrac` are
  * injectable for deterministic spec timing; [[GatewayClient.backoffMs]]
  * is the pure schedule seam.
  */
final class GatewayClient(
    host: String,
    port: () => Int,
    user: String = "admin",
    password: String = "admin123",
    maxRetries: Int = GatewayClient.MAX_RETRIES,
    sleeper: Long => Unit = Thread.sleep,
    jitterFrac: () => Double =
      () => java.util.concurrent.ThreadLocalRandom.current().nextDouble())
  extends AutoCloseable {

  /** One live connection. Control lines are read BYTE-WISE off a shared
    * BufferedInputStream (same null-at-EOF / content-to-EOF semantics as
    * BufferedReader.readLine) — a char-level reader's read-ahead would
    * swallow the raw Arrow bytes that follow a `fetch_arrow` ack on the
    * same stream. Nagle is off, as on the server: each request line is one
    * write and must not wait for the ACK of the previous one. */
  private final class Conn(val sock: Socket) {
    sock.setTcpNoDelay(true)
    val raw = new java.io.BufferedInputStream(sock.getInputStream)
    val out = new PrintWriter(sock.getOutputStream, true)
    def readLine(): String = {
      val buf = new java.io.ByteArrayOutputStream(128)
      var b = raw.read()
      if (b == -1) return null
      while (b != -1 && b != '\n') { buf.write(b); b = raw.read() }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    }
  }
  private var conn: Conn = null

  // Escapes control characters too: a raw newline in multi-line SQL would
  // end the request line early and desynchronise the connection.
  import graft.Json.jstr

  private def connect(): Conn = {
    val c = new Conn(new Socket(host, port()))
    val sock = c.sock
    val out = c.out
    out.println(s"""{"op": "handshake", "user": ${jstr(user)}, """ +
      s""""password": ${jstr(password)}}""")
    val resp = c.readLine()
    if (resp == null) {
      // EOF before the handshake answer is a TRANSPORT failure (the
      // connection died), not a server verdict — retryable, so a
      // connection that drops during the re-handshake of a mid-fetch
      // retry keeps failing over through port() instead of aborting.
      sock.close()
      throw new java.io.EOFException("handshake: connection closed before response")
    }
    if (resp.contains("\"ok\": false")) {
      sock.close()
      throw new GatewayRequestException(s"handshake rejected: $resp")
    }
    if (!resp.contains("\"ok\": true")) {
      // Neither verdict present: the connection died MID-ACK and readLine
      // handed the fragment as a "line" — transport, retryable.
      sock.close()
      throw new java.io.EOFException(s"handshake: truncated ack: $resp")
    }
    c
  }

  private def dropConn(): Unit = {
    if (conn != null) {
      try conn.sock.close() catch { case _: java.io.IOException => () }
      conn = null
    }
  }

  /** Run `op` against a live connection, reconnecting + backing off on
    * transport failure, up to `maxRetries` retries. The op must be
    * idempotent (every protocol op here is: submit returns a fresh job,
    * fetch re-executes the ticket). */
  private def withRetry[A](what: String)(op: Conn => A): A = {
    var attempt = 0
    while (true) {
      try {
        if (conn == null) conn = connect()
        return op(conn)
      } catch {
        case e: java.io.IOException =>
          dropConn()
          if (attempt >= maxRetries)
            throw new GatewayTransportException(
              s"$what failed after ${attempt + 1} attempts", e)
          sleeper(GatewayClient.backoffMs(attempt, jitterFrac()))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }


  /** Submit SQL; returns (jobId, partitionCount). */
  def submit(sql: String): (String, Int) = withRetry("submit") { c =>
    c.out.println(s"""{"op": "submit", "sql": ${jstr(sql)}}""")
    val resp = c.readLine()
    if (resp == null) throw new java.io.EOFException("submit: no response")
    if (resp.contains("\"ok\": false"))
      throw new GatewayRequestException(s"submit rejected: $resp")
    if (!resp.contains("\"ok\": true"))
      throw new java.io.EOFException(s"submit: truncated response: $resp")
    // A served ack always carries BOTH fields; an `ok:true` line missing
    // either is a connection killed MID-ACK (readLine hands the fragment
    // as a "line") — a transport failure that must retry, not a protocol
    // answer (found by the resume-sweep lane: a kill inside the submit
    // ack kept `"ok": true` but cut `"partitions"`).
    val job = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp)
      .getOrElse(throw new java.io.EOFException(s"submit: truncated ack: $resp"))
      .group(1)
    val parts = """"partitions": (\d+)""".r.findFirstMatchIn(resp)
      .getOrElse(throw new java.io.EOFException(s"submit: truncated ack: $resp"))
      .group(1).toInt
    (job, parts)
  }

  /** Fetch one partition's rows (raw row-JSON lines), retrying transport
    * failures with the reference's backoff discipline.
    *
    * Retries RESUME at the row boundary (VERDICT r14 design item): a
    * mid-stream drop keeps the rows already received and re-issues the
    * fetch with `"offset": <kept>`, so a multi-GB partition re-streams
    * only the tail instead of the reference's whole-ticket re-stream.
    * Two safety rails keep resumed results row-identical to a clean run:
    *   - the last line buffered before a transport failure is DROPPED
    *     before computing the offset — a connection killed MID-LINE hands
    *     BufferedReader.readLine the truncated fragment as a final
    *     "line"; every earlier line was proven newline-complete by the
    *     line after it;
    *   - a REJECTED resume (ok:false while an offset was sent — job
    *     evicted between attempts, offset past the end after a
    *     recompute, or a server without offset support) falls back to
    *     one whole-ticket re-fetch with the partials discarded, the
    *     reference's original discipline. */
  def fetchPartition(jobId: String, partition: Int): Vector[String] = {
    val what = s"fetch p$partition"
    var acc = Vector.empty[String]
    var resume = true
    var attempt = 0
    // Computation token of the stream `acc`'s rows came from (the fetch
    // header carries it). Echoed as "ctoken" on an offset resume so the
    // server can prove the resumed tail continues the SAME computation —
    // without it, a cached-block loss between attempts could splice two
    // row orders silently (ADVICE r15 high). Reset with acc on fallback.
    var ctoken: Option[String] = None
    while (true) {
      if (!resume) { acc = Vector.empty; ctoken = None }
      val off = acc.size.toLong
      var appended = 0
      try {
        if (conn == null) conn = connect()
        val c = conn
        val offField = if (off > 0) s""", "offset": $off""" else ""
        val ctField = ctoken.filter(_ => off > 0)
          .map(t => s""", "ctoken": ${jstr(t)}""").getOrElse("")
        c.out.println(s"""{"op": "fetch", "job_id": ${jstr(jobId)}, """ +
          s""""partition": $partition$offField$ctField}""")
        var line = c.readLine()
        // Stream header: {"ok": true, "format": "rows", "token": "..."} —
        // remember the token BEFORE any row arrives (a mid-stream drop
        // never delivers the terminator, so the token must lead). A header
        // fragment from a mid-header kill lacks the token field and falls
        // through to the truncated-stream transport rail below.
        if (line != null && line.contains("\"format\": \"rows\"")) {
          """"token": "(-?\d+)"""".r.findFirstMatchIn(line)
            .foreach(m => ctoken = Some(m.group(1)))
          line = c.readLine()
        }
        while (line != null && line.startsWith("{\"row\"")) {
          acc = acc :+ line
          appended += 1
          line = c.readLine()
        }
        if (line == null)
          throw new java.io.EOFException(s"$what: stream died before terminator")
        if (line.contains("\"ok\": false")) {
          if (off > 0 && resume) resume = false // fall back, loop re-fetches whole
          else throw new GatewayRequestException(s"$what rejected: $line")
        } else if (!line.contains("\"ok\": true")) {
          // Neither a row nor a parseable terminator: a mid-line kill's
          // truncated fragment — a transport failure, not a server answer.
          throw new java.io.EOFException(s"$what: truncated stream: $line")
        } else {
          return acc
        }
      } catch {
        case e: java.io.IOException =>
          dropConn()
          if (appended > 0) acc = acc.init // last line may be truncated
          if (attempt >= maxRetries)
            throw new GatewayTransportException(
              s"$what failed after ${attempt + 1} attempts", e)
          sleeper(GatewayClient.backoffMs(attempt, jitterFrac()))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Submit + fetch every partition in ticket order. */
  def fetchAll(sql: String): Vector[String] = {
    val (job, parts) = submit(sql)
    (0 until parts).iterator.flatMap(fetchPartition(job, _)).toVector
  }

  /** Fetch one partition over the binary Arrow wire (the reference's
    * actual result encoding — LZ4 Arrow IPC), with the same retry +
    * resume discipline as the text fetch. The resume unit is the RECORD
    * BATCH: [[ArrowCodec.readResumable]] only exposes fully-decoded
    * batches, so a mid-stream drop keeps their rows and re-fetches with
    * `"offset": kept` — no mid-line truncation rail needed (batch decode
    * is all-or-nothing, unlike text lines). A rejected resume falls back
    * to one whole-ticket re-fetch, as in the text path. */
  def fetchPartitionArrow(jobId: String, partition: Int): Vector[org.apache.spark.sql.Row] = {
    val what = s"fetch_arrow p$partition"
    var acc = Vector.empty[org.apache.spark.sql.Row]
    var resume = true
    var attempt = 0
    // Same continuity echo as the text fetch: the ack's computation token
    // rides back as "ctoken" on an offset resume (ADVICE r15 high).
    var ctoken: Option[String] = None
    while (true) {
      if (!resume) { acc = Vector.empty; ctoken = None }
      val off = acc.size.toLong
      try {
        if (conn == null) conn = connect()
        val c = conn
        val offField = if (off > 0) s""", "offset": $off""" else ""
        val ctField = ctoken.filter(_ => off > 0)
          .map(t => s""", "ctoken": ${jstr(t)}""").getOrElse("")
        c.out.println(s"""{"op": "fetch_arrow", "job_id": ${jstr(jobId)}, """ +
          s""""partition": $partition$offField$ctField}""")
        val ack = c.readLine()
        if (ack == null)
          throw new java.io.EOFException(s"$what: no ack")
        if (ack.contains("\"ok\": false")) {
          if (off > 0 && resume) resume = false // fall back, loop re-fetches whole
          else throw new GatewayRequestException(s"$what rejected: $ack")
        } else if (!ack.contains("arrow_ipc_stream")) {
          // A kill inside the ack hands the fragment as a "line".
          throw new java.io.EOFException(s"$what: truncated ack: $ack")
        } else {
          """"token": "(-?\d+)"""".r.findFirstMatchIn(ack)
            .foreach(m => ctoken = Some(m.group(1)))
          val (_, rows, complete) = ArrowCodec.readResumable(c.raw)
          acc = acc ++ rows
          if (!complete)
            throw new java.io.EOFException(s"$what: arrow stream died mid-batch")
          val fin = c.readLine()
          // Terminator lost after a complete body: the retry's offset
          // equals the full row count, so it re-streams an EMPTY tail —
          // convergent, nothing re-sent.
          if (fin == null || !fin.contains("\"ok\": true"))
            throw new java.io.EOFException(s"$what: truncated terminator: $fin")
          return acc
        }
      } catch {
        case e: java.io.IOException =>
          dropConn()
          if (attempt >= maxRetries)
            throw new GatewayTransportException(
              s"$what failed after ${attempt + 1} attempts", e)
          sleeper(GatewayClient.backoffMs(attempt, jitterFrac()))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Submit + fetch every partition over the Arrow wire, in ticket order. */
  def fetchAllArrow(sql: String): Vector[org.apache.spark.sql.Row] = {
    val (job, parts) = submit(sql)
    (0 until parts).iterator.flatMap(fetchPartitionArrow(job, _)).toVector
  }

  override def close(): Unit = dropConn()
}

object GatewayClient {
  /** The reference's client fetch discipline: 3 retries max. */
  val MAX_RETRIES = 3
  val BASE_BACKOFF_MS = 250L
  val MAX_BACKOFF_MS = 10000L

  /** Exponential backoff with jitter, capped — pure (BenchGateSpec-style
    * seam): attempt 0 -> ~250 ms, 1 -> ~500, 2 -> ~1000, …, never above
    * [[MAX_BACKOFF_MS]]. `jitterFrac` in [0,1) scales the delay over
    * [1/2, 1]× the exponential step so synchronized clients desynchronize
    * (the reference jitters identically before capping at 10 s). */
  def backoffMs(attempt: Int, jitterFrac: Double): Long = {
    val exp = math.min(MAX_BACKOFF_MS,
      BASE_BACKOFF_MS << math.min(attempt, 30))
    (exp / 2 + (exp / 2 * math.min(math.max(jitterFrac, 0.0), 1.0))).toLong
  }
}
