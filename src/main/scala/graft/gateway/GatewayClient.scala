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

  /** One partition fetched by `op` with the retry + RESUME discipline
    * (VERDICT r14 design item): a mid-stream drop keeps the rows already
    * received and re-issues the fetch with `"offset": <kept>`, so a
    * multi-GB partition re-streams only the tail instead of the
    * reference's whole-ticket re-stream. The header/ack line carries the
    * partition's computation token, echoed as `"ctoken"` on a resume so the
    * server can prove the resumed tail continues the SAME computation —
    * without it, a cached-block loss between attempts could splice two row
    * orders silently (ADVICE r15 high). A REJECTED resume (ok:false while
    * an offset was sent — job evicted between attempts, offset past the end
    * after a recompute, a token mismatch, or a server without offset
    * support) falls back to one whole-ticket re-fetch with the partials
    * discarded, the reference's original discipline.
    *
    * `body` reads the response after its first line (given, null at EOF),
    * hands each complete row to `keep` as it arrives, and returns the
    * line that ends the response: the `{"ok": true, "rows": N}`
    * terminator, an `ok:false` answer, or a fragment (a transport
    * failure, retried). */
  private def fetchResumable[A](op: String, jobId: String, partition: Int)(
      body: (Conn, String, A => Unit) => String): Vector[A] = {
    val what = s"$op p$partition"
    var acc = Vector.empty[A]
    var resume = true
    var ctoken: Option[String] = None
    var done = false
    withRetry(what) { c =>
      while (!done) {
        if (!resume) { acc = Vector.empty; ctoken = None }
        val off = acc.size.toLong
        val offField = if (off > 0) s""", "offset": $off""" else ""
        val ctField = ctoken.filter(_ => off > 0)
          .map(t => s""", "ctoken": ${jstr(t)}""").getOrElse("")
        c.out.println(s"""{"op": "$op", "job_id": ${jstr(jobId)}, """ +
          s""""partition": $partition$offField$ctField}""")
        val head = c.readLine()
        if (head != null && head.contains("\"format\": "))
          """"token": "(-?\d+)"""".r.findFirstMatchIn(head).foreach(m => ctoken = Some(m.group(1)))
        val end = body(c, head, a => acc :+= a)
        if (end == null)
          throw new java.io.EOFException(s"$what: stream died before terminator")
        if (end.contains("\"ok\": false")) {
          if (off > 0 && resume) resume = false // fall back, loop re-fetches whole
          else throw new GatewayRequestException(s"$what rejected: $end")
        } else if (end.contains("\"ok\": true") && end.contains("\"rows\": ")) done = true
        // A kill inside a control line hands the fragment as a "line": a
        // transport failure, not a server answer.
        else throw new java.io.EOFException(s"$what: truncated response: $end")
      }
      acc
    }
  }

  /** Fetch one partition's rows (raw row-JSON lines), retrying transport
    * failures with the reference's backoff discipline and resuming at the
    * row boundary ([[fetchResumable]]). A row line is kept only once the
    * line after it arrived: a connection killed MID-LINE hands readLine
    * the truncated fragment as a final "line", so the last line before a
    * transport failure is never kept. */
  def fetchPartition(jobId: String, partition: Int): Vector[String] =
    fetchResumable[String]("fetch", jobId, partition) { (c, head, keep) =>
      // Stream header: {"ok": true, "format": "rows", "token": "..."}.
      var line = if (head != null && head.contains("\"format\": \"rows\"")) c.readLine() else head
      var last: String = null
      while (line != null && line.startsWith("{\"row\"")) {
        if (last != null) keep(last)
        last = line
        line = c.readLine()
      }
      if (last != null && line != null) keep(last)
      line
    }

  /** Submit + fetch every partition in ticket order. */
  def fetchAll(sql: String): Vector[String] = {
    val (job, parts) = submit(sql)
    (0 until parts).iterator.flatMap(fetchPartition(job, _)).toVector
  }

  /** Fetch one partition over the binary Arrow wire (the reference's
    * actual result encoding — LZ4 Arrow IPC), with the same retry +
    * resume discipline as the text fetch ([[fetchResumable]]). The resume
    * unit is the RECORD BATCH: [[ArrowCodec.readResumable]] only exposes
    * fully-decoded batches, so a mid-stream drop keeps their rows and
    * re-fetches with `"offset": kept` — no mid-line truncation rail needed
    * (batch decode is all-or-nothing, unlike text lines). */
  def fetchPartitionArrow(jobId: String, partition: Int): Vector[org.apache.spark.sql.Row] =
    fetchResumable[org.apache.spark.sql.Row]("fetch_arrow", jobId, partition) { (c, ack, keep) =>
      if (ack == null || !ack.contains("arrow_ipc_stream")) ack // an answer, or a fragment of the ack
      else {
        val (_, rows, complete) = ArrowCodec.readResumable(c.raw)
        rows.foreach(keep)
        if (!complete)
          throw new java.io.EOFException(s"fetch_arrow p$partition: arrow stream died mid-batch")
        // A terminator lost after a complete body: the retry's offset equals
        // the full row count, so it re-streams an EMPTY tail — convergent.
        c.readLine()
      }
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
