package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import graft.gateway.{ArrowCodec, GatewayAuth, GatewayServer, JobRuntime}
import org.apache.spark.sql.types._
import scala.concurrent.duration._

/** Drives the socket gateway like an external client: handshake, submit
  * over TCP, fetch each ticket as a row stream, observe
  * running_jobs/cluster_nodes, and exercise the error + auth paths. */
class GatewayServerSpec extends SparkSpec {

  private val handshakeLine =
    """{"op": "handshake", "user": "admin", "password": "admin123"}"""

  /** First post-fetch line, skipping the r16 stream header (the
    * computation-token line that now leads every text fetch). */
  private def readPastHeader(read: () => String): String = {
    val l = read()
    if (l != null && l.contains("\"format\": \"rows\"")) read() else l
  }

  private def withServer[A](f: (Socket, BufferedReader, PrintWriter) => A): A = {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val sock = new Socket("127.0.0.1", srv.boundPort)
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new PrintWriter(sock.getOutputStream, true)
    try {
      out.println(handshakeLine)
      val hs = in.readLine()
      assert(hs.contains("\"ok\": true") && hs.contains("Bearer "), hs)
      f(sock, in, out)
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("submit -> per-ticket row streaming over a real socket") {
    withServer { (_, in, out) =>
      out.println("""{"op": "submit", "sql": "SELECT id, id * id AS sq FROM range(0, 100, 1, 4)"}""")
      val resp = in.readLine()
      assert(resp.contains("\"ok\": true") && resp.contains("\"partitions\": 4"), resp)
      assert(resp.contains("\"columns\": [\"id\",\"sq\"]"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      var rows = 0
      for (p <- 0 until 4) {
        out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": $p}""")
        var line = readPastHeader(() => in.readLine())
        while (line.startsWith("{\"row\"")) { rows += 1; line = in.readLine() }
        assert(line.contains("\"ok\": true"), line)
      }
      assert(rows == 100)
    }
  }

  test("running_jobs and cluster_nodes stream over the socket") {
    withServer { (_, in, out) =>
      out.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      in.readLine()
      out.println("""{"op": "running_jobs"}""")
      var line = in.readLine()
      var jobRows = 0
      while (line.startsWith("{\"row\"")) { jobRows += 1; line = in.readLine() }
      assert(jobRows == 1, s"expected 1 live job, got $jobRows")
      out.println("""{"op": "cluster_nodes"}""")
      line = in.readLine()
      var nodeRows = 0
      while (line.startsWith("{\"row\"")) { nodeRows += 1; line = in.readLine() }
      assert(nodeRows >= 1)
      // store_occupancy: warm one store, then the op must stream its row
      // (plus whatever else is warm in this JVM) with the caps columns.
      pipeline.Dedup.materializedPairs(spark, sfDir, 0.5).count()
      out.println("""{"op": "store_occupancy"}""")
      line = in.readLine()
      var storeRows = 0
      var sawPairs = false
      while (line.startsWith("{\"row\"")) {
        storeRows += 1
        if (line.contains("graft-pairs-idx")) sawPairs = true
        line = in.readLine()
      }
      assert(line.contains("\"ok\": true"), line)
      assert(storeRows >= 1 && sawPairs,
        s"expected the warmed pairs store in $storeRows occupancy rows")
    }
  }

  test("fetch_arrow round-trips a schema-checked LZ4 Arrow IPC stream over TCP") {
    // The reference's result wire: LZ4-compressed Arrow record batches
    // (networks/tonic/src/server.rs:109-141). Client reads the ack line
    // byte-wise off the raw stream (no read-ahead), then hands the same
    // stream to the Arrow reader, then reads the trailing control line.
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 256))
    val srv = new GatewayServer(rt)
    val sock = new Socket("127.0.0.1", srv.boundPort)
    try {
      val rawIn = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new PrintWriter(sock.getOutputStream, true)
      def readLineRaw(): String = {
        val sb = new StringBuilder
        var b = rawIn.read()
        while (b != -1 && b != '\n') { sb.append(b.toChar); b = rawIn.read() }
        sb.toString
      }
      out.println(handshakeLine)
      assert(readLineRaw().contains("\"ok\": true"))
      out.println("""{"op": "submit", "sql": "SELECT id, CAST(id AS STRING) AS s, CAST(id AS DOUBLE) / 4 AS d, id % 3 = 0 AS flag, IF(id % 2 = 0, NULL, id * 10) AS n FROM range(0, 1000, 1, 1)"}""")
      val resp = readLineRaw()
      assert(resp.contains("\"ok\": true"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0}""")
      val ack = readLineRaw()
      assert(ack.contains("\"format\": \"arrow_ipc_stream\""), ack)
      val (schema, rows) = ArrowCodec.read(rawIn)
      assert(schema == StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("s", StringType, nullable = false),
        StructField("d", DoubleType, nullable = true),
        StructField("flag", BooleanType, nullable = true),
        StructField("n", LongType, nullable = true))), schema.treeString)
      assert(rows.size == 1000)
      assert(rows(7) == org.apache.spark.sql.Row(7L, "7", 1.75, false, 70L))
      assert(rows(8).isNullAt(4))
      val fin = readLineRaw()
      assert(fin.contains("\"rows\": 1000"), fin)
      // The same connection still speaks the text protocol afterwards.
      out.println("""{"op": "cluster_nodes"}""")
      var line = readLineRaw()
      var nodeRows = 0
      while (line.startsWith("{\"row\"")) { nodeRows += 1; line = readLineRaw() }
      assert(nodeRows >= 1)
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("concurrent fetch_arrow clients decode disjoint partitions correctly") {
    // Four independent TCP clients each stream a different partition of
    // the same job as Arrow IPC at the same time — the reference's
    // many-FlightData-streams-per-job serving shape.
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 64))
    val srv = new GatewayServer(rt)
    def readLineRaw(in: java.io.InputStream): String = {
      val sb = new StringBuilder
      var b = in.read()
      while (b != -1 && b != '\n') { sb.append(b.toChar); b = in.read() }
      sb.toString
    }
    val ctl = new Socket("127.0.0.1", srv.boundPort)
    try {
      val ctlIn = new java.io.BufferedInputStream(ctl.getInputStream)
      val ctlOut = new PrintWriter(ctl.getOutputStream, true)
      ctlOut.println(handshakeLine)
      val hs = readLineRaw(ctlIn)
      assert(hs.contains("\"ok\": true"), hs)
      // Bearer semantics: the worker sockets reuse the control connection's
      // token instead of re-handshaking.
      val token = """"token": "([^"]+)"""".r.findFirstMatchIn(hs).get.group(1)
      ctlOut.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 1000, 1, 4)"}""")
      val resp = readLineRaw(ctlIn)
      assert(resp.contains("\"ok\": true"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futs = (0 until 4).map { p =>
          pool.submit(new java.util.concurrent.Callable[(Int, Long)] {
            def call(): (Int, Long) = {
              val sock = new Socket("127.0.0.1", srv.boundPort)
              try {
                val rawIn = new java.io.BufferedInputStream(sock.getInputStream)
                val out = new PrintWriter(sock.getOutputStream, true)
                out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": $p, "token": "$token"}""")
                val ack = readLineRaw(rawIn)
                assert(ack.contains("\"format\": \"arrow_ipc_stream\""), ack)
                val (_, rows) = ArrowCodec.read(rawIn)
                (rows.size, rows.map(_.getLong(0)).sum)
              } finally sock.close()
            }
          })
        }
        val res = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(res.map(_._1).sum == 1000, s"row counts: ${res.map(_._1)}")
        assert(res.map(_._2).sum == (0L until 1000L).sum,
          "row values were crossed between concurrent Arrow streams")
      } finally { pool.shutdownNow(); () }
    } finally { ctl.close(); srv.close(); rt.close() }
  }

  test("unauthenticated ops are rejected; handshake issues a reusable bearer token") {
    // Reference handshake contract (app/src/main.rs:166-207): Basic
    // credentials -> bearer token; calls without authentication fail.
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    def connect(): (Socket, BufferedReader, PrintWriter) = {
      val s = new Socket("127.0.0.1", srv.boundPort)
      (s,
        new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8)),
        new PrintWriter(s.getOutputStream, true))
    }
    val (s1, in1, out1) = connect()
    try {
      // No handshake: every data op is rejected, connection survives.
      out1.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      val e1 = in1.readLine()
      assert(e1.contains("\"ok\": false") && e1.contains("unauthenticated"), e1)
      out1.println("""{"op": "fetch", "job_id": "x", "partition": 0}""")
      assert(in1.readLine().contains("unauthenticated"))
      out1.println("""{"op": "running_jobs"}""")
      assert(in1.readLine().contains("unauthenticated"))
      // Wrong password: rejected, no token issued.
      out1.println("""{"op": "handshake", "user": "admin", "password": "wrong"}""")
      val e2 = in1.readLine()
      assert(e2.contains("\"ok\": false") && e2.contains("invalid username or password"), e2)
      out1.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      assert(in1.readLine().contains("unauthenticated"))
      // Good credentials: token issued, ops work on this connection.
      out1.println(handshakeLine)
      val hs = in1.readLine()
      assert(hs.contains("\"ok\": true") && hs.contains("Bearer "), hs)
      val token = """"token": "([^"]+)"""".r.findFirstMatchIn(hs).get.group(1)
      out1.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      val sub = in1.readLine()
      assert(sub.contains("\"ok\": true"), sub)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(sub).get.group(1)
      // A second connection presents the token instead of re-handshaking.
      val (s2, in2, out2) = connect()
      try {
        out2.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0, "token": "$token"}""")
        var line = readPastHeader(() => in2.readLine())
        var rows = 0
        while (line.startsWith("{\"row\"")) { rows += 1; line = in2.readLine() }
        assert(rows == 1 && line.contains("\"ok\": true"), line)
        // A bogus token is still rejected.
        out2.println("""{"op": "running_jobs", "token": "not-a-token"}""")
        assert(in2.readLine().contains("unauthenticated"))
      } finally s2.close()
    } finally { s1.close(); srv.close(); rt.close() }
  }

  test("tokenTtl expires bearer tokens: stale use rejected, re-handshake recovers") {
    val rt = new JobRuntime(spark)
    // 2s TTL, sleep past 2.4s: the fresh-token round-trip below must land
    // inside the TTL window, and a loaded CI host can stall a socket
    // connect + readLine for hundreds of ms — 300ms flaked (ADVICE r7).
    val srv = new GatewayServer(rt,
      auth = Some(GatewayAuth(tokenTtl = Some(2.seconds))))
    val sock = new Socket("127.0.0.1", srv.boundPort)
    try {
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(sock.getOutputStream, true)
      out.println(handshakeLine)
      val hs = in.readLine()
      assert(hs.contains("\"ok\": true"), hs)
      val token = """"token": "([^"]+)"""".r.findFirstMatchIn(hs).get.group(1)
      // Fresh token works (on a second connection, bearer-style).
      val s2 = new Socket("127.0.0.1", srv.boundPort)
      try {
        val in2 = new BufferedReader(
          new InputStreamReader(s2.getInputStream, StandardCharsets.UTF_8))
        val out2 = new PrintWriter(s2.getOutputStream, true)
        out2.println(s"""{"op": "running_jobs", "token": "$token"}""")
        var line = in2.readLine()
        while (line.startsWith("{\"row\"")) line = in2.readLine()
        assert(line.contains("\"ok\": true"), line)
        Thread.sleep(2400)
        // Expired: the bearer use AND the issuing connection both fail.
        out2.println(s"""{"op": "running_jobs", "token": "$token"}""")
        assert(in2.readLine().contains("unauthenticated"))
        out.println("""{"op": "running_jobs"}""")
        assert(in.readLine().contains("unauthenticated"))
        // Re-handshake on the original connection recovers it.
        out.println(handshakeLine)
        assert(in.readLine().contains("\"ok\": true"))
        out.println("""{"op": "running_jobs"}""")
        var l3 = in.readLine()
        while (l3.startsWith("{\"row\"")) l3 = in.readLine()
        assert(l3.contains("\"ok\": true"), l3)
      } finally s2.close()
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("maxTokens caps the no-TTL token map: oldest token evicted first") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, auth = Some(GatewayAuth(maxTokens = 2)))
    def handshake(): String = {
      val s = new Socket("127.0.0.1", srv.boundPort)
      try {
        val in = new BufferedReader(
          new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        val out = new PrintWriter(s.getOutputStream, true)
        out.println(handshakeLine)
        val hs = in.readLine()
        assert(hs.contains("\"ok\": true"), hs)
        """"token": "([^"]+)"""".r.findFirstMatchIn(hs).get.group(1)
      } finally s.close()
    }
    def bearerOk(token: String): Boolean = {
      val s = new Socket("127.0.0.1", srv.boundPort)
      try {
        val in = new BufferedReader(
          new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        val out = new PrintWriter(s.getOutputStream, true)
        out.println(s"""{"op": "running_jobs", "token": "$token"}""")
        var line = in.readLine()
        while (line.startsWith("{\"row\"")) line = in.readLine()
        line.contains("\"ok\": true")
      } finally s.close()
    }
    try {
      val t1 = handshake(); val t2 = handshake(); val t3 = handshake()
      // Cap 2: the third handshake evicted the oldest live token (t1).
      assert(!bearerOk(t1), "oldest token should be evicted at the cap")
      assert(bearerOk(t2) && bearerOk(t3), "newer tokens must survive eviction")
    } finally { srv.close(); rt.close() }
  }

  test("a concurrent handshake flood never overshoots maxTokens") {
    // The cap exists to bound memory under exactly this load; the
    // evict+put is synchronized so racing handshakes can't check-then-act
    // past it. 24 parallel handshakes against cap 4: every handshake
    // succeeds, and afterwards at most 4 of the issued tokens are live.
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, auth = Some(GatewayAuth(maxTokens = 4)))
    def handshake(): String = {
      val s = new Socket("127.0.0.1", srv.boundPort)
      try {
        val in = new BufferedReader(
          new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        val out = new PrintWriter(s.getOutputStream, true)
        out.println(handshakeLine)
        val hs = in.readLine()
        assert(hs.contains("\"ok\": true"), hs)
        """"token": "([^"]+)"""".r.findFirstMatchIn(hs).get.group(1)
      } finally s.close()
    }
    def bearerOk(token: String): Boolean = {
      val s = new Socket("127.0.0.1", srv.boundPort)
      try {
        val in = new BufferedReader(
          new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        val out = new PrintWriter(s.getOutputStream, true)
        out.println(s"""{"op": "running_jobs", "token": "$token"}""")
        var line = in.readLine()
        while (line.startsWith("{\"row\"")) line = in.readLine()
        line.contains("\"ok\": true")
      } finally s.close()
    }
    try {
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      val pool = Executors.newFixedThreadPool(12)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val tokens =
        try Await.result(Future.sequence(
          (1 to 24).map(_ => Future(handshake()))), 60.seconds)
        finally pool.shutdown()
      assert(tokens.toSet.size == 24, "every handshake must issue a token")
      val live = tokens.count(bearerOk)
      assert(live <= 4, s"cap overshot: $live live tokens > 4")
      assert(live > 0, "the newest tokens must remain usable")
    } finally { srv.close(); rt.close() }
  }

  test("auth=None serves trusted in-process embeddings without a handshake") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, auth = None)
    val sock = new Socket("127.0.0.1", srv.boundPort)
    try {
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(sock.getOutputStream, true)
      out.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      assert(in.readLine().contains("\"ok\": true"))
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("a result type the Arrow pages cannot carry is refused at submit (no desync)") {
    // Results travel as Arrow pages over both wires, so a type the pages
    // cannot carry (an interval) is refused while the job is planned, as
    // a clean JSON error, and the connection keeps speaking the protocol.
    withServer { (_, in, out) =>
      out.println("""{"op": "submit", "sql": "SELECT INTERVAL '1' DAY AS i FROM range(0, 10, 1, 1)"}""")
      val err = in.readLine()
      assert(err.contains("\"ok\": false") && err.contains("does not support"), err)
      out.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 10, 1, 1)"}""")
      val resp = in.readLine()
      assert(resp.contains("\"ok\": true"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0}""")
      var line = readPastHeader(() => in.readLine())
      var rows = 0
      while (line.startsWith("{\"row\"")) { rows += 1; line = in.readLine() }
      assert(rows == 10 && line.contains("\"ok\": true"), line)
    }
  }

  test("submitted SQL carrying JSON escapes (\\n, \\t, \\u0041) is unescaped") {
    withServer { (_, in, out) =>
      // A multi-line query sent as proper JSON: "SELECT\n\t1 AS A"
      out.println("""{"op": "submit", "sql": "SELECT\n\t1 AS A"}""")
      val resp = in.readLine()
      assert(resp.contains("\"ok\": true") && resp.contains("\"columns\": [\"A\"]"), resp)
    }
  }

  /** Byte-level TCP proxy that KILLS the first proxied connection after
    * `killAfterBytes` of server→client traffic — a genuine mid-stream
    * transport failure against a healthy server. Later connections pump
    * cleanly, so a reconnecting client can finish. */
  private final class FlakyProxy(targetPort: Int, killAfterBytes: Int)
    extends AutoCloseable {
    private val server = new java.net.ServerSocket(0)
    def port: Int = server.getLocalPort
    private val killUsed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val kills = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Total server→client LINES pumped (newline bytes) — the wire-volume
      * witness the resume-offset assertion reads: a whole-ticket re-fetch
      * re-streams every pre-kill row, a resumed fetch only the tail. */
    val downLines = new java.util.concurrent.atomic.AtomicInteger(0)
    private def pump(in: java.io.InputStream, out: java.io.OutputStream,
        limit: Int, onLimit: () => Unit, countLines: Boolean = false): Unit = {
      val t = new Thread(() => {
        val buf = new Array[Byte](1024)
        var moved = 0
        var cut = false
        try {
          var n = in.read(buf, 0, if (limit < 0) buf.length
            else math.max(1, math.min(buf.length, limit - moved)))
          while (n != -1 && !cut) {
            out.write(buf, 0, n); out.flush(); moved += n
            if (countLines) {
              var i = 0
              while (i < n) { if (buf(i) == '\n') downLines.incrementAndGet(); i += 1 }
            }
            if (limit >= 0 && moved >= limit) { onLimit(); cut = true }
            else n = in.read(buf, 0, if (limit < 0) buf.length
              else math.max(1, math.min(buf.length, limit - moved)))
          }
        } catch { case _: java.io.IOException => () }
      })
      t.setDaemon(true); t.start()
    }
    private val acceptor = new Thread(() => {
      try while (!server.isClosed) {
        val cli = server.accept()
        val up = new Socket("127.0.0.1", targetPort)
        pump(cli.getInputStream, up.getOutputStream, -1, () => ())
        val doKill = killUsed.compareAndSet(false, true)
        pump(up.getInputStream, cli.getOutputStream,
          if (doKill) killAfterBytes else -1,
          () => {
            kills.incrementAndGet()
            try cli.close() catch { case _: java.io.IOException => () }
            try up.close() catch { case _: java.io.IOException => () }
          }, countLines = true)
      } catch { case _: java.io.IOException => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    override def close(): Unit = server.close()
  }

  test("client fetch retry: a mid-stream drop reconnects, re-fetches the " +
      "ticket, and completes with identical rows (ref retry discipline)") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val proxy = new FlakyProxy(srv.boundPort, killAfterBytes = 2000)
    val sql = "SELECT id, id * id AS sq FROM range(0, 2000, 1, 2)"
    val direct = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    val flaky = new graft.gateway.GatewayClient("127.0.0.1", () => proxy.port,
      sleeper = _ => (), jitterFrac = () => 0.0)
    try {
      val truth = direct.fetchAll(sql)
      assert(truth.size == 2000)
      // 2000 bytes of server->client traffic die mid-partition-0 stream
      // (handshake + submit acks ~200B, each row line ~25B): the client
      // must reconnect, re-handshake, re-issue the ticket, discard the
      // partial rows, and deliver the same relation.
      val got = flaky.fetchAll(sql)
      assert(proxy.kills.get() == 1, "the proxy never killed a stream")
      assert(got == truth, "retried fetch diverged from the direct fetch")
    } finally {
      flaky.close(); direct.close(); proxy.close(); srv.close(); rt.close()
    }
  }

  test("client fetch retry resumes at the row boundary: a late mid-stream " +
      "drop re-streams only the partition tail, rows identical") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    // Kill AFTER ~800 of partition 0's 1000 row lines (~26 B each, plus
    // ~250 B of handshake/submit acks): a whole-ticket re-fetch would put
    // those ~800 lines on the wire twice, a resumed fetch only the ~200
    // tail rows (plus one re-fetched boundary row).
    val proxy = new FlakyProxy(srv.boundPort, killAfterBytes = 21000)
    val sql = "SELECT id, id * id AS sq FROM range(0, 2000, 1, 2)"
    val direct = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    val flaky = new graft.gateway.GatewayClient("127.0.0.1", () => proxy.port,
      sleeper = _ => (), jitterFrac = () => 0.0)
    try {
      val truth = direct.fetchAll(sql)
      val got = flaky.fetchAll(sql)
      assert(proxy.kills.get() == 1, "the proxy never killed a stream")
      assert(got == truth, "resumed fetch diverged from the direct fetch")
      // Wire-volume witness: ~2000 row lines + ~10 protocol lines + the
      // ~200-row resumed tail ≈ 2210; a whole-ticket re-fetch ≈ 2810.
      val lines = proxy.downLines.get()
      assert(lines < 2500,
        s"$lines server->client lines: the retry re-streamed the pre-kill " +
          "rows instead of resuming at the offset")
      assert(lines > 2000, s"only $lines lines moved — kill landed too early")
    } finally {
      flaky.close(); direct.close(); proxy.close(); srv.close(); rt.close()
    }
  }

  test("resume sweep: kills at protocol boundaries and mid-row all yield " +
      "identical rows (handshake, first row, row boundary, terminator)") {
    // The resume's correctness edges live at byte boundaries: a kill
    // inside the handshake ack, before any row, exactly at a newline,
    // mid-row, and inside the terminator line each exercise a different
    // drop-last/offset combination. Every kill point must converge to the
    // same relation.
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val sql = "SELECT id, id * 3 AS t FROM range(0, 500, 1, 1)"
    val direct = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val truth = direct.fetchAll(sql)
      assert(truth.size == 500)
      // ~180 B of acks, then 500 rows x ~22 B: points below 180 kill the
      // handshake/submit, ~200 the first rows, 4000/7000 mid-stream
      // (newline-aligned or not), 11000+ near the terminator.
      for (kill <- Seq(60, 190, 2003, 4000, 7001, 9900, 11450)) {
        val proxy = new FlakyProxy(srv.boundPort, killAfterBytes = kill)
        val flaky = new graft.gateway.GatewayClient("127.0.0.1", () => proxy.port,
          sleeper = _ => (), jitterFrac = () => 0.0)
        try {
          val got = flaky.fetchAll(sql)
          assert(got == truth, s"kill@$kill diverged: got ${got.size} rows")
        } finally { flaky.close(); proxy.close() }
      }
    } finally { direct.close(); srv.close(); rt.close() }
  }

  test("fetch offset: skips served rows; an offset past the end answers " +
      "ok:false and keeps the ticket fetchable") {
    withServer { (_, in, out) =>
      // Two partitions so draining partition 0 does NOT complete the job
      // (terminal-state handle eviction would otherwise hide the probes).
      out.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 10, 1, 2)"}""")
      val resp = in.readLine()
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      // Resume from row 3 of partition 0 (rows 0-4): exactly 3, 4 stream.
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0, "offset": 3}""")
      var line = readPastHeader(() => in.readLine())
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      while (line.startsWith("{\"row\"")) { rows += line; line = in.readLine() }
      assert(line.contains("\"ok\": true") && line.contains("\"rows\": 2"), line)
      assert(rows.toSeq == Seq(3, 4).map(i => s"""{"row": [$i]}"""), rows)
      // Offset beyond the partition: a served rejection, not an eviction.
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0, "offset": 99}""")
      val rej = in.readLine()
      assert(rej.contains("\"ok\": false") && rej.contains("beyond partition"), rej)
      // The ticket is still live: a whole-ticket fetch delivers all 5.
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0}""")
      line = readPastHeader(() => in.readLine())
      var n = 0
      while (line.startsWith("{\"row\"")) { n += 1; line = in.readLine() }
      assert(n == 5 && line.contains("\"ok\": true"), s"n=$n $line")
    }
  }

  test("fetch resume continuity: a ctoken from a different computation is " +
      "refused ok:false (no eviction) and the whole-ticket fetch still serves") {
    // ADVICE r15 high: without the token echo, a resume could silently
    // splice rows of two different computations. The server must prove
    // continuity and refuse the splice as a SERVED answer.
    withServer { (_, in, out) =>
      out.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 10, 1, 2)"}""")
      val resp = in.readLine()
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0}""")
      val hdr = in.readLine()
      assert(hdr.contains("\"format\": \"rows\""), hdr)
      val tok = """"token": "(-?\d+)"""".r.findFirstMatchIn(hdr).get.group(1)
      var line = in.readLine()
      var rows = 0
      while (line.startsWith("{\"row\"")) { rows += 1; line = in.readLine() }
      assert(rows == 5 && line.contains("\"ok\": true"), line)
      // Resume claiming a DIFFERENT computation token: a served rejection.
      val stale = (tok.toLong + 1L).toString
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0, """ +
        s""""offset": 2, "ctoken": "$stale"}""")
      val rej = in.readLine()
      assert(rej.contains("\"ok\": false") && rej.contains("token mismatch"), rej)
      // The handle survived the rejection: a matching ctoken resumes, and
      // a whole-ticket fetch still serves all 5 rows.
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0, """ +
        s""""offset": 2, "ctoken": "$tok"}""")
      line = readPastHeader(() => in.readLine())
      var tail = 0
      while (line.startsWith("{\"row\"")) { tail += 1; line = in.readLine() }
      assert(tail == 3 && line.contains("\"ok\": true"), s"tail=$tail $line")
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0}""")
      line = readPastHeader(() => in.readLine())
      var n = 0
      while (line.startsWith("{\"row\"")) { n += 1; line = in.readLine() }
      assert(n == 5 && line.contains("\"ok\": true"), s"n=$n $line")
    }
  }

  test("completed-job grace re-fetch survives MULTI-PAGE partitions: pages " +
      "re-persisted, recompute never evicts the handle (ADVICE r15 medium)") {
    // 100 rows at fetchPageSize 16 = 7 pages. Before r16 the grace
    // re-fetch recomputed EVERY page job under a fresh token (pages was
    // unpersisted at cleanup), threw PartitionRecomputeException at page 1,
    // and the dispatch catch-all evicted the handle — the client's
    // whole-ticket fallback then got "unknown job".
    val rt = new JobRuntime(spark,
      graft.gateway.GatewayConfig(fetchPageSize = 16))
    val srv = new GatewayServer(rt, handleGraceMs = 60000)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val (job, parts) = client.submit("SELECT id, id * 2 AS d FROM range(0, 100, 1, 1)")
      assert(parts == 1)
      val first = client.fetchPartition(job, 0)
      assert(first.size == 100) // drain → terminal → cleanup unpersisted pages
      val again = client.fetchPartition(job, 0)
      assert(again == first, "grace re-fetch diverged from the first drain")
      assert(srv.pinnedHandles == 1, "recompute must not evict the handle")
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("fetch_arrow offset: resumes the Arrow wire at a row boundary; " +
      "past-the-end answers ok:false before any ack and keeps the ticket") {
    // The binary wire's resume contract must reject BEFORE the ack line —
    // after it the client reads raw Arrow bytes and a JSON error would
    // desync the protocol. Also exercises Completed-job re-fetch: the
    // first whole drain puts the single-partition job terminal, and the
    // resumed fetches ride the handle grace window (recompute).
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 128))
    val srv = new GatewayServer(rt)
    val sock = new Socket("127.0.0.1", srv.boundPort)
    try {
      val rawIn = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new PrintWriter(sock.getOutputStream, true)
      def readLineRaw(): String = {
        val sb = new StringBuilder
        var b = rawIn.read()
        while (b != -1 && b != '\n') { sb.append(b.toChar); b = rawIn.read() }
        sb.toString
      }
      out.println(handshakeLine)
      assert(readLineRaw().contains("\"ok\": true"))
      out.println("""{"op": "submit", "sql": "SELECT id, id * 7 AS v FROM range(0, 1000, 1, 1)"}""")
      val resp = readLineRaw()
      assert(resp.contains("\"ok\": true"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0}""")
      assert(readLineRaw().contains("arrow_ipc_stream"))
      val (_, all) = ArrowCodec.read(rawIn)
      assert(all.size == 1000)
      assert(readLineRaw().contains("\"rows\": 1000"))
      // Resume mid-partition, NOT batch-aligned (offset 700, batches of
      // 128): exactly the 300-row tail, row-identical.
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0, "offset": 700}""")
      assert(readLineRaw().contains("arrow_ipc_stream"))
      val (_, tail) = ArrowCodec.read(rawIn)
      assert(tail == all.drop(700), s"tail ${tail.size} diverged")
      assert(readLineRaw().contains("\"rows\": 300"))
      // Past the end: a served protocol rejection (no ack, no raw bytes)...
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0, "offset": 1001}""")
      val rej = readLineRaw()
      assert(rej.contains("\"ok\": false") && rej.contains("beyond partition end"), rej)
      // ...and the ticket is still fetchable afterwards.
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0, "offset": 990}""")
      assert(readLineRaw().contains("arrow_ipc_stream"))
      val (_, last) = ArrowCodec.read(rawIn)
      assert(last == all.drop(990))
      assert(readLineRaw().contains("\"rows\": 10"))
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("arrow resume sweep: kills across the binary wire (handshake, ack, " +
      "schema, mid-batch, terminator) all converge to identical rows") {
    // The Arrow client's resume unit is the record batch (decode is
    // all-or-nothing per batch), so kill points inside the schema
    // message, inside a batch, between batches, and inside the trailing
    // control line each exercise a different kept-rows/offset shape.
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 64))
    val srv = new GatewayServer(rt)
    val sql = "SELECT id, id * 3 AS t FROM range(0, 500, 1, 1)"
    val direct = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val truth = direct.fetchAllArrow(sql)
      assert(truth.size == 500)
      assert(truth(7) == org.apache.spark.sql.Row(7L, 21L))
      for (kill <- Seq(60, 190, 400, 1200, 2500, 5000, 9000)) {
        val proxy = new FlakyProxy(srv.boundPort, killAfterBytes = kill)
        val flaky = new graft.gateway.GatewayClient("127.0.0.1", () => proxy.port,
          sleeper = _ => (), jitterFrac = () => 0.0)
        try {
          val got = flaky.fetchAllArrow(sql)
          assert(got == truth, s"kill@$kill diverged: got ${got.size} rows")
        } finally { flaky.close(); proxy.close() }
      }
    } finally { direct.close(); srv.close(); rt.close() }
  }

  test("handle grace: a terminal ticket stays re-fetchable until the grace " +
      "deadline, then sweeps to unknown; zero grace evicts immediately") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, handleGraceMs = 400)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val (job, parts) = client.submit("SELECT id FROM range(0, 5, 1, 1)")
      assert(parts == 1)
      // Full drain puts the job terminal; the handle is condemned, not
      // dropped — a client whose stream died into the TCP void can still
      // come back for the ticket (recompute) inside the grace window.
      assert(client.fetchPartition(job, 0).size == 5)
      assert(client.fetchPartition(job, 0).size == 5)
      assert(srv.pinnedHandles == 1)
      // Past the deadline the handle is freed WITHOUT any dispatch — the
      // idle grace sweeper (period grace/2, floor 100 ms) must not rely
      // on client traffic to unpin a quiet gateway.
      val deadline = System.currentTimeMillis() + 5000
      while (srv.pinnedHandles > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(srv.pinnedHandles == 0, "idle sweeper left the handle pinned")
      val e = intercept[graft.gateway.GatewayRequestException] {
        client.fetchPartition(job, 0)
      }
      assert(e.getMessage.contains("unknown job"), e.getMessage)
    } finally { client.close(); srv.close(); rt.close() }
    val rt0 = new JobRuntime(spark)
    val srv0 = new GatewayServer(rt0, handleGraceMs = 0)
    val c0 = new graft.gateway.GatewayClient("127.0.0.1", () => srv0.boundPort)
    try {
      val (job, _) = c0.submit("SELECT id FROM range(0, 5, 1, 1)")
      assert(c0.fetchPartition(job, 0).size == 5)
      val e = intercept[graft.gateway.GatewayRequestException] {
        c0.fetchPartition(job, 0)
      }
      assert(e.getMessage.contains("unknown job"), e.getMessage)
    } finally { c0.close(); srv0.close(); rt0.close() }
  }

  test("client retry discipline: server-side errors do NOT retry; " +
      "transport failures stop after MAX_RETRIES; backoff is capped+jittered") {
    // Pure backoff schedule (the reference's x3 exponential <= 10 s).
    import graft.gateway.GatewayClient.backoffMs
    assert(backoffMs(0, 0.0) == 125L && backoffMs(0, 1.0) == 250L)
    assert(backoffMs(1, 0.0) == 250L && backoffMs(1, 1.0) == 500L)
    assert(backoffMs(2, 0.5) == 750L)
    assert(backoffMs(30, 1.0) == 10000L, "cap must hold at any attempt")
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort,
      sleeper = _ => (), jitterFrac = () => 0.0)
    try {
      // A healthy server answering ok=false is a PROTOCOL answer: thrown
      // as GatewayRequestException immediately, no reconnect storm.
      intercept[graft.gateway.GatewayRequestException] {
        client.fetchPartition("no-such-job", 0)
      }
      // A dead endpoint exhausts MAX_RETRIES then throws transport.
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val dead = new graft.gateway.GatewayClient("127.0.0.1", () => {
        val ss = new java.net.ServerSocket(0)
        val p = ss.getLocalPort; ss.close(); p // nothing listens here
      }, sleeper = sleeps += _, jitterFrac = () => 0.0)
      intercept[graft.gateway.GatewayTransportException] {
        dead.submit("SELECT 1")
      }
      assert(sleeps.size == graft.gateway.GatewayClient.MAX_RETRIES,
        s"expected MAX_RETRIES backoffs, saw ${sleeps.size}")
      assert(sleeps.toSeq == Seq(125L, 250L, 500L), s"schedule was $sleeps")
      dead.close()
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("protocol errors answer with ok=false and the connection survives") {
    withServer { (_, in, out) =>
      out.println("""{"op": "definitely_not_an_op"}""")
      val err = in.readLine()
      assert(err.contains("\"ok\": false") && err.contains("unknown op"), err)
      out.println("""{"op": "fetch", "job_id": "nope", "partition": 0}""")
      val err2 = in.readLine()
      assert(err2.contains("\"ok\": false"), err2)
      // Still usable afterwards.
      out.println("""{"op": "submit", "sql": "SELECT 1 AS one"}""")
      assert(in.readLine().contains("\"ok\": true"))
    }
  }

  test("fetch_arrow: a partition recomputed after the ack drops the connection; " +
      "the client re-fetches the whole ticket instead of hanging") {
    // 20000 rows in 50-row pages = 400 page jobs, so the block loss lands
    // while the Arrow stream is still being written. Before the fix the
    // server answered the recompute with a JSON error line inside the raw
    // Arrow stream; the client read it as a message length and blocked.
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 50))
    val srv = new GatewayServer(rt)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort,
      sleeper = _ => { retries.incrementAndGet(); () }, jitterFrac = () => 0.0)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val (job, parts) = client.submit("SELECT id, id * 11 AS v FROM range(0, 20000, 1, 1)")
      assert(parts == 1)
      val h = rt.handleOf(job).get
      val fetch = pool.submit(() => scala.util.Try(client.fetchPartitionArrow(job, 0)))
      // The first page job runs before the ack; lose the cached blocks
      // right after it, between pages of the live stream.
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (h.maxPageRows == 0L && !fetch.isDone && System.nanoTime() < deadline) Thread.sleep(1)
      h.simulateBlockLoss()
      // A hang fails here; the stall it guards against never ends.
      fetch.get(90, java.util.concurrent.TimeUnit.SECONDS) match {
        case scala.util.Success(rows) =>
          assert(rows == (0L until 20000L).map(i => org.apache.spark.sql.Row(i, i * 11)))
          assert(retries.get >= 1, "the block loss never interrupted the stream")
        case scala.util.Failure(e) =>
          assert(e.isInstanceOf[graft.gateway.GatewayRequestException] ||
            e.isInstanceOf[graft.gateway.GatewayTransportException], s"unclean failure: $e")
      }
    } finally { client.close(); pool.shutdownNow(); srv.close(); rt.close() }
  }

  test("a terminal handle kept for the grace window does not pin its executed " +
      "query: the scans' broadcast blocks are reclaimed") {
    // Each parquet scan broadcasts its Hadoop configuration; the blocks live
    // as long as the executed plan does. Before terminal handles released
    // their executed plan, every job in the grace window pinned them.
    Tables.register(spark, sfDir, "orders")
    val bm = org.apache.spark.SparkEnv.get.blockManager
    def broadcastBlocks(): Int = bm.getMatchingBlockIds(_.isBroadcast).size
    def settled(bound: Int): Int = {
      val deadline = System.nanoTime() + 20.seconds.toNanos
      var n = broadcastBlocks()
      while (n > bound && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(200); n = broadcastBlocks()
      }
      n
    }
    val before = settled(0)
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, handleGraceMs = 600000)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      for (k <- 0 until 15)
        assert(client.fetchAllArrow(
          s"SELECT o_orderkey FROM orders WHERE o_orderkey % 15 = $k").nonEmpty)
      assert(srv.pinnedHandles == 15)
      val after = settled(before + 4)
      assert(after <= before + 4, s"$after broadcast blocks held, $before before 15 jobs")
      // A grace re-fetch still works from the released plan.
      val (job, _) = client.submit("SELECT o_orderkey FROM orders WHERE o_orderkey % 15 = 3")
      val first = client.fetchPartitionArrow(job, 0)
      assert(client.fetchPartitionArrow(job, 0) == first)
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("fetch_arrow serves timestamp_ntz date columns (orders.o_orderdate)") {
    Tables.register(spark, sfDir, "orders")
    val sql = "SELECT o_orderkey, o_orderdate FROM orders"
    val want = spark.sql(sql)
    assert(want.schema("o_orderdate").dataType == TimestampNTZType)
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val got = client.fetchAllArrow(sql).sortBy(_.getLong(0))
      val expected = want.collect().toVector.sortBy(_.getLong(0))
      assert(got.nonEmpty && got.size == expected.size)
      assert(got.head.get(1).isInstanceOf[java.time.LocalDateTime], got.head)
      assert(got == expected)
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("GatewayClient sends multi-line SQL intact; the same connection serves the next query") {
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    // Any reconnect goes through the sleeper: a desynchronised connection
    // would show up here as a transport retry.
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort,
      sleeper = _ => fail("the client reconnected: the connection desynchronised"))
    try {
      val sql = "SELECT id, id * 2 AS twice,\n\t'tab\there' AS s\r\n" +
        "FROM range(0, 3, 1, 1) -- a trailing comment\nWHERE id >= 0"
      assert(client.fetchAllArrow(sql) ==
        (0L until 3L).map(i => org.apache.spark.sql.Row(i, i * 2, "tab\there")))
      assert(client.fetchAllArrow("SELECT 42 AS answer") == Vector(org.apache.spark.sql.Row(42)))
    } finally { client.close(); srv.close(); rt.close() }
  }

  /** One raw protocol connection read byte-wise, so the Arrow body after a
    * `fetch_arrow` ack stays on the same stream as the JSON lines. */
  private final class RawConn(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val out = new PrintWriter(sock.getOutputStream, true)
    def send(line: String): Unit = out.println(line)
    def readLine(): String = {
      val buf = new java.io.ByteArrayOutputStream(128)
      var b = in.read()
      while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    }
    def submit(sql: String): String = {
      send(s"""{"op": "submit", "sql": "$sql"}""")
      """"job_id": "([^"]+)"""".r.findFirstMatchIn(readLine()).get.group(1)
    }
    override def close(): Unit = sock.close()
  }

  test("wire latency: a fetch's body and terminator follow its ack or header " +
      "without a delayed-ACK stall") {
    // A response written as an ack flushed on its own, then small body
    // writes, left the body waiting under Nagle for the client's delayed
    // ACK of the ack: at least 40 ms per fetch on Linux. The first page
    // job runs before the ack/header, so the gap timed here is wire only.
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt, auth = None)
    val c = new RawConn(srv.boundPort)
    // The lower quartile: a stall hits every fetch, while a scheduling or
    // GC pause on a loaded host hits a few, so one pause cannot fail this.
    def lowerQuartile(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 4)
    try {
      val arrowGaps = (0 until 21).map { _ =>
        val job = c.submit("SELECT 1 AS one")
        c.send(s"""{"op": "fetch_arrow", "job_id": "$job", "partition": 0}""")
        val ack = c.readLine()
        val t0 = System.nanoTime()
        assert(ack.contains("arrow_ipc_stream"), ack)
        assert(ArrowCodec.read(c.in)._2 == Vector(org.apache.spark.sql.Row(1)))
        val fin = c.readLine()
        val gap = (System.nanoTime() - t0) / 1e6
        assert(fin.contains("\"ok\": true"), fin)
        gap
      }
      val textGaps = (0 until 21).map { _ =>
        val job = c.submit("SELECT 1 AS one")
        c.send(s"""{"op": "fetch", "job_id": "$job", "partition": 0}""")
        val header = c.readLine()
        val t0 = System.nanoTime()
        assert(header.contains("\"format\": \"rows\""), header)
        assert(c.readLine() == "{\"row\": [1]}")
        val fin = c.readLine()
        val gap = (System.nanoTime() - t0) / 1e6
        assert(fin.contains("\"ok\": true, \"rows\": 1"), fin)
        gap
      }
      assert(lowerQuartile(arrowGaps) < 20.0, s"fetch_arrow ack -> terminator gaps (ms): $arrowGaps")
      assert(lowerQuartile(textGaps) < 20.0, s"fetch header -> terminator gaps (ms): $textGaps")
    } finally { c.close(); srv.close(); rt.close() }
  }

  test("a drained job kept for the grace window holds no Dataset; a grace " +
      "re-fetch re-plans from its logical plan and returns identical rows") {
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 16))
    val srv = new GatewayServer(rt, handleGraceMs = 600000)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      val (job, parts) = client.submit("SELECT id, id * 3 AS t FROM range(0, 50, 1, 1)")
      assert(parts == 1)
      val h = rt.handleOf(job).get
      val firstPlan = new java.lang.ref.WeakReference(h.heldDataset.get.queryExecution)
      val first = client.fetchPartitionArrow(job, 0)
      assert(first == (0L until 50L).map(i => org.apache.spark.sql.Row(i, i * 3)))
      assert(srv.pinnedHandles == 1 && rt.handleOf(job).isEmpty, "job should be terminal")
      // The schema is a value kept from submit: reading it plans nothing.
      assert(h.schema.fieldNames.toSeq == Seq("id", "t"))
      assert(h.heldDataset.isEmpty, "a released job still holds a Dataset")
      val deadline = System.nanoTime() + 20.seconds.toNanos
      while (firstPlan.get != null && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(100)
      }
      assert(firstPlan.get == null, "the drained job's QueryExecution is still reachable")
      // Grace re-fetches, Arrow and text, re-plan (4 pages each) and
      // release again when they drain.
      assert(client.fetchPartitionArrow(job, 0) == first)
      assert(client.fetchPartition(job, 0).size == 50)
      assert(h.heldDataset.isEmpty && srv.pinnedHandles == 1)
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("a grace re-fetch returns the submitted plan's rows after its view is " +
      "replaced, and does not run a command again") {
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(fetchPageSize = 16))
    val srv = new GatewayServer(rt, handleGraceMs = 600000)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      spark.range(0, 40, 1, 1).toDF("id").createOrReplaceTempView("graft_grace_view")
      val (job, _) = client.submit("SELECT id FROM graft_grace_view")
      val first = client.fetchPartitionArrow(job, 0)
      assert(first == (0L until 40L).map(org.apache.spark.sql.Row(_)))
      assert(rt.handleOf(job).isEmpty, "job should be terminal")
      // Another client replaces the view, with other rows and columns,
      // inside the grace window.
      spark.range(100, 103, 1, 2).selectExpr("id * 2 AS id", "'x' AS extra")
        .createOrReplaceTempView("graft_grace_view")
      assert(client.fetchPartitionArrow(job, 0) == first)
      assert(client.fetchPartition(job, 0).size == 40)

      val (set, setParts) = client.submit("SET graft.grace.probe=a")
      def setRows = (0 until setParts).flatMap(client.fetchPartitionArrow(set, _))
      assert(setRows == Seq(org.apache.spark.sql.Row("graft.grace.probe", "a")))
      spark.conf.set("graft.grace.probe", "b")
      assert(setRows == Seq(org.apache.spark.sql.Row("graft.grace.probe", "a")))
      assert(spark.conf.get("graft.grace.probe") == "b", "the SET ran again on re-fetch")
    } finally {
      spark.catalog.dropTempView("graft_grace_view")
      spark.conf.unset("graft.grace.probe")
      client.close(); srv.close(); rt.close()
    }
  }

  test("array, map and struct columns with nulls at every level reach the " +
      "client through fetch_arrow and fetch, equal to Spark's collect") {
    val sql = "SELECT id, " +
      "CASE WHEN id % 4 = 0 THEN NULL WHEN id % 4 = 1 THEN CAST(array() AS array<int>) " +
      "ELSE array(CAST(id AS INT), NULL, CAST(id * 2 AS INT)) END AS a, " +
      "CASE WHEN id % 3 = 0 THEN NULL " +
      "ELSE map(CAST(id AS STRING), IF(id % 2 = 0, NULL, id), 'k', id * 10) END AS m, " +
      "CASE WHEN id % 5 = 0 THEN NULL ELSE named_struct('a', IF(id % 2 = 0, NULL, " +
      "CAST(id AS INT)), 'b', IF(id % 3 = 1, NULL, CAST(id AS STRING))) END AS s " +
      "FROM range(0, 40, 1, 2)"
    val want = spark.sql(sql)
    assert(want.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "array<int>", "map<string,bigint>", "struct<a:int,b:string>"))
    assert(ArrowCodec.toSparkSchema(ArrowCodec.toArrowSchema(want.schema)) == want.schema)
    val expected = want.collect().toVector
    def json(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s + "\""
      case r: org.apache.spark.sql.Row => r.toSeq.map(json).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(json).mkString("[", ",", "]")
      case x => x.toString
    }
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      assert(client.fetchAllArrow(sql) == expected)
      assert(client.fetchAll(sql) == expected.map(r => s"""{"row": ${json(r)}}"""))
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("handles of jobs the runtime ends itself (never fetched) are swept") {
    val rt = new JobRuntime(spark, graft.gateway.GatewayConfig(
      ttlCheckInterval = 100.millis, neverFetchedTimeout = 300.millis))
    val srv = new GatewayServer(rt, handleGraceMs = 200)
    val client = new graft.gateway.GatewayClient("127.0.0.1", () => srv.boundPort)
    try {
      for (_ <- 0 until 5) client.submit("SELECT id FROM range(0, 10, 1, 1)")
      assert(srv.pinnedHandles >= 1)
      val deadline = System.currentTimeMillis() + 5000
      while (srv.pinnedHandles > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(srv.pinnedHandles == 0, s"${srv.pinnedHandles} never-fetched handles still pinned")
      assert(rt.liveJobIds.isEmpty)
    } finally { client.close(); srv.close(); rt.close() }
  }

  test("a fetch of a partition the job does not have answers ok:false and " +
      "leaves the job serving") {
    // Before the range check, partition 7 of a one-partition job reached
    // the layout job as an index out of bounds, which failed the job for
    // every client; an unquoted -1 matched no field and fetched partition 0.
    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val sock = new Socket("127.0.0.1", srv.boundPort)
    try {
      val rawIn = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new PrintWriter(sock.getOutputStream, true)
      def readLineRaw(): String = {
        val sb = new StringBuilder
        var b = rawIn.read()
        while (b != -1 && b != '\n') { sb.append(b.toChar); b = rawIn.read() }
        sb.toString
      }
      out.println(handshakeLine)
      assert(readLineRaw().contains("\"ok\": true"))
      out.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 100, 1, 1)"}""")
      val resp = readLineRaw()
      assert(resp.contains("\"partitions\": 1"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      val h = rt.handleOf(jobId).get
      for (p <- Seq("7", "-1")) {
        out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": $p}""")
        val rej = readLineRaw()
        assert(rej.contains("\"ok\": false"), s"partition $p: $rej")
      }
      intercept[IllegalArgumentException](h.fetch(graft.gateway.Ticket(jobId, 1)))
      assert(rt.liveJobIds.contains(jobId), s"job ended: ${h.status}")
      out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": 0}""")
      assert(readLineRaw().contains("arrow_ipc_stream"))
      val (_, rows) = ArrowCodec.read(rawIn)
      assert(rows.map(_.getLong(0)) == (0L until 100L))
      assert(readLineRaw().contains("\"rows\": 100"))
      assert(h.status == graft.gateway.JobStatus.Completed)
    } finally { sock.close(); srv.close(); rt.close() }
  }
}
