package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order statistics over one run's samples. */
object Stats {
  /** Nearest-rank percentile (p in 0..100); 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Order-insensitive result digest shared with `make_expected.py`: every
  * value is rendered canonically, a row is its values in column-name order
  * joined by \u0001, and the digest is the row count plus the wrapping
  * 64-bit sum of each row's FNV-1a hash. Numbers keep `digits` significant
  * digits; 0 keeps them all. */
object Canon {
  /** The corpus check compares Spark with DuckDB, which sum floats in
    * different orders, so it keeps 6 digits. */
  val CorpusDigits = 6
  /** The gateway check compares the Arrow wire with Spark's own values. */
  val Exact = 0

  private def num(b: java.math.BigDecimal, mc: java.math.MathContext): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def value(v: Any, mc: java.math.MathContext): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else num(new java.math.BigDecimal(d), mc)
    case f: Float => value(f.toDouble, mc)
    case b: java.math.BigDecimal => num(b, mc)
    case b: scala.math.BigDecimal => num(b.bigDecimal, mc)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case t: java.time.Instant => t.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt)
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(value(_, mc)).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k, mc) + ":" + value(x, mc) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value(_, mc)).mkString("[", ",", "]")
    case a: Array[_] => a.map(value(_, mc)).mkString("[", ",", "]")
    case other => other.toString
  }

  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes(StandardCharsets.UTF_8)) {
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h
  }

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  /** Digest of rows whose columns are named `names` (any order). */
  def digest(names: Seq[String], rows: Iterator[Row], digits: Int): Digest = {
    val mc = new java.math.MathContext(digits, java.math.RoundingMode.HALF_EVEN)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2).toArray
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      h += fnv64(order.map(i => value(r.get(i), mc)).mkString("\u0001"))
      n += 1
    }
    Digest(n, h)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** Operation outcomes of one run. Every failure, a wrong result or an
  * error, counts as a failed operation and makes the run incorrect. */
final class Outcomes {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val errors = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def fail(what: String): Unit = {
    attemptedN.incrementAndGet(); failedN.incrementAndGet()
    errors.merge(what, 1L, (a, b) => a + b); ()
  }

  def ok(): Unit = { attemptedN.incrementAndGet(); () }
  def wrong(what: String): Unit = fail(s"wrong result: $what")
  def error(what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString
    fail(s"$what: ${msg.take(200)}")
  }
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def correct: Boolean = failed == 0
  def errorCounts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    errors.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
}

object Machine {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  } catch { case _: java.io.IOException => 0.0 }

  /** Heap still in use after full collections: what the run retained
    * (caches, job registries, catalogs), independent of when the collector
    * happened to grow the heap. Three rounds, because Spark's cleaner only
    * drops broadcast and shuffle state after a collection found the driver
    * objects unreachable. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A fixed single-thread integer loop: its wall shows machine state
    * (co-tenant load, frequency), not the program's code. */
  def canaryMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 30000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) System.err.println("canary fixed point")
    ms
  }
}
