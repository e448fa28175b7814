package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf.{CompressionType, MessageHeader, RecordBatch}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ReadChannel}
import org.apache.arrow.vector.ipc.message.MessageChannelReader
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.gateway.ArrowCodec

/** The encode side of the gateway's Arrow result wire. Streams from
  * [[ArrowCodec.write]] must decode exactly through [[ArrowCodec.read]]
  * AND through a plain `ArrowStreamReader` with Arrow's commons-compress
  * codec (what any other Arrow client uses), and every record batch must
  * carry LZ4_FRAME body compression — checked on the IPC message itself,
  * so compression cannot silently switch off. */
class ArrowCodecSpec extends AnyFunSuite {
  import ArrowCodecSpec._

  private def encode(schema: StructType, rows: Seq[Row], batchRows: Int = 4096): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val n = ArrowCodec.write(schema, rows.iterator, bos, batchRows)
    assert(n == rows.size)
    bos.toByteArray
  }

  /** Every cell as a plain commons-backed `ArrowStreamReader` sees it,
    * through the vectors' own `getObject`, not graft's decoder. */
  private def plainDecode(bytes: Array[Byte]): Vector[Seq[Any]] = {
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator,
      CommonsCompressionFactory.INSTANCE)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Vector.newBuilder[Seq[Any]]
      while (reader.loadNextBatch()) {
        for (i <- 0 until root.getRowCount)
          out += root.getFieldVectors.asScala.toSeq
            .map(v => if (v.isNull(i)) null else v.getObject(i))
      }
      out.result()
    } finally { reader.close(); allocator.close() }
  }

  /** A Spark value as the plain Arrow reader's `getObject` returns it. */
  private def wireValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (StringType, s: String) => new org.apache.arrow.vector.util.Text(s)
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (TimestampType, t: java.sql.Timestamp) =>
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    case _ => v
  }

  private def sameCell(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  private def assertDecodesExactly(schema: StructType, rows: Seq[Row], bytes: Array[Byte]): Unit = {
    val (gotSchema, got) = ArrowCodec.read(new ByteArrayInputStream(bytes))
    assert(gotSchema == schema)
    assert(got == rows.toVector, "ArrowCodec.read diverged")
    val plain = plainDecode(bytes)
    assert(plain.size == rows.size)
    for ((row, cells) <- rows.zip(plain); c <- schema.indices) {
      val want = wireValue(schema(c).dataType, row.get(c))
      assert(sameCell(cells(c), want),
        s"plain reader column ${schema(c).name}: got ${cells(c)}, want $want")
    }
  }

  /** Walk the IPC messages and return, per record batch, its body
    * compression codec (None when the message carries none) and buffers. */
  private def recordBatches(bytes: Array[Byte]): Vector[(Option[Byte], Vector[BodyBuffer])] = {
    val allocator = new RootAllocator()
    val reader = new MessageChannelReader(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))), allocator)
    try {
      val out = Vector.newBuilder[(Option[Byte], Vector[BodyBuffer])]
      var msg = reader.readNext()
      while (msg != null) {
        if (msg.getMessage.headerType == MessageHeader.RecordBatch) {
          val rb = msg.getMessage.header(new RecordBatch()).asInstanceOf[RecordBatch]
          val body = msg.getBodyBuffer
          val bufs = (0 until rb.buffersLength).map { j =>
            val b = rb.buffers(j)
            if (b.length == 0) BodyBuffer(0L, Array.emptyByteArray)
            else {
              val payload = new Array[Byte]((b.length - 8).toInt)
              body.getBytes(b.offset + 8, payload)
              BodyBuffer(body.getLong(b.offset), payload)
            }
          }.toVector
          out += ((Option(rb.compression).map(_.codec), bufs))
        }
        Option(msg.getBodyBuffer).foreach(_.close())
        msg = reader.readNext()
      }
      out.result()
    } finally { reader.close(); allocator.close() }
  }

  private def assertLz4Frame(bytes: Array[Byte]): Unit =
    for (((codec, _), k) <- recordBatches(bytes).zipWithIndex)
      assert(codec.contains(CompressionType.LZ4_FRAME),
        s"record batch $k: body compression $codec, want LZ4_FRAME")

  /** An LZ4 frame's header fields and data-block count (frame format
    * spec: magic, FLG, BD, optional content size and dict id, HC, then
    * size-prefixed blocks up to a zero end mark). */
  private def frameInfo(f: Array[Byte]): FrameInfo = {
    def le32(at: Int): Int = java.nio.ByteBuffer.wrap(f, at, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(le32(0) == 0x184D2204, "not an LZ4 frame")
    val flg = f(4) & 0xFF
    val bd = f(5) & 0xFF
    var pos = 6 + (if ((flg & 0x08) != 0) 8 else 0) + (if ((flg & 0x01) != 0) 4 else 0) + 1
    val blockChecksum = (flg & 0x10) != 0
    var blocks = 0
    var size = le32(pos)
    while (size != 0) {
      blocks += 1
      pos += 4 + (size & 0x7FFFFFFF) + (if (blockChecksum) 4 else 0)
      size = le32(pos)
    }
    FrameInfo((flg & 0x20) != 0, (bd >> 4) & 0x7, blocks)
  }

  private val allTypes = StructType(Seq(
    StructField("b", BooleanType), StructField("i8", ByteType),
    StructField("i16", ShortType), StructField("i32", IntegerType),
    StructField("i64", LongType), StructField("f32", FloatType),
    StructField("f64", DoubleType), StructField("dec", DecimalType(18, 2)),
    StructField("s", StringType), StructField("bin", BinaryType),
    StructField("d", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType)))

  private def allTypesRow(i: Int): Row = Row.fromSeq(allTypes.indices.map { c =>
    if ((i + c) % 7 == 0) null
    else allTypes(c).dataType match {
      case BooleanType => i % 2 == 0
      case ByteType => (i % 256 - 128).toByte
      case ShortType => (i * 37 - 5000).toShort
      case IntegerType => i * 7919 - 1000000
      case LongType => i.toLong * 1000003L - (1L << 40)
      case FloatType => i * 0.25f - 3.5f
      case DoubleType => i * 1.0e-3 - 17.125
      case _: DecimalType => new java.math.BigDecimal(s"${i * 1013 - 50000}.${i % 100 / 10}${i % 10}")
      case StringType => s"row-$i-" + "é✓" * (i % 4)
      case BinaryType => Array.tabulate[Byte](i % 9)(k => (k * i).toByte)
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(i * 13L))
      case TimestampType =>
        val t = new java.sql.Timestamp(694224000000L + i * 3600123L)
        t.setNanos(t.getNanos + (i % 1000) * 1000); t
      case TimestampNTZType =>
        LocalDateTime.of(1995, 3, 15, 0, 0).plusSeconds(i * 86401L).plusNanos(i * 1000L)
      case other => fail(s"no generator for $other")
    }
  })

  test("every gateway type, with nulls, decodes exactly through both readers under LZ4_FRAME") {
    val rows = (0 until 300).map(allTypesRow)
    val bytes = encode(allTypes, rows, batchRows = 128)
    assertDecodesExactly(allTypes, rows, bytes)
    val batches = recordBatches(bytes)
    assert(batches.size == 3)
    assertLz4Frame(bytes)
  }

  test("an empty partition is a schema and EOS with no record batch") {
    val bytes = encode(allTypes, Seq.empty)
    assertDecodesExactly(allTypes, Seq.empty, bytes)
    assert(recordBatches(bytes).isEmpty)
  }

  test("a multi-batch partition: one LZ4_FRAME record batch per batchRows rows") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val rows = (0 until 1000).map(i => Row(i.toLong, i * 0.5))
    val bytes = encode(schema, rows, batchRows = 128)
    assertDecodesExactly(schema, rows, bytes)
    assert(recordBatches(bytes).size == 8) // 7 full batches + 104 rows
    assertLz4Frame(bytes)
  }

  test("a string buffer over 64 KB becomes one frame of independent 64 KB blocks") {
    val schema = StructType(Seq(StructField("text", StringType)))
    val words = Vector("graft", "arrow", "spark", "ticket", "frame", "lz4", "batch", "socket")
    val rnd = new scala.util.Random(7)
    val rows = (0 until 1500).map(i =>
      Row(s"doc $i: " + Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")))
    val bytes = encode(schema, rows)
    assertDecodesExactly(schema, rows, bytes)
    assertLz4Frame(bytes)
    val data = recordBatches(bytes).head._2.maxBy(_.prefix)
    assert(data.prefix > 65536L, s"data buffer only ${data.prefix} bytes")
    val info = frameInfo(data.payload)
    assert(info.blockMaxIndicator == 4, s"block size indicator ${info.blockMaxIndicator}, want 4 (64 KB)")
    assert(info.independent, "blocks must not reference earlier blocks")
    assert(info.blocks >= 2, s"${data.prefix} bytes in ${info.blocks} block(s)")
  }

  test("incompressible binary falls back to a raw buffer (length prefix -1)") {
    val schema = StructType(Seq(StructField("blob", BinaryType)))
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { _ =>
      val b = new Array[Byte](64); rnd.nextBytes(b); Row(b)
    }
    val bytes = encode(schema, rows)
    assertDecodesExactly(schema, rows, bytes)
    assertLz4Frame(bytes)
    val data = recordBatches(bytes).head._2.maxBy(_.payload.length)
    assert(data.prefix == -1L, s"random bytes sent with prefix ${data.prefix}")
    assert(data.payload.length >= 400 * 64)
  }

  test("regression guard: a 100 KB text column encodes in well under a second") {
    val schema = StructType(Seq(StructField("text", StringType)))
    // Words drawn from a 500-word vocabulary, like the documents corpus:
    // the shape on which commons-compress's LZ4 matcher took seconds.
    val rnd = new scala.util.Random(3)
    val vocab = Vector.fill(500)(rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString)
    def text(n: Int): String = {
      val sb = new StringBuilder
      while (sb.length < n) sb.append(vocab(rnd.nextInt(vocab.size))).append(' ')
      sb.toString
    }
    encode(schema, Seq(Row(text(1000)))) // class loading and JIT warm-up
    val rows = Seq(Row(text(100 * 1024)))
    val t0 = System.nanoTime()
    val bytes = encode(schema, rows)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 1000.0, f"100 KB text column took $ms%.0f ms to encode")
    assertDecodesExactly(schema, rows, bytes)
  }
}

object ArrowCodecSpec {
  /** One body buffer of a record batch: the 8-byte little-endian prefix
    * (uncompressed length, or −1 for a buffer sent raw) and the bytes
    * after it. */
  final case class BodyBuffer(prefix: Long, payload: Array[Byte])

  final case class FrameInfo(independent: Boolean, blockMaxIndicator: Int, blocks: Int)
}
