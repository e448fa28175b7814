package graft.gateway

import java.io.{ByteArrayOutputStream, InputStream, OutputStream}
import java.nio.channels.Channels
import java.time.{LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

import net.jpountz.lz4.{LZ4Factory, LZ4FrameOutputStream}
import net.jpountz.xxhash.XXHashFactory
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.compression.{AbstractCompressionCodec, CompressionCodec, CompressionUtil}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Arrow IPC codec for gateway result delivery — the reference's result
  * wire is LZ4-compressed Arrow Flight data
  * (`networks/tonic/src/server.rs:109-141` FlightDataEncoderBuilder with
  * LZ4_FRAME; `dist/src/runtime.rs:253-303` batch-at-a-time streaming).
  * This is the same encoding over the socket gateway: one Arrow IPC
  * stream per ticket, one LZ4_FRAME-compressed record batch per
  * ≤`batchRows` rows, schema message first, EOS marker last —
  * self-delimiting, so it composes with the line-JSON control protocol on
  * the same socket.
  *
  * Encode compresses every body buffer with [[Lz4FrameCodec]]: lz4-java
  * frames of independent 64 KB blocks (lz4-java is the library Spark
  * itself uses for shuffle). Decode goes through Arrow's commons-compress
  * codec, which reads those frames and every other LZ4 frame variant a
  * foreign Arrow writer may emit (linked blocks, checksums, content
  * size).
  *
  * Built on the public arrow-vector API only (no Spark `private[sql]`
  * internals), covering the gateway's result-type surface: booleans,
  * the four int widths, float/double, decimal, string, binary, date,
  * timestamp (UTC instant) and timestamp_ntz (zone-less local time).
  */
object ArrowCodec {

  /** Spark schema → Arrow schema (nullable preserved; timestamps are
    * micros UTC, timestamp_ntz is micros with no zone, dates are day-unit
    * — Spark's own Arrow conventions). */
  def toArrowSchema(schema: StructType): ArrowSchema = {
    val fields = schema.fields.map { f =>
      val at: ArrowType = f.dataType match {
        case BooleanType => ArrowType.Bool.INSTANCE
        case ByteType => new ArrowType.Int(8, true)
        case ShortType => new ArrowType.Int(16, true)
        case IntegerType => new ArrowType.Int(32, true)
        case LongType => new ArrowType.Int(64, true)
        case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case dt: DecimalType => new ArrowType.Decimal(dt.precision, dt.scale, 128)
        case StringType => ArrowType.Utf8.INSTANCE
        case BinaryType => ArrowType.Binary.INSTANCE
        case DateType => new ArrowType.Date(DateUnit.DAY)
        case TimestampType => new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC")
        case TimestampNTZType => new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null)
        case other => throw new UnsupportedOperationException(
          s"arrow gateway encoding does not support $other (column ${f.name})")
      }
      new Field(f.name, new FieldType(f.nullable, at, null), java.util.Collections.emptyList[Field])
    }
    new ArrowSchema(fields.toSeq.asJava)
  }

  /** Arrow schema → Spark schema (for client-side decode + tests), with
    * the SURVEY §1 widening rules for wire types Spark lacks:
    *   - unsigned ints widen to the next signed width that holds the full
    *     range — u8 → Short, u16 → Int, u32 → Long, u64 → Decimal(20,0)
    *     (2⁶⁴−1 has 20 digits);
    *   - float16 widens to Float (every half value is exactly
    *     representable in single precision);
    *   - date64 (millisecond unit) casts to DateType (floor-div to days,
    *     matching Arrow's own date64→date32 cast);
    *   - a timestamp without a time zone is TimestampNTZType, one with a
    *     zone is TimestampType;
    *   - decimal precision > 38 (decimal256's upper range) is
    *     DOCUMENTED-UNSUPPORTED: it cannot round-trip through Spark's
    *     38-digit maximum, so ingest throws rather than mis-rounding. */
  def toSparkSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val dt = f.getType match {
        case _: ArrowType.Bool => BooleanType
        case i: ArrowType.Int if i.getIsSigned => i.getBitWidth match {
          case 8 => ByteType
          case 16 => ShortType
          case 32 => IntegerType
          case _ => LongType
        }
        case i: ArrowType.Int => i.getBitWidth match { // unsigned: widen
          case 8 => ShortType
          case 16 => IntegerType
          case 32 => LongType
          case _ => DecimalType(20, 0)
        }
        case fp: ArrowType.FloatingPoint =>
          if (fp.getPrecision == FloatingPointPrecision.DOUBLE) DoubleType
          else FloatType // SINGLE natively; HALF widens
        case d: ArrowType.Decimal =>
          if (d.getPrecision > DecimalType.MAX_PRECISION)
            throw new UnsupportedOperationException(
              s"decimal(${d.getPrecision},${d.getScale}) exceeds Spark's " +
                s"maximum precision ${DecimalType.MAX_PRECISION} — " +
                "unsupported by design (SURVEY §1), not silently rounded")
          else DecimalType(d.getPrecision, d.getScale)
        case _: ArrowType.Utf8 => StringType
        case _: ArrowType.Binary => BinaryType
        case _: ArrowType.Date => DateType // DAY native; MILLISECOND casts
        case t: ArrowType.Timestamp => if (t.getTimezone == null) TimestampNTZType else TimestampType
        case other => throw new UnsupportedOperationException(s"arrow type $other")
      }
      StructField(f.getName, dt, f.isNullable)
    })

  private def setValue(vec: FieldVector, i: Int, v: Any): Unit = (vec, v) match {
    case (b: BitVector, x: Boolean) => b.setSafe(i, if (x) 1 else 0)
    case (b: TinyIntVector, x: Byte) => b.setSafe(i, x)
    case (s: SmallIntVector, x: Short) => s.setSafe(i, x)
    case (n: IntVector, x: Int) => n.setSafe(i, x)
    case (l: BigIntVector, x: Long) => l.setSafe(i, x)
    case (f: Float4Vector, x: Float) => f.setSafe(i, x)
    case (d: Float8Vector, x: Double) => d.setSafe(i, x)
    case (d: DecimalVector, x: java.math.BigDecimal) =>
      d.setSafe(i, x.setScale(d.getScale))
    case (s: VarCharVector, x: String) =>
      s.setSafe(i, x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (b: VarBinaryVector, x: Array[Byte]) => b.setSafe(i, x)
    case (d: DateDayVector, x: java.sql.Date) =>
      d.setSafe(i, x.toLocalDate.toEpochDay.toInt)
    case (d: DateDayVector, x: java.time.LocalDate) => d.setSafe(i, x.toEpochDay.toInt)
    case (t: TimeStampMicroTZVector, x: java.sql.Timestamp) =>
      t.setSafe(i, x.getTime * 1000L + (x.getNanos % 1000000L) / 1000L)
    case (t: TimeStampMicroTZVector, x: java.time.Instant) =>
      t.setSafe(i, x.getEpochSecond * 1000000L + x.getNano / 1000L)
    case (t: TimeStampMicroVector, x: LocalDateTime) =>
      t.setSafe(i, x.toEpochSecond(ZoneOffset.UTC) * 1000000L + x.getNano / 1000L)
    case _ => throw new UnsupportedOperationException(
      s"cannot encode ${v.getClass.getName} into ${vec.getClass.getSimpleName}")
  }

  private def getValue(vec: FieldVector, i: Int): Any = vec match {
    case b: BitVector => b.get(i) == 1
    case b: TinyIntVector => b.get(i)
    case s: SmallIntVector => s.get(i)
    case n: IntVector => n.get(i)
    case l: BigIntVector => l.get(i)
    // Unsigned ingest (the widening half of [[toSparkSchema]]'s rules):
    // reinterpret the raw two's-complement payload as the unsigned value
    // in the widened type — order- and value-preserving by construction.
    case u: UInt1Vector => (u.get(i) & 0xFF).toShort
    case u: UInt2Vector => u.get(i).toInt // char IS the unsigned 16-bit value
    case u: UInt4Vector => u.get(i).toLong & 0xFFFFFFFFL
    case u: UInt8Vector =>
      new java.math.BigDecimal(java.lang.Long.toUnsignedString(u.get(i)))
    case h: Float2Vector => h.getValueAsFloat(i) // fp16 widens losslessly
    case f: Float4Vector => f.get(i)
    case d: Float8Vector => d.get(i)
    case d: DecimalVector => d.getObject(i)
    case s: VarCharVector => new String(s.get(i), java.nio.charset.StandardCharsets.UTF_8)
    case b: VarBinaryVector => b.get(i)
    case d: DateDayVector => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.get(i).toLong))
    case d: DateMilliVector => java.sql.Date.valueOf( // date64 → date32 cast
      java.time.LocalDate.ofEpochDay(Math.floorDiv(d.get(i), 86400000L)))
    case t: TimeStampMicroTZVector =>
      val micros = t.get(i)
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case t: TimeStampMicroVector =>
      val micros = t.get(i)
      LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    case other => throw new UnsupportedOperationException(s"vector ${other.getClass}")
  }

  /** Write `rows` to `out` as one LZ4_FRAME-compressed Arrow IPC stream,
    * one record batch per ≤`batchRows` rows, every body buffer compressed
    * by [[Lz4FrameCodec]]. Leaves the stream open (writes the EOS marker,
    * does not close `out`). Returns rows written. */
  def write(schema: StructType, rows: Iterator[Row], out: OutputStream, batchRows: Int): Long = {
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
    val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out),
      IpcOption.DEFAULT, Lz4FrameCodec, CompressionUtil.CodecType.LZ4_FRAME)
    var total = 0L
    try {
      writer.start()
      while (rows.hasNext) {
        root.allocateNew()
        var i = 0
        while (i < batchRows && rows.hasNext) {
          val row = rows.next()
          var c = 0
          while (c < schema.length) {
            val vec = root.getVector(c)
            if (row.isNullAt(c)) vec.setNull(i) else setValue(vec, i, row.get(c))
            c += 1
          }
          i += 1
        }
        root.setRowCount(i)
        writer.writeBatch()
        total += i
      }
      writer.end() // EOS marker only — the socket stays usable for JSON control lines
    } finally {
      root.close()
      allocator.close()
    }
    total
  }

  /** Decode one Arrow IPC stream (client side / tests). Reads up to the
    * EOS marker and leaves `in` open; throws on a truncated stream. */
  def read(in: InputStream): (StructType, Vector[Row]) = {
    val (schema, rows, complete) = readResumable(in)
    if (!complete)
      throw new java.io.EOFException("arrow stream truncated before EOS")
    (schema.getOrElse(
      throw new java.io.EOFException("arrow stream truncated before schema")),
      rows)
  }

  /** Decode as much of an Arrow IPC stream as the transport delivers:
    * (schema if the schema message arrived, every row of every FULLY
    * decoded record batch, whether the EOS marker was reached). The
    * reader only exposes complete batches, so on a mid-stream drop the
    * returned row count is an exact RESUME OFFSET — the retrying client
    * keeps these rows and re-fetches with `"offset": rows.size`
    * ([[GatewayClient.fetchPartitionArrow]]), re-streaming only the
    * tail of a multi-GB partition. Decode failures (truncation shows up
    * as EOF or a malformed-message error inside the reader) are folded
    * into `complete = false`; a persistent corruption therefore spends
    * the client's retry budget rather than being silently accepted. */
  def readResumable(in: InputStream): (Option[StructType], Vector[Row], Boolean) = {
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(in, allocator, CommonsCompressionFactory.INSTANCE)
    try {
      val out = Vector.newBuilder[Row]
      var schema: Option[StructType] = None
      var complete = false
      try {
        val root = reader.getVectorSchemaRoot // reads the schema message
        val sch = toSparkSchema(root.getSchema)
        schema = Some(sch)
        while (reader.loadNextBatch()) {
          val n = root.getRowCount
          var i = 0
          while (i < n) {
            val vals = (0 until sch.length).map { c =>
              val vec = root.getVector(c)
              if (vec.isNull(i)) null else getValue(vec, i)
            }
            out += Row.fromSeq(vals)
            i += 1
          }
        }
        complete = true
      } catch { case scala.util.control.NonFatal(_) => () }
      (schema, out.result(), complete)
    } finally {
      // Free vectors without closing `in`; a reader wedged by a truncated
      // stream must not mask the result from its close (nor the allocator
      // from its leak check — a partial batch's buffers die with the
      // dropped connection, bounded at one batch per transport failure).
      // SEPARATE try blocks (ADVICE r15): if the wedged reader throws on
      // close, the allocator must still close — sharing one try leaked
      // the Arrow direct-memory buffers permanently, compounding across
      // retries in a long-lived flaky client.
      try reader.close(false)
      catch { case scala.util.control.NonFatal(_) => () }
      try allocator.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

/** The Arrow `CompressionCodec` behind [[ArrowCodec.write]], and its own
  * factory: each body buffer becomes one LZ4 frame written by lz4-java's
  * `LZ4FrameOutputStream`, in independent blocks of at most 64 KB, tagged
  * `LZ4_FRAME` in the IPC message. That is the same frame format
  * commons-compress writes, so any LZ4_FRAME Arrow reader decodes it;
  * [[AbstractCompressionCodec]] still sends a buffer raw (length prefix
  * −1) when its frame would be larger.
  *
  * Both settings are fixed:
  *   - the matcher is `LZ4Factory.fastestInstance()`'s high-compression
  *     one at its default level. On 2,000-row `lineitem`/`orders`
  *     projections and a 333-row `documents` text projection (sf0.1, JNI
  *     instance, 4-core x86 machine) it encoded each result in 5-7 ms,
  *     against 0.3-3.5 s for commons-compress, at -4% to +6% of commons'
  *     bytes. The fast matcher took 1-4 ms but sent 76% more bytes for
  *     text;
  *   - 64 KB blocks: the stream allocates one block buffer per Arrow
  *     buffer it compresses, and with 4 MB blocks the same results took
  *     19-31 ms.
  *
  * Nothing is cached across calls beyond lz4-java's factory singletons.
  *
  * Encode-only: [[ArrowCodec.readResumable]] decodes with Arrow's
  * commons-compress codec. */
private[gateway] object Lz4FrameCodec extends AbstractCompressionCodec
    with CompressionCodec.Factory {

  private val BlockSize = LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB
  private val compressor = LZ4Factory.fastestInstance().highCompressor()
  private val checksum = XXHashFactory.fastestInstance().hash32()

  override def getCodecType: CompressionUtil.CodecType = CompressionUtil.CodecType.LZ4_FRAME

  override def createCodec(codecType: CompressionUtil.CodecType): CompressionCodec = {
    require(codecType == getCodecType, s"graft encodes LZ4_FRAME only, not $codecType")
    this
  }

  override def createCodec(codecType: CompressionUtil.CodecType, level: Int): CompressionCodec =
    createCodec(codecType)

  override protected def doCompress(allocator: BufferAllocator, in: ArrowBuf): ArrowBuf = {
    val n = in.writerIndex()
    require(n <= Int.MaxValue, s"buffer of $n bytes exceeds one LZ4 frame source array")
    val src = new Array[Byte](n.toInt)
    in.getBytes(0, src)
    val frame = new ByteArrayOutputStream(n.toInt / 2 + 64)
    val lz4 = new LZ4FrameOutputStream(frame, BlockSize, -1L, compressor, checksum,
      LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE)
    try lz4.write(src) finally lz4.close()
    val prefix = CompressionUtil.SIZE_OF_UNCOMPRESSED_LENGTH
    val out = allocator.buffer(prefix + frame.size)
    out.setBytes(prefix, frame.toByteArray)
    out.writerIndex(prefix + frame.size)
    out
  }

  override protected def doDecompress(allocator: BufferAllocator, in: ArrowBuf): ArrowBuf =
    throw new UnsupportedOperationException(
      "Lz4FrameCodec only encodes; decode with CommonsCompressionFactory")
}
