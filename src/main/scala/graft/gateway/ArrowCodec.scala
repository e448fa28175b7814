package graft.gateway

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.nio.channels.Channels
import java.time.{LocalDateTime, ZoneOffset}
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import net.jpountz.lz4.{LZ4Factory, LZ4FrameInputStream, LZ4FrameOutputStream}
import net.jpountz.xxhash.XXHashFactory
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, MapVector, StructVector}
import org.apache.arrow.vector.compression.{AbstractCompressionCodec, CompressionCodec, CompressionUtil}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.execution.arrow.{ArrowWriter => SparkArrowWriter}
import org.apache.spark.sql.types._

/** Arrow IPC codec for gateway result delivery — the reference's result
  * wire is LZ4-compressed Arrow Flight data
  * (`networks/tonic/src/server.rs:109-141` FlightDataEncoderBuilder with
  * LZ4_FRAME; `dist/src/runtime.rs:253-303` batch-at-a-time streaming).
  * This is the same encoding over the socket gateway: one Arrow IPC
  * stream per ticket, schema message first, one LZ4_FRAME-compressed
  * record batch per result page, EOS marker last — self-delimiting, so it
  * composes with the line-JSON control protocol on the same socket.
  *
  * A result page is one record-batch message, built where the rows are:
  * [[encodePages]] fills Spark's own `ArrowWriter` from `InternalRow`s on
  * the executor and compresses every body buffer with [[Lz4FrameCodec]]
  * (lz4-java frames of independent 64 KB blocks; lz4-java is the library
  * Spark itself uses for shuffle). A stream is then the schema, the page
  * bytes as they are, and EOS ([[writeStream]]). Decode reads those
  * frames with lz4-java and every other LZ4 frame variant a foreign Arrow
  * writer may emit (linked blocks, checksums, content size) with
  * commons-compress ([[Lz4FrameCodec]]).
  *
  * The type surface: booleans, the four int widths, float/double,
  * decimal, string, binary, date, timestamp (UTC instant), timestamp_ntz
  * (zone-less local time), and arrays, maps and structs of them, nulls
  * allowed at every level.
  */
object ArrowCodec {

  /** Spark schema → Arrow schema (nullable preserved; timestamps are
    * micros UTC, timestamp_ntz is micros with no zone, dates are day-unit,
    * nested fields follow Spark's own Arrow layout — Spark's conventions,
    * so Spark's `ArrowWriter` fills the vectors). */
  def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(schema.fields.toSeq.map(f => toArrowField(f.name, f.dataType, f.nullable)).asJava)

  private def toArrowField(name: String, dt: DataType, nullable: Boolean): Field = {
    def field(at: ArrowType, children: Field*): Field =
      new Field(name, new FieldType(nullable, at, null), children.asJava)
    dt match {
      case ArrayType(e, containsNull) =>
        field(ArrowType.List.INSTANCE, toArrowField("element", e, containsNull))
      case MapType(k, v, valueContainsNull) =>
        val entries = StructType(Seq(StructField(MapVector.KEY_NAME, k, nullable = false),
          StructField(MapVector.VALUE_NAME, v, valueContainsNull)))
        field(new ArrowType.Map(false), toArrowField(MapVector.DATA_VECTOR_NAME, entries, nullable = false))
      case StructType(fs) =>
        field(ArrowType.Struct.INSTANCE, fs.toSeq.map(f => toArrowField(f.name, f.dataType, f.nullable)): _*)
      case BooleanType => field(ArrowType.Bool.INSTANCE)
      case ByteType => field(new ArrowType.Int(8, true))
      case ShortType => field(new ArrowType.Int(16, true))
      case IntegerType => field(new ArrowType.Int(32, true))
      case LongType => field(new ArrowType.Int(64, true))
      case FloatType => field(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => field(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case d: DecimalType => field(new ArrowType.Decimal(d.precision, d.scale, 128))
      case StringType => field(ArrowType.Utf8.INSTANCE)
      case BinaryType => field(ArrowType.Binary.INSTANCE)
      case DateType => field(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => field(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType => field(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null))
      case other => throw new UnsupportedOperationException(
        s"arrow gateway encoding does not support $other (column $name)")
    }
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
    *     38-digit maximum, so ingest throws rather than mis-rounding.
    * Lists, maps and structs map to arrays, maps and structs of the same. */
  def toSparkSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.toSeq.map(f => StructField(f.getName, toSparkType(f), f.isNullable)))

  private def toSparkType(f: Field): DataType = f.getType match {
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
    case _: ArrowType.Map => // before List: one entries struct of key, value
      val Seq(k, v) = f.getChildren.get(0).getChildren.asScala.toSeq
      MapType(toSparkType(k), toSparkType(v), v.isNullable)
    case _: ArrowType.List =>
      val e = f.getChildren.get(0)
      ArrayType(toSparkType(e), e.isNullable)
    case _: ArrowType.Struct => toSparkSchema(new ArrowSchema(f.getChildren))
    case other => throw new UnsupportedOperationException(s"arrow type $other")
  }

  /** The reader of one vector's non-null cells, resolved once per batch:
    * the per-cell work is then the vector's own getter, with no type
    * dispatch. Nested vectors resolve their children's readers here too. */
  private def reader(vec: ValueVector): Int => Any = vec match {
    case b: BitVector => b.get(_) == 1
    case b: TinyIntVector => b.get(_)
    case s: SmallIntVector => s.get(_)
    case n: IntVector => n.get(_)
    case l: BigIntVector => l.get(_)
    // Unsigned ingest (the widening half of [[toSparkSchema]]'s rules):
    // reinterpret the raw two's-complement payload as the unsigned value
    // in the widened type — order- and value-preserving by construction.
    case u: UInt1Vector => i => (u.get(i) & 0xFF).toShort
    case u: UInt2Vector => u.get(_).toInt // char IS the unsigned 16-bit value
    case u: UInt4Vector => u.get(_).toLong & 0xFFFFFFFFL
    case u: UInt8Vector => i => new java.math.BigDecimal(java.lang.Long.toUnsignedString(u.get(i)))
    case h: Float2Vector => h.getValueAsFloat(_) // fp16 widens losslessly
    case f: Float4Vector => f.get(_)
    case d: Float8Vector => d.get(_)
    case d: DecimalVector => d.getObject(_)
    case s: VarCharVector => i => new String(s.get(i), java.nio.charset.StandardCharsets.UTF_8)
    case b: VarBinaryVector => b.get(_)
    case d: DateDayVector => i => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.get(i).toLong))
    case d: DateMilliVector => i => java.sql.Date.valueOf( // date64 → date32 cast
      java.time.LocalDate.ofEpochDay(Math.floorDiv(d.get(i), 86400000L)))
    case t: TimeStampMicroTZVector => i =>
      val micros = t.get(i)
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case t: TimeStampMicroVector => i =>
      val micros = t.get(i)
      LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    case m: MapVector => // a MapVector is a ListVector: match it first
      val Seq(k, v) = m.getDataVector.asInstanceOf[StructVector].getChildrenFromFields.asScala.toSeq
      val (key, value) = (reader(k), nullable(v))
      i => (m.getElementStartIndex(i) until m.getElementEndIndex(i)).map(j => key(j) -> value(j)).toMap
    case l: ListVector =>
      val element = nullable(l.getDataVector)
      i => ArraySeq.unsafeWrapArray(
        (l.getElementStartIndex(i) until l.getElementEndIndex(i)).map(element).toArray[Any])
    case s: StructVector =>
      val fields = s.getChildrenFromFields.asScala.map(nullable).toArray
      row(fields, _)
    case other => throw new UnsupportedOperationException(s"vector ${other.getClass}")
  }

  private def nullable(vec: ValueVector): Int => Any = {
    val r = reader(vec)
    i => if (vec.isNull(i)) null else r(i)
  }

  private def row(columns: Array[Int => Any], i: Int): Row = {
    val values = new Array[Any](columns.length)
    var c = 0
    while (c < columns.length) { values(c) = columns(c)(i); c += 1 }
    new GenericRow(values)
  }

  /** Every row of the batch loaded in `root`. */
  private def rows(root: VectorSchemaRoot): Iterator[Row] = {
    val columns = root.getFieldVectors.asScala.map(nullable).toArray
    Iterator.range(0, root.getRowCount).map(row(columns, _))
  }

  /** `rows` as result pages of ≤`pageRows` rows each: (row count, one
    * LZ4_FRAME record-batch message). Runs where the rows are — on an
    * executor, inside the task that computes them — through Spark's own
    * `ArrowWriter`; the vectors are freed when `rows` is exhausted or the
    * task ends. No rows, no pages. */
  def encodePages(schema: StructType, rows: Iterator[InternalRow], pageRows: Int): Iterator[(Int, Array[Byte])] =
    if (!rows.hasNext) Iterator.empty
    else {
      val allocator = new RootAllocator()
      val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
      val writer = SparkArrowWriter.create(root)
      val unloader = new VectorUnloader(root, true, Lz4FrameCodec, true)
      var open = true
      def close(): Unit = if (open) { open = false; root.close(); allocator.close() }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
      new Iterator[(Int, Array[Byte])] {
        def hasNext: Boolean = rows.hasNext || { close(); false }
        def next(): (Int, Array[Byte]) = {
          writer.reset()
          var n = 0
          while (n < pageRows && rows.hasNext) { writer.write(rows.next()); n += 1 }
          writer.finish()
          (n, message(unloader))
        }
      }
    }

  /** The loaded batch as one record-batch message, body compressed. */
  private def message(unloader: VectorUnloader): Array[Byte] = {
    val batch = unloader.getRecordBatch
    try {
      val bos = new ByteArrayOutputStream()
      MessageSerializer.serialize(new WriteChannel(Channels.newChannel(bos)), batch, IpcOption.DEFAULT)
      bos.toByteArray
    } finally batch.close()
  }

  /** Load one page of `schema` and apply `f` to it. */
  private def withPage[A](schema: StructType, page: Array[Byte])(f: VectorSchemaRoot => A): A = {
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
    try {
      val batch = MessageSerializer.deserializeRecordBatch(
        new ReadChannel(Channels.newChannel(new ByteArrayInputStream(page))), allocator)
      try new VectorLoader(root, Lz4FrameCodec).load(batch) finally batch.close()
      f(root)
    } finally { root.close(); allocator.close() }
  }

  /** One page's rows, decoded. */
  def readPage(schema: StructType, page: Array[Byte]): Vector[Row] =
    withPage(schema, page)(rows(_).toVector)

  /** The page without its first `from` rows: the page an offset resume
    * starts in (re-encoded, the one driver-side encode). */
  def dropRows(schema: StructType, page: Array[Byte], from: Int): Array[Byte] =
    withPage(schema, page) { root =>
      val tail = root.slice(from, root.getRowCount - from)
      try message(new VectorUnloader(tail, true, Lz4FrameCodec, true)) finally tail.close()
    }

  /** Write one Arrow IPC stream to `out`: the schema message, `pages` as
    * they are, the EOS marker. Leaves `out` open and unflushed. */
  def writeStream(schema: StructType, pages: Iterator[Array[Byte]], out: OutputStream): Unit = {
    val ch = new WriteChannel(Channels.newChannel(out))
    MessageSerializer.serialize(ch, toArrowSchema(schema), IpcOption.DEFAULT)
    pages.foreach(ch.write)
    ArrowStreamWriter.writeEndOfStream(ch, IpcOption.DEFAULT) // the socket stays usable for JSON lines
  }

  /** Write `rows` to `out` as one LZ4_FRAME-compressed Arrow IPC stream,
    * one record batch per ≤`batchRows` rows — the page path of
    * [[encodePages]] and [[writeStream]], over rows converted by Spark's
    * Catalyst type converters (interpreted: no code generation per call).
    * Leaves the stream open (writes the EOS marker, does not close `out`).
    * Returns rows written. */
  def write(schema: StructType, rows: Iterator[Row], out: OutputStream, batchRows: Int): Long = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    var total = 0L
    writeStream(schema, encodePages(schema, rows.map(toInternal(_).asInstanceOf[InternalRow]), batchRows)
      .map { case (n, page) => total += n; page }, out)
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
    val reader = new ArrowStreamReader(in, allocator, Lz4FrameCodec)
    try {
      val out = Vector.newBuilder[Row]
      var schema: Option[StructType] = None
      var complete = false
      try {
        val root = reader.getVectorSchemaRoot // reads the schema message
        schema = Some(toSparkSchema(root.getSchema))
        while (reader.loadNextBatch()) out ++= rows(root)
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

/** The Arrow `CompressionCodec` behind [[ArrowCodec.encodePages]], and its own
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
  * Decode: a frame of independent blocks (graft's own, and most writers')
  * is read by lz4-java's `LZ4FrameInputStream`; any other LZ4 frame — a
  * foreign writer's linked blocks — by commons-compress, which reads every
  * variant. As the factory of [[ArrowCodec.readResumable]] it hands any
  * other codec (ZSTD) to Arrow's commons factory. Decoding whole results
  * of the three projections above, lz4-java took [[ArrowCodec.read]] from
  * 3.7/3.1/21 µs/row with commons-compress to 0.7/0.6/1.7 µs/row
  * (lineitem/orders/documents). */
private[gateway] object Lz4FrameCodec extends AbstractCompressionCodec
    with CompressionCodec.Factory {

  private val BlockSize = LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB
  private val compressor = LZ4Factory.fastestInstance().highCompressor()
  private val checksum = XXHashFactory.fastestInstance().hash32()

  override def getCodecType: CompressionUtil.CodecType = CompressionUtil.CodecType.LZ4_FRAME

  override def createCodec(codecType: CompressionUtil.CodecType): CompressionCodec =
    if (codecType == getCodecType) this else CommonsCompressionFactory.INSTANCE.createCodec(codecType)

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

  override protected def doDecompress(allocator: BufferAllocator, in: ArrowBuf): ArrowBuf = {
    val prefix = CompressionUtil.SIZE_OF_UNCOMPRESSED_LENGTH
    val n = readUncompressedLength(in)
    val frame = new Array[Byte]((in.writerIndex() - prefix).toInt)
    in.getBytes(prefix, frame)
    // FLG, after the 4-byte magic: bit 5 marks independent blocks.
    val src = new ByteArrayInputStream(frame)
    val lz4 = if ((frame(4) & 0x20) != 0) new LZ4FrameInputStream(src) else new FramedLZ4CompressorInputStream(src)
    val raw = try lz4.readNBytes(n.toInt) finally lz4.close()
    val out = allocator.buffer(n)
    out.setBytes(0, raw)
    out.writerIndex(n)
    out
  }
}
