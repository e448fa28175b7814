package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.gateway.ArrowCodec

/** ScalaCheck suite for the SURVEY §1 / §5(5) type-mapping edges — the
  * Arrow wire types the reference serializes
  * (`datafusion_common.proto:353-393`) that Spark has no native type for:
  * unsigned ints (widen u8→Short, u16→Int, u32→Long, u64→Decimal(20,0)),
  * float16 (widen to Float), date64 (cast to DateType), and decimal
  * precision > 38 (documented-unsupported: throws, never mis-rounds).
  * Each property drives REAL Arrow vectors through a real IPC stream into
  * [[ArrowCodec.read]] — the ingest path a reference client's results
  * would take — not just the schema function. */
class TypeMappingSpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(300)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), p)
    assert(res.passed, s"$name: $res")
  }

  /** Build a one-column Arrow IPC stream by filling a concrete vector,
    * then decode it through the gateway codec. `fill` returns the row
    * count; null slots are whatever the vector leaves unset. */
  private def roundtrip(arrowType: ArrowType, nullable: Boolean = true)(
      fill: FieldVector => Int): (StructType, Vector[org.apache.spark.sql.Row]) = {
    val schema = new ArrowSchema(java.util.List.of(
      new Field("c", new FieldType(nullable, arrowType, null),
        java.util.Collections.emptyList[Field])))
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, allocator)
    val out = new ByteArrayOutputStream()
    try {
      root.allocateNew()
      val n = fill(root.getVector(0))
      root.setRowCount(n)
      val w = new ArrowStreamWriter(root, null, Channels.newChannel(out))
      w.start(); w.writeBatch(); w.end(); w.close()
    } finally { root.close(); allocator.close() }
    ArrowCodec.read(new ByteArrayInputStream(out.toByteArray))
  }

  test("u8 widens to Short: full 0..255 range, value- and order-preserving") {
    val (schema, rows) = roundtrip(new ArrowType.Int(8, false)) { vec =>
      val v = vec.asInstanceOf[UInt1Vector]
      (0 until 256).foreach(i => v.setSafe(i, i.toByte)); 256
    }
    assert(schema.head.dataType == ShortType)
    val got = rows.map(_.getShort(0))
    assert(got == (0 until 256).map(_.toShort).toVector,
      "u8 payloads above Byte.MaxValue must decode to their unsigned value")
  }

  test("u16 widens to Int (property: any 16-bit payload decodes unsigned)") {
    check("u16", Prop.forAll(Gen.chooseNum(0, 0xFFFF)) { x =>
      val (schema, rows) = roundtrip(new ArrowType.Int(16, false)) { vec =>
        vec.asInstanceOf[UInt2Vector].setSafe(0, x.toChar); 1
      }
      schema.head.dataType == IntegerType && rows.head.getInt(0) == x
    })
  }

  test("u32 widens to Long (property: any 32-bit payload decodes unsigned)") {
    check("u32", Prop.forAll(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { raw =>
      val (schema, rows) = roundtrip(new ArrowType.Int(32, false)) { vec =>
        vec.asInstanceOf[UInt4Vector].setSafe(0, raw); 1
      }
      schema.head.dataType == LongType &&
        rows.head.getLong(0) == (raw.toLong & 0xFFFFFFFFL)
    })
  }

  test("u64 widens to Decimal(20,0) (property: full unsigned range, nonneg)") {
    check("u64", Prop.forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { raw =>
      val (schema, rows) = roundtrip(new ArrowType.Int(64, false)) { vec =>
        vec.asInstanceOf[UInt8Vector].setSafe(0, raw); 1
      }
      val want = new java.math.BigDecimal(java.lang.Long.toUnsignedString(raw))
      schema.head.dataType == DecimalType(20, 0) &&
        rows.head.getDecimal(0).compareTo(want) == 0 &&
        rows.head.getDecimal(0).signum() >= 0
    })
  }

  /** Independent IEEE 754 half→single reference (bit algorithm, not
    * Arrow's): the property pins Arrow's Float16 conversion against a
    * second derivation. */
  private def halfToFloatRef(h: Short): Float = {
    val bits = h & 0xFFFF
    val sign = (bits >>> 15) & 1
    val exp = (bits >>> 10) & 0x1F
    val frac = bits & 0x3FF
    val f =
      if (exp == 0) math.pow(2, -14) * (frac / 1024.0) // subnormal / zero
      else if (exp == 0x1F) { if (frac == 0) Double.PositiveInfinity else Double.NaN }
      else math.pow(2, exp - 15) * (1.0 + frac / 1024.0)
    (if (sign == 1) -f else f).toFloat
  }

  test("float16 widens to Float (property: every bit pattern matches the IEEE ref)") {
    check("fp16", Prop.forAll(Gen.chooseNum(Short.MinValue, Short.MaxValue)) { h =>
      val (schema, rows) = roundtrip(
        new ArrowType.FloatingPoint(FloatingPointPrecision.HALF)) { vec =>
        vec.asInstanceOf[Float2Vector].setSafe(0, h); 1
      }
      val got = rows.head.getFloat(0)
      val want = halfToFloatRef(h)
      schema.head.dataType == FloatType &&
        (if (want.isNaN) got.isNaN else got == want)
    })
  }

  test("date64 casts to DateType (property: floor-div ms to epoch days, pre-epoch included)") {
    // Range: 1582-10-15 (Gregorian adoption) to ~year 275000. Earlier
    // dates hit java.sql.Date's Julian-cutover rebase (valueOf/toLocalDate
    // stop being inverses) — a JDBC-API artifact, not a mapping property;
    // the reference never serializes pre-Gregorian dates.
    check("date64", Prop.forAll(
      Gen.chooseNum(-12219292800000L, 8640000000000000L)) { ms =>
      val (schema, rows) = roundtrip(new ArrowType.Date(DateUnit.MILLISECOND)) { vec =>
        vec.asInstanceOf[DateMilliVector].setSafe(0, ms); 1
      }
      val want = java.time.LocalDate.ofEpochDay(Math.floorDiv(ms, 86400000L))
      schema.head.dataType == DateType &&
        rows.head.getDate(0).toLocalDate == want
    })
  }

  test("null slots survive every widened type") {
    // Nullability is part of the mapping: a null u64/fp16/date64 cell must
    // arrive as a Spark NULL, not a garbage default.
    for (at <- Seq[ArrowType](new ArrowType.Int(64, false),
        new ArrowType.FloatingPoint(FloatingPointPrecision.HALF),
        new ArrowType.Date(DateUnit.MILLISECOND))) {
      val (_, rows) = roundtrip(at) { vec =>
        vec.setNull(0)
        vec match {
          case v: UInt8Vector => v.setSafe(1, -1L)
          case v: Float2Vector => v.setSafe(1, 0x3C00.toShort) // 1.0
          case v: DateMilliVector => v.setSafe(1, 0L)
          case _ => fail(s"unexpected vector ${vec.getClass}")
        }
        2
      }
      assert(rows.head.isNullAt(0), s"$at: null slot decoded non-null")
      assert(!rows(1).isNullAt(0), s"$at: set slot decoded null")
    }
  }

  test("timestamp_ntz round-trips as a zone-less micros timestamp; tz-aware stays TimestampType") {
    val schema = StructType(Seq(
      StructField("ntz", TimestampNTZType), StructField("ts", TimestampType)))
    val arrow = ArrowCodec.toArrowSchema(schema).getFields
    assert(arrow.get(0).getType == new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null))
    assert(arrow.get(1).getType == new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC"))
    // Property: any micros in years 0001..9999, pre-epoch included,
    // encodes from LocalDateTime and decodes back to the same value (the
    // zone-aware column rides along as null).
    check("ntz", Prop.forAll(Gen.chooseNum(-62135596800000000L, 253402300799999999L)) { micros =>
      val ldt = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      val row = org.apache.spark.sql.Row(ldt, null)
      val bos = new ByteArrayOutputStream()
      ArrowCodec.write(schema, Iterator(row), bos, 16)
      val (got, rows) = ArrowCodec.read(new ByteArrayInputStream(bos.toByteArray))
      got == schema && rows == Vector(row)
    })
  }

  test("a tz-less Arrow timestamp from another writer decodes to TimestampNTZType") {
    val (schema, rows) = roundtrip(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null)) { vec =>
      val v = vec.asInstanceOf[TimeStampMicroVector]
      v.setSafe(0, 795225600000000L) // 1995-03-15T00:00
      v.setNull(1)
      v.setSafe(2, -1L)              // one micro before the epoch
      3
    }
    assert(schema.head.dataType == TimestampNTZType)
    assert(rows.map(r => Option(r.get(0))) == Vector(
      Some(java.time.LocalDateTime.of(1995, 3, 15, 0, 0)), None,
      Some(java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000))))
  }

  test("decimal precision > 38 is documented-unsupported: throws, never rounds") {
    for (p <- Seq(39, 76)) {
      val schema = new ArrowSchema(java.util.List.of(
        new Field("d", new FieldType(true,
          new ArrowType.Decimal(p, 2, 256), null),
          java.util.Collections.emptyList[Field])))
      val e = intercept[UnsupportedOperationException] {
        ArrowCodec.toSparkSchema(schema)
      }
      assert(e.getMessage.contains("unsupported by design"),
        s"precision $p must carry the documented-unsupported contract")
    }
    // And the supported maximum still maps exactly.
    val ok = new ArrowSchema(java.util.List.of(
      new Field("d", new FieldType(true,
        new ArrowType.Decimal(38, 10, 128), null),
        java.util.Collections.emptyList[Field])))
    assert(ArrowCodec.toSparkSchema(ok).head.dataType == DecimalType(38, 10))
  }
}
