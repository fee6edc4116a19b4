package graft

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.PgBinaryCopy

/** The sink's InternalRow encoder against the Row adapters and an
  * independent reference encoder, over generated schemas and rows that
  * hit every type arm's edge values, plus the golden bytes of
  * PgCopySpec read through the InternalRow writers. */
class PgCopyPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val PgEpochDays = 10957
  private val PgEpochUs = 946684800000000L
  // wall-clock range whose java.sql externals round-trip exactly in
  // every JVM time zone (no calendar rebase after 1900)
  private val Us1900 = -2208988800000000L
  private val Us2100 = 4102444800000000L

  private def edgesOr[T](edges: Seq[T], rest: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.oneOf(edges), 2 -> rest)

  private def decimalGen(p: Int, s: Int): Gen[Decimal] = {
    val max = BigInteger.TEN.pow(p).subtract(BigInteger.ONE)
    val unscaled = Gen.oneOf(
      Gen.oneOf(BigInteger.ZERO, BigInteger.ONE, max, max.negate, BigInteger.valueOf(-5)),
      Gen.choose(1, p).flatMap(n => Gen.listOfN(n, Gen.numChar)).map(ds => new BigInteger(ds.mkString)),
      Gen.choose(1, p).flatMap(n => Gen.listOfN(n, Gen.numChar))
        .map(ds => new BigInteger(ds.mkString).negate))
    unscaled.map(u => Decimal(new JBigDecimal(u, s), p, s))
  }

  private val textGen: Gen[String] = Gen.oneOf(Gen.const(""), Gen.const("héllo 中𝕆"),
    Gen.listOf(Gen.oneOf("a", "Z", " ", "é", "ß", "中", "𝕆", "\u0000", "😀")).map(_.mkString))

  /** Every type arm with a generator of its internal values. */
  private val arms: Seq[(DataType, Gen[Any])] = Seq(
    BooleanType -> Gen.oneOf(true, false),
    ByteType -> edgesOr(Seq(Byte.MinValue, Byte.MaxValue, 0.toByte), Gen.choose(Byte.MinValue, Byte.MaxValue)),
    ShortType -> edgesOr(Seq(Short.MinValue, Short.MaxValue), Gen.choose(Short.MinValue, Short.MaxValue)),
    IntegerType -> edgesOr(Seq(Int.MinValue, Int.MaxValue, -1), Gen.choose(Int.MinValue, Int.MaxValue)),
    LongType -> edgesOr(Seq(Long.MinValue, Long.MaxValue, -1L), Gen.choose(Long.MinValue, Long.MaxValue)),
    FloatType -> edgesOr(Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f,
      Float.MinPositiveValue, Float.MaxValue), Gen.choose(-1e30f, 1e30f)),
    DoubleType -> edgesOr(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0d,
      Double.MinPositiveValue, Double.MaxValue), Gen.choose(-1e300d, 1e300d)),
    StringType -> textGen.map(UTF8String.fromString),
    BinaryType -> Gen.oneOf(Gen.const(Array.emptyByteArray),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)),
    DateType -> edgesOr(Seq(0, -1, -PgEpochDays, -PgEpochDays - 1, -25567),
      Gen.choose(-25567, 47482)), // 1900-01-01 .. 2100-01-01
    TimestampType -> edgesOr(Seq(0L, -1L, PgEpochUs, PgEpochUs - 1, Us1900),
      Gen.choose(Us1900, Us2100)),
    TimestampNTZType -> edgesOr(Seq(0L, -1L, PgEpochUs, PgEpochUs - 1, Us1900),
      Gen.choose(Us1900, Us2100))
  ) ++ Seq((38, 0), (38, 10), (38, 38), (18, 4), (18, 0), (10, 2), (5, 5), (1, 0), (20, 4))
    .map { case (p, s) => DecimalType(p, s) -> decimalGen(p, s) }

  /** Independent reference: big-endian payloads straight from the
    * internal values, numeric by BigDecimal arithmetic. */
  private def refPayload(dt: DataType, v: Any): Array[Byte] = dt match {
    case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
    case ByteType => ByteBuffer.allocate(2).putShort(v.asInstanceOf[Byte].toShort).array
    case ShortType => ByteBuffer.allocate(2).putShort(v.asInstanceOf[Short]).array
    case IntegerType => ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int]).array
    case LongType => ByteBuffer.allocate(8).putLong(v.asInstanceOf[Long]).array
    case FloatType =>
      ByteBuffer.allocate(4).putInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Float])).array
    case DoubleType =>
      ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])).array
    case StringType => v.asInstanceOf[UTF8String].getBytes
    case BinaryType => v.asInstanceOf[Array[Byte]]
    case DateType => ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int] - PgEpochDays).array
    case TimestampType | TimestampNTZType =>
      ByteBuffer.allocate(8).putLong(v.asInstanceOf[Long] - PgEpochUs).array
    case _: DecimalType => refNumeric(v.asInstanceOf[Decimal].toJavaBigDecimal)
  }

  /** PG numeric body: ndigits, weight, sign, dscale, base-10000 digits
    * most significant first, without leading or trailing zero digits. */
  private def refNumeric(d: JBigDecimal): Array[Byte] = {
    val dscale = d.scale.max(0)
    val pad = (dscale + 3) / 4 * 4
    val digits = d.abs.setScale(pad).unscaledValue.toString
    val width = (digits.length + 3) / 4 * 4
    val groups = ("0" * (width - digits.length) + digits).grouped(4).map(_.toInt).toSeq
    val weight = groups.length - 1 - pad / 4
    val lead = groups.takeWhile(_ == 0).length
    val kept = groups.drop(lead).reverse.dropWhile(_ == 0).reverse
    val bb = ByteBuffer.allocate(8 + 2 * kept.length)
      .putShort(kept.length.toShort)
      .putShort((if (kept.isEmpty) 0 else weight - lead).toShort)
      .putShort((if (d.signum < 0) 0x4000 else 0).toShort)
      .putShort(dscale.toShort)
    kept.foreach(g => bb.putShort(g.toShort))
    bb.array
  }

  private def refStream(schema: StructType, rows: Seq[Array[Any]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.write(PgBinaryCopy.header)
    rows.foreach { r =>
      d.writeShort(r.length)
      r.indices.foreach { i =>
        if (r(i) == null) d.writeInt(-1)
        else { val p = refPayload(schema(i).dataType, r(i)); d.writeInt(p.length); d.write(p) }
      }
    }
    d.write(PgBinaryCopy.trailer)
    out.toByteArray
  }

  private val caseGen: Gen[(StructType, Seq[Array[Any]])] = for {
    n <- Gen.choose(1, 8)
    cols <- Gen.listOfN(n, Gen.oneOf(arms))
    rowGen = Gen.sequence[Array[Any], Any](cols.map { case (_, g) =>
      Gen.frequency(1 -> Gen.const(null), 6 -> g) })
    rows <- Gen.choose(0, 30).flatMap(k => Gen.listOfN(k, rowGen))
  } yield (StructType(cols.zipWithIndex.map { case ((dt, _), i) => StructField(s"c$i", dt) }),
    rows)

  test("InternalRow stream bytes equal the Row adapter's and the reference encoder's (property)") {
    check(Prop.forAll(caseGen) { case (schema, rows) =>
      val writers = schema.fields.map(f => PgBinaryCopy.fieldWriter(f.dataType).get)
      // one reused UnsafeRow, as toRdd hands the sink
      val unsafe = UnsafeProjection.create(schema)
      val internal = new PgBinaryCopy.InternalRowStream(
        rows.iterator.map(r => unsafe(new GenericInternalRow(r))), writers).readAllBytes()
      val toScala = CatalystTypeConverters.createToScalaConverter(schema)
      val external = rows.map(r => toScala(new GenericInternalRow(r)).asInstanceOf[Row])
      val encs = schema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
      val adapter = new PgBinaryCopy.RowStream(external.iterator, encs).readAllBytes()
      val reference = refStream(schema, rows)
      (internal.sameElements(reference) :| s"InternalRow != reference for $schema") &&
        (adapter.sameElements(reference) :| s"Row adapter != reference for $schema")
    })
  }

  test("InternalRow stream bytes over UnsafeRows pointed into one shared buffer equal the reference's (property)") {
    check(Prop.forAll(caseGen, Gen.choose(1, 4)) { case ((schema, rows), lead) =>
      val writers = schema.fields.map(f => PgBinaryCopy.fieldWriter(f.dataType).get)
      // the rows' bytes back to back behind 8-byte sizes, from a
      // non-zero offset, read through one reused UnsafeRow as a COPY
      // stream reads its chunk
      val unsafe = UnsafeProjection.create(schema)
      val sizes = rows.map(r => unsafe(new GenericInternalRow(r)).getSizeInBytes)
      val shared = new Array[Byte](8 * lead + sizes.map(_ + 8).sum)
      var at = Platform.BYTE_ARRAY_OFFSET + 8L * lead
      val offsets = rows.map { r =>
        val u = unsafe(new GenericInternalRow(r))
        Platform.putLong(shared, at, u.getSizeInBytes)
        u.writeToMemory(shared, at + 8)
        val rowAt = at + 8
        at += 8 + u.getSizeInBytes
        rowAt
      }
      val row = new UnsafeRow(schema.length)
      val pointed = offsets.iterator.zip(sizes.iterator).map { case (o, n) =>
        row.pointTo(shared, o, n); row: InternalRow
      }
      val bytes = new PgBinaryCopy.InternalRowStream(pointed, writers).readAllBytes()
      bytes.sameElements(refStream(schema, rows)) :| s"shared-buffer UnsafeRow != reference for $schema"
    })
  }

  private def field(dt: DataType, v: Any): Array[Byte] = {
    val out = new PgBinaryCopy.CopyBuffer(16)
    PgBinaryCopy.fieldWriter(dt).get.write(out, new GenericInternalRow(Array(v)), 0)
    val bytes = out.toByteArray
    assert(ByteBuffer.wrap(bytes).getInt == bytes.length - 4, "length prefix")
    bytes.drop(4)
  }

  private def shorts(b: Array[Byte]): Seq[Int] =
    b.grouped(2).map(g => ((g(0) & 0xff) << 8) | (g(1) & 0xff)).toSeq

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("InternalRow writers reproduce PgCopySpec's golden bytes") {
    def num(s: String, p: Int, sc: Int) =
      shorts(field(DecimalType(p, sc), Decimal(new JBigDecimal(s), p, sc)))
    assert(num("1234.56", 10, 2) == Seq(2, 0, 0x0000, 2, 1234, 5600))
    assert(num("0.00", 10, 2) == Seq(0, 0, 0x0000, 2))
    assert(num("-0.5", 10, 1) == Seq(1, 0xffff, 0x4000, 1, 5000))
    assert(num("10000", 10, 0) == Seq(1, 1, 0x0000, 0, 1))
    assert(num("12345678.9", 10, 1) == Seq(3, 1, 0x0000, 1, 1234, 5678, 9000))
    assert(num("-987.65", 10, 2) == Seq(2, 0, 0x4000, 2, 987, 6500))
    // the non-compact (precision > 18) arm: 38 nines, and 10^-38
    assert(num("9" * 38, 38, 0) == Seq(10, 9, 0x0000, 0, 99) ++ Seq.fill(9)(9999))
    assert(num("0." + "0" * 37 + "1", 38, 38) == Seq(1, 0xfff6, 0x0000, 38, 100))
    assert(num("-0." + "0" * 37 + "1", 38, 38) == Seq(1, 0xfff6, 0x4000, 38, 100))
    assert(hex(field(DateType, 0)) == "ffffd533") // 1970-01-01 = -10957
    assert(hex(field(DateType, PgEpochDays)) == "00000000")
    assert(hex(field(TimestampType, PgEpochUs)) == "0000000000000000")
    def ntz(v: String) = hex(field(TimestampNTZType,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(
        java.time.LocalDateTime.parse(v))))
    assert(ntz("2000-01-01T00:00:00") == "0000000000000000")
    assert(ntz("2000-01-01T00:00:00.000001") == "0000000000000001")
    assert(ntz("1999-12-31T23:59:59.999999") == "ffffffffffffffff")
    assert(ntz("2024-02-29T23:59:59.000001") == "0002b58cd3547dc1")
    assert(ntz("1969-07-20T20:17:40.123456") == "fffc96188bb04340")
    // the Row adapters agree with the writers on the same values
    val enc = PgBinaryCopy.fieldEncoder(TimestampNTZType).get
    assert(hex(enc(java.time.LocalDateTime.parse("1969-07-20T20:17:40.123456"))) ==
      "fffc96188bb04340")
    assert(shorts(PgBinaryCopy.encodeNumeric(new JBigDecimal("-0.5"))) ==
      Seq(1, 0xffff, 0x4000, 1, 5000))
  }
}
