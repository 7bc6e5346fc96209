package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.types._

/** Plain-Scala helpers behind the long-tail registered UDFs (tier (c) of
  * SURVEY.md §7.0 layer 2: `udf()` for the long tail; hot-path functions
  * are Catalyst expressions in GraftFunctions.builders instead).
  */
/** ST_Distance dispatch: struct points (the original points subset) keep
  * a pure-arithmetic codegen'd form; WKT strings route to the general
  * geometry distance. The choice happens once the children resolve —
  * RuntimeReplaceable computes the replacement from the children's
  * dataType, so both call shapes share one registered name.
  */
case class GeoDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    // a struct point mixed with a WKT string renders to text and takes
    // the general kernel (KAT wave 9: ST_Distance(ST_Point(..),
    // ST_GeometryFromText(..)) — both orders)
    def asWkt(p: Expression): Expression = p.dataType match {
      case _: StringType => p
      case st: StructType =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GeometryFns.getClass, StringType, "pointWktU",
          Seq(Cast(GetStructField(p, st.fieldIndex("x"), Some("x")), DoubleType),
            Cast(GetStructField(p, st.fieldIndex("y"), Some("y")), DoubleType)),
          inputTypes = Seq(DoubleType, DoubleType), propagateNull = true)
      case other => throw new IllegalArgumentException(
        s"st_distance expects points or WKT strings, got $other")
    }
    if (left.dataType.isInstanceOf[StructType] &&
        right.dataType.isInstanceOf[StructType]) {
      // both struct points: keep the fully codegen'd arithmetic — the
      // distance-join hot path
      def f(p: Expression, n: String) = {
        val st = p.dataType.asInstanceOf[StructType]
        GetStructField(p, st.fieldIndex(n), Some(n))
      }
      val dx = Subtract(f(left, "x"), f(right, "x"))
      val dy = Subtract(f(left, "y"), f(right, "y"))
      Sqrt(Add(Multiply(dx, dx), Multiply(dy, dy)))
    } else
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GeometryExtras.getClass, DoubleType, "distanceWktU",
        Seq(asWkt(left), asWkt(right)), inputTypes = Seq(StringType, StringType),
        propagateNull = true)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeoDistanceExpr =
    copy(left = newLeft, right = newRight)
}

/** millisecond(x): late-binding dispatch — the reference accepts TIME as
  * well as timestamps (DateTimeFunctions.java millisecondFromTime /
  * millisecondFromTimestamp). A parse-time Cast-to-TIMESTAMP rejects
  * TIME operands at analysis, so the branch must wait for the child's
  * resolved type: TIME reads its nanos-of-day directly; everything else
  * keeps the session-zone format path. (Zone-carrying operands arrive
  * here already unwrapped to TIME by ZonedTimestamps' wall rewrite.)
  */
case class MillisecondOf(child: Expression, timeZoneId: Option[String] = None)
    extends Expression with RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression]
    with TimeZoneAwareExpression {
  override def prettyName: String = "millisecond"
  override def withTimeZone(tz: String): MillisecondOf = copy(timeZoneId = Some(tz))
  // TimeZoneAwareExpression's final nodePatterns overwrites the
  // RUNTIME_REPLACEABLE bit RuntimeReplaceable's init set (same fix as
  // ZonedTimestamps' zone-aware replaceables).
  override def nodePatternsInternal(): Seq[org.apache.spark.sql.catalyst.trees.TreePattern.TreePattern] =
    Seq(org.apache.spark.sql.catalyst.trees.TreePattern.RUNTIME_REPLACEABLE)
  override lazy val replacement: Expression = child.dataType match {
    case _: TimeType =>
      StaticInvoke(GraftFnUtils.getClass, LongType, "millisOfTimeNanos",
        Seq(child), inputTypes = Seq(child.dataType), propagateNull = true)
    case _ =>
      Cast(DateFormatClass(Cast(child, TimestampType, timeZoneId),
        Literal("SSS"), timeZoneId), LongType)
  }
  override protected def withNewChildInternal(c: Expression): MillisecondOf =
    copy(child = c)
}

object GraftFnUtils {

  /** millisecond-of-second of a TIME's physical nanos-of-day. */
  def millisOfTimeNanos(timeNanos: Long): Long =
    (timeNanos / 1000000L) % 1000L

  /** Identity on a TIME's physical nanos — lets expression code lift a
    * TIME value into the BIGINT domain (no such Cast exists).
    */
  def timeNanosOf(timeNanos: Long): Long = timeNanos

  /** CAST(TIME AS TIMESTAMP): the epoch date carries the time-of-day
    * (TimeOperators castToTimestamp — 1970-01-01T<tod>, KAT r14).
    */
  def todNanosToMicros(timeNanos: Long): Long = timeNanos / 1000L

  /** CAST(TIME WTZ AS TIMESTAMP WTZ): the UTC instant of the epoch-date
    * time-of-day in its zone, in micros.
    */
  def zonedTimeUtcMicros(nanos: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    zonedTimeUtcNanos(nanos, zone) / 1000L

  private val DayNanos = 86400000000000L

  /** The TIME-valid field units (reference DateTimeFunctions.getTimeField:
    * millisecond/second/minute/hour; anything else — day and up — is
    * "'unit' is not a valid TIME field", same message class).
    */
  def timeFieldNanos(unit: String): Long = unit.toLowerCase match {
    case "millisecond" => 1000000L
    case "second" => 1000000000L
    case "minute" => 60000000000L
    case "hour" => 3600000000000L
    case other =>
      throw new IllegalArgumentException(s"'$other' is not a valid TIME field")
  }

  /** date_add(unit, value, TIME): field add wrapped modulo 24h
    * (DateTimeFunctions.addFieldValueTime — toIntExact like the
    * reference, then the value is reduced mod fields-per-day BEFORE the
    * nanos multiply so the product cannot overflow Long).
    */
  def timeAddUnit(unit: org.apache.spark.unsafe.types.UTF8String,
      value: Long, timeNanos: Long): Long = {
    val f = timeFieldNanos(unit.toString)
    val v = java.lang.Math.toIntExact(value).toLong
    java.lang.Math.floorMod(
      timeNanos + java.lang.Math.floorMod(v, DayNanos / f) * f, DayNanos)
  }

  /** date_diff(unit, TIME, TIME): field difference truncated toward zero
    * (Joda DurationField.getDifference — DateTimeFunctions.diffTime).
    */
  def timeDiffUnit(unit: org.apache.spark.unsafe.types.UTF8String,
      t1Nanos: Long, t2Nanos: Long): Long =
    (t2Nanos - t1Nanos) / timeFieldNanos(unit.toString)

  /** date_trunc(unit, TIME): precise-field roundFloor
    * (DateTimeFunctions.truncateTime; nanos-of-day is non-negative so
    * plain remainder IS the floor).
    */
  def timeTruncUnit(unit: org.apache.spark.unsafe.types.UTF8String,
      timeNanos: Long): Long =
    timeNanos - timeNanos % timeFieldNanos(unit.toString)
  /** Reference DoubleOperators.castToLong/castToInteger rounding:
    * DoubleMath.roundToLong(value, HALF_UP) — half away from zero.
    * NaN/overflow are handled by the OUTER ANSI cast on the rounded
    * value (the reference throws there too).
    */
  def roundHalfUp(d: Double): Double =
    if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)

  /** Regex-quote for PrestoOperators' literal-delimiter split. */
  def quoteRegex(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.util.regex.Pattern.quote(s.toString))

  /** Reference DateTimeOperators.timePlusIntervalDayToSecond: the sum
    * wraps modulo 24h (modulo24Hour — floorMod, so a subtraction past
    * midnight wraps UP). Physical values: TIME is nanos-of-day, the
    * day-time interval is micros. The interval is reduced mod 24h in
    * the micros domain BEFORE the ×1000 to nanos — multiplying the raw
    * micros first overflows Long for intervals beyond ~292 years and
    * would silently wrap to a wrong time-of-day.
    */
  def wrapTimeAdd(timeNanos: Long, intervalMicros: Long): Long =
    java.lang.Math.floorMod(
      timeNanos + java.lang.Math.floorMod(intervalMicros, 86400000000L) * 1000L,
      86400L * 1000L * 1000L * 1000L)

  // ── interval field decomposition (reference DateTimeFunctions.java
  // *FromInterval, :787-1191): total-millis fields with Java division
  // semantics — negatives truncate toward zero, sub-day fields carry
  // the interval's sign. Inputs are the physical values Spark hands a
  // StaticInvoke: day-time interval = total micros, year-month = total
  // months (ResolveIntervalFields). ──
  def intervalDay(micros: Long): Long = micros / 1000 / 86400000L
  def intervalHour(micros: Long): Long = micros / 1000 % 86400000L / 3600000L
  def intervalMinute(micros: Long): Long = micros / 1000 % 3600000L / 60000L
  def intervalSecond(micros: Long): Long = micros / 1000 % 60000L / 1000L
  def intervalMillisecond(micros: Long): Long = micros / 1000 % 1000L
  def intervalYmYear(months: Int): Long = months / 12L
  def intervalYmMonth(months: Int): Long = months % 12L

  // ── zone-carrying TIMESTAMP WITH TIME ZONE helpers (ZonedTimestamps;
  // reference presto-spi DateTimeEncoding.java packs millis+zoneKey into
  // one long — here the zone rides as the struct's second field and these
  // helpers are the unpack-and-observe operations) ──
  private def ztzZone(zone: org.apache.spark.unsafe.types.UTF8String): java.time.ZoneId =
    java.time.ZoneId.of(zone.toString, java.time.ZoneId.SHORT_IDS)
  private def ztzInstant(micros: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
  private def ztzOffsetSeconds(micros: Long, zone: org.apache.spark.unsafe.types.UTF8String): Int =
    ztzZone(zone).getRules.getOffset(ztzInstant(micros)).getTotalSeconds

  /** timezone_hour of a zone-carrying value (DateTimeFunctions.java
    * timeZoneHourFromTimestampWithTimeZone) — hours of the zone's offset
    * at that instant, truncated toward zero so -05:30 yields -5/-30.
    */
  def tzOffsetHour(micros: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    (ztzOffsetSeconds(micros, zone) / 3600).toLong

  def tzOffsetMinute(micros: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    ((ztzOffsetSeconds(micros, zone) % 3600) / 60).toLong

  private val ztzRenderFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  /** CAST(TIMESTAMP WITH TIME ZONE AS VARCHAR) rendering (reference
    * DateTimeUtils.printTimestampWithTimeZone: Joda pattern
    * "yyyy-MM-dd HH:mm:ss.SSS ZZZ" — wall clock in the value's own zone,
    * then the zone id as the user attached it).
    */
  def renderZoned(micros: Long, zone: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val ldt = java.time.LocalDateTime.ofInstant(ztzInstant(micros), ztzZone(zone))
    org.apache.spark.unsafe.types.UTF8String.fromString(
      ztzRenderFmt.format(ldt) + " " + zone.toString)
  }

  private val ztzIsoFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** to_iso8601 of a zone-carrying value: wall clock plus the zone's
    * numeric offset at that instant, 'Z' at offset zero (the reference's
    * Joda ISODateTimeFormat zero-offset text).
    */
  def isoZoned(micros: Long, zone: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val zid = ztzZone(zone)
    val inst = ztzInstant(micros)
    val off = zid.getRules.getOffset(inst)
    val txt = if (off.getTotalSeconds == 0) "Z" else off.getId
    org.apache.spark.unsafe.types.UTF8String.fromString(
      ztzIsoFmt.format(java.time.LocalDateTime.ofInstant(inst, zid)) + txt)
  }

  private val ztzIsoOffset = raw"(Z|[+-]\d{2}:\d{2})\s*$$".r
  private val ztzTrailingZone =
    raw"(?:\s([A-Za-z][A-Za-z0-9_\-]*/[A-Za-z][A-Za-z0-9_\-+/]*|UTC|GMT|UT)|\s?(Z|[+-]\d{1,2}:\d{2}))\s*$$".r

  /** The zone from_iso8601_timestamp carries: the string's explicit
    * offset ('Z' normalizes to UTC), or the pinned session zone (UTC)
    * when absent (reference DateTimeFunctions.fromISO8601Timestamp packs
    * the parsed chronology's zone, session zone as the default).
    */
  def isoZoneOf(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // require a time part so a date's "-01" tail never reads as an offset
    val m = if (str.contains("T") || str.contains(":")) ztzIsoOffset.findFirstMatchIn(str) else None
    org.apache.spark.unsafe.types.UTF8String.fromString(m match {
      case Some(g) if g.group(1) != "Z" => g.group(1)
      case _ => "UTC"
    })
  }

  /** The zone token a CAST(varchar AS TIMESTAMP WITH TIME ZONE) carries:
    * a trailing region id / fixed offset / UTC spelling, else the pinned
    * session zone (the reference parses the zone out of the literal text,
    * DateTimeUtils.parseTimestampWithTimeZone).
    */
  def zoneTokenOf(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    val m = if (str.contains(":") || str.contains("T") || str.contains(" "))
      ztzTrailingZone.findFirstMatchIn(str) else None
    org.apache.spark.unsafe.types.UTF8String.fromString(m match {
      case Some(g) if g.group(1) != null => g.group(1)
      case Some(g) if g.group(2) != null && g.group(2) != "Z" => g.group(2)
      case Some(_) => "UTC"
      case None => "UTC"
    })
  }

  /** Lenient zoned-text normalizer for CAST(varchar AS TIMESTAMP WITH
    * TIME ZONE): the reference's Joda parser accepts date-only or
    * seconds-less wall text before the zone token ('2001-1-22 03:04
    * +07:09', '2001-1-22 Europe/Berlin' — KAT wave 9), where Spark's
    * string→timestamp cast requires seconds once a zone is attached.
    * Pads the wall part to a shape Spark accepts; zone-less text passes
    * through untouched (Spark is already lenient there).
    */
  def normalizeZonedTextU(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    ztzTrailingZone.findFirstMatchIn(str) match {
      case None => s
      case Some(m) =>
        val wall = str.substring(0, m.start).trim
        val zone = str.substring(m.start).trim
        val padded =
          if (raw"^\d{1,4}-\d{1,2}-\d{1,2}$$".r.findFirstIn(wall).isDefined)
            wall + " 00:00:00"
          else if (raw"[ T]\d{1,2}:\d{1,2}$$".r.findFirstIn(wall).isDefined)
            wall + ":00"
          else wall
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$padded $zone")
    }
  }

  /** The text with a trailing zone token removed — the time-of-day part
    * of a zone-suffixed TIME string (reference parseTimeWithTimeZone).
    */
  def stripZoneToken(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    org.apache.spark.unsafe.types.UTF8String.fromString(
      ztzTrailingZone.findFirstMatchIn(str) match {
        case Some(m) => str.substring(0, m.start).trim
        case None => str
      })
  }

  // ── TIME WITH TIME ZONE helpers (reference presto-spi
  // TimeWithTimeZoneType.java / SqlTimeWithTimeZone: wall millis-of-day
  // + packed zone, normalized and compared at the EPOCH date — the
  // type's documented 1970-01-01 offset-evaluation quirk) ──
  private val ttzRenderFmt =
    java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss.SSS")

  def renderZonedTime(nanos: Long, zone: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      ttzRenderFmt.format(java.time.LocalTime.ofNanoOfDay(nanos)) + " " + zone.toString)

  private def ttzEpochOffsetSeconds(zone: org.apache.spark.unsafe.types.UTF8String): Int =
    ztzZone(zone).getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds

  /** CAST(TIME AS VARCHAR) / CAST(TIMESTAMP AS VARCHAR): the reference
    * renders with MILLISECONDS always (SqlTime/SqlTimestamp.toString —
    * '03:04:05.000'; KAT value gate r15), Spark's cast drops the
    * fraction when zero.
    */
  def renderTimeVarchar(nanos: Long): org.apache.spark.unsafe.types.UTF8String = {
    val t = java.time.LocalTime.ofNanoOfDay(nanos)
    // sub-millisecond digits survive when nonzero — the engine's TIME is
    // micros-capable (§1.2 documented widening over the reference's
    // millis SqlTime)
    val s =
      if (nanos % 1000000L != 0) t.format(
        java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss.SSSSSS"))
      else ttzRenderFmt.format(t)
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
  }

  private val tsMicroFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def renderTimestampVarchar(micros: Long): org.apache.spark.unsafe.types.UTF8String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val s =
      if (micros % 1000L != 0) tsMicroFmt.format(ldt)
      else ztzRenderFmt.format(ldt)
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
  }

  def tzTimeOffsetHour(nanos: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    (ttzEpochOffsetSeconds(zone) / 3600).toLong

  def tzTimeOffsetMinute(nanos: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    ((ttzEpochOffsetSeconds(zone) % 3600) / 60).toLong

  /** at_timezone over TIME WITH TIME ZONE: keep the instant (epoch-date
    * offsets, the engine's documented model for the deprecated type),
    * re-render the time-of-day in the target zone, normalized into
    * [0, 24h) (DateTimeFunctions.java:1351 timeAtTimeZone — the
    * reference evaluates offsets at session start; divergence only for
    * zones whose offset changed between 1970 and the session date,
    * consistent with every other TTZ surface here).
    */
  def zonedTimeShift(nanos: Long, from: org.apache.spark.unsafe.types.UTF8String,
      to: org.apache.spark.unsafe.types.UTF8String): Long =
    Math.floorMod(
      nanos + (ttzEpochOffsetSeconds(to).toLong - ttzEpochOffsetSeconds(from).toLong)
        * 1000000000L,
      86400000000000L)

  /** `at_timezone(x, INTERVAL '2' HOUR)` — the offset-interval zone form
    * (DateTimeFunctions.java:319: whole minutes only, errors on a
    * seconds component).
    */
  def intervalOffsetZone(micros: Long): org.apache.spark.unsafe.types.UTF8String = {
    require(micros % 60000000L == 0L,
      "Invalid time zone offset interval: interval contains seconds")
    val m = micros / 60000000L
    val sign = if (m < 0) "-" else "+"
    org.apache.spark.unsafe.types.UTF8String.fromString(
      f"$sign${math.abs(m) / 60}%02d:${math.abs(m) % 60}%02d")
  }

  /** UTC-normalized nanos (wall − offset) — the reference's packed
    * millisUtc that TIME WITH TIME ZONE comparisons order by.
    */
  def zonedTimeUtcNanos(nanos: Long, zone: org.apache.spark.unsafe.types.UTF8String): Long =
    nanos - ttzEpochOffsetSeconds(zone) * 1000000000L

  /** Time-of-day (TIME nanos) of a timestamp's micros — Spark has no
    * TIMESTAMP→TIME cast, so CAST(tstz AS TIME WITH TIME ZONE) extracts
    * the wall clock's nanos directly.
    */
  def microsToNanosOfDay(micros: Long): Long =
    Math.floorMod(micros, 86400000000L) * 1000L

  /** reference operator/scalar/StringFunctions.java (hamming_distance). */
  def hammingDistance(a: String, b: String): Long = {
    require(a.codePointCount(0, a.length) == b.codePointCount(0, b.length),
      "The input strings to hamming_distance function must have the same length")
    var i = 0
    var j = 0
    var d = 0L
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) d += 1
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    d
  }

  /** bit_count(num, bits) (BitwiseFunctions.java:33) — reference-exact
    * range + representability errors; bits=64 is plain popcount.
    */
  def bitCount2(num: Long, bits: Long): Long =
    if (bits == 64) java.lang.Long.bitCount(num).toLong
    else {
      if (bits <= 1 || bits > 64) throw new IllegalArgumentException(
        s"Bits specified in bit_count must be between 2 and 64, got $bits")
      val lowBitsMask = (1L << (bits - 1)) - 1
      if (num > lowBitsMask || num < ~lowBitsMask) throw new IllegalArgumentException(
        s"Number must be representable with the bits specified. " +
          s"$num can not be represented with $bits bits")
      java.lang.Long.bitCount(num & ((1L << bits) - 1)).toLong
    }

  /** 3-arg bitwise_shift_left (BitwiseFunctions.java:84). The sub-64
    * mask is computed through double pow exactly as the reference's
    * `(long) (Math.pow(2, bits) - 1)` — at bits=63 that saturates to
    * Long.MaxValue, which happens to equal the exact mask.
    */
  def shiftLeft3(num: Long, shift: Long, bits: Long): Long =
    if (bits == 64) num << shift // Long << masks shift&63, as in Java
    else {
      if (bits <= 1 || bits > 64) throw new IllegalArgumentException(
        s"Bits specified must be between 2 and 64, got $bits")
      if (shift < 0) throw new IllegalArgumentException("Specified shift must be positive")
      num << shift & (math.pow(2, bits) - 1).toLong
    }

  /** 3-arg bitwise_logical_shift_right (BitwiseFunctions.java:106). */
  def logicalShiftRight3(num: Long, shift: Long, bits: Long): Long =
    if (bits == 64) num >>> shift
    else {
      if (bits <= 1 || bits > 64) throw new IllegalArgumentException(
        s"Bits specified in must be between 2 and 64, got $bits")
      if (shift < 0) throw new IllegalArgumentException("Specified shift must be positive")
      (num & (math.pow(2, bits) - 1).toLong) >>> shift
    }

  /** bitwise_arithmetic_shift_right (BitwiseFunctions.java:128) — the
    * reference rejects negative shifts where plain `>>` would mask.
    */
  def arithShiftRight(num: Long, shift: Long): Long = {
    if (shift < 0) throw new IllegalArgumentException("Specified shift must be positive")
    num >> shift
  }

  /** reference operator/scalar/StringFunctions.java `normalize` (NFC etc.). */
  def normalizeStr(s: String, form: String): String =
    Normalizer.normalize(s, Normalizer.Form.valueOf(form.toUpperCase))

  /** word_stem (reference WordStemFunction.java): the reference wraps
    * Snowball's EnglishStemmer — i.e. Porter2 — so this dispatches to
    * the published Porter2 algorithm (Porter2Stemmer.scala). Rounds 4–7
    * shipped 1980 Porter as a documented approximation; round 8 closes
    * the divergence ('ties' → 'tie', 'dying' → 'die', …). UTF8String
    * signatures so the StaticInvoke builder stays converter-free inside
    * codegen.
    */
  def wordStem(w: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      Porter2Stemmer.stem(w.toString.toLowerCase))

  /** word_stem(word, lang) — the reference dispatches to per-language
    * Snowball stemmers (WordStemFunction.java STEMMERS map); the engine
    * carries from-spec transcriptions for en/fr/es/pt/it/de
    * (SnowballStemmers.scala) and errors on other codes the way the
    * reference errors on unknown ones.
    */
  def wordStemLang(w: org.apache.spark.unsafe.types.UTF8String,
      lang: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      SnowballStemmers.stem(w.toString, lang.toString))

  /** reference JsonFunctions.java:92 is_json_scalar: parses the input —
    * true for a single scalar token (number/string/true/false/null),
    * false for objects/arrays, error for invalid JSON.
    */
  def isJsonScalar(s: String): Boolean = {
    val node =
      try jsonMapper.readTree(s)
      catch {
        case _: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalArgumentException(s"Invalid JSON value: $s")
      }
    if (node == null) throw new IllegalArgumentException(s"Invalid JSON value: $s")
    !node.isContainerNode
  }

  /** json_parse (JsonFunctions.java:64): validate and canonicalize a
    * varchar into the engine's JSON representation (canonical compact
    * text); invalid input errors like the reference.
    */
  def jsonParse(s: String): String = {
    try {
      val node = jsonMapper.readTree(s)
      if (node == null) throw new IllegalArgumentException(s"Cannot convert value to JSON: '$s'")
      jsonMapper.writeValueAsString(sortJsonKeys(node))
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(s"Cannot convert value to JSON: '$s'")
    }
  }

  /** The reference's json_parse canonicalizes with SORTED object keys
    * (JsonFunctions.java:72/147 — SORTED_MAPPER with
    * ORDER_MAP_ENTRIES_BY_KEYS), which is what makes JSON '=' a plain
    * byte comparison there ({"a":1,"b":2} = {"b":2,"a":1} — KAT value
    * gate). Recursive: nested objects sort too; array order is data.
    */
  private def sortJsonKeys(n: com.fasterxml.jackson.databind.JsonNode)
      : com.fasterxml.jackson.databind.JsonNode = n match {
    case o: com.fasterxml.jackson.databind.node.ObjectNode =>
      val sorted = jsonMapper.createObjectNode()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = o.fieldNames(); while (it.hasNext) names += it.next()
      names.sorted.foreach(k =>
        sorted.set[com.fasterxml.jackson.databind.JsonNode](k, sortJsonKeys(o.get(k))))
      sorted
    case a: com.fasterxml.jackson.databind.node.ArrayNode =>
      val out = jsonMapper.createArrayNode()
      (0 until a.size()).foreach(i => out.add(sortJsonKeys(a.get(i))))
      out
    case other => other
  }

  /** json_format (JsonFunctions.java): the JSON text of a JSON value —
    * with JSON-as-canonical-varchar this re-serializes (validating).
    */
  def jsonFormat(j: String): String = jsonParse(j)

  /** JSON string literal of a varchar (CAST(varchar AS JSON) — Presto
    * JsonOperators): quotes + escapes via Jackson. UTF8String signature
    * so StaticInvoke stays converter-free inside codegen.
    */
  def jsonQuote(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (s == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      jsonMapper.writeValueAsString(s.toString))

  /** url_encode / url_decode (UrlFunctions.java:155): form-parameter
    * escaping (space→'+', unreserved -_.* kept) — what Guava's
    * urlFormParameterEscaper and java.net.URLEncoder both implement.
    */
  def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** HmacFunctions.java: HMAC digests over varbinary with a varbinary key. */
  /** Reference from_utf8 (StringFunctions.java:854-894, SliceUtf8
    * .fixInvalidUtf8): decode UTF-8 REPLACING invalid sequences instead
    * of erroring — default replacement U+FFFD, a custom replacement of
    * at most one codepoint (empty strips). Each invalid lead byte,
    * overlong form, surrogate encoding, or out-of-range/truncated
    * sequence emits ONE replacement and decoding resumes at the next
    * byte (W3C-style advance; the reference's published vectors —
    * lone continuation, lone DF/F7 leads — are pinned in FnSpec).
    */
  def fromUtf8Fix(b: Array[Byte], replU: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val repl = replU.toString
    if (repl.codePointCount(0, repl.length) > 1)
      throw new IllegalArgumentException(
        "Replacement character string must empty or a single character")
    val sb = new java.lang.StringBuilder(b.length)
    var i = 0
    def cont(k: Int): Boolean =
      i + k < b.length && (b(i + k) & 0xC0) == 0x80
    while (i < b.length) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) { sb.append(b0.toChar); i += 1 }
      else if (b0 >= 0xC2 && b0 <= 0xDF && cont(1)) {
        sb.appendCodePoint(((b0 & 0x1F) << 6) | (b(i + 1) & 0x3F)); i += 2
      } else if (b0 >= 0xE0 && b0 <= 0xEF && cont(1) && cont(2)) {
        val cp = ((b0 & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
        if (cp >= 0x800 && !(cp >= 0xD800 && cp <= 0xDFFF)) { sb.appendCodePoint(cp); i += 3 }
        else { sb.append(repl); i += 1 }
      } else if (b0 >= 0xF0 && b0 <= 0xF4 && cont(1) && cont(2) && cont(3)) {
        val cp = ((b0 & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
          ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F)
        if (cp >= 0x10000 && cp <= 0x10FFFF) { sb.appendCodePoint(cp); i += 4 }
        else { sb.append(repl); i += 1 }
      } else { sb.append(repl); i += 1 }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  def fromUtf8FixCp(b: Array[Byte], cp: Long): org.apache.spark.unsafe.types.UTF8String = {
    if (cp > Character.MAX_CODE_POINT ||
        Character.getType(cp.toInt) == Character.SURROGATE)
      throw new IllegalArgumentException("Invalid replacement character")
    fromUtf8Fix(b, org.apache.spark.unsafe.types.UTF8String.fromString(
      new String(Character.toChars(cp.toInt))))
  }

  /** StaticInvoke-compatible normalize (the UDF twin takes String). */
  def normalizeStrU(s: org.apache.spark.unsafe.types.UTF8String,
      form: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      normalizeStr(s.toString, form.toString))

  /** Reference from_hex (VarbinaryFunctions.java:150-165 fromHexVarchar):
    * odd input length ERRORS and any non-hex character ERRORS, where
    * Spark's unhex silently zero-pads odd input and NULLs invalid chars
    * (round 12; TRY(from_hex(..)) relies on the error).
    */
  def fromHexStrict(s: org.apache.spark.unsafe.types.UTF8String): Array[Byte] = {
    val str = s.toString
    require(str.length % 2 == 0, s"invalid input length ${str.length}")
    // ASCII-only digits like the reference's hexDigitCharToInt char-range
    // checks — Character.digit also accepts non-ASCII Unicode digits
    // (Arabic-Indic, fullwidth), which must ERROR here (round-13 ADVICE
    // fix; TRY(from_hex(..)) parity depends on the rejection)
    def hexDigit(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val out = new Array[Byte](str.length / 2)
    var i = 0
    while (i < str.length) {
      val hi = hexDigit(str.charAt(i))
      val lo = hexDigit(str.charAt(i + 1))
      if (hi < 0 || lo < 0)
        throw new IllegalArgumentException(
          s"invalid hex character: ${str.charAt(if (hi < 0) i else i + 1)}")
      out(i / 2) = ((hi << 4) | lo).toByte
      i += 2
    }
    out
  }

  // Reference log family (MathFunctions.java): raw Java Math — negative
  // input gives NaN, zero gives -Infinity, where Spark's Log expressions
  // return NULL out of domain (round 12; wired in PrestoCallConventions)
  def prestoLn(x: Double): Double = Math.log(x)
  def prestoLog10(x: Double): Double = Math.log10(x)
  def prestoLog2(x: Double): Double = Math.log(x) / Math.log(2)
  def prestoLogB(x: Double, b: Double): Double = Math.log(x) / Math.log(b)

  /** MathFunctions.java:750-762 round(double, s) — NaN/Infinity pass
    * through, half-away-from-zero at pow(10, s) (negatives mirrored so
    * Math.round's half-UP becomes half-away).
    */
  /** truncate(double) — signum*floor(abs) in DOUBLE space
    * (MathFunctions.java:316-319); the 2-arg form at pow(10, n). */
  def truncDouble(num: Double): Double =
    Math.signum(num) * Math.floor(Math.abs(num))

  def truncDoubleN(num: Double, n: Int): Double = {
    val factor = Math.pow(10.0, n)
    Math.signum(num) * Math.floor(Math.abs(num) * factor) / factor
  }

  /** regexp_split with the reference's Joni split loop
    * (JoniRegexpFunctions.regexpSplit): a piece per match INCLUDING
    * leading/trailing empties; a zero-width match advances one position,
    * so `regexp_split('abcd','')` is ["","a","b","c","d",""] where
    * java.util.Pattern.split drops the boundary empties (KAT r15).
    */
  def prestoRegexpSplit(s: org.apache.spark.unsafe.types.UTF8String,
      p: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val m = boundedGet(regexReplCache, p.toString,
      (x: String) => java.util.regex.Pattern.compile(x)).matcher(str)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lastEnd = 0
    var next = 0
    var go = next <= str.length
    while (go && m.find(next)) {
      out += org.apache.spark.unsafe.types.UTF8String.fromString(
        str.substring(lastEnd, m.start))
      lastEnd = m.end
      next = if (m.end == m.start) m.start + 1 else m.end
      go = next <= str.length
    }
    out += org.apache.spark.unsafe.types.UTF8String.fromString(
      str.substring(lastEnd))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def prestoRoundDouble(num: Double, decimals: Int): Double = {
    if (num.isNaN || num.isInfinite) return num
    val factor = Math.pow(10, decimals)
    if (num < 0) -(Math.round(-num * factor) / factor)
    else Math.round(num * factor) / factor
  }

  /** Decimal division at the reference's exact result type
    * (DecimalOperators.java divideRoundUp: BigDecimal quotient rounded
    * HALF_UP at scale max(s1, s2)); overflow past the result precision
    * errors like NUMERIC_VALUE_OUT_OF_RANGE, division by zero like
    * DIVISION_BY_ZERO.
    */
  def prestoDecimalDivide(a: org.apache.spark.sql.types.Decimal,
      b: org.apache.spark.sql.types.Decimal, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal = {
    val bj = b.toJavaBigDecimal
    if (bj.signum == 0) throw new ArithmeticException("Division by zero")
    val q = a.toJavaBigDecimal.divide(bj, s, java.math.RoundingMode.HALF_UP)
    if (q.precision > p)
      throw new ArithmeticException(
        s"Cannot cast DECIMAL quotient '$q' to DECIMAL($p, $s): value out of range")
    org.apache.spark.sql.types.Decimal(q, p, s)
  }

  /** Raw IEEE-754 division — floating division NEVER errors in the
    * reference (x/0 → ±Infinity, 0/0 → NaN): stock 0.235
    * DoubleOperators.divide is the bare primitive, and the fork's own
    * test corpus asserts exactly that (TestMathFunctions.java:576-612:
    * `0.0E0/0.0E0 → NaN`, `is_infinite(1.0E0/0.0E0) → true`). The
    * fork's production divide was edited to return NULL on a zero
    * divisor (DoubleOperators.java:108) without updating those tests —
    * an internal inconsistency resolved here in favor of the test
    * corpus (= stock behavior), which the KAT replay gate enforces.
    * Spark can express neither: ANSI throws, legacy returns NULL.
    */
  def ieeeDivDouble(l: Double, r: Double): Double = l / r

  /** 1-arg trim/ltrim/rtrim over ALL Unicode whitespace (the reference's
    * StringFunctions trims Character.isWhitespace — its own vectors trim
    * U+2028 — where Spark's builtins strip ASCII space only). mode:
    * 0 = both, 1 = left, 2 = right.
    */
  def unicodeTrim(s: org.apache.spark.unsafe.types.UTF8String,
      mode: Int): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    var a = 0
    var b = str.length
    if (mode != 2) while (a < b && Character.isWhitespace(str.charAt(a))) a += 1
    if (mode != 1) while (b > a && Character.isWhitespace(str.charAt(b - 1))) b -= 1
    org.apache.spark.unsafe.types.UTF8String.fromString(str.substring(a, b))
  }

  /** replace(s, '', r): the reference interleaves the replacement
    * between every CODE POINT (StringFunctions.replace with an empty
    * search — 'abc','xx' → 'xxaxxbxxcxx'); Spark's builtin returns the
    * input unchanged for an empty search.
    */
  def interleaveReplace(s: org.apache.spark.unsafe.types.UTF8String,
      r: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    val rep = r.toString
    val b = new java.lang.StringBuilder(rep)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      b.appendCodePoint(cp).append(rep)
      i += Character.charCount(cp)
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(b.toString)
  }

  /** Bare interval renderings for CAST(interval AS VARCHAR) — the
    * reference prints SqlIntervalDayTime/SqlIntervalYearMonth toString
    * ('12 10:45:32.123' / '126-6'), not a typed INTERVAL literal.
    */
  def renderDayTimeInterval(micros: Long): org.apache.spark.unsafe.types.UTF8String = {
    val sign = if (micros < 0) "-" else ""
    val a = math.abs(micros)
    val ms = a / 1000 % 1000
    val s = a / 1000000 % 60
    val m = a / 60000000L % 60
    val h = a / 3600000000L % 24
    val d = a / 86400000000L
    org.apache.spark.unsafe.types.UTF8String.fromString(
      f"$sign$d $h%02d:$m%02d:$s%02d.$ms%03d")
  }

  def renderYearMonthInterval(months: Int): org.apache.spark.unsafe.types.UTF8String = {
    val sign = if (months < 0) "-" else ""
    val a = math.abs(months)
    org.apache.spark.unsafe.types.UTF8String.fromString(s"$sign${a / 12}-${a % 12}")
  }

  /** Clear-on-overflow bound for the runtime-keyed compile caches: a
    * NON-LITERAL pattern/format column caches one entry per distinct row
    * value — unbounded executor memory on high-cardinality data (ADVICE
    * r14). The literal / low-cardinality case (the hot one) never hits
    * the cap; an overflow costs a re-compile, not memory.
    */
  private val FnCacheMax = 1024
  private def boundedGet[K, V](
      m: java.util.concurrent.ConcurrentHashMap[K, V], k: K, f: K => V): V = {
    if (m.size >= FnCacheMax) m.clear()
    m.computeIfAbsent(k, f(_))
  }

  private val regexReplCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  /** regexp_replace with full Java replacement-reference syntax — the
    * reference supports named-group references (`${name}`), which
    * Spark's RegExpReplace drops (KAT value gate). An unmatched group
    * reference substitutes the empty string, like the reference.
    */
  def prestoRegexpReplace(s: org.apache.spark.unsafe.types.UTF8String,
      p: org.apache.spark.unsafe.types.UTF8String,
      r: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val pat = boundedGet(regexReplCache, p.toString, (x: String) => java.util.regex.Pattern.compile(x))
    val m = pat.matcher(s.toString)
    val out = new java.lang.StringBuilder
    val repl = r.toString
    while (m.find()) {
      try m.appendReplacement(out, repl)
      catch {
        // Java throws on a reference to a NON-PARTICIPATING group in
        // alternations; the reference substitutes '' — expand manually
        case _: Exception =>
          m.appendReplacement(out, "")
          out.append(expandRefs(m, repl))
      }
    }
    m.appendTail(out)
    org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
  }

  private def expandRefs(m: java.util.regex.Matcher, repl: String): String = {
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < repl.length) {
      val c = repl.charAt(i)
      if (c == '\\' && i + 1 < repl.length) { out.append(repl.charAt(i + 1)); i += 2 }
      else if (c == '$' && i + 1 < repl.length) {
        if (repl.charAt(i + 1) == '{') {
          val end = repl.indexOf('}', i + 2)
          val name = repl.substring(i + 2, end)
          val g = try m.group(name) catch { case _: Exception => null }
          out.append(if (g == null) "" else g)
          i = end + 1
        } else {
          var j = i + 1
          while (j < repl.length && repl.charAt(j).isDigit) j += 1
          val g = try m.group(repl.substring(i + 1, j).toInt)
            catch { case _: Exception => null }
          out.append(if (g == null) "" else g)
          i = j
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Raw IEEE-754 remainder — floating `%` never errors in the reference
    * (DoubleOperators.java:122-130 is plain Java `left % right`; `x % 0.0`
    * is NaN), where Spark's ANSI Remainder raises REMAINDER_BY_ZERO.
    */
  def ieeeModDouble(l: Double, r: Double): Double = l % r

  def hmac(algo: String, data: Array[Byte], key: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance(algo)
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algo))
    mac.doFinal(data)
  }

  /** VarbinaryFunctions.java:38 big-endian codecs. */
  def toBigEndian64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()
  def fromBigEndian64(b: Array[Byte]): Long = {
    require(b.length == 8, "expected 8-byte value")
    java.nio.ByteBuffer.wrap(b).getLong
  }
  def toBigEndian32(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()
  def fromBigEndian32(b: Array[Byte]): Int = {
    require(b.length == 4, "expected 4-byte value")
    java.nio.ByteBuffer.wrap(b).getInt
  }

  /** great_circle_distance(lat1, lon1, lat2, lon2) → km — the reference's
    * exact Vincenty-on-sphere formula and 6371.01 km radius
    * (presto-geospatial-toolkit SphericalGeographyUtils.java:82).
    */
  def greatCircleDistance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    require(lat1 >= -90 && lat1 <= 90 && lat2 >= -90 && lat2 <= 90, "latitude must be in [-90, 90]")
    require(lon1 >= -180 && lon1 <= 180 && lon2 >= -180 && lon2 <= 180, "longitude must be in [-180, 180]")
    val rLat1 = math.toRadians(lat1)
    val rLat2 = math.toRadians(lat2)
    val sin1 = math.sin(rLat1); val cos1 = math.cos(rLat1)
    val sin2 = math.sin(rLat2); val cos2 = math.cos(rLat2)
    val dLon = math.toRadians(lon1) - math.toRadians(lon2)
    val cosDLon = math.cos(dLon)
    val t1 = cos2 * math.sin(dLon)
    val t2 = cos1 * sin2 - sin1 * cos2 * cosDLon
    val t3 = sin1 * sin2 + cos1 * cos2 * cosDLon
    math.atan2(math.sqrt(t1 * t1 + t2 * t2), t3) * 6371.01
  }

  /** MathFunctions.java cosine_similarity(map<varchar,double>,
    * map<varchar,double>): sparse-vector cosine; NULL when either norm
    * is zero (matches the reference's NaN-avoidance contract).
    */
  def cosineSimilarityMaps(a: Map[String, java.lang.Double],
      b: Map[String, java.lang.Double]): java.lang.Double = {
    if (a == null || b == null) return null
    // a NULL map value nulls the result (RETURN_NULL_ON_NULL over the
    // map's entries — KAT value gate, TestMathFunctions)
    if (a.valuesIterator.exists(_ == null) || b.valuesIterator.exists(_ == null))
      return null
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    var dot = 0.0
    small.foreach { case (k, v) =>
      large.get(k).foreach(w => dot += v.doubleValue * w.doubleValue) }
    val na = math.sqrt(a.valuesIterator.map(x => x.doubleValue * x.doubleValue).sum)
    val nb = math.sqrt(b.valuesIterator.map(x => x.doubleValue * x.doubleValue).sum)
    if (na == 0.0 || nb == 0.0) null else Double.box(dot / (na * nb))
  }

  @transient private lazy val jsonMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Walk a $.a.b[i] JSONPath subset (what the reference's JsonExtract
    * fast path supports, JsonExtract.java:116).
    */
  private def jsonNavigate(json: String,
      path: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    try {
      var node = jsonMapper.readTree(json)
      if (node == null) return None
      val p = path.trim
      require(p.startsWith("$"), s"JSONPath must start with $$: $path")
      val steps = raw"\.([A-Za-z0-9_]+)|\[(\d+)\]".r
      for (m <- steps.findAllMatchIn(p.substring(1))) {
        if (node == null) return None
        node = if (m.group(1) != null) node.get(m.group(1)) else node.get(m.group(2).toInt)
      }
      Option(node)
    } catch { case _: com.fasterxml.jackson.core.JacksonException => None }
  }

  /** json_extract_scalar (JsonExtract.java ScalarValueJsonExtractor):
    * the text of the scalar token at path — unquoted for strings, literal
    * text for numbers/booleans — and NULL for JSON null, containers,
    * missing paths, or malformed JSON. Decided on the PARSED node type,
    * never on the rendered text: a string scalar whose value begins with
    * '[' or '{' (e.g. $.a in {"a":"[tag]"}) is still a scalar.
    */
  def jsonExtractScalar(json: org.apache.spark.unsafe.types.UTF8String,
      path: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    jsonNavigate(json.toString, path.toString) match {
      case Some(n) if !n.isContainerNode && !n.isNull =>
        org.apache.spark.unsafe.types.UTF8String.fromString(n.asText())
      case _ => null
    }

  /** codepoint (StringFunctions.java codepoint): the Unicode code point
    * of the input, which must be exactly ONE code point — errors
    * otherwise (the reference's INVALID_FUNCTION_ARGUMENT), and handles
    * non-BMP input (a surrogate pair is one code point).
    */
  def codepointOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val str = s.toString
    require(str.nonEmpty && str.codePointCount(0, str.length) == 1,
      "Input string must be a single character")
    str.codePointAt(0)
  }

  /** chr (StringFunctions.java:69): the UNICODE code point as a one-
    * code-point string — Spark's builtin chr is ASCII-mod-256
    * (chr(50447) silently yields chr(15)), a divergence caught by
    * PropertyFnSpec's chr/codepoint inverse property. Invalid code
    * points error like the reference's INVALID_FUNCTION_ARGUMENT.
    */
  def chrOf(cp: Long): org.apache.spark.unsafe.types.UTF8String = {
    val surrogate = cp >= Character.MIN_SURROGATE.toLong &&
      cp <= Character.MAX_SURROGATE.toLong
    require(cp >= 0 && cp <= Character.MAX_CODE_POINT && !surrogate,
      s"Not a valid Unicode code point: $cp")
    org.apache.spark.unsafe.types.UTF8String.fromString(
      new String(Character.toChars(cp.toInt)))
  }

  /** json_size: members of an object / elements of an array at path;
    * 0 for scalars; null for missing/bad json (JsonFunctions.java).
    */
  def jsonSize(json: String, path: String): java.lang.Long =
    jsonNavigate(json, path)
      .map(n => if (n.isContainerNode) n.size().toLong else 0L)
      .map(Long.box).orNull

  def jsonArrayContains(json: String, value: String): java.lang.Boolean = {
    try {
      val node = jsonMapper.readTree(json)
      if (node == null || !node.isArray) null
      else {
        val it = node.elements()
        var found = false
        while (!found && it.hasNext) {
          val e = it.next()
          found = (e.isTextual && e.asText() == value) ||
            (!e.isTextual && e.asText() == value)
        }
        Boolean.box(found)
      }
    } catch { case _: com.fasterxml.jackson.core.JacksonException => null }
  }

  /** url_extract_parameter (UrlFunctions.java): FIRST occurrence of the
    * key in the query string; a present key with no '=' yields '';
    * absent key yields NULL. (Spark's ParseUrl needs '=' and returns
    * the LAST match — KAT value gate.)
    */
  def urlExtractParameter(url: org.apache.spark.unsafe.types.UTF8String,
      key: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val u = url.toString
    val k = key.toString
    val qStart = u.indexOf('?')
    if (qStart < 0) return null
    val hash = u.indexOf('#', qStart)
    val query = u.substring(qStart + 1, if (hash < 0) u.length else hash)
    query.split("&").iterator.map { part =>
      val eq = part.indexOf('=')
      if (eq < 0) (part, "") else (part.substring(0, eq), part.substring(eq + 1))
    }.find(_._1 == k) match {
      case Some((_, v)) => org.apache.spark.unsafe.types.UTF8String.fromString(v)
      case None => null
    }
  }

  /** json_array_contains with the probe's SQL TYPE deciding which JSON
    * token class can match (JsonFunctions.java: a BOOLEAN probe matches
    * only true/false tokens, numerics only number tokens, varchar only
    * string tokens — '"8"' never equals 8; KAT value gate). kind:
    * 0 = varchar, 1 = boolean, 2 = bigint, 3 = double.
    */
  def jsonArrayContainsTyped(jsonU: org.apache.spark.unsafe.types.UTF8String,
      valueU: org.apache.spark.unsafe.types.UTF8String, kind: Int): java.lang.Boolean = {
    val json = jsonU.toString
    val value = valueU.toString
    try {
      val node = jsonMapper.readTree(json)
      if (node == null || !node.isArray) return null
      val it = node.elements()
      while (it.hasNext) {
        val e = it.next()
        val hit = kind match {
          case 0 => e.isTextual && e.asText() == value
          case 1 => e.isBoolean && e.asBoolean() == (value == "true")
          // canConvertToLong guards BigInteger tokens (asLong WRAPS:
          // '[92233720368547758071]' must not equal -9 — KAT value gate)
          case 2 => e.isIntegralNumber && e.canConvertToLong &&
            e.asLong() == value.toLong
          // a DOUBLE probe matches FLOAT tokens only (JsonFunctions
          // jsonArrayContains(double): '[1]' does not contain 1.0)
          case 3 => e.isFloatingPointNumber && e.asDouble() == value.toDouble
          case _ => false
        }
        if (hit) return java.lang.Boolean.TRUE
      }
      java.lang.Boolean.FALSE
    } catch { case _: com.fasterxml.jackson.core.JacksonException => null }
  }

  /** json_array_get: element at index (negative = from the end) as its
    * JSON text (JsonFunctions.java json_array_get).
    */
  def jsonArrayGet(json: String, index: Long): String = {
    try {
      val node = jsonMapper.readTree(json)
      if (node == null || !node.isArray) null
      else {
        val i = if (index < 0) node.size() + index else index
        val e = node.get(i.toInt)
        // a JSON null ELEMENT is SQL NULL here (unlike the ARRAY<JSON>
        // cast, which keeps the "null" subtree text — KAT value gate)
        if (e == null || e.isNull) null
        else if (e.isTextual) e.asText()
        else e.toString
      }
    } catch { case _: com.fasterxml.jackson.core.JacksonException => null }
  }

  /** reference ArrayNgramsFunction (ngrams over any array — string
    * specialization here, the text-pipeline case).
    */
  def ngrams(tokens: Seq[String], n: Int): Seq[Seq[String]] = {
    require(n > 0, "ngrams: n must be positive")
    if (tokens == null || tokens.length < n) Seq.empty
    else tokens.sliding(n).toSeq
  }

  /** reference CombinationsFunction — positional n-subsets (duplicate
    * values yield duplicate subsets, unlike Scala's deduplicating
    * .combinations), capped like the reference (n ≤ 5) to bound output.
    */
  def combinations(tokens: Seq[String], n: Int): Seq[Seq[String]] = {
    require(n >= 0 && n <= 5, "combinations: n must be in [0, 5]")
    if (tokens == null) Seq.empty
    else tokens.indices.combinations(n).map(_.map(tokens)).toSeq
  }

  /** reference operator/scalar/WilsonInterval.java. */
  def wilsonLower(successes: Long, trials: Long, z: Double): Double =
    wilson(successes, trials, z, -1.0)
  def wilsonUpper(successes: Long, trials: Long, z: Double): Double =
    wilson(successes, trials, z, 1.0)
  private def wilson(s: Long, n: Long, z: Double, dir: Double): Double = {
    require(n > 0 && s >= 0 && s <= n, "invalid wilson_interval arguments")
    val p = s.toDouble / n
    val z2 = z * z
    (p + z2 / (2 * n) + dir * z * math.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))) / (1 + z2 / n)
  }

  /** MySQL-style datetime pattern (Presto date_format/date_parse,
    * DateTimeFunctions.java:68) → java.time pattern.
    */
  /** Joda-Time pattern (Presto's format_datetime/parse_datetime dialect,
    * DateTimeFunctions.java:68) → Spark datetime pattern. Most letters
    * coincide; the ones that don't would SILENTLY produce wrong output if
    * passed through (java.time 'Y' is week-based-year, Joda 'Y' is year
    * of era; Joda 'ZZ' prints +00:00 where java needs 'ZZZZZ'; Joda
    * 'ZZZ'+ prints the zone id = java 'VV'). Tokens with no Spark
    * equivalent (weekyear 'x', week 'w', day-of-week-number 'e', century
    * 'C') error loudly instead of formatting garbage. Quoted literals
    * pass through untouched (same escape syntax in both dialects).
    */
  def jodaToJavaPattern(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '\'') { // quoted literal: copy verbatim through closing '
        val end = fmt.indexOf('\'', i + 1)
        val stop = if (end < 0) fmt.length - 1 else end
        out.append(fmt.substring(i, stop + 1))
        i = stop + 1
      } else if (c.isLetter) {
        var n = 1
        while (i + n < fmt.length && fmt.charAt(i + n) == c) n += 1
        c match {
          case 'Y' | 'y' => out.append("y" * n) // year of era / year
          case 'Z' => out.append(
            if (n == 1) "Z" // +0000
            // 'xxxxx', not 'ZZZZZ': Joda ZZ prints +00:00 at UTC where
            // java's ZZZZZ (≡ XXXXX) prints the literal 'Z'
            else if (n == 2) "xxxxx" // +00:00
            else "VV") // zone id
          case 'x' | 'w' | 'e' | 'C' =>
            throw new IllegalArgumentException(
              s"format_datetime: Joda token '${c.toString * n}' has no Spark pattern equivalent")
          case 'G' | 'M' | 'd' | 'D' | 'E' | 'a' | 'H' | 'h' | 'K' | 'k' |
               'm' | 's' | 'S' | 'z' => out.append(c.toString * n)
          case other =>
            throw new IllegalArgumentException(
              s"format_datetime: unsupported pattern letter '$other'")
        }
        i += n
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** Row-level jodaToJavaPattern for NON-LITERAL pattern expressions
    * (StaticInvoke path): the translation — and its loud errors for
    * untranslatable tokens — must apply regardless of pattern form, or a
    * column-valued 'YYYY'/'ZZ' would silently format with java semantics.
    * UTF8String in/out so the invoke binds StringType directly.
    */
  def jodaToJavaPatternU(fmt: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (fmt == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(jodaToJavaPattern(fmt.toString))

  /** Runtime MySQL-pattern parser for `date_parse` (DateTimeFunctions
    * DATE_FORMATTER semantics via Joda in the reference, rebuilt on
    * java.time here — round 14, KAT replay): unlike a translated Spark
    * pattern string, a programmatic DateTimeFormatterBuilder can express
    * the reference's leniencies — 1-2 digit numeric fields, bare
    * time-only text defaulting to 1970-01-01 (`date_parse('1.1',
    * '%s.%f')`), ISO week-based `%x %v` (java.time week-based-year
    * PATTERN letters are banned by Spark but the FIELDS are appendable),
    * fractional seconds of any length, and literal TEXT around the
    * fields without per-letter quote corruption. Formatters cached per
    * pattern. Unsupported specifiers error with the reference's message.
    */
  private val mysqlParserCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.time.format.DateTimeFormatter]()

  /** The session's rendering locale (reference Session.getLocale —
    * `SET SESSION graft.locale = 'ko'` renders date_format's %a/%W/%p/%r
    * day/meridiem names in that language). BCP-47 tag, default 'en'.
    */
  def sessionLocaleTag: String =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.locale", "en")
    catch { case _: Throwable => "en" }

  private val localeFmtCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.time.format.DateTimeFormatter]()

  /** Locale-carrying date_format (MySQL pattern → java.time with the
    * given locale's text forms). Session zone is pinned UTC here like
    * the rest of the temporal layer.
    */
  def prestoDateFormatLocale(micros: Long,
      fmt: org.apache.spark.unsafe.types.UTF8String,
      tag: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val f = boundedGet[(String, String), java.time.format.DateTimeFormatter](
      localeFmtCache, (fmt.toString, tag.toString), { case (p, t) =>
        java.time.format.DateTimeFormatter.ofPattern(
          mysqlToJavaPattern(p), java.util.Locale.forLanguageTag(t))
      })
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    org.apache.spark.unsafe.types.UTF8String.fromString(f.format(ldt))
  }

  def prestoDateParse(text: org.apache.spark.unsafe.types.UTF8String,
      fmt: org.apache.spark.unsafe.types.UTF8String): Long = {
    val f = boundedGet(mysqlParserCache, fmt.toString, (x: String) => buildMysqlParser(x))
    val ta = f.parse(text.toString)
    val ldt = java.time.LocalDateTime.from(ta)
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  /** Parse-and-ignore fields for Joda's last-field-wins duplicate
    * handling (`date_parse('2013 14', '%Y %y')` → 2014: the earlier
    * `%Y` consumes its digits but binds nothing). A custom field stays
    * unresolved in the parsed TemporalAccessor — LocalDateTime.from
    * never queries it; a pool of them keeps two discarded occurrences
    * from colliding in the parse map.
    */
  private final class DiscardField(id: Int) extends java.time.temporal.TemporalField {
    import java.time.temporal._
    override def getBaseUnit: TemporalUnit = ChronoUnit.FOREVER
    override def getRangeUnit: TemporalUnit = ChronoUnit.FOREVER
    override def range(): ValueRange = ValueRange.of(0, 999999999L)
    override def isDateBased: Boolean = false
    override def isTimeBased: Boolean = false
    override def isSupportedBy(t: TemporalAccessor): Boolean = false
    override def rangeRefinedBy(t: TemporalAccessor): ValueRange = range()
    override def getFrom(t: TemporalAccessor): Long = 0L
    override def adjustInto[R <: Temporal](t: R, v: Long): R = t
    override def toString: String = s"GraftDiscard$id"
  }
  private val discardFields = IndexedSeq.tabulate(16)(new DiscardField(_))

  /** The pattern-group a numeric specifier binds (for last-wins dedupe). */
  private def mysqlFieldGroup(c: Char): Int = c match {
    case 'Y' | 'y' => 1
    case 'm' | 'c' => 2
    case 'd' | 'e' => 3
    case 'j' => 4
    case 'H' | 'k' => 5
    case 'h' | 'I' | 'l' => 6
    case 'i' => 7
    case 's' | 'S' => 8
    case _ => 0 // not deduped
  }

  private def buildMysqlParser(fmt: String): java.time.format.DateTimeFormatter = {
    import java.time.format.{DateTimeFormatterBuilder, ResolverStyle, SignStyle, TextStyle}
    import java.time.temporal.{ChronoField => CF, IsoFields}
    // Joda (the reference's engine) parses text fields case-insensitively
    // ('28-JAN-16' for %b)
    val b = new DateTimeFormatterBuilder().parseCaseInsensitive()
    // Joda's LAST-field-wins for duplicate specifiers of one group: all
    // but the last occurrence parse into a discard field
    val lastOfGroup: Map[Int, Int] = {
      var m = Map.empty[Int, Int]
      var k = 0
      while (k < fmt.length - 1) {
        if (fmt.charAt(k) == '%') {
          val g = mysqlFieldGroup(fmt.charAt(k + 1))
          if (g != 0) m += (g -> k)
          k += 2
        } else k += 1
      }
      m
    }
    var discardIdx = 0
    def discarded(minW: Int, maxW: Int): Unit = {
      b.appendValue(discardFields(discardIdx % discardFields.length),
        minW, maxW, SignStyle.NOT_NEGATIVE)
      discardIdx += 1
    }
    var sawYear, sawMonth, sawDay, sawDoy, sawWeek = false
    var sawHod, sawAmpmHour, sawAmpm = false
    var sawMin, sawSec = false
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val spec = fmt.charAt(i + 1)
        val dup = {
          val g = mysqlFieldGroup(spec)
          g != 0 && lastOfGroup.get(g).exists(_ != i)
        }
        if (dup) spec match {
          // earlier duplicate of a later-winning group: consume, bind
          // nothing (Joda last-field-wins)
          case 'Y' => discarded(4, 4)
          case 'y' => discarded(2, 2)
          case 'j' => discarded(1, 3)
          case _ => discarded(1, 2)
        }
        else spec match {
          case 'Y' => b.appendValue(CF.YEAR, 4); sawYear = true
          // MySQL 2-digit year: 70-99 → 19xx, 00-69 → 20xx
          case 'y' => b.appendValueReduced(CF.YEAR, 2, 2, 1970); sawYear = true
          case 'm' | 'c' =>
            b.appendValue(CF.MONTH_OF_YEAR, 1, 2, SignStyle.NOT_NEGATIVE); sawMonth = true
          case 'M' => b.appendText(CF.MONTH_OF_YEAR, TextStyle.FULL); sawMonth = true
          case 'b' => b.appendText(CF.MONTH_OF_YEAR, TextStyle.SHORT); sawMonth = true
          case 'd' | 'e' =>
            b.appendValue(CF.DAY_OF_MONTH, 1, 2, SignStyle.NOT_NEGATIVE); sawDay = true
          case 'j' =>
            b.appendValue(CF.DAY_OF_YEAR, 1, 3, SignStyle.NOT_NEGATIVE); sawDoy = true
          case 'H' | 'k' =>
            b.appendValue(CF.HOUR_OF_DAY, 1, 2, SignStyle.NOT_NEGATIVE); sawHod = true
          case 'h' | 'I' | 'l' =>
            b.appendValue(CF.CLOCK_HOUR_OF_AMPM, 1, 2, SignStyle.NOT_NEGATIVE)
            sawAmpmHour = true
          case 'i' =>
            b.appendValue(CF.MINUTE_OF_HOUR, 1, 2, SignStyle.NOT_NEGATIVE); sawMin = true
          case 's' | 'S' =>
            b.appendValue(CF.SECOND_OF_MINUTE, 1, 2, SignStyle.NOT_NEGATIVE); sawSec = true
          case 'f' => b.appendFraction(CF.NANO_OF_SECOND, 1, 9, false)
          case 'p' => b.appendText(CF.AMPM_OF_DAY); sawAmpm = true
          case 'r' =>
            b.appendValue(CF.CLOCK_HOUR_OF_AMPM, 2)
              .appendLiteral(':').appendValue(CF.MINUTE_OF_HOUR, 2)
              .appendLiteral(':').appendValue(CF.SECOND_OF_MINUTE, 2)
              .appendLiteral(' ').appendText(CF.AMPM_OF_DAY)
            sawAmpmHour = true; sawAmpm = true; sawMin = true; sawSec = true
          case 'T' =>
            b.appendValue(CF.HOUR_OF_DAY, 2)
              .appendLiteral(':').appendValue(CF.MINUTE_OF_HOUR, 2)
              .appendLiteral(':').appendValue(CF.SECOND_OF_MINUTE, 2)
            sawHod = true; sawMin = true; sawSec = true
          case 'W' => b.appendText(CF.DAY_OF_WEEK, TextStyle.FULL)
          case 'a' => b.appendText(CF.DAY_OF_WEEK, TextStyle.SHORT)
          case 'x' => b.appendValue(IsoFields.WEEK_BASED_YEAR, 4); sawWeek = true
          case 'v' =>
            b.appendValue(IsoFields.WEEK_OF_WEEK_BASED_YEAR, 1, 2, SignStyle.NOT_NEGATIVE)
            sawWeek = true
          case '%' => b.appendLiteral('%')
          case bad @ ('D' | 'U' | 'u' | 'V' | 'X' | 'w') =>
            // DateTimeFunctions.java:1203-1219: these error in the
            // reference's parser too
            throw new IllegalArgumentException(
              s"%$bad not supported in date format string")
          case other => b.appendLiteral(other)
        }
        i += 2
      } else {
        b.appendLiteral(c)
        i += 1
      }
    }
    // Joda's epoch defaults (the reference parses bare fields against
    // 1970-01-01T00:00:00)
    if (sawWeek) {
      b.parseDefaulting(CF.DAY_OF_WEEK, 1)
    } else {
      if (!sawYear) b.parseDefaulting(CF.YEAR, 1970)
      if (!sawMonth && !sawDoy) b.parseDefaulting(CF.MONTH_OF_YEAR, 1)
      if (!sawDay && !sawDoy) b.parseDefaulting(CF.DAY_OF_MONTH, 1)
    }
    if (sawAmpmHour) {
      if (!sawAmpm) b.parseDefaulting(CF.AMPM_OF_DAY, 0)
    } else if (!sawHod) b.parseDefaulting(CF.HOUR_OF_DAY, 0)
    if (!sawMin) b.parseDefaulting(CF.MINUTE_OF_HOUR, 0)
    if (!sawSec) b.parseDefaulting(CF.SECOND_OF_MINUTE, 0)
    b.toFormatter(java.util.Locale.ENGLISH)
      .withResolverStyle(ResolverStyle.STRICT)
  }

  def mysqlToJavaPattern(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        out.append(fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'y' => "yy"
          case 'm' => "MM"; case 'c' => "M"
          case 'd' => "dd"; case 'e' => "d"
          case 'H' => "HH"; case 'k' => "H"
          case 'h' | 'I' => "hh"; case 'l' => "h"
          case 'i' => "mm"; case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'M' => "MMMM"; case 'b' => "MMM"
          case 'W' => "EEEE"; case 'a' => "EEE"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case 'r' => "hh:mm:ss a" // 12-hour clock with meridiem
          case 'v' => "ww"
          case '%' => "%"
          case other => other.toString
        })
        i += 2
      } else if (c.isLetter) {
        // quote literal letters as ONE run: per-letter quoting produced
        // 'a''b''c', which java.time reads as the literal a'b'c (''
        // inside a quoted section is an escaped quote) — KAT replay r14
        var j = i
        while (j < fmt.length && fmt.charAt(j).isLetter) j += 1
        out.append('\'').append(fmt.substring(i, j)).append('\'')
        i = j
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }
}

/** The engine's function layer (SURVEY.md §7.0 layer 2): Presto-named
  * functions, as thin Catalyst expression builders (codegen-friendly,
  * hot-path-safe) or — for the long tail — Scala UDFs. Both tables reach
  * Spark's FunctionRegistry one way only: [[GraftExtensions]] injects
  * [[GraftFunctions.registrations]] when a session is built (GraftSession
  * builds with it; on a cluster, `spark.sql.extensions=
  * graft.functions.GraftExtensions` — the SparkSessionExtensions path the
  * reference's plugin SPI maps to, spi/Plugin.java:54). Every session
  * therefore sees the full function surface before its first query.
  *
  * Reference registration list:
  * presto-main/.../metadata/BuiltInFunctionNamespaceManager.java:434-706.
  */
object GraftFunctions {

  private val ln2 = math.log(2.0)

  /** Catalyst-expression builders, keyed by Presto function name. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ── aggregates ──
    // ChecksumAggregationFunction.java:47 — order-independent checksum
    "checksum" -> { args => ChecksumAgg(args.head).toAggregateExpression() },
    // ApproximateSetAggregation.java — HLL sketch partial
    "approx_set" -> { args => ApproxSetAgg(args.head).toAggregateExpression() },
    // MergeHyperLogLogAggregation.java — sketch union
    "merge" -> { args => MergeHllAgg(args.head).toAggregateExpression() },
    // explicit reference spelling for the HLL merge aggregate
    "merge_hll" -> { case Seq(e) => MergeHllScalar(e) },
    // ApproximateCountDistinctAggregation.java:41
    "approx_distinct" -> {
      case Seq(c) => HyperLogLogPlusPlus(c).toAggregateExpression()
      case Seq(c, Literal(rsd: Double, DoubleType)) =>
        HyperLogLogPlusPlus(c, rsd).toAggregateExpression()
      case args => throw new IllegalArgumentException(s"approx_distinct: bad args $args")
    },
    // histogram/Histogram.java:48 — exact value→count map
    "histogram" -> { args => HistogramAgg(args.head).toAggregateExpression() },
    // DoubleHistogramAggregation.java — streaming approximate histogram
    "numeric_histogram" -> { case Seq(b, v) =>
      NumericHistogramAgg(b, v).toAggregateExpression() },
    // MapAggregationFunction.java:48 — map_agg(k, v): null keys skipped,
    // first-arrival value kept per duplicate key (never errors, unlike a
    // MapFromEntries build under mapKeyDedupPolicy=EXCEPTION)
    "map_agg" -> { case Seq(k, v) => MapAggAgg(k, v).toAggregateExpression() },
    // MapUnionAggregation.java — map_union(m): same first-wins contract
    "map_union" -> { case Seq(m) => MapUnionAgg(m).toAggregateExpression() },
    // ArbitraryAggregationFunction.java — any non-null value
    "arbitrary" -> { args => First(args.head, ignoreNulls = true).toAggregateExpression() },
    // ── classification-metric curve family
    // (PrecisionRecallAggregation.java + the five Classification*
    // subclasses): fixed two-histogram state, array-of-metric output at
    // thresholds i/buckets; 0.235's miss_rate/fall_out quirks matched to
    // its own tests — see ClassificationMetricAgg's scaladoc. ──
    // ── COLOR family (ColorFunctions.java): COLOR ≙ BIGINT with the
    // reference's encoding (rgb ≥ 0, system colors −(index+1));
    // render/bar emit the identical ANSI sequences — ColorFns scaladoc ──
    "color" -> {
      case Seq(c) => StaticInvoke(ColorFns.getClass, LongType, "colorFromName",
        Seq(Cast(c, StringType)), inputTypes = Seq(StringType), propagateNull = true)
      case Seq(f, lo, hi) => StaticInvoke(ColorFns.getClass, LongType, "colorInterpolate",
        Seq(Cast(f, DoubleType), Cast(lo, LongType), Cast(hi, LongType)),
        inputTypes = Seq(DoubleType, LongType, LongType), propagateNull = true)
      case Seq(v, l, h, lc, hc) => StaticInvoke(ColorFns.getClass, LongType, "colorInterpolate5",
        Seq(Cast(v, DoubleType), Cast(l, DoubleType), Cast(h, DoubleType),
          Cast(lc, LongType), Cast(hc, LongType)),
        inputTypes = Seq(DoubleType, DoubleType, DoubleType, LongType, LongType),
        propagateNull = true)
    },
    "rgb" -> { case Seq(r, g, b) =>
      StaticInvoke(ColorFns.getClass, LongType, "rgb",
        Seq(Cast(r, LongType), Cast(g, LongType), Cast(b, LongType)),
        inputTypes = Seq(LongType, LongType, LongType), propagateNull = true)
    },
    "render" -> {
      case Seq(v) => StaticInvoke(ColorFns.getClass, StringType, "renderBool",
        Seq(Cast(v, BooleanType)), inputTypes = Seq(BooleanType), propagateNull = true)
      case Seq(v, c) => StaticInvoke(ColorFns.getClass, StringType, "render",
        Seq(Cast(v, StringType), Cast(c, LongType)),
        inputTypes = Seq(StringType, LongType), propagateNull = true)
    },
    "bar" -> {
      case Seq(p, w) => StaticInvoke(ColorFns.getClass, StringType, "bar2",
        Seq(Cast(p, DoubleType), Cast(w, LongType)),
        inputTypes = Seq(DoubleType, LongType), propagateNull = true)
      case Seq(p, w, lc, hc) => StaticInvoke(ColorFns.getClass, StringType, "bar",
        Seq(Cast(p, DoubleType), Cast(w, LongType), Cast(lc, LongType), Cast(hc, LongType)),
        inputTypes = Seq(DoubleType, LongType, LongType, LongType), propagateNull = true)
    },
    // DateTimeFunctions.java "localtime" — time-of-day in the session
    // zone (Spark 4.1 native TIME(6)); Presto spells it niladic, the
    // dialect also accepts the empty-parens call form
    "localtime" -> { case Seq() => CurrentTime() },
    // DifferentialEntropyAggregation.java — reservoir+Vasicek (2/3-arg)
    // or fixed-histogram MLE/jackknife (6-arg); see the agg's scaladoc
    "differential_entropy" -> {
      case Seq(n, x) =>
        DifferentialEntropyAgg(n, Cast(x, DoubleType), Literal(1.0), None,
          Literal(0.0), Literal(1.0), weightedArity = false).toAggregateExpression()
      case Seq(n, x, w) =>
        DifferentialEntropyAgg(n, Cast(x, DoubleType), Cast(w, DoubleType), None,
          Literal(0.0), Literal(1.0), weightedArity = true).toAggregateExpression()
      case Seq(n, x, w, StringLiteral(m), mn, mx) =>
        DifferentialEntropyAgg(n, Cast(x, DoubleType), Cast(w, DoubleType),
          Some(m.toLowerCase(java.util.Locale.ENGLISH)),
          Cast(mn, DoubleType), Cast(mx, DoubleType),
          weightedArity = true).toAggregateExpression()
    },
    "classification_thresholds" -> classificationBuilder("thresholds"),
    "classification_precision" -> classificationBuilder("precision"),
    "classification_recall" -> classificationBuilder("recall"),
    "classification_miss_rate" -> classificationBuilder("miss_rate"),
    "classification_fall_out" -> classificationBuilder("fall_out"),
    // ── bounded top-n family (MaxNAggregationFunction.java,
    // minmaxby/AbstractMinMaxByNAggregationFunction.java). The 1-/2-arg
    // spellings delegate to Spark's native aggregates UNWRAPPED — the
    // analyzer wraps and applies DISTINCT/FILTER exactly as it does for
    // the built-in registrations, so shadowing "max"/"min" is
    // semantics-preserving; the n-arg spellings build the bounded-heap
    // aggregate (buffer can never exceed n entries, any group size). ──
    "max" -> {
      case Seq(c) => Max(c)
      case Seq(c, nLit) => MinMaxByNAgg(c, c, nLit, isMax = true)
    },
    "min" -> {
      case Seq(c) => Min(c)
      case Seq(c, nLit) => MinMaxByNAgg(c, c, nLit, isMax = false)
    },
    "max_by" -> {
      case Seq(v, k) => MaxBy(v, k)
      case Seq(v, k, nLit) => MinMaxByNAgg(v, k, nLit, isMax = true)
    },
    "min_by" -> {
      case Seq(v, k) => MinBy(v, k)
      case Seq(v, k, nLit) => MinMaxByNAgg(v, k, nLit, isMax = false)
    },
    // ── Bloom membership sketch (pipeline extension; the reference has no
    // bloom surface — its closest is SetDigest's exact-short-circuit,
    // presto-main/.../type/setdigest/SetDigest.java). Wraps Spark's own
    // TypedImperativeAggregate (partial blooms built map-side per
    // partition, OR-merged) so the sketch stays codegen-adjacent and
    // spill-safe. The value is hashed with XxHash64 on BOTH the build and
    // probe sides, so any input type works and the two sides always
    // agree. bloom_filter_agg(v[, items[, bits]]) → varbinary;
    // bloom_might_contain(bf, v) → boolean, NO false negatives (what
    // makes a prefilter-then-exact-verify pipeline return exact results).
    "bloom_filter_agg" -> {
      case Seq(v) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new XxHash64(Seq(v))).toAggregateExpression()
      case Seq(v, items) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new XxHash64(Seq(v)), items).toAggregateExpression()
      case Seq(v, items, bits) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new XxHash64(Seq(v)), items, bits).toAggregateExpression()
    },
    "bloom_might_contain" -> { case Seq(bf, v) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        bf, new XxHash64(Seq(v)))
    },
    // arrayagg/ArrayAggregationFunction.java:50 — Presto's array_agg KEEPS
    // nulls; Spark's collect_list drops them. Wrap each value in a struct
    // (struct fields preserve null), collect, then unwrap with an
    // already-bound lambda.
    "array_agg" -> { case Seq(x) =>
      val structType = StructType(Seq(StructField("v", x.dataType, nullable = true)))
      val lv = NamedLambdaVariable("e", structType, nullable = false)
      ArrayTransform(
        CollectList(CreateNamedStruct(Seq(Literal("v"), x))).toAggregateExpression(),
        LambdaFunction(GetStructField(lv, 0, Some("v")), Seq(lv)))
    },
    // geometric_mean = exp(avg(ln(x)))
    "geometric_mean" -> { args =>
      Exp(Average(Log(args.head)).toAggregateExpression())
    },
    // EntropyAggregation.java: Shannon entropy (base 2) of a column of
    // counts: H = log2(S) − Σ c·ln(c) / (S·ln 2)
    "entropy" -> { args =>
      val c = Cast(args.head, DoubleType)
      val s = Sum(c).toAggregateExpression()
      val t = Sum(Multiply(c, Log(c))).toAggregateExpression()
      Divide(Subtract(Log(s), Divide(t, s)), Literal(ln2))
    },
    "bitwise_and_agg" -> { args => BitAndAgg(args.head).toAggregateExpression() },
    "bitwise_or_agg" -> { args => BitOrAgg(args.head).toAggregateExpression() },
    // scalar bitwise family (BitwiseFunctions.java) — all on BIGINT like
    // the reference
    "bitwise_and" -> { case Seq(a, b) => BitwiseAnd(Cast(a, LongType), Cast(b, LongType)) },
    "bitwise_or" -> { case Seq(a, b) => BitwiseOr(Cast(a, LongType), Cast(b, LongType)) },
    "bitwise_xor" -> { case Seq(a, b) => BitwiseXor(Cast(a, LongType), Cast(b, LongType)) },
    "bitwise_not" -> { case Seq(a) => BitwiseNot(Cast(a, LongType)) },
    // reference shifts are 3-arg (value, shift, bits) with range errors
    // (BitwiseFunctions.java:84,106); the 2-arg spellings are kept as the
    // bits=64 case for engine-internal callers
    "bitwise_shift_left" -> {
      case Seq(a, n) => ShiftLeft(Cast(a, LongType), Cast(n, IntegerType))
      case Seq(a, n, b) => StaticInvoke(GraftFnUtils.getClass, LongType,
        "shiftLeft3", Seq(Cast(a, LongType), Cast(n, LongType), Cast(b, LongType)),
        inputTypes = Seq(LongType, LongType, LongType), propagateNull = true)
    },
    "bitwise_logical_shift_right" -> {
      case Seq(a, n) => ShiftRightUnsigned(Cast(a, LongType), Cast(n, IntegerType))
      case Seq(a, n, b) => StaticInvoke(GraftFnUtils.getClass, LongType,
        "logicalShiftRight3", Seq(Cast(a, LongType), Cast(n, LongType), Cast(b, LongType)),
        inputTypes = Seq(LongType, LongType, LongType), propagateNull = true)
    },
    "bitwise_arithmetic_shift_right" -> { case Seq(a, n) =>
      StaticInvoke(GraftFnUtils.getClass, LongType, "arithShiftRight",
        Seq(Cast(a, LongType), Cast(n, LongType)),
        inputTypes = Seq(LongType, LongType), propagateNull = true) },
    // Presto's bit_count is strictly 2-arg (num, bits). The 1-arg form
    // is Spark's own and must keep Spark-native semantics (INT result) —
    // functions.bit_count resolves by NAME through this registry in
    // Spark 4, so widening it here would silently retype every native
    // caller (caught by TextOpsSpec's hamming getInt).
    "bit_count" -> {
      case Seq(a) => BitwiseCount(a)
      case Seq(a, b) => StaticInvoke(GraftFnUtils.getClass, LongType,
        "bitCount2", Seq(Cast(a, LongType), Cast(b, LongType)),
        inputTypes = Seq(LongType, LongType), propagateNull = true)
    },
    // QuantileDigestAggregationFunction.java:32 — re-aggregatable
    // quantile sketch (Presto's merge(qdigest) is merge_qdigest here: the
    // sketch types share BinaryType, so name-level dispatch can't tell
    // them apart at plan time)
    "qdigest_agg" -> {
      case Seq(c) => QDigestAgg(c).toAggregateExpression()
      case Seq(c, Literal(eps: Double, DoubleType)) =>
        QDigestAgg(c, eps).toAggregateExpression()
      case args => throw new IllegalArgumentException(s"qdigest_agg: bad args $args")
    },
    "merge_qdigest" -> { args => MergeQDigestAgg(args.head).toAggregateExpression() },
    // tdigest_agg (TDigestAggregationFunction.java:29): real centroid
    // t-digest (k1 scale function, tail-accurate) with the weighted arity
    "tdigest_agg" -> {
      case Seq(c) => TDigestAgg(c, Literal(1.0)).toAggregateExpression()
      case Seq(c, w) => TDigestAgg(c, w).toAggregateExpression()
    },
    "merge_tdigest" -> { args => MergeTDigestAgg(args.head).toAggregateExpression() },
    // setdigest family (type/setdigest/SetDigestFunctions.java) — HLL +
    // bottom-k minhash; cardinality() dispatches on the sketch magic
    "make_set_digest" -> { case Seq(c) => MakeSetDigestAgg(c).toAggregateExpression() },
    "merge_set_digest" -> { case Seq(c) => MergeSetDigestAgg(c).toAggregateExpression() },
    "intersection_cardinality" -> { case Seq(a, b) => IntersectionCardinality(a, b) },
    "jaccard_index" -> { case Seq(a, b) => JaccardIndex(a, b) },
    "hash_counts" -> { case Seq(c) => HashCounts(c) },
    // khyperloglog family (type/khyperloglog/KHyperLogLogFunctions.java) —
    // per-key value-cardinality sketch (uniqueness / reidentification)
    "khyperloglog_agg" -> { case Seq(x, uii) => KhllAgg(x, uii).toAggregateExpression() },
    "merge_khll" -> { case Seq(c) => MergeKhllAgg(c).toAggregateExpression() },
    "uniqueness_distribution" -> {
      case Seq(k) => UniquenessDistribution(k, Literal(KhllCodec.DefaultHistogramSize))
      case Seq(k, s) => UniquenessDistribution(k, Cast(s, LongType))
    },
    "reidentification_potential" -> { case Seq(k, t) =>
      ReidentificationPotential(k, Cast(t, LongType)) },
    // MultimapAggregationFunction — map<k, array<v>>
    "multimap_agg" -> { case Seq(k, v) => MultimapAgg(k, v).toAggregateExpression() },
    // skew-safety primitive (no reference equivalent): collect_list with a
    // hard per-group cap — the buffer never exceeds `max` elements
    "bounded_collect_list" -> {
      case Seq(c, Literal(m: Int, IntegerType)) =>
        BoundedCollectListAgg(c, m).toAggregateExpression()
      case Seq(c, Literal(m: Long, LongType)) =>
        BoundedCollectListAgg(c, m.toInt).toAggregateExpression()
    },
    // ReduceAggregationFunction — lambda-fold aggregate, via a scalar
    // HigherOrderFunction placeholder + the ResolveReduceAgg analyzer rule
    // (see ReduceAgg.scala for why two steps are needed). Requires the
    // GraftExtensions session (GraftSession builds with them).
    "reduce_agg" -> { case Seq(in, init, f, c) =>
      org.apache.spark.sql.graft.ReduceAggPlaceholder(in, init, f, c) },

    // ── sketch scalars ──
    // HyperLogLogFunctions.java:28 — cardinality() dispatches on type
    // (array/map → size, HLL sketch → estimate)
    "cardinality" -> { args => CardinalityDispatch(args.head) },
    "empty_approx_set" -> { _ => Literal(Hll.emptySketch(), BinaryType) },
    // QuantileDigestFunctions.java — sketch decode scalars
    "value_at_quantile" -> { case Seq(s, q) => ValueAtQuantile(s, Cast(q, DoubleType)) },
    "quantile_at_value" -> { case Seq(s, v) => QuantileAtValue(s, Cast(v, DoubleType)) },
    "quantiles_at_values" -> { case Seq(s, vs) =>
      QuantilesAtValues(s, Cast(vs, ArrayType(DoubleType))) },
    "scale_qdigest" -> { case Seq(s, f) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        SketchDispatch.getClass, BinaryType, "scale",
        Seq(s, Cast(f, DoubleType)), inputTypes = Seq(BinaryType, DoubleType),
        propagateNull = true) },
    "scale_tdigest" -> { case Seq(s, f) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        SketchDispatch.getClass, BinaryType, "scale",
        Seq(s, Cast(f, DoubleType)), inputTypes = Seq(BinaryType, DoubleType),
        propagateNull = true) },
    "multimap_from_entries" -> { case Seq(e) => EntriesCtorDispatch(e, multi = true) },
    // overrides Spark's builtin ONLY for the NullType edge (bare NULL /
    // untyped empty array — reference returns NULL / {}); typed inputs
    // delegate straight back to Spark's MapFromEntries
    "map_from_entries" -> { case Seq(e) => EntriesCtorDispatch(e, multi = false) },
    "values_at_quantiles" -> { case Seq(s, qs) =>
      ValuesAtQuantiles(s, Cast(qs, ArrayType(DoubleType))) },

    // ── error handling ──
    // TryFunction.java (registered BuiltInFunctionNamespaceManager.java:624):
    // TRY(expr) → NULL on runtime error. Spark's TryEval is exactly that
    // wrapper (the machinery under try_add/try_divide); under ANSI mode
    // div-by-zero, bad casts and overflow all throw, so TryEval catches
    // the same class of errors the reference's TRY does.
    "try" -> { case Seq(e) => TryEval(e) },

    // ── string family (StringFunctions.java:62) ──
    "strpos" -> {
      case Seq(str, sub) => Cast(StringLocate(sub, str, Literal(1)), LongType)
      case Seq(str, sub, inst) => StrPosInstance(str, sub, Cast(inst, LongType))
    },
    // from-the-end search is its own reference spelling
    // (StringFunctions.java stringPositionFromEnd), not a negative
    // instance to strpos
    "strrpos" -> {
      case Seq(str, sub) =>
        StrPosInstance(str, sub, Literal(1L), fromEnd = true)
      case Seq(str, sub, inst) =>
        StrPosInstance(str, sub, Cast(inst, LongType), fromEnd = true)
    },
    // Teradata-compat index(str, sub) ≡ strpos (TeradataStringFunctions)
    "index" -> { case Seq(str, sub) => Cast(StringLocate(sub, str, Literal(1)), LongType) },
    "levenshtein_distance" -> { case Seq(a, b) => Cast(Levenshtein(a, b), LongType) },
    // exactly-one-codepoint contract incl. astral plane (StringFunctions
    // .java codepoint) — Ascii would silently take the first UTF-16 unit
    "codepoint" -> { case Seq(s) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, IntegerType, "codepointOf",
        Seq(s), inputTypes = Seq(StringType), propagateNull = true)
    },
    // Presto chr is the UNICODE code point (StringFunctions.java:69);
    // Spark's builtin is ASCII-mod-256 — must shadow it
    "chr" -> { case Seq(n) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, StringType, "chrOf",
        Seq(Cast(n, LongType)), inputTypes = Seq(LongType),
        propagateNull = true)
    },
    // from_utf8 REPLACES invalid sequences (U+FFFD by default; optional
    // one-codepoint or empty replacement, or a codepoint number) —
    // Spark's decode ERRORS under ANSI (StringFunctions.java:854-894;
    // round-12 fix). FromUtf8Repl dispatches the 2-arg form on the
    // resolved replacement type (varchar vs bigint overloads).
    "from_utf8" -> {
      case Seq(b) => FromUtf8Repl(b, Literal("�"))
      case Seq(b, r) => FromUtf8Repl(b, r)
    },
    "to_utf8" -> { case Seq(s) => Encode(s, Literal("UTF-8")) },
    // the reference's split_to_map('') is an EMPTY map
    // (SplitToMapFunction — no entries in empty input; Spark's
    // str_to_map gives {"": null}; KAT value gate r15)
    "split_to_map" -> { case Seq(s, ed, kd) =>
      If(EqualTo(Length(s), Literal(0)),
        org.apache.spark.sql.catalyst.expressions.CreateMap(
          Seq.empty, useStringTypeWhenEmpty = true),
        StringToMap(s, ed, kd)) },
    // full Porter algorithm; 2-arg form dispatches on language like the
    // reference's Snowball map (en only here)
    "word_stem" -> {
      case Seq(w) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GraftFnUtils.getClass, StringType, "wordStem",
          Seq(w), inputTypes = Seq(StringType), propagateNull = true)
      case Seq(w, l) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GraftFnUtils.getClass, StringType, "wordStemLang",
          Seq(w, l), inputTypes = Seq(StringType, StringType),
          propagateNull = true)
    },

    // ── array family (Presto names Spark spells differently) ──
    // ArrayConstructor zip (operator/scalar/ZipFunction.java): positional
    // struct-zip, null-padded
    "zip" -> { args => ArraysZip(args) },
    // RepeatFunction.java: repeat(element, count) → ARRAY[element, …] —
    // Presto's name wins over Spark's string repeat (policy as with
    // from_unixtime); string repetition remains reachable via rpad/concat
    "repeat" -> { case Seq(e, n) => ArrayRepeat(e, n) },
    // ArrayContains.java `contains` — type-dispatched so Spark's string
    // contains keeps working
    "contains" -> { case Seq(a, e) => ContainsDispatch(a, e) },
    // parser-veneer-only spelling for two-arg MAP(a, b) (never reachable
    // from the DataFrame API; Spark's own map() is untouched)
    "graft_map_ctor" -> { case Seq(k, v) => MapCtorDispatch(k, v) },
    "ngrams" -> { case Seq(a, n) => ArrayNgramsExpr(a, n) },
    "combinations" -> { case Seq(a, n) => ArrayCombinationsExpr(a, n) },
    "parse_presto_data_size" -> { case Seq(e) =>
      StaticInvoke(ExtraFns.getClass, DecimalType(38, 0), "parseDataSizeDecimal",
        Seq(Cast(e, StringType)), inputTypes = Seq(StringType),
        propagateNull = true) },

    // ── JSON family (JsonFunctions.java:64, JsonExtract.java:116) ──
    // json_extract returns the subtree AS JSON TEXT — string scalars
    // keep their quotes (JsonFunctions.java:460-467 ObjectExtractor);
    // Spark's GetJsonObject unquotes them (round-12 fix)
    "json_extract" -> { case Seq(j, p) => JsonExtractPresto(j, p) },
    // json_extract_scalar decides scalar-vs-container on the PARSED node
    // (GraftFnUtils.jsonExtractScalar) — a regex on GetJsonObject's
    // rendered output would wrongly null string scalars that merely
    // start with '[' or '{'
    "json_extract_scalar" -> { case Seq(j, p) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, StringType, "jsonExtractScalar",
        Seq(j, p), inputTypes = Seq(StringType, StringType),
        propagateNull = true)
    },
    // lowering target for Presto's `CAST(x AS JSON)` (GraftSqlParser
    // rewrites the cast; JsonOperators.java semantics in CastToJson)
    "cast_to_json" -> { case Seq(e) => CastToJson(e) },
    // the probe's SQL type picks the matching JSON token class
    // (JsonFunctions.java — '"8"' never equals the number 8)
    "json_array_contains" -> { case Seq(j, v) => JsonArrayContainsDispatch(j, v) },
    // CAST(e AS IPADDRESS/IPPREFIX) — source-type dispatch (IpOps.scala)
    "ip_cast" -> { case Seq(e) => IpCastExpr(e, toPrefix = false) },
    "ip_prefix_cast" -> { case Seq(e) => IpCastExpr(e, toPrefix = true) },
    // CAST(x AS ROW/ARRAY/MAP(...)) — source-type dispatch (string ⇒
    // JSON-to-complex, complex ⇒ structural Cast); the parser emits this
    "complex_cast" -> { case Seq(e, Literal(ddl: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
      ComplexCastDispatch(e, ddl.toString) },

    // ── URL family (UrlFunctions.java:43) ──
    "url_extract_protocol" -> { case Seq(u) => parseUrl(u, "PROTOCOL") },
    "url_extract_host" -> { case Seq(u) => parseUrl(u, "HOST") },
    "url_extract_path" -> { case Seq(u) => parseUrl(u, "PATH") },
    "url_extract_query" -> { case Seq(u) => parseUrl(u, "QUERY") },
    "url_extract_fragment" -> { case Seq(u) => parseUrl(u, "REF") },
    // Spark's parse_url has no PORT part — take it off AUTHORITY
    "url_extract_port" -> { case Seq(u) =>
      val port = RegExpExtract(new ParseUrl(Seq(u, Literal("AUTHORITY"))),
        Literal(":([0-9]+)$"), Literal(1))
      Cast(If(EqualTo(port, Literal("")), Literal(null, StringType), port), LongType) },
    // FIRST occurrence wins and a bare key (no '=') returns '' — the
    // reference splits the query itself (UrlFunctions.urlExtractParameter;
    // Spark's ParseUrl regex needs '=' and finds the last match)
    "url_extract_parameter" -> { case Seq(u, k) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, StringType, "urlExtractParameter",
        Seq(u, k), inputTypes = Seq(StringType, StringType),
        propagateNull = true, returnNullable = true) },

    // ── datetime family (DateTimeFunctions.java:68) ──
    // to_unixtime → DOUBLE epoch seconds
    "to_unixtime" -> { case Seq(t) =>
      Divide(Cast(UnixMicros(Cast(t, TimestampType)), DoubleType), Literal(1e6)) },
    // Presto from_unixtime returns TIMESTAMP (Spark's returns a string —
    // the Presto name wins inside this engine)
    "from_unixtime" -> { case Seq(d) => SecondsToTimestamp(d) },
    "day_of_week" -> { case Seq(t) => Cast(Add(WeekDay(t), Literal(1)), LongType) }, // ISO Mon=1
    "dow" -> { case Seq(t) => Cast(Add(WeekDay(t), Literal(1)), LongType) },
    "day_of_year" -> { case Seq(t) => Cast(DayOfYear(t), LongType) },
    "doy" -> { case Seq(t) => Cast(DayOfYear(t), LongType) },
    // day(x) itself is Spark-native; 0.235 aliases it (DateTimeFunctions.java)
    "day_of_month" -> { case Seq(t) => Cast(DayOfMonth(t), LongType) },
    "week" -> { case Seq(t) => Cast(WeekOfYear(t), LongType) },
    "week_of_year" -> { case Seq(t) => Cast(WeekOfYear(t), LongType) },
    "last_day_of_month" -> { case Seq(t) => LastDay(t) },
    // NOTE: Presto's date_diff('unit', a, b) / date_add('unit', n, ts) are
    // handled in GraftSqlParser (Spark's grammar intercepts those names
    // before function resolution), rewritten to timestampdiff/timestampadd.
    // MySQL-style %-patterns (Presto dialect); non-% patterns pass through
    "date_format" -> {
      // a non-English session locale (reference: Session.getLocale —
      // its Korean-locale vectors render %a/%W/%p/%r in that language)
      // routes through a runtime java.time formatter carrying the
      // locale; the default stays on Spark's codegen'd DateFormatClass
      case Seq(t, StringLiteral(fmt))
          if fmt.contains('%') && GraftFnUtils.sessionLocaleTag != "en" =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GraftFnUtils.getClass, StringType, "prestoDateFormatLocale",
          Seq(Cast(t, TimestampType), Literal(fmt),
            Literal(GraftFnUtils.sessionLocaleTag)),
          inputTypes = Seq(TimestampType, StringType, StringType),
          propagateNull = true)
      case Seq(t, StringLiteral(fmt)) if fmt.contains('%') =>
        DateFormatClass(Cast(t, TimestampType), Literal(GraftFnUtils.mysqlToJavaPattern(fmt)))
      case Seq(t, f) => DateFormatClass(t, f)
      case args => throw new IllegalArgumentException(s"date_format: bad args $args")
    },
    "date_parse" -> {
      // runtime MySQL-pattern parser (GraftFnUtils.prestoDateParse):
      // expresses the reference's leniencies a translated Spark pattern
      // cannot — 1-2 digit fields, epoch defaults for bare time text,
      // %x %v week-based parsing, any-length fractions, unquoted
      // literal text (round 14; was GetTimestamp over a translated
      // pattern, which rejected all of those)
      case Seq(s, f) =>
        StaticInvoke(GraftFnUtils.getClass, TimestampType, "prestoDateParse",
          Seq(Cast(s, StringType), Cast(f, StringType)),
          inputTypes = Seq(StringType, StringType), propagateNull = true)
      case args => throw new IllegalArgumentException(s"date_parse: bad args $args")
    },
    // Joda-style format_datetime/parse_datetime (DateTimeFunctions.java:68)
    // — literal patterns are TRANSLATED at plan time (Y/ZZ/zone-id tokens
    // diverge from java.time; jodaToJavaPattern), non-literal patterns go
    // through the same translation per row via StaticInvoke, so divergent
    // tokens error loudly on both paths instead of silently formatting
    // with java semantics
    "format_datetime" -> {
      case Seq(t, StringLiteral(fmt)) =>
        DateFormatClass(Cast(t, TimestampType),
          Literal(GraftFnUtils.jodaToJavaPattern(fmt)))
      case Seq(t, f) => DateFormatClass(Cast(t, TimestampType), jodaPatternAt(f))
    },
    "parse_datetime" -> {
      case Seq(s, StringLiteral(fmt)) =>
        GetTimestamp(s, Literal(GraftFnUtils.jodaToJavaPattern(fmt)), TimestampType)
      case Seq(s, f) => GetTimestamp(s, jodaPatternAt(f), TimestampType)
    },
    "from_iso8601_timestamp" -> { case Seq(s) =>
      if (ZonedTimestamps.enabled) ZonedFromIso(s) else Cast(s, TimestampType) },
    "from_iso8601_date" -> { case Seq(s) => Cast(s, DateType) },
    // late-binding in BOTH modes: the DATE overload prints date-only
    // (toISO8601FromDate), timestamps keep the 'Z' rendering, zoned
    // values their wall+offset form
    "to_iso8601" -> { case Seq(t) => ZonedIso(t) },
    // at_timezone / with_timezone (DateTimeFunctions.java). The engine's
    // documented TIMESTAMP WITH TIME ZONE approximation (SURVEY.md §1.2):
    // instants are UTC timestamps (session TZ pinned to UTC), the zone
    // annotation is not carried. at_timezone(ts, zone) then means "the
    // wall-clock of this instant in `zone`" = from_utc_timestamp;
    // with_timezone(ts, zone) means "the instant whose wall-clock in
    // `zone` is ts" = to_utc_timestamp.
    // Under the opt-in zone-carrying mode (ZonedTimestamps) both return
    // a zoned struct: at_timezone keeps the instant and sets the zone,
    // with_timezone interprets the wall clock in the zone — the
    // reference's actual TIMESTAMP WITH TIME ZONE results.
    "at_timezone" -> { case Seq(t, z) =>
      if (ZonedTimestamps.enabled) ZonedAtTimezone(t, z)
      else FromUTCTimestamp(Cast(t, TimestampType), z) },
    "with_timezone" -> { case Seq(t, z) =>
      if (ZonedTimestamps.enabled) ZonedWithTimezone(t, z)
      else ToUTCTimestamp(Cast(t, TimestampType), z) },
    // CAST(x AS TIMESTAMP/TIME WITH TIME ZONE) + the zoned TIME literal,
    // spelled by the parser's rewrites when the zoned mode is on
    "zoned_tstz" -> { case Seq(t) => ZonedCastToZoned(t) },
    // now()/current_timestamp under the zoned mode: TIMESTAMP WITH TIME
    // ZONE carrying the SESSION zone (DateTimeFunctions.java
    // currentTimestamp packs session.getTimeZoneKey()); spelled by the
    // ZonedTimestamps parse rewrite — a graft-only name so the Spark
    // builtins (and the DataFrame API) are never rewired. localtimestamp
    // stays naive by design (the reference's localtimestamp returns
    // plain TIMESTAMP). ComputeCurrentTime folds the nested
    // CurrentTimestamp per-query exactly as it does the builtin's.
    "zoned_now" -> { case Seq() =>
      ZonedTimestamps.mk(CurrentTimestamp(),
        Literal(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)) },
    "zoned_ttz" -> { case Seq(t, z) => ZonedTimeAttach(t, z) },
    "zoned_ttz_cast" -> { case Seq(t) => ZonedCastToZonedTime(t) },

    // ── math family (MathFunctions.java:65) ──
    // Presto to_base/from_base are SIGNED (MathFunctions.java to_base
    // emits '-<digits>' for negatives); Spark's Conv is MySQL-style
    // UNSIGNED 64-bit, so the sign is split off explicitly. Magnitudes
    // route through DECIMAL(20,0) so abs(Long.MinValue) and the
    // '-9223372036854775808' parse both round-trip (found by
    // PropertyFnSpec's radix round-trip property).
    "from_base" -> { case Seq(s, r) =>
      If(StartsWith(s, Literal("-")),
        Cast(UnaryMinus(Cast(
          Conv(Substring(s, Literal(2), Literal(Int.MaxValue)), r, Literal(10)),
          DecimalType(20, 0))), LongType),
        Cast(Conv(s, r, Literal(10)), LongType))
    },
    "to_base" -> { case Seq(n, r) =>
      val nl = Cast(n, LongType)
      val digits = Lower(Conv(
        Cast(Abs(Cast(nl, DecimalType(20, 0))), StringType), Literal(10), r))
      If(LessThan(nl, Literal(0L)), Concat(Seq(Literal("-"), digits)), digits)
    },
    // binary codecs (VarbinaryFunctions.java): Presto names over Spark
    // natives; sha256/sha512 return VARBINARY (Spark's sha2 emits hex)
    "to_base64" -> { case Seq(b) => Base64(b) },
    "from_base64" -> { case Seq(s) => new UnBase64(s) },
    "to_hex" -> { case Seq(b) => Hex(b) },
    // strict per the reference: odd length and non-hex chars ERROR
    // (fromHexVarchar) — Spark's Unhex zero-pads / NULLs them
    "from_hex" -> { case Seq(s) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, BinaryType, "fromHexStrict",
        Seq(Cast(s, StringType)), inputTypes = Seq(StringType),
        propagateNull = true) },
    "sha256" -> { case Seq(b) => Unhex(Sha2(b, Literal(256))) },
    "sha512" -> { case Seq(b) => Unhex(Sha2(b, Literal(512))) },
    // md5/sha1/xxhash64 return VARBINARY digests over VARBINARY input
    // in the reference (VarbinaryFunctions.java:246-300) where Spark's
    // same-named builtins emit hex text (md5/sha1) or a seed-42
    // typed-value BIGINT (xxhash64) — `to_hex(md5(x))`, the standard
    // Presto idiom, would otherwise hex-encode the hex TEXT. Dispatch
    // is on the RESOLVED input type (DigestDispatch), NOT a blanket
    // name override: Spark 4's functions.md5/functions.xxhash64 route
    // by name too (Column.fn), so non-binary operands — shapes no
    // Presto query can produce, used by the engine's own minhash/bloom
    // pipelines — must keep the builtin behavior bit-for-bit
    // (round-12 find; KATs in fn_extra_scalars + FnSpec).
    "md5" -> { case Seq(b) => DigestDispatch(b, "md5") },
    "sha1" -> { case Seq(b) => DigestDispatch(b, "sha1") },
    // NOTE (round 12): log/trim/ltrim/rtrim/element_at — where the
    // reference and Spark share the NAME but disagree on argument order
    // or bounds behavior — are deliberately NOT in this map. Spark 4's
    // functions API resolves by name (Column.fn), so a registry
    // override would swap semantics under the Scala DataFrame API too.
    // Those live at the parser seam: PrestoCallConventions, applied by
    // GraftSqlParser to SQL text only.
    "xxhash64" -> {
      case Seq(b) => DigestDispatch(b, "xxhash64")
      // multi-arg: Spark's builtin (internal stress-harness spelling)
      case args => new XxHash64(args)
    },
    // Presto ROW(...) constructor (RowConstructor; Spark spells it
    // struct — anonymous field names differ, access by position/.field
    // works the same)
    // anonymous ROW fields are named field0..fieldN-1 in the reference
    // (RowType.anonymous; TestRowOperators accesses row(1,2).field0) —
    // Spark's struct() would name them col1..colN
    "row" -> { args =>
      CreateNamedStruct(args.zipWithIndex.flatMap { case (a, i) =>
        Seq(Literal(s"field$i"), a)
      })
    },
    // array lambda predicates (ArrayAllMatchFunction.java et al.)
    "all_match" -> { case Seq(a, f) => ArrayForAll(a, f) },
    "any_match" -> { case Seq(a, f) => ArrayExists(a, f) },
    // none_match ≡ all_match(!pred): the analyzer requires the BUILT
    // expression to itself be the higher-order function, so the negation
    // goes inside the lambda body, not around the HOF
    "none_match" -> { case Seq(a, f: LambdaFunction) =>
      ArrayForAll(a, f.copy(function = Not(f.function))) },
    // regexp_split keeps trailing empties like the reference
    // the reference's Joni split loop keeps boundary empties and steps
    // zero-width matches one position (JoniRegexpFunctions.regexpSplit;
    // Spark's split drops them — KAT value gate r15)
    "regexp_split" -> { case Seq(s, p) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        GraftFnUtils.getClass, ArrayType(StringType, containsNull = false),
        "prestoRegexpSplit", Seq(s, p),
        inputTypes = Seq(StringType, StringType), propagateNull = true) },
    // fail(message) → error of class GENERIC_USER_ERROR (FailureFunction)
    "fail" -> { case Seq(m) => RaiseError(m) },
    // combine_hash (CombineHashFunction.java: h1 * 31 + h2)
    "combine_hash" -> { case Seq(a, b) =>
      Add(Multiply(Cast(a, LongType), Literal(31L)), Cast(b, LongType)) },
    // millisecond-of-second (DateTimeFunctions.java millisecond) —
    // late-binding so TIME operands resolve (MillisecondOf)
    "millisecond" -> { case Seq(t) => MillisecondOf(t) },
    // ISO week-year (year_of_week/yow); Spark spells it YEAROFWEEK
    "year_of_week" -> { case Seq(t) =>
      Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "date_part", Seq(Literal("YEAROFWEEK"), t), isDistinct = false), LongType) },
    "yow" -> { case Seq(t) =>
      Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "date_part", Seq(Literal("YEAROFWEEK"), t), isDistinct = false), LongType) },
    // timezone_hour/minute: under the engine's documented UTC-instant
    // approximation every timestamp's zone is UTC → offset 0 (SURVEY
    // §1.2); under the opt-in zoned mode a carried zone reports its
    // offset at the value's instant (ZonedTzOffset)
    "timezone_hour" -> { case Seq(t) =>
      if (ZonedTimestamps.enabled) ZonedTzOffset(t, minuteUnit = false)
      else If(IsNull(t), Literal(null, LongType), Literal(0L)) },
    "timezone_minute" -> { case Seq(t) =>
      if (ZonedTimestamps.enabled) ZonedTzOffset(t, minuteUnit = true)
      else If(IsNull(t), Literal(null, LongType), Literal(0L)) },
    // parse_duration → DAY-TO-SECOND interval (physical micros);
    // to_milliseconds is its bigint projection (DateTimeFunctions.java)
    "parse_duration" -> { case Seq(s) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        ExtraFns.getClass, DayTimeIntervalType(), "parseDurationMicros",
        Seq(s), inputTypes = Seq(StringType), propagateNull = true) },
    "to_milliseconds" -> { case Seq(i) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        ExtraFns.getClass, LongType, "intervalMillis",
        Seq(Cast(i, DayTimeIntervalType())),
        inputTypes = Seq(DayTimeIntervalType()), propagateNull = true) },
    "infinity" -> { _ => Literal(Double.PositiveInfinity) },
    "nan" -> { _ => Literal(Double.NaN) },
    // RETURN_NULL_ON_NULL: the reference's is_nan(NULL) is NULL where
    // Spark's IsNaN says false (KAT value gate, TestMathFunctions)
    "is_nan" -> { case Seq(x) =>
      If(IsNull(x), Literal.create(null, BooleanType), IsNaN(x)) },
    "is_finite" -> { case Seq(x) =>
      And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity))) },
    "is_infinite" -> { case Seq(x) =>
      EqualTo(Abs(Cast(x, DoubleType)), Literal(Double.PositiveInfinity)) },
    // type-dispatched: decimal keeps DECIMAL with the reference's result
    // types; double/real truncate in DOUBLE space (the old builder's
    // Spark Floor is LONG-typed — overflow past 2^63; KAT value gate r15)
    "truncate" -> {
      case Seq(x) => TruncateOneDispatch(x)
      case Seq(x, n) => TruncateDispatch(x, n)
    },
    // sign keeps the OPERAND's type family in the reference
    // (MathFunctions sign: bigint→bigint, decimal→decimal(1,0),
    // real→real) where Spark's signum is always double (KAT value r15)
    "sign" -> { case Seq(x) => SignDispatch(x) },
    "mod" -> { case Seq(a, b) => Remainder(a, b) },

    // ── spatial, points subset (presto-geospatial/GeoFunctions.java;
    // geometry runtime descoped — no geometry lib in the container) ──
    "st_point" -> { case Seq(x, y) =>
      CreateNamedStruct(Seq(Literal("x"), Cast(x, DoubleType), Literal("y"), Cast(y, DoubleType))) },
    // ST_AsText over either representation — struct points render
    // `POINT (x y)`, WKT text canonicalizes through the full parser
    // (late-binding dispatch, GeoExprs.scala)
    "st_as_text" -> { case Seq(p) => GeoAsTextExpr(p) },
    "st_astext" -> { case Seq(p) => GeoAsTextExpr(p) },
    // point constructors accept struct OR WKT point elements
    "st_multipoint" -> { case Seq(a) => GeoPointsCtor(a, line = false) },
    "st_multi_point" -> { case Seq(a) => GeoPointsCtor(a, line = false) },
    "st_linestring" -> { case Seq(a) => GeoPointsCtor(a, line = true) },
    "st_line_string" -> { case Seq(a) => GeoPointsCtor(a, line = true) },
    // bing_tile has two reference spellings: (x, y, zoom) and (quadkey)
    "bing_tile" -> {
      case Seq(x, y, z) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GeometryFns.getClass, LongType, "encode",
          Seq(Cast(x, IntegerType), Cast(y, IntegerType), Cast(z, IntegerType)),
          inputTypes = Seq(IntegerType, IntegerType, IntegerType),
          propagateNull = true)
      case Seq(qk) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          GeometryFns.getClass, LongType, "fromQuadKeyU",
          Seq(qk), inputTypes = Seq(StringType), propagateNull = true)
    },
    // struct points read their field; WKT text validates POINT and
    // returns NULL for POINT EMPTY (GeoExprs.scala dispatch)
    "st_x" -> { case Seq(p) => GeoCoordExpr(p, isX = true) },
    "st_y" -> { case Seq(p) => GeoCoordExpr(p, isX = false) },
    // planar distance (GeoFunctions ST_Distance). Struct points keep the
    // fully codegen'd arithmetic fast path (the distance-join hot path);
    // WKT string geometries dispatch to the general geometry kernel —
    // resolved per input type via RuntimeReplaceable (GeoDistanceExpr).
    "st_distance" -> { case Seq(a, b) => GeoDistanceExpr(a, b) },
    // width_bucket (MathFunctions.java:65): 4-arg equi-width form maps to
    // Spark's native WidthBucket; the bins-array form is the count of
    // (sorted ascending) bin bounds ≤ x, composed from codegen'd HOFs
    "width_bucket" -> {
      case Seq(v, lo, hi, n) =>
        WidthBucket(Cast(v, DoubleType), Cast(lo, DoubleType), Cast(hi, DoubleType),
          Cast(n, LongType))
      case Seq(x, bins) =>
        // NULL operand -> NULL (a null x would otherwise drop every bin
        // in the filter and return 0, not NULL as the reference does)
        val lv = NamedLambdaVariable("b", DoubleType, nullable = true)
        val count = Cast(Size(ArrayFilter(Cast(bins, ArrayType(DoubleType)),
          LambdaFunction(LessThanOrEqual(lv, Cast(x, DoubleType)), Seq(lv)))), LongType)
        If(Or(IsNull(x), IsNull(bins)), Literal(null, LongType), count)
    },
  )

  private def parseUrl(u: Expression, part: String): Expression =
    new ParseUrl(Seq(u, Literal(part)))

  /** Per-row Joda→java pattern translation for column-valued patterns. */
  /** classification_*(buckets, outcome, pred[, weight]) — pred/weight
    * coerced to double as the reference's DOUBLE signature does.
    */
  private def classificationBuilder(metric: String): Seq[Expression] => Expression = {
    case Seq(b, o, p) =>
      ClassificationMetricAgg(b, o, Cast(p, DoubleType), Literal(1.0), metric)
        .toAggregateExpression()
    case Seq(b, o, p, w) =>
      ClassificationMetricAgg(b, o, Cast(p, DoubleType), Cast(w, DoubleType), metric)
        .toAggregateExpression()
  }

  private def jodaPatternAt(f: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      GraftFnUtils.getClass, StringType, "jodaToJavaPatternU",
      Seq(Cast(f, StringType)), inputTypes = Seq(StringType),
      propagateNull = true)

  /** Builders are partial functions over argument lists; an unsupported
    * arity must surface as a clear per-function message, not a raw
    * scala.MatchError from plan construction.
    */
  private def safeBuilder(
      name: String, b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args =>
      try b(args)
      catch {
        case _: MatchError =>
          throw new IllegalArgumentException(
            s"Function '$name' does not support this signature " +
              s"(${args.length} argument(s): ${args.map(_.sql).mkString(", ")}); " +
              "see the reference signature list in GraftFunctions.builders")
      }

  private object StringLiteral {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(s.toString)
      case Literal(s, StringType) if s != null => Some(s.toString)
      case _ => None
    }
  }

  /** Long-tail functions where a plain Scala UDF is the right cost/benefit
    * (never on the TB-scan hot path), keyed by Presto function name. Each
    * UDF is built once per JVM and carries its key as its name:
    * `ScalaUDF.udfName` is what GeoUdfArgsRule, IpOps and ScalarExprs
    * match on.
    */
  val udfs: Seq[(String, UserDefinedFunction)] = {
    // set operations: 0-dimensional operand pairs take the exact
    // point-set path (testSTIntersection/Difference/SymDifference over
    // POINT/MULTIPOINT — incl. the reference's MULTIPOLYGON EMPTY
    // rendering of an empty result); areal pairs keep the overlay
    def pointyPair(a: String, b: String): Option[(GeometryExtras.Geo, GeometryExtras.Geo)] = {
      val (ga, gb) = (GeometryExtras.parseGeo(a), GeometryExtras.parseGeo(b))
      if (GeometryExtras.isPointy(ga) && GeometryExtras.isPointy(gb)) Some((ga, gb))
      else None
    }
    def bothLiney(a: GeometryExtras.Geo, b: GeometryExtras.Geo): Boolean =
      GeometryExtras.isLiney(a) && GeometryExtras.isLiney(b)
    // the set-op dispatch must not PARSE both operands per call — these
    // UDFs run per candidate PAIR inside the spatial joins, so
    // areal-areal pairs (the hot case) are recognized TEXTUALLY and go
    // straight to the overlay (bench: spatial_polygon_join pays ~2
    // parses × 2 call sites per pair otherwise)
    def arealText(w: String): Boolean =
      w.startsWith("POLYGON") || w.startsWith("MULTIPOLYGON") ||
        w.startsWith("polygon") || w.startsWith("multipolygon")
    val named: Seq[(String, UserDefinedFunction)] = Seq(
      "hamming_distance" -> udf((a: String, b: String) => GraftFnUtils.hammingDistance(a, b)),
      "normalize" -> udf((s: String) => GraftFnUtils.normalizeStr(s, "NFC")),
      "is_json_scalar" -> udf((s: String) => GraftFnUtils.isJsonScalar(s)),
      "json_size" -> udf((j: String, p: String) => GraftFnUtils.jsonSize(j, p)),
      "json_array_get" -> udf((j: String, i: Long) => GraftFnUtils.jsonArrayGet(j, i)),
      // ngrams/combinations moved to the builders map (round 14): generic
      // Catalyst expressions over ANY element type — the Seq[String] UDFs
      // silently stringified non-string arrays via implicit coercion and
      // missed the reference's n-greater-than-length ngram (whole array)
      "wilson_interval_lower" -> udf(
        (s: Long, n: Long, z: Double) => GraftFnUtils.wilsonLower(s, n, z)),
      "wilson_interval_upper" -> udf(
        (s: Long, n: Long, z: Double) => GraftFnUtils.wilsonUpper(s, n, z)),
      "json_parse" -> udf((s: String) => GraftFnUtils.jsonParse(s)),
      "json_format" -> udf((j: String) => GraftFnUtils.jsonFormat(j)),
      "hmac_md5" -> udf((d: Array[Byte], k: Array[Byte]) => GraftFnUtils.hmac("HmacMD5", d, k)),
      "hmac_sha1" -> udf((d: Array[Byte], k: Array[Byte]) => GraftFnUtils.hmac("HmacSHA1", d, k)),
      "hmac_sha256" -> udf((d: Array[Byte], k: Array[Byte]) => GraftFnUtils.hmac("HmacSHA256", d, k)),
      "hmac_sha512" -> udf((d: Array[Byte], k: Array[Byte]) => GraftFnUtils.hmac("HmacSHA512", d, k)),
      "to_big_endian_64" -> udf((v: Long) => GraftFnUtils.toBigEndian64(v)),
      "from_big_endian_64" -> udf((b: Array[Byte]) => GraftFnUtils.fromBigEndian64(b)),
      "to_big_endian_32" -> udf((v: Int) => GraftFnUtils.toBigEndian32(v)),
      "from_big_endian_32" -> udf((b: Array[Byte]) => GraftFnUtils.fromBigEndian32(b)),
      // boxed values so a NULL map entry survives into the function
      // (a Double-typed UDF parameter would silently zero it)
      "cosine_similarity" -> udf(
        (a: Map[String, java.lang.Double], b: Map[String, java.lang.Double]) =>
          GraftFnUtils.cosineSimilarityMaps(a, b)),
      // Teradata compatibility family (presto-teradata-functions —
      // TeradataFns scaladoc has the token contract; `index`, strpos's
      // Teradata spelling, is a code-point-based builder).
      // to_char/to_date/to_timestamp use the Teradata format-token
      // language (NOT Spark's pattern language — the reference's semantics
      // win, documented in README divergences).
      "char2hexint" -> udf((s: String) => TeradataFns.char2HexInt(s)),
      "to_char" -> udf((ts: java.sql.Timestamp, fmt: String) => TeradataFns.toChar(ts, fmt)),
      "to_date" -> udf((s: String, fmt: String) => TeradataFns.toDate(s, fmt)),
      "to_timestamp" -> udf((s: String, fmt: String) => TeradataFns.toTimestamp(s, fmt)),
      "great_circle_distance" -> udf(
        (lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
          GraftFnUtils.greatCircleDistance(lat1, lon1, lat2, lon2)),
      // WKT polygon subset + Bing tiles (GeometryFns; reference
      // presto-geospatial GeoFunctions.java / BingTileFunctions.java)
      // GEOMETRY ↔ SPHERICAL_GEOGRAPHY: checked identities over the WKT
      // representation; to_spherical_geography validates lon/lat ranges
      "to_spherical_geography" -> udf((w: String) => GeometryFns.toSphericalGeography(w)),
      "to_geometry" -> udf((w: String) => GeometryFns.geometryFromText(w)),
      "geometry_to_bing_tiles" -> udf(
        (w: String, zoom: Int) => GeometryFns.geometryToBingTiles(w, zoom)),
      "st_polygon" -> udf((w: String) => GeometryExtras.polygonFromText(w)),
      "st_contains" -> udf((poly: String, pt: String) => GeometryFns.stContains(poly, pt)),
      "st_within" -> udf((pt: String, poly: String) => GeometryFns.stContains(poly, pt)),
      "st_area" -> udf((w: String) => GeometryFns.area(w)),
      "st_centroid" -> udf((w: String) => GeometryFns.centroid(w)),
      "st_envelope" -> udf((w: String) => GeometryExtras.stEnvelope(w)),
      "st_xmin" -> udf((w: String) => GeometryExtras.envelopeCoord(w, "xmin")),
      "st_ymin" -> udf((w: String) => GeometryExtras.envelopeCoord(w, "ymin")),
      "st_xmax" -> udf((w: String) => GeometryExtras.envelopeCoord(w, "xmax")),
      "st_ymax" -> udf((w: String) => GeometryExtras.envelopeCoord(w, "ymax")),
      "st_length" -> udf((w: String) => GeometryExtras.stLength(w)),
      "st_buffer" -> udf((w: String, d: Double) => GeometryFns.stBuffer(w, d)),
      "simplify_geometry" -> udf((w: String, t: Double) => GeometryFns.simplifyGeometry(w, t)),
      "st_intersects" -> udf((a: String, b: String) => GeometryFns.stIntersects(a, b)),
      "st_intersection" -> udf(
        (a: String, b: String) => {
          if (arealText(a) && arealText(b)) GeometryFns.stIntersection(a, b)
          else {
            val (ga, gb) = (GeometryExtras.parseGeo(a), GeometryExtras.parseGeo(b))
            if (GeometryExtras.isPointy(ga) && GeometryExtras.isPointy(gb))
              GeometryExtras.pointIntersection(ga, gb)
            else if (bothLiney(ga, gb)) GeometryExtras.lineIntersection(ga, gb)
            // areal ∩ line clips the line (testSTIntersection:806/807)
            else if (GeometryExtras.arealParts(ga).nonEmpty && GeometryExtras.isLiney(gb))
              GeometryExtras.polyLineIntersection(GeometryExtras.arealParts(ga), gb)
            else if (GeometryExtras.arealParts(gb).nonEmpty && GeometryExtras.isLiney(ga))
              GeometryExtras.polyLineIntersection(GeometryExtras.arealParts(gb), ga)
            else GeometryFns.stIntersection(a, b)
          }
        }),
      "st_union" -> udf(
        (a: String, b: String) =>
          if (arealText(a) && arealText(b)) GeometryFns.stUnion(a, b)
          else pointyPair(a, b) match {
            case Some((ga, gb)) => GeometryExtras.pointUnion(ga, gb)
            case None => GeometryFns.stUnion(a, b)
          }),
      "st_difference" -> udf(
        (a: String, b: String) => {
          if (arealText(a) && arealText(b)) GeometryFns.stDifference(a, b)
          else {
            val (ga, gb) = (GeometryExtras.parseGeo(a), GeometryExtras.parseGeo(b))
            if (GeometryExtras.isPointy(ga) && GeometryExtras.isPointy(gb))
              GeometryExtras.pointDifference(ga, gb)
            else if (bothLiney(ga, gb)) GeometryExtras.lineDifference(ga, gb)
            else GeometryFns.stDifference(a, b)
          }
        }),
      "st_symdifference" -> udf(
        (a: String, b: String) => {
          if (arealText(a) && arealText(b)) GeometryFns.stSymDifference(a, b)
          else {
            val (ga, gb) = (GeometryExtras.parseGeo(a), GeometryExtras.parseGeo(b))
            if (GeometryExtras.isPointy(ga) && GeometryExtras.isPointy(gb))
              GeometryExtras.pointSymDifference(ga, gb)
            else if (bothLiney(ga, gb)) GeometryExtras.lineSymDifference(ga, gb)
            else GeometryFns.stSymDifference(a, b)
          }
        }),
      "st_dimension" -> udf((w: String) => GeometryExtras.stDimension(w)),
      "geometry_invalid_reason" -> udf((w: String) => GeometryExtras.geometryInvalidReason(w)),
      "st_points" -> udf((w: String) => GeometryExtras.stPoints(w)),
      "st_geometries" -> udf((w: String) => GeometryExtras.stGeometries(w)),
      "st_boundary" -> udf((w: String) => GeometryExtras.stBoundary(w)),
      "st_equals" -> udf((a: String, b: String) => GeometryExtras.stEquals(a, b)),
      "st_disjoint" -> udf((a: String, b: String) => GeometryExtras.stDisjoint(a, b)),
      "st_touches" -> udf((a: String, b: String) => GeometryExtras.stTouches(a, b)),
      "st_crosses" -> udf((a: String, b: String) => GeometryExtras.stCrosses(a, b)),
      "st_overlaps" -> udf((a: String, b: String) => GeometryExtras.stOverlaps(a, b)),
      "expand_envelope" -> udf((w: String, d: Double) => GeometryExtras.expandEnvelope(w, d)),
      "line_interpolate_point" -> udf(
        (w: String, f: Double) => GeometryExtras.lineInterpolatePoint(w, f)),
      "line_locate_point" -> udf((w: String, p: String) => GeometryExtras.lineLocatePoint(w, p)),
      "geometry_union" -> udf((ws: Array[String]) => GeometryExtras.geometryUnion(ws)),
      "st_relate" -> udf((a: String, b: String, p: String) => GeometryExtras.stRelate(a, b, p)),
      "geometry_union_agg" -> udaf(GeometryExtras.GeometryUnionAggregator),
      "convex_hull_agg" -> udaf(GeometryExtras.ConvexHullAggregator),
      "bing_tile_at" -> udf(
        (lat: Double, lon: Double, zoom: Int) => GeometryFns.bingTileAt(lat, lon, zoom)),
      "bing_tile_coordinates" -> udf(
        (t: Long) => GeometryFns.TileXY(GeometryFns.tileX(t), GeometryFns.tileY(t))),
      "bing_tile_zoom_level" -> udf((t: Long) => GeometryFns.tileZoom(t)),
      "bing_tile_quadkey" -> udf((t: Long) => GeometryFns.quadKey(t)),
      "bing_tiles_around" -> udf(
        (lat: Double, lon: Double, zoom: Int) => GeometryFns.tilesAround(lat, lon, zoom)),
      "bing_tile_polygon" -> udf((t: Long) => GeometryFns.tilePolygon(t)),
      // FNV hashes, IEEE-754 codecs, CDFs, IP/CIDR, data-size parsing
      // (ExtraFns; long-tail, never scan-hot)
      "spooky_hash_v2_32" -> udf((b: Array[Byte]) => SpookyHashV2.bytes32(b)),
      "spooky_hash_v2_64" -> udf((b: Array[Byte]) => SpookyHashV2.bytes64(b)),
      "fnv1_32" -> udf((b: Array[Byte]) => ExtraFns.fnv1_32(b)),
      "fnv1_64" -> udf((b: Array[Byte]) => ExtraFns.fnv1_64(b)),
      "fnv1a_32" -> udf((b: Array[Byte]) => ExtraFns.fnv1a_32(b)),
      "fnv1a_64" -> udf((b: Array[Byte]) => ExtraFns.fnv1a_64(b)),
      "to_ieee754_32" -> udf((v: Float) => ExtraFns.toIeee754_32(v)),
      "from_ieee754_32" -> udf((b: Array[Byte]) => ExtraFns.fromIeee754_32(b)),
      "to_ieee754_64" -> udf((v: Double) => ExtraFns.toIeee754_64(v)),
      "from_ieee754_64" -> udf((b: Array[Byte]) => ExtraFns.fromIeee754_64(b)),
      "normal_cdf" -> udf((m: Double, sd: Double, v: Double) => ExtraFns.normalCdf(m, sd, v)),
      "inverse_normal_cdf" -> udf(
        (m: Double, sd: Double, p: Double) => ExtraFns.inverseNormalCdf(m, sd, p)),
      "beta_cdf" -> udf((a: Double, b: Double, v: Double) => ExtraFns.betaCdf(a, b, v)),
      "inverse_beta_cdf" -> udf(
        (a: Double, b: Double, p: Double) => ExtraFns.inverseBetaCdf(a, b, p)),
      "ip_prefix" -> udf((ip: String, bits: Int) => ExtraFns.ipPrefix(ip, bits)),
      // IPADDRESS/IPPREFIX typed-literal canonicalization (the parser
      // veneer rewrites the literals through these; KAT replay r14)
      "ip_canonical" -> udf((ip: String) => ExtraFns.ipCanonical(ip)),
      "ip_prefix_canonical" -> udf((c: String) => ExtraFns.ipPrefixCanonical(c)),
      "ip_subnet_min" -> udf((c: String) => ExtraFns.ipSubnetMin(c)),
      "ip_subnet_max" -> udf((c: String) => ExtraFns.ipSubnetMax(c)),
      "ip_subnet_range" -> udf((c: String) => ExtraFns.ipSubnetRange(c)),
      "is_subnet_of" -> udf(
        (c: String, target: String) =>
          if (target.contains("/")) ExtraFns.isSubnetOfCidr(c, target)
          else ExtraFns.isSubnetOfIp(c, target)),
      // parse_presto_data_size lives in the builders map (round 14): the
      // reference's return type is decimal(38,0); the old BigDecimal UDF
      // mapped to DECIMAL(38,18) and overflowed past ~1e20 ('7ZB')
      "split_to_multimap" -> udf(
        (s: String, ed: String, kd: String) => ExtraFns.splitToMultimap(s, ed, kd)),
      // NB padded: the reference uses Base64.getUrlEncoder() WITH '='
      // padding (VarbinaryFunctions.java:97) — round-12 fix of a
      // withoutPadding drift, oracle-pinned in fuzz_binary_parity
      "to_base64url" -> udf((b: Array[Byte]) => java.util.Base64.getUrlEncoder.encodeToString(b)),
      "from_base64url" -> udf((s: String) => java.util.Base64.getUrlDecoder.decode(s)))
    // one UDF under two names: 0.235's legacy url aliases
    // (UrlFunctions.java:151,162), and geospatial functions under the
    // engine's snake_case dialect spelling AND the reference's lowercased
    // spelling (GeoFunctions.java annotations), so verbatim Presto texts
    // resolve too
    val aliased: Seq[((String, String), UserDefinedFunction)] = Seq(
      ("url_encode", "urlencoder") -> udf((s: String) => GraftFnUtils.urlEncode(s)),
      ("url_decode", "urldecoder") -> udf((s: String) => GraftFnUtils.urlDecode(s)),
      ("st_geometry_from_text", "st_geometryfromtext") ->
        udf((w: String) => GeometryFns.geometryFromText(w)),
      ("st_line_from_text", "st_linefromtext") -> udf((w: String) => GeometryExtras.lineFromText(w)),
      ("st_num_points", "st_numpoints") -> udf((w: String) => GeometryFns.numPoints(w)),
      ("st_geometry_type", "st_geometrytype") -> udf((w: String) => GeometryExtras.stGeometryType(w)),
      ("st_coord_dim", "st_coorddim") -> udf((w: String) => GeometryExtras.stCoordDim(w)),
      ("st_is_closed", "st_isclosed") -> udf((w: String) => GeometryExtras.stIsClosed(w)),
      ("st_is_empty", "st_isempty") -> udf((w: String) => GeometryExtras.stIsEmpty(w)),
      ("st_is_ring", "st_isring") -> udf((w: String) => GeometryExtras.stIsRing(w)),
      ("st_is_simple", "st_issimple") -> udf((w: String) => GeometryExtras.stIsSimple(w)),
      ("st_is_valid", "st_isvalid") -> udf((w: String) => GeometryExtras.stIsValid(w)),
      ("st_start_point", "st_startpoint") -> udf((w: String) => GeometryExtras.stStartPoint(w)),
      ("st_end_point", "st_endpoint") -> udf((w: String) => GeometryExtras.stEndPoint(w)),
      ("st_point_n", "st_pointn") -> udf((w: String, i: Int) => GeometryExtras.stPointN(w, i)),
      ("st_exterior_ring", "st_exteriorring") -> udf((w: String) => GeometryExtras.stExteriorRing(w)),
      ("st_num_interior_ring", "st_numinteriorring") ->
        udf((w: String) => GeometryExtras.stNumInteriorRing(w)),
      ("st_interior_ring_n", "st_interiorringn") ->
        udf((w: String, i: Int) => GeometryExtras.stInteriorRingN(w, i)),
      ("st_interior_rings", "st_interiorrings") ->
        udf((w: String) => GeometryExtras.stInteriorRings(w)),
      ("st_num_geometries", "st_numgeometries") ->
        udf((w: String) => GeometryExtras.stNumGeometries(w)),
      ("st_geometry_n", "st_geometryn") ->
        udf((w: String, i: Int) => GeometryExtras.stGeometryN(w, i)),
      ("st_convex_hull", "st_convexhull") -> udf((w: String) => GeometryExtras.stConvexHull(w)),
      ("st_envelope_as_pts", "st_envelopeaspts") ->
        udf((w: String) => GeometryExtras.stEnvelopeAsPts(w)),
      ("st_as_binary", "st_asbinary") -> udf((w: String) => GeometryExtras.stAsBinary(w)),
      ("st_geom_from_binary", "st_geomfrombinary") ->
        udf((b: Array[Byte]) => GeometryExtras.stGeomFromBinary(b)))
    (named ++ aliased.flatMap { case ((a, b), f) => Seq(a -> f, b -> f) })
      .map { case (name, f) => name -> f.withName(name) }
  }

  /** Registry builder of one entry of [[udfs]]. Presto's default scalar
    * null convention is RETURN_NULL_ON_NULL (the engine returns NULL
    * without invoking the function when any argument is NULL). Spark
    * passes reference-typed nulls INTO Scala UDFs, so 68 of the UDFs
    * crashed on NULL input (found by a systematic NULL-argument probe in
    * round 13: is_json_scalar(NULL) threw instead of returning NULL).
    * Rather than hand-guarding every lambda, every scalar call is built
    * guarded: NULL in any argument short-circuits to a typed NULL.
    */
  private def udfBuilder(f: UserDefinedFunction): Seq[Expression] => Expression =
    args => org.apache.spark.sql.graft.ColumnBridge.udfCall(f, args) match {
      // scalars only: the aggregates (geometry_union_agg et al.) follow
      // the separate ignore-null-inputs aggregate convention, and
      // wrapping them would put a non-aggregate IsNull beside the
      // aggregate call (MISSING_AGGREGATION)
      case u: ScalaUDF if args.nonEmpty =>
        // a NON-DETERMINISTIC argument must evaluate ONCE: the naive
        // If(IsNull..) probe re-evaluates each argument, so e.g. a
        // nullable rand()-derived arg could pass the probe non-null and
        // re-draw NULL inside the UDF, resurfacing the crash this guard
        // exists to prevent — bind through With (same once-only
        // discipline as PrestoComparisons.nanGuarded). Deterministic args
        // keep the flat If shape (codegen/CSE-friendly; double textual
        // evaluation is value-identical there).
        if (args.exists(!_.deterministic) && args.forall(_.resolved))
          With(args: _*) { refs =>
            If(refs.map(IsNull(_): Expression).reduce(Or(_, _)),
              Literal.create(null, u.dataType),
              u.withNewChildren(refs))
          }
        else
          If(args.map(IsNull(_): Expression).reduce(Or(_, _)),
            Literal.create(null, u.dataType), u)
      case other => other
    }

  /** Every Presto-named function as (name, registry builder): the
    * Catalyst builders, then the UDFs. A name appears once — a UDF must
    * never shadow a builder of the same name.
    */
  val registrations: Seq[(String, Seq[Expression] => Expression)] = {
    requireDistinct(builders.map(_._1) ++ udfs.map(_._1))
    builders.map { case (name, b) => name -> safeBuilder(name, b) } ++
      udfs.map { case (name, f) => name -> udfBuilder(f) }
  }

  private[graft] def requireDistinct(names: Seq[String]): Unit = {
    val dup = names.diff(names.distinct).distinct
    require(dup.isEmpty, s"function name registered twice: ${dup.mkString(", ")}")
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the one
  * place the engine registers functions: injects every Presto-named
  * builder and UDF at session build time (≙ the reference's plugin
  * function namespace, spi/Plugin.java:54 getFunctions), plus the
  * dialect parser, analyzer/optimizer rules (among them the shared-CTE
  * rules, `graft.plans.SharedCte`) and the AQE stage-prep rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        b))
    }
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => org.apache.spark.sql.graft.ResolveReduceAgg)
    ext.injectResolutionRule(_ => org.apache.spark.sql.graft.GeoUdfArgsRule)
    ext.injectResolutionRule(_ => graft.plans.ResolveDateSubToDays)
    ext.injectResolutionRule(_ => graft.plans.ResolveIntervalFields)
    ext.injectResolutionRule(_ => graft.plans.ResolveArrayConcatElement)
    ext.injectResolutionRule(_ => graft.plans.ResolveTimeArithmetic)
    ext.injectResolutionRule(_ => graft.plans.ResolveZonedTimeCompare)
    ext.injectResolutionRule(_ => graft.functions.PrestoComparisonRule)
    ext.injectResolutionRule(_ => graft.plans.EmptyGroupingSetsRule)
    ext.injectResolutionRule(_ => graft.plans.ZonedGroupingRule)
    ext.injectPostHocResolutionRule(_ => graft.plans.SharedCte.Keep)
    ext.injectOptimizerRule(_ => graft.plans.SimplifyElementAt)
    ext.injectOptimizerRule(_ => graft.plans.SharedCte.Release)
    ext.injectPreCBORule(_ => graft.plans.SharedCte.NarrowByGroupingKeys)
    ext.injectQueryStagePrepRule(_ => graft.plans.GatherSmallSort)
  }
}
