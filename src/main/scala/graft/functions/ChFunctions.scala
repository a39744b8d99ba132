package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** ClickHouse-named function surface over Catalyst (SURVEY §2.8 — the
  * function registry is the largest deliverable; ref the `registerFunction`
  * names in `src/Functions/`). Column API here; SQL-callable registration
  * of the same names in [[ChRegistry]].
  *
  * Mappings follow SURVEY §2.8's table. Everything delegates to codegen'd
  * built-ins — a CH name is an alias plus (occasionally) an argument-order
  * or semantics shim, never a UDF.
  */
object ch {

  // ---- conversions (ref src/Functions/FunctionsConversion.h) ----
  /** CH integer CAST wraps modulo 2^N on numeric overflow (ref
    * FunctionsConversion.h static_cast semantics); Spark's ANSI cast
    * throws. Numeric sources take the legacy (wrapping) cast; everything
    * else (strings especially) keeps ANSI parse-or-throw. */
  def wrapCast(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.types._
    val e = EE(c)
    // a Bool-display-tagged value (BoolUDT) is physically a boolean:
    // strip the tag first so INSERT into a declared Bool column works
    if (e.resolved && e.dataType.isInstanceOf[BoolUDT])
      return wrapCast(CC(ChBoolUnwrap(e)), dt)
    val numericSrc = e.resolved && (e.dataType.isInstanceOf[NumericType] ||
      e.dataType == BooleanType)
    val intTarget = dt == ByteType || dt == ShortType ||
      dt == IntegerType || dt == LongType
    if (numericSrc && intTarget) CC(Cast(e, dt, None, EvalMode.LEGACY))
    // CH integer conversions of temporal types take the underlying
    // number (Date = days since epoch, DateTime = unix seconds; ref
    // FunctionsConversion.h ToNumberImpl); Spark refuses the cast
    else if (e.resolved && e.dataType == DateType && intTarget)
      org.apache.spark.sql.functions.datediff(c,
        org.apache.spark.sql.functions.lit("1970-01-01").cast(DateType))
        .cast(dt)
    else if (e.resolved && e.dataType == TimestampType && intTarget)
      org.apache.spark.sql.functions.unix_timestamp(c).cast(dt)
    else c.cast(dt)
  }
  /** CH Bool text parsing (ref SerializationBool.cpp deserializeText):
    * the fixed word set plus the session's bool_true_representation /
    * bool_false_representation, case-insensitively. */
  def parseBool(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit, lower, trim, when}
    def rep(key: String): Option[String] =
      try Option(org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.ch." + key, null)).map(_.toLowerCase)
      catch { case _: Throwable => None }
    val trues = Seq("true", "1", "enabled", "enable", "on", "yes", "y",
      "t") ++ rep("bool_true_representation")
    val falses = Seq("false", "0", "disabled", "disable", "off", "no",
      "n", "f") ++ rep("bool_false_representation")
    val l = lower(trim(c))
    when(l.isin(trues: _*), lit(true))
      .when(l.isin(falses: _*), lit(false))
      .otherwise(c.cast("boolean"))
  }

  /** Unsigned-width wrap: CH toUIntN(v) keeps the low N bits (ref
    * FunctionsConversion.h) — carried one signed width up. */
  private def uintWrap(c: Column, mask: Long,
      carrier: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    import org.apache.spark.sql.types._
    val e = EE(c)
    if (e.resolved && (e.dataType.isInstanceOf[NumericType] ||
        e.dataType == BooleanType))
      (wrapCast(c, LongType).bitwiseAND(lit(mask))).cast(carrier)
    else if (e.resolved &&
        (e.dataType == DateType || e.dataType == TimestampType))
      (wrapCast(c, LongType).bitwiseAND(lit(mask))).cast(carrier)
    else c.cast(carrier)
  }
  def toInt8(c: Column): Column =
    wrapCast(c, org.apache.spark.sql.types.ByteType)
  def toInt16(c: Column): Column =
    wrapCast(c, org.apache.spark.sql.types.ShortType)
  def toInt32(c: Column): Column =
    wrapCast(c, org.apache.spark.sql.types.IntegerType)
  def toInt64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    val e = EE(c)
    // sub-second values truncate TOWARD ZERO in CH (ref
    // DateTimeTransforms.h: DecimalUtils::getWholePart), while Spark's
    // timestamp→long cast floors
    if (e.resolved && e.dataType.isInstanceOf[DateTime64UDT])
      CC(Dt64ToInt64(e))
    else if (e.resolved && (e.dataType ==
        org.apache.spark.sql.types.TimestampType ||
        e.dataType == org.apache.spark.sql.types.TimestampNTZType))
      c.cast("double").cast("bigint")
    else if (e.resolved && e.dataType ==
        org.apache.spark.sql.types.DecimalType(20, 0))
      // the UInt64 carrier: values past Long.MaxValue reinterpret as the
      // signed 64-bit pattern (CH wrap; ref FunctionsConversion.h)
      when(c > lit(Long.MaxValue),
        (c.cast("decimal(21,0)") -
          lit(new java.math.BigDecimal("18446744073709551616")))
          .cast("bigint"))
        .otherwise(c.cast("bigint"))
    else wrapCast(c, org.apache.spark.sql.types.LongType)
  }
  // UInt64 has no Spark twin (SURVEY §1.2) — widest signed integer
  def toUInt8(c: Column): Column = uintWrap(c, 0xFFL, "smallint")
  def toUInt16(c: Column): Column = uintWrap(c, 0xFFFFL, "int")
  def toUInt32(c: Column): Column = uintWrap(c, 0xFFFFFFFFL, "bigint")
  def toUInt64(c: Column): Column =
    wrapCast(c, org.apache.spark.sql.types.LongType)
  def toFloat32(c: Column): Column = c.cast("float")
  def toFloat64(c: Column): Column = c.cast("double")
  // FixedString -> String conversion cuts the \0 padding back off (ref
  // src/Functions/FunctionsConversion.h fixed-string path); harmless for
  // ordinary strings, which never carry trailing NULs
  def toStringCh(c: Column): Column =
    rtrim(c.cast("string"), "\u0000")
  def toDateCh(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    val e = EE(c)
    // CH readDateText accepts ANY non-digit separator (YYYY*M*D — ref
    // src/IO/ReadHelpers.h readDateTextImpl); strict failures keep the
    // ANSI cast's error
    if (e.resolved && e.dataType == org.apache.spark.sql.types.StringType) {
      val re = "^(\\d{4})\\D(\\d{1,2})\\D(\\d{1,2})"
      when(c.rlike(re), make_date(
        regexp_extract(c, re, 1).cast("int"),
        regexp_extract(c, re, 2).cast("int"),
        regexp_extract(c, re, 3).cast("int")))
        .otherwise(c.cast("date"))
    } else c.cast("date")
  }
  /** String DateTime parse treats an all-digit string as a unix
    * timestamp (ref src/IO/ReadHelpers.h readDateTimeTextImpl: 5th char
    * not '-' → numeric path); 'YYYY-MM-DD…' parses as text. */
  def toDateTime(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    val e = EE(c)
    if (e.resolved && e.dataType == org.apache.spark.sql.types.StringType)
      when(c.rlike("^\\d+$"), c.cast("bigint").cast("timestamp"))
        .otherwise(c.cast("timestamp"))
    else c.cast("timestamp")
  }
  def toInt64OrNull(c: Column): Column = c.try_cast("bigint")
  def toInt32OrNull(c: Column): Column = c.try_cast("int")
  def toFloat64OrNull(c: Column): Column = c.try_cast("double")
  def toInt64OrZero(c: Column): Column = coalesce(c.try_cast("bigint"), lit(0L))
  def toInt32OrZero(c: Column): Column = coalesce(c.try_cast("int"), lit(0))
  def toFloat64OrZero(c: Column): Column = coalesce(c.try_cast("double"), lit(0.0))
  def accurateCast(c: Column, t: String): Column = c.cast(t)
  def accurateCastOrNull(c: Column, t: String): Column = c.try_cast(t)

  // ---- date/time (ref src/Functions/DateTimeTransforms.h) ----
  def toYear(c: Column): Column = year(c)
  def toQuarter(c: Column): Column = quarter(c)
  def toMonth(c: Column): Column = month(c)
  def toDayOfMonth(c: Column): Column = dayofmonth(c)
  /** CH: Monday=1..Sunday=7 (ISO); Spark dayofweek: Sunday=1. */
  // direct DayOfWeek node: the SQL name `dayofweek` is shadowed by the
  // CH-semantics DAYOFWEEK registration, so functions.dayofweek here
  // would double-apply the Monday=1 shift
  def toDayOfWeek(c: Column): Column = {
    val dow = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.DayOfWeek(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
    ((dow + 5) % 7) + 1
  }
  def toDayOfYear(c: Column): Column = dayofyear(c)
  def toHour(c: Column): Column = hour(c)
  def toMinute(c: Column): Column = minute(c)
  def toSecond(c: Column): Column = second(c)
  // toStartOfYear/Quarter/Month/toMonday return Date for ANY input in CH
  // (ref DateTimeTransforms.h: UInt16 execute overloads for all four
  // input types) — the TruncDate node carries that DateType result
  // (built directly: functions.trunc emits an UNRESOLVED "trunc" call,
  // which resolves into the registered CH numeric trunc)
  private def truncDate(c: Column, unit: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    val t = CC(org.apache.spark.sql.catalyst.expressions.TruncDate(
      EE(c.cast("date")),
      org.apache.spark.sql.catalyst.expressions.Literal(unit)))
    // Date-returning rounders SATURATE at the epoch (ref
    // DateLUTImpl.h — day index 0 is the floor; 02096): a truncation
    // that lands before 1970-01-01 clamps to it
    greatest(t, to_date(lit("1970-01-01")))
  }
  def toStartOfYear(c: Column): Column = truncDate(c, "year")
  def toStartOfQuarter(c: Column): Column = truncDate(c, "quarter")
  def toStartOfMonth(c: Column): Column = truncDate(c, "month")
  def toStartOfWeek(c: Column): Column = truncDate(c, "week")
  def toMonday(c: Column): Column = truncDate(c, "week")
  def toStartOfDay(c: Column): Column = date_trunc("day", c)
  def toStartOfHour(c: Column): Column = date_trunc("hour", c)
  def toStartOfMinute(c: Column): Column = date_trunc("minute", c)
  def toStartOfSecond(c: Column): Column = date_trunc("second", c)
  private def startOfSeconds(c: Column, secs: Int): Column =
    timestamp_seconds(floor(unix_timestamp(c) / secs) * secs)
  def toStartOfFiveMinutes(c: Column): Column = startOfSeconds(c, 300)
  def toStartOfTenMinutes(c: Column): Column = startOfSeconds(c, 600)
  def toStartOfFifteenMinutes(c: Column): Column = startOfSeconds(c, 900)
  def toStartOfInterval(c: Column, seconds: Int): Column = startOfSeconds(c, seconds)
  def toYYYYMM(c: Column): Column = date_format(c, "yyyyMM").cast("int")
  def toYYYYMMDD(c: Column): Column = date_format(c, "yyyyMMdd").cast("int")
  def addSeconds(c: Column, n: Column): Column = timestamp_seconds(unix_timestamp(c) + n)
  def addMinutes(c: Column, n: Column): Column = timestamp_seconds(unix_timestamp(c) + n * 60)
  def addHours(c: Column, n: Column): Column = timestamp_seconds(unix_timestamp(c) + n * 3600)
  def addDays(c: Column, n: Column): Column = timestamp_add("DAY", n, c)
  def addWeeks(c: Column, n: Column): Column = timestamp_add("WEEK", n, c)
  def addMonths(c: Column, n: Column): Column = timestamp_add("MONTH", n, c)
  def addQuarters(c: Column, n: Column): Column = timestamp_add("QUARTER", n, c)
  def addYears(c: Column, n: Column): Column = timestamp_add("YEAR", n, c)
  def subtractSeconds(c: Column, n: Column): Column = addSeconds(c, -n)
  def subtractMinutes(c: Column, n: Column): Column = addMinutes(c, -n)
  def subtractHours(c: Column, n: Column): Column = addHours(c, -n)
  def subtractDays(c: Column, n: Column): Column = timestamp_add("DAY", -n, c)
  def subtractWeeks(c: Column, n: Column): Column = timestamp_add("WEEK", -n, c)
  def subtractMonths(c: Column, n: Column): Column = timestamp_add("MONTH", -n, c)
  def subtractYears(c: Column, n: Column): Column = timestamp_add("YEAR", -n, c)
  /** CH dateDiff(unit, start, end). */
  def dateDiff(unit: String, a: Column, b: Column): Column =
    timestamp_diff(unit.toUpperCase, a, b)
  def toUnixTimestamp(c: Column): Column = unix_timestamp(c)
  def fromUnixTimestamp(c: Column): Column = timestamp_seconds(c)
  def toTimeZone(c: Column, tz: String): Column = from_utc_timestamp(c, tz)
  def nowCh(): Column = current_timestamp()
  def todayCh(): Column = current_date()
  def yesterdayCh(): Column = date_sub(current_date(), 1)
  def timeSlot(c: Column): Column = startOfSeconds(c, 1800)
  def toRelativeDayNum(c: Column): Column = (unix_timestamp(c) / 86400L).cast("int")
  def toRelativeHourNum(c: Column): Column = (unix_timestamp(c) / 3600L).cast("int")
  def toRelativeMinuteNum(c: Column): Column = (unix_timestamp(c) / 60L).cast("int")
  def monthName(c: Column): Column = date_format(c, "MMMM")

  /** formatDateTime with MySQL-style % patterns
    * (ref src/Functions/formatDateTime.cpp). %G/%g (ISO week-based year)
    * can't ride on date_format — Spark's Java-time patterns reject the
    * week-based 'Y' — so they're computed from toISOYear and spliced in. */
  def formatDateTime(c: Column, fmt: String): Column = {
    if (!fmt.contains("%G") && !fmt.contains("%g") && !fmt.contains("%C") &&
      !fmt.contains("%e"))
      date_format(c, mysqlToJavaFormat(fmt))
    else {
      val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
      val buf = new StringBuilder
      def flush(): Unit =
        if (buf.nonEmpty) { parts += date_format(c, mysqlToJavaFormat(buf.toString)); buf.clear() }
      var i = 0
      while (i < fmt.length) {
        if (fmt.startsWith("%G", i)) {
          flush(); parts += lpad(toISOYear(c).cast("string"), 4, "0"); i += 2
        } else if (fmt.startsWith("%g", i)) {
          flush(); parts += lpad((toISOYear(c) % 100).cast("string"), 2, "0"); i += 2
        } else if (fmt.startsWith("%C", i)) {
          // century: year/100 truncated (ref formatDateTime.cpp)
          flush(); parts += lpad(floor(year(c) / 100).cast("int")
            .cast("string"), 2, "0"); i += 2
        } else if (fmt.startsWith("%e", i)) {
          // space-padded day of month (" 2")
          flush(); parts += lpad(dayofmonth(c).cast("string"), 2, " ")
          i += 2
        } else { buf.append(fmt.charAt(i)); i += 1 }
      }
      flush()
      concat(parts.toSeq: _*)
    }
  }
  def mysqlToJavaFormat(f: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < f.length) {
      if (f(i) == '%' && i + 1 < f.length) {
        sb.append(f(i + 1) match {
          case 'Y' => "yyyy"; case 'y' => "yy"; case 'm' | 'c' => "MM"
          case 'd' => "dd"; case 'H' | 'k' => "HH"; case 'h' | 'I' => "hh"
          // this reference version's %M is MINUTES (pre-MySQL-compat
          // default; pinned by 01411), %i likewise
          case 'i' | 'M' => "mm"; case 'b' => "MMM"
          case 'S' | 's' => "ss"; case 'p' => "a"; case 'j' => "DDD"
          case 'a' => "EEE"; case 'W' => "EEEE"
          case 'F' => "yyyy-MM-dd"; case 'T' => "HH:mm:ss"
          case 'R' => "HH:mm"; case 'D' => "MM/dd/yy"
          case 'r' => "hh:mm a"; case 'n' => "\n"; case 't' => "\t"
          case '%' => "%"; case other => other.toString
        })
        i += 2
      } else if (f(i).isLetter) {
        // literal letters must be QUOTED in java.time patterns (a bare
        // 'T' in '%Y-%m-%dT%H:%M:%SZ' would otherwise be a pattern char)
        sb.append('\'')
        while (i < f.length && f(i).isLetter && f(i) != '%') {
          sb.append(f(i)); i += 1
        }
        sb.append('\'')
      } else { sb.append(f(i)); i += 1 }
    }
    sb.toString
  }

  // ---- arithmetic (ref src/Functions/{plus,minus,intDiv,modulo}.cpp) ----
  def plus(a: Column, b: Column): Column = a + b
  def minus(a: Column, b: Column): Column = a - b
  def multiply(a: Column, b: Column): Column = a * b
  def divide(a: Column, b: Column): Column = a.cast("double") / b.cast("double")
  // division truncated toward zero (ref DivisionUtils.h: C++ a/b for
  // ints, float divide then static_cast for floats; 00977/01350 golden
  // outputs pin truncation, not floor). Decimal lanes keep Long-range
  // operands exact where a double quotient would round, and keep
  // float operands working where a bigint pre-cast would corrupt them.
  def intDiv(a: Column, b: Column): Column =
    (a.cast("decimal(38,9)") / b.cast("decimal(38,9)")).cast("bigint")
  def intDivOrZero(a: Column, b: Column): Column =
    when(b === 0, lit(0L)).otherwise(intDiv(a, b))
  def modulo(a: Column, b: Column): Column = a % b
  def moduloOrZero(a: Column, b: Column): Column =
    when(b === 0, lit(0L)).otherwise(a % b)
  def negate(c: Column): Column = -c
  def gcdCh(a: Column, b: Column): Column = call_function("gcd", a, b)
  def lcmCh(a: Column, b: Column): Column = call_function("lcm", a, b)

  // ---- rounding (ref src/Functions/FunctionsRound.h) ----
  def roundBankers(c: Column, s: Int = 0): Column = bround(c, s)
  def roundToExp2(c: Column): Column =
    when(c < 1, lit(0)).otherwise(pow(lit(2), floor(log(2.0, c))).cast("bigint"))
  def roundDuration(c: Column): Column = {
    val bounds = Seq(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
      3600, 7200, 18000, 36000)
    bounds.foldLeft(lit(0)) { (acc, b) => when(c >= b, lit(b)).otherwise(acc) }
  }
  def roundAge(c: Column): Column = {
    val bounds = Seq(1, 18, 25, 35, 45, 55)
    bounds.foldLeft(lit(0)) { (acc, b) => when(c >= b, lit(b)).otherwise(acc) }
  }

  // ---- conditionals (ref if.cpp, multiIf.cpp) ----
  def ifCh(cond: Column, t: Column, f: Column): Column = when(cond, t).otherwise(f)
  def multiIf(args: Seq[Column]): Column = {
    require(args.length % 2 == 1, "multiIf needs cond/then pairs + else")
    val pairs = args.dropRight(1).grouped(2).toSeq
    pairs.foldRight(args.last) { case (Seq(c, v), els) => when(c, v).otherwise(els) }
  }
  def ifNull(a: Column, b: Column): Column = coalesce(a, b)
  def nullIf(a: Column, b: Column): Column = nullif(a, b)
  def assumeNotNull(c: Column): Column = c
  def isNullCh(c: Column): Column = c.isNull
  def isNotNullCh(c: Column): Column = c.isNotNull
  def isFinite(c: Column): Column = !isnan(c) && c =!= Double.PositiveInfinity &&
    c =!= Double.NegativeInfinity
  def isInfinite(c: Column): Column =
    c === Double.PositiveInfinity || c === Double.NegativeInfinity
  def isNaNCh(c: Column): Column = isnan(c)

  // ---- strings (ref src/Functions/{lengthUTF8,substring,trim}.cpp …) ----
  def lengthUTF8(c: Column): Column = length(c)
  // direct Catalyst nodes: functions.lower/upper emit UNRESOLVED calls
  // that would resolve into the ASCII-only `lower`/`upper` registered
  // below (same trap as rand/factorial/hex)
  def lowerUTF8(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    CC(org.apache.spark.sql.catalyst.expressions.Lower(EE(c)))
  }
  def upperUTF8(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    CC(org.apache.spark.sql.catalyst.expressions.Upper(EE(c)))
  }
  // CH's plain lower/upper are ASCII-only byte transforms (ref
  // src/Functions/LowerUpperImpl.h — flips bit 0x20 for [A-Za-z] only);
  // non-ASCII bytes pass through. translate() keeps it codegen'd.
  private val azU = ('A' to 'Z').mkString
  private val azL = ('a' to 'z').mkString
  def lowerAscii(c: Column): Column = translate(c, azU, azL)
  def upperAscii(c: Column): Column = translate(c, azL, azU)
  def substringUTF8(c: Column, p: Column, l: Column): Column = c.substr(p, l)
  def concatWithSeparator(sep: String, cols: Seq[Column]): Column =
    concat_ws(sep, cols: _*)
  def trimBoth(c: Column): Column = trim(c)
  def trimLeft(c: Column): Column = ltrim(c)
  def trimRight(c: Column): Column = rtrim(c)
  def leftPad(c: Column, len: Int, pad: String): Column = lpad(c, len, pad)
  def rightPad(c: Column, len: Int, pad: String): Column = rpad(c, len, pad)
  def reverseUTF8(c: Column): Column = reverse(c)
  def repeatCh(c: Column, n: Column): Column = call_function("repeat", c, n)
  // direct Catalyst nodes: the registered CH names shadow Spark's
  // startswith/endswith (case-insensitive), so Column.startsWith would
  // resolve back into this registration forever
  def startsWith(c: Column, p: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.StartsWith(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(p)))
  def endsWith(c: Column, p: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.EndsWith(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(p)))
  // empty input stays empty (ref appendTrailingCharIfAbsent.cpp checks
  // size() before the trailing-byte compare)
  def appendTrailingCharIfAbsent(c: Column, ch: String): Column =
    when(length(c) === 0 || endsWith(c, lit(ch)), c)
      .otherwise(concat(c, lit(ch)))
  def asciiCh(c: Column): Column = ascii(c)
  // empty(IP) means "the zero address" (ref FunctionsCodingIP /
  // FunctionEmpty on IPv4/IPv6); strings/arrays use length
  private def isZeroIp(c: Column): Option[Column] = {
    val e = org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
    if (e.resolved && ChIp.isIpType(e.dataType))
      Some(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        IpUnwrap(e)) === (e.dataType match {
          case _: IPv6UDT => lit(new Array[Byte](16))
          case _ => lit(0L)
        }))
    else None
  }
  // UUIDs surface as canonical strings here; empty(UUID) means the
  // all-zero UUID (ref FunctionEmpty UUID specialization)
  private val zeroUuid = "00000000-0000-0000-0000-000000000000"
  private def isStringTyped(c: Column): Boolean = {
    val e = org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
    e.resolved && e.dataType == org.apache.spark.sql.types.StringType
  }
  def emptyCh(c: Column): Column =
    isZeroIp(c).getOrElse(
      if (isStringTyped(c)) length(c) === 0 || c === zeroUuid
      else length(c) === 0)
  def notEmptyCh(c: Column): Column =
    isZeroIp(c).map(!_).getOrElse(
      if (isStringTyped(c)) length(c) > 0 && !(c === zeroUuid)
      else length(c) > 0)

  // search/replace (ref position.cpp, match.cpp, replaceAll.cpp)
  // CH position: BYTE offsets (UTF-8), empty needle found at 1 (ref
  // src/Functions/PositionImpl.h); Spark's locate is character-based,
  // so convert the found prefix back to its byte length
  def position(h: Column, n: Column): Column = {
    val at = call_function("locate", n, h)
    when(length(n) === 0, lit(1))
      .otherwise(when(at === 0, lit(0))
        .otherwise(octet_length(substring(h, lit(1), at - 1)) + 1))
  }
  /** 3-arg form (ref src/Functions/position.cpp start_pos): search from
    * the given 1-based position (0 behaves as 1); empty needle returns
    * the clamped start while it is ≤ len+1, else 0. */
  def position3(h: Column, n: Column, p0: Column): Column = {
    val p = greatest(p0.cast("int"), lit(1))
    // start_pos and the result are BYTE offsets (ref PositionImpl.h):
    // slice the haystack as binary so a start inside a multi-byte
    // sequence re-syncs on the needle's bytes exactly like the
    // reference's byte-wise searcher (00233's 'абвабв' cases)
    val hl = octet_length(h)
    when(length(n) === 0,
      when(p <= hl + 1, p).otherwise(lit(0)))
      .otherwise {
        val suffix = substring(h.cast("binary"), p, lit(1073741823))
          .cast("string")
        val rel = position(suffix, n)
        when(rel === 0, lit(0)).otherwise(rel + p - 1)
      }
  }
  /** positionUTF8 3-arg: character positions (locate handles the
    * start offset natively). */
  def position3Chars(h: Column, n: Column, p0: Column): Column = {
    val p = greatest(p0.cast("int"), lit(1))
    when(length(n) === 0,
      when(p <= length(h) + 1, p).otherwise(lit(0)))
      .otherwise(call_function("locate", n, h, p))
  }
  // ASCII case-fold + byte offsets (ref PositionCaseInsensitiveASCII)
  def positionCaseInsensitive(h: Column, n: Column): Column =
    position(lowerAscii(h), lowerAscii(n))
  // Unicode case-fold + character offsets (ref PositionCaseInsensitiveUTF8)
  def positionCaseInsensitiveUTF8(h: Column, n: Column): Column =
    when(length(n) === 0, lit(1))
      .otherwise(call_function("locate", lowerUTF8(n), lowerUTF8(h)))
  def matchCh(c: Column, re: String): Column = c.rlike(re)
  /** CH extract/extractAll take the FIRST capture group when the pattern
    * has one, else the whole match (ref src/Functions/extract.cpp,
    * extractAll via OptimizedRegularExpression required-substring). */
  private def groupIdx(re: String): Int = {
    val n = try java.util.regex.Pattern.compile(re).matcher("").groupCount()
    catch { case _: Exception => 0 }
    if (n >= 1) 1 else 0
  }
  def extract(c: Column, re: String): Column =
    regexp_extract(c, re, groupIdx(re))
  def extractAllCh(c: Column, re: String): Column =
    if (re.isEmpty) array().cast("array<string>") // CH: no matches (01085)
    else call_function("regexp_extract_all", c, lit(re), lit(groupIdx(re)))
  def replaceAll(c: Column, from: String, to: String): Column =
    call_function("replace", c, lit(from), lit(to))
  def replaceOne(c: Column, from: String, to: String): Column = {
    val p = instr(c, from)
    when(p === 0, c).otherwise(concat(
      c.substr(lit(1), p - 1), lit(to), c.substr(p + from.length, length(c))))
  }
  /** CH re2 replacement strings use \1 backrefs; Spark uses $1. */
  private def reBackrefs(to: String): String =
    to.replaceAll("\\\\(\\d)", "\\$$$1")
  def replaceRegexpAll(c: Column, re: String, to: String): Column =
    regexp_replace(c, re, reBackrefs(to))
  def replaceRegexpOne(c: Column, re: String, to: String): Column = {
    // Replace only the FIRST match: extend the pattern with a tail group
    // that swallows the rest of the string, so the regex can only match
    // once, and re-append the tail in the replacement. Group numbering of
    // user backrefs is preserved by the non-capturing wrapper.
    val tailGroup = countGroups(re)
    regexp_replace(c, "(?s)(?:" + re + ")(.*)$",
      reBackrefs(to) + "$" + tailGroup)
  }
  /** index of the appended tail group = user groups + 1. */
  private def countGroups(re: String): Int =
    java.util.regex.Pattern.compile(re).matcher("").groupCount() + 1
  def countSubstrings(h: Column, n: String): Column =
    ((length(h) - length(call_function("replace", h, lit(n), lit("")))) /
      n.length).cast("bigint")
  def multiSearchAny(h: Column, needles: Seq[String]): Column =
    needles.map(n => h.contains(lit(n))).reduce(_ || _)
  def multiSearchFirstIndex(h: Column, needles: Seq[String]): Column =
    needles.zipWithIndex.foldRight(lit(0)) { case ((n, i), els) =>
      when(h.contains(lit(n)) &&
        needles.take(i).map(m => !h.contains(lit(m)))
          .foldLeft(lit(true))(_ && _), lit(i + 1)).otherwise(els)
    }
  def hasToken(h: Column, tok: String): Column =
    array_contains(split(h, "[^A-Za-z0-9]+"), tok)

  // split/join (ref FunctionsStringArray.h)
  def splitByChar(sep: String, c: Column): Column =
    split(c, java.util.regex.Pattern.quote(sep))
  /** CH: empty separator splits into one element per char (and '' -> []);
    * non-empty separator on '' gives [''] like Spark
    * (tests/queries/0_stateless/01100_split_by_string.sql). */
  def splitByString(sep: String, c: Column): Column =
    if (sep.isEmpty)
      when(length(c) === 0, array().cast("array<string>"))
        .otherwise(split(c, "(?!^)(?!$)"))
    else split(c, java.util.regex.Pattern.quote(sep))
  def splitByRegexp(re: String, c: Column): Column =
    if (re.isEmpty)
      when(length(c) === 0, array().cast("array<string>"))
        .otherwise(split(c, "(?!^)(?!$)"))
    else split(c, re)
  // leading/trailing whitespace produces NO boundary empties (ref
  // FunctionsStringArray.h SplitByWhitespaceImpl skips separator runs)
  def splitByWhitespace(c: Column): Column =
    array_remove(split(c, "\\s+"), "")
  def alphaTokens(c: Column): Column =
    array_remove(split(c, "[^A-Za-z]+"), "")
  // whitespace AND punctuation separators (ref FunctionsStringArray.h:40)
  def splitByNonAlpha(c: Column): Column =
    array_remove(split(c, "[\\s\\p{Punct}]+"), "")
  def arrayStringConcat(a: Column, sep: String = ""): Column = array_join(a, sep)

  // ---- arrays (ref src/Functions/array/) ----
  def has(a: Column, v: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    import org.apache.spark.sql.catalyst.expressions.Literal
    EE(v) match {
      // has(arr, NULL) asks for a NULL element (ref
      // src/Functions/array/has.cpp null-searching path); Spark's
      // array_contains rejects a NULL needle
      case Literal(null, _) => exists(a, _.isNull)
      // null ELEMENTS never match a non-null needle: 0, not Spark's
      // three-valued NULL (has.cpp)
      case _ => coalesce(array_contains(a, v), lit(false))
    }
  }
  def hasAll(a: Column, b: Column): Column = size(array_except(b, a)) === 0
  def hasAny(a: Column, b: Column): Column = arrays_overlap(a, b)
  def indexOf(a: Column, v: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    import org.apache.spark.sql.catalyst.expressions.Literal
    EE(v) match {
      // NULL needle finds the first NULL element (indexOf.cpp)
      case Literal(null, _) =>
        array_position(transform(a, _.isNull), lit(true))
      case _ => coalesce(array_position(a, v), lit(0L))
    }
  }
  def countEqual(a: Column, v: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}
    import org.apache.spark.sql.catalyst.expressions.Literal
    EE(v) match {
      case Literal(null, _) => size(filter(a, _.isNull))
      case _ => size(filter(a, x => x === v))
    }
  }
  // range(0) is [] — Spark's sequence(0, -1) would count DOWN
  def rangeCh(n: Column): Column =
    when(n > 0, sequence(lit(0), n - 1))
      .otherwise(slice(sequence(lit(0), lit(0)), 1, 0))
  def arrayConcat(xs: Seq[Column]): Column = concat(xs: _*)
  def arraySlice(a: Column, off: Column, len: Column): Column = slice(a, off, len)
  def arrayPushBack(a: Column, v: Column): Column = concat(a, array(v))
  def arrayPushFront(a: Column, v: Column): Column = concat(array(v), a)
  def arrayPopBack(a: Column): Column = slice(a, lit(1), greatest(size(a) - 1, lit(0)))
  def arrayPopFront(a: Column): Column = slice(a, lit(2), greatest(size(a) - 1, lit(0)))
  def arraySortCh(a: Column): Column = array_sort(a)
  def arrayReverseSort(a: Column): Column = reverse(array_sort(a))
  def arrayReverse(a: Column): Column = reverse(a)
  /** CH arrayDistinct also drops NULLs
    * (tests/queries/0_stateless/00691_array_distinct.sql). */
  def arrayDistinct(a: Column): Column =
    filter(array_distinct(a), x => x.isNotNull)
  def arrayUniq(a: Column): Column = size(array_distinct(a))
  /** previous-element array: [null, a(0), …, a(n-2)] (same length as a) */
  private def shifted(a: Column): Column =
    slice(concat(array(lit(null)), a), lit(1), size(a))
  def arrayCompact(a: Column, floating: Boolean = false): Column =
    // remove consecutive duplicates: keep x(i) where i=0 or x(i) differs
    // from x(i-1) under NULL-SAFE equality — CH compacts a NULL run to
    // one NULL, and compares floats by BIT PATTERN (nan==nan compacts;
    // only the sign-differing -nan survives, which Spark cannot
    // represent distinctly — documented divergence). Ref arrayCompact.cpp,
    // pinned by 01025's nan rows.
    filter(a, (_, i) => i === 0 || !(get(a, i) <=> get(a, i - 1)))
  def arrayFlatten(a: Column): Column = flatten(a)
  def arrayIntersect(a: Column, b: Column): Column = array_intersect(a, b)
  def arrayZip(a: Column, b: Column): Column = arrays_zip(a, b)
  def arrayDifference(a: Column): Column =
    zip_with(a, shifted(a),
      (x, prev) => when(prev.isNull, lit(0)).otherwise(x - prev))
  def arrayCumSum(a: Column): Column =
    aggregate(a, array().cast("array<bigint>"),
      (acc, x) => concat(acc,
        array(coalesce(get(acc, size(acc) - 1), lit(0L)) + x)))
  def arraySum(a: Column): Column = aggregate(a, lit(0L), (s, x) => s + x)
  def arraySumD(a: Column): Column = aggregate(a, lit(0.0), (s, x) => s + x)
  def arrayMin(a: Column): Column = array_min(a)
  def arrayMax(a: Column): Column = array_max(a)
  def arrayAvg(a: Column): Column =
    arraySumD(a) / greatest(size(a), lit(1)).cast("double")
  def arrayProduct(a: Column): Column = aggregate(a, lit(1.0), (s, x) => s * x)
  // array_repeat, not transform(sequence(1, n)): sequence(1, 0) counts
  // DOWN in Spark, so n=0 would yield 2 elements instead of none
  def arrayWithConstant(n: Column, v: Column): Column =
    array_repeat(v, greatest(n, lit(0)).cast("int"))
  def emptyArrayInt64(): Column = array().cast("array<bigint>")
  def emptyArrayString(): Column = array().cast("array<string>")
  def arrayMap(f: Column => Column, a: Column): Column = transform(a, f)
  def arrayFilter(f: Column => Column, a: Column): Column = filter(a, f)
  def arrayExists(f: Column => Column, a: Column): Column = exists(a, f)
  def arrayAll(f: Column => Column, a: Column): Column = forall(a, f)
  def arrayCount(f: Column => Column, a: Column): Column = size(filter(a, f))
  def arrayFirst(f: Column => Column, a: Column): Column = get(filter(a, f), lit(0))
  def arrayFirstIndex(f: Column => Column, a: Column): Column =
    coalesce(array_position(transform(a, f), lit(true)), lit(0L))
  // sequence(1, 0) would count DOWN to [1,0] — an empty array must
  // enumerate to [] (ref src/Functions/array/arrayEnumerate.cpp)
  def arrayEnumerate(a: Column): Column =
    when(size(a) > 0, sequence(lit(1), size(a)))
      .otherwise(array().cast("array<int>"))
  // vector math (ref arrayDistance.cpp, arrayNorm.cpp) — see also
  // graft.operators.Similarity for the search operators built on these
  def dotProduct(a: Column, b: Column): Column =
    graft.operators.Similarity.dot(a, b)
  def arrayL2Norm(a: Column): Column = graft.operators.Similarity.norm(a)
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - graft.operators.Similarity.cosine(a, b)
  def arrayL2Distance(a: Column, b: Column): Column =
    graft.operators.Similarity.l2Distance(a, b)

  // ---- maps (ref src/Functions/map.cpp) ----
  def mapKeys(m: Column): Column = map_keys(m)
  def mapValues(m: Column): Column = map_values(m)
  def mapContains(m: Column, k: Column): Column = map_contains_key(m, k)

  // ---- tuples ----
  def tuple(xs: Seq[Column]): Column = struct(xs: _*)
  def tupleElement(t: Column, i: Int): Column = t.getField(s"col$i")

  // ---- JSON (ref FunctionsJSON.cpp; CH paths are key chains) ----
  def jsonExtractString(j: Column, key: String): Column =
    get_json_object(j, s"$$.$key")
  def jsonExtractInt(j: Column, key: String): Column =
    get_json_object(j, s"$$.$key").cast("bigint")
  def jsonExtractFloat(j: Column, key: String): Column =
    get_json_object(j, s"$$.$key").cast("double")
  def visitParamExtractString(j: Column, key: String): Column =
    coalesce(get_json_object(j, s"$$.$key"),
      get_json_object(concat(lit("{"), j, lit("}")), s"$$.$key"), lit(""))
  def visitParamExtractInt(j: Column, key: String): Column =
    coalesce(get_json_object(j, s"$$.$key").try_cast("bigint"),
      get_json_object(concat(lit("{"), j, lit("}")), s"$$.$key")
        .try_cast("bigint"), lit(0L))
  def jsonHas(j: Column, key: String): Column =
    get_json_object(j, s"$$.$key").isNotNull
  def isValidJSON(j: Column): Column =
    call_function("try_parse_json", j).isNotNull

  // ---- URL (ref src/Functions/URL/) ----
  /** CH URL functions accept scheme-less URLs ('www.ex.com/a');
    * parse_url needs a scheme, so default one in
    * (tests 01199_url_functions_path_without_schema_yiurule). */
  private def withScheme(u: Column): Column =
    when(u.contains("://"), u).otherwise(concat(lit("http://"), u))
  def domain(u: Column): Column = parse_url(withScheme(u), lit("HOST"))
  def pathCh(u: Column): Column = parse_url(withScheme(u), lit("PATH"))
  def pathFull(u: Column): Column =
    concat(parse_url(withScheme(u), lit("PATH")),
      when(parse_url(withScheme(u), lit("QUERY")).isNotNull,
        concat(lit("?"), parse_url(withScheme(u), lit("QUERY"))))
        .otherwise(lit("")))
  def queryString(u: Column): Column = parse_url(withScheme(u), lit("QUERY"))
  def fragment(u: Column): Column = parse_url(withScheme(u), lit("REF"))
  def protocol(u: Column): Column = parse_url(u, lit("PROTOCOL"))
  def extractURLParameter(u: Column, p: String): Column =
    parse_url(u, lit("QUERY"), lit(p))
  def cutWWW(u: Column): Column = regexp_replace(u, "(^|//)www\\.", "$1")
  def topLevelDomain(u: Column): Column =
    regexp_extract(parse_url(u, lit("HOST")), "\\.([a-z]+)$", 1)
  def cutQueryString(u: Column): Column = regexp_replace(u, "\\?[^#]*", "")
  def netloc(u: Column): Column = parse_url(u, lit("HOST"))
  def portCh(u: Column): Column =
    coalesce(regexp_extract(u, "://[^/]*:(\\d+)", 1).try_cast("int"), lit(0))

  /** firstSignificantSubdomain (ref URL/firstSignificantSubdomain.cpp):
    * the registrable label — the label left of the public suffix. CH uses
    * a TLD table; this uses the standard heuristic (a short second-level
    * label like co/com/org/net/gov/edu/ac before a 2-letter ccTLD is part
    * of the suffix). */
  def firstSignificantSubdomain(u: Column): Column = {
    val labels = split(domain(u), "\\.")
    val n = size(labels)
    val sld = element_at(labels, n - 1) // second-to-last label
    when(n >= 3 &&
        sld.isin("co", "com", "org", "net", "gov", "edu", "ac") &&
        length(element_at(labels, n)) === 2,
      element_at(labels, n - 2)).otherwise(
      when(n >= 2, sld).otherwise(element_at(labels, lit(1))))
  }

  /** cutToFirstSignificantSubdomain: domain truncated to start at the
    * first significant subdomain ('news.clickhouse.com' → 'clickhouse.com'). */
  def cutToFirstSignificantSubdomain(u: Column): Column = {
    val labels = split(domain(u), "\\.")
    val n = size(labels)
    val keep3 = n >= 3 &&
      element_at(labels, n - 1)
        .isin("co", "com", "org", "net", "gov", "edu", "ac") &&
      length(element_at(labels, n)) === 2
    when(keep3, concat_ws(".", slice(labels, n - 2, lit(3))))
      .otherwise(when(n >= 2, concat_ws(".", slice(labels, n - 1, lit(2))))
        .otherwise(element_at(labels, lit(1))))
  }

  /** CH uses percent-encoding, not form-encoding: space is %20 (never
    * '+'), and a literal '+' survives decoding. */
  def encodeURLComponent(c: Column): Column =
    regexp_replace(url_encode(c), "\\+", "%20")
  def decodeURLComponent(c: Column): Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  // ---- hash/encoding (ref FunctionsHashing.h; sipHash/cityHash values
  // intentionally NOT bit-compatible — documented divergence, stable
  // within this engine) ----
  /** Spark's builtin XXH64 (seed 42) as a direct Catalyst node: the SQL
    * name `xxhash64` is shadowed by the CH-exact xxHash64 temp-function
    * registration (Spark 4 resolves functions.xxhash64 BY NAME), so
    * engine-internal hashing must not go through name resolution. */
  def sparkXxhash64(cols: Column*): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    CC(new org.apache.spark.sql.catalyst.expressions.XxHash64(cols.map(EE)))
  }
  def cityHash64(cols: Seq[Column]): Column = sparkXxhash64(cols: _*)
  def sipHash64(cols: Seq[Column]): Column = sparkXxhash64(cols: _*)
  def halfMD5(c: Column): Column =
    call_function("conv", substring(md5(c), 1, 15), lit(16), lit(10))
      .cast("bigint")
  def md5Ch(c: Column): Column = md5(c)
  def sha256Ch(c: Column): Column = sha2(c, 256)
  /** CH hex() renders whole bytes — odd-length Spark output gets a
    * leading 0 (hex(10) = '0A', tests 01656_test_hex_mysql_dialect).
    * Built on the Catalyst Hex node directly: Spark 4's functions.hex
    * emits an UNRESOLVED "hex" call, which would resolve back into this
    * builder when registered under the same name and grow the tree until
    * the analyzer dies (same trap as rand/factorial). */
  def hexCh(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Hex, UnscaledValue}
    import org.apache.spark.sql.types.DecimalType
    val e = EE(c)
    def tryLong(col: Column) =
      CC(Cast(EE(col), org.apache.spark.sql.types.LongType, None,
        EvalMode.TRY))
    val dt =
      if (e.resolved) e.dataType else org.apache.spark.sql.types.NullType
    dt match {
      // CH UInt64 surfaces as Decimal(20,0) here (hash results); hex of
      // it is the unsigned 64-bit value → recover the signed-long bit
      // pattern before Spark's Hex (which prints longs unsigned)
      case d: DecimalType if d == DecimalType(20, 0) =>
        val src = coalesce(tryLong(c),
          tryLong(c - lit("18446744073709551616").cast("decimal(21,0)")))
        val h = CC(Hex(EE(src)))
        // whole-byte render: odd digit counts get the intra-byte zero
        when(length(h) % 2 === 1, concat(lit("0"), h)).otherwise(h)
      // CH hex(Decimal32/64) prints the unscaled value's LITTLE-endian
      // bytes at the type's storage width (ref
      // src/Functions/FunctionsBinaryRepresentation.cpp hexImpl)
      case d: DecimalType =>
        // Decimal128's 16-byte render is exact while the unscaled value
        // fits a long (UnscaledValue) — sign-extension fills the rest
        val width = if (d.precision <= 9) 4
          else if (d.precision <= 18) 8 else 16
        val u = CC(UnscaledValue(e))
        // bytes past the long (Decimal128 8..15) are sign extension —
        // Spark's shiftright masks the distance to &63, so shift 63
        val parts = (0 until width).map { i =>
          val b = if (i < 8) shiftright(u, 8 * i) else shiftright(u, 63)
          lpad(CC(Hex(EE(b.bitwiseAND(lit(255L))))), 2, "0")
        }
        upper(concat(parts: _*))
      case _ =>
        val h = CC(Hex(e))
        when(length(h) % 2 === 1, concat(lit("0"), h)).otherwise(h)
    }
  }
  /** CH factorial: 1 for anything below 2 (tests 02478_factorial). */
  def factorialCh(c: Column): Column =
    when(c < 2, lit(1L)).otherwise(factorial(c.cast("int")).cast("bigint"))
  def unhexCh(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    CC(org.apache.spark.sql.catalyst.expressions.Unhex(EE(c)))
  }
  def base64Encode(c: Column): Column = base64(c.cast("binary"))
  def base64Decode(c: Column): Column = unbase64(c).cast("string")
  def intHash64(c: Column): Column = sparkXxhash64(c)
  def hiveHash(c: Column): Column = hash(c)

  // IP coding (ref FunctionsCodingIP.cpp)
  def ipv4NumToString(c: Column): Column = concat_ws(".",
    (c / 16777216 % 256).cast("int"), (c / 65536 % 256).cast("int"),
    (c / 256 % 256).cast("int"), (c % 256).cast("int"))
  def ipv4StringToNum(c: Column): Column = {
    val p = split(c, "\\.")
    (element_at(p, 1).cast("bigint") * 16777216 +
      element_at(p, 2).cast("bigint") * 65536 +
      element_at(p, 3).cast("bigint") * 256 +
      element_at(p, 4).cast("bigint"))
  }
  def isIPv4String(c: Column): Column =
    c.rlike("^((25[0-5]|2[0-4]\\d|1?\\d?\\d)\\.){3}(25[0-5]|2[0-4]\\d|1?\\d?\\d)$")

  // ---- bits ----
  def bitAnd(a: Column, b: Column): Column = a.bitwiseAND(b)
  def bitOr(a: Column, b: Column): Column = a.bitwiseOR(b)
  def bitXor(a: Column, b: Column): Column = a.bitwiseXOR(b)
  def bitNot(a: Column): Column = -a - 1 // two's complement
  def bitShiftLeft(a: Column, n: Column): Column = call_function("shiftleft", a, n)
  def bitShiftRight(a: Column, n: Column): Column = call_function("shiftright", a, n)
  def bitCountCh(a: Column): Column = bit_count(a)
  // bit index past the 64-bit register is 0, not a wrapped shift (ref
  // bitTest.cpp — CH errors/zeroes past the type width; Java shifts mod 64)
  def bitTest(a: Column, n: Column): Column =
    when(n >= 64, lit(false)).otherwise(
      call_function("shiftright", a, n).bitwiseAND(lit(1)) === 1)
  def bitHammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- random (ref rand.cpp; CH rand() is UInt32) ----
  def randCh(): Column = (rand() * 4294967296L).cast("bigint")
  def rand64(): Column = sparkXxhash64(rand())
  def canonicalRand(): Column = rand()
  def generateUUIDv4(): Column = expr("uuid()")
  /** Deterministic v4-shaped UUID from a seed string (MD5 bytes with the
    * version/variant nibbles forced) — for the tagged generateUUIDv4
    * form, where only intra-query equality semantics matter. */
  def uuidV4FromSeed(seed: String): String = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
    b(6) = ((b(6) & 0x0f) | 0x40).toByte
    b(8) = ((b(8) & 0x3f) | 0x80).toByte
    val bb = java.nio.ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }

  // ---- misc (ref greatest.cpp, transform.cpp, formatReadable.cpp) ----
  def greatestCh(xs: Seq[Column]): Column = greatest(xs: _*)
  def leastCh(xs: Seq[Column]): Column = least(xs: _*)
  /** transform(x, [from...], [to...], default) — value remap via map lookup
    * (ref src/Functions/transform.cpp). */
  def transformCh(x: Column, from: Seq[Any], to: Seq[Any], default: Column): Column =
    coalesce(element_at(
      map_from_arrays(array(from.map(lit): _*), array(to.map(lit): _*)), x), default)
  def formatReadableSize(c: Column): Column = {
    val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB")
    units.zipWithIndex.foldRight(lit("huge")) { case ((u, i), els) =>
      when(c < math.pow(1024, i + 1),
        concat(format_number(c / math.pow(1024, i), 2), lit(" " + u)))
        .otherwise(els)
    }
  }
  def bar(v: Column, min: Double, max: Double, width: Int = 80): Column =
    // a NaN/NULL width renders as an empty bar, not NULL (01654)
    coalesce(call_function("repeat", lit("█"),
      round((v - min) / (max - min) * width).cast("int")), lit(""))
  def runningDifference(c: Column, over: org.apache.spark.sql.expressions.WindowSpec): Column =
    c - lag(c, 1, 0).over(over)
  def neighbor(c: Column, offset: Int, over: org.apache.spark.sql.expressions.WindowSpec): Column =
    when(lit(offset) >= 0, lead(c, math.max(offset, 0)).over(over))
      .otherwise(lag(c, math.max(-offset, 0)).over(over))
  def ignoreCh(xs: Seq[Column]): Column = lit(0)
  // a real no-op node that DEFEATS constant folding — CH materialize
  // turns a constant column into a full one (ref materialize.cpp), which
  // isConstant() then reports as non-constant
  def materialize(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MaterializeExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
  def versionCh(): Column = lit("23.3.19.32-graft")
  def hostName(): Column = lit("localhost")
  def currentDatabase(): Column = lit("default")

  /** rowNumberInAllBlocks (ref src/Functions/rowNumberInAllBlocks.cpp):
    * 0-based global row number in output order — a single-partition
    * window over the scan order (golden-scale data). */
  def rowNumberInAllBlocks(): Column = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{monotonically_increasing_id,
      row_number}
    row_number().over(
      Window.orderBy(monotonically_increasing_id())) - lit(1)
  }

  /** normalizeQuery (ref src/Common/SensitiveDataMasker +
    * src/Functions/normalizeQuery.cpp): string literals and standalone
    * numeric literals become `?` — the same transform on both sides of
    * a comparison is what the query_log goldens rely on. */
  def normalizeQuery(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    val s1 = regexp_replace(c, "'(?:[^'\\\\]|\\\\.)*'", "?")
    regexp_replace(s1,
      "(?<![\\w'?])-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?(?![\\w])", "?")
  }

  // ---- wave 2: binary repr, regexp groups, date parts, map algebra,
  // array norms/AUC (ref FunctionsBinaryRepresentation.cpp,
  // extractGroups.cpp, dateName.cpp, mapFilter.cpp, arrayNorm.cpp,
  // arrayAUC.cpp) ----

  /** CH bin(): whole bytes — pad to a multiple of 8 bits. Catalyst Bin
    * node directly (functions.bin would resolve back into a registered
    * "bin" and loop). */
  def binCh(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    val e = EE(c)
    // strings render per byte (8 bits each); numbers via Catalyst Bin
    if (e.resolved && (e.dataType == org.apache.spark.sql.types.StringType ||
        e.dataType == org.apache.spark.sql.types.BinaryType ||
        e.dataType == org.apache.spark.sql.types.FloatType ||
        e.dataType == org.apache.spark.sql.types.DoubleType))
      return CC(ChBinString(e))
    val b = CC(org.apache.spark.sql.catalyst.expressions.Bin(EE(c)))
    val pad = (lit(8) - length(b) % 8) % 8
    concat(call_function("repeat", lit("0"), pad), b)
  }

  /** unbin('00110001') → '1': 8-bit chunks to characters. */
  def unbinCh(c: Column): Column =
    array_join(transform(sequence(lit(1), (length(c) / 8).cast("int")),
      i => char(conv(c.substr((i - 1) * 8 + 1, lit(8)), 2, 10))), "")

  /** extractGroups(s, re): all capture groups of the FIRST match. */
  def extractGroups(s: Column, re: String): Column = {
    val n = java.util.regex.Pattern.compile(re).matcher("").groupCount()
    array((1 to n).map(i => regexp_extract(s, re, i)): _*)
  }

  /** countMatches(s, re): number of non-overlapping matches. */
  def countMatches(s: Column, re: String): Column =
    size(regexp_extract_all(s, lit(re), lit(0))).cast("bigint")

  /** formatReadable* family (ref src/Common/formatReadable.cpp): divide
    * by `delim` while |v| ≥ delim and a bigger unit exists, print with 2
    * fixed decimals and NO thousands separators, append the unit. */
  private def formatReadable(v: Column, units: Seq[String],
      delim: Double): Column = {
    val d = v.cast("double")
    val lastIdx = units.size - 1
    units.zipWithIndex.foldRight(lit(null).cast("string")) {
      case ((u, i), els) =>
        val scaled = format_string("%.2f", d / math.pow(delim, i))
        if (i == lastIdx) concat(scaled, lit(u))
        else when(abs(d) < math.pow(delim, i + 1), concat(scaled, lit(u)))
          .otherwise(els)
    }
  }
  def formatReadableQuantity(v: Column): Column =
    formatReadable(v, Seq("", " thousand", " million", " billion",
      " trillion", " quadrillion"), 1000.0)
  def formatReadableDecimalSize(v: Column): Column =
    formatReadable(v, Seq(" B", " KB", " MB", " GB", " TB", " PB", " EB",
      " ZB", " YB"), 1000.0)

  /** defaultValueOfArgumentType (ref
    * src/Functions/defaultValueOfArgumentType.cpp): the type's default —
    * zero / empty string / epoch date-time / empty array or map / tuple
    * of field defaults (00461 pins the nested shapes). */
  def defaultValueOfType(t: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    t match {
      case StringType => lit("")
      case BooleanType => lit(false)
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType => lit(0).cast(t)
      case d: DecimalType => lit(0).cast(d)
      case DateType => lit("1970-01-01").cast("date")
      case TimestampType => lit(0).cast("timestamp")
      case TimestampNTZType => lit("1970-01-01 00:00:00").cast(t)
      case ArrayType(et, n) => array().cast(ArrayType(et, n))
      case m: MapType => map_from_arrays(array().cast(ArrayType(m.keyType)),
        array().cast(ArrayType(m.valueType)))
      case StructType(fields) => struct(fields.map(fl =>
        defaultValueOfType(fl.dataType).as(fl.name)): _*)
      case other => lit(null).cast(other)
    }
  }

  /** dateName(part, d) → the named/numbered part as a string. */
  def dateName(part: String, d: Column): Column = part.toLowerCase match {
    case "year" => date_format(d, "yyyy")
    case "quarter" => quarter(d).cast("string")
    case "month" => date_format(d, "MMMM")
    case "week" => weekofyear(d).cast("string")
    case "dayofyear" => dayofyear(d).cast("string")
    case "day" | "dayofmonth" => dayofmonth(d).cast("string")
    case "weekday" | "dayofweek" => date_format(d, "EEEE")
    case "hour" => hour(d).cast("string")
    case "minute" => minute(d).cast("string")
    case "second" => second(d).cast("string")
    case other => throw new IllegalArgumentException(s"dateName: bad part $other")
  }

  /** age(unit, a, b): COMPLETE elapsed units between a and b (b >= a),
    * unlike dateDiff's calendar-boundary crossings. */
  def ageCh(unit: String, a: Column, b: Column): Column = {
    val secs = unix_timestamp(b) - unix_timestamp(a)
    unit.toLowerCase match {
      case "year" => floor(floor(months_between(b, a)) / 12).cast("bigint")
      case "quarter" => floor(floor(months_between(b, a)) / 3).cast("bigint")
      case "month" => floor(months_between(b, a)).cast("bigint")
      case "week" => floor(datediff(b, a) / 7).cast("bigint")
      case "day" => datediff(b, a).cast("bigint")
      case "hour" => floor(secs / 3600).cast("bigint")
      case "minute" => floor(secs / 60).cast("bigint")
      case "second" => secs.cast("bigint")
      case other => throw new IllegalArgumentException(s"age: bad unit $other")
    }
  }

  /** ISO-8601 week number / week-based year. */
  def toISOWeek(d: Column): Column = weekofyear(d)
  /** ISO week-based year = calendar year of that week's Thursday
    * (week-based 'YYYY' patterns are rejected by Spark 3+). */
  def toISOYear(d: Column): Column =
    year(date_add(d, lit(4) - toDayOfWeek(d)))

  /** mapUpdate(a, b): b's entries override a's (ref map.cpp mapUpdate).
    * Disjoint-keys concat, so the ANSI duplicate-map-key policy never
    * fires. */
  def mapUpdate(a: Column, b: Column): Column =
    map_concat(map_filter(a, (k, _) => !map_contains_key(b, k)), b)

  /** mapFilter((k,v) -> bool, m). */
  def mapFilterCh(m: Column, f: (Column, Column) => Column): Column =
    map_filter(m, f)

  /** mapApply on values (CH's common (k,v) -> (k, f(v)) shape). */
  def mapApplyValues(m: Column, f: (Column, Column) => Column): Column =
    transform_values(m, f)

  /** mapPopulateSeries(m): integer-keyed map densified over
    * [min(keys), max(keys)] with 0 defaults. */
  def mapPopulateSeries(m: Column): Column = {
    val ks = map_keys(m)
    val grid = sequence(array_min(ks), array_max(ks))
    map_from_arrays(grid,
      transform(grid, k => coalesce(try_element_at(m, k), lit(0))))
  }

  /** arrayL1Norm / arrayLinfNorm and their distances. */
  def arrayL1Norm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + abs(x.cast("double")))
  def arrayLinfNorm(a: Column): Column =
    array_max(transform(a, x => abs(x.cast("double"))))
  def arrayL1Distance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
  def arrayLinfDistance(a: Column, b: Column): Column =
    array_max(zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))))

  /** arrayAUC(scores, labels): area under the ROC curve via the
    * Mann-Whitney pairwise form (ties count ½) — O(n²) over the array,
    * fine for the per-row array sizes this function exists for. */
  def arrayAUC(scores: Column, labels: Column): Column = {
    val z = zip_with(scores, labels, (s, l) => struct(s.as("s"), l.as("l")))
    val pos = filter(z, p => p.getField("l") === 1)
    val neg = filter(z, p => p.getField("l") === 0)
    val wins = aggregate(pos, lit(0.0), (acc, p) =>
      acc + aggregate(neg, lit(0.0), (a2, q) =>
        a2 + when(p.getField("s") > q.getField("s"), 1.0)
          .when(p.getField("s") === q.getField("s"), 0.5)
          .otherwise(0.0)))
    wins / (size(pos) * size(neg))
  }

  /** greatCircleDistance(lon1, lat1, lon2, lat2) in meters — haversine on
    * the mean Earth radius (ref src/Functions/greatCircleDistance.cpp). */
  def greatCircleDistance(lon1: Column, lat1: Column,
      lon2: Column, lat2: Column): Column = {
    val r = 6371000.0
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * r) * asin(sqrt(a))
  }

  /** pointInEllipses / geoDistance share the haversine core; geoDistance
    * is the CH alias with identical args. */
  def geoDistance(lon1: Column, lat1: Column,
      lon2: Column, lat2: Column): Column =
    greatCircleDistance(lon1, lat1, lon2, lat2)

  // ---- JSON wave 2 (ref FunctionsJSON.cpp, FunctionSQLJSON.cpp):
  // raw extraction via the variant type so quotes/structure survive ----
  def jsonExtractRaw(j: Column, key: String): Column =
    to_json(try_variant_get(parse_json(j), s"$$.$key", "variant"))
  def jsonExtractKeys(j: Column): Column = json_object_keys(j)
  /** JSON_VALUE: scalar at a JSONPath (unquoted), '' when absent (CH
    * returns empty string). */
  def jsonValue(j: Column, path: String): Column =
    coalesce(get_json_object(j, path), lit(""))
  /** JSON_QUERY: matched fragment(s) as a JSON array string, '' if none. */
  def jsonQuery(j: Column, path: String): Column = {
    val raw = to_json(try_variant_get(parse_json(j), path, "variant"))
    when(raw.isNull, lit("")).otherwise(concat(lit("["), raw, lit("]")))
  }
  def jsonLength(j: Column, path: String = "$"): Column =
    json_array_length(get_json_object(j, path))

  // ---- wave 3: vector math (ref src/Functions/array/arrayNorm.cpp,
  // arrayDistance.cpp — L1/L2/L2Squared/Linf/Lp norms and distances,
  // plus the normalize family) ----
  def arrayL2SquaredNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)
  def arrayLpNorm(a: Column, p: Column): Column =
    pow(aggregate(a, lit(0.0), (acc, x) => acc + pow(abs(x), p)), lit(1.0) / p)
  def arrayL2SquaredDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)
  def arrayLpDistance(a: Column, b: Column, p: Column): Column =
    arrayLpNorm(zip_with(a, b, (x, y) => x - y), p)
  def l1Normalize(a: Column): Column = {
    val n = aggregate(a, lit(0.0), (acc, x) => acc + abs(x))
    transform(a, x => x / n)
  }
  def l2Normalize(a: Column): Column = {
    val n = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    transform(a, x => x / n)
  }
  def linfNormalize(a: Column): Column = {
    val n = array_max(transform(a, abs(_)))
    transform(a, x => x / n)
  }

  // ---- wave 3: encodings / hashes (ref FunctionsHashing.h,
  // FunctionsCodingUUID.cpp, FunctionsCodingIP.cpp) ----
  def sha1Ch(c: Column): Column = sha1(c)
  def sha224Ch(c: Column): Column = sha2(c, 224)
  def sha384Ch(c: Column): Column = sha2(c, 384)
  def sha512Ch(c: Column): Column = sha2(c, 512)
  def crc32Ch(c: Column): Column = crc32(c.cast("binary"))
  /** UUIDStringToNum: canonical UUID text → 16 raw bytes. */
  def uuidStringToNum(c: Column): Column = unhex(regexp_replace(c, "-", ""))
  /** UUIDNumToString: 16 raw bytes → canonical dashed form. */
  def uuidNumToString(c: Column): Column = {
    val h = lower(hex(c))
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
      substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
  }
  /** MACNumToString: low 6 bytes of a UInt64 → AA:BB:CC:DD:EE:FF. */
  def macNumToString(c: Column): Column =
    upper(concat_ws(":", (5 to 0 by -1).map(i =>
      lpad(hex(shiftright(c, i * 8).bitwiseAND(lit(255L))), 2, "0")): _*))
  def macStringToNum(c: Column): Column =
    conv(regexp_replace(c, "[:-]", ""), 16, 10).cast("bigint")
  /** MACStringToOUI: first 3 octets as a number. */
  def macStringToOui(c: Column): Column =
    conv(substring(regexp_replace(c, "[:-]", ""), 1, 6), 16, 10).cast("bigint")

  // ---- wave 3: bits (ref src/Functions/bitRotateLeft.cpp etc.;
  // rotation is over the 64-bit width since UInt64 is our widest lane) ----
  // (x << k) | (x >>> (64-k)); shift amounts are Columns, so the int-arg
  // functions.shiftleft overloads don't apply — call by name instead
  def bitRotateLeft(x: Column, n: Column): Column = {
    val k = pmod(n.cast("int"), lit(64))
    when(k === 0, x.cast("bigint")).otherwise(
      call_function("shiftleft", x.cast("bigint"), k).bitwiseOR(
        call_function("shiftrightunsigned", x.cast("bigint"), lit(64) - k)))
  }
  def bitRotateRight(x: Column, n: Column): Column = {
    val k = pmod(n.cast("int"), lit(64))
    when(k === 0, x.cast("bigint")).otherwise(
      call_function("shiftrightunsigned", x.cast("bigint"), k).bitwiseOR(
        call_function("shiftleft", x.cast("bigint"), lit(64) - k)))
  }
  /** Positions at or beyond the value's CH type width never enter the
    * mask (ref FunctionBitTestMany.h createConstMaskIfConst: `pos <
    * 8*sizeof(ValueType)`) — bitTestAll is vacuously true there, bitTestAny
    * false (01082_bit_test_out_of_bound). */
  def bitTestAll(x: Column, bits: Seq[Column], widthBits: Int = 64): Column =
    bits.map(b => when(b.cast("int") < widthBits, x.cast("bigint")
        .bitwiseAND(call_function("shiftleft", lit(1L), b.cast("int"))) =!= 0L)
      .otherwise(lit(true)))
      .reduce(_ && _)
  def bitTestAny(x: Column, bits: Seq[Column], widthBits: Int = 64): Column =
    bits.map(b => b.cast("int") < widthBits && x.cast("bigint")
        .bitwiseAND(call_function("shiftleft", lit(1L), b.cast("int"))) =!= 0L)
      .reduce(_ || _)
  def bitPositionsToArray(x: Column): Column =
    filter(sequence(lit(0), lit(63)), p =>
      call_function("shiftrightunsigned", x.cast("bigint"), p)
        .bitwiseAND(lit(1L)) === 1L)

  // ---- wave 3: sub-second date arithmetic (ref addMilliseconds.cpp) ----
  def addMilliseconds(ts: Column, n: Column): Column =
    ts + make_dt_interval(lit(0), lit(0), lit(0), n.cast("double") / 1000.0)
  def addMicroseconds(ts: Column, n: Column): Column =
    ts + make_dt_interval(lit(0), lit(0), lit(0), n.cast("double") / 1000000.0)
  def subtractMilliseconds(ts: Column, n: Column): Column =
    addMilliseconds(ts, -n)
  def subtractMicroseconds(ts: Column, n: Column): Column =
    addMicroseconds(ts, -n)
  /** TimeDiff(a, b) = b - a in whole seconds (ref dateDiff.cpp alias). */
  def timeDiff(a: Column, b: Column): Column =
    unix_timestamp(b) - unix_timestamp(a)

  // ---- wave 3: array enumerate / resize / last (ref
  // arrayEnumerateUniq.cpp, arrayEnumerateDense.cpp, arrayResize.cpp) ----
  /** arrayEnumerateUniq: per-element occurrence counter (1-based).
    * (sequence(1, 0) counts DOWN in Spark, so empty input needs a guard.) */
  def arrayEnumerateUniq(a: Column): Column =
    when(size(a) === 0, array().cast("array<int>")).otherwise(
      zip_with(a, sequence(lit(1), size(a)), (x, i) =>
        size(filter(slice(a, lit(1), i), y => y <=> x))))
  /** arrayEnumerateDense: first-occurrence dense index (1-based). */
  def arrayEnumerateDense(a: Column): Column =
    transform(a, x => array_position(array_distinct(a), x).cast("int"))
  def arrayResize(a: Column, n: Column, fill: Column): Column = {
    val nn = n.cast("int")
    when(size(a) >= nn, slice(a, lit(1), nn)).otherwise(
      concat(a, transform(sequence(lit(1), nn - size(a)), _ => fill)))
  }
  def arrayResizeZero(a: Column, n: Column): Column =
    arrayResize(a, n, lit(0))
  /** arrayCumSumNonNegative: running sum clamped at 0 on the way
    * (ref arrayCumSumNonNegative.cpp). */
  def arrayCumSumNonNegative(a: Column): Column =
    reverse(aggregate(a,
      struct(lit(0.0).as("acc"), array().cast("array<double>").as("out")),
      (st, x) => {
        val nxt = greatest(st.getField("acc") + x.cast("double"), lit(0.0))
        struct(nxt.as("acc"),
          concat(array(nxt), st.getField("out")).as("out"))
      },
      st => st.getField("out")))

  // ---- wave 3: misc string/display (ref FunctionsVisibleWidth.cpp,
  // bar.cpp, basename.cpp) ----
  def basenameCh(c: Column): Column = element_at(split(c, "[\\\\/]"), -1)
  /** bar(x, min, max, width): unicode bar chart — full blocks plus one
    * partial eighth block, matching CH's UnicodeBar::render. */
  def barCh(x: Column, mn: Column, mx: Column, w: Column): Column = {
    val unit0 = (x - mn) / (mx - mn) * w.cast("double")
    // a NaN bound draws an empty bar (CH's float→int conversion of
    // NaN is 0; Spark's ordering would treat NaN as +inf — 01654)
    val unit = when(isnan(unit0), lit(0.0)).otherwise(unit0)
    val clamped = greatest(least(unit, w.cast("double")), lit(0.0))
    val full = floor(clamped).cast("int")
    val eighths = floor((clamped - full) * 8).cast("int")
    val partials = Seq("", "▏", "▎", "▍", "▌",
      "▋", "▊", "▉")
    concat(repeat(lit("█"), full),
      element_at(array(partials.map(lit): _*), eighths + 1))
  }

  // ---- wave 3: encryption (ref FunctionsAES.h — encrypt/decrypt with
  // openssl mode strings; Spark's aes built-ins cover ECB/CBC/GCM) ----
  private def aesMode(mode: String): (String, String) = {
    val m = mode.toLowerCase
    require(m.startsWith("aes-"), s"unsupported cipher $mode")
    val spark = m.split("-").last.toUpperCase match {
      case "ECB" => ("ECB", "PKCS")
      case "CBC" => ("CBC", "PKCS")
      case "GCM" => ("GCM", "NONE")
      case other => throw new IllegalArgumentException(
        s"unsupported AES block mode $other")
    }
    spark
  }
  def encrypt(mode: String, plain: Column, key: Column): Column = {
    val (m, pad) = aesMode(mode)
    aes_encrypt(plain.cast("binary"), key.cast("binary"), lit(m), lit(pad))
  }
  def decrypt(mode: String, ciphertext: Column, key: Column): Column = {
    val (m, pad) = aesMode(mode)
    aes_decrypt(ciphertext, key.cast("binary"), lit(m), lit(pad))
  }

  // ---- wave 3b: long-tail scalars surfaced by the golden-test sweep ----
  /** Logical xor over 2+ args (ref src/Functions/logical.cpp). */
  def xorCh(es: Seq[Column]): Column =
    es.map(_.cast("boolean")).reduce(_ =!= _)
  def sigmoidCh(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))
  /** regexpQuoteMeta: escape regex metacharacters (ref
    * src/Functions/regexpQuoteMeta.cpp). */
  def regexpQuoteMeta(s: Column): Column =
    regexp_replace(s, "([\\\\.$^+*?()\\[\\]{}|])", "\\\\$1")
  /** hasSubstr(a, sub): contiguous subsequence test (ref
    * src/Functions/array/hasSubstr.cpp). */
  def hasSubstr(a: Column, sub: Column): Column =
    when(size(sub) === 0, lit(true)).otherwise(
      when(size(sub) > size(a), lit(false)).otherwise(
        exists(sequence(lit(1), size(a) - size(sub) + 1),
          i => slice(a, i, size(sub)) === sub)))
  /** multiMatchAny(s, [regexps]) (ref FunctionsMultiStringSearch.h). */
  def multiMatchAny(s: Column, pats: Column): Column =
    exists(pats, p => regexp_like(s, p))
  def multiSearchAnyArr(s: Column, needles: Column): Column =
    exists(needles, n => s.contains(n))
  /** visitParam* / simpleJSON* scan FRAGMENTS (ref
    * src/Functions/visitParamHas.cpp family: substring search for
    * `"name":`, no full-document parse) and default to 0/'' on a miss —
    * get_json_object needs valid JSON, so fall back to a fragment regex. */
  private def vpFrag(j: Column, key: String, vpat: String): Column =
    regexp_extract(j,
      "\"" + java.util.regex.Pattern.quote(key) + "\":" + vpat, 1)
  // UInt mirrors readUIntText: a leading '-' fails the parse → 0, so no
  // get_json_object branch (it would accept -1)
  def visitParamExtractUInt(j: Column, key: String): Column =
    coalesce(vpFrag(j, key, "(\\d+)").try_cast("bigint"), lit(0L))
  def visitParamExtractFloat(j: Column, key: String): Column =
    coalesce(get_json_object(j, s"$$.$key").try_cast("double"),
      vpFrag(j, key, "(-?\\d*\\.?\\d+(?:[eE][+-]?\\d+)?)")
        .try_cast("double"), lit(0.0))
  def visitParamExtractBool(j: Column, key: String): Column =
    coalesce(get_json_object(j, s"$$.$key").try_cast("boolean"),
      vpFrag(j, key, "(true|false)").try_cast("boolean"), lit(false))
  def visitParamExtractRaw(j: Column, key: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => CC, expression => EE}
    CC(ChVisitParamRaw(EE(j), EE(lit(key))))
  }
  def visitParamHas(j: Column, key: String): Column =
    j.contains("\"" + key + "\":")
  /** Best-effort timestamp parsing (ref parseDateTimeBestEffort.cpp):
    * ISO forms via the native parser, then am/pm, then CH's bare-time
    * quirk (HH:mm:ss alone → that time on 2000-01-01). */
  def parseBestEffort(c: Column): Column = {
    // bare time first: Spark's default parser would accept '01:01:01'
    // too, but stamps it onto TODAY's date instead of CH's 2000-01-01
    val bareTime = c.rlike("^\\s*\\d{1,2}:\\d{2}:\\d{2}\\s*$")
    when(trim(c) === "", lit(null).cast("timestamp"))
      .when(bareTime, try_to_timestamp(concat(lit("2000-01-01 "), trim(c)),
        lit("yyyy-MM-dd HH:mm:ss")))
      .otherwise(coalesce(
        try_to_timestamp(c),
        try_to_timestamp(upper(c), lit("yyyy-MM-dd hh:mm:ss a"))))
  }
  def parseDateTimeBestEffortOrZero(c: Column): Column =
    coalesce(parseBestEffort(c), lit("1970-01-01 00:00:00").cast("timestamp"))
  /** extractURLParameters: the k=v pairs of the query string (ref
    * src/Functions/URL/extractURLParameters.cpp). */
  def extractURLParameters(u: Column): Column = {
    val qs = queryString(u)
    when(qs === "", array().cast("array<string>")).otherwise(split(qs, "&"))
  }
  /** sumForEach: element-wise array sum (ref
    * AggregateFunctionForEach.h) — shorter arrays count as zero-padded.
    * Drop-in aggregate name; per-group state is the collected list, so
    * the scalable formulation for huge groups is explode + groupBy. */
  def sumForEach(a: Column): Column =
    aggregate(collect_list(a), array().cast("array<double>"),
      (acc, x) => zip_with(acc, x, (p, q) =>
        coalesce(p, lit(0.0)) + coalesce(q.cast("double"), lit(0.0))))
}
