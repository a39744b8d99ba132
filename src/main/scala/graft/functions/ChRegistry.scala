package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ArrayFilter, ArrayExists, ArrayForAll, ArrayPosition, Cast, Coalesce, GetArrayItem, Literal => Lit, Md5, Rand, Size, ZipWith}
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DateType, DayTimeIntervalType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, YearMonthIntervalType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => C, expression => E}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable registration of the ClickHouse function names: after
  * `ChRegistry.register(spark)`, `spark.sql("SELECT toStartOfMonth(ts) …")`
  * works — the CH name resolves to the same Catalyst expression tree the
  * Spark-native name would produce (ref `src/Functions/` registerFunction
  * and the alias machinery in FunctionFactory).
  */
object ChRegistry {

  /** String value of a literal argument (for functions whose CH signature
    * takes a constant, e.g. regexp patterns, format strings). */
  private def litStr(e: Expression): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case Literal(other, _) => String.valueOf(other)
    case other => throw new IllegalArgumentException(
      s"argument must be a constant, got $other")
  }
  private def litInt(e: Expression): Int = e match {
    case Literal(v: Number, _) => v.intValue
    case other => throw new IllegalArgumentException(
      s"argument must be a constant integer, got $other")
  }

  // per-process seed for the tagged generateUUIDv4 form: query-stable,
  // run-unique (see the registration comment)
  private val uuidSessionSeed: String =
    java.util.UUID.randomUUID().toString

  // one registration pass per session: ~370 names (plus typed-UDF encoder
  // derivation for gcd/lcm/javaHash) is noticeable when a harness calls
  // ChSql.sql per statement
  private val registeredSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Name → builder for every f()-registered CH function (feeds the
    * -SimpleState alias path in [[ensureSynthesized]]). */
  private val builders = scala.collection.concurrent.TrieMap
    .empty[String, Seq[Expression] => Column]

  /** Register combinator-chain aggregates appearing in `chQuery` whose
    * names aren't otherwise known (ref
    * AggregateFunctionCombinatorFactory.cpp suffix peeling).
    * -SimpleState over an already-registered aggregate reuses that
    * aggregate's builder: the simple-state IS the finalized value (ref
    * DataTypeCustomSimpleAggregateFunction.cpp). */
  def ensureSynthesized(spark: SparkSession, chQuery: String): Unit = {
    val re = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r
    val reg = spark.sessionState.functionRegistry
    re.findAllMatchIn(chQuery).map(_.group(1)).toSet.foreach { n: String =>
      val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(
        n.toLowerCase)
      if (!reg.functionExists(fid)) {
        if (CombinatorChain.supports(n))
          reg.createOrReplaceTempFunction(n,
            es => E(CombinatorChain.build(n, es.map(C))), "scala_udf")
        else if (n.endsWith("SimpleState")) {
          builders.get(n.dropRight(11).toLowerCase).foreach { b =>
            reg.createOrReplaceTempFunction(n, es => E(b(es)), "scala_udf")
          }
        }
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    if (!registeredSessions.add(spark)) return
    val reg = spark.sessionState.functionRegistry
    // the registry is case-insensitive: a second registration of a name
    // would silently replace the first
    val seen = scala.collection.mutable.Set.empty[String]
    def f(name: String)(b: Seq[Expression] => Column): Unit = {
      require(seen.add(name.toLowerCase), s"$name is registered twice")
      builders(name.toLowerCase) = b
      // a builder's partial match not covering the given arity must be a
      // regular analysis error (CH NUMBER_OF_ARGUMENTS_DOESNT_MATCH), not
      // a MatchError that Spark wraps as INTERNAL_ERROR
      reg.createOrReplaceTempFunction(name, es =>
        try E(b(es)) catch {
          case _: MatchError => throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> s"`$name`", "expectedNum" -> "a different",
              "actualNum" -> es.size.toString, "docroot" -> ""), None)
        }, "scala_udf")
    }
    def f1(name: String)(b: Column => Column): Unit =
      f(name) { case Seq(a) => b(C(a)) }
    def f2(name: String)(b: (Column, Column) => Column): Unit =
      f(name) { case Seq(a, x) => b(C(a), C(x)) }
    def f3(name: String)(b: (Column, Column, Column) => Column): Unit =
      f(name) { case Seq(a, x, y) => b(C(a), C(x), C(y)) }

    // conversions
    f1("toInt8")(ch.toInt8); f1("toInt16")(ch.toInt16)
    f1("toInt32")(ch.toInt32); f1("toInt64")(ch.toInt64)
    // unsigned tiers ride one signed width up; the ChUIntTag identity
    // wrapper keeps the CH width visible to byte-hashing functions
    f1("toUInt8")(c => C(ChUIntTag(E(ch.toUInt8(c)), 1)))
    f1("toUInt16")(c => C(ChUIntTag(E(ch.toUInt16(c)), 2)))
    f1("toUInt32")(c => C(ChUIntTag(E(ch.toUInt32(c)), 4)))
    // UInt64 literals beyond Long range keep the Decimal(20,0) carrier
    // (same unsigned surface the CH-exact hash functions use)
    f("toUInt64") {
      case Seq(Literal(d: org.apache.spark.sql.types.Decimal, _: DecimalType)
          ) if d.scale == 0 &&
            d.toJavaBigDecimal.unscaledValue.bitLength > 63 =>
        lit(d.toJavaBigDecimal).cast("decimal(20,0)")
      case Seq(a) => ch.toUInt64(C(a))
    }
    f1("toFloat32")(ch.toFloat32); f1("toFloat64")(ch.toFloat64)
    f("toString") {
      // composite values render in CH literal syntax (pinned by 02026)
      case Seq(c) if c.resolved && (c.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                _: org.apache.spark.sql.types.StructType |
                _: org.apache.spark.sql.types.MapType => true
            case _ => false }) => C(ChLiteralString(c))
      case Seq(c) => ch.toStringCh(C(c))
      // tz arg: the DateTime rendered as that zone's wall clock
      case Seq(c, tz) => date_format(
        from_utc_timestamp(C(c).cast("timestamp"), litStr(tz)),
        "yyyy-MM-dd HH:mm:ss")
    }
    // type-directed toDate (numbers are epoch DAYS — no ANSI cast path);
    // optional tz shifts the instant to that zone's calendar day
    f("toDate") {
      case Seq(a) => C(ChToDate(a))
      // tz arg shifts the instant to that zone's calendar day — but a
      // NUMERIC argument is already epoch DAYS (no instant to shift; ref
      // FunctionsConversion.h ToDateTransform32Or64)
      case Seq(a, t) if a.resolved && (a.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                FloatType | DoubleType | _: DecimalType => true
            case _ => false
          }) => C(ChToDate(a))
      case Seq(a, t) =>
        C(ChToDate(E(from_utc_timestamp(C(a).cast("timestamp"), C(t)))))
    }
    f("toDateTime") {
      case Seq(a) => ch.toDateTime(C(a))
      // 2nd arg: DateTime64 scale (numeric) → the DateTime64 tier
      // (ref FunctionsConversion.h toDateTime(x, scale)); or a timezone
      case Seq(a, sc @ Literal(_: Number, _)) =>
        C(ToDateTime64(a, litInt(sc), None))
      case Seq(a, sc @ Literal(_: Number, _), tz) =>
        C(ToDateTime64(a, litInt(sc), Some(litStr(tz))))
      // tz argument: keep the INSTANT (strings parse as wall clock in
      // that zone) and tag the display zone — a zero-scale DateTime64
      // carrier, so dateTimeToSnowflake and casts see the true instant
      // (ref FunctionsConversion.h ToDateTimeImpl time_zone param)
      case Seq(a, t) => C(ToDateTime64(a, 0, Some(litStr(t))))
    }
    f1("toInt64OrNull")(ch.toInt64OrNull); f1("toInt32OrNull")(ch.toInt32OrNull)
    f1("toFloat64OrNull")(ch.toFloat64OrNull)
    f1("toInt64OrZero")(ch.toInt64OrZero); f1("toInt32OrZero")(ch.toInt32OrZero)
    f1("toFloat64OrZero")(ch.toFloat64OrZero)

    // date/time — CH's forms take an optional trailing timezone name;
    // the session runs UTC, so a tz argument shifts to that zone's wall
    // clock first (the CH DateTimeTransforms time_zone parameter)
    // a tz-tagged DateTime/DateTime64 column computes its date parts in
    // its OWN zone (ref DateTimeTransforms: every transform takes the
    // column's time_zone) — shift the instant to that wall clock first
    def zonedWall(a: Expression): Column =
      if (!a.resolved) C(a)
      else a.dataType match {
        case d: DateTime64UDT =>
          d.tz.map(z => from_utc_timestamp(C(a).cast("timestamp"), z))
            .getOrElse(C(a).cast("timestamp"))
        case _ => C(a)
      }
    def tzf(name: String)(b: Column => Column): Unit = f(name) {
      case Seq(a) => b(zonedWall(a))
      case Seq(a, t) =>
        b(from_utc_timestamp(C(a).cast("timestamp"), C(t)))
    }
    tzf("toYear")(ch.toYear); tzf("toQuarter")(ch.toQuarter)
    tzf("toMonth")(ch.toMonth); tzf("toDayOfMonth")(ch.toDayOfMonth)
    tzf("toDayOfYear")(ch.toDayOfYear)
    // mode/tz forms (ref DateLUTImpl.h WeekDayMode): base is Monday=1..7;
    // Sunday-start rotates (res%7+1), zero-based subtracts one
    f("toDayOfWeek") {
      case Seq(a) => ch.toDayOfWeek(zonedWall(a))
      case es @ (a +: rest) =>
        val base = rest.lastOption.collect {
          case Literal(s: UTF8String, _) =>
            ch.toDayOfWeek(from_utc_timestamp(
              C(a).cast("timestamp"), s.toString))
        }.getOrElse(ch.toDayOfWeek(zonedWall(a)))
        // WeekDayMode is the low two bits (mode 5 behaves like 1)
        val mode = litInt(es(1)) & 3
        val sunday = mode == 2 || mode == 3
        val zeroBased = mode == 1 || mode == 2
        val r1 = if (sunday) base % 7 + 1 else base
        if (zeroBased) r1 - 1 else r1
    }
    tzf("toHour")(ch.toHour); tzf("toMinute")(ch.toMinute)
    tzf("toSecond")(ch.toSecond)
    tzf("toStartOfYear")(ch.toStartOfYear)
    // Monday of the ISO week containing Jan 4 of the value's ISO year
    // (ref DateLUTImpl.h toFirstDayNumOfISOYear): the ISO year is the
    // calendar year of the week's Thursday; weekday() is Monday=0
    tzf("toStartOfISOYear") { c =>
      val d = c.cast("date")
      val isoYear = year(date_add(d, lit(3) - weekday(d)))
      val jan4 = make_date(isoYear, lit(1), lit(4))
      date_sub(jan4, weekday(jan4))
    }
    tzf("toStartOfQuarter")(ch.toStartOfQuarter)
    tzf("toStartOfMonth")(ch.toStartOfMonth)
    // toStartOfWeek's optional 2nd arg is a WEEK MODE (default 0 =
    // Sunday-first; ref toCustomWeek.cpp ToStartOfWeekImpl), not a tz
    f("toStartOfWeek") {
      case Seq(a) => C(ChCustomWeek(a, 0, "startofweek"))
      case es => C(ChCustomWeek(es.head, litInt(es(1)), "startofweek"))
    }
    tzf("toMonday")(ch.toMonday)
    tzf("toStartOfDay")(ch.toStartOfDay); tzf("toStartOfHour")(ch.toStartOfHour)
    tzf("toStartOfMinute")(ch.toStartOfMinute)
    tzf("toStartOfFiveMinutes")(ch.toStartOfFiveMinutes)
    // pre-22.8 name kept as an alias (ref 02288 rename)
    tzf("toStartOfFiveMinute")(ch.toStartOfFiveMinutes)
    tzf("toStartOfTenMinutes")(ch.toStartOfTenMinutes)
    tzf("toStartOfFifteenMinutes")(ch.toStartOfFifteenMinutes)
    tzf("toYYYYMM")(ch.toYYYYMM); tzf("toYYYYMMDD")(ch.toYYYYMMDD)
    f2("addSeconds")(ch.addSeconds); f2("addMinutes")(ch.addMinutes)
    f2("addHours")(ch.addHours); f2("addDays")(ch.addDays)
    f2("addWeeks")(ch.addWeeks); f2("addMonths")(ch.addMonths)
    f2("addQuarters")(ch.addQuarters); f2("addYears")(ch.addYears)
    f2("subtractSeconds")(ch.subtractSeconds)
    f2("subtractMinutes")(ch.subtractMinutes)
    f2("subtractHours")(ch.subtractHours); f2("subtractDays")(ch.subtractDays)
    f2("subtractWeeks")(ch.subtractWeeks)
    f2("subtractMonths")(ch.subtractMonths); f2("subtractYears")(ch.subtractYears)
    f1("toUnixTimestamp")(ch.toUnixTimestamp)
    locally {
      // a DateTime/Date argument is already an instant — only numbers
      // go through epoch-seconds (ref FunctionsConversion FROM_UNIXTIME)
      def asTs(e: Expression): Column =
        if (e.resolved && (e.dataType match {
          case org.apache.spark.sql.types.TimestampType |
              org.apache.spark.sql.types.DateType => true
          case _: DateTime64UDT => true
          case _ => false
        })) C(e).cast("timestamp")
        // CH DateTime is UInt32 epoch-seconds — saturate out-of-range
        else ch.fromUnixTimestamp(least(greatest(C(e).cast("bigint"),
          lit(0L)), lit(4294967295L)))
      val b: Seq[Expression] => Column = {
        case Seq(c) => asTs(c)
        case Seq(c, fmt) => ch.formatDateTime(asTs(c), litStr(fmt))
        case Seq(c, fmt, tz) => ch.formatDateTime(from_utc_timestamp(
          asTs(c), litStr(tz)), litStr(fmt))
      }
      f("fromUnixTimestamp")(b)
      // CH's FROM_UNIXTIME alias returns DateTime, not Spark's string —
      // shadow the builtin (no internal Column code calls it)
      f("FROM_UNIXTIME")(b)
    }
    f("now") {
      case Seq() => ch.nowCh()
      // now(tz): same instant, display-tagged to the zone
      case Seq(tz) => C(ToDateTime64(
        org.apache.spark.sql.catalyst.expressions.CurrentTimestamp(), 0,
        Some(litStr(tz))))
    }
    f("today") { case Seq() => ch.todayCh() }
    f("yesterday") { case Seq() => ch.yesterdayCh() }
    f1("timeSlot")(ch.timeSlot)
    f1("toRelativeDayNum")(ch.toRelativeDayNum)
    f1("toRelativeHourNum")(ch.toRelativeHourNum)
    f1("toRelativeMinuteNum")(ch.toRelativeMinuteNum)
    // year*12 + month / year*4 + (month-1)/3 (ref DateLUTImpl.h:901-913)
    f1("toRelativeMonthNum")(c =>
      (year(c.cast("date")) * lit(12) + month(c.cast("date"))).cast("int"))
    f1("toRelativeQuarterNum")(c =>
      (year(c.cast("date")) * lit(4) +
        floor((month(c.cast("date")) - lit(1)) / lit(3))).cast("int"))
    f1("monthName")(ch.monthName)
    f("formatDateTime") {
      case Seq(c, fmt) => ch.formatDateTime(C(c), litStr(fmt))
      case Seq(c, fmt, tz) => ch.formatDateTime(
        from_utc_timestamp(C(c), litStr(tz)), litStr(fmt))
    }
    // parseDateTime = MySQL %-format parse; InJodaSyntax = Joda patterns
    // (≈ java.time — Spark's native formatter) (ref parseDateTime.cpp)
    locally {
      def parse1(s: Column, fmt: String, tz: Option[String],
          joda: Boolean): Column = {
        val jf = if (joda) fmt else ch.mysqlToJavaFormat(fmt)
        val t = try_to_timestamp(s, lit(jf))
        tz.map(z => to_utc_timestamp(t, z)).getOrElse(t)
      }
      def reg(name: String, joda: Boolean): Unit = {
        f(name) {
          case Seq(s, fmt) => parse1(C(s), litStr(fmt), None, joda)
          case Seq(s, fmt, tz) =>
            parse1(C(s), litStr(fmt), Some(litStr(tz)), joda)
        }
        f(name + "OrNull") {
          case Seq(s, fmt) => parse1(C(s), litStr(fmt), None, joda)
          case Seq(s, fmt, tz) =>
            parse1(C(s), litStr(fmt), Some(litStr(tz)), joda)
        }
        f(name + "OrZero") {
          case Seq(s, fmt) => coalesce(parse1(C(s), litStr(fmt), None, joda),
            lit(0).cast("timestamp"))
          case Seq(s, fmt, tz) => coalesce(
            parse1(C(s), litStr(fmt), Some(litStr(tz)), joda),
            lit(0).cast("timestamp"))
        }
      }
      reg("parseDateTime", joda = false)
      reg("parseDateTimeInJodaSyntax", joda = true)
      f("fromUnixTimestampInJodaSyntax") {
        case Seq(t, fmt) =>
          date_format(timestamp_seconds(C(t).cast("bigint")), litStr(fmt))
        case Seq(t, fmt, tz) => date_format(from_utc_timestamp(
          timestamp_seconds(C(t).cast("bigint")), litStr(tz)), litStr(fmt))
      }
    }

    // arithmetic / rounding
    f2("plus")(ch.plus); f2("minus")(ch.minus)
    f2("multiply")(ch.multiply); f2("divide")(ch.divide)
    f2("intDiv")(ch.intDiv)
    // intDivOrZero: 0 on division by zero AND on min/-1 overflow of the
    // operand's CH type (ref DivisionUtils.h checkedDivision; literals
    // get CH's smallest-fitting signed type, so -128/-1 is Int8 overflow)
    f("intDivOrZero") { case Seq(ae, be) =>
      val a = C(ae); val b = C(be)
      val minv: Option[Long] = ae match {
        case Literal(x: Int, IntegerType) if x < 0 =>
          Some(if (x >= -128) -128L else if (x >= -32768) -32768L
               else Int.MinValue.toLong)
        case Literal(x: Long, LongType) if x < 0 => Some(Long.MinValue)
        case e if e.resolved => e.dataType match {
          case ByteType => Some(-128L)
          case ShortType => Some(-32768L)
          case IntegerType => Some(Int.MinValue.toLong)
          case LongType => Some(Long.MinValue)
          case _ => None
        }
        case _ => None
      }
      val base = ch.intDivOrZero(a, b)
      minv.map(m => when(a === lit(m) && b === lit(-1), lit(0L))
        .otherwise(base)).getOrElse(base)
    }
    f2("modulo")(ch.modulo); f2("moduloOrZero")(ch.moduloOrZero)
    f1("negate")(ch.negate)
    // CH round() on floats is banker's (ties-to-even, the IEEE default
    // rounding nearbyint uses); on Decimals it rounds half away from
    // zero, which IS Spark's Round (ref src/Functions/FunctionsRound.h).
    // The float forms preserve the SIGN of zero (round(-1e-9, 2) prints
    // -0 like the reference; Spark's rounding normalizes it away):
    // -abs(r) keeps r's own type for the -0 branch.
    f("chRound") {
      case Seq(c, rest @ _*) if c.resolved && (c.dataType == DoubleType ||
          c.dataType == FloatType) =>
        val r = C(org.apache.spark.sql.catalyst.expressions.BRound(c,
          rest.headOption.getOrElse(Lit(0))))
        when(r === 0.0 && (lit(1.0) / C(c).cast("double")) < 0, -abs(r))
          .otherwise(r)
      case Seq(c) =>
        C(org.apache.spark.sql.catalyst.expressions.Round(c, Lit(0)))
      case Seq(c, n) =>
        C(org.apache.spark.sql.catalyst.expressions.Round(c, n))
    }
    f("roundBankers") {
      case Seq(c) => ch.roundBankers(C(c))
      case Seq(c, s) => ch.roundBankers(C(c), litInt(s)) }
    f1("roundToExp2")(ch.roundToExp2)
    f1("roundDuration")(ch.roundDuration); f1("roundAge")(ch.roundAge)

    // conditionals
    f3("if")(ch.ifCh)
    f("multiIf")(es => ch.multiIf(es.map(C)))
    f2("ifNull")(ch.ifNull); f1("assumeNotNull")(ch.assumeNotNull)
    f1("isFinite")(ch.isFinite); f1("isInfinite")(ch.isInfinite)

    // strings
    // CH length(): bytes for strings, element count for arrays/maps.
    // Registered under a dialect-only name (ChSql rewrites `length(` to
    // it) — overriding `length` itself would hijack Spark's builtin for
    // every functions.length call site, which resolves BY NAME in Spark 4
    f("chLength") { case Seq(a) => C(ChLength(a)) }
    f1("lengthUTF8")(ch.lengthUTF8)
    f1("lowerUTF8")(ch.lowerUTF8); f1("upperUTF8")(ch.upperUTF8)
    f1("lower")(ch.lowerAscii); f1("upper")(ch.upperAscii)
    f1("lcase")(ch.lowerAscii); f1("ucase")(ch.upperAscii)
    f("substringUTF8") {
      // clamp a wild 64-bit offset into int range (ubsan-pinned 01665);
      // the clamped value is far beyond any string so semantics hold
      case Seq(s, p) => ch.substringUTF8(C(s),
        greatest(least(C(p).cast("bigint"), lit(Int.MaxValue.toLong)),
          lit(Int.MinValue.toLong + 1L)).cast("int"), lit(Int.MaxValue))
      case Seq(s, p, l) => ch.substringUTF8(C(s), C(p), C(l))
    }
    f1("trimBoth")(ch.trimBoth); f1("trimLeft")(ch.trimLeft)
    f1("trimRight")(ch.trimRight)
    f1("reverseUTF8")(ch.reverseUTF8)
    f2("startsWith")(ch.startsWith); f2("endsWith")(ch.endsWith)
    f("appendTrailingCharIfAbsent") { case Seq(c, s) =>
      ch.appendTrailingCharIfAbsent(C(c), litStr(s)) }
    f1("empty")(ch.emptyCh); f1("notEmpty")(ch.notEmptyCh)
    f("position") {
      case Seq(h, n) => ch.position(C(h), C(n))
      case Seq(h, n, p) => ch.position3(C(h), C(n), C(p))
    }
    f("positionCaseInsensitive") {
      case Seq(h, n) => ch.positionCaseInsensitive(C(h), C(n))
      case Seq(h, n, p) =>
        ch.position3(ch.lowerAscii(C(h)), ch.lowerAscii(C(n)), C(p))
    }
    f("match") { case Seq(c, re) => ch.matchCh(C(c), litStr(re)) }
    f("extract") { case Seq(c, re) => ch.extract(C(c), litStr(re)) }
    f("extractAll") { case Seq(c, re) => ch.extractAllCh(C(c), litStr(re)) }
    f("replaceAll") { case Seq(c, a, b) =>
      ch.replaceAll(C(c), litStr(a), litStr(b)) }
    f("replaceOne") { case Seq(c, a, b) =>
      ch.replaceOne(C(c), litStr(a), litStr(b)) }
    f("replaceRegexpAll") { case Seq(c, a, b) =>
      ch.replaceRegexpAll(C(c), litStr(a), litStr(b)) }
    f("countSubstrings") { case Seq(c, n) =>
      ch.countSubstrings(C(c), litStr(n)) }
    // both CH forms: multiSearchAny(s, 'a', 'b') and
    // multiSearchAny(s, ['a', 'b'])
    f("multiSearchAny") {
      case Seq(c, arr) if !arr.isInstanceOf[Literal] =>
        ch.multiSearchAnyArr(C(c), C(arr))
      case Seq(c, ns @ _*) => ch.multiSearchAny(C(c), ns.map(litStr)) }
    // multiSearch position/index family (ref FunctionsMultiStringSearch.h):
    // per-needle byte positions (0 = absent), 1-based index of the first
    // needle found, and the smallest nonzero position
    locally {
      def positions(h: Column, arr: Column): Column =
        transform(arr, n => ch.position(h, n).cast("bigint"))
      f2("multiSearchAllPositions")((h, arr) => positions(h, arr))
      f2("multiSearchFirstIndex") { (h, arr) =>
        val hits = filter(sequence(lit(1), size(arr)),
          i => h.contains(element_at(arr, i)))
        when(size(hits) > 0, element_at(hits, 1)).otherwise(lit(0))
      }
      f2("multiSearchFirstPosition") { (h, arr) =>
        val ps = filter(positions(h, arr), p => p > 0)
        when(size(ps) > 0, array_min(ps)).otherwise(lit(0))
      }
    }
    f("hasToken") { case Seq(c, t) => ch.hasToken(C(c), litStr(t)) }
    // optional trailing max_substrings: n > 0 keeps the first n pieces,
    // n <= 0 keeps all (ref FunctionsStringArray.h max_substrings;
    // 02475_split_with_max_substrings pins the truncation form)
    def capSplit(arr: Column, n: Column): Column =
      when(n > 0, slice(arr, lit(1), n)).otherwise(arr)
    f("splitByChar") {
      case Seq(sep, c) => ch.splitByChar(litStr(sep), C(c))
      case Seq(sep, c, n) => capSplit(ch.splitByChar(litStr(sep), C(c)), C(n)) }
    f("splitByString") {
      case Seq(sep, c) => ch.splitByString(litStr(sep), C(c))
      case Seq(sep, c, n) =>
        capSplit(ch.splitByString(litStr(sep), C(c)), C(n)) }
    f("splitByRegexp") {
      case Seq(re, c) => ch.splitByRegexp(litStr(re), C(c))
      case Seq(re, c, n) =>
        capSplit(ch.splitByRegexp(litStr(re), C(c)), C(n)) }
    f("splitByWhitespace") {
      case Seq(c) => ch.splitByWhitespace(C(c))
      case Seq(c, n) => capSplit(ch.splitByWhitespace(C(c)), C(n)) }
    f("alphaTokens") {
      case Seq(c) => ch.alphaTokens(C(c))
      case Seq(c, n) => capSplit(ch.alphaTokens(C(c)), C(n)) }
    f("splitByAlpha") {
      case Seq(c) => ch.alphaTokens(C(c))
      case Seq(c, n) => capSplit(ch.alphaTokens(C(c)), C(n)) }
    f("splitByNonAlpha") {
      case Seq(c) => ch.splitByNonAlpha(C(c))
      case Seq(c, n) => capSplit(ch.splitByNonAlpha(C(c)), C(n)) }
    f("arrayStringConcat") {
      case Seq(a) => ch.arrayStringConcat(C(a))
      case Seq(a, sep) => ch.arrayStringConcat(C(a), litStr(sep)) }

    // arrays (higher-order fns keep CH argument order: lambda first)
    f2("has")(ch.has); f2("hasAll")(ch.hasAll); f2("hasAny")(ch.hasAny)
    f2("indexOf")(ch.indexOf); f2("countEqual")(ch.countEqual)
    f("emptyArrayInt64")(_ => ch.emptyArrayInt64())
    // containsNull=false: CH Array(T) elements are non-Nullable, and the
    // arrayElement out-of-range default (vs NULL) contract depends on it
    for ((n, t) <- Seq("UInt8" -> "smallint", "UInt16" -> "int",
        "UInt32" -> "bigint", "UInt64" -> "bigint", "Int8" -> "tinyint",
        "Int16" -> "smallint", "Int32" -> "int", "Float32" -> "float",
        "Float64" -> "double", "String" -> "string", "Date" -> "date",
        "DateTime" -> "timestamp"))
      f(s"emptyArray$n")(_ => array().cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DataType.fromDDL(t),
          containsNull = false)))
    f("range") {
      case Seq(n) => ch.rangeCh(C(n))
      case Seq(a, b) => sequence(C(a), C(b) - 1) }
    f("arrayConcat")(es => ch.arrayConcat(es.map(C)))
    f("arraySlice") {
      case Seq(a, o) => C(ChArraySlice(a, o, None))
      case Seq(a, o, l) => C(ChArraySlice(a, o, Some(l)))
    }
    f2("arrayPushBack")(ch.arrayPushBack); f2("arrayPushFront")(ch.arrayPushFront)
    f1("arrayPopBack")(ch.arrayPopBack); f1("arrayPopFront")(ch.arrayPopFront)
    f1("arraySort")(ch.arraySortCh); f1("arrayReverseSort")(ch.arrayReverseSort)
    f1("arrayReverse")(ch.arrayReverse); f1("arrayDistinct")(ch.arrayDistinct)
    // multi-array form counts unique TUPLES across parallel arrays
    // (ref src/Functions/array/arrayUniq.cpp)
    f("arrayUniq") {
      case Seq(a) => ch.arrayUniq(C(a))
      case as => size(array_distinct(arrays_zip(as.map(C): _*)))
    }
    f1("arrayCompact")(c => ch.arrayCompact(c))
    f1("arrayFlatten")(ch.arrayFlatten)
    // variadic: intersection across all argument arrays
    f("arrayIntersect")(es => es.map(C).reduce(ch.arrayIntersect))
    f("arrayZip") { es =>
      require(es.nonEmpty, "arrayZip needs at least one array argument")
      arrays_zip(es.map(C): _*)
    }
    f1("arrayDifference")(ch.arrayDifference); f1("arrayCumSum")(ch.arrayCumSum)
    f1("arraySum")(ch.arraySum); f1("arrayMin")(ch.arrayMin)
    f1("arrayMax")(ch.arrayMax); f1("arrayAvg")(ch.arrayAvg)
    f1("arrayProduct")(ch.arrayProduct)
    f2("arrayWithConstant")(ch.arrayWithConstant)
    f1("arrayEnumerate")(ch.arrayEnumerate)
    f2("dotProduct")(ch.dotProduct); f1("L2Norm")(ch.arrayL2Norm)
    f2("cosineDistance")(ch.cosineDistance)
    f2("L2Distance")(ch.arrayL2Distance)
    // CH lambda-first higher-order functions → Spark HOF expressions.
    // The multi-array forms zip positionally (ref
    // src/Functions/array/FunctionArrayMapped.h — the lambda takes one
    // argument per array)
    reg.createOrReplaceTempFunction("arrayMap",
      { case Seq(l, a) => ArrayTransform(a, l)
        case Seq(l, a, b) => ZipWith(a, b, l) }, "scala_udf")
    // CH predicates return UInt8; Spark wants Boolean — cast the lambda
    // body (int→bool is 0/nonzero, CH's truthiness)
    def boolLambda(l: Expression): Expression = l match {
      case lf: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
        lf.copy(function =
          Cast(lf.function, org.apache.spark.sql.types.BooleanType))
      case other => other
    }
    reg.createOrReplaceTempFunction("arrayFilter",
      { case Seq(l, a) => ArrayFilter(a, boolLambda(l)) }, "scala_udf")
    // zipped 2-array predicate → per-element booleans, then fold
    def boolId: Expression = {
      val v = org.apache.spark.sql.catalyst.expressions
        .UnresolvedNamedLambdaVariable(Seq("__zb"))
      org.apache.spark.sql.catalyst.expressions.LambdaFunction(
        Cast(v, org.apache.spark.sql.types.BooleanType), Seq(v))
    }
    reg.createOrReplaceTempFunction("arrayExists",
      { case Seq(l, a) => ArrayExists(a, boolLambda(l))
        case Seq(l, a, b) =>
          ArrayExists(ZipWith(a, b, boolLambda(l)), boolId) },
      "scala_udf")
    reg.createOrReplaceTempFunction("arrayAll",
      { case Seq(l, a) => ArrayForAll(a, boolLambda(l))
        case Seq(l, a, b) =>
          ArrayForAll(ZipWith(a, b, boolLambda(l)), boolId) },
      "scala_udf")
    reg.createOrReplaceTempFunction("arrayFold",
      { case Seq(l, a, z) =>
        org.apache.spark.sql.catalyst.expressions.ArrayAggregate(
          a, z, l, org.apache.spark.sql.catalyst.expressions.LambdaFunction(
            org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("acc")),
            Seq(org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("acc"))))) },
      "scala_udf")
    reg.createOrReplaceTempFunction("mapFilter",
      { case Seq(l, m) =>
        org.apache.spark.sql.catalyst.expressions.MapFilter(m, l) },
      "scala_udf")
    reg.createOrReplaceTempFunction("mapApply",
      { case Seq(l, m) =>
        org.apache.spark.sql.catalyst.expressions.TransformValues(m, l) },
      "scala_udf")
    // arrayCount/arrayFirst/arrayFirstIndex compose a HOF under a scalar —
    // the analyzer only accepts lambda args when the registered builder's
    // ROOT is itself a HigherOrderFunction, so these are handled as dialect
    // rewrites in ChSql.translate instead.

    // maps / tuples
    f1("mapKeys")(ch.mapKeys); f1("mapValues")(ch.mapValues)
    f2("mapContains")(ch.mapContains)
    f2("mapFromArrays")(map_from_arrays)
    f("tuple")(es => ch.tuple(es.map(C)))
    f("tupleElement") {
      // named-tuple access by element NAME (ref tupleElement.cpp)
      case Seq(t, Literal(s: UTF8String, _)) => C(t).getField(s.toString)
      case Seq(t, i) => C(TupleElement(t, litInt(i)))
    }

    // JSON
    f("JSONExtractString") { case Seq(j, k) =>
      ch.jsonExtractString(C(j), litStr(k)) }
    f("JSONExtractInt") { case Seq(j, k) => ch.jsonExtractInt(C(j), litStr(k)) }
    f("JSONExtractFloat") { case Seq(j, k) =>
      ch.jsonExtractFloat(C(j), litStr(k)) }
    f("JSONHas") { case Seq(j, k) => ch.jsonHas(C(j), litStr(k)) }
    f("visitParamExtractString") { case Seq(j, k) =>
      ch.visitParamExtractString(C(j), litStr(k)) }
    f("visitParamExtractInt") { case Seq(j, k) =>
      ch.visitParamExtractInt(C(j), litStr(k)) }
    f("visitParamHas") { case Seq(j, k) =>
      ch.visitParamHas(C(j), litStr(k)) }
    // simpleJSON* = the renamed visitParam* family (ref
    // registerFunctionsVisitParam.cpp alias table)
    f("simpleJSONExtractString") { case Seq(j, k) =>
      ch.visitParamExtractString(C(j), litStr(k)) }
    f("simpleJSONExtractInt") { case Seq(j, k) =>
      ch.visitParamExtractInt(C(j), litStr(k)) }
    f("simpleJSONExtractUInt") { case Seq(j, k) =>
      ch.visitParamExtractUInt(C(j), litStr(k)) }
    f("simpleJSONExtractFloat") { case Seq(j, k) =>
      ch.visitParamExtractFloat(C(j), litStr(k)) }
    f("simpleJSONExtractBool") { case Seq(j, k) =>
      ch.visitParamExtractBool(C(j), litStr(k)) }
    f("simpleJSONExtractRaw") { case Seq(j, k) =>
      ch.visitParamExtractRaw(C(j), litStr(k)) }
    f("simpleJSONHas") { case Seq(j, k) =>
      ch.visitParamHas(C(j), litStr(k)) }

    // URL
    f1("domain")(ch.domain); f1("path")(ch.pathCh); f1("pathFull")(ch.pathFull)
    f1("queryString")(ch.queryString); f1("fragment")(ch.fragment)
    f1("protocol")(ch.protocol)
    f("extractURLParameter") { case Seq(u, p) =>
      ch.extractURLParameter(C(u), litStr(p)) }
    f1("cutWWW")(ch.cutWWW); f1("topLevelDomain")(ch.topLevelDomain)
    f1("cutQueryString")(ch.cutQueryString); f1("netloc")(ch.netloc)
    f1("port")(ch.portCh)

    // hash / encoding — cityHash64/sipHash64 are bit-exact CH values
    // (ChHash; golden-pinned by 00259/00324/01032)
    // CH literal type inference for hash widths: a bare int literal is
    // the NARROWEST unsigned (non-negative) / signed (negative) type
    // (ref src/DataTypes/FieldToDataType.cpp), so its byte-hash width
    // differs from the Spark literal's type width
    def chLitWidth(e: Expression): Int = {
      def w(v: Long): Int =
        if (v >= 0) {
          if (v < 256L) 1 else if (v < 65536L) 2
          else if (v < 4294967296L) 4 else 8
        } else {
          if (v >= -128L) 1 else if (v >= -32768L) 2
          else if (v >= Int.MinValue.toLong) 4 else 8
        }
      e match {
        case Literal(v: Byte, _) => w(v.toLong)
        case Literal(v: Short, _) => w(v.toLong)
        case Literal(v: Int, _) => w(v.toLong)
        case Literal(v: Long, _) => w(v)
        case _ => 0
      }
    }
    // flattened pre-order slot widths matching ChAnyHash's walk: struct
    // fields expand to one slot each, an array is one slot (applied to
    // its elements), every other leaf is one slot
    def flatWidths(e: Expression): Seq[Int] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      import org.apache.spark.sql.catalyst.expressions.{Alias, CreateArray, CreateNamedStruct}
      def slots(dt: org.apache.spark.sql.types.DataType): Int = dt match {
        case st: org.apache.spark.sql.types.StructType =>
          st.map(f => slots(f.dataType)).sum
        case _ => 1
      }
      e match {
        case a: Alias => flatWidths(a.child)
        case s: CreateNamedStruct => s.valExprs.flatMap(flatWidths)
        case uf: UnresolvedFunction
            if Seq("struct", "tuple").contains(
              uf.nameParts.last.toLowerCase) =>
          uf.arguments.flatMap(flatWidths)
        case uf: UnresolvedFunction
            if uf.nameParts.last.equalsIgnoreCase("named_struct") =>
          uf.arguments.zipWithIndex.collect {
            case (a, i) if i % 2 == 1 => a
          }.flatMap(flatWidths)
        case ca: CreateArray =>
          val ws = ca.children.map(chLitWidth)
          Seq(if (ws.nonEmpty && ws.forall(_ > 0)) ws.max else 0)
        case uf: UnresolvedFunction
            if uf.nameParts.last.equalsIgnoreCase("array") =>
          val ws = uf.arguments.map(chLitWidth)
          Seq(if (ws.nonEmpty && ws.forall(_ > 0)) ws.max else 0)
        case t: ChUIntTag => Seq(t.width)
        case l @ Literal(_, _) => Seq(chLitWidth(l))
        case other if other.resolved => Seq.fill(slots(other.dataType))(0)
        case _ => Seq(0)
      }
    }
    def anyHash(algo: String)(es: Seq[Expression]): Column =
      C(ChAnyHash(city = algo == "city", es, algo = algo,
        widths = es.flatMap(flatWidths)))
    f("cityHash64")(anyHash("city"))
    f("sipHash64")(anyHash("sip"))
    // CH-exact XXH64/XXH32 (seed 0) with CH's multi-arg combine
    f("xxHash64")(anyHash("xx64"))
    f("xxHash32")(anyHash("xx32"))
    // murmur family (ref FunctionsHashing.h MurmurHash2Impl32/64,
    // MurmurHash3Impl32/64/128, GccMurmurHashImpl): byte-rule elements,
    // int-hash XOR combine
    f("murmurHash2_32")(anyHash("murmur2_32"))
    f("murmurHash2_64")(anyHash("murmur2_64"))
    f("murmurHash3_32")(anyHash("murmur3_32"))
    f("murmurHash3_64")(anyHash("murmur3_64"))
    f("gccMurmurHash")(anyHash("gcc"))
    f("murmurHash3_128") {
      case Seq(c) => C(ChMurmur128(c))
      case es if es.size > 1 => anyHash("murmur128")(es)
      // zero args → the fixed UInt128 magic as FixedString(16) LE
      case Seq() => lit((0 until 16).map(i =>
        if (i < 8) ((0xe28dbde7fe22e41cL >>> (8 * i)) & 0xff).toByte
        else 0.toByte).toArray)
    }
    // round-8 hash wave (all public algorithms; ref FunctionsHashing.h
    // ImplWyHash64/ImplXXH3/ImplMetroHash64/ImplFarmFingerprint64/
    // ImplFarmHash64, SipHash128/Keyed/Reference impls)
    f("wyHash64")(anyHash("wy"))
    f("xxh3")(anyHash("xxh3"))
    f("metroHash64")(anyHash("metro"))
    f("farmFingerprint64")(anyHash("farmfp"))
    f("farmHash64")(anyHash("farm"))
    f("sipHash128")(anyHash("sip128"))
    f("sipHash128Reference")(anyHash("sip128ref"))
    locally {
      def keyedHash(algo: String): Seq[Expression] => Column = {
        // zero args: same fixed magic as the unkeyed form (pinned 02534)
        case Seq() => C(ChAnyHash(city = false, Nil, algo = algo))
        case es @ (k +: rest) =>
          // the key must be a tuple of two UInt64 (ref parseSipHashKey —
          // anything else is NOT_IMPLEMENTED in the reference)
          if (k.resolved) {
            val ok = k.dataType match {
              case st: org.apache.spark.sql.types.StructType =>
                st.length == 2 && st.forall(f => f.dataType match {
                  case LongType => true
                  case _: DecimalType => true
                  case _ => false
                })
              case _ => false
            }
            if (!ok) throw new IllegalArgumentException(
              s"$algo: key must be a tuple of two UInt64")
          }
          C(ChAnyHash(city = false, es, algo = algo,
            widths = rest.flatMap(flatWidths), keyed = true))
      }
      f("sipHash64Keyed")(keyedHash("sip"))
      f("sipHash128Keyed")(keyedHash("sip128"))
      f("sipHash128ReferenceKeyed")(keyedHash("sip128ref"))
    }
    f("halfMD5")(anyHash("halfmd5"))
    f("MD5") { case Seq(c) => C(Md5(Cast(c, BinaryType))) }
    f1("SHA256")(ch.sha256Ch)
    // intHash64(number) = IntHash64Impl on the zero-extended value —
    // identical to cityHash64's single-int element rule
    f("intHash64")(es => C(ChAnyHash(city = true, es)))
    f1("hiveHash")(ch.hiveHash)
    f1("base64Encode")(ch.base64Encode); f1("base64Decode")(ch.base64Decode)
    f1("IPv4NumToString")(ch.ipv4NumToString)
    f1("isIPv4String")(ch.isIPv4String)

    // ---- IP coding family (ref src/Functions/FunctionsCodingIP.cpp,
    // src/Common/formatIPv6.{h,cpp}). IPv4/IPv6 are UDT-typed values:
    // display text at the surface, UInt32 / FixedString(16) underneath
    // (lowered by ChIpCoercionRule in relational contexts). The
    // conversion-error default mode mirrors CH's
    // cast_ipv4_ipv6_default_on_conversion_error session setting, which
    // the golden harness propagates as a graft.ch.* conf.
    locally {
      def baseMode: Int =
        if (org.apache.spark.sql.internal.SQLConf.get.getConfString(
          "graft.ch.cast_ipv4_ipv6_default_on_conversion_error", "0") == "1")
          IpMode.Default
        else IpMode.Throw
      f("toIPv4") { case Seq(a) => C(ToIPv4(a, baseMode)) }
      f("toIPv4OrNull") { case Seq(a) => C(ToIPv4(a, IpMode.Null)) }
      f("toIPv4OrDefault") { case Seq(a) => C(ToIPv4(a, IpMode.Default)) }
      f("toIPv6") { case Seq(a) => C(ToIPv6(a, baseMode)) }
      f("toIPv6OrNull") { case Seq(a) => C(ToIPv6(a, IpMode.Null)) }
      f("toIPv6OrDefault") { case Seq(a) => C(ToIPv6(a, IpMode.Default)) }
      // IPv4StringToNum returns the plain UInt32, not the typed value
      f("IPv4StringToNum") { case Seq(a) =>
        C(IpUnwrap(ToIPv4(a, baseMode))) }
      f("IPv4StringToNumOrNull") { case Seq(a) =>
        C(IpUnwrap(ToIPv4(a, IpMode.Null))) }
      f("IPv4StringToNumOrDefault") { case Seq(a) =>
        C(IpUnwrap(ToIPv4(a, IpMode.Default))) }
      f("IPv6StringToNum") { case Seq(a) => C(Ipv6StringToNum(a, baseMode)) }
      f("IPv6StringToNumOrNull") { case Seq(a) =>
        C(Ipv6StringToNum(a, IpMode.Null)) }
      f("IPv6StringToNumOrDefault") { case Seq(a) =>
        C(Ipv6StringToNum(a, IpMode.Default)) }
      f("IPv6NumToString") { case Seq(a) => C(Ipv6NumToString(a)) }
      f("IPv4ToIPv6") { case Seq(a) => C(Ipv4ToIpv6(a)) }
      f("cutIPv6") { case Seq(a, b6, b4) => C(CutIPv6(a, b6, b4)) }
      f("IPv4CIDRToRange") { case Seq(a, c) =>
        C(Ipv4CidrToRange(IpUnwrap(a), c)) }
      f("IPv6CIDRToRange") { case Seq(a, c) => C(Ipv6CidrToRange(a, c)) }
      f("isIPv6String") { case Seq(a) => C(IsIpString(a, v6 = true)) }
      // OrZero = OrDefault for IP types (the default IS the zero address)
      f("toIPv4OrZero") { case Seq(a) => C(ToIPv4(a, IpMode.Default)) }
      f("toIPv6OrZero") { case Seq(a) => C(ToIPv6(a, IpMode.Default)) }
    }

    // defaultValueOfTypeName (ref src/Functions/defaultValueOfTypeName.cpp):
    // the type's zero value, built from the parsed CH type text
    locally {
      def dflt(t: ChTypes.T): Column = t match {
        case ChTypes.Nullable(_) => lit(null)
        case ChTypes.LowCard(i) => dflt(i)
        case ChTypes.Arr(_) => array()
        case ChTypes.Tup(el) => struct(el.map(dflt): _*)
        case ChTypes.MapT(_, _) => map()
        case ChTypes.Scalar(n) =>
          if (n.startsWith("UInt") || n.startsWith("Int")) lit(0)
          else if (n.startsWith("Float")) lit(0.0)
          else if (n.startsWith("Decimal")) lit(java.math.BigDecimal.ZERO)
          else n match {
            case "String" => lit("")
            case "UUID" => lit("00000000-0000-0000-0000-000000000000")
            case "IPv4" => C(ToIPv4(Literal("0.0.0.0"), IpMode.Throw))
            case "IPv6" => C(ToIPv6(Literal("::"), IpMode.Throw))
            case "Bool" => C(ChBoolWrap(Literal(false)))
            case "Date" | "Date32" => lit(java.sql.Date.valueOf("1970-01-01"))
            case s if s.startsWith("DateTime") =>
              lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
            case s if s.startsWith("FixedString") => lit("")
            case _ => lit(null)
          }
      }
      f("defaultValueOfTypeName") { case Seq(t) =>
        ChTypes.parseTypeText(litStr(t)).map(dflt).getOrElse(lit(null)) }
      f("isIPAddressInRange") { case Seq(a, cidr) =>
        // string CIDR 'net/prefix' containment (ref isIPAddressContainedIn)
        val parts = split(C(cidr), "/")
        val net = element_at(parts, 1); val pfx = element_at(parts, 2).cast("int")
        when(C(a).contains(":"),
          {
            val r = C(Ipv6CidrToRange(ToIPv6(E(net), IpMode.Default), E(pfx)))
            val ip = C(Ipv6StringToNum(a, IpMode.Default))
            ip >= C(IpUnwrap(E(r.getField("_1")))) &&
              ip <= C(IpUnwrap(E(r.getField("_2"))))
          }).otherwise {
            val r = C(Ipv4CidrToRange(IpUnwrap(ToIPv4(E(net), IpMode.Default)), E(pfx)))
            val ip = C(IpUnwrap(ToIPv4(a, IpMode.Default)))
            ip >= C(IpUnwrap(E(r.getField("_1")))) &&
              ip <= C(IpUnwrap(E(r.getField("_2"))))
          }
      }
    }

    // bits
    f2("bitAnd")(ch.bitAnd); f2("bitOr")(ch.bitOr); f2("bitXor")(ch.bitXor)
    f1("bitNot")(ch.bitNot)
    f2("bitShiftLeft")(ch.bitShiftLeft); f2("bitShiftRight")(ch.bitShiftRight)
    // bitCount of floats counts the IEEE bit pattern (ref bitCount.cpp);
    // integer literals get CH's smallest-fitting-type width (Int8 for -1)
    f("bitCount") {
      case Seq(a) if a.resolved && a.dataType == DoubleType =>
        C(ChBitCount(ChReinterpret(a, "Int64", 0)))
      case Seq(a) if a.resolved && a.dataType == FloatType =>
        C(ChBitCount(ChReinterpret(a, "Int32", 0)))
      case Seq(Literal(v: Int, IntegerType)) =>
        val w: Long => Int = x =>
          if (x >= -128 && x <= 255) 8
          else if (x >= -32768 && x <= 65535) 16
          else if (x >= Int.MinValue && x <= 0xFFFFFFFFL) 32 else 64
        lit(java.lang.Long.bitCount(v.toLong & (w(v.toLong) match {
          case 8 => 0xFFL; case 16 => 0xFFFFL
          case 32 => 0xFFFFFFFFL; case _ => -1L
        })))
      case Seq(a) => C(ChBitCount(a))
    }
    f2("bitTest")(ch.bitTest)
    f1("groupBitAnd")(bit_and); f1("groupBitOr")(bit_or)
    f1("groupBitXor")(bit_xor)
    f2("bitHammingDistance")(ch.bitHammingDistance)

    // random / misc
    // 0-arg = CH semantics (UInt32); seeded arity keeps Spark semantics so
    // a CH-registered session doesn't hijack functions.rand(seed) callers
    f("rand") {
      case Seq() => (C(new Rand()) * 4294967296L).cast("bigint")
      // a SEEDED rand only bypasses common-subexpression elimination in
      // CH; a deterministic derivation lets it sit inside aggregates
      // (Spark rejects nondeterministic aggregate children; 02494)
      // DOUBLE-typed like Spark's rand (functions.rand(seed) resolves
      // into this session registry), deterministic so it may sit
      // inside aggregates (02494_query_cache_nondeterministic)
      case Seq(seed @ Literal(_: Number, _)) =>
        pmod(ch.sparkXxhash64(C(seed)), lit(4294967296L))
          .cast("double") / lit(4294967296.0)
      // non-literal arg only keys per-column generator state in CH
      case _ => (C(new Rand()) * 4294967296L).cast("bigint") }
    f("rand64") { case _ => ch.sparkXxhash64(C(new Rand())) }
    // randNormal(mean, stddev) (ref src/Functions/randDistribution.cpp):
    // Spark's Gaussian generator rescaled — the distribution contract,
    // not the reference's generator stream
    f2("randNormal")((m, s) =>
      randn() * s.cast("double") + m.cast("double"))
    f("canonicalRand") { case _ => C(new Rand()) }
    f("randCanonical") { case _ => C(new Rand()) }
    // random printable-ASCII string of length n: repeated base64 of a
    // random seed (all base64 chars are printable), cut to n
    f("randomPrintableASCII") { case Seq(n) =>
      val block = base64(md5(C(new Rand()).cast("string")).cast("binary"))
      substring(repeat(block, (C(n).cast("int") / 40) + 2),
        lit(1), C(n).cast("int"))
    }
    f("randomString") { case Seq(n) =>
      val block = base64(md5(C(new Rand()).cast("string")).cast("binary"))
      substring(repeat(block, (C(n).cast("int") / 40) + 2),
        lit(1), C(n).cast("int"))
    }
    f("generateUUIDv4") {
      case Seq() => ch.generateUUIDv4()
      // tagged form: the argument only defeats common-subexpression
      // elimination (ref generateUUIDv4.cpp docs). CH gives equal values
      // for IDENTICAL calls in one query (CSE) and different values for
      // different tags — reproduced by deriving the UUID from the
      // argument expression text + a per-session seed.
      case es => lit(ch.uuidV4FromSeed(
        uuidSessionSeed + es.map(_.sql).mkString(",")))
    }
    f1("formatReadableSize")(ch.formatReadableSize)
    f("ignore")(es => ch.ignoreCh(es.map(C)))
    f1("materialize")(ch.materialize)
    f("version") { case Seq() => ch.versionCh() }
    f("hostName") { case Seq() => ch.hostName() }
    f("currentDatabase") { case Seq() => ch.currentDatabase() }
    f("rowNumberInAllBlocks") { case Seq() => ch.rowNumberInAllBlocks() }
    // the single-JVM engine processes one logical block per query
    // stage: blockSize() is the input size, shard/replica are 1 (ref
    // src/Functions/blockSize.cpp, serverConstants.cpp)
    f("blockSize") { case Seq() =>
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.lit(1))) }
    f("shardNum") { case Seq() => org.apache.spark.sql.functions
      .lit(1).cast("int") }
    f("shardCount") { case Seq() => org.apache.spark.sql.functions
      .lit(1).cast("int") }
    f1("toUInt256")(c => c.cast("decimal(38,0)"))
    f1("normalizeQuery")(ch.normalizeQuery)
    f1("normalizeQueryKeepNames")(ch.normalizeQuery)
    f1("normalizedQueryHash") { c =>
      org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.xxhash64(ch.normalizeQuery(c))) }

    // server-introspection constants (ref src/Functions/serverConstants.cpp
    // and registerFunctionsIntrospection.cpp): fixed values matching the
    // reference test server's configuration where one is expected
    f("displayName") { case Seq() => lit("functional-tests") }
    f("connection_id") { case Seq() => lit(0L) }
    f("connectionid") { case Seq() => lit(0L) }
    f("revision") { case Seq() => lit(54462) }
    f("getOSKernelVersion") { case Seq() =>
      lit("Linux " + sys.props.getOrElse("os.version", "unknown")) }
    f("getServerPort") { case Seq(p) =>
      litStr(p) match {
        case "tcp_port" => lit(9000)
        case other => throw new IllegalArgumentException(
          s"getServerPort: unknown port name '$other'")
      }
    }
    f("buildId") { case Seq() =>
      lit("4E1F1D4C9A3B7E2D8F05C16B334D7A219E8B5C01") }
    locally {
      val root = new java.io.File("/")
      f("filesystemCapacity") { case Seq() => lit(root.getTotalSpace) }
      f("filesystemAvailable") { case Seq() => lit(root.getUsableSpace) }
      f("filesystemFree") { case Seq() => lit(root.getFreeSpace) }
      f("filesystemUnreserved") { case Seq() => lit(root.getFreeSpace) }
    }
    f1("errorCodeToName")(c => C(ChErrorCodeToName(E(c))))
    // column-nullability introspection: the analyzer-time nullable flag
    // IS the CH Nullable property (toNullable registers KnownNullable)
    f("isNullable") { case Seq(e) =>
      lit((if (e.nullable) 1 else 0).toByte) }
    f("isDecimalOverflow") {
      case Seq(a) if a.resolved => C(ChIsDecimalOverflow(a, a.dataType match {
        case d: DecimalType => d.precision
        case _ => 38
      }))
      case Seq(a, p) => C(ChIsDecimalOverflow(a, litInt(p)))
    }
    // NULL x is "not finite" in CH: NOT(isFinite(NULL)) is NULL-as-false
    // on the keep-x branch, so the default y wins (ref ifNotFinite.cpp)
    f2("ifNotFinite") { (x, y) =>
      when(x.isNotNull && !isnan(x) && x =!= Double.PositiveInfinity &&
        x =!= Double.NegativeInfinity, x).otherwise(y)
    }
    // left/right are BYTE-based in CH; the UTF8 variants count
    // codepoints (ref src/Functions/LeftRight.h); negative n keeps
    // length+n leading/trailing units
    locally {
      def slice(s: Column, n: Column, fromLeft: Boolean,
          utf8: Boolean): Column = {
        val bin = encode(s, "UTF-8")
        val ln = if (utf8) length(s) else octet_length(s)
        // no least() cap: least() skips NULLs, and substr over-length
        // is already safe — left(s, NULL) must be NULL
        val k = when(n < 0, greatest(ln + n, lit(0)))
          .otherwise(n).cast("int")
        // clamp: a 0/negative SQL substring start counts from the END
        val start = if (fromLeft) lit(1) else greatest(ln - k + 1, lit(1))
        if (utf8) s.substr(start, k)
        else decode(bin.substr(start, k), "UTF-8")
      }
      f2("chLeft")((s, n) => slice(s, n, fromLeft = true, utf8 = false))
      f2("chRight")((s, n) => slice(s, n, fromLeft = false, utf8 = false))
      f2("leftUTF8")((s, n) => slice(s, n, fromLeft = true, utf8 = true))
      f2("rightUTF8")((s, n) => slice(s, n, fromLeft = false, utf8 = true))
    }
    // bitmaskToList/Array widths follow the CH type: literals get the
    // smallest fitting int type, expressions their carrier width
    locally {
      def chBits(e: Expression): (Int, Boolean) = e match {
        case t: ChUIntTag => (t.width * 8, false)
        case other if other.resolved && other.foldable =>
          (other.eval(null) match {
            case null => (8, true)
            case n: java.lang.Number =>
              val x = n.longValue
              if (x >= -128 && x <= 127) (8, true)
              else if (x >= 0 && x <= 255) (8, false)
              else if (x >= -32768 && x <= 32767) (16, true)
              else if (x >= 0 && x <= 65535) (16, false)
              else if (x >= Int.MinValue && x <= Int.MaxValue) (32, true)
              else if (x >= 0 && x <= 0xFFFFFFFFL) (32, false)
              else (64, true)
            case _ => (64, true)
          }) match {
            // an explicit conversion wins over literal smallest-fit
            case lit0 => other.dataType match {
              case LongType => (64, true)
              case _ => lit0
            }
          }
        case other if other.resolved => other.dataType match {
          case ByteType | BooleanType => (8, true)
          case ShortType => (16, true)
          case IntegerType => (32, true)
          case _ => (64, true)
        }
        case _ => (64, true)
      }
      def bitmask(asList: Boolean)(es: Seq[Expression]): Column = {
        val (w, sg) = chBits(es.head)
        C(ChBitmask(es.head, w, sg, asList))
      }
      f("bitmaskToList")(bitmask(asList = true))
      f("bitmaskToArray")(bitmask(asList = false))
    }
    f("encodeXMLComponent") { case Seq(c) => C(ChEncodeXml(c)) }
    f("decodeXMLComponent") { case Seq(c) => C(ChDecodeXml(c)) }
    f("countMatches") { case Seq(h, p) =>
      C(ChCountMatches(h, p, caseInsensitive = false)) }
    f("countMatchesCaseInsensitive") { case Seq(h, p) =>
      C(ChCountMatches(h, p, caseInsensitive = true)) }
    f2("ngrams")((s, n) => C(ChNgrams(E(s), E(n))))
    f("parseTimeDelta") { case Seq(c) => C(ChParseTimeDelta(c)) }
    // positive_modulo keeps the divisor's magnitude as the period (ref
    // src/Functions/DivisionUtils.h PositiveModuloImpl)
    locally {
      def posMod(a: Column, b: Column): Column = {
        val r = a % b
        when(r < 0, r + abs(b)).otherwise(r)
      }
      f2("positive_modulo")(posMod)
      f2("positiveModulo")(posMod)
    }
    // moduloLegacy narrows the result through the divisor's unsigned
    // width (ref DivisionUtils.h ModuloLegacyImpl / ResultOfModuloLegacy)
    f("moduloLegacy") { case Seq(a, b) =>
      val mask = (if (b.resolved && b.foldable) b.eval(null) else null) match {
        case n: java.lang.Number =>
          val x = math.abs(n.longValue)
          if (x <= 256) 0xFFL
          else if (x <= 65536) 0xFFFFL
          else if (x <= 0x100000000L) 0xFFFFFFFFL else -1L
        case _ => -1L
      }
      if (mask == -1L) C(a) % C(b)
      else (C(a) % C(b)).cast("bigint").bitwiseAND(lit(mask))
    }
    // regexpExtract defaults to group 1 when the pattern has capture
    // groups, group 0 otherwise (ref src/Functions/regexpExtract.cpp)
    f("regexpExtract") {
      case Seq(s, p) =>
        val groups =
          try java.util.regex.Pattern.compile(litStr(p)).matcher("")
            .groupCount()
          catch { case _: Exception => 1 }
        call_function("regexp_extract", C(s), C(p),
          lit(if (groups >= 1) 1 else 0))
      case Seq(s, p, g) => call_function("regexp_extract", C(s), C(p), C(g))
    }
    // direct expression: registering the lowercase twin name would
    // shadow Spark's builtin json_array_length and self-recurse
    f1("JSONArrayLength")(c => C(
      org.apache.spark.sql.catalyst.expressions.LengthOfJsonArray(E(c))))
    f1("JSON_ARRAY_LENGTH")(c => C(
      org.apache.spark.sql.catalyst.expressions.LengthOfJsonArray(E(c))))

    // type-annotation no-ops + remaining conversions (ref
    // src/Functions/toLowCardinality.cpp, toNullable.cpp, parseDateTime.cpp)
    // KnownNullable, not identity: isNullable/toTypeName see the flag
    f1("toNullable")(c => C(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(E(c))))
    // CH Bool renders true/false (unlike UInt8 comparison results) —
    // the ChBool UDT carries the display distinction. The text form
    // accepts CH's full vocabulary (ref DataTypeBool serialization:
    // true/false, 1/0, enabled/disabled, on/off, yes/no, t/f, y/n)
    f("toBool") { case Seq(a) =>
      if (a.resolved && a.dataType.isInstanceOf[BoolUDT]) C(a) // idempotent
      else {
      val isStr = a.resolved && (a.dataType match {
        case org.apache.spark.sql.types.StringType => true
        case _ => false
      })
      val b =
        if (isStr) {
          val l = lower(trim(C(a)))
          when(l.isin("true", "1", "enabled", "enable", "on", "yes",
            "y", "t"), lit(true))
            .when(l.isin("false", "0", "disabled", "disable", "off",
              "no", "n", "f"), lit(false))
            .otherwise(C(a).cast("boolean"))
        } else if (a.resolved && (a.dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case _ => false
        })) C(a) =!= lit(0)
        else C(a).cast("boolean")
      C(ChBoolWrap(E(b)))
      }
    }
    // dynamic Object('json') literal (a '…'::JSON cast — the text is
    // pre-flattened by the translate pass)
    f("chJsonLiteral") { case Seq(a) => C(ChJsonWrap(a)) }
    f1("toLowCardinality")(c => c)
    // sleep/sleepEachRow return 0 without delaying — tests use them to
    // exercise scheduling, which has no analogue here (ref
    // src/Functions/sleep.h returns UInt8 0)
    f1("sleep")(_ => lit(0).cast("tinyint"))
    f1("sleepEachRow")(_ => lit(0).cast("tinyint"))
    // integer exponentials (ref src/Functions/intExp2.cpp/intExp10.cpp)
    f1("intExp2")(n => expr("1").cast("bigint") *
      call_function("shiftleft", lit(1L), n.cast("int")))
    f1("intExp10")(n =>
      pow(lit(10.0), n.cast("int")).cast("decimal(38,0)").cast("bigint"))
    // runtime toTypeName tier — fires only when the static fold in
    // ChSql.rewriteTypeIntrospection could not prove the CH type. For a
    // direct column reference, thread the DECLARED CH type text through
    // so distinctions Spark's lattice can't carry (Bool, UInt64,
    // LowCardinality, FixedString(N)) survive (advice r10)
    def declaredOf(e: Expression): Option[String] = (e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
        Some(a.name)
      case _ => None
    }).flatMap(n => graft.ChSql.declaredColumnType(n))
    f("toTypeName") { case Seq(a) => C(ChTypeNameOf(a, declaredOf(a))) }
    f("toColumnTypeName") { case Seq(a) =>
      C(ChTypeNameOf(a, declaredOf(a))) }
    // ---- stored aggregate states for NON-distributive bases (ref
    // src/Columns/ColumnAggregateFunction.h — AggregateFunction(...)
    // columns hold resumable states). Distributive bases (sum/min/max/
    // any/count/groupArray) keep the value-is-the-state model in
    // CombinatorChain; the bases below need a real partial state:
    //  - uniq/uniqExact: the distinct SET (exact at golden sizes — CH's
    //    uniq is exact below its sampling threshold; the engine's SCALE
    //    tier for sketch columns is UniqState's HLL binary)
    //  - avg: (sum, count) pair
    //  - quantile/quantiles/median: the raw value list, merged by R-7
    //    interpolation over the union (matches the reservoir tier)
    locally {
      def flat(s: Expression) = flatten(collect_list(C(s)))
      def uniqSt(x: Expression) = array_sort(collect_set(C(x)))
      def uniqMg(s: Expression) =
        size(array_distinct(flat(s))).cast("bigint")
      f("uniqState") { case Seq(x) => uniqSt(x) }
      f("uniqExactState") { case Seq(x) => uniqSt(x) }
      f("uniqMerge") { case Seq(s) => uniqMg(s) }
      f("uniqExactMerge") { case Seq(s) => uniqMg(s) }
      f("avgState") { case Seq(x) =>
        struct(sum(C(x).cast("double")).as("s"), count(C(x)).as("c")) }
      f("avgMerge") { case Seq(s) =>
        sum(C(s).getField("s")) / sum(C(s).getField("c")) }
      def qOverArray(arr: Column, p: Column): Column = {
        val sorted = array_sort(arr)
        val n = size(sorted)
        val h = (n.cast("double") - 1) * p
        val lo = floor(h)
        val frac = h - lo
        val vLo = element_at(sorted, (lo + 1).cast("int"))
        val vHi = element_at(sorted, least((lo + 2).cast("int"), n))
        vLo.cast("double") * (lit(1.0) - frac) + vHi.cast("double") * frac
      }
      def qState(x: Expression) = collect_list(C(x).cast("double"))
      f("quantileState") { case x +: _ => qState(x) }
      f("quantilesState") { case x +: _ => qState(x) }
      f("medianState") { case Seq(x) => qState(x) }
      f("quantileMerge") { case s +: ps =>
        qOverArray(flat(s), ps.headOption.map(C(_).cast("double"))
          .getOrElse(lit(0.5))) }
      f("medianMerge") { case Seq(s) => qOverArray(flat(s), lit(0.5)) }
      f("quantilesMerge") { case s +: ps =>
        array(ps.map(p => qOverArray(flat(s), C(p).cast("double"))): _*) }
    }
    locally {
      def dt64(name: String, mode: Int): Unit = f(name) {
        case Seq(c, sc) => C(ToDateTime64(c, litInt(sc), None, mode))
        case Seq(c, sc, tz) =>
          C(ToDateTime64(c, litInt(sc), Some(litStr(tz)), mode))
        // OrDefault may carry a trailing default value — parse failure
        // falls back to it
        case Seq(c, sc, tz, dflt) if mode == IpMode.Default =>
          coalesce(C(ToDateTime64(c, litInt(sc), Some(litStr(tz)), IpMode.Null)),
            C(dflt))
      }
      dt64("toDateTime64", IpMode.Throw)
      dt64("toDateTime64OrNull", IpMode.Null)
      dt64("toDateTime64OrZero", IpMode.Default)
      dt64("toDateTime64OrDefault", IpMode.Default)
      f("makeDateTime64")(es => C(MakeDateTime64(es)))
      f("makeDate") { es =>
        require(es.length == 3,
          s"makeDate requires 3 arguments, got ${es.length}")
        C(MakeChDate(es, wide = false))
      }
      f("makeDate32") { es =>
        require(es.length == 3,
          s"makeDate32 requires 3 arguments, got ${es.length}")
        C(MakeChDate(es, wide = true))
      }
      f("makeDateTime")(es => C(MakeChDateTime(es)))
      // Twitter snowflake ids carry epoch-1288834974657 millis in the
      // top 41 bits (ref src/Functions/FunctionSnowflake.h)
      val snowflakeEpochMs = 1288834974657L
      f("dateTimeToSnowflake") { case Seq(a) =>
        shiftleft(unix_millis(C(a).cast("timestamp")) - snowflakeEpochMs, 22)
      }
      f("dateTime64ToSnowflake") { case Seq(a) =>
        shiftleft(unix_millis(C(a).cast("timestamp")) - snowflakeEpochMs, 22)
      }
      def snowflakeMs(a: Expression): Column =
        C(org.apache.spark.sql.catalyst.expressions.MillisToTimestamp(
          E(shiftright(C(a), 22).cast("bigint") + snowflakeEpochMs)))
      f("snowflakeToDateTime") {
        case Seq(a) => snowflakeMs(a).cast("timestamp")
        case Seq(a, tz) =>
          C(ToDateTime64(E(snowflakeMs(a)), 0, Some(litStr(tz))))
      }
      f("snowflakeToDateTime64") {
        case Seq(a) => C(ToDateTime64(E(snowflakeMs(a)), 3, None))
        case Seq(a, tz) =>
          C(ToDateTime64(E(snowflakeMs(a)), 3, Some(litStr(tz))))
      }
      f("now64") {
        case Seq() => C(ToDateTime64(
          org.apache.spark.sql.catalyst.expressions.CurrentTimestamp(), 3, None))
        case Seq(sc) => C(ToDateTime64(
          org.apache.spark.sql.catalyst.expressions.CurrentTimestamp(),
          litInt(sc), None))
        case Seq(sc, tz) => C(ToDateTime64(
          org.apache.spark.sql.catalyst.expressions.CurrentTimestamp(),
          litInt(sc), Some(litStr(tz))))
      }
      def dt64be(name: String, mode: Int, us: Boolean): Unit = f(name) {
        case Seq(c) => C(Dt64BestEffort(c, 3, None, mode, us))
        case Seq(c, sc) => C(Dt64BestEffort(c, litInt(sc), None, mode, us))
        case Seq(c, sc, tz) =>
          C(Dt64BestEffort(c, litInt(sc), Some(litStr(tz)), mode, us))
      }
      dt64be("parseDateTime64BestEffort", IpMode.Throw, us = false)
      dt64be("parseDateTime64BestEffortOrNull", IpMode.Null, us = false)
      dt64be("parseDateTime64BestEffortOrZero", IpMode.Default, us = false)
      dt64be("parseDateTime64BestEffortUS", IpMode.Throw, us = true)
      dt64be("parseDateTime64BestEffortUSOrNull", IpMode.Null, us = true)
      dt64be("parseDateTime64BestEffortUSOrZero", IpMode.Default, us = true)
    }
    f("toDecimal32") { case Seq(c, s) =>
      C(c).cast(s"decimal(9, ${litInt(s)})") }
    f("toDecimal64") { case Seq(c, s) =>
      C(c).cast(s"decimal(18, ${litInt(s)})") }
    f("toDecimal128") { case Seq(c, s) =>
      C(c).cast(s"decimal(38, ${litInt(s)})") }
    f("toTimeZone") {
      // DateTime64 keeps its instant and re-tags the display zone
      case Seq(c, tz) if c.resolved &&
          c.dataType.isInstanceOf[DateTime64UDT] =>
        C(ToDateTime64(c,
          c.dataType.asInstanceOf[DateTime64UDT].scale, Some(litStr(tz))))
      case Seq(c, tz) => ch.toTimeZone(C(c), litStr(tz))
    }
    f("toDate32") {
      case Seq(c) => C(c).cast("date")
      // tz arg: the calendar day of the instant in that zone
      case Seq(c, tz) if c.resolved &&
          c.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] =>
        to_date(from_utc_timestamp(C(c), litStr(tz)))
      case Seq(c, _) => C(c).cast("date")
    }
    f1("toYYYYMMDDhhmmss")(c =>
      date_format(c, "yyyyMMddHHmmss").cast("bigint"))
    f1("toUInt64OrZero")(ch.toInt64OrZero)
    f1("toUInt32OrZero")(ch.toInt64OrZero)
    f1("toUInt8OrZero")(ch.toInt32OrZero); f1("toUInt16OrZero")(ch.toInt32OrZero)
    f1("toUInt64OrNull")(ch.toInt64OrNull); f1("toUInt32OrNull")(ch.toInt64OrNull)
    // arrayReduce('agg', arr): constant agg name → array fold
    f("arrayReduce") { case n +: arrs if arrs.nonEmpty =>
      ArrayReduceCh.build(litStr(n), arrs.map(C)) }
    // best-effort datetime family: the BestEffort state machine is a
    // faithful port of the reference reader (see BestEffort.scala).
    // UDF tier: per-value string scanning with data-dependent branching
    // is exactly the case where a UDF is the honest implementation.
    locally {
      def micros(str: String, us: Boolean): Option[Long] =
        BestEffort.parseMicros(str, us)
      def ts(m: Long): java.sql.Timestamp = {
        val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
        t
      }
      // internal UDF names; the CH names dispatch below (an optional
      // trailing timezone/scale argument needs arity flexibility a
      // scala UDF registration alone cannot give)
      spark.udf.register("__bestEffort", (str: String) =>
        micros(str, us = false).map(ts).getOrElse(
          throw new IllegalArgumentException(
            s"Cannot parse DateTime from '$str'")))
      spark.udf.register("__bestEffortOrNull", (str: String) =>
        micros(str, us = false).map(ts).orNull)
      spark.udf.register("__bestEffortOrZero", (str: String) =>
        micros(str, us = false).map(ts).getOrElse(ts(0L)))
      spark.udf.register("__bestEffortUS", (str: String) =>
        micros(str, us = true).map(ts).getOrElse(
          throw new IllegalArgumentException(
            s"Cannot parse DateTime from '$str'")))
      spark.udf.register("__bestEffortUSOrNull", (str: String) =>
        micros(str, us = true).map(ts).orNull)
      spark.udf.register("__bestEffortUSOrZero", (str: String) =>
        micros(str, us = true).map(ts).getOrElse(ts(0L)))
      // tz-aware tier: wall-time inputs stay put, instant-anchored
      // inputs shift into the zone (BestEffort.parseMicrosTz)
      spark.udf.register("__bestEffortTz", (str: String, tz: String) =>
        BestEffort.parseMicrosTz(str, tz).map(ts).getOrElse(
          throw new IllegalArgumentException(
            s"Cannot parse DateTime from '$str'")))
      spark.udf.register("__bestEffortTzOrNull",
        (str: String, tz: String) =>
          BestEffort.parseMicrosTz(str, tz).map(ts).orNull)
      spark.udf.register("__bestEffortTzOrZero",
        (str: String, tz: String) =>
          BestEffort.parseMicrosTz(str, tz).map(ts).getOrElse(ts(0L)))
    }
    // CH-visible names: 1-arg, with-timezone ('UTC' session: identity),
    // and the DateTime64 tier whose scale argument only affects print
    // width (value semantics are identical)
    def bestEffortName(chName: String, internal: String): Unit = {
      val tzInternal = internal.replace("__bestEffort", "__bestEffortTz")
      f(chName) {
        case Seq(a) => call_function(internal, C(a))
        case Seq(a, tz) if tz.isInstanceOf[Literal] &&
            litStr(tz).forall(_.isDigit) =>
          call_function(internal, C(a)) // DateTime64 scale argument
        case Seq(a, tz) => call_function(tzInternal, C(a), C(tz))
        case Seq(a, _, tz) => call_function(tzInternal, C(a), C(tz))
      }
    }
    bestEffortName("parseDateTimeBestEffort", "__bestEffort")
    bestEffortName("parseDateTimeBestEffortOrNull", "__bestEffortOrNull")
    bestEffortName("parseDateTimeBestEffortOrZero", "__bestEffortOrZero")
    bestEffortName("parseDateTime32BestEffort", "__bestEffort")
    bestEffortName("parseDateTime32BestEffortOrNull", "__bestEffortOrNull")
    bestEffortName("parseDateTime32BestEffortOrZero", "__bestEffortOrZero")
    // (parseDateTime64BestEffort* live in the typed DateTime64 block)
    bestEffortName("parseDateTimeBestEffortUS", "__bestEffortUS")
    bestEffortName("parseDateTimeBestEffortUSOrNull", "__bestEffortUSOrNull")
    bestEffortName("parseDateTimeBestEffortUSOrZero", "__bestEffortUSOrZero")
    // factorial: build the Catalyst node directly — calling
    // functions.factorial inside a builder registered under the same name
    // self-recurses through the resolver (see the rand note below)
    f("factorial") { case Seq(c) =>
      val col = C(c)
      when(col < 2, lit(1L)).otherwise(
        C(org.apache.spark.sql.catalyst.expressions.Factorial(
          E(col.cast("int")))).cast("bigint")) }
    f1("hex")(ch.hexCh)
    f1("unhex")(c => ch.unhexCh(c).cast("string"))
    f("replaceRegexpOne") { case Seq(c, a, b) =>
      ch.replaceRegexpOne(C(c), litStr(a), litStr(b)) }

    // aggregate-function CH names + -If combinators (ref
    // registerAggregateFunctions.cpp; combinators
    // AggregateFunctionCombinatorIf.cpp) — the builders return Spark
    // aggregate expressions, which the analyzer accepts anywhere a
    // built-in aggregate call is legal
    // countIf(cond) and the -If-on-count(x) form countIf(x, cond): rows
    // where cond holds AND x is not NULL (ref Combinators -If on count)
    f("countIf") {
      case Seq(c) => count(when(C(c).cast("boolean"), lit(1)))
      case Seq(x, c) =>
        count(when(C(c).cast("boolean") && C(x).isNotNull, lit(1)))
    }
    // zero-fill only for CH-non-Nullable values: sumIf(NULL, 1) is NULL,
    // sumIf(1, NULL) is 0 (02494_combinators_with_null_argument)
    f2("sumIf") { (v, c) =>
      val masked = when(c.cast("boolean"), v)
      val base = sum(masked)
      if (org.apache.spark.sql.internal.SQLConf.get.getConfString(
        "graft.ch.aggregate_functions_null_for_empty", "0").trim == "1")
        base
      else {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(CombinatorChain
          .sumZeroFill(ColumnBridge.expression(base),
            ColumnBridge.expression(masked)))
      }
    }
    f2("avgIf")((v, c) => avg(when(c.cast("boolean"), v)))
    f2("minIf")((v, c) => min(when(c.cast("boolean"), v)))
    f2("maxIf")((v, c) => max(when(c.cast("boolean"), v)))
    f1("groupArray")(collect_list)
    f1("groupUniqArray")(c => array_sort(collect_set(c)))
    f2("argMin")((a, v) => min_by(a, v))
    f2("argMax")((a, v) => max_by(a, v))
    // -Array on argMin/argMax (ref AggregateFunctionCombinatorArray.cpp):
    // the aggregate runs over the array ELEMENTS — pick the per-row best
    // (value, arg) pair from the zipped arrays, then min_by/max_by rows
    // per row: the FIRST element attaining the row's extreme; across
    // rows: the first strict improvement in insertion order (ties keep
    // the earlier arg, matching the reference's changeIfLess/Greater)
    locally {
      def build(isMin: Boolean)(a: Column, v: Column): Column = {
        val ext = if (isMin) array_min(v) else array_max(v)
        val i0 = get(a, array_position(v, ext).cast("int") - 1)
        // a row with an empty/all-NULL value array has no extreme — the
        // reference skips it; folding it in would wedge the accumulator
        // on a NULL n forever (better(x, NULL) is NULL → keep acc)
        val lst = filter(collect_list(struct(ext.as("n"), i0.as("i"))),
          s => s.getField("n").isNotNull)
        val better: (Column, Column) => Column =
          if (isMin) (x, y) => x < y else (x, y) => x > y
        aggregate(lst, get(slice(lst, 1, 0), lit(0)),
          (acc, s) => when(acc.isNull, s)
            .otherwise(when(better(s.getField("n"), acc.getField("n")), s)
              .otherwise(acc))).getField("i")
      }
      f2("argMinArray")(build(isMin = true))
      f2("argMaxArray")(build(isMin = false))
    }
    f1("anyLast")(c => last(c, ignoreNulls = true))
    f1("median")(c => percentile_approx(c, lit(0.5), lit(1000000)))

    // uniq sketch family (ref AggregateFunctionUniq.h,
    // ColumnAggregateFunction.h:54): binary sketch columns with the
    // -State/-Merge contract, backed by the DataSketches HLL built-ins
    // CH uniq is adaptive-sampling "almost exact" and exact at golden
    // cardinalities; the explicitly-approximate tiers keep their sketches
    f("uniq") { case c +: rest => count_distinct(C(c), rest.map(C): _*) }
    // -Array combinator over uniq: the inner aggregate is applied
    // ELEMENTWISE across the array arguments — N args of equal length
    // feed uniq(x_i, y_i, …), i.e. distinct TUPLES (ref Combinators
    // -Array; 00533_uniq_array pins 2/3 for equal/differing 3rd array)
    def uniqArrayTuples(es: Seq[Expression]): Column = {
      val elems = if (es.size == 1) C(es.head)
        else arrays_zip(es.map(C): _*)
      size(array_distinct(flatten(collect_list(elems)))).cast("bigint")
    }
    f("uniqArray")(uniqArrayTuples)
    f("uniqExactArray")(uniqArrayTuples)
    f("uniqUpToArray") { case es :+ n =>
      least(uniqArrayTuples(es), lit(litInt(n).toLong + 1)) }
    // uniqState/uniqMerge SQL surface uses the EXACT set state (the
    // stored-state tier above — CH's uniq is exact below its sampling
    // threshold, which covers every golden); the HLL sketch tier
    // (UniqState) stays the documented scale path via the DataFrame API
    f("uniqMergeState") { case Seq(s) =>
      array_sort(array_distinct(flatten(collect_list(C(s))))) }

    // arrayJoin: CH's row-exploding function (ref
    // src/Functions/array/arrayJoin.cpp) = Spark's explode generator
    f1("arrayJoin")(explode)

    // URL family completion (ref src/Functions/URL/)
    f1("firstSignificantSubdomain")(ch.firstSignificantSubdomain)
    f1("cutToFirstSignificantSubdomain")(ch.cutToFirstSignificantSubdomain)
    f1("encodeURLComponent")(ch.encodeURLComponent)
    f1("decodeURLComponent")(ch.decodeURLComponent)
    f("URLHierarchy") { case Seq(u) => C(UrlHierarchy(u, pathOnly = false)) }
    f("URLPathHierarchy") { case Seq(u) => C(UrlHierarchy(u, pathOnly = true)) }
    // Modified Julian Day (ref src/Functions/toModifiedJulianDay.cpp:
    // MJD 0 = 1858-11-17; conversion is pure date arithmetic)
    locally {
      val mjdEpoch = lit("1858-11-17").cast("date")
      f1("toModifiedJulianDay")(c => datediff(c.cast("date"), mjdEpoch))
      f1("toModifiedJulianDayOrNull")(c =>
        datediff(c.try_cast("date"), mjdEpoch))
      // supported day range = 0000-01-01 .. 9999-12-31 (ref
      // src/Functions/GregorianDate.h:329 — out-of-range throws; the
      // OrNull form yields NULL)
      def mjdInRange(n: Column): Column =
        n.cast("long").between(-678941L, 2973119L)
      f1("fromModifiedJulianDay")(n =>
        when(n.isNull, lit(null).cast("string"))
          .when(mjdInRange(n),
            date_format(date_add(mjdEpoch, n.cast("int")), "yyyy-MM-dd"))
          .otherwise(raise_error(concat(lit("Modified Julian Day "),
            n.cast("string"), lit(" is out of range")))))
      f1("fromModifiedJulianDayOrNull")(n =>
        when(mjdInRange(n),
          date_format(date_add(mjdEpoch, n.try_cast("int")), "yyyy-MM-dd")))
    }
    // runningAccumulate (ref src/Functions/runningAccumulate.cpp) over
    // the simple additive -State tiers (sumState/countState — the
    // finalized value IS the state here): a guarded running sum, same
    // single-task contract as the neighbor/runningDifference block
    locally {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f1("runningAccumulate") { c =>
        val limit = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("graft.blockLocal.maxRows", "10000000").toLong
        C(BlockLocalGuard(E(sum(c).over(w)), limit, "runningAccumulate"))
      }
      // runningConcurrency(begin, end) (ref
      // src/Functions/runningConcurrency.cpp): per row, intervals open so
      // far whose end is strictly after this begin — the heap walk
      // restated as a prefix collect + filter. O(n²) in the block, so the
      // guard is much tighter than the other block-local fns; past it the
      // scalable formulation is the endpoint sweep (NicheAggs
      // maxIntersections's +1/−1 running sum).
      f2("runningConcurrency") { (b, e) =>
        val limit = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("graft.blockLocal.maxRowsQuadratic", "100000").toLong
        val ends = collect_list(e).over(w)
        C(BlockLocalGuard(E(size(filter(ends, x => x > b))), limit,
          "runningConcurrency"))
      }
    }
    // pads + intervals (ref padString.cpp, FunctionsConversion.h)
    // pad default is a space (ref padString.cpp); UTF8 twins share the
    // impl — Spark lpad/rpad are already codepoint-based
    def padFn(fn: String): Seq[Expression] => Column = {
      case Seq(s, n) => call_function(fn, C(s), C(n), lit(" "))
      case Seq(s, n, p) => call_function(fn, C(s), C(n), C(p))
    }
    f("leftPad")(padFn("lpad")); f("leftPadUTF8")(padFn("lpad"))
    f("rightPad")(padFn("rpad")); f("rightPadUTF8")(padFn("rpad"))
    // unit-typed intervals: the column type carries the CH Interval unit
    // so the golden formatter can print the COUNT (CH's bare-interval
    // display); make_dt_interval would erase the unit to DAY..SECOND
    f1("toIntervalSecond")(n => n.cast("int").cast("interval second"))
    f1("toIntervalMinute")(n => n.cast("int").cast("interval minute"))
    f1("toIntervalHour")(n => n.cast("int").cast("interval hour"))
    f1("toIntervalDay")(n => n.cast("int").cast("interval day"))
    // Week/Quarter have no Spark interval unit — they ride DAY/MONTH
    // storage with a ChIntervalTag so the golden formatter prints the
    // COUNT in the CH unit (CH bare-interval display)
    f1("toIntervalWeek")(n => C(ChIntervalTag(
      E(make_dt_interval(n * lit(7), lit(0), lit(0), lit(0))
        .cast("interval day")), 7)))
    f1("toIntervalMonth")(n => make_ym_interval(lit(0), n))
    f1("toIntervalQuarter")(n => C(ChIntervalTag(
      E(make_ym_interval(lit(0), n * lit(3))), 3)))
    // cast pins the YEAR end field so the display prints years, not
    // total months (make_ym_interval alone types as YEAR TO MONTH)
    f1("toIntervalYear")(n =>
      make_ym_interval(n, lit(0)).cast("interval year"))

    // ---- window-view time windows (ref src/Functions/
    // FunctionsTimeWindow.cpp; 01049_window_view_window_functions):
    // tumble/hop bound computation over the wall clock of the given
    // (or the value's own) timezone; second-family windows return
    // tz-tagged DateTimes, month/week-family return Dates
    locally {
      import org.apache.spark.sql.types.{DayTimeIntervalType,
        YearMonthIntervalType}
      // (kind, n): "sec" n seconds | "months" n months | "week" n weeks
      def ivOf(e: Expression): (String, Long) = {
        val (inner, weekTag) = e match {
          case ChIntervalTag(c, 7) => (c, true)
          case ChIntervalTag(c, _) => (c, false)
          case other => (other, false)
        }
        val v = inner.eval(null)
        inner.dataType match {
          case _: DayTimeIntervalType =>
            val secs = v.asInstanceOf[Long] / 1000000L
            if (weekTag) ("week", secs / 604800L) else ("sec", secs)
          case _: YearMonthIntervalType =>
            ("months", v.asInstanceOf[Number].longValue())
          case _ => ("sec", 1L)
        }
      }
      def tzOf(t: Expression, explicit: Option[Expression])
          : Option[String] =
        explicit.map(litStr).orElse(t.dataType match {
          case d: DateTime64UDT => d.tz
          case _ => None
        })
      def wallOf(t: Expression, tz: Option[String]): Column = {
        val ts = C(t).cast("timestamp")
        tz.map(z => from_utc_timestamp(ts, z)).getOrElse(ts)
      }
      // wall-clock floor of the window grid; (start, end) both wall
      def bounds(wall: Column, kind: String, slide: Long, win: Long)
          : (Column, Column) = kind match {
        case "months" =>
          val m = (year(wall) - lit(1970)) * lit(12) + month(wall) -
            lit(1)
          val fm = floor(m / lit(slide)) * lit(slide) - lit(win - slide)
          val start = make_date(lit(1970) + (fm / lit(12)).cast("int"),
            (fm % lit(12)).cast("int") + lit(1), lit(1))
          (start, add_months(start, win.toInt))
        case "week" =>
          // Monday-aligned week grid (1970-01-05 was a Monday)
          val d = datediff(wall.cast("date"), lit("1970-01-05")
            .cast("date"))
          val fd = floor(d / lit(slide * 7)) * lit(slide * 7) -
            lit((win - slide) * 7)
          val start = date_add(lit("1970-01-05").cast("date"),
            fd.cast("int"))
          (start, date_add(start, (win * 7).toInt))
        case _ =>
          val s = floor(unix_timestamp(wall) / lit(slide)) *
            lit(slide) - lit(win - slide)
          (to_timestamp(s), to_timestamp(s + lit(win)))
      }
      def outCol(wall: Column, kind: String,
          tz: Option[String]): Column =
        if (kind != "sec") wall.cast("date")
        else tz match {
          case Some(z) =>
            C(ToDateTime64(E(to_utc_timestamp(wall, z)), 0, Some(z)))
          case None => wall
        }
      def windowOf(t: Expression, slideE: Expression,
          winE: Option[Expression], tzE: Option[Expression])
          : (Column, Column) = {
        val (kind, ns) = ivOf(slideE)
        val nw = winE.map(e => ivOf(e)._2).getOrElse(ns)
        val tz = tzOf(t, tzE)
        val (s0, e0) = bounds(wallOf(t, tz), kind, ns, nw)
        (outCol(s0, kind, tz), outCol(e0, kind, tz))
      }
      def pair(s: Column, e: Column): Column =
        struct(s.as("1"), e.as("2"))
      def fld(t: Expression, i: Int): Column = C(
        org.apache.spark.sql.catalyst.expressions.GetStructField(t, i))
      f("tumble") {
        case Seq(t, iv) =>
          val (s, e) = windowOf(t, iv, None, None); pair(s, e)
        case Seq(t, iv, tz) =>
          val (s, e) = windowOf(t, iv, None, Some(tz)); pair(s, e)
      }
      f("hop") {
        case Seq(t, h, w) =>
          val (s, e) = windowOf(t, h, Some(w), None); pair(s, e)
        case Seq(t, h, w, tz) =>
          val (s, e) = windowOf(t, h, Some(w), Some(tz)); pair(s, e)
      }
      f("tumbleStart") {
        case Seq(t) if t.resolved &&
            t.dataType.isInstanceOf[org.apache.spark.sql.types
              .StructType] => fld(t, 0)
        case Seq(t, iv) => windowOf(t, iv, None, None)._1
        case Seq(t, iv, tz) => windowOf(t, iv, None, Some(tz))._1
      }
      f("tumbleEnd") {
        case Seq(t) if t.resolved &&
            t.dataType.isInstanceOf[org.apache.spark.sql.types
              .StructType] => fld(t, 1)
        case Seq(t, iv) => windowOf(t, iv, None, None)._2
        case Seq(t, iv, tz) => windowOf(t, iv, None, Some(tz))._2
      }
      f("hopStart") {
        case Seq(t) if t.resolved &&
            t.dataType.isInstanceOf[org.apache.spark.sql.types
              .StructType] => fld(t, 0)
        case Seq(t, h, w) => windowOf(t, h, Some(w), None)._1
        case Seq(t, h, w, tz) => windowOf(t, h, Some(w), Some(tz))._1
      }
      f("hopEnd") {
        case Seq(t) if t.resolved &&
            t.dataType.isInstanceOf[org.apache.spark.sql.types
              .StructType] => fld(t, 1)
        case Seq(t, h, w) => windowOf(t, h, Some(w), None)._2
        case Seq(t, h, w, tz) => windowOf(t, h, Some(w), Some(tz))._2
      }
    }

    // wave 2: binary repr, regexp groups, date parts, map algebra,
    // array norms/AUC, JSON raw (ref FunctionsBinaryRepresentation.cpp,
    // extractGroups.cpp, dateName.cpp, mapFilter.cpp/map.cpp,
    // arrayNorm.cpp, arrayAUC.cpp, FunctionsJSON.cpp, FunctionSQLJSON.cpp)
    f1("bin")(ch.binCh)
    f1("unbin")(ch.unbinCh)
    f("extractGroups") { case Seq(s, re) => ch.extractGroups(C(s), litStr(re)) }
    f("fuzzBits") { case Seq(s, p) =>
      FuzzBits.fuzzBits(C(s), C(p).cast("double")) }
    f1("formatReadableQuantity")(ch.formatReadableQuantity)
    f1("formatReadableDecimalSize")(ch.formatReadableDecimalSize)
    f("defaultValueOfArgumentType") { case Seq(x) =>
      ch.defaultValueOfType(x.dataType) }
    f("dateName") {
      case Seq(p, d) => ch.dateName(litStr(p), C(d))
      case Seq(p, d, tz) =>
        ch.dateName(litStr(p), from_utc_timestamp(C(d), litStr(tz)))
    }
    f("age") {
      case Seq(u, a, b) => ch.ageCh(litStr(u), C(a), C(b))
      // tz arg names the calendar; dates are tz-free and timestamps are
      // instants, so the difference is tz-invariant for fixed-offset use
      case Seq(u, a, b, _) => ch.ageCh(litStr(u), C(a), C(b))
    }
    f("toISOWeek") { case Seq(a) => ch.toISOWeek(zonedWall(a)) }
    f("toISOYear") { case Seq(a) => ch.toISOYear(zonedWall(a)) }
    f2("mapUpdate")(ch.mapUpdate)
    f1("mapPopulateSeries")(ch.mapPopulateSeries)
    f1("arrayL1Norm")(ch.arrayL1Norm); f1("arrayLinfNorm")(ch.arrayLinfNorm)
    f2("arrayL1Distance")(ch.arrayL1Distance)
    f2("arrayLinfDistance")(ch.arrayLinfDistance)
    f("arrayAUC") { case Seq(s, l) => C(ChArrayAUC(s, l)) }
    f("JSONExtractRaw") { case Seq(j, k) => ch.jsonExtractRaw(C(j), litStr(k)) }
    f1("JSONExtractKeys")(ch.jsonExtractKeys)
    // JSONExtractKeysAndValues(json[, keys…], 'Type') → array of
    // (key, typed value) tuples; entries that don't convert are dropped
    // (ref src/Functions/FunctionsJSON.cpp JSONExtractKeysAndValuesImpl)
    f("JSONExtractKeysAndValues") { case es if es.size >= 2 =>
      val obj =
        if (es.size == 2) C(es.head)
        else get_json_object(C(es.head), "$" + es.tail.dropRight(1).map {
          case Literal(s: UTF8String, _) => s".${s.toString}"
          case Literal(n: Number, _) => s"[${n.intValue - 1}]"
          case other => s".${litStr(other)}"
        }.mkString)
      val valueSchema = litStr(es.last) match {
        case "Int8" | "Int16" | "Int32" | "Int64" | "UInt8" | "UInt16" |
            "UInt32" | "UInt64" => "bigint"
        case "Float32" | "Float64" => "double"
        case "Bool" => "boolean"
        case t if t.startsWith("Array(Float") => "array<double>"
        case t if t.startsWith("Array(Int") || t.startsWith("Array(UInt") =>
          "array<bigint>"
        case t if t.startsWith("Array") => "array<string>"
        case _ => "string"
      }
      val entries = map_entries(
        from_json(obj, s"map<string,$valueSchema>",
          Map("mode" -> "PERMISSIVE")))
      filter(entries, e => e.getField("value").isNotNull)
    }
    f("JSON_VALUE") { case Seq(j, p) => ch.jsonValue(C(j), litStr(p)) }
    f("JSON_QUERY") { case Seq(j, p) => ch.jsonQuery(C(j), litStr(p)) }
    f("JSONLength") {
      case Seq(j) => ch.jsonLength(C(j))
      case Seq(j, p) => ch.jsonLength(C(j), litStr(p)) }

    // geo distances (ref greatCircleDistance.cpp) — the reference's
    // LUT-based float32 kernel, bit-matched so goldens print identically
    f("greatCircleDistance") { es =>
      C(GeoDistExpr(es, GeoDistCh.SphereMeters)) }
    f("geoDistance") { es => C(GeoDistExpr(es, GeoDistCh.Wgs84Meters)) }

    // dictionaries (ref FunctionsExternalDictionaries.h): dictionaries
    // registered via Dictionaries.createDictionary resolve as map-literal
    // probes — CH's RAM-resident dictionary model
    // joinGet('t', 'attr', key): probe a StorageJoin table (ref
    // src/Functions/FunctionJoinGet.cpp / StorageJoin::joinGet) — the
    // table view is already the deduped ANY state (DdlEmu), so the probe
    // is a bounded collected map; a miss yields the value type's default
    // (joinGet) or NULL (joinGetOrNull), matching the Any-Left contract
    def joinGetMap(t: Expression, a: Expression, ks: Seq[Expression])
        : (Column, org.apache.spark.sql.types.DataType) = {
      val tbl = litStr(t); val attr = litStr(a)
      val df = spark.table(tbl)
      // composite-key Join tables probe on a struct over ALL declared
      // keys — probing only the first would silently match on a partial
      // key and return wrong attribute values
      val keyCols: Seq[String] = graft.golden.DdlEmu.joinEngineKeys(tbl)
        .filter(_.nonEmpty).getOrElse(Seq(df.columns.head))
      require(ks.length == keyCols.length,
        s"joinGet: '$tbl' declares ${keyCols.length} key column(s) " +
          s"(${keyCols.mkString(", ")}) but ${ks.length} probe value(s) " +
          "were given")
      val rows = df.select((keyCols :+ attr).map(c => col(s"`$c`")): _*)
        .limit(100001).collect()
      require(rows.length <= 100000,
        s"joinGet: '$tbl' exceeds the 100K in-memory probe bound")
      val vType = df.schema(attr).dataType
      val kTypes = keyCols.map(df.schema(_).dataType)
      val n = keyCols.length
      def keyOf(vals: Seq[Column]): Column =
        if (n == 1) vals.head.cast(kTypes.head)
        else struct(vals.zip(kTypes).map { case (v, t) => v.cast(t) }: _*)
      val entries = rows
        .filter(r => (0 until n).forall(i => !r.isNullAt(i)))
        .flatMap(r => Seq(keyOf((0 until n).map(i => lit(r.get(i)))),
          lit(r.get(n)).cast(vType))).toSeq
      val probe =
        if (entries.isEmpty) lit(null).cast(vType)
        else try_element_at(map(entries: _*), keyOf(ks.map(C)))
      (probe, vType)
    }
    f("joinGet") { case t +: a +: ks if ks.nonEmpty =>
      val (probe, vType) = joinGetMap(t, a, ks)
      graft.ChSql.defaultLit(vType).map(d => coalesce(probe, d))
        .getOrElse(probe) }
    f("joinGetOrNull") { case t +: a +: ks if ks.nonEmpty =>
      joinGetMap(t, a, ks)._1 }
    f("dictGet") { case Seq(d, a, k) =>
      graft.operators.Dictionaries.sqlDictGet(litStr(d), litStr(a), C(k))
      // RANGE_HASHED 4-arg form: the last argument is the range point
      case Seq(d, a, k, p) =>
        graft.operators.Dictionaries.sqlDictGetRangePoint(
          litStr(d), litStr(a), C(k), C(p)) }
    f("dictGetOrDefault") { case Seq(d, a, k, dv) =>
      graft.operators.Dictionaries.sqlDictGetOrDefault(
        litStr(d), litStr(a), C(k), C(dv))
      case Seq(d, a, k, p, dv) =>
        graft.operators.Dictionaries.sqlDictGetRangeOrDefault(
          litStr(d), litStr(a), C(k), C(p), C(dv)) }
    f("dictHas") { case Seq(d, k) =>
      graft.operators.Dictionaries.sqlDictHas(litStr(d), C(k))
      case Seq(d, k, p) =>
        graft.operators.Dictionaries.sqlDictHasRange(litStr(d), C(k), C(p)) }
    // typed dictGetXxx[OrDefault] forms (ref FunctionsExternalDictionaries
    // registerFunctionsExternalDictionaries): the type suffix is a cast
    // over the shared probe
    for ((suffix, t) <- Seq("String" -> "string", "UInt8" -> "smallint",
      "UInt16" -> "int", "UInt32" -> "bigint", "UInt64" -> "bigint",
      "Int8" -> "tinyint", "Int16" -> "smallint", "Int32" -> "int",
      "Int64" -> "bigint", "Float32" -> "float", "Float64" -> "double",
      "Date" -> "date", "DateTime" -> "timestamp", "UUID" -> "string")) {
      f(s"dictGet$suffix") { case Seq(d, a, k) =>
        graft.operators.Dictionaries.sqlDictGet(litStr(d), litStr(a), C(k))
          .cast(t)
        case Seq(d, a, k, p) =>
          graft.operators.Dictionaries.sqlDictGetRangePoint(
            litStr(d), litStr(a), C(k), C(p)).cast(t) }
      f(s"dictGet${suffix}OrDefault") { case Seq(d, a, k, dv) =>
        graft.operators.Dictionaries.sqlDictGetOrDefault(
          litStr(d), litStr(a), C(k), C(dv)).cast(t)
        case Seq(d, a, k, p, dv) =>
          graft.operators.Dictionaries.sqlDictGetRangeOrDefault(
            litStr(d), litStr(a), C(k), C(p), C(dv)).cast(t) }
    }
    // hierarchical walks (ref HierarchyDictionariesUtils.h; closures are
    // precomputed at createHierarchicalDictionary, lookups are map probes)
    f("dictGetHierarchy") { case Seq(d, k) =>
      graft.operators.Dictionaries.sqlDictGetHierarchy(litStr(d), C(k)) }
    f("dictGetChildren") { case Seq(d, k) =>
      graft.operators.Dictionaries.sqlDictGetChildren(litStr(d), C(k)) }
    f("dictGetDescendants") {
      case Seq(d, k) =>
        graft.operators.Dictionaries.sqlDictGetDescendants(litStr(d), C(k))
      case Seq(d, k, l) =>
        graft.operators.Dictionaries.sqlDictGetDescendants(litStr(d), C(k),
          litInt(l))
    }
    f("dictIsIn") { case Seq(d, c, a) =>
      graft.operators.Dictionaries.sqlDictIsIn(litStr(d), C(c), C(a)) }

    // text-analysis extras (ref FunctionsLanguageClassification.cpp)
    f1("detectLanguage")(TextAnalysis.languageId)
    f1("extractTextFromHTML")(HtmlText.extractTextFromHTML)
    f("URLHash") {
      case Seq(u) => UrlHash.urlHashCol(C(u), None)
      case Seq(u, l) => UrlHash.urlHashCol(C(u), Some(C(l).cast("bigint")))
    }
    // leadInFrame/lagInFrame map to lead/lag — identical under the
    // UNBOUNDED..UNBOUNDED frames the reference tests use; a narrower
    // frame would clip in CH (documented divergence, window chapter)
    f("leadInFrame") {
      case Seq(x) => lead(C(x), 1)
      case Seq(x, o) => lead(C(x), litInt(o))
      case Seq(x, o, d) =>
        coalesce(lead(C(x), litInt(o)), C(d))
    }
    f("lagInFrame") {
      case Seq(x) => lag(C(x), 1)
      case Seq(x, o) => lag(C(x), litInt(o))
      case Seq(x, o, d) =>
        coalesce(lag(C(x), litInt(o)), C(d))
    }
    // tokens splits on ASCII non-alphanumeric runs only: every byte
    // ≥ 0x80 is a token byte, so ZWNJ and combining marks stay inside
    // their token (ref SplitTokenExtractor::nextInString —
    // isAlphaNumericASCII || !isASCII)
    f1("tokens")(c =>
      filter(split(c, "[\\p{ASCII}&&[^A-Za-z0-9]]+"), x => x =!= ""))
    // CH aliases REGEXP_REPLACE to replaceRegexpAll, whose replacement
    // uses \1-style backrefs; shadows Spark's builtin of the same name,
    // so build the RegExpReplace node directly (a functions.* call here
    // would resolve back into this registration)
    f("REGEXP_REPLACE") { case Seq(c, re, to) =>
      C(org.apache.spark.sql.catalyst.expressions.RegExpReplace(
        c, re,
        Literal(UTF8String.fromString(
          litStr(to).replaceAll("\\\\(\\d)", "\\$$$1")),
          org.apache.spark.sql.types.StringType))) }
    f("ngramDistance") { case Seq(a, b) =>
      lit(1.0) - graft.operators.Dedup.jaccard(
        graft.operators.Dedup.charNgrams(C(a), 4),
        graft.operators.Dedup.charNgrams(C(b), 4)) }
    f("ngramSearch") { case Seq(a, b) =>
      graft.operators.Dedup.jaccard(
        graft.operators.Dedup.charNgrams(C(a), 4),
        graft.operators.Dedup.charNgrams(C(b), 4)) }

    // wave 3: vector norms/distances (ref arrayNorm.cpp, arrayDistance.cpp)
    f1("L1Norm")(ch.arrayL1Norm); f1("LinfNorm")(ch.arrayLinfNorm)
    f1("L2SquaredNorm")(ch.arrayL2SquaredNorm)
    f2("LpNorm")(ch.arrayLpNorm)
    f2("L1Distance")(ch.arrayL1Distance)
    f2("LinfDistance")(ch.arrayLinfDistance)
    f2("L2SquaredDistance")(ch.arrayL2SquaredDistance)
    f3("LpDistance")(ch.arrayLpDistance)
    f1("L1Normalize")(ch.l1Normalize); f1("L2Normalize")(ch.l2Normalize)
    f1("LinfNormalize")(ch.linfNormalize)

    // wave 3: hashes / UUID / MAC codings (ref FunctionsHashing.h,
    // FunctionsCodingUUID.cpp)
    // (SHA1 / CRC32 / ascii need no registration: Spark's same-named
    // built-ins resolve case-insensitively, and re-registering a name the
    // builder itself calls self-recurses through the resolver)
    f1("SHA224")(ch.sha224Ch)
    f1("SHA384")(ch.sha384Ch); f1("SHA512")(ch.sha512Ch)
    // CH CRC32IEEE: zero-init, no final inversion — NOT zlib crc32
    // (ref src/Functions/CRC.cpp); CRC64 = ECMA reflected, same regime
    spark.udf.register("__crc32ieee", (b: Array[Byte]) =>
      if (b == null) null else java.lang.Long.valueOf(ChHash.crc32Ieee(b)))
    spark.udf.register("__crc64", (b: Array[Byte]) =>
      if (b == null) null
      else new java.math.BigDecimal(new java.math.BigInteger(
        java.lang.Long.toUnsignedString(ChHash.crc64(b)))))
    spark.udf.register("__jumpch", (k: java.lang.Long, n: Int) =>
      if (k == null) null
      else Integer.valueOf(ChHash.jumpConsistentHash(k, n)))
    spark.udf.register("__kostikch", (k: java.lang.Long, n: Int) =>
      if (k == null) null
      else Integer.valueOf(ChHash.kostikConsistentHash(k, n)))
    f2("jumpConsistentHash")((k, n) =>
      call_function("__jumpch", k.cast("bigint"), n.cast("int")))
    f2("kostikConsistentHash")((k, n) =>
      call_function("__kostikch", k.cast("bigint"), n.cast("int")))
    f2("yandexConsistentHash")((k, n) =>
      call_function("__kostikch", k.cast("bigint"), n.cast("int")))
    f1("CRC32IEEE")(c => call_function("__crc32ieee", c.cast("binary")))
    f1("CRC64")(c => call_function("__crc64", c.cast("binary"))
      .cast("decimal(20,0)"))
    f1("UUIDStringToNum")(ch.uuidStringToNum)
    f1("UUIDNumToString")(ch.uuidNumToString)
    f1("MACNumToString")(ch.macNumToString)
    f1("MACStringToNum")(ch.macStringToNum)
    f1("MACStringToOUI")(ch.macStringToOui)

    // wave 3: bit rotation / tests (ref bitRotateLeft.cpp, bitTestAll.cpp)
    f2("bitRotateLeft")(ch.bitRotateLeft)
    f2("bitRotateRight")(ch.bitRotateRight)
    // the CH type width bounds valid bit positions: ChUIntTag carries the
    // unsigned byte width; untagged integers use their Spark width
    def chWidthBits(e: Expression): Int = e match {
      case t: ChUIntTag => t.width * 8
      case c if c.resolved => c.dataType match {
        case org.apache.spark.sql.types.ByteType => 8
        case org.apache.spark.sql.types.ShortType => 16
        case org.apache.spark.sql.types.IntegerType => 32
        case _ => 64
      }
      case _ => 64
    }
    f("bitTestAll") { case x +: bits =>
      ch.bitTestAll(C(x), bits.map(C), chWidthBits(x)) }
    f("bitTestAny") { case x +: bits =>
      ch.bitTestAny(C(x), bits.map(C), chWidthBits(x)) }
    f1("bitPositionsToArray")(ch.bitPositionsToArray)

    // wave 3: sub-second date arithmetic + aliases (ref addMilliseconds.cpp)
    f2("addMilliseconds")(ch.addMilliseconds)
    f2("addMicroseconds")(ch.addMicroseconds)
    f2("subtractMilliseconds")(ch.subtractMilliseconds)
    f2("subtractMicroseconds")(ch.subtractMicroseconds)
    f2("TimeDiff")(ch.timeDiff)
    f("UTCTimestamp") { case Seq() => current_timestamp() }

    // wave 3: array enumerate/resize/last (ref arrayEnumerateUniq.cpp,
    // arrayResize.cpp)
    // multi-array form enumerates occurrence counts of the element TUPLE
    // (any arity — ref arrayEnumerateUniq.cpp executeMethodImpl)
    f("arrayEnumerateUniq") {
      case Seq(a) => ch.arrayEnumerateUniq(C(a))
      case as if as.size > 1 =>
        ch.arrayEnumerateUniq(arrays_zip(as.map(C): _*))
    }
    f1("arrayEnumerateDense")(ch.arrayEnumerateDense)
    f("arrayResize") {
      case Seq(a, n) => ch.arrayResizeZero(C(a), C(n))
      case Seq(a, n, fill) => ch.arrayResize(C(a), C(n), C(fill)) }
    f1("arrayCumSumNonNegative")(ch.arrayCumSumNonNegative)

    // wave 3: display/misc (ref FunctionsVisibleWidth.cpp, bar.cpp)
    f1("basename")(ch.basenameCh)
    f("bar") {
      case Seq(x, mn, mx) => ch.barCh(C(x), C(mn), C(mx), lit(80))
      case Seq(x, mn, mx, w) => ch.barCh(C(x), C(mn), C(mx), C(w)) }

    // wave 3: encryption (ref FunctionsAES.h) — mode string is CH's
    // openssl-style 'aes-128-ecb'; Spark's aes built-ins do the work
    // CH-exact deterministic AES (ref FunctionsAES.h; ChCrypto scaladoc
    // explains why Spark's aes_encrypt can't reproduce the bytes)
    locally {
      def reg2(n: String, mysql: Boolean, enc: Boolean): Unit =
        spark.udf.register(n,
          (m: String, d: Array[Byte], k: Array[Byte], iv: Array[Byte]) =>
            if (m == null || d == null || k == null) null
            else if (enc) ChCrypto.encrypt(m, d, k,
              Option(iv).getOrElse(Array.emptyByteArray), mysql)
            else ChCrypto.decrypt(m, d, k,
              Option(iv).getOrElse(Array.emptyByteArray), mysql))
      reg2("__chEncrypt", mysql = false, enc = true)
      reg2("__chDecrypt", mysql = false, enc = false)
      reg2("__chEncryptMysql", mysql = true, enc = true)
      reg2("__chDecryptMysql", mysql = true, enc = false)
      def call(n: String, es: Seq[Expression], asStr: Boolean): Column = {
        val iv = if (es.size > 3) C(es(3)).cast("binary")
          else lit(Array.emptyByteArray)
        val out = call_function(n, C(es(0)), C(es(1)).cast("binary"),
          C(es(2)).cast("binary"), iv)
        if (asStr) out.cast("string") else out
      }
      f("encrypt") { case es if es.size >= 3 =>
        call("__chEncrypt", es, asStr = false) }
      f("decrypt") { case es if es.size >= 3 =>
        call("__chDecrypt", es, asStr = true) }
      f("aes_encrypt_mysql") { case es if es.size >= 3 =>
        call("__chEncryptMysql", es, asStr = false) }
      f("aes_decrypt_mysql") { case es if es.size >= 3 =>
        call("__chDecryptMysql", es, asStr = true) }
    }

    // wave 3: moment aggregates (ref
    // AggregateFunctionsStatisticsSimple.h — skewPop/skewSamp/kurtPop/
    // kurtSamp). Spark's skewness/kurtosis are population (kurtosis is
    // excess); the Samp forms rescale by n/(n-1) on the central moment
    // with the sample variance in the denominator.
    f1("skewPop")(c => skewness(c))
    f1("kurtPop")(c => kurtosis(c) + lit(3.0))
    f1("skewSamp") { c =>
      val n = count(c).cast("double")
      skewness(c) * pow(var_pop(c) / var_samp(c), 1.5) * n / (n - 1) }
    f1("kurtSamp") { c =>
      val n = count(c).cast("double")
      (kurtosis(c) + lit(3.0)) * pow(var_pop(c), 2) * n /
        ((n - 1) * pow(var_samp(c), 2)) }

    // wave 3: sumMap/minMap/maxMap as SQL-callable aggregates (ref
    // AggregateFunctionSumMap.h): parallel key/value arrays in, CH's
    // (sorted keys, per-key aggregate) tuple-of-arrays out. The per-group
    // pair list is collected once; key fan-out happens in the finishing
    // expression, so the shuffle carries one row per group.
    def mapAgg(red: (Column, Column) => Column,
        keepNulls: Boolean = false)(
        k: Column, v: Column): Column = {
      // for sums NULL values contribute nothing, same as the reference
      // (01634_summap_nullable: sumMap(['a','b'],[1,NULL]) = (['a'],[1]));
      // min/max KEEP the key and default the value (01422)
      val raw = flatten(collect_list(zip_with(k, v,
        (a, b) => struct(a.as("k"), b.as("v")))))
      val pairs =
        if (keepNulls) raw
        else filter(raw, p => p.getField("v").isNotNull)
      // per-group state is the collected pair list, so a skewed group
      // would OOM the buffer; fail past the cap and name the scalable
      // explode+groupBy formulation instead of dying in the aggregator
      val cap = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.mapAgg.maxPairs", "1000000").toLong
      val checked = when(
        assert_true(size(pairs) <= lit(cap), lit(
          s"sumMap/minMap/maxMap group exceeded graft.mapAgg.maxPairs=" +
            s"$cap pairs; explode the arrays and GROUP BY (key, map key) " +
            "instead (see q_sum_map)")).isNull,
        pairs)
      val ks = array_sort(array_distinct(transform(checked, _.getField("k"))))
      val sums = transform(ks, key =>
        red(filter(checked, p => p.getField("k") === key), key))
      struct(ks.as("keys"), sums.as("values"))
    }
    // sumMap COMPACTS zero sums away (ref AggregateFunctionSumMap.h
    // compact(): "values with zero sum are removed"); min/max keep them
    def dropZeros(t: Column): Column = {
      val ks = t.getField("keys"); val vs = t.getField("values")
      val kept = filter(zip_with(ks, vs,
        (k, v) => struct(k.as("k"), v.as("v"))),
        p => p.getField("v") =!= 0)
      struct(transform(kept, _.getField("k")).as("keys"),
        transform(kept, _.getField("v")).as("values"))
    }
    // CH substring semantics: a NEGATIVE size means "up to size chars
    // before the end" (ref src/Functions/substring.cpp). Shadows the
    // Spark builtin, so the builder uses raw Substring/Length nodes —
    // calling functions.substring here would self-recurse through the
    // resolver. Non-negative sizes behave exactly like the builtin.
    {
      import org.apache.spark.sql.catalyst.expressions.{Substring, Length}
      def chSubstring(es: Seq[Expression]): Column = es match {
        case Seq(s, p) =>
          C(Substring(s, E(C(p).cast("int")), Literal(Int.MaxValue)))
        case Seq(s, p, l) =>
          val len = C(Length(s)).cast("int")
          val pc = C(p).cast("int"); val lc = C(l).cast("int")
          // virtual start may fall before the string (negative offset
          // past the beginning): the window is clamped to position 1 and
          // the requested length absorbs the out-of-range prefix (ref
          // GatherUtils getSliceFromRight; exercised by 02154 bitSlice).
          // An explicit zero offset yields empty; NULL offset/length
          // propagate NULL (the when-chains preserve them).
          val start0 = when(pc >= 0, pc).otherwise(len + pc + 1)
          val effStart = greatest(start0, lit(1))
          val size0 = when(lc >= 0, lc).otherwise(len + lc - start0 + 1)
          val effLen = size0 - (effStart - start0)
          val size = when(effLen < 0, lit(0)).otherwise(effLen)
          when(pc === 0, lit(""))
            .otherwise(C(Substring(s, E(effStart), E(size))))
      }
      Seq("substring", "substr", "mid").foreach(n =>
        reg.createOrReplaceTempFunction(n,
          es => E(chSubstring(es)), "scala_udf"))
      // bitSlice(s, offset[, length]) — CH substring selection applied
      // to the bin() bit rendering, repacked into zero-padded bytes
      // (ref src/Functions/bitSlice.cpp; invariant asserted by 02154:
      // bin(bitSlice(s, o, l)) = rpadToByte(substring(bin(s), o, l)))
      f("bitSlice") { case Seq(s, rest @ _*) =>
        C(PackBits(E(chSubstring(ChBinString(s) +: rest.toSeq))))
      }
    }

    // wave 3b: long-tail scalars surfaced by the golden-test sweep
    f("xor")(es => ch.xorCh(es.map(C)))
    f1("sigmoid")(ch.sigmoidCh)
    f1("regexpQuoteMeta")(ch.regexpQuoteMeta)
    f2("hasSubstr")(ch.hasSubstr)
    f("positionCaseInsensitiveUTF8") {
      case Seq(h, n) => ch.positionCaseInsensitiveUTF8(C(h), C(n))
      case Seq(h, n, p) =>
        ch.position3Chars(ch.lowerUTF8(C(h)), ch.lowerUTF8(C(n)), C(p))
    }
    f("positionUTF8") {
      case Seq(h, n) =>
        when(length(C(n)) === 0, lit(1))
          .otherwise(call_function("locate", C(n), C(h)))
      case Seq(h, n, p) => ch.position3Chars(C(h), C(n), C(p))
    }
    f2("multiMatchAny")(ch.multiMatchAny)
    f("visitParamExtractUInt") { case Seq(j, k) =>
      ch.visitParamExtractUInt(C(j), litStr(k)) }
    f("visitParamExtractFloat") { case Seq(j, k) =>
      ch.visitParamExtractFloat(C(j), litStr(k)) }
    f("visitParamExtractBool") { case Seq(j, k) =>
      ch.visitParamExtractBool(C(j), litStr(k)) }
    f("visitParamExtractRaw") { case Seq(j, k) =>
      ch.visitParamExtractRaw(C(j), litStr(k)) }
    // DAYOFWEEK: CH aliases the MySQL name to toDayOfWeek (Monday=1),
    // NOT MySQL/Spark numbering (Sunday=1) — ref dateTimeFunctions
    // alias table. Shadows the builtin → direct DayOfWeek node
    f1("DAYOFWEEK")(ch.toDayOfWeek)
    f1("toFloat32OrZero")(c => coalesce(c.try_cast("float"), lit(0.0f)))
    f1("toFloat32OrNull")(c => c.try_cast("float"))
    f("toDecimal32OrZero") { case Seq(c, s) =>
      coalesce(C(c).try_cast(s"decimal(9,${litInt(s)})"),
        lit(0).cast(s"decimal(9,${litInt(s)})")) }
    f("toDecimal32OrNull") { case Seq(c, s) =>
      C(c).try_cast(s"decimal(9,${litInt(s)})") }
    f("toDecimal64OrZero") { case Seq(c, s) =>
      coalesce(C(c).try_cast(s"decimal(18,${litInt(s)})"),
        lit(0).cast(s"decimal(18,${litInt(s)})")) }
    f("toDecimal64OrNull") { case Seq(c, s) =>
      C(c).try_cast(s"decimal(18,${litInt(s)})") }
    f("uniqExact") { case c +: rest =>
      count_distinct(C(c), rest.map(C): _*) }
    // uniq sketch tiers (ref AggregateFunctionUniq.h /
    // AggregateFunctionUniqCombined.h): estimates — internals
    // intentionally differ (SURVEY §7.3), the pinned contract is the
    // RELATIVE-ERROR bound (SketchErrorSpec, 10^3/10^5/10^7). rsd is
    // chosen so Spark's HLL++ register count matches the reference
    // sketch: uniqCombined K=17 → 2^17 registers ≈ rsd 0.003; uniqHLL12
    // = 2^12 registers ≈ rsd 0.016; uniqTheta default 4096 samples ≈
    // rsd 0.016.
    // multi-arg forms sketch the tuple. An appended precision param
    // (uniqCombined(17)(x) → uniqCombined(x, 17) after
    // rewriteParamAggs) is a trailing INTEGER LITERAL, not a column —
    // it must be dropped, not struct-wrapped: struct() is never NULL,
    // so wrapping would count NULL rows as one extra distinct value
    // where CH (and the 1-arg form) skip them. For uniqCombined the
    // param is HLL precision K → rsd ≈ 1.04/sqrt(2^K).
    def uniqArgs(args: Seq[Expression]): (Seq[Expression], Option[Int]) =
      args match {
        case init :+ Literal(k: Int, _) if init.nonEmpty => (init, Some(k))
        case init :+ Literal(k: Long, _) if init.nonEmpty =>
          (init, Some(k.toInt))
        case _ => (args, None)
      }
    def uniqSketch(args: Seq[Expression], defRsd: Double,
        paramRsd: Int => Double): Column = {
      val (cols, param) = uniqArgs(args)
      val rsd = param.map(paramRsd).getOrElse(defRsd)
      if (cols.sizeIs == 1) approx_count_distinct(C(cols.head), rsd)
      else approx_count_distinct(struct(cols.map(C): _*), rsd)
    }
    val combinedRsd = (k: Int) =>
      math.max(1.04 / math.sqrt(math.pow(2, k.max(4).min(20))), 0.001)
    f("uniqCombined")(es => uniqSketch(es, 0.003, combinedRsd))
    f("uniqCombined64")(es => uniqSketch(es, 0.003, combinedRsd))
    f("uniqHLL12")(es => uniqSketch(es, 0.016, _ => 0.016))
    f("uniqTheta")(es => uniqSketch(es, 0.016, _ => 0.016))
    f1("medianExact")(c =>
      QuantileVariants.exactLowHigh(c, lit(0.5), high = true))
    // parameterized quantile family: ChSql.rewriteParamAggs turns CH's
    // quantile(p)(x) into quantile(x, p) before these resolve (ref
    // AggregateFunctionQuantile.h). `quantile` is the reservoir tier —
    // R-7 interpolated on the full data (exact below the 8192-sample cap,
    // and this engine keeps it exact at every size); quantileExact is
    // DISCRETE — sorted[trunc(level·n)] (ref QuantileExact.h getImpl,
    // golden 00979 pins 250/500/…/600 where interpolation gives 249.75).
    f("quantile") {
      case Seq(x) => call_function("percentile", C(x), lit(0.5))
      case Seq(x, p) => call_function("percentile", C(x), C(p)) }
    f("quantileExact") {
      case Seq(x) => QuantileVariants.exactLowHigh(C(x), lit(0.5), high = true)
      case Seq(x, p) =>
        QuantileVariants.exactLowHigh(C(x), C(p).cast("double"), high = true) }
    // Timing tier keeps CH's value discretization (ref QuantileTiming.h:
    // exact below 1024, 16-wide buckets to BIG_THRESHOLD=30000, clamped
    // above) and its element selection — elems[floor(n·level)], no
    // interpolation (QuantileTimingTiny::get). collect+sort is the
    // golden-scale formulation; the sketch path at scale is quantileTDigest.
    def timingBucket(x: Column): Column =
      when(x > 30000, lit(30000L))
        .when(x < 1024, floor(x))
        .otherwise(lit(1024L) + floor((x - 1024) / 16) * 16)
    def timingPick(x: Column, p: Column): Column = {
      val lst = sort_array(collect_list(timingBucket(x)))
      C(ChElementAt(E(lst),
        E(least(floor(size(lst) * p) + 1, size(lst)).cast("int"))))
    }
    f("quantileTiming") {
      case Seq(x) => timingPick(C(x), lit(0.5))
      case Seq(x, p) => timingPick(C(x), C(p)) }
    f1("medianTiming")(c => timingPick(c, lit(0.5)))
    f("quantiles") { case x +: ps =>
      // empty input yields [nan], never NULL (ref
      // AggregateFunctionQuantile.h insertResultInto on empty state;
      // pinned by 01936)
      coalesce(
        call_function("percentile", C(x), array(ps.map(C): _*)),
        array(ps.map(_ => lit(Double.NaN)): _*)) }
    f("quantilesExact") { case x +: ps =>
      array(ps.map(p =>
        QuantileVariants.exactLowHigh(C(x), C(p).cast("double"),
          high = true)): _*) }
    f("quantilesTiming") { case x +: ps =>
      array(ps.map(p => timingPick(C(x), C(p))): _*) }
    // quantileExactWeighted (ref QuantileExactWeighted.h): DISCRETE — the
    // first value whose cumulative weight reaches ceil(level·W), not an
    // interpolation (golden 00315 pins the difference)
    f("quantileExactWeighted") {
      case Seq(x, w) => QuantileVariants.exactWeighted(C(x), C(w), lit(0.5))
      case Seq(x, w, p) => QuantileVariants.exactWeighted(C(x), C(w), C(p)) }
    f("quantilesExactWeighted") { case x +: w +: ps =>
      array(ps.map(p => QuantileVariants.exactWeighted(C(x), C(w), C(p))): _*) }
    f("quantileTDigest") {
      case Seq(x) => percentile_approx(C(x), lit(0.5), lit(1000))
      case Seq(x, p) => percentile_approx(C(x), C(p), lit(1000)) }
    // TDigestWeighted: the exact weighted walk stands in for the sketch at
    // golden scale (same approximate contract as quantileTDigest; the
    // sketch internals are the documented divergence, SURVEY §7.3)
    f("quantileTDigestWeighted") {
      case Seq(x, w) => QuantileVariants.exactWeighted(C(x).cast("double"), C(w), lit(0.5))
      case Seq(x, w, p) => QuantileVariants.exactWeighted(C(x).cast("double"), C(w), C(p)) }
    // exact order-statistic variants (ref QuantileExact.h; registration
    // list AggregateFunctionQuantileExact*.cpp)
    def castBack(x: Expression, r: Column): Column = x match {
      case e if e.resolved => e.dataType match {
        case DoubleType | FloatType => r
        case dt => r.cast(dt)
      }
      case _ => r
    }
    f("quantileExactLow") {
      case Seq(x) => QuantileVariants.exactLowHigh(C(x), lit(0.5), high = false)
      case Seq(x, p) => QuantileVariants.exactLowHigh(C(x), C(p), high = false) }
    f("quantileExactHigh") {
      case Seq(x) => QuantileVariants.exactLowHigh(C(x), lit(0.5), high = true)
      case Seq(x, p) => QuantileVariants.exactLowHigh(C(x), C(p), high = true) }
    f("quantilesExactLow") { case x +: ps =>
      array(ps.map(p => QuantileVariants.exactLowHigh(C(x), C(p), high = false)): _*) }
    f("quantilesExactHigh") { case x +: ps =>
      array(ps.map(p => QuantileVariants.exactLowHigh(C(x), C(p), high = true)): _*) }
    f("quantileExactInclusive") {
      case Seq(x) => QuantileVariants.exactInterp(C(x), lit(0.5), exclusive = false)
      case Seq(x, p) => QuantileVariants.exactInterp(C(x), C(p), exclusive = false) }
    f("quantileExactExclusive") {
      case Seq(x) => QuantileVariants.exactInterp(C(x), lit(0.5), exclusive = true)
      case Seq(x, p) => QuantileVariants.exactInterp(C(x), C(p), exclusive = true) }
    f("quantilesExactInclusive") { case x +: ps =>
      array(ps.map(p => QuantileVariants.exactInterp(C(x), C(p), exclusive = false)): _*) }
    f("quantilesExactExclusive") { case x +: ps =>
      array(ps.map(p => QuantileVariants.exactInterp(C(x), C(p), exclusive = true)): _*) }
    // weighted interpolation over the per-value cumulative distribution
    // (ref QuantileInterpolatedWeighted.h); result keeps the input type
    // (static_cast<UnderlyingType> truncation in the reference)
    f("quantileInterpolatedWeighted") {
      case Seq(x, w) => castBack(x,
        QuantileVariants.interpolatedWeighted(C(x), C(w), lit(0.5)))
      case Seq(x, w, p) => castBack(x,
        QuantileVariants.interpolatedWeighted(C(x), C(w), C(p))) }
    f("quantilesInterpolatedWeighted") { case x +: w +: ps =>
      array(ps.map(p => castBack(x,
        QuantileVariants.interpolatedWeighted(C(x), C(w), C(p)))): _*) }
    f("quantileTimingWeighted") {
      case Seq(x, w) => QuantileVariants.timingWeighted(C(x), C(w), lit(0.5))
      case Seq(x, w, p) => QuantileVariants.timingWeighted(C(x), C(w), C(p)) }
    f("quantilesTimingWeighted") { case x +: w +: ps =>
      array(ps.map(p => QuantileVariants.timingWeighted(C(x), C(w), C(p))): _*) }
    f("quantileBFloat16") {
      case Seq(x) => QuantileVariants.bfloat16(C(x), lit(1), lit(0.5))
      case Seq(x, p) => QuantileVariants.bfloat16(C(x), lit(1), C(p)) }
    f("quantilesBFloat16") { case x +: ps =>
      array(ps.map(p => QuantileVariants.bfloat16(C(x), lit(1), C(p))): _*) }
    f("quantileBFloat16Weighted") {
      case Seq(x, w) => QuantileVariants.bfloat16(C(x), C(w), lit(0.5))
      case Seq(x, w, p) => QuantileVariants.bfloat16(C(x), C(w), C(p)) }
    f("quantilesBFloat16Weighted") { case x +: w +: ps =>
      array(ps.map(p => QuantileVariants.bfloat16(C(x), C(w), C(p))): _*) }
    // quantileDeterministic (ref QuantileReservoirSamplerDeterministic.h):
    // below the 8192-sample cap the reservoir keeps everything and the
    // result is the R-7 interpolated quantile — exactly Spark's
    // percentile. This engine computes that exact path at every size (the
    // hash-subsampling above 8192 only APPROXIMATES it; being exact is
    // deterministic a fortiori). Determinator arg participates only in
    // sampling, so it is accepted and ignored.
    f("quantileDeterministic") {
      case Seq(x, _) => call_function("percentile", C(x), lit(0.5))
      case Seq(x, _, p) => call_function("percentile", C(x), C(p)) }
    f("quantilesDeterministic") { case x +: _ +: ps =>
      call_function("percentile", C(x), array(ps.map(C): _*)) }
    // medianXxx aliases = quantileXxx at level 0.5 (ref
    // AggregateFunctionQuantile.cpp registerAggregateFunctionsQuantile:
    // every quantile name also registers a median form)
    f1("medianExactLow")(c => QuantileVariants.exactLowHigh(c, lit(0.5), high = false))
    f1("medianExactHigh")(c => QuantileVariants.exactLowHigh(c, lit(0.5), high = true))
    f2("medianExactWeighted")((x, w) => QuantileVariants.exactWeighted(x, w, lit(0.5)))
    f2("medianTimingWeighted")((x, w) => QuantileVariants.timingWeighted(x, w, lit(0.5)))
    f("medianInterpolatedWeighted") { case Seq(x, w) => castBack(x,
      QuantileVariants.interpolatedWeighted(C(x), C(w), lit(0.5))) }
    f1("medianBFloat16")(c => QuantileVariants.bfloat16(c, lit(1), lit(0.5)))
    f2("medianBFloat16Weighted")((x, w) => QuantileVariants.bfloat16(x, w, lit(0.5)))
    f2("medianDeterministic")((x, _) => call_function("percentile", x, lit(0.5)))
    f1("medianTDigest")(c => percentile_approx(c, lit(0.5), lit(1000)))
    f2("medianTDigestWeighted")((x, w) =>
      QuantileVariants.exactWeighted(x.cast("double"), w, lit(0.5)))
    f2("covarSamp")((x, y) => covar_samp(x.cast("double"), y.cast("double")))
    f2("covarPop")((x, y) => covar_pop(x.cast("double"), y.cast("double")))
    // retention(cond1, …, condN) (ref AggregateFunctionRetention.h): bit
    // per condition = "condition held on SOME row of the group"; bits
    // past the first are additionally ANDed with bit 1 at finalization
    f("retention") { es =>
      val flags = es.map(e =>
        max(C(e).cast("boolean").cast("int")))
      array((flags.head +: flags.tail.map(fl => fl * flags.head))
        .map(fl => coalesce(fl, lit(0)).cast("tinyint")): _*) }
    // windowFunnel(window[, 'strict_*'…])(ts, cond1..condN) (ref
    // AggregateFunctionWindowFunnel.h) — rewriteParamAggs appends the
    // parameters after the arguments, so peel modes/window off the tail.
    // The window is in the timestamp column's own units (seconds for
    // DateTime, raw for integer timestamps): cast-to-long yields exactly
    // that for both.
    f("windowFunnel") { es0 =>
      var rest = es0
      var modes = Set.empty[String]
      while (rest.length > 2 && (rest.last match {
        case Literal(_: UTF8String, _) => true; case _ => false
      })) { modes += litStr(rest.last); rest = rest.init }
      val window = rest.last match {
        case Literal(v: Number, _) => v.longValue
        case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toLong
        case other => throw new IllegalArgumentException(
          s"windowFunnel window must be a constant, got $other")
      }
      rest = rest.init
      val conds = rest.tail
      val wf = udaf(new Funnel.WindowFunnel(window, conds.length,
        modes.contains("strict_deduplication"),
        modes.contains("strict_order"), modes.contains("strict_increase")),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(Long, Long)]())
      val mask = conds.zipWithIndex.map { case (c, i) =>
        when(coalesce(C(c).cast("boolean"), lit(false)), lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _) // bits are disjoint: sum == bitwise OR
      wf(C(rest.head).cast("long"), mask).cast("tinyint") }
    // sequenceMatch('(?1).*(?2)…')(ts, cond1..condN) / sequenceCount (ref
    // AggregateFunctionSequenceMatch.h; '.*'-separated subset)
    locally {
      def condMask(conds: Seq[Expression]): Column =
        conds.zipWithIndex.map { case (c, i) =>
          when(coalesce(C(c).cast("boolean"), lit(false)), lit(1L << i))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      val pairEnc = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Long)]()
      f("sequenceMatch") { es0 =>
        val pat = litStr(es0.last)
        Funnel.parsePattern(pat) // validate eagerly (clear analysis error)
        val conds = es0.tail.init
        val agg = udaf(new Funnel.SequenceMatchPat(pat), pairEnc)
        agg(C(es0.head).cast("long"), condMask(conds)).cast("tinyint") }
      f("sequenceCount") { es0 =>
        val pat = litStr(es0.last)
        Funnel.parsePattern(pat)
        val conds = es0.tail.init
        val agg = udaf(new Funnel.SequenceCountPat(pat), pairEnc)
        agg(C(es0.head).cast("long"), condMask(conds)) }
    }
    // welchTTest/studentTTest SQL surface (ref AggregateFunctionTTest.h):
    // CH's tuple is (t_stat, p_value); the indicator's 0-group is the
    // first sample (positive t for mean0 > mean1)
    locally {
      def pair(s: Column) =
        struct(s.getField("t").as("_1"), s.getField("p").as("_2"))
      f2("welchTTest")((v, g) => pair(
        StatsTests.welchTTest(v.cast("double"), g.cast("double") === 0)))
      f2("studentTTest")((v, g) => pair(
        StatsTests.studentTTest(v.cast("double"), g.cast("double") === 0)))
    }
    // groupArraySample(n[, seed])(x) (ref
    // AggregateFunctionGroupArray.h sample variant): n elements chosen by
    // a seed-keyed hash over insertion positions. The reference's partial
    // Fisher–Yates stream is RNG-identical only to itself, so the CHOSEN
    // SET differs from CH; what is preserved — and spec-asserted — is the
    // contract: deterministic for a fixed seed, size min(n, count),
    // elements drawn from the input.
    f("groupArraySample") { case x +: n +: rest =>
      val seed = rest.headOption.map(e => litInt(e).toLong)
        .getOrElse(123456789L)
      val lst = collect_list(C(x))
      val ordered = transform(
        array_sort(transform(sequence(lit(1), size(lst)),
          i => struct(xxhash64(lit(seed), i).as("h"), i.as("i")))),
        s => s.getField("i"))
      transform(slice(ordered, lit(1), C(n).cast("int")),
        i => element_at(lst, i)) }
    // co-moment matrix family (ref AggregateFunctionVarianceMatrix.cpp)
    f("corrMatrix") { xs => VarianceMatrix.corrMatrix(xs.map(C)) }
    f("covarSampMatrix") { xs => VarianceMatrix.covarMatrix(xs.map(C), pop = false) }
    f("covarPopMatrix") { xs => VarianceMatrix.covarMatrix(xs.map(C), pop = true) }
    // sparkbar(width[,min,max])(x,y) (ref AggregateFunctionSparkbar.h);
    // ChSql.rewriteParamAggs appends the parameters after x and y
    f("sparkbar") { case x +: y +: rest if rest.nonEmpty =>
      def evalLong(e: Expression): Long = e.eval(null) match {
        case n: Number => n.longValue
        case other => throw new IllegalArgumentException(
          s"sparkbar parameter must be a constant, got $other")
      }
      val w = evalLong(rest.head).toInt
      val range =
        if (rest.length >= 3) Some((evalLong(rest(1)), evalLong(rest(2))))
        else None
      val agg = udaf(new SparkbarAgg(w, range),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(Long, Long)]())
      val xl = x match {
        case e if e.resolved && e.dataType == DateType => unix_date(C(e))
        case e => C(e).cast("bigint")
      }
      agg(xl, C(y).cast("bigint")) }
    // stem(language, word) — Porter for 'en' (ref src/Functions/stem.cpp)
    f2("stem")((l, w) => C(ChStem(E(l), E(w))))
    // lemmatize/synonyms resolve against user-registered dictionaries —
    // the reference's server-config dictionaries re-expressed (NlpDicts);
    // the dict is looked up at plan build and captured in the expression
    f("lemmatize") { case Seq(l, w) =>
      val lang = NlpDicts.constStr(l, "lemmatize language")
      C(ChLemmatize(NlpDicts.lemmaDict(lang), w))
    }
    f("synonyms") { case Seq(n, t) =>
      val ext = NlpDicts.constStr(n, "synonyms extension name")
      C(ChSynonyms(NlpDicts.synonymDict(ext), t))
    }
    // stochastic regression family (ref AggregateFunctionMLMethod.h) —
    // deterministic re-expression: closed-form ridge for linear, capped
    // sorted-batch GD for logistic (see MLRegression.scala). Params
    // (lr, l2, batch, method) arrive appended after the regular args
    // (rewriteParamAggs); trailing foldables are the params.
    locally {
      def splitParams(es: Seq[Expression]): (Seq[Expression], Seq[Expression]) = {
        var k = es.length
        while (es.length - k < 4 && k > 2 && es(k - 1).foldable) k -= 1
        (es.take(k), es.drop(k))
      }
      def evalD(e: Expression, dflt: Double): Double = e.eval(null) match {
        case n: Number => n.doubleValue
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case _ => dflt
      }
      val seqEnc =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
      def inputArr(args: Seq[Expression]): Column =
        array(args.map(e => C(e).cast("double")): _*)
      f("stochasticLinearRegression") { es0 =>
        val (args, ps) = splitParams(es0)
        val l2 = if (ps.length >= 2) evalD(ps(1), 0.1) else 0.1
        val agg = udaf(new StochasticLinRegAgg(args.length - 1, l2), seqEnc)
        struct(lit("linear").as("kind"), agg(inputArr(args)).as("w"))
      }
      f("stochasticLogisticRegression") { es0 =>
        val (args, ps) = splitParams(es0)
        val lr = if (ps.nonEmpty) evalD(ps(0), 0.00001) else 0.00001
        val l2 = if (ps.length >= 2) evalD(ps(1), 0.1) else 0.1
        val agg = udaf(new StochasticLogRegAgg(args.length - 1, lr, l2), seqEnc)
        struct(lit("logistic").as("kind"), agg(inputArr(args)).as("w"))
      }
      f("evalMLMethod") { case model +: feats if feats.nonEmpty =>
        val mc = C(model)
        val w = mc.getField("w")
        val n = feats.length
        val z = feats.zipWithIndex.map { case (e, i) =>
          element_at(w, i + 1) * C(e).cast("double")
        }.foldLeft(element_at(w, n + 1))(_ + _)
        when(mc.getField("kind") === "logistic",
          lit(1.0) / (lit(1.0) + exp(-z))).otherwise(z)
      }
    }
    // topKWeighted family (ref AggregateFunctionTopK.cpp weighted
    // path): state = the collected (value, weight) pairs; merge sums
    // weights per value and emits count-descending
    locally {
      def topKWeightedFinal(pairs: Column, k: Column): Column = {
        // tie-break matches SpaceSaving eviction: equal weights keep
        // the LATER-inserted values (01356 pins [990..999])
        val idx = transform(pairs, (p, i) =>
          struct(p.getField("v").as("v"), p.getField("w").as("w"),
            i.cast("long").as("i")))
        val vals = array_distinct(transform(pairs, p => p.getField("v")))
        slice(
          transform(
            array_sort(transform(vals, v => {
              val mine = filter(idx, p => p.getField("v") <=> v)
              struct(
                (lit(0L) - aggregate(mine, lit(0L),
                  (acc, p) => acc + p.getField("w").cast("bigint")))
                  .as("n"),
                (lit(0L) - aggregate(mine, lit(0L),
                  (acc, p) => greatest(acc, p.getField("i")))).as("p"),
                v.as("v"))
            })),
            s => s.getField("v")),
          lit(1), k.cast("int"))
      }
      f("topKWeighted") {
        case Seq(v, w) =>
          topKWeightedFinal(collect_list(struct(C(v).as("v"),
            C(w).as("w"))), lit(10))
        case Seq(v, w, k) =>
          topKWeightedFinal(collect_list(struct(C(v).as("v"),
            C(w).as("w"))), C(k))
      }
      f("topKWeightedState") {
        case v +: w +: _ =>
          collect_list(struct(C(v).as("v"), C(w).as("w")))
      }
      f("topKWeightedMerge") {
        case Seq(s) =>
          topKWeightedFinal(flatten(collect_list(C(s))), lit(10))
        case Seq(s, k) =>
          topKWeightedFinal(flatten(collect_list(C(s))), C(k))
      }
    }
    // initializeAggregation('fn', args…): the aggregate's state (or
    // final value) over this single row, as a SCALAR (ref
    // src/Functions/initializeAggregation.cpp). Emits the engine's
    // documented state encodings (set/list states are the collected
    // values; avg is a (sum, count) pair; value-is-state otherwise).
    f("initializeAggregation") {
      case nameE +: args if args.nonEmpty =>
        val raw = nameE match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString
          case other => other.toString
        }
        val m = "^(\\w+?)(?:\\((.*)\\))?$".r.findFirstMatchIn(raw.trim)
          .getOrElse(throw new IllegalArgumentException(
            s"initializeAggregation: bad name $raw"))
        val base = m.group(1)
        val a = args.map(C)
        base match {
          case "uniqState" | "uniqExactState" | "uniqCombinedState" |
               "uniqHLL12State" | "groupArrayState" |
               "groupUniqArrayState" | "quantileState" |
               "quantilesState" | "medianState" =>
            array(a.head)
          case "avgState" =>
            struct(a.head.cast("double").as("s"), lit(1L).as("c"))
          case "topKWeightedState" =>
            array(struct(a(0).as("v"), a(1).as("w")))
          case "sumState" | "minState" | "maxState" | "anyState" |
               "anyLastState" | "sumWithOverflowState" =>
            a.head
          case "countState" =>
            when(a.head.isNotNull, lit(1L)).otherwise(lit(0L))
          case "uniq" | "uniqExact" | "count" =>
            when(a.head.isNotNull, lit(1L)).otherwise(lit(0L))
          case "sum" | "min" | "max" | "any" | "anyLast" => a.head
          case "groupArray" | "groupUniqArray" => array(a.head)
          case other => throw new IllegalArgumentException(
            s"initializeAggregation: unsupported $other")
        }
    }
    // topK(x, k): most-frequent values, count-descending (ref
    // SpaceSaving.h — exact here; the sketch only matters above memory)
    f("topK") {
      case Seq(x) => builders("topk")(Seq(x, Literal(10)))
      case Seq(x, k) =>
      val lst = collect_list(C(x))
      slice(
        transform(
          array_sort(transform(array_distinct(lst), v =>
            struct((lit(0L) - size(filter(lst, e => e <=> v))).as("n"),
              v.as("v")))),
          s => s.getField("v")),
        lit(1), C(k).cast("int")) }
    // exact up to N, N+1 past it (ref AggregateFunctionUniqUpTo.h);
    // parametric multi-column form counts distinct TUPLES (param last)
    f("uniqUpTo") { case es :+ k if es.nonEmpty =>
      least(count_distinct(C(es.head), es.tail.map(C): _*),
        C(k).cast("bigint") + 1L) }
    f1("emptyArrayToSingle")(c => C(EmptyArrayToSingle(E(c))))
    f1("extractURLParameters")(ch.extractURLParameters)
    // parameter NAMES only (ref src/Functions/URL/extractURLParameterNames.cpp)
    f1("extractURLParameterNames")(u =>
      transform(ch.extractURLParameters(u),
        kv => substring_index(kv, "=", 1)))
    // string up to the first NUL byte (ref
    // src/Functions/toStringCutToZero.cpp; FixedString padding contract)
    f1("toStringCutToZero")(c =>
      substring_index(c.cast("string"), "\u0000", 1))
    // any point inside any of the ellipses (ref
    // src/Functions/pointInEllipses.cpp: sum of normalized squared
    // distances, per 4-tuple (cx, cy, a, b))
    f("pointInEllipses") { case x +: y +: rest if rest.length % 4 == 0 =>
      val px = C(x).cast("double"); val py = C(y).cast("double")
      rest.grouped(4).map { case Seq(cx, cy, a, b) =>
        val dx = (px - C(cx).cast("double")) / C(a).cast("double")
        val dy = (py - C(cy).cast("double")) / C(b).cast("double")
        (dx * dx + dy * dy) <= 1.0
      }.reduce(_ || _).cast("tinyint") }
    f1("sumForEach")(ch.sumForEach)
    f1("identity")(c => c)
    // niche integer scalars with no loop-free Catalyst formulation — the
    // one place a plain Scala UDF is the honest tool (scalar, O(1) state)
    spark.udf.register("gcd", (a: Long, b: Long) =>
      BigInt(a).gcd(BigInt(b)).toLong)
    spark.udf.register("lcm", (a: Long, b: Long) =>
      if (a == 0 || b == 0) 0L
      else math.abs(a / BigInt(a).gcd(BigInt(b)).toLong * b))
    // javaHash = 31·h + signed byte over raw bytes; UTF16LE variant
    // reads bytes as LE code units (ref FunctionsHashing.h JavaHashImpl,
    // JavaHashUTF16LEImpl)
    spark.udf.register("__javaHashB", (b: Array[Byte]) =>
      if (b == null) null else Integer.valueOf(ChHash.javaHashBytes(b)))
    spark.udf.register("__javaHashU16", (b: Array[Byte]) =>
      if (b == null) null else Integer.valueOf(ChHash.javaHashUTF16LE(b)))
    f("javaHash") { case Seq(e) =>
      if (e.resolved && (e.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
            _: DecimalType => true
        case _ => false
      })) C(e).cast("int") // integral javaHash is the value itself (int32)
      else call_function("__javaHashB", C(e).cast("binary")) }
    f1("javaHashUTF16LE")(c =>
      call_function("__javaHashU16", c.cast("binary")))

    // CH subscript / arrayElement: 1-based, negative-from-end, type
    // default on out-of-range (ChSql's bracket rewrite emits this name)
    // when the subscripted column's DECLARED CH type is
    // Array(<non-Nullable>), an out-of-range index yields the TYPE
    // DEFAULT even though the Spark schema marks elements nullable
    def declaredNonNullArray(e: Expression): Boolean = {
      val name = e match {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          Some(a.name)
        case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
          Some(a.name)
        case _ => None
      }
      name.flatMap(graft.ChSql.declaredColumnType).exists(t =>
        t.matches("(?i)Array\\(\\s*(?!Nullable).*"))
    }
    f("chElementAt") { case Seq(a, i) =>
      C(ChElementAt(a, i, declaredNonNullArray(a))) }
    f("arrayElement") { case Seq(a, i) =>
      C(ChElementAt(a, i, declaredNonNullArray(a))) }
    // Enum casts (ChSql flattens the spec into name/value literal pairs)
    f("chEnum") { case expr +: pairs =>
      val names = pairs.grouped(2).map(p => litStr(p.head)).toSeq
      val vals = pairs.grouped(2).map(p => litInt(p(1)).toLong).toSeq
      C(ChEnum(expr, names, vals)) }
    // avgWeighted (ref AggregateFunctionAvgWeighted.h)
    f2("avgWeighted")((x, w) =>
      (sum(x.cast("double") * w.cast("double")) / sum(w.cast("double"))))
    // long-tail niche aggregates (ref registerAggregateFunctions.cpp)
    f1("sumCount")(NicheAggs.sumCount)
    f1("singleValueOrNull")(NicheAggs.singleValueOrNull)
    f1("anyHeavy")(NicheAggs.anyHeavy)
    f2("boundingRatio")(NicheAggs.boundingRatio)
    // Float64 result; CH's whole-number Float64 print coincides with the
    // UInt64 print on integral input, so no type dispatch needed here
    f2("intervalLengthSum")(NicheAggs.intervalLengthSum)
    f2("maxIntersections")(NicheAggs.maxIntersections)
    f2("maxIntersectionsPosition")(NicheAggs.maxIntersectionsPosition)
    f("visibleWidth") { case Seq(e) => C(VisibleWidth(e)) }
    f("geohashesInBox") { es => C(GeohashesInBox(es)) }
    // morton Z-order curve (ref mortonEncode.cpp/mortonDecode.cpp);
    // optional leading tuple = per-arg expand masks
    f("mortonEncode") { es =>
      Morton.maskSpec(es.head, forDecode = false) match {
        case Some(m) if es.length > 1 => C(MortonEncodeExpr(m, es.tail))
        case _ => C(MortonEncodeExpr(Seq.fill(es.length)(1), es))
      }
    }
    f("mortonDecode") { case Seq(spec, code) =>
      val masks = Morton.maskSpec(spec, forDecode = true).getOrElse(
        throw new IllegalArgumentException(
          "mortonDecode needs a constant count or mask tuple"))
      C(MortonDecodeExpr(masks, code))
    }
    // H3 table-free subset (bit layout + published constant tables);
    // the projection-table subset stays excluded — see H3Ch.scala
    H3FnExpr.names.foreach { n =>
      f(n) { es => C(H3FnExpr(n, es)) }
    }
    // The geo-projection H3 subset needs the H3 library's base-cell
    // orientation/neighbor tables (baseCells.c), which are not
    // re-derivable from the spec offline and whose source is not vendored
    // in the reference checkout (contrib/h3 is an empty submodule).
    // Permanently excluded — registered so a caller gets a precise
    // diagnostic instead of UNRESOLVED_ROUTINE. See COVERAGE.md.
    Seq("geoToH3", "h3ToGeo", "h3ToGeoBoundary", "h3kRing", "h3HexRing",
      "h3Line", "h3Distance", "h3GetFaces", "h3IndexesAreNeighbors",
      "h3GetUnidirectionalEdge", "h3GetUnidirectionalEdgeBoundary",
      "h3GetUnidirectionalEdgesFromHexagon",
      "h3GetOriginIndexFromUnidirectionalEdge",
      "h3GetDestinationIndexFromUnidirectionalEdge",
      "h3GetIndexesFromUnidirectionalEdge", "h3UnidirectionalEdgeIsValid",
      "h3ExactEdgeLengthM", "h3ExactEdgeLengthKm", "h3ExactEdgeLengthRads",
      "h3CellAreaM2", "h3CellAreaRads2").foreach { n =>
      f(n) { _ =>
        throw new UnsupportedOperationException(
          s"$n requires the H3 base-cell projection tables (contrib/h3), " +
            "which are not available in this environment; the index-math " +
            "H3 subset (h3ToParent/h3ToChildren/h3ToString/… — see " +
            "H3Ch.scala) is supported")
      }
    }
    f("geohashEncode") { es => C(GeohashEncodeExpr(es)) }
    f("geohashDecode") { case Seq(s) => C(GeohashDecodeExpr(s)) }
    f("categoricalInformationValue") { es =>
      NicheAggs.categoricalIV(es.dropRight(1).map(C), C(es.last)) }
    // params arrive appended after the regular args (paramAggs rewrite):
    // groupArrayInsertAt([default[, length]])(x, pos)
    f("groupArrayInsertAt") {
      case Seq(x, p) => NicheAggs.groupArrayInsertAt(C(x), C(p), None, None)
      case Seq(x, p, d) =>
        NicheAggs.groupArrayInsertAt(C(x), C(p), Some(C(d)), None)
      case Seq(x, p, d, l) =>
        NicheAggs.groupArrayInsertAt(C(x), C(p), Some(C(d)), Some(C(l)))
    }
    f2("groupArrayLast")((x, n) => NicheAggs.groupArrayLast(x, n))
    f2("groupArrayLastArray")((a, n) => NicheAggs.groupArrayLastArray(a, n))
    locally {
      val an = udaf(new AnovaAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      def anova(v: Column, g: Column): Column =
        an(v.cast("double"), g.cast("bigint"))
      f2("analysisOfVariance")(anova)
      f2("anova")(anova)
      // deltaSumTimestamp family: real partial-state structs so the
      // -State/-Merge forms shuffle and recombine faithfully
      val dst = udaf(new DeltaSumTsAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      val dstState = udaf(new DeltaSumTsStateAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      val dstMerge = udaf(new DeltaSumTsMergeAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[DeltaTsBuf]())
      def tsLong(t: Column): Column = {
        // dates/timestamps order by their numeric representation
        val e = E(t)
        if (!e.resolved) t.cast("bigint")
        else e.dataType match {
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType =>
            unix_micros(t.cast("timestamp"))
          case org.apache.spark.sql.types.DateType =>
            call_function("unix_date", t).cast("bigint")
          case _ => t.cast("bigint")
        }
      }
      f2("deltaSumTimestamp")((v, t) => dst(v.cast("double"), tsLong(t)))
      f2("deltaSumTimestampState")((v, t) =>
        dstState(v.cast("double"), tsLong(t)))
      // the case-class input encoder flattens to its fields
      f1("deltaSumTimestampMerge")(s => dstMerge(
        s.getField("sum"), s.getField("first"), s.getField("firstTs"),
        s.getField("last"), s.getField("lastTs"), s.getField("seen")))
      // exponentialMovingAverage(h)(value, time): param arrives appended
      f3("exponentialMovingAverage")((v, t, h) => {
        val hd = org.apache.spark.sql.graftbridge.ColumnBridge
          .expression(h) match {
          case Literal(n: Number, _) => n.doubleValue()
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case _ => 1.0
        }
        val ema = udaf(new EmaAgg(hd),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Double, Double)]())
        ema(v.cast("double"), t.cast("double"))
      })
      // exponentialTimeDecayed family, SQL/window-callable (params appended)
      locally {
        def dlit(h: Expression): Double =
          org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(C(h)) match {
            case Literal(n: Number, _) => n.doubleValue()
            case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
            case _ => 1.0
          }
        def mk(kind: Int, d: Expression) = udaf(new ExpDecayAgg(dlit(d), kind),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Double, Double)]())
        f("exponentialTimeDecayedSum") { case Seq(v, t, d) =>
          mk(0, d)(C(v).cast("double"), C(t).cast("double")) }
        f("exponentialTimeDecayedCount") { case Seq(t, d) =>
          mk(1, d)(lit(0.0), C(t).cast("double")) }
        f("exponentialTimeDecayedAvg") { case Seq(v, t, d) =>
          mk(2, d)(C(v).cast("double"), C(t).cast("double")) }
        f("exponentialTimeDecayedMax") { case Seq(v, t, d) =>
          mk(3, d)(C(v).cast("double"), C(t).cast("double")) }
      }
      // cross-tab association family (ref CrossTab.h)
      for (k <- Seq("cramersV", "cramersVBiasCorrected", "theilsU",
          "contingency")) {
        val agg = udaf(new CrossTabAgg(k),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(String, String)]())
        f2(k)((a, b) => agg(a.cast("string"), b.cast("string")))
      }
    }
    locally {
      val rc = udaf(new RankCorrAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Double)]())
      f2("rankCorr")((x, y) => rc(x.cast("double"), y.cast("double")))
    }
    // great-circle central angle in degrees — same LUT kernel
    f("greatCircleAngle") { es =>
      C(GeoDistExpr(es, GeoDistCh.SphereDegrees)) }
    // pointInPolygon via ray casting (ref PolygonUtils.h); golden-scale
    // UDF tier — polygon search at scale belongs to a spatial index
    spark.udf.register("pointInPolygon",
      (p: org.apache.spark.sql.Row, poly: Seq[org.apache.spark.sql.Row]) => {
        def d(r: org.apache.spark.sql.Row, i: Int): Double = r.get(i) match {
          case n: Number => n.doubleValue()
          case other => other.toString.toDouble
        }
        val (px, py) = (d(p, 0), d(p, 1))
        var inside = false
        var j = poly.length - 1
        for (i <- poly.indices) {
          val (xi, yi) = (d(poly(i), 0), d(poly(i), 1))
          val (xj, yj) = (d(poly(j), 0), d(poly(j), 1))
          val intersects = ((yi > py) != (yj > py)) &&
            (px < (xj - xi) * (py - yi) / (yj - yi) + xi)
          if (intersects) inside = !inside
          j = i
        }
        if (inside) 1 else 0
      })
    // typed JSON extraction: JSONExtract(json, keys…, 'Type')
    f("JSONExtract") { case es if es.size >= 2 =>
      val path = "$" + es.tail.dropRight(1).map {
        case Literal(s: UTF8String, _) => s".${s.toString}"
        case Literal(n: Number, _) => s"[${n.intValue - 1}]"
        case other => s".${litStr(other)}"
      }.mkString
      val raw = get_json_object(C(es.head), path)
      litStr(es.last) match {
        case "Int8" | "Int16" | "Int32" | "Int64" | "UInt8" | "UInt16" |
            "UInt32" | "UInt64" => raw.cast("bigint")
        case "Float32" | "Float64" => raw.cast("double")
        case "Bool" => raw.cast("boolean")
        case _ => raw
      } }
    // 128/256-bit integer tiers land on DECIMAL(38) — covers the value
    // ranges the curated tests exercise; full-width wrap is out of scope
    f1("toInt128")(c => c.cast("decimal(38,0)"))
    f1("toInt256")(c => c.cast("decimal(38,0)"))
    f1("toUInt128")(c => c.cast("decimal(38,0)"))
    f("isConstant") { case Seq(e) => C(IsConstantExpr(e)) }
    // humanized duration (ref formatReadableTimeDelta.cpp: year=365d,
    // month=30.5d, ", " separators with " and " before the final part)
    locally {
      def fmtDelta(value0: Double, maxUnit: String): String = {
        if (value0.isNaN) return "nan"
        if (value0.isInfinite) return if (value0 > 0) "inf" else "-inf"
        val sb = new StringBuilder
        var value = value0
        if (value < 0) { sb.append('-'); value = -value }
        val units = Seq(("year", 365L * 24 * 3600),
          ("month", (30.5 * 24 * 3600).toLong), ("day", 24L * 3600),
          ("hour", 3600L), ("minute", 60L), ("second", 1L))
        val start = maxUnit match {
          case "years" => 0; case "months" => 1; case "days" => 2
          case "hours" => 3; case "minutes" => 4; case _ => 5
        }
        var hasOutput = false
        for ((name, size) <- units.drop(start)) {
          val num = (value / size).toLong
          if (!(num == 0 && (size > 1 || hasOutput))) {
            value -= num * size
            if (hasOutput) sb.append(if (value < 1) " and " else ", ")
            sb.append(num).append(' ').append(name)
            if (num != 1) sb.append('s')
            hasOutput = true
          }
        }
        sb.toString
      }
      // internal names — registering the CH name over a UDF of the same
      // name would make the dispatcher call itself
      spark.udf.register("chFmtTimeDelta1", (v: Double) => fmtDelta(v, "years"))
      spark.udf.register("chFmtTimeDelta2",
        (v: Double, u: String) => fmtDelta(v, u))
    }
    f("formatReadableTimeDelta") {
      case Seq(v) => call_function("chFmtTimeDelta1", C(v).cast("double"))
      case Seq(v, u) =>
        call_function("chFmtTimeDelta2", C(v).cast("double"), C(u))
    }
    // toTime: keep the time of day, move the date to 1970-01-02 (ref
    // DateTimeTransforms.h ToTimeImpl); optional tz picks the wall clock
    f("toTime") {
      case Seq(a) => C(E(to_timestamp(
        concat(lit("1970-01-02 "), date_format(zonedWall(a), "HH:mm:ss")))))
      case Seq(a, t) => to_timestamp(concat(lit("1970-01-02 "),
        date_format(from_utc_timestamp(C(a).cast("timestamp"), C(t)),
          "HH:mm:ss")))
    }
    f1("toUnixTimestamp64Milli")(c => (unix_micros(c) / 1000L).cast("bigint"))
    f1("toUnixTimestamp64Micro")(c => unix_micros(c))
    f1("toUnixTimestamp64Nano")(c => unix_micros(c) * 1000L)
    f("fromUnixTimestamp64Milli") { case c +: _ => timestamp_millis(C(c)) }
    f("fromUnixTimestamp64Micro") { case c +: _ => timestamp_micros(C(c)) }
    f("fromUnixTimestamp64Nano") { case c +: _ =>
      timestamp_micros((C(c) / 1000L).cast("bigint")) }
    // tuple element-wise inequality count (ref tupleHammingDistance.cpp)
    f2("tupleHammingDistance")((a, b) => C(TupleHamming(E(a), E(b))))
    // finalizeAggregation: distributive -State values ARE the final
    // value (identity); stored non-distributive states finalize per the
    // column's DECLARED AggregateFunction type (uniq set → count, avg
    // pair → quotient, quantile list → interpolated median)
    f("finalizeAggregation") { case Seq(e) =>
      val declared = (e match {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          Some(a.nameParts.last)
        case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
          Some(a.name)
        case _ => None
      }).flatMap(n => graft.ChSql.declaredColumnType(n))
      val fn = declared.flatMap(t =>
        "(?is)^\\s*AggregateFunction\\s*\\(\\s*([A-Za-z_]\\w*).*".r
          .findFirstMatchIn(t).map(_.group(1).toLowerCase))
      fn match {
        case Some("uniq") | Some("uniqexact") =>
          size(array_distinct(C(e))).cast("bigint")
        case Some("avg") =>
          C(e).getField("s") / C(e).getField("c")
        case Some("quantile") | Some("median") =>
          val sorted = array_sort(C(e))
          val n = size(sorted)
          val h = (n.cast("double") - 1) * lit(0.5)
          val lo = floor(h); val frac = h - lo
          element_at(sorted, (lo + 1).cast("int")).cast("double") *
            (lit(1.0) - frac) +
            element_at(sorted, least((lo + 2).cast("int"), n))
              .cast("double") * frac
        case _ => C(e)
      }
    }
    // FixedString(n) = \0-padded bytes; String conversion trims the
    // padding back off (ref src/Columns/ColumnFixedString.h)
    // FixedString(n) is n BYTES: pad with NULs to the byte width (a
    // 4-codepoint emoji string already fills FixedString(16); ref
    // src/DataTypes/DataTypeFixedString.h)
    f2("toFixedString")((s, n) =>
      decode(call_function("rpad", encode(s, "UTF-8"),
        n.cast("int"), lit(Array[Byte](0))), "UTF-8"))
    // UUID keeps its canonical lowercase-hex text form; comparisons on
    // the 36-char fixed-width string order identically to CH's u128
    f1("toUUID")(c => {
      val t = lower(trim(c))
      // separator-less 32-hex form re-dashes (ref
      // parseUUIDWithoutSeparator; 01338)
      when(t.rlike("^[0-9a-f]{32}$"),
        concat_ws("-", substring(t, 1, 8), substring(t, 9, 4),
          substring(t, 13, 4), substring(t, 17, 4), substring(t, 21, 12)))
        .otherwise(t)
    })
    // unparsable/NULL input yields the nil UUID (or the given default;
    // ref src/Functions/FunctionsConversion.h toUUIDOrDefault; 02491)
    f("toUUIDOrDefault") { es =>
      val zero = lit("00000000-0000-0000-0000-000000000000")
      val dflt = if (es.length >= 2) C(es(1)) else zero
      val t = lower(trim(C(es.head).cast("string")))
      coalesce(when(t.rlike(
        "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"),
        t), dflt)
    }

    // wave 3c: §2.8 sweep-up
    // shadows builtin isnan (case-insensitive) — build the node directly
    f("isNaN") { case Seq(e) =>
      C(org.apache.spark.sql.catalyst.expressions.IsNaN(
        Cast(e, org.apache.spark.sql.types.DoubleType))) }
    f("char")(es => concat(es.map(e => call_function("chr", C(e))): _*))
    f("concatWithSeparator") { case sep +: rest =>
      concat_ws(litStr(sep), rest.map(C): _*) }
    // CH format('{} and {}', a, b) — {} fills positionally, {N} is an
    // explicit 0-based index that may repeat (ref Common/format.h)
    f("format") { case fmt +: args =>
      val raw = litStr(fmt)
      val sb = new StringBuilder
      var next = 0
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '%') { sb.append("%%"); i += 1 }
        else if (c == '{') {
          val close = raw.indexOf('}', i)
          val inner = if (close > i) raw.substring(i + 1, close) else null
          if (inner != null && inner.isEmpty) {
            sb.append("%").append(next + 1).append("$s"); next += 1
            i = close + 1
          } else if (inner != null && inner.forall(_.isDigit)) {
            sb.append("%").append(inner.toInt + 1).append("$s")
            i = close + 1
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      call_function("format_string", (lit(sb.toString) +: args.map(C)): _*) }
    f1("countDigits")(c =>
      length(regexp_replace(abs(c).cast("string"), "[.\\-]", "")))
    // intHash32 = the salted 32-bit finalizer over the zero-extended
    // value (ref FunctionsHashing.h IntHash32Impl; bit-exact kernel in
    // ChHash.intHash32Impl). The bit-exact murmurHash3_32/64 registered
    // earlier stand — the old approximate Spark-hash fallbacks are gone.
    spark.udf.register("__inthash32", (x: java.lang.Long) =>
      if (x == null) null
      else java.lang.Long.valueOf(ChHash.intHash32Impl(x)))
    f1("intHash32")(c => call_function("__inthash32", c.cast("bigint")))
    // normalizeQuery family: token-level literal/whitespace/alias
    // normalization (ref src/Parsers/queryNormalization.h)
    spark.udf.register("normalizeQuery",
      (s: String) => QueryNormalization.normalize(s, keepNames = false))
    spark.udf.register("normalizeQueryKeepNames",
      (s: String) => QueryNormalization.normalize(s, keepNames = true))
    spark.udf.register("normalizedQueryHash", (s: String) =>
      scala.util.hashing.MurmurHash3.stringHash(
        QueryNormalization.normalize(s, keepNames = false)).toLong &
        0xffffffffL)
    spark.udf.register("normalizedQueryHashKeepNames", (s: String) =>
      scala.util.hashing.MurmurHash3.stringHash(
        QueryNormalization.normalize(s, keepNames = true)).toLong &
        0xffffffffL)
    // base58 (bitcoin alphabet) — big-integer radix conversion, the one
    // honest UDF tier (ref FunctionBase58Conversion.h)
    locally {
      val alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
      spark.udf.register("base58Encode", (s: String) => {
        val bytes = s.getBytes("UTF-8")
        val zeros = bytes.takeWhile(_ == 0).length
        var n = BigInt(1, bytes)
        val sb = new StringBuilder
        while (n > 0) { sb.append(alpha(((n % 58).toInt))); n /= 58 }
        "1" * zeros + sb.reverse.toString
      })
      def b58dec(s: String): String = {
        val zeros = s.takeWhile(_ == '1').length
        var n = BigInt(0)
        s.foreach { c =>
          val i = alpha.indexOf(c)
          require(i >= 0, s"invalid base58 char $c")
          n = n * 58 + i
        }
        val body = if (n == 0) Array.empty[Byte]
          else n.toByteArray.dropWhile(_ == 0)
        new String(Array.fill[Byte](zeros)(0) ++ body, "UTF-8")
      }
      spark.udf.register("base58Decode", (s: String) => b58dec(s))
      // tryBase58Decode yields the EMPTY STRING on bad input, not NULL
      // (ref FunctionBase58Conversion.h TryBase58Decode; pinned 02337)
      spark.udf.register("tryBase58Decode", (s: String) =>
        try b58dec(s) catch { case _: IllegalArgumentException => "" })
    }

    // two-array form sumMap(keys, vals) and the single tuple-argument
    // form sumMap((keys, vals)) (ref AggregateFunctionSumMap.cpp both
    // signatures); -WithOverflow keeps the input width, same result at
    // golden scale
    // type default for the NULL→default rule of min/maxMap values;
    // non-defaultable types keep the drop-null behavior
    def valueDefault(v: Expression): Option[Column] =
      if (!v.resolved) Some(lit(0))
      else v.dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) => et match {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
              DoubleType | _: DecimalType => Some(lit(0))
          case org.apache.spark.sql.types.StringType => Some(lit(""))
          case _ => None
        }
        case _ => Some(lit(0))
      }
    def mapAggF(name: String, red: (Column, Column) => Column,
        keepNulls: Boolean = false): Unit =
      f(name) {
        case Seq(k, v) =>
          val kn = keepNulls && valueDefault(v).isDefined
          val d = valueDefault(v).getOrElse(lit(0))
          mapAgg(if (kn) (ps, key) => red(
            transform(ps, p => struct(p.getField("k").as("k"),
              coalesce(p.getField("v"), d).as("v"))), key)
          else red, kn)(C(k), C(v))
        case Seq(t) =>
          val ve = E(C(TupleElement(t, 2)))
          val kn = keepNulls && valueDefault(ve).isDefined
          val d = valueDefault(ve).getOrElse(lit(0))
          mapAgg(if (kn) (ps, key) => red(
            transform(ps, p => struct(p.getField("k").as("k"),
              coalesce(p.getField("v"), d).as("v"))), key)
          else red, kn)(C(TupleElement(t, 1)), C(TupleElement(t, 2)))
      }
    // zero-compact applies to NON-Nullable value columns only
    // (01634_summap_nullable: a Nullable 0 survives)
    def nullableVals(v: Expression): Boolean = v.resolved && (v.dataType match {
      case org.apache.spark.sql.types.ArrayType(_, cn) => cn
      case _ => false
    })
    f("sumMap") {
      case Seq(k, v) =>
        val agg = mapAgg((ps, _) =>
          aggregate(ps, lit(0.0), (acc, p) => acc + p.getField("v")))(
          C(k), C(v))
        if (nullableVals(v)) agg else dropZeros(agg)
      case Seq(t) =>
        val agg = mapAgg((ps, _) =>
          aggregate(ps, lit(0.0), (acc, p) => acc + p.getField("v")))(
          C(TupleElement(t, 1)), C(TupleElement(t, 2)))
        dropZeros(agg)
    }
    // -If on the map family: mask both arrays on the condition row-wise
    f("sumMapIf") { case Seq(k, v, c) =>
      val p = C(c).cast("boolean")
      dropZeros(mapAgg((ps, _) =>
        aggregate(ps, lit(0.0), (acc, q) => acc + q.getField("v")))(
        when(p, C(k)), when(p, C(v))))
    }
    f("min2") { case Seq(a, b) => least(C(a).cast("double"), C(b).cast("double")) }
    f("max2") { case Seq(a, b) => greatest(C(a).cast("double"), C(b).cast("double")) }
    mapAggF("sumMapWithOverflow", (ps, _) =>
      aggregate(ps, lit(0.0), (acc, p) => acc + p.getField("v")))
    // NULL values become the type default for min/max (pinned by 01422:
    // minMap(([1,2],[NULL,11])) = ([1,2],[0,11])) — the keepNulls
    // wrapper coalesces before the reduction (array_min/max skip nulls)
    mapAggF("minMap", (ps, _) => array_min(transform(ps, _.getField("v"))),
      keepNulls = true)
    mapAggF("maxMap", (ps, _) => array_max(transform(ps, _.getField("v"))),
      keepNulls = true)

    // wave 4 (round 4): variadic logical ops and CH transform — CH
    // and/or take any number of args (ref FunctionsLogical.cpp); CH
    // least/greatest accept one arg (identity)
    // CH variadic and/or (ref FunctionsLogical.cpp). Direct And/Or
    // nodes: Column.&& itself resolves via the name "and" in Spark 4,
    // so the builder must not re-enter the registry; numeric operands
    // are booleanized later by plans.ChTruthinessRule once types are
    // known (building casts here would break unresolved boolean inputs)
    f("and")(es => C(es.reduce(
      org.apache.spark.sql.catalyst.expressions.And(_, _))))
    f("or")(es => C(es.reduce(
      org.apache.spark.sql.catalyst.expressions.Or(_, _))))
    // direct Least/Greatest nodes — functions.least/greatest would
    // resolve by NAME back into this very registration (Spark 4 builds
    // UnresolvedFunction) and never make progress
    // direct Least/Greatest nodes — functions.least/greatest would
    // resolve by NAME back into this very registration (Spark 4 builds
    // UnresolvedFunction) and never make progress
    f("least") {
      case Seq(a) => C(a)
      case es =>
        C(org.apache.spark.sql.catalyst.expressions.Least(es))
    }
    f("greatest") {
      case Seq(a) => C(a)
      case es =>
        C(org.apache.spark.sql.catalyst.expressions.Greatest(es))
    }
    // CH transform(x, from_array, to_array[, default]) value mapping
    // (ref src/Functions/transform.cpp). Registered under chTransform —
    // ChSql renames 3/4-arg transform() calls to it, leaving the 2-arg
    // lambda HOF on Spark's builtin (overriding the builtin name breaks
    // lambda binding for every internal functions.transform use).
    f("chTransform") {
      // failOnError=false: a no-match position of 0 probes index -1,
      // which must yield NULL for the coalesce fallback (not ANSI-throw)
      case Seq(x, from, to) =>
        // 3-arg: unmatched values pass through unchanged
        coalesce(C(GetArrayItem(E(C(to)),
          E(array_position(C(from), C(x)) - 1), failOnError = false)), C(x))
      case Seq(x, from, to, dflt) =>
        coalesce(C(GetArrayItem(E(C(to)),
          E(array_position(C(from), C(x)) - 1), failOnError = false)),
          C(dflt))
    }

    // wave 4 long tail (each pinned by a golden file when listed in
    // GoldenSpec; ref files cited at the behavior they fix)
    f1("exp2")(c => pow(lit(2.0), c))
    f1("exp10")(c => pow(lit(10.0), c))
    f1("varSamp")(var_samp)
    f1("varPop")(var_pop)
    // CH clamps tiny negative variances from FP error to 0 (ref
    // AggregateFunctionStatisticsSimple.h NonNegative variants); the
    // *Stable names are the numerically-stable twins with equal results
    f1("stddevSamp")(c => greatest(stddev_samp(c), lit(0.0)))
    f1("stddevPop")(c => greatest(stddev_pop(c), lit(0.0)))
    f1("stddevSampStable")(c => greatest(stddev_samp(c), lit(0.0)))
    f1("stddevPopStable")(c => greatest(stddev_pop(c), lit(0.0)))
    f1("varSampStable")(c => greatest(var_samp(c), lit(0.0)))
    f1("varPopStable")(c => greatest(var_pop(c), lit(0.0)))
    f2("covarPopStable")(covar_pop)
    f2("covarSampStable")(covar_samp)
    f2("corrStable")(corr)
    f1("sumKahan")(c => sum(c.cast("double")))
    f1("sumWithOverflow")(sum)
    f1("sumDistinct")(sum_distinct)
    f1("sumState")(sum); f1("sumMerge")(sum)
    f1("toLastDayOfMonth")(last_day)
    f3("translateUTF8")((s, a, b) => call_function("translate", s, a, b))
    f("toDecimalString") { case Seq(x, n) =>
      format_string(s"%.${litInt(n)}f", C(x)) }
    // -OrDefault conversion tier: try_cast else explicit default; the
    // 1-arg form defaults to the type's zero value (ref
    // FunctionsConversion.h accurateCastOrDefault)
    f("toUInt32OrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("bigint"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("bigint"), lit(0L)) }
    f("toUInt64OrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("bigint"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("bigint"), lit(0L)) }
    f("toInt32OrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("int"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("int"), lit(0)) }
    f("toInt64OrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("bigint"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("bigint"), lit(0L)) }
    f("toDateOrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("date"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("date"),
        lit(java.sql.Date.valueOf("1970-01-01"))) }
    f("toDateTimeOrDefault") {
      case Seq(x, d) => coalesce(C(x).try_cast("timestamp"), C(d))
      case Seq(x) => coalesce(C(x).try_cast("timestamp"),
        lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))) }
    f("toDecimal32OrDefault") { case Seq(x, s, d) =>
      coalesce(C(x).try_cast(s"decimal(9,${litInt(s)})"), C(d)) }
    f("toDecimal64OrDefault") { case Seq(x, s, d) =>
      coalesce(C(x).try_cast(s"decimal(18,${litInt(s)})"), C(d)) }
    f("toDecimal128OrZero") { case Seq(x, s) =>
      coalesce(C(x).try_cast(s"decimal(38,${litInt(s)})"),
        lit(0).cast(s"decimal(38,${litInt(s)})")) }
    f("toDecimal128OrNull") { case Seq(x, s) =>
      C(x).try_cast(s"decimal(38,${litInt(s)})") }
    // throwIf(cond[, msg]): 0 when ok, error when cond (ref
    // src/Functions/throwIf.cpp); CaseWhen keeps raise_error lazy
    f("throwIf") {
      case Seq(c) =>
        when(C(c).cast("boolean"),
          raise_error(lit("throwIf"))).otherwise(lit(0))
      case Seq(c, m) =>
        when(C(c).cast("boolean"), raise_error(C(m))).otherwise(lit(0))
    }
    // UTC session: timezone offset of a DateTime is 0
    f1("timeZoneOffset")(c => lit(0))
    // argMinIf/argMaxIf: -If on argMin/argMax — condition filters pairs
    f3("argMinIf")((a, b, cond) =>
      min_by(when(cond, a), when(cond, b)))
    f3("argMaxIf")((a, b, cond) =>
      max_by(when(cond, a), when(cond, b)))
    // multiMatchAnyIndex: 1-based index of first matching pattern, 0 if
    // none (ref FunctionsMultiStringSearch.h)
    f2("multiMatchAnyIndex")((s, pats) =>
      coalesce(array_position(transform(pats, p =>
        C(org.apache.spark.sql.catalyst.expressions.RLike(E(s), E(p)))),
        lit(true)), lit(0L)))
    // extractAllGroupsHorizontal/Vertical (ref extractAllGroups.h):
    // group count read from the literal pattern. CH's match loop runs
    // while pos < end, so an empty-matching pattern never fires at the
    // end-of-string position; Java's find() does — drop that one match.
    def chGroups(s: Column, pat: String): Seq[Column] = {
      val n = java.util.regex.Pattern.compile(pat).matcher("").groupCount()
      // zero capture groups is an error in the reference (serverError 36,
      // extractAllGroups.h checkArguments)
      require(n >= 1,
        s"pattern '$pat' has no capture groups (extractAllGroups needs >= 1)")
      val dropLast = java.util.regex.Pattern.matches(pat, "")
      (1 to n).map { g =>
        val a = regexp_extract_all(s, lit(pat), lit(g))
        if (dropLast) slice(a, lit(1), greatest(size(a) - 1, lit(0))) else a
      }
    }
    f("extractAllGroupsHorizontal") { case Seq(s, re) =>
      array(chGroups(C(s), litStr(re)): _*)
    }
    f("extractAllGroupsVertical") { case Seq(s, re) =>
      val groups = chGroups(C(s), litStr(re))
      transform(sequence(lit(1), size(groups.head)), i =>
        array(groups.map(g => element_at(g, i)): _*))
    }
    // bare extractAllGroups is the Vertical form (ref extractAllGroups.h
    // VerticalImpl alias registration)
    f("extractAllGroups") { case Seq(s, re) =>
      val groups = chGroups(C(s), litStr(re))
      transform(sequence(lit(1), size(groups.head)), i =>
        array(groups.map(g => element_at(g, i)): _*))
    }
    // (toIPv4/toIPv4OrNull live in the typed IP-coding block above)

    // ---- round-4 wave: custom weeks, reinterpret, block-local fns ----

    // toWeek/toYearWeek MySQL week modes (ref toCustomWeek.cpp,
    // DateLUTImpl.h toYearWeek); optional trailing timezone ignored
    // under the UTC session
    f("toWeek") {
      case Seq(a) => C(ChCustomWeek(E(zonedWall(a)), 0, "week"))
      case es => C(ChCustomWeek(E(zonedWall(es.head)), litInt(es(1)), "week"))
    }
    f("toYearWeek") {
      case Seq(a) => C(ChCustomWeek(E(zonedWall(a)), 0, "yearweek"))
      case es =>
        C(ChCustomWeek(E(zonedWall(es.head)), litInt(es(1)), "yearweek"))
    }
    // weeks since epoch; ref DateTimeTransforms.h ToRelativeWeekNumImpl:
    // (d + 8) / 7 over epoch days
    f1("toRelativeWeekNum")(c =>
      ((C(ChToDate(E(c))).cast("int") + 8) / 7).cast("int"))

    // reinterpret family (ref reinterpretAs.cpp)
    def reinterp(target: String)(es: Seq[Expression]): Column =
      C(ChReinterpret(es.head, target, chLitWidth(es.head)))
    Seq("String", "UInt8", "Int8", "UInt16", "Int16", "UInt32", "Int32",
      "UInt64", "Int64", "Int128", "UInt128", "Int256", "UInt256",
      "Float32", "Float64", "Date", "DateTime").foreach { t =>
      f(s"reinterpretAs$t")(reinterp(t))
    }
    f("reinterpret") { case Seq(a, t) =>
      C(ChReinterpret(a, litStr(t), chLitWidth(a)))
    }
    f("reinterpretAsFixedString") { case Seq(a) =>
      val w = chLitWidth(a) match {
        case 0 if a.resolved => a.dataType match {
          case ByteType => 1; case ShortType => 2; case IntegerType => 4
          case LongType => 8; case FloatType => 4; case DoubleType => 8
          case DateType => 2
          case d: org.apache.spark.sql.types.DecimalType
              if d.scale == 0 => 8
          case _ => 0
        }
        case x => x
      }
      C(ChReinterpret(a, s"FixedString($w)", w))
    }

    // block-local functions (ref src/Functions/neighbor.cpp,
    // runningDifference.h): CH computes within the processing block; a
    // single ordered window reproduces that on a small/sorted frame. The
    // whole-frame window is the documented CH semantics divergence
    // anyway (the reference itself warns block boundaries are arbitrary).
    locally {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(monotonically_increasing_id())
      // the single-task frame is guarded: beyond graft.blockLocal.maxRows
      // the task fails with a message naming the partitioned alternative.
      // The guard wraps the window OUTPUT (not its input): window inputs
      // get extracted into a pre-exchange Project where each task still
      // sees only its own slice, while the post-window projection runs
      // inside the one collapsed partition this guard must measure.
      def guarded(fn: String, c: Column): Column = {
        val limit = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("graft.blockLocal.maxRows", "10000000").toLong
        C(BlockLocalGuard(E(c), limit, fn))
      }
      f("neighbor") {
        case Seq(a, off) =>
          val n = litInt(off)
          guarded("neighbor",
            if (n >= 0) lead(C(a), n).over(w) else lag(C(a), -n).over(w))
        case Seq(a, off, dflt) =>
          val n = litInt(off)
          coalesce(
            guarded("neighbor",
              if (n >= 0) lead(C(a), n).over(w) else lag(C(a), -n).over(w)),
            C(dflt))
      }
      f1("runningDifference")(c =>
        c - coalesce(guarded("runningDifference",
          lag(c, 1).over(w)), c))
      f1("runningDifferenceStartingWithFirstValue")(c =>
        c - coalesce(guarded("runningDifferenceStartingWithFirstValue",
          lag(c, 1).over(w)), c))
    }

    // toStartOfInterval(t, INTERVAL n unit) (ref toStartOfInterval.cpp):
    // sub-day intervals align to MIDNIGHT of the value's day (the
    // reference rounds within the day), day-and-up align to the epoch
    f("toStartOfInterval") { case es if es.length >= 2 =>
      val t = C(es.head)
      es(1) match {
        case Literal(v: Long, _: DayTimeIntervalType) =>
          val secs = v / 1000000L
          if (secs % 86400L == 0L) {
            val days = secs / 86400L
            date_add(lit("1970-01-01").cast("date"),
              ((datediff(t.cast("date"), lit("1970-01-01")) / days)
                .cast("bigint") * days).cast("int"))
          } else {
            val ts = t.cast("timestamp")
            val day0 = unix_timestamp(date_trunc("day", ts))
            timestamp_seconds(day0 +
              floor((unix_timestamp(ts) - day0) / secs).cast("bigint") * secs)
          }
        case Literal(m: Int, _: YearMonthIntervalType) =>
          val base = months_between(t.cast("timestamp"), lit("1970-01-01"))
          add_months(lit("1970-01-01").cast("date"),
            (floor(base / m) * m).cast("int"))
        case other =>
          timestamp_seconds(floor(unix_timestamp(t.cast("timestamp")) /
            C(other)) * C(other))
      }
    }
    // timeSlots(start, duration[, size]) (ref FunctionsTimeWindow)
    f("timeSlots") { case es =>
      val start = C(es.head).cast("timestamp")
      val dur = C(es(1)).cast("bigint")
      val size = if (es.length > 2) litInt(es(2)).toLong else 1800L
      transform(
        sequence(floor(unix_timestamp(start) / size).cast("bigint"),
          floor((unix_timestamp(start) + dur) / size).cast("bigint")),
        x => timestamp_seconds(x * size))
    }

    // misc quick names
    f1("toDateTimeOrNull")(c => c.try_cast("timestamp"))
    f1("toDateTimeOrZero")(c => coalesce(c.try_cast("timestamp"),
      lit(0).cast("timestamp")))
    // the session runs pinned to UTC, and every stored value carries it
    f1("timeZoneOf")(_ => lit("UTC"))
    // IPv4NumToStringClassC masks the last octet (ref
    // FunctionsCoding.h IPv4NumToStringClassCImpl: mask_tail_octets=1)
    f1("IPv4NumToStringClassC")(c => concat(
      substring_index(ch.ipv4NumToString(c), ".", 3), lit(".xxx")))
    f1("toDateOrNull")(c => c.try_cast("date"))
    f("truncate") {
      case Seq(a) => signum(C(a)) * floor(abs(C(a)))
      case Seq(a, n) =>
        val p = pow(lit(10.0), litInt(n))
        signum(C(a)) * floor(abs(C(a)) * p) / p
    }
    // trunc = truncate alias in CH (FunctionsRound.cpp); the 2-arg
    // string form keeps Spark's own date-trunc behavior
    f("trunc") {
      case Seq(a) => signum(C(a)) * floor(abs(C(a)))
      case Seq(a, u @ Literal(_: UTF8String, _)) =>
        C(org.apache.spark.sql.catalyst.expressions.TruncDate(a, u))
      case Seq(a, n) =>
        val p = pow(lit(10.0), litInt(n))
        signum(C(a)) * floor(abs(C(a)) * p) / p
    }
    // uniqCombined64 registered with the uniq sketch tier above (the 64
    // variant only widens the hash; same rsd tier as uniqCombined)
    // one random value per query, all rows (ref FunctionConstantBase);
    // drawn once per session — constant across rows is the contract
    locally {
      val v = scala.util.Random.nextInt() & 0x7fffffff
      f("randConstant")(_ => lit(v))
    }
    // erf/erfc via Abramowitz-Stegun 7.1.26 (|eps| < 1.5e-7 — the
    // reference tests only pin limit values)
    def erfCol(c: Column): Column = {
      val x = c.cast("double")
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * abs(x))
      val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t
      signum(x) * (lit(1.0) - poly * exp(-x * x))
    }
    f1("erf")(erfCol)
    f1("erfc")(c => lit(1.0) - erfCol(c))
    f("lgamma") { case Seq(a) => C(ChGamma(a, log = true)) }
    f("tgamma") { case Seq(a) => C(ChGamma(a, log = false)) }
    f("tupleMultiply") { case Seq(a, b) if a.resolved =>
      val st = a.dataType.asInstanceOf[
        org.apache.spark.sql.types.StructType]
      struct(st.fields.zipWithIndex.map { case (fd, i) =>
        (C(a).getField(fd.name) * C(b).getField(fd.name))
          .as(s"col${i + 1}")
      }.toSeq: _*)
    }
  }

}
