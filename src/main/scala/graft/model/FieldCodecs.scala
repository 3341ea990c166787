package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sortable field codecs — the reference's Document-package utilities
  * for putting dates and numbers INTO the lexicographic term space so
  * term-range queries work on them.
  *
  * [[DateTools]]: resolution-truncated `yyyyMMddHHmmssSSS` prefixes
  * (/root/reference/src/core/Document/DateTools.cs:349 LoC) — identical
  * string shape, here as Catalyst `date_format` columns (the session
  * runs UTC, matching the reference's GMT calendar).
  *
  * [[NumberTools]]: an order-preserving fixed-width string form of a
  * signed long (NumberTools.cs maps long→radix-36 with a sign-split
  * width prefix). Equivalent FUNCTION, different alphabet: we shift by
  * 2^63 into unsigned and zero-pad base-10 to 20 digits — the same
  * lexicographic==numeric contract, but exactly replayable by any SQL
  * engine (HUGEINT arithmetic) where radix-36 is not. Documented
  * deviation: encodings are not byte-compatible with the reference's.
  */
object DateTools {

  /** Resolution → truncation pattern (DateTools.Resolution). */
  val Patterns: Map[String, String] = Map(
    "year" -> "yyyy",
    "month" -> "yyyyMM",
    "day" -> "yyyyMMdd",
    "hour" -> "yyyyMMddHH",
    "minute" -> "yyyyMMddHHmm",
    "second" -> "yyyyMMddHHmmss",
    "millisecond" -> "yyyyMMddHHmmssSSS")

  /** Timestamp column → resolution-truncated sortable string
    * (DateTools.DateToString). Lexicographic order == time order, and a
    * coarser resolution is a strict prefix of a finer one — exactly the
    * property the reference's range queries rely on. */
  def dateToString(ts: Column, resolution: String): Column =
    date_format(ts, Patterns(resolution))

  /** Inverse (DateTools.StringToDate): the truncated string parses back
    * to the interval's start instant. */
  def stringToDate(s: Column, resolution: String): Column =
    to_timestamp(s, Patterns(resolution))

  /** Round a timestamp DOWN to the resolution (DateTools.Round). */
  def round(ts: Column, resolution: String): Column =
    stringToDate(dateToString(ts, resolution), resolution)

  /** The years whose keys sort in time order: `yyyy` is 4 digits from
    * year 1 through 9999 (a year past 9999 formats as `+10000`, year 0
    * and earlier with a sign). */
  val KeyOrderFrom: java.time.Instant =
    java.time.Instant.parse("0001-01-01T00:00:00Z")
  val KeyOrderUntil: java.time.Instant =
    java.time.Instant.parse("+10000-01-01T00:00:00Z")

  private val Units: Map[String, java.time.temporal.ChronoUnit] = {
    import java.time.temporal.ChronoUnit._
    Map("year" -> YEARS, "month" -> MONTHS, "day" -> DAYS, "hour" -> HOURS,
      "minute" -> MINUTES, "second" -> SECONDS, "millisecond" -> MILLIS)
  }

  /** Key lengths of the resolutions, year (yyyy) to millisecond. */
  private val KeyLengths = Set(4, 6, 8, 10, 12, 14, 17)

  private val FullKey =
    java.time.format.DateTimeFormatter.ofPattern("uuuuMMddHHmmssSSS")

  /** Timestamp bounds of a comparison against key `v` at `resolution`,
    * for timestamps in key order (see [[KeyOrderFrom]]): a timestamp
    * whose key is >= `v` is at or after the first, one whose key is
    * <= `v` is before the second. `v` is read as the start of the
    * instant it prefixes, and a day of slack on each side covers any
    * session time zone, so the bounds are conservative. None unless `v`
    * is a valid key of some resolution: the start of a partial key
    * ("20041") is not its smallest completion ("200410" >= "20041"). */
  def keyBounds(v: String, resolution: String)
      : Option[(java.time.Instant, java.time.Instant)] = {
    val template = "00000101000000000" // yyyy=0000 MM=01 dd=01 ...
    Option.when(KeyLengths.contains(v.length) &&
        v.forall(c => c >= '0' && c <= '9'))(v + template.drop(v.length))
      .flatMap(k => scala.util.Try(
        java.time.LocalDateTime.parse(k, FullKey)).toOption)
      .map { start =>
        val utc = java.time.ZoneOffset.UTC
        val day = java.time.Duration.ofDays(1)
        (start.toInstant(utc).minus(day),
          start.plus(1, Units(resolution)).toInstant(utc).plus(day))
      }
  }
}

object NumberTools {

  /** 2^63 as an exact decimal — the unsigned shift. */
  private val Shift = BigDecimal("9223372036854775808")

  /** Fixed output width: 2^64 has 20 decimal digits. */
  val Width = 20

  /** Long column → order-preserving fixed-width string
    * (NumberTools.LongToString contract). Decimal(38,0) arithmetic —
    * no overflow, no floating point. */
  def longToString(v: Column): Column =
    lpad((v.cast(DecimalType(38, 0)) + lit(Shift).cast(DecimalType(38, 0)))
      .cast(DecimalType(38, 0)).cast("string"), Width, "0")

  /** Inverse (NumberTools.StringToLong). */
  def stringToLong(s: Column): Column =
    (s.cast(DecimalType(38, 0)) - lit(Shift).cast(DecimalType(38, 0)))
      .cast("long")

  /** Driver-side twins. */
  def longToString(v: Long): String = {
    val u = BigInt(v) + BigInt("9223372036854775808")
    val s = u.toString
    "0" * (Width - s.length) + s
  }
  def stringToLong(s: String): Long =
    (BigInt(s) - BigInt("9223372036854775808")).toLong
}
