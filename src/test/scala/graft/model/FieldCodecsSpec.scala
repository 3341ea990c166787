package graft.model

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkFixture

/** Sortable field codecs (DateTools.cs / NumberTools.cs analogs): the
  * whole value of these encodings is the order contract — lexicographic
  * string order must equal the underlying time/number order — plus
  * resolution-prefix nesting and exact round-trips. */
class FieldCodecsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("date strings: resolution prefixes nest and order matches time") {
    import spark.implicits._
    val ts = Seq("2024-12-31 23:59:59.987", "2025-01-01 00:00:00.000",
      "2025-01-01 00:00:00.001", "2025-03-07 04:05:06.123",
      "2025-11-30 23:00:01.500")
    val df = ts.toDF("s").select(to_timestamp(col("s")).as("ts"))
    val res = DateTools.Patterns.keys.toSeq
    val rows = df.select(col("ts") +:
      res.map(r => DateTools.dateToString(col("ts"), r).as(r)): _*)
      .orderBy("ts").collect()
    // coarser resolution is a strict prefix of the finer one
    val order = Seq("year", "month", "day", "hour", "minute", "second",
      "millisecond")
    rows.foreach { row =>
      order.sliding(2).foreach { case Seq(c, f) =>
        val coarse = row.getString(row.fieldIndex(c))
        val fine = row.getString(row.fieldIndex(f))
        assert(fine.startsWith(coarse), s"$f does not extend $c")
      }
    }
    // millisecond strings sort exactly like the instants
    val ms = rows.map(_.getString(rows.head.fieldIndex("millisecond")))
    assert(ms.toSeq == ms.sorted.toSeq)
    assert(ms.distinct.length == ms.length)
  }

  test("DateTools.round truncates to the interval start") {
    import spark.implicits._
    val df = Seq("2025-03-07 04:35:26.123").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val got = df.select(
      DateTools.round(col("ts"), "day").cast("string").as("d"),
      DateTools.round(col("ts"), "hour").cast("string").as("h"),
      DateTools.round(col("ts"), "minute").cast("string").as("m"))
      .collect().head
    assert(got.getString(0) == "2025-03-07 00:00:00")
    assert(got.getString(1) == "2025-03-07 04:00:00")
    assert(got.getString(2) == "2025-03-07 04:35:00")
  }

  test("DateTools.keyBounds hold every timestamp a whole key admits") {
    val full = java.time.format.DateTimeFormatter
      .ofPattern("uuuuMMddHHmmssSSS").withZone(java.time.ZoneOffset.UTC)
    val lens = Map("year" -> 4, "month" -> 6, "day" -> 8, "hour" -> 10)
    val rnd = new scala.util.Random(7)
    val base = java.time.Instant.parse("2004-01-01T00:00:00Z")
    def at() = base.plusSeconds(rnd.nextInt(3 * 365 * 86400))
    (0 until 2000).foreach { _ =>
      val (res, n) = lens.toSeq(rnd.nextInt(lens.size))
      val t = at()
      val v = full.format(at()).take(Seq(4, 6, 8, 10)(rnd.nextInt(4)))
      val key = full.format(t).take(n)
      val Some((from, until)) = DateTools.keyBounds(v, res): @unchecked
      if (key >= v) assert(!t.isBefore(from), s"$key >= $v at $res")
      if (key <= v) assert(t.isBefore(until), s"$key <= $v at $res")
    }
    // a partial key is not padded: "20041" would start at 2004-11-01,
    // but the month key "200410" (October) is >= "20041"
    assert(DateTools.keyBounds("20041", "month").isEmpty)
    assert(DateTools.keyBounds("2004101", "day").isEmpty)
    assert(DateTools.keyBounds("200413", "month").isEmpty)
  }

  test("long encoding: order, round-trip, column == driver twin, extremes") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vs = (Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      Long.MaxValue - 1, Long.MaxValue) ++
      Seq.fill(200)(rnd.nextLong())).distinct
    val rows = vs.toDF("v").select(col("v"),
      NumberTools.longToString(col("v")).as("enc"),
      NumberTools.stringToLong(NumberTools.longToString(col("v"))).as("rt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (v, enc, rt) =>
      assert(enc.length == NumberTools.Width, s"width of $v")
      assert(enc == NumberTools.longToString(v), s"twin of $v")
      assert(rt == v, s"round-trip of $v")
      assert(NumberTools.stringToLong(enc) == v)
    }
    val byEnc = rows.sortBy(_._2).map(_._1)
    assert(byEnc.toSeq == vs.sorted.toSeq)
  }
}
