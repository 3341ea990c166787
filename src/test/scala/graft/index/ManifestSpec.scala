package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** A manifest that cannot be read whole is refused at open with an error
  * that says what is wrong, never a bare NumberFormatException and never
  * a silently shorter store. */
class ManifestSpec extends AnyFunSuite {

  private val m = Manifest(7L, Seq(
    SegmentMeta("seg_b00000", 0, 10, 55, "batch=0/2 docids=[0,10) src=ingest", 9),
    SegmentMeta("seg_b00001", 1, 12, 60, "batch=1/2 docids=[10,22) src=ingest", 21)),
    deletes = Seq("del_v00005", "del_v00006"))
  private val json = SegmentStore.toJson(m)

  private def refused(bad: String): String =
    intercept[IllegalArgumentException](SegmentStore.fromJson(bad)).getMessage

  test("a 20-digit or mistyped number field is named") {
    assert(SegmentStore.fromJson(json) == m)
    val huge = "99999999999999999999"
    Seq(
      json.replace("\"ord\":1,", s"\"ord\":$huge,") -> "ord of segment seg_b00001",
      json.replace("\"numDocs\":10,", "\"numDocs\":\"10\",") ->
        "numDocs of segment seg_b00000",
      json.replace("\"sumLen\":60,", "\"sumLen\":6.5e1,") ->
        "sumLen of segment seg_b00001",
      json.replace("\"maxDocid\":9,", s"\"maxDocid\":-$huge,") ->
        "maxDocid of segment seg_b00000",
      json.replace("\"version\":7,", s"\"version\":$huge,") -> "version",
      json.replace("\"format\":2,", s"\"format\":$huge,") -> "format"
    ).foreach { case (bad, field) =>
      val msg = refused(bad)
      assert(msg.contains(s"field $field is not a 64-bit integer"), msg)
    }
  }

  test("a truncated manifest is refused, at every length") {
    (0 until json.length).foreach { n =>
      val msg = refused(json.take(n))
      assert(msg.startsWith("bad manifest:"), s"length $n: $msg")
    }
    // a manifest of another codec format names the format
    assert(refused(json.replace("\"format\":2,", "\"format\":1,"))
      .contains("codec format 1"))
  }
}
