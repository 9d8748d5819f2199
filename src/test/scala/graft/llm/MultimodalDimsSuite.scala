package graft.llm

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** C41 header parsing: the JPEG SOF0 must be found by hopping marker
  * segments via their length fields. Real files carry FFC0 byte pairs
  * inside APPn payloads (EXIF, thumbnails) — a locate()-style scan bites
  * on them and reads garbage dimensions from the middle of data.
  */
class MultimodalDimsSuite extends AnyFunSuite with SharedSpark {

  private def parse(id: Long, headerHex: String, tail: String = ""): Row = {
    import spark.implicits._
    val df = Seq((id, headerHex)).toDF("media_id", "hx")
      .select($"media_id",
        concat(unhex($"hx"), lit(tail).cast("binary")).as("payload"))
    Multimodal.parseImageDims(df).head()
  }

  test("jpeg with FFC0 bytes inside the APP0 payload parses the real SOF0") {
    // SOI | APP0 len=8 carrying the bytes FF C0 12 34 AB CD as DATA |
    // real SOF0 len=17, h=0x40, w=0x30, 3 components | 2 payload bytes.
    // A locate("FFC0") scan would anchor on the APP0 payload (hex char
    // 13) and decode garbage; the segment walk hops over it.
    val r = parse(1L,
      "FFD8" + "FFE00008" + "FFC01234ABCD" +
        "FFC00011" + "08" + "0040" + "0030" + "03" + "012200" + "021101" + "031101",
      "xy")
    assert(r.getString(1) == "jpeg")
    assert(r.getLong(2) == 0x30) // width
    assert(r.getLong(3) == 0x40) // height
    assert(r.getLong(4) == 8)    // bit depth
    assert(r.getLong(5) == 3)    // components
    assert(r.getLong(6) == 2)    // data bytes after the SOF segment
  }

  test("two leading segments (APP0 + COM) still find SOF0 and data size") {
    val r = parse(2L,
      "FFD8" + "FFE00004" + "BEEF" + "FFFE0004" + "CAFE" +
        "FFC00011" + "08" + "0100" + "0200" + "03" + "012200" + "021101" + "031101",
      "abc")
    assert(r.getString(1) == "jpeg")
    assert(r.getLong(2) == 0x200)
    assert(r.getLong(3) == 0x100)
    assert(r.getLong(6) == 3)
  }

  test("jpeg whose scan starts before any SOF0 is rejected, not misparsed") {
    // SOS right after SOI: dimensions are not derivable from the head
    val r = parse(3L, "FFD8" + "FFDA0004" + "FFC0")
    assert(r.getString(1) == "unknown")
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("truncated segment chain leaves the head -> unknown, no garbage") {
    // APP0 length jumps past the 48-byte sniffed head
    val r = parse(4L, "FFD8" + "FFE0FFFF" + "00")
    assert(r.getString(1) == "unknown")
  }

  test("png header parses IHDR fields") {
    val r = parse(6L,
      "89504E470D0A1A0A" + "0000000D" + "49484452" +
        "00000123" + "00000045" + "08" + "06" + "000000" + "DEADBEEF",
      "zz")
    assert(r.getString(1) == "png")
    assert(r.getLong(2) == 0x123)
    assert(r.getLong(3) == 0x45)
    assert(r.getLong(4) == 8)
    assert(r.getLong(5) == 4)   // color type 6 = RGBA
    assert(r.getLong(6) == 2)   // the two tail bytes
  }
}
