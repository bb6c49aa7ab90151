package graft

import graft.fixtures.{GoldenGen, TestPdfs}
import graft.pdf.PdfExtract
import org.scalatest.funsuite.AnyFunSuite

/** Stream filters and predictors beyond None/FlateDecode and Predictor 12:
  * the reader refuses them like the reference (error rows), and the
  * fixture encoders that build those documents follow the spec. */
class ExtraFiltersSpec extends AnyFunSuite {

  /** Independent LZW encoder derived directly from the published width
    * schedule (ISO 32000-1 §7.4.4 / TIFF 6 early change): width is computed
    * per-emit from the absolute table size (9→10 once entry 511 exists,
    * →11 at 1023, →12 at 2047), with a (prefixCode, byte) trie instead of
    * the fixture encoder's byte-list dictionary. It shares NO width
    * bookkeeping with TestPdfs.lzwEncode, so an off-by-one in the fixture
    * encoder desyncs this test instead of being masked by
    * self-consistency. */
  private def specLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val earlyChange = 1
    // width used for the NEXT emitted code, as a pure function of nextCode
    def width(nextCode: Int): Int = {
      val n = nextCode + earlyChange
      if (n > 2048) 12 else if (n > 1024) 11 else if (n > 512) 10 else 9
    }
    var acc = 0L; var accBits = 0
    var nextCode = 258
    def emit(code: Int): Unit = {
      val w = width(nextCode)
      acc = (acc << w) | code; accBits += w
      while (accBits >= 8) { out.write(((acc >>> (accBits - 8)) & 0xff).toInt); accBits -= 8 }
    }
    val trie = new java.util.HashMap[Long, Integer]() // (prefixCode << 8 | byte) -> code
    emit(256)
    var prefix = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (prefix < 0) prefix = b
      else {
        val key = (prefix.toLong << 8) | b
        val hit = trie.get(key)
        if (hit != null) prefix = hit.intValue()
        else {
          emit(prefix)
          if (nextCode < 4096) { trie.put(key, nextCode); nextCode += 1 }
          prefix = b
        }
      }
      i += 1
    }
    if (prefix >= 0) emit(prefix)
    emit(257)
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  test("LZW width schedule matches the spec (third-party-schedule fixture, 6KB low-redundancy)") {
    // deterministic low-redundancy bytes: >2000 emitted codes, crossing the
    // 512, 1024 and 2048 width thresholds and the 4096 table freeze
    val rnd = new java.util.Random(0xC0FFEE)
    val data = new Array[Byte](6144)
    rnd.nextBytes(data)
    val spec = specLzwEncode(data)
    val prod = TestPdfs.lzwEncode(data)
    // the fixture encoder follows the exact spec schedule
    assert(prod.toSeq == spec.toSeq, "encoder width schedule deviates from the spec schedule")
    // also at a size that stays inside 9-bit codes but crosses emit #253-256
    // (the historical off-by-one point)
    val small = new Array[Byte](700)
    rnd.nextBytes(small)
    assert(TestPdfs.lzwEncode(small).toSeq == specLzwEncode(small).toSeq)
  }

  test("PNG per-row / TIFF / no-prediction xref streams error like the reference") {
    val text = "predictor coverage " * 40 // 760 chars -> multi-page variant-4 layout
    Seq(0L -> "png rows", 2L -> "tiff rows", 4L -> "predictor 1").foreach { case (docId, label) =>
      val pdf = TestPdfs.pdfPredictorForDoc(docId, text)
      // reference (Token.cs:652-668): only Predictor 12 is accepted, and
      // the xref stream is unreadable -> structured error row
      val ref = PdfExtract.extract(pdf, contentDelimiter = "")
      assert(ref.decodeFailures >= 1, label)
      assert(ref.error.exists(_.contains("Predictor parameter should be 12")), s"$label: ${ref.error}")
    }
  }

  private def pdfWithFilter(filterDict: String, payload: Array[Byte]): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val id = b.registerObject()
    b.raw(s"$id 0 obj\n<</Length ${payload.length}$filterDict>>stream\n")
    b.raw(payload)
    b.raw("\nendstream\nendobj\n")
    val catalog = GoldenGen.catalogFor(b, Seq(id))
    b.finish(s"/Root $catalog 0 R")
  }

  test("LZW / ASCIIHex / ASCII85 / RunLength streams error like the reference") {
    val ops = "BT (filtered text works) Tj ET".getBytes("ISO-8859-1")
    val cases = Seq(
      "/Filter/LZWDecode" -> TestPdfs.lzwEncode(ops),
      "/Filter/ASCIIHexDecode" -> TestPdfs.asciiHexEncode(ops),
      "/Filter/ASCII85Decode" -> TestPdfs.ascii85Encode(ops),
      "/Filter/RunLengthDecode" -> TestPdfs.runLengthEncode(ops),
      "/Filter[/ASCII85Decode/FlateDecode]" -> TestPdfs.ascii85Encode(GoldenGen.zlib(ops)))
    cases.foreach { case (dict, payload) =>
      val pdf = pdfWithFilter(dict, payload)
      // reference-faithful: unsupported filter -> error row
      val ref = PdfExtract.extract(pdf)
      assert(ref.decodeFailures >= 1, dict)
      assert(ref.error.exists(_.contains("not (yet) supported")), s"$dict: ${ref.error}")
    }
  }
}
