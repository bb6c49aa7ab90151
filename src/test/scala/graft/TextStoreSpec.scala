package graft

import graft.pdf.TextStore
import org.scalatest.funsuite.AnyFunSuite

/** Reference-semantics tests for the TextStore line rules
  * (reference: TextStoreLib/TextStore.cs:17-144, TextStoreLibTest/TextStoreTest.cs). */
class TextStoreSpec extends AnyFunSuite {

  test("CR, LF and CRLF each terminate a line; CRLF counts once") {
    val ts = new TextStore()
    val bytes = "line1\r\nline2\rline3\nline4".getBytes("ISO-8859-1")
    ts.append(bytes, 100)
    // CRLF: the line's byte offset is bumped past the LF (TextStore.cs:108-113),
    // so lines 2..4 start at source bytes 107, 113 and 119. Line 1's offset
    // stays 0 — the reference's Append never writes index 0 (only Reset
    // does, to 0; TextStore.cs:68-74) — kept verbatim.
    assert(ts.lineOfByteOffset(0) == 1)
    assert(ts.lineOfByteOffset(106) == 1) // the CRLF pair belongs to line 1
    assert(ts.lineOfByteOffset(107) == 2)
    assert(ts.lineOfByteOffset(112) == 2)
    assert(ts.lineOfByteOffset(113) == 3)
    assert(ts.lineOfByteOffset(119) == 4)
    assert(ts.lineOfByteOffset(123) == 4) // no terminator after the last line
  }

  test("lineOfByteOffset maps source offsets to 1-based lines") {
    val ts = new TextStore()
    ts.append("aa\nbb\ncc".getBytes("ISO-8859-1"), 0)
    assert(ts.lineOfByteOffset(0) == 1)
    assert(ts.lineOfByteOffset(2) == 1) // the terminator belongs to its line
    assert(ts.lineOfByteOffset(3) == 2)
    assert(ts.lineOfByteOffset(6) == 3)
    assert(ts.lineOfByteOffset(7) == 3)
  }

  test("all 256 display bytes (upstream TextStoreTest corpus) + the lone-LF discrepancy") {
    // re-encoding of TextStoreLibTest/TextStoreTest.cs:27-35: bytes 0..255
    // contain exactly \n (0x0A) and \r (0x0D) as terminators -> 3 lines
    val ts = new TextStore(10)
    ts.append(Array.tabulate[Byte](256)(_.toByte), 0)
    assert(ts.lineOfByteOffset(10) == 1)
    assert(ts.lineOfByteOffset(11) == 2)
    assert(ts.lineOfByteOffset(14) == 3)
    assert(ts.lineOfByteOffset(255) == 3)
    // upstream's test then asserts a lone LF append LEAVES LinesCount at 3
    // (TextStoreTest.cs:34-35) — but TextStore.cs:104-125 unconditionally
    // starts a new line on LF, making it 4. The test contradicts the code
    // it tests; we port the CODE (which is what the viewer actually runs)
    // and document the discrepancy here.
    ts.append(Array[Byte](0x0a), 256)
    assert(ts.lineOfByteOffset(257) == 4)
  }
}
