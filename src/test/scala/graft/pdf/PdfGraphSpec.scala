package graft.pdf

import graft.fixtures.GoldenDocs
import org.scalatest.funsuite.AnyFunSuite

/** Re-encode of the reference's synthetic end-to-end object-graph test
  * (PdfParserTest/PdfParserTest.cs:17-66): parse a minimal generated PDF and
  * assert the Catalog → Pages → Page → Contents object graph through the
  * token API, including lazy RefTok resolution through the xref table. */
class PdfGraphSpec extends AnyFunSuite {

  private def parsed(bytes: Array[Byte]): PdfTokeniser = {
    val tk = new PdfTokeniser(bytes)
    tk.verifyFileHeader()
    tk.findPages()
    tk
  }

  test("trailer Root resolves to /Type/Catalog -> /Pages -> /Kids -> Page -> Contents stream") {
    val tk = parsed(GoldenDocs.helloPdf())
    val root = tk.trailerEntries("Root").asInstanceOf[DictTok]
    assert(root.tpe.contains("Catalog"))
    val pages = root("Pages").asInstanceOf[DictTok]
    assert(pages.tpe.contains("Pages"))
    val kids = pages("Kids").asInstanceOf[ArrTok]
    assert(kids.length >= 1)
    val page = kids(0).asInstanceOf[DictTok]
    assert(page.tpe.contains("Page"))
    val contents = page("Contents") match {
      case d: DictTok => d
      case a: ArrTok  => a(0).asInstanceOf[DictTok]
      case other      => fail(s"unexpected /Contents token: ${other.render}")
    }
    assert(contents.isStream, "page contents must carry a stream payload")
    assert(contents.streamLength > 0)
    // the page graph was built, one page, with extracted content attached
    assert(tk.pageList.size == 1)
    assert(tk.pageList.head.contents.nonEmpty)
  }

  test("multi-page tree: Kids count and Count entry agree (reference readPages semantics)") {
    val tk = parsed(GoldenDocs.syntheticPdf(seed = 3, pages = 4))
    val root = tk.trailerEntries("Root").asInstanceOf[DictTok]
    val pages = root("Pages").asInstanceOf[DictTok]
    assert(pages.getArray("Kids").map(_.length).contains(4))
    assert(tk.pageList.size == 4)
    // every kid resolves lazily through the xref to a /Type/Page dict
    pages("Kids").asInstanceOf[ArrTok].iterator.foreach { kid =>
      assert(kid.asInstanceOf[DictTok].tpe.contains("Page"))
    }
  }
}
