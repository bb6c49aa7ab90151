package graft

import graft.html.{Outline, Tables}
import graft.html.Tables.TableCell
import org.scalatest.funsuite.AnyFunSuite

/** Document-structure surfaces: heading outline + table-cell extraction. */
class HtmlStructureSpec extends AnyFunSuite {

  test("Outline: levels, document order, entity/inline-tag conventions") {
    val html =
      """<html><head><title>meta title</title></head><body>
        |<h1>One &amp; only</h1>
        |<p>body</p>
        |<h2>Se<b>cti</b>on 2</h2>
        |<h3>deep &#97;</h3>
        |<h2>back up</h2>
        |</body></html>""".stripMargin
    assert(Outline.headings(html) == Seq(
      (1, "One & only"), (2, "Section 2"), (3, "deep a"), (2, "back up")))
    assert(Outline.outlineString(html) ==
      "1:One & only|2:Section 2|3:deep a|2:back up")
  }

  test("Outline: chrome, title, comment and raw-text headings are not structure") {
    val html =
      """<body>
        |<nav><h1>site nav</h1></nav>
        |<aside><h2>related</h2></aside>
        |<!-- <h2>commented</h2> -->
        |<script>var s = '<h2>forged</h2>';</script>
        |<h4>real</h4>
        |<footer><h3>footer head</h3></footer>
        |</body>""".stripMargin
    assert(Outline.headings(html) == Seq((4, "real")))
  }

  test("Outline: empty headings vanish; heading left open at a block boundary still surfaces") {
    // <p> is a block boundary — it flushes the (unclosed) h2's text with its
    // heading level, the way browsers render the dangling-heading markup
    assert(Outline.headings("<h2></h2><h3>  </h3><h2>open head<p>para text") ==
      Seq((2, "open head")))
  }

  test("Tables: header cells, empty structural cell, implied closes, caption drop") {
    val html =
      """<table>
        | <caption>cap text</caption>
        | <thead><tr><th>h1</th><th>h2</th></tr></thead>
        | <tbody>
        |  <tr><td>a</td><td></td></tr>
        |  <tr><td>u<td>v
        | </tr></tbody>
        |</table>""".stripMargin
    assert(Tables.cells(html) == Seq(
      TableCell(0, 0, 0, header = true, "h1"),
      TableCell(0, 0, 1, header = true, "h2"),
      TableCell(0, 1, 0, header = false, "a"),
      TableCell(0, 1, 1, header = false, ""),
      TableCell(0, 2, 0, header = false, "u"),
      TableCell(0, 2, 1, header = false, "v")))
  }

  test("Tables: nested table pauses the containing cell; both keep their text") {
    val cells = Tables.cells(
      "<table><tr><td>pre <table><tr><td>inner</td></tr></table> post</td><td>x</td></tr></table>")
    assert(cells.sortBy(c => (c.tableIdx, c.rowIdx, c.colIdx)) == Seq(
      TableCell(0, 0, 0, header = false, "pre post"),
      TableCell(0, 0, 1, header = false, "x"),
      TableCell(1, 0, 0, header = false, "inner")))
  }

  test("Tables: tr-less implied row, EOF-truncated table, decoys produce nothing") {
    assert(Tables.cells("<table><td>loose</td></table>") ==
      Seq(TableCell(0, 0, 0, header = false, "loose")))
    // truncated mid-cell: EOF closes the cell and the table
    assert(Tables.cells("<table><tr><td>cut off by trunca") ==
      Seq(TableCell(0, 0, 0, header = false, "cut off by trunca")))
    assert(Tables.cells(
      "<script>'<table><tr><td>f</td></tr></table>'</script><!-- <table><tr><td>c</td></tr></table> -->").isEmpty)
    // a stray td outside any table is ignored, not a crash
    assert(Tables.cells("<td>stray</td><tr></tr>").isEmpty)
    // HTML5 ignores the self-closing slash on non-void elements: <td/>
    // opens a cell like <td>, so the following text belongs to it
    assert(Tables.cells("<table><tr><td/>still the cell</tr></table>") ==
      Seq(TableCell(0, 0, 0, header = false, "still the cell")))
  }

  test("StructuredData.jsonLd: type matching, decoys, raw bodies, browser close rule") {
    import graft.html.StructuredData
    val html =
      """<head>
        |<script type="text/javascript">var x = {"not":"ld"};</script>
        |<script>var y = 1;</script>
        |<!-- <script type="application/ld+json">{"commented":1}</script> -->
        |<script type="APPLICATION/LD+JSON; charset=utf-8">{"a":1}</script>
        |<script type=' application/ld+json '>{"b":"&amp; stays raw"}</script>
        |<script type=application/ld+json>[{"c":3}]</script>
        |<script type="application/ld+jsonx">{"d":4}</script>
        |<script type="application/ld+json">   </script>
        |</head>""".stripMargin
    assert(StructuredData.jsonLd(html) == Seq(
      """{"a":1}""",
      """{"b":"&amp; stays raw"}""", // script bodies are raw text: no entity decoding
      """[{"c":3}]"""))
    // a </script inside a JSON string ends the block — browser behavior
    assert(StructuredData.jsonLd(
      """<script type="application/ld+json">{"x":"</script>"}</script>""") ==
      Seq("""{"x":""""))
    // unterminated block runs to EOF
    assert(StructuredData.jsonLd(
      """<script type="application/ld+json">{"y":1}""") == Seq("""{"y":1}"""))
  }

  test("Tables: cell text uses innerText conventions (entities, inline tags, br, attr quotes)") {
    val cells = Tables.cells(
      """<table><tr><td>one&amp;<b>two</b><br>three</td><td><a href="a>b">link text</a></td></tr></table>""")
    assert(cells == Seq(
      TableCell(0, 0, 0, header = false, "one&two three"),
      TableCell(0, 0, 1, header = false, "link text")))
  }
}
