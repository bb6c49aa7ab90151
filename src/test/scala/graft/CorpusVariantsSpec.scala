package graft

import graft.fixtures.TestPdfs
import graft.pdf.PdfExtract
import graft.pipeline.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM (no Spark) golden tests for the 9 PDF corpus variants: every
  * variant × several text shapes × both content delimiters must extract to
  * exactly [[Corpus.pdfExpectedText]] — the Scala twin of the driver gate's
  * DuckDB oracle. This is the local proof that the oracle formulas and the
  * builders agree before the sf0.01 gate runs them at scale. */
class CorpusVariantsSpec extends AnyFunSuite {

  private val texts = Seq(
    "x",                                                               // 1 chunk
    "It's quoted: 'single' and `backtick` plus (parens) \\ and ) stray end",
    ("the quick brown fox jumps over seventeen lazy dogs daily " * 3).trim,   // 3 chunks, 1 page
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 10).trim, // 2 pages
    ("All Work And No Play 0123456789 MAKES a Dull Page; " * 30).trim) // 3 pages, mixed case

  private def docIdFor(variant: Int): Long = variant.toLong * 2 // (id/2)%9 = variant

  for (variant <- 0 until Corpus.NumPdfVariants; (t, ti) <- texts.zipWithIndex) {
    test(s"variant $variant text#$ti round-trips byte-identically (delim '' and '|')") {
      val id = docIdFor(variant)
      assert(Corpus.pdfVariant(id) == variant)
      val payload = Corpus.pdfForDoc(id, t)
      for (delim <- Seq("", "|")) {
        val r = PdfExtract.extract(payload, contentDelimiter = delim, captureFragments = false)
        assert(r.decodeFailures == 0, s"v$variant failures: ${r.error}")
        assert(r.pages == Corpus.pdfPageCount(t), s"v$variant pages=${r.pages}")
        val want = Corpus.pdfExpectedText(id, t, delim)
        assert(r.text == want,
          s"v$variant delim='$delim': got <${r.text.take(120)}> want <${want.take(120)}>")
      }
    }
  }

  test("variant 1 nested page tree: multi-group depth-first order over a 6-page doc") {
    val t = ("deep tree corpus page filler words repeating onward " * 60).trim // ~6 pages
    val id = docIdFor(1)
    assert(Corpus.pdfPageCount(t) >= 5, s"want >=5 pages, got ${Corpus.pdfPageCount(t)}")
    val r = PdfExtract.extract(Corpus.pdfForDoc(id, t), contentDelimiter = "", captureFragments = false)
    assert(r.decodeFailures == 0, r.error)
    assert(r.pages == Corpus.pdfPageCount(t))
    assert(r.text == Corpus.pdfExpectedText(id, t))
  }

  test("variant 2 uses the /Contents ARRAY form: two spans per full page, ligature packed") {
    val t = texts(3) // 2 pages: 8 + remainder chunks
    val chunks = (t.length + 63) / 64
    val pages = (chunks + 7) / 8
    val lastR = chunks - 8 * (pages - 1)
    val r = PdfExtract.extract(Corpus.pdfEncodedFontFromText(t),
      contentDelimiter = "", captureFragments = false)
    val wantSpans = 2 * (pages - 1) + (if (lastR > 4) 2 else 1)
    assert(r.spans.length == wantSpans, s"spans=${r.spans.length} want=$wantSpans")
    assert(r.pages == pages)
    // every LigatureMarker decodes through the <01> → <00660066> bfchar,
    // LigatureMarker3 through <02> → <006600660069>, and LigatureMarker4
    // through <03> → <00660066006C>, which the engine packs to the single
    // ﬀ / ﬃ / ﬄ codepoints (1 char : 1 char); ﬃ and ﬄ take the 12-digit
    // lookahead branch the ﬀ path never reaches, ﬄ its uppercase-'C' arm
    val want = t.replace(Corpus.LigatureMarker, 'ﬀ')
      .replace(Corpus.LigatureMarker3, 'ﬃ')
      .replace(Corpus.LigatureMarker4, 'ﬄ')
    assert(t.contains(Corpus.LigatureMarker), "test text must exercise the ligature path")
    assert(t.contains(Corpus.LigatureMarker3), "test text must exercise the 3-code ligature path")
    assert(t.contains(Corpus.LigatureMarker4), "test text must exercise the ffl arm")
    assert(r.text == want)
    assert(r.text.contains('ﬀ') && !r.text.contains(Corpus.LigatureMarker))
    assert(r.text.contains('ﬃ') && !r.text.contains(Corpus.LigatureMarker3))
    assert(r.text.contains('ﬄ') && !r.text.contains(Corpus.LigatureMarker4))
    assert(r.text.length == t.length)
    // spans tile the text in array order
    assert(r.spans.map(s => r.text.substring(s.start, s.end)).mkString == want)
  }

  test("variant 8 linearized: no EOF mark, front xref table, fallback parse round-trips") {
    val t = texts(3)
    val payload = Corpus.pdfLinearizedFromText(t)
    val hay = new String(payload.map(b => (b & 0xff).toChar))
    assert(!hay.contains("%%EOF"), "variant 8 must not carry the EOF mark (fallback trigger)")
    assert(!hay.contains("startxref"))
    assert(hay.contains("/Linearized"))
    // the front table precedes every content object
    assert(hay.indexOf("xref") < hay.indexOf("2 0 obj"))
    val r = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
    assert(r.decodeFailures == 0, r.error)
    assert(r.text == t)
    assert(r.pages == Corpus.pdfPageCount(t))
  }

  test("AES corpus: every AESV2 dialect is the reference error row") {
    // dialect routing: (docId/2)%3 — 0: top-level /Length 128 + CF bytes,
    // 1: /EncryptMetadata false (different file key), 2: CF Length in bits
    for (dialect <- 0 until 3; t <- Seq(texts(0), texts(3))) {
      val docId = dialect.toLong * 2
      val payload = TestPdfs.pdfAesForDoc(docId, t)
      val hay = new String(payload.map(b => (b & 0xff).toChar))
      dialect match {
        case 0 => assert(hay.contains("/Length 128/CF") && !hay.contains("EncryptMetadata"))
        case 1 => assert(hay.contains("/EncryptMetadata false") && !hay.contains("/Length 128"))
        case _ => assert(hay.contains("/Length 128>>") && !hay.contains("EncryptMetadata"))
      }
      // the reference supports only the RC4 standard handler and throws on
      // V 4 (Tokeniser.cs:635-645)
      val default = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
      assert(default.decodeFailures > 0 && default.error.isDefined)
    }
  }

  test("hybrid /XRefStm corpus: every text shape is the reference error row") {
    for ((t, ti) <- texts.zipWithIndex; docId <- Seq(0L, 2L)) { // both deflate arms
      val payload = TestPdfs.pdfHybridForDoc(docId, t)
      // reference parity: /XRefStm is trailer bookkeeping, the hidden
      // catalog stays a free entry -> structured error row, no text
      val default = PdfExtract.extract(payload, contentDelimiter = "",
        captureFragments = false)
      assert(default.error.isDefined && default.text == "", s"text#$ti docId=$docId default")
    }
  }

  test("owner-password-only doc: structured error row, no text, zero pages") {
    val t = texts(2)
    val r = PdfExtract.extract(Corpus.pdfOwnerOnlyFromText(t),
      contentDelimiter = "", captureFragments = false)
    assert(r.error.contains(
      "UnsupportedOperationException: owner-password authentication is not implemented"),
      s"error=${r.error}")
    assert(r.decodeFailures == 1 && r.text == "" && r.pages == 0)
  }

  test("owner password is never tried: R2, R3 and AESV2-R4 owner-only docs error") {
    val t = texts(2)
    for ((payload, label) <- Seq(
        (Corpus.pdfOwnerOnlyFromText(t), "R2"),
        (TestPdfs.pdfOwnerOnlyR3FromText(t), "R3"),
        (TestPdfs.pdfAesOwnerOnlyFromText(4L, t), "AESV2-R4"))) {
      // even the right owner password reaches the reference's owner throw
      // for R2/R3; the AESV2 doc never gets that far — V4 is rejected at the
      // Standard-encryption check (the reference's V>2 surface)
      val deflt = PdfExtract.extract(payload, password = TestPdfs.OwnerPassword,
        contentDelimiter = "", captureFragments = false)
      val expected = if (label == "AESV2-R4") "Standard encryption"
        else "owner-password authentication is not implemented"
      assert(deflt.error.exists(_.contains(expected)),
        s"$label default-mode error=${deflt.error}")
    }
  }

  test("V5 crypto primitives: R5 hash is a single SHA-256; R6 hardened hash differs and is deterministic") {
    val pwd = TestPdfs.passwordBytesV5("graftuser")
    val salt = Array.tabulate[Byte](8)(i => (i * 3 + 1).toByte)
    // R5 = SHA-256(pwd ∥ salt ∥ udata) verbatim — checked against JCE
    // directly, independent of hash2B's own code path
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(pwd); md.update(salt)
    val r5 = TestPdfs.hash2B(pwd, salt, Array.emptyByteArray, 5)
    assert(r5.sameElements(md.digest()))
    // R6 actually runs the Algorithm-2.B loop: 32 bytes, differs from R5,
    // deterministic, and sensitive to the udata argument (the /O-side hash)
    val r6 = TestPdfs.hash2B(pwd, salt, Array.emptyByteArray, 6)
    assert(r6.length == 32 && !r6.sameElements(r5))
    assert(r6.sameElements(TestPdfs.hash2B(pwd, salt, Array.emptyByteArray, 6)))
    assert(!r6.sameElements(TestPdfs.hash2B(pwd, salt, Array.fill[Byte](48)(7), 6)))
  }

  test("encrypted nested string: keyed by the containing object") {
    // a string nested in the page dict, encrypted with the page object's
    // key: the reader keeps the reference crash surface
    import graft.fixtures.GoldenGen
    import graft.pdf.{ObjectId, PdfCrypto}
    import java.nio.charset.StandardCharsets.ISO_8859_1
    // V1/R2 empty-password chain, like variant 3
    val docIdHex = "0123456789abcdef0123456789abcdef"
    val docId = docIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val ownerHash = PdfCrypto.md5(PdfCrypto.pad(""))
    val o = PdfCrypto.rc4(java.util.Arrays.copyOf(ownerHash, 5), PdfCrypto.pad(""))
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(""), o, -44, docId, 5)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(""), docId, key)
    val b = new GoldenGen.PdfBuilder()
    val cid = b.addStream("", "BT (body) Tj ET".getBytes(ISO_8859_1), encryptKey = key)
    val note = "page-note"
    def cipher(id: Int): Array[Byte] = {
      val d = note.getBytes(ISO_8859_1)
      PdfCrypto.rc4InPlace(PdfCrypto.objectKey(key, ObjectId(id, 0)), d, 0, d.length)
      d
    }
    // catalogFor writes the page as the next object; shift ids until the
    // ciphertext is escape-free (variant 3's trick: the reference decrypts
    // the RAW literal form, so no ()\ allowed)
    var pageId = b.nextObjectNumber
    var tries = 0
    while (cipher(pageId).exists(x => x == 0x28 || x == 0x29 || x == 0x5c)) {
      b.addObject("<</Type/GraftPad>>")
      pageId = b.nextObjectNumber
      tries += 1
      assert(tries < 64)
    }
    val raw = new String(cipher(pageId).map(x => (x & 0xff).toChar))
    // a literal string NESTED in the page dict: the page object's id is the
    // containing-object key; the token itself carries no id
    val catalog = GoldenGen.catalogFor(b, Seq(cid), pageExtra = _ => s"/GraftNote ($raw)")
    val encId = b.addObject(
      s"<</Filter/Standard/V 1/R 2/P -44/O <${o.map(x => f"${x & 0xff}%02x").mkString}>" +
        s"/U <${u.map(x => f"${x & 0xff}%02x").mkString}>>>")
    val pdf = b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$docIdHex><$docIdHex>]")
    // the reference's nested-string decrypt crash surface (Token.cs:269) is
    // kept — the document becomes an error row
    val dft = PdfExtract.extract(pdf, contentDelimiter = "", captureFragments = false)
    assert(dft.text == "" && dft.error.exists(_.contains("NoSuchElementException")), dft.error)
  }

  test("malformed additive structures never cost page text") {
    import graft.fixtures.GoldenGen
    import java.nio.charset.StandardCharsets.ISO_8859_1
    // dangling /Outlines, /AcroForm and /Names refs sit in catalog keys the
    // extraction never reads (nor does the reference), so the page text
    // extracts exactly as the reference would
    val b1 = new GoldenGen.PdfBuilder()
    val c1 = b1.addStream("", "BT (kept text) Tj ET".getBytes(ISO_8859_1))
    val cat1 = GoldenGen.catalogFor(b1, Seq(c1),
      catalogExtra = "/Outlines 99 0 R/AcroForm 98 0 R/Names<</EmbeddedFiles 97 0 R>>")
    val broken = PdfExtract.extract(b1.finish(s"/Root $cat1 0 R"),
      contentDelimiter = "", captureFragments = false)
    assert(broken.text == "kept text", broken.error)
  }

  test("Type0/Identity-H corpus keeps the reference surface: no full-CMap decode") {
    // the text a full-CMap decode would give: 'e' -> "ff" (multi-char
    // bfchar), 't' -> U+1F600 (surrogate-pair bfchar), the rest unchanged
    def fullCmapText(t: String): String = t.flatMap {
      case TestPdfs.Type0MarkerFF    => "ff"
      case TestPdfs.Type0MarkerEmoji => "😀"
      case c                       => c.toString
    }
    for ((t, i) <- texts.zipWithIndex) {
      val docId = i.toLong * 2
      val payload = TestPdfs.pdfType0ForDoc(docId, t)
      val hay = new String(payload.map(b => (b & 0xff).toChar))
      assert(hay.contains("/Subtype/Type0") && hay.contains("/Encoding/Identity-H")
        && hay.contains("/Subtype/CIDFontType2"))
      // the reference parses the CMap but its readers cap CIDs at 2 hex
      // digits and its decode never consults entries above 0xFF — the
      // document "extracts", but not to the real text (and it must be an
      // error-free-or-error-row surface, never a throw)
      val default = PdfExtract.extract(payload, contentDelimiter = "",
        captureFragments = false)
      assert(default.text != fullCmapText(t) || t.isEmpty, s"text $i")
    }
  }

  test("AES-256 corpus: R6, R5 and EncryptMetadata-false dialects are error rows") {
    // dialect routing: (docId/2)%3 — 0: R6 (hardened Algorithm-2.B hash),
    // 1: deprecated R5 (single SHA-256), 2: R6 + /EncryptMetadata false
    for (dialect <- 0 until 3; t <- Seq(texts(0), texts(3))) {
      val docId = dialect.toLong * 2
      val payload = TestPdfs.pdfAes256ForDoc(docId, t)
      val hay = new String(payload.map(b => (b & 0xff).toChar))
      assert(hay.contains("/V 5") && hay.contains("/CFM/AESV3") && hay.contains("/Perms <"))
      dialect match {
        case 0 => assert(hay.contains("/R 6") && !hay.contains("EncryptMetadata"))
        case 1 => assert(hay.contains("/R 5"))
        case _ => assert(hay.contains("/R 6") && hay.contains("/EncryptMetadata false"))
      }
      // V5 is rejected at the reference's Standard-encryption check
      val default = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
      assert(default.decodeFailures > 0 &&
        default.error.exists(_.contains("Standard encryption")), s"dialect $dialect: ${default.error}")
    }
  }

  test("AES-256 owner-only doc: the owner password still ends in the V5 error row") {
    val t = texts(2)
    val payload = TestPdfs.pdfAes256OwnerOnlyFromText(6L, t)
    val deflt = PdfExtract.extract(payload, password = TestPdfs.OwnerPassword,
      contentDelimiter = "", captureFragments = false)
    assert(deflt.error.exists(_.contains("Standard encryption")),
      s"default-mode error=${deflt.error}")
  }

  test("refused-filter corpus: all 4 encodings are error rows, like the reference") {
    val t = texts(3)
    for (route <- 0 until 4) {
      val id = route.toLong * 2
      val payload = TestPdfs.pdfExtendedForDoc(id, t)
      // the reference decodes None/FlateDecode only
      val default = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
      assert(default.decodeFailures > 0, s"route $route should fail")
    }
  }

  test("extract is pure: the same encrypted payload extracts identically twice") {
    // regression: RC4 stream decryption used to mutate the caller's array in
    // place, so a second extract double-decrypted into garbage
    val t = texts(3)
    val payload = Corpus.pdfEncryptedFromText(t)
    val before = payload.clone()
    val r1 = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
    val r2 = PdfExtract.extract(payload, contentDelimiter = "", captureFragments = false)
    assert(r1.text == t && r2.text == t)
    assert(java.util.Arrays.equals(payload, before), "extract mutated its input")
  }

  test("html h1 variant: numeric character references decode mid-word to the same text") {
    import graft.html.Boilerplate
    val t = "An AEIOU vowel heavy sentence indeed with Upper And lower cases"
    val h0 = Boilerplate.extract(Boilerplate.decode(Corpus.htmlFromText(t, 1L))).text  // 1/2=0 -> h0
    val h1 = Boilerplate.extract(Boilerplate.decode(Corpus.htmlFromText(t, 3L))).text  // 3/2=1 -> h1
    assert(h0 == t)
    assert(h1 == t)
    // and the payloads really differ (h1 carries &#…; references)
    assert(new String(Corpus.htmlFromText(t, 3L), "UTF-8").contains("&#"))
  }

  test("property: random printable-ASCII texts round-trip through every variant") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val textGen = for {
      n <- Gen.chooseNum(1, 1200)
      cs <- Gen.listOfN(n, Gen.chooseNum(0x20, 0x7e).map(_.toChar))
    } yield cs.mkString
    val prop = Prop.forAll(textGen, Gen.chooseNum(0, Corpus.NumPdfVariants - 1)) {
      (t0: String, v: Int) =>
        // builders assume non-empty shown text; trim can empty a
        // whitespace-only draw — normalize to one visible char then
        val t = if (t0.trim.isEmpty) "x" else t0
        val id = v.toLong * 2
        val r = PdfExtract.extract(Corpus.pdfForDoc(id, t),
          contentDelimiter = "", captureFragments = false)
        val ok = r.decodeFailures == 0 && r.text == Corpus.pdfExpectedText(id, t)
        if (!ok) println(s"FAIL v=$v len=${t.length} err=${r.error} got=<${r.text.take(80)}>")
        ok
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(150)
      .withInitialSeed(org.scalacheck.rng.Seed(1337L))
    val result = SCTest.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  test("fuzz: corrupted variant payloads never throw (executor safety per variant)") {
    // every file-layout variant (encrypted, ObjStm, predictor, /Prev chain,
    // nested trees, /Contents arrays) must degrade to a result/error row
    // under random corruption — one bad doc must never kill an executor
    val rnd = new java.util.Random(20260817L)
    val t = ("fuzz base corpus words repeated for a couple of pages worth " * 12).trim
    val bases = (0 until Corpus.NumPdfVariants).map(v => Corpus.pdfForDoc(v.toLong * 2, t)) :+
      TestPdfs.pdfType0ForDoc(0L, t)
    var errorRows = 0
    (1 to 320).foreach { i =>
      val mutated = bases(i % bases.length).clone()
      (1 to 1 + rnd.nextInt(8)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      val r = PdfExtract.extract(mutated, captureFragments = false) // must not throw
      if (r.error.isDefined) errorRows += 1
    }
    (1 to 40).foreach { i =>
      val base = bases(i % bases.length)
      val cut = 1 + rnd.nextInt(base.length - 1)
      PdfExtract.extract(java.util.Arrays.copyOf(base, cut), captureFragments = false)
    }
    assert(errorRows > 0, "mutations never produced an error row — fuzz too weak")
  }

  test("fidelity: wrong /Length whose cut lands before '%' truncates (comment-skip validates it)") {
    // PDF whitespace skipping eats %-comments; the wrong-length check runs
    // skipWhiteSpace() before testing for `endstream`
    // (reference: Tokeniser.cs:1538-1560 + 1655), so a file cut at "BT (x"
    // with "%) Tj ET\n" following comment-skips straight onto `endstream`
    // and accepts the bogus length — the content loses its ET in BOTH
    // engines. Replicated behavior; the corpus generator must (and does)
    // avoid planting such cuts.
    import graft.fixtures.GoldenGen
    val b = new GoldenGen.PdfBuilder()
    val content = b.addStream("", "BT (x%) Tj ET".getBytes("ISO-8859-1"), lengthOverride = 5)
    val catalog = GoldenGen.catalogFor(b, Seq(content))
    val r = PdfExtract.extract(b.finish(s"/Root $catalog 0 R"), captureFragments = false)
    // the truncation surfaces on the captured per-content error channel (the
    // reference records it the same way) and the shown string is lost
    assert(r.error.exists(_.contains("'ET' still missing")), s"error=${r.error}")
    assert(!r.text.contains("x%"), s"text=<${r.text}>")
  }

  test("variant spread: even doc_ids cycle through all builders") {
    val n = Corpus.NumPdfVariants
    assert((0L until 2L * n by 2).map(Corpus.pdfVariant).toSet == (0 until n).toSet)
  }

  test("generatorFingerprint: deterministic, classfile-derived; digestOf separates byte changes") {
    val f1 = Corpus.generatorFingerprint
    assert(f1.length == 16 && f1.matches("[0-9a-f]+"), s"fingerprint: $f1")
    assert(f1 == Corpus.generatorFingerprint) // stable across calls
    // the underlying digest is byte-sensitive: any classfile change moves it
    assert(Corpus.digestOf(Iterator(Array[Byte](1, 2, 3))) !=
      Corpus.digestOf(Iterator(Array[Byte](1, 2, 4))))
    assert(Corpus.digestOf(Iterator(Array[Byte](1), Array[Byte](2))) ==
      Corpus.digestOf(Iterator(Array[Byte](1, 2)))) // stream-order digest, chunking-invariant
    // NESTED classes must be digested: the actual PDF byte writer is
    // GoldenGen$PdfBuilder.class, a SEPARATE classfile from GoldenGen$.class
    // — a fingerprint that missed it would serve a stale cached corpus after
    // a PdfBuilder edit, the exact failure the mechanism exists to stop
    val names = Corpus.generatorClassfiles.map(_._1)
    assert(names.contains("graft.fixtures.GoldenGen$PdfBuilder"), names.mkString(", "))
    assert(names.contains("graft.pipeline.Corpus$"), names.mkString(", "))
    assert(names == names.sorted && names.distinct == names) // deterministic digest input
  }

  test("variant 6: each truncation of the 3-section chain yields its section's page") {
    // sanity that the incremental fixture actually tests something: the full
    // file (three xref sections, /Prev-chained B -> A -> original) extracts
    // the real text; truncating after the SECOND %%EOF (dropping update B)
    // yields the second-revision stale page; truncating after the FIRST
    // %%EOF (original section only) yields the first stale page
    val t = texts(2)
    val full = Corpus.pdfIncrementalFromText(t)
    val r = PdfExtract.extract(full, contentDelimiter = "", captureFragments = false)
    assert(!r.text.contains("stale"), r.text.take(120))
    assert(r.text == Corpus.pdfExpectedText(docIdFor(6), t))
    val hay = new String(full.map(b => (b & 0xff).toChar))
    val cut1 = hay.indexOf("%%EOF") + "%%EOF\n".length
    val cut2 = hay.indexOf("%%EOF", cut1) + "%%EOF\n".length
    assert(hay.indexOf("%%EOF", cut2) >= 0, "expected a third %%EOF (three sections)")
    val r1 = PdfExtract.extract(java.util.Arrays.copyOf(full, cut1),
      contentDelimiter = "", captureFragments = false)
    assert(r1.text.contains("stale first page content"), r1.text.take(120))
    val r2 = PdfExtract.extract(java.util.Arrays.copyOf(full, cut2),
      contentDelimiter = "", captureFragments = false)
    assert(r2.text.contains("stale second revision"), r2.text.take(120))
    assert(!r2.text.contains("stale first page content"), r2.text.take(120))
  }
}
