package graft.fixtures

import graft.pdf.{ObjectId, PdfCrypto}
import graft.pipeline.Corpus.{EncDocIdHex, EncPermission, finishClassic, hexOf,
  rotatingOpsPerPage, rotatingShowContents}
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.security.MessageDigest

/** PDF builders that only tests use, on top of [[GoldenGen]] and
  * [[graft.pipeline.Corpus]]'s chunk/page contract. The reader decodes only
  * None/FlateDecode streams and decrypts only the RC4 standard handler
  * (V 1|2, R 2|3), like the reference. These writers build the fixtures
  * that pin its error rows for everything else: the LZW / ASCIIHex /
  * ASCII85 / RunLength filters (ISO 32000-1 §7.4.2-7.4.5), refused xref
  * predictors, the AESV2 (V4) and AES-256 (V5, ISO 32000-2 §7.6.4)
  * handlers, owner-password-only documents and hybrid-reference files;
  * plus the Type0/Identity-H corpus, whose text the reader does not
  * recover. */
object TestPdfs {

  /** REAL AES-encrypted (V4/R4, AESV2) fixture: proper Algorithm-3 /O,
    * Algorithm-5 /U, AES-128-CBC content streams with deterministic IVs.
    * The reference throws on V4, and so does the reader. */
  def encryptedPdfAes(message: String = "aes secret text"): Array[Byte] = {
    val userPw = ""
    val ownerPw = ""
    val docIdHex = "fedcba9876543210fedcba9876543210"
    val docId = docIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val permission = -44
    val lengthBytes = 16 // 128-bit key
    val o = computeOwnerO(ownerPw, userPw, lengthBytes)
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(userPw), o, permission, docId, lengthBytes)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(userPw), docId, key)

    val b = new GoldenGen.PdfBuilder()
    val contentId = b.registerObject()
    val plain = s"BT ($message) Tj ET".getBytes(ISO_8859_1)
    val iv = Array.tabulate[Byte](16)(i => (i * 31 + 5).toByte) // deterministic
    val payload = aesEncrypt(
      objectKeyAes(key, ObjectId(contentId, 0)), iv, plain)
    b.raw(s"$contentId 0 obj\n<</Length ${payload.length}>>stream\n")
    b.raw(payload)
    b.raw("\nendstream\nendobj\n")
    val catalog = GoldenGen.catalogFor(b, Seq(contentId))
    val encId = b.addObject(
      s"<</Filter/Standard/V 4/R 4/P $permission/Length 128" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>" +
        "/StmF/StdCF/StrF/StdCF" +
        s"/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$docIdHex><$docIdHex>]")
  }

  /** LZW encoder: MSB-first variable-width codes (9→12 bits), clear first
    * and EOD last, early change 1 (ISO 32000-1 §7.4.4). */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var acc = 0L
    var accBits = 0
    var width = 9
    val dict = new java.util.HashMap[java.util.List[java.lang.Byte], Integer]()
    var nextCode = 258
    def emit(code: Int): Unit = {
      acc = (acc << width) | code; accBits += width
      while (accBits >= 8) { out.write(((acc >>> (accBits - 8)) & 0xff).toInt); accBits -= 8 }
    }
    emit(256) // clear
    var cur = new java.util.ArrayList[java.lang.Byte]()
    def codeOf(s: java.util.List[java.lang.Byte]): Int =
      if (s.size == 1) s.get(0) & 0xff else dict.get(s)
    var i = 0
    while (i < data.length) {
      val b: java.lang.Byte = data(i)
      val cand = new java.util.ArrayList[java.lang.Byte](cur); cand.add(b)
      val known = cand.size == 1 || dict.containsKey(cand)
      if (known) cur = cand
      else {
        emit(codeOf(cur))
        if (nextCode < 4096) {
          dict.put(cand, nextCode); nextCode += 1
          // mirror of the decoder's early-change point: the code emitted
          // after entry (2^w - earlyChange) is added uses w+1 bits
          if (nextCode - 1 >= (1 << width) - 1 && width < 12) width += 1
        }
        cur = new java.util.ArrayList[java.lang.Byte](); cur.add(b)
      }
      i += 1
    }
    if (!cur.isEmpty) emit(codeOf(cur))
    emit(257) // EOD
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** ASCIIHex encoder: lowercase digit pairs, `>` EOD. */
  def asciiHexEncode(data: Array[Byte]): Array[Byte] =
    (data.map(b => f"${b & 0xff}%02x").mkString + ">").getBytes("ISO-8859-1")

  /** ASCII85 encoder: `z` for all-zero groups, partial tail, `~>` EOD. */
  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var tuple = 0L
      var k = 0
      while (k < 4) { tuple = (tuple << 8) | (if (k < n) data(i + k) & 0xff else 0); k += 1 }
      if (n == 4 && tuple == 0) sb.append('z')
      else {
        val chars = new Array[Char](5)
        var t = tuple
        var j = 4
        while (j >= 0) { chars(j) = ('!' + (t % 85).toInt).toChar; t /= 85; j -= 1 }
        sb.appendAll(chars, 0, n + 1)
      }
      i += n
    }
    sb.append("~>")
    sb.toString.getBytes("ISO-8859-1")
  }

  /** Greedy RunLength encoder: runs of ≥2 equal bytes become a repeat
    * record (up to 128 per record), everything else literal records (up to
    * 128 bytes each), closed by the 128 EOD byte. */
  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 128 + 2)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
      if (run >= 2) {
        out.write(257 - run)
        out.write(data(i) & 0xff)
        i += run
      } else {
        // literal stretch: stop (exclusive) where a ≥2-byte run begins
        var j = i + 1
        while (j < data.length && j - i < 128 &&
            (j + 1 >= data.length || data(j + 1) != data(j))) j += 1
        out.write(j - i - 1)
        out.write(data, i, j - i)
        i = j
      }
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** The AESV2 per-object-key salt "sAlT" (ISO 32000-1 Algorithm 1 step b). */
  private val AesSalt = Array[Byte](0x73, 0x41, 0x6c, 0x54)

  /** Per-object AES key = MD5(docKey ∥ objNum₃ ∥ gen₂ ∥ sAlT), truncated to
    * min(n+5, 16). */
  def objectKeyAes(globalKey: Array[Byte], objectId: ObjectId): Array[Byte] = {
    val data = new Array[Byte](globalKey.length + 5 + 4)
    System.arraycopy(globalKey, 0, data, 0, globalKey.length)
    var off = globalKey.length
    val on = objectId.objectNumber
    data(off) = on.toByte; data(off + 1) = (on >> 8).toByte; data(off + 2) = (on >> 16).toByte
    off += 3
    val gen = objectId.generation
    data(off) = gen.toByte; data(off + 1) = (gen >> 8).toByte
    off += 2
    System.arraycopy(AesSalt, 0, data, off, 4)
    val hash = PdfCrypto.md5(data)
    val keep = math.min(globalKey.length + 5, 16)
    java.util.Arrays.copyOf(hash, keep)
  }

  /** AES-CBC encrypt with PKCS#5 padding: returns IV ∥ ciphertext, the
    * AESV2 / AESV3 stream and string layout. */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ cipher.doFinal(plain)
  }

  /** Algorithm 3 (R ≥ 3): the /O entry — RC4 chain over the padded user
    * password with the 50×MD5 owner key. */
  def computeOwnerO(ownerPassword: String, userPassword: String, lengthBytes: Int): Array[Byte] = {
    var h = PdfCrypto.md5(PdfCrypto.pad(ownerPassword))
    var i = 0
    while (i < 50) { h = PdfCrypto.md5(h); i += 1 }
    val rc4Key = java.util.Arrays.copyOf(h, lengthBytes)
    var o = PdfCrypto.rc4(rc4Key, PdfCrypto.pad(userPassword))
    var it = 1
    while (it < 20) {
      val k = rc4Key.map(b => (b ^ it).toByte)
      o = PdfCrypto.rc4(k, o)
      it += 1
    }
    o
  }

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(md.update)
    md.digest()
  }

  /** ISO 32000-2 Algorithm 2.A step a: UTF-8 password bytes truncated to
    * 127. (Full SASLprep normalization is out of scope — ASCII passwords,
    * the only kind the reference's surface ever accepted, pass through
    * unchanged.) */
  private[graft] def passwordBytesV5(password: String): Array[Byte] = {
    val utf8 = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (utf8.length <= 127) utf8 else java.util.Arrays.copyOf(utf8, 127)
  }

  /** AES-CBC encrypt with NO padding — the V5 key-wrapping cipher (/UE,
    * /OE) and Algorithm 2.B's inner cipher. Input must be block-aligned. */
  private def aesCbcNoPad(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    cipher.doFinal(data)
  }

  /** AES-ECB encrypt, no padding — the 16-byte /Perms capsule (Algorithm 10). */
  private def aesEcbNoPad(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE, new javax.crypto.spec.SecretKeySpec(key, "AES"))
    cipher.doFinal(data)
  }

  /** ISO 32000-2 Algorithm 2.B: the R6 hardened hash (R5 stops after the
    * initial SHA-256). `udata` is empty for /U-side hashes and the 48-byte
    * /U value for /O-side hashes. Loop shape: at least 64 rounds, then
    * continue while the last byte of the previous round's AES output
    * exceeds (completedRounds − 32). */
  private[graft] def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte],
      revision: Int): Array[Byte] = {
    var k = sha(256, password, salt, udata)
    if (revision == 5) return k
    var e: Array[Byte] = null
    var round = 0
    while (round < 64 || (e(e.length - 1) & 0xff) > round - 32) {
      // K1 = (password ∥ K ∥ udata) repeated 64 times
      val unit = password.length + k.length + udata.length
      val k1 = new Array[Byte](unit * 64)
      var off = 0
      System.arraycopy(password, 0, k1, off, password.length); off += password.length
      System.arraycopy(k, 0, k1, off, k.length); off += k.length
      System.arraycopy(udata, 0, k1, off, udata.length)
      var rep = 1
      while (rep < 64) { System.arraycopy(k1, 0, k1, rep * unit, unit); rep += 1 }
      e = aesCbcNoPad(java.util.Arrays.copyOf(k, 16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1)
      // "first 16 bytes of E as a big-endian unsigned integer mod 3":
      // 256 ≡ 1 (mod 3), so the byte SUM has the same residue
      var sum = 0
      var i = 0
      while (i < 16) { sum += e(i) & 0xff; i += 1 }
      k = sha((sum % 3) match { case 0 => 256; case 1 => 384; case _ => 512 }, e)
      round += 1
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** The full V5 security bundle. */
  final case class V5Security(o: Array[Byte], u: Array[Byte], oe: Array[Byte],
      ue: Array[Byte], perms: Array[Byte])

  /** Algorithms 8/9/10: derive /O, /U, /OE, /UE and
    * /Perms from the two passwords, a caller-chosen 32-byte file key and
    * 32 bytes of caller-chosen salt material (vsU ∥ ksU ∥ vsO ∥ ksO, 8 bytes
    * each) — real writers draw key and salts from a CSPRNG; fixtures pin
    * them for byte-stable corpora. */
  def makeV5Security(userPassword: String, ownerPassword: String,
      fileKey: Array[Byte], salts: Array[Byte], p: Int,
      encryptMetadata: Boolean, revision: Int): V5Security = {
    require(fileKey.length == 32, "V5 file key must be 32 bytes")
    require(salts.length == 32, "need 32 bytes of salt material")
    val pu = passwordBytesV5(userPassword)
    val po = passwordBytesV5(ownerPassword)
    val noU = Array.emptyByteArray
    val zeroIv = new Array[Byte](16)
    val vsU = java.util.Arrays.copyOfRange(salts, 0, 8)
    val ksU = java.util.Arrays.copyOfRange(salts, 8, 16)
    val vsO = java.util.Arrays.copyOfRange(salts, 16, 24)
    val ksO = java.util.Arrays.copyOfRange(salts, 24, 32)
    val u = hash2B(pu, vsU, noU, revision) ++ vsU ++ ksU
    val ue = aesCbcNoPad(hash2B(pu, ksU, noU, revision), zeroIv, fileKey)
    val o = hash2B(po, vsO, u, revision) ++ vsO ++ ksO
    val oe = aesCbcNoPad(hash2B(po, ksO, u, revision), zeroIv, fileKey)
    val permsPlain = new Array[Byte](16)
    permsPlain(0) = p.toByte
    permsPlain(1) = (p >> 8).toByte
    permsPlain(2) = (p >> 16).toByte
    permsPlain(3) = (p >> 24).toByte
    java.util.Arrays.fill(permsPlain, 4, 8, 0xff.toByte)
    permsPlain(8) = (if (encryptMetadata) 'T' else 'F').toByte
    permsPlain(9) = 'a'; permsPlain(10) = 'd'; permsPlain(11) = 'b'
    // bytes 12-15 are "random data" per the spec; fixed for determinism
    permsPlain(12) = 'g'; permsPlain(13) = 'r'; permsPlain(14) = 'f'; permsPlain(15) = 't'
    val perms = aesEcbNoPad(fileKey, permsPlain)
    V5Security(o, u, oe, ue, perms)
  }

  // Deterministic AESV2 (V4/R4) document keys, empty passwords (the
  // reader, like the reference, throws on V 4: Tokeniser.cs:635-645).
  // Two cached chains: /EncryptMetadata false appends 0xFFFFFFFF to the
  // Algorithm-2 hash input (ISO 32000-1 step f) — right after the /ID
  // bytes, so it is passed as their suffix — and its file key differs.
  private val AesDocIdHex = "fedcba9876543210fedcba9876543210"
  private def aesChain(encryptMetadata: Boolean): (Array[Byte], Array[Byte], Array[Byte]) = {
    val docId = AesDocIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val o = computeOwnerO("", "", 16)
    val keyInputId = if (encryptMetadata) docId else docId ++ Array.fill[Byte](4)(-1)
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(""), o, EncPermission, keyInputId, 16)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(""), docId, key)
    (o, key, u)
  }
  private lazy val aesOKeyU = aesChain(encryptMetadata = true)
  private lazy val aesOKeyUNoMeta = aesChain(encryptMetadata = false)

  /** AES corpus: variant 0's chunk/page contract with every content stream
    * AES-128-CBC-encrypted under the V4/R4 AESV2 crypt filter
    * (deterministic per-object IVs). No /Info and no /Metadata.
    *
    * `(docId/2) % 3` routes each doc through one of the three real-world
    * AESV2 encryption-dictionary DIALECTS (all seen in the wild):
    *  - 0: top-level `/Length 128` (bits) + `/CF/StdCF/Length 16` (spec says
    *       BYTES there);
    *  - 1: `/EncryptMetadata false` — the file key itself changes
    *       (Algorithm 2 step f appends FFFFFFFF); no top-level /Length, so
    *       the reader takes the CF-Length path with the bytes convention;
    *  - 2: `/CF/StdCF/Length 128` — the BITS convention some writers use.
    * The reader replicates the reference's throw surface (error row) for
    * every dialect. */
  def pdfAesForDoc(docId: Long, text: String): Array[Byte] = {
    val dialect = ((docId / 2) % 3).toInt
    val (o, key, u) = if (dialect == 1) aesOKeyUNoMeta else aesOKeyU
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingOpsPerPage(text).map { ops =>
      val id = b.registerObject()
      val iv = Array.tabulate[Byte](16)(i =>
        ((docId * 131 + id * 31 + i * 7 + text.length) & 0xff).toByte)
      val payload = aesEncrypt(
        objectKeyAes(key, ObjectId(id, 0)), iv, ops.getBytes(ISO_8859_1))
      b.raw(s"$id 0 obj\n<</Length ${payload.length}>>stream\n")
      b.raw(payload)
      b.raw("\nendstream\nendobj\n")
      id
    }
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(
      s"<</Filter/Standard/V 4/R 4/P $EncPermission" +
        (if (dialect == 0) "/Length 128" else "") +
        s"/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length ${if (dialect == 2) 128 else 16}>>>>" +
        "/StmF/StdCF/StrF/StdCF" +
        (if (dialect == 1) "/EncryptMetadata false" else "") +
        s"/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$AesDocIdHex><$AesDocIdHex>]")
  }

  /** R3 owner-only twin of [[graft.pipeline.Corpus.pdfOwnerOnlyFromText]]:
    * V 2/R 3/Length 40, /O from the FULL Algorithm 3 chain (50×MD5 owner key + 20-key RC4), user
    * password "graftuser" never handed to the caller — only an Algorithm 7
    * owner path (password [[OwnerPassword]]) could open it, which the
    * reference and the reader do not implement. */
  private lazy val ownerOnlyR3OKeyU: (Array[Byte], Array[Byte], Array[Byte]) = {
    val docId = EncDocIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val o = computeOwnerO(OwnerPassword, "graftuser", 5)
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad("graftuser"), o, EncPermission, docId, 5)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad("graftuser"), docId, key)
    (o, key, u)
  }

  /** The owner password both owner-only builders encrypt under. */
  val OwnerPassword = "graftowner"

  def pdfOwnerOnlyR3FromText(text: String): Array[Byte] = {
    val (o, key, u) = ownerOnlyR3OKeyU
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingShowContents(b, text, encryptKey = key)
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(
      s"<</Filter/Standard/V 2/R 3/Length 40/P $EncPermission/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$EncDocIdHex><$EncDocIdHex>]")
  }

  /** AESV2 owner-only: V4/R4 — /O is STILL the RC4-based Algorithm 3 chain
    * (ISO 32000-1 keeps RC4 for /O and /U at R4; only payloads are AES);
    * the reader rejects V 4 before any password is tried. */
  private lazy val aesOwnerOnlyOKeyU: (Array[Byte], Array[Byte], Array[Byte]) = {
    val docId = AesDocIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val o = computeOwnerO(OwnerPassword, "graftuser", 16)
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad("graftuser"), o, EncPermission, docId, 16)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad("graftuser"), docId, key)
    (o, key, u)
  }

  def pdfAesOwnerOnlyFromText(docIdNum: Long, text: String): Array[Byte] = {
    val (o, key, u) = aesOwnerOnlyOKeyU
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingOpsPerPage(text).map { ops =>
      val id = b.registerObject()
      val iv = Array.tabulate[Byte](16)(i =>
        ((docIdNum * 131 + id * 31 + i * 7 + text.length) & 0xff).toByte)
      val payload = aesEncrypt(
        objectKeyAes(key, ObjectId(id, 0)), iv, ops.getBytes(ISO_8859_1))
      b.raw(s"$id 0 obj\n<</Length ${payload.length}>>stream\n")
      b.raw(payload)
      b.raw("\nendstream\nendobj\n")
      id
    }
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(
      s"<</Filter/Standard/V 4/R 4/P $EncPermission/Length 128" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>" +
        "/StmF/StdCF/StrF/StdCF" +
        s"/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$AesDocIdHex><$AesDocIdHex>]")
  }

  // Deterministic AES-256 (V5) security bundles (the reader, like the
  // reference, throws on V > 2). Real writers draw the 32-byte file key and
  // the four 8-byte salts from a CSPRNG; fixtures pin them so every builder
  // output is byte-stable. R6 bundles pay the Algorithm-2.B hardened hash
  // (64+ AES/SHA-2 rounds per derivation) ONCE here, amortized corpus-wide
  // like encOKey/aesOKeyU.
  private val V5FileKey = Array.tabulate[Byte](32)(i => ((i * 37 + 11) & 0xff).toByte)
  private def v5Salts(seed: Int) = Array.tabulate[Byte](32)(i => ((seed * 53 + i * 29 + 5) & 0xff).toByte)
  private lazy val v5UserR6 =
    makeV5Security("", OwnerPassword, V5FileKey, v5Salts(1), EncPermission,
      encryptMetadata = true, revision = 6)
  private lazy val v5UserR5 =
    makeV5Security("", OwnerPassword, V5FileKey, v5Salts(2), EncPermission,
      encryptMetadata = true, revision = 5)
  private lazy val v5NoMetaR6 =
    makeV5Security("", OwnerPassword, V5FileKey, v5Salts(3), EncPermission,
      encryptMetadata = false, revision = 6)
  private lazy val v5OwnerOnly =
    makeV5Security("graftuser", OwnerPassword, V5FileKey, v5Salts(4), EncPermission,
      encryptMetadata = true, revision = 6)

  private def v5EncryptedBody(b: GoldenGen.PdfBuilder, docId: Long, text: String): Seq[Int] =
    rotatingOpsPerPage(text).map { ops =>
      val id = b.registerObject()
      val iv = Array.tabulate[Byte](16)(i =>
        ((docId * 149 + id * 41 + i * 13 + text.length) & 0xff).toByte)
      // V5: the FILE key encrypts every stream directly — no per-object key
      val payload = aesEncrypt(V5FileKey, iv, ops.getBytes(ISO_8859_1))
      b.raw(s"$id 0 obj\n<</Length ${payload.length}>>stream\n")
      b.raw(payload)
      b.raw("\nendstream\nendobj\n")
      id
    }

  private def v5EncDict(sec: V5Security, revision: Int, extra: String): String =
    s"<</Filter/Standard/V 5/R $revision/Length 256/P $EncPermission" +
      "/CF<</StdCF<</CFM/AESV3/AuthEvent/DocOpen/Length 32>>>>" +
      "/StmF/StdCF/StrF/StdCF" + extra +
      s"/O <${hexOf(sec.o)}>/U <${hexOf(sec.u)}>" +
      s"/OE <${hexOf(sec.oe)}>/UE <${hexOf(sec.ue)}>/Perms <${hexOf(sec.perms)}>>>"

  /** AES-256 corpus: variant 0's chunk/page contract with every content
    * stream AES-256-CBC-encrypted under the file key (ISO 32000-2 drops
    * per-object key derivation). `(docId/2) % 3` rotates three dialects,
    * all with the EMPTY user password:
    *  - 0: R6 — the hardened Algorithm-2.B hash (64+ variable rounds);
    *  - 1: R5 — the deprecated single-SHA-256 precursor (Adobe ext. 3);
    *  - 2: R6 with `/EncryptMetadata false` — unlike V4 the FILE KEY does
    *       not change (it's random, not password-derived), but the /Perms
    *       capsule's flag byte must read 'F' (Algorithm 13 validates it).
    * Every dialect carries /Perms; the reader keeps the reference's throw
    * surface (error row, unit-pinned). */
  def pdfAes256ForDoc(docId: Long, text: String): Array[Byte] = {
    val (sec, revision, extra) = ((docId / 2) % 3).toInt match {
      case 0 => (v5UserR6, 6, "")
      case 1 => (v5UserR5, 5, "")
      case _ => (v5NoMetaR6, 6, "/EncryptMetadata false")
    }
    val b = new GoldenGen.PdfBuilder()
    val contentIds = v5EncryptedBody(b, docId, text)
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(v5EncDict(sec, revision, extra))
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$AesDocIdHex><$AesDocIdHex>]")
  }

  /** AES-256 owner-only: /U derives from user password "graftuser" (never
    * handed out), so only Algorithm 12 with [[OwnerPassword]] would open it;
    * the reader rejects V 5 before any password is tried. */
  def pdfAes256OwnerOnlyFromText(docId: Long, text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val contentIds = v5EncryptedBody(b, docId, text)
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(v5EncDict(v5OwnerOnly, 6, ""))
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$AesDocIdHex><$AesDocIdHex>]")
  }

  /** Refused-filter corpus: the exact chunk/page contract of variant 0, but
    * content streams encoded with filters the reference does not decode (it
    * supports only None and FlateDecode and throws otherwise; the reader
    * replicates that as an error row), routed by `(doc_id/2) % 5`:
    * LZWDecode, ASCIIHexDecode, ASCII85Decode, RunLengthDecode, and the
    * `[ASCII85Decode FlateDecode]` two-stage chain. */
  def pdfExtendedForDoc(docId: Long, text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingOpsPerPage(text).map { ops =>
      val plain = ops.getBytes(ISO_8859_1)
      val (dictExtra, payload) = ((docId / 2) % 5).toInt match {
        case 0 => ("/Filter/LZWDecode", lzwEncode(plain))
        case 1 => ("/Filter/ASCIIHexDecode", asciiHexEncode(plain))
        case 2 => ("/Filter/ASCII85Decode", ascii85Encode(plain))
        case 3 => ("/Filter/RunLengthDecode", runLengthEncode(plain))
        case _ => ("/Filter[/ASCII85Decode/FlateDecode]",
          ascii85Encode(GoldenGen.zlib(plain)))
      }
      b.addStream(dictExtra, payload)
    }
    finishClassic(b, contentIds, text)
  }

  /** HYBRID-reference corpus (ISO 32000-1 §7.5.8.4): the variant-0
    * chunk/page contract, but the ENTIRE page graph (page dicts, pages
    * root, catalog) hides inside a compressed object stream that only the
    * trailer's /XRefStm supplement can resolve — the classic table lists
    * just the content streams as in-use and marks every structural object
    * FREE, exactly the compatibility shape Acrobat writes for pre-1.5
    * readers. The reference ignores /XRefStm (Tokeniser.cs:518 bookkeeping
    * set); the reader replicates that as an error row (unit-pinned).
    * Content streams rotate raw/Flate on (doc_id/2). */
  def pdfHybridForDoc(docId: Long, text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder("1.5")
    val contentIds = rotatingOpsPerPage(text).map(ops =>
      b.addStream("", ops.getBytes(ISO_8859_1), deflate = (docId / 2) % 2 == 0))
    val p = contentIds.length
    // hidden ids: objStm = p+1; page_i = p+2+i; pagesRoot = 2p+2;
    // catalog = 2p+3; the supplement itself = 2p+4
    val objStmId = p + 1
    val pagesRootId = 2 * p + 2
    val catalogId = 2 * p + 3
    val xrefStmId = 2 * p + 4
    val members: Seq[(Int, String)] =
      (0 until p).map(i => (p + 2 + i,
        s"<</Type/Page /Parent $pagesRootId 0 R/Contents ${contentIds(i)} 0 R>>")) :+
      (pagesRootId,
        s"<</Type/Pages /Kids[${(0 until p).map(i => s"${p + 2 + i} 0 R").mkString(" ")}] /Count $p>>") :+
      (catalogId, s"<</Type/Catalog /Pages $pagesRootId 0 R>>")
    val payloadBody = members.map(_._2).mkString(" ")
    var off = 0
    val header = members.map { case (id, src) =>
      val entry = s"$id $off"
      off += src.length + 1
      entry
    }.mkString(" ") + " "
    val gotObjStm = b.addStream(s"/Type/ObjStm/N ${members.length}/First ${header.length}",
      (header + payloadBody).getBytes(ISO_8859_1), deflate = true)
    require(gotObjStm == objStmId, s"objStm id $gotObjStm != $objStmId")
    require(p + 1 <= 255, s"member index is a 1-byte W column; $p pages overflow it")

    def offRow(a: Int) = Array[Byte](1,
      ((a >> 16) & 0xff).toByte, ((a >> 8) & 0xff).toByte, (a & 0xff).toByte, 0)
    def stmRow(memberIdx: Int) = Array[Byte](2,
      ((objStmId >> 16) & 0xff).toByte, ((objStmId >> 8) & 0xff).toByte,
      (objStmId & 0xff).toByte, memberIdx.toByte)
    val xrefStmAddress = b.size
    val rows: Seq[Array[Byte]] =
      offRow(b.objectOffset(objStmId)) +:                  // the carrier
      (0 until p).map(i => stmRow(i)) :+                   // page dicts
      stmRow(p) :+ stmRow(p + 1) :+                        // pages root, catalog
      offRow(xrefStmAddress)                               // the supplement itself
    val body = GoldenGen.zlib(rows.flatten.toArray)
    b.raw(s"$xrefStmId 0 obj\n<</Type/XRef/Size ${xrefStmId + 1}/Index[$objStmId ${p + 4}]" +
      s"/W[1 3 1]/Filter/FlateDecode/Length ${body.length}/Root $catalogId 0 R>>stream\n")
    b.raw(body)
    b.raw("\nendstream\nendobj\n")

    // classic table: content streams in-use, everything structural FREE
    val tableAddress = b.size
    b.raw(s"xref\n0 ${xrefStmId + 1}\n")
    b.raw("0000000000 65535 f \n")
    (1 to p).foreach(i => b.raw(f"${b.objectOffset(i)}%010d 00000 n \n"))
    (objStmId to xrefStmId).foreach(_ => b.raw("0000000000 00000 f \n"))
    b.raw(s"trailer<</Size ${xrefStmId + 1}/Root $catalogId 0 R/XRefStm $xrefStmAddress>>\n")
    b.raw(s"startxref\n$tableAddress\n%%EOF\n")
    b.currentBytes
  }

  /** Source char the Type0 corpus writes as CID 0x0001, whose ToUnicode
    * destination <00660066> is the TWO-char "ff". 'e' so essentially every
    * doc carries it. */
  final val Type0MarkerFF = 'e'

  /** Source char the Type0 corpus writes as CID 0x0002, whose ToUnicode
    * destination <D83DDE00> is a UTF-16 SURROGATE PAIR (U+1F600). 't' for
    * the same reason. */
  final val Type0MarkerEmoji = 't'

  /** Per-char CID encoding of the Type0 corpus: markers take the bfchar
    * CIDs, printable ASCII rides the <0120> <017E> <0020> bfrange (cid =
    * char + 0x100, all above the 8-bit table the reference is limited to),
    * and anything else is written as its OWN codepoint with NO CMap entry.
    * Chars in {U+0001, U+0002} ∪ [U+0120, U+017E] collide with the
    * marker/bfrange CID windows and are refused (require). */
  private def type0Cids(chunk: String): Array[Int] = chunk.map {
    case Type0MarkerFF    => 0x0001
    case Type0MarkerEmoji => 0x0002
    case c if c >= 0x20 && c <= 0x7e => c + 0x100
    case c =>
      require(c > 0x02 && !(c >= 0x120 && c <= 0x17e),
        f"type0 corpus: char U+${c.toInt}%04X collides with a CID window")
      c.toInt
  }.toArray

  private def appendLiteralByte(ops: StringBuilder, v: Int): Unit = v match {
    case '\\' => ops.append("\\\\")
    case '('  => ops.append("\\(")
    case ')'  => ops.append("\\)")
    case b if b < 0x20 || b > 0x7e => ops.append(f"\\$b%03o")
    case b => ops.append(b.toChar)
  }

  /** Type0/Identity-H composite-font corpus: variant-0 chunking (64-char
    * chunks, 8 per page), every chunk shown through a Type0 font with
    * /Encoding/Identity-H, a CIDFontType2 descendant and a full-range
    * ToUnicode CMap. Show ops rotate hex `Tj` / escaped-literal `'` /
    * hex-inside-`TJ` on the global chunk index. The reference parses such
    * CMaps with 2-hex-digit CID readers and decodes single BYTES through
    * its 8-bit table (PdfFont.cs:40, Tokeniser.cs:2464-2472), so the
    * reader does not recover the source text from these documents. */
  def pdfType0ForDoc(docId: Long, text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |/CIDSystemInfo << /Registry(Adobe) /Ordering(UCS) /Supplement 0 >> def
        |/CMapName /Adobe-Identity-UCS def
        |/CMapType 2 def
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <00660066>
        |<0002> <D83DDE00>
        |endbfchar
        |1 beginbfrange
        |<0120> <017E> <0020>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin
    val cmapId = b.addStream("", cmap.getBytes(ISO_8859_1), deflate = true)
    val descId = b.addObject(
      "<</Type/Font/Subtype/CIDFontType2/BaseFont/GraftCID" +
        "/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>" +
        "/CIDToGIDMap/Identity>>")
    val fontId = b.addObject(
      s"<</Type/Font/Subtype/Type0/BaseFont/GraftCID/Encoding/Identity-H" +
        s"/DescendantFonts[$descId 0 R]/ToUnicode $cmapId 0 R>>")
    var gi = 0
    val contentIds = text.grouped(64).toIndexedSeq.grouped(8).map { pageChunks =>
      val ops = new StringBuilder("BT /F1 10 Tf ")
      pageChunks.foreach { c =>
        val cids = type0Cids(c)
        gi % 3 match {
          case 0 =>
            ops.append('<'); cids.foreach(cid => ops.append(f"$cid%04X")); ops.append("> Tj ")
          case 1 =>
            ops.append('(')
            cids.foreach { cid => appendLiteralByte(ops, cid >> 8); appendLiteralByte(ops, cid & 0xff) }
            ops.append(") ' ")
          case _ =>
            ops.append("[<"); cids.foreach(cid => ops.append(f"$cid%04X")); ops.append("> -120] TJ ")
        }
        gi += 1
      }
      ops.append("ET")
      b.addStream("", ops.toString.getBytes(ISO_8859_1), deflate = true)
    }.toSeq
    finishClassic(b, contentIds, text, fontObj = Some(("F1", fontId)))
  }

  /** Refused-predictor corpus: the exact chunk/page contract of variant 4
    * (cross-reference STREAM layout), but the xref stream's rows are
    * encoded with predictors the reference rejects (Token.cs:652-668
    * accepts only Predictor 12 + all-Up rows), routed by `(doc_id/2) % 3`:
    * PNG Predictor 15 with per-row filter types rotating
    * None/Sub/Up/Average/Paeth, TIFF Predictor 2 (horizontal differencing),
    * and Predictor 1 (DecodeParms present, no prediction). */
  def pdfPredictorForDoc(docId: Long, text: String): Array[Byte] = {
    val mode = ((docId / 2) % 3).toInt match {
      case 0 => "png"
      case 1 => "tiff"
      case _ => "none"
    }
    // variant 4's objects, built here: the product builder has no
    // predictor choice
    val b = new GoldenGen.PdfBuilder("1.5")
    val contentIds = rotatingShowContents(b, text)
    val metaId = b.addStream("/Type/Metadata/Subtype/XML",
      s"""<graft:meta len="${text.length}"/>""".getBytes(ISO_8859_1))
    GoldenGen.finishXrefStream(b, contentIds, s"<</Title (doc-${text.length})/Producer (graft)>>",
      metadataId = Some(metaId), trailerId = Some(f"${text.length}%032x"), predictor = mode)
  }
}
