package graft.pdf

import java.security.MessageDigest

/** RC4 + MD5 key derivation for the PDF standard security handler
  * (V ∈ {1,2}, R ∈ {2,3}), matching the reference bit-for-bit
  * (reference: PdfParser/RC4.cs:13-76, Tokeniser.cs:696-1077).
  * RC4 itself is the public-domain algorithm.
  */
object PdfCrypto {

  // Reused per-thread scratch: the RC4 state box and the MD5 digest.
  // Key derivation alone runs 51 MD5 rounds and user-password
  // authentication 19 RC4 rounds PER DOCUMENT — fresh allocations here
  // measured ~2.5x the baseline extraction allocation rate on encrypted
  // docs.
  private val rc4Box: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](256))
  private val md5Digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** In-place RC4 (same routine encrypts and decrypts). */
  def rc4InPlace(pwd: Array[Byte], data: Array[Byte], offset: Int, length: Int): Unit = {
    val box = rc4Box.get()
    var i = 0
    while (i < 256) { box(i) = i; i += 1 }
    var j = 0
    i = 0
    while (i < 256) {
      j = (j + box(i) + (pwd(i % pwd.length) & 0xff)) % 256
      val tmp = box(i); box(i) = box(j); box(j) = tmp
      i += 1
    }
    var a = 0
    j = 0
    i = 0
    while (i < length) {
      a = (a + 1) % 256
      j = (j + box(a)) % 256
      val tmp = box(a); box(a) = box(j); box(j) = tmp
      val k = box((box(a) + box(j)) % 256)
      data(offset + i) = (data(offset + i) ^ k).toByte
      i += 1
    }
  }

  def rc4(pwd: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val out = data.clone()
    rc4InPlace(pwd, out, 0, out.length)
    out
  }

  def md5(data: Array[Byte]): Array[Byte] = {
    val md = md5Digest.get()
    md.reset()
    md.digest(data)
  }

  /** PDF password padding constant (PDF 32000-1 Algorithm 2 step a;
    * reference: Tokeniser.cs:1053-1055). */
  val PaddingBytes: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A
  ).map(_.toByte)

  /** Pad/truncate a password to 32 bytes; only ASCII passwords supported,
    * like the reference (reference: Tokeniser.cs:1058-1077). */
  def pad(password: String): Array[Byte] = {
    val padded = new Array[Byte](32)
    val n = math.min(password.length, 32)
    var i = 0
    while (i < n) {
      val c = password.charAt(i).toInt
      if (c < 0x2F || c > 0x7E)
        throw new UnsupportedOperationException(
          s"Presently, only passwords with ASCII characters are supported, but the password $password had the character '${c.toChar}'.")
      padded(i) = c.toByte
      i += 1
    }
    while (i < 32) { padded(i) = PaddingBytes(i); i += 1 }
    padded
  }

  /** Algorithm 2: document encryption key from the padded user password
    * (reference: Tokeniser.cs:696-743). `encryptMetadata = false` appends
    * 0xFFFFFFFF to the hash input (ISO 32000-1 Algorithm 2 step f, R ≥ 4 —
    * extended-mode AESV2 only; the reference's R2-3 handler never sees it). */
  def computeEncryptionKey(
      paddedUserPassword: Array[Byte],
      encryptO: Array[Byte],
      permission: Int,
      trailerId: Array[Byte],
      lengthBytes: Int,
      encryptMetadata: Boolean = true): Array[Byte] = {
    val extra = if (encryptMetadata) 0 else 4
    val input = new Array[Byte](paddedUserPassword.length + encryptO.length + 4 + trailerId.length + extra)
    var off = 0
    System.arraycopy(paddedUserPassword, 0, input, off, paddedUserPassword.length); off += paddedUserPassword.length
    System.arraycopy(encryptO, 0, input, off, encryptO.length); off += encryptO.length
    var p = permission
    var i = 0
    while (i < 4) { input(off) = p.toByte; p >>= 8; off += 1; i += 1 }
    System.arraycopy(trailerId, 0, input, off, trailerId.length)
    if (!encryptMetadata) {
      off += trailerId.length
      java.util.Arrays.fill(input, off, off + 4, 0xff.toByte)
    }

    val key = new Array[Byte](lengthBytes)
    System.arraycopy(md5(input), 0, key, 0, lengthBytes)
    var it = 0
    while (it < 50) {
      System.arraycopy(md5(key), 0, key, 0, lengthBytes)
      it += 1
    }
    key
  }

  /** Algorithm 5 (all but the last step): expected U value for a password.
    * Returns 32 bytes; the caller compares the first 16
    * (reference: Tokeniser.cs:766-807). */
  def computeEncryptU(
      paddedUserPassword: Array[Byte],
      trailerId: Array[Byte],
      encryptionKey: Array[Byte]): Array[Byte] = {
    val input = new Array[Byte](paddedUserPassword.length + trailerId.length)
    System.arraycopy(paddedUserPassword, 0, input, 0, paddedUserPassword.length)
    System.arraycopy(trailerId, 0, input, paddedUserPassword.length, trailerId.length)
    var data = rc4(encryptionKey, md5(input))
    val key = new Array[Byte](encryptionKey.length)
    var it = 1
    while (it < 20) {
      var i = 0
      while (i < encryptionKey.length) { key(i) = (encryptionKey(i) ^ it).toByte; i += 1 }
      rc4InPlace(key, data, 0, 16)
      it += 1
    }
    java.util.Arrays.copyOf(data, 32)
  }

  /** Algorithm 6: does the password authenticate as the user password?
    * Compares the first 16 bytes (reference: Tokeniser.cs:746-763). */
  def authenticateUserPassword(
      paddedUserPassword: Array[Byte],
      trailerId: Array[Byte],
      encryptionKey: Array[Byte],
      encryptU: Array[Byte]): Boolean = {
    val calc = computeEncryptU(paddedUserPassword, trailerId, encryptionKey)
    if (calc.length != encryptU.length || calc.length < 16) throw new IllegalArgumentException
    var i = 0
    while (i < 16) {
      if (calc(i) != encryptU(i)) return false
      i += 1
    }
    true
  }

  /** Algorithm 1: per-object RC4 key = MD5(docKey ∥ objNum₃ ∥ gen₂)
    * truncated to min(n+5, 16) bytes (reference: Tokeniser.cs:1863-1900). */
  def objectKey(globalKey: Array[Byte], objectId: ObjectId): Array[Byte] = {
    val data = new Array[Byte](globalKey.length + 5)
    System.arraycopy(globalKey, 0, data, 0, globalKey.length)
    var off = globalKey.length
    val on = objectId.objectNumber
    data(off) = on.toByte; data(off + 1) = (on >> 8).toByte; data(off + 2) = (on >> 16).toByte
    off += 3
    val gen = objectId.generation
    data(off) = gen.toByte; data(off + 1) = (gen >> 8).toByte
    off += 2
    val hash = md5(data)
    if (off < 16) java.util.Arrays.copyOf(hash, off) else hash
  }

  // ------------------------------------------- AES-V2 (V4/R4) — EXTENSION
  // Beyond the reference (which throws on V4, Tokeniser.cs:635-645): the
  // ISO 32000-1 §7.6.2 AESV2 crypt filter, available only in the engine's
  // opt-in extended mode. Pure JDK javax.crypto — no new dependencies.

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
    val hash = md5(data)
    val keep = math.min(globalKey.length + 5, 16)
    java.util.Arrays.copyOf(hash, keep)
  }

  /** AES-128-CBC decrypt of a PDF AESV2 payload: first 16 bytes are the IV,
    * PKCS#5 padding is stripped. Throws on malformed padding (surfaces as an
    * error row). */
  def aesDecrypt(key: Array[Byte], data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    require(len >= 32, s"AESV2 payload too short ($len bytes; IV + one block required)")
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(data, off, 16))
    cipher.doFinal(data, off + 16, len - 16)
  }

  /** AES-128-CBC encrypt (fixture generation): returns IV ∥ ciphertext. */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ cipher.doFinal(plain)
  }

  /** Algorithm 7 steps a–b (EXTENSION — opt-in extended mode only; the
    * reference's owner path is NotImplementedException,
    * Tokeniser.cs:810-840): recover the PADDED user password from /O with a
    * candidate owner password — the exact inverse of [[computeOwnerO]]'s
    * RC4 chain (ISO 32000-1 §7.6.3.4). R2 encrypted /O with a single RC4
    * pass under the first-5-bytes-of-MD5 owner key (no 50×MD5); R ≥ 3 ran
    * the 50×MD5 key then 20 RC4 passes with XOR'd keys, undone here in
    * reverse order. The caller authenticates the result via Algorithm 6 —
    * a wrong owner password just yields garbage that fails /U. */
  def recoverUserPasswordFromO(ownerPassword: String, encryptO: Array[Byte],
      lengthBytes: Int, revision: Int): Array[Byte] = {
    var h = md5(pad(ownerPassword))
    if (revision >= 3) { var i = 0; while (i < 50) { h = md5(h); i += 1 } }
    val rc4Key = java.util.Arrays.copyOf(h, lengthBytes)
    val data = encryptO.clone()
    if (revision == 2) rc4InPlace(rc4Key, data, 0, data.length)
    else {
      var it = 19
      while (it >= 1) {
        val k = rc4Key.map(b => (b ^ it).toByte)
        rc4InPlace(k, data, 0, data.length)
        it -= 1
      }
      rc4InPlace(rc4Key, data, 0, data.length)
    }
    data
  }

  /** Algorithm 3 (R ≥ 3): the /O entry — RC4 chain over the padded user
    * password with the 50×MD5 owner key. */
  def computeOwnerO(ownerPassword: String, userPassword: String, lengthBytes: Int): Array[Byte] = {
    var h = md5(pad(ownerPassword))
    var i = 0
    while (i < 50) { h = md5(h); i += 1 }
    val rc4Key = java.util.Arrays.copyOf(h, lengthBytes)
    var o = rc4(rc4Key, pad(userPassword))
    var it = 1
    while (it < 20) {
      val k = rc4Key.map(b => (b ^ it).toByte)
      o = rc4(k, o)
      it += 1
    }
    o
  }

  // --------------------------------------- AES-V3 (V5, R5/R6) — EXTENSION
  // ISO 32000-2 §7.6.4 AES-256 (R6 = PDF 2.0's hardened hash, Algorithm
  // 2.B; R5 = the deprecated Adobe "Extension Level 3" precursor whose hash
  // is a single SHA-256). Beyond the reference (which throws on V > 2,
  // Tokeniser.cs:635-645), available only in the engine's opt-in extended
  // mode. Two structural differences from V ≤ 4: authentication never
  // touches /ID, and there is NO per-object key derivation — the 32-byte
  // file key encrypts every string and stream directly (AES-256-CBC,
  // IV-prefixed, PKCS#5-padded — [[aesDecrypt]]/[[aesEncrypt]] already
  // handle any JCE AES key length).

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(md.update)
    md.digest()
  }

  /** ISO 32000-2 Algorithm 2.A step a: UTF-8 password bytes truncated to
    * 127. (Full SASLprep normalization is out of scope — ASCII passwords,
    * the only kind the reference's surface ever accepted, pass through
    * unchanged.) */
  def passwordBytesV5(password: String): Array[Byte] = {
    val utf8 = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (utf8.length <= 127) utf8 else java.util.Arrays.copyOf(utf8, 127)
  }

  /** AES-CBC with NO padding — the V5 key-wrapping cipher (/UE, /OE) and
    * Algorithm 2.B's inner cipher. Input must be block-aligned. */
  def aesCbcNoPad(encrypt: Boolean, key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    cipher.init(
      if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    cipher.doFinal(data)
  }

  /** AES-ECB, no padding — the 16-byte /Perms capsule (Algorithms 10/13). */
  def aesEcbNoPad(encrypt: Boolean, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    cipher.init(
      if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"))
    cipher.doFinal(data)
  }

  /** ISO 32000-2 Algorithm 2.B: the R6 hardened hash (R5 stops after the
    * initial SHA-256). `udata` is empty for /U-side hashes and the 48-byte
    * /U value for /O-side hashes. Loop shape: at least 64 rounds, then
    * continue while the last byte of the previous round's AES output
    * exceeds (completedRounds − 32). */
  def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte],
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
      e = aesCbcNoPad(encrypt = true, java.util.Arrays.copyOf(k, 16),
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

  private def prefixMatches(calc: Array[Byte], stored: Array[Byte], n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (calc(i) != stored(i)) return false
      i += 1
    }
    true
  }

  /** Algorithms 2.A / 11 / 12: authenticate `password` first as the USER
    * password (hash against /U, unwrap /UE) then as the OWNER password
    * (hash with /U appended against /O, unwrap /OE). Returns the 32-byte
    * file encryption key, or null if neither role matches. */
  def fileKeyV5(password: String, o: Array[Byte], u: Array[Byte],
      oe: Array[Byte], ue: Array[Byte], revision: Int): Array[Byte] = {
    require(o.length >= 48 && u.length >= 48,
      s"V5 /O and /U must be 48 bytes (got ${o.length}/${u.length})")
    require(oe.length == 32 && ue.length == 32,
      s"V5 /OE and /UE must be 32 bytes (got ${oe.length}/${ue.length})")
    val pwd = passwordBytesV5(password)
    val noU = Array.emptyByteArray
    val zeroIv = new Array[Byte](16)
    // Algorithm 11: user validation salt = U[32..40), key salt = U[40..48)
    if (prefixMatches(hash2B(pwd, java.util.Arrays.copyOfRange(u, 32, 40), noU, revision), u, 32))
      return aesCbcNoPad(encrypt = false,
        hash2B(pwd, java.util.Arrays.copyOfRange(u, 40, 48), noU, revision), zeroIv, ue)
    // Algorithm 12: owner hashes append the full 48-byte /U
    val u48 = java.util.Arrays.copyOf(u, 48)
    if (prefixMatches(hash2B(pwd, java.util.Arrays.copyOfRange(o, 32, 40), u48, revision), o, 32))
      return aesCbcNoPad(encrypt = false,
        hash2B(pwd, java.util.Arrays.copyOfRange(o, 40, 48), u48, revision), zeroIv, oe)
    null
  }

  /** Algorithm 13: decrypt /Perms with the file key and validate the 'adb'
    * signature, the /P round-trip (low 32 bits, little-endian) and the
    * EncryptMetadata flag byte. */
  def verifyPermsV5(fileKey: Array[Byte], perms: Array[Byte], p: Int,
      encryptMetadata: Boolean): Boolean = {
    if (perms.length != 16) return false
    val d = aesEcbNoPad(encrypt = false, fileKey, perms)
    d(9) == 'a' && d(10) == 'd' && d(11) == 'b' &&
      ((d(0) & 0xff) | ((d(1) & 0xff) << 8) | ((d(2) & 0xff) << 16) | ((d(3) & 0xff) << 24)) == p &&
      d(8) == (if (encryptMetadata) 'T' else 'F').toByte
  }

  /** The full V5 security bundle. */
  final case class V5Security(o: Array[Byte], u: Array[Byte], oe: Array[Byte],
      ue: Array[Byte], perms: Array[Byte])

  /** Fixture generation (Algorithms 8/9/10): derive /O, /U, /OE, /UE and
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
    val ue = aesCbcNoPad(encrypt = true, hash2B(pu, ksU, noU, revision), zeroIv, fileKey)
    val o = hash2B(po, vsO, u, revision) ++ vsO ++ ksO
    val oe = aesCbcNoPad(encrypt = true, hash2B(po, ksO, u, revision), zeroIv, fileKey)
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
    val perms = aesEcbNoPad(encrypt = true, fileKey, permsPlain)
    V5Security(o, u, oe, ue, perms)
  }
}
