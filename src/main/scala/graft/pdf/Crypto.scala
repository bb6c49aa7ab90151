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
    * (reference: Tokeniser.cs:696-743). */
  def computeEncryptionKey(
      paddedUserPassword: Array[Byte],
      encryptO: Array[Byte],
      permission: Int,
      trailerId: Array[Byte],
      lengthBytes: Int): Array[Byte] = {
    val input = new Array[Byte](paddedUserPassword.length + encryptO.length + 4 + trailerId.length)
    var off = 0
    System.arraycopy(paddedUserPassword, 0, input, off, paddedUserPassword.length); off += paddedUserPassword.length
    System.arraycopy(encryptO, 0, input, off, encryptO.length); off += encryptO.length
    var p = permission
    var i = 0
    while (i < 4) { input(off) = p.toByte; p >>= 8; off += 1; i += 1 }
    System.arraycopy(trailerId, 0, input, off, trailerId.length)

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
}
