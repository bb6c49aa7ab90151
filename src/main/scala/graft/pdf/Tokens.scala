package graft.pdf

import scala.collection.mutable

/** Identifier of an indirect PDF object: object number + generation.
  * (reference: PdfParser/ObjectId.cs:33-117)
  */
final case class ObjectId(objectNumber: Int, generation: Int) {
  override def toString: String = s"$objectNumber $generation"
}

/** Token ADT for the PDF object model (reference: PdfParser/Token.cs).
  *
  * Tokens are plain data; all byte-cursor parsing lives in [[PdfTokeniser]].
  * `render` reproduces the reference's `Token.ToString()` output with one
  * deliberate canonicalisation: the newline is `"\n"` instead of the
  * C# `Environment.NewLine` (CRLF) — golden fixtures are generated under
  * the same rule (see FIXTURES.md).
  */
sealed abstract class PdfTok {
  def objectId: Option[ObjectId]

  /** Cache slot for the higher-level object built from this token
    * (font, page, content; reference: Token.cs:22). */
  var pdfObject: AnyRef = null

  def renderTo(sb: StringBuilder): Unit

  final def render: String = {
    val sb = new StringBuilder
    renderTo(sb)
    sb.toString
  }

  /** reference: Token.cs:51-55 */
  protected final def addRef(sb: StringBuilder): Unit =
    objectId.foreach { id => sb.append(" obj ").append(id.objectNumber).append(' ').append(id.generation) }

  /** reference: Token.cs:34-40 */
  protected final def appendTokOrRef(sb: StringBuilder, t: PdfTok): Unit =
    t.objectId match {
      case Some(id) => sb.append("ref ").append(id.objectNumber).append(' ').append(id.generation)
      case None     => t.renderTo(sb)
    }

  /** The reference's nested-render newline guard, replicated AS-IS: it
    * appends a newline when the buffer is a single char or already ENDS in
    * one (Token.cs:407,673 — the condition reads inverted, but the golden
    * token strings re-encoded from the reference's own TokeniserTest pin
    * this exact output; CRLF adapted to "\n"). */
  protected final def maybeNewline(sb: StringBuilder): Unit =
    if (sb.nonEmpty && !(sb.length > 1 && sb.charAt(sb.length - 2) != '\n' && sb.charAt(sb.length - 1) != '\n'))
      sb.append('\n')
}

/** reference: Token.cs:66-115 */
final class BoolTok(val value: Boolean, val objectId: Option[ObjectId]) extends PdfTok {
  def renderTo(sb: StringBuilder): Unit = {
    sb.append(if (value) "True" else "False")
    addRef(sb)
  }
}

/** Number with the reference's exact base-10 semantics: `integer` is set iff
  * at most the decimal point was consumed after the integer digits and the
  * value fits in Int (reference: Token.cs:118-196; so `34.` has integer=34).
  */
final class NumTok(val integer: Option[Int], val dec: java.math.BigDecimal, val objectId: Option[ObjectId])
    extends PdfTok {
  /** reference: Token.cs:122 — non-negative integer ⇒ may start `n g R` / `n g obj`. */
  def hasReferenceFormat: Boolean = integer.exists(_ >= 0)
  def renderTo(sb: StringBuilder): Unit = {
    integer match {
      case Some(i) => sb.append(i)
      case None    => sb.append(dec.toPlainString)
    }
    addRef(sb)
  }
}

/** Literal string keeps backslash escapes raw in `value`; hex string keeps
  * its angle brackets and additionally decodes `hexBytes` when the digit
  * count is even (reference: Token.cs:199-302). */
final class StrTok(var value: String, val hexBytes: Option[Array[Byte]], val objectId: Option[ObjectId])
    extends PdfTok {
  def renderTo(sb: StringBuilder): Unit = {
    sb.append('"').append(value).append('"')
    addRef(sb)
  }
}

/** reference: Token.cs:305-329 */
final class NameTok(val value: String, val objectId: Option[ObjectId]) extends PdfTok {
  def renderTo(sb: StringBuilder): Unit = {
    sb.append('/').append(value)
    addRef(sb)
  }
}

/** Array whose element access lazily swaps a [[RefTok]] for the referenced
  * object (reference: Token.cs:332-429). */
final class ArrTok(private val tk: PdfTokeniser, val objectId: Option[ObjectId]) extends PdfTok {
  private[pdf] val items = mutable.ArrayBuffer.empty[PdfTok]

  def length: Int = items.length

  def apply(i: Int): PdfTok = items(i) match {
    case ref: RefTok =>
      val resolved = tk.tokenById(ref.objectId.get)
      items(i) = resolved
      resolved
    case t => t
  }

  def add(t: PdfTok): Unit = items += t

  def iterator: Iterator[PdfTok] = Iterator.range(0, items.length).map(apply)

  def renderTo(sb: StringBuilder): Unit = {
    maybeNewline(sb)
    sb.append('[')
    var first = true
    items.foreach { t =>
      if (first) first = false else sb.append(' ')
      appendTokOrRef(sb, t)
    }
    sb.append(']')
    addRef(sb)
    sb.append('\n')
  }
}

/** Dictionary; duplicate keys merge into an array (reference:
  * Token.cs:473-483). If a `stream` keyword follows, `streamStartIndex` and
  * `length` locate the raw payload in the file (reference: Token.cs:487-494).
  */
final class DictTok(private val tk: PdfTokeniser, val objectId: Option[ObjectId]) extends PdfTok {
  private[pdf] val entries = mutable.LinkedHashMap.empty[String, PdfTok]
  var tpe: Option[String] = None
  var streamStartIndex: Int = Int.MinValue
  var streamLength: Int = Int.MinValue
  /** Decrypted payload memo (RC4): the source document bytes are
    * never mutated, so extracting the same array twice cannot
    * double-decrypt. */
  var decryptedStream: Array[Byte] = null
  var streamLengthProblem: String = null

  def isStream: Boolean = streamStartIndex >= 0
  def keys: Seq[String] = entries.keys.toSeq
  def containsKey(key: String): Boolean = entries.contains(key)

  /** Resolving accessor: swaps a RefTok for the referenced object and caches
    * the result — including a NullTok "not found" sentinel, which still
    * renders as `ref n g` because it carries the object id
    * (reference: Token.cs:499-508). Throws if the key is absent. */
  def apply(key: String): PdfTok = entries(key) match {
    case ref: RefTok =>
      val resolved = tk.tokenById(ref.objectId.get)
      entries(key) = resolved
      resolved
    case t => t
  }

  def get(key: String): Option[PdfTok] =
    if (entries.contains(key)) Some(apply(key)) else None

  def getName(key: String): Option[String] =
    get(key).collect { case n: NameTok => n.value }
  def getNumber(key: String): Option[NumTok] =
    get(key).collect { case n: NumTok => n }
  def getArray(key: String): Option[ArrTok] =
    get(key).collect { case a: ArrTok => a }
  def getDictionary(key: String): Option[DictTok] =
    get(key).collect { case d: DictTok => d }
  def getString(key: String): Option[String] =
    get(key).collect { case s: StrTok => s.value }
  def getHexBytes(key: String): Option[Array[Byte]] =
    get(key).collect { case s: StrTok => s }.flatMap(_.hexBytes)

  /** Decode this dictionary's stream into the tokeniser's stream buffer:
    * filter dispatch (only None / FlateDecode) + optional PNG-Up predictor
    * (reference: Token.cs:627-669). */
  def loadStream(): PdfTokeniser = {
    if (!isStream) throw new IllegalStateException(s"'$render' is not a stream.")
    // only None / FlateDecode; anything else throws, surfacing as an error
    // row, and a /Filter array uses only element 0 (Token.cs:632-636)
    def named(f: PdfTok): StreamFilter.Value = f.asInstanceOf[NameTok].value match {
      case ""            => StreamFilter.None
      case "FlateDecode" => StreamFilter.FlateDecode
      case other => throw new UnsupportedOperationException(s"Stream filter $other is not (yet) supported.")
    }
    val filter = entries.get("Filter") match {
      case Some(a: ArrTok) => named(a(0))
      case Some(t)         => named(t)
      case None            => StreamFilter.None
    }
    tk.fillStreamBytes(this, filter)
    getDictionary("DecodeParms").foreach { parms =>
      val columns = parms.getNumber("Columns")
        .getOrElse(throw tk.fileException("Stream DecodeParms are missing Columns parameter."))
      val predictor = parms.getNumber("Predictor")
        .getOrElse(throw tk.fileException("Stream DecodeParms are missing Predictor parameter."))
      // only Predictor 12 with every row filter byte = 2 (Up) is accepted
      // (Token.cs:652-668)
      if (predictor.integer.get != 12)
        throw tk.fileException("Stream DecodeParms Predictor parameter should be 12.")
      tk.applyPredictorUp(columns.integer.get)
    }
    tk
  }

  def renderTo(sb: StringBuilder): Unit = {
    maybeNewline(sb)
    // The reference prints the brackets swapped (">>" first); kept verbatim
    // for golden-string fidelity (reference: Token.cs:676,683).
    sb.append(">>").append('\n')
    entries.foreach { case (k, v) =>
      sb.append(' ').append('/').append(k).append(' ')
      appendTokOrRef(sb, v)
      sb.append('\n')
    }
    sb.append("<<")
    if (isStream) {
      sb.append('\n')
      sb.append("stream ").append(streamStartIndex).append(", ").append(streamLength).append(" endstream")
      addRef(sb)
      sb.append('\n')
    } else {
      addRef(sb)
      sb.append('\n')
    }
  }
}

/** `null` literal; also the "not found" sentinel for xref misses
  * (reference: Token.cs:697-728, PdfXRefTable.cs:44). */
final class NullTok(val objectId: Option[ObjectId]) extends PdfTok {
  def renderTo(sb: StringBuilder): Unit = {
    sb.append("null")
    addRef(sb)
  }
}

/** Placeholder for `n g R`; resolved through the xref table on first access
  * (reference: Token.cs:736-746). */
final class RefTok(val objectId: Option[ObjectId]) extends PdfTok {
  def renderTo(sb: StringBuilder): Unit = {
    sb.append("Ref ")
    addRef(sb)
  }
}

object StreamFilter extends Enumeration {
  val None, FlateDecode = Value
}

/** Parse error carrying ±100 bytes of file context (reference: PdfParser/PdfException.cs:29-74). */
final class PdfException(message: String, context: => String) extends Exception {
  override def getMessage: String = message + "\n" + context
  def shortMessage: String = message
}

/** Stream-content parse error with ±100 bytes of decoded-stream context
  * (reference: PdfParser/PdfException.cs, Tokeniser.cs:2670-2700). */
final class PdfStreamException(message: String, context: => String) extends Exception {
  override def getMessage: String = message + "\n" + context
  def shortMessage: String = message
}
