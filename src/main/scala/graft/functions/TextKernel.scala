package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The text kernel: one scan over a document's UTF-8 bytes yields every
  * count the quality, language-ID and token-count operators read, and one
  * loop builds a token array's word k-shingles.
  *
  * Why not `filter`/`transform` lambdas: Spark's higher-order functions are
  * `CodegenFallback`, so each one runs interpreted and re-evaluates its
  * input per read — every marker-list `filter` re-split the document, and
  * the language argmax read all five of them in each of its branches (~30
  * tokenizations per document). [[TextStats]] and [[Shingles]] compile to
  * one static call into this object inside whole-stage codegen.
  *
  * Semantics, each equal to the expression it replaces:
  *   - tokens: `split(text, " ")` — every ' ' ends a token, so empty tokens
  *     count and a document always has spaces + 1 tokens;
  *   - `n_chars`: `length(text)`, stepping code points as `numChars` does;
  *   - `n_alpha`: the length of `regexp_replace(text, "[^a-z]", "")`;
  *   - `n_uniq`: `size(array_distinct(tokens))` (byte equality);
  *   - `n_stop`: tokens in [[EnStop]];
  *   - `n_num`: `size(filter(tokens, t => t.rlike("^[0-9]+$")))` — ASCII
  *     digits, then nothing or ONE final line terminator, before which
  *     Java's `$` also matches ("12\n" and "12\r\n" are numeric);
  *   - `lang`: the [[LangMarkers]] language with the most marker tokens,
  *     the first in list order on ties, `und` when none occurs;
  *   - `n_pieces`: `size(regexp_extract_all(text, "[a-z]+|[0-9]+|[^a-z0-9 ]"))`
  *     — maximal a–z runs, maximal digit runs and every other non-space
  *     code point (a 4-state machine; a multi-byte code point, an emoji's
  *     surrogate pair included, is one piece).
  * Input is taken to be valid UTF-8: on malformed bytes `n_pieces` may
  * differ from the regex count. */
object TextKernel {
  val EnStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "un", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "wo3", "ni3"))

  /** The struct [[TextStats]] returns. */
  val StatsType: StructType = StructType(
    Seq("n_tokens", "n_chars", "n_alpha", "n_uniq", "n_stop", "n_pieces", "n_num")
      .map(StructField(_, IntegerType, nullable = false)) :+
      StructField("lang", StringType, nullable = false))

  def stats(text: Column): Column = Bridge.column(TextStats(Bridge.expression(text)))

  /** Word k-grams of a token array, '_'-joined; empty below k tokens or on
    * a null array. */
  def shingles(toks: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be positive, got $k")
    Bridge.column(Shingles(Bridge.expression(toks), k))
  }

  private val langs: Array[UTF8String] =
    (LangMarkers.map(_._1) :+ "und").map(UTF8String.fromString).toArray
  private val nLangs = LangMarkers.size

  /** The same token hash the scan folds byte by byte. */
  private def mix(h: Int): Int = { val x = h * 0x9E3779B9; x ^ (x >>> 16) }
  private def hashOf(b: Array[Byte]): Int = mix(b.foldLeft(0)((h, c) => 31 * h + c))

  // marker words in an open-addressed table keyed by token hash: bit 0 is
  // EnStop, bit 1 + l is LangMarkers(l)
  private val MarkerSlots = 64
  private val MaxMarkerLen = (EnStop ++ LangMarkers.flatMap(_._2)).map(_.length).max
  private val markerWord = new Array[Array[Byte]](MarkerSlots)
  private val markerHash = new Array[Int](MarkerSlots)
  private val markerBits = new Array[Int](MarkerSlots)
  locally {
    val bits = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    EnStop.foreach(w => bits(w) = bits.getOrElse(w, 0) | 1)
    for (((_, ws), l) <- LangMarkers.zipWithIndex; w <- ws)
      bits(w) = bits.getOrElse(w, 0) | (2 << l)
    for ((w, m) <- bits) {
      val b = w.getBytes("UTF-8")
      val h = hashOf(b)
      var j = h & (MarkerSlots - 1)
      while (markerWord(j) != null) j = (j + 1) & (MarkerSlots - 1)
      markerWord(j) = b; markerHash(j) = h; markerBits(j) = m
    }
  }

  private def markerBitsOf(b: Array[Byte], s: Int, e: Int, h: Int): Int = {
    var j = h & (MarkerSlots - 1)
    while (markerWord(j) != null) {
      val w = markerWord(j)
      if (markerHash(j) == h && Arrays.equals(w, 0, w.length, b, s, e)) return markerBits(j)
      j = (j + 1) & (MarkerSlots - 1)
    }
    0
  }

  /** Open-addressed set of token byte ranges of one document. */
  private final class TokenSet(b: Array[Byte]) {
    private var from = new Array[Int](64) // token start + 1; 0 marks a free slot
    private var to = new Array[Int](64)
    private var hash = new Array[Int](64)
    var size = 0

    def add(s: Int, e: Int, h: Int): Unit = {
      val mask = from.length - 1
      var j = h & mask
      while (from(j) != 0) {
        if (hash(j) == h && Arrays.equals(b, from(j) - 1, to(j), b, s, e)) return
        j = (j + 1) & mask
      }
      from(j) = s + 1; to(j) = e; hash(j) = h
      size += 1
      if (2 * size > mask) grow()
    }

    private def grow(): Unit = {
      val (f, t, hs) = (from, to, hash)
      from = new Array[Int](f.length * 2); to = new Array[Int](f.length * 2)
      hash = new Array[Int](f.length * 2)
      val mask = from.length - 1
      var i = 0
      while (i < f.length) {
        if (f(i) != 0) {
          var j = hs(i) & mask
          while (from(j) != 0) j = (j + 1) & mask
          from(j) = f(i); to(j) = t(i); hash(j) = hs(i)
        }
        i += 1
      }
    }
  }

  /** Whether the token b[s, e) matches `^[0-9]+$`: Java's `$` (no
    * MULTILINE) matches at the end and before one final "\r\n", '\n',
    * '\r', U+0085, U+2028 or U+2029. */
  private def numeric(b: Array[Byte], s: Int, e: Int): Boolean = {
    var j = s
    while (j < e && b(j) >= '0' && b(j) <= '9') j += 1
    j > s && (e - j match {
      case 0 => true
      case 1 => b(j) == '\n' || b(j) == '\r'
      case 2 => (b(j) == '\r' && b(j + 1) == '\n') || (b(j) == 0xC2.toByte && b(j + 1) == 0x85.toByte)
      case 3 => b(j) == 0xE2.toByte && b(j + 1) == 0x80.toByte &&
        (b(j + 2) == 0xA8.toByte || b(j + 2) == 0xA9.toByte)
      case _ => false
    })
  }

  private final val Space = ' '.toByte
  // piece states
  private final val Gap = 0
  private final val Alpha = 1
  private final val Digit = 2
  private final val Other = 3

  /** One pass over `text`: the [[StatsType]] row. */
  def scan(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val n = b.length
    val set = new TokenSet(b)
    val hits = new Array[Int](nLangs)
    var nTok, nChars, alpha, stop, pieces, num = 0
    var state = Gap
    var nextChar = 0
    var start = 0
    var h = 0
    var i = 0
    while (i <= n) {
      if (i == nextChar && i < n) {
        nChars += 1
        nextChar = i + UTF8String.numBytesForFirstByte(b(i))
      }
      if (i == n || b(i) == Space) {
        val hh = mix(h)
        nTok += 1
        set.add(start, i, hh)
        if (numeric(b, start, i)) num += 1
        if (i - start <= MaxMarkerLen) {
          val m = markerBitsOf(b, start, i, hh)
          if (m != 0) {
            stop += m & 1
            var l = 0
            while (l < nLangs) { hits(l) += (m >>> (l + 1)) & 1; l += 1 }
          }
        }
        state = Gap
        start = i + 1
        h = 0
      } else {
        val c = b(i)
        h = 31 * h + c
        if (c >= 'a' && c <= 'z') {
          alpha += 1
          if (state != Alpha) { pieces += 1; state = Alpha }
        } else if (c >= '0' && c <= '9') {
          if (state != Digit) { pieces += 1; state = Digit }
        } else if ((c & 0xC0) != 0x80) { // ASCII or a code point's lead byte
          pieces += 1; state = Other
        }
      }
      i += 1
    }
    var best = 0
    var l = 0
    while (l < nLangs) { best = math.max(best, hits(l)); l += 1 }
    var lang = nLangs
    if (best > 0) { l = nLangs - 1; while (l >= 0) { if (hits(l) == best) lang = l; l -= 1 } }
    new GenericInternalRow(Array[Any](nTok, nChars, alpha, set.size, stop, pieces, num, langs(lang)))
  }

  private val emptyStrings = new GenericArrayData(Array.empty[Any])

  /** The k-grams of `toks`, each `concat_ws("_", …)` of k consecutive
    * tokens: null elements are skipped, empty ones joined like any other. */
  def kgrams(toks: ArrayData, k: Int): ArrayData = {
    if (toks == null || toks.numElements() < k) return emptyStrings
    val n = toks.numElements()
    val t = Array.tabulate(n)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i < out.length) {
      var len = -1
      var j = i
      while (j < i + k) { if (t(j) != null) len += t(j).numBytes() + 1; j += 1 }
      val g = new Array[Byte](math.max(len, 0))
      var at = -1 // the separator slot before the next token
      j = i
      while (j < i + k) {
        if (t(j) != null) {
          if (at >= 0) g(at) = '_'.toByte
          at += 1
          t(j).writeToMemory(g, Platform.BYTE_ARRAY_OFFSET + at)
          at += t(j).numBytes()
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(g)
      i += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val Self = getClass.getName.stripSuffix("$")
}

/** Per-document text counts: one [[TextKernel.scan]] call. */
case class TextStats(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = TextKernel.StatsType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_text_stats"

  protected override def nullSafeEval(text: Any): Any = TextKernel.scan(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernel.Self}.scan($t)")

  protected def withNewChildInternal(newChild: Expression): TextStats = copy(child = newChild)
}

/** Word k-shingles of a token array: one [[TextKernel.kgrams]] call; never
  * null. */
case class Shingles(child: Expression, k: Int) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any =
    TextKernel.kgrams(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${TextKernel.Self}.kgrams(${c.isNull} ? null : ${c.value}, $k);
      """.stripMargin, isNull = FalseLiteral)
  }

  protected def withNewChildInternal(newChild: Expression): Shingles = copy(child = newChild)
}
