package graft.functions.expr

import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text kernels: each walks a document's UTF-8 bytes
  * once, where the composed forms they replace (`split` + `filter`,
  * `transform(sequence …)`, `array_min(transform …)` per MinHash view)
  * build intermediate arrays and run lambdas that Spark interprets per
  * element (`ArrayFilter`/`ArrayTransform` are `CodegenFallback`).
  *
  * Every kernel returns exactly what its composed form returned, null
  * handling included (pinned against those forms on random text in
  * `TextKernelsSpec`). The token rule is the reference's, as Java's
  * regex `split` applies it to `UTF8String.toString`: a token is a
  * maximal run of `\p{L}` code points (`Character.isLetter`), or of
  * code points outside `\s` = `[ \t\n\x0B\f\r]`. Text that is not
  * valid UTF-8 is first re-encoded from its `toString`, the string the
  * regex sees. Lower-casing stays Spark's own `lower`, passed in as a
  * child, so its semantics do not move.
  *
  * `CodegenFallback` with `eval` only: the per-row work is the byte
  * loop, not the call into it.
  */
private[expr] object TextScan {

  /** `s` itself when valid UTF-8, else the re-encoding of what its
    * `toString` decodes to. */
  def valid(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): ' ' and \t..\r. */
  def isSpace(b: Int): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Bytes in the valid UTF-8 sequence led by byte `b0`. */
  def width(b0: Int): Int =
    if (b0 < 0x80) 1 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4

  /** The code point of width `w` led by `b0` at address `at`. */
  def codePoint(base: AnyRef, at: Long, b0: Int, w: Int): Int = {
    def cont(k: Int) = Platform.getByte(base, at + k) & 0x3F
    w match {
      case 1 => b0
      case 2 => ((b0 & 0x1F) << 6) | cont(1)
      case 3 => ((b0 & 0x0F) << 12) | (cont(1) << 6) | cont(2)
      case _ => ((b0 & 0x07) << 18) | (cont(1) << 12) | (cont(2) << 6) | cont(3)
    }
  }

  /** Byte ranges `[start, end)` of the tokens of valid `u` — maximal
    * runs of letters (`letters`) or of non-`\s` code points — packed
    * `start << 32 | end`. */
  def runs(u: UTF8String, letters: Boolean): Array[Long] = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    var start = -1
    while (i < n) {
      val b0 = Platform.getByte(base, off + i) & 0xFF
      val w = width(b0)
      val in =
        if (letters) Character.isLetter(codePoint(base, off + i, b0, w))
        else w > 1 || !isSpace(b0)
      if (in) { if (start < 0) start = i }
      else if (start >= 0) { out += (start.toLong << 32) | i; start = -1 }
      i += w
    }
    if (start >= 0) out += (start.toLong << 32) | n
    out.result()
  }

  def start(r: Long): Int = (r >>> 32).toInt
  def len(r: Long): Int = r.toInt - start(r)

  /** A copy of the bytes of run `r` of `u`. */
  def token(u: UTF8String, r: Long): UTF8String = {
    val b = new Array[Byte](len(r))
    Platform.copyMemory(u.getBaseObject, u.getBaseOffset + start(r), b,
      Platform.BYTE_ARRAY_OFFSET, b.length)
    UTF8String.fromBytes(b)
  }

  /** `xxhash64(h_i, …, h_{i+n-1})` (seed 42) over every n-window of
    * `xxhash64(t)` letter-token hashes; null with fewer than n tokens. */
  def gramHashes(s: UTF8String, n: Int): Array[Long] = {
    val u = valid(s)
    val rs = runs(u, letters = true)
    if (rs.length < n) null
    else {
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val th = rs.map(r => XXH64.hashUnsafeBytes(base, off + start(r), len(r), 42L))
      Array.tabulate(rs.length - n + 1) { i =>
        var h = 42L
        var j = 0
        while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
        h
      }
    }
  }

  val empty: ArrayData = new GenericArrayData(Array.empty[Any])
  val space: UTF8String = UTF8String.fromString(" ")
}

import TextScan._

/** Tokens of a string — letter runs (`letters`: `TextFns.letterTokens`)
  * or whitespace-separated (`TextFns.wsTokens`). Null in, null out. */
case class Tokens(child: Expression, letters: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any = {
    val u = valid(v.asInstanceOf[UTF8String])
    new GenericArrayData(runs(u, letters).map(r => token(u, r): Any))
  }

  override protected def withNewChildInternal(c: Expression): Tokens =
    copy(child = c)
}

/** Consecutive n-grams of a string array, space-joined
  * (`TextFns.wordNGrams`); null elements are skipped inside a gram, as
  * `concat_ws` skips them. Empty when the array has fewer than n
  * elements or is null. */
case class WordNGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    if (a == null || a.numElements() < n) empty
    else {
      val toks = Array.tabulate(a.numElements())(i =>
        if (a.isNullAt(i)) null else a.getUTF8String(i))
      new GenericArrayData(Array.tabulate(toks.length - n + 1)(i =>
        UTF8String.concatWs(space, toks.slice(i, i + n): _*): Any))
    }
  }

  override protected def withNewChildInternal(c: Expression): WordNGrams =
    copy(child = c)
}

/** Window-combined letter-token hashes of a string
  * (`Dedup.gramHashes`): `xxhash64` (seed 42) of each token, then
  * `xxhash64(h_i, …, h_{i+n-1})` per n-window. Empty when the text has
  * fewer than n tokens or is null. */
case class GramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    val gh = if (s == null) null else gramHashes(s, n)
    if (gh == null) empty else UnsafeArrayData.fromPrimitiveArray(gh)
  }

  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** Per-document MinHash signature (`Dedup.rowSignatures`): the
  * [[GramHashes]] of the text, and for each view i < `numHashes` the
  * minimum of `hashLong(h, hashInt(i, 42))` over them — the arithmetic
  * of [[MinHashSigLong]]. A generator of one `sig` row per document,
  * none when the text has fewer than n tokens or is null: a filter on
  * a projected signature would be pushed below the projection and
  * evaluate the kernel twice. */
case class RowMinHash(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = new StructType()
    .add("sig", ArrayType(LongType, containsNull = false), nullable = false)

  @transient private lazy val seeds =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    val gh = if (s == null) null else gramHashes(s, n)
    if (gh == null) Nil
    else {
      val sd = seeds
      val m = Array.fill(numHashes)(Long.MaxValue)
      var g = 0
      while (g < gh.length) {
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashLong(gh(g), sd(i))
          if (h < m(i)) m(i) = h
          i += 1
        }
        g += 1
      }
      Seq(InternalRow(UnsafeArrayData.fromPrimitiveArray(m)))
    }
  }

  override protected def withNewChildInternal(c: Expression): RowMinHash =
    copy(child = c)
}

/** Every per-document count of `TextAnalysis.quality` and `langId`,
  * and langId's decision, in one pass over the text and one over its
  * lower-cased form (`lowered`, Spark's `lower(text)`):
  *  - `ws_tokens`: whitespace tokens of the text;
  *  - `letters`, `han`, `chars`: its `\p{L}` code points, `\p{IsHan}`
  *    code points and `length`;
  *  - one count per `(lang, stopwords)` of `langs`: lower-cased letter
  *    tokens that are in its list;
  *  - `pred_lang`: "zh" when han × 5 > chars, "und" when no stopword
  *    matched, else the first language of the highest count.
  * A null text gives what the composed columns gave: null counts (-1
  * for the token counts under `spark.sql.legacy.sizeOfNull`) and the
  * decision those fall through to. */
case class TextStats(text: Expression, lowered: Expression,
    langs: Seq[(String, Seq[String])], legacySizeOfNull: Boolean)
    extends Expression with CodegenFallback {

  def this(text: Expression, lowered: Expression,
      langs: Seq[(String, Seq[String])]) =
    this(text, lowered, langs, SQLConf.get.legacySizeOfNull)

  override def children: Seq[Expression] = Seq(text, lowered)
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val sized = text.nullable && !legacySizeOfNull
    StructType(
      Seq(StructField("ws_tokens", IntegerType, sized)) ++
      Seq("letters", "han", "chars").map(StructField(_, IntegerType, text.nullable)) ++
      langs.map(l => StructField(l._1, IntegerType, sized)) :+
      StructField("pred_lang", StringType, nullable = false))
  }

  /** Stopword → bitmask of the languages listing it. */
  @transient private lazy val masks: JHashMap[UTF8String, Integer] = {
    val m = new JHashMap[UTF8String, Integer]()
    for (((_, ws), i) <- langs.zipWithIndex; w <- ws) {
      val k = UTF8String.fromString(w)
      m.put(k, Integer.valueOf(Option(m.get(k)).fold(0)(_.intValue) | (1 << i)))
    }
    m
  }
  @transient private lazy val maxLen =
    langs.flatMap(_._2).map(UTF8String.fromString(_).numBytes).maxOption.getOrElse(0)
  @transient private lazy val names = langs.map(l => UTF8String.fromString(l._1))

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input).asInstanceOf[UTF8String]
    val k = langs.length
    val row = new Array[Any](5 + k)
    if (t == null) {
      val sz: Any = if (legacySizeOfNull) -1 else null
      row(0) = sz
      (0 until k).foreach(i => row(4 + i) = sz)
      // han and chars are null, so the decision falls to the argmax
      // over -1s (first language) or to its `otherwise` (last)
      row(4 + k) = if (legacySizeOfNull) names.head else names.last
    } else {
      val u = valid(t)
      val base = u.getBaseObject
      val off = u.getBaseOffset
      var ws, letters, han = 0
      var inTok = false
      var i = 0
      while (i < u.numBytes) {
        val b0 = Platform.getByte(base, off + i) & 0xFF
        val w = width(b0)
        val cp = codePoint(base, off + i, b0, w)
        val tok = w > 1 || !isSpace(b0)
        if (tok && !inTok) ws += 1
        inTok = tok
        if (Character.isLetter(cp)) letters += 1
        if (w > 1 && Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN) han += 1
        i += w
      }
      val counts = new Array[Int](k)
      val (stop, longest) = (masks, maxLen)
      val l = valid(lowered.eval(input).asInstanceOf[UTF8String])
      runs(l, letters = true).foreach { r =>
        if (len(r) <= longest) {
          val hit = stop.get(UTF8String.fromAddress(
            l.getBaseObject, l.getBaseOffset + start(r), len(r)))
          if (hit != null) {
            var j = 0
            while (j < k) { if ((hit.intValue & (1 << j)) != 0) counts(j) += 1; j += 1 }
          }
        }
      }
      val chars = t.numChars
      row(0) = ws
      row(1) = letters
      row(2) = han
      row(3) = chars
      (0 until k).foreach(j => row(4 + j) = counts(j))
      row(4 + k) =
        if (han * 5 > chars) TextStats.zh
        else if (counts.sum == 0) TextStats.und
        else names(counts.indexOf(counts.max))
    }
    new GenericInternalRow(row)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TextStats =
    copy(text = c(0), lowered = c(1))
}

object TextStats {
  private val zh = UTF8String.fromString("zh")
  private val und = UTF8String.fromString("und")
}
