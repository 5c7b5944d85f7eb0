package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

/** Unicode NFC normalization of a string column — the ingest-time
  * canonicalization a multilingual corpus needs before exact dedup
  * (decomposed e+U+0301 vs precomposed é are byte-distinct but
  * canonically equal; the planted fixture carries exactly such a twin
  * pair). Both engines implement the same Unicode canonical
  * composition, so the op is fully oracle-able (DuckDB
  * `nfc_normalize`). Narrow per-row map, no shuffle.
  */
case class NfcNormalize(child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    // fast path: NFC-normalized text (all ASCII is) round-trips
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** One-pass word-bigram emission kernel: lowercase once, split on the
  * space byte, emit adjacent (w1, w2) slice pairs — semantically
  * identical to `filter(split(lower(text), " "), w -> w != "")` zipped
  * with its own tail, but ONE primitive byte walk instead of five
  * interpreted array materializations per row (lower/split/filter/
  * slice/transform-struct, each a CodegenFallback lambda re-run for
  * every subplan that consumes the frame). The TokenWindowHashes
  * precedent, applied to the bigram-LM hot path.
  */
final class WordBigramsKernel extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  private val EMPTY = new org.apache.spark.sql.catalyst.util.GenericArrayData(
    new Array[Any](0))
  def bigrams(s0: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = s0.toLowerCase
    val b = s.getBytes
    val n = b.length
    var words = new Array[UTF8String](16)
    var nw = 0
    var i = 0
    var start = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        if (i > start) {
          if (nw == words.length)
            words = java.util.Arrays.copyOf(words, nw * 2)
          words(nw) = UTF8String.fromBytes(b, start, i - start)
          nw += 1
        }
        start = i + 1
      }
      i += 1
    }
    if (nw < 2) return EMPTY
    val out = new Array[Any](nw - 1)
    var k = 0
    while (k < nw - 1) {
      out(k) = org.apache.spark.sql.catalyst.InternalRow(words(k), words(k + 1))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `word_bigrams(text)`: `array<struct<w1 string, w2 string>>` of
  * adjacent lowercased word pairs (see [[WordBigramsKernel]]); inside
  * whole-stage codegen via a reference-object call per row.
  */
case class WordBigrams(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)

  @transient private lazy val kernel = new WordBigramsKernel

  override def nullSafeEval(input: Any): Any =
    kernel.bigrams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("wordBigramsKernel", kernel,
      classOf[WordBigramsKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bigrams($c);")
  }

  override def prettyName: String = "word_bigrams"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** One-pass codepoint-bigram emission for langid: lowercase once, walk
  * UTF-8 codepoint boundaries ((b & 0xC0) != 0x80 starts a codepoint),
  * emit each adjacent 2-codepoint byte slice. Output is identical to
  * `substr(lower(text), i, 2)` for i in 1..len−1 (both count code
  * points; astral characters are ONE codepoint on both engines).
  */
final class CharBigramsKernel extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  private val EMPTY = new org.apache.spark.sql.catalyst.util.GenericArrayData(
    new Array[Any](0))
  def bigrams(s0: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s0.toLowerCase.getBytes
    val n = b.length
    if (n == 0) return EMPTY
    var starts = new Array[Int](32)
    var nc = 0
    var i = 0
    while (i < n) {
      if ((b(i) & 0xc0) != 0x80) {
        if (nc == starts.length)
          starts = java.util.Arrays.copyOf(starts, nc * 2)
        starts(nc) = i
        nc += 1
      }
      i += 1
    }
    if (nc < 2) return EMPTY
    val out = new Array[Any](nc - 1)
    var k = 0
    while (k < nc - 1) {
      val st = starts(k)
      val en = if (k + 2 < nc) starts(k + 2) else n
      out(k) = UTF8String.fromBytes(b, st, en - st)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `char_bigrams(text)`: array of adjacent 2-codepoint slices of
  * lower(text) (see [[CharBigramsKernel]]); inside whole-stage codegen
  * via a reference-object call per row.
  */
case class CharBigrams(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  @transient private lazy val kernel = new CharBigramsKernel

  override def nullSafeEval(input: Any): Any =
    kernel.bigrams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("charBigramsKernel", kernel,
      classOf[CharBigramsKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bigrams($c);")
  }

  override def prettyName: String = "char_bigrams"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** Frozen-model Naive-Bayes langid scorer: the vocab-sized trained
  * model rides INSIDE the kernel as driver state (the AhoCorasick /
  * quality-model posture — a langid model is megabytes, the corpus is
  * not), so serving is ONE narrow codegen map per doc: walk the
  * codepoint bigrams, accumulate the per-lang integer surrogate sums,
  * argmax with the lexicographically-first tie-break. No per-gram
  * explode, no grams × langs row blowup, no serve-side shuffle at all
  * (the DataFrame form paid two data-sized exchanges and k× the gram
  * spine — ×20 probe: 93 s → this kernel: scan-bound).
  *
  * `langs` must be sorted ascending; `db(l)` is bitlen((tot_l + V)²);
  * `wb(gram)(l)` is bitlen((c+1)²) with absent grams contributing
  * bitlen(1) = 1 — identical integers to the SQL oracle.
  */
final class NbScoreKernel(langs: Array[String], db: Array[Long],
    wb: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]])
  extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  private val k = langs.length
  private val langU8 = langs.map(UTF8String.fromString)

  /** (pred_lang, score) as an InternalRow; null for docs with no
    * bigram features (< 2 codepoints) — callers filter those. */
  def score(s0: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s0.toLowerCase.getBytes
    val n = b.length
    val acc = new Array[Long](k)
    var ng = 0L
    var starts = new Array[Int](32)
    var nc = 0
    var i = 0
    while (i < n) {
      if ((b(i) & 0xc0) != 0x80) {
        if (nc == starts.length)
          starts = java.util.Arrays.copyOf(starts, nc * 2)
        starts(nc) = i
        nc += 1
      }
      i += 1
    }
    if (nc < 2) return null
    var g = 0
    while (g < nc - 1) {
      val st = starts(g)
      val en = if (g + 2 < nc) starts(g + 2) else n
      val gram = UTF8String.fromBytes(b, st, en - st)
      val arr = wb.get(gram)
      var l = 0
      if (arr == null) while (l < k) { acc(l) += 1L; l += 1 }
      else while (l < k) { acc(l) += arr(l); l += 1 }
      ng += 1L
      g += 1
    }
    var best = 0
    var bestScore = acc(0) - ng * db(0)
    var l = 1
    while (l < k) {
      val s = acc(l) - ng * db(l)
      if (s > bestScore) { best = l; bestScore = s }
      l += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(langU8(best), bestScore)
  }
}

/** `nb_lang_score(text)`: struct(pred_lang, score) under a frozen
  * driver-side NB model (see [[NbScoreKernel]]). */
case class NbLangScore(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    kernel: NbScoreKernel)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = false),
    StructField("score", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    kernel.score(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("nbScoreKernel", kernel,
      classOf[NbScoreKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = $ref.score($c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)
  }

  override def prettyName: String = "nb_lang_score"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** `byte_entropy_bits(text)`: the order-free integer entropy surrogate
  * Σ_b c_b·(bitlen(n) − bitlen(c_b)) over the string's UTF-8 byte
  * histogram (c_b = count of byte value b, n = total bytes) —
  * ≈ n·H(doc) in bits at 1-bit magnitude resolution, the
  * compression-ratio-style quality signal (low bits/byte = repetitive
  * boilerplate) without a float log anywhere, so per-corpus sums and
  * the DuckDB replay are exact. One primitive byte pass per row; the
  * 1 KiB histogram is a per-call stack-lifetime allocation.
  */
final class ByteEntropyKernel extends Serializable {
  def bits(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    if (n == 0) return 0L
    val hist = new Array[Int](256)
    var i = 0
    while (i < n) { hist(b(i) & 0xff) += 1; i += 1 }
    val bitN = 64 - java.lang.Long.numberOfLeadingZeros(n.toLong)
    var s2 = 0L
    var v = 0
    while (v < 256) {
      val c = hist(v)
      if (c > 0)
        s2 += c.toLong * (bitN - (64 - java.lang.Long.numberOfLeadingZeros(c.toLong)))
      v += 1
    }
    s2
  }
}

case class ByteEntropyBits(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType

  @transient private lazy val kernel = new ByteEntropyKernel

  override def nullSafeEval(input: Any): Any =
    kernel.bits(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("byteEntropyKernel", kernel,
      classOf[ByteEntropyKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bits($c);")
  }

  override def prettyName: String = "byte_entropy_bits"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** Running-role chat-mask kernel: lowercase, walk space-separated
  * tokens once, flip the role state on the (ASCII) role markers, and
  * emit one '0'/'1' mask char per token — '1' exactly for non-marker
  * tokens under the assistant role. Same tokenization as
  * `filter(split(lower(text), " "), _ =!= "")`: consecutive spaces
  * yield no token. One primitive byte pass per row, zero allocation
  * beyond the output builder.
  */
final class ChatMaskKernel(userMarker: String, assistantMarker: String)
    extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  // tokens fold through UTF8String.toLowerCase (locale-independent)
  // before comparison, so the marker params must fold through the SAME
  // mapping — String.toLowerCase under a tr/az default locale maps 'I'
  // to dotless ı and the marker would never match
  private val um =
    UTF8String.fromString(userMarker).toLowerCase.getBytes
  private val am =
    UTF8String.fromString(assistantMarker).toLowerCase.getBytes

  private def tokEq(b: Array[Byte], s: Int, e: Int, m: Array[Byte]): Boolean = {
    if (e - s != m.length) return false
    var i = 0
    while (i < m.length) { if (b(s + i) != m(i)) return false; i += 1 }
    true
  }

  def mask(text: UTF8String): UTF8String = {
    val b = text.toLowerCase.getBytes
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    var assistant = false
    val n = b.length
    while (i < n) {
      while (i < n && b(i) == ' '.toByte) i += 1
      if (i < n) {
        val s = i
        while (i < n && b(i) != ' '.toByte) i += 1
        if (tokEq(b, s, i, um)) { assistant = false; sb.append('0') }
        else if (tokEq(b, s, i, am)) { assistant = true; sb.append('0') }
        else sb.append(if (assistant) '1' else '0')
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

case class ChatMaskExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    userMarker: String, assistantMarker: String)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType

  @transient private lazy val kernel =
    new ChatMaskKernel(userMarker, assistantMarker)

  override def nullSafeEval(input: Any): Any =
    kernel.mask(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("chatMaskKernel", kernel,
      classOf[ChatMaskKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mask($c);")
  }

  override def prettyName: String = "chat_loss_mask"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** Mojibake-repair kernel — the ftfy fix for CP1252 double-encoding
  * (UTF-8 bytes mis-decoded as Windows-1252, the single most common
  * web-crawl corruption): map every codepoint back to the CP1252 byte
  * it decoded from ("sloppy" variant: the five undefined CP1252 slots
  * fall back to their C1 controls, exactly like ftfy's
  * sloppy-windows-1252), and if EVERY char maps, the byte stream is
  * strictly-valid UTF-8 (overlongs, surrogates and >U+10FFFF
  * rejected), and at least one multibyte sequence appears, re-decode.
  * Any unmappable char, invalid byte stream, or pure-ASCII result
  * leaves the text untouched — one conservative pass, never applied
  * to text that could be genuine Latin-1 prose (a lone é maps to byte
  * 0xE9, which is never valid UTF-8 before a space). One primitive
  * walk per row.
  */
final class MojibakeKernel extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  /** CP1252 byte for a codepoint, or -1 if unmappable. */
  private def mapByte(cp: Int): Int = cp match {
    case 0x20AC => 0x80
    case 0x201A => 0x82
    case 0x0192 => 0x83
    case 0x201E => 0x84
    case 0x2026 => 0x85
    case 0x2020 => 0x86
    case 0x2021 => 0x87
    case 0x02C6 => 0x88
    case 0x2030 => 0x89
    case 0x0160 => 0x8A
    case 0x2039 => 0x8B
    case 0x0152 => 0x8C
    case 0x017D => 0x8E
    case 0x2018 => 0x91
    case 0x2019 => 0x92
    case 0x201C => 0x93
    case 0x201D => 0x94
    case 0x2022 => 0x95
    case 0x2013 => 0x96
    case 0x2014 => 0x97
    case 0x02DC => 0x98
    case 0x2122 => 0x99
    case 0x0161 => 0x9A
    case 0x203A => 0x9B
    case 0x0153 => 0x9C
    case 0x017E => 0x9E
    case 0x0178 => 0x9F
    case c if c <= 0xFF => c
    case _ => -1
  }

  /** Strict UTF-8 validity (RFC 3629): rejects overlongs (C0/C1, E0
    * 80-9F, F0 80-8F), surrogates (ED A0-BF) and > U+10FFFF (F5+, F4
    * 90+). Mirrors the oracle's hex-pair grammar exactly. */
  private def validUtf8(b: Array[Byte], n: Int): Boolean = {
    var i = 0
    while (i < n) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c >= 0xC2 && c <= 0xDF) {
        if (i + 1 >= n || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (c >= 0xE0 && c <= 0xEF) {
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xE0) 0xA0 else 0x80
        val hi = if (c == 0xED) 0x9F else 0xBF
        if (c1 < lo || c1 > hi || (b(i + 2) & 0xC0) != 0x80) return false
        i += 3
      } else if (c >= 0xF0 && c <= 0xF4) {
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xF0) 0x90 else 0x80
        val hi = if (c == 0xF4) 0x8F else 0xBF
        if (c1 < lo || c1 > hi || (b(i + 2) & 0xC0) != 0x80 ||
          (b(i + 3) & 0xC0) != 0x80) return false
        i += 4
      } else return false
    }
    true
  }

  def fix(text: UTF8String): UTF8String = {
    val s = text.toString
    val n = s.length
    val bytes = new Array[Byte](n)
    var bi = 0
    var sawHigh = false
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      val b = mapByte(cp)
      if (b < 0) return text
      bytes(bi) = b.toByte
      bi += 1
      if (b >= 0x80) sawHigh = true
      i += Character.charCount(cp)
    }
    if (!sawHigh || !validUtf8(bytes, bi)) return text
    UTF8String.fromBytes(java.util.Arrays.copyOf(bytes, bi))
  }
}

case class MojibakeFixExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType

  @transient private lazy val kernel = new MojibakeKernel

  override def nullSafeEval(input: Any): Any =
    kernel.fix(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("mojibakeKernel", kernel,
      classOf[MojibakeKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.fix($c);")
  }

  override def prettyName: String = "mojibake_fix"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** One-pass Gopher-repetition kernel: every signal in Rae et al. Table
  * A1's repetition column is WITHIN-document, so the whole 18-value
  * vector is computable row-locally — no (doc, gram) shuffle at any
  * corpus size. Tokenize once (lowercase, space-split, skip empties,
  * per-token codepoint counts + prefix sums), then for each n in 2..10
  * count every token n-gram in an open-addressed map keyed by EXACT
  * gram bytes (FNV probe hash, bytewise equality — no digest, no
  * collision exposure); n ≤ 4 elects the top gram by (count desc,
  * FIRST OCCURRENCE asc — a total order, since exactly one gram starts
  * at each position; replays in SQL as ct DESC, min(j) ASC) and
  * reports count × gram chars; n ≥ 5 marks tokens covered by any gram
  * seen twice and reports covered chars. Output longs: [0] = total
  * token chars, [1..3] = top-gram chars (n = 2..4), [4..9] =
  * dup-coverage chars (n = 5..10); -1 where the doc has no n-gram.
  * The first cut hashed every gram with md5 for a hash tie-break:
  * ~16M digests per sf0.1 pass, 2/3 of the query's wall time — the
  * position tie-break is equally deterministic and free.
  */
final class GopherRepKernel extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  def signals(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = text.toLowerCase.getBytes
    val nB = b.length
    // token boundaries + per-token codepoint counts + prefix sums
    var t = 0
    var i = 0
    while (i < nB) {
      while (i < nB && b(i) == ' '.toByte) i += 1
      if (i < nB) { t += 1; while (i < nB && b(i) != ' '.toByte) i += 1 }
    }
    val starts = new Array[Int](t)
    val ends = new Array[Int](t)
    var k = 0
    i = 0
    while (i < nB) {
      while (i < nB && b(i) == ' '.toByte) i += 1
      if (i < nB) {
        starts(k) = i
        while (i < nB && b(i) != ' '.toByte) i += 1
        ends(k) = i
        k += 1
      }
    }
    val clen = new Array[Long](t)
    k = 0
    while (k < t) {
      var c = 0L
      var j = starts(k)
      while (j < ends(k)) { if ((b(j) & 0xC0) != 0x80) c += 1; j += 1 }
      clen(k) = c
      k += 1
    }
    val pre = new Array[Long](t + 1)
    k = 0
    while (k < t) { pre(k + 1) = pre(k) + clen(k); k += 1 }

    // bytewise gram equality / FNV hash, token-wise (gap-agnostic)
    def gramEq(p: Int, q: Int, n: Int): Boolean = {
      var r = 0
      while (r < n) {
        val ls = starts(p + r); val le = ends(p + r)
        val rs = starts(q + r); val re = ends(q + r)
        if (le - ls != re - rs) return false
        var x = 0
        while (x < le - ls) {
          if (b(ls + x) != b(rs + x)) return false
          x += 1
        }
        r += 1
      }
      true
    }
    def gramHash(p: Int, n: Int): Int = {
      var h = -2128831035 // FNV-1a 32-bit offset basis
      var r = 0
      while (r < n) {
        var x = starts(p + r)
        while (x < ends(p + r)) { h = (h ^ (b(x) & 0xFF)) * 16777619; x += 1 }
        h = (h ^ 0x20) * 16777619 // token separator
        r += 1
      }
      h
    }

    val out = new Array[Long](10)
    out(0) = pre(t)
    var n = 2
    while (n <= 10) {
      val slot = n - 1 // [1..3] top-gram chars, [4..9] dup-coverage chars
      if (t < n) out(slot) = -1L
      else {
        val m = t - n + 1
        var cap = 4
        // target computed in Long: m * 2 in Int overflows for a
        // pathological ~2^30-token document and would leave cap too
        // small, turning the open-addressing probe into an infinite
        // loop (a 2 GiB UTF8String can't actually hold that many
        // tokens, but keep the sizing arithmetic safe regardless)
        while (cap.toLong < 2L * m) cap <<= 1
        val repPos = new Array[Int](cap) // gram position + 1; 0 = empty
        val cnt = new Array[Int](cap)
        val slotOf = new Array[Int](m)
        var p = 0
        while (p < m) {
          var idx = gramHash(p, n) & (cap - 1)
          while (repPos(idx) != 0 && !gramEq(repPos(idx) - 1, p, n))
            idx = (idx + 1) & (cap - 1)
          if (repPos(idx) == 0) { repPos(idx) = p + 1; cnt(idx) = 1 }
          else cnt(idx) += 1
          slotOf(p) = idx
          p += 1
        }
        if (n <= 4) {
          var bestC = -1
          var bestP = Int.MaxValue
          var s = 0
          while (s < cap) {
            if (repPos(s) != 0) {
              val rp = repPos(s) - 1
              if (cnt(s) > bestC || (cnt(s) == bestC && rp < bestP)) {
                bestC = cnt(s); bestP = rp
              }
            }
            s += 1
          }
          out(slot) = bestC.toLong * (pre(bestP + n) - pre(bestP))
        } else {
          val covered = new Array[Boolean](t)
          p = 0
          while (p < m) {
            if (cnt(slotOf(p)) >= 2) {
              var c = p
              while (c < p + n) { covered(c) = true; c += 1 }
            }
            p += 1
          }
          var s = 0L
          k = 0
          while (k < t) { if (covered(k)) s += clen(k); k += 1 }
          out(slot) = s
        }
      }
      n += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

case class GopherRepSignals(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  @transient private lazy val kernel = new GopherRepKernel

  override def nullSafeEval(input: Any): Any =
    kernel.signals(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("gopherRepKernel", kernel,
      classOf[GopherRepKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.signals($c);")
  }

  override def prettyName: String = "gopher_rep_signals"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** GPT-2 pre-tokenization kernel — the regex stage that runs BEFORE
  * byte-pair merging in GPT-2/RoBERTa (and, modulo case-folding
  * tweaks, their descendants):
  * `'s|'t|'re|'ve|'m|'ll|'d| ?\pL+| ?\pN+| ?[^\s\pL\pN]+|\s+(?!\S)|\s+`.
  * RE2 cannot express the lookahead, so the kernel implements the
  * pattern's leftmost-first alternation as an explicit decision
  * procedure (validated against the genuine Python regex on every
  * documented edge): lowercase contractions first; optional single
  * SPACE + a letter / number / other run; a whitespace run donates its
  * LAST space to a following token (the lookahead's effect) unless it
  * reaches end-of-text. Character classes are pinned to the Java∩RE2
  * intersection — \pL and \pN are Unicode, \s is ASCII
  * [ \t\n\x0B\f\r] (Python's regex treats exotic Unicode spaces as
  * \s; this engine deliberately does not — documented deviation, the
  * same pinning every other regex surface here uses). One codepoint
  * walk per row; run ends precomputed right-to-left.
  */
final class Gpt2PreTokKernel extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  private def isN(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  def pretokens(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString
    val n = s.length
    val cl = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      val c: Byte =
        if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r') 0
        else if (Character.isLetter(cp)) 1
        else if (isN(cp)) 2
        else 3
      val w = Character.charCount(cp)
      cl(i) = c
      if (w == 2) cl(i + 1) = c
      i += w
    }
    val re = new Array[Int](n)
    var j = n - 1
    while (j >= 0) {
      re(j) = if (j == n - 1 || cl(j) != cl(j + 1)) j + 1 else re(j + 1)
      j -= 1
    }
    val out = new java.util.ArrayList[UTF8String]()
    var p = 0
    while (p < n) {
      var e = -1
      if (s.charAt(p) == '\'') {
        val three = if (p + 3 <= n) s.substring(p + 1, p + 3) else ""
        val two = if (p + 2 <= n) s.substring(p + 1, p + 2) else ""
        if (three == "re" || three == "ve" || three == "ll") e = p + 3
        else if (two == "s" || two == "t" || two == "m" || two == "d")
          e = p + 2
      }
      if (e < 0) {
        if (cl(p) != 0) e = re(p)
        else {
          val q = re(p)
          if (q >= n) e = q
          else if (q - p == 1) e = if (s.charAt(p) == ' ') re(q) else q
          else e = q - 1
        }
      }
      out.add(UTF8String.fromString(s.substring(p, e)))
      p = e
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[Any]])
  }
}

case class Gpt2PreTok(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)

  @transient private lazy val kernel = new Gpt2PreTokKernel

  override def nullSafeEval(input: Any): Any =
    kernel.pretokens(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("gpt2PreTokKernel", kernel,
      classOf[Gpt2PreTokKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.pretokens($c);")
  }

  override def prettyName: String = "gpt2_pretokenize"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** One-pass winnowing kernel: lowercase, split on the space byte, hash
  * every word k-gram (md5, top 60 bits — EXACTLY DuckDB's
  * `('0x' || substr(md5(gram), 1, 15))::BIGINT`, so the selection
  * replays in SQL), slide a w-window of gram hashes keeping each
  * window's minimum, dedup in first-occurrence order. The interpreted
  * formulation (transform + slice + concat_ws + md5 per gram) ran
  * single-threaded minutes at sf0.1 — per-row lambdas over a one-file
  * corpus; this is one primitive walk per row.
  */
final class WinnowKernel(k: Int, w: Int) extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  @transient private lazy val md5 =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val EMPTY = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    .fromPrimitiveArray(new Array[Long](0))
  private val SPACE = Array(' '.toByte)

  /** md5-60bit hash of every word k-gram, POSITIONAL: element `i`
    * (0-based) is the gram starting at word `i+1` (1-based) — the gram
    * layer alone, without the window-min selection, so callers can
    * address token OFFSETS (duplicated-span detection). `null` when the
    * text has fewer than k words. */
  private def gramHashes(s0: UTF8String): Array[Long] = {
    val b = s0.toLowerCase.getBytes
    // word boundaries
    var starts = new Array[Int](16); var ends = new Array[Int](16); var nw = 0
    var i = 0; var st = 0
    val n = b.length
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        if (i > st) {
          if (nw == starts.length) {
            starts = java.util.Arrays.copyOf(starts, nw * 2)
            ends = java.util.Arrays.copyOf(ends, nw * 2)
          }
          starts(nw) = st; ends(nw) = i; nw += 1
        }
        st = i + 1
      }
      i += 1
    }
    val nGrams = nw - k + 1
    if (nGrams < 1) return null
    val gh = new Array[Long](nGrams)
    val d = md5.get()
    var g = 0
    while (g < nGrams) {
      d.reset()
      var j = 0
      while (j < k) {
        if (j > 0) d.update(SPACE)
        d.update(b, starts(g + j), ends(g + j) - starts(g + j))
        j += 1
      }
      val h = d.digest()
      // top 60 bits of the digest == the 15-hex-digit prefix as BIGINT
      var u = 0L
      var bi = 0
      while (bi < 8) { u = (u << 8) | (h(bi) & 0xffL); bi += 1 }
      gh(g) = u >>> 4
      g += 1
    }
    gh
  }

  /** Positional gram hashes as Catalyst data (see [[gramHashes]]). */
  def grams(s0: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val gh = gramHashes(s0)
    if (gh == null) EMPTY
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(gh)
  }

  def fps(s0: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val gh = gramHashes(s0)
    if (gh == null) return EMPTY
    val nGrams = gh.length
    if (nGrams < w) return EMPTY
    // sliding-window minima, dedup in first-occurrence order
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s <= nGrams - w) {
      var m = gh(s)
      var j = 1
      while (j < w) { if (gh(s + j) < m) m = gh(s + j); j += 1 }
      seen.add(m)
      s += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var oi = 0
    while (it.hasNext) { out(oi) = it.next(); oi += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `winnow_fps(text)`: the winnowed fingerprint set as `array<bigint>`
  * (see [[WinnowKernel]]); empty when the doc has fewer than w k-gram
  * windows. Inside whole-stage codegen via a reference-object call.
  */
case class WinnowFps(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    k: Int, w: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1 && w >= 1)
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  @transient private lazy val kernel = new WinnowKernel(k, w)

  override def nullSafeEval(input: Any): Any =
    kernel.fps(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("winnowKernel", kernel,
      classOf[WinnowKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.fps($c);")
  }

  override def prettyName: String = "winnow_fps"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** `token_gram_hashes(text, k)`: the POSITIONAL md5-60bit hash of every
  * word k-gram — element `i` (0-based) is the gram starting at word
  * `i+1` — i.e. the winnowing gram layer WITHOUT the window-min
  * selection, so consumers can address token offsets (duplicated-span
  * detection). Same engine-portable hash as [[WinnowFps]]
  * (`('0x' || substr(md5(gram), 1, 15))::BIGINT` replays it in DuckDB);
  * empty when the doc has fewer than k words. Inside whole-stage
  * codegen via a reference-object call.
  */
case class TokenGramHashes(
    child: org.apache.spark.sql.catalyst.expressions.Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1)
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  @transient private lazy val kernel = new WinnowKernel(k, 1)

  override def nullSafeEval(input: Any): Any =
    kernel.grams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("gramKernel", kernel,
      classOf[WinnowKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.grams($c);")
  }

  override def prettyName: String = "token_gram_hashes"
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}

/** Text-corpus analysis for training-data pipelines: language ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  * Every metric is a pure column expression — narrow, codegen'd, and
  * reproducible by a SQL oracle.
  */
object TextAnalysis {

  /** NFC canonical composition as a Column (see [[NfcNormalize]]). */
  def nfcNormalize(text: Column): Column =
    graftshim.exprToColumn(NfcNormalize(graftshim.columnToExpr(text)))

  /** Positional word-k-gram md5-60bit hashes as a Column
    * (see [[TokenGramHashes]]). */
  def tokenGramHashes(text: Column, k: Int): Column =
    graftshim.exprToColumn(TokenGramHashes(graftshim.columnToExpr(text), k))

  private def tokens(text: Column): Column = split(lower(text), " ")

  /** Exact 1e-4-grid truncated ratio num/den: (num·10⁴ div den) in
    * integer arithmetic, widened to double ONCE (k/10000.0 is a single
    * correctly-rounded IEEE op — bit-identical on every engine). This
    * is the one blessed formulation for every oracled ratio metric:
    * floor(double·10⁴) sits one ulp below the grid on boundary
    * fractions (1 − 8/10 → 1999 vs 2000) and flips between engines
    * with constant-folding order. Keep all call sites on THIS helper so
    * they cannot desynchronize from their oracles.
    */
  // exact long division core: IntegralDivide, NOT Column./ — Spark's
  // `/` on longs is a double division, which past 2^53 truncates one
  // ulp below the exact quotient (the DuckDB oracles use exact `//`).
  // PRECONDITION num >= 0: truncation == floor there, so no pmod
  // floor-correction is needed (RangeJoin.binOf keeps it for its
  // possibly-negative epoch axis). Every caller here divides counts.
  private[graft] def intDiv(num: Column, den: Column): Column =
    graftshim.exprToColumn(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        graftshim.columnToExpr(num),
        graftshim.columnToExpr(den.cast("long"))))

  private[graft] def frac4(num: Column, den: Column): Column =
    intDiv(num.cast("long") * lit(10000L), den) / lit(10000.0)

  /** Stopword-marker language-ID heuristic (n-gram/marker style): score
    * each language by its marker-token hits, pick the best, 'und' when
    * nothing matches. The marker lists are tiny; real deployments swap in
    * larger n-gram tables — the *plumbing* (scored CASE over token
    * filters) is the operator.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    def hitCount(ws: Seq[String]): Column =
      size(filter(t, w => ws.map(s => w === lit(s)).reduce(_ || _)))
    val en = hitCount(Seq("the", "a", "of", "and"))
    val de = hitCount(Seq("der", "die", "das", "und"))
    val fr = hitCount(Seq("le", "la", "les", "et"))
    when(en >= de && en >= fr && en > 0, lit("en"))
      .when(de >= fr && de > 0, lit("de"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  /** Per-document quality metrics: token count, mean token length,
    * stopword ratio, uppercase ratio, and a composite score. All double
    * arithmetic with single rounding at the end.
    */
  def quality(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val stop = size(filter(t, w =>
      w === "the" || w === "a" || w === "and" || w === "of"))
    // All ratio metrics are defined on an exact 1e-4 integer grid —
    // see [[frac4]] for why floor(double·10⁴) is NOT engine-stable at
    // grid boundaries. These sites pre-multiply and compose (the score
    // divides by 10 again), so they use the shared [[intDiv]] core
    // rather than frac4 directly.
    val lenE4 = (length(col("text")) - (nTok - lit(1))).cast("long") * lit(10000L)
    val stopE4 = stop.cast("long") * lit(10000L)
    val stopRatioE4 = intDiv(stopE4, nTok.cast("long"))
    // composite score on the same grid: 0.7·min(n/100,1) + 0.3·min(10·stop/n,1)
    val scoreE4 = (least(nTok.cast("long") * lit(100L), lit(10000L)) * lit(7L) +
      least(intDiv(stopE4 * lit(10L), nTok.cast("long")), lit(10000L)) * lit(3L))
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (intDiv(lenE4, nTok.cast("long")) / lit(10000.0)).as("mean_token_len"),
      (stopRatioE4 / lit(10000.0)).as("stopword_ratio"),
      (intDiv(scoreE4, lit(10L)) / lit(10000.0)).as("quality_score"))
  }

  /** Gopher quality-rule gate (Rae et al. 2021 §A1.1 — the standard
    * pretraining pre-filter every modern corpus pipeline applies):
    * per-document rule signals plus the composite pass verdict. Rules
    * (word-count bounds parameterized; canonical paper values are
    * [50, 100k], scaled down for short fixtures): word count in
    * [minWords, maxWords]; mean word length in [3, 10] chars; no word
    * longer than 30 chars; ≥ 80% of words contain an alphabetic
    * character; at least 2 DISTINCT stopwords from the canonical
    * 8-word list (the "natural language" test); symbolic-word fraction
    * (`#` or `...`) ≤ 10%. Every ratio sits on the exact 1e-4 grid
    * ([[intDiv]]), so verdicts are bit-stable and fully SQL-replayable.
    * Pure narrow map over one row-local token array — zero shuffle at
    * any corpus scale.
    */
  def gopherRules(docs: DataFrame, minWords: Int = 5,
      maxWords: Int = 100000,
      stopwords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with")): DataFrame = {
    val stops = stopwords
    val pre = docs.select(col("doc_id"),
      filter(split(lower(col("text")), " "), w => w =!= "").as("__ws"))
    val ws = col("__ws")
    val nW = size(ws).cast("long")
    // 0-word docs fail the count rule anyway; the guarded denominator
    // only keeps the ANSI integer division total
    val den = greatest(nW, lit(1L))
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
    val meanLenE4 = intDiv(sumLen * lit(10000L), den)
    val alphaE4 = intDiv(
      size(filter(ws, w => w.rlike("[a-z]"))).cast("long") * lit(10000L), den)
    val nStop = size(array_intersect(array_distinct(ws),
      array(stops.map(lit): _*))).cast("long")
    val symE4 = intDiv(
      size(filter(ws, w => w.contains("#") || w.contains("...")))
        .cast("long") * lit(10000L), den)
    val maxLen = coalesce(
      array_max(transform(ws, w => length(w))).cast("long"), lit(0L))
    pre.select(col("doc_id"),
      nW.as("n_words"),
      (meanLenE4 / lit(10000.0)).as("mean_word_len"),
      (alphaE4 / lit(10000.0)).as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      (symE4 / lit(10000.0)).as("symbol_word_frac"),
      maxLen.as("max_word_len"),
      gopherPass(ws, minWords, maxWords, stops).as("pass"))
  }

  /** The composite Gopher verdict over a pre-projected token-array
    * attribute — shared by [[gopherRules]] (which also reports the
    * per-rule signals) and [[filterFunnel]] (which needs only the
    * verdict, inline, to stay one-pass). */
  private[graft] def gopherPass(ws: Column, minWords: Int, maxWords: Int,
      stops: Seq[String]): Column = {
    val nW = size(ws).cast("long")
    val den = greatest(nW, lit(1L))
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
    val meanLenE4 = intDiv(sumLen * lit(10000L), den)
    val alphaE4 = intDiv(
      size(filter(ws, w => w.rlike("[a-z]"))).cast("long") * lit(10000L), den)
    val nStop = size(array_intersect(array_distinct(ws),
      array(stops.map(lit): _*))).cast("long")
    val symE4 = intDiv(
      size(filter(ws, w => w.contains("#") || w.contains("...")))
        .cast("long") * lit(10000L), den)
    val maxLen = coalesce(
      array_max(transform(ws, w => length(w))).cast("long"), lit(0L))
    nW >= minWords && nW <= maxWords &&
      meanLenE4 >= lit(30000L) && meanLenE4 <= lit(100000L) &&
      maxLen <= lit(30L) && alphaE4 >= lit(8000L) &&
      nStop >= lit(2L) && symE4 <= lit(1000L)
  }

  /** Corpus filter FUNNEL — the survivor dashboard every production
    * cleaning pipeline reports (how many documents each stage admits):
    * ingested → Gopher quality gate → language match → blocklist clean
    * → exact-dedup survivor. Stages compose as prefix conjunctions of
    * per-doc flags computed in ONE scan (quality + language + one
    * Aho–Corasick blocklist pass); the dedup stage elects min-doc_id
    * survivors among stage-3 survivors via a window over the content
    * hash — the funnel's only data-sized exchange (the same shuffle
    * exact dedup itself pays); the final aggregation collapses to one
    * row before exploding into the 5 stage rows.
    */
  def filterFunnel(docs: DataFrame, lang: String, stopwords: Seq[String],
      blockTerms: Seq[String]): DataFrame = {
    // token array projected to an ATTRIBUTE first: lambda bodies get no
    // common-subexpression elimination, so an inlined gopherPass would
    // re-split the text once per rule (the dupPassages precedent)
    val pre = docs.select(col("doc_id"),
        md5(col("text")).as("__h"),
        filter(split(lower(col("text")), " "), w => w =!= "").as("__ws"),
        (col("lang") === lang).as("__l"),
        (size(graft.functions.AhoCorasick.ac_matches(lower(col("text")),
          normalizeLexicon(blockTerms))) === 0).as("__b"))
      .select(col("doc_id"), col("__h"),
        gopherPass(col("__ws"), 5, 100000, stopwords).as("__g"),
        col("__l"), col("__b"))
      .withColumn("__s3", col("__g") && col("__l") && col("__b"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val sv = col("__s3") &&
      col("doc_id") === min(when(col("__s3"), col("doc_id"))).over(w)
    pre.select(col("__g"), col("__l"), col("__s3"), sv.as("__sv"))
      .agg(count(lit(1)).as("n0"),
        count(when(col("__g"), 1)).as("n1"),
        count(when(col("__g") && col("__l"), 1)).as("n2"),
        count(when(col("__s3"), 1)).as("n3"),
        count(when(col("__sv"), 1)).as("n4"))
      .select(explode(array(
        struct(lit("0_ingested").as("stage"), col("n0").as("n_docs")),
        struct(lit("1_quality").as("stage"), col("n1").as("n_docs")),
        struct(lit("2_language").as("stage"), col("n2").as("n_docs")),
        struct(lit("3_blocklist").as("stage"), col("n3").as("n_docs")),
        struct(lit("4_dedup").as("stage"), col("n4").as("n_docs")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
  }

  /** Corpus token statistics per source (whitespace tokenization; a
    * BPE-ish sub-token estimate as chars/4, the common LLM rule of
    * thumb).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long")).as("regex_tokens"),
        sum(ceil(length(col("text")).cast("double") / 4.0).cast("long"))
          .as("est_bpe_tokens"))
      .orderBy(col("source"))

  /** Per-document SUBWORD token counts — the real token-budget currency
    * (tokenStats' `est_bpe_tokens` is a chars/4 estimate; this is the
    * actual greedy longest-match encode under the literal vocab, one
    * codegen trie walk per row — see [[graft.functions.BpeTokenizer]]).
    * `n_words` counts non-empty whitespace tokens for the words→subwords
    * expansion ratio the mixers care about.
    */
  def bpeTokenStats(docs: DataFrame,
      vocab: Seq[String] = graft.functions.BpeTokenizer.defaultVocab): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit("[^ ]+")).cast("long").as("n_words"),
      graft.functions.BpeTokenizer.bpe_count(lower(col("text")), vocab)
        .as("n_tokens_bpe"))
      .orderBy(col("doc_id"))

  /** Subword count as a budget-currency column for the packing/mixing
    * operators: `packSequences`/`corpusMix` take any token-count column,
    * and THIS is the production one. */
  def bpeTokenCount(text: Column,
      vocab: Seq[String] = graft.functions.BpeTokenizer.defaultVocab): Column =
    graft.functions.BpeTokenizer.bpe_count(lower(text), vocab)

  /** Token-ID encode (`input_ids`): the materialized subword sequence a
    * trainer actually consumes — one codegen trie walk per row. */
  def bpeEncodeIds(text: Column,
      vocab: Seq[String] = graft.functions.BpeTokenizer.defaultVocab): Column =
    graft.functions.BpeTokenizer.bpe_encode(lower(text), vocab)

  /** Modular rolling-hash fingerprint of an id array (the
    * text_rolling_fp constant pair): the exact, engine-stable surface
    * the id-sequence oracles compare on. Codegen expression, not a
    * higher-order `aggregate` lambda — the interpreted fold over a 2M-
    * token packed batch was the dominant cost of the whole query. */
  def idsFingerprint(ids: Column): Column =
    graft.functions.VectorExpressions.int_array_rolling_hash(ids)

  /** Materialized PACKED training sequences: documents pack into
    * token-budget bins (the two-level prefix-sum `packSequences` plan),
    * then each bin assembles its concatenated `input_ids` in doc order —
    * the batch artifact sequence packing exists to produce. Per bin:
    * doc count, token total, and the ids (plus their fingerprint for
    * the oracle surface). */
  def packedSequenceIds(docs: DataFrame, budget: Long,
      vocab: Seq[String] = graft.functions.BpeTokenizer.defaultVocab): DataFrame = {
    val withIds = docs.select(col("doc_id"), col("source"),
        bpeEncodeIds(col("text"), vocab).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
    val binned = graft.pipeline.Pipeline.packSequences(withIds,
      col("source"), col("doc_id"), col("n_tokens"), budget)
    // ONE collected struct array per bin; ids flattening and the
    // doc_offsets prefix sums are post-projections over it (three
    // separate collect_list aggregates would triple the agg state).
    // doc_offsets = [0, n₁, n₁+n₂, …, total]: where each document
    // STARTS inside input_ids plus the trailing total — the
    // attention-boundary metadata a trainer needs to mask
    // cross-document attention inside a packed sequence. One codegen
    // pass over the per-doc counts (LongArrayPrefixOffsets); the
    // count-extract transform stays linear in the bin's ~tens of docs.
    binned.groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        array_sort(collect_list(
          struct(col("doc_id"), col("ids"), col("n_tokens")))).as("__docs"))
      .select(col("source"), col("bin"), col("n_docs"), col("total_tokens"),
        flatten(transform(col("__docs"), x => x.getField("ids")))
          .as("input_ids"),
        graft.functions.VectorExpressions.long_array_prefix_offsets(
          transform(col("__docs"), x => x.getField("n_tokens")))
          .as("doc_offsets"))
  }

  /** Content-defined fingerprint: md5 over the sorted distinct token set
    * (word-order/duplication insensitive — catches shuffled near-dups
    * that exact hashing misses). Deterministic on any engine.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")
        .cast("binary")).as("fingerprint"))

  /** Polynomial rolling hash over tokens (Rabin-Karp style) — the
    * order-sensitive fingerprint; higher-order aggregate, no UDF.
    */
  def rollingHash(text: Column): Column =
    // one kernel pass (RollingFp60) instead of an interpreted
    // aggregate() lambda re-evaluating an md5+conv expression tree per
    // token; same md5-60bit token hash, same mod-2^31-1 fold, so the
    // fingerprints and their list_reduce oracle replay bit-identically.
    // lower() stays in Catalyst — the kernel sees pre-folded text.
    graft.functions.SimHashExpression.rollingFp60(lower(text))

  def rollingFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), rollingHash(col("text")).as("rhash"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * selection): per doc, hash every word k-gram, slide a window of w
    * consecutive gram hashes, keep the minimum of each window, dedup.
    * The winnowing guarantee: any two docs sharing a run of at least
    * w+k−1 tokens share at least one fingerprint — a DENSITY-BOUNDED
    * (≈ 2/(w+1) of grams) alternative to keeping every window hash
    * (dup_passages) and a deterministic alternative to MinHash. Gram
    * hashes are the engine-portable md5-60bit used by rollingHash, so
    * the selection itself replays in DuckDB — fingerprint VALUES, not
    * just their artifacts, are oracled. Row-local array pipeline: the
    * token array is projected to an attribute first (lambda bodies get
    * no CSE), grams/windows never leave the row.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame =
    docs
      .select(col("doc_id"),
        graftshim.exprToColumn(WinnowFps(
          graftshim.columnToExpr(col("text")), k, w)).as("fps"))
      .filter(size(col("fps")) > 0)

  /** Candidate near-dup pairs from shared winnowed fingerprints (the
    * MOSS report): explode the per-doc fingerprint sets, self-join on
    * the fingerprint, count distinct shared prints per pair. Boilerplate
    * guard for corpus scale: fingerprints present in more than `maxDf`
    * docs are dropped BEFORE the pair join (the jaccard df-cut
    * precedent — one hot print must not go quadratic); the cut is part
    * of the declared semantics, replayed by the oracle.
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Int = 1000): DataFrame = {
    // three consumers (df-cut agg + both self-join sides): materialize
    // the exploded print list once (the lshCandidatePairs precedent)
    val e = winnowFingerprints(docs, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .localCheckpoint(eager = false)
    val kept = e.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val ek = e.join(kept, Seq("fp"))
    ek.as("a").join(ek.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Benchmark decontamination: training documents sharing any word
    * n-gram with the eval set (the standard 13-gram-overlap check, n
    * scaled to the corpus). Both sides reduce to hashed shingle sets
    * row-locally (no explode→distinct shuffle); the contaminated-doc
    * report is one join on the shingle hash. The eval side is distinct
    * shingles only — a benchmark is tiny next to a training corpus, so
    * AQE broadcasts it and the corpus is touched exactly once.
    */
  def contamination(train: DataFrame, eval: DataFrame, n: Int = 3): DataFrame = {
    def sh(df: DataFrame) = df.select(
      col("doc_id"),
      explode(graft.functions.MinHashExpression.shingle_set(
        split(lower(col("text")), " "), n)).as("shingle"))
    sh(train)
      .join(sh(eval).select(col("shingle")).distinct(), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** QUANTITATIVE decontamination (the GPT-3 appendix-C form): per
    * train doc, the FRACTION of its distinct n-grams shared with the
    * eval set on the exact 1e-4 grid, plus the removal verdict at the
    * `thetaE4` threshold. [[contamination]] flags ANY overlap; real
    * pipelines remove on a fraction threshold — random vocabulary
    * collisions produce small nonzero overlap everywhere, and only
    * near-copies cross θ. Train docs with zero overlap stay in the
    * output (the report covers the corpus); docs with fewer than n
    * words have no n-grams and drop out on both engines.
    */
  def contaminationOverlap(train: DataFrame, eval: DataFrame, n: Int = 3,
      thetaE4: Long = 2000L): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.MinHashExpression.shingle_set(
        split(lower(col("text")), " "), n)).as("shingle"))
    val tr = sh(train)
    val tot = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
    val shared = tr.join(sh(eval).select(col("shingle")).distinct(),
        Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val fE4 = intDiv(coalesce(col("n_shared"), lit(0L)) * lit(10000L),
      col("n_ngrams"))
    tot.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_ngrams"),
        (fE4 / lit(10000.0)).as("overlap_frac"),
        (fE4 >= thetaE4).as("flagged"))
  }

  /** Decontamination via a broadcast Bloom filter: the eval side's
    * distinct shingle hashes are folded into one Bloom sketch
    * (`DataFrameStatFunctions.bloomFilter` — a mergeable two-pass
    * aggregate), and the corpus is then filtered by a membership probe
    * that ships with the closure. Compared to [[contamination]]'s join,
    * the corpus-side shuffle disappears entirely: the probe is a narrow
    * map, and the only data movement is the O(bits) sketch broadcast —
    * the shape that wins when the corpus is 100 TB and the benchmark is
    * megabytes. False positives (rate `fpp`) can only over-flag; the
    * join form is the exact twin (spec gates superset + FP rate).
    */
  def contaminationBloom(train: DataFrame, eval: DataFrame, n: Int = 3,
      fpp: Double = 0.001): DataFrame = {
    def sh(df: DataFrame) = df.select(
      col("doc_id"),
      explode(graft.functions.MinHashExpression.shingle_set(
        split(lower(col("text")), " "), n)).as("shingle"))
    val evalShingles = sh(eval).select(xxhash64(col("shingle")).as("h"))
    val expected = math.max(evalShingles.count(), 1L)
    val bloom = evalShingles.stat.bloomFilter("h", expected, fpp)
    val mightContain = udf((h: Long) => bloom.mightContainLong(h))
    sh(train)
      .filter(mightContain(xxhash64(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged_ngrams"))
  }

  /** Gopher-style repetition signals: duplicate-token fraction (row-local
    * expression) and top-2-gram fraction. The 2-gram mode is computed
    * distributed — explode → per-(doc, gram) count → per-doc max/total —
    * NOT as a row-local O(len²) nested loop, so a 10k-token document
    * costs 10k rows, not 10⁸ comparisons.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // truncated ratios via the shared exact-grid [[frac4]] (see its doc
    // for why floor(double·10⁴) is not engine-stable)
    val t = tokens(col("text"))
    val rowStats = docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      frac4((size(t) - size(array_distinct(t))).cast("long"),
        size(t).cast("long")).as("dup_token_frac"))
    val words = col("__words")
    val grams = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("__words"))
      .filter(size(words) >= 2)
      .select(col("doc_id"),
        explode(transform(words, (w, i) =>
          when(i <= size(words) - 2,
            concat_ws(" ", w, element_at(words, i + lit(2)))))).as("gram"))
      .filter(col("gram").isNotNull)
    val gramStats = grams
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("ct"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ct")).as("n_2grams"), max(col("ct")).as("top_2gram_ct"))
      .select(col("doc_id"), col("n_2grams"), col("top_2gram_ct"),
        frac4(col("top_2gram_ct"), col("n_2grams")).as("top_2gram_frac"))
    rowStats.join(gramStats, Seq("doc_id"))
  }

  /** The FULL Gopher repetition table (Rae et al. 2021, Table A1):
    * per document and per n,
    *  - n = 2..4: fraction of characters contained in the most
    *    frequent n-gram (occurrences × gram chars / total token chars
    *    — UNCAPPED, as in the published reimplementations: heavily
    *    periodic text can exceed 1.0);
    *  - n = 5..10: fraction of characters covered by n-grams occurring
    *    more than once (coverage UNION over token positions, each
    *    token weighted by its codepoint length).
    * The flag column applies the paper's removal thresholds (0.20,
    * 0.18, 0.16 / 0.15 down to 0.10), compared on the exact 1e-4 grid.
    *
    * Engine shape: every signal is WITHIN-document, so the whole
    * 18-value vector comes from ONE codegen kernel walk per row
    * ([[GopherRepKernel]] — bytewise gram map, FIRST-OCCURRENCE
    * tie-break: replays in SQL as ct DESC, min(j) ASC with no digest
    * anywhere) — ZERO shuffle at any corpus size. The
    * first cut of this operator ran the (doc, n, gh) count through a
    * 9-way union + shuffle + coverage-explode distinct: 3.3 s at
    * sf0.1 for data that never leaves its row. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val sig = graftshim.exprToColumn(GopherRepSignals(
      graftshim.columnToExpr(col("text"))))
    val thr = when(col("n") === 2L, 2000L).when(col("n") === 3L, 1800L)
      .when(col("n") === 4L, 1600L).when(col("n") === 5L, 1500L)
      .when(col("n") === 6L, 1400L).when(col("n") === 7L, 1300L)
      .when(col("n") === 8L, 1200L).when(col("n") === 9L, 1100L)
      .otherwise(1000L)
    docs.select(col("doc_id"), sig.as("__s"))
      .filter(element_at(col("__s"), 1) > 0L)
      .select(col("doc_id"), element_at(col("__s"), 1).as("__total"),
        posexplode(slice(col("__s"), 2, 9)))
      .toDF("doc_id", "__total", "__i", "chars")
      .filter(col("chars") >= 0L)
      .select(col("doc_id"), (col("__i") + 2L).cast("long").as("n"),
        col("__total"), col("chars"))
      .withColumn("metric", when(col("n") <= 4L, "top").otherwise("dup"))
      .withColumn("__e4", intDiv(col("chars") * lit(10000L), col("__total")))
      .select(col("doc_id"), col("n"), col("metric"),
        (col("__e4") / lit(10000.0)).as("char_frac"),
        (col("__e4") > thr).as("flagged"))
  }

  /** Gopher-style duplicate-line fraction: of a document's sentences
    * (". "-separated), what share are exact repeats of an earlier one.
    * Row-local array pipeline on the exact 1e-4 integer grid — narrow,
    * codegen'd, zero shuffle (the within-document complement of the
    * corpus-wide [[dupPassages]]).
    */
  def dupLineFraction(docs: DataFrame): DataFrame = {
    val lines = filter(split(col("text"), "\\. "), s => length(s) > 0)
    val nL = size(lines)
    val nDistinct = size(array_distinct(lines))
    docs.filter(nL >= 1).select(
      col("doc_id"),
      nL.as("n_lines"),
      (nL - nDistinct).as("n_dup_lines"),
      frac4((nL - nDistinct).cast("long"), nL.cast("long"))
        .as("dup_line_frac"))
  }

  /** PII redaction: emails, US-style phone numbers, and IPv4 addresses
    * replaced by type tokens. Pure regexp_replace chain (codegen'd,
    * narrow); the patterns stay in the syntax intersection of Java regex
    * and RE2 so any engine reproduces them.
    */
  def redactPii(text: Column): Column = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
    val ip = "(^|[^0-9.])((\\d{1,3}\\.){3}\\d{1,3})([^0-9.]|$)"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        phone, "<PHONE>"),
      ip, "$1<IP>$4")
  }

  /** Unigram-LM (SentencePiece) subword statistics under a shipped
    * integer-cost piece vocabulary: per doc, word/piece counts and the
    * exact total Viterbi cost (the corpus "unigram log-likelihood" in
    * integer surrogate units — the SentencePiece serving path next to
    * the greedy-match and merge-order BPE encoders). Words the
    * vocabulary cannot cover (or longer than `maxLen`) count as OOV
    * and stay out of the sums.
    *
    * Scale: the Viterbi DP runs once per DISTINCT word (vocab-sized
    * frame) and broadcast-joins back to the corpus — the
    * mergeOrderTokenStats train/serve split; the corpus itself is
    * touched by one tokenize scan and one per-doc aggregation.
    */
  def unigramStats(docs: DataFrame, vocab: Seq[(String, Long)],
      maxLen: Int = 12): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), " "), w => w =!= ""))
        .as("word"))
    val segs = words.select(col("word")).distinct()
      .select(col("word"),
        graft.functions.UnigramTokenizer.unigram_segment(
          col("word"), vocab, maxLen).as("__s"))
    words.join(broadcast(segs), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        count(when(col("__s").isNull, 1)).as("n_oov_words"),
        coalesce(sum(col("__s.n_pieces")), lit(0L)).as("n_pieces"),
        coalesce(sum(col("__s.cost")), lit(0L)).as("cost_sum"))
  }

  /** WordPiece (BERT) subword statistics under a shipped piece
    * vocabulary: per doc, word / `[UNK]`-word / piece counts from the
    * greedy longest-match-first segmentation
    * ([[graft.functions.WordPieceSegment]]) — the third serving path
    * next to greedy-trie BPE and unigram Viterbi. `[UNK]` words emit
    * exactly one piece (the `[UNK]` token), matching every BERT
    * runtime.
    *
    * Scale: the greedy loop runs once per DISTINCT word (vocab-sized
    * frame, broadcast-joined back) — the [[unigramStats]] posture; the
    * corpus pays one tokenize scan and one per-doc aggregation.
    */
  def wordpieceStats(docs: DataFrame, vocab: Seq[String],
      maxLen: Int = 12): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), " "), w => w =!= ""))
        .as("word"))
    val segs = words.select(col("word")).distinct()
      .select(col("word"),
        graft.functions.WordPieceTokenizer.wordpiece_segment(
          col("word"), vocab, maxLen).as("__s"))
    words.join(broadcast(segs), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        count(when(col("__s.is_unk"), 1)).as("n_unk_words"),
        sum(col("__s.n_pieces")).as("n_pieces"))
  }

  /** Viterbi-EM (hard-EM) unigram-LM TRAINING — the SentencePiece
    * training loop in its deterministic integer form: each round
    * (1) segments every distinct word under the current piece costs
    * (the [[unigramStats]] Viterbi DP), (2) counts pieces weighted by
    * corpus word frequency, and (3) re-derives every cost with the
    * exact bit-length surrogate `10 + 4·(bitlen(total) − bitlen(cnt))`
    * (unseen pieces: `10 + 4·(bitlen(total) + 1)`) — all integers, so
    * the whole fixed number of rounds replays bit-identically in SQL.
    * Returns the final (piece, n_count, cost) table: counts from the
    * last segmentation, costs derived from them.
    *
    * Scale: the corpus is scanned ONCE (the word-frequency table,
    * lazily checkpointed, is vocabulary-sized); every round then runs
    * on vocab-sized frames, and the per-round piece counts collect to
    * the driver as trainer state (the BPE delta-trainer pattern —
    * O(|vocab|), never corpus-sized).
    */
  /** Corpus word-frequency table — the ONE corpus scan every unigram
    * training variant shares (vocab-sized, lazily checkpointed). */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(
        explode(filter(split(lower(col("text")), " "), w => w =!= ""))
          .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .localCheckpoint(eager = false)

  /** The hard-EM inner loop over a FIXED piece set: segment distinct
    * words under current costs, count pieces weighted by corpus word
    * frequency, re-derive every cost with the exact bit-length
    * surrogate. Returns (final costs, last-round counts) — O(|vocab|)
    * driver trainer state per round, vocab-sized frames throughout. */
  private def unigramEmRounds(wc: DataFrame, vocab: Seq[(String, Long)],
      rounds: Int, maxLen: Int)
    : (Seq[(String, Long)], Map[String, Long]) = {
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    var costs = vocab
    var lastCounts: Map[String, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val counts = wc.select(col("wcnt"),
          graft.functions.UnigramTokenizer.unigram_segment(
            col("word"), costs, maxLen).as("__s"))
        .filter(col("__s").isNotNull)
        .select(explode(split(col("__s.seg"), "\\|")).as("piece"), col("wcnt"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      costs = vocab.map { case (p, _) =>
        p -> (counts.get(p) match {
          case Some(c) => 10L + 4L * (bitlen(total) - bitlen(c))
          case None => 10L + 4L * (bitlen(total) + 1L)
        })
      }
      lastCounts = counts
    }
    (costs, lastCounts)
  }

  def unigramTrainCosts(docs: DataFrame, vocab0: Seq[(String, Long)],
      rounds: Int = 2, maxLen: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    val (costs, lastCounts) =
      unigramEmRounds(wordFreq(docs), vocab0, rounds, maxLen)
    import spark.implicits._
    val out = costs.map { case (p, c) => (p, lastCounts.getOrElse(p, 0L), c) }
    out.toDF("piece", "n_count", "cost")
  }

  /** SentencePiece's OTHER half — vocabulary PRUNING (Kudo 2018 §3.2's
    * shrink step, in the deterministic hard-EM form): run `rounds` EM
    * rounds over the seed vocabulary, drop every multi-char piece whose
    * corpus-weighted count falls below `minCount` (single-char pieces
    * are the coverage guarantee and always survive), then run ONE more
    * EM round under the pruned set — words that lost a piece re-segment
    * through the survivors, so the final counts/costs genuinely differ
    * from a mere filter of the unpruned table. Emits the pruned
    * (piece, n_count, cost) vocabulary.
    *
    * Scale: identical posture to [[unigramTrainCosts]] — one corpus
    * scan, vocab-sized frames per round, O(|vocab|) driver state; the
    * prune itself is a driver-side filter of trainer state. */
  def unigramTrainPruned(docs: DataFrame, vocab0: Seq[(String, Long)],
      rounds: Int = 2, minCount: Long = 2L, maxLen: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    val wc = wordFreq(docs)
    val (costs, counts) = unigramEmRounds(wc, vocab0, rounds, maxLen)
    val kept = costs.filter { case (p, _) =>
      p.length == 1 || counts.getOrElse(p, 0L) >= minCount }
    val (costs2, counts2) = unigramEmRounds(wc, kept, 1, maxLen)
    import spark.implicits._
    val out = costs2.map { case (p, c) => (p, counts2.getOrElse(p, 0L), c) }
    out.toDF("piece", "n_count", "cost")
  }

  /** PII statistics with LUHN-VALIDATED card detection — the practice
    * real redaction pipelines run: a bare 13–19-digit run is mostly
    * order ids and timestamps, so candidates only count as cards when
    * the Luhn checksum holds (cuts the false-positive flood an
    * unvalidated digit regex produces). Per doc: email / phone / IPv4
    * occurrence counts (the [[redactPii]] patterns; the IP count drops
    * redaction's context guards — a stats op, documented), digit-run
    * candidates, and Luhn-valid cards. The Luhn fold is exact integer
    * arithmetic over ≤19 digits, replayed with the same indexed list
    * fold in SQL. Pure narrow map — zero shuffle.
    */
  def piiStats(docs: DataFrame): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
    val ip = "(\\d{1,3}\\.){3}\\d{1,3}"
    val card = "[0-9]{13,19}"
    // Luhn: from the RIGHT, double every 2nd digit, subtract 9 past 9;
    // valid iff the sum is ≡ 0 (mod 10)
    def luhnOk(s: Column): Column = {
      val n = length(s)
      val total = aggregate(sequence(lit(1), n), lit(0L), (acc, j) => {
        val d = (ascii(substring(s, (n - j + lit(1)).cast("int"), lit(1)))
          - lit(48)).cast("long")
        val dd = when(j % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
      total % 10 === 0
    }
    val pre = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(phone), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(ip), lit(0)))
        .cast("long").as("n_ips"),
      regexp_extract_all(col("text"), lit(card), lit(0)).as("__cands"))
    pre.select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
      size(col("__cands")).cast("long").as("n_digit_runs"),
      size(filter(col("__cands"), c => luhnOk(c))).cast("long")
        .as("n_cards_valid"))
  }

  /** GPT-2 pre-tokenization over a corpus (see [[Gpt2PreTokKernel]]):
    * one codegen kernel walk + a narrow posexplode — the exploded
    * (doc, ordinal, pretoken) stream the byte-level BPE actually
    * consumes. Zero shuffle; partitioning inherited from the scan. */
  def pretokenize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), posexplode(graftshim.exprToColumn(
        Gpt2PreTok(graftshim.columnToExpr(col("text"))))))
      .toDF("doc_id", "idx", "pretoken")
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        col("pretoken"))
  }

  /** Invisible-character sanitization — the Trojan-Source / spam-
    * evasion cleanup (Boucher & Anderson 2021): count and strip
    * zero-width characters (ZWSP/ZWNJ/ZWJ/LRM/RLM U+200B–200F, word
    * joiner block U+2060–2064, BOM U+FEFF) and bidi embedding controls
    * (U+202A–202E LRE/RLE/PDF/LRO/RLO, U+2066–2069 isolates) — the
    * characters that make visually-identical strings byte-distinct
    * (dedup evasion) or reorder displayed code (supply-chain
    * injection). One regexp pass per class, zero shuffle; both
    * classes' patterns are literal codepoint ranges, identical under
    * Java regex and RE2. */
  def sanitizeInvisible(docs: DataFrame): DataFrame = {
    val zw = "[\\x{200B}-\\x{200F}\\x{2060}-\\x{2064}\\x{FEFF}]"
    val bidi = "[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]"
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(zw), lit(0)))
        .cast("long").as("n_zero_width"),
      size(regexp_extract_all(col("text"), lit(bidi), lit(0)))
        .cast("long").as("n_bidi_controls"),
      regexp_replace(regexp_replace(col("text"), zw, ""), bidi, "")
        .as("text_clean"))
  }

  /** IBAN detection with the REAL ISO 13616 mod-97 checksum (the
    * [[piiStats]] Luhn posture for bank accounts): candidates match
    * the 2-letter country + 2 check digits + 11..30 alphanumerics
    * shape, then validate by the standard rearrangement (move the
    * first 4 chars to the end, letters become two digits A=10..Z=35)
    * and a running mod-97 fold — ≡ 1 iff genuine. Checksum-only (no
    * per-country length registry — documented). The fold runs only
    * over matched candidates (rare), so the interpreted lambda is off
    * the hot path; the scan itself is one regexp pass, zero shuffle. */
  def piiIban(docs: DataFrame): DataFrame = {
    val pat = "[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}"
    def ibanOk(s: Column): Column = {
      val r = concat(substring(s, 5, 34), substring(s, 1, 4))
      val rem = aggregate(sequence(lit(1), length(r)), lit(0L), (acc, j) => {
        val c = ascii(substring(r, j.cast("int"), lit(1))).cast("long")
        when(c >= 65L, (acc * 100L + (c - 55L)) % 97L)
          .otherwise((acc * 10L + (c - 48L)) % 97L)
      })
      rem === 1L
    }
    docs.select(col("doc_id"),
        regexp_extract_all(col("text"), lit(pat), lit(0)).as("__cands"))
      .select(col("doc_id"),
        size(col("__cands")).cast("long").as("n_iban_candidates"),
        size(filter(col("__cands"), c => ibanOk(c))).cast("long")
          .as("n_iban_valid"))
  }

  /** Overlapping fixed-size chunking (RAG / context-window prep): cut
    * each document into `chunkChars`-char windows starting every `stride`
    * chars. One narrow explode per document — chunk count is
    * ceil(len/stride) rows per doc, no shuffle at all; at corpus scale
    * the output partitioning is inherited from the scan.
    */
  def chunk(docs: DataFrame, chunkChars: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkChars >= stride, "need chunkChars >= stride > 0")
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), length(col("text")), lit(stride)))
          .as(Seq("chunk_idx", "chunk_start")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("text").substr(col("chunk_start"), lit(chunkChars)).as("chunk_text"),
        length(col("text").substr(col("chunk_start"), lit(chunkChars)))
          .as("chunk_len"))
  }

  /** Linear model scoring over a bounded vocabulary (fastText-style
    * quality classifier): score = bias + Σ weight(token), squashed by a
    * logistic. The weight table is a literal MAP, so the whole model is
    * one row-local codegen'd expression — zero shuffle, the ideal 100 TB
    * shape for a bounded vocab. (A corpus-derived vocabulary — e.g. IDF
    * weights — would instead broadcast-join an aggregated weights frame.)
    */
  def modelScore(text: Column, weights: Seq[(String, Double)], bias: Double): Column = {
    val m = map(weights.flatMap { case (t, w) => Seq(lit(t), lit(w)) }: _*)
    aggregate(tokens(text), lit(bias),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0.0)))
  }

  /** Logistic squash of a raw model score. Kept out of the oracled
    * output: exp() is libm-dependent (Java Math vs C libm can differ in
    * the last ulp), so the gate compares the exact raw score and the
    * probability stays a presentation column.
    */
  def modelProb(score: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-score))

  /** Exact substring-duplication signal (the Lee et al. 2022
    * "Deduplicating Training Data" shape at token granularity): every
    * positional `w`-token window is hashed; windows whose hash occurs in
    * ≥2 distinct documents are duplicated passages. Reports per-document
    * duplicated-window fraction.
    *
    * Scale shape: windows are emitted row-locally (transform over the
    * token array — no per-window row until the explode), the corpus-wide
    * pass is one groupBy on a 64-bit window hash (not the window string:
    * 8 bytes shuffled per window instead of ~8·w), and the per-doc
    * report joins back on the same hash. Two shuffles total, both on
    * uniform hashes.
    */
  /** 64-bit positional window hashes, 1-based starts. Internal-only:
    * every oracle regenerates windows from gram STRINGS, so the hash
    * never needs to be engine-portable — xxhash64 over the token slice
    * skips the string re-join + md5 + hex→decimal chain that profiling
    * showed dominating the window-dedup queries.
    */
  private def windowHashes(ws: Column, w: Int): Column =
    transform(sequence(lit(1), size(ws) - lit(w - 1)),
      i => xxhash64(slice(ws, i, lit(w))))

  /** The `key` values of `grams` (doc_id, key, …) that occur in ≥2
    * distinct documents, each with its keeper `__keeper` (the lowest
    * doc_id). "≥2 distinct docs" ⇔ min(doc_id) ≠ max(doc_id): plain
    * min/max partial-aggregate map-side into ONE exchange of (key, min,
    * max) partials, where count_distinct planned as TWO exchanges — the
    * first shipping the whole (key, doc_id)-deduped gram index (the q21
    * min≠max precedent; doc_id is non-null, so the predicates are
    * equivalent and the surviving key set is identical). */
  private def dupKeys(grams: DataFrame, key: String): DataFrame =
    grams.groupBy(col(key))
      .agg(min(col("doc_id")).as("__keeper"), max(col("doc_id")).as("__dmax"))
      .filter(col("__keeper") =!= col("__dmax"))
      .select(col(key), col("__keeper"))

  def dupPassages(docs: DataFrame, w: Int = 5): DataFrame = {
    // project the token array to an attribute BEFORE the window lambda:
    // lambda bodies get no common-subexpression elimination, so
    // slice(split(...), i, w) would re-split the text once per window
    val pre = docs.filter(size(tokens(col("text"))) >= w)
      .select(col("doc_id"), tokens(col("text")).as("__ws"))
    val ws = col("__ws")
    val windows = windowHashes(ws, w)
    // materialized (lazily): perDoc feeds both the dup-hash aggregation
    // and the semi-join probe side (same double-compute shape as
    // removeDupSpans' grams)
    val perDoc = pre.select(col("doc_id"), explode(windows).as("ghash"))
      .localCheckpoint(eager = false)
    perDoc
      .join(dupKeys(perDoc, "ghash"), Seq("ghash"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
      .join(pre
        .select(col("doc_id"), (size(ws) - lit(w - 1)).cast("long").as("n_windows")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        frac4(coalesce(col("n_dup_windows"), lit(0L)), col("n_windows"))
          .as("dup_frac"))
  }

  /** Duplicated-passage REMOVAL — the transform half of the Lee et al.
    * 2022 exact-substring dedup (detection is [[dupPassages]]): every
    * positional `w`-token window occurring in ≥2 distinct documents is a
    * duplicated passage; the copy in the lowest-doc_id document is kept
    * (one canonical occurrence survives) and every covered token in all
    * other documents is cut, then the text is reassembled in original
    * token order.
    *
    * Scale shape: identical to [[dupPassages]] — windows emitted
    * row-locally, one groupBy on the window key carrying (min, max
    * doc_id), one join back to tag removable window starts,
    * one groupBy doc_id to collect start positions (bounded by document
    * length), and a row-local indexed-filter over the token array for
    * the actual cut. No per-token shuffle rows.
    *
    * The window key is 128-bit (two independently seeded xxhash64s):
    * detection-only [[dupPassages]] tolerates a 64-bit birthday
    * coincidence as an off-by-one count, but a DESTRUCTIVE transform
    * must not delete w tokens of unrelated text on one — at ~1e12
    * windows the expected 64-bit cross-collisions number in the tens of
    * thousands, while 128 bits push the expectation below 1e-13.
    */
  def removeDupSpans(docs: DataFrame, w: Int = 5): DataFrame = {
    // project the token array to an attribute FIRST (lambda bodies get
    // no common-subexpression elimination — a split referenced inside
    // the window lambda would re-split the text once per window), and
    // slice each window ONCE, then hash it under both seeds
    val pre = docs.select(col("doc_id"), tokens(col("text")).as("__ws"))
    val ws = col("__ws")
    val windows = transform(
      transform(sequence(lit(1), size(ws) - lit(w - 1)),
        i => slice(ws, i, lit(w))),
      sl => struct(
        xxhash64(sl).as("h1"),
        xxhash64(lit(1L), sl).as("h2")))
    // materialized (lazily): grams feeds BOTH the dup aggregation and
    // the join-back probe side — without this the window slice+double-
    // hash pipeline (the most expensive stage) runs twice, measured
    // ~+60% on the whole query at the ×20 duplication probe
    val grams = pre.filter(size(ws) >= w)
      .select(col("doc_id"), posexplode(windows))
      .toDF("doc_id", "pos0", "ghash")
      .localCheckpoint(eager = false)
    // 1-based start positions of windows to cut, per non-keeper document
    val starts = grams
      .join(dupKeys(grams, "ghash"), Seq("ghash"))
      .filter(col("doc_id") =!= col("__keeper"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos0") + lit(1)).as("__ps"))
    val ps = coalesce(col("__ps"), array().cast("array<int>"))
    // Compact the cut windows into disjoint MERGED intervals before the
    // per-token test: a heavily duplicated document has thousands of
    // overlapping cut windows that collapse to a handful of spans, so
    // the coverage test costs O(len·|merged|) instead of O(len·|ps|)
    // (the r6 shape tested every token against every raw start — the
    // dominant cost of the ×20 duplication scale probe). Fold over the
    // sorted starts: each window covers [p, p+w-1]; extend the open
    // interval while the next start touches it, else open a new one.
    // Overlap-heavy folds keep the accumulator tiny (the expensive
    // case merges hardest). Coverage is identical ⇒ oracle unchanged.
    // one compiled sorted walk (MergeWindowIntervals) — the Catalyst
    // aggregate() fold it replaces was interpreted and rebuilt the
    // accumulator array per element (O(|starts|²) per doc, worst on the
    // duplication-heavy docs this operator exists for); intervals and
    // oracle unchanged
    val merged = graft.functions.VectorExpressions
      .merge_window_intervals(ps, 0, w - 1)
    // projected to an attribute: lambda bodies get no CSE, so an inline
    // `merged` would re-run the whole fold once per token
    val ivA = col("__iv")
    val kept = filter(ws, (t, j) =>
      !exists(ivA, iv => j + lit(1) >= iv("s") && j + lit(1) <= iv("e")))
    // ALL docs pass through — a doc shorter than w tokens has no
    // windows and must come out uncut, not dropped (it's a transform,
    // not a filter); its missing `starts` row coalesces to no cuts
    pre
      .join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__ws"), merged.as("__iv"))
      .select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("clean_text"))
  }

  /** Cross-document duplicated-SPAN report — the detection half of the
    * Lee et al. 2022 exact-substring dedup with OFFSETS: one row per
    * maximal duplicated token run per document. Every `w`-token window
    * whose gram occurs in ≥2 distinct documents is duplicated; per doc,
    * the (1-based) starts of duplicated windows merge into disjoint
    * maximal intervals (windows covering [p, p+w−1], touching/overlapping
    * runs coalesce — the [[removeDupSpans]] fold), and each interval is
    * emitted as `(span_start, span_end, n_span_tokens, span_text)` in
    * token coordinates. Any duplicated run of L ≥ w tokens surfaces as
    * one span of exactly L tokens (all its L−w+1 windows are duplicated
    * and adjacent, so they merge).
    *
    * Unlike [[removeDupSpans]]' engine-internal 128-bit key, the window
    * key here is the winnowing gram hash — md5-60bit of the space-joined
    * lowercased w-gram (`('0x' || substr(md5(gram), 1, 15))::BIGINT`) —
    * so the entire SELECTION, offsets included, replays in DuckDB SQL:
    * span boundaries, not just span artifacts, are oracled.
    *
    * Scale shape: gram hashes are one codegen byte-walk per row
    * ([[TokenGramHashes]] — no per-window slice/re-hash), emitted
    * row-locally; one groupBy on the 60-bit key finds duplicated grams
    * (partial-aggregated — map-side combine absorbs within-doc repeats);
    * one semi-join tags duplicated starts; one groupBy doc_id collects
    * start lists (bounded by document length); the interval merge and
    * span-text slice are row-local array folds. No per-token shuffle
    * rows, nothing all-pairs.
    */
  def dupSpans(docs: DataFrame, w: Int = 5): DataFrame = {
    val pre = docs.select(col("doc_id"), col("text"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("__ws"))
    val ws = col("__ws")
    // feeds the dup aggregation AND the join-back probe side: one
    // materialization of the gram walk (the removeDupSpans precedent)
    val grams = pre.filter(size(ws) >= w)
      .select(col("doc_id"), posexplode(graftshim.exprToColumn(
        TokenGramHashes(graftshim.columnToExpr(col("text")), w))))
      .toDF("doc_id", "pos0", "gh")
      .localCheckpoint(eager = false)
    val starts = grams
      .join(dupKeys(grams, "gh"), Seq("gh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos0") + lit(1)).as("__ps"))
    // merge overlapping/touching cut windows into disjoint maximal
    // intervals (same fold as removeDupSpans — each start covers
    // [p, p+w−1]; extend while the next start touches, else open anew)
    // compiled sorted walk; see MergeWindowIntervals (sorting an
    // already-sorted list is harmless)
    val merged = graft.functions.VectorExpressions
      .merge_window_intervals(col("__ps"), 0, w - 1)
    starts
      .join(pre.select(col("doc_id"), ws), Seq("doc_id"))
      .select(col("doc_id"), ws, merged.as("__iv"))
      .select(col("doc_id"), ws, explode(col("__iv")).as("__s"))
      .select(col("doc_id"),
        col("__s.s").cast("long").as("span_start"),
        col("__s.e").cast("long").as("span_end"),
        (col("__s.e") - col("__s.s") + 1).cast("long").as("n_span_tokens"),
        array_join(slice(ws, col("__s.s"),
          col("__s.e") - col("__s.s") + 1), " ").as("span_text"))
  }

  /** Memorization-risk score (the Carlini-style duplication heuristic:
    * verbatim-duplicated text is what models memorize first — Lee et
    * al. 2022 §5, Carlini et al. 2022): per document, the share of its
    * `w`-token windows whose gram occurs in ≥2 documents, plus the
    * document frequency of its most-duplicated gram. High dup_share =
    * boilerplate/template/copy-heavy documents, the rows a training
    * pipeline caps or drops to reduce extraction risk. Gram keys are
    * the md5-60bit SQL-replayable hashes — fully oracled. Docs shorter
    * than `w` tokens have no windows and emit nothing (the dupSpans
    * convention).
    *
    * Scale shape: one codegen gram walk, one partial-aggregated df
    * count, one join back on the gram key, one per-doc aggregation —
    * the dup_passages cost profile, nothing all-pairs. */
  def memorizationRisk(docs: DataFrame, w: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), posexplode(graftshim.exprToColumn(
        TokenGramHashes(graftshim.columnToExpr(col("text")), w))))
      .toDF("doc_id", "pos0", "gh")
      .localCheckpoint(eager = false)
    val dfT = grams.groupBy(col("gh"))
      .agg(count_distinct(col("doc_id")).as("df"))
    grams.join(dfT, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("df") >= 2, 1)).as("n_dup_windows"),
        max(col("df")).as("max_df"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        col("max_df"),
        frac4(col("n_dup_windows"), col("n_windows")).as("dup_share"))
  }

  /** Tiered maximal-span certification — the [[dupSpans]] refinement
    * toward Lee et al. 2022's suffix-array semantics: a merged w-window
    * span can be a CHIMERA (overlapping w-grams shared with different
    * partners, no single long duplicate), because the per-doc interval
    * merge keeps any duplicated starts within w of each other. This
    * variant re-detects at the doubled window tiers (w, 2w, 4w) and
    * stamps every span with `certified_tier` = the largest tier t such
    * that EVERY t-window inside the span is itself duplicated
    * (coverage at 4w ⇒ coverage at 2w ⇒ coverage at w — a duplicated
    * long gram's subgrams are duplicated at the same positions — so
    * the CASE hierarchy is well-defined; 0 = a sparse merge that not
    * even the base tier covers densely). A genuine L ≥ 4w-token
    * verbatim duplicate certifies at 4w; a chimera chain stays at w/0.
    * Window keys are the md5-60bit SQL-replayable gram hashes at all
    * three widths, so spans AND certificates replay in DuckDB.
    *
    * Scale shape: one codegen gram walk + one partial-aggregated dup
    * groupBy + one semi-join + one per-doc collect PER TIER (the
    * tier count is a constant 3); the certificate check is a
    * row-local filter over the span's bounded start arrays. Nothing
    * all-pairs, no per-token shuffle rows.
    */
  def dupSpansMaximal(docs: DataFrame, w: Int = 5,
      tierMults: Seq[Int] = Seq(2, 4)): DataFrame = {
    val pre = docs.select(col("doc_id"), col("text"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("__ws"))
    val ws = col("__ws")
    def dupStarts(width: Int, out: String): DataFrame = {
      val grams = pre.filter(size(ws) >= width)
        .select(col("doc_id"), posexplode(graftshim.exprToColumn(
          TokenGramHashes(graftshim.columnToExpr(col("text")), width))))
        .toDF("doc_id", "pos0", "gh")
        .localCheckpoint(eager = false)
      grams.join(dupKeys(grams, "gh"), Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(col("pos0") + lit(1))).as(out))
    }
    val base = dupStarts(w, "__ps")
    // compiled sorted walk; see MergeWindowIntervals (sorting an
    // already-sorted list is harmless)
    val merged = graft.functions.VectorExpressions
      .merge_window_intervals(col("__ps"), 0, w - 1)
    val spans = base
      .join(pre.select(col("doc_id"), ws), Seq("doc_id"))
      .select(col("doc_id"), ws, col("__ps"), merged.as("__iv"))
      .select(col("doc_id"), ws, col("__ps"), explode(col("__iv")).as("__s"))
      .select(col("doc_id"), ws, col("__ps"),
        col("__s.s").as("__ss"), col("__s.e").as("__se"))
    val withTiers = tierMults.foldLeft(spans) { (acc, m) =>
      acc.join(dupStarts(m * w, s"__t$m"), Seq("doc_id"), "left")
    }
    // dense coverage at width t: every t-window start in [s, e−t+1] is
    // duplicated — starts are distinct ints, so a bounded count decides
    def cov(starts: Column, t: Int): Column =
      (col("__se") - col("__ss") + 1 >= t) &&
        size(filter(coalesce(starts, array().cast("array<int>")),
          p => p >= col("__ss") && p <= col("__se") - lit(t - 1))) ===
          (col("__se") - col("__ss") - lit(t - 2))
    val tierCase = tierMults.sortBy(-_).foldRight(
        when(cov(col("__ps"), w), lit(w)).otherwise(lit(0))) { (m, els) =>
      when(cov(col(s"__t$m"), m * w), lit(m * w)).otherwise(els)
    }
    withTiers.select(col("doc_id"),
      col("__ss").cast("long").as("span_start"),
      col("__se").cast("long").as("span_end"),
      (col("__se") - col("__ss") + 1).cast("long").as("n_span_tokens"),
      tierCase.cast("long").as("certified_tier"),
      array_join(slice(ws, col("__ss"),
        col("__se") - col("__ss") + 1), " ").as("span_text"))
  }

  /** Decontamination span CUTTING — the transform half beside the
    * flag/fraction/Bloom reports: GPT-3 appendix C and The Pile remove
    * a WINDOW around every eval-colliding n-gram rather than dropping
    * whole documents. Every train n-gram found in the eval set marks
    * the interval [p − pad, p + n − 1 + pad]; intervals merge into
    * disjoint maximal spans (the removeDupSpans fold) and the covered
    * tokens are cut, the rest reassembled. Every doc passes through
    * (a transform, not a filter); gram keys are the md5-60bit
    * SQL-replayable hashes, so offsets AND reassembled text oracle.
    *
    * Scale shape: one codegen gram walk per side; the eval set is
    * benchmark-sized (distinct hashes broadcast); one semi-join tags
    * colliding starts; per-doc start lists are bounded by doc length;
    * merge + cut are row-local array folds.
    */
  def decontamCut(train: DataFrame, eval: DataFrame, n: Int = 3,
      pad: Int = 2): DataFrame = {
    val pre = train.select(col("doc_id"), col("text"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("__ws"))
    val ws = col("__ws")
    val trGrams = pre.filter(size(ws) >= n)
      .select(col("doc_id"), posexplode(graftshim.exprToColumn(
        TokenGramHashes(graftshim.columnToExpr(col("text")), n))))
      .toDF("doc_id", "pos0", "gh")
    val evalSet = eval.filter(size(
        filter(split(lower(col("text")), " "), t => t =!= "")) >= n)
      .select(explode(graftshim.exprToColumn(
        TokenGramHashes(graftshim.columnToExpr(col("text")), n))).as("gh"))
      .distinct()
    val starts = trGrams.join(evalSet, Seq("gh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos0") + lit(1)).as("__ps"))
    val ps = coalesce(col("__ps"), array().cast("array<int>"))
    // compiled sorted walk with the decontamination padding folded in
    // (s = max(p - pad, 1), e = p + n - 1 + pad); see MergeWindowIntervals
    val merged = graft.functions.VectorExpressions
      .merge_window_intervals(ps, pad, n - 1 + pad)
    val ivA = col("__iv")
    val kept = filter(ws, (t, j) =>
      !exists(ivA, iv => j + lit(1) >= iv("s") && j + lit(1) <= iv("e")))
    pre.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__ws"), merged.as("__iv"))
      .select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        (size(ws) - size(kept)).cast("long").as("n_cut_tokens"),
        size(ivA).cast("long").as("n_spans_cut"),
        array_join(kept, " ").as("clean_text"))
  }

  /** Heaps-law vocabulary growth over DOUBLING corpus prefixes — the
    * saturation curve tokenizer vocabulary sizes are read off of: for
    * each k, the number of words whose FIRST occurrence falls in
    * prefix bucket k (docs with bitlen(doc_id+1) = k, i.e. the prefix
    * doubles per bucket) plus the cumulative vocabulary. Integer-exact
    * and scale-free (buckets are powers of two, no data-dependent
    * percentile); one word-count shuffle, output ≤ 64 rows, the
    * cumulative window runs over those rows only. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "), t => t =!= ""))
          .as("w"))
    words.groupBy(col("w")).agg(min(col("doc_id")).as("first_id"))
      .select(length(bin(col("first_id") + 1L)).cast("long")
        .as("bucket_bits"))
      .groupBy(col("bucket_bits"))
      .agg(count(lit(1)).as("n_new_words"))
      .withColumn("cum_vocab",
        sum(col("n_new_words")).over(Window.orderBy(col("bucket_bits"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Corpus-statistics quality score: a unigram-LM log-probability
    * proxy where each token contributes its corpus-frequency MAGNITUDE
    * — ⌊log₂(df)⌋ + 1 = the bit length of the token's occurrence
    * count, computed EXACTLY as `length(bin(df))` in integer/string
    * ops (a float log₂ would misround at power-of-two boundaries
    * differently per engine; bin() is exact everywhere, so the score
    * is hash-stable for the oracle). High mean magnitude = common,
    * boilerplate-heavy text; low = rare-token (or noisy) text — the
    * classic "filter by LM perplexity" signal with the LM replaced by
    * the corpus's own unigram table.
    *
    * Two shuffles at any scale: one partial-aggregated token count,
    * one per-doc re-aggregation; the token-frequency join is left to
    * AQE (broadcast while the vocabulary fits, shuffle after).
    */
  def unigramRarity(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    toks.join(tf, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(bin(col("__df"))).cast("long")).as("magnitude_sum"))
      .select(col("doc_id"), col("n_tokens"),
        col("magnitude_sum"),
        // mean magnitude on the exact 1e-4 grid (see frac4)
        frac4(col("magnitude_sum"), col("n_tokens")).as("mean_magnitude"))
  }

  /** C4-style rule cleaning at sentence granularity: split on ". ", keep
    * sentences with ≥ `minWords` words, reassemble. Row-local array
    * pipeline (split → filter → array_join) — narrow, codegen'd, no
    * shuffle; the deterministic subset of C4's line-level heuristics.
    */
  def sentenceFilter(text: Column, minWords: Int): Column =
    array_join(
      filter(split(text, "\\. "),
        s => size(split(s, " ")) >= minWords && length(s) > 0),
      ". ")

  /** Corpus-wide top-K word n-grams (the classic corpus statistic):
    * row-local n-gram emission (no per-gram row before the explode), one
    * partial-aggregated count shuffle, TakeOrderedAndProject for the
    * global top-K — O(K) to the driver, deterministic tiebreak on the
    * gram text.
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val words = col("__words")
    docs
      .select(split(lower(col("text")), " ").as("__words"))
      .filter(size(words) >= n)
      .select(explode(transform(words, (w, i) => {
        val parts = w +: (1 until n).map(j => element_at(words, i + lit(j + 1)))
        when(i <= size(words) - n, concat_ws(" ", parts: _*))
      })).as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** One-pass per-source corpus health report: document/token volume,
    * mean quality-proxy metrics, short-doc share — the "is this source
    * worth training on" dashboard row, all from a single aggregation
    * (no joins, exact integer-grid ratios).
    */
  def corpusReport(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val dup = nTok - size(array_distinct(t)).cast("long")
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        sum(when(nTok < 10L, 1L).otherwise(0L)).as("n_short_docs"),
        sum(dup).as("total_dup_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("n_short_docs"),
        // corpus-level duplicate-token share on the exact 1e-4 grid
        frac4(col("total_dup_tokens"), col("total_tokens"))
          .as("dup_token_share"))
      .orderBy(col("source"))
  }

  /** Per-source top-K terms by TF-IDF. Corpus-wide document frequency +
    * per-source term frequency, scored tf·ln(N/df), ranked through the
    * [[graft.plans.GroupTopK]] custom operator — per-partition bounded
    * heaps below the exchange, so the shuffle carries O(partitions·
    * sources·K) rows, not every (source, token) pair. The doc count N is
    * a 1-row aggregate broadcast into the scoring join.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame =
    tfidfTopTermsBy(
      docs.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("token")),
      docs.agg(count(lit(1)).as("__n")), "source", k)

  /** Shared TF-IDF ranking core: per-`group` term frequency × corpus
    * IDF over a (doc_id, group, token) frame, top-K per group through
    * the bounded-heap [[graft.plans.GroupTopK]] operator. */
  private def tfidfTopTermsBy(tok: DataFrame, n: DataFrame,
      group: String, k: Int): DataFrame = {
    val tf = tok.groupBy(col(group), col("token")).agg(count(lit(1)).as("tf"))
    val dfq = tok.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        floor(col("tf") * log(col("__n").cast("double") / col("df"))
          * lit(10000.0)) / lit(10000.0))
      .select(col(group), col("token"), col("tf"), col("df"), col("tfidf"))
    graft.plans.GroupTopK.groupTopK(scored, Seq(group),
      Seq(("tfidf", false), ("token", true)), k)
  }

  /** Topic labeling of EMBEDDING clusters by their distinguishing
    * terms — the BERTopic class-based TF-IDF shape (Grootendorst 2022)
    * over the engine's exact-integer k-means: each cluster's member
    * documents pool into one "class", scored per-term by cluster TF ×
    * corpus IDF, top-K per cluster. The cross-modal decision view of
    * clustering: which WORDS characterize each embedding cell — the
    * curation dashboard behind cluster-level keep/drop/mix decisions.
    * `assign` is a (vec_id, cluster) frame (e.g. [[graft.ann.Similarity
    * .kmeansExact]]); vec_id joins doc_id, the shared-identity contract
    * of the documents/embeddings tables. Plan: one broadcast-sized
    * assignment join + the tfidfTopTerms shape (data-sized tokenize,
    * model-sized score join, bounded heaps under the exchange). */
  def clusterTopicTerms(docs: DataFrame, assign: DataFrame,
      k: Int = 5): DataFrame =
    tfidfTopTermsBy(
      docs.join(assign.select(col("vec_id").as("doc_id"), col("cluster")),
          Seq("doc_id"))
        .select(col("doc_id"), col("cluster"),
          explode(tokens(col("text"))).as("token")),
      docs.agg(count(lit(1)).as("__n")), "cluster", k)

  /** Bigram language-model surprisal — the CCNet-style "perplexity
    * filter" signal (Wenzek et al. 2020) computed IN-ENGINE: train
    * bigram counts on the corpus in one pass, score every document by
    * its mean conditional surprisal. High mean = improbable word
    * transitions (gibberish, boilerplate soup); low = fluent,
    * predictable text. The classic pipeline ships a pre-trained KenLM;
    * here the corpus is its own LM, so the whole thing stays one job.
    *
    * Exactness: float log-probs would make the per-doc sum depend on
    * aggregation order, so the surprisal is the INTEGER magnitude
    * surrogate `bitlen(c1(w1)) - bitlen(c2(w1,w2))` — bit-length
    * difference of the context count vs the bigram count
    * (≈ ⌊log₂ 1/p(w2|w1)⌋, resolution 1 bit; the `length(bin(n))`
    * trick of text_rarity, exactly replayable in DuckDB where a float
    * log2 would misround at power-of-two boundaries). c2 ≤ c1 so the
    * surrogate is ≥ 0; the mean rides the exact 1e-4 grid.
    *
    * Plan shape: one tokenize scan emits (doc_id, w1, w2) bigram rows
    * row-locally; ONE data-sized count shuffle builds the bigram LM;
    * the context counts derive from the bigram table (vocabulary-
    * sized, NOT a second corpus pass); the score join is left to AQE
    * (broadcast while the LM fits, shuffle after) and the per-doc
    * re-aggregation is the second data-sized exchange — the
    * unigramRarity posture, one order higher.
    */
  private def wordBigramRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(graftshim.exprToColumn(WordBigrams(
        graftshim.columnToExpr(col("text"))))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The trained bigram LM as a frozen frame (w1, w2, surp) — the
    * per-bigram integer surprisal bitlen(c(w1)) − bitlen(c(w1,w2)).
    * The MODEL-sized count table is materialized ONCE (lazy local
    * checkpoint — kilobytes to low MBs, it IS the LM), so the
    * context-count derivation and every downstream scorer read the
    * frozen model instead of re-deriving it from the corpus; the
    * context + bigram counts fold into ONE surprisal column before any
    * scorer touches the corpus again (the data-sized side pays a
    * single vocab-sized join — AQE broadcasts it — not two chained
    * joins). A/B'd at sf0.1: naive 3-scan 1.07 s, data-sized-
    * checkpoint spine 1.21 s, this 0.9 s — and at 100 TB a data-sized
    * checkpoint is a full corpus materialization while this is
    * O(model). */
  def bigramModel(docs: DataFrame): DataFrame =
    deriveBigramModel(wordBigramRows(docs)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
      .localCheckpoint(false))

  /** Cost derivation from a (w1, w2, n2) count table — shared by the
    * batch trainer and the incremental state fold. */
  private def deriveBigramModel(c2: DataFrame): DataFrame = {
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
    c2.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        (length(bin(col("n1"))) - length(bin(col("n2"))))
          .cast("long").as("surp"))
  }

  /** Storable bigram-LM count STATE (the storable-sketch pattern the
    * rollup family uses): the per-shard (w1, w2, n2) table. States
    * over DISJOINT ingest shards merge EXACTLY by sum — associative
    * and commutative — so the model updates per arriving shard without
    * rescanning old data. */
  def bigramCountState(docs: DataFrame): DataFrame =
    wordBigramRows(docs)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))

  /** Per-(source, bigram) count state — the incremental unit behind the
    * streaming DoReMi gate: folding these states by exact sum and
    * re-deriving losses is bit-equal to batch scoring on the union
    * (the [[bigramCountState]] argument, with the source key kept). */
  def sourceBigramCountState(docs: DataFrame): DataFrame =
    wordBigramRows(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n2"))

  /** Exact-sum fold of [[bigramCountState]] shards into one state table
    * — associative and commutative, so shards merge in any order. */
  def mergeBigramStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("w1"), col("w2")).agg(sum(col("n2")).as("n2"))

  /** Fold shard states (any order) and derive the SAME model the batch
    * trainer ships — bit-equal to [[bigramModel]] on the shard union
    * because counts are exact integers and the derivation is shared. */
  def bigramModelFromStates(states: Seq[DataFrame]): DataFrame =
    deriveBigramModel(mergeBigramStates(states).localCheckpoint(false))

  /** Score documents under a FROZEN bigram model (the serve half —
    * also the per-micro-batch body of the streaming scoring gate).
    * Bigrams absent from the model contribute nothing (inner join):
    * the model defines the scored vocabulary. */
  def scoreBigramSurprisal(docs: DataFrame, model: DataFrame): DataFrame =
    wordBigramRows(docs)
      .join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surp")).as("surprisal_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_sum"),
        frac4(col("surprisal_sum"), col("n_bigrams")).as("mean_surprisal"))

  def bigramSurprisal(docs: DataFrame): DataFrame =
    scoreBigramSurprisal(docs, bigramModel(docs))

  /** Word trigram rows (doc_id, w1, w2, w3): a row-local window over
    * the token array — pure codegen narrow map, zero shuffle; docs
    * with fewer than 3 words emit nothing (both engines). */
  private def wordTrigramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => w =!= "").as("__ws"))
      .where(size(col("__ws")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__ws")) - 2),
        i => struct(element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2"),
          element_at(col("__ws"), i + 2).as("w3")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))

  /** Stupid-backoff trigram LM (Brants et al. 2007 — the web-scale LM
    * that drops normalization so every count lookup is exact): score a
    * trigram at the deepest level with evidence, penalizing each
    * backoff step. In the integer bit-length surrogate family:
    * level 3 = bitlen(c(w1w2)) − bitlen(c(w1w2w3)); level 2 = 2 +
    * bitlen(c(w2)) − bitlen(c(w2w3)); level 1 = 4 + bitlen(N) −
    * bitlen(c(w3)); OOV = 4 + bitlen(N) + 1 (the unigram-trainer
    * unseen convention). The 2-per-level penalty is the integer
    * surrogate of Brants' α = 0.4 multiplier (−log₂ α ≈ 1.32, taken
    * at the same resolution the count surrogates use). All sums are
    * order-free integers — fully oracled.
    *
    * Returns (s3, s2, s1, oovSurp): three MODEL-sized score frames
    * (each checkpointed once — together they ARE the LM) plus the OOV
    * constant. N folds to one driver long (a single-scalar agg — model
    * state, the BPE-trainer convention).
    *
    * Scale: ONE corpus scan. Every word position i emits a PADDED
    * trigram (w_i, w_{i+1}|null, w_{i+2}|null) — the tail positions
    * carry nulls — so after one explode→agg the padded-trigram count
    * table is a complete sufficient statistic: c(w1w2) = Σ over w3
    * groups, c(w1) = Σ over (w2,w3) groups, both EXACT (each bigram/
    * word occurrence appears in exactly one padded row as its
    * (w1,w2) / w1). The two lower orders re-aggregate the MODEL-sized
    * table, not the corpus — vs the previous three explode passes.
    * Every downstream serve pays three broadcast joins against
    * vocab-sized frames — never a data-sized shuffle beyond its own
    * per-doc aggregation.
    */
  def trigramBackoffModel(train: DataFrame)
    : (DataFrame, DataFrame, DataFrame, Long) =
    trigramBackoffModel(train, materialize = true)

  /** `materialize = true` checkpoints the three score frames (the
    * storable-model posture: each frame is the LM, reused across many
    * serves). A one-shot train→serve pipeline passes `false` — each
    * frame is consumed exactly once by the serve's broadcast joins and
    * checkpointing it would double the model-frame work. */
  def trigramBackoffModel(train: DataFrame, materialize: Boolean)
    : (DataFrame, DataFrame, DataFrame, Long) = {
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    val P = 2L
    def bl(c: Column): Column = length(bin(c)).cast("long")
    val g3 = train
      .select(filter(split(lower(col("text")), " "), w => w =!= "")
        .as("__ws"))
      .where(size(col("__ws")) >= 1)
      .select(explode(transform(
        sequence(lit(1), size(col("__ws"))),
        i => struct(element_at(col("__ws"), i).as("w1"),
          try_element_at(col("__ws"), i + 1).as("w2"),
          try_element_at(col("__ws"), i + 2).as("w3")))).as("t"))
      .groupBy(col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .agg(count(lit(1)).as("np"))
      .localCheckpoint(eager = false)
    val uni = g3.groupBy(col("w1").as("w")).agg(sum(col("np")).as("n1"))
      .localCheckpoint(eager = false)
    val big = g3.where(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(sum(col("np")).as("n2"))
      .localCheckpoint(eager = false)
    val tri = g3.where(col("w3").isNotNull)
      .select(col("w1"), col("w2"), col("w3"), col("np").as("n3"))
    val nTotal = uni.agg(sum(col("n1"))).collect()(0).getLong(0)
    val blN = 64L - java.lang.Long.numberOfLeadingZeros(nTotal)
    // every surrogate is ≥ 0: a trigram occurrence IS a (w1,w2) bigram
    // occurrence at the same position, so c(w1w2) ≥ c(w1w2w3), etc.
    val s3 = tri.join(big, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        (bl(col("n2")) - bl(col("n3"))).as("s3"))
    val s3m = ckpt(s3)
    val s2 = ckpt(big.join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .select(col("w1").as("w2"), col("w2").as("w3"),
        (lit(P) + bl(col("n1")) - bl(col("n2"))).as("s2")))
    val s1 = ckpt(uni.select(col("w").as("w3"),
        (lit(2L * P + blN) - bl(col("n1"))).as("s1")))
    (s3m, s2, s1, 2L * P + blN + 1L)
  }

  /** Serve half: stamp every trigram of `serve` with its deepest-level
    * score (three broadcast joins against the frozen model), then fold
    * per doc — trigram count, per-level hit counts, exact surprisal
    * sum, and the mean on the 1e-4 grid. */
  def scoreTrigramBackoff(serve: DataFrame, s3: DataFrame, s2: DataFrame,
      s1: DataFrame, oovSurp: Long): DataFrame =
    wordTrigramRows(serve)
      .join(broadcast(s3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(s2), Seq("w2", "w3"), "left")
      .join(broadcast(s1), Seq("w3"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        count(col("s3")).as("n_l3"),
        count(when(col("s3").isNull && col("s2").isNotNull, 1)).as("n_l2"),
        count(when(col("s3").isNull && col("s2").isNull &&
          col("s1").isNotNull, 1)).as("n_l1"),
        count(when(col("s3").isNull && col("s2").isNull &&
          col("s1").isNull, 1)).as("n_oov"),
        sum(coalesce(col("s3"), col("s2"), col("s1"), lit(oovSurp)))
          .as("surprisal_sum"))
      .select(col("doc_id"), col("n_trigrams"), col("n_l3"), col("n_l2"),
        col("n_l1"), col("n_oov"), col("surprisal_sum"),
        frac4(col("surprisal_sum"), col("n_trigrams")).as("mean_surprisal"))

  def trigramBackoff(train: DataFrame, serve: DataFrame): DataFrame = {
    val (s3, s2, s1, oov) = trigramBackoffModel(train, materialize = false)
    scoreTrigramBackoff(serve, s3, s2, s1, oov)
  }

  /** The trained stupid-backoff trigram LM as a WRITE-ONCE ARTIFACT over
    * `inputDir`'s documents table (the clusterMapArtifact posture, r15
    * verdict #3): the three model-sized score frames plus the OOV
    * constant are derived once per (input listing, params, builder
    * bytecode) and published as ONE parquet frame
    * (level, w1, w2, w3, s) — level 3/2/1 rows carry the scores, a
    * single level-0 row carries the OOV constant. Every serve after
    * publication reads vocab-sized parquet instead of re-counting the
    * corpus. Scores are exact integers from a deterministic derivation,
    * so serving the stored model is bit-identical to training fresh —
    * which is exactly what the oracle replays. Input is loaded HERE from
    * `inputDir` (never caller-supplied) so a filtered view can neither
    * serve nor poison the raw-table model. */
  def trigramModelArtifact(spark: org.apache.spark.sql.SparkSession,
      inputDir: String): (DataFrame, DataFrame, DataFrame, Long) = {
    val dir = graft.engine.Artifacts.lineageDir("lm_backoff",
      inputDir + "|trigram-v1")
    val stamp = graft.engine.Artifacts.classStamp(Seq(
      "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class"))
    val fp = "trigram-v1|" + stamp + "|" + graft.engine.Artifacts
      .tableListing(new java.io.File(inputDir, "documents.parquet"))
    val nullS = lit(null).cast("string")
    val art = graft.engine.Artifacts.serveOrBuild(spark, dir, fp) {
      val (s3, s2, s1, oov) = trigramBackoffModel(
        graft.engine.Tables.documents(spark, inputDir), materialize = false)
      s3.select(lit(3).as("level"), col("w1"), col("w2"), col("w3"),
          col("s3").as("s"))
        .unionByName(s2.select(lit(2).as("level"), nullS.as("w1"),
          col("w2"), col("w3"), col("s2").as("s")))
        .unionByName(s1.select(lit(1).as("level"), nullS.as("w1"),
          nullS.as("w2"), col("w3"), col("s1").as("s")))
        .unionByName(spark.range(1).select(lit(0).as("level"),
          nullS.as("w1"), nullS.as("w2"), nullS.as("w3"),
          lit(oov).as("s")))
    }
    val s3 = art.filter(col("level") === 3)
      .select(col("w1"), col("w2"), col("w3"), col("s").as("s3"))
    val s2 = art.filter(col("level") === 2)
      .select(col("w2"), col("w3"), col("s").as("s2"))
    val s1 = art.filter(col("level") === 1)
      .select(col("w3"), col("s").as("s1"))
    // the OOV constant is model state (one long); memoized per artifact
    // FINGERPRINT (the trainedMerges precedent) so repeat serves skip
    // its 1-row collect job — a re-mined artifact has a new fingerprint
    // and re-reads
    val oov = trigramOovMemo.computeIfAbsent(fp, _ =>
      art.filter(col("level") === 0)
        .select(col("s")).collect()(0).getLong(0))
    (s3, s2, s1, oov.longValue)
  }

  private val trigramOovMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** CCNet head/middle/tail selection (the bucketing step that follows
    * the perplexity filter, Wenzek et al. 2020): split each language's
    * documents into surprisal tertiles — "head" = most fluent third,
    * training pipelines keep head(+middle). The classic formulation
    * globally SORTS each language by perplexity; at 100 TB a per-lang
    * data-sized sort is 5 tasks sorting 20 TB each, so this computes
    * the tertile THRESHOLDS by COUNTING on the exact 1e-4 surprisal
    * grid instead: per-(lang, grid-value) counts (bounded by the GRID,
    * not the corpus), a cumulative window over that bounded table,
    * thresholds = first grid value reaching n/3 and 2n/3, then one
    * broadcast join stamps every doc. Buckets are by VALUE threshold
    * (ties share a bucket) — integer-exact, order-free, fully oracled.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame =
    ccnetBucketsWith(docs, bigramModel(docs))

  /** The frozen bigram LM of `inputDir`'s documents table as a
    * WRITE-ONCE ARTIFACT (w1, w2, surp) — the CCNet perplexity model is
    * trained once per (input, builder bytecode) and served from
    * vocab-sized parquet; the per-doc scoring pass and the tertile
    * machinery (the data-sized work) stay in the consuming query.
    * Deterministic integer derivation ⇒ serving ≡ retraining, the
    * equality the unchanged oracle replays. Input loaded here from
    * `inputDir` (the structural-contract rule all model artifacts
    * follow). */
  def bigramModelArtifact(spark: org.apache.spark.sql.SparkSession,
      inputDir: String): DataFrame = {
    val dir = graft.engine.Artifacts.lineageDir("ccnet_lm",
      inputDir + "|bigram-model-v1")
    val stamp = graft.engine.Artifacts.classStamp(Seq(
      "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class"))
    val fp = "bigram-model-v1|" + stamp + "|" + graft.engine.Artifacts
      .tableListing(new java.io.File(inputDir, "documents.parquet"))
    graft.engine.Artifacts.serveOrBuild(spark, dir, fp) {
      bigramModel(graft.engine.Tables.documents(spark, inputDir))
    }
  }

  /** [[ccnetBuckets]] under a caller-supplied frozen bigram model (the
    * artifact-served form; scoring + tertile selection unchanged). */
  def ccnetBucketsWith(docs: DataFrame, model: DataFrame): DataFrame = {
    val scored = scoreBigramSurprisal(docs, model)
    val g = scored
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        intDiv(col("surprisal_sum") * lit(10000L), col("n_bigrams"))
          .as("mean_e4"))
      // three consumers (grid counts, per-lang totals, the final
      // stamp); materialize the per-doc scores once instead of
      // re-running the LM scoring join per consumer — this is the
      // scored artifact itself, O(docs) not O(corpus bytes)
      .localCheckpoint(false)
    val counts = g.groupBy(col("lang"), col("mean_e4"))
      .agg(count(lit(1)).as("__c"))
    val nn = g.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("mean_e4"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val th = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .join(nn, Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(when(col("__cum") * 3 >= col("__n"), col("mean_e4"))).as("__t1"),
        min(when(col("__cum") * 3 >= col("__n") * 2, col("mean_e4"))).as("__t2"))
    g.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("mean_e4"),
        when(col("mean_e4") <= col("__t1"), "head")
          .when(col("mean_e4") <= col("__t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Type-token ratio (lexical diversity): distinct words / words per
    * doc on the exact 1e-4 grid — low TTR flags template/spam text
    * the way repeated-n-gram fractions do, at unigram granularity.
    * Row-local (distinct inside the array), zero shuffle. */
  def typeTokenRatio(docs: DataFrame): DataFrame = {
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    docs.select(col("doc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("__ws"))).cast("long").as("n_types"))
      .withColumn("ttr", frac4(col("n_types"), col("n_tokens")))
  }

  /** Zipf document-frequency histogram (corpus health): vocabulary
    * words bucketed by bitlen(df) — the rank-frequency curve in
    * power-of-two buckets without a float log; a healthy natural
    * corpus slopes smoothly, a templated one spikes. One word-count
    * shuffle, ≤ 64 output rows. */
  def tokenZipf(docs: DataFrame): DataFrame =
    docs.select(explode(filter(split(lower(col("text")), " "),
        w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .select(length(bin(col("df"))).cast("long").as("df_bits"))
      .groupBy(col("df_bits")).agg(count(lit(1)).as("n_words"))

  /** Unicode script-mix profile — the routing prior beside trained
    * langid: per-doc codepoint counts for latin / CJK / cyrillic /
    * hangul / digits and the dominant-script share on the 1e-4 grid.
    * Character classes are LITERAL codepoint ranges (e.g. 一-鿿),
    * which Java regex and RE2 read identically — `\p{IsHan}` style
    * properties are Java-only. Zero shuffle, one narrow map. */
  def scriptMix(docs: DataFrame): DataFrame = {
    val t = lower(col("text"))
    def cnt(range: String): Column =
      (char_length(t) - char_length(regexp_replace(t, s"[$range]", "")))
        .cast("long")
    val latin = cnt("a-z")
    val cjk = cnt("一-鿿")
    val cyr = cnt("а-яё")
    val hangul = cnt("가-힣")
    val digits = cnt("0-9")
    val n = char_length(t).cast("long")
    docs.select(col("doc_id"), n.as("n_chars"), latin.as("n_latin"),
        cjk.as("n_cjk"), cyr.as("n_cyrillic"), hangul.as("n_hangul"),
        digits.as("n_digit"))
      .withColumn("dominant_share",
        frac4(greatest(col("n_latin"), col("n_cjk"), col("n_cyrillic"),
          col("n_hangul")), greatest(col("n_chars"), lit(1L))))
  }

  /** Per-source quality-percentile NORMALIZATION — the mixture
    * calibration step: raw quality scores are not comparable across
    * sources (each source has its own score distribution), so each
    * doc gets its within-source percentile (share of same-source docs
    * scoring STRICTLY below, on the exact 1e-4 grid). Computed the
    * ccnetBuckets way — by COUNTING on the score grid, never a
    * per-source data-sized sort: grid counts → cumulative window over
    * (source, grid value) rows (bounded by grid × sources) → one
    * broadcast stamp join back to the per-doc frame. */
  /** Per-doc INTEGER grid quality score (doc_id, q_e4) straight from
    * the [[quality]] formula — re-deriving it from the double
    * (score·10⁴ → cast long) floors one ulp low on non-dyadic grid
    * values and desyncs from the oracle. Shared by percentile
    * normalization and quality-ranked survivor election. */
  def qualityGridScore(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val stop = size(filter(t, w =>
      w === "the" || w === "a" || w === "and" || w === "of")).cast("long")
    val scoreE4 = (least(nTok * lit(100L), lit(10000L)) * lit(7L) +
      least(intDiv(stop * lit(10000L) * lit(10L), nTok), lit(10000L)) * lit(3L))
    docs.select(col("doc_id"), col("source"),
      intDiv(scoreE4, lit(10L)).as("q_e4"))
  }

  def qualityPercentile(docs: DataFrame): DataFrame = {
    val g = qualityGridScore(docs).localCheckpoint(false)
    val counts = g.groupBy(col("source"), col("q_e4"))
      .agg(count(lit(1)).as("__c"))
    val nn = g.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q_e4"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val stamp = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .join(nn, Seq("source"))
      .select(col("source"), col("q_e4"),
        frac4(col("__cum") - col("__c"), col("__n")).as("pct"))
    g.join(broadcast(stamp), Seq("source", "q_e4"))
      .select(col("doc_id"), col("source"),
        (col("q_e4") / lit(10000.0)).as("quality_score"), col("pct"))
  }

  /** Byte-entropy quality signal (the compression-ratio filter without
    * a compressor): per-doc integer entropy surrogate over the UTF-8
    * byte histogram (see [[ByteEntropyBits]]) — low bits/byte flags
    * repetitive boilerplate the way a high compression ratio does, and
    * the integer surrogate keeps the whole thing oracle-exact. Pure
    * narrow map + nothing: zero shuffle, one byte pass per row.
    */
  def byteEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graftshim.exprToColumn(ByteEntropyBits(
          graftshim.columnToExpr(col("text")))).as("entropy_sum"))
      .select(col("doc_id"), col("n_bytes"), col("entropy_sum"),
        // ANSI division throws on empty docs; null is the honest mean
        when(col("n_bytes") > 0L,
          frac4(col("entropy_sum"), col("n_bytes"))).as("mean_bits"))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its n-gram features are under a
    * TARGET domain than under the raw corpus — the log importance
    * weight log p_target(doc)/p_raw(doc) under bag-of-bigrams models.
    * Selecting the top-weighted docs reshapes the corpus toward the
    * target domain (the canonical use: target = curated/wiki-like,
    * raw = web crawl; here target = a predicate over the corpus,
    * e.g. lang = 'en').
    *
    * Exactness: per-bigram weight = bitlen(ct+1) − bitlen(cr+1) — the
    * integer magnitude surrogate of log₂ of the add-one-smoothed count
    * ratio (the smoothing keeps absent-in-target grams finite, as
    * DSIR's hashed multinomial does). ct ≤ cr so weights are ≤ 0;
    * ordering is what matters. Order-free integer sums ⇒ fully
    * oracled; the mean rides the exact 1e-4 grid (Spark IntegralDivide
    * and DuckDB `//` both truncate toward zero, negative-safe).
    *
    * Plan shape: one corpus scan trains BOTH count columns (raw count +
    * filtered target count in the same partial agg — never a second
    * corpus pass for the target model); the folded per-gram weight
    * table is vocab-sized, checkpointed once (train/serve split), and
    * the scoring spine joins the corpus against it exactly once.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val big = docs
      .select(col("doc_id"), col("lang"), isTarget.as("__t"),
        explode(graftshim.exprToColumn(WordBigrams(
          graftshim.columnToExpr(col("text"))))).as("b"))
      .select(col("doc_id"), col("lang"), col("__t"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val model = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
      .select(col("w1"), col("w2"),
        (length(bin(col("ct") + 1L)) - length(bin(col("cr") + 1L)))
          .cast("long").as("wgt"))
      .localCheckpoint(false)
    big.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("wgt")).as("dsir_weight"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("dsir_weight"),
        frac4(col("dsir_weight"), col("n_bigrams")).as("mean_weight"))
  }

  /** The "R" in DSIR — importance RESAMPLING: keep the top-k documents
    * by mean importance weight toward the target domain (the
    * deterministic top-k form of Xie et al.'s Gumbel resampling; mean
    * rather than sum so selection does not just favor short docs).
    * Ties break doc_id-ascending. The take is a bounded TakeOrdered
    * heap over the already-vocab-joined weight frame — never a full
    * corpus sort. */
  def dsirSelect(docs: DataFrame, isTarget: Column, k: Int): DataFrame = {
    val w = dsirWeights(docs, isTarget)
    w.orderBy(col("mean_weight").desc, col("doc_id").asc).limit(k)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("mean_weight").desc, col("doc_id").asc))
          .cast("long").as("rank"),
        col("doc_id"), col("lang"), col("n_bigrams"), col("dsir_weight"),
        col("mean_weight"))
  }

  /** Per-source n-gram diversity — the distinct-n / self-repetition
    * corpus signal (templated or boilerplate-heavy sources repeat the
    * same bigrams; diverse sources do not): share of DISTINCT word
    * bigrams among all bigram occurrences per source, on the exact
    * 1e-4 grid. One corpus pass through the codegen bigram kernel;
    * the only exchange is the (source, bigram) count shuffle —
    * vocab-sized per source after the map-side partial. */
  def sourceDiversity(docs: DataFrame): DataFrame = {
    val big = docs.select(col("source"),
      explode(graftshim.exprToColumn(WordBigrams(
        graftshim.columnToExpr(col("text"))))).as("b"))
    big.groupBy(col("source"), col("b.w1"), col("b.w2"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n_total"))
      .select(col("source"), col("n_distinct"), col("n_total"),
        frac4(col("n_distinct"), col("n_total")).as("distinct_ratio"))
  }

  /** Token-window chunking with overlap — the stride-S sliding window
    * over TOKENS (the budget currency) that long-document pretraining
    * and RAG indexing split with, beside the char-based [[chunk]]:
    * windows start every `stride` tokens, the tail window may be
    * short. One narrow explode per doc — no shuffle, partitioning
    * inherited from the scan. */
  def chunkTokens(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    val toks = filter(split(lower(col("text")), " "), w => w =!= "")
    docs.select(col("doc_id"), toks.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("doc_id"), col("__ws"),
        explode(sequence(lit(1), size(col("__ws")), lit(stride)))
          .as("start"))
      .select(col("doc_id"),
        intDiv((col("start") - 1).cast("long"), lit(stride.toLong))
          .as("chunk_idx"),
        col("start").cast("long").as("tok_start"),
        size(slice(col("__ws"), col("start"), lit(window)))
          .cast("long").as("n_toks"),
        array_join(slice(col("__ws"), col("start"), lit(window)), " ")
          .as("chunk_text"))
  }

  /** T5/UL2 span-corruption data prep — the denoising-objective
    * transform: mask a deterministic ~rate of token positions, merge
    * adjacent masked positions into spans, replace each span with a
    * `<extra_id_k>` sentinel in the input, and emit the span contents
    * (sentinel-prefixed, final sentinel appended) as the target — the
    * (input, target) pair the denoiser trains on. "Randomness" is the
    * SQL-replayable md5-60bit hash of (doc_id, position), so the
    * corruption is reproducible across runs AND engines — the seeded
    * determinism real pipelines need to resume mid-epoch; fully
    * oracled including the assembled strings. Position i is masked
    * when hash % denom < num (num/denom ≈ the paper's 15%).
    *
    * Plan: one explode over token positions, two windows per doc
    * (span-start lag, running span counter) and one ordered re-collect
    * — the same doc-sized exchange every two-pass text family pays;
    * nothing corpus-global.
    */
  def spanCorruption(docs: DataFrame, num: Int = 3, denom: Int = 20)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    val p = docs.select(col("doc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("doc_id"), posexplode(col("__ws")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      .withColumn("h", graft.functions.SimHashExpression.md5Long60(
        concat(col("doc_id").cast("string"), lit("_"),
          col("pos").cast("string"))))
      .withColumn("flag", pmod(col("h"), lit(denom.toLong)) < num.toLong)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val marked = p
      .withColumn("span_start",
        col("flag") && !coalesce(lag(col("flag"), 1).over(byPos), lit(false)))
      .withColumn("span_id",
        sum(col("span_start").cast("long")).over(
          byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sentinel = concat(lit("<extra_id_"),
      (col("span_id") - 1).cast("string"), lit(">"))
    val pieces = marked
      .withColumn("ip", when(!col("flag"), col("tok"))
        .when(col("span_start"), sentinel))
      .withColumn("tp", when(col("flag"),
        when(col("span_start"), concat(sentinel, lit(" "), col("tok")))
          .otherwise(col("tok"))))
    def joined(c: String) = array_join(transform(
      sort_array(collect_list(when(col(c).isNotNull,
        struct(col("pos"), col(c).as("piece"))))),
      x => x.getField("piece")), " ")
    pieces.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("flag").cast("long")).as("n_masked"),
        sum(col("span_start").cast("long")).as("n_spans"),
        joined("ip").as("__in"), joined("tp").as("__tgt"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
        col("__in").as("input_text"),
        concat(when(length(col("__tgt")) > 0, concat(col("__tgt"), lit(" ")))
            .otherwise(lit("")),
          lit("<extra_id_"), col("n_spans").cast("string"), lit(">"))
          .as("target_text"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022; the StarCoder/
    * code-model training prep): with deterministic probability ~½ per
    * doc, split the token sequence at two hash-chosen points and emit
    * the PSM reordering `<fim_prefix> P <fim_suffix> S <fim_middle> M`
    * (training on it teaches infilling); otherwise pass the doc
    * through. All "randomness" is the md5-60bit hash of doc_id-derived
    * keys — reproducible across runs and engines, so the assembled
    * strings oracle exactly. Entirely ROW-LOCAL: no explode, no
    * shuffle; the two cut points are `h % (n+1)` ordered.
    */
  def fimTransform(docs: DataFrame): DataFrame = {
    def h60(key: Column): Column =
      graft.functions.SimHashExpression.md5Long60(key)
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    val base = docs.select(col("doc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("n", size(col("__ws")).cast("long"))
      .withColumn("is_fim",
        pmod(h60(concat(col("doc_id").cast("string"), lit("_fim"))),
          lit(2L)) === 0L)
      .withColumn("a", pmod(h60(concat(col("doc_id").cast("string"),
        lit("_a"))), col("n") + 1L))
      .withColumn("b", pmod(h60(concat(col("doc_id").cast("string"),
        lit("_b"))), col("n") + 1L))
      .withColumn("s1", least(col("a"), col("b")))
      .withColumn("s2", greatest(col("a"), col("b")))
    val pfx = array_join(slice(col("__ws"), lit(1), col("s1").cast("int")), " ")
    val mid = array_join(slice(col("__ws"), (col("s1") + 1L).cast("int"),
      (col("s2") - col("s1")).cast("int")), " ")
    val sfx = array_join(slice(col("__ws"), (col("s2") + 1L).cast("int"),
      (col("n") - col("s2")).cast("int")), " ")
    base.select(col("doc_id"), col("n").as("n_tokens"), col("is_fim"),
      when(col("is_fim"), col("s1")).as("s1"),
      when(col("is_fim"), col("s2")).as("s2"),
      when(col("is_fim"), concat(lit("<fim_prefix> "), pfx,
          lit(" <fim_suffix> "), sfx, lit(" <fim_middle> "), mid))
        .otherwise(array_join(col("__ws"), " ")).as("out_text"))
  }

  /** Blocklist lexicons match against `lower(text)`, so a mixed-case
    * term could never hit — normalize terms to lowercase at the API
    * boundary (the badwords-filter contract). Two terms that collapse
    * after lowercasing would make the automaton's per-term counts
    * ambiguous, so that fails loudly instead.
    */
  private[graft] def normalizeLexicon(terms: Seq[String]): Seq[String] = {
    val lc = terms.map(_.toLowerCase)
    require(lc.distinct.size == lc.size,
      "blocklist terms collapse after lowercasing: " +
        lc.diff(lc.distinct).distinct.mkString(", "))
    lc
  }

  /** Multi-pattern blocklist scan, per-TERM view: for a literal lexicon
    * (the C4/RefinedWeb badwords shape), how many documents contain each
    * term and how many times — via ONE Aho–Corasick pass per document
    * ([[graft.functions.AhoCorasick]]), not m `contains()` scans.
    * Occurrences are leftmost-greedy non-overlapping per term (the
    * `replace()`-trick semantics, so the DuckDB oracle is one cheap
    * replace per (doc, term)); terms may be phrases spanning word
    * boundaries and any UTF-8 script. Zero-hit terms stay in the output
    * (count 0) — a blocklist report must show silence explicitly.
    *
    * Plan shape: one narrow text scan emitting SPARSE (term, cnt) hits
    * (row width ∝ matches, not lexicon size), one partial-aggregated
    * count shuffle on the term (≤ m groups), then a broadcast-sized
    * join against the literal lexicon to restore zero-hit rows. At
    * 100 TB the automaton rides in the codegen references (built once
    * per JVM) and the per-byte cost is O(1) regardless of m.
    */
  def blocklistTermStats(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val termsLc = normalizeLexicon(terms)
    val lexicon = array(termsLc.map(lit): _*)
    val hits = docs
      .select(explode(graft.functions.AhoCorasick.ac_matches(
        lower(col("text")), termsLc)).as("h"))
      .select(element_at(lexicon, col("h.id") + 1).as("term"),
        col("h.cnt").as("cnt"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cnt")).as("n_occurrences"))
    val lex = docs.sparkSession
      .createDataset(termsLc)(org.apache.spark.sql.Encoders.STRING)
      .toDF("term")
    lex.join(broadcast(hits), Seq("term"), "left")
      .select(col("term"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy(col("term"))
  }

  /** WORD-BOUNDARY blocklist scan — the C4 badwords semantic the
    * substring automaton deliberately does not have ("low" must NOT
    * hit "slow", "can" must not hit "scan"): lexicon terms match whole
    * TOKENS only. Single-token terms by contract (phrases belong to
    * the substring scan). One tokenize scan → broadcast semi-join
    * against the literal lexicon → model-sized count shuffle; zero-hit
    * terms restored by the same left join as [[blocklistTermStats]].
    */
  def blocklistWordStats(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val termsLc = normalizeLexicon(terms)
    require(termsLc.forall(!_.contains(' ')),
      "word-boundary lexicon takes single tokens; phrases use the substring scan")
    val lex = docs.sparkSession
      .createDataset(termsLc)(org.apache.spark.sql.Encoders.STRING)
      .toDF("term")
    val hits = docs
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "), w => w =!= ""))
          .as("term"))
      .join(broadcast(lex), Seq("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
    lex.join(broadcast(hits), Seq("term"), "left")
      .select(col("term"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy(col("term"))
  }

  /** Multi-pattern blocklist scan, per-SOURCE view: the share of each
    * source's documents containing ANY lexicon term — the actual C4
    * cleaning decision ("drop flagged docs"), reported as an exact
    * 1e-4-grid ratio. Same one-pass automaton; a doc is flagged iff
    * its sparse match array is non-empty, so this is a narrow map +
    * one partial-aggregated groupBy(source).
    */
  def blocklistDocShare(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs
      .select(col("source"),
        (size(graft.functions.AhoCorasick.ac_matches(
          lower(col("text")), normalizeLexicon(terms))) > 0).as("flagged"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        frac4(col("n_flagged"), col("n_docs")).as("flagged_share"))
      .orderBy(col("source"))

  /** Cross-source DISTINCT-vocabulary overlap: pairwise Jaccard between
    * per-source token SETS, estimated from KMV bottom-k signatures
    * ([[graft.functions.Kmv]]) — the set-overlap complement of
    * [[sourceSimilarity]]'s TF cosine (which weighs repetition; this
    * answers "do these sources draw on the same vocabulary at all").
    *
    * Estimator (Beyer et al. 2007): with S = bottom-k of sigA ∪ sigB,
    * Ĵ = |S ∩ sigA ∩ sigB| / |S| — here EXACT integers end to end on
    * the 1e-4 grid, because the signature is selected by md5-60bit
    * hash VALUE (no RNG), so the whole estimate replays in SQL.
    *
    * Scale: one corpus scan feeds map-side KMV partials (≤ k longs per
    * partition × source); the pair join runs over the signature frame
    * (#sources × k longs — sketch-sized, broadcast), output is
    * #sources²/2 rows at any corpus size.
    */
  def sourceKmvJaccard(docs: DataFrame, k: Int = 128): DataFrame = {
    // 3-token shingles, not unigrams: the distinct-shingle space is
    // large enough that the bottom-k signature actually sketches
    // (unigram vocabularies here fit whole inside k)
    val tok = docs
      .select(col("source"),
        explode(tokenGramHashes(lower(col("text")), 3)).as("h"))
    val sigs = graft.functions.Kmv.kmvPerStrKey(tok, "source", "h", k)
      .localCheckpoint(eager = false) // both join sides read the sketch
    val uni = array_sort(array_union(col("a.sig"), col("b.sig")))
    val bot = slice(uni, 1, k)
    val interBot = size(array_intersect(bot,
      array_intersect(col("a.sig"), col("b.sig")))).cast("long")
    val denom = least(lit(k.toLong), size(uni).cast("long"))
    sigs.as("a")
      .join(broadcast(sigs.as("b")), col("a.key") < col("b.key"))
      .select(col("a.key").as("src_a"), col("b.key").as("src_b"),
        interBot.as("inter_k"),
        intDiv(interBot * lit(10000L), denom).as("jaccard_e4"))
  }

  /** Pairwise source similarity (corpus-drift/redundancy dashboard):
    * cosine between per-source unigram term-frequency vectors — "which
    * sources say the same things", the signal behind source-level
    * dedup and mixture design. One corpus scan builds the TF model
    * (vocab-sized, checkpointed once — the self-join and the norm agg
    * both read the frozen model, never the corpus again); dot products
    * and norms are exact integer sums; the single cosine division is
    * sqrt-based (IEEE-stable in both engines) rounded to 4 decimals
    * (the ANN-oracle precedent). Source-pair output is #sources²/2
    * rows — driver-sized at any corpus scale.
    */
  def sourceSimilarity(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val norms = tf.groupBy(col("source"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = tf.as("a").join(tf.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col("source").as("src_a"), col("n2").as("__na")),
        Seq("src_a"))
      .join(norms.select(col("source").as("src_b"), col("n2").as("__nb")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("dot"),
        round(col("dot") / (sqrt(col("__na")) * sqrt(col("__nb"))), 4)
          .as("cos"))
  }

  /** BM25 (Robertson/Sparck Jones, k1/b) document ranking for a literal
    * query-term set — the retrieval-style scorer a training-data
    * pipeline uses for targeted corpus slicing (hillview has no ranked
    * retrieval; parity-plus alongside TF-IDF above).
    *
    * Plan shape: one tokenize pass → per-doc length agg; the query-term
    * tf table joins a BROADCAST per-term df and a BROADCAST 1-row
    * corpus-stats agg (no second shuffle); top-k via orderBy+limit
    * (TakeOrderedAndProject — never a full sort); the rank window runs
    * over the k collected rows only. At 100 TB the only data-sized
    * exchanges are the two groupBys on (doc) and (doc, term).
    *
    * Oracle exactness: each per-term score quantizes to integer
    * MICRO-units (floor×1e6) BEFORE the per-doc sum, so the sum is
    * exact integer arithmetic — no float addition-order dependence
    * (Spark's aggregation order is nondeterministic). The ln() inside
    * the floor follows the tfidf_topterms precedent (boundary
    * probability ~1e-10 per value; rank+score_micro output makes any
    * future flip a visible one-row diff).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val words = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val stats = dl.agg(sum(col("dlen")).cast("double").as("__sumdl"),
      count(lit(1)).cast("double").as("__nd"))
    val tf = words.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val perTerm = tf.join(broadcast(dfq), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("__nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("norm",
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dlen") / (col("__sumdl") / col("__nd"))))
      .withColumn("s_micro",
        floor(col("idf") * (col("tf") * lit(k1 + 1.0)) / (col("tf") + col("norm"))
          * lit(1e6)).cast("long"))
    val top = perTerm.groupBy(col("doc_id"))
      .agg(sum(col("s_micro")).cast("long").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
    top.select(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("doc_id")))
        .cast("long").as("rank"),
      col("doc_id"), col("score_micro"))
  }

  // ── web-corpus ingest cleanup (CCNet / RefinedWeb / C4 line+URL+HTML
  //    layer) ──────────────────────────────────────────────────────────

  /** CCNet-style line-hash normalization: lowercase, strip digits and
    * punctuation, collapse whitespace — the key under which CCNet
    * deduplicates paragraphs across shards ("page 1 of 10" and
    * "page 2 of 10" are the same boilerplate). Kept in the Java∩RE2
    * regex intersection — `\p{Punct}` is Java-only, so ASCII
    * punctuation is spelled as the explicit ranges 33–47 / 58–64 /
    * 91–96 / 123–126, which both engines read identically.
    */
  private[graft] def ccnetLineKey(line: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(line), "[0-9!-/:-@\\[-`{-~]", ""), " +", " "))

  /** Cross-document boilerplate-line DETECTION (the CCNet/RefinedWeb
    * line-dedup signal): every nonblank line occurring in ≥ `minDocs`
    * distinct documents, with its document frequency, total occurrence
    * count, and keeper (lowest doc_id — the copy [[removeDupLines]]
    * preserves). `normalized = true` groups under [[ccnetLineKey]]
    * instead of the raw line (the reported `line` is then the key).
    *
    * Scale shape: one explode → one groupBy on the line key. The key
    * carries the line STRING through the shuffle (the corpus_ngrams
    * precedent — needed because the report surfaces the text itself);
    * the destructive transform below ships only 128-bit hashes.
    */
  def boilerplateLines(docs: DataFrame, minDocs: Int = 2,
      normalized: Boolean = false): DataFrame =
    boilerplateState(docs, normalized).filter(col("n_docs") >= minDocs)

  /** Cross-document duplicate-line REMOVAL — the line-granularity
    * member of the dedup transform family (exact docs:
    * [[graft.dedup.Dedup]]; token spans: [[removeDupSpans]]): the
    * CCNet/RefinedWeb pass that strips boilerplate ("accept cookies",
    * nav bars, copyright footers) repeated across pages. A nonblank
    * line whose key occurs in ≥2 distinct documents keeps ALL
    * its copies in the lowest-doc_id document and is cut from every
    * other; blank lines and unique lines pass through; kept lines
    * reassemble in original order. `normalized = true` matches under
    * [[ccnetLineKey]] (digit/punct-blind — the CCNet hash), while the
    * reassembled text always keeps the RAW lines.
    *
    * Scale shape: [[removeDupSpans]]' — line keys emitted row-locally
    * as 128-bit double hashes (destructive transform: a 64-bit
    * birthday collision at ~1e12 corpus lines would delete unrelated
    * text; 128 bits push that below 1e-13), one groupBy on the hash
    * carrying (min, max doc_id), one join back to tag
    * cut positions, one groupBy doc_id collecting positions (bounded
    * by document length), row-local indexed filter for the cut. No
    * per-line string shuffles and no driver state.
    */
  def removeDupLines(docs: DataFrame, normalized: Boolean = false): DataFrame = {
    val pre = docs.select(col("doc_id"), split(col("text"), "\n", -1).as("__ls"))
    val ls = col("__ls")
    // (1-based position, h1, h2) per NONBLANK line; normalized keys
    // that collapse to "" (digit/punct-only lines) stay undeduped
    val keyed = transform(ls, (l, i) => {
      val k = if (normalized) ccnetLineKey(l) else l
      struct((i + lit(1)).as("p"), xxhash64(k).as("h1"),
        xxhash64(lit(1L), k).as("h2"), (length(k) > 0).as("nb"))
    })
    // materialized (lazily): feeds BOTH the dup aggregation and the
    // join-back probe side (the removeDupSpans shape)
    val lines = pre.select(col("doc_id"), explode(filter(keyed, x => x("nb"))).as("x"))
      .select(col("doc_id"), col("x.p").as("p"),
        struct(col("x.h1").as("h1"), col("x.h2").as("h2")).as("lh"))
      .localCheckpoint(eager = false)
    val cuts = lines.join(dupKeys(lines, "lh"), Seq("lh"))
      .filter(col("doc_id") =!= col("__keeper"))
      .groupBy(col("doc_id")).agg(collect_list(col("p")).as("__ps"))
    val ps = coalesce(col("__ps"), array().cast("array<int>"))
    // every doc passes through (transform, not filter); a doc whose
    // every line is boilerplate comes out empty, not dropped
    val kept = filter(ls, (l, i) => !array_contains(col("__psa"), i + lit(1)))
    pre.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__ls"), ps.as("__psa"))
      .select(col("doc_id"),
        size(ls).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, "\n").as("clean_text"))
  }

  /** Storable line-dedup STATE — the incremental-maintenance member of
    * the line-dedup family (the storable-sketch pattern: detect once
    * per arriving shard, merge states, derive the boilerplate list
    * from the merged state without ever rescanning old data). One row
    * per distinct nonblank line key: (line, n_docs, n_occurrences,
    * keeper). States over DISJOINT document shards merge EXACTLY by
    * (sum, sum, min) — distinct-doc counts add when no document spans
    * shards, which ingest sharding guarantees by construction (the
    * same contract as the theta/HLL rollups' disjoint-partition
    * merges). [[boilerplateLines]] ≡ this state filtered at
    * `n_docs ≥ minDocs`, so incremental detection is bit-equal to the
    * one-shot batch scan (property-gated, and the incremental query
    * shares the batch oracle verbatim).
    */
  def boilerplateState(docs: DataFrame,
      normalized: Boolean = false): DataFrame = {
    val raw = docs.select(col("doc_id"),
        explode(filter(split(col("text"), "\n", -1),
          l => length(l) > 0)).as("__raw"))
    raw.select(col("doc_id"),
        (if (normalized) ccnetLineKey(col("__raw")) else col("__raw")).as("line"))
      .filter(length(col("line")) > 0)
      .groupBy(col("line"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("keeper"))
  }

  /** Merge line-dedup states from disjoint shards (see
    * [[boilerplateState]]); associative and commutative, so shards
    * fold in any order. */
  def mergeBoilerplateStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_.unionByName(_)).groupBy(col("line"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_occurrences")).as("n_occurrences"),
        min(col("keeper")).as("keeper"))

  /** The line-dedup state as an INCREMENTALLY-MAINTAINED folded
    * artifact over an append-only shard list — the second model on the
    * [[graft.engine.Artifacts.serveFoldedShards]] pattern (beside the
    * cluster map): the published state is maintained by scanning ONLY
    * newly-arrived shards and merging their states into the stored one
    * ((sum, sum, min) per line key — exact for disjoint shards, the
    * ingest-sharding contract), never re-scanning published data.
    * Consumers filter `n_docs >= minDocs` for the boilerplate list.
    * Fingerprinting/fold/full rules and atomic publication are the
    * shared folded-artifact contract; `name` scopes the lineage.
    */
  def boilerplateStateArtifactFolded(spark: org.apache.spark.sql.SparkSession,
      name: String, shardDirs: Seq[String],
      normalized: Boolean = false): DataFrame = {
    val params = s"norm$normalized"
    val dir = boilerplateFoldDir(name, params)
    def load(sd: String) = graft.engine.Tables.documents(spark, sd)
    val shardFps = graft.engine.Artifacts.shardFingerprints(
      shardDirs, "documents")
    val stamp = graft.engine.Artifacts.classStamp(Seq(
      "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class"))
    graft.engine.Artifacts.serveFoldedShards(spark, dir, params, stamp,
      shardFps)(
      boilerplateState(shardDirs.map(load).reduce(_ union _), normalized)) {
      (oldState, _, deltaDirs) =>
        mergeBoilerplateStates(oldState +:
          deltaDirs.map(sd => boilerplateState(load(sd), normalized)))
    }
  }

  /** Whether a [[boilerplateStateArtifactFolded]] lineage is published —
    * callers seed a base state only on first contact. */
  def boilerplateFoldedExists(name: String,
      normalized: Boolean = false): Boolean =
    graft.engine.Artifacts.foldedShardsExists(
      boilerplateFoldDir(name, s"norm$normalized"))

  /** Last publication's provenance for a boilerplate fold lineage. */
  def boilerplateFoldedProvenance(name: String,
      normalized: Boolean = false): Option[String] =
    graft.engine.Artifacts.foldedShardsProvenance(
      boilerplateFoldDir(name, s"norm$normalized"))

  private def boilerplateFoldDir(name: String, params: String): String =
    graft.engine.Artifacts.lineageDir("boilerplate_state_fold",
      name + "|" + params)

  /** The bigram-LM count state as an incrementally-maintained folded
    * artifact over an append-only shard list — the THIRD model on the
    * [[graft.engine.Artifacts.serveFoldedShards]] pattern (after the
    * cluster map and the boilerplate line state): a new corpus shard
    * folds in by scanning ONLY the delta ([[bigramCountState]]) and
    * merging counts by exact sum ([[mergeBigramStates]]), never
    * re-scanning published shards. [[bigramModelFromStates]] over the
    * served state derives a model bit-equal to batch training on the
    * union — the equality the `lm_model_folded` oracle pins.
    */
  def bigramStateArtifactFolded(spark: org.apache.spark.sql.SparkSession,
      name: String, shardDirs: Seq[String]): DataFrame = {
    val dir = lmFoldDir(name)
    def load(sd: String) = graft.engine.Tables.documents(spark, sd)
    val shardFps = graft.engine.Artifacts.shardFingerprints(
      shardDirs, "documents")
    val stamp = graft.engine.Artifacts.classStamp(Seq(
      "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class"))
    graft.engine.Artifacts.serveFoldedShards(spark, dir, "bigram-v1", stamp,
      shardFps)(
      bigramCountState(shardDirs.map(load).reduce(_ union _))) {
      (oldState, _, deltaDirs) =>
        mergeBigramStates(oldState +:
          deltaDirs.map(sd => bigramCountState(load(sd))))
    }
  }

  /** Whether a [[bigramStateArtifactFolded]] lineage is published. */
  def bigramFoldedExists(name: String): Boolean =
    graft.engine.Artifacts.foldedShardsExists(lmFoldDir(name))

  /** Last publication's provenance for an LM-state fold lineage. */
  def bigramFoldedProvenance(name: String): Option[String] =
    graft.engine.Artifacts.foldedShardsProvenance(lmFoldDir(name))

  private def lmFoldDir(name: String): String =
    graft.engine.Artifacts.lineageDir("lm_state_fold", name + "|bigram-v1")

  /** The langid-model count state as an incrementally-maintained folded
    * artifact — the FOURTH folded model: per-shard (lang, gram, c) seed
    * counts fold by exact sum ([[langidModelFromStates]]); the seed
    * predicate (which rows are TRUSTED labels) is part of the artifact
    * identity, so changing the trust contract re-mines. Derived scorers
    * over the served state are bit-equal to batch training by
    * construction ([[langidDenFromModel]] is shared).
    */
  def langidStateArtifactFolded(spark: org.apache.spark.sql.SparkSession,
      name: String, shardDirs: Seq[String], seedSql: String): DataFrame = {
    val params = "langid-v1 seed=" + seedSql
    val dir = langidFoldDir(name, params)
    def load(sd: String) = graft.engine.Tables.documents(spark, sd)
    val shardFps = graft.engine.Artifacts.shardFingerprints(
      shardDirs, "documents")
    val stamp = graft.engine.Artifacts.classStamp(Seq(
      "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class"))
    graft.engine.Artifacts.serveFoldedShards(spark, dir, params, stamp,
      shardFps)(
      langidCountState(shardDirs.map(load).reduce(_ union _), expr(seedSql))) {
      (oldState, _, deltaDirs) =>
        langidModelFromStates(oldState +:
          deltaDirs.map(sd => langidCountState(load(sd), expr(seedSql))))
    }
  }

  /** Whether a [[langidStateArtifactFolded]] lineage is published. */
  def langidFoldedExists(name: String, seedSql: String): Boolean =
    graft.engine.Artifacts.foldedShardsExists(
      langidFoldDir(name, "langid-v1 seed=" + seedSql))

  /** Last publication's provenance for a langid-state fold lineage. */
  def langidFoldedProvenance(name: String, seedSql: String): Option[String] =
    graft.engine.Artifacts.foldedShardsProvenance(
      langidFoldDir(name, "langid-v1 seed=" + seedSql))

  private def langidFoldDir(name: String, params: String): String =
    graft.engine.Artifacts.lineageDir("langid_state_fold", name + "|" + params)

  /** Strip KNOWN boilerplate lines — the serve half of the line-dedup
    * train/serve split (detection: [[boilerplateLines]]). Unlike the
    * corpus-wide [[removeDupLines]] (whose keeper retains one copy),
    * a frozen-list strip cuts EVERY occurrence: the list already
    * carries its canonical copies, so an arriving document is never
    * the keeper. This is the operator an ingest gate runs per
    * micro-batch against a boilerplate list detected once in batch.
    *
    * Scale shape: the list is model-sized (boilerplate, not corpus) →
    * BROADCAST to the exploded-lines join; cut positions collect per
    * doc (bounded by document length); row-local reassembly. The only
    * exchange is the per-doc position aggregation.
    */
  def stripKnownBoilerplate(docs: DataFrame, boiler: DataFrame): DataFrame = {
    val pre = docs.select(col("doc_id"), split(col("text"), "\n", -1).as("__ls"))
    val ls = col("__ls")
    val e = pre.select(col("doc_id"), posexplode(ls))
      .toDF("doc_id", "pos0", "line")
    val cuts = e.join(broadcast(boiler.select(col("line"))), Seq("line"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos0") + lit(1)).as("__ps"))
    val ps = coalesce(col("__ps"), array().cast("array<int>"))
    val kept = filter(ls, (l, i) => !array_contains(col("__psa"), i + lit(1)))
    pre.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__ls"), ps.as("__psa"))
      .select(col("doc_id"),
        size(ls).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, "\n").as("clean_text"))
  }

  /** URL extraction + domain-blocklist verdict (the C4 URL filter
    * applied to in-text links): per document, the URL count, distinct
    * domains (sorted, comma-joined — a deterministic scalar), and
    * whether any domain is blocklisted. The URL pattern stays in the
    * Java∩RE2 intersection (scheme + host char class + non-space
    * path) so any engine replays it. Pure narrow map + row-local array
    * ops against a LITERAL blocklist — zero shuffle at any scale.
    */
  def urlFilter(docs: DataFrame, blockedDomains: Seq[String]): DataFrame = {
    val urlPat = "https?://[a-z0-9.-]+"
    val pre = docs.select(col("doc_id"),
      // regexp_extract_all over the scheme+host prefix; the substring
      // after "//" is the domain
      transform(regexp_extract_all(col("text"), lit(urlPat), lit(0)),
        u => substring_index(u, "//", -1)).as("__doms"))
    val doms = col("__doms")
    val blocked = array(blockedDomains.map(lit): _*)
    pre.select(col("doc_id"),
      size(doms).cast("long").as("n_urls"),
      array_join(array_sort(array_distinct(doms)), ",").as("domains"),
      (size(array_intersect(array_distinct(doms), blocked)) > 0).as("flagged"))
  }

  /** LINE-level Gopher rules (Rae et al. 2021 §A1.1's other half —
    * [[gopherRules]] covers the word-level tests): per document, the
    * share of lines starting with a bullet ("- " / "* ") and the share
    * ending with an ellipsis ("..."), both on the exact 1e-4 grid, and
    * the pass verdict (bullet share ≤ 0.9 AND ellipsis share ≤ 0.3 —
    * the paper's removal thresholds). Pure row-local array ops over
    * the split lines — zero shuffle at any scale.
    */
  def gopherLineRules(docs: DataFrame): DataFrame = {
    val ls = split(col("text"), "\n", -1)
    val n = size(ls).cast("long")
    val bullets = size(filter(ls,
      l => l.startsWith("- ") || l.startsWith("* "))).cast("long")
    val ell = size(filter(ls, l => l.endsWith("..."))).cast("long")
    val be4 = intDiv(bullets * lit(10000L), n)
    val ee4 = intDiv(ell * lit(10000L), n)
    docs.select(col("doc_id"), n.as("n_lines"),
      (be4 / lit(10000.0)).as("bullet_share"),
      (ee4 / lit(10000.0)).as("ellipsis_share"),
      (be4 <= 9000L && ee4 <= 3000L).as("pass"))
  }

  /** URL canonicalization — the key URL-level dedup actually groups on
    * (every crawl pipeline's first dedup pass): lowercase the
    * scheme+authority (paths stay case-sensitive), strip the fragment,
    * drop tracking parameters (`utm_*`, `fbclid`, `gclid`) while
    * keeping the rest of the query string in order, strip default
    * ports (:80 http / :443 https), strip one trailing slash. Every
    * step is a row-local regex/array op in the Java∩RE2 intersection
    * (no lookahead — the port rule captures the following boundary
    * char instead), so the whole chain replays in SQL. Zero shuffle.
    */
  def canonicalizeUrl(u: Column): Column = {
    val pfxPat = "^([A-Za-z]+://[A-Za-z0-9.-]+(:[0-9]+)?)"
    val pfx = regexp_extract(u, pfxPat, 1)
    val u1 = concat(lower(pfx), u.substr(length(pfx) + lit(1), length(u)))
    val u2 = regexp_replace(u1, "#.*$", "")
    val base = substring_index(u2, "?", 1)
    val query = when(length(u2) > length(base),
      u2.substr(length(base) + lit(2), length(u2))).otherwise(lit(""))
    val keep = filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))
    val u3 = concat(base, when(size(keep) > 0,
      concat(lit("?"), array_join(keep, "&"))).otherwise(lit("")))
    val u4 = regexp_replace(regexp_replace(u3,
      "^(http://[a-z0-9.-]+):80($|/)", "$1$2"),
      "^(https://[a-z0-9.-]+):443($|/)", "$1$2")
    regexp_replace(u4, "/$", "")
  }

  /** URL-level dedup report: extract every in-text URL, canonicalize,
    * group by the canonical form — occurrences and how many raw
    * spellings collapsed into it. One extraction scan + one hash
    * aggregation on the (URL-table-sized) exploded frame. */
  def urlDedup(docs: DataFrame): DataFrame =
    docs.select(explode(regexp_extract_all(col("text"),
        lit("(?i)https?://[^ ]+"), lit(0))).as("url"))
      .select(col("url"), canonicalizeUrl(col("url")).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_raw_variants"))

  /** Per-source document capping (the FineWeb/C4 per-host quota): keep
    * only the K highest-quality documents of each source, ranked on
    * the exact 1e-4 quality grid with doc_id-ascending ties. Runs on
    * the bounded-heap per-key aggregator
    * ([[graft.functions.TopKByKey]]): map-side partials ship at most K
    * rows per (partition, key) to the shuffle — the window/row_number
    * formulation sorts every key's FULL candidate set, the thing that
    * dies first at 100 TB.
    */
  def sourceCap(docs: DataFrame, k: Int): DataFrame = {
    val q = quality(docs).select(col("doc_id"),
      // quality_score is k/10000.0 (one exact IEEE division), so
      // round(·*10000) recovers the integer grid value exactly
      round(col("quality_score") * 10000).cast("long").as("qe4"))
    val scored = docs.select(col("doc_id"), col("source")).join(q, Seq("doc_id"))
    graft.functions.TopKByKey
      .topKPerStrKey(scored, "source", "qe4", "doc_id", k)
      .select(col("key").as("source"), col("rank"), col("id").as("doc_id"),
        (col("score") / lit(10000.0)).as("quality_score"))
  }

  /** HTML → text extraction with link-density (the boilerplate signal
    * jusText/trafilatura gate on): strips tags/comments, unescapes the
    * five XML entities, collapses whitespace; link density = chars of
    * anchor TEXT over chars of clean text on the exact 1e-4 grid (a
    * nav-bar page scores near 1, an article near 0). Regexes stay in
    * the Java∩RE2 intersection (`<[^>]*>`, anchor text via a capture
    * group). Pure narrow map — zero shuffle; compose upstream of the
    * quality/dedup layer exactly where a web corpus runs readability.
    */
  def htmlExtract(html: Column): Column = {
    val noComments = regexp_replace(html, "<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    val unescaped = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  def htmlTextStats(docs: DataFrame): DataFrame = {
    val pre = docs.select(col("doc_id"),
      htmlExtract(col("text")).as("clean_text"),
      // anchor inner text: non-greedy across attributes, text up to
      // the closing tag (single capture group, RE2-safe)
      transform(regexp_extract_all(col("text"),
          lit("<a [^>]*>([^<]*)</a>"), lit(1)),
        t => trim(regexp_replace(t, "\\s+", " "))).as("__as"))
    val linkChars = aggregate(col("__as"), lit(0L),
      (acc, t) => acc + length(t).cast("long"))
    pre.select(col("doc_id"), col("clean_text"),
      length(col("clean_text")).cast("long").as("n_chars"),
      size(col("__as")).cast("long").as("n_links"),
      linkChars.as("n_link_chars"),
      frac4(linkChars, greatest(length(col("clean_text")).cast("long"), lit(1L)))
        .as("link_density"))
  }

  /** Code-data quality rules — The Stack / StarCoder prep filters for
    * source-code corpora: max and mean line length (minified /
    * generated bundles), alphanumeric fraction (symbol soup), comment
    * line share (all-comment files), and the auto-generated marker in
    * the first 5 lines. Thresholds are parameters of the published
    * filters (The Stack uses 1000/100-char lines; the fixture-scaled
    * defaults here keep the same semantics). Every ratio rides the
    * exact 1e-4 grid; the whole gate is a zero-shuffle narrow map —
    * line totals derive from char_length(text) − n_lines + 1 (exact,
    * codegen) instead of an interpreted per-line fold.
    */
  def codeQualityRules(docs: DataFrame, maxLine: Long = 120L,
      meanLine: Long = 60L): DataFrame = {
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast("long")
    val maxLen = array_max(transform(lines, l => char_length(l).cast("long")))
    val alnum = char_length(
      regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long")
    val commentLines = size(filter(lines, l =>
      trim(l).startsWith("#") || trim(l).startsWith("//"))).cast("long")
    val autogen = lower(array_join(slice(lines, 1, 5), "\n"))
      .contains("auto-generated") ||
      lower(array_join(slice(lines, 1, 5), "\n")).contains("do not edit")
    docs.select(col("doc_id"), nLines.as("n_lines"), maxLen.as("max_line_len"),
        frac4(char_length(col("text")).cast("long") - nLines + 1L, nLines)
          .as("mean_line_len"),
        frac4(alnum, greatest(char_length(col("text")).cast("long"), lit(1L)))
          .as("alnum_frac"),
        frac4(commentLines, nLines).as("comment_share"),
        autogen.as("has_autogen"))
      .withColumn("passes",
        col("max_line_len") <= maxLine &&
          col("mean_line_len") <= lit(meanLine.toDouble) &&
          col("alnum_frac") >= 0.25 && col("comment_share") <= 0.8 &&
          !col("has_autogen"))
  }

  /** Codepoint-bigram array of lower(text): positions 1..len−1, each a
    * 2-codepoint slice — the classic character-n-gram langid feature,
    * semantically `transform(sequence(1, char_length−1), i →
    * substr(lower(text), i, 2))` (code points, exactly DuckDB's
    * `substr`/`length` unit — the multibyte fixture rows prove the
    * parity end-to-end) but ONE primitive UTF-8 boundary walk instead
    * of an interpreted per-position lambda (the WordBigrams lesson:
    * the HOF form dominated the whole query). Docs under 2 codepoints
    * yield an empty array. */
  private def charBigrams(t: Column): Column =
    graftshim.exprToColumn(CharBigrams(graftshim.columnToExpr(t)))

  /** In-engine Naive-Bayes character-bigram language-ID TRAINING with
    * serve in the same query — the langid classifier step (CCNet /
    * fastText posture): the model trains on a TRUSTED LABELED SEED
    * (`isSeed` — real langid models train on curated per-lang samples,
    * never on the crawl's own claimed labels, which are exactly what's
    * being audited) and then scores EVERY document, flagging the ones
    * whose claimed `lang` disagrees with the prediction — the
    * lang-label audit step of corpus intake: per-lang
    * bigram counts are the model, and a doc's score under lang l is
    * Σ_g [bitlen((c(g,l)+1)²) − bitlen((tot_l + V)²)] — the integer
    * HALF-bit-resolution surrogate of the add-one-smoothed multinomial
    * NB log-likelihood (V = global distinct-bigram count, the
    * smoothing mass that keeps tiny-lang models from over-claiming
    * unseen grams). Squaring inside the bit-length doubles log₂
    * resolution to 0.5 bits — at whole-bit resolution two small langs
    * whose denominators straddle a power of two mis-rank (observed on
    * the fixture); exactness bound: (tot_l + V)² must fit a long ⇒
    * tot_l + V ≤ 3·10⁹, fine for any real langid training sample
    * (fastText-scale langid trains on bounded per-lang samples, not
    * the whole crawl — ANSI mode throws loudly past the bound). All
    * terms are order-free integer sums ⇒ fully oracled; prediction =
    * argmax score, ties to the LEXICOGRAPHICALLY FIRST lang (pinned).
    *
    * Plan shape: ONE corpus scan emits (doc, lang, gram); the model and
    * the per-lang denominators fold from it (vocab-sized, checkpointed
    * once — the train/serve split inside one query); serve re-walks the
    * gram spine × k candidate langs (k is tiny) against the BROADCAST
    * model — no data-sized shuffle beyond the per-doc aggregation.
    * Docs with < 2 codepoints have no features and drop out (documented).
    */
  def langidNb(docs: DataFrame, isSeed: Column): DataFrame = {
    val (model, den) = langidNbModel(docs, isSeed)
    scoreLangidNb(docs, model, den)
  }

  /** TRAIN half of [[langidNb]]: the per-(lang, gram) count table
    * (vocab-sized, checkpointed) and the per-lang smoothed-denominator
    * bits frame (k rows). Both are the frozen model a streaming gate
    * scores against ([[graft.streaming.Events.langidIngestGate]]). */
  def langidNbModel(docs: DataFrame, isSeed: Column)
      : (DataFrame, DataFrame) = {
    val model = langidCountState(docs, isSeed).localCheckpoint(false)
    (model, langidDenFromModel(model))
  }

  /** SFT loss-mask prep: instruction-tuning trains only on completion
    * tokens, so each "prompt `sep` completion" document gets a 0/1
    * per-token mask — 0 through the separator (prompt + sep), 1 after.
    * Docs without the separator carry an all-zero mask and
    * has_pair = false (no completion → contributes no loss; the
    * collator drops or repurposes them). Row-local, zero shuffle; the
    * mask is emitted as a compact 0/1 string aligned to the token
    * array. */
  def sftLossMask(docs: DataFrame, sep: String = "###"): DataFrame = {
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    docs.select(col("doc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("n_tokens", size(col("__ws")).cast("long"))
      .withColumn("sep_idx",
        nullif(array_position(col("__ws"), sep), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        col("sep_idx").isNotNull.as("has_pair"),
        coalesce(col("sep_idx"), col("n_tokens")).as("n_prompt_tokens"),
        (col("n_tokens") - coalesce(col("sep_idx"), col("n_tokens")))
          .as("n_completion_tokens"),
        concat(
          repeat(lit("0"),
            coalesce(col("sep_idx"), col("n_tokens")).cast("int")),
          repeat(lit("1"),
            (col("n_tokens") - coalesce(col("sep_idx"), col("n_tokens")))
              .cast("int"))).as("loss_mask"))
  }

  /** Multi-turn CHAT loss-mask prep — the SFT step for dialog data
    * (Vicuna/Zephyr style "train on assistant turns only"): tokens are
    * whitespace-split, role markers (`<user>` / `<assistant>`) switch
    * the running role state, and the per-token 0/1 mask is 1 exactly
    * for non-marker tokens whose most recent marker is the assistant
    * one. Tokens before any marker and whole marker tokens mask 0;
    * marker-free docs (the base corpus) flow through as all-zero
    * masks with has_dialog = false.
    *
    * The running-role fold is a codegen kernel (one primitive token
    * walk per row — the WinnowKernel posture; an `aggregate` lambda
    * here would run interpreted on the one-file corpus partition).
    * Every count besides the mask itself is a codegen builtin over
    * the token array. Zero shuffle. */
  def chatLossMask(docs: DataFrame, userMarker: String = "<user>",
      assistantMarker: String = "<assistant>"): DataFrame = {
    import org.apache.spark.sql.graftshim
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    docs.select(col("doc_id"), col("text"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("loss_mask", graftshim.exprToColumn(ChatMaskExpr(
        graftshim.columnToExpr(col("text")), userMarker, assistantMarker)))
      .withColumn("n_tokens", size(col("__ws")).cast("long"))
      .withColumn("n_user_turns",
        (size(col("__ws")) -
          size(array_remove(col("__ws"), userMarker.toLowerCase)))
          .cast("long"))
      .withColumn("n_assistant_turns",
        (size(col("__ws")) -
          size(array_remove(col("__ws"), assistantMarker.toLowerCase)))
          .cast("long"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_user_turns") + col("n_assistant_turns")).as("n_turns"),
        col("n_assistant_turns"),
        (col("n_assistant_turns") > 0L).as("has_dialog"),
        length(translate(col("loss_mask"), "0", "")).cast("long")
          .as("n_train_tokens"),
        col("loss_mask"))
  }

  /** Mojibake detection + repair over a corpus (see [[MojibakeKernel]]
    * for the exact decision rule). Zero shuffle, one codegen walk per
    * row; is_mojibake falls out of the repair (the kernel returns the
    * input untouched unless the full CP1252→UTF-8 reinterpretation is
    * strictly valid). */
  def mojibakeRepair(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim
    docs.select(col("doc_id"), col("text"),
        graftshim.exprToColumn(MojibakeFixExpr(
          graftshim.columnToExpr(col("text")))).as("text_fixed"))
      .select(col("doc_id"),
        (col("text_fixed") =!= col("text")).as("is_mojibake"),
        length(col("text")).cast("long").as("n_chars_in"),
        length(col("text_fixed")).cast("long").as("n_chars_fixed"),
        col("text_fixed"))
  }

  /** Sentence-aligned chunking — the RAG/long-context splitter that
    * never cuts mid-sentence: sentences (". "-separated) are assigned
    * to chunks by the SAME fixed-budget cumulative rule as
    * [[graft.pipeline.Pipeline]] packing (chunk = tokens-before div
    * budget): boundaries land only between sentences, and a sentence
    * straddling a budget multiple stays whole (its chunk runs over —
    * the documented straddle semantics, like a doc bigger than a pack
    * bin). One posexplode + one per-doc window + one per-chunk
    * aggregate — all partitioned by doc_id, no global ordering
    * anywhere. */
  def chunkSentences(docs: DataFrame, budgetTokens: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sents = filter(split(col("text"), "\\. "), s => length(s) > 0)
    val exploded = docs.select(col("doc_id"), posexplode(sents))
      .toDF("doc_id", "sidx", "sent")
      .withColumn("n_toks",
        size(filter(split(lower(col("sent")), " "), w => w =!= ""))
          .cast("long"))
      .filter(col("n_toks") > 0L)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sidx"))
    exploded
      .withColumn("__cum", sum(col("n_toks")).over(w) - col("n_toks"))
      .withColumn("chunk_id", intDiv(col("__cum"), lit(budgetTokens.toLong)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_toks")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("sidx"), col("sent")))),
          x => x.getField("sent")), ". ").as("chunk_text"))
  }

  /** Sequence-length histogram in power-of-two token buckets per
    * source (bucket = bitlen(n_toks), lo/hi bounds materialized) —
    * the length distribution packing efficiency and batch shapes are
    * tuned against. Integer-exact, one scan, model-sized output. */
  def seqLenHistogram(docs: DataFrame): DataFrame = {
    val n = size(filter(split(lower(col("text")), " "), w => w =!= ""))
      .cast("long")
    docs.select(col("source"), n.as("n_toks"))
      .filter(col("n_toks") > 0L)
      .withColumn("bucket_bits", length(bin(col("n_toks"))).cast("long"))
      .groupBy(col("source"), col("bucket_bits"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("bucket_lo",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket_bits - 1 AS INT))"))
      .withColumn("bucket_hi", col("bucket_lo") * 2L - 1L)
  }

  /** Storable langid-model count STATE (incremental maintenance, the
    * storable-sketch pattern): per-shard (lang, gram, c) tables merge
    * EXACTLY by sum — associative and commutative — so new labeled
    * seed data folds into the model without rescanning old shards. */
  def langidCountState(docs: DataFrame, isSeed: Column): DataFrame =
    docs.filter(isSeed).select(col("lang").as("lang2"),
        explode(charBigrams(col("text"))).as("g"))
      .groupBy(col("lang2"), col("g"))
      .agg(count(lit(1)).as("c"))

  /** Fold any number of [[langidCountState]] shards (any order) into
    * the batch-equal model table. */
  def langidModelFromStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("lang2"), col("g"))
      .agg(sum(col("c")).as("c"))

  /** Per-lang smoothed denominator bits derived from a model table —
    * shared by the batch trainer and the state-fold path, so derived
    * scorers are bit-equal by construction. */
  def langidDenFromModel(model: DataFrame): DataFrame = {
    val vv = model.select(countDistinct(col("g")).as("v"))
    model.groupBy(col("lang2")).agg(sum(col("c")).as("tot"))
      .crossJoin(broadcast(vv))
      .select(col("lang2"),
        length(bin((col("tot") + col("v")) * (col("tot") + col("v"))))
          .cast("long").as("db"))
  }

  /** SERVE half of [[langidNb]]: score every doc under a FROZEN
    * (model, den) pair and check its claimed label. The vocab-sized
    * frames collect to the driver and ride inside [[NbScoreKernel]]
    * (the AhoCorasick / quality-model posture), so serving is ONE
    * narrow codegen map — no per-gram explode, no grams × langs row
    * blowup, no serve-side shuffle. Docs with < 2 codepoints have no
    * features and drop out (the kernel returns null). */
  def scoreLangidNb(docs: DataFrame, model: DataFrame,
      den: DataFrame): DataFrame = {
    val denRows = den.collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val langs = denRows.map(_._1)
    val idx = langs.zipWithIndex.toMap
    val db = denRows.map(_._2)
    val wb = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    model.collect().foreach { r =>
      val (l, g, c) = (r.getString(0), r.getString(1), r.getLong(2))
      val key = org.apache.spark.unsafe.types.UTF8String.fromString(g)
      var arr = wb.get(key)
      if (arr == null) { arr = Array.fill(langs.length)(1L); wb.put(key, arr) }
      val cc = c + 1L
      arr(idx(l)) = 64L - java.lang.Long.numberOfLeadingZeros(cc * cc)
    }
    val kernel = new NbScoreKernel(langs, db, wb)
    docs.select(col("doc_id"), col("lang"),
        graftshim.exprToColumn(NbLangScore(
          graftshim.columnToExpr(col("text")), kernel)).as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("lang"),
        col("b.pred_lang").as("pred_lang"), col("b.score").as("score"),
        (col("lang") === col("b.pred_lang")).as("label_ok"))
  }

  /** ROUGE-L instruction-pool dedup — the Self-Instruct / Alpaca
    * admission filter: a candidate instruction is a duplicate when its
    * ROUGE-L F1 against ANY pool instruction reaches θ (the published
    * pipelines use 0.7). ROUGE-L's F1 collapses exactly to
    * 2·LCS/(n+m) (p = LCS/m, r = LCS/n ⇒ 2pr/(p+r) = 2·LCS/(n+m)), so
    * the whole metric is one integer LCS plus one exact 1e-4-grid
    * division — fully oracle-able. Unlike bag-of-words Jaccard, LCS is
    * ORDER-sensitive: a word-reordered twin scores 0.5, not 1.0 (the
    * fixture plants exactly that).
    *
    * Plan shape: the pool is driver-side and tiny (the accepted-
    * instruction list), so it broadcasts — candidates × pool is a
    * narrow map over one corpus scan with a per-pair O(n·m) codegen
    * kernel ([[graft.functions.LcsTokens]]), never a shuffle; the
    * per-candidate argmax is one partial-aggregated struct max.
    * Candidates are capped at `capTokens` tokens (instructions are
    * short by construction; the cap also bounds the oracle's DP
    * width). Tie-break: highest F1, then LOWEST pool_id.
    */
  def rougeDedup(docs: DataFrame, pool: Seq[(Int, String)],
      capTokens: Int, thetaGrid: Long = 7000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val poolDf = pool.toDF("pool_id", "ptext")
      .select(col("pool_id").cast("long").as("pool_id"),
        filter(split(lower(col("ptext")), " "), w => w =!= "").as("ptoks"))
    val cands = docs.select(col("doc_id"),
      slice(filter(split(lower(col("text")), " "), w => w =!= ""),
        1, capTokens).as("toks"))
    val lcs = graftshim.exprToColumn(graft.functions.LcsTokens(
      graftshim.columnToExpr(col("toks")),
      graftshim.columnToExpr(col("ptoks"))))
    val scored = cands.crossJoin(broadcast(poolDf))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n"),
        col("pool_id"), lcs.as("lcs"),
        intDiv(lcs * lit(20000L), size(col("toks")).cast("long") +
          size(col("ptoks")).cast("long")).as("f1"))
    scored.groupBy(col("doc_id"))
      .agg(max(struct(col("f1"), (-col("pool_id")).as("np"),
        col("lcs"), col("n"))).as("b"))
      .select(col("doc_id"), col("b.n").as("n_toks"),
        (-col("b.np")).as("best_pool_id"), col("b.lcs").as("lcs"),
        col("b.f1").as("rouge_f1"),
        (col("b.f1") >= lit(thetaGrid)).as("is_dup"))
  }
}
