package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the two hot scalar paths where
  * built-ins are slow (SURVEY.md §4 "candidates where custom Catalyst
  * machinery pays off"):
  *
  *  - `graft_cosine(a, b)` — cosine similarity over two `array<float>`
  *    in ONE pass (dot + both norms in a single loop). The
  *    higher-order-function formulation (`Similarity.cosine`) walks the
  *    arrays three times through interpreted lambdas and allocates an
  *    intermediate array per pair; in a KNN join this expression is on
  *    the O(|Q|·|C|) hot path.
  *  - `graft_simhash(text)` — 64-bit SimHash in one tokenizer pass. The
  *    HOF formulation (`Dedup.simHash`) materializes a 64-element vote
  *    array per TOKEN; this computes the same bits (same xxhash64
  *    seed-42 token hashes) in a tight JIT'd loop.
  *
  * Both generate a single static call inside whole-stage codegen
  * (`defineCodeGen`), so they never break the codegen span the way a
  * Scala UDF or CodegenFallback would. Registered per-session via
  * `GraftFunctions.register` or for all sessions through
  * `GraftSparkExtensions` (spark.sql.extensions=graft.functions.GraftSparkExtensions).
  */
object VecMath {
  /** One-pass cosine similarity over float/double arrays (double
    * accumulators); `aFloat`/`bFloat` select the element reader.
    * Degenerate inputs — mismatched lengths or null elements — return
    * NaN so bad rows are visible (and filtered by the KNN rankers)
    * instead of silently scoring a prefix or treating nulls as 0. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return Double.NaN
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

object SimHashImpl {
  private final val XxHashSeed = 42L // Spark's xxhash64() seed

  /** Hash of one token — bit-identical to Spark's `xxhash64(token)`. */
  def tokenHash(tok: UTF8String): Long =
    XxHash64Function.hash(tok, StringType, XxHashSeed)

  /** Java-regex `\s` class: ASCII whitespace only (as bytes — UTF-8
    * continuation bytes are negative and can never match). */
  private[functions] def isRegexSpaceByte(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** 64-bit SimHash over lowercased whitespace tokens; same bits as the
    * HOF formulation in `graft.llm.Dedup.simHash` (verified by spec). */
  def compute(text: UTF8String): Long = compute(text, 1)

  /** SimHash over token `gramSize`-grams. gramSize=1 fingerprints the
    * token DISTRIBUTION — which concentrates on corpora whose documents
    * share vocabulary frequencies (templated/boilerplate text), turning
    * banded near-dup joins quadratic. gramSize≥2 fingerprints token
    * ORDER (rolling-mixed shingle hashes), spreading signatures of
    * distinct docs apart while edits still only perturb the ≤ gramSize
    * shingles they touch. One tokenizer pass either way. */
  def compute(text: UTF8String, gramSize: Int): Long = {
    val votes = new Array[Int](64)
    val ring = new Array[Long](gramSize)
    var nTok = 0
    // operate on the lowercased UTF-8 bytes directly: fromBytes wraps a
    // slice without copying or re-encoding, so the token loop does no
    // per-token String allocation on the corpus-scan hot path
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length
    var tokStart = -1
    var i = 0
    while (i <= len) {
      // ASCII \s semantics, matching the HOF reference's split("\\s+")
      // (Character.isWhitespace would also match Unicode spaces and
      // silently diverge from the HOF fingerprints on web text)
      val isSpace = i == len || isRegexSpaceByte(bytes(i))
      if (!isSpace && tokStart < 0) tokStart = i
      else if (isSpace && tokStart >= 0) {
        ring(nTok % gramSize) = tokenHash(UTF8String.fromBytes(bytes, tokStart, i - tokStart))
        nTok += 1
        if (nTok >= gramSize) {
          // mix the gram's token hashes oldest-first
          var h = 0L
          var j = 0
          while (j < gramSize) {
            h = h * 0x9E3779B97F4A7C15L + ring((nTok - gramSize + j) % gramSize)
            j += 1
          }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        tokStart = -1
      }
      i += 1
    }
    // shorter than gramSize: fall back to one gram over what exists
    if (nTok > 0 && nTok < gramSize) {
      var h = 0L
      var j = 0
      while (j < nTok) { h = h * 0x9E3779B97F4A7C15L + ring(j % gramSize); j += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

object FingerprintImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Rolling min-hash fingerprint: for each of `m` seeds, the min over
    * all character `k`-gram positions of `xxhash64(seed, gram)` —
    * BIT-IDENTICAL to the HOF formulation
    * (`TextAnalysis.docFingerprintHof`: `xxhash64(lit(seed), substring)`
    * chains `hash(gram, hash(seed, 42))`), but in ONE pass over the
    * UTF-8 bytes: a char-offset index replaces per-position `substring`
    * calls, and grams are zero-copy byte-slice views. The HOF form runs
    * O(len·m) interpreted lambdas and allocates a position array plus a
    * string per gram — measured 14× slower on the documents corpus
    * (q32: 6.2 s → 0.4 s at sf0.1). */
  def compute(text: UTF8String, k: Int, m: Int): ArrayData = {
    val bytes = text.getBytes
    // char-start byte offsets (code points = what SQL substring counts)
    var nChars = 0
    var bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) nChars += 1
      bi += 1
    }
    val offs = new Array[Int](nChars + 1)
    var ci = 0; bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) { offs(ci) = bi; ci += 1 }
      bi += 1
    }
    offs(nChars) = bytes.length
    val nPos = math.max(nChars - (k - 1), 1)
    val seedHashes = new Array[Long](m)
    var s = 0
    while (s < m) {
      seedHashes(s) = XxHash64Function.hash(s, IntegerType, 42L)
      s += 1
    }
    val mins = new Array[Long](m)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < nPos) {
      val start = offs(i)
      val end = offs(math.min(i + k, nChars))
      val gram = UTF8String.fromBytes(bytes, start, end - start)
      var j = 0
      while (j < m) {
        val h = XxHash64Function.hash(gram, StringType, seedHashes(j))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `graft_fingerprint(string[, k[, m]]) -> array<bigint>` (see
  * FingerprintImpl). NULL text yields a NULL array (the HOF form yields
  * an array of m NULLs — the one, documented, divergence). */
case class DocFingerprint(child: Expression, k: Int = 8, m: Int = 4)
    extends UnaryExpression {
  require(k >= 1 && m >= 1, s"k and m must be >= 1, got k=$k m=$m")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_fingerprint expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_fingerprint"

  override protected def nullSafeEval(t: Any): Any =
    FingerprintImpl.compute(t.asInstanceOf[UTF8String], k, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FingerprintImpl.compute($c, $k, $m)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `graft_cosine(array<float|double>, array<float|double>) -> double` */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemFloat(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _)  => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _                        => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (elemFloat(left.dataType), elemFloat(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects float/double arrays, got (${left.dataType}, ${right.dataType})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private lazy val aFloat = elemFloat(left.dataType).get
  private lazy val bFloat = elemFloat(right.dataType).get

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecMath.cosine($a, $b, $aFloat, $bFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HammingLongsImpl {
  /** Hamming distance between two WIDE fingerprints stored as equal-
    * length long arrays (the ≥128-bit banded-engine representation).
    * Degenerate inputs — mismatched word counts or null elements, i.e.
    * signatures from DIFFERENT width lineages — return Int.MaxValue:
    * visibly impossible, and (unlike a negative sentinel) it can never
    * slip through a `hamming <= radius` match filter, so a lineage mixup
    * yields zero pairs instead of garbage pairs. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) return Int.MaxValue
    var s = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return Int.MaxValue
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }
}

/** `graft_hamming(array<bigint>, array<bigint>) -> int` — see
  * [[HammingLongsImpl]]. One fused pass, no intermediate array (the
  * zip_with/aggregate HOF formulation allocates one per row — this is
  * the candidate-verify hot path of every wide banded join). */
case class HammingLongs(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hamming expects bigint arrays, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hamming"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HammingLongsImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HammingLongsImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_simhash(string[, gramSize]) -> bigint` */
case class SimHash64(child: Expression, gramSize: Int = 1)
    extends UnaryExpression {
  require(gramSize >= 1, s"gramSize must be >= 1, got $gramSize")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash expects string, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(t: Any): Any =
    SimHashImpl.compute(t.asInstanceOf[UTF8String], gramSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c, $gramSize)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API forms, usable without registration. */
  def hammingLongs(a: Column, b: Column): Column =
    ColumnBridge.column(HammingLongs(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def simhash64(c: Column, gramSize: Int = 1): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c), gramSize))

  def cpCount(c: Column): Column =
    ColumnBridge.column(CodePointCount(ColumnBridge.expression(c)))

  def fingerprint(c: Column, k: Int = 8, m: Int = 4): Column =
    ColumnBridge.column(DocFingerprint(ColumnBridge.expression(c), k, m))

  def bpeCount(c: Column, mergesPath: String): Column =
    ColumnBridge.column(BpeCount(ColumnBridge.expression(c), mergesPath))

  def bpeIdCount(c: Column, mergesPath: String, vocabPath: String): Column =
    ColumnBridge.column(BpeIdCount(ColumnBridge.expression(c), mergesPath, vocabPath))

  def bpeSegments(c: Column, mergesPath: String): Column =
    ColumnBridge.column(BpeSegments(ColumnBridge.expression(c), mergesPath))

  def bpeEncode(c: Column, mergesPath: String, vocabPath: String,
      specials: Seq[String] = Nil): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(c), mergesPath,
      vocabPath, specials))

  def bpeEncodeLossless(c: Column, mergesPath: String, vocabPath: String,
      specials: Seq[String] = Nil): Column =
    ColumnBridge.column(BpeEncodeLossless(ColumnBridge.expression(c), mergesPath,
      vocabPath, specials))

  def bpeDecode(c: Column, vocabPath: String): Column =
    ColumnBridge.column(BpeDecode(ColumnBridge.expression(c), vocabPath))

  def bpeByteEncode(c: Column, mergesPath: String, vocabPath: String,
      specials: Seq[String] = Nil): Column =
    ColumnBridge.column(BpeByteEncode(ColumnBridge.expression(c), mergesPath,
      vocabPath, specials))

  def bpeByteDecode(c: Column, vocabPath: String): Column =
    ColumnBridge.column(BpeByteDecode(ColumnBridge.expression(c), vocabPath))

  def bpeByteCount(c: Column, mergesPath: String): Column =
    ColumnBridge.column(BpeByteCount(ColumnBridge.expression(c), mergesPath))

  def pretokenCount(c: Column, specials: Seq[String] = Nil): Column =
    ColumnBridge.column(PretokenCount(ColumnBridge.expression(c), specials))

  def byteUnicodeMap(c: Column): Column =
    ColumnBridge.column(ByteUnicodeMap(ColumnBridge.expression(c)))

  def unigramSegments(c: Column, modelPath: String): Column =
    ColumnBridge.column(UnigramSegments(ColumnBridge.expression(c), modelPath))

  def unigramEncode(c: Column, modelPath: String): Column =
    ColumnBridge.column(UnigramEncode(ColumnBridge.expression(c), modelPath))

  def unigramEncodeLossless(c: Column, modelPath: String): Column =
    ColumnBridge.column(UnigramEncodeLossless(ColumnBridge.expression(c), modelPath))

  def unigramDecode(c: Column, modelPath: String): Column =
    ColumnBridge.column(UnigramDecode(ColumnBridge.expression(c), modelPath))

  def unigramCount(c: Column, modelPath: String): Column =
    ColumnBridge.column(UnigramCount(ColumnBridge.expression(c), modelPath))

  def unigramChunks(c: Column, modelPath: String, budget: Int, overlap: Int): Column =
    ColumnBridge.column(UnigramChunks(ColumnBridge.expression(c), modelPath,
      budget, overlap))

  def wordPieceSegments(c: Column, vocabPath: String, keepRaw: Boolean = false): Column =
    ColumnBridge.column(WordPieceSegments(ColumnBridge.expression(c), vocabPath, keepRaw))

  def wordPieceEncode(c: Column, vocabPath: String): Column =
    ColumnBridge.column(WordPieceEncode(ColumnBridge.expression(c), vocabPath))

  def wordPieceCount(c: Column, vocabPath: String): Column =
    ColumnBridge.column(WordPieceCount(ColumnBridge.expression(c), vocabPath))

  def wordPieceRoundtrip(c: Column, vocabPath: String): Column =
    ColumnBridge.column(WordPieceRoundtrip(ColumnBridge.expression(c), vocabPath))

  def mediaHash(c: Column, modality: String): Column =
    ColumnBridge.column(MediaHash(ColumnBridge.expression(c), modality))

  def mediaVideoHash(c: Column, k: Int): Column =
    ColumnBridge.column(MediaVideoHash(ColumnBridge.expression(c), k))

  def bpeByteChunks(c: Column, mergesPath: String, budget: Int, overlap: Int,
      specials: Seq[String] = Nil): Column =
    ColumnBridge.column(BpeByteChunks(ColumnBridge.expression(c), mergesPath,
      budget, overlap, specials))

  def chunks(c: Column, chunkSize: Int, overlap: Int): Column =
    ColumnBridge.column(DocChunks(ColumnBridge.expression(c), chunkSize, overlap))

  def bpeChunks(c: Column, mergesPath: String, budget: Int, overlap: Int,
      vocabPath: String = ""): Column =
    ColumnBridge.column(BpeChunks(ColumnBridge.expression(c), mergesPath,
      budget, overlap, vocabPath))

  def srp(c: Column, seed: Long = 4233L): Column =
    ColumnBridge.column(Srp64(ColumnBridge.expression(c), seed))

  def nfc(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))

  def htmlEntities(c: Column): Column =
    ColumnBridge.column(HtmlEntityDecode(ColumnBridge.expression(c)))

  def fixMojibake(c: Column): Column =
    ColumnBridge.column(FixMojibake(ColumnBridge.expression(c)))

  def markdownStrip(c: Column): Column =
    ColumnBridge.column(MarkdownStrip(ColumnBridge.expression(c)))

  def deflateRatio(c: Column): Column =
    ColumnBridge.column(DeflateRatio(ColumnBridge.expression(c)))

  def repetition(c: Column, n: Int = 3): Column =
    ColumnBridge.column(Repetition(ColumnBridge.expression(c), n))

  def gramHashes(c: Column, n: Int): Column =
    ColumnBridge.column(GramHashes(ColumnBridge.expression(c), n))

  def spanHashes(c: Column, n: Int): Column =
    ColumnBridge.column(SpanHashes(ColumnBridge.expression(c), n))

  /** Scan-side bloom probe over a serialized
    * `spark.util.sketch.BloomFilter` — deserialized once driver-side
    * and shipped as a BROADCAST (see [[BloomMightContain]] for why a
    * plan literal is structurally wrong for multi-MB filters). `c` must
    * be a LONG column probed against a bloom built with `putLong`
    * semantics ([[graft.llm.Dedup.spanBloom]]). Each call broadcasts
    * anew — build the Column once per query, not per row/branch. */
  def bloomMightContain(bloom: Array[Byte], c: Column): Column = {
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloom))
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(bf)
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(c), bc))
  }

  def lmLogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(LmLogProb(ColumnBridge.expression(c), lmPath))

  def lm2LogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(Lm2LogProb(ColumnBridge.expression(c), lmPath))

  def lm3LogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(Lm3LogProb(ColumnBridge.expression(c), lmPath))

  /** Interpolated KN over an order-2 LM file (saveBigram or saveNgram):
    * [[knNLogProb]] pinned to order 2. */
  def knLogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnNLogProb(ColumnBridge.expression(c), lmPath, order = 2))

  /** Interpolated KN over an order-3 LM file (saveTrigram or saveNgram):
    * [[knNLogProb]] pinned to order 3. */
  def kn3LogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnNLogProb(ColumnBridge.expression(c), lmPath, order = 3))

  def lmNLogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(NgramLogProb(ColumnBridge.expression(c), lmPath))

  def knNLogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnNLogProb(ColumnBridge.expression(c), lmPath))

  def knNLogProbPacked(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnNLogProbPacked(ColumnBridge.expression(c), lmPath))

  def knModLogProb(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnModLogProb(ColumnBridge.expression(c), lmPath))

  def knModLogProbPacked(c: Column, lmPath: String): Column =
    ColumnBridge.column(KnModLogProbPacked(ColumnBridge.expression(c), lmPath))

  /** Shared 2-arg `(input, 'path-literal')` SQL-builder validation: the
    * second argument must be a foldable string literal (artifact paths
    * ride the expression tree as plain strings, never columns). */
  private def litPath(es: Seq[Expression], fn: String, what: String): String = {
    require(es.length == 2, s"$fn takes 2 arguments, got ${es.length}")
    require(es(1).foldable, s"$fn $what must be a literal")
    es(1).eval() match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn $what must be a string literal, got $other")
    }
  }

  /** The SQL entry of one [[KnNLogProb]] name: `order` 2 / 3 pins
    * the LM file's order, 0 accepts any. */
  private def knEntry(name: String, order: Int)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      new ExpressionInfo(classOf[KnNLogProb].getName, name),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"$name takes 2 arguments, got ${es.length}")
        require(es(1).foldable, s"$name LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => KnNLogProb(es.head, s.toString, order)
          case other => throw new IllegalArgumentException(
            s"$name LM path must be a string literal, got $other")
        }
      })

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_cosine takes 2 arguments, got ${es.length}")
        CosineSimilarity(es(0), es(1))
      }),
    ("graft_hamming",
      new ExpressionInfo(classOf[HammingLongs].getName, "graft_hamming"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_hamming takes 2 arguments, got ${es.length}")
        HammingLongs(es(0), es(1))
      }),
    ("graft_textstats",
      new ExpressionInfo(classOf[TextStats].getName, "graft_textstats"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_textstats takes 1 argument, got ${es.length}")
        TextStats(es.head)
      }),
    ("graft_cp_count",
      new ExpressionInfo(classOf[CodePointCount].getName, "graft_cp_count"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_cp_count takes 1 argument, got ${es.length}")
        CodePointCount(es.head)
      }),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (es: Seq[Expression]) => es match {
        case Seq(text) => SimHash64(text)
        case Seq(text, gram) =>
          require(gram.foldable, "graft_simhash gramSize must be a literal")
          gram.eval() match {
            case n: Number => SimHash64(text, n.intValue())
            case other => throw new IllegalArgumentException(
              s"graft_simhash gramSize must be an integer literal, got $other")
          }
        case _ => throw new IllegalArgumentException(
          s"graft_simhash takes 1-2 arguments, got ${es.length}")
      }),
    ("graft_fingerprint",
      new ExpressionInfo(classOf[DocFingerprint].getName, "graft_fingerprint"),
      (es: Seq[Expression]) => {
        require(es.nonEmpty && es.length <= 3,
          s"graft_fingerprint takes 1-3 arguments, got ${es.length}")
        def litInt(e: Expression, name: String): Int = {
          require(e.foldable, s"graft_fingerprint $name must be a literal")
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_fingerprint $name must be an integer literal, got $other")
          }
        }
        DocFingerprint(es.head,
          if (es.length >= 2) litInt(es(1), "k") else 8,
          if (es.length >= 3) litInt(es(2), "m") else 4)
      }),
    ("graft_bpe_count",
      new ExpressionInfo(classOf[BpeCount].getName, "graft_bpe_count"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_bpe_count takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_count merges path must be a literal")
        es(1).eval() match {
          case s: UTF8String => BpeCount(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_count merges path must be a string literal, got $other")
        }
      }),
    ("graft_bpe_id_count",
      new ExpressionInfo(classOf[BpeIdCount].getName, "graft_bpe_id_count"),
      (es: Seq[Expression]) => {
        require(es.length == 3, s"graft_bpe_id_count takes 3 arguments, got ${es.length}")
        require(es(1).foldable && es(2).foldable,
          "graft_bpe_id_count merges/vocab paths must be literals")
        (es(1).eval(), es(2).eval()) match {
          case (m: UTF8String, v: UTF8String) =>
            BpeIdCount(es.head, m.toString, v.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_id_count paths must be string literals, got $other")
        }
      }),
    ("graft_lm_logprob",
      new ExpressionInfo(classOf[LmLogProb].getName, "graft_lm_logprob"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_lm_logprob takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_lm_logprob LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => LmLogProb(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_lm_logprob LM path must be a string literal, got $other")
        }
      }),
    ("graft_lm2_logprob",
      new ExpressionInfo(classOf[Lm2LogProb].getName, "graft_lm2_logprob"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_lm2_logprob takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_lm2_logprob LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => Lm2LogProb(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_lm2_logprob LM path must be a string literal, got $other")
        }
      }),
    knEntry("graft_kn_logprob", 2),
    knEntry("graft_kn3_logprob", 3),
    ("graft_lm3_logprob",
      new ExpressionInfo(classOf[Lm3LogProb].getName, "graft_lm3_logprob"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_lm3_logprob takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_lm3_logprob LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => Lm3LogProb(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_lm3_logprob LM path must be a string literal, got $other")
        }
      }),
    ("graft_lmn_logprob",
      new ExpressionInfo(classOf[NgramLogProb].getName, "graft_lmn_logprob"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_lmn_logprob takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_lmn_logprob LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => NgramLogProb(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_lmn_logprob LM path must be a string literal, got $other")
        }
      }),
    knEntry("graft_knn_logprob", 0),
    ("graft_knn_logprob_packed",
      new ExpressionInfo(classOf[KnNLogProbPacked].getName, "graft_knn_logprob_packed"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_knn_logprob_packed takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_knn_logprob_packed LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => KnNLogProbPacked(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_knn_logprob_packed LM path must be a string literal, got $other")
        }
      }),
    ("graft_knmod_logprob",
      new ExpressionInfo(classOf[KnModLogProb].getName, "graft_knmod_logprob"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_knmod_logprob takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_knmod_logprob LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => KnModLogProb(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_knmod_logprob LM path must be a string literal, got $other")
        }
      }),
    ("graft_knmod_logprob_packed",
      new ExpressionInfo(classOf[KnModLogProbPacked].getName, "graft_knmod_logprob_packed"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_knmod_logprob_packed takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_knmod_logprob_packed LM path must be a literal")
        es(1).eval() match {
          case s: UTF8String => KnModLogProbPacked(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_knmod_logprob_packed LM path must be a string literal, got $other")
        }
      }),
    ("graft_bpe_segments",
      new ExpressionInfo(classOf[BpeSegments].getName, "graft_bpe_segments"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_bpe_segments takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_segments merges path must be a literal")
        es(1).eval() match {
          case s: UTF8String => BpeSegments(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_segments merges path must be a string literal, got $other")
        }
      }),
    ("graft_bpe_encode",
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (es: Seq[Expression]) => {
        require(es.length == 3 || es.length == 4,
          s"graft_bpe_encode takes 3 or 4 arguments, got ${es.length}")
        def litStr(e: Expression, name: String): String = {
          require(e.foldable, s"graft_bpe_encode $name must be a literal")
          e.eval() match {
            case s: UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"graft_bpe_encode $name must be a string literal, got $other")
          }
        }
        // optional 4th arg: comma-separated special-token spellings
        val sp = if (es.length == 4)
          litStr(es(3), "specials").split(',').toSeq.filter(_.nonEmpty) else Nil
        BpeEncode(es.head, litStr(es(1), "merges path"), litStr(es(2), "vocab path"), sp)
      }),
    ("graft_bpe_encode_lossless",
      new ExpressionInfo(classOf[BpeEncodeLossless].getName, "graft_bpe_encode_lossless"),
      (es: Seq[Expression]) => {
        require(es.length == 3 || es.length == 4,
          s"graft_bpe_encode_lossless takes 3 or 4 arguments, got ${es.length}")
        def litStr(e: Expression, name: String): String = {
          require(e.foldable, s"graft_bpe_encode_lossless $name must be a literal")
          e.eval() match {
            case s: UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"graft_bpe_encode_lossless $name must be a string literal, got $other")
          }
        }
        val sp = if (es.length == 4)
          litStr(es(3), "specials").split(',').toSeq.filter(_.nonEmpty) else Nil
        BpeEncodeLossless(es.head, litStr(es(1), "merges path"),
          litStr(es(2), "vocab path"), sp)
      }),
    ("graft_bpe_decode",
      new ExpressionInfo(classOf[BpeDecode].getName, "graft_bpe_decode"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_bpe_decode takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_decode vocab path must be a literal")
        es(1).eval() match {
          case s: UTF8String => BpeDecode(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_decode vocab path must be a string literal, got $other")
        }
      }),
    ("graft_unigram_segments",
      new ExpressionInfo(classOf[UnigramSegments].getName, "graft_unigram_segments"),
      (es: Seq[Expression]) =>
        UnigramSegments(es.head,
          litPath(es, "graft_unigram_segments", "model path"))),
    ("graft_unigram_encode",
      new ExpressionInfo(classOf[UnigramEncode].getName, "graft_unigram_encode"),
      (es: Seq[Expression]) =>
        UnigramEncode(es.head,
          litPath(es, "graft_unigram_encode", "model path"))),
    ("graft_unigram_encode_lossless",
      new ExpressionInfo(classOf[UnigramEncodeLossless].getName,
        "graft_unigram_encode_lossless"),
      (es: Seq[Expression]) =>
        UnigramEncodeLossless(es.head,
          litPath(es, "graft_unigram_encode_lossless", "model path"))),
    ("graft_unigram_decode",
      new ExpressionInfo(classOf[UnigramDecode].getName, "graft_unigram_decode"),
      (es: Seq[Expression]) =>
        UnigramDecode(es.head,
          litPath(es, "graft_unigram_decode", "model path"))),
    ("graft_unigram_count",
      new ExpressionInfo(classOf[UnigramCount].getName, "graft_unigram_count"),
      (es: Seq[Expression]) =>
        UnigramCount(es.head,
          litPath(es, "graft_unigram_count", "model path"))),
    ("graft_unigram_chunks",
      new ExpressionInfo(classOf[UnigramChunks].getName, "graft_unigram_chunks"),
      (es: Seq[Expression]) => {
        require(es.length == 4,
          s"graft_unigram_chunks takes 4 arguments, got ${es.length}")
        def litInt(e: Expression, name: String): Int = {
          require(e.foldable, s"graft_unigram_chunks $name must be a literal")
          e.eval() match {
            case i: Integer => i.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_unigram_chunks $name must be an integer literal, got $other")
          }
        }
        UnigramChunks(es.head,
          litPath(es.take(2), "graft_unigram_chunks", "model path"),
          litInt(es(2), "budget"), litInt(es(3), "overlap"))
      }),
    ("graft_wordpiece_segments",
      new ExpressionInfo(classOf[WordPieceSegments].getName, "graft_wordpiece_segments"),
      (es: Seq[Expression]) => {
        require(es.length == 2 || es.length == 3,
          s"graft_wordpiece_segments takes 2 or 3 arguments, got ${es.length}")
        val keepRaw = es.length == 3 && {
          require(es(2).foldable, "graft_wordpiece_segments keepRaw must be a literal")
          es(2).eval() match {
            case b: java.lang.Boolean => b.booleanValue()
            case other => throw new IllegalArgumentException(
              s"graft_wordpiece_segments keepRaw must be a boolean literal, got $other")
          }
        }
        WordPieceSegments(es.head,
          litPath(es.take(2), "graft_wordpiece_segments", "vocab path"), keepRaw)
      }),
    ("graft_wordpiece_encode",
      new ExpressionInfo(classOf[WordPieceEncode].getName, "graft_wordpiece_encode"),
      (es: Seq[Expression]) =>
        WordPieceEncode(es.head,
          litPath(es, "graft_wordpiece_encode", "vocab path"))),
    ("graft_wordpiece_count",
      new ExpressionInfo(classOf[WordPieceCount].getName, "graft_wordpiece_count"),
      (es: Seq[Expression]) =>
        WordPieceCount(es.head,
          litPath(es, "graft_wordpiece_count", "vocab path"))),
    ("graft_wordpiece_roundtrip",
      new ExpressionInfo(classOf[WordPieceRoundtrip].getName, "graft_wordpiece_roundtrip"),
      (es: Seq[Expression]) =>
        WordPieceRoundtrip(es.head,
          litPath(es, "graft_wordpiece_roundtrip", "vocab path"))),
    ("graft_bpe_byte_encode",
      new ExpressionInfo(classOf[BpeByteEncode].getName, "graft_bpe_byte_encode"),
      (es: Seq[Expression]) => {
        require(es.length == 3 || es.length == 4,
          s"graft_bpe_byte_encode takes 3 or 4 arguments, got ${es.length}")
        def litStr(e: Expression, name: String): String = {
          require(e.foldable, s"graft_bpe_byte_encode $name must be a literal")
          e.eval() match {
            case s: UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"graft_bpe_byte_encode $name must be a string literal, got $other")
          }
        }
        val sp = if (es.length == 4)
          litStr(es(3), "specials").split(',').toSeq.filter(_.nonEmpty) else Nil
        BpeByteEncode(es.head, litStr(es(1), "merges path"), litStr(es(2), "vocab path"), sp)
      }),
    ("graft_bpe_byte_decode",
      new ExpressionInfo(classOf[BpeByteDecode].getName, "graft_bpe_byte_decode"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_bpe_byte_decode takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_byte_decode vocab path must be a literal")
        es(1).eval() match {
          case s: UTF8String => BpeByteDecode(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_byte_decode vocab path must be a string literal, got $other")
        }
      }),
    ("graft_media_hash",
      new ExpressionInfo(classOf[MediaHash].getName, "graft_media_hash"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_media_hash takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_media_hash modality must be a literal")
        es(1).eval() match {
          case s: UTF8String => MediaHash(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_media_hash modality must be a string literal, got $other")
        }
      }),
    ("graft_media_video_hash",
      new ExpressionInfo(classOf[MediaVideoHash].getName, "graft_media_video_hash"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_media_video_hash takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_media_video_hash k must be a literal")
        es(1).eval() match {
          case n: Number => MediaVideoHash(es.head, n.intValue())
          case other => throw new IllegalArgumentException(
            s"graft_media_video_hash k must be an integer literal, got $other")
        }
      }),
    ("graft_bpe_byte_count",
      new ExpressionInfo(classOf[BpeByteCount].getName, "graft_bpe_byte_count"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_bpe_byte_count takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_byte_count merges path must be a literal")
        es(1).eval() match {
          case s: UTF8String => BpeByteCount(es.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_byte_count merges path must be a string literal, got $other")
        }
      }),
    ("graft_byte_unicode",
      new ExpressionInfo(classOf[ByteUnicodeMap].getName, "graft_byte_unicode"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_byte_unicode takes 1 argument, got ${es.length}")
        ByteUnicodeMap(es.head)
      }),
    ("graft_chunks",
      new ExpressionInfo(classOf[DocChunks].getName, "graft_chunks"),
      (es: Seq[Expression]) => {
        require(es.length == 3, s"graft_chunks takes 3 arguments, got ${es.length}")
        def litInt(e: Expression, name: String): Int = {
          require(e.foldable, s"graft_chunks $name must be a literal")
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_chunks $name must be an integer literal, got $other")
          }
        }
        DocChunks(es.head, litInt(es(1), "chunkSize"), litInt(es(2), "overlap"))
      }),
    ("graft_bpe_chunks",
      new ExpressionInfo(classOf[BpeChunks].getName, "graft_bpe_chunks"),
      (es: Seq[Expression]) => {
        require(es.length == 4, s"graft_bpe_chunks takes 4 arguments, got ${es.length}")
        require(es(1).foldable, "graft_bpe_chunks merges path must be a literal")
        val path = es(1).eval() match {
          case s: UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_bpe_chunks merges path must be a string literal, got $other")
        }
        def litInt(e: Expression, name: String): Int = {
          require(e.foldable, s"graft_bpe_chunks $name must be a literal")
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_bpe_chunks $name must be an integer literal, got $other")
          }
        }
        BpeChunks(es.head, path, litInt(es(2), "budget"), litInt(es(3), "overlap"))
      }),
    ("graft_bpe_byte_chunks",
      new ExpressionInfo(classOf[BpeByteChunks].getName, "graft_bpe_byte_chunks"),
      (es: Seq[Expression]) => {
        require(es.length == 4 || es.length == 5,
          s"graft_bpe_byte_chunks takes 4 or 5 arguments, got ${es.length}")
        def litStr(e: Expression, name: String): String = {
          require(e.foldable, s"graft_bpe_byte_chunks $name must be a literal")
          e.eval() match {
            case s: UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"graft_bpe_byte_chunks $name must be a string literal, got $other")
          }
        }
        val path = litStr(es(1), "merges path")
        def litInt(e: Expression, name: String): Int = {
          require(e.foldable, s"graft_bpe_byte_chunks $name must be a literal")
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_bpe_byte_chunks $name must be an integer literal, got $other")
          }
        }
        // optional 5th arg: comma-separated special spellings (the
        // graft_bpe_encode SQL convention)
        val specials =
          if (es.length < 5) Nil
          else litStr(es(4), "specials").split(",").toSeq.filter(_.nonEmpty)
        BpeByteChunks(es.head, path, litInt(es(2), "budget"), litInt(es(3), "overlap"),
          specials)
      }),
    ("graft_pretoken_count",
      new ExpressionInfo(classOf[PretokenCount].getName, "graft_pretoken_count"),
      (es: Seq[Expression]) => {
        require(es.length == 1 || es.length == 2,
          s"graft_pretoken_count takes 1 or 2 arguments, got ${es.length}")
        val specials =
          if (es.length < 2) Nil
          else {
            require(es(1).foldable, "graft_pretoken_count specials must be a literal")
            es(1).eval() match {
              case s: UTF8String => s.toString.split(",").toSeq.filter(_.nonEmpty)
              case other => throw new IllegalArgumentException(
                s"graft_pretoken_count specials must be a string literal, got $other")
            }
          }
        PretokenCount(es.head, specials)
      }),
    ("graft_hist_sketch",
      new ExpressionInfo(classOf[HistogramSketchAgg].getName, "graft_hist_sketch"),
      (es: Seq[Expression]) => {
        require(es.length == 1 || es.length == 2,
          s"graft_hist_sketch takes 1 or 2 arguments, got ${es.length}")
        def litInt(e: Expression): Int = {
          require(e.foldable, "graft_hist_sketch maxCentroids must be a literal")
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_hist_sketch maxCentroids must be an integer literal, got $other")
          }
        }
        // the analyzer wraps a bare AggregateFunction builder result
        if (es.length == 1) HistogramSketchAgg(es.head)
        else HistogramSketchAgg(es.head, litInt(es(1)))
      }),
    ("graft_freq_sketch",
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "graft_freq_sketch"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_freq_sketch takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_freq_sketch k must be a literal")
        val k = es(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_freq_sketch k must be an integer literal, got $other")
        }
        FreqSketchAgg(es.head, k)
      }),
    ("graft_gram_hashes",
      new ExpressionInfo(classOf[GramHashes].getName, "graft_gram_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_gram_hashes takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_gram_hashes n must be a literal")
        es(1).eval() match {
          case v: Number => GramHashes(es.head, v.intValue())
          case other => throw new IllegalArgumentException(
            s"graft_gram_hashes n must be an integer literal, got $other")
        }
      }),
    ("graft_span_hashes",
      new ExpressionInfo(classOf[SpanHashes].getName, "graft_span_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 2, s"graft_span_hashes takes 2 arguments, got ${es.length}")
        require(es(1).foldable, "graft_span_hashes n must be a literal")
        es(1).eval() match {
          case v: Number => SpanHashes(es.head, v.intValue())
          case other => throw new IllegalArgumentException(
            s"graft_span_hashes n must be an integer literal, got $other")
        }
      }),
    ("graft_nfc",
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_nfc takes 1 argument, got ${es.length}")
        NfcNormalize(es.head)
      }),
    ("graft_html_entities",
      new ExpressionInfo(classOf[HtmlEntityDecode].getName, "graft_html_entities"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_html_entities takes 1 argument, got ${es.length}")
        HtmlEntityDecode(es.head)
      }),
    ("graft_fix_mojibake",
      new ExpressionInfo(classOf[FixMojibake].getName, "graft_fix_mojibake"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_fix_mojibake takes 1 argument, got ${es.length}")
        FixMojibake(es.head)
      }),
    ("graft_markdown_strip",
      new ExpressionInfo(classOf[MarkdownStrip].getName, "graft_markdown_strip"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_markdown_strip takes 1 argument, got ${es.length}")
        MarkdownStrip(es.head)
      }),
    ("graft_deflate_ratio",
      new ExpressionInfo(classOf[DeflateRatio].getName, "graft_deflate_ratio"),
      (es: Seq[Expression]) => {
        require(es.length == 1, s"graft_deflate_ratio takes 1 argument, got ${es.length}")
        DeflateRatio(es.head)
      }),
    ("graft_repetition",
      new ExpressionInfo(classOf[Repetition].getName, "graft_repetition"),
      (es: Seq[Expression]) => {
        require(es.length == 1 || es.length == 2,
          s"graft_repetition takes 1 or 2 arguments, got ${es.length}")
        val n = if (es.length == 1) 3 else {
          require(es(1).foldable, "graft_repetition n must be a literal")
          es(1).eval() match {
            case v: Number => v.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_repetition n must be an integer literal, got $other")
          }
        }
        Repetition(es.head, n)
      }),
    ("graft_srp",
      new ExpressionInfo(classOf[Srp64].getName, "graft_srp"),
      (es: Seq[Expression]) => {
        require(es.length == 1 || es.length == 2,
          s"graft_srp takes 1 or 2 arguments, got ${es.length}")
        val seed = if (es.length == 1) 4233L else {
          require(es(1).foldable, "graft_srp seed must be a literal")
          es(1).eval() match {
            case n: Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"graft_srp seed must be an integer literal, got $other")
          }
        }
        Srp64(es.head, seed)
      }))

  /** Register into an existing session (idempotent). After this,
    * `call_function("graft_cosine", a, b)` / SQL `graft_cosine(a, b)`
    * resolve to the native expressions. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Cluster-wide registration: add
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions`. */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
