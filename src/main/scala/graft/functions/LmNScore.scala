package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Open-addressing long→float map (linear probing, power-of-2
  * capacity, ≤0.5 load) — the KenLM-style memory layout for n-gram
  * probability tables: 12 bytes of array per slot, ~24 bytes per entry
  * at the load ceiling, no per-entry objects, no boxing. Key 0 is the
  * empty sentinel; a real fingerprint of 0 (p ≈ 2⁻⁶⁴) is remapped to a
  * fixed substitute, costing that one key a vanishing extra collision
  * chance rather than a reserved-slot code path. */
final class LongFloatMap(expected: Int) {
  private[this] var cap = {
    var c = 16
    while (c < expected * 2 && c < (1 << 30)) c <<= 1
    c
  }
  private[this] var keys = new Array[Long](cap)
  private[this] var vals = new Array[Float](cap)
  private[this] var n = 0

  private def slotOf(k: Long, ks: Array[Long]): Int = {
    val mask = ks.length - 1
    // finalizer-style scramble so linear probing sees spread bits
    var h = k * -7046029254386353131L
    h ^= (h >>> 32)
    var i = (h & mask).toInt
    while (ks(i) != 0L && ks(i) != k) i = (i + 1) & mask
    i
  }

  private def norm(k: Long): Long = if (k == 0L) -6148914691236517205L else k

  def put(key: Long, value: Float): Unit = {
    if (n * 2 >= cap) grow()
    val k = norm(key)
    val i = slotOf(k, keys)
    if (keys(i) == 0L) { keys(i) = k; n += 1 }
    vals(i) = value
  }

  /** NaN = absent (probability tables never store NaN). */
  def getOrNaN(key: Long): Float = {
    val k = norm(key)
    val i = slotOf(k, keys)
    if (keys(i) == 0L) Float.NaN else vals(i)
  }

  def size: Int = n
  def capacity: Int = cap

  private def grow(): Unit = {
    val nk = new Array[Long](cap << 1)
    val nv = new Array[Float](cap << 1)
    var i = 0
    while (i < cap) {
      val k = keys(i)
      if (k != 0L) {
        val mask = nk.length - 1
        var h = k * -7046029254386353131L
        h ^= (h >>> 32)
        var j = (h & mask).toInt
        while (nk(j) != 0L) j = (j + 1) & mask
        nk(j) = k
        nv(j) = vals(i)
      }
      i += 1
    }
    keys = nk; vals = nv; cap <<= 1
  }
}

/** Open-addressing long → (float, float) map — [[LongFloatMap]] with a
  * paired payload, for tables whose two values are always read
  * together (the packed KN registries' per-context discount mass +
  * denominator): ONE probe sequence returns a slot, both floats read
  * from it. 16 bytes of array per slot, ~32 bytes per entry at the
  * load ceiling. */
final class LongFloat2Map(expected: Int) {
  private[this] var cap = {
    var c = 16
    while (c < expected * 2 && c < (1 << 30)) c <<= 1
    c
  }
  private[this] var keys = new Array[Long](cap)
  private[this] var valsA = new Array[Float](cap)
  private[this] var valsB = new Array[Float](cap)
  private[this] var n = 0

  private def slotOf(k: Long, ks: Array[Long]): Int = {
    val mask = ks.length - 1
    var h = k * -7046029254386353131L
    h ^= (h >>> 32)
    var i = (h & mask).toInt
    while (ks(i) != 0L && ks(i) != k) i = (i + 1) & mask
    i
  }

  private def norm(k: Long): Long = if (k == 0L) -6148914691236517205L else k

  def put(key: Long, a: Float, b: Float): Unit = {
    if (n * 2 >= cap) grow()
    val k = norm(key)
    val i = slotOf(k, keys)
    if (keys(i) == 0L) { keys(i) = k; n += 1 }
    valsA(i) = a
    valsB(i) = b
  }

  /** Slot of `key`, or -1 when absent — pass to [[a]]/[[b]]. */
  def slot(key: Long): Int = {
    val k = norm(key)
    val i = slotOf(k, keys)
    if (keys(i) == 0L) -1 else i
  }

  def a(slot: Int): Float = valsA(slot)
  def b(slot: Int): Float = valsB(slot)

  def size: Int = n
  def capacity: Int = cap

  private def grow(): Unit = {
    val nk = new Array[Long](cap << 1)
    val na = new Array[Float](cap << 1)
    val nb = new Array[Float](cap << 1)
    var i = 0
    while (i < cap) {
      val k = keys(i)
      if (k != 0L) {
        val mask = nk.length - 1
        var h = k * -7046029254386353131L
        h ^= (h >>> 32)
        var j = (h & mask).toInt
        while (nk(j) != 0L) j = (j + 1) & mask
        nk(j) = k
        na(j) = valsA(i)
        nb(j) = valsB(i)
      }
      i += 1
    }
    keys = nk; valsA = na; valsB = nb; cap <<= 1
  }
}

object NgramFingerprint {
  /** FNV-1a 64 over the gram's token bytes with a 0x1F separator —
    * computable identically from the file loader's strings and the
    * scorer's in-text byte slices. Collisions are the documented
    * fingerprint budget (64-bit keys, same trade KenLM makes): two
    * colliding grams share one stored probability. */
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L
  final val Sep: Byte = 0x1f

  def absorb(h0: Long, bytes: Array[Byte], start: Int, len: Int): Long = {
    var h = h0
    var i = start
    val end = start + len
    while (i < end) { h ^= (bytes(i) & 0xffL); h *= Prime; i += 1 }
    h
  }

  def absorbSep(h0: Long): Long = {
    var h = h0
    h ^= (Sep & 0xffL); h *= Prime
    h
  }

  def ofString(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    absorb(Offset, b, 0, b.length)
  }

  def ofGram(words: Array[String], from: Int, until: Int): Long = {
    var h = Offset
    var i = from
    while (i < until) {
      if (i > from) h = absorbSep(h)
      val b = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      h = absorb(h, b, 0, b.length)
      i += 1
    }
    h
  }
}

/** Loaded order-n stupid-backoff LM (`LangModel.saveNgram` artifact) —
  * the memory-engineered scale form of the trigram registry:
  *  - KEYS are 64-bit FNV-1a fingerprints of the gram (hashed keys,
  *    not strings) in flat open-addressing tables;
  *  - VALUES are float32 log10 probabilities (quantized — ~6e-7
  *    absolute error on scores in this range, invisible at the gate's
  *    round(5) but NOT at round(6), which is why q93/q94 pin parity
  *    one decimal looser than the exact-ratio trigram pair);
  *  - every backoff ratio is precomputed at load, scoring is pure hash
  *    lookups: position p starts at order min(n, p+1) and adds
  *    log10(0.4) per backoff step down to the unigram Laplace floor —
  *    term-for-term the composable `logProbPerDocNgram` program.
  * One line per load reports entries and resident bytes per order —
  * the table-size observability that decides whether a 5-gram fits an
  * executor before anyone ships it. */
final class NgramLmTable(
    val order: Int,
    uniMap: LongFloatMap,
    uniOov: Float,
    grams: Array[LongFloatMap]) { // grams(j-2) = order-j table

  private[this] val log04 = StrictMath.log10(0.4)

  def avgLogProb(text: UTF8String): java.lang.Double = {
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length
    val n = order
    // ring of the last n tokens as (start, end) offsets into bytes
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var count = 0 // tokens seen so far
    var sum = 0.0
    var tokStart = -1
    var i = 0
    while (i <= len) {
      val isSpace = i == len || SimHashImpl.isRegexSpaceByte(bytes(i))
      if (!isSpace && tokStart < 0) tokStart = i
      else if (isSpace && tokStart >= 0) {
        val slot = count % n
        starts(slot) = tokStart
        ends(slot) = i
        count += 1
        val m0 = if (count < n) count else n
        var j = m0
        var matched = false
        while (!matched && j >= 2) {
          // fingerprint of the last j tokens, oldest first
          var h = NgramFingerprint.Offset
          var x = j - 1
          while (x >= 0) {
            val s = (count - 1 - x) % n
            if (x < j - 1) h = NgramFingerprint.absorbSep(h)
            h = NgramFingerprint.absorb(h, bytes, starts(s), ends(s) - starts(s))
            x -= 1
          }
          val v = grams(j - 2).getOrNaN(h)
          if (!java.lang.Float.isNaN(v)) {
            sum += (m0 - j) * log04 + v
            matched = true
          }
          j -= 1
        }
        if (!matched) {
          val h = NgramFingerprint.absorb(NgramFingerprint.Offset,
            bytes, tokStart, i - tokStart)
          val u = uniMap.getOrNaN(h)
          sum += (m0 - 1) * log04 + (if (java.lang.Float.isNaN(u)) uniOov else u)
        }
        tokStart = -1
      }
      i += 1
    }
    if (count == 0) null else java.lang.Double.valueOf(sum / count)
  }
}

/** Executor-side order-n LM cache: one load per (JVM, path) — the
  * [[Lm3Registry]] contract, with the per-order size log. */
object NgramRegistry {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, NgramLmTable]()

  def get(path: String): NgramLmTable =
    cache.computeIfAbsent(path, load(_))

  private[graft] def invalidate(path: String): Unit = { cache.remove(path); () }

  /** A `saveNgram` section marker (`#<k>grams`): starts with `#` and has
    * no tab. Every gram line has a tab before its count, so a token that
    * starts with `#` (`##`, `#2grams`) stays a gram line. */
  private[functions] def isSectionMarker(line: String): Boolean =
    line.nonEmpty && line.charAt(0) == '#' && line.indexOf('\t') < 0

  private def load(path: String): NgramLmTable = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
      finally in.close()
    require(lines.nonEmpty && lines(0).startsWith("#graft-ngram-lm v1 "),
      s"not a graft ngram LM file: $path")
    val header = lines(0).split(' ')
    def scalar(key: String): String = header
      .collectFirst { case kv if kv.startsWith(key + "=") =>
        kv.substring(key.length + 1) }
      .getOrElse(throw new IllegalArgumentException(
        s"ngram LM header missing $key= in: ${lines(0)}"))
    val order = scalar("order").toInt
    require(order >= 2 && order <= 8, s"ngram LM order out of range: $order")
    val total = scalar("total").toLong
    val vocab = scalar("vocab").toLong
    val counts = scalar("counts").split(',').map(_.toLong)
    require(counts.length == order - 1,
      s"ngram LM $path header counts= must list ${order - 1} orders")
    val uniDenom = (total + vocab + 1).toDouble
    val uniMap = new LongFloatMap(vocab.min(Int.MaxValue / 4).toInt)
    val grams = Array.tabulate(order - 1)(k =>
      new LongFloatMap(counts(k).min(Int.MaxValue / 4).toInt))
    // transient string-keyed count maps: the context denominators for
    // the NEXT section; discarded after load
    var prevCounts = new java.util.HashMap[String, java.lang.Long]()
    var curCounts = new java.util.HashMap[String, java.lang.Long]()
    var section = 1 // current gram order being read
    val seen = new Array[Long](order + 1)
    var i = 1
    while (i < lines.length) {
      val line = lines(i)
      if (isSectionMarker(line)) {
        val m = "^#(\\d+)grams$".r.findFirstMatchIn(line).getOrElse(
          throw new IllegalArgumentException(s"ngram LM $path: bad section marker '$line'"))
        val k = m.group(1).toInt
        require(k == section + 1,
          s"ngram LM $path: section #${k}grams out of order (expected #${section + 1}grams)")
        section = k
        prevCounts = curCounts
        curCounts = new java.util.HashMap[String, java.lang.Long]()
      } else if (line.nonEmpty) {
        val parts = line.split('\t')
        require(parts.length == section + 1,
          s"ngram LM $path: order-$section line needs ${section + 1} fields: '$line'")
        val cnt = parts(section).toLong
        if (section == 1) {
          uniMap.put(NgramFingerprint.ofString(parts(0)),
            StrictMath.log10((cnt + 1).toDouble / uniDenom).toFloat)
          curCounts.put(parts(0), java.lang.Long.valueOf(cnt))
        } else {
          val ctxKey = parts.view.slice(0, section - 1).mkString(" ")
          val ctx = prevCounts.get(ctxKey)
          require(ctx != null,
            s"ngram LM $path: order-$section gram context '$ctxKey' missing at order ${section - 1}")
          grams(section - 2).put(
            NgramFingerprint.ofGram(parts, 0, section),
            StrictMath.log10(cnt.toDouble / ctx.longValue()).toFloat)
          curCounts.put(parts.view.slice(0, section).mkString(" "),
            java.lang.Long.valueOf(cnt))
        }
        seen(section) += 1
        ()
      }
      i += 1
    }
    require(seen(1) == vocab,
      s"ngram LM $path: header vocab=$vocab but ${seen(1)} unigram lines")
    (2 to order).foreach { k =>
      require(seen(k) == counts(k - 2),
        s"ngram LM $path: header says ${counts(k - 2)} ${k}-grams but ${seen(k)} lines")
    }
    // the one-line size report: what a 5-gram would cost an executor
    val bytes = (uniMap.capacity.toLong +
      grams.map(_.capacity.toLong).sum) * 12
    System.err.println(s"[graft] ngram LM $path loaded: order=$order " +
      (1 to order).map(k => s"o$k=${seen(k)}").mkString(" ") +
      f" resident=${bytes / 1024.0 / 1024.0}%.1f MB (flat fp64->f32 tables)")
    new NgramLmTable(order, uniMap,
      StrictMath.log10(1.0 / uniDenom).toFloat, grams)
  }

  def score(path: String, text: UTF8String): java.lang.Double =
    NgramRegistry.get(path).avgLogProb(text)
}

/** `graft_lmn_logprob(string, 'lm-path') -> double`: average log10
  * stupid-backoff order-n probability under a saved
  * `LangModel.saveNgram` artifact — the zero-shuffle scale form of
  * `LangModel.logProbPerDocNgram`; parity at the gate's 5-decimal
  * rounding (float32-quantized tables). Null input / no tokens →
  * null. */
case class NgramLogProb(child: Expression, lmPath: String)
    extends UnaryExpression {
  require(lmPath.nonEmpty, "graft_lmn_logprob needs an LM path")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lmn_logprob expects string, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lmn_logprob"

  override protected def nullSafeEval(t: Any): Any =
    NgramRegistry.score(lmPath, t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathRef = ctx.addReferenceObj("lmPath", lmPath, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double ${ev.value}_r = graft.functions.NgramRegistry.score($pathRef, $c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
