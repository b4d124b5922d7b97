package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Loaded interpolated Kneser–Ney ORDER-N model over the ordinary
  * `LangModel.saveNgram` artifact (`KneserNeyNLm` trains at minCount=1
  * by construction; the SAME file the stupid-backoff [[NgramRegistry]]
  * scores) or a fixed-order saveBigram / saveTrigram file. Only the
  * header's `vocab=` and the TOP section feed the model: every lower
  * level is the continuation recursion (`c_k(g) = N1+(·g)` — distinct
  * left extensions at order k+1), every per-context sum/fan-out and
  * every per-level count-of-counts discount is a pure function of the
  * stored top-order counts, so the loader recomputes them once per
  * (JVM, path) instead of persisting a second format.
  *
  * Scoring is the live bottom-up recursion (term-for-term
  * `LangModel.logProbPerDocKneserNeyN`'s operand order, so parity with
  * the composable form holds at the shared oracle's 6-decimal
  * rounding): position p starts at order m = min(n, p+1) with
  * `p_1(w) = (nbwd1(w)+1)/(B′+V+1)`; per level j = 2..m, seen context
  * → `p_j = (max(c_j − D_j, 0) + (D_j·nfwd_j)·p_{j−1}) / ctx_j`,
  * unseen → `p_{j−1}` unchanged.
  *
  * Memory shape: exact \t-joined string keys in per-level hash maps
  * (KN's recursion needs live counts, not precomputable log-probs, at
  * every level except the deepest; the fingerprinted/quantized flat
  * layout is the stupid-backoff registry's). A per-level size line
  * logs what an order-5 table would cost an executor before anyone
  * ships it.
  */
final class KnNLmTable(
    val order: Int,
    p1: java.util.HashMap[String, java.lang.Double],
    p1Oov: Double,
    // level j maps at index j-2: gram key "w1\t..\twj" -> count
    // (continuation counts below the top order, raw at the top), and
    // context key "w1\t..\tw{j-1}" -> [D_j * nfwd_j, ctx_j]
    cnts: Array[java.util.HashMap[String, java.lang.Long]],
    ctxs: Array[java.util.HashMap[String, Array[Double]]],
    discounts: Array[Double]) {

  private def p1Of(tok: String): Double = {
    val v = p1.get(tok)
    if (v == null) p1Oov else v.doubleValue()
  }

  def avgLogProb(text: UTF8String): java.lang.Double = {
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length
    val n = order
    val ring = new Array[String](n) // last n tokens
    var count = 0
    var sum = 0.0
    var tokStart = -1
    var i = 0
    while (i <= len) {
      val isSpace = i == len || SimHashImpl.isRegexSpaceByte(bytes(i))
      if (!isSpace && tokStart < 0) tokStart = i
      else if (isSpace && tokStart >= 0) {
        val tok = new String(bytes, tokStart, i - tokStart,
          java.nio.charset.StandardCharsets.UTF_8)
        ring(count % n) = tok
        count += 1
        val m = if (count < n) count else n
        // full (m-1)-token context oldest-first, with word-start
        // offsets so each level's key is a suffix substring
        var p = p1Of(tok)
        if (m >= 2) {
          val offs = new Array[Int](m - 1)
          val sb = new java.lang.StringBuilder()
          var x = m - 1
          while (x >= 1) {
            offs(m - 1 - x) = sb.length()
            sb.append(ring((count - 1 - x) % n))
            if (x > 1) sb.append('\t')
            x -= 1
          }
          val fullCtx = sb.toString
          var j = 2
          while (j <= m) {
            val ctxKey = fullCtx.substring(offs(m - j))
            val ctx = ctxs(j - 2).get(ctxKey)
            if (ctx != null) {
              val c = cnts(j - 2).get(ctxKey + "\t" + tok)
              val cD = if (c == null) 0.0 else c.longValue().toDouble
              p = (math.max(cD - discounts(j - 2), 0.0) + ctx(0) * p) / ctx(1)
            }
            j += 1
          }
        }
        sum += StrictMath.log10(p)
        tokStart = -1
      }
      i += 1
    }
    if (count == 0) null else java.lang.Double.valueOf(sum / count)
  }
}

/** The interpolated-KN derived statistics as exact string-keyed
  * tables — what [[KnNRegistry]] scores directly and what
  * [[KnNPackedRegistry]] quantizes into flat fingerprint maps.
  * `cnts(j-2)` holds level-j gram counts (raw at the top order,
  * continuation counts below), `ctxs(j-2)` maps each level-j context
  * to `[D_j·nfwd_j, ctx_j]`, `p1` is the Laplace-over-continuations
  * unigram floor with `p1Oov` for never-continuing tokens. */
private[functions] final class KnChain(
    val order: Int,
    val p1: java.util.HashMap[String, java.lang.Double],
    val p1Oov: Double,
    val cnts: Array[java.util.HashMap[String, java.lang.Long]],
    val ctxs: Array[java.util.HashMap[String, Array[Double]]],
    val discounts: Array[Double])

/** Executor-side order-n KN cache: one load per (JVM, path), over the
  * same saveNgram / saveBigram / saveTrigram artifacts the
  * stupid-backoff registries score. */
object KnNRegistry {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, KnNLmTable]()

  def get(path: String): KnNLmTable = cache.computeIfAbsent(path, load(_))

  private[graft] def invalidate(path: String): Unit = { cache.remove(path); () }

  private def load(path: String): KnNLmTable = {
    val ch = buildChain(path)
    new KnNLmTable(ch.order, ch.p1, ch.p1Oov, ch.cnts, ch.ctxs, ch.discounts)
  }

  /** Parse a KN count artifact and build the raw count chain (top
    * section verbatim, continuation counts below) — the smoothing-
    * agnostic half, shared with the modified-KN loaders
    * ([[KnModRegistry]]): returns (order, vocab, level tables at
    * index j-2). Three layouts carry the same unigram section plus
    * one section per order: the `saveNgram` file (`#<k>grams`
    * markers, `order=` and `counts=` in the header) and the fixed-
    * order `saveBigram` / `saveTrigram` files (`#pairs` / `#triples`
    * markers, `pairs=` / `triples=` counts) — order 2 and 3. */
  private[functions] def buildCounts(
      path: String): (Int, Long, Array[java.util.HashMap[String, java.lang.Long]]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
      finally in.close()
    val header = lines.headOption.getOrElse("").split(' ')
    def scalar(key: String): String = header
      .collectFirst { case kv if kv.startsWith(key + "=") =>
        kv.substring(key.length + 1) }
      .getOrElse(throw new IllegalArgumentException(
        s"LM header missing $key= in: ${header.mkString(" ")}"))
    // (order, header line count per order 2..order, marker -> order)
    val (order, counts, markers) = header.take(2).mkString(" ") match {
      case "#graft-ngram-lm v1" =>
        val o = scalar("order").toInt
        require(o >= 2 && o <= 8, s"ngram LM order out of range: $o")
        val c = scalar("counts").split(',').map(_.toLong)
        require(c.length == o - 1,
          s"ngram LM $path header counts= must list ${o - 1} orders")
        (o, c.toSeq, (2 to o).map(k => s"#${k}grams" -> k).toMap)
      case "#graft-bigram-lm v1" =>
        (2, Seq(scalar("pairs").toLong), Map("#pairs" -> 2))
      case "#graft-trigram-lm v1" =>
        (3, Seq(scalar("pairs").toLong, scalar("triples").toLong),
          Map("#pairs" -> 2, "#triples" -> 3))
      case _ => throw new IllegalArgumentException(
        "not a graft n-gram LM file (KN scores the saveNgram, saveBigram " +
          s"and saveTrigram artifacts): $path")
    }
    val vocab = scalar("vocab").toLong
    // one pass over the file: validate section order/line counts, keep
    // only the TOP section's raw grams
    val topExpected = counts(order - 2)
    val top = new java.util.HashMap[String, java.lang.Long](
      math.max(16, topExpected.min(Int.MaxValue / 2).toInt * 2))
    val seen = new Array[Long](order + 1)
    var section = 1
    var i = 1
    while (i < lines.length) {
      val line = lines(i)
      if (NgramRegistry.isSectionMarker(line)) {
        val k = markers.getOrElse(line, throw new IllegalArgumentException(
          s"LM $path: bad section marker '$line'"))
        require(k == section + 1,
          s"LM $path: section '$line' out of order (expected order ${section + 1})")
        section = k
      } else if (line.nonEmpty) {
        if (section == order) {
          val tab = line.lastIndexOf('\t')
          require(tab > 0, s"LM $path: malformed order-$order line: '$line'")
          top.put(line.substring(0, tab),
            java.lang.Long.valueOf(line.substring(tab + 1).toLong))
          ()
        }
        seen(section) += 1
      }
      i += 1
    }
    require(seen(1) == vocab,
      s"LM $path: header vocab=$vocab but ${seen(1)} unigram lines")
    (2 to order).foreach { k =>
      require(seen(k) == counts(k - 2),
        s"LM $path: header says ${counts(k - 2)} ${k}-grams but ${seen(k)} lines")
    }
    // continuation recursion: level k counts = distinct first-word
    // extensions at level k+1 (keys there are distinct grams, so each
    // contributes exactly 1 to its suffix)
    val cnts = new Array[java.util.HashMap[String, java.lang.Long]](order - 1)
    cnts(order - 2) = top
    var k = order - 1
    while (k >= 2) {
      val above = cnts(k - 1)
      val below = new java.util.HashMap[String, java.lang.Long](
        math.max(16, above.size()))
      val it = above.keySet().iterator()
      while (it.hasNext) {
        val key = it.next()
        val suffix = key.substring(key.indexOf('\t') + 1)
        below.merge(suffix, java.lang.Long.valueOf(1L),
          (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        ()
      }
      cnts(k - 2) = below
      k -= 1
    }
    (order, vocab, cnts)
  }

  /** Run the interpolated-KN derivation over the raw count chain —
    * shared by the exact-string and the packed loaders. */
  private[functions] def buildChain(path: String): KnChain = {
    val (order, vocab, cnts) = buildCounts(path)
    // per level: count-of-counts discount, then context sums/fan-outs
    // with a_j = D_j * nfwd_j precomputed (the composable's operand
    // order: (D * nfwd) * p)
    val discounts = new Array[Double](order - 1)
    val ctxs = new Array[java.util.HashMap[String, Array[Double]]](order - 1)
    var j = 2
    while (j <= order) {
      val lvl = cnts(j - 2)
      var n1 = 0L; var n2 = 0L
      val vit = lvl.values().iterator()
      while (vit.hasNext) {
        val c = vit.next().longValue()
        if (c == 1L) n1 += 1
        if (c == 2L) n2 += 1
      }
      val d = if (n1 == 0) 0.5 else math.min(n1.toDouble / (n1 + 2.0 * n2), 1.0)
      discounts(j - 2) = d
      val sums = new java.util.HashMap[String, Array[Double]]()
      val eit = lvl.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val key = e.getKey
        val ctxKey = key.substring(0, key.lastIndexOf('\t'))
        var agg = sums.get(ctxKey)
        if (agg == null) { agg = Array(0.0, 0.0); sums.put(ctxKey, agg); () }
        agg(0) += 1.0 // nfwd for now; scaled by D below
        agg(1) += e.getValue.longValue().toDouble
      }
      val sit = sums.values().iterator()
      while (sit.hasNext) { val a = sit.next(); a(0) *= d }
      ctxs(j - 2) = sums
      j += 1
    }
    // bottom level: p1cont from the level-2 continuation fan-in
    val nbwd1 = new java.util.HashMap[String, java.lang.Long]()
    val bit = cnts(0).keySet().iterator()
    while (bit.hasNext) {
      val key = bit.next()
      nbwd1.merge(key.substring(key.indexOf('\t') + 1), java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      ()
    }
    val denom1 = (cnts(0).size().toLong + vocab + 1).toDouble
    val p1 = new java.util.HashMap[String, java.lang.Double](
      math.max(16, nbwd1.size() * 2))
    val nit = nbwd1.entrySet().iterator()
    while (nit.hasNext) {
      val e = nit.next()
      p1.put(e.getKey, java.lang.Double.valueOf(
        (e.getValue.longValue() + 1L).toDouble / denom1))
      ()
    }
    System.err.println(s"[graft] KN-$order LM $path loaded: " +
      (2 to order).map(x => s"o$x=${cnts(x - 2).size()}").mkString(" ") +
      s" p1=${p1.size()} " +
      (2 to order).map(x => f"D$x=${discounts(x - 2)}%.4f").mkString(" "))
    new KnChain(order, p1, 1.0 / denom1, cnts, ctxs, discounts)
  }

  /** Score under the model at `path`; `order` > 0 pins the file's
    * order (the order-2/3 SQL names reject a file of another order). */
  def score(path: String, order: Int, text: UTF8String): java.lang.Double = {
    val t = get(path)
    require(order == 0 || t.order == order,
      s"order-$order KN scoring was given an order-${t.order} LM file: $path")
    t.avgLogProb(text)
  }
}

/** `graft_knn_logprob(string, 'lm-path') -> double`: average log10
  * probability under interpolated Kneser–Ney order-n smoothing over a
  * saved UNPRUNED LM (`LangModel.saveNgram` of a
  * `trainKneserNeyN(...).ngram`, or a minCount=1 saveBigram /
  * saveTrigram file) — the zero-shuffle scale form of
  * `LangModel.logProbPerDocKneserNeyN`; parity at the shared oracle's
  * 6-decimal rounding. Null input / no tokens → null. `order` = 2 / 3
  * is `graft_kn_logprob` / `graft_kn3_logprob`: the same scorer
  * pinned to that order, so a file of another order is rejected;
  * 0 accepts any order. */
case class KnNLogProb(child: Expression, lmPath: String, order: Int = 0)
    extends UnaryExpression {
  require(lmPath.nonEmpty, s"$prettyName needs an LM path")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = order match {
    case 2 => "graft_kn_logprob"
    case 3 => "graft_kn3_logprob"
    case _ => "graft_knn_logprob"
  }

  override protected def nullSafeEval(t: Any): Any =
    KnNRegistry.score(lmPath, order, t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathRef = ctx.addReferenceObj("lmPath", lmPath, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double ${ev.value}_r =
        graft.functions.KnNRegistry.score($pathRef, $order, $c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
