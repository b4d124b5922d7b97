package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained unigram language model: the vocab count table plus the two
  * scalars every scoring form shares. Laplace-smoothed probabilities:
  *
  *   p(w in vocab) = (count(w) + 1) / (N + V + 1)
  *   p(OOV)        =              1 / (N + V + 1)
  *
  * where N = total token occurrences of the kept vocab and V = kept
  * vocab size. All three are integers, so the denominator is exact and
  * the model is bit-reproducible from the table alone — which is what
  * lets the DuckDB oracle replay scoring verbatim (q71/q72).
  */
/** Bigram LM: the minCount-pruned `(w1, w2, cnt2)` table plus the
  * unigram model that supplies context counts, vocab size, and the
  * first-position score. */
final case class BigramLm(unigram: UnigramLm, table: DataFrame)

/** Trigram stupid-backoff LM: the minCount-pruned `(w1, w2, w3, cnt3)`
  * table plus the bigram model that supplies context counts and the
  * two backoff levels. */
final case class TrigramLm(bigram: BigramLm, table: DataFrame)

/** Order-n stupid-backoff LM (KenLM-shaped, n ≥ 2): the unigram model
  * plus one minCount-pruned count table per order 2..n (`tables(k)` =
  * the (k+2)-gram table with columns `w1..w{k+2}, cnt{k+2}`). The
  * shared minCount guarantees every kept gram's context survives at
  * the next order down — the invariant both scorers and the file
  * loader rely on. */
final case class NgramLm(order: Int, unigram: UnigramLm, tables: Seq[DataFrame]) {
  require(order >= 2, s"order must be >= 2, got $order")
  require(tables.length == order - 1, s"need ${order - 1} tables, got ${tables.length}")

  /** The order-k count table (2 ≤ k ≤ order). */
  def table(k: Int): DataFrame = tables(k - 2)
}

/** Interpolated Kneser–Ney ORDER-N LM (Kneser & Ney 1995; Chen &
  * Goodman 1999 §3's full recursion — what KenLM actually ships and
  * what CCNet's perplexity filter assumes): the UNPRUNED minCount=1
  * [[NgramLm]] plus one absolute discount per level n..2, each
  * estimated from the count-of-counts of THAT level's own count table
  * — raw counts at the top order, CONTINUATION counts below
  * (`c_k(g) = N1+(·g)` = distinct left extensions at order k+1,
  * recursively — Ney et al. 1994). `discounts(j-2) = D_j`. minCount is
  * fixed at 1: the discount IS the singleton treatment, pruning would
  * break the sums the normalization proof needs. Only the top-order
  * table and the unigram vocab feed scoring — every lower level
  * derives from them by the continuation recursion, so the ordinary
  * [[LangModel.saveNgram]] artifact (or, at order 2 / 3, a minCount=1
  * [[LangModel.saveBigram]] / [[LangModel.saveTrigram]] file) is
  * sufficient for the native registry
  * ([[graft.functions.KnNRegistry]]). Unlike stupid backoff it is a
  * PROPER distribution at every level: for any context, probabilities
  * over vocab ∪ OOV sum to exactly 1 (LangModelSpec pins it at orders
  * 2, 3 and 4) — which is what makes its perplexities comparable
  * across corpora. */
final case class KneserNeyNLm(ngram: NgramLm, discounts: Seq[Double]) {
  require(discounts.length == ngram.order - 1,
    s"need ${ngram.order - 1} discounts (D_${ngram.order}..D_2), got ${discounts.length}")
  discounts.zipWithIndex.foreach { case (d, i) =>
    require(d > 0 && d <= 1, s"D_${i + 2} must be in (0,1], got $d") }

  def order: Int = ngram.order

  /** The absolute discount applied at level j (2 ≤ j ≤ order). */
  def discount(j: Int): Double = discounts(j - 2)
}

/** MODIFIED Kneser–Ney order-N LM (Chen & Goodman 1999 §5 — KenLM's
  * default smoothing and what CCNet's 5-gram perplexity filter runs):
  * [[KneserNeyNLm]] with THREE discounts per level — `D1` paid by
  * singleton grams, `D2` by doubletons, `D3` by counts ≥ 3 — each
  * level's triple estimated from its own count-of-counts — capped at
  * 1 / 2 / 3 so `c − D(c) ≥ 0` always, floored strictly above 0
  * (degenerate or non-positive estimates → the range midpoint) so
  * every context keeps positive mass for unseen continuations — and
  * every backoff level stays a PROPER distribution (the per-context
  * interpolation weight is exactly the discounted mass
  * `D1·N1 + D2·N2 + D3·N3+`). `discounts(j-2) = (D1_j, D2_j, D3_j)`. */
final case class KneserNeyNModLm(
    ngram: NgramLm, discounts: Seq[(Double, Double, Double)]) {
  require(discounts.length == ngram.order - 1,
    s"need ${ngram.order - 1} discount triples, got ${discounts.length}")
  discounts.zipWithIndex.foreach { case ((d1, d2, d3), i) =>
    require(d1 > 0 && d1 <= 1, s"D1_${i + 2} must be in (0,1], got $d1")
    require(d2 > 0 && d2 <= 2, s"D2_${i + 2} must be in (0,2], got $d2")
    require(d3 > 0 && d3 <= 3, s"D3_${i + 2} must be in (0,3], got $d3")
  }

  def order: Int = ngram.order

  /** The discount triple applied at level j (2 ≤ j ≤ order). */
  def discount(j: Int): (Double, Double, Double) = discounts(j - 2)
}

final case class UnigramLm(table: DataFrame, totalTokens: Long, vocab: Long) {

  /** The shared Laplace denominator `N + V + 1` as a double — computed
    * ONCE here so the composable column form, the native expression,
    * and the saved-file header can never disagree on it. */
  def denom: Double = (totalTokens + vocab + 1).toDouble
}

/** CCNet-style n-gram language-model quality scoring: train a small
  * unigram LM on a REFERENCE corpus (a curated high-quality slice),
  * then score every candidate document by its average per-token log10
  * probability under that LM. Gibberish, boilerplate, and
  * wrong-language text sit far from the reference distribution and
  * score low; `perplexity = 10^(-avg log10 p)` is the familiar form of
  * the same number. (CCNet does this with a 5-gram KenLM; the unigram
  * form keeps the model a broadcastable table and the arithmetic
  * SQL-replayable, which is what the correctness gate needs — the
  * quality ORDERING it induces is what curation filters use.)
  *
  * Scale shape:
  *  - `trainUnigram` shuffles only REFERENCE tokens (one groupBy) —
  *    the reference slice is small by construction, and `minCount`
  *    bounds the vocab (rare-token mass folds into OOV smoothing, and
  *    a count threshold stays SQL-replayable where a top-K vocab cut
  *    would need tie-breaking the oracle can't mirror).
  *  - [[logProbPerDoc]] is the composable REFERENCE form: explode +
  *    broadcast-join + one groupBy(doc) shuffle whose width is the
  *    corpus TOKEN count — fine at verify scale, wrong at 100 TB.
  *  - the native expression (`graft_lm_logprob`,
  *    [[graft.functions.LmLogProb]]) is the scale path: the saved LM
  *    loads once per executor JVM, scoring is a zero-shuffle
  *    scan-speed projection, and both forms produce bit-identical
  *    doubles (same token boundaries, same `StrictMath.log10`, same
  *    left-to-right accumulation) — pinned by ONE shared oracle, the
  *    q41/q65 pattern.
  */
object LangModel {

  /** Model-table persists created inside a [[releasingCaches]] scope —
    * collected so the scope can unpersist them at exit. Thread-local:
    * gates may train concurrently (guide §2.6 job overlap) without
    * crossing trackers. */
  private val trackedCaches =
    new ThreadLocal[scala.collection.mutable.ListBuffer[DataFrame]]

  /** `.persist()` for model tables (Dataset default storage level —
    * MEMORY_AND_DISK, so an over-large model table spills instead of
    * evicting or OOMing; guide §5), registered with the active
    * [[releasingCaches]] scope when one is open. */
  private implicit class TrackedPersist(private val df: DataFrame) {
    def persistT(): DataFrame = {
      df.persist()
      val buf = trackedCaches.get()
      if (buf != null) buf += df
      df
    }
  }

  /** Run a gate that trains/scores through this object, collect its
    * SMALL result eagerly (a few hundred rows — the per-doc score
    * slices), and unpersist every model table the body persisted —
    * the [[graft.SparkEntry]] eagerSummary discipline applied to the
    * LM family (r15 advice: the r15 `.persist()`s were never released,
    * so a 150-query session pinned every model table it ever built,
    * and a later identical pass silently re-used the cache instead of
    * recomputing). Within the body the persists still do their job
    * (every scoring branch and discount action reads each table once);
    * at exit the footprint returns to zero. */
  def releasingCaches(s: org.apache.spark.sql.SparkSession)(
      body: => DataFrame): DataFrame = {
    val buf = scala.collection.mutable.ListBuffer.empty[DataFrame]
    trackedCaches.set(buf)
    try {
      val out = body
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      trackedCaches.remove()
      buf.foreach(df => try df.unpersist()
        catch { case scala.util.control.NonFatal(_) => () })
    }
  }

  /** Train the unigram table over `Dedup.tokens` (lowercased
    * whitespace tokens — the same tokenizer contract as shingling and
    * the native text expressions). `minCount` drops rare tokens from
    * the vocab (they score as OOV); the vocab table is bounded by it. */
  def trainUnigram(
      ref: DataFrame,
      textCol: String,
      minCount: Long = 1L): UnigramLm = {
    // PERSISTED (r15 optimization): the vocab table is the model — every
    // scorer joins it, every save collects it, and the two scalars below
    // aggregate it. Unpersisted, EACH of those actions re-ran the full
    // token explode + groupBy from the source (the r15 plan audit read
    // 24 parquet scans in one q100 plan, zero ReusedExchange). The table
    // is minCount-bounded reference vocab — small by construction.
    val counts = ref
      .select(explode(Dedup.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .persistT()
    // one tiny aggregate for both scalars; bounded driver egress (2 longs)
    val row = counts
      .agg(coalesce(sum("cnt"), lit(0L)).as("n"), count(lit(1)).as("v"))
      .head()
    UnigramLm(counts, row.getLong(0), row.getLong(1))
  }

  /** Train a bigram LM over the SAME tokenizer contract: within-doc
    * adjacent token pairs, `minCount`-pruned, plus the unigram model
    * for context counts and the first position. Word order now
    * matters — a bigram LM ranks ordered prose above the same tokens
    * shuffled, which NO unigram model can (their scores are
    * permutation-invariant by construction); that ordering fidelity is
    * the CCNet-direction upgrade for perplexity filtering and DSIR
    * weights.
    *
    * Bigram pairs are built with an in-row HOF over the token array
    * (no shuffle, no window) and aggregated once; the table is
    * minCount-bounded like the unigram vocab. */
  def trainBigram(
      ref: DataFrame,
      textCol: String,
      minCount: Long = 1L): BigramLm = {
    // persisted like the unigram vocab: every scoring branch and every
    // derived fwd/bwd statistic re-aggregated the raw corpus otherwise
    val pairs = ref
      .select(Dedup.tokens(col(textCol)).as("tk"))
      .select(explode(pairsOf(col("tk"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
      .filter(col("cnt2") >= minCount)
      .persistT()
    BigramLm(trainUnigram(ref, textCol, minCount), pairs)
  }

  /** Adjacent `(w1, w2)` pairs of a token array, in order — shared by
    * training and scoring so the two can never disagree on pair
    * construction. */
  private def pairsOf(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Adjacent `(w1, w2, w3)` triples of a token array, in order —
    * shared by trigram training and scoring. */
  private def triplesOf(tk: Column): Column =
    when(size(tk) >= 3,
      transform(sequence(lit(3), size(tk)),
        i => struct(element_at(tk, i - 2).as("w1"),
          element_at(tk, i - 1).as("w2"), element_at(tk, i).as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))

  /** Train a trigram LM (same tokenizer contract, same shared
    * `minCount` pruning at all three orders — which is what guarantees
    * a kept n-gram's context survives at order n−1, the invariant the
    * saved-file loader enforces). Triple construction is an in-row HOF
    * (no shuffle); one aggregate whose width is the corpus token
    * count, partial-agg collapsed map-side like the bigram's. */
  def trainTrigram(
      ref: DataFrame,
      textCol: String,
      minCount: Long = 1L): TrigramLm = {
    val triples = ref
      .select(Dedup.tokens(col(textCol)).as("tk"))
      .select(explode(triplesOf(col("tk"))).as("t"))
      .select(col("t.w1"), col("t.w2"), col("t.w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt3"))
      .filter(col("cnt3") >= minCount)
      .persistT()
    TrigramLm(trainBigram(ref, textCol, minCount), triples)
  }

  /** Sliding `(w1..wn)` grams of a token array, in order — the
    * order-n generalization of [[pairsOf]]/[[triplesOf]], shared by
    * training and scoring. */
  private def gramsOf(tk: Column, n: Int): Column = {
    val fields = (1 to n).map(j => s"w$j:string").mkString(",")
    when(size(tk) >= n,
      transform(sequence(lit(n), size(tk)),
        i => struct((1 to n).map(j =>
          element_at(tk, i - n + j).as(s"w$j")): _*)))
      .otherwise(array().cast(s"array<struct<$fields>>"))
  }

  /** Train an order-n stupid-backoff LM (same tokenizer contract, same
    * shared minCount pruning at every order). One aggregate per order,
    * each an in-row gram HOF + a map-side-collapsed groupBy — the
    * count shuffles are corpus-token-width like the trigram's; at
    * production scale the higher orders dominate table size, which is
    * what minCount pruning and the quantized/fingerprinted native
    * registry ([[graft.functions.NgramRegistry]]) are for. */
  def trainNgram(
      ref: DataFrame,
      textCol: String,
      order: Int,
      minCount: Long = 1L): NgramLm = {
    require(order >= 2 && order <= 8, s"order must be in [2,8], got $order")
    val tables = (2 to order).map { k =>
      ref.select(Dedup.tokens(col(textCol)).as("tk"))
        .select(explode(gramsOf(col("tk"), k)).as("g"))
        .select((1 to k).map(j => col(s"g.w$j")): _*)
        .groupBy((1 to k).map(j => col(s"w$j")): _*)
        .agg(count(lit(1)).as(s"cnt$k"))
        .filter(col(s"cnt$k") >= minCount)
        .persistT()
    }
    NgramLm(order, trainUnigram(ref, textCol, minCount), tables)
  }

  /** Composable order-n stupid-backoff scoring — the
    * [[logProbPerDocTrigram]] program generalized: position p (0-based)
    * starts at order m₀ = min(n, p+1) and backs off one order per miss,
    * adding `log10(0.4)` per step down to the unigram Laplace floor.
    * One row per doc: `lmn_logp` (average log10 score over all
    * positions), `lmn_positions`.
    *
    * Shape: per starting order, an in-row gram frame joined against
    * the minCount-bounded tables (hit + context per backoff level —
    * ~2(n−1) joins for the top group, AQE-broadcast when the tables
    * are small) and one final per-doc aggregate. The native form
    * (`graft_lmn_logprob`) is the zero-shuffle scale path against the
    * SAME oracle (q93/q94). */
  def logProbPerDocNgram(
      docs: DataFrame,
      lm: NgramLm,
      idCol: String,
      textCol: String): DataFrame = {
    val n = lm.order
    val uni = lm.unigram
    val log04 = log10(lit(0.4))
    val base = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)

    // score a frame of k-grams (columns __g1..__gk): hit/context joins
    // per backoff level, then the descending when-chain
    def scoreGrams(frame: DataFrame, k: Int): DataFrame = {
      if (k == 1) {
        return frame
          .join(broadcast(uni.table.withColumnRenamed("token", "__g1")
            .withColumnRenamed("cnt", "__u")), Seq("__g1"), "left")
          .select(col(idCol), tokenLogProb(col("__u"), uni).as("logp"))
      }
      var f = frame
      for (j <- 2 to k) {
        // hit at order j: gram (g_{k-j+1}..g_k)
        val hit = lm.table(j).select(
          (1 to j).map(x => col(s"w$x").as(s"__g${k - j + x}")) :+
            col(s"cnt$j").as(s"__hit$j"): _*)
        f = f.join(hit, (k - j + 1 to k).map(x => s"__g$x"), "left")
        // context at order j-1: gram (g_{k-j+1}..g_{k-1})
        val ctx =
          if (j == 2) broadcast(uni.table.select(
            col("token").as(s"__g${k - 1}"), col("cnt").as("__ctx2")))
          else lm.table(j - 1).select(
            (1 until j).map(x => col(s"w$x").as(s"__g${k - j + x}")) :+
              col(s"cnt${j - 1}").as(s"__ctx$j"): _*)
        f = f.join(ctx, (k - j + 1 until k).map(x => s"__g$x"), "left")
      }
      // terminal: unigram Laplace on the last word
      f = f.join(broadcast(uni.table.select(
        col("token").as(s"__g$k"), col("cnt").as("__u"))), Seq(s"__g$k"), "left")
      var expr: Column = lit((k - 1).toDouble) * log04 + tokenLogProb(col("__u"), uni)
      for (j <- 2 to k) { // ascending build = descending priority
        expr = when(col(s"__hit$j").isNotNull,
          lit((k - j).toDouble) * log04 +
            log10(col(s"__hit$j").cast("double") / col(s"__ctx$j").cast("double")))
          .otherwise(expr)
      }
      f.select(col(idCol), expr.as("logp"))
    }

    // positions 0..n-2: one frame per starting order k (the first k
    // tokens of every doc holding at least k)
    val heads = (1 to n - 1).map { k =>
      scoreGrams(
        base.filter(size(col("tk")) >= k).select(
          col(idCol) +: (1 to k).map(j => element_at(col("tk"), j).as(s"__g$j")): _*),
        k)
    }
    // positions >= n-1: sliding n-grams
    val top = scoreGrams(
      base.select(col(idCol), explode(gramsOf(col("tk"), n)).as("g"))
        .select(col(idCol) +: (1 to n).map(j => col(s"g.w$j").as(s"__g$j")): _*),
      n)
    (heads :+ top).reduce(_.unionByName(_))
      .groupBy(idCol)
      .agg(avg("logp").as("lmn_logp"), count(lit(1)).as("lmn_positions"))
  }

  /** Persist an order-n LM as ONE text file: header
    * `#graft-ngram-lm v1 order=N total= vocab= counts=c2,...,cN`, the
    * unigram section, then a `#<k>grams` marker per order with
    * tab-separated `w1..wk count` lines — the [[saveTrigram]] layout
    * generalized. All collects are minCount-bounded driver egress,
    * sorted for deterministic bytes;
    * [[graft.functions.NgramRegistry]] loads the file once per
    * executor JVM into fingerprinted/quantized flat tables. */
  def saveNgram(lm: NgramLm, path: String): Unit = {
    val spark = lm.unigram.table.sparkSession
    val uniRows = lm.unigram.table.orderBy("token").collect()
    val orderRows = (2 to lm.order).map { k =>
      k -> lm.table(k).orderBy((1 to k).map(j => col(s"w$j")): _*).collect()
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write(s"#graft-ngram-lm v1 order=${lm.order} " +
        s"total=${lm.unigram.totalTokens} vocab=${lm.unigram.vocab} " +
        s"counts=${orderRows.map(_._2.length).mkString(",")}\n")
      uniRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getLong(1).toString); out.write('\n')
      }
      orderRows.foreach { case (k, rows) =>
        out.write(s"#${k}grams\n")
        rows.foreach { r =>
          var j = 0
          while (j < k) { out.write(r.getString(j)); out.write('\t'); j += 1 }
          out.write(r.getLong(k).toString); out.write('\n')
        }
      }
    } finally out.close()
    graft.functions.NgramRegistry.invalidate(path)
    invalidateKn(path)
  }

  /** Drop every KN registry's entry for `path` — all four read the
    * saveNgram / saveBigram / saveTrigram artifacts, so each save
    * that can rewrite one of them keeps every cache honest. */
  private def invalidateKn(path: String): Unit = {
    graft.functions.KnNRegistry.invalidate(path)
    graft.functions.KnNPackedRegistry.invalidate(path)
    graft.functions.KnModRegistry.invalidate(path)
    graft.functions.KnModPackedRegistry.invalidate(path)
  }

  /** The continuation-count table one level below `counts` (columns
    * `w1..w{k+1}, <cntCol>`): distinct LEFT extensions per k-suffix —
    * `c_k(w1..wk) = |{w0 : c_{k+1}(w0,w1..wk) > 0}|` — with the
    * output renamed to `w1..wk, cnt{k}`. One map-side-collapsed
    * groupBy over the level above's TYPES (not tokens). */
  private def continuationTable(counts: DataFrame, k: Int): DataFrame =
    counts.groupBy((2 to k + 1).map(j => col(s"w$j").as(s"w${j - 1}")): _*)
      .agg(count(lit(1)).as(s"cnt$k"))

  /** Ney et al. 1994's count-of-counts discount estimate over one
    * count table: `D = n1 / (n1 + 2·n2)`. n1 = 0 would give D = 0 (no
    * discounting → zero mass for unseen continuations → -Inf scores),
    * so it falls back to the conventional 0.5; n2 = 0 gives D = 1,
    * well-defined under max(c−D, 0) and kept. The oracles and the
    * native registry replay this exact arithmetic. */
  private def discountOf(counts: DataFrame, cntCol: String): Double = {
    val r = counts.agg(
      coalesce(sum((col(cntCol) === 1).cast("long")), lit(0L)).as("n1"),
      coalesce(sum((col(cntCol) === 2).cast("long")), lit(0L)).as("n2")).head()
    val n1 = r.getLong(0); val n2 = r.getLong(1)
    if (n1 == 0) 0.5 else math.min(n1.toDouble / (n1 + 2.0 * n2), 1.0)
  }

  /** Train an interpolated Kneser–Ney order-n LM: the minCount=1
    * [[NgramLm]] (KN's discount IS the singleton treatment — pruning
    * would break the Σp=1 proofs) plus the per-level count-of-counts
    * discounts, `D_n` from the raw top table and `D_k` (k < n) from
    * the level-k continuation table. Beyond [[trainNgram]]'s cost:
    * the continuation chain is n−2 groupBys over gram TYPES (each one
    * level smaller) and one 2-long aggregate per level. */
  def trainKneserNeyN(ref: DataFrame, textCol: String, order: Int): KneserNeyNLm = {
    require(order >= 2 && order <= 8, s"order must be in [2,8], got $order")
    val ng = trainNgram(ref, textCol, order, minCount = 1L)
    val ds = new Array[Double](order - 1)
    var level = ng.table(order)
    ds(order - 2) = discountOf(level, s"cnt$order")
    var k = order - 1
    while (k >= 2) {
      // persisted: each level feeds its own discount action AND the
      // next level down — unpersisted, level k re-derived the whole
      // chain from the top table per action
      level = continuationTable(level, k).persistT()
      ds(k - 2) = discountOf(level, s"cnt$k")
      k -= 1
    }
    KneserNeyNLm(ng, ds.toIndexedSeq)
  }

  /** Composable interpolated-KN order-n scoring. One row per doc:
    * `knn_logp` (average log10 probability over all positions),
    * `knn_positions`. Derived statistics, all from the UNPRUNED top
    * table via [[continuationTable]]:
    *  - `cnt_k` — raw counts at k = n, continuation counts below;
    *  - `ctx_k / nfwd_k` — per-context sums and fan-outs of `cnt_k`;
    *  - `nbwd1(w) = |{a : cnt_2(a,w) > 0}|` and
    *    `p1cont(w) = (nbwd1 + 1) / (B′ + V + 1)`, B′ = |cnt_2| — the
    *    Laplace-over-continuation-counts OOV floor.
    * Position p (0-based) scores at order m = min(n, p+1) with the
    * bottom-up recursion: `p_1 = p1cont`; seen level-j context →
    * `p_j = (max(c_j − D_j, 0) + D_j·nfwd_j·p_{j−1}) / ctx_j`, unseen
    * → `p_j = p_{j−1}`. Every piece is SQL arithmetic on the top
    * count table, so the oracles replay training AND scoring verbatim
    * (q97 at order 2, q100 at 3, and the generated [[SparkEntry]] CTE
    * chain of q114 at 4).
    *
    * Shape: in-row gram construction; the derived tables are one
    * map-side-collapsed groupBy each over the reference's gram TYPES
    * (AQE picks broadcast for the scoring joins — ~2(n−1) of them for
    * the top frame); one final per-doc aggregate. The native form
    * (`graft_knn_logprob`, [[graft.functions.KnNLogProb]]) is the
    * zero-shuffle scale path against the SAME oracle. */
  def logProbPerDocKneserNeyN(
      docs: DataFrame,
      lm: KneserNeyNLm,
      idCol: String,
      textCol: String): DataFrame = {
    val n = lm.order
    // cnts(k) = the level-k count table, columns w1..wk, cnt{k}.
    // All derived tables persist (r15): cnts(k) feeds the level below,
    // its own fwd aggregate, and a hit join in every frame of order
    // >= k; fwds(j)/bwd1 join into up to n frames each. Everything is
    // bounded by the reference's gram-type counts.
    val cnts = new Array[DataFrame](n + 1)
    cnts(n) = lm.ngram.table(n)
    var k = n - 1
    while (k >= 2) { cnts(k) = continuationTable(cnts(k + 1), k).persistT(); k -= 1 }
    val fwds = (2 to n).map { j =>
      j -> cnts(j).groupBy((1 until j).map(x => col(s"w$x")): _*)
        .agg(sum(s"cnt$j").as(s"__ctx$j"), count(lit(1)).as(s"__nfwd$j"))
        .persistT()
    }.toMap
    val bwd1 = cnts(2).groupBy(col("w2")).agg(count(lit(1)).as("__nbwd1")).persistT()
    val bPrime = cnts(2).count()
    val denomCont = (bPrime + lm.ngram.unigram.vocab + 1).toDouble
    def p1cont(nbwd: Column): Column =
      (coalesce(nbwd, lit(0L)) + lit(1L)).cast("double") / lit(denomCont)

    val base = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)

    // score a frame of m-grams (columns __g1..__gm): level-j count +
    // context joins for j = 2..m, then the bottom-up interpolation
    def scoreFrame(frame: DataFrame, m: Int): DataFrame = {
      var f = frame.join(
        bwd1.select(col("w2").as(s"__g$m"), col("__nbwd1")), Seq(s"__g$m"), "left")
      for (j <- 2 to m) {
        val hit = cnts(j).select(
          (1 to j).map(x => col(s"w$x").as(s"__g${m - j + x}")) :+
            col(s"cnt$j").as(s"__c$j"): _*)
        f = f.join(hit, (m - j + 1 to m).map(x => s"__g$x"), "left")
        val ctx = fwds(j).select(
          (1 until j).map(x => col(s"w$x").as(s"__g${m - j + x}")) :+
            col(s"__ctx$j") :+ col(s"__nfwd$j"): _*)
        f = f.join(ctx, (m - j + 1 until m).map(x => s"__g$x"), "left")
      }
      var p: Column = p1cont(col("__nbwd1"))
      for (j <- 2 to m) {
        p = when(col(s"__ctx$j").isNotNull,
          (greatest(coalesce(col(s"__c$j"), lit(0L)).cast("double") -
            lit(lm.discount(j)), lit(0.0)) +
            lit(lm.discount(j)) * col(s"__nfwd$j").cast("double") * p) /
            col(s"__ctx$j").cast("double"))
          .otherwise(p)
      }
      f.select(col(idCol), log10(p).as("logp"))
    }

    // positions 0..n-2: one frame per starting order m; positions
    // >= n-1: sliding n-grams — the logProbPerDocNgram frame plan
    val heads = (1 to n - 1).map { m =>
      scoreFrame(
        base.filter(size(col("tk")) >= m).select(
          col(idCol) +: (1 to m).map(j => element_at(col("tk"), j).as(s"__g$j")): _*),
        m)
    }
    val top = scoreFrame(
      base.select(col(idCol), explode(gramsOf(col("tk"), n)).as("g"))
        .select(col(idCol) +: (1 to n).map(j => col(s"g.w$j").as(s"__g$j")): _*),
      n)
    (heads :+ top).reduce(_.unionByName(_))
      .groupBy(idCol)
      .agg(avg("logp").as("knn_logp"), count(lit(1)).as("knn_positions"))
  }

  /** The clamped Chen–Goodman three-discount estimate over one count
    * table — term-for-term [[graft.functions.KnMod.discountsOf]]
    * (`Y = n1/(n1+2n2)`; `D1 = 1−2Y·n2/n1`, `D2 = 2−3Y·n3/n2`,
    * `D3 = 3−4Y·n4/n3`; any `nk = 0` → the clamp-range midpoint). */
  private def modDiscountsOf(
      counts: DataFrame, cntCol: String): (Double, Double, Double) = {
    val r = counts.agg(
      coalesce(sum((col(cntCol) === 1).cast("long")), lit(0L)).as("n1"),
      coalesce(sum((col(cntCol) === 2).cast("long")), lit(0L)).as("n2"),
      coalesce(sum((col(cntCol) === 3).cast("long")), lit(0L)).as("n3"),
      coalesce(sum((col(cntCol) === 4).cast("long")), lit(0L)).as("n4")).head()
    val n1 = r.getLong(0); val n2 = r.getLong(1)
    val n3 = r.getLong(2); val n4 = r.getLong(3)
    val y = if (n1 == 0) 0.5 else n1.toDouble / (n1 + 2.0 * n2)
    // non-positive estimates fall back to the range midpoint like the
    // degenerate nk = 0 case — a zero discount would reserve zero mass
    // and assign unseen continuations probability 0 (see
    // KnMod.discountsOf, which this mirrors term-for-term)
    val d1 = if (n1 == 0) 0.5 else {
      val est = 1.0 - 2.0 * y * n2 / n1
      if (est <= 0) 0.5 else math.min(est, 1.0)
    }
    val d2 = if (n2 == 0) 1.0 else {
      val est = 2.0 - 3.0 * y * n3 / n2
      if (est <= 0) 1.0 else math.min(est, 2.0)
    }
    val d3 = if (n3 == 0) 1.5 else {
      val est = 3.0 - 4.0 * y * n4 / n3
      if (est <= 0) 1.5 else math.min(est, 3.0)
    }
    (d1, d2, d3)
  }

  /** Train a MODIFIED Kneser–Ney order-n LM: the same minCount=1
    * [[NgramLm]] and continuation chain as [[trainKneserNeyN]], with
    * the three-discount estimate per level. The saved artifact is the
    * ordinary [[saveNgram]] file — the smoothing lives entirely in the
    * derivation, so one artifact serves stupid-backoff, interpolated
    * KN, and modified KN. */
  def trainKneserNeyNMod(
      ref: DataFrame, textCol: String, order: Int): KneserNeyNModLm = {
    require(order >= 2 && order <= 8, s"order must be in [2,8], got $order")
    val ng = trainNgram(ref, textCol, order, minCount = 1L)
    val ds = new Array[(Double, Double, Double)](order - 1)
    var level = ng.table(order)
    ds(order - 2) = modDiscountsOf(level, s"cnt$order")
    var k = order - 1
    while (k >= 2) {
      level = continuationTable(level, k).persistT()
      ds(k - 2) = modDiscountsOf(level, s"cnt$k")
      k -= 1
    }
    KneserNeyNModLm(ng, ds.toIndexedSeq)
  }

  /** Composable MODIFIED-KN order-n scoring — [[logProbPerDocKneserNeyN]]
    * with the count-bucketed discount: at each seen level-j context,
    * `p_j = (c − D_j(c) + a_j·p_{j−1}) / ctx_j` where `D_j(c)` selects
    * D1/D2/D3 by the gram's count bucket (absent gram → numerator 0)
    * and `a_j = D1·N1 + D2·N2 + D3·N3+` is the context's exact
    * discounted mass (so Σp = 1 at every level — the clamps guarantee
    * every numerator is non-negative without a max). One row per doc:
    * `mkn_logp`, `mkn_positions`. Same plan shape and the same
    * generated-oracle contract (the q117 CTE chain replays training
    * AND scoring); the native forms (`graft_knmod_logprob`,
    * `graft_knmod_logprob_packed`) are the zero-shuffle scale paths
    * against the SAME oracle. */
  def logProbPerDocKneserNeyNMod(
      docs: DataFrame,
      lm: KneserNeyNModLm,
      idCol: String,
      textCol: String): DataFrame = {
    val n = lm.order
    // same persist rationale as logProbPerDocKneserNeyN
    val cnts = new Array[DataFrame](n + 1)
    cnts(n) = lm.ngram.table(n)
    var k = n - 1
    while (k >= 2) { cnts(k) = continuationTable(cnts(k + 1), k).persistT(); k -= 1 }
    // per-context denominator + exact discounted mass under the level's
    // (D1, D2, D3) — one map-side-collapsed groupBy per level
    val fwds = (2 to n).map { j =>
      val (d1, d2, d3) = lm.discount(j)
      j -> cnts(j).groupBy((1 until j).map(x => col(s"w$x")): _*)
        .agg(sum(s"cnt$j").as(s"__ctx$j"),
          (lit(d1) * sum((col(s"cnt$j") === 1).cast("long")) +
            lit(d2) * sum((col(s"cnt$j") === 2).cast("long")) +
            lit(d3) * sum((col(s"cnt$j") >= 3).cast("long"))).as(s"__a$j"))
        .persistT()
    }.toMap
    val bwd1 = cnts(2).groupBy(col("w2")).agg(count(lit(1)).as("__nbwd1")).persistT()
    val bPrime = cnts(2).count()
    val denomCont = (bPrime + lm.ngram.unigram.vocab + 1).toDouble
    def p1cont(nbwd: Column): Column =
      (coalesce(nbwd, lit(0L)) + lit(1L)).cast("double") / lit(denomCont)

    val base = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)

    def scoreFrame(frame: DataFrame, m: Int): DataFrame = {
      var f = frame.join(
        bwd1.select(col("w2").as(s"__g$m"), col("__nbwd1")), Seq(s"__g$m"), "left")
      for (j <- 2 to m) {
        val hit = cnts(j).select(
          (1 to j).map(x => col(s"w$x").as(s"__g${m - j + x}")) :+
            col(s"cnt$j").as(s"__c$j"): _*)
        f = f.join(hit, (m - j + 1 to m).map(x => s"__g$x"), "left")
        val ctx = fwds(j).select(
          (1 until j).map(x => col(s"w$x").as(s"__g${m - j + x}")) :+
            col(s"__ctx$j") :+ col(s"__a$j"): _*)
        f = f.join(ctx, (m - j + 1 until m).map(x => s"__g$x"), "left")
      }
      var p: Column = p1cont(col("__nbwd1"))
      for (j <- 2 to m) {
        val (d1, d2, d3) = lm.discount(j)
        val c = col(s"__c$j")
        val num = when(c.isNull, lit(0.0)).otherwise(
          c.cast("double") - when(c === 1, lit(d1))
            .when(c === 2, lit(d2)).otherwise(lit(d3)))
        p = when(col(s"__ctx$j").isNotNull,
          (num + col(s"__a$j") * p) / col(s"__ctx$j").cast("double"))
          .otherwise(p)
      }
      f.select(col(idCol), log10(p).as("logp"))
    }

    val heads = (1 to n - 1).map { m =>
      scoreFrame(
        base.filter(size(col("tk")) >= m).select(
          col(idCol) +: (1 to m).map(j => element_at(col("tk"), j).as(s"__g$j")): _*),
        m)
    }
    val top = scoreFrame(
      base.select(col(idCol), explode(gramsOf(col("tk"), n)).as("g"))
        .select(col(idCol) +: (1 to n).map(j => col(s"g.w$j").as(s"__g$j")): _*),
      n)
    (heads :+ top).reduce(_.unionByName(_))
      .groupBy(idCol)
      .agg(avg("logp").as("mkn_logp"), count(lit(1)).as("mkn_positions"))
  }

  /** Composable trigram scoring with STUPID BACKOFF (Brants et al.
    * 2007; α = 0.4): one row per doc with `lm3_logp` (average log10
    * score over all positions) and `lm3_positions`. Per position:
    *  - 0: unigram Laplace (identical to [[logProbPerDocBigram]]'s);
    *  - 1: stored pair → `log10(cnt2/c1(w1))`,
    *       else `log10(0.4) + unigram Laplace(w2)`;
    *  - ≥2: stored triple → `log10(cnt3/cnt2(w1,w2))`,
    *        stored (w2,w3) pair → `log10(0.4) + log10(cnt2/c1(w2))`,
    *        else `2·log10(0.4) + unigram Laplace(w3)`.
    * Raw count ratios at the n-gram levels (no Laplace — backoff IS
    * the smoothing), a Laplace floor at the unigram so OOV tokens
    * score finitely. The backoff constant is ADDED (`log10(0.4) +
    * log10(ratio)`), the spelling all three forms and the oracle
    * share. A stored n-gram's context count is present by the shared
    * minCount (cnt(ctx) ≥ cnt(gram)), so the denominators never null.
    *
    * Word order now matters TWO tokens back: "the quick brown fox"
    * vs "brown the fox quick" separate harder than under the bigram
    * (LangModelSpec pins the separation ordering).
    *
    * Shape: in-row gram construction; broadcast joins against the
    * minCount-bounded unigram table; (w1,w2)-keyed joins AQE-picked;
    * one final per-doc aggregate. The native form
    * (`graft_lm3_logprob`, [[graft.functions.Lm3LogProb]]) is the
    * zero-shuffle scale path against the SAME oracle. */
  def logProbPerDocTrigram(
      docs: DataFrame,
      lm: TrigramLm,
      idCol: String,
      textCol: String): DataFrame = {
    val uni = lm.bigram.unigram
    val log04 = log10(lit(0.4))
    val base = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    // position 0: unigram Laplace
    val first = base
      .select(col(idCol), element_at(col("tk"), 1).as("token"))
      .join(broadcast(uni.table), Seq("token"), "left")
      .select(col(idCol), tokenLogProb(col("cnt"), uni).as("logp"))
    // position 1: bigram level, one backoff step
    val u1 = uni.table
      .withColumnRenamed("token", "w1").withColumnRenamed("cnt", "__c1")
    val u2 = uni.table
      .withColumnRenamed("token", "w2").withColumnRenamed("cnt", "__cw2")
    val second = base
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), element_at(col("tk"), 1).as("w1"),
        element_at(col("tk"), 2).as("w2"))
      .join(broadcast(lm.bigram.table), Seq("w1", "w2"), "left")
      .join(broadcast(u1), Seq("w1"), "left")
      .join(broadcast(u2), Seq("w2"), "left")
      .select(col(idCol),
        when(col("cnt2").isNotNull,
          log10(col("cnt2").cast("double") / col("__c1").cast("double")))
        .otherwise(log04 + tokenLogProb(col("__cw2"), uni))
        .as("logp"))
    // positions ≥2: trigram level, two backoff steps
    val b12 = lm.bigram.table.withColumnRenamed("cnt2", "__c12")
    val b23 = lm.bigram.table.select(col("w1").as("w2"),
      col("w2").as("w3"), col("cnt2").as("__c23"))
    val u2c = uni.table
      .withColumnRenamed("token", "w2").withColumnRenamed("cnt", "__c2")
    val u3 = uni.table
      .withColumnRenamed("token", "w3").withColumnRenamed("cnt", "__cw3")
    val rest = base
      .select(col(idCol), explode(triplesOf(col("tk"))).as("t"))
      .select(col(idCol), col("t.w1"), col("t.w2"), col("t.w3"))
      .join(lm.table, Seq("w1", "w2", "w3"), "left")
      .join(b12, Seq("w1", "w2"), "left")
      .join(b23, Seq("w2", "w3"), "left")
      .join(broadcast(u2c), Seq("w2"), "left")
      .join(broadcast(u3), Seq("w3"), "left")
      .select(col(idCol),
        when(col("cnt3").isNotNull,
          log10(col("cnt3").cast("double") / col("__c12").cast("double")))
        .when(col("__c23").isNotNull,
          log04 + log10(col("__c23").cast("double") / col("__c2").cast("double")))
        .otherwise(lit(2.0) * log04 + tokenLogProb(col("__cw3"), uni))
        .as("logp"))
    first.unionByName(second).unionByName(rest)
      .groupBy(idCol)
      .agg(avg("logp").as("lm3_logp"), count(lit(1)).as("lm3_positions"))
  }

  /** Composable bigram scoring: one row per scoring doc with
    * `lm2_logp` (average log10 conditional probability over ALL
    * positions — position 0 scores under the unigram model, position
    * i>0 under Laplace `log10((c(w1,w2)+1) / (c(w1)+V+1))`) and
    * `lm2_positions`. Token-less docs are absent, single-token docs
    * score their one position under the unigram.
    *
    * Shape: pair construction is in-row (no shuffle); the unigram/
    * context joins broadcast (minCount-bounded vocab); the bigram join
    * keys on (w1, w2) — minCount-bounded too, but larger, so AQE picks
    * broadcast vs shuffle at runtime; one final aggregate per doc. */
  def logProbPerDocBigram(
      docs: DataFrame,
      lm: BigramLm,
      idCol: String,
      textCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    val first = base
      .select(col(idCol), element_at(col("tk"), 1).as("token"))
      .join(broadcast(lm.unigram.table), Seq("token"), "left")
      .select(col(idCol), tokenLogProb(col("cnt"), lm.unigram).as("logp"))
    val ctx = lm.unigram.table
      .withColumnRenamed("token", "w1").withColumnRenamed("cnt", "__c1")
    val scored = base
      .select(col(idCol), explode(pairsOf(col("tk"))).as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(lm.table, Seq("w1", "w2"), "left")
      .select(col(idCol),
        log10((coalesce(col("cnt2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("__c1"), lit(0L)) + lit(lm.unigram.vocab) + lit(1L)).cast("double"))
          .as("logp"))
    first.unionByName(scored)
      .groupBy(idCol)
      .agg(avg("logp").as("lm2_logp"), count(lit(1)).as("lm2_positions"))
  }

  /** Per-token log10 probability column for a joined `cnt` column
    * (null = OOV): `log10((cnt + 1) / (N + V + 1))`. Exposed so the
    * gate query and any custom pipeline share one arithmetic shape. */
  def tokenLogProb(cnt: Column, lm: UnigramLm): Column =
    log10((coalesce(cnt, lit(0L)) + lit(1L)).cast("double") / lit(lm.denom))

  /** Composable scoring (REFERENCE form — see the scale note above):
    * one row per document with `lm_logp` (average log10 token
    * probability; null when the document has no tokens — explode drops
    * it and the caller's left join keeps the null) and `lm_tokens`.
    * Documents with no tokens are absent from the result. */
  def logProbPerDoc(
      docs: DataFrame,
      lm: UnigramLm,
      idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(Dedup.tokens(col(textCol))).as("token"))
    toks
      .join(broadcast(lm.table), Seq("token"), "left")
      .select(col(idCol), tokenLogProb(col("cnt"), lm).as("logp"))
      .groupBy(idCol)
      .agg(avg("logp").as("lm_logp"), count(lit(1)).as("lm_tokens"))
  }

  /** [[logProbPerDoc]] joined back onto the input: every document
    * keeps its columns and gains `lm_logp` / `lm_tokens` (null for
    * token-less documents). */
  def annotateLogProb(
      docs: DataFrame,
      lm: UnigramLm,
      idCol: String,
      textCol: String): DataFrame =
    docs.join(logProbPerDoc(docs, lm, idCol, textCol), Seq(idCol), "left")

  /** `perplexity = 10^(-avg log10 p)` — the conventional reading of
    * the score (lower = more reference-like). */
  def perplexity(avgLogP: Column): Column = pow(lit(10.0), -avgLogP)

  /** Persist the LM as ONE small text file (`token<TAB>count` lines,
    * header carries N and V): the artifact [[graft.functions.LmRegistry]]
    * loads once per executor JVM. The collect is bounded driver egress
    * — the vocab is `minCount`-bounded by construction (same contract
    * as the other documented driver-side sinks). Lines are sorted so
    * the file bytes are deterministic for identical training data;
    * the registry entry for `path` is invalidated after the write. */
  /** Persist a bigram LM as ONE text file (unigram section, a
    * `#pairs` marker — unambiguous, tokens cannot contain the tab that
    * would follow it in a data line — then `w1<TAB>w2<TAB>count`
    * lines). Both collects are minCount-bounded driver egress, sorted
    * for deterministic bytes; [[graft.functions.Lm2Registry]] loads it
    * once per executor JVM, and so does [[graft.functions.KnNRegistry]]
    * (interpolated KN at order 2) for a minCount=1 model. */
  def saveBigram(lm: BigramLm, path: String): Unit = {
    val spark = lm.unigram.table.sparkSession
    val uniRows = lm.unigram.table.orderBy("token").collect()
    val pairRows = lm.table.orderBy("w1", "w2").collect()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write(s"#graft-bigram-lm v1 total=${lm.unigram.totalTokens} " +
        s"vocab=${lm.unigram.vocab} pairs=${pairRows.length}\n")
      uniRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getLong(1).toString); out.write('\n')
      }
      out.write("#pairs\n")
      pairRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getString(1)); out.write('\t')
        out.write(r.getLong(2).toString); out.write('\n')
      }
    } finally out.close()
    graft.functions.Lm2Registry.invalidate(path)
    invalidateKn(path)
  }

  /** Persist a trigram LM as ONE text file (unigram section, `#pairs`,
    * `#triples` — tab-separated lines, sorted for deterministic
    * bytes). All three collects are minCount-bounded driver egress;
    * [[graft.functions.Lm3Registry]] loads the file once per executor
    * JVM and precomputes every ratio; [[graft.functions.KnNRegistry]]
    * scores a minCount=1 model's file with interpolated KN at order 3. */
  def saveTrigram(lm: TrigramLm, path: String): Unit = {
    val spark = lm.table.sparkSession
    val uniRows = lm.bigram.unigram.table.orderBy("token").collect()
    val pairRows = lm.bigram.table.orderBy("w1", "w2").collect()
    val triRows = lm.table.orderBy("w1", "w2", "w3").collect()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write(s"#graft-trigram-lm v1 total=${lm.bigram.unigram.totalTokens} " +
        s"vocab=${lm.bigram.unigram.vocab} pairs=${pairRows.length} " +
        s"triples=${triRows.length}\n")
      uniRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getLong(1).toString); out.write('\n')
      }
      out.write("#pairs\n")
      pairRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getString(1)); out.write('\t')
        out.write(r.getLong(2).toString); out.write('\n')
      }
      out.write("#triples\n")
      triRows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getString(1)); out.write('\t')
        out.write(r.getString(2)); out.write('\t')
        out.write(r.getLong(3).toString); out.write('\n')
      }
    } finally out.close()
    graft.functions.Lm3Registry.invalidate(path)
    invalidateKn(path)
  }

  def save(lm: UnigramLm, path: String): Unit = {
    val spark = lm.table.sparkSession
    val rows = lm.table.orderBy("token").collect()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write(s"#graft-unigram-lm v1 total=${lm.totalTokens} vocab=${lm.vocab}\n")
      rows.foreach { r =>
        out.write(r.getString(0)); out.write('\t')
        out.write(r.getLong(1).toString); out.write('\n')
      }
    } finally out.close()
    graft.functions.LmRegistry.invalidate(path)
  }
}
