package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition a 100 TB corpus
  * actually runs, ordered cheapest-filter-first so each stage shrinks
  * the data the next (more expensive) stage sees:
  *
  *  1. annotate  — scan-speed column expressions (quality, language,
  *                 token count); no shuffle;
  *  2. filter    — quality/language thresholds push down to the scan;
  *  3. exact dedup — one shuffle on the content hash;
  *  4. near dedup  — MinHash-LSH bucketed join on the (already much
  *                 smaller) survivor set; drops the higher id of each
  *                 candidate pair after exact-Jaccard verification.
  *
  * Near-dup resolution defaults to the one-pass approximation (drop
  * pair's higher id) — exact for the dominant case (clusters of mutual
  * near-dups), but a chain A~B~C where A≁C can keep both endpoints.
  * `transitiveNearDups = true` switches to connected components over
  * the verified pairs ([[Dedup.connectedComponents]]): one survivor
  * (the min id) per transitive cluster.
  */
object Curation {

  /** SimHash banding defaults are the SCALE-SAFE shape: maxHamming=3 /
    * bands=4 keys each banded join on 16-bit slices (2^16 values per
    * band). Wider radii need proportionally more bands (pigeonhole),
    * which shrinks band width — radius 7 would force 8-bit bands whose
    * 256 key values make the self-join quadratic in corpus size. Pairs
    * in the Hamming-(3,7] gap that are real near-dups are still
    * reachable by raising `nearDupMinJaccard` recall via MinHash, or by
    * running a second pass; do NOT widen the radius at scale. */
  final case class Config(
      minQuality: Double = 0.3,
      /** Apply the FULL Gopher rule set (Rae et al. 2021 §A1.1 — word
        * count/length bounds, symbol and bullet/ellipsis line ratios,
        * alpha-word fraction, required stopwords) at the published
        * thresholds, via [[TextAnalysis.gopherKeep]]. One more
        * scan-speed predicate; false = off. */
      gopherRules: Boolean = false,
      /** Apply the C4 cleaning filter (Raffel et al. 2020 §2.2) at the
        * published thresholds, via [[TextAnalysis.c4Apply]]: line-level
        * retention (terminal punctuation, ≥3 words, no "javascript")
        * REWRITES the text, then the page-level rules (≥5 sentences,
        * no '{', no "lorem ipsum", no bad word) drop pages. Runs
        * FIRST — before annotation — so every later signal (quality,
        * LM scores, signatures) sees the cleaned text, matching the
        * C4 pipeline order; false = off. */
      c4Rules: Boolean = false,
      /** Bad-word list for the C4 page rule — defaults to the shipped
        * [[TextAnalysis.C4BadWordsDefault]]; load the published
        * LDNOOBW list via [[TextAnalysis.loadWordList]] (the Curator's
        * `badword-list-path` knob). Only consulted when [[c4Rules]]
        * is on. */
      c4BadWords: Seq[String] = TextAnalysis.C4BadWordsDefault,
      /** Drop documents whose duplicate word-n-gram fraction exceeds
        * this (Gopher-style repetition filter; boilerplate and keyword
        * stuffing score high). 1.0 = off. Scan-speed native expression
        * — see [[TextAnalysis.repetitionScoreFast]]. */
      maxRepetition: Double = 1.0,
      repetitionNgram: Int = 3,
      /** Drop documents whose zlib compressibility (deflated size /
        * raw size, `graft_deflate_ratio`) falls BELOW this — the
        * repetitiveness signal published quality suites carry:
        * template farms and keyword stuffing compress far better than
        * prose (~0.4–0.7 for natural text; heavy repetition < ~0.2).
        * 0.0 = off. One-sided by design: high ratios (short or
        * high-entropy text) are never penalized here — that is the
        * quality score's job. Scan-speed native expression. */
      minDeflateRatio: Double = 0.0,
      langs: Set[String] = Set.empty, // empty = keep all
      nearDupStrategy: String = "simhash", // or "minhash"
      nearDupMaxJaccardDistance: Double = 0.2,
      nearDupMinJaccard: Double = 0.8,
      simHashMaxHamming: Int = 3,
      simHashBands: Int = 4,
      simHashMaxBucket: Int = 10000,
      shingleSize: Int = 3,
      transitiveNearDups: Boolean = false,
      /** Which member of a transitive near-dup cluster survives:
        * `min-id` (stable, arbitrary) or `best-quality` (highest
        * quality score, id as tie-break) — the copy worth training on
        * is rarely the lowest-numbered one. Transitive mode only: pair
        * mode has no well-defined cluster to choose within. */
      keepPolicy: String = "min-id",
      /** Saved unigram LM file ([[LangModel.save]]): when set, every
        * document gains an `lm_logp` column (average log10 token
        * probability under the LM — the CCNet-style reference-corpus
        * quality signal) via the zero-shuffle native expression, and
        * documents below [[minLmLogP]] are dropped. Token-less
        * documents score null and are dropped whenever the filter is
        * on (unscorable text is not trainable text). */
      lmPath: Option[String] = None,
      /** Keep documents with `lm_logp >= minLmLogP` (log10 scale:
        * -3.5 ≈ perplexity 3162). -Infinity = annotate only. */
      minLmLogP: Double = Double.NegativeInfinity,
      /** Saved BIGRAM LM file ([[LangModel.saveBigram]]): like
        * [[lmPath]] but order-2 — word order matters, so shuffled /
        * concatenated-fragment text that fools a unigram scores low.
        * Adds `lm2_logp`; both LM filters may run together. */
      lm2Path: Option[String] = None,
      /** Keep documents with `lm2_logp >= minLm2LogP`. -Infinity =
        * annotate only. */
      minLm2LogP: Double = Double.NegativeInfinity,
      /** Saved ORDER-N stupid-backoff LM file
        * ([[LangModel.saveNgram]]; the order is self-described by the
        * file header): the CCNet-direction upgrade — a 4/5-gram sees
        * word order several tokens back, and the fingerprinted/
        * quantized registry keeps the table ~24 B per kept gram, with
        * a size log on every load. Adds `lmn_logp`; stackable with the
        * other LM filters. */
      lmnPath: Option[String] = None,
      /** Keep documents with `lmn_logp >= minLmnLogP`. -Infinity =
        * annotate only. */
      minLmnLogP: Double = Double.NegativeInfinity,
      /** Saved TRIGRAM LM file ([[LangModel.saveTrigram]] of an
        * UNPRUNED `trainTrigram(..., minCount = 1)`, or the
        * [[LangModel.saveNgram]] file of a `trainKneserNeyN(..., 3)`),
        * scored with interpolated Kneser–Ney smoothing — the
        * perplexity-optimal counterpart to the stupid-backoff filters:
        * a PROPER distribution whose scores are comparable across
        * corpora, which is what CCNet-style head/middle/tail bucketing
        * by perplexity assumes (KenLM is a modified-KN model). Adds
        * `kn3_logp`; stackable with the other LM filters. */
      kn3Path: Option[String] = None,
      /** Keep documents with `kn3_logp >= minKn3LogP`. -Infinity =
        * annotate only. */
      minKn3LogP: Double = Double.NegativeInfinity,
      /** Saved ORDER-N LM file ([[LangModel.saveNgram]] of an
        * UNPRUNED minCount=1 n-gram model), scored with Kneser–Ney
        * smoothing at the artifact's own order — interpolated by
        * default, MODIFIED (KenLM's default; what CCNet's 5-gram
        * filter runs) with [[knnModified]]: the registries re-derive
        * the whole continuation chain and every discount from the
        * stored top-order counts. Adds `knn_logp`; stackable with the
        * other LM filters. */
      knnPath: Option[String] = None,
      /** Keep documents with `knn_logp >= minKnnLogP`. -Infinity =
        * annotate only. */
      minKnnLogP: Double = Double.NegativeInfinity,
      /** Score `knnPath` through the PACKED registry
        * ([[graft.functions.KnNPackedRegistry]] — flat fingerprint →
        * float32 tables, the KenLM memory layout): the order-5-scale
        * executor footprint, at a documented float32 quantization
        * (scores agree with the exact registry to ~1e-5) and 64-bit
        * fingerprint collision budget. */
      knnPacked: Boolean = false,
      /** Score `knnPath` with MODIFIED Kneser–Ney (three discounts per
        * level — KenLM's default smoothing) instead of interpolated
        * KN. Same artifact; the smoothing is load-time derivation.
        * Composes with [[knnPacked]]. */
      knnModified: Boolean = false,
      /** Saved learned quality classifier
        * ([[QualityClassifier#save]] artifact — fastText-style
        * reference-vs-random logistic model): when set, every document
        * gains a `clf_score` column (P(reference-like), sigmoid over
        * the fixed feature surface — a zero-shuffle codegen'd
        * projection) and documents below [[minClassifierScore]] are
        * dropped. The LEARNED complement to the fixed-formula
        * heuristics above. */
      classifierPath: Option[String] = None,
      /** Keep documents with `clf_score >= minClassifierScore` (a
        * probability in [0,1]). -Infinity = annotate only. */
      minClassifierScore: Double = Double.NegativeInfinity,
      /** Saved bag-of-words classifier
        * ([[QualityClassifier.saveBow]] MLlib pipeline directory —
        * HashingTF(+IDF)→LR, the production-fidelity fastText recipe):
        * when set, every document gains a `bow_score` column
        * (P(reference-like) from word identity, not just shape) and
        * documents below [[minBowScore]] are dropped. May run together
        * with [[classifierPath]] — shape and vocabulary are
        * complementary evidence. */
      bowClassifierPath: Option[String] = None,
      /** Keep documents with `bow_score >= minBowScore` (a probability
        * in [0,1]). -Infinity = annotate only. */
      minBowScore: Double = Double.NegativeInfinity)

  /** Stage 1: annotate every document with curation signals — pure
    * projection at scan speed, via the one-pass stats expression
    * (codegen CSE collapses the three uses into one byte scan;
    * ~2.7× the composable forms on the 5M-doc probe). */
  def annotate(docs: DataFrame, textCol: String,
      repetitionNgram: Option[Int] = None): DataFrame = {
    val st = TextAnalysis.stats(col(textCol))
    val base = docs
      .withColumn("quality", TextAnalysis.qualityScoreFast(st))
      .withColumn("lang_id", TextAnalysis.langIdFast(st))
      .withColumn("n_tokens", st.getField("n_tokens"))
    // the repetition column is a SECOND tokenizing pass (native, but
    // still O(len) + a hash table per doc) — computed only when the
    // repetition filter is actually on, preserving the one-byte-scan
    // annotate contract for default configs
    repetitionNgram.fold(base)(n => base.withColumn("repetition",
      TextAnalysis.repetitionScoreFast(col(textCol), n)))
  }

  /** Stages 1-4. EAGER: materializes (and returns) a persisted survivor
    * frame — the caller owns the handle and should `unpersist()` it when
    * done; the intermediate dedup cache is released before returning.
    * `observe` wraps the survivors before they are cached — pass a
    * `Dataset.observe` to count them in the materializing pass. */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      conf: Config = Config(),
      observe: DataFrame => DataFrame = identity): DataFrame = {
    require(Set("simhash", "minhash").contains(conf.nearDupStrategy),
      s"unknown nearDupStrategy: ${conf.nearDupStrategy}") // before any work/persist
    require(Set("min-id", "best-quality").contains(conf.keepPolicy),
      s"unknown keepPolicy: ${conf.keepPolicy}")
    require(conf.keepPolicy == "min-id" || conf.transitiveNearDups,
      "keepPolicy = best-quality requires transitiveNearDups = true " +
        "(pair mode has no cluster to choose within)")
    // 0: C4 line cleaning — rewrites the text, so it must run before
    // annotation (quality/lang/LM signals describe what survives, and
    // dedup state hashes cleaned text, matching future cleaned batches)
    val docs0 =
      if (conf.c4Rules) TextAnalysis.c4Apply(docs, textCol,
        TextAnalysis.C4Thresholds(badWords = conf.c4BadWords))
      else docs
    // 1-2: annotate + cheap filters (pushed toward the scan)
    var df = annotate(docs0, textCol,
      if (conf.maxRepetition < 1.0) Some(conf.repetitionNgram) else None)
      .filter(col("quality") >= conf.minQuality)
    if (conf.maxRepetition < 1.0)
      df = df.filter(col("repetition") <= conf.maxRepetition)
    if (conf.minDeflateRatio > 0.0)
      df = df.filter(
        graft.functions.GraftFunctions.deflateRatio(col(textCol)) >= conf.minDeflateRatio)
    if (conf.langs.nonEmpty)
      df = df.filter(col("lang_id").isin(conf.langs.toSeq: _*))
    // Gopher rule set — re-tokenizes (same cost class as the LM
    // filters below), but it is a pure scan predicate, so it runs with
    // the cheap filters before any state/hashing sees the text
    if (conf.gopherRules)
      df = df.filter(TextAnalysis.gopherKeep(col(textCol)))
    // LM perplexity filter — still scan-speed (the LM file loads once
    // per executor JVM; scoring is a codegen'd projection), but it
    // re-tokenizes, so it runs AFTER the one-byte-scan filters above
    // have shrunk the data
    conf.lmPath.foreach { p =>
      df = df.withColumn("lm_logp",
        graft.functions.GraftFunctions.lmLogProb(col(textCol), p))
      if (!conf.minLmLogP.isNegInfinity)
        df = df.filter(col("lm_logp") >= conf.minLmLogP)
    }
    conf.lm2Path.foreach { p =>
      df = df.withColumn("lm2_logp",
        graft.functions.GraftFunctions.lm2LogProb(col(textCol), p))
      if (!conf.minLm2LogP.isNegInfinity)
        df = df.filter(col("lm2_logp") >= conf.minLm2LogP)
    }
    conf.lmnPath.foreach { p =>
      df = df.withColumn("lmn_logp",
        graft.functions.GraftFunctions.lmNLogProb(col(textCol), p))
      if (!conf.minLmnLogP.isNegInfinity)
        df = df.filter(col("lmn_logp") >= conf.minLmnLogP)
    }
    conf.kn3Path.foreach { p =>
      df = df.withColumn("kn3_logp",
        graft.functions.GraftFunctions.kn3LogProb(col(textCol), p))
      if (!conf.minKn3LogP.isNegInfinity)
        df = df.filter(col("kn3_logp") >= conf.minKn3LogP)
    }
    conf.knnPath.foreach { p =>
      import graft.functions.GraftFunctions._
      val score = (conf.knnModified, conf.knnPacked) match {
        case (true, true) => knModLogProbPacked(col(textCol), p)
        case (true, false) => knModLogProb(col(textCol), p)
        case (false, true) => knNLogProbPacked(col(textCol), p)
        case (false, false) => knNLogProb(col(textCol), p)
      }
      df = df.withColumn("knn_logp", score)
      if (!conf.minKnnLogP.isNegInfinity)
        df = df.filter(col("knn_logp") >= conf.minKnnLogP)
    }
    // learned quality classifier — 6 scalars load once on the driver
    // and become plan literals; scoring is another scan-speed
    // projection (one stats struct + one repetition pass per doc)
    conf.classifierPath.foreach { p =>
      val clf = QualityClassifier.load(df.sparkSession, p)
      df = df.withColumn("clf_score", clf.score(col(textCol)))
      if (!conf.minClassifierScore.isNegInfinity)
        df = df.filter(col("clf_score") >= conf.minClassifierScore)
    }
    // bag-of-words classifier — the MLlib pipeline transform is a chain
    // of narrow per-row stages (tokenize/hash/IDF/LR with broadcast
    // coefficients), so this too adds zero shuffle; it re-tokenizes,
    // same cost class as the LM filters beside it
    conf.bowClassifierPath.foreach { p =>
      val model = QualityClassifier.loadBow(p)
      // a Platt sidecar in the artifact (QualityClassifier.calibrateBow
      // + saveBow) makes `bow_score` a CALIBRATED probability, so
      // minBowScore floors keep their meaning across retrains; without
      // one the raw sigmoid emits unchanged
      df = QualityClassifier.scoreBow(df, textCol, model,
        calibration = QualityClassifier.loadBowCalibration(p))
      if (!conf.minBowScore.isNegInfinity)
        df = df.filter(col("bow_score") >= conf.minBowScore)
    }

    // 3: exact dedup — one shuffle on sha2(text). Persisted: the
    // survivor set feeds both sides of the near-dup join, the verify
    // joins, and the final anti-join — without a persist the full
    // annotate+filter+window upstream recomputes for each (R19, the
    // cache-before-fan-out rule). At 100 TB a real pipeline writes this
    // stage out; in-memory/disk persist is the in-process equivalent.
    // The shingle set is materialized WITH the survivors so the verify
    // stage joins stored arrays — tokenizing once per doc here instead
    // of once per candidate pair there.
    val exact = Dedup.dropExactDuplicates(df, textCol, idCol)
      .withColumn("__shingles", Dedup.shingles(col(textCol), conf.shingleSize))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 4: near dedup on the survivors — LSH candidates, exact-Jaccard
    // verified, drop the higher id of each pair. Default is the SimHash
    // banded join: MinHash's hash buckets blow up on repetitive corpora
    // (boilerplate/templated text puts a large fraction of docs in one
    // bucket → quadratic candidates), while SimHash bands key on
    // 64/bands-bit slices whose collision rate for genuinely different
    // docs is ~2^-(64/bands) regardless of vocabulary overlap.
    val pairs = conf.nearDupStrategy match {
      case "simhash" =>
        // shingle-mode simhash (gramSize = shingleSize): order-aware
        // fingerprints stay spread out even when every document shares
        // the same vocabulary distribution
        Dedup.simHashNearDups(exact, idCol, textCol,
          maxHamming = conf.simHashMaxHamming, bands = conf.simHashBands,
          gramSize = conf.shingleSize, maxBucketSize = conf.simHashMaxBucket)
      case "minhash" =>
        Dedup.minHashNearDups(exact, idCol, textCol,
          maxJaccardDistance = conf.nearDupMaxJaccardDistance,
          shingleSize = conf.shingleSize)
      case other => throw new IllegalArgumentException(s"unknown nearDupStrategy: $other")
    }
    try {
      val verified = Dedup.verifyPairs(pairs, exact, idCol, textCol,
        minJaccard = conf.nearDupMinJaccard, n = conf.shingleSize,
        shingleCol = Some("__shingles"))
      val dropIds =
        if (conf.transitiveNearDups) {
          val members = Dedup.connectedComponents(verified.select("id1", "id2"))
          conf.keepPolicy match {
            case "min-id" =>
              // every non-minimum id of each connected component goes —
              // the chain A~B~C keeps only min(A,B,C)
              members.filter(col("id") =!= col("label")).select(col("id").as(idCol))
            case "best-quality" =>
              // keep the highest-quality member per cluster (id asc
              // tie-break). The ranking window runs on the PAIR-GRAPH
              // members only — orders of magnitude smaller than the
              // corpus — partitioned by cluster label.
              import org.apache.spark.sql.expressions.Window
              val w = Window.partitionBy("label")
                .orderBy(col("quality").desc, col("id").asc)
              members
                .join(exact.select(col(idCol).as("id"), col("quality")), Seq("id"))
                .withColumn("__rn", row_number().over(w))
                .filter(col("__rn") =!= 1)
                .select(col("id").as(idCol))
          }
        } else verified.select(col("id2").as(idCol)).distinct()
      val result = observe(exact.join(dropIds, Seq(idCol), "left_anti")
        .drop("__shingles"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize the result, then release the intermediate — the
      // caller owns (and should unpersist) the returned frame
      result.count()
      result
    } finally { exact.unpersist(); () }
  }

  // -------------------------------------------- per-group quantile filter

  /** Per-group score thresholds for [[keepTopQuantile]]: one row per
    * group with the (1 − keepFraction) percentile of `scoreCol` — the
    * cut below which rows are dropped. `approx_percentile` is a
    * mergeable sketch (map-side partial aggregation), so the aggregate
    * never buffers a group's values on one reducer; the output is one
    * row per group regardless of corpus size. */
  def topQuantileThresholds(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      keepFraction: Double,
      accuracy: Int = 10000): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0,1], got $keepFraction")
    df.groupBy(groupCol).agg(
      percentile_approx(col(scoreCol), lit(1.0 - keepFraction), lit(accuracy))
        .as("score_threshold"))
  }

  /** Keep (approximately) the top `keepFraction` of rows by `scoreCol`
    * WITHIN each `groupCol` group — the "top X% quality per language"
    * curation step, which a global threshold gets wrong because score
    * distributions differ per language.
    *
    * 100 TB shape: per-group thresholds are a tiny mergeable aggregate
    * (one row per group) broadcast back into a scan-speed filter —
    * never a per-group window, whose partitionBy(lang) would put the
    * dominant language's entire corpus in ONE task. The kept set is
    * always a top-prefix of each group's score order; the kept
    * FRACTION is approximate at the threshold boundary (sketch rank
    * error ~1/accuracy, plus ties at the cut are all kept).
    *
    * [[keepTopQuantileExact]] is the exact-fraction form (percent_rank
    * window) — the q69 oracle replays it verbatim in SQL; use it only
    * when every group is small enough to sort in one task. */
  def keepTopQuantile(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      keepFraction: Double,
      accuracy: Int = 10000): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0,1], got $keepFraction")
    if (keepFraction >= 1.0) df
    else {
      // fresh names: the input may already carry a score_threshold (e.g.
      // a frame that went through topQuantileThresholds), and the join
      // key must not collide either
      val thrName = Iterator.from(0).map(i => s"__thr$i")
        .find(!df.columns.contains(_)).get
      val grpName = Iterator.from(0).map(i => s"__grp$i")
        .find(n => !df.columns.contains(n) && n != thrName).get
      val thr = topQuantileThresholds(df, groupCol, scoreCol, keepFraction, accuracy)
        .select(col(groupCol).as(grpName), col("score_threshold").as(thrName))
      // null-safe equality: a NULL group (unidentified language) is a
      // real group — groupBy emits its threshold row, and `<=>` joins
      // it back where plain `=` would silently drop every NULL-group row
      df.join(broadcast(thr), df(groupCol) <=> thr(grpName))
        .filter(col(scoreCol) >= col(thrName))
        .drop(grpName, thrName)
    }
  }

  /** Exact-fraction top-quantile filter: keep rows whose
    * `percent_rank()` over (group, score DESC) is ≤ keepFraction —
    * rank ties at the boundary are all kept (percent_rank assigns
    * equal values equal rank, so membership never depends on a
    * nondeterministic sort order). SQL-replayable (q69). Scale caveat:
    * the window partitions by group — one task must sort the largest
    * group; prefer [[keepTopQuantile]] for corpus-scale data. */
  def keepTopQuantileExact(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      keepFraction: Double): DataFrame = {
    // same domain as keepTopQuantile — the two forms are the same
    // operation at different scales and must agree on what they accept
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0,1], got $keepFraction")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol).desc)
    val prName = Iterator.from(0).map(i => s"__pr$i")
      .find(!df.columns.contains(_)).get
    df.withColumn(prName, percent_rank().over(w))
      .filter(col(prName) <= keepFraction)
      .drop(prName)
  }

  /** Curation report: per-stage survivor counts for observability —
    * actions, so call on samples or cache the input. */
  def report(docs: DataFrame, idCol: String, textCol: String,
      conf: Config = Config()): Map[String, Long] = {
    val annotated = annotate(docs, textCol).cache()
    try {
      val total = annotated.count()
      val afterQuality = annotated.filter(col("quality") >= conf.minQuality).count()
      val curatedDf = curate(docs, idCol, textCol, conf)
      try Map("input" -> total, "after_quality" -> afterQuality, "curated" -> curatedDf.count())
      finally { curatedDf.unpersist(); () } // we own this handle here
    } finally { annotated.unpersist(); () }
  }
}
