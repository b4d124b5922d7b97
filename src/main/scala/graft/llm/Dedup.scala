package graft.llm

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, MinHashLSHModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for LLM-training-data pipelines (north-star
  * extension, SURVEY.md §7.6 — no reference counterpart).
  *
  * Four tiers, cheapest first; all are bucketed/bounded — nothing here
  * ever builds an all-pairs cross join:
  *  1. exact       — sha2(content) group-by: ONE shuffle on a 64-hex key,
  *                   works at any scale, catches byte-identical docs;
  *  2. MinHash-LSH — shingle → minhash signature → banded bucket join
  *                   (MLlib `MinHashLSH.approxSimilarityJoin`), catches
  *                   Jaccard-near duplicates; candidate pairs are only
  *                   generated inside buckets;
  *  3. SimHash     — 64-bit locality-sensitive fingerprint; near-dups =
  *                   pairs within a Hamming radius, found by joining on
  *                   16-bit bands (pigeonhole: radius ≤3 ⇒ some band of 4
  *                   matches exactly), then verifying the full distance;
  *  4. n-gram Jaccard — the exact verifier for candidate pairs from
  *                   either LSH tier.
  *
  * 100 TB notes: exact dedup shuffles once on the hash; MinHash bucket
  * width is controlled by `numHashTables`; SimHash bands bound each
  * join's key cardinality at 2^16 per band. The classic skew trap —
  * boilerplate docs exploding one bucket — is mitigated by raising
  * bands/tables or pre-filtering exact dups first (tier 1 before 2/3).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Content hash for exact dedup: sha2-256 over the column (hex). */
  def contentHash(c: Column): Column = sha2(c.cast("string"), 256)

  /** Exact duplicate groups: one row per distinct content with the
    * representative (min id) and the multiplicity. Single shuffle. */
  def exactDuplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Drop exact duplicates, keeping the lowest-id row per content.
    * Window over the hash — same single shuffle as the group-by form. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ------------------------------------------------------------- shingles

  /** Word tokens (lowercased, whitespace-split, empties dropped). */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles as strings, e.g. n=3 → "a b c". Built with
    * higher-order functions only — stays inside Catalyst. The tokens are
    * bound once through a one-element `transform`: a lambda body does
    * not share subexpressions with its enclosing expression, so using
    * `tokens(c)` inside the per-shingle lambda would re-split the whole
    * text for every shingle (O(tokens²) per document). */
  def shingles(c: Column, n: Int): Column =
    element_at(transform(array(tokens(c)), toks =>
      array_distinct(
        filter(
          transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
          s => length(s) > 0))), 1)

  // ---------------------------------------------------------- MinHash-LSH

  /** Fit a MinHash-LSH model over shingle sets. `numFeatures` is the
    * shingle hash space (collisions only make dedup slightly more
    * aggressive); `numHashTables` trades recall for bucket-join width. */
  def fitMinHash(
      df: DataFrame,
      textCol: String,
      shingleSize: Int = 3,
      numFeatures: Int = 1 << 18,
      numHashTables: Int = 5): (DataFrame, MinHashLSHModel) = {
    val withShingles = df.withColumn("__shingles", shingles(col(textCol), shingleSize))
      .filter(size(col("__shingles")) > 0) // MinHash requires ≥1 nonzero
    val tf = new HashingTF()
      .setInputCol("__shingles").setOutputCol("__features")
      .setNumFeatures(numFeatures).setBinary(true)
    val featured = tf.transform(withShingles)
    val lsh = new MinHashLSH()
      .setInputCol("__features").setOutputCol("__hashes")
      .setNumHashTables(numHashTables)
      .setSeed(4233L)
    val model = lsh.fit(featured)
    (model.transform(featured), model)
  }

  /** Near-duplicate pairs by MinHash-LSH bucketed join: pairs with
    * Jaccard distance ≤ `maxJaccardDistance`, each pair once (id1<id2).
    * Never an all-pairs join: candidates come from hash-bucket matches. */
  def minHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxJaccardDistance: Double = 0.3,
      shingleSize: Int = 3,
      numHashTables: Int = 5): DataFrame = {
    val (featured, model) = fitMinHash(df, textCol, shingleSize, numHashTables = numHashTables)
    model.approxSimilarityJoin(featured, featured, maxJaccardDistance, "jaccard_distance")
      .select(
        col(s"datasetA.$idCol").as("id1"),
        col(s"datasetB.$idCol").as("id2"),
        col("jaccard_distance"))
      .filter(col("id1") < col("id2"))
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over lowercased word tokens: bit i of the
    * fingerprint is the sign of Σ_tokens (±1 per token's xxhash64 bit i).
    * Delegates to the native one-pass codegen'd expression
    * (`graft.functions.SimHash64`, ~20× the HOF formulation below —
    * FnBench); both produce identical bits (GraftFunctionsSpec). */
  def simHash(c: Column, gramSize: Int = 1): Column =
    graft.functions.GraftFunctions.simhash64(c, gramSize)

  /** The HOF reference formulation the native expression is verified
    * against. */
  private[graft] def simHashHof(c: Column): Column = {
    val toks = tokens(c)
    // per-bit vote counts: fold tokens into a 64-long array of sums
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", xxhash64(t), i)
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))),
        (a, b) => a + b))
    // assemble: sum of 2^i over positive-vote bits
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming` (< bands), via banded
    * self-join: fingerprints are split into `bands` equal bit-slices;
    * by pigeonhole any pair within the radius agrees exactly on ≥1 band,
    * so the join keys on (band index, band bits) — key space 2^(64/bands)
    * per band, never all-pairs. Full Hamming verified after the join. */
  /** `gramSize` > 1 fingerprints token order (shingle simhash) — use it
    * on corpora whose documents share vocabulary distribution
    * (templates/boilerplate), where 1-gram signatures concentrate and
    * the banded join degenerates toward all-pairs. */
  /** `maxBucketSize` caps the banded join's skew: a (band, bits) bucket
    * of b rows generates b² candidate pairs, so one boilerplate-heavy
    * bucket can turn the join quadratic. Buckets larger than the cap are
    * dropped from the join (pairs in them are still found through any
    * OTHER shared band that is not oversized — by pigeonhole a pair
    * within the radius shares ≥ bands−maxHamming bands). The loss mode
    * is documented, bounded, and detectable: byte-identical docs share
    * ALL bands and should be removed by exact dedup (tier 1) before this
    * tier runs. `maxBucketSize <= 0` disables the guard. */
  def simHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      gramSize: Int = 1,
      maxBucketSize: Int = 10000): DataFrame =
    sigNearDups(simHashSignatures(df, idCol, textCol, gramSize),
      maxHamming, bands, maxBucketSize)

  /** The banded near-dup self-join over ANY 64-bit signature frame
    * `(id, sig)` — the shared engine under SimHash text near-dup (this
    * file), SRP vector near-dup ([[Similarity]]), and perceptual-hash
    * image near-dup ([[Multimodal.imageNearDups]]): any 64-bit
    * fingerprint family with Hamming-distance semantics bands the same
    * way, so the pigeonhole argument, the hot-bucket guard, and the
    * never-all-pairs shape are written once.
    *
    * `probe` = MULTI-PROBE depth (0 or 1). At probe 0 a pair must share
    * one band's bits EXACTLY, so completeness needs maxHamming < bands —
    * and a wide radius forces many narrow bands (radius 7 → 8 bands →
    * 8-bit bucket keys, only 256 possible buckets per band: beyond
    * ~cap×256 rows EVERY bucket trips the hot-bucket guard and recall
    * silently collapses — the round-13 verdict's scale-killer). At
    * probe 1 each row ALSO joins through the Hamming-≤1 neighborhood of
    * each band key (width+1 probe keys per band), so by pigeonhole
    * (some band carries ≤ ⌊maxHamming/bands⌋ of the pair's differing
    * bits) completeness only needs maxHamming < 2×bands: radius 7 runs
    * on 4 bands of 16 bits — 65,536-valued bucket keys the guard can
    * actually discriminate — at a ×(width+1) candidate multiplier.
    * Probing is matching-time only: signatures, bucket counts, and hot
    * keys are computed on the UNPROBED banding, so persisted state
    * lineages (sigs + mergeable hotcounts at `bands`) are probe-depth
    * agnostic. Guard semantics under probe: exact rows in hot buckets
    * drop, probe rows FROM a hot home bucket drop (else one mega-bucket
    * re-enters through its neighbors' keys), and probe rows INTO a hot
    * key drop (their exact side is empty — pure shuffle pruning); a
    * pair within the radius is still found through any witnessing band
    * where NEITHER member's home bucket is hot — the same loss mode,
    * bound (≤ (width+1)·cap² candidates per key), and detectability as
    * probe 0. */
  def sigNearDups(
      sigs: DataFrame, // (id, sig: long)
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      probe: Int = 0): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    requireProbeComplete(maxHamming, bands, probe)
    val banded = bandSignatures(sigs, bands)
    val (probed, exact) = selfJoinSides(banded, bands, maxBucketSize, probe)
    val r = exact
      .select(col("band"), col("bits"), col("id").as("id2"), col("sig").as("sig2"))
    val l = probed
      .select(col("band"), col("bits"), col("id").as("id1"), col("sig").as("sig1"))
    l.join(r, Seq("band", "bits"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming(col("sig1"), col("sig2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The pigeonhole completeness contract shared by every probed banded
    * join: a pair differing in ≤ maxHamming bits has some band carrying
    * ≤ ⌊maxHamming/bands⌋ of them, so probe depth ⌊maxHamming/bands⌋
    * suffices — equivalently maxHamming < bands×(probe+1). Only depths
    * 0 and 1 are implemented (depth ≥ 2 multiplies candidates by
    * ~width²/2 — widen the fingerprint instead). */
  private[llm] def requireProbeComplete(maxHamming: Int, bands: Int, probe: Int): Unit = {
    require(probe == 0 || probe == 1,
      s"probe depth must be 0 or 1, got $probe (a radius needing depth " +
        ">= 2 wants a wider fingerprint, not a deeper probe)")
    require(maxHamming < bands * (probe + 1),
      s"pigeonhole needs maxHamming < bands*(probe+1) " +
        s"($maxHamming >= ${bands * (probe + 1)} misses pairs) — raise bands " +
        "or probe depth (probe=1 doubles the covered radius per band count)")
  }

  /** One side of a probed banded join: at probe 0 the hot-dropped exact
    * banding; at probe 1 its Hamming-≤1 probe EXPANSION — the multi-
    * probe keys explode from the already-hot-dropped frame, so "probe
    * rows from hot home buckets drop" falls out of the one hot
    * aggregate `dropHotBuckets` already pays (a plan-audit finding:
    * the first formulation spent three identical hot aggregates +
    * anti-joins per query that exchange reuse did not collapse).
    * `targetHot`: a PERSISTED hot-key table of the join's OTHER side —
    * when available for free (the incremental forms' corpusHotBuckets)
    * probe rows into those keys are pruned before the shuffle (their
    * exact side is empty); recomputing one just for the prune would
    * cost more than the doomed rows' shuffle, so absent = no prune
    * (post-join results are identical either way — a hot target key
    * has no exact rows to meet). */
  /** The two sides of a probed banded SELF-join, sharing ONE hot-key
    * aggregate: `(probedSide, exactSide)` over the same banded frame,
    * both hot-dropped against the same `hotBucketKeys` subtree passed
    * as `precomputedHot` — so the single hot aggregate is structural,
    * not dependent on physical-plan exchange reuse collapsing two
    * identical aggregates (advice finding: the implicit sharing held
    * in practice but was never guaranteed). */
  private[graft] def selfJoinSides(banded: DataFrame, bands: Int,
      maxBucketSize: Int, probe: Int,
      sigBits: Int = 64): (DataFrame, DataFrame) = {
    val hot =
      if (maxBucketSize <= 0) None
      else Some(hotBucketKeys(banded, maxBucketSize))
    (probedSide(banded, bands, maxBucketSize, probe, precomputedHot = hot,
        sigBits = sigBits),
      dropHotBuckets(banded, maxBucketSize, hot))
  }

  private[graft] def probedSide(banded: DataFrame, bands: Int,
      maxBucketSize: Int, probe: Int,
      precomputedHot: Option[DataFrame] = None,
      targetHot: Option[DataFrame] = None,
      sigBits: Int = 64): DataFrame = {
    val exact = dropHotBuckets(banded, maxBucketSize, precomputedHot)
    if (probe == 0) exact
    else {
      val width = sigBits / bands
      val expanded = exact.select(col("id"), col("sig"), col("band"),
        explode(array(col("bits") +: (0 until width).map(j =>
          col("bits").bitwiseXOR(lit(1L << j))): _*)).as("bits"))
      targetHot match {
        case Some(h) =>
          expanded.join(broadcast(h), Seq("band", "bits"), "left_anti")
        case None => expanded
      }
    }
  }

  /** SimHash signatures `(id, sig)` — the per-run STATE an incremental
    * pipeline persists (at scale, written partitioned by a band key so
    * the next increment's banded join prunes at the storage level). */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String,
      gramSize: Int = 1): DataFrame =
    df.select(col(idCol).as("id"), simHash(col(textCol), gramSize).as("sig"))

  /** Explode `(id, sig)` into one row per (band, bits) key. Shared with
    * the vector-SRP near-dup path (Similarity) — any 64-bit signature
    * bands the same way. */
  private[graft] def bandSignatures(sigs: DataFrame, bands: Int): DataFrame = {
    val width = 64 / bands
    val mask = (BigInt(1) << width) - 1
    sigs.select(col("id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask.toLong)).as("bits"))
      }: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bits"))
  }

  /** Oversized (band, bits) bucket keys of a banded signature frame —
    * tiny by construction (≤ rows/maxBucketSize keys). For incremental
    * pipelines this IS part of the persisted corpus state: computing it
    * costs a full aggregate over the corpus bands, so store it next to
    * the signatures instead of recomputing per increment. */
  private[llm] def hotBucketKeys(banded: DataFrame, maxBucketSize: Int): DataFrame =
    banded.groupBy("band", "bits")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select("band", "bits")

  /** Drop oversized (band, bits) buckets. The hot-key set broadcasts —
    * the classic skew-key pattern. `maxBucketSize <= 0` disables the
    * guard (pass `precomputedHot` to skip the aggregate). */
  private[graft] def dropHotBuckets(banded: DataFrame, maxBucketSize: Int,
      precomputedHot: Option[DataFrame] = None): DataFrame =
    precomputedHot match {
      case Some(hot) => banded.join(broadcast(hot), Seq("band", "bits"), "left_anti")
      case None if maxBucketSize <= 0 => banded
      case None =>
        banded.join(broadcast(hotBucketKeys(banded, maxBucketSize)),
          Seq("band", "bits"), "left_anti")
    }

  /** The hot-bucket key set for a signature frame — persist alongside
    * `simHashSignatures` output so increments skip the corpus-wide
    * aggregate (see [[simHashNearDupsAgainst]]). */
  def simHashHotBuckets(sigs: DataFrame, bands: Int = 4,
      maxBucketSize: Int = 10000): DataFrame =
    hotFromCounts(bucketCounts(sigs, bands), maxBucketSize)

  /** Per-bucket occupancy counts `(band, bits, n)` of a signature
    * frame — the MERGEABLE form of the hot-bucket aggregate. An
    * incremental pipeline persists these instead of re-deriving hot
    * keys from the full signature corpus each commit: per-batch counts
    * are pre-aggregated (≤ bands × distinct batch buckets rows, no
    * per-row banding over prior corpus), and summing batch count
    * tables equals one count over the union because signature state is
    * append-only. Counts only merge within ONE (gramSize, bands)
    * lineage — the same contract the Curator pins in stateParams. */
  def bucketCounts(sigs: DataFrame, bands: Int): DataFrame =
    bandSignatures(sigs, bands).groupBy("band", "bits")
      .agg(count(lit(1)).as("n"))

  /** Sum per-batch [[bucketCounts]] tables into cumulative corpus
    * counts. Associative and commutative, so any grouping of batches
    * (including compaction of many persisted count parts into one)
    * yields the same table. */
  def mergeBucketCounts(counts: DataFrame): DataFrame =
    counts.groupBy("band", "bits").agg(sum(col("n")).as("n"))

  /** Hot keys from a (merged) [[bucketCounts]] table — identical to
    * [[simHashHotBuckets]] over the signatures the counts describe. */
  def hotFromCounts(counts: DataFrame, maxBucketSize: Int): DataFrame =
    counts.filter(col("n") > maxBucketSize).select("band", "bits")

  /** Hot-bucket guard SATURATION over a [[bucketCounts]] table: how
    * many occupied buckets the guard would discard, and what fraction
    * of the banded rows lives in them. The round-13 dct geometry
    * failed SILENTLY exactly here — 8-bit bucket keys saturated every
    * bucket past ~2.5M images and the tier quietly found nothing — so
    * the CLIs read this and WARN loudly when the guard stops being a
    * skew valve and starts being the whole join: high saturation means
    * the bucket keys cannot discriminate at this corpus size (raise
    * the probe depth with fewer, wider bands — or widen the
    * fingerprint), not that the corpus is skewed. */
  final case class GuardSaturation(
      occupiedBuckets: Long, hotBuckets: Long,
      totalRows: Long, rowsInHotBuckets: Long) {
    def bucketFraction: Double =
      if (occupiedBuckets == 0) 0.0 else hotBuckets.toDouble / occupiedBuckets
    def rowFraction: Double =
      if (totalRows == 0) 0.0 else rowsInHotBuckets.toDouble / totalRows
  }

  def guardSaturation(counts: DataFrame, maxBucketSize: Int): GuardSaturation = {
    if (maxBucketSize <= 0) return GuardSaturation(0L, 0L, 0L, 0L)
    val r = counts.agg(
      count(lit(1)),
      coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(col("n")), lit(0L)),
      coalesce(sum(when(col("n") > maxBucketSize, col("n")).otherwise(0L)), lit(0L)))
      .head()
    GuardSaturation(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  // --------------------------------------- incremental (batch vs corpus)

  /** Incremental exact dedup: drop `batch` rows whose content hash
    * already exists in `seenHashes` (a `content_hash` sha2-hex column —
    * persist `exactDuplicateGroups`' output each run), then drop
    * in-batch duplicates. THIS is how tier-1 dedup runs at 100 TB in
    * production: each daily increment anti-joins against the corpus
    * hash STATE — the corpus text is never re-read. The hash is
    * projected ONCE per row and reused by both the in-batch window and
    * the anti-join (document hashing is a dominant CPU cost at scale). */
  def dropSeenExact(batch: DataFrame, textCol: String, idCol: String,
      seenHashes: DataFrame): DataFrame = {
    val hashed = batch.withColumn("__hash", contentHash(col(textCol)))
    val w = Window.partitionBy(col("__hash")).orderBy(col(idCol))
    hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(seenHashes.select(col("content_hash").as("__seen_hash")),
        col("__hash") === col("__seen_hash"), "left_anti")
      .drop("__rn", "__hash")
  }

  /** Incremental SimHash near-dup: `(batch_id, corpus_id, hamming)`
    * pairs within `maxHamming`, joining the batch's bands against the
    * STORED corpus signatures — same pigeonhole guarantee as the
    * self-join. The hot-bucket guard applies to BOTH sides (today's
    * boilerplate flood is in the batch; yesterday's is in the corpus).
    * Pass `corpusHotBuckets` (persist [[simHashHotBuckets]] with the
    * corpus state) to skip the per-increment corpus-wide aggregate —
    * without it, finding the corpus's hot keys re-scans all corpus
    * bands every run.
    *
    * CONTRACT: both signature sets must come from the same `gramSize`
    * (fingerprints from different shingle spaces have ~random Hamming
    * distances and every near-dup sails through). Persist the gramSize
    * with your state; [[dropSeen]] takes one parameter for both. */
  def simHashNearDupsAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands ($maxHamming >= $bands misses pairs)")
    bandedSignaturesAgainst(batchSigs, corpusSigs, maxHamming, bands,
      maxBucketSize, corpusHotBuckets)
  }

  /** Batch-vs-corpus near-dup over ANY 64-bit signature frames — the
    * incremental counterpart of [[sigNearDups]], shared by the text,
    * image, and audio tiers (same pigeonhole contract). `probe` = the
    * multi-probe depth ([[sigNearDups]]): the BATCH side probes, the
    * corpus side stays exact, so `corpusHotBuckets` and the persisted
    * mergeable-counts protocol are untouched by probe depth. */
  def sigNearDupsAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None,
      probe: Int = 0): DataFrame = {
    requireProbeComplete(maxHamming, bands, probe)
    bandedSignaturesAgainst(batchSigs, corpusSigs, maxHamming, bands,
      maxBucketSize, corpusHotBuckets, probe)
  }

  /** The banded batch-vs-corpus join core, signature-agnostic: any
    * `(id, sig)` 64-bit signature frames band the same way (text
    * SimHash here, vector SRP in [[Similarity]]). No pigeonhole check —
    * callers own their recall contract: text SimHash requires
    * maxHamming < bands for the deterministic guarantee; SRP runs
    * probabilistic recall where maxHamming ≥ bands is legitimate (a
    * band match, not the Hamming prune, decides candidacy). */
  private[llm] def bandedSignaturesAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int,
      bands: Int,
      maxBucketSize: Int,
      corpusHotBuckets: Option[DataFrame],
      probe: Int = 0): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    // probe rows drop against the BATCH's own hot home buckets (today's
    // flood is in the batch) and against hot CORPUS target keys (their
    // exact side is empty after the corpus-side drop — shuffle pruning)
    val b = probedSide(bandSignatures(batchSigs, bands), bands, maxBucketSize,
        probe, targetHot = corpusHotBuckets.filter(_ => probe == 1))
      .select(col("band"), col("bits"), col("id").as("batch_id"), col("sig").as("__bsig"))
    val c = dropHotBuckets(bandSignatures(corpusSigs, bands), maxBucketSize, corpusHotBuckets)
      .select(col("band"), col("bits"), col("id").as("corpus_id"), col("sig").as("__csig"))
    b.join(c, Seq("band", "bits"))
      .select(col("batch_id"), col("corpus_id"),
        hamming(col("__bsig"), col("__csig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ----------------------- offset-consistent (sequenced sub-signatures)

  /** OFFSET-CONSISTENT near-dup over SEQUENCED sub-signatures
    * `(id, seq_idx, sig)` — the published sub-fingerprint lookup shape
    * (Haitsma–Kalman windowed audio fingerprints; temporally-shifted
    * video): a trimmed or time-shifted copy shares many sub-signatures
    * with its original at ONE consistent index delta, while strangers
    * collide (rarely) at scattered deltas. The banded candidate join is
    * [[sigNearDups]]'s (never all-pairs, hot-bucket-guarded); candidate
    * sub-sig pairs Hamming-prune, then group by
    * `(id1, id2, seq_idx1 − seq_idx2)` and keep deltas with at least
    * `minMatches` matching sub-signatures.
    *
    * Unlike the frame-ALIGNED video join (seq_idx on the band key),
    * the band join here is index-free, so one asset's sub-sigs can
    * candidate with all of another's — the hot-bucket guard and the
    * per-asset sub-sig count (windows/frames per asset, a small
    * constant) bound the blow-up to k² per colliding asset pair.
    * Returns `(id1, id2, delta, n_matched, max_hamming)`. */
  def seqSigNearDups(
      sigs: DataFrame, // (id, seq_idx, sig)
      minMatches: Int = 2,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      probe: Int = 0): DataFrame = {
    requireProbeComplete(maxHamming, bands, probe)
    val keyed = sigs.select(
      struct(col("id").as("aid"), col("seq_idx").as("s")).as("id"), col("sig"))
    val banded0 = bandSignatures(keyed, bands)
    val (probed, banded) = selfJoinSides(banded0, bands, maxBucketSize, probe)
    val l = probed
      .select(col("band"), col("bits"), col("id.aid").as("id1"),
        col("id.s").as("s1"), col("sig").as("sig1"))
    val r = banded.select(col("band"), col("bits"), col("id.aid").as("id2"),
      col("id.s").as("s2"), col("sig").as("sig2"))
    l.join(r, Seq("band", "bits"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("s1"), col("s2"),
        hamming(col("sig1"), col("sig2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a sub-sig pair can collide in several bands
      .groupBy(col("id1"), col("id2"), (col("s1") - col("s2")).as("delta"))
      .agg(count(lit(1)).as("n_matched"), max(col("hamming")).as("max_hamming"))
      .filter(col("n_matched") >= minMatches)
  }

  /** Batch-vs-corpus form of [[seqSigNearDups]] — the incremental tier
    * for trimmed/offset arrivals. Same candidate/prune/delta-group
    * shape; `corpusHotBuckets` is the persisted hot-key table (the
    * mergeable-counts protocol). Returns
    * `(batch_id, corpus_id, delta, n_matched, max_hamming)`. */
  def seqSigNearDupsAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      minMatches: Int = 2,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None,
      probe: Int = 0): DataFrame = {
    requireProbeComplete(maxHamming, bands, probe)
    def keyed(df: DataFrame) = df.select(
      struct(col("id").as("aid"), col("seq_idx").as("s")).as("id"), col("sig"))
    val b = probedSide(bandSignatures(keyed(batchSigs), bands), bands,
        maxBucketSize, probe, targetHot = corpusHotBuckets.filter(_ => probe == 1))
      .select(col("band"), col("bits"), col("id.aid").as("batch_id"),
        col("id.s").as("s1"), col("sig").as("sig1"))
    val c = dropHotBuckets(bandSignatures(keyed(corpusSigs), bands),
        maxBucketSize, corpusHotBuckets)
      .select(col("band"), col("bits"), col("id.aid").as("corpus_id"),
        col("id.s").as("s2"), col("sig").as("sig2"))
    b.join(c, Seq("band", "bits"))
      .select(col("batch_id"), col("corpus_id"), col("s1"), col("s2"),
        hamming(col("sig1"), col("sig2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .groupBy(col("batch_id"), col("corpus_id"), (col("s1") - col("s2")).as("delta"))
      .agg(count(lit(1)).as("n_matched"), max(col("hamming")).as("max_hamming"))
      .filter(col("n_matched") >= minMatches)
  }

  // -------------------------------------- wide (>=128-bit) signatures

  /** Geometry contract of the WIDE banded engine: signatures are
    * `array<long>` columns of `sigBits/64` words (row-major, word 0 =
    * bits 0–63), bands carve `sigBits/bands`-bit keys that never
    * straddle a word, and band keys stay 16–32 bits wide so the
    * hot-bucket guard can DISCRIMINATE at corpus scale. This is the
    * remedy the 64-bit engine's probe-depth refusal prescribes
    * ([[requireProbeComplete]] — "a radius needing depth >= 2 wants a
    * wider fingerprint"): at 10^9 assets, 16-bit keys on a 64-bit sig
    * mean ~15k expected occupancy per bucket — past any useful guard
    * cap even uniformly — while a 256-bit sig carries SIXTEEN 16-bit
    * bands, covering radius 15 at probe 0 and radius 31 at probe 1
    * with the same 65,536-valued keys. Returns the band width. */
  private[graft] def requireWideGeometry(sigBits: Int, bands: Int): Int = {
    require(sigBits >= 128 && sigBits % 64 == 0,
      s"wide signatures are >=128 bits in 64-bit words, got $sigBits " +
        "(64-bit fingerprints take the scalar sigNearDups path)")
    require(sigBits % bands == 0,
      s"bands must divide sigBits ($bands does not divide $sigBits)")
    val width = sigBits / bands
    require(64 % width == 0 && width <= 32,
      s"band width $width must divide 64 and stay <= 32 bits (keys must " +
        "not straddle signature words, and a >32-bit key space defeats " +
        "the occupancy the guard exists to bound)")
    require(width >= 8,
      s"band width $width is below 8 bits — narrow keys are exactly the " +
        "saturation failure the wide engine exists to avoid (fewer bands " +
        "+ probe 1, or a wider fingerprint)")
    width
  }

  /** Hamming distance between two wide fingerprints (equal-length long
    * arrays) — the native one-pass expression
    * ([[graft.functions.GraftFunctions.hammingLongs]]); mismatched
    * word counts (different width lineages) read Int.MaxValue, which
    * no radius filter ever passes. */
  def hammingWide(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.hammingLongs(a, b)

  /** The HOF reference formulation [[hammingWide]] is verified against
    * (GraftFunctionsSpec). */
  private[graft] def hammingWideHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, v) => acc + v)

  /** [[bandSignatures]] for wide `(id, sig: array<long>)` frames: one
    * row per (band, bits) key, band b's bits drawn from word
    * `b*width/64` at shift `(b*width)%64`. Same output shape as the
    * scalar banding — `(id, sig, band, bits)` with `bits` a long key —
    * so [[dropHotBuckets]], [[hotBucketKeys]], [[hotFromCounts]],
    * [[guardSaturation]] and [[probedSide]] apply unchanged. */
  private[graft] def wideBandSignatures(sigs: DataFrame, bands: Int,
      sigBits: Int): DataFrame = {
    val width = requireWideGeometry(sigBits, bands)
    val perWord = 64 / width
    val mask = ((BigInt(1) << width) - 1).toLong
    sigs.select(col("id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(element_at(col("sig"), b / perWord + 1), (b % perWord) * width)
            .bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bits"))
  }

  /** [[sigNearDups]] over WIDE signatures `(id, sig: array<long>)` —
    * the banded self-join for ≥128-bit fingerprint families (256-bit
    * DCT pHash, wide SimHash): identical pigeonhole contract
    * (`maxHamming < bands*(probe+1)`), hot-bucket guard, multi-probe
    * semantics and never-all-pairs shape as the scalar engine; only
    * the banding ([[wideBandSignatures]]) and the verify distance
    * ([[hammingWide]]) differ. Returns `(id1, id2, hamming)`. */
  def wideSigNearDups(
      sigs: DataFrame, // (id, sig: array<long>)
      maxHamming: Int = 15,
      bands: Int = 16,
      maxBucketSize: Int = 10000,
      probe: Int = 0,
      sigBits: Int = 256): DataFrame = {
    requireWideGeometry(sigBits, bands)
    requireProbeComplete(maxHamming, bands, probe)
    val banded = wideBandSignatures(sigs, bands, sigBits)
    val (probed, exact) = selfJoinSides(banded, bands, maxBucketSize, probe, sigBits)
    val l = probed
      .select(col("band"), col("bits"), col("id").as("id1"), col("sig").as("sig1"))
    val r = exact
      .select(col("band"), col("bits"), col("id").as("id2"), col("sig").as("sig2"))
    l.join(r, Seq("band", "bits"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hammingWide(col("sig1"), col("sig2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[sigNearDupsAgainst]] over WIDE signatures — the incremental
    * batch-vs-corpus form: the batch side probes, the corpus side
    * stays exact, `corpusHotBuckets` is the persisted hot-key table of
    * the [[wideBucketCounts]] mergeable-counts protocol (probe depth
    * stays matching-time only, so wide state lineages are
    * probe-agnostic exactly like the scalar engine's). Returns
    * `(batch_id, corpus_id, hamming)`. */
  def wideSigNearDupsAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 15,
      bands: Int = 16,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None,
      probe: Int = 0,
      sigBits: Int = 256): DataFrame = {
    requireWideGeometry(sigBits, bands)
    requireProbeComplete(maxHamming, bands, probe)
    val b = probedSide(wideBandSignatures(batchSigs, bands, sigBits), bands,
        maxBucketSize, probe,
        targetHot = corpusHotBuckets.filter(_ => probe == 1), sigBits = sigBits)
      .select(col("band"), col("bits"), col("id").as("batch_id"), col("sig").as("__bsig"))
    val c = dropHotBuckets(wideBandSignatures(corpusSigs, bands, sigBits),
        maxBucketSize, corpusHotBuckets)
      .select(col("band"), col("bits"), col("id").as("corpus_id"), col("sig").as("__csig"))
    b.join(c, Seq("band", "bits"))
      .select(col("batch_id"), col("corpus_id"),
        hammingWide(col("__bsig"), col("__csig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-bucket occupancy counts of a WIDE signature frame — the
    * mergeable state unit ([[bucketCounts]] for `array<long>` sigs).
    * Counts only merge within ONE (kernel, sigBits, bands) lineage —
    * the sig width is part of the state fingerprint. */
  def wideBucketCounts(sigs: DataFrame, bands: Int, sigBits: Int): DataFrame =
    wideBandSignatures(sigs, bands, sigBits).groupBy("band", "bits")
      .agg(count(lit(1)).as("n"))

  /** Hot-key table of a wide signature frame ([[simHashHotBuckets]]'
    * wide analog) — persist next to the signatures so increments skip
    * the corpus-wide aggregate. */
  def wideHotBuckets(sigs: DataFrame, bands: Int, sigBits: Int,
      maxBucketSize: Int = 10000): DataFrame =
    hotFromCounts(wideBucketCounts(sigs, bands, sigBits), maxBucketSize)

  /** Incremental curation step: batch survivors after all three
    * incremental tiers — exact-vs-seen (and in-batch exact), in-batch
    * near-dup (drop the higher id per pair; otherwise a near-dup pair
    * arriving in the same increment enters the corpus forever — future
    * runs only compare against the corpus), then near-dup-vs-corpus.
    * Signature-tier only: compose with [[verifyPairs]]/[[Curation]] when
    * Jaccard verification of the drops is required. `gramSize` MUST
    * match the one `corpusSigs` was persisted with (see
    * [[simHashNearDupsAgainst]]).
    *
    * `inBatchNear = false` skips the in-batch near tier — use when a
    * verified near-dedup stage (e.g. [[Curation.curate]]) runs on the
    * survivors right after, which would otherwise repeat the banded
    * self-join WITHOUT this tier's unverified signature-only drops.
    *
    * `observeTier` wraps the exact tier's survivors: pass a
    * `Dataset.observe` to count the tier boundary.
    *
    * EAGER, like [[Similarity.dropSeenVectors]]: returns a PERSISTED,
    * materialized frame (the caller unpersists it); the exact tier,
    * which the near tiers read twice, stays cached until then. */
  def dropSeen(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      seenHashes: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      gramSize: Int = 1,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None,
      inBatchNear: Boolean = true,
      observeTier: DataFrame => DataFrame = identity): DataFrame = {
    val exact = observeTier(dropSeenExact(batch, textCol, idCol, seenHashes)).persist()
    val survivors = nearTiers(exact, textCol, idCol, corpusSigs,
      maxHamming, bands, gramSize, maxBucketSize, corpusHotBuckets, inBatchNear).persist()
    survivors.count()
    exact.unpersist() // survivors is materialized; exact no longer feeds anything
    survivors
  }

  private def nearTiers(
      exact: DataFrame,
      textCol: String,
      idCol: String,
      corpusSigs: DataFrame,
      maxHamming: Int,
      bands: Int,
      gramSize: Int,
      maxBucketSize: Int,
      corpusHotBuckets: Option[DataFrame],
      inBatchNear: Boolean): DataFrame = {
    val sigs = simHashSignatures(exact, idCol, textCol, gramSize)
    // in-batch near-dups: banded self-join on the (already deduped)
    // batch signatures; drop the higher id of each pair
    val inBatchDrop =
      if (!inBatchNear) None
      else Some {
        val banded = dropHotBuckets(bandSignatures(sigs, bands), maxBucketSize)
        val l = banded.select(col("band"), col("bits"), col("id").as("id1"), col("sig").as("sig1"))
        val r = banded.select(col("band"), col("bits"), col("id").as("id2"), col("sig").as("sig2"))
        l.join(r, Seq("band", "bits"))
          .filter(col("id1") < col("id2"))
          .filter(hamming(col("sig1"), col("sig2")) <= maxHamming)
          .select(col("id2").as(idCol))
      }
    val corpusDrop = simHashNearDupsAgainst(sigs, corpusSigs,
      maxHamming, bands, maxBucketSize, corpusHotBuckets)
      .select(col("batch_id").as(idCol))
    // left_anti is insensitive to duplicate keys on the right — no
    // distinct needed on the union of drop ids
    val dropIds = inBatchDrop.map(_.unionByName(corpusDrop)).getOrElse(corpusDrop)
    exact.join(dropIds, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Jaccard similarity of two PRECOMPUTED shingle-set columns. */
  def jaccardOfShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** Exact Jaccard similarity of two documents' shingle sets — the
    * verifier for LSH candidate pairs. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    jaccardOfShingles(shingles(a, n), shingles(b, n))

  /** Verify candidate pairs (id1, id2) against exact n-gram Jaccard:
    * join each side's shingle SET back (two broadcast-friendly joins
    * when the pair set is small; key-partitioned otherwise) and keep
    * pairs with similarity ≥ `minJaccard`.
    *
    * Shingles are projected per DOC (once per join side), never per
    * pair — a doc in k candidate pairs must not re-tokenize k times.
    * When `docs` already carries a materialized shingle column (the
    * curation pipeline persists one alongside its survivor set), pass
    * it as `shingleCol` and the verify stage joins the stored arrays
    * directly. */
  def verifyPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      n: Int = 3,
      shingleCol: Option[String] = None): DataFrame = {
    val sh = shingleCol.map(col).getOrElse(shingles(col(textCol), n))
    val t1 = docs.select(col(idCol).as("id1"), sh.as("__s1"))
    val t2 = docs.select(col(idCol).as("id2"), sh.as("__s2"))
    pairs.join(t1, "id1").join(t2, "id2")
      .withColumn("jaccard", jaccardOfShingles(col("__s1"), col("__s2")))
      .filter(col("jaccard") >= minJaccard)
      .drop("__s1", "__s2")
  }

  // ------------------------------------------------- connected components

  /** Connected components over an undirected candidate-pair edge list
    * `(id1, id2)` — transitive near-dup clusters (chain A~B~C collapses
    * to one survivor even when A≁C). Iterative min-label propagation
    * with pointer jumping (`l(v) ← l(l(v))`), so convergence is
    * O(log chain-length) rounds, not O(chain-length); no GraphX.
    *
    * Returns `(id, component)` for every id that appears in ≥1 pair,
    * `component` = the minimum id reachable. Ids with no edges are not
    * emitted (they are their own components).
    *
    * Scale shape: every step is an equi-join/aggregate on the PAIR
    * graph — orders of magnitude smaller than the corpus after
    * LSH+verify. Lineage is truncated each round via localCheckpoint
    * (executor-local; swap for a checkpoint dir on a real cluster if
    * task retries must survive executor loss). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // lazy checkpoint on edges: it materializes inside labels' first job
    // instead of paying a separate eager job (the graph is read many
    // times across rounds, so the truncated lineage still caches)
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint(false)
    // lazy like the per-round checkpoints (r16): eager=true spent a
    // dedicated driver action (plus its AQE stage-jobs) just to
    // materialize the seed labels; lazy truncates the lineage the same
    // way and materializes inside round 0's first job
    var labels = edges.groupBy("src").agg(min("dst").as("__nmin"))
      .select(col("src").as("id"), least(col("src"), col("__nmin")).as("label"))
      .localCheckpoint(false)
    var changed = 1L
    var iter = 0
    val sc = pairs.sparkSession.sparkContext
    while (changed > 0 && iter < maxIter) {
      // label the per-round job (guide §1.5) — an e2e like q128 is a
      // chain of small jobs and the UI/JobProbe breakdown is unreadable
      // without names
      sc.setJobDescription(s"cc: round $iter")
      // the previous label rides through the union as a tagged column
      // (exactly one non-null per id — the `labels` leg), so convergence
      // is a filter over the materialized result instead of an extra
      // next⋈labels shuffle join per round — the loop is job-overhead-
      // bound on small pair graphs, and this halves its per-round jobs
      val viaEdges = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("label"), lit(null).cast("long").as("__old"))
      val jumped = labels.toDF("id", "label").as("x")
        .join(labels.toDF("jid", "jlabel").as("y"), col("x.label") === col("y.jid"))
        .select(col("x.id").as("id"), col("y.jlabel").as("label"), lit(null).cast("long").as("__old"))
      // lazy checkpoint: lineage still truncates, but materialization
      // piggybacks on the `changed` count below instead of spending a
      // separate job per iteration
      val next = labels.select(col("id"), col("label"), col("label").as("__old"))
        .unionByName(viaEdges).unionByName(jumped)
        .groupBy("id").agg(min("label").as("label"), min("__old").as("__old"))
        .localCheckpoint(false)
      changed = next.filter(col("label") < col("__old")).count()
      labels = next.select("id", "label")
      iter += 1
    }
    sc.setJobDescription(null)
    labels
  }

  // --------------------------------------------- duplicated-span removal

  /** Exact duplicated-SPAN removal (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better"): any
    * `n`-token span occurring more than once in the corpus — across
    * documents OR repeated within one — is removed from every
    * occurrence except the globally first (ordered by `(id, offset)`).
    * Document-level dedup misses this entirely: two long articles
    * quoting the same 200-token passage are not near-duplicates, yet
    * the passage is memorization fuel.
    *
    * Semantics:
    *  - spans are n consecutive WHITESPACE tokens, case-sensitive
    *    (removal must key on the exact text it will cut — unlike the
    *    lowercased signature tokenization of [[tokens]]);
    *  - same-doc occurrences overlapping the kept first copy (offset
    *    distance < n) are spared, so a self-repeat like "x"×200 keeps
    *    its leading window intact instead of eroding to one token;
    *  - removed token indices are the UNION of the marked windows —
    *    overlapping duplicate spans merge naturally;
    *  - touched documents are rebuilt from surviving tokens joined by
    *    single spaces (whitespace-normalized, like the chunkers);
    *    UNTOUCHED documents keep their original text byte-for-byte;
    *  - `n_removed` counts the tokens cut (0 for untouched docs);
    *  - documents shorter than `n` tokens have no span and pass through;
    *  - `idCol` must uniquely identify rows (it keys the reassembly
    *    joins) — run exact dedup first, as any real pipeline does.
    *
    * 100 TB shape: the occurrence extraction is a scan + one explode —
    * (tokens − n + 1) rows per doc, so the duplicate-finding shuffle
    * carries ~8 bytes per corpus TOKEN with `hashSpans` (the native
    * rolling-hash path, O(tokens) per doc; string spans multiply that
    * by n and exist for the SQL-replayable oracle). That token-scale
    * shuffle is inherent to exact substring dedup without a distributed
    * suffix array — it is ONE pass, keyed, partial-agg-friendly, never
    * all-pairs. Downstream work is proportional to the DUPLICATED
    * portion: the token explode and reassembly run solely over touched
    * docs (left-semi on marked ids); the final merge of rebuilt text
    * back into the corpus is one join on the id (AQE broadcasts it when
    * the touched set is small). */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50,
      hashSpans: Boolean = true): DataFrame = {
    require(n >= 2, s"span size must be >= 2, got $n")
    require(!df.columns.contains("n_removed"),
      "input already has an n_removed column — rename it before span removal")
    val occ = spanOccurrences(df, idCol, textCol, n, hashSpans)
    cutMarkedSpans(df, idCol, textCol, n, inBatchMarked(occ, n))
  }

  /** Incremental duplicated-span removal against persisted corpus
    * evidence: every batch occurrence of a span hash ALREADY IN the
    * corpus state is cut (the kept first copy lives in a previously
    * committed batch), plus the ordinary within-batch rule of
    * [[removeDuplicateSpans]]. This is what lets an arrival batch at
    * 100 TB pay a shuffle proportional to ITS OWN tokens — never the
    * corpus's — while still cutting spans duplicated ACROSS batches,
    * which per-batch span dedup structurally misses.
    *
    * `bloom` (a serialized `spark.util.sketch.BloomFilter` over the
    * state's span hashes — [[spanBloom]]) is a scan-side PRE-FILTER for
    * the state probe: occurrences the bloom rejects cannot be in state
    * and skip the state semi-join entirely, so for a mostly-clean batch
    * the join input shrinks to ~fpp of the occurrences. Correctness
    * does not depend on the bloom — survivors are verified against the
    * exact state table (false positives re-checked, false negatives
    * impossible), so an undersized bloom only costs join input, never
    * results.
    *
    * Hash-keyed only (`span_hash` longs, the [[removeDuplicateSpans]]
    * `hashSpans=true` path): state stores 8 bytes per distinct corpus
    * span, and the string form exists solely for the SQL-replayable
    * oracle. */
  def removeDuplicateSpansAgainst(
      df: DataFrame,
      idCol: String,
      textCol: String,
      priorSpans: DataFrame,
      n: Int = 50,
      bloom: Option[Array[Byte]] = None): DataFrame = {
    require(n >= 2, s"span size must be >= 2, got $n")
    require(!df.columns.contains("n_removed"),
      "input already has an n_removed column — rename it before span removal")
    val occ = spanOccurrences(df, idCol, textCol, n, hashSpans = true)
    val candidates = bloom match {
      case Some(b) => occ.filter(
        graft.functions.GraftFunctions.bloomMightContain(b, col("__key")))
      case None => occ
    }
    val seenMarked = candidates
      .join(priorSpans.select(col("span_hash").as("__key")), Seq("__key"), "left_semi")
      .select(col("__id"), col("__off"))
    cutMarkedSpans(df, idCol, textCol, n,
      inBatchMarked(occ, n).unionByName(seenMarked))
  }

  /** Distinct span hashes of a corpus slice — the per-batch evidence the
    * incremental state accumulates (column `span_hash`). One group-by
    * shuffle over batch tokens with map-side partial dedup. */
  def spanHashTable(df: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span size must be >= 2, got $n")
    df.select(explode(
        graft.functions.GraftFunctions.spanHashes(col(textCol), n)).as("span_hash"))
      .distinct()
  }

  /** Build the serialized bloom pre-filter over a span-hash table.
    * Driver-bounded egress: the bloom's bit array (size fixed by
    * `expectedItems`/`fpp`, independent of the actual table size —
    * overflow degrades fpp, never correctness, because the exact state
    * join re-checks every bloom survivor). Batches merge blooms with
    * [[mergeSpanBlooms]], which requires identical sizing — record the
    * sizing next to the state and validate it on read. */
  def spanBloom(spans: DataFrame, expectedItems: Long, fpp: Double): Array[Byte] = {
    // stat.bloomFilter NPEs on a zero-row frame (a batch where every
    // doc is shorter than the span width); an empty filter of the SAME
    // sizing keeps the merge/sizing contract intact
    val bf =
      if (spans.isEmpty)
        org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
      else spans.stat.bloomFilter("span_hash", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Union of two same-sized span blooms (bit-OR; `mergeInPlace` throws
    * on sizing mismatch rather than silently mis-merging). */
  def mergeSpanBlooms(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val bos = new java.io.ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** Case-preserving tokens: what span removal cuts and reassembly
    * emits (unlike the lowercased signature tokenization of [[tokens]]). */
  private def rawSpanTokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** Span occurrences `(__id, __off, __key)` — a scan + one explode,
    * (tokens − n + 1) rows per doc, no shuffle. */
  private def spanOccurrences(df: DataFrame, idCol: String, textCol: String,
      n: Int, hashSpans: Boolean): DataFrame = {
    val spanKeys: Column =
      if (hashSpans) graft.functions.GraftFunctions.spanHashes(col(textCol), n)
      else {
        val toks = rawSpanTokens(col(textCol))
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array())
      }
    df.select(col(idCol).as("__id"), posexplode(spanKeys).as(Seq("__off", "__key")))
  }

  /** Within-batch duplicate marking: one shuffle on the span key —
    * occurrence count + globally-first occurrence in a single
    * aggregate; only keys seen twice survive; same-doc occurrences
    * overlapping the kept first copy (offset distance < n) are spared. */
  private def inBatchMarked(occ: DataFrame, n: Int): DataFrame = {
    val dups = occ.groupBy("__key")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("__id"), col("__off"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .select(col("__key"),
        col("__first.__id").as("__fid"), col("__first.__off").as("__foff"))
    occ.join(dups, Seq("__key"))
      .filter(!(col("__id") === col("__fid") &&
        abs(col("__off") - col("__foff")) < n))
      .select(col("__id"), col("__off"))
  }

  /** Cut the marked `(__id, __off)` windows and rebuild touched docs —
    * the shared tail of both span-removal forms. Downstream work is
    * proportional to the DUPLICATED portion: the token explode and
    * reassembly run solely over touched docs (left-semi on marked ids);
    * the final merge of rebuilt text back into the corpus is one join
    * on the id (AQE broadcasts it when the touched set is small). */
  private def cutMarkedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, marked: DataFrame): DataFrame = {
    // union of marked windows per doc, as distinct token indices
    val removed = marked.select(col("__id"),
      explode(sequence(col("__off"), col("__off") + lit(n - 1))).as("__idx"))
      .distinct()
    val touchedIds = removed.select(col("__id")).distinct()
    // rebuild ONLY touched docs: token explode bounded by the docs that
    // actually lose spans, not the corpus
    val touched = df
      .join(touchedIds.withColumnRenamed("__id", idCol), Seq(idCol), "left_semi")
    val keptTokens = touched.select(col(idCol),
        posexplode(rawSpanTokens(col(textCol))).as(Seq("__idx", "__tok")))
      .join(removed.withColumnRenamed("__id", idCol), Seq(idCol, "__idx"), "left_anti")
    val rebuilt = keptTokens.groupBy(col(idCol))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__idx"), col("__tok")))),
            x => x.getField("__tok")), " ").as("__rebuilt"),
        count(lit(1)).as("__n_kept"))
    val flags = touchedIds.withColumnRenamed("__id", idCol)
      .withColumn("__touched", lit(true))
    df.withColumn("__n_orig", size(rawSpanTokens(col(textCol))).cast("long"))
      .join(flags, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__touched").isNull, col(textCol))
          .otherwise(coalesce(col("__rebuilt"), lit(""))))
      .withColumn("n_removed",
        when(col("__touched").isNull, lit(0L))
          .otherwise(col("__n_orig") - coalesce(col("__n_kept"), lit(0L))))
      .select(df.columns.map(col) :+ col("n_removed"): _*)
  }

  /** Corpus-global LINE deduplication, FIRST occurrence wins — the
    * exact-paragraph dedup step the Dolma / RefinedWeb pipelines run
    * between document dedup and span dedup: any line (delimiter-split
    * unit) appearing VERBATIM more than once in the corpus keeps only
    * its first occurrence in (`idCol`, line-position) order; every
    * later copy is cut from its document, and survivors reassemble in
    * their original order. DIFFERS from [[TextAnalysis.stripBoilerplate]]
    * (which drops frequency-threshold lines from EVERY doc, first copy
    * included) — here one copy always survives, so content is never
    * lost corpus-wide, only de-duplicated.
    *
    * Lines shorter than `minLineLen` characters are EXEMPT: blank
    * lines, bullets, and short structural fragments ("Introduction")
    * would otherwise vanish everywhere after their first appearance
    * and destroy document formatting — the published pipelines exempt
    * short paragraphs for exactly this reason. The exemption also caps
    * the dedup window's key skew: the overwhelmingly-frequent lines in
    * web text are the short ones.
    *
    * Returns `df` with `textCol` replaced and `n_lines_removed` (0 for
    * untouched docs; a doc whose every line was a later copy comes
    * back with empty text — filter on it if such docs should drop).
    *
    * 100 TB shape: one explode, ONE shuffle on the line key (the
    * first-wins window sorts (id, pos) within each line's partition —
    * never global), reassembly grouped by doc id with per-doc state
    * bounded by document size. Everything is built-ins; the q122
    * oracle replays split → row_number → filter → ordered string_agg
    * verbatim in SQL. The incremental form is
    * [[dedupLinesAgainst]] + [[lineHashTable]] (8 B per distinct
    * corpus line of state, the span-state recipe). */
  def dedupLinesGlobal(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      delim: String = "\n",
      minLineLen: Int = 15): DataFrame =
    dedupLinesAgainst(df, idCol, textCol, None, delim, minLineLen)

  /** Distinct xxhash64 line hashes of a batch (lines at or above
    * `minLineLen` only — exempt lines never enter state): the 8-bytes-
    * per-line accumulated-state unit [[dedupLinesAgainst]] consumes,
    * exactly the span-state recipe one granularity up. */
  def lineHashTable(
      df: DataFrame,
      textCol: String = "text",
      delim: String = "\n",
      minLineLen: Int = 15): DataFrame =
    df.select(explode(split(col(textCol),
        java.util.regex.Pattern.quote(delim))).as("__line"))
      .filter(length(col("__line")) >= minLineLen)
      .select(xxhash64(col("__line")).as("line_hash"))
      .distinct()

  /** [[dedupLinesGlobal]] with ACCUMULATED evidence — the incremental
    * batch-vs-corpus form: occurrences whose line hash appears in
    * `priorLines` (a `line_hash` table from [[lineHashTable]] unioned
    * across prior batches) are cut UNCONDITIONALLY (their first copy
    * lives in an earlier batch); the rest deduplicate first-wins
    * within the batch. The prior side joins as a broadcast-friendly
    * left join on the 8-byte hash, so a batch only ever shuffles its
    * own lines. Collision budget: a 64-bit hash collision cuts an
    * innocent line (never corrupts text) — the documented span-state
    * trade. */
  def dedupLinesAgainst(
      df: DataFrame,
      idCol: String,
      textCol: String,
      priorLines: Option[DataFrame],
      delim: String = "\n",
      minLineLen: Int = 15): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    require(minLineLen >= 0, s"minLineLen must be >= 0, got $minLineLen")
    require(!df.columns.contains("n_lines_removed"),
      "input already has an n_lines_removed column — rename it first")
    val q = java.util.regex.Pattern.quote(delim)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), q)).as(Seq("__pos", "__line")))
    val seenPrior = priorLines match {
      case Some(ps) => lines
        .join(ps.select(col("line_hash").as("__ph")),
          xxhash64(col("__line")) === col("__ph"), "left")
        .withColumn("__prior", col("__ph").isNotNull).drop("__ph")
      case None => lines.withColumn("__prior", lit(false))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__line")).orderBy(col(idCol), col("__pos"))
    val kept = seenPrior
      .withColumn("__rn", row_number().over(w))
      .filter(length(col("__line")) < minLineLen ||
        (!col("__prior") && col("__rn") === 1))
      .drop("__rn", "__prior")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          delim).as("__clean"),
        count(lit(1)).as("__n_kept"))
    df.withColumn("__n_orig", size(split(col(textCol), q)).cast("long"))
      .withColumnRenamed(textCol, "__orig")
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .withColumn("n_lines_removed",
        col("__n_orig") - coalesce(col("__n_kept"), lit(0L)))
      .select(df.columns.map(col) :+ col("n_lines_removed"): _*)
  }
}
