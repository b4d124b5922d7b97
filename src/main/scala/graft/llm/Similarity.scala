package graft.llm

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star extension, SURVEY.md §7.6).
  *
  * Over an `array<float>` embedding column:
  *  - `bruteForceTopK` — exact cosine top-k. The query side is
  *    broadcast (it must be small — that is the contract of a brute
  *    force scan); the corpus streams through one codegen'd projection +
  *    per-query top-k, no shuffle of the corpus. O(|Q|·|C|) compute:
  *    the correctness baseline, and the right tool when |Q| is tiny.
  *  - `ivfBuild`/`ivfTopK` — inverted-file ANN: KMeans coarse centroids
  *    partition the corpus into cells; a query probes only its
  *    `nprobe` nearest cells. At 100 TB the corpus is hash-partitioned
  *    by cell id, so a probe touches `nprobe/k` of the data instead of
  *    all of it; centroids (k×dim doubles) broadcast everywhere.
  *  - `lshNearDupPairs` — `BucketedRandomProjectionLSH` bucketed join
  *    on L2-normalized vectors (Euclidean distance on the unit sphere
  *    is a monotone proxy for cosine: d² = 2−2cos). Bucketed — never
  *    all-pairs.
  *  - `srpNearDupPairs` — sign-random-projection signatures through the
  *    SAME banded machinery as text SimHash: density-independent
  *    candidate volume, no bucket-length knob, signatures persistable
  *    as incremental dedup state (see its scaladoc for the math).
  */
object Similarity {

  // ------------------------------------------------------ vector algebra

  /** Cosine similarity — the native one-pass codegen'd expression
    * (`graft.functions.CosineSimilarity`): ~25× the throughput of the
    * higher-order-function formulation on the KNN hot path (FnBench). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** HOF formulations — kept as the independent reference implementation
    * the native expression is verified against (GraftFunctionsSpec). */
  private[graft] def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize an array<float> column (unit sphere). A zero vector
    * stays zero — non-ANSI x/0.0 would yield NULL elements, which
    * crashes downstream `array_to_vector`. */
  def l2Normalize(a: Column): Column = {
    val n = norm2(a)
    when(n === 0.0, a)
      .otherwise(transform(a, x => (x.cast("double") / n).cast("float")))
  }

  // ------------------------------------------------------- brute force

  /** Rank scored (query_id, neighbor_id, cos_sim) rows to per-query
    * top-k via the bounded-heap aggregator (`graft.functions.TopK`):
    * each map partition reduces to ≤ k pairs per query BEFORE the
    * shuffle, so the exchange carries O(partitions × |Q| × k) rows —
    * independent of corpus size. A window row_number here would shuffle
    * every scored pair instead. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    // the bounded-heap aggregator encodes ids as Long; non-integral id
    // types (e.g. string ids) fall back to the window formulation
    // rather than crash in an implicit lossy cast
    val integral = scored.schema("neighbor_id").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (!integral) return rankTopKWindow(
      scored.filter(col("cos_sim").isNotNull && !isnan(col("cos_sim"))), k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
    scored
      // null/NaN scores (null embeddings, dim-mismatched or null-element
      // vectors — graft_cosine flags those NaN) are excluded: the window
      // form ranks them last, so dropping changes nothing for valid k
      .filter(col("cos_sim").isNotNull && !isnan(col("cos_sim")) && col("neighbor_id").isNotNull)
      .groupBy("query_id")
      .agg(graft.functions.TopK.topK(k)(col("cos_sim"), col("neighbor_id")).as("__topk"))
      .select(col("query_id"), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e._2").as("neighbor_id"),
        col("__e._1").as("cos_sim"), (col("__pos") + 1).cast("long").as("rank"))
  }

  /** The window formulation kept as the independent reference the
    * aggregator is verified against (SimilaritySpec). */
  private[graft] def rankTopKWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors for each query vector. `queries` MUST
    * be small (it is collected into a broadcast join); `corpus` can be
    * arbitrarily large — it is scanned once with no shuffle, reduced to
    * ≤ k candidates per query per partition, then merged. Self-matches
    * (same id) are excluded. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cos_sim"))
    rankTopK(scored, k)
  }

  // --------------------------------------------------------------- IVF

  /** IVF coarse index: KMeans over the corpus embeddings; returns the
    * model and the corpus tagged with its cell id. At scale, persist the
    * tagged corpus partitioned/bucketed by `cell` so probes prune. */
  def ivfBuild(
      corpus: DataFrame,
      numCells: Int,
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): (KMeansModel, DataFrame) = {
    // KMeans iterates over its input maxIter times: without a persist
    // each iteration re-reads the source and re-runs array_to_vector
    // (MLlib warns "input not cached" and pays the scan per pass)
    val vec = corpus.withColumn("__v", array_to_vector(col(vecCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = new KMeans().setK(numCells).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("__v").setPredictionCol("cell")
        .fit(vec)
      (model, model.transform(vec).drop("__v"))
    } finally vec.unpersist(blocking = false)
  }

  /** IVF probe: each query searches only its `nprobe` nearest cells
    * (by centroid cosine), then exact cosine re-ranks within them.
    * The candidate join is an equi-join on `cell` — at 100 TB it prunes
    * to ~nprobe/numCells of the corpus instead of a full scan. */
  /** The shared IVF cell probe: rank cells per query by centroid
    * cosine, keep the top `nprobe`, and materialize the result ONCE
    * (≤ |Q|×nprobe rows — bounded by the small-queries contract): both
    * the distinct cell IN-list and the join side derive from the same
    * collected rows, so the probe plan is not recomputed and cannot
    * disagree with itself. On a cell-partitioned corpus layout
    * ([[ivfSave]]) the IN-list filter is file-level partition pruning —
    * only nprobe directories are read. Returns the probed
    * `(query_id, __qv, cell)` frame and the distinct cell list. */
  private def probeCells(
      queries: DataFrame,
      model: KMeansModel,
      nprobe: Int,
      idCol: String,
      vecCol: String): (DataFrame, Seq[Int]) = {
    val spark = queries.sparkSession
    import spark.implicits._
    // centroids: tiny (numCells × dim) — literal-broadcast as a DataFrame
    val cents = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(_.toFloat))
    }.toSeq.toDF("cell", "__centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val probed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("__qv"), col("cell"),
        cosine(col("__qv"), col("__centroid")).as("__csim"))
      .withColumn("__crank",
        row_number().over(Window.partitionBy("query_id").orderBy(col("__csim").desc, col("cell"))))
      .filter(col("__crank") <= nprobe)
      .select("query_id", "__qv", "cell")
    val probedRows = probed.collect()
    val probedDf = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    (probedDf, probedRows.map(_.getAs[Int]("cell")).distinct.toSeq)
  }

  def ivfTopK(
      queries: DataFrame,
      taggedCorpus: DataFrame,
      model: KMeansModel,
      k: Int,
      nprobe: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (probedDf, cells) = probeCells(queries, model, nprobe, idCol, vecCol)
    val c = taggedCorpus
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cell"))
    val scored = c.join(broadcast(probedDf), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Recall of the IVF probe against the exact brute-force ranking, as
    * a per-query data frame `(query_id, n_true, n_hits, recall)` — the
    * ANN quality signal expressed AS A QUERY, so the driver gate (and
    * any monitoring job at scale) can watch it like any other table.
    * Denominator is each query's actual exact-neighbor count (≤ k on
    * small corpora). */
  def ivfRecallVsBrute(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      numCells: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): DataFrame = {
    val brute = bruteForceTopK(queries, corpus, k, idCol, vecCol)
      .select("query_id", "neighbor_id")
    val (model, tagged) = ivfBuild(corpus, numCells, vecCol, seed, maxIter)
    val ivf = ivfTopK(queries, tagged, model, k, nprobe, idCol, vecCol)
      .select("query_id", "neighbor_id")
    probeRecall(brute, ivf)
  }

  /** Per-query recall of a probe ranking against the exact one — both
    * as `(query_id, neighbor_id)` frames. Shared by the build-per-call
    * harness above and the persisted-index monitoring path (q25). */
  def probeRecall(brute: DataFrame, probe: DataFrame): DataFrame = {
    val hits = brute.join(probe, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true"), 4).as("recall"))
  }

  /** Load the IVF index at `indexDir`, building and persisting it first
    * if absent (a `_BUILT` marker, written last, gates the load — a
    * crashed half-written index is rebuilt, never trusted). This is how
    * recall monitoring runs in production: KMeans is paid ONCE per
    * corpus version, every subsequent check probes the persisted
    * cell-partitioned layout (so the nprobe IN-list prunes at the
    * storage level). Key `indexDir` by corpus version + build params —
    * a stale dir would silently serve an index of the old corpus. */
  def ivfEnsure(
      corpus: DataFrame,
      numCells: Int,
      indexDir: String,
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): (KMeansModel, DataFrame) = {
    val spark = corpus.sparkSession
    val marker = new org.apache.hadoop.fs.Path(indexDir, "_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      val (m, t) = ivfBuild(corpus, numCells, vecCol, seed, maxIter)
      ivfSave(m, t, indexDir)
      fs.create(marker, true).close()
    }
    ivfLoad(spark, indexDir)
  }

  /** Persist an IVF index: the KMeans model plus the corpus laid out
    * partitioned BY CELL, so probes prune at the storage level (a query
    * touching nprobe cells reads nprobe directories, not the corpus). */
  def ivfSave(model: KMeansModel, taggedCorpus: DataFrame, dir: String): Unit = {
    model.write.overwrite().save(s"$dir/kmeans")
    taggedCorpus.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/corpus")
  }

  def ivfLoad(spark: org.apache.spark.sql.SparkSession, dir: String): (KMeansModel, DataFrame) =
    (KMeansModel.load(s"$dir/kmeans"), spark.read.parquet(s"$dir/corpus"))

  /** Incremental index growth: tag `newVecs` with their nearest
    * EXISTING centroid (no KMeans re-training — the daily-increment
    * path) and append them to the persisted cell-partitioned layout.
    * Probes see the new vectors immediately; only the touched cell
    * directories gain files. Re-train (ivfBuild) when drift makes the
    * old centroids a poor partition of new data — the recall monitor
    * (q25's probeRecall) is the signal for that. */
  def ivfAppend(
      model: KMeansModel,
      newVecs: DataFrame,
      indexDir: String,
      vecCol: String = "embedding",
      inWindow: DataFrame => Unit = _ => ()): Unit = {
    // same durability story as ivfEnsure's initial build: the _BUILT
    // marker comes DOWN before the append and back up after, so a crash
    // mid-append leaves an index ivfEnsure refuses and rebuilds rather
    // than one silently containing an unknown subset of the increment.
    // `inWindow` runs with the tagged batch INSIDE that window — the
    // hook for auxiliary appends (PQ codes, stats) that must share the
    // corpus append's crash-safety, so the protocol lives in ONE place.
    val spark = newVecs.sparkSession
    val marker = new org.apache.hadoop.fs.Path(indexDir, "_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hadMarker = fs.exists(marker)
    if (hadMarker) fs.delete(marker, false)
    val tagged = model.transform(
      newVecs.withColumn("__v", array_to_vector(col(vecCol))))
      .drop("__v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tagged.write.mode("append").partitionBy("cell").parquet(s"$indexDir/corpus")
      inWindow(tagged)
      if (hadMarker) fs.create(marker, true).close()
    } finally tagged.unpersist(blocking = false)
  }

  // --------------------------------------------------------------- LSH

  /** Near-duplicate vector pairs via bucketed random-projection LSH on
    * the unit sphere. `maxCosineDistance` = 1 − min cosine similarity;
    * pairs returned once (id1 < id2) with their cosine similarity.
    *
    * `bucketLength` is in PROJECTION units, and Spark's random
    * projection vectors are unit-normalized — so unit-sphere data
    * projects into [-1, 1] no matter the dimension. A bucket length
    * anywhere near that span (e.g. the 0.5 this API once defaulted to)
    * collapses every table to a handful of buckets and the candidate
    * join goes quadratic in corpus size (measured: 20.6 s for a 4k×4k
    * self-join at 0.5 vs 1.3 s at 0.05). The 0.05 default keeps ~40
    * buckets per table; a true near-dup pair at cosine ≥ 0.95 projects
    * its difference (‖δ‖ ≤ 0.32) onto a random unit direction at
    * ~‖δ‖/√dim, well inside one bucket, so recall stays ~1 with 4
    * OR-ed tables. */
  /** 64-bit sign-random-projection signatures (`graft_srp`): one row
    * per vector, `(id, sig)` — the persistable dedup STATE form, same
    * shape as [[Dedup.simHashSignatures]] for text. Signatures are a
    * pure function of (vector, seed): comparable across runs, batches,
    * and engines that reproduce xxhash64. */
  def srpSignatures(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 4233L): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.srp(col(vecCol), seed).as("sig"))

  // ------------------------------------------------------- quantization

  /** Symmetric per-vector int8 quantization: `q_i = round(x_i/scale)`,
    * `scale = max|x|/127` — 4× less storage and shuffle than float32
    * for an embedding store (the knob that matters when embeddings for
    * 100 TB of text are themselves terabytes). Per-VECTOR scales keep
    * direction fidelity high regardless of magnitude spread across the
    * corpus; cosine is scale-invariant, so similarity search on
    * dequantized vectors degrades only by rounding (~1e-4 self-cosine
    * loss at 64 dims — pinned as data by q53 and in SimilaritySpec).
    * All-zero vectors take scale 0 and quantize to zeros. */
  def quantize(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // the scale is projected FIRST and referenced by name in the
    // element lambda: HOF lambda bodies re-evaluate per element, so an
    // embedded array_max(transform(...)) subtree would cost O(dim²)
    // per row (Catalyst does not hoist loop-invariant subtrees out of
    // interpreted lambdas)
    df.select(col(idCol), col(vecCol),
      (array_max(transform(col(vecCol), x => abs(x))) / 127.0f)
        .cast("float").as("q_scale"))
      .select(col(idCol),
        col("q_scale"),
        when(col("q_scale") === 0.0f,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(vecCol),
            x => round(x / col("q_scale"), 0).cast("tinyint"))).as("q_vec"))
  }

  /** Inverse of [[quantize]]: `x_i ≈ q_i · scale`, back to float. */
  def dequantize(qVec: Column, scale: Column): Column =
    transform(qVec, b => (b.cast("float") * scale).cast("float"))

  // ------------------------------------------- product quantization (PQ)

  /** PQ codebook (Jégou, Douze & Schmid 2011, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 33(1)): `m` subspaces of
    * `subDim` dims, `k` centroids per subspace. m·k·subDim floats —
    * a few hundred KB even at the production 8×256 — so it travels as
    * PLAN LITERALS (broadcast with the plan), never as a join side. */
  case class PqCodebook(subDim: Int, centroids: Array[Array[Array[Float]]]) {
    def m: Int = centroids.length
    def k: Int = centroids.head.length
    def dim: Int = m * subDim
    private[llm] def lit3: Column =
      typedLit(centroids.map(_.map(_.toSeq).toSeq).toSeq)
    /** Per-centroid squared L2 norms — the query-independent half of
      * the ADC cosine denominator (‖recon‖² = Σ_m ‖cent_m‖², exact for
      * a concatenation of orthogonal subspace blocks). */
    private[llm] def normSqLit: Column =
      typedLit(centroids.map(_.map(c => c.map(x => x.toDouble * x).sum).toSeq).toSeq)
    /** The same table as a plain array — bound to the native ADC
      * expression as a codegen reference object. */
    private[graft] def normSqArr: Array[Array[Double]] =
      centroids.map(_.map(c => c.map(x => x.toDouble * x).sum))
  }

  /** Train a PQ codebook: an independent KMeans per subspace over the
    * corpus' sub-vectors. Training is M distributed fits over ONE
    * persisted sliced projection (offline index-build cost, paid once
    * per corpus version — the [[ivfEnsure]] cost model). `k` ≤ 256
    * keeps one code byte-sized. */
  def pqTrain(
      corpus: DataFrame,
      m: Int,
      k: Int,
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): PqCodebook = {
    require(k >= 2 && k <= 256, s"PQ centroids per subspace must be in [2,256], got $k")
    val dim = corpus.select(size(col(vecCol)).as("__d"))
      .filter(col("__d") > 0).head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val subCols = (0 until m).map(mi =>
      array_to_vector(slice(col(vecCol), mi * subDim + 1, subDim)).as(s"__s$mi"))
    val sliced = corpus.select(subCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = (0 until m).map { mi =>
        new KMeans().setK(k).setSeed(seed + mi).setMaxIter(maxIter)
          .setFeaturesCol(s"__s$mi").setPredictionCol("__c")
          .fit(sliced)
          .clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      PqCodebook(subDim, cents)
    } finally sliced.unpersist(blocking = false)
  }

  /** Encode vectors to PQ codes: `codes[mi] = argmin_c ‖sub_mi − cent‖²`.
    * Pure HOF projection against the literal codebook — scan speed, no
    * shuffle, no model object. Output `(idCol, pq_codes: array<int>)`;
    * with k ≤ 256 each code is one byte of information (parquet
    * dictionary + bit-packing stores it as such), so the embedding
    * store shrinks from 4·dim bytes to ~m bytes per vector — the knob
    * that turns a TB-scale vector corpus into a GB-scale one. */
  def pqEncode(
      df: DataFrame,
      codebook: PqCodebook,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      graft.functions.PqAdc.encode(col(vecCol), codebook.centroids, codebook.subDim)
        .as("pq_codes"))

  /** The interpreted higher-order-function form of [[pqEncode]] — the
    * readable reference implementation the native expression must
    * match code-for-code (SimilaritySpec pins it). */
  private[graft] def pqEncodeRef(
      df: DataFrame,
      codebook: PqCodebook,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = codebook.lit3
    val sub = codebook.subDim
    val codes = transform(sequence(lit(0), lit(codebook.m - 1)), mi => {
      val sv = slice(col(vecCol), mi * sub + 1, lit(sub))
      val dists = transform(element_at(cb, mi + 1), cent =>
        aggregate(zip_with(sv, cent,
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (a, d) => a + d))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    df.select(col(idCol), codes.as("pq_codes"))
  }

  /** Reconstruct the quantized vector from its codes (centroid
    * concatenation) — the decode side of [[pqEncode]], for fidelity
    * checks and exact re-ranking without the raw corpus. */
  def pqDecode(codes: Column, codebook: PqCodebook): Column =
    flatten(zip_with(codes, codebook.lit3,
      (cd, tbl) => element_at(tbl, cd + 1)))

  /** ADC (asymmetric distance computation) top-k: the query stays
    * exact, the corpus is its PQ codes. Per query, ONE m×k lookup
    * table of subspace inner products builds in the projection; each
    * corpus row is then scored with m table lookups — no
    * reconstruction, no dim-length arithmetic on the hot path. The
    * score is the EXACT cosine between the query and the PQ
    * reconstruction, so ranking error comes only from quantization.
    * Queries broadcast (small-side contract, as [[bruteForceTopK]]);
    * the code scan parallelizes per partition and reduces to ≤ k rows
    * per query per partition before the shuffle. */
  /** Per-query m×k lookup table of subspace inner products — the ADC
    * precompute, built as a projection over the query frame. */
  private[graft] def adcLut(qv: Column, codebook: PqCodebook): Column = {
    val cb = codebook.lit3
    val sub = codebook.subDim
    transform(sequence(lit(0), lit(codebook.m - 1)), mi =>
      transform(element_at(cb, mi + 1), cent =>
        aggregate(zip_with(slice(qv, mi * sub + 1, lit(sub)), cent,
            (x, c) => x.cast("double") * c),
          lit(0.0), (a, d) => a + d)))
  }

  /** ADC cosine: m lookups of subspace inner products over the LUT,
    * normalized by ‖q‖ and the code-derived reconstruction norm —
    * the exact cosine between the query and the PQ reconstruction.
    * Scored by the native codegen'd expression
    * ([[graft.functions.PqAdcCosine]]) — the code scan is the hot
    * path of every PQ probe; the HOF reference form below is kept for
    * the spec's bit-identity pin. */
  private def adcCosine(codes: Column, lut: Column, qnorm: Column,
      codebook: PqCodebook): Column =
    graft.functions.PqAdc.cosine(codes, lut, qnorm, codebook.normSqArr)

  /** The interpreted higher-order-function form of [[adcCosine]] —
    * the readable reference implementation the native expression must
    * match bit-for-bit (SimilaritySpec pins it). */
  private[graft] def adcCosineRef(codes: Column, lut: Column, qnorm: Column,
      codebook: PqCodebook): Column =
    aggregate(zip_with(codes, lut, (cd, tbl) => element_at(tbl, cd + 1)),
      lit(0.0), (a, d) => a + d) /
      (qnorm * sqrt(aggregate(zip_with(codes, codebook.normSqLit,
        (cd, tbl) => element_at(tbl, cd + 1)), lit(0.0), (a, d) => a + d)))

  /** Exact-cosine re-rank of a small shortlist against the raw corpus:
    * both the shortlist and the query frame broadcast into the
    * corpus-side equi-join. */
  private def exactRerank(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cos_sim"))
    rankTopK(scored, k)
  }

  def pqAdcTopK(
      queries: DataFrame,
      codes: DataFrame,
      codebook: PqCodebook,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__lut", adcLut(col("__qv"), codebook))
      .withColumn("__qnorm", norm2(col("__qv")))
      .select("query_id", "__lut", "__qnorm")
    val scored = codes.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        adcCosine(col("pq_codes"), col("__lut"), col("__qnorm"), codebook)
          .as("cos_sim"))
    rankTopK(scored, k)
  }

  /** The production shape: ADC shortlists `k·oversample` candidates
    * from the code scan, exact cosine re-ranks ONLY the shortlist
    * against the raw corpus. The shortlist is O(|Q|·k·oversample) —
    * broadcast into the corpus-side equi-join, so the raw vectors are
    * touched for a vanishing fraction of the corpus. */
  def pqAdcTopKReranked(
      queries: DataFrame,
      codes: DataFrame,
      codebook: PqCodebook,
      corpus: DataFrame,
      k: Int,
      oversample: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    val shortlist = pqAdcTopK(queries, codes, codebook, k * oversample, idCol, vecCol)
      .select("query_id", "neighbor_id")
    exactRerank(shortlist, queries, corpus, k, idCol, vecCol)
  }

  /** IVF-PQ (the full Jégou et al. 2011 composition, and THE 100 TB
    * ANN shape): the coarse KMeans cells prune the scan to
    * ~nprobe/numCells of the corpus, the scanned fraction is PQ CODES
    * (m bytes/vector, not 4·dim), ADC shortlists with per-query lookup
    * tables, and only the shortlist touches raw vectors for the exact
    * re-rank. `taggedCodes` is [[pqEncode]] over the IVF-tagged corpus
    * keeping `cell` — persist it partitioned by cell ([[ivfSave]]'s
    * layout) and a probe reads nprobe directories of byte-sized codes. */
  def ivfPqTopK(
      queries: DataFrame,
      taggedCodes: DataFrame,
      model: KMeansModel,
      codebook: PqCodebook,
      corpus: DataFrame,
      k: Int,
      nprobe: Int = 3,
      oversample: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    val (probedDf, cells) = probeCells(queries, model, nprobe, idCol, vecCol)
    // LUT/qnorm once per QUERY, not per (query, cell) row: the m×k
    // table is the expensive projection and the broadcast payload —
    // nprobe duplicate copies per query would multiply both (review
    // finding). Both frames are probe-contract tiny; the join is local.
    val perQuery = probedDf.select("query_id", "__qv").dropDuplicates("query_id")
      .withColumn("__lut", adcLut(col("__qv"), codebook))
      .withColumn("__qnorm", norm2(col("__qv")))
      .select("query_id", "__lut", "__qnorm")
    val qlut = probedDf.select("query_id", "cell")
      .join(perQuery, Seq("query_id"))
    val c = taggedCodes
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol).as("neighbor_id"), col("cell"), col("pq_codes"))
    val scored = c.join(broadcast(qlut), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcCosine(col("pq_codes"), col("__lut"), col("__qnorm"), codebook)
          .as("cos_sim"))
    val shortlist = rankTopK(scored, k * oversample)
      .select("query_id", "neighbor_id")
    exactRerank(shortlist, queries, corpus, k, idCol, vecCol)
  }

  /** Persist/load a codebook as a tiny parquet table `(mi, ci,
    * centroid)` — the artifact an incremental encode job loads so
    * appended batches share ONE code space with the existing corpus
    * (the [[ivfAppend]] increment model: re-train only when the recall
    * monitor says the codebook no longer fits the data). */
  def pqSave(codebook: PqCodebook, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (subs, mi) <- codebook.centroids.zipWithIndex
      (cent, ci) <- subs.zipWithIndex
    } yield (mi, ci, cent.toSeq)
    rows.toSeq.toDF("mi", "ci", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def pqLoad(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebook = {
    val rows = spark.read.parquet(path)
      .select(col("mi"), col("ci"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, s"empty PQ codebook at $path")
    val cents = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) =>
      g.sortBy(_._2).map(_._3).toArray
    }.toArray
    val sub = cents.head.head.length
    require(cents.forall(_.forall(_.length == sub)),
      s"inconsistent centroid widths in PQ codebook at $path")
    PqCodebook(sub, cents)
  }

  /** Build-or-load a persisted codebook (the [[ivfEnsure]] marker
    * protocol): training is paid once per corpus version, every later
    * run loads the tiny parquet artifact. */
  def pqEnsure(
      corpus: DataFrame,
      m: Int,
      k: Int,
      indexDir: String,
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): PqCodebook = {
    val spark = corpus.sparkSession
    val marker = new org.apache.hadoop.fs.Path(indexDir, "_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      pqSave(pqTrain(corpus, m, k, vecCol, seed, maxIter), spark, s"$indexDir/codebook")
      fs.create(marker, true).close()
    }
    pqLoad(spark, s"$indexDir/codebook")
  }

  /** Recall of the PQ ADC(+re-rank) probe against the exact brute-force
    * ranking — the ANN quality monitor expressed as a query (the
    * [[ivfRecallVsBrute]] pattern). */
  def pqRecallVsBrute(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int,
      kPerSub: Int,
      oversample: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 4233L,
      maxIter: Int = 20): DataFrame = {
    val brute = bruteForceTopK(queries, corpus, k, idCol, vecCol)
      .select("query_id", "neighbor_id")
    val codebook = pqTrain(corpus, m, kPerSub, vecCol, seed, maxIter)
    val codes = pqEncode(corpus, codebook, idCol, vecCol)
    val probe = pqAdcTopKReranked(queries, codes, codebook, corpus, k, oversample, idCol, vecCol)
      .select("query_id", "neighbor_id")
    probeRecall(brute, probe)
  }

  /** Hamming prune for a cosine threshold: mean + 3σ of the bit-diff
    * distribution Binom(64, acos(c)/π) — generous enough that band
    * collision, not this prune, decides recall. */
  private[graft] def defaultMaxHamming(minCosine: Double): Int = {
    val p = math.acos(minCosine) / math.Pi
    math.min(63, math.ceil(64 * p + 3 * math.sqrt(64 * p * (1 - p))).toInt)
  }

  /** Incremental vector near-dup: `(batch_id, corpus_id, hamming)`
    * pairs joining the batch's SRP bands against STORED corpus
    * signatures ([[srpSignatures]] persisted each run — the vector
    * analog of [[Dedup.simHashNearDupsAgainst]], sharing its banded
    * join core and hot-bucket guard). Both signature sets MUST come
    * from the same `seed` (different seeds give independent hyperplanes
    * and ~random Hamming distances — persist the seed with the state,
    * as the Curator does for text gramSize).
    *
    * Unlike text SimHash, signature-only dropping is SAFE here: an
    * unrelated pair must both match a full 16-bit band AND sit inside
    * the Hamming prune — joint probability ~1e-13 at the 0.99 default,
    * so false drops are negligible without a verification join (the
    * state would need to retain raw vectors to verify; it only keeps
    * 8-byte signatures). */
  def srpNearDupsAgainst(
      batchSigs: DataFrame,
      corpusSigs: DataFrame,
      minCosine: Double = 0.99,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None): DataFrame =
    Dedup.bandedSignaturesAgainst(batchSigs, corpusSigs,
      defaultMaxHamming(minCosine), bands, maxBucketSize, corpusHotBuckets)

  /** Drop batch vectors whose SRP signature collides with the persisted
    * corpus state within the `minCosine`-derived Hamming budget, then
    * drop in-batch near-dups (keep the lower id per pair) — the vector
    * counterpart of [[Dedup.dropSeen]], state = 8 bytes per corpus
    * vector. Append [[srpSignatures]] of the survivors to the state for
    * the next increment (same seed!). `observeTier` wraps the corpus
    * tier's survivors: pass a `Dataset.observe` to count the tier
    * boundary. */
  def dropSeenVectors(
      batch: DataFrame,
      corpusSigs: DataFrame,
      minCosine: Double = 0.99,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      corpusHotBuckets: Option[DataFrame] = None,
      seed: Long = 4233L,
      inBatchNear: Boolean = true,
      observeTier: DataFrame => DataFrame = identity): DataFrame = {
    val batchSigs = srpSignatures(batch, idCol, vecCol, seed)
    // `seen` is a tiny id frame read by BOTH the survivor anti-join and
    // the in-batch tier's signature anti-join (the R19 cache-before-
    // fan-out rule) — unpersisted, AQE re-derives the whole banded-join
    // lineage per consumer (measured: 59 jobs/pass vs 13 at sf0.1)
    val seen = srpNearDupsAgainst(batchSigs, corpusSigs, minCosine, bands,
      maxBucketSize, corpusHotBuckets)
      .select(col("batch_id").as(idCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fresh = observeTier(batch.join(seen, Seq(idCol), "left_anti"))
    val out = if (!inBatchNear) fresh
      else inBatchVectorTier(fresh, batchSigs, seen, minCosine, idCol, vecCol,
        bands, maxBucketSize)
    // materialize before releasing `seen` (the plan reads it); the
    // returned frame is PERSISTED — caller unpersists when done (the
    // [[semDedupWithIndex]] contract). Incremental dedup is an
    // action-per-batch pipeline, so the eager count is not extra work.
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    seen.unpersist()
    out
  }

  /** In-batch vector near-dup tier: without it a near-dup pair arriving
    * in the same increment enters the corpus forever (future runs only
    * compare against the state) — same rationale as Dedup.dropSeen.
    * The survivors' signatures are derived from batchSigs by anti-join
    * (same vectors, same seed) — never recomputed; drops here ARE
    * cosine-verified (the batch still holds its raw vectors). */
  private def inBatchVectorTier(
      fresh: DataFrame,
      batchSigs: DataFrame,
      seen: DataFrame,
      minCosine: Double,
      idCol: String,
      vecCol: String,
      bands: Int,
      maxBucketSize: Int): DataFrame = {
    val freshSigs = batchSigs.join(seen.withColumnRenamed(idCol, "id"),
      Seq("id"), "left_anti")
    val cand = Dedup.bandedSignaturesAgainst(freshSigs, freshSigs,
      defaultMaxHamming(minCosine), bands, maxBucketSize, None)
      .filter(col("batch_id") < col("corpus_id"))
    val vecs = fresh.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    val drops = cand
      .join(vecs.select(col("__vid").as("batch_id"), col("__v").as("__v1")), Seq("batch_id"))
      .join(vecs.select(col("__vid").as("corpus_id"), col("__v").as("__v2")), Seq("corpus_id"))
      .filter(cosine(col("__v1"), col("__v2")) >= minCosine)
      .select(col("corpus_id").as(idCol)).distinct()
    fresh.join(drops, Seq(idCol), "left_anti")
  }

  /** Near-duplicate vector pairs via SRP signatures + the SAME banded
    * join machinery as text SimHash ([[Dedup]]): `(id1, id2, cos_sim)`
    * with `id1 < id2` and `cos_sim >= minCosine`, exact-cosine-verified.
    *
    * Why this instead of [[lshNearDupPairs]] at 100 TB: distance-bucketed
    * LSH's bucket occupancy tracks data DENSITY — a corpus that clusters
    * (real embeddings do) floods buckets and the candidate join grows
    * superlinearly, while `bucketLength` needs per-corpus tuning (see
    * the trap documented on [[lshNearDupPairs]]). SRP band keys collide
    * at ~2^-16 per band for unrelated pairs REGARDLESS of density (bit i
    * is the sign of a random projection — fair coin for unrelated
    * vectors), there is no length knob, and the signatures persist as
    * incremental state the way text SimHash signatures do. Per-band
    * false-collision odds are density-free; candidate volume stays
    * linear, then exact cosine verifies every pair.
    *
    * Recall: a pair at cosine c disagrees on E[h] = 64·acos(c)/π bits
    * (hyperplane LSH); h ≤ 3 is CAUGHT by pigeonhole with 4 bands, and
    * `numTables` independent signature sets OR together for
    * 1−(1−r)^T recall on the probabilistic tail. The `maxHamming`
    * prune (default mean+3σ for `minCosine`) only trims verification
    * candidates — band collision, not the prune, decides recall. */
  def srpNearDupPairs(
      df: DataFrame,
      minCosine: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      numTables: Int = 2,
      maxHamming: Int = -1,
      maxBucketSize: Int = 10000,
      seed: Long = 4233L): DataFrame = {
    require(minCosine > -1.0 && minCosine < 1.0,
      s"minCosine must be in (-1, 1), got $minCosine")
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val mh = if (maxHamming >= 0) maxHamming else defaultMaxHamming(minCosine)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
    val candidates = (0 until numTables).map { t =>
      // distinct tables = distinct SRP direction sets (seed offset by a
      // 64-bit odd constant — any distinct seeds give independent planes)
      val sigs = srpSignatures(base, "id", "__v", seed + t * 0x9E3779B97F4A7C15L)
      val banded = Dedup.dropHotBuckets(Dedup.bandSignatures(sigs, bands), maxBucketSize)
      banded.select(col("band"), col("bits"), col("id").as("id1"), col("sig").as("__s1"))
        .join(banded.select(col("band"), col("bits"), col("id").as("id2"), col("sig").as("__s2")),
          Seq("band", "bits"))
        .filter(col("id1") < col("id2") &&
          Dedup.hamming(col("__s1"), col("__s2")) <= mh)
        .select("id1", "id2")
    }.reduce(_ unionByName _).distinct()
    // exact verification: join the (linear) candidate set back to the
    // vectors — false band collisions die here, so the output threshold
    // is exact cosine, not a signature approximation
    candidates
      .join(base.select(col("id").as("id1"), col("__v").as("__v1")), Seq("id1"))
      .join(base.select(col("id").as("id2"), col("__v").as("__v2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        cosine(col("__v1"), col("__v2")).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  def lshNearDupPairs(
      df: DataFrame,
      maxCosineDistance: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bucketLength: Double = 0.05,
      numHashTables: Int = 4): DataFrame = {
    val unit = df.select(col(idCol), col(vecCol),
      array_to_vector(l2Normalize(col(vecCol))).as("__unit"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__unit").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(4233L)
    val model = lsh.fit(unit)
    // on unit vectors: ||a-b||² = 2 − 2·cos ⇒ euclidean threshold
    val maxEuclidean = math.sqrt(2.0 * maxCosineDistance)
    model.approxSimilarityJoin(unit, unit, maxEuclidean, "__dist")
      .select(
        col(s"datasetA.$idCol").as("id1"),
        col(s"datasetB.$idCol").as("id2"),
        (lit(1.0) - col("__dist") * col("__dist") / 2.0).as("cos_sim"))
      .filter(col("id1") < col("id2"))
  }

  // ----------------------------------------------------------- SemDeDup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings (KMeans cells — the IVF machinery), then
    * dropping all but one member of every group of mutually-similar
    * vectors WITHIN a cell. The cluster step is what makes it scale:
    * candidate pairs are generated inside cells only, so the quadratic
    * term is Σ|cell|² instead of |corpus|² — with numCells ~ √N the
    * expected pair volume is linear in N.
    *
    * Groups are the connected components of the within-cell pair graph
    * (cos ≥ `minCosine`), so chains collapse to one survivor like the
    * text transitive mode. `keepPolicy`:
    *  - `far-from-centroid` (the paper's choice): keep the member with
    *    the LOWEST cosine to its cell centroid — of a redundant group,
    *    the most atypical copy preserves the most diversity;
    *  - `min-id`: stable arbitrary survivor (cheapest, no centroid
    *    join).
    *
    * Oversized cells (skewed corpora — KMeans happily puts 30% of a
    * templated corpus in one cell) are subdivided by the LEADING sign
    * bits of the SRP signature: each halving doubles the sub-buckets,
    * and a truly-similar pair (cos ≥ 0.95 ⇒ per-bit flip prob
    * θ/π ≤ 0.10) straddles a b-bit split with prob ≤ 1−0.9^b — the
    * same bounded-recall-loss guard as text SimHash's hot-bucket cap,
    * traded for never letting one cell go quadratic.
    *
    * Returns the SURVIVOR rows of `corpus` (original columns). EAGER:
    * the result is materialized and persisted (the KMeans-tagged
    * intermediate must be released before returning) — the caller owns
    * the handle and should `unpersist()` it when done, the `curate`
    * contract. KMeans is seeded but float-iteration-order dependent →
    * gate queries over this are rows-only with planted-group
    * assertions (the q25/q39 class).
    */
  def semDedup(
      corpus: DataFrame,
      numCells: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCosine: Double = 0.95,
      keepPolicy: String = "far-from-centroid",
      maxCellSize: Int = 100000,
      seed: Long = 4233L,
      maxIter: Int = 20): DataFrame = {
    require(numCells > 0, "numCells must be positive")
    // cluster the L2-NORMALIZED vectors (the paper's prep): KMeans
    // assigns by EUCLIDEAN distance, and on the unit sphere euclidean
    // is monotone in cosine — without normalization a vector and its
    // 2× rescale (cosine 1.0, a true semantic dup) can land in
    // different cells and never meet. Cosine is scale-invariant, so
    // pair similarity over normalized vectors equals the original.
    val prep = semDedupPrep(corpus, idCol, vecCol)
    val (model, tagged0) = ivfBuild(prep, numCells, "__nv", seed, maxIter)
    semDedupWithIndex(corpus, model, tagged0, idCol, vecCol, minCosine,
      keepPolicy, maxCellSize, seed)
  }

  /** The `(id, __nv)` frame [[semDedup]] clusters — exposed so a caller
    * can [[ivfEnsure]] this exact prep under a marker-gated state dir
    * and pay the KMeans fit once per corpus version. */
  def semDedupPrep(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("__nv"))

  /** [[semDedup]] against a PREBUILT cell index — `model` + `tagged`
    * (the `(id, __nv, cell)` frame [[ivfBuild]]/[[ivfEnsure]] return
    * over [[semDedupPrep]]). This is the production arrival path: the
    * KMeans fit is paid once per corpus version ([[ivfEnsure]]'s
    * `_BUILT` marker), every subsequent dedup pass reads the persisted
    * assignment. */
  def semDedupWithIndex(
      corpus: DataFrame,
      model: KMeansModel,
      tagged0: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCosine: Double = 0.95,
      keepPolicy: String = "far-from-centroid",
      maxCellSize: Int = 100000,
      seed: Long = 4233L): DataFrame = {
    require(Set("far-from-centroid", "min-id").contains(keepPolicy),
      s"unknown keepPolicy: $keepPolicy")
    require(maxCellSize > 1, "maxCellSize must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the tagged frame feeds pair-gen twice (both join sides) + the
    // centroid join — persist or the KMeans transform re-runs per
    // consumer (the R19 cache-before-fan-out rule)
    val tagged = tagged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // hot-cell guard: cells beyond maxCellSize get a sub-key from the
      // top ceil(log2(cnt/max)) SRP sign bits. Cell counts are ≤
      // numCells rows — broadcast.
      val cellCounts = tagged.groupBy("cell").agg(count(lit(1)).as("__n"))
        .withColumn("__subBits",
          ceil(log(2.0, col("__n").cast("double") / maxCellSize))
            .cast("int")) // ≤ 0 when the cell fits
      val keyed = tagged
        .join(broadcast(cellCounts.select(col("cell"), col("__subBits"))), Seq("cell"))
        .withColumn("__sub",
          when(col("__subBits") <= 0, lit(0L))
            .otherwise(call_function("shiftrightunsigned",
              graft.functions.GraftFunctions.srp(col("__nv"), seed),
              (lit(64) - col("__subBits")).cast("int"))))
      val left = keyed.select(col("cell"), col("__sub"),
        col("id").as("id1"), col("__nv").as("__v1"))
      val right = keyed.select(col("cell"), col("__sub"),
        col("id").as("id2"), col("__nv").as("__v2"))
      val pairs = left.join(right, Seq("cell", "__sub"))
        .filter(col("id1") < col("id2"))
        .filter(cosine(col("__v1"), col("__v2")) >= minCosine)
        .select("id1", "id2")
      val members = Dedup.connectedComponents(pairs) // (id, label)
      val dropIds = keepPolicy match {
        case "min-id" =>
          members.filter(col("id") =!= col("label")).select(col("id"))
        case "far-from-centroid" =>
          // centroid cosine for MEMBERS only (the pair graph is orders
          // of magnitude smaller than the corpus); centroids broadcast
          val cents = model.clusterCenters.zipWithIndex.map { case (v, i) =>
            (i, v.toArray.map(_.toFloat))
          }.toSeq.toDF("cell", "__centroid")
          val w = Window.partitionBy("label")
            .orderBy(col("__ccos").asc, col("id").asc)
          members
            .join(tagged.select(col("id"), col("cell"), col("__nv")), Seq("id"))
            .join(broadcast(cents), Seq("cell"))
            .withColumn("__ccos", cosine(col("__nv"), col("__centroid")))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") =!= 1)
            .select(col("id"))
      }
      val survivors = corpus.join(
        dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      // materialize before unpersisting the tagged frame the plan reads
      survivors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      survivors
    } finally { tagged.unpersist(); () }
  }
}
