package graft

import org.apache.spark.sql.functions._
import graft.llm.Similarity

/** Embedding similarity search over embeddings testdata. */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/../sf0.01/embeddings.parquet").cache()

  test("cosine/dot/norm2 agree with driver-side math") {
    val r = emb.filter(col("vec_id") < 2).collect()
      .map(x => x.getSeq[Float](1).toArray).toArray
    val want = {
      val (a, b) = (r(0).map(_.toDouble), r(1).map(_.toDouble))
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val a = emb.filter(col("vec_id") === 0).select(col("embedding").as("a"))
    val b = emb.filter(col("vec_id") === 1).select(col("embedding").as("b"))
    val got = a.crossJoin(b).select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - want) < 1e-9)
  }

  test("l2Normalize produces unit vectors") {
    val n = emb.limit(5)
      .select(Similarity.norm2(Similarity.l2Normalize(col("embedding"))).as("n"))
      .collect().map(_.getDouble(0))
    assert(n.forall(x => math.abs(x - 1.0) < 1e-5))
  }

  test("bruteForceTopK: k ranked neighbors per query, no self-match") {
    val queries = emb.filter(col("vec_id") < 3)
    val top = Similarity.bruteForceTopK(queries, emb, k = 5).cache()
    assert(top.count() == 15)
    assert(top.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // ranks are 1..5 and cos_sim non-increasing within each query
    val byQ = top.collect().groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).sameElements(1L to 5L))
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
    top.unpersist()
  }

  test("heap-aggregator top-k == window top-k (exact parity incl. tie order)") {
    val queries = emb.filter(col("vec_id") < 5)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__cv")).as("cos_sim")).cache()
    val viaAgg = Similarity.bruteForceTopK(queries, emb, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val viaWin = Similarity.rankTopKWindow(scored, 7)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(viaAgg == viaWin)
    scored.unpersist()
  }

  test("top-k aggregator does map-side partial aggregation (plan check)") {
    val plan = Similarity.bruteForceTopK(emb.limit(3), emb, 5)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate appears twice: partial (before exchange) + final
    assert(plan.split("ObjectHashAggregate").length - 1 >= 2,
      s"no partial aggregation:\n$plan")
  }

  test("bruteForceTopK broadcasts the query side (plan check)") {
    val plan = Similarity.bruteForceTopK(emb.limit(3), emb, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("IVF top-k ≈ brute force (high recall at nprobe=4/8 cells)") {
    val (model, tagged) = Similarity.ivfBuild(emb, numCells = 8)
    val queries = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(queries, tagged, model, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low") // 4/8 cells probed
    assert(ivf.size == brute.size)
  }

  test("IVF probes prune the corpus (candidate count < full scan)") {
    val (model, tagged) = Similarity.ivfBuild(emb, numCells = 8)
    // each query joins only its nprobe cells: candidate rows ≤ corpus
    val cellSizes = tagged.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cellSizes.size == 8)
    assert(cellSizes.values.sum == emb.count())
  }

  test("bruteForceTopK works with string ids (window fallback) and zero vectors (NaN excluded)") {
    import spark.implicits._
    val corpus = emb.limit(20)
      .select(concat(lit("doc-"), col("vec_id")).as("vec_id"), col("embedding"))
    val top = Similarity.bruteForceTopK(corpus.limit(2), corpus, k = 3)
    assert(top.count() == 6) // string ids rank via the window fallback
    // a zero vector scores cosine 0 everywhere but must not crash ranking
    val zero = Seq(("zero", Array.fill(64)(0.0f).toSeq)).toDF("vec_id", "embedding")
    val withZero = corpus.union(zero)
    assert(Similarity.bruteForceTopK(withZero.limit(2), withZero, k = 3).count() == 6)
  }

  test("ivfSave/ivfLoad roundtrip: same results, cell-partitioned layout prunes") {
    val (model, tagged) = Similarity.ivfBuild(emb, numCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfSave(model, tagged, dir)
    val (m2, corpus2) = Similarity.ivfLoad(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val a = Similarity.ivfTopK(queries, tagged, model, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.ivfTopK(queries, corpus2, m2, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // layout: one directory per cell → probe reads only its cells
    val cellDirs = new java.io.File(s"$dir/corpus").listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == 8)
    // the probe plan on the partitioned corpus carries a partition filter
    val plan = Similarity.ivfTopK(queries, corpus2, m2, k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), s"no partition pruning:\n$plan")
  }

  test("ivfRecallVsBrute: probing every cell must reproduce brute force exactly") {
    val queries = emb.filter(col("vec_id") < 5)
    val rec = Similarity.ivfRecallVsBrute(queries, emb, k = 5, numCells = 8, nprobe = 8)
      .collect()
    assert(rec.length == 5)
    rec.foreach { r =>
      assert(r.getAs[Long]("n_true") == 5)
      assert(r.getAs[Double]("recall") == 1.0,
        s"query ${r.get(0)}: recall ${r.getAs[Double]("recall")} != 1.0 at nprobe=numCells")
    }
  }

  test("ivfRecallVsBrute: recall floor on clustered data at nprobe=2/8 cells") {
    val rnd = new scala.util.Random(4233)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val rec = Similarity.ivfRecallVsBrute(
      df.filter(col("vec_id") < 8), df, k = 5, numCells = 8, nprobe = 2)
    val mean = rec.agg(avg("recall")).head().getDouble(0)
    // neighbors of a clustered point live in its own cell; probing the
    // 2 nearest of 8 cells must capture nearly all of them
    assert(mean >= 0.9, s"mean recall $mean below clustered-data floor")
  }

  test("ivfEnsure builds once, then serves the persisted index (q25's shape)") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString + "/index"
    val queries = emb.filter(col("vec_id") < 5)
    def recallRows() = {
      val (model, tagged) = Similarity.ivfEnsure(emb, numCells = 8, indexDir = idx)
      Similarity.probeRecall(
        Similarity.bruteForceTopK(queries, emb, k = 5).select("query_id", "neighbor_id"),
        Similarity.ivfTopK(queries, tagged, model, k = 5, nprobe = 8)
          .select("query_id", "neighbor_id"))
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    }
    val first = recallRows()
    assert(new java.io.File(idx, "_BUILT").exists, "marker not written after build")
    // second call must LOAD (marker present), and at nprobe == numCells
    // the persisted-index probe reproduces brute force exactly — same
    // floor the build-per-call harness pins above
    val kmeansDir = new java.io.File(idx, "kmeans")
    val mtime = kmeansDir.lastModified
    val second = recallRows()
    assert(kmeansDir.lastModified == mtime, "second call rebuilt the index")
    assert(first == second)
    assert(first.values.forall(_ == 1.0), s"full-probe recall != 1.0: $first")
    // a missing marker (crashed half-write) forces a rebuild
    assert(new java.io.File(idx, "_BUILT").delete())
    recallRows()
    assert(new java.io.File(idx, "_BUILT").exists, "rebuild did not restore the marker")
  }

  test("lshNearDupPairs finds planted near-identical vectors, bucketed join") {
    // plant a near-copy of vec 0 (tiny perturbation on one coordinate)
    val planted = emb.filter(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
    val df = emb.select("vec_id", "embedding").union(planted)
    val pairs = Similarity.lshNearDupPairs(df, maxCosineDistance = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9999L)), s"planted pair missing from $pairs")
  }

  // ---------------------------------------------------------------- SRP

  test("graft_srp: deterministic, float/double parity, inside codegen") {
    val f = emb.select(graft.functions.GraftFunctions.srp(col("embedding")).as("s"))
    val d = emb.select(graft.functions.GraftFunctions.srp(
      transform(col("embedding"), _.cast("double"))).as("s"))
    assert(f.collect().map(_.getLong(0)).toSeq == d.collect().map(_.getLong(0)).toSeq,
      "float and double arrays must hash to the same signature")
    // repartitioning must not change signatures (pure function of vector)
    val a = emb.select(col("vec_id"), graft.functions.GraftFunctions.srp(col("embedding")).as("s"))
    val b = emb.repartition(7)
      .select(col("vec_id"), graft.functions.GraftFunctions.srp(col("embedding")).as("s"))
    assert(a.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      b.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // different seeds give different (independent) signatures
    val s2 = emb.select(graft.functions.GraftFunctions.srp(col("embedding"), seed = 7L).as("s"))
    assert(f.collect().map(_.getLong(0)).toSeq != s2.collect().map(_.getLong(0)).toSeq)
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected WholeStageCodegen:\n$plan")
    // SQL form == Column form
    emb.limit(8).createOrReplaceTempView("__srp_t")
    val viaSql = spark.sql("SELECT graft_srp(embedding) AS s FROM __srp_t")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = emb.limit(8)
      .select(graft.functions.GraftFunctions.srp(col("embedding")).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
  }

  test("SRP hyperplane property: near pairs few bits apart, unrelated near 32") {
    import graft.llm.Dedup
    // near-copy: perturb every coordinate by 0.1% → cosine ~0.9999995
    val near = emb.select(col("vec_id"),
      graft.functions.GraftFunctions.srp(col("embedding")).as("s1"),
      graft.functions.GraftFunctions.srp(
        transform(col("embedding"), x => x * lit(1.001f))).as("s2"))
      .select(Dedup.hamming(col("s1"), col("s2")).as("h"))
      .agg(avg("h"), max("h")).head()
    assert(near.getDouble(0) < 2.0, s"near pairs should differ on ~0 bits, got avg ${near.getDouble(0)}")
    // unrelated random vectors: P[bit differs] = 1/2 → hamming ~ Binom(64, .5)
    val far = emb.filter(col("vec_id") < 200)
      .select(col("vec_id").as("id1"), graft.functions.GraftFunctions.srp(col("embedding")).as("s1"))
      .crossJoin(emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
        .select(col("vec_id").as("id2"), graft.functions.GraftFunctions.srp(col("embedding")).as("s2")))
      .select(Dedup.hamming(col("s1"), col("s2")).as("h"))
      .agg(avg("h")).head().getDouble(0)
    assert(far > 28 && far < 36, s"unrelated pairs should average ~32 bits apart, got $far")
  }

  test("ivfAppend grows a persisted index without retraining; probes see new vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val oldHalf = emb.filter(col("vec_id") < 250)
    val newHalf = emb.filter(col("vec_id") >= 250 && col("vec_id") < 500)
    val (model, tagged) = Similarity.ivfBuild(oldHalf, numCells = 8)
    Similarity.ivfSave(model, tagged, dir)
    Similarity.ivfAppend(model, newHalf, dir)
    val (loadedModel, loadedCorpus) = Similarity.ivfLoad(spark, dir)
    assert(loadedCorpus.count() == 500, "append must grow the persisted corpus")
    // probing every cell over the grown index == brute force over the
    // union: appended vectors are fully searchable
    val queries = emb.filter(col("vec_id") < 3)
    val viaIndex = Similarity.ivfTopK(queries, loadedCorpus, loadedModel,
      k = 5, nprobe = 8).select("query_id", "neighbor_id")
    val brute = Similarity.bruteForceTopK(queries,
      oldHalf.unionByName(newHalf), k = 5).select("query_id", "neighbor_id")
    val rec = Similarity.probeRecall(brute, viaIndex)
      .agg(min("recall")).head().getDouble(0)
    assert(rec == 1.0, s"full-probe recall over the appended index must be exact, got $rec")
  }

  test("int8 quantize/dequantize: byte range, zero-vector safety, direction fidelity") {
    val q = Similarity.quantize(emb).cache()
    // every element is a genuine byte; scale reconstructs max|x|
    val schema = q.schema("q_vec").dataType
    assert(schema == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false) ||
      schema.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.ByteType)
    val deq = q.select(col("vec_id"),
      Similarity.dequantize(col("q_vec"), col("q_scale")).as("deq"))
    val minSelfCos = emb.join(deq, "vec_id")
      .select(Similarity.cosine(col("embedding"), col("deq")).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(minSelfCos > 0.999, s"int8 round-trip lost direction: $minSelfCos")
    // zero vector → scale 0, zero bytes, stays zero after round-trip
    val z = Seq((99L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantize(z)
      .select(Similarity.dequantize(col("q_vec"), col("q_scale")).as("d")).head()
    assert(zq.getSeq[Float](0).forall(_ == 0.0f))
    q.unpersist()
  }

  test("dropSeenVectors: two-batch incremental — echoes dropped, fresh kept, in-batch pair collapsed") {
    // "yesterday's corpus": vectors 0..99 → persisted signature state
    val corpus = emb.filter(col("vec_id") < 100)
    val state = Similarity.srpSignatures(corpus).cache()
    // today's batch: 10 near-echoes of corpus vectors (perturbed copies,
    // id+5000), 20 genuinely fresh vectors (200..219), and one in-batch
    // near-dup pair (7000, 7001 = perturbed copy of the SAME fresh vector)
    val echoes = corpus.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001f)).cast("float")).as("embedding"))
    val freshSrc = emb.filter(col("vec_id") >= 200 && col("vec_id") < 220)
    val pairA = emb.filter(col("vec_id") === 300)
      .select(lit(7000L).as("vec_id"), col("embedding"))
    val pairB = emb.filter(col("vec_id") === 300)
      .select(lit(7001L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(0.999f)).cast("float")).as("embedding"))
    val batch = echoes.unionByName(freshSrc.select("vec_id", "embedding"))
      .unionByName(pairA).unionByName(pairB).cache()
    val surv = Similarity.dropSeenVectors(batch, state, minCosine = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((5000L until 5010L).forall(!surv.contains(_)), s"echoes survived: $surv")
    assert((200L until 220L).forall(surv.contains), s"fresh rows dropped: $surv")
    assert(surv.contains(7000L) && !surv.contains(7001L),
      s"in-batch pair must keep the lower id only: $surv")
    // inBatchNear = false keeps both halves of the in-batch pair
    val noTier = Similarity.dropSeenVectors(batch, state, minCosine = 0.99,
      inBatchNear = false).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(noTier.contains(7000L) && noTier.contains(7001L))
    // per-tier attribution from observations of the one pass: of 32
    // batch rows the corpus tier drops the 10 echoes → 22, the in-batch
    // tier drops 7001 → 21 survivors
    val counts = new graft.cli.Cli.StageLog
    val nBatch, nFresh, nOut = counts.counter()
    val observed = Similarity.dropSeenVectors(nBatch.observe(batch), state,
      minCosine = 0.99, observeTier = nFresh.observe)
    assert(nOut.observe(observed).select("vec_id").collect().map(_.getLong(0)).toSet == surv)
    observed.unpersist()
    counts.resolve()
    val n = Seq(nBatch, nFresh, nOut).map(_.rows)
    assert(n == Seq(32L, 22L, 21L), s"batch, after corpus tier, survivors: $n")
    batch.unpersist(); state.unpersist()
  }

  test("srpNearDupPairs: planted pairs found + exact-verified, unrelated excluded") {
    // plant near-copies of vecs 0..19 (deterministic per-coordinate noise)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 9000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.002) * sin(col("vec_id") * 31 + i))).cast("float"))
          .as("embedding"))
    val df = emb.select("vec_id", "embedding").union(planted).cache()
    val pairs = Similarity.srpNearDupPairs(df, minCosine = 0.99).cache()
    val ids = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0L until 20L).map(i => (i, i + 9000L)).toSet
    val hit = wanted.intersect(ids).size
    assert(hit >= 18, s"expected >=18/20 planted pairs, found $hit: $ids")
    // every returned pair is exact-verified above the threshold, ordered
    assert(pairs.filter(col("cos_sim") < 0.99 || col("id1") >= col("id2")).count() == 0)
    // random testdata pairs (max natural cosine ~0.47) never pass
    assert(ids.forall { case (a, b) => b - a == 9000L },
      s"unrelated pair leaked through exact verification: $ids")
    pairs.unpersist(); df.unpersist()
  }

  test("semDedup: planted semantic groups collapse to one survivor each, others untouched") {
    // groups of 3: base vec + a rescale (cos 1.0) + a tiny perturbation
    val base = emb.filter(col("vec_id") < 200).select("vec_id", "embedding")
    val rescaled = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => (x * 1.5f).cast("float")).as("embedding"))
    val noisy = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.002) * sin(col("vec_id") * 31 + i))).cast("float"))
          .as("embedding"))
    val corpus = base.union(rescaled).union(noisy).cache()
    val survivors = Similarity.semDedup(corpus, numCells = 8, minCosine = 0.99,
      keepPolicy = "min-id", maxIter = 8)
    val ids = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    // each planted triple {i, i+10000, i+20000} keeps exactly min = i
    for (i <- 0L until 20L) {
      assert(ids.contains(i), s"group min $i must survive")
      assert(!ids.contains(i + 10000L) && !ids.contains(i + 20000L),
        s"semantic copies of $i must be dropped")
    }
    // vectors without planted copies are untouched (natural max cos ~0.47)
    assert((20L until 200L).forall(ids.contains),
      "non-duplicated vectors must all survive")
    assert(survivors.count() == 200)
    survivors.unpersist()

    // far-from-centroid policy: still one survivor per group, and the
    // group sizes/count match min-id (only the REPRESENTATIVE differs)
    val surv2 = Similarity.semDedup(corpus, numCells = 8, minCosine = 0.99,
      keepPolicy = "far-from-centroid", maxIter = 8)
    val ids2 = surv2.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv2.count() == 200)
    for (i <- 0L until 20L) {
      val group = Set(i, i + 10000L, i + 20000L)
      assert(group.intersect(ids2).size == 1,
        s"exactly one of $group must survive, got ${group.intersect(ids2)}")
    }
    surv2.unpersist(); corpus.unpersist()
  }

  test("semDedup hot-cell guard subdivides without losing planted pairs (within sub-bucket)") {
    // force subdivision: 2 cells over 200 vectors with a tiny
    // maxCellSize forces SRP-bit splits (KMeans requires k >= 2).
    // Planted rescales have cos 1.0 with their base — identical SRP
    // sign bits — so they always share the sub-bucket and must still
    // be dropped.
    val base = emb.filter(col("vec_id") < 100).select("vec_id", "embedding")
    val rescaled = base.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"), x => (x * 2.0f).cast("float")).as("embedding"))
    val corpus = base.union(rescaled).cache()
    val survivors = Similarity.semDedup(corpus, numCells = 2, minCosine = 0.999,
      keepPolicy = "min-id", maxCellSize = 25, maxIter = 2)
    val ids = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((0L until 100L).forall(ids.contains), "bases must survive")
    assert(ids.forall(_ < 10000L), s"all rescaled copies must drop (same sub-bucket as base)")
    survivors.unpersist(); corpus.unpersist()
  }

  // ------------------------------------------- product quantization (PQ)

  test("pqTrain/pqEncode/pqDecode: valid codes, shuffle-free encode, " +
      "reconstruction points the right way") {
    val cb = Similarity.pqTrain(emb, m = 8, k = 16, maxIter = 8)
    assert(cb.m == 8 && cb.k == 16 && cb.dim == 64 && cb.subDim == 8)
    val codes = Similarity.pqEncode(emb, cb).cache()
    assert(codes.count() == emb.count())
    assert(codes.select(explode(col("pq_codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= 16).count() == 0, "codes out of range")
    // encode is a pure scan projection — no shuffle, no model object
    val plan = Similarity.pqEncode(emb, cb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pqEncode must not shuffle:\n$plan")
    // reconstruction fidelity: self-cosine far above the ~0 of a random
    // 64-dim direction (the floor is empirical on the gate embeddings)
    val selfCos = codes.join(emb, "vec_id")
      .select(Similarity.cosine(col("embedding"),
        Similarity.pqDecode(col("pq_codes"), cb)).as("c"))
      .agg(avg("c"), min("c")).head()
    assert(selfCos.getDouble(0) >= 0.6,
      s"avg reconstruction cosine ${selfCos.getDouble(0)}")
    assert(selfCos.getDouble(1) >= 0.2,
      s"min reconstruction cosine ${selfCos.getDouble(1)}")
    codes.unpersist()
  }

  test("pqAdcTopKReranked with full oversample reproduces brute force exactly " +
      "(shortlist covers the corpus, re-rank is the native cosine)") {
    val cb = Similarity.pqTrain(emb, m = 8, k = 16, maxIter = 2)
    val codes = Similarity.pqEncode(emb, cb)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Similarity.pqAdcTopKReranked(queries, codes, cb, emb,
        k = 5, oversample = 100) // 5·100 ≥ |corpus| → shortlist = everything
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "full-oversample re-rank must equal brute force incl. rank")
  }

  test("pqRecallVsBrute: ADC shortlist + exact re-rank holds a recall floor " +
      "at 32× compression") {
    val queries = emb.filter(col("vec_id") < 20)
    val rec = Similarity.pqRecallVsBrute(queries, emb, k = 10, m = 8,
      kPerSub = 32, oversample = 8, maxIter = 8).cache()
    assert(rec.count() == 20)
    val avgRecall = rec.agg(avg("recall")).head().getDouble(0)
    assert(avgRecall >= 0.8, s"avg recall $avgRecall at oversample=8")
    rec.unpersist()
  }

  test("ivfPqTopK: probing every cell with full oversample reproduces brute " +
      "force; pruned probes hold a recall floor") {
    val (model, tagged) = Similarity.ivfBuild(emb, numCells = 8)
    val cb = Similarity.pqTrain(emb, m = 8, k = 32, maxIter = 8)
    val taggedCodes = Similarity.pqEncode(tagged, cb)
      .join(tagged.select("vec_id", "cell"), "vec_id").cache()
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all cells + shortlist covering the corpus → exact, incl. rank
    val exact = Similarity.ivfPqTopK(queries, taggedCodes, model, cb, emb,
        k = 5, nprobe = 8, oversample = 100)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact == brute, "nprobe=numCells + full oversample must equal brute force")
    // pruned: half the cells, byte-sized codes, small shortlist
    val pruned = Similarity.ivfPqTopK(queries, taggedCodes, model, cb, emb,
        k = 5, nprobe = 4, oversample = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = (pruned & bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.5, s"IVF-PQ recall $recall at nprobe=4/8, oversample=8")
    taggedCodes.unpersist()
  }

  test("native ADC cosine is bit-identical to the HOF reference form and " +
      "stays inside whole-stage codegen") {
    val cb = Similarity.pqTrain(emb, m = 8, k = 16, maxIter = 4)
    val codes = Similarity.pqEncode(emb, cb)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      .withColumn("__lut", Similarity.adcLut(col("__qv"), cb))
      .withColumn("__qnorm", Similarity.norm2(col("__qv")))
      .select("query_id", "__lut", "__qnorm")
    val scored = codes.crossJoin(broadcast(q)).select(
      col("vec_id"), col("query_id"),
      graft.functions.PqAdc.cosine(col("pq_codes"), col("__lut"), col("__qnorm"), cb.normSqArr)
        .as("native"),
      Similarity.adcCosineRef(col("pq_codes"), col("__lut"), col("__qnorm"), cb)
        .as("ref"))
    assert(scored.filter(col("native") =!= col("ref")).count() == 0,
      "native ADC must match the HOF form bit-for-bit")
    assert(scored.count() == emb.count() * 5)
    // the NATIVE scoring projection stays inside whole-stage codegen
    // (the HOF reference form above is CodegenFallback — that is the
    // point of the native expression); AQE finalizes on the action
    val nativeOnly = codes.crossJoin(broadcast(q)).select(
      graft.functions.PqAdc.cosine(col("pq_codes"), col("__lut"), col("__qnorm"), cb.normSqArr)
        .as("native"))
    nativeOnly.collect()
    val plan = nativeOnly.queryExecution.executedPlan.toString
    // AQE's final-plan string marks codegen stages with "*(n)"
    assert("""\*\(\d+\) Project \[graft_pq_adc""".r.findFirstIn(plan).isDefined,
      s"native ADC projection must be whole-stage codegen'd:\n${plan.take(2000)}")
    // type misuse is rejected at analysis, not at runtime
    intercept[Exception] {
      codes.select(graft.functions.PqAdc.cosine(col("pq_codes"), col("pq_codes"),
        lit(1.0), cb.normSqArr)).collect()
    }
    // codes persisted under a different-m codebook fail loudly instead
    // of scoring a prefix reconstruction (review finding — the encode
    // path got this guard earlier; the ADC read path mirrors it)
    val cbSmall = Similarity.pqTrain(emb, m = 4, k = 16, maxIter = 4)
    val qS = emb.filter(col("vec_id") < 2)
      .select(Similarity.adcLut(col("embedding"), cbSmall).as("__lut"),
        Similarity.norm2(col("embedding")).as("__qnorm"))
    val mErr = intercept[Exception] {
      codes.crossJoin(broadcast(qS)).select(
        graft.functions.PqAdc.cosine(col("pq_codes"), col("__lut"),
          col("__qnorm"), cbSmall.normSqArr)).collect()
    }
    assert(mErr.getMessage != null &&
      (mErr.getMessage.contains("subspaces") ||
        String.valueOf(mErr.getCause).contains("subspaces")),
      s"got: ${mErr.getMessage}")
  }

  test("native PQ encoder emits the HOF reference codes exactly") {
    val cb = Similarity.pqTrain(emb, m = 8, k = 16, maxIter = 4)
    val native = Similarity.pqEncode(emb, cb)
    val ref = Similarity.pqEncodeRef(emb, cb)
    val joined = native.join(ref.withColumnRenamed("pq_codes", "ref_codes"), "vec_id")
    assert(joined.filter(col("pq_codes") =!= col("ref_codes")).count() == 0,
      "native encode must match the HOF argmin code-for-code")
    assert(native.count() == emb.count())
    intercept[Exception] {
      emb.select(graft.functions.PqAdc.encode(col("vec_id"), cb.centroids, cb.subDim))
        .collect()
    }
    // a dim-mismatched vector fails loudly instead of reading past the
    // buffer into garbage codes (review finding)
    import spark.implicits._
    val short = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      Similarity.pqEncode(short, cb).collect()
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("codebook expects") ||
        Option(err.getCause).exists(_.getMessage.contains("codebook expects"))),
      s"want the dim-contract error, got: ${err.getMessage}")
  }

  test("pqSave/pqLoad/pqEnsure: codebook round-trips; ensure loads the artifact") {
    val cb = Similarity.pqTrain(emb, m = 4, k = 8, maxIter = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Similarity.pqSave(cb, spark, s"$dir/codebook")
    val got = Similarity.pqLoad(spark, s"$dir/codebook")
    assert(got.subDim == cb.subDim && got.m == cb.m && got.k == cb.k)
    def deep(c: Similarity.PqCodebook) = c.centroids.map(_.map(_.toSeq).toSeq).toSeq
    assert(deep(got) == deep(cb), "centroids must round-trip bit-identically")
    // ensure: second call must LOAD (marker present), not retrain —
    // codes computed against both must agree everywhere
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pq-ensure").toString
    val e1 = Similarity.pqEnsure(emb, m = 4, k = 8, indexDir = dir2, maxIter = 4)
    val e2 = Similarity.pqEnsure(emb, m = 4, k = 8, indexDir = dir2, maxIter = 4)
    assert(deep(e1) == deep(e2))
    val mismatches = Similarity.pqEncode(emb, e1).withColumnRenamed("pq_codes", "a")
      .join(Similarity.pqEncode(emb, e2).withColumnRenamed("pq_codes", "b"), "vec_id")
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }
}
