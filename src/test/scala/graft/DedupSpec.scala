package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Dedup tiers over documents testdata + planted duplicates. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** documents + exact copies of docs 0,1 and a near-copy of doc 2. */
  private lazy val withDups = {
    val base = docs.select("doc_id", "text")
    val exact = base.filter(col("doc_id") < 2)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id") === 2)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text"))
    base.union(exact).union(near).cache()
  }

  test("exactDuplicateGroups finds planted copies, one shuffle (tier 1)") {
    val groups = Dedup.exactDuplicateGroups(withDups, "text", "doc_id")
    val dups = groups.filter(col("n_copies") > 1).collect()
    assert(dups.length == 2)
    assert(dups.map(_.getAs[Long]("keep_id")).sorted.sameElements(Array(0L, 1L)))
    val plan = groups.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, s"more than one shuffle:\n$plan")
  }

  test("dropExactDuplicates keeps the lowest id per content") {
    val out = Dedup.dropExactDuplicates(withDups, "text", "doc_id")
    assert(out.count() == withDups.count() - 2)
    assert(out.filter(col("doc_id") isin (10000L, 10001L)).count() == 0)
    assert(out.filter(col("doc_id") === 0L).count() == 1)
  }

  test("shingles builds distinct word n-grams") {
    val s = spark.range(1).select(Dedup.shingles(lit("a b c d"), 3)).head().getSeq[String](0)
    assert(s.toSet == Set("a b c", "b c d"))
    val short = spark.range(1).select(Dedup.shingles(lit("a b"), 3)).head().getSeq[String](0)
    assert(short.toSet == Set("a b")) // shorter than n → one truncated shingle
  }

  test("shingles binds its tokens once: the same arrays as the per-shingle " +
      "re-tokenizing formula, on edge cases and generated texts") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the formula before the tokens were bound once
    def reTokenizing(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = Dedup.tokens(c)
      array_distinct(
        filter(
          transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
          s => length(s) > 0))
    }
    val edges = Seq("", "   ", "\t\n ", "a", "a b", "a a a a a a", "x y x y x y",
      "one\ttwo\nthree\r\nfour", "   leading spaces here", "Mixed CASE mixed Case",
      "trailing  ")
    val word = Gen.oneOf("a", "B", "the", "The", "x1", "é", "##", "")
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val text = Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, Gen.zip(word, sep)))
      .map(_.map { case (w, s) => w + s }.mkString)
    val generated = (0 until 200).flatMap(i => text(Gen.Parameters.default, Seed(i.toLong)))
    val df = (edges ++ generated).map(Option(_)).:+(None).toDF("text")
    (1 to 4).foreach { n =>
      val mism = df.filter(!(Dedup.shingles(col("text"), n) <=>
        reTokenizing(col("text"), n))).collect()
      assert(mism.isEmpty, s"n=$n differs on ${mism.map(_.get(0)).mkString("|")}")
    }
  }

  test("minHashNearDups finds planted exact+near dups, not unrelated docs (tier 2)") {
    val pairs = Dedup.minHashNearDups(withDups, "doc_id", "text",
      maxJaccardDistance = 0.5, numHashTables = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10000L)), s"missing exact pair in $pairs")
    assert(pairs.contains((1L, 10001L)), s"missing exact pair in $pairs")
    assert(pairs.contains((2L, 20002L)), s"missing near pair in $pairs")
  }

  test("simHash is deterministic, insensitive to small edits, 64-bit (tier 3)") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      ("b", "the quick brown fox jumps over the lazy dog and runs far away home today"),
      ("c", "completely different words about database engines and query optimization plans")
    ).toDF("id", "text").withColumn("sig", Dedup.simHash(col("text")))
    val sigs = df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val near = java.lang.Long.bitCount(sigs("a") ^ sigs("b"))
    val far = java.lang.Long.bitCount(sigs("a") ^ sigs("c"))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
    // deterministic across evaluations
    val again = Seq(("a", "the quick brown fox jumps over the lazy dog and runs far away home tonight"))
      .toDF("id", "text").select(Dedup.simHash(col("text"))).head().getLong(0)
    assert(again == sigs("a"))
  }

  test("simHashNearDups banded join finds identical docs (tier 3)") {
    val pairs = Dedup.simHashNearDups(withDups, "doc_id", "text", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10000L)))
    assert(pairs.contains((1L, 10001L)))
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDups(withDups, "doc_id", "text", maxHamming = 4, bands = 4)
    }
  }

  test("ngramJaccard: identical → 1, disjoint → 0 (tier 4)") {
    val row = spark.range(1).select(
      Dedup.ngramJaccard(lit("a b c d e"), lit("a b c d e")).as("same"),
      Dedup.ngramJaccard(lit("a b c d e"), lit("v w x y z")).as("diff")).head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getDouble(1) == 0.0)
  }

  test("verifyPairs filters LSH candidates by exact Jaccard") {
    val candidates = Seq((0L, 10000L), (0L, 3L)).toDF("id1", "id2")
    val verified = Dedup.verifyPairs(candidates, withDups, "doc_id", "text", minJaccard = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(0))) // join reorders cols: id2, id1, ...
    assert(verified.length == 1) // only the planted exact copy survives
  }

  test("verifyPairs over a precomputed shingle column == on-the-fly form") {
    val candidates = Seq((0L, 10000L), (0L, 3L), (2L, 20002L)).toDF("id1", "id2")
    val docsSh = withDups.withColumn("__sh", Dedup.shingles(col("text"), 3))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        BigDecimal(r.getAs[Double]("jaccard")).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    val onTheFly = Dedup.verifyPairs(candidates, withDups, "doc_id", "text", minJaccard = 0.1)
      .collect().map(key).toSet
    val stored = Dedup.verifyPairs(candidates, docsSh, "doc_id", "text", minJaccard = 0.1,
      shingleCol = Some("__sh")).collect().map(key).toSet
    assert(onTheFly == stored)
  }

  test("simHashNearDups oversized-bucket guard bounds the banded join") {
    // 30 byte-identical docs share every band bucket → 435 quadratic
    // pairs without the guard; a planted near-pair lives in small buckets
    val boiler = (100L until 130L).map(i => (i, "this boilerplate footer repeats verbatim on every single page of the site"))
    val near = Seq( // identical → hamming 0, 2-row buckets (below the cap)
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val guarded = Dedup.simHashNearDups(df, "doc_id", "text",
      maxHamming = 3, bands = 4, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded.contains((1L, 2L)), s"near pair lost by the guard: $guarded")
    assert(!guarded.exists { case (a, b) => a >= 100L && b >= 100L },
      s"oversized boilerplate bucket not dropped: $guarded")
    val unguarded = Dedup.simHashNearDups(df, "doc_id", "text",
      maxHamming = 3, bands = 4, maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.count { case (a, b) => a >= 100L && b >= 100L } == 30 * 29 / 2)
  }

  test("multi-probe banding (probe=1): radius-7 pairs on 4 bands of 16 bits " +
      "== brute force; the adversarial 2/2/2/1 spread that defeats exact " +
      "banding is found") {
    // adversarial pair: 7 differing bits spread 2/2/2/1 over the four
    // 16-bit bands — NO band matches exactly (probe-0 at 4 bands misses
    // by construction), but band 0 differs by 1 bit, which the
    // Hamming-<=1 probe reaches (pigeonhole witness)
    val a = 0x5A5A5A5A5A5A5A5AL
    val b = a ^ ((1L << 3) | // band 0: 1 bit
      (1L << 17) | (1L << 30) | // band 1: 2 bits
      (1L << 33) | (1L << 40) | // band 2: 2 bits
      (1L << 50) | (1L << 63)) // band 3: 2 bits
    // + a deterministic random family with planted variants at flip
    // counts 0..9 (some inside, some outside the radius)
    val rnd = new scala.util.Random(4233)
    val base = Seq.fill(30)(rnd.nextLong())
    val flips = base.zipWithIndex.map { case (s, i) =>
      val k = i % 10
      var v = s
      rnd.shuffle((0 until 64).toList).take(k).foreach(j => v ^= (1L << j))
      v
    }
    val sigs = ((Seq(a, b) ++ base ++ flips).zipWithIndex.map {
      case (s, i) => (i.toLong, s)
    }).toDF("id", "sig")
    val all = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (i1, s1) <- all; (i2, s2) <- all
      if i1 < i2 && java.lang.Long.bitCount(s1 ^ s2) <= 7
    } yield (i1, i2)).toSet
    assert(want.contains((0L, 1L)) && want.size > 5, "fixture must be non-vacuous")
    val got = Dedup.sigNearDups(sigs, maxHamming = 7, bands = 4, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"probed banding != brute force: missing " +
      s"${want -- got}, extra ${got -- want}")
    // hamming column carries the true distance
    val h = Dedup.sigNearDups(sigs.filter(col("id") < 2),
      maxHamming = 7, bands = 4, probe = 1).collect()
    assert(h.length == 1 && h.head.getInt(2) == 7)
    // probe-0 at 4 bands over the same radius is refused (pigeonhole)
    val e = intercept[IllegalArgumentException] {
      Dedup.sigNearDups(sigs, maxHamming = 7, bands = 4)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
    // depth >= 2 is refused with the widen-the-fingerprint remedy
    val e2 = intercept[IllegalArgumentException] {
      Dedup.sigNearDups(sigs, maxHamming = 9, bands = 4, probe = 2)
    }
    assert(e2.getMessage.contains("wider fingerprint"), e2.getMessage)
  }

  test("multi-probe hot-bucket guard: a hot HOME bucket cannot re-enter " +
      "through its neighbors' keys; the documented loss mode is symmetric " +
      "with probe 0") {
    // A and B differ 1 bit in band 0 and 2 bits in each other band
    // (total 7): band 0 is the ONLY pigeonhole witness. 12 fillers
    // share A's band-0 bits exactly (13 > cap 10 → band-0 bucket hot)
    // and are random elsewhere. With the guard, the A-B pair's every
    // route runs through the hot bucket (A's probe FROM it, B's probe
    // INTO it) → pair correctly lost, quadratic blowup correctly
    // avoided; guard off → found.
    val a = 0x0123456789ABCDEFL
    val bandMask0 = 0xFFFFL
    val b = a ^ ((1L << 5) |
      (1L << 20) | (1L << 25) | (1L << 36) | (1L << 41) |
      (1L << 52) | (1L << 57))
    val rnd = new scala.util.Random(7)
    val fillers = (0 until 12).map { i =>
      (a & bandMask0) | (rnd.nextLong() & ~bandMask0)
    }
    val sigs = ((Seq(a, b) ++ fillers).zipWithIndex.map {
      case (s, i) => (i.toLong, s)
    }).toDF("id", "sig")
    val guarded = Dedup.sigNearDups(sigs, maxHamming = 7, bands = 4,
      maxBucketSize = 10, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!guarded.contains((0L, 1L)),
      s"pair whose only witness band is hot must drop with the guard: $guarded")
    val unguarded = Dedup.sigNearDups(sigs, maxHamming = 7, bands = 4,
      maxBucketSize = 0, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((0L, 1L)), s"guard off must find the pair: $unguarded")
    // a pair with a COLD witness band survives the same hot bucket:
    // C differs from A by 1 bit in band 3 only — bands 1..3 witness
    val c = a ^ (1L << 60)
    val sigs2 = ((Seq(a, b, c) ++ fillers).zipWithIndex.map {
      case (s, i) => (i.toLong, s)
    }).toDF("id", "sig")
    val got2 = Dedup.sigNearDups(sigs2, maxHamming = 7, bands = 4,
      maxBucketSize = 10, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((0L, 2L)),
      s"cold-band witness must survive the band-0 hot bucket: $got2")
  }

  test("multi-probe against-form: batch probes, corpus stays exact — " +
      "persisted corpusHotBuckets ride unchanged") {
    val a = 0x00FF00FF00FF00FFL
    val spread = ((1L << 2) | (1L << 18) | (1L << 21) | (1L << 35) |
      (1L << 38) | (1L << 55) | (1L << 58)) // 1/2/2/2 over bands
    val corpus = Seq((100L, a), (101L, 0x7777000012340000L)).toDF("id", "sig")
    val batch = Seq((1L, a ^ spread), (2L, ~a)).toDF("id", "sig")
    def pairs(hot: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.sigNearDupsAgainst(batch, corpus, maxHamming = 7, bands = 4,
        maxBucketSize = 10000, corpusHotBuckets = hot, probe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(None)
    assert(got == Set((1L, 100L)), s"pairs: $got")
    // the probe-agnostic persisted hot state (empty at this cap) must
    // not change the result — the mergeable-counts protocol is intact
    val hot = Dedup.hotFromCounts(Dedup.bucketCounts(corpus, 4), 10000)
    assert(pairs(Some(hot)) == got)
  }

  test("seqSigNearDups probe=1: a radius-5 sub-sig pair spread 2/1/1/1 " +
      "across the four bands (no exact band match) still accumulates its " +
      "delta-consistent matches; the against-form agrees") {
    // clip 1 windows 0..2; clip 2 = the same content trimmed by one
    // window (delta +1) with 5 bits flipped per window, spread so no
    // 16-bit band matches exactly — the video/audio tiers' radius-5
    // regime that used to force 8-bit-key bands
    val spread = (1L << 1) | (1L << 4) | // band 0: 2 bits
      (1L << 20) | (1L << 36) | (1L << 52) // bands 1..3: 1 bit each
    def sub(w: Int): Long = 0x1111222233334444L * (w + 1)
    val rows = (0 until 3).map(w => (1L, w, sub(w))) ++
      (0 until 2).map(w => (2L, w, sub(w + 1) ^ spread)) ++
      Seq((3L, 0, 0x7A7A7A7A7A7A7A7AL)) // stranger
    val sigs = rows.toDF("id", "seq_idx", "sig")
    val got = Dedup.seqSigNearDups(sigs, minMatches = 2, maxHamming = 5,
      bands = 4, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 1, 2L)),
      s"delta-consistent probed matches: ${got.toSeq}")
    // exact banding at the same geometry is refused (5 >= 4)
    val e = intercept[IllegalArgumentException] {
      Dedup.seqSigNearDups(sigs, minMatches = 2, maxHamming = 5, bands = 4)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
    val vs = Dedup.seqSigNearDupsAgainst(
      sigs.filter(col("id") === 2L), sigs.filter(col("id") =!= 2L),
      minMatches = 2, maxHamming = 5, bands = 4, probe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(vs.toSeq == Seq((2L, 1L, -1, 2L)),
      s"against-form probed matches: ${vs.toSeq}")
  }

  test("guardSaturation reads the r13 failure mode off a counts table: " +
      "saturated geometry -> ~all buckets hot; healthy geometry -> zero") {
    // 30 sigs uniform over a tiny synthetic key space: with cap 1 every
    // occupied bucket of every band is hot (the silent-collapse shape);
    // with cap 10000 nothing is
    val rnd = new scala.util.Random(11)
    val sigs = (0 until 30).map(i => (i.toLong, rnd.nextLong())).toDF("id", "sig")
    val counts = Dedup.bucketCounts(sigs, 4)
    val sat = Dedup.guardSaturation(counts, 1)
    // random 64-bit sigs almost never share a 16-bit band key at n=30,
    // so occupied ≈ 120 buckets of exactly 1 row → cap 1 keeps all cold
    assert(sat.totalRows == 120 && sat.hotBuckets == 0, sat.toString)
    // the saturated shape: 8-bit keys via bands=8 and cap 1 with
    // planted collisions — every duplicated bucket trips
    val dup = sigs.unionByName(sigs.withColumn("id", col("id") + 100))
    val satHot = Dedup.guardSaturation(Dedup.bucketCounts(dup, 8), 1)
    assert(satHot.occupiedBuckets == satHot.hotBuckets,
      s"byte-identical copies must saturate every occupied bucket: $satHot")
    assert(satHot.rowFraction == 1.0 && satHot.bucketFraction == 1.0)
    val healthy = Dedup.guardSaturation(Dedup.bucketCounts(dup, 4), 10000)
    assert(healthy.hotBuckets == 0 && healthy.rowFraction == 0.0)
    // guard disabled -> the zero object (callers skip the log)
    assert(Dedup.guardSaturation(counts, 0) == Dedup.GuardSaturation(0, 0, 0, 0))
  }

  test("bucketCounts merge across batches == one count over the union; " +
      "hotFromCounts == simHashHotBuckets") {
    // the mergeability that lets incremental state keep per-bucket
    // COUNTS (bounded by the bits keyspace) instead of re-banding the
    // full signature corpus at every commit
    val b1 = Dedup.simHashSignatures(withDups.filter(col("doc_id") < 100), "doc_id", "text")
    val b2 = Dedup.simHashSignatures(withDups.filter(col("doc_id") >= 100), "doc_id", "text")
    val union = b1.unionByName(b2)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = Dedup.mergeBucketCounts(
      Dedup.bucketCounts(b1, 4).unionByName(Dedup.bucketCounts(b2, 4)))
    assert(asMap(merged) == asMap(Dedup.bucketCounts(union, 4)),
      "summed per-batch counts must equal a single count over the union")
    // merge is idempotent over an already-merged table (the rewrite-mode
    // A/B path re-merges every commit)
    assert(asMap(Dedup.mergeBucketCounts(merged)) == asMap(merged))
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val maxBucket = 1 // planted exact dups guarantee size-2 buckets
    val viaCounts = keySet(Dedup.hotFromCounts(merged, maxBucket))
    assert(viaCounts == keySet(Dedup.simHashHotBuckets(union, 4, maxBucket)))
    assert(viaCounts.nonEmpty, "pick maxBucket so the identity is non-vacuous")
  }

  test("wide engine geometry contract: word multiples only, keys never " +
      "straddle words, 8-32-bit keys, pigeonhole completeness enforced") {
    val sigs = Seq((1L, Seq(1L, 2L, 3L, 4L))).toDF("id", "sig")
    // 64-bit input takes the scalar path
    intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 3, 4, sigBits = 64))
    // bands must divide sigBits
    intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 3, 12, sigBits = 256))
    // width > 32 (256/4 = 64) defeats the guard's occupancy bound
    intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 3, 4, sigBits = 256))
    // width < 8 (256/64) is the saturation failure class
    intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 3, 64, sigBits = 256))
    // pigeonhole: radius must stay under bands*(probe+1)
    intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 16, 16, probe = 0, sigBits = 256))
    // probe depth 2 refused with the widen-the-fingerprint message
    val e = intercept[IllegalArgumentException](
      Dedup.wideSigNearDups(sigs, 40, 16, probe = 2, sigBits = 256))
    assert(e.getMessage.contains("wider fingerprint"))
  }

  test("wide hot-bucket guard + mergeable counts protocol: per-batch " +
      "wideBucketCounts sum to the union's counts, hotFromCounts matches " +
      "wideHotBuckets, and the guard drops a flooded bucket") {
    val rnd = new scala.util.Random(11)
    def randSig() = Seq.fill(4)(rnd.nextLong())
    // 30 fillers sharing band 0's 16-bit key exactly (hot at cap 10)
    val shared = randSig()
    val fillers = (0 until 30).map { i =>
      val v = shared.toArray
      // randomize everything except band 0 (bits 0..15 of word 0)
      v(0) = (v(0) & 0xFFFFL) | (rnd.nextLong() & ~0xFFFFL)
      (1000L + i, v.toSeq)
    }
    val fresh = (0 until 20).map(i => (2000L + i, randSig()))
    val all = (fillers ++ fresh).toDF("id", "sig")
    // counts merge: even/odd batches sum to the union count table
    val even = all.filter(col("id") % 2 === 0)
    val odd = all.filter(col("id") % 2 === 1)
    val mergedCounts = Dedup.mergeBucketCounts(
      Dedup.wideBucketCounts(even, 16, 256)
        .unionByName(Dedup.wideBucketCounts(odd, 16, 256)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneCounts = Dedup.wideBucketCounts(all, 16, 256)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(mergedCounts == oneCounts, "per-batch counts must merge losslessly")
    // hot keys from counts == direct wideHotBuckets
    val hotA = Dedup.hotFromCounts(
      Dedup.wideBucketCounts(all, 16, 256), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val hotB = Dedup.wideHotBuckets(all, 16, 256, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(hotA == hotB && hotA.contains((0, shared.head & 0xFFFFL)),
      s"flooded band-0 bucket must be hot: $hotA")
    // saturation observability reads the wide counts unchanged
    val sat = Dedup.guardSaturation(Dedup.wideBucketCounts(all, 16, 256), 10)
    assert(sat.hotBuckets >= 1 && sat.rowsInHotBuckets >= 30)
  }

  test("wideSigNearDupsAgainst: batch echo found through the persisted-state " +
      "protocol, fresh kept; probe-agnostic corpusHotBuckets; guard drops " +
      "the flooded route symmetrically") {
    val rnd = new scala.util.Random(23)
    def randSig() = Array.fill(4)(rnd.nextLong())
    val corpusSeq = (0 until 40).map(i => (100L + i, randSig().toSeq))
    val corpus = corpusSeq.toDF("id", "sig")
    // echo: corpus sig 100 with 15 flipped bits spread 1-per-band
    // (probe-0 witness: the one clean band)
    val echoArr = corpusSeq.head._2.toArray
    (0 until 15).foreach(b => echoArr(b * 16 / 64) ^= 1L << ((b * 16) % 64))
    val batch = (Seq((1L, echoArr.toSeq)) ++
      (2 to 5).map(i => (i.toLong, randSig().toSeq))).toDF("id", "sig")
    def pairs(hot: Option[org.apache.spark.sql.DataFrame], probe: Int) =
      Dedup.wideSigNearDupsAgainst(batch, corpus, maxHamming = 15, bands = 16,
        maxBucketSize = 10000, corpusHotBuckets = hot, probe = probe,
        sigBits = 256)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(None, 0)
    assert(got == Set((1L, 100L)), s"pairs: $got")
    // persisted wide hot state (empty at this cap) must not change the
    // result at either probe depth — state lineages are probe-agnostic
    val hot = Dedup.wideHotBuckets(corpus, 16, 256, 10000)
    assert(pairs(Some(hot), 0) == got)
    assert(pairs(Some(hot), 1) == got)
  }

  test("incremental dedup: batch drops seen-exact and near-dup-of-corpus, keeps fresh") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "completely different corpus document about database engines and columnar storage")
    ).toDF("doc_id", "text")
    // the persisted state an incremental pipeline carries between runs
    val seen = Dedup.exactDuplicateGroups(corpus, "text", "doc_id").select("content_hash")
    val sigs = Dedup.simHashSignatures(corpus, "doc_id", "text", gramSize = 3)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      // case-changed copy: sha2 differs (tier 1 misses) but the simhash
      // tokenizer lowercases, so the signature is identical (tier 2 hits)
      (11L, "The Quick Brown Fox jumps over the lazy dog and runs far away home tonight"),
      (12L, "a genuinely fresh batch document about cooking pasta at home this evening"),
      (13L, "a genuinely fresh batch document about cooking pasta at home this evening"),
      // IN-BATCH near-dup of 12 (case variant): not in the corpus — both
      // would survive (and poison the corpus state forever) without the
      // in-batch near tier
      (14L, "A Genuinely Fresh Batch document about cooking pasta at home this evening")
    ).toDF("doc_id", "text")
    val out = Dedup.dropSeen(batch, "text", "doc_id", seen, sigs, gramSize = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 = exact-seen, 11 = near-dup of corpus 1, 13 = in-batch exact
    // dup of 12, 14 = in-batch NEAR dup of 12
    assert(out == Set(12L), s"survivors: $out")
    // the pair form reports WHICH corpus doc an increment row duplicates
    val pairs = Dedup.simHashNearDupsAgainst(
      Dedup.simHashSignatures(batch, "doc_id", "text", gramSize = 3), sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)) && pairs.contains((11L, 1L)), s"pairs: $pairs")
    // persisted hot-bucket state: passing it skips the corpus aggregate
    // and (empty here) must not change the result
    val hot = Dedup.simHashHotBuckets(sigs)
    val withState = Dedup.dropSeen(batch, "text", "doc_id", seen, sigs,
      gramSize = 3, corpusHotBuckets = Some(hot))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(withState == out)
    // per-tier attribution from observations of the one pass. Of 5
    // batch rows: exact tier drops 10 (seen) and 13 (in-batch exact) →
    // 3; near tiers drop 11 (corpus-near) and 14 (in-batch near) → 1.
    val counts = new graft.cli.Cli.StageLog
    val nBatch, nExact, nOut = counts.counter()
    val survivors = Dedup.dropSeen(nBatch.observe(batch), "text", "doc_id", seen, sigs,
      gramSize = 3, observeTier = nExact.observe)
    assert(nOut.observe(survivors).select("doc_id").collect().map(_.getLong(0)).toSet == out)
    survivors.unpersist()
    counts.resolve()
    val n = Seq(nBatch, nExact, nOut).map(_.rows)
    assert(n == Seq(5L, 3L, 1L), s"batch, after exact tier, survivors: $n")
  }

  test("connectedComponents labels transitive clusters with the min id") {
    // star 1-4, 2-4 (pair-drop would keep 2; CC must not) + a 20-node
    // chain (exercises pointer jumping past naive propagation depth)
    val chain = (10L until 29L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 4L), (2L, 4L)) ++ chain).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(4L) == 1L)
    (10L to 29L).foreach(i => assert(labels(i) == 10L, s"node $i labeled ${labels(i)}"))
    // exactly two components
    assert(labels.values.toSet == Set(1L, 10L))
  }

  test("connectedComponents on an empty pair set returns empty") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  // ------------------------------------------- duplicated-span removal

  test("removeDuplicateSpans: first occurrence kept, later copy cut, " +
      "untouched docs keep ORIGINAL spacing") {
    val docs = Seq(
      (1L, "a  b c d e f g h"),   // double space: must survive verbatim
      (2L, "x y a b c d e f"),    // shares span "a b c d e f" at offset 2
      (3L, "p q r s t u")         // no duplicate span
    ).toDF("doc_id", "text")
    for (hash <- Seq(false, true)) {
      val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 6, hashSpans = hash)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(out(1L) == ("a  b c d e f g h", 0L), s"hash=$hash: ${out(1L)}")
      assert(out(2L) == ("x y", 6L), s"hash=$hash: ${out(2L)}")
      assert(out(3L) == ("p q r s t u", 0L))
    }
  }

  test("removeDuplicateSpans: self-repeat keeps the leading window intact " +
      "(overlap exemption), erodes the rest") {
    val unit = "r1 r2 r3 r4 r5"
    val docs = Seq((1L, Seq.fill(4)(unit).mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .head()
    assert(r.getString(1) == unit, s"kept: ${r.getString(1)}")
    assert(r.getLong(2) == 15L)
  }

  test("removeDuplicateSpans: docs shorter than n pass through even when identical") {
    // whole-doc duplicates are exact dedup's job, not span removal's
    val docs = Seq((1L, "same short doc"), (2L, "same short doc")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(("same short doc", 0L)))
  }

  test("removeDuplicateSpans: span matching is case-sensitive") {
    val docs = Seq(
      (1L, "The Quick Brown Fox Jumps Over"),
      (2L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 6)
    assert(out.filter(col("n_removed") > 0).count() == 0)
  }

  test("removeDuplicateSpans: native hash form is identical to the string form " +
      "on the real corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    def run(h: Boolean) = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 10, hashSpans = h)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(run(true) == run(false))
  }

  test("removeDuplicateSpans: token explode is bounded to touched docs (left-semi in plan)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val plan = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"reassembly must be gated on touched ids:\n$plan")
    assert(plan.contains("graft_span_hashes"), s"default path must use the native expression:\n$plan")
  }

  // ------------------------------- incremental span removal vs prior state

  test("removeDuplicateSpansAgainst: a span seen only ONCE in the batch is cut " +
      "when the state holds it; untouched docs pass through") {
    val batch1 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val state = Dedup.spanHashTable(batch1, "text", n = 6)
    val batch2 = Seq(
      (10L, "x y a b c d e f tail1 tail2"), // state span at offset 2, once
      (11L, "p q r s t u v w")              // clean
    ).toDF("doc_id", "text")
    for (bloom <- Seq(None, Some(Dedup.spanBloom(state, 1000L, 0.01)))) {
      val out = Dedup.removeDuplicateSpansAgainst(batch2, "doc_id", "text",
          priorSpans = state, n = 6, bloom = bloom)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(out(10L) == ("x y tail1 tail2", 6L), s"bloom=${bloom.isDefined}: ${out(10L)}")
      assert(out(11L) == ("p q r s t u v w", 0L))
    }
  }

  test("removeDuplicateSpansAgainst: state marks ALL batch occurrences (no kept " +
      "first copy — it lives in the corpus) and composes with in-batch dups") {
    val state = Dedup.spanHashTable(
      Seq((1L, "s1 s2 s3 s4 s5 s6")).toDF("doc_id", "text"), "text", n = 6)
    val batch = Seq(
      (20L, "s1 s2 s3 s4 s5 s6 mid s1 s2 s3 s4 s5 s6"), // state span twice
      (21L, "k1 k2 k3 k4 k5 k6 junk"),                  // in-batch pair, first copy
      (22L, "pre k1 k2 k3 k4 k5 k6")                    // in-batch pair, later copy
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpansAgainst(batch, "doc_id", "text",
        priorSpans = state, n = 6)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(20L) == ("mid", 12L), s"${out(20L)}")
    assert(out(21L) == ("k1 k2 k3 k4 k5 k6 junk", 0L), "in-batch first copy kept")
    assert(out(22L) == ("pre", 6L), "in-batch later copy cut")
  }

  test("spanBloom pre-filter: candidate rows entering the state probe shrink " +
      ">=5x on a mostly-clean batch; results identical with and without") {
    // state = one planted span; batch = the real corpus (mostly clean)
    // plus one doc re-quoting the planted span
    val planted = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"
    val state = Dedup.spanHashTable(
      Seq((1L, planted)).toDF("doc_id", "text"), "text", n = 10)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = corpus.unionByName(
      Seq((999999L, s"prefix words $planted suffix words")).toDF("doc_id", "text"))
    val bloomBytes = Dedup.spanBloom(state, 1000L, 0.01)
    // the reduction claim: occurrences surviving the bloom vs all
    val occ = batch.select(col("doc_id"),
      posexplode(graft.functions.GraftFunctions.spanHashes(col("text"), 10))
        .as(Seq("off", "key")))
    val total = occ.count()
    val candidates = occ.filter(
      graft.functions.GraftFunctions.bloomMightContain(bloomBytes, col("key"))).count()
    assert(total >= 5 * math.max(candidates, 1),
      s"pre-filter must shrink the state probe >=5x: $candidates of $total survived")
    // and the pre-filter never changes results
    def run(b: Option[Array[Byte]]) =
      Dedup.removeDuplicateSpansAgainst(batch, "doc_id", "text", state, n = 10, bloom = b)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val withBloom = run(Some(bloomBytes))
    assert(withBloom == run(None))
    assert(withBloom(999999L)._1 == "prefix words suffix words")
  }

  test("mergeSpanBlooms: union answers for both sides; sizing mismatch throws") {
    val s1 = Dedup.spanHashTable(Seq((1L, "a b c d e f")).toDF("doc_id", "text"), "text", 6)
    val s2 = Dedup.spanHashTable(Seq((2L, "g h i j k l")).toDF("doc_id", "text"), "text", 6)
    val merged = Dedup.mergeSpanBlooms(
      Dedup.spanBloom(s1, 100L, 0.01), Dedup.spanBloom(s2, 100L, 0.01))
    val hits = s1.unionByName(s2).filter(
      graft.functions.GraftFunctions.bloomMightContain(merged, col("span_hash"))).count()
    assert(hits == 2, "merged bloom must contain both sides' span hashes")
    intercept[Exception] {
      Dedup.mergeSpanBlooms(
        Dedup.spanBloom(s1, 100L, 0.01), Dedup.spanBloom(s2, 100000L, 0.01))
    }
  }

  test("spanBloom on an empty batch is a mergeable same-sized empty filter " +
      "(every doc shorter than the span width)") {
    // Spark's stat.bloomFilter NPEs on zero rows; a batch of short docs
    // must still commit state (the Curator calls this unconditionally)
    val none = Dedup.spanHashTable(
      Seq((1L, "too short")).toDF("doc_id", "text"), "text", 10)
    assert(none.isEmpty)
    val eb = Dedup.spanBloom(none, 100L, 0.01)
    val s1 = Dedup.spanHashTable(Seq((2L, "a b c d e f")).toDF("doc_id", "text"), "text", 6)
    val merged = Dedup.mergeSpanBlooms(eb, Dedup.spanBloom(s1, 100L, 0.01))
    val hits = s1.filter(
      graft.functions.GraftFunctions.bloomMightContain(merged, col("span_hash"))).count()
    assert(hits == 1, "empty-side merge must preserve the non-empty side")
  }

  test("dedupLinesGlobal: first occurrence of a repeated line survives, " +
      "later copies cut, short lines exempt, order preserved, all-dup " +
      "docs come back empty") {
    import spark.implicits._
    val nl = "\n"
    val docs = Seq(
      (1L, Seq("unique opening line of document one",
        "this exact promotional line repeats in many documents",
        "-", "closing line of document one").mkString(nl)),
      (2L, Seq("this exact promotional line repeats in many documents",
        "-", "unique body of document two").mkString(nl)),
      (3L, Seq("this exact promotional line repeats in many documents").mkString(nl)),
      (4L, Seq("short", "-", "short").mkString(nl))
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesGlobal(docs, "doc_id", "text", minLineLen = 15)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1 holds the FIRST copy -> untouched
    assert(out(1L)._1.split(nl).toSeq == Seq("unique opening line of document one",
      "this exact promotional line repeats in many documents",
      "-", "closing line of document one"))
    assert(out(1L)._2 == 0L)
    // doc 2 loses the repeat, keeps order incl. the exempt short line
    assert(out(2L)._1.split(nl).toSeq == Seq("-", "unique body of document two"))
    assert(out(2L)._2 == 1L)
    // doc 3 was ONLY the repeated line -> empty text
    assert(out(3L)._1 == "" && out(3L)._2 == 1L)
    // short lines are exempt even when repeated within one doc
    assert(out(4L)._1.split(nl).toSeq == Seq("short", "-", "short"))
    assert(out(4L)._2 == 0L)
  }

  test("dedupLinesAgainst: a line whose first copy lives in a PRIOR batch " +
      "is cut from every occurrence in this batch; state is 8-byte hashes") {
    import spark.implicits._
    val nl = "\n"
    val prior = Seq((1L, "this exact promotional line repeats in many documents"))
      .toDF("doc_id", "text")
    val state = Dedup.lineHashTable(prior, "text", minLineLen = 15)
    assert(state.columns.toSeq == Seq("line_hash"))
    // exempt-short lines never enter state
    assert(Dedup.lineHashTable(Seq((1L, "short")).toDF("doc_id", "text"),
      "text", minLineLen = 15).count() == 0)
    val batch = Seq(
      (10L, Seq("this exact promotional line repeats in many documents",
        "a genuinely new line arriving in this batch").mkString(nl)),
      (11L, Seq("a genuinely new line arriving in this batch",
        "another new line that is unique").mkString(nl))
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAgainst(batch, "doc_id", "text", Some(state),
      minLineLen = 15)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the prior-corpus line is cut even at its batch-first occurrence;
    // the new repeated line still dedups first-wins WITHIN the batch
    assert(out(10L)._1 == "a genuinely new line arriving in this batch"
      && out(10L)._2 == 1L)
    assert(out(11L)._1 == "another new line that is unique" && out(11L)._2 == 1L)
    // batch parity: no prior state == the global form
    val a = Dedup.dedupLinesAgainst(batch, "doc_id", "text", None, minLineLen = 15)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Dedup.dedupLinesGlobal(batch, "doc_id", "text", minLineLen = 15)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }
}
