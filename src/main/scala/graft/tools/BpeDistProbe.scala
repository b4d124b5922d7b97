package graft.tools

/** Round-10 probe: the DISTRIBUTED BPE merge loop at the scale the
  * driver cut refuses — 2^20+ distinct words held executor-side as a
  * cached symbol table, only top-`batchK` pairs per round on the
  * driver. Pass/fail is the round-9 verdict's criterion: driver heap
  * stays flat (no multi-GB collected vocabulary) while merges land.
  *
  * Usage: runMain graft.tools.BpeDistProbe [numWords] [numMerges] [batchK]
  */
object BpeDistProbe {
  private def heapMb: Long = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) >> 20
  }

  def main(args: Array[String]): Unit = {
    val numWords = args.headOption.map(_.toInt).getOrElse(1 << 20)
    val numMerges = if (args.length > 1) args(1).toInt else 32
    val batchK = if (args.length > 2) args(2).toInt else 8
    val spark = Local.session()
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // 2^20 distinct words built executor-side from the row id (base-26
    // letters; Zipf-ish counts by rank) — the driver never sees them
    val counts = spark.range(numWords.toLong).map { id =>
      val sb = new StringBuilder
      var v = id + 26 * 26 // ≥3 letters so pair structure is non-trivial
      while (v > 0) { sb += ('a' + (v % 26)).toChar; v /= 26 }
      (sb.result(), math.max(1L, 1000000L / (id + 1)))
    }.toDF("word", "n")

    val h0 = heapMb
    println(s"[bpedist] $numWords words, $numMerges merges, batchK=$batchK, driver heap before: $h0 MB")
    val t0 = System.nanoTime()
    val merges = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges, batchK)
    val sec = (System.nanoTime() - t0) / 1e9
    val h1 = heapMb
    // local-mode caveat: executors share this JVM, so the cached symbol
    // table's EXECUTOR STORAGE shows up in "driver" heap here. What the
    // probe demonstrates is that nothing vocabulary-sized is COLLECTED:
    // per round the driver receives batchK rows, on a cluster its heap
    // is O(batchK + merges) regardless of vocabulary size.
    val stor = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum >> 20
    println(f"[bpedist] learned ${merges.length} merges in $sec%.1f s; " +
      s"JVM heap after: $h1 MB (delta ${h1 - h0} MB, of which cached symbol-table " +
      s"storage — executor-side on a cluster: $stor MB); driver collects " +
      s"$batchK rows/round")
    println(s"[bpedist] first merges: ${merges.take(8).mkString(" ")}")
    spark.stop()
  }
}
