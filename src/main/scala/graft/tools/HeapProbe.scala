package graft.tools

/** Round-10 probe: is the dedup-harness heap band (q38/q39/q73/q22/q62,
  * 3.3–4.9 GB `heap_after` since r5) RETAINED state or transient
  * garbage? Runs each query exactly like Bench (noop sink, hygiene
  * barrier before) and measures used heap at completion BEFORE and
  * AFTER a full GC. Retained ≈ post-GC; the difference is allocation
  * the collector simply had not bothered to reclaim yet on a 128 GiB
  * heap.
  */
object HeapProbe {
  private def usedMb: Long = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) >> 20
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    val qs = if (args.nonEmpty) args.toSeq else Seq(
      "q38_transitive_dedup", "q39_vector_near_dup", "q73_semdedup",
      "q22_curation", "q62_incremental_vector_dedup")
    qs.foreach { q =>
      spark.catalog.clearCache()
      System.gc(); System.gc()
      val before = usedMb
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      df.unpersist()
      val raw = usedMb
      System.gc(); System.gc()
      val retained = usedMb
      println(s"[heapprobe] $q before=$before raw_after=$raw retained_after=$retained MB")
    }
    spark.stop()
  }
}
