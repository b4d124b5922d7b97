package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe: per-JOB wall-time breakdown of one SparkEntry query —
  * where PhaseProbe splits build/plan/exec, this splits exec into the
  * driver actions it is made of (an e2e like q128 is ~15 small
  * sequential jobs; optimizing it means knowing which jobs carry the
  * time and which are pure stage-barrier overhead). Usage:
  *   runMain graft.tools.JobProbe <q1,q2,...> [sfDir]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    System.setProperty("graft.aux.skip", "1")
    val spark = Local.session(logLevel = "ERROR")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(j.jobId, (j.time, j.stageInfos.size, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, nStages, desc) =>
          done.add((j.jobId, j.time - t0, nStages, desc))
        }
      }
    })
    names.foreach { name =>
      (1 to 2).foreach { it =>
        spark.catalog.clearCache()
        done.clear()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain the last JobEnd
        val ds = done.toArray(Array.empty[(Int, Long, Int, String)]).sortBy(_._1)
        val jobMs = ds.map(_._2).sum
        println(f"[jobs] $name it=$it wall=$wall%.2f s jobs=${ds.length} " +
          f"jobtime=${jobMs / 1000.0}%.2f s (gaps=${wall - jobMs / 1000.0}%.2f s)")
        ds.foreach { case (id, ms, nStages, desc) =>
          println(f"[jobs]   job=$id%-4d ${ms}%6d ms stages=$nStages%-3d ${desc.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
