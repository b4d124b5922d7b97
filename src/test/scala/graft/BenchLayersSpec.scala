package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.broadcast

/** graft.Bench's layer listener on a live session: Spark attributes the
  * jobs that the SQL engine submits from its own threads to the pass
  * that tagged the query. */
class BenchLayersSpec extends SparkTestBase {

  test("layers: the job a broadcast join submits from the exchange's " +
      "thread is attributed to its own pass") {
    val sc = spark.sparkContext
    val l = new Bench.LayerListener
    // events reach listeners in order: once this one sees the sentinel
    // job end, `l` has seen every earlier event
    val drained = new java.util.concurrent.CountDownLatch(1)
    val sentinel = new SparkListener {
      @volatile private var id = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Bench.PassKey) == "sentinel#1")) id = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == id) drained.countDown()
    }
    sc.addSparkListener(l)
    sc.addSparkListener(sentinel)
    val small = spark.range(8).toDF("k")
    val big = spark.range(20000).selectExpr("id % 8 as k", "id as v")
    try {
      // the broadcast exchange's thread pool outlives the first pass: a
      // property inherited at thread creation would tag pass 2's
      // broadcast job with pass 1
      for (pass <- Seq("join#1", "join#2", "sentinel#1")) {
        sc.setLocalProperty(Bench.PassKey, pass)
        try big.join(broadcast(small), "k").write.format("noop").mode("overwrite").save()
        finally sc.setLocalProperty(Bench.PassKey, null)
      }
      spark.range(5).count()
      assert(drained.await(2, java.util.concurrent.TimeUnit.MINUTES))
    } finally {
      sc.removeSparkListener(sentinel)
      sc.removeSparkListener(l)
    }
    // per pass: the broadcast exchange's collect job and the write's job
    for (pass <- Seq("join#1", "join#2")) {
      val f = l.layers(pass, 60.0)
      assert(f.jobs == 2, s"$pass: $f")
      assert(f.tasks >= 2 && f.stages >= 2, s"$pass: $f")
    }
    assert(l.layers("untagged", 60.0).jobs == 0)
  }
}
