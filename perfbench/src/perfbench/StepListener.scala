package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Attributes Spark jobs, tasks, CPU and I/O to the benchmark's pipeline
  * steps and to graft's modules, from outside the program.
  *
  * Registered through `spark.extraListeners` in traced runs only. The
  * driver tags every step with the local properties [[StepListener.RoundKey]]
  * and [[StepListener.StepKey]]; Spark copies local properties onto every
  * job the step submits, including jobs submitted from the SQL engine's
  * own threads, so attribution does not depend on timing. A job's module
  * is the innermost `graft.` frame of its call site (needs a deep
  * `spark.callstack.depth`, since MLlib frames count as user frames); a
  * job submitted from one of the SQL engine's threads carries no graft
  * frame, and takes the module of the SQL execution it belongs to.
  *
  * Events arrive on Spark's listener-bus thread; read the results only
  * after `SparkContext.stop()`, which drains the bus.
  */
class StepListener extends SparkListener {
  import StepListener._

  StepListener.instance = this

  final class Job(val round: String, val step: String, val module: String,
      val stageIds: Seq[Int], val start: Long) {
    var end: Long = start
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val executionModule = mutable.HashMap.empty[Long, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** Task durations (ms) per stage, for the skew metric. */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
    val finalStage = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val own = moduleOf(finalStage.map(_.details).getOrElse(""))
    val module = if (own != "none") own else Option(prop("spark.sql.execution.id"))
      .flatMap(id => executionModule.get(id.toLong)).getOrElse(own)
    jobs(e.jobId) = new Job(prop(RoundKey), prop(StepKey), module, e.stageIds, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionModule(x.executionId) = moduleOf(x.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
}

object StepListener {
  val RoundKey = "perfbench.round"
  val StepKey = "perfbench.step"

  @volatile var instance: StepListener = _

  /** graft's layers, keyed by package; `conf` parsing belongs to `cli`. */
  val Modules: Seq[(String, String)] = Seq(
    "graft.cli." -> "cli", "graft.conf." -> "cli", "graft.sources." -> "sources",
    "graft.operators." -> "operators", "graft.ml." -> "ml",
    "graft.datadiff." -> "datadiff", "graft.llm." -> "llm",
    "graft.functions." -> "functions")

  /** The module of the innermost `graft.` frame in a call-site long form
    * (innermost frame first, one frame per line); "none" when no graft
    * frame is on the stack (jobs the benchmark's own code submits). */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case f if Modules.exists(m => f.startsWith(m._1)) =>
        Modules.find(m => f.startsWith(m._1)).get._2
    }.getOrElse("none")
}
