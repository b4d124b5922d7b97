package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, from the [[StepListener]]'s jobs and
  * the driver's step windows. Each step figure is the median over the
  * run's rounds. The steps of the workloads in BENCHMARK.json are always
  * reported (0 for a step the workload does not run); other workloads'
  * steps are reported by the workloads that run them. */
object Trace {
  val Steps: Seq[String] = Seq("session", "mover", "trainer", "scorer", "differ", "curator")
  val StepMetrics: Seq[String] = Seq("wall_s", "jobs", "tasks", "driver_gap_s",
    "exec_cpu_s", "core_util", "source_rescans", "shuffle_write_mb", "task_skew")
  val Modules: Seq[String] = Seq("cli", "sources", "operators", "ml", "datadiff", "llm")
  val Kernels: Seq[String] = Seq("simhash", "shingles", "redact", "quality",
    "normalize", "knn_logprob")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of `[start, end]` intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def perLayer(l: StepListener, times: Seq[Main.StepTime], setupS: Double, cores: Int,
      nRounds: Int, kernels: Map[String, Double]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (s <- Steps; m <- StepMetrics) out(s"$s.$m") = 0.0
    out("session.wall_s") = setupS

    // one figure set per (step, round); a step that runs several times
    // in a round (curator_state) is summed over its windows
    val perRound = times.groupBy(t => (t.step, t.round)).toSeq.map { case ((step, round), ws) =>
      val jobs = l.jobs.values.filter(j => j.step == step && j.round == round.toString).toSeq
      val wallMs = ws.map(w => w.endMs - w.startMs).sum
      val wall = wallMs / 1e3
      val runS = jobs.map(_.runMs).sum / 1e3
      val inBytes = ws.map(_.inputBytes).sum
      val skews = jobs.flatMap(_.stageIds)
        .distinct.flatMap(l.stageTaskMs.get).filter(_.size >= 2).map { d =>
          val med = median(d.map(_.toDouble).toSeq)
          if (med > 0) d.max / med else 1.0
        }
      step -> Map(
        "wall_s" -> wall,
        "jobs" -> jobs.size.toDouble,
        "tasks" -> jobs.map(_.tasks).sum.toDouble,
        "driver_gap_s" -> math.max(0L, wallMs - unionMs(jobs.map(j => (j.start, j.end)))) / 1e3,
        "exec_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
        "core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
        "source_rescans" -> (if (inBytes > 0) jobs.map(_.inputBytes).sum.toDouble / inBytes else 0.0),
        "shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1048576.0,
        "task_skew" -> (if (skews.nonEmpty) skews.max else if (jobs.nonEmpty) 1.0 else 0.0))
    }
    perRound.groupBy(_._1).foreach { case (step, rs) =>
      StepMetrics.foreach(m => out(s"$step.$m") = median(rs.map(_._2(m))))
    }

    val rounds = (1 to nRounds).map(_.toString)
    Modules.foreach { m =>
      val per = rounds.map(r => l.jobs.values.filter(j => j.round == r && j.module == m).toSeq)
      out(s"module.$m.jobs") = median(per.map(_.size.toDouble))
      out(s"module.$m.exec_cpu_s") = median(per.map(_.map(_.cpuNs).sum / 1e9))
    }
    Kernels.foreach(k => out(s"kernel.$k.us_per_doc") = kernels.getOrElse(k, 0.0))
    out.toMap
  }
}
