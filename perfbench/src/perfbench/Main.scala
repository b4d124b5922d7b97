package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** One benchmark run inside one JVM: set up the session the way a CLI job
  * does, run whole rounds of one workload's pipeline until the measuring
  * time is spent, and write per-round figures (and, traced, the per-layer
  * figures) to a JSON file for `run.py`, which checks the outputs.
  *
  * Usage: `perfbench.Main --workload W --seed N --inputs DIR --work DIR
  * --seconds S --trace 0|1 --cores N --out FILE [--label-model W1,..,W6,BIAS]`.
  */
object Main {

  /** One pipeline step: a name (the trace's attribution key), the on-disk
    * bytes it reads (for `source_rescans`), and its body, given the
    * round's output dir. */
  final case class Step(name: String, inputBytes: String => Long, run: String => Unit)

  final case class StepTime(round: Int, step: String, startMs: Long, endMs: Long,
      inputBytes: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val inputs = new File(a("inputs")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt

    // the workload's `spark { }` block, as a user's HOCON would carry it
    val sparkConf = s"$work/spark.conf"
    write(sparkConf,
      s"""spark {
         |  app = perfbench-$workload
         |  spark-prop {
         |    spark.master = "local[$cores]"
         |    spark.ui.enabled = false
         |    spark.log.level = WARN
         |    spark.local.dir = "$work/spark-local"
         |    spark.sql.warehouse.dir = "$work/warehouse"
         |${if (trace) "    spark.extraListeners = perfbench.StepListener" else ""}
         |  }
         |}
         |""".stripMargin)
    val spark = graft.cli.Cli.session(graft.conf.GraftConfig.parseFile(sparkConf), "perfbench")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sc = spark.sparkContext

    val wl = Workloads(workload, spark, inputs, work, sparkConf, a("seed").toLong,
      a.get("label-model").map(_.split(",").map(_.toDouble).toSeq).getOrElse(Nil))
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val memBean = ManagementFactory.getMemoryMXBean
    val rounds = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val times = mutable.ArrayBuffer.empty[StepTime]
    var attempted = 0L
    var failed = 0L
    var error: Option[String] = None
    val t0 = System.nanoTime()
    while (error.isEmpty && (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val k = rounds.size + 1
      val dir = s"$work/r$k"
      new File(dir).mkdirs()
      sc.setLocalProperty(StepListener.RoundKey, k.toString)
      val cpu0 = osBean.getProcessCpuTime
      val w0 = System.nanoTime()
      wl.steps.foreach { st =>
        attempted += 1
        if (error.nonEmpty) failed += 1
        else {
          sc.setLocalProperty(StepListener.StepKey, st.name)
          val s0 = System.currentTimeMillis()
          try st.run(dir)
          catch {
            case scala.util.control.NonFatal(e) =>
              failed += 1
              error = Some(s"round $k step ${st.name}: $e")
              e.printStackTrace()
          }
          times += StepTime(k, st.name, s0, System.currentTimeMillis(), st.inputBytes(dir))
          sc.setLocalProperty(StepListener.StepKey, null)
        }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      System.gc()
      val heapMb = memBean.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += ((wall, cpu, heapMb))
      sc.setLocalProperty(StepListener.RoundKey, null)
      // rounds are independent: nothing one round cached serves the next
      spark.catalog.clearCache()
      if (k > 1) deleteTree(new File(s"$work/r${k - 1}"))
    }

    val kernels =
      if (trace && error.isEmpty) wl.kernelTimes(s"$work/r${rounds.size}")
      else Map.empty[String, Double]
    spark.stop() // drains the listener bus before the trace is read

    val layers = if (trace) Trace.perLayer(StepListener.instance, times.toSeq, setupS,
      cores, rounds.size, kernels) else Map.empty[String, Double]
    val json = new StringBuilder("{")
    json ++= s""""setup_s":$setupS,"attempted":$attempted,"failed":$failed,"""
    json ++= s""""last_round":"$work/r${rounds.size}","""
    json ++= s""""error":${error.map(quote).getOrElse("null")},"""
    json ++= rounds.map { case (w, c, h) => s"""{"wall_s":$w,"cpu_s":$c,"heap_mb":$h}""" }
      .mkString(""""rounds":[""", ",", "],")
    json ++= wl.artifacts.map { case (k, v) => s"${quote(k)}:$v" }
      .mkString(""""artifacts":{""", ",", "},")
    json ++= layers.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:${num(v)}" }
      .mkString(""""per_layer":{""", ",", "}}")
    write(a("out"), json.toString)
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of the data files under `path` (a file or a dataset dir). */
  def dataBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(path))
  }
}

/** The four workloads. Each CLI step writes its HOCON file and calls the
  * main exactly as `--conf <file>` on a command line would. */
final class Workloads(
    val steps: Seq[Main.Step],
    val kernelTimes: String => Map[String, Double],
    artifactsOf: () => Map[String, String]) {
  def artifacts: Map[String, String] = artifactsOf()
}

object Workloads {
  import Main.{Step, dataBytes, write}

  def apply(name: String, spark: SparkSession, in: String, work: String,
      sparkConf: String, seed: Long, labelModel: Seq[Double]): Workloads = {
    def conf(path: String, body: String): String = {
      write(path, s"""include "$sparkConf"\n$body""")
      path
    }
    val noKernels = (_: String) => Map.empty[String, Double]
    name match {
      case "tabular_ml" =>
        val features = (d: String) => s"$d/features"
        new Workloads(Seq(
          Step("mover", _ => dataBytes(s"$in/lineitem.parquet") + dataBytes(s"$in/orders.parquet"),
            d => graft.cli.Mover.main(Array("--conf", conf(s"$d/mover.conf",
              s"""source {
                 |  storage-type = local
                 |  dataset-dir = "$in/lineitem.parquet"
                 |  transform-sql = "${Tabular.featureSql(s"$in/orders.parquet", seed, labelModel)}"
                 |}
                 |target { storage-type = local, dataset-dir = "${features(d)}", dataset-store-format = parquet, write-mode = overwrite }
                 |""".stripMargin)))),
          Step("trainer", d => dataBytes(features(d)),
            d => graft.cli.Trainer.main(Array("--conf", conf(s"$d/trainer.conf",
              s"""model-definition {
                 |  dataset { storage-type = local, dataset-dir = "${features(d)}" }
                 |  target-column = label
                 |  feature-columns = [${Tabular.Features.mkString(", ")}]
                 |  estimator = logistic-regression
                 |}
                 |model-path = "$d/model"
                 |validation { fraction = 0.2, id-column = uid, salt = holdout, kind = binary, report-dir = "$d/validation" }
                 |""".stripMargin)))),
          Step("scorer", d => dataBytes(features(d)),
            d => graft.cli.Scorer.main(Array("--conf", conf(s"$d/scorer.conf",
              s"""source { storage-type = local, dataset-dir = "${features(d)}" }
                 |model-path = "$d/model"
                 |uid-column = uid
                 |cols-to-save = [uid, label]
                 |current-dt = "2024-01-01T00-00"
                 |target { storage-type = local, dataset-dir = "$d/scores", dataset-store-format = parquet, write-mode = overwrite }
                 |evaluate { label-column = label, report-dir = "$d/evaluation" }
                 |""".stripMargin)))),
          Step("differ", d => 2 * dataBytes(features(d)),
            d => graft.cli.Differ.main(Array("--conf", conf(s"$d/differ.conf",
              s"""source { storage-type = local, dataset-dir = "${features(d)}", transform-sql = "SELECT * FROM dataset_temp WHERE o_year >= 1995" }
                 |reference { storage-type = local, dataset-dir = "${features(d)}", transform-sql = "SELECT * FROM dataset_temp WHERE o_year < 1995" }
                 |diff {
                 |  discrete-columns = [l_returnflag, o_orderpriority]
                 |  continuous-columns = [qty, price]
                 |  report-dir = "$d/drift"
                 |}
                 |""".stripMargin))))),
          noKernels, () => Map.empty)

      case "corpus_curate" =>
        new Workloads(Seq(
          Step("curator", _ => dataBytes(s"$in/docs.parquet"),
            d => graft.cli.Curator.main(Array("--conf",
              conf(s"$d/curator.conf", Corpus.curatorConf(s"$in/docs.parquet", d, "curated", None)))))),
          d => Corpus.kernelTimes(spark, s"$in/docs.parquet",
            Some(Corpus.curatedLm(spark, s"$d/curated", s"$work/kernel-kn4.lm"))),
          () => Map.empty)

      case "corpus_incremental" =>
        // batch1 starts the state lineage; every later batch (and the
        // replay of batch 1) reads the previous batch's committed state
        val batches = Seq("batch1", "batch2", "replay")
        new Workloads(batches.zipWithIndex.map { case (b, i) =>
          val stateIn = if (i == 0) None else Some(i)
          Step(if (i == 0) "curator_first" else "curator_state",
            d => dataBytes(s"$in/$b.parquet") + stateIn.map(s => dataBytes(s"$d/state$s")).getOrElse(0L),
            d => graft.cli.Curator.main(Array("--conf", conf(s"$d/$b.conf",
              Corpus.curatorConf(s"$in/$b.parquet", d, b,
                Some((stateIn.map(s => s"$d/state$s"), s"$d/state${i + 1}")))))))
        }, d => Corpus.kernelTimes(spark, s"$in/batch1.parquet",
          Some(Corpus.curatedLm(spark, s"$d/batch1", s"$work/kernel-kn4.lm"))),
          () => Map.empty)

      case "lm_kn" => LmKn(spark, in, work)

      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }
}

object Tabular {
  val Features: Seq[String] = Seq("qty", "price", "disc", "tax", "lag", "urgent")

  /** Mover's transform: lineitem ⋈ orders → features + a label drawn from
    * a logistic model of the features (`weights` in [[Features]] order,
    * then the bias). The noise is a hash of the row key and the seed, so
    * a rerun writes the same labels. */
  def featureSql(orders: String, seed: Long, weights: Seq[Double]): String = {
    require(weights.size == Features.size + 1, s"label model needs ${Features.size + 1} numbers")
    val logit = Features.zip(weights).map { case (f, w) => s"${w}D * $f" }
      .mkString(" + ") + s" + ${weights.last}D"
    s"""SELECT uid, CAST($logit + ln(u / (1.0D - u)) > 0 AS INT) AS label,
       | qty, price, disc, tax, lag, urgent, l_returnflag, o_orderpriority, o_year
       |FROM (SELECT concat_ws('-', CAST(l.l_orderkey AS STRING), CAST(l.l_linenumber AS STRING)) AS uid,
       |   l.l_returnflag, o.o_orderpriority, year(o.o_orderdate) AS o_year,
       |   l.l_quantity AS qty, l.l_extendedprice / 10000.0D AS price,
       |   l.l_discount * 10.0D AS disc, l.l_tax * 10.0D AS tax,
       |   datediff(l.l_shipdate, o.o_orderdate) / 30.0D AS lag,
       |   IF(o.o_orderpriority IN ('1-URGENT', '2-HIGH'), 1.0D, 0.0D) AS urgent,
       |   (pmod(xxhash64(l.l_orderkey, l.l_linenumber, ${seed}L), 1000003) + 0.5D) / 1000003.0D AS u
       | FROM dataset_temp l JOIN parquet.`$orders` o ON l.l_orderkey = o.o_orderkey) f
       |""".stripMargin.replace("\n", " ") // one line: a HOCON quoted string
  }
}

object Corpus {

  /** The q128 stage set: quality, redaction, SimHash near-dedup, splits,
    * chunking, corpus report; `state` = (state-dir, state-out-dir). */
  def curatorConf(src: String, d: String, out: String,
      state: Option[(Option[String], String)]): String =
    s"""source { storage-type = local, dataset-dir = "$src" }
       |target { storage-type = local, dataset-dir = "$d/$out", dataset-store-format = parquet, write-mode = overwrite }
       |curation {
       |  min-quality = 0.2
       |  redact = true
       |  shingle-size = 3
       |  near-dup-strategy = simhash
       |  splits = ["train:0.8", "val:0.1", "test:0.1"]
       |  split-salt = perfbench
       |  chunk-size = 64
       |  chunk-overlap = 16
       |  report-dir = "$d/$out-report"
       |  stage-log-path = "$d/$out-stages.json"
       |${state.map { case (in, outDir) =>
          in.map(s => s"""  state-dir = "$s"\n""").getOrElse("") + s"""  state-out-dir = "$outDir""""
        }.getOrElse("")}
       |}
       |""".stripMargin

  val KernelDocs = 400

  /** An order-4 n-gram artifact for the `knn_logprob` kernel, trained on
    * the curated output (the reference slice an LM filter is built from). */
  def curatedLm(spark: SparkSession, curated: String, path: String): String = {
    graft.llm.LangModel.saveNgram(graft.llm.LangModel.trainNgram(
      spark.read.parquet(curated).select(col("chunk_text").as("text")).limit(1000),
      "text", 4, minCount = 1L), path)
    path
  }

  /** Each kernel alone as a projection over the corpus's first
    * [[KernelDocs]] documents into the noop sink: the median of three
    * passes, in microseconds per document.
    * `knn_logprob` scores with the saved n-gram artifact `knArtifact`. */
  def kernelTimes(spark: SparkSession, docsPath: String,
      knArtifact: Option[String]): Map[String, Double] = {
    import graft.functions.GraftFunctions
    import graft.llm.{Dedup, TextAnalysis}
    val docs = spark.read.parquet(docsPath).select(col("text")).limit(KernelDocs).cache()
    val n = docs.count()
    val t = col("text")
    val ks = Seq(
      "simhash" -> Dedup.simHash(t, 3),
      "shingles" -> org.apache.spark.sql.functions.size(Dedup.shingles(t, 3)),
      "redact" -> TextAnalysis.redact(t),
      "quality" -> TextAnalysis.qualityScoreFast(TextAnalysis.stats(t)),
      "normalize" -> TextAnalysis.normalizeTextFull(t)) ++
      knArtifact.map(p => "knn_logprob" -> GraftFunctions.knNLogProb(t, p))
    spark.sparkContext.setLocalProperty(StepListener.StepKey, "kernel")
    val out = ks.map { case (k, e) =>
      val passes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        docs.select(e.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e3 / n
      }.sorted
      k -> passes(1)
    }.toMap
    spark.sparkContext.setLocalProperty(StepListener.StepKey, null)
    docs.unpersist()
    out
  }
}

object LmKn {
  import graft.llm.{KneserNeyNLm, KneserNeyNModLm, LangModel}
  import graft.functions.GraftFunctions

  val Order = 4

  def apply(spark: SparkSession, in: String, work: String): Workloads = {
    val refPath = s"$in/ref.parquet"
    val docsPath = s"$in/docs.parquet"
    def ref: DataFrame = spark.read.parquet(refPath).select("doc_id", "text")
    def docs: DataFrame = spark.read.parquet(docsPath).select("doc_id", "text")
    // one artifact path for every round: saveNgram invalidates the
    // native registries' copy, so each round loads its own model
    val lmPath = s"$work/kn4.lm"
    var kn: KneserNeyNLm = null
    var mkn: KneserNeyNModLm = null
    val refBytes = (_: String) => Main.dataBytes(refPath)
    val docBytes = (_: String) => Main.dataBytes(docsPath)
    val steps = Seq(
      Main.Step("lm_train", refBytes, _ => {
        kn = LangModel.trainKneserNeyN(ref, "text", Order)
        mkn = LangModel.trainKneserNeyNMod(ref, "text", Order)
      }),
      Main.Step("lm_score", d => refBytes(d) + docBytes(d), d => {
        LangModel.logProbPerDocKneserNeyN(docs, kn, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$d/knn")
        LangModel.logProbPerDocKneserNeyNMod(docs, mkn, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$d/mkn")
      }),
      Main.Step("lm_save", refBytes, _ => LangModel.saveNgram(kn.ngram, lmPath)),
      Main.Step("lm_native", docBytes, d =>
        docs.select(col("doc_id"),
          GraftFunctions.knNLogProb(col("text"), lmPath).as("knn_logp"),
          GraftFunctions.knModLogProb(col("text"), lmPath).as("mkn_logp"))
          .write.mode("overwrite").parquet(s"$d/native")))
    new Workloads(steps, _ => Corpus.kernelTimes(spark, docsPath, Some(lmPath)), () =>
      if (kn == null || mkn == null) Map.empty
      else Map(
        "kn_discounts" -> kn.discounts.mkString("[", ",", "]"),
        "mkn_discounts" -> mkn.discounts
          .map { case (d1, d2, d3) => s"[$d1,$d2,$d3]" }.mkString("[", ",", "]")))
  }
}
