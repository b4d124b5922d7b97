package graft.cli

import graft.conf.GraftConfig
import org.apache.spark.sql.SparkSession

/** Shared CLI plumbing (SURVEY.md §2.7 B1–B3).
  *
  * Argument protocol (reference `mover.py:19-26`, `scorer.py:71-76`,
  * `trainer.py:21-27`): `--conf <file>` plus any number of `a.b=c`
  * override tokens, overrides winning over the file.
  *
  * Session bootstrap (reference `core.py:277-366,369-411`): the config's
  * `spark { }` section drives the builder — `app` names the application,
  * every `spark-prop { }` entry folds into `.config(k, v)` (including
  * `spark.master`), `enableHiveSupport` when the master is yarn, and
  * `hive-prop { }` entries apply post-create via `spark.conf.set`. The
  * reference's PYSPARK_SUBMIT_ARGS/env gymnastics disappear in-JVM.
  */
object Cli {

  /** B3 override protocol: `--conf file` + `k.ey=value` tokens. */
  def parseConf(args: Array[String]): GraftConfig = {
    val i = args.indexOf("--conf")
    require(i >= 0 && i + 1 < args.length,
      "usage: --conf <hocon-file> [key.path=value ...]")
    val file = GraftConfig.parseFile(args(i + 1))
    val overrides = args.zipWithIndex.collect {
      case (tok, j) if j != i && j != i + 1 => tok
    }
    GraftConfig.fromOverrides(overrides.toIndexedSeq).withFallback(file)
  }

  /** B1/B2 session-from-config. Defaults `spark.master` to `local[*]`
    * when the config does not set one (the reference hard-requires it;
    * a default is friendlier for local runs). `GraftSession.setup` sizes
    * a local master's shuffles to its cores unless `spark-prop` sets
    * `spark.sql.shuffle.partitions`, and registers graft's SQL
    * functions, so transform-sql can use graft_cosine / graft_simhash. */
  def session(conf: GraftConfig, defaultApp: String): SparkSession = {
    val sc = conf.at("spark")
    val props = sc.at("spark-prop").flat
    val s = graft.GraftSession.getOrCreate(
      sc.getString("app").getOrElse(defaultApp), "local[*]", props,
      hive = props.toMap.get("spark.master").exists(_.startsWith("yarn")))
    sc.at("hive-prop").flat.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  def log(msg: String): Unit = {
    val tm = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    println(s"$tm $msg")
  }

  /** Immutable-parts manifest for a dedup-state table: when a state
    * dir holds `<table>manifest` (a text file of write-once parquet
    * part paths, one per batch), readers union the parts; otherwise
    * the table is the materialized `<dir>/<table>` parquet. The parts
    * live under a STABLE parts dir (one per corpus lineage), so the
    * per-batch upkeep IO is the batch's own rows, not the corpus's —
    * the object-store shape. */
  private[graft] def stateTableParts(
      spark: SparkSession, d: String, table: String): Option[Seq[String]] = {
    val mp = new org.apache.hadoop.fs.Path(d, s"${table}manifest")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mp)) {
      val in = fs.open(mp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.split("\n").filter(_.nonEmpty).toSeq)
    } else None
  }

  /** Read a state table through its manifest when present, else the
    * materialized parquet dir — every consumer of `hashes`/`sigs`/
    * `vecsigs`/`spans` state goes through here so parts mode is
    * transparent to the tiers (and to the Streamer). */
  private[graft] def readStateTable(
      spark: SparkSession, d: String, table: String): org.apache.spark.sql.DataFrame =
    stateTableParts(spark, d, table) match {
      case Some(parts) => spark.read.parquet(parts: _*)
      case None => spark.read.parquet(s"$d/$table")
    }

  /** Write a `<table>manifest` listing `parts` into `outPath`. */
  private[graft] def writeStateManifest(
      spark: SparkSession, outPath: org.apache.hadoop.fs.Path,
      table: String, parts: Seq[String]): Unit = {
    require(parts.nonEmpty, s"$table manifest with no parts")
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(outPath, s"${table}manifest"), true)
    try out.write(parts.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Parts-mode hygiene, half 1: a FRESH lineage (no prior state dir)
    * must start in an EMPTY parts table dir. Silently overwriting
    * `part-0` of whatever already lives there would corrupt any state
    * dir still referencing those bytes — crashed-run leftovers whose
    * retry changed parameters, or a second lineage pointed at the same
    * parts dir. A loud error naming the dir beats either corruption. */
  private[graft] def requireEmptyPartsDir(
      spark: SparkSession, pd: String, table: String): Unit = {
    val td = new org.apache.hadoop.fs.Path(s"$pd/$table")
    val fs = td.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(td) && fs.listStatus(td).nonEmpty)
      throw new IllegalStateException(
        s"parts dir '$td' is not empty but this run starts a FRESH state " +
          "lineage (no state-dir) — its contents belong to a previous " +
          "lineage (possibly a crashed run with since-changed parameters) " +
          "and would be silently clobbered from part-0. Delete the dir to " +
          "abandon that lineage, or point state-parts-dir/span-parts-dir " +
          "somewhere fresh")
  }

  /** Parts-mode hygiene, half 2: after a manifest is committed, any
    * `part-*` dir under the table dir that the manifest does NOT
    * reference is dead weight for this lineage — a crashed commit's
    * orphan that a parameter-compatible retry did not reclaim, or
    * parts superseded by compaction. Safe to sweep because
    * [[requireEmptyPartsDir]] pins one parts dir to one lineage, and
    * in the append flow prior state dirs' manifests only ever
    * reference a subset of the current part list. (The Compactor's
    * manifest does NOT cover prior parts — it calls this only after
    * its `_COMMITTED` lands, because sweeping first would destroy the
    * input state dir's tables on a crashed compaction.) */
  private[graft] def sweepOrphanParts(
      spark: SparkSession, pd: String, table: String,
      kept: Seq[String]): Unit = {
    val td = new org.apache.hadoop.fs.Path(s"$pd/$table")
    val fs = td.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keptNames = kept.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    if (fs.exists(td)) fs.listStatus(td).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("part-") && !keptNames.contains(name)) {
        fs.delete(st.getPath, true)
        log(s"swept orphan state part ${st.getPath}")
      }
    }
  }

  /** Per-stage wall-time + row-count collector for the Curator's run
    * artifact (the Bench mem-block idiom: a production run should be
    * diagnosable from its artifacts alone, without logs). `rows` come
    * from observations of the writing pass: a counted stage attaches a
    * [[RowCounter]] (`Dataset.observe`) to a frame that pass reads,
    * instead of a `count()` that re-runs the lineage above the stage,
    * and [[report]] defers its `rows` and log line to [[resolve]], after
    * the write. `sec` is driver wall time spent around lazy code: the
    * time INSIDE a stage's block — plan construction plus whatever eager
    * work (persists, writes, a library's own actions) it performs; a lazy
    * stage's execution lands on whichever later block runs an action.
    * Insertion order is preserved — the artifact reads top-to-bottom as
    * the pipeline ran. */
  final class StageLog {
    private val entries = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Option[Long])]
    private val reports = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    // attached counters, read by the listener on Spark's listener bus;
    // the listener (not Spark's `Observation`, whose manager, once made,
    // leaves the session unserializable for closures that capture it)
    // hands each counter its values from the first action that reports
    // them
    private val counters = new java.util.concurrent.CopyOnWriteArrayList[RowCounter]()
    private var listener: Option[(SparkSession, org.apache.spark.sql.util.QueryExecutionListener)] =
      None

    private[Cli] def attach(c: RowCounter, spark: SparkSession): Unit = {
      counters.add(c)
      if (listener.isEmpty) {
        val l = new org.apache.spark.sql.util.QueryExecutionListener {
          def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
              ns: Long): Unit =
            counters.forEach(c => qe.observedMetrics.get(c.name).foreach(c.fill))
          def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        }
        spark.listenerManager.register(l)
        listener = Some(spark -> l)
      }
    }

    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = entries.get(name).flatMap(_._2)
      entries.put(name, (sec, rows))
      r
    }

    /** Attach a row count observed for a stage (kept across the
      * enclosing `timed` call). */
    def rows(name: String, n: Long): Unit = {
      val sec = entries.get(name).map(_._1).getOrElse(0.0)
      entries.put(name, (sec, Some(n)))
      ()
    }

    /** A new row counter, also summing each named column (0 over no rows). */
    def counter(sums: (String, org.apache.spark.sql.Column)*): RowCounter =
      new RowCounter(this, sums)

    /** Run `body` in [[resolve]], after the pass that fills the counters
      * it reads; reports run in the order they were made. */
    def report(body: => Unit): Unit = reports += (() => body)

    /** [[report]] that first fills `stage`'s rows from `n`. */
    def report(stage: String, n: RowCounter)(body: => Unit): Unit =
      report { rows(stage, n.rows); body }

    /** Call once the write has returned: wait for the counters' values
      * (Spark delivers them on its listener bus after the action; a
      * frame no action ran never gets any, so the wait is bounded), then
      * run the reports — one that reads a missing value logs that. */
    def resolve(): Unit = {
      val deadline = scala.concurrent.duration.Duration(2, "minutes").fromNow
      counters.forEach(_.await(deadline))
      listener.foreach { case (s, l) => s.listenerManager.unregister(l) }
      listener = None
      reports.foreach { r =>
        try r() catch { case e: NoSuchElementException => log(s"stage counts: ${e.getMessage}") }
      }
      reports.clear()
    }

    def writeJson(spark: SparkSession, path: String): Unit = {
      val body = entries.map { case (k, (sec, rows)) =>
        s""""$k":{"sec":${"%.3f".formatLocal(java.util.Locale.ROOT, sec)}""" +
          rows.map(r => s""","rows":$r""").getOrElse("") + "}"
      }.mkString("{", ",", "}")
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One observation from [[StageLog.counter]]: [[observe]] attaches it
    * to the frame whose rows it counts, [[rows]] and [[apply]] read the
    * values once [[StageLog.resolve]] has waited for them. The values
    * are those of the first action that runs the observed frame, summed
    * over every time that action computes it. So that action must read
    * each row exactly once: a `limit` or `take` would fix a partial
    * count, and a range partitioner, which samples its input in a job of
    * its own, doubles a count it is not shielded from by a cache. */
  final class RowCounter private[Cli] (log: StageLog,
      sums: Seq[(String, org.apache.spark.sql.Column)]) {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    private[Cli] val name = s"rows-${java.util.UUID.randomUUID()}"
    private val values = scala.concurrent.Promise[org.apache.spark.sql.Row]()

    def observe(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      log.attach(this, df.sparkSession)
      df.observe(name, count(lit(1)).as("rows"),
        sums.map { case (k, c) => coalesce(sum(c.cast("long")), lit(0L)).as(k) }: _*)
    }

    private[Cli] def fill(r: org.apache.spark.sql.Row): Unit = values.trySuccess(r)

    private[Cli] def await(deadline: scala.concurrent.duration.Deadline): Unit =
      scala.util.Try(scala.concurrent.Await.ready(values.future,
        deadline.timeLeft.max(scala.concurrent.duration.Duration.Zero)))

    def rows: Long = apply("rows")

    def apply(metric: String): Long = values.future.value match {
      case Some(scala.util.Success(r)) if r.schema != null && r.schema.fieldNames.contains(metric) =>
        r.getAs[Long](metric)
      case _ => throw new NoSuchElementException(
        s"'$metric' was not observed (no action read the counted frame)")
    }
  }

  /** Run `body` with timing + started/finished log lines (the shared
    * shape of all three reference CLIs). */
  def run(name: String, args: Array[String])(body: (GraftConfig, SparkSession) => Unit): Unit = {
    val start = System.nanoTime()
    log(s"------------------- $name started")
    val conf = parseConf(args)
    val spark = session(conf, name)
    try body(conf, spark)
    finally {
      log(f"execution time: ${(System.nanoTime() - start) / 1e9}%.1f sec")
    }
  }
}

/** E1 `mover` (reference `mover.py:11-41`): copy a dataset between any
  * source and any sink. The source is cached before the write so the
  * trailing count reuses it instead of rescanning (the reference's
  * missing-cache double-scan, `mover.py:33-35`, SURVEY §7). */
object Mover {
  def main(args: Array[String]): Unit = Cli.run("mover", args) { (conf, spark) =>
    Cli.log("moving data...")
    val df = graft.sources.DataIO.read(spark, conf.at("source")).cache()
    graft.sources.DataIO.write(df, conf.at("target"))
    println(s"data set size: ${df.count()}")
    df.unpersist()
    Cli.log("download is finished")
  }
}

/** E2 `scorer` (reference `scorer.py:12-65`): batch model inference.
  * Source → uid filter/cast → pandify → score → metadata columns →
  * count + write (cached between the two actions, `scorer.py:48`).
  *
  * The model is config-selected (B4 without dynamic code loading):
  *  - `model-path`  — a saved MLlib PipelineModel directory, scored
  *    through the `Trainer.scoreModel` dispatch; the model name is the
  *    path's basename (`scorer.py:53`);
  *  - `model-expr`  — a SQL expression scored as a single projection
  *    (`ml.Scorer.scoreExpr`), e.g. `"f1 * f2"`; named by `model-name`.
  */
object Scorer {
  def main(args: Array[String]): Unit = Cli.run("scorer", args) { (conf, spark) =>
    import org.apache.spark.sql.functions.{col, expr}
    Cli.log("loading data...")
    val uidCol = conf.getString("uid-column").getOrElse("uid")
    val src = graft.sources.DataIO.read(spark, conf.at("source"))
      .filter(col(uidCol).isNotNull)
      .withColumn(uidCol, col(uidCol).cast("string"))
    val df = graft.operators.Ops.pandify(src)
    val colsToSave = conf.getList("cols-to-save")
      .getOrElse(Seq("uid", "true_target", "business_dt")) // scorer.py:36
    val classNames = conf.getList("target-class-names").getOrElse(Nil) // scorer.py:37
    val (scored0, modelName) = (conf.getString("model-path"), conf.getString("model-expr")) match {
      case (Some(path), _) =>
        val m = graft.ml.Trainer.load(path)
        (graft.ml.Trainer.scoreModel(m, df, colsToSave, classNames),
          new java.io.File(path).getName)
      case (None, Some(e)) =>
        (graft.ml.Scorer.scoreExpr(df, Seq("pred" -> expr(e)), colsToSave),
          conf.getString("model-name").getOrElse("expr"))
      case _ => throw new IllegalArgumentException("scorer needs model-path or model-expr")
    }
    val currentDt = conf.getString("current-dt").getOrElse(
      java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm")))
    val scored = graft.operators.Ops.withMeta(scored0,
      Seq("model_name" -> modelName, "current_dt" -> currentDt)).cache()
    println(s"scores generated: ${scored.count()}")
    Cli.log("saving scores ...")
    graft.sources.DataIO.write(scored, conf.at("target"))
    // `evaluate { }` (beyond the reference, which scores blind): when a
    // label rides the saved columns, measure the scores against it —
    // binary AUC + accuracy@0.5 via MLlib, or regression RMSE/MAE —
    // write the metrics artifact FIRST (operators need it most when
    // the gate trips, the Differ convention), then enforce `min-auc` /
    // `max-rmse` with a nonzero exit so schedulers can alert.
    val ev = conf.at("evaluate")
    ev.getString("label-column").foreach { labelCol =>
      require(scored.columns.contains(labelCol),
        s"evaluate.label-column '$labelCol' must ride cols-to-save")
      val scoreCol = ev.getString("score-column").getOrElse(
        if (scored.columns.contains("target_proba")) "target_proba" else "pred")
      require(scored.columns.contains(scoreCol),
        s"evaluate.score-column '$scoreCol' not in the scored output")
      val kind = ev.getString("kind").getOrElse("binary")
      val pairs = scored.select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("double").as("l")).na.drop()
      // n first: an EMPTY pair set must report NaN metrics (and fail
      // any gate loudly below), not NPE on a null aggregate
      val n = pairs.count()
      val metrics: Seq[(String, Double)] = kind match {
        case "binary" if n == 0 =>
          Seq("auc" -> Double.NaN, "accuracy_at_0.5" -> Double.NaN)
        case "binary" =>
          val auc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
            .setRawPredictionCol("s").setLabelCol("l")
            .setMetricName("areaUnderROC").evaluate(pairs)
          val acc = pairs.select(
            org.apache.spark.sql.functions.avg(
              (((col("s") >= 0.5) === (col("l") >= 0.5))).cast("double")))
            .head().getDouble(0)
          Seq("auc" -> auc, "accuracy_at_0.5" -> acc)
        case "regression" if n == 0 =>
          Seq("rmse" -> Double.NaN, "mae" -> Double.NaN)
        case "regression" =>
          val r = pairs.select(
            org.apache.spark.sql.functions.sqrt(
              org.apache.spark.sql.functions.avg(
                (col("s") - col("l")) * (col("s") - col("l")))).as("rmse"),
            org.apache.spark.sql.functions.avg(
              org.apache.spark.sql.functions.abs(col("s") - col("l"))).as("mae"))
            .head()
          Seq("rmse" -> r.getDouble(0), "mae" -> r.getDouble(1))
        case other => throw new IllegalArgumentException(
          s"evaluate.kind must be binary | regression, got '$other'")
      }
      metrics.foreach { case (k, v) => Cli.log(f"evaluate: $k = $v%.6f (n=$n)") }
      ev.getString("report-dir").foreach { d =>
        import spark.implicits._
        (metrics :+ ("n" -> n.toDouble))
          .toDF("metric", "value")
          .coalesce(1).write.mode("overwrite").parquet(d)
        Cli.log(s"evaluation report -> $d")
      }
      val m = metrics.toMap
      // a gate must never go green on a meaningless evaluation: an
      // empty pair set yields NaN (and `NaN < floor` is false), and a
      // SINGLE-CLASS label set makes MLlib report AUC = 1.0 — a
      // vacuous pass over the exact check that exists to fail loudly
      def gateable(metric: String, v: Double): Unit = {
        if (n == 0) throw new IllegalStateException(
          s"evaluate: the $metric gate cannot be applied — zero non-null " +
            s"(score, label) pairs (is '$labelCol' populated?)")
        if (v.isNaN) throw new IllegalStateException(
          s"evaluate: the $metric gate cannot be applied — $metric is NaN " +
            "on this evaluation set; check the label column")
        if (metric == "auc" && pairs.select(col("l")).distinct().count() < 2)
          throw new IllegalStateException(
            "evaluate: the auc gate cannot be applied — the label column " +
              s"'$labelCol' holds a single class, which makes AUC vacuous " +
              "(MLlib reports 1.0 with no negatives); fix the evaluation set")
      }
      ev.getDouble("min-auc").foreach { floor =>
        require(kind == "binary", "evaluate.min-auc needs kind = binary")
        gateable("auc", m("auc"))
        if (m("auc") < floor) throw new IllegalStateException(
          f"evaluate: AUC ${m("auc")}%.4f below the $floor gate")
      }
      ev.getDouble("max-rmse").foreach { cap =>
        require(kind == "regression", "evaluate.max-rmse needs kind = regression")
        gateable("rmse", m("rmse"))
        if (m("rmse") > cap) throw new IllegalStateException(
          f"evaluate: RMSE ${m("rmse")}%.4f above the $cap gate")
      }
    }
    scored.unpersist()
  }
}

/** `curator` (north-star, no reference counterpart): config-driven corpus
  * curation — source → annotate → quality/lang filter → exact dedup →
  * verified near-dedup → optional training-mix sampling → optional
  * context-window chunking → sink, with survivor counts logged. The full
  * "raw corpus in, training set out" pipeline.
  *
  * Config keys under `curation { }`: `id-column` (default doc_id),
  * `text-column` (default text), `min-quality`, `gopher-rules = true`
  * (the full published Gopher rule set as one more scan predicate),
  * `c4-rules = true` (the published C4 cleaning: line retention
  * rewrites the text FIRST, page rules drop pages),
  * `strip-markdown = true` (markdown markup to plain text, fenced code
  * kept verbatim — the code/docs-corpus ingest boundary, applied after
  * the HTML one so HTML-rendered markdown sheds both layers),
  * `strip-html = true` (deterministic HTML-to-text extraction, first
  * of the text rewrites), `normalize-text = true` (mojibake repair +
  * CRLF/control cleanup + Unicode NFC, before redaction and all
  * hashing); the shipped rewrite/filter tables are stand-ins for the
  * published data and each has a file knob: `entity-list-path` /
  * `mojibake-list-path` (ordered `find<TAB>replace` per line, needs
  * its stage on) and `badword-list-path` (word per line, needs
  * `c4-rules`); loaded pair lists change the canonical bytes dedup
  * state hashes, so their content fingerprint joins the state commit
  * record and drift is rejected; `max-pii-hits = N` (drop documents whose progressive
  * redaction hit count exceeds N — directory/dump pages),
  * `langs = [en, ...]`,
  * `near-dup-strategy` (simhash|minhash), `min-jaccard`,
  * `max-jaccard-distance`, `max-hamming`, `bands`, `shingle-size`,
  * `transitive-near-dups`; pre-curation: `redact = true` scrubs PII
  * BEFORE any hashing, so dedup state is computed over scrubbed text;
  * `dedup-urls = true` (+ `url-column`): URL-keyed first-seen-wins
  * dedup over `DomainFilter.normalizeUrl` canonical keys, FIRST of
  * the content stages, with accumulated `urls` hash state (the
  * RefinedWeb fetch-dedup step);
  * `dedup-lines = true` (+ `dedup-lines-min-len`, default 15):
  * corpus-global first-occurrence-wins LINE dedup (the Dolma/
  * RefinedWeb exact-paragraph step) between boilerplate and span
  * dedup, with accumulated `lines` hash state and a `lineparams`
  * drift guard;
  * post-curation: `ppl-bucket-keep = [head, middle]` (CCNet
  * perplexity buckets per `ppl-bucket-group-column`, default
  * `source`; `ppl-bucket-model = unigram|knn|mkn` picks the scoring
  * model — unigram needs `lm-path`, knn/mkn score the `knn-path`
  * artifact with interpolated/modified KN (CCNet's actual KenLM-class
  * configuration; `knn-packed` composes); `ppl-bucket-head-frac`/
  * `ppl-bucket-middle-frac` default thirds; the kept rows carry a
  * `ppl_bucket` provenance column), `mixture-weights { src = f }` (+
  * `mixture-source-column`, `mixture-default-fraction`,
  * `mixture-salt`), `token-budgets { src = N }` (+
  * `token-budget-column` default n_tokens, `token-budget-salt`,
  * `token-budget-default` default unlimited, `token-budget-scale =
  * true` for the windowless threshold form — budgets in TOKENS per
  * source, prefix-by-digest, composing after any rule above),
  * `epoch-weights { src = w }` (+
  * `epoch-default-weight`, `epoch-salt`; w may exceed 1 — repeats
  * each source's docs ~w times with an `epoch` tag, composable with
  * any composition rule and with splits/chunking; the epoch joins the
  * shuffle row identity), `splits = ["train:0.8", "val:0.1", "test:0.1"]`
  * (+ `split-salt`, `split-column`; ordered — ranges are cumulative)
  * and `chunk-size` (+ `chunk-overlap`, default size/4; the split
  * label rides along on every chunk); `bpe-vocab` (requires
  * `bpe-merges`) adds a `token_ids` int-array column — chunk text (or
  * doc text) encoded under the learned tokenizer, the form a trainer
  * consumes (`bpe-byte-level = true` switches budget chunking, encoding,
  * and packing to the GPT-2-style byte-level tokenizer over byte-level
  * artifacts — `bpe-budget` then counts byte-level ids, cuts at
  * pretoken boundaries, and overlap-0 chunks tile the document
  * byte-for-byte);
  * `bpe-special-tokens` protects declared spellings during the
  * token_ids encoding (fixed vocab-tail ids, never merged across —
  * the Tokenizer CLI's special-tokens contract, consumed here; budget
  * chunking counts a special span as plain text, an OVER-estimate of
  * its one-id cost, so budget-sized chunks never exceed the window);
  * `unigram-model` runs the SAME token pipeline — `bpe-budget`
  * chunking, `token_ids` encoding (`unigram-ids = true`, or implied by
  * packing), and `pack-seq-len` packing — under a trained UNIGRAM
  * model (Tokenizer CLI `algo = unigram`) instead of a merge table;
  * mutually exclusive with every `bpe-*` tokenizer knob, one tokenizer
  * per run; `real-token-counts = true` re-annotates `n_tokens` with
  * the configured tokenizer's TRUE id count (unigram or BPE family),
  * so token budgets and the data card's `total_tokens` mean the
  * training tokenizer's units instead of the heuristic proxy;
  * `pack-mode = stream` (default) packs cross-doc windows — the
  * pretraining contract — while `pack-mode = pad` emits one padded
  * fixed-length sequence PER ROW (ids + separator + `pack-pad-token`,
  * default the separator; truncation flagged) — the SFT/example-level
  * contract, a pure projection with zero pack shuffle;
  * `pack-seq-len` (+ `pack-buckets`, requires `bpe-vocab` with an
  * `<eos>`-bearing layout — byte-fallback or byte-level, both carry
  * it at id 1) replaces the per-row
  * export with packed fixed-length `input_ids` sequences — the vocab's
  * `<eos>` id after every doc and `doc_boundaries` offsets for
  * attention masking (docs cross sequence boundaries, nothing padded);
  * `pack-eos-token` names a vocab token (typically a declared special
  * like `<|endoftext|>`) as the separator instead of `<eos>`.
  * `fim-rate` re-emits that fraction of training rows as
  * sentinel-delimited fill-in-the-middle examples (Bavarian et al.
  * 2022; `fim-mode = psm | spm`, `fim-salt`, `fim-*-token` overrides;
  * `fim_applied` rides the rows): runs on the training UNIT — the
  * chunk when chunking is on, the document otherwise. HEADROOM RULE:
  * the three sentinels add ~3 ids to every transformed row, so size
  * budgets (`bpe-budget`, `pack-seq-len`) must reserve that headroom
  * — configure `bpe-budget = window - 3` (and the padded `pack-mode =
  * pad` export flags any overflow as truncation). On transformed rows
  * `chunk_tokens` is recounted over the emitted text and
  * `chunk_bpe_tokens` is re-derived from `token_ids` when id export
  * is on (NULLed otherwise — a stale pre-FIM count would read as
  * truth). With token-id export every sentinel must be a declared
  * `bpe-special-tokens` entry (single fixed id, never split);
  * FIM + unigram id export is refused.
  * Reporting: `report-dir` (+
  * `report-group-columns`) writes the per-group corpus data card;
  * `cardinality-group-columns` (+ `cardinality-report-dir`,
  * `cardinality-gram-size` — 1 counts distinct tokens, n > 1 distinct
  * word n-grams for contamination budgeting; `cardinality-hash-grams
  * = true` is the scale form — native 64-bit gram hashes instead of
  * gram strings feed the sketch and the hit state, with
  * representation drift rejected) adds mergeable per-group
  * HLL sketches of distinct docs/tokens — the lifetime estimates
  * accumulate across batches via the `cardsketch` state subdir;
  * gram-size drift between increments is rejected. With BOTH a
  * gram-size sketch (> 1) and `benchmark-dir`, the cardinality report
  * gains the contamination budget (exact lifetime hit grams via the
  * `benchhits` state over the sketch denominator).
  * `freq-value-columns` (+ `freq-k` default 64, `freq-report-dir`)
  * adds mergeable per-column Misra–Gries heavy-hitter sketches — the
  * corpus-lifetime dominant sources/domains/languages, accumulated
  * across batches via the `freqsketch` state subdir; column-set and
  * k drift between increments are rejected. Lifetime statistics whose
  * stage is off in a given run carry forward unchanged.
  * `stage-log-path`
  * writes a per-stage wall-time/row-count JSON artifact at the end of
  * the run — the run-diagnosability counterpart of the Bench mem
  * block.
  *
  * INCREMENTAL mode (how curation runs in production — daily batches
  * against persisted dedup state, never re-reading the corpus):
  * `state-dir` points at a previous run's `state-out-dir` (parquet
  * subdirs `hashes/`, `sigs/`, `hot/`); batch rows already in — or
  * SimHash-near — the corpus are dropped before curation, and
  * `state-out-dir` receives old-state ∪ this run's survivors for the
  * next increment. Alternate A/B state dirs between runs. */
object Curator {
  def main(args: Array[String]): Unit = Cli.run("curator", args) { (conf, spark) =>
    import org.apache.spark.sql.functions.{col, concat, length, lit, row_number, size, split, when, xxhash64}
    Cli.log("loading corpus...")
    // fanned out (r15): every stage below (entity decode, normalize,
    // redact regexes, quality/gopher/c4 predicates, shingle hashing) is
    // per-row-heavy scan work pipelined on the source's partitions — a
    // single-row-group or single-gzip source plans as one task and the
    // whole pre-shuffle pipeline then runs on one core. No-op on
    // well-split inputs or when the source config already distributed.
    val rawIn = graft.operators.Ops.fanOutForCompute(
      graft.sources.DataIO.read(spark, conf.at("source")))
    val c = conf.at("curation")
    // per-stage artifact collector (written at the end when
    // `stage-log-path` is set) — every ENABLED stage appears, in run
    // order, with its wall seconds and any row count it observed
    val stages = new Cli.StageLog
    // optional domain/URL gate FIRST of all — metadata-only, the
    // cheapest stage, so redact/boilerplate/dedup and every persisted
    // signature only ever see ADMITTED documents: `domain-column` names
    // the url/domain metadata, `blocklist-path` a one-domain-per-line
    // file (UT1 convention; `domain-list-mode = allow` inverts it,
    // `domain-match-parents = false` disables suffix matching),
    // `blocked-tlds` a TLD list gated by scan predicate
    require((c.getString("blocklist-path").isEmpty &&
        c.getList("blocked-tlds").isEmpty) || c.getString("domain-column").isDefined,
      "curation.blocklist-path / curation.blocked-tlds need " +
        "curation.domain-column (the url/domain metadata column)")
    val raw = c.getString("domain-column") match {
      case Some(dcol) => stages.timed("domain-gate") {
        import graft.llm.DomainFilter
        val nIn, n = stages.counter()
        var d = nIn.observe(rawIn)
        c.getString("blocklist-path").foreach { bp =>
          d = DomainFilter.filterByDomains(d,
            c.getString("id-column").getOrElse("doc_id"), dcol,
            DomainFilter.loadDomainList(spark, bp),
            mode = c.getString("domain-list-mode").getOrElse("block"),
            matchParents = c.getBoolean("domain-match-parents").getOrElse(true))
        }
        c.getList("blocked-tlds").filter(_.nonEmpty).foreach { tlds =>
          d = DomainFilter.filterByTlds(d, dcol, tlds)
        }
        stages.report("domain-gate", n) {
          Cli.log(s"domain gate: ${n.rows} of ${nIn.rows} docs admitted")
        }
        n.observe(d)
      }
      case None => rawIn
    }
    // config-loadable filter lists (the loadDomainList/bpe-merges
    // idiom): the shipped in-source tables are documented STAND-INS for
    // the full published data — `entity-list-path` (HTML5 entity
    // table), `mojibake-list-path` (ftfy repair table),
    // `badword-list-path` (the LDNOOBW list). The chains are
    // list-agnostic; a loaded list interpolates into the scan
    // projection as literals exactly like the defaults (which is what
    // keeps the stages oracle-replayable). A list path without its
    // stage on would be silently dead config — rejected up front.
    require(c.getString("entity-list-path").isEmpty ||
        c.getBoolean("strip-html").getOrElse(false),
      "curation.entity-list-path needs curation.strip-html = true")
    require(c.getString("mojibake-list-path").isEmpty ||
        c.getBoolean("normalize-text").getOrElse(false),
      "curation.mojibake-list-path needs curation.normalize-text = true")
    require(c.getString("badword-list-path").isEmpty ||
        c.getString("c4-rules").exists(_.toBoolean),
      "curation.badword-list-path needs curation.c4-rules = true")
    val entityList = c.getString("entity-list-path")
      .map(graft.llm.TextAnalysis.loadPairList(spark, _))
    val mojibakeList = c.getString("mojibake-list-path")
      .map(graft.llm.TextAnalysis.loadPairList(spark, _))
    val badwordList = c.getString("badword-list-path")
      .map(graft.llm.TextAnalysis.loadWordList(spark, _))
    // optional HTML extraction FIRST of the text rewrites
    // (`strip-html = true`): markup never reaches normalization, PII
    // regexes, or any hash — the ingest boundary for web corpora
    val rawH =
      if (!c.getBoolean("strip-html").getOrElse(false)) raw
      else stages.timed("strip-html") {
        val tcol = c.getString("text-column").getOrElse("text")
        // default = the COMPLETE published WHATWG set (2,125 named
        // references + numeric forms) through the native single-pass
        // decoder; `entity-list-path` overrides with an ordered
        // literal chain when an operator needs a custom/replayable list
        raw.withColumn(tcol, entityList match {
          case Some(list) => graft.llm.TextAnalysis.stripHtml(col(tcol), list)
          case None => graft.llm.TextAnalysis.stripHtmlFull(col(tcol))
        })
      }
    // optional markdown strip next (`strip-markdown = true`): the
    // ingest boundary for code/docs corpora (READMEs, wikis) — markup
    // markers out, content (fenced code included) kept; one-shot, like
    // the HTML boundary above. Runs AFTER strip-html so documents
    // carrying both (HTML-rendered markdown) shed both layers.
    val rawM =
      if (!c.getBoolean("strip-markdown").getOrElse(false)) rawH
      else stages.timed("strip-markdown") {
        val tcol = c.getString("text-column").getOrElse("text")
        rawH.withColumn(tcol,
          graft.functions.GraftFunctions.markdownStrip(col(tcol)))
      }
    // optional text normalization next (`normalize-text = true`):
    // mojibake repair, CRLF/control cleanup, Unicode NFC — BEFORE
    // redaction and any hashing, so PII regexes see repaired text and
    // dedup state hashes canonical bytes (the same visible string in
    // composed and decomposed form must carry ONE content hash)
    val rawN =
      if (!c.getBoolean("normalize-text").getOrElse(false)) rawM
      else stages.timed("normalize-text") {
        val tcol = c.getString("text-column").getOrElse("text")
        // default = the ftfy-core ALGORITHM (re-decode any cp1252/
        // latin-1-rendered UTF-8, looped for double encodings);
        // `mojibake-list-path` overrides with an ordered literal chain
        // when an operator needs a pinned/replayable repair set
        rawM.withColumn(tcol, mojibakeList match {
          case Some(list) => graft.llm.TextAnalysis.normalizeText(col(tcol), list)
          case None => graft.llm.TextAnalysis.normalizeTextFull(col(tcol))
        })
      }
    // optional PII density gate (`max-pii-hits = N`): documents with
    // more than N progressive redaction hits are DROPPED, not scrubbed
    // — a page that is mostly emails/phones/IPs is a directory listing
    // or a dump, not prose worth training on after scrubbing. Counted
    // on the (extracted, normalized) text the scrub itself would see.
    val rawP = c.getInt("max-pii-hits") match {
      case None => rawN
      case Some(maxHits) => stages.timed("pii-gate") {
        require(maxHits >= 0, s"curation.max-pii-hits must be >= 0, got $maxHits")
        val tcol = c.getString("text-column").getOrElse("text")
        val total = graft.llm.TextAnalysis.redactionCounts(col(tcol))
          .reduce(_ + _)
        rawN.filter(total <= maxHits)
      }
    }
    // optional PII scrub next — before any hashing/signatures, so the
    // persisted dedup state is computed over scrubbed text (state built
    // on unscrubbed text would stop matching future scrubbed batches)
    val df0 =
      if (!c.getBoolean("redact").getOrElse(false)) rawP
      else stages.timed("redact") {
        val tcol = c.getString("text-column").getOrElse("text")
        rawP.withColumn(tcol, graft.llm.TextAnalysis.redact(col(tcol)))
      }
    val base = graft.llm.Curation.Config()
    val cc = graft.llm.Curation.Config(
      minQuality = c.getDouble("min-quality").getOrElse(base.minQuality),
      // full Gopher rule set (published thresholds) as one more
      // scan predicate: `gopher-rules = true`
      gopherRules = c.getString("gopher-rules").exists(_.toBoolean),
      // C4 cleaning (published thresholds): `c4-rules = true` — line
      // retention rewrites the text FIRST, page rules drop pages
      c4Rules = c.getString("c4-rules").exists(_.toBoolean),
      c4BadWords = badwordList.getOrElse(base.c4BadWords),
      maxRepetition = c.getDouble("max-repetition").getOrElse(base.maxRepetition),
      repetitionNgram = c.getInt("repetition-ngram").getOrElse(base.repetitionNgram),
      // zlib-compressibility floor (`min-deflate-ratio`): drop docs
      // that deflate below the ratio — the template/keyword-stuffing
      // signal; 0 (default) = off
      minDeflateRatio = c.getDouble("min-deflate-ratio").getOrElse(base.minDeflateRatio),
      langs = c.getList("langs").map(_.toSet).getOrElse(base.langs),
      nearDupStrategy = c.getString("near-dup-strategy").getOrElse(base.nearDupStrategy),
      nearDupMaxJaccardDistance = c.getDouble("max-jaccard-distance").getOrElse(base.nearDupMaxJaccardDistance),
      nearDupMinJaccard = c.getDouble("min-jaccard").getOrElse(base.nearDupMinJaccard),
      simHashMaxHamming = c.getInt("max-hamming").getOrElse(base.simHashMaxHamming),
      simHashBands = c.getInt("bands").getOrElse(base.simHashBands),
      simHashMaxBucket = c.getInt("max-bucket").getOrElse(base.simHashMaxBucket),
      shingleSize = c.getInt("shingle-size").getOrElse(base.shingleSize),
      transitiveNearDups = c.getString("transitive-near-dups").exists(_.toBoolean),
      keepPolicy = c.getString("keep-policy").getOrElse(base.keepPolicy),
      // CCNet-style LM quality filter: `lm-path` points at a saved
      // unigram LM (LangModel.save artifact, built offline on a
      // curated reference slice); `min-lm-logp` is the avg log10
      // token-probability floor (omit to annotate without filtering)
      lmPath = c.getString("lm-path"),
      minLmLogP = c.getDouble("min-lm-logp").getOrElse(base.minLmLogP),
      lm2Path = c.getString("lm2-path"),
      minLm2LogP = c.getDouble("min-lm2-logp").getOrElse(base.minLm2LogP),
      // order-n LM filter: `lmn-path` points at a saved LangModel
      // .saveNgram artifact (order self-described in the header)
      lmnPath = c.getString("lmn-path"),
      minLmnLogP = c.getDouble("min-lmn-logp").getOrElse(base.minLmnLogP),
      // interpolated-KN trigram filter: `kn3-path` points at a saved
      // saveTrigram artifact of UNPRUNED tables (trainTrigram with
      // minCount = 1) or the saveNgram file of trainKneserNeyN(…, 3)
      kn3Path = c.getString("kn3-path"),
      minKn3LogP = c.getDouble("min-kn3-logp").getOrElse(base.minKn3LogP),
      // interpolated-KN ORDER-N filter: `knn-path` points at a saved
      // saveNgram artifact of UNPRUNED tables (trainKneserNeyN); the
      // order is self-described in the header
      knnPath = c.getString("knn-path"),
      minKnnLogP = c.getDouble("min-knn-logp").getOrElse(base.minKnnLogP),
      // `knn-packed = true` scores through the flat fingerprint/f32
      // registry (order-5-scale executor footprint; ~1e-5 score
      // agreement with the exact registry); `knn-modified = true`
      // selects modified KN (KenLM's default three-discount smoothing)
      // over the same artifact — the two compose
      knnPacked = c.getBoolean("knn-packed").getOrElse(base.knnPacked),
      knnModified = c.getBoolean("knn-modified").getOrElse(base.knnModified),
      // learned quality filter: `classifier-path` points at a saved
      // QualityClassifier (fastText-style reference-vs-random logistic
      // model, trained offline); `min-classifier-score` is the
      // P(reference-like) floor (omit to annotate without filtering)
      classifierPath = c.getString("classifier-path"),
      minClassifierScore =
        c.getDouble("min-classifier-score").getOrElse(base.minClassifierScore),
      // bag-of-words quality filter: `bow-classifier-path` points at a
      // saved HashingTF(+IDF)->LR pipeline (QualityClassifier.saveBow,
      // trained offline); `min-bow-score` is the P(reference-like)
      // floor (omit to annotate without filtering)
      bowClassifierPath = c.getString("bow-classifier-path"),
      minBowScore = c.getDouble("min-bow-score").getOrElse(base.minBowScore))
    val idCol = c.getString("id-column").getOrElse("doc_id")
    val textCol = c.getString("text-column").getOrElse("text")
    // pure-config validation up front (review finding: these previously
    // fired AFTER curation/dedup had already run for minutes)
    require(c.getInt("chunk-size").isEmpty || c.getInt("bpe-budget").isEmpty,
      "curation.chunk-size and curation.bpe-budget are mutually exclusive — " +
        "fixed whitespace-token windows vs a BPE subword budget; pick one")
    // `unigram-model`: run the whole token pipeline (budget chunking,
    // token_ids encoding, packing) under a trained UNIGRAM model
    // (Tokenizer CLI algo = unigram) instead of a BPE merge table —
    // one tokenizer per run, never a silent mix
    require(c.getString("unigram-model").isEmpty || (
        c.getString("bpe-merges").isEmpty && c.getString("bpe-vocab").isEmpty &&
        c.getBoolean("bpe-byte-level").isEmpty && c.getList("bpe-special-tokens").isEmpty),
      "curation.unigram-model is mutually exclusive with the bpe-* tokenizer " +
        "knobs — token budgets, ids, and packing follow ONE tokenizer per run")
    require(c.getInt("bpe-budget").isEmpty || c.getString("bpe-merges").isDefined ||
        c.getString("unigram-model").isDefined,
      "curation.bpe-budget needs curation.bpe-merges (path to a merges.txt) " +
        "or curation.unigram-model (a trained unigram TSV)")
    require(c.getInt("pack-seq-len").isEmpty || c.getString("bpe-vocab").isDefined ||
        c.getString("unigram-model").isDefined,
      "curation.pack-seq-len needs curation.bpe-vocab or curation.unigram-model " +
        "— packed sequences are token ids, which only a tokenizer defines")
    // `bpe-byte-level = true` encodes token_ids (and packs) under the
    // GPT-2-style byte-level tokenizer: same merges.txt/vocab formats,
    // byte-level artifacts (BpeTrainer.learnByteMerges/buildByteVocab)
    require(c.getBoolean("bpe-byte-level").isEmpty ||
        c.getString("bpe-vocab").isDefined || c.getInt("bpe-budget").isDefined,
      "curation.bpe-byte-level without curation.bpe-vocab or " +
        "curation.bpe-budget is dead config — it selects the tokenizer " +
        "for budget chunking, token_ids encoding, and packing")
    require(c.getBoolean("unigram-ids").isEmpty || c.getString("unigram-model").isDefined,
      "curation.unigram-ids without curation.unigram-model is dead config")
    c.getInt("pack-seq-len").foreach(l => require(l > 0,
      s"curation.pack-seq-len must be positive, got $l"))
    require(c.getInt("pack-buckets").isEmpty || c.getInt("pack-seq-len").isDefined,
      "curation.pack-buckets without curation.pack-seq-len is dead config")
    require(c.getString("pack-report-dir").isEmpty || c.getInt("pack-seq-len").isDefined,
      "curation.pack-report-dir without curation.pack-seq-len is dead config")
    // `pack-mode`: stream (default — cross-doc windows, the pretraining
    // contract) | pad (one padded fixed-length sequence per row — the
    // SFT/example-level contract, no cross-doc packing)
    val packMode = c.getString("pack-mode").getOrElse("stream")
    require(Set("stream", "pad")(packMode),
      s"curation.pack-mode must be stream | pad, got $packMode")
    require(c.getString("pack-mode").isEmpty || c.getInt("pack-seq-len").isDefined,
      "curation.pack-mode without curation.pack-seq-len is dead config")
    require(packMode == "stream" || c.getInt("pack-buckets").isEmpty,
      "curation.pack-buckets applies to stream packing only — dead config " +
        "under pack-mode = pad")
    require(c.getString("pack-pad-token").isEmpty || packMode == "pad",
      "curation.pack-pad-token without curation.pack-mode = pad is dead config")
    require(c.getDouble("min-lm-logp").isEmpty || c.getString("lm-path").isDefined,
      "curation.min-lm-logp needs curation.lm-path (a saved unigram LM file)")
    require(c.getDouble("min-lm2-logp").isEmpty || c.getString("lm2-path").isDefined,
      "curation.min-lm2-logp needs curation.lm2-path (a saved bigram LM file)")
    require(c.getDouble("min-lmn-logp").isEmpty || c.getString("lmn-path").isDefined,
      "curation.min-lmn-logp needs curation.lmn-path (a saved order-n LM file)")
    require(c.getDouble("min-kn3-logp").isEmpty || c.getString("kn3-path").isDefined,
      "curation.min-kn3-logp needs curation.kn3-path (a saved trigram LM file)")
    require(c.getDouble("min-knn-logp").isEmpty || c.getString("knn-path").isDefined,
      "curation.min-knn-logp needs curation.knn-path (a saved order-n LM file)")
    require(c.getBoolean("knn-packed").isEmpty || c.getString("knn-path").isDefined,
      "curation.knn-packed without curation.knn-path is dead config")
    require(c.getBoolean("knn-modified").isEmpty || c.getString("knn-path").isDefined,
      "curation.knn-modified without curation.knn-path is dead config")
    val pplModel = c.getString("ppl-bucket-model").getOrElse("unigram")
    require(Set("unigram", "knn", "mkn")(pplModel),
      s"curation.ppl-bucket-model must be unigram|knn|mkn, got $pplModel")
    require(c.getString("ppl-bucket-model").isEmpty ||
        c.getList("ppl-bucket-keep").exists(_.nonEmpty),
      "curation.ppl-bucket-model without curation.ppl-bucket-keep is dead config")
    require(c.getList("ppl-bucket-keep").forall(_.isEmpty) ||
        (if (pplModel == "unigram") c.getString("lm-path").isDefined
         else c.getString("knn-path").isDefined),
      if (pplModel == "unigram")
        "curation.ppl-bucket-keep needs curation.lm-path (a saved unigram LM file)"
      else
        s"curation.ppl-bucket-model = $pplModel needs curation.knn-path (a saved order-n LM file)")
    require(c.getDouble("min-classifier-score").isEmpty ||
        c.getString("classifier-path").isDefined,
      "curation.min-classifier-score needs curation.classifier-path " +
        "(a saved QualityClassifier file)")
    require(c.getDouble("min-bow-score").isEmpty ||
        c.getString("bow-classifier-path").isDefined,
      "curation.min-bow-score needs curation.bow-classifier-path " +
        "(a saved bag-of-words pipeline directory)")
    c.getDouble("quality-quantile").foreach(f => require(f > 0.0 && f <= 1.0,
      s"curation.quality-quantile must be a keep-fraction in (0,1], got $f"))
    require(Seq(c.getDouble("temperature-alpha").isDefined,
        c.at("mixture-weights").flat.nonEmpty,
        c.getInt("dsir-k").isDefined).count(identity) <= 1,
      "curation.temperature-alpha, curation.mixture-weights and curation.dsir-k " +
        "are mutually exclusive — count-derived rates vs explicit per-source " +
        "fractions vs importance resampling; pick one composition rule")
    require(c.getInt("dsir-k").isEmpty ||
        (c.getString("dsir-target-lm").isDefined && c.getString("dsir-raw-lm").isDefined),
      "curation.dsir-k needs curation.dsir-target-lm and curation.dsir-raw-lm " +
        "(saved unigram LM files — LangModel.save artifacts)")
    c.getDouble("temperature-alpha").foreach(a => require(a >= 0.0 && a <= 1.0,
      s"curation.temperature-alpha must be in [0,1], got $a"))
    c.getDouble("temperature-budget").foreach(b => require(b > 0.0 && b <= 1.0,
      s"curation.temperature-budget must be in (0,1], got $b"))
    require(c.getDouble("temperature-budget").isEmpty || c.getDouble("temperature-alpha").isDefined,
      "curation.temperature-budget needs curation.temperature-alpha")
    c.getInt("boilerplate-min-doc-freq").foreach(m => require(m >= 2,
      s"curation.boilerplate-min-doc-freq must be >= 2, got $m"))
    require(c.getInt("dedup-lines-min-len").isEmpty ||
        c.getBoolean("dedup-lines").getOrElse(false),
      "curation.dedup-lines-min-len without curation.dedup-lines = true is dead config")
    c.getInt("dedup-lines-min-len").foreach(m => require(m >= 0,
      s"curation.dedup-lines-min-len must be >= 0, got $m"))
    require(c.getBoolean("dedup-urls").isEmpty || c.getString("url-column").isDefined,
      "curation.dedup-urls needs curation.url-column (the URL metadata column)")
    require(c.getString("url-column").isEmpty ||
        c.getBoolean("dedup-urls").getOrElse(false),
      "curation.url-column without curation.dedup-urls = true is dead config")
    if (c.getString("shuffle-salt").isDefined) {
      // the deterministic export shuffle IS the write layout — any
      // target knob that re-partitions/re-sorts/re-groups rows would
      // silently destroy the permutation (knob list owned by DataIO,
      // next to write() itself, so it cannot drift)
      val conflicting = graft.sources.DataIO.activeLayoutKnobs(conf.at("target"))
      require(conflicting.isEmpty,
        s"curation.shuffle-salt and target ${conflicting.mkString("/")} are " +
          "mutually exclusive — the deterministic shuffle is itself the " +
          "write layout; a post-shuffle repartition or sort would destroy it")
    }
    // ---- incremental mode: drop batch rows already in (or near) the
    // persisted corpus STATE before curating. All state paths go through
    // Hadoop FileSystem (java.io.File is silently false for hdfs:// etc.
    // — that failure mode would skip dedup AND overwrite the state).
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(d: String): Path = {
      val p = new Path(d); p.getFileSystem(hconf).makeQualified(p)
    }
    def exists(p: Path): Boolean = p.getFileSystem(hconf).exists(p)
    // ---- optional VECTOR dedup tier (semantic near-dups via SRP
    // signature state — the embedding analog of the text tiers below):
    // enabled by naming the corpus' embedding column
    val embCol = c.getString("embedding-column")
    val vecMinCosine = c.getDouble("min-cosine").getOrElse(0.99)
    val vecSeed = c.getLong("srp-seed").getOrElse(4233L)
    val vecBands = c.getInt("srp-bands").getOrElse(4)
    // the fingerprint parameters the persisted signatures/hot-buckets
    // are only valid for — recorded in the commit marker and required
    // to match on read (config drift makes stored sigs silently useless).
    // SRP seed/bands join the string when the vector tier is on: stored
    // vector signatures only compare under the SAME hyperplane seed
    // (mirroring text gramSize), and the persisted hot-bucket keys only
    // mean anything under the same banding.
    // `state-parts-dir` switches hashes/sigs/vecsigs upkeep to the
    // immutable-parts manifest (same design as span's `span-parts-dir`
    // — see the span stage comment); it rides stateParams so mode or
    // lineage drift against a committed state is rejected like any
    // fingerprint-parameter drift
    val statePartsDir = c.getString("state-parts-dir")
    // custom rewrite lists change the CANONICAL BYTES every dedup tier
    // hashes — state built under one list would silently stop matching
    // batches curated under another, so a fingerprint of the parsed
    // list content (not the path — renames are harmless) joins the
    // commit record. Absent when the shipped defaults run, so existing
    // lineages stay valid. (badword-list-path selects WHICH docs
    // survive, like min-quality — it does not change any hash and is
    // deliberately not fingerprinted.)
    def listFp(entries: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.foreach { e => md.update(e.getBytes("UTF-8")); md.update(0.toByte) }
      md.digest().map("%02x".format(_)).mkString.take(12)
    }
    val stateParams =
      s"shingle-size=${cc.shingleSize};bands=${cc.simHashBands};max-bucket=${cc.simHashMaxBucket}" +
        embCol.map(e => s";embedding=$e;srp-seed=$vecSeed;srp-bands=$vecBands").getOrElse("") +
        statePartsDir.map(p => s";state-parts-dir=$p").getOrElse("") +
        mojibakeList.map(l =>
          s";mojibake-list=${listFp(l.map(p => p._1 + "\t" + p._2))}").getOrElse("") +
        entityList.map(l =>
          s";entity-list=${listFp(l.map(p => p._1 + "\t" + p._2))}").getOrElse("") +
        // the round-10 DEFAULT flavors (algorithmic ftfy-core repair;
        // full-WHATWG entity decode) change the canonical bytes vs the
        // old literal-chain defaults, so when their stages run on
        // defaults the flavor joins the record — a state built under
        // the old defaults (no flavor token) is rejected loudly, never
        // silently mismatched
        (if (c.getBoolean("normalize-text").getOrElse(false) && mojibakeList.isEmpty)
          ";norm=ftfy" else "") +
        (if (c.getBoolean("strip-html").getOrElse(false) && entityList.isEmpty)
          ";entities=whatwg" else "")
    val stateDir = c.getString("state-dir")
    stateDir.foreach { d =>
      val marker = new Path(qual(d), "_COMMITTED")
      require(exists(marker),
        s"curation.state-dir '$d' holds no committed state (_COMMITTED missing — " +
          "crashed previous run or wrong path?); omit state-dir on the first run")
      val fs = marker.getFileSystem(hconf)
      val in = fs.open(marker)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      require(stored == stateParams,
        s"curation.state-dir '$d' was built with [$stored] but this run uses " +
          s"[$stateParams] — fingerprints from different parameters do not compare; " +
          "re-curate from scratch or restore the original parameters")
    }
    // canonical-path guard: raw-string compare would accept aliases
    // (trailing slash, relative vs absolute) and then overwrite the
    // state dir while the union plan below lazily reads it
    require(!c.getString("state-out-dir").exists(out =>
      stateDir.exists(in => qual(in) == qual(out))),
      "curation.state-out-dir must differ from state-dir (alternate A/B dirs between runs)")
    // FRESH parts-mode lineage: fail here — before minutes of curation —
    // if the parts dir already holds another lineage's tables (the
    // state-write guard re-checks as defense in depth)
    if (stateDir.isEmpty && c.getString("state-out-dir").isDefined)
      statePartsDir.foreach { pd =>
        Seq("hashes", "sigs", "vecsigs", "hotcounts", "vechotcounts")
          .foreach(t => Cli.requireEmptyPartsDir(spark, qual(pd).toString, t))
      }
    // URL-keyed dedup FIRST of the content stages (the RefinedWeb
    // fetch-dedup step — pages dedup by canonical URL before any text
    // processing): batch-internal first-wins on the
    // DomainFilter.normalizeUrl key, then an anti-join against the
    // state's `urls` table (8 B xxhash64 of the canonical URL) drops
    // arrivals whose URL was fetched by ANY prior batch. Runs before
    // every text stage so rewrites, hashing, and persisted signatures
    // never see refetched pages; rows with a null/absent URL always
    // pass (no key to collide on). The normalization is parameter-free,
    // so the evidence table needs no params record (the linefreqs
    // convention) and old state dirs without it stay valid.
    // manifest-transparent like every other state consumer (the hot-
    // state lesson): accept either a materialized table or a parts
    // manifest, and read through the shared accessor
    val priorUrlDir = stateDir.filter(d =>
      exists(new Path(qual(d), "urls")) || exists(new Path(qual(d), "urlsmanifest")))
    val (df0U, urlEvidence) = c.getBoolean("dedup-urls").getOrElse(false) match {
      case true => stages.timed("url-dedup") {
        val ucol = c.getString("url-column").get
        val prior = priorUrlDir.map(d => Cli.readStateTable(spark, d, "urls"))
        val nIn, n = stages.counter()
        val normed = nIn.observe(df0).withColumn("__url_norm",
          graft.llm.DomainFilter.normalizeUrl(col(ucol)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__url_norm")).orderBy(col(idCol))
        var kept = normed.withColumn("__rn", row_number().over(w))
          .filter(col("__url_norm").isNull || col("__rn") === 1).drop("__rn")
        prior.foreach { ps =>
          kept = kept.join(ps.select(col("url_hash").as("__ph")),
            xxhash64(col("__url_norm")) === col("__ph"), "left_anti")
        }
        val keptDf = n.observe(kept.drop("__url_norm"))
        stages.report("url-dedup", n) {
          Cli.log(s"url-dedup: ${n.rows} of ${nIn.rows} docs hold a first-seen URL" +
            (if (prior.isDefined) " (accumulated evidence)" else ""))
        }
        // state = prior ∪ this batch's distinct canonical-URL hashes —
        // hashes of the stage INPUT, so even the batch's dropped later
        // copies (same hash) are covered by their kept first
        val batchUrls = normed.filter(col("__url_norm").isNotNull)
          .select(xxhash64(col("__url_norm")).as("url_hash")).distinct()
        val state = (prior.toSeq :+ batchUrls)
          .reduce(_.unionByName(_)).distinct().persist()
        (keptDf, Some(state))
      }
      case false =>
        (df0, priorUrlDir.map(d => Cli.readStateTable(spark, d, "urls")))
    }
    // ---- text-rewriting stages, after state validation (they may read
    // accumulated evidence from the state dir) but BEFORE any
    // hashing/signatures — dedup state built over un-rewritten text
    // would stop matching future rewritten batches (the redact argument)
    //
    // line-level boilerplate removal with ACCUMULATED evidence: prior
    // line frequencies ride the committed state (`linefreqs`), so a
    // header that only becomes pervasive ACROSS batches is stripped
    // once the accumulated count crosses the threshold — per-batch
    // evidence alone structurally misses it. The evidence table is
    // parameter-free (verbatim lines), so old state dirs without it
    // stay valid: the stage just starts from this batch's counts.
    val priorLineFreqs = stateDir
      .filter(d => exists(new Path(qual(d), "linefreqs")))
      .map(d => spark.read.parquet(s"$d/linefreqs"))
    val (dfB, boilerFreqs) = c.getInt("boilerplate-min-doc-freq") match {
      case Some(mdf) => stages.timed("boilerplate") {
        val nIn, n = stages.counter()
        val in = nIn.observe(df0U)
        // combined evidence feeds the strip's threshold subset AND the
        // state write below — persist against the double traversal
        val freqs = graft.llm.TextAnalysis.combineLineFreqs(
          priorLineFreqs.toSeq :+
            graft.llm.TextAnalysis.lineDocFreqs(in, idCol, textCol))
          .persist()
        val cleaned = graft.llm.TextAnalysis
          .stripBoilerplateAgainst(in, freqs, idCol, textCol, minDocFreq = mdf)
          .filter(col("n_kept") > 0).drop("n_kept")
        stages.report("boilerplate", n) {
          Cli.log(s"boilerplate: ${n.rows} of ${nIn.rows} docs " +
            s"keep at least one line at min-doc-freq=$mdf" +
            (if (priorLineFreqs.isDefined) " (accumulated evidence)" else ""))
        }
        (n.observe(cleaned), Some(freqs))
      }
      // stage off: carry prior evidence forward unchanged, so toggling
      // boilerplate off for one batch never discards accumulated state
      case None => (df0U, priorLineFreqs)
    }
    // optional exact duplicated-SPAN removal (Lee et al. substring
    // dedup), the third pre-state text-rewriting stage after redact and
    // boilerplate — with ACCUMULATED evidence like boilerplate: the
    // state's `spans` table (distinct corpus span hashes, 8 B each) and
    // its `spanbloom` pre-filter let an arrival batch cut spans whose
    // first copy lives in a PREVIOUS batch, while only ever shuffling
    // its own tokens. Docs whose every token was a duplicated span are
    // dropped. Span evidence is parameterized (hashes only compare
    // under the same span width; blooms only merge under the same
    // sizing), so the parameters ride a `spanparams` record next to the
    // state and a mismatched run is rejected — the stateParams rule,
    // kept separate so pre-span state dirs stay valid.
    def readSmall(p: Path): String = {
      val in = p.getFileSystem(hconf).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    def readBytes(p: Path): Array[Byte] = {
      val fs = p.getFileSystem(hconf)
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024)
        out.toByteArray
      } finally in.close()
    }
    // corpus-global LINE dedup, first occurrence wins (the Dolma/
    // RefinedWeb exact-paragraph dedup step — distinct from
    // boilerplate, which drops frequency-threshold lines from EVERY
    // doc, first copy included: here one copy always survives), the
    // text-rewriting stage between boilerplate and span dedup — with
    // ACCUMULATED evidence: the state's `lines` table (distinct corpus
    // line hashes, 8 B each) cuts arrival-batch line occurrences whose
    // first copy lives in a PREVIOUS batch, while the batch only ever
    // shuffles its own lines. The short-line exemption threshold
    // parameterizes the state (exempt lines never enter it), so it
    // rides a `lineparams` record and a mismatched run is rejected —
    // the spanparams rule.
    val priorLineDir = stateDir.filter(d =>
      exists(new Path(qual(d), "lines")) || exists(new Path(qual(d), "linesmanifest")))
    var lineCleanedToFree: Option[org.apache.spark.sql.DataFrame] = None
    val (dfL, lineEvidence, lineParamsOut) =
      c.getBoolean("dedup-lines").getOrElse(false) match {
        case true => stages.timed("line-dedup") {
          val minLen = c.getInt("dedup-lines-min-len").getOrElse(15)
          val lineParams = s"dedup-lines-min-len=$minLen"
          priorLineDir.foreach { d =>
            val stored = readSmall(new Path(qual(d), "lineparams"))
            require(stored == lineParams,
              s"line-dedup state at '$d' was built with [$stored] but this run " +
                s"uses [$lineParams] — line hashes under a different exemption " +
                "threshold do not compare; re-curate from scratch or restore it")
          }
          val prior = priorLineDir.map(d => Cli.readStateTable(spark, d, "lines"))
          val cleaned = graft.llm.Dedup.dedupLinesAgainst(
            dfB, idCol, textCol, prior, minLineLen = minLen).persist()
          lineCleanedToFree = Some(cleaned)
          val st = stages.counter("touched" -> (col("n_lines_removed") > 0),
            "lines" -> col("n_lines_removed"))
          val kept = st.observe(cleaned)
            .filter(col("n_lines_removed") === 0 || length(col(textCol)) > 0)
            .drop("n_lines_removed")
          stages.report {
            Cli.log(s"line-dedup: ${st("lines")} duplicate lines cut from " +
              s"${st("touched")} of ${st.rows} docs (min-len=$minLen" +
              (if (prior.isDefined) ", accumulated evidence" else "") + ")")
          }
          // state = prior ∪ this batch's distinct hashes — hashes of
          // the stage INPUT, the kept first copies realize every hash
          val state = (prior.toSeq :+
            graft.llm.Dedup.lineHashTable(dfB, textCol, minLineLen = minLen))
            .reduce(_.unionByName(_)).distinct().persist()
          (kept, Some(state), Some(lineParams))
        }
        case false =>
          // stage off: carry prior evidence forward unchanged (the
          // linefreqs/spans convention)
          (dfB,
            priorLineDir.map(d => Cli.readStateTable(spark, d, "lines")),
            priorLineDir.map(d => readSmall(new Path(qual(d), "lineparams"))))
      }
    case class SpanEvidence(batch: Option[org.apache.spark.sql.DataFrame],
        prior: Option[org.apache.spark.sql.DataFrame],
        priorBloom: Option[Array[Byte]], params: String,
        bloomItems: Long, bloomFpp: Double)
    // `span-parts-dir` switches span-state upkeep from rewrite-the-
    // union to IMMUTABLE PARTS: each batch writes only its own span
    // hashes as a new write-once parquet part under this stable
    // directory, and the A/B state dirs carry just a `spanmanifest`
    // text file listing the parts — the object-store deployment shape
    // (prior parts are never rewritten, per-batch upkeep IO is the
    // batch's own spans, not the corpus's). One parts dir per corpus
    // lineage; the parameter rides spanparams so mixing modes or
    // lineages against one state is rejected like any other drift.
    val spanPartsDir = c.getString("span-parts-dir")
    def readPriorSpans(d: String): org.apache.spark.sql.DataFrame =
      Cli.readStateTable(spark, d, "spans")
    val priorSpanDir = stateDir.filter(d =>
      exists(new Path(qual(d), "spans")) || exists(new Path(qual(d), "spansmanifest")))
    val (df0ToFree, spanEvidence) = c.getInt("span-dedup-tokens") match {
      case Some(n) => stages.timed("span-dedup") {
        val bloomItems = c.getLong("span-bloom-items").getOrElse(1L << 22)
        val bloomFpp = c.getDouble("span-bloom-fpp").getOrElse(0.01)
        val spanParams = s"span-tokens=$n;span-bloom-items=$bloomItems;span-bloom-fpp=$bloomFpp" +
          spanPartsDir.map(p => s";span-parts-dir=$p").getOrElse("")
        priorSpanDir.foreach { d =>
          val stored = readSmall(new Path(qual(d), "spanparams"))
          require(stored == spanParams,
            s"span state at '$d' was built with [$stored] but this run uses " +
              s"[$spanParams] — span hashes/blooms from different parameters do " +
              "not compare or merge; re-curate from scratch or restore them")
        }
        val prior = priorSpanDir.map(readPriorSpans)
        val priorBloom = priorSpanDir.map(d => readBytes(new Path(qual(d), "spanbloom")))
        // span removal is the one EXPENSIVE pre-state stage (a
        // token-scale shuffle) and everything downstream — the tiers,
        // curation, state — re-reads its output several times:
        // persist the cut corpus (released after `curated` materializes
        // below, alongside the tier caches)
        val deduped = (prior match {
          case Some(ps) => graft.llm.Dedup.removeDuplicateSpansAgainst(
            dfL, idCol, textCol, ps, n = n, bloom = priorBloom)
          case None => graft.llm.Dedup.removeDuplicateSpans(dfL, idCol, textCol, n = n)
        }).persist()
        val st = stages.counter("touched" -> (col("n_removed") > 0),
          "toks" -> col("n_removed"))
        val kept = st.observe(deduped)
          .filter(col("n_removed") === 0 || length(col(textCol)) > 0)
        stages.report {
          Cli.log(s"span-dedup: ${st("toks")} duplicate tokens cut from " +
            s"${st("touched")} of ${st.rows} docs (span=$n" +
            (if (prior.isDefined) ", accumulated evidence" else "") + ")")
        }
        // batch evidence for the state write: hashes of the stage INPUT
        // (post-rewrite, pre-cut — the kept first copies realize every
        // hash; persisted because the state write reads it twice, for
        // the spans union and the bloom build)
        val batchSpans = graft.llm.Dedup.spanHashTable(dfL, textCol, n).persist()
        (Some(kept.drop("n_removed") -> deduped),
          Some(SpanEvidence(Some(batchSpans), prior, priorBloom, spanParams,
            bloomItems, bloomFpp)))
      }
      case None =>
        // stage off: carry prior span evidence forward unchanged (the
        // boilerplate rule — toggling the stage off for one batch never
        // discards accumulated state)
        val carried = priorSpanDir.map { d =>
          SpanEvidence(None, Some(readPriorSpans(d)),
            Some(readBytes(new Path(qual(d), "spanbloom"))),
            readSmall(new Path(qual(d), "spanparams")), 0L, 0.0)
        }
        (None, carried)
    }
    val df = df0ToFree.map(_._1).getOrElse(dfL)
    val (batch, batchToFree) = stateDir match {
      case Some(d) => stages.timed("incremental-text-tiers") {
        Cli.log(s"incremental: dropping docs seen in state at $d ...")
        val hashes = Cli.readStateTable(spark, d, "hashes")
        val sigs = Cli.readStateTable(spark, d, "sigs")
        val hot = Some(spark.read.parquet(s"$d/hot"))
        // per-tier observability: the corpus-near tier drops on
        // signature-only evidence — the state keeps no corpus text to
        // Jaccard-verify against — so an increment where that tier
        // spikes is the signal that maxHamming/gramSize over-drop
        val nIn, nExact, n = stages.counter()
        // curate() runs verified near-dedup on these survivors next —
        // the signature-only in-batch tier would pre-empt it with
        // unverified drops and repeat the banded self-join
        val s = graft.llm.Dedup.dropSeen(nIn.observe(df), textCol, idCol, hashes, sigs,
          maxHamming = cc.simHashMaxHamming, bands = cc.simHashBands,
          gramSize = cc.shingleSize, maxBucketSize = cc.simHashMaxBucket,
          corpusHotBuckets = hot, inBatchNear = false, observeTier = nExact.observe)
        stages.report("incremental-text-tiers", n) {
          Cli.log(s"incremental tiers: batch=${nIn.rows} rows, " +
            s"exact tier dropped ${nIn.rows - nExact.rows} (seen in corpus or in-batch exact dup), " +
            s"corpus-near tier dropped ${nExact.rows - n.rows} (signature-only, unverified), " +
            s"${n.rows} rows continue to curation")
        }
        (n.observe(s), Some(s))
      }
      case None => (df, None)
    }
    // vector tier on the text-tier survivors: drop batch rows whose
    // embedding near-duplicates the persisted corpus state (cosine ≥
    // min-cosine via SRP signatures), then in-batch vector near-dups —
    // curate() below has no vector stage, so this tier owns BOTH halves
    val (vecBatch, vecToFree) = embCol match {
      case Some(e) => stages.timed("vector-tiers") {
        import graft.llm.Similarity
        val (corpusVecSigs, vecHot) = stateDir match {
          case Some(d) => (Cli.readStateTable(spark, d, "vecsigs"),
            Some(spark.read.parquet(s"$d/vechot")))
          case None =>
            // first run: no corpus state — the in-batch tier still must
            // run or a near-dup pair arriving together enters the state
            // forever (future runs only compare against the state)
            (Similarity.srpSignatures(batch.limit(0), idCol, e, vecSeed), None)
        }
        val nIn, nFresh, n = stages.counter()
        // dropSeenVectors returns a PERSISTED materialized frame
        val s = Similarity.dropSeenVectors(nIn.observe(batch), corpusVecSigs, vecMinCosine,
          idCol, e, vecBands, cc.simHashMaxBucket, vecHot, vecSeed,
          observeTier = nFresh.observe)
        stages.report("vector-tiers", n) {
          Cli.log(s"vector tiers: batch=${nIn.rows} rows, " +
            s"corpus tier dropped ${nIn.rows - nFresh.rows} (signature-only, cos>=$vecMinCosine), " +
            s"in-batch tier dropped ${nFresh.rows - n.rows} (cosine-verified), " +
            s"${n.rows} rows continue to curation")
        }
        (n.observe(s), Some(s))
      }
      case None => (batch, None)
    }
    // FIM sentinel spellings (tokenizer/export contract checks live
    // with the fim stage below; resolved here so the collision count
    // can ride the curated count). The FORMAT contract checks too — a
    // degenerate sentinel (empty → contains() true on every row) must
    // refuse before any pass runs (review finding).
    val fimPre = c.getString("fim-prefix-token").getOrElse("<|fim_prefix|>")
    val fimSuf = c.getString("fim-suffix-token").getOrElse("<|fim_suffix|>")
    val fimMid = c.getString("fim-middle-token").getOrElse("<|fim_middle|>")
    if (c.getDouble("fim-rate").isDefined) {
      val sentinels = Seq(fimPre, fimSuf, fimMid)
      require(sentinels.forall(sp => sp.nonEmpty && !sp.exists(_.isWhitespace)),
        s"curation.fim-*-token sentinels must be non-empty and " +
          s"whitespace-free, got $sentinels")
    }
    // sentinel-collision observability (the protected-special sharp
    // edge): text ALREADY containing a sentinel spelling aliases the
    // control downstream — count and log, never silently. FOLDED into
    // the curated count (advice: a separate whole-corpus pass for one
    // log line is not a 100 TB shape). Counted on the CURATED frame —
    // i.e. per document, BEFORE mixture/budget sampling and epoch
    // repetition — so the number reads "documents in the curated
    // corpus carrying a spelling" (the upstream-filtering decision it
    // informs also acts pre-sampling); it can exceed what the FIM
    // stage's own input still contains when later composition rules
    // thin the corpus, and the log says so.
    val nCurated = stages.counter(
      (if (c.getDouble("fim-rate").isEmpty) Nil
       else Seq("fim_collisions" -> (col(textCol).contains(fimPre) ||
         col(textCol).contains(fimSuf) || col(textCol).contains(fimMid)))): _*)
    stages.report("curate", nCurated)(println(s"curated corpus size: ${nCurated.rows}"))
    val curated = stages.timed("curate") {
      graft.llm.Curation.curate(vecBatch, idCol, textCol, cc, observe = nCurated.observe)
    }
    batchToFree.foreach(_.unpersist()) // curated cache is materialized
    df0ToFree.foreach(_._2.unpersist()) // span-cut corpus no longer re-read
    vecToFree.foreach(_.unpersist())
    // `real-token-counts = true`: re-annotate n_tokens with the
    // CONFIGURED tokenizer's true id count (unigram-model, or
    // bpe-merges under the segment/byte-level family) — so token
    // budgets ("20 B web tokens") and the data card's total_tokens
    // mean the TRAINING tokenizer's units, not the heuristic proxy.
    // Scan-speed projection (registry-cached artifact, codegen'd).
    val realCounter: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      if (!c.getBoolean("real-token-counts").getOrElse(false)) None
      else c.getString("unigram-model") match {
        case Some(m) =>
          Some(tc => graft.functions.GraftFunctions.unigramCount(tc, m))
        case None =>
          val m = c.getString("bpe-merges").getOrElse(throw new IllegalArgumentException(
            "curation.real-token-counts needs curation.unigram-model or " +
              "curation.bpe-merges — real counts are defined by a tokenizer"))
          // declared protected specials change what the encode stage
          // EMITS (one fixed id per occurrence) — the dedicated count
          // expressions have no specials path and would count a
          // spelling's ordinary segmentation instead, so with specials
          // + a vocab the honest count is size(encode) with the same
          // specials list the encode stage uses
          val specials = c.getList("bpe-special-tokens").getOrElse(Nil)
          def sz(enc: org.apache.spark.sql.Column) =
            org.apache.spark.sql.functions.size(enc).cast("long")
          if (c.getBoolean("bpe-byte-level").getOrElse(false))
            c.getString("bpe-vocab") match {
              case Some(v) if specials.nonEmpty =>
                Some(tc => sz(graft.functions.GraftFunctions.bpeByteEncode(
                  tc, m, v, specials)))
              case _ =>
                Some(tc => graft.functions.GraftFunctions.bpeByteCount(tc, m))
            }
          else c.getString("bpe-vocab") match {
            // with a vocab alongside, count token IDS (byte fallback
            // expands an OOV segment to its UTF-8 byte count of ids) —
            // size(graft_bpe_encode) exactly, same contract as
            // graft_bpe_chunks; without one, segment units are the only
            // definable count and n_tokens is in SEGMENT units
            case Some(v) if specials.nonEmpty =>
              Some(tc => sz(graft.functions.GraftFunctions.bpeEncode(
                tc, m, v, specials)))
            case Some(v) =>
              Some(tc => graft.functions.GraftFunctions.bpeIdCount(tc, m, v))
            case None =>
              Some(tc => graft.functions.GraftFunctions.bpeCount(tc, m))
          }
      }
    val curatedTok = realCounter.fold(curated)(f =>
      curated.withColumn("n_tokens", f(col(textCol)).cast("long")))
    // optional per-group quality-quantile filter on the curated
    // survivors ("keep the top X% by quality WITHIN each language" — a
    // global threshold gets this wrong because score distributions
    // differ per language). Runs the scale form: per-group
    // approx-percentile thresholds broadcast into a scan filter.
    // Downstream selection like mixture/chunking: the dedup state still
    // records the full curated corpus.
    //
    // The counted selection stages below persist their output with the
    // counter inside the cache: a range partitioner downstream (the
    // export shuffle, a range-by or zorder-by target) samples its input
    // in a job of its own, and would double an uncached count.
    val countedToFree = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    def counted(n: Cli.RowCounter, df: org.apache.spark.sql.DataFrame) = {
      val p = n.observe(df).persist()
      countedToFree += p
      p
    }
    val (quantiled, nQuantiled) = c.getDouble("quality-quantile") match {
      case Some(frac) => stages.timed("quality-quantile") {
        val q = graft.llm.Curation.keepTopQuantile(curatedTok,
          c.getString("quantile-group-column").getOrElse("lang_id"),
          c.getString("quantile-score-column").getOrElse("quality"), frac,
          accuracy = c.getInt("quantile-accuracy").getOrElse(10000))
        val n = stages.counter()
        stages.report("quality-quantile", n) {
          Cli.log(s"quality-quantile: ${n.rows} of ${nCurated.rows} " +
            s"survive the top-$frac per-group cut")
        }
        (counted(n, q), n)
      }
      case None => (curatedTok, nCurated)
    }
    // optional benchmark decontamination (train/test-overlap filter) on
    // the curated survivors: docs sharing >= min-hits distinct n-grams
    // with ANY doc of the benchmark set are dropped from the training
    // OUTPUT (the dedup state still records them as curated — by
    // design, matching the mixture/chunking exclusion rule below)
    val decontaminated = c.getString("benchmark-dir") match {
      case Some(bdir) => stages.timed("decontaminate") {
        val bench = graft.sources.DataIO.read(spark,
          graft.conf.GraftConfig.parse(
            s"""storage-type = local
               |dataset-dir = "$bdir"""".stripMargin))
        val exact = graft.llm.TextAnalysis.decontaminate(quantiled, bench,
          idCol, textCol, c.getString("benchmark-text-column").getOrElse(textCol),
          n = c.getInt("contamination-ngram").getOrElse(8),
          minHits = c.getInt("contamination-min-hits").getOrElse(1),
          // native hashed grams: ~8× the string form on the 5M-doc
          // probe; over-drop odds ~2^-64 per gram pair — right default
          // for a pipeline (set false to replay the oracle-exact form)
          hashGrams = c.getBoolean("contamination-hash-grams").getOrElse(true))
        // `contamination-near-dup = true` adds the whole-document
        // SimHash tier: paraphrased/reformatted benchmark copies whose
        // exact n-grams no longer match (uses the near-dedup banding
        // knobs; both tiers together are the release-audit shape)
        val out =
          if (!c.getString("contamination-near-dup").exists(_.toBoolean)) exact
          else graft.llm.TextAnalysis.decontaminateNearDup(exact, bench,
            idCol, textCol, c.getString("benchmark-text-column").getOrElse(textCol),
            maxHamming = cc.simHashMaxHamming, bands = cc.simHashBands,
            shingleSize = cc.shingleSize, maxBucketSize = cc.simHashMaxBucket)
        val n = stages.counter()
        stages.report("decontaminate", n) {
          Cli.log(s"decontamination: ${n.rows} of ${nQuantiled.rows} survive " +
            s"the ${c.getInt("contamination-ngram").getOrElse(8)}-gram benchmark check")
        }
        counted(n, out)
      }
      case None => quantiled
    }
    // optional CCNet perplexity bucketing (Wenzek et al. 2019) on the
    // decontaminated survivors: score with the saved unigram LM
    // (`lm-path`, native zero-shuffle expression), split each
    // `ppl-bucket-group-column` group into head/middle/tail by the
    // THRESHOLD form (per-group percentile sketch + scan predicate —
    // no per-group sort, group skew is just more scan rows), keep the
    // buckets in `ppl-bucket-keep` (CCNet trains on head+middle). The
    // bucket label stays on the output rows as provenance metadata.
    val bucketed = c.getList("ppl-bucket-keep").filter(_.nonEmpty) match {
      case Some(keep) => stages.timed("ppl-buckets") {
        val bad = keep.filterNot(Set("head", "middle", "tail"))
        require(bad.isEmpty,
          s"curation.ppl-bucket-keep: unknown buckets $bad (head|middle|tail)")
        val gcol = c.getString("ppl-bucket-group-column").getOrElse("source")
        val hf = c.getDouble("ppl-bucket-head-frac").getOrElse(1.0 / 3)
        val mf = c.getDouble("ppl-bucket-middle-frac").getOrElse(1.0 / 3)
        // `ppl-bucket-model` picks the scoring model: `unigram` (the
        // q71 default, needs lm-path) or `knn`/`mkn` — interpolated or
        // modified KN over the knn-path artifact, CCNet's actual
        // configuration (Wenzek 2019 buckets on a 5-gram KenLM model);
        // knn-packed composes, selecting the flat f32 registries
        import graft.functions.GraftFunctions._
        val model = c.getString("ppl-bucket-model").getOrElse("unigram")
        val packed = c.getBoolean("knn-packed").getOrElse(false)
        val scoreExpr = model match {
          case "unigram" =>
            val lmPath = c.getString("lm-path").getOrElse(throw new IllegalArgumentException(
              "curation.ppl-bucket-keep needs curation.lm-path (a saved unigram LM file)"))
            lmLogProb(col(textCol), lmPath)
          case "knn" | "mkn" =>
            val p = c.getString("knn-path").getOrElse(throw new IllegalArgumentException(
              s"curation.ppl-bucket-model = $model needs curation.knn-path (a saved order-n LM file)"))
            (model, packed) match {
              case ("knn", false) => knNLogProb(col(textCol), p)
              case ("knn", true) => knNLogProbPacked(col(textCol), p)
              case (_, false) => knModLogProb(col(textCol), p)
              case (_, true) => knModLogProbPacked(col(textCol), p)
            }
          case other => throw new IllegalArgumentException(
            s"curation.ppl-bucket-model must be unigram|knn|mkn, got $other")
        }
        val scored = decontaminated.withColumn("__ppl_logp", scoreExpr)
        val b = graft.llm.CorpusPrep.perplexityBucketsByThreshold(
          scored, "__ppl_logp", Seq(gcol), headFrac = hf, middleFrac = mf)
          .filter(col("ppl_bucket").isin(keep: _*))
          .drop("__ppl_logp")
        val n = stages.counter()
        stages.report("ppl-buckets", n) {
          Cli.log(s"ppl buckets: ${n.rows} docs kept in ${keep.mkString("+")} " +
            s"(group=$gcol, head=$hf, middle=$mf)")
        }
        counted(n, b)
      }
      case None => decontaminated
    }
    // optional training-mix composition (deterministic per-source keep
    // fractions) on the curated survivors
    val mixWeights = c.at("mixture-weights").flat
    // DSIR selection (importance resampling toward a target domain) is
    // the third composition rule, exclusive with the two below: score
    // with saved target/raw LMs (native zero-shuffle path), keep the
    // top-k by the deterministic E–S rank
    val dsired = c.getInt("dsir-k") match {
      case Some(k) => stages.timed("dsir") {
        graft.llm.CorpusPrep.dsirSampleFast(bucketed, idCol, textCol,
          c.getString("dsir-target-lm").get, c.getString("dsir-raw-lm").get,
          k = k, salt = c.getString("dsir-salt").getOrElse(""))
          .drop("dsir_weight")
      }
      case None => bucketed
    }
    val mixed = c.getDouble("temperature-alpha") match {
      // temperature mixing: rates DERIVED from the observed per-domain
      // counts (∝ n^(alpha-1), largest pinned to temperature-budget) —
      // the multilingual rule when explicit per-source fractions aren't
      // known up front; mutually exclusive with mixture-weights (above)
      case Some(alpha) => stages.timed("mixture") {
        graft.llm.CorpusPrep.temperatureMix(dsired, idCol,
          c.getString("mixture-source-column").getOrElse("source"),
          alpha, budget = c.getDouble("temperature-budget").getOrElse(1.0),
          salt = c.getString("mixture-salt").getOrElse(""))
      }
      case None if mixWeights.isEmpty => dsired
      case None => stages.timed("mixture") {
        graft.llm.CorpusPrep.mixtureSample(dsired, idCol,
          c.getString("mixture-source-column").getOrElse("source"),
          mixWeights.map { case (k, v) => k -> v.toDouble }.toMap,
          defaultFraction = c.getDouble("mixture-default-fraction").getOrElse(0.0),
          salt = c.getString("mixture-salt").getOrElse(""))
      }
    }
    // optional token-budget cap AFTER composition: `token-budgets
    // { src = N }` takes each source's docs in deterministic digest
    // order until the budget in TOKENS is reached (crossing doc
    // included) — the production mixing contract ("20 B web tokens"),
    // where fractions are the wrong unit. COMPOSES with the rules
    // above: they decide the distribution, the budget caps the mass.
    // `token-budget-scale = true` switches to the windowless threshold
    // form for very large sources (approximate token mass, no
    // per-source sort); `token-budget-column` defaults to the
    // annotated n_tokens; absent sources keep everything unless
    // `token-budget-default` says otherwise.
    val tokenBudgets = c.at("token-budgets").flat
    val budgeted =
      if (tokenBudgets.isEmpty) mixed
      else stages.timed("token-budget") {
        val srcCol = c.getString("mixture-source-column").getOrElse("source")
        val tokCol = c.getString("token-budget-column").getOrElse("n_tokens")
        val bmap = tokenBudgets.map { case (k, v) => k -> v.toLong }.toMap
        val dflt = c.getString("token-budget-default").map(_.toLong).getOrElse(-1L)
        val salt = c.getString("token-budget-salt").getOrElse("")
        if (c.getBoolean("token-budget-scale").getOrElse(false))
          graft.llm.CorpusPrep.tokenBudgetMixByFraction(
            mixed, idCol, srcCol, tokCol, bmap, dflt, salt)
        else graft.llm.CorpusPrep.tokenBudgetMix(
          mixed, idCol, srcCol, tokCol, bmap, dflt, salt)
      }
    // optional epoched repetition AFTER composition: `epoch-weights
    // { src = w }` repeats each source's docs ~w times (floor + the
    // deterministic md5-fraction extra copy), every copy tagged with
    // `epoch`. COMPOSES with any composition rule above — mixing
    // decides what's in the pot, epoching how often the pot repeats —
    // and runs before splits/chunking so every copy is export-ready.
    val epochWeights = c.at("epoch-weights").flat
    val epoched =
      if (epochWeights.isEmpty) budgeted
      else stages.timed("epoch-mix") {
        graft.llm.CorpusPrep.epochMix(budgeted, idCol,
          c.getString("mixture-source-column").getOrElse("source"),
          epochWeights.map { case (k, v) => k -> v.toDouble }.toMap,
          defaultWeight = c.getDouble("epoch-default-weight").getOrElse(1.0),
          salt = c.getString("epoch-salt").getOrElse(""))
      }
    // optional deterministic train/val/test split on the emitted set
    // (ordered "name:weight" entries — range assignment is cumulative,
    // so order is part of the contract and a list, not a map, carries it)
    val splitCol = c.getString("split-column").getOrElse("split")
    val (labeled, keep) = c.getList("splits") match {
      case Some(entries) if entries.nonEmpty => stages.timed("splits") {
        val splits = entries.map { e =>
          e.split(":") match {
            case Array(n, w) => n.trim -> w.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"curation.splits entries must be name:weight, got '$e'")
          }
        }
        (graft.llm.CorpusPrep.hashSplit(epoched, idCol, splits,
          salt = c.getString("split-salt").getOrElse(""), splitCol = splitCol),
          Seq(splitCol))
      }
      case _ => (epoched, Nil)
    }
    // the epoch tag must ride through chunking like the split label —
    // without it, two epochs of one doc would emit indistinguishable
    // chunk rows
    val keepWithEpoch = if (epochWeights.isEmpty) keep else keep :+ "epoch"
    // optional context-window chunking: emit training-ready rows (the
    // native one-pass expressions; the split label rides along on every
    // chunk). Two modes: `chunk-size` cuts at a fixed WHITESPACE-token
    // width; `bpe-budget` + `bpe-merges` greedy-packs to a real SUBWORD
    // budget (the model's context window) under the named merge table.
    // (Mutual exclusion + bpe-merges presence validated up front.)
    val bpeByteLevel = c.getBoolean("bpe-byte-level").getOrElse(false)
    val unigramModel = c.getString("unigram-model")
    // `bpe-special-tokens` (read once; the encode stage shares it):
    // protected spellings must stay ATOMIC through chunking too — the
    // byte chunker carves them as cost-1 pretokens (a cut mid-spelling
    // would re-encode the halves as ordinary text, silently violating
    // the never-split/fixed-id contract); the whitespace-token chunker
    // cuts only at whitespace, so whitespace-FREE spellings are atomic
    // there by construction (enforced below — budgets for tokens
    // containing a spelling over-estimate, which errs small, never
    // over the context window).
    val bpeSpecials = c.getList("bpe-special-tokens").getOrElse(Nil)
    bpeSpecials.foreach { sp =>
      require(sp.nonEmpty && !sp.exists(_.isWhitespace),
        s"curation.bpe-special-tokens entry '$sp' must be non-empty and " +
          "whitespace-free — a spelling containing whitespace could be cut " +
          "through by the whitespace-token chunker")
    }
    // `fim-rate` contracts (the stage itself runs after chunking,
    // below): sentinels must be whitespace-free (guards operator
    // overrides — the chunkers never see them, but a downstream
    // whitespace tokenization would shear one in half), and with
    // token-id export each must be a declared protected special, else
    // it would encode as ordinary text and silently lose its
    // single-id identity. The unigram encoder has no protected-
    // specials path, so FIM + unigram id export is refused outright.
    // (fimPre/fimSuf/fimMid resolve next to the curated-count fold
    // above.)
    c.getDouble("fim-rate").foreach { _ =>
      // format contract (non-empty, whitespace-free) already enforced
      // up front, before the collision-count aggregate
      val sentinels = Seq(fimPre, fimSuf, fimMid)
      if (c.getString("bpe-vocab").isDefined) sentinels.foreach { sp =>
        require(bpeSpecials.contains(sp),
          "curation.fim-rate with token-id export needs every FIM sentinel " +
            s"declared in curation.bpe-special-tokens ('$sp' is missing) — " +
            "an undeclared sentinel encodes as plain text and loses its id")
      }
      // the encode dispatch below selects the unigram encoder whenever
      // the model is configured and ids are wanted; the refusal mirrors
      // that exact condition (the bpe-vocab-alongside case is already
      // refused by the unigram/bpe mutual exclusion above — this guard
      // must not depend on that ordering staying true)
      require(!(unigramModel.isDefined &&
          (c.getBoolean("unigram-ids").getOrElse(false) ||
            c.getInt("pack-seq-len").isDefined)),
        "curation.fim-rate is not supported with unigram id export — the " +
          "unigram encoder has no protected-specials path, so the sentinels " +
          "would shatter into byte-fallback ids")
    }
    val out = (c.getInt("chunk-size"), c.getInt("bpe-budget")) match {
      case (Some(cs), _) => stages.timed("chunking") {
        graft.llm.CorpusPrep.chunkByTokensFast(labeled, idCol, textCol,
          chunkSize = cs, overlap = c.getInt("chunk-overlap").getOrElse(cs / 4),
          keepCols = keepWithEpoch)
      }
      case (_, Some(budget)) if unigramModel.isDefined => stages.timed("chunking") {
        // unigram budgets count unigram ids — chunk_bpe_tokens is
        // exactly what graft_unigram_encode of chunk_text will emit
        graft.llm.CorpusPrep.chunkByUnigramBudget(labeled, idCol, textCol,
          budget = budget, modelPath = unigramModel.get,
          overlap = c.getInt("chunk-overlap").getOrElse(0), keepCols = keepWithEpoch)
      }
      case (_, Some(budget)) if bpeByteLevel => stages.timed("chunking") {
        // byte-level budgets count byte-level ids and cut at pretoken
        // boundaries — chunk_bpe_tokens is exactly what the byte-level
        // token_ids encoding of chunk_text will emit (declared specials
        // included: atomic, cost 1 in both)
        graft.llm.CorpusPrep.chunkByByteBudget(labeled, idCol, textCol,
          bpeBudget = budget, mergesPath = c.getString("bpe-merges").get,
          overlap = c.getInt("chunk-overlap").getOrElse(0), keepCols = keepWithEpoch,
          specials = bpeSpecials)
      }
      case (_, Some(budget)) => stages.timed("chunking") {
        // with `bpe-vocab` alongside, the budget counts token IDS under
        // that vocab rather than segments — under byte fallback an
        // unseen segment costs its UTF-8 byte count of ids, and a
        // segment-counted chunk could silently exceed the context
        // window the exported token_ids are sized for (review finding)
        graft.llm.CorpusPrep.chunkByBpeBudget(labeled, idCol, textCol,
          bpeBudget = budget, mergesPath = c.getString("bpe-merges").get,
          overlap = c.getInt("chunk-overlap").getOrElse(0), keepCols = keepWithEpoch,
          vocabPath = c.getString("bpe-vocab"))
      }
      case _ => labeled
    }
    // optional fill-in-the-middle transform (`fim-rate`): re-emit that
    // fraction of training rows as sentinel-delimited prefix/suffix/
    // middle (CorpusPrep.fimTransform — Bavarian et al. 2022,
    // 2207.14255) so infilling models can train on the export. Runs on
    // the training UNIT — the chunk when chunking is on (each context
    // window becomes an infilling example; the sentinels add ~3 ids,
    // so size budgets should reserve that headroom), the document
    // otherwise — and the row identity includes the epoch tag, so a
    // doc's repetitions draw DIFFERENT cuts (the diversity the epochs
    // exist to buy). With token-id export the sentinels must be
    // declared protected specials (validated up front) so each encodes
    // to its single fixed id; `fim_applied` rides the emitted rows.
    val fimmed = c.getDouble("fim-rate") match {
      case Some(rate) => stages.timed("fim") {
        val tcol = if (out.columns.contains("chunk_text")) "chunk_text" else textCol
        // the collision count rides the curated count above — here it
        // only logs
        stages.report {
          val k = nCurated("fim_collisions")
          if (k > 0) Cli.log(
            s"fim: $k curated documents (counted before " +
              "any mixture/budget sampling or epoch repetition) contain a " +
              "sentinel spelling — in-text occurrences alias the control " +
              "tokens (filter or rewrite upstream if that is not intended)")
        }
        var rowId =
          if (out.columns.contains("chunk_text"))
            concat(col(idCol).cast("string"), lit(":"), col("chunk_id"))
          else col(idCol).cast("string")
        if (epochWeights.nonEmpty) rowId = concat(rowId, lit("#"), col("epoch"))
        val transformed = graft.llm.CorpusPrep.fimTransform(
          out.withColumn("__fim_row", rowId), "__fim_row", tcol, rate,
          preTok = fimPre, sufTok = fimSuf, midTok = fimMid,
          mode = c.getString("fim-mode").getOrElse("psm"),
          salt = c.getString("fim-salt").getOrElse("fim"),
          outCol = "__fim_text")
          .withColumn(tcol, col("__fim_text"))
          .drop("__fim_text", "__fim_row")
        // FIM rewrote the training text — count columns describing the
        // pre-FIM text must not ride along stale (advice finding):
        // whitespace counts recount at scan speed over the emitted
        // text; subword counts are re-derived from token_ids by the
        // encode stage below when id export is on, and NULLed here
        // otherwise (without the encoder there is no honest subword
        // count — NULL reads as "not counted", a stale number reads
        // as truth).
        val idExportOn = c.getString("bpe-vocab").isDefined
        val wsCount = size(org.apache.spark.sql.functions.filter(
          split(col(tcol), "\\s+"), t => length(t) > 0)).cast("long")
        // chunk_tokens recounts under the ACTIVE chunker's own unit
        // (advice finding): the byte-budget chunker counts PRETOKENS
        // (declared specials atomic — graft_pretoken_count replays its
        // carve order exactly), every other mode counts whitespace
        // tokens; a whitespace recount on byte-budget rows would
        // silently switch the column's definition on FIM rows only.
        val byteBudgetChunked = c.getInt("chunk-size").isEmpty &&
          c.getInt("bpe-budget").isDefined && unigramModel.isEmpty && bpeByteLevel
        val chunkTokCount =
          if (byteBudgetChunked)
            graft.functions.GraftFunctions.pretokenCount(col(tcol), bpeSpecials)
              .cast("long")
          else wsCount
        val recounted0 =
          if (!transformed.columns.contains("chunk_tokens")) transformed
          else transformed.withColumn("chunk_tokens",
            when(col("fim_applied"), chunkTokCount).otherwise(col("chunk_tokens")))
        // UNCHUNKED path: the doc-level n_tokens describes the text FIM
        // just rewrote (review finding — same stale-count class as the
        // chunk columns). Recount with the column's own definition: the
        // configured tokenizer's counter when real-token-counts set it
        // (with declared specials that is exactly what encode emits),
        // the whitespace heuristic otherwise. Chunked rows keep
        // n_tokens as-is — there it is DOC metadata, still accurate.
        val recounted =
          if (tcol != textCol || !recounted0.columns.contains("n_tokens"))
            recounted0
          else {
            val ntType = recounted0.schema("n_tokens").dataType
            val fresh = realCounter match {
              case Some(f) => f(col(tcol))
              case None => graft.llm.TextAnalysis.stats(col(tcol))
                .getField("n_tokens")
            }
            recounted0.withColumn("n_tokens",
              when(col("fim_applied"), fresh.cast(ntType))
                .otherwise(col("n_tokens")))
          }
        if (!recounted.columns.contains("chunk_bpe_tokens") || idExportOn) recounted
        else recounted.withColumn("chunk_bpe_tokens",
          when(col("fim_applied"), lit(null).cast("long"))
            .otherwise(col("chunk_bpe_tokens")))
      }
      case None => out
    }
    // optional id encoding (`bpe-vocab`, requires `bpe-merges`): the
    // emitted rows carry `token_ids` — the int ids a trainer consumes —
    // encoded from the chunk text (or whole-doc text when chunking is
    // off) under the learned tokenizer. Scan-speed projection: table +
    // vocab load once per executor, zero shuffle added.
    val encoded0 = (unigramModel, c.getString("bpe-vocab")) match {
      case (Some(model), _)
          if c.getBoolean("unigram-ids").getOrElse(false) ||
            c.getInt("pack-seq-len").isDefined => stages.timed("encode-ids") {
        // unigram token_ids: same scan-speed projection contract as the
        // BPE families (model loads once per executor, zero shuffle)
        val encCol =
          if (fimmed.columns.contains("chunk_text")) "chunk_text" else textCol
        fimmed.withColumn("token_ids",
          graft.functions.GraftFunctions.unigramEncode(col(encCol), model))
      }
      case (_, Some(vocabPath)) => stages.timed("encode-ids") {
        val mergesPath = c.getString("bpe-merges").getOrElse(throw new IllegalArgumentException(
          "curation.bpe-vocab requires curation.bpe-merges (ids are defined by a merge table)"))
        val encCol =
          if (fimmed.columns.contains("chunk_text")) "chunk_text" else textCol
        // `bpe-special-tokens`: protected spellings (the Tokenizer
        // CLI's special-tokens contract) — each occurrence in the
        // text emits its single fixed vocab id, never merged across
        val specials = bpeSpecials
        fimmed.withColumn("token_ids",
          if (bpeByteLevel)
            graft.functions.GraftFunctions.bpeByteEncode(
              col(encCol), mergesPath, vocabPath, specials)
          else
            graft.functions.GraftFunctions.bpeEncode(
              col(encCol), mergesPath, vocabPath, specials))
      }
      case _ => fimmed
    }
    // post-FIM subword recount (pairs with the fim stage's stale-count
    // rule): with id export on, size(token_ids) IS the true post-FIM
    // id count under the actual encoder, declared specials included —
    // chunk_bpe_tokens then means the same thing on every row
    val encoded =
      if (encoded0.columns.contains("token_ids") &&
          encoded0.columns.contains("chunk_bpe_tokens") &&
          encoded0.columns.contains("fim_applied"))
        encoded0.withColumn("chunk_bpe_tokens",
          when(col("fim_applied"), size(col("token_ids")).cast("long"))
            .otherwise(col("chunk_bpe_tokens")))
      else encoded0
    // optional packed token-id export (`pack-seq-len`, requires
    // `bpe-vocab`): the terminal trainer contract — fixed-length
    // `input_ids` with the vocab's <eos> id after every doc/chunk and
    // `doc_boundaries` offsets for attention masking. Replaces the
    // per-row export: the packed sequences ARE what a training loader
    // reads. One bounded shuffle on (bucket, window); group state ≤
    // seqLen ids regardless of corpus size.
    val chunkedOn = c.getInt("chunk-size").isDefined || c.getInt("bpe-budget").isDefined
    val packedOut = c.getInt("pack-seq-len") match {
      case Some(seqLen) => stages.timed("pack-ids") {
        val vocabPath = c.getString("bpe-vocab").orElse(unigramModel).get
        // `pack-eos-token`: use a NAMED vocab token (typically a
        // declared special like <|endoftext|> — the GPT-2-style
        // trainer contract, where the separator decodes to its
        // spelling) as the document separator instead of the layout's
        // control `<eos>`; default stays `<eos>` (id 1, decodes to
        // nothing).
        def idOf(tok: String): Int = {
          val id =
            if (unigramModel.isDefined) graft.functions.UnigramRegistry.get(vocabPath).ids.get(tok)
            else if (bpeByteLevel) graft.functions.BpeByteVocabRegistry.get(vocabPath).ids.get(tok)
            else graft.functions.BpeVocabIdRegistry.get(vocabPath).ids.get(tok)
          require(id != null,
            s"curation.pack-eos-token '$tok' is not in the vocab at $vocabPath — " +
              "append it (e.g. the Tokenizer CLI's special-tokens knob)")
          id.intValue()
        }
        val eos = c.getString("pack-eos-token").map(idOf).getOrElse {
          val e =
            if (unigramModel.isDefined) 1 // <eos> line 1, parse-enforced layout
            else if (bpeByteLevel) graft.functions.BpeByteVocabRegistry.get(vocabPath).eosId
            else graft.functions.BpeVocabIdRegistry.get(vocabPath).eosId
          require(e >= 0,
            s"curation.pack-seq-len needs an <eos> token in the vocab at " +
              s"$vocabPath — rebuild it with BpeTrainer.buildVocab/" +
              "buildByteVocab (both layouts carry <eos> at id 1), or name a " +
              "separator via curation.pack-eos-token")
          e
        }
        def packStream(): org.apache.spark.sql.DataFrame = {
        // the row identity within a bucket stream: epoch copies share
        // (doc, chunk), so chunk/epoch must join the stream order or
        // window assembly would be nondeterministic
        val identCols = Seq(idCol) ++
          (if (chunkedOn) Seq("chunk_id") else Nil) ++
          (if (epochWeights.nonEmpty) Seq("epoch") else Nil)
        // with epochs, a plain (doc, chunk, epoch) order lays a doc's
        // repetitions back-to-back in the stream — the adjacent-
        // duplicates worst case the unpacked shuffle path explicitly
        // engineered against (review finding). A digest of the full row
        // identity leads the order instead: deterministic, and copies
        // scatter across the bucket stream.
        val (toPack, orderCols) =
          if (epochWeights.nonEmpty) {
            val ident = org.apache.spark.sql.functions.concat_ws(":",
              identCols.map(col(_).cast("string")): _*)
            (encoded.withColumn("__pack_order",
              graft.operators.Ops.hashDigestCol(ident, "pack")),
              Seq("__pack_order") ++ identCols)
          } else (encoded, identCols)
        // split labels partition the packing: train/val/test documents
        // must never share a sequence (review finding — silently packing
        // across the split would contaminate held-out evaluation)
        val partitionCols =
          if (c.getList("splits").exists(_.nonEmpty)) Seq(splitCol) else Nil
        graft.llm.CorpusPrep.packTokenIds(toPack, idCol, "token_ids",
          seqLen = seqLen, eosId = eos,
          buckets = c.getInt("pack-buckets").getOrElse(256),
          orderCols = orderCols, partitionCols = partitionCols)
        }
        val packed = if (packMode == "pad") {
          // padded per-example export: every encoded row keeps its own
          // sequence (ids + separator + padding, truncation flagged) —
          // a pure projection, no pack shuffle at all. Padding defaults
          // to the separator id (the GPT-2-style convention); a named
          // `pack-pad-token` overrides it.
          val pad = c.getString("pack-pad-token").map(idOf).getOrElse(eos)
          graft.llm.CorpusPrep.padTokenIds(encoded, "token_ids",
            seqLen = seqLen, eosId = eos, padId = pad).drop("token_ids")
        } else packStream()
        // optional 1-row observability artifact (`pack-report-dir`):
        // sequence/full/partial counts, packed-vs-capacity efficiency —
        // both modes emit the n_tokens/n_docs_started columns it reads.
        // (Separate action — the pack shuffle reruns for it, but its
        // upstream is the PERSISTED curated frame, so the cost is one
        // bounded shuffle, not a pipeline replay.)
        c.getString("pack-report-dir").foreach { rdir =>
          graft.llm.CorpusPrep.packedIdsReport(packed, seqLen)
            .coalesce(1).write.mode("overwrite").parquet(rdir)
          Cli.log(s"packing report written to $rdir")
        }
        packed
      }
      case None => encoded
    }
    // optional deterministic training-export shuffle: a reproducible
    // pseudo-random row permutation (salt = epoch) so a sequential
    // training loader reads the corpus in shuffled order. The row
    // identity is (doc, chunk) when chunking is on, and the sequence id
    // when packing is on. The shuffle IS the write layout — the
    // target's own layout knobs would re-partition or re-sort and
    // silently destroy the permutation, so they are rejected up front.
    val emitted = c.getString("shuffle-salt") match {
      case Some(salt) => stages.timed("shuffle") {
        // (target layout conflicts rejected in the up-front block)
        var rowId =
          if (c.getInt("pack-seq-len").isDefined && packMode == "stream") {
            // seq_id is unique only within a split partition — the
            // split joins the identity so the shuffle digest stays a
            // total order
            if (c.getList("splits").exists(_.nonEmpty))
              concat(col(splitCol), lit(":"), col("seq_id"))
            else col("seq_id").cast("string")
          } else if (chunkedOn) concat(col(idCol).cast("string"), lit(":"), col("chunk_id"))
          else col(idCol).cast("string")
        // epoch copies share a doc id — the epoch joins the row
        // identity so a doc's repetitions land FAR APART in the
        // emitted order (adjacent duplicates are the worst case for
        // training), not adjacent under the same digest. (Packed rows
        // are already epoch-disambiguated: the epoch is in the stream
        // order, the seq_id is unique.)
        if (epochWeights.nonEmpty &&
            (c.getInt("pack-seq-len").isEmpty || packMode == "pad"))
          rowId = concat(rowId, lit("#"), col("epoch"))
        graft.llm.CorpusPrep.deterministicShuffleBy(packedOut, rowId, salt,
          numPartitions = c.getInt("shuffle-partitions"))
      }
      case None => packedOut
    }
    // TARGET FIRST, STATE LAST: committing dedup state before the target
    // write would mean a crash in between leaves this batch's survivors
    // marked seen while their training output never landed — re-running
    // the batch would then silently drop every doc. With target-first, a
    // crash before the marker leaves UNcommitted state the next run
    // refuses, and re-running re-writes the target (at-least-once; use
    // an overwrite-mode target for idempotent re-runs).
    stages.timed("target-write") {
      graft.sources.DataIO.write(emitted, conf.at("target"))
    }
    // the write ran every counted stage: fill their rows, print their logs
    stages.resolve()
    // optional data card: the per-group corpus report over the CURATED
    // corpus (pre-mixture/chunking — the release-documentation view of
    // what survived curation), written as one small parquet next to the
    // output. Integer-only aggregates; curated is already persisted, so
    // this costs one aggregate job
    c.getString("report-dir").foreach { rdir =>
      stages.timed("corpus-report") {
        val groups = c.getList("report-group-columns").getOrElse(Seq("lang_id"))
        // with real-token-counts on, the card's total_tokens is the
        // training tokenizer's count — same counter as the budgets
        graft.llm.TextAnalysis.corpusReport(curated, groups, textCol,
          realCounter.getOrElse(graft.llm.TextAnalysis.wsTokenCount))
          .coalesce(1).write.mode("overwrite").parquet(rdir)
        Cli.log(s"corpus report written to $rdir (grouped by ${groups.mkString(", ")})")
      }
    }
    // optional incremental cardinality (opt-in via
    // `cardinality-group-columns`): per-group HLL sketches of distinct
    // docs/tokens over the CURATED batch, merged with the prior
    // committed `cardsketch` state — the corpus-LIFETIME distinct
    // counts no exact aggregate can provide without rescanning every
    // prior batch. Group-column drift is rejected by schema compare
    // (sketches grouped differently do not merge); lgK drift fails in
    // hll_union_agg itself (strict mode). Old state dirs without a
    // cardsketch stay valid — sketching simply starts at this batch.
    val cardState = c.getList("cardinality-group-columns").map { groups =>
      stages.timed("cardinality") {
      val cardGramSize = c.getInt("cardinality-gram-size").getOrElse(1)
      // `cardinality-hash-grams = true`: the scale form — native 64-bit
      // gram hashes feed the sketch (and the budget's hit state below)
      // instead of materialized gram strings; the representation rides
      // the state schema, so toggling it against prior state fails the
      // schema compare, not silently merges
      val cardHashed = c.getBoolean("cardinality-hash-grams").getOrElse(false)
      val batch = graft.llm.Cardinality.sketchState(curated, groups, textCol,
        gramSize = cardGramSize, hashGrams = cardHashed)
      val merged = stateDir
        .filter(d => exists(new Path(qual(d), "cardsketch")))
        .map { d =>
          val prior = spark.read.parquet(s"$d/cardsketch")
          require(prior.columns.sorted.sameElements(batch.columns.sorted),
            s"cardsketch state at $d has columns ${prior.columns.toSeq} but this run " +
              s"uses groups ${groups.mkString(", ")} with hash-grams=$cardHashed — " +
              "sketches grouped or represented differently do not merge")
          val priorGs = prior.select("gram_size").distinct().collect().map(_.getInt(0)).toSeq
          require(priorGs == Seq(cardGramSize),
            s"cardsketch state at $d was built with gram-size ${priorGs.mkString(",")} but " +
              s"this run uses $cardGramSize — token and n-gram sketches do not merge")
          graft.llm.Cardinality.mergeStates(Seq(prior, batch), groups)
        }.getOrElse(batch)
      (groups, merged.persist())
      }
    }
    // contamination budget rides the cardinality state when BOTH a
    // gram-size sketch (> 1) and a benchmark are configured: the
    // lifetime distinct hit-gram state (EXACT — bounded by the
    // benchmark's gram count, mergeable by union-distinct) over the
    // sketch denominator → "fraction of corpus distinct n-grams the
    // benchmark shares", per group, in the data card.
    val benchHits = cardState.flatMap { case (groups, _) =>
      val gs = c.getInt("cardinality-gram-size").getOrElse(1)
      c.getString("benchmark-dir").filter(_ => gs > 1).map { bdir =>
        stages.timed("contamination-budget") {
        val bench = graft.sources.DataIO.read(spark,
          graft.conf.GraftConfig.parse(
            s"""storage-type = local
               |dataset-dir = "$bdir"""".stripMargin))
        val batchHits = graft.llm.Cardinality.benchmarkHitGrams(curated, bench,
          groups, textCol, c.getString("benchmark-text-column").getOrElse(textCol),
          gramSize = gs,
          hashGrams = c.getBoolean("cardinality-hash-grams").getOrElse(false))
        val merged = stateDir
          .filter(d => exists(new Path(qual(d), "benchhits")))
          .map { d =>
            val prior = spark.read.parquet(s"$d/benchhits")
            require(prior.columns.sorted.sameElements(batchHits.columns.sorted),
              s"benchhits state at $d has columns ${prior.columns.toSeq} but this " +
                s"run produces ${batchHits.columns.toSeq} — string and hashed gram " +
                "states do not merge")
            prior.unionByName(batchHits).distinct()
          }
          .getOrElse(batchHits)
        (groups, merged.persist())
        }
      }
    }
    // optional incremental heavy hitters (opt-in via
    // `freq-value-columns`): per-column Misra–Gries top sketches of the
    // CURATED batch's values, MG-merged with the prior committed
    // `freqsketch` state — the corpus-LIFETIME dominant sources /
    // domains / languages with a hard k-entry state bound. Column-set
    // drift is rejected here; k drift is rejected inside the merge
    // (different trim depths do not merge).
    val freqState = c.getList("freq-value-columns").map { fcols =>
      stages.timed("freq-items") {
        val k = c.getInt("freq-k").getOrElse(64)
        val batch = graft.llm.Cardinality.freqState(curated, fcols, k)
        val merged = stateDir
          .filter(d => exists(new Path(qual(d), "freqsketch")))
          .map { d =>
            val prior = spark.read.parquet(s"$d/freqsketch")
            val priorCols = prior.select("value_column").distinct()
              .collect().map(_.getString(0)).toSet
            require(priorCols == fcols.toSet,
              s"freqsketch state at $d covers columns $priorCols but this run " +
                s"sketches ${fcols.toSet} — per-column sketches do not merge across sets")
            graft.llm.Cardinality.mergeFreqStates(Seq(prior, batch))
          }.getOrElse(batch)
        merged.persist()
      }
    }
    freqState.foreach { st =>
      c.getString("freq-report-dir").foreach { rdir =>
        stages.timed("freq-report") {
          graft.llm.Cardinality.freqReport(st)
            .coalesce(1).write.mode("overwrite").parquet(rdir)
          Cli.log(s"heavy-hitters report written to $rdir (corpus-lifetime estimates)")
        }
      }
    }
    cardState.foreach { case (groups, st) =>
      c.getString("cardinality-report-dir").foreach { rdir =>
        stages.timed("cardinality-report") {
        val report = benchHits match {
          case Some((_, hits)) =>
            graft.llm.Cardinality.report(st, groups).join(
              graft.llm.Cardinality.contaminationReport(st, hits, groups)
                .drop("gram_size"), groups)
          case None => graft.llm.Cardinality.report(st, groups)
        }
        report.coalesce(1).write.mode("overwrite").parquet(rdir)
        Cli.log(s"cardinality report written to $rdir (corpus-lifetime estimates" +
          (if (benchHits.isDefined) " + contamination budget)" else ")"))
        }
      }
    }
    // dedup state = the CURATED corpus, not the emitted training set:
    // docs excluded downstream (mixture sampling, chunking) are still
    // recorded as seen — by design, so raising mixture weights later
    // cannot re-admit near-duplicates of already-curated documents.
    // The _COMMITTED marker is written LAST so a crash mid-write leaves
    // a state dir the next run REFUSES (mixed old/new subdirs would
    // silently lose near-dup coverage).
    c.getString("state-out-dir").foreach { outDir => stages.timed("state-write") {
      import graft.llm.Dedup
      val newHashes = curated.select(Dedup.contentHash(col(textCol)).as("content_hash"))
      val newSigs = Dedup.simHashSignatures(curated, idCol, textCol, cc.shingleSize)
      val outPath = qual(outDir)
      val fs = outPath.getFileSystem(hconf)
      fs.delete(new Path(outPath, "_COMMITTED"), false) // out dir is now in-progress
      // In parts mode, write ONLY this batch's rows as a new write-once
      // part and return the full part list; readers union the parts.
      // Rewrite mode keeps the original union-write. Returns the
      // DataFrame covering the whole table (lazily — parts-mode callers
      // that don't need the union never pay the multi-part scan).
      def writeStateTable(table: String,
          batchRows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        statePartsDir match {
          case Some(pd) =>
            if (stateDir.isEmpty)
              Cli.requireEmptyPartsDir(spark, qual(pd).toString, table)
            val pp = stateDir
              .flatMap(d => Cli.stateTableParts(spark, d, table))
              .getOrElse(Seq.empty)
            val newPart = s"${qual(pd)}/$table/part-${pp.length}"
            batchRows.write.mode("overwrite").parquet(newPart)
            val parts = pp :+ newPart
            Cli.writeStateManifest(spark, outPath, table, parts)
            Cli.sweepOrphanParts(spark, qual(pd).toString, table, parts)
            spark.read.parquet(parts: _*)
          case None =>
            val all = stateDir match {
              case Some(d) => Cli.readStateTable(spark, d, table).unionByName(batchRows)
              case None => batchRows
            }
            all.write.mode("overwrite").parquet(s"$outDir/$table")
            spark.read.parquet(s"$outDir/$table")
        }
      // The hot-bucket tables derive from persisted per-bucket COUNTS
      // (`hotcounts`/`vechotcounts`: band, bits, n — bounded by the
      // bits keyspace, ≤ bands·2^(64/bands) rows, ~262k at 4 bands)
      // instead of a corpus-wide re-band of the full signature union:
      // per-commit upkeep is one pre-aggregated batch count plus a
      // bounded-table merge, identical output because signature state
      // is append-only so batch-count sums equal one count over the
      // union. A prior dir WITHOUT counts (pre-counts lineage)
      // bootstraps from the signature union once, then increments.
      def writeHotState(sigTable: String, countsTable: String,
          hotTable: String, newSigs: org.apache.spark.sql.DataFrame,
          bands: Int): Unit = {
        val batchCounts = Dedup.bucketCounts(newSigs, bands)
        val allCounts = statePartsDir match {
          case Some(pd) =>
            if (stateDir.isEmpty)
              Cli.requireEmptyPartsDir(spark, qual(pd).toString, countsTable)
            val pp = stateDir
              .flatMap(d => Cli.stateTableParts(spark, d, countsTable))
            val (idx, part) = pp match {
              case Some(parts) => (parts.length, batchCounts)
              case None =>
                // bootstrap part: counts over prior sigs ∪ batch, so
                // the manifest's sum covers the whole lineage
                val priorSigs = stateDir.map(d =>
                  Cli.readStateTable(spark, d, sigTable))
                (0, Dedup.mergeBucketCounts(priorSigs
                  .map(s => Dedup.bucketCounts(s, bands).unionByName(batchCounts))
                  .getOrElse(batchCounts)))
            }
            val newPart = s"${qual(pd)}/$countsTable/part-$idx"
            part.write.mode("overwrite").parquet(newPart)
            val parts = pp.getOrElse(Seq.empty) :+ newPart
            Cli.writeStateManifest(spark, outPath, countsTable, parts)
            Cli.sweepOrphanParts(spark, qual(pd).toString, countsTable, parts)
            spark.read.parquet(parts: _*)
          case None =>
            val merged = stateDir match {
              case Some(d) if exists(new Path(qual(d), countsTable)) =>
                Dedup.mergeBucketCounts(
                  spark.read.parquet(s"$d/$countsTable").unionByName(batchCounts))
              case Some(d) => // pre-counts lineage: one-time bootstrap
                Dedup.bucketCounts(Cli.readStateTable(spark, d, sigTable)
                  .unionByName(newSigs), bands)
              case None => batchCounts
            }
            merged.write.mode("overwrite").parquet(s"$outDir/$countsTable")
            spark.read.parquet(s"$outDir/$countsTable")
        }
        Dedup.hotFromCounts(Dedup.mergeBucketCounts(allCounts), cc.simHashMaxBucket)
          .write.mode("overwrite").parquet(s"$outDir/$hotTable")
      }
      writeStateTable("hashes", newHashes)
      writeStateTable("sigs", newSigs)
      writeHotState("sigs", "hotcounts", "hot", newSigs, cc.simHashBands)
      // vector state rides the same commit: SRP signatures of the
      // CURATED corpus (8 bytes/vector) + their hot-bucket keys, under
      // the seed recorded in the marker params
      embCol.foreach { e =>
        val newVecSigs = graft.llm.Similarity.srpSignatures(curated, idCol, e, vecSeed)
        writeStateTable("vecsigs", newVecSigs)
        writeHotState("vecsigs", "vechotcounts", "vechot", newVecSigs, vecBands)
      }
      // boilerplate evidence rides the same commit: accumulated line
      // frequencies (prior + this batch when the stage ran; prior
      // carried forward when it didn't)
      boilerFreqs.foreach(_.write.mode("overwrite").parquet(s"$outDir/linefreqs"))
      // line-dedup evidence rides the same commit: accumulated
      // distinct line hashes + the exemption-parameter record
      lineEvidence.foreach(_.write.mode("overwrite").parquet(s"$outDir/lines"))
      // url-dedup evidence rides the same commit
      urlEvidence.foreach(_.write.mode("overwrite").parquet(s"$outDir/urls"))
      lineParamsOut.foreach { lp =>
        val lOut = fs.create(new Path(outPath, "lineparams"), true)
        try lOut.write(lp.getBytes("UTF-8")) finally lOut.close()
      }
      // span evidence rides the same commit: accumulated distinct span
      // hashes + the merged bloom pre-filter + the parameter record.
      // The spans union is a narrow read+write (no shuffle — duplicate
      // hashes across batches are harmless to the semi-join and the
      // bloom); the per-batch cost is one IO pass over span state,
      // which an object-store deployment would replace with a
      // metadata-only manifest of the prior immutable parquet parts.
      spanEvidence.foreach { ev =>
        val priorParts = priorSpanDir.flatMap(d => Cli.stateTableParts(spark, d, "spans"))
        (spanPartsDir, ev.batch) match {
          case (Some(pd), Some(b)) =>
            // immutable-parts mode: persist ONLY this batch's spans as
            // a new write-once part; the state dir gets a manifest.
            // Part index = prior manifest length, so a crash-retry of
            // the same batch overwrites its own orphan instead of
            // leaking one — prior parts are never touched. (A parts-
            // mode run against rewrite-mode state — or vice versa — is
            // rejected by the spanparams check before reaching here.)
            if (priorSpanDir.isEmpty)
              Cli.requireEmptyPartsDir(spark, qual(pd).toString, "spans")
            val pp = priorParts.getOrElse(Seq.empty)
            val newPart = s"${qual(pd)}/spans/part-${pp.length}"
            b.write.mode("overwrite").parquet(newPart)
            Cli.writeStateManifest(spark, outPath, "spans", pp :+ newPart)
            Cli.sweepOrphanParts(spark, qual(pd).toString, "spans", pp :+ newPart)
          case (_, None) if priorParts.isDefined =>
            // stage toggled off over parts-mode state: the carry is
            // METADATA-ONLY — copy the manifest, touch no parquet
            Cli.writeStateManifest(spark, outPath, "spans", priorParts.get)
          case _ =>
            val all = (ev.prior.toSeq ++ ev.batch.toSeq).reduce(_.unionByName(_))
            all.write.mode("overwrite").parquet(s"$outDir/spans")
        }
        val newBloom = ev.batch.map(b => Dedup.spanBloom(b, ev.bloomItems, ev.bloomFpp))
        val outBloom = (ev.priorBloom, newBloom) match {
          case (Some(p), Some(b)) => Dedup.mergeSpanBlooms(p, b)
          case (p, b) => b.orElse(p).getOrElse(
            throw new IllegalStateException("span evidence with neither prior nor batch bloom"))
        }
        val bOut = fs.create(new Path(outPath, "spanbloom"), true)
        try bOut.write(outBloom) finally bOut.close()
        val pOut = fs.create(new Path(outPath, "spanparams"), true)
        try pOut.write(ev.params.getBytes("UTF-8")) finally pOut.close()
      }
      // cardinality sketches ride the same commit: lifetime per-group
      // HLL state (a few KB per group), mergeable by the next batch
      cardState.foreach { case (_, st) =>
        st.write.mode("overwrite").parquet(s"$outDir/cardsketch")
      }
      // benchmark hit grams ride it too: exact lifetime contamination
      // numerator, bounded by the benchmark's gram count
      benchHits.foreach { case (_, hits) =>
        hits.write.mode("overwrite").parquet(s"$outDir/benchhits")
      }
      // heavy-hitter sketches ride the commit: lifetime per-column MG
      // state (≤ columns × k entries), mergeable by the next batch
      freqState.foreach { st =>
        st.write.mode("overwrite").parquet(s"$outDir/freqsketch")
      }
      // lifetime statistics whose stage is OFF this run carry forward
      // unchanged (the linefreqs/spans convention): toggling a
      // reporting stage must never drop accumulated evidence
      Seq("cardsketch" -> cardState.isDefined,
          "benchhits" -> benchHits.isDefined,
          "freqsketch" -> freqState.isDefined)
        .collect { case (t, false) => t }
        .foreach { t =>
          stateDir.filter(d => exists(new Path(qual(d), t))).foreach { d =>
            spark.read.parquet(s"$d/$t")
              .write.mode("overwrite").parquet(s"$outDir/$t")
          }
        }
      val marker = fs.create(new Path(outPath, "_COMMITTED"), true)
      try marker.write(stateParams.getBytes("UTF-8")) finally marker.close()
      Cli.log(s"dedup state written to $outDir")
    } }
    // the per-stage artifact, written LAST so it also covers the state
    // write; every enabled stage appears in run order
    c.getString("stage-log-path").foreach { p =>
      stages.writeJson(spark, p)
      Cli.log(s"stage log written to $p")
    }
    curated.unpersist()
    countedToFree.foreach(_.unpersist())
    cardState.foreach(_._2.unpersist())
    benchHits.foreach(_._2.unpersist())
    freqState.foreach(_.unpersist())
    boilerFreqs.foreach(_.unpersist()) // no-op for the carried-forward case
    lineEvidence.foreach(_.unpersist())
    lineCleanedToFree.foreach(_.unpersist())
    urlEvidence.foreach(_.unpersist())
    spanEvidence.foreach(_.batch.foreach(_.unpersist()))
    Cli.log("curation finished")
  }
}

/** `compactor` (north-star, no reference counterpart): merge a
  * parts-mode state lineage's accumulated write-once parts into one
  * compacted part per table and emit a fresh committed state dir whose
  * manifests reference only the compacted parts. A long-lived lineage
  * appends one part per batch per table; reads stay correct through
  * the manifests, but hundreds of small parquet parts cost open/footer
  * overhead on every probe — the standard object-store read-
  * amplification problem, with the standard answer.
  *
  * Config keys under `compaction { }`: `state-dir` (a COMMITTED state
  * dir), `state-out-dir` (the fresh dir to commit), optional
  * `max-part-bytes` (size-tiered mode: merge ONLY parts at or below
  * the threshold, carry bigger parts untouched — bounds compaction IO
  * by the small tail instead of the lineage, the LSM recipe for very
  * large lineages). The parts directories are parsed from the state's
  * own parameter records (`_COMMITTED` stateParams / `spanparams`),
  * never from config — compaction cannot be pointed at the wrong
  * lineage.
  *
  * Semantics per table: `hashes`/`sigs`/`vecsigs` concatenate;
  * `hotcounts`/`vechotcounts` MERGE (sum per bucket — the mergeable-
  * counts contract); `spans` dedups (duplicate hashes across batches
  * were always semantically redundant to the semi-join). Compacted
  * parts get fresh `part-c<g>` names so live parts are never written
  * while a reader could union them. Materialized artifacts (`hot`,
  * `vechot`, `linefreqs`, `cardsketch`, `benchhits`, `freqsketch`,
  * `spanbloom`, `spanparams`) copy forward unchanged; the output
  * marker carries the
  * SAME stateParams, so the next Curator batch continues the lineage
  * against the compacted dir transparently.
  *
  * Crash safety: superseded parts are swept ONLY AFTER the output
  * `_COMMITTED` lands — a compaction that dies mid-way leaves the
  * input dir fully usable and an uncommitted output dir the protocol
  * refuses. A COMMITTED compaction invalidates all earlier state-dir
  * generations (their manifests reference swept parts); the input
  * dir's marker is removed so it is refused loudly instead of failing
  * at read time. */
object Compactor {
  def main(args: Array[String]): Unit = Cli.run("compactor", args) { (conf, spark) =>
    import org.apache.hadoop.fs.Path
    val c = conf.at("compaction")
    val inDir = c.string("state-dir")
    val outDir = c.string("state-out-dir")
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(d: String): Path = {
      val p = new Path(d); p.getFileSystem(hconf).makeQualified(p)
    }
    def exists(p: Path): Boolean = p.getFileSystem(hconf).exists(p)
    def readSmall(p: Path): String = {
      val in = p.getFileSystem(hconf).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val inPath = qual(inDir)
    val outPath = qual(outDir)
    require(inPath != outPath,
      "compaction.state-out-dir must differ from state-dir (the input stays " +
        "usable until the compacted dir commits)")
    val marker = new Path(inPath, "_COMMITTED")
    require(exists(marker),
      s"compaction.state-dir '$inDir' holds no committed state (_COMMITTED missing)")
    val stateParams = readSmall(marker)
    def paramOf(params: String, key: String): Option[String] =
      params.split(';').collectFirst {
        case kv if kv.startsWith(key + "=") => kv.substring(key.length + 1)
      }
    val partsDir = paramOf(stateParams, "state-parts-dir")
    val spanParams = Some(new Path(inPath, "spanparams")).filter(exists).map(readSmall)
    val spanPartsDir = spanParams.flatMap(paramOf(_, "span-parts-dir"))
    require(partsDir.isDefined || spanPartsDir.isDefined,
      s"state at '$inDir' has no parts-mode tables (no state-parts-dir / " +
        "span-parts-dir in its parameter records) — nothing to compact; " +
        "rewrite-mode state is already one materialized table per commit")
    val fs = outPath.getFileSystem(hconf)
    fs.mkdirs(outPath)
    fs.delete(new Path(outPath, "_COMMITTED"), false)
    // fresh generation suffix per table: part-c<g> names never collide
    // with live parts, so the union read and the compacted write are
    // never the same files
    def nextGen(pd: String, table: String): Int = {
      val td = new Path(s"$pd/$table")
      val tfs = td.getFileSystem(hconf)
      val gens =
        if (!tfs.exists(td)) Array.empty[Int]
        else tfs.listStatus(td).flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("part-c")) n.drop(6).toIntOption else None
        }
      if (gens.isEmpty) 1 else gens.max + 1
    }
    // size-tiered mode: `max-part-bytes` merges only parts at or below
    // the threshold — the LSM small-tail recipe. Big parts are carried
    // into the new manifest UNTOUCHED, so compaction IO is bounded by
    // the tail instead of the lineage (the merge laws are associative,
    // so merging any subset preserves the union's semantics; span
    // duplicates that straddle the tier boundary stay — the probe is
    // set-membership, so they cost bytes, never correctness)
    val maxPartBytes = c.getLong("max-part-bytes")
    maxPartBytes.foreach(b => require(b > 0,
      s"compaction.max-part-bytes must be positive, got $b"))
    def partSize(p: String): Long = {
      val pp = new Path(p)
      pp.getFileSystem(hconf).getContentSummary(pp).getLength
    }
    // compact one manifested table; returns (partsDir, table, kept)
    // for the post-commit sweep
    def compactTable(pd: String, table: String,
        transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Option[(String, String, Seq[String])] =
      Cli.stateTableParts(spark, inDir, table).map { parts =>
        val (small, big) = maxPartBytes match {
          case Some(b) => parts.partition(partSize(_) <= b)
          case None => (parts, Seq.empty[String])
        }
        if (small.length <= 1) {
          // nothing in the tier to merge: manifest carries unchanged
          Cli.writeStateManifest(spark, outPath, table, parts)
          Cli.log(s"$table: ${small.length} part(s) within the size tier — " +
            s"all ${parts.length} carried unchanged")
          (qual(pd).toString, table, parts)
        } else {
          val target = s"${qual(pd)}/$table/part-c${nextGen(qual(pd).toString, table)}"
          transform(spark.read.parquet(small: _*))
            .write.mode("overwrite").parquet(target)
          val kept = big ++ Seq(target)
          Cli.writeStateManifest(spark, outPath, table, kept)
          Cli.log(s"compacted $table: ${small.length} of ${parts.length} " +
            s"parts -> $target" +
            (if (big.nonEmpty) s" (${big.length} above the size tier untouched)" else ""))
          (qual(pd).toString, table, kept)
        }
      }
    val sweeps = scala.collection.mutable.ListBuffer
      .empty[(String, String, Seq[String])]
    partsDir.foreach { pd =>
      Seq("hashes", "sigs", "vecsigs")
        .flatMap(t => compactTable(pd, t, identity)).foreach(sweeps += _)
      Seq("hotcounts", "vechotcounts")
        .flatMap(t => compactTable(pd, t, graft.llm.Dedup.mergeBucketCounts))
        .foreach(sweeps += _)
    }
    spanPartsDir.foreach { pd =>
      compactTable(pd, "spans", _.distinct()).foreach(sweeps += _)
    }
    // carry everything materialized forward unchanged: rewrite-mode
    // tables (no manifest) and the derived/auxiliary artifacts
    def copyParquet(table: String): Unit = {
      val src = new Path(inPath, table)
      if (exists(src) && Cli.stateTableParts(spark, inDir, table).isEmpty)
        spark.read.parquet(src.toString)
          .write.mode("overwrite").parquet(new Path(outPath, table).toString)
    }
    Seq("hashes", "sigs", "vecsigs", "hotcounts", "vechotcounts", "spans",
      "hot", "vechot", "linefreqs", "lines", "urls", "cardsketch", "benchhits",
      "freqsketch")
      .foreach(copyParquet)
    def copyFile(name: String): Unit = {
      val src = new Path(inPath, name)
      if (exists(src)) {
        val in = src.getFileSystem(hconf).open(src)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](65536)
            var n = in.read(tmp)
            while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            buf.toByteArray
          } finally in.close()
        val out = fs.create(new Path(outPath, name), true)
        try out.write(bytes) finally out.close()
      }
    }
    copyFile("spanbloom")
    copyFile("spanparams")
    copyFile("lineparams")
    // media-dedup lineages ride the same sigs/hotcounts table semantics;
    // their modality/geometry line must survive compaction
    copyFile("fingerprint")
    val m = fs.create(new Path(outPath, "_COMMITTED"), true)
    try m.write(stateParams.getBytes("UTF-8")) finally m.close()
    // ONLY now is it safe to drop superseded parts and retire the input
    sweeps.foreach { case (pd, table, kept) =>
      Cli.sweepOrphanParts(spark, pd, table, kept)
    }
    marker.getFileSystem(hconf).delete(marker, false)
    Cli.log(s"compacted state committed to $outDir; input dir '$inDir' retired " +
      "(its manifests reference swept parts)")
  }
}

/** `streamer` (north-star, no reference counterpart): config-driven
  * Structured Streaming job over an events landing directory — reads new
  * parquet files per trigger, applies one of the streaming operators,
  * and appends to a checkpointed parquet sink (exactly-once; a restart
  * with the same checkpoint resumes from the offset log).
  *
  * Config keys under `streaming { }`: `events-dir`, `target-dir`,
  * `checkpoint-location` (required — durable recovery), `operation`
  * (window|sessions|dedup|near-dedup|filter, default window),
  * `window-length`, `session-gap`, `watermark`, `state-store`
  * (`rocksdb` for the off-heap production state store),
  * `shuffle-partitions`. `near-dedup` is the streaming arrival path
  * of the Curator's SimHash tier: `state-dir` points at a committed
  * Curator state (its `sigs`/`hot` subdirs become the corpus side of
  * the stateless stream-static band joins), `text-column`/
  * `time-column` name the stream's payload; `bands`/`shingle-size`
  * default from the state's `_COMMITTED` parameter record and an
  * explicit override that diverges from it is rejected
  * (`max-hamming` is a query-time radius, not baked into state).
  * `filter` is stateless curation-lite over a document stream —
  * `strip-html`/`strip-markdown`/`normalize-text` (the ingest
  * rewrites, applied first, in that order),
  * `min-quality`/`gopher-rules`/`c4-rules`/`langs`/
  * `max-repetition`(+`repetition-ngram`)/
  * `lm-path`+`min-lm-logp`/`kn3-path`+`min-kn3-logp`/
  * `knn-path`+`min-knn-logp`/
  * `classifier-path`+`min-classifier-score`, the Curator's scan-speed
  * stages at arrival time; floors omitted = annotate only. */
object Streamer {
  def main(args: Array[String]): Unit = Cli.run("streamer", args) { (conf, spark) =>
    import graft.streaming.Streams
    val c = conf.at("streaming")
    val watermark = c.getString("watermark").getOrElse("2 hours")
    val useRocksDB = c.getString("state-store") match {
      case None | Some("default") => false
      case Some("rocksdb") => true
      case Some(other) => throw new IllegalArgumentException(
        s"unknown streaming.state-store '$other' (rocksdb|default)")
    }
    val opts = Streams.RunOptions(
      shufflePartitions = c.getInt("shuffle-partitions"),
      useRocksDB = useRocksDB)
    val operation = c.getString("operation").getOrElse("window")
    if (operation == "near-dedup-cluster") {
      // drives its own foreachBatch sink (per-batch multi-table state
      // commits don't fit the single-file-sink tail below)
      runClusteredNearDedup(spark, c, opts)
    } else if (operation == "media-near-dedup-cluster") {
      runClusteredMediaNearDedup(spark, c, opts)
    } else {
    val events = Streams.readEventStream(spark, c.string("events-dir"))
    val stream = operation match {
      case "window" =>
        Streams.windowedEventStats(events,
          c.getString("window-length").getOrElse("1 hour"), watermark)
      case "sessions" =>
        Streams.sessionStats(events,
          c.getString("session-gap").getOrElse("30 minutes"), watermark)
      case "dedup" => Streams.dedupEventStream(events, watermark)
      case "near-dedup" =>
        // document stream vs persisted corpus signatures: read the
        // stream with ITS OWN schema (inferred from the landing files —
        // this operation is for document streams, not the events table)
        val dir = c.string("events-dir")
        val docs = spark.readStream
          .schema(spark.read.parquet(dir).schema).parquet(dir)
        val stateDir = c.string("state-dir")
        val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_COMMITTED")
        val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(mfs.exists(marker),
          s"streaming.state-dir '$stateDir' holds no committed state (_COMMITTED missing)")
        // the Curator records the fingerprint parameters the persisted
        // signatures are only valid for in the marker body
        // (`shingle-size=…;bands=…;…`). Default the stream's parameters
        // FROM that record and reject explicit overrides that diverge —
        // a silently mismatched banding/shingling would pass near-dup
        // echoes straight through, the exact failure the Curator's own
        // state-dir check prevents batch-side.
        val storedParams = {
          val in = mfs.open(marker)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        }
        val stateKv = storedParams.split(";").iterator
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        def fromState(stateKey: String, confKey: String, default: Int): Int = {
          val stored = stateKv.get(stateKey).map(_.trim.toInt)
          val fromConf = c.getInt(confKey)
          (fromConf, stored) match {
            case (Some(g), Some(st)) =>
              require(g == st, s"streaming.$confKey=$g but state-dir '$stateDir' was " +
                s"built with $stateKey=$st ([$storedParams]) — signatures from different " +
                "parameters do not compare; drop the override or re-curate")
              g
            case (Some(g), None) => g
            case (None, Some(st)) => st
            case (None, None) => default
          }
        }
        // optional URL tier FIRST (`url-column`): refetched pages cut
        // by the committed `urls` state before any text-tier work —
        // stream-static anti-join, stateless like everything else here
        val urlGated = c.getString("url-column") match {
          case Some(ucol) =>
            val urlsPath = new org.apache.hadoop.fs.Path(s"$stateDir/urls")
            val urlsManifest = new org.apache.hadoop.fs.Path(s"$stateDir/urlsmanifest")
            require(mfs.exists(urlsPath) || mfs.exists(urlsManifest),
              s"streaming.url-column is set but state-dir '$stateDir' holds no " +
                "urls table — run the Curator with dedup-urls to accumulate it")
            Streams.dropSeenUrlsStream(docs, ucol,
              Cli.readStateTable(spark, stateDir, "urls"))
          case None => docs
        }
        Streams.dropNearSeenStream(urlGated,
          // parts-manifest-transparent: a state built with
          // `state-parts-dir` streams identically
          Cli.readStateTable(spark, stateDir, "sigs"),
          c.getString("text-column").getOrElse("text"),
          // query-time radius (not baked into stored signatures)
          maxHamming = c.getInt("max-hamming").getOrElse(3),
          bands = fromState("bands", "bands", 4),
          // through the same accessor every other state consumer uses:
          // `hot` is a materialized aggregate in parts mode TODAY
          // (writeHotState), but reading the raw dir here would
          // silently break the stream path the day hot moves to
          // manifests (review finding)
          corpusHotBuckets = Some(Cli.readStateTable(spark, stateDir, "hot")),
          timeCol = c.getString("time-column").getOrElse("ts"),
          watermarkDelay = watermark,
          gramSize = fromState("shingle-size", "shingle-size", 3))
      case "filter" =>
        // stateless curation-lite over a document stream: quality
        // heuristics + native LM scorers + learned classifier, all
        // scan-speed projections — no watermark, no state store
        val dir = c.string("events-dir")
        val docs = spark.readStream
          .schema(spark.read.parquet(dir).schema).parquet(dir)
        // same custom-list knobs (and dead-config rules) as the batch
        // Curator, so stream and batch judge with the same data
        require(c.getString("entity-list-path").isEmpty ||
            c.getString("strip-html").exists(_.toBoolean),
          "streaming.entity-list-path needs streaming.strip-html = true")
        require(c.getString("mojibake-list-path").isEmpty ||
            c.getString("normalize-text").exists(_.toBoolean),
          "streaming.mojibake-list-path needs streaming.normalize-text = true")
        require(c.getString("badword-list-path").isEmpty ||
            c.getString("c4-rules").exists(_.toBoolean),
          "streaming.badword-list-path needs streaming.c4-rules = true")
        // LM floors/knobs without their path are dead config — the
        // stream filter would silently no-op a floor the operator
        // believes is active (review finding: the batch Curator
        // rejects these; the Streamer previously dropped them)
        require(c.getDouble("min-lm-logp").isEmpty || c.getString("lm-path").isDefined,
          "streaming.min-lm-logp without streaming.lm-path is dead config")
        require(c.getDouble("min-kn3-logp").isEmpty || c.getString("kn3-path").isDefined,
          "streaming.min-kn3-logp without streaming.kn3-path is dead config")
        require(c.getDouble("min-knn-logp").isEmpty || c.getString("knn-path").isDefined,
          "streaming.min-knn-logp without streaming.knn-path is dead config")
        require(c.getBoolean("knn-packed").isEmpty || c.getString("knn-path").isDefined,
          "streaming.knn-packed without streaming.knn-path is dead config")
        require(c.getBoolean("knn-modified").isEmpty || c.getString("knn-path").isDefined,
          "streaming.knn-modified without streaming.knn-path is dead config")
        require(c.getDouble("min-classifier-score").isEmpty ||
            c.getString("classifier-path").isDefined,
          "streaming.min-classifier-score without streaming.classifier-path is dead config")
        Streams.filterDocStream(docs,
          textCol = c.getString("text-column").getOrElse("text"),
          minQuality = c.getDouble("min-quality"),
          stripHtml = c.getString("strip-html").exists(_.toBoolean),
          stripMarkdown = c.getString("strip-markdown").exists(_.toBoolean),
          normalizeText = c.getString("normalize-text").exists(_.toBoolean),
          gopherRules = c.getString("gopher-rules").exists(_.toBoolean),
          c4Rules = c.getString("c4-rules").exists(_.toBoolean),
          entityList = c.getString("entity-list-path")
            .map(graft.llm.TextAnalysis.loadPairList(spark, _)),
          mojibakeList = c.getString("mojibake-list-path")
            .map(graft.llm.TextAnalysis.loadPairList(spark, _)),
          badwordList = c.getString("badword-list-path")
            .map(graft.llm.TextAnalysis.loadWordList(spark, _)),
          langs = c.getList("langs").map(_.toSet).getOrElse(Set.empty),
          repetition = c.getDouble("max-repetition").map(m =>
            (c.getInt("repetition-ngram").getOrElse(3), m)),
          minDeflateRatio = c.getDouble("min-deflate-ratio"),
          lmPath = c.getString("lm-path"),
          minLmLogP = c.getDouble("min-lm-logp"),
          kn3Path = c.getString("kn3-path"),
          minKn3LogP = c.getDouble("min-kn3-logp"),
          knnPath = c.getString("knn-path"),
          minKnnLogP = c.getDouble("min-knn-logp"),
          knnPacked = c.getBoolean("knn-packed").getOrElse(false),
          knnModified = c.getBoolean("knn-modified").getOrElse(false),
          classifierPath = c.getString("classifier-path"),
          minClassifierScore = c.getDouble("min-classifier-score"))
      case "media-near-dedup" =>
        // media-asset stream vs a MediaDedup run's fingerprint state:
        // arriving IMAGE/AUDIO assets near a stored fingerprint drop
        // at the door (`Streams.dropNearSeenMediaStream` — stateless
        // stream-static band joins). The state's fingerprint line
        // pins the MODALITY (signatures from different modalities
        // have ~random Hamming distances); band geometry is
        // query-time here — the stored sigs are full 64-bit hashes.
        // Video is a frame-exploding path: use the batch MediaDedup
        // increment.
        val dir = c.string("events-dir")
        val assets = spark.readStream
          .schema(spark.read.parquet(dir).schema).parquet(dir)
        val stateDir = c.string("state-dir")
        val fpPath = new org.apache.hadoop.fs.Path(stateDir, "fingerprint")
        val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(fpPath),
          s"streaming.state-dir '$stateDir' holds no MediaDedup fingerprint state")
        val in = fs.open(fpPath)
        val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val stateModality = stored.split('|').head
        val modality = c.getString("modality").getOrElse(stateModality)
        require(modality == stateModality,
          s"streaming.modality=$modality but state-dir '$stateDir' holds " +
            s"$stateModality fingerprints — not comparable")
        require(Set("image", "image-dct", "audio", "video")(modality),
          s"state-dir '$stateDir' holds '$modality'-shaped state — the " +
            "arrival filter runs on SCALAR fingerprints (or the video " +
            "frame array); windowed/tile tiers belong to the batch " +
            "MediaDedup increment")
        // the state line records the lineage's own radius/bands — the
        // calibrated values the state was built to separate at — so
        // they are the arrival filter's defaults (a dct lineage
        // typically runs radius 7 multi-probed over 4 bands where dHash
        // runs 3/4; hand-typed defaults would silently under-match it)
        def lineInt(key: String): Option[Int] = stored.split('|')
          .collectFirst { case kv if kv.startsWith(s"$key=") =>
            kv.substring(key.length + 1).toInt }
        // manifest-transparent state read (parts-mode MediaDedup state
        // works unchanged), and the persisted hot-bucket keys ride in so
        // the stream never re-aggregates the corpus bands — but ONLY at
        // the state's own band geometry (hot keys are (band, bits) under
        // the fingerprint line's `bands=`; any other width re-derives)
        val stateBands = lineInt("bands")
        val bandsHere = c.getInt("bands").getOrElse(stateBands.getOrElse(4))
        val stateMaxHamming = lineInt("maxHamming")
        val hotPath = new org.apache.hadoop.fs.Path(stateDir, "hot")
        val corpusHot =
          if (stateBands.contains(bandsHere) &&
              hotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(hotPath))
            Some(spark.read.parquet(s"$stateDir/hot"))
          else None
        if (modality == "video") {
          // one clip is many hashes: the bounded first-k-frames array
          // column + per-frame band joins against the frame-sig state
          // (`first-k-frames`/`min-frames` mirror the batch tier's
          // every-n/min-frames contract at the arrival door)
          val mh = c.getInt("max-hamming").getOrElse(stateMaxHamming.getOrElse(5))
          Streams.dropNearSeenVideoStream(assets,
            Cli.readStateTable(spark, stateDir, "sigs"),
            firstKFrames = c.getInt("first-k-frames").getOrElse(3),
            contentCol = c.getString("content-column").getOrElse("content"),
            minFrames = c.getInt("min-frames").getOrElse(2),
            maxHamming = mh,
            bands = bandsHere,
            maxBucketSize = c.getInt("max-bucket-size").getOrElse(10000),
            corpusHotBuckets = corpusHot,
            timeCol = c.getString("time-column").getOrElse("ts"),
            watermarkDelay = watermark,
            probe = c.getInt("probe").getOrElse(mh / bandsHere))
        }
        else {
          // a dct lineage's line typically reads 7/4 — the multi-probe
          // geometry; the arrival filter derives the same minimal probe
          // depth the batch/cluster tiers run, so the state's radius
          // never silently under-matches here
          val mh = c.getInt("max-hamming").getOrElse(stateMaxHamming.getOrElse(3))
          val mbs = c.getInt("max-bucket-size").getOrElse(10000)
          val probeDepth = c.getInt("probe").getOrElse(mh / bandsHere)
          // the static side is PREPARED ONCE and cached (r14 verdict
          // nit): a stream-static join re-executes its static subtree
          // every micro-batch, so without this the corpus re-bands —
          // and a probed dct lineage re-pays its ×(width+1) probe
          // explosion — per arrival batch (PerfProbe 21 measures the
          // delta at 1M-sig state). Materialized before the stream
          // starts so the first batch doesn't pay the build either.
          val prepared = Streams.prepareNearSigState(
            Cli.readStateTable(spark, stateDir, "sigs"), bandsHere, mbs,
            corpusHot, probeDepth)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          Cli.log(s"arrival-filter state prepared: ${prepared.count()} " +
            s"(band, bits) buckets cached (probe depth $probeDepth)")
          Streams.dropNearSeenMediaStream(assets,
            Cli.readStateTable(spark, stateDir, "sigs"), modality,
            contentCol = c.getString("content-column").getOrElse("content"),
            maxHamming = mh,
            bands = bandsHere,
            maxBucketSize = mbs,
            corpusHotBuckets = corpusHot,
            timeCol = c.getString("time-column").getOrElse("ts"),
            watermarkDelay = watermark,
            probe = probeDepth,
            preparedState = Some(prepared))
        }
      case other => throw new IllegalArgumentException(
        s"unknown streaming.operation '$other' (window|sessions|dedup|" +
          "near-dedup|near-dedup-cluster|media-near-dedup|" +
          "media-near-dedup-cluster|filter)")
    }
    Cli.log("streaming run started (AvailableNow)...")
    Streams.runToFiles(stream, c.string("target-dir"), c.string("checkpoint-location"), opts)
    Cli.log("streaming run finished")
    }
  }

  /** `operation = near-dedup-cluster`: SINGLE-PASS incremental
    * near-dedup over a document stream. The stateless arrival filters
    * above deliberately leave within-stream HAMMING clustering to the
    * batch Curator (a stream-side Hamming tier would need stateful
    * band aggregation); this mode closes that gap with `foreachBatch`:
    * a micro-batch IS a static frame, so the batch engine's three
    * tiers ([[graft.llm.Dedup.dropSeen]] — exact-vs-seen +
    * in-batch exact, in-batch near-dup keep-lower-id, near-vs-corpus)
    * run with EXACTLY the batch semantics, and the survivors'
    * hash/signature state accretes between micro-batches.
    *
    * Crash contract: Structured Streaming retries a failed batch under
    * the SAME batch id, so every write here is keyed by it — survivors
    * land at `target-dir/batch-<id>` (overwrite), state parts at
    * `cluster-state-dir/<table>/part-<id+1>` (overwrite; part-0 is the
    * seed corpus's hot-count bootstrap), and each batch reads only
    * parts strictly BELOW its own index — a half-written retry never
    * sees its own rows (which would drop the whole batch against
    * itself). Consumer-facing manifests + `_COMMITTED` land after the
    * parts, so the cluster state dir is itself a readStateTable-
    * compatible near-dedup state: `operation = near-dedup` (and the
    * batch Curator's `dropSeen`) can point at it directly, and the
    * manifests cover seed ∪ accreted parts.
    *
    * Scale shape: per-batch work is the batch's own rows against
    * banded state (never corpus-vs-corpus); hot-bucket guards come
    * from persisted mergeable per-bucket COUNTS (the Curator's
    * protocol — bounded ≤ bands·2^(64/bands) rows), so no micro-batch
    * ever re-bands the corpus.
    *
    * `rotate-after-parts = N` bounds the lineage's part list: the
    * batch past the bound is refused loudly with the exact reseed
    * recipe (fresh cluster-state-dir/checkpoint/target seeded by this
    * dir via `state-dir`) — rotation-as-reseed, never in-place
    * compaction, which would break batch-index reads.
    *
    * `embedding-column` adds the VECTOR tiers on the text-tier
    * survivors (the Curator's composition —
    * [[graft.llm.Similarity.dropSeenVectors]]: SRP-vs-corpus
    * signature drop + cosine-verified in-batch keep-lower-id), with
    * `vecsigs`/`vechotcounts` accreting through the identical parts
    * protocol and the SRP seed/bands recorded in the marker. A
    * vector-seeded lineage must continue as one — dropping the tier
    * mid-stream is refused loudly. */
  private def runClusteredNearDedup(
      spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig,
      opts: graft.streaming.Streams.RunOptions): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    import graft.llm.Dedup
    import graft.streaming.Streams
    val dir = c.string("events-dir")
    val docs = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val textCol = c.getString("text-column").getOrElse("text")
    val idCol = c.getString("id-column").getOrElse("doc_id")
    val targetDir = c.string("target-dir")
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(d: String): Path = {
      val p = new Path(d); p.getFileSystem(hconf).makeQualified(p)
    }
    val root = qual(c.string("cluster-state-dir"))
    val fs = root.getFileSystem(hconf)
    // optional SEED corpus state (a committed Curator/prior-cluster
    // lineage): near-dup parameters default FROM its marker and
    // explicit overrides that diverge are rejected — the
    // `operation = near-dedup` contract
    val seedDir = c.getString("state-dir").map(d => qual(d).toString)
    val seedKv: Map[String, String] = seedDir.map { d =>
      val marker = new Path(d, "_COMMITTED")
      require(fs.exists(marker),
        s"streaming.state-dir '$d' holds no committed state (_COMMITTED missing)")
      val in = marker.getFileSystem(hconf).open(marker)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split(";").iterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
    }.getOrElse(Map.empty)
    def fromSeed(stateKey: String, confKey: String, default: Int): Int = {
      val stored = seedKv.get(stateKey).map(_.trim.toInt)
      (c.getInt(confKey), stored) match {
        case (Some(g), Some(st)) =>
          require(g == st, s"streaming.$confKey=$g but state-dir was built " +
            s"with $stateKey=$st — signatures from different parameters do " +
            "not compare; drop the override or re-curate")
          g
        case (Some(g), None) => g
        case (None, Some(st)) => st
        case (None, None) => default
      }
    }
    val gramSize = fromSeed("shingle-size", "shingle-size", 3)
    val bands = fromSeed("bands", "bands", 4)
    val maxHamming = c.getInt("max-hamming").getOrElse(3)
    val maxBucket = c.getInt("max-bucket-size").getOrElse(10000)
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands ($maxHamming >= $bands misses pairs)")
    // optional VECTOR tier (`embedding-column`) — the Curator's
    // composition: SRP corpus tier + cosine-verified in-batch tier on
    // the text-tier survivors, with its own vecsigs state accretion. A
    // vector-seeded lineage must CONTINUE as one: silently dropping
    // the tier would stop protecting the corpus the seed was built for
    val embCol = c.getString("embedding-column")
    require(seedKv.get("embedding").forall(e => embCol.contains(e)),
      s"streaming.state-dir was built with embedding=${seedKv.get("embedding").get} " +
        "but this run sets no (or a different) embedding-column — a vector-" +
        "seeded lineage never drops its vector tier mid-stream")
    def fromSeedL(stateKey: String, confKey: String, default: Long): Long = {
      val stored = seedKv.get(stateKey).map(_.trim.toLong)
      (c.getLong(confKey), stored) match {
        case (Some(g), Some(st)) =>
          require(g == st, s"streaming.$confKey=$g but state-dir was built " +
            s"with $stateKey=$st — signatures from different parameters do " +
            "not compare")
          g
        case (Some(g), None) => g
        case (None, Some(st)) => st
        case (None, None) => default
      }
    }
    val vecSeed = fromSeedL("srp-seed", "srp-seed", 4233L)
    val vecBands = fromSeed("srp-bands", "srp-bands", 4)
    // `vector-min-cosine`, falling back to `min-cosine` — the key the
    // batch Curator's vector tier uses: a lineage ported between the
    // two ops keeps its threshold instead of silently reverting to the
    // default under the other op's spelling
    val vecMinCos = c.getDouble("vector-min-cosine")
      .orElse(c.getDouble("min-cosine")).getOrElse(0.99)
    // the lineage fingerprint guards drifted RESTART parameters the way
    // the MediaDedup state line does: same checkpoint + different knobs
    // would silently mix incomparable signatures
    val lineFp = s"cluster|shingle-size=$gramSize|bands=$bands|" +
      s"maxHamming=$maxHamming|seed=${seedDir.getOrElse("none")}" +
      embCol.map(e => s"|emb=$e|srp-seed=$vecSeed|srp-bands=$vecBands")
        .getOrElse("")
    val fpPath = new Path(root, "fingerprint")
    if (fs.exists(fpPath)) {
      val in = fs.open(fpPath)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(stored == lineFp,
        s"cluster-state-dir '$root' was built as '$stored' but this run is " +
          s"'$lineFp' — one lineage, one parameter set; point at a fresh dir " +
          "or restore the original parameters")
    } else {
      // fresh lineage: refuse a parts dir holding another lineage's
      // tables (the Curator's parts hygiene)
      Seq("hashes", "sigs", "hotcounts", "vecsigs", "vechotcounts")
        .foreach(t => Cli.requireEmptyPartsDir(spark, root.toString, t))
      val out = fs.create(fpPath, true)
      try out.write(lineFp.getBytes("UTF-8")) finally out.close()
    }
    // seed tables read ONCE (lazy frames — re-planned per batch,
    // broadcast when they fit); the seed's hot-bucket counts
    // materialize as bootstrap part-0 so no batch re-bands the seed
    val seedHashes = seedDir.map(d => Cli.readStateTable(spark, d, "hashes"))
    val seedSigs = seedDir.map(d => Cli.readStateTable(spark, d, "sigs"))
    val seedCountsPart = new Path(root, "hotcounts/part-0")
    seedSigs.foreach { ss =>
      if (!fs.exists(seedCountsPart))
        Dedup.bucketCounts(ss, bands)
          .write.mode("overwrite").parquet(seedCountsPart.toString)
    }
    // vector seed state exists exactly when the seed lineage recorded
    // an embedding (the Curator's marker contract)
    val seedVecSigs =
      if (embCol.isDefined && seedKv.contains("embedding"))
        seedDir.map(d => Cli.readStateTable(spark, d, "vecsigs"))
      else None
    val seedVecCountsPart = new Path(root, "vechotcounts/part-0")
    seedVecSigs.foreach { vs =>
      if (!fs.exists(seedVecCountsPart))
        Dedup.bucketCounts(vs, vecBands)
          .write.mode("overwrite").parquet(seedVecCountsPart.toString)
    }
    def seedEntries(table: String): Seq[String] = seedDir.toSeq.flatMap { d =>
      Cli.stateTableParts(spark, d, table).getOrElse(Seq(s"$d/$table"))
    }
    val rotateAfter = c.getInt("rotate-after-parts")
    rotateAfter.foreach(n => require(n > 0,
      s"streaming.rotate-after-parts must be positive, got $n"))
    Cli.log("streaming run started (AvailableNow, foreachBatch)...")
    Streams.runForeachBatch(docs, c.string("checkpoint-location"), opts) {
      (batchRaw, batchId) =>
        val idx = batchId + 1 // part-0 is the seed bootstrap
        def partsBefore(table: String): Seq[String] =
          clusterPartsBefore(fs, root, table, idx, includeZero = false)
        // `rotate-after-parts`: a batch-id-keyed lineage's part list (and
        // the per-batch read fan-in) grows one part per batch forever —
        // rotation-as-reseed is the bound (in-place compaction would
        // break batch-index reads), and this knob makes the bound LOUD
        // instead of an operator memory. Checked per batch so a long
        // AvailableNow run crossing the bound mid-run also refuses; a
        // RETRY of the crossing batch counts only parts below its own
        // index, so it refuses (or proceeds) exactly like the original.
        rotateAfter.foreach { bound =>
          val existing = partsBefore("sigs").length
          if (existing >= bound) throw new IllegalStateException(
            s"near-dedup-cluster: lineage at $root holds $existing accreted " +
              s"parts — rotate-after-parts = $bound is reached. Rotate by " +
              "RESEEDING (prior parts stay byte-identical): rerun with\n" +
              s"  streaming.cluster-state-dir = <fresh empty dir>\n" +
              s"  streaming.state-dir = $root\n" +
              "  streaming.checkpoint-location = <fresh dir>\n" +
              "  streaming.target-dir = <fresh dir>\n" +
              "keeping every near-dup parameter identical (the seed's " +
              "marker pins them); the old lineage becomes the new one's " +
              "seed corpus and batch numbering restarts under the new " +
              "checkpoint")
        }
        def countPartsBefore(table: String): Seq[String] =
          clusterPartsBefore(fs, root, table, idx, includeZero = true)
        def hotOf(countParts: Seq[String]): Option[org.apache.spark.sql.DataFrame] =
          if (countParts.isEmpty) None
          else Some(Dedup.hotFromCounts(
            Dedup.mergeBucketCounts(spark.read.parquet(countParts: _*)), maxBucket))
        val hashParts = partsBefore("hashes")
        val sigParts = partsBefore("sigs")
        val batch = batchRaw.persist()
        try {
          val seenHashes = (seedHashes.toSeq ++
            (if (hashParts.nonEmpty) Seq(spark.read.parquet(hashParts: _*)) else Nil))
            .reduceOption(_.unionByName(_))
            .getOrElse(batch.limit(0)
              .select(Dedup.contentHash(col(textCol)).as("content_hash")))
          val corpusSigs = (seedSigs.toSeq ++
            (if (sigParts.nonEmpty) Seq(spark.read.parquet(sigParts: _*)) else Nil))
            .reduceOption(_.unionByName(_))
            .getOrElse(Dedup.simHashSignatures(batch.limit(0), idCol, textCol, gramSize))
          val countParts = countPartsBefore("hotcounts")
          // per-tier counts ride the passes below, read after the commit
          val counts = new Cli.StageLog
          val nBatch, nExact, nText = counts.counter()
          val textSurvivors = Dedup.dropSeen(nBatch.observe(batch), textCol, idCol,
            seenHashes, corpusSigs, maxHamming, bands, gramSize, maxBucket,
            hotOf(countParts), observeTier = nExact.observe)
          val textOut = nText.observe(textSurvivors)
          // vector tiers on the text-tier survivors (the Curator's
          // composition): SRP-vs-corpus signature drop + cosine-
          // verified in-batch drop, against seed ∪ accreted vecsigs
          val vecParts = partsBefore("vecsigs")
          val vecCountParts = countPartsBefore("vechotcounts")
          val vecResult = embCol.map { e =>
            val corpusVecSigs = (seedVecSigs.toSeq ++
              (if (vecParts.nonEmpty) Seq(spark.read.parquet(vecParts: _*)) else Nil))
              .reduceOption(_.unionByName(_))
              .getOrElse(graft.llm.Similarity.srpSignatures(
                batch.limit(0), idCol, e, vecSeed))
            val nFresh, nVec = counts.counter()
            (graft.llm.Similarity.dropSeenVectors(textOut,
              corpusVecSigs, vecMinCos, idCol, e, vecBands, maxBucket,
              hotOf(vecCountParts), vecSeed, observeTier = nFresh.observe),
              nFresh, nVec)
          }
          val survivors = vecResult.map(_._1).getOrElse(textSurvivors)
          try {
            vecResult.map { case (v, _, nVec) => nVec.observe(v) }.getOrElse(textOut)
              .write.mode("overwrite").parquet(s"$targetDir/batch-$batchId")
            survivors
              .select(Dedup.contentHash(col(textCol)).as("content_hash"))
              .write.mode("overwrite").parquet(s"$root/hashes/part-$idx")
            Dedup.simHashSignatures(survivors, idCol, textCol, gramSize)
              .write.mode("overwrite").parquet(s"$root/sigs/part-$idx")
            Dedup.bucketCounts(spark.read.parquet(s"$root/sigs/part-$idx"), bands)
              .write.mode("overwrite").parquet(s"$root/hotcounts/part-$idx")
            embCol.foreach { e =>
              graft.llm.Similarity.srpSignatures(survivors, idCol, e, vecSeed)
                .write.mode("overwrite").parquet(s"$root/vecsigs/part-$idx")
              Dedup.bucketCounts(
                  spark.read.parquet(s"$root/vecsigs/part-$idx"), vecBands)
                .write.mode("overwrite").parquet(s"$root/vechotcounts/part-$idx")
            }
            // consumer-facing commit: manifests covering seed ∪ parts,
            // the bounded hot tables, and the Curator-style marker — the
            // cluster dir is now a valid `state-dir` for operation =
            // near-dedup and the batch tiers
            Cli.writeStateManifest(spark, root, "hashes",
              seedEntries("hashes") ++ hashParts :+ s"$root/hashes/part-$idx")
            Cli.writeStateManifest(spark, root, "sigs",
              seedEntries("sigs") ++ sigParts :+ s"$root/sigs/part-$idx")
            Dedup.hotFromCounts(
              Dedup.mergeBucketCounts(
                spark.read.parquet((countParts :+ s"$root/hotcounts/part-$idx"): _*)),
              maxBucket)
              .write.mode("overwrite").parquet(s"$root/hot")
            embCol.foreach { _ =>
              val vecSeedEntries =
                if (seedVecSigs.isDefined) seedEntries("vecsigs") else Seq.empty
              Cli.writeStateManifest(spark, root, "vecsigs",
                vecSeedEntries ++ vecParts :+ s"$root/vecsigs/part-$idx")
              Dedup.hotFromCounts(
                Dedup.mergeBucketCounts(spark.read.parquet(
                  (vecCountParts :+ s"$root/vechotcounts/part-$idx"): _*)),
                maxBucket)
                .write.mode("overwrite").parquet(s"$root/vechot")
            }
            val marker = fs.create(new Path(root, "_COMMITTED"), true)
            try marker.write(
              (s"shingle-size=$gramSize;bands=$bands;max-bucket=$maxBucket" +
                embCol.map(e => s";embedding=$e;srp-seed=$vecSeed;srp-bands=$vecBands")
                  .getOrElse(""))
                .getBytes("UTF-8"))
            finally marker.close()
            counts.report {
              val vecNote = vecResult.map { case (_, nFresh, nVec) =>
                s", vector tiers dropped ${nText.rows - nFresh.rows} vs-corpus + " +
                  s"${nFresh.rows - nVec.rows} in-batch"
              }.getOrElse("")
              val kept = vecResult.map(_._3.rows).getOrElse(nText.rows)
              Cli.log(s"near-dedup-cluster batch $batchId: ${nBatch.rows} rows, " +
                s"exact tier dropped ${nBatch.rows - nExact.rows}, " +
                s"near tiers dropped ${nExact.rows - nText.rows} " +
                s"(in-batch keep-lower-id + vs-corpus)$vecNote, " +
                s"$kept survivors -> $targetDir/batch-$batchId")
            }
            counts.resolve()
          } finally {
            survivors.unpersist()
            if (vecResult.isDefined) textSurvivors.unpersist()
            ()
          }
        } finally { batch.unpersist(); () }
    }
    Cli.log("streaming run finished")
  }

  /** List a cluster-state table's batch-id-keyed parts strictly BELOW
    * `idx` — `includeZero` admits the seed-bootstrap part-0 (the count
    * tables); row-level tables reserve it (seed rows come in through
    * lazy seed frames, never a copy). */
  private def clusterPartsBefore(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      table: String, idx: Long, includeZero: Boolean): Seq[String] = {
    val td = new org.apache.hadoop.fs.Path(root, table)
    if (!fs.exists(td)) Seq.empty
    else fs.listStatus(td).map(_.getPath).toSeq
      .flatMap(p => p.getName.stripPrefix("part-").toLongOption
        .filter(i => (includeZero || i > 0) && i < idx).map(_ -> p.toString))
      .sortBy(_._1).map(_._2)
  }

  /** `operation = media-near-dedup-cluster`: the media counterpart of
    * [[runClusteredNearDedup]] — single-pass arrival clustering for
    * IMAGE (dHash or DCT kernel) and AUDIO streams. Each micro-batch
    * fingerprints ONCE through the codegen'd `graft_media_hash`
    * column, drops assets near the accreted corpus state (the
    * signature-level MediaDedup incremental tier), collapses in-batch
    * near pairs keep-lower-id (the text cluster op's pair semantics;
    * image `verify-pairs` confirms each in-batch nomination against
    * pixels first — both assets are in the batch, so the batch CLI's
    * semantics apply verbatim), and appends survivors' signatures as
    * batch-id-keyed write-once parts — the same retry-idempotence
    * contract.
    *
    * The state dir carries the MediaDedup fingerprint LINE verbatim
    * (`image|…`, `image-dct|…`, `audio|…`), so it is directly
    * consumable by `operation = media-near-dedup` (the stateless
    * arrival filter, which defaults its radius/bands from that line)
    * and as the `state-dir` seed of a rotated lineage; the seed's own
    * line must match this run's exactly (kernels and geometries never
    * mix). A separate `clusterseed` record guards a RESTART against a
    * swapped seed dir (the line alone cannot see that drift).
    * `rotate-after-parts = N` bounds the part list with a loud
    * reseed-recipe refusal (the text cluster op's contract, verbatim).
    * VIDEO stays on the batch MediaDedup increment — one clip is many
    * signatures, and frame-aligned pairing is the batch tier's job. */
  private def runClusteredMediaNearDedup(
      spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig,
      opts: graft.streaming.Streams.RunOptions): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    import graft.llm.Dedup
    import graft.streaming.Streams
    val dir = c.string("events-dir")
    val assets = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val idCol = c.getString("id-column").getOrElse("asset_id")
    val contentCol = c.getString("content-column").getOrElse("content")
    val modality = c.string("modality")
    require(Set("image", "audio")(modality),
      "media-near-dedup-cluster runs on SCALAR fingerprints (image | " +
        "audio) — a video clip is many signatures; use the batch " +
        "MediaDedup increment")
    val imageHash = c.getString("image-hash").getOrElse("dhash")
    require(Set("dhash", "dct")(imageHash),
      s"streaming.image-hash must be dhash | dct, got '$imageHash'")
    require(imageHash == "dhash" || modality == "image",
      "streaming.image-hash selects the image kernel")
    val dct = modality == "image" && imageHash == "dct"
    val hashModality = if (dct) "image-dct" else modality
    // dct geometry: radius 7 (the measured pHash twin envelope) over 4
    // bands of 16 bits with a Hamming-<=1 multi-probe — the scale-safe
    // form (round 13's 8 unprobed bands meant 256 possible buckets per
    // band; PerfProbe 19). Probe depth derives from radius/bands and is
    // matching-time only — the sigs/hotcounts lineage is probe-agnostic.
    val bands = c.getInt("bands").getOrElse(4)
    val maxHamming = c.getInt("max-hamming").getOrElse(if (dct) 7 else 3)
    val probe = c.getInt("probe").getOrElse(maxHamming / bands)
    require(probe <= 1,
      s"streaming: radius $maxHamming over $bands bands needs probe depth " +
        s"$probe, but only depth <= 1 is implemented — raise bands (a " +
        s"radius up to ${2 * bands - 1} runs at depth 1)")
    require(maxHamming < bands * (probe + 1),
      s"pigeonhole needs maxHamming < bands*(probe+1) " +
        s"($maxHamming >= ${bands * (probe + 1)} misses pairs)")
    val maxBucket = c.getInt("max-bucket-size").getOrElse(10000)
    // `verify-pairs` (image): pixel-evidence confirmation of the
    // IN-BATCH nominations — both assets' pixels are in the batch, so
    // the batch CLI's "signatures nominate, pixels confirm" semantics
    // apply verbatim; the vs-corpus tier stays signature-only by
    // design (the state keeps 8-byte sigs, never pixels)
    val verifyPairs = c.getBoolean("verify-pairs").getOrElse(false)
    require(!verifyPairs || modality == "image",
      "streaming.verify-pairs is the image pixel-confirmation tier")
    val maxMeanDiff = c.getDouble("max-mean-diff").getOrElse(0.1)
    val metaCol = c.getString("meta-column").getOrElse("meta")
    val targetDir = c.string("target-dir")
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(d: String): Path = {
      val p = new Path(d); p.getFileSystem(hconf).makeQualified(p)
    }
    val root = qual(c.string("cluster-state-dir"))
    val fs = root.getFileSystem(hconf)
    def readSmall(p: Path): String = {
      val in = p.getFileSystem(hconf).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
    }
    def writeSmall(p: Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val stateFp = s"$hashModality|bands=$bands|maxHamming=$maxHamming"
    // optional SEED (a MediaDedup state-out-dir or a prior cluster
    // lineage): its fingerprint line must equal this run's exactly
    val seedDir = c.getString("state-dir").map(d => qual(d).toString)
    seedDir.foreach { d =>
      val p = new Path(d, "fingerprint")
      require(fs.exists(p),
        s"streaming.state-dir '$d' holds no MediaDedup fingerprint state")
      val stored = readSmall(p)
      require(stored == stateFp,
        s"streaming.state-dir '$d' was built as '$stored' but this run is " +
          s"'$stateFp' — kernels and band geometries never mix; rebuild or " +
          "match the parameters")
    }
    val fpPath = new Path(root, "fingerprint")
    val seedRecord = new Path(root, "clusterseed")
    val seedLine = seedDir.getOrElse("none")
    if (fs.exists(fpPath)) {
      val stored = readSmall(fpPath)
      require(stored == stateFp,
        s"cluster-state-dir '$root' was built as '$stored' but this run is " +
          s"'$stateFp' — one lineage, one parameter set")
      val storedSeed = if (fs.exists(seedRecord)) readSmall(seedRecord) else "none"
      require(storedSeed == seedLine,
        s"cluster-state-dir '$root' was seeded from '$storedSeed' but this " +
          s"run names '$seedLine' — a lineage never swaps its seed mid-stream")
    } else {
      Seq("sigs", "hotcounts")
        .foreach(t => Cli.requireEmptyPartsDir(spark, root.toString, t))
      writeSmall(fpPath, stateFp)
      writeSmall(seedRecord, seedLine)
    }
    val seedSigs = seedDir.map(d => Cli.readStateTable(spark, d, "sigs"))
    val seedCountsPart = new Path(root, "hotcounts/part-0")
    seedSigs.foreach { ss =>
      if (!fs.exists(seedCountsPart))
        Dedup.bucketCounts(ss, bands)
          .write.mode("overwrite").parquet(seedCountsPart.toString)
    }
    def seedEntries(table: String): Seq[String] = seedDir.toSeq.flatMap { d =>
      Cli.stateTableParts(spark, d, table).getOrElse(Seq(s"$d/$table"))
    }
    val rotateAfter = c.getInt("rotate-after-parts")
    rotateAfter.foreach(n => require(n > 0,
      s"streaming.rotate-after-parts must be positive, got $n"))
    Cli.log("streaming run started (AvailableNow, foreachBatch)...")
    Streams.runForeachBatch(assets, c.string("checkpoint-location"), opts) {
      (batchRaw, batchId) =>
        val idx = batchId + 1
        val sigParts = clusterPartsBefore(fs, root, "sigs", idx, includeZero = false)
        // the text cluster op's rotate-after-parts bound, verbatim
        // semantics (see runClusteredNearDedup): loud refusal with the
        // reseed recipe instead of an ever-growing part list
        rotateAfter.foreach { bound =>
          if (sigParts.length >= bound) throw new IllegalStateException(
            s"media-near-dedup-cluster: lineage at $root holds " +
              s"${sigParts.length} accreted parts — rotate-after-parts = " +
              s"$bound is reached. Rotate by RESEEDING (prior parts stay " +
              "byte-identical): rerun with\n" +
              s"  streaming.cluster-state-dir = <fresh empty dir>\n" +
              s"  streaming.state-dir = $root\n" +
              "  streaming.checkpoint-location = <fresh dir>\n" +
              "  streaming.target-dir = <fresh dir>\n" +
              "keeping the kernel and band geometry identical (the seed's " +
              "fingerprint line pins them); the old lineage becomes the " +
              "new one's seed corpus and batch numbering restarts under " +
              "the new checkpoint")
        }
        val countParts = clusterPartsBefore(fs, root, "hotcounts", idx, includeZero = true)
        val batch = batchRaw.persist()
        // ONE decode pass: the codegen'd hash column, cached — every
        // join below is signature-level
        val batchSigs = batch.select(col(idCol).as("id"),
          graft.functions.GraftFunctions.mediaHash(col(contentCol), hashModality)
            .as("sig")).persist()
        try {
          val corpusSigs = (seedSigs.toSeq ++
            (if (sigParts.nonEmpty) Seq(spark.read.parquet(sigParts: _*)) else Nil))
            .reduceOption(_.unionByName(_))
            .getOrElse(batchSigs.limit(0))
          val mergedCounts =
            if (countParts.isEmpty) None
            else Some(Dedup.mergeBucketCounts(spark.read.parquet(countParts: _*)))
          val hot = mergedCounts.map(Dedup.hotFromCounts(_, maxBucket))
          // corpus-side guard saturation from the counts the batch
          // already reads (near-free) — the accreted state's size is
          // what saturates a too-narrow geometry, and it must never
          // do so silently again (the r13 dct lesson)
          mergedCounts.foreach { mc =>
            val sat = Dedup.guardSaturation(mc, maxBucket)
            if (sat.hotBuckets > 0) Cli.log(
              f"corpus hot-bucket guard: ${sat.hotBuckets}/${sat.occupiedBuckets} " +
                f"buckets over cap $maxBucket (${sat.rowFraction * 100}%.1f%% of rows)")
            if (sat.bucketFraction > 0.25 || sat.rowFraction > 0.5) Cli.log(
              "WARNING: the accreted corpus saturates the hot-bucket guard — " +
                "recall vs stored state is collapsing; use fewer, WIDER bands " +
                "with a probe depth (rebuild the lineage), don't raise the cap")
          }
          // tier 1: near a STORED fingerprint (signature-level — the
          // state keeps 8-byte sigs, not pixels). Cached: it fans out
          // to the in-batch tier's input AND the drop union (R19)
          val seen = Dedup.sigNearDupsAgainst(batchSigs, corpusSigs,
            maxHamming, bands, maxBucket, hot, probe)
            .select(col("batch_id").as("id")).distinct().persist()
          // tier 2: in-batch near pairs among the remaining assets,
          // keep-lower-id (the text cluster op's pair semantics);
          // verify-pairs confirms each nomination against pixels first
          val freshSigs = batchSigs.join(seen, Seq("id"), "left_anti")
          val inBatchPairs =
            Dedup.sigNearDups(freshSigs, maxHamming, bands, maxBucket, probe)
          val confirmedPairs =
            if (!verifyPairs) inBatchPairs
            else {
              val mediaForVerify =
                if (batch.columns.contains(metaCol)) batch
                else batch.withColumn(metaCol,
                  lit(null).cast("map<string,string>"))
              graft.llm.Multimodal.verifyImagePairs(inBatchPairs, mediaForVerify,
                graft.llm.Multimodal.ImageIoDecoder, idCol, contentCol, metaCol,
                maxMeanDiff = maxMeanDiff)
            }
          val inBatchDrop = confirmedPairs.select(col("id2").as("id"))
          // cached too: consumed by the survivor anti-join and the
          // state-part anti-join below
          val dropIds = seen.unionByName(inBatchDrop)
            .withColumnRenamed("id", idCol).persist()
          val survivors = batch.join(dropIds, Seq(idCol), "left_anti").persist()
          try {
            survivors.write.mode("overwrite").parquet(s"$targetDir/batch-$batchId")
            batchSigs.join(dropIds.withColumnRenamed(idCol, "id"), Seq("id"), "left_anti")
              .write.mode("overwrite").parquet(s"$root/sigs/part-$idx")
            Dedup.bucketCounts(spark.read.parquet(s"$root/sigs/part-$idx"), bands)
              .write.mode("overwrite").parquet(s"$root/hotcounts/part-$idx")
            Cli.writeStateManifest(spark, root, "sigs",
              seedEntries("sigs") ++ sigParts :+ s"$root/sigs/part-$idx")
            Dedup.hotFromCounts(
              Dedup.mergeBucketCounts(
                spark.read.parquet((countParts :+ s"$root/hotcounts/part-$idx"): _*)),
              maxBucket)
              .write.mode("overwrite").parquet(s"$root/hot")
            val rows = batch.count()
            val kept = survivors.count()
            Cli.log(s"media-near-dedup-cluster batch $batchId ($hashModality): " +
              s"$rows assets, dropped ${rows - kept} " +
              s"(vs-corpus + in-batch keep-lower-id), " +
              s"$kept survivors -> $targetDir/batch-$batchId")
          } finally {
            survivors.unpersist(); dropIds.unpersist(); seen.unpersist(); ()
          }
        } finally { batchSigs.unpersist(); batch.unpersist(); () }
    }
    Cli.log("streaming run finished")
  }
}

/** E3 `trainer` (reference `trainer.py:12-72`): fit a model from a Spark
  * source and persist it — distributed MLlib fit + `model.write.save`
  * instead of `toPandas` + sklearn + joblib. */
object Trainer {
  def main(args: Array[String]): Unit = Cli.run("trainer", args) { (conf, spark) =>
    import org.apache.spark.sql.functions._
    Cli.log("loading data...")
    val md = conf.at("model-definition")
    val df = graft.operators.Ops.pandify(
      graft.sources.DataIO.read(spark, md.at("dataset")))
    // `validation { }` (beyond the reference, which trains blind): a
    // deterministic salted-digest holdout is carved BEFORE the fit,
    // the model is measured on it after — binary AUC or regression
    // RMSE — the metrics artifact lands FIRST, then `min-auc` /
    // `max-rmse` fail the run nonzero. The model is saved either way
    // (a failed gate should leave the artifact for inspection, the
    // Indexer's report-then-gate order).
    val v = conf.at("validation")
    val holdout = v.getDouble("fraction").getOrElse(0.0)
    require(holdout >= 0.0 && holdout < 1.0,
      s"validation.fraction must be in [0, 1), got $holdout")
    val idColOpt = v.getString("id-column")
    require(holdout == 0.0 || idColOpt.isDefined,
      "validation.fraction needs validation.id-column (the deterministic digest key)")
    val (trainDf, valDf) =
      if (holdout == 0.0) (df, None)
      else {
        val salt = v.getString("salt").getOrElse("trainval")
        val digest = graft.operators.Ops.hashDigestCol(
          col(idColOpt.get).cast("string"), salt)
        val cut = graft.operators.Ops.hashThresholdHex(holdout)
        (df.filter(digest >= lit(cut)), Some(df.filter(digest < lit(cut))))
      }
    val model = graft.ml.Trainer.trainFromConf(trainDf, md)
    val path = conf.string("model-path")
    graft.ml.Trainer.save(model, path)
    println(s"model is saved to $path")
    valDf.foreach { vd =>
      val targetCol = md.string("target-column")
      val scored = graft.ml.Trainer.scoreModel(model, vd,
        colsToSave = Seq(targetCol))
      val kind = v.getString("kind").getOrElse("binary")
      val scoreCol = if (scored.columns.contains("target_proba")) "target_proba" else "pred"
      val pairs = scored.select(col(scoreCol).cast("double").as("s"),
        col(targetCol).cast("double").as("l")).na.drop()
      val n = pairs.count()
      // empty holdout → NaN metrics in the report (not an aggregate
      // NPE); the gates below refuse to apply to them
      val metrics: Seq[(String, Double)] = kind match {
        case "binary" if n == 0 => Seq("auc" -> Double.NaN)
        case "binary" =>
          Seq("auc" -> new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
            .setRawPredictionCol("s").setLabelCol("l")
            .setMetricName("areaUnderROC").evaluate(pairs))
        case "regression" if n == 0 => Seq("rmse" -> Double.NaN)
        case "regression" =>
          Seq("rmse" -> pairs.select(sqrt(avg((col("s") - col("l")) * (col("s") - col("l")))))
            .head().getDouble(0))
        case other => throw new IllegalArgumentException(
          s"validation.kind must be binary | regression, got '$other'")
      }
      metrics.foreach { case (k, m) => Cli.log(f"validation: $k = $m%.6f (n=$n)") }
      v.getString("report-dir").foreach { d =>
        import spark.implicits._
        (metrics :+ ("n" -> n.toDouble)).toDF("metric", "value")
          .coalesce(1).write.mode("overwrite").parquet(d)
        Cli.log(s"validation report -> $d")
      }
      val m = metrics.toMap
      // a degenerate holdout must fail the gate loudly, never sail
      // through it: empty → NaN (`NaN < floor` is false), and a
      // single-class holdout makes MLlib report a vacuous AUC = 1.0
      def gateable(metric: String, value: Double): Unit = {
        if (n == 0) throw new IllegalStateException(
          s"validation: the $metric gate cannot be applied — the holdout " +
            s"has zero non-null (score, label) pairs (model still saved to $path)")
        if (value.isNaN) throw new IllegalStateException(
          s"validation: the $metric gate cannot be applied — $metric is NaN " +
            s"on this holdout (model still saved to $path)")
        if (metric == "auc" && pairs.select(col("l")).distinct().count() < 2)
          throw new IllegalStateException(
            "validation: the auc gate cannot be applied — the holdout holds " +
              "a single label class, which makes AUC vacuous (MLlib reports " +
              s"1.0 with no negatives); model still saved to $path")
      }
      v.getDouble("min-auc").foreach { floor =>
        require(kind == "binary", "validation.min-auc needs kind = binary")
        gateable("auc", m("auc"))
        if (m("auc") < floor) throw new IllegalStateException(
          f"validation: holdout AUC ${m("auc")}%.4f below the $floor gate " +
            s"(model still saved to $path)")
      }
      v.getDouble("max-rmse").foreach { cap =>
        require(kind == "regression", "validation.max-rmse needs kind = regression")
        gateable("rmse", m("rmse"))
        if (m("rmse") > cap) throw new IllegalStateException(
          f"validation: holdout RMSE ${m("rmse")}%.4f above the $cap gate " +
            s"(model still saved to $path)")
      }
    }
  }
}

/** `tokenizer` (north-star, no reference counterpart): train a BPE
  * tokenizer from a config-described corpus and persist the artifact
  * pair every consumer runs on — `merges.txt` (the published format)
  * plus the id vocab — closing the operational loop: until now the
  * Curator/Streamer/packing knobs CONSUMED tokenizer artifacts but
  * nothing config-driven produced them.
  *
  * Config keys under `tokenizer { }`:
  *  - `source { }` — any DataIO source (the S1–S8 dispatch)
  *  - `text-column` (default `text`), `num-merges` (required)
  *  - `byte-level = true` → GPT-2-style byte-level (256-symbol base
  *    alphabet, encoding total by construction); default = segment
  *    level with the byte-fallback vocab (also total)
  *  - `max-words` (default 2^20) / `batch-k` (default 16): above the
  *    cut the DISTRIBUTED merge loop engages automatically — driver
  *    memory stays O(batch-k), no silent vocabulary truncation
  *  - `merges-path` / `vocab-path` (both required)
  *  - `verify-docs` (default 100, 0 = off): the Indexer-recall idiom
  *    baked in — a digest-sampled slice must round-trip byte-exactly
  *    under the artifacts JUST written with zero `<unk>` ids, or the
  *    run exits nonzero (artifacts are already on disk for debugging,
  *    like the Indexer's report-then-gate order). */
object Tokenizer {
  def main(args: Array[String]): Unit = Cli.run("tokenizer", args) { (conf, spark) =>
    import org.apache.spark.sql.functions._
    val c = conf.at("tokenizer")
    val docs = graft.sources.DataIO.read(spark, c.at("source"))
    val textCol = c.getString("text-column").getOrElse("text")
    // `algo`: which tokenizer family to train — classic BPE (default),
    // byte-level BPE (also reachable via the legacy `byte-level` flag),
    // the unigram LM model (Kudo 2018), or WordPiece (likelihood-scored
    // merges). Each family saves its own published artifact format and
    // self-checks through its own `graft_*` expression surface.
    val algo = c.getString("algo").getOrElse(
      if (c.getBoolean("byte-level").getOrElse(false)) "bpe-byte" else "bpe")
    require(Seq("bpe", "bpe-byte", "unigram", "wordpiece").contains(algo),
      s"unknown tokenizer.algo '$algo' (bpe | bpe-byte | unigram | wordpiece)")
    val maxWords = c.getInt("max-words").getOrElse(1 << 20)
    val batchK = c.getInt("batch-k").getOrElse(16)
    val mode = c.getString("mode").getOrElse("train")
    require(Seq("train", "evaluate").contains(mode),
      s"unknown tokenizer.mode '$mode' (train | evaluate)")
    if (mode == "evaluate") runEvaluate(spark, c, docs, textCol)
    else if (algo == "unigram") runUnigram(spark, c, docs, textCol, maxWords)
    else if (algo == "wordpiece") runWordPiece(spark, c, docs, textCol, maxWords, batchK)
    else runBpe(spark, c, docs, textCol, maxWords, batchK, algo == "bpe-byte")
  }

  /** `mode = evaluate`: compare trained tokenizer artifacts — possibly
    * across FAMILIES — on one corpus, the operational "which tokenizer
    * fits this data" answer. `evaluate = ["name|algo|path[|vocab]",
    * ...]` names each artifact (`bpe`/`bpe-byte` take merges + vocab,
    * `unigram` its TSV model, `wordpiece` its vocab.txt). One report
    * row per artifact: doc/byte totals, total ids, ids per doc, BYTES
    * PER ID (the compression yardstick — higher is denser), the
    * round-trip-ok count under each family's own round-trip contract
    * (lossless decode∘encode for bpe/bpe-byte/unigram; the structural
    * re-join for wordpiece), and fallback id counts — the ids the
    * artifact emits when its learned pieces MISS: byte-fallback ids
    * under a byte-fallback layout (bpe-with-vocab: the 256 reserved
    * `<0xNN>` ids; unigram: layout ids 2-257), `<unk>` on a legacy
    * vocab, `[UNK]` for wordpiece; byte-level bpe has no fallback
    * concept → 0. A high fallback share is the "vocab doesn't fit
    * this corpus" signal. `group-column` (e.g. a `lang` tag) breaks
    * every metric out per group — the per-language FERTILITY table
    * tokenizer papers publish, and the operational answer to "which
    * languages does this vocab shortchange" (a multilingual corpus can
    * hide a 3× ids-per-doc skew inside one healthy-looking total).
    * Report lands FIRST at `report-dir`; `require-lossless = true`
    * then gates: every total family must round-trip every doc (summed
    * over groups when grouped). One scan per artifact, all metrics in
    * one aggregate — collects bounded at |groups| rows per artifact,
    * no shuffles beyond the ≤|groups|-row agg. */
  private def runEvaluate(spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig, docs: org.apache.spark.sql.DataFrame,
      textCol: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    val specs = c.getList("evaluate").getOrElse(throw new IllegalArgumentException(
      "tokenizer.evaluate is required for mode = evaluate — a list of " +
        "'name|algo|path[|vocab-path]' artifact specs"))
    require(specs.nonEmpty, "tokenizer.evaluate must name at least one artifact")
    val reportDir = c.string("report-dir")
    val groupCol = c.getString("group-column")
    groupCol.foreach { g =>
      require(docs.columns.contains(g),
        s"tokenizer.group-column '$g' is not a corpus column " +
          s"(${docs.columns.mkString(", ")})")
    }
    val t = docs.select(col(textCol).as("t") +:
        groupCol.map(g => col(g).cast("string").as("g")).toSeq: _*)
      .filter(col("t").isNotNull)
    val perSpec = specs.map { spec =>
      val parts = spec.split('|')
      require(parts.length >= 3,
        s"tokenizer.evaluate entry '$spec' must be 'name|algo|path[|vocab-path]'")
      val (name, algo) = (parts(0), parts(1))
      // fallback_ids counts the ids an id-complete vocab ACTUALLY emits
      // when a segment misses: the byte-fallback ids under a
      // byte-fallback layout (unk id 0 is structurally never emitted
      // there — counting only it would pin the column at 0 and hide a
      // poorly fitting vocab), `<unk>` on a legacy vocab, `[UNK]` for
      // wordpiece. byte-level bpe has no fallback concept (every byte
      // is a first-class token) → structurally 0.
      val (ids, back, fallbackPred): (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column,
          org.apache.spark.sql.Column => org.apache.spark.sql.Column) = algo match {
        case "bpe" =>
          require(parts.length == 4, s"evaluate '$spec': bpe needs merges|vocab")
          val v = graft.functions.BpeVocabIdRegistry.get(parts(3))
          val pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
            if (v.hasByteFallback) {
              // the 256 reserved <0xNN> ids, wherever the vocab put them
              val byteSet = typedLit(v.byteIds.toSeq)
              i => array_contains(byteSet, i)
            } else (i => i === 0)
          (GraftFunctions.bpeEncode(col("t"), parts(2), parts(3)),
            GraftFunctions.bpeDecode(GraftFunctions.bpeEncodeLossless(
              col("t"), parts(2), parts(3)), parts(3)), pred)
        case "bpe-byte" =>
          require(parts.length == 4, s"evaluate '$spec': bpe-byte needs merges|vocab")
          (GraftFunctions.bpeByteEncode(col("t"), parts(2), parts(3)),
            GraftFunctions.bpeByteDecode(GraftFunctions.bpeByteEncode(
              col("t"), parts(2), parts(3)), parts(3)), (_ => lit(false)))
        case "unigram" =>
          require(parts.length == 3, s"evaluate '$spec': unigram takes one model path")
          // fixed SentencePiece-style layout: byte pieces are lines 2-257
          (GraftFunctions.unigramEncode(col("t"), parts(2)),
            GraftFunctions.unigramDecode(GraftFunctions.unigramEncodeLossless(
              col("t"), parts(2)), parts(2)), (i => i >= 2 && i <= 257))
        case "wordpiece" =>
          require(parts.length == 3, s"evaluate '$spec': wordpiece takes one vocab path")
          val unk = {
            val hp = new org.apache.hadoop.fs.Path(parts(2))
            val in = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(hp)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().indexWhere(_ == "[UNK]")
            finally in.close()
          }
          (GraftFunctions.wordPieceEncode(col("t"), parts(2)),
            GraftFunctions.wordPieceRoundtrip(col("t"), parts(2)), (i => i === unk))
        case other => throw new IllegalArgumentException(
          s"evaluate '$spec': unknown algo '$other' (bpe | bpe-byte | unigram | wordpiece)")
      }
      val sel = t.select(Seq(ids.as("ids"), back.as("back"), col("t")) ++
        groupCol.map(_ => col("g")): _*)
      val aggs = Seq(
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("t"))).as("text_bytes"),
        sum(size(col("ids"))).as("total_ids"),
        count(when(col("back") === col("t"), 1)).as("roundtrip_ok"),
        coalesce(sum(size(filter(col("ids"), fallbackPred))), lit(0L))
          .as("fallback_ids"))
      // ungrouped: the 1-row aggregate; grouped: ≤ |groups| rows, sorted
      // so the report and the collect are deterministic. The grouped
      // collect is one row per group PER ARTIFACT to the driver — a
      // mistaken high-cardinality group column (a doc id) would OOM it,
      // so the collect itself is bounded (orderBy + limit compiles to
      // TakeOrdered — bounded driver memory) and >10k groups refuses
      // loudly. No dedicated cardinality pass: the bound rides the
      // aggregate the evaluation pays anyway (review finding).
      val rs = (groupCol match {
        case Some(_) => sel.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
          .orderBy("g").limit(10001)
        case None => sel.agg(aggs.head, aggs.tail: _*)
      }).collect()
      require(groupCol.isEmpty || rs.length <= 10000,
        s"tokenizer.group-column '${groupCol.get}' has more than 10000 " +
          "distinct values — the per-group evaluation report collects one " +
          "row per group per artifact to the driver; group on a " +
          "low-cardinality column (source, language), not an id")
      val tuples = rs.map { r =>
        val nDocs = r.getAs[Long]("n_docs")
        val totalIds = r.getAs[Long]("total_ids")
        (name, algo, if (groupCol.isDefined) r.getAs[String]("g") else "",
          nDocs, r.getAs[Long]("text_bytes"), totalIds,
          if (nDocs == 0) 0.0 else totalIds.toDouble / nDocs,
          if (totalIds == 0) 0.0 else r.getAs[Long]("text_bytes").toDouble / totalIds,
          r.getAs[Long]("roundtrip_ok"), r.getAs[Long]("fallback_ids"))
      }.toSeq
      (name, algo, tuples)
    }
    val rows = perSpec.flatMap(_._3)
    import spark.implicits._
    val allCols = Seq("name", "algo", "group", "n_docs", "text_bytes", "total_ids",
      "ids_per_doc", "bytes_per_id", "roundtrip_ok", "fallback_ids")
    val report0 = rows.toDF(allCols: _*)
    val report = if (groupCol.isDefined) report0 else report0.drop("group")
    report.coalesce(1).write.mode("overwrite").parquet(reportDir)
    // per-SPEC totals (the gate unit and the log line — identical to the
    // ungrouped report row by sum-decomposition; keyed per spec, so two
    // artifacts sharing a name never merge, and an empty grouped
    // aggregate logs honest zeros instead of crashing)
    val totals = perSpec.map { case (nm, al, ws) =>
      (nm, al, ws.map(_._4).sum, ws.map(_._6).sum, ws.map(_._9).sum, ws.map(_._10).sum)
    }
    totals.foreach { case (nm, al, nd, ti, rt, fb) =>
      Cli.log(f"evaluate $nm ($al): $ti ids over $nd docs, " +
        f"round-trip $rt/$nd, fallback ids $fb" +
        (if (groupCol.isDefined) s" (per-${groupCol.get} rows in the report)" else ""))
    }
    Cli.log(s"tokenizer evaluation report written to $reportDir")
    if (c.getBoolean("require-lossless").getOrElse(false)) {
      totals.filter(_._2 != "wordpiece").foreach { case (nm, al, nd, _, rt, _) =>
        require(rt == nd,
          s"tokenizer evaluate GATE failed: artifact '$nm' ($al) " +
            s"round-trips only $rt/$nd docs — not lossless on this corpus")
      }
    }
  }

  /** `algo = unigram`: train [[graft.llm.UnigramTrainer]] to
    * `target-pieces` (alphabet singles always kept), save the TSV model
    * at `model-path`, and self-check totality + losslessness on a
    * digest-ordered sample through the `graft_unigram_*` expressions. */
  private def runUnigram(spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig, docs: org.apache.spark.sql.DataFrame,
      textCol: String, maxWords: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import graft.llm.UnigramTrainer
    val target = c.getInt("target-pieces").getOrElse(throw new IllegalArgumentException(
      "tokenizer.target-pieces is required for algo = unigram"))
    val maxPieceLen = c.getInt("max-piece-len").getOrElse(8)
    val modelPath = c.string("model-path")
    val seedSz = c.getInt("seed-size").getOrElse(0)
    val minCnt = c.getInt("min-count").getOrElse(2).toLong
    // `model-checkpoint-path`: crash resume for the multi-hour
    // distributed EM runs — the exact protocol the BPE trainer's
    // merges-checkpoint uses (Hadoop-FS existence; write .tmp, rename
    // the live file ASIDE, promote, drop the aside — every step leaves
    // a COMPLETE checkpoint under cp or cp.old). The checkpoint is a
    // ROUND-BOUNDARY (pieces, scores, counts) state, so resuming
    // continues at the next prune and reproduces the uninterrupted
    // run; a parameter record in the header refuses resumption under
    // different training knobs, loudly.
    val ckptPath = c.getString("model-checkpoint-path")
    val hconf = spark.sparkContext.hadoopConfiguration
    def fsExists(pth: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(pth)
      hp.getFileSystem(hconf).exists(hp)
    }
    val paramRecord = s"target=$target;maxPieceLen=$maxPieceLen;" +
      s"seedSize=$seedSz;minCount=$minCnt;maxWords=$maxWords"
    val resume: Option[UnigramTrainer.TrainState] = ckptPath.flatMap { cp =>
      val src =
        if (fsExists(cp)) Some(cp)
        else if (fsExists(cp + ".old")) Some(cp + ".old")
        else None
      src.map { sp =>
        val (st, params) = UnigramTrainer.loadCheckpoint(spark, sp)
        require(params == paramRecord,
          s"unigram checkpoint at $sp was written under '$params' but this run " +
            s"is '$paramRecord' — stale checkpoint from another configuration; " +
            "delete it to retrain")
        Cli.log(s"resuming unigram training from ${st.pieces.length} " +
          s"checkpointed pieces at $sp")
        st
      }
    }
    val onRound: UnigramTrainer.TrainState => Unit = ckptPath match {
      case Some(cp) => st => {
        import org.apache.hadoop.fs.Path
        val tmpCp = cp + ".tmp"
        UnigramTrainer.saveCheckpoint(spark, tmpCp, st, paramRecord)
        val pth = new Path(cp)
        val old = new Path(cp + ".old")
        val fs = pth.getFileSystem(hconf)
        if (fs.exists(old)) fs.delete(old, false): Unit
        if (fs.exists(pth)) require(fs.rename(pth, old),
          s"could not retire unigram checkpoint $cp -> $old")
        require(fs.rename(new Path(tmpCp), pth),
          s"could not promote unigram checkpoint $tmpCp -> $cp")
        fs.delete(old, false): Unit
      }
      case None => _ => ()
    }
    Cli.log(s"training unigram model ($target pieces, max piece length " +
      s"$maxPieceLen, distributed above $maxWords words)...")
    val pieces = UnigramTrainer.train(docs.select(col(textCol)), textCol,
      targetPieces = target, maxPieceLen = maxPieceLen,
      seedSize = seedSz, minCount = minCnt,
      maxWords = maxWords, resume = resume, onRound = onRound)
    UnigramTrainer.save(spark, modelPath, pieces)
    Cli.log(s"saved ${pieces.size}-piece unigram model -> $modelPath")
    val nVerify = c.getInt("verify-docs").getOrElse(100)
    if (nVerify > 0) {
      val sample = docs.select(col(textCol).as("t")).filter(col("t").isNotNull)
        .orderBy(graft.operators.Ops.hashDigestCol(col("t"), "tokverify"))
        .limit(nVerify)
      val r = sample
        .withColumn("ids", GraftFunctions.unigramEncodeLossless(col("t"), modelPath))
        .agg(count(lit(1)),
          count(when(GraftFunctions.unigramDecode(col("ids"), modelPath) === col("t"), 1)),
          coalesce(sum(size(filter(col("ids"), i => i === 0))), lit(0L))).head()
      val (n, ok, unks) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(ok == n && unks == 0L,
        s"tokenizer self-check FAILED: $ok/$n sampled docs round-trip, $unks <unk> " +
          s"ids — the unigram model at $modelPath is not total/lossless on this corpus")
      Cli.log(s"self-check: $n/$n sampled docs round-trip byte-exactly, zero <unk>")
    }
  }

  /** `algo = wordpiece`: train [[graft.llm.WordPieceTrainer]] to
    * `vocab-size` (likelihood-scored merges), save the published
    * `vocab.txt` at `vocab-path`, and self-check the STRUCTURAL
    * round-trip plus report the sample [UNK] rate (WordPiece is lossy
    * by design — the rate is operational evidence, not a gate). */
  private def runWordPiece(spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig, docs: org.apache.spark.sql.DataFrame,
      textCol: String, maxWords: Int, batchK: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import graft.llm.WordPieceTrainer
    val vocabSize = c.getInt("vocab-size").getOrElse(throw new IllegalArgumentException(
      "tokenizer.vocab-size is required for algo = wordpiece"))
    val vocabPath = c.string("vocab-path")
    val specials = c.getList("special-tokens").getOrElse(WordPieceTrainer.DefaultSpecials)
    Cli.log(s"training wordpiece vocab ($vocabSize tokens, " +
      s"distributed above $maxWords words)...")
    val vocab = WordPieceTrainer.learnVocab(docs.select(col(textCol)), textCol,
      vocabSize, specials, maxWords, batchK,
      c.getInt("checkpoint-every").getOrElse(12))
    WordPieceTrainer.save(spark, vocabPath, vocab)
    Cli.log(s"saved ${vocab.size}-token wordpiece vocab " +
      s"(${specials.size} specials at the head) -> $vocabPath")
    val nVerify = c.getInt("verify-docs").getOrElse(100)
    if (nVerify > 0) {
      val sample = docs.select(col(textCol).as("t")).filter(col("t").isNotNull)
        .orderBy(graft.operators.Ops.hashDigestCol(col("t"), "tokverify"))
        .limit(nVerify)
      val unkId = vocab.indexOf("[UNK]")
      val r = sample
        .withColumn("ids", GraftFunctions.wordPieceEncode(col("t"), vocabPath))
        .agg(count(lit(1)),
          count(when(GraftFunctions.wordPieceRoundtrip(col("t"), vocabPath) === col("t"), 1)),
          coalesce(sum(size(filter(col("ids"), i => i === unkId))), lit(0L)),
          coalesce(sum(size(col("ids"))), lit(0L))).head()
      val (n, ok, unks, total) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      require(ok == n,
        s"tokenizer self-check FAILED: $ok/$n sampled docs survive the structural " +
          s"round-trip — the vocab at $vocabPath broke the walker/join contract")
      Cli.log(f"self-check: $n/$n sampled docs round-trip structurally; " +
        f"[UNK] rate ${if (total == 0) 0.0 else unks.toDouble / total}%.4f ($unks/$total ids)")
    }
  }

  /** `algo = bpe | bpe-byte`: the original merge-table trainer. */
  private def runBpe(spark: org.apache.spark.sql.SparkSession,
      c: graft.conf.GraftConfig, docs: org.apache.spark.sql.DataFrame,
      textCol: String, maxWords: Int, batchK: Int, byteLevel: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import graft.llm.BpeTrainer
    val numMerges = c.getInt("num-merges").getOrElse(throw new IllegalArgumentException(
      "tokenizer.num-merges is required"))
    val mergesPath = c.string("merges-path")
    val vocabPath = c.string("vocab-path")
    Cli.log(s"training ${if (byteLevel) "byte-level" else "segment-level"} BPE " +
      s"($numMerges merges, distributed above $maxWords words)...")
    val df = docs.select(col(textCol))
    // `merges-checkpoint-path`: crash resume for the multi-hour
    // distributed runs. The trainer's progress hook persists the
    // merges-so-far (write .tmp, rename the live file ASIDE, promote
    // the .tmp, then drop the aside — every step leaves a COMPLETE
    // checkpoint under cp or cp.old, so a crash at any point resumes)
    // every lineage-checkpoint round; on restart an existing file
    // seeds `resumeFrom` and the loop continues from that round
    // boundary (identical final merges under the same corpus and
    // batch-k). In-heap runs (below max-words) ignore resume — they
    // are fast enough to just retrain. Existence goes through the
    // Hadoop FileSystem API like every state read here: a java.io.File
    // probe is always false on HDFS/S3 — exactly the multi-hour
    // distributed deployments resume exists for.
    val ckptPath = c.getString("merges-checkpoint-path")
    val hconf = spark.sparkContext.hadoopConfiguration
    def fsExists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).exists(hp)
    }
    // crash window between rename-aside and promote: only cp.old is
    // complete — never the .tmp, whose own write may have crashed
    val resumeSource: Option[String] = ckptPath.flatMap { cp =>
      if (fsExists(cp)) Some(cp)
      else if (fsExists(cp + ".old")) Some(cp + ".old")
      else None
    }
    val resumeFrom: Seq[(String, String)] = resumeSource match {
      case Some(src) =>
        val prior = BpeTrainer.loadMerges(spark, src)
        require(prior.size <= numMerges,
          s"checkpoint at $src carries ${prior.size} merges > num-merges $numMerges — " +
            "stale checkpoint from another configuration; delete it to retrain")
        Cli.log(s"resuming from ${prior.size} checkpointed merges at $src")
        prior
      case None => Nil
    }
    val onProgress: Seq[(String, String)] => Unit = ckptPath match {
      case Some(cp) => ms => {
        import org.apache.hadoop.fs.Path
        val tmpCp = cp + ".tmp"
        BpeTrainer.saveMerges(spark, tmpCp, ms)
        val p = new Path(cp)
        val old = new Path(cp + ".old")
        val fs = p.getFileSystem(hconf)
        // never delete-then-rename: that window has NO checkpoint. The
        // previous checkpoint moves aside, stays loadable until the
        // fresh one is live, then retires.
        if (fs.exists(old)) fs.delete(old, false): Unit
        if (fs.exists(p)) require(fs.rename(p, old),
          s"could not retire merge checkpoint $cp -> $old")
        require(fs.rename(new Path(tmpCp), p),
          s"could not promote merge checkpoint $tmpCp -> $cp")
        fs.delete(old, false): Unit
      }
      case None => _ => ()
    }
    val ckptEvery = c.getInt("checkpoint-every").getOrElse(12)
    val merges =
      if (byteLevel) BpeTrainer.learnByteMerges(df, textCol, numMerges, maxWords,
        batchK, resumeFrom, onProgress, ckptEvery)
      else BpeTrainer.learnMerges(df, textCol, numMerges, maxWords,
        batchK, resumeFrom, onProgress, ckptEvery)
    val baseVocab =
      if (byteLevel) BpeTrainer.buildByteVocab(merges)
      else BpeTrainer.buildVocab(df, textCol, merges)
    // `special-tokens`: protected spellings appended at the vocab TAIL
    // in declaration order — fixed ids (line numbers past the learned
    // vocab) stable across re-encodes of this artifact; encode carves
    // them out before pretokenization (never merged across), decode
    // reproduces the spelling. Byte-level spellings must stay inside
    // the printable byte alphabet (ASCII `<|endoftext|>`-class ones do;
    // the vocab loader rejects others at load, loudly).
    val specials = c.getList("special-tokens").getOrElse(Nil)
    specials.foreach { sp =>
      require(sp.nonEmpty && !sp.exists(_.isWhitespace),
        s"tokenizer.special-tokens entry '$sp' must be non-empty, whitespace-free")
      require(!baseVocab.contains(sp),
        s"tokenizer.special-tokens entry '$sp' collides with a learned vocab token")
    }
    val vocab = baseVocab ++ specials
    BpeTrainer.saveMerges(spark, mergesPath, merges)
    BpeTrainer.saveVocab(spark, vocabPath, vocab)
    Cli.log(s"saved ${merges.length} merges -> $mergesPath; " +
      s"${vocab.size}-token vocab (${specials.size} specials at the tail) -> $vocabPath")
    val nVerify = c.getInt("verify-docs").getOrElse(100)
    if (nVerify > 0) {
      val sample = docs.select(col(textCol).as("t")).filter(col("t").isNotNull)
        .orderBy(graft.operators.Ops.hashDigestCol(col("t"), "tokverify"))
        .limit(nVerify)
      val enc =
        if (byteLevel) GraftFunctions.bpeByteEncode(col("t"), mergesPath, vocabPath, specials)
        else GraftFunctions.bpeEncodeLossless(col("t"), mergesPath, vocabPath, specials)
      def dec(ids: org.apache.spark.sql.Column) =
        if (byteLevel) GraftFunctions.bpeByteDecode(ids, vocabPath)
        else GraftFunctions.bpeDecode(ids, vocabPath)
      val r = sample.withColumn("ids", enc)
        .agg(count(lit(1)),
          count(when(dec(col("ids")) === col("t"), 1)),
          coalesce(sum(size(filter(col("ids"), i => i === 0))), lit(0L))).head()
      val (n, ok, unks) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(ok == n && unks == 0L,
        s"tokenizer self-check FAILED: $ok/$n sampled docs round-trip, $unks <unk> " +
          s"ids — the artifacts at $mergesPath / $vocabPath are not total/lossless " +
          "on this corpus")
      Cli.log(s"self-check: $n/$n sampled docs round-trip byte-exactly, zero <unk>")
      // specials self-check: each declared spelling, planted mid-text,
      // must encode to EXACTLY its fixed tail id (never split) and
      // round-trip — asserted on a synthetic doc so it holds even when
      // the corpus itself never contains the spelling
      specials.zipWithIndex.foreach { case (sp, i) =>
        val wantId = baseVocab.size + i
        val planted = s"before $sp after"
        val row = spark.range(1).select(lit(planted).as("t"))
          .select(enc.as("ids"), dec(enc).as("back")).head()
        val ids = row.getSeq[Int](0)
        require(ids.count(_ == wantId) == 1,
          s"special '$sp' did not encode to exactly one id $wantId: $ids")
        require(row.getString(1) == planted,
          s"special '$sp' broke the round-trip: '${row.getString(1)}'")
      }
      if (specials.nonEmpty)
        Cli.log(s"self-check: ${specials.size} special tokens encode to their " +
          s"fixed tail ids (${baseVocab.size}..${vocab.size - 1}) and round-trip")
    }
  }
}

/** `indexer` (north-star, no reference counterpart): build or grow a
  * persisted ANN index over an embeddings table — the operational
  * surface of the Similarity stack (IVF cells, optional PQ codes).
  *
  * Config keys under `index { }`:
  *  - `embeddings-dir` (parquet), `index-dir` (the index root)
  *  - `mode = build | append` — build trains the KMeans cells (and the
  *    PQ codebook when `pq-m`/`pq-k` are set) and lays the corpus out
  *    partitioned BY CELL; append tags new vectors with the EXISTING
  *    centroids and encodes with the EXISTING codebook — no
  *    retraining, only the touched cell directories gain files
  *  - `num-cells` (default 16), `kmeans-max-iter` (default 20),
  *    `id-column` (default vec_id), `vector-column` (default embedding)
  *  - `pq-m`/`pq-k`: also persist byte-sized PQ codes per cell plus the
  *    codebook artifact — probes then scan codes, not raw floats
  *  - `recall-queries` (default 0): after commit, report IVF(-PQ)
  *    recall-vs-brute over that many digest-sampled queries to
  *    `index-dir/recall` (+ `recall-k`/`recall-nprobe`/
  *    `recall-oversample`) — the monitor that tells an operator when
  *    drift warrants a rebuild; `min-recall` turns it into a GATE
  *    (report lands first, then a breach exits nonzero)
  *  - `mode = compact` (+ `target-files-per-cell`, default 1): index
  *    upkeep — every append leaves one file per batch per touched
  *    cell, so probe scans accumulate file opens; compact rewrites
  *    each cell directory holding more than the target back down to
  *    it (corpus + PQ codes in one marker window, IO bounded by the
  *    rewritten cells, tight cells skipped without reading a row)
  *  - `mode = monitor` (requires `recall-queries` and `min-recall`):
  *    the scheduled form of that gate — measure, report, and on a
  *    breach either exit nonzero (default) or, with
  *    `rebuild-on-breach = true`, RETRAIN cells (and codebook) from
  *    the grown corpus into `<index-dir>.rebuild` under a fresh marker
  *    window, measure the candidate, then atomically swap: the old
  *    index retires to `<index-dir>.retired`, the rebuild takes its
  *    place. The swap commits even if the rebuilt recall still misses
  *    the floor (the rebuild is strictly better data layout; the
  *    operator is alerted by the nonzero exit either way).
  *
  * Durability is the [[graft.llm.Similarity.ivfEnsure]] marker
  * protocol: `_BUILT` comes down before an append and back up after,
  * so a crash mid-append leaves an index the protocol refuses instead
  * of one silently holding an unknown subset of the increment. A crash
  * between the two swap renames leaves `<index-dir>` missing with both
  * `.retired` and `.rebuild` intact — loudly recoverable by renaming
  * either into place, never a silent half-index. */
object Indexer {
  def main(args: Array[String]): Unit = Cli.run("indexer", args) { (conf, spark) =>
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import graft.llm.Similarity
    val c = conf.at("index")
    def embDir = c.string("embeddings-dir") // monitor runs without it
    val indexDir = c.string("index-dir")
    val idCol = c.getString("id-column").getOrElse("vec_id")
    val vecCol = c.getString("vector-column").getOrElse("embedding")
    val numCells = c.getInt("num-cells").getOrElse(16)
    val maxIter = c.getInt("kmeans-max-iter").getOrElse(20)
    val pqM = c.getInt("pq-m")
    val pqK = c.getInt("pq-k")
    require(pqM.isDefined == pqK.isDefined,
      "index.pq-m and index.pq-k must be set together")
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new Path(indexDir, "_BUILT")
    val fs = marker.getFileSystem(hconf)
    val codesPath = new Path(indexDir, "codes")
    // a def, not a val: mode=monitor never reads the embeddings source
    // (it judges — and rebuilds from — what the index already holds), so
    // a scheduled monitor must keep working after the original export is
    // gone and without `embeddings-dir` in its config (review finding)
    def emb = spark.read.parquet(embDir).select(col(idCol), col(vecCol))
    // one build routine for mode=build AND the monitor's
    // rebuild-on-breach path, so the rebuild is structurally the
    // already-tested build (PQ included), just aimed at another dir
    def buildInto(target: String, source: org.apache.spark.sql.DataFrame,
        cells: Int): Long = {
      val (model, tagged0) = Similarity.ivfBuild(source, cells, vecCol, maxIter = maxIter)
      val tagged = tagged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Similarity.ivfSave(model, tagged, target)
        pqM.foreach { m =>
          val cb = Similarity.pqTrain(tagged, m, pqK.get, vecCol, maxIter = maxIter)
          Similarity.pqSave(cb, spark, s"$target/pq/codebook")
          Similarity.pqEncode(tagged, cb, idCol, vecCol)
            .join(tagged.select(col(idCol), col("cell")), Seq(idCol))
            .write.mode("overwrite").partitionBy("cell").parquet(s"$target/codes")
        }
        fs.create(new Path(target, "_BUILT"), true).close()
        tagged.count()
      } finally tagged.unpersist(blocking = false)
    }
    // recall measurement + report against the index at `dir`; returns
    // the average (None when recall-queries = 0)
    def runRecall(dir: String): Option[Double] = {
      val nQ = c.getInt("recall-queries").getOrElse(0)
      if (nQ == 0) None
      else {
        val (model, corpus) = Similarity.ivfLoad(spark, dir)
        val cells = model.clusterCenters.length
        val k = c.getInt("recall-k").getOrElse(10)
        val nprobe = c.getInt("recall-nprobe").getOrElse(math.max(1, cells / 4))
        // deterministic hash-ordered sample over the WHOLE corpus: an
        // id-ordered prefix would always probe the oldest (build-time)
        // vectors and never observe drift in appended data — the one
        // thing the monitor exists to catch (review finding)
        val queries = corpus.select(col(idCol), col(vecCol))
          .orderBy(graft.operators.Ops.hashDigestCol(col(idCol), "recall"), col(idCol))
          .limit(nQ)
        val brute = Similarity.bruteForceTopK(queries, corpus, k, idCol, vecCol)
          .select("query_id", "neighbor_id")
        val dirCodes = new Path(dir, "codes")
        val probe =
          if (fs.exists(dirCodes)) {
            val cb = Similarity.pqLoad(spark, s"$dir/pq/codebook")
            Similarity.ivfPqTopK(queries, spark.read.parquet(dirCodes.toString),
              model, cb, corpus, k, nprobe,
              oversample = c.getInt("recall-oversample").getOrElse(5), idCol, vecCol)
          } else Similarity.ivfTopK(queries, corpus, model, k, nprobe, idCol, vecCol)
        val recall = Similarity.probeRecall(brute, probe.select("query_id", "neighbor_id"))
          .persist()
        recall.coalesce(1).write.mode("overwrite").parquet(s"$dir/recall")
        val avgR = recall.agg(avg("recall")).head.getDouble(0)
        recall.unpersist()
        Cli.log(f"index recall@$k (nprobe=$nprobe): avg $avgR%.4f over $nQ " +
          s"queries -> $dir/recall")
        Some(avgR)
      }
    }
    c.getString("mode").getOrElse("build") match {
      case "build" =>
        require(!fs.exists(marker),
          s"index at '$indexDir' is already built — use mode = append, " +
            "or point at a fresh dir")
        val n = buildInto(indexDir, emb, numCells)
        Cli.log(s"index built at $indexDir: $n vectors, " +
          s"$numCells cells" + pqM.map(m => s", PQ $m×${pqK.get}").getOrElse(""))
      case "append" =>
        require(fs.exists(marker),
          s"no committed index at '$indexDir' (_BUILT missing)")
        val hasCodes = fs.exists(codesPath)
        require(hasCodes == pqM.isDefined,
          if (pqM.isDefined)
            "index.pq-m/pq-k set, but the index was built without PQ codes"
          else
            "the index holds PQ codes — append must carry index.pq-m/pq-k " +
              "so the code table stays complete")
        // validate the codebook BEFORE touching the index: a config
        // mismatch must be a clean no-op failure, never a half-appended
        // corpus with the marker already down (review finding)
        val cbOpt = pqM.map { m =>
          val cb = Similarity.pqLoad(spark, s"$indexDir/pq/codebook")
          require(cb.m == m && cb.k == pqK.get,
            s"index.pq-m/pq-k ($m/${pqK.get}) do not match the saved " +
              s"codebook (${cb.m}/${cb.k})")
          cb
        }
        val model = org.apache.spark.ml.clustering.KMeansModel.load(s"$indexDir/kmeans")
        // corpus append + PQ-code append share ONE marker window — the
        // protocol lives in ivfAppend, the codes ride its hook
        Similarity.ivfAppend(model, emb, indexDir, vecCol, inWindow = tagged =>
          cbOpt.foreach { cb =>
            Similarity.pqEncode(tagged, cb, idCol, vecCol)
              .join(tagged.select(col(idCol), col("cell")), Seq(idCol))
              .write.mode("append").partitionBy("cell").parquet(codesPath.toString)
          })
        Cli.log(s"appended ${emb.count()} vectors to $indexDir")
      case "compact" =>
        // index-layout upkeep (the Compactor's job for the INDEX
        // rather than state tables): every append lands one file per
        // batch per touched cell, so after N appends a cell directory
        // holds N small files and probe scans pay N file opens. Each
        // cell with more than `target-files-per-cell` data files is
        // rewritten to exactly that many — corpus and (when present)
        // PQ codes in the SAME marker window. IO is O(rewritten
        // cells), never the index: tight cells are skipped by the
        // file-count check, no rows are read for them. Crash-safe by
        // the append protocol: _BUILT is down for the whole window, so
        // a crash mid-rewrite leaves an index ivfEnsure refuses; the
        // per-cell tmp dir is dot-prefixed (reader-invisible) and
        // promoted by rename only after its rewrite completes.
        require(fs.exists(marker),
          s"no committed index at '$indexDir' (_BUILT missing)")
        val targetFiles = c.getInt("target-files-per-cell").getOrElse(1)
        require(targetFiles >= 1,
          s"index.target-files-per-cell must be >= 1, got $targetFiles")
        val tables = Seq("corpus") ++ (if (fs.exists(codesPath)) Seq("codes") else Nil)
        fs.delete(marker, false)
        var rewrote = 0
        var tight = 0
        tables.foreach { tbl =>
          val tdir = new Path(indexDir, tbl)
          fs.listStatus(tdir)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
            .foreach { st =>
              val nFiles = fs.listStatus(st.getPath)
                .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
              if (nFiles > targetFiles) {
                val tmp = new Path(tdir, s".compact-${st.getPath.getName}")
                if (fs.exists(tmp)) fs.delete(tmp, true): Unit
                spark.read.parquet(st.getPath.toString)
                  .coalesce(targetFiles)
                  .write.mode("overwrite").parquet(tmp.toString)
                require(fs.delete(st.getPath, true),
                  s"could not remove '${st.getPath}' for compaction")
                require(fs.rename(tmp, st.getPath),
                  s"could not promote '$tmp' to '${st.getPath}'")
                rewrote += 1
              } else tight += 1
            }
        }
        fs.create(marker, true).close()
        Cli.log(s"compacted index at $indexDir: $rewrote cell dir(s) " +
          s"rewritten to <= $targetFiles file(s) across ${tables.mkString("+")}" +
          s" ($tight already tight)")
      case "monitor" =>
        // the scheduled recall gate, optionally self-healing: the
        // embeddings source is NOT read — the monitor judges (and
        // rebuilds from) what the index already holds
        require(fs.exists(marker),
          s"no committed index at '$indexDir' (_BUILT missing)")
        val floor = c.getDouble("min-recall").getOrElse(
          throw new IllegalArgumentException(
            "index.mode = monitor needs index.min-recall (the gate floor)"))
        require(c.getInt("recall-queries").exists(_ > 0),
          "index.mode = monitor needs index.recall-queries > 0")
        val avgR = runRecall(indexDir).get
        if (avgR >= floor) Cli.log(f"recall $avgR%.4f >= $floor — index healthy")
        else if (!c.getString("rebuild-on-breach").exists(_.toBoolean))
          throw new IllegalStateException(
            f"index recall $avgR%.4f below the $floor gate — centroids/" +
              "codebook no longer fit the data; rebuild the index " +
              "(or set index.rebuild-on-breach = true)")
        else {
          Cli.log(f"recall $avgR%.4f below $floor — retraining from the " +
            "grown corpus")
          val rebuildDir = new Path(s"$indexDir.rebuild")
          if (fs.exists(rebuildDir)) fs.delete(rebuildDir, true): Unit
          // the rebuild SOURCE is the persisted index corpus; all reads
          // materialize into the rebuild dir before any rename below
          val (liveModel, corpus) = Similarity.ivfLoad(spark, indexDir)
          // cell geometry defaults to the LIVE index's, not the config
          // default — a gate-knobs-only monitor config must never
          // silently retrain a 256-cell index down to 16 cells (review
          // finding); set index.num-cells explicitly to re-shape
          val rebuildCells = c.getInt("num-cells")
            .getOrElse(liveModel.clusterCenters.length)
          val n = buildInto(rebuildDir.toString,
            corpus.select(col(idCol), col(vecCol)), rebuildCells)
          // judge the candidate BEFORE the swap; its report rides it
          val avg2 = runRecall(rebuildDir.toString).get
          // swap: retire the old index, promote the rebuild. Two
          // renames — a crash in between leaves .retired + .rebuild
          // intact and index-dir missing (loudly recoverable), never a
          // silent half-index
          val retired = new Path(s"$indexDir.retired")
          if (fs.exists(retired)) fs.delete(retired, true): Unit
          require(fs.rename(new Path(indexDir), retired),
            s"could not retire '$indexDir' to '$retired'")
          require(fs.rename(rebuildDir, new Path(indexDir)),
            s"could not promote '$rebuildDir' to '$indexDir' — the old " +
              s"index is at '$retired'")
          Cli.log(f"index rebuilt and swapped at $indexDir: $n vectors, " +
            f"$rebuildCells cells, recall $avgR%.4f -> $avg2%.4f " +
            s"(old index retired to $retired)")
          // the swap stays committed either way (a retrained layout is
          // strictly fresher); a floor still missed means the CONFIG no
          // longer fits the data — alert the scheduler
          if (avg2 < floor)
            throw new IllegalStateException(
              f"rebuilt index committed, but recall $avg2%.4f is still " +
                f"below the $floor gate — raise num-cells/nprobe or " +
                "revisit PQ parameters")
        }
      case other => throw new IllegalArgumentException(
        s"unknown index.mode '$other' (build|append|compact|monitor)")
    }
    if (c.getString("mode").getOrElse("build") != "monitor") {
      // build/append: measure after commit; `min-recall` is the gate —
      // the report is already on disk, so a breach exits nonzero for
      // schedulers to alert on (the Differ's max-drift convention)
      runRecall(indexDir).foreach { avgR =>
        c.getDouble("min-recall").foreach { floor =>
          if (avgR < floor)
            throw new IllegalStateException(
              f"index recall $avgR%.4f below the $floor gate — centroids/" +
                "codebook no longer fit the data; rebuild the index")
        }
      }
    }
  }
}

/** `mediadedup` (north-star, no reference counterpart): perceptual
  * near-duplicate detection and removal over a MEDIA table — the
  * operational surface of the modality fingerprint stack
  * ([[graft.llm.Multimodal]]: image dHash, audio spectral hash,
  * frame-aligned video dHash), all riding the shared banded near-dup
  * engine (never all-pairs).
  *
  * Config under `media-dedup { }`:
  *  - `source { }` — the media table (asset_id/content/meta layout;
  *    `id-column`/`content-column`/`meta-column` rename);
  *  - `modality = image | audio | video` (required — selects the
  *    decoder: javax.imageio, javax.sound, or the RIFF/AVI parser);
  *  - `max-hamming` (default 3; video default 5), `bands` (default 4 —
  *    16-bit bucket keys everywhere; wide radii run multi-probed via
  *    `probe`, derived automatically, instead of forcing narrow
  *    guard-saturating bands), `max-bucket-size` (default 10000), and
  *    for video `min-frames` (default 2) + `every-n` frame sampling
  *    (default 1);
  *  - `image-hash = dhash | dct` (default dhash): the image kernel —
  *    `dct` (pHash) holds blur / heavy-re-quantization twins dHash
  *    cannot, typically at `max-hamming = 7` multi-probed over 4 bands
  *    (`probe`, derived automatically), but is corpus-dependent
  *    (degenerate on low-texture corpora: run calibrate first).
  *    Applies to the scalar lineage and the dihedral rotation tier
  *    (blur+rotate composites measured separable only under pHash);
  *    the CROP tier refuses it — degraded crops separate under
  *    neither kernel (the measured negative), keep crops on dHash
  *    with verify-pairs. Each dct state carries its own `image-dct` /
  *    `image-dihedral-dct` fingerprint line. `dct256` (round 15) is
  *    the WIDE 256-bit pHash lineage for corpora past ~10^8 images —
  *    sixteen 16-bit bands at `max-hamming = 15`, probe 0 (PerfProbe
  *    20: every legal 64-bit geometry saturates the guard at this
  *    radius; the wide one holds full recall), 32 B/signature state
  *    under its own `image-dct256|sigBits=256|…` fingerprint line;
  *    scalar image lineage only, batch-side (the streaming arrival
  *    filter refuses the lineage by fingerprint);
  *  - `pairs-dir` — the near-dup pair report (always written when set:
  *    operators need the evidence before trusting the drop);
  *  - `mode = report | filter` (default report): `filter` collapses
  *    each transitive near-dup cluster ([[graft.llm.Dedup
  *    .connectedComponents]]) to its MINIMUM id and writes the
  *    surviving rows to `target { }` — the curation semantics every
  *    text dedup tier here uses;
  *  - INCREMENTAL mode (the daily-arrivals shape): `state-dir` points
  *    at a previous run's `state-out-dir` — batch assets near a STORED
  *    fingerprint drop too, and `state-out-dir` receives old state ∪
  *    the survivors' own fingerprints for the next increment
  *    (alternate A/B dirs between runs). The state carries a
  *    modality + band-geometry fingerprint line; a drifted lineage is
  *    rejected loudly, never silently under-matched. Signatures are
  *    computed in ONE decode pass and all joins are sig-level — the
  *    stored corpus is never re-decoded;
  *  - robustness TIERS: audio `windowed` (+ `window-frames`/`hop`/
  *    `min-windows`) pairs trimmed/offset copies via offset-consistent
  *    sub-fingerprints; video `shift-tolerant` pairs temporally
  *    shifted clips over the SAME frame-sig state; image `crop-tier`
  *    (+ `min-slots`) pairs center crops via the ten-tile slot-aligned
  *    join — each with its own state fingerprint line where the state
  *    SHAPE differs;
  *  - `card-dir` writes the media data card in any mode; `mode =
  *    calibrate` (+ `calibrate-sample`/`calibrate-report-dir`/
  *    `calibrate-require-separation`) reports per-corpus twin vs
  *    stranger Hamming evidence for the configured radius; `max-hamming
  *    = auto` then CLOSES the loop in report/filter mode — the radius
  *    is derived from that report (max-margin midpoint of the
  *    twin/stranger gap), failing loudly when no gap exists. */
object MediaDedup {
  def main(args: Array[String]): Unit = Cli.run("mediadedup", args) { (conf, spark) =>
    import org.apache.spark.sql.functions._
    import graft.llm.{Dedup, Multimodal}
    val c = conf.at("media-dedup")
    val media = graft.sources.DataIO.read(spark, c.at("source"))
    val idCol = c.getString("id-column").getOrElse("asset_id")
    val contentCol = c.getString("content-column").getOrElse("content")
    val metaCol = c.getString("meta-column").getOrElse("meta")
    val modality = c.string("modality")
    // `image-hash = dhash | dct` (default dhash): the scalar image
    // KERNEL. dct (pHash: 32×32 → 2-D DCT → 8×8 low block signs) holds
    // blur/heavy-re-quantization twins dHash cannot (MediaEnvelopeProbe:
    // dHash twin max 10 = stranger min 10 on the textured family — no
    // radius separates; pHash twins ≤ 8 vs strangers ≥ 13), but is
    // corpus-dependent (degenerate on low-texture corpora) — calibrate
    // mode is the arbiter, and dct typically runs wider (max-hamming 7,
    // multi-probed over 4 bands — see `probe` below). Scalar lineage
    // only: the tile/dihedral tier states are dHash kernels.
    val imageHash = c.getString("image-hash").getOrElse("dhash")
    require(Set("dhash", "dct", "dct256")(imageHash),
      s"media-dedup.image-hash must be dhash | dct | dct256, got '$imageHash'")
    require(imageHash == "dhash" || modality == "image",
      "media-dedup.image-hash selects the image kernel — audio/video " +
        "fingerprints are not DCT hashes")
    // dct defaults mirror the streaming cluster op: radius 7 (the
    // measured pHash twin envelope) over 4 bands of 16 bits with a
    // Hamming-<=1 multi-probe per band key. Round 13 ran 8 unprobed
    // bands here, whose 8-bit bucket keys (256 possible buckets per
    // band) saturated the hot-bucket guard beyond ~2.5M images and
    // silently lost all recall (PerfProbe 19 measures both
    // geometries); an existing bands=8 lineage's fingerprint line
    // still refuses the new default loudly — rebuild the state.
    val imageDct = modality == "image" && imageHash == "dct"
    // dct256 (round 15): the WIDE 256-bit pHash lineage — the remedy
    // the probe-depth refusal prescribes for corpora past ~10^8
    // images. SIXTEEN 16-bit bands at radius 15, probe 0 (measured
    // envelope on the wide-spectrum family: twin max 10, stranger min
    // 98 — MediaEnvelopeProbe; PerfProbe 20 measures every legal
    // 64-bit geometry's guard saturating at this radius while the
    // wide one holds 1000/1000 at 3M). Scalar image lineage only;
    // state is 32 B/signature (array<long>), batch-side — the
    // streaming arrival filter refuses the lineage by fingerprint.
    val imageWide = modality == "image" && imageHash == "dct256"
    // 4 bands of 16 bits everywhere (round 14): the old video default
    // of 8 bands meant 8-bit bucket keys — the same guard-saturation
    // scale-killer the dct tier had (256 possible buckets per band per
    // frame slot); the video radius 5 now runs multi-probed instead.
    // The wide lineage defaults to 16 bands (still 16-bit keys).
    val bands = c.getInt("bands").getOrElse(if (imageWide) 16 else 4)
    // `max-hamming = auto`: consume a PRIOR calibration report (mode =
    // calibrate writes the twin/stranger Hamming distributions to
    // calibrate-report-dir) instead of a hand-picked radius — the
    // max-margin midpoint of the gap between the worst twin and the
    // best stranger, failing loudly when the distributions leave no
    // gap (then NO radius separates this corpus and hand-tuning one
    // would silently buy false drops or misses — widen the fingerprint
    // instead). This closes the calibrate loop: measure, derive, run.
    val maxHammingAuto = c.getString("max-hamming").contains("auto")
    val maxHamming =
      if (maxHammingAuto) {
        val repDir = c.getString("calibrate-report-dir").getOrElse(
          throw new IllegalArgumentException(
            "media-dedup.max-hamming = auto derives the radius from a " +
              "calibration report — set calibrate-report-dir (and run " +
              "mode = calibrate first)"))
        val rows = spark.read.parquet(repDir)
          .select(org.apache.spark.sql.functions.col("kind"),
            org.apache.spark.sql.functions.col("hamming")).collect()
        def hs(kind: String) = rows.filter(_.getString(0) == kind).map(_.getInt(1))
        val twins = hs("twin")
        val strangers = hs("stranger")
        require(twins.nonEmpty,
          s"media-dedup.max-hamming = auto: calibration report at $repDir " +
            "holds no twin distances — rerun mode = calibrate")
        // no stranger rows = no negative evidence — a derived radius
        // would be an extrapolation from half the distribution
        require(strangers.nonEmpty,
          s"media-dedup.max-hamming = auto: calibration report at $repDir " +
            "holds no stranger distances — rerun mode = calibrate on a " +
            "sample large enough to include non-twin pairs")
        val twinMax = twins.max
        val strangerMin = strangers.min
        require(twinMax < strangerMin,
          s"media-dedup.max-hamming = auto: calibration at $repDir shows NO " +
            s"separating gap (twin max $twinMax >= stranger min $strangerMin) " +
            "— no radius separates this corpus's twins from its strangers; " +
            "widen the fingerprint (bands / a robustness tier), don't hand-pick")
        val r = (twinMax + strangerMin - 1) / 2
        // completeness (radius vs bands×(probe+1)) is checked below,
        // once the tier knobs and the probe depth are known — the
        // failure message there names auto when auto derived the radius
        Cli.log(s"max-hamming = auto: twin max $twinMax, stranger min " +
          s"$strangerMin -> radius $r (max-margin midpoint)")
        r
      } else c.getInt("max-hamming")
        .getOrElse(if (modality == "video") 5
          else if (imageWide) 15 else if (imageDct) 7 else 3)
    val maxBucket = c.getInt("max-bucket-size").getOrElse(10000)
    val minFrames = c.getInt("min-frames").getOrElse(2)
    require(Set("image", "audio", "video")(modality),
      s"media-dedup.modality must be image | audio | video, got '$modality'")
    // robustness TIERS (each widens the envelope the r11 fingerprints
    // documented as out of scope, riding the shared banded machinery):
    //  - audio `windowed = true`: overlapping sub-fingerprints matched
    //    by consistent offset — trims/offsets pair (q133's engine);
    //    `window-frames`/`hop`/`min-windows` set the geometry;
    //  - video `shift-tolerant = true`: the same per-frame hashes
    //    matched by consistent frame delta instead of frame-ALIGNED —
    //    prepended/dropped frames pair (q134's engine); signatures are
    //    unchanged, so the knob is query-time on an existing lineage;
    //  - image `crop-tier = true`: the ten-tile state frame + the
    //    slot-aligned crop-hypothesis join — center crops pair
    //    (q135's engine); `min-slots` gates the witnesses.
    val windowed = c.getBoolean("windowed").getOrElse(false)
    val shiftTolerant = c.getBoolean("shift-tolerant").getOrElse(false)
    val cropTier = c.getBoolean("crop-tier").getOrElse(false)
    val rotationTier = c.getBoolean("rotation-tier").getOrElse(false)
    require(!windowed || modality == "audio",
      "media-dedup.windowed is the audio trim tier — video shifts are " +
        "shift-tolerant, image crops crop-tier, rotations rotation-tier")
    require(!shiftTolerant || modality == "video",
      "media-dedup.shift-tolerant is the video tier — audio trims are 'windowed'")
    require(!cropTier || modality == "image",
      "media-dedup.crop-tier is the image tier")
    require(!rotationTier || modality == "image",
      "media-dedup.rotation-tier is the image tier")
    require(!(cropTier && rotationTier),
      "media-dedup.crop-tier and rotation-tier persist DIFFERENT state " +
        "shapes (tiles vs dihedral orientations) — run them as separate lineages")
    // dct pairs the SCALAR image lineage and (since round 14) the
    // DIHEDRAL rotation tier — MediaEnvelopeProbe measured blur+JPEG
    // rotated arrivals at pHash twin max 7 vs stranger min 16 (cleanly
    // separable at the dct radius) where dHash's margin thins to 7-8
    // vs 11-12. The CROP tier is the measured NEGATIVE: degraded crops
    // separate under NEITHER kernel (dHash twin max 14 vs stranger min
    // 7; pHash 22 vs 6 — cropping rewrites the global DCT spectrum),
    // so dct+crop is refused; degraded-crop recall needs a different
    // mechanism than a kernel swap (run crops on dHash + verify-pairs).
    require(imageHash == "dhash" || !cropTier,
      "media-dedup.image-hash = dct is the SCALAR image lineage (or the " +
        "dihedral rotation tier) — the crop tier's degraded arrivals " +
        "separate under NEITHER kernel (MediaEnvelopeProbe); run crops " +
        "on dHash with verify-pairs")
    require(imageHash != "dct256" || !rotationTier,
      "media-dedup.image-hash = dct256 is the SCALAR wide lineage — the " +
        "dihedral tier's 64-bit kernels (dhash | dct) cover rotations; a " +
        "wide dihedral state would be a new measured lineage, not a knob")
    val windowFrames = c.getInt("window-frames").getOrElse(2048)
    val hop = c.getInt("hop").getOrElse(512)
    val minWindows = c.getInt("min-windows").getOrElse(2)
    val minSlots = c.getInt("min-slots").getOrElse(4)
    val minWitnesses = c.getInt("min-witnesses").getOrElse(2)
    // `probe`: the MULTI-PROBE depth (Dedup.sigNearDups) — every tier
    // except crop is probe-capable (the crop tier's slot-aligned join
    // has its own semantics and its radius-3/4-band geometry never
    // needed a probe). Depth 1 lets a radius up to 2*bands-1 run on
    // wide (discriminating) bucket keys instead of forcing narrow
    // bands; the default derives the minimal complete depth from the
    // radius/band geometry, so the dct kernel's radius 7 and the video
    // tiers' radius 5 both run probed on 4x16-bit bands out of the
    // box. Matching-time only: signature state and hotcounts are
    // probe-agnostic.
    val probeCapable = !cropTier
    val probe = c.getInt("probe").getOrElse(
      if (probeCapable) maxHamming / bands else 0)
    val autoHint =
      if (maxHammingAuto) " (max-hamming = auto derived this radius from " +
        "the calibration report — raise media-dedup.bands or widen the " +
        "fingerprint, don't hand-pick a smaller radius)"
      else ""
    require(probe == 0 || probeCapable,
      "media-dedup.probe does not apply to the crop tier — its " +
        "slot-aligned join bands exactly (keep radius < bands)")
    require(probe <= 1,
      s"media-dedup: radius $maxHamming over $bands bands needs probe " +
        s"depth $probe, but only depth <= 1 is implemented — raise bands " +
        s"(a radius up to ${2 * bands - 1} runs at depth 1)$autoHint")
    require(maxHamming < bands * (probe + 1),
      s"media-dedup: radius $maxHamming is not pigeonhole-complete over " +
        s"$bands bands at probe depth $probe$autoHint")
    require(probeCapable || maxHamming < bands,
      s"media-dedup: the crop tier bands exactly — " +
        s"radius $maxHamming needs bands > $maxHamming$autoHint")
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(d: String): Path = {
      val p = new Path(d); p.getFileSystem(hconf).makeQualified(p)
    }
    def exists(p: Path): Boolean = p.getFileSystem(hconf).exists(p)
    def readSmall(p: Path): String = {
      val in = p.getFileSystem(hconf).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }
    // validate any incoming state's modality/geometry fingerprint UP
    // FRONT — a drifted lineage must fail before a single asset is
    // decoded, not after the batch paid the decode pass. A dir without
    // a fingerprint line (e.g. a TEXT-dedup state dir — its `sigs`
    // table name is the same) is refused by NAME, not by a confusing
    // read error downstream. Tier state SHAPES get their own lines
    // (windowed sub-sigs and tile sigs are not comparable to scalar
    // hashes); video shift-tolerance is matching-time over the same
    // frame sigs, so the video line is tier-free by design.
    val stateFp =
      if (windowed) s"audio-windowed|wf=$windowFrames|hop=$hop|bands=$bands|maxHamming=$maxHamming"
      else if (cropTier) s"image-tiles|bands=$bands|maxHamming=$maxHamming"
      else if (rotationTier && imageHash == "dct")
        s"image-dihedral-dct|bands=$bands|maxHamming=$maxHamming"
      else if (rotationTier) s"image-dihedral|bands=$bands|maxHamming=$maxHamming"
      else if (imageWide) // sig WIDTH is part of the lineage: a 64-bit
        // state and a 256-bit state have incomparable distances, and
        // graft_hamming's Int.MaxValue on mismatched word counts means
        // a silent mix would yield zero pairs — refuse by line instead
        s"image-dct256|sigBits=256|bands=$bands|maxHamming=$maxHamming"
      else if (modality == "image" && imageHash == "dct")
        s"image-dct|bands=$bands|maxHamming=$maxHamming"
      else s"$modality|bands=$bands|maxHamming=$maxHamming"
    val stateDir = c.getString("state-dir")
    val statePartsDir = c.getString("state-parts-dir")
    require(stateDir.isEmpty || stateDir != c.getString("state-out-dir"),
      "media-dedup.state-out-dir must differ from state-dir (alternate A/B " +
        "dirs between runs — overwriting the state while reading it corrupts " +
        "the lineage)")
    stateDir.foreach { d =>
      val fpPath = new Path(qual(d), "fingerprint")
      require(exists(fpPath),
        s"media-dedup.state-dir '$d' holds no MediaDedup fingerprint state " +
          "(a text-dedup state dir is not media state, even though both " +
          "carry a 'sigs' table)")
      val stored = readSmall(fpPath)
      require(stored == stateFp,
        s"media-dedup state at $d was built as '$stored' but this run is " +
          s"'$stateFp' — fingerprints are not comparable across modalities " +
          "or band geometries; rebuild the state")
      // parts/rewrite mode is a LINEAGE property (the Curator's
      // stateParams contract): a prior dir records its parts dir in the
      // marker, and this run must continue with the same one — mixing
      // modes would orphan parts or double-count rows
      val marker = new Path(qual(d), "_COMMITTED")
      val priorPartsDir = Some(marker).filter(exists).map(readSmall)
        .flatMap(_.split(';').collectFirst {
          case kv if kv.startsWith("state-parts-dir=") =>
            kv.substring("state-parts-dir=".length)
        })
      require(priorPartsDir == statePartsDir.map(pd => qual(pd).toString),
        s"media-dedup.state-parts-dir is ${statePartsDir.getOrElse("unset")} " +
          s"but the state at $d was built with " +
          s"${priorPartsDir.getOrElse("rewrite-mode (no parts dir)")} — " +
          "a lineage never changes mode mid-stream (the Compactor works " +
          "WITHIN parts mode)")
    }
    val mode = c.getString("mode").getOrElse("report")
    require(Set("report", "filter", "calibrate")(mode),
      s"media-dedup.mode must be report | filter | calibrate, got '$mode'")
    // `card-dir`: the media data card (asset/null/decode-failure
    // counts, sizes, dimensions, fingerprint-collision stats — the
    // corpusReport counterpart) rides any mode
    c.getString("card-dir").foreach { d =>
      Multimodal.mediaReport(media, modality, idCol, contentCol, metaCol)
        .coalesce(1).write.mode("overwrite").parquet(d)
      Cli.log(s"media data card -> $d")
    }
    // `mode = calibrate`: turn the near-dup radius from an envelope
    // CLAIM into per-corpus EVIDENCE — sample N of the corpus's own
    // assets, re-render each through a genuinely different encoding
    // (JPEG / half-volume / MJPEG), and report the twin vs stranger
    // Hamming distributions next to the configured radius. The report
    // lands FIRST; `calibrate-require-separation = true` then fails the
    // run if the radius does not separate them (the Differ max-drift
    // convention).
    if (mode == "calibrate") {
      require(!windowed && !cropTier && !rotationTier,
        "media-dedup calibrate mode measures the scalar fingerprints — " +
          "run it without tier knobs (the tiers share the same kernels)")
      require(!maxHammingAuto,
        "media-dedup.max-hamming = auto CONSUMES a calibration report — " +
          "calibrate with a fixed (or default) radius first, then run " +
          "report/filter mode with auto")
      val repDir = c.getString("calibrate-report-dir").getOrElse(
        throw new IllegalArgumentException(
          "media-dedup.calibrate-report-dir is required in calibrate mode"))
      val n = c.getInt("calibrate-sample").getOrElse(100)
      val sample = media
        .orderBy(graft.operators.Ops.hashDigestCol(col(idCol).cast("string"), "mediacal"))
        .limit(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def sigsOf(m: org.apache.spark.sql.DataFrame) = modality match {
          case "image" if imageWide => Multimodal.dctHashesWide(m,
            Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
          case "image" if imageHash == "dct" => Multimodal.dctHashes(m,
            Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
          case "image" => Multimodal.perceptualHashes(m,
            Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
          case "audio" => Multimodal.audioHashes(m,
            Multimodal.WavDecoder, idCol, contentCol, metaCol)
          case "video" => Multimodal.videoFrameHashes(m,
            c.getInt("every-n").getOrElse(1), idCol, contentCol, metaCol)
        }
        // the one kernel-dependent piece of the calibrate arithmetic:
        // wide sigs distance through the native array hamming
        val hamOf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
            org.apache.spark.sql.Column =
          if (imageWide) Dedup.hammingWide else Dedup.hamming
        val orig = sigsOf(sample)
        val twin = sigsOf(Multimodal.reencodeAsCalibrationTwin(
          sample, modality, contentCol, metaCol))
          .withColumnRenamed("sig", "__tsig")
        // twin distance per asset (video: the WORST aligned frame — the
        // radius must hold for every frame the banded join compares)
        val twinDist =
          if (modality == "video")
            orig.join(twin, Seq("id", "frame_idx"))
              .select(col("id"), hamOf(col("sig"), col("__tsig")).as("hamming"))
              .groupBy(col("id")).agg(max(col("hamming")).as("hamming"))
          else orig.join(twin, Seq("id"))
            .select(col("id"), hamOf(col("sig"), col("__tsig")).as("hamming"))
        // stranger distances: all sampled asset pairs (clip HEADS for
        // video — the arrival filter's slot-0 profile); N² bounded by
        // calibrate-sample, never the corpus
        val scalar = (if (modality == "video") orig.filter(col("frame_idx") === 0)
          else orig).select(col("id"), col("sig"))
        val strangerDist = scalar.select(col("id").as("id1"), col("sig").as("sig1"))
          .crossJoin(scalar.select(col("id").as("id2"), col("sig").as("sig2")))
          .filter(col("id1") < col("id2"))
          .select(hamOf(col("sig1"), col("sig2")).as("hamming"))
        val report = twinDist.select(lit("twin").as("kind"), col("hamming"))
          .unionByName(strangerDist.select(lit("stranger").as("kind"), col("hamming")))
          .groupBy(col("kind"), col("hamming"))
          .agg(count(lit(1)).as("n_pairs"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        report.coalesce(1).write.mode("overwrite").parquet(repDir)
        val rows = report.collect()
        // everything needed is on the driver now — release the cache
        // BEFORE the separation gate can throw (a tripped gate must not
        // leak cached blocks into a long-lived session)
        report.unpersist(): Unit
        def bound(kind: String, worst: Boolean): Option[Int] = {
          val hs = rows.filter(_.getString(0) == kind).map(_.getInt(1))
          if (hs.isEmpty) None else Some(if (worst) hs.max else hs.min)
        }
        val maxTwin = bound("twin", worst = true)
        val minStranger = bound("stranger", worst = false)
        val separated = maxTwin.exists(_ <= maxHamming) &&
          minStranger.forall(_ > maxHamming)
        Cli.log(f"calibration ($modality, ${sample.count()} assets): twin max " +
          s"${maxTwin.getOrElse(-1)}, stranger min ${minStranger.getOrElse(-1)}, " +
          s"radius $maxHamming -> ${if (separated) "SEPARATED" else "NOT separated"} " +
          s"(report at $repDir)")
        if (c.getBoolean("calibrate-require-separation").getOrElse(false) && !separated)
          throw new IllegalStateException(
            s"calibrate: radius $maxHamming does not separate this corpus's twin " +
              s"(max ${maxTwin.getOrElse(-1)}) and stranger " +
              s"(min ${minStranger.getOrElse(-1)}) fingerprint distances — " +
              s"adjust max-hamming/bands (report at $repDir)")
      } finally { sample.unpersist(); () }
      return
    }
    // ONE decode pass builds the signatures; every join below is
    // sig-level (and the persisted state never re-decodes the corpus)
    val batchSigs = ((modality, windowed, cropTier) match {
      case ("image", _, true) => Multimodal.tileHashes(media,
        Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
      case ("image", _, _) if rotationTier => Multimodal.dihedralHashes(media,
        Multimodal.ImageIoDecoder, idCol, contentCol, metaCol,
        kernel = imageHash)
      case ("image", _, _) if imageWide => Multimodal.dctHashesWide(media,
        Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
      case ("image", _, _) if imageHash == "dct" => Multimodal.dctHashes(media,
        Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
      case ("image", _, _) => Multimodal.perceptualHashes(media,
        Multimodal.ImageIoDecoder, idCol, contentCol, metaCol)
      case ("audio", true, _) => Multimodal.audioWindowHashes(media,
        Multimodal.WavDecoder, idCol, contentCol, metaCol, windowFrames, hop)
      case ("audio", _, _) => Multimodal.audioHashes(media,
        Multimodal.WavDecoder, idCol, contentCol, metaCol)
      case _ => Multimodal.videoFrameHashes(media,
        c.getInt("every-n").getOrElse(1), idCol, contentCol, metaCol)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // in-batch pairs, normalized to (id1, id2, score): score = hamming
      // for scalar image/audio, matched-sub-signature counts for the
      // sequenced tiers, matched-slot counts for the crop tier (where
      // id1 is the ORIGINAL and id2 the crop — direction matters for
      // the collapse below)
      val pairs =
        if (cropTier)
          Multimodal.centerCropNearDupsFromSigs(batchSigs, minSlots,
              maxHamming, bands, maxBucket)
            .select(col("orig_id").as("id1"), col("crop_id").as("id2"),
              col("n_slots_matched").as("score"))
        else if (rotationTier)
          Multimodal.rotationNearDupsFromSigs(batchSigs, minWitnesses,
              maxHamming, bands, maxBucket, probe)
            .select(col("id1"), col("id2"), col("min_hamming").as("score"))
        else if (windowed)
          Dedup.seqSigNearDups(batchSigs.withColumnRenamed("window_idx", "seq_idx"),
              minWindows, maxHamming, bands, maxBucket, probe)
            .select(col("id1"), col("id2"), col("n_matched").as("score"))
        else if (modality == "video" && shiftTolerant)
          Dedup.seqSigNearDups(batchSigs.withColumnRenamed("frame_idx", "seq_idx"),
              minFrames, maxHamming, bands, maxBucket, probe)
            .select(col("id1"), col("id2"), col("n_matched").as("score"))
        else if (modality == "video")
          Multimodal.videoNearDupsFromSigs(batchSigs, minFrames, maxHamming,
              bands, maxBucket, probe)
            .select(col("id1"), col("id2"), col("n_frames_matched").as("score"))
        else if (imageWide)
          Dedup.wideSigNearDups(batchSigs, maxHamming, bands, maxBucket,
              probe, sigBits = 256)
            .withColumnRenamed("hamming", "score")
        else Dedup.sigNearDups(batchSigs, maxHamming, bands, maxBucket, probe)
          .withColumnRenamed("hamming", "score")
      // `verify-pairs` (image tiers): pixel-evidence confirmation of
      // the signature nominations — the text tier's verified-dedup
      // semantics (Jaccard there, 9×8 luma mean-abs-diff here, the
      // hypothesis-aware form for crop/rotation); `max-mean-diff` sets
      // the bar. Signatures nominate, pixels confirm, and only
      // confirmed pairs drive the collapse and the report.
      val confirmed =
        if (!c.getBoolean("verify-pairs").getOrElse(false)) pairs
        else if (modality == "image")
          Multimodal.verifyImagePairs(pairs, media, Multimodal.ImageIoDecoder,
            idCol, contentCol, metaCol,
            maxMeanDiff = c.getDouble("max-mean-diff").getOrElse(0.1),
            orientationInvariant = rotationTier,
            cropHypothesis = cropTier)
        else if (modality == "audio" && !windowed)
          // spectral evidence: the energy-normalized band grid (volume
          // cancels); the windowed tier's offset pairs would need
          // window-aligned evidence and stay signature-gated
          Multimodal.verifyAudioPairs(pairs, media, Multimodal.WavDecoder,
            idCol, contentCol, metaCol,
            maxMeanDiff = c.getDouble("max-mean-diff").getOrElse(0.002))
        else if (modality == "video" && !shiftTolerant &&
            c.getInt("every-n").getOrElse(1) == 1)
          // frame-ALIGNED pixel evidence, the same minFrames agreement
          // shape the signature tier nominates with; shift-tolerant
          // pairs carry no alignment delta and stay signature-gated
          Multimodal.verifyVideoPairs(pairs, media, idCol, contentCol, metaCol,
            firstKFrames = c.getInt("verify-first-k-frames").getOrElse(4),
            minFrames = minFrames,
            maxMeanDiff = c.getDouble("max-mean-diff").getOrElse(0.1))
        else throw new IllegalArgumentException(
          "media-dedup.verify-pairs covers the image tiers (pixel grid), " +
            "scalar audio (spectral grid), and frame-aligned video at " +
            "every-n = 1 (per-frame pixel grids); windowed-audio and " +
            "shift-tolerant pairs stay signature-gated")
      // guard-saturation observability (the round-14 lesson: the r13
      // dct geometry failed SILENTLY — every bucket hot, zero recall,
      // no error). One bounded aggregate over the CACHED signatures per
      // run, placed AFTER every plan-time misconfig require above so a
      // bad config still refuses before paying a decode pass; WARN when
      // the guard stops being a skew valve and starts being the whole
      // join.
      // the wide lineage's bucket counter — every state/guard count in
      // this run must band the way the join bands
      def countsOf(sigs: org.apache.spark.sql.DataFrame) =
        if (imageWide) Dedup.wideBucketCounts(sigs, bands, 256)
        else Dedup.bucketCounts(sigs, bands)
      if (maxBucket > 0) {
        val sat = Dedup.guardSaturation(
          countsOf(batchSigs.select(col("id"), col("sig"))),
          maxBucket)
        Cli.log(f"hot-bucket guard: ${sat.hotBuckets}/${sat.occupiedBuckets} " +
          f"occupied buckets over cap $maxBucket " +
          f"(${sat.rowFraction * 100}%.1f%% of banded rows)")
        if (sat.bucketFraction > 0.25 || sat.rowFraction > 0.5) Cli.log(
          "WARNING: the hot-bucket guard is discarding a large share of " +
            "this corpus's buckets — near-dup recall is collapsing. The " +
            "bucket keys cannot discriminate at this corpus size: use " +
            "fewer, WIDER bands with a probe depth (or a wider " +
            "fingerprint); raising max-bucket-size only trades the loss " +
            "for a quadratic join")
      }
      val nPairs = confirmed.count()
      Cli.log(s"$modality in-batch near-dup pairs: $nPairs")
      c.getString("pairs-dir").foreach { d =>
        confirmed.write.mode("overwrite").parquet(d)
        Cli.log(s"pair report -> $d")
      }
      // INCREMENTAL tier (`state-dir` = a previous run's
      // `state-out-dir`): batch assets near a STORED fingerprint drop
      // too — the daily-arrivals shape. Reads go through the manifest-
      // transparent accessor (parts mode costs the batch's rows, not a
      // corpus rewrite), and the corpus hot-bucket guard comes from the
      // PERSISTED mergeable counts — never a corpus-wide re-band per
      // batch (the Curator's hotcounts protocol).
      val vsCorpusDrops = stateDir.map { d =>
        val corpusSigs = Cli.readStateTable(spark, d, "sigs")
        val corpusHot: Option[org.apache.spark.sql.DataFrame] =
          if (exists(new Path(qual(d), "hot")))
            Some(spark.read.parquet(s"${qual(d)}/hot"))
          else None // pre-hotcounts lineage: one-time on-the-fly guard
        val hits =
          if (cropTier)
            Multimodal.centerCropNearDupsAgainst(batchSigs, corpusSigs,
              minSlots, maxHamming, bands, maxBucket, corpusHot)
          else if (rotationTier)
            Multimodal.rotationNearDupsAgainst(batchSigs, corpusSigs,
              minWitnesses, maxHamming, bands, maxBucket, corpusHot, probe)
          else if (windowed)
            Dedup.seqSigNearDupsAgainst(
              batchSigs.withColumnRenamed("window_idx", "seq_idx"),
              corpusSigs.withColumnRenamed("window_idx", "seq_idx"),
              minWindows, maxHamming, bands, maxBucket, corpusHot, probe)
          else if (modality == "video" && shiftTolerant)
            Dedup.seqSigNearDupsAgainst(
              batchSigs.withColumnRenamed("frame_idx", "seq_idx"),
              corpusSigs.withColumnRenamed("frame_idx", "seq_idx"),
              minFrames, maxHamming, bands, maxBucket, corpusHot, probe)
          else if (modality == "video")
            Multimodal.videoNearDupsAgainst(batchSigs, corpusSigs, minFrames,
              maxHamming, bands, maxBucket, corpusHot, probe)
          else if (imageWide)
            Dedup.wideSigNearDupsAgainst(batchSigs, corpusSigs, maxHamming,
              bands, maxBucket, corpusHot, probe, sigBits = 256)
          else Dedup.sigNearDupsAgainst(batchSigs, corpusSigs, maxHamming,
            bands, maxBucket, corpusHot, probe)
        hits.select(col("batch_id")).distinct()
      }
      val filtered = c.getString("mode").getOrElse("report") == "filter"
      if (filtered || c.getString("state-out-dir").isDefined) {
        // transitive in-batch clusters -> keep each component's MINIMUM
        // id (crop tier: the CROP side drops — direction is known, the
        // derived asset never survives its original); then anything
        // near the stored corpus drops as well
        val ccDrops =
          if (cropTier) confirmed.select(col("id2").as("id")).distinct()
          else Dedup.connectedComponents(confirmed)
            .filter(col("id") =!= col("label")).select(col("id"))
        val drops = vsCorpusDrops.fold(ccDrops)(v =>
          ccDrops.unionByName(v.toDF("id"))).distinct()
          .withColumnRenamed("id", idCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        // plain left-anti: the drop list is usually tiny (AQE converts
        // it to a broadcast join at runtime), but it CAN be a large
        // fraction of a huge batch — never force a driver-side
        // broadcast of it
        val survivors = media.join(drops, Seq(idCol), "left_anti")
        if (filtered) {
          graft.sources.DataIO.write(survivors, c.at("target"))
          // count the persisted survivors + the (tiny) drop list — the
          // source is never re-scanned just for a log line (the mover
          // double-scan the SURVEY flags as a reference bug)
          val kept = graft.sources.DataIO.read(spark, c.at("target")).count()
          Cli.log(s"filter mode: $kept survivors written, " +
            s"${drops.count()} near-dup assets dropped")
        }
        // state-out = old state (if any) ∪ the survivors' own
        // fingerprints — the next increment compares against both. With
        // `state-parts-dir` only THIS batch's rows are written (a new
        // write-once part + manifest; prior parts stay byte-identical);
        // the hot-bucket evidence is persisted as mergeable per-bucket
        // COUNTS, so upkeep never re-bands the corpus.
        c.getString("state-out-dir").foreach { outDir =>
          val outPath = qual(outDir)
          val fs = outPath.getFileSystem(hconf)
          fs.mkdirs(outPath)
          fs.delete(new Path(outPath, "_COMMITTED"), false): Unit
          val survivorSigs = batchSigs.join(
            survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
          // flat (id, sig) projection for bucket counting — video sigs
          // carry frame_idx, which bands ignore
          def flat(sigs: org.apache.spark.sql.DataFrame) =
            sigs.select(col("id"), col("sig"))
          statePartsDir match {
            case Some(pd0) =>
              val pd = qual(pd0).toString
              if (stateDir.isEmpty) {
                Cli.requireEmptyPartsDir(spark, pd, "sigs")
                Cli.requireEmptyPartsDir(spark, pd, "hotcounts")
              }
              val priorSig = stateDir
                .flatMap(d => Cli.stateTableParts(spark, d, "sigs"))
                .getOrElse(Seq.empty)
              val sigPart = s"$pd/sigs/part-${priorSig.length}"
              survivorSigs.write.mode("overwrite").parquet(sigPart)
              val sigParts = priorSig :+ sigPart
              Cli.writeStateManifest(spark, outPath, "sigs", sigParts)
              Cli.sweepOrphanParts(spark, pd, "sigs", sigParts)
              val priorCnt = stateDir
                .flatMap(d => Cli.stateTableParts(spark, d, "hotcounts"))
                .getOrElse(Seq.empty)
              val cntPart = s"$pd/hotcounts/part-${priorCnt.length}"
              countsOf(flat(survivorSigs))
                .write.mode("overwrite").parquet(cntPart)
              val cntParts = priorCnt :+ cntPart
              Cli.writeStateManifest(spark, outPath, "hotcounts", cntParts)
              Cli.sweepOrphanParts(spark, pd, "hotcounts", cntParts)
              Dedup.hotFromCounts(
                  Dedup.mergeBucketCounts(spark.read.parquet(cntParts: _*)),
                  maxBucket)
                .write.mode("overwrite").parquet(s"$outPath/hot")
            case None =>
              val outSigs = stateDir
                .map(d => Cli.readStateTable(spark, d, "sigs")
                  .unionByName(survivorSigs))
                .getOrElse(survivorSigs)
              outSigs.write.mode("overwrite").parquet(s"$outPath/sigs")
              // mergeable counts: prior counts + this batch's (one
              // bounded-table merge); a pre-counts lineage bootstraps
              // from the just-written union once
              val batchCounts = countsOf(flat(survivorSigs))
              val merged = stateDir match {
                case Some(d) if exists(new Path(qual(d), "hotcounts")) ||
                    Cli.stateTableParts(spark, d, "hotcounts").isDefined =>
                  Dedup.mergeBucketCounts(
                    Cli.readStateTable(spark, d, "hotcounts")
                      .unionByName(batchCounts))
                case Some(_) =>
                  countsOf(flat(spark.read.parquet(s"$outPath/sigs")))
                case None => batchCounts
              }
              merged.write.mode("overwrite").parquet(s"$outPath/hotcounts")
              Dedup.hotFromCounts(
                  Dedup.mergeBucketCounts(
                    spark.read.parquet(s"$outPath/hotcounts")), maxBucket)
                .write.mode("overwrite").parquet(s"$outPath/hot")
          }
          val out = fs.create(new Path(outPath, "fingerprint"), true)
          try out.write(stateFp.getBytes("UTF-8")) finally out.close()
          // the marker commits the state and records the lineage mode —
          // the Compactor consumes exactly this (its sigs/hotcounts
          // table semantics apply to media state unchanged)
          val params = s"kind=mediadedup;fingerprint=$stateFp" +
            statePartsDir.map(pd => s";state-parts-dir=${qual(pd)}").getOrElse("")
          val mOut = fs.create(new Path(outPath, "_COMMITTED"), true)
          try mOut.write(params.getBytes("UTF-8")) finally mOut.close()
          Cli.log(s"fingerprint state -> $outDir" +
            statePartsDir.map(pd => s" (parts under $pd)").getOrElse(""))
        }
        } finally { drops.unpersist(); () }
      }
    } finally { batchSigs.unpersist(); () }
  }

}

/** `differ` (reference `datadiff.py` as an operational CLI): config-
  * driven distribution-drift check between two datasets — the nightly
  * "has the corpus/feature distribution moved" gate, with a report
  * artifact and a nonzero exit on breach so schedulers can alert.
  *
  * Config: `source { }` (the dataset under test), `reference { }`
  * (the baseline — yesterday's snapshot, the training-time
  * distribution), and `diff { }`:
  *  - `discrete-columns = [...]`: hashed-histogram TVD per column;
  *  - `continuous-columns = [...]`: equi-width-binned TVD on the
  *    REFERENCE's range (`sketch = true` switches to the one-scan
  *    mergeable-sketch form — the 100 TB shape);
  *  - `max-bins` (default 1000);
  *  - `report-dir`: per-column parquet report, written BEFORE any
  *    breach is raised (operators need the artifact most when it
  *    fails);
  *  - `max-drift`: threshold — any column above it fails the run
  *    AFTER all columns are measured and reported. */
object Differ {
  def main(args: Array[String]): Unit = Cli.run("differ", args) { (conf, spark) =>
    import graft.datadiff.DataDiff
    val cur = graft.sources.DataIO.read(spark, conf.at("source"))
    val ref = graft.sources.DataIO.read(spark, conf.at("reference"))
    val c = conf.at("diff")
    val discrete = c.getList("discrete-columns").getOrElse(Nil)
    val continuous = c.getList("continuous-columns").getOrElse(Nil)
    require(discrete.nonEmpty || continuous.nonEmpty,
      "diff.discrete-columns and/or diff.continuous-columns must name columns")
    val maxBins = c.getInt("max-bins").getOrElse(1000)
    val useSketch = c.getBoolean("sketch").getOrElse(false)
    // `edges-dir`: persist the FIRST run's equi-width bin edges and
    // reuse them on every later run (the R11 fixed-edge idea as an
    // operational artifact). Without it each nightly run re-derives
    // edges from the reference's observed range, so two runs' TVDs are
    // not comparable once the reference range drifts — exactly the
    // longitudinal comparison a nightly gate wants to make. Exact
    // comparator only: the sketch derives its bins from merged
    // centroids, fixed edges do not apply.
    val edgesDir = c.getString("edges-dir")
    require(edgesDir.isEmpty || !useSketch,
      "diff.edges-dir applies to the exact comparator only — " +
        "diff.sketch derives its bins from merged centroids; pick one")
    require(edgesDir.isEmpty || continuous.nonEmpty,
      "diff.edges-dir without diff.continuous-columns is dead config")
    val storedEdges: Option[Map[String, Array[Double]]] = edgesDir.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(s"$d/edges")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(spark.read.parquet(p.toString).collect()
          .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap)
      else None
    }
    storedEdges.foreach { m =>
      val missing = continuous.filterNot(m.contains)
      require(missing.isEmpty,
        s"edges at $edgesDir/edges cover [${m.keys.toSeq.sorted.mkString(", ")}] " +
          s"but this run also diffs [${missing.mkString(", ")}] — a changed " +
          "column set does not compare longitudinally; use a fresh edges-dir")
    }
    // a degenerate reference must fail LOUDLY, not read as zero drift:
    // an empty/all-null/constant reference column yields < 2 bin edges
    // and the continuous comparator reports 0.0 — the exact false
    // negative a nightly gate exists to prevent (a truncated snapshot
    // would pass every run). Constant columns belong in
    // discrete-columns, where collapse shows up as drift. (Skipped when
    // stored edges bin this run — they carry >= 2 edges by
    // construction, and a degenerate CURRENT reference then shows up AS
    // drift instead of masking it.)
    if (continuous.nonEmpty && storedEdges.isEmpty) {
      import org.apache.spark.sql.functions.{col => fcol, countDistinct}
      val counts = ref.agg(countDistinct(fcol(continuous.head)),
        continuous.tail.map(cn => countDistinct(fcol(cn))): _*).head
      continuous.zipWithIndex.foreach { case (cn, i) =>
        require(counts.getLong(i) >= 2,
          s"reference column '$cn' has ${counts.getLong(i)} distinct non-null " +
            "values — binned drift needs >= 2 (empty/corrupted snapshot, or a " +
            "constant column that belongs in diff.discrete-columns)")
      }
    }
    // with edges-dir but no stored edges yet (run 1), derive each
    // column's reference edges ONCE up front and bin this run with
    // exactly what gets persisted — a second derivation at persist time
    // would cost an extra min/max scan per column AND could diverge
    // from the reported TVD's binning if the reference is live
    val derivedEdges: Map[String, Array[Double]] =
      if (edgesDir.isDefined && storedEdges.isEmpty)
        continuous.map(cn => cn -> DataDiff.equiWidthEdges(ref, cn, maxBins)).toMap
      else Map.empty
    val rows =
      discrete.map { cn =>
        (cn, "tvd_discrete", DataDiff.discreteComparator(ref, cn, cur, cn, maxBins))
      } ++ continuous.map { cn =>
        val (metric, d) = (useSketch, storedEdges) match {
          case (true, _) =>
            ("tvd_sketch", DataDiff.continuousComparatorSketch(ref, cn, cur, cn, maxBins))
          case (false, Some(m)) =>
            ("tvd_fixed_edges",
              DataDiff.continuousComparatorWithEdges(ref, cn, cur, cn, m(cn)))
          case (false, None) if derivedEdges.contains(cn) =>
            // reference-derived semantics (the metric name says so),
            // computed through the fixed-edge path on the about-to-be-
            // persisted edges
            ("tvd_continuous",
              DataDiff.continuousComparatorWithEdges(ref, cn, cur, cn, derivedEdges(cn)))
          case (false, None) =>
            ("tvd_continuous", DataDiff.continuousComparator(ref, cn, cur, cn, maxBins))
        }
        (cn, metric, d)
      }
    // first run with edges-dir: persist the derived edges for every
    // later run to bin with (written AFTER the comparisons so a failed
    // first run does not commit half-derived edges)
    if (derivedEdges.nonEmpty) {
      import spark.implicits._
      continuous.map(cn => (cn, derivedEdges(cn).toSeq)).toDF("column", "edges")
        .coalesce(1).write.mode("errorifexists").parquet(s"${edgesDir.get}/edges")
      Cli.log(s"bin edges persisted to ${edgesDir.get}/edges")
    }
    rows.foreach { case (cn, m, d) => Cli.log(f"drift $cn ($m): $d%.6f") }
    c.getString("report-dir").foreach { rdir =>
      import spark.implicits._
      rows.toDF("column", "metric", "drift")
        .coalesce(1).write.mode("overwrite").parquet(rdir)
      Cli.log(s"drift report written to $rdir")
    }
    c.getDouble("max-drift").foreach { thr =>
      val breaches = rows.filter(_._3 > thr)
      if (breaches.nonEmpty)
        throw new IllegalStateException(
          s"drift above ${thr} on ${breaches.map(b => f"${b._1}=${b._3}%.4f").mkString(", ")}" +
            " — distribution moved beyond the configured gate")
    }
  }
}
