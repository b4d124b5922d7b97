package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session setup behind every entry point: the CLI mains
  * (`cli.Cli.session`), Bench/Verify and the tools (`tools.Local`), and
  * the test suites. Each caller passes only its own settings; what graft
  * needs of every session comes from [[setup]], the idempotent
  * `setup(session)` pattern: it may run on a fresh session or on one that
  * is already running (a CLI main inside a test JVM, `getOrCreate`
  * returning an existing session), and running it twice changes nothing.
  */
object GraftSession {

  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Cores a local session is sized to when its caller names none:
    * `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or join) a session: `master` unless `props` set
    * `spark.master`, every `props` entry folded into the builder in
    * order, Hive support on request; then [[setup]]. */
  def getOrCreate(app: String, master: String, props: Seq[(String, String)],
      hive: Boolean = false): SparkSession = {
    var b = SparkSession.builder().appName(app)
    if (!props.exists(_._1 == "spark.master")) b = b.master(master)
    if (hive) b = b.enableHiveSupport()
    props.foreach { case (k, v) => b = b.config(k, v) }
    setup(b.getOrCreate())
  }

  /** The shuffle width graft gives a session: its parallelism on a
    * `local*` master, so small local jobs do not pay for Spark's default
    * of 200 tasks per shuffle stage (and 200 files per write). None —
    * leave the session as it is — when the width was set explicitly
    * (by the caller's props, `-Dspark.sql.shuffle.partitions`, or an
    * earlier `conf.set`) or the master is a cluster's, whose width is
    * its operator's call. */
  def shufflePartitions(master: String, explicit: Boolean, parallelism: Int): Option[Int] =
    if (explicit || !master.startsWith("local")) None else Some(parallelism)

  /** Apply graft's defaults and register its SQL functions (so
    * `transform-sql` and `spark.sql` can call `graft_cosine`,
    * `graft_simhash`, …). Idempotent: the shuffle width it sets counts
    * as explicit on the next call, and functions already registered are
    * not registered again. */
  def setup(s: SparkSession): SparkSession = {
    val sc = s.sparkContext
    shufflePartitions(sc.master, s.conf.getAll.contains(ShufflePartitions),
      sc.defaultParallelism).foreach(n => s.conf.set(ShufflePartitions, n.toLong))
    val registry = s.sessionState.functionRegistry
    if (!GraftFunctions.functions.forall { case (name, _, _) =>
        registry.functionExists(FunctionIdentifier(name)) })
      GraftFunctions.register(s)
    s
  }
}
