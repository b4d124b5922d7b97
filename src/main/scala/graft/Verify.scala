package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // AUX_SKIP turns the oracle replay dumps into pass-throughs (a
    // production/bench-triage mode) — under it every dump-and-replay
    // oracle would compare against a stale or missing dump and the
    // round's correctness would fail confusingly. Refuse up front.
    require(!sys.env.get("SPARK_GRAFT_AUX_SKIP").contains("1"),
      "graft.Verify must run WITHOUT SPARK_GRAFT_AUX_SKIP=1 — the " +
        "dump-and-replay oracles need this run's own aux dumps")
    // graft.Bench sets this property for its production-form timings;
    // a Verify launched from the same JVM (or a copy-pasted -D flag)
    // must refuse it for the same reason as the env var
    require(!sys.props.get("graft.aux.skip").contains("1"),
      "graft.Verify must run WITHOUT -Dgraft.aux.skip=1 — the " +
        "dump-and-replay oracles need this run's own aux dumps")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.tools.Local.session(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names), the Bench idiom:
    // check a few queries against the oracle without dumping the suite
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // delete any previous run's output FIRST: a failing query must
      // leave a missing directory (which the checker reports), never a
      // stale result that silently compares clean
      val dir = new java.io.File(s"$outDir/$name")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dir)
      }
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // queries returning persisted frames (q22 curation) must not
        // hold their cache across the remaining dumps
        df.unpersist()
        // and queries that persist intermediates INSIDE their work (the
        // LM model tables) must not pin them for the remaining ~150
        // dumps either — one session runs the whole suite (r15 advice)
        spark.catalog.clearCache()
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __AUX__ → this run's replay-dump root (see SparkEntry.auxRoot):
    // the oracle SQL map is static, the dump location is per-sf-dir
    val aux = SparkEntry.auxRoot(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__AUX__", aux))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
