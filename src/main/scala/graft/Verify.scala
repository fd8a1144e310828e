package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is logged and skipped, every other dump and the oracle files
  * are still written, and the run then exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the optional trailing
    // names restrict the dump to those queries (builder iteration
    // tool; the driver always passes exactly two args = full dump)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Optional shared-CTE manifest: the trained-quantizer chain is
    // embedded verbatim in 8 oracles; a harness that materializes it
    // once (CREATE TEMP TABLE, then exact-text substitution) avoids
    // retraining the quantizer per oracle query. Every oracle stays
    // self-contained — a harness that ignores this file is unaffected.
    val chain = graft.queries.AnnQueries.tcentChainDuck
    val shared =
      s"""{"tcent": {"chain": ${q(chain)},
        "materialize": ${q(s"CREATE TEMP TABLE __tcent_mat AS WITH $chain SELECT label, centroid FROM tcent")},
        "replacement": ${q("tcent AS (SELECT label, centroid FROM __tcent_mat)")}}}"""
    Files.writeString(Paths.get(s"$outDir/oracle_shared.json"), shared)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(" ")}")
      sys.exit(1)
    }
  }
}
