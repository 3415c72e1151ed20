package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: only dump the named queries (dev iteration;
    // the driver always calls with exactly two args = full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftExtensions.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    var nOk, nFail = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
      }
      catch { case e: Throwable =>
        nFail += 1
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val nOracles = SparkEntry.oracleSql
      .count { case (k, _) => only.isEmpty || only(k) }
    // self-evidencing summary (VERDICT r7 item 2): if a driver-side
    // correctness artifact ever comes back empty again, this line in the
    // driver's log attributes it — the dump either completed or it didn't
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[verify] done: ${nOk + nFail}%d queries ($nOk%d ok, " +
      f"$nFail%d failed), $nOracles%d oracles, $secs%.1f s")
    spark.stop()
    // the queries that passed are written; a failed one still fails the run
    if (nFail > 0) sys.exit(1)
  }
}
