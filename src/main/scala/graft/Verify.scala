package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // `--sql-only` dumps just oracle_sql.json (no SparkSession) — used by
    // tools/duckdb_times.py to time the oracle side without a full verify.
    val sqlOnly = args.contains("--sql-only")
    val Array(sfDir, outDir) = args.filterNot(_.startsWith("--"))
    new java.io.File(outDir).mkdirs()
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
    if (sqlOnly) return
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session(s"local[$cpus]", cpus.toInt)
    // A failed query must produce a RED row, never an absent one: the
    // q61 regression hid for a round because the key was simply omitted
    // and 77-green-of-78 read as all-green. On exception we write a
    // 1-row marker parquet whose schema can never match any oracle (the
    // driver's compare then reports an explicit mismatch) and collect
    // the error into errors.json for the human reader.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // SPARK_GRAFT_ONLY dev knob (shared with Bench via pickedQueries):
    // restricts the dump to the named queries for oracle iteration;
    // unset = the full registry (what the driver runs).
    SparkEntry.pickedQueries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage).take(1000)
        // the marker write must never abort the loop (disk-full or a
        // wedged session would otherwise recreate the silent-absence
        // failure mode for every query AFTER this one)
        try {
          import spark.implicits._
          Seq(("QUERY_FAILED", failures(name)))
            .toDF("__graft_query_failed", "__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed too: $e2")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    // Loud but zero-exit: the driver must still run its per-query
    // compare (the marker parquet is what turns failure into a red row).
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
  }
}
