package graft
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, naming
  * them, when any entry failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // local-iteration subset: SPARK_GRAFT_ONLY=x90,x91 dumps (and lists in
    // oracle_sql.json) just those entries so scripts/oracle_check.py can
    // gate one new operator without replaying the whole suite
    val failed = try dump(spark, sfDir, outDir, SparkEntry.selected()) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} entries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each entry's result to `outDir/<name>` and the oracles of all of
    * them to `outDir/oracle_sql.json`, and returns the names of the entries
    * that failed, sorted. A failed entry leaves no dump behind, not even one
    * from an earlier run, so a compare cannot pass it on stale rows. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      selected: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new File(outDir).mkdirs()
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      FileUtils.deleteDirectory(new File(outDir, name))
      try {
        val df = fn(spark, sfDir)
        // the driver compare hashes pandas cells: fail HERE, at build time
        val hostile = SparkEntry.unhashable(df.schema)
        require(hostile.isEmpty,
          s"entry $name emits non-scalar column(s) " +
            hostile.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
            " — the driver compare cannot hash these; reshape to scalars " +
            "(posexplode or concat_ws) as x80/x63/x69 do")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
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
    val json = SparkEntry.oracleSql.filter(o => selected.contains(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.sorted
  }
}
