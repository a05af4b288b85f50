package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset: SPARK_GRAFT_ONLY=x90,x91 dumps (and lists in
    // oracle_sql.json) just those entries so scripts/oracle_check.py can
    // gate one new operator without replaying the whole suite
    val selected = SparkEntry.selected()
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver compare hashes pandas cells: an array/struct/map
        // column crashes its sort ('unhashable type' — x80 in r8) and
        // silently voids the entry. Fail HERE, at build time, instead.
        val hostile = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType
             | _: org.apache.spark.sql.types.MapType
             | _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        require(hostile.isEmpty,
          s"entry $name emits non-scalar column(s) " +
            hostile.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
            " — the driver compare cannot hash these; reshape to scalars " +
            "(posexplode or concat_ws) as x80/x63/x69 do")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
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
    val json = SparkEntry.oracleSql.filter(o => selected.contains(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
