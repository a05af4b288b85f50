package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization-round evidence trail (plans/rNN/<query>_{before,after}
  * .txt). Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${q}_$suffix.txt")
      try w.println(txt) finally w.close()
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt " +
        s"(${txt.count(_ == '\n')} lines)")
    }
    spark.stop()
  }
}
