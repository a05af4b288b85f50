package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object SparkTest {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      // managed tables (bucketing tests) go to a scratch dir, not the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
