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

  /** Spark jobs started on the shared session while `body` runs, counted
    * after the listener bus has drained. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, sites) = jobSitesDuring(body)
    (out, sites.size)
  }

  /** The call site of each Spark job started on the shared session while
    * `body` runs (its last stage's name, e.g. `parquet at Foo.scala:12`;
    * empty for a job over no partitions, which has no stage). */
  def jobSitesDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        sites.add(if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name)
    }
    session.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListeners.drain(session.sparkContext)
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally session.sparkContext.removeSparkListener(listener)
  }
}
