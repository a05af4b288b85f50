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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    session.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListeners.drain(session.sparkContext)
      (out, jobs.get)
    } finally session.sparkContext.removeSparkListener(listener)
  }
}
