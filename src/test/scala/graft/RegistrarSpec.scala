package graft

import graft.sources.Registrar
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}
import scala.util.hashing.MurmurHash3

/** Source registration: a plain parquet file's schema is read from its
  * footer on the driver, so registering fires no Spark job and gives what
  * `spark.read.parquet` gives; every other input is Spark's reader's. */
class RegistrarSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir = "/root/testdata/sf0.001"
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  def specs: Seq[String] = tables.map(t => s"$t=$dir/$t.parquet")

  /** The schema and an order-free checksum of the rows, or the failure's
    * class and error condition. */
  def outcome(df: => DataFrame): Either[(Class[_], Option[String]), (StructType, Int)] =
    try {
      val d = df
      Right(d.schema -> MurmurHash3.seqHash(d.collect().map(_.toString).sorted.toSeq))
    } catch {
      case e: Exception => Left(e.getClass -> (e match {
        case t: SparkThrowable => Option(t.getCondition)
        case _ => None
      }))
    }

  def sameAsSpark(path: String): Unit =
    assert(outcome(Registrar.read(spark, path)) == outcome(spark.read.parquet(path)), path)

  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("registerAll reads every parquet schema from its footer: no Spark job") {
    val (_, jobs) = SparkTest.jobsDuring(Registrar.registerAll(spark, specs))
    assert(jobs == 0, s"$jobs job(s) fired while registering ${tables.size} tables")
  }

  test("each registered table has spark.read.parquet's schema and rows") {
    val got = Registrar.registerAll(spark, specs)
    // StructField equality covers type, nullability and metadata
    tables.foreach(t => assert(outcome(got(t)) == outcome(spark.read.parquet(s"$dir/$t.parquet")), t))
  }

  test("footer schemas follow the session's timestamp settings") {
    // events.ts is a microsecond timestamp without time zone
    for (key <- Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled");
         v <- Seq("false", "true"))
      withConf(key, v)(sameAsSpark(s"$dir/events.parquet"))
    // a nanosecond timestamp reads as a long only with nanosAsLong, and
    // fails without it in both readers alike
    val ns = writeNanosFile(Files.createTempDirectory("graft-registrar"))
    Seq("false", "true").foreach { v =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", v)(sameAsSpark(ns))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assert(outcome(Registrar.read(spark, ns)).isLeft)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val (df, jobs) = SparkTest.jobsDuring(Registrar.read(spark, ns))
      assert(jobs == 0 && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    }
  }

  test("directories, globs, hidden names, schema merging and missing paths are Spark's") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-registrar")
    val x = s"$tmp/x.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(x)
    val part = new java.io.File(x).listFiles().find(_.getName.startsWith("part-")).get.toPath
    val hidden = Files.copy(part, tmp.resolve("_hidden.parquet")).toString
    val missing = s"$tmp/missing.parquet"
    Seq(x, s"$x/part-*.parquet", hidden, missing).foreach(sameAsSpark)
    assert(outcome(Registrar.read(spark, missing)).left.toOption.flatMap(_._2).contains("PATH_NOT_FOUND"))

    val merged = s"$tmp/merged.parquet"
    Seq(1L).toDF("k").write.parquet(merged)
    Seq("y").toDF("s").write.mode("append").parquet(merged)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      sameAsSpark(merged)
      assert(Registrar.read(spark, merged).schema.fieldNames.toSet == Set("k", "s"))
    }
  }

  test("a non-parquet file named .parquet fails at registration, naming the path") {
    val bogus = Files.createTempDirectory("graft-registrar").resolve("bogus.parquet")
    Files.writeString(bogus, "not parquet\n")
    val e = intercept[Exception](Registrar.registerAll(spark, Seq(s"t=$bogus")))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(bogus.toString)), e.toString)
  }

  test("table is the catalog's memoized frame") {
    val catalog = Registrar.loadParquetDir(spark, dir)
    tables.foreach(t => assert(Registrar.table(spark, dir, t) eq catalog(t), t))
  }

  test("an absent table or a missing dir fails naming the table and the dir") {
    val e = intercept[Registrar.SourceError](Registrar.table(spark, dir, "nope"))
    assert(e.getMessage.contains("nope") && e.getMessage.contains(dir) &&
      e.getMessage.contains("orders"), e.getMessage)
    val missing = Files.createTempDirectory("graft-registrar").resolve("missing").toString
    val m = intercept[Registrar.SourceError](Registrar.table(spark, missing, "orders"))
    assert(m.getMessage.contains("orders") && m.getMessage.contains(missing), m.getMessage)
  }

  test("a dir made after a failed lookup is found on the next lookup") {
    val later = Files.createTempDirectory("graft-registrar").resolve("later")
    intercept[Registrar.SourceError](Registrar.table(spark, later.toString, "region"))
    Files.createDirectories(later)
    Files.copy(java.nio.file.Paths.get(dir, "region.parquet"), later.resolve("region.parquet"))
    assert(outcome(Registrar.table(spark, later.toString, "region")) ==
      outcome(Registrar.table(spark, dir, "region")))
  }

  /** A two-row parquet file with a nanosecond timestamp column, which Spark
    * itself cannot write. */
  def writeNanosFile(dir: JPath): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = dir.resolve("ns.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1500000000123456789L, 2L -> 1600000000987654321L).foreach { case (id, ts) =>
      writer.write(rows.newGroup().append("id", id).append("ts", ts))
    } finally writer.close()
    path
  }
}
