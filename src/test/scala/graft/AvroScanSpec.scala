package graft

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord, GenericRecordBuilder}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroScan, Registrar}
import graft.io.Writers

/** The avro scan reads what the avro library itself wrote — scalars,
  * null-unions, arrays, maps, nested records, enum/bytes, and the
  * date/timestamp logical types — and unsupported shapes fail loudly at
  * schema time. */
class AvroScanSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def writeFixture(dir: java.io.File): Schema = {
    val tsMicros = LogicalTypes.timestampMicros()
      .addToSchema(Schema.create(Schema.Type.LONG))
    val dateT = LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    val meta = SchemaBuilder.record("meta").fields()
      .requiredString("k").requiredInt("n").endRecord()
    val schema = SchemaBuilder.record("doc").fields()
      .requiredLong("id")
      .requiredString("name")
      .optionalDouble("score")          // union [null, double]
      .name("tags").`type`().array().items().stringType().noDefault()
      .name("meta").`type`(meta).noDefault()
      .name("kind").`type`().enumeration("kind_e").symbols("A", "B").noDefault()
      .requiredBytes("payload")
      .name("ts").`type`(tsMicros).noDefault()
      .name("d").`type`(dateT).noDefault()
      .name("counts").`type`().map().values().longType().noDefault()
      .endRecord()
    def rec(id: Long, name: String, score: java.lang.Double, kind: String): GenericRecord = {
      val m = new GenericRecordBuilder(meta).set("k", s"k$id").set("n", id.toInt).build()
      new GenericRecordBuilder(schema)
        .set("id", id).set("name", name).set("score", score)
        .set("tags", java.util.List.of(s"t$id", "common"))
        .set("meta", m)
        .set("kind", new GenericData.EnumSymbol(schema.getField("kind").schema(), kind))
        .set("payload", java.nio.ByteBuffer.wrap(Array[Byte](1, 2, id.toByte)))
        .set("ts", 1700000000000000L + id)     // micros
        .set("d", 19700 + id.toInt)            // days since epoch
        .set("counts", java.util.Map.of("a", id, "b", id * 2))
        .build()
    }
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(dir, "part-0.avro"))
    try { w.append(rec(1, "one", 1.5, "A")); w.append(rec(2, "two", null, "B")) }
    finally w.close()
    schema
  }

  /** The two fixture records, full width, as [[writeFixture]] wrote them. */
  private def assertFixtureRows(df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[Long]("id") == 1L && r1.getAs[String]("name") == "one")
    assert(r1.getAs[Double]("score") == 1.5 && rows(1).isNullAt(rows(1).fieldIndex("score")))
    assert(r1.getAs[scala.collection.Seq[String]]("tags").toSeq == Seq("t1", "common"))
    assert(r1.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("k") == "k1")
    assert(r1.getAs[String]("kind") == "A" && rows(1).getAs[String]("kind") == "B")
    assert(r1.getAs[Array[Byte]]("payload").toSeq == Seq[Byte](1, 2, 1))
    assert(r1.getAs[java.sql.Timestamp]("ts").toInstant.toEpochMilli == 1700000000000L)
    assert(r1.getAs[java.sql.Date]("d").toLocalDate ==
      java.time.LocalDate.ofEpochDay(19701))
    assert(r1.getAs[scala.collection.Map[String, Long]]("counts").toMap ==
      Map("a" -> 1L, "b" -> 2L))
  }

  test("avro round-trip: schema mapping and values, via the Registrar path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avro").toFile
    writeFixture(dir)
    val df = Registrar.read(spark, new java.io.File(dir, "part-0.avro").getPath)
    val st = df.schema
    assert(st("id").dataType == LongType && !st("id").nullable)
    assert(st("score").dataType == DoubleType && st("score").nullable)
    assert(st("tags").dataType == ArrayType(StringType, containsNull = false))
    assert(st("meta").dataType.isInstanceOf[StructType])
    assert(st("kind").dataType == StringType)
    assert(st("payload").dataType == BinaryType)
    assert(st("ts").dataType == TimestampType)
    assert(st("d").dataType == DateType)
    assert(st("counts").dataType == MapType(StringType, LongType, valueContainsNull = false))
    assertFixtureRows(df)
    // directory path resolves via the first file's header schema
    assert(spark.read.format("graft-avro").load(dir.getPath).count() == 2)
    // and the relational layer composes on top like any other source
    df.createOrReplaceTempView("avro_docs")
    assert(spark.sql("SELECT sum(id) s FROM avro_docs WHERE score IS NOT NULL")
      .collect()(0).getLong(0) == 1L)
  }

  test("CLI end-to-end: avro --from source through a PRQL pipeline to csv") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-cli").toFile
    writeFixture(dir)
    val avroPath = new java.io.File(dir, "docs.avro")
    new java.io.File(dir, "part-0.avro").renameTo(avroPath)
    val out = new java.io.File(dir, "out.csv")
    implicit val s = spark
    Cli.run(Cli.parseArgs(Array(
      "--from", avroPath.getPath,
      "--to", out.getPath,
      "from docs | filter score != null | select [id, name] | sort id")))
    val lines = scala.io.Source.fromFile(
      out match {
        case f if f.isDirectory => f.listFiles().find(_.getName.endsWith(".csv")).get
        case f => f
      }).getLines().toSeq
    assert(lines == Seq("id,name", "1,one"))
  }

  test("V2 connector: column pruning reaches the avro reader schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-v2").toFile
    writeFixture(dir)
    val df = Registrar.read(spark, new java.io.File(dir, "part-0.avro").getPath)
    // the projection must reach the scan: the V2 scan description carries
    // the pruned column list (the reader decodes ONLY these; the rest are
    // byte-skipped by avro schema resolution)
    val pruned = df.select("name", "id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("graft-avro [id, name]"),
      s"expected pruned ReadSchema on the scan node in:\n$plan")
    assert(pruned.orderBy("id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("one", 1L), ("two", 2L)))
    // count(*): empty required schema still iterates every record
    assert(df.count() == 2)
    // the full-width read decodes every field of both records
    assertFixtureRows(df)
  }

  test("V2 connector: nested projection survives Spark's nested schema pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-nest").toFile
    writeFixture(dir)
    val df = Registrar.read(spark, new java.io.File(dir, "part-0.avro").getPath)
    // nestedSchemaPruning (default on) hands the scan `meta: struct<n>`;
    // the builder must widen back to the full struct — the positional
    // reader mapping crashed (ArrayIndexOutOfBounds) or mis-mapped
    // type-coincident siblings when the pruned struct was used as-is
    assert(df.select(F.col("meta.n")).orderBy("n").collect().map(_.getInt(0)).toSeq
      == Seq(1, 2))
    assert(df.select(F.col("meta.k")).orderBy("k").collect().map(_.getString(0)).toSeq
      == Seq("k1", "k2"))
    // mixed top-level + nested, and both nested fields in writer order
    assert(df.select(F.col("id"), F.col("meta.k")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "k1"), (2L, "k2")))
    // top-level pruning still reaches the scan alongside the widened struct
    val plan = df.select(F.col("meta.n")).queryExecution.executedPlan.toString
    assert(plan.contains("graft-avro [meta]"),
      s"expected the widened meta struct (and nothing else) on the scan node in:\n$plan")
  }

  test("V2 connector: sync-marker splits partition one file exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-split").toFile
    val schema = org.apache.avro.SchemaBuilder.record("r").fields()
      .requiredLong("id").requiredString("payload").endRecord()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.setSyncInterval(1 << 12) // small blocks -> many sync points
    w.create(schema, new java.io.File(dir, "big.avro"))
    try (0L until 20000L).foreach { i =>
      w.append(new GenericRecordBuilder(schema)
        .set("id", i).set("payload", s"row-$i-" + "x" * 50).build())
    } finally w.close()
    val df = spark.read.format(classOf[graft.sources.AvroDataSource].getName)
      .option("maxSplitBytes", "65536")
      .load(new java.io.File(dir, "big.avro").getPath)
    // many byte-range partitions over the one file...
    assert(df.rdd.getNumPartitions > 5,
      s"expected >5 splits, got ${df.rdd.getNumPartitions}")
    // ...and together they read every record exactly once
    assert(df.count() == 20000L)
    assert(df.select("id").distinct().count() == 20000L)
    assert(df.agg(F.sum("id")).collect()(0).getLong(0) == 20000L * 19999L / 2)
  }

  test("avro sink: Writers --to out.avro round-trips through the V2 scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-sink").toFile
    val df = Seq(
      (1L, "one", Some(1.5), Seq(1.0, 2.0), java.sql.Timestamp.valueOf("2024-02-01 10:30:00.000001"),
        java.sql.Date.valueOf("2024-02-01")),
      (2L, "two", None, Seq(3.0), java.sql.Timestamp.valueOf("2024-02-02 11:00:00"),
        java.sql.Date.valueOf("2024-02-02")),
      // pre-epoch fractional second: getTime is negative, so a truncating
      // division encoded 23:59:59.5 as +0.5s past the epoch
      (3L, "neg", Some(0.5), Seq(4.0), java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"),
        java.sql.Date.valueOf("1969-12-31"))
    ).toDF("id", "name", "score", "vec", "ts", "d")
    val out = new java.io.File(dir, "out.avro")
    Writers.write(df, Some(out.getPath), Writers.Avro)
    assert(out.isFile, "single-file UX: one .avro file at the destination")
    val back = Registrar.read(spark, out.getPath)
    // types survive the inverse mapping (timestamp-micros / date logical
    // types; nullable -> [null, T] union -> nullable)
    assert(back.schema("score").nullable && back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val got = back.orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // avro cannot leave the engine via stdout (binary format, parquet rule)
    assertThrows[Writers.OutputError](Writers.write(df, Some("-"), Writers.Avro))
  }

  test("decimal logical type: bytes and fixed read as DecimalType; sink round-trips") {
    // read side: a warehouse-exported file with bytes-decimal AND
    // fixed-decimal columns, including negative and pre-scaled values
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-dec").toFile
    val bytesDec = LogicalTypes.decimal(10, 2).addToSchema(Schema.create(Schema.Type.BYTES))
    val fixedDec = LogicalTypes.decimal(12, 4)
      .addToSchema(Schema.createFixed("amt_f", null, null, 16))
    val schema = SchemaBuilder.record("acct").fields()
      .requiredLong("id")
      .name("amount").`type`(bytesDec).noDefault()
      .name("rate").`type`(fixedDec).noDefault()
      .endRecord()
    def dec(s: String, scale: Int): java.math.BigDecimal =
      new java.math.BigDecimal(s).setScale(scale)
    def bytesOf(bd: java.math.BigDecimal): java.nio.ByteBuffer =
      java.nio.ByteBuffer.wrap(bd.unscaledValue().toByteArray)
    def fixedOf(bd: java.math.BigDecimal): GenericData.Fixed = {
      // fixed decimals are right-aligned, sign-extended to the fixed size
      val raw = bd.unscaledValue().toByteArray
      val out = new Array[Byte](16)
      val pad: Byte = if (bd.signum() < 0) -1 else 0
      java.util.Arrays.fill(out, pad)
      System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
      new GenericData.Fixed(schema.getField("rate").schema(), out)
    }
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(dir, "part-0.avro"))
    try Seq(("123.45", "0.0625", 1L), ("-9.99", "-12.3456", 2L)).foreach { case (a, r, id) =>
      w.append(new GenericRecordBuilder(schema)
        .set("id", id).set("amount", bytesOf(dec(a, 2))).set("rate", fixedOf(dec(r, 4)))
        .build())
    } finally w.close()
    val df = Registrar.read(spark, new java.io.File(dir, "part-0.avro").getPath)
    assert(df.schema("amount").dataType == DecimalType(10, 2))
    assert(df.schema("rate").dataType == DecimalType(12, 4))
    val got = df.orderBy("id").collect()
      .map(r => (r.getDecimal(1).toPlainString, r.getDecimal(2).toPlainString)).toSeq
    assert(got == Seq(("123.45", "0.0625"), ("-9.99", "-12.3456")))

    // write side: a Spark decimal column round-trips through the sink
    val src = df.select(F.col("id"), F.col("amount"),
      F.expr("cast(null as decimal(10,2))").as("maybe"))
    val out = new java.io.File(dir, "back.avro")
    Writers.write(src, Some(out.getPath), Writers.Avro)
    val back = Registrar.read(spark, out.getPath)
    assert(back.schema("amount").dataType == DecimalType(10, 2) &&
      back.schema("maybe").nullable)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDecimal(1).toPlainString, r.isNullAt(2))).toSeq ==
      Seq((1L, "123.45", true), (2L, "-9.99", true)))
  }

  test("unsupported avro shapes fail loudly at schema time") {
    // multi-branch union: no faithful Spark type
    val multi = SchemaBuilder.record("r").fields()
      .name("u").`type`().unionOf().intType().and().stringType().endUnion().noDefault()
      .endRecord()
    val eu = intercept[Registrar.SourceError](AvroScan.toStruct(multi))
    assert(eu.getMessage.contains("union"))
    // decimal past Spark's precision ceiling: no faithful DecimalType
    val dec = Schema.create(Schema.Type.BYTES)
    LogicalTypes.decimal(44, 2).addToSchema(dec)
    val decRec = SchemaBuilder.record("r2").fields()
      .name("d").`type`(dec).noDefault().endRecord()
    val ed = intercept[Registrar.SourceError](AvroScan.toStruct(decRec))
    assert(ed.getMessage.contains("decimal"))
  }
}
