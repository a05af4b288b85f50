package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import java.io.File
import scala.util.control.NonFatal

/** `--from` equivalent: reads csv/json/parquet sources and registers them
  * under normalized table names. Name rules mirror the reference
  * (/root/reference/src/main.rs:287-323): `alias=path` split, extension
  * check, filename-minus-extension, spaces→underscores (main.rs:310),
  * schema-qualified DB tables keep the last dotted part (main.rs:313-317).
  *
  * A parquet source's schema comes from its footer, read on the driver
  * ([[parquet]]), as the reference's `register_parquet` dispatch does
  * in-process (its `src/backends/datafusion.rs:37-50`): registering a
  * catalog fires no Spark job.
  */
object Registrar {

  // main.rs:25 lists csv/json/parquet/avro; orc is beyond-reference (the
  // Spark-native columnar sibling — reader/writer ship with the distro)
  val SupportedFileTypes = Set("csv", "json", "parquet", "avro", "orc")

  final case class SourceError(msg: String) extends RuntimeException(msg)

  /** `alias=path` or bare path → (tableName, path). */
  def standardiseSource(spec: String): (String, String) = {
    val (alias, path) = spec.split("=", 2) match {
      case Array(a, p) => (Some(a), p)
      case Array(p)    => (None, p)
    }
    val ext = extensionOf(path)
    val name = alias.getOrElse {
      if (ext.exists(SupportedFileTypes)) {
        val base = new File(path).getName
        base.substring(0, base.lastIndexOf('.')).replace(' ', '_') // main.rs:301-311
      } else if (path.contains(".")) path.split('.').last // main.rs:313-317
      else path
    }
    (name, path)
  }

  private def extensionOf(path: String): Option[String] = {
    val base = new File(path).getName
    val i = base.lastIndexOf('.')
    if (i < 0) None else Some(base.substring(i + 1).toLowerCase)
  }

  /** Read one source by extension — the register_csv/json/parquet dispatch
    * (/root/reference/src/backends/datafusion.rs:37-50), Spark-first. */
  def read(spark: SparkSession, path: String): DataFrame = extensionOf(path) match {
    case Some("csv") =>
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    case Some("json") => spark.read.json(path) // Spark's reader is NDJSON-native
    case Some("parquet") => parquet(spark, path)
    case Some("orc") => spark.read.orc(path) // beyond-reference, Spark-native
    case Some("avro") =>
      // Beyond-reference: pq DECLARES avro and never implements it (its
      // DataFusion branch is `unimplemented!` — /root/reference/src/main.rs:25,
      // datafusion.rs:47-49). The spark-avro datasource jar isn't bundled
      // with this distribution, but the avro container libraries are, so
      // the scan is implemented here: the [[AvroDataSource]] V2 connector
      // (column pruning pushed into the avro reader schema + sync-marker
      // byte-range splits), the one avro reader.
      spark.read.format(classOf[AvroDataSource].getName).load(path)
    case other => throw SourceError(s"unsupported source type: ${other.getOrElse("(none)")} ($path)")
  }

  /** `spark.read.parquet(path)` without its schema-inference job when `path`
    * is one plain parquet file: the footer is read on the driver and
    * converted by the function Spark's inference job runs on each file
    * (`ParquetFileFormat.readSchemaFromFooter`, with the session's
    * binary-as-string, INT96 and `nanosAsLong` settings), so the schema is
    * the same. Directories, globs, hidden names, schema merging and any
    * footer that fails to read or convert go to `spark.read.parquet`, which
    * then infers or reports the error as it always has. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val name = p.getName
    val plain = !path.exists("{}[]*?\\".contains(_)) && !name.startsWith("_") &&
      !name.startsWith(".") && !spark.sessionState.conf.isParquetSchemaMergingEnabled
    if (!plain) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val status = p.getFileSystem(conf).getFileStatus(p)
      if (!status.isFile) None
      else {
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    } catch { case NonFatal(_) => None }
  }

  /** Register a list of `--from` specs; returns name→DataFrame and creates
    * temp views (needed for s-string relation splices via spark.sql). */
  def registerAll(spark: SparkSession, specs: Seq[String]): Map[String, DataFrame] =
    specs.map { spec =>
      val (name, path) = standardiseSource(spec)
      val df = read(spark, path)
      df.createOrReplaceTempView(name)
      name -> df
    }.toMap

  /** All parquet tables in a testdata dir (TESTDATA.md layout). Memoized
    * per (session, dir): the dirs are immutable test fixtures, and without
    * the cache every compiled query re-lists the dir and re-reads each
    * parquet footer on the driver — small, but repeated by every query of
    * a suite. A dir that does not exist is not memoized, so one made later
    * in the session is listed when it is next looked up. */
  def loadParquetDir(spark: SparkSession, dir: String): Map[String, DataFrame] =
    if (!new File(dir).isDirectory) Map.empty
    else dirCache.computeIfAbsent((spark, dir), { case (s, d) =>
      val files = Option(new File(d).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet"))
      files.map { f =>
        val name = f.getName.stripSuffix(".parquet")
        val df = parquet(s, f.getAbsolutePath)
        df.createOrReplaceTempView(name)
        name -> df
      }.toMap
    })

  /** One table of a testdata dir: the memoized [[loadParquetDir]] frame, so
    * an entry's construction fires no schema-inference job. A table the dir
    * does not hold (or a missing dir) fails naming what was found. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val tables = loadParquetDir(spark, dir)
    tables.getOrElse(name, throw SourceError(
      s"no table $name in $dir; found: ${tables.keys.toSeq.sorted.mkString("[", ", ", "]")}"))
  }

  private val dirCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Map[String, DataFrame]]()
}
