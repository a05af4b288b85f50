package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** `--to` equivalent: output-format inference and single-file writers.
  *
  * Mirrors /root/reference/src/main.rs:164-196 (format from extension,
  * `table`/`tbl` to stdout, reject parquet→tty, reject mismatched
  * `--format` vs extension) and the reference's single-file output UX
  * (main.rs:267-276): Spark writes part-file directories, so we write to a
  * temp dir and move the single part file to the destination (SURVEY §4).
  */
object Writers {

  final case class OutputError(msg: String) extends RuntimeException(msg)

  sealed trait Format { def name: String }
  case object Csv extends Format { val name = "csv" }
  case object Json extends Format { val name = "json" }
  case object Parquet extends Format { val name = "parquet" }
  case object Avro extends Format { val name = "avro" }
  case object Orc extends Format { val name = "orc" } // beyond-reference
  case object Table extends Format { val name = "table" }

  def parseFormat(s: String): Format = s.toLowerCase match {
    case "csv" => Csv
    case "json" => Json
    case "parquet" => Parquet
    case "avro" => Avro
    case "orc" => Orc
    case "table" | "tbl" => Table
    case other => throw OutputError(s"unsupported format: $other")
  }

  /** Infer writer from destination + optional explicit --format
    * (main.rs:164-196). `to` None/"-" means stdout. */
  def inferFormat(to: Option[String], explicit: Option[String]): Format = {
    val fromExt = to.filterNot(_ == "-").flatMap { path =>
      val base = new File(path).getName
      val i = base.lastIndexOf('.')
      if (i < 0) None
      else base.substring(i + 1).toLowerCase match {
        case "csv" => Some(Csv)
        case "json" => Some(Json)
        case "parquet" => Some(Parquet)
        case "avro" => Some(Avro)
        case "orc" => Some(Orc)
        case "table" | "tbl" => Some(Table)
        case _ => None
      }
    }
    val fromFlag = explicit.map(parseFormat)
    (fromExt, fromFlag) match {
      case (Some(a), Some(b)) if a != b =>
        throw OutputError(s"--format ${b.name} conflicts with destination extension ${a.name}")
      case (Some(a), _) => a
      case (None, Some(b)) =>
        if ((b == Parquet || b == Avro || b == Orc) && to.forall(_ == "-"))
          throw OutputError(s"${b.name} cannot be written to stdout") // main.rs:188-191
        b
      case (None, None) => Table
    }
  }

  /** Write a DataFrame to a single file at `dest` (or stdout for Table).
    * The coalesce(1) is a deliberate CLI-UX choice mirroring the reference's
    * single-file writes — library users writing datasets at scale should use
    * `df.write` directly. */
  def write(df: DataFrame, dest: Option[String], fmt: Format): Unit = fmt match {
    case Table => print(formatTable(df))
    case _ =>
      val toStdout = dest.forall(_ == "-")
      if (toStdout && (fmt == Parquet || fmt == Avro || fmt == Orc))
        throw OutputError(s"${fmt.name} cannot be written to stdout") // main.rs:188-191
      val tmp = Files.createTempDirectory("graft-out").toString
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      try {
        val w = df.coalesce(1).write.mode("overwrite")
        fmt match {
          case Csv => w.option("header", "true").csv(tmp)
          case Json => w.json(tmp)
          case Parquet => w.parquet(tmp)
          case Orc => w.orc(tmp)
          // beyond-reference sink symmetry for the graft-avro source; the
          // hadoop committer nests part files under the output dir directly
          case Avro => graft.sources.AvroWrite.write(df.coalesce(1), tmp + "/av")
          case Table => // unreachable
        }
        val part = Option(new File(if (fmt == Avro) tmp + "/av" else tmp).listFiles())
          .getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-"))
          .getOrElse(throw OutputError("no output part file produced"))
        if (toStdout) // `--to -` / no dest: stream text formats to stdout (main.rs writer contract)
          print(new String(Files.readAllBytes(part.toPath)))
        else
          Files.move(part.toPath, Paths.get(dest.get), StandardCopyOption.REPLACE_EXISTING)
      } finally rm(new File(tmp))
  }

  /** ASCII table of ALL rows — the reference prints everything
    * (pretty_format_batches, duckdb.rs:187-191), unlike df.show(n). */
  def formatTable(df: DataFrame): String = {
    val cols = df.columns
    val rows: Array[Row] = df.collect()
    val cells: Array[Array[String]] =
      rows.map(r => cols.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("")).toArray)
    val widths = cols.indices.map { i =>
      (cells.map(_(i).length) :+ cols(i).length).max
    }
    def line(ch: String = "-") = widths.map(w => ch * (w + 2)).mkString("+", "+", "+\n")
    def fmtRow(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => " " + v.padTo(w, ' ') + " " }.mkString("|", "|", "|\n")
    val sb = new StringBuilder
    sb.append(line()).append(fmtRow(cols.toSeq)).append(line())
    cells.foreach(c => sb.append(fmtRow(c.toSeq)))
    sb.append(line())
    sb.toString
  }
}
