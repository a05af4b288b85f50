package graft

import org.apache.spark.sql.SparkSession
import graft.prql.Graft
import graft.sources.Registrar
import graft.io.Writers
import java.nio.file.{Files, Paths}

/** pq-compatible CLI entry (reference /root/reference/src/main.rs:38-81).
  *
  * Usage: graft.Cli [QUERY] [--from alias=path ...] [--to dest]
  *                  [--format csv|json|parquet|table] [--backend b]
  *                  [--writer arrow|backend] [--sql] [--no-exec] [--explain]
  *
  * Behavior mirrored from the reference:
  *  - query from positional arg, stdin (`-`), or a *.prql file path
  *    (main.rs:124-136)
  *  - every flag falls back to a PQ_* environment variable (main.rs:40-80)
  *  - auto-`from`: query without a `from` + registered sources → prepend
  *    `from <last-source>`; empty query → `from <last-source>`
  *    (main.rs:144-150, README.md:147-150,171-173)
  *  - `--sql`: raw SQL passthrough, executed by spark.sql (main.rs:278-285)
  *  - `--no-exec`: print what would run (our analyzed logical plan — the
  *    Spark equivalent of the generated SQL, main.rs:229-231)
  *  - `--writer` accepted for CLI compat (the reference's non-default
  *    writer is itself unimplemented); `--backend` values other than
  *    auto/spark and non-postgres `-d` URLs fail loudly (the reference's
  *    backend dispatch is main.rs:235-251; postgres attach → JDBC via
  *    [[graft.sources.Connectors]])
  */
object Cli {

  final case class Args(
      query: Option[String] = None,
      from: Seq[String] = Nil,
      to: Option[String] = None,
      format: Option[String] = None,
      database: Option[String] = None,
      backend: Option[String] = None,
      sql: Boolean = false,
      noExec: Boolean = false,
      explain: Boolean = false)

  /** `.env` loading (main.rs:117 dotenvy parity): KEY=VALUE lines, `#`
    * comments and blanks skipped; real environment wins over the file. */
  def loadDotEnv(dir: String = "."): Map[String, String] = {
    val f = new java.io.File(dir, ".env")
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines()
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k.trim -> v.trim }
      .toMap
  }

  def parseArgs(argv: Array[String], dotEnvDir: String = "."): Args = {
    val dotEnv = loadDotEnv(dotEnvDir)
    def env(k: String): Option[String] =
      sys.env.get(k).orElse(dotEnv.get(k)).filter(_.nonEmpty)
    var a = Args(
      from = env("PQ_FROM").map(_.split(';').toSeq).getOrElse(Nil),
      to = env("PQ_TO"),
      format = env("PQ_FORMAT"),
      database = env("PQ_DATABASE"),
      backend = env("PQ_BACKEND"),
      sql = env("PQ_SQL").exists(_ == "true"),
      noExec = env("PQ_NO_EXEC").exists(_ == "true"),
      explain = env("PQ_EXPLAIN").exists(_ == "true"))
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= argv.length)
        throw Writers.OutputError(s"flag $flag requires a value")
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case f @ ("--from" | "-f") => a = a.copy(from = a.from :+ value(f)); i += 2
        case f @ ("--to" | "-t")   => a = a.copy(to = Some(value(f))); i += 2
        case f @ "--format"        => a = a.copy(format = Some(value(f))); i += 2
        case f @ ("--database" | "-d") => a = a.copy(database = Some(value(f))); i += 2
        case f @ ("--backend" | "-b")  => a = a.copy(backend = Some(value(f))); i += 2
        case f @ "--writer" =>
          // compat no-op: the reference's non-default writer is itself
          // `unimplemented!` (main.rs), so accepting-and-ignoring is parity
          value(f); i += 2
        case "--sql"         => a = a.copy(sql = true); i += 1
        case "--no-exec"     => a = a.copy(noExec = true); i += 1
        case "--explain"     => a = a.copy(explain = true); i += 1
        case q               => a = a.copy(query = Some(q)); i += 1
      }
    }
    a
  }

  /** Query intake: positional arg, `-` = stdin, `*.prql` = file path
    * (main.rs:124-136). */
  def readQuery(q: Option[String]): String = q match {
    case None | Some("-") => scala.io.Source.stdin.mkString.trim
    case Some(path) if path.endsWith(".prql") =>
      new String(Files.readAllBytes(Paths.get(path))).trim
    case Some(text) => text.trim
  }

  /** Auto-`from` insertion (main.rs:144-150). */
  def withAutoFrom(query: String, sources: Seq[String]): String = {
    val hasFrom = query.linesIterator.exists(_.trim.startsWith("from"))
    if (hasFrom || sources.isEmpty) query
    else if (query.isEmpty) s"from ${sources.last}"
    else s"from ${sources.last}\n$query"
  }

  /** The whole CLI behavior minus session lifecycle — testable with an
    * injected session. */
  def run(args: Args)(implicit spark: SparkSession): Unit = {
    // execution here is always Spark; a backend we can't honor must fail
    // loudly (the reference's equivalent is "No backends found!",
    // main.rs:257-260) rather than silently run on the wrong engine
    args.backend.foreach {
      case "auto" | "spark" => ()
      case b => throw Writers.OutputError(
        s"backend '$b' is not available: execution is always Spark here " +
          "(use --backend spark, or drop the flag)")
    }
    val fmt = Writers.inferFormat(args.to, args.format)
    val tables = args.database match {
      case None => Registrar.registerAll(spark, args.from)
      case Some(db) if db.startsWith("postgres") =>
        graft.sources.Connectors.registerPostgres(spark, db, args.from)
      case Some(db) if db.startsWith("sqlite://") =>
        // the reference attaches sqlite files via DuckDB's sqlite_scanner
        // (duckdb.rs:75-83); here a native reader of the public file
        // format serves the same `-d sqlite://path` contract
        graft.sources.SqliteV2.registerSqlite(spark, db, args.from)
      case Some(db) if db.startsWith("duckdb://") =>
        // the reference opens the .duckdb file directly (duckdb.rs:108-111,
        // README.md:204); here the bundled DuckDB JDBC driver serves the
        // same `-d duckdb://path` contract: per-source reads, attach-all
        // from the live catalog with zero sources, read-only open
        graft.sources.Connectors.registerDuckdb(spark, db, args.from)
      case Some(db) =>
        throw Writers.OutputError(
          s"database '$db' is not supported by the Spark engine: only " +
            "postgres:// (JDBC), sqlite:// (native file-format reader) " +
            "and duckdb:// (bundled JDBC driver) can be attached")
    }
    val names = args.from.map(s => Registrar.standardiseSource(s)._1)
    val raw = readQuery(args.query)

    val df =
      if (args.sql) spark.sql(raw) // main.rs:75-76 passthrough
      else Graft.compile(withAutoFrom(raw, names), tables)

    if (args.noExec) println(df.queryExecution.analyzed.toString())
    else if (args.explain)
      // the plan-side sibling of --no-exec: the optimized PHYSICAL plan
      // (codegen spans, pushed filters, exchanges) — what a plan audit
      // reads; formatted = node list + per-node detail
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    else Writers.write(df, args.to, fmt)
  }

  def main(argv: Array[String]): Unit = {
    implicit val spark: SparkSession = GraftSession.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]"), GraftSession.cpus)
      .appName("graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(parseArgs(argv))
    finally spark.stop()
  }
}
