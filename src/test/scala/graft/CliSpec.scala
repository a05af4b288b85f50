package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Writers
import graft.sources.Registrar

/** Unit tests for the pq-compatible CLI plumbing (reference main.rs
  * behaviors: arg parsing, auto-from insertion, source name normalization,
  * output-format inference).
  */
class CliSpec extends AnyFunSuite {

  test("parseArgs: flags, aliases, compat no-ops, positional query") {
    val a = Cli.parseArgs(Array(
      "-f", "i=/data/invoices.csv", "--from", "x.parquet",
      "--to", "out.json", "--backend", "duckdb", "--writer", "arrow",
      "-d", "postgres://h/db",
      "from i | take 5"))
    assert(a.from == Seq("i=/data/invoices.csv", "x.parquet"))
    assert(a.to.contains("out.json"))
    assert(a.query.contains("from i | take 5"))
    assert(a.backend.contains("duckdb"))
    assert(a.database.contains("postgres://h/db"))
    assert(!a.sql && !a.noExec)
    assert(Cli.parseArgs(Array("--sql", "SELECT 1")).sql)
    assert(Cli.parseArgs(Array("--no-exec", "from t")).noExec)
    // a value-taking flag at the end fails loudly, not with an index error
    intercept[Writers.OutputError](Cli.parseArgs(Array("from t", "--to")))
  }

  test("unsupported --backend and -d fail loudly; spark/auto pass (VERDICT r1 #5)") {
    implicit val spark = SparkTest.session
    // backends the engine can't honor → clear error, not silent wrong engine
    val eb = intercept[Writers.OutputError] {
      Cli.run(Cli.parseArgs(Array("--backend", "duckdb", "--sql", "SELECT 1")))
    }
    assert(eb.getMessage.contains("not available"))
    // spark / auto are honored (execution IS spark)
    Cli.run(Cli.parseArgs(Array("--backend", "spark", "--sql", "SELECT 1", "--to",
      java.nio.file.Files.createTempDirectory("b").resolve("o.csv").toString)))
    // duckdb:// is a real attach now (bundled JDBC driver, round 14) — a
    // missing file fails loudly instead of silently materializing an
    // empty database at the typo'd path
    val ed = intercept[graft.sources.Connectors.ConnectorError] {
      Cli.run(Cli.parseArgs(Array("-d", "duckdb://chinook.duckdb", "from tracks")))
    }
    assert(ed.getMessage.contains("does not exist"), ed.getMessage)
    // any other scheme still refuses with the supported list
    val eo = intercept[Writers.OutputError] {
      Cli.run(Cli.parseArgs(Array("-d", "mysql://h/d", "from tracks")))
    }
    assert(eo.getMessage.contains("not supported"), eo.getMessage)
    // a sqlite attach of a missing file fails loudly too (file-level error,
    // not a swallowed -d)
    assertThrows[Exception](
      Cli.run(Cli.parseArgs(Array("-d", "sqlite:///tmp/nonexistent-db.sqlite", "from tracks"))))
    // avro is a real scan now (AvroScanSpec) — a missing path still fails
    // loudly, not with a silent empty relation
    assertThrows[Exception](Registrar.read(spark, "/tmp/nonexistent.avro").collect())
  }

  test("auto-from: prepend last source when query lacks from (main.rs:144-150)") {
    assert(Cli.withAutoFrom("take 5", Seq("a", "b")) == "from b\ntake 5")
    assert(Cli.withAutoFrom("", Seq("a", "b")) == "from b")
    assert(Cli.withAutoFrom("from a | take 5", Seq("a", "b")) == "from a | take 5")
    assert(Cli.withAutoFrom("take 5", Nil) == "take 5")
  }

  test("source name normalization (main.rs:287-323)") {
    assert(Registrar.standardiseSource("i=/x/invoices.csv") == ("i", "/x/invoices.csv"))
    assert(Registrar.standardiseSource("/x/My Data.csv") == ("My_Data", "/x/My Data.csv"))
    assert(Registrar.standardiseSource("/x/t.parquet") == ("t", "/x/t.parquet"))
    // schema-qualified db table keeps the last dotted part
    assert(Registrar.standardiseSource("public.users")._1 == "users")
  }

  test("format inference from extension and --format (main.rs:164-196)") {
    assert(Writers.inferFormat(Some("out.csv"), None) == Writers.Csv)
    assert(Writers.inferFormat(Some("out.parquet"), None) == Writers.Parquet)
    assert(Writers.inferFormat(None, Some("json")) == Writers.Json)
    assert(Writers.inferFormat(None, None) == Writers.Table)
    // conflicting extension vs flag rejected
    intercept[Writers.OutputError](Writers.inferFormat(Some("out.csv"), Some("json")))
    // parquet to stdout rejected
    intercept[Writers.OutputError](Writers.inferFormat(None, Some("parquet")))
  }

  test("a failing write removes its temp directory") {
    val spark = SparkTest.session
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def outDirs() = Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-out")).map(_.getName).toSet
    val before = outDirs()
    assertThrows[java.nio.file.NoSuchFileException](
      Writers.write(spark.range(3).toDF("n"), Some("/nonexistent/dir/x.csv"), Writers.Csv))
    assert(outDirs() -- before == Set.empty)
  }

  test(".env file supplies PQ_* fallbacks; real environment wins") {
    val dir = java.nio.file.Files.createTempDirectory("dotenv")
    java.nio.file.Files.writeString(dir.resolve(".env"),
      "# comment\nPQ_FORMAT=json\nPQ_NO_EXEC=true\n\nbroken_line_no_eq\n")
    val a = Cli.parseArgs(Array("from t"), dotEnvDir = dir.toString)
    assert(a.format.contains("json") && a.noExec)
    // flags still beat .env
    val b = Cli.parseArgs(Array("--format", "csv", "from t"), dotEnvDir = dir.toString)
    assert(b.format.contains("csv"))
  }

  test("query intake: literal text vs .prql file path") {
    assert(Cli.readQuery(Some("from t | take 5")) == "from t | take 5")
    val f = java.nio.file.Files.createTempFile("q", ".prql")
    java.nio.file.Files.writeString(f, "from t\ntake 3\n")
    assert(Cli.readQuery(Some(f.toString)) == "from t\ntake 3")
  }

  test("end-to-end: csv source through PRQL to a single parquet file") {
    implicit val spark = SparkTest.session
    val dir = java.nio.file.Files.createTempDirectory("cli-e2e")
    val csv = dir.resolve("sales data.csv") // space → underscore normalization
    java.nio.file.Files.writeString(csv,
      "region,amount\neast,10\nwest,30\neast,5\n")
    val out = dir.resolve("totals.parquet").toString
    Cli.run(Cli.parseArgs(Array(
      "-f", csv.toString, "--to", out,
      "from sales_data | group region (aggregate [total = sum amount]) | sort region")))
    val res = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(res == Seq(("east", 15L), ("west", 30L)))
    assert(new java.io.File(out).isFile, "single-file output, not a part dir")
  }

  test("end-to-end: orc sink and orc source round-trip (beyond-reference format)") {
    implicit val spark = SparkTest.session
    val dir = java.nio.file.Files.createTempDirectory("cli-orc")
    val csv = dir.resolve("sales.csv")
    java.nio.file.Files.writeString(csv,
      "region,amount\neast,10\nwest,30\neast,5\n")
    val out = dir.resolve("totals.orc").toString
    Cli.run(Cli.parseArgs(Array(
      "-f", csv.toString, "--to", out,
      "from sales | group region (aggregate [total = sum amount]) | sort region")))
    assert(new java.io.File(out).isFile, "single-file orc output")
    // the orc file registers back as a source by extension
    val res = dir.resolve("back.csv").toString
    Cli.run(Cli.parseArgs(Array("-f", out, "--to", res, "from totals | sort region")))
    val back = java.nio.file.Files.readString(java.nio.file.Paths.get(res))
    assert(back.contains("east,15") && back.contains("west,30"), back)
    // orc cannot stream to stdout, like parquet (main.rs:188-191 rule)
    val err = intercept[graft.io.Writers.OutputError] {
      graft.io.Writers.inferFormat(Some("-"), Some("orc"))
    }
    assert(err.getMessage.contains("stdout"), err.getMessage)
  }

  test("end-to-end: duckdb:// database attach runs the README.md:204 " +
      "example against a chinook-loaded .duckdb file") {
    implicit val spark = SparkTest.session
    // the reference's vendored chinook.duckdb is storage v38 (DuckDB
    // 0.5.x, pre-storage-stability) — unreadable by EVERY current DuckDB
    // including the sandbox's 1.0.0 (SURVEY §8); so build a current-
    // format database from the reference's own chinook CSVs and run the
    // reference README's literal duckdb:// example query against it
    val dir = java.nio.file.Files.createTempDirectory("cli-duckdb")
    val db = dir.resolve("chinook.duckdb").toString
    val csvDir = "/root/reference/examples/chinook/csv"
    Class.forName("org.duckdb.DuckDBDriver")
    val conn = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
    try {
      val st = conn.createStatement()
      st.execute(s"CREATE TABLE albums AS SELECT * FROM read_csv_auto('$csvDir/albums.csv', header=true)")
      st.execute(s"CREATE TABLE artists AS SELECT * FROM read_csv_auto('$csvDir/artists.csv', header=true)")
    } finally conn.close()
    val out = dir.resolve("top.csv").toString
    val q = "from albums | join artists [artist_id] | " +
      "group name (aggregate [num_albums = count]) | " +
      "sort [-num_albums] | take 10"
    // zero --from sources → attach-all from the live DuckDB catalog
    Cli.run(Cli.parseArgs(Array("-d", s"duckdb://$db", "--to", out, q)))
    val viaDuckdb = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out)).trim.linesIterator.toSeq
    assert(viaDuckdb.head == "name,num_albums", viaDuckdb.head)
    val rows = viaDuckdb.drop(1).map { l =>
      val i = l.lastIndexOf(','); (l.substring(0, i), l.substring(i + 1).toLong)
    }
    // ranks 8-12 tie at 4 albums, so the take-10 TAIL membership is
    // plan-order-dependent; pin the deterministic structure: the count
    // ladder, the untied head, and the {Metallica, U2} pair at 10
    assert(rows.map(_._2) == Seq(21L, 14L, 11L, 10L, 10L, 6L, 5L, 4L, 4L, 4L),
      rows)
    assert(rows.take(3).map(_._1) ==
      Seq("Iron Maiden", "Led Zeppelin", "Deep Purple"), rows)
    assert(rows.slice(3, 5).map(_._1).toSet == Set("Metallica", "U2"), rows)
  }

  test("end-to-end: --sql passthrough and table output to stdout") {
    implicit val spark = SparkTest.session
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Cli.run(Cli.parseArgs(Array("--sql", "SELECT 1 AS one, 'x' AS s")))
    }
    val printed = bos.toString
    assert(printed.contains("| one | s |") || printed.contains("| 1   | x |"),
      s"expected ascii table, got:\n$printed")
  }

  test("--explain prints the formatted physical plan, executes nothing") {
    implicit val spark = SparkTest.session
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-explain")
    val csv = dir.resolve("t.csv")
    java.nio.file.Files.writeString(csv, "a,b\n1,2\n3,4\n")
    val out = dir.resolve("never.csv")
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Cli.run(Cli.parseArgs(Array(
        "-f", csv.toString, "--to", out.toString, "--explain",
        "from t | filter a > 1 | select [a]")))
    }
    val printed = bos.toString
    // formatted mode = numbered node list + per-node detail — the shape a
    // plan audit reads (codegen spans, pushed filters, read schema)
    assert(printed.contains("Physical Plan"), s"expected a plan, got:\n$printed")
    assert(printed.contains("(1) Scan"), s"expected numbered nodes:\n$printed")
    assert(!java.nio.file.Files.exists(out), "--explain must not execute the write")
  }

  test("--no-exec over a parquet source prints the plan and fires no Spark job") {
    implicit val spark = SparkTest.session
    val bos = new java.io.ByteArrayOutputStream()
    val (_, jobs) = SparkTest.jobsDuring(Console.withOut(new java.io.PrintStream(bos)) {
      Cli.run(Cli.parseArgs(Array(
        "--no-exec", "--from", "t=/root/testdata/sf0.001/region.parquet", "from t")))
    })
    val printed = bos.toString
    assert(printed.contains("Relation") && printed.contains("r_name"), s"expected a plan, got:\n$printed")
    assert(jobs == 0, s"$jobs job(s) fired by a dry run")
  }
}
