package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness contract every `SparkEntry.entries` entry must honor.
  *
  * The driver compare loads each entry's parquet into pandas, sorts by
  * every column, and hashes cell values — an array/struct/map column
  * crashes that sort with `unhashable type: 'numpy.ndarray'` and silently
  * voids the entry's correctness row (x80 in round 8). Catch that HERE,
  * in `sbt test`, not two hops later in the driver's pandas.
  *
  * Construction at sf0.001 is cheap: for declarative entries `.schema`
  * only runs analysis; the handful of fit-path entries (PQ/OPQ/k-means)
  * run their bounded driver-side collects, which at sf0.001 is sub-second
  * each.
  *
  * SIGN-OF-ZERO authoring contract (r17, SURVEY §8): any entry whose
  * rounded output can be a near-zero ratio/difference (r², correlation,
  * slope, divergence, signed delta) must canonicalize `-0.0` on BOTH
  * sides — Spark via `Quant.noNegZero`, oracle via a trailing `+ 0.0`
  * after the `round(...)`. The driver's hash distinguishes the sign of
  * zero (x222 was red for two rounds on exactly this); the local gate
  * (`scripts/oracle_check.py`) is sign-aware since r17, so a violation
  * surfaces in the verify run rather than at the driver.
  *
  * LAMBDA authoring contract: a lambda (`transform`, `filter`,
  * `aggregate`, `zip_with`, ...) reads only its own variables, attributes
  * and literals. Higher-order functions are interpreted once per array
  * element and subexpression elimination does not reach into them, so a
  * tokenize, normalize, cast or vector op written inside a lambda reruns
  * for every element (x121 re-split each document once per trigram).
  * Bind such a value in a projection below the lambda, and keep a second
  * reference to it outside the lambda: `CollapseProject` inlines a binding
  * that its consumer references once, and a filter pushed below the
  * projection inlines every binding it reads. `SparkTest.lambdaInvariants`
  * checks every entry's final and eager plans.
  */
class EntryContractSpec extends AnyFunSuite {
  private val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  test("every entry output column is scalar-typed (driver-hashable)") {
    // The same loop also guards the table catalog: an entry reads its tables
    // with `Registrar.table`, whose frames carry their footer schemas, so its
    // construction starts no `parquet at ...` schema-inference job.
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val ((df, sites), eager) = SparkTest.plansDuring(SparkTest.jobSitesDuring(fn(spark, dir)))
      val invariant = (df.queryExecution.optimizedPlan +: eager)
        .flatMap(SparkTest.lambdaInvariants).map(_.sql).distinct
      (name, SparkEntry.unhashable(df.schema).map(f => s"$name(${f.name}: ${f.dataType.simpleString})"),
        sites.count(_.startsWith("parquet at")), invariant.map(e => s"$name: $e"))
    }
    val offenders = built.flatMap(_._2)
    assert(offenders.isEmpty,
      s"non-scalar entry outputs — reshape with posexplode/concat_ws as " +
        s"x80/x63/x69 do: ${offenders.mkString(", ")}")
    val inferring = built.collect { case (name, _, n, _) if n > 0 => s"$name ($n)" }
    assert(inferring.isEmpty,
      s"entries whose construction infers a parquet schema — read tables with " +
        s"Registrar.table(s, dir, name): ${inferring.mkString(", ")}")
    val perElement = built.flatMap(_._4)
    assert(perElement.isEmpty,
      s"${built.count(_._4.nonEmpty)} entries evaluate lambda-invariant work once per " +
        s"array element — bind it below the lambda: ${perElement.mkString("\n")}")
  }

  test("the lambda guard flags a per-row value read inside a lambda") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.{functions => F}
    val docs = graft.sources.Registrar.table(spark, dir, "documents")
    def invariants(df: org.apache.spark.sql.DataFrame): Seq[String] =
      SparkTest.lambdaInvariants(df.queryExecution.optimizedPlan).map(_.sql)
    // TextOps.ngramNovelty's trigram census as it was, then as it is
    def trigrams(toks: Column): Column = {
      val m = F.size(toks) - 2
      F.explode(F.array_distinct(F.when(m >= 1, F.transform(F.sequence(F.lit(1), m),
        i => F.concat_ws(" ", F.slice(toks, i, F.lit(3))))).otherwise(F.array())))
    }
    val split = F.filter(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
      "\\s+"), t => F.length(t) > 0)
    val inline = invariants(docs.select(F.col("doc_id"), trigrams(split)))
    assert(inline.exists(_.startsWith("filter(split(lower(trim(coalesce(text")), inline)
    assert(invariants(docs.select(F.col("doc_id"), split.as("toks"))
      .select(F.col("doc_id"), trigrams(F.col("toks")))).isEmpty)
    // bound, but read only inside the lambda: CollapseProject inlines it
    val once = invariants(docs.select(F.upper(F.col("text")).as("u"), F.col("doc_id"))
      .select(F.transform(F.array(F.col("doc_id")), i => F.concat(F.col("u"), i))))
    assert(once == Seq("upper(text)"), once)
  }

  test("SPARK_GRAFT_ONLY selects the named entries and fails on an unknown name") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some(" ")).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some("x92_pagerank, q01_take_sort")).keySet ==
      Set("x92_pagerank", "q01_take_sort"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("x92_pagerank,x92_pagernak,q99")))
    assert(e.getMessage.contains("q99, x92_pagernak"), e.getMessage)
  }

  test("entries without an oracle are exactly the documented rows-only set") {
    // An entry's check is an Oracle or the twins it is PinnedBy, so the
    // views of the entry list must partition it.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == SparkEntry.pinnedBy.keySet)
  }

  test("building the entry list fails on a name given twice") {
    val e = SparkEntry.entries.head
    val err = intercept[IllegalArgumentException](SparkEntry.uniquelyNamed(e, SparkEntry.entries(1), e))
    assert(err.getMessage.contains(e.name), err.getMessage)
  }

  test("short ids are unique across the entry list") {
    // Bench prints its timings keyed by short id: a repeated xNN_ prefix
    // would silently overwrite a row of the printed JSON.
    val clashes = SparkEntry.entries.map(_.name).groupBy(Bench.shortId)
      .collect { case (id, names) if names.size > 1 => s"$id: ${names.mkString(", ")}" }
    assert(clashes.isEmpty, clashes.mkString("; "))
  }

  test("every rows-only entry names its oracle twin in SURVEY §8's twin " +
      "table, and the twin is itself hash-checked") {
    // The twin convention is a CONTRACT, not prose: a rows-only entry is
    // only acceptable because a hash-green twin replays its math. Require
    // (a) SURVEY §8's twin table to name exactly each entry's PinnedBy
    // twins, (b) every twin to exist AND carry its own Oracle (so the twin
    // really is hash-checked, not rows-only too).
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val lines = try survey.getLines().toVector finally survey.close()
    val tableRows = lines
      .dropWhile(!_.startsWith("### Rows-only entries"))
      .takeWhile(l => !l.startsWith("### ") ||
        l.startsWith("### Rows-only entries"))
      .filter(l => l.startsWith("| x"))
      .map { l =>
        val cells = l.split("\\|").map(_.trim).filter(_.nonEmpty)
        cells(0) -> "x[0-9]+_[a-z0-9_]+".r.findAllIn(cells(1)).toSet
      }.toMap
    val pinned = SparkEntry.pinnedBy.map { case (entry, twins) => entry -> twins.toSet }
    val differ = (tableRows.keySet ++ pinned.keySet).filter(e => tableRows.get(e) != pinned.get(e))
    assert(differ.isEmpty, "SURVEY twin table rows that differ from the entries' PinnedBy: " +
      differ.toSeq.sorted.map(e => s"$e: table ${tableRows.get(e)}, PinnedBy ${pinned.get(e)}")
        .mkString("; "))
    for ((entry, twins) <- SparkEntry.pinnedBy; twin <- twins) {
      assert(SparkEntry.queries.contains(twin),
        s"$entry names twin $twin which is not a queries entry")
      assert(SparkEntry.oracleSql.contains(twin),
        s"$entry names twin $twin which is itself rows-only — a twin " +
          "must be hash-checked")
    }
  }
}
