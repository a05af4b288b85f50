package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The harness contract every `SparkEntry.queries` entry must honor.
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
      val bad = df.schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })
      (name, bad.map(f => s"$name(${f.name}: ${f.dataType.simpleString})"),
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

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without a query: $orphans")
  }

  test("entries without an oracle are exactly the documented rows-only set") {
    // Every rows-only entry is an xxhash64/LSH op whose math is pinned by
    // an md5 oracle twin or an OpsSpec equivalence (VERDICT r8). A NEW
    // entry that forgets its oracleSql would silently downgrade to a
    // rows-only driver check — fail HERE instead, and either add the SQL
    // or consciously extend this list with the twin that pins it.
    val rowsOnly = Set(
      "x02_minhash_pairs", "x03_simhash_pairs", "x04_ngram_jaccard",
      "x05_embed_neardup", "x07_knn_lsh", "x15_simhash_sstring",
      "x16_winnow_pairs", "x17_knn_ivf", "x18_frame_sample",
      "x57_minhash_delta", "x71_dsir_weights_prod",
      "x430_media_neardup", // md5 twin: x431_chunk_minhash_fixed
      "x441_compress_census") // census-plumbing twin: x442_compress_census_fixed; deflate codec pinned by OpsSpec replay
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual == rowsOnly,
      s"unexpected rows-only entries (missing oracleSql?): ${actual -- rowsOnly}; " +
        s"stale list entries: ${rowsOnly -- actual}")
  }

  test("every rows-only entry names its oracle twin in SURVEY §8's twin " +
      "table, and the twin is itself hash-checked") {
    // The twin convention is a CONTRACT, not prose: a rows-only entry is
    // only acceptable because a hash-green twin replays its math. Parse
    // the SURVEY §8 twin table and require (a) one row per rows-only
    // entry, (b) every named twin exists in `queries` AND has its own
    // oracleSql (so the twin really is hash-checked, not rows-only too).
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
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val undocumented = rowsOnly -- tableRows.keySet
    assert(undocumented.isEmpty,
      s"rows-only entries missing from the SURVEY twin table: $undocumented")
    val stale = tableRows.keySet -- rowsOnly
    assert(stale.isEmpty, s"twin-table rows no longer rows-only: $stale")
    for ((entry, twins) <- tableRows; twin <- twins) {
      assert(SparkEntry.queries.contains(twin),
        s"$entry names twin $twin which is not a queries entry")
      assert(SparkEntry.oracleSql.contains(twin),
        s"$entry names twin $twin which is itself rows-only — a twin " +
          "must be hash-checked")
    }
  }
}
