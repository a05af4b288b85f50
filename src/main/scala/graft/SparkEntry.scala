package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, MapType, StructField, StructType}
import graft.prql.Graft
import graft.ops.{AsOf, Curation, Dedup, EventOps, Multimodal, RangeJoin, Sampling, Similarity, TextOps}
import graft.sources.Registrar

/** The query entries, each with its check (SURVEY.md §7).
  *
  * Every parity entry below goes through the PRQL compiler
  * (graft.prql.{Parser, Lowering}) — the engine under test — against the
  * parquet tables in the scale-factor dir. An entry's check is its
  * DuckDB-dialect oracle ([[Oracle]]) with identical column names and a
  * total ordering, so the driver's hash compare is deterministic, or, for
  * a rows-only entry, the twins that pin it ([[PinnedBy]]). [[entries]]
  * holds each entry once; [[queries]], [[oracleSql]] and [[pinnedBy]] are
  * views of it.
  *
  * Every entry gets its tables from one catalog, `Registrar.loadParquetDir`'s
  * memoized per-(session, dir) frames: PRQL entries compile against it and
  * operator entries name a table with `Registrar.table(s, dir, "<t>")`, so
  * building an entry fires no schema-inference job.
  */
object SparkEntry {

  /** PRQL-driven query: compile against all tables in the sf dir. */
  private def q(prql: String): (SparkSession, String) => DataFrame =
    (spark, dir) => Graft.compileDir(prql, spark, dir)

  /** Test-vector Carter-Wegman constants shared by the x43 Spark side and
    * its generated DuckDB oracle (NOT the production MinHashSig family —
    * these exist so both engines compute the identical permutations from
    * md5-derived 28-bit hashes without overflow). */
  private val OracleP = 2147483647L // 2^31 - 1, prime
  private val OracleAB: Seq[(Long, Long)] =
    (0 until 16).map(j => (2L * j + 1, 7919L * j + 13))

  /** OracleAB's 16 Carter-Wegman mins over the `hs` hash array. */
  private def oracleMins: Seq[Column] = OracleAB.map { case (a, b) =>
    F.array_min(F.transform(F.col("hs"), h => (h * a + b) % OracleP)) }

  /** The engine-neutral 28-bit element hash: md5's first 7 hex digits. */
  private def md5Hash28(c: Column): Column =
    F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")

  /** The first `n` chars of the lowercased, whitespace-collapsed text. */
  private def normalizedPrefix(n: Int): Column =
    F.substring(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "), 1, n)

  /** The x43 MinHash signature `s0`..`s15` of every 10th document next to
    * `id`: md5 hashes of the distinct 5-char shingles of its first 500
    * normalized chars, then [[oracleMins]]. Shared by x43, x465, x473,
    * x477 and x479. */
  private def md5ShingleSigs(s: SparkSession, dir: String, id: Column): DataFrame = {
    val t = F.col("__t")
    val shingles = F.array_distinct(F.transform(
      F.sequence(F.lit(1), F.greatest(F.length(t) - 4, F.lit(1))),
      i => t.substr(i, F.lit(5))))
    val texts = Registrar.table(s, dir, "documents")
      .filter(F.col("doc_id") % 10 === 0)
      .select(id, normalizedPrefix(500).as("__t"))
    val key = F.col(texts.columns.head)
    texts.select(key, F.transform(shingles, md5Hash28(_)).as("hs"))
      .select(key +: oracleMins.zipWithIndex.map { case (m, j) => m.as(s"s$j") }: _*)
  }

  /** md5 hashes `hs` of the fixed 64-char chunks of each row's first 2048
    * `text` chars, next to `id` (x431, x478). */
  private def md5ChunkHashes(df: DataFrame, id: String): DataFrame = {
    val t = F.col("__t")
    val nChunks = F.greatest(
      F.floor((F.length(t) + F.lit(63)).cast("double") / F.lit(64.0))
        .cast("int"), F.lit(1))
    df.select(F.col(id), F.substring(F.col("text"), 1, 2048).as("__t"))
      .select(F.col(id), F.transform(F.transform(F.sequence(F.lit(0), nChunks - 1),
        i => t.substr(i * 64 + 1, F.lit(64))), md5Hash28(_)).as("hs"))
  }

  /** Strong-mixing Carter-Wegman seeds for the weighted-MinHash oracle
    * entry (x480): multipliers ~1e9 so (a·h + b) mod p wraps many times
    * over the 28-bit md5 element hashes — OracleAB's tiny odd
    * multipliers leave the components monotone-correlated and inflate
    * the agreement estimate. Shared literal-for-literal with the SQL. */
  private val WeightedMinhashAB: Seq[(Long, Long)] =
    (0 until 16).map(j =>
      (((1000000007L * (j + 1)) % 2147483646L) | 1L, 7919L * j + 13))

  /** The x480 weighted-MinHash candidate pipeline (Spark side) —
    * shared by x480 and the x489 transitivity audit so the two entries
    * can never drift. Checkpointed: every consumer reuses the
    * materialized pair set. */
  private def weightedPairsEntry(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Registrar.table(s, dir, "documents")
      .filter(F.col("doc_id") % 21 === 0)
      .select(F.col("doc_id"),
        F.substring(F.col("text"), 1, 1500).as("text"))
    val variant = base.filter(F.col("doc_id") % 3 === 0)
      .select((F.col("doc_id") + 1000000000L).as("doc_id"),
        F.concat(F.col("text"), F.lit(" "),
          F.substring(F.col("text"), 1, 200)).as("text"))
    val corpus = base.unionByName(variant)
    val pairs = graft.ops.Dedup.weightedMinhashPairs(corpus, "doc_id",
      "text", numHashes = 16, bands = 4, threshold = 0.5,
      maxBucket = 1000, maxWeight = 8, elementHash = md5Hash28,
      seeds = WeightedMinhashAB).localCheckpoint()
    (pairs, corpus)
  }

  /** The x480 weighted-MinHash CANDIDATE pipeline (DuckDB) as reusable
    * CTE text through `cand` — tokenization, TF cap, integer
    * expansion, md5 Carter-Wegman mins ([[WeightedMinhashAB]] seeds),
    * x478 banding/guard/est, threshold + pair dedup. Shared by the
    * x480 oracle and the x489 transitivity wrapper. */
  private lazy val WeightedCandCtes: String = {
    val sigSel = WeightedMinhashAB.zipWithIndex.map { case ((a, b), j) =>
      s"min(($a*h + $b) % $OracleP)"
    }.mkString(",\n       |      ")
    s"""base AS (
       |  SELECT doc_id, substring(text, 1, 1500) AS text
       |  FROM documents WHERE doc_id % 21 = 0
       |), vari AS (
       |  SELECT doc_id + 1000000000 AS doc_id,
       |    text || ' ' || substring(text, 1, 200) AS text
       |  FROM base WHERE doc_id % 3 = 0
       |), corpus AS (
       |  SELECT doc_id, text FROM base
       |  UNION ALL SELECT doc_id, text FROM vari
       |), t AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
       |  FROM corpus
       |), tokr AS (
       |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM t
       |), tf AS MATERIALIZED (
       |  SELECT doc_id, tok, least(count(*), 8)::BIGINT AS w
       |  FROM tokr WHERE tok <> '' GROUP BY doc_id, tok
       |), ex AS (
       |  SELECT doc_id, tok || ':' || i::VARCHAR AS e
       |  FROM (SELECT doc_id, tok, unnest(range(1, w + 1)) AS i
       |        FROM tf)
       |), hs AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(e), 1, 7))::BIGINT AS h
       |  FROM ex
       |), sig AS (
       |  SELECT doc_id, [
       |      $sigSel
       |    ] AS sig FROM hs GROUP BY doc_id
       |), banded AS (
       |  SELECT doc_id, sig, band,
       |    array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',')
       |      AS key
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)
       |), sized AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), cpairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, l.sig AS sa, r.sig AS sb
       |  FROM sized l JOIN sized r ON l.band = r.band AND l.key = r.key
       |  WHERE l.doc_id < r.doc_id
       |), est AS (
       |  SELECT a, b,
       |    len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE
       |      / 16.0 AS est_jaccard
       |  FROM cpairs
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT a, b, est_jaccard FROM est
       |  WHERE est_jaccard >= 0.5
       |)""".stripMargin
  }

  /** The x473 LSH-banding-planner oracle (DuckDB) as a reusable
    * subquery — no trailing ORDER BY so the x479 choice-rule wrapper
    * can CTE it. Squaring chains instead of pow (not correctly-rounded
    * everywhere), 9-dp DECIMAL per-pair terms: the exact
    * [[graft.ops.Dedup.lshBandingPlan]] replay. */
  private lazy val LshPlannerPlanSql: String = {
    def chain(e: String, n: Int): String =
      if (n == 1) e else { val h = chain(e, n / 2); s"($h * $h)" }
    def qSql(sExpr: String, b: Int, r: Int): String =
      s"(1.0 - ${chain(s"(1.0 - ${chain(sExpr, r)})", b)})"
    val sigSel = OracleAB.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP)) AS s$j"
    }.mkString(",\n       |    ")
    val eq = (0 until 16).map(j =>
      s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
    val cfgRows = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
      .map { case (bb, rr) =>
        val qv = qSql("sim", bb, rr)
        val qt = qSql("0.5", bb, rr)
        s"""SELECT $bb::INT AS bands, $rr::INT AS rows_per_band,
           |    count(*)::BIGINT AS n_pairs,
           |    round(sum(CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END)
           |      ::DOUBLE / nullif(count(*)::DOUBLE, 0), 6)
           |      AS share_above_t,
           |    round($qt, 6) AS q_at_t,
           |    round(sum(CASE WHEN sim < 0.5 THEN round($qv, 9)
           |        ::DECIMAL(38,9) ELSE 0::DECIMAL(38,9) END)::DOUBLE
           |      / nullif(sum(CASE WHEN sim < 0.5 THEN 1 ELSE 0 END)
           |        ::DOUBLE, 0), 6) AS exp_fp_rate,
           |    round(sum(CASE WHEN sim >= 0.5 THEN round(1.0 - $qv, 9)
           |        ::DECIMAL(38,9) ELSE 0::DECIMAL(38,9) END)::DOUBLE
           |      / nullif(sum(CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END)
           |        ::DOUBLE, 0), 6) AS exp_fn_rate
           |  FROM sims""".stripMargin
      }.mkString("\n       |  UNION ALL ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 500) AS t
       |  FROM documents WHERE doc_id % 10 = 0
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(length(t) - 4, 1) + 1),
       |    i -> substring(t, i::INT, 5))) AS s
       |  FROM t
       |), hs AS (
       |  SELECT doc_id, list_transform(s,
       |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM sh
       |), sig AS (
       |  SELECT doc_id::VARCHAR AS id,
       |    $sigSel
       |  FROM hs
       |), ordered AS (
       |  SELECT *, row_number() OVER (ORDER BY md5('lshp:' || id), id)
       |    AS rn
       |  FROM sig
       |), sims AS MATERIALIZED (
       |  SELECT ($eq)::DOUBLE / 16.0 AS sim
       |  FROM (SELECT * FROM ordered WHERE (rn - 1) % 2 = 0) a
       |  JOIN (SELECT * FROM ordered WHERE (rn - 1) % 2 = 1) b
       |    ON (a.rn - 1) // 2 = (b.rn - 1) // 2
       |)
       |SELECT * FROM (
       |  $cfgRows
       |)""".stripMargin
  }

  /** Value bands for the x48 range-join entry, shared by the Spark side and
    * its generated DuckDB oracle. Deliberately overlapping (retail_window
    * straddles small/mid) so the entry proves multi-interval matches. */
  private val RangeBands: Seq[(String, Double, Double)] = Seq(
    ("micro", 0.0, 2.0), ("small", 2.0, 10.0), ("mid", 10.0, 50.0),
    ("large", 50.0, 1000.0), ("retail_window", 5.0, 25.0))

  /** Fixed 64-bucket weight table for the x49 classifier entry — seeded
    * java.util.Random (algorithm pinned by its Javadoc, stable across JVMs),
    * rounded to 6 dp so the literals are short and parse to identical
    * doubles in both engines (the x45 literal-replay pattern). */
  private val ClassifierW: Seq[Double] = {
    val r = new scala.util.Random(1234L)
    Seq.fill(64)(math.rint((r.nextDouble() * 2 - 1) * 1e6) / 1e6)
  }

  /** Fixed 4-centroid coarse quantizer for the x58 SemDeDup entry — seeded,
    * rounded to 6 dp (the x49 literal-table pattern), scaled to ±0.1 to sit
    * inside the testdata embedding range (±0.37) so the Voronoi cells split
    * the corpus roughly evenly (measured 128/148/174/150 of 600). */
  private val SemCentroids: Array[Array[Double]] = {
    val r = new scala.util.Random(99L)
    Array.fill(4, 64)(math.rint((r.nextDouble() * 0.2 - 0.1) * 1e6) / 1e6)
  }

  /** Fixed [8][8][8] PQ codebook for the x63 entry — seeded, rounded to
    * 6 dp, scaled to ±0.1 (the x58 SemCentroids pattern). Pins the PqEncode
    * argmin + decode/recon math; production codebooks come from
    * [[graft.ops.Similarity.pqFit]]. */
  private val PqCodebooks: Array[Array[Array[Double]]] = {
    val r = new scala.util.Random(7L)
    Array.fill(8, 8, 8)(math.rint((r.nextDouble() * 0.2 - 0.1) * 1e6) / 1e6)
  }

  /** Fixed near-orthogonal 64×64 rotation for the x69 entry: seeded
    * Gaussian rows, Gram-Schmidt, then rounded to 6 dp — rounding costs
    * exact orthogonality but buys identical literals on both engines. The
    * entry pins the rotate→encode→ADC MATH; the LEARNED rotation path is
    * [[graft.ops.Similarity.opqFit]] (OpsSpec orthogonality/recon floors). */
  private val OpqRotation: Array[Array[Double]] = {
    val r = new scala.util.Random(123L)
    val raw = Array.fill(64, 64)(r.nextGaussian())
    for (i <- 0 until 64) {
      for (j <- 0 until i) {
        val d = (0 until 64).map(c => raw(i)(c) * raw(j)(c)).sum
        for (c <- 0 until 64) raw(i)(c) -= d * raw(j)(c)
      }
      val nrm = math.sqrt((0 until 64).map(c => raw(i)(c) * raw(i)(c)).sum)
      for (c <- 0 until 64) raw(i)(c) /= nrm
    }
    raw.map(_.map(v => math.rint(v * 1e6) / 1e6))
  }

  /** Fixed 64-vector "corpus mean" for the x80 PCA entry — seeded, rounded
    * to 6 dp, scaled to ±0.02 (inside the embedding range). Pins the
    * center-then-rotate projection MATH; the LEARNED mean/components path
    * is [[graft.ops.Similarity.pcaFit]] (OpsSpec orthonormality/variance
    * pins). */
  private val PcaMean: Array[Double] = {
    val r = new scala.util.Random(55L)
    Array.fill(64)(math.rint((r.nextDouble() * 0.04 - 0.02) * 1e6) / 1e6)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The invoice_totals.prql pattern (reference examples/queries/
    * invoice_totals.prql:1-21) transposed onto orders/lineitem. */
  def entry(spark: SparkSession): DataFrame =
    Graft.compileDir(flagshipPrql, spark, "/root/testdata/sf0.001")

  private val flagshipPrql =
    """from o=orders
      |join l=lineitem [o.o_orderkey == l.l_orderkey]
      |derive [
      |  month = s"STRFTIME('%Y-%m', {o.o_orderdate})",
      |  day = s"STRFTIME('%Y-%m-%d', {o.o_orderdate})",
      |]
      |group [month, day] (
      |  aggregate [
      |    num_orders = s"COUNT(DISTINCT {o.o_orderkey})",
      |    num_items = sum l.l_quantity,
      |    total_price = sum (l.l_extendedprice * (1 - l.l_discount)),
      |  ]
      |)
      |group [month] (
      |  sort day
      |  window expanding:true (
      |    derive [running_total_num_items = sum num_items]
      |  )
      |)
      |sort day
      |derive [num_items_last_week = lag 7 num_items]
      |take 30""".stripMargin

  /** The entries `SPARK_GRAFT_ONLY` (comma-separated names) selects: all of
    * them when it is unset or empty. A name that is not an entry fails,
    * listing every such name, instead of quietly selecting nothing. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val names = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- all.keySet
    require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names no entry: ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) all else all.filter(e => names(e._1))
  }

  /** How the driver checks an entry's answer. */
  sealed trait Check

  /** Hash-match the entry against this DuckDB-dialect SQL, whose column
    * names and ORDER BY match the Spark side exactly (the driver sorts
    * columns by name, then hashes values). */
  final case class Oracle(sql: String) extends Check

  /** Rows-only: no SQL replays the entry (xxhash64/LSH math), so it is
    * pinned by hash-checked twins that replay the same math through an
    * oracle-replayable hash (SURVEY §8). */
  final case class PinnedBy(twins: String*) extends Check {
    require(twins.nonEmpty, "a rows-only entry names at least one twin")
  }

  /** `run` builds the entry's answer from a session and a scale-factor
    * dir; `check` is how the driver checks it. */
  final case class Entry(name: String, run: (SparkSession, String) => DataFrame, check: Check)

  // views of [[entries]], keyed by name
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  lazy val oracleSql: Map[String, String] =
    entries.collect { case Entry(name, _, Oracle(sql)) => name -> sql }.toMap

  /** Each rows-only entry's twins. */
  lazy val pinnedBy: Map[String, Seq[String]] =
    entries.collect { case Entry(name, _, PinnedBy(twins @ _*)) => name -> twins }.toMap

  /** The output fields the driver compare cannot hash: it sorts and hashes
    * pandas cells, and an array, map or struct column crashes that sort
    * (`unhashable type`, x80 in round 8). An entry emits none of them. */
  def unhashable(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    })

  /** The entries as given; a name given twice fails. */
  private[graft] def uniquelyNamed(entries: Entry*): Seq[Entry] = {
    val twice = entries.groupBy(_.name).collect { case (name, es) if es.size > 1 => name }
    require(twice.isEmpty, s"entry names given twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** One entry per implemented operator from SURVEY.md §2, each with its
    * check. */
  lazy val entries: Seq[Entry] = uniquelyNamed(
    // --- §2b/2c parity: core transforms ---
    Entry("q01_take_sort", q( // sort keys form a TOTAL order — (orderkey,
      // linenumber) alone has duplicates at sf>=0.1 and ties would be
      // engine-dependent
      "from lineitem | sort [l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice] | take 5"),
      Oracle("SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice LIMIT 5")),

    Entry("q02_select_derive", q(
      """from lineitem
        |derive [
        |  disc_price = l_extendedprice * (1 - l_discount),
        |  charge = l_extendedprice * (1 - l_discount) * (1 + l_tax),
        |]
        |select [l_orderkey, l_linenumber, disc_price, charge]
        |sort [l_orderkey, l_linenumber]
        |take 100""".stripMargin),
      Oracle("""SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    Entry("q03_filter_dates", q(
      """from lineitem
        |filter l_shipdate < @1995-01-01 and l_quantity > 30
        |select [l_orderkey, l_linenumber, l_quantity, l_shipdate]
        |sort [l_orderkey, l_linenumber]
        |take 100""".stripMargin),
      Oracle("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate < DATE '1995-01-01' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    Entry("q04_agg_global", q(
      """from lineitem
        |aggregate [
        |  n = count,
        |  sum_qty = sum l_quantity,
        |  avg_price = average l_extendedprice,
        |  max_disc = max l_discount,
        |  min_ship = min l_shipdate,
        |]""".stripMargin),
      Oracle("""SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |  avg(l_extendedprice) AS avg_price, max(l_discount) AS max_disc,
        |  min(l_shipdate) AS min_ship
        |FROM lineitem""".stripMargin)),

    Entry("q05_group_agg", q( // TPC-H Q1 shape
      """from lineitem
        |group [l_returnflag, l_linestatus] (
        |  aggregate [
        |    sum_qty = round 2 (sum l_quantity),
        |    sum_base_price = round 2 (sum l_extendedprice),
        |    sum_disc_price = round 2 (sum (l_extendedprice * (1 - l_discount))),
        |    avg_qty = average l_quantity,
        |    count_order = count,
        |  ]
        |)
        |sort [l_returnflag, l_linestatus]""".stripMargin),
      Oracle("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("q06_join_cond", q(
      """from o=orders
        |join c=customer [o.o_custkey == c.c_custkey]
        |select [o_orderkey, c_name, o_totalprice]
        |sort o_orderkey
        |take 200""".stripMargin),
      Oracle("""SELECT o_orderkey, c_name, o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey LIMIT 200""".stripMargin)),

    Entry("q07_join_using", q(
      """let r2 = (from region | derive [regionkey = r_regionkey] | select [regionkey, r_name])
        |from nation
        |derive [regionkey = n_regionkey]
        |join r2 [==regionkey]
        |select [n_name, r_name]
        |sort n_name""".stripMargin),
      Oracle("""WITH r2 AS (SELECT r_regionkey AS regionkey, r_name FROM region)
        |SELECT n_name, r_name
        |FROM (SELECT *, n_regionkey AS regionkey FROM nation) JOIN r2 USING (regionkey)
        |ORDER BY n_name""".stripMargin)),

    Entry("q08_join_left_coalesce", q(
      """let bigcust = (from customer | filter c_acctbal > 9000.0)
        |from o=orders
        |join side:left b=bigcust [o.o_custkey == b.c_custkey]
        |derive [nm = b.c_name ?? "none"]
        |filter nm != null
        |select [o_orderkey, nm]
        |sort o_orderkey
        |take 500""".stripMargin),
      Oracle("""WITH bigcust AS (SELECT * FROM customer WHERE c_acctbal > 9000.0)
        |SELECT o_orderkey, coalesce(b.c_name, 'none') AS nm
        |FROM orders o LEFT JOIN bigcust b ON o.o_custkey = b.c_custkey
        |WHERE coalesce(b.c_name, 'none') IS NOT NULL
        |ORDER BY o_orderkey LIMIT 500""".stripMargin)),

    Entry("q09_flagship", q(flagshipPrql),
      Oracle("""WITH daily AS (
        |  SELECT STRFTIME(o.o_orderdate, '%Y-%m') AS month,
        |         STRFTIME(o.o_orderdate, '%Y-%m-%d') AS day,
        |         COUNT(DISTINCT o.o_orderkey) AS num_orders,
        |         SUM(l.l_quantity) AS num_items,
        |         SUM(l.l_extendedprice * (1 - l.l_discount)) AS total_price
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2)
        |SELECT month, day, num_orders, num_items, total_price,
        |  SUM(num_items) OVER (PARTITION BY month ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total_num_items,
        |  LAG(num_items, 7) OVER (ORDER BY day) AS num_items_last_week
        |FROM daily ORDER BY day LIMIT 30""".stripMargin)),

    Entry("q10_window_rolling", q(
      """from lineitem
        |group [l_suppkey] (
        |  sort [l_shipdate, l_orderkey, l_linenumber]
        |  window rolling:3 (
        |    derive [qty_3 = sum l_quantity]
        |  )
        |  derive [rn = row_number]
        |)
        |filter rn <= 2
        |select [l_suppkey, l_orderkey, l_linenumber, qty_3, rn]
        |sort [l_suppkey, l_orderkey, l_linenumber]""".stripMargin),
      Oracle("""SELECT l_suppkey, l_orderkey, l_linenumber, qty_3, rn FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS qty_3,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 2 ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    Entry("q11_take_range", q(
      "from customer | sort c_custkey | take 11..20"),
      Oracle("SELECT * FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 10")),

    Entry("q12_append", q(
      """let hi = (from supplier | filter s_acctbal > 9000.0)
        |let lo = (from supplier | filter s_acctbal < -900.0)
        |from hi
        |append lo
        |sort s_suppkey""".stripMargin),
      Oracle("""SELECT * FROM (
        |  SELECT * FROM supplier WHERE s_acctbal > 9000.0
        |  UNION ALL
        |  SELECT * FROM supplier WHERE s_acctbal < -900.0)
        |ORDER BY s_suppkey""".stripMargin)),

    Entry("q13_switch", q(
      """from customer
        |derive [tier = switch [
        |  c_acctbal >= 5000.0 -> "gold",
        |  c_acctbal >= 0.0 -> "silver",
        |  true -> "bronze",
        |]]
        |group [tier] (aggregate [n = count, total_bal = sum c_acctbal])
        |sort tier""".stripMargin),
      Oracle("""SELECT CASE WHEN c_acctbal >= 5000.0 THEN 'gold'
        |            WHEN c_acctbal >= 0.0 THEN 'silver'
        |            ELSE 'bronze' END AS tier,
        |       count(*) AS n, sum(c_acctbal) AS total_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("q14_fstring", q(
      """from nation
        |derive [label = f"{n_name}-{n_nationkey}"]
        |select [label]
        |sort label""".stripMargin),
      Oracle("""SELECT n_name || '-' || CAST(n_nationkey AS VARCHAR) AS label
        |FROM nation ORDER BY label""".stripMargin)),

    Entry("q15_in_range", q(
      """from part
        |filter (p_size | in 10..20)
        |select [p_partkey, p_size]
        |sort p_partkey""".stripMargin),
      Oracle("""SELECT p_partkey, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey""".stripMargin)),

    Entry("q16_func_inline", q(
      """func fahrenheit c -> c * 9 / 5 + 32
        |from supplier
        |derive [f = fahrenheit s_acctbal]
        |select [s_suppkey, f]
        |sort s_suppkey
        |take 50""".stripMargin),
      Oracle("""SELECT s_suppkey, s_acctbal * 9 / 5 + 32 AS f
        |FROM supplier ORDER BY s_suppkey LIMIT 50""".stripMargin)),

    Entry("q17_having", q(
      """from orders
        |group [o_custkey] (aggregate [total = sum o_totalprice, n = count])
        |filter n >= 3
        |sort o_custkey""".stripMargin),
      Oracle("""SELECT o_custkey, sum(o_totalprice) AS total, count(*) AS n
        |FROM orders GROUP BY 1 HAVING count(*) >= 3 ORDER BY 1""".stripMargin)),

    Entry("q18_sort_desc", q(
      """from customer
        |sort [-c_acctbal, c_custkey]
        |select [c_custkey, c_acctbal]
        |take 25""".stripMargin),
      Oracle("""SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 25""".stripMargin)),

    Entry("q19_group_topn", q(
      """from lineitem
        |group [l_returnflag] (
        |  sort [-l_extendedprice, l_orderkey, l_linenumber]
        |  take 3
        |)
        |select [l_returnflag, l_orderkey, l_linenumber, l_extendedprice]
        |sort [l_returnflag, l_orderkey, l_linenumber]""".stripMargin),
      Oracle("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 3
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)),

    Entry("q20_sstring_distinct", q(
      """from orders
        |derive [month = s"STRFTIME('%Y-%m', {o_orderdate})"]
        |group [month] (
        |  aggregate [
        |    num_cust = s"COUNT(DISTINCT {o_custkey})",
        |    total = round 2 (sum o_totalprice),
        |  ]
        |)
        |sort month""".stripMargin),
      Oracle("""SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
        |  COUNT(DISTINCT o_custkey) AS num_cust,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("q21_rank_lead", q(
      """from lineitem
        |group [l_suppkey] (
        |  sort [l_shipdate, l_orderkey, l_linenumber]
        |  derive [
        |    rk = rank,
        |    drk = dense_rank,
        |    next_qty = lead 1 l_quantity,
        |  ]
        |)
        |filter drk <= 2
        |select [l_suppkey, l_orderkey, l_linenumber, rk, drk, next_qty]
        |sort [l_suppkey, l_orderkey, l_linenumber]""".stripMargin),
      Oracle("""SELECT l_suppkey, l_orderkey, l_linenumber, rk, drk, next_qty FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    RANK() OVER w AS rk,
        |    DENSE_RANK() OVER w AS drk,
        |    LEAD(l_quantity, 1) OVER w AS next_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |WHERE drk <= 2 ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    Entry("q22_rows_frame", q(
      """from orders
        |group [o_custkey] (
        |  sort [o_orderdate, o_orderkey]
        |  window rows:-3..0 (
        |    derive [sum4 = sum o_totalprice]
        |  )
        |  derive [rn = row_number]
        |)
        |filter rn <= 3
        |select [o_custkey, o_orderkey, sum4, rn]
        |sort [o_custkey, o_orderkey]""".stripMargin),
      Oracle("""SELECT o_custkey, o_orderkey, sum4, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    SUM(o_totalprice) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sum4,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Entry("q23_first_last_stddev", q(
      """from lineitem
        |group [l_returnflag, l_linestatus] (
        |  aggregate [
        |    sd_qty = stddev l_quantity,
        |    sd_price = stddev l_extendedprice,
        |    n = count,
        |  ]
        |)
        |sort [l_returnflag, l_linestatus]""".stripMargin),
      Oracle("""SELECT l_returnflag, l_linestatus,
        |  stddev_samp(l_quantity) AS sd_qty,
        |  stddev_samp(l_extendedprice) AS sd_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("q24_first_last_window", q(
      """from orders
        |group [o_custkey] (
        |  sort [o_orderdate, o_orderkey]
        |  window expanding:true (
        |    derive [first_price = first o_totalprice]
        |  )
        |  derive [rn = row_number]
        |)
        |filter rn <= 2
        |select [o_custkey, o_orderkey, first_price, rn]
        |sort [o_custkey, o_orderkey]""".stripMargin),
      Oracle("""SELECT o_custkey, o_orderkey, first_price, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Entry("q25_switch_null", q(
      """from customer
        |derive [flag = switch [c_acctbal < 0.0 -> "neg"]]
        |filter flag == null
        |select [c_custkey, c_acctbal]
        |sort c_custkey
        |take 100""".stripMargin),
      Oracle("""SELECT c_custkey, c_acctbal FROM customer
        |WHERE (CASE WHEN c_acctbal < 0.0 THEN 'neg' END) IS NULL
        |ORDER BY c_custkey LIMIT 100""".stripMargin)),

    Entry("q26_strings_math", q(
      """from supplier
        |derive [
        |  bal_abs = abs s_acctbal,
        |  bal_r1 = round 1 s_acctbal,
        |  nm_lower = lower s_name,
        |  nm_len = length s_name,
        |  bal_floor = floor s_acctbal,
        |  bal_ceil = ceil s_acctbal,
        |]
        |select [s_suppkey, bal_abs, bal_r1, nm_lower, nm_len, bal_floor, bal_ceil]
        |sort s_suppkey
        |take 100""".stripMargin),
      Oracle("""SELECT s_suppkey,
        |  abs(s_acctbal) AS bal_abs,
        |  round(s_acctbal, 1) AS bal_r1,
        |  lower(s_name) AS nm_lower,
        |  length(s_name) AS nm_len,
        |  CAST(floor(s_acctbal) AS BIGINT) AS bal_floor,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS bal_ceil
        |FROM supplier ORDER BY s_suppkey LIMIT 100""".stripMargin)),

    Entry("q27_distinct_idiom", q( // PRQL 0.6 has no distinct transform; the
      // idiom is group over all columns + take 1 (SURVEY §2 "deliberately
      // absent" note)
      """from lineitem
        |select [l_returnflag, l_linestatus]
        |group [l_returnflag, l_linestatus] (take 1)
        |sort [l_returnflag, l_linestatus]""".stripMargin),
      Oracle("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin)),

    Entry("q28_loop", q( // PRQL 0.6 experimental `loop` = recursive-CTE
      // equivalent, driven iteratively by the compiler (Lowering.lowerLoop)
      """from region
        |take 1
        |select [n = 1]
        |loop (
        |  filter n < 8
        |  derive [n = n + 1]
        |)
        |sort n""".stripMargin),
      // CAST matches our integer literals' LongType
      Oracle("""WITH RECURSIVE t(n) AS (
        |  SELECT CAST(1 AS BIGINT) UNION ALL SELECT n + 1 FROM t WHERE n < 8)
        |SELECT n FROM t ORDER BY n""".stripMargin)),

    Entry("q29_join_full", q(
      """let hi = (from customer | filter c_acctbal > 9000.0 | select [ck = c_custkey, bal_hi = c_acctbal])
        |let lo = (from customer | filter c_acctbal < -900.0 | select [ck2 = c_custkey, bal_lo = c_acctbal])
        |from hi
        |join side:full lo [ck == ck2]
        |derive [k = ck ?? ck2]
        |select [k, bal_hi, bal_lo]
        |sort k""".stripMargin),
      Oracle("""WITH hi AS (SELECT c_custkey AS ck, c_acctbal AS bal_hi FROM customer WHERE c_acctbal > 9000.0),
        |     lo AS (SELECT c_custkey AS ck2, c_acctbal AS bal_lo FROM customer WHERE c_acctbal < -900.0)
        |SELECT coalesce(ck, ck2) AS k, bal_hi, bal_lo
        |FROM hi FULL JOIN lo ON ck = ck2 ORDER BY k""".stripMargin)),

    Entry("q30_join_right", q(
      """let big = (from orders | filter o_totalprice > 400000.0)
        |from b=big
        |join side:right c=customer [b.o_custkey == c.c_custkey]
        |group [c_custkey] (aggregate [n_big = s"COUNT({b.o_orderkey})"])
        |sort c_custkey""".stripMargin),
      Oracle("""WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000.0)
        |SELECT c_custkey, COUNT(b.o_orderkey) AS n_big
        |FROM big b RIGHT JOIN customer c ON b.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("q31_range_frame", q(
      """from customer
        |filter c_custkey <= 200
        |group [c_nationkey] (
        |  sort c_custkey
        |  window range:-5..0 (
        |    derive [w_bal = sum c_acctbal]
        |  )
        |)
        |select [c_nationkey, c_custkey, w_bal]
        |sort [c_nationkey, c_custkey]""".stripMargin),
      Oracle("""SELECT c_nationkey, c_custkey,
        |  SUM(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS w_bal
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY c_nationkey, c_custkey""".stripMargin)),

    // s-string holes carrying full PRQL EXPRESSIONS (VERDICT r1 #7) — the
    // reference compiles arbitrary expressions into holes; round 1 threw on
    // anything but a column ref. Exercises arithmetic, a user func inlined
    // inside the hole, and `| in a..b` piping (→ BETWEEN).
    // floor (IEEE-exact), not round: decimal rounding of a halfway double is
    // implementation-defined (Spark HALF_UP vs DuckDB) and one tie in 45k
    // rows breaks the hash — same class of divergence as the big-sum
    // rounding note on q05.
    Entry("q32_sstring_expr", q(
      """func net p d -> p * (1 - d)
        |from lineitem
        |filter l_orderkey <= 100
        |derive [
        |  net_cents = s"floor({net l_extendedprice l_discount} * 100)",
        |  qty_band = s"CASE WHEN {l_quantity | in 1..10} THEN 'low' ELSE 'high' END",
        |]
        |select [l_orderkey, l_linenumber, net_cents, qty_band]
        |sort [l_orderkey, l_linenumber]""".stripMargin),
      Oracle("""SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_cents,
        |  CASE WHEN l_quantity BETWEEN 1 AND 10 THEN 'low' ELSE 'high' END AS qty_band
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // interval literals + date arithmetic (VERDICT r1 #8; PRQL 0.6.1
    // surface). o_orderdate is a timestamp, so +INTERVAL stays a timestamp
    // in both engines — no dialect cast needed.
    Entry("q33_interval_arith", q(
      """from orders
        |filter o_orderdate >= @1995-03-01 - 30days and o_orderdate < @1995-03-01 + 2months
        |derive [
        |  due = o_orderdate + 90days,
        |  week_after = o_orderdate + 1weeks,
        |  grace = o_orderdate + 36hours,
        |]
        |select [o_orderkey, o_orderdate, due, week_after, grace]
        |sort o_orderkey""".stripMargin),
      Oracle("""SELECT o_orderkey, o_orderdate,
        |  o_orderdate + INTERVAL 90 DAY AS due,
        |  o_orderdate + INTERVAL 7 DAY AS week_after,
        |  o_orderdate + INTERVAL 36 HOUR AS grace
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-03-01' - INTERVAL 30 DAY
        |  AND o_orderdate < DATE '1995-03-01' + INTERVAL 2 MONTH
        |ORDER BY o_orderkey""".stripMargin)),

    // s-strings written in DuckDB dialect (what a reference user pastes in)
    // crossing the widened SqlShim rename tail: quantile_cont → percentile
    // and epoch_us → unix_micros (VERDICT r2 #4). Both engines compute the
    // exact interpolated median and µs-since-epoch, so the oracle hashes.
    Entry("q34_sstring_duckdb_fns", q(
      """from orders
        |derive [us = s"epoch_us(o_orderdate)"]
        |group o_orderstatus (
        |  aggregate [
        |    p50_price = s"quantile_cont({o_totalprice}, 0.5)",
        |    max_us = max us,
        |  ]
        |)
        |sort o_orderstatus""".stripMargin),
      // the PRQL side splices these same fragments through SqlShim; DuckDB
      // runs them natively — dialect-translation parity is the point
      Oracle("""SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50_price,
        |  max(epoch_us(o_orderdate)) AS max_us
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // --- extensions: training-data pipeline operators (builder prompt) ---
    Entry("x01_dedup_exact", (s, dir) =>
      Dedup.exact(Registrar.table(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "fp", "lang", "n_chars")
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       lang, n_chars
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |        ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    Entry("x02_minhash_pairs", (s, dir) =>
      Dedup.minhashPairs(Registrar.table(s, dir, "documents"),
          "doc_id", "text", threshold = 0.5)
        .orderBy("a", "b"),
      PinnedBy("x43_minhash_fixed")),

    Entry("x03_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(Registrar.table(s, dir, "documents"),
          "doc_id", "text", maxHamming = 6)
        .orderBy("a", "b"),
      PinnedBy("x44_simhash_fixed")),

    Entry("x04_ngram_jaccard", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val cands = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      Dedup.ngramJaccard(cands.select("a", "b"), docs, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("a", "b")
    },
      PinnedBy("x22_ngram_jaccard_fixed")),

    // 16 tables, auto-tuned planes (bucket size stays bounded as the corpus
    // grows — a fixed plane count went quadratic at 10×, see nearDupPairs
    // scaladoc); ~94% recall at cos 0.4 pinned in OpsSpec with the explicit
    // 4-plane config, single-table round-1 config caught ~5%
    Entry("x05_embed_neardup", (s, dir) =>
      Similarity.nearDupPairs(Registrar.table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, nTables = 16)
        .orderBy("a", "b"),
      PinnedBy("x45_lsh_bucket")),

    Entry("x06_knn_brute", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.bruteKnn(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rk")
    },
      Oracle("""WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk
        |  FROM scored)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // 16 tables × 4 planes — measured recall vs bruteKnn pinned in OpsSpec
    // (round-1's single 6-plane table measured <5%)
    Entry("x07_knn_lsh", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.lshKnn(emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding",
          k = 3, nPlanes = 4, nTables = 16)
        .orderBy("query_id", "rk")
    },
      PinnedBy("x89_lsh_knn_twin")),

    Entry("x08_text_quality", (s, dir) =>
      TextOps.withQuality(Registrar.table(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len")
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
        |    / greatest(length(text), 1) AS punct_ratio,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x IN ('the','a','and','of','to','in','is')))::DOUBLE
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio,
        |  (length(text) - len(string_split_regex(trim(text), '\s+')) + 1)::DOUBLE
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("x09_lang_id", (s, dir) =>
      Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"), TextOps.langId(F.col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Oracle("""WITH scored AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in'))) AS en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y','es','un','que'))) AS es
        |  FROM scored)
        |SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS pred_lang
        |FROM hits ORDER BY doc_id""".stripMargin)),

    Entry("x10_fingerprint", (s, dir) =>
      Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"), TextOps.fingerprint(F.col("text")).as("fp"))
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("x11_token_counts", (s, dir) =>
      Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"),
          TextOps.tokenCount(F.col("text")).as("n_ws_tokens"),
          TextOps.bpeishTokenCount(F.col("text")).as("n_bpeish_tokens"))
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("x12_events_hourly", (s, dir) =>
      EventOps.hourlyRollup(Registrar.table(s, dir, "events"))
        .orderBy("hour", "event_type"),
      Oracle("""SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
        |  count(*) AS n, sum(value) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("x13_sessions", (s, dir) =>
      EventOps.sessionStats(Registrar.table(s, dir, "events"))
        .orderBy("user_id", "session_seq"),
      Oracle("""WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT *, (sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  sum(value) AS total_value,
        |  (max(epoch_us(ts)) - min(epoch_us(ts)))::DOUBLE / 1000000 AS duration_sec
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // verified projection is HASHABLE (round-1 red row: the driver's pandas
    // harness can't sort/hash an array<float> column): the L1-normalized
    // float histogram is multiplied back by n_bytes and rounded, which
    // recovers the integer bin counts exactly (float rel-error ~6e-8 × count
    // ≪ 0.5), so the oracle compares exact integers, not float round-off.
    // kind/width/height are xxhash64-derived synthetic metadata DuckDB can't
    // recompute — covered by OpsSpec instead.
    Entry("x14_media_features", (s, dir) => {
      val mf = Multimodal.mediaFeatures(Registrar.table(s, dir, "documents"))(s)
      val bins = (0 until 16).map { j =>
        F.round(F.element_at(F.col("features"), j + 1).cast("double") *
          F.greatest(F.col("n_bytes"), F.lit(1))).cast("bigint").as(f"b$j%02d")
      }
      mf.select(F.col("doc_id") +: F.col("n_bytes").cast("bigint").as("n_bytes") +: bins: _*)
        .orderBy("doc_id")
    },
      // x14: the stub decode is a 16-bin histogram over the HIGH NIBBLE of
      // each UTF-8 byte; hex(encode(text)) renders each byte as two hex chars,
      // so the high nibbles are the odd-position chars — extracted by the
      // capture group of '(.).'
      Oracle {
        val bins = "0123456789ABCDEF".zipWithIndex.map { case (d, j) =>
          f"  len(list_filter(hi, c -> c = '$d')) AS b$j%02d"
        }.mkString(",\n")
        s"""WITH hx AS (
           |  SELECT doc_id,
           |    octet_length(encode(text)) AS n_bytes,
           |    regexp_extract_all(hex(encode(text)), '(.).', 1) AS hi
           |  FROM documents)
           |SELECT doc_id, n_bytes,
           |$bins
           |FROM hx ORDER BY doc_id""".stripMargin
      }),

    Entry("x19_top_tokens", (s, dir) =>
      TextOps.topTokens(Registrar.table(s, dir, "documents"), "text", 50),
      Oracle("""SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin)),

    Entry("x21_length_quantiles", (s, dir) =>
      TextOps.lengthQuantiles(Registrar.table(s, dir, "documents"), "text",
        Seq(0.5, 0.9, 0.99)),
      Oracle("""SELECT quantile_cont(length(text)::DOUBLE, 0.5) AS p50,
        |       quantile_cont(length(text)::DOUBLE, 0.9) AS p90,
        |       quantile_cont(length(text)::DOUBLE, 0.99) AS p99
        |FROM documents""".stripMargin)),

    // the static skew-salting path through the oracle gate: result must be
    // identical to a plain one-phase groupBy
    Entry("x20_salted_rollup", (s, dir) =>
      graft.ops.Scale.saltedSumCount(
          Registrar.table(s, dir, "events"),
          Seq("event_type"), "value", saltFactor = 8)
        .orderBy("event_type"),
      Oracle("""SELECT event_type, sum(value) AS sum_value, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("x18_frame_sample", (s, dir) => {
      implicit val sp = s
      Multimodal.sampleFrames(
          Multimodal.resize(
            Multimodal.synthesizeMedia(Registrar.table(s, dir, "documents")),
            maxW = 640, maxH = 480).toDF())
        .toDF().select("doc_id", "frame_idx", "ts_ms")
        .orderBy("doc_id", "frame_idx")
    },
      PinnedBy("x114_frame_sample_fixed")),

    // the winnowing SELECTION math (window-min over k-gram hashes, distinct
    // — Dedup.winnowPairs' fingerprint stage), oracled: the production path
    // ranks grams by xxhash64 (not SQL-reproducible), so this entry ranks
    // by md5 instead — selection depends only on hash ORDER, and the
    // selected-value set is tie-rule-independent (ties are equal values),
    // so DuckDB replays the identical fingerprint sets. Built with the
    // same HOF shapes (sequence/slice/array_min) Catalyst codegens.
    // Kept cheap on purpose (doc_id%10 subset, first 400 normalized chars):
    // md5-per-gram + string window-mins exist to pin the MATH, not the
    // throughput — x16 is the production-path (xxhash64) winnowing bench.
    Entry("x42_winnow_fixed", (s, dir) => {
      val k = 10; val w = 6
      val t = F.col("__t")
      val grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
        i => F.md5(t.substr(i, F.lit(k))))
      Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 10 === 0)
        .select(F.col("doc_id"), normalizedPrefix(400).as("__t"))
        .select(F.col("doc_id"), grams.as("hs"))
        .select(F.col("doc_id"), F.explode(F.array_sort(F.array_distinct(
          F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(F.col("hs")) - (w - 1), F.lit(1))),
            j => F.array_min(F.slice(F.col("hs"), j, F.lit(w))))))).as("fp"))
        .orderBy("doc_id", "fp")
    },
      // same normalization/grams/window-min as the Spark side, md5-ranked;
      // list_slice is end-INCLUSIVE (j..j+5 = w elements = Spark slice(j, 6))
      Oracle("""WITH t AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 400) AS t
        |  FROM documents WHERE doc_id % 10 = 0
        |), g AS (
        |  SELECT doc_id, list_transform(range(1, greatest(length(t) - 9, 1) + 1),
        |    i -> md5(substring(t, i::INT, 10))) AS hs FROM t
        |), f AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 5, 1) + 1),
        |    j -> list_min(list_slice(hs, j, j + 5))))) AS fps FROM g
        |)
        |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin)),

    // the MinHash math (per-function min over Carter-Wegman-permuted
    // shingle hashes), oracled with engine-neutral primitives: md5-derived
    // 28-bit shingle hashes and fixed test-vector (a, b) constants replace
    // the production xxhash64 family (x02 / functions.MinHashSig), whose
    // bit-identity is separately pinned in OpsSpec. a*h+b stays < 2^59 —
    // no overflow divergence between engines.
    Entry("x43_minhash_fixed", (s, dir) => {
      // bounded to doc_id%10 over the first 500 normalized chars (the x42
      // pattern): the entry pins the Carter-Wegman min MATH — fewer docs
      // lose no coverage, and per-shingle md5 + 14 passes over unbounded
      // text made it the most expensive entry in the suite; x02 is the
      // production minhash benchmark
      md5ShingleSigs(s, dir, F.col("doc_id"))
        .select(F.col("doc_id"), F.concat_ws(",",
          OracleAB.indices.map(j => F.col(s"s$j").cast("string")): _*).as("sig_csv"))
        .orderBy("doc_id")
    },
      // generated from the same OracleAB/OracleP constants as the Spark side
      Oracle {
        val csv = OracleAB.map { case (a, b) =>
          s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP))::VARCHAR"
        }.mkString(" || ',' || ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 500) AS t
           |  FROM documents WHERE doc_id % 10 = 0
           |), sh AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(length(t) - 4, 1) + 1),
           |    i -> substring(t, i::INT, 5))) AS s
           |  FROM t
           |), hs AS (
           |  SELECT doc_id, list_transform(s,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM sh
           |)
           |SELECT doc_id, $csv AS sig_csv FROM hs ORDER BY doc_id""".stripMargin
      }),

    // the SimHash math (per-bit majority vote over token hashes), oracled
    // the same way: md5-derived 28-bit token hashes; bit i set iff strictly
    // more than half the tokens have it set (ties clear, matching the
    // production counts(i) > 0 rule). Production 64-bit xxhash64 simhash is
    // x03/x15; its chunked-join exactness is pinned in OpsSpec.
    Entry("x44_simhash_fixed", (s, dir) => {
      val toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
        x => F.length(x) > 0)
      val th = F.transform(toks, md5Hash28(_))
      val n = F.size(F.col("th"))
      val sig = (0 until 28).map { i =>
        val ones = F.aggregate(F.col("th"), F.lit(0L),
          (acc, h) => acc + F.shiftright(h, i).bitwiseAND(F.lit(1L)))
        F.when(ones * 2 > n, F.lit(1L << i)).otherwise(F.lit(0L))
      }.reduce(_ + _)
      Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 5 === 0)
        .select(F.col("doc_id"), th.as("th"))
        .select(F.col("doc_id"), sig.as("sig"))
        .orderBy("doc_id")
    },
      // bit i of the signature: strictly-majority vote of md5-derived token
      // hashes — the 28 per-bit terms are generated, one list_sum each
      Oracle {
        val bits = (0 until 28).map(i =>
          s"(CASE WHEN 2*coalesce(list_sum(list_transform(th, h -> (h >> $i) & 1)), 0)" +
            s" > len(th) THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents WHERE doc_id % 5 = 0
           |), th AS (
           |  SELECT doc_id, list_transform(toks,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS th FROM toks
           |)
           |SELECT doc_id, ($bits)::BIGINT AS sig FROM th ORDER BY doc_id""".stripMargin
      }),

    // sign-LSH bucket ids at a fixed small config (4 planes, dim 64, seed 42
    // — the first hyperplane table lshKnn/nearDupPairs derive from the same
    // seed): the hyperplanes are deterministic driver-side doubles, so DuckDB
    // replays each dot-product sign bit with list arithmetic (the x06/x29
    // pattern). Pins the production LshBits expression's bucket MATH — the
    // embedding-LSH family (x05/x07) was the last rows-only group without a
    // fixed-math oracle twin (minhash has x43, simhash x44, winnowing x42).
    Entry("x45_lsh_bucket", (s, dir) => {
      val planes = Similarity.hyperplanes(4, 64, 42L)
      Registrar.table(s, dir, "embeddings")
        .select(F.col("vec_id"),
          Similarity.lshBucket(F.col("embedding"), planes).as("bucket"))
        .orderBy("vec_id")
    },
      // generated from the same hyperplanes(4, 64, 42) literals as the Spark
      // side (Double.toString round-trips exactly, so DuckDB parses the
      // identical IEEE values): bit p = (embedding · plane_p) > 0, replayed
      // with list arithmetic
      Oracle {
        val bits = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map { case (p, i) =>
          val lit = p.mkString("[", ", ", "]")
          s"(CASE WHEN list_sum(list_transform(range(1, 65), " +
            s"i -> embedding[i]::DOUBLE * ($lit)[i])) > 0.0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, ($bits)::BIGINT AS bucket FROM embeddings ORDER BY vec_id"
      }),

    // as-of join: every event picks up the user's most recent error at or
    // before it (NULL when none) — oracled against DuckDB's native ASOF
    // LEFT JOIN. Timestamps are truncated to µs FIRST on both sides (the
    // x12/x13 epoch_us convention) so both engines compare identical
    // integers; the right side is pre-deduped to one error per (user, µs)
    // so tie resolution can't differ between engines.
    Entry("x46_asof_join", (s, dir) => {
      val raw = Registrar.table(s, dir, "events")
      val e = raw
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"),
          EventOps.tsUs(raw).as("ts_us"))
      val err = e.filter(F.col("event_type") === "error")
        .groupBy("user_id", "ts_us").agg(F.max("event_id").as("event_id"))
      AsOf.asofJoin(e, err, Seq("user_id"), "ts_us", "ts_us")
        .select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          F.col("r_event_id"),
          (F.col("ts_us") - F.col("r_ts_us")).as("since_err_us"))
        .orderBy("event_id")
    },
      // DuckDB's native ASOF LEFT JOIN is the independent implementation of
      // the same semantics AsOf.asofJoin builds from a union + window pass
      Oracle("""WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), err AS (
        |  SELECT user_id, ts_us, max(event_id) AS event_id
        |  FROM e WHERE event_type = 'error' GROUP BY user_id, ts_us
        |)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |       r.event_id AS r_event_id, l.ts_us - r.ts_us AS since_err_us
        |FROM e l ASOF LEFT JOIN err r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        |ORDER BY l.event_id""".stripMargin)),

    // CCNet-style unigram log-likelihood quality score over the corpus's
    // own unigram model
    Entry("x47_unigram_logp", (s, dir) =>
      TextOps.unigramLogProb(Registrar.table(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id"),
      // mirrors TextOps.unigramLogProb: corpus unigram model, mean ln p(tok)
      // per doc, rounded to 6 (ln + sum order are engine-neutral only after
      // rounding — the x37 precedent)
      Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents
        |), vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, round(avg(ln(cnt::DOUBLE / n)), 6) AS avg_logp,
        |       count(*) AS n_tokens
        |FROM toks JOIN vocab USING (term), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // binned range join: event values into overlapping value bands (a point
    // can match several bands; band [50, 1000) bounds the data's max)
    Entry("x48_range_join", (s, dir) => {
      import s.implicits._
      val ev = Registrar.table(s, dir, "events").select("event_id", "value")
      val bands = RangeBands.toDF("band", "lo", "hi")
      RangeJoin.rangeJoin(ev, "value", bands, "lo", "hi", binWidth = 10.0)
        .select(F.col("event_id"), F.col("band"), F.col("value"))
        .orderBy("event_id", "band")
    },
      // generated from the same RangeBands literals as the Spark side; the
      // oracle's inequality join is the semantics RangeJoin.rangeJoin's
      // binned equi-join must reproduce exactly
      Oracle {
        val vals = RangeBands.map { case (n, lo, hi) => s"('$n', $lo, $hi)" }
          .mkString(", ")
        s"""WITH bands(band, lo, hi) AS (VALUES $vals)
           |SELECT e.event_id, b.band, e.value
           |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
           |ORDER BY e.event_id, b.band""".stripMargin
      }),

    // fastText-style linear quality classifier at the fixed 64-bucket
    // seeded weight table (x45's literal-table pattern)
    Entry("x49_classifier", (s, dir) =>
      TextOps.classifierScore(Registrar.table(s, dir, "documents"),
          "text", ClassifierW, bias = -0.1)
        .select("doc_id", "quality_score")
        .orderBy("doc_id"),
      // mirrors TextOps.classifierScore from the same ClassifierW literals:
      // md5-28-bit bucket, mean bucket weight, sigmoid, round 6
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |)
           |SELECT doc_id,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS quality_score
           |FROM t, w ORDER BY doc_id""".stripMargin
      }),

    // incremental dedup: a constructed ingest batch (x22 fixed-input
    // pattern) against the full documents corpus — multiples of 10 are
    // verbatim corpus dups (dropped), odd multiples of 5 get novel text
    // (kept); the mod-15 slice re-adds rows at higher ids, so odd
    // multiples of 15 are within-batch dups (lower id survives)
    Entry("x50_dedup_delta", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      def batchSlice(idOffset: Long, mod: Int) =
        docs.filter(F.col("doc_id") % mod === 0)
          .select((F.col("doc_id") + idOffset).as("doc_id"),
            F.when(F.col("doc_id") % 10 === 0, F.col("text"))
              .otherwise(F.concat(F.col("text"), F.lit(" <novel>"))).as("text"))
      val delta = batchSlice(1000000L, 5).unionAll(batchSlice(2000000L, 15))
      Dedup.dedupDelta(docs, delta, "doc_id", "text")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },
      // mirrors Dedup.dedupDelta over the same constructed batch: NOT IN the
      // corpus fingerprint set, then lowest-id-per-fingerprint within batch.
      // x53 (dedupDeltaBloom) shares this oracle verbatim: the bloom is a
      // corpus-side prefilter re-verified exactly, so its contract is
      // output-identity with dedupDelta.
      Oracle("""WITH delta AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text
        |         ELSE text || ' <novel>' END AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    CASE WHEN doc_id % 10 = 0 THEN text
        |         ELSE text || ' <novel>' END
        |  FROM documents WHERE doc_id % 15 = 0
        |), dfp AS (
        |  SELECT doc_id, text,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM delta
        |), cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), fresh AS (
        |  SELECT doc_id, fp FROM dfp WHERE fp NOT IN (SELECT fp FROM cfp)
        |), ranked AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fresh
        |)
        |SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // bigram PMI collocations over the corpus (counts gate + order; the
    // float score never decides rows)
    Entry("x51_pmi", (s, dir) =>
      TextOps.pmiCollocations(Registrar.table(s, dir, "documents"),
          "text", minCount = 10)
        .orderBy("w1", "w2"),
      // mirrors TextOps.pmiCollocations: bigram/unigram counts + corpus
      // totals; pmi is a rounded value, counts decide rows and order
      Oracle("""WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents
        |), g AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
        |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM g),
        |nab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
        |uni AS (SELECT unnest(toks) AS term FROM t),
        |nterm AS (SELECT term, count(*) AS n FROM uni GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM uni) AS n_tok,
        |               (SELECT count(*) FROM bg) AS n_bi)
        |SELECT w1, w2, n_ab, a.n AS n_a, b.n AS n_b,
        |  round(ln((n_ab::DOUBLE / n_bi) /
        |    ((a.n::DOUBLE / n_tok) * (b.n::DOUBLE / n_tok))), 6) AS pmi
        |FROM nab JOIN nterm a ON nab.w1 = a.term
        |         JOIN nterm b ON nab.w2 = b.term, tot
        |WHERE n_ab >= 10 ORDER BY w1, w2""".stripMargin)),

    // Unicode-script detection; testdata is Latin-only, so the entry seeds
    // deterministic non-Latin suffixes by doc_id band (x22 fixed-input
    // pattern) to exercise every range + the priority tie-break
    Entry("x52_scripts", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val seeded = docs.withColumn("text", F.concat(F.col("text"),
        F.when(F.col("doc_id") % 4 === 1, F.lit(" Привет мир"))
          .when(F.col("doc_id") % 4 === 2, F.lit(" 中文文本"))
          .when(F.col("doc_id") % 4 === 3, F.lit(" مرحبا"))
          .otherwise(F.lit(""))))
      TextOps.withScripts(seeded, "text")
        .select("doc_id", "n_latin", "n_cyrillic", "n_greek", "n_arabic",
          "n_hebrew", "n_cjk", "n_hangul", "n_devanagari", "script")
        .orderBy("doc_id")
    },
      // mirrors TextOps.withScripts over the same seeded suffixes; the CASE
      // chain is the argmax-with-priority equivalence argued at x09
      Oracle("""WITH seeded AS (
        |  SELECT doc_id, text || CASE doc_id % 4
        |    WHEN 1 THEN ' Привет мир' WHEN 2 THEN ' 中文文本'
        |    WHEN 3 THEN ' مرحبا' ELSE '' END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{024F}]')) AS n_latin,
        |    len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS n_cyrillic,
        |    len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) AS n_greek,
        |    len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS n_arabic,
        |    len(regexp_extract_all(text, '[\x{0590}-\x{05FF}]')) AS n_hebrew,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS n_cjk,
        |    len(regexp_extract_all(text, '[\x{AC00}-\x{D7AF}]')) AS n_hangul,
        |    len(regexp_extract_all(text, '[\x{0900}-\x{097F}]')) AS n_devanagari
        |  FROM seeded
        |)
        |SELECT *,
        |  CASE
        |    WHEN n_latin > 0 AND n_latin >= greatest(n_cyrillic, n_greek,
        |      n_arabic, n_hebrew, n_cjk, n_hangul, n_devanagari) THEN 'latin'
        |    WHEN n_cyrillic > 0 AND n_cyrillic >= greatest(n_greek, n_arabic,
        |      n_hebrew, n_cjk, n_hangul, n_devanagari) THEN 'cyrillic'
        |    WHEN n_greek > 0 AND n_greek >= greatest(n_arabic, n_hebrew,
        |      n_cjk, n_hangul, n_devanagari) THEN 'greek'
        |    WHEN n_arabic > 0 AND n_arabic >= greatest(n_hebrew, n_cjk,
        |      n_hangul, n_devanagari) THEN 'arabic'
        |    WHEN n_hebrew > 0 AND n_hebrew >= greatest(n_cjk, n_hangul,
        |      n_devanagari) THEN 'hebrew'
        |    WHEN n_cjk > 0 AND n_cjk >= greatest(n_hangul, n_devanagari)
        |      THEN 'cjk'
        |    WHEN n_hangul > 0 AND n_hangul >= n_devanagari THEN 'hangul'
        |    WHEN n_devanagari > 0 THEN 'devanagari'
        |    ELSE 'und' END AS script
        |FROM c ORDER BY doc_id""".stripMargin)),

    // bloom-prefiltered incremental dedup over the SAME constructed batch
    // as x50 — dedupDeltaBloom's contract is output-identical to
    // dedupDelta, so the two entries share one oracle SQL; numBits is set
    // far undersized (4096 bits for ~550 keys) so bloom false positives
    // actually occur and the exact re-verify anti-join is exercised
    Entry("x53_dedup_delta_bloom", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      def batchSlice(idOffset: Long, mod: Int) =
        docs.filter(F.col("doc_id") % mod === 0)
          .select((F.col("doc_id") + idOffset).as("doc_id"),
            F.when(F.col("doc_id") % 10 === 0, F.col("text"))
              .otherwise(F.concat(F.col("text"), F.lit(" <novel>"))).as("text"))
      val delta = batchSlice(1000000L, 5).unionAll(batchSlice(2000000L, 15))
      Dedup.dedupDeltaBloom(docs, delta, "doc_id", "text", numBits = 1L << 12)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },
      // output-identical to x50 by dedupDeltaBloom's contract (see x50 note)
      Oracle("""WITH delta AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text
        |         ELSE text || ' <novel>' END AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    CASE WHEN doc_id % 10 = 0 THEN text
        |         ELSE text || ' <novel>' END
        |  FROM documents WHERE doc_id % 15 = 0
        |), dfp AS (
        |  SELECT doc_id, text,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM delta
        |), cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), fresh AS (
        |  SELECT doc_id, fp FROM dfp WHERE fp NOT IN (SELECT fp FROM cfp)
        |), ranked AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fresh
        |)
        |SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // aggressive normalization to canonical dedup form; testdata text is
    // already lowercase/clean, so the entry seeds a deterministic messy
    // suffix (case, punctuation runs, digits — the x52 fixed-input pattern)
    Entry("x54_normalize", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val messy = F.concat(F.col("text"), F.lit(" MiXeD--Case!! "),
        F.upper(F.substring(F.col("text"), 1, 8)), F.lit("  ,42 "))
      docs.select(F.col("doc_id"), TextOps.normalizeText(messy).as("norm"))
        .orderBy("doc_id")
    },
      // mirrors TextOps.normalizeText over the same messy suffix — \p{L}\p{N}
      // are the same Unicode categories in Java regex and RE2
      Oracle("""SELECT doc_id,
        |  trim(regexp_replace(
        |    lower(text || ' MiXeD--Case!! ' || upper(substring(text, 1, 8)) || '  ,42 '),
        |    '[^\p{L}\p{N}]+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher-style quality rule gate: per-rule booleans + keep, thresholds
    // chosen to split the corpus on every rule at sf0.01
    Entry("x55_gopher_rules", (s, dir) =>
      TextOps.withGopherRules(Registrar.table(s, dir, "documents"), "text",
          minTokens = 20, maxTokens = 80, minMeanTokLen = 3.0,
          maxMeanTokLen = 10.0, minStopHits = 2, maxDupBigramFrac = 0.2)
        .select("doc_id", "n_tokens", "mean_token_len", "stop_hits",
          "dup_bigram_fraction", "r_ntok", "r_toklen", "r_stop", "r_rep", "keep")
        .orderBy("doc_id"),
      // mirrors TextOps.withGopherRules at the x55 thresholds: metrics are
      // the x08 (withQuality) / x24 (withRepetition) formulas, thresholds
      // compare integer-derived doubles so both engines agree exactly
      Oracle("""WITH t AS (
        |  SELECT doc_id, length(text) AS nch,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks)::INT AS n_tokens,
        |    (nch - len(toks) + 1)::DOUBLE / greatest(len(toks), 1) AS mean_token_len,
        |    len(list_filter(toks,
        |      x -> x IN ('the','a','and','of','to','in','is')))::INT AS stop_hits,
        |    CASE WHEN len(toks) >= 2 THEN
        |      1.0 - len(list_distinct(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
        |    ELSE 0.0 END AS dup_bigram_fraction
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, mean_token_len, stop_hits, dup_bigram_fraction,
        |  n_tokens BETWEEN 20 AND 80 AS r_ntok,
        |  mean_token_len BETWEEN 3.0 AND 10.0 AS r_toklen,
        |  stop_hits >= 2 AS r_stop,
        |  dup_bigram_fraction <= 0.2 AS r_rep,
        |  (n_tokens BETWEEN 20 AND 80) AND (mean_token_len BETWEEN 3.0 AND 10.0)
        |    AND stop_hits >= 2 AND dup_bigram_fraction <= 0.2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),

    // bag-of-words dedup: token-reversed copies (+1e6, same token set →
    // dropped) and '<tail>'-extended mod-7 copies (+2e6, new token →
    // kept) union onto the corpus; exactBy(bowFingerprint) keeps the
    // lowest id per distinct token SET
    Entry("x56_bow_dedup", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val reversed = docs.select((F.col("doc_id") + 1000000L).as("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), "\\s+")), " ").as("text"))
      val extended = docs.filter(F.col("doc_id") % 7 === 0)
        .select((F.col("doc_id") + 2000000L).as("doc_id"),
          F.concat(F.col("text"), F.lit(" <tail>")).as("text"))
      Dedup.exactBy(docs.select("doc_id", "text").unionAll(reversed).unionAll(extended),
          "doc_id", TextOps.bowFingerprint(F.col("text")))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },
      // mirrors exactBy(bowFingerprint) over the same constructed union:
      // sorted-distinct-token md5, lowest id per key
      Oracle("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_reverse(string_split_regex(text, '\s+')), ' ')
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' <tail>'
        |  FROM documents WHERE doc_id % 7 = 0
        |), fp AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0))), ' ')) AS fp
        |  FROM all_docs
        |), ranked AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fp
        |)
        |SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // incremental near-dup: near-dup variants of a corpus slice arrive as
    // an ingest batch; every variant must pair with its corpus original.
    // Rows-only (est_jaccard rides the xxhash64 signature family DuckDB
    // can't replay) — the banding/threshold math is pinned by x43's oracle
    // and by the OpsSpec cross-pair equality with minhashPairs
    Entry("x57_minhash_delta", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val delta = docs.filter(F.col("doc_id") % 10 === 0)
        .select((F.col("doc_id") + 1000000L).as("doc_id"),
          F.concat(F.col("text"), F.lit(" almost identical tail")).as("text"))
      Dedup.minhashPairsDelta(docs, delta, "doc_id", "text")
        .select("a", "b", "est_jaccard")
        .orderBy("a", "b")
    },
      PinnedBy("x43_minhash_fixed")),

    // SemDeDup at the fixed 4-centroid seeded table (x49's literal-table
    // pattern): mod-5 exact copies (+1e6 ids) guarantee flagged dups — an
    // identical vector lands in the identical cell with cosine computed by
    // the same IEEE ops in both engines; natural ≥0.4 pairs (max pairwise
    // cos in testdata is 0.513) contribute when co-celled
    Entry("x58_semdedup", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
      val base = emb.unionAll(emb.filter(F.col("vec_id") % 5 === 0)
        .select((F.col("vec_id") + 1000000L).as("vec_id"), F.col("embedding")))
      Similarity.semDedup(base, "vec_id", "embedding", threshold = 0.4, SemCentroids)
        .orderBy("vec_id")
    },
      // mirrors Similarity.semDedup from the same SemCentroids literals over
      // the same constructed union: nearest-centroid assignment (sequential
      // squared-diff sum, ties by cell — DuckDB lambdas can't capture
      // correlated columns, so the argmin is a cross-join + row_number rather
      // than an ordered subquery) and the keep-lowest-id cosine flag (the
      // x06 cosine formula — identical IEEE op order to the native CosineSim)
      Oracle {
        val vals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 5 = 0
           |), cent(cell, c) AS (VALUES $vals),
           |a AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT b.vec_id, b.embedding, c.cell,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (b.embedding[i]::DOUBLE - c.c[i])
           |             * (b.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM base b CROSS JOIN cent c)
           |  WHERE rk = 1
           |), dup AS (
           |  SELECT DISTINCT x.vec_id
           |  FROM a x JOIN a y ON y.cell = x.cell AND y.vec_id < x.vec_id
           |  WHERE list_sum(list_transform(range(1, 65),
           |          i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
           |     / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |      * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE))))
           |     >= 0.4
           |)
           |SELECT a.vec_id, a.cell, d.vec_id IS NOT NULL AS is_dup
           |FROM a LEFT JOIN dup d USING (vec_id)
           |ORDER BY a.vec_id""".stripMargin
      }),

    // duplicated-span coverage per doc (Lee et al. substring-dedup signal
    // at 5-gram granularity); the corpus's seeded exact/near dups give 71
    // docs a non-zero dup fraction at sf0.01 — no constructed input needed
    Entry("x59_dup_spans", (s, dir) =>
      Dedup.dupSpans(Registrar.table(s, dir, "documents"),
          "doc_id", "text", n = 5, minDf = 2)
        .orderBy("doc_id"),
      // mirrors Dedup.dupSpans: md5'd 5-gram positions, ≥2-distinct-doc gram
      // set, per-doc coverage; LEFT JOINs restore short docs as 0-gram rows
      Oracle("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> length(x) > 0) AS t
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3),
        |             i -> md5(array_to_string(t[i:i+4], ' ')))
        |      ELSE []::VARCHAR[] END) AS g
        |  FROM toks
        |), freq AS (
        |  SELECT g, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g
        |), totals AS (
        |  SELECT doc_id, count(*) AS n_grams FROM pos GROUP BY doc_id
        |), flagged AS (
        |  SELECT doc_id, count(*) AS dup_grams FROM pos
        |  WHERE g IN (SELECT g FROM freq WHERE nd >= 2) GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(t.n_grams, 0) AS n_grams,
        |  coalesce(f.dup_grams, 0) AS dup_grams,
        |  coalesce(f.dup_grams, 0)::DOUBLE / greatest(coalesce(t.n_grams, 0), 1)
        |    AS dup_frac
        |FROM documents d
        |LEFT JOIN totals t USING (doc_id)
        |LEFT JOIN flagged f USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // snapshot diff: constructed crawl-N+1 (x50 fixed-input pattern) —
    // mod-7 dropped (removed), mod-10==3 upper-cased (UNCHANGED: the
    // normalized fingerprint ignores case), mod-5 text-edited (changed),
    // mod-9 re-added at +1e6 (added)
    Entry("x61_corpus_diff", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents").select("doc_id", "text")
      val newSnap = docs.filter(F.col("doc_id") % 7 =!= 0)
        .select(F.col("doc_id"),
          F.when(F.col("doc_id") % 10 === 3, F.upper(F.col("text")))
            .when(F.col("doc_id") % 5 === 0, F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")).as("text"))
        .unionAll(docs.filter(F.col("doc_id") % 9 === 0)
          .select((F.col("doc_id") + 1000000L).as("doc_id"), F.col("text")))
      graft.ops.Curation.corpusDiff(docs, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },
      // mirrors Curation.corpusDiff over the same constructed snapshot: the
      // x01 fingerprint formula on both sides, FULL OUTER JOIN, same CASE
      // priority as the Spark when-chain; presence keys on the join side
      // (doc_id IS NULL), matching the Spark side's explicit presence
      // marker, and fp equality is null-safe on both engines so null-text
      // rows present in both snapshots read unchanged, not added/removed
      Oracle("""WITH o AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ofp
        |  FROM documents
        |), nsrc AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN upper(text)
        |                      WHEN doc_id % 5 = 0 THEN text || ' edited'
        |                      ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 0
        |), n AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nfp
        |  FROM nsrc
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.ofp IS NOT DISTINCT FROM n.nfp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // contrastive hard negatives: top-5 most-similar different-label rows
    // per query (the x06 brute pattern with the label inequality in the
    // join condition)
    Entry("x62_hard_negatives", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.hardNegatives(emb, emb.filter(F.col("vec_id") < 10),
          "vec_id", "label", "embedding", k = 5)
        .orderBy("query_id", "rk")
    },
      // the x06 brute-kNN oracle with the label inequality replacing the
      // self-exclusion
      Oracle("""WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neg_id, c.label AS neg_label,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 10 AND c.label != q.label)
        |SELECT query_id, neg_id, neg_label, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neg_id) AS rk
        |  FROM scored)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // product-quantization codes + reconstruction error at the fixed
    // [8][8][8] codebook (x58 literal-table pattern); codes as CSV for an
    // engine-neutral hash, recon_err as the raw flat sequential sum both
    // engines compute identically
    Entry("x63_pq_codes", (s, dir) =>
      Similarity.pqQuantize(Registrar.table(s, dir, "embeddings")
          .withColumn("embedding", F.col("embedding").cast("array<double>")),
          "embedding", PqCodebooks)
        .select(F.col("vec_id"),
          F.concat_ws(",", F.transform(F.col("codes"), _.cast("string")))
            .as("codes_csv"),
          F.col("recon_err"))
        .orderBy("vec_id"),
      // mirrors Similarity.pqQuantize from the same PqCodebooks literals:
      // per-subspace argmin (x58's cross-join + row_number idiom), decode by
      // code join + flatten, recon_err as the same flat sequential sum
      Oracle {
        val vals = PqCodebooks.zipWithIndex.flatMap { case (cws, s) =>
          cws.zipWithIndex.map { case (cw, j) =>
            cw.mkString(s"($s, $j, [", ", ", "]::DOUBLE[])")
          }
        }.mkString(", ")
        s"""WITH cb(m, code, c) AS (VALUES $vals),
           |sub AS (
           |  SELECT e.vec_id, s.m, list_transform(range(1, 9),
           |    i -> e.embedding[s.m * 8 + i]::DOUBLE) AS v
           |  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) s
           |), assigned AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT su.vec_id, su.m, cb.code,
           |      row_number() OVER (PARTITION BY su.vec_id, su.m ORDER BY
           |        list_sum(list_transform(range(1, 9),
           |          i -> (su.v[i] - cb.c[i]) * (su.v[i] - cb.c[i]))),
           |        cb.code) AS rk
           |    FROM sub su JOIN cb ON cb.m = su.m)
           |  WHERE rk = 1
           |), recon AS (
           |  SELECT a.vec_id, flatten(list(cb.c ORDER BY a.m)) AS r,
           |         string_agg(a.code::VARCHAR, ',' ORDER BY a.m) AS codes_csv
           |  FROM assigned a JOIN cb ON cb.m = a.m AND cb.code = a.code
           |  GROUP BY a.vec_id
           |)
           |SELECT e.vec_id, r.codes_csv,
           |  list_sum(list_transform(range(1, 65),
           |    i -> (e.embedding[i]::DOUBLE - r.r[i]) * (e.embedding[i]::DOUBLE - r.r[i])))
           |    AS recon_err
           |FROM embeddings e JOIN recon r USING (vec_id)
           |ORDER BY e.vec_id""".stripMargin
      }),

    // ADC top-5 over the x63 codes: queries carry per-subspace lookup
    // tables; candidates pay m lookups, never floats — distance addition
    // is per-subspace-then-s-ascending in BOTH engines so ranks replay
    Entry("x64_pq_search", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      val codes = Similarity.pqQuantize(emb, "embedding", PqCodebooks)
        .select("vec_id", "codes")
      Similarity.pqSearch(codes, emb.filter(F.col("vec_id") < 10),
          "vec_id", "embedding", PqCodebooks, k = 5)
        .orderBy("query_id", "rk")
    },
      // mirrors Similarity.pqSearch over the same codebook literals: x63's
      // assigned CTE, per-(query, candidate, subspace) sums re-added in
      // s-ascending order via list(ORDER BY m) — the exact ADC addition
      // order the Spark side uses
      Oracle {
        val vals = PqCodebooks.zipWithIndex.flatMap { case (cws, s) =>
          cws.zipWithIndex.map { case (cw, j) =>
            cw.mkString(s"($s, $j, [", ", ", "]::DOUBLE[])")
          }
        }.mkString(", ")
        s"""WITH cb(m, code, c) AS (VALUES $vals),
           |sub AS (
           |  SELECT e.vec_id, s.m, list_transform(range(1, 9),
           |    i -> e.embedding[s.m * 8 + i]::DOUBLE) AS v
           |  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) s
           |), assigned AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT su.vec_id, su.m, cb.code,
           |      row_number() OVER (PARTITION BY su.vec_id, su.m ORDER BY
           |        list_sum(list_transform(range(1, 9),
           |          i -> (su.v[i] - cb.c[i]) * (su.v[i] - cb.c[i]))),
           |        cb.code) AS rk
           |    FROM sub su JOIN cb ON cb.m = su.m)
           |  WHERE rk = 1
           |), qd AS (
           |  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10
           |), pair AS (
           |  SELECT q.query_id, a.vec_id AS neighbor_id, a.m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (q.embedding[a.m * 8 + i]::DOUBLE - cb.c[i])
           |         * (q.embedding[a.m * 8 + i]::DOUBLE - cb.c[i]))) AS subsum
           |  FROM assigned a
           |  JOIN cb ON cb.m = a.m AND cb.code = a.code
           |  CROSS JOIN qd q
           |  WHERE a.vec_id != q.query_id
           |), dists AS (
           |  SELECT query_id, neighbor_id, list_sum(list(subsum ORDER BY m)) AS dist
           |  FROM pair GROUP BY query_id, neighbor_id
           |)
           |SELECT query_id, neighbor_id, dist, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY dist ASC, neighbor_id) AS rk
           |  FROM dists)
           |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // IVF+PQ composition at the fixed tables: 4 SemCentroids cells +
    // [8][8][8] residual codebook, nprobe=2 of 4 — the full FAISS-style
    // prune-then-ADC path, every stage replayed by the oracle
    Entry("x65_ivfpq_search", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      val idx = Similarity.ivfpqBuild(emb, "vec_id", "embedding",
        SemCentroids, PqCodebooks)
      Similarity.ivfpqSearch(idx, emb.filter(F.col("vec_id") < 10),
          "embedding", k = 5, nprobe = 2)
        .orderBy("query_id", "rk")
    },
      // mirrors Similarity.ivfpqBuild/ivfpqSearch from the same SemCentroids
      // + PqCodebooks literals: corpus cell argmin (x58), residual PQ argmin
      // (x63 on v − centroid), query nprobe=2 probe (rk <= 2 of the same
      // argmin), residual LUT subsums re-added s-ascending (x64)
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        val bvals = PqCodebooks.zipWithIndex.flatMap { case (cws, s) =>
          cws.zipWithIndex.map { case (cw, j) =>
            cw.mkString(s"($s, $j, [", ", ", "]::DOUBLE[])")
          }
        }.mkString(", ")
        s"""WITH cent(cell, c) AS (VALUES $cvals),
           |cb(m, code, c) AS (VALUES $bvals),
           |a AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT b.vec_id, b.embedding, c.cell,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (b.embedding[i]::DOUBLE - c.c[i]) * (b.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM embeddings b CROSS JOIN cent c)
           |  WHERE rk = 1
           |), resid AS (
           |  SELECT a.vec_id, a.cell,
           |    list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - cent.c[i]) AS r
           |  FROM a JOIN cent USING (cell)
           |), rsub AS (
           |  SELECT vec_id, cell, s.m,
           |    list_transform(range(1, 9), i -> r[s.m * 8 + i]) AS v
           |  FROM resid CROSS JOIN (SELECT unnest(range(0, 8)) AS m) s
           |), assigned AS (
           |  SELECT vec_id, cell, m, code FROM (
           |    SELECT su.vec_id, su.cell, su.m, cb.code,
           |      row_number() OVER (PARTITION BY su.vec_id, su.m ORDER BY
           |        list_sum(list_transform(range(1, 9),
           |          i -> (su.v[i] - cb.c[i]) * (su.v[i] - cb.c[i]))),
           |        cb.code) AS rk
           |    FROM rsub su JOIN cb ON cb.m = su.m)
           |  WHERE rk = 1
           |), qd AS (
           |  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10
           |), qcell AS (
           |  SELECT query_id, cell, embedding FROM (
           |    SELECT q.query_id, c.cell, q.embedding,
           |      row_number() OVER (PARTITION BY q.query_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (q.embedding[i]::DOUBLE - c.c[i]) * (q.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM qd q CROSS JOIN cent c)
           |  WHERE rk <= 2
           |), qres AS (
           |  SELECT query_id, qcell.cell,
           |    list_transform(range(1, 65), i -> embedding[i]::DOUBLE - cent.c[i]) AS qr
           |  FROM qcell JOIN cent USING (cell)
           |), pair AS (
           |  SELECT qr.query_id, ac.vec_id AS neighbor_id, ac.m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (qr.qr[ac.m * 8 + i] - cb.c[i]) * (qr.qr[ac.m * 8 + i] - cb.c[i]))) AS subsum
           |  FROM assigned ac
           |  JOIN qres qr ON qr.cell = ac.cell
           |  JOIN cb ON cb.m = ac.m AND cb.code = ac.code
           |  WHERE ac.vec_id != qr.query_id
           |), dists AS (
           |  SELECT query_id, neighbor_id, list_sum(list(subsum ORDER BY m)) AS dist
           |  FROM pair GROUP BY query_id, neighbor_id
           |)
           |SELECT query_id, neighbor_id, dist, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY dist ASC, neighbor_id) AS rk
           |  FROM dists)
           |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // URL-level dedup key: constructed URLs (x22 fixed-input pattern)
    // exercise every normalization the canonicalizer makes — scheme/host
    // case, default :443 (on BOTH schemes: stripped for https, KEPT for
    // http), tracking params in first and only-param position, fragments,
    // empty paths — then keep_first marks the canonical-URL survivor
    Entry("x66_url_canon", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Registrar.table(s, dir, "documents")
      val url = F.concat(
        F.when(F.col("doc_id") % 2 === 0, F.lit("https://")).otherwise(F.lit("HTTP://")),
        F.upper(F.col("source")), F.lit(".Example.com"),
        F.when(F.col("doc_id") % 3 === 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 === 0, F.lit(""))
          .otherwise(F.concat(F.lit("/p/"), (F.col("doc_id") % 100).cast("string"))),
        F.when(F.col("doc_id") % 4 === 0,
            F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string")))
          .when(F.col("doc_id") % 4 === 1, F.lit("?utm_campaign=x"))
          .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 === 0, F.lit("#frag")).otherwise(F.lit("")))
      docs.select(F.col("doc_id"), url.as("url"))
        .select(F.col("doc_id"), F.col("url"),
          TextOps.urlHost(F.col("url")).as("host"),
          TextOps.canonicalUrl(F.col("url")).as("canon"))
        .withColumn("keep_first",
          F.row_number().over(Window.partitionBy("canon").orderBy("doc_id")) === 1)
        .orderBy("doc_id")
    },
      // mirrors TextOps.canonicalUrl/urlHost over the same constructed URLs:
      // identical RE2-safe regex chain (DuckDB 'g' flag where Spark's
      // replace-all applies; anchored single-match repairs; \1 vs $1
      // backreference dialect)
      Oracle("""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
        |    || upper(source) || '.Example.com'
        |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || (doc_id % 100) END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=' || (doc_id % 7)
        |             WHEN doc_id % 4 = 1 THEN '?utm_campaign=x' ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM u
        |), comp AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS tail0
        |  FROM parts
        |), cleaned AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS hp,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(tail0, '[?&](utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '', 'g'),
        |        '^([^?&]*)&', '\1?'),
        |      '[?&]$', '') AS t3
        |  FROM comp
        |), canoned AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) AS host,
        |    scheme || '://' || hp ||
        |      (CASE WHEN t3 = '' THEN '/'
        |            WHEN t3 LIKE '?%' THEN '/' || t3
        |            ELSE t3 END) AS canon
        |  FROM cleaned
        |)
        |SELECT doc_id, url, host, canon,
        |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1) AS keep_first
        |FROM canoned ORDER BY doc_id""".stripMargin)),

    // graded contamination (x25's boolean gate as a tunable fraction):
    // benchmark = every 50th doc, so those docs score 1.0 and everything
    // else scores its incidental 8-gram overlap
    Entry("x67_contamination_score", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      Dedup.contaminationScore(docs, docs.filter(F.col("doc_id") % 50 === 0),
          "doc_id", "text", shingleSize = 8)
        .orderBy("doc_id")
    },
      // mirrors Dedup.contaminationScore: the x25 shingle formula, benchmark
      // collapsed to distinct grams, one LEFT-JOIN aggregation computing
      // total and shared distinct counts, float division for the fraction
      Oracle("""WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
        |      i -> substring(t, i, 8))) AS s
        |  FROM t
        |), ex AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh
        |), bench AS (
        |  SELECT DISTINCT g FROM ex WHERE doc_id % 50 = 0
        |), agg AS (
        |  SELECT e.doc_id,
        |    count(DISTINCT e.g) AS n_total,
        |    count(DISTINCT CASE WHEN b.g IS NOT NULL THEN e.g END) AS n_shared
        |  FROM ex e LEFT JOIN bench b ON b.g = e.g
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  coalesce(a.n_total, 0) AS n_total,
        |  coalesce(a.n_shared, 0) AS n_shared,
        |  coalesce(a.n_shared, 0) / greatest(coalesce(a.n_total, 0), 1) AS overlap
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // OPQ (Ge et al. 2013) at the FIXED rotation + x63 codebooks: rotate
    // (native MatVec, j-ascending sums) → PQ-encode → ADC top-5 — the
    // x64 pipeline in rotated coordinates, every stage replayed; the
    // LEARNED rotation (opqFit: Procrustes + per-subspace k-means) is
    // pinned by OpsSpec orthogonality/determinism/recon-improvement floors
    Entry("x69_opq_search", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      val codes = Similarity.opqQuantize(emb, "embedding", OpqRotation, PqCodebooks)
        .select("vec_id", "codes")
      Similarity.opqSearch(codes, emb.filter(F.col("vec_id") < 10),
          "vec_id", "embedding", OpqRotation, PqCodebooks, k = 5)
        .orderBy("query_id", "rk")
    },
      // mirrors Similarity.opqQuantize/opqSearch from the same OpqRotation +
      // PqCodebooks literals: rotated embedding = per-output-row j-ascending
      // list_sum (the native MatVec addition order), then exactly the x64
      // encode/ADC body over the rotated CTE
      Oracle {
        val rvals = OpqRotation.zipWithIndex.map { case (row, i) =>
          row.mkString(s"(${i + 1}, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        val vals = PqCodebooks.zipWithIndex.flatMap { case (cws, s) =>
          cws.zipWithIndex.map { case (cw, j) =>
            cw.mkString(s"($s, $j, [", ", ", "]::DOUBLE[])")
          }
        }.mkString(", ")
        s"""WITH rot(i, r) AS (VALUES $rvals),
           |cb(m, code, c) AS (VALUES $vals),
           |re AS (
           |  SELECT e.vec_id,
           |    list(list_sum(list_transform(range(1, 65),
           |      j -> rot.r[j] * e.embedding[j]::DOUBLE)) ORDER BY rot.i) AS embedding
           |  FROM embeddings e CROSS JOIN rot GROUP BY e.vec_id
           |), sub AS (
           |  SELECT e.vec_id, s.m, list_transform(range(1, 9),
           |    i -> e.embedding[s.m * 8 + i]) AS v
           |  FROM re e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) s
           |), assigned AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT su.vec_id, su.m, cb.code,
           |      row_number() OVER (PARTITION BY su.vec_id, su.m ORDER BY
           |        list_sum(list_transform(range(1, 9),
           |          i -> (su.v[i] - cb.c[i]) * (su.v[i] - cb.c[i]))),
           |        cb.code) AS rk
           |    FROM sub su JOIN cb ON cb.m = su.m)
           |  WHERE rk = 1
           |), qd AS (
           |  SELECT vec_id AS query_id, embedding FROM re WHERE vec_id < 10
           |), pair AS (
           |  SELECT q.query_id, a.vec_id AS neighbor_id, a.m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (q.embedding[a.m * 8 + i] - cb.c[i])
           |         * (q.embedding[a.m * 8 + i] - cb.c[i]))) AS subsum
           |  FROM assigned a
           |  JOIN cb ON cb.m = a.m AND cb.code = a.code
           |  CROSS JOIN qd q
           |  WHERE a.vec_id != q.query_id
           |), dists AS (
           |  SELECT query_id, neighbor_id, list_sum(list(subsum ORDER BY m)) AS dist
           |  FROM pair GROUP BY query_id, neighbor_id
           |)
           |SELECT query_id, neighbor_id, dist, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY dist ASC, neighbor_id) AS rk
           |  FROM dists)
           |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // DSIR importance log-weights: target = every 50th doc (the x25
    // benchmark convention) — target members' own grams dominate the
    // target distribution, so they score high; off-target docs score
    // near/below zero. Hashed uni+bigram features, add-1 smoothing.
    // hash="md5" is the ORACLE twin (DuckDB replays the 28-bit md5 idiom),
    // bounded to the doc_id%5 sub-corpus (the x42/x43 pattern — the entry
    // verifies the smoothing/log-ratio MATH, not throughput; target %50 is
    // a subset of raw %5, so the importance semantics are unchanged); x71
    // below is the production xxhash64 path over the FULL corpus.
    Entry("x70_dsir_weights", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 5 === 0)
      TextOps.dsirWeights(docs, docs.filter(F.col("doc_id") % 50 === 0),
          "doc_id", "text", nBuckets = 1024, hash = "md5")
        .orderBy("doc_id")
    },
      // mirrors TextOps.dsirWeights: same tokenization, same uni+bigram
      // construction, same md5-28-bit bucket, add-1 smoothing over 1024
      // buckets, natural-log ratio summed per doc, round 6; gramless docs
      // via the LEFT JOIN coalesce; raw = the doc_id%5 sub-corpus (bounded
      // oracle-math entry — x71 is the full-corpus production path)
      Oracle("""WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id % 5 = 0
        |), g AS (
        |  SELECT doc_id, unnest(toks || list_transform(
        |    range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM t
        |), b AS (
        |  SELECT doc_id,
        |    (('0x' || substring(md5(g), 1, 7))::BIGINT % 1024)::INT AS b
        |  FROM g
        |), tc AS (
        |  SELECT b, count(*) AS tc FROM b WHERE doc_id % 50 = 0 GROUP BY b
        |), rc AS (
        |  SELECT b, count(*) AS rc FROM b GROUP BY b
        |), tn AS (SELECT sum(tc) AS tn FROM tc),
        |rn AS (SELECT sum(rc) AS rn FROM rc),
        |db AS (
        |  SELECT doc_id, b, count(*) AS dc FROM b GROUP BY 1, 2
        |), lr AS (
        |  SELECT x.doc_id, x.dc, round(x.dc *
        |    (ln((coalesce(t.tc, 0) + 1)::DOUBLE / (tn.tn + 1024))
        |     - ln((r.rc + 1)::DOUBLE / (rn.rn + 1024))), 9)
        |    ::DECIMAL(38,9) AS term
        |  FROM db x LEFT JOIN tc t USING (b) JOIN rc r USING (b), tn, rn
        |), agg AS (
        |  SELECT doc_id, round(sum(term), 6)::DOUBLE AS dsir_logw,
        |    sum(dc)::BIGINT AS n_grams
        |  FROM lr GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.dsir_logw, 0.0) AS dsir_logw,
        |  coalesce(a.n_grams, 0) AS n_grams
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id % 5 = 0
        |ORDER BY d.doc_id""".stripMargin)),

    // duplicated-span REMOVAL (the excision half of Lee et al., keep-first
    // at span granularity): testdata's seeded exact/near dups make later
    // copies lose their duplicated 5-gram spans to the lowest-id owner
    // while unique prose survives
    Entry("x73_remove_dup_spans", (s, dir) =>
      Dedup.removeDupSpans(Registrar.table(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id"),
      // mirrors Dedup.removeDupSpans: same tokenization, 0-based gram
      // positions (md5 strings stand in for the xxhash64 longs — injective
      // grouping keys, the x59 convention), per-gram distinct-df + min-id
      // owner, coverage p..p+4 in non-owner docs, ordered reassembly of
      // uncovered tokens
      Oracle("""WITH toks AS (
        |  SELECT doc_id, text, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, u['p'] AS p, u['g'] AS g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |      list_transform(range(1, len(t) - 3),
        |        i -> {'p': i - 1, 'g': md5(array_to_string(t[i:i+4], ' '))})
        |      ELSE [] END) AS u
        |    FROM toks)
        |), stats AS (
        |  SELECT g, count(*) AS nd, min(doc_id) AS owner
        |  FROM (SELECT DISTINCT g, doc_id FROM pos) GROUP BY g
        |), covered AS (
        |  SELECT DISTINCT pos.doc_id, unnest(range(pos.p, pos.p + 5)) AS ti
        |  FROM pos JOIN stats USING (g)
        |  WHERE stats.nd >= 2 AND stats.owner <> pos.doc_id
        |), tokpos AS (
        |  SELECT doc_id, u['ti'] AS ti, u['tok'] AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |      i -> {'ti': i - 1, 'tok': t[i]})) AS u
        |    FROM toks)
        |), kept AS (
        |  SELECT tp.doc_id,
        |    array_to_string(list(tp.tok ORDER BY tp.ti), ' ') AS td,
        |    count(*) AS nk
        |  FROM tokpos tp LEFT JOIN covered c
        |    ON c.doc_id = tp.doc_id AND c.ti = tp.ti
        |  WHERE c.ti IS NULL GROUP BY tp.doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       ELSE coalesce(k.td, '') END AS text_dedup,
        |  coalesce(len(t.t), 0) AS n_tokens,
        |  coalesce(len(t.t), 0) - coalesce(k.nk, 0) AS n_removed
        |FROM documents d
        |LEFT JOIN toks t USING (doc_id)
        |LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // cluster-and-cap semantic rebalancing: nearest-cell assignment at the
    // fixed x58 centroid table, then keep ≤40 per cell by content hash —
    // flattens mega-clusters, preserves tails; every stage SQL-replayable
    // (the x58 argmin CTE + the x27 hash-ranked window)
    Entry("x72_cluster_cap", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
      Similarity.clusterCap(emb, "vec_id", "embedding", SemCentroids, cap = 40)
        .select("vec_id", "cell").orderBy("vec_id")
    },
      // mirrors Similarity.clusterCap from the same SemCentroids literals:
      // the x58 nearest-cell argmin CTE (j-ascending squared-euclid sum,
      // first-minimum tie to the lower cell) + the capPerGroup window
      // (md5-of-id rank within cell, keep <= 40)
      Oracle {
        val vals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH cent(cell, c) AS (VALUES $vals),
           |a AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (e.embedding[i]::DOUBLE - c.c[i])
           |             * (e.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM embeddings e CROSS JOIN cent c)
           |  WHERE rk = 1
           |), capped AS (
           |  SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY cell
           |      ORDER BY md5(vec_id::VARCHAR), vec_id::VARCHAR) AS rk
           |  FROM a
           |)
           |SELECT vec_id, cell FROM capped WHERE rk <= 40
           |ORDER BY vec_id""".stripMargin
      }),

    // DSIR, production hash (xxhash64 — one codegen'd 8-byte hash per gram
    // vs the oracle twin's per-gram md5): the x02/x42, x16/x43 convention.
    // Rows-only in the driver compare (xxhash64 has no DuckDB equivalent);
    // pinned by the OpsSpec hash-equivalence test — per-doc n_grams is
    // hash-INVARIANT and must equal x70's exactly, and both paths must
    // rank the target domain above off-target.
    Entry("x71_dsir_weights_prod", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      TextOps.dsirWeights(docs, docs.filter(F.col("doc_id") % 50 === 0),
          "doc_id", "text", nBuckets = 1024)
        .orderBy("doc_id")
    },
      PinnedBy("x70_dsir_weights")),

    // keep-BEST exact dedup at the bag-of-words key (the CCNet policy:
    // keep the LONGEST copy of a duplicated page, not the first id): the
    // constructed token-doubled copies share the original's token SET but
    // are twice as long, so they WIN their cluster — x01/x56's keep-first
    // would have kept the original
    Entry("x74_keep_best", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .select("doc_id", "text")
      val bloated = docs.filter(F.col("doc_id") % 4 === 0)
        .select((F.col("doc_id") + 1000000).as("doc_id"),
          F.concat(F.col("text"), F.lit(" "), F.col("text")).as("text"))
      Dedup.exactKeepBest(docs.union(bloated), "doc_id",
          TextOps.bowFingerprint(F.col("text")), F.length(F.col("text")))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },
      // mirrors Dedup.exactKeepBest over the same constructed union: the
      // x56 bow-fingerprint idiom, ranked by length DESC (ties -> lowest id)
      Oracle("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' ' || text
        |  FROM documents WHERE doc_id % 4 = 0
        |), fp AS (
        |  SELECT doc_id, length(text) AS sc,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> length(x) > 0))), ' ')) AS fp
        |  FROM all_docs
        |), ranked AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp
        |      ORDER BY sc DESC, doc_id) AS rn
        |  FROM fp
        |)
        |SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // BM25 relevance against a fixed query term set (Lucene idf form):
    // per-doc tf/dl as pure array projections (the corpus never explodes),
    // corpus stats as ONE 1-row broadcast aggregate
    Entry("x75_bm25", (s, dir) =>
      TextOps.bm25(Registrar.table(s, dir, "documents"),
          "doc_id", "text", Seq("hash", "join", "spark"))
        .orderBy("doc_id"),
      // mirrors TextOps.bm25: same tokenization, per-doc tf via list_filter,
      // Lucene ln(1 + (N-df+0.5)/(df+0.5)) idf, k1=1.2 b=0.75, identical
      // association order, round 6
      Oracle("""WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'hash')) AS tf0,
        |    len(list_filter(toks, x -> x = 'join')) AS tf1,
        |    len(list_filter(toks, x -> x = 'spark')) AS tf2
        |  FROM d
        |), s AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM t
        |)
        |SELECT doc_id, dl, round(
        |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        |FROM t, s ORDER BY doc_id""".stripMargin)),

    // unigram-distribution drift between two corpus slices: per-token
    // Jensen-Shannon contributions, top-40 as the "where did the
    // vocabulary shift" evidence table
    Entry("x76_token_divergence", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      TextOps.tokenDivergence(
        docs.filter(F.col("doc_id") % 2 === 0),
        docs.filter(F.col("doc_id") % 2 =!= 0), "text", topK = 40)
    },
      // mirrors TextOps.tokenDivergence: identical p/q/m association order,
      // 0-count sides contribute 0, round 9 then + 0 (the -0.0 canon)
      Oracle("""WITH ta AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents WHERE doc_id % 2 = 0
        |), tb AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents WHERE doc_id % 2 <> 0
        |), ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.term, cb.term) AS term,
        |    coalesce(cnt_a, 0)::BIGINT AS cnt_a,
        |    coalesce(cnt_b, 0)::BIGINT AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
        |), tot AS (
        |  SELECT sum(cnt_a)::BIGINT AS ta_n, sum(cnt_b)::BIGINT AS tb_n
        |  FROM j
        |)
        |SELECT term, cnt_a, cnt_b,
        |  round((CASE WHEN cnt_a > 0 THEN (cnt_a::DOUBLE / ta_n)
        |      * ln((cnt_a::DOUBLE / ta_n)
        |            / ((cnt_a::DOUBLE / ta_n + cnt_b::DOUBLE / tb_n) / 2))
        |    ELSE 0.0 END
        |  + CASE WHEN cnt_b > 0 THEN (cnt_b::DOUBLE / tb_n)
        |      * ln((cnt_b::DOUBLE / tb_n)
        |            / ((cnt_a::DOUBLE / ta_n + cnt_b::DOUBLE / tb_n) / 2))
        |    ELSE 0.0 END) / 2, 9) + 0 AS js_contrib
        |FROM j, tot
        |ORDER BY js_contrib DESC, term LIMIT 40""".stripMargin)),

    // token-budget mixture planning (the Pile/Dolma recipe math): per
    // source, the sampling rate / epoch count realizing the target share
    // of a 50k-token budget; src0 upweighted 5x, src1 2.5x, src2 dropped,
    // the rest default 1.0
    Entry("x77_mixture_plan", (s, dir) =>
      Sampling.mixturePlan(Registrar.table(s, dir, "documents"),
          "source", "text",
          Map("src0" -> 5.0, "src1" -> 2.5, "src2" -> 0.0), budget = 50000L)
        .orderBy("source"),
      // mirrors Sampling.mixturePlan from the same weight literals: weights
      // normalize over PRESENT sources via a window sum, identical
      // association order, round 6; ::BIGINT on sum (the x33 HUGEINT rule)
      Oracle("""WITH t AS (
        |  SELECT source, len(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS nt
        |  FROM documents
        |), g AS (
        |  SELECT source, count(*) AS n_docs, sum(nt)::BIGINT AS tokens,
        |    CASE source WHEN 'src0' THEN 5.0 WHEN 'src1' THEN 2.5
        |      WHEN 'src2' THEN 0.0 ELSE 1.0 END AS w
        |  FROM t GROUP BY 1
        |)
        |SELECT source, n_docs, tokens,
        |  round(least(1.0, w / sum(w) OVER () * 50000 / tokens), 6) AS rate,
        |  round(w / sum(w) OVER () * 50000 / tokens, 6) AS epochs
        |FROM g ORDER BY source""".stripMargin)),

    // interpolated Kneser-Ney bigram LM scoring (the CCNet perplexity
    // filter, KenLM's estimator at bigram order): model trained on the
    // mod-7 slice, every doc scored by avg negative log-likelihood —
    // low = fluent under the train distribution
    Entry("x78_kn_bigram", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      TextOps.knBigramNll(docs, docs.filter(F.col("doc_id") % 7 === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    },
      // mirrors TextOps.knBigramNll (train = mod-7 slice, D = 0.75):
      // identical model tables (c2/cctx/n1a/n1b, B/V scalars), identical
      // association order in the interpolated-KN probability (greatest(c2-D,0)
      // + (D*n1a)*((n1b+1)/(B+V+1)) all over cctx; full backoff to Pcont for
      // unseen w1), k-weighted distinct transitions, round 6 after the sum
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |      i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |      i -> t[i + 1])) AS w2
        |  FROM tk
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS c2 FROM bi WHERE doc_id % 7 = 0
        |  GROUP BY 1, 2
        |), ctx AS (
        |  SELECT w1, sum(c2)::BIGINT AS cctx, count(*) AS n1a FROM c2 GROUP BY 1
        |), cont AS (
        |  SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1
        |), scal AS (
        |  SELECT (SELECT count(*) FROM c2) AS bg,
        |    (SELECT count(DISTINCT x) FROM
        |      (SELECT unnest(t) AS x FROM tk WHERE doc_id % 7 = 0)) AS v
        |), tr AS (
        |  SELECT doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3
        |), p AS (
        |  SELECT tr.doc_id, tr.k,
        |    CASE WHEN ctx.cctx IS NOT NULL THEN
        |      (greatest(coalesce(c2.c2, 0) - 0.75, 0.0)
        |        + 0.75 * ctx.n1a * ((coalesce(cont.n1b, 0) + 1)::DOUBLE
        |                            / (scal.bg + scal.v + 1))) / ctx.cctx
        |    ELSE (coalesce(cont.n1b, 0) + 1)::DOUBLE
        |         / (scal.bg + scal.v + 1) END AS prob
        |  FROM tr
        |  LEFT JOIN c2 USING (w1, w2)
        |  LEFT JOIN ctx USING (w1)
        |  LEFT JOIN cont USING (w2)
        |  CROSS JOIN scal
        |), agg AS (
        |  SELECT doc_id, sum(k)::BIGINT AS n_trans,
        |    round(sum(round(k * (-ln(prob)), 9)::DECIMAL(38,9))::DOUBLE
        |      / sum(k), 6) AS avg_nll
        |  FROM p GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.n_trans, 0) AS n_trans,
        |  coalesce(a.avg_nll, 0.0) AS avg_nll
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // the C4 cleaning pass, rule-for-rule (terminal-punct + >=5-word +
    // no-javascript line gate; >=3 kept lines + lorem-ipsum/brace/bad-word
    // page gate) over constructed multi-line pages: every doc gets a
    // too-short line and a javascript line (both always dropped), mod-5
    // docs a lorem-ipsum sentence (page-kill), mod-11 docs a braced code
    // line (page-kill)
    Entry("x79_c4_filter", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      // coalesce text before staging: concat_ws SKIPS nulls while the
      // oracle's `||` would propagate them — '' on both sides keeps a
      // NULL-text document producing identical staged pages (ADVICE r8)
      val staged = docs.select(F.col("doc_id"),
        F.concat_ws("\n",
          F.coalesce(F.col("text"), F.lit("")),
          F.lit("short line"),
          F.lit("This page uses javascript to render content."),
          F.when(F.col("doc_id") % 5 === 0,
              F.lit("Lorem ipsum dolor sit amet, consectetur adipiscing elit."))
            .otherwise(F.lit("A perfectly ordinary sentence with enough words to keep.")),
          F.when(F.col("doc_id") % 11 === 0,
              F.lit("function() { return 1; }"))
            .otherwise(F.lit("Another normal sentence that ends with a period."))
        ).as("text"))
      Curation.c4Filter(staged, "doc_id", "text")
        .select("doc_id", "n_kept", "c4_keep", "kept_text")
        .orderBy("doc_id")
    },
      // mirrors Curation.c4Filter over the same constructed pages: identical
      // staged text (chr(10) = the concat_ws separator), identical line gate
      // (terminal punct on the trimmed line, >=5 non-empty words, no
      // 'javascript'), identical page gate (>=3 kept, lorem ipsum, '{',
      // bad-word token membership)
      Oracle("""WITH staged AS (
        |  SELECT doc_id,
        |    coalesce(text, '') || chr(10) || 'short line' || chr(10)
        |      || 'This page uses javascript to render content.' || chr(10)
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'
        |           ELSE 'A perfectly ordinary sentence with enough words to keep.' END
        |      || chr(10)
        |      || CASE WHEN doc_id % 11 = 0
        |           THEN 'function() { return 1; }'
        |           ELSE 'Another normal sentence that ends with a period.' END
        |      AS text
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split_regex(trim(l), '\s+'),
        |            w -> length(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> length(w) > 0) AS lowtoks
        |  FROM staged
        |)
        |SELECT doc_id, len(kept) AS n_kept,
        |  (len(kept) >= 3
        |    AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')
        |    AND NOT len(list_filter(lowtoks,
        |          w -> w IN ('damn', 'sucks'))) > 0) AS c4_keep,
        |  array_to_string(kept, chr(10)) AS kept_text
        |FROM f ORDER BY doc_id""".stripMargin)),

    // PCA projection at a FIXED mean + component matrix (the x69 fixed-
    // rotation pattern): center by PcaMean, rotate onto the first 16
    // OpqRotation rows via the native MatVec — 64 -> 16 dims. The LEARNED
    // path (Similarity.pcaFit: sample covariance + Jacobi) is pinned in
    // OpsSpec; this entry pins the projection math end-to-end. Output is
    // posexploded to scalar (vec_id, j, value) rows: the driver compare
    // hashes pandas cells, and an array<double> cell crashed it in r8
    Entry("x80_pca_project", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.pcaProject(emb, "embedding", PcaMean, OpqRotation.take(16))
        .select(F.col("vec_id"),
          F.posexplode(F.transform(F.col("pca"), x => F.round(x, 6) + F.lit(0.0))))
        .toDF("vec_id", "j", "value")
        .orderBy("vec_id", "j")
    },
      // mirrors Similarity.pcaProject from the same PcaMean + first-16
      // OpqRotation rows: center then rotate, per-output-row j-ascending
      // list_sum (the native MatVec addition order), round 6 + 0 (the x76
      // -0.0 canon). Scalar (vec_id, j, value) rows — posexplode's 0-based
      // position on the Spark side, rot.i - 1 here
      Oracle {
        val rvals = OpqRotation.take(16).zipWithIndex.map { case (row, i) =>
          row.mkString(s"(${i + 1}, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        val mvals = PcaMean.mkString("[", ", ", "]::DOUBLE[]")
        s"""WITH rot(i, r) AS (VALUES $rvals),
           |m AS (SELECT $mvals AS mean)
           |SELECT e.vec_id, rot.i - 1 AS j,
           |  round(list_sum(list_transform(range(1, 65),
           |    j -> rot.r[j] * (e.embedding[j]::DOUBLE - m.mean[j]))), 6) + 0
           |    AS value
           |FROM embeddings e CROSS JOIN rot CROSS JOIN m
           |ORDER BY vec_id, j""".stripMargin
      }),

    // DISTRIBUTED Lloyd k-means (two full-corpus iterations from the
    // SemCentroids init, 6-dp centroid quantization each round) + final
    // assignment: the scale path past the sample-fit quantizers — every
    // iteration is a NearestCell projection + one partial-aggregated
    // (cell, coordinate) rollup, only k*dim rows ever reach the driver
    Entry("x81_kmeans_lloyd", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
      Similarity.kmeansAssign(emb, "vec_id", "embedding", SemCentroids, iters = 2)
        .orderBy("vec_id")
    },
      // mirrors Similarity.kmeansAssign(SemCentroids, iters = 2): two Lloyd
      // rounds replayed stage-for-stage — nearest cell (j-ascending squared
      // L2, ties to lower cell), per-(cell, coordinate) mean rounded to 6
      // (the iteration's quantization grid; empty cells coalesce to the
      // previous center), re-assign, re-average, final assignment + dist
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings
           |), c0(cell, c) AS (VALUES $cvals),
           |a1 AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, c0.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))),
           |        c0.cell) AS rk
           |    FROM e CROSS JOIN c0)
           |  WHERE rk = 1
           |), m1 AS (
           |  SELECT cell, i, round(avg(x), 6) AS c FROM (
           |    SELECT cell, unnest(range(1, 65)) AS i, unnest(v) AS x FROM a1)
           |  GROUP BY cell, i
           |), c1 AS (
           |  SELECT c0.cell, coalesce(m.c, c0.c) AS c
           |  FROM c0 LEFT JOIN (
           |    SELECT cell, list(c ORDER BY i) AS c FROM m1 GROUP BY cell) m
           |  USING (cell)
           |), a2 AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, c1.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))),
           |        c1.cell) AS rk
           |    FROM e CROSS JOIN c1)
           |  WHERE rk = 1
           |), m2 AS (
           |  SELECT cell, i, round(avg(x), 6) AS c FROM (
           |    SELECT cell, unnest(range(1, 65)) AS i, unnest(v) AS x FROM a2)
           |  GROUP BY cell, i
           |), c2l AS (
           |  SELECT c1.cell, coalesce(m.c, c1.c) AS c
           |  FROM c1 LEFT JOIN (
           |    SELECT cell, list(c ORDER BY i) AS c FROM m2 GROUP BY cell) m
           |  USING (cell)
           |), a3 AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, c2l.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (e.v[i] - c2l.c[i]) * (e.v[i] - c2l.c[i]))),
           |        c2l.cell) AS rk
           |    FROM e CROSS JOIN c2l)
           |  WHERE rk = 1
           |)
           |SELECT a3.vec_id, a3.cell,
           |  round(list_sum(list_transform(range(1, 65),
           |    i -> (a3.v[i] - c.c[i]) * (a3.v[i] - c.c[i]))), 6) AS dist
           |FROM a3 JOIN c2l c USING (cell)
           |ORDER BY a3.vec_id""".stripMargin
      }),

    // vocabulary-growth (Heaps' law) curve in 25-doc buckets: cumulative
    // tokens vs cumulative distinct types — the "is this source still
    // adding vocabulary" signal a mixture planner reads
    Entry("x82_vocab_growth", (s, dir) =>
      TextOps.vocabGrowth(Registrar.table(s, dir, "documents"),
          "doc_id", "text", bucketSize = 25)
        .orderBy("bucket"),
      // mirrors TextOps.vocabGrowth (bucketSize 25): a type's first
      // occurrence is min(doc_id) over the token stream; per-bucket token
      // totals; cumulative window over the bucket table; ::BIGINT on the
      // window sums (the x33 HUGEINT rule)
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), fs AS (
        |  SELECT bucket, count(*) AS new_types FROM (
        |    SELECT min(doc_id) // 25 AS bucket
        |    FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
        |    GROUP BY tok)
        |  GROUP BY bucket
        |), pb AS (
        |  SELECT doc_id // 25 AS bucket, count(*) AS docs,
        |    sum(len(t))::BIGINT AS tokens
        |  FROM tk GROUP BY 1
        |)
        |SELECT pb.bucket, pb.docs, pb.tokens,
        |  coalesce(fs.new_types, 0) AS new_types,
        |  (sum(pb.tokens) OVER (ORDER BY pb.bucket))::BIGINT AS cum_tokens,
        |  (sum(coalesce(fs.new_types, 0)) OVER (ORDER BY pb.bucket))::BIGINT
        |    AS cum_types
        |FROM pb LEFT JOIN fs USING (bucket)
        |ORDER BY pb.bucket""".stripMargin)),

    // distributed BPE merge learning (Sennrich et al. 2016): ONE corpus
    // word census, then 8 merge rounds on the vocab-bounded table —
    // pair census (overlaps counted) -> argmax (count desc, pair asc) ->
    // greedy non-overlapping rewrite. Output = the merge table a
    // tokenizer ships
    Entry("x83_bpe_merges", (s, dir) =>
      TextOps.bpeMerges(Registrar.table(s, dir, "documents"),
          "text", numMerges = 8)
        .orderBy("rank"),
      // mirrors TextOps.bpeMerges(numMerges = 8): the word census (identical
      // normalization + cap ordering), then 8 unrolled merge rounds — pair
      // census via parallel unnest (overlaps counted), argmax ORDER BY
      // (c DESC, p1, p2) LIMIT 1, greedy left-to-right rewrite as a
      // list_reduce over singleton lists (acc seeds from the first symbol —
      // exactly the Spark fold's empty-accumulator first step)
      Oracle {
        val steps = (0 until 8).map { k =>
          s"""pc$k AS (
             |  SELECT p1, p2, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS p1,
             |      unnest(list_transform(range(1, len(syms)), i -> syms[i + 1])) AS p2
             |    FROM s$k WHERE len(syms) >= 2)
             |  GROUP BY 1, 2
             |), b$k AS (
             |  SELECT ${k + 1} AS rank, p1, p2, p1 || p2 AS m, c FROM pc$k
             |  ORDER BY c DESC, p1, p2 LIMIT 1
             |), s${k + 1} AS (
             |  SELECT cnt, list_reduce(list_transform(syms, s -> [s]),
             |    (acc, x) -> CASE WHEN acc[-1] = b$k.p1 AND x[1] = b$k.p2
             |      THEN acc[:-2] || [b$k.m] ELSE acc || x END) AS syms
             |  FROM s$k CROSS JOIN b$k
             |)""".stripMargin
        }.mkString(", ")
        val unions = (0 until 8).map(k => s"SELECT * FROM b$k")
          .mkString(" UNION ALL ")
        s"""WITH w0 AS (
           |  SELECT word, count(*)::BIGINT AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(
           |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'),
           |      w -> length(w) > 0)) AS word
           |    FROM documents)
           |  GROUP BY word ORDER BY cnt DESC, word LIMIT 65536
           |), s0 AS (
           |  SELECT cnt, list_transform(range(1, length(word) + 1),
           |    i -> word[i]) AS syms
           |  FROM w0
           |), $steps
           |SELECT rank, p1 AS a, p2 AS b, m AS merged, c AS cnt FROM ($unions)
           |ORDER BY rank""".stripMargin
      }),

    // SQ8 scalar quantization + asymmetric inner-product search (the FAISS
    // IndexScalarQuantizer shape): per-dim (min, max) bounds fit EXACTLY on
    // the full corpus (min/max are order-insensitive — no sample bound
    // needed), corpus side scores through its fused encode->decode
    // reconstruction, query side stays exact
    Entry("x84_sq8_search", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      val (mn, mx) = Similarity.sqFit(emb, "embedding", 64)
      Similarity.sqSearch(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
          mn, mx, k = 5)
        .orderBy("query_id", "rk")
    },
      // mirrors Similarity.sqFit + sqSearch: exact per-dim min/max, then the
      // fused encode->decode reconstruction per corpus vector (sub, div,
      // *255, +0.5, floor, clamp, then mn + c*(mx-mn)/255 — the identical
      // IEEE op order of VecOps.sq8Dequant), scored j-ascending against the
      // exact query (the x06 list_sum pattern), round 6 + 0 before ranking
      Oracle("""WITH st AS (
        |  SELECT j, min(embedding[j]::DOUBLE) AS mn, max(embedding[j]::DOUBLE) AS mx
        |  FROM embeddings CROSS JOIN range(1, 65) t(j) GROUP BY j
        |), dq AS (
        |  SELECT e.vec_id, list(
        |      CASE WHEN s.mx > s.mn
        |        THEN s.mn + least(greatest(floor((e.embedding[s.j]::DOUBLE - s.mn)
        |               / (s.mx - s.mn) * 255.0 + 0.5), 0.0), 255.0)
        |             * (s.mx - s.mn) / 255.0
        |        ELSE s.mn END ORDER BY s.j) AS v
        |  FROM embeddings e CROSS JOIN st s GROUP BY e.vec_id
        |), sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> c.v[i] * q.embedding[i]::DOUBLE)), 6) + 0 AS score
        |  FROM dq c CROSS JOIN embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id)
        |SELECT query_id, neighbor_id, score, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rk FROM sc)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // maximal-marginal-relevance rerank: distributed bruteKnn pool (top-8
    // by cosine for query 0), then the inherently-sequential greedy picks
    // driver-side on the bounded pool — 4 picks at lambda=0.7, every
    // argmax on 6-dp-rounded (score, id)
    Entry("x85_mmr_rerank", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.mmrRerank(emb, emb.filter(F.col("vec_id") === 0), "vec_id", "embedding",
          k = 4, pool = 8, lambda = 0.7)
        .orderBy("pick")
    },
      // mirrors Similarity.mmrRerank(k=4, pool=8, lambda=0.7) for query 0:
      // pool = top-8 by UNROUNDED cosine (the bruteKnn rank order), rel and
      // pairwise sims round 6, then four unrolled greedy picks — each an
      // argmax of round(0.7*rel - 0.3*max_sim_to_selected, 6) on
      // (score DESC, id), the exact driver-side loop
      Oracle("""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |rel0 AS (
        |  SELECT c.vec_id AS id, c.embedding AS v,
        |    list_sum(list_transform(range(1, 65),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, q WHERE c.vec_id != 0
        |), pool AS (
        |  SELECT id, v, round(cos, 6) + 0 AS rel FROM rel0
        |  ORDER BY cos DESC, id LIMIT 8
        |), sim AS (
        |  SELECT a.id AS i, b.id AS j,
        |    round(list_sum(list_transform(range(1, 65),
        |        t -> a.v[t]::DOUBLE * b.v[t]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.v, x -> x::DOUBLE * x::DOUBLE)))
        |         * sqrt(list_sum(list_transform(b.v, x -> x::DOUBLE * x::DOUBLE)))), 6) + 0 AS s
        |  FROM pool a, pool b WHERE a.id != b.id
        |), r1 AS (
        |  SELECT id, 1 AS pick, round(0.7 * rel - (1.0 - 0.7) * 0.0, 6) + 0 AS score
        |  FROM pool ORDER BY round(0.7 * rel - (1.0 - 0.7) * 0.0, 6) + 0 DESC, id LIMIT 1
        |), p2 AS (
        |  SELECT p.id, round(0.7 * p.rel - (1.0 - 0.7) * (SELECT max(s) FROM sim, r1
        |      WHERE sim.i = p.id AND sim.j = r1.id), 6) + 0 AS score
        |  FROM pool p WHERE p.id NOT IN (SELECT id FROM r1)
        |), r2 AS (SELECT id, 2 AS pick, score FROM p2 ORDER BY score DESC, id LIMIT 1
        |), sel2 AS (SELECT id FROM r1 UNION ALL SELECT id FROM r2
        |), p3 AS (
        |  SELECT p.id, round(0.7 * p.rel - (1.0 - 0.7) * (SELECT max(s) FROM sim
        |      WHERE sim.i = p.id AND sim.j IN (SELECT id FROM sel2)), 6) + 0 AS score
        |  FROM pool p WHERE p.id NOT IN (SELECT id FROM sel2)
        |), r3 AS (SELECT id, 3 AS pick, score FROM p3 ORDER BY score DESC, id LIMIT 1
        |), sel3 AS (SELECT id FROM sel2 UNION ALL SELECT id FROM r3
        |), p4 AS (
        |  SELECT p.id, round(0.7 * p.rel - (1.0 - 0.7) * (SELECT max(s) FROM sim
        |      WHERE sim.i = p.id AND sim.j IN (SELECT id FROM sel3)), 6) + 0 AS score
        |  FROM pool p WHERE p.id NOT IN (SELECT id FROM sel3)
        |), r4 AS (SELECT id, 4 AS pick, score FROM p4 ORDER BY score DESC, id LIMIT 1)
        |SELECT 0::BIGINT AS query_id, id AS sel_id, pick, score FROM (
        |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
        |ORDER BY pick""".stripMargin)),

    // cross-document duplicate-sentence census (the sentence-granularity
    // boilerplate report): testdata docs are single-sentence-ish, so the
    // entry seeds shared closers — a newsletter plug on mod-4 docs, a
    // rights notice on mod-7 docs, a unique closer everywhere (the x68
    // seeding pattern). '.' separators ride the seeds so the shared
    // sentences segment identically in every host document
    Entry("x86_sentence_dedup", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val seeded = docs.select(F.col("doc_id"),
        F.concat(
          F.coalesce(F.col("text"), F.lit("")),
          F.when(F.col("doc_id") % 4 === 0,
            F.lit(". Subscribe to our newsletter for updates today")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 7 === 0,
            F.lit(". All rights reserved by the publisher entity")).otherwise(F.lit("")),
          F.lit(". Unique closing sentence number "),
          F.col("doc_id").cast("string"), F.lit("."))
          .as("text"))
      graft.ops.Curation.duplicateSentences(seeded, "doc_id", "text",
          minChars = 20, minDocs = 2)
        .orderBy(F.col("n_docs").desc, F.col("sentence"))
    },
      // mirrors Curation.duplicateSentences over the seeded closers:
      // identical segmentation regex ([.!?] + whitespace — same class in
      // Java regex and RE2), lower+trim normalization, >= 20-char floor,
      // distinct-doc + total counts
      Oracle("""WITH seeded AS (
        |  SELECT doc_id, coalesce(text, '')
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN '. Subscribe to our newsletter for updates today' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN '. All rights reserved by the publisher entity' ELSE '' END
        |    || '. Unique closing sentence number ' || doc_id || '.' AS t
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, unnest(string_split_regex(t, '[.!?]\s+')) AS s FROM seeded
        |), norm AS (
        |  SELECT doc_id, lower(trim(s)) AS sentence FROM ex
        |  WHERE length(lower(trim(s))) >= 20)
        |SELECT sentence, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_total
        |FROM norm GROUP BY sentence HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, sentence""".stripMargin)),

    // deterministic equal-count range-shard manifest: md5-sampled keys,
    // rank-selected boundaries (no interpolation — integer ranks replay in
    // any engine), comparison-chain assignment, per-shard stats
    Entry("x87_shard_plan", (s, dir) =>
      graft.ops.Scale.rangeShardPlan(
          Registrar.table(s, dir, "documents"), "doc_id", nShards = 8)
        .orderBy("shard"),
      // mirrors Scale.rangeShardPlan(nShards=8): md5-prefix key sample,
      // boundary i = the (i*n//8)-th smallest sample key (integer rank
      // selection — no quantile interpolation to disagree on), shard =
      // 1 + |{boundaries < key}|, per-shard stats
      Oracle("""WITH s AS (
        |  SELECT doc_id AS k FROM documents
        |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '199a'
        |), o AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM s
        |), c AS (SELECT count(*) AS n FROM s
        |), b AS (
        |  SELECT o.k FROM o, c
        |  WHERE o.rn IN ((1*n)//8, (2*n)//8, (3*n)//8, (4*n)//8,
        |                 (5*n)//8, (6*n)//8, (7*n)//8)
        |), a AS (
        |  SELECT d.doc_id,
        |    1 + (SELECT count(*) FROM b WHERE b.k < d.doc_id) AS shard
        |  FROM documents d)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  min(doc_id) AS min_key, max(doc_id) AS max_key
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    // DISTRIBUTED logistic-regression training (two full-batch GD rounds
    // on "is this doc English?" over binary hashed-BoW buckets) — the
    // kmeansLloyd iteration contract for a classifier: one job per round,
    // nBuckets+1 gradient rows to the driver, 6-dp weight quantization
    Entry("x88_logreg_train", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .withColumn("y", F.when(F.col("lang") === "en", 1.0).otherwise(0.0))
      TextOps.trainQualityClassifierDF(docs, "text", "y",
          nBuckets = 64, iters = 2, lr = 0.5)
        .orderBy("bucket")
    },
      // mirrors TextOps.trainQualityClassifier(nBuckets=64, iters=2, lr=0.5)
      // on y = (lang = 'en'): round 1 starts at w = 0 so p = 0.5 exactly
      // (no transcendental yet); round 2 replays the sigmoid over the
      // quantized round-1 weights (the x49-proven exp path), with every
      // per-doc logit a b-ascending list_sum over the sorted distinct
      // bucket list. Bias rides as bucket -1; unseen buckets keep w = 0
      Oracle("""WITH t AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    list_sort(list_distinct(list_transform(
        |      list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |        x -> length(x) > 0),
        |      tk -> (('0x' || substring(md5(tk), 1, 7))::BIGINT % 64)::INT))) AS bs
        |  FROM documents
        |), n AS (SELECT count(*)::DOUBLE AS n FROM t
        |), e1 AS (SELECT 0.5 - y AS g, bs FROM t
        |), g1 AS (SELECT unnest([-1] || bs) AS b, g FROM e1
        |), s1 AS (SELECT b, sum(g) AS sg FROM g1 GROUP BY b
        |), u1 AS (
        |  SELECT s1.b, round(0.0 - 0.5 * s1.sg / n.n, 6) + 0 AS w FROM s1, n
        |), w1 AS (
        |  SELECT list(coalesce(u1.w, 0.0) ORDER BY r.j) AS arr
        |  FROM range(0, 64) r(j) LEFT JOIN u1 ON u1.b = r.j
        |), b1 AS (SELECT w AS bias FROM u1 WHERE b = -1
        |), e2 AS (
        |  SELECT 1.0 / (1.0 + exp(-(b1.bias
        |      + coalesce(list_sum(list_transform(t.bs, b -> w1.arr[b + 1])), 0.0))))
        |    - t.y AS g, t.bs
        |  FROM t, w1, b1
        |), g2 AS (SELECT unnest([-1] || bs) AS b, g FROM e2
        |), s2 AS (SELECT b, sum(g) AS sg FROM g2 GROUP BY b
        |), u2 AS (
        |  SELECT s2.b, round(CASE WHEN s2.b = -1 THEN b1.bias
        |      ELSE w1.arr[s2.b + 1] END - 0.5 * s2.sg / n.n, 6) + 0 AS w
        |  FROM s2, n, w1, b1)
        |SELECT bucket, w FROM (
        |  SELECT r.j::INT AS bucket, coalesce(u2.w, 0.0) AS w
        |  FROM range(0, 64) r(j) LEFT JOIN u2 ON u2.b = r.j
        |  UNION ALL SELECT -1 AS bucket, w FROM u2 WHERE b = -1)
        |ORDER BY bucket""".stripMargin)),

    // END-TO-END oracle twin for the embedding-LSH kNN family (VERDICT r8
    // task 5): ONE table at the x45-pinned config (4 planes, dim 64, seed
    // 42), so DuckDB replays the WHOLE x07 pipeline — bucket → candidate
    // equi-join → exact-cosine row_number rank — not just the bucket math.
    // Embeddings cast to double first (the x06 convention) so both engines
    // run identical double arithmetic. Completes the fixed-math twin set:
    // minhash x43, simhash x44, winnowing x42, LSH buckets x45, LSH kNN
    // x89; the production x07 (16 tables, auto recall) stays rows-only
    // with its OpsSpec recall floor.
    Entry("x89_lsh_knn_twin", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.lshKnn(emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding",
          k = 3, nPlanes = 4, nTables = 1)
        .orderBy("query_id", "rk")
    },
      // same plane literals as the Spark side (hyperplanes are deterministic
      // driver doubles — the x45 pattern); cosine is the x06 expression so
      // the only new oracle surface is the bucket equi-join + rank
      Oracle {
        val bits = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map { case (p, i) =>
          val lit = p.mkString("[", ", ", "]")
          s"(CASE WHEN list_sum(list_transform(range(1, 65), " +
            s"i -> embedding[i]::DOUBLE * ($lit)[i])) > 0.0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH b AS (
           |  SELECT vec_id, embedding, ($bits)::BIGINT AS bucket FROM embeddings
           |), cand AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_sum(list_transform(range(1, 65),
           |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
           |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
           |  FROM b c JOIN b q ON c.bucket = q.bucket
           |  WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
           |SELECT query_id, neighbor_id, cos, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, neighbor_id) AS rk
           |  FROM cand)
           |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
      }),

    // END-TO-END oracle twin for IVF kNN (the last un-twinned ANN family —
    // VERDICT r8 task 5): ivfIndexAt pins the index to the SemCentroids
    // literal table, so DuckDB replays the WHOLE x17 pipeline — corpus cell
    // argmin (the x58 replay), query nprobe-nearest-cell probe, candidate
    // cell join, exact-cosine row_number rank. nprobe=2 of 4 cells keeps
    // the probe genuinely partial (nprobe=nlist would degenerate to x06).
    // The production x17 (k-means-fit centroids) stays rows-only with its
    // OpsSpec recall floor + nprobe=nlist ≡ brute equivalence.
    Entry("x90_ivf_knn_twin", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.queryIvf(
          Similarity.ivfIndexAt(emb, "vec_id", "embedding", SemCentroids),
          emb.filter(F.col("vec_id") < 30), k = 3, nprobe = 2)
        .orderBy("query_id", "rk")
    },
      // mirrors Similarity.ivfIndexAt + queryIvf at the SemCentroids literal
      // table: corpus cell = squared-L2 argmin (the x58 replay), each query
      // probes its nprobe=2 nearest cells (same metric, ties to lower cell —
      // the array_sort-on-(d,cell)-structs rule), candidates rank by exact
      // cosine with id tie-break
      Oracle {
        val vals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH cent(cell, c) AS (VALUES $vals),
           |cells AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT b.vec_id, b.embedding, c.cell,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (b.embedding[i]::DOUBLE - c.c[i])
           |             * (b.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM embeddings b CROSS JOIN cent c)
           |  WHERE rk = 1
           |), probe AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT q.vec_id, q.embedding, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (q.embedding[i]::DOUBLE - c.c[i])
           |             * (q.embedding[i]::DOUBLE - c.c[i]))),
           |        c.cell) AS rk
           |    FROM embeddings q CROSS JOIN cent c
           |    WHERE q.vec_id < 30)
           |  WHERE rk <= 2
           |), cand AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_sum(list_transform(range(1, 65),
           |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
           |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
           |  FROM cells c JOIN probe q ON c.cell = q.cell
           |  WHERE c.vec_id != q.vec_id)
           |SELECT query_id, neighbor_id, cos, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, neighbor_id) AS rk
           |  FROM cand)
           |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
      }),

    // weighted sampling without replacement (Efraimidis-Spirakis), weights
    // = document length: the deterministic importance-sampling draw — rank
    // key ln(u)/w from a content-hash uniform, top-150 via
    // TakeOrderedAndProject, no shuffle
    Entry("x91_weighted_sample", (s, dir) =>
      Sampling.weightedSample(
          Registrar.table(s, dir, "documents"),
          F.col("text"), F.col("n_chars"), n = 150)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // mirrors Sampling.weightedSample: u from the first 52 md5 bits
      // (+0.5, /2^52 — exact IEEE in both engines), rank key ln(u)/w,
      // digest tie-break, top-150; w<=0 rows excluded
      Oracle("""SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ln((('0x' || substring(md5(coalesce(text, '')), 1, 13))::BIGINT + 0.5)
        |       / 4503599627370496.0) / n_chars AS wk,
        |    md5(coalesce(text, '')) AS tb
        |  FROM documents
        |  WHERE n_chars > 0
        |  ORDER BY wk DESC, tb LIMIT 150)
        |ORDER BY doc_id""".stripMargin)),

    // PageRank (3 damped rounds) over the customer→supplier purchase
    // graph — the link-graph centrality signal of crawl curation, on the
    // natural bipartite graph in the testdata: customer c links to every
    // supplier whose parts c ordered. Edges point ONLY c→s, so every
    // supplier is a sink and the dangling-mass redistribution path runs
    // on ~6% of the nodes each round, not as a degenerate no-op
    Entry("x92_pagerank", (s, dir) => {
      val e = Registrar.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(Registrar.table(s, dir, "lineitem")
            .select("l_orderkey", "l_suppkey"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("src"),
          (F.col("l_suppkey") + 100000L).as("dst"))
        .distinct()
      graft.ops.Graph.pageRank(e, "src", "dst", iters = 3)
        .orderBy("node")
    },
      // mirrors Graph.pageRank iteration-for-iteration: same edge list, same
      // (1-d)/N + d*dang/N + Σ round6(d*r/od) association order, same 6-dp
      // quantization points — three unrolled rounds
      Oracle {
        def iter(i: Int, prev: String): String =
          s"""s$i AS (SELECT round(sum(r), 6) AS dang FROM $prev WHERE od = 0),
             |c$i AS (
             |  SELECT e.dst AS node, round(sum(round(0.85 * r.r / r.od, 6)), 6) AS cs
             |  FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst),
             |r$i AS (
             |  SELECT nd.node, nd.od,
             |    round((1.0 - 0.85) / (SELECT n FROM c)
             |      + 0.85 * coalesce((SELECT dang FROM s$i), 0.0) / (SELECT n FROM c)
             |      + coalesce(c$i.cs, 0.0), 6) AS r
             |  FROM nd LEFT JOIN c$i ON nd.node = c$i.node)""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |), nodes AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e
           |), deg AS (
           |  SELECT src AS node, count(*) AS od FROM e GROUP BY src
           |), nd AS (
           |  SELECT n.node, coalesce(d.od, 0) AS od
           |  FROM nodes n LEFT JOIN deg d ON n.node = d.node
           |), c AS (SELECT count(*)::DOUBLE AS n FROM nodes),
           |r0 AS (
           |  SELECT node, od, round(1.0 / (SELECT n FROM c), 6) AS r FROM nd),
           |${iter(1, "r0")},
           |${iter(2, "r1")},
           |${iter(3, "r2")}
           |SELECT node, od AS out_deg, r AS "rank" FROM r3 ORDER BY node""".stripMargin
      }),

    // HyperLogLog distinct-token cardinality per source, next to the exact
    // count it replaces at scale: registers from md5 bits (bucket = first
    // 8, rho = leading zeros of the next 52 via bin-string length — no
    // float log2), integer register sums, linear-counting small-range
    // branch. The sketch is ONE scan + <=256 mergeable rows per source;
    // the exact column is the full (source, token) shuffle it spares
    Entry("x93_hll_distinct", (s, dir) => {
      val toks = Registrar.table(s, dir, "documents")
        .select(F.col("source"),
          F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
        .filter(F.length(F.col("t")) > 0)
      graft.ops.Sketches.hllDistinct(toks, Seq("source"), F.col("t"))
        .join(toks.groupBy("source").agg(F.countDistinct("t").as("n_exact")),
          "source")
        .orderBy("source")
    },
      // mirrors Sketches.hllDistinct register-for-register: same md5 bit
      // fields (bucket = first 2 hex chars, rho via minimal-width bin()
      // string length in BOTH engines), same integer register sum with
      // 2^53-weighted empties, same left-assoc alpha*m*m*2^53 numerator,
      // same linear-counting CASE
      Oracle("""WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), r AS (
        |  SELECT source,
        |    ('0x' || substring(md5(t), 1, 2))::BIGINT AS bucket,
        |    CASE WHEN ('0x' || substring(md5(t), 3, 13))::BIGINT = 0 THEN 53
        |         ELSE 53 - length(ltrim(bin(
        |           ('0x' || substring(md5(t), 3, 13))::BIGINT), '0'))
        |    END AS rho
        |  FROM toks
        |), reg AS (
        |  SELECT source, bucket, max(rho) AS m FROM r GROUP BY source, bucket
        |), agg AS (
        |  SELECT source, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np
        |  FROM reg GROUP BY source
        |), est AS (
        |  SELECT source,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0
        |      / (sp + (256 - np) * 9007199254740992)::DOUBLE AS raw,
        |    256 - np AS v
        |  FROM agg
        |), e2 AS (
        |  SELECT source,
        |    round(CASE WHEN raw <= 2.5 * 256.0 AND v > 0
        |      THEN 256.0 * ln(256.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |  FROM est
        |), ex AS (
        |  SELECT source, count(DISTINCT t) AS n_exact FROM toks GROUP BY source
        |)
        |SELECT e2.source, n_est, n_exact
        |FROM e2 JOIN ex USING (source) ORDER BY source""".stripMargin)),

    // Z-order layout manifest over lineitem's (partkey, suppkey): Morton
    // bit-interleave (pure integer ops, engine-exact), deterministic
    // equal-count range shards on z, per-shard dim envelopes — the
    // manifest that shows each shard covering a FRACTION of both key
    // ranges, i.e. the two-dimensional data-skipping a z-ordered write
    // buys at 100 TB
    Entry("x94_zorder_plan", (s, dir) =>
      graft.ops.Scale.zorderShardPlan(
          Registrar.table(s, dir, "lineitem")
            .select("l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey", bits = 16, nShards = 8)
        .orderBy("shard"),
      // mirrors Scale.zorderShardPlan: the same unrolled 16-bit Morton
      // interleave (integer shifts — bit-identical across engines), then
      // the x87 shard replay (md5 sample, integer-rank boundaries,
      // boundaries-below count) on zvalue, then per-shard envelopes
      Oracle {
        val zBits = (0 until 16).map(i =>
          s"((((l_partkey >> $i) & 1) << ${2 * i}) | " +
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1}))").mkString(" | ")
        s"""WITH z AS (
           |  SELECT l_partkey, l_suppkey, ($zBits)::BIGINT AS zvalue
           |  FROM lineitem
           |), s AS (
           |  SELECT zvalue AS k FROM z
           |  WHERE substring(md5(zvalue::VARCHAR), 1, 4) < '199a'
           |), o AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM s
           |), c AS (SELECT count(*) AS n FROM s
           |), b AS (
           |  SELECT o.k FROM o, c
           |  WHERE o.rn IN ((1*n)//8, (2*n)//8, (3*n)//8, (4*n)//8,
           |                 (5*n)//8, (6*n)//8, (7*n)//8)
           |), a AS (
           |  SELECT z.*,
           |    1 + (SELECT count(*) FROM b WHERE b.k < z.zvalue) AS shard
           |  FROM z)
           |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
           |  min(zvalue) AS min_z, max(zvalue) AS max_z,
           |  min(l_partkey) AS min_x, max(l_partkey) AS max_x,
           |  min(l_suppkey) AS min_y, max(l_suppkey) AS max_y
           |FROM a GROUP BY shard ORDER BY shard""".stripMargin
      }),

    // count-min heavy hitters: 4×1024 mergeable counters over the token
    // stream in ONE pass, then the exact top-20 tokens probed against the
    // sketch — n_est >= n_exact always (CMS never undercounts), equality
    // when the heavy hitters dodge collisions. The sketch answers ANY
    // later point query without re-aggregating the corpus
    Entry("x95_cms_heavy_hitters", (s, dir) => {
      val toks = Registrar.table(s, dir, "documents")
        .select(F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
        .filter(F.length(F.col("t")) > 0)
      val counters = graft.ops.Sketches.cmsCounters(toks, F.col("t"))
      val top = toks.groupBy("t").agg(F.count(F.lit(1)).as("n_exact"))
        .orderBy(F.col("n_exact").desc, F.col("t")).limit(20)
      graft.ops.Sketches.cmsEstimate(counters, top, F.col("t"))
        .orderBy(F.col("n_exact").desc, F.col("t"))
    },
      // mirrors Sketches.cmsCounters + cmsEstimate: same cms<j>: salted
      // 28-bit md5 buckets (j from a range cross-join), same counter table,
      // same exact-top-20 probe set, min over the 4 rows with absent
      // counters as 0
      Oracle("""WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), cnt AS (
        |  SELECT j, ('0x' || substring(md5('cms' || j::VARCHAR || ':' || t), 1, 7))::BIGINT
        |      % 1024 AS bucket, count(*) AS c
        |  FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
        |  GROUP BY j, bucket
        |), top AS (
        |  SELECT t, count(*) AS n_exact FROM toks GROUP BY t
        |  ORDER BY n_exact DESC, t LIMIT 20
        |), pb AS (
        |  SELECT top.t, top.n_exact, j.j,
        |    ('0x' || substring(md5('cms' || j.j::VARCHAR || ':' || top.t), 1, 7))::BIGINT
        |      % 1024 AS bucket
        |  FROM top CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
        |)
        |SELECT pb.t, pb.n_exact, min(coalesce(cnt.c, 0))::BIGINT AS n_est
        |FROM pb LEFT JOIN cnt ON pb.j = cnt.j AND pb.bucket = cnt.bucket
        |GROUP BY pb.t, pb.n_exact
        |ORDER BY n_exact DESC, t""".stripMargin)),

    // EXACT word-set similarity self-join (prefix filtering): every pair
    // at Jaccard >= 0.5 with recall 1.0 by construction — candidates from
    // a rarity-ordered prefix equi-join, all selection decisions integer
    // (6-dp rational threshold), exact verify on sorted token sets. The
    // exact complement of the approximate x02 MinHash path. Scoped to the
    // mod-7 doc slice: the synthetic corpus is template-generated, so the
    // TRUE pair count is quadratic in corpus size (measured 8.9M pairs at
    // sf0.1 full-corpus, ~1M even at t=0.9) — output volume, not a plan
    // hazard; the slice keeps the bench comparable while the pipeline
    // stays end-to-end
    Entry("x99_exact_jaccard_join", (s, dir) =>
      Dedup.exactJaccardPairs(
          Registrar.table(s, dir, "documents")
            .filter(F.col("doc_id") % 7 === 0),
          "doc_id", "text", threshold = 0.5)
        .orderBy("a", "b"),
      Oracle("""WITH toks AS (
        |  SELECT doc_id AS id, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0))) AS tok
        |  FROM documents WHERE doc_id % 7 = 0
        |), dfq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok
        |), r AS (
        |  SELECT t.id, t.tok,
        |    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rk,
        |    count(*) OVER (PARTITION BY t.id) AS sz
        |  FROM toks t JOIN dfq d USING (tok)
        |), pfx AS (
        |  SELECT id, tok, sz FROM r
        |  WHERE rk <= sz - ((500000 * sz + 999999) // 1000000) + 1
        |), cand AS (
        |  SELECT DISTINCT a.id AS a, b.id AS b
        |  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.id < b.id
        |  WHERE least(a.sz, b.sz) * 1000000 >= 500000 * greatest(a.sz, b.sz)
        |), inter AS (
        |  SELECT c.a, c.b, count(*) AS i
        |  FROM cand c
        |  JOIN toks ta ON ta.id = c.a
        |  JOIN toks tb ON tb.id = c.b AND tb.tok = ta.tok
        |  GROUP BY c.a, c.b
        |), szs AS (SELECT id, count(*) AS n FROM toks GROUP BY id)
        |SELECT i.a, i.b,
        |  round(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) AS jaccard
        |FROM inter i JOIN szs sa ON sa.id = i.a JOIN szs sb ON sb.id = i.b
        |WHERE i.i * 1000000 >= 500000 * (sa.n + sb.n - i.i)
        |ORDER BY a, b""".stripMargin)),

    // export integrity manifest: per range-shard row count + order-
    // independent bit-XOR content checksum + key envelope — recompute on
    // the far side of a copy/re-shard/re-ingest and ANY lost, duplicated,
    // or corrupted row shows as a (n_rows, checksum) mismatch, with no
    // sort anywhere
    Entry("x98_shard_checksums", (s, dir) =>
      graft.ops.Scale.shardChecksums(
          Registrar.table(s, dir, "documents"),
          "doc_id", Seq("text", "source", "lang"), nShards = 8)
        .orderBy("shard"),
      // mirrors Scale.shardChecksums: the x87 boundary replay on doc_id +
      // the same chr(1)-joined null-safe content fingerprint, bit_xor'd
      Oracle("""WITH s AS (
        |  SELECT doc_id AS k FROM documents
        |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '199a'
        |), o AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM s
        |), c AS (SELECT count(*) AS n FROM s
        |), b AS (
        |  SELECT o.k FROM o, c
        |  WHERE o.rn IN ((1*n)//8, (2*n)//8, (3*n)//8, (4*n)//8,
        |                 (5*n)//8, (6*n)//8, (7*n)//8)
        |), a AS (
        |  SELECT d.doc_id,
        |    1 + (SELECT count(*) FROM b WHERE b.k < d.doc_id) AS shard,
        |    ('0x' || substring(md5(concat_ws(chr(1),
        |      coalesce(text, ''), coalesce(source, ''), coalesce(lang, ''))),
        |      1, 15))::BIGINT AS fp
        |  FROM documents d)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  bit_xor(fp)::BIGINT AS checksum,
        |  min(doc_id) AS min_key, max(doc_id) AS max_key
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    // sampled per-source length quantiles: md5-prefix row sample (~10%),
    // integer rank selection (no interpolation), one window shuffle over
    // the SAMPLE only — the deterministic approximate-quantile path that
    // replaces exact per-group percentile buffering at 100 TB
    Entry("x97_sample_quantiles", (s, dir) =>
      Sampling.sampleQuantiles(
          Registrar.table(s, dir, "documents"),
          Seq("source"), "n_chars", F.col("doc_id"), Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("source", "q"),
      // mirrors Sampling.sampleQuantiles: same md5-prefix sample, same
      // max(1, floor(q*n)) integer rank (qs cast DOUBLE so both engines
      // run the identical IEEE product), per-partition row_number/count
      Oracle("""WITH s AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '199a'
        |), o AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM s
        |)
        |SELECT source, q, n_chars AS value, n AS n_sample
        |FROM o CROSS JOIN
        |  (SELECT unnest([0.25, 0.5, 0.75, 0.95]::DOUBLE[]) AS q)
        |WHERE rn = greatest(1, floor(q * n))
        |ORDER BY source, q""".stripMargin)),

    // ordered view→click→purchase funnel: per-user first-touch frontier
    // advanced strictly-after per step, every stage keyed on user_id (the
    // event stream shuffles once; frontiers reuse the partitioning)
    Entry("x96_funnel", (s, dir) =>
      graft.ops.EventOps.funnelReach(
          Registrar.table(s, dir, "events"),
          Seq("view", "click", "purchase"))
        .orderBy("step"),
      // mirrors EventOps.funnelReach: per-step frontier CTEs — min event
      // time of step k strictly after the step-(k-1) frontier, epoch µs
      Oracle("""WITH e AS (
        |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu FROM events
        |), s1 AS (
        |  SELECT u, min(tu) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s1 ON e.u = s1.u
        |  WHERE et = 'click' AND tu > s1.t GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s2 ON e.u = s2.u
        |  WHERE et = 'purchase' AND tu > s2.t GROUP BY e.u
        |)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type,
        |    (SELECT count(*) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |ORDER BY step""".stripMargin)),

    // KMV distinct sketch vs exact truth, per source: k smallest 52-bit
    // md5 values — ≤ k rows of state per group, exact below k, (k-1)·2^52
    // / v_k above; the mergeable-with-set-operations complement of the
    // x93 HLL registers (KMV sketches intersect/Jaccard, HLL only unions)
    Entry("x100_kmv_distinct", (s, dir) => {
      val toks = Registrar.table(s, dir, "documents")
        .select(F.col("source"), F.explode(F.filter(
          F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
          t => F.length(t) > 0)).as("t"))
      graft.ops.Sketches.kmvDistinct(toks, Seq("source"), F.col("t"), k = 64)
        .join(toks.groupBy("source").agg(F.count_distinct(F.col("t")).as("n_exact")),
          "source")
        .orderBy("source")
    },
      // mirrors Dedup.exactJaccardPairs stage-for-stage: df census, per-doc
      // (df, tok) rarity rank, integer prefix length (thr=500000), prefix
      // equi-join + integer length filter, token-join intersection, and the
      // same integer i*10^6 >= thr*union acceptance — no float decides
      // mirrors Sketches.kmvDistinct: same 52-bit (13-hex) md5 values,
      // distinct per (source, v), k=64 smallest by row_number, exact count
      // below k, (k-1)*2^52/v_k above (63*2^52 is exactly representable so
      // the left-assoc product matches Spark's folded constant)
      Oracle("""WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), h AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substring(md5(t), 1, 13))::BIGINT AS v
        |  FROM toks
        |), r AS (
        |  SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS rk
        |  FROM h
        |), g AS (
        |  SELECT source, count(*) AS n_keep, max(v) AS vk
        |  FROM r WHERE rk <= 64 GROUP BY source
        |), e AS (
        |  SELECT source, count(DISTINCT t) AS n_exact FROM toks GROUP BY source
        |)
        |SELECT g.source AS source, n_keep,
        |  round(CASE WHEN n_keep < 64 THEN n_keep::DOUBLE
        |             ELSE 63.0 * 4503599627370496.0 / vk END, 6) AS n_est,
        |  n_exact
        |FROM g JOIN e ON g.source = e.source
        |ORDER BY g.source""".stripMargin)),

    // edit-distance near-dup pairs over the normalized full text: recall
    // 1.0 via the lossless |len(a)-len(b)| <= d length-band blocking, and
    // per-pair cost O(d·n) via Spark's THRESHOLD Levenshtein (banded DP,
    // -1 beyond d) — the character-level mutation catcher (OCR noise,
    // version strings) that token-set dedup blurs away. Mod-2 slice (the
    // x99 convention): the template corpus packs docs densely into the
    // ~500 distinct lengths, so same-length candidate sets grow
    // quadratically in corpus size — verification volume, not a plan
    // hazard; the slice keeps the bench comparable
    // seeded mutants (the x68 convention — the corpus itself has no pair
    // within 40 edits): every mod-10 doc gets a copy at +1e6 with a
    // known-distance mutation (first-char delete d=1, first-char
    // substitute d=1, 3-char append d=3), so the entry verifies real
    // catches at each distance, not a vacuous empty join
    Entry("x101_edit_pairs", (s, dir) => {
      val base = Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 3 === 0)
        .select(F.col("doc_id"), F.lower(F.trim(F.col("text"))).as("k"))
      val mut = base.filter(F.col("doc_id") % 15 === 0)
        .select((F.col("doc_id") + 1000000L).as("mid"),
          F.when(F.col("doc_id") % 45 === 0, F.expr("substring(k, 2)"))
            .when(F.col("doc_id") % 45 === 15,
              F.concat(F.lit("z"), F.expr("substring(k, 2)")))
            .otherwise(F.concat(F.col("k"), F.lit(" xy"))).as("k"))
        .select(F.col("mid").as("doc_id"), F.col("k"))
      Dedup.editDistancePairs(base.unionAll(mut), "doc_id", F.col("k"),
          maxDist = 3)
        .orderBy("a", "b")
    },
      // mirrors Dedup.editDistancePairs: the |len diff| <= 3 band is a
      // lossless necessary condition, so the oracle's plain banded pair
      // join + full Levenshtein equals the banded-threshold Spark plan
      Oracle("""WITH base AS (
        |  SELECT doc_id, lower(trim(text)) AS k FROM documents
        |  WHERE doc_id % 3 = 0
        |), mut AS (
        |  SELECT doc_id + 1000000 AS mid,
        |    CASE WHEN doc_id % 45 = 0 THEN substring(k, 2)
        |         WHEN doc_id % 45 = 15 THEN 'z' || substring(k, 2)
        |         ELSE k || ' xy' END AS k
        |  FROM base WHERE doc_id % 15 = 0
        |), u AS (
        |  SELECT doc_id, k FROM base
        |  UNION ALL SELECT mid AS doc_id, k FROM mut
        |), kk AS (
        |  SELECT doc_id AS id, k, length(k) AS len FROM u WHERE length(k) > 0
        |), p AS (
        |  SELECT a.id AS a, b.id AS b, levenshtein(a.k, b.k) AS dist
        |  FROM kk a JOIN kk b ON a.id < b.id AND abs(a.len - b.len) <= 3
        |)
        |SELECT a, b, dist FROM p WHERE dist <= 3
        |ORDER BY a, b""".stripMargin)),

    // first-order event-type transition matrix per user sequence (ties
    // broken by event_id for a total order): the row-stochastic behavioral
    // summary a session recommender / anomaly detector trains on; one
    // user-keyed window + a |types|^2-bounded rollup
    Entry("x102_transitions", (s, dir) =>
      graft.ops.EventOps.transitionMatrix(
          Registrar.table(s, dir, "events"))
        .orderBy("prev_type", "next_type"),
      // mirrors EventOps.transitionMatrix: lag over (user; epoch-µs ts,
      // event_id), integer counts, one rounded division
      Oracle("""WITH e AS (
        |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu,
        |    event_id AS eid
        |  FROM events
        |), lagd AS (
        |  SELECT et AS next_type,
        |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS prev_type
        |  FROM e
        |), c AS (
        |  SELECT prev_type, next_type, count(*) AS n
        |  FROM lagd WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin)),

    // robust per-type outliers: (value - median) / IQR with EVERY quantile
    // an integer rank selection (no mean/stddev float accumulation — one
    // corrupt 1e30 reading cannot eat the detector), flagged at |score|>=3
    Entry("x103_robust_outliers", (s, dir) =>
      graft.ops.EventOps.robustOutliers(
          Registrar.table(s, dir, "events"), cut = 3.0)
        .orderBy("event_id"),
      // mirrors EventOps.robustOutliers: lower-quantile integer rank
      // selection max(1, floor(q*n)) in (value, event_id) order; nullif
      // degenerate-IQR division matches Spark's null (NOT NaN) branch
      Oracle("""WITH r AS (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |), s AS (
        |  SELECT event_type,
        |    min(CASE WHEN rn = greatest(1, floor(0.5 * n)) THEN value END) AS med,
        |    min(CASE WHEN rn = greatest(1, floor(0.25 * n)) THEN value END) AS q1,
        |    min(CASE WHEN rn = greatest(1, floor(0.75 * n)) THEN value END) AS q3
        |  FROM r
        |  WHERE rn IN (greatest(1, floor(0.25 * n)), greatest(1, floor(0.5 * n)),
        |               greatest(1, floor(0.75 * n)))
        |  GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value, s.med,
        |  s.q3 - s.q1 AS iqr,
        |  round((e.value - s.med) / nullif(s.q3 - s.q1, 0), 4) AS score
        |FROM events e JOIN s USING (event_type)
        |WHERE abs(round((e.value - s.med) / nullif(s.q3 - s.q1, 0), 4)) >= 3.0
        |ORDER BY event_id""".stripMargin)),

    // per-node triangle counts on the supplier co-purchase graph (edges =
    // supplier pairs sharing >= 6 distinct orders): degree-ordered
    // orientation bounds the wedge join at m^1.5 on ANY degree skew — the
    // clustering signal behind community-quality / spam-farm detection
    Entry("x104_triangles", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.triangleCounts(
          graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
            minCount = 6),
          "src", "dst")
        .orderBy("node")
    },
      // mirrors Graph.cooccurrenceEdges + triangleCounts: same >= 5 support
      // threshold, same (deg, id) orientation, wedge join at the low-degree
      // corner, both closing-edge directions probed
      Oracle("""WITH os AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
        |), e AS (
        |  SELECT a.s AS a, b.s AS b
        |  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 6
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.a ELSE e.b END AS lo,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.b ELSE e.a END AS hi
        |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
        |), w AS (
        |  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |), t AS (
        |  SELECT u, v, w FROM w JOIN (
        |    SELECT lo AS v, hi AS w FROM o
        |    UNION ALL SELECT hi, lo FROM o) c USING (v, w)
        |)
        |SELECT node, count(*) AS n_tri FROM (
        |  SELECT u AS node FROM t
        |  UNION ALL SELECT v FROM t
        |  UNION ALL SELECT w FROM t)
        |GROUP BY node ORDER BY node""".stripMargin)),

    // multi-level revenue census in ONE pass: GROUP BY ROLLUP over
    // (order-year, priority) — detail rows, per-year subtotals, and the
    // grand total from a single aggregation (Expand), not three scans;
    // lvl derived from key nullness so the oracle needs no engine-specific
    // grouping_id
    Entry("x105_rollup_census", (s, dir) =>
      Registrar.table(s, dir, "orders")
        .select(F.year(F.col("o_orderdate")).as("yr"),
          F.col("o_orderpriority").as("pri"), F.col("o_totalprice"))
        .rollup("yr", "pri")
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.sum("o_totalprice"), 2).as("total"))
        .withColumn("lvl",
          F.when(F.col("yr").isNull, 2).when(F.col("pri").isNull, 1).otherwise(0))
        .orderBy(F.col("lvl"), F.coalesce(F.col("yr"), F.lit(-1)),
          F.coalesce(F.col("pri"), F.lit(""))),
      // mirrors the x105 rollup: GROUP BY ROLLUP, lvl from key nullness
      // (yr is never null in the data, so nullness identifies the level)
      Oracle("""WITH g AS (
        |  SELECT year(o_orderdate) AS yr, o_orderpriority AS pri,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS total
        |  FROM orders GROUP BY ROLLUP (yr, pri)
        |)
        |SELECT yr, pri, n, total,
        |  CASE WHEN yr IS NULL THEN 2 WHEN pri IS NULL THEN 1 ELSE 0 END AS lvl
        |FROM g
        |ORDER BY lvl, coalesce(yr, -1), coalesce(pri, '')""".stripMargin)),

    // per-(source, lang) token-distribution entropy + type-token ratio:
    // the lexical-diversity quality slice (low entropy = template/spam);
    // terms quantized to 9 dp before the unordered sum (pageRank rule)
    Entry("x106_token_entropy", (s, dir) =>
      TextOps.tokenEntropy(
          Registrar.table(s, dir, "documents"),
          Seq("source", "lang"), "text")
        .orderBy("source", "lang"),
      // mirrors TextOps.tokenEntropy: ln(p)/ln(2.0) replays Spark's
      // log(2.0, p) division; terms rounded to 9 dp before the sum and
      // + 0.0 normalizes the single-type group's -0.0
      Oracle("""WITH toks AS (
        |  SELECT source, lang, unnest(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), c AS (
        |  SELECT source, lang, t, count(*) AS c FROM toks GROUP BY 1, 2, 3
        |), pn AS (
        |  SELECT source, lang, c, sum(c) OVER (PARTITION BY source, lang) AS n
        |  FROM c
        |), terms AS (
        |  SELECT source, lang, n,
        |    round(-(c::DOUBLE / n) * (ln(c::DOUBLE / n) / ln(2.0)), 9) AS term
        |  FROM pn
        |)
        |SELECT source, lang, max(n)::BIGINT AS n_tokens, count(*) AS n_types,
        |  round(sum(term) + 0.0, 6) AS entropy_bits,
        |  round(count(*)::DOUBLE / max(n), 6) AS ttr
        |FROM terms GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin)),

    // per-returnflag OLS of extendedprice on quantity: ONE partial-
    // aggregated pass to six sufficient statistics per group, closed-form
    // slope/intercept/r2 on the rollup — the sufficient-statistics shape
    // that fits at 100 TB (explicit expression tree, not engine regr_*
    // builtins whose accumulation differs across engines)
    Entry("x107_ols_regression", (s, dir) =>
      graft.ops.Stats.olsFit(
          Registrar.table(s, dir, "lineitem"),
          Seq("l_returnflag"), F.col("l_quantity"), F.col("l_extendedprice"))
        .orderBy("l_returnflag"),
      // mirrors Stats.olsFit: the same six sums and the same closed-form
      // ratio expression tree (nullif degenerate denominators)
      Oracle("""WITH a AS (
        |  SELECT l_returnflag,
        |    count(*)::DOUBLE AS n,
        |    sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_quantity * l_extendedprice) AS sxy,
        |    sum(l_extendedprice * l_extendedprice) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n::BIGINT AS n,
        |  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6) + 0.0 AS slope,
        |  round((sy * sxx - sx * sxy) / nullif(n * sxx - sx * sx, 0), 6) + 0.0 AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |        nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) + 0.0 AS r2
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // daily × event-type pivot: Spark's pivot with an EXPLICIT value list
    // (no eager distinct scan), absent cells coalesced to 0 to match the
    // oracle's FILTER counts
    Entry("x108_event_pivot", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev.withColumn("day",
          F.date_format(graft.ops.EventOps.tsStamp(ev), "yyyy-MM-dd"))
        .groupBy("day").pivot("event_type", types).agg(F.count(F.lit(1)))
        .select(F.col("day") +:
          types.map(t => F.coalesce(F.col(t), F.lit(0L)).as(t)): _*)
        .orderBy("day")
    },
      // mirrors the x108 pivot: conditional FILTER counts per known type
      Oracle("""SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // chi-squared token/language association, top-50: the feature-
    // selection score behind classifier vocab pruning — integer 2x2
    // contingencies from two bounded rollups, per-row double chi2
    Entry("x109_chi2_tokens", (s, dir) =>
      TextOps.chi2Tokens(
          Registrar.table(s, dir, "documents"),
          "lang", "doc_id", "text", minDf = 5, topK = 50)
        .orderBy(F.col("chi2").desc, F.col("class"), F.col("token")),
      // mirrors TextOps.chi2Tokens: distinct (doc, token, lang) cells, df
      // floor 5, the identical all-double chi2 expression, (chi2 desc,
      // class, token) top-50
      Oracle("""WITH dt AS (
        |  SELECT DISTINCT lang AS cls, doc_id, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0))) AS t
        |  FROM documents
        |), tc AS (
        |  SELECT t, cls, count(*) AS a FROM dt GROUP BY 1, 2
        |), ta AS (
        |  SELECT t, sum(a) AS df FROM tc GROUP BY t HAVING sum(a) >= 5
        |), ct AS (
        |  SELECT lang AS cls, count(*) AS nc FROM documents GROUP BY lang
        |), tot AS (SELECT count(*) AS n FROM documents
        |), cells AS (
        |  SELECT tc.cls, tc.t, tc.a,
        |    ta.df - tc.a AS b, ct.nc - tc.a AS c,
        |    tot.n - ct.nc - (ta.df - tc.a) AS d, tot.n AS n
        |  FROM tc JOIN ta ON tc.t = ta.t JOIN ct ON tc.cls = ct.cls
        |  CROSS JOIN tot
        |)
        |SELECT cls AS class, t AS token, a, b::BIGINT AS b,
        |  round(coalesce(
        |    n::DOUBLE * (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE)
        |      * (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE) /
        |      nullif((a + b)::DOUBLE * (c + d)::DOUBLE * (a + c)::DOUBLE
        |        * (b + d)::DOUBLE, 0.0), 0.0), 6) AS chi2
        |FROM cells
        |ORDER BY chi2 DESC, class, token LIMIT 50""".stripMargin)),

    // frame-sampling SELECTION math oracle twin (x18 stays rows-only: its
    // synthetic metadata is xxhash64-derived) — md5-derived kind routing
    // through the SAME Multimodal.sampleFrames mapPartitions stub, frame
    // positions replayed integer-for-integer in DuckDB
    Entry("x114_frame_sample_fixed", (s, dir) => {
      implicit val sp = s
      val md = Registrar.table(s, dir, "documents").select(
        F.col("doc_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
          (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long") % 3 + 1).cast("int")).as("kind"),
        F.lit(1).as("width"), F.lit(1).as("height"),
        F.encode(F.col("text"), "UTF-8").as("media"))
      Multimodal.sampleFrames(md).toDF()
        .select("doc_id", "frame_idx", "ts_ms")
        .orderBy("doc_id", "frame_idx")
    },
      // mirrors the x114 twin: md5 kind routing + the sampleFrames stub's
      // integer position math (durMs = max(1, bytes/100), n = min(8,
      // dur/1000 + 1), ts = i*1000)
      Oracle("""WITH m AS (
        |  SELECT doc_id,
        |    (('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 3) AS kr,
        |    octet_length(encode(text)) AS len
        |  FROM documents
        |), v AS (
        |  SELECT doc_id, greatest(1, len // 100) AS dur
        |  FROM m WHERE kr = 2
        |), f AS (
        |  SELECT doc_id, unnest(range(0, least(8, dur // 1000 + 1))) AS fi
        |  FROM v
        |)
        |SELECT doc_id, fi::INT AS frame_idx, (fi * 1000)::BIGINT AS ts_ms
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // Good-Turing coverage: frequency-of-frequencies head + the n1/N
    // unseen-mass estimate per source — "how much vocabulary have we NOT
    // seen" for crawl-depth decisions; vocab-bounded rollups
    Entry("x115_unseen_mass", (s, dir) =>
      TextOps.unseenMass(
          Registrar.table(s, dir, "documents"), Seq("source"), "text")
        .orderBy("source"),
      // mirrors TextOps.unseenMass: (source, token) census then the
      // frequency-of-frequencies rollup and n1/N
      Oracle("""WITH c AS (
        |  SELECT source, t, count(*) AS c FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT source,
        |  sum(c)::BIGINT AS n_tokens, count(*) AS vocab,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |  sum(CASE WHEN c = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / sum(c), 6)
        |    AS p_unseen
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // DISTRIBUTED sorted-neighborhood blocking: global (key, id) adjacency
    // window reconstructed from range shards + ghost rows — the oracle
    // compares against a PLAIN global row_number, so the entry IS the
    // proof that the sharded construction equals the global order
    Entry("x113_sorted_neighborhood", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(
          Registrar.table(s, dir, "documents"),
          "doc_id", F.lower(F.trim(F.col("text"))), window = 3, nShards = 8)
        .orderBy("a", "b"),
      // adjudicates Dedup.sortedNeighborhoodPairs: the oracle is the PLAIN
      // global row_number adjacency — equality proves the shard+ghost
      // reconstruction exact
      Oracle("""WITH k AS (
        |  SELECT doc_id AS id, lower(trim(coalesce(text, ''))) AS k
        |  FROM documents
        |), r AS (
        |  SELECT id, k, row_number() OVER (ORDER BY k, id) AS rn FROM k
        |)
        |SELECT a.id AS a, b.id AS b, a.k AS k_a, b.k AS k_b
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
        |ORDER BY a, b""".stripMargin)),

    // pairwise vocabulary Jaccard between sources: the slice-level overlap
    // audit (which shards/snapshots share content?) — per-token join
    // fan-out bounded by the SLICE count, never corpus-quadratic; the
    // exact truth the x100 KMV sketches approximate at scale
    Entry("x110_slice_jaccard", (s, dir) =>
      TextOps.sliceJaccard(
          Registrar.table(s, dir, "documents"), "source", "text")
        .orderBy("a", "b"),
      // mirrors TextOps.sliceJaccard: distinct (source, token), token-keyed
      // pair rollup, size join, one rounded division
      Oracle("""WITH toks AS (
        |  SELECT DISTINCT source AS g, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0))) AS t
        |  FROM documents
        |), sizes AS (
        |  SELECT g, count(*) AS n FROM toks GROUP BY g
        |), inter AS (
        |  SELECT x.g AS a, y.g AS b, count(*) AS n_inter
        |  FROM toks x JOIN toks y ON x.t = y.t AND x.g < y.g
        |  GROUP BY 1, 2
        |)
        |SELECT i.a, i.b, n_inter,
        |  (sa.n + sb.n - n_inter)::BIGINT AS n_union,
        |  round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 6) AS jaccard
        |FROM inter i JOIN sizes sa ON sa.g = i.a JOIN sizes sb ON sb.g = i.b
        |ORDER BY a, b""".stripMargin)),

    // key-skew census + salt planning on the lineitem supplier key: share
    // per key and the integer ceil(share*parallelism) salt fan-out — the
    // pre-job diagnostic that catches the straggler key at 100 TB
    Entry("x111_skew_census", (s, dir) =>
      graft.ops.Scale.skewCensus(
          Registrar.table(s, dir, "lineitem"),
          F.col("l_suppkey"), parallelism = 32, topK = 20)
        .orderBy(F.col("n_rows").desc, F.col("key")),
      // mirrors Scale.skewCensus: census + 1-row total, integer ceiling
      // division for the salt
      Oracle("""WITH c AS (
        |  SELECT l_suppkey AS key, count(*) AS n_rows FROM lineitem GROUP BY 1
        |), t AS (SELECT sum(n_rows) AS n FROM c)
        |SELECT key, n_rows,
        |  round(n_rows::DOUBLE / n, 6) AS share,
        |  ((n_rows * 32 + n - 1) // n)::BIGINT AS salt
        |FROM c CROSS JOIN t
        |ORDER BY n_rows DESC, key LIMIT 20""".stripMargin)),

    // active-session concurrency per hour: gap-sessionized intervals
    // exploded onto their (bounded) hour buckets and counted — the
    // capacity timeline WITHOUT the textbook non-distributable global
    // sweep-line pass
    Entry("x112_session_concurrency", (s, dir) =>
      graft.ops.EventOps.activeSessionsPerHour(
          Registrar.table(s, dir, "events"))
        .orderBy("hour"),
      // mirrors EventOps.activeSessionsPerHour: the x13 sessionize CTE, then
      // per-session [min, max] epoch-µs bounds exploded onto hour indices
      Oracle("""WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT *, (sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM flagged
        |), b AS (
        |  SELECT user_id, session_seq,
        |    min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM sessions GROUP BY 1, 2
        |), h AS (
        |  SELECT unnest(range(s // 3600000000, e // 3600000000 + 1)) AS hh
        |  FROM b
        |)
        |SELECT strftime(make_timestamp(hh * 3600000000), '%Y-%m-%d %H') AS hour,
        |  count(*) AS n_active
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Pearson correlation matrix from ONE sufficient-statistics pass:
    // p + p(p+1)/2 + 1 numbers per group cross the shuffle, the pair rows
    // unfold with one explode — no corr() builtin (engine-internal Welford
    // accumulation is not replayable), no second scan
    Entry("x116_corr_pairs", (s, dir) =>
      graft.ops.Stats.corrPairs(
          Registrar.table(s, dir, "lineitem"),
          Seq("l_returnflag"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("l_returnflag", "col_a", "col_b"),
      // mirrors Stats.corrPairs: the identical sufficient sums and the
      // cov / sqrt(dx·dy) tree per unordered column pair, NULL (not NaN) on
      // a non-positive variance product
      Oracle("""WITH a AS (
        |  SELECT l_returnflag, count(*)::DOUBLE AS n,
        |    sum(l_quantity) AS s1, sum(l_extendedprice) AS s2,
        |    sum(l_discount) AS s3,
        |    sum(l_quantity * l_quantity) AS ss1,
        |    sum(l_extendedprice * l_extendedprice) AS ss2,
        |    sum(l_discount * l_discount) AS ss3,
        |    sum(l_quantity * l_extendedprice) AS p12,
        |    sum(l_quantity * l_discount) AS p13,
        |    sum(l_extendedprice * l_discount) AS p23
        |  FROM lineitem GROUP BY l_returnflag
        |), u AS (
        |  SELECT l_returnflag, n, 'l_quantity' AS col_a,
        |    'l_extendedprice' AS col_b, n * p12 - s1 * s2 AS cov,
        |    (n * ss1 - s1 * s1) * (n * ss2 - s2 * s2) AS dxy FROM a
        |  UNION ALL
        |  SELECT l_returnflag, n, 'l_quantity', 'l_discount',
        |    n * p13 - s1 * s3, (n * ss1 - s1 * s1) * (n * ss3 - s3 * s3) FROM a
        |  UNION ALL
        |  SELECT l_returnflag, n, 'l_extendedprice', 'l_discount',
        |    n * p23 - s2 * s3, (n * ss2 - s2 * s2) * (n * ss3 - s3 * s3) FROM a
        |)
        |SELECT l_returnflag, col_a, col_b, n::BIGINT AS n,
        |  CASE WHEN dxy > 0.0 THEN round(cov / sqrt(dxy), 6) END AS r
        |FROM u ORDER BY l_returnflag, col_a, col_b""".stripMargin)),

    // Welch's two-sample t-test per user cohort: does click value differ
    // from purchase value? — one conditional-aggregation pass, 6 machine
    // numbers per group, explicit t / Welch–Satterthwaite df expression
    // tree (no engine t-test builtin)
    Entry("x117_welch_ttest", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.welchTTest(
          ev.withColumn("cohort", F.pmod(F.col("user_id"), F.lit(4L))),
          Seq("cohort"), F.col("event_type"), F.col("value"),
          "click", "purchase")
        .orderBy("cohort")
    },
      // mirrors Stats.welchTTest: value-counting conditional sums, the
      // (Σxx − Σx²/n)/((n−1)·n) variance-over-n, t and Welch–Satterthwaite
      // df replayed expression-for-expression
      Oracle("""WITH a AS (
        |  SELECT user_id % 4 AS cohort,
        |    count(value) FILTER (event_type = 'click')::DOUBLE AS na,
        |    sum(value) FILTER (event_type = 'click') AS sa,
        |    sum(value * value) FILTER (event_type = 'click') AS ssa,
        |    count(value) FILTER (event_type = 'purchase')::DOUBLE AS nb,
        |    sum(value) FILTER (event_type = 'purchase') AS sb,
        |    sum(value * value) FILTER (event_type = 'purchase') AS ssb
        |  FROM events GROUP BY 1
        |), f AS (
        |  SELECT cohort, na, nb, sa, sb,
        |    (ssa - sa * sa / na) / ((na - 1.0) * na) AS va,
        |    (ssb - sb * sb / nb) / ((nb - 1.0) * nb) AS vb
        |  FROM a
        |)
        |SELECT cohort, na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  round(CASE WHEN na > 0.0 THEN sa / na END, 6) AS mean_a,
        |  round(CASE WHEN nb > 0.0 THEN sb / nb END, 6) AS mean_b,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0
        |    THEN round((sa / na - sb / nb) / sqrt(va + vb), 6) END AS t,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0
        |        AND va * va / (na - 1.0) + vb * vb / (nb - 1.0) > 0.0
        |    THEN round((va + vb) * (va + vb) /
        |               (va * va / (na - 1.0) + vb * vb / (nb - 1.0)), 6) END AS df
        |FROM f ORDER BY cohort""".stripMargin)),

    // per-group equi-width histogram with EMPTY BINS EMITTED and
    // out-of-range mass reported (not clamped into the edge bins) — one
    // partial-aggregated count pass; completion joins the tiny aggregated
    // group list against a sequence-exploded bin frame, never the corpus
    Entry("x118_histogram", (s, dir) =>
      graft.ops.Stats.histogram(
          Registrar.table(s, dir, "lineitem"),
          Seq("l_returnflag"), F.col("l_extendedprice"),
          lo = 0.0, hi = 60000.0, bins = 12)
        .orderBy("l_returnflag", "bin"),
      // mirrors Stats.histogram: identical in-range gate, least/floor bin
      // index, range-frame completion with empty bins at 0 and the per-group
      // out-of-range tally
      Oracle("""WITH c AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_extendedprice IS NOT NULL
        |          AND l_extendedprice >= 0.0 AND l_extendedprice <= 60000.0
        |      THEN least(11, floor((l_extendedprice - 0.0) / 5000.0)::INT)
        |    END AS bin,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), g AS (
        |  SELECT l_returnflag,
        |    coalesce(sum(c) FILTER (bin IS NULL), 0)::BIGINT AS n_out
        |  FROM c GROUP BY l_returnflag
        |), frame AS (
        |  SELECT l_returnflag, n_out, unnest(range(0, 12)) AS bin FROM g
        |)
        |SELECT f.l_returnflag, f.bin::INT AS bin,
        |  round(0.0 + f.bin * 5000.0, 6) AS bin_lo,
        |  round(0.0 + (f.bin + 1) * 5000.0, 6) AS bin_hi,
        |  coalesce(c.c, 0)::BIGINT AS n, f.n_out
        |FROM frame f LEFT JOIN c
        |  ON f.l_returnflag = c.l_returnflag AND f.bin = c.bin
        |ORDER BY f.l_returnflag, f.bin""".stripMargin)),

    // HLL register ALGEBRA: pairwise source overlap (union via max-merge —
    // exact over sketches — intersection by inclusion-exclusion, Jaccard)
    // computed entirely on the <=256-row register tables; the sketch-space
    // answer to x110's exact per-token self-join
    Entry("x119_hll_overlap", (s, dir) => {
      val toks = Registrar.table(s, dir, "documents")
        .select(F.col("source"),
          F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
        .filter(F.length(F.col("t")) > 0)
      graft.ops.Sketches.hllOverlap(toks, "source", F.col("t"))
        .orderBy("a", "b")
    },
      // mirrors Sketches.hllOverlap: x93's register replay, then the pair
      // max-merge union (OR-join ≡ the two tagged replications), the same
      // estimate tree per pair, inclusion-exclusion clamped at 0
      Oracle("""WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), r AS (
        |  SELECT source,
        |    ('0x' || substring(md5(t), 1, 2))::BIGINT AS bucket,
        |    CASE WHEN ('0x' || substring(md5(t), 3, 13))::BIGINT = 0 THEN 53
        |         ELSE 53 - length(ltrim(bin(
        |           ('0x' || substring(md5(t), 3, 13))::BIGINT), '0'))
        |    END AS rho
        |  FROM toks
        |), reg AS (
        |  SELECT source, bucket, max(rho) AS m FROM r GROUP BY source, bucket
        |), agg AS (
        |  SELECT source, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np
        |  FROM reg GROUP BY source
        |), est AS (
        |  SELECT source,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0
        |      / (sp + (256 - np) * 9007199254740992)::DOUBLE AS raw,
        |    256 - np AS v
        |  FROM agg
        |), e2 AS (
        |  SELECT source,
        |    round(CASE WHEN raw <= 2.5 * 256.0 AND v > 0
        |      THEN 256.0 * ln(256.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |  FROM est
        |), srcs AS (SELECT DISTINCT source FROM reg
        |), pr AS (
        |  SELECT x.source AS a, y.source AS b
        |  FROM srcs x, srcs y WHERE x.source < y.source
        |), ureg AS (
        |  SELECT pr.a, pr.b, reg.bucket, max(reg.m) AS m
        |  FROM pr JOIN reg ON reg.source = pr.a OR reg.source = pr.b
        |  GROUP BY pr.a, pr.b, reg.bucket
        |), uagg AS (
        |  SELECT a, b, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np
        |  FROM ureg GROUP BY a, b
        |), uest AS (
        |  SELECT a, b,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0
        |      / (sp + (256 - np) * 9007199254740992)::DOUBLE AS raw,
        |    256 - np AS v
        |  FROM uagg
        |), ue2 AS (
        |  SELECT a, b,
        |    round(CASE WHEN raw <= 2.5 * 256.0 AND v > 0
        |      THEN 256.0 * ln(256.0 / v::DOUBLE) ELSE raw END, 6) AS n_union
        |  FROM uest
        |)
        |SELECT ue2.a, ue2.b, ea.n_est AS n_a, eb.n_est AS n_b, n_union,
        |  greatest(0.0, round(ea.n_est + eb.n_est - n_union, 6)) AS n_inter,
        |  round(greatest(0.0, round(ea.n_est + eb.n_est - n_union, 6))
        |    / nullif(n_union, 0.0), 6) AS jaccard
        |FROM ue2
        |JOIN e2 ea ON ue2.a = ea.source
        |JOIN e2 eb ON ue2.b = eb.source
        |ORDER BY a, b""".stripMargin)),

    // exact-phrase search over a positional token index: posting lists of
    // the phrase's own terms only, occurrences reconstructed by integer
    // (doc, start) equi-joins — no regex scan, no full-stream window
    Entry("x120_phrase_search", (s, dir) =>
      TextOps.phraseSearch(
          Registrar.table(s, dir, "documents"),
          "doc_id", "text", "table part")
        .orderBy("doc_id"),
      // mirrors TextOps.phraseSearch: 0-based positions from parallel
      // unnest/generate_subscripts, per-term posting lists, the (doc,
      // pos-i) start join, per-doc count + min(start)
      Oracle("""WITH lists AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0) AS l
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    generate_subscripts(l, 1) - 1 AS pos
        |  FROM lists
        |), t0 AS (
        |  SELECT doc_id, pos AS start FROM toks WHERE tok = 'table'
        |), h AS (
        |  SELECT t0.doc_id, t0.start
        |  FROM t0 JOIN toks t1
        |    ON t1.doc_id = t0.doc_id AND t1.pos - 1 = t0.start
        |   AND t1.tok = 'part'
        |)
        |SELECT doc_id, count(*) AS n_hits, min(start)::INT AS first_pos
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // per-doc trigram novelty vs all earlier docs (crawl-order "is this
    // snapshot new content?"): one distinct (doc, gram) census + per-gram
    // min-doc window — linear, no pair join
    Entry("x121_ngram_novelty", (s, dir) =>
      TextOps.ngramNovelty(
          Registrar.table(s, dir, "documents"),
          "doc_id", "text", n = 3)
        .orderBy("doc_id"),
      // mirrors TextOps.ngramNovelty: 1-based trigram starts via range
      // (empty below 3 tokens), distinct grams per doc, per-gram min-doc
      // window, per-doc novel fraction
      Oracle("""WITH lists AS (
        |  SELECT doc_id AS id, list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0) AS l
        |  FROM documents
        |), g AS (
        |  SELECT id, unnest(list_distinct(CASE WHEN len(l) >= 3
        |    THEN list_transform(range(1, len(l) - 1),
        |           i -> array_to_string(l[i:i+2], ' '))
        |    ELSE [] END)) AS gram
        |  FROM lists
        |), f AS (
        |  SELECT id, gram, min(id) OVER (PARTITION BY gram) AS first FROM g
        |)
        |SELECT id AS doc_id, count(*) AS n_grams,
        |  sum(CASE WHEN first = id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  round(sum(CASE WHEN first = id THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS novelty
        |FROM f GROUP BY id ORDER BY doc_id""".stripMargin)),

    // EWMA smoothing of the per-type daily event-count series: the
    // recursion folds EXACTLY over a bounded lookback via a higher-order
    // reduce seeded at the frame head (DuckDB list_reduce semantics) —
    // deterministic evaluation order, unlike a weighted sum
    Entry("x122_ewma_smooth", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("day"))
        .agg(F.count(F.lit(1)).as("n"))
      graft.ops.EventOps.ewmaSmooth(daily, Seq("event_type"),
          F.col("day"), F.col("n"), alpha = 0.3, lookback = 16)
        .orderBy("event_type", "t")
    },
      // mirrors EventOps.ewmaSmooth: frame-ordered list window + list_reduce
      // (seeded at the frame head — the same fold the Spark aggregate runs),
      // the runtime (1.0 - 0.3) weight per the x85 IEEE-literal rule
      Oracle("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS t, count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, t, v,
        |    list(v) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
        |  FROM daily
        |)
        |SELECT event_type, t, v,
        |  round(list_reduce(lst, (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc),
        |    6) AS ewma
        |FROM l ORDER BY event_type, t""".stripMargin)),

    // day-N retention cohorts: users bucketed by FIRST active day tracked
    // across integer day offsets — distinct (user, day) collapse means a
    // plain count IS the distinct-user count (no Expand), day-0 size via
    // a post-aggregate window
    Entry("x123_retention", (s, dir) =>
      graft.ops.EventOps.retentionCohorts(
          Registrar.table(s, dir, "events"), "user_id", "ts",
          maxOffsetDays = 14)
        .orderBy("cohort_day", "offset"),
      // mirrors EventOps.retentionCohorts: distinct (user, day), window min
      // cohort day, integer date offsets, plain counts (days are distinct
      // per user), day-0 size via a window over the aggregated table
      Oracle("""WITH days AS (
        |  SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
        |), c AS (
        |  SELECT u, d, min(d) OVER (PARTITION BY u) AS cd FROM days
        |), o AS (
        |  SELECT cd, date_diff('day', cd, d)::INT AS off FROM c
        |  WHERE date_diff('day', cd, d) <= 14
        |), cnt AS (
        |  SELECT cd AS cohort_day, off, count(*) AS n_users
        |  FROM o GROUP BY 1, 2
        |)
        |SELECT cohort_day, off AS "offset", n_users,
        |  round(n_users::DOUBLE / nullif(
        |    sum(CASE WHEN off = 0 THEN n_users ELSE 0 END)
        |      OVER (PARTITION BY cohort_day)::DOUBLE, 0.0), 6) AS rate
        |FROM cnt ORDER BY cohort_day, "offset"""".stripMargin)),

    // reciprocal-rank fusion of two supplier league tables (by line count
    // / by total quantity) per returnflag: rank-only ensemble, 9-dp
    // contributions before the keyed rollup, fused top-10
    Entry("x124_rrf_fuse", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val ra = agg.withColumn("rk", F.row_number().over(wA)).filter(F.col("rk") <= 30)
      val rb = agg.withColumn("rk", F.row_number().over(wB)).filter(F.col("rk") <= 30)
      Similarity.rrfFuse(Seq(ra, rb), "q", "item", "rk",
          kConst = 60, topK = 10)
        .orderBy("query", "fused_rank")
    },
      // mirrors Similarity.rrfFuse over the two supplier league tables:
      // 9-dp 1/(60+rank) contributions, keyed rollup, (rrf desc, item)
      // fused top-10
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rk
        |  FROM agg
        |), u AS (
        |  SELECT q, item, round(1.0 / (60.0 + rk::DOUBLE), 9) AS c
        |  FROM ra WHERE rk <= 30
        |  UNION ALL
        |  SELECT q, item, round(1.0 / (60.0 + rk::DOUBLE), 9)
        |  FROM rb WHERE rk <= 30
        |), f AS (
        |  SELECT q, item, round(sum(c), 9) AS rrf, count(*) AS n_systems
        |  FROM u GROUP BY 1, 2
        |), r AS (
        |  SELECT q AS query, item, rrf, n_systems, row_number()
        |    OVER (PARTITION BY q ORDER BY rrf DESC, item) AS fused_rank
        |  FROM f
        |)
        |SELECT * FROM r WHERE fused_rank <= 10
        |ORDER BY query, fused_rank""".stripMargin)),

    // nDCG@20 of the count-ranked supplier table against graded relevance
    // derived from the quantity ranking (rel = 21 - rank): the ranking-
    // quality readout, log2 gains as ln-division (the x106 rule), 9-dp
    // terms before the per-query sum
    Entry("x125_ndcg", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val res = agg.withColumn("rk", F.row_number().over(wA)).filter(F.col("rk") <= 20)
      val truth = agg.withColumn("rkb", F.row_number().over(wB))
        .filter(F.col("rkb") <= 20)
        .withColumn("rel", (F.lit(21) - F.col("rkb")).cast("long"))
      graft.ops.Stats.ndcg(res, truth, "q", "item", "rk", "rel", k = 20)
        .orderBy("query")
    },
      // mirrors Stats.ndcg on the same two league tables: rel = 21 - rank_B,
      // gains rel / (ln(rank+1)/ln(2)) rounded 9 dp before the per-query
      // sum, ideal ordering (rel desc, item), NULL on idcg = 0
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rkb
        |  FROM agg
        |), res AS (SELECT q, item, rk FROM ra WHERE rk <= 20
        |), tr AS (
        |  SELECT q, item, (21 - rkb)::BIGINT AS rel FROM rb WHERE rkb <= 20
        |), d AS (
        |  SELECT res.q, round(sum(round(
        |    coalesce(tr.rel, 0)::DOUBLE /
        |      (ln(res.rk::DOUBLE + 1.0) / ln(2.0)), 9)), 6) AS dcg
        |  FROM res LEFT JOIN tr ON res.q = tr.q AND res.item = tr.item
        |  GROUP BY res.q
        |), i AS (
        |  SELECT q, round(sum(round(
        |    rel::DOUBLE / (ln(irk::DOUBLE + 1.0) / ln(2.0)), 9)), 6) AS idcg
        |  FROM (
        |    SELECT q, rel, row_number()
        |      OVER (PARTITION BY q ORDER BY rel DESC, item) AS irk
        |    FROM tr
        |  ) WHERE irk <= 20 GROUP BY q
        |)
        |SELECT d.q AS query, dcg, idcg,
        |  round(dcg / nullif(idcg, 0.0), 6) AS ndcg
        |FROM d LEFT JOIN i ON d.q = i.q ORDER BY query""".stripMargin)),

    // Neyman minimum-variance sample-budget allocation across the
    // (returnflag, linestatus) strata: one sufficient-stats pass, N·s
    // weights, window-normalized shares — the planning step upstream of
    // hashSampleByGroup
    Entry("x126_neyman_alloc", (s, dir) =>
      Sampling.neymanAllocation(
          Registrar.table(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), F.col("l_extendedprice"),
          budget = 10000L)
        .orderBy("l_returnflag", "l_linestatus"),
      // mirrors Sampling.neymanAllocation: same sufficient sums, closed-form
      // sample sd under sqrt/greatest guards, window-normalized N·s weights,
      // round-then-cap allocation
      Oracle("""WITH a AS (
        |  SELECT l_returnflag, l_linestatus, count(*)::DOUBLE AS n,
        |    sum(l_extendedprice) AS s,
        |    sum(l_extendedprice * l_extendedprice) AS ss
        |  FROM lineitem GROUP BY 1, 2
        |), w AS (
        |  SELECT l_returnflag, l_linestatus, n, s,
        |    CASE WHEN n >= 2.0 THEN sqrt(greatest(0.0,
        |      (ss - s * s / n) / (n - 1.0))) ELSE 0.0 END AS sd
        |  FROM a
        |), t AS (
        |  SELECT *, n * sd AS wt, sum(n * sd) OVER () AS tw FROM w
        |), r AS (
        |  SELECT l_returnflag, l_linestatus, n::BIGINT AS n_rows,
        |    round(s / n, 6) AS mean, round(sd, 6) AS sd,
        |    least(n, round(10000.0 * wt / nullif(tw, 0.0), 0))::BIGINT AS alloc
        |  FROM t
        |)
        |SELECT l_returnflag, l_linestatus, n_rows, mean, sd, alloc,
        |  round(alloc::DOUBLE / n_rows, 6) AS rate
        |FROM r ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Benford first-digit audit of extendedprice per returnflag: integer
    // string rendering (scaled cents), skipped mass reported, expected
    // share via the ln/ln(10) division both engines share
    Entry("x127_benford", (s, dir) =>
      graft.ops.Stats.benfordAudit(
          Registrar.table(s, dir, "lineitem"),
          Seq("l_returnflag"), F.col("l_extendedprice"), scale = 100)
        .orderBy("l_returnflag", "digit"),
      // mirrors Stats.benfordAudit: scaled-integer string first digit,
      // group windows for total/skip, ln/ln(10) expected shares
      Oracle("""WITH c AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice > 0.0
        |      THEN substring(floor(l_extendedprice * 100)::BIGINT::VARCHAR,
        |        1, 1)::INT END AS digit,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), g AS (
        |  SELECT l_returnflag, digit, c,
        |    sum(CASE WHEN digit IS NULL THEN c ELSE 0 END)
        |      OVER (PARTITION BY l_returnflag) AS skip,
        |    sum(CASE WHEN digit IS NOT NULL THEN c ELSE 0 END)
        |      OVER (PARTITION BY l_returnflag) AS tot
        |  FROM c
        |)
        |SELECT l_returnflag, digit, c AS n,
        |  round(c::DOUBLE / nullif(tot::DOUBLE, 0.0), 6) AS share,
        |  round(ln(1.0 + 1.0 / digit::DOUBLE) / ln(10.0), 6) AS expected,
        |  skip::BIGINT AS n_skipped
        |FROM g WHERE digit IS NOT NULL
        |ORDER BY l_returnflag, digit""".stripMargin)),

    // Gini concentration of lineitem volume across suppliers per
    // returnflag — integer masses make both sums exact; the only float
    // work is two divisions
    Entry("x128_gini", (s, dir) => {
      val m = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag"), F.col("l_suppkey"))
        .agg(F.count(F.lit(1)).as("cnt"))
      graft.ops.Stats.gini(m, Seq("l_returnflag"), F.col("cnt"))
        .orderBy("l_returnflag")
    },
      // mirrors Stats.gini: ascending rank window (tie order immaterial to
      // the i·x sum), exact integer sums, the 2·Σix/(n·Σx) − (n+1)/n tree
      Oracle("""WITH m AS (
        |  SELECT l_returnflag, l_suppkey, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_returnflag, cnt, row_number()
        |    OVER (PARTITION BY l_returnflag ORDER BY cnt) AS i
        |  FROM m
        |), a AS (
        |  SELECT l_returnflag, count(*) AS n, sum(cnt) AS total,
        |    sum(i * cnt) AS ix
        |  FROM r GROUP BY 1
        |)
        |SELECT l_returnflag, n AS n_members, total::BIGINT AS total,
        |  round(2.0 * ix::DOUBLE / nullif(n::DOUBLE * total::DOUBLE, 0.0)
        |    - (n + 1)::DOUBLE / n::DOUBLE, 6) AS gini
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // one-sided CUSUM drift alarm over per-type daily event counts: the
    // sequential-looking recursion as its exact closed form — running sum
    // minus running min, two window aggregates, all integer
    Entry("x129_cusum_drift", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("day"))
        .agg(F.count(F.lit(1)).as("n"))
      graft.ops.EventOps.cusumDrift(daily, Seq("event_type"), F.col("day"),
          F.col("n"), target = 115L, slack = 5L)
        .orderBy("event_type", "t")
    },
      // mirrors EventOps.cusumDrift: running sum of (v − K) minus its own
      // running min (the exact closed form of the CUSUM recursion), all
      // integer
      Oracle("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS t, count(*) AS v
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT event_type, t, v,
        |    sum(v - 120) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        |  FROM daily
        |)
        |SELECT event_type, t, v::BIGINT AS v,
        |  (pp - least(0, min(pp) OVER (PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT
        |    AS cusum
        |FROM p ORDER BY event_type, t""".stripMargin)),

    // top-20 three-step behavioral paths over the (epoch-µs, event_id)
    // total order — session-flow mining via lead chains, census
    // partial-aggregated, TakeOrdered top-k
    Entry("x130_top_paths", (s, dir) =>
      graft.ops.EventOps.topPaths(
          Registrar.table(s, dir, "events"), n = 3, k = 20)
        .orderBy(F.col("n").desc, F.col("path")),
      // mirrors EventOps.topPaths: lead chains over the (epoch µs, event_id)
      // total order, path census, (n desc, path) top-20
      Oracle("""WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), c AS (
        |  SELECT event_type AS e0,
        |    lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |)
        |SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n
        |FROM c WHERE e1 IS NOT NULL AND e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // funnel conversion LATENCY quantiles (x96's frontier chain + the
    // integer-rank-selection quantile rule): how long view→click and
    // click→purchase take at p50/p90, one step-keyed window
    Entry("x131_funnel_latency", (s, dir) =>
      graft.ops.EventOps.funnelLatency(
          Registrar.table(s, dir, "events"),
          Seq("view", "click", "purchase"), qs = Seq(0.5, 0.9))
        .orderBy("step", "q"),
      // mirrors EventOps.funnelLatency: x96's frontier CTEs, consecutive-
      // frontier µs gaps, the max(1, floor(q·n)) rank selection in (lat, u)
      // order
      Oracle("""WITH e AS (
        |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu
        |  FROM events
        |), s1 AS (
        |  SELECT u, min(tu) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s1 ON e.u = s1.u
        |  WHERE et = 'click' AND tu > s1.t GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s2 ON e.u = s2.u
        |  WHERE et = 'purchase' AND tu > s2.t GROUP BY e.u
        |), l AS (
        |  SELECT 1 AS step, 'view' AS from_type, 'click' AS to_type,
        |    s2.u, s2.t - s1.t AS lat
        |  FROM s2 JOIN s1 ON s2.u = s1.u
        |  UNION ALL
        |  SELECT 2, 'click', 'purchase', s3.u, s3.t - s2.t
        |  FROM s3 JOIN s2 ON s3.u = s2.u
        |), r AS (
        |  SELECT step, from_type, to_type, u, lat,
        |    row_number() OVER (PARTITION BY step ORDER BY lat, u) AS rn,
        |    count(*) OVER (PARTITION BY step) AS n
        |  FROM l
        |)
        |SELECT step, from_type, to_type, q, lat AS latency_us,
        |  n AS n_users
        |FROM r CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q)
        |WHERE rn = greatest(1, floor(q * n::DOUBLE))
        |ORDER BY step, q""".stripMargin)),

    // directional association rules over (user, event_type) baskets:
    // support/confidence/lift from integer basket counts — within-basket
    // pair join, broadcast item counts + 1-row total
    Entry("x132_assoc_rules", (s, dir) =>
      graft.ops.EventOps.assocRules(
          Registrar.table(s, dir, "events"), "user_id", "event_type",
          minCount = 5)
        .orderBy("antecedent", "consequent"),
      // mirrors EventOps.assocRules: distinct (basket, item), within-basket
      // directional pair counts >= 5, broadcast item counts + basket total,
      // the same three division trees
      Oracle("""WITH bi AS (
        |  SELECT DISTINCT user_id AS b, event_type AS i FROM events
        |), ic AS (
        |  SELECT i, count(*) AS ni FROM bi GROUP BY i
        |), nb AS (SELECT count(DISTINCT b) AS nb FROM bi
        |), p AS (
        |  SELECT a.i AS antecedent, c.i AS consequent, count(*) AS n_ab
        |  FROM bi a JOIN bi c ON a.b = c.b AND a.i <> c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT antecedent, consequent, n_ab,
        |  round(n_ab::DOUBLE / nb.nb, 6) AS support,
        |  round(n_ab::DOUBLE / na.ni, 6) AS confidence,
        |  round(n_ab::DOUBLE * nb.nb::DOUBLE /
        |    (na.ni::DOUBLE * nc.ni::DOUBLE), 6) AS lift
        |FROM p
        |JOIN ic na ON p.antecedent = na.i
        |JOIN ic nc ON p.consequent = nc.i
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin)),

    // trailing-24h distinct users per hour from SLIDING HLL register
    // algebra: registers built once, the trailing union is a range-frame
    // max window over the densified register table — never re-reads raw
    // events per hour
    Entry("x135_hll_sliding", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Sketches.hllSliding(ev,
          F.call_function("div", graft.ops.EventOps.tsUs(ev),
            F.lit(3600000000L)),
          F.col("user_id"), windowBuckets = 24)
    },
      // mirrors Sketches.hllSliding: x93's register replay per epoch-hour,
      // densified (hours × registers) frame, trailing-24 range-frame max
      // (sketch union), the same estimate tree per hour
      Oracle("""WITH e AS (
        |  SELECT epoch_us(ts) // 3600000000 AS t, user_id AS k FROM events
        |), r AS (
        |  SELECT t,
        |    ('0x' || substring(md5(k::VARCHAR), 1, 2))::BIGINT AS bucket,
        |    CASE WHEN ('0x' || substring(md5(k::VARCHAR), 3, 13))::BIGINT = 0
        |         THEN 53
        |         ELSE 53 - length(ltrim(bin(
        |           ('0x' || substring(md5(k::VARCHAR), 3, 13))::BIGINT), '0'))
        |    END AS rho
        |  FROM e
        |), reg AS (
        |  SELECT t, bucket, max(rho) AS m FROM r GROUP BY 1, 2
        |), hours AS (SELECT DISTINCT t FROM reg
        |), bks AS (SELECT DISTINCT bucket FROM reg
        |), dense AS (
        |  SELECT h.t, b.bucket, reg.m
        |  FROM hours h CROSS JOIN bks b
        |  LEFT JOIN reg ON reg.t = h.t AND reg.bucket = b.bucket
        |), slid AS (
        |  SELECT t, bucket, max(m) OVER (PARTITION BY bucket ORDER BY t
        |    RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS m
        |  FROM dense
        |), f AS (SELECT t, bucket, m FROM slid WHERE m IS NOT NULL
        |), agg AS (
        |  SELECT t, sum(1::BIGINT << (53 - m))::BIGINT AS sp, count(*) AS np
        |  FROM f GROUP BY t
        |), est AS (
        |  SELECT t,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0
        |      / (sp + (256 - np) * 9007199254740992)::DOUBLE AS raw,
        |    256 - np AS v
        |  FROM agg
        |)
        |SELECT t,
        |  round(CASE WHEN raw <= 2.5 * 256.0 AND v > 0
        |    THEN 256.0 * ln(256.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |FROM est ORDER BY t""".stripMargin)),

    // quantile-normalized score blending (the DataComp ensemble-filter
    // move): per-metric percentiles from md5-sampled integer-rank boundary
    // LITERALS — shuffle-free comparison-chain scoring, no global sort
    Entry("x136_rank_blend", (s, dir) =>
      Curation.rankBlend(
          Registrar.table(s, dir, "documents"), "doc_id",
          Seq("len" -> F.col("n_chars"),
            "toks" -> TextOps.tokenCount(F.col("text"))))
        .select("doc_id", "pct_len", "pct_toks", "blend")
        .orderBy("doc_id"),
      // mirrors Curation.rankBlend: same md5 sample, same integer-rank
      // boundary multiset (duplicates preserved), correlated strict-greater
      // counts, blend from the ROUNDED percentiles
      Oracle("""WITH s AS (
        |  SELECT n_chars::DOUBLE AS len,
        |    len(string_split_regex(trim(coalesce(text, '')), '\s+'))::DOUBLE
        |      AS toks
        |  FROM documents
        |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '199a'
        |), cnt AS (SELECT count(*) AS n FROM s
        |), rk AS (
        |  SELECT DISTINCT (i * n) // 100 AS r
        |  FROM range(1, 100) t(i) CROSS JOIN cnt
        |  WHERE (i * n) // 100 >= 1
        |), sl AS (
        |  SELECT len AS v, row_number() OVER (ORDER BY len) AS rn FROM s
        |), st AS (
        |  SELECT toks AS v, row_number() OVER (ORDER BY toks) AS rn FROM s
        |), bl AS (SELECT sl.v FROM sl JOIN rk ON sl.rn = rk.r
        |), bt AS (SELECT st.v FROM st JOIN rk ON st.rn = rk.r
        |), nb AS (
        |  SELECT (SELECT count(*) FROM bl) AS cb,
        |    (SELECT count(*) FROM bt) AS ct
        |), d AS (
        |  SELECT doc_id, n_chars::DOUBLE AS len,
        |    len(string_split_regex(trim(coalesce(text, '')), '\s+'))::DOUBLE
        |      AS toks
        |  FROM documents
        |), pcts AS (
        |  SELECT doc_id,
        |    round((SELECT count(*) FROM bl WHERE d.len > bl.v)::DOUBLE
        |      / nb.cb, 6) AS pct_len,
        |    round((SELECT count(*) FROM bt WHERE d.toks > bt.v)::DOUBLE
        |      / nb.ct, 6) AS pct_toks
        |  FROM d CROSS JOIN nb
        |)
        |SELECT doc_id, pct_len, pct_toks,
        |  round((pct_len + pct_toks) / 2.0, 6) AS blend
        |FROM pcts ORDER BY doc_id""".stripMargin)),

    // seasonal z-scores on hourly volumes: each (type, day, hour) count
    // scored against its same-hour-of-day mean/sd baseline — integer
    // counts, sufficient-stats baseline, broadcast back
    Entry("x140_seasonal_z", (s, dir) =>
      graft.ops.EventOps.seasonalZ(
          Registrar.table(s, dir, "events"))
        .orderBy("event_type", "day", "hour"),
      // mirrors EventOps.seasonalZ: hourly integer counts, same-hour-of-day
      // sufficient-stats baseline, one division z
      Oracle("""WITH hourly AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    hour(ts)::INT AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3
        |), base AS (
        |  SELECT event_type, hour, count(*)::DOUBLE AS d,
        |    sum(n::DOUBLE) AS s, sum(n::DOUBLE * n::DOUBLE) AS ss
        |  FROM hourly GROUP BY 1, 2
        |), b2 AS (
        |  SELECT event_type, hour, round(s / d, 6) AS mean,
        |    CASE WHEN d >= 2.0 THEN round(sqrt(greatest(0.0,
        |      (ss - s * s / d) / (d - 1.0))), 6) END AS sd
        |  FROM base
        |)
        |SELECT h.event_type, h.day, h.hour, h.n, b2.mean, b2.sd,
        |  round((h.n::DOUBLE - b2.mean) / nullif(b2.sd, 0.0), 4) AS z
        |FROM hourly h
        |JOIN b2 ON h.event_type = b2.event_type AND h.hour = b2.hour
        |ORDER BY h.event_type, h.day, h.hour""".stripMargin)),

    // continuous-MLE power-law exponent over the per-customer order-count
    // distribution (Clauset et al. 2009): 9-dp ln terms, one pass
    Entry("x141_powerlaw", (s, dir) => {
      val deg = Registrar.table(s, dir, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).as("d"))
      graft.ops.Stats.powerlawAlpha(deg, F.col("d"), dmin = 2)
    },
      // mirrors Stats.powerlawAlpha at dmin=2: ln(d/1.5) 9-dp terms, the
      // 1 + n/Σ tree
      Oracle("""WITH deg AS (
        |  SELECT o_custkey, count(*) AS d FROM orders GROUP BY 1
        |), t AS (
        |  SELECT round(ln(d::DOUBLE / 1.5), 9) AS t
        |  FROM deg WHERE d::DOUBLE >= 2.0
        |)
        |SELECT count(*) AS n_tail, 2 AS dmin,
        |  round(1.0 + count(*)::DOUBLE / nullif(sum(t), 0.0), 6) AS alpha
        |FROM t""".stripMargin)),

    // mutual information source↔lang: one integer contingency pass,
    // margin windows over the tiny cell table, 9-dp terms, ln-division
    // log2 — the dependence audit behind stratification choices
    Entry("x142_mutual_info", (s, dir) =>
      graft.ops.Stats.mutualInfo(
          Registrar.table(s, dir, "documents"),
          F.col("source"), F.col("lang")),
      // mirrors Stats.mutualInfo: contingency cells, margin windows, the
      // p·log2(cN/(ca·cb)) and −p·log2(margin/N) 9-dp terms, +0.0
      // normalization, nmi = MI/min(H)
      Oracle("""WITH cells AS (
        |  SELECT source AS a, lang AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2
        |), m AS (
        |  SELECT a, b, c,
        |    sum(c) OVER (PARTITION BY a) AS ca,
        |    sum(c) OVER (PARTITION BY b) AS cb,
        |    sum(c) OVER () AS n
        |  FROM cells
        |), t AS (
        |  SELECT n,
        |    round((c::DOUBLE / n::DOUBLE) * (ln(c::DOUBLE * n::DOUBLE
        |      / (ca::DOUBLE * cb::DOUBLE)) / ln(2.0)), 9) AS mi,
        |    round(-(c::DOUBLE / n::DOUBLE)
        |      * (ln(ca::DOUBLE / n::DOUBLE) / ln(2.0)), 9) AS ha,
        |    round(-(c::DOUBLE / n::DOUBLE)
        |      * (ln(cb::DOUBLE / n::DOUBLE) / ln(2.0)), 9) AS hb
        |  FROM m
        |), agg AS (
        |  SELECT max(n)::BIGINT AS n, round(sum(ha) + 0.0, 6) AS h_a,
        |    round(sum(hb) + 0.0, 6) AS h_b,
        |    round(sum(mi) + 0.0, 6) AS mi_bits
        |  FROM t
        |)
        |SELECT n, h_a, h_b, mi_bits,
        |  round(mi_bits / nullif(least(h_a, h_b), 0.0), 6) AS nmi
        |FROM agg""".stripMargin)),

    // cosine RANGE search (radius, not top-k): every neighbor >= 0.4 of
    // each query — broadcast queries, corpus scanned once, no window
    Entry("x166_range_search", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(F.col("vec_id") < 20),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy("query_id", "neighbor_id")
    },
      // mirrors Similarity.rangeSearch: x06's cosine replay with the radius
      // filter on the UNROUNDED cos, 6-dp output
      Oracle("""WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id != q.vec_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cos
        |FROM scored WHERE cos >= 0.4
        |ORDER BY query_id, neighbor_id""".stripMargin)),

    // greedy k-center coreset: 6 maximally-spread vectors (diversity
    // selection for a labeling budget — the opposite of semDedup); every
    // pick replayed by the oracle's chained argmax CTEs
    Entry("x168_kcenter", (s, dir) =>
      Similarity.kCenterCoreset(Registrar.table(s, dir, "embeddings"),
          "vec_id", "embedding", k = 6)
        .orderBy("pick"),
      // replays every greedy pick as a chained argmax: m_k = running min of
      // per-round 6-dp-rounded squared distances (≡ Spark's round-of-min —
      // round is monotone), tie-break lowest vec_id, chosen ids excluded
      Oracle("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c1 AS (SELECT vec_id, embedding FROM e
        |       WHERE vec_id = (SELECT min(vec_id) FROM e)),
        |m1 AS (SELECT v.vec_id, v.embedding,
        |  round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6) AS md
        |  FROM e v, c1 c WHERE v.vec_id <> c.vec_id),
        |c2 AS (SELECT vec_id, embedding, md FROM m1 ORDER BY md DESC, vec_id LIMIT 1),
        |m2 AS (SELECT m.vec_id, m.embedding, least(m.md,
        |  round(list_sum(list_transform(range(1, len(m.embedding) + 1),
        |    i -> (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6)) AS md
        |  FROM m1 m, c2 c WHERE m.vec_id <> c.vec_id),
        |c3 AS (SELECT vec_id, embedding, md FROM m2 ORDER BY md DESC, vec_id LIMIT 1),
        |m3 AS (SELECT m.vec_id, m.embedding, least(m.md,
        |  round(list_sum(list_transform(range(1, len(m.embedding) + 1),
        |    i -> (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6)) AS md
        |  FROM m2 m, c3 c WHERE m.vec_id <> c.vec_id),
        |c4 AS (SELECT vec_id, embedding, md FROM m3 ORDER BY md DESC, vec_id LIMIT 1),
        |m4 AS (SELECT m.vec_id, m.embedding, least(m.md,
        |  round(list_sum(list_transform(range(1, len(m.embedding) + 1),
        |    i -> (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6)) AS md
        |  FROM m3 m, c4 c WHERE m.vec_id <> c.vec_id),
        |c5 AS (SELECT vec_id, embedding, md FROM m4 ORDER BY md DESC, vec_id LIMIT 1),
        |m5 AS (SELECT m.vec_id, m.embedding, least(m.md,
        |  round(list_sum(list_transform(range(1, len(m.embedding) + 1),
        |    i -> (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (m.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6)) AS md
        |  FROM m4 m, c5 c WHERE m.vec_id <> c.vec_id),
        |c6 AS (SELECT vec_id, embedding, md FROM m5 ORDER BY md DESC, vec_id LIMIT 1)
        |SELECT 1 AS pick, vec_id, 0.0 AS dist2 FROM c1
        |UNION ALL SELECT 2, vec_id, md FROM c2
        |UNION ALL SELECT 3, vec_id, md FROM c3
        |UNION ALL SELECT 4, vec_id, md FROM c4
        |UNION ALL SELECT 5, vec_id, md FROM c5
        |UNION ALL SELECT 6, vec_id, md FROM c6
        |ORDER BY pick""".stripMargin)),

    // cross-source score calibration: n_chars quantile-normalized onto a
    // deterministic md5 half-sample reference — integer rank→index math,
    // bounded single-partition window only over the reference
    Entry("x169_quantile_norm", (s, dir) =>
      graft.ops.Curation.quantileNormalize(
          Registrar.table(s, dir, "documents")
            .select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", refRate = 0.5)
        .orderBy("doc_id"),
      // rank→reference-index math is pure integer ((rk-1)(m-1) // (cnt-1)),
      // and the md5 half-sample reference replays the hashSample decision
      // (x26 idiom) — endpoints map to endpoints, ties broken by doc_id
      Oracle("""WITH ranked AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents),
        |ref AS (
        |  SELECT n_chars, doc_id FROM documents
        |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '8000'),
        |refranked AS (
        |  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    n_chars AS calibrated
        |  FROM ref),
        |m AS (SELECT count(*) AS m FROM ref)
        |SELECT r.doc_id, r.source, r.n_chars, rr.calibrated
        |FROM ranked r CROSS JOIN m
        |LEFT JOIN refranked rr
        |  ON 1 + ((r.rk - 1) * (m.m - 1)) // greatest(r.cnt - 1, 1) = rr.rn
        |ORDER BY r.doc_id""".stripMargin)),

    // Poisson-bootstrap CI for each source's mean doc length: 200
    // deterministic integer-weighted resamples in ONE scan — every mean
    // exact-integer until the final 6-dp rounding, CI = order statistics
    Entry("x170_bootstrap_ci", (s, dir) =>
      graft.ops.Stats.bootstrapCI(
          Registrar.table(s, dir, "documents"),
          Seq("source"), F.col("n_chars"), F.col("doc_id"),
          b = 200, conf = 0.95)
        .orderBy("source"),
      // integer-space replay of the Poisson weights: u32 from the same md5
      // prefix, the same 8 hardcoded floor(CDF·2^32) thresholds, exact
      // integer weighted sums per resample, ranks 5/196 = the 2.5%/97.5%
      // order statistics of B=200
      Oracle("""WITH base AS (SELECT source, n_chars AS v, doc_id AS id FROM documents),
        |bs AS (SELECT unnest(range(0, 200)) AS b),
        |rs AS (SELECT base.source, base.v, bs.b,
        |  ('0x' || substring(md5(bs.b::VARCHAR || ':' || base.id::VARCHAR), 1, 8))::BIGINT AS u
        |  FROM base CROSS JOIN bs),
        |wt AS (SELECT source, b, v,
        |  (CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 3950075421 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 4279248373 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 4292415291 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 4294609777 THEN 1 ELSE 0 END +
        |   CASE WHEN u >= 4294923276 THEN 1 ELSE 0 END) AS w
        |  FROM rs),
        |mn AS (SELECT source, b,
        |  round(sum(w * v) / greatest(sum(w), 1), 6) AS mean
        |  FROM wt GROUP BY source, b),
        |rk AS (SELECT source, b, mean,
        |  row_number() OVER (PARTITION BY source ORDER BY mean, b) AS rk
        |  FROM mn),
        |ci AS (SELECT source,
        |  max(CASE WHEN rk = 5 THEN mean END) AS ci_lo,
        |  max(CASE WHEN rk = 196 THEN mean END) AS ci_hi
        |  FROM rk GROUP BY source),
        |pt AS (SELECT source, count(*) AS n,
        |  round(sum(n_chars)::DOUBLE / count(*), 6) AS mean
        |  FROM documents GROUP BY source)
        |SELECT pt.source, pt.n, pt.mean, ci.ci_lo, ci.ci_hi
        |FROM pt JOIN ci USING (source) ORDER BY pt.source""".stripMargin)),

    // autocorrelation of the daily event-volume series at lags 0..7 — the
    // weekly-periodicity readout, leadLagCorr against itself
    Entry("x167_autocorr", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.leadLagCorr(daily, daily, "t", "v", maxLag = 7)
        .filter(F.col("lag") >= 0)
        .orderBy("lag")
    },
      // mirrors the x167 autocorrelation: x137's machinery with a = b =
      // the daily total series, non-negative lags
      Oracle("""WITH daily AS (
        |  SELECT (ts::DATE - DATE '1970-01-01') AS t, count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1
        |), lags AS (
        |  SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS lag
        |), j AS (
        |  SELECT lag, count(*)::DOUBLE AS n, sum(a.v) AS sx, sum(b.v) AS sy,
        |    sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy,
        |    sum(a.v * b.v) AS sxy
        |  FROM lags JOIN daily b ON true JOIN daily a ON b.t - lag = a.t
        |  GROUP BY lag
        |)
        |SELECT lag, n::BIGINT AS n,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r
        |FROM j ORDER BY lag""".stripMargin)),

    // Kaplan-Meier user-lifetime survival: per-user first→last event span
    // in days, censored when the user was still active in the final 3
    // days of the window — subjects collapse to distinct-duration rows
    // before any window touches them
    Entry("x171_kaplan_meier", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val per = ev.groupBy("user_id")
        .agg(F.min(graft.ops.EventOps.tsStamp(ev)).as("f"),
          F.max(graft.ops.EventOps.tsStamp(ev)).as("l"))
      val mx = per.agg(F.max("l").as("m"))
      val subj = per.crossJoin(F.broadcast(mx))
        .select(F.datediff(F.to_date(F.col("l")), F.to_date(F.col("f")))
            .as("dur"),
          F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 3 DAYS"), 1)
            .otherwise(0).as("ev"))
      graft.ops.Stats.kaplanMeier(subj, F.col("dur"), F.col("ev"))
    },
      // product-limit replay: suffix-sum risk sets over distinct durations,
      // 9-dp ln terms, explicit S=0 once the risk set is consumed
      Oracle("""WITH per AS (SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT max(l) AS m FROM per),
        |subj AS (SELECT datediff('day', f::DATE, l::DATE) AS dur,
        |    CASE WHEN l < m - INTERVAL 3 DAY THEN 1 ELSE 0 END AS ev
        |  FROM per CROSS JOIN mx),
        |byt AS (SELECT dur AS t, sum(ev)::BIGINT AS d, count(*) AS lv
        |  FROM subj GROUP BY dur),
        |risk AS (SELECT t, d, sum(lv) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk
        |  FROM byt),
        |death AS (SELECT t, n_risk, d,
        |    CASE WHEN d < n_risk
        |      THEN round(ln(1 - d / CAST(n_risk AS DOUBLE)), 9)
        |      ELSE 0 END AS lnterm,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM risk WHERE d > 0),
        |cum AS (SELECT t, n_risk, d,
        |    max(dead) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dd,
        |    sum(lnterm) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
        |  FROM death)
        |SELECT t, n_risk, d,
        |  CASE WHEN dd = 1 THEN 0.0 ELSE round(exp(sl), 6) END AS survival
        |FROM cum ORDER BY t""".stripMargin)),

    // k-anonymity / l-diversity release audit on the customer table:
    // QI = (nation, segment), sensitive = coarse balance bucket — one
    // keyed rollup, class table bounded by the QI domain
    Entry("x172_kanonymity", (s, dir) =>
      graft.ops.Curation.kAnonymityAudit(
        Registrar.table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000), kMin = 5),
      // one grouped rollup — k, l, and the kMin flag are all exact integers
      Oracle("""SELECT c_nationkey, c_mktsegment, count(*) AS k,
        |  count(DISTINCT floor(c_acctbal / 1000)) AS l,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // SCD type-2 state history from the event stream: contiguous
    // event_type runs per user become validity intervals — keyed
    // gaps-and-islands, every window partitioned by user
    Entry("x174_scd2", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.EventOps.scd2(ev, "user_id", F.col("event_type"),
          F.col("event_id"))
        .orderBy("key", "valid_from")
    },
      // gaps-and-islands replay with the same (ts, event_id) tie-break
      Oracle("""WITH base AS (SELECT user_id AS key, event_type AS state, ts,
        |    event_id FROM events),
        |flg AS (SELECT key, state, ts, event_id,
        |    CASE WHEN lag(state) OVER w IS NULL
        |      OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS chg
        |  FROM base WINDOW w AS (PARTITION BY key ORDER BY ts, event_id)),
        |isl AS (SELECT key, state, ts,
        |    sum(chg) OVER (PARTITION BY key ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM flg),
        |g AS (SELECT key, isl, min(state) AS state, count(*) AS n_events,
        |    min(ts) AS valid_from
        |  FROM isl GROUP BY key, isl)
        |SELECT key, state, n_events, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM g WINDOW w2 AS (PARTITION BY key ORDER BY isl)
        |ORDER BY key, valid_from""".stripMargin)),

    // Mann-Whitney rank-sum: are en docs longer than the rest? Midranks
    // from a distinct-value collapse — no subject-level sort anywhere
    Entry("x175_mannwhitney", (s, dir) =>
      graft.ops.Stats.mannWhitneyU(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en"),
      // midranks from the distinct-value collapse; tie-corrected z
      Oracle("""WITH v AS (SELECT n_chars AS vv,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1 FROM documents),
        |byv AS (SELECT vv, sum(c1) AS n1g, count(*) AS t FROM v GROUP BY vv),
        |mid AS (SELECT n1g, t,
        |    (sum(t) OVER (ORDER BY vv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS midr
        |  FROM byv),
        |st AS (SELECT sum(n1g)::BIGINT AS n1, sum(t - n1g)::BIGINT AS n2,
        |    sum(n1g * midr) AS r1, sum(t*t*t - t)::DOUBLE AS tie FROM mid)
        |SELECT n1, n2,
        |  round(r1 - n1*(n1+1.0)/2.0, 6) AS u1,
        |  round(n1::DOUBLE*n2 - (r1 - n1*(n1+1.0)/2.0), 6) AS u2,
        |  round(((r1 - n1*(n1+1.0)/2.0) - n1::DOUBLE*n2/2.0) /
        |    sqrt(nullif(n1::DOUBLE*n2/12.0 *
        |      ((n1+n2+1.0) - tie/((n1+n2)::DOUBLE*(n1+n2-1.0))), 0.0)), 6)
        |    AS z
        |FROM st""".stripMargin)),

    // Benjamini-Hochberg over per-token 2-dof χ² (en/zh/other presence
    // table): p = exp(−χ²/2) exactly, step-up flag via one bounded window
    Entry("x176_bh_fdr", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val grp = F.when(F.col("lang") === "en", "en")
        .when(F.col("lang") === "zh", "zh").otherwise("other")
      graft.ops.Stats.bhFdr(
        TextOps.chi2TokensDf2(docs, "doc_id", "text", grp, minDf = 20),
        Seq("token"), F.col("chi2"), alpha = 0.05)
    },
      // dense 2x3 presence table, 9-dp per-group cell pairs, closed-form
      // df=2 p-value, step-up max flag over the reverse order
      Oracle("""WITH doc AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |      ELSE 'other' END AS g, text FROM documents),
        |tok AS (SELECT DISTINCT doc_id, g, t FROM (SELECT doc_id, g,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |  FROM doc)),
        |tg AS (SELECT t, g, count(*) AS a FROM tok GROUP BY 1, 2),
        |gt AS (SELECT g, count(*) AS ng FROM doc GROUP BY g),
        |tdf AS (SELECT t, sum(a) AS dfd FROM tg GROUP BY t
        |  HAVING sum(a) >= 20),
        |n AS (SELECT count(*) AS nn FROM doc),
        |cells AS (SELECT tdf.t, tdf.dfd, gt.g, gt.ng,
        |    coalesce(tg.a, 0) AS a
        |  FROM tdf CROSS JOIN gt
        |  LEFT JOIN tg ON tg.t = tdf.t AND tg.g = gt.g),
        |cc AS (SELECT t, dfd, round(
        |    coalesce((a - ep)*(a - ep)/nullif(ep, 0.0), 0.0) +
        |    coalesce(((ng - a) - ea)*((ng - a) - ea)/nullif(ea, 0.0), 0.0),
        |    9) AS cell
        |  FROM (SELECT t, dfd, ng, a::DOUBLE AS a,
        |      dfd::DOUBLE * ng / nn AS ep,
        |      (nn - dfd)::DOUBLE * ng / nn AS ea
        |    FROM cells CROSS JOIN n)),
        |chi AS (SELECT t AS token, round(sum(cell), 6) AS chi2
        |  FROM cc GROUP BY t),
        |keyed AS (SELECT token, chi2, round(exp(-chi2 / 2.0), 9) AS p
        |  FROM chi),
        |m AS (SELECT count(*) AS m FROM keyed),
        |rk AS (SELECT token, chi2, p,
        |    row_number() OVER (ORDER BY p, token) AS i FROM keyed),
        |fl AS (SELECT token, chi2, p, i,
        |    CASE WHEN p <= i * 0.05 / m THEN 1 ELSE 0 END AS pass
        |  FROM rk CROSS JOIN m)
        |SELECT token, chi2, p, i,
        |  max(pass) OVER (ORDER BY p DESC, token DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    AS discovered
        |FROM fl ORDER BY i""".stripMargin)),

    // calibration of the x49 quality classifier against the lang=='en'
    // label: 10 equal-width bins + corpus ECE, pure projections
    Entry("x177_calibration", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.calibrationBins(scored, F.col("quality_score"),
        F.col("lang") === "en", nBins = 10)
    },
      // the x49 scorer replayed verbatim, then equal-width bins + ECE
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT doc_id, lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |b AS (SELECT least(floor(s * 10), 9)::BIGINT AS bin, s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM sc),
           |bins AS (SELECT bin, count(*) AS n, round(avg(s), 6) AS conf,
           |    round(avg(y), 6) AS acc FROM b GROUP BY bin),
           |e AS (SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece
           |  FROM bins)
           |SELECT bin, n, conf, acc, ece FROM bins CROSS JOIN e
           |ORDER BY bin""".stripMargin
      }),

    // Matryoshka truncation-recall ladder: how much of the exact top-10
    // survives at prefix dims 8/16/32/64 — one bruteKnn per rung, corpus
    // scanned, never shuffled
    Entry("x173_matryoshka", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.matryoshkaRecall(emb, emb.filter(F.col("vec_id") < 30),
        "vec_id", "embedding", dims = Seq(8, 16, 32, 64), k = 10)
    },
      // truth and every rung replayed with the x06 ranking convention
      // (raw-cos row_number, neighbor-id tie-break); dims LEFT JOIN keeps
      // a zero-hit rung visible
      Oracle("""WITH dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
        |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 30),
        |nq AS (SELECT count(*) AS nq FROM q),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, len(c.embedding) + 1),
        |        i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(c.embedding,
        |           x -> x::DOUBLE * x::DOUBLE)))
        |         * sqrt(list_sum(list_transform(q.embedding,
        |           x -> x::DOUBLE * x::DOUBLE)))) DESC, c.vec_id) AS rk
        |  FROM embeddings c, q WHERE c.vec_id != q.vec_id) WHERE rk <= 10),
        |tr AS (SELECT dim, query_id, neighbor_id FROM (
        |  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY d.dim, q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, d.dim + 1),
        |        i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(
        |           list_slice(c.embedding, 1, d.dim),
        |           x -> x::DOUBLE * x::DOUBLE)))
        |         * sqrt(list_sum(list_transform(
        |           list_slice(q.embedding, 1, d.dim),
        |           x -> x::DOUBLE * x::DOUBLE)))) DESC, c.vec_id) AS rk
        |  FROM dims d, embeddings c, q WHERE c.vec_id != q.vec_id)
        |  WHERE rk <= 10),
        |hits AS (SELECT dim, count(*) AS hits
        |  FROM tr JOIN truth USING (query_id, neighbor_id) GROUP BY dim)
        |SELECT d.dim, coalesce(h.hits, 0) AS hits,
        |  round(coalesce(h.hits, 0) / (nq.nq * 10.0), 6) AS recall
        |FROM dims d LEFT JOIN hits h USING (dim) CROSS JOIN nq
        |ORDER BY d.dim""".stripMargin)),

    // margin-based bitext mining between the label-0 and label-1 vector
    // sets: ratio margin over two bruteKnn candidate passes, best mate
    // per left vector above margin 1
    Entry("x179_bitext_margin", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.bitextMargin(
        emb.filter(F.col("label") === 0), emb.filter(F.col("label") === 1),
        "vec_id", "embedding", k = 4, minMargin = 1.0)
    },
      // one all-pairs CTE serves both knn directions; 9-dp neighborhood
      // averages, 6-dp ratio margin, best mate per a via the same
      // (margin desc, b_id) tie-break
      Oracle("""WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        |pair AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(b.embedding,
        |         x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(a.embedding,
        |         x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM a, b),
        |fwd AS (SELECT a_id, b_id, cos, row_number() OVER (
        |    PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk FROM pair),
        |bwd AS (SELECT a_id, b_id, cos, row_number() OVER (
        |    PARTITION BY b_id ORDER BY cos DESC, a_id) AS rk FROM pair),
        |avga AS (SELECT a_id, round(avg(round(cos, 9)), 9) AS av_a
        |  FROM fwd WHERE rk <= 4 GROUP BY a_id),
        |avgb AS (SELECT b_id, round(avg(round(cos, 9)), 9) AS av_b
        |  FROM bwd WHERE rk <= 4 GROUP BY b_id),
        |cand AS (SELECT f.a_id, f.b_id, f.cos,
        |    round(f.cos / ((av_a + av_b) / 2.0), 6) AS margin
        |  FROM fwd f JOIN avga USING (a_id) JOIN avgb USING (b_id)
        |  WHERE f.rk <= 4),
        |best AS (SELECT a_id, b_id, cos, margin, row_number() OVER (
        |    PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk FROM cand)
        |SELECT a_id, b_id, round(cos, 6) AS cos, margin
        |FROM best WHERE rk = 1 AND margin >= 1.0 ORDER BY a_id""".stripMargin)),

    // difficulty curriculum: per-source ntile bins over the negated
    // unigram log-likelihood — keyed windows only, x47 scoring machinery
    Entry("x180_curriculum", (s, dir) =>
      graft.ops.Curation.curriculumPlan(
        Registrar.table(s, dir, "documents"),
        "doc_id", "text", "source", nBins = 5),
      // the x47 unigram CTE, negated and 6-dp, then per-source ntile —
      // gramless docs pinned to difficulty 0 on both sides
      Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents
        |), vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT count(*) AS n FROM toks),
        |sc AS (SELECT doc_id, round(-avg(ln(cnt::DOUBLE / n)), 6) AS difficulty
        |  FROM toks JOIN vocab USING (term), tot GROUP BY doc_id),
        |d AS (SELECT d.doc_id, d.source,
        |    coalesce(sc.difficulty, 0.0) AS difficulty
        |  FROM documents d LEFT JOIN sc USING (doc_id))
        |SELECT doc_id, source, difficulty, ntile5 AS bin,
        |  row_number() OVER (PARTITION BY source, ntile5
        |    ORDER BY difficulty, doc_id) AS bin_rank
        |FROM (SELECT doc_id, source, difficulty,
        |    ntile(5) OVER (PARTITION BY source
        |      ORDER BY difficulty, doc_id) AS ntile5 FROM d)
        |ORDER BY source, bin, bin_rank""".stripMargin)),

    // MRR of the x125 popularity ranking against the top-5-by-quantity
    // truth: first-hit position per query, misses score 0
    Entry("x181_mrr", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val res = agg.withColumn("rk", F.row_number().over(wA))
        .filter(F.col("rk") <= 20)
      val truth = agg.withColumn("rkb", F.row_number().over(wB))
        .filter(F.col("rkb") <= 5)
      graft.ops.Stats.mrr(res, truth, "q", "item", "rk")
    },
      // the x125 ranking CTEs, then first-hit min-rank per query
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rkb
        |  FROM agg
        |), res AS (SELECT q, item, rk FROM ra WHERE rk <= 20),
        |tr AS (SELECT q, item FROM rb WHERE rkb <= 5),
        |hits AS (SELECT res.q, min(rk) AS first_rank
        |  FROM res JOIN tr ON res.q = tr.q AND res.item = tr.item
        |  GROUP BY res.q),
        |qs AS (SELECT DISTINCT q FROM res),
        |perq AS (SELECT qs.q, hits.first_rank,
        |    round(coalesce(1.0::DOUBLE / first_rank, 0.0), 9) AS rr
        |  FROM qs LEFT JOIN hits ON qs.q = hits.q),
        |g AS (SELECT round(avg(rr), 6) AS mrr FROM perq)
        |SELECT q AS query, first_rank, rr, mrr FROM perq CROSS JOIN g
        |ORDER BY query""".stripMargin)),

    // cohort LTV curve: cumulative purchase value per cohort user by age
    // — two keyed rollups, one bounded per-cohort window
    Entry("x182_ltv_curve", (s, dir) =>
      graft.ops.EventOps.ltvCurve(
        Registrar.table(s, dir, "events"), "purchase"),
      // day arithmetic on dates, keyed cumulative window, sizes joined back
      Oracle("""WITH e AS (SELECT user_id, (ts::DATE - DATE '1970-01-01') AS d,
        |    event_type, value FROM events),
        |fd AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
        |sz AS (SELECT cohort_day, count(*) AS n_users FROM fd
        |  GROUP BY cohort_day),
        |p AS (SELECT fd.cohort_day, e.d - fd.cohort_day AS age,
        |    round(sum(value), 6) AS value_sum
        |  FROM e JOIN fd USING (user_id) WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (SELECT cohort_day, age, value_sum,
        |    round(sum(value_sum) OVER (PARTITION BY cohort_day ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |      AS cum_value
        |  FROM p)
        |SELECT c.cohort_day, c.age, sz.n_users, c.value_sum, c.cum_value,
        |  round(c.cum_value / sz.n_users, 6) AS cum_per_user
        |FROM c JOIN sz USING (cohort_day) ORDER BY cohort_day, age""".stripMargin)),

    // U-shaped attribution over the same 6-hour window as x157's
    // last-touch: 40/20/40 position weights, touchless convs → direct
    Entry("x183_ushape", (s, dir) =>
      graft.ops.EventOps.uShapeAttribution(
        Registrar.table(s, dir, "events"), "purchase",
        windowUs = 21600000000L),
      // next-conversion binding via one IGNORE NULLS window, positional
      // weights as exact decimals-to-double, direct = anti-join
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |nx AS (SELECT *, first_value(CASE WHEN event_type = 'purchase'
        |      THEN struct_pack(cus := us, cid := event_id) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM e),
        |tch AS (SELECT nxt.cid AS conv, event_type AS touch_type, us,
        |    event_id
        |  FROM nx WHERE event_type <> 'purchase' AND nxt IS NOT NULL
        |    AND nxt.cus - us <= 21600000000),
        |pos AS (SELECT conv, touch_type,
        |    row_number() OVER (PARTITION BY conv ORDER BY us, event_id) AS p,
        |    count(*) OVER (PARTITION BY conv) AS n
        |  FROM tch),
        |wt AS (SELECT touch_type, round((CASE WHEN n = 1 THEN 1.0
        |    WHEN p = 1 OR p = n THEN (CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END)
        |    ELSE 0.2::DOUBLE / (n - 2) END)::DOUBLE, 9) AS w
        |  FROM pos),
        |dir AS (SELECT 'direct' AS touch_type, 1.0::DOUBLE AS w
        |  FROM e WHERE event_type = 'purchase'
        |    AND event_id NOT IN (SELECT DISTINCT conv FROM tch)),
        |u AS (SELECT * FROM wt UNION ALL SELECT * FROM dir),
        |g AS (SELECT touch_type, count(*) AS n_touches,
        |    round(sum(w), 6) AS credit FROM u GROUP BY 1)
        |SELECT touch_type, n_touches, credit,
        |  round(credit / sum(credit) OVER (), 6) AS share
        |FROM g ORDER BY touch_type""".stripMargin)),

    // SRM gate over the x41 splitter: observed arm counts vs the
    // 0.8/0.1/0.1 design, closed-form df=2 p — the split-bias tripwire
    Entry("x184_srm", (s, dir) => {
      val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      graft.ops.Stats.srmCheck(
        graft.ops.Sampling.splitAssign(
          Registrar.table(s, dir, "documents"), F.col("text"), w),
        F.col("split"), w)
    },
      // the x41 split replayed, then goodness-of-fit cells at 9 dp and the
      // closed-form df=2 p
      Oracle("""WITH s AS (SELECT CASE
        |    WHEN '0' || substring(md5(coalesce(text, '')), 1, 4) < '0cccd'
        |      THEN 'train'
        |    WHEN '0' || substring(md5(coalesce(text, '')), 1, 4) < '0e666'
        |      THEN 'val'
        |    ELSE 'test' END AS split FROM documents),
        |obs AS (SELECT split, count(*) AS n_obs FROM s GROUP BY split),
        |tot AS (SELECT sum(n_obs)::BIGINT AS n FROM obs),
        |cells AS (SELECT split, n_obs, round(n * (CASE split
        |    WHEN 'train' THEN 0.8 WHEN 'val' THEN 0.1
        |    ELSE 0.1 END)::DOUBLE, 6) AS n_exp
        |  FROM obs CROSS JOIN tot),
        |c2 AS (SELECT split, n_obs, n_exp,
        |    round((n_obs - n_exp) * (n_obs - n_exp) / nullif(n_exp, 0.0), 9)
        |      AS cell
        |  FROM cells),
        |chi AS (SELECT round(sum(cell), 6) AS chi2 FROM c2)
        |SELECT split, n_obs, n_exp, chi2,
        |  round(exp(-chi2 / 2.0), 9) AS p,
        |  round(exp(-chi2 / 2.0), 9) < 0.001 AS srm
        |FROM c2 CROSS JOIN chi ORDER BY split""".stripMargin)),

    // temperature-flattened language mix (α=0.3, the XLM-R rule):
    // natural vs reweighted shares + the upsample factor table
    Entry("x185_temperature_mix", (s, dir) =>
      graft.ops.Sampling.temperatureMix(
        Registrar.table(s, dir, "documents"), F.col("lang"),
        alpha = 0.3),
      // exp(α·ln p) at 9 dp — the explicit primitive chain, not pow()
      Oracle("""WITH c AS (SELECT lang AS "group", count(*) AS n FROM documents
        |  GROUP BY lang),
        |t AS (SELECT "group", n, n::DOUBLE / sum(n) OVER () AS p FROM c),
        |q AS (SELECT "group", n, p, round(exp(0.3 * ln(p)), 9) AS qn
        |  FROM t),
        |s AS (SELECT "group", n, p, qn / sum(qn) OVER () AS qq FROM q)
        |SELECT "group", n, round(p, 6) AS p, round(qq, 6) AS q,
        |  round(qq / p, 6) AS factor
        |FROM s ORDER BY "group"""".stripMargin)),

    // Pareto frontier of (n_chars, token count): the non-dominated docs —
    // salt-keyed local skyline prunes before any global window
    Entry("x186_skyline", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      graft.ops.Stats.skyline2d(docs, "doc_id", F.col("n_chars"),
        TextOps.tokenCount(F.col("text")))
    },
      // the oracle skips the salt phase (it only PRUNES): one global pass
      // with the same equal-x max and strict-greater-x range frame
      Oracle("""WITH b AS (SELECT doc_id, n_chars AS x,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS y
        |  FROM documents),
        |w AS (SELECT doc_id, x, y,
        |    max(y) OVER (PARTITION BY x) AS gmax,
        |    max(y) OVER (ORDER BY x
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS runmax
        |  FROM b)
        |SELECT doc_id, x, y FROM w
        |WHERE y = gmax AND (runmax IS NULL OR y > runmax)
        |ORDER BY x, doc_id""".stripMargin)),

    // one-way ANOVA of doc length across sources: F and η² from one
    // sufficient-statistics pass (no engine-specific F-CDF)
    Entry("x187_anova", (s, dir) =>
      graft.ops.Stats.anovaF(Registrar.table(s, dir, "documents"),
        F.col("source"), F.col("n_chars")),
      // sufficient-statistics ANOVA: 9-dp per-group terms, no F-CDF
      Oracle("""WITH g AS (SELECT source, count(*) AS n, sum(n_chars::DOUBLE) AS s1,
        |    sum(n_chars::DOUBLE * n_chars::DOUBLE) AS s2
        |  FROM documents GROUP BY source),
        |t AS (SELECT source, n, s1,
        |    round(s1 * s1 / n, 9) AS cb,
        |    round(s2 - s1 * s1 / n, 9) AS cw
        |  FROM g),
        |a AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(cb) AS sb, sum(s1) AS t1, round(sum(cw), 6) AS ssw
        |  FROM t),
        |b AS (SELECT k, n, ssw,
        |    round(sb - t1 * t1 / n, 6) AS ssb FROM a)
        |SELECT k, n, ssb, ssw,
        |  round((ssb / (k - 1)::DOUBLE) /
        |    nullif(ssw / (n - k)::DOUBLE, 0.0), 6) AS f,
        |  round(ssb / nullif(ssb + ssw, 0.0), 6) AS eta2
        |FROM b""".stripMargin)),

    // subclassification ATE: x49-score strata (deterministic equal-width
    // bins, no global sort), en-vs-rest arms, length outcome
    Entry("x189_stratified_effect", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.stratifiedEffect(scored, F.col("quality_score"),
        F.col("lang") === "en", F.col("n_chars"), nStrata = 5)
    },
      // the x49 scorer, equal-width strata, conditional-sum cells, pooled
      // share-weighted ATE over both-arm strata
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, n_chars, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |scd AS (SELECT lang, n_chars,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |cells AS (SELECT least(floor(s * 5), 4)::BIGINT AS stratum,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
           |    n_chars::DOUBLE AS y FROM scd),
           |g AS (SELECT stratum, sum(tr)::BIGINT AS n_t,
           |    sum(1 - tr)::BIGINT AS n_c,
           |    sum(CASE WHEN tr = 1 THEN y END) AS st,
           |    sum(CASE WHEN tr = 0 THEN y END) AS sc2
           |  FROM cells GROUP BY stratum),
           |m AS (SELECT stratum, n_t, n_c,
           |    round(st / nullif(n_t::DOUBLE, 0.0), 6) AS mean_t,
           |    round(sc2 / nullif(n_c::DOUBLE, 0.0), 6) AS mean_c FROM g),
           |d AS (SELECT stratum, n_t, n_c, mean_t, mean_c,
           |    round(mean_t - mean_c, 6) AS diff FROM m),
           |p AS (SELECT round(sum((n_t + n_c)::DOUBLE * diff) /
           |    sum((n_t + n_c)::DOUBLE), 6) AS ate
           |  FROM d WHERE diff IS NOT NULL)
           |SELECT stratum, n_t, n_c, mean_t, mean_c, diff, ate
           |FROM d CROSS JOIN p ORDER BY stratum""".stripMargin
      }),

    // Spearman ρ of length vs token count — midranks from two bounded
    // distinct-value collapses, Pearson on the rank pairs
    Entry("x190_spearman", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      graft.ops.Stats.spearman(docs, F.col("n_chars"),
        TextOps.tokenCount(F.col("text")))
    },
      // midranks per distinct value on each axis, Pearson on the pairs
      Oracle("""WITH b AS (SELECT n_chars::DOUBLE AS x,
        |    len(string_split_regex(trim(text), '\s+'))::DOUBLE AS y
        |  FROM documents),
        |rx AS (SELECT x, (sum(t) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |    + (t + 1)::DOUBLE / 2.0 AS rxx
        |  FROM (SELECT x, count(*) AS t FROM b GROUP BY x)),
        |ry AS (SELECT y, (sum(t) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |    + (t + 1)::DOUBLE / 2.0 AS ryy
        |  FROM (SELECT y, count(*) AS t FROM b GROUP BY y)),
        |j AS (SELECT rxx, ryy FROM b JOIN rx USING (x) JOIN ry USING (y)),
        |s AS (SELECT count(*)::DOUBLE AS n, sum(rxx) AS sx, sum(ryy) AS sy,
        |    sum(rxx * rxx) AS sxx, sum(ryy * ryy) AS syy,
        |    sum(rxx * ryy) AS sxy FROM j)
        |SELECT n::BIGINT AS n,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS rho
        |FROM s""".stripMargin)),

    // chance-corrected agreement between the x49 classifier (τ=0.5) and
    // the lang=='en' label — κ from one 4-cell collapse
    Entry("x191_kappa", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.cohensKappa(scored,
        F.col("quality_score") >= 0.5, F.col("lang") === "en")
    },
      // the x49 scorer at τ=0.5 against the label: four exact cells, κ
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |scd AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |c AS (SELECT count(*)::BIGINT AS n,
           |    sum(CASE WHEN s >= 0.5 AND lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n11,
           |    sum(CASE WHEN s < 0.5 AND lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS n00,
           |    sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS na,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS nb
           |  FROM scd),
           |k AS (SELECT n, n11, n00,
           |    (n11 + n00)::DOUBLE / n AS po_u,
           |    (na * nb)::DOUBLE / (n::DOUBLE * n) +
           |      ((n - na) * (n - nb))::DOUBLE / (n::DOUBLE * n) AS pe_u
           |  FROM c)
           |SELECT n, n11, n00, round(po_u, 6) AS po, round(pe_u, 6) AS pe,
           |  round((po_u - pe_u) / nullif(1.0 - pe_u, 0.0), 6) AS kappa
           |FROM k""".stripMargin
      }),

    // freshness-decay audit at λ=0.1/day: per-type weight mass and Kish
    // effective sample size — the anchor day is a 1-row broadcast
    Entry("x192_freshness_ess", (s, dir) =>
      graft.ops.EventOps.freshnessEss(
        Registrar.table(s, dir, "events"), lambdaPerDay = 0.1),
      // 9-dp decay weights off the broadcast anchor day, Kish ESS per type
      Oracle("""WITH e AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS mx FROM e),
        |wt AS (SELECT event_type,
        |    round(exp(-0.1 * (mx - d)::DOUBLE), 9) AS w
        |  FROM e CROSS JOIN mx),
        |w2 AS (SELECT event_type, w, round(w * w, 9) AS w2 FROM wt),
        |g AS (SELECT event_type, count(*) AS n, round(sum(w), 6) AS sum_w,
        |    round(sum(w) * sum(w) / sum(w2), 6) AS ess
        |  FROM w2 GROUP BY 1)
        |SELECT event_type, n, sum_w, ess, round(ess / n, 6) AS ess_ratio
        |FROM g ORDER BY event_type""".stripMargin)),

    // seasonal-naive backtest of daily volume (season=7): the baseline
    // forecast every monitor compares against, MAE/MAPE over scored days
    Entry("x193_snaive_backtest", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.snaiveBacktest(daily, "t", "v", season = 7)
    },
      // lag-7 forecast column, 9-dp error terms, scored-day means
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01') AS t,
        |    count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |l AS (SELECT t, v, lag(v, 7) OVER (ORDER BY t) AS fcst FROM daily),
        |sc AS (SELECT t, v, fcst,
        |    round(abs(v - fcst), 9) AS abs_err,
        |    round(round(abs(v - fcst), 9) / nullif(v, 0.0), 9) AS ape
        |  FROM l WHERE fcst IS NOT NULL),
        |g AS (SELECT round(avg(abs_err), 6) AS mae,
        |    round(avg(ape), 6) AS mape FROM sc)
        |SELECT t, v, fcst, abs_err, mae, mape FROM sc CROSS JOIN g
        |ORDER BY t""".stripMargin)),

    // exact least-squares single changepoint over the daily error-rate
    // series — prefix-sum SSE scan, smallest-t argmin tie-break
    Entry("x194_changepoint", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.sum(F.when(F.col("event_type") === "error", 1L)
          .otherwise(0L)).cast("double").as("v"))
      graft.ops.Stats.changepoint(daily, "t", "v")
    },
      // prefix-sum SSE over every split, direct-rollup totals, argmin with
      // the smallest-t tie-break
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01') AS t,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
        |      AS v
        |  FROM events GROUP BY 1),
        |pre AS (SELECT t, v, row_number() OVER (ORDER BY t) AS k,
        |    sum(v) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
        |    sum(v * v) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
        |  FROM daily),
        |tot AS (SELECT count(*)::BIGINT AS tt, sum(v) AS g1,
        |    sum(v * v) AS g2 FROM daily),
        |cand AS (SELECT t, k,
        |    round((s2 - s1 * s1 / k) + ((g2 - s2) -
        |      (g1 - s1) * (g1 - s1) / (tt - k)::DOUBLE), 9) AS sse,
        |    round(g2 - g1 * g1 / tt, 9) AS tss
        |  FROM pre CROSS JOIN tot WHERE k < tt),
        |best AS (SELECT t, k, sse, tss,
        |    row_number() OVER (ORDER BY sse, t) AS rk FROM cand)
        |SELECT t AS t_split, k, round(sse, 6) AS sse_split,
        |  round(tss, 6) AS tss,
        |  round(1.0 - sse / nullif(tss, 0.0), 6) AS reduction
        |FROM best WHERE rk = 1""".stripMargin)),

    // exact DAU / trailing-28-day MAU stickiness — the fan-out runs on
    // the collapsed (user, day) table, distinct-counts keyed by day
    Entry("x195_stickiness", (s, dir) =>
      graft.ops.EventOps.stickiness(
        Registrar.table(s, dir, "events"), windowDays = 28),
      // the (user, day) collapse fans out to its 28 covered days; both
      // distinct-counts key by day; the anchor day caps the horizon
      Oracle("""WITH ud AS (SELECT DISTINCT user_id AS u,
        |    (ts::DATE - DATE '1970-01-01') AS d FROM events),
        |mx AS (SELECT max(d) AS mx FROM ud),
        |ex AS (SELECT u, d + o AS day
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 28)) AS o)
        |  CROSS JOIN mx WHERE d + o <= mx),
        |mau AS (SELECT day, count(DISTINCT u) AS mau FROM ex GROUP BY day),
        |dau AS (SELECT d AS day, count(DISTINCT u) AS dau FROM ud
        |  GROUP BY d)
        |SELECT m.day, coalesce(a.dau, 0)::BIGINT AS dau, m.mau,
        |  round(coalesce(a.dau, 0)::DOUBLE / m.mau, 6) AS stickiness
        |FROM mau m LEFT JOIN dau a USING (day) ORDER BY day""".stripMargin)),

    // do two dedup tiers agree on WHICH docs are dups? κ between the
    // exact-text flag and the bag-of-words flag (x56's fingerprint)
    Entry("x196_dedup_agreement", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"),
          F.md5(F.coalesce(F.col("text"), F.lit(""))).as("__fa"),
          TextOps.bowFingerprint(F.col("text")).as("__fb"))
      val flags = docs
        .withColumn("__da", F.col("doc_id") >
          F.min("doc_id").over(Window.partitionBy("__fa")))
        .withColumn("__db", F.col("doc_id") >
          F.min("doc_id").over(Window.partitionBy("__fb")))
      graft.ops.Stats.cohensKappa(flags, F.col("__da"), F.col("__db"))
    },
      // both fingerprints replayed (x01's md5 text key, x56's BoW key),
      // dup = not-first-in-class, then the κ cells
      Oracle("""WITH fp AS (SELECT doc_id, md5(coalesce(text, '')) AS fa,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> length(x) > 0))), ' ')) AS fb
        |  FROM documents),
        |fl AS (SELECT doc_id,
        |    doc_id > min(doc_id) OVER (PARTITION BY fa) AS da,
        |    doc_id > min(doc_id) OVER (PARTITION BY fb) AS db
        |  FROM fp),
        |c AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN da AND db THEN 1 ELSE 0 END)::BIGINT AS n11,
        |    sum(CASE WHEN NOT da AND NOT db THEN 1 ELSE 0 END)::BIGINT
        |      AS n00,
        |    sum(CASE WHEN da THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN db THEN 1 ELSE 0 END)::BIGINT AS nb
        |  FROM fl),
        |k AS (SELECT n, n11, n00,
        |    (n11 + n00)::DOUBLE / n AS po_u,
        |    (na * nb)::DOUBLE / (n::DOUBLE * n) +
        |      ((n - na) * (n - nb))::DOUBLE / (n::DOUBLE * n) AS pe_u
        |  FROM c)
        |SELECT n, n11, n00, round(po_u, 6) AS po, round(pe_u, 6) AS pe,
        |  round((po_u - pe_u) / nullif(1.0 - pe_u, 0.0), 6) AS kappa
        |FROM k""".stripMargin)),

    // CUPED: pre-period purchase value as covariate, post-period as
    // outcome, arms by user parity — everything from one stats pass
    Entry("x197_cuped", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val dom = F.dayofmonth(graft.ops.EventOps.tsStamp(ev))
      val per = ev.groupBy("user_id")
        .agg(
          F.coalesce(F.sum(F.when(F.col("event_type") === "purchase" &&
            dom <= 15, F.col("value"))), F.lit(0.0)).as("x"),
          F.coalesce(F.sum(F.when(F.col("event_type") === "purchase" &&
            dom > 15, F.col("value"))), F.lit(0.0)).as("y"))
        .withColumn("arm", F.col("user_id") % 2)
      graft.ops.Stats.cuped(per, F.col("arm"), F.col("x"), F.col("y"))
    },
      // one sufficient-statistics pass: pooled theta at 9 dp, exact
      // adjusted arm means, variance ratio
      Oracle("""WITH per AS (SELECT user_id, user_id % 2 AS arm,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      AND date_part('day', ts) <= 15 THEN value END), 0.0) AS x,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      AND date_part('day', ts) > 15 THEN value END), 0.0) AS y
        |  FROM events GROUP BY user_id),
        |g AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM per),
        |gl AS (SELECT n, sx / n AS xbar,
        |    round((sxy / n - (sx / n) * (sy / n)) /
        |      nullif(sxx / n - (sx / n) * (sx / n), 0.0), 9) AS theta,
        |    (sxx / n - (sx / n) * (sx / n)) AS vx,
        |    (syy / n - (sy / n) * (sy / n)) AS vy
        |  FROM g),
        |arms AS (SELECT arm, count(*)::BIGINT AS n,
        |    sum(y) / count(*) AS ybar, sum(x) / count(*) AS xbara
        |  FROM per GROUP BY arm)
        |SELECT arm, arms.n, round(ybar, 6) AS mean_y,
        |  round(ybar - theta * (xbara - xbar), 6) AS mean_adj, theta,
        |  round((vy - theta * theta * vx) / nullif(vy, 0.0), 6)
        |    AS var_reduction
        |FROM arms CROSS JOIN gl ORDER BY arm""".stripMargin)),

    // token-weighted length quantiles per source — distinct-value
    // collapse, keyed cumulative windows, literal q fan-out
    Entry("x198_weighted_quantile", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      graft.ops.Stats.weightedQuantile(docs, Seq("source"),
        F.col("n_chars"), TextOps.tokenCount(F.col("text")),
        qs = Seq(0.25, 0.5, 0.9))
    },
      // DOUBLE q literals on purpose: 0.9·W must take the same binary
      // rounding both engines use
      Oracle("""WITH byv AS (SELECT source, n_chars AS v,
        |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS wv
        |  FROM documents GROUP BY source, n_chars),
        |c AS (SELECT source, v, wv,
        |    sum(wv) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum,
        |    sum(wv) OVER (PARTITION BY source)::BIGINT AS w_total
        |  FROM byv),
        |q AS (SELECT unnest(([0.25, 0.5, 0.9])::DOUBLE[]) AS q),
        |f AS (SELECT source, q.q, w_total, min(v) AS value
        |  FROM c CROSS JOIN q WHERE cum >= q.q * w_total
        |  GROUP BY source, q.q, w_total)
        |SELECT source, q, value, w_total FROM f
        |ORDER BY source, q""".stripMargin)),

    // Simpson's-paradox audit: naive en-vs-rest length difference against
    // the x189 stratified ATE — sign disagreement means the naive readout
    // is confounded by the quality score
    Entry("x199_simpsons", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      val t = F.col("lang") === "en"
      val y = F.col("n_chars").cast("double")
      val naive = scored.agg(
        F.round(F.avg(F.when(t, y)), 6).as("mean_t"),
        F.round(F.avg(F.when(!t, y)), 6).as("mean_c"),
        F.round(F.avg(F.when(t, y)) - F.avg(F.when(!t, y)), 6)
          .as("naive_diff"))
      val ate = graft.ops.Stats.stratifiedEffect(scored,
          F.col("quality_score"), t, F.col("n_chars"), nStrata = 5)
        .agg(F.max("ate").as("ate"))
      naive.crossJoin(ate)
        .withColumn("sign_flip",
          F.signum(F.col("naive_diff")) * F.signum(F.col("ate")) < 0)
    },
      // the naive difference vs the x189 pooled ATE; flip = sign product
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, n_chars, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |scd AS (SELECT lang, n_chars,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |naive AS (SELECT
           |    round(avg(CASE WHEN lang = 'en' THEN n_chars::DOUBLE END), 6)
           |      AS mean_t,
           |    round(avg(CASE WHEN lang <> 'en' THEN n_chars::DOUBLE END), 6)
           |      AS mean_c,
           |    round(avg(CASE WHEN lang = 'en' THEN n_chars::DOUBLE END) -
           |      avg(CASE WHEN lang <> 'en' THEN n_chars::DOUBLE END), 6)
           |      AS naive_diff
           |  FROM scd),
           |cells AS (SELECT least(floor(s * 5), 4)::BIGINT AS stratum,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
           |    n_chars::DOUBLE AS y FROM scd),
           |g AS (SELECT stratum, sum(tr)::BIGINT AS n_t,
           |    sum(1 - tr)::BIGINT AS n_c,
           |    sum(CASE WHEN tr = 1 THEN y END) AS st,
           |    sum(CASE WHEN tr = 0 THEN y END) AS sc2
           |  FROM cells GROUP BY stratum),
           |m AS (SELECT stratum, n_t, n_c,
           |    round(st / nullif(n_t::DOUBLE, 0.0), 6) AS mean_t,
           |    round(sc2 / nullif(n_c::DOUBLE, 0.0), 6) AS mean_c FROM g),
           |d AS (SELECT n_t, n_c,
           |    round(mean_t - mean_c, 6) AS diff FROM m),
           |p AS (SELECT round(sum((n_t + n_c)::DOUBLE * diff) /
           |    sum((n_t + n_c)::DOUBLE), 6) AS ate
           |  FROM d WHERE diff IS NOT NULL)
           |SELECT naive.mean_t, naive.mean_c, naive.naive_diff, p.ate,
           |  sign(naive.naive_diff) * sign(p.ate) < 0 AS sign_flip
           |FROM naive CROSS JOIN p""".stripMargin
      }),

    // split-conformal interval around the chars/6 token-count predictor:
    // md5 calibration half, order-statistic q_hat, eval coverage
    Entry("x200_conformal", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      graft.ops.Stats.conformalInterval(docs, F.col("doc_id"),
        TextOps.tokenCount(F.col("text")), F.col("n_chars") / 6.0,
        calibRate = 0.5, q = 0.9)
    },
      // '08000' = the 0.5 16-bit split bound; DOUBLE-forced 0.9·(n+1) so
      // the ceil boundary rounds identically; distinct-residual rank scan
      Oracle("""WITH base AS (SELECT
        |    ('0' || substring(md5(doc_id::VARCHAR), 1, 4)) < '08000' AS cal,
        |    round(abs(len(string_split_regex(trim(text), '\s+'))::DOUBLE -
        |      n_chars / 6.0::DOUBLE), 9) AS r
        |  FROM documents),
        |calset AS (SELECT r FROM base WHERE cal),
        |n AS (SELECT count(*)::BIGINT AS n FROM calset),
        |byr AS (SELECT r, count(*) AS c FROM calset GROUP BY r),
        |cum AS (SELECT r, sum(c) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum FROM byr),
        |q AS (SELECT min(r) AS q_hat, max(n.n) AS n_cal
        |  FROM cum CROSS JOIN n
        |  WHERE cum >= least(ceil(0.9::DOUBLE * (n.n + 1)), n.n)),
        |ev AS (SELECT r FROM base WHERE NOT cal)
        |SELECT max(q.n_cal) AS n_cal, count(*)::BIGINT AS n_eval,
        |  max(q.q_hat) AS q_hat,
        |  round(sum(CASE WHEN r <= q.q_hat THEN 1 ELSE 0 END)::DOUBLE /
        |    count(*), 6) AS coverage
        |FROM ev CROSS JOIN q""".stripMargin)),

    // cumulative gains / lift of the x49 scorer vs the en label —
    // equal-width score slices accumulated from the top down
    Entry("x201_gains", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.gainsCurve(scored, F.col("quality_score"),
        F.col("lang") === "en", nBins = 10)
    },
      // the x49 scorer, equal-width bins, top-down cumulative windows
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |bins AS (SELECT least(floor(s * 10), 9)::BIGINT AS bin,
           |    count(*) AS n,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
           |  FROM sc GROUP BY 1),
           |c AS (SELECT bin, n, pos,
           |    sum(n) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           |      AS cum_n,
           |    sum(pos) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           |      AS cum_pos,
           |    sum(pos) OVER ()::BIGINT AS tot_pos,
           |    sum(n) OVER ()::BIGINT AS tot_n
           |  FROM bins)
           |SELECT bin, n, pos, cum_n, cum_pos,
           |  round(cum_pos::DOUBLE / nullif(tot_pos::DOUBLE, 0.0), 6)
           |    AS capture,
           |  round(cum_n::DOUBLE / tot_n, 6) AS share,
           |  round(round(cum_pos::DOUBLE / nullif(tot_pos::DOUBLE, 0.0), 6) /
           |    round(cum_n::DOUBLE / tot_n, 6), 6) AS lift
           |FROM c ORDER BY bin DESC""".stripMargin
      }),

    // balanced class downsample: every lang capped at the smallest
    // lang's count by md5 rank — the data-dependent cap broadcasts
    Entry("x202_balanced", (s, dir) =>
      graft.ops.Sampling.balancedDownsample(
        Registrar.table(s, dir, "documents").select("doc_id", "lang"),
        F.col("lang"), F.col("doc_id"))
        .orderBy("lang", "doc_id"),
      // min class count rides the cross join; md5-rank keeps per class
      Oracle("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n)::BIGINT AS mn FROM c),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang FROM r CROSS JOIN m WHERE rk <= mn
        |ORDER BY lang, doc_id""".stripMargin)),

    // sign-LSH candidate quality vs exact cosine-0.4 truth pairs:
    // recall/precision of the x45 bucket generator — the eval that
    // decides nPlanes/nTables before anyone trusts the ANN path
    Entry("x203_lsh_recall_eval", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      val planes = Similarity.hyperplanes(4, 64, 42L)
      val b = emb.select(F.col("vec_id"),
        Similarity.lshBucket(F.col("embedding"), planes).as("bucket"))
      val cand = b.select(F.col("bucket"), F.col("vec_id").as("a"))
        .join(b.select(F.col("bucket"), F.col("vec_id").as("b")), Seq("bucket"))
        .filter(F.col("a") < F.col("b")).select("a", "b").distinct()
      val truth = Similarity.rangeSearch(emb, emb, "vec_id", "embedding",
          threshold = 0.4)
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(F.col("query_id").as("a"), F.col("neighbor_id").as("b"))
      val hit = cand.join(truth, Seq("a", "b"))
        .agg(F.count(F.lit(1)).as("n_hit"))
      cand.agg(F.count(F.lit(1)).as("n_cand"))
        .crossJoin(truth.agg(F.count(F.lit(1)).as("n_truth")))
        .crossJoin(hit)
        .select(F.col("n_cand"), F.col("n_truth"), F.col("n_hit"),
          F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6)
            .as("recall"),
          F.round(F.col("n_hit").cast("double") / F.col("n_cand"), 6)
            .as("precision"))
    },
      // the x45 bucket expression generates candidates; truth = unrounded
      // cosine >= 0.4 (the x166 radius convention); exact hit counts
      Oracle {
        val bits = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map {
          case (p, i) =>
            val lit = p.mkString("[", ", ", "]")
            s"(CASE WHEN list_sum(list_transform(range(1, 65), " +
              s"i -> embedding[i]::DOUBLE * ($lit)[i])) > 0.0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH bits AS (SELECT vec_id, ($bits)::BIGINT AS bucket
           |  FROM embeddings),
           |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
           |  FROM bits l JOIN bits r
           |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
           |truth AS (SELECT a, b FROM (
           |  SELECT q.vec_id AS a, c.vec_id AS b,
           |    list_sum(list_transform(range(1, len(c.embedding) + 1),
           |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(c.embedding,
           |         x -> x::DOUBLE * x::DOUBLE)))
           |       * sqrt(list_sum(list_transform(q.embedding,
           |         x -> x::DOUBLE * x::DOUBLE)))) AS cos
           |  FROM embeddings q, embeddings c WHERE q.vec_id < c.vec_id)
           |  WHERE cos >= 0.4::DOUBLE),
           |h AS (SELECT count(*)::BIGINT AS n_hit
           |  FROM cand JOIN truth USING (a, b)),
           |nc AS (SELECT count(*)::BIGINT AS n_cand FROM cand),
           |nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
           |SELECT nc.n_cand, nt.n_truth, h.n_hit,
           |  round(h.n_hit::DOUBLE / nt.n_truth, 6) AS recall,
           |  round(h.n_hit::DOUBLE / nc.n_cand, 6) AS precision
           |FROM nc CROSS JOIN nt CROSS JOIN h""".stripMargin
      }),

    // odds ratio / relative risk of zh docs being long, Katz log CI —
    // one 4-cell collapse, conditional Haldane correction
    Entry("x204_odds_ratio", (s, dir) =>
      graft.ops.Stats.oddsRatio(Registrar.table(s, dir, "documents"),
        F.col("lang") === "zh", F.col("n_chars") > 300),
      // 4 exact cells; double-forced Haldane adjustment; ln/exp CI only
      Oracle("""WITH c AS (SELECT
        |    sum(CASE WHEN lang = 'zh' AND n_chars > 300
        |      THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN lang = 'zh' AND n_chars <= 300
        |      THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN lang <> 'zh' AND n_chars > 300
        |      THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN lang <> 'zh' AND n_chars <= 300
        |      THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM documents),
        |adj AS (SELECT a, b, c, d,
        |    (a = 0 OR b = 0 OR c = 0 OR d = 0) AS corrected,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN a::DOUBLE + 0.5 ELSE a::DOUBLE END AS aa,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN b::DOUBLE + 0.5 ELSE b::DOUBLE END AS bb,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN c::DOUBLE + 0.5 ELSE c::DOUBLE END AS cc,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN d::DOUBLE + 0.5 ELSE d::DOUBLE END AS dd
        |  FROM c)
        |SELECT a, b, c, d,
        |  round((aa / (aa + bb)) / (cc / (cc + dd)), 6) AS rr,
        |  round(aa * dd / (bb * cc), 6) AS or_,
        |  round(exp(ln(aa * dd / (bb * cc)) - 1.96 * sqrt(
        |    1.0 / aa + 1.0 / bb + 1.0 / cc + 1.0 / dd)), 6) AS or_lo,
        |  round(exp(ln(aa * dd / (bb * cc)) + 1.96 * sqrt(
        |    1.0 / aa + 1.0 / bb + 1.0 / cc + 1.0 / dd)), 6) AS or_hi,
        |  corrected
        |FROM adj""".stripMargin)),

    // Matthews correlation of the x49 classifier at τ=0.5 — the
    // imbalance-honest single number beside x191's kappa
    Entry("x205_mcc", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.mcc(scored, F.col("quality_score") >= 0.5,
        F.col("lang") === "en")
    },
      // the x49 scorer, four cells, all-double MCC denominator
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |c AS (SELECT
           |    sum(CASE WHEN s >= 0.5 AND lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tp,
           |    sum(CASE WHEN s >= 0.5 AND lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS fp,
           |    sum(CASE WHEN s < 0.5 AND lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS fn,
           |    sum(CASE WHEN s < 0.5 AND lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS tn
           |  FROM sc)
           |SELECT tp, fp, fn, tn,
           |  CASE WHEN (tp + fp)::DOUBLE * (tp + fn) * (tn + fp) * (tn + fn)
           |      > 0.0
           |    THEN round((tp::DOUBLE * tn - fp::DOUBLE * fn) /
           |      sqrt((tp + fp)::DOUBLE * (tp + fn) * (tn + fp) * (tn + fn)),
           |      6) END AS mcc
           |FROM c""".stripMargin
      }),

    // PSI drift of the score distribution between the even/odd doc
    // halves — the standard model-monitoring drift number
    Entry("x206_psi", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.psi(scored, F.col("quality_score"),
        F.col("doc_id") % 2 === 0, nBins = 10)
    },
      // even/odd halves, add-eps shares at 9 dp, bounded term sum
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT doc_id,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |bins AS (SELECT least(floor(s * 10), 9)::BIGINT AS bin,
           |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nb,
           |    sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS nc
           |  FROM sc GROUP BY 1),
           |tt AS (SELECT bin,
           |    round(nb::DOUBLE / sum(nb) OVER () + 0.0001, 9) AS p,
           |    round(nc::DOUBLE / sum(nc) OVER () + 0.0001, 9) AS q
           |  FROM bins),
           |tm AS (SELECT bin, p, q,
           |    round((p - q) * ln(p / q), 9) AS term FROM tt)
           |SELECT bin, p, q, term, round(sum(term) OVER (), 6) AS psi
           |FROM tm ORDER BY bin""".stripMargin
      }),

    // Brier score + Murphy decomposition of the same scorer/label —
    // reliability/resolution split the error calibration can fix from
    // the part it cannot
    Entry("x207_brier", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.brierDecomposition(scored, F.col("quality_score"),
        F.col("lang") === "en", nBins = 10)
    },
      // Murphy decomposition: 9-dp bin terms, the base rate as ceiling
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |b AS (SELECT least(floor(s * 10), 9)::BIGINT AS bin, s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM sc),
           |g AS (SELECT count(*)::DOUBLE AS nn, avg(y) AS ybar FROM b),
           |bins AS (SELECT bin, count(*)::BIGINT AS n, avg(s) AS conf,
           |    avg(y::DOUBLE) AS acc,
           |    sum(CASE WHEN y = 1 THEN (1.0 - s) * (1.0 - s)
           |      ELSE s * s END) AS se
           |  FROM b GROUP BY bin),
           |tm AS (SELECT bins.*, g.nn, g.ybar,
           |    round(n * (conf - acc) * (conf - acc) / nn, 9) AS rel,
           |    round(n * (acc - ybar) * (acc - ybar) / nn, 9) AS res
           |  FROM bins CROSS JOIN g)
           |SELECT max(nn)::BIGINT AS n, round(sum(se) / max(nn), 6) AS brier,
           |  round(sum(rel), 6) AS reliability,
           |  round(sum(res), 6) AS resolution,
           |  round(max(ybar * (1.0 - ybar)), 6) AS uncertainty
           |FROM tm""".stripMargin
      }),

    // Kendall tau between the x125 popularity and quantity rankings —
    // rank stability over the top-20 intersection, O(k^2) bounded pairs
    Entry("x208_kendall_tau", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val ra = agg.withColumn("rk", F.row_number().over(wA))
        .filter(F.col("rk") <= 20)
      val rb = agg.withColumn("rk", F.row_number().over(wB))
        .filter(F.col("rk") <= 20)
      graft.ops.Stats.kendallTau(ra, rb, "q", "item", "rk")
    },
      // the x125 ranking CTEs twice, pair signs over the intersection
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rk
        |  FROM agg
        |), both_r AS (
        |  SELECT a.q, a.item, a.rk AS rka, b.rk AS rkb
        |  FROM (SELECT * FROM ra WHERE rk <= 20) a
        |  JOIN (SELECT * FROM rb WHERE rk <= 20) b
        |    ON a.q = b.q AND a.item = b.item
        |), pairs AS (
        |  SELECT l.q,
        |    sign((l.rka - r.rka)::DOUBLE * (l.rkb - r.rkb)::DOUBLE) AS sgn
        |  FROM both_r l JOIN both_r r ON l.q = r.q AND l.item < r.item
        |), cd AS (
        |  SELECT q,
        |    sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END)::BIGINT AS concordant,
        |    sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END)::BIGINT AS discordant,
        |    count(*)::BIGINT AS np
        |  FROM pairs GROUP BY q
        |), nc AS (SELECT q, count(*)::BIGINT AS n_common FROM both_r
        |  GROUP BY q)
        |SELECT cd.q AS query, nc.n_common, cd.concordant, cd.discordant,
        |  round((cd.concordant - cd.discordant)::DOUBLE /
        |    nullif(cd.np::DOUBLE, 0.0), 6) AS tau
        |FROM cd JOIN nc ON cd.q = nc.q ORDER BY query""".stripMargin)),

    // jackknife SE for purchases-per-click with users as the unit —
    // pseudo-values from totals-minus-group, no resampling
    Entry("x209_jackknife_ratio", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.jackknifeRatio(ev, F.col("user_id"),
        F.when(F.col("event_type") === "purchase", 1L).otherwise(0L),
        F.when(F.col("event_type") === "click", 1L).otherwise(0L))
    },
      // per-user sums, totals-minus-group pseudo-values at 9 dp
      Oracle("""WITH per AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
        |      AS ng,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE
        |      AS dg
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT count(*)::DOUBLE AS g, sum(ng) AS nn, sum(dg) AS dd
        |  FROM per),
        |ps AS (SELECT g, nn / dd AS theta,
        |    round(g * (nn / dd) - (g - 1.0) *
        |      ((nn - ng) / nullif(dd - dg, 0.0)), 9) AS p
        |  FROM per CROSS JOIN tot),
        |s AS (SELECT max(g) AS g, max(theta) AS theta, avg(p) AS pbar,
        |    sum(p * p) AS pp FROM ps)
        |SELECT g::BIGINT AS g_groups, round(theta, 6) AS theta,
        |  round(sqrt((pp - g * pbar * pbar) / (g * (g - 1.0))), 6)
        |    AS se_jack,
        |  round(theta - 1.96 * sqrt((pp - g * pbar * pbar) /
        |    (g * (g - 1.0))), 6) AS ci_lo,
        |  round(theta + 1.96 * sqrt((pp - g * pbar * pbar) /
        |    (g * (g - 1.0))), 6) AS ci_hi
        |FROM s""".stripMargin)),

    // minimal detectable effect on per-user purchase value at the x197
    // parity arms — pinned z literals, one stats pass
    Entry("x210_mde_power", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val per = ev.groupBy("user_id")
        .agg(F.coalesce(F.sum(F.when(
          F.col("event_type") === "purchase", F.col("value"))), F.lit(0.0))
          .as("y"))
      graft.ops.Stats.mdePower(per, F.col("user_id") % 2 === 0, F.col("y"))
    },
      // pinned z literals; pooled population variance from one pass
      Oracle("""WITH per AS (SELECT user_id,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END),
        |      0.0) AS y
        |  FROM events GROUP BY user_id),
        |g AS (SELECT
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS n2,
        |    count(*)::DOUBLE AS n, sum(y) AS s1, sum(y * y) AS s2
        |  FROM per)
        |SELECT n1, n2, round(s1 / n, 6) AS mean,
        |  round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_pooled,
        |  round(2.801585 * sqrt((s2 / n - (s1 / n) * (s1 / n)) *
        |    (1.0 / n1 + 1.0 / n2)), 6) AS mde_abs,
        |  round(2.801585 * sqrt((s2 / n - (s1 / n) * (s1 / n)) *
        |    (1.0 / n1 + 1.0 / n2)) / nullif(s1 / n, 0.0), 6) AS mde_rel
        |FROM g""".stripMargin)),

    // kernel two-sample MMD² between the label-0 and label-1 embedding
    // sets (RBF, fixed σ²=32=d/2) — distribution-level drift the token
    // stats miss; quadratic only in the bounded sample
    Entry("x211_mmd_drift", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.mmdDrift(emb.filter(F.col("label") === 0),
        emb.filter(F.col("label") === 1), "vec_id", "embedding",
        sigma2 = 32.0)
    },
      // three pair means over the same sqrt-norm/dot primitives as x06;
      // 9-dp kernel terms, fixed 2sigma^2=64 denominator
      Oracle("""WITH a AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE label = 1),
        |kxx AS (SELECT round(avg(k), 9) AS kxx FROM (
        |  SELECT round(exp(-(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)))
        |    / 64.0), 9) AS k
        |  FROM a l CROSS JOIN a r)),
        |kyy AS (SELECT round(avg(k), 9) AS kyy FROM (
        |  SELECT round(exp(-(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)))
        |    / 64.0), 9) AS k
        |  FROM b l CROSS JOIN b r)),
        |kxy AS (SELECT round(avg(k), 9) AS kxy FROM (
        |  SELECT round(exp(-(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)))
        |    / 64.0), 9) AS k
        |  FROM a l CROSS JOIN b r)),
        |nx AS (SELECT count(*)::BIGINT AS n_x FROM a),
        |ny AS (SELECT count(*)::BIGINT AS n_y FROM b)
        |SELECT n_x, n_y, kxx, kyy, kxy,
        |  round(kxx + kyy - 2.0 * kxy, 6) AS mmd2
        |FROM nx CROSS JOIN ny CROSS JOIN kxx CROSS JOIN kyy
        |CROSS JOIN kxy""".stripMargin)),

    // k-occurrence hubness census at k=10: who appears in everyone's
    // top-k, and how skewed that distribution is — the high-dimensional
    // pathology check before trusting any kNN-based dedup. The QUERY side
    // samples 1-in-5 deterministically (hubness is a distribution
    // property; counting over a query sample scales it, not skews it) —
    // the corpus side stays full
    Entry("x212_hubness", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.hubnessCensus(emb, emb.filter(F.col("vec_id") % 5 === 0),
        "vec_id", "embedding", k = 10)
    },
      // the x06 ranking at k=10 over every query; zero-count anti-hubs
      // join back in; raw->central moment skewness
      Oracle("""WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding,
        |         x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding,
        |         x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE c.vec_id != q.vec_id AND q.vec_id % 5 = 0),
        |topk AS (SELECT neighbor_id FROM (
        |  SELECT neighbor_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
        |  WHERE rk <= 10),
        |occ AS (SELECT neighbor_id AS vec_id, count(*)::BIGINT AS nk
        |  FROM topk GROUP BY 1),
        |pv AS (SELECT e.vec_id, coalesce(occ.nk, 0) AS nk
        |  FROM embeddings e LEFT JOIN occ USING (vec_id)),
        |mom AS (SELECT count(*)::DOUBLE AS n, avg(nk) AS m,
        |    avg(nk * nk) AS m2r, avg(nk * nk * nk) AS m3r FROM pv),
        |sk AS (SELECT round((m3r - 3.0 * m * m2r + 2.0 * m * m * m) /
        |    nullif(sqrt((m2r - m * m) * (m2r - m * m) * (m2r - m * m)),
        |      0.0), 6) AS skew
        |  FROM mom)
        |SELECT nk AS n_k, count(*)::BIGINT AS n_vectors, max(sk.skew)
        |    AS skew
        |FROM pv CROSS JOIN sk GROUP BY nk, sk.skew
        |ORDER BY n_k""".stripMargin)),

    // TwoNN intrinsic dimension of the embedding manifold over a 1-in-5
    // deterministic sample (the estimator converges fast in n) — how
    // much of the 64 dims is real structure
    Entry("x213_twonn_id", (s, dir) =>
      Similarity.twoNnId(
        Registrar.table(s, dir, "embeddings")
          .filter(F.col("vec_id") % 5 === 0),
        "vec_id", "embedding"),
      // squared-distance ranks (no sqrt in the replayed math), half-ln
      // ratio terms at 9 dp, duplicates excluded as the estimator requires
      Oracle("""WITH s AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |pair AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    c.nrm * c.nrm + q.nrm * q.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) AS d2
        |  FROM s q, s c WHERE c.vec_id != q.vec_id),
        |nn AS (SELECT qid,
        |    min(CASE WHEN rk = 1 THEN d2 END) AS d1sq,
        |    min(CASE WHEN rk = 2 THEN d2 END) AS d2sq
        |  FROM (SELECT qid, d2, row_number() OVER (PARTITION BY qid
        |      ORDER BY d2, cid) AS rk FROM pair)
        |  WHERE rk <= 2 GROUP BY qid),
        |t AS (SELECT CASE WHEN d1sq <= 0.0 THEN 1 ELSE 0 END AS dup,
        |    CASE WHEN d1sq > 0.0
        |      THEN round(0.5 * ln(d2sq / d1sq), 9) END AS lt
        |  FROM nn)
        |SELECT sum(1 - dup)::BIGINT AS n_used, sum(dup)::BIGINT AS n_dupes,
        |  round(sum(1 - dup)::DOUBLE / nullif(sum(lt), 0.0), 6) AS id_hat
        |FROM t""".stripMargin)),

    // systematic PPS sampling: 10 picks proportional to doc size, zero
    // sample-count variance — the weighted shard-selection classic
    Entry("x214_pps", (s, dir) =>
      graft.ops.Sampling.ppsSystematic(
        Registrar.table(s, dir, "documents"), "doc_id",
        F.col("n_chars"), n = 10),
      // size ladder in id order, DOUBLE thresholds (i+0.5)·W/n, half-open
      // interval membership
      Oracle("""WITH base AS (SELECT doc_id, n_chars AS size FROM documents
        |  WHERE n_chars > 0),
        |cum AS (SELECT doc_id, size, sum(size) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_hi FROM base),
        |tot AS (SELECT sum(size)::BIGINT AS w FROM base),
        |p AS (SELECT unnest(([0.5, 1.5, 2.5, 3.5, 4.5, 5.5, 6.5, 7.5,
        |    8.5, 9.5])::DOUBLE[]) AS pk)
        |SELECT (pk - 0.5)::INT AS pick, doc_id, size, cum_hi
        |FROM cum CROSS JOIN tot CROSS JOIN p
        |WHERE cum_hi - size < pk * (w / 10.0::DOUBLE)
        |  AND pk * (w / 10.0::DOUBLE) <= cum_hi
        |ORDER BY pick""".stripMargin)),

    // Wilson score interval for each lang's long-doc rate — the error
    // bar that survives small slices and extreme rates
    Entry("x215_wilson", (s, dir) =>
      graft.ops.Stats.wilsonInterval(
        Registrar.table(s, dir, "documents"), Seq("lang"),
        F.col("n_chars") > 300),
      // z pinned as a PRODUCT of the same literal both engines parse
      Oracle("""WITH g AS (SELECT lang, count(*)::BIGINT AS n,
        |    sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END)::BIGINT AS k
        |  FROM documents GROUP BY lang),
        |e AS (SELECT lang, n, k, k::DOUBLE / n AS p,
        |    (1.959964::DOUBLE * 1.959964) AS z2, n::DOUBLE AS nd FROM g),
        |f AS (SELECT lang, n, k, p,
        |    p + z2 / (nd * 2.0) AS center,
        |    1.959964::DOUBLE * sqrt(p * (1.0 - p) / nd +
        |      z2 / (4.0::DOUBLE * nd * nd)) AS half,
        |    1.0 + z2 / nd AS denom
        |  FROM e)
        |SELECT lang, n, k, round(p, 6) AS p,
        |  round((center - half) / denom, 6) AS ci_lo,
        |  round((center + half) / denom, 6) AS ci_hi
        |FROM f ORDER BY lang""".stripMargin)),

    // rank-biased overlap (p=0.9, k=20) between the x125 rankings —
    // top-weighted, handles non-conjoint lists (kendall's blind spot)
    Entry("x216_rbo", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val ra = agg.withColumn("rk", F.row_number().over(wA))
      val rb = agg.withColumn("rk", F.row_number().over(wB))
      graft.ops.Stats.rbo(ra, rb, "q", "item", "rk", k = 20, p = 0.9)
    },
      // the x125 CTEs, prefix overlaps at max(ra, rb) depths, the SAME
      // Scala-computed p^(d-1) literals, (1.0::DOUBLE - 0.9) — not the
      // decimal 0.1 — so the scale factor matches Spark's double bit-f-bit
      Oracle {
        val wlits = Array.tabulate(20)(d => math.pow(0.9, d))
          .mkString("[", ", ", "]")
        s"""WITH agg AS (
           |  SELECT l_returnflag AS q, l_suppkey AS item,
           |    count(*) AS n, sum(l_quantity) AS sq
           |  FROM lineitem GROUP BY 1, 2
           |), ra AS (
           |  SELECT q AS query, item, row_number()
           |    OVER (PARTITION BY q ORDER BY n DESC, item) AS ra
           |  FROM agg
           |), rb AS (
           |  SELECT q AS query, item, row_number()
           |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rb
           |  FROM agg
           |), j AS (
           |  SELECT ra.query, greatest(ra.ra, rb.rb) AS m, count(*) AS c
           |  FROM (SELECT * FROM ra WHERE ra <= 20) ra
           |  JOIN (SELECT * FROM rb WHERE rb <= 20) rb
           |    ON ra.query = rb.query AND ra.item = rb.item
           |  GROUP BY 1, 2
           |), cum AS (
           |  SELECT query, m, sum(c) OVER (PARTITION BY query ORDER BY m
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           |    AS x
           |  FROM j
           |), w(arr) AS (SELECT ($wlits)::DOUBLE[]),
           |g AS (
           |  SELECT query, gs.d, x, row_number() OVER (
           |    PARTITION BY query, gs.d ORDER BY m DESC) AS rn
           |  FROM cum JOIN (SELECT unnest(range(1, 21)) AS d) gs
           |    ON m <= gs.d
           |), t AS (
           |  SELECT query, d, round(arr[d::INT] * x / d, 9) AS term
           |  FROM g, w WHERE rn = 1
           |)
           |SELECT query, round((1.0::DOUBLE - 0.9) * sum(term), 6) AS rbo
           |FROM t GROUP BY query ORDER BY query""".stripMargin
      }),

    // quantile treatment effects of the en "treatment" on doc length —
    // the tail-sensitive causal readout beside x189's mean ATE
    Entry("x217_qte", (s, dir) =>
      graft.ops.Stats.quantileTreatmentEffect(
        Registrar.table(s, dir, "documents"),
        F.col("lang") === "en", F.col("n_chars"),
        qs = Seq(0.25, 0.5, 0.75, 0.9)),
      // per-arm distinct-value ladders, the family's ceil-rank convention
      Oracle("""WITH byv AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
        |    n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT t, v,
        |    sum(c) OVER (PARTITION BY t ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum,
        |    sum(c) OVER (PARTITION BY t)::BIGINT AS n
        |  FROM byv),
        |q AS (SELECT unnest(([0.25, 0.5, 0.75, 0.9])::DOUBLE[]) AS q),
        |pa AS (SELECT t, q.q, min(v) AS qv
        |  FROM cum CROSS JOIN q WHERE cum >= q.q * n GROUP BY t, q.q)
        |SELECT a.q, a.qv AS q_treat, b.qv AS q_control,
        |  a.qv - b.qv AS qte
        |FROM pa a JOIN pa b ON a.q = b.q AND a.t = 1 AND b.t = 0
        |ORDER BY a.q""".stripMargin)),

    // Lorenz curve of corpus volume across docs — the concentration
    // curve x128's gini summarizes, as 10 ladder points
    Entry("x218_lorenz", (s, dir) =>
      graft.ops.Stats.lorenzCurve(
        Registrar.table(s, dir, "documents"), F.col("n_chars"),
        nPoints = 10),
      // distinct-value ladder, ceil item thresholds, ties stay together
      Oracle("""WITH byv AS (SELECT n_chars AS v, count(*) AS c,
        |    n_chars * count(*) AS m FROM documents GROUP BY n_chars),
        |cum AS (SELECT v,
        |    (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT AS cumc,
        |    (sum(m) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT AS cumm
        |  FROM byv),
        |tot AS (SELECT sum(c)::BIGINT AS n, sum(m)::BIGINT AS mm FROM byv),
        |pts AS (SELECT unnest(range(1, 11)) AS point),
        |f AS (SELECT point, min(v) AS cutoff
        |  FROM cum CROSS JOIN tot CROSS JOIN pts
        |  WHERE cumc >= ceil(point * n / 10.0::DOUBLE) GROUP BY point)
        |SELECT f.point, f.cutoff, c2.cumc AS cum_items,
        |  round(c2.cumm::DOUBLE / tot.mm, 6) AS cum_share
        |FROM f JOIN cum c2 ON c2.v = f.cutoff CROSS JOIN tot
        |ORDER BY f.point""".stripMargin)),

    // bigram conditional entropy vs unigram entropy: the entropy-rate
    // redundancy readout (template spam crashes the ratio toward 0)
    Entry("x219_cond_entropy", (s, dir) =>
      graft.ops.Stats.bigramCondEntropy(
        Registrar.table(s, dir, "documents"), "text"),
      // the x51 bigram replay, 9-dp -p·log2 terms, ln/ln(2) as Spark does
      Oracle("""WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(
        |    coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents
        |), g AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
        |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM g),
        |cpn AS (SELECT w1, w2, count(*) AS cpn FROM bg GROUP BY 1, 2),
        |cp AS (SELECT w1, sum(cpn)::BIGINT AS cp FROM cpn GROUP BY w1),
        |nbi AS (SELECT sum(cpn)::BIGINT AS nbi FROM cpn),
        |hc AS (SELECT sum(cpn)::BIGINT AS n_bigrams,
        |    round(sum(round(-(cpn::DOUBLE / nbi) *
        |      (ln(cpn::DOUBLE / cp) / ln(2.0)), 9)) + 0.0, 6) AS h_cond
        |  FROM cpn JOIN cp USING (w1) CROSS JOIN nbi),
        |uni AS (SELECT unnest(toks) AS t2 FROM t),
        |cu AS (SELECT t2, count(*) AS c FROM uni GROUP BY t2),
        |nt AS (SELECT sum(c)::BIGINT AS nt FROM cu),
        |hu AS (SELECT round(sum(round(-(c::DOUBLE / nt) *
        |    (ln(c::DOUBLE / nt) / ln(2.0)), 9)) + 0.0, 6) AS h_unigram
        |  FROM cu CROSS JOIN nt)
        |SELECT n_bigrams, h_cond, h_unigram,
        |  round(h_cond / nullif(h_unigram, 0.0), 6) AS ratio
        |FROM hc CROSS JOIN hu""".stripMargin)),

    // exact 1-D Wasserstein between the src0-9 and src10-19 length
    // distributions — mass-distance drift beside x165's max-gap KS
    Entry("x220_wasserstein", (s, dir) =>
      graft.ops.Stats.wasserstein1d(
        Registrar.table(s, dir, "documents"),
        F.length(F.col("source")) === 4, F.col("n_chars")),
      // merged value ladder, |CDF gap|·step at 9 dp
      Oracle("""WITH byv AS (SELECT n_chars AS v,
        |    sum(CASE WHEN length(source) = 4 THEN 1 ELSE 0 END)::BIGINT
        |      AS ca,
        |    sum(CASE WHEN length(source) = 4 THEN 0 ELSE 1 END)::BIGINT
        |      AS cb
        |  FROM documents GROUP BY n_chars),
        |cum AS (SELECT v,
        |    (sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT AS cuma,
        |    (sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT AS cumb,
        |    lead(v) OVER (ORDER BY v) AS nextv
        |  FROM byv),
        |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
        |  FROM byv),
        |st AS (SELECT round(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb) *
        |    (nextv - v)::DOUBLE, 9) AS gap
        |  FROM cum CROSS JOIN tot WHERE nextv IS NOT NULL)
        |SELECT tot.na AS n_a, tot.nb AS n_b, round(sum(gap), 6) AS w1
        |FROM st CROSS JOIN tot GROUP BY tot.na, tot.nb""".stripMargin)),

    // Burrows' delta stylometry between every source pair over the
    // top-30 corpus words — the "same scraper, two names" detector
    Entry("x221_burrows_delta", (s, dir) =>
      TextOps.burrowsDelta(Registrar.table(s, dir, "documents"),
        "source", "text", topK = 30),
      // dense sources×top-30 grid (zeros included, as the method demands),
      // 9-dp freqs/stats, clamped variance before sqrt
      Oracle("""WITH toks AS (SELECT source AS s, unnest(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0)) AS t
        |  FROM documents),
        |cnt AS (SELECT s, t, count(*) AS c FROM toks GROUP BY 1, 2),
        |per AS (SELECT s, sum(c)::BIGINT AS n FROM cnt GROUP BY s),
        |top AS (SELECT t FROM (SELECT t, sum(c) AS tc FROM cnt
        |  GROUP BY t ORDER BY tc DESC, t LIMIT 30)),
        |dense AS (SELECT per.s, top.t, per.n, coalesce(cnt.c, 0) AS c
        |  FROM per CROSS JOIN top
        |  LEFT JOIN cnt ON cnt.s = per.s AND cnt.t = top.t),
        |fr AS (SELECT s, t,
        |    round(c::DOUBLE * 1000000.0 / n, 0)::BIGINT AS k FROM dense),
        |st AS (SELECT t, count(*)::BIGINT AS sc, sum(k)::BIGINT AS sk,
        |    sum(k * k)::BIGINT AS skk
        |  FROM fr GROUP BY t),
        |z AS (SELECT s, fr.t, coalesce(round(
        |    (fr.k * st.sc - st.sk)::DOUBLE /
        |      nullif(sqrt(greatest(
        |        (st.sc * st.skk - st.sk * st.sk)::DOUBLE, 0.0)), 0.0),
        |    9), 0.0) AS z
        |  FROM fr JOIN st ON fr.t = st.t)
        |SELECT za.s AS a, zb.s AS b,
        |  round(round(sum(round(abs(za.z - zb.z), 9)), 9) / count(*), 6)
        |    AS delta
        |FROM z za JOIN z zb ON za.t = zb.t AND za.s < zb.s
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin)),

    // Heaps'-law vocabulary exponent: log-log OLS over the x82 growth
    // ladder — V = K·N^beta, the scaling readout tokenizer sizing needs.
    // Quantized variant (the x346 9-dp rule): raw ln-ln terms into
    // unordered sums flipped the 6-dp hash on association order in r15.
    Entry("x222_heaps_fit", (s, dir) => {
      val growth = TextOps.vocabGrowth(
        Registrar.table(s, dir, "documents"), "doc_id", "text",
        bucketSize = 25)
        .filter(F.col("cum_tokens") > 0 && F.col("cum_types") > 0)
      graft.ops.Stats.olsFitQuantized(growth, Nil,
        F.log(F.col("cum_tokens").cast("double")),
        F.log(F.col("cum_types").cast("double")))
    },
      // the x82 growth ladder, then the x107 closed-form OLS on ln-ln;
      // ln terms and their products 9-dp quantized before the unordered
      // sums (the x346 rule) so both engines land on one decimal grid
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), fs AS (
        |  SELECT bucket, count(*) AS new_types FROM (
        |    SELECT min(doc_id) // 25 AS bucket
        |    FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
        |    GROUP BY tok)
        |  GROUP BY bucket
        |), pb AS (
        |  SELECT doc_id // 25 AS bucket, count(*) AS docs,
        |    sum(len(t))::BIGINT AS tokens
        |  FROM tk GROUP BY 1
        |), lad AS (
        |  SELECT pb.bucket,
        |    (sum(pb.tokens) OVER (ORDER BY pb.bucket))::BIGINT AS ct,
        |    (sum(coalesce(fs.new_types, 0))
        |      OVER (ORDER BY pb.bucket))::BIGINT AS cy
        |  FROM pb LEFT JOIN fs USING (bucket)
        |), l AS (SELECT round(ln(ct::DOUBLE), 9) AS x,
        |    round(ln(cy::DOUBLE), 9) AS y
        |  FROM lad WHERE ct > 0 AND cy > 0),
        |p2 AS (SELECT x::DECIMAL(38,9) AS xd, y::DECIMAL(38,9) AS yd,
        |    round(x * x, 9)::DECIMAL(38,9) AS xx,
        |    round(x * y, 9)::DECIMAL(38,9) AS xy,
        |    round(y * y, 9)::DECIMAL(38,9) AS yy FROM l),
        |a AS (SELECT count(*)::DOUBLE AS n,
        |    sum(xd)::DOUBLE AS sx, sum(yd)::DOUBLE AS sy,
        |    sum(xx)::DOUBLE AS sxx, sum(xy)::DOUBLE AS sxy,
        |    sum(yy)::DOUBLE AS syy
        |  FROM p2)
        |SELECT n::BIGINT AS n,
        |  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6)
        |    + 0.0 AS slope,
        |  round((sy * sxx - sx * sxy) / nullif(n * sxx - sx * sx, 0), 6)
        |    + 0.0 AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) + 0.0
        |    AS r2
        |FROM a""".stripMargin)),

    // Nelson-Aalen cumulative hazard over the x171 lifetimes — the
    // additive sibling whose slope reads out tenure-dependent churn
    Entry("x223_nelson_aalen", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val per = ev.groupBy("user_id")
        .agg(F.min(graft.ops.EventOps.tsStamp(ev)).as("f"),
          F.max(graft.ops.EventOps.tsStamp(ev)).as("l"))
      val mx = per.agg(F.max("l").as("m"))
      val subj = per.crossJoin(F.broadcast(mx))
        .select(F.datediff(F.to_date(F.col("l")), F.to_date(F.col("f")))
            .as("dur"),
          F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 3 DAYS"), 1)
            .otherwise(0).as("ev"))
      graft.ops.Stats.nelsonAalen(subj, F.col("dur"), F.col("ev"))
    },
      // the x171 risk sets, additive d/n increments at 9 dp
      Oracle("""WITH per AS (SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT max(l) AS m FROM per),
        |subj AS (SELECT datediff('day', f::DATE, l::DATE) AS dur,
        |    CASE WHEN l < m - INTERVAL 3 DAY THEN 1 ELSE 0 END AS ev
        |  FROM per CROSS JOIN mx),
        |byt AS (SELECT dur AS t, sum(ev)::BIGINT AS d, count(*) AS lv
        |  FROM subj GROUP BY dur),
        |risk AS (SELECT t, d, (sum(lv) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS n_risk
        |  FROM byt),
        |hz AS (SELECT t, n_risk, d,
        |    round(d / CAST(n_risk AS DOUBLE), 9) AS hazard
        |  FROM risk WHERE d > 0)
        |SELECT t, n_risk, d, hazard,
        |  round(sum(hazard) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS cum_hazard
        |FROM hz ORDER BY t""".stripMargin)),

    // audience-overlap matrix: exact distinct-user Jaccard between every
    // event-type pair — one (user, type) collapse, types² fan-out only
    Entry("x224_audience_overlap", (s, dir) =>
      graft.ops.EventOps.audienceOverlap(
        Registrar.table(s, dir, "events")),
      // one (user, type) distinct collapse, pair self-join, exact Jaccard
      Oracle("""WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |sz AS (SELECT t, count(*)::BIGINT AS n FROM ut GROUP BY t),
        |both_t AS (SELECT l.t AS a, r.t AS b, count(*)::BIGINT AS n_both
        |  FROM ut l JOIN ut r ON l.u = r.u AND l.t < r.t
        |  GROUP BY 1, 2)
        |SELECT a, b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  round(n_both::DOUBLE / (sa.n + sb.n - n_both), 6) AS jaccard
        |FROM both_t JOIN sz sa ON both_t.a = sa.t
        |JOIN sz sb ON both_t.b = sb.t ORDER BY a, b""".stripMargin)),

    // approximate-FD census over orders: which columns are real keys
    // (o_orderkey → o_custkey holds) and which "keys" lie — two-level
    // distinct-then-rollup aggregations, one per candidate pair
    Entry("x225_fd_profile", (s, dir) =>
      graft.ops.Stats.fdProfile(
        Registrar.table(s, dir, "orders"),
        Seq("o_orderkey" -> "o_custkey",
          "o_custkey" -> "o_orderpriority",
          "o_orderpriority" -> "o_orderstatus",
          "o_custkey" -> "o_orderstatus"))
        .orderBy("lhs", "rhs"),
      // per-pair distinct collapse then per-lhs rollup, unioned
      Oracle {
        def pair(lhs: String, rhs: String): String =
          s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
             |  count(*)::BIGINT AS n_groups,
             |  sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
             |  round(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)::DOUBLE /
             |    count(*), 6) AS violation_rate,
             |  max(nr)::BIGINT AS max_rhs_per_group
             |FROM (SELECT l, count(*) AS nr FROM
             |  (SELECT DISTINCT $lhs::VARCHAR AS l, $rhs::VARCHAR AS r
             |   FROM orders) GROUP BY l)""".stripMargin
        Seq(pair("o_orderkey", "o_custkey"),
          pair("o_custkey", "o_orderpriority"),
          pair("o_orderpriority", "o_orderstatus"),
          pair("o_custkey", "o_orderstatus"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY lhs, rhs")
      }),

    // inclusion-dependency (FK-discovery) census across the star schema:
    // fact→dim directions read 1.0, the reverse directions read the
    // key-usage fraction — distinct collapses + one semi-join each
    Entry("x226_inclusion", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      val pt = Registrar.table(s, dir, "part")
      val sp = Registrar.table(s, dir, "supplier")
      val or = Registrar.table(s, dir, "orders")
      val cu = Registrar.table(s, dir, "customer")
      graft.ops.Stats.inclusionProfile(Seq(
        ("lineitem.partkey<part", li, "l_partkey", pt, "p_partkey"),
        ("lineitem.suppkey<supplier", li, "l_suppkey", sp, "s_suppkey"),
        ("orders.custkey<customer", or, "o_custkey", cu, "c_custkey"),
        ("customer.custkey<orders", cu, "c_custkey", or, "o_custkey"),
        ("part.partkey<lineitem", pt, "p_partkey", li, "l_partkey")))
        .orderBy("dep")
    },
      // distinct sides, left join, hit census per candidate
      Oracle {
        def cand(name: String, at: String, ac: String, bt: String,
                 bc: String): String =
          s"""SELECT '$name' AS dep, n_lhs, n_hit,
             |  round(n_hit::DOUBLE / n_lhs, 6) AS coefficient FROM (
             |  SELECT count(*)::BIGINT AS n_lhs,
             |    sum(CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             |      AS n_hit
             |  FROM (SELECT DISTINCT $ac::VARCHAR AS v FROM $at
             |        WHERE $ac IS NOT NULL) a
             |  LEFT JOIN (SELECT DISTINCT $bc::VARCHAR AS v FROM $bt
             |        WHERE $bc IS NOT NULL) b USING (v))""".stripMargin
        Seq(cand("customer.custkey<orders", "customer", "c_custkey",
            "orders", "o_custkey"),
          cand("lineitem.partkey<part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          cand("lineitem.suppkey<supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          cand("orders.custkey<customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          cand("part.partkey<lineitem", "part", "p_partkey",
            "lineitem", "l_partkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY dep")
      }),

    // Jaro-Winkler near-identical names under a COMPOSITE block
    // (nation, name[1..15]) — nation alone is a FIXED 25-block scheme
    // whose blocks grow linearly with the corpus and trip the maxBucket
    // abort at ~33x data (judge r11); the name-prefix component splits
    // each nation into blocks of bounded size (new prefixes appear as the
    // corpus grows, so block COUNT scales, not block size). The native
    // codegen JW expression is DuckDB-convention-pinned so the oracle
    // replays both the blocking and the score.
    Entry("x228_jw_pairs", (s, dir) =>
      Dedup.jaroWinklerPairs(
        Registrar.table(s, dir, "customer"), "c_custkey",
        F.col("c_name"),
        F.concat_ws("|", F.col("c_nationkey"),
          F.substring(F.col("c_name"), 1, 15)), minSim = 0.985)
        .orderBy("a", "b"),
      // DuckDB's jaro_winkler_similarity replays the native expression
      // (conventions pinned in TextSketches.jaroWinkler's scaladoc) AND the
      // composite (nation, name-prefix) block
      Oracle("""SELECT a.c_custkey AS a, b.c_custkey AS b,
        |  a.c_name AS k_a, b.c_name AS k_b,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND substring(a.c_name, 1, 15) = substring(b.c_name, 1, 15)
        |  AND a.c_custkey < b.c_custkey
        |WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.985
        |ORDER BY a, b""".stripMargin)),

    // Fellegi-Sunter linkage weights over the jw candidate pairs: name /
    // segment / balance agreements at fixed (m, u) — scoring is pure
    // codegen map work on the blocked pair list (same composite block as
    // x228)
    Entry("x229_record_linkage", (s, dir) => {
      val cust = Registrar.table(s, dir, "customer")
      val pairs = Dedup.jaroWinklerPairs(cust, "c_custkey",
        F.col("c_name"),
        F.concat_ws("|", F.col("c_nationkey"),
          F.substring(F.col("c_name"), 1, 15)), minSim = 0.97)
      def side(n: String) = cust.select(F.col("c_custkey").as(n),
        F.col("c_mktsegment").as(s"seg_$n"), F.col("c_acctbal").as(s"bal_$n"))
      val joined = pairs.join(side("a"), "a").join(side("b"), "b")
      Dedup.fellegiSunter(joined, Seq(
          ("name", F.col("jw") >= 0.985, 0.9, 0.05),
          ("segment", F.col("seg_a") === F.col("seg_b"), 0.95, 0.2),
          ("balance", F.abs(F.col("bal_a") - F.col("bal_b")) < 500.0, 0.8, 0.1)))
        .select("a", "b", "agree_name", "agree_segment", "agree_balance",
          "fs_weight")
        .orderBy("a", "b")
    },
      // same pair list, agreement CASEs with the 6-dp weight constants the
      // Spark side bakes via round(log2(m/u), 6) — summed in field order
      Oracle("""WITH p AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b,
        |    round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw,
        |    a.c_mktsegment AS sa, b.c_mktsegment AS sb,
        |    a.c_acctbal AS ba, b.c_acctbal AS bb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND substring(a.c_name, 1, 15) = substring(b.c_name, 1, 15)
        |    AND a.c_custkey < b.c_custkey
        |  WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97),
        |f AS (SELECT a, b,
        |    (jw >= 0.985) AS agree_name,
        |    (sa = sb) AS agree_segment,
        |    (abs(ba - bb) < 500.0::DOUBLE) AS agree_balance
        |  FROM p)
        |SELECT a, b, agree_name, agree_segment, agree_balance,
        |  round((CASE WHEN agree_name THEN 4.169925::DOUBLE
        |           ELSE -3.247928::DOUBLE END
        |       + CASE WHEN agree_segment THEN 2.247928::DOUBLE
        |           ELSE -4.0::DOUBLE END
        |       + CASE WHEN agree_balance THEN 3.0::DOUBLE
        |           ELSE -2.169925::DOUBLE END), 6) AS fs_weight
        |FROM f ORDER BY a, b""".stripMargin)),

    // log-rank churn comparison of even- vs odd-user cohorts. Durations
    // are HOURS (the fixture is 30 dense days — max idle is 58 h, so a
    // day-granularity rule flags nobody; r11 0-row incident) and churn is
    // "last event ≥ 24 h before the global max". Epoch seconds are floored
    // (unix_timestamp) so DuckDB replays floor(epoch(ts)) bit-identically.
    Entry("x230_logrank", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val per = ev.groupBy("user_id")
        .agg(F.min(F.unix_timestamp(t)).as("f"),
          F.max(F.unix_timestamp(t)).as("l"))
      val mx = per.agg(F.max("l").as("m"))
      val subj = per.crossJoin(F.broadcast(mx))
        .select(F.col("user_id"),
          F.floor((F.col("l") - F.col("f")) / F.lit(3600.0)).as("dur"),
          F.when(F.col("m") - F.col("l") >= 86400L, 1)
            .otherwise(0).as("ev"))
      graft.ops.Stats.logRank(subj, F.col("dur"), F.col("ev"),
        F.pmod(F.col("user_id"), F.lit(2L)) === 0L)
    },
      // hour-granularity subjects (floored epoch seconds, 24 h idle churn),
      // suffix-sum risk sets DESC, 9-dp e1/v, 1-row chi2 broadcast
      Oracle("""WITH per AS (SELECT user_id,
        |    min(floor(epoch(ts))::BIGINT) AS f,
        |    max(floor(epoch(ts))::BIGINT) AS l
        |  FROM events GROUP BY user_id),
        |m AS (SELECT max(l) AS m FROM per),
        |subj AS (SELECT user_id, (l - f) // 3600 AS t,
        |    CASE WHEN m - l >= 86400 THEN 1 ELSE 0 END AS ev,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |  FROM per CROSS JOIN m),
        |byt AS (SELECT t, sum(ev)::BIGINT AS d, sum(ev * a)::BIGINT AS d1,
        |    count(*)::BIGINT AS lv, sum(a)::BIGINT AS lv1
        |  FROM subj GROUP BY t),
        |risk AS (SELECT t, d, d1,
        |    (sum(lv) OVER w)::BIGINT AS n_risk,
        |    (sum(lv1) OVER w)::BIGINT AS n1_risk
        |  FROM byt WINDOW w AS (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pert AS (SELECT t, n_risk, n1_risk, d, d1,
        |    round(d * (n1_risk::DOUBLE / n_risk::DOUBLE), 9) AS e1,
        |    round(CASE WHEN n_risk > 1 THEN
        |        d * (n1_risk::DOUBLE / n_risk::DOUBLE) *
        |        (1.0::DOUBLE - n1_risk::DOUBLE / n_risk::DOUBLE) *
        |        (n_risk - d)::DOUBLE / (n_risk - 1)::DOUBLE
        |      ELSE 0.0::DOUBLE END, 9) AS v
        |  FROM risk WHERE d > 0),
        |tot AS (SELECT round(CASE WHEN sum(v) > 0.0::DOUBLE THEN
        |      sum(d1 - e1) * sum(d1 - e1) / sum(v)
        |    ELSE 0.0::DOUBLE END, 6) AS chi2 FROM pert)
        |SELECT t, n_risk, n1_risk, d, d1, e1, v, chi2
        |FROM pert CROSS JOIN tot ORDER BY t""".stripMargin)),

    // James-Stein shrinkage of per-nation mean balances toward the grand
    // mean — exact-integer sufficient statistics (cents), closed-form MoM
    Entry("x231_shrunk_means", (s, dir) =>
      graft.ops.Stats.ebShrunkMeans(
        Registrar.table(s, dir, "customer"),
        F.col("c_nationkey").cast("long"), F.col("c_acctbal")),
      // exact-integer cents sufficient statistics, MoM τ² from
      // ALL-POSITIVE per-group SS terms (the tri-scale rule), the same
      // (1.0/10000.0) runtime double the Spark side multiplies by
      Oracle("""WITH k AS (SELECT c_nationkey::BIGINT AS grp,
        |    round(c_acctbal * 100)::BIGINT AS k FROM customer),
        |byg AS (SELECT grp, count(*)::BIGINT AS n, sum(k)::BIGINT AS sk,
        |    sum(k * k)::BIGINT AS sk2 FROM k GROUP BY grp),
        |tot AS (SELECT count(*)::BIGINT AS g, sum(n)::BIGINT AS nn,
        |    sum(sk)::BIGINT AS tsk, sum(n * n)::BIGINT AS sn2 FROM byg),
        |wm AS (SELECT grp, n, sk, sk2, g, nn, sn2,
        |    tsk::DOUBLE / (nn::DOUBLE * 100.0::DOUBLE) AS m,
        |    sk::DOUBLE / (n::DOUBLE * 100.0::DOUBLE) AS meang
        |  FROM byg CROSS JOIN tot),
        |terms AS (SELECT grp, n, g, nn, sn2, m, meang,
        |    n::DOUBLE * (meang - m) * (meang - m) AS bt,
        |    (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) *
        |      (1.0::DOUBLE / 10000.0::DOUBLE) AS wg
        |  FROM wm),
        |tot2 AS (SELECT sum(bt) AS btw, sum(wg) AS sswg FROM terms),
        |c1 AS (SELECT grp, n, g, nn, sn2, m, meang, btw,
        |    CASE WHEN nn > g THEN sswg / (nn - g)::DOUBLE
        |      ELSE 0.0::DOUBLE END AS s2
        |  FROM terms CROSS JOIN tot2),
        |c2 AS (SELECT grp, n, m, meang, s2, btw, g,
        |    nn::DOUBLE - sn2::DOUBLE / nn::DOUBLE AS tdenom FROM c1),
        |c3 AS (SELECT grp, n, m, meang, s2,
        |    CASE WHEN tdenom > 0.0 THEN greatest(0.0::DOUBLE,
        |      (btw - s2 * (g - 1)::DOUBLE) / tdenom)
        |      ELSE 0.0::DOUBLE END AS tau2
        |  FROM c2),
        |fin AS (SELECT grp, n, m, meang,
        |    round(CASE WHEN tau2 + s2 / n::DOUBLE > 0.0
        |      THEN tau2 / (tau2 + s2 / n::DOUBLE)
        |      ELSE 0.0::DOUBLE END, 9) AS shrink_b
        |  FROM c3)
        |SELECT grp, n, round(meang, 6) AS mean, shrink_b,
        |  round(m + shrink_b * (meang - m), 6) AS shrunk
        |FROM fin ORDER BY grp""".stripMargin)),

    // Holm step-down (FWER) over the same per-token chi2 table x176
    // BH-adjusts — the release-blocking sibling
    Entry("x232_holm", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val grp = F.when(F.col("lang") === "en", "en")
        .when(F.col("lang") === "zh", "zh").otherwise("other")
      graft.ops.Stats.holmAdjust(
        TextOps.chi2TokensDf2(docs, "doc_id", "text", grp, minDf = 20),
        Seq("token"), F.col("chi2"), alpha = 0.05)
    },
      // the x176 chi2 table verbatim, then Holm: (m−i+1)·p at 9 dp,
      // running max, least(1, ·) — step-down via the same cummax shape
      Oracle("""WITH doc AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |      ELSE 'other' END AS g, text FROM documents),
        |tok AS (SELECT DISTINCT doc_id, g, t FROM (SELECT doc_id, g,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |  FROM doc)),
        |tg AS (SELECT t, g, count(*) AS a FROM tok GROUP BY 1, 2),
        |gt AS (SELECT g, count(*) AS ng FROM doc GROUP BY g),
        |tdf AS (SELECT t, sum(a) AS dfd FROM tg GROUP BY t
        |  HAVING sum(a) >= 20),
        |n AS (SELECT count(*) AS nn FROM doc),
        |cells AS (SELECT tdf.t, tdf.dfd, gt.g, gt.ng,
        |    coalesce(tg.a, 0) AS a
        |  FROM tdf CROSS JOIN gt
        |  LEFT JOIN tg ON tg.t = tdf.t AND tg.g = gt.g),
        |cc AS (SELECT t, dfd, round(
        |    coalesce((a - ep)*(a - ep)/nullif(ep, 0.0), 0.0) +
        |    coalesce(((ng - a) - ea)*((ng - a) - ea)/nullif(ea, 0.0), 0.0),
        |    9) AS cell
        |  FROM (SELECT t, dfd, ng, a::DOUBLE AS a,
        |      dfd::DOUBLE * ng / nn AS ep,
        |      (nn - dfd)::DOUBLE * ng / nn AS ea
        |    FROM cells CROSS JOIN n)),
        |chi AS (SELECT t AS token, round(sum(cell), 6) AS chi2
        |  FROM cc GROUP BY t),
        |keyed AS (SELECT token, chi2, round(exp(-chi2 / 2.0), 9) AS p
        |  FROM chi),
        |m AS (SELECT count(*) AS m FROM keyed),
        |rk AS (SELECT token, chi2, p,
        |    row_number() OVER (ORDER BY p, token) AS i
        |  FROM keyed),
        |st AS (SELECT token, chi2, p, i,
        |    round((m - i + 1)::DOUBLE * p, 9) AS step
        |  FROM rk CROSS JOIN m),
        |adj AS (SELECT token, chi2, p, i,
        |    least(1.0::DOUBLE, max(step) OVER (ORDER BY p, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
        |  FROM st)
        |SELECT token, chi2, p, i, p_adj,
        |  p_adj <= 0.05::DOUBLE AS rejected
        |FROM adj ORDER BY i""".stripMargin)),

    // McNemar paired comparison of two en-detectors (stopword hit vs
    // length rule) against the lang label — discordant counts only
    Entry("x233_mcnemar", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val truth = F.col("lang") === "en"
      graft.ops.Stats.mcnemar(d,
        F.col("text").contains(" the ") === truth,
        (F.col("n_chars") >= 900) === truth)
    },
      // paired discordant counts only; continuity-corrected χ², clamped at
      // |b−c| ≤ 1 and defined 0 when b + c = 0
      Oracle("""WITH t AS (SELECT
        |    (contains(text, ' the ')) = (lang = 'en') AS ar,
        |    (n_chars >= 900) = (lang = 'en') AS br
        |  FROM documents),
        |agg AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN ar AND br THEN 1 ELSE 0 END)::BIGINT
        |      AS both_right,
        |    sum(CASE WHEN ar AND NOT br THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN (NOT ar) AND br THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM t)
        |SELECT n, both_right, b, c,
        |  round(CASE WHEN b + c = 0 THEN 0.0::DOUBLE
        |    ELSE greatest(0.0::DOUBLE, (abs(b - c) - 1)::DOUBLE) *
        |         greatest(0.0::DOUBLE, (abs(b - c) - 1)::DOUBLE) /
        |         (b + c)::DOUBLE END, 6) AS chi2
        |FROM agg""".stripMargin)),

    // Kruskal-Wallis: does any market segment's balance distribution sit
    // above the others — k-group rank test, distinct-value collapse only
    Entry("x234_kruskal_wallis", (s, dir) =>
      graft.ops.Stats.kruskalWallis(
        Registrar.table(s, dir, "customer"),
        F.col("c_mktsegment"), F.col("c_acctbal")),
      // the x175 midrank-collapse CTEs generalized to k groups; exact
      // midranks, unrounded rank sums into the H rollup, 9-dp H before 6
      Oracle("""WITH v AS (SELECT c_mktsegment AS grp, c_acctbal::DOUBLE AS v
        |  FROM customer),
        |bvg AS (SELECT v, grp, count(*) AS c FROM v GROUP BY 1, 2),
        |bv AS (SELECT v, sum(c)::BIGINT AS t FROM bvg GROUP BY v),
        |mid AS (SELECT v, t,
        |    (sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS midr
        |  FROM bv),
        |pg AS (SELECT grp, sum(c)::BIGINT AS n, sum(c * midr) AS rank_sum
        |  FROM bvg JOIN mid USING (v) GROUP BY grp),
        |tie AS (SELECT sum(t*t*t - t)::BIGINT AS tiet FROM bv),
        |tot AS (SELECT sum(n)::BIGINT AS nn,
        |    sum(rank_sum * rank_sum / n::DOUBLE) AS rr FROM pg),
        |h AS (SELECT nn, tiet,
        |    round(12.0::DOUBLE * rr / (nn::DOUBLE * (nn + 1)::DOUBLE)
        |      - 3.0::DOUBLE * (nn + 1)::DOUBLE, 9) AS hraw
        |  FROM tot CROSS JOIN tie)
        |SELECT grp, n, round(rank_sum, 6) AS rank_sum,
        |  round(rank_sum / n::DOUBLE, 6) AS mean_rank,
        |  round(hraw, 6) AS h,
        |  round(hraw / nullif(1.0::DOUBLE -
        |    tiet::DOUBLE / (nn::DOUBLE * nn * nn - nn::DOUBLE), 0.0), 6)
        |    AS h_corr
        |FROM pg CROSS JOIN h ORDER BY grp""".stripMargin)),

    // Cramér's V (plus Bergsma bias-corrected) between order priority and
    // status — dense grid, margins from the cell collapse
    Entry("x235_cramers_v", (s, dir) =>
      graft.ops.Stats.cramersV(
        Registrar.table(s, dir, "orders"),
        F.col("o_orderpriority"), F.col("o_orderstatus")),
      // dense r×c grid from margin cross join, 9-dp cells, Bergsma
      // bias-corrected V with clamped phi2
      Oracle("""WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    count(*)::BIGINT AS k FROM orders GROUP BY 1, 2),
        |ra AS (SELECT a, sum(k)::BIGINT AS na FROM cells GROUP BY a),
        |cb AS (SELECT b, sum(k)::BIGINT AS nb FROM cells GROUP BY b),
        |nt AS (SELECT sum(k)::BIGINT AS n FROM cells),
        |dense AS (SELECT ra.a, cb.b, ra.na, cb.nb,
        |    coalesce(cells.k, 0)::BIGINT AS k
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
        |cc AS (SELECT round((k - e) * (k - e) / e, 9) AS cell
        |  FROM (SELECT k, na::DOUBLE * nb / n AS e
        |    FROM dense CROSS JOIN nt)),
        |agg AS (SELECT (SELECT n FROM nt) AS n,
        |    (SELECT count(*) FROM ra)::BIGINT AS r,
        |    (SELECT count(*) FROM cb)::BIGINT AS c,
        |    round(sum(cell), 6) AS chi2 FROM cc)
        |SELECT n, r, c, chi2,
        |  round(sqrt((chi2 / n::DOUBLE) /
        |    least((r - 1)::DOUBLE, (c - 1)::DOUBLE)), 6) AS v,
        |  round(sqrt(greatest(0.0::DOUBLE, chi2 / n::DOUBLE -
        |      (r - 1)::DOUBLE * (c - 1)::DOUBLE / (n - 1)::DOUBLE) /
        |    nullif(least(
        |      r::DOUBLE - (r - 1)::DOUBLE * (r - 1)::DOUBLE / (n - 1)::DOUBLE
        |        - 1.0::DOUBLE,
        |      c::DOUBLE - (c - 1)::DOUBLE * (c - 1)::DOUBLE / (n - 1)::DOUBLE
        |        - 1.0::DOUBLE), 0.0)), 6) AS v_corr
        |FROM agg""".stripMargin)),

    // pairwise Cohen's d / Hedges' g between segments on balance —
    // exact-integer cents sufficient statistics, G-row pair table
    Entry("x236_cohens_d", (s, dir) =>
      graft.ops.Stats.cohensD(
        Registrar.table(s, dir, "customer"),
        F.col("c_mktsegment"), F.col("c_acctbal")),
      // exact cents sufficient statistics, canonical a<b group pairs,
      // pooled-SD d and the Hedges small-sample factor
      Oracle("""WITH g AS (SELECT c_mktsegment AS g,
        |    round(c_acctbal * 100)::BIGINT AS k FROM customer),
        |byg AS (SELECT g, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS s2 FROM g GROUP BY g),
        |p AS (SELECT a.g AS grp_a, b.g AS grp_b, a.n AS n_a, b.n AS n_b,
        |    a.s AS s_a, b.s AS s_b, a.s2 AS q_a, b.s2 AS q_b
        |  FROM byg a JOIN byg b ON a.g < b.g),
        |e AS (SELECT grp_a, grp_b, n_a, n_b,
        |    s_a / (n_a::DOUBLE * 100.0::DOUBLE) AS ma,
        |    s_b / (n_b::DOUBLE * 100.0::DOUBLE) AS mb,
        |    (q_a::DOUBLE - s_a::DOUBLE * s_a / n_a::DOUBLE) /
        |      (100.0::DOUBLE * 100.0::DOUBLE) AS ssa,
        |    (q_b::DOUBLE - s_b::DOUBLE * s_b / n_b::DOUBLE) /
        |      (100.0::DOUBLE * 100.0::DOUBLE) AS ssb
        |  FROM p),
        |d AS (SELECT grp_a, grp_b, n_a, n_b, ma, mb,
        |    (ma - mb) / sqrt(nullif(
        |      (ssa + ssb) / (n_a::DOUBLE + n_b::DOUBLE - 2.0), 0.0)) AS d
        |  FROM e)
        |SELECT grp_a, grp_b, n_a, n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(d, 6) AS d,
        |  round(d * (1.0::DOUBLE - 3.0::DOUBLE /
        |    (4.0::DOUBLE * (n_a::DOUBLE + n_b::DOUBLE) - 9.0::DOUBLE)), 6)
        |    AS g
        |FROM d ORDER BY grp_a, grp_b""".stripMargin)),

    // Brown-Forsythe variance homogeneity across segments — median
    // carried doubled in exact cents, deviations stay integer
    Entry("x237_brown_forsythe", (s, dir) =>
      graft.ops.Stats.brownForsythe(
        Registrar.table(s, dir, "customer"),
        F.col("c_mktsegment"), F.col("c_acctbal")),
      // doubled exact-cents medians from the two middle order statistics,
      // integer deviations, one-way F on z
      Oracle("""WITH kk AS (SELECT c_mktsegment AS g,
        |    round(c_acctbal * 100)::BIGINT AS kv FROM customer),
        |r AS (SELECT g, kv,
        |    row_number() OVER (PARTITION BY g ORDER BY kv) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM kk),
        |m AS (SELECT g, (sum(kv) * (3 - count(*)))::BIGINT AS m2 FROM r
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY g),
        |z AS (SELECT kk.g, abs(kv * 2 - m2)::BIGINT AS z
        |  FROM kk JOIN m USING (g)),
        |byg AS (SELECT g, count(*)::BIGINT AS n, sum(z)::BIGINT AS s1,
        |    sum(z * z)::BIGINT AS s2 FROM z GROUP BY g),
        |t1 AS (SELECT sum(n)::BIGINT AS nn, sum(s1)::BIGINT AS tt1
        |  FROM byg),
        |terms AS (SELECT n,
        |    n::DOUBLE * (s1::DOUBLE / n::DOUBLE - tt1::DOUBLE / nn::DOUBLE)
        |      * (s1::DOUBLE / n::DOUBLE - tt1::DOUBLE / nn::DOUBLE) AS bt,
        |    s2::DOUBLE - s1::DOUBLE * s1 / n::DOUBLE AS wth
        |  FROM byg CROSS JOIN t1),
        |agg AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(bt) AS ssb, sum(wth) AS ssw FROM terms)
        |SELECT k, n,
        |  round((ssb / (k - 1)::DOUBLE) /
        |    nullif(ssw / (n::DOUBLE - k::DOUBLE), 0.0), 6) AS f,
        |  (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2
        |FROM agg""".stripMargin)),

    // diff-in-diff of event value: even users (treated) vs odd, second
    // half of the month vs first — 4-cell collapse, quantized milli-units
    Entry("x238_diff_in_diff", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      graft.ops.Stats.diffInDiff(ev,
        F.pmod(F.col("user_id"), F.lit(2L)) === 0L,
        F.dayofmonth(t) >= 16, F.col("value"))
    },
      // four (treat, post) cells of exact milli-unit sums; the same
      // chained divisions as the Spark plan, literal for literal
      Oracle("""WITH c AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN day(ts) >= 16 THEN 1 ELSE 0 END AS p,
        |    round(value * 1000)::BIGINT AS kv FROM events),
        |byc AS (SELECT t, p, count(*)::BIGINT AS n, sum(kv)::BIGINT AS s,
        |    sum(kv * kv)::BIGINT AS q FROM c GROUP BY t, p),
        |w AS (SELECT sum(n)::BIGINT AS n,
        |    sum(CASE WHEN t=1 AND p=0 THEN n ELSE 0 END)::BIGINT AS n10,
        |    sum(CASE WHEN t=1 AND p=1 THEN n ELSE 0 END)::BIGINT AS n11,
        |    sum(CASE WHEN t=0 AND p=0 THEN n ELSE 0 END)::BIGINT AS n00,
        |    sum(CASE WHEN t=0 AND p=1 THEN n ELSE 0 END)::BIGINT AS n01,
        |    sum(CASE WHEN t=1 AND p=0 THEN s ELSE 0 END)::BIGINT AS s10,
        |    sum(CASE WHEN t=1 AND p=1 THEN s ELSE 0 END)::BIGINT AS s11,
        |    sum(CASE WHEN t=0 AND p=0 THEN s ELSE 0 END)::BIGINT AS s00,
        |    sum(CASE WHEN t=0 AND p=1 THEN s ELSE 0 END)::BIGINT AS s01,
        |    sum(CASE WHEN t=1 AND p=0 THEN q ELSE 0 END)::BIGINT AS q10,
        |    sum(CASE WHEN t=1 AND p=1 THEN q ELSE 0 END)::BIGINT AS q11,
        |    sum(CASE WHEN t=0 AND p=0 THEN q ELSE 0 END)::BIGINT AS q00,
        |    sum(CASE WHEN t=0 AND p=1 THEN q ELSE 0 END)::BIGINT AS q01
        |  FROM byc),
        |e AS (SELECT n,
        |    s10 / (n10::DOUBLE * 1000.0::DOUBLE) AS m10,
        |    s11 / (n11::DOUBLE * 1000.0::DOUBLE) AS m11,
        |    s00 / (n00::DOUBLE * 1000.0::DOUBLE) AS m00,
        |    s01 / (n01::DOUBLE * 1000.0::DOUBLE) AS m01,
        |    (q10::DOUBLE - s10::DOUBLE * s10 / n10::DOUBLE) /
        |      (1000.0::DOUBLE * 1000.0::DOUBLE) /
        |      (nullif(n10::DOUBLE - 1.0::DOUBLE, 0.0) * n10::DOUBLE) AS v10,
        |    (q11::DOUBLE - s11::DOUBLE * s11 / n11::DOUBLE) /
        |      (1000.0::DOUBLE * 1000.0::DOUBLE) /
        |      (nullif(n11::DOUBLE - 1.0::DOUBLE, 0.0) * n11::DOUBLE) AS v11,
        |    (q00::DOUBLE - s00::DOUBLE * s00 / n00::DOUBLE) /
        |      (1000.0::DOUBLE * 1000.0::DOUBLE) /
        |      (nullif(n00::DOUBLE - 1.0::DOUBLE, 0.0) * n00::DOUBLE) AS v00,
        |    (q01::DOUBLE - s01::DOUBLE * s01 / n01::DOUBLE) /
        |      (1000.0::DOUBLE * 1000.0::DOUBLE) /
        |      (nullif(n01::DOUBLE - 1.0::DOUBLE, 0.0) * n01::DOUBLE) AS v01
        |  FROM w)
        |SELECT n,
        |  round(m10, 6) AS mean_t_pre, round(m11, 6) AS mean_t_post,
        |  round(m00, 6) AS mean_c_pre, round(m01, 6) AS mean_c_post,
        |  round((m11 - m10) - (m01 - m00), 6) AS did,
        |  round(sqrt(v11 + v10 + v01 + v00), 6) AS se,
        |  round(((m11 - m10) - (m01 - m00)) /
        |    nullif(sqrt(v11 + v10 + v01 + v00), 0.0), 6) AS t_stat
        |FROM e""".stripMargin)),

    // Chao1 true-vocabulary estimate per source — singleton/doubleton
    // capture-recapture over the (source, token) collapse
    Entry("x239_chao1", (s, dir) =>
      graft.ops.TextOps.chao1Richness(
        Registrar.table(s, dir, "documents"), Seq("source"), "text"),
      // singleton/doubleton capture-recapture per source over the
      // (source, token) collapse — bias-corrected Chao1
      Oracle("""WITH tk AS (SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0)) AS t FROM documents),
        |c AS (SELECT source, t, count(*) AS c FROM tk GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS s_obs,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
        |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
        |  round(count(*) +
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE *
        |    (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) /
        |    (2.0::DOUBLE *
        |      (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)::DOUBLE), 6)
        |    AS chao1
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Cronbach's alpha over four integer length-ish signals — do the doc
    // size proxies measure one construct; one-pass exact sums
    Entry("x240_cronbach", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      def minus(ch: String) =
        len - F.length(F.regexp_replace(F.col("text"), ch, ""))
      graft.ops.Stats.cronbachAlpha(d, Seq(
        ("chars", len),
        ("spaces", minus(" ")),
        ("evs", minus("e")),
        ("dots", minus("\\."))))
    },
      // four exact integer length signals, 9-dp per-item variances summed
      // in item order, sample variances throughout
      Oracle("""WITH it AS (SELECT
        |    length(text)::BIGINT AS i1,
        |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS i2,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS i3,
        |    (length(text) - length(replace(text, '.', '')))::BIGINT AS i4
        |  FROM documents),
        |t AS (SELECT i1, i2, i3, i4, (i1 + i2 + i3 + i4)::BIGINT AS tt
        |  FROM it),
        |s AS (SELECT count(*)::BIGINT AS n,
        |    sum(i1)::BIGINT AS s1, sum(i1*i1)::BIGINT AS q1,
        |    sum(i2)::BIGINT AS s2, sum(i2*i2)::BIGINT AS q2,
        |    sum(i3)::BIGINT AS s3, sum(i3*i3)::BIGINT AS q3,
        |    sum(i4)::BIGINT AS s4, sum(i4*i4)::BIGINT AS q4,
        |    sum(tt)::BIGINT AS st, sum(tt*tt)::BIGINT AS qt FROM t),
        |v AS (SELECT n,
        |    round((q1::DOUBLE - s1::DOUBLE * s1 / n::DOUBLE) /
        |      (n::DOUBLE - 1.0), 9)
        |    + round((q2::DOUBLE - s2::DOUBLE * s2 / n::DOUBLE) /
        |      (n::DOUBLE - 1.0), 9)
        |    + round((q3::DOUBLE - s3::DOUBLE * s3 / n::DOUBLE) /
        |      (n::DOUBLE - 1.0), 9)
        |    + round((q4::DOUBLE - s4::DOUBLE * s4 / n::DOUBLE) /
        |      (n::DOUBLE - 1.0), 9) AS vs,
        |    (qt::DOUBLE - st::DOUBLE * st / n::DOUBLE) /
        |      (n::DOUBLE - 1.0) AS vt
        |  FROM s)
        |SELECT n, 4::BIGINT AS k, round(vs, 6) AS var_sum,
        |  round(vt, 6) AS var_total,
        |  round(4.0::DOUBLE / 3.0::DOUBLE *
        |    (1.0::DOUBLE - vs / nullif(vt, 0.0)), 6) AS alpha
        |FROM v""".stripMargin)),

    // Dunn post-hoc pairwise z after the x234 omnibus — which segments
    // differ; same distinct-value collapse, G-row pair join
    Entry("x242_dunn", (s, dir) =>
      graft.ops.Stats.dunnPairs(
        Registrar.table(s, dir, "customer"),
        F.col("c_mktsegment"), F.col("c_acctbal")),
      // the x234 midrank CTEs + tie-corrected common variance, pairwise z
      Oracle("""WITH v AS (SELECT c_mktsegment AS grp, c_acctbal::DOUBLE AS v
        |  FROM customer),
        |bvg AS (SELECT v, grp, count(*) AS c FROM v GROUP BY 1, 2),
        |bv AS (SELECT v, sum(c)::BIGINT AS t FROM bvg GROUP BY v),
        |mid AS (SELECT v, t,
        |    (sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS midr
        |  FROM bv),
        |pg AS (SELECT grp, sum(c)::BIGINT AS n, sum(c * midr) AS r
        |  FROM bvg JOIN mid USING (v) GROUP BY grp),
        |tie AS (SELECT sum(t*t*t - t)::BIGINT AS tiet FROM bv),
        |tot AS (SELECT sum(n)::BIGINT AS nn FROM pg),
        |cv AS (SELECT
        |    nn::DOUBLE * (nn + 1)::DOUBLE / 12.0::DOUBLE -
        |      tiet::DOUBLE / (12.0::DOUBLE * (nn::DOUBLE - 1.0::DOUBLE))
        |      AS cvar
        |  FROM tot CROSS JOIN tie)
        |SELECT a.grp AS grp_a, b.grp AS grp_b, a.n AS n_a, b.n AS n_b,
        |  round(a.r / a.n::DOUBLE, 6) AS mean_rank_a,
        |  round(b.r / b.n::DOUBLE, 6) AS mean_rank_b,
        |  round((a.r / a.n::DOUBLE - b.r / b.n::DOUBLE) /
        |    sqrt(nullif(cvar * (1.0::DOUBLE / a.n::DOUBLE +
        |      1.0::DOUBLE / b.n::DOUBLE), 0.0)), 6) AS z
        |FROM pg a JOIN pg b ON a.grp < b.grp CROSS JOIN cv
        |ORDER BY grp_a, grp_b""".stripMargin)),

    // Cochran's Q over three paired en-detectors — the k-way McNemar;
    // one pass of exact integer sums
    Entry("x243_cochran_q", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val truth = F.col("lang") === "en"
      graft.ops.Stats.cochranQ(d, Seq(
        ("stop", F.col("text").contains(" the ") === truth),
        ("len", (F.col("n_chars") >= 900) === truth),
        ("of", F.col("text").contains(" of ") === truth)))
    },
      // k+2 exact integer sums, the Q ratio in pure integer arithmetic
      // until the final division
      Oracle("""WITH o AS (SELECT
        |    CASE WHEN (contains(text, ' the ')) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS o1,
        |    CASE WHEN (n_chars >= 900) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS o2,
        |    CASE WHEN (contains(text, ' of ')) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS o3
        |  FROM documents),
        |t AS (SELECT o1, o2, o3, (o1 + o2 + o3)::BIGINT AS l FROM o),
        |s AS (SELECT count(*)::BIGINT AS n,
        |    sum(o1)::BIGINT AS g1, sum(o2)::BIGINT AS g2,
        |    sum(o3)::BIGINT AS g3,
        |    sum(l)::BIGINT AS sl, sum(l * l)::BIGINT AS sl2 FROM t)
        |SELECT n, 3::BIGINT AS k,
        |  round((2 * (3 * (g1*g1 + g2*g2 + g3*g3) - sl * sl))::DOUBLE /
        |    nullif((3 * sl - sl2)::DOUBLE, 0.0), 6) AS q,
        |  2::BIGINT AS df
        |FROM s""".stripMargin)),

    // G-test of priority×status independence — the log-likelihood twin
    // of x235's Pearson grid
    Entry("x244_g_test", (s, dir) =>
      graft.ops.Stats.gTest(
        Registrar.table(s, dir, "orders"),
        F.col("o_orderpriority"), F.col("o_orderstatus")),
      // the x235 dense grid with O·ln(O/E) cells (0 at O=0), 9-dp terms
      Oracle("""WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    count(*)::BIGINT AS k FROM orders GROUP BY 1, 2),
        |ra AS (SELECT a, sum(k)::BIGINT AS na FROM cells GROUP BY a),
        |cb AS (SELECT b, sum(k)::BIGINT AS nb FROM cells GROUP BY b),
        |nt AS (SELECT sum(k)::BIGINT AS n FROM cells),
        |dense AS (SELECT ra.a, cb.b, ra.na, cb.nb,
        |    coalesce(cells.k, 0)::BIGINT AS k
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
        |cc AS (SELECT round(CASE WHEN k > 0
        |      THEN k * ln(k::DOUBLE / e) ELSE 0.0::DOUBLE END, 9) AS cell
        |  FROM (SELECT k, na::DOUBLE * nb / n AS e
        |    FROM dense CROSS JOIN nt))
        |SELECT (SELECT n FROM nt) AS n,
        |  (SELECT count(*) FROM ra)::BIGINT AS r,
        |  (SELECT count(*) FROM cb)::BIGINT AS c,
        |  round(2.0::DOUBLE * sum(cell), 6) AS g_stat,
        |  (((SELECT count(*) FROM ra) - 1) *
        |   ((SELECT count(*) FROM cb) - 1))::BIGINT AS df
        |FROM cc""".stripMargin)),

    // ICC(1): how much balance variance is BETWEEN nations — one-way
    // random effects from exact cents ANOVA sums
    Entry("x245_icc1", (s, dir) =>
      graft.ops.Stats.icc1(
        Registrar.table(s, dir, "customer"),
        F.col("c_nationkey"), F.col("c_acctbal")),
      // exact cents ANOVA via ALL-POSITIVE per-group SS terms (the
      // tri-scale rule: no big-double cancellation), unbalanced n0
      Oracle("""WITH kk AS (SELECT c_nationkey::VARCHAR AS g,
        |    round(c_acctbal * 100)::BIGINT AS k FROM customer),
        |byg AS (SELECT g, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS s2 FROM kk GROUP BY g),
        |t1 AS (SELECT sum(n)::BIGINT AS nn, sum(s)::BIGINT AS tt1
        |  FROM byg),
        |terms AS (SELECT n,
        |    n::DOUBLE *
        |      (s::DOUBLE / (n::DOUBLE * 100.0::DOUBLE) -
        |       tt1::DOUBLE / (nn::DOUBLE * 100.0::DOUBLE)) *
        |      (s::DOUBLE / (n::DOUBLE * 100.0::DOUBLE) -
        |       tt1::DOUBLE / (nn::DOUBLE * 100.0::DOUBLE)) AS bt,
        |    (s2::DOUBLE - s::DOUBLE * s / n::DOUBLE) /
        |      (100.0::DOUBLE * 100.0::DOUBLE) AS wth
        |  FROM byg CROSS JOIN t1),
        |a AS (SELECT count(*)::BIGINT AS g, sum(n)::BIGINT AS n,
        |    sum(bt) AS ssb, sum(wth) AS ssw, sum(n * n)::BIGINT AS sn2
        |  FROM terms),
        |e AS (SELECT g, n,
        |    ssb / (g - 1)::DOUBLE AS msb,
        |    ssw / (n::DOUBLE - g::DOUBLE) AS msw,
        |    (n::DOUBLE - sn2::DOUBLE / n::DOUBLE) / (g - 1)::DOUBLE AS n0
        |  FROM a)
        |SELECT g, n, round(n0, 6) AS n0, round(msb, 6) AS msb,
        |  round(msw, 6) AS msw,
        |  round((msb - msw) / nullif(msb + (n0 - 1.0::DOUBLE) * msw, 0.0),
        |    6) AS icc
        |FROM e""".stripMargin)),

    // partial correlation of n_chars and e-counts controlling for raw
    // length — do the signals agree beyond tracking size
    Entry("x246_partial_corr", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      graft.ops.Stats.partialCorr(d, F.col("n_chars"),
        len - F.length(F.regexp_replace(F.col("text"), "e", "")), len)
    },
      // nine exact integer moments, three pairwise r, the partial formula
      Oracle("""WITH p AS (SELECT n_chars::BIGINT AS x,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS y,
        |    length(text)::BIGINT AS z FROM documents),
        |s AS (SELECT count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(z)::BIGINT AS sz,
        |    sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy,
        |    sum(z*z)::BIGINT AS szz,
        |    sum(x*y)::BIGINT AS sxy, sum(x*z)::BIGINT AS sxz,
        |    sum(y*z)::BIGINT AS syz FROM p),
        |r AS (SELECT n,
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy) /
        |      sqrt(nullif((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx) *
        |        (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy), 0.0)) AS rxy,
        |    (n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz) /
        |      sqrt(nullif((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx) *
        |        (n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz), 0.0)) AS rxz,
        |    (n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz) /
        |      sqrt(nullif((n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy) *
        |        (n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz), 0.0)) AS ryz
        |  FROM s)
        |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |  round(ryz, 6) AS r_yz,
        |  round((rxy - rxz * ryz) / sqrt(nullif(
        |    (1.0::DOUBLE - rxz * rxz) * (1.0::DOUBLE - ryz * ryz), 0.0)),
        |    6) AS r_partial
        |FROM r""".stripMargin)),

    // Durbin-Watson of daily event volume residuals around the OLS
    // trend — autocorrelation left behind by the linear fit
    Entry("x247_durbin_watson", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val daily = ev.groupBy(F.dayofmonth(t).cast("long").as("d"))
        .agg(F.count(F.lit(1)).cast("double").as("y"))
      graft.ops.Stats.durbinWatson(daily, F.col("d"), F.col("y"))
    },
      // bounded daily rollup, closed-form OLS, 9-dp residuals before the
      // lag, DW ratio
      Oracle("""WITH d AS (SELECT day(ts)::BIGINT AS t, count(*)::DOUBLE AS y
        |  FROM events GROUP BY 1),
        |s AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
        |    sum(y) AS sy, sum(t * t)::BIGINT AS stt,
        |    sum(t::DOUBLE * y) AS sty FROM d),
        |f AS (SELECT n, st, sy,
        |    (n::DOUBLE * sty - st::DOUBLE * sy) /
        |      (n::DOUBLE * stt::DOUBLE - st::DOUBLE * st) AS b FROM s),
        |f2 AS (SELECT n, b, (sy - b * st) / n::DOUBLE AS a FROM f),
        |e AS (SELECT t, round(y - (a + b * t), 9) AS e
        |  FROM d CROSS JOIN f2),
        |l AS (SELECT e, e - lag(e) OVER (ORDER BY t) AS de FROM e)
        |SELECT (SELECT n FROM f2) AS n,
        |  round((SELECT b FROM f2), 6) AS slope,
        |  round((SELECT a FROM f2), 6) AS intercept,
        |  round(sum(de * de) / nullif(sum(e * e), 0.0), 6) AS dw
        |FROM l""".stripMargin)),

    // Cliff's delta: how far above the rest do en docs' lengths sit —
    // ordinal effect size from the x175 rank-sum identity
    Entry("x248_cliffs_delta", (s, dir) =>
      graft.ops.Stats.cliffsDelta(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en"),
      // the x175 rank-sum CTEs, delta identity, Romano bands on the
      // unrounded delta
      Oracle("""WITH v AS (SELECT n_chars AS vv,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1 FROM documents),
        |byv AS (SELECT vv, sum(c1) AS n1g, count(*) AS t FROM v
        |  GROUP BY vv),
        |mid AS (SELECT n1g, t,
        |    (sum(t) OVER (ORDER BY vv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS midr
        |  FROM byv),
        |st AS (SELECT sum(n1g)::BIGINT AS n1, sum(t - n1g)::BIGINT AS n2,
        |    sum(n1g * midr) AS r1 FROM mid),
        |dd AS (SELECT n1, n2, r1 - n1*(n1+1.0)/2.0 AS u1,
        |    2.0::DOUBLE * (r1 - n1*(n1+1.0)/2.0) /
        |      nullif(n1::DOUBLE * n2, 0.0) - 1.0::DOUBLE AS d
        |  FROM st)
        |SELECT n1, n2, round(u1, 6) AS u1, round(d, 6) AS delta,
        |  CASE WHEN abs(d) < 0.147::DOUBLE THEN 'negligible'
        |    WHEN abs(d) < 0.33::DOUBLE THEN 'small'
        |    WHEN abs(d) < 0.474::DOUBLE THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM dd""".stripMargin)),

    // Bowker symmetry of the event transition matrix — is any i->j flow
    // unbalanced by its reverse (one-way migration detector)
    Entry("x249_bowker", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
      val seq2 = ev.select(F.col("event_type"),
        F.lag("event_type", 1).over(w).as("prev"))
      graft.ops.Stats.bowkerSymmetry(seq2,
        F.col("prev"), F.col("event_type"))
    },
      // per-user lag transitions, canonical pairs, 9-dp cells, 1-row
      // (chi2, df) broadcast
      Oracle("""WITH tr AS (SELECT event_type AS j, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS i
        |  FROM events),
        |cells AS (SELECT i, j, count(*)::BIGINT AS c FROM tr
        |  WHERE i IS NOT NULL AND i <> j GROUP BY i, j),
        |p AS (SELECT least(i, j) AS a, greatest(i, j) AS b,
        |    sum(CASE WHEN i < j THEN c ELSE 0 END)::BIGINT AS n_ab,
        |    sum(CASE WHEN i > j THEN c ELSE 0 END)::BIGINT AS n_ba
        |  FROM cells GROUP BY 1, 2),
        |pc AS (SELECT a, b, n_ab, n_ba,
        |    round((n_ab - n_ba)::DOUBLE * (n_ab - n_ba) /
        |      (n_ab + n_ba)::DOUBLE, 9) AS cell FROM p),
        |t AS (SELECT round(sum(cell), 6) AS chi2,
        |    count(*)::BIGINT AS df FROM pc)
        |SELECT a, b, n_ab, n_ba, cell, chi2, df FROM pc CROSS JOIN t
        |ORDER BY a, b""".stripMargin)),

    // Wald-Wolfowitz runs test on daily event volume — streaks around
    // the exact doubled median vs noise
    Entry("x250_runs_test", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val daily = ev.groupBy(F.dayofmonth(t).cast("long").as("d"))
        .agg(F.count(F.lit(1)).cast("double").as("y"))
      graft.ops.Stats.runsTest(daily, F.col("d"), F.col("y"))
    },
      // doubled-median signs over the daily rollup, lag-flip run count,
      // closed-form normal moments
      Oracle("""WITH d AS (SELECT day(ts)::BIGINT AS o, count(*)::BIGINT AS yc
        |  FROM events GROUP BY 1),
        |p AS (SELECT o, round(yc::DOUBLE * 1000)::BIGINT AS k FROM d),
        |r AS (SELECT o, k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM p),
        |m AS (SELECT (sum(k) * (3 - count(*)))::BIGINT AS m2 FROM r
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        |sg AS (SELECT o, CASE WHEN k * 2 > m2 THEN 1
        |    WHEN k * 2 < m2 THEN -1 ELSE 0 END AS s
        |  FROM p CROSS JOIN m),
        |nz AS (SELECT o, s FROM sg WHERE s <> 0),
        |fl AS (SELECT s, CASE
        |    WHEN lag(s) OVER (ORDER BY o) IS NULL THEN 1
        |    WHEN s <> lag(s) OVER (ORDER BY o) THEN 1 ELSE 0 END AS f
        |  FROM nz),
        |a AS (SELECT
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(f)::BIGINT AS runs FROM fl)
        |SELECT n1, n2, runs,
        |  round(2.0::DOUBLE * n1 * n2 / (n1::DOUBLE + n2::DOUBLE)
        |    + 1.0::DOUBLE, 6) AS mu,
        |  round((runs - (2.0::DOUBLE * n1 * n2 / (n1::DOUBLE + n2::DOUBLE)
        |      + 1.0::DOUBLE)) /
        |    sqrt(nullif(2.0::DOUBLE * n1 * n2 *
        |      (2.0::DOUBLE * n1 * n2 - n1::DOUBLE - n2::DOUBLE) /
        |      ((n1::DOUBLE + n2::DOUBLE) * (n1::DOUBLE + n2::DOUBLE) *
        |       (n1::DOUBLE + n2::DOUBLE - 1.0::DOUBLE)), 0.0)), 6) AS z
        |FROM a""".stripMargin)),

    // Mantel-Haenszel pooled odds ratio: BUILDING-segment -> high-balance
    // association with nation confounding held inside strata
    Entry("x251_mantel_haenszel", (s, dir) =>
      graft.ops.Stats.mantelHaenszel(
        Registrar.table(s, dir, "customer"),
        F.col("c_nationkey"), F.col("c_mktsegment") === "BUILDING",
        F.col("c_acctbal") > 5000),
      // per-stratum 2x2 conditional counts, 9-dp R/S/PR/PSQR/QS terms,
      // RBG variance of ln(OR)
      Oracle("""WITH s AS (SELECT c_nationkey::VARCHAR AS s,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
        |    CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS y
        |  FROM customer),
        |bys AS (SELECT s,
        |    sum(CASE WHEN e=1 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN e=1 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN e=0 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN e=0 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM s GROUP BY s),
        |t AS (SELECT
        |    round(a::DOUBLE * d / (a+b+c+d)::DOUBLE, 9) AS r,
        |    round(b::DOUBLE * c / (a+b+c+d)::DOUBLE, 9) AS ss,
        |    round((a+d)::DOUBLE / (a+b+c+d)::DOUBLE *
        |      (a::DOUBLE * d / (a+b+c+d)::DOUBLE), 9) AS pr,
        |    round((a+d)::DOUBLE / (a+b+c+d)::DOUBLE *
        |      (b::DOUBLE * c / (a+b+c+d)::DOUBLE) +
        |      (b+c)::DOUBLE / (a+b+c+d)::DOUBLE *
        |      (a::DOUBLE * d / (a+b+c+d)::DOUBLE), 9) AS psqr,
        |    round((b+c)::DOUBLE / (a+b+c+d)::DOUBLE *
        |      (b::DOUBLE * c / (a+b+c+d)::DOUBLE), 9) AS qs
        |  FROM bys),
        |agg AS (SELECT count(*)::BIGINT AS strata, sum(r) AS sr,
        |    sum(ss) AS sss, sum(pr) AS spr, sum(psqr) AS spsqr,
        |    sum(qs) AS sqs FROM t)
        |SELECT strata,
        |  round(sr / nullif(sss, 0.0), 6) AS or_mh,
        |  round(ln(sr / nullif(sss, 0.0)), 6) AS ln_or,
        |  round(sqrt(spr / (2.0::DOUBLE * sr * sr) +
        |    spsqr / (2.0::DOUBLE * sr * sss) +
        |    sqs / (2.0::DOUBLE * sss * sss)), 6) AS se,
        |  round(ln(sr / nullif(sss, 0.0)) /
        |    nullif(sqrt(spr / (2.0::DOUBLE * sr * sr) +
        |      spsqr / (2.0::DOUBLE * sr * sss) +
        |      sqs / (2.0::DOUBLE * sss * sss)), 0.0), 6) AS z
        |FROM agg""".stripMargin)),

    // Jonckheere-Terpstra: does order value RISE across the ordered
    // priority ladder (1-URGENT < ... < 5-LOW lexicographically)
    Entry("x252_jonckheere", (s, dir) =>
      graft.ops.Stats.jonckheereTerpstra(
        Registrar.table(s, dir, "orders"),
        F.col("o_orderpriority"), F.col("o_totalprice")),
      // (value, group) cells, per-group suffix counts on the dense grid,
      // exact-half U summands, no-tie normal moments
      Oracle("""WITH cells AS (SELECT o_totalprice::DOUBLE AS v,
        |    o_orderpriority AS g, count(*)::BIGINT AS c
        |  FROM orders GROUP BY 1, 2),
        |grid AS (SELECT dv.v, dg.g, coalesce(cells.c, 0)::BIGINT AS c
        |  FROM (SELECT DISTINCT v FROM cells) dv
        |  CROSS JOIN (SELECT DISTINCT g FROM cells) dg
        |  LEFT JOIN cells ON cells.v = dv.v AND cells.g = dg.g),
        |gt AS (SELECT v, g, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS gtb
        |  FROM grid),
        |j AS (SELECT sum(a.c::DOUBLE *
        |      (b.gtb::DOUBLE + b.c::DOUBLE / 2.0)) AS j
        |  FROM cells a JOIN gt b ON a.v = b.v AND a.g < b.g),
        |tot AS (SELECT sum(n)::BIGINT AS n,
        |    sum(n * n)::BIGINT AS sn2,
        |    sum(n * n * (2 * n + 3))::BIGINT AS sn23
        |  FROM (SELECT g, sum(c)::BIGINT AS n FROM cells GROUP BY g))
        |SELECT n, round(j, 6) AS j,
        |  round((n::DOUBLE * n - sn2::DOUBLE) / 4.0, 6) AS mu,
        |  round((j - (n::DOUBLE * n - sn2::DOUBLE) / 4.0) /
        |    sqrt(nullif((n::DOUBLE * n * (2.0::DOUBLE * n + 3.0) -
        |      sn23::DOUBLE) / 72.0, 0.0)), 6) AS z
        |FROM j CROSS JOIN tot""".stripMargin)),

    // Friedman: do the three length signals rank documents identically —
    // within-doc midranks, tie-general chi2
    Entry("x253_friedman", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      def minus(ch: String) =
        len - F.length(F.regexp_replace(F.col("text"), ch, ""))
      graft.ops.Stats.friedman(d, Seq(
        ("spaces", minus(" ")), ("evs", minus("e")),
        ("dots", minus("\\."))))
    },
      // per-row midranks from pure integer comparisons, tie-general chi2
      Oracle("""WITH it AS (SELECT
        |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS x1,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS x2,
        |    (length(text) - length(replace(text, '.', '')))::BIGINT AS x3
        |  FROM documents),
        |rk AS (SELECT
        |    1.0::DOUBLE + ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x1 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x1 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r1,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x2 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x2 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r2,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 < x3 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 = x3 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r3
        |  FROM it),
        |s AS (SELECT count(*)::BIGINT AS n, sum(r1) AS g1, sum(r2) AS g2,
        |    sum(r3) AS g3, sum(r1*r1 + r2*r2 + r3*r3) AS a2 FROM rk)
        |SELECT n, 3::BIGINT AS k,
        |  round(n::DOUBLE * 2 *
        |    ((g1*g1 + g2*g2 + g3*g3) / n::DOUBLE -
        |      n::DOUBLE * 3 * 16 / 4.0) /
        |    nullif(a2 - n::DOUBLE * 3 * 16 / 4.0, 0.0), 6) AS chi2,
        |  2::BIGINT AS df
        |FROM s""".stripMargin)),

    // Fisher's exact on the small src0×zh 2x2 — exact BigInt tails where
    // chi2 expected cells are < 5
    Entry("x254_fisher_exact", (s, dir) =>
      graft.ops.Stats.fisherExact(
        Registrar.table(s, dir, "documents"),
        F.col("source") === "src0", F.col("lang") === "zh"),
      // lgamma hypergeometric terms over the bounded support, k-RANGE
      // tails (no probability-compare tie rule), doubling convention
      Oracle("""WITH t AS (SELECT
        |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS e,
        |    CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS y FROM documents),
        |ct AS (SELECT
        |    sum(CASE WHEN e=1 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN e=1 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN e=0 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN e=0 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM t),
        |m AS (SELECT a, b, c, d, a+b AS r1, c+d AS r2, a+c AS c1,
        |    a+b+c+d AS n FROM ct),
        |ks AS (SELECT m.*, gs.k FROM m,
        |  (SELECT unnest(range(0, 3000001)) AS k) gs
        |  WHERE gs.k >= greatest(0, m.c1 - m.r2)
        |    AND gs.k <= least(m.r1, m.c1)),
        |p AS (SELECT a, b, c, d, n, k,
        |    exp(lgamma((r1+1)::DOUBLE) - lgamma((k+1)::DOUBLE)
        |      - lgamma((r1-k+1)::DOUBLE)
        |      + lgamma((r2+1)::DOUBLE) - lgamma((c1-k+1)::DOUBLE)
        |      - lgamma((r2-c1+k+1)::DOUBLE)
        |      - (lgamma((n+1)::DOUBLE) - lgamma((c1+1)::DOUBLE)
        |      - lgamma((n-c1+1)::DOUBLE))) AS pk
        |  FROM ks),
        |tl AS (SELECT a, b, c, d, n,
        |    sum(CASE WHEN k <= a THEN pk ELSE 0.0::DOUBLE END) AS pl,
        |    sum(CASE WHEN k >= a THEN pk ELSE 0.0::DOUBLE END) AS pu
        |  FROM p GROUP BY a, b, c, d, n)
        |SELECT a, b, c, d, n,
        |  round(pl, 6) AS p_lower, round(pu, 6) AS p_upper,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE * least(pl, pu)), 6)
        |    AS p_two
        |FROM tl""".stripMargin)),

    // k-core of the part co-purchase graph (k=80, 3 fixed peels — the
    // fixture peels through round 3; parity holds converged or not)
    Entry("x255_kcore", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
        F.col("x.l_orderkey") === F.col("y.l_orderkey") &&
          F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").as("src"),
          F.col("y.l_partkey").as("dst"))
      graft.ops.Graph.kCore(e, "src", "dst", k = 80, rounds = 3)
    },
      // 3 unrolled peel rounds on the canonical part co-purchase edges,
      // final in-core degrees
      Oracle("""WITH e0 AS (SELECT DISTINCT
        |    least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d1 AS (SELECT n, count(*) AS c FROM
        |  (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
        |k1 AS (SELECT n FROM d1 WHERE c >= 80),
        |e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT n FROM k1)
        |  AND b IN (SELECT n FROM k1)),
        |d2 AS (SELECT n, count(*) AS c FROM
        |  (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n),
        |k2 AS (SELECT n FROM d2 WHERE c >= 80),
        |e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT n FROM k2)
        |  AND b IN (SELECT n FROM k2)),
        |d3 AS (SELECT n, count(*) AS c FROM
        |  (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n),
        |k3 AS (SELECT n FROM d3 WHERE c >= 80),
        |e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT n FROM k3)
        |  AND b IN (SELECT n FROM k3))
        |SELECT n AS node, count(*)::BIGINT AS degree FROM
        |  (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)
        |GROUP BY n ORDER BY node""".stripMargin)),

    // quadratic-weighted kappa between the priority digit and a
    // deterministic price band — ordinal agreement where near-misses count
    Entry("x256_weighted_kappa", (s, dir) =>
      graft.ops.Stats.weightedKappa(
        Registrar.table(s, dir, "orders"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long"),
        F.least(F.lit(5L),
          F.floor(F.col("o_totalprice") / 100000.0).cast("long") + 1L)),
      // dense grid, quadratic (i-j)^2 weights, 9-dp wO/wE terms
      Oracle("""WITH r AS (SELECT
        |    substring(o_orderpriority, 1, 1)::BIGINT AS i,
        |    least(5, floor(o_totalprice / 100000.0::DOUBLE)::BIGINT + 1)
        |      AS j
        |  FROM orders),
        |cells AS (SELECT i, j, count(*)::BIGINT AS o FROM r GROUP BY 1, 2),
        |ri AS (SELECT i, sum(o)::BIGINT AS rr FROM cells GROUP BY i),
        |cj AS (SELECT j, sum(o)::BIGINT AS cc FROM cells GROUP BY j),
        |nt AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |dense AS (SELECT ri.i, cj.j, ri.rr, cj.cc,
        |    coalesce(cells.o, 0)::BIGINT AS o
        |  FROM ri CROSS JOIN cj
        |  LEFT JOIN cells ON cells.i = ri.i AND cells.j = cj.j),
        |w AS (SELECT
        |    round(((i - j) * (i - j))::DOUBLE * o, 9) AS wo,
        |    round(((i - j) * (i - j))::DOUBLE *
        |      (rr::DOUBLE * cc / n), 9) AS we
        |  FROM dense CROSS JOIN nt),
        |agg AS (SELECT (SELECT n FROM nt) AS n,
        |    (SELECT count(*) FROM ri)::BIGINT AS k1,
        |    (SELECT count(*) FROM cj)::BIGINT AS k2,
        |    round(sum(wo), 6) AS disagree_o,
        |    round(sum(we), 6) AS disagree_e FROM w)
        |SELECT n, k1, k2, disagree_o, disagree_e,
        |  round(1.0::DOUBLE - disagree_o / nullif(disagree_e, 0.0), 6)
        |    AS kappa_w
        |FROM agg""".stripMargin)),

    // Mood's median test: segment balances vs the global exact median —
    // the maximally outlier-immune k-group location test
    Entry("x268_moods_median", (s, dir) =>
      graft.ops.Stats.moodsMedianTest(
        Registrar.table(s, dir, "customer"),
        F.col("c_mktsegment"), F.col("c_acctbal")),
      // doubled global median, drop-at-median signs, dense 2×k Pearson
      // grid in 9-dp cells
      Oracle("""WITH kk AS (SELECT c_mktsegment AS g,
        |    round(c_acctbal * 100)::BIGINT AS kv FROM customer),
        |r AS (SELECT g, kv, row_number() OVER (ORDER BY kv) AS rn,
        |    count(*) OVER () AS n FROM kk),
        |m AS (SELECT (sum(kv) * (3 - count(*)))::BIGINT AS m2 FROM r
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        |s AS (SELECT g, CASE WHEN kv * 2 > m2 THEN 1
        |    WHEN kv * 2 < m2 THEN -1 ELSE 0 END AS s
        |  FROM kk CROSS JOIN m),
        |byg AS (SELECT g,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM s WHERE s <> 0 GROUP BY g),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(a + b)::BIGINT AS n,
        |    sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb FROM byg),
        |cells AS (SELECT round(
        |    (a - ta::DOUBLE * (a + b)::DOUBLE / n) *
        |    (a - ta::DOUBLE * (a + b)::DOUBLE / n) /
        |    (ta::DOUBLE * (a + b)::DOUBLE / n) +
        |    (b - tb::DOUBLE * (a + b)::DOUBLE / n) *
        |    (b - tb::DOUBLE * (a + b)::DOUBLE / n) /
        |    (tb::DOUBLE * (a + b)::DOUBLE / n), 9) AS cell
        |  FROM byg CROSS JOIN tot)
        |SELECT (SELECT k FROM tot) AS k, (SELECT n FROM tot) AS n,
        |  round(sum(cell), 6) AS chi2,
        |  ((SELECT k FROM tot) - 1)::BIGINT AS df
        |FROM cells""".stripMargin)),

    // Kendall's W: how unanimously do the three length signals rank
    // documents — normalized friedman concordance
    Entry("x269_kendall_w", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      def minus(ch: String) =
        len - F.length(F.regexp_replace(F.col("text"), ch, ""))
      graft.ops.Stats.kendallW(d, Seq(
        ("spaces", minus(" ")), ("evs", minus("e")),
        ("dots", minus("\\."))))
    },
      // the x253 midrank CTEs, W = chi2/(n(k−1)) on the 6-dp chi2
      Oracle("""WITH it AS (SELECT
        |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS x1,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS x2,
        |    (length(text) - length(replace(text, '.', '')))::BIGINT AS x3
        |  FROM documents),
        |rk AS (SELECT
        |    1.0::DOUBLE + ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x1 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x1 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r1,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x2 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x2 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r2,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 < x3 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 = x3 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r3
        |  FROM it),
        |s AS (SELECT count(*)::BIGINT AS n, sum(r1) AS g1, sum(r2) AS g2,
        |    sum(r3) AS g3, sum(r1*r1 + r2*r2 + r3*r3) AS a2 FROM rk),
        |f AS (SELECT n,
        |    round(n::DOUBLE * 2 *
        |      ((g1*g1 + g2*g2 + g3*g3) / n::DOUBLE -
        |        n::DOUBLE * 3 * 16 / 4.0) /
        |      nullif(a2 - n::DOUBLE * 3 * 16 / 4.0, 0.0), 6) AS chi2
        |  FROM s)
        |SELECT n, 3::BIGINT AS k, chi2,
        |  round(chi2 / (n::DOUBLE * 2.0::DOUBLE), 6) AS w
        |FROM f""".stripMargin)),

    // Fleiss' kappa: do an order's 4 line quantities agree on a decile
    // bucket — equal-panel multi-rater agreement from integer stats
    Entry("x270_fleiss_kappa", (s, dir) =>
      graft.ops.Stats.fleissKappa(
        Registrar.table(s, dir, "lineitem"),
        F.col("l_orderkey"),
        F.floor((F.col("l_quantity") - 1) / 10), m = 4),
      // equal-panel (m=4) items only; every sufficient statistic an exact
      // integer, single divisions, kappa from the unrounded pa/pe
      Oracle("""WITH r AS (SELECT l_orderkey AS it,
        |    ((l_quantity::BIGINT - 1) // 10) AS cat FROM lineitem),
        |ok AS (SELECT it FROM r GROUP BY it HAVING count(*) = 4),
        |c AS (SELECT it, cat, count(*)::BIGINT AS k FROM r
        |  WHERE it IN (SELECT it FROM ok) GROUP BY it, cat),
        |per AS (SELECT it, sum(k * k)::BIGINT AS s2 FROM c GROUP BY it),
        |ag AS (SELECT count(*)::BIGINT AS n_items, sum(s2)::BIGINT AS s2t
        |  FROM per),
        |kj AS (SELECT cat, sum(k)::BIGINT AS kk FROM c GROUP BY cat),
        |kq AS (SELECT count(*)::BIGINT AS k_cats,
        |    sum(kk * kk)::BIGINT AS sk2 FROM kj),
        |fin AS (SELECT n_items, k_cats,
        |    (s2t - n_items * 4)::DOUBLE / (n_items * 4 * 3)::DOUBLE AS pa,
        |    sk2::DOUBLE /
        |      (n_items * 4 * n_items * 4)::DOUBLE AS pe
        |  FROM ag CROSS JOIN kq)
        |SELECT n_items, 4::BIGINT AS m, k_cats, round(pa, 6) AS pa,
        |  round(pe, 6) AS pe,
        |  round((pa - pe) / nullif(1.0::DOUBLE - pe, 0.0), 6) AS kappa
        |FROM fin""".stripMargin)),

    // Krippendorff's alpha: the same quantity-bucket panels but with the
    // VARYING panel sizes real annotation tables have (every order >= 2)
    Entry("x271_kripp_alpha", (s, dir) =>
      graft.ops.Stats.krippAlphaNominal(
        Registrar.table(s, dir, "lineitem"),
        F.col("l_orderkey"),
        F.floor((F.col("l_quantity") - 1) / 10)),
      // varying panels (>= 2 ratings); 9-dp exact-integer per-unit terms,
      // one-division expected disagreement
      Oracle("""WITH r AS (SELECT l_orderkey AS u,
        |    ((l_quantity::BIGINT - 1) // 10) AS cat FROM lineitem),
        |c AS (SELECT u, cat, count(*)::BIGINT AS k FROM r GROUP BY u, cat),
        |per AS (SELECT u, sum(k)::BIGINT AS m, sum(k * k)::BIGINT AS s2
        |  FROM c GROUP BY u HAVING sum(k) >= 2),
        |dg AS (SELECT count(*)::BIGINT AS n_units,
        |    sum(m)::BIGINT AS n_ratings,
        |    sum(round((m * m - s2)::DOUBLE / (m - 1)::DOUBLE, 9)) AS dsum
        |  FROM per),
        |nc AS (SELECT cat, sum(k)::BIGINT AS t FROM c
        |  WHERE u IN (SELECT u FROM per) GROUP BY cat),
        |nq AS (SELECT count(*)::BIGINT AS k_cats,
        |    sum(t * t)::BIGINT AS sc2 FROM nc),
        |fin AS (SELECT n_units, n_ratings, k_cats, dsum,
        |    (n_ratings * n_ratings - sc2)::DOUBLE /
        |      (n_ratings - 1)::DOUBLE AS de
        |  FROM dg CROSS JOIN nq)
        |SELECT n_units, n_ratings, k_cats, round(dsum, 6) AS d_o,
        |  round(de, 6) AS d_e,
        |  round(1.0::DOUBLE - dsum / nullif(de, 0.0), 6) AS alpha
        |FROM fin""".stripMargin)),

    // k-sample Anderson-Darling: do the five order priorities share one
    // totalprice distribution — the tail-weighted drift test
    Entry("x272_ad_ksample", (s, dir) =>
      graft.ops.Stats.adKSample(
        Registrar.table(s, dir, "orders"),
        F.col("o_orderpriority"), F.col("o_totalprice")),
      // tie-adjusted A2akN: doubled midrank cumulatives keep numerator and
      // denominator integer-exact; integer prefix counts only
      Oracle("""WITH kk AS (SELECT o_orderpriority AS g,
        |    round(o_totalprice * 100)::BIGINT AS v FROM orders),
        |f AS (SELECT g, v, count(*)::BIGINT AS fv FROM kk GROUP BY g, v),
        |gr AS (SELECT g, sum(fv)::BIGINT AS ni FROM f GROUP BY g),
        |vals AS (SELECT v, sum(fv)::BIGINT AS l FROM f GROUP BY v),
        |dense AS (SELECT gr.g, gr.ni, vals.v, vals.l,
        |    coalesce(f.fv, 0)::BIGINT AS fv
        |  FROM gr CROSS JOIN vals
        |  LEFT JOIN f ON f.g = gr.g AND f.v = vals.v),
        |cum AS (SELECT g, ni, v, l, fv,
        |    (sum(fv) OVER (PARTITION BY g ORDER BY v))::BIGINT AS c
        |  FROM dense),
        |wd AS (SELECT g, ni, l, (c * 2 - fv)::BIGINT AS e,
        |    ((sum(c) OVER (PARTITION BY v)) * 2 - l)::BIGINT AS d
        |  FROM cum),
        |tot AS (SELECT sum(ni)::BIGINT AS n, count(*)::BIGINT AS k
        |  FROM gr),
        |nv AS (SELECT count(*)::BIGINT AS n_vals FROM vals),
        |terms AS (SELECT g, ni, round(l::DOUBLE *
        |      ((n * e - d * ni)::DOUBLE * (n * e - d * ni)::DOUBLE) /
        |      nullif((d * (n * 2 - d) - n * l), 0)::DOUBLE, 9) AS t
        |  FROM wd CROSS JOIN tot),
        |pg AS (SELECT g, max(ni)::BIGINT AS ni, sum(t) AS sg FROM terms
        |  GROUP BY g),
        |fin AS (SELECT sum(sg / ni::DOUBLE) AS s FROM pg)
        |SELECT k, n, n_vals,
        |  round(s * (n - 1)::DOUBLE / n::DOUBLE, 6) AS a2
        |FROM fin CROSS JOIN tot CROSS JOIN nv""".stripMargin)),

    // Goodman-Kruskal lambda: how much does knowing the source cut the
    // error of guessing the language — directed nominal prediction
    Entry("x273_gk_lambda", (s, dir) =>
      graft.ops.Stats.gkLambda(
        Registrar.table(s, dir, "documents"),
        F.col("source"), F.col("lang")),
      // all-integer modal-error counts; one division
      Oracle("""WITH c AS (SELECT source AS r, lang AS cl, count(*)::BIGINT AS k
        |  FROM documents GROUP BY source, lang),
        |rm AS (SELECT r, max(k)::BIGINT AS mk FROM c GROUP BY r),
        |rq AS (SELECT count(*)::BIGINT AS k_rows, sum(mk)::BIGINT AS sm
        |  FROM rm),
        |cq AS (SELECT count(*)::BIGINT AS k_cols, max(t)::BIGINT AS mt,
        |    sum(t)::BIGINT AS n FROM (SELECT cl, sum(k)::BIGINT AS t
        |    FROM c GROUP BY cl))
        |SELECT k_rows, k_cols, n,
        |  round((sm - mt)::DOUBLE / nullif((n - mt), 0)::DOUBLE, 6)
        |    AS lambda
        |FROM rq CROSS JOIN cq""".stripMargin)),

    // entropy + recursive (c,2) l-diversity per QI class — the
    // disclosure criteria distinct-l (x172) is too weak for
    Entry("x274_l_diversity", (s, dir) =>
      graft.ops.Curation.lDiversityAudit(
        Registrar.table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000), lMin = 2),
      // 9-dp c*ln(c) ladder per class; recursive c_min from integers;
      // at_risk from the unrounded entropy
      Oracle("""WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 1000) AS v, count(*)::BIGINT AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |per AS (SELECT c_nationkey, c_mktsegment, sum(c)::BIGINT AS n,
        |    count(*)::BIGINT AS l_distinct, max(c)::BIGINT AS r1,
        |    sum(round(c::DOUBLE * ln(c::DOUBLE), 9)) AS slc
        |  FROM cells GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, n, l_distinct,
        |  round(exp(ln(n::DOUBLE) - slc / n::DOUBLE), 6) AS entropy_l,
        |  round(r1::DOUBLE / nullif((n - r1), 0)::DOUBLE, 6) AS c_min,
        |  (l_distinct < 2 OR
        |    exp(ln(n::DOUBLE) - slc / n::DOUBLE) < 2.0::DOUBLE) AS at_risk
        |FROM per ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // TOST: are BUILDING and AUTOMOBILE balances equivalent to within
    // $800 — the positive claim a non-significant t-test cannot make
    Entry("x275_tost", (s, dir) =>
      graft.ops.Stats.tostEquivalence(
        Registrar.table(s, dir, "customer"), Seq.empty,
        F.col("c_mktsegment"), F.col("c_acctbal"),
        "BUILDING", "AUTOMOBILE", margin = 800.0),
      // the x117 welch variance tree; both one-sided z's against 1.644854,
      // decision from the unrounded tree
      Oracle("""WITH a AS (SELECT
        |    count(c_acctbal) FILTER (c_mktsegment = 'BUILDING')::DOUBLE
        |      AS na,
        |    sum(c_acctbal) FILTER (c_mktsegment = 'BUILDING') AS sa,
        |    sum(c_acctbal * c_acctbal)
        |      FILTER (c_mktsegment = 'BUILDING') AS ssa,
        |    count(c_acctbal) FILTER (c_mktsegment = 'AUTOMOBILE')::DOUBLE
        |      AS nb,
        |    sum(c_acctbal) FILTER (c_mktsegment = 'AUTOMOBILE') AS sb,
        |    sum(c_acctbal * c_acctbal)
        |      FILTER (c_mktsegment = 'AUTOMOBILE') AS ssb
        |  FROM customer),
        |f AS (SELECT na, nb, sa, sb,
        |    (ssa - sa * sa / na) / ((na - 1.0) * na) AS va,
        |    (ssb - sb * sb / nb) / ((nb - 1.0) * nb) AS vb
        |  FROM a)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0
        |    THEN round(sa / na - sb / nb, 6) END AS diff,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0
        |    THEN round(sqrt(va + vb), 6) END AS se,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0
        |    THEN round((sa / na - sb / nb + 800.0::DOUBLE) /
        |      sqrt(va + vb), 6) END AS z_low,
        |  CASE WHEN na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0
        |    THEN round((sa / na - sb / nb - 800.0::DOUBLE) /
        |      sqrt(va + vb), 6) END AS z_high,
        |  (na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0 AND
        |    (sa / na - sb / nb + 800.0::DOUBLE) / sqrt(va + vb) >
        |      1.644854::DOUBLE AND
        |    (sa / na - sb / nb - 800.0::DOUBLE) / sqrt(va + vb) <
        |      -1.644854::DOUBLE) AS equivalent
        |FROM f""".stripMargin)),

    // fixed-effect meta-analysis of the per-nation BUILDING-AUTOMOBILE
    // balance gap: inverse-variance pooling, Cochran Q, Higgins I2
    Entry("x276_meta_fixed", (s, dir) =>
      graft.ops.Stats.metaFixedEffect(
        Registrar.table(s, dir, "customer"),
        F.col("c_nationkey"), F.col("c_mktsegment"), F.col("c_acctbal"),
        "BUILDING", "AUTOMOBILE"),
      // per-nation welch stats -> inverse-variance weights; one-pass Q via
      // Sw*e^2 - (Sw*e)^2/Sw; I2 gated on Q > 0
      Oracle("""WITH a AS (SELECT c_nationkey AS st,
        |    count(c_acctbal) FILTER (c_mktsegment = 'BUILDING')::DOUBLE
        |      AS na,
        |    sum(c_acctbal) FILTER (c_mktsegment = 'BUILDING') AS sa,
        |    sum(c_acctbal * c_acctbal)
        |      FILTER (c_mktsegment = 'BUILDING') AS ssa,
        |    count(c_acctbal) FILTER (c_mktsegment = 'AUTOMOBILE')::DOUBLE
        |      AS nb,
        |    sum(c_acctbal) FILTER (c_mktsegment = 'AUTOMOBILE') AS sb,
        |    sum(c_acctbal * c_acctbal)
        |      FILTER (c_mktsegment = 'AUTOMOBILE') AS ssb
        |  FROM customer GROUP BY 1),
        |f AS (SELECT st, na, nb, sa, sb,
        |    (ssa - sa * sa / na) / ((na - 1.0) * na) AS va,
        |    (ssb - sb * sb / nb) / ((nb - 1.0) * nb) AS vb
        |  FROM a),
        |per AS (SELECT st, (sa / na - sb / nb) AS e,
        |    1.0::DOUBLE / (va + vb) AS w
        |  FROM f WHERE na >= 2.0 AND nb >= 2.0 AND va + vb > 0.0),
        |one AS (SELECT count(*)::BIGINT AS k, sum(w) AS sw,
        |    sum(w * e) AS swe, sum(w * e * e) AS swe2 FROM per)
        |SELECT k, round(swe / sw, 6) AS pooled,
        |  round(1.0::DOUBLE / sqrt(sw), 6) AS se_pooled,
        |  round(swe / sw * sqrt(sw), 6) AS z,
        |  round(swe2 - swe * swe / sw, 6) AS q,
        |  round(CASE WHEN k >= 2 AND swe2 - swe * swe / sw > 0.0 THEN
        |    greatest(0.0::DOUBLE, (swe2 - swe * swe / sw - (k - 1)::DOUBLE)
        |      / (swe2 - swe * swe / sw)) END, 6) AS i2
        |FROM one""".stripMargin)),

    // ICC(2,1): are an order's 4 line quantities consistent once each
    // line-slot's systematic offset is charged against agreement
    Entry("x277_icc2", (s, dir) =>
      graft.ops.Stats.icc2(
        Registrar.table(s, dir, "lineitem"),
        F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_quantity"),
        k = 4),
      // two-way decomposition from exact-long sufficient statistics
      // (T, Sx2, SR, SC); scalar mean squares, Shrout-Fleiss ICC(2,1)
      Oracle("""WITH cells AS (SELECT l_orderkey AS it, l_linenumber AS ra,
        |    round(l_quantity)::BIGINT AS x FROM lineitem),
        |ok AS (SELECT it FROM cells GROUP BY it HAVING count(*) = 4),
        |g AS (SELECT * FROM cells WHERE it IN (SELECT it FROM ok)),
        |r AS (SELECT count(*)::BIGINT AS n_items,
        |    sum(ri * ri)::BIGINT AS sr
        |  FROM (SELECT it, sum(x)::BIGINT AS ri FROM g GROUP BY it)),
        |c AS (SELECT sum(cj * cj)::BIGINT AS sc
        |  FROM (SELECT ra, sum(x)::BIGINT AS cj FROM g GROUP BY ra)),
        |t AS (SELECT sum(x)::BIGINT AS t, sum(x * x)::BIGINT AS s2
        |  FROM g),
        |f AS (SELECT n_items, sr, sc, t, s2,
        |    (t * t)::DOUBLE / (n_items * 4)::DOUBLE AS cf
        |  FROM r CROSS JOIN c CROSS JOIN t),
        |m AS (SELECT n_items,
        |    (sr::DOUBLE / 4.0::DOUBLE - cf) / (n_items - 1)::DOUBLE
        |      AS msr,
        |    (sc::DOUBLE / n_items::DOUBLE - cf) / 3.0::DOUBLE AS msc,
        |    ((s2::DOUBLE - cf) - (sr::DOUBLE / 4.0::DOUBLE - cf) -
        |     (sc::DOUBLE / n_items::DOUBLE - cf)) /
        |      ((n_items - 1) * 3)::DOUBLE AS mse
        |  FROM f)
        |SELECT n_items, 4::BIGINT AS k, round(msr, 6) AS msr,
        |  round(msc, 6) AS msc, round(mse, 6) AS mse,
        |  round((msr - mse) / nullif(msr + 3.0::DOUBLE * mse +
        |    4.0::DOUBLE * (msc - mse) / n_items::DOUBLE, 0.0), 6)
        |    AS icc2
        |FROM m""".stripMargin)),

    // Lin's CCC: does 6x the token count measure the SAME char length —
    // agreement with y = x, decomposed into precision r and accuracy C_b
    Entry("x278_lins_ccc", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      graft.ops.Stats.linsCcc(
        d.select(F.length(F.col("text")).as("x"),
          (F.size(F.split(F.trim(F.col("text")), "\\s+")) * 6).as("y")),
        F.col("x"), F.col("y"))
    },
      // biased (/n) moments from exact-long sums; ccc = r * C_b emitted
      // with the decomposition
      Oracle("""WITH p AS (SELECT length(text)::BIGINT AS x,
        |    (6 * len(string_split_regex(trim(text), '\s+')))::BIGINT
        |      AS y
        |  FROM documents),
        |one AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
        |    sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy
        |  FROM p),
        |m AS (SELECT n, sx::DOUBLE / n::DOUBLE AS mx,
        |    sy::DOUBLE / n::DOUBLE AS my,
        |    sxx::DOUBLE / n::DOUBLE -
        |      (sx::DOUBLE / n::DOUBLE) * (sx::DOUBLE / n::DOUBLE) AS vx,
        |    syy::DOUBLE / n::DOUBLE -
        |      (sy::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE) AS vy,
        |    sxy::DOUBLE / n::DOUBLE -
        |      (sx::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE) AS cxy
        |  FROM one)
        |SELECT n, round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
        |  round(cxy / nullif(sqrt(vx) * sqrt(vy), 0.0), 6) AS r,
        |  round(2.0::DOUBLE * sqrt(vx) * sqrt(vy) /
        |    nullif(vx + vy + (mx - my) * (mx - my), 0.0), 6) AS c_b,
        |  round(2.0::DOUBLE * cxy /
        |    nullif(vx + vy + (mx - my) * (mx - my), 0.0), 6) AS ccc
        |FROM m""".stripMargin)),

    // Newman modularity of the nation partition over the supplier
    // co-purchase graph: is sourcing nation-clustered
    Entry("x279_modularity", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.modularity(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst",
        Registrar.table(s, dir, "supplier"),
        "s_suppkey", "s_nationkey")
    },
      // the x104 edge census + nation communities; Q from exact longs
      // (m, intra, sum d_c^2), two divisions
      Oracle("""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
        |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
        |j AS (SELECT e.a, e.b, sa.s_nationkey AS c1, sb.s_nationkey AS c2
        |  FROM e JOIN supplier sa ON sa.s_suppkey = e.a
        |  JOIN supplier sb ON sb.s_suppkey = e.b),
        |tot AS (SELECT count(*)::BIGINT AS m,
        |    sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END)::BIGINT AS intra
        |  FROM j),
        |d AS (SELECT cc, count(*)::BIGINT AS dd FROM
        |  (SELECT c1 AS cc FROM j UNION ALL SELECT c2 FROM j)
        |  GROUP BY cc),
        |kq AS (SELECT count(*)::BIGINT AS k_comms,
        |    sum(dd * dd)::BIGINT AS sd2 FROM d)
        |SELECT k_comms, m, intra,
        |  round(intra::DOUBLE / m::DOUBLE -
        |    sd2::DOUBLE / (4 * m * m)::DOUBLE, 6) AS q
        |FROM kq CROSS JOIN tot""".stripMargin)),

    // Ljung-Box portmanteau: is the daily event-count series white
    // noise across the first 7 lags jointly
    Entry("x280_ljung_box", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.ljungBox(daily, F.col("t"), F.col("v"), maxLag = 7)
    },
      // exact-long per-lag sums on the bounded daily series; available-
      // pair ACF (= textbook n-k when contiguous)
      Oracle("""WITH daily AS (SELECT
        |    (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    count(*)::BIGINT AS x
        |  FROM events GROUP BY 1),
        |one AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS tt,
        |    sum(x * x)::BIGINT AS s2 FROM daily),
        |lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7])::BIGINT AS k),
        |pl AS (SELECT k, count(*)::BIGINT AS cnt,
        |    sum(a.x * b.x)::BIGINT AS pa, sum(a.x)::BIGINT AS ba,
        |    sum(b.x)::BIGINT AS bb
        |  FROM lags JOIN daily a ON true JOIN daily b ON b.t = a.t + k
        |  GROUP BY k),
        |rh AS (SELECT n, cnt,
        |    (pa::DOUBLE - (tt::DOUBLE / n::DOUBLE) * (ba + bb)::DOUBLE +
        |     cnt::DOUBLE * (tt::DOUBLE / n::DOUBLE) *
        |       (tt::DOUBLE / n::DOUBLE)) /
        |    (s2::DOUBLE - tt::DOUBLE * (tt::DOUBLE / n::DOUBLE)) AS rho
        |  FROM pl CROSS JOIN one),
        |tm AS (SELECT n, round(rho * rho / cnt::DOUBLE, 9) AS t FROM rh)
        |SELECT n, 7::BIGINT AS h,
        |  round(n::DOUBLE * (n + 2)::DOUBLE * sum(t), 6) AS lb,
        |  7::BIGINT AS df
        |FROM tm GROUP BY n""".stripMargin)),

    // PACF: how many lag features the daily series actually needs —
    // the AR-order cutoff x167's ACF geometrically blurs
    Entry("x321_pacf", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.pacf(daily, "t", "v", maxLag = 7)
    },
      // the x178 scored CTE; decile bins, informative-bin gate, 9-dp
      // terms, df follows the bins actually used
      // 9-dp centered pair terms on the t-grid; the Durbin-Levinson
      // levels unrolled as generated MATERIALIZED CTEs (x313 pattern)
      Oracle {
        val levels = (2 to 7).map { k =>
          s"""kk$k AS (SELECT CASE WHEN
             |    (1.0::DOUBLE - coalesce(s2.v, 0.0)) <> 0.0 THEN round(
             |    (coalesce((SELECT r FROM rk WHERE lag = $k), 0.0) -
             |      coalesce(s1.v, 0.0)) /
             |    (1.0::DOUBLE - coalesce(s2.v, 0.0)), 9)
             |    ELSE 0.0 END AS pkk
             |  FROM (SELECT sum(p.phi * r.r) AS v FROM p${k - 1} p
             |    JOIN rk r ON r.lag = $k - p.j) s1
             |  CROSS JOIN (SELECT sum(p.phi * r.r) AS v FROM p${k - 1} p
             |    JOIN rk r ON r.lag = p.j) s2),
             |p$k AS MATERIALIZED (
             |  SELECT p.j, round(p.phi - kk$k.pkk * q.phi, 9) AS phi
             |  FROM p${k - 1} p CROSS JOIN kk$k
             |    JOIN p${k - 1} q ON q.j = $k - p.j
             |  UNION ALL SELECT $k AS j, pkk AS phi FROM kk$k)""".stripMargin
        }.mkString(",\n")
        val outs = (2 to 7).map(k =>
          s"""UNION ALL SELECT ${k}::BIGINT,
             |  round(coalesce((SELECT r FROM rk WHERE lag = $k), 0.0), 6),
             |  (SELECT round(pkk, 6) FROM kk$k)""".stripMargin)
          .mkString("\n")
        s"""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
           |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
           |agg AS (SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS sk,
           |    sum(v * v)::BIGINT AS sk2 FROM daily),
           |lagged AS (SELECT l.lag, a.v AS va, b.v AS vb, n, sk, sk2
           |  FROM daily a CROSS JOIN
           |    (SELECT unnest(range(1, 8))::BIGINT AS lag) l
           |  JOIN daily b ON b.t = a.t + l.lag CROSS JOIN agg),
           |rk AS MATERIALIZED (SELECT lag, round(sum(round(
           |    (va::DOUBLE - sk::DOUBLE / n::DOUBLE) *
           |    (vb::DOUBLE - sk::DOUBLE / n::DOUBLE), 9)) /
           |    max(sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE), 9) AS r
           |  FROM lagged GROUP BY lag),
           |p1 AS MATERIALIZED (SELECT 1 AS j,
           |  coalesce((SELECT r FROM rk WHERE lag = 1), 0.0) AS phi),
           |$levels
           |SELECT lag, acf, pacf FROM (
           |  SELECT 1::BIGINT AS lag,
           |    round(coalesce((SELECT r FROM rk WHERE lag = 1), 0.0), 6)
           |      AS acf,
           |    (SELECT round(phi, 6) FROM p1 WHERE j = 1) AS pacf
           |  $outs)
           |ORDER BY lag""".stripMargin
      }),

    // turning points: is the daily series IID-random or locally
    // structured — the cheap screen before permutation methods
    Entry("x322_turning_points", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.turningPoints(daily, "t", "v")
    },
      // exact integer strict-extrema count; closed-form IID moments
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |m AS (SELECT v, lag(v) OVER (ORDER BY t) AS p,
        |    lead(v) OVER (ORDER BY t) AS x FROM daily),
        |g AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN p IS NOT NULL AND x IS NOT NULL AND
        |      ((v > p AND v > x) OR (v < p AND v < x)) THEN 1 ELSE 0
        |      END)::BIGINT AS n_turning FROM m),
        |f AS (SELECT n, n_turning,
        |    2.0::DOUBLE * (n::DOUBLE - 2.0::DOUBLE) / 3.0::DOUBLE AS e,
        |    (16.0::DOUBLE * n::DOUBLE - 29.0::DOUBLE) / 90.0::DOUBLE
        |      AS vt FROM g)
        |SELECT n, n_turning, round(e, 6) AS expected,
        |  round(vt, 6) AS var_t,
        |  round(CASE WHEN n >= 3 THEN
        |    (n_turning::DOUBLE - e) / nullif(sqrt(vt), 0.0) END, 6) AS z
        |FROM f""".stripMargin)),

    // sample entropy: how repeatable the daily shape is as one number
    // — rising SampEn on a metric stream is early chaos
    Entry("x323_sample_entropy", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.sampleEntropy(daily, "t", "v", m = 2,
        rFactor = 0.2)
    },
      // sliding m / m+1 templates; exact Chebyshev maxima vs the one
      // bit-identical 0.2*sd tolerance; exact pair counts
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS n, sum(v) AS sv,
        |    sum(v * v) AS svv FROM daily),
        |tol AS (SELECT n, 0.2::DOUBLE * sqrt((svv - sv * sv / n::DOUBLE)
        |    / (n::DOUBLE - 1.0::DOUBLE)) AS r_tol FROM agg),
        |idx AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT
        |    AS i, t, v FROM daily),
        |s2 AS MATERIALIZED (SELECT i, sub FROM (
        |  SELECT i, list(v) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |    AND 1 FOLLOWING) AS sub FROM idx) WHERE len(sub) = 2),
        |s3 AS MATERIALIZED (SELECT i, sub FROM (
        |  SELECT i, list(v) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |    AND 2 FOLLOWING) AS sub FROM idx) WHERE len(sub) = 3),
        |b AS (SELECT sum(CASE WHEN list_max(list_transform(range(1, 3),
        |      k -> abs(a.sub[k] - c.sub[k]))) <= r_tol THEN 1 ELSE 0
        |      END)::BIGINT AS b_pairs
        |  FROM s2 a JOIN s2 c ON a.i < c.i CROSS JOIN tol),
        |aa AS (SELECT sum(CASE WHEN list_max(list_transform(range(1, 4),
        |      k -> abs(a.sub[k] - c.sub[k]))) <= r_tol THEN 1 ELSE 0
        |      END)::BIGINT AS a_pairs
        |  FROM s3 a JOIN s3 c ON a.i < c.i CROSS JOIN tol)
        |SELECT n, 2::BIGINT AS m, round(r_tol, 6) AS r_tol, b_pairs,
        |  a_pairs,
        |  round(CASE WHEN b_pairs > 0 AND a_pairs > 0 THEN
        |    -ln(a_pairs::DOUBLE / b_pairs::DOUBLE) END, 6) AS sampen
        |FROM tol CROSS JOIN b CROSS JOIN aa""".stripMargin)),

    // Cramér–von Mises two-sample: does the en n_chars DISTRIBUTION
    // (shape, tails — not just location/scale) match the rest
    Entry("x324_cvm", (s, dir) =>
      graft.ops.Stats.cvmTwoSample(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en"),
      // distinct-value collapse; midranks as exact doubled longs; tie
      // groups' Σ(2r−2i)² via closed-form arithmetic series (all BIGINT —
      // the divisions are exact multiples of 2 resp. 6)
      Oracle("""WITH byv AS (SELECT n_chars::DOUBLE AS v,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
        |      AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM documents GROUP BY 1),
        |r AS (SELECT n1v, (t - n1v)::BIGINT AS n2v, t,
        |    (sum(t) OVER wo)::BIGINT AS cum,
        |    (sum(n1v) OVER wo)::BIGINT AS cum1,
        |    (sum(t - n1v) OVER wo)::BIGINT AS cum2
        |  FROM byv WINDOW wo AS (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)),
        |kk AS (SELECT n1v, n2v, cum1, cum2,
        |    (2 * cum - t + 1)::BIGINT AS k FROM r),
        |terms AS (SELECT n1v, n2v,
        |    (n1v * k * k
        |      - 4 * k * (((cum1 - n1v + 1) + cum1) * n1v // 2)
        |      + 4 * (cum1 * (cum1 + 1) * (2 * cum1 + 1) // 6
        |        - (cum1 - n1v) * (cum1 - n1v + 1)
        |          * (2 * (cum1 - n1v + 1) - 1) // 6))::BIGINT AS qa,
        |    (n2v * k * k
        |      - 4 * k * (((cum2 - n2v + 1) + cum2) * n2v // 2)
        |      + 4 * (cum2 * (cum2 + 1) * (2 * cum2 + 1) // 6
        |        - (cum2 - n2v) * (cum2 - n2v + 1)
        |          * (2 * (cum2 - n2v + 1) - 1) // 6))::BIGINT AS qb
        |  FROM kk),
        |g AS (SELECT (SELECT sum(n1v) FROM byv)::BIGINT AS n1,
        |    (SELECT sum(t - n1v) FROM byv)::BIGINT AS n2,
        |    sum(qa)::BIGINT AS sqa, sum(qb)::BIGINT AS sqb FROM terms),
        |u AS (SELECT n1, n2,
        |    (n1 * sqa + n2 * sqb)::DOUBLE / 4.0::DOUBLE AS uu FROM g)
        |SELECT n1, n2, round(uu, 6) AS u,
        |  round(uu / nullif(n1::DOUBLE * n2::DOUBLE *
        |      (n1::DOUBLE + n2::DOUBLE), 0.0) -
        |    (4.0::DOUBLE * n1::DOUBLE * n2::DOUBLE - 1.0::DOUBLE) /
        |      (6.0::DOUBLE * (n1::DOUBLE + n2::DOUBLE)), 6) AS t,
        |  round((1.0::DOUBLE + 1.0::DOUBLE /
        |    (n1::DOUBLE + n2::DOUBLE)) / 6.0::DOUBLE, 6) AS e_t
        |FROM u""".stripMargin)),

    // restricted mean survival time over the x230 churn cohort: average
    // active hours per user within the first 360 h — the area under the
    // KM curve, robust where median/logRank mislead
    Entry("x325_rmst", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val per = ev.groupBy("user_id")
        .agg(F.min(F.unix_timestamp(t)).as("f"),
          F.max(F.unix_timestamp(t)).as("l"))
      val mx = per.agg(F.max("l").as("m"))
      val subj = per.crossJoin(F.broadcast(mx))
        .select(F.col("user_id"),
          F.floor((F.col("l") - F.col("f")) / F.lit(3600.0)).as("dur"),
          F.when(F.col("m") - F.col("l") >= 86400L, 1)
            .otherwise(0).as("ev"))
      graft.ops.Stats.rmst(subj, F.col("dur"), F.col("ev"), tau = 360L)
    },
      // x230's hour-granularity churn subjects -> the x171 KM ladder ->
      // step integral to tau with 9-dp terms
      Oracle("""WITH per AS (SELECT user_id,
        |    min(floor(epoch(ts))::BIGINT) AS f,
        |    max(floor(epoch(ts))::BIGINT) AS l
        |  FROM events GROUP BY user_id),
        |m AS (SELECT max(l) AS m FROM per),
        |subj AS (SELECT (l - f) // 3600 AS dur,
        |    CASE WHEN m - l >= 86400 THEN 1 ELSE 0 END AS ev
        |  FROM per CROSS JOIN m),
        |byt AS (SELECT dur AS t, sum(ev)::BIGINT AS d, count(*) AS lv
        |  FROM subj GROUP BY dur),
        |risk AS (SELECT t, d, sum(lv) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk
        |  FROM byt),
        |death AS (SELECT t, n_risk, d,
        |    CASE WHEN d < n_risk
        |      THEN round(ln(1 - d / CAST(n_risk AS DOUBLE)), 9)
        |      ELSE 0 END AS lnterm,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM risk WHERE d > 0),
        |cum AS (SELECT t, n_risk, d,
        |    max(dead) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dd,
        |    sum(lnterm) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
        |  FROM death),
        |km AS (SELECT t,
        |    CASE WHEN dd = 1 THEN 0.0 ELSE round(exp(sl), 6) END
        |      AS survival
        |  FROM cum),
        |seg AS (SELECT t, survival,
        |    least(coalesce(lead(t) OVER (ORDER BY t), 360), 360)
        |      AS nxt
        |  FROM km),
        |terms AS (SELECT t, round(survival *
        |    greatest(nxt - least(t, 360), 0)::DOUBLE, 9) AS term
        |  FROM seg),
        |hd AS (SELECT count(*)::BIGINT AS n_times,
        |    coalesce(least(min(t), 360), 360)::DOUBLE AS h,
        |    coalesce(sum(term), 0.0::DOUBLE) AS tail FROM terms)
        |SELECT 360::BIGINT AS tau, n_times, round(h + tail, 6) AS rmst
        |FROM hd""".stripMargin)),

    // Geary's C on the x281 supplier co-occurrence graph: local balance
    // CONTRAST across edges, the nearest-neighbour complement of
    // Moran's global clustering readout
    Entry("x326_geary_c", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.gearyC(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst",
        Registrar.table(s, dir, "supplier"),
        "s_suppkey", F.col("s_acctbal"))
    },
      // x281's graph and quantized attributes; edge-difference squares
      // sum as exact longs; one IEEE ratio
      Oracle("""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
        |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e)),
        |nd AS (SELECT s_suppkey AS n, round(s_acctbal * 100)::BIGINT AS x
        |  FROM supplier WHERE s_suppkey IN (SELECT n FROM nodes)),
        |one AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t,
        |    sum(x * x)::BIGINT AS s2 FROM nd),
        |pe AS (SELECT count(*)::BIGINT AS m,
        |    sum((xa.x - xb.x) * (xa.x - xb.x))::BIGINT AS ss
        |  FROM e JOIN nd xa ON xa.n = e.a JOIN nd xb ON xb.n = e.b)
        |SELECT n, m,
        |  round((n::DOUBLE - 1.0::DOUBLE) * ss::DOUBLE /
        |    nullif(2.0::DOUBLE * m::DOUBLE *
        |      (s2::DOUBLE - t::DOUBLE * (t::DOUBLE / n::DOUBLE)),
        |      0.0), 6) AS c,
        |  1.0::DOUBLE AS e_c
        |FROM one CROSS JOIN pe""".stripMargin)),

    // Lepage joint location+scale screen: did zh doc lengths shift OR
    // spread vs the rest — either alone slips past x175 or x297
    Entry("x327_lepage", (s, dir) =>
      graft.ops.Stats.lepage(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "zh"),
      // the x175 and x297 component trees replayed on the zh class, then
      // L from the two 6-dp z's and the closed-form df-2 p
      Oracle("""WITH v AS (SELECT n_chars AS vv,
        |    CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS c1 FROM documents),
        |byv AS (SELECT vv, sum(c1) AS n1g, count(*) AS t FROM v GROUP BY vv),
        |mid AS (SELECT n1g, t,
        |    (sum(t) OVER (ORDER BY vv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS midr
        |  FROM byv),
        |st AS (SELECT sum(n1g)::BIGINT AS n1, sum(t - n1g)::BIGINT AS n2,
        |    sum(n1g * midr) AS r1, sum(t*t*t - t)::DOUBLE AS tie FROM mid),
        |zw AS (SELECT n1, n2,
        |    round(((r1 - n1*(n1+1.0)/2.0) - n1::DOUBLE*n2/2.0) /
        |      sqrt(nullif(n1::DOUBLE*n2/12.0 *
        |        ((n1+n2+1.0) - tie/((n1+n2)::DOUBLE*(n1+n2-1.0))), 0.0)),
        |      6) AS z_w
        |  FROM st),
        |abv AS (SELECT vv::DOUBLE AS v, sum(c1)::BIGINT AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM v GROUP BY 1),
        |abtot AS (SELECT sum(t)::BIGINT AS nn, sum(n1v)::BIGINT AS none1
        |  FROM abv),
        |abr AS (SELECT n1v, t, nn, none1, (nn + 1)::BIGINT AS m,
        |    ((nn + 1) // 2)::BIGINT AS c,
        |    sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)::BIGINT AS cum
        |  FROM abv CROSS JOIN abtot),
        |absk AS (SELECT n1v, t, nn, none1,
        |    CASE WHEN cum <= 0 THEN 0.0
        |      WHEN cum <= c THEN cum * (cum + 1) / 2
        |      ELSE c * (c + 1) / 2 + (cum - c) * m -
        |        (cum * (cum + 1) / 2 - c * (c + 1) / 2) END -
        |    CASE WHEN (cum - t) <= 0 THEN 0.0
        |      WHEN (cum - t) <= c THEN (cum - t) * (cum - t + 1) / 2
        |      ELSE c * (c + 1) / 2 + ((cum - t) - c) * m -
        |        ((cum - t) * (cum - t + 1) / 2 - c * (c + 1) / 2) END
        |      AS rs
        |  FROM abr),
        |abg AS (SELECT max(nn)::BIGINT AS nn,
        |    max(none1)::BIGINT AS bn1,
        |    (max(nn) - max(none1))::BIGINT AS bn2,
        |    sum(n1v::DOUBLE * (rs / t::DOUBLE)) AS ab, sum(rs) AS sa,
        |    sum(t::DOUBLE * (rs / t::DOUBLE) * (rs / t::DOUBLE)) AS sa2
        |  FROM absk),
        |zab AS (SELECT round((ab - bn1::DOUBLE * (sa / nn::DOUBLE)) /
        |    sqrt(nullif(bn1::DOUBLE * bn2::DOUBLE *
        |      (sa2 - nn::DOUBLE * (sa / nn::DOUBLE) *
        |        (sa / nn::DOUBLE)) /
        |      (nn::DOUBLE * (nn::DOUBLE - 1.0::DOUBLE)), 0.0)), 6)
        |    AS z_ab
        |  FROM abg)
        |SELECT n1, n2, z_w, z_ab,
        |  round(z_w * z_w + z_ab * z_ab, 6) AS l,
        |  round(exp(-(z_w * z_w + z_ab * z_ab) / 2.0::DOUBLE), 9) AS p
        |FROM zw CROSS JOIN zab""".stripMargin)),

    // Brunner-Munzel stochastic superiority for de lengths vs the
    // rest — the variance-free reading x175's equal-spread U assumes
    Entry("x328_brunner_munzel", (s, dir) =>
      graft.ops.Stats.brunnerMunzel(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "de"),
      // doubled overall/within midranks as exact longs; variances of
      // R - R^(k) from exact sums; three IEEE ratios
      Oracle("""WITH byv AS (SELECT n_chars::DOUBLE AS v,
        |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::BIGINT AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM documents GROUP BY 1),
        |r AS (SELECT n1v, (t - n1v)::BIGINT AS n2v, t,
        |    (sum(t) OVER wo)::BIGINT AS cum,
        |    (sum(n1v) OVER wo)::BIGINT AS cuma,
        |    (sum(t - n1v) OVER wo)::BIGINT AS cumb
        |  FROM byv WINDOW wo AS (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)),
        |kk AS (SELECT n1v, n2v,
        |    (2 * cum - t + 1)::BIGINT AS k,
        |    (2 * cuma - n1v + 1)::BIGINT AS k1,
        |    (2 * cumb - n2v + 1)::BIGINT AS k2
        |  FROM r),
        |g AS (SELECT sum(n1v)::BIGINT AS n1, sum(n2v)::BIGINT AS n2,
        |    sum(n1v * k)::BIGINT AS r1, sum(n2v * k)::BIGINT AS r2,
        |    sum(n1v * (k - k1))::BIGINT AS sa,
        |    sum(n1v * (k - k1) * (k - k1))::BIGINT AS qa,
        |    sum(n2v * (k - k2))::BIGINT AS sb,
        |    sum(n2v * (k - k2) * (k - k2))::BIGINT AS qb
        |  FROM kk),
        |f AS (SELECT n1, n2,
        |    r1::DOUBLE / (2.0::DOUBLE * n1::DOUBLE) AS m1,
        |    r2::DOUBLE / (2.0::DOUBLE * n2::DOUBLE) AS m2,
        |    (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / n1::DOUBLE) /
        |      (4.0::DOUBLE * nullif(n1::DOUBLE - 1.0::DOUBLE, 0.0))
        |      AS v1,
        |    (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / n2::DOUBLE) /
        |      (4.0::DOUBLE * nullif(n2::DOUBLE - 1.0::DOUBLE, 0.0))
        |      AS v2
        |  FROM g)
        |SELECT n1, n2,
        |  round((m2 - (n2::DOUBLE + 1.0::DOUBLE) / 2.0::DOUBLE) /
        |    nullif(n1::DOUBLE, 0.0), 6) AS p_hat,
        |  round(n1::DOUBLE * n2::DOUBLE * (m2 - m1) /
        |    ((n1::DOUBLE + n2::DOUBLE) *
        |      sqrt(nullif(n1::DOUBLE * v1 + n2::DOUBLE * v2, 0.0))),
        |    6) AS w,
        |  round((n1::DOUBLE * v1 + n2::DOUBLE * v2) *
        |      (n1::DOUBLE * v1 + n2::DOUBLE * v2) /
        |    nullif(n1::DOUBLE * v1 * n1::DOUBLE * v1 /
        |        nullif(n1::DOUBLE - 1.0::DOUBLE, 0.0) +
        |      n2::DOUBLE * v2 * n2::DOUBLE * v2 /
        |        nullif(n2::DOUBLE - 1.0::DOUBLE, 0.0), 0.0), 6) AS df
        |FROM f""".stripMargin)),

    // spectral entropy of the x305 daily-count periodogram: one-number
    // cycle-vs-noise verdict on the event series
    Entry("x329_spectral_entropy", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.spectralEntropy(daily, "t", "v", maxK = 30)
    },
      // the x305 periodogram tree, then shares of the 6-dp powers and
      // 9-dp q ln q terms
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS tn, sum(v) AS sv FROM daily),
        |idx AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT
        |    AS i, v - sv / tn::DOUBLE AS c, tn
        |  FROM daily CROSS JOIN tot),
        |terms AS (SELECT k, tn,
        |    round(c * cos(6.283185307179586 *
        |      ((k * i) % tn)::DOUBLE / tn::DOUBLE), 9) AS ct,
        |    round(c * sin(6.283185307179586 *
        |      ((k * i) % tn)::DOUBLE / tn::DOUBLE), 9) AS st
        |  FROM idx CROSS JOIN (SELECT unnest(range(1, 31))::BIGINT AS k)
        |  WHERE k <= tn // 2),
        |byk AS (SELECT k, sum(ct) AS sc, sum(st) AS ss
        |  FROM terms GROUP BY k),
        |p AS (SELECT k, round(sc * sc + ss * ss, 6) AS power FROM byk),
        |ptot AS (SELECT count(*)::BIGINT AS k_bins, sum(power) AS sp
        |  FROM p),
        |et AS (SELECT round(power / sp * ln(power / sp), 9) AS term
        |  FROM p CROSS JOIN ptot WHERE power > 0.0),
        |g AS (SELECT sum(term) AS sterm FROM et)
        |SELECT k_bins, round(-sterm, 6) AS h,
        |  round(-sterm / nullif(ln(k_bins::DOUBLE), 0.0), 6) AS h_norm
        |FROM ptot CROSS JOIN g""".stripMargin)),

    // which supplier pair co-occurs NEXT: CN/Jaccard/Adamic-Adar/RA
    // over non-adjacent pairs of the x300 co-occurrence graph
    Entry("x330_link_prediction", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.linkPrediction(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst", topN = 20)
    },
      // x326's graph; wedge join through the shared neighbor, 9-dp AA/RA
      // terms, anti-join against existing edges, total-order top-20
      Oracle("""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
        |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
        |adj AS (SELECT a AS z, b AS n FROM e
        |  UNION ALL SELECT b AS z, a AS n FROM e),
        |deg AS (SELECT z AS node, count(*)::BIGINT AS dg FROM adj
        |  GROUP BY 1),
        |wed AS (SELECT x.n AS u, y.n AS v, d.dg AS dz
        |  FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n
        |  JOIN deg d ON d.node = x.z),
        |sc AS (SELECT u, v, count(*)::BIGINT AS cn,
        |    sum(round(1.0::DOUBLE / ln(dz::DOUBLE), 9)) AS aa9,
        |    sum(round(1.0::DOUBLE / dz::DOUBLE, 9)) AS ra9
        |  FROM wed GROUP BY 1, 2),
        |ne AS (SELECT sc.* FROM sc LEFT JOIN e
        |  ON e.a = sc.u AND e.b = sc.v WHERE e.a IS NULL)
        |SELECT ne.u, ne.v, ne.cn,
        |  round(ne.cn::DOUBLE /
        |    (du.dg + dv.dg - ne.cn)::DOUBLE, 6) AS jaccard,
        |  round(ne.aa9, 6) AS aa, round(ne.ra9, 6) AS ra
        |FROM ne JOIN deg du ON du.node = ne.u
        |JOIN deg dv ON dv.node = ne.v
        |ORDER BY aa DESC, u, v LIMIT 20""".stripMargin)),

    // do high-degree suppliers form their own club: density of the
    // deg>k induced subgraph across the k ladder
    Entry("x331_rich_club", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.richClub(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst", kMax = 10)
    },
      // two bounded histograms (node degree, edge min-degree) joined to
      // the k grid; exact-long counts, one IEEE density per k
      Oracle("""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
        |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
        |deg AS (SELECT n, count(*)::BIGINT AS dg FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |dh AS (SELECT dg, count(*)::BIGINT AS cnode FROM deg GROUP BY 1),
        |em AS (SELECT least(da.dg, db.dg) AS md FROM e
        |  JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |eh AS (SELECT md, count(*)::BIGINT AS cedge FROM em GROUP BY 1),
        |grid AS (SELECT unnest(range(1, 11))::BIGINT AS k),
        |nk AS (SELECT k, coalesce(sum(cnode), 0)::BIGINT AS n_k
        |  FROM grid LEFT JOIN dh ON dh.dg > grid.k GROUP BY k),
        |ek AS (SELECT k, coalesce(sum(cedge), 0)::BIGINT AS e_k
        |  FROM grid LEFT JOIN eh ON eh.md > grid.k GROUP BY k)
        |SELECT nk.k, n_k, e_k,
        |  round(2.0::DOUBLE * e_k::DOUBLE /
        |    nullif((n_k * (n_k - 1))::DOUBLE, 0.0), 6) AS phi
        |FROM nk JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin)),

    // KPSS level-stationarity of daily event volume: is the level
    // stable (eta small) or wandering — the reversed-null companion of
    // x284's trend test
    Entry("x332_kpss", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.kpssLevel(daily, "t", "v", scale = 1L)
    },
      // n-scaled demeaning makes E_t and its prefix sums exact longs;
      // eta is the single IEEE division of two exact-long rollups
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
        |  FROM daily),
        |ee AS (SELECT t, (n * y - sy)::BIGINT AS e, n
        |  FROM daily CROSS JOIN tot),
        |sp AS (SELECT n, e, (sum(e) OVER (ORDER BY t ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS s FROM ee),
        |g AS (SELECT max(n)::BIGINT AS n, sum(s * s)::BIGINT AS ss2,
        |    sum(e * e)::BIGINT AS se2 FROM sp)
        |SELECT n,
        |  round(ss2::DOUBLE / nullif((n * se2)::DOUBLE, 0.0), 6) AS eta,
        |  0.463::DOUBLE AS crit_5pct,
        |  (ss2::DOUBLE / nullif((n * se2)::DOUBLE, 0.0)) > 0.463
        |    AS reject
        |FROM g""".stripMargin)),

    // Theil's U2 for the weekly-seasonal forecast vs lag-1 persistence
    // on daily volume — does x193's snaive earn its keep under SQUARED
    // loss
    Entry("x333_theils_u", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.theilsU2(daily, "t", "v", season = 7)
    },
      // two lag windows on the daily grid; integer-difference squares are
      // exact doubles; one IEEE ratio + sqrt
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |l AS (SELECT v, lag(v, 7) OVER (ORDER BY t) AS fm,
        |    lag(v, 1) OVER (ORDER BY t) AS f1 FROM daily),
        |s AS (SELECT count(*)::BIGINT AS n_scored,
        |    sum((v - fm) * (v - fm)) AS sm,
        |    sum((v - f1) * (v - f1)) AS s1
        |  FROM l WHERE fm IS NOT NULL AND f1 IS NOT NULL)
        |SELECT n_scored, round(sm, 6) AS sse_model,
        |  round(s1, 6) AS sse_naive,
        |  round(sqrt(sm / nullif(s1, 0.0)), 6) AS u2
        |FROM s""".stripMargin)),

    // Hurst exponent of hourly event volume: do busy hours cluster
    // (H>0.5) or mean-revert — the long-memory readout over the x112
    // hourly grid
    Entry("x334_hurst", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(t) / 3600).cast("long").as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.hurstRS(hourly, "t", "v",
        sizes = Seq(8, 16, 32, 64, 128))
    },
      // hourly grid indexed once; per-(size, block) n-scaled exact-long
      // prefix ladders; 9-dp R/S ratios; ln-ln OLS over the size points
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |idx AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT
        |    AS i, y FROM hourly),
        |ex AS (SELECT i, y, sz FROM idx CROSS JOIN
        |  (SELECT unnest([8, 16, 32, 64, 128])::BIGINT AS sz)),
        |bl AS (SELECT sz, (i // sz)::BIGINT AS blk, i % sz AS pos, y
        |  FROM ex),
        |bs AS (SELECT sz, blk, count(*)::BIGINT AS n,
        |    sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS sy2
        |  FROM bl GROUP BY 1, 2),
        |fb AS (SELECT * FROM bs WHERE n = sz),
        |pr AS (SELECT bl.sz, bl.blk,
        |    (bl.sz * (sum(bl.y) OVER (PARTITION BY bl.sz, bl.blk
        |      ORDER BY bl.pos ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW)) - (bl.pos + 1) * fb.sy)::BIGINT AS p
        |  FROM bl JOIN fb ON fb.sz = bl.sz AND fb.blk = bl.blk),
        |rng AS (SELECT sz, blk, max(p)::BIGINT AS mx,
        |    min(p)::BIGINT AS mn FROM pr GROUP BY 1, 2),
        |rsv AS (SELECT r.sz, round(((r.mx - r.mn)::DOUBLE / fb.n::DOUBLE)
        |    / nullif(sqrt((fb.sy2::DOUBLE - fb.sy::DOUBLE *
        |      (fb.sy::DOUBLE / fb.n::DOUBLE)) / fb.n::DOUBLE), 0.0), 9)
        |    AS rv
        |  FROM rng r JOIN fb ON fb.sz = r.sz AND fb.blk = r.blk),
        |bysz AS (SELECT sz AS size, count(rv)::BIGINT AS n_blocks,
        |    round(avg(rv), 6) AS rs FROM rsv GROUP BY 1),
        |pts AS (SELECT round(ln(size::DOUBLE), 9) AS x,
        |    round(ln(rs), 9) AS yl FROM bysz WHERE rs > 0.0),
        |p2 AS (SELECT x, yl, round(x * yl, 9) AS xy,
        |    round(x * x, 9) AS x2 FROM pts),
        |reg AS (SELECT count(*)::BIGINT AS n_sizes, sum(x) AS sx,
        |    sum(yl) AS syy, sum(xy) AS sxy, sum(x2) AS sx2 FROM p2),
        |h AS (SELECT n_sizes, CASE WHEN n_sizes >= 2 THEN
        |    round((n_sizes::DOUBLE * sxy - sx * syy) /
        |      nullif(n_sizes::DOUBLE * sx2 - sx * sx, 0.0), 6) END
        |    AS hurst FROM reg)
        |SELECT size, n_blocks, rs, n_sizes, hurst
        |FROM bysz CROSS JOIN h ORDER BY size""".stripMargin)),

    // upper-tail dependence between per-user activity and spend: do
    // the monsters arrive together — what x116's bulk correlation hides
    Entry("x377_tail_dependence", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val perUser = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").as("activity"),
        F.sum(F.round(F.col("value") * 100).cast("long")).as("spend_c"))
      graft.ops.Stats.tailDependence(perUser, F.col("activity"),
        F.col("spend_c"), q = 0.9)
    },
      // per-user exact (count, cent-sum); exact integer quantile cuts
      // via -floor(-q*n); one IEEE co-exceedance ratio
      Oracle("""WITH pu AS (SELECT user_id, count(*)::BIGINT AS x,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |s AS (SELECT x, y FROM pu),
        |xn AS (SELECT count(*)::BIGINT AS n FROM s),
        |xc AS (SELECT min(v) AS xcut FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW))::BIGINT AS cum, n FROM (
        |    SELECT x AS v, count(*)::BIGINT AS t FROM s GROUP BY 1)
        |    CROSS JOIN xn)
        |  WHERE cum >= -floor(-0.9::DOUBLE * n::DOUBLE)),
        |yc AS (SELECT min(v) AS ycut FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW))::BIGINT AS cum, n FROM (
        |    SELECT y AS v, count(*)::BIGINT AS t FROM s GROUP BY 1)
        |    CROSS JOIN xn)
        |  WHERE cum >= -floor(-0.9::DOUBLE * n::DOUBLE)),
        |g AS (SELECT count(*)::BIGINT AS n, max(xcut)::BIGINT AS cx,
        |    max(ycut)::BIGINT AS cy,
        |    sum(CASE WHEN x > xcut AND y > ycut THEN 1 ELSE 0
        |      END)::BIGINT AS n_joint
        |  FROM s CROSS JOIN xc CROSS JOIN yc)
        |SELECT n, round(cx::DOUBLE / 1.0::DOUBLE, 6) AS x_cut,
        |  round(cy::DOUBLE / 1.0::DOUBLE, 6) AS y_cut, n_joint,
        |  round(n_joint::DOUBLE / (n::DOUBLE *
        |    (1.0::DOUBLE - 0.9::DOUBLE)), 6) AS lambda_u
        |FROM g""".stripMargin)),

    // paired t on per-user first-half vs second-half activity: each
    // user its own control — the within-subject power x117 wastes
    Entry("x378_paired_t", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val d = F.to_date(graft.ops.EventOps.tsStamp(ev))
      val withD = ev.select(F.col("user_id"), d.as("__d"))
      val mn = withD.agg(F.min("__d").as("__m"))
      val perUser = withD.crossJoin(F.broadcast(mn))
        .groupBy("user_id").agg(
          F.sum(F.when(F.col("__d") < F.date_add(F.col("__m"), 15), 1L)
            .otherwise(0L)).as("a"),
          F.sum(F.when(F.col("__d") >= F.date_add(F.col("__m"), 15), 1L)
            .otherwise(0L)).as("b"))
      graft.ops.Stats.pairedT(perUser, F.col("a"), F.col("b"))
    },
      // per-user window split at min+15d; exact difference sufficient
      // stats; two IEEE divisions
      Oracle("""WITH mn AS (SELECT min(ts::DATE) AS m FROM events),
        |pu AS (SELECT user_id,
        |    sum(CASE WHEN ts::DATE < m + 15 THEN 1 ELSE 0
        |      END)::BIGINT AS a,
        |    sum(CASE WHEN ts::DATE >= m + 15 THEN 1 ELSE 0
        |      END)::BIGINT AS b
        |  FROM events CROSS JOIN mn GROUP BY 1),
        |d AS (SELECT (a - b)::BIGINT AS d FROM pu),
        |g AS (SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS s,
        |    sum(d * d)::BIGINT AS q FROM d),
        |f AS (SELECT n,
        |    s::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS mean,
        |    sqrt((q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      (nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE)) AS sd
        |  FROM g)
        |SELECT n, round(mean, 6) AS mean_diff, round(sd, 6) AS sd_diff,
        |  round(mean / nullif(sd / sqrt(n::DOUBLE), 0.0), 6) AS t,
        |  (n - 1)::BIGINT AS df
        |FROM f""".stripMargin)),

    // Hodges-Lehmann shift of doc length, non-en vs en: the robust
    // "how much longer" in chars — the location companion of x328's
    // stochastic-superiority p-hat
    Entry("x379_hodges_lehmann", (s, dir) =>
      graft.ops.Stats.hodgesLehmannShift(
        Registrar.table(s, dir, "documents"), F.col("n_chars"),
        F.col("lang") === "en"),
      // value-collapsed pair join; exact weighted lower/upper medians by
      // cumulative counts; one final half-sum / scale
      Oracle("""WITH byv AS (SELECT round(n_chars::DOUBLE * 1)::BIGINT AS v,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM documents GROUP BY 1),
        |b2 AS (SELECT v, n1v, (t - n1v)::BIGINT AS n2v FROM byv),
        |aa AS (SELECT v AS va, n1v AS ca FROM b2 WHERE n1v > 0),
        |bb AS (SELECT v AS vb, n2v AS cb FROM b2 WHERE n2v > 0),
        |diffs AS (SELECT (vb - va)::BIGINT AS d,
        |    sum(ca * cb)::BIGINT AS w FROM aa CROSS JOIN bb GROUP BY 1),
        |tot AS (SELECT sum(n1v)::BIGINT AS n1, sum(n2v)::BIGINT AS n2,
        |    (sum(n1v) * sum(n2v))::BIGINT AS n_pairs FROM b2),
        |lad AS (SELECT d, (sum(w) OVER (ORDER BY d ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |  FROM diffs),
        |med AS (SELECT
        |    min(CASE WHEN cum >= (n_pairs + 1) // 2 THEN d END)::BIGINT
        |      AS lo,
        |    min(CASE WHEN cum >= n_pairs // 2 + 1 THEN d END)::BIGINT
        |      AS hi,
        |    max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2,
        |    max(n_pairs)::BIGINT AS n_pairs
        |  FROM lad CROSS JOIN tot)
        |SELECT n1, n2, n_pairs, round((lo::DOUBLE + hi::DOUBLE) /
        |  (2.0::DOUBLE * 1.0::DOUBLE), 6) AS hl_shift FROM med""".stripMargin)),

    // Cuzick trend of order value across the priority ladder (1-URGENT
    // … 5-LOW): does spend CLIMB with urgency — the ordered question
    // x234's unordered Kruskal-Wallis can't ask
    Entry("x380_cuzick_trend", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      graft.ops.Stats.cuzickTrend(o, F.col("o_totalprice"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long"))
    },
      // doubled midranks off the value ladder; exact T/E/variance
      // ingredients; tie-corrected z is the only IEEE arithmetic
      Oracle("""WITH rows_ AS (SELECT o_totalprice::DOUBLE AS v,
        |    substring(o_orderpriority, 1, 1)::BIGINT AS l
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |byv AS (SELECT v, count(*)::BIGINT AS t, sum(l)::BIGINT AS sl,
        |    sum(l * l)::BIGINT AS sl2v
        |  FROM rows_ GROUP BY 1),
        |lad AS (SELECT t, sl, sl2v, (sum(t) OVER (ORDER BY v ROWS
        |    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |  FROM byv),
        |g AS (SELECT sum(t)::BIGINT AS n,
        |    sum((2 * cum - t + 1) * sl)::BIGINT AS t2,
        |    sum(sl)::BIGINT AS slt, sum(sl2v)::BIGINT AS sl2,
        |    sum(t * t * t - t)::BIGINT AS ties FROM lad),
        |f AS (SELECT n, t2, slt,
        |    (n::DOUBLE + 1.0::DOUBLE) / 12.0::DOUBLE *
        |      (n::DOUBLE * sl2::DOUBLE - slt::DOUBLE * slt::DOUBLE) *
        |      (1.0::DOUBLE - ties::DOUBLE /
        |        nullif(n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE,
        |          0.0)) AS vt
        |  FROM g)
        |SELECT n, t2::DOUBLE / 2.0::DOUBLE AS t,
        |  (n::DOUBLE + 1.0::DOUBLE) * slt::DOUBLE / 2.0::DOUBLE AS e_t,
        |  round(vt, 6) AS var_t,
        |  round((t2::DOUBLE - (n::DOUBLE + 1.0::DOUBLE) * slt::DOUBLE) /
        |    (2.0::DOUBLE * sqrt(nullif(vt, 0.0))), 6) AS z
        |FROM f""".stripMargin)),

    // Mood's median test of account balance across market segments:
    // the assumption-free k-group location check next to the rank
    // tests — immune to the balance tail
    Entry("x381_mood_median", (s, dir) =>
      graft.ops.Stats.moodMedian(
        Registrar.table(s, dir, "customer"), F.col("c_acctbal"),
        F.col("c_mktsegment"), scale = 100L),
      // exact grand lower median off the cent ladder; 2xK exact cells;
      // 9-dp per-group chi-square terms
      Oracle("""WITH rows_ AS (SELECT round(c_acctbal::DOUBLE * 100)::BIGINT
        |      AS v, c_mktsegment AS g
        |  FROM customer
        |  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
        |byv AS (SELECT v, count(*)::BIGINT AS t FROM rows_ GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn FROM byv),
        |med AS (SELECT min(v)::BIGINT AS med FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW))::BIGINT AS cum, nn
        |  FROM byv CROSS JOIN tot) WHERE cum >= (nn + 1) // 2),
        |cells AS (SELECT g,
        |    sum(CASE WHEN v > med THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN v <= med THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM rows_ CROSS JOIN med GROUP BY 1),
        |m AS (SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb,
        |    count(*)::BIGINT AS k_groups FROM cells),
        |terms AS (SELECT (ta + tb)::BIGINT AS n, k_groups,
        |    round(
        |      (a::DOUBLE - ta::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE)) *
        |      (a::DOUBLE - ta::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE)) /
        |      nullif(ta::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE), 0.0) +
        |      (b::DOUBLE - tb::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE)) *
        |      (b::DOUBLE - tb::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE)) /
        |      nullif(tb::DOUBLE * ((a + b)::DOUBLE /
        |        (ta + tb)::DOUBLE), 0.0), 9) AS term
        |  FROM cells CROSS JOIN m)
        |SELECT max(n)::BIGINT AS n, max(k_groups)::BIGINT AS k_groups,
        |  round(max(med)::DOUBLE / 100.0::DOUBLE, 6) AS median,
        |  round(sum(term), 6) AS chi2,
        |  (max(k_groups) - 1)::BIGINT AS df
        |FROM terms CROSS JOIN med""".stripMargin)),

    // Lin's CCC between per-user first/second-half activity: does the
    // second half AGREE with the first on the 45-degree line —
    // precision x accuracy, where x378 only tests the mean shift
    Entry("x385_lin_ccc", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val d = F.to_date(graft.ops.EventOps.tsStamp(ev))
      val withD = ev.select(F.col("user_id"), d.as("__d"))
      val mn = withD.agg(F.min("__d").as("__m"))
      val perUser = withD.crossJoin(F.broadcast(mn))
        .groupBy("user_id").agg(
          F.sum(F.when(F.col("__d") < F.date_add(F.col("__m"), 15), 1L)
            .otherwise(0L)).as("a"),
          F.sum(F.when(F.col("__d") >= F.date_add(F.col("__m"), 15), 1L)
            .otherwise(0L)).as("b"))
      graft.ops.Stats.linCcc(perUser, F.col("a"), F.col("b"))
    },
      // x378's per-user split; six exact sufficient statistics; the
      // same IEEE moment tree on both engines
      Oracle("""WITH mn AS (SELECT min(ts::DATE) AS m FROM events),
        |pu AS (SELECT user_id,
        |    sum(CASE WHEN ts::DATE < m + 15 THEN 1 ELSE 0
        |      END)::BIGINT AS x,
        |    sum(CASE WHEN ts::DATE >= m + 15 THEN 1 ELSE 0
        |      END)::BIGINT AS y
        |  FROM events CROSS JOIN mn GROUP BY 1),
        |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
        |    sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy
        |  FROM pu),
        |f AS (SELECT n,
        |    sx::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS mx,
        |    sy::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS my,
        |    (sxx::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE) *
        |      (sx::DOUBLE / n::DOUBLE)) / (1.0::DOUBLE * 1.0::DOUBLE)
        |      AS vx,
        |    (syy::DOUBLE / n::DOUBLE - (sy::DOUBLE / n::DOUBLE) *
        |      (sy::DOUBLE / n::DOUBLE)) / (1.0::DOUBLE * 1.0::DOUBLE)
        |      AS vy,
        |    (sxy::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE) *
        |      (sy::DOUBLE / n::DOUBLE)) / (1.0::DOUBLE * 1.0::DOUBLE)
        |      AS cxy
        |  FROM g),
        |h AS (SELECT n, mx, my,
        |    cxy / nullif(sqrt(vx * vy), 0.0) AS r,
        |    2.0::DOUBLE * cxy /
        |      nullif(vx + vy + (mx - my) * (mx - my), 0.0) AS ccc
        |  FROM f)
        |SELECT n, round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
        |  round(r, 6) AS r, round(ccc, 6) AS ccc,
        |  round(ccc / nullif(r, 0.0), 6) AS c_b FROM h""".stripMargin)),

    // Bland-Altman limits between per-user first/second-half spend:
    // how far apart the two halves can be for ONE user, in cents —
    // the interval read next to x385's coefficient
    Entry("x386_bland_altman", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val d = F.to_date(graft.ops.EventOps.tsStamp(ev))
      val base = ev.select(F.col("user_id"), d.as("__d"),
        F.round(F.col("value") * 100).cast("long").as("__c"))
      val mn = base.agg(F.min("__d").as("__m"))
      val perUser = base.crossJoin(F.broadcast(mn))
        .groupBy("user_id").agg(
          F.coalesce(F.sum(F.when(
            F.col("__d") < F.date_add(F.col("__m"), 15),
            F.col("__c"))), F.lit(0L)).as("a"),
          F.coalesce(F.sum(F.when(
            F.col("__d") >= F.date_add(F.col("__m"), 15),
            F.col("__c"))), F.lit(0L)).as("b"))
      graft.ops.Stats.blandAltman(perUser, F.col("a"), F.col("b"))
    },
      // exact cent-sum halves per user; exact (n, Σd, Σd²); ONE 1.96
      // literal; census against the broadcast IEEE bounds
      Oracle("""WITH mn AS (SELECT min(ts::DATE) AS m FROM events),
        |pu AS (SELECT user_id,
        |    coalesce(sum(CASE WHEN ts::DATE < m + 15 THEN
        |      round(value * 100)::BIGINT END), 0)::BIGINT AS x,
        |    coalesce(sum(CASE WHEN ts::DATE >= m + 15 THEN
        |      round(value * 100)::BIGINT END), 0)::BIGINT AS y
        |  FROM events CROSS JOIN mn GROUP BY 1),
        |byd AS (SELECT (x - y)::BIGINT AS d, count(*)::BIGINT AS t
        |  FROM pu GROUP BY 1),
        |g AS (SELECT sum(t)::BIGINT AS n, sum(d * t)::BIGINT AS s,
        |    sum(d * d * t)::BIGINT AS q FROM byd),
        |st AS (SELECT n,
        |    s::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS bias,
        |    sqrt((q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      nullif(n::DOUBLE - 1.0::DOUBLE, 0.0)) / 1.0::DOUBLE
        |      AS sd
        |  FROM g),
        |b AS (SELECT n, bias, sd,
        |    bias - 1.96::DOUBLE * sd AS lo,
        |    bias + 1.96::DOUBLE * sd AS hi FROM st),
        |win AS (SELECT max(b.n)::BIGINT AS n, max(bias) AS bias,
        |    max(sd) AS sd, max(lo) AS lo, max(hi) AS hi,
        |    sum(CASE WHEN d::DOUBLE / 1.0::DOUBLE >= lo AND
        |      d::DOUBLE / 1.0::DOUBLE <= hi THEN t ELSE 0
        |      END)::BIGINT AS w
        |  FROM byd CROSS JOIN b)
        |SELECT n, round(bias, 6) AS bias, round(sd, 6) AS sd_d,
        |  round(lo, 6) AS loa_lo, round(hi, 6) AS loa_hi,
        |  round(w::DOUBLE / n::DOUBLE, 6) AS p_within
        |FROM win""".stripMargin)),

    // relative risk of order failure for urgent orders: "times more
    // likely", the absolute-risk read x204's odds ratio exaggerates
    // when the outcome is common
    Entry("x387_relative_risk", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      graft.ops.Stats.relativeRisk(o,
        F.substring(F.col("o_orderpriority"), 1, 1) === "1",
        F.col("o_orderstatus") === "F")
    },
      // four exact cells; 9-dp ln RR and SE; exp on identical quantized
      // arguments both engines
      Oracle("""WITH cells AS (SELECT
        |    sum(CASE WHEN substring(o_orderpriority, 1, 1) = '1' AND
        |      o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN substring(o_orderpriority, 1, 1) = '1' AND
        |      o_orderstatus <> 'F' THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN substring(o_orderpriority, 1, 1) <> '1' AND
        |      o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN substring(o_orderpriority, 1, 1) <> '1' AND
        |      o_orderstatus <> 'F' THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM orders),
        |f AS (SELECT a, b, c, d,
        |    (a::DOUBLE / (a::DOUBLE + b::DOUBLE)) /
        |      nullif(c::DOUBLE / (c::DOUBLE + d::DOUBLE), 0.0) AS rr
        |  FROM cells),
        |h AS (SELECT a, b, c, d, rr,
        |    round(ln(nullif(rr, 0.0)), 9) AS lnrr,
        |    round(sqrt(1.0::DOUBLE / nullif(a::DOUBLE, 0.0) -
        |      1.0::DOUBLE / (a::DOUBLE + b::DOUBLE) +
        |      1.0::DOUBLE / nullif(c::DOUBLE, 0.0) -
        |      1.0::DOUBLE / (c::DOUBLE + d::DOUBLE)), 9) AS se
        |  FROM f)
        |SELECT a, b, c, d, round(rr, 6) AS rr,
        |  round(exp(lnrr - 1.96::DOUBLE * se), 6) AS ci_lo,
        |  round(exp(lnrr + 1.96::DOUBLE * se), 6) AS ci_hi
        |FROM h""".stripMargin)),

    // Pettitt change-point on daily volume: did the level shift, and
    // WHEN — the located break x332's KPSS only smells
    Entry("x388_pettitt", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.pettittTest(daily, "t", "v")
    },
      // doubled midranks off the value ladder; exact-long U_t ladder;
      // integer argmax; exp-approximation p on exact arguments
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |byv AS (SELECT y, count(*)::BIGINT AS tc FROM daily GROUP BY 1),
        |kv AS (SELECT y, (2 * (sum(tc) OVER (ORDER BY y ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW)) - tc + 1)::BIGINT
        |      AS k FROM byv),
        |tot AS (SELECT count(*)::BIGINT AS n FROM daily),
        |u AS (SELECT d.t,
        |    (sum(k) OVER (ORDER BY d.t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS ck,
        |    row_number() OVER (ORDER BY d.t)::BIGINT AS i, n
        |  FROM daily d JOIN kv ON kv.y = d.y CROSS JOIN tot),
        |uu AS (SELECT t, i, n, (ck - i * (n + 1))::BIGINT AS u
        |  FROM u WHERE i < n),
        |best AS (SELECT n, abs(u)::BIGINT AS k, t, u,
        |    row_number() OVER (ORDER BY abs(u) DESC, i) AS rk FROM uu)
        |SELECT n, k, t AS t_loc, u AS u_at,
        |  round(2.0::DOUBLE * exp(-6.0::DOUBLE * k::DOUBLE * k::DOUBLE /
        |    (n::DOUBLE * n::DOUBLE * n::DOUBLE + n::DOUBLE * n::DOUBLE)),
        |    6) AS p_approx
        |FROM best WHERE rk = 1""".stripMargin)),

    // Buishand range on daily spend: total cumulative drift of the
    // revenue level — the CUSUM grade next to x388's located break
    Entry("x389_buishand", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
          .cast("double").as("v"))
      graft.ops.Stats.buishandRange(daily, "t", "v")
    },
      // kpss n-scaled exact prefix ladder; range over (min 0, max 0)
      // anchored partial sums; two IEEE chains
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, sum(round(value * 100)::BIGINT)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
        |  FROM daily),
        |ee AS (SELECT t, (n * y - sy)::BIGINT AS e, n
        |  FROM daily CROSS JOIN tot),
        |sp AS (SELECT n, e, (sum(e) OVER (ORDER BY t ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS s FROM ee),
        |g AS (SELECT max(n)::BIGINT AS n,
        |    greatest(max(s), 0)::BIGINT AS mx,
        |    least(min(s), 0)::BIGINT AS mn,
        |    sum(e * e)::BIGINT AS se2 FROM sp)
        |SELECT n,
        |  round((mx - mn)::DOUBLE * sqrt(n::DOUBLE) /
        |    nullif(sqrt(se2::DOUBLE), 0.0), 6) AS r,
        |  round((mx - mn)::DOUBLE /
        |    nullif(sqrt(se2::DOUBLE), 0.0), 6) AS r_over_sqrt_n
        |FROM g""".stripMargin)),

    // SNHT on hourly volume: the parametric break detector that stays
    // sharp near the series ends where x388's ranks run out of pairs
    Entry("x390_snht", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(t) / 3600).cast("long").as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.snht(hourly, "t", "v")
    },
      // same exact ladder on the hourly grid; T_k one IEEE chain per k,
      // 9-dp; integer argmax with smallest-k tie-break
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
        |  FROM hourly),
        |ee AS (SELECT t, (n * y - sy)::BIGINT AS e, n
        |  FROM hourly CROSS JOIN tot),
        |se2 AS (SELECT sum(e * e)::BIGINT AS se2 FROM ee),
        |sp AS (SELECT n, (sum(e) OVER (ORDER BY t ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS s,
        |    row_number() OVER (ORDER BY t)::BIGINT AS i FROM ee),
        |tk AS (SELECT n, i, round((s * s)::DOUBLE * (n * n)::DOUBLE /
        |    nullif(se2::DOUBLE * (i * (n - i))::DOUBLE, 0.0), 9) AS tkv
        |  FROM sp CROSS JOIN se2 WHERE i < n),
        |best AS (SELECT n, tkv, i,
        |    row_number() OVER (ORDER BY tkv DESC, i) AS rk FROM tk)
        |SELECT n, round(tkv, 6) AS t_max, i AS k_loc
        |FROM best WHERE rk = 1""".stripMargin)),

    // eta-squared / omega-squared of order value by priority: how much
    // variance the priority EXPLAINS — the magnitude x304's Welch
    // F-significance hides at scale (dollar quantization)
    Entry("x391_anova_effect", (s, dir) =>
      graft.ops.Stats.anovaEffectSizes(
        Registrar.table(s, dir, "orders"), F.col("o_totalprice"),
        F.col("o_orderpriority"), scale = 1L),
      // positive-SS per-group raw-IEEE terms off exact (n, Σk, Σk²);
      // only the O(1) ratios leave (huge-SS rounding is not portable)
      Oracle("""WITH rows_ AS (SELECT round(o_totalprice::DOUBLE * 1)::BIGINT
        |      AS k, o_orderpriority AS g
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |per AS (SELECT g, count(*)::BIGINT AS ng, sum(k)::BIGINT AS sk,
        |    sum(k * k)::BIGINT AS qk FROM rows_ GROUP BY 1),
        |tot AS (SELECT sum(ng)::BIGINT AS nn, sum(sk)::BIGINT AS st
        |  FROM per),
        |terms AS (SELECT ng,
        |    ng::DOUBLE * (sk::DOUBLE / ng::DOUBLE -
        |      st::DOUBLE / nn::DOUBLE) * (sk::DOUBLE / ng::DOUBLE -
        |      st::DOUBLE / nn::DOUBLE) / (1.0::DOUBLE * 1.0::DOUBLE)
        |      AS ssb,
        |    (ng::DOUBLE * qk::DOUBLE - sk::DOUBLE * sk::DOUBLE) /
        |      (ng::DOUBLE * 1.0::DOUBLE * 1.0::DOUBLE) AS ssw,
        |    nn
        |  FROM per CROSS JOIN tot),
        |g AS (SELECT max(nn)::BIGINT AS n, count(*)::BIGINT AS k_groups,
        |    sum(ssb) AS b, sum(ssw) AS w FROM terms),
        |f AS (SELECT n, k_groups, b, w,
        |    w / (n::DOUBLE - k_groups::DOUBLE) AS msw, b + w AS sst
        |  FROM g)
        |SELECT n, k_groups,
        |  round(b / nullif(sst, 0.0), 6) AS eta2,
        |  round((b - (k_groups::DOUBLE - 1.0::DOUBLE) * msw) /
        |    nullif(sst + msw, 0.0), 6) AS omega2,
        |  round((b / (k_groups::DOUBLE - 1.0::DOUBLE)) /
        |    nullif(msw, 0.0), 6) AS f_stat
        |FROM f""".stripMargin)),

    // Tukey-Kramer q per segment pair on account balance: WHICH
    // segments differ, after the omnibus test says "somewhere"
    Entry("x392_tukey_q", (s, dir) =>
      graft.ops.Stats.tukeyHsdQ(
        Registrar.table(s, dir, "customer"), F.col("c_acctbal"),
        F.col("c_mktsegment"), scale = 100L),
      // same collapse; 9-dp mean diffs; one IEEE q chain per unordered
      // pair; lexicographic pair order
      Oracle("""WITH rows_ AS (SELECT round(c_acctbal::DOUBLE * 100)::BIGINT
        |      AS k, c_mktsegment AS g
        |  FROM customer
        |  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
        |per AS (SELECT g, count(*)::BIGINT AS ng, sum(k)::BIGINT AS sk,
        |    (count(*)::DOUBLE * sum(k * k)::DOUBLE -
        |      sum(k)::DOUBLE * sum(k)::DOUBLE) /
        |      (count(*)::DOUBLE * 100.0::DOUBLE * 100.0::DOUBLE)
        |      AS ssw
        |  FROM rows_ GROUP BY 1),
        |tot AS (SELECT sum(ng)::BIGINT AS nn, count(*)::BIGINT AS kk,
        |    sum(ssw) AS w FROM per),
        |pairs AS (SELECT a.g AS g_a, b.g AS g_b, a.ng AS n_a,
        |    b.ng AS n_b,
        |    round(a.sk::DOUBLE / (a.ng::DOUBLE * 100.0::DOUBLE) -
        |      b.sk::DOUBLE / (b.ng::DOUBLE * 100.0::DOUBLE), 9) AS d,
        |    nn, kk, w
        |  FROM per a JOIN per b ON a.g < b.g CROSS JOIN tot)
        |SELECT g_a, g_b, n_a, n_b, round(d, 6) AS mean_diff,
        |  round(abs(d) / sqrt(nullif(
        |    (w / (nn::DOUBLE - kk::DOUBLE)) / 2.0::DOUBLE *
        |      (1.0::DOUBLE / n_a::DOUBLE + 1.0::DOUBLE / n_b::DOUBLE),
        |    0.0)), 6) AS q
        |FROM pairs ORDER BY g_a, g_b""".stripMargin)),

    // Theil-T decomposition of doc length by source: is length
    // inequality WITHIN sources or BETWEEN them — the split x128's
    // global concentration number can't make
    Entry("x393_theil_decomp", (s, dir) =>
      graft.ops.Stats.theilDecomp(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("source")),
      // (g, value) cell collapse; 9-dp x ln x per distinct value; exact
      // shares/means; within+between 9-dp terms
      Oracle("""WITH cells AS (SELECT source AS g,
        |    round(n_chars::DOUBLE * 1)::BIGINT AS k,
        |    count(*)::BIGINT AS t
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND round(n_chars::DOUBLE * 1) > 0
        |    AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |per AS (SELECT g, sum(t)::BIGINT AS ng,
        |    sum(k * t)::BIGINT AS skg,
        |    sum(t::DOUBLE * round((k::DOUBLE / 1.0::DOUBLE) *
        |      ln(k::DOUBLE / 1.0::DOUBLE), 9)) AS sx
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT sum(ng)::BIGINT AS nn, sum(skg)::BIGINT AS sk
        |  FROM per),
        |rows_ AS (SELECT g, ng,
        |    skg::DOUBLE / (ng::DOUBLE * 1.0::DOUBLE) AS mug,
        |    skg::DOUBLE / sk::DOUBLE AS share,
        |    round(sx / (skg::DOUBLE / 1.0::DOUBLE) -
        |      ln(skg::DOUBLE / (ng::DOUBLE * 1.0::DOUBLE)), 9) AS tg,
        |    round(skg::DOUBLE / sk::DOUBLE *
        |      ln((skg::DOUBLE / (ng::DOUBLE * 1.0::DOUBLE)) /
        |        (sk::DOUBLE / (nn::DOUBLE * 1.0::DOUBLE))), 9)
        |      AS bterm
        |  FROM per CROSS JOIN tot),
        |rw AS (SELECT g, ng, mug, share, tg, bterm,
        |    round(share * tg, 9) AS wterm FROM rows_),
        |gl AS (SELECT sum(wterm) AS tw, sum(bterm) AS tb FROM rw)
        |SELECT g, ng AS n, round(mug, 6) AS mean_g,
        |  round(share, 6) AS share, round(tg, 6) AS theil_g,
        |  round(bterm, 6) AS between_term,
        |  round(tw, 6) AS theil_within, round(tb, 6) AS theil_between,
        |  round(tw + tb, 6) AS theil_total
        |FROM rw CROSS JOIN gl ORDER BY g""".stripMargin)),

    // Page's L across the week: does daily volume CLIMB through each
    // week — the ordered within-block profile x369's seasonal MK and
    // an unordered Friedman both dilute
    Entry("x394_page_trend", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.pageTrend(daily, "t", "v", period = 7)
    },
      // per-block doubled midranks; exact L2 / E2; tie-free variance,
      // one IEEE z chain
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |mn AS (SELECT min(t)::BIGINT AS m FROM daily),
        |base AS (SELECT ((t - m) // 7)::BIGINT AS b,
        |    ((t - m) % 7 + 1)::BIGINT AS c, y,
        |    (count(*) OVER (PARTITION BY (t - m) // 7))::BIGINT AS bn
        |  FROM daily CROSS JOIN mn),
        |fb AS (SELECT b, c, y FROM base WHERE bn = 7),
        |cells AS (SELECT b, y, count(*)::BIGINT AS tc,
        |    sum(c)::BIGINT AS sc FROM fb GROUP BY 1, 2),
        |lad AS (SELECT b, tc, sc, (sum(tc) OVER (PARTITION BY b
        |    ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW))::BIGINT AS cum FROM cells),
        |g AS (SELECT (sum(tc) // 7)::BIGINT AS b_blocks,
        |    sum((2 * cum - tc + 1) * sc)::BIGINT AS l2 FROM lad)
        |SELECT b_blocks, 7::BIGINT AS k_period,
        |  l2::DOUBLE / 2.0::DOUBLE AS l,
        |  (b_blocks * 448)::DOUBLE / 2.0::DOUBLE / 2.0::DOUBLE AS e_l,
        |  round((l2::DOUBLE - (b_blocks * 448)::DOUBLE / 2.0::DOUBLE) /
        |    (2.0::DOUBLE * sqrt(nullif(b_blocks::DOUBLE *
        |      18816.0::DOUBLE / 144.0::DOUBLE, 0.0))), 6) AS z
        |FROM g""".stripMargin)),

    // Storey q-values over the x176 per-token chi-squares: adaptive
    // FDR — estimate the null share from the flat p-tail and recover
    // the power x176's BH and x258's BY both leave on the table
    Entry("x395_storey_q", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val grp = F.when(F.col("lang") === "en", "en")
        .when(F.col("lang") === "zh", "zh").otherwise("other")
      graft.ops.Stats.storeyQvalue(
        TextOps.chi2TokensDf2(docs, "doc_id", "text", grp, minDf = 20),
        Seq("token"), F.col("chi2"), alpha = 0.05)
    },
      // the x176 chi-square ladder with the pi0 tail estimate and one
      // suffix-min q window
      Oracle("""WITH doc AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |      ELSE 'other' END AS g, text FROM documents),
        |tok AS (SELECT DISTINCT doc_id, g, t FROM (SELECT doc_id, g,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |  FROM doc)),
        |tg AS (SELECT t, g, count(*) AS a FROM tok GROUP BY 1, 2),
        |gt AS (SELECT g, count(*) AS ng FROM doc GROUP BY g),
        |tdf AS (SELECT t, sum(a) AS dfd FROM tg GROUP BY t
        |  HAVING sum(a) >= 20),
        |n AS (SELECT count(*) AS nn FROM doc),
        |cells AS (SELECT tdf.t, tdf.dfd, gt.g, gt.ng,
        |    coalesce(tg.a, 0) AS a
        |  FROM tdf CROSS JOIN gt
        |  LEFT JOIN tg ON tg.t = tdf.t AND tg.g = gt.g),
        |cc AS (SELECT t, dfd, round(
        |    coalesce((a - ep)*(a - ep)/nullif(ep, 0.0), 0.0) +
        |    coalesce(((ng - a) - ea)*((ng - a) - ea)/nullif(ea, 0.0), 0.0),
        |    9) AS cell
        |  FROM (SELECT t, dfd, ng, a::DOUBLE AS a,
        |      dfd::DOUBLE * ng / nn AS ep,
        |      (nn - dfd)::DOUBLE * ng / nn AS ea
        |    FROM cells CROSS JOIN n)),
        |chi AS (SELECT t AS token, round(sum(cell), 6) AS chi2
        |  FROM cc GROUP BY t),
        |keyed AS (SELECT token, chi2, round(exp(-chi2 / 2.0), 9) AS p
        |  FROM chi),
        |mpi AS (SELECT count(*)::BIGINT AS m,
        |    sum(CASE WHEN p > 0.5::DOUBLE THEN 1 ELSE 0 END)::BIGINT
        |      AS tl FROM keyed),
        |rk AS (SELECT token, chi2, p, m,
        |    row_number() OVER (ORDER BY p, token)::BIGINT AS i,
        |    round(least(1.0::DOUBLE, tl::DOUBLE /
        |      (0.5::DOUBLE * m::DOUBLE)), 9) AS pi0
        |  FROM keyed CROSS JOIN mpi),
        |qi AS (SELECT token, chi2, p, i, pi0,
        |    round(least(1.0::DOUBLE,
        |      pi0 * m::DOUBLE / i::DOUBLE * p), 9) AS qv
        |  FROM rk)
        |SELECT token, chi2, p, i, pi0,
        |  min(qv) OVER (ORDER BY p DESC, token DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q,
        |  (min(qv) OVER (ORDER BY p DESC, token DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    <= 0.05::DOUBLE AS discovered
        |FROM qi ORDER BY i""".stripMargin)),

    // Siegel-Tukey: is URGENT order value more DISPERSED than the
    // rest — the rank-based scale test next to x303's Bartlett
    // (dollar quantization)
    Entry("x396_siegel_tukey", (s, dir) =>
      graft.ops.Stats.siegelTukey(
        Registrar.table(s, dir, "orders"), F.col("o_totalprice"),
        F.substring(F.col("o_orderpriority"), 1, 1) === "1"),
      // positional ST ranks off the value-ladder explode; 9-dp per-run
      // tie averages; tie-corrected Wilcoxon variance
      Oracle("""WITH byv AS (SELECT round(o_totalprice::DOUBLE * 1)::BIGINT
        |      AS v,
        |    sum(CASE WHEN substring(o_orderpriority, 1, 1) = '1'
        |      THEN 1 ELSE 0 END)::BIGINT AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(n1v)::BIGINT AS n1, sum(t)::BIGINT AS nn,
        |    sum(t * t * t - t)::BIGINT AS ties FROM byv),
        |lad AS (SELECT v, n1v, t,
        |    (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT AS cum FROM byv),
        |pos AS (SELECT v, n1v, t, unnest(range(cum - t + 1, cum + 1))
        |      AS p, nn
        |  FROM lad CROSS JOIN tot),
        |st AS (SELECT v, n1v, t,
        |    CASE WHEN p <= nn + 1 - p THEN
        |      CASE WHEN least(p, nn + 1 - p) % 2 = 1
        |        THEN 2 * least(p, nn + 1 - p) - 1
        |        ELSE 2 * least(p, nn + 1 - p) END
        |    ELSE
        |      CASE WHEN least(p, nn + 1 - p) % 2 = 1
        |        THEN 2 * least(p, nn + 1 - p)
        |        ELSE 2 * least(p, nn + 1 - p) - 1 END
        |    END AS a FROM pos),
        |runs AS (SELECT v, max(n1v)::BIGINT AS n1v,
        |    max(t)::BIGINT AS t, sum(a)::BIGINT AS sr
        |  FROM st GROUP BY 1),
        |g AS (SELECT (sum((n1v * sr) // t)::DOUBLE +
        |    sum(round(((n1v * sr) % t)::DOUBLE / t::DOUBLE, 9)))
        |    AS w1 FROM runs),
        |f AS (SELECT w1, n1, nn, ties,
        |    n1::DOUBLE * (nn::DOUBLE + 1.0::DOUBLE) / 2.0::DOUBLE
        |      AS ew,
        |    n1::DOUBLE * (nn::DOUBLE - n1::DOUBLE) / 12.0::DOUBLE *
        |      ((nn::DOUBLE + 1.0::DOUBLE) - ties::DOUBLE /
        |        (nn::DOUBLE * (nn::DOUBLE - 1.0::DOUBLE))) AS vw
        |  FROM g CROSS JOIN tot)
        |SELECT n1, (nn - n1)::BIGINT AS n2, round(w1, 6) AS w1,
        |  ew AS e_w1,
        |  round((w1 - ew) / sqrt(nullif(vw, 0.0)), 6) AS z
        |FROM f""".stripMargin)),

    // Anderson-Darling of the x178 scores against Uniform: the
    // TAIL-weighted PIT check — miscalibration at the keep/drop
    // thresholds, where x375's CvM weighs the body
    Entry("x397_ad_uniform", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.adUniform(scored, F.col("quality_score"))
    },
      // the x178 scorer + per-tie-run closed series (SA/SB exact longs)
      // x two 9-dp logs; boundary scores excluded both sides
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS u
           |FROM t, w),
           |byv AS (SELECT u, count(*)::BIGINT AS t FROM sc
           |  WHERE u > 0.0 AND u < 1.0 GROUP BY 1),
           |tot AS (SELECT sum(t)::BIGINT AS n FROM byv),
           |lad AS (SELECT u, t, (sum(t) OVER (ORDER BY u ROWS BETWEEN
           |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS b, n
           |  FROM byv CROSS JOIN tot),
           |tm AS (SELECT n, round(
           |    (b * b - (b - t) * (b - t))::DOUBLE * round(ln(u), 9) +
           |    ((n - (b - t + 1) + 1) * (n - (b - t + 1) + 1) -
           |      (n - b) * (n - b))::DOUBLE *
           |      round(ln(1.0::DOUBLE - u), 9), 9) AS term
           |  FROM lad),
           |g AS (SELECT max(n)::BIGINT AS n, sum(term) AS s FROM tm)
           |SELECT n, round(-n::DOUBLE - s / n::DOUBLE, 6) AS a2,
           |  2.492::DOUBLE AS crit_5pct,
           |  (-n::DOUBLE - s / n::DOUBLE) > 2.492 AS reject
           |FROM g""".stripMargin
      }),

    // 2-hop harmonic centrality of the supplier co-purchase graph:
    // who is CLOSE to the most of the graph — the bridge read degree
    // and x344's Katz both blur
    Entry("x398_harmonic2", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.harmonic2(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst", topN = 20)
    },
      // wedge join + distinct 2-hop set + edge anti-join; exact counts,
      // one half-sum; total-order top-20
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b FROM e0 WHERE w >= 6),
        |adj AS (SELECT a AS z, b AS n FROM und
        |  UNION ALL SELECT b AS z, a AS n FROM und),
        |deg AS (SELECT z AS node, count(*)::BIGINT AS deg FROM adj
        |  GROUP BY 1),
        |two AS (SELECT DISTINCT least(x.n, y.n) AS a,
        |    greatest(x.n, y.n) AS b
        |  FROM adj x JOIN adj y ON x.z = y.z AND x.n <> y.n),
        |t2 AS (SELECT two.a, two.b FROM two
        |  LEFT JOIN und ON und.a = two.a AND und.b = two.b
        |  WHERE und.a IS NULL),
        |n2 AS (SELECT node, count(*)::BIGINT AS n2 FROM (
        |  SELECT a AS node FROM t2 UNION ALL SELECT b AS node FROM t2)
        |  GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(n2.n2, 0)::BIGINT AS n2,
        |  deg.deg::DOUBLE + coalesce(n2.n2, 0)::DOUBLE / 2.0::DOUBLE
        |    AS h2
        |FROM deg LEFT JOIN n2 ON n2.node = deg.node
        |ORDER BY h2 DESC, deg.node LIMIT 20""".stripMargin)),

    // decile-shift census of order value, urgent vs rest: WHERE in
    // the distribution the premium lives — the table x379's single
    // shift number summarizes away
    Entry("x399_decile_shift", (s, dir) =>
      graft.ops.Stats.decileShift(
        Registrar.table(s, dir, "orders"), F.col("o_totalprice"),
        F.substring(F.col("o_orderpriority"), 1, 1) === "1",
        scale = 100L),
      // exact integer quantile cuts via -floor(-q*n) per group ladder;
      // exact cent differences
      Oracle("""WITH s AS (SELECT round(o_totalprice::DOUBLE * 100)::BIGINT
        |      AS v,
        |    CASE WHEN substring(o_orderpriority, 1, 1) = '1' THEN 1
        |      ELSE 0 END AS c1
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |qs AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8,
        |    0.9])::DOUBLE AS q),
        |b1 AS (SELECT v, count(*)::BIGINT AS t FROM s WHERE c1 = 1
        |  GROUP BY 1),
        |l1 AS (SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum,
        |    (SELECT sum(t) FROM b1)::BIGINT AS n FROM b1),
        |c1t AS (SELECT q, min(v)::BIGINT AS q1 FROM l1 CROSS JOIN qs
        |  WHERE cum >= -floor(-q * n::DOUBLE) GROUP BY 1),
        |b2 AS (SELECT v, count(*)::BIGINT AS t FROM s WHERE c1 = 0
        |  GROUP BY 1),
        |l2 AS (SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum,
        |    (SELECT sum(t) FROM b2)::BIGINT AS n FROM b2),
        |c2t AS (SELECT q, min(v)::BIGINT AS q2 FROM l2 CROSS JOIN qs
        |  WHERE cum >= -floor(-q * n::DOUBLE) GROUP BY 1)
        |SELECT c1t.q, round(q1::DOUBLE / 100.0::DOUBLE, 6) AS cut1,
        |  round(q2::DOUBLE / 100.0::DOUBLE, 6) AS cut2,
        |  round((q2 - q1)::DOUBLE / 100.0::DOUBLE, 6) AS shift
        |FROM c1t JOIN c2t ON c1t.q = c2t.q ORDER BY c1t.q""".stripMargin)),

    // per-dimension variance census + diagonal participation ratio:
    // is the embedding space actually USED, or does one rogue dim own
    // every cosine in the ANN stack
    Entry("x400_dim_variance", (s, dir) =>
      Similarity.dimVarianceCensus(
        Registrar.table(s, dir, "embeddings"), "embedding"),
      // x1e6 exact per-dim moments off one posexplode; 9-dp variances;
      // IEEE PR/share chains over the 64-row table
      Oracle("""WITH base AS (SELECT list_transform(embedding, x -> x::DOUBLE)
        |      AS v FROM embeddings),
        |ex AS (SELECT generate_subscripts(v, 1) - 1 AS d,
        |    round(unnest(v) * 1000000.0)::BIGINT AS k FROM base),
        |byd AS (SELECT d, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS q FROM ex GROUP BY 1),
        |dims AS (SELECT d,
        |    s::DOUBLE / (n::DOUBLE * 1000000.0) AS m,
        |    round((q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      (nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) *
        |        1000000000000.0::DOUBLE), 9) AS vv
        |  FROM byd),
        |gl AS (SELECT sum(vv) AS sv, sum(vv * vv) AS sv2,
        |    max(vv) AS vmax FROM dims)
        |SELECT d, round(m, 6) AS mean_d, round(vv, 6) AS var_d,
        |  round(vv / nullif(sv, 0.0), 6) AS var_share,
        |  round(sv * sv / nullif(sv2, 0.0), 6) AS pr_diag,
        |  round(vmax / nullif(sv, 0.0), 6) AS top_share
        |FROM dims CROSS JOIN gl ORDER BY d""".stripMargin)),

    // cone-effect census: mean cosine to the corpus centroid + norm
    // CV — how tight the anisotropy cone is, next to x400's which-dims
    Entry("x401_cone_census", (s, dir) =>
      Similarity.coneCensus(
        Registrar.table(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // centroid quantized back to the x1e6 grid; exact-long dots and
      // norms; 9-dp cosines; one IEEE cv chain
      Oracle("""WITH base AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
        |    round(unnest(v) * 1000000.0)::BIGINT AS k FROM base),
        |byd AS (SELECT d, count(*)::BIGINT AS n, sum(k)::BIGINT AS s
        |  FROM ex GROUP BY 1),
        |cent AS (SELECT d, round(s::DOUBLE / n::DOUBLE)::BIGINT AS cq
        |  FROM byd),
        |c2 AS (SELECT sum(cq * cq)::BIGINT AS c2k FROM cent),
        |pid AS (SELECT vec_id, sum(k * cq)::BIGINT AS dotk,
        |    sum(k * k)::BIGINT AS n2k
        |  FROM ex JOIN cent ON cent.d = ex.d GROUP BY 1),
        |pc AS (SELECT vec_id,
        |    round(sqrt(n2k::DOUBLE) / 1000000.0::DOUBLE, 9) AS nrm,
        |    round(dotk::DOUBLE / nullif(sqrt(n2k::DOUBLE) *
        |      sqrt(c2k::DOUBLE), 0.0), 9) AS cs
        |  FROM pid CROSS JOIN c2)
        |SELECT count(*)::BIGINT AS n, round(avg(cs), 6) AS mean_cos,
        |  round(sum(CASE WHEN cs > 0.0 THEN 1 ELSE 0 END)::DOUBLE /
        |    count(*)::DOUBLE, 6) AS p_positive,
        |  round(avg(nrm), 6) AS mean_norm,
        |  round(sqrt((sum(nrm * nrm) - sum(nrm) * (sum(nrm) /
        |      count(*)::DOUBLE)) /
        |    nullif(count(*)::DOUBLE - 1.0::DOUBLE, 0.0)) /
        |    nullif(avg(nrm), 0.0), 6) AS cv_norm
        |FROM pc""".stripMargin)),

    // Chatterjee's xi of per-user spend against activity: functional
    // dependence of ANY shape at ladder cost — where x368's dCor pays
    // all-pairs
    Entry("x402_chatterjee_xi", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val perUser = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").as("activity"),
        F.sum(F.round(F.col("value") * 100).cast("long")).as("spend_c"))
      graft.ops.Stats.chatterjeeXi(perUser, F.col("activity"),
        F.col("spend_c"))
    },
      // y-value ladder ranks (exact longs); deterministic (x, y) walk;
      // exact numerator/denominator, one IEEE division
      Oracle("""WITH pu AS (SELECT user_id, count(*)::DOUBLE AS x,
        |    sum(round(value * 100)::BIGINT)::DOUBLE AS y
        |  FROM events GROUP BY 1),
        |byy AS (SELECT y, count(*)::BIGINT AS t FROM pu GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn FROM byy),
        |lad AS (SELECT y, t, (sum(t) OVER (ORDER BY y ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |  FROM byy),
        |den AS (SELECT sum(t * (nn - cum + t) * (cum - t))::BIGINT
        |    AS den FROM lad CROSS JOIN tot),
        |wk AS (SELECT pu.x, pu.y, lad.cum AS r FROM pu
        |  JOIN lad ON lad.y = pu.y),
        |sd AS (SELECT sum(abs(rn - r))::BIGINT AS sdr FROM (
        |  SELECT r, lead(r) OVER (ORDER BY x, y) AS rn FROM wk)
        |  WHERE rn IS NOT NULL)
        |SELECT nn AS n, sdr AS sum_dr,
        |  round(1.0::DOUBLE - nn::DOUBLE * sdr::DOUBLE /
        |    nullif(2.0::DOUBLE * den::DOUBLE, 0.0), 6) AS xi
        |FROM sd CROSS JOIN den CROSS JOIN tot""".stripMargin)),

    // Blomqvist beta between per-user activity and spend: the
    // quadrant-count BULK association next to x377's tails and
    // x402's any-shape xi
    Entry("x403_blomqvist_beta", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val perUser = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").as("activity"),
        F.sum(F.round(F.col("value") * 100).cast("long")).as("spend_c"))
      graft.ops.Stats.blomqvistBeta(perUser, F.col("activity"),
        F.col("spend_c"))
    },
      // exact lower medians off two cent ladders; exact quadrant cells;
      // one IEEE division
      Oracle("""WITH pu AS (SELECT user_id, count(*)::BIGINT AS x,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |mx AS (SELECT min(v)::BIGINT AS mx FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW))::BIGINT AS cum, nn FROM (
        |    SELECT x AS v, count(*)::BIGINT AS t FROM pu GROUP BY 1)
        |    CROSS JOIN (SELECT count(*)::BIGINT AS nn FROM pu))
        |  WHERE cum >= (nn + 1) // 2),
        |my AS (SELECT min(v)::BIGINT AS my FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW))::BIGINT AS cum, nn FROM (
        |    SELECT y AS v, count(*)::BIGINT AS t FROM pu GROUP BY 1)
        |    CROSS JOIN (SELECT count(*)::BIGINT AS nn FROM pu))
        |  WHERE cum >= (nn + 1) // 2),
        |g AS (SELECT count(*)::BIGINT AS n, max(mx)::BIGINT AS mxv,
        |    max(my)::BIGINT AS myv,
        |    sum(CASE WHEN x > mx AND y > my THEN 1 ELSE 0
        |      END)::BIGINT AS n11,
        |    sum(CASE WHEN x > mx AND y <= my THEN 1 ELSE 0
        |      END)::BIGINT AS n12,
        |    sum(CASE WHEN x <= mx AND y > my THEN 1 ELSE 0
        |      END)::BIGINT AS n21,
        |    sum(CASE WHEN x <= mx AND y <= my THEN 1 ELSE 0
        |      END)::BIGINT AS n22
        |  FROM pu CROSS JOIN mx CROSS JOIN my)
        |SELECT n, round(mxv::DOUBLE / 1.0::DOUBLE, 6) AS med_x,
        |  round(myv::DOUBLE / 1.0::DOUBLE, 6) AS med_y,
        |  n11, n12, n21, n22,
        |  round((n11 + n22 - n12 - n21)::DOUBLE /
        |    nullif(n::DOUBLE, 0.0), 6) AS beta
        |FROM g""".stripMargin)),

    // Bartels rank von Neumann on daily volume: randomness against
    // trend AND oscillation — the two-sided read x250's runs test
    // only half-covers
    Entry("x404_bartels", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.bartelsRankTest(daily, "t", "v")
    },
      // doubled midranks; exact delta-squares and n-scaled denominator
      // (sum of doubled ranks = n(n+1) identity); one IEEE z chain
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |byv AS (SELECT y, count(*)::BIGINT AS tc FROM daily GROUP BY 1),
        |kv AS (SELECT y, (2 * (sum(tc) OVER (ORDER BY y ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW)) - tc + 1)::BIGINT
        |      AS k FROM byv),
        |tot AS (SELECT count(*)::BIGINT AS n FROM daily),
        |wk AS (SELECT d.t, kv.k, n, (n * (n + 1))::BIGINT AS sk,
        |    lead(kv.k) OVER (ORDER BY d.t) AS kn
        |  FROM daily d JOIN kv ON kv.y = d.y CROSS JOIN tot),
        |g AS (SELECT max(n)::BIGINT AS n,
        |    sum(CASE WHEN kn IS NOT NULL THEN (kn - k) * (kn - k)
        |      ELSE 0 END)::BIGINT AS num,
        |    sum((n * k - sk) * (n * k - sk))::BIGINT AS den FROM wk),
        |f AS (SELECT n,
        |    (n::DOUBLE * n::DOUBLE) * num::DOUBLE /
        |      nullif(den::DOUBLE, 0.0) AS rvn,
        |    4.0::DOUBLE * (n::DOUBLE - 2.0::DOUBLE) *
        |      (5.0::DOUBLE * n::DOUBLE * n::DOUBLE -
        |        2.0::DOUBLE * n::DOUBLE - 9.0::DOUBLE) /
        |      (5.0::DOUBLE * n::DOUBLE * (n::DOUBLE + 1.0::DOUBLE) *
        |        (n::DOUBLE - 1.0::DOUBLE) * (n::DOUBLE - 1.0::DOUBLE))
        |      AS vr
        |  FROM g)
        |SELECT n, round(rvn, 6) AS rvn,
        |  round((rvn - 2.0::DOUBLE) / sqrt(nullif(vr, 0.0)), 6) AS z
        |FROM f""".stripMargin)),

    // Goodman-Kruskal lambda between market segment and order
    // priority: does knowing the segment actually IMPROVE the modal
    // priority guess — error-reduction units, not chi-square ones
    Entry("x405_gk_lambda", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      val c = Registrar.table(s, dir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      graft.ops.Stats.goodmanKruskalLambda(j, F.col("c_mktsegment"),
        F.col("o_orderpriority"))
    },
      // exact cell/margin counts and max selections; three IEEE
      // divisions
      Oracle("""WITH j AS (SELECT c.c_mktsegment AS x, o.o_orderpriority AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IS NOT NULL
        |    AND o.o_orderpriority IS NOT NULL),
        |cells AS (SELECT x, y, count(*)::BIGINT AS c FROM j
        |  GROUP BY 1, 2),
        |srm AS (SELECT sum(m)::BIGINT AS srm FROM (
        |  SELECT max(c)::BIGINT AS m FROM cells GROUP BY x)),
        |scm AS (SELECT sum(m)::BIGINT AS scm FROM (
        |  SELECT max(c)::BIGINT AS m FROM cells GROUP BY y)),
        |mxx AS (SELECT max(m)::BIGINT AS maxx FROM (
        |  SELECT sum(c)::BIGINT AS m FROM cells GROUP BY x)),
        |mxy AS (SELECT max(m)::BIGINT AS maxy FROM (
        |  SELECT sum(c)::BIGINT AS m FROM cells GROUP BY y)),
        |nn AS (SELECT sum(c)::BIGINT AS n FROM cells)
        |SELECT n,
        |  round((srm - maxy)::DOUBLE /
        |    nullif((n - maxy)::DOUBLE, 0.0), 6) AS lambda_y_x,
        |  round((scm - maxx)::DOUBLE /
        |    nullif((n - maxx)::DOUBLE, 0.0), 6) AS lambda_x_y,
        |  round(((srm - maxy) + (scm - maxx))::DOUBLE /
        |    nullif(((n - maxy) + (n - maxx))::DOUBLE, 0.0), 6)
        |    AS lambda_sym
        |FROM nn CROSS JOIN srm CROSS JOIN scm CROSS JOIN mxx
        |CROSS JOIN mxy""".stripMargin)),

    // conditional character entropy per language: the model-free
    // compressibility / boilerplate read — how many nats each char
    // carries given the previous one
    Entry("x406_char_entropy", (s, dir) =>
      TextOps.charNgramEntropy(
        Registrar.table(s, dir, "documents"), "text",
        F.col("lang")),
      // within-doc positional char windows; exact censuses; 9-dp p ln p
      // terms; H(c2|c1) = H2 - H1
      Oracle("""WITH base AS (SELECT lang AS g,
        |    lower(trim(coalesce(text, ''))) AS t FROM documents
        |  WHERE lang IS NOT NULL
        |    AND length(lower(trim(coalesce(text, '')))) > 0),
        |c1 AS (SELECT g, c, count(*)::BIGINT AS n FROM (
        |  SELECT g, unnest(list_transform(range(1, length(t) + 1),
        |    i -> substr(t, i::INT, 1))) AS c FROM base) GROUP BY 1, 2),
        |t1 AS (SELECT g, sum(n)::BIGINT AS tot FROM c1 GROUP BY 1),
        |h1 AS (SELECT c1.g, max(tot)::BIGINT AS n_chars,
        |    round(sum(round(-(n::DOUBLE / tot::DOUBLE) *
        |      ln(n::DOUBLE / tot::DOUBLE), 9)), 6) AS h1
        |  FROM c1 JOIN t1 ON t1.g = c1.g GROUP BY 1),
        |c2 AS (SELECT g, c, count(*)::BIGINT AS n FROM (
        |  SELECT g, unnest(list_transform(range(1, length(t)),
        |    i -> substr(t, i::INT, 2))) AS c FROM base
        |  WHERE length(t) >= 2) GROUP BY 1, 2),
        |t2 AS (SELECT g, sum(n)::BIGINT AS tot FROM c2 GROUP BY 1),
        |h2 AS (SELECT c2.g, max(tot)::BIGINT AS n_bigrams,
        |    round(sum(round(-(n::DOUBLE / tot::DOUBLE) *
        |      ln(n::DOUBLE / tot::DOUBLE), 9)), 6) AS h2
        |  FROM c2 JOIN t2 ON t2.g = c2.g GROUP BY 1)
        |SELECT h1.g, n_chars, n_bigrams, h1, h2,
        |  round(h2 - h1, 6) AS h_cond
        |FROM h1 JOIN h2 ON h2.g = h1.g ORDER BY h1.g""".stripMargin)),

    // Yuen trimmed-t: are en docs longer AFTER the tails are trimmed —
    // the robust location test between x175's pure ranks and a raw
    // Welch t the outliers own
    Entry("x407_yuen", (s, dir) =>
      graft.ops.Stats.yuenTest(
        Registrar.table(s, dir, "documents"), F.col("n_chars"),
        F.col("lang") === "en", trim = 0.2),
      // per-group value ladders; exact clipped-window and winsorized
      // moments; Welch-Satterthwaite IEEE chain
      Oracle("""WITH s AS (SELECT round(n_chars::DOUBLE * 1)::BIGINT AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1
        |  FROM documents WHERE n_chars IS NOT NULL),
        |l1 AS (SELECT v, cum, lo, nn,
        |    floor(0.2::DOUBLE * nn::DOUBLE)::BIGINT AS g FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS cum,
        |    (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT - t + 1 AS lo,
        |    (SELECT count(*) FROM s WHERE c1 = 1)::BIGINT AS nn
        |  FROM (SELECT v, count(*)::BIGINT AS t FROM s WHERE c1 = 1
        |    GROUP BY 1))),
        |a1 AS (SELECT max(nn)::BIGINT AS n1, max(g)::BIGINT AS g1,
        |    min(CASE WHEN cum >= g + 1 THEN v END)::BIGINT AS lo1,
        |    min(CASE WHEN cum >= nn - g THEN v END)::BIGINT AS hi1,
        |    sum(v * greatest(0, least(cum, nn - g) -
        |      greatest(lo, g + 1) + 1))::BIGINT AS sk1,
        |    sum(v * v * greatest(0, least(cum, nn - g) -
        |      greatest(lo, g + 1) + 1))::BIGINT AS qk1
        |  FROM l1),
        |l2 AS (SELECT v, cum, lo, nn,
        |    floor(0.2::DOUBLE * nn::DOUBLE)::BIGINT AS g FROM (
        |  SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS cum,
        |    (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::BIGINT - t + 1 AS lo,
        |    (SELECT count(*) FROM s WHERE c1 = 0)::BIGINT AS nn
        |  FROM (SELECT v, count(*)::BIGINT AS t FROM s WHERE c1 = 0
        |    GROUP BY 1))),
        |a2 AS (SELECT max(nn)::BIGINT AS n2, max(g)::BIGINT AS g2,
        |    min(CASE WHEN cum >= g + 1 THEN v END)::BIGINT AS lo2,
        |    min(CASE WHEN cum >= nn - g THEN v END)::BIGINT AS hi2,
        |    sum(v * greatest(0, least(cum, nn - g) -
        |      greatest(lo, g + 1) + 1))::BIGINT AS sk2,
        |    sum(v * v * greatest(0, least(cum, nn - g) -
        |      greatest(lo, g + 1) + 1))::BIGINT AS qk2
        |  FROM l2),
        |f AS (SELECT n1, n2,
        |    (n1 - 2 * g1)::DOUBLE AS h1d, (n2 - 2 * g2)::DOUBLE AS h2d,
        |    sk1::DOUBLE / ((n1 - 2 * g1)::DOUBLE * 1.0::DOUBLE) AS m1,
        |    sk2::DOUBLE / ((n2 - 2 * g2)::DOUBLE * 1.0::DOUBLE) AS m2,
        |    (n1::DOUBLE - 1.0::DOUBLE) *
        |      (((qk1 + g1 * (lo1 * lo1 + hi1 * hi1))::DOUBLE -
        |        (sk1 + g1 * (lo1 + hi1))::DOUBLE *
        |          ((sk1 + g1 * (lo1 + hi1))::DOUBLE / n1::DOUBLE)) /
        |        (nullif(n1::DOUBLE - 1.0::DOUBLE, 0.0) *
        |          1.0::DOUBLE * 1.0::DOUBLE)) /
        |      nullif((n1 - 2 * g1)::DOUBLE *
        |        ((n1 - 2 * g1)::DOUBLE - 1.0::DOUBLE), 0.0) AS d1,
        |    (n2::DOUBLE - 1.0::DOUBLE) *
        |      (((qk2 + g2 * (lo2 * lo2 + hi2 * hi2))::DOUBLE -
        |        (sk2 + g2 * (lo2 + hi2))::DOUBLE *
        |          ((sk2 + g2 * (lo2 + hi2))::DOUBLE / n2::DOUBLE)) /
        |        (nullif(n2::DOUBLE - 1.0::DOUBLE, 0.0) *
        |          1.0::DOUBLE * 1.0::DOUBLE)) /
        |      nullif((n2 - 2 * g2)::DOUBLE *
        |        ((n2 - 2 * g2)::DOUBLE - 1.0::DOUBLE), 0.0) AS d2
        |  FROM a1 CROSS JOIN a2)
        |SELECT n1, n2, h1d::BIGINT AS h1, h2d::BIGINT AS h2,
        |  round(m1, 6) AS mean_t1, round(m2, 6) AS mean_t2,
        |  round((m1 - m2) / sqrt(nullif(d1 + d2, 0.0)), 6) AS t,
        |  round((d1 + d2) * (d1 + d2) / nullif(
        |    d1 * d1 / nullif(h1d - 1.0::DOUBLE, 0.0) +
        |    d2 * d2 / nullif(h2d - 1.0::DOUBLE, 0.0), 0.0), 6) AS df
        |FROM f""".stripMargin)),

    // leave-one-out 1-NN label accuracy: the local embedding-quality
    // probe that catches multi-modal labels x362's one-centroid NCC
    // is blind to (the x354 deterministic-sample regime bounds the
    // pair scan)
    Entry("x408_knn1_acc", (s, dir) =>
      Similarity.knn1Accuracy(
        Registrar.table(s, dir, "embeddings")
          .filter(F.col("vec_id") % 5 < 2), "vec_id",
        "embedding", F.col("label")),
      // 9-dp pair distances (the x354 norm-expansion tree + its sample
      // regime); (d2, neighbor) top-1; exact label census
      Oracle("""WITH base AS (SELECT vec_id, label::VARCHAR AS l, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE vec_id % 5 < 2),
        |pairs AS (SELECT a.vec_id AS id, a.l, b.vec_id AS nb,
        |    b.l AS ln,
        |    round(a.nrm * a.nrm + b.nrm * b.nrm -
        |      2.0 * list_sum(list_transform(range(1, 65),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
        |      9) AS d2
        |  FROM base a JOIN base b ON a.vec_id <> b.vec_id),
        |nn AS (SELECT id, l, ln FROM (SELECT id, l, ln,
        |    row_number() OVER (PARTITION BY id ORDER BY d2, nb) AS rk
        |  FROM pairs) WHERE rk = 1),
        |pl AS (SELECT l AS label, count(*)::BIGINT AS n,
        |    sum(CASE WHEN l = ln THEN 1 ELSE 0 END)::BIGINT
        |      AS n_correct
        |  FROM nn GROUP BY 1),
        |ov AS (SELECT round(sum(n_correct)::DOUBLE / sum(n)::DOUBLE,
        |    6) AS overall_acc FROM pl)
        |SELECT label, n, n_correct,
        |  round(n_correct::DOUBLE / n::DOUBLE, 6) AS acc, overall_acc
        |FROM pl CROSS JOIN ov ORDER BY label""".stripMargin)),

    // Poisson dispersion of daily counts per event type: is one rate
    // per day a lie — the burstiness verdict capacity math depends on
    Entry("x409_poisson_dispersion", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("__d"))
        .agg(F.count(F.lit(1)).as("k"))
      graft.ops.Stats.poissonDispersion(daily, F.col("event_type"),
        F.col("k"))
    },
      // per-type exact (n, Σk, Σk²) off the daily collapse; D and the
      // Wilson-Hilferty z each one IEEE chain
      Oracle("""WITH daily AS (SELECT event_type AS g, ts::DATE AS d,
        |    count(*)::BIGINT AS k FROM events GROUP BY 1, 2),
        |per AS (SELECT g, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS q FROM daily GROUP BY 1),
        |f AS (SELECT g, n, s,
        |    (n::DOUBLE * q::DOUBLE - s::DOUBLE * s::DOUBLE) /
        |      nullif(s::DOUBLE, 0.0) AS d,
        |    n::DOUBLE - 1.0::DOUBLE AS dfd
        |  FROM per)
        |SELECT g, n, round(s::DOUBLE / n::DOUBLE, 6) AS mean,
        |  round(d, 6) AS d, (n - 1)::BIGINT AS df,
        |  round((pow(d / nullif(dfd, 0.0), 1.0::DOUBLE / 3.0::DOUBLE) -
        |    (1.0::DOUBLE - 2.0::DOUBLE / (9.0::DOUBLE * dfd))) /
        |    sqrt(2.0::DOUBLE / (9.0::DOUBLE * dfd)), 6) AS z_wh
        |FROM f ORDER BY g""".stripMargin)),

    // standardized Pearson residuals of segment x priority: WHICH
    // cells drive the association x405's lambda only grades globally
    Entry("x410_chi2_residuals", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      val c = Registrar.table(s, dir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      graft.ops.Stats.chiSquareResiduals(j, F.col("c_mktsegment"),
        F.col("o_orderpriority"))
    },
      // exact cell/margin longs; one IEEE chain per bounded cell
      Oracle("""WITH j AS (SELECT c.c_mktsegment AS x, o.o_orderpriority AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IS NOT NULL
        |    AND o.o_orderpriority IS NOT NULL),
        |cells AS (SELECT x, y, count(*)::BIGINT AS n_obs FROM j
        |  GROUP BY 1, 2),
        |rx AS (SELECT x, sum(n_obs)::BIGINT AS nr FROM cells
        |  GROUP BY 1),
        |cy AS (SELECT y, sum(n_obs)::BIGINT AS nc FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT sum(n_obs)::BIGINT AS nn FROM cells),
        |f AS (SELECT cells.x, cells.y, n_obs,
        |    nr::DOUBLE * (nc::DOUBLE / nn::DOUBLE) AS e,
        |    sqrt(nr::DOUBLE * (nc::DOUBLE / nn::DOUBLE) *
        |      (1.0::DOUBLE - nr::DOUBLE / nn::DOUBLE) *
        |      (1.0::DOUBLE - nc::DOUBLE / nn::DOUBLE)) AS den
        |  FROM cells JOIN rx ON rx.x = cells.x
        |  JOIN cy ON cy.y = cells.y CROSS JOIN tot)
        |SELECT x, y, n_obs, round(e, 6) AS n_exp,
        |  round((n_obs::DOUBLE - e) / nullif(den, 0.0), 6) AS resid
        |FROM f ORDER BY x, y""".stripMargin)),

    // partial AUC below FPR 0.1 of the x178 scorer: the only ROC
    // region a high-precision keep/drop filter operates in — equal
    // full AUCs differ here
    Entry("x412_partial_auc", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.partialAuc(scored, F.col("quality_score"),
        F.col("lang") === "en", fMax = 0.1)
    },
      // the x178 scorer + exact descending (TP, FP) ladder; clipped
      // 9-dp trapezoid terms; McClish standardization
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |bys AS (SELECT s,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tp,
           |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS fp
           |  FROM sc GROUP BY 1),
           |tot AS (SELECT sum(tp)::BIGINT AS np, sum(fp)::BIGINT AS nn
           |  FROM bys),
           |lad AS (SELECT tp, fp,
           |    (sum(tp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW))::BIGINT AS ctp,
           |    (sum(fp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW))::BIGINT AS cfp,
           |    np, nn FROM bys CROSS JOIN tot),
           |seg AS (SELECT np, nn,
           |    (cfp - fp)::DOUBLE / nn::DOUBLE AS f0,
           |    cfp::DOUBLE / nn::DOUBLE AS f1,
           |    (ctp - tp)::DOUBLE / np::DOUBLE AS t0,
           |    ctp::DOUBLE / np::DOUBLE AS t1
           |  FROM lad),
           |ar AS (SELECT np, nn, CASE WHEN f0 < 0.1::DOUBLE AND f1 > f0
           |    THEN round((least(f1, 0.1::DOUBLE) - f0) *
           |      ((CASE WHEN f1 > f0 THEN t0 + (t1 - t0) *
           |        (least(f1, 0.1::DOUBLE) - f0) / (f1 - f0)
           |        ELSE t1 END) + t0) / 2.0::DOUBLE, 9)
           |    ELSE 0.0::DOUBLE END AS a
           |  FROM seg),
           |g AS (SELECT max(np)::BIGINT AS n_pos, max(nn)::BIGINT
           |    AS n_neg, sum(a) AS pauc FROM ar)
           |SELECT n_pos, n_neg, 0.1::DOUBLE AS f_max,
           |  round(pauc, 6) AS pauc,
           |  round(0.5::DOUBLE * (1.0::DOUBLE +
           |    (pauc - 0.005000000000000001::DOUBLE) /
           |    0.095::DOUBLE), 6) AS pauc_std
           |FROM g""".stripMargin
      }),

    // negative-binomial MoM fit of per-user-day purchase counts:
    // parameterize the over-dispersion x409 detects — r-hat feeds
    // capacity simulation directly
    Entry("x413_negbin_fit", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val day = F.to_date(graft.ops.EventOps.tsStamp(ev))
      val users = ev.select(F.col("user_id")).distinct()
      val days = ev.select(day.as("__day")).distinct()
      val p = ev.filter(F.col("event_type") === "purchase")
        .groupBy(F.col("user_id"), day.as("__day"))
        .agg(F.count(F.lit(1)).as("__k"))
      val grid = users.crossJoin(days)
        .join(p, Seq("user_id", "__day"), "left_outer")
        .select(F.coalesce(F.col("__k"), F.lit(0L)).as("k"))
      graft.ops.Stats.negBinomialFit(grid, F.col("k"))
    },
      // dense grid exact (n, Σk, Σk²); MoM r/p one IEEE chain
      Oracle("""WITH u AS (SELECT DISTINCT user_id FROM events),
        |d AS (SELECT DISTINCT ts::DATE AS day FROM events),
        |p AS (SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS k
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |grid AS (SELECT coalesce(p.k, 0)::BIGINT AS k
        |  FROM u CROSS JOIN d
        |  LEFT JOIN p ON p.user_id = u.user_id AND p.day = d.day),
        |g AS (SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS q FROM grid),
        |f AS (SELECT n, s::DOUBLE / n::DOUBLE AS m,
        |    (q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) AS v FROM g)
        |SELECT n, round(m, 6) AS mean, round(v, 6) AS var,
        |  round(CASE WHEN v > m THEN m * m / (v - m) END, 6) AS r_hat,
        |  round(CASE WHEN v > m THEN m / v END, 6) AS p_hat
        |FROM f""".stripMargin)),

    // edge-support census of the co-purchase graph: how many edges
    // are LOCAL BRIDGES (zero shared neighbors) vs embedded in
    // triangles — the weak-tie structure x331's rich club and x104's
    // triangle count both aggregate away
    Entry("x415_edge_support", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.edgeSupportCensus(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst")
    },
      // exact per-edge wedge counts; exact histogram; one IEEE share
      // per row
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b FROM e0 WHERE w >= 6),
        |adj AS (SELECT a AS z, b AS n FROM und
        |  UNION ALL SELECT b AS z, a AS n FROM und),
        |wed AS (SELECT x.n AS a, y.n AS b, count(*)::BIGINT AS sup
        |  FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n
        |  GROUP BY 1, 2),
        |pe AS (SELECT coalesce(wed.sup, 0)::BIGINT AS support
        |  FROM und LEFT JOIN wed ON wed.a = und.a AND wed.b = und.b),
        |hist AS (SELECT support, count(*)::BIGINT AS n_edges FROM pe
        |  GROUP BY 1),
        |tot AS (SELECT sum(n_edges)::BIGINT AS m,
        |    round(coalesce(sum(CASE WHEN support = 0 THEN n_edges
        |      END), 0)::DOUBLE / sum(n_edges)::DOUBLE, 6)
        |      AS bridge_share FROM hist)
        |SELECT support, n_edges,
        |  round(n_edges::DOUBLE / m::DOUBLE, 6) AS share, bridge_share
        |FROM hist CROSS JOIN tot ORDER BY support""".stripMargin)),

    // Hopkins clusterability of the embeddings: are there REAL clumps
    // for SemDeDup cells to find, or would k-means carve uniform fog
    Entry("x417_hopkins", (s, dir) =>
      Similarity.hopkinsStatistic(
        Registrar.table(s, dir, "embeddings"), "vec_id",
        "embedding", every = 10),
      // exact x1e6 bounding box; md5 52-bit uniform synthetics (the KMV
      // idiom); x354 9-dp NN distances; one IEEE ratio
      Oracle("""WITH base AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |box AS (SELECT d, min(k)::BIGINT AS lo, max(k)::BIGINT AS hi
        |  FROM (SELECT generate_subscripts(v, 1) - 1 AS d,
        |    round(unnest(v) * 1000000.0)::BIGINT AS k FROM base)
        |  GROUP BY 1),
        |sids AS (SELECT id FROM base WHERE id % 10 = 0),
        |synth AS (SELECT id AS qid, list(c ORDER BY d) AS qv FROM (
        |  SELECT sids.id, box.d,
        |    (box.lo::DOUBLE + ('0x' || substring(md5('hop:' ||
        |      sids.id::VARCHAR || ':' || box.d::VARCHAR), 1, 13))
        |      ::BIGINT::DOUBLE / 4503599627370496.0::DOUBLE *
        |      (box.hi - box.lo)::DOUBLE) / 1000000.0::DOUBLE AS c
        |  FROM sids CROSS JOIN box) GROUP BY id),
        |wp AS (SELECT q.id AS qid, b.id AS bid,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> (b.v[i] - q.v[i]) * (b.v[i] - q.v[i]))), 9) AS d2
        |  FROM base b CROSS JOIN (SELECT id, v FROM base
        |    WHERE id % 10 = 0) q
        |  WHERE b.id <> q.id),
        |wnn AS (SELECT count(*)::BIGINT AS m,
        |    sum(round(sqrt(d2), 9)) AS sw FROM (
        |  SELECT qid, d2, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2, bid) AS rk FROM wp) WHERE rk = 1),
        |up AS (SELECT s.qid, b.id AS bid,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> (b.v[i] - s.qv[i]) * (b.v[i] - s.qv[i]))), 9) AS d2
        |  FROM base b CROSS JOIN synth s),
        |unn AS (SELECT count(*)::BIGINT AS mu,
        |    sum(round(sqrt(d2), 9)) AS su FROM (
        |  SELECT qid, d2, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2, bid) AS rk FROM up) WHERE rk = 1)
        |SELECT m, round(su, 6) AS sum_u, round(sw, 6) AS sum_w,
        |  round(su / nullif(su + sw, 0.0), 6) AS hopkins
        |FROM wnn CROSS JOIN unn""".stripMargin)),

    // random-pair cosine baseline: the measured similarity of two
    // UNRELATED vectors — what every near-dup threshold is implicitly
    // a claim about
    Entry("x418_random_pair_cos", (s, dir) =>
      Similarity.randomPairCosine(
        Registrar.table(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // md5-ordered disjoint pairs (linear, never a pair join); 9-dp
      // cosines; exact quantile ladder
      Oracle("""WITH ordered AS (SELECT v,
        |    row_number() OVER (ORDER BY md5('rpc:' || id), id) AS rn
        |  FROM (SELECT vec_id::VARCHAR AS id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |    FROM embeddings)),
        |pr AS (SELECT (rn - 1) // 2 AS pair, (rn - 1) % 2 AS side, v
        |  FROM ordered),
        |cos AS (SELECT round(
        |    list_sum(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i])) /
        |    nullif(sqrt(list_sum(list_transform(a.v,
        |        x -> x * x))) *
        |      sqrt(list_sum(list_transform(b.v, x -> x * x))), 0.0),
        |    9) AS c
        |  FROM (SELECT pair, v FROM pr WHERE side = 0) a
        |  JOIN (SELECT pair, v FROM pr WHERE side = 1) b
        |    ON a.pair = b.pair
        |  WHERE round(
        |    list_sum(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i])) /
        |    nullif(sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |      sqrt(list_sum(list_transform(b.v, x -> x * x))), 0.0),
        |    9) IS NOT NULL),
        |byv AS (SELECT c, count(*)::BIGINT AS t FROM cos GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS n FROM byv),
        |lad AS (SELECT c, (sum(t) OVER (ORDER BY c ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum, n
        |  FROM byv CROSS JOIN tot),
        |qs AS (SELECT
        |    min(CASE WHEN cum >= -floor(-0.5::DOUBLE * n::DOUBLE)
        |      THEN c END) AS p50,
        |    min(CASE WHEN cum >= -floor(-0.9::DOUBLE * n::DOUBLE)
        |      THEN c END) AS p90,
        |    min(CASE WHEN cum >= -floor(-0.99::DOUBLE * n::DOUBLE)
        |      THEN c END) AS p99
        |  FROM lad),
        |mom AS (SELECT count(*)::BIGINT AS n_pairs, avg(c) AS m,
        |    sqrt((sum(c * c) - sum(c) * (sum(c) /
        |      count(*)::DOUBLE)) /
        |      nullif(count(*)::DOUBLE - 1.0::DOUBLE, 0.0)) AS sd
        |  FROM cos)
        |SELECT n_pairs, round(m, 6) AS mean_cos, round(sd, 6) AS sd_cos,
        |  round(p50, 6) AS p50, round(p90, 6) AS p90,
        |  round(p99, 6) AS p99
        |FROM mom CROSS JOIN qs""".stripMargin)),

    // ROUGE-2 corpus-internal baseline: clipped multiset bigram P/R/F1
    // over md5-random disjoint pairs (the x418 pairing idiom) — the
    // measured overlap of two UNRELATED docs, what any ROUGE threshold
    // is implicitly a claim about; per-pair rows, exact counts
    Entry("x424_rouge_baseline", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ordered = docs.select(F.col("doc_id"))
        .withColumn("__h", F.md5(F.concat(F.lit("rgb:"),
          F.col("doc_id").cast("string"))))
        .withColumn("__rn", F.row_number().over(
          Window.orderBy(F.col("__h"), F.col("doc_id"))))
        .withColumn("__pair",
          F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
        .withColumn("__side", (F.col("__rn") - 1L) % 2L)
      val pairs = ordered.filter(F.col("__side") === 0L)
        .select(F.col("__pair"), F.col("doc_id").as("a"))
        .join(ordered.filter(F.col("__side") === 1L)
          .select(F.col("__pair"), F.col("doc_id").as("b")), "__pair")
        .select("a", "b")
      TextOps.rougeN(pairs, docs, "doc_id", "text", n = 2)
    },
      // md5 pairing (x418 idiom); stdlib whitespace tokens; clipped
      // multiset bigram counts; f1 = 2m/(ca+cb) EXACT (never rounded-P /
      // rounded-R — the x221 rule)
      Oracle("""WITH ordered AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY md5('rgb:' || doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents),
        |pr AS (SELECT (rn - 1) // 2 AS pair, (rn - 1) % 2 AS side,
        |    doc_id FROM ordered),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM (SELECT pair, doc_id FROM pr WHERE side = 0) x
        |  JOIN (SELECT pair, doc_id FROM pr WHERE side = 1) y
        |    USING (pair)),
        |toks AS (SELECT doc_id, list_filter(string_split_regex(
        |    lower(trim(coalesce(text, ''))), '\s+'),
        |    t -> length(t) > 0) AS ts
        |  FROM documents
        |  WHERE doc_id IN (SELECT a FROM pairs UNION
        |    SELECT b FROM pairs)),
        |grams AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS g
        |  FROM toks WHERE len(ts) >= 2)
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c)::BIGINT AS t FROM grams
        |  GROUP BY 1),
        |m AS (SELECT p.a, p.b, sum(least(ga.c, gb.c))::BIGINT AS mm
        |  FROM pairs p
        |  JOIN grams ga ON ga.doc_id = p.a
        |  JOIN grams gb ON gb.doc_id = p.b AND gb.g = ga.g
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, coalesce(m.mm, 0)::BIGINT AS match_n,
        |  coalesce(ta.t, 0)::BIGINT AS count_a,
        |  coalesce(tb.t, 0)::BIGINT AS count_b,
        |  round(coalesce(m.mm, 0)::DOUBLE /
        |    nullif(coalesce(tb.t, 0)::DOUBLE, 0.0), 6) AS "precision",
        |  round(coalesce(m.mm, 0)::DOUBLE /
        |    nullif(coalesce(ta.t, 0)::DOUBLE, 0.0), 6) AS recall,
        |  round(2.0::DOUBLE * coalesce(m.mm, 0)::DOUBLE /
        |    nullif((coalesce(ta.t, 0) + coalesce(tb.t, 0))::DOUBLE,
        |      0.0), 6) AS f1
        |FROM pairs p
        |LEFT JOIN tot ta ON ta.doc_id = p.a
        |LEFT JOIN tot tb ON tb.doc_id = p.b
        |LEFT JOIN m ON m.a = p.a AND m.b = p.b
        |ORDER BY p.a, p.b""".stripMargin)),

    // BLEU-2 over x22's deterministic near-pair list: clipped unigram +
    // bigram precision geomean x brevity penalty — the eval-harness
    // scoring of candidate pairs (ROUGE's precision-side sibling)
    Entry("x425_bleu_pairs", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"),
          (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 10 < 3)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      TextOps.bleuPairs(pairs, docs, "doc_id", "text", maxN = 2)
    },
      // x22's pair list; clipped unigram/bigram matches as exact longs;
      // bleu ONE 6-dp IEEE expression (c1 = len_b, c2 = len_b - 1 derived
      // from the token length, never a second census)
      Oracle("""WITH ids AS (SELECT doc_id FROM documents),
        |pairs AS (SELECT a.doc_id AS a, a.doc_id + 1 AS b FROM ids a
        |  WHERE a.doc_id % 10 < 3 AND EXISTS (
        |    SELECT 1 FROM ids x WHERE x.doc_id = a.doc_id + 1)),
        |toks AS (SELECT doc_id, list_filter(string_split_regex(
        |    lower(trim(coalesce(text, ''))), '\s+'),
        |    t -> length(t) > 0) AS ts
        |  FROM documents
        |  WHERE doc_id IN (SELECT a FROM pairs UNION
        |    SELECT b FROM pairs)),
        |lens AS (SELECT doc_id, len(ts)::BIGINT AS l FROM toks),
        |g1 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(ts) AS g FROM toks) GROUP BY 1, 2),
        |g2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS g
        |  FROM toks WHERE len(ts) >= 2) GROUP BY 1, 2),
        |mm1 AS (SELECT p.a, p.b, sum(least(x.c, y.c))::BIGINT AS mm
        |  FROM pairs p JOIN g1 x ON x.doc_id = p.a
        |  JOIN g1 y ON y.doc_id = p.b AND y.g = x.g GROUP BY 1, 2),
        |mm2 AS (SELECT p.a, p.b, sum(least(x.c, y.c))::BIGINT AS mm
        |  FROM pairs p JOIN g2 x ON x.doc_id = p.a
        |  JOIN g2 y ON y.doc_id = p.b AND y.g = x.g GROUP BY 1, 2),
        |j AS (SELECT p.a, p.b,
        |    coalesce(la.l, 0)::BIGINT AS len_a,
        |    coalesce(lb.l, 0)::BIGINT AS len_b,
        |    coalesce(mm1.mm, 0)::BIGINT AS m1,
        |    coalesce(mm2.mm, 0)::BIGINT AS m2
        |  FROM pairs p
        |  LEFT JOIN lens la ON la.doc_id = p.a
        |  LEFT JOIN lens lb ON lb.doc_id = p.b
        |  LEFT JOIN mm1 ON mm1.a = p.a AND mm1.b = p.b
        |  LEFT JOIN mm2 ON mm2.a = p.a AND mm2.b = p.b)
        |SELECT a, b, len_a, len_b, m1, m2,
        |  CASE WHEN len_b = 0 THEN NULL
        |    WHEN m1 = 0 OR m2 = 0 OR len_b - 1 <= 0 THEN 0.0
        |    ELSE round((CASE WHEN len_b >= len_a THEN 1.0::DOUBLE
        |        ELSE exp(1.0::DOUBLE - len_a::DOUBLE / len_b::DOUBLE)
        |        END) *
        |      sqrt((m1::DOUBLE / len_b::DOUBLE) *
        |        (m2::DOUBLE / (len_b - 1)::DOUBLE)), 6)
        |  END AS bleu
        |FROM j ORDER BY a, b""".stripMargin)),

    // JSON key profile of events.props: what schema the side-car JSON
    // actually has — per-key presence, distinct values, string min/max
    Entry("x429_json_profile", (s, dir) =>
      graft.ops.Quality.jsonKeyProfile(
        Registrar.table(s, dir, "events"), "props"),
      // json_keys explode + json_extract_string (the token-text rendering
      // both engines share); json_valid mirrors Spark's skip-malformed
      // semantics (DuckDB json_keys would RAISE where Spark's
      // json_object_keys yields NULL); exact longs, one IEEE share
      Oracle("""WITH tot AS (SELECT count(*)::BIGINT AS n FROM events),
        |kv AS (SELECT k, json_extract_string(props, '$.' || k) AS v
        |  FROM (SELECT props, unnest(json_keys(props)) AS k
        |    FROM events WHERE json_valid(props)))
        |SELECT k AS key, count(*)::BIGINT AS n_present,
        |  round(count(*)::DOUBLE / nullif(n::DOUBLE, 0.0), 6)
        |    AS present_share,
        |  count(DISTINCT v)::BIGINT AS n_distinct,
        |  min(v) AS min_value, max(v) AS max_value
        |FROM kv CROSS JOIN tot
        |GROUP BY k, n ORDER BY key""".stripMargin)),

    // NEAR-dup media: gear-CDC byte-chunk MinHash + banded LSH over the
    // synthesized binary payloads — chunk overlap catches the
    // re-hosted/truncated/patched variants exact-byte md5 (x420) cannot;
    // bytes reduce to signatures inside the scan task (native
    // expression), nothing binary shuffles. xxhash64-based -> rows-only;
    // the chunk-minhash math is pinned by the x431 md5 twin and the CDC
    // boundary walk by OpsSpec hand cases.
    Entry("x430_media_neardup", (s, dir) => {
      val media = graft.ops.Multimodal.synthesizeMedia(
        Registrar.table(s, dir, "documents"))
      graft.ops.Multimodal.mediaNearDupPairs(media, "doc_id", "media",
          threshold = 0.5)
        .orderBy("a", "b")
    },
      PinnedBy("x431_chunk_minhash_fixed", "x478_media_neardup_verify")),

    // the chunk-MinHash math (Carter-Wegman mins over per-chunk hashes)
    // oracled with engine-neutral primitives, the x43 convention: FIXED
    // 64-char chunks of the first 2048 text chars (the content-defined
    // boundary walk is sequential state DuckDB lists cannot replay —
    // OpsSpec pins it by hand instead) + md5-derived 28-bit chunk hashes
    // + the shared OracleAB constants. x430 is the production byte-CDC
    // path.
    Entry("x431_chunk_minhash_fixed", (s, dir) =>
      md5ChunkHashes(Registrar.table(s, dir, "documents")
          .filter(F.col("doc_id") % 10 === 0), "doc_id")
        .select(F.col("doc_id"),
          F.concat_ws(",", oracleMins.map(_.cast("string")): _*).as("sig_csv"))
        .orderBy("doc_id"),
      // generated from the same OracleAB/OracleP constants as the Spark
      // side; fixed 64-char chunks over the first 2048 chars, md5-derived
      // 28-bit chunk hashes (the x43 idiom applied to chunking)
      Oracle {
        val csv = OracleAB.map { case (a, b) =>
          s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP))::VARCHAR"
        }.mkString(" || ',' || ")
        s"""WITH t AS (
           |  SELECT doc_id, substring(text, 1, 2048) AS t
           |  FROM documents WHERE doc_id % 10 = 0
           |), ch AS (
           |  SELECT doc_id, list_transform(
           |    range(0, greatest((length(t) + 63) // 64, 1)),
           |    i -> substring(t, (i*64 + 1)::INT, 64)) AS cs
           |  FROM t
           |), hs AS (
           |  SELECT doc_id, list_transform(cs,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM ch
           |)
           |SELECT doc_id, $csv AS sig_csv FROM hs ORDER BY doc_id""".stripMargin
      }),

    // encoding-defect census per source, with PLANTED defects (doc_id %
    // 11 routing -- the planted-variant convention: the synthetic corpus
    // is clean, so known-positive rows pin all four regex censuses):
    // %11=0 U+FFFD, =1 the A-tilde/e-acute double-encode digram, =2 a
    // C1 control (NEL), =3 a C0 control (BEL)
    Entry("x432_encoding_defects", (s, dir) => {
      val m = F.col("doc_id") % 11
      val planted = Registrar.table(s, dir, "documents")
        .withColumn("text",
          F.when(m === 0, F.concat(F.col("text"), F.lit("\uFFFD")))
            .when(m === 1, F.concat(F.col("text"),
              F.lit("\u00C3\u00A9")))
            .when(m === 2, F.concat(F.col("text"), F.lit("\u0085")))
            .when(m === 3, F.concat(F.col("text"), F.lit("\u0007")))
            .otherwise(F.col("text")))
      graft.ops.Curation.encodingDefectCensus(planted, Seq("source"),
        "text")
    },
      // same planted-defect routing via chr(); RE2 codepoint classes
      // mirror the Java ranges exactly
      Oracle("""WITH p AS (SELECT source, CASE (doc_id % 11)
        |    WHEN 0 THEN text || chr(65533)
        |    WHEN 1 THEN text || chr(195) || chr(169)
        |    WHEN 2 THEN text || chr(133)
        |    WHEN 3 THEN text || chr(7)
        |    ELSE text END AS t
        |  FROM documents),
        |f AS (SELECT source,
        |  CASE WHEN regexp_matches(t, chr(65533)) THEN 1 ELSE 0 END
        |    AS r,
        |  CASE WHEN regexp_matches(t, '[' || chr(195) || chr(194) ||
        |    '][\x{0080}-\x{00BF}]|' || chr(226) || chr(8364))
        |    THEN 1 ELSE 0 END AS d,
        |  CASE WHEN regexp_matches(t, '[\x{0080}-\x{009F}]')
        |    THEN 1 ELSE 0 END AS c,
        |  CASE WHEN regexp_matches(t,
        |    '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')
        |    THEN 1 ELSE 0 END AS tc
        |  FROM p)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(r)::BIGINT AS n_repl, sum(d)::BIGINT AS n_double_enc,
        |  sum(c)::BIGINT AS n_c1, sum(tc)::BIGINT AS n_ctl,
        |  sum(greatest(r, d, c, tc))::BIGINT AS n_defect,
        |  round(sum(greatest(r, d, c, tc))::DOUBLE /
        |    nullif(count(*)::DOUBLE, 0.0), 6) AS defect_share
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // cross-source duplicate-containment matrix with PLANTED mirrors
    // (every doc_id%13 doc re-listed under source||'_m' -- the corpus
    // has no natural exact dups, x01-verified): mirror->origin rows
    // read containment 1.0, origin->mirror ~1/13 -- the "drop the
    // re-hosted dump" budget readout
    Entry("x433_source_overlap", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val mirrored = d.unionByName(
        d.filter(F.col("doc_id") % 13 === 0)
          .withColumn("source", F.concat(F.col("source"), F.lit("_m"))))
      graft.ops.Dedup.sourceOverlapMatrix(mirrored, "source", "text")
    },
      // same mirror planting; DISTINCT (source, fp) census + fp-keyed
      // self-join; kept zero rows via the grid left join
      Oracle("""WITH u AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source || '_m' AS source, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |f AS (SELECT DISTINCT source AS g,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM u),
        |tot AS (SELECT g, count(*)::BIGINT AS n FROM f GROUP BY 1),
        |sh AS (SELECT a.g AS src_a, b.g AS src_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.g <> b.g
        |  GROUP BY 1, 2),
        |grid AS (SELECT a.g AS src_a, a.n AS n_fp_a, b.g AS src_b
        |  FROM tot a CROSS JOIN tot b WHERE a.g <> b.g)
        |SELECT src_a, src_b, n_fp_a,
        |  coalesce(n_shared, 0)::BIGINT AS n_shared,
        |  round(coalesce(n_shared, 0)::DOUBLE /
        |    nullif(n_fp_a::DOUBLE, 0.0), 6) AS containment
        |FROM grid LEFT JOIN sh USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin)),

    // packing-efficiency census at maxTokens=2048 over n_chars: prices
    // the waste-vs-overrun trade of the packSequences assignment per
    // source shard (exact integer prefix sums -- cross-engine-safe)
    Entry("x434_packing_efficiency", (s, dir) =>
      graft.ops.Curation.packingEfficiency(
        Registrar.table(s, dir, "documents"), "source", "doc_id",
        "n_chars", 2048),
      // exact integer prefix sums (order-exact cross-engine); bin =
      // pre-doc cum // 2048; underfill-only waste, overruns censused
      Oracle("""WITH c AS (SELECT source, n_chars::BIGINT AS tok,
        |    coalesce(sum(n_chars::BIGINT) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0)::BIGINT AS cum
        |  FROM documents),
        |b AS (SELECT source, cum // 2048 AS bin, count(*)::BIGINT AS nd,
        |    sum(tok)::BIGINT AS bt FROM c GROUP BY 1, 2)
        |SELECT source, sum(nd)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_bins, sum(bt)::BIGINT AS total_tokens,
        |  coalesce(sum(CASE WHEN bt > 2048 THEN 1 END), 0)::BIGINT
        |    AS overrun_bins,
        |  coalesce(sum(CASE WHEN bt < 2048 THEN 2048 - bt END),
        |    0)::BIGINT AS waste_tokens,
        |  max(bt)::BIGINT AS max_bin_tokens,
        |  round(sum(bt)::DOUBLE / (count(*) * 2048)::DOUBLE, 6)
        |    AS fill_rate,
        |  round(coalesce(sum(CASE WHEN bt < 2048 THEN 2048 - bt END),
        |    0)::DOUBLE / (count(*) * 2048)::DOUBLE, 6) AS waste_share
        |FROM b GROUP BY source ORDER BY source""".stripMargin)),

    // Flesch/FK readability census per source: exact W/S/SY structural
    // counts (vowel-group syllable heuristic), two 6-dp IEEE scores off
    // slice totals
    Entry("x435_readability", (s, dir) =>
      graft.ops.TextOps.readability(
        Registrar.table(s, dir, "documents"), Seq("source"), "text"),
      // split-keeps-empties parity: matches = pieces - 1 on both engines;
      // vowel-less tokens clamp to 1 syllable; constants single literals
      Oracle("""WITH per AS (SELECT source,
        |    len(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), x -> length(x) > 0))::BIGINT AS w,
        |    (len(string_split_regex(text, '[.!?]+')) - 1)::BIGINT
        |      AS sraw,
        |    (len(string_split_regex(lower(text), '[aeiouy]+')) - 1)
        |      ::BIGINT AS vg,
        |    len(list_filter(list_filter(string_split_regex(
        |      lower(trim(text)), '\s+'), x -> length(x) > 0),
        |      x -> NOT regexp_matches(x, '[aeiouy]')))::BIGINT AS zv
        |  FROM documents),
        |a AS (SELECT source, w,
        |    CASE WHEN w > 0 THEN greatest(sraw, 1) ELSE 0 END AS s,
        |    CASE WHEN w > 0 THEN vg + zv ELSE 0 END AS sy FROM per),
        |g AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(w)::BIGINT AS words, sum(s)::BIGINT AS sentences,
        |    sum(sy)::BIGINT AS syllables FROM a GROUP BY 1)
        |SELECT source, n_docs, words, sentences, syllables,
        |  round(words::DOUBLE / nullif(sentences::DOUBLE, 0.0), 6)
        |    AS words_per_sentence,
        |  round(syllables::DOUBLE / nullif(words::DOUBLE, 0.0), 6)
        |    AS syllables_per_word,
        |  round(206.835::DOUBLE
        |    - 1.015::DOUBLE * (words::DOUBLE /
        |        nullif(sentences::DOUBLE, 0.0))
        |    - 84.6::DOUBLE * (syllables::DOUBLE /
        |        nullif(words::DOUBLE, 0.0)), 6) AS flesch,
        |  round(0.39::DOUBLE * (words::DOUBLE /
        |      nullif(sentences::DOUBLE, 0.0))
        |    + 11.8::DOUBLE * (syllables::DOUBLE /
        |        nullif(words::DOUBLE, 0.0))
        |    - 15.59::DOUBLE, 6) AS fk_grade
        |FROM g ORDER BY source""".stripMargin)),

    // cluster-atomic split assignment over planted mirror pairs (the
    // x433 planting): a near-dup cluster lands in ONE split by
    // construction -- per-doc (rep, split) compared exactly, the
    // strongest check the md5-prefix scheme allows
    Entry("x436_cluster_split", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val mirrors = d.filter(F.col("doc_id") % 13 === 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10000000L))
      val pairs = d.filter(F.col("doc_id") % 13 === 0)
        .select(F.col("doc_id").as("a"),
          (F.col("doc_id") + F.lit(10000000L)).as("b"))
      graft.ops.Curation.splitByCluster(d.unionByName(mirrors), "doc_id",
          pairs, Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    },
      // mirrors are the only ids >= 10^7, so rep is a CASE, and the split
      // replays splitAssign's '0'-prefixed md5 16-bit bucket scheme with
      // bounds generated from the same round(c*65536) formula
      Oracle {
        val bs = Seq(0.8, 0.9).map(c => f"${math.round(c * 65536.0).toInt}%05x")
        s"""WITH u AS (SELECT doc_id FROM documents
          |  UNION ALL SELECT doc_id + 10000000 AS doc_id FROM documents
          |  WHERE doc_id % 13 = 0),
          |r AS (SELECT doc_id, CASE WHEN doc_id >= 10000000
          |    THEN doc_id - 10000000 ELSE doc_id END AS rep FROM u),
          |h AS (SELECT doc_id, rep,
          |    '0' || substring(md5(rep::VARCHAR), 1, 4) AS hx FROM r)
          |SELECT doc_id, rep,
          |  CASE WHEN hx < '${bs(0)}' THEN 'train'
          |    WHEN hx < '${bs(1)}' THEN 'val' ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin
      }),

    // label-propagation community DETECTION over the x92 customer-
    // supplier co-order graph (the discovery half x416 partitionQuality
    // grades): 3 synchronous self-voting rounds, integer-only argmax --
    // bit-exact cross-engine
    Entry("x437_label_prop", (s, dir) => {
      val e = Registrar.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(Registrar.table(s, dir, "lineitem")
            .select("l_orderkey", "l_suppkey"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("src"),
          (F.col("l_suppkey") + 100000L).as("dst"))
        .distinct()
      graft.ops.Graph.labelPropagation(e, "src", "dst", rounds = 3)
    },
      // same 3 self-voting LPA rounds unrolled as CTE layers; the Spark
      // max(struct(cnt, -label)) argmax is exactly row_number() ORDER BY
      // c DESC, l ASC = 1 -- integer-only, bit-exact
      Oracle {
        val rounds = (1 to 3).map { r =>
          val p = s"l${r - 1}"
          s"""v$r AS (SELECT n.n AS n, l.l AS l
            |  FROM nbrs n JOIN $p l ON n.nb = l.n
            |  UNION ALL SELECT n, l FROM $p),
            |c$r AS (SELECT n, l, count(*)::BIGINT AS c FROM v$r
            |  GROUP BY 1, 2),
            |l$r AS (SELECT n, l FROM (SELECT n, l, row_number()
            |    OVER (PARTITION BY n ORDER BY c DESC, l ASC) AS rn
            |  FROM c$r) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT
        |    least(o_custkey, l_suppkey + 100000) AS a,
        |    greatest(o_custkey, l_suppkey + 100000) AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nbrs AS (SELECT a AS n, b AS nb FROM e
        |  UNION ALL SELECT b AS n, a AS nb FROM e),
        |l0 AS (SELECT DISTINCT n, n AS l FROM nbrs),
        |$rounds
        |SELECT n AS node, l AS community FROM l3 ORDER BY node"""
          .stripMargin
      }),

    // snapshot drift census over a planted ingest break: snapshot A =
    // pre-1998H2 lineitem, snapshot B = 1998H2-on with one column dropped
    // (l_linestatus), one added (l_batch_tag), one re-typed
    // (l_linenumber int->string), and l_returnflag nulled on
    // l_orderkey%7 -- schema status + null-rate drift + 10-bin PSI on
    // the three numeric measures
    Entry("x438_snapshot_drift", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      val cut = F.lit("1998-07-01").cast("timestamp")
      val a = li.filter(F.col("l_shipdate") < cut)
      val b = li.filter(F.col("l_shipdate") >= cut)
        .drop("l_linestatus")
        .withColumn("l_batch_tag", F.lit("b"))
        .withColumn("l_linenumber", F.col("l_linenumber").cast("string"))
        .withColumn("l_returnflag",
          F.when(F.col("l_orderkey") % 7 === 0,
            F.lit(null).cast("string")).otherwise(F.col("l_returnflag")))
      graft.ops.Quality.snapshotDrift(a, b,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    },
      // same planted break; bin index and PSI replay Spark's exact IEEE
      // tree (w = (mx-mn)/10.0, floor((x-mn)/w), Laplace (c+1)/(n+10),
      // 9-dp terms summed to 6 dp)
      Oracle {
        val shared = Seq("l_discount", "l_extendedprice", "l_linenumber",
          "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
          "l_shipdate", "l_suppkey", "l_tax")
        def nullsOf(cte: String, tag: String) = {
          val aggs = shared.map(c =>
            s"coalesce(sum(CASE WHEN $c IS NULL THEN 1 END), 0)::BIGINT" +
              s" AS nn_$c").mkString(", ")
          val rows = shared.map(c =>
            s"""SELECT '$c' AS "column", n AS n_$tag,
               |  round(nn_$c::DOUBLE / nullif(n::DOUBLE, 0.0), 6)
               |    AS null_share_$tag FROM agg_$tag""".stripMargin)
            .mkString("\n  UNION ALL ")
          s"""agg_$tag AS (SELECT count(*)::BIGINT AS n, $aggs FROM $cte),
             |nulls_$tag AS ($rows)""".stripMargin
        }
        val drift = Seq("l_quantity", "l_extendedprice", "l_discount")
        def binsOf(cte: String, tag: String) = drift.map { c =>
          s"""SELECT '$c' AS "column",
             |  least(greatest(floor(($c::DOUBLE - mn_$c) /
             |    ((mx_$c - mn_$c) / 10.0)), 0), 9)::INT AS bin,
             |  count(*)::BIGINT AS c FROM $cte, bounds
             |  WHERE $c IS NOT NULL GROUP BY 1, 2""".stripMargin
        }.mkString("\n  UNION ALL ")
        val boundCols = drift.map(c =>
          s"min($c::DOUBLE) AS mn_$c, max($c::DOUBLE) AS mx_$c")
          .mkString(", ")
        val gridVals = drift.map(c => s"('$c')").mkString(", ")
        val schemaVals = Seq(
          ("l_batch_tag", "added", "NULL", "'string'"),
          ("l_discount", "both", "'double'", "'double'"),
          ("l_extendedprice", "both", "'double'", "'double'"),
          ("l_linenumber", "type_changed", "'int'", "'string'"),
          ("l_linestatus", "removed", "'string'", "NULL"),
          ("l_orderkey", "both", "'bigint'", "'bigint'"),
          ("l_partkey", "both", "'bigint'", "'bigint'"),
          ("l_quantity", "both", "'double'", "'double'"),
          ("l_returnflag", "both", "'string'", "'string'"),
          ("l_shipdate", "both", "'timestamp_ntz'", "'timestamp_ntz'"),
          ("l_suppkey", "both", "'bigint'", "'bigint'"),
          ("l_tax", "both", "'double'", "'double'"))
          .map { case (c, st, x, y) => s"('$c', '$st', $x, $y)" }
          .mkString(",\n    ")
        s"""WITH a AS (SELECT * FROM lineitem
          |  WHERE l_shipdate < TIMESTAMP '1998-07-01'),
          |b AS (SELECT l_orderkey, l_partkey, l_suppkey,
          |    l_linenumber::VARCHAR AS l_linenumber, l_quantity,
          |    l_extendedprice, l_discount, l_tax,
          |    CASE WHEN l_orderkey % 7 = 0 THEN NULL
          |      ELSE l_returnflag END AS l_returnflag,
          |    l_shipdate, 'b' AS l_batch_tag
          |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-07-01'),
          |${nullsOf("a", "a")},
          |${nullsOf("b", "b")},
          |bounds AS (SELECT $boundCols FROM a),
          |ba AS (${binsOf("a", "a")}),
          |bb AS (${binsOf("b", "b")}),
          |grid AS (SELECT g."column", r.range::INT AS bin
          |  FROM (VALUES $gridVals) g("column") CROSS JOIN range(0, 10) r),
          |binned AS (SELECT grid."column", grid.bin,
          |    coalesce(ba.c, 0)::BIGINT AS ca,
          |    coalesce(bb.c, 0)::BIGINT AS cb
          |  FROM grid
          |  LEFT JOIN ba ON ba."column" = grid."column" AND ba.bin = grid.bin
          |  LEFT JOIN bb ON bb."column" = grid."column" AND bb.bin = grid.bin),
          |tot AS (SELECT "column", sum(ca)::BIGINT AS na,
          |    sum(cb)::BIGINT AS nb FROM binned GROUP BY 1),
          |p AS (SELECT binned."column",
          |    (ca::DOUBLE + 1.0) / (na::DOUBLE + 10.0) AS pa,
          |    (cb::DOUBLE + 1.0) / (nb::DOUBLE + 10.0) AS pb
          |  FROM binned JOIN tot USING ("column")),
          |psi AS (SELECT "column",
          |    round(sum(round((pa - pb) * ln(pa / pb), 9)), 6) AS psi
          |  FROM p GROUP BY 1),
          |sch AS (SELECT * FROM (VALUES
          |    $schemaVals) s("column", status, type_a, type_b))
          |SELECT sch."column", status, type_a, type_b, n_a, n_b,
          |  null_share_a, null_share_b,
          |  round(null_share_b - null_share_a, 6) AS null_share_delta, psi
          |FROM sch
          |LEFT JOIN nulls_a USING ("column")
          |LEFT JOIN nulls_b USING ("column")
          |LEFT JOIN psi USING ("column")
          |ORDER BY sch."column"""".stripMargin
      }),

    // declarative data-contract runner with PLANTED violations (the
    // corpus is clean): %17 nulls l_quantity (breaks qty_not_null AND
    // the cross-column rule -- NULL predicate = violation), %19 sets
    // l_discount 0.5 (breaks discount_range); flag_domain and
    // price_positive stay green -- one scan, one readout row per rule
    Entry("x439_expectations", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
        .withColumn("l_quantity",
          F.when(F.col("l_orderkey") % 17 === 0,
            F.lit(null).cast("double")).otherwise(F.col("l_quantity")))
        .withColumn("l_discount",
          F.when(F.col("l_orderkey") % 19 === 0, F.lit(0.5))
            .otherwise(F.col("l_discount")))
      graft.ops.Quality.expectationCensus(li, Seq(
        ("discount_range",
          F.col("l_discount") >= 0.0 && F.col("l_discount") <= 0.1, 0.02),
        ("flag_domain", F.col("l_returnflag").isin("A", "N", "R"), 0.0),
        ("price_positive", F.col("l_extendedprice") > 0.0, 0.0),
        ("qty_not_null", F.col("l_quantity").isNotNull, 0.01),
        ("qty_price_consistent",
          F.col("l_extendedprice") > F.col("l_quantity"), 0.0)))
    },
      // same planted violations; violation = NOT coalesce(pred, false),
      // pass compares the 6-dp rounded share against the literal
      Oracle {
        val rules = Seq(
          ("discount_range", "d >= 0.0 AND d <= 0.1", "0.02"),
          ("flag_domain", "l_returnflag IN ('A', 'N', 'R')", "0.0"),
          ("price_positive", "l_extendedprice > 0.0", "0.0"),
          ("qty_not_null", "q IS NOT NULL", "0.01"),
          ("qty_price_consistent", "l_extendedprice > q", "0.0"))
        val aggs = rules.map { case (n, p, _) =>
          s"coalesce(sum(CASE WHEN NOT coalesce($p, false) THEN 1 END)," +
            s" 0)::BIGINT AS v_$n" }.mkString(",\n  ")
        val rows = rules.map { case (n, _, t) =>
          s"""SELECT '$n' AS rule, n AS n_rows, v_$n AS n_violations,
             |  round(v_$n::DOUBLE / nullif(n::DOUBLE, 0.0), 6)
             |    AS violation_share, $t::DOUBLE AS max_share,
             |  coalesce(round(v_$n::DOUBLE / nullif(n::DOUBLE, 0.0), 6)
             |    <= $t, true) AS pass FROM agg""".stripMargin }
          .mkString("\n  UNION ALL ")
        s"""WITH li AS (SELECT *,
          |    CASE WHEN l_orderkey % 17 = 0 THEN NULL
          |      ELSE l_quantity END AS q,
          |    CASE WHEN l_orderkey % 19 = 0 THEN 0.5
          |      ELSE l_discount END AS d
          |  FROM lineitem),
          |agg AS (SELECT count(*)::BIGINT AS n,
          |  $aggs FROM li)
          |SELECT * FROM ($rows) ORDER BY rule""".stripMargin
      }),

    // epsilon-DP Laplace release of the (source, lang) histogram: noise
    // deterministic from md5(seed|key) via the 24-bit bucket -- the
    // publishable counts next to the raw ones (utility-loss audit form)
    Entry("x440_dp_counts", (s, dir) =>
      graft.ops.Curation.dpNoisyCounts(
        Registrar.table(s, dir, "documents"),
        Seq("source", "lang"), epsilon = 0.5),
      // same md5(seed|key) 24-bit draw and inverse-CDF Laplace tree;
      // sign/abs/ln replayed as single IEEE ops, b = 1/0.5 = 2; key
      // components md5'd individually (r16: separator/NULL collision fix)
      Oracle("""WITH c AS (SELECT source, lang, count(*)::BIGINT AS n_true
        |  FROM documents GROUP BY 1, 2),
        |h AS (SELECT source, lang, n_true,
        |    ((('0x' || substring(md5('dp' || '|' ||
        |      md5(coalesce(source, chr(9216))) || '|' ||
        |      md5(coalesce(lang, chr(9216)))), 1, 6))
        |      ::BIGINT::DOUBLE + 0.5) / 16777216.0) - 0.5
        |      AS cdf
        |  FROM c)
        |SELECT source, lang, n_true,
        |  round(n_true::DOUBLE + (-1.0 / 0.5) * sign(cdf) *
        |    ln(1.0 - 2.0 * abs(cdf)), 6) AS noisy_n
        |FROM h ORDER BY source, lang""".stripMargin)),

    // HyperBall neighborhood function of the (symmetrized) supplier
    // co-occurrence graph: per-hop reachable-pair estimates from
    // iterated HLL register merges -- the scalable distance profile
    // (exact all-pairs BFS is quadratic state). 2 hops, 16 registers;
    // frac_of_max is the effective-diameter readout
    Entry("x444_neighborhood", (s, dir) => {
      val und = graft.ops.Graph.cooccurrenceEdges(
        Registrar.table(s, dir, "lineitem"), "l_orderkey",
        "l_suppkey", minCount = 6)
      val sym = und.select(F.col("src"), F.col("dst")).unionByName(
        und.select(F.col("dst").as("src"), F.col("src").as("dst")))
      graft.ops.Graph.neighborhoodFunction(sym, "src", "dst", hops = 2,
        p = 4)
    },
      // same md5 register derivation (p=4: 1 hex bucket digit, 13-digit
      // rho source) and integer harmonic sum as the x119/x135 hll oracles;
      // register propagation replayed as 2 rounds of edge-join + max-merge
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b FROM e0 WHERE w >= 6),
        |e AS (SELECT a AS s, b AS d FROM und
        |  UNION ALL SELECT b AS s, a AS d FROM und),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT d AS node FROM e)),
        |r0 AS (SELECT node,
        |    ('0x' || substring(md5(node::VARCHAR), 1, 1))::BIGINT
        |      AS bucket,
        |    CASE WHEN ('0x' || substring(md5(node::VARCHAR), 2, 13))
        |        ::BIGINT = 0 THEN 53
        |      ELSE 53 - length(ltrim(bin(('0x' ||
        |        substring(md5(node::VARCHAR), 2, 13))::BIGINT), '0'))
        |    END AS m
        |  FROM nodes),
        |p1 AS (SELECT e.s AS node, r.bucket, r.m
        |    FROM e JOIN r0 r ON r.node = e.d
        |  UNION ALL SELECT node, bucket, m FROM r0),
        |r1 AS (SELECT node, bucket, max(m) AS m FROM p1 GROUP BY 1, 2),
        |p2 AS (SELECT e.s AS node, r.bucket, r.m
        |    FROM e JOIN r1 r ON r.node = e.d
        |  UNION ALL SELECT node, bucket, m FROM r1),
        |r2 AS (SELECT node, bucket, max(m) AS m FROM p2 GROUP BY 1, 2),
        |a0 AS (SELECT node, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np FROM r0 GROUP BY node),
        |a1 AS (SELECT node, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np FROM r1 GROUP BY node),
        |a2 AS (SELECT node, sum(1::BIGINT << (53 - m))::BIGINT AS sp,
        |    count(*) AS np FROM r2 GROUP BY node),
        |x0 AS (SELECT node, 0.7213 / (1.0 + 1.079 / 16.0) * 16.0 * 16.0
        |      * 9007199254740992.0
        |      / (sp + (16 - np) * 9007199254740992)::DOUBLE AS raw,
        |    16 - np AS v FROM a0),
        |x1 AS (SELECT node, 0.7213 / (1.0 + 1.079 / 16.0) * 16.0 * 16.0
        |      * 9007199254740992.0
        |      / (sp + (16 - np) * 9007199254740992)::DOUBLE AS raw,
        |    16 - np AS v FROM a1),
        |x2 AS (SELECT node, 0.7213 / (1.0 + 1.079 / 16.0) * 16.0 * 16.0
        |      * 9007199254740992.0
        |      / (sp + (16 - np) * 9007199254740992)::DOUBLE AS raw,
        |    16 - np AS v FROM a2),
        |n0 AS (SELECT node, round(CASE WHEN raw <= 2.5 * 16.0 AND v > 0
        |    THEN 16.0 * ln(16.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |  FROM x0),
        |n1 AS (SELECT node, round(CASE WHEN raw <= 2.5 * 16.0 AND v > 0
        |    THEN 16.0 * ln(16.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |  FROM x1),
        |n2 AS (SELECT node, round(CASE WHEN raw <= 2.5 * 16.0 AND v > 0
        |    THEN 16.0 * ln(16.0 / v::DOUBLE) ELSE raw END, 6) AS n_est
        |  FROM x2),
        |lv AS (
        |  SELECT 0 AS h, count(*)::BIGINT AS n_nodes,
        |    sum(round(n_est * 1000.0, 0)::BIGINT)::BIGINT AS nf_milli
        |  FROM n0
        |  UNION ALL SELECT 1, count(*)::BIGINT,
        |    sum(round(n_est * 1000.0, 0)::BIGINT)::BIGINT FROM n1
        |  UNION ALL SELECT 2, count(*)::BIGINT,
        |    sum(round(n_est * 1000.0, 0)::BIGINT)::BIGINT FROM n2),
        |lst AS (SELECT nf_milli AS nfh FROM lv WHERE h = 2)
        |SELECT h, n_nodes, nf_milli,
        |  round(nf_milli::DOUBLE / 1000.0 / n_nodes::DOUBLE, 6)
        |    AS avg_ball,
        |  round(nf_milli::DOUBLE / nullif(nfh::DOUBLE, 0.0), 6)
        |    AS frac_of_max
        |FROM lv CROSS JOIN lst ORDER BY h""".stripMargin)),

    // isotonic (PAV) calibration of the x177 classifier scores: the
    // monotone fit computed exactly via the Best-Chakravarti minimax
    // over binned long prefix sums -- the calibration MAP next to
    // x177's reliability readout; no sequential PAV pass, no driver loop
    Entry("x446_isotonic_cal", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.isotonicCalibration(scored,
        F.col("quality_score"), F.col("lang") === "en", nBins = 10)
    },
      // same x177 score replay; minimax isotonic fit from exact long
      // prefix sums, one IEEE division per (i,j) interval, min/max are
      // compares
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT doc_id, lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |b AS (SELECT greatest(0, least(floor(s * 10), 9))::BIGINT
           |    AS bin,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM sc),
           |bins AS (SELECT bin, count(*)::BIGINT AS n,
           |    sum(y)::BIGINT AS sy FROM b GROUP BY bin),
           |pre AS (SELECT bin, n, sy,
           |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS cn,
           |    sum(sy) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS cy
           |  FROM bins),
           |iv AS (SELECT a.bin AS i, b2.bin AS j,
           |    (b2.cy - (a.cy - a.sy))::DOUBLE /
           |      (b2.cn - (a.cn - a.n))::DOUBLE AS avgv
           |  FROM pre a JOIN pre b2 ON a.bin <= b2.bin),
           |mn AS (SELECT k.bin AS k, iv.i, min(avgv) AS mn
           |  FROM pre k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
           |  GROUP BY 1, 2),
           |iso AS (SELECT k, round(max(mn), 6) AS iso_rate FROM mn
           |  GROUP BY k)
           |SELECT bins.bin, bins.n,
           |  round(bins.sy::DOUBLE / bins.n::DOUBLE, 6) AS raw_rate,
           |  iso.iso_rate
           |FROM bins JOIN iso ON iso.k = bins.bin
           |ORDER BY bins.bin""".stripMargin
      }),

    // k-landmark BFS distances on the same symmetrized co-occurrence
    // graph: exact hop-3 distances from 4 md5-chosen landmarks, per-node
    // harmonic closeness in integer milli-units -- the distance
    // complement to x444's reach sizes at k*E instead of N*E cost
    Entry("x445_landmark_dist", (s, dir) => {
      val und = graft.ops.Graph.cooccurrenceEdges(
        Registrar.table(s, dir, "lineitem"), "l_orderkey",
        "l_suppkey", minCount = 6)
      val sym = und.select(F.col("src"), F.col("dst")).unionByName(
        und.select(F.col("dst").as("src"), F.col("src").as("dst")))
      graft.ops.Graph.landmarkDistances(sym, "src", "dst",
        nLandmarks = 4, hops = 3)
    },
      // same md5-ordered landmark pick; 3 BFS rounds unrolled as
      // min-merge CTE layers, integer throughout, one IEEE division per
      // (landmark, node) in the 1000/d milli term
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b FROM e0 WHERE w >= 6),
        |e AS (SELECT a AS s, b AS t FROM und
        |  UNION ALL SELECT b AS s, a AS t FROM und),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e)),
        |lm AS (SELECT node AS l FROM nodes
        |  ORDER BY md5(node::VARCHAR), node LIMIT 4),
        |d0 AS (SELECT l AS lm, l AS node, 0 AS dd FROM lm),
        |d1 AS (SELECT lm, node, min(dd) AS dd FROM (
        |    SELECT lm, node, dd FROM d0
        |    UNION ALL SELECT d0.lm, e.t AS node, d0.dd + 1 AS dd
        |    FROM d0 JOIN e ON e.s = d0.node) GROUP BY 1, 2),
        |d2 AS (SELECT lm, node, min(dd) AS dd FROM (
        |    SELECT lm, node, dd FROM d1
        |    UNION ALL SELECT d1.lm, e.t AS node, d1.dd + 1 AS dd
        |    FROM d1 JOIN e ON e.s = d1.node) GROUP BY 1, 2),
        |d3 AS (SELECT lm, node, min(dd) AS dd FROM (
        |    SELECT lm, node, dd FROM d2
        |    UNION ALL SELECT d2.lm, e.t AS node, d2.dd + 1 AS dd
        |    FROM d2 JOIN e ON e.s = d2.node) GROUP BY 1, 2),
        |per AS (SELECT node, count(*)::BIGINT AS n_reached,
        |    min(dd) AS min_dist, sum(dd)::BIGINT AS sum_dist,
        |    sum(CASE WHEN dd > 0
        |      THEN round(1000.0 / dd::DOUBLE, 0)::BIGINT
        |      ELSE 0 END)::BIGINT AS harmonic_milli
        |  FROM d3 GROUP BY node)
        |SELECT n.node,
        |  coalesce(per.n_reached, 0)::BIGINT AS n_reached,
        |  per.min_dist, per.sum_dist,
        |  coalesce(per.harmonic_milli, 0)::BIGINT AS harmonic_milli
        |FROM nodes n LEFT JOIN per ON per.node = n.node
        |ORDER BY n.node""".stripMargin)),

    // epsilon-DP mean document length by source via the sum/count
    // decomposition: clamp n_chars to [0, 2000] (bounds the sum
    // sensitivity), budget split eps/2 + eps/2, independent md5 noise
    // buckets per query -- the release half next to the true values
    // (utility-loss audit form, the x440 convention)
    Entry("x443_dp_mean", (s, dir) =>
      graft.ops.Curation.dpNoisyMean(
        Registrar.table(s, dir, "documents"),
        Seq("source"), "n_chars", lo = 0L, hi = 2000L, epsilon = 1.0),
      // same clamp-to-long sums and md5(seed|key|tag) noise buckets; the
      // sum noise is sensitivity * (the shared Laplace tree) with the
      // same association order; one round per released scalar
      Oracle("""WITH a AS (SELECT source, count(*)::BIGINT AS n_true,
        |    sum(greatest(0, least(2000, n_chars)))::BIGINT AS sum_true
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
        |h AS (SELECT source, n_true, sum_true,
        |    ((('0x' || substring(md5('dp' || '|' ||
        |      md5(coalesce(source, chr(9216))) || '|' ||
        |      'sum'), 1, 6))::BIGINT::DOUBLE + 0.5) / 16777216.0) - 0.5
        |      AS cs,
        |    ((('0x' || substring(md5('dp' || '|' ||
        |      md5(coalesce(source, chr(9216))) || '|' ||
        |      'cnt'), 1, 6))::BIGINT::DOUBLE + 0.5) / 16777216.0) - 0.5
        |      AS cc
        |  FROM a),
        |n AS (SELECT source, n_true, sum_true,
        |    sum_true::DOUBLE + 2000.0 * ((-1.0 / 0.5) * sign(cs) *
        |      ln(1.0 - 2.0 * abs(cs))) AS ns,
        |    n_true::DOUBLE + (-1.0 / 0.5) * sign(cc) *
        |      ln(1.0 - 2.0 * abs(cc)) AS nn
        |  FROM h)
        |SELECT source, n_true, sum_true,
        |  round(sum_true::DOUBLE / nullif(n_true::DOUBLE, 0.0), 6)
        |    AS mean_true,
        |  round(ns, 6) AS noisy_sum, round(nn, 6) AS noisy_n,
        |  round(ns / nn, 6) AS dp_mean
        |FROM n ORDER BY source""".stripMargin)),

    // k-ary randomized response over the source histogram: each row
    // reports its true source with p=0.75, else an md5-chosen other
    // category; the collector de-biases (c - n*q)/(p - q). The LOCAL-DP
    // sibling of x440's central-DP release (p pinned as a literal so the
    // keep/flip compare never touches an engine exp)
    Entry("x447_randomized_response", (s, dir) =>
      graft.ops.Curation.randomizedResponse(
        Registrar.table(s, dir, "documents"),
        "source", "doc_id", p = 0.75),
      // same md5(seed|tag|id) 24-bit keep draw vs the 0.75 literal, same
      // mod-(k-1) skip-true flip target, same de-bias expression tree
      Oracle("""WITH rows0 AS (SELECT doc_id AS id, source AS cat
        |  FROM documents WHERE source IS NOT NULL),
        |cats AS (SELECT cat, row_number() OVER (ORDER BY cat) AS rn
        |  FROM (SELECT DISTINCT cat FROM rows0)),
        |kt AS (SELECT count(*)::BIGINT AS k FROM cats),
        |nt AS (SELECT count(*)::BIGINT AS n FROM rows0),
        |r AS (SELECT id, rn FROM rows0 JOIN cats USING (cat)),
        |d AS (SELECT id, rn,
        |    ((('0x' || substring(md5('rr' || '|keep|' || id), 1, 6))
        |      ::BIGINT::DOUBLE + 0.5) / 16777216.0) AS u,
        |    ('0x' || substring(md5('rr' || '|alt|' || id), 1, 6))::BIGINT
        |      AS ha
        |  FROM r),
        |rep AS (SELECT CASE WHEN u < 0.75 THEN rn
        |    ELSE CASE WHEN (ha % (kt.k - 1)) + 1 < rn
        |      THEN (ha % (kt.k - 1)) + 1
        |      ELSE (ha % (kt.k - 1)) + 2 END END AS rrn
        |  FROM d, kt),
        |obs AS (SELECT rrn, count(*)::BIGINT AS c FROM rep GROUP BY 1),
        |tru AS (SELECT rn, count(*)::BIGINT AS ct FROM r GROUP BY 1)
        |SELECT cats.cat AS category,
        |  coalesce(tru.ct, 0) AS n_true,
        |  coalesce(obs.c, 0) AS n_obs,
        |  round((coalesce(obs.c, 0)::DOUBLE -
        |      nt.n::DOUBLE * ((1.0 - 0.75) / (kt.k::DOUBLE - 1.0))) /
        |    (0.75 - (1.0 - 0.75) / (kt.k::DOUBLE - 1.0)), 6) AS n_est,
        |  round(ln(0.75 * (kt.k::DOUBLE - 1.0) / (1.0 - 0.75)), 6)
        |    AS epsilon
        |FROM cats LEFT JOIN tru USING (rn)
        |LEFT JOIN obs ON obs.rrn = cats.rn, kt, nt
        |ORDER BY category""".stripMargin)),

    // Markov removal-effect attribution over user journeys: credit each
    // channel by how much conversion probability disappears when its
    // inbound transitions redirect to DROP -- the data-driven companion
    // to x157's positional rules and x183's U-shape
    Entry("x454_markov_attr", (s, dir) =>
      graft.ops.EventOps.markovAttribution(
        Registrar.table(s, dir, "events"),
        Seq("click", "error", "signup", "view"), "purchase",
        rounds = 8),
      // same journey windows and transition census; the 8-round chain
      // recurrence replays as generated single-row CTEs whose term order
      // matches the driver-side fold EXPRESSION-FOR-EXPRESSION (pinned
      // state order, left-associated sums, 9-dp rounds)
      Oracle {
        val chans = Seq("click", "error", "signup", "view")
        val srcs = "start" +: chans
        val tgts = chans ++ Seq("conv", "drop")
        // q-matrix pivot: one row, one column per (src, tgt)
        val qCols = (for (s <- srcs; t <- tgts) yield {
          val fLit = if (s == "start") "'__start'" else s"'$s'"
          val oLit = t match {
            case "conv" => "'__conv'"; case "drop" => "'__drop'"
            case x => s"'$x'"
          }
          s"""coalesce(max(CASE WHEN f = $fLit AND o = $oLit
             |      THEN round(c::DOUBLE / tot::DOUBLE, 9) END), 0.0)
             |      AS q_${s}_$t""".stripMargin
        }).mkString(",\n    ")
        // one chain run: CTE prefix `pr` (e.g. pf, pwclick), with channel
        // `removed` ("" = full chain) redirected to drop
        def runCtes(pr: String, removed: String): String = {
          def qTerm(s: String, t: String): String =
            if (removed.nonEmpty && t == removed) "0.0"
            else if (removed.nonEmpty && t == "drop")
              s"(q.q_${s}_drop + q.q_${s}_$removed)"
            else s"q.q_${s}_$t"
          val p0 = s"""${pr}0 AS MATERIALIZED (SELECT 1.0::DOUBLE AS p_start,
            |  ${chans.map(c => s"0.0::DOUBLE AS p_$c").mkString(", ")},
            |  0.0::DOUBLE AS p_conv, 0.0::DOUBLE AS p_drop)""".stripMargin
          val steps = (1 to 8).map { r =>
            val prev = s"$pr${r - 1}"
            val cols = tgts.map { t =>
              val sum = srcs.map(s => s"$prev.p_$s * ${qTerm(s, t)}")
                .mkString(" + ")
              if (t == "conv" || t == "drop")
                s"round($prev.p_$t + ($sum), 9) AS p_$t"
              else if (removed.nonEmpty && t == removed) s"0.0 AS p_$t"
              else s"round($sum, 9) AS p_$t"
            }.mkString(",\n    ")
            s"""$pr$r AS MATERIALIZED (SELECT 0.0::DOUBLE AS p_start,
               |    $cols
               |  FROM $prev, q)""".stripMargin
          }
          (p0 +: steps).mkString(",\n")
        }
        val runs = (runCtes("pf", "") +: chans.map(c => runCtes(s"pw$c", c)))
          .mkString(",\n")
        val denom = chans.map(c => s"(1.0 - pw${c}8.p_conv / pf8.p_conv)")
          .mkString(" + ")
        val rows = chans.map { c =>
          s"""SELECT '$c' AS channel,
           |  round(pf8.p_conv, 6) AS conv_full,
           |  round(pw${c}8.p_conv, 6) AS conv_without,
           |  round(CASE WHEN pf8.p_conv = 0.0 THEN NULL
           |    ELSE 1.0 - pw${c}8.p_conv / pf8.p_conv END, 6)
           |    AS removal_effect,
           |  round(CASE WHEN pf8.p_conv = 0.0 OR ($denom) = 0.0 THEN NULL
           |    ELSE (1.0 - pw${c}8.p_conv / pf8.p_conv) / ($denom) END, 6)
           |    AS attribution_share
           |FROM pf8, ${chans.map(x => s"pw${x}8").mkString(", ")}"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ev AS (
           |  SELECT user_id, ts, event_id, event_type AS t FROM events
           |  WHERE event_type IN
           |    ('click', 'error', 'purchase', 'signup', 'view')
           |), rk AS (
           |  SELECT user_id, t, row_number() OVER
           |    (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM ev
           |), fc AS (
           |  SELECT user_id, min(rn) AS crn FROM rk WHERE t = 'purchase'
           |  GROUP BY user_id
           |), j AS (
           |  SELECT rk.user_id, rk.t, rk.rn
           |  FROM rk LEFT JOIN fc USING (user_id)
           |  WHERE fc.crn IS NULL OR rk.rn <= fc.crn
           |), edges AS (
           |  SELECT f, o FROM (
           |    SELECT t AS f, coalesce(lead(t) OVER
           |      (PARTITION BY user_id ORDER BY rn), '__drop') AS o
           |    FROM j)
           |  WHERE f <> 'purchase'
           |  UNION ALL
           |  SELECT '__start' AS f, t AS o FROM j WHERE rn = 1
           |), cnts AS (
           |  SELECT f, CASE WHEN o = 'purchase' THEN '__conv' ELSE o END
           |    AS o, count(*)::BIGINT AS c
           |  FROM edges GROUP BY 1, 2
           |), tt AS (SELECT f, sum(c)::BIGINT AS tot FROM cnts GROUP BY f),
           |q AS MATERIALIZED (
           |  SELECT
           |    $qCols
           |  FROM cnts JOIN tt USING (f)
           |),
           |$runs
           |SELECT * FROM (
           |$rows
           |) ORDER BY channel""".stripMargin
      }),

    // cross-source syndication census: x465's banded candidates at
    // est >= 0.5 rolled up by (source, source) — which source pairs
    // share near-identical documents (the mirror/scraper detector)
    Entry("x477_syndication", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val sigs = md5ShingleSigs(s, dir, F.col("doc_id")).localCheckpoint()
      val bands = (0 until 4).map { bnd =>
        val key = F.concat_ws(",", (0 until 4).map(r =>
          F.col(s"s${4 * bnd + r}").cast("string")): _*)
        sigs.select(F.col("doc_id"), F.lit(bnd).as("band"),
          key.as("bkey"))
      }.reduce(_.unionByName(_))
      val cand = bands.as("x").join(bands.as("y"),
          F.col("x.band") === F.col("y.band") &&
            F.col("x.bkey") === F.col("y.bkey") &&
            F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").as("a"), F.col("y.doc_id").as("b"))
        .distinct()
      val est = cand
        .join(sigs.select(F.col("doc_id").as("a") +: (0 until 16).map(
          j => F.col(s"s$j").as(s"xa$j")): _*), "a")
        .join(sigs.select(F.col("doc_id").as("b") +: (0 until 16).map(
          j => F.col(s"s$j").as(s"xb$j")): _*), "b")
        .select(F.col("a"), F.col("b"),
          ((0 until 16).map(j =>
            F.when(F.col(s"xa$j") === F.col(s"xb$j"), 1).otherwise(0))
            .reduce(_ + _).cast("double") / 16.0).as("est"))
        .filter(F.col("est") >= 0.5)
      val src = docs.select(F.col("doc_id"), F.col("source"))
      est
        .join(src.select(F.col("doc_id").as("a"),
          F.col("source").as("__sa")), "a")
        .join(src.select(F.col("doc_id").as("b"),
          F.col("source").as("__sb")), "b")
        .select(F.least(F.col("__sa"), F.col("__sb")).as("src_a"),
          F.greatest(F.col("__sa"), F.col("__sb")).as("src_b"),
          (F.col("__sa") =!= F.col("__sb")).as("__cross"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.max(F.col("__cross")).as("cross_source"))
        .orderBy("src_a", "src_b")
    },
      // x92's round replay with the teleport vector: md5-ordered seed
      // pick, tp = round(1/k, 6) on seeds else 0, dangling mass restarts
      // at the seeds
      // x465's sig/band/candidate CTEs + source rollup at est >= 0.5
      Oracle {
        val sigSel = OracleAB.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP)) AS s$j"
        }.mkString(",\n         |    ")
        val bandRows = (0 until 4).map { bnd =>
          val key = (0 until 4).map(r => s"s${4 * bnd + r}::VARCHAR")
            .mkString(" || ',' || ")
          s"SELECT doc_id, $bnd AS band, $key AS bkey FROM sig"
        }.mkString("\n         |  UNION ALL ")
        val eq = (0 until 16).map(j =>
          s"(CASE WHEN xa.s$j = xb.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 500) AS t
           |  FROM documents WHERE doc_id % 10 = 0
           |), sh AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(length(t) - 4, 1) + 1),
           |    i -> substring(t, i::INT, 5))) AS s
           |  FROM t
           |), hs AS (
           |  SELECT doc_id, list_transform(s,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM sh
           |), sig AS (
           |  SELECT doc_id,
           |    $sigSel
           |  FROM hs
           |), bands AS (
           |  $bandRows
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band
           |    AND x.bkey = y.bkey AND x.doc_id < y.doc_id
           |), est AS (
           |  SELECT c.a, c.b FROM cand c
           |  JOIN sig xa ON xa.doc_id = c.a JOIN sig xb ON xb.doc_id = c.b
           |  WHERE ($eq)::DOUBLE / 16.0 >= 0.5
           |)
           |SELECT least(da.source, db.source) AS src_a,
           |  greatest(da.source, db.source) AS src_b,
           |  count(*)::BIGINT AS n_pairs,
           |  max(da.source <> db.source) AS cross_source
           |FROM est JOIN documents da ON da.doc_id = est.a
           |JOIN documents db ON db.doc_id = est.b
           |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
      }),

    // Fightin' Words (Monroe 2008): top-2 distinctive terms per lang
    // group by prior-shrunk log-odds z — the principled "what makes
    // this subcorpus different" readout raw TF-IDF ratios get wrong
    Entry("x476_fightin_words", (s, dir) =>
      TextOps.fightinWords(Registrar.table(s, dir, "documents"),
        "lang", "text", alpha0 = 10.0, perGroup = 2),
      // same cell/margin counts, same ln/sqrt chain, z rounded before
      // the per-group rank
      Oracle("""WITH cells AS (
        |  SELECT lang AS g, tok AS w, count(*)::BIGINT AS y FROM (
        |    SELECT lang, unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS tok
        |    FROM documents WHERE lang IS NOT NULL)
        |  WHERE length(tok) > 0 GROUP BY 1, 2
        |), tm AS (SELECT w, sum(y)::BIGINT AS tw FROM cells GROUP BY w),
        |gm AS (SELECT g, sum(y)::BIGINT AS ng FROM cells GROUP BY g),
        |nn AS (SELECT sum(tw)::BIGINT AS n FROM tm),
        |sc AS (
        |  SELECT c.g, c.w, c.y,
        |    round(
        |      ln((c.y::DOUBLE + aw) /
        |         (gm.ng::DOUBLE + 10.0 - c.y::DOUBLE - aw))
        |      - ln(((tm.tw - c.y)::DOUBLE + aw) /
        |         ((nn.n - gm.ng)::DOUBLE + 10.0 - (tm.tw - c.y)::DOUBLE
        |           - aw)), 6) AS delta,
        |    round((ln((c.y::DOUBLE + aw) /
        |         (gm.ng::DOUBLE + 10.0 - c.y::DOUBLE - aw))
        |      - ln(((tm.tw - c.y)::DOUBLE + aw) /
        |         ((nn.n - gm.ng)::DOUBLE + 10.0 - (tm.tw - c.y)::DOUBLE
        |           - aw)))
        |      / sqrt(1.0 / (c.y::DOUBLE + aw)
        |        + 1.0 / ((tm.tw - c.y)::DOUBLE + aw)), 6) AS z
        |  FROM (SELECT *, 10.0 * (tw2.tw::DOUBLE / nn2.n::DOUBLE) AS aw
        |    FROM cells c2 JOIN tm tw2 ON c2.w = tw2.w CROSS JOIN nn nn2)
        |    c
        |  JOIN tm ON c.w = tm.w JOIN gm ON c.g = gm.g CROSS JOIN nn
        |)
        |SELECT g AS lang, w AS token, y, delta, z FROM (
        |  SELECT *, row_number() OVER (PARTITION BY g
        |    ORDER BY z DESC, w) AS rk FROM sc)
        |WHERE rk <= 2 ORDER BY lang, z DESC, token""".stripMargin)),

    // expected events-to-conversion per state: 12-round value
    // iteration toward absorbing 'purchase' — how FAR each behavior
    // state sits from converting (x454 asks who gets credit)
    Entry("x475_hitting_time", (s, dir) =>
      graft.ops.EventOps.hittingTime(
        Registrar.table(s, dir, "events"), "purchase",
        iters = 12),
      // generated value-iteration rounds toward the absorbing target
      // (same lag collapse, same 9-dp P, DECIMAL inner products)
      Oracle {
        def round(t: Int): String = {
          val pv = s"v${t - 1}"
          s"""mv$t AS MATERIALIZED (
             |  SELECT p.f AS state,
             |    sum(round(p.p * $pv.v, 9)::DECIMAL(38,9)) AS inm
             |  FROM p JOIN $pv ON p.t = $pv.state GROUP BY p.f),
             |v$t AS MATERIALIZED (
             |  SELECT b.state, b.hasout, b.tgt,
             |    CASE WHEN b.tgt THEN 0.0
             |      WHEN NOT b.hasout THEN $pv.v
             |      ELSE round(1.0 + coalesce(mv$t.inm::DOUBLE, 0.0), 9)
             |    END AS v
             |  FROM base b LEFT JOIN mv$t USING (state)
             |  JOIN $pv USING (state))""".stripMargin
        }
        val rounds = (1 to 12).map(round).mkString(",\n")
        s"""WITH e AS (
           |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu,
           |    event_id AS eid
           |  FROM events
           |), lagd AS (
           |  SELECT et AS nt,
           |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS pt
           |  FROM e
           |), c AS (
           |  SELECT pt AS f, nt AS t, count(*)::BIGINT AS n
           |  FROM lagd WHERE pt IS NOT NULL GROUP BY 1, 2
           |), p AS MATERIALIZED (
           |  SELECT f, t, round(n::DOUBLE /
           |    (sum(n) OVER (PARTITION BY f))::DOUBLE, 9) AS p
           |  FROM c
           |), base AS MATERIALIZED (
           |  SELECT s.state,
           |    max(CASE WHEN po.f IS NOT NULL THEN true ELSE false END)
           |      AS hasout,
           |    (s.state = 'purchase') AS tgt
           |  FROM (SELECT f AS state FROM c UNION SELECT t FROM c) s
           |  LEFT JOIN (SELECT DISTINCT f FROM p) po ON po.f = s.state
           |  GROUP BY s.state
           |), v0 AS MATERIALIZED (
           |  SELECT state, hasout, tgt, 0.0::DOUBLE AS v FROM base
           |),
           |$rounds
           |SELECT state, round(v, 6) AS t_hit, tgt AS is_target,
           |  12::BIGINT AS horizon
           |FROM v12 ORDER BY state""".stripMargin
      }),

    // per-token dispersion census (Church-Gale burstiness): Fano and
    // mean-when-present for the top-12 tokens — stopword vs topic-word
    // discrimination for list induction
    Entry("x474_token_dispersion", (s, dir) =>
      TextOps.tokenDispersion(Registrar.table(s, dir, "documents"),
        "doc_id", "text", topK = 12),
      // same (doc, token) collapse and exact integer moments; the zeros
      // of absent docs enter Var via D alone
      Oracle("""WITH pd AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS x FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0 GROUP BY doc_id, tok
        |), dd AS (SELECT count(*)::BIGINT AS d FROM documents),
        |pt AS (
        |  SELECT tok, count(*)::BIGINT AS df, sum(x)::BIGINT AS total,
        |    sum(x * x)::BIGINT AS x2
        |  FROM pd GROUP BY tok
        |), top AS (
        |  SELECT * FROM pt CROSS JOIN dd
        |  ORDER BY total DESC, tok LIMIT 12
        |)
        |SELECT tok AS token, df, total,
        |  round(total::DOUBLE / d::DOUBLE, 6) AS mean_per_doc,
        |  round(total::DOUBLE / df::DOUBLE, 6) AS mean_when_present,
        |  round((x2::DOUBLE / d::DOUBLE
        |    - (total::DOUBLE / d::DOUBLE) * (total::DOUBLE / d::DOUBLE))
        |    / nullif(total::DOUBLE / d::DOUBLE, 0), 6) AS fano
        |FROM top ORDER BY total DESC, token""".stripMargin)),

    // LSH banding planner calibrated on the corpus's own random-pair
    // similarity sample: expected false-candidate and miss rates per
    // (bands, rows) split of the 16-component signature at t = 0.5
    Entry("x473_lsh_planner", (s, dir) => {
      val sigs = md5ShingleSigs(s, dir, F.col("doc_id").cast("string").as("__id"))
      val ordered = sigs
        .withColumn("__h", F.md5(F.concat(F.lit("lshp:"), F.col("__id"))))
        .withColumn("__rn", F.row_number().over(Window.orderBy(
          F.col("__h"), F.col("__id"))))
        .withColumn("__pair",
          F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
        .withColumn("__side", (F.col("__rn") - 1L) % 2L)
      val a = ordered.filter(F.col("__side") === 0L)
        .select(F.col("__pair") +: (0 until 16).map(j =>
          F.col(s"s$j").as(s"a$j")): _*)
      val b = ordered.filter(F.col("__side") === 1L)
        .select(F.col("__pair") +: (0 until 16).map(j =>
          F.col(s"s$j").as(s"b$j")): _*)
      val sims = a.join(b, "__pair")
        .select(((0 until 16).map(j =>
          F.when(F.col(s"a$j") === F.col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / 16.0).as("sim"))
      Dedup.lshBandingPlan(sims, "sim", nComponents = 16,
        threshold = 0.5)
    },
      // same sigs + 'lshp:' pairing; the s-curve powers are the SAME
      // explicit squaring chains (pow is not correctly-rounded
      // everywhere; chained IEEE multiplies are bit-identical)
      Oracle(s"$LshPlannerPlanSql ORDER BY bands")),

    // oracle twin for x430's CANDIDATE+VERIFY stage (the banding →
    // bucket → hot-bucket guard → SigEqFrac → threshold → pair-dedup
    // pipeline both mediaNearDupPairs and minhashPairs share via
    // candidatePairsFromSignatures): md5-derived x431 chunk signatures
    // stand in for the xxhash64 CDC ones, PLANTED truncated payload
    // variants (doc_id%21, id+1e9, first 4/5 of the chars — the
    // truncated-download shape) provide known near-dup structure. The
    // signature stage itself is pinned by x431 + OpsSpec CDC hand
    // cases; chunking is on the payload TEXT's chars (byte-identical
    // for ASCII payloads — DuckDB md5 is VARCHAR-only).
    Entry("x478_media_neardup_verify", (s, dir) => {
      val base = Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 7 === 0)
        .select(F.col("doc_id"), F.col("text"))
      val variant = base.filter(F.col("doc_id") % 3 === 0)
        .select((F.col("doc_id") + 1000000000L).as("doc_id"),
          F.col("text").substr(F.lit(1),
            F.greatest(F.floor(F.length(F.col("text")) * 4 / 5)
              .cast("int"), F.lit(1))).as("text"))
      val sigged = md5ChunkHashes(base.unionByName(variant), "doc_id")
        .select(F.col("doc_id"), F.array(oracleMins: _*).as("__sig"))
        .repartition(F.col("doc_id"))
      graft.ops.Dedup.candidatePairsFromSignatures(sigged, "doc_id",
          bands = 4, rows = 4, threshold = 0.5, maxBucket = 1000)
        .orderBy("a", "b")
    },
      // x430's candidate+verify stage replayed end-to-end: same banding
      // (bucket key = the band's signature slice — the xxhash64 band hash
      // only partitions by slice equality), same hot-bucket guard, same
      // eq-fraction verify (16 = 2^4, so eq/16 is IEEE-exact), same
      // threshold + pair dedup; planted truncated variants at doc_id%21
      Oracle {
        val sigSel = OracleAB.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP))"
        }.mkString(",\n         |      ")
        s"""WITH base AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
           |), vari AS (
           |  SELECT doc_id + 1000000000 AS doc_id,
           |    substring(text, 1, greatest((length(text) * 4) // 5, 1))
           |      AS text
           |  FROM base WHERE doc_id % 3 = 0
           |), corpus AS (
           |  SELECT doc_id, text FROM base
           |  UNION ALL SELECT doc_id, text FROM vari
           |), t AS (
           |  SELECT doc_id, substring(text, 1, 2048) AS t FROM corpus
           |), ch AS (
           |  SELECT doc_id, list_transform(
           |    range(0, greatest((length(t) + 63) // 64, 1)),
           |    i -> substring(t, (i*64 + 1)::INT, 64)) AS cs
           |  FROM t
           |), hs AS (
           |  SELECT doc_id, list_transform(cs,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM ch
           |), sig AS (
           |  SELECT doc_id, [
           |      $sigSel
           |    ] AS sig FROM hs
           |), banded AS (
           |  SELECT doc_id, sig, band,
           |    array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',')
           |      AS key
           |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)
           |), sized AS (
           |  SELECT * FROM banded
           |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
           |), pairs AS (
           |  SELECT l.doc_id AS a, r.doc_id AS b, l.sig AS sa, r.sig AS sb
           |  FROM sized l JOIN sized r ON l.band = r.band AND l.key = r.key
           |  WHERE l.doc_id < r.doc_id
           |), est AS (
           |  SELECT a, b,
           |    len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE
           |      / 16.0 AS est_jaccard
           |  FROM pairs)
           |SELECT DISTINCT a, b, est_jaccard FROM est
           |WHERE est_jaccard >= 0.5 ORDER BY a, b""".stripMargin
      }),

    // the x473 planner CLOSED-LOOP: markChosenBanding's deterministic
    // choice rule (measured-miss recall gate with the analytic q_at_t
    // fallback, then min expected-fp, bands-asc tie) over the same
    // corpus-calibrated plan — the auto-banding decision minhashPairsAuto
    // executes, as an oracle-checked readout
    Entry("x479_banding_autoplan", (s, dir) => {
      val sigs = md5ShingleSigs(s, dir, F.col("doc_id").cast("string").as("__id"))
      val ordered = sigs
        .withColumn("__h", F.md5(F.concat(F.lit("lshp:"), F.col("__id"))))
        .withColumn("__rn", F.row_number().over(Window.orderBy(
          F.col("__h"), F.col("__id"))))
        .withColumn("__pair",
          F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
        .withColumn("__side", (F.col("__rn") - 1L) % 2L)
      val a = ordered.filter(F.col("__side") === 0L)
        .select(F.col("__pair") +: (0 until 16).map(j =>
          F.col(s"s$j").as(s"a$j")): _*)
      val b = ordered.filter(F.col("__side") === 1L)
        .select(F.col("__pair") +: (0 until 16).map(j =>
          F.col(s"s$j").as(s"b$j")): _*)
      val sims = a.join(b, "__pair")
        .select(((0 until 16).map(j =>
          F.when(F.col(s"a$j") === F.col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / 16.0).as("sim"))
      Dedup.markChosenBanding(
        Dedup.lshBandingPlan(sims, "sim", nComponents = 16,
          threshold = 0.5), recallFloor = 0.9)
    },
      // x473's plan wrapped with markChosenBanding's choice rule, replayed
      // verbatim: miss = coalesce(measured fn, analytic 1 - q_at_t) on the
      // 6-dp columns, eligible at the IEEE-literal (1.0 - 0.9) budget,
      // then ONE deterministic ORDER BY (eligible first, fp-vs-miss cost
      // key, bands tie) → row_number 1 is the chosen split
      Oracle(s"""WITH plan AS ($LshPlannerPlanSql),
         |keyed AS (
         |  SELECT *,
         |    coalesce(exp_fn_rate, 1.0 - q_at_t) <= (1.0 - 0.9)
         |      AS eligible,
         |    CASE WHEN coalesce(exp_fn_rate, 1.0 - q_at_t) <= (1.0 - 0.9)
         |      THEN coalesce(exp_fp_rate, 0.0)
         |      ELSE coalesce(exp_fn_rate, 1.0 - q_at_t) END AS k1,
         |    CASE WHEN coalesce(exp_fn_rate, 1.0 - q_at_t) <= (1.0 - 0.9)
         |      THEN 0.0 ELSE coalesce(exp_fp_rate, 0.0) END AS k2
         |  FROM plan)
         |SELECT bands, rows_per_band, n_pairs, share_above_t, q_at_t,
         |  exp_fp_rate, exp_fn_rate, eligible,
         |  row_number() OVER (ORDER BY eligible DESC, k1 ASC, k2 ASC,
         |    bands ASC) = 1 AS chosen
         |FROM keyed ORDER BY bands""".stripMargin)),

    // TF-WEIGHTED near-dup (weighted Jaccard J_W = Σmin/Σmax over
    // capped token frequencies, integer-expansion construction): the
    // boilerplate-amplification case set-MinHash is blind to — planted
    // repetition variants (text + its first 200 chars again) have
    // near-1 SET Jaccard but J_W ≈ N/(N+n1) < 1. md5 element hash +
    // OracleAB seeds so DuckDB replays signatures bit-for-bit; the
    // exact w_jaccard verify (Dedup.weightedJaccard) rides along per
    // candidate, so the entry pins estimate AND truth
    Entry("x480_weighted_minhash", (s, dir) => {
      val (pairs, corpus) = weightedPairsEntry(s, dir)
      graft.ops.Dedup.weightedJaccard(pairs, corpus, "doc_id", "text",
          maxWeight = 8)
        .join(pairs, Seq("a", "b"))
        .select(F.col("a"), F.col("b"), F.col("est_jaccard"),
          F.col("w_jaccard"))
        .orderBy("a", "b")
    },
      // weighted MinHash replayed bit-for-bit: same tokenization, same
      // least(count,8) TF cap, same (tok || ':' || i) integer expansion,
      // same Carter-Wegman mins (md5 element hash, OracleAB seeds), the
      // x478 banding/guard/est CTEs, and the exact Σmin/Σmax weighted
      // Jaccard per surviving candidate (UNION token universe per pair =
      // Spark's full join; absent side coalesces to weight 0)
      Oracle(s"""WITH $WeightedCandCtes, ptoks AS (
         |  SELECT c.a, c.b, u.tok FROM cand c JOIN tf u ON u.doc_id = c.a
         |  UNION
         |  SELECT c.a, c.b, u.tok FROM cand c JOIN tf u ON u.doc_id = c.b
         |), wj AS (
         |  SELECT p.a, p.b,
         |    round(sum(least(coalesce(ta.w, 0), coalesce(tb.w, 0)))::DOUBLE
         |      / nullif(sum(greatest(coalesce(ta.w, 0),
         |          coalesce(tb.w, 0)))::DOUBLE, 0), 6) AS w_jaccard
         |  FROM ptoks p
         |  LEFT JOIN tf ta ON ta.doc_id = p.a AND ta.tok = p.tok
         |  LEFT JOIN tf tb ON tb.doc_id = p.b AND tb.tok = p.tok
         |  GROUP BY p.a, p.b
         |)
         |SELECT c.a, c.b, c.est_jaccard, w.w_jaccard
         |FROM cand c JOIN wj w ON w.a = c.a AND w.b = c.b
         |ORDER BY c.a, c.b""".stripMargin)),

    // transitivity of the weighted near-dup pair relation: wedge
    // closure rate over x480's candidate set — the over-merge check
    // to read BEFORE trusting components-based dedup cluster sizes
    Entry("x489_pair_transitivity", (s, dir) => {
      val (pairs, _) = weightedPairsEntry(s, dir)
      graft.ops.Dedup.pairTransitivity(pairs, maxDegree = 1000)
    },
      // x480's candidate CTEs + the wedge/closure replay: same capped
      // middles, distinct wedges at the shared member, closing-edge
      // semi-join back onto the pair set
      Oracle(s"""WITH $WeightedCandCtes, padj AS (
         |  SELECT a AS m, b AS n FROM cand
         |  UNION ALL SELECT b, a FROM cand
         |), degm AS MATERIALIZED (
         |  SELECT m, count(*)::BIGINT AS d FROM padj GROUP BY m
         |), cappedm AS MATERIALIZED (
         |  SELECT m FROM degm WHERE d > 1000
         |), ctr AS (
         |  SELECT m, n FROM padj
         |  WHERE m NOT IN (SELECT m FROM cappedm)
         |), wed AS MATERIALIZED (
         |  SELECT DISTINCT l.n AS u, r.n AS v
         |  FROM ctr l JOIN ctr r ON l.m = r.m WHERE l.n < r.n
         |), closedw AS (
         |  SELECT w.u FROM wed w JOIN cand c ON c.a = w.u AND c.b = w.v
         |)
         |SELECT (SELECT count(*) FROM cand)::BIGINT AS n_pairs,
         |  (SELECT count(*) FROM cappedm)::BIGINT AS n_middles_capped,
         |  (SELECT count(*) FROM wed)::BIGINT AS n_wedges,
         |  (SELECT count(*) FROM closedw)::BIGINT AS n_closed,
         |  round((SELECT count(*) FROM closedw)::DOUBLE /
         |    nullif((SELECT count(*) FROM wed)::DOUBLE, 0.0), 6)
         |    AS closure_rate""".stripMargin)),

    // inclusion-dependency (FK-candidate) discovery across the TPC-H
    // tables: the three true FKs read inclusion 1.0, the reverse
    // direction honestly < 1 (orders without lineitems exist)
    Entry("x490_inclusion_audit", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      val l = Registrar.table(s, dir, "lineitem")
      val c = Registrar.table(s, dir, "customer")
      val su = Registrar.table(s, dir, "supplier")
      // batched: the (l_orderkey, o_orderkey) pair is audited in BOTH
      // directions — inclusionAuditAll serves the reverse direction from
      // the same aggregate instead of recomputing both distinct sets
      graft.ops.Quality.inclusionAuditAll(Seq(
        (l, "l_orderkey", o, "o_orderkey", null, null),
        (o, "o_custkey", c, "c_custkey", null, null),
        (l, "l_suppkey", su, "s_suppkey", null, null),
        (o, "o_orderkey", l, "l_orderkey", null, null)))
        .orderBy("a_col", "b_col")
    },
      // per-pair distinct collapses + one value equi-join; NULLs ignored
      // both sides; fk_candidate = full inclusion on a non-empty lhs
      Oracle {
        def inc(aT: String, aC: String, bT: String, bC: String): String =
          s"""SELECT '$aC' AS a_col, '$bC' AS b_col,
             |  (SELECT count(DISTINCT $aC) FROM $aT WHERE $aC IS NOT NULL)
             |    ::BIGINT AS n_a_distinct,
             |  (SELECT count(DISTINCT $bC) FROM $bT WHERE $bC IS NOT NULL)
             |    ::BIGINT AS n_b_distinct,
             |  (SELECT count(*) FROM
             |    (SELECT DISTINCT $aC::VARCHAR AS v FROM $aT
             |     WHERE $aC IS NOT NULL) a
             |    WHERE a.v IN (SELECT DISTINCT $bC::VARCHAR FROM $bT
             |      WHERE $bC IS NOT NULL))::BIGINT AS n_shared""".stripMargin
        val parts = Seq(
          inc("lineitem", "l_orderkey", "orders", "o_orderkey"),
          inc("orders", "o_custkey", "customer", "c_custkey"),
          inc("lineitem", "l_suppkey", "supplier", "s_suppkey"),
          inc("orders", "o_orderkey", "lineitem", "l_orderkey"))
          .mkString("\nUNION ALL\n")
        s"""SELECT a_col, b_col, n_a_distinct, n_b_distinct, n_shared,
           |  round(n_shared::DOUBLE / nullif(n_a_distinct::DOUBLE, 0.0), 6)
           |    AS inclusion,
           |  (n_shared = n_a_distinct AND n_a_distinct > 0) AS fk_candidate
           |FROM (
           |$parts
           |) ORDER BY a_col, b_col""".stripMargin
      }),

    // mixing profile of the behavior chain: per power round t, the
    // step delta TV(pi_t, pi_{t-1}) and distance-to-limit TV(pi_t,
    // pi_T) — the convergence CURVE behind x472's single final
    // tv_delta (how many rounds the chain actually needs)
    Entry("x481_mixing_profile", (s, dir) =>
      graft.ops.EventOps.mixingProfile(
        Registrar.table(s, dir, "events"), iters = 8),
      // x472's generated power rounds (same lag collapse, 9-dp P and pi
      // updates, DECIMAL inner sums), then one TV row per round: step
      // delta vs t-1 and distance vs the final iterate pi8
      Oracle {
        def round(t: Int): String = {
          val pv = s"pi${t - 1}"
          s"""mv$t AS MATERIALIZED (
             |  SELECT p.t AS state,
             |    sum(round($pv.pi * p.p, 9)::DECIMAL(38,9)) AS inm
             |  FROM p JOIN $pv ON p.f = $pv.state GROUP BY p.t),
             |pi$t AS MATERIALIZED (
             |  SELECT b.state, b.hasout,
             |    round(coalesce(mv$t.inm::DOUBLE, 0.0)
             |      + CASE WHEN b.hasout THEN 0.0 ELSE $pv.pi END, 9) AS pi
             |  FROM base b LEFT JOIN mv$t USING (state)
             |  JOIN $pv USING (state))""".stripMargin
        }
        val rounds = (1 to 8).map(round).mkString(",\n")
        def tvSel(x: String, y: String): String =
          s"""round((SELECT sum(round(abs(a.pi - b.pi), 9)
             |    ::DECIMAL(38,9))::DOUBLE
             |  FROM $x a JOIN $y b USING (state)) / 2.0, 6)""".stripMargin
        val tvRows = (1 to 8).map { t =>
          s"""SELECT ${t}::BIGINT AS t,
             |  ${tvSel(s"pi$t", s"pi${t - 1}")} AS tv_step,
             |  ${tvSel(s"pi$t", "pi8")} AS tv_to_final""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH e AS (
           |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu,
           |    event_id AS eid
           |  FROM events
           |), lagd AS (
           |  SELECT et AS nt,
           |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS pt
           |  FROM e
           |), c AS (
           |  SELECT pt AS f, nt AS t, count(*)::BIGINT AS n
           |  FROM lagd WHERE pt IS NOT NULL GROUP BY 1, 2
           |), p AS MATERIALIZED (
           |  SELECT f, t, round(n::DOUBLE /
           |    (sum(n) OVER (PARTITION BY f))::DOUBLE, 9) AS p
           |  FROM c
           |), base AS MATERIALIZED (
           |  SELECT s.state, max(CASE WHEN p.f IS NOT NULL THEN true
           |    ELSE false END) AS hasout
           |  FROM (SELECT f AS state FROM c UNION SELECT t FROM c) s
           |  LEFT JOIN (SELECT DISTINCT f FROM p) p ON p.f = s.state
           |  GROUP BY s.state
           |), pi0 AS MATERIALIZED (
           |  SELECT state, hasout,
           |    round(1.0 / (SELECT count(*) FROM base)::DOUBLE, 9) AS pi
           |  FROM base
           |),
           |$rounds
           |SELECT * FROM (
           |  $tvRows
           |) ORDER BY t""".stripMargin
      }),

    // event-time disorder census (the watermark-planning readout):
    // planted deterministic arrival delay — events whose md5(event_id)
    // starts 0/1/2 arrive 7.5 ingest slots late (arrival = id*10+75
    // vs id*10, unique keys) — then per type: late share vs the
    // per-user running event-time max, and the p50/p95/p99 lateness
    // a withWatermark delay would be read from
    Entry("x482_disorder_census", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val arr = F.when(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
          .isin("0", "1", "2"),
        F.col("event_id") * 10 + 75)
        .otherwise(F.col("event_id") * 10)
      graft.ops.EventOps.disorderCensus(
        ev.withColumn("arrival_id", arr), tieCol = "arrival_id")
    },
      // same planted arrival delay, same per-user running event-time
      // max over arrival order, same integer-rank quantile selection
      Oracle("""WITH e AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN substring(md5(event_id::VARCHAR), 1, 1)
        |        IN ('0', '1', '2')
        |      THEN event_id * 10 + 75 ELSE event_id * 10 END
        |      AS arrival_id,
        |    epoch_us(ts) AS us
        |  FROM events
        |), r AS (
        |  SELECT *, max(us) OVER (PARTITION BY user_id ORDER BY
        |    arrival_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING) AS runmax
        |  FROM e
        |), l AS MATERIALIZED (
        |  SELECT event_type, arrival_id,
        |    (runmax IS NOT NULL AND us < runmax) AS late,
        |    CASE WHEN runmax IS NOT NULL AND us < runmax
        |      THEN runmax - us END AS lat
        |  FROM r
        |), c AS (
        |  SELECT event_type, count(*)::BIGINT AS n_events,
        |    sum(CASE WHEN late THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |    max(lat)::BIGINT AS max_late_us
        |  FROM l GROUP BY event_type
        |), lr AS MATERIALIZED (
        |  SELECT event_type, lat,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY lat, arrival_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM l WHERE late
        |)
        |SELECT c.event_type, c.n_events, c.n_late,
        |  round(c.n_late::DOUBLE / c.n_events::DOUBLE, 6) AS late_share,
        |  c.max_late_us,
        |  p50.lat AS p50_late_us, p95.lat AS p95_late_us,
        |  p99.lat AS p99_late_us
        |FROM c
        |LEFT JOIN lr p50 ON p50.event_type = c.event_type
        |  AND p50.rk = greatest(1, floor(0.5 * p50.n::DOUBLE)::BIGINT)
        |LEFT JOIN lr p95 ON p95.event_type = c.event_type
        |  AND p95.rk = greatest(1, floor(0.95 * p95.n::DOUBLE)::BIGINT)
        |LEFT JOIN lr p99 ON p99.event_type = c.event_type
        |  AND p99.rk = greatest(1, floor(0.99 * p99.n::DOUBLE)::BIGINT)
        |ORDER BY c.event_type""".stripMargin)),

    // worst-window surprisal spans: per doc, the max rolling 20-token
    // mean of -ln p(tok) under the corpus's own unigram distribution —
    // the LOCALIZED-garble detector a whole-doc perplexity filter
    // averages away; mean_surprisal rides for the contrast
    Entry("x483_surprisal_spans", (s, dir) =>
      graft.ops.TextOps.surprisalSpans(
        Registrar.table(s, dir, "documents"), "doc_id", "text",
        window = 20),
      // same x120 tokenization, same self-trained unigram -ln p terms
      // (9-dp), DECIMAL window sums (association-free), full-windows-only
      // rule with the short-doc whole-window case, argmax by (mean desc,
      // pos asc)
      Oracle("""WITH lists AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0) AS l
        |  FROM documents WHERE doc_id IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    generate_subscripts(l, 1) - 1 AS pos
        |  FROM lists
        |), vocab AS MATERIALIZED (
        |  SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT count(*)::BIGINT AS t FROM toks
        |), scored AS MATERIALIZED (
        |  SELECT k.doc_id, k.pos,
        |    round(-ln(v.c::DOUBLE / tot.t::DOUBLE), 9) AS s
        |  FROM toks k JOIN vocab v USING (tok) CROSS JOIN tot
        |), win AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    sum(s::DECIMAL(38,9)) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING) AS wsum,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING) AS wcnt
        |  FROM scored
        |), fullw AS (
        |  SELECT doc_id, pos,
        |    round(wsum::DOUBLE / wcnt::DOUBLE, 6) AS wmean
        |  FROM win WHERE pos + 20 <= n OR (n < 20 AND pos = 0)
        |), best AS (
        |  SELECT doc_id, pos AS worst_pos, wmean AS worst_window_mean
        |  FROM fullw
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY wmean DESC, pos) = 1
        |), dm AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |    round(sum(s::DECIMAL(38,9))::DOUBLE / count(*)::DOUBLE, 6)
        |      AS mean_surprisal
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT d.doc_id, d.n_tokens, d.mean_surprisal, b.worst_pos,
        |  b.worst_window_mean
        |FROM dm d JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // greedy max-coverage source selection: 5 rounds, each taking the
    // source covering the most not-yet-covered top-64-vocab mass —
    // the submodular "which sources buy the most vocabulary" budget
    // decision (chained-argmax oracle, the x168 convention)
    Entry("x484_greedy_coverage", (s, dir) =>
      graft.ops.Sampling.greedyCoverage(
        Registrar.table(s, dir, "documents"), "source", "text",
        k = 5, vocabSize = 64),
      // chained-argmax greedy rounds (the x168 kCenter convention): per
      // round, gains over not-yet-covered top-64-vocab mass, pick by
      // (gain DESC, source), covered set and picked set accumulate as
      // CTE unions; running covered mass via one window over the picks
      Oracle {
        def round(t: Int): String =
          s"""g$t AS (
             |  SELECT sv.src, sum(vc.c)::BIGINT AS gain
             |  FROM sv JOIN vc USING (tok)
             |  WHERE sv.src NOT IN (SELECT src FROM picked${t - 1})
             |    AND sv.tok NOT IN (SELECT tok FROM cov${t - 1})
             |  GROUP BY sv.src HAVING sum(vc.c) > 0
             |), p$t AS MATERIALIZED (
             |  SELECT src, gain FROM g$t ORDER BY gain DESC, src LIMIT 1
             |), picked$t AS (
             |  SELECT src FROM picked${t - 1}
             |  UNION SELECT src FROM p$t
             |), cov$t AS MATERIALIZED (
             |  SELECT tok FROM cov${t - 1}
             |  UNION SELECT tok FROM sv
             |  WHERE src IN (SELECT src FROM p$t)
             |)""".stripMargin
        val rounds = (1 to 5).map(round).mkString(",\n")
        val picks = (1 to 5).map(t =>
          s"SELECT ${t}::BIGINT AS round, src, gain FROM p$t")
          .mkString("\n  UNION ALL ")
        s"""WITH toksrc AS (
           |  SELECT source AS src, unnest(list_filter(
           |    string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
           |    x -> length(x) > 0)) AS tok
           |  FROM documents WHERE source IS NOT NULL
           |), vc AS MATERIALIZED (
           |  SELECT tok, count(*)::BIGINT AS c FROM toksrc GROUP BY tok
           |  ORDER BY c DESC, tok LIMIT 64
           |), sv AS MATERIALIZED (
           |  SELECT DISTINCT src, tok FROM toksrc
           |  WHERE tok IN (SELECT tok FROM vc)
           |), tot AS (
           |  SELECT sum(c)::BIGINT AS t FROM vc
           |), picked0 AS (SELECT NULL::VARCHAR AS src WHERE 1 = 0),
           |cov0 AS (SELECT NULL::VARCHAR AS tok WHERE 1 = 0),
           |$rounds,
           |picks AS (
           |  $picks
           |)
           |SELECT round, src AS source, gain AS gain_mass,
           |  (sum(gain) OVER (ORDER BY round))::BIGINT AS covered_mass,
           |  round((sum(gain) OVER (ORDER BY round))::DOUBLE
           |    / tot.t::DOUBLE, 6) AS covered_share
           |FROM picks CROSS JOIN tot ORDER BY round""".stripMargin
      }),

    // filter-bias audit (the EEOC four-fifths form applied to data
    // curation): per source, the keep rate of a length-400 gate, its
    // ratio to the corpus rate, and to the best-kept source — sources
    // the gate would disparately erase from the mix are flagged
    Entry("x488_filter_bias", (s, dir) =>
      graft.ops.Curation.filterBiasAudit(
        Registrar.table(s, dir, "documents"), "source",
        F.length(F.col("text")) >= 400),
      // same 9-dp rates-then-ratios order; the flag compares the
      // UNROUNDED ratio of identical 9-dp operands to the 0.8 literal
      Oracle("""WITH per AS (
        |  SELECT source::VARCHAR AS "group", count(*)::BIGINT AS n,
        |    sum(CASE WHEN length(text) >= 400 THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_kept
        |  FROM documents GROUP BY 1
        |), r AS (
        |  SELECT *, round(n_kept::DOUBLE / n::DOUBLE, 9) AS rate
        |  FROM per
        |), t AS (
        |  SELECT sum(n)::BIGINT AS tn, sum(n_kept)::BIGINT AS tk,
        |    max(rate) AS mx
        |  FROM r
        |)
        |SELECT r."group", r.n, r.n_kept,
        |  round(r.rate, 6) AS keep_rate,
        |  round(r.rate / nullif(round(t.tk::DOUBLE / t.tn::DOUBLE, 9),
        |    0.0), 6) AS rate_vs_corpus,
        |  round(r.rate / nullif(t.mx, 0.0), 6) AS impact_ratio,
        |  (r.rate / nullif(t.mx, 0.0)) < 0.8 AS flagged
        |FROM r CROSS JOIN t ORDER BY r."group"""".stripMargin)),

    // TextRank keyword extraction (Mihalcea-Tarau 2004): PageRank over
    // the doc-level co-occurrence graph of the top-128 corpus tokens
    // (cooccurrenceEdges census, co-doc count >= 5, both directions =
    // undirected) — the composition entry proving the graph stack does
    // keyword mining; x92's oracle round structure on VARCHAR nodes
    Entry("x486_textrank", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val toks = docs.select(F.col("doc_id"), F.explode(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
          "\\s+"), x => F.length(x) > 0)).as("tok"))
      val vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).as("__c"))
        .orderBy(F.col("__c").desc, F.col("tok").asc).limit(128)
        .select("tok")
      val dt = toks.join(F.broadcast(vocab), Seq("tok"), "leftsemi")
        .select("doc_id", "tok").distinct()
      val pairs = graft.ops.Graph.cooccurrenceEdges(dt, "doc_id", "tok",
        minCount = 5)
      val und = pairs.select(F.col("src"), F.col("dst"))
        .unionByName(pairs.select(F.col("dst").as("src"),
          F.col("src").as("dst")))
      graft.ops.Graph.pageRank(und, "src", "dst", iters = 3)
        .orderBy("node")
    },
      // x92's generated PageRank rounds on the token co-occurrence
      // graph: same x120 tokenization, top-128 vocab by (count desc,
      // token), per-doc distinct pairs (tok<tok string compare = Spark's
      // sort_array order), co-doc census >= 5, both directions
      Oracle {
        def iter(i: Int, prev: String): String =
          s"""s$i AS (SELECT round(sum(r), 6) AS dang FROM $prev WHERE od = 0),
             |c$i AS (
             |  SELECT e.dst AS node, round(sum(round(0.85 * r.r / r.od, 6)), 6) AS cs
             |  FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst),
             |r$i AS (
             |  SELECT nd.node, nd.od,
             |    round((1.0 - 0.85) / (SELECT n FROM c)
             |      + 0.85 * coalesce((SELECT dang FROM s$i), 0.0) / (SELECT n FROM c)
             |      + coalesce(c$i.cs, 0.0), 6) AS r
             |  FROM nd LEFT JOIN c$i ON nd.node = c$i.node)""".stripMargin
        s"""WITH lists AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
           |    x -> length(x) > 0) AS l
           |  FROM documents
           |), toksr AS (
           |  SELECT doc_id, unnest(l) AS tok FROM lists
           |), vc AS MATERIALIZED (
           |  SELECT tok FROM (
           |    SELECT tok, count(*)::BIGINT AS cnt FROM toksr GROUP BY tok
           |    ORDER BY cnt DESC, tok LIMIT 128)
           |), dt AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, tok FROM toksr
           |  WHERE tok IN (SELECT tok FROM vc)
           |), pc AS MATERIALIZED (
           |  SELECT a.tok AS src, b.tok AS dst
           |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
           |  GROUP BY 1, 2 HAVING count(*) >= 5
           |), e AS MATERIALIZED (
           |  SELECT src, dst FROM pc UNION ALL SELECT dst, src FROM pc
           |), nodes AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e
           |), deg AS (
           |  SELECT src AS node, count(*) AS od FROM e GROUP BY src
           |), nd AS (
           |  SELECT n.node, coalesce(d.od, 0) AS od
           |  FROM nodes n LEFT JOIN deg d ON n.node = d.node
           |), c AS (SELECT count(*)::DOUBLE AS n FROM nodes),
           |r0 AS (
           |  SELECT node, od, round(1.0 / (SELECT n FROM c), 6) AS r FROM nd),
           |${iter(1, "r0")},
           |${iter(2, "r1")},
           |${iter(3, "r2")}
           |SELECT node, od AS out_deg, r AS "rank" FROM r3 ORDER BY node""".stripMargin
      }),

    // embedding truncation-recall audit (the "can we store 16 of 64
    // dims" decision a 100 TB vector store actually faces): per
    // md5-free deterministic query slice, overlap@10 between full-dim
    // and first-16-dim brute top-10 — exact, engine-replayable sets
    // (the x06 ranking convention: cos desc, neighbor_id tiebreak)
    Entry("x487_truncation_recall", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      val q = emb.filter(F.col("vec_id") % 97 === 0)
      val full = Similarity.bruteKnn(emb, q, "vec_id", "embedding",
          k = 10)
        .select(F.col("query_id"), F.col("neighbor_id"))
      val tCorpus = emb.select(F.col("vec_id"),
        F.slice(F.col("embedding"), 1, 16).as("embedding"))
      val tQ = q.select(F.col("vec_id"),
        F.slice(F.col("embedding"), 1, 16).as("embedding"))
      val trunc = Similarity.bruteKnn(tCorpus, tQ, "vec_id",
          "embedding", k = 10)
        .select(F.col("query_id"), F.col("neighbor_id"))
      val qids = full.select("query_id").distinct()
      val overlap = full.join(trunc, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(F.count(F.lit(1)).as("__nc"))
      qids.join(overlap, Seq("query_id"), "left")
        .select(F.col("query_id"),
          F.coalesce(F.col("__nc"), F.lit(0L)).as("n_common"),
          F.round(F.coalesce(F.col("__nc"), F.lit(0L)).cast("double") /
            10.0, 6).as("recall_at_10"))
        .orderBy("query_id")
    },
      // two x06-convention brute rankings (full dims vs embedding[1:16]),
      // top-10 id sets joined per query — overlap counts are exact, no
      // float rides the output beyond the /10 recall
      Oracle("""WITH fs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id % 97 = 0 AND c.vec_id != q.vec_id
        |), ft AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rk FROM fs)
        |  WHERE rk <= 10
        |), ss AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 17),
        |      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(c.embedding[1:16], x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.embedding[1:16], x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id % 97 = 0 AND c.vec_id != q.vec_id
        |), tt AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rk FROM ss)
        |  WHERE rk <= 10
        |), qids AS (
        |  SELECT DISTINCT query_id FROM ft
        |), ov AS (
        |  SELECT f.query_id, count(*)::BIGINT AS n_common
        |  FROM ft f JOIN tt t USING (query_id, neighbor_id)
        |  GROUP BY f.query_id
        |)
        |SELECT q.query_id, coalesce(o.n_common, 0)::BIGINT AS n_common,
        |  round(coalesce(o.n_common, 0)::DOUBLE / 10.0, 6)
        |    AS recall_at_10
        |FROM qids q LEFT JOIN ov o USING (query_id)
        |ORDER BY q.query_id""".stripMargin)),

    // functional-dependency audit over orders+lineitem candidate FDs:
    // o_orderkey→o_custkey HOLDS by construction, the other three are
    // honest violations with their blast radius (rows in violating
    // groups) — the data-profiling classic behind key/denorm sanity
    Entry("x485_fd_audit", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      val l = Registrar.table(s, dir, "lineitem")
      graft.ops.Quality.fdAudit(o, Seq(
          Seq("o_orderkey") -> "o_custkey",
          Seq("o_custkey") -> "o_orderpriority"))
        .unionByName(graft.ops.Quality.fdAudit(l, Seq(
          Seq("l_orderkey") -> "l_suppkey",
          Seq("l_partkey") -> "l_suppkey")))
        .orderBy("lhs", "rhs")
    },
      // per-FD two-level aggregate: lhs groups -> distinct-rhs census ->
      // 1-row rollup; COUNT(DISTINCT) ignores NULL rhs in both engines
      Oracle {
        def fd(table: String, lhs: String, rhs: String): String =
          s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
             |  sum(n)::BIGINT AS n_rows,
             |  count(*)::BIGINT AS n_groups,
             |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_violating,
             |  round(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*)::DOUBLE, 6) AS violation_share,
             |  max(d)::BIGINT AS max_distinct_rhs,
             |  sum(CASE WHEN d > 1 THEN n ELSE 0 END)::BIGINT
             |    AS rows_in_violating
             |FROM (
             |  SELECT $lhs, count(*)::BIGINT AS n,
             |    count(DISTINCT $rhs)::BIGINT AS d
             |  FROM $table GROUP BY $lhs
             |)""".stripMargin
        Seq(fd("orders", "o_orderkey", "o_custkey"),
          fd("orders", "o_custkey", "o_orderpriority"),
          fd("lineitem", "l_orderkey", "l_suppkey"),
          fd("lineitem", "l_partkey", "l_suppkey"))
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY lhs, rhs")
      }),

    // stationary distribution of the behavior chain (pi = pi P, 10
    // power rounds, implicit self-loops for no-out states) — the
    // long-run occupancy companion to x102/x306
    Entry("x472_stationary", (s, dir) =>
      graft.ops.EventOps.stationaryDistribution(
        Registrar.table(s, dir, "events"), iters = 10),
      // generated power-iteration rounds (x459 convention): same lag
      // collapse as x102, same 9-dp P and pi updates, DECIMAL inner sums
      Oracle {
        def round(t: Int): String = {
          val pv = s"pi${t - 1}"
          s"""mv$t AS MATERIALIZED (
             |  SELECT p.t AS state,
             |    sum(round($pv.pi * p.p, 9)::DECIMAL(38,9)) AS inm
             |  FROM p JOIN $pv ON p.f = $pv.state GROUP BY p.t),
             |pi$t AS MATERIALIZED (
             |  SELECT b.state, b.hasout,
             |    round(coalesce(mv$t.inm::DOUBLE, 0.0)
             |      + CASE WHEN b.hasout THEN 0.0 ELSE $pv.pi END, 9) AS pi
             |  FROM base b LEFT JOIN mv$t USING (state)
             |  JOIN $pv USING (state))""".stripMargin
        }
        val rounds = (1 to 10).map(round).mkString(",\n")
        s"""WITH e AS (
           |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu,
           |    event_id AS eid
           |  FROM events
           |), lagd AS (
           |  SELECT et AS nt,
           |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS pt
           |  FROM e
           |), c AS (
           |  SELECT pt AS f, nt AS t, count(*)::BIGINT AS n
           |  FROM lagd WHERE pt IS NOT NULL GROUP BY 1, 2
           |), p AS MATERIALIZED (
           |  SELECT f, t, round(n::DOUBLE /
           |    (sum(n) OVER (PARTITION BY f))::DOUBLE, 9) AS p
           |  FROM c
           |), base AS MATERIALIZED (
           |  SELECT s.state, max(CASE WHEN p.f IS NOT NULL THEN true
           |    ELSE false END) AS hasout
           |  FROM (SELECT f AS state FROM c UNION SELECT t FROM c) s
           |  LEFT JOIN (SELECT DISTINCT f FROM p) p ON p.f = s.state
           |  GROUP BY s.state
           |), pi0 AS MATERIALIZED (
           |  SELECT state, hasout,
           |    round(1.0 / (SELECT count(*) FROM base)::DOUBLE, 9) AS pi
           |  FROM base
           |),
           |$rounds,
           |tv AS (
           |  SELECT sum(round(abs(pi10.pi - pi9.pi), 9)
           |    ::DECIMAL(38,9))::DOUBLE / 2.0 AS tv
           |  FROM pi10 JOIN pi9 USING (state)
           |)
           |SELECT pi10.state, round(pi10.pi, 6) AS pi,
           |  pi10.hasout AS has_out, round(tv.tv, 6) AS tv_delta
           |FROM pi10 CROSS JOIN tv ORDER BY pi10.state""".stripMargin
      }),

    // water-filling token allocation: 60% budget spread max-min-fair
    // across sources under availability caps — the constrained mixture
    // plan beside x77/x185
    Entry("x471_waterfill", (s, dir) =>
      Sampling.waterfillAllocation(
        Registrar.table(s, dir, "documents"), F.col("source"),
        F.size(F.split(F.trim(F.col("text")), "\\s+")),
        budgetFrac = 0.6),
      // same cap ladder, same first-feasible water level (min by j)
      Oracle("""WITH caps AS (
        |  SELECT source AS g,
        |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
        |      AS cap
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT g, cap,
        |    (sum(cap) OVER ())::BIGINT AS total,
        |    (count(*) OVER ())::BIGINT AS k,
        |    floor(0.6 * (sum(cap) OVER ())::DOUBLE)::BIGINT AS budget,
        |    row_number() OVER (ORDER BY cap, g) AS j,
        |    (sum(cap) OVER (ORDER BY cap, g ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |  FROM caps
        |), lev AS (
        |  SELECT (budget - (cum - cap))::DOUBLE / (k - j + 1)::DOUBLE
        |    AS theta
        |  FROM t WHERE (budget - (cum - cap))::DOUBLE
        |    / (k - j + 1)::DOUBLE <= cap::DOUBLE
        |  ORDER BY j LIMIT 1
        |)
        |SELECT t.g AS "group", t.cap,
        |  round(CASE WHEN t.budget >= t.total THEN t.cap::DOUBLE
        |    ELSE least(t.cap::DOUBLE, lev.theta) END, 6) AS alloc,
        |  (t.budget >= t.total OR t.cap::DOUBLE <= lev.theta)
        |    AS binding,
        |  CASE WHEN t.budget < t.total THEN round(lev.theta, 6) END
        |    AS water_level,
        |  t.budget
        |FROM t LEFT JOIN lev ON true ORDER BY t.g""".stripMargin)),

    // anisotropy census (Ethayarajh 2019): mean random-pair cosine +
    // the mean-vector share — the pre-flight check before any cosine-
    // threshold dedup/ANN policy
    Entry("x470_anisotropy", (s, dir) =>
      Similarity.anisotropyCensus(
        Registrar.table(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // same md5 'iso:' pairing, same dot/norm folds as x418, same
      // posexplode mean collapse; mean_cos carries the + 0.0 canon
      Oracle("""WITH b AS (
        |  SELECT vec_id::VARCHAR AS id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0
        |), nn AS (SELECT count(*)::BIGINT AS n FROM b),
        |dims AS (
        |  SELECT i - 1 AS d, v[i] AS x
        |  FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM b)
        |), mu AS (
        |  SELECT sum(round(m * m, 9)::DECIMAL(38,9))::DOUBLE AS mu2
        |  FROM (SELECT round(sum(round(x, 9)::DECIMAL(38,9))::DOUBLE
        |      / count(*)::DOUBLE, 9) AS m
        |    FROM dims GROUP BY d)
        |), norms AS (
        |  SELECT round(sum(n2)::DOUBLE / count(*)::DOUBLE, 9) AS en2
        |  FROM (SELECT round(sqrt(list_sum(list_transform(v,
        |      x -> x * x))) * sqrt(list_sum(list_transform(v,
        |      x -> x * x))), 9)::DECIMAL(38,9) AS n2 FROM b)
        |), ordered AS (
        |  SELECT v, row_number() OVER (ORDER BY md5('iso:' || id), id)
        |    AS rn
        |  FROM b
        |), pr AS (SELECT (rn - 1) // 2 AS pair, (rn - 1) % 2 AS side, v
        |  FROM ordered),
        |cos AS (
        |  SELECT round(
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) /
        |    nullif(sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |      sqrt(list_sum(list_transform(b.v, x -> x * x))), 0.0),
        |    9) AS c
        |  FROM (SELECT pair, v FROM pr WHERE side = 0) a
        |  JOIN (SELECT pair, v FROM pr WHERE side = 1) b
        |    ON a.pair = b.pair
        |), pc AS (
        |  SELECT count(c)::BIGINT AS n_pairs,
        |    sum(c::DECIMAL(38,9))::DOUBLE AS sc,
        |    sum(abs(c)::DECIMAL(38,9))::DOUBLE AS sa
        |  FROM cos WHERE c IS NOT NULL
        |)
        |SELECT nn.n, pc.n_pairs,
        |  round(pc.sc / nullif(pc.n_pairs::DOUBLE, 0), 6) + 0.0
        |    AS mean_cos,
        |  round(pc.sa / nullif(pc.n_pairs::DOUBLE, 0), 6)
        |    AS mean_abs_cos,
        |  round(mu.mu2, 6) AS mu_norm2,
        |  round(norms.en2, 6) AS mean_norm2,
        |  round(mu.mu2 / nullif(norms.en2, 0.0), 6) AS anisotropy_ratio
        |FROM nn, pc, mu, norms""".stripMargin)),

    // interpolated trigram LM (Jelinek-Mercer, pinned 0.6/0.3/0.1)
    // cross-entropy per source — the n=3 sibling of x78's KN bigram
    Entry("x469_trigram_interp", (s, dir) =>
      TextOps.trigramInterp(Registrar.table(s, dir, "documents"),
        "doc_id", "source", "text"),
      // same trigram-row universe counts, same interpolation order
      // (l3-term + l2-term + l1-term, left-assoc), 9-dp DECIMAL -ln sums
      Oracle("""WITH b AS (
        |  SELECT doc_id AS id, source AS g,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents WHERE source IS NOT NULL
        |), tri AS (
        |  SELECT id, g, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        |  FROM (SELECT id, g, t, unnest(range(1, greatest(len(t) - 2, 0)
        |    + 1)) AS i FROM b)
        |), c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3
        |  FROM tri GROUP BY 1, 2, 3),
        |ctx2 AS (SELECT w1, w2, count(*)::BIGINT AS b2
        |  FROM tri GROUP BY 1, 2),
        |c2 AS (SELECT w2, w3, count(*)::BIGINT AS c2
        |  FROM tri GROUP BY 1, 2),
        |ctx1 AS (SELECT w2, count(*)::BIGINT AS b1 FROM tri GROUP BY 1),
        |c1 AS (SELECT w3, count(*)::BIGINT AS c1 FROM tri GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM tri),
        |sc AS (
        |  SELECT tri.g,
        |    round(-ln(0.6 * (c3.c3::DOUBLE / ctx2.b2::DOUBLE)
        |      + 0.3 * (c2.c2::DOUBLE / ctx1.b1::DOUBLE)
        |      + 0.1 * (c1.c1::DOUBLE / nn.n::DOUBLE)), 9)
        |      ::DECIMAL(38,9) AS nll
        |  FROM tri
        |  JOIN c3 USING (w1, w2, w3) JOIN ctx2 USING (w1, w2)
        |  JOIN c2 USING (w2, w3) JOIN ctx1 USING (w2)
        |  JOIN c1 USING (w3) CROSS JOIN nn
        |), docs AS (SELECT g, count(*)::BIGINT AS n_docs FROM b
        |  GROUP BY g),
        |agg AS (SELECT g, count(*)::BIGINT AS n_trigrams, sum(nll) AS s
        |  FROM sc GROUP BY g)
        |SELECT agg.g AS source, docs.n_docs, agg.n_trigrams,
        |  round(agg.s::DOUBLE / agg.n_trigrams::DOUBLE, 6)
        |    AS mean_nll_nats,
        |  round(exp(agg.s::DOUBLE / agg.n_trigrams::DOUBLE), 6) AS ppl
        |FROM agg JOIN docs USING (g) ORDER BY source""".stripMargin)),

    // coverage curve vs vocab size (V = 4, 8, 16, 24): the knee of
    // this curve is the tokenizer-budget decision (x464's V-sweep)
    Entry("x468_coverage_curve", (s, dir) =>
      TextOps.coverageCurve(Registrar.table(s, dir, "documents"),
        "text", Seq(4, 8, 16, 24)),
      // same token ladder, same rank = min(V, types) pick
      Oracle("""WITH cnt AS (
        |  SELECT tok, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS tok FROM documents)
        |  WHERE length(tok) > 0 GROUP BY tok
        |), lad AS (
        |  SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rk,
        |    (sum(c) OVER (ORDER BY c DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::BIGINT AS cum
        |  FROM cnt
        |), tot AS (
        |  SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS types FROM cnt
        |), sz AS (SELECT unnest([4, 8, 16, 24])::BIGINT AS vocab_size)
        |SELECT sz.vocab_size, tot.n AS n_tokens,
        |  lad.cum AS n_in_vocab,
        |  round(lad.cum::DOUBLE / nullif(tot.n::DOUBLE, 0), 6)
        |    AS coverage,
        |  tot.types AS n_types,
        |  greatest(tot.types - sz.vocab_size, 0)::BIGINT AS n_oov_types,
        |  round(greatest(tot.types - sz.vocab_size, 0)::DOUBLE
        |    / nullif(tot.types::DOUBLE, 0), 6) AS oov_type_rate
        |FROM sz CROSS JOIN tot
        |JOIN lad ON lad.rk = least(sz.vocab_size, tot.types)
        |ORDER BY sz.vocab_size""".stripMargin)),

    // upper-tail VaR95 + CVaR (expected shortfall) of event value per
    // type — the spend-risk readout the mean hides; distinct-value
    // ladder, ties stay in the tail together
    Entry("x467_cvar_tail", (s, dir) =>
      graft.ops.Stats.cvarTail(Registrar.table(s, dir, "events"),
        Seq("event_type"), F.col("value"), alpha = 0.95),
      // same desc ladder, same ceil tail rank, same 9-dp DECIMAL v·c sums
      Oracle("""WITH byv AS (
        |  SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), lad AS (
        |  SELECT g, v, c,
        |    (sum(c) OVER (PARTITION BY g ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::BIGINT AS cum,
        |    sum(round(v * c::DOUBLE, 9)::DECIMAL(38,9))
        |      OVER (PARTITION BY g ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
        |  FROM byv
        |), nn AS (SELECT g, sum(c)::BIGINT AS n FROM byv GROUP BY g),
        |sc AS (
        |  SELECT lad.g, lad.v, lad.cum, lad.csum, nn.n,
        |    ceil((1.0 - 0.95) * nn.n::DOUBLE)::BIGINT AS k,
        |    row_number() OVER (PARTITION BY lad.g ORDER BY lad.v DESC)
        |      AS rk
        |  FROM lad JOIN nn ON lad.g = nn.g
        |  WHERE lad.cum >= ceil((1.0 - 0.95) * nn.n::DOUBLE)::BIGINT
        |)
        |SELECT g AS event_type, n, k AS k_tail,
        |  round(v, 6) AS var_alpha, cum AS tail_n,
        |  round(csum::DOUBLE / cum::DOUBLE, 6) AS cvar_alpha
        |FROM sc WHERE rk = 1 ORDER BY event_type""".stripMargin)),

    // coarsened exact matching + ATT: did signup-takers spend more,
    // matched on coarsened activity (event-count, active-day buckets)?
    // The non-randomized causal readout beside x238 DiD / x197 CUPED
    Entry("x466_cem_att", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val per = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") === "signup", 1).otherwise(0))
          .as("t"),
        F.sum(F.round(F.when(F.col("event_type") === "purchase",
          F.col("value")).otherwise(0.0), 9).cast("decimal(38,9)"))
          .as("y"),
        F.count(F.lit(1)).as("ne"),
        F.countDistinct(F.to_date(graft.ops.EventOps.tsStamp(ev)))
          .as("nd"))
      graft.ops.Stats.cemAtt(per, F.col("t") === 1, F.col("y"),
        Seq(F.floor(F.col("ne") / 10), F.floor(F.col("nd") / 3)))
    },
      // same per-user collapse, same coarsened cells, same per-cell
      // reweighting terms (9-dp DECIMAL); att carries the + 0.0 canon
      Oracle("""WITH per AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
        |    sum(round(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0 END, 9)::DECIMAL(38,9)) AS y,
        |    count(*)::BIGINT AS ne,
        |    count(DISTINCT ts::DATE)::BIGINT AS nd
        |  FROM events GROUP BY user_id
        |), b AS (
        |  SELECT (t = 1) AS tr,
        |    round(y::DOUBLE, 9)::DECIMAL(38,9) AS yy,
        |    (ne // 10)::VARCHAR || '|' || (nd // 3)::VARCHAR AS cell
        |  FROM per
        |), bc AS (
        |  SELECT cell,
        |    sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS mt,
        |    sum(CASE WHEN tr THEN 0 ELSE 1 END)::BIGINT AS mc,
        |    sum(CASE WHEN tr THEN yy ELSE 0::DECIMAL(38,9) END) AS st,
        |    sum(CASE WHEN tr THEN 0::DECIMAL(38,9) ELSE yy END) AS sc
        |  FROM b GROUP BY cell
        |), tot AS (
        |  SELECT sum(mt)::BIGINT AS n_treated,
        |    sum(mc)::BIGINT AS n_control FROM bc
        |), m AS (
        |  SELECT count(*)::BIGINT AS n_cells_matched,
        |    sum(mt)::BIGINT AS n_treated_matched,
        |    sum(mc)::BIGINT AS n_control_matched,
        |    sum(st) AS stm,
        |    sum(round(mt::DOUBLE / mc::DOUBLE * sc::DOUBLE, 9)
        |      ::DECIMAL(38,9)) AS scw
        |  FROM bc WHERE mt > 0 AND mc > 0
        |)
        |SELECT n_treated, n_control, n_cells_matched,
        |  n_treated_matched, n_control_matched,
        |  round((n_treated - n_treated_matched)::DOUBLE
        |    / nullif(n_treated::DOUBLE, 0), 6)
        |    AS unmatched_treated_share,
        |  round(stm::DOUBLE / nullif(n_treated_matched::DOUBLE, 0), 6)
        |    AS mean_treated,
        |  round(scw::DOUBLE / nullif(n_treated_matched::DOUBLE, 0), 6)
        |    AS mean_control_w,
        |  round(stm::DOUBLE / nullif(n_treated_matched::DOUBLE, 0)
        |    - scw::DOUBLE / nullif(n_treated_matched::DOUBLE, 0), 6)
        |    + 0.0 AS att
        |FROM tot, m""".stripMargin)),

    // near-dup threshold sweep over banded-LSH candidates (the x43 md5
    // Carter-Wegman signatures): pairs/docs affected per estimated-
    // Jaccard cut — the tuning curve a dedup policy reads before
    // picking its threshold. Candidates come from 4-row band buckets
    // (the scale path), NEVER all-pairs.
    Entry("x465_dedup_sweep", (s, dir) => {
      import s.implicits._
      val sigs = md5ShingleSigs(s, dir, F.col("doc_id")).localCheckpoint()
      val bands = (0 until 4).map { bnd =>
        val key = F.concat_ws(",", (0 until 4).map(r =>
          F.col(s"s${4 * bnd + r}").cast("string")): _*)
        sigs.select(F.col("doc_id"), F.lit(bnd).as("band"),
          key.as("bkey"))
      }.reduce(_.unionByName(_))
      val cand = bands.as("x").join(bands.as("y"),
          F.col("x.band") === F.col("y.band") &&
            F.col("x.bkey") === F.col("y.bkey") &&
            F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").as("a"), F.col("y.doc_id").as("b"))
        .distinct()
      val est = cand
        .join(sigs.select(F.col("doc_id").as("a") +: (0 until 16).map(
          j => F.col(s"s$j").as(s"xa$j")): _*), "a")
        .join(sigs.select(F.col("doc_id").as("b") +: (0 until 16).map(
          j => F.col(s"s$j").as(s"xb$j")): _*), "b")
        .select(F.col("a"), F.col("b"),
          ((0 until 16).map(j =>
            F.when(F.col(s"xa$j") === F.col(s"xb$j"), 1).otherwise(0))
            .reduce(_ + _).cast("double") / 16.0).as("est"))
        .localCheckpoint()
      val nCand = est.agg(F.count(F.lit(1)).as("n_cand_pairs"))
      val ths = Seq(0.25, 0.5, 0.75, 1.0).toDF("threshold")
      val kept = ths.join(est, F.col("est") >= F.col("threshold"),
        "left")
      val pairCnt = kept.groupBy("threshold")
        .agg(F.count(F.col("a")).as("n_pairs"))
      val docCnt = kept
        .select(F.col("threshold"),
          F.explode(F.array(F.col("a"), F.col("b"))).as("d"))
        .groupBy("threshold")
        .agg(F.count_distinct(F.col("d")).as("n_docs_affected"))
      pairCnt.join(docCnt, Seq("threshold"), "left")
        .crossJoin(F.broadcast(nCand))
        .select(F.col("threshold"), F.col("n_cand_pairs"),
          F.col("n_pairs"),
          F.coalesce(F.col("n_docs_affected"), F.lit(0L))
            .as("n_docs_affected"))
        .orderBy("threshold")
    },
      // same x43 signature math, same 4-row band buckets, same sweep
      Oracle {
        val sigSel = OracleAB.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(hs, h -> ($a*h + $b) % $OracleP)) AS s$j"
        }.mkString(",\n         |    ")
        val bandRows = (0 until 4).map { bnd =>
          val key = (0 until 4).map(r => s"s${4 * bnd + r}::VARCHAR")
            .mkString(" || ',' || ")
          s"SELECT doc_id, $bnd AS band, $key AS bkey FROM sig"
        }.mkString("\n         |  UNION ALL ")
        val eq = (0 until 16).map(j =>
          s"(CASE WHEN xa.s$j = xb.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 500) AS t
           |  FROM documents WHERE doc_id % 10 = 0
           |), sh AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(length(t) - 4, 1) + 1),
           |    i -> substring(t, i::INT, 5))) AS s
           |  FROM t
           |), hs AS (
           |  SELECT doc_id, list_transform(s,
           |    x -> ('0x' || substring(md5(x), 1, 7))::BIGINT) AS hs FROM sh
           |), sig AS (
           |  SELECT doc_id,
           |    $sigSel
           |  FROM hs
           |), bands AS (
           |  $bandRows
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band
           |    AND x.bkey = y.bkey AND x.doc_id < y.doc_id
           |), est AS (
           |  SELECT c.a, c.b, ($eq)::DOUBLE / 16.0 AS est
           |  FROM cand c JOIN sig xa ON xa.doc_id = c.a
           |    JOIN sig xb ON xb.doc_id = c.b
           |), nc AS (SELECT count(*)::BIGINT AS n_cand_pairs FROM est),
           |ths AS (SELECT * FROM (VALUES (0.25), (0.5), (0.75), (1.0))
           |  t(threshold)),
           |kept AS (
           |  SELECT ths.threshold, est.a, est.b
           |  FROM ths LEFT JOIN est ON est.est >= ths.threshold
           |), pc AS (
           |  SELECT threshold, count(a)::BIGINT AS n_pairs
           |  FROM kept GROUP BY threshold
           |), dc AS (
           |  SELECT threshold, count(DISTINCT d)::BIGINT AS n_docs_affected
           |  FROM (SELECT threshold, unnest([a, b]) AS d FROM kept)
           |  GROUP BY threshold
           |)
           |SELECT pc.threshold, nc.n_cand_pairs, pc.n_pairs,
           |  coalesce(dc.n_docs_affected, 0)::BIGINT AS n_docs_affected
           |FROM pc LEFT JOIN dc USING (threshold) CROSS JOIN nc
           |ORDER BY pc.threshold""".stripMargin
      }),

    // vocabulary-coverage census per source vs the corpus top-16
    // vocab — occurrence coverage + OOV type rate, the tokenizer-
    // sizing readout beside x82 growth / x153 fertility
    Entry("x464_vocab_coverage", (s, dir) =>
      TextOps.vocabCoverage(Registrar.table(s, dir, "documents"),
        "source", "text", vocabSize = 16),
      // same tokenization, same (count desc, token asc) top-16 vocab pick
      Oracle("""WITH tk AS (
        |  SELECT source AS g, unnest(string_split_regex(lower(trim(
        |    text)), '\s+')) AS tok
        |  FROM documents WHERE source IS NOT NULL
        |), bt AS (
        |  SELECT g, tok, count(*)::BIGINT AS c FROM tk
        |  WHERE length(tok) > 0 GROUP BY 1, 2
        |), vocab AS (
        |  SELECT tok FROM (SELECT tok, sum(c) AS tc FROM bt GROUP BY tok)
        |  ORDER BY tc DESC, tok LIMIT 16
        |), agg AS (
        |  SELECT g, sum(c)::BIGINT AS n_tokens,
        |    sum(CASE WHEN v.tok IS NOT NULL THEN c ELSE 0 END)::BIGINT
        |      AS n_in_vocab,
        |    count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_oov_types
        |  FROM bt LEFT JOIN vocab v USING (tok) GROUP BY g
        |)
        |SELECT g AS source, n_tokens, n_in_vocab,
        |  round(n_in_vocab::DOUBLE / nullif(n_tokens::DOUBLE, 0), 6)
        |    AS coverage,
        |  n_types, n_oov_types,
        |  round(n_oov_types::DOUBLE / nullif(n_types::DOUBLE, 0), 6)
        |    AS oov_type_rate
        |FROM agg ORDER BY source""".stripMargin)),

    // bottom-32 containment estimate vs exact truth on the x143 pair
    // list — the estimator-error distribution that decides whether
    // sketches can replace exact shingle sets at a given threshold
    Entry("x463_bottomk_contain", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"),
          (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 7 === 0)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      Dedup.bottomKContainment(pairs, docs, "doc_id", "text", k = 32)
        .orderBy("a", "b")
    },
      // x143's shingle/pair CTEs + md5 bottom-32 sample ranks (lists sort
      // elementwise in both engines; md5 hex has no ties)
      Oracle("""WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g')
        |    AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(t) - 4, 1) + 1),
        |    i -> substring(t, i, 5))) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 7 = 0
        |), j AS (
        |  SELECT p.a, p.b, sa.s AS sa, sb.s AS sb,
        |    list_transform(list_sort(list_transform(sa.s,
        |      x -> [md5(x), x]))[1:32], q -> q[2]) AS samp
        |  FROM pairs p
        |  JOIN sh sa ON sa.doc_id = p.a
        |  JOIN sh sb ON sb.doc_id = p.b
        |), sc AS (
        |  SELECT a, b, len(sa)::INT AS size_a,
        |    least(32, len(sa))::INT AS k_used,
        |    round(len(list_intersect(sa, sb))::DOUBLE
        |      / nullif(len(sa)::DOUBLE, 0), 6) AS contain_exact,
        |    round(len(list_intersect(samp, sb))::DOUBLE
        |      / nullif(least(32, len(sa))::DOUBLE, 0), 6) AS contain_est
        |  FROM j
        |)
        |SELECT a, b, size_a, k_used, contain_exact, contain_est,
        |  round(abs(contain_est - contain_exact), 6) AS abs_err
        |FROM sc ORDER BY a, b""".stripMargin)),

    // leave-one-source-out ablation: which source drags the corpus
    // mean length / token count — one pass, total-minus-group algebra
    Entry("x462_source_ablation", (s, dir) =>
      graft.ops.Curation.leaveOneOutMeans(
        Registrar.table(s, dir, "documents"), "source",
        Seq("n_chars" -> F.col("n_chars"),
          "n_tokens" -> F.size(F.split(F.trim(F.col("text")),
            "\\s+")).cast("long"))),
      // same one-pass total-minus-group algebra; deltas carry the + 0.0
      // sign-of-zero canon (SURVEY §8)
      Oracle("""WITH b AS (
        |  SELECT source AS g, n_chars::BIGINT AS m_chars,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT
        |      AS m_tokens
        |  FROM documents WHERE source IS NOT NULL
        |), pg AS (
        |  SELECT g, count(*)::BIGINT AS n, sum(m_chars)::BIGINT AS sc,
        |    sum(m_tokens)::BIGINT AS st
        |  FROM b GROUP BY g
        |), tt AS (
        |  SELECT count(*)::BIGINT AS tn, sum(m_chars)::BIGINT AS tc,
        |    sum(m_tokens)::BIGINT AS tk
        |  FROM b
        |), rows_ AS (
        |  SELECT g AS source, n AS n_docs,
        |    round(n::DOUBLE / tn::DOUBLE, 6) AS share,
        |    'n_chars' AS metric,
        |    round(tc::DOUBLE / tn::DOUBLE, 6) AS mean_full,
        |    round((tc - sc)::DOUBLE / nullif((tn - n)::DOUBLE, 0), 6)
        |      AS mean_without,
        |    round((tc - sc)::DOUBLE / nullif((tn - n)::DOUBLE, 0)
        |      - tc::DOUBLE / tn::DOUBLE, 6) + 0.0 AS delta
        |  FROM pg, tt
        |  UNION ALL
        |  SELECT g, n, round(n::DOUBLE / tn::DOUBLE, 6), 'n_tokens',
        |    round(tk::DOUBLE / tn::DOUBLE, 6),
        |    round((tk - st)::DOUBLE / nullif((tn - n)::DOUBLE, 0), 6),
        |    round((tk - st)::DOUBLE / nullif((tn - n)::DOUBLE, 0)
        |      - tk::DOUBLE / tn::DOUBLE, 6) + 0.0
        |  FROM pg, tt
        |)
        |SELECT * FROM rows_ ORDER BY source, metric""".stripMargin)),

    // Page-Hinkley sequential drift over the daily event series — the
    // "feed died and stayed down" alarm beside x129 CUSUM / x194
    // changepoint; DECIMAL running sums, exact alarm-day replay
    Entry("x461_page_hinkley", (s, dir) =>
      graft.ops.EventOps.pageHinkley(
        Registrar.table(s, dir, "events"),
        delta = 0.0, lambda = 50.0),
      // same daily collapse, same running-mean terms (9-dp DECIMAL), same
      // running max — the alarm day replays exactly
      Oracle("""WITH daily AS (
        |  SELECT ts::DATE AS day, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1
        |), m AS (
        |  SELECT day, x,
        |    (sum(x) OVER w)::BIGINT AS cx,
        |    (count(*) OVER w)::BIGINT AS t
        |  FROM daily
        |  WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), tm AS (
        |  SELECT day, x, cx::DOUBLE / t::DOUBLE AS mean,
        |    round(x::DOUBLE - cx::DOUBLE / t::DOUBLE + 0.0, 9)
        |      ::DECIMAL(38,9) AS term
        |  FROM m
        |), a1 AS (
        |  SELECT day, x, mean,
        |    sum(term) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS mt
        |  FROM tm
        |), acc AS (
        |  SELECT day, x, mean, mt,
        |    max(mt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS mx
        |  FROM a1
        |)
        |SELECT day, x, round(mean, 6) AS run_mean,
        |  round(mt::DOUBLE, 6) AS mt,
        |  round((mx - mt)::DOUBLE, 6) AS ph,
        |  (mx - mt)::DOUBLE > 50.0 AS alarm
        |FROM acc ORDER BY day""".stripMargin)),

    // alignment & uniformity (Wang & Isola 2020): same-label
    // consecutive positives vs md5 random pairs — the two-number
    // contrastive-space health readout
    Entry("x460_align_uniform", (s, dir) =>
      Similarity.alignmentUniformity(
        Registrar.table(s, dir, "embeddings"), "vec_id",
        "embedding", "label"),
      // same consecutive-positive pairing, same md5 random pairing, same
      // L2 fold, 9-dp DECIMAL term sums
      Oracle("""WITH b AS (
        |  SELECT vec_id AS id, embedding AS v, label AS lab
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND label IS NOT NULL
        |), pos AS (
        |  SELECT round(list_sum(list_transform(
        |    range(1, len(v) + 1),
        |    i -> (v[i]::DOUBLE - vn[i]::DOUBLE)
        |       * (v[i]::DOUBLE - vn[i]::DOUBLE))), 9)::DECIMAL(38,9)
        |    AS d2
        |  FROM (SELECT v, lead(v) OVER (PARTITION BY lab ORDER BY id)
        |      AS vn FROM b)
        |  WHERE vn IS NOT NULL
        |), pa AS (
        |  SELECT count(*)::BIGINT AS n_pos, sum(d2) AS sa FROM pos
        |), o AS (
        |  SELECT v, row_number() OVER (ORDER BY md5('aun:'
        |    || id::VARCHAR), id) AS rn FROM b
        |), rp AS (
        |  SELECT round(exp(-2.0 * list_sum(list_transform(
        |    range(1, len(a.v) + 1),
        |    i -> (a.v[i]::DOUBLE - z.v[i]::DOUBLE)
        |       * (a.v[i]::DOUBLE - z.v[i]::DOUBLE)))), 9)
        |    ::DECIMAL(38,9) AS g
        |  FROM (SELECT (rn - 1) // 2 AS pair, v FROM o
        |      WHERE (rn - 1) % 2 = 0) a
        |    JOIN (SELECT (rn - 1) // 2 AS pair, v FROM o
        |      WHERE (rn - 1) % 2 = 1) z USING (pair)
        |), rg AS (
        |  SELECT count(*)::BIGINT AS n_rand, sum(g) AS sg FROM rp
        |)
        |SELECT n_pos, n_rand,
        |  round(sa::DOUBLE / nullif(n_pos::DOUBLE, 0), 6) AS alignment,
        |  round(ln(sg::DOUBLE / nullif(n_rand::DOUBLE, 0)), 6)
        |    AS uniformity
        |FROM pa, rg""".stripMargin)),

    // Sinkhorn entropic OT between the en and zh length histograms on
    // a pinned 16-cell grid — the metric-aware shift readout beside
    // x206 PSI / x350 JS; 12 scaling rounds, all (cells²)-bounded
    Entry("x459_sinkhorn", (s, dir) =>
      graft.ops.Stats.sinkhorn(
        Registrar.table(s, dir, "documents"), "n_chars",
        F.col("lang") === "en", F.col("lang") === "zh",
        lo = 0L, hi = 800L, grid = 50L, reg = 2.0, iters = 12),
      // generated Sinkhorn rounds (the x452/x454 convention): MATERIALIZED
      // per-round CTEs — kv/u then ku/v, 9-dp per update, DECIMAL inner
      // products — term order matching the Spark fold expression-for-
      // expression
      Oracle {
        def round(t: Int): String = {
          val pv = if (t == 1) "v0" else s"v${t - 1}"
          s"""kv$t AS MATERIALIZED (
             |  SELECT k.i, sum(round(k.k * $pv.v, 9)::DECIMAL(38,9)) AS kv
             |  FROM k JOIN $pv ON k.j = $pv.j GROUP BY k.i),
             |u$t AS MATERIALIZED (
             |  SELECT r.i, round(r.a / kv$t.kv::DOUBLE, 9) AS u
             |  FROM r JOIN kv$t ON r.i = kv$t.i),
             |ku$t AS MATERIALIZED (
             |  SELECT k.j, sum(round(k.k * u$t.u, 9)::DECIMAL(38,9)) AS ku
             |  FROM k JOIN u$t ON k.i = u$t.i GROUP BY k.j),
             |v$t AS MATERIALIZED (
             |  SELECT c.j, round(c.b / ku$t.ku::DOUBLE, 9) AS v
             |  FROM c JOIN ku$t ON c.j = ku$t.j)""".stripMargin
        }
        val rounds = (1 to 12).map(round).mkString(",\n")
        s"""WITH g AS (SELECT unnest(range(0, 16))::BIGINT AS cell),
           |ha AS (SELECT least((greatest(0, least(800, n_chars)) - 0)
           |    // 50, 15)::BIGINT AS cell, count(*) AS cnt
           |  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
           |  GROUP BY 1),
           |hb AS (SELECT least((greatest(0, least(800, n_chars)) - 0)
           |    // 50, 15)::BIGINT AS cell, count(*) AS cnt
           |  FROM documents WHERE lang = 'zh' AND n_chars IS NOT NULL
           |  GROUP BY 1),
           |r AS MATERIALIZED (
           |  SELECT g.cell AS i, coalesce(ha.cnt, 0)::BIGINT AS na,
           |    round(coalesce(ha.cnt, 0)::DOUBLE /
           |      (SELECT sum(cnt) FROM ha), 9) AS a
           |  FROM g LEFT JOIN ha USING (cell)),
           |c AS MATERIALIZED (
           |  SELECT g.cell AS j, coalesce(hb.cnt, 0)::BIGINT AS nb,
           |    round(coalesce(hb.cnt, 0)::DOUBLE /
           |      (SELECT sum(cnt) FROM hb), 9) AS b
           |  FROM g LEFT JOIN hb USING (cell)),
           |k AS MATERIALIZED (
           |  SELECT gi.cell AS i, gj.cell AS j,
           |    round(exp(-abs(gi.cell - gj.cell)::DOUBLE / 2.0), 9) AS k,
           |    abs(gi.cell - gj.cell)::DOUBLE AS cost
           |  FROM g gi, g gj),
           |v0 AS (SELECT j, 1.0::DOUBLE AS v FROM c),
           |$rounds,
           |plan AS MATERIALIZED (
           |  SELECT k.i, k.j, round(u12.u * k.k * v12.v, 9) AS pi, k.cost
           |  FROM k JOIN u12 ON k.i = u12.i JOIN v12 ON k.j = v12.j),
           |tc AS (SELECT sum(round(pi * cost, 9)::DECIMAL(38,9)) AS tc
           |  FROM plan),
           |rm AS (SELECT i, sum(round(pi, 9)::DECIMAL(38,9)) AS rm
           |  FROM plan GROUP BY i),
           |re AS (SELECT sum(round(abs(rm.rm::DOUBLE - r.a), 9)
           |    ::DECIMAL(38,9)) AS re FROM rm JOIN r USING (i)),
           |cm AS (SELECT j, sum(round(pi, 9)::DECIMAL(38,9)) AS cm
           |  FROM plan GROUP BY j),
           |ce AS (SELECT sum(round(abs(cm.cm::DOUBLE - c.b), 9)
           |    ::DECIMAL(38,9)) AS ce FROM cm JOIN c USING (j)),
           |na AS (SELECT sum(na)::BIGINT AS n_a FROM r),
           |nb AS (SELECT sum(nb)::BIGINT AS n_b FROM c)
           |SELECT n_a, n_b, 16::BIGINT AS cells, 12::BIGINT AS iters,
           |  round(tc::DOUBLE, 6) AS sinkhorn_cost,
           |  round(re::DOUBLE, 6) AS row_err,
           |  round(ce::DOUBLE, 6) AS col_err
           |FROM na, nb, tc, re, ce""".stripMargin
      }),

    // B-cubed precision/recall/F1 of the langId partition vs the gold
    // lang labels — the ER/coreference companion to x310's ARI/NMI
    Entry("x458_bcubed", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      graft.ops.Stats.bcubed(d, TextOps.langId(F.col("text")),
        F.col("lang"))
    },
      // x310's langId replay feeding the identical-cell B³ collapse:
      // per-cell n_ct²/n terms 9-dp DECIMAL-summed, 6-dp readouts
      Oracle("""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in'))) AS en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y','es','un','que'))) AS es
        |  FROM scored),
        |pair AS (SELECT lang AS t,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS c
        |  FROM hits WHERE lang IS NOT NULL),
        |cells AS (SELECT c, t, count(*)::BIGINT AS nct FROM pair
        |  GROUP BY 1, 2),
        |cm AS (SELECT c, sum(nct)::BIGINT AS nc FROM cells GROUP BY 1),
        |tm AS (SELECT t, sum(nct)::BIGINT AS nt FROM cells GROUP BY 1),
        |terms AS (SELECT nct,
        |    round(nct::DOUBLE * nct::DOUBLE / nc::DOUBLE, 9)
        |      ::DECIMAL(38,9) AS tp,
        |    round(nct::DOUBLE * nct::DOUBLE / nt::DOUBLE, 9)
        |      ::DECIMAL(38,9) AS tr
        |  FROM cells JOIN cm USING (c) JOIN tm USING (t)),
        |kc AS (SELECT count(*)::BIGINT AS k_pred FROM cm),
        |kt AS (SELECT count(*)::BIGINT AS k_gold FROM tm),
        |ag AS (SELECT sum(nct)::BIGINT AS n, sum(tp) AS sp,
        |    sum(tr) AS sr FROM terms)
        |SELECT n, k_pred, k_gold,
        |  round(sp::DOUBLE / n::DOUBLE, 6) AS b3_precision,
        |  round(sr::DOUBLE / n::DOUBLE, 6) AS b3_recall,
        |  round(2.0 * (sp::DOUBLE / n::DOUBLE) * (sr::DOUBLE / n::DOUBLE)
        |    / nullif(sp::DOUBLE / n::DOUBLE + sr::DOUBLE / n::DOUBLE,
        |      0.0), 6) AS b3_f1
        |FROM ag CROSS JOIN kc CROSS JOIN kt""".stripMargin)),

    // IPS/SNIPS off-policy value of every "always play a" policy from
    // the logged event feed — planted deterministic propensity
    // p = 0.2 + 0.6·u(md5 event_id), the logged-propensity stand-in
    Entry("x457_ips_offpolicy", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val u = (F.conv(F.substring(F.md5(F.concat(F.lit("ips|"),
        F.col("event_id").cast("string"))), 1, 6), 16, 10)
        .cast("long").cast("double") + F.lit(0.5)) / F.lit(16777216.0)
      graft.ops.EventOps.ipsOffPolicy(ev, "event_type", "value",
        F.lit(0.2) + F.lit(0.6) * u,
        Seq("click", "purchase", "signup", "view"))
    },
      // same planted propensity, same 9-dp DECIMAL term sums, same
      // 6-dp + 0.0 readouts
      Oracle("""WITH b AS (
        |  SELECT event_type AS a, value AS r,
        |    0.2 + 0.6 * ((('0x' || substring(md5('ips|'
        |      || event_id::VARCHAR), 1, 6))::BIGINT::DOUBLE + 0.5)
        |      / 16777216.0) AS p
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), s AS (
        |  SELECT t.ta, count(*) AS n,
        |    sum(CASE WHEN b.a = t.ta THEN 1 ELSE 0 END)::BIGINT
        |      AS n_match,
        |    sum(round(b.r, 9)::DECIMAL(38,9)) AS sr,
        |    sum(round(CASE WHEN b.a = t.ta THEN (1.0 / b.p) * b.r
        |      ELSE 0.0 END, 9)::DECIMAL(38,9)) AS swr,
        |    sum(round(CASE WHEN b.a = t.ta THEN 1.0 / b.p ELSE 0.0 END,
        |      9)::DECIMAL(38,9)) AS sw,
        |    sum(round(CASE WHEN b.a = t.ta THEN (1.0 / b.p) * (1.0 / b.p)
        |      ELSE 0.0 END, 9)::DECIMAL(38,9)) AS sw2
        |  FROM b, (SELECT unnest(['click', 'purchase', 'signup',
        |    'view']) AS ta) t
        |  GROUP BY t.ta
        |)
        |SELECT ta AS target_action, n, n_match,
        |  round(sr::DOUBLE / n, 6) + 0.0 AS mean_logged_reward,
        |  round(swr::DOUBLE / n, 6) + 0.0 AS ips,
        |  round(swr::DOUBLE / nullif(sw::DOUBLE, 0), 6) + 0.0 AS snips,
        |  round(sw::DOUBLE * sw::DOUBLE / nullif(sw2::DOUBLE, 0), 6)
        |    + 0.0 AS ess
        |FROM s ORDER BY target_action""".stripMargin)),

    // ε-DP quantiles of n_chars via the exponential mechanism over a
    // pinned 32-cell grid — rank-space utility, deterministic
    // Gumbel-max draws (md5), true grid quantiles ride for the audit
    Entry("x456_dp_quantile", (s, dir) =>
      graft.ops.Curation.dpQuantileExp(
        Registrar.table(s, dir, "documents"), "n_chars",
        Seq(0.25, 0.5, 0.75, 0.9), lo = 0L, hi = 800L, grid = 25L,
        epsilon = 1.0),
      // exponential-mechanism replay: pinned 32-cell grid, rank-space
      // utility vs ceil(q*n), Gumbel-max over 9-dp scores with the
      // 24-bit md5 uniform (seed 'dpq|qi|cell'), cell-asc tiebreak
      Oracle("""WITH cc AS (
        |  SELECT least((greatest(0, least(800, n_chars)) - 0) // 25,
        |    31)::BIGINT AS cell, count(*) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        |), cells AS (
        |  SELECT g.cell, coalesce(cc.c, 0)::BIGINT AS c
        |  FROM (SELECT unnest(range(0, 32))::BIGINT AS cell) g
        |  LEFT JOIN cc USING (cell)
        |), cum AS (
        |  SELECT cell, c, (sum(c) OVER (ORDER BY cell
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS cum
        |  FROM cells
        |), nn AS (SELECT sum(c)::BIGINT AS n FROM cc),
        |qs AS (SELECT * FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.75),
        |  (3, 0.9)) t(qi, q)),
        |sc AS (
        |  SELECT qs.qi, qs.q, cum.cell, cum.cum, nn.n,
        |    ceil(qs.q * nn.n::DOUBLE)::BIGINT AS target,
        |    round(0.5 * (-abs(cum.cum - ceil(qs.q * nn.n::DOUBLE)
        |        ::BIGINT)::DOUBLE)
        |      - ln(-ln((('0x' || substring(md5('dpq|' || qi::VARCHAR
        |          || '|' || cell::VARCHAR), 1, 6))::BIGINT::DOUBLE + 0.5)
        |        / 16777216.0)), 9) AS score
        |  FROM cum, qs, nn
        |), w AS (
        |  SELECT qi, q, n, target, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qi
        |      ORDER BY score DESC, cell) AS rk FROM sc) WHERE rk = 1
        |), tr AS (
        |  SELECT qi, min(cell) AS tcell FROM sc WHERE cum >= target
        |  GROUP BY qi
        |)
        |SELECT w.q, w.n, w.target AS target_rank,
        |  (0 + (tr.tcell + 1) * 25)::BIGINT AS true_value,
        |  (0 + (w.cell + 1) * 25)::BIGINT AS dp_value,
        |  abs(w.cell - tr.tcell)::BIGINT AS abs_err_cells,
        |  1.0 AS epsilon_each
        |FROM w JOIN tr USING (qi) ORDER BY q""".stripMargin)),

    // exact KNN-Shapley data valuation (Jia 2019) — which corpus rows
    // earn their keep for a 3-NN classifier on 8 held-out test points;
    // the suffix recurrence runs as a DECIMAL window sum, never a loop
    Entry("x455_knn_shapley", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.knnShapley(emb, emb.filter(F.col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 3, topN = 20)
    },
      // exact KNN-Shapley replay: same L2 ranking fold, same closed-form
      // per-rank terms (9-dp DECIMAL), suffix sum = rk-DESC running window
      // sum (exact decimals — association-free), phi = mean over tests,
      // + 0.0 sign-of-zero canon on the 6-dp readout
      Oracle("""WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS qlab
        |  FROM embeddings WHERE vec_id < 8
        |), d AS (
        |  SELECT q.qid, c.vec_id, c.label,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> (c.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
        |         * (c.embedding[i]::DOUBLE - q.qv[i]::DOUBLE))) AS dist,
        |    CASE WHEN c.label = q.qlab THEN 1.0 ELSE 0.0 END AS ind
        |  FROM embeddings c, q WHERE c.vec_id <> q.qid
        |), r AS (
        |  SELECT qid, vec_id, label, ind,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
        |      AS rk,
        |    count(*) OVER (PARTITION BY qid) AS n,
        |    lead(ind) OVER (PARTITION BY qid ORDER BY dist, vec_id)
        |      AS indn
        |  FROM d
        |), c AS (
        |  SELECT qid, vec_id, label, rk,
        |    round(CASE WHEN indn IS NULL THEN ind / n
        |      ELSE (ind - indn) * least(3.0, rk::DOUBLE) / (3.0 * rk)
        |      END, 9)::DECIMAL(38,9) AS term
        |  FROM r
        |), s AS (
        |  SELECT qid, vec_id, label,
        |    sum(term) OVER (PARTITION BY qid ORDER BY rk DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
        |  FROM c
        |), phi AS (
        |  SELECT vec_id, label, count(*)::BIGINT AS n_tests,
        |    round(sum(sv)::DOUBLE / count(*), 6) + 0.0 AS phi
        |  FROM s GROUP BY vec_id, label
        |)
        |SELECT * FROM phi ORDER BY phi DESC, vec_id LIMIT 20""".stripMargin)),

    // URL canonicalization dedup census over planted crawl URLs
    // (scheme/host case, www, :443, utm params, fragments, trailing
    // slash routed by doc_id residues): what canonicalization collapses
    // that exact-hash dedup on the raw string misses
    Entry("x453_url_dedup", (s, dir) => {
      val url = F.concat(
        F.when(F.col("doc_id") % 2 === 0, F.lit("HTTPS://WWW."))
          .otherwise(F.lit("https://")),
        F.col("source"), F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 === 0, F.lit(":443"))
          .otherwise(F.lit("")),
        F.lit("/docs/"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 5 === 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 === 0,
          F.concat(F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 7).cast("string")))
          .otherwise(F.when(F.col("doc_id") % 7 === 0,
            F.lit("?utm_campaign=x")).otherwise(F.lit(""))),
        F.when(F.col("doc_id") % 6 === 0, F.lit("#sec-2"))
          .otherwise(F.lit("")))
      graft.ops.Curation.urlDedupCensus(
        Registrar.table(s, dir, "documents").select(url.as("url")),
        "url")
    },
      // same planted construction, same regexp chain (DuckDB needs the
      // explicit 'g' flag to match Spark's replace-all default), same
      // distinct/census collapses
      Oracle("""WITH u AS (
        |  SELECT (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
        |      ELSE 'https://' END)
        |    || source || '.example.com'
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/docs/' || (doc_id % 50)::VARCHAR
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |          THEN '?utm_source=feed&id=' || (doc_id % 7)::VARCHAR
        |          WHEN doc_id % 7 = 0 THEN '?utm_campaign=x'
        |          ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec-2' ELSE '' END)
        |    AS url
        |  FROM documents
        |), pre AS (
        |  SELECT url,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |      '^www\.', '') AS wwwless,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
        |  FROM u
        |), c AS (
        |  SELECT url, hostport,
        |    CASE WHEN scheme = '' THEN url
        |    ELSE scheme || '://'
        |      || (CASE WHEN scheme = 'http'
        |            THEN regexp_replace(wwwless, ':80$', '')
        |          WHEN scheme = 'https'
        |            THEN regexp_replace(wwwless, ':443$', '')
        |          ELSE wwwless END)
        |      || regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(rest,
        |             '#.*$', '', 'g'),
        |           '([?&])((utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&#]*&)+',
        |             '\1', 'g'),
        |           '[?&](utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&#]*$',
        |             '', 'g'),
        |           '/+$', '', 'g')
        |    END AS canon
        |  FROM pre
        |), flat AS (
        |  SELECT count(*)::BIGINT AS n_urls,
        |    count(DISTINCT url)::BIGINT AS n_raw_distinct,
        |    count(DISTINCT canon)::BIGINT AS n_canon_distinct,
        |    sum(CASE WHEN regexp_matches(url,
        |      '[?&](utm_[A-Za-z0-9_]+|gclid|fbclid)=') THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_tracking,
        |    sum(CASE WHEN lower(hostport) LIKE 'www.%' THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_www,
        |    sum(CASE WHEN hostport <> lower(hostport) THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_upper_host,
        |    sum(CASE WHEN contains(url, '#') THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_fragment
        |  FROM c
        |), g AS (
        |  SELECT coalesce(count(*), 0)::BIGINT AS multi_variant_groups,
        |    coalesce(sum(v - 1), 0)::BIGINT AS dup_urls
        |  FROM (SELECT canon, count(*) AS v
        |    FROM (SELECT DISTINCT url, canon FROM c) GROUP BY canon
        |    HAVING count(*) > 1)
        |)
        |SELECT * FROM flat, g""".stripMargin)),

    // personalized PageRank on the x92 bipartite graph: teleport
    // concentrated on 4 md5-chosen seed customers -- rank = proximity
    // to the seeds, the graph-expansion primitive of seed-set curation
    Entry("x452_ppr", (s, dir) => {
      val e = Registrar.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(Registrar.table(s, dir, "lineitem")
            .select("l_orderkey", "l_suppkey"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("src"),
          (F.col("l_suppkey") + 100000L).as("dst"))
        .distinct()
      graft.ops.Graph.personalizedPageRank(e, "src", "dst", iters = 3,
        nSeeds = 4)
    },
      Oracle {
        def iter(i: Int, prev: String): String =
          s"""s$i AS (SELECT round(sum(r), 6) AS dang FROM $prev WHERE od = 0),
             |c$i AS (
             |  SELECT e.dst AS node, round(sum(round(0.85 * r.r / r.od, 6)), 6) AS cs
             |  FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst),
             |r$i AS (
             |  SELECT t.node, t.od, t.seed, t.tp,
             |    round((1.0 - 0.85) * t.tp
             |      + 0.85 * coalesce((SELECT dang FROM s$i), 0.0) * t.tp
             |      + coalesce(c$i.cs, 0.0), 6) AS r
             |  FROM t LEFT JOIN c$i ON t.node = c$i.node)""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |), nodes AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e
           |), deg AS (
           |  SELECT src AS node, count(*) AS od FROM e GROUP BY src
           |), nd AS (
           |  SELECT n.node, coalesce(d.od, 0) AS od
           |  FROM nodes n LEFT JOIN deg d ON n.node = d.node
           |), sd AS (
           |  SELECT node FROM nodes ORDER BY md5(node::VARCHAR), node LIMIT 4
           |), kt AS (SELECT count(*)::BIGINT AS k FROM sd),
           |t AS (
           |  SELECT nd.node, nd.od,
           |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS seed,
           |    CASE WHEN sd.node IS NOT NULL
           |      THEN round(1.0 / (SELECT k FROM kt), 6) ELSE 0.0 END AS tp
           |  FROM nd LEFT JOIN sd ON nd.node = sd.node
           |), r0 AS (SELECT node, od, seed, tp, tp AS r FROM t),
           |${iter(1, "r0")},
           |${iter(2, "r1")},
           |${iter(3, "r2")}
           |SELECT node, od AS out_deg, seed, r AS "rank"
           |FROM r3 ORDER BY r DESC, node""".stripMargin
      }),

    // deterministic RANSAC line of tokens-vs-chars with planted gross
    // outliers (doc_id%17 -> +500 tokens): consensus fit ignores the
    // plant that drags plain OLS; md5-ranked pivot pairs, broadcast
    // model table, one inlier-count pass
    Entry("x451_ransac", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
        .select(F.col("n_chars"),
          (TextOps.tokenCount(F.col("text")) +
            F.when(F.col("doc_id") % 17 === 0, 500L).otherwise(0L))
            .as("toks"))
      graft.ops.Stats.ransacLine(d, F.col("n_chars"), F.col("toks"),
        nCandidates = 8, tol = 50.0)
    },
      // same md5-rank pivot pick (ORDER BY h LIMIT 2k), same pair models
      // with a repeated textually in b, same inlier predicate, x107 OLS
      // refit over exact integer sums
      Oracle("""WITH p AS (SELECT n_chars::BIGINT AS x,
        |    (len(string_split_regex(trim(text), '\s+'))::BIGINT +
        |     CASE WHEN doc_id % 17 = 0 THEN 500 ELSE 0 END) AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |nt AS (SELECT count(*)::BIGINT AS n_points FROM p),
        |tp AS (SELECT x, y,
        |    md5('ransac' || '|' || x || '|' || y) AS h
        |  FROM p ORDER BY h, x, y LIMIT 16),
        |rk AS (SELECT x, y,
        |    row_number() OVER (ORDER BY h, x, y) AS r FROM tp),
        |c1 AS (SELECT (r + 1) // 2 AS cand, x AS x1, y AS y1
        |  FROM rk WHERE r % 2 = 1),
        |c2 AS (SELECT r // 2 AS cand, x AS x2, y AS y2
        |  FROM rk WHERE r % 2 = 0),
        |md AS (SELECT cand,
        |    (y2 - y1)::DOUBLE / (x2 - x1)::DOUBLE AS a,
        |    y1::DOUBLE - ((y2 - y1)::DOUBLE / (x2 - x1)::DOUBLE)
        |      * x1::DOUBLE AS b
        |  FROM c1 JOIN c2 USING (cand) WHERE x2 <> x1),
        |kt AS (SELECT count(*)::BIGINT AS n_candidates FROM md),
        |cnt AS (SELECT cand, count(*)::BIGINT AS n_inliers
        |  FROM p, md
        |  WHERE abs(y::DOUBLE - (a * x::DOUBLE + b)) <= 50.0
        |  GROUP BY cand),
        |best AS (SELECT cnt.cand, n_inliers, a, b
        |  FROM cnt JOIN md USING (cand)
        |  ORDER BY n_inliers DESC, cnt.cand LIMIT 1),
        |inl AS (SELECT p.x, p.y FROM p, best
        |  WHERE abs(y::DOUBLE - (a * x::DOUBLE + b)) <= 50.0),
        |agg AS (SELECT count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,
        |    sum(y)::DOUBLE AS sy, sum(x * x)::DOUBLE AS sxx,
        |    sum(x * y)::DOUBLE AS sxy, sum(y * y)::DOUBLE AS syy
        |  FROM inl)
        |SELECT nt.n_points, kt.n_candidates, best.cand AS best_cand,
        |  best.n_inliers,
        |  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6) + 0.0
        |    AS slope,
        |  round((sy * sxx - sx * sxy) / nullif(n * sxx - sx * sx, 0), 6) + 0.0
        |    AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) + 0.0
        |    AS r2
        |FROM nt, kt, best, agg""".stripMargin)),

    // linear CKA between the embeddings and their int8 dequantized
    // reconstruction: did x40's quantization preserve the GEOMETRY of
    // the space (structure, not per-vector error)? Feature-space form —
    // O(n*d^2), never the n x n Gram matrix
    Entry("x450_cka_quant", (s, dir) => {
      val q = graft.ops.Similarity.quantize(
        Registrar.table(s, dir, "embeddings"), "embedding")
        // linearCka's size filter is pushed below this projection with
        // `scale` inlined, so no lambda here may read it
        .withColumn("recon", F.zip_with(F.col("q"),
          F.array_repeat(F.col("scale"), F.size(F.col("q"))),
          (c, sc) => c.cast("double") * sc))
      graft.ops.Similarity.linearCka(q, F.col("embedding"),
        F.col("recon"))
    },
      // same x40 quantize replay -> dequant, 9-dp inputs, d^2 product
      // rollups via a dims lateral, DECIMAL sums, same centered-entry tree
      Oracle("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS m FROM v
        |), qq AS (
        |  SELECT vec_id, v, m / 127 AS scale,
        |    CASE WHEN m = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v,
        |           x -> floor(x / m * 127 + 0.5)::INT) END AS q
        |  FROM m
        |), ab AS (
        |  SELECT vec_id, list_transform(v, x -> round(x, 9)) AS a,
        |    list_transform(range(1, len(v) + 1),
        |      i -> round(q[i] * scale, 9)) AS b
        |  FROM qq WHERE len(v) > 0
        |), nt AS (SELECT count(*)::BIGINT AS n FROM ab),
        |dt AS (SELECT max(len(a))::INT AS d FROM ab),
        |dims AS (SELECT unnest(range(1, (SELECT d FROM dt) + 1)) AS i),
        |sa AS (SELECT i, sum(a[i]::DECIMAL(38,9)) AS si
        |  FROM ab, dims GROUP BY i),
        |sb AS (SELECT i AS j, sum(b[i]::DECIMAL(38,9)) AS sj
        |  FROM ab, dims GROUP BY i),
        |cab AS (SELECT d1.i AS i, d2.i AS j,
        |    sum(round(a[d1.i] * b[d2.i], 9)::DECIMAL(38,9)) AS sab
        |  FROM ab, dims d1, dims d2 GROUP BY 1, 2),
        |caa AS (SELECT d1.i AS i, d2.i AS j,
        |    sum(round(a[d1.i] * a[d2.i], 9)::DECIMAL(38,9)) AS sab
        |  FROM ab, dims d1, dims d2 GROUP BY 1, 2),
        |cbb AS (SELECT d1.i AS i, d2.i AS j,
        |    sum(round(b[d1.i] * b[d2.i], 9)::DECIMAL(38,9)) AS sab
        |  FROM ab, dims d1, dims d2 GROUP BY 1, 2),
        |fab AS (SELECT sum(round(c * c, 9)::DECIMAL(38,9))::DOUBLE AS f
        |  FROM (SELECT round(sab::DOUBLE -
        |      sa.si::DOUBLE * sb.sj::DOUBLE / nt.n::DOUBLE, 9) AS c
        |    FROM cab JOIN sa USING (i) JOIN sb USING (j), nt)),
        |faa AS (SELECT sum(round(c * c, 9)::DECIMAL(38,9))::DOUBLE AS f
        |  FROM (SELECT round(sab::DOUBLE -
        |      a1.si::DOUBLE * a2.si::DOUBLE / nt.n::DOUBLE, 9) AS c
        |    FROM caa JOIN sa a1 USING (i)
        |    JOIN sa a2 ON caa.j = a2.i, nt)),
        |fbb AS (SELECT sum(round(c * c, 9)::DECIMAL(38,9))::DOUBLE AS f
        |  FROM (SELECT round(sab::DOUBLE -
        |      b1.sj::DOUBLE * b2.sj::DOUBLE / nt.n::DOUBLE, 9) AS c
        |    FROM cbb JOIN sb b1 ON cbb.i = b1.j
        |    JOIN sb b2 ON cbb.j = b2.j, nt))
        |SELECT nt.n AS n, dt.d AS d,
        |  round(fab.f, 6) AS cross_f2,
        |  round(faa.f, 6) AS a_f2,
        |  round(fbb.f, 6) AS b_f2,
        |  round(fab.f / nullif(sqrt(faa.f * fbb.f), 0.0), 6) AS cka
        |FROM nt, dt, fab, faa, fbb""".stripMargin)),

    // classical additive decomposition of the daily event-type series:
    // centered 7-row MA trend + centered day-of-week seasonal offsets +
    // remainder — the profile readout behind x140's anomaly z-scores
    Entry("x449_decompose", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("day"))
        .agg(F.count(F.lit(1)).as("n"))
      graft.ops.EventOps.classicalDecompose(daily, Seq("event_type"),
          F.col("day"), F.col("n"), window = 7)
        .orderBy("event_type", "t")
    },
      // same exact long 7-row frame sum (segment-tree association order
      // never touches a double), 9-dp DECIMAL detrended terms, released
      // (6-dp) components in the remainder subtraction
      Oracle("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS t, count(*)::BIGINT AS v
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, t, v,
        |    CASE WHEN count(v) OVER fr = 7
        |      THEN (sum(v) OVER fr)::DOUBLE / 7.0 END AS trend
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), d AS (
        |  SELECT event_type, t, v, trend, dayofweek(t) AS dow,
        |    round(v::DOUBLE - trend, 9)::DECIMAL(38,9) AS det
        |  FROM w
        |), dm AS (
        |  SELECT event_type, dow,
        |    round(sum(det)::DOUBLE / count(det), 9)::DECIMAL(38,9) AS sm
        |  FROM d WHERE det IS NOT NULL GROUP BY 1, 2
        |), gm AS (
        |  SELECT event_type, sum(sm)::DOUBLE / count(*)::DOUBLE AS g
        |  FROM dm GROUP BY 1
        |), sea AS (
        |  SELECT dm.event_type, dm.dow,
        |    round(sm::DOUBLE - g, 6) AS seasonal
        |  FROM dm JOIN gm USING (event_type)
        |)
        |SELECT d.event_type, d.t, d.v, round(d.trend, 6) AS trend,
        |  sea.seasonal,
        |  round(d.v::DOUBLE - round(d.trend, 6) - sea.seasonal, 6)
        |    AS remainder
        |FROM d LEFT JOIN sea
        |  ON d.event_type = sea.event_type AND d.dow = sea.dow
        |ORDER BY d.event_type, d.t""".stripMargin)),

    // Holt double-exponential smoothing of the daily event-type series:
    // level + trend states folded exactly over a 16-day lookback — the
    // forecast column x122's trendless EWMA lags on every ramp
    Entry("x448_holt_trend", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("day"))
        .agg(F.count(F.lit(1)).as("n"))
      graft.ops.EventOps.holtSmooth(daily, Seq("event_type"),
          F.col("day"), F.col("n"), alpha = 0.4, beta = 0.2,
          lookback = 16)
        .orderBy("event_type", "t")
    },
      // same 16-day list window; the two-state fold rides list_reduce with
      // a [l, b] DOUBLE[] accumulator (elements wrapped [v, 0.0] so acc
      // and element types unify); l' repeated textually, the x122 rule
      Oracle("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS t, count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, t, v,
        |    list(v) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
        |  FROM daily
        |), s AS (
        |  SELECT event_type, t, v,
        |    list_reduce(
        |      [[lst[1], 0.0]] || list_transform(lst[2:], x -> [x, 0.0]),
        |      (acc, e) -> [
        |        0.4 * e[1] + (1.0 - 0.4) * (acc[1] + acc[2]),
        |        0.2 * ((0.4 * e[1] + (1.0 - 0.4) * (acc[1] + acc[2]))
        |          - acc[1]) + (1.0 - 0.2) * acc[2]
        |      ]) AS st
        |  FROM l
        |)
        |SELECT event_type, t, v,
        |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[1] + st[2], 6) AS forecast
        |FROM s ORDER BY event_type, t""".stripMargin)),

    // deflate-ratio census by source: LZ77 catches long-range repetition
    // (pasted paragraphs, boilerplate blocks) that char entropy and
    // adjacent-n-gram repetition miss. Planted known-positives (doc_id%9
    // routing): =0 appends a 43-char phrase repeated 60x -> repetitive.
    // Deflate lengths are JVM-side (no DuckDB codec) -> rows-only; the
    // census plumbing is pinned by the x442 surrogate twin, the codec by
    // OpsSpec replay.
    Entry("x441_compress_census", (s, dir) => {
      val planted = Registrar.table(s, dir, "documents")
        .withColumn("text", F.when(F.col("doc_id") % 9 === 0,
            F.concat(F.col("text"), F.repeat(
              F.lit(" the same boilerplate navigation block here"), 60)))
          .otherwise(F.col("text")))
      graft.ops.TextOps.compressionCensus(planted, Seq("source"), "text")
    },
      PinnedBy("x442_compress_census_fixed")),

    // the same compressionCensus code path with the codec swapped for an
    // engine-replayable surrogate (comp := bytes after removing spaces),
    // pinning the census math -- flag predicates, empty handling, macro
    // ratio, shares -- in DuckDB. Planted doc_id%7 routing fires every
    // branch: =0 two thousand appended spaces -> repetitive, =1 spaces
    // stripped -> ratio 1.0 -> incompressible, =2 emptied -> n_empty.
    Entry("x442_compress_census_fixed", (s, dir) => {
      val m = F.col("doc_id") % 7
      val planted = Registrar.table(s, dir, "documents")
        .withColumn("text",
          F.when(m === 0, F.concat(F.col("text"),
              F.repeat(F.lit(" "), 2000)))
            .when(m === 1, F.regexp_replace(F.col("text"), " ", ""))
            .when(m === 2, F.lit(""))
            .otherwise(F.col("text")))
      graft.ops.TextOps.compressionCensus(planted, Seq("source"), "text",
        lo = 0.3, hi = 0.95,
        compLen = Some(F.octet_length(
          F.regexp_replace(F.col("text"), " ", "")).cast("long")))
    },
      // same doc_id%7 plant routing and no-spaces surrogate codec; exact
      // long sums, one IEEE division for the macro ratio, per-doc
      // threshold compares as single IEEE multiply+compare on both engines
      Oracle("""WITH p AS (SELECT source, CASE
        |    WHEN doc_id % 7 = 0 THEN text || repeat(' ', 2000)
        |    WHEN doc_id % 7 = 1 THEN replace(text, ' ', '')
        |    WHEN doc_id % 7 = 2 THEN ''
        |    ELSE text END AS t
        |  FROM documents),
        |m AS (SELECT source, strlen(t)::BIGINT AS raw,
        |    strlen(replace(t, ' ', ''))::BIGINT AS comp FROM p),
        |f AS (SELECT source, raw, comp,
        |    CASE WHEN raw > 0 AND comp::DOUBLE < 0.3 * raw::DOUBLE
        |      THEN 1 ELSE 0 END AS r,
        |    CASE WHEN raw > 0 AND comp::DOUBLE > 0.95 * raw::DOUBLE
        |      THEN 1 ELSE 0 END AS i
        |  FROM m)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN raw = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty,
        |  sum(raw)::BIGINT AS total_bytes,
        |  sum(comp)::BIGINT AS comp_bytes,
        |  round(sum(comp)::DOUBLE / nullif(sum(raw)::DOUBLE, 0.0), 6)
        |    AS ratio,
        |  sum(r)::BIGINT AS n_repetitive,
        |  round(sum(r)::DOUBLE / nullif((count(*) -
        |    sum(CASE WHEN raw = 0 THEN 1 ELSE 0 END))::DOUBLE, 0.0), 6)
        |    AS repetitive_share,
        |  sum(i)::BIGINT AS n_incompressible,
        |  round(sum(i)::DOUBLE / nullif((count(*) -
        |    sum(CASE WHEN raw = 0 THEN 1 ELSE 0 END))::DOUBLE, 0.0), 6)
        |    AS incompressible_share
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // weighted reciprocity of the behavior-transition digraph (x306's
    // census as directed weighted edges): does flow bounce back
    // (browse<->search) or funnel one-way — min(w_uv, w_vu) mass share
    Entry("x428_reciprocity", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val byUser = Window.partitionBy("user_id")
        .orderBy(graft.ops.EventOps.tsUs(ev).asc, F.col("event_id").asc)
      val cells = ev
        .withColumn("prev_type", F.lag(F.col("event_type"), 1)
          .over(byUser))
        .filter(F.col("prev_type").isNotNull)
        .groupBy(F.col("prev_type"), F.col("event_type").as("next_type"))
        .agg(F.count(F.lit(1)).as("w"))
      graft.ops.Graph.weightedReciprocity(cells, "prev_type",
        "next_type", "w")
    },
      // x306's transition census as directed weighted edges; reversed-key
      // self-join; exact longs, two IEEE shares
      Oracle("""WITH e AS (SELECT user_id AS u, event_type AS et,
        |    epoch_us(ts) AS tu, event_id AS eid FROM events),
        |l AS (SELECT et AS next_type,
        |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS prev_type
        |  FROM e),
        |cells AS (SELECT prev_type AS s, next_type AS d,
        |    count(*)::BIGINT AS w
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |de AS (SELECT s, d, w FROM cells WHERE s <> d),
        |j AS (SELECT a.s, a.d, a.w, coalesce(b.w, 0)::BIGINT AS wr
        |  FROM de a LEFT JOIN de b ON b.s = a.d AND b.d = a.s)
        |SELECT count(*)::BIGINT AS n_edges,
        |  coalesce(sum(CASE WHEN wr > 0 THEN 1 END), 0)::BIGINT
        |    AS n_recip_edges,
        |  sum(w)::BIGINT AS w_total,
        |  sum(least(w, wr))::BIGINT AS w_recip,
        |  round(sum(least(w, wr))::DOUBLE /
        |    nullif(sum(w)::DOUBLE, 0.0), 6) AS reciprocity,
        |  round(coalesce(sum(CASE WHEN wr > 0 THEN 1 END), 0)::DOUBLE /
        |    nullif(count(*)::DOUBLE, 0.0), 6) AS edge_reciprocity
        |FROM j""".stripMargin)),

    // Onnela weighted clustering over the co-purchase graph: triangle
    // intensity (geometric mean of normalized weights) per node — the
    // strong-tie/weak-tie structure plain lcc discards
    Entry("x427_weighted_clustering", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.weightedClustering(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst", "w")
    },
      // triangles enumerated ONCE in the Spark plan's oriented (u,v,w)
      // order — the identical round(cbrt((wn_uv*wn_uw)*wn_vw), 9) term
      // explodes to all three corners (advisor r14: per-center re-derived
      // terms associate the IEEE multiplies differently for two of three
      // corners); positive-sum per-node rollup, 6-dp
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b, w FROM e0 WHERE w >= 6),
        |wm AS (SELECT max(w)::DOUBLE AS m FROM und),
        |deg AS (SELECT n AS node, count(*)::BIGINT AS deg FROM
        |  (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1),
        |o AS (SELECT CASE WHEN da.deg < db.deg OR
        |      (da.deg = db.deg AND und.a < und.b)
        |      THEN und.a ELSE und.b END AS lo,
        |    CASE WHEN da.deg < db.deg OR
        |      (da.deg = db.deg AND und.a < und.b)
        |      THEN und.b ELSE und.a END AS hi,
        |    und.w::DOUBLE / wm.m AS wn
        |  FROM und JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b CROSS JOIN wm),
        |clos AS (SELECT lo AS v, hi AS w, wn FROM o
        |  UNION ALL SELECT hi AS v, lo AS w, wn FROM o),
        |tri AS (SELECT x.lo AS u, x.hi AS v, y.hi AS w,
        |    round(cbrt(x.wn * y.wn * c.wn), 9) AS t
        |  FROM o x JOIN o y ON y.lo = x.lo AND x.hi < y.hi
        |  JOIN clos c ON c.v = x.hi AND c.w = y.hi),
        |tric AS (SELECT u AS node, t FROM tri
        |  UNION ALL SELECT v AS node, t FROM tri
        |  UNION ALL SELECT w AS node, t FROM tri),
        |pn AS (SELECT node, count(*)::BIGINT AS n_tri, sum(t) AS s
        |  FROM tric GROUP BY 1)
        |SELECT deg.node, deg.deg,
        |  coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
        |  round(CASE WHEN deg.deg >= 2 THEN
        |    2.0::DOUBLE * coalesce(pn.s, 0.0::DOUBLE) /
        |      (deg.deg * (deg.deg - 1))::DOUBLE
        |    ELSE 0.0::DOUBLE END, 6) AS cw
        |FROM deg LEFT JOIN pn ON pn.node = deg.node
        |ORDER BY deg.node""".stripMargin)),

    // chrF2 over x22's near-pair list: whitespace-stripped char 1-3
    // gram clipped P/R means, beta=2 harmonic — the tokenization-robust
    // third of the MT-metric triple (x424 ROUGE, x425 BLEU)
    Entry("x426_chrf_pairs", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"),
          (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 10 < 3)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      TextOps.chrfPairs(pairs, docs, "doc_id", "text", maxN = 3)
    },
      // x22's pair list; whitespace stripped with the 'g' flag (DuckDB
      // regexp_replace is first-match by default, Spark's is global);
      // per-order clipped matches exact; chrP/chrR/chrF one IEEE tree
      Oracle("""WITH ids AS (SELECT doc_id FROM documents),
        |pairs AS (SELECT a.doc_id AS a, a.doc_id + 1 AS b FROM ids a
        |  WHERE a.doc_id % 10 < 3 AND EXISTS (
        |    SELECT 1 FROM ids x WHERE x.doc_id = a.doc_id + 1)),
        |ch AS (SELECT doc_id, regexp_replace(lower(trim(coalesce(
        |    text, ''))), '\s+', '', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IN (SELECT a FROM pairs UNION
        |    SELECT b FROM pairs)),
        |lens AS (SELECT doc_id, length(t)::BIGINT AS l FROM ch),
        |c1 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, length(t) + 1),
        |    i -> substring(t, i, 1))) AS g
        |  FROM ch WHERE length(t) >= 1) GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, length(t)),
        |    i -> substring(t, i, 2))) AS g
        |  FROM ch WHERE length(t) >= 2) GROUP BY 1, 2),
        |c3 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
        |    i -> substring(t, i, 3))) AS g
        |  FROM ch WHERE length(t) >= 3) GROUP BY 1, 2),
        |q1 AS (SELECT p.a, p.b, sum(least(x.c, y.c))::BIGINT AS mm
        |  FROM pairs p JOIN c1 x ON x.doc_id = p.a
        |  JOIN c1 y ON y.doc_id = p.b AND y.g = x.g GROUP BY 1, 2),
        |q2 AS (SELECT p.a, p.b, sum(least(x.c, y.c))::BIGINT AS mm
        |  FROM pairs p JOIN c2 x ON x.doc_id = p.a
        |  JOIN c2 y ON y.doc_id = p.b AND y.g = x.g GROUP BY 1, 2),
        |q3 AS (SELECT p.a, p.b, sum(least(x.c, y.c))::BIGINT AS mm
        |  FROM pairs p JOIN c3 x ON x.doc_id = p.a
        |  JOIN c3 y ON y.doc_id = p.b AND y.g = x.g GROUP BY 1, 2),
        |j AS (SELECT p.a, p.b,
        |    coalesce(la.l, 0)::BIGINT AS len_a,
        |    coalesce(lb.l, 0)::BIGINT AS len_b,
        |    coalesce(q1.mm, 0)::BIGINT AS m1,
        |    coalesce(q2.mm, 0)::BIGINT AS m2,
        |    coalesce(q3.mm, 0)::BIGINT AS m3
        |  FROM pairs p
        |  LEFT JOIN lens la ON la.doc_id = p.a
        |  LEFT JOIN lens lb ON lb.doc_id = p.b
        |  LEFT JOIN q1 ON q1.a = p.a AND q1.b = p.b
        |  LEFT JOIN q2 ON q2.a = p.a AND q2.b = p.b
        |  LEFT JOIN q3 ON q3.a = p.a AND q3.b = p.b),
        |f AS (SELECT a, b, len_a, len_b, m1, m2, m3,
        |    ((CASE WHEN len_a > 0 AND len_b > 0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN len_a - 1 > 0 AND len_b - 1 > 0 THEN 1 ELSE 0
        |       END) +
        |     (CASE WHEN len_a - 2 > 0 AND len_b - 2 > 0 THEN 1 ELSE 0
        |       END))::BIGINT AS nv,
        |    ((CASE WHEN len_a > 0 AND len_b > 0
        |        THEN m1::DOUBLE / len_b::DOUBLE ELSE 0.0::DOUBLE END) +
        |     (CASE WHEN len_a - 1 > 0 AND len_b - 1 > 0
        |        THEN m2::DOUBLE / (len_b - 1)::DOUBLE
        |        ELSE 0.0::DOUBLE END) +
        |     (CASE WHEN len_a - 2 > 0 AND len_b - 2 > 0
        |        THEN m3::DOUBLE / (len_b - 2)::DOUBLE
        |        ELSE 0.0::DOUBLE END)) AS psum,
        |    ((CASE WHEN len_a > 0 AND len_b > 0
        |        THEN m1::DOUBLE / len_a::DOUBLE ELSE 0.0::DOUBLE END) +
        |     (CASE WHEN len_a - 1 > 0 AND len_b - 1 > 0
        |        THEN m2::DOUBLE / (len_a - 1)::DOUBLE
        |        ELSE 0.0::DOUBLE END) +
        |     (CASE WHEN len_a - 2 > 0 AND len_b - 2 > 0
        |        THEN m3::DOUBLE / (len_a - 2)::DOUBLE
        |        ELSE 0.0::DOUBLE END)) AS rsum
        |  FROM j)
        |SELECT a, b, len_a, len_b, m1, m2, m3,
        |  CASE WHEN nv = 0 THEN NULL
        |    ELSE round(psum / nv::DOUBLE, 6) END AS chr_p,
        |  CASE WHEN nv = 0 THEN NULL
        |    ELSE round(rsum / nv::DOUBLE, 6) END AS chr_r,
        |  CASE WHEN nv = 0 THEN NULL
        |    WHEN psum + rsum = 0.0 THEN 0.0
        |    ELSE round(5.0::DOUBLE * (psum / nv::DOUBLE) *
        |      (rsum / nv::DOUBLE) /
        |      (4.0::DOUBLE * (psum / nv::DOUBLE) +
        |        (rsum / nv::DOUBLE)), 6)
        |  END AS chrf2
        |FROM f ORDER BY a, b""".stripMargin)),

    // referential-integrity census of events.user_id -> customer: what
    // an inner join would DROP (orphans), what dimension mass is dead
    // (childless), and the join-explosion bound (max fanout) — the
    // contract check before any fact-dim join is trusted
    Entry("x421_ref_integrity", (s, dir) =>
      graft.ops.Quality.referentialIntegrity(
        Registrar.table(s, dir, "events"), "user_id",
        Registrar.table(s, dir, "customer"), "c_custkey"),
      // fk-level collapse + pk probe; NULL fk split from dangling fk;
      // exact longs, two IEEE shares
      Oracle("""WITH f AS (SELECT user_id AS fk, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |d AS (SELECT DISTINCT c_custkey AS pk FROM customer),
        |j AS (SELECT f.fk, f.c, d.pk FROM f LEFT JOIN d ON f.fk = d.pk),
        |fs AS (SELECT sum(c)::BIGINT AS n_fact,
        |    coalesce(sum(CASE WHEN fk IS NULL THEN c END), 0)::BIGINT
        |      AS n_null_fk,
        |    coalesce(sum(CASE WHEN pk IS NULL AND fk IS NOT NULL
        |      THEN c END), 0)::BIGINT AS n_orphan,
        |    coalesce(max(CASE WHEN pk IS NOT NULL THEN c END), 0)::BIGINT
        |      AS max_fanout
        |  FROM j),
        |ds AS (SELECT count(*)::BIGINT AS n_dim,
        |    coalesce(sum(CASE WHEN f.fk IS NULL THEN 1 END), 0)::BIGINT
        |      AS n_childless
        |  FROM d LEFT JOIN f ON d.pk = f.fk)
        |SELECT n_fact, n_null_fk, n_orphan,
        |  round(n_orphan::DOUBLE / nullif(n_fact::DOUBLE, 0.0), 6)
        |    AS orphan_share,
        |  n_dim, n_childless,
        |  round(n_childless::DOUBLE / nullif(n_dim::DOUBLE, 0.0), 6)
        |    AS childless_share,
        |  max_fanout
        |FROM fs CROSS JOIN ds""".stripMargin)),

    // key-uniqueness census of the CLAIMED key (user_id, event_type)
    // over events: how badly "keyed by" fails and the worst offender's
    // multiplicity — what every downstream join on that key multiplies by
    Entry("x422_key_uniqueness", (s, dir) =>
      graft.ops.Quality.keyUniqueness(
        Registrar.table(s, dir, "events"),
        Seq("user_id", "event_type")),
      // one key-level collapse; NULL keys group as values (GROUP BY
      // semantics); exact longs, one IEEE share
      Oracle("""WITH per AS (SELECT user_id, event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  coalesce(sum(CASE WHEN c > 1 THEN 1 END), 0)::BIGINT
        |    AS n_dup_keys,
        |  coalesce(sum(CASE WHEN c > 1 THEN c END), 0)::BIGINT
        |    AS dup_rows,
        |  max(c) AS max_multiplicity,
        |  round((sum(c) - count(*))::DOUBLE /
        |    nullif(sum(c)::DOUBLE, 0.0), 6) AS excess_share
        |FROM per""".stripMargin)),

    // one-pass column profile of orders (string/int/date columns — fp
    // rendering differs across engines, documented): null census, exact
    // distinct, typed min/max — the new-table first look / ingest diff
    // baseline
    Entry("x423_column_profile", (s, dir) =>
      graft.ops.Quality.columnProfile(
        Registrar.table(s, dir, "orders"),
        Seq("o_custkey", "o_orderpriority", "o_orderdate")),
      // one UNION ALL branch per profiled column; typed min/max cast to
      // VARCHAR (ISO dates / integer renderings agree across engines)
      Oracle("""WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS "column", n_rows,
        |    (SELECT count(*)::BIGINT FROM orders WHERE o_custkey IS NULL)
        |      AS n_null,
        |    round((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
        |      ::DOUBLE / nullif(n_rows::DOUBLE, 0.0), 6) AS null_share,
        |    (SELECT count(DISTINCT o_custkey)::BIGINT FROM orders)
        |      AS n_distinct,
        |    (SELECT min(o_custkey)::VARCHAR FROM orders) AS min_value,
        |    (SELECT max(o_custkey)::VARCHAR FROM orders) AS max_value
        |  FROM n
        |  UNION ALL
        |  SELECT 'o_orderdate', n_rows,
        |    (SELECT count(*)::BIGINT FROM orders WHERE o_orderdate IS NULL),
        |    round((SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        |      ::DOUBLE / nullif(n_rows::DOUBLE, 0.0), 6),
        |    (SELECT count(DISTINCT o_orderdate)::BIGINT FROM orders),
        |    (SELECT min(o_orderdate)::VARCHAR FROM orders),
        |    (SELECT max(o_orderdate)::VARCHAR FROM orders)
        |  FROM n
        |  UNION ALL
        |  SELECT 'o_orderpriority', n_rows,
        |    (SELECT count(*)::BIGINT FROM orders
        |      WHERE o_orderpriority IS NULL),
        |    round((SELECT count(*) FROM orders
        |      WHERE o_orderpriority IS NULL)::DOUBLE /
        |      nullif(n_rows::DOUBLE, 0.0), 6),
        |    (SELECT count(DISTINCT o_orderpriority)::BIGINT FROM orders),
        |    (SELECT min(o_orderpriority) FROM orders),
        |    (SELECT max(o_orderpriority) FROM orders)
        |  FROM n
        |) ORDER BY "column"""".stripMargin)),

    // exact media dedup census (NOT a stub): content-hash identical-
    // payload dedup per kind with the storage readout — dup_share and
    // bytes_saved_share; md5 kind routing (the x114 twin convention) so
    // DuckDB replays the synthesis
    Entry("x420_media_dedup", (s, dir) => {
      val md = Registrar.table(s, dir, "documents").select(
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
          (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long") % 3 + 1).cast("int")).as("kind"),
        F.encode(F.col("text"), "UTF-8").as("media"))
      graft.ops.Multimodal.mediaDedupCensus(md, "kind", "media")
    },
      // x114's md5 kind routing; md5(text) = md5 of the UTF-8 payload
      // bytes, octet_length(encode(text)) = the byte length — exact
      // count/byte rollups, two IEEE shares
      Oracle("""WITH m AS (SELECT
        |    ['image', 'audio', 'video'][
        |      ((('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
        |        % 3) + 1)::INT] AS kind,
        |    md5(text) AS h,
        |    octet_length(encode(text))::BIGINT AS b
        |  FROM documents),
        |per AS (SELECT kind, h, count(*)::BIGINT AS c, max(b) AS b
        |  FROM m GROUP BY 1, 2)
        |SELECT kind, sum(c)::BIGINT AS n_items,
        |  count(*)::BIGINT AS n_distinct,
        |  round(1.0::DOUBLE - count(*)::DOUBLE / sum(c)::DOUBLE, 6)
        |    AS dup_share,
        |  sum(c * b)::BIGINT AS total_bytes,
        |  sum(b)::BIGINT AS distinct_bytes,
        |  round(1.0::DOUBLE - sum(b)::DOUBLE /
        |    nullif(sum(c * b)::DOUBLE, 0.0), 6) AS bytes_saved_share
        |FROM per GROUP BY kind ORDER BY kind""".stripMargin)),

    // 4-truss of the co-purchase graph: keep only community-certified
    // edges (each in >= 2 surviving triangles, 3 pinned peels) — the
    // edge FILTER x415's support census motivates; a k-core keeps a
    // star hub, a k-truss never does
    Entry("x419_ktruss", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.kTruss(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst", k = 4, rounds = 3)
    },
      // 3 unrolled support-peel rounds (pinned round count, matching the
      // Spark side's rounds = 3); every support an exact common-neighbor
      // count per surviving edge
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |ew AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |e0 AS (SELECT u AS a, v AS b FROM ew WHERE w >= 6),
        |a0 AS (SELECT a AS z, b AS n FROM e0
        |  UNION ALL SELECT b AS z, a AS n FROM e0),
        |s0 AS (SELECT x.n AS a, y.n AS b, count(*)::BIGINT AS sup
        |  FROM a0 x JOIN a0 y ON x.z = y.z AND x.n < y.n
        |  GROUP BY 1, 2),
        |e1 AS (SELECT e0.a, e0.b FROM e0
        |  JOIN s0 ON s0.a = e0.a AND s0.b = e0.b AND s0.sup >= 2),
        |a1 AS (SELECT a AS z, b AS n FROM e1
        |  UNION ALL SELECT b AS z, a AS n FROM e1),
        |s1 AS (SELECT x.n AS a, y.n AS b, count(*)::BIGINT AS sup
        |  FROM a1 x JOIN a1 y ON x.z = y.z AND x.n < y.n
        |  GROUP BY 1, 2),
        |e2 AS (SELECT e1.a, e1.b FROM e1
        |  JOIN s1 ON s1.a = e1.a AND s1.b = e1.b AND s1.sup >= 2),
        |a2 AS (SELECT a AS z, b AS n FROM e2
        |  UNION ALL SELECT b AS z, a AS n FROM e2),
        |s2 AS (SELECT x.n AS a, y.n AS b, count(*)::BIGINT AS sup
        |  FROM a2 x JOIN a2 y ON x.z = y.z AND x.n < y.n
        |  GROUP BY 1, 2),
        |e3 AS (SELECT e2.a, e2.b FROM e2
        |  JOIN s2 ON s2.a = e2.a AND s2.b = e2.b AND s2.sup >= 2)
        |SELECT n AS node, count(*)::BIGINT AS degree FROM
        |  (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)
        |GROUP BY n ORDER BY node""".stripMargin)),

    // modularity + conductance of the nation partition over the
    // supplier co-purchase graph: is "group by nation" real structure
    // or just a label
    Entry("x416_partition_quality", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      val sup = Registrar.table(s, dir, "supplier")
      graft.ops.Graph.partitionQuality(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst",
        sup.select(F.col("s_suppkey"),
          F.col("s_nationkey").cast("string").as("nation")),
        "s_suppkey", "nation")
    },
      // exact internal/cut/volume censuses off the x398 edge build;
      // 9-dp O(1) modularity terms; one IEEE conductance per community
      Oracle("""WITH pairs AS (SELECT l_suppkey AS s, l_orderkey AS o
        |  FROM lineitem GROUP BY 1, 2),
        |e0 AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS w
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2),
        |und AS (SELECT u AS a, v AS b FROM e0 WHERE w >= 6),
        |cm AS (SELECT s_suppkey AS n, min(s_nationkey::VARCHAR) AS c
        |  FROM supplier GROUP BY 1),
        |j AS (SELECT und.a, und.b, coalesce(ca.c, '__none') AS ca,
        |    coalesce(cb.c, '__none') AS cb
        |  FROM und LEFT JOIN cm ca ON ca.n = und.a
        |  LEFT JOIN cm cb ON cb.n = und.b),
        |m AS (SELECT count(*)::BIGINT AS m FROM j),
        |internal AS (SELECT ca AS community, count(*)::BIGINT
        |    AS internal_edges FROM j WHERE ca = cb GROUP BY 1),
        |cut AS (SELECT community, count(*)::BIGINT AS cut_edges FROM (
        |  SELECT unnest([ca, cb]) AS community FROM j WHERE ca <> cb)
        |  GROUP BY 1),
        |gn AS (SELECT DISTINCT n FROM (SELECT a AS n FROM und
        |  UNION ALL SELECT b AS n FROM und)),
        |nodes AS (SELECT c AS community, count(*)::BIGINT AS n_nodes
        |  FROM (SELECT n, c FROM cm UNION ALL
        |    SELECT gn.n, '__none' AS c FROM gn LEFT JOIN cm
        |      ON cm.n = gn.n WHERE cm.n IS NULL) GROUP BY 1),
        |per AS (SELECT nodes.community, n_nodes,
        |    coalesce(internal_edges, 0)::BIGINT AS internal_edges,
        |    coalesce(cut_edges, 0)::BIGINT AS cut_edges,
        |    (2 * coalesce(internal_edges, 0) +
        |      coalesce(cut_edges, 0))::BIGINT AS volume, m
        |  FROM nodes
        |  LEFT JOIN internal ON internal.community = nodes.community
        |  LEFT JOIN cut ON cut.community = nodes.community
        |  CROSS JOIN m),
        |terms AS (SELECT *, round(internal_edges::DOUBLE / m::DOUBLE -
        |    (volume::DOUBLE / (2.0::DOUBLE * m::DOUBLE)) *
        |    (volume::DOUBLE / (2.0::DOUBLE * m::DOUBLE)), 9) AS q
        |  FROM per),
        |qq AS (SELECT round(sum(q), 6) AS modularity FROM terms)
        |SELECT community, n_nodes, internal_edges, cut_edges, volume,
        |  round(cut_edges::DOUBLE / nullif(least(volume::DOUBLE,
        |    2.0::DOUBLE * m::DOUBLE - volume::DOUBLE), 0.0), 6)
        |    AS conductance,
        |  modularity
        |FROM terms CROSS JOIN qq ORDER BY community""".stripMargin)),

    // mean cumulative purchases per purchasing user by day: the
    // recurrent-event curve — x171's KM asks "when is the FIRST",
    // this "how many, cumulatively"
    Entry("x414_mcf", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val p = ev.filter(F.col("event_type") === "purchase")
      graft.ops.Stats.meanCumulativeFunction(p, F.col("user_id"),
        F.datediff(F.to_date(graft.ops.EventOps.tsStamp(p)),
          F.lit("1970-01-01").cast("date")))
    },
      // exact day/event ladders; one IEEE division per grid row
      Oracle("""WITH p AS (SELECT user_id,
        |    (ts::DATE - DATE '1970-01-01')::BIGINT AS t FROM events
        |  WHERE event_type = 'purchase'),
        |ns AS (SELECT count(DISTINCT user_id)::BIGINT AS nsub FROM p),
        |byt AS (SELECT t, count(*)::BIGINT AS n_events FROM p
        |  GROUP BY 1),
        |lad AS (SELECT t, n_events, (sum(n_events) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS events_cum FROM byt)
        |SELECT t, n_events, events_cum,
        |  round(events_cum::DOUBLE / nsub::DOUBLE, 6) AS mcf
        |FROM lad CROSS JOIN ns ORDER BY t""".stripMargin)),

    // zero-inflation score test on per-user-day purchase counts over
    // the dense user x day grid: excess silent days the mean hides
    Entry("x411_zero_inflation", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val day = F.to_date(graft.ops.EventOps.tsStamp(ev))
      val users = ev.select(F.col("user_id")).distinct()
      val days = ev.select(day.as("__day")).distinct()
      val p = ev.filter(F.col("event_type") === "purchase")
        .groupBy(F.col("user_id"), day.as("__day"))
        .agg(F.count(F.lit(1)).as("__k"))
      val grid = users.crossJoin(days)
        .join(p, Seq("user_id", "__day"), "left_outer")
        .select(F.coalesce(F.col("__k"), F.lit(0L)).as("k"))
      graft.ops.Stats.zeroInflationScore(grid, F.col("k"))
    },
      // dense user x day grid; exact (n, n0, Σy); one IEEE chain of
      // exponentials on identical arguments
      Oracle("""WITH u AS (SELECT DISTINCT user_id FROM events),
        |d AS (SELECT DISTINCT ts::DATE AS day FROM events),
        |p AS (SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS k
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |grid AS (SELECT coalesce(p.k, 0)::BIGINT AS k
        |  FROM u CROSS JOIN d
        |  LEFT JOIN p ON p.user_id = u.user_id AND p.day = d.day),
        |g AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN k = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
        |    sum(k)::BIGINT AS s FROM grid),
        |f AS (SELECT n, n_zero, s::DOUBLE / n::DOUBLE AS lam,
        |    exp(-(s::DOUBLE / n::DOUBLE)) AS p0 FROM g),
        |h AS (SELECT n, n_zero, lam, p0,
        |    n::DOUBLE * p0 * (1.0::DOUBLE - p0) -
        |      n::DOUBLE * lam * exp(-2.0::DOUBLE * lam) AS den,
        |    n_zero::DOUBLE - n::DOUBLE * p0 AS diff
        |  FROM f)
        |SELECT n, n_zero, round(lam, 6) AS lambda_hat,
        |  round(n::DOUBLE * p0, 6) AS expected_zero,
        |  round(diff * diff / nullif(CASE WHEN den > 0.0 THEN den END,
        |    0.0), 6) AS s_stat
        |FROM h""".stripMargin)),

    // Weibull shape/scale for document lengths via median-rank
    // regression: k<1 heavy tail, k>1 wear-out — what x266's forced
    // exponential cannot distinguish
    Entry("x374_weibull_fit", (s, dir) =>
      graft.ops.Stats.weibullFit(
        Registrar.table(s, dir, "documents"), F.col("n_chars")),
      // median-rank ladder on the distinct-value collapse; 9-dp plot
      // coordinates; the hurst OLS collapse
      Oracle("""WITH byv AS (SELECT n_chars::DOUBLE AS v, count(*)::BIGINT AS t
        |  FROM documents WHERE n_chars::DOUBLE > 0.0 GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn FROM byv),
        |lad AS (SELECT v, (sum(t) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum, nn
        |  FROM byv CROSS JOIN tot),
        |pts AS (SELECT nn, round(ln(v), 9) AS x,
        |    round(ln(-ln(1.0::DOUBLE - ((cum::DOUBLE - 0.3) /
        |      (nn::DOUBLE + 0.4)))), 9) AS y
        |  FROM lad),
        |p2 AS (SELECT nn, x, y, round(x * y, 9) AS xy,
        |    round(x * x, 9) AS x2, round(y * y, 9) AS y2 FROM pts),
        |reg AS (SELECT max(nn)::BIGINT AS n, count(*)::BIGINT AS k,
        |    sum(x) AS sx, sum(y) AS sy, sum(xy) AS sxy,
        |    sum(x2) AS sx2, sum(y2) AS sy2 FROM p2),
        |f AS (SELECT n, k,
        |    (k::DOUBLE * sxy - sx * sy) /
        |      nullif(k::DOUBLE * sx2 - sx * sx, 0.0) AS shape,
        |    k::DOUBLE * sx2 - sx * sx AS sxx,
        |    k::DOUBLE * sy2 - sy * sy AS syy,
        |    k::DOUBLE * sxy - sx * sy AS sxyv,
        |    sx, sy
        |  FROM reg)
        |SELECT n,
        |  round(CASE WHEN k >= 2 THEN shape END, 6) AS shape,
        |  round(CASE WHEN k >= 2 THEN exp(-((sy - shape * sx) /
        |    k::DOUBLE) / nullif(shape, 0.0)) END, 6) AS scale_p,
        |  round(CASE WHEN k >= 2 THEN sxyv * sxyv /
        |    nullif(sxx * syy, 0.0) END, 6) AS r2
        |FROM f""".stripMargin)),

    // one-sample CvM of the x178 scores against Uniform(0,1): the PIT
    // shape check next to x367's mean-level calibration z
    Entry("x375_cvm_uniform", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.cvmUniform(scored, F.col("quality_score"))
    },
      // the x178 scorer; per-tie-group closed arithmetic series in exact
      // longs; one 9-dp term per group
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS u
           |FROM t, w),
           |byv AS (SELECT u, count(*)::BIGINT AS t FROM sc GROUP BY 1),
           |tot AS (SELECT sum(t)::BIGINT AS n FROM byv),
           |lad AS (SELECT u, t, (sum(t) OVER (ORDER BY u ROWS BETWEEN
           |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS b, n
           |  FROM byv CROSS JOIN tot),
           |tm AS (SELECT n, round(
           |    t::DOUBLE * u * u -
           |    (u / n::DOUBLE) *
           |      (b * b - (b - t) * (b - t))::DOUBLE +
           |    (4.0::DOUBLE * (b * (b + 1) * (2 * b + 1) // 6 -
           |        (b - t) * (b - t + 1) * (2 * (b - t) + 1) // 6)::DOUBLE
           |      - 4.0::DOUBLE * (b * (b + 1) // 2 -
           |        (b - t) * (b - t + 1) // 2)::DOUBLE
           |      + t::DOUBLE) /
           |      (4.0::DOUBLE * n::DOUBLE * n::DOUBLE), 9) AS term
           |  FROM lad)
           |SELECT max(n)::BIGINT AS n,
           |  round(sum(term) + 1.0::DOUBLE /
           |    (12.0::DOUBLE * max(n)::DOUBLE), 6) AS w2,
           |  round(1.0::DOUBLE / 6.0::DOUBLE, 6) AS e_w2
           |FROM tm""".stripMargin
      }),

    // mean residual life of document lengths over a fixed grid: the
    // capacity-planning curve behind x267's tail index
    Entry("x376_mean_residual_life", (s, dir) =>
      graft.ops.Stats.meanResidualLife(
        Registrar.table(s, dir, "documents"), F.col("n_chars"),
        thresholds = Seq(50L, 100L, 200L, 300L, 400L, 500L)),
      // grid-joined exact tail sums; one subtraction/division per row
      Oracle("""WITH byv AS (SELECT n_chars::BIGINT AS k, count(*)::BIGINT AS t
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |grid AS (SELECT unnest([50, 100, 200, 300, 400, 500])::BIGINT
        |  AS t0),
        |g AS (SELECT t0, coalesce(sum(t), 0)::BIGINT AS n_above,
        |    sum(t * k)::BIGINT AS sx
        |  FROM grid LEFT JOIN byv ON k > t0 * 1 GROUP BY t0)
        |SELECT t0 AS t, n_above,
        |  round((sx::DOUBLE / nullif(n_above::DOUBLE, 0.0) -
        |    t0::DOUBLE * 1.0::DOUBLE) / 1.0::DOUBLE, 6) AS mrl
        |FROM g ORDER BY t""".stripMargin)),

    // Lorenz asymmetry of document lengths: does the length
    // concentration come from a few giants or many stubs — the WHERE
    // that x128's Gini cannot say
    Entry("x372_lorenz_asym", (s, dir) =>
      graft.ops.Stats.lorenzAsymmetry(
        Registrar.table(s, dir, "documents"), F.col("n_chars")),
      // strict-below masses as exact longs; mu and the two shares IEEE
      Oracle("""WITH v AS (SELECT n_chars::BIGINT AS k FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS t
        |  FROM v),
        |below AS (SELECT count(*)::BIGINT AS nb, sum(k)::BIGINT AS sb
        |  FROM v CROSS JOIN tot
        |  WHERE k::DOUBLE < t::DOUBLE / n::DOUBLE)
        |SELECT n,
        |  round((t::DOUBLE / n::DOUBLE) / 1.0::DOUBLE, 6) AS mean,
        |  round(nb::DOUBLE / nullif(n::DOUBLE, 0.0), 6) AS f_mu,
        |  round(sb::DOUBLE / nullif(t::DOUBLE, 0.0), 6) AS l_mu,
        |  round(nb::DOUBLE / nullif(n::DOUBLE, 0.0) +
        |    sb::DOUBLE / nullif(t::DOUBLE, 0.0), 6) AS s
        |FROM tot CROSS JOIN below""".stripMargin)),

    // Gwet's AC1 on the x191 rater pair: the prevalence-robust
    // agreement read next to kappa — a gap flags skewed labels
    Entry("x373_gwet_ac1", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.gwetAc1(scored,
        F.col("quality_score") >= 0.5, F.col("lang") === "en")
    },
      // the x191 four exact longs with the mean-marginal chance term
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |c AS (SELECT count(*)::BIGINT AS n,
           |    sum(a * b)::BIGINT AS n11,
           |    sum((1 - a) * (1 - b))::BIGINT AS n00,
           |    sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb
           |  FROM (SELECT CASE WHEN s >= 0.5 THEN 1 ELSE 0 END::BIGINT
           |      AS a, CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT
           |      AS b FROM sc)),
           |f AS (SELECT n, (n11 + n00)::DOUBLE / n::DOUBLE AS po,
           |    2.0::DOUBLE * ((na + nb)::DOUBLE /
           |      (2.0::DOUBLE * n::DOUBLE)) *
           |      (1.0::DOUBLE - (na + nb)::DOUBLE /
           |        (2.0::DOUBLE * n::DOUBLE)) AS pe
           |  FROM c)
           |SELECT n, round(po, 6) AS po, round(pe, 6) AS pe,
           |  round((po - pe) / nullif(1.0::DOUBLE - pe, 0.0), 6) AS ac1
           |FROM f""".stripMargin
      }),

    // seasonal Mann-Kendall on daily volume with the weekly cycle
    // removed exactly (Mondays vs Mondays) — the trend x284 under-powers
    Entry("x369_seasonal_mk", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.seasonalMannKendall(daily, F.col("t") % 7,
        F.col("t"), F.col("v"))
    },
      // per-season pair joins; exact integer variance numerators summed
      // then divided ONCE by 18
      Oracle("""WITH daily AS (SELECT
        |    (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    count(*)::BIGINT AS y FROM events GROUP BY 1),
        |s AS (SELECT (t % 7)::VARCHAR AS g, t, y FROM daily),
        |sg AS (SELECT a.g, sum(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
        |  FROM s a JOIN s b ON a.g = b.g AND b.t > a.t GROUP BY a.g),
        |ties AS (SELECT g,
        |    sum(tc * (tc - 1) * (tc * 2 + 5))::BIGINT AS tt,
        |    sum(tc)::BIGINT AS n
        |  FROM (SELECT g, y, count(*)::BIGINT AS tc FROM s
        |    GROUP BY 1, 2) GROUP BY g),
        |core AS (SELECT ties.g, coalesce(sg.s, 0)::BIGINT AS s, n,
        |    ((n * (n - 1) * (n * 2 + 5)) - tt)::BIGINT AS vnum
        |  FROM ties LEFT JOIN sg ON sg.g = ties.g),
        |g AS (SELECT sum(n)::BIGINT AS n,
        |    count(*)::BIGINT AS n_seasons, sum(s)::BIGINT AS s,
        |    sum(vnum)::DOUBLE / 18.0::DOUBLE AS vs FROM core)
        |SELECT n, n_seasons, s, round(vs, 6) AS var_s,
        |  round(CASE WHEN s > 0 THEN (s - 1)::DOUBLE /
        |      nullif(sqrt(vs), 0.0)
        |    WHEN s < 0 THEN (s + 1)::DOUBLE / nullif(sqrt(vs), 0.0)
        |    ELSE 0.0 END, 6) AS z
        |FROM g""".stripMargin)),

    // VIF multicollinearity audit over three length covariates: can a
    // regression attribute effects between them at all
    Entry("x370_vif", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val toks = F.size(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
          "\\s+"), x => F.length(x) > 0))
      val dtoks = F.size(F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
          "\\s+"), x => F.length(x) > 0)))
      graft.ops.Stats.vif3(docs, "n_chars" -> F.col("n_chars"),
        "n_tokens" -> toks, "n_types" -> dtoks)
    },
      // one exact sufficient-statistic collapse; pairwise Pearson closed
      // form; cyclic R² / VIF algebra
      Oracle("""WITH s AS (SELECT n_chars::BIGINT AS k1,
        |    len(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0))::BIGINT AS k2,
        |    len(list_distinct(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)))::BIGINT AS k3
        |  FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT count(*)::BIGINT AS n, sum(k1)::BIGINT AS s1,
        |    sum(k2)::BIGINT AS s2, sum(k3)::BIGINT AS s3,
        |    sum(k1 * k1)::BIGINT AS q1, sum(k2 * k2)::BIGINT AS q2,
        |    sum(k3 * k3)::BIGINT AS q3, sum(k1 * k2)::BIGINT AS p12,
        |    sum(k1 * k3)::BIGINT AS p13, sum(k2 * k3)::BIGINT AS p23
        |  FROM s),
        |r AS (SELECT
        |    (p12::DOUBLE - s1::DOUBLE * (s2::DOUBLE / n::DOUBLE)) /
        |      sqrt((q1::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n::DOUBLE))
        |        * (q2::DOUBLE - s2::DOUBLE * (s2::DOUBLE / n::DOUBLE)))
        |      AS r12,
        |    (p13::DOUBLE - s1::DOUBLE * (s3::DOUBLE / n::DOUBLE)) /
        |      sqrt((q1::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n::DOUBLE))
        |        * (q3::DOUBLE - s3::DOUBLE * (s3::DOUBLE / n::DOUBLE)))
        |      AS r13,
        |    (p23::DOUBLE - s2::DOUBLE * (s3::DOUBLE / n::DOUBLE)) /
        |      sqrt((q2::DOUBLE - s2::DOUBLE * (s2::DOUBLE / n::DOUBLE))
        |        * (q3::DOUBLE - s3::DOUBLE * (s3::DOUBLE / n::DOUBLE)))
        |      AS r23
        |  FROM g),
        |rows_ AS (
        |  SELECT 'n_chars' AS covariate,
        |    (r12 * r12 + r13 * r13 - 2.0::DOUBLE * r12 * r13 * r23) /
        |      nullif(1.0::DOUBLE - r23 * r23, 0.0) AS r2 FROM r
        |  UNION ALL SELECT 'n_tokens',
        |    (r12 * r12 + r23 * r23 - 2.0::DOUBLE * r12 * r23 * r13) /
        |      nullif(1.0::DOUBLE - r13 * r13, 0.0) FROM r
        |  UNION ALL SELECT 'n_types',
        |    (r13 * r13 + r23 * r23 - 2.0::DOUBLE * r13 * r23 * r12) /
        |      nullif(1.0::DOUBLE - r12 * r12, 0.0) FROM r)
        |SELECT covariate, round(r2, 6) AS r2,
        |  round(1.0::DOUBLE / nullif(1.0::DOUBLE - r2, 0.0), 6) AS vif
        |FROM rows_ ORDER BY covariate""".stripMargin)),

    // per-event-type Mann-Kendall trend census: WHICH streams drift,
    // each with its own tie-corrected z
    Entry("x371_trend_census", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val byTypeDay = ev.groupBy(F.col("event_type"),
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.mannKendallBy(byTypeDay, F.col("event_type"),
        F.col("t"), F.col("v"))
    },
      // per-type pair joins and tie censuses; each slice its own z
      Oracle("""WITH bt AS (SELECT event_type,
        |    (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        |sg AS (SELECT a.event_type AS g, sum(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
        |  FROM bt a JOIN bt b ON a.event_type = b.event_type
        |    AND b.t > a.t GROUP BY 1),
        |ties AS (SELECT event_type AS g,
        |    sum(tc * (tc - 1) * (tc * 2 + 5))::BIGINT AS tt,
        |    sum(tc)::BIGINT AS n
        |  FROM (SELECT event_type, y, count(*)::BIGINT AS tc FROM bt
        |    GROUP BY 1, 2) GROUP BY 1),
        |core AS (SELECT ties.g, coalesce(sg.s, 0)::BIGINT AS s, n,
        |    ((n * (n - 1) * (n * 2 + 5)) - tt)::DOUBLE / 18.0 AS vs
        |  FROM ties LEFT JOIN sg ON sg.g = ties.g)
        |SELECT g AS key, n, s, round(vs, 6) AS var_s,
        |  round(CASE WHEN s > 0 THEN (s - 1)::DOUBLE /
        |      nullif(sqrt(vs), 0.0)
        |    WHEN s < 0 THEN (s + 1)::DOUBLE / nullif(sqrt(vs), 0.0)
        |    ELSE 0.0 END, 6) AS z
        |FROM core ORDER BY key""".stripMargin)),

    // deployment operating points for the x178-scored classifier:
    // Youden-J and F1 optimal thresholds off the exact (TP, FP) ladder
    Entry("x366_threshold_sweep", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.thresholdSweep(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x178 scorer CTE, then the exact descending (TP, FP) ladder
      // with (metric desc, threshold desc) argmax ties
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |v AS (SELECT s AS vv,
           |    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c1
           |  FROM sc),
           |byv AS (SELECT vv, sum(c1)::BIGINT AS n1v,
           |    sum(1 - c1)::BIGINT AS n0v FROM v GROUP BY 1),
           |tot AS (SELECT sum(n1v)::BIGINT AS p, sum(n0v)::BIGINT AS nn
           |  FROM byv),
           |lad AS (SELECT vv, (sum(n1v) OVER wd)::BIGINT AS tp,
           |    (sum(n0v) OVER wd)::BIGINT AS fp, p, nn
           |  FROM byv CROSS JOIN tot WINDOW wd AS (ORDER BY vv DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |scored AS (SELECT vv, tp, fp,
           |    tp::DOUBLE / nullif(p::DOUBLE, 0.0) AS tpr,
           |    fp::DOUBLE / nullif(nn::DOUBLE, 0.0) AS fpr,
           |    tp::DOUBLE / nullif((tp + fp)::DOUBLE, 0.0) AS prec,
           |    tp::DOUBLE / nullif(p::DOUBLE, 0.0) -
           |      fp::DOUBLE / nullif(nn::DOUBLE, 0.0) AS j,
           |    2.0::DOUBLE * tp::DOUBLE /
           |      nullif((tp + fp + p)::DOUBLE, 0.0) AS f1
           |  FROM lad),
           |fb AS (SELECT 'f1' AS criterion, vv, tp, fp, tpr, fpr, prec,
           |    f1 FROM (SELECT *, row_number() OVER (ORDER BY f1 DESC,
           |    vv DESC) AS rk FROM scored) WHERE rk = 1),
           |yb AS (SELECT 'youden' AS criterion, vv, tp, fp, tpr, fpr,
           |    prec, f1 FROM (SELECT *, row_number() OVER (ORDER BY
           |    j DESC, vv DESC) AS rk FROM scored) WHERE rk = 1)
           |SELECT criterion, round(vv, 6) AS threshold, tp, fp,
           |  round(tpr, 6) AS tpr, round(fpr, 6) AS fpr,
           |  round(prec, 6) AS precision, round(f1, 6) AS f1
           |FROM (SELECT * FROM fb UNION ALL SELECT * FROM yb)
           |ORDER BY criterion""".stripMargin
      }),

    // Spiegelhalter calibration z: binning-free significance next to
    // x177's ECE and x287's Hosmer-Lemeshow
    Entry("x367_spiegelhalter", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.spiegelhalterZ(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x178 scorer CTE; 9-dp per-row calibration terms; one ratio
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS p
           |FROM t, w),
           |s2 AS (SELECT p, CASE WHEN lang = 'en' THEN 1.0::DOUBLE
           |    ELSE 0.0::DOUBLE END AS y FROM sc),
           |g AS (SELECT count(*)::BIGINT AS n,
           |    sum(round((y - p) * (1.0::DOUBLE - 2.0::DOUBLE * p), 9))
           |      AS sn,
           |    sum(round((1.0::DOUBLE - 2.0::DOUBLE * p) *
           |      (1.0::DOUBLE - 2.0::DOUBLE * p) * p *
           |      (1.0::DOUBLE - p), 9)) AS sd
           |  FROM s2)
           |SELECT n, round(sn / sqrt(nullif(sd, 0.0)), 6) AS z
           |FROM g""".stripMargin
      }),

    // distance correlation between doc length and token count on a
    // 1-in-10 sample: dependence of ANY shape, not just linear
    Entry("x368_distance_corr", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .filter(F.col("doc_id") % 10 === 0)
      val toks = F.size(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
          "\\s+"), x => F.length(x) > 0))
      graft.ops.Stats.distanceCorrelation(docs, F.col("doc_id"),
        F.col("n_chars"), toks)
    },
      // materialized pair table; exact row/grand sums; 9-dp centered
      // products
      Oracle("""WITH s AS (SELECT doc_id AS i, n_chars::BIGINT AS x,
        |    len(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> length(t) > 0))::BIGINT AS y
        |  FROM documents WHERE doc_id % 10 = 0),
        |pairs AS MATERIALIZED (SELECT a.i, b.i AS j,
        |    abs(a.x - b.x)::BIGINT AS av, abs(a.y - b.y)::BIGINT AS bv
        |  FROM s a CROSS JOIN s b),
        |rws AS MATERIALIZED (SELECT i, sum(av)::BIGINT AS ra,
        |    sum(bv)::BIGINT AS rb FROM pairs GROUP BY 1),
        |grand AS (SELECT count(*)::BIGINT AS n, sum(ra)::BIGINT AS ga,
        |    sum(rb)::BIGINT AS gb FROM rws),
        |jn AS (SELECT p.av, p.bv, ri.ra AS rai, ri.rb AS rbi,
        |    rj.ra AS raj, rj.rb AS rbj, n, ga, gb
        |  FROM pairs p JOIN rws ri ON ri.i = p.i
        |  JOIN rws rj ON rj.i = p.j CROSS JOIN grand),
        |tm AS (SELECT n,
        |    round(((av::DOUBLE - rai::DOUBLE / n::DOUBLE -
        |      raj::DOUBLE / n::DOUBLE + ga::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE) *
        |      ((bv::DOUBLE - rbi::DOUBLE / n::DOUBLE -
        |      rbj::DOUBLE / n::DOUBLE + gb::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE), 9) AS ab,
        |    round(((av::DOUBLE - rai::DOUBLE / n::DOUBLE -
        |      raj::DOUBLE / n::DOUBLE + ga::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE) *
        |      ((av::DOUBLE - rai::DOUBLE / n::DOUBLE -
        |      raj::DOUBLE / n::DOUBLE + ga::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE), 9) AS aa,
        |    round(((bv::DOUBLE - rbi::DOUBLE / n::DOUBLE -
        |      rbj::DOUBLE / n::DOUBLE + gb::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE) *
        |      ((bv::DOUBLE - rbi::DOUBLE / n::DOUBLE -
        |      rbj::DOUBLE / n::DOUBLE + gb::DOUBLE /
        |      (n::DOUBLE * n::DOUBLE)) / 1.0::DOUBLE), 9) AS bb
        |  FROM jn),
        |g AS (SELECT max(n)::BIGINT AS n, avg(ab) AS dcov2,
        |    avg(aa) AS dvx, avg(bb) AS dvy FROM tm)
        |SELECT n, round(dcov2, 6) AS dcov2, round(dvx, 6) AS dvarx,
        |  round(dvy, 6) AS dvary,
        |  round(sqrt(greatest(dcov2, 0.0) /
        |    nullif(sqrt(dvx * dvy), 0.0)), 6) AS dcor
        |FROM g""".stripMargin)),

    // Simpson/Hill-2 diversity per source: repeat-probability lexical
    // diversity — N2 << N1 flags a tiny working set under a long tail
    Entry("x363_simpson_diversity", (s, dir) =>
      TextOps.simpsonDiversity(
        Registrar.table(s, dir, "documents"), Seq("source"),
        "text"),
      // exact integer Simpson ratio and Hill-2 off one token census
      Oracle("""WITH census AS (SELECT source, t, count(*)::BIGINT AS c FROM (
        |    SELECT source, unnest(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t FROM documents) GROUP BY 1, 2),
        |g AS (SELECT source, sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS vocab,
        |    sum(c * (c - 1))::BIGINT AS rep, sum(c * c)::BIGINT AS c2
        |  FROM census GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |  round(rep::DOUBLE / nullif(n_tokens::DOUBLE *
        |    (n_tokens::DOUBLE - 1.0::DOUBLE), 0.0), 6) AS simpson,
        |  round(1.0::DOUBLE - rep::DOUBLE / nullif(n_tokens::DOUBLE *
        |    (n_tokens::DOUBLE - 1.0::DOUBLE), 0.0), 6) AS diversity,
        |  round(n_tokens::DOUBLE * n_tokens::DOUBLE / c2::DOUBLE, 6)
        |    AS hill2
        |FROM g ORDER BY source""".stripMargin)),

    // gap memory M per event type: do long gaps follow long gaps —
    // the (B, M) plane's second axis next to x347
    Entry("x364_gap_memory", (s, dir) =>
      graft.ops.EventOps.gapMemory(
        Registrar.table(s, dir, "events")),
      // exact-ms gap pairs off one keyed window; Pearson from exact
      // sufficient statistics
      Oracle("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS tu
        |  FROM events),
        |g1 AS (SELECT event_type, gp, lead(gp) OVER (PARTITION BY
        |    event_type ORDER BY tu, event_id) AS gn
        |  FROM (SELECT event_type, tu, event_id,
        |      (tu - lag(tu) OVER (PARTITION BY event_type ORDER BY tu,
        |        event_id)) // 1000 AS gp
        |    FROM e)),
        |p AS (SELECT event_type, gp AS x, gn AS y FROM g1
        |  WHERE gp IS NOT NULL AND gn IS NOT NULL),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sx2,
        |    sum(y * y)::BIGINT AS sy2
        |  FROM p GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |  round(CASE WHEN n >= 2 THEN
        |    (sxy::DOUBLE - sx::DOUBLE * (sy::DOUBLE / n::DOUBLE)) /
        |    nullif(sqrt((sx2::DOUBLE - sx::DOUBLE *
        |      (sx::DOUBLE / n::DOUBLE)) * (sy2::DOUBLE - sy::DOUBLE *
        |      (sy::DOUBLE / n::DOUBLE))), 0.0) END, 6) AS m
        |FROM a ORDER BY event_type""".stripMargin)),

    // McLeod-Li portmanteau on squared daily deviations: volatility
    // clustering the x280 level test cannot see
    Entry("x365_mcleod_li", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.mcleodLi(daily, "t", "v", maxLag = 7)
    },
      // integer-rounded squared deviations, then the x280 Ljung-Box
      // ladder verbatim
      Oracle("""WITH daily AS (SELECT
        |    (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n0, sum(v) AS sv
        |  FROM daily),
        |sq AS (SELECT t, round((v - sv / n0::DOUBLE) *
        |    (v - sv / n0::DOUBLE))::BIGINT AS x
        |  FROM daily CROSS JOIN tot),
        |one AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS tt,
        |    sum(x * x)::BIGINT AS s2 FROM sq),
        |lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7])::BIGINT AS k),
        |pl AS (SELECT k, count(*)::BIGINT AS cnt,
        |    sum(a.x * b.x)::BIGINT AS pa, sum(a.x)::BIGINT AS ba,
        |    sum(b.x)::BIGINT AS bb
        |  FROM lags JOIN sq a ON true JOIN sq b ON b.t = a.t + k
        |  GROUP BY k),
        |rh AS (SELECT n, cnt,
        |    (pa::DOUBLE - (tt::DOUBLE / n::DOUBLE) * (ba + bb)::DOUBLE +
        |     cnt::DOUBLE * (tt::DOUBLE / n::DOUBLE) *
        |       (tt::DOUBLE / n::DOUBLE)) /
        |    (s2::DOUBLE - tt::DOUBLE * (tt::DOUBLE / n::DOUBLE)) AS rho
        |  FROM pl CROSS JOIN one),
        |tm AS (SELECT n, round(rho * rho / cnt::DOUBLE, 9) AS t FROM rh)
        |SELECT n, 7::BIGINT AS h,
        |  round(n::DOUBLE * (n + 2)::DOUBLE * sum(t), 6) AS lb,
        |  7::BIGINT AS df
        |FROM tm GROUP BY n""".stripMargin)),

    // label purity per SemDeDup cell: does geometry agree with the
    // label — the supervised read next to x312's DB/CH indices
    Entry("x360_cell_purity", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.cellPurity(emb, "vec_id", "embedding",
        F.col("label"), SemCentroids)
    },
      // the x312 VALUES-centroid argmin assignment; exact label counts;
      // majority tie by label; 9-dp entropy terms
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (SELECT vec_id, label::VARCHAR AS l,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |cent(cell, c) AS (VALUES $cvals),
           |asg AS (SELECT vec_id, l, cell FROM (
           |    SELECT b.vec_id, b.l, cent.cell,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))),
           |        cent.cell) AS rk
           |    FROM base b CROSS JOIN cent) WHERE rk = 1),
           |cells AS (SELECT cell, l, count(*)::BIGINT AS c FROM asg
           |  GROUP BY 1, 2),
           |pc AS (SELECT cell, sum(c)::BIGINT AS n,
           |    max(CASE WHEN rk = 1 THEN l END) AS top_label,
           |    max(CASE WHEN rk = 1 THEN c END)::BIGINT AS topc
           |  FROM (SELECT cell, l, c, row_number() OVER (PARTITION BY
           |      cell ORDER BY c DESC, l) AS rk FROM cells)
           |  GROUP BY cell),
           |ent AS (SELECT cells.cell,
           |    -sum(round(c::DOUBLE / n::DOUBLE *
           |      ln(c::DOUBLE / n::DOUBLE), 9)) AS h
           |  FROM cells JOIN pc ON pc.cell = cells.cell
           |  GROUP BY cells.cell),
           |ov AS (SELECT round(sum(topc)::DOUBLE / sum(n)::DOUBLE, 6)
           |    AS overall_purity FROM pc)
           |SELECT pc.cell, n, top_label,
           |  round(topc::DOUBLE / n::DOUBLE, 6) AS purity,
           |  round(h, 6) AS h, overall_purity
           |FROM pc JOIN ent ON ent.cell = pc.cell CROSS JOIN ov
           |ORDER BY pc.cell""".stripMargin
      }),

    // assignment-margin census per cell: how many points sit on cell
    // boundaries — the stability read purity alone hides
    Entry("x361_centroid_margin", (s, dir) =>
      Similarity.centroidMargin(
        Registrar.table(s, dir, "embeddings"),
        "vec_id", "embedding", SemCentroids, ambiguous = 1.2),
      // 9-dp distances to every centroid; rank-1/rank-2 join; ambiguity
      // share on the unrounded ratio
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |cent(cell, c) AS (VALUES $cvals),
           |d AS (SELECT b.vec_id, cent.cell,
           |    round(list_sum(list_transform(range(1, 65),
           |      i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))), 9)
           |      AS d2
           |  FROM base b CROSS JOIN cent),
           |r AS (SELECT vec_id, cell, d2, row_number() OVER (PARTITION
           |    BY vec_id ORDER BY d2, cell) AS rk FROM d),
           |p AS (SELECT a.vec_id, a.cell, a.d2 AS d1, b.d2 AS dd2
           |  FROM r a JOIN r b ON a.vec_id = b.vec_id
           |  WHERE a.rk = 1 AND b.rk = 2),
           |m AS (SELECT cell, dd2 / nullif(d1, 0.0) AS ratio FROM p)
           |SELECT cell, count(*)::BIGINT AS n,
           |  round(avg(round(ratio, 9)), 6) AS mean_margin,
           |  round(sum(CASE WHEN ratio < 1.2 THEN 1 ELSE 0 END)::DOUBLE
           |    / count(*)::DOUBLE, 6) AS p_ambiguous
           |FROM m GROUP BY cell ORDER BY cell""".stripMargin
      }),

    // nearest-centroid-classifier confusion: can one centroid per
    // label separate the classes — the corpus-level embedding verdict
    Entry("x362_ncc_confusion", (s, dir) =>
      Similarity.nccConfusion(
        Registrar.table(s, dir, "embeddings"),
        "vec_id", "embedding", F.col("label")),
      // per-label per-dim means off exact x1e6 sums; 9-dp distances;
      // (dist, label) prediction tie-break; diagonal-share accuracy
      Oracle("""WITH base AS (SELECT vec_id, label::VARCHAR AS l,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |ex AS (SELECT l, generate_subscripts(v, 1) - 1 AS d,
        |    round(unnest(v) * 1000000.0)::BIGINT AS k FROM base),
        |cm AS (SELECT l AS cl, d,
        |    sum(k)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS m
        |  FROM ex GROUP BY 1, 2),
        |cent AS (SELECT cl, list(m ORDER BY d) AS cv FROM cm
        |  GROUP BY cl),
        |sc AS (SELECT b.vec_id, b.l, c.cl,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))), 9)
        |      AS dist
        |  FROM base b CROSS JOIN cent c),
        |pr AS (SELECT vec_id, l, cl FROM (SELECT vec_id, l, cl,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl)
        |      AS rk FROM sc) WHERE rk = 1),
        |cells AS (SELECT l AS true_label, cl AS pred_label,
        |    count(*)::BIGINT AS n FROM pr GROUP BY 1, 2),
        |acc AS (SELECT round(sum(CASE WHEN true_label = pred_label
        |    THEN n ELSE 0 END)::DOUBLE / sum(n)::DOUBLE, 6) AS accuracy
        |  FROM cells)
        |SELECT true_label, pred_label, n, accuracy
        |FROM cells CROSS JOIN acc
        |ORDER BY true_label, pred_label""".stripMargin)),

    // simplified silhouette per SemDeDup cell: bounded sign-coded
    // cohesion-vs-separation — s<=0 flags the misassignments x361's
    // raw ratio only hints at
    Entry("x382_silhouette", (s, dir) =>
      Similarity.simplifiedSilhouette(
        Registrar.table(s, dir, "embeddings"), "embedding",
        SemCentroids),
      // 9-dp squared distances / roots; rank-1/rank-2 per point; 9-dp
      // per-point s; 6-dp cell means + overall
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |cent(cell, c) AS (VALUES $cvals),
           |d AS (SELECT b.vec_id, cent.cell,
           |    round(list_sum(list_transform(range(1, 65),
           |      i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))), 9)
           |      AS d2
           |  FROM base b CROSS JOIN cent),
           |r AS (SELECT vec_id, cell, d2, row_number() OVER (PARTITION
           |    BY vec_id ORDER BY d2, cell) AS rk FROM d),
           |p AS (SELECT a.vec_id, a.cell, round(sqrt(a.d2), 9) AS da,
           |    round(sqrt(b.d2), 9) AS dbb
           |  FROM r a JOIN r b ON a.vec_id = b.vec_id
           |  WHERE a.rk = 1 AND b.rk = 2),
           |sil AS (SELECT cell, coalesce(round((dbb - da) /
           |    nullif(greatest(da, dbb), 0.0), 9), 0.0) AS s FROM p),
           |ov AS (SELECT round(avg(s), 6) AS overall_sil FROM sil)
           |SELECT cell, count(*)::BIGINT AS n, round(avg(s), 6)
           |    AS mean_sil, overall_sil
           |FROM sil CROSS JOIN ov GROUP BY cell, overall_sil
           |ORDER BY cell""".stripMargin
      }),

    // Davies-Bouldin: each cell's worst spread-to-separation ratio —
    // the geometry-only overlap verdict next to x360's label purity
    Entry("x383_davies_bouldin", (s, dir) =>
      Similarity.daviesBouldin(
        Registrar.table(s, dir, "embeddings"), "embedding",
        SemCentroids),
      // 9-dp per-cell mean distances; k x k literal centroid matrix;
      // worst-neighbor ratios; 6-dp DB mean
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |cent(cell, c) AS (VALUES $cvals),
           |d AS (SELECT b.vec_id, cent.cell,
           |    round(list_sum(list_transform(range(1, 65),
           |      i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))), 9)
           |      AS d2
           |  FROM base b CROSS JOIN cent),
           |asg AS (SELECT vec_id, cell, round(sqrt(d2), 9) AS dist
           |  FROM (SELECT vec_id, cell, d2, row_number() OVER (PARTITION
           |    BY vec_id ORDER BY d2, cell) AS rk FROM d) WHERE rk = 1),
           |pc AS (SELECT cell, count(*)::BIGINT AS n,
           |    round(avg(dist), 9) AS si FROM asg GROUP BY 1),
           |mm AS (SELECT a.cell AS ci, b.cell AS cj,
           |    round(sqrt(list_sum(list_transform(range(1, 65),
           |      i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i])))), 9) AS mij
           |  FROM cent a JOIN cent b ON a.cell <> b.cell),
           |rt AS (SELECT p.cell, p.n, p.si,
           |    round((p.si + q.si) / nullif(mm.mij, 0.0), 9) AS r
           |  FROM pc p JOIN pc q ON p.cell <> q.cell
           |  JOIN mm ON mm.ci = p.cell AND mm.cj = q.cell),
           |pi AS (SELECT cell, max(n)::BIGINT AS n, max(si) AS si,
           |    max(r) AS di FROM rt GROUP BY 1),
           |g AS (SELECT round(avg(di), 6) AS db FROM pi)
           |SELECT cell, n, round(si, 6) AS s_i, round(di, 6) AS d_i, db
           |FROM pi CROSS JOIN g ORDER BY cell""".stripMargin
      }),

    // Xie-Beni: corpus inertia charged against the tightest centroid
    // pair — the one-number "should two cells merge" read
    Entry("x384_xie_beni", (s, dir) =>
      Similarity.xieBeni(
        Registrar.table(s, dir, "embeddings"), "embedding",
        SemCentroids),
      // 9-dp per-point own-cell squared distances summed; literal min
      // centroid separation; two IEEE ops
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |cent(cell, c) AS (VALUES $cvals),
           |d AS (SELECT b.vec_id,
           |    min(round(list_sum(list_transform(range(1, 65),
           |      i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))), 9))
           |      AS d1
           |  FROM base b CROSS JOIN cent GROUP BY 1),
           |sep AS (SELECT min(round(list_sum(list_transform(range(1, 65),
           |      i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i]))), 9)) AS ms
           |  FROM cent a JOIN cent b ON a.cell <> b.cell)
           |SELECT count(*)::BIGINT AS n, round(sum(d1), 6) AS inertia,
           |  round(max(ms), 6) AS min_sep2,
           |  round(sum(d1) / (count(*)::DOUBLE * max(ms)), 6) AS xb
           |FROM d CROSS JOIN sep""".stripMargin
      }),

    // ordinal-pattern (permutation) entropy of hourly volume: ramp->0,
    // noise->1 — monotone-distortion-proof series complexity
    Entry("x357_perm_entropy", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(graft.ops.EventOps.tsStamp(ev)) / 3600)
            .cast("long").as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.permutationEntropy(hourly, "t", "v")
    },
      // exact integer ordinal codes off two lead windows; <=6-row census;
      // 9-dp p ln p terms
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS t, count(*)::DOUBLE AS a FROM events GROUP BY 1),
        |s AS (SELECT a, lead(a, 1) OVER (ORDER BY t) AS b,
        |    lead(a, 2) OVER (ORDER BY t) AS c FROM hourly),
        |p AS (SELECT (CASE WHEN b < a THEN 1 ELSE 0 END +
        |    CASE WHEN c < a THEN 2 ELSE 0 END +
        |    CASE WHEN c < b THEN 4 ELSE 0 END)::BIGINT AS pt
        |  FROM s WHERE c IS NOT NULL),
        |census AS (SELECT pt, count(*)::BIGINT AS c FROM p GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS np
        |  FROM census),
        |g AS (SELECT max(n)::BIGINT AS n_windows,
        |    max(np)::BIGINT AS n_patterns,
        |    -sum(round(c::DOUBLE / n::DOUBLE *
        |      ln(c::DOUBLE / n::DOUBLE), 9)) AS h
        |  FROM census CROSS JOIN tot)
        |SELECT n_windows, n_patterns, round(h, 6) AS h,
        |  round(h / ln(6.0::DOUBLE), 6) AS h_norm FROM g""".stripMargin)),

    // Hjorth activity/mobility/complexity of hourly volume: the
    // three-number spectral summary next to x305's full periodogram
    Entry("x358_hjorth", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(graft.ops.EventOps.tsStamp(ev)) / 3600)
            .cast("long").as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.hjorthParams(hourly, "t", "v")
    },
      // three difference levels' exact (n, Σd, Σd²) in one collapse;
      // a handful of IEEE ratios
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |d AS (SELECT t, y, y - lag(y, 1) OVER (ORDER BY t) AS d1t
        |  FROM hourly),
        |dd AS (SELECT y, d1t, d1t - lag(d1t, 1) OVER (ORDER BY t)
        |    AS d2v FROM d),
        |g AS (SELECT count(y)::BIGINT AS c0, sum(y)::BIGINT AS c1,
        |    sum(y * y)::BIGINT AS c2, count(d1t)::BIGINT AS c3,
        |    sum(d1t)::BIGINT AS c4, sum(d1t * d1t)::BIGINT AS c5,
        |    count(d2v)::BIGINT AS c6, sum(d2v)::BIGINT AS c7,
        |    sum(d2v * d2v)::BIGINT AS c8
        |  FROM dd),
        |f AS (SELECT c0,
        |    (c2::DOUBLE - c1::DOUBLE * (c1::DOUBLE / c0::DOUBLE)) /
        |      (nullif(c0::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE) AS v0,
        |    (c5::DOUBLE - c4::DOUBLE * (c4::DOUBLE / c3::DOUBLE)) /
        |      (nullif(c3::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE) AS v1,
        |    (c8::DOUBLE - c7::DOUBLE * (c7::DOUBLE / c6::DOUBLE)) /
        |      (nullif(c6::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE) AS v2
        |  FROM g)
        |SELECT c0 AS n, round(v0, 6) AS activity,
        |  round(sqrt(v1 / nullif(v0, 0.0)), 6) AS mobility,
        |  round(sqrt(v2 / nullif(v1, 0.0)) /
        |    nullif(sqrt(v1 / nullif(v0, 0.0)), 0.0), 6) AS complexity
        |FROM f""".stripMargin)),

    // Poincare SD1/SD2 of successive hourly volumes: short-term jitter
    // vs long-term swing — the texture x347's burstiness scalar hides
    Entry("x359_poincare", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(graft.ops.EventOps.tsStamp(ev)) / 3600)
            .cast("long").as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.poincareSd(hourly, "t", "v")
    },
      // successive-pair sums/differences as exact longs; Var(u/sqrt2)
      // collapses to Var(u)/2 in the final IEEE algebra
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |s AS (SELECT y, lead(y, 1) OVER (ORDER BY t) AS nx
        |  FROM hourly),
        |p AS (SELECT y - nx AS d, y + nx AS sm FROM s
        |  WHERE nx IS NOT NULL),
        |g AS (SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS sd,
        |    sum(d * d)::BIGINT AS qd, sum(sm)::BIGINT AS ss,
        |    sum(sm * sm)::BIGINT AS qs FROM p),
        |f AS (SELECT n,
        |    sqrt((qd::DOUBLE - sd::DOUBLE * (sd::DOUBLE / n::DOUBLE)) /
        |      (nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) * 2.0::DOUBLE *
        |        (1.0::DOUBLE * 1.0::DOUBLE))) AS sd1,
        |    sqrt((qs::DOUBLE - ss::DOUBLE * (ss::DOUBLE / n::DOUBLE)) /
        |      (nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) * 2.0::DOUBLE *
        |        (1.0::DOUBLE * 1.0::DOUBLE))) AS sd2
        |  FROM g)
        |SELECT n AS n_pairs, round(sd1, 6) AS sd1,
        |  round(sd2, 6) AS sd2,
        |  round(sd1 / nullif(sd2, 0.0), 6) AS ratio FROM f""".stripMargin)),

    // LOF density-relative outliers on a deterministic 40% vector
    // sample: the inside-a-cluster outlier x340's global covariance
    // misses
    Entry("x354_lof", (s, dir) =>
      Similarity.lofOutliers(
        Registrar.table(s, dir, "embeddings")
          .filter(F.col("vec_id") % 5 < 2),
        "vec_id", "embedding", k = 5, topN = 20),
      // materialized pair/rank tables computed once; 9-dp distances,
      // reach maxima, lrd and ratio terms — the same ladder as Spark
      Oracle("""WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE vec_id % 5 < 2),
        |pairs AS MATERIALIZED (SELECT a.vec_id AS id, b.vec_id AS nb,
        |    round(sqrt(greatest(a.nrm * a.nrm + b.nrm * b.nrm -
        |      2.0 * list_sum(list_transform(range(1, 65),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
        |      0.0)), 9) AS d
        |  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
        |kd AS MATERIALIZED (SELECT id, nb, d, row_number() OVER (
        |    PARTITION BY id ORDER BY d, nb) AS rk FROM pairs),
        |knn AS MATERIALIZED (SELECT id, nb, d FROM kd WHERE rk <= 5),
        |kdist AS (SELECT id AS kdid, d AS kdv FROM kd WHERE rk = 5),
        |reach AS (SELECT knn.id, greatest(knn.d, kdist.kdv) AS r
        |  FROM knn JOIN kdist ON kdist.kdid = knn.nb),
        |lrd AS MATERIALIZED (SELECT id,
        |    round(5.0::DOUBLE / nullif(sum(r), 0.0), 9) AS lrd
        |  FROM reach GROUP BY id),
        |lof AS (SELECT knn.id, max(la.lrd) AS lrd,
        |    round(avg(round(lb.lrd / nullif(la.lrd, 0.0), 9)), 6)
        |      AS lof
        |  FROM knn JOIN lrd lb ON lb.id = knn.nb
        |  JOIN lrd la ON la.id = knn.id
        |  GROUP BY knn.id)
        |SELECT id, round(lrd, 6) AS lrd, lof FROM lof
        |ORDER BY lof DESC, id LIMIT 20""".stripMargin)),

    // Bhattacharyya/Hellinger overlap of en vs non-en length
    // histograms: the separability ceiling next to x324's CvM test
    Entry("x355_bhattacharyya", (s, dir) =>
      graft.ops.Stats.bhattacharyya(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en", nBins = 20),
      // shared x118 bins off the global min/max; exact per-bin counts;
      // 9-dp sqrt(pq) terms
      Oracle("""WITH v AS (SELECT n_chars::DOUBLE AS x,
        |    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c1
        |  FROM documents WHERE n_chars IS NOT NULL),
        |mm AS (SELECT min(x) AS wlo, max(x) AS whi FROM v),
        |bb AS (SELECT coalesce(least(greatest(floor((x - wlo) /
        |      nullif((whi - wlo) / 20.0::DOUBLE, 0.0)), 0), 19),
        |      0)::BIGINT AS bin, c1
        |  FROM v CROSS JOIN mm),
        |byb AS (SELECT bin, sum(c1)::BIGINT AS n1b,
        |    sum(1 - c1)::BIGINT AS n2b FROM bb GROUP BY 1),
        |tot AS (SELECT sum(n1b)::BIGINT AS n1, sum(n2b)::BIGINT AS n2
        |  FROM byb),
        |t AS (SELECT n1, n2, round(sqrt(
        |    n1b::DOUBLE / nullif(n1::DOUBLE, 0.0) *
        |    (n2b::DOUBLE / nullif(n2::DOUBLE, 0.0))), 9) AS t
        |  FROM byb CROSS JOIN tot),
        |g AS (SELECT max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2,
        |    sum(t) AS bc FROM t)
        |SELECT n1, n2, round(bc, 6) AS bc,
        |  round(-ln(nullif(bc, 0.0)), 6) AS d_b,
        |  round(sqrt(greatest(1.0::DOUBLE - bc, 0.0)), 6) AS hellinger
        |FROM g""".stripMargin)),

    // cluster-sampling design effect of per-event value under user
    // clustering: how many "effective" rows the correlation leaves
    Entry("x356_design_effect", (s, dir) =>
      graft.ops.Stats.designEffect(
        Registrar.table(s, dir, "events"),
        F.col("user_id"), F.col("value"), scale = 100L),
      // exact per-cluster (n, Σk, Σk²); positive-SS 9-dp terms; one row
      // of ANOVA/ICC algebra
      Oracle("""WITH vv AS (SELECT user_id::VARCHAR AS g,
        |    round(value * 100)::BIGINT AS k FROM events
        |  WHERE round(value * 100) IS NOT NULL),
        |byc AS (SELECT g, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS q FROM vv GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
        |    sum(s)::BIGINT AS t, sum(n * n)::BIGINT AS m2 FROM byc),
        |terms AS (SELECT k, nn, m2,
        |    round(n::DOUBLE * (s::DOUBLE / n::DOUBLE -
        |      t::DOUBLE / nn::DOUBLE) * (s::DOUBLE / n::DOUBLE -
        |      t::DOUBLE / nn::DOUBLE), 9) AS ssb,
        |    round(q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE), 9)
        |      AS ssw
        |  FROM byc CROSS JOIN tot),
        |g AS (SELECT max(k)::BIGINT AS k, max(nn)::BIGINT AS n,
        |    max(m2)::BIGINT AS m2, sum(ssb) AS sb, sum(ssw) AS sw
        |  FROM terms),
        |f AS (SELECT k, n,
        |    sb / nullif(k::DOUBLE - 1.0::DOUBLE, 0.0) AS msb,
        |    sw / nullif(n::DOUBLE - k::DOUBLE, 0.0) AS msw,
        |    (n::DOUBLE - m2::DOUBLE / n::DOUBLE) /
        |      nullif(k::DOUBLE - 1.0::DOUBLE, 0.0) AS m0
        |  FROM g)
        |SELECT k, n, round(m0, 6) AS m0,
        |  round((msb - msw) / nullif(msb + (m0 - 1.0::DOUBLE) * msw,
        |    0.0), 6) AS icc,
        |  round(1.0::DOUBLE + (m0 - 1.0::DOUBLE) * ((msb - msw) /
        |    nullif(msb + (m0 - 1.0::DOUBLE) * msw, 0.0)), 6) AS deff
        |FROM f""".stripMargin)),

    // Gumbel fit + KS over daily peak-hour volume: how big can a peak
    // get — the extreme-value planning readout
    Entry("x351_gumbel_fit", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val hourly = ev.groupBy(
          F.floor(F.unix_timestamp(t) / 3600).cast("long").as("h"))
        .agg(F.count(F.lit(1)).as("c"))
      val maxima = hourly.groupBy(
          (F.col("h") / 24L).cast("long").as("d"))
        .agg(F.max("c").as("mx"))
      graft.ops.Stats.gumbelFitKs(maxima, F.col("mx"))
    },
      // expFitKs ladder vs the moments-fitted Gumbel CDF; γ and √6/π as
      // single shared literals
      Oracle("""WITH hourly AS (SELECT (floor(epoch(ts))::BIGINT // 3600)
        |    AS h, count(*)::BIGINT AS c FROM events GROUP BY 1),
        |dm AS (SELECT h // 24 AS d, max(c)::BIGINT AS k FROM hourly
        |  GROUP BY 1),
        |byv AS (SELECT k, count(*)::BIGINT AS t FROM dm GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS n, sum(k * t)::BIGINT AS s,
        |    sum(k * k * t)::BIGINT AS q FROM byv),
        |f AS (SELECT n, s::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS mean,
        |    sqrt((q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      (nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE)) AS sd
        |  FROM tot),
        |fit AS (SELECT n,
        |    0.779696801233676::DOUBLE * sd AS beta,
        |    mean - 0.5772156649015329::DOUBLE *
        |      (0.779696801233676::DOUBLE * sd) AS mu
        |  FROM f),
        |cum AS (SELECT k, t, (sum(t) OVER (ORDER BY k ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cm
        |  FROM byv),
        |dd AS (SELECT n, mu, beta, round(greatest(
        |    abs(cm::DOUBLE / n::DOUBLE - exp(-exp(-((k::DOUBLE /
        |      1.0::DOUBLE - mu) / nullif(beta, 0.0))))),
        |    abs((cm - t)::DOUBLE / n::DOUBLE - exp(-exp(-((k::DOUBLE /
        |      1.0::DOUBLE - mu) / nullif(beta, 0.0)))))), 9) AS d
        |  FROM cum CROSS JOIN fit)
        |SELECT max(n)::BIGINT AS n, round(max(mu), 6) AS mu,
        |  round(max(beta), 6) AS beta, round(max(d), 6) AS d
        |FROM dd""".stripMargin)),

    // WoE/IV scorecard audit: is n_chars predictive of en, bin by bin
    // — the shape readout a single AUC hides
    Entry("x352_woe_iv", (s, dir) =>
      graft.ops.Stats.woeIv(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en", nBins = 10),
      // x118-idiom equal-width bins; exact good/bad counts; unsmoothed
      // WoE (one-sided bins NULL and drop from IV); 9-dp IV terms
      Oracle("""WITH v AS (SELECT n_chars::DOUBLE AS x,
        |    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |mm AS (SELECT min(x) AS wlo, max(x) AS whi,
        |    sum(y)::BIGINT AS g, sum(1 - y)::BIGINT AS b FROM v),
        |binned AS (SELECT coalesce(least(greatest(floor((x - wlo) /
        |      nullif((whi - wlo) / 10.0::DOUBLE, 0.0)), 0), 9),
        |      0)::BIGINT AS bin, y, wlo, whi, g, b
        |  FROM v CROSS JOIN mm),
        |grp AS (SELECT bin, sum(y)::BIGINT AS n_good,
        |    sum(1 - y)::BIGINT AS n_bad,
        |    max(wlo + bin * ((whi - wlo) / 10.0::DOUBLE)) AS blo,
        |    max(wlo + (bin + 1) * ((whi - wlo) / 10.0::DOUBLE)) AS bhi,
        |    max(g)::BIGINT AS gg, max(b)::BIGINT AS bb
        |  FROM binned GROUP BY bin),
        |t AS (SELECT bin, blo, bhi, n_good, n_bad, gg, bb,
        |    CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |      ln((n_good::DOUBLE / nullif(gg::DOUBLE, 0.0)) /
        |        (n_bad::DOUBLE / nullif(bb::DOUBLE, 0.0))) END
        |      AS woe_raw
        |  FROM grp),
        |tt AS (SELECT bin, blo, bhi, n_good, n_bad,
        |    round(woe_raw, 6) AS woe,
        |    round((n_good::DOUBLE / nullif(gg::DOUBLE, 0.0) -
        |      n_bad::DOUBLE / nullif(bb::DOUBLE, 0.0)) * woe_raw, 9)
        |      AS ivt
        |  FROM t),
        |iv AS (SELECT round(coalesce(sum(ivt), 0.0), 6) AS iv FROM tt)
        |SELECT bin, round(blo, 6) AS lo, round(bhi, 6) AS hi, n_good,
        |  n_bad, woe, round(ivt, 6) AS iv_bin, iv
        |FROM tt CROSS JOIN iv ORDER BY bin""".stripMargin)),

    // Theil's U between source and lang: how much does knowing one
    // category remove of the other's entropy — directional, normalized
    Entry("x353_uncertainty", (s, dir) =>
      graft.ops.Stats.uncertaintyCoeff(
        Registrar.table(s, dir, "documents"),
        F.col("source"), F.col("lang")),
      // exact cell/margin counts; 9-dp p ln p terms; two directional
      // IEEE ratios
      Oracle("""WITH cells AS (SELECT source::VARCHAR AS x, lang::VARCHAR AS y,
        |    count(*)::BIGINT AS c FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
        |hxy AS (SELECT -sum(round(c::DOUBLE / n::DOUBLE *
        |    ln(c::DOUBLE / n::DOUBLE), 9)) AS hxy
        |  FROM cells CROSS JOIN tot),
        |hx AS (SELECT -sum(round(cx::DOUBLE / n::DOUBLE *
        |    ln(cx::DOUBLE / n::DOUBLE), 9)) AS hx FROM (
        |  SELECT x, sum(c)::BIGINT AS cx, max(n)::BIGINT AS n
        |  FROM cells CROSS JOIN tot GROUP BY x)),
        |hy AS (SELECT -sum(round(cy::DOUBLE / n::DOUBLE *
        |    ln(cy::DOUBLE / n::DOUBLE), 9)) AS hy FROM (
        |  SELECT y, sum(c)::BIGINT AS cy, max(n)::BIGINT AS n
        |  FROM cells CROSS JOIN tot GROUP BY y))
        |SELECT n, round(hx, 6) AS h_x, round(hy, 6) AS h_y,
        |  round(hx + hy - hxy, 6) AS mi,
        |  round((hx + hy - hxy) / nullif(hx, 0.0), 6) AS u_x_given_y,
        |  round((hx + hy - hxy) / nullif(hy, 0.0), 6) AS u_y_given_x
        |FROM tot CROSS JOIN hx CROSS JOIN hy CROSS JOIN hxy""".stripMargin)),

    // kernel-free energy distance between the label-0 and label-1
    // vector sets: the bandwidth-free sibling of x211's MMD
    Entry("x348_energy_dist", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.energyDistance(emb.filter(F.col("label") === 0),
        emb.filter(F.col("label") === 1), "vec_id", "embedding")
    },
      // the x211 pair-scan shape with 9-dp Euclidean distances instead
      // of kernels; 0-clamped sqrt expansion
      Oracle("""WITH a AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> v::DOUBLE * v::DOUBLE))) AS nrm
        |  FROM embeddings WHERE label = 1),
        |dxx AS (SELECT round(avg(d), 9) AS dxx FROM (
        |  SELECT round(sqrt(greatest(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)),
        |    0.0)), 9) AS d
        |  FROM a l CROSS JOIN a r)),
        |dyy AS (SELECT round(avg(d), 9) AS dyy FROM (
        |  SELECT round(sqrt(greatest(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)),
        |    0.0)), 9) AS d
        |  FROM b l CROSS JOIN b r)),
        |dxy AS (SELECT round(avg(d), 9) AS dxy FROM (
        |  SELECT round(sqrt(greatest(l.nrm * l.nrm + r.nrm * r.nrm -
        |    2.0 * list_sum(list_transform(range(1, 65),
        |      i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE)),
        |    0.0)), 9) AS d
        |  FROM a l CROSS JOIN b r)),
        |nx AS (SELECT count(*)::BIGINT AS n_x FROM a),
        |ny AS (SELECT count(*)::BIGINT AS n_y FROM b)
        |SELECT n_x, n_y, dxy, dxx, dyy,
        |  round(2.0 * dxy - dxx - dyy, 6) AS energy
        |FROM nx CROSS JOIN ny CROSS JOIN dxy CROSS JOIN dxx
        |CROSS JOIN dyy""".stripMargin)),

    // near-zero-variance feature screen over the orders columns: the
    // caret gate that catches constant/quasi-constant features
    Entry("x349_nzv_screen", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      graft.ops.Stats.nzvScreen(o, Seq(
        "o_orderstatus" -> F.col("o_orderstatus"),
        "o_orderpriority" -> F.col("o_orderpriority"),
        "o_totalprice" -> F.col("o_totalprice"),
        "o_custkey" -> F.col("o_custkey")))
    },
      // one long-format value census; top-2 window per covariate; two
      // IEEE ratios + the caret flag logic
      Oracle("""WITH lng AS (
        |  SELECT 'o_orderstatus' AS covariate,
        |    o_orderstatus::VARCHAR AS v FROM orders
        |  UNION ALL SELECT 'o_orderpriority',
        |    o_orderpriority::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_totalprice',
        |    o_totalprice::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_custkey', o_custkey::VARCHAR FROM orders),
        |census AS (SELECT covariate, v, count(*)::BIGINT AS c
        |  FROM lng WHERE v IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT covariate, c, row_number() OVER (PARTITION BY
        |    covariate ORDER BY c DESC, v) AS r FROM census),
        |g AS (SELECT covariate, sum(c)::BIGINT AS n,
        |    count(*)::BIGINT AS n_unique,
        |    max(CASE WHEN r = 1 THEN c END)::BIGINT AS t1,
        |    max(CASE WHEN r = 2 THEN c END)::BIGINT AS t2
        |  FROM rk GROUP BY 1)
        |SELECT covariate, n, n_unique,
        |  round(t1::DOUBLE / t2::DOUBLE, 6) AS freq_ratio,
        |  round(n_unique::DOUBLE / n::DOUBLE, 6) AS pct_unique,
        |  (n_unique = 1) AS zero_var,
        |  ((n_unique = 1) OR (t1::DOUBLE / t2::DOUBLE > 19.0::DOUBLE
        |    AND n_unique::DOUBLE / n::DOUBLE < 0.1::DOUBLE)) AS nzv
        |FROM g ORDER BY covariate""".stripMargin)),

    // all-pairs JS divergence matrix between source unigram
    // distributions: x76's fixed pair widened to the corpus map
    Entry("x350_js_matrix", (s, dir) =>
      TextOps.jsDivergenceMatrix(
        Registrar.table(s, dir, "documents"), "source", "text"),
      // per-slice absent-mass constants + one token-keyed self-join for
      // every pair's shared terms; 9-dp per-token pieces
      Oracle("""WITH cnts AS (SELECT source::VARCHAR AS g,
        |    unnest(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |  FROM documents),
        |census AS (SELECT g, t, count(*)::BIGINT AS c FROM cnts
        |  GROUP BY 1, 2),
        |tot AS (SELECT g, sum(c)::BIGINT AS n FROM census GROUP BY 1),
        |probs AS (SELECT census.g, t, c::DOUBLE / n::DOUBLE AS p
        |  FROM census JOIN tot ON tot.g = census.g),
        |ac AS (SELECT g, sum(round((0.5 * 0.6931471805599453) * p, 9)
        |    ::DECIMAL(20,9)) AS aconst FROM probs GROUP BY 1),
        |shared AS (SELECT l.g AS src_a, r.g AS src_b, l.p AS pa,
        |    r.p AS pb
        |  FROM probs l JOIN probs r ON l.t = r.t AND l.g < r.g),
        |adj AS (SELECT src_a, src_b, count(*)::BIGINT AS n_shared,
        |    sum(round((pa * ln(pa / ((pa + pb) / 2.0)) +
        |        pb * ln(pb / ((pa + pb) / 2.0))) / 2.0, 9)::DECIMAL(20,9) -
        |      round((0.5 * 0.6931471805599453) * pa, 9)::DECIMAL(20,9) -
        |      round((0.5 * 0.6931471805599453) * pb, 9)::DECIMAL(20,9)) AS s
        |  FROM shared GROUP BY 1, 2),
        |grid AS (SELECT a.g AS src_a, b.g AS src_b
        |  FROM tot a CROSS JOIN tot b WHERE a.g < b.g)
        |SELECT grid.src_a, grid.src_b,
        |  coalesce(n_shared, 0)::BIGINT AS n_shared,
        |  round((aa.aconst + ab.aconst +
        |    coalesce(s, 0::DECIMAL(20,9)))::DOUBLE, 6) AS js
        |FROM grid
        |LEFT JOIN adj ON adj.src_a = grid.src_a
        |  AND adj.src_b = grid.src_b
        |JOIN ac aa ON aa.g = grid.src_a
        |JOIN ac ab ON ab.g = grid.src_b
        |ORDER BY 1, 2""".stripMargin)),

    // Lo-MacKinlay variance ratio at q=5 on daily volume: do changes
    // compound (momentum) or cancel (reversion) — x334's ratio form
    Entry("x345_variance_ratio", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.varianceRatio(daily, "t", "v", q = 5)
    },
      // two lag windows, exact-long difference sufficient stats, the
      // closed-form homoskedastic z with collapsed constant literals
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS y FROM events GROUP BY 1),
        |l AS (SELECT y - lag(y, 1) OVER (ORDER BY t) AS d1,
        |    y - lag(y, 5) OVER (ORDER BY t) AS dq FROM daily),
        |g AS (SELECT count(d1)::BIGINT AS n, sum(d1)::BIGINT AS s1,
        |    sum(d1 * d1)::BIGINT AS q1, count(dq)::BIGINT AS nq,
        |    sum(dq)::BIGINT AS sq, sum(dq * dq)::BIGINT AS qq FROM l),
        |f AS (SELECT n,
        |    (q1::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n::DOUBLE)) /
        |      nullif(n::DOUBLE - 1.0::DOUBLE, 0.0) AS v1,
        |    (qq::DOUBLE - sq::DOUBLE * (sq::DOUBLE / nq::DOUBLE)) /
        |      nullif(nq::DOUBLE - 1.0::DOUBLE, 0.0) AS vq
        |  FROM g)
        |SELECT n, 5::BIGINT AS q,
        |  round(vq / (5.0::DOUBLE * nullif(v1, 0.0)), 6) AS vr,
        |  round((vq / (5.0::DOUBLE * nullif(v1, 0.0)) - 1.0::DOUBLE) *
        |    sqrt(15.0::DOUBLE * n::DOUBLE / 72.0::DOUBLE), 6) AS z
        |FROM f""".stripMargin)),

    // Taylor's law across users: how per-user daily-count variance
    // scales with the mean — cross-sectional overdispersion growth
    Entry("x346_taylor_law", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val ud = ev.groupBy(F.col("user_id"),
          F.to_date(graft.ops.EventOps.tsStamp(ev)).as("d"))
        .agg(F.count(F.lit(1)).as("cnt"))
      graft.ops.Stats.taylorLaw(ud, F.col("user_id"), F.col("cnt"))
    },
      // per-user exact (n, Σk, Σk²) over active days; 9-dp ln points;
      // the hurst ln-ln OLS collapse
      Oracle("""WITH ud AS (SELECT user_id, ts::DATE AS d,
        |    count(*)::BIGINT AS k FROM events GROUP BY 1, 2),
        |byg AS (SELECT user_id, count(*)::BIGINT AS n,
        |    sum(k)::BIGINT AS s, sum(k * k)::BIGINT AS q
        |  FROM ud GROUP BY 1 HAVING count(*) >= 2),
        |f AS (SELECT s::DOUBLE / (n::DOUBLE * 1.0::DOUBLE) AS m,
        |    (q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      ((n::DOUBLE - 1.0::DOUBLE) * 1.0::DOUBLE * 1.0::DOUBLE)
        |      AS v
        |  FROM byg),
        |pts AS (SELECT round(ln(m), 9) AS x, round(ln(v), 9) AS yl
        |  FROM f WHERE m > 0.0 AND v > 0.0),
        |p2 AS (SELECT x, yl, round(x * yl, 9) AS xy,
        |    round(x * x, 9) AS x2 FROM pts),
        |reg AS (SELECT count(*)::BIGINT AS n_groups, sum(x) AS sx,
        |    sum(yl) AS sy, sum(xy) AS sxy, sum(x2) AS sx2 FROM p2)
        |SELECT n_groups,
        |  round(CASE WHEN n_groups >= 2 THEN
        |    (n_groups::DOUBLE * sxy - sx * sy) /
        |    nullif(n_groups::DOUBLE * sx2 - sx * sx, 0.0) END, 6) + 0.0
        |    AS slope,
        |  round(CASE WHEN n_groups >= 2 THEN (sy -
        |    ((n_groups::DOUBLE * sxy - sx * sy) /
        |      nullif(n_groups::DOUBLE * sx2 - sx * sx, 0.0)) * sx) /
        |    n_groups::DOUBLE END, 6) + 0.0 AS intercept
        |FROM reg""".stripMargin)),

    // Goh-Barabasi burstiness per event type: metronome vs Poisson vs
    // bursty — the temporal texture x12's volume flattens
    Entry("x347_burstiness_events", (s, dir) =>
      graft.ops.EventOps.interArrivalBurstiness(
        Registrar.table(s, dir, "events")),
      // type-keyed µs stream; exact-ms gap sufficient stats (µs² would
      // overflow int64); population sd; one IEEE B ratio
      Oracle("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS tu
        |  FROM events),
        |g AS (SELECT event_type, (tu - lag(tu) OVER (PARTITION BY
        |    event_type ORDER BY tu, event_id)) // 1000 AS gp FROM e),
        |a AS (SELECT event_type, count(gp)::BIGINT AS n_gaps,
        |    sum(gp)::BIGINT AS s, sum(gp * gp)::BIGINT AS q
        |  FROM g WHERE gp IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, n_gaps,
        |    s::DOUBLE / n_gaps::DOUBLE AS mu,
        |    sqrt((q::DOUBLE - s::DOUBLE * (s::DOUBLE /
        |      n_gaps::DOUBLE)) / n_gaps::DOUBLE) AS sd
        |  FROM a)
        |SELECT event_type, n_gaps,
        |  round(mu / 1000.0::DOUBLE, 6) AS mean_gap_s,
        |  round(CASE WHEN n_gaps >= 2 THEN (sd - mu) /
        |    nullif(sd + mu, 0.0) END, 6) AS b
        |FROM f ORDER BY event_type""".stripMargin)),

    // mean segmental TTR: length-fair lexical diversity per doc —
    // low MSTTR with normal x24 repetition flags template text
    Entry("x342_msttr", (s, dir) =>
      TextOps.msttr(Registrar.table(s, dir, "documents"),
        "doc_id", "text", segment = 25),
      // positional unnest; (doc, chunk) distinct census on complete
      // 25-token chunks; exact integer TTR divisions
      Oracle("""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(
        |    lower(trim(coalesce(text, ''))), '\s+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS t,
        |    generate_subscripts(toks, 1) - 1 AS pos FROM tk),
        |ch AS (SELECT doc_id, (pos // 25)::BIGINT AS seg,
        |    count(*)::BIGINT AS n, count(DISTINCT t)::BIGINT AS ty
        |  FROM ex GROUP BY 1, 2),
        |f AS (SELECT doc_id, ty::DOUBLE / 25.0::DOUBLE AS ttr
        |  FROM ch WHERE n = 25)
        |SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |  round(avg(ttr), 6) AS msttr
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Dirichlet query-likelihood scores for the x75 query: the LM
    // ranking BM25 approximates, same per-doc tf machinery
    Entry("x343_dirichlet_ql", (s, dir) =>
      TextOps.dirichletQL(Registrar.table(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "spark"), mu = 50.0),
      // the x75 per-doc tf machinery; 9-dp ln terms; corpus-absent query
      // terms contribute nothing
      Oracle("""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        |pd AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |    len(list_filter(toks, t -> t = 'hash'))::BIGINT AS tf0,
        |    len(list_filter(toks, t -> t = 'join'))::BIGINT AS tf1,
        |    len(list_filter(toks, t -> t = 'spark'))::BIGINT AS tf2
        |  FROM tk),
        |st AS (SELECT sum(dl)::BIGINT AS tot, sum(tf0)::BIGINT AS cf0,
        |    sum(tf1)::BIGINT AS cf1, sum(tf2)::BIGINT AS cf2 FROM pd)
        |SELECT doc_id, dl, round(
        |  CASE WHEN cf0 > 0 THEN round(ln((tf0::DOUBLE + 50.0::DOUBLE *
        |    (cf0::DOUBLE / tot::DOUBLE)) / (dl::DOUBLE +
        |    50.0::DOUBLE)), 9) ELSE 0.0 END +
        |  CASE WHEN cf1 > 0 THEN round(ln((tf1::DOUBLE + 50.0::DOUBLE *
        |    (cf1::DOUBLE / tot::DOUBLE)) / (dl::DOUBLE +
        |    50.0::DOUBLE)), 9) ELSE 0.0 END +
        |  CASE WHEN cf2 > 0 THEN round(ln((tf2::DOUBLE + 50.0::DOUBLE *
        |    (cf2::DOUBLE / tot::DOUBLE)) / (dl::DOUBLE +
        |    50.0::DOUBLE)), 9) ELSE 0.0 END, 6) AS ql
        |FROM pd CROSS JOIN st ORDER BY doc_id""".stripMargin)),

    // Katz centrality on the x300 supplier graph: attenuated all-walks
    // influence — full-score endorsements vs pageRank's split mass
    Entry("x344_katz", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.katzCentrality(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst",
        alpha = 0.05, beta = 1.0, iters = 4, topN = 20)
    },
      // generated unrolled Katz rounds over the doubled adjacency: 9-dp
      // per-edge contributions, 9-dp per-node re-round (pageRank contract)
      Oracle {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT adj.v AS node,
             |    round(1.0::DOUBLE + sum(round(0.05::DOUBLE * p.katz, 9)),
             |      9) AS katz
             |  FROM adj JOIN c${i - 1} p ON p.node = adj.u
             |  GROUP BY adj.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
           |  FROM lineitem),
           |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
           |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
           |adj AS MATERIALIZED (SELECT a AS v, b AS u FROM e
           |  UNION ALL SELECT b AS v, a AS u FROM e),
           |c0 AS (SELECT DISTINCT v AS node, 1.0::DOUBLE AS katz FROM adj),
           |$rounds
           |SELECT node, round(katz, 6) AS katz, rk FROM (
           |  SELECT node, katz, row_number() OVER (ORDER BY katz DESC,
           |    node) AS rk FROM c4)
           |WHERE rk <= 20 ORDER BY rk""".stripMargin
      }),

    // Rayleigh circular uniformity of activity around the clock: one
    // resultant vector over the 24 hour bins, preferred-hour readout
    Entry("x339_rayleigh", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.rayleighTest(ev,
        F.hour(graft.ops.EventOps.tsStamp(ev)), period = 24)
    },
      // 24-bin collapse; 9-dp trig terms (periodogram rule); one row of
      // IEEE resultant arithmetic; fmod wrap for the mean direction
      Oracle("""WITH byh AS (SELECT (hour(ts)::BIGINT % 24) AS h,
        |    count(*)::BIGINT AS nh FROM events GROUP BY 1),
        |t AS (SELECT nh,
        |    round(nh::DOUBLE * cos(6.283185307179586 * h::DOUBLE /
        |      24.0::DOUBLE), 9) AS ct,
        |    round(nh::DOUBLE * sin(6.283185307179586 * h::DOUBLE /
        |      24.0::DOUBLE), 9) AS st
        |  FROM byh),
        |g AS (SELECT sum(nh)::BIGINT AS n, sum(ct) AS c, sum(st) AS s
        |  FROM t),
        |f AS (SELECT n, c, s,
        |    sqrt(c * c + s * s) / n::DOUBLE AS rbar FROM g)
        |SELECT n, round(rbar, 6) AS rbar,
        |  round(n::DOUBLE * rbar * rbar, 6) AS z,
        |  round(exp(-(n::DOUBLE * rbar * rbar)), 9) AS p,
        |  round(CASE WHEN rbar > 0.0 THEN
        |    fmod(atan2(s, c) / 6.283185307179586 * 24.0::DOUBLE
        |      + 24.0::DOUBLE, 24.0::DOUBLE) END, 6) AS mean_dir
        |FROM f""".stripMargin)),

    // diagonal-Mahalanobis embedding outliers: which vectors sit
    // furthest from the corpus in per-dim-sd units — dirty-encode screen
    Entry("x340_mahalanobis", (s, dir) =>
      Similarity.mahalanobisOutliers(
        Registrar.table(s, dir, "embeddings"),
        "vec_id", "embedding", topN = 20),
      // per-dim exact (n, Σk, Σk²) moments off one unnest; 9-dp terms;
      // total-order top-20
      Oracle("""WITH ex AS (SELECT vec_id AS id,
        |    generate_subscripts(embedding, 1) - 1 AS d,
        |    round(unnest(embedding)::DOUBLE * 1000000.0)::BIGINT AS k
        |  FROM embeddings),
        |byd AS (SELECT d, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
        |    sum(k * k)::BIGINT AS q FROM ex GROUP BY 1),
        |tm AS (SELECT id, round(
        |    (k::DOUBLE - s::DOUBLE / n::DOUBLE) *
        |    (k::DOUBLE - s::DOUBLE / n::DOUBLE) /
        |    nullif((q::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE)) /
        |      nullif(n::DOUBLE - 1.0::DOUBLE, 0.0), 0.0), 9) AS t
        |  FROM ex JOIN byd USING (d))
        |SELECT id, round(sum(t), 6) AS md2 FROM tm GROUP BY id
        |ORDER BY md2 DESC, id LIMIT 20""".stripMargin)),

    // Kuiper V on the same hour wheel: rotation-invariant two-sided
    // ECDF excursion — catches the bimodal days x339's resultant cancels
    Entry("x341_kuiper", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.kuiperUniform(ev,
        F.hour(graft.ops.EventOps.tsStamp(ev)), period = 24)
    },
      // exact-long excursion ladder over the full 24-cell grid; one IEEE
      // division by the common denominator n*P
      Oracle("""WITH byh AS (SELECT (hour(ts)::BIGINT % 24) AS h,
        |    count(*)::BIGINT AS nh FROM events GROUP BY 1),
        |grid AS (SELECT unnest(range(0, 24))::BIGINT AS h),
        |t AS (SELECT g.h, coalesce(nh, 0)::BIGINT AS nh
        |  FROM grid g LEFT JOIN byh ON byh.h = g.h),
        |c AS (SELECT h, (sum(nh) OVER (ORDER BY h ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |  FROM t),
        |tot AS (SELECT max(cum)::BIGINT AS n FROM c),
        |tv AS (SELECT (24 * cum - n * (h + 1))::BIGINT AS tval, n
        |  FROM c CROSS JOIN tot),
        |g AS (SELECT max(n)::BIGINT AS n,
        |    greatest(max(tval), 0)::BIGINT AS dp,
        |    (-least(min(tval), 0))::BIGINT AS dm FROM tv)
        |SELECT n,
        |  round(dp::DOUBLE / nullif((n * 24)::DOUBLE, 0.0), 6)
        |    AS d_plus,
        |  round(dm::DOUBLE / nullif((n * 24)::DOUBLE, 0.0), 6)
        |    AS d_minus,
        |  round((dp + dm)::DOUBLE / nullif((n * 24)::DOUBLE, 0.0), 6)
        |    AS v
        |FROM g""".stripMargin)),

    // covariate balance of the en vs non-en "arms": |SMD| per length
    // covariate — the confounding check before any en-effect claim
    Entry("x336_smd_balance", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val toks = F.size(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
          "\\s+"), x => F.length(x) > 0))
      graft.ops.Stats.smdBalance(docs, F.col("lang") === "en",
        Seq("n_chars" -> F.col("n_chars"), "n_tokens" -> toks))
    },
      // one long-format union; exact (n, Σk, Σk²) per covariate×arm;
      // single IEEE means/variances
      Oracle("""WITH lng AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS arm,
        |    'n_chars' AS covariate, n_chars::BIGINT AS k FROM documents
        |  UNION ALL
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END,
        |    'n_tokens',
        |    len(list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0))::BIGINT
        |  FROM documents),
        |g AS (SELECT covariate,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN k ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 0 THEN k ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 1 THEN k * k ELSE 0 END)::BIGINT AS q1,
        |    sum(CASE WHEN arm = 0 THEN k * k ELSE 0 END)::BIGINT AS q0
        |  FROM lng WHERE k IS NOT NULL GROUP BY 1),
        |f AS (SELECT covariate, n1, n0,
        |    s1::DOUBLE / (n1::DOUBLE * 1.0::DOUBLE) AS m1,
        |    s0::DOUBLE / (n0::DOUBLE * 1.0::DOUBLE) AS m0,
        |    (q1::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n1::DOUBLE)) /
        |      (nullif(n1::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE) AS v1,
        |    (q0::DOUBLE - s0::DOUBLE * (s0::DOUBLE / n0::DOUBLE)) /
        |      (nullif(n0::DOUBLE - 1.0::DOUBLE, 0.0) * 1.0::DOUBLE
        |        * 1.0::DOUBLE) AS v0
        |  FROM g)
        |SELECT covariate, n1, n0, round(m1, 6) AS mean1,
        |  round(m0, 6) AS mean0,
        |  round(CASE WHEN n1 >= 2 AND n0 >= 2 THEN (m1 - m0) /
        |    sqrt(nullif((v1 + v0) / 2.0::DOUBLE, 0.0)) END, 6) AS smd
        |FROM f ORDER BY covariate""".stripMargin)),

    // Newcombe hybrid-score CI for the weekend-vs-weekday purchase-rate
    // DIFFERENCE — the interval behind x298's effect size
    Entry("x337_newcombe", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.newcombeDiffCi(ev,
        F.dayofweek(F.to_date(graft.ops.EventOps.tsStamp(ev)))
          .isin(1, 7),
        F.col("event_type") === "purchase")
    },
      // the x298 arm counts; per-arm Wilson bounds (x215's z2 idiom),
      // square-and-add hybrid interval
      Oracle("""WITH g AS (SELECT
        |    sum(CASE WHEN isodow(ts::DATE) IN (6, 7) THEN 1 ELSE 0
        |      END)::BIGINT AS n1,
        |    sum(CASE WHEN isodow(ts::DATE) NOT IN (6, 7) THEN 1 ELSE 0
        |      END)::BIGINT AS n2,
        |    sum(CASE WHEN isodow(ts::DATE) IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS s1,
        |    sum(CASE WHEN isodow(ts::DATE) NOT IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS s2
        |  FROM events),
        |e AS (SELECT n1, n2,
        |    s1::DOUBLE / nullif(n1::DOUBLE, 0.0) AS p1,
        |    s2::DOUBLE / nullif(n2::DOUBLE, 0.0) AS p2,
        |    nullif(n1::DOUBLE, 0.0) AS d1, nullif(n2::DOUBLE, 0.0) AS d2,
        |    (1.959964::DOUBLE * 1.959964) AS z2 FROM g),
        |f AS (SELECT n1, n2, p1, p2,
        |    (p1 + z2 / (d1 * 2.0) - 1.959964::DOUBLE *
        |      sqrt(p1 * (1.0 - p1) / d1 +
        |        z2 / (4.0::DOUBLE * d1 * d1))) / (1.0 + z2 / d1) AS l1,
        |    (p1 + z2 / (d1 * 2.0) + 1.959964::DOUBLE *
        |      sqrt(p1 * (1.0 - p1) / d1 +
        |        z2 / (4.0::DOUBLE * d1 * d1))) / (1.0 + z2 / d1) AS u1,
        |    (p2 + z2 / (d2 * 2.0) - 1.959964::DOUBLE *
        |      sqrt(p2 * (1.0 - p2) / d2 +
        |        z2 / (4.0::DOUBLE * d2 * d2))) / (1.0 + z2 / d2) AS l2,
        |    (p2 + z2 / (d2 * 2.0) + 1.959964::DOUBLE *
        |      sqrt(p2 * (1.0 - p2) / d2 +
        |        z2 / (4.0::DOUBLE * d2 * d2))) / (1.0 + z2 / d2) AS u2
        |  FROM e)
        |SELECT n1, n2, round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p1 - p2, 6) AS d,
        |  round(p1 - p2 - sqrt((p1 - l1) * (p1 - l1) +
        |    (u2 - p2) * (u2 - p2)), 6) AS lo,
        |  round(p1 - p2 + sqrt((u1 - p1) * (u1 - p1) +
        |    (p2 - l2) * (p2 - l2)), 6) AS hi
        |FROM f""".stripMargin)),

    // rake the long-doc subset (n_chars >= 300) back to corpus
    // (source x lang) margins: 5 IPF rounds, 9-dp weights
    Entry("x338_ipf_raking", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      graft.ops.Stats.ipfRaking(docs.filter(F.col("n_chars") >= 300),
        docs, "source", "lang", rounds = 5)
    },
      // generated unrolled IPF rounds (the x321 pacf idiom): per round a
      // row normalization then a column one, 9-dp weights per half-round
      Oracle {
        val roundCtes = (1 to 5).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""ra$i AS MATERIALIZED (SELECT r, sum(round(w * n, 9)) AS s
             |  FROM $prev GROUP BY r),
             |wr$i AS MATERIALIZED (SELECT w.r, w.c, w.n,
             |    CASE WHEN ra.s > 0.0 AND rt.t > 0.0
             |      THEN round(w.w * rt.t / ra.s, 9) ELSE w.w END AS w
             |  FROM $prev w JOIN ra$i ra ON ra.r = w.r
             |  JOIN rt ON rt.r = w.r),
             |ca$i AS MATERIALIZED (SELECT c, sum(round(w * n, 9)) AS s
             |  FROM wr$i GROUP BY c),
             |w$i AS MATERIALIZED (SELECT w.r, w.c, w.n,
             |    CASE WHEN ca.s > 0.0 AND ct.t > 0.0
             |      THEN round(w.w * ct.t / ca.s, 9) ELSE w.w END AS w
             |  FROM wr$i w JOIN ca$i ca ON ca.c = w.c
             |  JOIN ct ON ct.c = w.c)""".stripMargin
        }.mkString(",\n")
        s"""WITH cells AS MATERIALIZED (SELECT source::VARCHAR AS r,
           |    lang::VARCHAR AS c, count(*)::BIGINT AS n
           |  FROM documents WHERE n_chars >= 300 GROUP BY 1, 2),
           |rt AS MATERIALIZED (SELECT source::VARCHAR AS r,
           |    count(*)::DOUBLE AS t FROM documents
           |  WHERE source::VARCHAR IN (SELECT r FROM cells) GROUP BY 1),
           |ct AS MATERIALIZED (SELECT lang::VARCHAR AS c,
           |    count(*)::DOUBLE AS t FROM documents
           |  WHERE lang::VARCHAR IN (SELECT c FROM cells) GROUP BY 1),
           |w0 AS (SELECT r, c, n, 1.0::DOUBLE AS w FROM cells),
           |$roundCtes
           |SELECT r AS rkey, c AS ckey, n, w, round(w * n, 6) AS wn
           |FROM w5 ORDER BY rkey, ckey""".stripMargin
      }),

    // ERR cascade metric on the x181 ranking task: first hit paid like
    // MRR, later hits at diminishing (1/2)^c credit
    Entry("x335_err", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc, F.col("item"))
      val res = agg.withColumn("rk", F.row_number().over(wA))
        .filter(F.col("rk") <= 20)
      val truth = agg.withColumn("rkb", F.row_number().over(wB))
        .filter(F.col("rkb") <= 5)
      graft.ops.Stats.err(res, truth, "q", "item", "rk")
    },
      // the x181 ranking replayed; cascade terms are exact powers of two
      // over one integer division each, 9-dp before the per-query sum
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rkb
        |  FROM agg
        |), res AS (SELECT q, item, rk FROM ra WHERE rk <= 20),
        |tr AS (SELECT q, item FROM rb WHERE rkb <= 5),
        |rel AS (SELECT res.q, res.rk FROM res
        |  JOIN tr ON res.q = tr.q AND res.item = tr.item),
        |tm AS (SELECT q, rk, (row_number() OVER (PARTITION BY q
        |    ORDER BY rk) - 1)::BIGINT AS c FROM rel),
        |te AS (SELECT q, round(power(0.5::DOUBLE, (c + 1)::DOUBLE) /
        |    rk::DOUBLE, 9) AS term FROM tm),
        |pq AS (SELECT q, count(*)::BIGINT AS n_rel, sum(term) AS e
        |  FROM te GROUP BY q),
        |qs AS (SELECT DISTINCT q FROM res),
        |perq AS (SELECT qs.q AS query,
        |    coalesce(n_rel, 0)::BIGINT AS n_rel,
        |    round(coalesce(e, 0.0), 6) AS err
        |  FROM qs LEFT JOIN pq ON qs.q = pq.q),
        |g AS (SELECT round(avg(err), 6) AS mean_err FROM perq)
        |SELECT query, n_rel, err, mean_err FROM perq CROSS JOIN g
        |ORDER BY query""".stripMargin)),

    // HITS on the customer-part bipartite graph: hub buyers vs
    // authority parts — roles degree alone cannot separate
    Entry("x318_hits", (s, dir) => {
      val o = Registrar.table(s, dir, "orders")
      val li = Registrar.table(s, dir, "lineitem")
      val e = o.join(li, F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("u"), F.col("l_partkey").as("p"))
      graft.ops.Graph.hits(e, "u", "p", rounds = 2, topK = 20)
    },
      // deduped bipartite edges; two unrolled max-normalized 9-dp
      // rounds; per-kind rank tables
      Oracle("""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS u,
        |    l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a0 AS (SELECT DISTINCT p, 1.0::DOUBLE AS a FROM e),
        |h1r AS (SELECT u, sum(a) AS h FROM e JOIN a0 USING (p)
        |  GROUP BY u),
        |h1m AS (SELECT max(h) AS m FROM h1r),
        |h1 AS MATERIALIZED (SELECT u, round(h / nullif(m, 0.0), 9) AS h
        |  FROM h1r CROSS JOIN h1m),
        |a1r AS (SELECT p, sum(h) AS a FROM e JOIN h1 USING (u)
        |  GROUP BY p),
        |a1m AS (SELECT max(a) AS m FROM a1r),
        |a1 AS MATERIALIZED (SELECT p, round(a / nullif(m, 0.0), 9) AS a
        |  FROM a1r CROSS JOIN a1m),
        |h2r AS (SELECT u, sum(a) AS h FROM e JOIN a1 USING (p)
        |  GROUP BY u),
        |h2m AS (SELECT max(h) AS m FROM h2r),
        |h2 AS MATERIALIZED (SELECT u, round(h / nullif(m, 0.0), 9) AS h
        |  FROM h2r CROSS JOIN h2m),
        |a2r AS (SELECT p, sum(h) AS a FROM e JOIN h2 USING (u)
        |  GROUP BY p),
        |a2m AS (SELECT max(a) AS m FROM a2r),
        |a2 AS MATERIALIZED (SELECT p, round(a / nullif(m, 0.0), 9) AS a
        |  FROM a2r CROSS JOIN a2m),
        |ht AS (SELECT 'hub' AS kind, u AS id, round(h, 6) AS score,
        |    row_number() OVER (ORDER BY h DESC, u) AS rk FROM h2),
        |at AS (SELECT 'auth' AS kind, p AS id, round(a, 6) AS score,
        |    row_number() OVER (ORDER BY a DESC, p) AS rk FROM a2)
        |SELECT kind, id, score, rk FROM (
        |  SELECT * FROM ht WHERE rk <= 20
        |  UNION ALL SELECT * FROM at WHERE rk <= 20)
        |ORDER BY kind, rk""".stripMargin)),

    // SAX word of the daily series: the shape as a 8-symbol string —
    // joinable/groupable series fingerprints
    Entry("x319_sax", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.sax(daily, "t", "v", wordSize = 8)
    },
      // exact-int z-scores, integer floor(i·w/T) segments, the standard
      // alphabet-4 breakpoints as single literals
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS nn, sum(v)::BIGINT AS sk,
        |    sum(v * v)::BIGINT AS sk2 FROM daily),
        |z AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT AS i,
        |    round((v::DOUBLE - sk::DOUBLE / nn::DOUBLE) /
        |      nullif(sqrt((sk2::DOUBLE - sk::DOUBLE * sk / nn::DOUBLE)
        |        / nn::DOUBLE), 0.0), 9) AS z, nn
        |  FROM daily CROSS JOIN agg),
        |segs AS (SELECT ((i * 8) // nn)::BIGINT AS seg,
        |    count(*)::BIGINT AS cnt,
        |    sum(z) / count(*)::DOUBLE AS paa FROM z GROUP BY 1),
        |sy AS (SELECT seg, cnt, paa,
        |    CASE WHEN paa < -0.6744897501960817 THEN 'a'
        |      WHEN paa < 0.0 THEN 'b'
        |      WHEN paa < 0.6744897501960817 THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM segs),
        |wd AS (SELECT string_agg(sym, '' ORDER BY seg) AS word FROM sy)
        |SELECT seg, cnt AS n, round(paa, 6) AS paa, sym, word
        |FROM sy CROSS JOIN wd ORDER BY seg""".stripMargin)),

    // matrix-profile discord: which week of the series resembles no
    // other week — the shape anomaly x302's point test can't see
    Entry("x320_matrix_profile", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.matrixProfile(daily, "t", "v", m = 7)
    },
      // length-7 sliding windows; all non-overlapping pairs; 9-dp
      // pair distances; smallest-j argmin, smallest-t discord
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |idx AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT
        |    AS i, t, v FROM daily),
        |subs AS MATERIALIZED (SELECT i, t, sub FROM (
        |  SELECT i, t, list(v) OVER (ORDER BY t ROWS BETWEEN CURRENT
        |    ROW AND 6 FOLLOWING) AS sub FROM idx)
        |  WHERE len(sub) = 7),
        |pairs AS (SELECT a.i, a.t, b.i AS j, b.t AS tj,
        |    round(list_sum(list_transform(range(1, 8),
        |      k -> (a.sub[k] - b.sub[k]) * (a.sub[k] - b.sub[k]))), 9)
        |      AS d2
        |  FROM subs a CROSS JOIN subs b WHERE abs(a.i - b.i) >= 7),
        |nn AS (SELECT i, t, j, tj, round(sqrt(d2), 6) AS dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY i ORDER BY d2, j)
        |    AS rk FROM pairs) WHERE rk = 1),
        |dd AS (SELECT *, row_number() OVER (ORDER BY dist DESC, t)
        |    AS drk FROM nn)
        |SELECT i, t, j AS j_nn, tj AS t_nn, dist,
        |  (drk = 1) AS is_discord
        |FROM dd ORDER BY i""".stripMargin)),

    // trend/seasonal strength: how much of the daily series is line,
    // weekly cycle, or noise — the x305 peak quantified
    Entry("x315_seasonal_strength", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.seasonalStrength(daily, "t", "v", period = 7)
    },
      // the x290 fit CTE; period-position means of 9-dp residuals;
      // population variances of 9-dp terms
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |fit AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS sx,
        |    sum(v) AS sy, sum(t * t)::BIGINT AS sxx,
        |    sum(t::DOUBLE * v) AS sxy FROM daily),
        |j AS (SELECT t, v, n,
        |    (n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |      (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b,
        |    sx::DOUBLE / n::DOUBLE AS xbar, sy
        |  FROM daily CROSS JOIN fit),
        |det AS (SELECT t, v AS y, n, t % 7 AS pos,
        |    round(v - ((sy / n::DOUBLE - b * xbar) + b * t::DOUBLE), 9)
        |      AS d
        |  FROM j),
        |pmn AS (SELECT pos, sum(d) / count(*)::DOUBLE AS pm FROM det
        |  GROUP BY pos),
        |r AS (SELECT det.y, det.d, det.n,
        |    round(det.d - pmn.pm, 9) AS rr
        |  FROM det JOIN pmn USING (pos)),
        |g AS (SELECT max(n)::BIGINT AS n, sum(y) AS ty,
        |    sum(y * y) AS tyy, sum(d) AS td, sum(d * d) AS tdd,
        |    sum(rr) AS tr, sum(rr * rr) AS trr FROM r),
        |f AS (SELECT n,
        |    (tyy - ty * ty / n::DOUBLE) / n::DOUBLE AS vy,
        |    (tdd - td * td / n::DOUBLE) / n::DOUBLE AS vd,
        |    (trr - tr * tr / n::DOUBLE) / n::DOUBLE AS vr FROM g)
        |SELECT n, round(vy, 6) AS var_total,
        |  round(vd, 6) AS var_detrended,
        |  round(vr, 6) AS var_remainder,
        |  round(greatest(0.0::DOUBLE,
        |    1.0::DOUBLE - vd / nullif(vy, 0.0)), 6) AS trend_strength,
        |  round(greatest(0.0::DOUBLE,
        |    1.0::DOUBLE - vr / nullif(vd, 0.0)), 6) AS seasonal_strength
        |FROM f""".stripMargin)),

    // PR-AUC of the x49 classifier: the imbalance-honest score beside
    // x178's ROC-AUC and x309's KS
    Entry("x316_pr_auc", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.prAuc(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x287 scored CTE; tie-grouped integer cumsums, 9-dp block
      // precision terms
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |byv AS (SELECT s AS v,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
           |    count(*)::BIGINT AS t FROM sc GROUP BY 1),
           |curve AS (SELECT v, np, t,
           |    sum(np) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS cp,
           |    sum(t) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS ca
           |  FROM byv),
           |g AS (SELECT sum(np)::BIGINT AS n_pos,
           |    (sum(t) - sum(np))::BIGINT AS n_neg,
           |    sum(round(np::DOUBLE * (cp::DOUBLE / ca::DOUBLE), 9)) AS s
           |  FROM curve)
           |SELECT n_pos, n_neg,
           |  round(s / nullif(n_pos::DOUBLE, 0.0), 6) AS pr_auc,
           |  round(n_pos::DOUBLE / (n_pos + n_neg)::DOUBLE, 6) AS baseline
           |FROM g""".stripMargin
      }),

    // cross-correlation profile: at which lag do clicks lead
    // purchases — the full lead-lag map x301 tests one point of
    Entry("x317_ccf", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      def daily(tp: String) = ev
        .filter(F.col("event_type") === tp)
        .groupBy(F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
          F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.ccf(daily("purchase"), daily("click"), "t", "v",
        maxLag = 7)
    },
      // the x301 zero-filled grid; per-lag exact Pearson; |r| peak with
      // smallest-lag tie-break
      Oracle("""WITH ev AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    event_type FROM events),
        |y AS (SELECT t, count(*)::BIGINT AS y FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |x AS (SELECT t, count(*)::BIGINT AS x FROM ev
        |  WHERE event_type = 'click' GROUP BY 1),
        |grid AS MATERIALIZED (SELECT coalesce(y.t, x.t) AS t,
        |    coalesce(y.y, 0)::BIGINT AS y, coalesce(x.x, 0)::BIGINT AS x
        |  FROM y FULL JOIN x ON y.t = x.t),
        |lagq AS (SELECT lag, t, y FROM grid CROSS JOIN
        |  (SELECT unnest(range(-7, 8))::BIGINT AS lag)),
        |j AS (SELECT l.lag, l.y, g2.x FROM lagq l
        |  JOIN grid g2 ON g2.t = l.t - l.lag),
        |byl AS (SELECT lag, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
        |    sum(x)::BIGINT AS sx, sum(y * y)::BIGINT AS syy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * x)::BIGINT AS sxy
        |  FROM j GROUP BY lag),
        |withr AS (SELECT lag, n, round(
        |    (n::DOUBLE * sxy::DOUBLE - sy::DOUBLE * sx::DOUBLE) /
        |    sqrt(nullif(
        |      (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) *
        |      (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
        |      0.0)), 6) AS r
        |  FROM byl),
        |rk AS (SELECT *, row_number() OVER (ORDER BY abs(r) DESC NULLS
        |    LAST, lag) AS rk FROM withr)
        |SELECT lag, n, r, (rk = 1) AS is_peak FROM rk
        |ORDER BY lag""".stripMargin)),

    // internal cluster quality under the x58 centroids: inertia,
    // Davies-Bouldin, Calinski-Harabasz — no labels needed
    Entry("x312_cluster_quality", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
      Similarity.clusterQuality(emb, "vec_id", "embedding", SemCentroids)
    },
      // the x58 centroid VALUES + argmin assignment; 9-dp per-dim and
      // per-row distance terms; k-row index algebra
      Oracle {
        val cvals = SemCentroids.zipWithIndex.map { case (c, i) =>
          c.mkString(s"($i, [", ", ", "]::DOUBLE[])")
        }.mkString(", ")
        s"""WITH base AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings
           |), cent(cell, c) AS (VALUES $cvals),
           |asg AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT b.vec_id, b.v, cent.cell,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |        list_sum(list_transform(range(1, 65),
           |          i -> (b.v[i] - cent.c[i]) * (b.v[i] - cent.c[i]))),
           |        cent.cell) AS rk
           |    FROM base b CROSS JOIN cent)
           |  WHERE rk = 1
           |), d2 AS (
           |  SELECT asg.cell, round(list_sum(list_transform(range(1, 65),
           |    i -> (asg.v[i] - cent.c[i]) * (asg.v[i] - cent.c[i]))), 9)
           |    AS d2
           |  FROM asg JOIN cent USING (cell)
           |), cs AS (
           |  SELECT cell, count(*)::BIGINT AS nc, sum(d2) AS w,
           |    sum(round(sqrt(d2), 9)) AS sd
           |  FROM d2 GROUP BY cell
           |), dm AS (
           |  SELECT i, sum(x) / count(*)::DOUBLE AS xbar FROM (
           |    SELECT unnest(range(1, 65)) AS i, unnest(v) AS x FROM base)
           |  GROUP BY i
           |), cp AS (
           |  SELECT cell, unnest(range(1, 65)) AS i, unnest(c) AS cv
           |  FROM cent
           |), bpc AS (
           |  SELECT cell, sum(round((cv - xbar) * (cv - xbar), 9)) AS cb
           |  FROM cp JOIN dm USING (i) GROUP BY cell
           |), dij AS (
           |  SELECT a.cell AS ci, b.cell AS cj,
           |    sqrt(sum(round((a.cv - b.cv) * (a.cv - b.cv), 9))) AS dij
           |  FROM cp a JOIN cp b ON a.i = b.i AND a.cell <> b.cell
           |  GROUP BY 1, 2
           |), sg AS (SELECT cell, sd / nc::DOUBLE AS sigma FROM cs),
           |pairsc AS (
           |  SELECT ci, round(max((si.sigma + sj.sigma) /
           |    nullif(dij, 0.0)), 9) AS worst
           |  FROM dij JOIN sg si ON si.cell = ci JOIN sg sj ON sj.cell = cj
           |  GROUP BY ci
           |), db AS (SELECT sum(worst) AS sw, count(*)::BIGINT AS kp
           |  FROM pairsc),
           |wj AS (SELECT sum(nc::DOUBLE * cb) AS b, sum(nc)::BIGINT AS n,
           |    count(*)::BIGINT AS kc, sum(w) AS wt
           |  FROM bpc JOIN cs USING (cell))
           |SELECT 4::BIGINT AS k, n, round(wt, 6) AS inertia,
           |  round(CASE WHEN kp = 4 THEN sw / 4.0::DOUBLE END, 6)
           |    AS db_index,
           |  round(CASE WHEN kc = 4 AND n > 4 THEN (b / 3.0::DOUBLE) /
           |    nullif(wt / (n::DOUBLE - 4.0::DOUBLE), 0.0) END, 6)
           |    AS ch_index
           |FROM wj CROSS JOIN db""".stripMargin
      }),

    // stationary distribution of the x102 chain: where sessions settle
    // long-run — driver-solved power iteration on the bounded matrix
    Entry("x313_stationary", (s, dir) =>
      graft.ops.EventOps.stationaryDist(
        Registrar.table(s, dir, "events"), iters = 32),
      // the x102 collapse; 32 renormalized 9-dp power-iteration rounds
      // unrolled as generated CTEs (matches the driver solve exactly)
      Oracle {
        val iters = (1 to 32).map { t =>
          val prev = if (t == 1) "it0" else s"it${t - 1}"
          s"""un$t AS (SELECT pm.j AS s, sum($prev.p * pm.p) AS v
             |  FROM $prev JOIN pm ON $prev.s = pm.i GROUP BY pm.j),
             |z$t AS (SELECT sum(v) AS z FROM un$t),
             |it$t AS MATERIALIZED (SELECT st.s,
             |    round(coalesce(un$t.v, 0.0) / z$t.z, 9) AS p
             |  FROM states st LEFT JOIN un$t ON st.s = un$t.s
             |  CROSS JOIN z$t)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT user_id AS u, event_type AS et,
           |    epoch_us(ts) AS tu, event_id AS eid FROM events),
           |l AS (SELECT et AS next_type,
           |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS prev_type
           |  FROM e),
           |cells AS MATERIALIZED (SELECT prev_type, next_type, count(*)::BIGINT AS nij
           |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
           |rt AS (SELECT prev_type, sum(nij)::BIGINT AS ni FROM cells
           |  GROUP BY 1),
           |states AS MATERIALIZED (SELECT DISTINCT prev_type AS s FROM cells),
           |pm AS MATERIALIZED (SELECT c.prev_type AS i, c.next_type AS j,
           |    c.nij::DOUBLE / rt.ni::DOUBLE AS p
           |  FROM cells c JOIN rt USING (prev_type)
           |    JOIN states st ON st.s = c.next_type),
           |kk AS (SELECT count(*)::BIGINT AS k FROM states),
           |it0 AS (SELECT s, 1.0::DOUBLE / k::DOUBLE AS p
           |  FROM states CROSS JOIN kk),
           |$iters,
           |tot AS (SELECT sum(nij)::BIGINT AS total FROM cells),
           |raw AS (SELECT next_type AS s, sum(nij)::BIGINT AS c
           |  FROM cells GROUP BY 1)
           |SELECT it32.s AS state, round(it32.p, 6) AS pi,
           |  round(coalesce(raw.c, 0)::DOUBLE / tot.total::DOUBLE, 6)
           |    AS p_raw
           |FROM it32 LEFT JOIN raw ON it32.s = raw.s CROSS JOIN tot
           |ORDER BY state""".stripMargin
      }),

    // eta2/omega2/Cohen's f: HOW MUCH value variance event_type
    // explains — the effect-size readout x187's F only gates
    Entry("x314_anova_effects", (s, dir) =>
      graft.ops.Stats.anovaEffects(Registrar.table(s, dir, "events"),
        F.col("event_type"), F.col("value"), scale = 100L),
      // cents-exact sufficient stats; ALL-POSITIVE 9-dp SSB/SSW terms
      // (the icc1 rule); omega2's MSW correction
      Oracle("""WITH byg AS (SELECT event_type AS g, count(*)::BIGINT AS n,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS sk,
        |    sum(round(value * 100)::BIGINT *
        |      round(value * 100)::BIGINT)::BIGINT AS sk2
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(sk)::BIGINT AS tsk FROM byg),
        |j AS (SELECT byg.n AS ng, byg.sk, byg.sk2, tot.k, tot.n,
        |    tot.tsk::DOUBLE / tot.n::DOUBLE AS grand,
        |    byg.sk::DOUBLE / byg.n::DOUBLE AS meang
        |  FROM byg CROSS JOIN tot),
        |t2 AS (SELECT k, n,
        |    round(ng::DOUBLE * (meang - grand) * (meang - grand) *
        |      (1.0::DOUBLE / (100.0::DOUBLE * 100.0::DOUBLE)), 9) AS bt,
        |    round((sk2::DOUBLE - sk::DOUBLE * sk / ng::DOUBLE) *
        |      (1.0::DOUBLE / (100.0::DOUBLE * 100.0::DOUBLE)), 9) AS wg
        |  FROM j),
        |g AS (SELECT max(k)::BIGINT AS k, max(n)::BIGINT AS n,
        |    sum(bt) AS ssb, sum(wg) AS ssw FROM t2),
        |f AS (SELECT k, n, ssb, ssw, ssb + ssw AS sst,
        |    ssw / nullif(n::DOUBLE - k::DOUBLE, 0.0) AS msw,
        |    ssb / nullif(ssb + ssw, 0.0) AS eta2 FROM g)
        |SELECT k, n, round(ssb, 6) AS ss_between,
        |  round(ssw, 6) AS ss_within, round(eta2, 6) AS eta2,
        |  round((ssb - (k::DOUBLE - 1.0::DOUBLE) * msw) /
        |    nullif(sst + msw, 0.0), 6) AS omega2,
        |  round(sqrt(eta2 / nullif(1.0::DOUBLE - eta2, 0.0)), 6)
        |    AS cohens_f
        |FROM f""".stripMargin)),

    // KS separation of the x49 classifier score: the best single
    // threshold and its TPR-FPR gap, next to x178's integrated AUC
    Entry("x309_ks_separation", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.ksSeparation(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x287 scored CTE; integer cumsums (exact rationals on the
      // curve); lower-score argmax tie-break
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |byv AS (SELECT s AS v,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
           |    count(*)::BIGINT AS t FROM sc GROUP BY 1),
           |tot AS (SELECT sum(np)::BIGINT AS pp,
           |    (sum(t) - sum(np))::BIGINT AS nn FROM byv),
           |curve AS (SELECT v, pp, nn,
           |    sum(np) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS cp,
           |    sum(t - np) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW)::BIGINT AS cn
           |  FROM byv CROSS JOIN tot),
           |d AS (SELECT v, pp, nn,
           |    abs(cp::DOUBLE / nullif(pp::DOUBLE, 0.0) -
           |      cn::DOUBLE / nullif(nn::DOUBLE, 0.0)) AS diff
           |  FROM curve),
           |r AS (SELECT *, row_number() OVER (ORDER BY diff DESC NULLS
           |    LAST, v) AS rk FROM d)
           |SELECT pp AS n_pos, nn AS n_neg, round(diff, 6) AS ks,
           |  round(v, 6) AS score_at
           |FROM r WHERE rk = 1""".stripMargin
      }),

    // ARI + NMI: did the x09 language-ID partition find the real lang
    // structure — permutation-invariant where x283's accuracy is not
    Entry("x310_ari_nmi", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      graft.ops.Stats.ariNmi(d, F.col("lang"),
        TextOps.langId(F.col("text")))
    },
      // the x283 predictor CTE; exact pair counts C(n,2); 9-dp MI and
      // entropy cell terms; arithmetic NMI normalization
      Oracle("""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in'))) AS en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y','es','un','que'))) AS es
        |  FROM scored),
        |pair AS (SELECT lang AS a,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS b
        |  FROM hits),
        |cells AS (SELECT a, b, count(*)::BIGINT AS nij FROM pair
        |  GROUP BY 1, 2),
        |am AS (SELECT a, sum(nij)::BIGINT AS ai FROM cells GROUP BY 1),
        |bm AS (SELECT b, sum(nij)::BIGINT AS bj FROM cells GROUP BY 1),
        |ag AS (SELECT count(*)::BIGINT AS k_a,
        |    sum(ai * (ai - 1) / 2) AS sa, sum(ai)::BIGINT AS n FROM am),
        |bg AS (SELECT count(*)::BIGINT AS k_b,
        |    sum(bj * (bj - 1) / 2) AS sb FROM bm),
        |cg AS (SELECT sum(nij * (nij - 1) / 2) AS sc2 FROM cells),
        |mi AS (SELECT sum(round(nij::DOUBLE / n::DOUBLE *
        |      ln(n::DOUBLE * nij::DOUBLE /
        |        (ai::DOUBLE * bj::DOUBLE)), 9)) AS smi
        |  FROM cells JOIN am USING (a) JOIN bm USING (b)
        |    CROSS JOIN (SELECT n FROM ag)),
        |ha AS (SELECT sum(round(-(ai::DOUBLE / n::DOUBLE) *
        |    ln(ai::DOUBLE / n::DOUBLE), 9)) AS hha
        |  FROM am CROSS JOIN (SELECT n FROM ag)),
        |hb AS (SELECT sum(round(-(bj::DOUBLE / n::DOUBLE) *
        |    ln(bj::DOUBLE / n::DOUBLE), 9)) AS hhb
        |  FROM bm CROSS JOIN (SELECT n FROM ag)),
        |f AS (SELECT n, k_a, k_b, sa, sb, sc2, smi, hha, hhb,
        |    sa * sb / (n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE) /
        |      2.0::DOUBLE) AS e
        |  FROM ag CROSS JOIN bg CROSS JOIN cg CROSS JOIN mi
        |    CROSS JOIN ha CROSS JOIN hb)
        |SELECT n, k_a, k_b,
        |  round((sc2 - e) / nullif((sa + sb) / 2.0::DOUBLE - e, 0.0), 6)
        |    AS ari,
        |  round(smi / nullif((hha + hhb) / 2.0::DOUBLE, 0.0), 6) AS nmi
        |FROM f""".stripMargin)),

    // UMass coherence of the top-10 corpus tokens: do the dominant
    // terms co-occur (topic) or just share the frequency head
    Entry("x311_umass_coherence", (s, dir) =>
      TextOps.umassCoherence(
        Registrar.table(s, dir, "documents"), "doc_id", "text",
        k = 10),
      // doc-distinct census; integer-deterministic top-k; rank-ordered
      // smoothed pair terms, full grid (absent pairs score ln(1/df_j))
      Oracle("""WITH dt AS (SELECT doc_id AS id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(trim(coalesce(text,
        |      ''))), '\s+'), x -> length(x) > 0))) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*)::BIGINT AS df FROM dt GROUP BY t),
        |topt AS (SELECT t, df, rk FROM (SELECT t, df, row_number()
        |    OVER (ORDER BY df DESC, t) AS rk FROM cnt) WHERE rk <= 10),
        |hits AS (SELECT dt.id, dt.t, topt.rk, topt.df
        |  FROM dt JOIN topt USING (t)),
        |pairs AS (SELECT a.t AS wi, b.t AS wj, b.df AS dfj,
        |    count(*)::BIGINT AS d_ij
        |  FROM hits a JOIN hits b ON a.id = b.id AND a.rk < b.rk
        |  GROUP BY 1, 2, 3),
        |grid AS (SELECT a.t AS wi, b.t AS wj, b.df AS dfj
        |  FROM topt a CROSS JOIN topt b WHERE a.rk < b.rk),
        |terms AS (SELECT g.wi, g.wj,
        |    coalesce(p.d_ij, 0)::BIGINT AS d_ij, g.dfj,
        |    round(ln((coalesce(p.d_ij, 0) + 1)::DOUBLE /
        |      g.dfj::DOUBLE), 9) AS term
        |  FROM grid g LEFT JOIN pairs p ON g.wi = p.wi AND g.wj = p.wj),
        |tot AS (SELECT round(sum(term), 6) AS coherence,
        |    count(*)::BIGINT AS n_pairs FROM terms)
        |SELECT wi, wj, d_ij, dfj AS d_j, term, n_pairs, coherence
        |FROM terms CROSS JOIN tot ORDER BY wi, wj""".stripMargin)),

    // periodogram: which cycle actually dominates the daily series —
    // the measured answer to x193/x294's assumed season=7
    Entry("x305_periodogram", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.periodogram(daily, "t", "v", maxK = 30)
    },
      // integer (k·i) mod T angle reduction before the one cos/sin
      // touch; 9-dp trig terms; smallest-k peak tie-break
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS tn, sum(v) AS sv FROM daily),
        |idx AS (SELECT (row_number() OVER (ORDER BY t) - 1)::BIGINT
        |    AS i, v - sv / tn::DOUBLE AS c, tn
        |  FROM daily CROSS JOIN tot),
        |terms AS (SELECT k, tn,
        |    round(c * cos(6.283185307179586 *
        |      ((k * i) % tn)::DOUBLE / tn::DOUBLE), 9) AS ct,
        |    round(c * sin(6.283185307179586 *
        |      ((k * i) % tn)::DOUBLE / tn::DOUBLE), 9) AS st
        |  FROM idx CROSS JOIN (SELECT unnest(range(1, 31))::BIGINT AS k)
        |  WHERE k <= tn // 2),
        |byk AS (SELECT k, max(tn) AS t2, sum(ct) AS sc, sum(st) AS ss
        |  FROM terms GROUP BY k),
        |p AS (SELECT k, t2, round(sc * sc + ss * ss, 6) AS power
        |  FROM byk),
        |r AS (SELECT *, row_number() OVER (ORDER BY power DESC, k)
        |    AS rk FROM p)
        |SELECT k, round(t2::DOUBLE / k::DOUBLE, 6) AS period, power,
        |  (rk = 1) AS is_peak
        |FROM r ORDER BY k""".stripMargin)),

    // entropy rate of the x102 behavior chain: how predictable is the
    // next action — perplexity as effective next-action count
    Entry("x306_entropy_rate", (s, dir) =>
      graft.ops.EventOps.entropyRate(
        Registrar.table(s, dir, "events")),
      // the x102 lag collapse; cell terms two exact-long divisions and
      // one 9-dp ln product
      Oracle("""WITH e AS (SELECT user_id AS u, event_type AS et,
        |    epoch_us(ts) AS tu, event_id AS eid FROM events),
        |l AS (SELECT et AS next_type,
        |    lag(et) OVER (PARTITION BY u ORDER BY tu, eid) AS prev_type
        |  FROM e),
        |cells AS (SELECT prev_type, next_type, count(*)::BIGINT AS nij
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT prev_type, sum(nij)::BIGINT AS ni FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT sum(nij)::BIGINT AS nt FROM cells),
        |terms AS (SELECT round(nij::DOUBLE / nt::DOUBLE *
        |      ln(nij::DOUBLE / ni::DOUBLE), 9) AS t, nt, prev_type
        |  FROM cells JOIN rt USING (prev_type) CROSS JOIN tot),
        |g AS (SELECT max(nt)::BIGINT AS n_transitions,
        |    count(DISTINCT prev_type)::BIGINT AS k_states,
        |    sum(t) AS st FROM terms)
        |SELECT n_transitions, k_states, round(-st, 6) AS h_rate,
        |  round(-st / nullif(ln(k_states::DOUBLE), 0.0), 6) AS h_norm,
        |  round(exp(-st), 6) AS perplexity
        |FROM g""".stripMargin)),

    // decision-stump Gini gain: which single token best splits en vs
    // rest — the feature-selection primitive under x49's classifier
    Entry("x307_stump_gain", (s, dir) =>
      TextOps.stumpGain(Registrar.table(s, dir, "documents"),
        F.col("lang") === "en", "doc_id", "text", minDf = 5, topK = 30),
      // the x109 doc-distinct explode; exact-count Gini algebra; gain
      // ranking engine-stable (bit-identical trees)
      Oracle("""WITH docs AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))),
        |        '\s+'), x -> length(x) > 0)) AS toks
        |  FROM documents),
        |dt AS (SELECT y, unnest(toks) AS t FROM docs),
        |cells AS (SELECT t, count(*)::BIGINT AS df,
        |    sum(y)::BIGINT AS pos1 FROM dt GROUP BY t
        |  HAVING count(*) >= 5),
        |tot AS (SELECT count(*)::BIGINT AS bn, sum(y)::BIGINT AS bp
        |  FROM docs),
        |g AS (SELECT t, df, pos1, bn, bp, (bn - df)::BIGINT AS n0,
        |    pos1::DOUBLE / df::DOUBLE AS p1,
        |    (bp - pos1)::DOUBLE / nullif((bn - df)::DOUBLE, 0.0) AS p0
        |  FROM cells CROSS JOIN tot),
        |gain AS (SELECT t, df, pos1, p1, p0, round(
        |    2.0::DOUBLE * (bp::DOUBLE / bn::DOUBLE) *
        |      (1.0::DOUBLE - bp::DOUBLE / bn::DOUBLE) -
        |    df::DOUBLE / bn::DOUBLE *
        |      (2.0::DOUBLE * p1 * (1.0::DOUBLE - p1)) -
        |    coalesce(n0::DOUBLE / bn::DOUBLE *
        |      (2.0::DOUBLE * p0 * (1.0::DOUBLE - p0)), 0.0), 6) AS gain
        |  FROM g),
        |r AS (SELECT *, row_number() OVER (ORDER BY gain DESC, t)
        |    AS rk FROM gain)
        |SELECT t AS token, df, pos1 AS n_pos_has, round(p1, 6) AS p_has,
        |  round(p0, 6) AS p_not, gain
        |FROM r WHERE rk <= 30 ORDER BY gain DESC, token""".stripMargin)),

    // Cochran's C: WHICH event type owns the value variance — the
    // pointed follow-up to x303's rejected homogeneity
    Entry("x308_cochran_c", (s, dir) =>
      graft.ops.Stats.cochranC(Registrar.table(s, dir, "events"),
        F.col("event_type"), F.col("value"), scale = 100L),
      // cents-exact 9-dp group variances; variance-share argmax with
      // group-name tie-break
      Oracle("""WITH byg AS (SELECT event_type AS g, count(*)::BIGINT AS n,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS sk,
        |    sum(round(value * 100)::BIGINT *
        |      round(value * 100)::BIGINT)::BIGINT AS sk2
        |  FROM events GROUP BY 1),
        |rws AS (SELECT g, n, round(CASE WHEN n >= 2 THEN
        |    (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) /
        |      (n::DOUBLE - 1.0::DOUBLE) *
        |      (1.0::DOUBLE / (100.0::DOUBLE * 100.0::DOUBLE)) END, 9)
        |    AS vi
        |  FROM byg),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(vi) AS sv2, count(vi)::BIGINT AS kv FROM rws),
        |r AS (SELECT rws.g, vi, k, tot.n AS n, sv2, kv,
        |    row_number() OVER (ORDER BY vi DESC NULLS LAST, rws.g)
        |      AS rk
        |  FROM rws CROSS JOIN tot)
        |SELECT k, n, g AS g_max, round(vi, 6) AS s2_max,
        |  round(sv2, 6) AS s2_sum,
        |  round(CASE WHEN kv = k THEN vi / nullif(sv2, 0.0) END, 6)
        |    AS c
        |FROM r WHERE rk = 1""".stripMargin)),

    // Granger lag-1: do yesterday's clicks predict today's purchases
    // beyond purchase history — predictive precedence on the day grid
    Entry("x301_granger", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      def daily(tp: String) = ev
        .filter(F.col("event_type") === tp)
        .groupBy(F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
          F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.grangerLag1(daily("purchase"), daily("click"),
        "t", "v")
    },
      // zero-filled day grid, integer lag pairs, symbolic 2x2 normal
      // equations — restricted-vs-unrestricted SSR F
      Oracle("""WITH ev AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT AS t,
        |    event_type FROM events),
        |y AS (SELECT t, count(*)::BIGINT AS y FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |x AS (SELECT t, count(*)::BIGINT AS x FROM ev
        |  WHERE event_type = 'click' GROUP BY 1),
        |grid AS (SELECT coalesce(y.t, x.t) AS t,
        |    coalesce(y.y, 0)::BIGINT AS y, coalesce(x.x, 0)::BIGINT AS x
        |  FROM y FULL JOIN x ON y.t = x.t),
        |l AS (SELECT y, lag(y, 1) OVER (ORDER BY t) AS y1,
        |    lag(x, 1) OVER (ORDER BY t) AS x1 FROM grid),
        |r AS (SELECT y, y1, x1 FROM l WHERE y1 IS NOT NULL),
        |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
        |    sum(y1)::BIGINT AS s1, sum(x1)::BIGINT AS s2,
        |    sum(y * y)::BIGINT AS syy, sum(y1 * y1)::BIGINT AS s11,
        |    sum(x1 * x1)::BIGINT AS s22, sum(y1 * x1)::BIGINT AS s12,
        |    sum(y * y1)::BIGINT AS sy1, sum(y * x1)::BIGINT AS sy2
        |  FROM r),
        |c AS (SELECT n,
        |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS cyy,
        |    s11::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE AS c11,
        |    s22::DOUBLE - s2::DOUBLE * s2::DOUBLE / n::DOUBLE AS c22,
        |    s12::DOUBLE - s1::DOUBLE * s2::DOUBLE / n::DOUBLE AS c12,
        |    sy1::DOUBLE - sy::DOUBLE * s1::DOUBLE / n::DOUBLE AS cy1,
        |    sy2::DOUBLE - sy::DOUBLE * s2::DOUBLE / n::DOUBLE AS cy2
        |  FROM g),
        |f AS (SELECT n,
        |    cyy - cy1 * cy1 / nullif(c11, 0.0) AS ssr_r,
        |    cyy - ((cy1 * c22 - cy2 * c12) * cy1 +
        |      (cy2 * c11 - cy1 * c12) * cy2) /
        |      nullif(c11 * c22 - c12 * c12, 0.0) AS ssr_u
        |  FROM c)
        |SELECT n, round(ssr_r, 6) AS ssr_r, round(ssr_u, 6) AS ssr_u,
        |  round(CASE WHEN n >= 4 THEN (ssr_r - ssr_u) /
        |    nullif(ssr_u / (n::DOUBLE - 3.0::DOUBLE), 0.0) END, 6) AS f
        |FROM f""".stripMargin)),

    // Grubbs: the single most aberrant day of the event series — the
    // parametric sibling of x103's MAD screen
    Entry("x302_grubbs", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.grubbs(daily, F.col("t"), F.col("v"))
    },
      // exact integer sufficient stats, deviation argmax with smallest-t
      // tie-break
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |a AS (SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS sk,
        |    sum(v * v)::BIGINT AS sk2 FROM daily),
        |j AS (SELECT t, v, n, sk,
        |    abs(v::DOUBLE - sk::DOUBLE / n::DOUBLE) AS dev,
        |    CASE WHEN n >= 2 THEN
        |      (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) /
        |        (n::DOUBLE - 1.0::DOUBLE) END AS vr
        |  FROM daily CROSS JOIN a),
        |r AS (SELECT *, row_number() OVER (ORDER BY dev DESC, t) AS rk
        |  FROM j)
        |SELECT n, round(sk::DOUBLE / n::DOUBLE, 6) AS mean,
        |  round(sqrt(vr), 6) AS sd, t AS t_out,
        |  round(v::DOUBLE, 6) AS v_out,
        |  round(dev / sqrt(nullif(vr, 0.0)), 6) AS g
        |FROM r WHERE rk = 1""".stripMargin)),

    // Bartlett: are event-value variances equal across types (cents-
    // exact sufficient stats) — the parametric gate before x187-style
    // pooled ANOVA
    Entry("x303_bartlett", (s, dir) =>
      graft.ops.Stats.bartlett(Registrar.table(s, dir, "events"),
        F.col("event_type"), F.col("value"), scale = 100L),
      // cents-exact per-group sufficient stats; 9-dp ln terms; ln-term
      // liveness gate mirrors the Spark __kln guard
      Oracle("""WITH byg AS (SELECT event_type AS g, count(*)::BIGINT AS n,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS sk,
        |    sum(round(value * 100)::BIGINT *
        |      round(value * 100)::BIGINT)::BIGINT AS sk2
        |  FROM events GROUP BY 1),
        |terms AS (SELECT g, n,
        |    (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) *
        |      (1.0::DOUBLE / (100.0::DOUBLE * 100.0::DOUBLE)) AS ssw,
        |    round((n::DOUBLE - 1.0::DOUBLE) * ln(nullif(
        |      CASE WHEN n >= 2 THEN
        |        (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) *
        |          (1.0::DOUBLE / (100.0::DOUBLE * 100.0::DOUBLE)) /
        |          (n::DOUBLE - 1.0::DOUBLE) END, 0.0)), 9) AS lnv,
        |    round(1.0::DOUBLE / (n::DOUBLE - 1.0::DOUBLE), 9) AS inv
        |  FROM byg),
        |g AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(ssw) AS sswt, sum(lnv) AS slnv, sum(inv) AS sinv,
        |    min(n)::BIGINT AS minn, count(lnv)::BIGINT AS kln
        |  FROM terms)
        |SELECT k, n, round(CASE WHEN minn >= 2 AND k >= 2 AND kln = k
        |  THEN ((n::DOUBLE - k::DOUBLE) *
        |      ln(sswt / (n::DOUBLE - k::DOUBLE)) - slnv) /
        |    (1.0::DOUBLE + (sinv - 1.0::DOUBLE /
        |      (n::DOUBLE - k::DOUBLE)) /
        |      (3.0::DOUBLE * (k::DOUBLE - 1.0::DOUBLE))) END, 6) AS chi2
        |FROM g""".stripMargin)),

    // Welch ANOVA: do mean event values differ across types WITHOUT
    // assuming the equal variances x303 just tested
    Entry("x304_welch_anova", (s, dir) =>
      graft.ops.Stats.welchAnova(Registrar.table(s, dir, "events"),
        F.col("event_type"), F.col("value"), scale = 100L),
      // cents-exact w_i and means; 9-dp k-bounded term sums; the
      // Welch-Satterthwaite denominator
      Oracle("""WITH byg AS (SELECT event_type AS g, count(*)::BIGINT AS n,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS sk,
        |    sum(round(value * 100)::BIGINT *
        |      round(value * 100)::BIGINT)::BIGINT AS sk2
        |  FROM events GROUP BY 1),
        |rws AS (SELECT g, n, sk::DOUBLE / n::DOUBLE AS mean,
        |    n::DOUBLE / nullif(CASE WHEN n >= 2 THEN
        |      (sk2::DOUBLE - sk::DOUBLE * sk / n::DOUBLE) /
        |        (n::DOUBLE - 1.0::DOUBLE) END, 0.0) AS w
        |  FROM byg),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
        |    sum(round(w, 9)) AS sw, sum(round(w * mean, 9)) AS swm,
        |    min(n)::BIGINT AS minn,
        |    bool_and(w IS NOT NULL) AS allv FROM rws),
        |j AS (SELECT rws.n AS ng, k, tot.n AS n, minn, allv, sw,
        |    round(w * (mean - swm / sw) * (mean - swm / sw), 9) AS bt,
        |    round((1.0::DOUBLE - w / sw) * (1.0::DOUBLE - w / sw) /
        |      (rws.n::DOUBLE - 1.0::DOUBLE), 9) AS h
        |  FROM rws CROSS JOIN tot),
        |g2 AS (SELECT max(k)::BIGINT AS k, max(n)::BIGINT AS n,
        |    sum(bt) AS sbt, sum(h) AS sh, max(minn)::BIGINT AS minn,
        |    bool_and(allv) AS allv FROM j)
        |SELECT k, n, round(CASE WHEN minn >= 2 AND k >= 2 AND allv
        |    THEN (sbt / (k::DOUBLE - 1.0::DOUBLE)) /
        |      (1.0::DOUBLE + 2.0::DOUBLE * (k::DOUBLE - 2.0::DOUBLE) /
        |        (k::DOUBLE * k::DOUBLE - 1.0::DOUBLE) * sh) END, 6)
        |    AS w_stat,
        |  (k - 1)::BIGINT AS df1,
        |  round(CASE WHEN minn >= 2 AND k >= 2 AND allv THEN
        |    (k::DOUBLE * k::DOUBLE - 1.0::DOUBLE) /
        |      (3.0::DOUBLE * nullif(sh, 0.0)) END, 6) AS df2
        |FROM g2""".stripMargin)),

    // Ansari-Bradley: does en doc LENGTH SPREAD differ from non-en —
    // the rank-based scale sibling of x175's location test
    Entry("x297_ansari_bradley", (s, dir) =>
      graft.ops.Stats.ansariBradley(
        Registrar.table(s, dir, "documents"),
        F.col("n_chars"), F.col("lang") === "en"),
      // the rankSum collapse; S(k) closed-form exact longs around the
      // fold point (nn+1)//2; tie-mean scores one division each
      Oracle("""WITH byv AS (SELECT n_chars::DOUBLE AS v,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1v,
        |    count(*)::BIGINT AS t
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn, sum(n1v)::BIGINT AS none1
        |  FROM byv),
        |r AS (SELECT n1v, t, nn, none1, (nn + 1)::BIGINT AS m,
        |    ((nn + 1) // 2)::BIGINT AS c,
        |    sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)::BIGINT AS cum
        |  FROM byv CROSS JOIN tot),
        |sk AS (SELECT n1v, t, nn, none1,
        |    CASE WHEN cum <= 0 THEN 0.0
        |      WHEN cum <= c THEN cum * (cum + 1) / 2
        |      ELSE c * (c + 1) / 2 + (cum - c) * m -
        |        (cum * (cum + 1) / 2 - c * (c + 1) / 2) END -
        |    CASE WHEN (cum - t) <= 0 THEN 0.0
        |      WHEN (cum - t) <= c THEN (cum - t) * (cum - t + 1) / 2
        |      ELSE c * (c + 1) / 2 + ((cum - t) - c) * m -
        |        ((cum - t) * (cum - t + 1) / 2 - c * (c + 1) / 2) END
        |      AS rs
        |  FROM r),
        |g AS (SELECT max(none1)::BIGINT AS n1,
        |    (max(nn) - max(none1))::BIGINT AS n2, max(nn)::BIGINT AS nn,
        |    sum(n1v::DOUBLE * (rs / t::DOUBLE)) AS ab, sum(rs) AS sa,
        |    sum(t::DOUBLE * (rs / t::DOUBLE) * (rs / t::DOUBLE)) AS sa2
        |  FROM sk),
        |f AS (SELECT n1, n2, ab, sa / nn::DOUBLE AS abar,
        |    n1::DOUBLE * n2::DOUBLE *
        |      (sa2 - nn::DOUBLE * (sa / nn::DOUBLE) *
        |        (sa / nn::DOUBLE)) /
        |      (nn::DOUBLE * (nn::DOUBLE - 1.0::DOUBLE)) AS vr
        |  FROM g)
        |SELECT n1, n2, round(ab, 6) AS ab,
        |  round(n1::DOUBLE * abar, 6) AS e_ab,
        |  round((ab - n1::DOUBLE * abar) / sqrt(nullif(vr, 0.0)), 6)
        |    AS z
        |FROM f""".stripMargin)),

    // Cohen's h: HOW different is the weekend purchase share from the
    // weekday one — effect size next to x291's significance
    Entry("x298_cohens_h", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.cohensH(ev,
        F.dayofweek(F.to_date(graft.ops.EventOps.tsStamp(ev)))
          .isin(1, 7),
        F.col("event_type") === "purchase")
    },
      // four exact longs; asin the only libm touch, 6-dp rounded
      Oracle("""WITH g AS (SELECT
        |    sum(CASE WHEN isodow(ts::DATE) IN (6, 7) THEN 1 ELSE 0
        |      END)::BIGINT AS n1,
        |    sum(CASE WHEN isodow(ts::DATE) NOT IN (6, 7) THEN 1 ELSE 0
        |      END)::BIGINT AS n2,
        |    sum(CASE WHEN isodow(ts::DATE) IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS s1,
        |    sum(CASE WHEN isodow(ts::DATE) NOT IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS s2
        |  FROM events),
        |f AS (SELECT n1, n2,
        |    s1::DOUBLE / nullif(n1::DOUBLE, 0.0) AS p1,
        |    s2::DOUBLE / nullif(n2::DOUBLE, 0.0) AS p2 FROM g)
        |SELECT n1, n2, round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(2.0::DOUBLE * asin(sqrt(p1)) -
        |    2.0::DOUBLE * asin(sqrt(p2)), 6) AS h
        |FROM f""".stripMargin)),

    // Theil T/L + Atkinson(1) of document lengths: is the corpus'
    // character mass hoarded by a few docs — decomposable Gini sibling
    Entry("x299_inequality", (s, dir) =>
      graft.ops.Stats.inequality(
        Registrar.table(s, dir, "documents"), F.col("n_chars")),
      // one-division mean, bit-identical ratios, 9-dp ln terms (the
      // kaplanMeier rule), positive-quantity filter
      Oracle("""WITH s AS (SELECT n_chars::DOUBLE AS x FROM documents
        |  WHERE n_chars::DOUBLE > 0.0),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx FROM s),
        |t AS (SELECT n, sx / n::DOUBLE AS mu,
        |    x / (sx / n::DOUBLE) AS r FROM s CROSS JOIN tot),
        |tt AS (SELECT n, mu, round(r * ln(r), 9) AS tt,
        |    round(-ln(r), 9) AS tl FROM t),
        |g AS (SELECT max(n) AS n, max(mu) AS mu, sum(tt) AS st,
        |    sum(tl) AS sl FROM tt)
        |SELECT n, round(mu, 6) AS mean,
        |  round(st / n::DOUBLE, 6) AS theil_t,
        |  round(sl / n::DOUBLE, 6) AS theil_l,
        |  round(1.0::DOUBLE - exp(-(sl / n::DOUBLE)), 6) AS atkinson1
        |FROM g""".stripMargin)),

    // local clustering census over the x104 co-purchase graph: whose
    // neighborhood is a clique, plus the global transitivity
    Entry("x300_clustering", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.localClustering(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst")
    },
      // the x104 triangle CTEs; lcc/transitivity single divisions of
      // exact longs; networkx deg<2 convention
      Oracle("""WITH os AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
        |), e AS (
        |  SELECT a.s AS a, b.s AS b
        |  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 6
        |), deg AS (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.a ELSE e.b END AS lo,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.b ELSE e.a END AS hi
        |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
        |), w AS (
        |  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |), t AS (
        |  SELECT u, v, w FROM w JOIN (
        |    SELECT lo AS v, hi AS w FROM o
        |    UNION ALL SELECT hi, lo FROM o) c USING (v, w)
        |), tc AS (
        |  SELECT node, count(*)::BIGINT AS n_tri FROM (
        |    SELECT u AS node FROM t
        |    UNION ALL SELECT v FROM t
        |    UNION ALL SELECT w FROM t)
        |  GROUP BY node
        |), nodes AS (
        |  SELECT deg.node, deg.deg, coalesce(n_tri, 0)::BIGINT AS n_tri
        |  FROM deg LEFT JOIN tc ON deg.node = tc.node
        |), l AS (
        |  SELECT node, deg, n_tri,
        |    round(CASE WHEN deg >= 2 THEN (2 * n_tri)::DOUBLE /
        |      (deg * (deg - 1))::DOUBLE ELSE 0.0 END, 6) AS lcc
        |  FROM nodes
        |), g AS (
        |  SELECT round(avg(lcc), 6) AS avg_lcc,
        |    round((2 * sum(n_tri))::DOUBLE /
        |      nullif(sum(deg * (deg - 1))::DOUBLE, 0.0), 6)
        |      AS transitivity
        |  FROM l)
        |SELECT node, deg, n_tri, lcc, avg_lcc, transitivity
        |FROM l CROSS JOIN g ORDER BY node""".stripMargin)),

    // MAP over the x181 ranking task: order-sensitive retrieval score
    // between MRR (first hit) and NDCG (graded gain)
    Entry("x293_map_eval", (s, dir) => {
      val agg = Registrar.table(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("q"),
          F.col("l_suppkey").as("item"))
        .agg(F.count(F.lit(1)).as("n"), F.sum("l_quantity").as("sq"))
      val wA = Window.partitionBy("q").orderBy(F.col("n").desc,
        F.col("item"))
      val wB = Window.partitionBy("q").orderBy(F.col("sq").desc,
        F.col("item"))
      val res = agg.withColumn("rk", F.row_number().over(wA))
        .filter(F.col("rk") <= 20)
      val truth = agg.withColumn("rkb", F.row_number().over(wB))
        .filter(F.col("rkb") <= 5)
      graft.ops.Stats.averagePrecision(res, truth, "q", "item", "rk")
    },
      // the x181 ranking CTEs; per-hit precision hit_idx/rank exact, 9-dp
      // positive terms; AP over |relevant|
      Oracle("""WITH agg AS (
        |  SELECT l_returnflag AS q, l_suppkey AS item,
        |    count(*) AS n, sum(l_quantity) AS sq
        |  FROM lineitem GROUP BY 1, 2
        |), ra AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY n DESC, item) AS rk
        |  FROM agg
        |), rb AS (
        |  SELECT q, item, row_number()
        |    OVER (PARTITION BY q ORDER BY sq DESC, item) AS rkb
        |  FROM agg
        |), res AS (SELECT q, item, rk FROM ra WHERE rk <= 20),
        |tr AS (SELECT q, item FROM rb WHERE rkb <= 5),
        |nr AS (SELECT q, count(*)::BIGINT AS n_rel FROM tr GROUP BY q),
        |h AS (SELECT res.q, rk, row_number() OVER (PARTITION BY res.q
        |      ORDER BY rk) AS hi
        |  FROM res JOIN tr ON res.q = tr.q AND res.item = tr.item),
        |hs AS (SELECT q, count(*)::BIGINT AS n_hit,
        |    sum(round(hi::DOUBLE / rk::DOUBLE, 9)) AS sp
        |  FROM h GROUP BY q),
        |qs AS (SELECT DISTINCT q FROM res),
        |perq AS (SELECT qs.q, coalesce(n_rel, 0)::BIGINT AS n_rel,
        |    coalesce(n_hit, 0)::BIGINT AS n_hit,
        |    round(CASE WHEN coalesce(n_rel, 0) > 0 THEN
        |      coalesce(sp, 0.0) / n_rel::DOUBLE ELSE 0.0 END, 6) AS ap
        |  FROM qs LEFT JOIN nr ON qs.q = nr.q
        |    LEFT JOIN hs ON qs.q = hs.q),
        |g AS (SELECT round(avg(ap), 6) AS map FROM perq)
        |SELECT q AS query, n_rel, n_hit, ap, map FROM perq CROSS JOIN g
        |ORDER BY query""".stripMargin)),

    // MASE of the x193 seasonal-naive forecast: does weekly seasonality
    // beat the one-step naive, scale-free
    Entry("x294_mase", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.mase(daily, "t", "v", season = 7)
    },
      // both lags over the same total-order window; 9-dp abs errors,
      // positive orderless sums, one ratio
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |l AS (SELECT t, v, lag(v, 7) OVER (ORDER BY t) AS fm,
        |    lag(v, 1) OVER (ORDER BY t) AS f1 FROM daily),
        |e AS (SELECT round(abs(v - fm), 9) AS em,
        |    round(abs(v - f1), 9) AS e1 FROM l),
        |g AS (SELECT count(em)::BIGINT AS n_scored,
        |    count(e1)::BIGINT AS n_scale, sum(em) AS sm, sum(e1) AS s1
        |  FROM e)
        |SELECT n_scored, n_scale,
        |  round(sm / n_scored::DOUBLE, 6) AS mae_model,
        |  round(s1 / n_scale::DOUBLE, 6) AS mae_naive,
        |  round((sm / n_scored::DOUBLE) /
        |    nullif(s1 / n_scale::DOUBLE, 0.0), 6) AS mase
        |FROM g""".stripMargin)),

    // Yule's K + Honore's R: curve-free repetitiveness constants next
    // to the x222 Heaps fit — template/boilerplate drift alarm
    Entry("x295_yules_k", (s, dir) =>
      TextOps.yulesK(Registrar.table(s, dir, "documents"), "text"),
      // the x19 token census; exact-long spectrum sums; K one division,
      // R the only libm ln
      Oracle("""WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |c AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
        |g AS (SELECT sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
        |    sum(c * c)::BIGINT AS sc2 FROM c)
        |SELECT n_tokens, n_types, hapax,
        |  round(10000.0::DOUBLE * (sc2 - n_tokens)::DOUBLE /
        |    (n_tokens::DOUBLE * n_tokens::DOUBLE), 6) AS yules_k,
        |  round(100.0::DOUBLE * ln(n_tokens::DOUBLE) / nullif(
        |    1.0::DOUBLE - hapax::DOUBLE / n_types::DOUBLE, 0.0), 6)
        |    AS honore_r
        |FROM g""".stripMargin)),

    // HHI of the document source mix: is the corpus a few sources in a
    // trench coat (eff_n = equivalent equal-share source count)
    Entry("x296_hhi", (s, dir) =>
      graft.ops.Stats.concentration(
        Registrar.table(s, dir, "documents"), F.col("source")),
      // exact-long count squares; HHI = one IEEE division of Σc² by N²
      Oracle("""WITH c AS (SELECT source AS k, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1),
        |g AS (SELECT count(*)::BIGINT AS k, sum(c)::BIGINT AS n,
        |    sum(c * c)::BIGINT AS sc2 FROM c),
        |f AS (SELECT k, n,
        |    sc2::DOUBLE / (n::DOUBLE * n::DOUBLE) AS hhi FROM g)
        |SELECT k, n, round(hhi, 6) AS hhi,
        |  round(CASE WHEN k > 1 THEN (hhi - 1.0::DOUBLE / k::DOUBLE) /
        |    (1.0::DOUBLE - 1.0::DOUBLE / k::DOUBLE) END, 6) AS hhi_norm,
        |  round(1.0::DOUBLE / hhi, 6) AS eff_n
        |FROM f""".stripMargin)),

    // Jarque-Bera: is the daily event-count distribution Gaussian
    // enough for the 3-sigma alerting the x140 seasonal-z assumes
    Entry("x289_jarque_bera", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.jarqueBera(daily, F.col("v"))
    },
      // exact Σk and same-IEEE mean division; centered moment sums;
      // m2^1.5 spelled m2*sqrt(m2) in both engines
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |m AS (SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS sk
        |  FROM daily),
        |c AS (SELECT v::DOUBLE - sk::DOUBLE / n::DOUBLE AS c, n, sk
        |  FROM daily CROSS JOIN m),
        |mom AS (SELECT max(n) AS n, max(sk) AS sk, sum(c * c) AS s2,
        |    sum(c * c * c) AS s3, sum(c * c * c * c) AS s4 FROM c),
        |f AS (SELECT n, sk, s2 / n::DOUBLE AS m2, s3 / n::DOUBLE AS m3,
        |    s4 / n::DOUBLE AS m4 FROM mom),
        |g AS (SELECT n, sk,
        |    CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS sw,
        |    CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0::DOUBLE
        |      END AS kx
        |  FROM f)
        |SELECT n, round(sk::DOUBLE / n::DOUBLE, 6) AS mean,
        |  round(sw, 6) AS skew, round(kx, 6) AS kurt_x,
        |  round(n::DOUBLE / 6.0::DOUBLE *
        |    (sw * sw + kx * kx / 4.0::DOUBLE), 6) AS jb
        |FROM g""".stripMargin)),

    // Breusch-Pagan: does the x107 daily trend's residual variance
    // drift with t — are its OLS error bars trustworthy
    Entry("x290_breusch_pagan", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.breuschPagan(daily, F.col("t"), F.col("v"))
    },
      // the x288 fit sums verbatim; residuals round 9 dp before squaring;
      // aux sums over centered t (no raw-moment cancellation)
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |fit AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS sx,
        |    sum(v) AS sy, sum(t * t)::BIGINT AS sxx,
        |    sum(t::DOUBLE * v) AS sxy FROM daily),
        |j AS (SELECT t, v, n, sy,
        |    (n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |      (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b,
        |    sx::DOUBLE / n::DOUBLE AS xbar
        |  FROM daily CROSS JOIN fit),
        |r AS (SELECT n, b,
        |    round(v - ((sy / n::DOUBLE - b * xbar) + b * t::DOUBLE), 9)
        |      AS e, t::DOUBLE - xbar AS ct FROM j),
        |aux AS (SELECT max(n) AS n, max(b) AS b, sum(e * e) AS su,
        |    sum((e * e) * (e * e)) AS suu, sum(ct) AS sct,
        |    sum(ct * ct) AS sctt, sum(ct * (e * e)) AS sctu FROM r),
        |f AS (SELECT n, b, suu - su * su / n::DOUBLE AS cuu,
        |    sctt - sct * sct / n::DOUBLE AS cxx,
        |    sctu - sct * su / n::DOUBLE AS cxu FROM aux)
        |SELECT n, round(b, 6) + 0.0 AS slope,
        |  round(cxu * cxu / nullif(cxx * cuu, 0.0), 6) + 0.0 AS r2_aux,
        |  round(n::DOUBLE * (cxu * cxu / nullif(cxx * cuu, 0.0)), 6) + 0.0
        |    AS bp
        |FROM f""".stripMargin)),

    // two-sample Poisson rate: weekend vs weekday events per active
    // day — the conditional-binomial z on four exact longs
    Entry("x291_poisson_2rate", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val d = F.to_date(graft.ops.EventOps.tsStamp(ev))
      graft.ops.Stats.poissonTwoRate(ev,
        F.dayofweek(d).isin(1, 7), d)
    },
      // isodow 6,7 = Spark dayofweek 1,7 = Sat+Sun; four exact longs,
      // conditional-binomial scalar z
      Oracle("""WITH s AS (SELECT CASE WHEN isodow(ts::DATE) IN (6, 7)
        |    THEN 1 ELSE 0 END AS a, ts::DATE AS u FROM events),
        |one AS (SELECT sum(a)::BIGINT AS c1,
        |    (count(*) - sum(a))::BIGINT AS c2,
        |    count(DISTINCT CASE WHEN a = 1 THEN u END)::BIGINT AS t1,
        |    count(DISTINCT CASE WHEN a = 0 THEN u END)::BIGINT AS t2
        |  FROM s),
        |f AS (SELECT c1, c2, t1, t2,
        |    t1::DOUBLE / (t1 + t2)::DOUBLE AS p0,
        |    (c1 + c2)::DOUBLE AS nn,
        |    c1::DOUBLE / nullif(t1::DOUBLE, 0.0) AS r1,
        |    c2::DOUBLE / nullif(t2::DOUBLE, 0.0) AS r2 FROM one)
        |SELECT c1, c2, t1, t2, round(r1, 6) AS rate1,
        |  round(r2, 6) AS rate2,
        |  round(r1 / nullif(r2, 0.0), 6) AS rate_ratio,
        |  round((c1::DOUBLE - nn * p0) /
        |    nullif(sqrt(nn * p0 * (1.0::DOUBLE - p0)), 0.0), 6) AS z
        |FROM f""".stripMargin)),

    // overdispersion census: which event types are burstier than
    // Poisson across their active days (VMR per type)
    Entry("x292_overdispersion", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.overdispersion(ev, F.col("event_type"),
        F.to_date(graft.ops.EventOps.tsStamp(ev)))
    },
      // integer (key, day) rollup; exact-long sufficient statistics per
      // key; sample variance over observed units
      Oracle("""WITH cu AS (SELECT event_type AS grp, ts::DATE AS u,
        |    count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, count(*)::BIGINT AS n_units,
        |    sum(c)::BIGINT AS sc, sum(c * c)::BIGINT AS sc2
        |  FROM cu GROUP BY 1),
        |f AS (SELECT grp, n_units,
        |    sc::DOUBLE / n_units::DOUBLE AS mean,
        |    CASE WHEN n_units >= 2 THEN
        |      (sc2::DOUBLE - sc::DOUBLE * sc / n_units::DOUBLE) /
        |        (n_units::DOUBLE - 1.0::DOUBLE) END AS vc
        |  FROM g)
        |SELECT grp, n_units, round(mean, 6) AS mean,
        |  round(vc, 6) AS var_c,
        |  round(vc / nullif(mean, 0.0), 6) AS vmr,
        |  round((n_units::DOUBLE - 1.0::DOUBLE) * vc /
        |    nullif(mean, 0.0), 6) AS chi2
        |FROM f ORDER BY grp""".stripMargin)),

    // Hosmer-Lemeshow: is the x177 miscalibration more than sampling
    // noise — chi2 over the same decile bins
    Entry("x287_hosmer_lemeshow", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.hosmerLemeshow(scored, F.col("quality_score"),
        F.col("lang") === "en", nBins = 10)
    },
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |b AS (SELECT least(floor(s * 10), 9)::BIGINT AS bb,
           |    count(*)::BIGINT AS nb,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS o,
           |    sum(s) AS e
           |  FROM sc GROUP BY 1),
           |tm AS (SELECT nb, CASE WHEN e > 0.0 AND e < nb::DOUBLE THEN
           |    round((o - e) * (o - e) * nb::DOUBLE /
           |      (e * (nb::DOUBLE - e)), 9) END AS t FROM b)
           |SELECT count(t)::BIGINT AS g_used, sum(nb)::BIGINT AS n,
           |  round(sum(t), 6) AS hl, (count(t) - 2)::BIGINT AS df
           |FROM tm""".stripMargin
      }),

    // OLS influence census on the daily trend: which days drive the
    // fitted line — leverage, residual, Cook's D, the 4/n screen
    Entry("x288_ols_influence", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.olsInfluence(daily, F.col("t"), F.col("v"))
    },
      // the daily series; centered sufficient statistics broadcast back
      // per point, classical 4/n influence screen
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |a AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS sx,
        |    sum(v) AS sy, sum(t * t)::BIGINT AS sxx,
        |    sum(t::DOUBLE * v) AS sxy, sum(v * v) AS syy FROM daily),
        |c AS (SELECT d.t, d.v, n,
        |    sx::DOUBLE / n::DOUBLE AS xbar, sy / n::DOUBLE AS ybar,
        |    sxx::DOUBLE - sx::DOUBLE * (sx::DOUBLE / n::DOUBLE) AS cxx,
        |    sxy - sx::DOUBLE * (sy / n::DOUBLE) AS cxy,
        |    syy - sy * (sy / n::DOUBLE) AS cyy
        |  FROM daily d CROSS JOIN a),
        |f AS (SELECT t, v, n,
        |    ybar + (cxy / nullif(cxx, 0.0)) * (t::DOUBLE - xbar)
        |      AS fitted,
        |    1.0::DOUBLE / n::DOUBLE + (t::DOUBLE - xbar) *
        |      (t::DOUBLE - xbar) / nullif(cxx, 0.0) AS h,
        |    (cyy - cxy * cxy / nullif(cxx, 0.0)) /
        |      nullif(n::DOUBLE - 2.0::DOUBLE, 0.0) AS s2
        |  FROM c),
        |o AS (SELECT t, v, fitted, (v - fitted) AS resid, h, n,
        |    (v - fitted) * (v - fitted) / (2.0::DOUBLE * nullif(s2, 0.0))
        |      * h / ((1.0::DOUBLE - h) * (1.0::DOUBLE - h)) AS d
        |  FROM f)
        |SELECT t, v AS y, round(fitted, 6) AS fitted,
        |  round(resid, 6) AS resid, round(h, 6) AS leverage,
        |  round(d, 6) AS cooks_d, (d > 4.0::DOUBLE / n::DOUBLE)
        |    AS influential
        |FROM o ORDER BY t""".stripMargin)),

    // 1-bit sign quantization + Hamming candidate scan with exact-
    // cosine rerank: the 32x memory point of the compression ladder
    Entry("x286_binary_hamming", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
      Similarity.binaryHammingSearch(emb,
          emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
          k = 5, cand = 50)
        .orderBy("query_id", "rk")
    },
      // two packed sign halves (2^i sums exact in doubles, BIGINT-safe),
      // xor+bit_count Hamming, the x06 dot/norm primitives for the rerank
      Oracle("""WITH code AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding[1:32], (x, i) ->
        |      CASE WHEN x > 0 THEN power(2.0, (i - 1)::DOUBLE)
        |        ELSE 0.0 END))::BIGINT AS lo,
        |    list_sum(list_transform(embedding[33:64], (x, i) ->
        |      CASE WHEN x > 0 THEN power(2.0, (i - 1)::DOUBLE)
        |        ELSE 0.0 END))::BIGINT AS hi,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, lo AS qlo,
        |    hi AS qhi, nrm AS qn FROM code WHERE vec_id < 5),
        |ham AS (SELECT q.query_id, c.vec_id, c.embedding, q.qv, c.nrm,
        |    q.qn, (bit_count(xor(c.lo, q.qlo)) +
        |      bit_count(xor(c.hi, q.qhi)))::BIGINT AS hamming
        |  FROM code c JOIN q ON c.vec_id <> q.query_id),
        |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, vec_id) AS hrk FROM ham),
        |sc AS (SELECT query_id, vec_id, hamming,
        |    round(CASE WHEN nrm * qn > 0.0 THEN
        |      list_sum(list_transform(range(1, len(embedding) + 1),
        |        i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) / (nrm * qn)
        |      END, 6) + 0.0 AS score
        |  FROM cand WHERE hrk <= 50)
        |SELECT query_id, vec_id AS neighbor_id, hamming, score, rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id) AS rk FROM sc)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // Mann-Kendall: is the daily event-count series monotonically
    // trending — the significance sibling of x188's Theil-Sen slope
    Entry("x284_mann_kendall", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.mannKendall(daily, F.col("t"), F.col("v"))
    },
      // exact-long S and tie-corrected variance on the bounded daily
      // pair grid; continuity-corrected z
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |sg AS (SELECT sum(CASE WHEN b.v > a.v THEN 1
        |    WHEN b.v < a.v THEN -1 ELSE 0 END)::BIGINT AS s
        |  FROM daily a JOIN daily b ON b.t > a.t),
        |tie AS (SELECT sum(tc * (tc - 1) * (tc * 2 + 5))::BIGINT AS tt
        |  FROM (SELECT count(*)::BIGINT AS tc FROM daily GROUP BY v)),
        |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
        |f AS (SELECT n, s,
        |    ((n * (n - 1) * (n * 2 + 5)) - tt)::DOUBLE /
        |      18.0::DOUBLE AS vs
        |  FROM nn CROSS JOIN sg CROSS JOIN tie)
        |SELECT n, s, round(vs, 6) AS var_s,
        |  round(CASE
        |    WHEN s > 0 THEN (s - 1)::DOUBLE / nullif(sqrt(vs), 0.0)
        |    WHEN s < 0 THEN (s + 1)::DOUBLE / nullif(sqrt(vs), 0.0)
        |    ELSE 0.0::DOUBLE END, 6) AS z
        |FROM f""".stripMargin)),

    // Chow test: did the daily-count trend line break at the fixed
    // mid-window day 19738
    Entry("x285_chow", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.chowTest(daily, F.col("t"), F.col("v"),
        breakAt = 19738L)
    },
      // per-segment centered SSR from one grouped pass; pooled sums are
      // the segment sums added; F(2, n-4)
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01')::BIGINT
        |    AS t, count(*)::DOUBLE AS v FROM events GROUP BY 1),
        |g AS (SELECT (t < 19738) AS pre, count(*)::BIGINT AS n,
        |    sum(t)::BIGINT AS sx, sum(v) AS sy,
        |    sum(t * t)::BIGINT AS sxx, sum(t::DOUBLE * v) AS sxy,
        |    sum(v * v) AS syy
        |  FROM daily GROUP BY 1),
        |seg AS (SELECT pre, n, sx, sy, sxx, sxy, syy,
        |    CASE WHEN n >= 3 AND
        |        (sxx::DOUBLE - sx::DOUBLE * (sx::DOUBLE / n::DOUBLE))
        |          > 0.0
        |      THEN (syy - sy * (sy / n::DOUBLE)) -
        |        (sxy - sx::DOUBLE * (sy / n::DOUBLE)) *
        |        (sxy - sx::DOUBLE * (sy / n::DOUBLE)) /
        |        (sxx::DOUBLE - sx::DOUBLE * (sx::DOUBLE / n::DOUBLE))
        |    END AS ssr FROM g),
        |one AS (SELECT sum(CASE WHEN pre THEN n END)::BIGINT AS n1,
        |    sum(CASE WHEN NOT pre THEN n END)::BIGINT AS n2,
        |    sum(n)::BIGINT AS n, sum(sx)::BIGINT AS tsx, sum(sy) AS tsy,
        |    sum(sxx)::BIGINT AS tsxx, sum(sxy) AS tsxy,
        |    sum(syy) AS tsyy, sum(round(ssr, 9)) AS ssrs,
        |    count(ssr)::BIGINT AS okseg
        |  FROM seg),
        |ff AS (SELECT n, n1, n2, ssrs, okseg,
        |    CASE WHEN n >= 3 AND
        |        (tsxx::DOUBLE - tsx::DOUBLE * (tsx::DOUBLE / n::DOUBLE))
        |          > 0.0
        |      THEN (tsyy - tsy * (tsy / n::DOUBLE)) -
        |        (tsxy - tsx::DOUBLE * (tsy / n::DOUBLE)) *
        |        (tsxy - tsx::DOUBLE * (tsy / n::DOUBLE)) /
        |        (tsxx::DOUBLE - tsx::DOUBLE * (tsx::DOUBLE / n::DOUBLE))
        |    END AS sp
        |  FROM one)
        |SELECT n, coalesce(n1, 0)::BIGINT AS n1,
        |  coalesce(n2, 0)::BIGINT AS n2,
        |  round(sp, 6) AS ssr_pooled, round(ssrs, 6) AS ssr_split,
        |  CASE WHEN okseg = 2 AND n >= 5 THEN
        |    round(((sp - ssrs) / 2.0::DOUBLE) /
        |      nullif(ssrs / (n - 4)::DOUBLE, 0.0), 6) END AS f
        |FROM ff""".stripMargin)),

    // per-class P/R/F1 census of the x09 language-ID against the
    // labeled lang — the classifier report for the heuristic
    Entry("x283_prf_census", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      graft.ops.Stats.prfCensus(d, F.col("lang"),
        TextOps.langId(F.col("text")))
    },
      // the x09 predictor CTE verbatim; integer confusion cells, the
      // 2tp/(2tp+fp+fn) stable F1, zero_division=0 macro
      Oracle("""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in'))) AS en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y','es','un','que'))) AS es
        |  FROM scored),
        |pair AS (SELECT lang AS a,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS pd
        |  FROM hits),
        |cells AS (SELECT a, pd, count(*)::BIGINT AS c FROM pair
        |  GROUP BY 1, 2),
        |act AS (SELECT a AS cls, sum(c)::BIGINT AS na FROM cells
        |  GROUP BY 1),
        |prd AS (SELECT pd AS cls, sum(c)::BIGINT AS np FROM cells
        |  GROUP BY 1),
        |tpx AS (SELECT a AS cls, c::BIGINT AS tp FROM cells WHERE a = pd),
        |classes AS (SELECT DISTINCT cls FROM
        |  (SELECT cls FROM act UNION ALL SELECT cls FROM prd)),
        |per AS (SELECT classes.cls, coalesce(na, 0)::BIGINT AS na,
        |    coalesce(np, 0)::BIGINT AS np,
        |    coalesce(tpx.tp, 0)::BIGINT AS tp
        |  FROM classes LEFT JOIN act USING (cls)
        |  LEFT JOIN prd USING (cls) LEFT JOIN tpx USING (cls)),
        |pf AS (SELECT cls, na, np, tp, (np - tp)::BIGINT AS fp,
        |    (na - tp)::BIGINT AS fn,
        |    2.0::DOUBLE * tp /
        |      nullif((tp * 2 + (np - tp) + (na - tp)), 0)::DOUBLE AS f1r
        |  FROM per),
        |sm AS (SELECT round(avg(coalesce(f1r, 0.0::DOUBLE)), 6)
        |      AS macro_f1,
        |    round(sum(tp)::DOUBLE / sum(na)::DOUBLE, 6) AS accuracy
        |  FROM pf)
        |SELECT cls, na AS n_actual, tp, fp, fn,
        |  round(tp::DOUBLE / nullif(np, 0)::DOUBLE, 6) AS precision,
        |  round(tp::DOUBLE / nullif(na, 0)::DOUBLE, 6) AS recall,
        |  round(f1r, 6) AS f1, macro_f1, accuracy
        |FROM pf CROSS JOIN sm ORDER BY cls""".stripMargin)),

    // DeLong CI on the x178 AUC: is "en-detection via quality score"
    // better than chance WITH error bars, not just a point estimate
    Entry("x282_delong_auc", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.delongAucCi(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x178 scored CTE; doubled structural components over the
      // distinct-score ladder, exact-long sums, scalar variances
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |v AS (SELECT round(s * 1000000)::BIGINT AS k,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM sc),
           |byv AS (SELECT k, sum(y)::BIGINT AS p,
           |    (count(*) - sum(y))::BIGINT AS g FROM v GROUP BY k),
           |cum AS (SELECT p, g,
           |    (sum(g) OVER (ORDER BY k))::BIGINT AS cn,
           |    (sum(p) OVER (ORDER BY k))::BIGINT AS cp
           |  FROM byv),
           |tot AS (SELECT sum(p)::BIGINT AS m, sum(g)::BIGINT AS nn
           |  FROM byv),
           |tm AS (SELECT p, g, (cn * 2 - g)::BIGINT AS a,
           |    ((m - cp) * 2 + p)::BIGINT AS b, m, nn
           |  FROM cum CROSS JOIN tot),
           |st AS (SELECT max(m)::BIGINT AS m, max(nn)::BIGINT AS nn,
           |    sum(p * a)::BIGINT AS s1, sum(p * a * a)::BIGINT AS q1,
           |    sum(g * b)::BIGINT AS s2, sum(g * b * b)::BIGINT AS q2
           |  FROM tm),
           |f AS (SELECT m, nn,
           |    s1::DOUBLE / (2 * nn * m)::DOUBLE AS auc,
           |    ((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE / m::DOUBLE) /
           |      (4 * nn * nn * (m - 1))::DOUBLE) / m::DOUBLE +
           |    ((q2::DOUBLE - s2::DOUBLE * s2::DOUBLE / nn::DOUBLE) /
           |      (4 * m * m * (nn - 1))::DOUBLE) / nn::DOUBLE AS va
           |  FROM st)
           |SELECT m AS n_pos, nn AS n_neg, round(auc, 6) AS auc,
           |  CASE WHEN m >= 2 AND nn >= 2 THEN round(sqrt(va), 6) END
           |    AS se,
           |  CASE WHEN m >= 2 AND nn >= 2
           |    THEN round(auc - 1.959964::DOUBLE * sqrt(va), 6) END AS lo,
           |  CASE WHEN m >= 2 AND nn >= 2
           |    THEN round(auc + 1.959964::DOUBLE * sqrt(va), 6) END AS hi
           |FROM f""".stripMargin
      }),

    // Moran's I: do co-purchased suppliers carry similar balances —
    // network autocorrelation of a node attribute
    Entry("x281_morans_i", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.moransI(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst",
        Registrar.table(s, dir, "supplier"),
        "s_suppkey", F.col("s_acctbal"))
    },
      // the x104 edge census + supplier balances; centered cross-product
      // expanded to exact longs (P, S_e, T, Sx2)
      Oracle("""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |e AS (SELECT a.s AS a, b.s AS b FROM os a JOIN os b
        |  ON a.o = b.o AND a.s < b.s GROUP BY 1, 2 HAVING count(*) >= 6),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e)),
        |nd AS (SELECT s_suppkey AS n, round(s_acctbal * 100)::BIGINT AS x
        |  FROM supplier WHERE s_suppkey IN (SELECT n FROM nodes)),
        |one AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t,
        |    sum(x * x)::BIGINT AS s2 FROM nd),
        |pe AS (SELECT count(*)::BIGINT AS m,
        |    sum(xa.x * xb.x)::BIGINT AS p,
        |    sum(xa.x + xb.x)::BIGINT AS se
        |  FROM e JOIN nd xa ON xa.n = e.a JOIN nd xb ON xb.n = e.b)
        |SELECT n, m,
        |  round(n::DOUBLE *
        |    (p::DOUBLE - (t::DOUBLE / n::DOUBLE) * se::DOUBLE +
        |     m::DOUBLE * (t::DOUBLE / n::DOUBLE) *
        |       (t::DOUBLE / n::DOUBLE)) /
        |    nullif(m::DOUBLE *
        |      (s2::DOUBLE - t::DOUBLE * (t::DOUBLE / n::DOUBLE)),
        |      0.0), 6) AS i,
        |  round(-1.0::DOUBLE / nullif(n::DOUBLE - 1.0::DOUBLE, 0.0), 6)
        |    AS e_i
        |FROM one CROSS JOIN pe""".stripMargin)),

    // exponential goodness-of-fit of pooled inter-event gaps — is the
    // traffic memoryless; exact two-sided KS steps at the MLE lambda
    Entry("x266_exp_fit", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val seq2 = ev.select(F.col("user_id"),
        F.unix_timestamp(t).as("u"), F.col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(F.col("u"), F.col("event_id"))
      val gaps = seq2
        .withColumn("gap", F.col("u") - F.lag("u", 1).over(w))
        .filter(F.col("gap").isNotNull && F.col("gap") > 0L)
      graft.ops.Stats.expFitKs(gaps, F.col("gap"))
    },
      // distinct-gap collapse, integer prefix counts (exact under any
      // window tree), two-sided KS steps at the MLE lambda
      Oracle("""WITH u AS (SELECT user_id, floor(epoch(ts))::BIGINT AS u,
        |    event_id FROM events),
        |g AS (SELECT (u - lag(u) OVER (PARTITION BY user_id
        |    ORDER BY u, event_id))::DOUBLE AS v FROM u),
        |vv AS (SELECT v FROM g WHERE v IS NOT NULL AND v > 0),
        |byv AS (SELECT v, count(*)::BIGINT AS t FROM vv GROUP BY v),
        |tot AS (SELECT sum(t)::BIGINT AS n, sum(v * t) AS sx FROM byv),
        |c AS (SELECT v, t, sum(t) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM byv),
        |d AS (SELECT round(greatest(
        |    abs(cum::DOUBLE / n::DOUBLE - (1.0::DOUBLE -
        |      exp(0.0::DOUBLE - (n::DOUBLE / sx) * v))),
        |    abs((cum - t)::DOUBLE / n::DOUBLE - (1.0::DOUBLE -
        |      exp(0.0::DOUBLE - (n::DOUBLE / sx) * v)))), 9) AS dd
        |  FROM c CROSS JOIN tot)
        |SELECT (SELECT n FROM tot) AS n,
        |  round((SELECT n::DOUBLE / sx FROM tot), 6) AS lambda,
        |  round(max(dd), 6) AS d
        |FROM d""".stripMargin)),

    // Hill tail index of order value over the top-100 order statistics —
    // how heavy is the purchase-size tail
    Entry("x267_hill", (s, dir) =>
      graft.ops.Stats.hillTailIndex(
        Registrar.table(s, dir, "orders"),
        F.col("o_totalprice"), k = 100),
      // TakeOrdered top-101 slice, 9-dp per-term logs, k-mean
      Oracle("""WITH top AS (SELECT o_totalprice::DOUBLE AS v FROM orders
        |  WHERE o_totalprice > 0 ORDER BY v DESC LIMIT 101),
        |r AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS rk
        |  FROM top),
        |xk AS (SELECT v AS xk1 FROM r WHERE rk = 101),
        |t AS (SELECT round(ln(r.v / xk1), 9) AS t, xk1
        |  FROM r CROSS JOIN xk WHERE rk <= 100),
        |a AS (SELECT max(xk1) AS x_kplus1,
        |    sum(t) / 100.0::DOUBLE AS inv FROM t)
        |SELECT 100::BIGINT AS k, round(x_kplus1, 6) AS x_kplus1,
        |  round(inv, 6) AS inv_alpha,
        |  round(1.0::DOUBLE / nullif(inv, 0.0), 6) AS alpha
        |FROM a""".stripMargin)),

    // Stuart-Maxwell: did the 3-bucket event-type MIX drift between
    // consecutive events — marginal homogeneity, closed 2x2-inverse form
    Entry("x263_stuart_maxwell", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
      val seq2 = ev.select(F.col("event_type"),
        F.lag("event_type", 1).over(w).as("prev"))
        .filter(F.col("prev").isNotNull)
      def bucket(c: org.apache.spark.sql.Column) =
        F.when(c.isin("click", "view"), c).otherwise(F.lit("other"))
      graft.ops.Stats.stuartMaxwell3(seq2,
        bucket(F.col("prev")), bucket(F.col("event_type")),
        Seq("click", "view", "other"))
    },
      // 3-bucket transition margins in exact integers, closed 2x2 inverse
      Oracle("""WITH tr AS (SELECT
        |    CASE WHEN event_type IN ('click', 'view') THEN event_type
        |      ELSE 'other' END AS j,
        |    CASE WHEN prev IN ('click', 'view') THEN prev
        |      ELSE 'other' END AS i
        |  FROM (SELECT event_type, lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM events)
        |  WHERE prev IS NOT NULL),
        |cells AS (SELECT i, j, count(*)::BIGINT AS c FROM tr
        |  GROUP BY i, j),
        |a AS (SELECT sum(c)::BIGINT AS n,
        |    (sum(CASE WHEN i='click' THEN c ELSE 0 END) -
        |     sum(CASE WHEN j='click' THEN c ELSE 0 END))::BIGINT AS d1,
        |    (sum(CASE WHEN i='view' THEN c ELSE 0 END) -
        |     sum(CASE WHEN j='view' THEN c ELSE 0 END))::BIGINT AS d2,
        |    (sum(CASE WHEN i='click' THEN c ELSE 0 END) +
        |     sum(CASE WHEN j='click' THEN c ELSE 0 END) -
        |     2 * sum(CASE WHEN i='click' AND j='click' THEN c ELSE 0 END)
        |     )::BIGINT AS s11,
        |    (sum(CASE WHEN i='view' THEN c ELSE 0 END) +
        |     sum(CASE WHEN j='view' THEN c ELSE 0 END) -
        |     2 * sum(CASE WHEN i='view' AND j='view' THEN c ELSE 0 END)
        |     )::BIGINT AS s22,
        |    (0 - (sum(CASE WHEN i='click' AND j='view' THEN c ELSE 0 END)
        |        + sum(CASE WHEN i='view' AND j='click' THEN c ELSE 0 END))
        |     )::BIGINT AS s12
        |  FROM cells)
        |SELECT n, d1, d2,
        |  round((d1*d1*s22 + d2*d2*s11 - 2*d1*d2*s12)::DOUBLE /
        |    nullif((s11*s22 - s12*s12)::DOUBLE, 0.0), 6) AS chi2,
        |  2::BIGINT AS df
        |FROM a""".stripMargin)),

    // exact sign test: are spaces more numerous than e's on the same
    // docs — BigInt binomial tails, no approximation
    Entry("x264_sign_test", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      def minus(ch: String) =
        len - F.length(F.regexp_replace(F.col("text"), ch, ""))
      graft.ops.Stats.signTest(d, minus(" "), minus("e"))
    },
      // lgamma binomial(m, 1/2) terms over the bounded support, k-range
      // tails, doubling convention
      Oracle("""WITH t AS (SELECT
        |    (length(text) - length(replace(text, ' ', ''))) AS x,
        |    (length(text) - length(replace(text, 'e', ''))) AS y
        |  FROM documents),
        |ct AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN x > y THEN 1 ELSE 0 END)::BIGINT AS s,
        |    sum(CASE WHEN x < y THEN 1 ELSE 0 END)::BIGINT AS f FROM t),
        |mm AS (SELECT n, s, (s + f)::BIGINT AS m FROM ct),
        |ks AS (SELECT mm.n, mm.s, mm.m, gs.k FROM mm,
        |  (SELECT unnest(range(0, 20001)) AS k) gs WHERE gs.k <= mm.m),
        |p AS (SELECT n, s, m, k,
        |    exp(lgamma((m+1)::DOUBLE) - lgamma((k+1)::DOUBLE)
        |      - lgamma((m-k+1)::DOUBLE)
        |      + m::DOUBLE * ln(0.5::DOUBLE)) AS pk
        |  FROM ks),
        |tl AS (SELECT n, m, s,
        |    sum(CASE WHEN k <= s THEN pk ELSE 0.0::DOUBLE END) AS pl,
        |    sum(CASE WHEN k >= s THEN pk ELSE 0.0::DOUBLE END) AS pu
        |  FROM p GROUP BY n, m, s)
        |SELECT n, m, s, round(pl, 6) AS p_lower, round(pu, 6) AS p_upper,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE * least(pl, pu)), 6)
        |    AS p_two
        |FROM tl""".stripMargin)),

    // exact McNemar on the x233 detector pair — valid at small
    // discordant counts where the chi2 form misleads
    Entry("x265_mcnemar_exact", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val truth = F.col("lang") === "en"
      graft.ops.Stats.mcnemarExact(d,
        F.col("text").contains(" the ") === truth,
        (F.col("n_chars") >= 900) === truth)
    },
      // the x233 detector pair, exact binomial discordant tails
      Oracle("""WITH t AS (SELECT
        |    (contains(text, ' the ')) = (lang = 'en') AS ar,
        |    (n_chars >= 900) = (lang = 'en') AS br FROM documents),
        |ct AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN ar AND NOT br THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN (NOT ar) AND br THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM t),
        |mm AS (SELECT n, b, c, (b + c)::BIGINT AS m FROM ct),
        |ks AS (SELECT mm.n, mm.b, mm.c, mm.m, gs.k FROM mm,
        |  (SELECT unnest(range(0, 20001)) AS k) gs WHERE gs.k <= mm.m),
        |p AS (SELECT n, b, c, m, k,
        |    exp(lgamma((m+1)::DOUBLE) - lgamma((k+1)::DOUBLE)
        |      - lgamma((m-k+1)::DOUBLE)
        |      + m::DOUBLE * ln(0.5::DOUBLE)) AS pk
        |  FROM ks),
        |tl AS (SELECT n, b, c,
        |    sum(CASE WHEN k <= b THEN pk ELSE 0.0::DOUBLE END) AS pl,
        |    sum(CASE WHEN k >= b THEN pk ELSE 0.0::DOUBLE END) AS pu
        |  FROM p GROUP BY n, b, c)
        |SELECT n, b, c, round(pl, 6) AS p_lower, round(pu, 6) AS p_upper,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE * least(pl, pu)), 6)
        |    AS p_two
        |FROM tl""".stripMargin)),

    // t-closeness: does any (nation, segment) class's balance-band
    // distribution leak vs the corpus — TV distance per class
    Entry("x262_tcloseness", (s, dir) =>
      graft.ops.Curation.tClosenessAudit(
        Registrar.table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000), tMax = 0.3),
      // dense class×band grid from the cell collapse's own margins,
      // 9-dp |p_g − p| terms, rounded-TVD breach flag
      Oracle("""WITH c AS (SELECT c_nationkey AS n1, c_mktsegment AS n2,
        |    floor(c_acctbal / 1000)::BIGINT AS v FROM customer),
        |cells AS (SELECT n1, n2, v, count(*)::BIGINT AS c
        |  FROM c GROUP BY 1, 2, 3),
        |g AS (SELECT n1, n2, sum(c)::BIGINT AS ng FROM cells
        |  GROUP BY 1, 2),
        |vv AS (SELECT v, sum(c)::BIGINT AS nv FROM cells GROUP BY v),
        |nt AS (SELECT sum(c)::BIGINT AS nn FROM cells),
        |dense AS (SELECT g.n1, g.n2, g.ng, vv.v, vv.nv,
        |    coalesce(cells.c, 0)::BIGINT AS c
        |  FROM g CROSS JOIN vv
        |  LEFT JOIN cells ON cells.n1 = g.n1 AND cells.n2 = g.n2
        |    AND cells.v = vv.v),
        |t AS (SELECT n1, n2, ng, round(abs(c::DOUBLE / ng -
        |    nv::DOUBLE / (SELECT nn FROM nt)), 9) AS term FROM dense),
        |pg AS (SELECT n1 AS c_nationkey, n2 AS c_mktsegment,
        |    max(ng)::BIGINT AS n,
        |    round(0.5::DOUBLE * sum(term), 6) AS tvd
        |  FROM t GROUP BY 1, 2),
        |mx AS (SELECT max(tvd) AS max_tvd FROM pg)
        |SELECT c_nationkey, c_mktsegment, n, tvd,
        |  tvd > 0.3::DOUBLE AS breach, max_tvd
        |FROM pg CROSS JOIN mx
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // Benjamini-Yekutieli over the x176 chi2 token table — FDR under
    // arbitrary dependence via the harmonic penalty
    Entry("x258_by_fdr", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val grp = F.when(F.col("lang") === "en", "en")
        .when(F.col("lang") === "zh", "zh").otherwise("other")
      graft.ops.Stats.byFdr(
        TextOps.chi2TokensDf2(docs, "doc_id", "text", grp, minDf = 20),
        Seq("token"), F.col("chi2"), alpha = 0.05)
    },
      // the x176 chi2 CTE + BY: harmonic c(m) at 9 dp, least(1, m·c/i·p)
      // steps, suffix-min window
      Oracle("""WITH doc AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |      ELSE 'other' END AS g, text FROM documents),
        |tok AS (SELECT DISTINCT doc_id, g, t FROM (SELECT doc_id, g,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |  FROM doc)),
        |tg AS (SELECT t, g, count(*) AS a FROM tok GROUP BY 1, 2),
        |gt AS (SELECT g, count(*) AS ng FROM doc GROUP BY g),
        |tdf AS (SELECT t, sum(a) AS dfd FROM tg GROUP BY t
        |  HAVING sum(a) >= 20),
        |n AS (SELECT count(*) AS nn FROM doc),
        |cells AS (SELECT tdf.t, tdf.dfd, gt.g, gt.ng,
        |    coalesce(tg.a, 0) AS a
        |  FROM tdf CROSS JOIN gt
        |  LEFT JOIN tg ON tg.t = tdf.t AND tg.g = gt.g),
        |cc AS (SELECT t, dfd, round(
        |    coalesce((a - ep)*(a - ep)/nullif(ep, 0.0), 0.0) +
        |    coalesce(((ng - a) - ea)*((ng - a) - ea)/nullif(ea, 0.0), 0.0),
        |    9) AS cell
        |  FROM (SELECT t, dfd, ng, a::DOUBLE AS a,
        |      dfd::DOUBLE * ng / nn AS ep,
        |      (nn - dfd)::DOUBLE * ng / nn AS ea
        |    FROM cells CROSS JOIN n)),
        |chi AS (SELECT t AS token, round(sum(cell), 6) AS chi2
        |  FROM cc GROUP BY t),
        |keyed AS (SELECT token, chi2, round(exp(-chi2 / 2.0), 9) AS p
        |  FROM chi),
        |m AS (SELECT count(*) AS m FROM keyed),
        |rk AS (SELECT token, chi2, p,
        |    row_number() OVER (ORDER BY p, token) AS i FROM keyed),
        |cm AS (SELECT round(sum(1.0::DOUBLE / i::DOUBLE), 9) AS c
        |  FROM rk),
        |q AS (SELECT token, chi2, p, i,
        |    round(least(1.0::DOUBLE,
        |      m::DOUBLE * c / i::DOUBLE * p), 9) AS q
        |  FROM rk CROSS JOIN m CROSS JOIN cm),
        |adj AS (SELECT token, chi2, p, i,
        |    min(q) OVER (ORDER BY p DESC, token DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_adj
        |  FROM q)
        |SELECT token, chi2, p, i, p_adj,
        |  p_adj <= 0.05::DOUBLE AS rejected
        |FROM adj ORDER BY i""".stripMargin)),

    // gamma / Somers' D between priority digit and price band — exact
    // concordant/discordant counts from the bounded grid
    Entry("x259_ordinal_assoc", (s, dir) =>
      graft.ops.Stats.ordinalAssociation(
        Registrar.table(s, dir, "orders"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long"),
        F.least(F.lit(5L),
          F.floor(F.col("o_totalprice") / 100000.0).cast("long") + 1L)),
      // bounded-grid concordant/discordant exact counts, tie margins
      Oracle("""WITH r AS (SELECT
        |    substring(o_orderpriority, 1, 1)::BIGINT AS i,
        |    least(5, floor(o_totalprice / 100000.0::DOUBLE)::BIGINT + 1)
        |      AS j
        |  FROM orders),
        |cells AS (SELECT i, j, count(*)::BIGINT AS o FROM r GROUP BY 1, 2),
        |cd AS (SELECT
        |    sum(CASE WHEN b.j > a.j THEN a.o * b.o ELSE 0 END)::BIGINT
        |      AS c_pairs,
        |    sum(CASE WHEN b.j < a.j THEN a.o * b.o ELSE 0 END)::BIGINT
        |      AS d_pairs
        |  FROM cells a JOIN cells b ON b.i > a.i),
        |mg AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |tx AS (SELECT sum(r * (r - 1))::BIGINT AS tx2 FROM
        |  (SELECT sum(o)::BIGINT AS r FROM cells GROUP BY i)),
        |ty AS (SELECT sum(c * (c - 1))::BIGINT AS ty2 FROM
        |  (SELECT sum(o)::BIGINT AS c FROM cells GROUP BY j))
        |SELECT n, c_pairs, d_pairs,
        |  round((c_pairs - d_pairs)::DOUBLE /
        |    nullif((c_pairs + d_pairs)::DOUBLE, 0.0), 6) AS gamma,
        |  round((c_pairs - d_pairs)::DOUBLE /
        |    nullif(n::DOUBLE * (n::DOUBLE - 1.0) / 2.0 -
        |      tx2::DOUBLE / 2.0, 0.0), 6) AS somers_d_yx,
        |  round((c_pairs - d_pairs)::DOUBLE /
        |    nullif(n::DOUBLE * (n::DOUBLE - 1.0) / 2.0 -
        |      ty2::DOUBLE / 2.0, 0.0), 6) AS somers_d_xy
        |FROM cd CROSS JOIN mg CROSS JOIN tx CROSS JOIN ty""".stripMargin)),

    // Cochran-Armitage: does the F-status rate trend across the ordered
    // priority scores — exact integer moments
    Entry("x260_cochran_armitage", (s, dir) =>
      graft.ops.Stats.cochranArmitage(
        Registrar.table(s, dir, "orders"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long"),
        F.col("o_orderstatus") === "F"),
      // per-score exact counts, closed-form trend z
      Oracle("""WITH s AS (SELECT
        |    substring(o_orderpriority, 1, 1)::BIGINT AS sc,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |bys AS (SELECT sc, count(*)::BIGINT AS n, sum(y)::BIGINT AS a
        |  FROM s GROUP BY sc),
        |agg AS (SELECT count(*)::BIGINT AS groups, sum(n)::BIGINT AS n,
        |    sum(a)::BIGINT AS pos, sum(sc * a)::BIGINT AS t,
        |    sum(sc * n)::BIGINT AS sn,
        |    sum(sc * sc * n)::BIGINT AS s2n FROM bys)
        |SELECT groups, n, pos,
        |  round((t::DOUBLE - (pos::DOUBLE / n::DOUBLE) * sn::DOUBLE) /
        |    sqrt(nullif((pos::DOUBLE / n::DOUBLE) *
        |      (1.0::DOUBLE - pos::DOUBLE / n::DOUBLE) *
        |      (s2n::DOUBLE - sn::DOUBLE * sn / n::DOUBLE), 0.0)), 6) AS z
        |FROM agg""".stripMargin)),

    // Page's L: do the three length signals rise in the hypothesized
    // order (dots < e's < spaces) within each document
    Entry("x261_page_l", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
      val len = F.length(F.col("text"))
      def minus(ch: String) =
        len - F.length(F.regexp_replace(F.col("text"), ch, ""))
      graft.ops.Stats.pageL(d, Seq(
        ("dots", minus("\\.")), ("evs", minus("e")),
        ("spaces", minus(" "))))
    },
      // the x253 midrank CASEs in the hypothesized order, closed-form
      // L moments
      Oracle("""WITH it AS (SELECT
        |    (length(text) - length(replace(text, '.', '')))::BIGINT AS x1,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS x2,
        |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS x3
        |  FROM documents),
        |rk AS (SELECT
        |    1.0::DOUBLE + ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x1 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x1 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r1,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 < x2 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x3 = x2 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r2,
        |    1.0::DOUBLE + ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 < x3 THEN 1 ELSE 0 END))::DOUBLE +
        |      ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 = x3 THEN 1 ELSE 0 END))::DOUBLE / 2.0 AS r3
        |  FROM it),
        |s AS (SELECT count(*)::BIGINT AS n, sum(r1) AS g1, sum(r2) AS g2,
        |    sum(r3) AS g3 FROM rk)
        |SELECT n, 3::BIGINT AS k,
        |  round(1.0::DOUBLE * g1 + 2.0::DOUBLE * g2 + 3.0::DOUBLE * g3, 6)
        |    AS l,
        |  round((1.0::DOUBLE * g1 + 2.0::DOUBLE * g2 + 3.0::DOUBLE * g3 -
        |      n::DOUBLE * 3 * 4 * 4 / 4.0) /
        |    sqrt(nullif(n::DOUBLE * 3 * 3 * 4 * 4 * 2 / 144.0, 0.0)), 6)
        |    AS z
        |FROM s""".stripMargin)),

    // Lincoln-Petersen / Chapman estimate of the corpus's dup-pair
    // population from two independent fingerprint families (BoW md5 vs
    // normalized-prefix md5)
    Entry("x257_capture_recapture", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      def pairsOf(keyCol: org.apache.spark.sql.Column) = {
        val keyed = docs.select(F.col("doc_id").as("id"), keyCol.as("fp"))
        keyed.as("x").join(keyed.as("y"),
          F.col("x.fp") === F.col("y.fp") && F.col("x.id") < F.col("y.id"))
          .select(F.col("x.id").as("a"), F.col("y.id").as("b"))
      }
      val toks = F.array_sort(F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
        t => F.length(t) > 0)))
      val norm = F.regexp_replace(F.lower(F.trim(F.col("text"))),
        "\\s+", " ")
      graft.ops.Stats.captureRecapture(
        pairsOf(F.md5(F.concat_ws(" ", toks))),
        pairsOf(F.md5(F.substring(norm, 1, 200))))
    },
      // two md5 fingerprint families' pair sets, pair-keyed overlap,
      // LP + Chapman estimators
      Oracle("""WITH da AS (SELECT doc_id, md5(array_to_string(list_sort(
        |    list_distinct(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0))), ' ')) AS fp FROM documents),
        |pa AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM da x JOIN da y ON x.fp = y.fp AND x.doc_id < y.doc_id),
        |db AS (SELECT doc_id, md5(substring(regexp_replace(
        |    lower(trim(text)), '\s+', ' ', 'g'), 1, 200)) AS fp
        |  FROM documents),
        |pb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM db x JOIN db y ON x.fp = y.fp AND x.doc_id < y.doc_id),
        |c AS (SELECT
        |    (SELECT count(*) FROM pa)::BIGINT AS n_a,
        |    (SELECT count(*) FROM pb)::BIGINT AS n_b,
        |    (SELECT count(*) FROM pa
        |     WHERE EXISTS (SELECT 1 FROM pb
        |       WHERE pb.a = pa.a AND pb.b = pa.b))::BIGINT AS m)
        |SELECT n_a, n_b, m,
        |  round(n_a::DOUBLE * n_b::DOUBLE / nullif(m::DOUBLE, 0.0), 6)
        |    AS n_lp,
        |  round((n_a::DOUBLE + 1.0::DOUBLE) * (n_b::DOUBLE + 1.0::DOUBLE) /
        |    (m::DOUBLE + 1.0::DOUBLE) - 1.0::DOUBLE, 6) AS n_chapman
        |FROM c""".stripMargin)),

    // Bradley-Terry abilities over event-type transition "battles" (the
    // later event beats the one it displaced) — 3 MM rounds on the
    // type×type win matrix, 9-dp quantize-then-iterate
    Entry("x241_bradley_terry", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val t = graft.ops.EventOps.tsStamp(ev)
      val w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
      val seq2 = ev.select(F.col("user_id"), F.col("event_type"),
        F.lag("event_type", 1).over(w).as("prev"))
      graft.ops.Stats.bradleyTerry(
        seq2.filter(F.col("prev").isNotNull &&
          F.col("prev") =!= F.col("event_type")),
        F.col("event_type"), F.col("prev"))
    },
      // transition battles (later type beats displaced), symmetric n_ij,
      // three unrolled MM rounds with 9-dp normalization after each
      Oracle("""WITH b AS (SELECT event_type, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |w AS (SELECT event_type AS wi, prev AS lo, count(*)::BIGINT AS wn
        |  FROM b WHERE prev IS NOT NULL AND prev <> event_type
        |  GROUP BY 1, 2),
        |np AS (SELECT i, j, sum(wn)::BIGINT AS n FROM (
        |    SELECT wi AS i, lo AS j, wn FROM w
        |    UNION ALL SELECT lo AS i, wi AS j, wn FROM w)
        |  GROUP BY i, j),
        |wins AS (SELECT d.i, coalesce(ww.wins, 0)::BIGINT AS wins
        |  FROM (SELECT DISTINCT i FROM np) d
        |  LEFT JOIN (SELECT wi AS i, sum(wn)::BIGINT AS wins FROM w
        |    GROUP BY wi) ww USING (i)),
        |p0 AS (SELECT i, round(1.0::DOUBLE /
        |    (SELECT count(*) FROM wins)::DOUBLE, 9) AS p FROM wins),
        |r1 AS (SELECT w2.i, w2.wins::DOUBLE / d.d AS raw FROM wins w2
        |  JOIN (SELECT np.i, sum(np.n::DOUBLE / (pi.p + pj.p)) AS d
        |    FROM np JOIN p0 pi ON np.i = pi.i JOIN p0 pj ON np.j = pj.i
        |    GROUP BY np.i) d ON w2.i = d.i),
        |p1 AS (SELECT i, round(raw / (SELECT sum(raw) FROM r1), 9) AS p
        |  FROM r1),
        |r2 AS (SELECT w2.i, w2.wins::DOUBLE / d.d AS raw FROM wins w2
        |  JOIN (SELECT np.i, sum(np.n::DOUBLE / (pi.p + pj.p)) AS d
        |    FROM np JOIN p1 pi ON np.i = pi.i JOIN p1 pj ON np.j = pj.i
        |    GROUP BY np.i) d ON w2.i = d.i),
        |p2 AS (SELECT i, round(raw / (SELECT sum(raw) FROM r2), 9) AS p
        |  FROM r2),
        |r3 AS (SELECT w2.i, w2.wins::DOUBLE / d.d AS raw FROM wins w2
        |  JOIN (SELECT np.i, sum(np.n::DOUBLE / (pi.p + pj.p)) AS d
        |    FROM np JOIN p2 pi ON np.i = pi.i JOIN p2 pj ON np.j = pj.i
        |    GROUP BY np.i) d ON w2.i = d.i),
        |p3 AS (SELECT i, round(raw / (SELECT sum(raw) FROM r3), 9) AS p
        |  FROM r3)
        |SELECT wins.i AS item, wins.wins, round(p3.p, 6) AS p
        |FROM wins JOIN p3 ON wins.i = p3.i ORDER BY item""".stripMargin)),

    // always-valid mSPRT of the running click rate vs theta0=0.2 —
    // the peeking-proof experiment monitor, emitted every 500 events
    Entry("x227_msprt", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      graft.ops.Stats.msprt(ev,
        graft.ops.EventOps.tsStamp(ev), F.col("event_id"),
        F.when(F.col("event_type") === "click", 1.0).otherwise(0.0),
        theta0 = 0.2, sigma2 = 0.16, tau2 = 0.1)
    },
      // the same prefix windows: 9-dp running mean, 9-dp llr, running max,
      // exp(-max) p — every literal forced ::DOUBLE so no DECIMAL arithmetic
      Oracle("""WITH s AS (SELECT ts, event_id,
        |    CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS x
        |  FROM events),
        |c AS (SELECT
        |    count(*) OVER w AS n,
        |    round(sum(x) OVER w / (count(*) OVER w)::DOUBLE, 9) AS xbar
        |  FROM s WINDOW w AS (ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |l AS (SELECT n, xbar, round(
        |    0.5::DOUBLE * ln(0.16::DOUBLE /
        |      (0.16::DOUBLE + n::DOUBLE * 0.1::DOUBLE)) +
        |    n::DOUBLE * n::DOUBLE * 0.1::DOUBLE *
        |      (xbar - 0.2::DOUBLE) * (xbar - 0.2::DOUBLE) /
        |      (2.0::DOUBLE * 0.16::DOUBLE *
        |        (0.16::DOUBLE + n::DOUBLE * 0.1::DOUBLE)), 9) AS llr
        |  FROM c),
        |m AS (SELECT n, xbar, llr,
        |    max(llr) OVER (ORDER BY n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        |  FROM l)
        |SELECT n::BIGINT AS n, round(xbar, 6) AS xbar,
        |  round(llr, 6) AS llr, round(mx, 6) AS max_llr,
        |  round(least(1.0::DOUBLE, exp(-mx)), 6) AS p_value
        |FROM m WHERE n % 500 = 0 ORDER BY n""".stripMargin)),

    // Theil-Sen robust trend of daily event volume: median pairwise
    // slope over the 30-point rollup — outlier days cannot move it
    Entry("x188_theil_sen", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).cast("double").as("v"))
      graft.ops.Stats.theilSen(daily, "t", "v")
    },
      // pairwise slopes at 9 dp, exact order-statistic medians (mean of
      // the two integer-div middles), then the residual median intercept
      Oracle("""WITH daily AS (SELECT (ts::DATE - DATE '1970-01-01') AS t,
        |    count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1),
        |sl AS (SELECT round((b.v - a.v) / (b.t - a.t)::DOUBLE, 9) AS s
        |  FROM daily a JOIN daily b ON b.t > a.t),
        |sn AS (SELECT count(*) AS n FROM sl),
        |srk AS (SELECT s, row_number() OVER (ORDER BY s) AS rk
        |  FROM sl),
        |slope AS (SELECT round(avg(s), 9) AS slope
        |  FROM srk CROSS JOIN sn
        |  WHERE rk = (n + 1) // 2 OR rk = n // 2 + 1),
        |res AS (SELECT round(d.v - slope.slope * d.t, 9) AS r, slope.slope
        |  FROM daily d CROSS JOIN slope),
        |rn AS (SELECT count(*) AS n FROM res),
        |rrk AS (SELECT r, row_number() OVER (ORDER BY r) AS rk FROM res),
        |icept AS (SELECT round(avg(r), 9) AS intercept
        |  FROM rrk CROSS JOIN rn
        |  WHERE rk = (n + 1) // 2 OR rk = n // 2 + 1)
        |SELECT (SELECT count(*) FROM daily)::BIGINT AS n_points,
        |  (SELECT count(*) FROM sl)::BIGINT AS n_pairs,
        |  round(slope.slope, 6) + 0.0 AS slope,
        |  round(icept.intercept, 6) + 0.0 AS intercept
        |FROM slope CROSS JOIN icept""".stripMargin)),

    // exact ROC AUC of the same scorer/label via the midrank identity —
    // the threshold-free separation readout
    Entry("x178_auc", (s, dir) => {
      val scored = TextOps.classifierScore(
        Registrar.table(s, dir, "documents"), "text", ClassifierW,
        bias = -0.1)
      graft.ops.Stats.aucExact(scored, F.col("quality_score"),
        F.col("lang") === "en")
    },
      // the x49 scorer again, then the midrank AUC identity
      Oracle {
        val arr = ClassifierW.mkString("[", ", ", "]")
        s"""WITH w(arr) AS (SELECT ($arr)::DOUBLE[]),
           |t AS (
           |  SELECT doc_id, lang, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> length(x) > 0) AS toks
           |  FROM documents
           |),
           |sc AS (SELECT lang,
           |  round(1.0 / (1.0 + exp(-(-0.1 + CASE WHEN len(toks) > 0
           |    THEN list_sum(list_transform(toks,
           |      t -> arr[(('0x' || substring(md5(t), 1, 7))::BIGINT % 64)::INT + 1]))
           |      / len(toks)
           |    ELSE 0.0 END))), 6) AS s
           |FROM t, w),
           |v AS (SELECT s AS vv, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c1
           |  FROM sc),
           |byv AS (SELECT vv, sum(c1) AS n1g, count(*) AS t FROM v GROUP BY vv),
           |mid AS (SELECT n1g, t,
           |    (sum(t) OVER (ORDER BY vv
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)::DOUBLE
           |      + (t + 1)::DOUBLE / 2.0 AS midr
           |  FROM byv),
           |st AS (SELECT sum(n1g)::BIGINT AS n1, sum(t - n1g)::BIGINT AS n2,
           |    sum(n1g * midr) AS r1 FROM mid)
           |SELECT n1 AS n_pos, n2 AS n_neg,
           |  round((r1 - n1*(n1+1.0)/2.0) / nullif(n1::DOUBLE*n2, 0.0), 6)
           |    AS auc
           |FROM st""".stripMargin
      }),

    // KS-style length-distribution drift between source pairs: max CDF
    // gap over a fixed grid — integer counts per (source, grid point),
    // pair fan-out bounded by source count (the x110 argument), one
    // rounded division per cell
    Entry("x165_ks_drift", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val grid = (0 to 600 by 50).map(_.toLong)
      val cdf = docs.groupBy("source")
        .agg((Seq(F.count(F.lit(1)).as("__n")) ++ grid.map(g =>
          F.sum(F.when(F.col("n_chars") <= g, 1L).otherwise(0L))
            .as(s"__c_$g"))).head,
          (Seq(F.count(F.lit(1)).as("__n")) ++ grid.map(g =>
            F.sum(F.when(F.col("n_chars") <= g, 1L).otherwise(0L))
              .as(s"__c_$g"))).tail: _*)
        .select(F.col("source") +: F.col("__n") +: grid.map(g =>
          F.round(F.col(s"__c_$g").cast("double") / F.col("__n"), 9)
            .as(s"cdf_$g")): _*)
      val a = cdf.select(F.col("source").as("a") +:
        grid.map(g => F.col(s"cdf_$g").as(s"a_$g")): _*)
      val b = cdf.select(F.col("source").as("b") +:
        grid.map(g => F.col(s"cdf_$g").as(s"b_$g")): _*)
      a.crossJoin(b).filter(F.col("a") < F.col("b"))
        .select(F.col("a"), F.col("b"),
          F.round(F.greatest(grid.map(g =>
            F.abs(F.col(s"a_$g") - F.col(s"b_$g"))): _*), 9).as("ks"))
        .orderBy("a", "b")
    },
      // mirrors the x165 drift statistic: per-source grid CDF cells, pair
      // cross join, greatest of the 13 absolute gaps
      Oracle("""WITH cdf AS (
        |  SELECT source, count(*) AS n,
        |    round(sum(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c0,
        |    round(sum(CASE WHEN n_chars <= 50 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c50,
        |    round(sum(CASE WHEN n_chars <= 100 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c100,
        |    round(sum(CASE WHEN n_chars <= 150 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c150,
        |    round(sum(CASE WHEN n_chars <= 200 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c200,
        |    round(sum(CASE WHEN n_chars <= 250 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c250,
        |    round(sum(CASE WHEN n_chars <= 300 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c300,
        |    round(sum(CASE WHEN n_chars <= 350 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c350,
        |    round(sum(CASE WHEN n_chars <= 400 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c400,
        |    round(sum(CASE WHEN n_chars <= 450 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c450,
        |    round(sum(CASE WHEN n_chars <= 500 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c500,
        |    round(sum(CASE WHEN n_chars <= 550 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c550,
        |    round(sum(CASE WHEN n_chars <= 600 THEN 1 ELSE 0 END)::DOUBLE / count(*), 9) AS c600
        |  FROM documents GROUP BY source
        |)
        |SELECT x.source AS a, y.source AS b,
        |  round(greatest(
        |    abs(x.c0 - y.c0), abs(x.c50 - y.c50), abs(x.c100 - y.c100),
        |    abs(x.c150 - y.c150), abs(x.c200 - y.c200), abs(x.c250 - y.c250),
        |    abs(x.c300 - y.c300), abs(x.c350 - y.c350), abs(x.c400 - y.c400),
        |    abs(x.c450 - y.c450), abs(x.c500 - y.c500), abs(x.c550 - y.c550),
        |    abs(x.c600 - y.c600)), 9) AS ks
        |FROM cdf x JOIN cdf y ON x.source < y.source
        |ORDER BY a, b""".stripMargin)),

    // dedup byte-savings report per source: how many chars the exact-dup
    // pass would remove — the capacity argument for running it
    Entry("x163_dedup_savings", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"), F.col("source"), F.col("n_chars"),
          F.md5(F.coalesce(F.col("text"), F.lit(""))).as("fp"))
      d.withColumn("first", F.min("doc_id").over(Window.partitionBy("fp")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("n_chars"),
          F.sum(F.when(F.col("doc_id") =!= F.col("first"), F.col("n_chars"))
            .otherwise(F.lit(0L))).as("chars_dup"))
        .withColumn("savings", F.round(
          F.col("chars_dup").cast("double") / F.col("n_chars"), 6))
        .orderBy("source")
    },
      // mirrors the x163 savings report: x154's fp window + char-weighted
      // later-copy census
      Oracle("""WITH d AS (
        |  SELECT doc_id, source, n_chars, md5(coalesce(text, '')) AS fp
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY fp) AS first
        |  FROM d
        |)
        |SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
        |  sum(CASE WHEN doc_id <> first THEN n_chars ELSE 0 END)::BIGINT
        |    AS chars_dup,
        |  round(sum(CASE WHEN doc_id <> first THEN n_chars ELSE 0 END)::DOUBLE
        |    / sum(n_chars), 6) AS savings
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // Gopher-rule ABLATION: per rule, total failures and MARGINAL kills
    // (docs failing only that rule) — which gate does the work, and which
    // is redundant; one pass, rows unfold from the aggregate (the
    // corrPairs explode trick)
    Entry("x164_gopher_ablation", (s, dir) => {
      val g = TextOps.withGopherRules(
        Registrar.table(s, dir, "documents"), "text",
        minTokens = 20, maxTokens = 80, minMeanTokLen = 3.0,
        maxMeanTokLen = 10.0, minStopHits = 2, maxDupBigramFrac = 0.2)
      val rules = Seq("r_ntok", "r_toklen", "r_stop", "r_rep")
      def others(r: String) =
        rules.filterNot(_ == r).map(F.col).reduce(_ && _)
      val aggs = Seq(F.count(F.lit(1)).as("n_docs")) ++
        rules.map(r => F.sum(F.when(!F.col(r), 1L).otherwise(0L))
          .as(s"__f_$r")) ++
        rules.map(r => F.sum(F.when(!F.col(r) && others(r), 1L)
          .otherwise(0L)).as(s"__m_$r"))
      g.agg(aggs.head, aggs.tail: _*)
        .select(F.col("n_docs"), F.explode(F.array(rules.map(r =>
          F.struct(F.lit(r).as("rule"), F.col(s"__f_$r").as("n_fail"),
            F.col(s"__m_$r").as("n_marginal"))): _*)).as("__r"))
        .select(F.col("__r.rule").as("rule"), F.col("__r.n_fail"),
          F.col("__r.n_marginal"), F.col("n_docs"))
        .orderBy("rule")
    },
      // mirrors the x164 ablation over x55's rule formulas: per-rule total
      // and only-this-rule failure counts
      Oracle("""WITH t AS (
        |  SELECT doc_id, length(text) AS nch,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks)::INT AS n_tokens,
        |    (nch - len(toks) + 1)::DOUBLE / greatest(len(toks), 1)
        |      AS mean_token_len,
        |    len(list_filter(toks,
        |      x -> x IN ('the','a','and','of','to','in','is')))::INT
        |      AS stop_hits,
        |    CASE WHEN len(toks) >= 2 THEN
        |      1.0 - len(list_distinct(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
        |    ELSE 0.0 END AS dup_bigram_fraction
        |  FROM t
        |), r AS (
        |  SELECT n_tokens BETWEEN 20 AND 80 AS r_ntok,
        |    mean_token_len BETWEEN 3.0 AND 10.0 AS r_toklen,
        |    stop_hits >= 2 AS r_stop,
        |    dup_bigram_fraction <= 0.2 AS r_rep
        |  FROM m
        |), a AS (
        |  SELECT count(*) AS n_docs,
        |    sum(CASE WHEN NOT r_ntok THEN 1 ELSE 0 END) AS f_ntok,
        |    sum(CASE WHEN NOT r_ntok AND r_toklen AND r_stop AND r_rep
        |      THEN 1 ELSE 0 END) AS m_ntok,
        |    sum(CASE WHEN NOT r_toklen THEN 1 ELSE 0 END) AS f_toklen,
        |    sum(CASE WHEN NOT r_toklen AND r_ntok AND r_stop AND r_rep
        |      THEN 1 ELSE 0 END) AS m_toklen,
        |    sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS f_stop,
        |    sum(CASE WHEN NOT r_stop AND r_ntok AND r_toklen AND r_rep
        |      THEN 1 ELSE 0 END) AS m_stop,
        |    sum(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS f_rep,
        |    sum(CASE WHEN NOT r_rep AND r_ntok AND r_toklen AND r_stop
        |      THEN 1 ELSE 0 END) AS m_rep
        |  FROM r
        |)
        |SELECT * FROM (
        |  SELECT 'r_ntok' AS rule, f_ntok::BIGINT AS n_fail,
        |    m_ntok::BIGINT AS n_marginal, n_docs FROM a
        |  UNION ALL SELECT 'r_rep', f_rep::BIGINT, m_rep::BIGINT, n_docs FROM a
        |  UNION ALL SELECT 'r_stop', f_stop::BIGINT, m_stop::BIGINT, n_docs FROM a
        |  UNION ALL SELECT 'r_toklen', f_toklen::BIGINT, m_toklen::BIGINT,
        |    n_docs FROM a
        |) ORDER BY rule""".stripMargin)),

    // per-type trimmed mean of event values (10% off each end by integer
    // rank) — the robust center between winsorize and the median
    Entry("x161_trimmed_mean", (s, dir) =>
      graft.ops.Stats.trimmedMean(
          Registrar.table(s, dir, "events"),
          Seq("event_type"), F.col("value"), F.col("event_id"), trim = 0.1)
        .orderBy("event_type"),
      // mirrors Stats.trimmedMean: (value, event_id) rank window, the
      // ceil(t·n) cuts, kept-mass mean
      Oracle("""WITH r AS (
        |  SELECT event_type, value::DOUBLE AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value::DOUBLE, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  count(CASE WHEN rn > ceil(0.1 * n::DOUBLE)
        |    AND rn <= n - ceil(0.1 * n::DOUBLE) THEN 1 END) AS n_kept,
        |  round(sum(CASE WHEN rn > ceil(0.1 * n::DOUBLE)
        |      AND rn <= n - ceil(0.1 * n::DOUBLE) THEN v END)
        |    / nullif(count(CASE WHEN rn > ceil(0.1 * n::DOUBLE)
        |      AND rn <= n - ceil(0.1 * n::DOUBLE) THEN 1 END)::DOUBLE, 0.0),
        |    6) AS trimmed_mean
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // session conversion rate by ENTRY type: which landing event converts
    // — sessionize + first-event rank + a per-session purchase flag, all
    // on the same (user, session) partitioning
    Entry("x162_entry_conversion", (s, dir) => {
      val sess = graft.ops.EventOps.sessionize(
        Registrar.table(s, dir, "events"))
      val us = graft.ops.EventOps.tsUs(sess)
      val part = Window.partitionBy("user_id", "session_seq")
      sess
        .withColumn("__rn1", F.row_number().over(
          part.orderBy(us.asc, F.col("event_id").asc)))
        .withColumn("__conv", F.max(
          F.when(F.col("event_type") === "purchase", 1).otherwise(0))
          .over(part))
        .filter(F.col("__rn1") === 1)
        .groupBy(F.col("event_type").as("entry_type"))
        .agg(F.count(F.lit(1)).as("n_sessions"),
          F.sum("__conv").cast("long").as("n_converted"))
        .withColumn("conv_rate", F.round(
          F.col("n_converted").cast("double") / F.col("n_sessions"), 6))
        .orderBy("entry_type")
    },
      // mirrors the x162 composition: x13's sessionize CTE + first-event
      // rank + per-session purchase flag + the per-entry census
      Oracle("""WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |), ranked AS (
        |  SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY epoch_us(ts), event_id) AS rn1,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, session_seq) AS conv
        |  FROM sessions
        |)
        |SELECT event_type AS entry_type, count(*) AS n_sessions,
        |  sum(conv)::BIGINT AS n_converted,
        |  round(sum(conv)::DOUBLE / count(*), 6) AS conv_rate
        |FROM ranked WHERE rn1 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // frame-level dedup across videos: the sampled-frame stream (x114's
    // md5-kind twin path through the SAME mapPartitions stub) fingerprints
    // each 16-byte frame slice and counts corpus-duplicate frames — the
    // video-pipeline dedup composition with the decode still honestly
    // stubbed
    Entry("x160_frame_dedup", (s, dir) => {
      implicit val sp = s
      val md = Registrar.table(s, dir, "documents").select(
        F.col("doc_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
          (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long") % 3 + 1).cast("int")).as("kind"),
        F.lit(1).as("width"), F.lit(1).as("height"),
        F.encode(F.col("text"), "UTF-8").as("media"))
      val frames = Multimodal.sampleFrames(md).toDF()
      frames
        .select(F.md5(F.col("frame").cast("string")).as("fp"),
          (F.col("doc_id") * 100 + F.col("frame_idx")).as("pos"))
        .withColumn("first", F.min("pos").over(Window.partitionBy("fp")))
        .agg(F.count(F.lit(1)).as("n_frames"),
          F.countDistinct("fp").as("n_distinct"),
          F.sum(F.when(F.col("pos") =!= F.col("first"), 1L).otherwise(0L))
            .as("n_dup"))
    },
      // mirrors the x160 frame-dedup: x114's kind/duration replay + the
      // trunc((ts/dur)*len) slice position, 16-char frame substring, md5
      // fingerprint, first-occurrence window
      Oracle("""WITH m AS (
        |  SELECT doc_id,
        |    (('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 3) AS kr,
        |    octet_length(encode(text)) AS len
        |  FROM documents
        |), v AS (
        |  SELECT doc_id, len, greatest(1, len // 100) AS dur
        |  FROM m WHERE kr = 2
        |), f AS (
        |  SELECT doc_id, len, dur,
        |    unnest(range(0, least(8, dur // 1000 + 1))) AS fi
        |  FROM v
        |), fr AS (
        |  SELECT doc_id * 100 + fi AS pos,
        |    md5(substring(text,
        |      least(trunc((fi * 1000)::DOUBLE / dur * len)::INT,
        |        greatest(len - 16, 0)) + 1,
        |      least(16, len - least(trunc((fi * 1000)::DOUBLE / dur * len)::INT,
        |        greatest(len - 16, 0))))) AS fp
        |  FROM f JOIN documents USING (doc_id)
        |), w AS (
        |  SELECT fp, pos, min(pos) OVER (PARTITION BY fp) AS first FROM fr
        |)
        |SELECT count(*) AS n_frames, count(DISTINCT fp) AS n_distinct,
        |  sum(CASE WHEN pos <> first THEN 1 ELSE 0 END)::BIGINT AS n_dup
        |FROM w""".stripMargin)),

    // code-vs-prose routing heuristic over seeded code suffixes (mod-4
    // docs get a code-ish tail): symbol density + keyword hits + ident
    // count, one codegen projection — the code-subcorpus routing gate
    Entry("x159_code_detect", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
        .withColumn("t2", F.when(F.col("doc_id") % 4 === 0,
          F.concat(F.col("text"), F.lit(
            " def compute_value(x): return x1 + myVar;} import os")))
          .otherwise(F.col("text")))
      TextOps.withCodeScore(docs, "t2")
        .select("doc_id", "n_symbols", "n_code_keywords", "n_idents",
          "code_score")
        .orderBy("doc_id")
    },
      // mirrors TextOps.withCodeScore over the same seeded suffixes: the
      // three regex counts + the weighted least(1, ·) tree
      Oracle("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text ||
        |      ' def compute_value(x): return x1 + myVar;} import os'
        |    ELSE text END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(coalesce(t, ''),
        |      '[{}()\[\]=;<>]'))::INT AS n_symbols,
        |    len(regexp_extract_all(coalesce(t, ''),
        |      '\b(def|class|import|return|function|var|const|if|else)\b'))::INT
        |      AS n_code_keywords,
        |    len(regexp_extract_all(coalesce(t, ''),
        |      '\b[a-z]+(?:_[a-z0-9]+|[A-Z][a-z0-9]+)\w*\b'))::INT
        |      AS n_idents,
        |    greatest(1, length(coalesce(t, ''))) AS chars,
        |    greatest(1, len(string_split_regex(trim(coalesce(t, '')),
        |      '\s+'))) AS toks
        |  FROM d
        |)
        |SELECT doc_id, n_symbols, n_code_keywords, n_idents,
        |  round(least(1.0,
        |    4.0 * (n_symbols::DOUBLE / chars::DOUBLE)
        |    + 0.1 * (n_code_keywords::DOUBLE / toks::DOUBLE)
        |    + 2.0 * (n_idents::DOUBLE / toks::DOUBLE)), 6) AS code_score
        |FROM c ORDER BY doc_id""".stripMargin)),

    // winsorization at the sampled 1st/99th percentile (integer-rank
    // bounds as plan literals, shuffle-free clip) — summary row makes the
    // clipping itself the verified value
    Entry("x156_winsorize", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Stats.winsorize(li, F.col("l_extendedprice"),
          F.col("l_orderkey") * 10 + F.col("l_linenumber"),
          pLo = 0.01, pHi = 0.99)
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("l_extendedprice") < F.col("lo"), 1L)
            .otherwise(0L)).as("n_clipped_lo"),
          F.sum(F.when(F.col("l_extendedprice") > F.col("hi"), 1L)
            .otherwise(0L)).as("n_clipped_hi"),
          F.min("lo").as("lo"), F.min("hi").as("hi"))
    },
      // mirrors Stats.winsorize: same integer-keyed sample, same
      // max(1, floor(p·n)) rank bounds, clip census
      Oracle("""WITH s AS (
        |  SELECT l_extendedprice::DOUBLE AS v FROM lineitem
        |  WHERE substring(md5((l_orderkey * 10 + l_linenumber)::VARCHAR),
        |    1, 4) < '199a'
        |), r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS n
        |  FROM s
        |), b AS (
        |  SELECT
        |    min(CASE WHEN rn = greatest(1, floor(0.01 * n::DOUBLE))
        |      THEN v END) AS lo,
        |    min(CASE WHEN rn = greatest(1, floor(0.99 * n::DOUBLE))
        |      THEN v END) AS hi
        |  FROM r
        |)
        |SELECT count(*) AS n,
        |  sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END)::BIGINT
        |    AS n_clipped_lo,
        |  sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END)::BIGINT
        |    AS n_clipped_hi,
        |  min(b.lo) AS lo, min(b.hi) AS hi
        |FROM lineitem CROSS JOIN b""".stripMargin)),

    // last-touch attribution census for purchases within 6 h: one
    // user-keyed window (last non-conversion struct, IGNORE NULLS),
    // stale touches credit 'direct'
    Entry("x157_attribution", (s, dir) =>
      graft.ops.EventOps.lastTouchAttribution(
          Registrar.table(s, dir, "events"), "purchase",
          windowUs = 21600000000L)
        .orderBy("touch_type"),
      // mirrors EventOps.lastTouchAttribution: last non-conversion struct
      // via IGNORE NULLS over the (µs, event_id) user window, 6-h bound,
      // direct fallback, share
      Oracle("""WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), t AS (
        |  SELECT event_type, us,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN struct_pack(tus := us, ttype := event_type) END
        |      IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e
        |), c AS (
        |  SELECT CASE WHEN touch IS NOT NULL
        |      AND us - touch.tus <= 21600000000
        |    THEN touch.ttype ELSE 'direct' END AS touch_type
        |  FROM t WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT touch_type, count(*) AS n_conversions FROM c GROUP BY 1
        |)
        |SELECT touch_type, n_conversions,
        |  round(n_conversions::DOUBLE / sum(n_conversions) OVER (), 6)
        |    AS share
        |FROM g ORDER BY touch_type""".stripMargin)),

    // Flesch-style readability per doc: three regex counts, pure codegen
    // projection — the prose-complexity quality gate
    Entry("x158_readability", (s, dir) =>
      TextOps.withReadability(
          Registrar.table(s, dir, "documents"), "text")
        .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
        .orderBy("doc_id"),
      // mirrors TextOps.withReadability: the three regex counts + the
      // Flesch expression tree, sentence floor 1, NULL on zero words
      Oracle("""SELECT doc_id,
        |  len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))::INT
        |    AS n_words,
        |  greatest(1, len(regexp_extract_all(coalesce(text, ''),
        |    '[.!?]+')))::INT AS n_sentences,
        |  len(regexp_extract_all(lower(coalesce(text, '')),
        |    '[aeiouy]+'))::INT AS n_syllables,
        |  round(206.835
        |    - 1.015 * (len(regexp_extract_all(coalesce(text, ''),
        |        '[A-Za-z0-9]+'))::DOUBLE
        |      / greatest(1, len(regexp_extract_all(coalesce(text, ''),
        |          '[.!?]+')))::DOUBLE)
        |    - 84.6 * (len(regexp_extract_all(lower(coalesce(text, '')),
        |        '[aeiouy]+'))::DOUBLE
        |      / nullif(len(regexp_extract_all(coalesce(text, ''),
        |          '[A-Za-z0-9]+'))::DOUBLE, 0.0)), 4) AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // tokenizer-fertility census per language: chars per whitespace token
    // and per BPE-ish piece from EXACT integer sums — the "how expensive
    // is this language for my tokenizer" readout behind vocab sizing
    Entry("x153_fertility", (s, dir) =>
      Registrar.table(s, dir, "documents")
        .select(F.col("lang"), F.col("n_chars"),
          TextOps.tokenCount(F.col("text")).as("ws"),
          TextOps.bpeishTokenCount(F.col("text")).as("bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("n_chars"),
          F.sum("ws").as("n_ws_tokens"),
          F.sum("bp").as("n_bpeish"))
        .withColumn("chars_per_ws", F.round(
          F.col("n_chars").cast("double") / F.col("n_ws_tokens"), 6))
        .withColumn("chars_per_bpeish", F.round(
          F.col("n_chars").cast("double") / F.col("n_bpeish"), 6))
        .orderBy("lang"),
      // mirrors the x153 fertility census: x11's token formulas + exact
      // integer sums, two rounded divisions
      Oracle("""WITH t AS (
        |  SELECT lang, n_chars,
        |    len(string_split_regex(trim(text), '\s+')) AS ws,
        |    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bp
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
        |  sum(ws)::BIGINT AS n_ws_tokens, sum(bp)::BIGINT AS n_bpeish,
        |  round(sum(n_chars)::DOUBLE / sum(ws), 6) AS chars_per_ws,
        |  round(sum(n_chars)::DOUBLE / sum(bp), 6) AS chars_per_bpeish
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // per-source exact-duplication rate: share of docs whose text md5
    // already appeared on a smaller doc_id — the provenance-level dedup
    // report (which source is feeding me copies?)
    Entry("x154_dup_rate", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"), F.col("source"),
          F.md5(F.coalesce(F.col("text"), F.lit(""))).as("fp"))
      d.withColumn("first", F.min("doc_id").over(Window.partitionBy("fp")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.when(F.col("doc_id") =!= F.col("first"), 1L)
            .otherwise(0L)).as("n_dups"))
        .withColumn("dup_rate", F.round(
          F.col("n_dups").cast("double") / F.col("n_docs"), 6))
        .orderBy("source")
    },
      // mirrors the x154 dup-rate report: text-md5 window min, per-source
      // later-copy census
      Oracle("""WITH d AS (
        |  SELECT doc_id, source, md5(coalesce(text, '')) AS fp
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, source,
        |    min(doc_id) OVER (PARTITION BY fp) AS first
        |  FROM d
        |)
        |SELECT source, count(*) AS n_docs,
        |  sum(CASE WHEN doc_id <> first THEN 1 ELSE 0 END)::BIGINT AS n_dups,
        |  round(sum(CASE WHEN doc_id <> first THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS dup_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // dwell-time (time-to-next-action) quantiles per event type: lead
    // gaps over the per-user (µs, event_id) order, p50/p90 by the integer
    // rank selection over one type-keyed window
    Entry("x155_dwell_quantiles", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val us = graft.ops.EventOps.tsUs(ev)
      val byUser = Window.partitionBy("user_id")
        .orderBy(us.asc, F.col("event_id").asc)
      val gaps = ev
        .withColumn("__dwell", F.lead(us, 1).over(byUser) - us)
        .filter(F.col("__dwell").isNotNull)
        .select(F.col("event_type"), F.col("event_id"), F.col("__dwell"))
      val w = Window.partitionBy("event_type")
      gaps
        .withColumn("__rn", F.row_number().over(
          w.orderBy(F.col("__dwell").asc, F.col("event_id").asc)))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("q", F.explode(F.array(F.lit(0.5), F.lit(0.9))))
        .filter(F.col("__rn") === F.greatest(F.lit(1L),
          F.floor(F.col("q") * F.col("__n"))))
        .select(F.col("event_type"), F.col("q"),
          F.col("__dwell").as("dwell_us"), F.col("__n").as("n_gaps"))
        .orderBy("event_type", "q")
    },
      // mirrors the x155 dwell quantiles: lead gaps over (µs, event_id) per
      // user, the max(1, floor(q·n)) rank selection per type
      Oracle("""WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), g AS (
        |  SELECT event_type, event_id,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dwell
        |  FROM e
        |), r AS (
        |  SELECT event_type, dwell,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dwell, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE dwell IS NOT NULL
        |)
        |SELECT event_type, q, dwell AS dwell_us, n AS n_gaps
        |FROM r CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q)
        |WHERE rn = greatest(1, floor(q * n::DOUBLE))
        |ORDER BY event_type, q""".stripMargin)),

    // rendezvous-hash routing with the minimal-movement property made
    // visible: assign orders to 8 workers, re-assign with w7 removed —
    // ONLY w7's keys move (a mod-N routing would move 7/8 of them)
    Entry("x151_rendezvous", (s, dir) => {
      val ord = Registrar.table(s, dir, "orders").select("o_orderkey")
      val shards = (0 until 8).map(i => s"w$i")
      val a8 = graft.ops.Scale.rendezvousAssign(ord, F.col("o_orderkey"), shards)
        .select(F.col("o_orderkey"), F.col("shard").as("s8"))
      val a7 = graft.ops.Scale.rendezvousAssign(ord, F.col("o_orderkey"),
          shards.filterNot(_ == "w7"))
        .select(F.col("o_orderkey"), F.col("shard").as("s7"))
      a8.join(a7, "o_orderkey")
        .groupBy("s8").agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("s8") =!= F.col("s7"), 1L).otherwise(0L))
            .as("n_moved"))
        .orderBy("s8")
    },
      // mirrors Scale.rendezvousAssign: per-(key, shard) md5, argmax by
      // (h desc, shard desc) — the struct-max tie rule — for both shard
      // sets, movement census
      Oracle("""WITH k AS (
        |  SELECT o_orderkey, o_orderkey::VARCHAR AS ks FROM orders
        |), h8 AS (
        |  SELECT o_orderkey, s, md5(s || ':' || ks) AS h
        |  FROM k CROSS JOIN (SELECT unnest(
        |    ['w0','w1','w2','w3','w4','w5','w6','w7']) AS s)
        |), a8 AS (
        |  SELECT o_orderkey, s AS s8 FROM (
        |    SELECT o_orderkey, s, row_number()
        |      OVER (PARTITION BY o_orderkey ORDER BY h DESC, s DESC) AS rn
        |    FROM h8) WHERE rn = 1
        |), h7 AS (
        |  SELECT o_orderkey, s, md5(s || ':' || ks) AS h
        |  FROM k CROSS JOIN (SELECT unnest(
        |    ['w0','w1','w2','w3','w4','w5','w6']) AS s)
        |), a7 AS (
        |  SELECT o_orderkey, s AS s7 FROM (
        |    SELECT o_orderkey, s, row_number()
        |      OVER (PARTITION BY o_orderkey ORDER BY h DESC, s DESC) AS rn
        |    FROM h7) WHERE rn = 1
        |)
        |SELECT a8.s8, count(*) AS n,
        |  sum(CASE WHEN a8.s8 <> a7.s7 THEN 1 ELSE 0 END)::BIGINT AS n_moved
        |FROM a8 JOIN a7 USING (o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RFM quartile segmentation per user: one per-user rollup + three
    // deterministic ntile(4) windows over the aggregate (metric, user)
    // total orders
    Entry("x152_rfm", (s, dir) =>
      graft.ops.EventOps.rfmScores(
          Registrar.table(s, dir, "events"))
        .orderBy("user_id"),
      // mirrors EventOps.rfmScores: per-user rollup + SQL-standard ntile(4)
      // over (metric, user) total orders
      Oracle("""WITH per AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_events,
        |    round(sum(value), 6) AS total_value
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, last_us, n_events, total_value,
        |  ntile(4) OVER (ORDER BY last_us, user_id)::INT AS r,
        |  ntile(4) OVER (ORDER BY n_events, user_id)::INT AS f,
        |  ntile(4) OVER (ORDER BY total_value, user_id)::INT AS m,
        |  (ntile(4) OVER (ORDER BY last_us, user_id) * 100
        |    + ntile(4) OVER (ORDER BY n_events, user_id) * 10
        |    + ntile(4) OVER (ORDER BY total_value, user_id))::INT AS rfm
        |FROM per ORDER BY user_id""".stripMargin)),

    // language-ID confusion matrix vs declared labels: the classifier
    // audit for the x09 heuristic — per (declared, predicted) census +
    // per-declared-language share, windows over the tiny matrix
    Entry("x149_lang_confusion", (s, dir) => {
      val d = Registrar.table(s, dir, "documents")
        .select(F.col("lang"), TextOps.langId(F.col("text")).as("pred"))
      d.groupBy("lang", "pred").agg(F.count(F.lit(1)).as("n"))
        .withColumn("share", F.round(F.col("n").cast("double") /
          F.sum("n").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "pred")
    },
      // mirrors the x149 confusion matrix: x09's langId CASE chain + the
      // census + a per-declared-language share window
      Oracle("""WITH scored AS (
        |  SELECT lang, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), hits AS (
        |  SELECT lang, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in'))) AS en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y','es','un','que'))) AS es
        |  FROM scored
        |), pred AS (
        |  SELECT lang,
        |    CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |         WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |         WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |         WHEN fr >= es AND fr > 0 THEN 'fr'
        |         WHEN es > 0 THEN 'es'
        |         ELSE 'und' END AS pred
        |  FROM hits
        |), c AS (
        |  SELECT lang, pred, count(*) AS n FROM pred GROUP BY 1, 2
        |)
        |SELECT lang, pred, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY lang), 6) AS share
        |FROM c ORDER BY lang, pred""".stripMargin)),

    // sequence-packing efficiency report: per source, bins / tokens /
    // mean fill (exact integer sums — no float avg) / near-full share —
    // the padding-waste readout on x33's packing
    Entry("x150_packing_efficiency", (s, dir) => {
      val packed = Curation.packSequences(
        Registrar.table(s, dir, "documents")
          .withColumn("n_tokens", TextOps.tokenCount(F.col("text"))),
        "source", "doc_id", "n_tokens", maxTokens = 512)
      packed.groupBy("source", "bin")
        .agg(F.sum("n_tokens").as("tok"), F.count(F.lit(1)).as("n_docs"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_bins"),
          F.sum("tok").as("n_tokens"),
          F.sum(F.when(F.col("tok") >= 461L, 1L).otherwise(0L)).as("n_full"))
        .withColumn("mean_fill", F.round(
          F.col("n_tokens").cast("double") / (F.lit(512.0) * F.col("n_bins")), 6))
        .orderBy("source")
    },
      // mirrors the x150 report over x33's packing formula: per-(source,
      // bin) integer token sums, near-full threshold 461, exact mean fill
      Oracle("""WITH packed AS (
        |  SELECT doc_id, source, n_tokens,
        |    (coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 512)::BIGINT AS bin
        |  FROM (SELECT doc_id, source,
        |          len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |        FROM documents)
        |), bins AS (
        |  SELECT source, bin, sum(n_tokens)::BIGINT AS tok
        |  FROM packed GROUP BY 1, 2
        |)
        |SELECT source, count(*) AS n_bins, sum(tok)::BIGINT AS n_tokens,
        |  sum(CASE WHEN tok >= 461 THEN 1 ELSE 0 END)::BIGINT AS n_full,
        |  round(sum(tok)::DOUBLE / (512.0 * count(*)), 6) AS mean_fill
        |FROM bins GROUP BY source ORDER BY source""".stripMargin)),

    // cross-split duplicate-leakage audit: id-keyed train/val/test split +
    // text-fingerprint census with per-split conditional counts — "how
    // many test docs did training see?" (testdata's seeded exact dups
    // cross the id-keyed boundary by construction)
    Entry("x146_split_leakage", (s, dir) =>
      Curation.splitLeakage(
          Registrar.table(s, dir, "documents"), "doc_id", "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("split_a", "split_b"),
      // mirrors Curation.splitLeakage: x41's split CASE keyed on doc_id,
      // text-md5 fingerprint census, per-pair shared-fp and cross-product
      // totals
      Oracle("""WITH a AS (
        |  SELECT md5(coalesce(text, '')) AS fp,
        |    CASE WHEN '0' || substring(md5(doc_id::VARCHAR), 1, 4) < '0cccd'
        |           THEN 'train'
        |         WHEN '0' || substring(md5(doc_id::VARCHAR), 1, 4) < '0e666'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), c AS (
        |  SELECT fp,
        |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv,
        |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cs
        |  FROM a GROUP BY fp
        |), g AS (
        |  SELECT
        |    sum(CASE WHEN ct > 0 AND cv > 0 THEN 1 ELSE 0 END) AS f_tv,
        |    sum(ct * cv) AS p_tv,
        |    sum(CASE WHEN ct > 0 AND cs > 0 THEN 1 ELSE 0 END) AS f_ts,
        |    sum(ct * cs) AS p_ts,
        |    sum(CASE WHEN cv > 0 AND cs > 0 THEN 1 ELSE 0 END) AS f_vs,
        |    sum(cv * cs) AS p_vs
        |  FROM c
        |)
        |SELECT * FROM (
        |  SELECT 'train' AS split_a, 'val' AS split_b,
        |    f_tv::BIGINT AS n_shared_fps, p_tv::BIGINT AS n_leak_pairs FROM g
        |  UNION ALL
        |  SELECT 'train', 'test', f_ts::BIGINT, p_ts::BIGINT FROM g
        |  UNION ALL
        |  SELECT 'val', 'test', f_vs::BIGINT, p_vs::BIGINT FROM g
        |) ORDER BY split_a, split_b""".stripMargin)),

    // Zipf-exponent census per source over token frequencies: the
    // "natural text vs key-value spam" tail readout, grouped power-law MLE
    Entry("x147_zipf_by_source", (s, dir) => {
      val deg = Registrar.table(s, dir, "documents")
        .select(F.col("source"), F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), "\\s+"),
          t => F.length(t) > 0)).as("t"))
        .groupBy("source", "t").agg(F.count(F.lit(1)).as("d"))
      graft.ops.Stats.powerlawAlphaBy(deg, Seq("source"), F.col("d"), dmin = 2)
        .orderBy("source")
    },
      // mirrors Stats.powerlawAlphaBy over per-source token frequencies
      Oracle("""WITH deg AS (
        |  SELECT source, t, count(*) AS d FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |    FROM documents) GROUP BY 1, 2
        |), t2 AS (
        |  SELECT source, round(ln(d::DOUBLE / 1.5), 9) AS t
        |  FROM deg WHERE d::DOUBLE >= 2.0
        |)
        |SELECT source, count(*) AS n_tail, 2 AS dmin,
        |  round(1.0 + count(*)::DOUBLE / nullif(sum(t), 0.0), 6) AS alpha
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin)),

    // duplicate-cluster SIZE DISTRIBUTION over x23's chain graph: the
    // dedup report "how much of the corpus sits in clusters of size k" —
    // components → size census → size-of-sizes rollup
    Entry("x148_cluster_sizes", (s, dir) => {
      val ids = Registrar.table(s, dir, "documents").select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"), (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 10 < 3)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      graft.ops.Components.connectedComponents(pairs)
        .groupBy("component").agg(F.count(F.lit(1)).as("size"))
        .groupBy("size").agg(F.count(F.lit(1)).as("n_clusters"),
          F.sum("size").as("n_nodes"))
        .orderBy("size")
    },
      // mirrors the x148 composition: x23's reachability components + a
      // size census + a size-of-sizes rollup
      Oracle("""WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 10 < 3
        |), e AS (
        |  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
        |), r AS (
        |  SELECT x AS v, x AS u FROM e
        |  UNION
        |  SELECT r.v, e.y FROM r JOIN e ON e.x = r.u
        |), comp AS (
        |  SELECT v, min(u) AS component FROM r GROUP BY v
        |), sz AS (
        |  SELECT component, count(*) AS size FROM comp GROUP BY component
        |)
        |SELECT size, count(*) AS n_clusters, sum(size)::BIGINT AS n_nodes
        |FROM sz GROUP BY size ORDER BY size""".stripMargin)),

    // asymmetric n-gram CONTAINMENT over x22's deterministic pair list:
    // the dedup-policy direction signal (a quote scores ~1 against its
    // source even when Jaccard is low) — pair-list-bounded, both
    // directions + sizes
    Entry("x143_containment", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"), (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 7 === 0)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      Dedup.ngramContainment(pairs, docs, "doc_id", "text")
        .orderBy("a", "b")
    },
      // mirrors Dedup.ngramContainment: x22's shingle sets + pair list,
      // intersection/size counts, both rounded direction ratios
      Oracle("""WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substring(t, i, 5))) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 7 = 0
        |)
        |SELECT p.a, p.b,
        |  len(list_intersect(sa.s, sb.s))::INT AS inter,
        |  len(sa.s)::INT AS size_a, len(sb.s)::INT AS size_b,
        |  round(len(list_intersect(sa.s, sb.s))::DOUBLE
        |    / nullif(len(sa.s)::DOUBLE, 0.0), 6) AS contain_a,
        |  round(len(list_intersect(sa.s, sb.s))::DOUBLE
        |    / nullif(len(sb.s)::DOUBLE, 0.0), 6) AS contain_b
        |FROM pairs p
        |JOIN sh sa ON sa.doc_id = p.a
        |JOIN sh sb ON sb.doc_id = p.b
        |ORDER BY a, b""".stripMargin)),

    // funnel reach with a 6-hour conversion DEADLINE per step — x96's
    // frontier chain plus one integer µs predicate per join
    Entry("x144_funnel_within", (s, dir) =>
      graft.ops.EventOps.funnelReachWithin(
          Registrar.table(s, dir, "events"),
          Seq("view", "click", "purchase"), withinUs = 21600000000L)
        .orderBy("step"),
      // mirrors EventOps.funnelReachWithin: x96's frontier CTEs + the
      // within-6h µs predicate
      Oracle("""WITH e AS (
        |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu
        |  FROM events
        |), s1 AS (
        |  SELECT u, min(tu) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s1 ON e.u = s1.u
        |  WHERE et = 'click' AND tu > s1.t AND tu - s1.t <= 21600000000
        |  GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(tu) AS t FROM e JOIN s2 ON e.u = s2.u
        |  WHERE et = 'purchase' AND tu > s2.t AND tu - s2.t <= 21600000000
        |  GROUP BY e.u
        |)
        |SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS n_users
        |UNION ALL
        |SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin)),

    // degree assortativity of the >=6-support co-purchase graph: do hub
    // suppliers co-occur with hubs? Symmetrized endpoint-degree Pearson,
    // exact integer sums
    Entry("x145_assortativity", (s, dir) => {
      val li = Registrar.table(s, dir, "lineitem")
      graft.ops.Graph.degreeAssortativity(
        graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
          minCount = 6), "src", "dst")
    },
      // mirrors Graph.degreeAssortativity over x104's edge builder: degree
      // census, symmetrized endpoint pairs, the corrPairs tree
      Oracle("""WITH os AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
        |), e AS (
        |  SELECT a.s AS a, b.s AS b
        |  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 6
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), xy AS (
        |  SELECT da.deg AS x, db.deg AS y
        |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
        |), sym AS (
        |  SELECT x, y FROM xy UNION ALL SELECT y AS x, x AS y FROM xy
        |), a AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(x::DOUBLE) AS sx, sum(y::DOUBLE) AS sy,
        |    sum(x::DOUBLE * x::DOUBLE) AS sxx,
        |    sum(y::DOUBLE * y::DOUBLE) AS syy,
        |    sum(x::DOUBLE * y::DOUBLE) AS sxy
        |  FROM sym
        |)
        |SELECT (n / 2.0)::BIGINT AS n_edges,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r
        |FROM a""".stripMargin)),

    // lead-lag cross-correlation: do daily clicks lead daily purchases?
    // Pearson r at every lag in -3..3 from lag-shifted equi-joins of the
    // tiny per-day series, per-lag 1-row results in one job
    Entry("x137_lead_lag", (s, dir) => {
      val ev = Registrar.table(s, dir, "events")
      val daily = ev.groupBy(F.col("event_type"),
          F.datediff(F.to_date(graft.ops.EventOps.tsStamp(ev)),
            F.lit("1970-01-01").cast("date")).as("t"))
        .agg(F.count(F.lit(1)).as("v"))
      graft.ops.Stats.leadLagCorr(
          daily.filter(F.col("event_type") === "click").select("t", "v"),
          daily.filter(F.col("event_type") === "purchase").select("t", "v"),
          "t", "v", maxLag = 3)
        .orderBy("lag")
    },
      // mirrors Stats.leadLagCorr: per-lag shifted equi-join + the corrPairs
      // sufficient-stats tree; day index = date - epoch
      Oracle("""WITH daily AS (
        |  SELECT event_type, (ts::DATE - DATE '1970-01-01') AS t,
        |    count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1, 2
        |), a AS (SELECT t, v FROM daily WHERE event_type = 'click'
        |), b AS (SELECT t, v FROM daily WHERE event_type = 'purchase'
        |), lags AS (
        |  SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag
        |), j AS (
        |  SELECT lag, count(*)::DOUBLE AS n, sum(a.v) AS sx, sum(b.v) AS sy,
        |    sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy,
        |    sum(a.v * b.v) AS sxy
        |  FROM lags JOIN b ON true JOIN a ON b.t - lag = a.t
        |  GROUP BY lag
        |)
        |SELECT lag, n::BIGINT AS n,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r
        |FROM j ORDER BY lag""".stripMargin)),

    // session entry/exit census with bounce counts: which event types
    // open and close sessions — two rank windows over sessionize's own
    // (user, session) partitioning, |types|²-bounded census
    Entry("x138_entry_exit", (s, dir) =>
      graft.ops.EventOps.entryExitCensus(
          Registrar.table(s, dir, "events"))
        .orderBy("entry_type", "exit_type"),
      // mirrors EventOps.entryExitCensus: x13's sessionize CTE + two
      // (epoch µs, event_id) rank windows + the bounce census
      Oracle("""WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |), ranked AS (
        |  SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY epoch_us(ts), event_id) AS rn1,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnN,
        |    count(*) OVER (PARTITION BY user_id, session_seq) AS n
        |  FROM sessions
        |), per AS (
        |  SELECT user_id, session_seq,
        |    min(CASE WHEN rn1 = 1 THEN event_type END) AS entry_type,
        |    min(CASE WHEN rnN = 1 THEN event_type END) AS exit_type,
        |    max(n) AS sz
        |  FROM ranked WHERE rn1 = 1 OR rnN = 1
        |  GROUP BY 1, 2
        |)
        |SELECT entry_type, exit_type, count(*) AS n_sessions,
        |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces
        |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // token burstiness (variance-to-mean ratio across docs, zeros folded
    // in algebraically): Poisson background vs bursty template/topical
    // vocabulary — vocab-bounded census, 1-row doc count broadcast
    Entry("x139_burstiness", (s, dir) =>
      TextOps.tokenBurstiness(
          Registrar.table(s, dir, "documents"),
          "doc_id", "text", minDf = 5, topK = 50),
      // mirrors TextOps.tokenBurstiness: per-(token, doc) counts, zeros
      // folded in via ss - nd*m^2, 9-dp mean, VMR top-50
      Oracle("""WITH pd AS (
        |  SELECT t, doc_id, count(*) AS k FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> length(x) > 0)) AS t
        |    FROM documents) GROUP BY 1, 2
        |), st AS (
        |  SELECT t, count(*) AS df, sum(k) AS s, sum(k * k) AS ss
        |  FROM pd GROUP BY t HAVING count(*) >= 5
        |), nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents
        |), x AS (
        |  SELECT t, df, s, round(s::DOUBLE / nd::DOUBLE, 9) AS mean,
        |    (ss::DOUBLE - nd::DOUBLE
        |      * round(s::DOUBLE / nd::DOUBLE, 9)
        |      * round(s::DOUBLE / nd::DOUBLE, 9)) / (nd::DOUBLE - 1.0) AS var
        |  FROM st CROSS JOIN nd
        |)
        |SELECT t AS token, df, s::BIGINT AS n_total,
        |  round(mean, 6) AS mean,
        |  round(var / nullif(mean, 0.0), 6) AS vmr
        |FROM x ORDER BY vmr DESC, token LIMIT 50""".stripMargin)),

    // corpus-wide keep-first line dedup (Lee et al. at line granularity):
    // seeded multi-line docs (testdata docs are single-line) — a banner on
    // EVERY doc (survives only on doc 1), a promo on mod-3 docs (survives
    // on the first mod-3 doc), a unique tail elsewhere; testdata's own
    // seeded exact-dup docs lose their body line to the earlier copy
    Entry("x68_line_dedup", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val seeded = docs.select(F.col("doc_id"),
        F.concat(
          F.lit("Shared banner\n"),
          F.col("text"),
          F.when(F.col("doc_id") % 3 === 0, F.lit("\nFollow us on example social"))
            .otherwise(F.concat(F.lit("\nunique tail "), F.col("doc_id").cast("string"))))
          .as("text"))
      graft.ops.Curation.dedupLines(seeded, "doc_id", "text")
        .orderBy("doc_id")
    },
      // mirrors Curation.dedupLines over the same seeded multi-line docs:
      // identical normalization (lower/trim), identical keep-first rank
      // (PARTITION BY normalized line ORDER BY doc_id, position), blanks
      // structural, emptied docs as '' via the LEFT JOIN coalesce
      Oracle("""WITH base AS (
        |  SELECT doc_id, 'Shared banner' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Follow us on example social'
        |          ELSE 'unique tail ' || doc_id END) AS t
        |  FROM documents
        |), lists AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS l FROM base
        |), ex0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
        |    i -> {'idx': i, 'line': l[i]})) AS u
        |  FROM lists
        |), ex AS (
        |  SELECT doc_id, u.idx AS idx, u.line AS line FROM ex0
        |), ranked AS (
        |  SELECT doc_id, idx, line,
        |    length(lower(trim(line))) AS ln,
        |    row_number() OVER (PARTITION BY lower(trim(line))
        |                       ORDER BY doc_id, idx) AS rk
        |  FROM ex
        |), agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS t
        |  FROM ranked WHERE ln = 0 OR rk = 1 GROUP BY doc_id
        |)
        |SELECT b.doc_id, coalesce(a.t, '') AS text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin)),

    // epoch-weight mixture resampling: src0 ×2.5 (always 2 copies, a 3rd
    // for half the rows), src1 ×0.4 (pure downsample), src2 ×0 (dropped),
    // everything else ×1.0 (identity) — every factor regime in one entry
    Entry("x60_upsample", (s, dir) =>
      graft.ops.Sampling.upsampleByGroup(
          Registrar.table(s, dir, "documents"),
          F.col("source"), F.col("text"),
          factors = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0),
          defaultFactor = 1.0)
        .select("doc_id", "source", "rep")
        .orderBy("doc_id", "rep"),
      // mirrors Sampling.upsampleByGroup: same factor CASE, same md5-prefix
      // uniform (the x26/x49 '0x'-prefix pattern), floor + fractional-copy
      // decision, range-unnest repetition
      Oracle("""WITH f AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
        |                WHEN 'src2' THEN 0.0 ELSE 1.0 END AS fac,
        |    ('0x' || substring(md5(text), 1, 4))::BIGINT / 65536.0 AS u
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source,
        |    floor(fac)::BIGINT
        |      + CASE WHEN u < fac - floor(fac) THEN 1 ELSE 0 END AS nrep
        |  FROM f
        |)
        |SELECT doc_id, source, unnest(range(0, nrep)) AS rep
        |FROM n WHERE nrep > 0
        |ORDER BY doc_id, rep""".stripMargin)),

    // corpus-boilerplate line removal. Testdata docs are single-line, so
    // the entry seeds deterministic chrome (the x22 fixed-input pattern):
    // a footer on every doc_id%3==0 doc (hot at ANY sf: df = N/3 > 10 for
    // N >= 33) and a header on doc_id < 5 (df = 5 at every sf — kept).
    // Compared via md5 of the cleaned text, not the long string itself.
    Entry("x39_strip_boilerplate", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val seeded = docs.withColumn("text", F.concat(
        F.when(F.col("doc_id") < 5, F.lit("rare header line\n")).otherwise(F.lit("")),
        F.col("text"),
        F.when(F.col("doc_id") % 3 === 0, F.lit("\nCopyright Footer 2026"))
          .otherwise(F.lit(""))))
      graft.ops.Curation.stripBoilerplateLines(seeded, "text", maxDocFreq = 10)
        .select(F.col("doc_id"), F.length(F.col("text")).as("clean_len"),
          F.md5(F.col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      // mirrors Curation.stripBoilerplateLines: per-doc DISTINCT normalized
      // lines → doc-frequency > 10 → hot set as one list → list_filter rewrite
      Oracle("""WITH seeded AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id < 5 THEN 'rare header line' || chr(10) ELSE '' END)
        |    || text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Copyright Footer 2026' ELSE '' END) AS text
        |  FROM documents
        |), ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM seeded),
        |n AS (SELECT doc_id, unnest(list_distinct(list_transform(lines,
        |        l -> lower(trim(l))))) AS nl FROM ls),
        |hot AS (SELECT nl FROM n WHERE length(nl) > 0 GROUP BY nl HAVING count(*) > 10),
        |hl AS (SELECT coalesce(list(nl), []) AS hs FROM hot),
        |clean AS (
        |  SELECT doc_id, array_to_string(list_filter(lines,
        |    l -> NOT list_contains(h.hs, lower(trim(l)))), chr(10)) AS text
        |  FROM ls, hl h
        |)
        |SELECT doc_id, length(text) AS clean_len, md5(text) AS clean_md5
        |FROM clean ORDER BY doc_id""".stripMargin)),

    // int8 scalar quantization of the embedding store (codes as CSV so the
    // hash compare is engine-neutral; scale/max_err are exact IEEE doubles)
    Entry("x40_quantize", (s, dir) =>
      graft.ops.Similarity.quantize(Registrar.table(s, dir, "embeddings"), "embedding")
        .select(F.col("vec_id"), F.col("scale"),
          F.concat_ws(",", F.transform(F.col("q"), _.cast("string"))).as("q_csv"),
          F.col("max_err"))
        .orderBy("vec_id"),
      // mirrors Similarity.quantize: scale = max|v|/127, codes floor(x+0.5)
      // (round-half-up spelled explicitly — engine round() tie rules differ)
      Oracle("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM v
        |), q AS (
        |  SELECT vec_id, v, m / 127 AS scale,
        |    CASE WHEN m = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> floor(x / m * 127 + 0.5)::INT) END AS q
        |  FROM m
        |)
        |SELECT vec_id, scale,
        |  array_to_string(q, ',') AS q_csv,
        |  coalesce(list_max(list_transform(range(1, len(v)+1),
        |    i -> abs(v[i] - q[i] * scale))), 0.0) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin)),

    // deterministic train/val/test assignment by content hash
    Entry("x41_split_assign", (s, dir) =>
      graft.ops.Sampling.splitAssign(Registrar.table(s, dir, "documents"),
          F.col("text"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id"),
      // mirrors Sampling.splitAssign(0.8/0.1/0.1): 0cccd = round(.8*65536),
      // 0e666 = round(.9*65536) in the '0'-prefixed %05x interval scheme;
      // coalesce matches keyStr's null-as-empty-string (md5(NULL) is NULL in
      // DuckDB and would fall through to 'test' instead of 'train')
      Oracle("""SELECT doc_id,
        |  CASE WHEN '0' || substring(md5(coalesce(text, '')), 1, 4) < '0cccd' THEN 'train'
        |       WHEN '0' || substring(md5(coalesce(text, '')), 1, 4) < '0e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // one-pass per-column profile of the documents table
    Entry("x38_profile", (s, dir) =>
      graft.ops.Curation.profile(Registrar.table(s, dir, "documents"))
        .orderBy("col_name"),
      Oracle("""SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |    count(*) - count(doc_id) AS n_nulls, count(DISTINCT doc_id) AS n_distinct FROM documents
        |  UNION ALL SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text) FROM documents
        |  UNION ALL SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang) FROM documents
        |  UNION ALL SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source) FROM documents
        |  UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars) FROM documents
        |) ORDER BY col_name""".stripMargin)),

    // top-5 TF-IDF terms per doc; rank on integer keys, never the float
    Entry("x37_tfidf", (s, dir) =>
      TextOps.topTfidfTerms(Registrar.table(s, dir, "documents"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk"),
      Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(tf * ln(n::DOUBLE / df), 6) AS tfidf, rk
        |FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df, n.n,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rk
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin)),

    // overlapping character windows (chunk 200, overlap 50 → step 150)
    Entry("x36_chunk", (s, dir) =>
      TextOps.chunk(Registrar.table(s, dir, "documents"), "text",
          chunkChars = 200, overlapChars = 50)
        .select(F.col("doc_id"), F.col("chunk_idx"), F.length(F.col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "chunk_idx"),
      // chunk text selected as length only (the text itself hash-compares
      // awkwardly across engines' parquet string handling of huge rows)
      Oracle("""SELECT doc_id,
        |  ((i - 1) // 150)::INT AS chunk_idx,
        |  length(substring(text, i::INT, 200)) AS chunk_len
        |FROM (SELECT doc_id, text,
        |        unnest(range(1, greatest(length(text) - 50, 1) + 1, 150)) AS i
        |      FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // concat-and-chunk sequence packing: per-source running token total,
    // bin = tokens-before / 512
    Entry("x33_pack_sequences", (s, dir) =>
      graft.ops.Curation.packSequences(
          Registrar.table(s, dir, "documents")
            .withColumn("n_tokens", TextOps.tokenCount(F.col("text"))),
          "source", "doc_id", "n_tokens", maxTokens = 512)
        .select("doc_id", "source", "n_tokens", "bin")
        .orderBy("doc_id"),
      // ::BIGINT — DuckDB window sum(BIGINT) yields HUGEINT, which Arrow
      // surfaces as float64 and the driver then hashes 3.0 vs Spark's 3
      Oracle("""SELECT doc_id, source, n_tokens,
        |  (coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512)::BIGINT AS bin
        |FROM (SELECT doc_id, source,
        |        len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // per-source median gate: keep each source's upper half by n_chars
    Entry("x34_group_quantile", (s, dir) =>
      graft.ops.Curation.filterByGroupQuantile(
          Registrar.table(s, dir, "documents"), "source", "n_chars", q = 0.5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // quantile_cont ≡ Spark's exact interpolating percentile (cf. x21)
      Oracle("""SELECT doc_id, source, n_chars FROM documents
        |JOIN (SELECT source, quantile_cont(n_chars, 0.5) AS thr
        |      FROM documents GROUP BY source) USING (source)
        |WHERE n_chars >= thr ORDER BY doc_id""".stripMargin)),

    // sampleFrames' row-expansion math under an oracle: x18's media table
    // derives `kind` from Spark's xxhash64 (not DuckDB-replayable), so this
    // entry feeds the SAME operator a doc_id%3 kind assignment DuckDB can
    // reproduce — the duration/frame-count/timestamp logic is then exact
    Entry("x32_frame_math", (s, dir) => {
      implicit val sp = s
      val media = Registrar.table(s, dir, "documents").select(
        F.col("doc_id"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) === 2, "video")
          .otherwise("image").as("kind"),
        F.lit(640).as("width"), F.lit(480).as("height"),
        F.encode(F.col("text"), "UTF-8").as("media"))
      Multimodal.sampleFrames(media).toDF()
        .select("doc_id", "frame_idx", "ts_ms")
        .orderBy("doc_id", "frame_idx")
    },
      // stub duration: 100 bytes/ms; frames every 1000 ms, max 8 (integer division)
      Oracle("""WITH v AS (
        |  SELECT doc_id,
        |    greatest(octet_length(encode(text)) // 100, 1) AS dur
        |  FROM documents WHERE doc_id % 3 = 2
        |), f AS (
        |  SELECT doc_id, unnest(range(0, least(8, dur // 1000 + 1))) AS i FROM v
        |)
        |SELECT doc_id, i::INT AS frame_idx, (i * 1000)::BIGINT AS ts_ms
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // nprobe=4 of 8 cells: measured recall 0.85 vs bruteKnn (OpsSpec pins
    // the floor at 0.80; round 2's nprobe=2 measured only 0.53)
    Entry("x17_knn_ivf", (s, dir) => {
      val emb = Registrar.table(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.filter(F.col("vec_id") < 20), "vec_id", "embedding",
          k = 3, nlist = 8, nprobe = 4)
        .orderBy("query_id", "rk")
    },
      PinnedBy("x90_ivf_knn_twin")),

    Entry("x16_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(Registrar.table(s, dir, "documents"),
          "doc_id", "text", minShared = 5)
        .orderBy("a", "b"),
      PinnedBy("x42_winnow_fixed")),

    // the exact verify stage of the dedup pipeline (ngramJaccard), oracled:
    // x04 feeds it LSH candidates (not SQL-reproducible), so this entry
    // feeds a DETERMINISTIC pair list — (d, d+1) for doc_id % 7 == 0 —
    // and DuckDB recomputes the same jaccard over raw distinct 5-gram sets.
    // Spark's sets hold xxhash64(shingle); set SIZES match the raw-substring
    // sets exactly unless the hash collides (~N²/2⁶⁴ — absent here), so the
    // intersect/union ratio is the identical rational number in both engines.
    Entry("x22_ngram_jaccard_fixed", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"), (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 7 === 0)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
        .orderBy("a", "b")
    },
      // mirrors Dedup.shingleSets: lower, collapse whitespace, all 5-char
      // substrings (short texts yield their single truncated shingle via the
      // greatest(...,1) floor), distinct → set jaccard per fixed pair
      Oracle("""WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substring(t, i, 5))) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 7 = 0
        |)
        |SELECT p.a, p.b,
        |  len(list_intersect(sa.s, sb.s))::DOUBLE
        |    / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
        |FROM pairs p
        |JOIN sh sa ON sa.doc_id = p.a
        |JOIN sh sb ON sb.doc_id = p.b
        |ORDER BY a, b""".stripMargin)),

    // connected components over a deterministic pair graph (chains of 4:
    // edges (d,d+1) for d%10 in 0..2) — the pairs→clusters stage of the
    // dedup pipeline; DuckDB verifies via recursive-CTE reachability
    Entry("x23_components", (s, dir) => {
      val ids = Registrar.table(s, dir, "documents").select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"), (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 10 < 3)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      graft.ops.Components.connectedComponents(pairs).orderBy("v")
    },
      // min-reachable-vertex per node ≡ min-label-propagation fixpoint
      Oracle("""WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 10 < 3
        |), e AS (
        |  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
        |), r AS (
        |  SELECT x AS v, x AS u FROM e
        |  UNION
        |  SELECT r.v, e.y FROM r JOIN e ON e.x = r.u
        |)
        |SELECT v, min(u) AS component FROM r GROUP BY v ORDER BY v""".stripMargin)),

    // pairs → components → drop non-representatives: the full "smaller
    // corpus" end of the dedup pipeline, on x23's deterministic pair graph
    Entry("x35_dedup_by_pairs", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      val ids = docs.select("doc_id")
      val pairs = ids.select(F.col("doc_id").as("a"), (F.col("doc_id") + 1).as("b"))
        .filter(F.col("a") % 10 < 3)
        .join(ids.select(F.col("doc_id").as("b")), Seq("b"), "leftsemi")
      graft.ops.Components.dedupByPairs(docs, "doc_id", pairs)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
      // survivors = docs whose min-reachable vertex is themselves (or no pairs)
      Oracle("""WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 10 < 3
        |), e AS (
        |  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
        |), r AS (
        |  SELECT x AS v, x AS u FROM e
        |  UNION
        |  SELECT r.v, e.y FROM r JOIN e ON e.x = r.u
        |), losers AS (
        |  SELECT v FROM r GROUP BY v HAVING v != min(u)
        |)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT v FROM losers)
        |ORDER BY doc_id""".stripMargin)),

    // Gopher/C4-style within-document repetition signals
    Entry("x24_repetition", (s, dir) =>
      TextOps.withRepetition(Registrar.table(s, dir, "documents"), "text")
        .select("doc_id", "dup_line_fraction", "dup_bigram_fraction")
        .orderBy("doc_id"),
      Oracle("""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> length(l) > 0) AS lines,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(lines) > 0
        |       THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
        |       ELSE 0.0 END AS dup_line_fraction,
        |  CASE WHEN len(toks) >= 2
        |       THEN 1.0 - len(list_distinct(list_transform(range(1, len(toks)),
        |              i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
        |       ELSE 0.0 END AS dup_bigram_fraction
        |FROM t ORDER BY doc_id""".stripMargin)),

    // eval-set decontamination: 8-gram overlap vs the doc_id%50==0
    // "benchmark" slice (benchmark members flag themselves — expected)
    Entry("x25_decontaminate", (s, dir) => {
      val docs = Registrar.table(s, dir, "documents")
      Dedup.contamination(docs, docs.filter(F.col("doc_id") % 50 === 0),
          "doc_id", "text", shingleSize = 8, minShared = 5)
        .orderBy("doc_id")
    },
      // mirrors Dedup.shingleSets at n=8 (cf. x22); bench slice = doc_id%50==0
      Oracle("""WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
        |      i -> substring(t, i, 8))) AS s
        |  FROM t
        |), ex AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh
        |), bench AS (
        |  SELECT DISTINCT g FROM ex WHERE doc_id % 50 = 0
        |), hits AS (
        |  SELECT e.doc_id, count(DISTINCT e.g) AS n_shared
        |  FROM ex e JOIN bench b ON b.g = e.g GROUP BY 1
        |)
        |SELECT s.doc_id, coalesce(h.n_shared, 0) AS n_shared,
        |  coalesce(h.n_shared, 0) >= 5 AS contaminated
        |FROM sh s LEFT JOIN hits h ON h.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // deterministic content-hash sampling (reproducible across engines,
    // partitionings, and runs — unlike df.sample)
    Entry("x26_hash_sample", (s, dir) =>
      graft.ops.Sampling.hashSample(
          Registrar.table(s, dir, "documents"), F.col("text"), rate = 0.1)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      // round(0.1 * 65536) = 6554 = 0x199a — identical subset in any engine
      Oracle("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(text), 1, 4) < '199a'
        |ORDER BY doc_id""".stripMargin)),

    // deterministic per-source cap (domain-cap): content-hash-ranked top-10
    // per source — rank filter compiles to WindowGroupLimit
    Entry("x27_cap_per_group", (s, dir) =>
      graft.ops.Sampling.capPerGroup(
          Registrar.table(s, dir, "documents"),
          F.col("source"), F.col("text"), maxPerGroup = 10,
          tieBreak = Seq(F.col("doc_id")))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(text), text, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin)),

    // corpus-mixture sampling: per-source keep rates decided by content
    // hash (src0 all, src1 half, src2 quarter, rest 5%)
    Entry("x28_mixture_sample", (s, dir) =>
      graft.ops.Sampling.hashSampleByGroup(
          Registrar.table(s, dir, "documents"),
          F.col("source"), F.col("text"),
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.05)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      // thresholds: 1.0→10000, 0.5→08000, 0.25→04000, default 0.05→00ccd
      Oracle("""SELECT doc_id, source FROM documents
        |WHERE '0' || substring(md5(text), 1, 4) <
        |  CASE source WHEN 'src0' THEN '10000' WHEN 'src1' THEN '08000'
        |              WHEN 'src2' THEN '04000' ELSE '00ccd' END
        |ORDER BY doc_id""".stripMargin)),

    // per-label centroids + cosine-to-own-centroid outlier score
    Entry("x29_centroid_scores", (s, dir) =>
      Similarity.centroidScores(
          Registrar.table(s, dir, "embeddings"),
          "vec_id", "label", "embedding")
        .orderBy("vec_id"),
      Oracle("""WITH c AS (
        |  SELECT label, p, avg(v::DOUBLE) AS a FROM (
        |    SELECT label, unnest(embedding) AS v,
        |           generate_subscripts(embedding, 1) AS p
        |    FROM embeddings)
        |  GROUP BY label, p
        |), cent AS (
        |  SELECT label, list(a ORDER BY p) AS centroid FROM c GROUP BY label
        |)
        |SELECT e.vec_id, e.label,
        |  list_sum(list_transform(range(1, len(e.embedding) + 1),
        |    i -> e.embedding[i]::DOUBLE * cent.centroid[i]))
        |  / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |     * sqrt(list_sum(list_transform(cent.centroid, x -> x * x)))) AS cos_centroid
        |FROM embeddings e JOIN cent USING (label)
        |ORDER BY e.vec_id""".stripMargin)),

    // C4-style PII scrubbing: emails/URLs/long digit runs → placeholders
    Entry("x30_redact", (s, dir) =>
      Registrar.table(s, dir, "documents")
        .select(F.col("doc_id"), TextOps.redact(F.col("text")).as("redacted"))
        .orderBy("doc_id"),
      // same three regexes, same order; DuckDB needs the explicit 'g' flag
      Oracle("""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '\d{7,}', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // the composed curation pipeline: quality gate → hash sample → exact
    // dedup → per-source cap, every stage individually oracled (x24/x26/
    // x01/x27); this entry proves the COMPOSITION is replayable
    Entry("x31_curate", (s, dir) =>
      graft.ops.Curation.curate(
          Registrar.table(s, dir, "documents"),
          "doc_id", "text", "source",
          minTokens = 5, maxDupLineFrac = 0.9, sampleRate = 0.5, capPerSource = 8)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // stage formulas are the proven x24/x26/x01/x27 oracles, chained
      Oracle("""WITH rep AS (
        |  SELECT doc_id, source, n_chars, text,
        |    CASE WHEN len(list_filter(list_transform(string_split(text, chr(10)),
        |                  l -> trim(l)), l -> length(l) > 0)) > 0
        |         THEN 1.0 - len(list_distinct(list_filter(list_transform(
        |                  string_split(text, chr(10)), l -> trim(l)),
        |                  l -> length(l) > 0)))::DOUBLE
        |              / len(list_filter(list_transform(string_split(text, chr(10)),
        |                  l -> trim(l)), l -> length(l) > 0))
        |         ELSE 0.0 END AS dup_line_fraction
        |  FROM documents
        |), gated AS (
        |  SELECT doc_id, source, n_chars, text FROM rep
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 5
        |    AND dup_line_fraction <= 0.9
        |), sampled AS (
        |  SELECT * FROM gated WHERE substring(md5(text), 1, 4) < '8000'
        |), dedup AS (
        |  SELECT doc_id, source, n_chars, text FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |    FROM sampled) WHERE rn = 1
        |), capped AS (
        |  SELECT doc_id, source, n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY md5(text), text) AS rk
        |    FROM dedup) WHERE rk <= 8
        |)
        |SELECT doc_id, source, n_chars FROM capped ORDER BY doc_id""".stripMargin)),

    // native sketch expression reached through a PRQL s-string — exercises
    // the GraftExtensions SQL registration end-to-end (rows-only check: no
    // DuckDB equivalent of our simhash64)
    Entry("x15_simhash_sstring", q(
      """from documents
        |derive [sh = s"simhash64({text})"]
        |select [doc_id, sh]
        |sort doc_id""".stripMargin),
      PinnedBy("x44_simhash_fixed")),
  )
}
