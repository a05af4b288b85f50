package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.prql.Graft

/** End-to-end compiler tests on the driver testdata (sf0.001), each asserting
  * equality against the equivalent Spark SQL — a local stand-in for the
  * driver's DuckDB oracle. */
class PrqlCompilerSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkTest.session
  lazy val tables: Map[String, DataFrame] =
    graft.sources.Registrar.loadParquetDir(spark, dir)

  def prql(q: String): DataFrame = Graft.compile(q, tables)(spark)

  def assertSameAs(df: DataFrame, sql: String): Unit = {
    val expected = spark.sql(sql)
    assert(df.columns.toSeq == expected.columns.toSeq,
      s"schema mismatch: ${df.columns.toSeq} vs ${expected.columns.toSeq}")
    val a = df.collect().map(_.toString).toSeq
    val b = expected.collect().map(_.toString).toSeq
    assert(a == b, s"rows mismatch:\n got ${a.take(5)}\n exp ${b.take(5)}")
  }

  test("take with sort") {
    assertSameAs(
      prql("from lineitem | sort [l_orderkey, l_linenumber] | take 5"),
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5")
  }

  test("select + derive arithmetic") {
    assertSameAs(
      prql("""from lineitem
             |derive [disc_price = l_extendedprice * (1 - l_discount)]
             |select [l_orderkey, l_linenumber, disc_price]
             |sort [l_orderkey, l_linenumber]
             |take 10""".stripMargin),
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) AS disc_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10""".stripMargin)
  }

  test("filter with date literal and boolean ops") {
    assertSameAs(
      prql("""from lineitem
             |filter l_shipdate < @1995-01-01 and l_quantity > 30
             |aggregate [n = count, qty = sum l_quantity]""".stripMargin),
      """SELECT count(1) AS n, sum(l_quantity) AS qty FROM lineitem
        |WHERE l_shipdate < DATE '1995-01-01' AND l_quantity > 30""".stripMargin)
  }

  test("group by + aggregate (TPC-H Q1 shape)") {
    assertSameAs(
      prql("""from lineitem
             |group [l_returnflag, l_linestatus] (
             |  aggregate [
             |    sum_qty = sum l_quantity,
             |    sum_base_price = sum l_extendedprice,
             |    avg_disc = average l_discount,
             |    n = count,
             |  ]
             |)
             |sort [l_returnflag, l_linestatus]""".stripMargin),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price, avg(l_discount) AS avg_disc,
        |  count(1) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  test("derived-key group") {
    assertSameAs(
      prql("""from orders
             |derive [month = s"STRFTIME('%Y-%m', {o_orderdate})"]
             |group [month] (aggregate [total = sum o_totalprice, n = count])
             |sort month""".stripMargin),
      """SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
        |  sum(o_totalprice) AS total, count(1) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  test("condition join with aliases") {
    assertSameAs(
      prql("""from o=orders
             |join side:inner c=customer [o.o_custkey == c.c_custkey]
             |select [o_orderkey, c_name, o_totalprice]
             |sort o_orderkey
             |take 20""".stripMargin),
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey LIMIT 20""".stripMargin)
  }

  test("USING join via derived key + let binding") {
    assertSameAs(
      prql("""let r2 = (from region | derive [regionkey = r_regionkey] | select [regionkey, r_name])
             |from nation
             |derive [regionkey = n_regionkey]
             |join r2 [==regionkey]
             |select [n_name, r_name]
             |sort n_name""".stripMargin),
      """WITH r2 AS (SELECT r_regionkey AS regionkey, r_name FROM region)
        |SELECT n_name, r_name FROM
        |  (SELECT *, n_regionkey AS regionkey FROM nation) n
        |  JOIN r2 USING (regionkey)
        |ORDER BY n_name""".stripMargin)
  }

  test("left join produces nulls + coalesce ??") {
    assertSameAs(
      prql("""let bigcust = (from customer | filter c_acctbal > 9000.0)
             |from o=orders
             |join side:left b=bigcust [o.o_custkey == b.c_custkey]
             |derive [nm = b.c_name ?? "none"]
             |select [o_orderkey, nm]
             |sort o_orderkey
             |take 50""".stripMargin),
      """WITH bigcust AS (SELECT * FROM customer WHERE c_acctbal > 9000.0)
        |SELECT o_orderkey, coalesce(b.c_name, 'none') AS nm
        |FROM orders o LEFT JOIN bigcust b ON o.o_custkey = b.c_custkey
        |ORDER BY o_orderkey LIMIT 50""".stripMargin)
  }

  test("flagship: invoice_totals pattern (derived keys, window expanding, lag)") {
    // mirrors /root/reference/examples/queries/invoice_totals.prql:1-21 on
    // orders/lineitem; expected SQL shape at reference README.md:105-129
    assertSameAs(
      prql("""from o=orders
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
             |take 30""".stripMargin),
      """WITH daily AS (
        |  SELECT date_format(o.o_orderdate, 'yyyy-MM') AS month,
        |         date_format(o.o_orderdate, 'yyyy-MM-dd') AS day,
        |         COUNT(DISTINCT o.o_orderkey) AS num_orders,
        |         SUM(l.l_quantity) AS num_items,
        |         SUM(l.l_extendedprice * (1 - l.l_discount)) AS total_price
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2)
        |SELECT month, day, num_orders, num_items, total_price,
        |  SUM(num_items) OVER (PARTITION BY month ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total_num_items,
        |  LAG(num_items, 7) OVER (ORDER BY day) AS num_items_last_week
        |FROM daily ORDER BY day LIMIT 30""".stripMargin)
  }

  test("window rolling + ranking functions per group") {
    assertSameAs(
      prql("""from lineitem
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
      """SELECT l_suppkey, l_orderkey, l_linenumber, qty_3, rn FROM (
        |  SELECT *,
        |    SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS qty_3,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 2 ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)
  }

  test("take range → offset/limit") {
    assertSameAs(
      prql("from customer | sort c_custkey | take 11..20"),
      "SELECT * FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 10")
  }

  test("append = UNION ALL") {
    assertSameAs(
      prql("""let hi = (from supplier | filter s_acctbal > 9000.0)
             |let lo = (from supplier | filter s_acctbal < -900.0)
             |from hi
             |append lo
             |sort s_suppkey""".stripMargin),
      """SELECT * FROM (
        |  SELECT * FROM supplier WHERE s_acctbal > 9000.0
        |  UNION ALL
        |  SELECT * FROM supplier WHERE s_acctbal < -900.0)
        |ORDER BY s_suppkey""".stripMargin)
  }

  test("switch conditional") {
    assertSameAs(
      prql("""from customer
             |derive [tier = switch [
             |  c_acctbal >= 5000.0 -> "gold",
             |  c_acctbal >= 0.0 -> "silver",
             |  true -> "bronze",
             |]]
             |group [tier] (aggregate [n = count])
             |sort tier""".stripMargin),
      """SELECT CASE WHEN c_acctbal >= 5000.0 THEN 'gold'
        |            WHEN c_acctbal >= 0.0 THEN 'silver'
        |            ELSE 'bronze' END AS tier, count(1) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  test("f-string concat") {
    assertSameAs(
      prql("""from nation
             |derive [label = f"{n_name}-{n_nationkey}"]
             |select [label]
             |sort label""".stripMargin),
      """SELECT concat(n_name, '-', cast(n_nationkey AS string)) AS label
        |FROM nation ORDER BY label""".stripMargin)
  }

  test("in range membership") {
    assertSameAs(
      prql("""from part
             |filter (p_size | in 10..20)
             |select [p_partkey, p_size]
             |sort p_partkey""".stripMargin),
      """SELECT p_partkey, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey""".stripMargin)
  }

  test("user func inlined at compile time") {
    assertSameAs(
      prql("""func fahrenheit c -> c * 9 / 5 + 32
             |from supplier
             |derive [f = fahrenheit s_acctbal]
             |select [s_suppkey, f]
             |sort s_suppkey
             |take 10""".stripMargin),
      """SELECT s_suppkey, s_acctbal * 9 / 5 + 32 AS f
        |FROM supplier ORDER BY s_suppkey LIMIT 10""".stripMargin)
  }

  test("filter after aggregate = HAVING") {
    assertSameAs(
      prql("""from orders
             |group [o_custkey] (aggregate [total = sum o_totalprice])
             |filter total > 500000.0
             |sort o_custkey""".stripMargin),
      """SELECT o_custkey, sum(o_totalprice) AS total FROM orders
        |GROUP BY 1 HAVING total > 500000.0 ORDER BY 1""".stripMargin)
  }

  test("sort desc") {
    assertSameAs(
      prql("from customer | sort [-c_acctbal, c_custkey] | select [c_custkey, c_acctbal] | take 5"),
      "SELECT c_custkey, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5")
  }

  test("group take = per-group top-n") {
    assertSameAs(
      prql("""from lineitem
             |group [l_returnflag] (
             |  sort [-l_extendedprice, l_orderkey, l_linenumber]
             |  take 3
             |)
             |select [l_returnflag, l_orderkey, l_linenumber, l_extendedprice]
             |sort [l_returnflag, l_orderkey, l_linenumber]""".stripMargin),
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 3
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)
  }

  test("switch with only a default case is the constant") {
    assertSameAs(
      prql("""from nation
             |derive [tag = switch [true -> "all"]]
             |select [n_nationkey, tag]
             |sort n_nationkey
             |take 3""".stripMargin),
      "SELECT n_nationkey, 'all' AS tag FROM nation ORDER BY n_nationkey LIMIT 3")
  }

  test("sqlshim: strftime inside string literals and longer identifiers untouched") {
    import graft.prql.SqlShim
    assert(SqlShim.translate("STRFTIME('%Y-%m', x)") == "date_format(x, 'yyyy-MM')")
    assert(SqlShim.translate("replace(c, 'strftime(', '')") == "replace(c, 'strftime(', '')")
    assert(SqlShim.translate("my_strftime(a, b)") == "my_strftime(a, b)")
    assert(SqlShim.translate("concat(STRFTIME('%Y', a), strftime('%m', b))") ==
      "concat(date_format(a, 'yyyy'), date_format(b, 'MM'))")
  }

  test("sqlshim: DuckDB rename tail (VERDICT r2 #4) — one case per rename") {
    import graft.prql.SqlShim
    // the regex literal also gains a doubled backslash: DuckDB strings are
    // escape-free, Spark's parser would eat the lone '\' ('\s+' → 's+')
    assert(SqlShim.translate("string_split_regex(trim(t), '\\s+')") ==
      "SPLIT(trim(t), '\\\\s+')")
    assert(SqlShim.translate("regexp_replace(t, '\\d', 'x', 'g')") ==
      "regexp_replace(t, '\\\\d', 'x', 'g')")
    assert(SqlShim.translate("quantile_cont(value, 0.5)") == "PERCENTILE(value, 0.5)")
    // epoch_us needs type adaptation, not a bare rename: parquet timestamps
    // scan as TIMESTAMP_NTZ, which Spark's unix_micros rejects
    assert(SqlShim.translate("epoch_us(ts) - epoch_us(t0)") ==
      "unix_micros(cast(ts as timestamp)) - unix_micros(cast(t0 as timestamp))")
    assert(SqlShim.translate("list_transform(xs, x -> x + 1)") ==
      "TRANSFORM(xs, x -> x + 1)")
    assert(SqlShim.translate("list_filter(xs, x -> x > 4)") == "FILTER(xs, x -> x > 4)")
    assert(SqlShim.translate("list_distinct(xs)") == "ARRAY_DISTINCT(xs)")
    assert(SqlShim.translate("list_contains(xs, 3)") == "ARRAY_CONTAINS(xs, 3)")
    // octet_length: Spark-native, must pass through untouched AND parse
    assert(SqlShim.translate("octet_length(text)") == "octet_length(text)")
    assert(spark.sql("SELECT octet_length('héllo')").head.getInt(0) == 6)
    // `string_split` must not fire inside `string_split_regex` (underscore
    // is a word char — pinned so a rename-table reorder can't regress it)
    assert(!SqlShim.translate("string_split_regex(t, ',')").contains("SPLIT_REGEX"))
    // aggregate FILTER (WHERE ...) syntax is untouched by the list_filter rename
    assert(SqlShim.translate("count(*) FILTER (WHERE x > 0)") ==
      "count(*) FILTER (WHERE x > 0)")
    // the renamed fragments execute on Spark for real
    val r = spark.sql(
      "SELECT " + SqlShim.translate(
        "size(list_filter(string_split_regex('a bb ccc dddd', '\\s+'), x -> octet_length(x) > 1)), " +
        "quantile_cont(v, 0.5), max(epoch_us(ts))") +
      " FROM VALUES (1.0, timestamp'2026-01-01 00:00:00Z'), (3.0, timestamp'2026-01-02 00:00:00Z') AS t(v, ts)").head
    assert(r.getInt(0) == 3)
    assert(r.getDouble(1) == 2.0)
    assert(r.getLong(2) == 1767312000000000L)
  }

  test("driver t1 smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rolling window works with any aggregate (avg, min)") {
    assertSameAs(
      prql("""from orders
             |group [o_custkey] (
             |  sort [o_orderdate, o_orderkey]
             |  window rolling:4 (
             |    derive [avg4 = average o_totalprice, min4 = min o_totalprice]
             |  )
             |  derive [rn = row_number]
             |)
             |filter rn <= 2
             |select [o_custkey, o_orderkey, avg4, min4]
             |sort [o_custkey, o_orderkey]""".stripMargin),
      """SELECT o_custkey, o_orderkey, avg4, min4 FROM (
        |  SELECT o_custkey, o_orderkey,
        |    AVG(o_totalprice) OVER w AS avg4,
        |    MIN(o_totalprice) OVER w AS min4,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
        |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  test("in with a list literal = IS IN") {
    assertSameAs(
      prql("""from nation
             |filter (n_name | in ["CHINA", "FRANCE", "KENYA"])
             |select [n_nationkey, n_name]
             |sort n_nationkey""".stripMargin),
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_name IN ('CHINA', 'FRANCE', 'KENYA')
        |ORDER BY n_nationkey""".stripMargin)
  }

  test("date-literal range: `in @a..@b` lexes as two dates, not one (fuzz find)") {
    // the date lexer used to swallow the `..` range operator into the
    // literal (`@2020-01-01..` became one TDate) — found by the
    // PrinterRoundTripSpec parse/print fuzz
    assertSameAs(
      prql("""from orders
             |filter (o_orderdate | in @1993-01-01..@1993-12-31)
             |select [o_orderkey, o_orderdate]
             |sort o_orderkey""".stripMargin),
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate BETWEEN DATE '1993-01-01' AND DATE '1993-12-31'
        |ORDER BY o_orderkey""".stripMargin)
  }

  test("malformed queries fail loudly at compile time, never wrong results") {
    intercept[Exception](prql("from"))                          // missing table name
    intercept[Exception](prql("frmo lineitem"))                 // unknown transform
    intercept[Exception](prql("from lineitem | take x"))        // non-int take
    intercept[Exception](prql("from nosuchtable | take 5"))     // unknown table
    intercept[Exception](prql("from lineitem | select [l_nope]").collect()) // unknown column
    intercept[Exception](prql("from lineitem | group [l_returnflag] (")) // unbalanced paren
  }

  test("parse errors carry line/column and a caret snippet") {
    val e = intercept[Exception](prql("from lineitem\ntkae 5"))
    assert(e.getMessage.contains("line 2, column 1"), e.getMessage)
    assert(e.getMessage.contains("tkae 5") && e.getMessage.contains("^"), e.getMessage)
    // lexer-level errors render the same way
    val el = intercept[Exception](prql("from lineitem\nfilter a ~ 1"))
    assert(el.getMessage.contains("line 2") && el.getMessage.contains("^"), el.getMessage)
  }

  test("loop: iterative union until the step yields no rows") {
    val out = prql(
      """from region
        |take 1
        |select [n = 1]
        |loop (
        |  filter n < 5
        |  derive [n = n + 1]
        |)
        |sort n""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("loop: a small frontier stays on the driver, so q28 lowers with at most 2 jobs") {
    import graft.prql.{Lowering, Parser}
    val q28 = Parser.parse(
      """from region
        |take 1
        |select [n = 1]
        |loop (
        |  filter n < 8
        |  derive [n = n + 1]
        |)
        |sort n""".stripMargin)
    val env = Lowering.Env(spark, tables, Map.empty, Map.empty)
    // one bounded anchor probe; every round folds over a LocalRelation (a
    // checkpoint and an emptiness job per round would make 17)
    val (df, jobs) = SparkTest.jobsDuring(Lowering.lowerQuery(q28, env))
    assert(jobs <= 2, s"$jobs jobs fired while lowering q28")
    assert(df.collect().map(_.getLong(0)).toSeq == (1L to 8L))
  }

  test("loop: an INT anchor unioned with BIGINT steps widens to BIGINT") {
    val df = prql(
      """from region
        |select [n = r_regionkey]
        |loop (
        |  filter n < 20
        |  sort n
        |  take 2
        |  derive [n = n + 10]
        |)""".stripMargin)
    assert(spark.table("region").schema("r_regionkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L))
  }

  test("loop: frontiers crossing the 100-row cutoff in both directions") {
    // large all the way, then empty
    val n = spark.table("orders").count()
    assert(n > 100)
    val agg = prql(
      """from orders
        |select [k = o_orderkey, d = 0]
        |loop (
        |  filter d < 3
        |  derive [d = d + 1]
        |)
        |aggregate [c = count, s = sum d]""".stripMargin).collect().head
    assert((agg.getLong(0), agg.getLong(1)) == (4 * n, 6 * n))
    // large anchor, then small frontiers down to empty; checked against
    // Spark's own recursive CTE
    assertSameAs(
      prql(
        """from orders
          |select [k = o_orderkey]
          |loop (
          |  filter k > 0 and k <= 64
          |  derive [k = k * 2]
          |)
          |sort k""".stripMargin),
      """WITH RECURSIVE t(k) AS (
        |  SELECT CAST(o_orderkey AS BIGINT) FROM orders
        |  UNION ALL SELECT k * 2 FROM t WHERE k > 0 AND k <= 64)
        |SELECT k FROM t ORDER BY k""".stripMargin)
    // small anchor, a large step, then empty
    assertSameAs(
      prql(
        """from nation
          |select [k = n_nationkey, d = 0]
          |loop (
          |  filter d == 0
          |  join orders [k == o_custkey % 25]
          |  select [k = o_orderkey, d = 1]
          |)
          |sort [k, d]""".stripMargin),
      """SELECT n_nationkey AS k, 0 AS d FROM nation
        |UNION ALL
        |SELECT o_orderkey, 1 FROM nation JOIN orders ON n_nationkey = o_custkey % 25
        |ORDER BY k, d""".stripMargin)
  }

  test("loop: an empty anchor gives no rows with the anchor's schema") {
    val anchor = prql("from region | select [n = r_regionkey, name = r_name] | filter n < 0")
    val df = prql(
      """from region
        |select [n = r_regionkey, name = r_name]
        |filter n < 0
        |loop (derive [n = n + 1])""".stripMargin)
    assert(df.schema == anchor.schema)
    assert(df.collect().isEmpty)
  }

  test("loop: a step that never empties fails loudly at the iteration cap") {
    val e = intercept[graft.prql.Lowering.LowerError](prql(
      """from region
        |take 1
        |select [n = 1]
        |loop (derive [n = n + 1])""".stripMargin))
    assert(e.getMessage == "loop exceeded 1000 iterations")
  }

  test("s-string holes carry full expressions: arithmetic, func inline, pipe-in, switch") {
    assertSameAs(
      prql("""func net p d -> p * (1 - d)
             |from lineitem
             |derive [
             |  np = s"round({net l_extendedprice l_discount}, 2)",
             |  band = s"CASE WHEN {l_quantity | in 1..10} THEN 'low' ELSE 'high' END",
             |  lbl = s"upper({switch [l_quantity < 5 -> 'tiny', true -> 'rest']})",
             |  safe = s"({l_returnflag ?? 'none'})",
             |]
             |select [l_orderkey, l_linenumber, np, band, lbl, safe]
             |sort [l_orderkey, l_linenumber]
             |take 50""".stripMargin),
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 2) AS np,
        |  CASE WHEN l_quantity BETWEEN 1 AND 10 THEN 'low' ELSE 'high' END AS band,
        |  upper(CASE WHEN l_quantity < 5 THEN 'tiny' ELSE 'rest' END) AS lbl,
        |  COALESCE(l_returnflag, 'none') AS safe
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 50""".stripMargin)
  }

  test("interval literals: date arithmetic in filter and derive (PRQL 0.6.1)") {
    assertSameAs(
      prql("""from orders
             |filter o_orderdate >= @1995-03-01 - 30days and o_orderdate < @1995-03-01 + 2months
             |derive [due = o_orderdate + 90days, wk = o_orderdate + 1weeks, gr = o_orderdate + 36hours]
             |select [o_orderkey, due, wk, gr]
             |sort o_orderkey
             |take 20""".stripMargin),
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 90 DAY AS due,
        |  o_orderdate + INTERVAL 7 DAY AS wk,
        |  o_orderdate + INTERVAL 36 HOUR AS gr
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-03-01' - INTERVAL 30 DAY
        |  AND o_orderdate < DATE '1995-03-01' + INTERVAL 2 MONTH
        |ORDER BY o_orderkey LIMIT 20""".stripMargin)
    // a number NOT followed by a unit stays a plain int (`30dayz` is two
    // tokens and fails loudly downstream, not silently an interval)
    intercept[Exception](prql("from orders | derive [x = o_orderdate + 30dayz]"))
  }
}
