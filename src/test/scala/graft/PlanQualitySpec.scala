package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.prql.Graft
import graft.ops.Dedup
import graft.sources.Registrar

/** Asserts the physical-plan properties the 100 TB story depends on —
  * correctness tests prove the small-SF answer; these prove the plan SHAPE
  * still works at 1000 executors: filters reach the parquet scan, small
  * dimension joins broadcast, per-group top-k limits before the shuffle,
  * aggregations partial-aggregate map-side, and expensive subplans are
  * computed once, not per consumer.
  */
class PlanQualitySpec extends AnyFunSuite {

  val dir = "/root/testdata/sf0.001"
  lazy val spark = SparkTest.session
  lazy val tables: Map[String, DataFrame] = Registrar.loadParquetDir(spark, dir)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE decides exchange reuse at runtime — execute first, then read the
    * final adaptive plan. Must be an action on THIS QueryExecution
    * (df.write would build a fresh, never-executed one). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), "expected executed adaptive plan")
    p
  }

  private def prql(q: String): DataFrame = Graft.compile(q, tables)(spark)

  test("filter pushes down to the parquet scan") {
    val p = plan(prql(
      "from lineitem | filter l_quantity > 30 | select [l_orderkey, l_quantity]"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"expected pushed filter in:\n$p")
  }

  test("projection prunes the read schema to selected columns") {
    val p = plan(prql("from lineitem | select [l_orderkey, l_quantity]"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"),
      s"expected 2-column read schema in:\n$p")
    assert(!p.contains("l_comment"), "unused column must not be read")
  }

  test("small dimension join broadcasts (no shuffle of the big side)") {
    val p = plan(prql(
      """from o=orders
        |join c=customer [o.o_custkey == c.c_custkey]
        |select [o_orderkey, c_name]""".stripMargin))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
  }

  test("sort+take compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(prql("from lineitem | sort [-l_extendedprice] | take 5"))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("group top-n ranks with WindowGroupLimit (partial top-k before shuffle)") {
    val p = plan(prql(
      """from lineitem
        |group [l_returnflag] (
        |  sort [-l_extendedprice, l_orderkey, l_linenumber]
        |  take 3
        |)
        |select [l_returnflag, l_orderkey, l_extendedprice]""".stripMargin))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
  }

  test("rank-bounded MIXED window (rolling sum + row_number + filter) " +
      "prunes with WindowGroupLimit; forward frames stay unpruned") {
    // the q10 lowering: Spark's own InferWindowGroupLimit cannot fire
    // (the rolling sum is not rank-like) — RankLimitPrunesLookbackWindow
    // licenses the prune because every frame is lookback-only
    val p = plan(prql(
      """from lineitem
        |group [l_suppkey] (
        |  sort [l_shipdate, l_orderkey, l_linenumber]
        |  window rolling:3 (
        |    derive [qty_3 = sum l_quantity]
        |  )
        |  derive [rn = row_number]
        |)
        |filter rn <= 2
        |select [l_suppkey, l_orderkey, qty_3, rn]""".stripMargin))
    assert(p.contains("WindowGroupLimit"),
      s"mixed lookback window must partial-limit map-side:\n$p")
    // negative control: a whole-partition frame looks FORWARD of the
    // current row, so pruning would change it — the rule must not fire
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val neg = tables("lineitem")
      .withColumn("tot", F.sum("l_quantity").over(wAll))
      .withColumn("rn", F.row_number().over(w))
      .filter(F.col("rn") <= 2)
    val np = plan(neg)
    assert(!np.contains("WindowGroupLimit"),
      s"whole-partition frame must NOT be pruned:\n$np")
  }

  /** the q10 shape over lineitem: a rolling lookback sum and a
    * row_number under `rn <= 2` */
  private def rankedRolling: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    tables("lineitem")
      .withColumn("qty_3", F.sum("l_quantity").over(w.rowsBetween(-2, 0)))
      .withColumn("rn", F.row_number().over(w))
      .filter(F.col("rn") <= 2)
  }

  private def groupLimits(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.collect { case g: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => g }.size

  test("mixed-window prune honours spark.sql.optimizer.windowGroupLimitThreshold") {
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    def limitsAt(threshold: String): Int = {
      spark.conf.set(key, threshold)
      try groupLimits(rankedRolling.queryExecution.optimizedPlan)
      finally spark.conf.unset(key)
    }
    assert(limitsAt("1000") == 1, "the default threshold admits rn <= 2")
    assert(limitsAt("2") == 1, "a limit equal to the threshold is inserted")
    assert(limitsAt("1") == 0, "a limit above the threshold is not inserted")
    assert(limitsAt("-1") == 0, "-1 disables the rule")
  }

  test("mixed-window prune does not re-insert under an interposed Project") {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Window,
      WindowGroupLimit}
    import graft.plans.RankLimitPrunesLookbackWindow
    val opt = rankedRolling.queryExecution.optimizedPlan
    assert(groupLimits(opt) == 1, opt)
    // positive control: with the limit taken out, the rule puts it back
    val bare = opt.transform {
      case w @ Window(_, _, _, g: WindowGroupLimit, _) => w.copy(child = g.child)
    }
    assert(groupLimits(bare) == 0 &&
      groupLimits(RankLimitPrunesLookbackWindow(bare)) == 1)
    // a Project between the Window and its limit: already pruned
    val wrapped = opt.transform {
      case w @ Window(_, _, _, g: WindowGroupLimit, _) =>
        w.copy(child = Project(g.output, g))
    }
    val again = RankLimitPrunesLookbackWindow(wrapped)
    assert(groupLimits(again) == 1, again)
  }

  test("group-aggregate partial-aggregates map-side before the shuffle") {
    val df = prql(
      """from lineitem
        |group [l_returnflag] (aggregate [s = sum l_quantity, n = count])""".stripMargin)
    val p = plan(df)
    // two-phase hash aggregate: partial_sum before the exchange
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), s"no partial agg in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one shuffle expected in:\n$p")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val p = plan(prql(
      "from lineitem | filter l_discount > 0.05 | derive [d = l_extendedprice * l_discount] | select [l_orderkey, d]"))
    // codegen stages render as `*(n)` prefixes in the plan string
    assert(p.contains("*(1)"), s"expected codegen span in:\n$p")
  }

  test("minhash signature exchange is reused across LSH join sides, not recomputed") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    assert(p.contains("ReusedExchange"), s"expected ReusedExchange in:\n$p")
  }

  test("simhash signature exchange is reused across chunk join sides") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(p.contains("ReusedExchange"), s"expected ReusedExchange in:\n$p")
  }

  test("brute kNN broadcasts the query side and keeps corpus un-shuffled until top-k") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val p = plan(graft.ops.Similarity.bruteKnn(
      emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must limit before shuffle:\n$p")
  }

  test("hash sampling, repetition metrics, and redaction are shuffle-free projections") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq(
      "hashSample" -> graft.ops.Sampling.hashSample(docs, F.col("text"), 0.1),
      "hashSampleByGroup" -> graft.ops.Sampling.hashSampleByGroup(
        docs, F.col("source"), F.col("text"), Map("src0" -> 1.0), 0.05),
      "withRepetition" -> graft.ops.TextOps.withRepetition(docs, "text"),
      "redact" -> docs.select(graft.ops.TextOps.redact(F.col("text")))
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
      assert(p.contains("*(1)"), s"$name must stay in whole-stage codegen:\n$p")
    }
  }

  test("contamination broadcasts the benchmark shingle set; corpus never shuffles docs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(graft.ops.Dedup.contamination(
      docs, docs.filter(F.col("doc_id") % 50 === 0), "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    // the final ids←hits left join may legitimately shuffle (both sides are
    // doc-cardinality at scale), so at most ONE sort-merge join is allowed:
    // a second one means the shingle-match join regressed off broadcast
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"shingle match must not sort-merge the corpus:\n$p")
  }

  test("contaminationScore: benchmark broadcast, no Expand, no extra join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(graft.ops.Dedup.contaminationScore(
      docs, docs.filter(F.col("doc_id") % 50 === 0), "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    // unlike contamination there is no ids←hits re-join: total and shared
    // come out of the same aggregation chain, so zero sort-merge joins
    assert(!p.contains("SortMergeJoin"), s"score needs no second join:\n$p")
    // the two-level (id, shingle)→id aggregate must NOT plan as a
    // multi-distinct Expand, which would duplicate every shingle row per
    // distinct aggregate before the partial agg
    assert(!p.contains("Expand"), s"no multi-distinct Expand:\n$p")
    assert(p.contains("partial_count"), s"expected map-side partial agg:\n$p")
  }

  test("canonicalUrl is a pure codegen projection: no shuffle, no UDF") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(docs.select(F.col("doc_id"),
      graft.ops.TextOps.canonicalUrl(F.concat(F.lit("https://h.example.com/p/"),
        F.col("doc_id").cast("string"))).as("canon")))
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    // the `*(n)` prefix is the whole-stage-codegen marker in plan toString
    assert(p.contains("*(1) Project"), s"must stay inside codegen:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"no UDFs:\n$p")
  }

  test("dsirWeights: bucket tables broadcast; gram strings never shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // assert on the EXECUTED section only: AQE's toString appends the
    // pre-runtime "== Initial Plan ==", where the unknown output stats of
    // the native gram expression make the cost model guess SMJ for the
    // final id join before runtime sizes flip it to broadcast
    val p = finalPlan(graft.ops.TextOps.dsirWeights(
      docs, docs.filter(F.col("doc_id") % 50 === 0), "doc_id", "text"))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"bucket tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here is big enough to SMJ:\n$p")
    // every gram explode collapses to counts MAP-SIDE (partial aggregate
    // between the Generate and its exchange), so gram STRINGS never cross
    // the wire: no exchange may carry the __g column — the shuffles are
    // (id, bucket, count) / (bucket, count) only
    assert(!p.contains("Exchange hashpartitioning(__g"),
      s"gram strings must never shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"expected map-side partial aggregation of the gram explode:\n$p")
  }

  test("centroids partial-aggregate map-side; centroidScores broadcasts centroids") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pc = plan(graft.ops.Similarity.centroids(emb, "label", "embedding"))
    assert(pc.contains("partial_avg") || pc.contains("partial"),
      s"per-dim avg must combine map-side (shuffle = labels x dims only):\n$pc")
    val ps = finalPlan(graft.ops.Similarity.centroidScores(emb, "vec_id", "label", "embedding"))
    assert(ps.contains("BroadcastHashJoin"), s"centroid join must broadcast:\n$ps")
  }

  test("quantize and splitAssign are shuffle-free codegen projections") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq(
      "quantize" -> graft.ops.Similarity.quantize(emb, "embedding"),
      "splitAssign" -> graft.ops.Sampling.splitAssign(docs, F.col("text"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
      assert(p.contains("*(1)"), s"$name must stay in whole-stage codegen:\n$p")
    }
  }

  test("stripBoilerplateLines: one shuffle (hot-line agg), corpus rewrite map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Curation.stripBoilerplateLines(docs, "text", 10))
    // the ONLY hash shuffle is the hot-line doc-frequency aggregate; the
    // corpus itself flows scan → broadcast-joined rewrite with no exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"only the hot-line agg may shuffle; got $shuffles in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row hot set must broadcast to the corpus:\n$p")
    assert(p.contains("partial_count"),
      s"doc-frequency must partial-aggregate map-side:\n$p")
  }

  test("asofJoin: one shuffle+sort per side, no candidate-pair join") {
    import spark.implicits._
    val left = spark.range(0, 1000).select(
      (F.col("id") % 7).as("k"), F.col("id").as("ts"), (F.col("id") * 2).as("x"))
    val right = spark.range(0, 500).select(
      (F.col("id") % 7).as("k"), (F.col("id") * 3).as("ts"), F.col("id").as("y"))
    val p = plan(graft.ops.AsOf.asofJoin(left, right, Seq("k"), "ts", "ts"))
    // the naive lowering is a nested-loop over every (left x earlier-right)
    // pair; the union+window plan must not contain ANY join
    assert(!p.contains("Join"), s"asofJoin must not plan a join:\n$p")
    assert(p.contains("Window"), s"expected the window carry pass:\n$p")
    // one exchange per union branch on the key — nothing else moves
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"at most one shuffle per side; got $shuffles in:\n$p")
  }

  test("rangeJoin plans an equi-join on the bin, never a nested loop") {
    import spark.implicits._
    val points = spark.range(0, 1000).select(
      F.col("id"), ((F.col("id") * 37 % 1000) / 10.0).as("v"))
    val bands = Seq(("a", 0.0, 2.0), ("b", 2.0, 10.0), ("c", 5.0, 25.0))
      .toDF("band", "lo", "hi")
    val p = plan(graft.ops.RangeJoin.rangeJoin(points, "v", bands, "lo", "hi", 10.0))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the bin equi-join must replace the nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a hash-keyed join in:\n$p")
  }

  test("classifierScore and withScripts are shuffle-free projections") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = Seq.tabulate(64)(i => (i % 7) * 0.1 - 0.3)
    val p1 = plan(graft.ops.TextOps.classifierScore(docs, "text", w, bias = 0.0))
    assert(!p1.contains("Exchange"), s"classifier scoring must not shuffle:\n$p1")
    val p2 = plan(graft.ops.TextOps.withScripts(docs, "text"))
    assert(!p2.contains("Exchange"), s"script detection must not shuffle:\n$p2")
  }

  test("dedupDelta: corpus probed by broadcast joins only; all shuffles are batch-sized") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val delta = corpus.filter(F.col("doc_id") % 7 === 0)
      .select(F.col("doc_id") + 100000, F.col("text"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.dedupDelta(corpus, delta, "doc_id", "text"))
    // the petabyte side must never sort-merge/shuffle-hash against the batch
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus must meet the batch via broadcast joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    // distinct(batch fps) + distinct(matched fps) + within-batch window —
    // every one keyed on batch-derived rows, none carries the corpus
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 3, s"expected <=3 batch-sized shuffles, got $shuffles:\n$p")
  }

  test("pmiCollocations: counts partial-aggregate; totals ride as 1-row broadcasts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.pmiCollocations(docs, "text", minCount = 5))
    assert(p.contains("partial_count") || p.contains("partial_finalmerge") ||
      p.contains("HashAggregate"), s"counts must partial-aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the grand totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
  }

  test("unigramLogProb: vocab joins on term (no corpus broadcast); total is a 1-row broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.unigramLogProb(docs, "doc_id", "text"))
    assert(p.contains("partial_count"),
      s"vocab counts must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("dedupDeltaBloom: corpus probed map-side by might_contain, then broadcast-only joins") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val delta = corpus.filter(F.col("doc_id") % 7 === 0)
      .select(F.col("doc_id") + 100000, F.col("text"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.dedupDeltaBloom(corpus, delta, "doc_id", "text"))
    // the sketch probe must be a plain filter on the scan, not a join
    assert(p.contains("might_contain"), s"expected the bloom probe filter:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus must meet the batch via broadcast joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast anti-join:\n$p")
    // candidate distinct + within-batch window: both keyed on bloom
    // survivors / batch rows — the corpus never shuffles its documents
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"expected <=2 batch-sized shuffles, got $shuffles:\n$p")
  }

  test("minhashPairsDelta: corpus meets the batch via broadcast joins only") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val delta = corpus.filter(F.col("doc_id") % 11 === 0)
      .select(F.col("doc_id") + 100000, F.col("text"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.minhashPairsDelta(corpus, delta, "doc_id", "text"))
    // the corpus's banded rows must never sort-merge/shuffle-hash against
    // the batch: bucket semi-join, skew anti-join, and candidate join all
    // probe broadcast batch-derived relations
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus must meet the batch via broadcast joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probes:\n$p")
  }

  test("normalizeText, bowFingerprint, and withGopherRules are shuffle-free projections") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p1 = plan(docs.select(graft.ops.TextOps.normalizeText(F.col("text"))))
    assert(!p1.contains("Exchange"), s"normalization must not shuffle:\n$p1")
    val p2 = plan(docs.select(graft.ops.TextOps.bowFingerprint(F.col("text"))))
    assert(!p2.contains("Exchange"), s"bow fingerprint must not shuffle:\n$p2")
    val p3 = plan(graft.ops.TextOps.withGopherRules(docs, "text"))
    assert(!p3.contains("Exchange"), s"rule gate must not shuffle:\n$p3")
  }

  test("bag-of-words dedup pays exactly the one fingerprint-key shuffle, WindowGroupLimit'd") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Dedup.exactBy(docs, "doc_id",
      graft.ops.TextOps.bowFingerprint(F.col("text")))
    val p = plan(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-1 must partial-limit map-side:\n$p")
  }

  test("removeDupSpans: key-partitioned shuffles only — no cartesian, no gram strings") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(graft.ops.Dedup.removeDupSpans(docs, "doc_id", "text"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every join must be keyed:\n$p")
    // grams come from the native expression (longs, one pass), and the
    // corpus-wide gram projection materializes behind ONE exchange that
    // both consumers (stats rollup + coverage join) reuse — exactly one
    // Generate of word_ngram_hashes may appear in the executed plan
    val gens = "word_ngram_hashes".r.findAllIn(p).size
    assert(gens == 1, s"gram projection must run once, found $gens sites:\n$p")
    assert(p.contains("ReusedExchange"),
      s"census must reuse the (gram, doc) exchange, not rescan:\n$p")
    assert(p.contains("partial_count"),
      s"gram stats must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"), s"no per-gram window allowed:\n$p")
  }

  test("dedupLines: keep-first compiles to WindowGroupLimit; blanks route around the window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("doc_id"), F.concat(F.lit("banner\n\n"), F.col("text")).as("text"))
    val p = plan(graft.ops.Curation.dedupLines(docs, "doc_id", "text"))
    // the rank-1 keep-filter must partial-limit map-side — later occurrences
    // of a duplicated line die BEFORE the line-key shuffle (a disjunctive
    // blank||rank filter silently defeated this; regression-pinned here)
    assert(p.contains("WindowGroupLimit"), s"rank-1 must partial-limit map-side:\n$p")
    // blanks bypass the window: the union's blank branch must not window —
    // exactly ONE Window operator in the whole plan
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly 1 Window operator, got $windows:\n$p")
  }

  test("curate's full pipeline pays exactly two shuffles (dedup key + cap key)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Curation.curate(docs, "doc_id", "text", "source",
      minTokens = 3, maxDupLineFrac = 0.9, sampleRate = 0.5, capPerSource = 10)
    val p = plan(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2, s"quality gate + sampling must stay filter-only; got $shuffles shuffles in:\n$p")
    assert(p.contains("WindowGroupLimit"), s"both windows must partial-limit map-side:\n$p")
  }

  test("hardNegatives: broadcast queries + WindowGroupLimit, corpus never shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.hardNegatives(emb,
      emb.filter(F.col("vec_id") < 5), "vec_id", "label", "embedding", k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must partial-limit map-side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
  }

  test("corpusDiff: sides collapse to fingerprints before one id join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val newSnap = docs.filter(F.col("doc_id") % 2 === 0).select("doc_id", "text")
    val p = plan(graft.ops.Curation.corpusDiff(docs.select("doc_id", "text"),
      newSnap, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff must be an equi-join on id:\n$p")
    // the fingerprint projection runs scan-side (documents collapse to
    // (id, fp) BEFORE the join): md5 appears in Projects, and the join
    // keys are the id columns, not text
    assert(p.contains("md5"), s"expected scan-side fingerprint projection:\n$p")
    assert("SortMergeJoin.*text".r.findFirstIn(p).isEmpty,
      s"join must key on id, never text:\n$p")
  }

  test("pqQuantize is a shuffle-free codegen projection") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cbs = Array.tabulate(8, 8, 8)((s, j, i) => math.sin(s * 64 + j * 8 + i))
    val p = plan(graft.ops.Similarity.pqQuantize(emb, "embedding", cbs))
    assert(!p.contains("Exchange"), s"PQ encode must not shuffle:\n$p")
    assert(p.contains("pq_encode"), s"expected the native PqEncode expression:\n$p")
  }

  test("pqSearch: broadcast queries + WindowGroupLimit, codes never sort-merge") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cbs = Array.tabulate(8, 8, 8)((s, j, i) => math.sin(s * 64 + j * 8 + i))
    val codes = graft.ops.Similarity.pqQuantize(emb, "embedding", cbs)
      .select("vec_id", "codes")
    val p = plan(graft.ops.Similarity.pqSearch(codes,
      emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", cbs, k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query+LUT side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must partial-limit map-side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"code stream must not shuffle:\n$p")
    assert(p.contains("adc_dist"), s"candidate distance must be the native loop:\n$p")
  }

  test("ivfpq: build is shuffle-free; search joins broadcast probes on the cell key") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val cents = Array.tabulate(4, 64)((i, j) => math.sin(i * 64 + j))
    val cbs = Array.tabulate(8, 8, 8)((s, j, i) => math.cos(s * 64 + j * 8 + i))
    val idx = graft.ops.Similarity.ivfpqBuild(emb, "vec_id", "embedding", cents, cbs)
    val pb = plan(idx.cells)
    assert(!pb.contains("Exchange"), s"index build must not shuffle:\n$pb")
    assert(pb.contains("pq_encode") && pb.contains("nearest_cell"),
      s"expected native assignment + encode:\n$pb")
    val ps = plan(graft.ops.Similarity.ivfpqSearch(idx,
      emb.filter(F.col("vec_id") < 5), "embedding", k = 3, nprobe = 2))
    assert(ps.contains("BroadcastHashJoin"), s"probes must broadcast-join on cell:\n$ps")
    assert(ps.contains("WindowGroupLimit"), s"top-k must partial-limit map-side:\n$ps")
    assert(!ps.contains("SortMergeJoin") && !ps.contains("CartesianProduct"),
      s"code stream must not shuffle:\n$ps")
  }

  test("upsample is a shuffle-free projection + explode") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Sampling.upsampleByGroup(docs, F.col("source"),
      F.col("text"), factors = Map("src0" -> 2.5), defaultFactor = 1.0))
    assert(!p.contains("Exchange"), s"mixture resampling must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected explode-based repetition:\n$p")
  }

  test("semDedup: quadratic work confined to cells, census anti-join broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
      .select("vec_id", "embedding")
    val cents = Array.tabulate(4, 64)((i, j) => math.sin(i * 64 + j))
    val p = plan(graft.ops.Similarity.semDedup(emb, "vec_id", "embedding", 0.4, cents))
    // the within-cell pair scan must be an equi-join on the cell key —
    // never a nested-loop/cartesian over the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must equi-join on cell:\n$p")
    // the oversized-cell census joins back as a BROADCAST anti-join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast census anti-join:\n$p")
    // first-match-wins semi-join — no pair materialization + dedup pass
    assert(p.contains("LeftSemi"), s"expected semi-join dup flagging:\n$p")
  }

  test("dupSpans: one gram explode, census reuses the exchange, partial aggs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // finalPlan, not plan: the gram census joins back on the gram key and
    // shares the (gram, doc) exchange with the per-doc rollup — AQE decides
    // that reuse at runtime, so only the executed adaptive plan proves the
    // projection ran once
    val p = finalPlan(graft.ops.Dedup.dupSpans(docs, "doc_id", "text"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span coverage must stay linear in gram positions:\n$p")
    // the expensive gram projection must run exactly once — the first cut
    // re-evaluated it per consumer (3 Generates, 9.6 s at sf0.1)
    val generates = "Generate explode".r.findAllIn(p).size
    assert(generates == 1, s"expected exactly 1 gram explode, got $generates:\n$p")
    assert(p.contains("ReusedExchange"),
      s"census must reuse the (gram, doc) exchange, not rescan:\n$p")
    assert(p.contains("partial_count"), s"gram counts must partial-aggregate:\n$p")
    // the skew story: per-gram stats come from a partial-aggregated census
    // joined back, never a per-gram window that would buffer a hot gram's
    // whole row set in one partition
    assert(!p.contains("Window"), s"no per-gram window allowed:\n$p")
  }

  test("bm25: the corpus never hash-shuffles; stats ride a 1-row broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.bm25(docs, "doc_id", "text",
      Seq("hash", "join", "spark")))
    // per-doc tf/dl are array projections and the only exchange is the
    // 1-row global stats aggregate — a hash shuffle of corpus rows would
    // mean tf went through an explode+groupBy instead
    assert(!p.contains("hashpartitioning"),
      s"corpus rows must not hash-shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"stats row must broadcast back via cross join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      s"stats must partial-aggregate map-side:\n$p")
  }

  test("tokenDivergence: vocab-bounded partial counts, top-K limits the sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.tokenDivergence(
      docs.filter(F.col("doc_id") % 2 === 0),
      docs.filter(F.col("doc_id") % 2 =!= 0), "text"))
    // corpus tokens collapse to (term, count) map-side before any shuffle
    assert(p.contains("partial_count"),
      s"term counts must partial-aggregate map-side:\n$p")
    // top-K compiles to TakeOrderedAndProject — no global sort materializes
    assert(p.contains("TakeOrderedAndProject"),
      s"expected top-K short-circuit:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row totals may cross-join (broadcast):\n$p")
  }

  test("knBigramNll: transitions collapse map-side; B/V scalars broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = finalPlan(graft.ops.TextOps.knBigramNll(
      docs, docs.filter(F.col("doc_id") % 7 === 0), "doc_id", "text"))
      .split("== Initial Plan ==")(0)
    // the per-doc bigram explode partial-aggregates to (doc, w1, w2, k)
    // BEFORE its exchange — raw transition rows never cross the wire
    assert(p.contains("partial_count"),
      s"transition counts must partial-aggregate map-side:\n$p")
    // the B/V scalar row rides a broadcast nested-loop cross join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"model scalars must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no real cartesian anywhere:\n$p")
  }

  test("c4Filter and pcaProject are shuffle-free codegen projections") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pc = plan(graft.ops.Curation.c4Filter(docs, "doc_id", "text"))
    assert(!pc.contains("Exchange"), s"c4Filter must not shuffle:\n$pc")
    assert(!pc.contains("BatchEvalPython") && !pc.contains("SQL UDF"),
      s"no UDFs in the line gate:\n$pc")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val mean = Array.fill(64)(0.0)
    val comps = Array.tabulate(4, 64)((i, j) => if (i == j) 1.0 else 0.0)
    val pp = plan(graft.ops.Similarity.pcaProject(emb, "embedding", mean, comps))
    assert(!pp.contains("Exchange"), s"pcaProject must not shuffle:\n$pp")
    assert(pp.contains("mat_vec") || pp.contains("MatVec"),
      s"projection must use the native MatVec expression:\n$pp")
  }

  test("bpe word census: partial-aggregated counts, TakeOrdered cap — no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the census is the ONLY corpus-scale pass of bpeMerges; the merge
    // rounds run on the vocab-bounded cached table
    val census = docs.select(F.explode(F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), "\\s+"),
        w => F.length(w) > 0)).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("word")).limit(65536)
    val p = plan(census)
    assert(p.contains("partial_count"),
      s"word counts must partial-aggregate map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocab cap must be a top-k, not a global sort:\n$p")
  }

  test("kmeansLloyd iteration: assignment is a projection; rollup partial-aggregates") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val cents = Array.fill(4, 64)(0.01)
    // the per-iteration stats plan: posexplode to (cell, pos, v) then
    // groupBy — the corpus must collapse to k*dim partials map-side
    val stats = graft.ops.Similarity.assignCells(
        emb.select(F.col("embedding")), "embedding", cents)
      .select(F.col("cell"),
        F.posexplode(F.col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(F.sum("v").as("s"), F.count(F.lit(1)).as("n"))
    val p = plan(stats)
    assert(p.contains("partial_sum"),
      s"coordinate sums must partial-aggregate before the shuffle:\n$p")
    assert(p.contains("nearest_cell") || p.contains("NearestCell"),
      s"assignment must be the native NearestCell projection:\n$p")
    // final assignment output is projection-only over the corpus
    val pa = plan(graft.ops.Similarity.kmeansAssign(
      emb.select(F.col("vec_id"), F.col("embedding")), "vec_id", "embedding",
      cents, iters = 0))
    assert(!pa.contains("Exchange"),
      s"kmeansAssign output must not shuffle the corpus:\n$pa")
  }

  test("sqSearch: native dequant projection, broadcast queries, WindowGroupLimit") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val mn = Array.fill(64)(-1.0); val mx = Array.fill(64)(1.0)
    // encode is a shuffle-free codegen projection
    val pe = plan(graft.ops.Similarity.sqEncode(emb, "embedding", mn, mx))
    assert(!pe.contains("Exchange"), s"sqEncode must not shuffle:\n$pe")
    assert(pe.contains("sq8_encode"), s"encode must be the native expression:\n$pe")
    // search: corpus scanned once (dequant fused), queries broadcast,
    // top-k partial-limits map-side
    val p = plan(graft.ops.Similarity.sqSearch(
      emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", mn, mx, k = 3))
    assert(p.contains("sq8_dequant"), s"reconstruction must be fused-native:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must limit before shuffle:\n$p")
  }

  test("duplicateSentences: two-level agg (no Expand), partial counts map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Curation.duplicateSentences(docs, "doc_id", "text"))
    assert(!p.contains("Expand"),
      s"distinct-doc count must be the two-level agg, not countDistinct's Expand:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"(sentence, doc) counts must partial-aggregate before the shuffle:\n$p")
  }

  test("logreg gradient round: errors partial-aggregate; weights ride as literals") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("y", F.when(F.col("lang") === "en", 1.0).otherwise(0.0))
    // the per-iteration job shape: explode (bucket, err) then groupBy —
    // the corpus must collapse to <= nBuckets+1 partials map-side, and the
    // weight vector must be a plan literal (no second input, no join)
    val staged = docs.select(F.col("y").as("__y"),
      F.array_sort(F.array_distinct(F.transform(
        F.filter(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), "\\s+"),
          t => F.length(t) > 0),
        t => (F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long") % 64)
          .cast("int")))).as("__bs"))
    val err = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(0.0) +
      F.aggregate(F.col("__bs"), F.lit(0.0), (a, b) => a + b * 0.0)))) - F.col("__y")
    val grads = staged
      .select(F.explode(F.concat(F.array(F.lit(-1)), F.col("__bs"))).as("b"), err.as("g"))
      .groupBy("b").agg(F.sum("g"))
    val p = plan(grads)
    assert(p.contains("partial_sum"),
      s"gradient sums must partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Join"), s"weights must be literals, not a joined table:\n$p")
  }

  test("rangeShardAssign: boundary comparisons are a shuffle-free codegen projection") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Scale.rangeShardAssign(docs, "doc_id", nShards = 8))
    assert(!p.contains("Exchange"),
      s"assignment must be a projection over plan-literal boundaries (no join):\n$p")
    assert(p.contains("*(1)"), s"assignment must stay in whole-stage codegen:\n$p")
  }

  test("weightedSample: TakeOrderedAndProject, no global sort, no shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Sampling.weightedSample(
      docs, F.col("text"), F.col("n_chars"), 100))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n must be a bounded per-partition heap + bounded merge:\n$p")
    assert(!p.contains("Exchange"),
      s"the corpus must never shuffle for a weighted draw:\n$p")
  }

  test("sketches: HLL registers and CMS counters partial-aggregate, no joins") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("source"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
      .filter(F.length(F.col("t")) > 0)
    val ph = plan(graft.ops.Sketches.hllRegisters(toks, Seq("source"), F.col("t")))
    assert(ph.contains("partial_max"),
      s"registers must collapse map-side before the shuffle:\n$ph")
    assert(!ph.contains("Join"), s"registers are one aggregation, no join:\n$ph")
    val pc = plan(graft.ops.Sketches.cmsCounters(toks, F.col("t")))
    assert(pc.contains("partial_count"),
      s"counters must collapse map-side before the shuffle:\n$pc")
    assert(!pc.contains("Join"), s"counters are one aggregation, no join:\n$pc")
  }

  test("zorder manifest: morton + assignment codegen'd; exactly one agg shuffle") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_suppkey")
    val p = plan(graft.ops.Scale.zorderShardPlan(
      li, "l_partkey", "l_suppkey", bits = 16, nShards = 8))
    assert(p.split("Exchange", -1).length - 1 == 1,
      s"one shuffle total — the per-shard stats aggregation:\n$p")
    assert(p.contains("partial_min"),
      s"envelope stats must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"),
      s"boundaries are plan literals, not a joined table:\n$p")
  }

  test("pageRank round: contributions partial-aggregate; dangling is a 1-row broadcast") {
    val e = spark.read.parquet(s"$dir/orders.parquet")
      .select(F.col("o_custkey").as("src"), F.col("o_orderkey").as("dst"))
    val p = plan(graft.ops.Graph.pageRank(e, "src", "dst", iters = 1))
    assert(p.contains("partial_sum"),
      s"per-dst contribution sums must collapse map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"rank propagation must be keyed joins, never a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the dangling scalar must ride a broadcast, not a shuffle:\n$p")
  }

  test("kmvDistinct: top-k prunes with WindowGroupLimit before the rank shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("source"), F.col("text").as("t"))
    val p = plan(graft.ops.Sketches.kmvDistinct(docs, Seq("source"), F.col("t")))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must prune per-partition before the window shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_max"),
      s"the sketch rollup must partial-aggregate:\n$p")
  }

  test("olsFit: one shuffle; the six sufficient statistics partial-aggregate") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Stats.olsFit(li, Seq("l_returnflag"),
      F.col("l_quantity"), F.col("l_extendedprice")))
    assert(p.split("Exchange", -1).length - 1 == 1,
      s"one shuffle total — the per-group rollup:\n$p")
    assert(p.contains("partial_sum"),
      s"sums must collapse map-side:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in a one-pass fit:\n$p")
  }

  test("corrPairs: one shuffle; sufficient sums partial-aggregate; no join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Stats.corrPairs(li, Seq("l_returnflag"),
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    assert(p.split("Exchange", -1).length - 1 == 1,
      s"one shuffle total — the per-group sufficient-stats rollup:\n$p")
    assert(p.contains("partial_sum"),
      s"the p + p(p+1)/2 sums must collapse map-side:\n$p")
    assert(!p.contains("Join"),
      s"pair rows unfold from the aggregate row by explode, not a join:\n$p")
  }

  test("welchTTest: one conditional-aggregation shuffle; no join") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("cohort", F.pmod(F.col("user_id"), F.lit(4L)))
    val p = plan(graft.ops.Stats.welchTTest(ev, Seq("cohort"),
      F.col("event_type"), F.col("value"), "click", "purchase"))
    assert(p.split("Exchange", -1).length - 1 == 1,
      s"one shuffle total — both classes aggregate in the same pass:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"conditional sums must collapse map-side:\n$p")
    assert(!p.contains("Join"), s"no join in a one-pass test:\n$p")
  }

  test("histogram: the corpus is scanned ONCE; completion is a map lookup, not a join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Stats.histogram(li, Seq("l_returnflag"),
      F.col("l_extendedprice"), 0.0, 60000.0, 12))
    assert(p.split("Scan parquet", -1).length - 1 == 1,
      s"empty-bin completion must reuse the aggregated counts, not rescan:\n$p")
    assert(p.contains("partial_count"),
      s"bin counts must collapse map-side:\n$p")
    assert(!p.contains("Join"),
      s"completion is sequence-explode + map lookup over one reference:\n$p")
  }

  test("hllOverlap: register rollups partial-aggregate; the pair frame broadcasts") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("source"), F.col("text").as("t"))
    val p = plan(graft.ops.Sketches.hllOverlap(toks, "source", F.col("t")))
    assert(p.contains("partial_max"),
      s"registers must collapse map-side before any shuffle:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the slice-pair frame must broadcast onto the register tables:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"only the tiny slice list may cross-join:\n$p")
  }

  test("phraseSearch: posting lists filter before the joins; no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.phraseSearch(docs, "doc_id", "text", "table part"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"occurrence reconstruction is integer equi-joins only:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"the per-doc rollup must partial-aggregate:\n$p")
  }

  test("ngramNovelty: one census, a keyed window, NO pair join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.ngramNovelty(docs, "doc_id", "text"))
    assert(!p.contains("Join"),
      s"novelty is a per-gram min window over the census — no join:\n$p")
    assert(p.contains("Window"), s"per-gram min must be a window:\n$p")
  }

  test("ewmaSmooth: one keyed window shuffle; the fold is a projection") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("day"))
      .agg(F.count(F.lit(1)).as("n"))
    val p = plan(graft.ops.EventOps.ewmaSmooth(ev, Seq("event_type"),
      F.col("day"), F.col("n"), 0.3, 16))
    assert(p.contains("Window"), s"the bounded frame must be a window:\n$p")
    assert(!p.contains("Join"), s"no join in a per-row fold:\n$p")
  }

  test("rrfFuse: keyed rollup partial-aggregates; fused top-k prunes with WindowGroupLimit") {
    val agg = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(F.col("l_returnflag").as("q"), F.col("l_suppkey").as("item"))
      .agg(F.count(F.lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q").orderBy(F.col("n").desc, F.col("item"))
    val r = agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 30)
    val p = plan(graft.ops.Similarity.rrfFuse(Seq(r, r), "q", "item", "rk"))
    assert(p.contains("WindowGroupLimit"),
      s"fused_rank <= topK must prune map-side:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"contribution rollup must partial-aggregate:\n$p")
  }

  test("cusumDrift: two window functions, one shuffle, no join") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("day"))
      .agg(F.count(F.lit(1)).as("n"))
    val p = plan(graft.ops.EventOps.cusumDrift(ev, Seq("event_type"),
      F.col("day"), F.col("n"), 100L))
    assert(p.contains("Window"), s"closed form = window aggregates:\n$p")
    assert(!p.contains("Join"), s"no self-join in the closed form:\n$p")
  }

  test("topPaths: census partial-aggregates; top-k is TakeOrdered") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.ops.EventOps.topPaths(ev, 3, 20))
    assert(p.contains("TakeOrdered"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(p.contains("partial_count"),
      s"the path census must collapse map-side:\n$p")
  }

  test("neymanAllocation: one corpus shuffle; stats partial-aggregate") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Sampling.neymanAllocation(li,
      Seq("l_returnflag", "l_linestatus"), F.col("l_extendedprice"), 10000L))
    assert(p.contains("partial_sum"),
      s"sufficient sums must collapse map-side:\n$p")
    assert(p.split("Scan parquet", -1).length - 1 == 1,
      s"one corpus scan — the normalizer is a window over the stats:\n$p")
  }

  test("assocRules: item counts and the basket total ride as broadcasts") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.ops.EventOps.assocRules(ev, "user_id", "event_type", 5))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"item counts + N must broadcast, not shuffle the pair stream:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must collapse map-side:\n$p")
  }

  test("hllSliding: ONE corpus scan; the sliding union is windows over registers") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.ops.Sketches.hllSliding(ev,
      F.call_function("div", F.unix_micros(F.col("ts").cast("timestamp")),
        F.lit(3600000000L)),
      F.col("user_id"), 24))
    assert(p.split("Scan parquet", -1).length - 1 == 1,
      s"raw events are read ONCE — the sliding union runs on registers:\n$p")
    assert(p.contains("Window"), s"trailing union must be a range window:\n$p")
    assert(p.contains("partial_max"),
      s"registers must collapse map-side:\n$p")
  }

  test("rankBlend: scoring is a shuffle-free comparison chain over plan literals") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Curation.rankBlend(docs, "doc_id",
      Seq("len" -> F.col("n_chars"))).select("doc_id", "pct_len", "blend"))
    assert(!p.contains("Exchange"),
      s"percentile scoring must not shuffle — boundaries are literals:\n$p")
    assert(!p.contains("Join"), s"no join in boundary scoring:\n$p")
  }

  test("mutualInfo: one contingency pass; margins are windows over the cells") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Stats.mutualInfo(docs, F.col("source"), F.col("lang")))
    assert(p.split("Scan parquet", -1).length - 1 == 1,
      s"one corpus scan — margins come from windows over the cell table:\n$p")
    assert(p.contains("partial_count"),
      s"contingency counts must collapse map-side:\n$p")
  }

  test("trimmedMean: one window shuffle class; kept-mass rollup partial-aggregates") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.ops.Stats.trimmedMean(ev, Seq("event_type"),
      F.col("value"), F.col("event_id")))
    assert(p.contains("Window"), s"ranks must be a window:\n$p")
    assert(!p.contains("Join"), s"no join in a one-relation robust mean:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the kept-mass rollup must partial-aggregate:\n$p")
  }

  test("rendezvousAssign: a pure projection — no shuffle, no join, no state") {
    val ord = spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey")
    val p = plan(graft.ops.Scale.rendezvousAssign(ord, F.col("o_orderkey"),
      (0 until 8).map(i => s"w$i")))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"routing is a codegen argmax over literals:\n$p")
  }

  test("winsorize: clipping is a shuffle-free projection over literal bounds") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Stats.winsorize(li, F.col("l_extendedprice"),
      F.col("l_orderkey"), 0.01, 0.99))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"bounds are plan literals; the clip must not shuffle:\n$p")
  }

  test("chi2Tokens: class totals and corpus count ride as broadcasts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.TextOps.chi2Tokens(docs, "lang", "doc_id", "text"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"class totals + N must broadcast, not shuffle the token stream:\n$p")
    assert(p.contains("TakeOrdered"),
      s"topK must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row N may cross-join (as broadcast):\n$p")
  }

  test("skewCensus: census partial-aggregates; total is a 1-row broadcast; top-k bounded") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ops.Scale.skewCensus(li, F.col("l_suppkey"), 32))
    assert(p.contains("partial_count"),
      s"the key census must collapse map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
    assert(p.contains("TakeOrdered"),
      s"top-k must be TakeOrderedAndProject:\n$p")
  }

  test("transitionMatrix: one user-keyed window shuffle, then a bounded rollup") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.ops.EventOps.transitionMatrix(ev))
    assert(p.contains("partial_count"),
      s"the pair census must partial-aggregate:\n$p")
    assert(!p.contains("Join"),
      s"lag + rollup only — no join:\n$p")
  }

  test("kCenterCoreset round: a projection + 1-row partial argmax — no join, no window") {
    // the per-round plan is what repeats k times at 100 TB: NearestCell is
    // a centroid-literal projection (no broadcast join needed) and the
    // argmax is a partial-aggregated max over a struct — corpus rows never
    // shuffle, only per-partition 1-row partials do
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(F.col("vec_id").as("__id"),
        F.col("embedding").cast("array<double>").as("__v"))
    val cents = Array(Array.fill(64)(0.0))
    val centLit = F.array(cents.map(c => F.array(c.map(F.lit): _*)): _*)
    val round = graft.ops.Similarity.assignCells(emb, "__v", cents)
      .withColumn("__d", F.round(F.aggregate(
        F.zip_with(F.col("__v"), F.element_at(centLit, F.col("cell") + F.lit(1)),
          (x, y) => (x - y) * (x - y)), F.lit(0.0d), (a, x) => a + x), 6))
      .agg(F.max(F.struct(F.col("__d"), (-F.col("__id")).as("__nid"))))
    val p = plan(round)
    assert(p.contains("partial_max"),
      s"the argmax must collapse map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"one projection + one 1-row aggregate only:\n$p")
  }

  test("quantileNormalize: reference broadcasts; the only global window is over the sample") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "n_chars")
    val df = graft.ops.Curation.quantileNormalize(
      docs, "source", "n_chars", "doc_id", refRate = 0.5)
    val p = finalPlan(df)
    assert(p.contains("BroadcastExchange"),
      s"the bounded reference ladder must broadcast to the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for the calibration join:\n$p")
    // the only SinglePartition gathers are over BOUNDED relations: the
    // capped reference sort and the 1-row sample count — never the corpus
    // (whose windows hash-partition by source). Count in the FINAL section
    // only — the executed AQE string repeats the tree under "Initial Plan".
    val finalSection = p.split("== Initial Plan ==").head
    val single = "Exchange SinglePartition".r.findAllIn(finalSection).size
    assert(single <= 2, s"only the sample may gather to one partition:\n$p")
  }

  test("kaplanMeier: subjects collapse map-side before any window") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val per = ev.groupBy("user_id")
      .agg(F.min(graft.ops.EventOps.tsStamp(ev)).as("f"),
        F.max(graft.ops.EventOps.tsStamp(ev)).as("l"))
    val subj = per.select(
      F.datediff(F.to_date(F.col("l")), F.to_date(F.col("f"))).as("dur"),
      F.lit(1).as("ev"))
    val p = plan(graft.ops.Stats.kaplanMeier(subj, F.col("dur"), F.col("ev")))
    // the per-duration census partial-aggregates, so the deliberate
    // single-partition windows only ever see distinct-duration rows
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"duration census must partial-aggregate:\n$p")
    assert(!p.contains("Join"), s"rollup + bounded windows only:\n$p")
  }

  test("mannWhitneyU: no subject-level sort — ranks come from the value collapse") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Stats.mannWhitneyU(docs, F.col("n_chars"),
      F.col("lang") === "en")
    val p = plan(df)
    assert(p.contains("partial_sum"),
      s"per-value class counts must partial-aggregate:\n$p")
    assert(!p.contains("Join"), s"collapse + bounded window only:\n$p")
  }

  test("scd2: keyed windows only — the stream never gathers to one partition") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.ops.EventOps.scd2(ev, "user_id", F.col("event_type"),
      F.col("event_id"))
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Exchange SinglePartition"),
      s"every window/rollup must partition by user:\n$p")
    assert(!p.contains("Join"), s"islands need no join:\n$p")
  }

  test("uShapeAttribution: user/conv-keyed windows; only the 5-row share gathers") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.ops.EventOps.uShapeAttribution(ev, "purchase",
      windowUs = 21600000000L)
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val single = "Exchange SinglePartition".r.findAllIn(finalSection).size
    assert(single <= 1,
      s"only the type-bounded share window may gather:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  test("bitextMargin: knn queries broadcast; the corpus side never shuffle-joins") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.bitextMargin(
      emb.filter(F.col("label") === 0), emb.filter(F.col("label") === 1),
      "vec_id", "embedding", k = 4, minMargin = 1.0)
    val p = finalPlan(df)
    assert(p.contains("BroadcastExchange"),
      s"candidate generation must broadcast the query side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates come from bruteKnn top-k, never a cross join:\n$p")
  }

  test("stickiness: the fan-out runs on the collapsed user-day table; day-keyed counts") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.ops.EventOps.stickiness(ev, windowDays = 28)
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    // the raw-event collapse must partial-aggregate before any exchange
    assert(p.contains("partial_"), s"user-day collapse must be map-side:\n$p")
    // the ONLY gather allowed is the 1-row max-day anchor (its input is a
    // partial_max rollup); the distinct counts themselves key by day
    val finalSection = p.split("== Initial Plan ==").head
    val single = "Exchange SinglePartition".r.findAllIn(finalSection).size
    assert(single <= 1, s"only the 1-row anchor may gather:\n$p")
  }

  test("weightedQuantile: group-keyed windows over the distinct-value collapse only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Stats.weightedQuantile(docs, Seq("source"),
      F.col("n_chars"), F.lit(1), qs = Seq(0.5, 0.9))
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Exchange SinglePartition"),
      s"all windows partition by source:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the (group, value) collapse must partial-aggregate:\n$p")
  }

  test("matryoshkaRecall: every rung broadcasts queries and semi-joins bounded top-ks") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.matryoshkaRecall(
      emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
      dims = Seq(8, 64), k = 5)
    val p = finalPlan(df)
    assert(p.contains("BroadcastExchange"),
      s"queries must broadcast into each rung's scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unkeyed join may appear:\n$p")
    // the recall join is a semi-join between (nq·k)-sized top-k tables
    assert(p.contains("LeftSemi"), s"truth intersection must be semi:\n$p")
  }

  test("kruskalWallis: subjects collapse before the value-domain window; " +
      "no subject-level sort") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val df = graft.ops.Stats.kruskalWallis(cust,
      F.col("c_mktsegment"), F.col("c_acctbal"))
    val p = finalPlan(df).split("== Initial Plan ==")(0)
    // the (value, group) cell collapse partial-aggregates map-side
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial aggregation before any shuffle:\n$p")
    // the only window runs over the DISTINCT-value table, after its own
    // aggregation — no Sort of raw subjects feeds a window directly
    assert(p.contains("Window"), s"expected the midrank window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    // the 1-row H total broadcasts back to the k-row group table
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"study-level totals must broadcast, not shuffle:\n$p")
  }

  test("kCore: peel rounds read the previous round's checkpoint, never " +
      "the source again") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val e = li.as("x").join(li.as("y"),
      F.col("x.l_orderkey") === F.col("y.l_orderkey") &&
        F.col("x.l_partkey") < F.col("y.l_partkey"))
      .select(F.col("x.l_partkey").as("src"), F.col("y.l_partkey").as("dst"))
    val core = graft.ops.Graph.kCore(e, "src", "dst", k = 10, rounds = 2)
    val p = plan(core)
    // the final degree rollup's lineage starts at the last checkpoint —
    // a parquet scan here would mean a round re-derived the corpus
    assert(!p.contains("Scan parquet"),
      s"kCore output must read the checkpointed survivor edges:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected a checkpoint scan at the plan's leaves:\n$p")
  }

  test("hot-bucket guards are folded into the join: ONE scan, no census job") {
    // advisor r11: the old eager groupBy+collect census was a second full
    // pass over the corpus per call. The guard now rides a count window on
    // the join's own hash partitioning — the input is scanned once and the
    // other side reuses the exchange.
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val jw = graft.ops.Dedup.jaroWinklerPairs(cust, "c_custkey",
      F.col("c_name"), F.concat_ws("|", F.col("c_nationkey"),
        F.substring(F.col("c_name"), 1, 15)), minSim = 0.985)
    val pjw = finalPlan(jw).split("== Initial Plan ==")(0)
    assert(pjw.split("Scan parquet", -1).length - 1 == 1,
      s"jaroWinklerPairs must scan its input exactly once:\n$pjw")
    assert(pjw.contains("ReusedExchange"),
      s"the self-join's second side must reuse the windowed exchange:\n$pjw")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ed = graft.ops.Dedup.editDistancePairs(docs, "doc_id",
      F.substring(F.col("text"), 1, 40), maxDist = 3)
    val ped = finalPlan(ed).split("== Initial Plan ==")(0)
    assert(ped.split("Scan parquet", -1).length - 1 == 2,
      s"editDistancePairs: probe + band sides only, no census scan:\n$ped")
  }

  test("adKSample: rows collapse to the distinct-value grid before any " +
      "window; totals broadcast") {
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val df = graft.ops.Stats.adKSample(ord, F.col("o_orderpriority"),
      F.col("o_totalprice"))
    val p = finalPlan(df).split("== Initial Plan ==")(0)
    // the (g, v) cell census partial-aggregates map-side — the windows
    // only ever see the k×L grid, never raw orders
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial aggregation before the grid:\n$p")
    assert(p.contains("Window"), s"expected the prefix-count windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals must broadcast:\n$p")
  }

  test("modularity + moransI: node dimensions broadcast onto the edge " +
      "list, never shuffle-join it") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
    val edges = graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey",
      "l_suppkey", minCount = 2)
    val q = graft.ops.Graph.modularity(edges, "src", "dst", sup,
      "s_suppkey", "s_nationkey")
    val pq = finalPlan(q).split("== Initial Plan ==")(0)
    assert(pq.contains("BroadcastHashJoin"),
      s"community assignment must broadcast onto the edges:\n$pq")
    assert(!pq.contains("SortMergeJoin"),
      s"no shuffle join anywhere in modularity:\n$pq")
    val mi = graft.ops.Graph.moransI(edges, "src", "dst", sup,
      "s_suppkey", F.col("s_acctbal"))
    val pm = finalPlan(mi).split("== Initial Plan ==")(0)
    assert(pm.contains("BroadcastHashJoin"),
      s"node attributes must broadcast onto the edges:\n$pm")
    assert(!pm.contains("CartesianProduct"), s"no unkeyed join:\n$pm")
  }

  test("delongAucCi: the score ladder aggregates before the ordered " +
      "window; raw rows never sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Stats.delongAucCi(docs,
      F.col("n_chars") / 1000.0, F.col("lang") === "en")
    val p = finalPlan(df).split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected the distinct-score collapse to partial-aggregate:\n$p")
    assert(p.contains("Window"), s"expected the prefix-count window:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row class totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
  }

  test("ansariBradley + ksSeparation: subjects collapse map-side before " +
      "the value-domain window; totals broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (df <- Seq(
        graft.ops.Stats.ansariBradley(docs, F.col("n_chars"),
          F.col("lang") === "en"),
        graft.ops.Stats.ksSeparation(docs, F.col("n_chars") / 1000.0,
          F.col("lang") === "en"))) {
      val p = finalPlan(df).split("== Initial Plan ==")(0)
      assert(p.contains("partial_count") || p.contains("Partial"),
        s"expected the distinct-value collapse to partial-aggregate:\n$p")
      assert(p.contains("Window"), s"expected the rank/cumsum window:\n$p")
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"the 1-row totals must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    }
  }

  test("stumpGain: vocab cells join broadcast totals; doc rows never " +
      "shuffle-join; top-k is a rank filter") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.TextOps.stumpGain(docs, F.col("lang") === "en",
      "doc_id", "text", minDf = 2, topK = 10)
    val p = finalPlan(df).split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the doc-distinct token census must partial-aggregate:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row corpus totals must broadcast onto the cells:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing here is big-big — no shuffle join expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
  }

  test("localClustering: one checkpointed edge list feeds both passes — " +
      "the co-purchase explode never re-derives") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val df = graft.ops.Graph.localClustering(
      graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
        minCount = 2), "src", "dst")
    val p = plan(df)
    // lineage must start at the localCheckpoint, not replay the corpus
    assert(!p.contains("Scan parquet"),
      s"localClustering output must read the checkpointed edges:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpoint scans at the plan's leaves:\n$p")
  }

  test("linkPrediction + katz: the pair-explode checkpoints once; degree " +
      "dims broadcast onto the wedge stream") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val lp = graft.ops.Graph.linkPrediction(
      graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
        minCount = 2), "src", "dst", topN = 10)
    val p = plan(lp)
    assert(!p.contains("Scan parquet"),
      s"linkPrediction must read the checkpointed edges, not the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"degree dimensions should broadcast onto the wedges:\n$p")
    val kz = graft.ops.Graph.katzCentrality(
      graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
        minCount = 2), "src", "dst", iters = 2, topN = 10)
    val pk = plan(kz)
    assert(!pk.contains("Scan parquet"),
      s"katz rounds must read the checkpointed adjacency:\n$pk")
  }

  test("jsDivergenceMatrix: ONE token self-join builds all pairs — no " +
      "per-pair scans, per-slice constants broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.TextOps.jsDivergenceMatrix(docs, "source", "text")
    val p = plan(df)
    // the corpus explode ran ONCE into the checkpointed census — all five
    // consumers (totals, constants, both join sides, grid) read it back
    assert(!p.contains("Scan parquet"),
      s"all consumers must read the checkpointed census:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-slice constants should broadcast:\n$p")
  }

  test("lofOutliers: the kNN table checkpoints once and feeds kdist, " +
      "reach and both lrd sides without re-deriving the pair scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(F.col("vec_id") < 40)
    val df = graft.ops.Similarity.lofOutliers(emb, "vec_id",
      "embedding", k = 3, topN = 5)
    val p = plan(df)
    assert(!p.contains("Scan parquet"),
      s"LOF consumers must read the checkpointed kNN table:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpoint scans at the plan's leaves:\n$p")
  }

  test("hopkinsStatistic: NN kernel is the native codegen'd l2distSq " +
      "expression — no interpreted HOF in the m×n scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.hopkinsStatistic(emb, "vec_id",
      "embedding", every = 10)
    val p = plan(df)
    assert(p.contains("vec_l2dist_sq"),
      s"expected the native L2DistSq expression in:\n$p")
    // the r13 form evaluated aggregate(zip_with(...)) — an interpreted
    // boxed lambda per element per pair (144 s task CPU in the driver
    // bench); neither HOF may reappear in this plan
    assert(!p.contains("zip_with") && !p.contains("ArrayAggregate"),
      s"interpreted HOF kernel must not reappear:\n$p")
  }

  test("mediaDedupCensus: shuffles carry the digest, never the media " +
      "bytes; the per-digest collapse partial-aggregates map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val media = docs.select(F.lit("image").as("kind"),
      F.encode(F.col("text"), "UTF-8").as("media"))
    val df = graft.ops.Multimodal.mediaDedupCensus(media, "kind", "media")
    val p = plan(df)
    // every Exchange row must be digest-shaped: the media binary column
    // reduces to (kind, md5, length) inside the scan task before any
    // shuffle — at 100 TB this is the difference between moving ~48 B
    // and moving the corpus
    assert(!p.contains("Exchange hashpartitioning(kind#") ||
      !p.matches("(?s).*Exchange[^\\n]*media.*"),
      s"media bytes must not ride a shuffle:\n$p")
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("media")),
      s"media column in an exchange row:\n$exchanges")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"expected map-side partial aggregation in:\n$p")
  }

  test("mediaNearDupPairs: signatures are the native one-pass CDC " +
      "expression and media bytes never ride an exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val media = docs.select(F.col("doc_id"),
      F.encode(F.col("text"), "UTF-8").as("media"))
    val df = graft.ops.Multimodal.mediaNearDupPairs(media, "doc_id",
      "media", threshold = 0.5)
    val p = plan(df)
    assert(p.contains("byte_chunk_minhash_sig"),
      s"expected the native CDC signature expression in:\n$p")
    // the payload reduces to (id, numHashes longs) inside the scan task;
    // a relational chunking would copy the binary into every generated
    // row and a signature-less shuffle would move the corpus
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("media")),
      s"media column in an exchange row:\n$exchanges")
  }

  test("sourceOverlapMatrix: the corpus collapses to (source, fp) " +
      "before any join — document text never rides an exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Dedup.sourceOverlapMatrix(docs, "source", "text")
    val p = plan(df)
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"text column in an exchange row:\n$exchanges")
    // the S-row totals ride a broadcast into the grid
    assert(p.contains("BroadcastExchange") || p.contains("broadcast"),
      s"expected the totals broadcast in:\n$p")
  }

  test("compressionCensus: text deflates inside the scan task — no " +
      "exchange carries the text column, one partial-agg shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.TextOps.compressionCensus(docs, Seq("source"),
      "text")
    val p = plan(df)
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"text column in an exchange row:\n$exchanges")
    // two-phase aggregate: the (group, longs) collapse happens map-side
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partial aggregation in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one data shuffle expected in:\n$p")
  }

  test("rougeN and chrfPairs only tokenize docs named in the pair " +
      "list (semi-join bounds the censuses)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = docs.select(F.col("doc_id").as("a"),
      (F.col("doc_id") + 1).as("b")).limit(20)
    val pr = plan(graft.ops.TextOps.rougeN(pairs, docs, "doc_id",
      "text", n = 2))
    assert(pr.contains("LeftSemi"),
      s"expected the pair-id semi-join bounding the census in:\n$pr")
    val pc = plan(graft.ops.TextOps.chrfPairs(pairs, docs, "doc_id",
      "text", maxN = 2))
    // the char table is localCheckpoint'd once and feeds every
    // per-order census — the corpus text is not re-scanned per order
    assert(pc.contains("ExistingRDD") || pc.contains("Scan ExistingRDD"),
      s"expected the checkpointed char table at the leaves:\n$pc")
  }

  test("edgeSupportCensus: wedges form on the oriented edge list, " +
      "never on an unoriented adjacency self-join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val df = graft.ops.Graph.edgeSupportCensus(
      graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
        minCount = 6), "src", "dst")
    val p = plan(df)
    // the r13 shape self-joined the full undirected adjacency on the
    // wedge-center key __z (Σ deg² rows — a 10M-follower hub at 100×
    // data is 10¹⁴ wedges); the oriented reshape joins on u / (v, w)
    // and the center key must be gone from the plan entirely
    assert(!p.contains("__z"),
      s"unoriented adjacency self-join (wedge-center key __z) must not " +
        s"reappear:\n$p")
    // oriented edge list is localCheckpoint'd once and feeds all four
    // downstream references
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected the checkpointed oriented edge list at the leaves:\n$p")
  }

  test("linearCka: the d^2 product rollups partial-aggregate map-side " +
      "and corpus rows never join (broadcast-only assembly)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.linearCka(emb,
      F.col("embedding"), F.col("embedding"))
    val p = plan(df)
    // chained posexplodes generate the d^2 terms inside the scan stage,
    // then partial-aggregate before the (i,j)-keyed exchange — at 100 TB
    // only d^2+2d+1 keyed partials cross the wire, never n*d^2 rows
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      s"expected map-side partial aggregation of the d^2 terms:\n$p")
    assert(p.contains("Generate posexplode"),
      s"expected codegen posexplode term generation:\n$p")
    // the only joins are broadcasts of the bounded tables (d^2, d, 1-row)
    assert(!p.contains("SortMergeJoin"),
      s"corpus-scale sort-merge join must not appear:\n$p")
  }

  test("linearCka: the size filter reads the raw vectors, so no Filter " +
      "runs the per-element rounding transform") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Round}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.linearCka(emb,
      F.col("embedding"), F.transform(F.col("embedding"), x => x * 2.0))
    val rounding = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .filter(_.exists {
        case t: ArrayTransform => t.function.exists(_.isInstanceOf[Round])
        case _ => false
      })
    assert(rounding.isEmpty, rounding.map(_.sql).mkString("\n"))
  }

  test("ransacLine: pivot pick is TakeOrdered (no global sort), models " +
      "broadcast into one inlier pass, no corpus shuffle join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Stats.ransacLine(docs,
      F.col("n_chars"), F.col("doc_id"), nCandidates = 4, tol = 10.0)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"pivot pick must be top-2k-by-hash, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the model table must broadcast into the inlier pass:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-scale shuffle join:\n$p")
  }

  test("knnShapley: queries broadcast into one corpus scan (no corpus-" +
      "side shuffle join); distance is the native codegen'd l2distSq") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.knnShapley(emb,
      emb.filter(F.col("vec_id") < 4), "vec_id", "embedding", "label",
      k = 3, topN = 10)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the bounded query set must broadcast:\n$p")
    assert(p.contains("vec_l2dist_sq"),
      s"expected the native distance expression, not a HOF:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-scale shuffle join:\n$p")
  }

  test("ipsOffPolicy: candidates broadcast, terms partial-aggregate " +
      "map-side — only k partials cross the exchange") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.ops.EventOps.ipsOffPolicy(ev, "event_type", "value",
      F.lit(0.5), Seq("click", "view"))
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the bounded candidate list must broadcast:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle join:\n$p")
  }

  test("sinkhorn: the corpus collapses to the two bounded histograms " +
      "once; scaling rounds run on checkpointed bounded tables") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Stats.sinkhorn(docs, "n_chars",
      F.col("lang") === "en", F.col("lang") === "zh",
      lo = 0L, hi = 800L, grid = 50L, reg = 2.0, iters = 4)
    val p = plan(df)
    // the corpus parquet scan must NOT appear in the final iteration
    // plan — the histograms were localCheckpointed up front, so the
    // rounds only touch ≤cells² in-memory rows
    assert(!p.contains("FileScan parquet"),
      s"iteration plan must run on checkpointed histograms, not " +
        s"rescan the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bounded tables broadcast:\n$p")
  }
}
