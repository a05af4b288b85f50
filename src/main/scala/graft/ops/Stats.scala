package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Grouped statistical model fits over relational data. The operators here
  * follow the repo's sufficient-statistics rule: the corpus is touched in
  * ONE partial-aggregated pass that reduces to a few machine numbers per
  * group, and the model math runs on that tiny rollup — the same shape at
  * 60k rows and at 100 TB (only group-count rows cross the final shuffle).
  */
object Stats {

  /** Per-group simple OLS fit y = intercept + slope·x via the closed-form
    * sufficient statistics (n, Σx, Σy, Σxx, Σxy, Σyy):
    * {{{
    *   slope     = (nΣxy − ΣxΣy) / (nΣxx − Σx²)
    *   intercept = (ΣyΣxx − ΣxΣxy) / (nΣxx − Σx²)
    *   r²        = (nΣxy − ΣxΣy)² / ((nΣxx − Σx²)(nΣyy − Σy²))
    * }}}
    * The five sums partial-aggregate map-side (one scan, one shuffle of
    * 6 numbers per group); the ratios are computed from the SAME explicit
    * expression tree an oracle engine can replay, rather than engine
    * `regr_*` builtins whose internal accumulation (Welford vs naive)
    * differs across engines. Degenerate groups (zero x-variance) yield
    * NULL fit columns via nullif, not NaN/∞.
    *
    * The two-pass-free formula carries the usual cancellation caveat:
    * nΣxx − Σx² loses ~half the mantissa when x's spread is tiny relative
    * to its magnitude — center x upstream if fitting such data. Results
    * round to 6 dp.
    *
    * Raw double sums are only replay-stable when the coordinates sit on
    * an exact decimal/binary grid (integers, fixed-decimal money). If x
    * or y comes out of `F.log`/`F.exp`/division, use [[olsFitQuantized]]
    * — the unordered float sums here can otherwise flip the 6-dp output
    * on association order (the r15 x222 regression).
    *
    * @return (groupCols…, n, slope, intercept, r2)
    */
  def olsFit(df: DataFrame, groupCols: Seq[String], x: Column,
             y: Column): DataFrame = {
    val agg = df
      .select(groupCols.map(F.col) :+ x.cast("double").as("__x") :+
        y.cast("double").as("__y"): _*)
      .groupBy(groupCols.map(F.col): _*)
      .agg(
        F.count(F.lit(1)).cast("double").as("__n"),
        F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
        F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).as("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).as("__syy"))
    val dx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    val dy = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    val cov = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    agg.select(groupCols.map(F.col) :+
      F.col("__n").cast("long").as("n") :+
      Quant.noNegZero(F.round(cov / F.nullif(dx, F.lit(0.0)), 6)).as("slope") :+
      Quant.noNegZero(F.round((F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")) /
        F.nullif(dx, F.lit(0.0)), 6)).as("intercept") :+
      Quant.noNegZero(F.round(cov * cov / F.nullif(dx * dy, F.lit(0.0)), 6)).as("r2"): _*)
  }

  /** [[olsFit]] with the quantize-before-sum discipline (the
    * [[taylorLaw]]/[[hurstRS]] idiom) for coordinates that are NOT on an
    * exact binary grid — ln/exp transforms above all. Each coordinate and
    * each product term (x², xy, y²) is rounded to `dp` decimals BEFORE
    * entering the partial-aggregated sums, and the sums accumulate as
    * DECIMAL(38,dp) — exact and order-independent — so the sufficient
    * statistics are bit-identical regardless of engine or partitioning;
    * the raw [[olsFit]] over unrounded transcendentals can flip its
    * 6-dp slope/r² across runs purely from float-sum association order
    * (amplified by the nΣxx−Σx² cancellation), and even a dp-rounded
    * DOUBLE sum can land exactly on a 6-dp half boundary where the
    * association order decides the rounded output. Use this variant whenever x or y comes out of
    * `F.log`/`F.exp`/division; plain [[olsFit]] stays correct for
    * exact-grid inputs (integers, fixed-decimal money).
    *
    * Same scale shape and output contract as [[olsFit]]:
    * (groupCols…, n, slope, intercept, r2), 6-dp, NULL on zero
    * x-variance.
    */
  def olsFitQuantized(df: DataFrame, groupCols: Seq[String], x: Column,
                      y: Column, dp: Int = 9): DataFrame = {
    val dec = s"decimal(38,$dp)"
    val q = df
      .select(groupCols.map(F.col) :+
        F.round(x.cast("double"), dp).as("__x") :+
        F.round(y.cast("double"), dp).as("__y"): _*)
      .withColumn("__xx",
        F.round(F.col("__x") * F.col("__x"), dp).cast(dec))
      .withColumn("__xy",
        F.round(F.col("__x") * F.col("__y"), dp).cast(dec))
      .withColumn("__yy",
        F.round(F.col("__y") * F.col("__y"), dp).cast(dec))
      .withColumn("__x", F.col("__x").cast(dec))
      .withColumn("__y", F.col("__y").cast(dec))
    val agg = q.groupBy(groupCols.map(F.col): _*)
      .agg(
        F.count(F.lit(1)).cast("double").as("__n"),
        F.sum("__x").cast("double").as("__sx"),
        F.sum("__y").cast("double").as("__sy"),
        F.sum("__xx").cast("double").as("__sxx"),
        F.sum("__xy").cast("double").as("__sxy"),
        F.sum("__yy").cast("double").as("__syy"))
    val dx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    val dy = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    val cov = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    agg.select(groupCols.map(F.col) :+
      F.col("__n").cast("long").as("n") :+
      Quant.noNegZero(F.round(cov / F.nullif(dx, F.lit(0.0)), 6)).as("slope") :+
      Quant.noNegZero(F.round((F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")) /
        F.nullif(dx, F.lit(0.0)), 6)).as("intercept") :+
      Quant.noNegZero(F.round(cov * cov / F.nullif(dx * dy, F.lit(0.0)), 6)).as("r2"): _*)
  }

  /** Per-group Pearson correlation for every unordered pair of `cols`,
    * from ONE partial-aggregated pass: per column n, Σx, Σxx and per pair
    * Σxy — p + p(p+1)/2 + 1 machine numbers per group cross the shuffle
    * regardless of corpus size, then the p(p-1)/2 output rows unfold from
    * the single aggregate row with one explode (no second scan, no
    * `corr()` builtin whose internal Welford accumulation other engines
    * cannot replay).
    *
    * r = (nΣxy − ΣxΣy) / sqrt((nΣxx − Σx²)(nΣyy − Σy²)) — sqrt is
    * IEEE-correctly-rounded in every engine, so the oracle replays the
    * value exactly; a non-positive variance product (constant column, or
    * catastrophic cancellation on tiny spreads — see [[olsFit]]'s caveat)
    * yields NULL, never NaN. Rounded to 6 dp.
    *
    * @return one row per (group, pair): (groupCols…, col_a, col_b, n, r)
    */
  def corrPairs(df: DataFrame, groupCols: Seq[String],
                cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val proj = df.select(groupCols.map(F.col) ++
      cols.map(c => F.col(c).cast("double").as(c)): _*)
    val aggs: Seq[Column] =
      Seq(F.count(F.lit(1)).cast("double").as("__n")) ++
      cols.map(c => F.sum(F.col(c)).as(s"__s_$c")) ++
      cols.map(c => F.sum(F.col(c) * F.col(c)).as(s"__ss_$c")) ++
      pairs.map { case (a, b) =>
        F.sum(F.col(a) * F.col(b)).as(s"__sp_${a}__$b") }
    val agg = proj.groupBy(groupCols.map(F.col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val n = F.col("__n")
    val pairStructs = pairs.map { case (a, b) =>
      val dx = n * F.col(s"__ss_$a") - F.col(s"__s_$a") * F.col(s"__s_$a")
      val dy = n * F.col(s"__ss_$b") - F.col(s"__s_$b") * F.col(s"__s_$b")
      val cov = n * F.col(s"__sp_${a}__$b") - F.col(s"__s_$a") * F.col(s"__s_$b")
      F.struct(F.lit(a).as("col_a"), F.lit(b).as("col_b"),
        F.when(dx * dy > 0.0, F.round(cov / F.sqrt(dx * dy), 6)).as("r"))
    }
    agg
      .select(groupCols.map(F.col) :+ n.cast("long").as("n") :+
        F.explode(F.array(pairStructs: _*)).as("__p"): _*)
      .select(groupCols.map(F.col) :+ F.col("__p.col_a").as("col_a") :+
        F.col("__p.col_b").as("col_b") :+ F.col("n") :+ F.col("__p.r").as("r"): _*)
  }

  /** Welch's unequal-variance two-sample t-test per group: does metric
    * `value` differ between `classA` and `classB` rows of `classCol`?
    * (The A/B readout and the slice-vs-slice quality-drift test.)
    *
    * ONE conditional-aggregation pass — per class n, Σx, Σxx collapse
    * map-side, 6 numbers per group cross the shuffle. Sample variance by
    * the closed form s² = (Σxx − Σx²/n)/(n−1); then
    * t = (mA − mB)/sqrt(sA²/nA + sB²/nB) and the Welch–Satterthwaite
    * df = (vA+vB)² / (vA²/(nA−1) + vB²/(nB−1)) with v = s²/n, every step
    * an explicit expression tree (no engine t-test builtin). A class with
    * n < 2 or a zero pooled variance yields NULL t/df, never NaN; values
    * rounded to 6 dp.
    *
    * @return (groupCols…, n_a, n_b, mean_a, mean_b, t, df)
    */
  def welchTTest(df: DataFrame, groupCols: Seq[String], classCol: Column,
                 value: Column, classA: String, classB: String): DataFrame = {
    val v = value.cast("double")
    def side(cls: String, tag: String): Seq[Column] = {
      val in = classCol.cast("string") === cls
      // count the VALUES, not the rows — a NULL metric row must not enter
      // n while its value skips the sums (the variance would silently rot)
      Seq(
        F.count(F.when(in, v)).cast("double").as(s"__n$tag"),
        F.sum(F.when(in, v)).as(s"__s$tag"),
        F.sum(F.when(in, v * v)).as(s"__ss$tag"))
    }
    val aggs = side(classA, "a") ++ side(classB, "b")
    val agg = df.groupBy(groupCols.map(F.col): _*).agg(aggs.head, aggs.tail: _*)
    def mean(t: String) =
      F.col(s"__s$t") / F.nullif(F.col(s"__n$t"), F.lit(0.0))
    // v = s²/n = (Σxx − Σx²/n) / ((n−1)·n) — nullif'd so an n<2 class
    // NULLs out instead of tripping ANSI division-by-zero inside the
    // (unused) branch; when both n >= 2 the nullifs never fire and the
    // tree is the oracle's verbatim
    def vn(t: String) =
      (F.col(s"__ss$t") - F.col(s"__s$t") * F.col(s"__s$t") /
        F.nullif(F.col(s"__n$t"), F.lit(0.0))) /
        F.nullif((F.col(s"__n$t") - 1.0) * F.col(s"__n$t"), F.lit(0.0))
    val ok = F.col("__na") >= 2.0 && F.col("__nb") >= 2.0
    val se2 = vn("a") + vn("b")
    val dfDen = vn("a") * vn("a") / F.nullif(F.col("__na") - 1.0, F.lit(0.0)) +
      vn("b") * vn("b") / F.nullif(F.col("__nb") - 1.0, F.lit(0.0))
    agg.select(groupCols.map(F.col) :+
      F.col("__na").cast("long").as("n_a") :+
      F.col("__nb").cast("long").as("n_b") :+
      F.round(F.when(F.col("__na") > 0.0, mean("a")), 6).as("mean_a") :+
      F.round(F.when(F.col("__nb") > 0.0, mean("b")), 6).as("mean_b") :+
      F.when(ok && se2 > 0.0,
        F.round((mean("a") - mean("b")) / F.sqrt(se2), 6)).as("t") :+
      F.when(ok && dfDen > 0.0,
        F.round(se2 * se2 / dfDen, 6)).as("df"): _*)
  }

  /** Per-group equi-width histogram over `[lo, hi]`: bin i covers
    * [lo + i·w, lo + (i+1)·w) with w = (hi−lo)/bins, the last bin closed
    * at hi. EMPTY BINS ARE EMITTED (count 0) — a histogram with holes
    * silently dropped reads as a different distribution.
    *
    * One partial-aggregated count pass (≤ groups·bins rows cross the
    * first shuffle), then the per-group rows pack into ONE map row
    * (`collect_list`/`map_from_entries`, state bounded by `bins`) so the
    * empty-bin completion is a sequence-explode + map lookup over a
    * single reference — the corpus is scanned ONCE and there is no join
    * (a naive "left join counts against a bin frame" re-references the
    * aggregate subtree, which Spark re-executes as a second full scan).
    * Out-of-range and NULL values are DROPPED and reported in the
    * per-group `n_out` column rather than clamped into the edge bins
    * (clamping fabricates mass at the boundaries). The bin index
    * ⌊(v−lo)/w⌋ is one IEEE subtract+divide+floor, identical in any
    * engine; edges round to 6 dp for display.
    *
    * @return (groupCols…, bin, bin_lo, bin_hi, n, n_out)
    */
  def histogram(df: DataFrame, groupCols: Seq[String], value: Column,
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 10000, s"bins must be in [1,10000], got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    val w = (hi - lo) / bins
    val v = value.cast("double")
    val inRange = v.isNotNull && v >= lo && v <= hi
    val idx = F.least(F.lit(bins - 1),
      F.floor((v - lo) / w).cast("int")).as("bin")
    val counts = df
      .select(groupCols.map(F.col) :+
        F.when(inRange, idx).as("bin"): _*)
      .groupBy((groupCols :+ "bin").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    // pack each group's present bins into one map row (collect_list skips
    // the null-bin entry; state ≤ bins entries), carry the out-of-range
    // tally alongside — one reference, so no re-executed scan
    val packed = counts.groupBy(groupCols.map(F.col): _*)
      .agg(
        F.map_from_entries(F.collect_list(F.when(F.col("bin").isNotNull,
          F.struct(F.col("bin"), F.col("__c"))))).as("__m"),
        F.sum(F.when(F.col("bin").isNull, F.col("__c"))
          .otherwise(F.lit(0L))).as("n_out"))
    packed
      .select(groupCols.map(F.col) ++ Seq(F.col("__m"), F.col("n_out")) :+
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).as("bin"): _*)
      .select(groupCols.map(F.col) :+ F.col("bin") :+
        F.round(F.lit(lo) + F.col("bin") * w, 6).as("bin_lo") :+
        F.round(F.lit(lo) + (F.col("bin") + 1) * w, 6).as("bin_hi") :+
        F.coalesce(F.element_at(F.col("__m"), F.col("bin")), F.lit(0L)).as("n") :+
        F.col("n_out"): _*)
  }

  /** Benford's-law first-digit audit per group — the classic fabricated-
    * data / unit-mixup screen for financial-style positive metrics: real
    * multi-scale data has first-digit share ≈ log10(1 + 1/d); uniform or
    * truncated data does not. Digits are extracted via INTEGER string
    * rendering (`value` is scaled by `scale` and floored to a BIGINT
    * first — double-to-string formatting differs across engines, integer
    * rendering does not). Non-positive and NULL values are dropped and
    * tallied in `n_skipped`. Expected shares use the `ln(x)/ln(10)`
    * division both engines compute identically (the log2 rule).
    *
    * One count pass per (group, digit) + a group-total window over the
    * ≤ 9-rows-per-group table.
    *
    * @return (groupCols…, digit, n, share, expected, n_skipped)
    */
  def benfordAudit(df: DataFrame, groupCols: Seq[String], value: Column,
                   scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val v = value.cast("double")
    val ok = v.isNotNull && v > 0.0
    val digit = F.when(ok,
      F.substring(F.floor(v * scale).cast("long").cast("string"), 1, 1)
        .cast("int"))
    val counts = df
      .select(groupCols.map(F.col) :+ digit.as("digit"): _*)
      .groupBy((groupCols :+ "digit").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val gw = Window.partitionBy(groupCols.map(F.col): _*)
    counts
      .withColumn("__skip", F.sum(F.when(F.col("digit").isNull, F.col("__c"))
        .otherwise(F.lit(0L))).over(gw))
      .withColumn("__tot", F.sum(F.when(F.col("digit").isNotNull, F.col("__c"))
        .otherwise(F.lit(0L))).over(gw))
      .filter(F.col("digit").isNotNull)
      .select(groupCols.map(F.col) :+ F.col("digit") :+
        F.col("__c").as("n") :+
        F.round(F.col("__c").cast("double") /
          F.nullif(F.col("__tot").cast("double"), F.lit(0.0)), 6).as("share") :+
        F.round(F.log(10.0, F.lit(1.0) + F.lit(1.0) / F.col("digit")
          .cast("double")), 6).as("expected") :+
        F.col("__skip").as("n_skipped"): _*)
  }

  /** Gini concentration coefficient per group — "how dominated is this
    * slice by its top keys?" (source share of a corpus, supplier share of
    * order volume). Over the ascending-sorted member values x_1..x_n:
    * {{{ G = 2·Σ i·x_i / (n·Σ x_i) − (n+1)/n }}}
    * 0 = perfectly even, →1 = one member holds everything. Ranks come
    * from one member-keyed window (ties in x may take either order — the
    * formula's Σ i·x_i is tie-order invariant); with INTEGER member
    * values both sums are exact integers and the only float work is two
    * divisions, identical in any engine.
    *
    * @param members one row per (group, member) with the member's integer
    *                mass in `value`
    * @return (groupCols…, n_members, total, gini) — 6-dp rounded
    */
  def gini(members: DataFrame, groupCols: Seq[String],
           value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(F.col): _*)
      .orderBy(F.col("__x").asc)
    members
      .select(groupCols.map(F.col) :+ value.cast("long").as("__x"): _*)
      .withColumn("__i", F.row_number().over(w))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_members"),
        F.sum("__x").as("total"),
        F.sum(F.col("__i") * F.col("__x")).as("__ix"))
      .select(groupCols.map(F.col) :+ F.col("n_members") :+ F.col("total") :+
        F.round(
          F.lit(2.0) * F.col("__ix").cast("double") /
            F.nullif(F.col("n_members").cast("double") *
              F.col("total").cast("double"), F.lit(0.0)) -
          (F.col("n_members") + 1L).cast("double") /
            F.col("n_members").cast("double"), 6).as("gini"): _*)
  }

  /** Mutual information (and the marginal entropies) between two
    * categorical columns — "does `source` predict `lang`?" — the
    * dependence audit behind leakage checks and stratification choices.
    * {{{ MI = Σ_ij p_ij · log2(c_ij·N / (c_i·c_j)) }}}
    * with every count an INTEGER from one contingency pass; margins and N
    * are windows over the ≤|A|·|B|-row contingency table. Each term is
    * 9-dp-quantized before the unordered sum (the pageRank rule); log2
    * runs as the ln-division both engines share (the x106 rule).
    *
    * @return one row: (n, h_a, h_b, mi_bits, nmi) — nmi = MI/min(H) in
    *         [0,1], NULL when either marginal entropy is 0
    */
  def mutualInfo(df: DataFrame, colA: Column, colB: Column): DataFrame = {
    val cells = df.select(colA.as("__a"), colB.as("__b"))
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c"))
    val wa = Window.partitionBy("__a")
    val wb = Window.partitionBy("__b")
    val wt = Window.partitionBy()
    def lg(x: Column): Column = F.log(2.0, x)
    val terms = cells
      .withColumn("__ca", F.sum("__c").over(wa))
      .withColumn("__cb", F.sum("__c").over(wb))
      .withColumn("__n", F.sum("__c").over(wt))
    val nD = F.col("__n").cast("double")
    val p = F.col("__c").cast("double") / nD
    val pa = F.col("__ca").cast("double") / nD
    val pb = F.col("__cb").cast("double") / nD
    terms
      .withColumn("__mi", F.round(p * lg(
        F.col("__c").cast("double") * nD /
          (F.col("__ca").cast("double") * F.col("__cb").cast("double"))), 9))
      // marginal-entropy terms weighted by the cell so each (a, b) row
      // contributes its share: Σ_ij p_ij·(−log2 p_a) = H(A)
      .withColumn("__ha", F.round(-p * lg(pa), 9))
      .withColumn("__hb", F.round(-p * lg(pb), 9))
      .groupBy()
      .agg(F.max("__n").as("n"),
        F.round(F.sum("__ha") + 0.0, 6).as("h_a"),
        F.round(F.sum("__hb") + 0.0, 6).as("h_b"),
        F.round(F.sum("__mi") + 0.0, 6).as("mi_bits"))
      .withColumn("nmi", F.round(
        F.col("mi_bits") / F.nullif(F.least(F.col("h_a"), F.col("h_b")),
          F.lit(0.0)), 6))
  }

  /** Per-group TRIMMED mean: the mean of values with the lowest and
    * highest `trim` fraction removed by INTEGER RANK (⌈t·n⌉ rows off each
    * end) — the robust center that, unlike [[winsorize]], needs no global
    * bound and, unlike a median, still averages the kept mass. One window
    * shuffle on the group key (ranks in (value, tie) order), then a
    * partial-aggregated rollup of the kept rows.
    *
    * @return (groupCols…, n, n_kept, trimmed_mean) — 6-dp; NULL when the
    *         trim swallows the whole group
    */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], value: Column,
                  tie: Column, trim: Double = 0.1): DataFrame = {
    require(trim >= 0.0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val w = Window.partitionBy(groupCols.map(F.col): _*)
      .orderBy(value.cast("double").asc, tie.asc)
    val cut = F.ceil(F.lit(trim) * F.col("__n").cast("double"))
    df.select(groupCols.map(F.col) :+ value.cast("double").as("__v") :+
        tie.as("__t"): _*)
      .withColumn("__rn", F.row_number().over(
        Window.partitionBy(groupCols.map(F.col): _*)
          .orderBy(F.col("__v").asc, F.col("__t").asc)))
      .withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy(groupCols.map(F.col): _*)))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.max("__n").as("n"),
        F.count(F.when(F.col("__rn") > cut &&
          F.col("__rn") <= F.col("__n") - cut, 1)).as("n_kept"),
        F.round(
          F.sum(F.when(F.col("__rn") > cut &&
            F.col("__rn") <= F.col("__n") - cut, F.col("__v"))) /
            F.nullif(F.count(F.when(F.col("__rn") > cut &&
              F.col("__rn") <= F.col("__n") - cut, 1)).cast("double"),
              F.lit(0.0)), 6).as("trimmed_mean"))
  }

  /** Winsorization bounds + clipping from SAMPLED integer-rank
    * percentiles — the outlier-taming pass before means/regressions that
    * a corrupt 1e30 reading would otherwise eat, without the global sort
    * an exact percentile needs. Bounds come from an md5-keyed sample (the
    * [[graft.ops.Scale.rangeShardAssign]] machinery: rank
    * `max(1, ⌊p·n⌋)`, no interpolation), become plan literals, and the
    * clip is a shuffle-free `greatest/least` projection.
    *
    * The sample is keyed on `sampleKey` — pass a stable INTEGER/STRING
    * row key, never the double value itself (double-to-string rendering
    * is not engine-portable — the benfordAudit rule).
    *
    * @return df + `clipped` (+ the bounds as literal columns lo/hi)
    */
  def winsorize(df: DataFrame, value: Column, sampleKey: Column,
                pLo: Double, pHi: Double,
                samplePrefix: String = "199a",
                maxSample: Int = 1 << 20): DataFrame = {
    require(pLo > 0.0 && pHi <= 1.0 && pLo < pHi,
      s"need 0 < pLo < pHi <= 1, got [$pLo, $pHi]")
    val v = value.cast("double")
    val sample = df
      .filter(F.substring(F.md5(sampleKey.cast("string")), 1, 4) < samplePrefix)
      .select(v.as("__v")).limit(maxSample + 1).collect()
    require(sample.nonEmpty, "winsorize: empty sample — widen samplePrefix")
    require(sample.length <= maxSample,
      s"winsorize: sample exceeds maxSample=$maxSample — tighten samplePrefix")
    val keys = sample.map(_.getDouble(0)).sorted
    val n = keys.length.toLong
    def at(p: Double) = keys((math.max(1L, (p * n).toLong) - 1L).toInt)
    val (lo, hi) = (at(pLo), at(pHi))
    df.withColumn("lo", F.lit(lo)).withColumn("hi", F.lit(hi))
      .withColumn("clipped", F.greatest(F.lit(lo), F.least(F.lit(hi), v)))
  }

  /** Lead–lag cross-correlation between two (t, value) series: Pearson r
    * of `a_t` against `b_{t+lag}` for every lag in `−maxLag..maxLag` —
    * "do clicks lead purchases, and by how many days?". Positive lag =
    * `b` trails `a`.
    *
    * Each lag is one integer-keyed equi-join of the two (tiny, already
    * aggregated) series tables shifted by the lag, feeding the
    * [[corrPairs]] sufficient-statistics tree; the per-lag 1-row results
    * union into ONE job. Only overlapping timestamps enter a lag's
    * correlation (inner join), so n varies by lag and is reported.
    *
    * @param a,b (tCol, vCol) tables — t an integer or date column
    * @return (lag, n, r) — r NULL when either side is constant
    */
  def leadLagCorr(a: DataFrame, b: DataFrame, tCol: String, vCol: String,
                  maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 64, s"maxLag must be in [0,64], got $maxLag")
    val perLag = (-maxLag to maxLag).map { lag =>
      val av = a.select(F.col(tCol).as("__t"), F.col(vCol).cast("double").as("__x"))
      // b shifted so that b(t + lag) aligns with a(t)
      val bv = b.select((F.col(tCol) - lag).as("__t"),
        F.col(vCol).cast("double").as("__y"))
      val agg = av.join(bv, "__t")
        .agg(F.count(F.lit(1)).cast("double").as("__n"),
          F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
          F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
          F.sum(F.col("__y") * F.col("__y")).as("__syy"),
          F.sum(F.col("__x") * F.col("__y")).as("__sxy"))
      val n = F.col("__n")
      val dx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
      val dy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
      val cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
      agg.select(F.lit(lag).as("lag"), n.cast("long").as("n"),
        F.when(dx * dy > 0.0, F.round(cov / F.sqrt(dx * dy), 6)).as("r"))
    }
    perLag.reduce(_ unionAll _)
  }

  /** Continuous-MLE power-law exponent (Clauset et al. 2009, eq. 3.1) for
    * a degree / frequency distribution:
    * {{{ α = 1 + n / Σ ln(d_i / (dmin − 0.5)) }}}
    * over values d ≥ dmin — the "is this crawl graph scale-free, and how
    * heavy is the tail?" readout. One partial-aggregated pass over the
    * (already bounded) per-key degree table; each ln term quantizes to
    * 9 dp before the unordered sum. Degenerate inputs (no rows ≥ dmin, or
    * a zero sum when every d = dmin = 1 is impossible since dmin ≥ 2
    * keeps the log positive) yield an empty / NULL result honestly.
    *
    * @param degrees one row per key with its integer count in `value`
    * @return one row: (n_tail, dmin, alpha) — alpha 6-dp
    */
  def powerlawAlpha(degrees: DataFrame, value: Column,
                    dmin: Int = 2): DataFrame = {
    require(dmin >= 2, s"dmin must be >= 2 (the -0.5 shift needs d > 1), got $dmin")
    val d = value.cast("double")
    degrees
      .filter(d >= dmin.toDouble)
      .select(F.round(F.log(d / (dmin.toDouble - 0.5)), 9).as("__t"))
      .groupBy()
      .agg(F.count(F.lit(1)).as("n_tail"), F.sum("__t").as("__s"))
      .select(F.col("n_tail"), F.lit(dmin).as("dmin"),
        F.round(F.lit(1.0) + F.col("n_tail").cast("double") /
          F.nullif(F.col("__s"), F.lit(0.0)), 6).as("alpha"))
  }

  /** [[powerlawAlpha]] per group — the Zipf-exponent census across corpus
    * slices ("does source X's token-frequency tail look like natural
    * text, α ≈ 2, or like key-value spam?"). Same 9-dp ln terms, one
    * partial-aggregated pass, group-count rows out. */
  def powerlawAlphaBy(degrees: DataFrame, groupCols: Seq[String],
                      value: Column, dmin: Int = 2): DataFrame = {
    require(dmin >= 2, s"dmin must be >= 2 (the -0.5 shift needs d > 1), got $dmin")
    val d = value.cast("double")
    degrees
      .filter(d >= dmin.toDouble)
      .select(groupCols.map(F.col) :+
        F.round(F.log(d / (dmin.toDouble - 0.5)), 9).as("__t"): _*)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_tail"), F.sum("__t").as("__s"))
      .select(groupCols.map(F.col) :+ F.col("n_tail") :+
        F.lit(dmin).as("dmin") :+
        F.round(F.lit(1.0) + F.col("n_tail").cast("double") /
          F.nullif(F.col("__s"), F.lit(0.0)), 6).as("alpha"): _*)
  }

  /** nDCG@k of a ranking against graded relevance judgments — the
    * ranking-quality readout for retrieval stacks (and for "how aligned
    * are two league tables" audits when relevance is derived from a
    * second ranking). Per query:
    * {{{
    *   DCG  = Σ_{rank ≤ k} rel / log2(rank + 1)
    *   IDCG = the same sum over the IDEAL ordering (rel desc, item asc)
    *   nDCG = DCG / IDCG
    * }}}
    * log2 runs as Spark's `log(2, x)` — the ln(x)/ln(2) division DuckDB
    * replays verbatim (the x106 rule) — and each gain term rounds to 9 dp
    * before the per-query sum (the pageRank rule). Items in `results`
    * without a judgment count rel = 0; judged items the ranking missed
    * cost it through IDCG. IDCG = 0 (no positive judgments) → NULL.
    *
    * Shape: one broadcast-friendly (query, item) equi-join of two
    * bounded ranking tables, one window over `truth` for the ideal
    * ordering (WindowGroupLimit-prunable), two per-query rollups.
    *
    * @param results (queryCol, itemCol, rankCol), rank 1 = best
    * @param truth   (queryCol, itemCol, relCol) graded judgments
    * @return (query, dcg, idcg, ndcg) — 6-dp rounded
    */
  def ndcg(results: DataFrame, truth: DataFrame, queryCol: String,
           itemCol: String, rankCol: String, relCol: String,
           k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    def gain(rel: Column, rank: Column): Column =
      F.round(rel.cast("double") /
        F.log(2.0, rank.cast("double") + 1.0), 9)
    val res = results
      .select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
        F.col(rankCol).as("__rk"))
      .filter(F.col("__rk") <= k)
      .join(truth.select(F.col(queryCol).as("query"),
          F.col(itemCol).as("item"), F.col(relCol).as("__rel")),
        Seq("query", "item"), "left")
      .groupBy("query")
      .agg(F.round(F.sum(gain(F.coalesce(F.col("__rel"), F.lit(0.0)),
        F.col("__rk"))), 6).as("dcg"))
    val wIdeal = Window.partitionBy("query")
      .orderBy(F.col("__rel").desc, F.col("item").asc)
    val ideal = truth
      .select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
        F.col(relCol).as("__rel"))
      .withColumn("__irk", F.row_number().over(wIdeal))
      .filter(F.col("__irk") <= k)
      .groupBy("query")
      .agg(F.round(F.sum(gain(F.col("__rel"), F.col("__irk"))), 6).as("idcg"))
    res.join(ideal, Seq("query"), "left")
      .select(F.col("query"), F.col("dcg"), F.col("idcg"),
        F.round(F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0)), 6)
          .as("ndcg"))
  }

  /** floor(CDF_k(Poisson λ=1) · 2³²) for k = 0..7 — the integer decision
    * thresholds for [[bootstrapCI]]'s resample weights. Hardcoded (not
    * computed) so the oracle SQL can carry the IDENTICAL literals. */
  private val PoissonCdf32: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L,
    4279248373L, 4292415291L, 4294609777L, 4294923276L)

  /** Poisson-bootstrap confidence interval for a per-group mean — the
    * distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams"): instead of drawing B resamples-with-
    * replacement (a shuffle each), every row carries a DETERMINISTIC
    * Poisson(1) weight per resample b, and each resample's weighted mean
    * is a partial-aggregated sum. The error bar a pipeline A/B readout
    * needs next to [[welchTTest]], at one-scan cost.
    *
    * Determinism/parity: the weight decision is pure INTEGER — u32 =
    * first-8-hex of md5(b ":" id) vs the hardcoded [[PoissonCdf32]]
    * thresholds (w = #thresholds ≤ u32, capping the weight at 8 — beyond
    * 10⁻⁵ tail mass); with an integer value column the per-resample sums
    * are exact, so any engine replays every mean bit-for-bit before the
    * one 6-dp rounding. CI bounds are order statistics of the B means
    * (ranks are compile-time integers).
    *
    * Scale shape: the B-way `explode(sequence)` multiplies the SCAN, not
    * the shuffle — rows collapse map-side to (group, b) partials, so the
    * exchange carries groups×B rows; the rank window runs over that
    * bounded table. B×CPU for one pass is the distributed bootstrap's
    * price (and its point: no B shuffles, no B jobs).
    */
  def bootstrapCI(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                  idCol: Column, b: Int = 200,
                  conf: Double = 0.95): DataFrame = {
    require(b >= 10, s"need >= 10 resamples for a CI, got $b")
    require(conf > 0 && conf < 1, s"conf must be in (0,1), got $conf")
    val loIdx = (math.floor((1 - conf) / 2 * (b - 1)) + 1).toInt
    val hiIdx = b - loIdx + 1
    val gs = groupCols.map(F.col)
    val u32 = F.conv(F.substring(
      F.md5(F.concat_ws(":", F.col("__b").cast("string"),
        valueColKey(F.col("__id")))), 1, 8), 16, 10).cast("long")
    val w = PoissonCdf32.map(t => F.when(u32 >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val means = df
      .select((gs :+ valueCol.cast("long").as("__v") :+ idCol.as("__id")): _*)
      .withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(b - 1))))
      .withColumn("__w", w)
      .groupBy((gs :+ F.col("__b")): _*)
      .agg(F.sum(F.col("__w") * F.col("__v")).as("__wv"),
        F.sum("__w").as("__wn"))
      .withColumn("__mean",
        F.round(F.col("__wv") / F.greatest(F.col("__wn"), F.lit(1L)), 6))
    val wRank = Window.partitionBy(gs: _*)
      .orderBy(F.col("__mean"), F.col("__b"))
    val ci = means.withColumn("__rk", F.row_number().over(wRank))
      .groupBy(gs: _*)
      .agg(F.max(F.when(F.col("__rk") === loIdx, F.col("__mean"))).as("ci_lo"),
        F.max(F.when(F.col("__rk") === hiIdx, F.col("__mean"))).as("ci_hi"))
    val point = df.groupBy(gs: _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum(valueCol.cast("long")) /
          F.count(F.lit(1)).cast("double"), 6).as("mean"))
    if (groupCols.isEmpty) point.crossJoin(ci)
    else point.join(ci, groupCols)
  }

  /** Mean reciprocal rank: each query scores 1/rank of its FIRST relevant
    * result (0 when nothing relevant is retrieved — misses must drag the
    * mean, not vanish from it), and every row carries the corpus MRR.
    * The first-hit-position complement of [[ndcg]] for single-answer
    * retrieval evals.
    *
    * Scale shape: one (query, item) join against the truth pairs, one
    * min-rollup per query, a 1-row mean broadcast back — the ranking
    * tables are already top-k-bounded upstream.
    *
    * @return (query, first_rank, rr, mrr) — rr 9-dp, mrr 6-dp
    */
  def mrr(results: DataFrame, truth: DataFrame, queryCol: String,
          itemCol: String, rankCol: String): DataFrame = {
    val hits = results.join(truth.select(F.col(queryCol), F.col(itemCol)),
        Seq(queryCol, itemCol))
      .groupBy(queryCol).agg(F.min(rankCol).as("first_rank"))
    val perQ = results.select(F.col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left")
      .withColumn("rr", F.round(F.coalesce(
        F.lit(1.0) / F.col("first_rank"), F.lit(0.0)), 9))
    val g = perQ.agg(F.round(F.avg("rr"), 6).as("mrr"))
    perQ.crossJoin(F.broadcast(g))
      .select(F.col(queryCol).as("query"), F.col("first_rank"),
        F.col("rr"), F.col("mrr"))
      .orderBy("query")
  }

  /** Kaplan-Meier product-limit survival curve (Kaplan & Meier 1958) over
    * right-censored durations — the standard readout for "how long do
    * users/sessions/documents survive" when some subjects are still alive
    * at observation end. Input is one row per subject with an integer
    * `duration` and an `event` flag (1 = the terminal event was observed,
    * 0 = censored at that duration). At every observed event time t:
    * {{{
    *   n_risk(t)   = subjects with duration >= t
    *   S(t)        = Π_{t_i <= t} (1 - d_i / n_risk(t_i))
    * }}}
    * The product runs as `exp(Σ ln(...))` with each ln term rounded to
    * 9 dp before the (orderless) sum and the survival rounded to 6 — the
    * pageRank/x47 engine-neutrality rule. When the risk set is fully
    * consumed at the last event time (d = n_risk), `ln 0` differs across
    * engines (Spark NULL vs DuckDB −∞), so S = 0 is forced explicitly via
    * a cumulative d==n flag rather than computed.
    *
    * Scale shape: subjects collapse map-side to one row per DISTINCT
    * duration (a bounded domain — days/hours, not subjects), and both
    * windows run over that tiny table; the deliberate single-partition
    * window never sees subject-cardinality data.
    *
    * @return (t, n_risk, d, survival) — observed event times only
    */
  def kaplanMeier(df: DataFrame, durationCol: Column,
                  eventCol: Column): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"), eventCol.cast("int").as("__e"))
      .groupBy("t")
      .agg(F.sum("__e").as("d"), F.count(F.lit(1)).as("__leave"))
    // risk set at t = everyone whose duration is >= t: suffix-sum of the
    // per-duration leave counts (bounded single-partition window)
    val wDesc = Window.orderBy(F.col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(F.col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("n_risk", F.sum("__leave").over(wDesc))
      .filter(F.col("d") > 0)
      .withColumn("__ln", F.round(F.log(
        F.lit(1.0) - F.col("d") / F.nullif(
          F.col("n_risk").cast("double"), F.lit(0.0))), 9))
      .withColumn("__dead", F.max(
        F.when(F.col("d") === F.col("n_risk"), 1).otherwise(0)).over(wAsc))
      .withColumn("survival",
        F.when(F.col("__dead") === 1, 0.0)
          .otherwise(F.round(F.exp(F.sum(
            F.when(F.col("d") < F.col("n_risk"), F.col("__ln"))
              .otherwise(0.0)).over(wAsc)), 6)))
      .select("t", "n_risk", "d", "survival")
      .orderBy("t")
  }

  /** Average-rank sufficient statistics shared by [[mannWhitneyU]] and
    * [[aucExact]]: collapse to one row per DISTINCT value carrying the
    * per-class counts, then suffix/prefix sums over that bounded table
    * give every subject its midrank without ever ranking subjects.
    * Returns one row: (n1, n2, r1 = Σ midranks of class 1, tieTerm =
    * Σ (t³ − t) over tie groups). Midranks are exact in binary floating
    * point (integer + possible .5). */
  private def rankSum(df: DataFrame, valueCol: Column,
                      isClass1: Column): DataFrame = {
    val byV = df
      .select(valueCol.cast("double").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1"), F.count(F.lit(1)).as("__t"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV
      .withColumn("__cum", F.sum("__t").over(w))
      // midrank of every subject in this tie group
      .withColumn("__mid",
        (F.col("__cum") - F.col("__t")).cast("double") +
          (F.col("__t") + 1L).cast("double") / 2.0)
      .agg(F.sum("__n1").as("n1"),
        F.sum(F.col("__t") - F.col("__n1")).as("n2"),
        F.sum(F.col("__n1") * F.col("__mid")).as("r1"),
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
          .as("tie_term"))
  }

  /** Mann-Whitney U test (Wilcoxon rank-sum) between two classes of a
    * value distribution — the nonparametric two-sample location test (the
    * robust complement of [[welchTTest]]: no normality assumption, rank-
    * based, so heavy tails and outliers cannot dominate). Midranks handle
    * ties exactly; the normal approximation uses the standard tie-corrected
    * variance
    * {{{
    *   U1 = R1 − n1(n1+1)/2,   μ = n1·n2/2
    *   σ² = (n1·n2/12)·((n+1) − Σ(t³−t)/(n(n−1)))
    * }}}
    * Scale shape: [[rankSum]] — one map-side collapse to distinct values,
    * one bounded window, a 1-row result. No subject-level ranking ever
    * happens.
    *
    * @return one row (n1, n2, u1, u2, z) — z 6-dp, NULL when degenerate
    */
  def mannWhitneyU(df: DataFrame, valueCol: Column,
                   isClass1: Column): DataFrame = {
    val s = rankSum(df, valueCol, isClass1)
    val n1 = F.col("n1").cast("double")
    val n2 = F.col("n2").cast("double")
    val n = n1 + n2
    val u1 = F.col("r1") - n1 * (n1 + 1.0) / 2.0
    val u2 = n1 * n2 - u1
    val sigma2 = n1 * n2 / 12.0 *
      ((n + 1.0) - F.col("tie_term").cast("double") / (n * (n - 1.0)))
    s.select(F.col("n1"), F.col("n2"),
      F.round(u1, 6).as("u1"), F.round(u2, 6).as("u2"),
      F.round((u1 - n1 * n2 / 2.0) /
        F.sqrt(F.nullif(sigma2, F.lit(0.0))), 6).as("z"))
  }

  /** Exact ROC AUC of a score against a binary label via the rank-sum
    * identity `AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)` with midranks (ties
    * contribute 1/2, exactly the trapezoidal ROC) — the assumption-free
    * way to grade a quality classifier's separation without choosing a
    * threshold. Same sufficient-statistics shape as [[mannWhitneyU]]:
    * distinct score values collapse map-side, nothing subject-level is
    * ever sorted.
    *
    * @return one row (n_pos, n_neg, auc) — auc 6-dp, NULL if one-class
    */
  def aucExact(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val s = rankSum(df, scoreCol, labelCol)
    val np = F.col("n1").cast("double")
    val nn = F.col("n2").cast("double")
    s.select(F.col("n1").as("n_pos"), F.col("n2").as("n_neg"),
      F.round((F.col("r1") - np * (np + 1.0) / 2.0) /
        F.nullif(np * nn, F.lit(0.0)), 6).as("auc"))
  }

  /** Classifier calibration table + expected calibration error (ECE,
    * Naeini et al. 2015): scores bucket into `nBins` equal-width bins;
    * each bin reports mean confidence vs empirical accuracy, and every
    * row carries the corpus ECE `Σ_b (n_b/N)·|acc_b − conf_b|`. The
    * reliability readout that decides whether a quality-filter threshold
    * means what it claims.
    *
    * Scale shape: one map-side collapse to ≤ nBins rows (sum/count
    * partials), ECE from a 1-row rollup broadcast back — the corpus is
    * scanned once and never shuffled.
    *
    * @return (bin, n, conf, acc, ece) — bin = floor(score·nBins) clamped
    */
  def calibrationBins(df: DataFrame, scoreCol: Column, labelCol: Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val bins = df
      .select(F.least(F.floor(scoreCol.cast("double") * nBins),
          F.lit(nBins - 1L)).as("bin"),
        scoreCol.cast("double").as("__s"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg("__s"), 6).as("conf"),
        F.round(F.avg("__y"), 6).as("acc"))
    val ece = bins.agg(F.round(
      F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf"))) /
        F.sum("n"), 6).as("ece"))
    bins.crossJoin(F.broadcast(ece)).orderBy("bin")
  }

  /** Isotonic (PAV) calibration curve over binned scores — the MONOTONE
    * FIT that turns [[calibrationBins]]' reliability readout into a
    * usable calibration map (Zadrozny & Elkan 2002; isotonic regression
    * as probability calibration). Computed exactly via the minimax
    * characterization of the weighted L2-isotonic fit (Best &
    * Chakravarti 1990):
    * {{{
    *   iso_k = max_{i ≤ k}  min_{j ≥ k}  ( Σ_{b∈[i..j]} y_b ) / ( Σ_{b∈[i..j]} n_b )
    * }}}
    * over the non-empty score bins — nondecreasing in k by
    * construction, so thresholding the calibrated rate is
    * order-consistent with thresholding the raw score.
    *
    * Scale shape: the corpus collapses map-side to ≤ nBins exact
    * (n, Σlabel) long rows; prefix sums ride one single-partition
    * window over that bounded table (deliberate, like [[bhFdr]]); the
    * minimax is an i ≤ k ≤ j interval join, ≤ nBins³ rows (20 bins →
    * 8 000) — no driver loop, no sequential PAV pass.
    *
    * Determinism: every interval mean is ONE IEEE division of exact
    * long prefix differences; min/max over those are compares, not
    * accumulations — the result is partitioning-invariant and
    * engine-replayable.
    *
    * @param nBins equal-width bins over [0,1]; out-of-range scores
    *              clamp into the edge bins
    * @return (bin, n, raw_rate, iso_rate) ordered by bin, 6-dp rates;
    *         empty bins absent (they carry no evidence to fit)
    */
  def isotonicCalibration(df: DataFrame, scoreCol: Column,
                          labelCol: Column, nBins: Int = 20): DataFrame = {
    require(nBins >= 2 && nBins <= 256,
      s"nBins must be in [2,256], got $nBins")
    val binned = df
      .select(F.greatest(F.lit(0L),
          F.least(F.floor(scoreCol.cast("double") * nBins),
            F.lit(nBins - 1L))).as("bin"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__y").as("__sy"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = binned.select(F.col("bin"), F.col("n"), F.col("__sy"),
      F.sum("n").over(w).as("__cn"), F.sum("__sy").over(w).as("__cy"))
    val ii = pre.select(F.col("bin").as("i"),
      (F.col("__cn") - F.col("n")).as("__cn0"),
      (F.col("__cy") - F.col("__sy")).as("__cy0"))
    val jj = pre.select(F.col("bin").as("j"),
      F.col("__cn").as("__cnj"), F.col("__cy").as("__cyj"))
    val ivals = ii.crossJoin(jj).filter(F.col("i") <= F.col("j"))
      .select(F.col("i"), F.col("j"),
        ((F.col("__cyj") - F.col("__cy0")).cast("double") /
          (F.col("__cnj") - F.col("__cn0")).cast("double")).as("__avg"))
    val iso = pre.select(F.col("bin").as("k"))
      .join(ivals, F.col("i") <= F.col("k") && F.col("j") >= F.col("k"))
      .groupBy("k", "i").agg(F.min("__avg").as("__mn"))
      .groupBy("k").agg(F.round(F.max("__mn"), 6).as("iso_rate"))
    binned
      .join(iso, F.col("bin") === F.col("k"))
      .select(F.col("bin"), F.col("n"),
        F.round(F.col("__sy").cast("double") / F.col("n").cast("double"),
          6).as("raw_rate"),
        F.col("iso_rate"))
      .orderBy("bin")
  }

  /** Benjamini-Hochberg step-up FDR control over a table of χ² statistics
    * with 2 degrees of freedom — for df = 2 the upper-tail p-value is the
    * CLOSED FORM `p = exp(−χ²/2)` (the chi-square CDF needs no incomplete
    * gamma there), so the whole procedure is engine-replayable to the
    * last ulp. Keys sort by ascending p (key tie-break); discovery i is
    * kept iff some j >= i has `p_j <= α·j/m` (the step-up max-flag).
    * The multiple-testing guard that keeps a 10⁵-token association scan
    * from "discovering" thousands of false positives at α = 0.05.
    *
    * Scale shape: the input is already a per-key statistic table (bounded
    * by vocabulary, not corpus); two single-partition windows over it are
    * the deliberate, bounded cost.
    *
    * @param df (keyCols…, chi2Col) — one row per hypothesis
    * @return (keyCols…, chi2, p, i, discovered) ordered by i
    */
  def bhFdr(df: DataFrame, keyCols: Seq[String], chi2Col: Column,
            alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val keyed = df.select((keyCols.map(F.col) :+
      F.round(chi2Col.cast("double"), 6).as("chi2")): _*)
      .withColumn("p", F.round(F.exp(-F.col("chi2") / 2.0), 9))
    val wAsc = Window.orderBy((F.col("p").asc +: keyCols.map(F.col(_).asc)): _*)
    val wDesc = Window.orderBy((F.col("p").desc +: keyCols.map(F.col(_).desc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = keyed.agg(F.count(F.lit(1)).as("__m"))
    keyed.crossJoin(F.broadcast(m))
      .withColumn("i", F.row_number().over(wAsc))
      .withColumn("__pass",
        F.when(F.col("p") <=
          F.col("i") * F.lit(alpha) / F.col("__m"), 1).otherwise(0))
      .withColumn("discovered", F.max("__pass").over(wDesc) === 1)
      .select((keyCols.map(F.col) :+ F.col("chi2") :+ F.col("p") :+
        F.col("i") :+ F.col("discovered")): _*)
      .orderBy("i")
  }

  /** Sample-ratio-mismatch (SRM) check: goodness-of-fit χ² of observed
    * split/arm counts against their design weights, with the closed-form
    * df=2 p-value (`exp(−χ²/2)` — exact for THREE arms, the standard
    * train/val/test and A/B/holdout shapes; see [[bhFdr]] for why df=2).
    * The pre-analysis gate every experiment/split pipeline runs: a biased
    * assigner invalidates everything downstream, and SRM catches it from
    * counts alone.
    *
    * Scale shape: one map-side count collapse to ≤ arms rows; total and
    * χ² ride back as 1-row broadcasts.
    *
    * @param weights (arm → expected share), must cover every observed arm
    * @return (split, n_obs, n_exp, chi2, p, srm) — srm flags p < alpha
    */
  def srmCheck(df: DataFrame, splitCol: Column,
               weights: Seq[(String, Double)],
               alpha: Double = 0.001): DataFrame = {
    require(weights.size == 3,
      s"closed-form p needs exactly 3 arms (df=2), got ${weights.size}")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "weights must sum to 1")
    val obs = df.groupBy(splitCol.as("split"))
      .agg(F.count(F.lit(1)).as("n_obs"))
    val tot = obs.agg(F.sum("n_obs").as("__n"))
    val wExpr = weights.tail.foldLeft(
      F.when(F.col("split") === weights.head._1, weights.head._2)) {
      case (acc, (name, w)) => acc.when(F.col("split") === name, w)
    }
    val cells = obs.crossJoin(F.broadcast(tot))
      .withColumn("n_exp", F.round(F.col("__n") * wExpr, 6))
      .withColumn("__cell", F.round(
        (F.col("n_obs") - F.col("n_exp")) * (F.col("n_obs") - F.col("n_exp"))
          / F.nullif(F.col("n_exp"), F.lit(0.0)), 9))
    val chi = cells.agg(F.round(F.sum("__cell"), 6).as("chi2"))
      .withColumn("p", F.round(F.exp(-F.col("chi2") / 2.0), 9))
    cells.crossJoin(F.broadcast(chi))
      .select(F.col("split"), F.col("n_obs"), F.col("n_exp"),
        F.col("chi2"), F.col("p"), (F.col("p") < alpha).as("srm"))
      .orderBy("split")
  }

  /** One-way ANOVA from per-group sufficient statistics (n, Σx, Σx²):
    * between/within sums of squares, the F statistic, and η² (the share
    * of variance the grouping explains — the effect size that tells you
    * whether a "significant" source effect is worth acting on). No
    * p-value on purpose: the F CDF needs an incomplete beta no two
    * engines round alike; F and η² are the replayable readouts.
    *
    * Scale shape: ONE partial-aggregated scan to ≤ groups rows of three
    * machine numbers; 9-dp per-group terms, 6-dp results.
    *
    * @return one row (k, n, ssb, ssw, f, eta2)
    */
  def anovaF(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val g = df.select(groupCol.as("__g"), valueCol.cast("double").as("__v"))
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__v").as("__s1"),
        F.sum(F.col("__v") * F.col("__v")).as("__s2"))
      .withColumn("__cb", F.round(
        F.col("__s1") * F.col("__s1") / F.col("__n"), 9))
      .withColumn("__cw", F.round(
        F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"), 9))
    g.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
        F.sum("__cb").as("__sb"), F.sum("__s1").as("__t1"),
        F.round(F.sum("__cw"), 6).as("ssw"))
      .withColumn("ssb", F.round(
        F.col("__sb") - F.col("__t1") * F.col("__t1") / F.col("n"), 6))
      .withColumn("f", F.round(
        (F.col("ssb") / (F.col("k") - 1).cast("double")) /
          F.nullif(F.col("ssw") / (F.col("n") - F.col("k")).cast("double"),
            F.lit(0.0)), 6))
      .withColumn("eta2", F.round(F.col("ssb") /
        F.nullif(F.col("ssb") + F.col("ssw"), F.lit(0.0)), 6))
      .select("k", "n", "ssb", "ssw", "f", "eta2")
  }

  /** Theil-Sen robust trend over a BOUNDED series (daily/hourly rollups —
    * the time domain, not the corpus, sets the size): slope = median of
    * all pairwise slopes, intercept = median of `v − slope·t`. One
    * outlier day cannot move it, unlike [[olsFit]] — the robust default
    * for volume-trend monitoring.
    *
    * Median convention (both engines replay it): exact order statistics,
    * mean of the two middles when even. Slopes round to 9 dp before
    * ranking so the order is engine-neutral. The O(points²) pair fan-out
    * and single-partition rank windows are deliberate: they run on the
    * ROLLED-UP series (≤ thousands of rows), never on raw events.
    *
    * @param series (tCol, vCol) — one row per time point, t integral
    * @return one row (n_points, n_pairs, slope, intercept)
    */
  def theilSen(series: DataFrame, tCol: String, vCol: String): DataFrame = {
    val a = series.select(F.col(tCol).cast("long").as("__ta"),
      F.col(vCol).cast("double").as("__va"))
    val bb = series.select(F.col(tCol).cast("long").as("__tb"),
      F.col(vCol).cast("double").as("__vb"))
    val slopes = a.join(bb, F.col("__tb") > F.col("__ta"))
      .select(F.round((F.col("__vb") - F.col("__va")) /
        (F.col("__tb") - F.col("__ta")).cast("double"), 9).as("__s"))
    def median(df: DataFrame, col: String, out: String): DataFrame = {
      val n = df.agg(F.count(F.lit(1)).as("__n"))
      df.crossJoin(F.broadcast(n))
        .withColumn("__rk", F.row_number().over(Window.orderBy(F.col(col))))
        // integer-div middles: odd n picks one row twice, even n two rows
        .filter(F.col("__rk") ===
            F.call_function("div", F.col("__n") + 1L, F.lit(2L)) ||
          F.col("__rk") ===
            F.call_function("div", F.col("__n"), F.lit(2L)) + 1L)
        .agg(F.round(F.avg(col), 9).as(out))
    }
    val slope = median(slopes, "__s", "slope")
    val resid = a.crossJoin(F.broadcast(slope))
      .select(F.col("slope"),
        F.round(F.col("__va") - F.col("slope") * F.col("__ta"), 9).as("__r"))
    val icept = median(resid.select("__r"), "__r", "intercept")
    val counts = a.agg(F.count(F.lit(1)).as("n_points"))
      .crossJoin(slopes.agg(F.count(F.lit(1)).as("n_pairs")))
    counts.crossJoin(F.broadcast(slope)).crossJoin(F.broadcast(icept))
      .select(F.col("n_points"), F.col("n_pairs"),
        Quant.noNegZero(F.round(F.col("slope"), 6)).as("slope"),
        Quant.noNegZero(F.round(F.col("intercept"), 6)).as("intercept"))
  }

  /** 2-D skyline (Pareto frontier, Börzsönyi et al. 2001): keep the rows
    * no other row dominates (≥ on both axes, > on at least one) — the
    * "best quality at every length" selection a curation pipeline uses
    * when two signals trade off. Exact-duplicate (x, y) points all
    * survive (neither strictly dominates).
    *
    * Two-phase for scale: a salt-keyed LOCAL skyline first (a row
    * dominated inside any subset is dominated globally, so local pruning
    * is sound), then the global pass runs its single-partition windows
    * over the local survivors only — on correlated real data that is a
    * tiny fraction of the corpus. Axes must be integral: the strict
    * x' > x frame is RANGE [x+1, ∞).
    *
    * @return (idCol, x, y) — frontier rows ordered by x, id
    */
  def skyline2d(df: DataFrame, idCol: String, xCol: Column, yCol: Column,
                saltBuckets: Int = 32): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val base = df.select(F.col(idCol), xCol.cast("long").as("x"),
      yCol.cast("long").as("y"))
    def survivors(in: DataFrame, parts: Seq[Column]): DataFrame = {
      val wEq = Window.partitionBy((parts :+ F.col("x")): _*)
      val wGt = (if (parts.isEmpty) Window.orderBy(F.col("x"))
                 else Window.partitionBy(parts: _*).orderBy(F.col("x")))
        .rangeBetween(1L, Window.unboundedFollowing)
      in.withColumn("__gmax", F.max("y").over(wEq))
        .withColumn("__runmax", F.max("y").over(wGt))
        .filter(F.col("y") === F.col("__gmax") &&
          (F.col("__runmax").isNull || F.col("y") > F.col("__runmax")))
        .drop("__gmax", "__runmax")
    }
    val local = survivors(base.withColumn("__salt",
        F.pmod(F.xxhash64(F.col(idCol)), F.lit(saltBuckets))),
      Seq(F.col("__salt"))).drop("__salt")
    survivors(local, Nil).orderBy("x", idCol)
  }

  /** Spearman rank correlation via MIDRANKS from two distinct-value
    * collapses (the [[mannWhitneyU]] machinery, one per axis): each row's
    * rank pair comes from joining its value against the bounded per-value
    * rank tables, and ρ is Pearson on those midranks — the tie-correct
    * definition, monotone-invariant, outlier-robust. Nothing row-level is
    * ever sorted: the only windows run over distinct values.
    *
    * @return one row (n, rho) — 6-dp, NULL when an axis is constant
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def midranks(v: DataFrame, col: String, out: String): DataFrame = {
      val w = Window.orderBy(F.col(col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.groupBy(col).agg(F.count(F.lit(1)).as("__t"))
        .withColumn("__cum", F.sum("__t").over(w))
        .select(F.col(col),
          ((F.col("__cum") - F.col("__t")).cast("double") +
            (F.col("__t") + 1L).cast("double") / 2.0).as(out))
    }
    val base = df.select(xCol.cast("double").as("__x"),
      yCol.cast("double").as("__y"))
    val ranked = base
      .join(midranks(base, "__x", "__rx"), Seq("__x"))
      .join(midranks(base, "__y", "__ry"), Seq("__y"))
    val s = ranked.agg(F.count(F.lit(1)).cast("double").as("__n"),
      F.sum("__rx").as("__sx"), F.sum("__ry").as("__sy"),
      F.sum(F.col("__rx") * F.col("__rx")).as("__sxx"),
      F.sum(F.col("__ry") * F.col("__ry")).as("__syy"),
      F.sum(F.col("__rx") * F.col("__ry")).as("__sxy"))
    val num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    val den = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")) *
      (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    s.select(F.col("__n").cast("long").as("n"),
      F.when(den > 0.0, F.round(num / F.sqrt(den), 6)).as("rho"))
  }

  /** Cohen's kappa between two binary raters — chance-corrected agreement
    * `κ = (p_o − p_e)/(1 − p_e)`. The metric that separates "my quality
    * classifier agrees with the labels" from "both just say yes a lot";
    * the standard acceptance gate for replacing a human labeling pass
    * with a model.
    *
    * One map-side count collapse (four cells as conditional sums); all
    * shares exact until the 6-dp rounding. κ is NULL when p_e = 1 (both
    * raters constant — agreement is undefined, not perfect).
    *
    * @return one row (n, n11, n00, po, pe, kappa)
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val c = df.select(F.when(raterA, 1L).otherwise(0L).as("__a"),
        F.when(raterB, 1L).otherwise(0L).as("__b"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("__a") * F.col("__b")).as("n11"),
        F.sum((F.lit(1L) - F.col("__a")) * (F.lit(1L) - F.col("__b")))
          .as("n00"),
        F.sum("__a").as("__na"), F.sum("__b").as("__nb"))
    val nD = F.col("n").cast("double")
    val po = (F.col("n11") + F.col("n00")).cast("double") / nD
    val pe = (F.col("__na") * F.col("__nb")).cast("double") / (nD * nD) +
      ((F.col("n") - F.col("__na")) * (F.col("n") - F.col("__nb")))
        .cast("double") / (nD * nD)
    c.select(F.col("n"), F.col("n11"), F.col("n00"),
      F.round(po, 6).as("po"), F.round(pe, 6).as("pe"),
      F.round((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)), 6)
        .as("kappa"))
  }

  /** Stratified treatment-effect estimate (the observational-data ATE via
    * subclassification, Cochran 1968): within each propensity stratum,
    * compare treated vs control outcome means; pool the per-stratum
    * differences weighted by stratum share. Strata come from a
    * DETERMINISTIC equal-width binning of the score (shuffle-free — no
    * global quantile sort), which is the right production shape when the
    * score is already calibrated to [0, 1].
    *
    * Scale: one map-side collapse to ≤ nStrata rows of conditional sums;
    * the pooled estimate is a 1-row rollup broadcast back. Strata missing
    * an arm report NULL diff and drop from the pooled weight mass (their
    * share renormalizes away — the standard overlap restriction).
    *
    * @return (stratum, n_t, n_c, mean_t, mean_c, diff, ate) per stratum
    */
  def stratifiedEffect(df: DataFrame, scoreCol: Column, treatCol: Column,
                       outcomeCol: Column, nStrata: Int = 5): DataFrame = {
    require(nStrata >= 2, s"need >= 2 strata, got $nStrata")
    val cells = df.select(
        F.least(F.floor(scoreCol.cast("double") * nStrata),
          F.lit(nStrata - 1L)).as("stratum"),
        F.when(treatCol, 1L).otherwise(0L).as("__t"),
        outcomeCol.cast("double").as("__y"))
      .groupBy("stratum")
      .agg(F.sum("__t").as("n_t"),
        F.sum(F.lit(1L) - F.col("__t")).as("n_c"),
        F.sum(F.when(F.col("__t") === 1L, F.col("__y"))).as("__st"),
        F.sum(F.when(F.col("__t") === 0L, F.col("__y"))).as("__sc"))
      .withColumn("mean_t", F.round(
        F.col("__st") / F.nullif(F.col("n_t").cast("double"), F.lit(0.0)), 6))
      .withColumn("mean_c", F.round(
        F.col("__sc") / F.nullif(F.col("n_c").cast("double"), F.lit(0.0)), 6))
      .withColumn("diff", F.round(F.col("mean_t") - F.col("mean_c"), 6))
    val pooled = cells.filter(F.col("diff").isNotNull)
      .agg(F.round(
        F.sum((F.col("n_t") + F.col("n_c")).cast("double") * F.col("diff")) /
          F.sum((F.col("n_t") + F.col("n_c")).cast("double")), 6).as("ate"))
    cells.crossJoin(F.broadcast(pooled))
      .select("stratum", "n_t", "n_c", "mean_t", "mean_c", "diff", "ate")
      .orderBy("stratum")
  }

  /** Seasonal-naive backtest: forecast each point with the value one
    * `season` back (`f(t) = v(t−season)` — THE baseline every fancier
    * forecaster must beat) and score MAE / MAPE over the points where the
    * forecast exists. The pipeline-monitoring readout: if ingest volume
    * deviates from last week's shape by much more than the backtest MAE,
    * something upstream changed.
    *
    * Runs on a ROLLED-UP series (bounded by the time domain), so the
    * single-partition lag window is deliberate and tiny. Error terms
    * round to 9 dp, the means to 6.
    *
    * @return (t, v, fcst, abs_err, mae, mape) for scored points
    */
  def snaiveBacktest(series: DataFrame, tCol: String, vCol: String,
                     season: Int = 7): DataFrame = {
    require(season >= 1, s"season must be >= 1, got $season")
    val w = Window.orderBy(tCol)
    val scored = series
      .select(F.col(tCol).cast("long").as("t"),
        F.col(vCol).cast("double").as("v"))
      .withColumn("fcst", F.lag("v", season).over(w))
      .filter(F.col("fcst").isNotNull)
      .withColumn("abs_err", F.round(F.abs(F.col("v") - F.col("fcst")), 9))
      .withColumn("__ape", F.round(F.col("abs_err") /
        F.nullif(F.col("v"), F.lit(0.0)), 9))
    val g = scored.agg(F.round(F.avg("abs_err"), 6).as("mae"),
      F.round(F.avg("__ape"), 6).as("mape"))
    scored.crossJoin(F.broadcast(g))
      .select("t", "v", "fcst", "abs_err", "mae", "mape")
      .orderBy("t")
  }

  /** Exact single-changepoint detection by two-segment least squares
    * (the CUSUM-of-squares / binary-segmentation primitive): for every
    * split k the two-segment SSE comes from prefix sums in O(T), and the
    * best split minimizes it. Reports the split against the no-split
    * TSS — `reduction` near 0 means "no changepoint here".
    *
    * Runs on the bounded rolled-up series (prefix windows single-
    * partition by design). SSE candidates round to 9 dp with a
    * smallest-t tie-break — engine-replayable argmin.
    *
    * @return one row (t_split, k, sse_split, tss, reduction)
    */
  def changepoint(series: DataFrame, tCol: String, vCol: String): DataFrame = {
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = series
      .select(F.col(tCol).cast("long").as("t"),
        F.col(vCol).cast("double").as("v"))
      .withColumn("k", F.row_number().over(Window.orderBy("t")))
      .withColumn("s1", F.sum("v").over(w))
      .withColumn("s2", F.sum(F.col("v") * F.col("v")).over(w))
    // totals from a direct rollup, NOT max-of-cumsum (v may be negative)
    val tot = pre.agg(F.count(F.lit(1)).as("__T"), F.sum("v").as("__S1"),
      F.sum(F.col("v") * F.col("v")).as("__S2"))
    val cand = pre.crossJoin(F.broadcast(tot))
      .filter(F.col("k") < F.col("__T"))
      .withColumn("sse", F.round(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k")) +
        ((F.col("__S2") - F.col("s2")) -
          (F.col("__S1") - F.col("s1")) * (F.col("__S1") - F.col("s1")) /
            (F.col("__T") - F.col("k")).cast("double")), 9))
      .withColumn("tss", F.round(F.col("__S2") -
        F.col("__S1") * F.col("__S1") / F.col("__T"), 9))
    cand.withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("sse"), F.col("t"))))
      .filter(F.col("__rk") === 1)
      .select(F.col("t").as("t_split"), F.col("k"),
        F.round(F.col("sse"), 6).as("sse_split"),
        F.round(F.col("tss"), 6).as("tss"),
        F.round(F.lit(1.0) - F.col("sse") /
          F.nullif(F.col("tss"), F.lit(0.0)), 6).as("reduction"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments"): adjust each unit's
    * outcome with its pre-period covariate, `y' = y − θ(x − x̄)` with the
    * pooled `θ = cov(x, y)/var(x)`, and report per-arm raw vs adjusted
    * means plus the variance-reduction ratio `1 − ρ²` — the standard
    * trick that makes an A/B readout need ~(1−ρ²)× the traffic.
    *
    * Everything derives from ONE sufficient-statistics pass (global
    * n/Σx/Σy/Σxx/Σyy/Σxy plus per-arm n/Σx/Σy): adjusted arm mean =
    * `ȳ_arm − θ(x̄_arm − x̄)`, adjusted variance = `var(y) − θ²·var(x)`
    * exactly. 9-dp θ, 6-dp outputs.
    *
    * @return (arm, n, mean_y, mean_adj, theta, var_reduction) per arm
    */
  def cuped(df: DataFrame, armCol: Column, covariateCol: Column,
            outcomeCol: Column): DataFrame = {
    val base = df.select(armCol.as("arm"),
      covariateCol.cast("double").as("__x"),
      outcomeCol.cast("double").as("__y"))
    val g = base.agg(F.count(F.lit(1)).cast("double").as("__n"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__x") * F.col("__y")).as("__sxy"))
    val varX = F.col("__sxx") / F.col("__n") -
      (F.col("__sx") / F.col("__n")) * (F.col("__sx") / F.col("__n"))
    val varY = F.col("__syy") / F.col("__n") -
      (F.col("__sy") / F.col("__n")) * (F.col("__sy") / F.col("__n"))
    val covXY = F.col("__sxy") / F.col("__n") -
      (F.col("__sx") / F.col("__n")) * (F.col("__sy") / F.col("__n"))
    val glob = g.select(F.col("__n"), (F.col("__sx") / F.col("__n")).as("__xbar"),
      F.round(covXY / F.nullif(varX, F.lit(0.0)), 9).as("theta"),
      varX.as("__vx"), varY.as("__vy"), covXY.as("__cxy"))
    val arms = base.groupBy("arm")
      .agg(F.count(F.lit(1)).as("n"),
        (F.sum("__y") / F.count(F.lit(1))).as("__ybar"),
        (F.sum("__x") / F.count(F.lit(1))).as("__xbarA"))
    arms.crossJoin(F.broadcast(glob))
      .select(F.col("arm"), F.col("n"),
        F.round(F.col("__ybar"), 6).as("mean_y"),
        F.round(F.col("__ybar") -
          F.col("theta") * (F.col("__xbarA") - F.col("__xbar")), 6)
          .as("mean_adj"),
        F.col("theta"),
        // var(y') = var(y) − θ²var(x); ratio vs raw var(y)
        F.round((F.col("__vy") -
            F.col("theta") * F.col("theta") * F.col("__vx")) /
          F.nullif(F.col("__vy"), F.lit(0.0)), 6).as("var_reduction"))
      .orderBy("arm")
  }

  /** Exact weighted quantiles per group: collapse to distinct (group,
    * value) rows with summed integer weights, one keyed cumulative
    * window, and each requested q picks the smallest value whose
    * cumulative weight reaches `q·W` — the token-weighted length
    * percentile (etc.) that unweighted quantiles misreport when row
    * sizes vary wildly.
    *
    * Scale shape: map-side collapse, per-group windows, the q fan-out is
    * a literal explode on the bounded distinct-value table. Integer
    * weights keep every comparison exact.
    *
    * @return (groupCols…, q, value, w_total) one row per group×q
    */
  def weightedQuantile(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                       weightCol: Column, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1], got $qs")
    val gs = groupCols.map(F.col)
    val byV = df.select((gs :+ valueCol.cast("long").as("__v") :+
        weightCol.cast("long").as("__w")): _*)
      .groupBy((gs :+ F.col("__v")): _*)
      .agg(F.sum("__w").as("__wv"))
    val wCum = Window.partitionBy(gs: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(gs: _*)
    val qArr = F.array(qs.map(F.lit): _*)
    byV
      .withColumn("__cum", F.sum("__wv").over(wCum))
      .withColumn("w_total", F.sum("__wv").over(wTot))
      .withColumn("q", F.explode(qArr))
      .filter(F.col("__cum") >= F.col("q") * F.col("w_total"))
      .groupBy((gs :+ F.col("q") :+ F.col("w_total")): _*)
      .agg(F.min("__v").as("value"))
      .select((gs :+ F.col("q") :+ F.col("value") :+ F.col("w_total")): _*)
      .orderBy((gs :+ F.col("q")): _*)
  }

  /** Split-conformal prediction interval (Vovk; Lei et al. 2018): a
    * deterministic md5 split carves off a calibration half, `q_hat` is
    * the ⌈q·(n+1)⌉-th order statistic of the calibration residuals
    * |y − ŷ|, and the eval half reports empirical coverage of
    * `ŷ ± q_hat` — the distribution-free error bar that turns ANY point
    * predictor into an interval with a finite-sample guarantee.
    *
    * Scale shape: residuals collapse to distinct 9-dp values map-side
    * and the rank scan runs over that bounded table (the
    * [[weightedQuantile]] regime); q_hat and the split bound broadcast.
    *
    * @return one row (n_cal, n_eval, q_hat, coverage)
    */
  def conformalInterval(df: DataFrame, keyCol: Column, yCol: Column,
                        predCol: Column, calibRate: Double = 0.5,
                        q: Double = 0.9, salt: String = ""): DataFrame = {
    require(calibRate > 0 && calibRate < 1, s"calibRate in (0,1), got $calibRate")
    require(q > 0 && q < 1, s"q in (0,1), got $q")
    val bound = f"${math.round(calibRate * 65536.0).toInt}%05x"
    val hex = F.concat(F.lit("0"), F.substring(
      F.md5(F.concat(F.lit(salt), keyCol.cast("string"))), 1, 4))
    val base = df.select((hex < F.lit(bound)).as("__cal"),
      F.round(F.abs(yCol.cast("double") - predCol.cast("double")), 9)
        .as("__r"))
    val cal = base.filter(F.col("__cal"))
    val nCal = cal.agg(F.count(F.lit(1)).as("__n"))
    val byR = cal.groupBy("__r").agg(F.count(F.lit(1)).as("__c"))
      .withColumn("__cum", F.sum("__c").over(Window.orderBy("__r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val qhat = byR.crossJoin(F.broadcast(nCal))
      .withColumn("__k", F.least(
        F.ceil(F.lit(q) * (F.col("__n") + 1L)), F.col("__n")))
      .filter(F.col("__cum") >= F.col("__k"))
      .agg(F.min("__r").as("q_hat"), F.max("__n").as("n_cal"))
    base.filter(!F.col("__cal"))
      .crossJoin(F.broadcast(qhat))
      .agg(F.max("n_cal").as("n_cal"),
        F.count(F.lit(1)).as("n_eval"),
        F.max("q_hat").as("q_hat"),
        F.round(F.sum(F.when(F.col("__r") <= F.col("q_hat"), 1L)
          .otherwise(0L)).cast("double") / F.count(F.lit(1)), 6)
          .as("coverage"))
  }

  /** Cumulative-gains / lift table over a [0, 1] score: bins are
    * equal-WIDTH score slices (deterministic, shuffle-free — the
    * calibrated-score regime; a rank-decile variant would need a global
    * sort), accumulated from the top bin down. `capture` = share of all
    * positives reached, `share` = share of population touched,
    * `lift = capture/share` — the "read the top 20% and catch 60% of the
    * good docs" budgeting readout.
    *
    * @return (bin, n, pos, cum_n, cum_pos, capture, share, lift) top-down
    */
  def gainsCurve(df: DataFrame, scoreCol: Column, labelCol: Column,
                 nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val bins = df.select(
        F.least(F.floor(scoreCol.cast("double") * nBins),
          F.lit(nBins - 1L)).as("bin"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__y").as("pos"))
    val wDesc = Window.orderBy(F.col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    bins
      .withColumn("cum_n", F.sum("n").over(wDesc))
      .withColumn("cum_pos", F.sum("pos").over(wDesc))
      .withColumn("capture", F.round(F.col("cum_pos").cast("double") /
        F.nullif(F.sum("pos").over(wAll).cast("double"), F.lit(0.0)), 6))
      .withColumn("share", F.round(F.col("cum_n").cast("double") /
        F.sum("n").over(wAll), 6))
      .withColumn("lift",
        F.round(F.col("capture") / F.col("share"), 6))
      .orderBy(F.col("bin").desc)
  }

  /** Odds ratio + relative risk with the Katz log-normal 95% CI — the
    * incident-analysis readout for "exposure X vs outcome Y" 2×2 tables
    * (e.g. does a source correlate with quality-filter failure). The CI
    * uses `exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d))` — ln/exp only, both
    * engines replay it. Haldane-Anscombe +0.5 is applied to every cell
    * iff any cell is zero (the standard continuity correction; flagged).
    *
    * @return one row (a, b, c, d, rr, or_, or_lo, or_hi, corrected)
    */
  def oddsRatio(df: DataFrame, exposedCol: Column,
                outcomeCol: Column): DataFrame = {
    val cells = df.select(F.when(exposedCol, 1L).otherwise(0L).as("__e"),
        F.when(outcomeCol, 1L).otherwise(0L).as("__o"))
      .agg(F.sum(F.col("__e") * F.col("__o")).as("a"),
        F.sum(F.col("__e") * (F.lit(1L) - F.col("__o"))).as("b"),
        F.sum((F.lit(1L) - F.col("__e")) * F.col("__o")).as("c"),
        F.sum((F.lit(1L) - F.col("__e")) *
          (F.lit(1L) - F.col("__o"))).as("d"))
    val corrected = F.col("a") === 0 || F.col("b") === 0 ||
      F.col("c") === 0 || F.col("d") === 0
    def adj(c: String): Column =
      F.when(corrected, F.col(c) + 0.5).otherwise(F.col(c).cast("double"))
    val (a, b, c, d) = (adj("a"), adj("b"), adj("c"), adj("d"))
    val or = a * d / (b * c)
    val se = F.sqrt(F.lit(1.0) / a + F.lit(1.0) / b +
      F.lit(1.0) / c + F.lit(1.0) / d)
    val rr = (a / (a + b)) / (c / (c + d))
    cells.select(F.col("a"), F.col("b"), F.col("c"), F.col("d"),
      F.round(rr, 6).as("rr"), F.round(or, 6).as("or_"),
      F.round(F.exp(F.log(or) - F.lit(1.96) * se), 6).as("or_lo"),
      F.round(F.exp(F.log(or) + F.lit(1.96) * se), 6).as("or_hi"),
      corrected.as("corrected"))
  }

  /** Matthews correlation coefficient from the same 4-cell collapse —
    * the single-number classifier grade that stays honest under class
    * imbalance (accuracy and F1 both inflate there). All-double products
    * (the χ² overflow rule); NULL when any margin is empty.
    *
    * @return one row (tp, fp, fn, tn, mcc)
    */
  def mcc(df: DataFrame, predCol: Column, labelCol: Column): DataFrame = {
    val cells = df.select(F.when(predCol, 1L).otherwise(0L).as("__p"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .agg(F.sum(F.col("__p") * F.col("__y")).as("tp"),
        F.sum(F.col("__p") * (F.lit(1L) - F.col("__y"))).as("fp"),
        F.sum((F.lit(1L) - F.col("__p")) * F.col("__y")).as("fn"),
        F.sum((F.lit(1L) - F.col("__p")) *
          (F.lit(1L) - F.col("__y"))).as("tn"))
    def d(c: String) = F.col(c).cast("double")
    val den = (d("tp") + d("fp")) * (d("tp") + d("fn")) *
      (d("tn") + d("fp")) * (d("tn") + d("fn"))
    cells.select(F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn"),
      F.when(den > 0.0, F.round(
        (d("tp") * d("tn") - d("fp") * d("fn")) / F.sqrt(den), 6))
        .as("mcc"))
  }

  /** Population stability index between a baseline and a current slice of
    * a [0, 1] score: equal-width bins, `PSI = Σ (p_b − q_b)·ln(p_b/q_b)`
    * with add-ε smoothing so empty bins stay finite — THE industry
    * model-monitoring drift number (rule of thumb: <0.1 stable, >0.25
    * act). Terms round to 9 dp before the bounded sum, PSI to 6.
    *
    * Scale shape: one conditional-count collapse to ≤ nBins rows; the
    * two totals ride in the same rollup.
    *
    * @return (bin, p, q, term, psi) per bin, psi repeated
    */
  def psi(df: DataFrame, scoreCol: Column, isBaseline: Column,
          nBins: Int = 10, eps: Double = 1e-4): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val bins = df.select(
        F.least(F.floor(scoreCol.cast("double") * nBins),
          F.lit(nBins - 1L)).as("bin"),
        F.when(isBaseline, 1L).otherwise(0L).as("__b"))
      .groupBy("bin")
      .agg(F.sum("__b").as("__nb"),
        F.sum(F.lit(1L) - F.col("__b")).as("__nc"))
    val wAll = Window.partitionBy()
    val terms = bins
      .withColumn("p", F.round(F.col("__nb").cast("double") /
        F.sum("__nb").over(wAll) + eps, 9))
      .withColumn("q", F.round(F.col("__nc").cast("double") /
        F.sum("__nc").over(wAll) + eps, 9))
      .withColumn("term", F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 9))
    terms.withColumn("psi", F.round(F.sum("term").over(wAll), 6))
      .select("bin", "p", "q", "term", "psi")
      .orderBy("bin")
  }

  /** Brier score with the Murphy (1973) decomposition over score bins:
    * `brier = reliability − resolution + uncertainty`, where reliability
    * is the calibration gap ([[calibrationBins]]' ECE squared-sibling),
    * resolution is how far bins pull away from the base rate, and
    * uncertainty is the label variance ceiling. One collapse to ≤ nBins
    * rows + a 1-row rollup; 9-dp bin terms.
    *
    * @return one row (n, brier, reliability, resolution, uncertainty)
    */
  def brierDecomposition(df: DataFrame, scoreCol: Column, labelCol: Column,
                         nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val base = df.select(scoreCol.cast("double").as("__s"),
      F.when(labelCol, 1L).otherwise(0L).as("__y"))
    val bins = base
      .withColumn("bin", F.least(F.floor(F.col("__s") * nBins),
        F.lit(nBins - 1L)))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("__n"), F.avg("__s").as("__conf"),
        F.avg("__y").as("__acc"),
        F.sum(F.when(F.col("__y") === 1L,
          (F.lit(1.0) - F.col("__s")) * (F.lit(1.0) - F.col("__s")))
          .otherwise(F.col("__s") * F.col("__s"))).as("__se"))
    val g = base.agg(F.count(F.lit(1)).cast("double").as("__tot"),
      F.avg("__y").as("__ybar"))
    bins.crossJoin(F.broadcast(g))
      .withColumn("__rel", F.round(F.col("__n") *
        (F.col("__conf") - F.col("__acc")) *
        (F.col("__conf") - F.col("__acc")) / F.col("__tot"), 9))
      .withColumn("__res", F.round(F.col("__n") *
        (F.col("__acc") - F.col("__ybar")) *
        (F.col("__acc") - F.col("__ybar")) / F.col("__tot"), 9))
      .agg(F.max("__tot").cast("long").as("n"),
        F.round(F.sum(F.col("__se")) / F.max("__tot"), 6).as("brier"),
        F.round(F.sum("__rel"), 6).as("reliability"),
        F.round(F.sum("__res"), 6).as("resolution"),
        F.round(F.max(F.col("__ybar") * (F.lit(1.0) - F.col("__ybar"))), 6)
          .as("uncertainty"))
  }

  /** Kendall τ-a between two top-k rankings of the same items, per query:
    * over the items BOTH systems ranked, τ = (C − D) / (m(m−1)/2) counts
    * concordant minus discordant pairs — the rank-stability readout for
    * "did the new retriever actually reorder results or just rescale
    * scores". Ranks from row_number are tie-free, so τ-a is exact.
    *
    * The O(k²) pair fan-out runs on the top-k-bounded intersection, never
    * the corpus; one query-keyed join + rollup. A query whose lists share
    * fewer than 2 items has no pairs and is absent from the output (τ is
    * undefined there, not 0).
    *
    * @return (query, n_common, concordant, discordant, tau) per query
    */
  def kendallTau(ra: DataFrame, rb: DataFrame, queryCol: String,
                 itemCol: String, rankCol: String): DataFrame = {
    val a = ra.select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
      F.col(rankCol).cast("long").as("__ra"))
    val b = rb.select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
      F.col(rankCol).cast("long").as("__rb"))
    val both = a.join(b, Seq("query", "item"))
    val l = both.select(F.col("query"), F.col("item").as("__i"),
      F.col("__ra").as("__rai"), F.col("__rb").as("__rbi"))
    val r = both.select(F.col("query"), F.col("item").as("__j"),
      F.col("__ra").as("__raj"), F.col("__rb").as("__rbj"))
    val pairs = l.join(r, Seq("query")).filter(F.col("__i") < F.col("__j"))
      .withColumn("__sgn",
        F.signum((F.col("__rai") - F.col("__raj")).cast("double") *
          (F.col("__rbi") - F.col("__rbj")).cast("double")))
    pairs.groupBy("query")
      .agg(F.sum(F.when(F.col("__sgn") > 0, 1L).otherwise(0L)).as("concordant"),
        F.sum(F.when(F.col("__sgn") < 0, 1L).otherwise(0L)).as("discordant"),
        F.count(F.lit(1)).as("__np"))
      .join(both.groupBy("query").agg(F.count(F.lit(1)).as("n_common")),
        Seq("query"))
      .select(F.col("query"), F.col("n_common"), F.col("concordant"),
        F.col("discordant"),
        F.round((F.col("concordant") - F.col("discordant")).cast("double") /
          F.nullif(F.col("__np").cast("double"), F.lit(0.0)), 6).as("tau"))
      .orderBy("query")
  }

  /** Leave-one-group-out jackknife standard error for a RATIO metric
    * `θ = Σnum / Σden` (CTR, purchases-per-click, …) with users as the
    * independent unit — the delta-method-free way to put an error bar on
    * a ratio whose numerator and denominator are correlated within user.
    * Pseudo-values `G·θ − (G−1)·θ₍₋g₎` come from the per-group sums and
    * the grand totals (each θ₍₋g₎ is totals-minus-group — O(G), no
    * resampling, no second scan).
    *
    * @return one row (g_groups, theta, se_jack, ci_lo, ci_hi)
    */
  def jackknifeRatio(df: DataFrame, groupCol: Column, numCol: Column,
                     denCol: Column): DataFrame = {
    val per = df.select(groupCol.as("__g"),
        numCol.cast("double").as("__n"), denCol.cast("double").as("__d"))
      .groupBy("__g")
      .agg(F.sum("__n").as("__ng"), F.sum("__d").as("__dg"))
    val tot = per.agg(F.count(F.lit(1)).cast("double").as("__gcnt"),
      F.sum("__ng").as("__N"), F.sum("__dg").as("__D"))
    val pseudo = per.crossJoin(F.broadcast(tot))
      .withColumn("__theta", F.col("__N") / F.col("__D"))
      .withColumn("__thetaLoo",
        (F.col("__N") - F.col("__ng")) /
          F.nullif(F.col("__D") - F.col("__dg"), F.lit(0.0)))
      .withColumn("__p", F.round(F.col("__gcnt") * F.col("__theta") -
        (F.col("__gcnt") - 1.0) * F.col("__thetaLoo"), 9))
    val s = pseudo.agg(F.max("__gcnt").as("__gg"), F.max("__theta").as("__th"),
      F.avg("__p").as("__pbar"),
      F.sum(F.col("__p") * F.col("__p")).as("__pp"))
    // Σ(p−p̄)² = Σp² − G·p̄²; se = √(that / (G(G−1)))
    val se = F.sqrt(
      (F.col("__pp") - F.col("__gg") * F.col("__pbar") * F.col("__pbar")) /
        (F.col("__gg") * (F.col("__gg") - 1.0)))
    s.select(F.col("__gg").cast("long").as("g_groups"),
      F.round(F.col("__th"), 6).as("theta"),
      F.round(se, 6).as("se_jack"),
      F.round(F.col("__th") - F.lit(1.96) * se, 6).as("ci_lo"),
      F.round(F.col("__th") + F.lit(1.96) * se, 6).as("ci_hi"))
  }

  /** Minimal detectable effect for a two-arm comparison at 5% two-sided /
    * 80% power: `MDE = (z_{α/2} + z_β)·√(σ²_pooled·(1/n₁ + 1/n₂))` with
    * the z literals pinned (1.959964, 0.841621) so no engine's inverse
    * normal is involved. The experiment-planning readout: "with this
    * traffic and this variance, the smallest lift you can detect is X".
    *
    * One sufficient-statistics pass for the pooled variance and arm sizes.
    *
    * @return one row (n1, n2, mean, var_pooled, mde_abs, mde_rel)
    */
  def mdePower(df: DataFrame, armCol: Column, outcomeCol: Column): DataFrame = {
    // one literal, not a sum of two — a compile-time double addition can
    // differ by an ulp from the oracle's parsed 2.801585
    val zsum = 2.801585
    val base = df.select(F.when(armCol, 1L).otherwise(0L).as("__a"),
      outcomeCol.cast("double").as("__y"))
    val g = base.agg(F.sum("__a").as("n1"),
      F.sum(F.lit(1L) - F.col("__a")).as("n2"),
      F.count(F.lit(1)).cast("double").as("__n"),
      F.sum("__y").as("__s1"), F.sum(F.col("__y") * F.col("__y")).as("__s2"))
    val mean = F.col("__s1") / F.col("__n")
    // pooled (population) variance of the outcome across all units
    val varP = F.col("__s2") / F.col("__n") - mean * mean
    val mde = F.lit(zsum) * F.sqrt(varP *
      (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2")))
    g.select(F.col("n1"), F.col("n2"), F.round(mean, 6).as("mean"),
      F.round(varP, 6).as("var_pooled"),
      F.round(mde, 6).as("mde_abs"),
      F.round(mde / F.nullif(mean, F.lit(0.0)), 6).as("mde_rel"))
  }

  /** Wilson score interval per group for a binary proportion — the CI
    * that behaves at small n and extreme p where the Wald interval
    * collapses (the right error bar for per-slice pass rates). Closed
    * form, z pinned at 1.959964; no transcendental beyond sqrt.
    *
    * One conditional-count collapse to ≤ groups rows.
    *
    * @return (groupCols…, n, k, p, ci_lo, ci_hi) — 6-dp
    */
  def wilsonInterval(df: DataFrame, groupCols: Seq[String],
                     successCol: Column): DataFrame = {
    val z = 1.959964
    val z2 = z * z
    val gs = groupCols.map(F.col)
    val g = df.select((gs :+ F.when(successCol, 1L).otherwise(0L).as("__s")): _*)
      .groupBy(gs: _*)
      .agg(F.count(F.lit(1)).as("n"), F.sum("__s").as("k"))
    val nD = F.col("n").cast("double")
    val p = F.col("k").cast("double") / nD
    val center = p + F.lit(z2) / (nD * 2.0)
    val half = F.lit(z) * F.sqrt(p * (F.lit(1.0) - p) / nD +
      F.lit(z2) / (F.lit(4.0) * nD * nD))
    val denom = F.lit(1.0) + F.lit(z2) / nD
    g.select((gs :+ F.col("n") :+ F.col("k") :+
      F.round(p, 6).as("p") :+
      F.round((center - half) / denom, 6).as("ci_lo") :+
      F.round((center + half) / denom, 6).as("ci_hi")): _*)
      .orderBy(gs: _*)
  }

  /** Truncated rank-biased overlap (Webber et al. 2010) between two top-k
    * rankings: `RBO = (1−p)·Σ_{d≤k} p^{d−1}·(X_d/d)` where X_d is the
    * overlap of the two depth-d prefixes — the top-weighted list
    * similarity that, unlike [[kendallTau]], handles NON-conjoint lists
    * (an item in only one list simply never joins). p ≈ 0.9 puts ~86% of
    * the weight in the top 10. Truncated at k (the lower-bound form);
    * weights ride as precomputed literals shared with the oracle.
    *
    * Per query: joined pairs collapse to one row per max(ra, rb) depth,
    * a keyed cumulative window gives every X_d, and the depth grid is a
    * literal explode — everything top-k-bounded.
    *
    * @return (query, rbo) — 6-dp, one row per query
    */
  def rbo(ra: DataFrame, rb: DataFrame, queryCol: String, itemCol: String,
          rankCol: String, k: Int = 20, p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    val weights = Array.tabulate(k)(d => math.pow(p, d)) // p^(d-1), d 1-based
    val a = ra.select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
      F.col(rankCol).cast("long").as("__ra")).filter(F.col("__ra") <= k)
    val b = rb.select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
      F.col(rankCol).cast("long").as("__rb")).filter(F.col("__rb") <= k)
    val byDepth = a.join(b, Seq("query", "item"))
      .groupBy(F.col("query"),
        F.greatest(F.col("__ra"), F.col("__rb")).as("__m"))
      .agg(F.count(F.lit(1)).as("__c"))
    val wCum = Window.partitionBy("query").orderBy("__m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byDepth.withColumn("__x", F.sum("__c").over(wCum))
    val wArr = F.array(weights.map(F.lit): _*)
    val grid = cum
      .withColumn("__d", F.explode(F.sequence(F.lit(1), F.lit(k))))
      // X_d is the cum at the LARGEST m <= d: keep the max m per (q, d)
      .filter(F.col("__m") <= F.col("__d"))
      .groupBy("query", "__d")
      .agg(F.max(F.struct(F.col("__m"), F.col("__x"))).as("__mx"))
      .select(F.col("query"), F.col("__d"),
        F.col("__mx").getField("__x").as("__xd"))
      .withColumn("__term", F.round(
        F.element_at(wArr, F.col("__d").cast("int")) *
          F.col("__xd") / F.col("__d"), 9))
    grid.groupBy("query")
      .agg(F.round(F.lit(1.0 - p) * F.sum("__term"), 6).as("rbo"))
      .orderBy("query")
  }

  /** Quantile treatment effects: per-arm exact quantiles (the
    * [[weightedQuantile]] distinct-value collapse at unit weight) and
    * their differences — the causal readout beyond the mean when a
    * treatment moves the TAILS (a filter that trims long docs shifts
    * q90 hard and the mean barely). Same "smallest value whose rank
    * reaches ⌈q·n⌉" convention as the quantile family.
    *
    * @return (q, q_treat, q_control, qte) one row per requested q
    */
  def quantileTreatmentEffect(df: DataFrame, treatCol: Column,
                              valueCol: Column,
                              qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1], got $qs")
    val byV = df.select(F.when(treatCol, 1L).otherwise(0L).as("__t"),
        valueCol.cast("long").as("__v"))
      .groupBy("__t", "__v").agg(F.count(F.lit(1)).as("__c"))
    val wCum = Window.partitionBy("__t").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("__t")
    val qArr = F.array(qs.map(F.lit): _*)
    val perArm = byV
      .withColumn("__cum", F.sum("__c").over(wCum))
      .withColumn("__n", F.sum("__c").over(wTot))
      .withColumn("q", F.explode(qArr))
      .filter(F.col("__cum") >= F.col("q") * F.col("__n"))
      .groupBy("__t", "q").agg(F.min("__v").as("__qv"))
    perArm.filter(F.col("__t") === 1L)
      .select(F.col("q"), F.col("__qv").as("q_treat"))
      .join(perArm.filter(F.col("__t") === 0L)
        .select(F.col("q"), F.col("__qv").as("q_control")), Seq("q"))
      .withColumn("qte", F.col("q_treat") - F.col("q_control"))
      .orderBy("q")
  }

  /** Lorenz curve points: at each of `nPoints` item-count thresholds,
    * the share of total mass held by the bottom slice — the curve whose
    * area [[gini]] summarizes, read directly when deciding "how
    * concentrated is corpus volume across docs/sources". Convention:
    * point i cuts at the smallest VALUE whose cumulative item count
    * reaches ⌈i·N/nPoints⌉, and the share includes every item at or
    * below that value (ties stay together — deterministic in any
    * engine).
    *
    * One distinct-value collapse + bounded cumulative windows, totals as
    * a 1-row broadcast.
    *
    * @return (point, cutoff, cum_items, cum_share) — share 6-dp
    */
  def lorenzCurve(df: DataFrame, valueCol: Column,
                  nPoints: Int = 10): DataFrame = {
    require(nPoints >= 2, s"need >= 2 points, got $nPoints")
    val byV = df.select(valueCol.cast("long").as("__v"))
      .groupBy("__v").agg(F.count(F.lit(1)).as("__c"))
      .withColumn("__m", F.col("__v") * F.col("__c"))
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("__cumc", F.sum("__c").over(w))
      .withColumn("__cumm", F.sum("__m").over(w))
    val tot = byV.agg(F.sum("__c").as("__n"), F.sum("__m").as("__mm"))
    cum.crossJoin(F.broadcast(tot))
      .withColumn("point", F.explode(F.sequence(F.lit(1), F.lit(nPoints))))
      .filter(F.col("__cumc") >=
        F.ceil(F.col("point") * F.col("__n") / F.lit(nPoints.toDouble)))
      .groupBy(F.col("point"))
      .agg(F.min(F.struct(F.col("__v"), F.col("__cumc"), F.col("__cumm"),
        F.col("__mm"))).as("__pick"))
      .select(F.col("point"),
        F.col("__pick").getField("__v").as("cutoff"),
        F.col("__pick").getField("__cumc").as("cum_items"),
        F.round(F.col("__pick").getField("__cumm").cast("double") /
          F.col("__pick").getField("__mm"), 6).as("cum_share"))
      .orderBy("point")
  }

  /** Bigram conditional entropy H(next | prev) in bits, beside the
    * unigram entropy and their ratio — the redundancy/entropy-rate
    * readout: natural prose sits well below 1.0, template spam and
    * crawler loops crash toward 0 (next token fully determined by the
    * previous one). 9-dp terms before the unordered sums (pageRank
    * rule).
    *
    * Scale shape: bigram and unigram censuses partial-aggregate
    * map-side; everything after runs on vocab-bounded tables with 1-row
    * broadcasts.
    *
    * @return one row (n_bigrams, h_cond, h_unigram, ratio)
    */
  def bigramCondEntropy(df: DataFrame, textCol: String): DataFrame = {
    val toks = F.filter(F.split(F.lower(F.trim(F.coalesce(
      F.col(textCol), F.lit("")))), "\\s+"), t => F.length(t) > 0)
    val base = df.select(toks.as("__toks"))
    val n = F.size(F.col("__toks"))
    val bigrams = base.select(F.explode(F.zip_with(
        F.slice(F.col("__toks"), F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("__toks"), F.lit(2), F.greatest(n - 1, F.lit(0))),
        (x, y) => F.struct(x.as("w1"), y.as("w2")))).as("__bg"))
      .select(F.col("__bg.w1").as("__w1"), F.col("__bg.w2").as("__w2"))
    val cPn = bigrams.groupBy("__w1", "__w2")
      .agg(F.count(F.lit(1)).as("__cpn"))
    val cP = cPn.groupBy("__w1").agg(F.sum("__cpn").as("__cp"))
    val nBi = cPn.agg(F.sum("__cpn").as("__nbi"))
    val hCond = cPn.join(cP, "__w1").crossJoin(F.broadcast(nBi))
      .withColumn("__term", F.round(
        -(F.col("__cpn").cast("double") / F.col("__nbi")) *
          F.log(2.0, F.col("__cpn").cast("double") / F.col("__cp")), 9))
      .agg(F.sum("__cpn").as("n_bigrams"),
        // +0.0 folds the deterministic bigram's −0.0 terms (x106 rule)
        F.round(F.sum("__term") + F.lit(0.0), 6).as("h_cond"))
    val uni = base.select(F.explode(F.col("__toks")).as("__t"))
      .groupBy("__t").agg(F.count(F.lit(1)).as("__c"))
    val nTok = uni.agg(F.sum("__c").as("__nt"))
    val hUni = uni.crossJoin(F.broadcast(nTok))
      .withColumn("__term", F.round(
        -(F.col("__c").cast("double") / F.col("__nt")) *
          F.log(2.0, F.col("__c").cast("double") / F.col("__nt")), 9))
      .agg(F.round(F.sum("__term") + F.lit(0.0), 6).as("h_unigram"))
    hCond.crossJoin(F.broadcast(hUni))
      .select(F.col("n_bigrams"), F.col("h_cond"), F.col("h_unigram"),
        F.round(F.col("h_cond") /
          F.nullif(F.col("h_unigram"), F.lit(0.0)), 6).as("ratio"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between two slices
    * of an integer-valued distribution: `W₁ = Σ_i |F_a(v_i) − F_b(v_i)|
    * · (v_{i+1} − v_i)` over the merged distinct-value ladder — the
    * drift metric that weighs HOW FAR mass moved where KS (x165's shape)
    * only sees the single largest gap. Same collapse-then-bounded-window
    * shape as the quantile family; CDF terms at 9 dp.
    *
    * @return one row (n_a, n_b, w1)
    */
  def wasserstein1d(df: DataFrame, isA: Column, valueCol: Column): DataFrame = {
    val byV = df.select(F.when(isA, 1L).otherwise(0L).as("__a"),
        valueCol.cast("long").as("__v"))
      .groupBy("__v")
      .agg(F.sum("__a").as("__ca"), F.sum(F.lit(1L) - F.col("__a")).as("__cb"))
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.agg(F.sum("__ca").as("__na"), F.sum("__cb").as("__nb"))
    val steps = byV
      .withColumn("__cuma", F.sum("__ca").over(w))
      .withColumn("__cumb", F.sum("__cb").over(w))
      .withColumn("__nextv", F.lead("__v", 1).over(Window.orderBy("__v")))
      .filter(F.col("__nextv").isNotNull)
      .crossJoin(F.broadcast(tot))
      .withColumn("__gap", F.round(F.abs(
        F.col("__cuma").cast("double") / F.col("__na") -
          F.col("__cumb").cast("double") / F.col("__nb")) *
        (F.col("__nextv") - F.col("__v")).cast("double"), 9))
    steps.agg(F.max("__na").as("n_a"), F.max("__nb").as("n_b"),
      F.round(F.sum("__gap"), 6).as("w1"))
  }

  /** Nelson-Aalen cumulative hazard `H(t) = Σ_{tᵢ≤t} dᵢ/n_risk(tᵢ)` over
    * right-censored durations — [[kaplanMeier]]'s additive sibling: where
    * S(t) answers "what fraction survives", H(t)'s SLOPE reads out how
    * the instantaneous churn rate itself changes with tenure (flat
    * increments = constant hazard, bending = aging effects). Same
    * distinct-duration collapse and bounded windows; d/n terms at 9 dp.
    *
    * @return (t, n_risk, d, hazard, cum_hazard) at observed event times
    */
  def nelsonAalen(df: DataFrame, durationCol: Column,
                  eventCol: Column): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"), eventCol.cast("int").as("__e"))
      .groupBy("t")
      .agg(F.sum("__e").as("d"), F.count(F.lit(1)).as("__leave"))
    val wDesc = Window.orderBy(F.col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(F.col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("n_risk", F.sum("__leave").over(wDesc))
      .filter(F.col("d") > 0)
      .withColumn("hazard", F.round(
        F.col("d") / F.col("n_risk").cast("double"), 9))
      .withColumn("cum_hazard",
        F.round(F.sum("hazard").over(wAsc), 6))
      .select("t", "n_risk", "d", "hazard", "cum_hazard")
      .orderBy("t")
  }

  /** Null-safe string key for the per-(row, resample) hash. */
  private def valueColKey(id: Column): Column =
    F.coalesce(id.cast("string"), F.lit(""))

  /** Approximate-functional-dependency profile (the TANE/Metanome
    * violation census): for each candidate FD `lhs → rhs`, how many
    * distinct-lhs groups exist, how many map to MORE than one distinct rhs
    * (violations), and the violation rate. `g3`-style error as a group
    * fraction — the schema-discovery readout that tells a pipeline which
    * columns are safe dedup/partition keys and which "keys" are lies.
    *
    * Scale shape: one two-level aggregation per pair — (lhs, rhs) distinct
    * collapse (map-side partial on the pair), then a per-lhs rollup; only
    * group-count rows cross the second shuffle. Pairs run independently
    * and union — no cross-pair state. NULLs count as a value (a NULL rhs
    * in a group alongside a real one IS a violation).
    *
    * @return one row per pair: (lhs, rhs, n_groups, n_violating,
    *         violation_rate 6-dp, max_rhs_per_group)
    */
  def fdProfile(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdProfile: need at least one (lhs, rhs) pair")
    pairs.map { case (lhs, rhs) =>
      df.select(F.col(lhs).cast("string").as("__l"),
          F.col(rhs).cast("string").as("__r"))
        .distinct()
        .groupBy("__l").agg(F.count(F.lit(1)).as("__nr"))
        .agg(F.count(F.lit(1)).as("n_groups"),
          F.sum(F.when(F.col("__nr") > 1, 1L).otherwise(0L)).as("n_violating"),
          F.max("__nr").as("max_rhs_per_group"))
        .select(F.lit(lhs).as("lhs"), F.lit(rhs).as("rhs"),
          F.col("n_groups"), F.col("n_violating"),
          F.round(F.col("n_violating").cast("double") /
            F.col("n_groups"), 6).as("violation_rate"),
          F.col("max_rhs_per_group"))
    }.reduce(_ unionByName _)
  }

  /** Inclusion-dependency profile (foreign-key discovery): for each named
    * candidate `A.col ⊆ B.col`, the fraction of distinct A values present
    * in B. Coefficient 1.0 = a valid FK direction; the classic
    * schema-matching primitive (Bauckmann et al., SINDY/BINDER) run as a
    * census.
    *
    * Scale shape: one tagged union-aggregate (a single shuffle of the
    * two key columns) per side pair, see [[Quality.inclusionAggregates]].
    * Values never carry row payloads.
    *
    * @return one row per candidate: (dep, n_lhs, n_hit, coefficient 6-dp)
    */
  def inclusionProfile(
      candidates: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(candidates.nonEmpty, "inclusionProfile: need at least one candidate")
    // one tagged union-aggregate per side pair, shared by a repeated or
    // reversed candidate (b ⊆ a — the FK census always asks both ways)
    val aggs = Quality.inclusionAggregates(candidates.map(c => (c._2, c._3, c._4, c._5)))
    candidates.zip(aggs).map { case ((name, _, _, _, _), (agg, reversed)) =>
      val lhs = if (reversed) "__nb" else "__na"
      // empty/all-NULL lhs: the inclusion is vacuously true — emit 1.0
      // explicitly (Spark's 0/0 is NULL; DuckDB's sum-over-no-rows NULL
      // would diverge otherwise, advisor r11)
      agg.select(F.lit(name).as("dep"), F.col(lhs).as("n_lhs"),
        F.col("__nx").as("n_hit"),
        F.when(F.col(lhs) === 0L, F.lit(1.0))
          .otherwise(F.round(F.col("__nx").cast("double") /
            F.col(lhs), 6)).as("coefficient"))
    }.reduce(_ unionByName _)
  }

  /** Always-valid sequential test: one-sample mixture-SPRT (Johari et al.
    * 2017, "Peeking at A/B tests") of a running mean against `theta0`,
    * with known sampling variance `sigma2` and normal mixture variance
    * `tau2`. The log mixture likelihood ratio after n observations with
    * mean x̄:
    * {{{
    *   llr_n = ½·ln(σ²/(σ²+nτ²)) + n²τ²(x̄−θ0)² / (2σ²(σ²+nτ²))
    * }}}
    * and the always-valid p-value is `p_n = min(1, exp(−max_{k≤n} llr_k))`
    * — monotone non-increasing, valid at EVERY stopping time, the fix for
    * the peeking problem of fixed-horizon tests.
    *
    * The scan is inherently ordered (a sequential test IS a prefix
    * computation): cumulative sums run over `(orderCol, idCol)` in ONE
    * global-order window pass, so this op is for a metrics STREAM (a
    * bounded experiment readout), not a corpus — at scale feed it the
    * per-bucket rollup, not raw events, or run the streaming CUSUM
    * sibling. Emitted at every `every`-th observation to keep the result
    * set bounded. Terms round at 9 dp, outputs at 6.
    *
    * @return (n, xbar, llr, max_llr, p_value) at each checkpoint
    */
  def msprt(df: DataFrame, orderCol: Column, idCol: Column, valueCol: Column,
            theta0: Double, sigma2: Double, tau2: Double,
            every: Int = 500): DataFrame = {
    require(sigma2 > 0.0, s"sigma2 must be positive, got $sigma2")
    require(tau2 > 0.0, s"tau2 must be positive, got $tau2")
    require(every >= 1, s"every must be >= 1, got $every")
    val w = Window.orderBy(orderCol, idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = F.count(F.lit(1)).over(w).cast("double")
    val xbar = F.round(F.sum(valueCol.cast("double")).over(w) / n, 9)
    val scaled = df
      .withColumn("__n", n)
      .withColumn("__xbar", xbar)
      .withColumn("__llr", F.round(
        F.lit(0.5) * F.log(F.lit(sigma2) /
          (F.lit(sigma2) + F.col("__n") * F.lit(tau2))) +
          F.col("__n") * F.col("__n") * F.lit(tau2) *
            (F.col("__xbar") - F.lit(theta0)) *
            (F.col("__xbar") - F.lit(theta0)) /
            (F.lit(2.0) * F.lit(sigma2) *
              (F.lit(sigma2) + F.col("__n") * F.lit(tau2))), 9))
      .withColumn("__mx", F.max("__llr").over(w))
    scaled
      .filter(F.col("__n").cast("long") % every === 0)
      .select(F.col("__n").cast("long").as("n"),
        F.round(F.col("__xbar"), 6).as("xbar"),
        F.round(F.col("__llr"), 6).as("llr"),
        F.round(F.col("__mx"), 6).as("max_llr"),
        F.round(F.least(F.lit(1.0), F.exp(-F.col("__mx"))), 6).as("p_value"))
      .orderBy("n")
  }

  /** Log-rank test (Mantel 1966) comparing the survival of two arms over
    * right-censored durations — the standard "did cohort A churn faster
    * than cohort B" readout on top of the [[kaplanMeier]] risk-set
    * machinery. At every pooled event time t with d(t) total events,
    * n(t) total at risk and n1(t) at risk in arm 1:
    * {{{
    *   e1(t) = d·n1/n                    (expected arm-1 events under H0)
    *   v(t)  = d·(n1/n)·(1−n1/n)·(n−d)/(n−1)   (hypergeometric variance)
    *   χ²    = (Σ(d1−e1))² / Σv          (1 dof)
    * }}}
    * e1/v terms round at 9 dp before the orderless sums; χ² at 6 — the
    * kaplanMeier engine-neutrality rule. v is forced 0 when n = 1.
    *
    * Scale shape: subjects collapse map-side to one row per distinct
    * duration carrying (d, d1, leave, leave1); both suffix-sum windows and
    * the χ² rollup run over that bounded table only.
    *
    * @return per event time (t, n_risk, n1_risk, d, d1, e1, v) with the
    *         study-level chi2 replicated on every row (1-row broadcast)
    */
  def logRank(df: DataFrame, durationCol: Column, eventCol: Column,
              arm1Col: Column): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"),
        eventCol.cast("int").as("__e"),
        F.when(arm1Col, 1).otherwise(0).as("__a"))
      .groupBy("t")
      .agg(F.sum("__e").as("d"),
        F.sum(F.col("__e") * F.col("__a")).as("d1"),
        F.count(F.lit(1)).as("__leave"),
        F.sum("__a").cast("long").as("__leave1"))
    val wDesc = Window.orderBy(F.col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perT = byT
      .withColumn("n_risk", F.sum("__leave").over(wDesc))
      .withColumn("n1_risk", F.sum("__leave1").over(wDesc))
      .filter(F.col("d") > 0)
      .withColumn("__share",
        F.col("n1_risk").cast("double") / F.col("n_risk").cast("double"))
      .withColumn("e1", F.round(F.col("d") * F.col("__share"), 9))
      .withColumn("v", F.round(F.when(F.col("n_risk") > 1,
        F.col("d") * F.col("__share") * (F.lit(1.0) - F.col("__share")) *
          (F.col("n_risk") - F.col("d")).cast("double") /
          (F.col("n_risk") - 1L).cast("double")).otherwise(0.0), 9))
    val tot = perT.agg(
      F.sum(F.col("d1") - F.col("e1")).as("__oe"),
      F.sum("v").as("__vv"))
      .select(F.round(
        F.when(F.col("__vv") > 0.0,
          F.col("__oe") * F.col("__oe") / F.col("__vv"))
          .otherwise(0.0), 6).as("chi2"))
    perT.crossJoin(F.broadcast(tot))
      .select("t", "n_risk", "n1_risk", "d", "d1", "e1", "v", "chi2")
      .orderBy("t")
  }

  /** Empirical-Bayes (James-Stein) shrinkage of per-group means toward the
    * grand mean under the one-way random-effects model — the standard fix
    * for small-sample group estimates (a 3-customer nation's mean balance
    * should not outrank a 3,000-customer one). Method-of-moments:
    * {{{
    *   σ²  = Σ_g Σ_i (x−x̄_g)² / (N−G)            (pooled within)
    *   τ²  = max(0, (Σ n_g(x̄_g−m)² − σ²(G−1)) / (N − Σn_g²/N))
    *   B_g = τ² / (τ² + σ²/n_g);  shrunk_g = m + B_g(x̄_g − m)
    * }}}
    * Values are quantized to exact integers k = round(`scale`·x) first so
    * every sufficient statistic (Σk, Σk², n) is EXACT and the two engines
    * replay bit-identical doubles — the x221 rule: never round fp means
    * then keep computing with them. Keep `scale`·|x| ≤ ~1e6 so Σk² stays
    * inside the long range.
    *
    * Scale shape: one map-side (sum, sumsq, count) collapse per group;
    * the G-row table and two 1-row broadcasts do everything else.
    *
    * @return (grp, n, mean, shrink_b, shrunk) — mean/shrunk 6-dp
    */
  def ebShrunkMeans(df: DataFrame, keyCol: Column, valueCol: Column,
                    scale: Long = 100L): DataFrame = {
    val byG = df
      .select(keyCol.as("grp"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .groupBy("grp")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val tot = byG.agg(F.count(F.lit(1)).as("__g"),
      F.sum("n").as("__nn"), F.sum("__sk").as("__tsk"),
      F.sum(F.col("n") * F.col("n")).as("__sn2"))
    val s = F.lit(1.0) / (F.lit(scale).cast("double") * F.lit(scale))
    // ALL-POSITIVE per-group SS terms (the icc1 tri-scale rule): the old
    // Σ(Σk)²/n rollup summed huge doubles in nondeterministic order and
    // its cancellation against Σk²/N·m² loses low decimals at scale
    val withM = byG.crossJoin(F.broadcast(tot))
      .withColumn("__m", F.col("__tsk").cast("double") /
        (F.col("__nn").cast("double") * F.lit(scale.toDouble)))
      .withColumn("__meang",
        F.col("__sk").cast("double") / (F.col("n").cast("double") *
          F.lit(scale.toDouble)))
      .withColumn("__bt", F.col("n").cast("double") *
        (F.col("__meang") - F.col("__m")) *
        (F.col("__meang") - F.col("__m")))
      .withColumn("__wg", (F.col("__sk2").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk") /
          F.col("n").cast("double")) * s)
    val tot2 = withM.agg(F.sum("__bt").as("__btw"),
      F.sum("__wg").as("__ssw"))
    val withTot = withM.crossJoin(F.broadcast(tot2))
      // pooled within-group variance from the positive within terms;
      // all-singleton input (N = G) zeroes the denominator — define
      // σ² = 0 there instead of NaN (advisor r11)
      .withColumn("__s2", F.when(F.col("__nn") > F.col("__g"),
        F.col("__ssw") / (F.col("__nn") - F.col("__g")).cast("double"))
        .otherwise(F.lit(0.0)))
      // single-group input (G = 1) zeroes N − Σn²/N — define τ² = 0 there
      .withColumn("__tdenom", F.col("__nn").cast("double") -
        F.col("__sn2").cast("double") / F.col("__nn").cast("double"))
      .withColumn("__tau2", F.when(F.col("__tdenom") > 0.0,
        F.greatest(F.lit(0.0),
          (F.col("__btw") - F.col("__s2") * (F.col("__g") - 1L).cast("double")) /
            F.col("__tdenom"))).otherwise(F.lit(0.0)))
      // τ² = σ² = 0 (degenerate input) → no shrinkage signal: B = 0
      .withColumn("shrink_b", F.round(F.when(
        F.col("__tau2") + F.col("__s2") / F.col("n").cast("double") > 0.0,
        F.col("__tau2") /
          (F.col("__tau2") + F.col("__s2") / F.col("n").cast("double")))
        .otherwise(F.lit(0.0)), 9))
    withTot.select(F.col("grp"), F.col("n"),
        F.round(F.col("__meang"), 6).as("mean"), F.col("shrink_b"),
        F.round(F.col("__m") +
          F.col("shrink_b") * (F.col("__meang") - F.col("__m")), 6)
          .as("shrunk"))
      .orderBy("grp")
  }

  /** Holm step-down multiple-testing adjustment (strong FWER control) over
    * per-key χ² scores — the conservative sibling of [[bhFdr]] for when a
    * single false discovery is unacceptable (e.g. blocking a data release
    * on ANY leaked-feature signal). p = exp(−χ²/2) (df=2, exactly as
    * bhFdr); sorted ascending, `p_adj(i) = min(1, max_{j≤i} (m−j+1)·p_j)`
    * via one running-max window; reject while every smaller p also
    * rejected (step-down) — enforced by the same cummax shape.
    *
    * Scale shape: identical to bhFdr — the candidate table is already
    * vocabulary-bounded; one deliberate single-partition window.
    *
    * @return (keys…, chi2, p, i, p_adj, rejected) ordered by i
    */
  def holmAdjust(df: DataFrame, keyCols: Seq[String], chi2Col: Column,
                 alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val keyed = df.select((keyCols.map(F.col) :+
      F.round(chi2Col.cast("double"), 6).as("chi2")): _*)
      .withColumn("p", F.round(F.exp(-F.col("chi2") / 2.0), 9))
    val wAsc = Window.orderBy((F.col("p").asc +: keyCols.map(F.col(_).asc)): _*)
    val wRun = Window.orderBy((F.col("p").asc +: keyCols.map(F.col(_).asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = keyed.agg(F.count(F.lit(1)).as("__m"))
    keyed.crossJoin(F.broadcast(m))
      .withColumn("i", F.row_number().over(wAsc))
      .withColumn("__step", F.round(
        (F.col("__m") - F.col("i") + 1L).cast("double") * F.col("p"), 9))
      .withColumn("p_adj",
        F.least(F.lit(1.0), F.max("__step").over(wRun)))
      .withColumn("rejected", F.col("p_adj") <= F.lit(alpha))
      .select((keyCols.map(F.col) :+ F.col("chi2") :+ F.col("p") :+
        F.col("i") :+ F.col("p_adj") :+ F.col("rejected")): _*)
      .orderBy("i")
  }

  /** McNemar's test on paired binary predictions — "is model A better
    * than model B on the SAME examples", the eval-pipeline primitive that
    * a two-proportion test gets wrong by ignoring pairing. Only the
    * discordant counts matter: b = A right & B wrong, c = A wrong & B
    * right; the continuity-corrected statistic is
    * `χ² = (|b−c|−1)² / (b+c)` (1 dof; 0 when b+c = 0 or |b−c| ≤ 1).
    *
    * Scale shape: one map-side conditional-count collapse to a single row;
    * nothing shuffles but four longs.
    *
    * @return one row (n, both_right, b, c, chi2)
    */
  def mcnemar(df: DataFrame, aRight: Column, bRight: Column): DataFrame = {
    val agg = df.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(aRight && bRight, 1L).otherwise(0L)).as("both_right"),
      F.sum(F.when(aRight && !bRight, 1L).otherwise(0L)).as("b"),
      F.sum(F.when(!aRight && bRight, 1L).otherwise(0L)).as("c"))
    agg.withColumn("__d", F.abs(F.col("b") - F.col("c")))
      .select(F.col("n"), F.col("both_right"), F.col("b"), F.col("c"),
        F.round(F.when(F.col("b") + F.col("c") === 0L, 0.0)
          .otherwise(F.greatest(F.lit(0.0),
            (F.col("__d") - 1L).cast("double")) *
            F.greatest(F.lit(0.0), (F.col("__d") - 1L).cast("double")) /
            (F.col("b") + F.col("c")).cast("double")), 6).as("chi2"))
  }

  /** Two-level segmented cumulative sum over a numeric order column — the
    * scale-safe replacement for the single-partition (or k-partition)
    * running-sum window `sum(valueCol) over (partition by partCols order
    * by orderCol)` that otherwise caps parallelism at the partition-key
    * cardinality regardless of data size.
    *
    * Mechanism (guide §2 "derive partitioning from the data"): rows are
    * bucketed into `blocks` contiguous value ranges by a pure
    * order-preserving function of `orderCol` (global min/max scaling);
    * block partial sums collapse map-side into a (partCols × blocks)-row
    * table whose tiny prefix window yields per-block offsets; the final
    * running sum is `offset + within-block cumulative`, a window
    * partitioned by (partCols, block) — parallelism |partCols| · blocks
    * instead of |partCols|. All sums are exact longs, and addition is
    * associative, so the result is bit-identical to the flat window for
    * any block assignment. AQE coalesces the per-block partitions away on
    * small inputs, so locally this costs one tiny extra aggregate + one
    * broadcast join; at scale it removes the serial whole-domain scan.
    *
    * Degenerate numerics degrade safely: a NaN/±Inf domain or a
    * zero-span domain maps every row to block 0, which IS the original
    * flat window. Ordering must be unambiguous: callers pass tables
    * DISTINCT in (partCols, orderCol) — the three rank-scan grid sites —
    * so within-block `rowsBetween` frames are deterministic.
    *
    * @param bounds optional precomputed 1-row (__sc_lo, __sc_hi) global
    *               bounds of `orderCol` as doubles — pass the cheapest
    *               equivalent subtree (e.g. the distinct-value table's
    *               min/max) to avoid re-deriving `df` for the bounds
    * @param descending cumulate from the TOP of the value domain (the
    *               jonckheereTerpstra suffix-count direction)
    * @param sumSource optional CHEAPER subtree with the same partCols /
    *               orderCol / valueCol whose per-block sums equal `df`'s
    *               (the sparse cell table behind a 0-filled dense grid,
    *               and any part value present in `df` present here too;
    *               a part value missing here fails the query) —
    *               without it the block sums re-derive `df` itself, which
    *               for a join-built grid doubles the expensive subtree
    *               (measured r19: x272 task_ms 2× with df-derived sums)
    */
  private[graft] def segmentedCumSum(df: DataFrame, partCols: Seq[String],
      orderCol: String, valueCol: String, outCol: String,
      descending: Boolean = false,
      bounds: Option[DataFrame] = None,
      sumSource: Option[DataFrame] = None): DataFrame = {
    val v = F.col(orderCol).cast("double")
    val blocks = math.max(16, df.sparkSession.sparkContext.defaultParallelism)
    val src = sumSource.getOrElse(df)
    val bnd = bounds.getOrElse(
      src.agg(F.min(v).as("__sc_lo"), F.max(v).as("__sc_hi")))
    val span = F.col("__sc_hi") - F.col("__sc_lo")
    // order-preserving: v1 <= v2 => blk(v1) <= blk(v2) (double subtraction,
    // division by a positive constant, scaling and floor are all monotone)
    val blk = F.when(span <= 0.0, F.lit(0))
      .otherwise(F.least(F.lit(blocks - 1), F.greatest(F.lit(0),
        F.floor((v - F.col("__sc_lo")) / span * blocks).cast("int"))))
    def withBlkOf(d: DataFrame): DataFrame = d.crossJoin(F.broadcast(bnd))
      .withColumn("__sc_blk", F.coalesce(blk, F.lit(0)))
      .drop("__sc_lo", "__sc_hi")
    val withBlk = withBlkOf(df)
    val blkKey = partCols :+ "__sc_blk"
    // block offsets on the DENSIFIED (parts × blocks) frame: a sparse
    // sumSource can have empty (part, block) cells whose offsets are
    // still needed by df's rows there — the tiny explode + left join
    // fills them; `blocks` is partitioning metadata, never data-derived
    val partsDf =
      if (partCols.isEmpty) src.sparkSession.range(1).select()
      else src.select(partCols.map(F.col): _*).distinct()
    val allBlocks = partsDf.withColumn("__sc_blk",
      F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))))
    val blockSums = withBlkOf(src).groupBy(blkKey.map(F.col): _*)
      .agg(F.sum(valueCol).as("__sc_bsum"))
    val ordBlk =
      if (descending) F.col("__sc_blk").desc else F.col("__sc_blk").asc
    val wOff = Window.partitionBy(partCols.map(F.col): _*).orderBy(ordBlk)
      .rowsBetween(Window.unboundedPreceding, -1)
    // both attach joins are null-SAFE (<=>): a null part value is its own
    // window partition in the flat form, so it must match its own rows
    val bsAl = blockSums.select((blkKey.map(c => F.col(c).as(s"__sb_$c")) :+
      F.col("__sc_bsum")): _*)
    val condBs = blkKey.map(c => F.col(c) <=> F.col(s"__sb_$c"))
      .reduce(_ && _)
    val offsets = allBlocks
      .join(bsAl, condBs, "left").na.fill(0L, Seq("__sc_bsum"))
      .withColumn("__sc_off",
        F.coalesce(F.sum("__sc_bsum").over(wOff), F.lit(0L)))
      .select((blkKey.map(c => F.col(c).as(s"__so_$c")) :+
        F.col("__sc_off")): _*)
    val cond = blkKey.map(c => F.col(c) <=> F.col(s"__so_$c"))
      .reduce(_ && _)
    val ordIn =
      if (descending) F.col(orderCol).desc else F.col(orderCol).asc
    val wIn = Window.partitionBy(blkKey.map(F.col): _*).orderBy(ordIn)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT attach + fail-fast: every (part, block) of df must find its
    // offset row; a part value missing from sumSource breaks the contract
    // above, and an inner join would silently drop its rows
    val off = F.when(F.col("__sc_off").isNotNull, F.col("__sc_off"))
      .otherwise(F.raise_error(F.lit("segmentedCumSum: a row's part " +
        s"value (${partCols.mkString(", ")}) is missing from sumSource " +
        "— the block offsets cannot cover it")))
    withBlk.join(F.broadcast(offsets), cond, "left")
      .withColumn(outCol, F.sum(valueCol).over(wIn) + off)
      .drop(blkKey.map(c => s"__so_$c") :+ "__sc_blk" :+ "__sc_off": _*)
  }

  /** Kruskal-Wallis H test — the k-group generalization of
    * [[mannWhitneyU]] (one-way ANOVA on ranks): does ANY group's value
    * distribution sit above the others, with no normality assumption.
    * Midranks handle ties exactly; the tie-corrected statistic is
    * {{{
    *   H  = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
    *   Hc = H / (1 − Σ(t³−t)/(N³−N))
    * }}}
    * Scale shape: the [[mannWhitneyU]] discipline — subjects collapse
    * map-side to one row per DISTINCT (value, group) cell, midranks come
    * from one bounded value-domain window (deliberate single partition
    * over distinct values only), and the k-row rank-sum table does the
    * rest. No subject-level sort ever happens.
    *
    * @return per group (grp, n, rank_sum, mean_rank) with the study-level
    *         (h, h_corr) replicated on every row (1-row broadcast)
    */
  def kruskalWallis(df: DataFrame, groupCol: Column,
                    valueCol: Column): DataFrame = {
    val byVG = df
      .select(groupCol.cast("string").as("grp"),
        valueCol.cast("double").as("__v"))
      .groupBy("__v", "grp").agg(F.count(F.lit(1)).as("__c"))
    val byV = byVG.groupBy("__v").agg(F.sum("__c").as("__t"))
    // flat single-partition midrank window KEPT (r19 measured: the
    // segmented two-level scan read wall +0.5-0.9 s here with cpu flat —
    // pure attach-stage overhead on this op's L, which is bounded by the
    // value DOMAIN after the distinct collapse, not by corpus size; see
    // segmentedCumSum for the unbounded-domain variant the grid ops use)
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mids = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__mid",
        (F.col("__cum") - F.col("__t")).cast("double") +
          (F.col("__t") + 1L).cast("double") / 2.0)
    // midranks are exact doubles (integer or half-integer), so R_g is an
    // exact sum — no 9-dp quantize needed before the rollup
    val perG = byVG.join(mids.select("__v", "__mid"), "__v")
      .groupBy("grp")
      .agg(F.sum("__c").as("n"),
        F.sum(F.col("__c") * F.col("__mid")).as("rank_sum"))
    val tie = byV.agg(F.sum(
      F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")).as("__tie"))
    val tot = perG.crossJoin(F.broadcast(tie))
      .agg(F.sum("n").as("__N"),
        F.sum(F.col("rank_sum") * F.col("rank_sum") /
          F.col("n").cast("double")).as("__rr"),
        F.max("__tie").as("__tiem"))
      .select(F.col("__N"),
        F.round((F.lit(12.0) * F.col("__rr") /
          (F.col("__N").cast("double") * (F.col("__N") + 1L).cast("double")))
          - F.lit(3.0) * (F.col("__N") + 1L).cast("double"), 9).as("__h"),
        F.col("__tiem"))
      .select(F.col("__N"),
        F.round(F.col("__h"), 6).as("h"),
        F.round(F.col("__h") / F.nullif(
          F.lit(1.0) - F.col("__tiem").cast("double") /
            (F.col("__N").cast("double") * F.col("__N") * F.col("__N") -
              F.col("__N").cast("double")), F.lit(0.0)), 6).as("h_corr"))
    perG.crossJoin(F.broadcast(tot))
      .select(F.col("grp"), F.col("n"),
        F.round(F.col("rank_sum"), 6).as("rank_sum"),
        F.round(F.col("rank_sum") / F.col("n").cast("double"), 6)
          .as("mean_rank"),
        F.col("h"), F.col("h_corr"))
      .orderBy("grp")
  }

  /** Cramér's V association between two categorical columns — the
    * normalized effect size the raw χ² (sample-size-dependent) cannot
    * give, plus the Bergsma bias-corrected variant that does not inflate
    * on high-cardinality tables. Dense r×c grid (absent cells count 0):
    * {{{
    *   V  = √(φ²/min(r−1, c−1)),  φ² = χ²/n
    *   φ²' = max(0, φ² − (r−1)(c−1)/(n−1)),  r' = r − (r−1)²/(n−1), …
    *   V' = √(φ²'/min(r'−1, c'−1))
    * }}}
    * Scale shape: one map-side (a, b) cell collapse (the grid is
    * cardinality-bounded), margins as two rollups of the cell table,
    * dense cells via cross join of the bounded margins — the corpus is
    * scanned once; everything after is grid-sized.
    *
    * @return one row (n, r, c, chi2, v, v_corr) — 6-dp
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df
      .select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__k"))
    val ra = cells.groupBy("__a").agg(F.sum("__k").as("__na"))
    val cb = cells.groupBy("__b").agg(F.sum("__k").as("__nb"))
    val n = cells.agg(F.sum("__k").as("__n"))
    val dense = ra.crossJoin(cb)
      .join(cells, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__k"))
      .crossJoin(F.broadcast(n))
      // 9-dp per-cell terms before the unordered sum (the pageRank rule)
      .withColumn("__e", F.col("__na").cast("double") * F.col("__nb") /
        F.col("__n"))
      .withColumn("__cell", F.round(
        (F.col("__k") - F.col("__e")) * (F.col("__k") - F.col("__e")) /
          F.col("__e"), 9))
    val agg = dense.agg(
      F.max("__n").as("n"),
      F.countDistinct("__a").as("r"),
      F.countDistinct("__b").as("c"),
      F.round(F.sum("__cell"), 6).as("chi2"))
    val nD = F.col("n").cast("double")
    val rD = F.col("r").cast("double")
    val cD = F.col("c").cast("double")
    val phi2 = F.col("chi2") / nD
    val phi2c = F.greatest(F.lit(0.0),
      phi2 - (rD - 1.0) * (cD - 1.0) / (nD - 1.0))
    val rAdj = rD - (rD - 1.0) * (rD - 1.0) / (nD - 1.0)
    val cAdj = cD - (cD - 1.0) * (cD - 1.0) / (nD - 1.0)
    agg.select(F.col("n"), F.col("r"), F.col("c"), F.col("chi2"),
      F.round(F.sqrt(phi2 / F.least(rD - 1.0, cD - 1.0)), 6).as("v"),
      F.round(F.sqrt(phi2c / F.nullif(
        F.least(rAdj - 1.0, cAdj - 1.0), F.lit(0.0))), 6).as("v_corr"))
  }

  /** Pairwise Cohen's d / Hedges' g effect sizes between every pair of
    * groups — the magnitude readout a p-value (t-test/ANOVA) does not
    * give: HOW far apart two cohorts' means sit, in pooled-SD units, with
    * the small-sample Hedges correction `g = d·(1 − 3/(4(na+nb)−9))`.
    * Values quantize to exact integers k = round(`scale`·x) first (the
    * x221 rule) so (n, Σk, Σk²) are exact and both engines replay
    * bit-identical statistics.
    *
    * Scale shape: one map-side per-group collapse to (n, Σk, Σk²); the
    * G²/2 pair table is group-cardinality-bounded (a self-join of the
    * G-row rollup, never of subjects).
    *
    * @return (grp_a, grp_b, n_a, n_b, mean_a, mean_b, d, g) — 6-dp,
    *         canonical grp_a < grp_b pairs
    */
  def cohensD(df: DataFrame, groupCol: Column, valueCol: Column,
              scale: Long = 100L): DataFrame = {
    val byG = df
      .select(groupCol.cast("string").as("g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .groupBy("g")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__s2"))
    def side(s: String) = byG.select(F.col("g").as(s"grp_$s"),
      F.col("n").as(s"n_$s"), F.col("__s").as(s"__s_$s"),
      F.col("__s2").as(s"__s2_$s"))
    val sc = F.lit(scale.toDouble)
    val pairs = side("a").join(side("b"),
      F.col("grp_a") < F.col("grp_b"))
    val na = F.col("n_a").cast("double")
    val nb = F.col("n_b").cast("double")
    val meanA = F.col("__s_a") / (na * sc)
    val meanB = F.col("__s_b") / (nb * sc)
    // exact-integer within-group sums of squares, scaled once
    val ssA = (F.col("__s2_a").cast("double") -
      F.col("__s_a").cast("double") * F.col("__s_a") / na) / (sc * sc)
    val ssB = (F.col("__s2_b").cast("double") -
      F.col("__s_b").cast("double") * F.col("__s_b") / nb) / (sc * sc)
    val sp = F.sqrt(F.nullif((ssA + ssB) / (na + nb - 2.0), F.lit(0.0)))
    val d = (meanA - meanB) / sp
    pairs.select(F.col("grp_a"), F.col("grp_b"), F.col("n_a"), F.col("n_b"),
      F.round(meanA, 6).as("mean_a"), F.round(meanB, 6).as("mean_b"),
      F.round(d, 6).as("d"),
      F.round(d * (F.lit(1.0) -
        F.lit(3.0) / (F.lit(4.0) * (na + nb) - 9.0)), 6).as("g"))
      .orderBy("grp_a", "grp_b")
  }

  /** Brown-Forsythe test (Levene with median centers) for variance
    * homogeneity across groups — the robust gatekeeper for ANOVA/pooled-SD
    * assumptions: one-way F on the absolute deviations from each group's
    * MEDIAN. Everything stays in exact integers: values quantize to
    * k = round(`scale`·x); the group median is carried DOUBLED
    * (m2 = k_lo + k_hi from the two middle order statistics, so an
    * even-n median never becomes a fractional value), and the deviations
    * z = |2k − m2| are exact integers whose common factor cancels in F.
    * No engine ever interpolates a median — the x221 rule applied to
    * order statistics.
    *
    * Scale shape: per-group rank via a GROUP-KEYED window (no global
    * sort), two middle rows per group survive, one map-side (n, Σz, Σz²)
    * collapse on the deviations — two scans of the value projection.
    *
    * @return one row (k, n, f, df1, df2) — f 6-dp
    */
  def brownForsythe(df: DataFrame, groupCol: Column, valueCol: Column,
                    scale: Long = 100L): DataFrame = {
    val keyed = df.select(groupCol.cast("string").as("__g"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
    val wG = Window.partitionBy("__g").orderBy(F.col("__k"))
    val cnt = Window.partitionBy("__g")
    val m2 = keyed
      .withColumn("__rn", F.row_number().over(wG))
      .withColumn("__n", F.count(F.lit(1)).over(cnt))
      // Spark's `/` on longs is DOUBLE division — floor() makes these the
      // two middle order-statistic positions (equal when n is odd)
      .filter(F.col("__rn") === F.floor((F.col("__n") + 1L) / 2L) ||
        F.col("__rn") === F.floor((F.col("__n") + 2L) / 2L))
      .groupBy("__g")
      // odd n keeps ONE row → double it; even n sums the two middles
      .agg((F.sum("__k") * (F.lit(3L) - F.count(F.lit(1)))).as("__m2"))
    val z = keyed.join(m2, "__g")
      .withColumn("__z", F.abs(F.col("__k") * 2L - F.col("__m2")))
    val byG = z.groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__z").as("__s1"),
        F.sum(F.col("__z") * F.col("__z")).as("__s2"))
    val tot1 = byG.agg(F.sum("__n").as("__NN"), F.sum("__s1").as("__T1"))
    // ALL-POSITIVE per-group SS terms (the icc1 tri-scale rule — no
    // big-double cancellation, order error stays at relative 1e-15)
    val nGD = F.col("__n").cast("double")
    val meanG = F.col("__s1").cast("double") / nGD
    val grand = F.col("__T1").cast("double") / F.col("__NN").cast("double")
    val terms = byG.crossJoin(F.broadcast(tot1))
      .withColumn("__bt", nGD * (meanG - grand) * (meanG - grand))
      .withColumn("__wth", F.col("__s2").cast("double") -
        F.col("__s1").cast("double") * F.col("__s1") / nGD)
    val agg = terms.agg(
      F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum("__bt").as("__ssb"), F.sum("__wth").as("__ssw"))
    val kD = F.col("k").cast("double")
    val nD = F.col("n").cast("double")
    agg.select(F.col("k"), F.col("n"),
      F.round((F.col("__ssb") / (kD - 1.0)) /
        F.nullif(F.col("__ssw") / (nD - kD), F.lit(0.0)), 6).as("f"),
      (F.col("k") - 1L).as("df1"), (F.col("n") - F.col("k")).as("df2"))
  }

  /** Difference-in-differences estimator over a 2×2 (treated × post)
    * design — the workhorse for "did the pipeline change move the metric,
    * net of the secular trend": `DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    * ȳ_C,pre)`, with the unequal-variance SE `√(Σ_cells s²/n)` and its
    * t-statistic. Values quantize to exact integers k = round(`scale`·y)
    * (x221 rule) so all four cell means replay bit-identically.
    *
    * Scale shape: ONE map-side conditional collapse to four (treat, post)
    * sufficient-statistic rows; everything after is 4-row arithmetic.
    *
    * @return one row (n, mean_t_pre, mean_t_post, mean_c_pre,
    *         mean_c_post, did, se, t_stat) — 6-dp
    */
  def diffInDiff(df: DataFrame, treatCol: Column, postCol: Column,
                 valueCol: Column, scale: Long = 1000L): DataFrame = {
    val cells = df
      .select(F.when(treatCol, 1).otherwise(0).as("__t"),
        F.when(postCol, 1).otherwise(0).as("__p"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .groupBy("__t", "__p")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__s2"))
    val sc = F.lit(scale.toDouble)
    val wide = cells.agg(
      F.sum("__n").as("n"),
      (0 to 1).flatMap { t => (0 to 1).map { p =>
        F.sum(F.when(F.col("__t") === t && F.col("__p") === p,
          F.col("__n")).otherwise(0L)).as(s"__n_${t}${p}")
      } } ++
      (0 to 1).flatMap { t => (0 to 1).map { p =>
        F.sum(F.when(F.col("__t") === t && F.col("__p") === p,
          F.col("__s")).otherwise(0L)).as(s"__s_${t}${p}")
      } } ++
      (0 to 1).flatMap { t => (0 to 1).map { p =>
        F.sum(F.when(F.col("__t") === t && F.col("__p") === p,
          F.col("__s2")).otherwise(0L)).as(s"__q_${t}${p}")
      } }: _*)
    def mean(t: Int, p: Int) =
      F.col(s"__s_${t}${p}") / (F.col(s"__n_${t}${p}").cast("double") * sc)
    // per-cell mean-variance s²/n from exact integer stats
    def vm(t: Int, p: Int) = {
      val nC = F.col(s"__n_${t}${p}").cast("double")
      (F.col(s"__q_${t}${p}").cast("double") -
        F.col(s"__s_${t}${p}").cast("double") * F.col(s"__s_${t}${p}") / nC) /
        (sc * sc) / (F.nullif(nC - 1.0, F.lit(0.0)) * nC)
    }
    val did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    val se = F.sqrt(vm(1, 1) + vm(1, 0) + vm(0, 1) + vm(0, 0))
    wide.select(F.col("n"),
      F.round(mean(1, 0), 6).as("mean_t_pre"),
      F.round(mean(1, 1), 6).as("mean_t_post"),
      F.round(mean(0, 0), 6).as("mean_c_pre"),
      F.round(mean(0, 1), 6).as("mean_c_post"),
      F.round(did, 6).as("did"),
      F.round(se, 6).as("se"),
      F.round(did / F.nullif(se, F.lit(0.0)), 6).as("t_stat"))
  }

  /** Cronbach's alpha internal-consistency coefficient over k item
    * columns — "do these quality signals measure one underlying thing":
    * `α = k/(k−1) · (1 − Σ var_items / var_total)`. Item expressions must
    * be INTEGER-valued (counts, lengths) so every (Σx, Σx²) — including
    * the per-row item total's — is exact and engine-replayable; sample
    * variances, consistently, so the n/(n−1) factors cancel in the ratio.
    *
    * Scale shape: one map-side collapse of 2k+2 exact sums over a single
    * scan; the result is one row. Nothing shuffles but the sums.
    *
    * @return one row (n, k, var_sum, var_total, alpha) — 6-dp
    */
  def cronbachAlpha(df: DataFrame, items: Seq[(String, Column)]): DataFrame = {
    require(items.size >= 2, s"need >= 2 items, got ${items.size}")
    val k = items.size
    val proj = df.select(items.map { case (n, c) =>
      c.cast("long").as(s"__i_$n") } :+
      items.map { case (_, c) => c.cast("long") }
        .reduce(_ + _).as("__tot"): _*)
    val sums = proj.agg(
      F.count(F.lit(1)).as("n"),
      items.flatMap { case (nm, _) => Seq(
        F.sum(F.col(s"__i_$nm")).as(s"__s_$nm"),
        F.sum(F.col(s"__i_$nm") * F.col(s"__i_$nm")).as(s"__q_$nm"))
      } ++ Seq(
        F.sum(F.col("__tot")).as("__st"),
        F.sum(F.col("__tot") * F.col("__tot")).as("__qt")): _*)
    val nD = F.col("n").cast("double")
    def svar(s: Column, q: Column) =
      (q.cast("double") - s.cast("double") * s / nD) / (nD - 1.0)
    // 9-dp per-item variances before the unordered k-term sum
    val varSum = items.map { case (nm, _) =>
      F.round(svar(F.col(s"__s_$nm"), F.col(s"__q_$nm")), 9) }.reduce(_ + _)
    val varTot = svar(F.col("__st"), F.col("__qt"))
    sums.select(F.col("n"), F.lit(k).as("k"),
      F.round(varSum, 6).as("var_sum"),
      F.round(varTot, 6).as("var_total"),
      F.round(F.lit(k.toDouble) / (k - 1.0) *
        (F.lit(1.0) - varSum / F.nullif(varTot, F.lit(0.0))), 6).as("alpha"))
  }

  /** Bradley-Terry preference strengths from pairwise win counts — the
    * model behind LLM-eval leaderboards and preference-data curation:
    * given w(i beats j) battle counts, find abilities p_i with
    * `P(i beats j) = p_i/(p_i + p_j)`. Three unrolled
    * minorization-maximization rounds (Hunter 2004):
    * {{{
    *   p_i ← W_i / Σ_{j≠i} n_ij/(p_i + p_j),   then normalize Σp = 1
    * }}}
    * with p rounded to 9 dp after every round so both engines iterate
    * from identical values (the quantize-then-iterate rule; MM converges
    * geometrically, so 3 rounds from uniform is a stable readout, and a
    * FIXED count keeps the op deterministic and oracle-replayable).
    *
    * Scale shape: ONE corpus pass. Battles collapse map-side to the
    * item×item win matrix w (item-vocabulary-bounded), materialized once
    * with `localCheckpoint`; the 2..4096 distinct-item guard is a count
    * over that checkpointed table, so a runaway item domain fails before
    * any pair row reaches the driver. w is then collected once, and the
    * symmetric n_ij, the per-item wins (0 for items that only lose) and
    * the MM rounds all derive from it driver-side — the kmeansAssign /
    * kCenterCoreset bounded-fit convention — so corpus size never
    * re-enters and nothing re-scans the battles.
    *
    * @return (item, wins, p) — p 6-dp from the 9-dp fixpoint ladder,
    *         ordered by item
    */
  def bradleyTerry(battles: DataFrame, winnerCol: Column, loserCol: Column,
                   rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10], got $rounds")
    val w = battles
      .select(winnerCol.cast("string").as("wi"),
        loserCol.cast("string").as("lo"))
      .filter(F.col("wi").isNotNull && F.col("lo").isNotNull &&
        F.col("wi") =!= F.col("lo"))
      .groupBy("wi", "lo").agg(F.count(F.lit(1)).as("__w"))
      .localCheckpoint()
    // The checkpoint is the only pass over the battles. The item guard
    // counts over it, so a runaway item domain fails before any pair row
    // reaches the driver; the MM fixpoint then iterates on the collected
    // matrix, ladder sums in sorted-item order so the 9-dp rounds replay
    // identically everywhere.
    val kGuard = w.select(F.explode(F.array(F.col("wi"), F.col("lo"))))
      .distinct().count()
    require(kGuard >= 2, s"bradleyTerry: need >= 2 items, got $kGuard")
    require(kGuard <= 4096,
      s"bradleyTerry: $kGuard items — the matrix solve is meant for a " +
        "bounded model/source vocabulary; aggregate first")
    val cells = w.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // symmetric battle counts n_ij, and wins per item including the
    // items that only ever lose (wins 0)
    val pairRows = cells.flatMap { case (i, j, c) => Seq((i, j) -> c, (j, i) -> c) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val winOf = cells.groupMapReduce(_._1)(_._3)(_ + _)
    val winRows = pairRows.keysIterator.map(_._1).toArray.distinct.sorted
      .map(i => i -> winOf.getOrElse(i, 0L))
    val kItems = winRows.size
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val items = winRows.map(_._1)
    var p = items.map(_ -> r9(1.0 / kItems.toDouble)).toMap
    (1 to rounds).foreach { _ =>
      val raw = winRows.map { case (i, wi) =>
        val d = items.iterator.filter(j => pairRows.contains((i, j)))
          .map(j => pairRows((i, j)).toDouble / (p(i) + p(j))).sum
        i -> wi.toDouble / d
      }
      val z = raw.iterator.map(_._2).sum
      p = raw.map { case (i, v) => i -> r9(v / z) }.toMap
    }
    val spark = battles.sparkSession
    import spark.implicits._
    winRows.map { case (i, wi) =>
      (i, wi, BigDecimal(p(i)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.toDF("item", "wins", "p")
      .orderBy("item")
  }

  /** Cliff's delta ordinal effect size between two classes — the
    * nonparametric companion to [[cohensD]]: `δ = P(x₁ > x₂) − P(x₁ <
    * x₂)`, computed exactly from the [[mannWhitneyU]] rank-sum identity
    * `δ = 2U₁/(n₁n₂) − 1` (midrank ties contribute ½ each way). The
    * standard Romano magnitude bands are attached for the readout.
    *
    * Scale shape: [[rankSum]] — distinct-value collapse, one bounded
    * window, 1-row result; subjects are never paired.
    *
    * @return one row (n1, n2, u1, delta, magnitude) — delta 6-dp
    */
  def cliffsDelta(df: DataFrame, valueCol: Column,
                  isClass1: Column): DataFrame = {
    val s = rankSum(df, valueCol, isClass1)
    val n1 = F.col("n1").cast("double")
    val n2 = F.col("n2").cast("double")
    val u1 = F.col("r1") - n1 * (n1 + 1.0) / 2.0
    val delta = F.lit(2.0) * u1 / F.nullif(n1 * n2, F.lit(0.0)) - 1.0
    val ad = F.abs(delta)
    s.select(F.col("n1"), F.col("n2"), F.round(u1, 6).as("u1"),
      F.round(delta, 6).as("delta"),
      F.when(ad < 0.147, "negligible").when(ad < 0.33, "small")
        .when(ad < 0.474, "medium").otherwise("large").as("magnitude"))
  }

  /** Bowker symmetry test over a square transition table — the k×k
    * generalization of [[mcnemar]]: is flow i→j balanced by j→i for
    * every pair (a drifting preference / one-way migration detector for
    * event streams). Per unordered pair `(n_ij − n_ji)²/(n_ij + n_ji)`,
    * χ² with one df per tested pair.
    *
    * Scale shape: the corpus collapses map-side to the k² transition
    * cells; pair canonicalization and the rollup run on that bounded
    * table only.
    *
    * @return per pair (a, b, n_ab, n_ba, cell) with the study (chi2, df)
    *         replicated (1-row broadcast), ordered by (a, b)
    */
  def bowkerSymmetry(df: DataFrame, fromCol: Column,
                     toCol: Column): DataFrame = {
    val cells = df
      .select(fromCol.cast("string").as("__i"), toCol.cast("string").as("__j"))
      .filter(F.col("__i").isNotNull && F.col("__j").isNotNull &&
        F.col("__i") =!= F.col("__j"))
      .groupBy("__i", "__j").agg(F.count(F.lit(1)).as("__c"))
    val pairs = cells
      .select(F.least(F.col("__i"), F.col("__j")).as("a"),
        F.greatest(F.col("__i"), F.col("__j")).as("b"),
        F.when(F.col("__i") < F.col("__j"), F.col("__c")).otherwise(0L)
          .as("__fwd"),
        F.when(F.col("__i") > F.col("__j"), F.col("__c")).otherwise(0L)
          .as("__rev"))
      .groupBy("a", "b")
      .agg(F.sum("__fwd").as("n_ab"), F.sum("__rev").as("n_ba"))
      .withColumn("cell", F.round(
        (F.col("n_ab") - F.col("n_ba")).cast("double") *
          (F.col("n_ab") - F.col("n_ba")) /
          (F.col("n_ab") + F.col("n_ba")).cast("double"), 9))
    val tot = pairs.agg(F.round(F.sum("cell"), 6).as("chi2"),
      F.count(F.lit(1)).as("df"))
    pairs.crossJoin(F.broadcast(tot))
      .select(F.col("a"), F.col("b"), F.col("n_ab"), F.col("n_ba"),
        F.col("cell"), F.col("chi2"), F.col("df"))
      .orderBy("a", "b")
  }

  /** Wald-Wolfowitz runs test of randomness on an ORDERED series —
    * "does this daily metric wander above/below its median in streaks
    * (trend/regime) or flip like noise". Signs come from the exact
    * DOUBLED median (the [[brownForsythe]] order-statistic trick — no
    * interpolation, values quantized to integers first); exact-median
    * points drop (the standard convention); runs count via one lag:
    * {{{
    *   μ = 2n₁n₂/(n₁+n₂) + 1
    *   σ² = 2n₁n₂(2n₁n₂ − n₁ − n₂) / ((n₁+n₂)²(n₁+n₂−1))
    * }}}
    *
    * Scale shape: for a ROLLED-UP series (daily/hourly readout): the
    * median rank and the lag run over the bounded series only
    * (deliberate single-partition windows over the rollup).
    *
    * @return one row (n1, n2, runs, mu, z) — 6-dp
    */
  def runsTest(df: DataFrame, orderCol: Column, valueCol: Column,
               scale: Long = 1000L): DataFrame = {
    val proj = df.select(orderCol.as("__o"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
    val wV = Window.orderBy(F.col("__k"))
    val m2 = proj
      .withColumn("__rn", F.row_number().over(wV))
      .withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy(F.lit(1))))
      .filter(F.col("__rn") === F.floor((F.col("__n") + 1L) / 2L) ||
        F.col("__rn") === F.floor((F.col("__n") + 2L) / 2L))
      .agg((F.sum("__k") * (F.lit(3L) - F.count(F.lit(1)))).as("__m2"))
    val signed = proj.crossJoin(F.broadcast(m2))
      .withColumn("__s", F.when(F.col("__k") * 2L > F.col("__m2"), 1)
        .when(F.col("__k") * 2L < F.col("__m2"), -1).otherwise(0))
      .filter(F.col("__s") =!= 0)
    val wO = Window.orderBy(F.col("__o"))
    val agg = signed
      .withColumn("__flip",
        F.when(F.lag("__s", 1).over(wO).isNull, 1)
          .when(F.col("__s") =!= F.lag("__s", 1).over(wO), 1).otherwise(0))
      .agg(F.sum(F.when(F.col("__s") === 1, 1L).otherwise(0L)).as("n1"),
        F.sum(F.when(F.col("__s") === -1, 1L).otherwise(0L)).as("n2"),
        F.sum("__flip").as("runs"))
    val n1 = F.col("n1").cast("double")
    val n2 = F.col("n2").cast("double")
    val nn = n1 + n2
    val mu = F.lit(2.0) * n1 * n2 / nn + 1.0
    val sigma2 = F.lit(2.0) * n1 * n2 *
      (F.lit(2.0) * n1 * n2 - n1 - n2) / (nn * nn * (nn - 1.0))
    agg.select(F.col("n1"), F.col("n2"), F.col("runs"),
      F.round(mu, 6).as("mu"),
      F.round((F.col("runs") - mu) /
        F.sqrt(F.nullif(sigma2, F.lit(0.0))), 6).as("z"))
  }

  /** Mantel-Haenszel pooled odds ratio across strata — the stratified
    * exposure→outcome effect with confounders held inside each stratum
    * (the Simpson's-paradox-proof pooled readout, x199's constructive
    * fix), with the Robins-Breslow-Greenland variance of ln(OR):
    * {{{
    *   OR = ΣR/ΣS,  R = ad/n,  S = bc/n
    *   var = ΣPR/2(ΣR)² + Σ(PS+QR)/2ΣRΣS + ΣQS/2(ΣS)²
    * }}}
    * Per-stratum terms round at 9 dp before the unordered sums.
    *
    * Scale shape: ONE conditional collapse to four counts per stratum;
    * everything after runs on the strata-bounded table.
    *
    * @return one row (strata, or_mh, ln_or, se, z) — 6-dp
    */
  def mantelHaenszel(df: DataFrame, strataCol: Column, exposedCol: Column,
                     outcomeCol: Column): DataFrame = {
    val byS = df
      .select(strataCol.cast("string").as("__s"),
        F.when(exposedCol, 1).otherwise(0).as("__e"),
        F.when(outcomeCol, 1).otherwise(0).as("__y"))
      .groupBy("__s")
      .agg(F.sum(F.when(F.col("__e") === 1 && F.col("__y") === 1, 1L)
          .otherwise(0L)).as("__a"),
        F.sum(F.when(F.col("__e") === 1 && F.col("__y") === 0, 1L)
          .otherwise(0L)).as("__b"),
        F.sum(F.when(F.col("__e") === 0 && F.col("__y") === 1, 1L)
          .otherwise(0L)).as("__c"),
        F.sum(F.when(F.col("__e") === 0 && F.col("__y") === 0, 1L)
          .otherwise(0L)).as("__d"))
    val n = (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d"))
      .cast("double")
    val rT = F.col("__a").cast("double") * F.col("__d") / n
    val sT = F.col("__b").cast("double") * F.col("__c") / n
    val pT = (F.col("__a") + F.col("__d")).cast("double") / n
    val qT = (F.col("__b") + F.col("__c")).cast("double") / n
    val terms = byS.select(
      F.round(rT, 9).as("__r"), F.round(sT, 9).as("__ss"),
      F.round(pT * rT, 9).as("__pr"),
      F.round(pT * sT + qT * rT, 9).as("__psqr"),
      F.round(qT * sT, 9).as("__qs"))
    val agg = terms.agg(F.count(F.lit(1)).as("strata"),
      F.sum("__r").as("__sr"), F.sum("__ss").as("__sss"),
      F.sum("__pr").as("__spr"), F.sum("__psqr").as("__spsqr"),
      F.sum("__qs").as("__sqs"))
    val or = F.col("__sr") / F.nullif(F.col("__sss"), F.lit(0.0))
    val lnOr = F.log(or)
    val variance =
      F.col("__spr") / (F.lit(2.0) * F.col("__sr") * F.col("__sr")) +
      F.col("__spsqr") / (F.lit(2.0) * F.col("__sr") * F.col("__sss")) +
      F.col("__sqs") / (F.lit(2.0) * F.col("__sss") * F.col("__sss"))
    val se = F.sqrt(variance)
    agg.select(F.col("strata"),
      F.round(or, 6).as("or_mh"), F.round(lnOr, 6).as("ln_or"),
      F.round(se, 6).as("se"),
      F.round(lnOr / F.nullif(se, F.lit(0.0)), 6).as("z"))
  }

  /** Jonckheere-Terpstra ordered-alternative trend test — "does the value
    * distribution RISE monotonically across these ordered groups", which
    * [[kruskalWallis]] (any-difference) cannot ask. Groups order by their
    * LEXICOGRAPHIC label (the caller encodes the hypothesis order, as
    * TPC-H priorities `1-URGENT < 2-HIGH < …` already do):
    * {{{
    *   J = Σ_{a<b} U_ab   (ties ½),  μ = (N² − Σn²)/4
    *   σ² = (N²(2N+3) − Σn²(2n+3)) / 72   (no-tie form; documented)
    * }}}
    * Scale shape: the (value, group) cell collapse + a per-group
    * suffix-count over the value-domain-bounded grid; U_ab comes from a
    * cell-level join, never a subject-level pairing.
    *
    * @return one row (n, j, mu, z) — 6-dp
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         valueCol: Column): DataFrame = {
    val cells = df
      .select(groupCol.cast("string").as("g"),
        valueCol.cast("double").as("__v"))
      .groupBy("__v", "g").agg(F.count(F.lit(1)).as("__c"))
    val grid = cells.select("__v").distinct()
      .crossJoin(cells.select("g").distinct())
      .join(cells, Seq("__v", "g"), "left")
      .na.fill(0L, Seq("__c"))
    // per-group suffix counts over the dense grid: segmented two-level
    // scan (descending) instead of the k-partition window whose
    // parallelism was capped at the group count; bounds come from the
    // cells table (the grid is a dense cross product, so the global
    // value range IS every group's range)
    val gridBounds = cells.agg(
      F.min(F.col("__v").cast("double")).as("__sc_lo"),
      F.max(F.col("__v").cast("double")).as("__sc_hi"))
    // block sums come from the SPARSE cells (the grid's 0-fills add
    // nothing), so the join-built grid is derived once, not twice
    val withGt = segmentedCumSum(grid, Seq("g"), "__v", "__c", "__sfx",
        descending = true, bounds = Some(gridBounds),
        sumSource = Some(cells.select("g", "__v", "__c")))
      .withColumn("__gt", F.col("__sfx") - F.col("__c"))
      .drop("__sfx")
    // U_ab summands c_a·(gt_b + c_b/2) are exact halves — order-free sum
    val j = cells
      .select(F.col("__v"), F.col("g").as("ga"), F.col("__c").as("ca"))
      .join(withGt.select(F.col("__v"), F.col("g").as("gb"),
        F.col("__gt").as("gtb"), F.col("__c").as("cb")), Seq("__v"))
      .filter(F.col("ga") < F.col("gb"))
      .agg(F.sum(F.col("ca").cast("double") *
        (F.col("gtb").cast("double") + F.col("cb").cast("double") / 2.0))
        .as("__j"))
    val tot = cells.groupBy("g").agg(F.sum("__c").as("__n"))
      .agg(F.sum("__n").as("n"),
        F.sum(F.col("__n") * F.col("__n")).as("__sn2"),
        F.sum(F.col("__n") * F.col("__n") *
          (F.lit(2L) * F.col("__n") + 3L)).as("__sn23"))
    val nD = F.col("n").cast("double")
    val mu = (nD * nD - F.col("__sn2").cast("double")) / 4.0
    val variance = (nD * nD * (F.lit(2.0) * nD + 3.0) -
      F.col("__sn23").cast("double")) / 72.0
    j.crossJoin(F.broadcast(tot))
      .select(F.col("n"), F.round(F.col("__j"), 6).as("j"),
        F.round(mu, 6).as("mu"),
        F.round((F.col("__j") - mu) /
          F.sqrt(F.nullif(variance, F.lit(0.0))), 6).as("z"))
  }

  /** Friedman test over k paired measurements per block — "do these k
    * scorers rank the same documents differently", the repeated-measures
    * sibling of [[kruskalWallis]]. Within-block midranks come from pure
    * comparisons of the k INTEGER item expressions (exact, x221 rule);
    * the tie-general statistic is
    * {{{
    *   χ² = n(k−1)·(B − C) / (A − C),
    *   A = Σᵢⱼ r²,  B = (Σⱼ Rⱼ²)/n,  C = nk(k+1)²/4
    * }}}
    * (reduces to the textbook 12/(nk(k+1))·ΣR² − 3n(k+1) when untied).
    *
    * Scale shape: midranks are per-ROW expressions (k² comparisons of k
    * columns, codegen'd); one map-side collapse of k+2 sums — the corpus
    * is scanned once, nothing shuffles but the sums.
    *
    * @return one row (n, k, chi2, df) — chi2 6-dp
    */
  def friedman(df: DataFrame, items: Seq[(String, Column)]): DataFrame = {
    require(items.size >= 2, s"need >= 2 items, got ${items.size}")
    val k = items.size
    val vals = df.select(items.map { case (n, c) =>
      c.cast("long").as(s"__x_$n") }: _*)
    // midrank of item j within its row: 1 + #{l: x_l < x_j} + ties/2
    val ranked = items.foldLeft(vals) { case (d, (nm, _)) =>
      val lt = items.filter(_._1 != nm).map { case (o, _) =>
        F.when(F.col(s"__x_$o") < F.col(s"__x_$nm"), 1L).otherwise(0L)
      }.reduce(_ + _)
      val eq = items.filter(_._1 != nm).map { case (o, _) =>
        F.when(F.col(s"__x_$o") === F.col(s"__x_$nm"), 1L).otherwise(0L)
      }.reduce(_ + _)
      d.withColumn(s"__r_$nm",
        F.lit(1.0) + lt.cast("double") + eq.cast("double") / 2.0)
    }
    val sums = ranked.agg(
      F.count(F.lit(1)).as("n"),
      items.map { case (nm, _) =>
        F.sum(F.col(s"__r_$nm")).as(s"__R_$nm") } :+
      F.sum(items.map { case (nm, _) =>
        F.col(s"__r_$nm") * F.col(s"__r_$nm") }.reduce(_ + _)).as("__a2"): _*)
    val nD = F.col("n").cast("double")
    val b2 = items.map { case (nm, _) =>
      F.col(s"__R_$nm") * F.col(s"__R_$nm") }.reduce(_ + _) / nD
    val cC = nD * k * (k + 1) * (k + 1) / 4.0
    sums.select(F.col("n"), F.lit(k).as("k"),
      F.round(nD * (k - 1) * (b2 - cC) /
        F.nullif(F.col("__a2") - cC, F.lit(0.0)), 6).as("chi2"),
      F.lit((k - 1).toLong).as("df"))
  }

  /** Fisher's exact test on a 2×2 — EXACT small-count inference where the
    * χ² approximation ([[cramersV]], [[gTest]]) breaks down (expected
    * cells < 5: rare-language × rare-source checks, contamination spot
    * tests). Tail p-values by k-RANGE (lower `k ≤ a`, upper `k ≥ a`) and
    * the double-one-tailed two-sided convention `min(1, 2·min(pl, pu))` —
    * range tails avoid the probability-equality tie rule that no two
    * engines replay identically. The hypergeometric sum runs DRIVER-SIDE
    * in EXACT BigInt rational arithmetic over the bounded support (the
    * [[bradleyTerry]] bounded-solve convention): no floating-point ladder
    * exists to disagree about.
    *
    * Scale shape: one distributed conditional collapse to four counts;
    * the exact solve touches ≤ min(r1, c1)+1 terms. Guarded at n ≤ 2×10⁶
    * LOUDLY — beyond that Fisher is the wrong tool (use [[gTest]] /
    * x204's odds ratio) and the binomials are needlessly huge.
    *
    * @return one row (a, b, c, d, n, p_lower, p_upper, p_two) — 6-dp
    */
  def fisherExact(df: DataFrame, exposedCol: Column,
                  outcomeCol: Column): DataFrame = {
    val row = df.agg(
      F.sum(F.when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("a"),
      F.sum(F.when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("b"),
      F.sum(F.when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("c"),
      F.sum(F.when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("d"))
      .head()
    val (a, b, c, d) = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3))
    val n = a + b + c + d
    require(n <= 2000000L,
      s"fisherExact: n=$n — an exact test on counts this large is the " +
        "wrong tool; use gTest / the x204 odds ratio")
    require(n > 0, "fisherExact: empty input")
    val (r1, r2, c1) = (a + b, c + d, a + c)
    val kMin = math.max(0L, c1 - r2)
    val kMax = math.min(r1, c1)
    def binom(nn: Long, kk: Long): BigInt = {
      val k2 = math.min(kk, nn - kk)
      (0L until k2).foldLeft(BigInt(1))((acc, i) =>
        acc * BigInt(nn - i) / BigInt(i + 1))
    }
    val terms = (kMin to kMax).map(k =>
      k -> binom(r1, k) * binom(r2, c1 - k))
    val den = BigDecimal(binom(n, c1))
    def tail(p: Long => Boolean): BigDecimal =
      BigDecimal(terms.filter(t => p(t._1)).map(_._2).sum) / den
    val pl = tail(_ <= a)
    val pu = tail(_ >= a)
    val p2 = (BigDecimal(2) * pl.min(pu)).min(BigDecimal(1))
    def r6(x: BigDecimal): Double =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    Seq((a, b, c, d, n, r6(pl), r6(pu), r6(p2)))
      .toDF("a", "b", "c", "d", "n", "p_lower", "p_upper", "p_two")
  }

  /** Benjamini-Yekutieli FDR adjustment — BH's guarantee under ARBITRARY
    * dependence (correlated token tests, overlapping slices) via the
    * harmonic penalty `c(m) = Σ 1/j`: step-up adjusted p-values
    * `p_adj(i) = min_{j≥i} min(1, m·c(m)/j · p_j)` (one suffix-min
    * window, the [[holmAdjust]] shape mirrored). p = exp(−χ²/2) (df=2,
    * as [[bhFdr]]).
    *
    * Scale shape: identical to bhFdr — vocabulary-bounded candidate
    * table, two bounded single-partition windows, 9-dp steps.
    *
    * @return (keys…, chi2, p, i, p_adj, rejected) ordered by i
    */
  def byFdr(df: DataFrame, keyCols: Seq[String], chi2Col: Column,
            alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val keyed = df.select((keyCols.map(F.col) :+
      F.round(chi2Col.cast("double"), 6).as("chi2")): _*)
      .withColumn("p", F.round(F.exp(-F.col("chi2") / 2.0), 9))
    val wAsc = Window.orderBy((F.col("p").asc +: keyCols.map(F.col(_).asc)): _*)
    val wSuf = Window.orderBy((F.col("p").desc +: keyCols.map(F.col(_).desc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = keyed
      .crossJoin(F.broadcast(keyed.agg(F.count(F.lit(1)).as("__m"))))
      .withColumn("i", F.row_number().over(wAsc))
    val cm = ranked.agg(F.round(F.sum(
      F.lit(1.0) / F.col("i").cast("double")), 9).as("__c"))
    ranked.crossJoin(F.broadcast(cm))
      .withColumn("__q", F.round(F.least(F.lit(1.0),
        F.col("__m").cast("double") * F.col("__c") /
          F.col("i").cast("double") * F.col("p")), 9))
      .withColumn("p_adj", F.min("__q").over(wSuf))
      .withColumn("rejected", F.col("p_adj") <= F.lit(alpha))
      .select((keyCols.map(F.col) :+ F.col("chi2") :+ F.col("p") :+
        F.col("i") :+ F.col("p_adj") :+ F.col("rejected")): _*)
      .orderBy("i")
  }

  /** Ordinal-by-ordinal association: Goodman-Kruskal gamma and Somers'
    * D from EXACT concordant/discordant pair counts — does the graded
    * quality label rise with the graded size band, with ties handled the
    * way ordinal data demands ([[spearman]]'s midranks blur tie
    * structure; these count it):
    * {{{
    *   γ = (C − D)/(C + D),  D_yx = (C − D)/(P − T_x),  P = n(n−1)/2
    * }}}
    * C/D/T come from the category-bounded cell grid in exact integers —
    * no pair of ROWS is ever formed.
    *
    * Scale shape: one map-side cell collapse; the grid self-join is
    * categories⁴ at worst (bounded); everything stays integer until the
    * final ratios.
    *
    * @return one row (n, c_pairs, d_pairs, gamma, somers_d_yx,
    *         somers_d_xy) — 6-dp
    */
  def ordinalAssociation(df: DataFrame, xCol: Column,
                         yCol: Column): DataFrame = {
    val cells = df
      .select(xCol.cast("long").as("__i"), yCol.cast("long").as("__j"))
      .filter(F.col("__i").isNotNull && F.col("__j").isNotNull)
      .groupBy("__i", "__j").agg(F.count(F.lit(1)).as("__o"))
    val c2 = cells.select(F.col("__i").as("__i2"), F.col("__j").as("__j2"),
      F.col("__o").as("__o2"))
    val cd = cells.crossJoin(c2)
      .filter(F.col("__i2") > F.col("__i"))
      .agg(
        F.sum(F.when(F.col("__j2") > F.col("__j"),
          F.col("__o") * F.col("__o2")).otherwise(0L)).as("c_pairs"),
        F.sum(F.when(F.col("__j2") < F.col("__j"),
          F.col("__o") * F.col("__o2")).otherwise(0L)).as("d_pairs"))
    val margins = cells.agg(
      F.sum("__o").as("n"),
      F.sum(F.col("__o") * (F.col("__o") - 1L)).as("__tb2"))
    val tx = cells.groupBy("__i").agg(F.sum("__o").as("__r"))
      .agg(F.sum(F.col("__r") * (F.col("__r") - 1L)).as("__tx2"))
    val ty = cells.groupBy("__j").agg(F.sum("__o").as("__c"))
      .agg(F.sum(F.col("__c") * (F.col("__c") - 1L)).as("__ty2"))
    val row = cd.crossJoin(F.broadcast(margins))
      .crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    val nD = F.col("n").cast("double")
    val p = nD * (nD - 1.0) / 2.0
    val cmd = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    row.select(F.col("n"), F.col("c_pairs"), F.col("d_pairs"),
      F.round(cmd / F.nullif(
        (F.col("c_pairs") + F.col("d_pairs")).cast("double"), F.lit(0.0)),
        6).as("gamma"),
      F.round(cmd / F.nullif(
        p - F.col("__tx2").cast("double") / 2.0, F.lit(0.0)), 6)
        .as("somers_d_yx"),
      F.round(cmd / F.nullif(
        p - F.col("__ty2").cast("double") / 2.0, F.lit(0.0)), 6)
        .as("somers_d_xy"))
  }

  /** Cochran-Armitage trend test — does a binary outcome's rate RISE
    * across ordered, scored groups (dose-response; the 2×k sibling of
    * [[jonckheereTerpstra]]):
    * {{{
    *   z = Σ s_j(a_j − n_j·p̄) / √( p̄(1−p̄)(Σ n_j s_j² − (Σ n_j s_j)²/N) )
    * }}}
    * All moments are exact integer sums over the group-bounded table.
    *
    * Scale shape: one conditional collapse to ≤ groups rows; 1-row
    * result.
    *
    * @return one row (groups, n, pos, z) — z 6-dp
    */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
                      outcomeCol: Column): DataFrame = {
    val byS = df
      .select(scoreCol.cast("long").as("__s"),
        F.when(outcomeCol, 1L).otherwise(0L).as("__y"))
      .filter(F.col("__s").isNotNull)
      .groupBy("__s")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__y").as("__a"))
    val agg = byS.agg(F.count(F.lit(1)).as("groups"),
      F.sum("__n").as("n"), F.sum("__a").as("pos"),
      F.sum(F.col("__s") * F.col("__a")).as("__t"),
      F.sum(F.col("__s") * F.col("__n")).as("__sn"),
      F.sum(F.col("__s") * F.col("__s") * F.col("__n")).as("__s2n"))
    val nD = F.col("n").cast("double")
    val pBar = F.col("pos").cast("double") / nD
    val num = F.col("__t").cast("double") -
      pBar * F.col("__sn").cast("double")
    val variance = pBar * (F.lit(1.0) - pBar) *
      (F.col("__s2n").cast("double") -
        F.col("__sn").cast("double") * F.col("__sn") / nD)
    agg.select(F.col("groups"), F.col("n"), F.col("pos"),
      F.round(num / F.sqrt(F.nullif(variance, F.lit(0.0))), 6).as("z"))
  }

  /** Page's L trend test — ordered-alternative repeated measures ("do
    * the k scorers rise in the hypothesized order WITHIN each document"),
    * the [[friedman]]-family sibling of [[jonckheereTerpstra]]. Item
    * order = the given `items` order; per-row midranks from pure integer
    * comparisons (x221 rule):
    * {{{
    *   L = Σ_j j·R_j,   E = n·k(k+1)²/4,
    *   Var = n·k²(k+1)²(k−1)/144   (untied form; ties noted)
    * }}}
    * Scale shape: the [[friedman]] one-pass collapse — midranks are
    * per-row codegen, k sums, 1-row result.
    *
    * @return one row (n, k, l, z) — l/z 6-dp
    */
  def pageL(df: DataFrame, items: Seq[(String, Column)]): DataFrame = {
    require(items.size >= 3, s"need >= 3 ordered items, got ${items.size}")
    val k = items.size
    val vals = df.select(items.map { case (n, c) =>
      c.cast("long").as(s"__x_$n") }: _*)
    val ranked = items.foldLeft(vals) { case (d, (nm, _)) =>
      val lt = items.filter(_._1 != nm).map { case (o, _) =>
        F.when(F.col(s"__x_$o") < F.col(s"__x_$nm"), 1L).otherwise(0L)
      }.reduce(_ + _)
      val eq = items.filter(_._1 != nm).map { case (o, _) =>
        F.when(F.col(s"__x_$o") === F.col(s"__x_$nm"), 1L).otherwise(0L)
      }.reduce(_ + _)
      d.withColumn(s"__r_$nm",
        F.lit(1.0) + lt.cast("double") + eq.cast("double") / 2.0)
    }
    val sums = ranked.agg(F.count(F.lit(1)).as("n"),
      items.zipWithIndex.map { case ((nm, _), idx) =>
        F.sum(F.col(s"__r_$nm")).as(s"__R_$idx") }: _*)
    val l = items.indices.map(idx =>
      F.lit((idx + 1).toDouble) * F.col(s"__R_$idx")).reduce(_ + _)
    val nD = F.col("n").cast("double")
    val e = nD * k * (k + 1) * (k + 1) / 4.0
    val variance = nD * k * k * (k + 1) * (k + 1) * (k - 1) / 144.0
    sums.select(F.col("n"), F.lit(k).as("k"),
      F.round(l, 6).as("l"),
      F.round((l - e) / F.sqrt(F.nullif(variance, F.lit(0.0))), 6).as("z"))
  }

  /** One-sample Kolmogorov-Smirnov goodness-of-fit of positive values
    * against the MLE exponential — "are these inter-event gaps memoryless
    * (Poisson traffic) or bursty/regimed": λ̂ = n/Σx, and the exact KS
    * distance evaluated at BOTH sides of every empirical step
    * {{{
    *   D = max_i max( |i/n − F(x_i)|, |(i−1)/n − F(x_i)| ),
    *   F(x) = 1 − e^{−λx}
    * }}}
    * (the two-sided step evaluation the naive |i/n − F| misses).
    *
    * Scale shape: values collapse to one row per DISTINCT value carrying
    * its count; the cumulative rank comes from one bounded value-domain
    * window (the [[mannWhitneyU]] discipline) and D is a 1-row max of
    * 9-dp terms.
    *
    * @return one row (n, lambda, d) — 6-dp
    */
  def expFitKs(df: DataFrame, valueCol: Column): DataFrame = {
    val v = df.select(valueCol.cast("double").as("__v"))
      .filter(F.col("__v") > 0.0)
    val byV = v.groupBy("__v").agg(F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__n"), F.sum(
      F.col("__v") * F.col("__t")).as("__sx"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = F.col("__n").cast("double")
    val lam = nD / F.col("__sx")
    val cum = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
      .withColumn("__f", F.lit(1.0) - F.exp(F.lit(0.0) - lam * F.col("__v")))
      .withColumn("__d", F.round(F.greatest(
        F.abs(F.col("__cum").cast("double") / nD - F.col("__f")),
        F.abs((F.col("__cum") - F.col("__t")).cast("double") / nD -
          F.col("__f"))), 9))
    cum.agg(F.max("__n").as("n"),
      F.round(F.max(lam), 6).as("lambda"),
      F.round(F.max("__d"), 6).as("d"))
  }

  /** Hill estimator of the power-law tail index over the top-k order
    * statistics — "how heavy is this distribution's tail" (α < 2: no
    * variance; α < 1: no mean — the document-length / purchase-size
    * planning readout a mean+sd summary hides):
    * {{{
    *   1/α̂ = (1/k) Σ_{i≤k} ln(x_(i) / x_(k+1))
    * }}}
    *
    * Scale shape: the top-(k+1) slice comes from TakeOrderedAndProject
    * (bounded per-partition heaps — no global sort); the log-ladder and
    * mean run on those k+1 rows only. Boundary ties are value-ties, so
    * the chosen multiset is deterministic.
    *
    * @return one row (k, x_kplus1, inv_alpha, alpha) — 6-dp
    */
  def hillTailIndex(df: DataFrame, valueCol: Column,
                    k: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val top = df.select(valueCol.cast("double").as("__v"))
      .filter(F.col("__v") > 0.0)
      .orderBy(F.col("__v").desc)
      .limit(k + 1)
    val w = Window.orderBy(F.col("__v").desc)
    val ranked = top.withColumn("__rk", F.row_number().over(w))
    val xk1 = ranked.filter(F.col("__rk") === k + 1)
      .select(F.col("__v").as("__xk1"))
    val invAlpha = ranked.filter(F.col("__rk") <= k)
      .crossJoin(F.broadcast(xk1))
      // 9-dp per-term logs before the unordered k-term mean
      .withColumn("__t", F.round(F.log(F.col("__v") / F.col("__xk1")), 9))
      .agg(F.max("__xk1").as("x_kplus1"),
        (F.sum("__t") / k.toDouble).as("__inv"))
    invAlpha.select(F.lit(k.toLong).as("k"), F.round(F.col("x_kplus1"), 6)
      .as("x_kplus1"),
      F.round(F.col("__inv"), 6).as("inv_alpha"),
      F.round(F.lit(1.0) / F.nullif(F.col("__inv"), F.lit(0.0)), 6)
        .as("alpha"))
  }

  /** Mood's median test — the maximally-robust k-group location test
    * (only above/below the GLOBAL median enters, so arbitrarily wild
    * tails cannot move it; lower power than [[kruskalWallis]], stronger
    * outlier immunity). The global median is carried DOUBLED from the
    * two middle order statistics (exact, the [[brownForsythe]] trick);
    * exact-median rows drop (standard); Pearson χ² over the dense 2×k
    * grid, df = k−1.
    *
    * Scale shape: one global median rank (value-quantized, one bounded
    * window over the full ordering — for a heavy corpus feed a rollup or
    * use kruskalWallis' distinct-value collapse), one conditional
    * group rollup, grid-bounded arithmetic.
    *
    * @return one row (k, n, chi2, df) — chi2 6-dp
    */
  def moodsMedianTest(df: DataFrame, groupCol: Column, valueCol: Column,
                      scale: Long = 100L): DataFrame = {
    val keyed = df.select(groupCol.cast("string").as("__g"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
    val wV = Window.orderBy(F.col("__k"))
    val m2 = keyed
      .withColumn("__rn", F.row_number().over(wV))
      .withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy(F.lit(1))))
      .filter(F.col("__rn") === F.floor((F.col("__n") + 1L) / 2L) ||
        F.col("__rn") === F.floor((F.col("__n") + 2L) / 2L))
      .agg((F.sum("__k") * (F.lit(3L) - F.count(F.lit(1)))).as("__m2"))
    val byG = keyed.crossJoin(F.broadcast(m2))
      .withColumn("__s", F.when(F.col("__k") * 2L > F.col("__m2"), 1)
        .when(F.col("__k") * 2L < F.col("__m2"), -1).otherwise(0))
      .filter(F.col("__s") =!= 0)
      .groupBy("__g")
      .agg(F.sum(F.when(F.col("__s") === 1, 1L).otherwise(0L)).as("__a"),
        F.sum(F.when(F.col("__s") === -1, 1L).otherwise(0L)).as("__b"))
    val tot = byG.agg(F.count(F.lit(1)).as("k"),
      F.sum(F.col("__a") + F.col("__b")).as("n"),
      F.sum("__a").as("__ta"), F.sum("__b").as("__tb"))
    val cells = byG.crossJoin(F.broadcast(tot))
      .withColumn("__ng", (F.col("__a") + F.col("__b")).cast("double"))
      .withColumn("__ea", F.col("__ta").cast("double") * F.col("__ng") /
        F.col("n"))
      .withColumn("__eb", F.col("__tb").cast("double") * F.col("__ng") /
        F.col("n"))
      .withColumn("__cell", F.round(
        (F.col("__a") - F.col("__ea")) * (F.col("__a") - F.col("__ea")) /
          F.col("__ea") +
        (F.col("__b") - F.col("__eb")) * (F.col("__b") - F.col("__eb")) /
          F.col("__eb"), 9))
    cells.agg(F.max("k").as("k"), F.max("n").as("n"),
      F.round(F.sum("__cell"), 6).as("chi2"),
      (F.max("k") - 1L).as("df"))
  }

  /** Kendall's coefficient of concordance W — "how unanimously do the k
    * scorers rank the corpus", the [0, 1]-normalized readout of the
    * [[friedman]] statistic (`W = χ²_F / (n(k−1))`; 1 = identical
    * rankings, 0 = no agreement). Same per-row integer midranks, same
    * tie-general form.
    *
    * Scale shape: identical to [[friedman]] — one map-side pass, 1 row.
    *
    * @return one row (n, k, chi2, w) — 6-dp
    */
  def kendallW(df: DataFrame, items: Seq[(String, Column)]): DataFrame = {
    val f = friedman(df, items)
    f.select(F.col("n"), F.col("k"), F.col("chi2"),
      F.round(F.col("chi2") /
        (F.col("n").cast("double") * (F.col("k") - 1L).cast("double")), 6)
        .as("w"))
  }

  /** Fleiss' kappa — chance-corrected agreement among a FIXED number m of
    * raters per item over nominal categories (the multi-rater
    * generalization of Scott's π; [[weightedKappa]] is the 2-rater ordinal
    * sibling). Input is LONG form (one row per rating); items whose
    * rating count ≠ m are dropped (the classical design requires equal
    * panels). With integer cell counts k_ij (item i, category j):
    * {{{
    *   P̄  = (Σ_ij k_ij² − N·m) / (N·m·(m−1))      observed agreement
    *   P̄e = Σ_j K_j² / (N·m)²                      chance agreement
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    * }}}
    * Every sufficient statistic is an exact integer (Σk², ΣK_j², N), so
    * both engines divide the same integers — no fp ladder anywhere.
    *
    * Scale shape: one (item, cat) rollup, one item rollup, one
    * cat-bounded rollup; only group-count rows cross the final shuffle.
    *
    * @return one row (n_items, m, k_cats, pa, pe, kappa) — 6-dp, kappa
    *         NULL when P̄e = 1 (all ratings one category)
    */
  def fleissKappa(df: DataFrame, itemCol: Column, catCol: Column,
                  m: Int): DataFrame = {
    val r = df.select(itemCol.cast("string").as("__it"),
      catCol.cast("long").as("__cat"))
    val ok = r.groupBy("__it").agg(F.count(F.lit(1)).as("__mm"))
      .filter(F.col("__mm") === m.toLong).select("__it")
    val c = r.join(ok, Seq("__it"), "left_semi")
      .groupBy("__it", "__cat").agg(F.count(F.lit(1)).as("__k"))
    val per = c.groupBy("__it")
      .agg(F.sum(F.col("__k") * F.col("__k")).as("__s2"))
    val agg = per.agg(F.count(F.lit(1)).as("n_items"),
      F.sum("__s2").as("__s2t"))
    val kj = c.groupBy("__cat").agg(F.sum("__k").as("__kk"))
      .agg(F.count(F.lit(1)).as("k_cats"),
        F.sum(F.col("__kk") * F.col("__kk")).as("__sk2"))
    val row = agg.crossJoin(F.broadcast(kj))
      .withColumn("__nm", F.col("n_items") * m.toLong)
      .withColumn("__pa",
        (F.col("__s2t") - F.col("__nm")).cast("double") /
          (F.col("__nm") * (m.toLong - 1L)).cast("double"))
      .withColumn("__pe", F.col("__sk2").cast("double") /
        (F.col("__nm") * F.col("__nm")).cast("double"))
    row.select(F.col("n_items"), F.lit(m.toLong).as("m"), F.col("k_cats"),
      F.round(F.col("__pa"), 6).as("pa"),
      F.round(F.col("__pe"), 6).as("pe"),
      F.round((F.col("__pa") - F.col("__pe")) /
        F.nullif(F.lit(1.0) - F.col("__pe"), F.lit(0.0)), 6).as("kappa"))
  }

  /** Krippendorff's alpha (nominal metric) — the agreement coefficient
    * that tolerates VARYING panel sizes and missing ratings, which is how
    * real annotation tables arrive (Fleiss' equal-m design rarely
    * survives contact with a labeling queue). Units with fewer than 2
    * ratings carry no pairable information and drop. With per-unit
    * counts n_uc, m_u = Σ_c n_uc, category totals n_c, n = Σ n_c:
    * {{{
    *   D_o = Σ_u (m_u² − Σ_c n_uc²) / (m_u − 1)    observed disagreement
    *   D_e = (n² − Σ_c n_c²) / (n − 1)             expected disagreement
    *   α   = 1 − D_o / D_e
    * }}}
    * (the coincidence-matrix form collapsed: the nominal δ makes every
    * off-diagonal pair count once). Per-unit terms are exact-integer
    * ratios rounded at 9 dp; D_e is one division of exact integers.
    *
    * Scale shape: one (unit, cat) rollup, one unit rollup, one
    * cat-bounded rollup — no windows, no all-pairs.
    *
    * @return one row (n_units, n_ratings, k_cats, d_o, d_e, alpha) —
    *         6-dp, alpha NULL when D_e = 0
    */
  def krippAlphaNominal(df: DataFrame, unitCol: Column,
                        catCol: Column): DataFrame = {
    // unit/category keys group in their NATIVE type: both columns only
    // ever key group-bys (no ordering, no output), and grouping is the
    // same row partition as grouping on the injective string image — on
    // x271's 6M lineitem rows the two long→string casts plus string
    // hashing were the dominant task cost (15.6 s → see r18 A/B).
    // FLOAT/DOUBLE keys are pinned to the string image (advisor r18):
    // native grouping normalizes -0.0 to 0.0 and collapses NaNs where
    // the string image keeps them distinct — the guard enforces what was
    // previously only a caller convention, at zero cost for the
    // integral/string keys every in-repo caller passes
    val raw = df.select(unitCol.as("__u"), catCol.as("__cat"))
    def keyed(c: String): Column = raw.schema(c).dataType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        F.col(c).cast("string").as(c)
      case _ => F.col(c)
    }
    val c = raw.select(keyed("__u"), keyed("__cat"))
      .groupBy("__u", "__cat").agg(F.count(F.lit(1)).as("__k"))
    val per = c.groupBy("__u").agg(F.sum("__k").as("__m"),
      F.sum(F.col("__k") * F.col("__k")).as("__s2"))
      .filter(F.col("__m") >= 2L)
    val doAgg = per.withColumn("__dou", F.round(
        (F.col("__m") * F.col("__m") - F.col("__s2")).cast("double") /
          (F.col("__m") - 1L).cast("double"), 9))
      .agg(F.count(F.lit(1)).as("n_units"), F.sum("__m").as("n_ratings"),
        F.sum("__dou").as("__do"))
    val nc = c.join(per.select("__u"), Seq("__u"), "left_semi")
      .groupBy("__cat").agg(F.sum("__k").as("__t"))
      .agg(F.count(F.lit(1)).as("k_cats"),
        F.sum(F.col("__t") * F.col("__t")).as("__sc2"))
    val row = doAgg.crossJoin(F.broadcast(nc))
      .withColumn("__de",
        (F.col("n_ratings") * F.col("n_ratings") - F.col("__sc2"))
          .cast("double") / (F.col("n_ratings") - 1L).cast("double"))
    row.select(F.col("n_units"), F.col("n_ratings"), F.col("k_cats"),
      F.round(F.col("__do"), 6).as("d_o"),
      F.round(F.col("__de"), 6).as("d_e"),
      F.round(F.lit(1.0) - F.col("__do") /
        F.nullif(F.col("__de"), F.lit(0.0)), 6).as("alpha"))
  }

  /** Scholz–Stephens k-sample Anderson–Darling statistic (the
    * TIE-ADJUSTED midrank form A²akN) — the distribution-comparison test
    * that weights the TAILS, where KS-style sup-statistics (x165) and
    * [[psi]]-style binned divergences are blind. Under H₀ the
    * expectation is k−1; large values mean the k samples do not share a
    * distribution. Values are quantized (×scale, the repo convention) so
    * every building block is an exact integer: with per-(sample, distinct
    * value) counts f_ij, multiplicities l_j, doubled midrank cumulatives
    * E_ij = 2c_ij − f_ij and D_j = 2C_j − l_j,
    * {{{
    *   term_ij = l_j (N·E_ij − D_j·n_i)² / (D_j(2N − D_j) − N·l_j)
    *   A²      = (N−1)/N · Σ_i (1/n_i) Σ_j term_ij
    * }}}
    * — the /4s of the textbook form cancel, so numerator and denominator
    * are integer-exact and each 9-dp term is bit-identical cross-engine.
    *
    * Scale shape: distinct-value collapse, a dense k×L grid (k groups ×
    * distinct values), one integer prefix-count window per group (hash-
    * partitioned by group; exact under any window tree) and one per-value
    * rollup — the same grouped rank-scan caveat as [[kruskalWallis]].
    *
    * @return one row (k, n, n_vals, a2) — a2 6-dp
    */
  def adKSample(df: DataFrame, groupCol: Column, valueCol: Column,
                scale: Long = 100L): DataFrame = {
    val keyed = df.select(groupCol.cast("string").as("__g"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__v"))
      .filter(F.col("__v").isNotNull)
    val f = keyed.groupBy("__g", "__v").agg(F.count(F.lit(1)).as("__f"))
    val gr = f.groupBy("__g").agg(F.sum("__f").as("__ni"))
    val vals = f.groupBy("__v").agg(F.sum("__f").as("__l"))
    val dense = gr.crossJoin(vals)
      .join(f, Seq("__g", "__v"), "left").na.fill(0L, Seq("__f"))
    // D_j needs C_j = Σ_i c_ij — but that is just the GLOBAL cumulative
    // of the multiplicities, Σ_{v'≤v} l(v'), so it comes from the L-row
    // distinct-value table instead of the r17-shape whole-partition
    // window over the k×L grid (150k window partitions × k rows each at
    // sf0.1 — 13.0 s of the op's task_ms was that window; the L-row
    // cumulative + one value-keyed join replaces it, and AQE
    // broadcast-flips the join when L is small). Exact longs either way.
    // Both remaining running sums — the global one over the L-row value
    // table and the per-group one over the k×L grid — run as segmented
    // two-level scans (r19): the flat windows capped parallelism at 1
    // and k respectively, a one-task whole-domain sort once L ~ N.
    val valBounds = vals.agg(
      F.min(F.col("__v").cast("double")).as("__sc_lo"),
      F.max(F.col("__v").cast("double")).as("__sc_hi"))
    val cumL = segmentedCumSum(vals, Nil, "__v", "__l", "__scv",
        bounds = Some(valBounds))
      .select(F.col("__v"), F.col("__scv"))
    val cum = segmentedCumSum(dense, Seq("__g"), "__v", "__f", "__c",
        bounds = Some(valBounds),
        // sparse cells carry the same block sums as the 0-filled grid —
        // the cross-join densification is derived once, not twice
        sumSource = Some(f.select("__g", "__v", "__f")))
      .withColumn("__e", F.col("__c") * 2L - F.col("__f"))
      .join(cumL, Seq("__v"))
      .withColumn("__dd", F.col("__scv") * 2L - F.col("__l"))
    val tot = gr.agg(F.sum("__ni").as("n"), F.count(F.lit(1)).as("k"))
    val nVals = vals.agg(F.count(F.lit(1)).as("n_vals"))
    val terms = cum.crossJoin(F.broadcast(tot))
      .withColumn("__x", (F.col("n") * F.col("__e") -
        F.col("__dd") * F.col("__ni")).cast("double"))
      .withColumn("__den", (F.col("__dd") *
        (F.col("n") * 2L - F.col("__dd")) -
        F.col("n") * F.col("__l")).cast("double"))
      .withColumn("__t", F.round(F.col("__l").cast("double") *
        F.col("__x") * F.col("__x") /
        F.nullif(F.col("__den"), F.lit(0.0)), 9))
    val perG = terms.groupBy("__g")
      .agg(F.max("__ni").as("__ni"), F.sum("__t").as("__sg"))
    perG.agg(F.sum(F.col("__sg") / F.col("__ni").cast("double")).as("__s"))
      .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nVals))
      .select(F.col("k"), F.col("n"), F.col("n_vals"),
        F.round(F.col("__s") * (F.col("n") - 1L).cast("double") /
          F.col("n").cast("double"), 6).as("a2"))
  }

  /** Two one-sided tests (TOST) equivalence — the inference [[welchTTest]]
    * cannot make: a non-significant t does NOT show two groups are the
    * same, it only fails to show they differ. TOST inverts the burden:
    * declare the groups equivalent within ±`margin` iff BOTH one-sided
    * tests reject, i.e.
    * {{{
    *   z_low  = (Δ̄ + margin) / se  >  z₀.₉₅
    *   z_high = (Δ̄ − margin) / se  < −z₀.₉₅
    * }}}
    * (α = 0.05 per side, the standard 90%-CI-inside-the-margin reading;
    * large-sample normal critical value 1.644854). Identical welch-style
    * sufficient statistics and variance tree.
    *
    * Scale shape: one partial-aggregated scan, group-count rows out.
    *
    * @return (groupCols…, n_a, n_b, diff, se, z_low, z_high, equivalent)
    *         — 6-dp, decision from the unrounded tree
    */
  def tostEquivalence(df: DataFrame, groupCols: Seq[String],
                      classCol: Column, value: Column, classA: String,
                      classB: String, margin: Double): DataFrame = {
    require(margin > 0.0, s"equivalence margin must be positive: $margin")
    val v = value.cast("double")
    def side(cls: String, tag: String): Seq[Column] = {
      val in = classCol.cast("string") === cls
      Seq(
        F.count(F.when(in, v)).cast("double").as(s"__n$tag"),
        F.sum(F.when(in, v)).as(s"__s$tag"),
        F.sum(F.when(in, v * v)).as(s"__ss$tag"))
    }
    val aggs = side(classA, "a") ++ side(classB, "b")
    val agg = df.groupBy(groupCols.map(F.col): _*)
      .agg(aggs.head, aggs.tail: _*)
    def mean(t: String) =
      F.col(s"__s$t") / F.nullif(F.col(s"__n$t"), F.lit(0.0))
    def vn(t: String) =
      (F.col(s"__ss$t") - F.col(s"__s$t") * F.col(s"__s$t") /
        F.nullif(F.col(s"__n$t"), F.lit(0.0))) /
        F.nullif((F.col(s"__n$t") - 1.0) * F.col(s"__n$t"), F.lit(0.0))
    val ok = F.col("__na") >= 2.0 && F.col("__nb") >= 2.0
    val se2 = vn("a") + vn("b")
    val se = F.sqrt(se2)
    val diff = mean("a") - mean("b")
    val crit = 1.644854
    agg.select(groupCols.map(F.col) :+
      F.col("__na").cast("long").as("n_a") :+
      F.col("__nb").cast("long").as("n_b") :+
      F.when(ok, F.round(diff, 6)).as("diff") :+
      F.when(ok && se2 > 0.0, F.round(se, 6)).as("se") :+
      F.when(ok && se2 > 0.0,
        F.round((diff + margin) / se, 6)).as("z_low") :+
      F.when(ok && se2 > 0.0,
        F.round((diff - margin) / se, 6)).as("z_high") :+
      (ok && se2 > 0.0 && (diff + margin) / se > crit &&
        (diff - margin) / se < -crit).as("equivalent"): _*)
  }

  /** Fixed-effect inverse-variance meta-analysis with Cochran's Q and
    * Higgins' I² — pool one effect (a welch mean difference) measured in
    * k independent strata into a single estimate, and quantify how much
    * of the between-stratum spread is real heterogeneity rather than
    * sampling noise. With per-stratum effect e_i and weight w_i = 1/se²_i:
    * {{{
    *   ê  = Σw·e / Σw,   se(ê) = 1/√Σw
    *   Q  = Σw·e² − (Σw·e)²/Σw      (χ²_{k−1} under homogeneity)
    *   I² = max(0, (Q − (k−1)) / Q)
    * }}}
    * The one-formula Q avoids a second corpus pass — everything reduces
    * in the SAME stratum rollup (the welch sufficient statistics), and
    * the k-row weight table collapses to one row.
    *
    * Scale shape: one partial-aggregated scan, k rows, then 1 row —
    * strata with n < 2 on either side or zero variance drop (NULL w).
    *
    * @return one row (k, pooled, se_pooled, z, q, i2) — 6-dp, i2 NULL at
    *         Q ≤ 0 or k < 2 (heterogeneity is undefined for one stratum,
    *         and at k = 1 the fp sign of the ~0 Q is engine noise)
    */
  def metaFixedEffect(df: DataFrame, strataCol: Column, classCol: Column,
                      value: Column, classA: String,
                      classB: String): DataFrame = {
    val v = value.cast("double")
    def side(cls: String, tag: String): Seq[Column] = {
      val in = classCol.cast("string") === cls
      Seq(
        F.count(F.when(in, v)).cast("double").as(s"__n$tag"),
        F.sum(F.when(in, v)).as(s"__s$tag"),
        F.sum(F.when(in, v * v)).as(s"__ss$tag"))
    }
    val aggs = side(classA, "a") ++ side(classB, "b")
    val agg = df.groupBy(strataCol.as("__st")).agg(aggs.head, aggs.tail: _*)
    def mean(t: String) =
      F.col(s"__s$t") / F.nullif(F.col(s"__n$t"), F.lit(0.0))
    def vn(t: String) =
      (F.col(s"__ss$t") - F.col(s"__s$t") * F.col(s"__s$t") /
        F.nullif(F.col(s"__n$t"), F.lit(0.0))) /
        F.nullif((F.col(s"__n$t") - 1.0) * F.col(s"__n$t"), F.lit(0.0))
    val ok = F.col("__na") >= 2.0 && F.col("__nb") >= 2.0
    val se2 = vn("a") + vn("b")
    val per = agg
      .withColumn("__e", F.when(ok, mean("a") - mean("b")))
      .withColumn("__w", F.when(ok && se2 > 0.0, F.lit(1.0) / se2))
      .filter(F.col("__w").isNotNull)
    val one = per.agg(F.count(F.lit(1)).as("k"),
      F.sum("__w").as("__sw"),
      F.sum(F.col("__w") * F.col("__e")).as("__swe"),
      F.sum(F.col("__w") * F.col("__e") * F.col("__e")).as("__swe2"))
    val q = F.col("__swe2") -
      F.col("__swe") * F.col("__swe") / F.col("__sw")
    one.select(F.col("k"),
      F.round(F.col("__swe") / F.col("__sw"), 6).as("pooled"),
      F.round(F.lit(1.0) / F.sqrt(F.col("__sw")), 6).as("se_pooled"),
      F.round(F.col("__swe") / F.col("__sw") * F.sqrt(F.col("__sw")), 6)
        .as("z"),
      F.round(q, 6).as("q"),
      F.round(F.when(F.col("k") >= 2L && q > 0.0, F.greatest(F.lit(0.0),
        (q - (F.col("k") - 1L).cast("double")) / q)), 6).as("i2"))
  }

  /** ICC(2,1) — two-way random single-rater intraclass correlation
    * (Shrout–Fleiss): the CONTINUOUS-score agreement coefficient for a
    * complete n-item × k-rater grid, treating raters as a random sample
    * (their systematic offsets COUNT against agreement — the absolute-
    * agreement convention; x245's ICC(1) ignores rater identity
    * entirely). Classical two-way decomposition from integer-quantized
    * sufficient statistics (T, Σx², ΣR_i², ΣC_j² — all exact longs):
    * {{{
    *   MSR = (ΣR_i²/k − T²/N)/(n−1)   MSC = (ΣC_j²/n − T²/N)/(k−1)
    *   MSE = (SS_tot − SS_rows − SS_cols)/((n−1)(k−1))
    *   ICC(2,1) = (MSR − MSE) /
    *              (MSR + (k−1)·MSE + k·(MSC − MSE)/n)
    * }}}
    * Items without exactly k ratings drop (the design is a complete
    * grid).
    *
    * Scale shape: one corpus scan into three bounded rollups (items,
    * raters, grand); the mean squares are scalar arithmetic.
    *
    * @return one row (n_items, k, msr, msc, mse, icc2) — 6-dp, icc2
    *         NULL when the denominator is 0
    */
  def icc2(df: DataFrame, itemCol: Column, raterCol: Column,
           valueCol: Column, k: Int, scale: Long = 1L): DataFrame = {
    require(k >= 2, s"need at least 2 raters, got $k")
    val cells = df.select(itemCol.cast("string").as("__it"),
      raterCol.cast("string").as("__ra"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__x"))
    val ok = cells.groupBy("__it").agg(F.count(F.lit(1)).as("__c"))
      .filter(F.col("__c") === k.toLong).select("__it")
    val g = cells.join(ok, Seq("__it"), "left_semi")
    val rows = g.groupBy("__it").agg(F.sum("__x").as("__ri"))
      .agg(F.count(F.lit(1)).as("n_items"),
        F.sum(F.col("__ri") * F.col("__ri")).as("__sr"))
    val cols = g.groupBy("__ra").agg(F.sum("__x").as("__cj"))
      .agg(F.sum(F.col("__cj") * F.col("__cj")).as("__sc"))
    val grand = g.agg(F.sum("__x").as("__t"),
      F.sum(F.col("__x") * F.col("__x")).as("__s2"))
    val one = rows.crossJoin(F.broadcast(cols))
      .crossJoin(F.broadcast(grand))
      .withColumn("__nn", F.col("n_items") * k.toLong)
      .withColumn("__cf",
        (F.col("__t") * F.col("__t")).cast("double") /
          F.col("__nn").cast("double"))
      .withColumn("__ssr", F.col("__sr").cast("double") / k.toDouble -
        F.col("__cf"))
      .withColumn("__ssc", F.col("__sc").cast("double") /
        F.col("n_items").cast("double") - F.col("__cf"))
      .withColumn("__sst", F.col("__s2").cast("double") - F.col("__cf"))
      .withColumn("__msr", F.col("__ssr") /
        (F.col("n_items") - 1L).cast("double"))
      .withColumn("__msc", F.col("__ssc") / (k.toDouble - 1.0))
      .withColumn("__mse",
        (F.col("__sst") - F.col("__ssr") - F.col("__ssc")) /
          ((F.col("n_items") - 1L) * (k.toLong - 1L)).cast("double"))
    val den = F.col("__msr") + F.col("__mse") * (k.toDouble - 1.0) +
      (F.col("__msc") - F.col("__mse")) * k.toDouble /
        F.col("n_items").cast("double")
    one.select(F.col("n_items"), F.lit(k.toLong).as("k"),
      F.round(F.col("__msr"), 6).as("msr"),
      F.round(F.col("__msc"), 6).as("msc"),
      F.round(F.col("__mse"), 6).as("mse"),
      F.round((F.col("__msr") - F.col("__mse")) /
        F.nullif(den, F.lit(0.0)), 6).as("icc2"))
  }

  /** Lin's concordance correlation coefficient — how well paired
    * measurements (x, y) of the same quantity agree with the 45° line
    * y = x, not merely with SOME line (Pearson's blind spot: r = 1 for
    * y = 2x + 7). Biased (÷n, Lin's original) moments:
    * {{{
    *   ρc = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²) = r · C_b
    * }}}
    * emitted with the decomposition — r (precision: scatter around the
    * best line) and C_b (accuracy: how far that line sits from y = x).
    * Quantize x and y to integers upstream (lengths, counts, cents) so
    * the six sufficient statistics are exact longs.
    *
    * Scale shape: one map-side pass, 1 row.
    *
    * @return one row (n, mean_x, mean_y, r, c_b, ccc) — 6-dp
    */
  def linsCcc(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val p = df.select(xCol.cast("long").as("__x"),
      yCol.cast("long").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    val one = p.agg(F.count(F.lit(1)).as("n"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__x") * F.col("__y")).as("__sxy"))
    val nD = F.col("n").cast("double")
    val mx = F.col("__sx").cast("double") / nD
    val my = F.col("__sy").cast("double") / nD
    val vx = F.col("__sxx").cast("double") / nD - mx * mx
    val vy = F.col("__syy").cast("double") / nD - my * my
    val cxy = F.col("__sxy").cast("double") / nD - mx * my
    val cb = F.lit(2.0) * F.sqrt(vx) * F.sqrt(vy) /
      F.nullif(vx + vy + (mx - my) * (mx - my), F.lit(0.0))
    one.select(F.col("n"),
      F.round(mx, 6).as("mean_x"), F.round(my, 6).as("mean_y"),
      F.round(cxy / F.nullif(F.sqrt(vx) * F.sqrt(vy), F.lit(0.0)), 6)
        .as("r"),
      F.round(cb, 6).as("c_b"),
      F.round(F.lit(2.0) * cxy /
        F.nullif(vx + vy + (mx - my) * (mx - my), F.lit(0.0)), 6)
        .as("ccc"))
  }

  /** Ljung–Box portmanteau test — is a series white noise ACROSS the
    * first h autocorrelation lags jointly, where [[durbinWatson]] sees
    * only lag 1 and an ACF plot invites cherry-picking:
    * {{{
    *   ρ_k = Σ_t (x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
    *   LB  = n(n+2) · Σ_{k=1..h} ρ_k² / n_k       (χ²_h under H₀)
    * }}}
    * Integer-valued series in, so every sufficient statistic (Σx, Σx²,
    * per-lag Σx_t·x_{t+k} and the two one-sided sums) is an exact long;
    * ρ_k is scalar arithmetic. Pairs align on EXACT t+k — a gapped
    * series yields the available-pair ACF with n_k the realized pair
    * count (= n−k when contiguous, the textbook statistic).
    *
    * Scale shape: one bounded lag-explode self-join of the (already
    * aggregated, domain-bounded) series; h one-row terms.
    *
    * @return one row (n, h, lb, df) — lb 6-dp
    */
  def ljungBox(series: DataFrame, tCol: Column, valueCol: Column,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"maxLag must be in [1,64], got $maxLag")
    val s = series.select(tCol.cast("long").as("__t"),
      valueCol.cast("long").as("__x"))
      .filter(F.col("__t").isNotNull && F.col("__x").isNotNull)
    val one = s.agg(F.count(F.lit(1)).as("n"), F.sum("__x").as("__tt"),
      F.sum(F.col("__x") * F.col("__x")).as("__s2"))
    val lagged = s
      .select(F.col("__t"), F.col("__x").as("__xa"),
        F.explode(F.lit((1 to maxLag).toArray)).as("__k"))
      .select(F.col("__k"), (F.col("__t") + F.col("__k")).as("__t2"),
        F.col("__xa"))
      .join(s.select(F.col("__t").as("__t2"), F.col("__x").as("__xb")),
        Seq("__t2"))
    val perLag = lagged.groupBy("__k")
      .agg(F.count(F.lit(1)).as("__cnt"),
        F.sum(F.col("__xa") * F.col("__xb")).as("__pa"),
        F.sum("__xa").as("__ba"), F.sum("__xb").as("__bb"))
    val j = perLag.crossJoin(F.broadcast(one))
    val nD = F.col("n").cast("double")
    val xbar = F.col("__tt").cast("double") / nD
    val den = F.col("__s2").cast("double") -
      F.col("__tt").cast("double") * xbar
    val rho = (F.col("__pa").cast("double") - xbar *
      (F.col("__ba") + F.col("__bb")).cast("double") +
      F.col("__cnt").cast("double") * xbar * xbar) / den
    val terms = j.select(F.col("n"),
      F.round(rho * rho / F.col("__cnt").cast("double"), 9).as("__tm"))
    terms.groupBy("n").agg(F.sum("__tm").as("__s"))
      .select(F.col("n"), F.lit(maxLag.toLong).as("h"),
        F.round(F.col("n").cast("double") *
          (F.col("n") + 2L).cast("double") * F.col("__s"), 6).as("lb"),
        F.lit(maxLag.toLong).as("df"))
  }

  /** DeLong confidence interval for the AUC — the nonparametric variance
    * of [[aucExact]]'s point estimate, from the structural components
    * (V10 per positive = the fraction of negatives it outranks, ties ½;
    * V01 per negative, symmetric):
    * {{{
    *   Var(AUC) = S10/m + S01/n,   Sxy = sample variance of the V's
    *   CI       = AUC ± 1.959964·se
    * }}}
    * Everything reduces over the DISTINCT-score table: with doubled
    * counts A_v = 2·(negs below) + negs at, B_v = 2·(pos above) + pos
    * at, all four sufficient statistics (Σp·A, Σp·A², Σg·B, Σg·B²) are
    * exact longs and the variances are scalar arithmetic — no per-row
    * V's ever materialize.
    *
    * Scale shape: distinct-score collapse, one ordered integer
    * prefix-count window over the (quantized, domain-bounded) score
    * ladder — the [[aucExact]] midrank caveat — then one row.
    *
    * @return one row (n_pos, n_neg, auc, se, lo, hi) — 6-dp; se/lo/hi
    *         NULL unless both classes have ≥ 2 members
    */
  def delongAucCi(df: DataFrame, scoreCol: Column, labelCol: Column,
                  scale: Double = 1e6): DataFrame = {
    val v = df.select(
      F.round(scoreCol.cast("double") * scale).cast("long").as("__k"),
      F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .filter(F.col("__k").isNotNull)
    val byv = v.groupBy("__k").agg(F.sum("__y").as("__p"),
      (F.count(F.lit(1)) - F.sum("__y")).as("__g"))
    val w = Window.orderBy("__k")
    val cum = byv
      .withColumn("__cn", F.sum("__g").over(w))
      .withColumn("__cp", F.sum("__p").over(w))
    val tot = byv.agg(F.sum("__p").as("m"), F.sum("__g").as("nn"))
    val terms = cum.crossJoin(F.broadcast(tot))
      .withColumn("__a", F.col("__cn") * 2L - F.col("__g"))
      .withColumn("__b",
        (F.col("m") - F.col("__cp")) * 2L + F.col("__p"))
    val s = terms.agg(F.max("m").as("m"), F.max("nn").as("nn"),
      F.sum(F.col("__p") * F.col("__a")).as("__s1"),
      F.sum(F.col("__p") * F.col("__a") * F.col("__a")).as("__q1"),
      F.sum(F.col("__g") * F.col("__b")).as("__s2"),
      F.sum(F.col("__g") * F.col("__b") * F.col("__b")).as("__q2"))
    val mD = F.col("m").cast("double")
    val nD = F.col("nn").cast("double")
    val auc = F.col("__s1").cast("double") /
      (F.lit(2L) * F.col("nn") * F.col("m")).cast("double")
    val s10 = (F.col("__q1").cast("double") -
      F.col("__s1").cast("double") * F.col("__s1").cast("double") / mD) /
      (F.lit(4L) * F.col("nn") * F.col("nn") * (F.col("m") - 1L))
        .cast("double")
    val s01 = (F.col("__q2").cast("double") -
      F.col("__s2").cast("double") * F.col("__s2").cast("double") / nD) /
      (F.lit(4L) * F.col("m") * F.col("m") * (F.col("nn") - 1L))
        .cast("double")
    val ok = F.col("m") >= 2L && F.col("nn") >= 2L
    val se = F.sqrt(s10 / mD + s01 / nD)
    s.select(F.col("m").as("n_pos"), F.col("nn").as("n_neg"),
      F.round(auc, 6).as("auc"),
      F.when(ok, F.round(se, 6)).as("se"),
      F.when(ok, F.round(auc - F.lit(1.959964) * se, 6)).as("lo"),
      F.when(ok, F.round(auc + F.lit(1.959964) * se, 6)).as("hi"))
  }

  /** Multi-class precision / recall / F1 census — the bread-and-butter
    * classifier report ([[mcc]] is the single-number binary summary,
    * [[aucExact]] the threshold-free one; this is the per-class table):
    * per class from the confusion cells, with the integer-stable F1 form
    * {{{
    *   F1_c = 2·tp / (2·tp + fp + fn)
    * }}}
    * plus macro-F1 (classes in the label∪prediction set, absent classes
    * scored 0 — the zero_division=0 convention) and accuracy (= micro-F1
    * for single-label data), replicated onto every row.
    *
    * Scale shape: one (actual, predicted) cell collapse — class-domain
    * bounded — then class-count-sized joins; one broadcast summary row.
    *
    * @return (cls, n_actual, tp, fp, fn, precision, recall, f1,
    *         macro_f1, accuracy) ordered by cls — 6-dp; precision NULL
    *         when the class is never predicted, recall NULL when absent
    */
  def prfCensus(df: DataFrame, actualCol: Column,
                predCol: Column): DataFrame = {
    val cells = df.select(actualCol.cast("string").as("__a"),
      predCol.cast("string").as("__pd"))
      .groupBy("__a", "__pd").agg(F.count(F.lit(1)).as("__c"))
    val act = cells.groupBy("__a").agg(F.sum("__c").as("__na"))
      .withColumnRenamed("__a", "cls")
    val prd = cells.groupBy("__pd").agg(F.sum("__c").as("__np"))
      .withColumnRenamed("__pd", "cls")
    val tp = cells.filter(F.col("__a") === F.col("__pd"))
      .select(F.col("__a").as("cls"), F.col("__c").as("__tp"))
    val classes = act.select("cls").unionAll(prd.select("cls")).distinct()
    val per = classes
      .join(act, Seq("cls"), "left")
      .join(prd, Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("__na", "__np", "__tp"))
      .withColumn("fp", F.col("__np") - F.col("__tp"))
      .withColumn("fn", F.col("__na") - F.col("__tp"))
      .withColumn("__f1r", F.lit(2.0) * F.col("__tp") /
        F.nullif((F.col("__tp") * 2L + F.col("fp") + F.col("fn"))
          .cast("double"), F.lit(0.0)))
    val summary = per.agg(
      F.round(F.avg(F.coalesce(F.col("__f1r"), F.lit(0.0))), 6)
        .as("macro_f1"),
      F.round(F.sum("__tp").cast("double") /
        F.sum("__na").cast("double"), 6).as("accuracy"))
    per.crossJoin(F.broadcast(summary))
      .select(F.col("cls"), F.col("__na").as("n_actual"),
        F.col("__tp").as("tp"), F.col("fp"), F.col("fn"),
        F.round(F.col("__tp").cast("double") /
          F.nullif(F.col("__np").cast("double"), F.lit(0.0)), 6)
          .as("precision"),
        F.round(F.col("__tp").cast("double") /
          F.nullif(F.col("__na").cast("double"), F.lit(0.0)), 6)
          .as("recall"),
        F.round(F.col("__f1r"), 6).as("f1"),
        F.col("macro_f1"), F.col("accuracy"))
      .orderBy("cls")
  }

  /** Mann–Kendall trend test — the SIGNIFICANCE sibling of [[theilSen]]
    * (that op estimates the slope; this one says whether a monotone
    * trend exists at all), on the same bounded pair grid:
    * {{{
    *   S     = Σ_{i<j} sgn(v_j − v_i)
    *   VarS  = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18    (tie-corrected)
    *   z     = (S ∓ 1) / √VarS                            (continuity)
    * }}}
    * Values quantize (×scale) so S and both variance terms are exact
    * longs; z is one division.
    *
    * Scale shape: the [[theilSen]] pair join — quadratic in the SERIES
    * length, which is a domain-bounded rollup (days, hours), never the
    * corpus — plus a value-tie census.
    *
    * @return one row (n, s, var_s, z) — 6-dp, z NULL when VarS = 0
    */
  def mannKendall(series: DataFrame, tCol: Column, valueCol: Column,
                  scale: Long = 1L): DataFrame = {
    val s = series.select(tCol.cast("long").as("__t"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__v"))
      .filter(F.col("__t").isNotNull && F.col("__v").isNotNull)
    val a = s.select(F.col("__t").as("__ta"), F.col("__v").as("__va"))
    val b = s.select(F.col("__t").as("__tb"), F.col("__v").as("__vb"))
    val sAgg = a.join(b, F.col("__tb") > F.col("__ta"))
      .agg(F.sum(F.when(F.col("__vb") > F.col("__va"), 1L)
        .when(F.col("__vb") < F.col("__va"), -1L).otherwise(0L)).as("s"))
    val ties = s.groupBy("__v").agg(F.count(F.lit(1)).as("__tc"))
      .agg(F.sum(F.col("__tc") * (F.col("__tc") - 1L) *
        (F.col("__tc") * 2L + 5L)).as("__tt"))
    val n = s.agg(F.count(F.lit(1)).as("n"))
    val row = n.crossJoin(F.broadcast(sAgg)).crossJoin(F.broadcast(ties))
      .withColumn("__vs",
        ((F.col("n") * (F.col("n") - 1L) * (F.col("n") * 2L + 5L)) -
          F.col("__tt")).cast("double") / 18.0)
    row.select(F.col("n"), F.col("s"),
      F.round(F.col("__vs"), 6).as("var_s"),
      F.round(F.when(F.col("s") > 0L,
          (F.col("s") - 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .when(F.col("s") < 0L,
          (F.col("s") + 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .otherwise(F.lit(0.0)), 6).as("z"))
  }

  /** Chow test — did the regression y ~ t CHANGE at a known break point
    * (deploy date, policy change, pipeline cutover): fit the pooled line
    * and the two segment lines, then
    * {{{
    *   F = ((SSR_p − SSR₁ − SSR₂) / 2) / ((SSR₁ + SSR₂) / (n − 4))
    * }}}
    * (2 params per line; F ~ F(2, n−4) under no break). Each SSR comes
    * from the same centered sufficient statistics as [[olsFit]]
    * (SSR = S_yy − S_xy²/S_xx), computed per segment in ONE grouped
    * pass; the pooled sums are the segment sums added — the corpus is
    * scanned once.
    *
    * @return one row (n, n1, n2, ssr_pooled, ssr_split, f) — 6-dp; f
    *         NULL when a segment has < 3 points or zero x-variance
    */
  def chowTest(series: DataFrame, tCol: Column, valueCol: Column,
               breakAt: Long): DataFrame = {
    val s = series.select(tCol.cast("long").as("__t"),
      valueCol.cast("double").as("__y"))
      .filter(F.col("__t").isNotNull && F.col("__y").isNotNull)
    val g = s.groupBy((F.col("__t") < breakAt).as("__pre"))
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__t").as("__sx"),
        F.sum("__y").as("__sy"),
        F.sum(F.col("__t") * F.col("__t")).as("__sxx"),
        F.sum(F.col("__t").cast("double") * F.col("__y")).as("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).as("__syy"))
    def ssr(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
            syy: Column): Column = {
      val nD = n.cast("double")
      val cxx = sxx.cast("double") - sx.cast("double") *
        (sx.cast("double") / nD)
      val cxy = sxy - sx.cast("double") * (sy / nD)
      val cyy = syy - sy * (sy / nD)
      F.when(n >= 3L && cxx > 0.0, cyy - cxy * cxy / cxx)
    }
    val one = g.agg(
      F.sum(F.when(F.col("__pre"), F.col("__n"))).as("__n1"),
      F.sum(F.when(!F.col("__pre"), F.col("__n"))).as("__n2"),
      F.sum("__n").as("n"), F.sum("__sx").as("__tsx"),
      F.sum("__sy").as("__tsy"), F.sum("__sxx").as("__tsxx"),
      F.sum("__sxy").as("__tsxy"), F.sum("__syy").as("__tsyy"),
      F.sum(F.round(ssr(F.col("__n"), F.col("__sx"), F.col("__sy"),
        F.col("__sxx"), F.col("__sxy"), F.col("__syy")), 9)).as("__ssrs"),
      F.count(F.when(ssr(F.col("__n"), F.col("__sx"), F.col("__sy"),
        F.col("__sxx"), F.col("__sxy"), F.col("__syy")).isNotNull,
        F.lit(1))).as("__okseg"))
    val sp = ssr(F.col("n"), F.col("__tsx"), F.col("__tsy"),
      F.col("__tsxx"), F.col("__tsxy"), F.col("__tsyy"))
    val ok = F.col("__okseg") === 2L && F.col("n") >= 5L
    val num = (sp - F.col("__ssrs")) / 2.0
    val den = F.col("__ssrs") / (F.col("n") - 4L).cast("double")
    one.select(F.col("n"), F.coalesce(F.col("__n1"), F.lit(0L)).as("n1"),
      F.coalesce(F.col("__n2"), F.lit(0L)).as("n2"),
      F.round(sp, 6).as("ssr_pooled"),
      F.round(F.col("__ssrs"), 6).as("ssr_split"),
      F.when(ok, F.round(num / F.nullif(den, F.lit(0.0)), 6)).as("f"))
  }

  /** Hosmer–Lemeshow goodness-of-fit — the INFERENCE readout on the
    * [[calibrationBins]] reliability table ("is the miscalibration more
    * than sampling noise", where ECE just reports its size): over g
    * equal-width score bins with observed positives O, expected
    * E = Σ p̂ and size n_b,
    * {{{
    *   HL = Σ_b (O − E)² · n_b / (E · (n_b − E))     (χ²_{g−2} under fit)
    * }}}
    * Bins with E = 0 or E = n_b carry no information and drop (df
    * follows the bins actually used).
    *
    * Scale shape: one bin collapse (≤ nBins rows), scalar terms.
    *
    * @return one row (g_used, n, hl, df) — hl 6-dp
    */
  def hosmerLemeshow(df: DataFrame, scoreCol: Column, labelCol: Column,
                     nBins: Int = 10): DataFrame = {
    require(nBins >= 3, s"need >= 3 bins for df = g - 2, got $nBins")
    val bins = df
      .select(F.least(F.floor(scoreCol.cast("double") * nBins),
          F.lit(nBins - 1L)).as("__b"),
        scoreCol.cast("double").as("__s"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy("__b")
      .agg(F.count(F.lit(1)).as("__nb"), F.sum("__y").as("__o"),
        F.sum("__s").as("__e"))
    val term = F.when(
      F.col("__e") > 0.0 && F.col("__e") < F.col("__nb").cast("double"),
      F.round((F.col("__o") - F.col("__e")) * (F.col("__o") - F.col("__e"))
        * F.col("__nb").cast("double") /
        (F.col("__e") * (F.col("__nb").cast("double") - F.col("__e"))), 9))
    bins.agg(F.count(term).as("g_used"), F.sum("__nb").as("n"),
      F.round(F.sum(term), 6).as("hl"),
      (F.count(term) - 2L).as("df"))
  }

  /** OLS influence census for the simple fit y ~ t — WHICH points drive
    * the line ([[olsFit]] reports the fit, [[durbinWatson]] its serial
    * correlation; this is the per-point diagnostic): leverage, residual,
    * and Cook's distance
    * {{{
    *   h_i = 1/n + (t_i − t̄)²/S_xx,   D_i = e_i²/(2s²) · h_i/(1−h_i)²
    * }}}
    * (p = 2 params, s² = SSR/(n−2)). Points with D above the classical
    * 4/n screen are flagged. Intended for DOMAIN-BOUNDED series (daily
    * rollups) — the sufficient statistics broadcast back onto the rows.
    *
    * Scale shape: one stats pass, one broadcast join, no windows.
    *
    * @return (t, y, fitted, resid, leverage, cooks_d, influential)
    *         ordered by t — 6-dp
    */
  def olsInfluence(series: DataFrame, tCol: Column,
                   valueCol: Column): DataFrame = {
    val s = series.select(tCol.cast("long").as("__t"),
      valueCol.cast("double").as("__y"))
      .filter(F.col("__t").isNotNull && F.col("__y").isNotNull)
    val agg = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__t").as("__sx"),
      F.sum("__y").as("__sy"),
      F.sum(F.col("__t") * F.col("__t")).as("__sxx"),
      F.sum(F.col("__t").cast("double") * F.col("__y")).as("__sxy"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"))
    val j = s.crossJoin(F.broadcast(agg))
    val nD = F.col("__n").cast("double")
    val xbar = F.col("__sx").cast("double") / nD
    val ybar = F.col("__sy") / nD
    val cxx = F.col("__sxx").cast("double") -
      F.col("__sx").cast("double") * xbar
    val cxy = F.col("__sxy") - F.col("__sx").cast("double") * ybar
    val cyy = F.col("__syy") - F.col("__sy") * ybar
    val b = cxy / F.nullif(cxx, F.lit(0.0))
    val fitted = ybar + b * (F.col("__t").cast("double") - xbar)
    val resid = F.col("__y") - fitted
    val h = F.lit(1.0) / nD +
      (F.col("__t").cast("double") - xbar) *
        (F.col("__t").cast("double") - xbar) / F.nullif(cxx, F.lit(0.0))
    val s2 = (cyy - cxy * cxy / F.nullif(cxx, F.lit(0.0))) /
      F.nullif(nD - 2.0, F.lit(0.0))
    val d = resid * resid / (F.lit(2.0) * F.nullif(s2, F.lit(0.0))) *
      h / ((F.lit(1.0) - h) * (F.lit(1.0) - h))
    j.select(F.col("__t").as("t"), F.col("__y").as("y"),
      F.round(fitted, 6).as("fitted"), F.round(resid, 6).as("resid"),
      F.round(h, 6).as("leverage"), F.round(d, 6).as("cooks_d"),
      (d > F.lit(4.0) / nD).as("influential"))
      .orderBy("t")
  }

  /** Goodman–Kruskal lambda λ_{col|row} — proportional reduction in
    * error predicting the COLUMN category from the ROW category over
    * nominal pairs ("does source predict language"): guessing the global
    * mode errs n − max_c n_·c times; guessing each row's mode errs
    * n − Σ_r max_c n_rc times;
    * {{{
    *   λ = (Σ_r max_c n_rc − max_c n_·c) / (n − max_c n_·c)
    * }}}
    * All-integer sufficient statistics. Asymmetric by design — swap the
    * columns for the other direction ([[cramersV]] is the symmetric
    * strength, this is the DIRECTED predictive readout).
    *
    * Scale shape: one (row, col) rollup plus two grid-bounded rollups.
    *
    * @return one row (k_rows, k_cols, n, lambda) — 6-dp, NULL when the
    *         modal column holds every row (no error to reduce)
    */
  def gkLambda(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val c = df.select(rowCol.cast("string").as("__r"),
      colCol.cast("string").as("__cl"))
      .groupBy("__r", "__cl").agg(F.count(F.lit(1)).as("__k"))
    val rm = c.groupBy("__r").agg(F.max("__k").as("__mk"))
      .agg(F.count(F.lit(1)).as("k_rows"), F.sum("__mk").as("__sm"))
    val ct = c.groupBy("__cl").agg(F.sum("__k").as("__t"))
      .agg(F.count(F.lit(1)).as("k_cols"), F.max("__t").as("__mt"),
        F.sum("__t").as("n"))
    rm.crossJoin(F.broadcast(ct))
      .select(F.col("k_rows"), F.col("k_cols"), F.col("n"),
        F.round((F.col("__sm") - F.col("__mt")).cast("double") /
          F.nullif((F.col("n") - F.col("__mt")).cast("double"),
            F.lit(0.0)), 6).as("lambda"))
  }

  /** Weighted Cohen's kappa over ORDINAL integer categories — chance-
    * corrected agreement where near-misses count (quadratic weights
    * w_ij = (i−j)², the ICC-equivalent convention): the right agreement
    * readout for graded quality labels, where the plain (x191) kappa
    * treats "4 vs 5" as harshly as "1 vs 5":
    * {{{
    *   κ_w = 1 − Σ w_ij·O_ij / Σ w_ij·E_ij,   E_ij = r_i·c_j/n
    * }}}
    * Scale shape: one map-side (cat1, cat2) cell collapse (category-
    * bounded), margins + dense grid from that table only, 9-dp terms.
    *
    * @return one row (n, k1, k2, disagree_o, disagree_e, kappa_w) — 6-dp
    */
  def weightedKappa(df: DataFrame, rater1: Column,
                    rater2: Column): DataFrame = {
    val cells = df
      .select(rater1.cast("long").as("__i"), rater2.cast("long").as("__j"))
      .filter(F.col("__i").isNotNull && F.col("__j").isNotNull)
      .groupBy("__i", "__j").agg(F.count(F.lit(1)).as("__o"))
    val ri = cells.groupBy("__i").agg(F.sum("__o").as("__ri"))
    val cj = cells.groupBy("__j").agg(F.sum("__o").as("__cj"))
    val n = cells.agg(F.sum("__o").as("__n"))
    val dense = ri.crossJoin(cj)
      .join(cells, Seq("__i", "__j"), "left")
      .na.fill(0L, Seq("__o"))
      .crossJoin(F.broadcast(n))
      .withColumn("__w",
        ((F.col("__i") - F.col("__j")) * (F.col("__i") - F.col("__j")))
          .cast("double"))
      .withColumn("__wo", F.round(F.col("__w") * F.col("__o"), 9))
      .withColumn("__we", F.round(F.col("__w") *
        (F.col("__ri").cast("double") * F.col("__cj") / F.col("__n")), 9))
    dense.agg(F.max("__n").as("n"),
      F.countDistinct("__i").as("k1"), F.countDistinct("__j").as("k2"),
      F.round(F.sum("__wo"), 6).as("disagree_o"),
      F.round(F.sum("__we"), 6).as("disagree_e"))
      .withColumn("kappa_w", F.round(F.lit(1.0) -
        F.col("disagree_o") / F.nullif(F.col("disagree_e"), F.lit(0.0)), 6))
  }

  /** Lincoln-Petersen / Chapman capture-recapture estimate of a pair
    * population from two INDEPENDENT detection passes — "how many
    * near-duplicate pairs does this corpus really hold", estimated from
    * two cheap fingerprint families without ever enumerating the
    * quadratic truth: pass A marks n_a pairs, pass B marks n_b, m appear
    * in both, so
    * {{{
    *   N̂_LP = n_a·n_b / m,   N̂_Chapman = (n_a+1)(n_b+1)/(m+1) − 1
    * }}}
    * (Chapman is the bias-corrected form, defined at m = 0). Both input
    * frames carry canonical (a, b) pair columns.
    *
    * Scale shape: two distinct-collapses and one pair-keyed join — the
    * heavy lifting happened in the upstream (bounded, blocked) pair
    * generators; this op never touches documents.
    *
    * @return one row (n_a, n_b, m, n_lp, n_chapman) — 6-dp, n_lp NULL at
    *         m = 0
    */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame): DataFrame = {
    val a = pairsA.select(F.col("a"), F.col("b")).distinct()
    val b = pairsB.select(F.col("a"), F.col("b")).distinct()
    val nA = a.agg(F.count(F.lit(1)).as("n_a"))
    val nB = b.agg(F.count(F.lit(1)).as("n_b"))
    val m = a.join(b, Seq("a", "b"), "left_semi")
      .agg(F.count(F.lit(1)).as("m"))
    val row = nA.crossJoin(F.broadcast(nB)).crossJoin(F.broadcast(m))
    val naD = F.col("n_a").cast("double")
    val nbD = F.col("n_b").cast("double")
    val mD = F.col("m").cast("double")
    row.select(F.col("n_a"), F.col("n_b"), F.col("m"),
      F.round(naD * nbD / F.nullif(mD, F.lit(0.0)), 6).as("n_lp"),
      F.round((naD + 1.0) * (nbD + 1.0) / (mD + 1.0) - 1.0, 6)
        .as("n_chapman"))
  }

  /** Exact two-sided binomial(n, ½) tail probability — the shared solver
    * behind [[signTest]] and [[mcnemarExact]]: BigInt-rational
    * `min(1, 2·min(P(X ≤ k), P(X ≥ k)))` (k-range tails + doubling, the
    * [[fisherExact]] conventions). Bounded-support driver-side solve. */
  private def binomHalfTwoSided(k: Long, n: Long): (Double, Double, Double) = {
    require(n <= 20000L,
      s"exact binomial on n=$n discordant/untied rows — use the normal " +
        "approximation (wilson / mannWhitneyU) at scale")
    // one multiplicative ladder C(n,i+1) = C(n,i)·(n−i)/(i+1): O(n)
    // exact-integer steps instead of O(n²)
    val coeffs = new Array[BigInt](n.toInt + 1)
    coeffs(0) = BigInt(1)
    (1 to n.toInt).foreach(i =>
      coeffs(i) = coeffs(i - 1) * BigInt(n - i + 1) / BigInt(i))
    val den = BigDecimal(BigInt(2).pow(n.toInt))
    val lower = BigDecimal(coeffs.take(k.toInt + 1).sum) / den
    val upper = BigDecimal(coeffs.drop(k.toInt).sum) / den
    def r6(x: BigDecimal): Double =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val two = (BigDecimal(2) * lower.min(upper)).min(BigDecimal(1))
    (r6(lower), r6(upper), r6(two))
  }

  /** Exact paired sign test — "is metric X bigger than metric Y on the
    * same rows more often than chance", with the EXACT binomial null
    * (no normal approximation, valid at any m): ties drop (the standard
    * convention), `S ~ Binom(m, ½)` under H0.
    *
    * Scale shape: one conditional collapse to two counts; the exact tail
    * solve runs driver-side over the bounded support (the [[fisherExact]]
    * convention), loud at m > 10⁶ where the sign test is the wrong tool
    * (use [[wilson]]-style normal bounds).
    *
    * @return one row (n, m, s, p_lower, p_upper, p_two) — 6-dp
    */
  def signTest(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val row = df.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(xCol > yCol, 1L).otherwise(0L)).as("s"),
      F.sum(F.when(xCol < yCol, 1L).otherwise(0L)).as("f"))
      .head()
    val (n, s, f) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val m = s + f
    val (pl, pu, p2) =
      if (m == 0) (1.0, 1.0, 1.0) else binomHalfTwoSided(s, m)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, m, s, pl, pu, p2))
      .toDF("n", "m", "s", "p_lower", "p_upper", "p_two")
  }

  /** Exact (binomial) McNemar test — the small-discordant-count form of
    * [[mcnemar]]: under H0 the b discordant wins are Binom(b+c, ½), so
    * the exact two-sided p needs no continuity correction and stays
    * valid when b+c < 25 where the χ² approximation misleads.
    *
    * Scale shape: the [[mcnemar]] one-row collapse + the bounded
    * driver-side exact solve.
    *
    * @return one row (n, b, c, p_lower, p_upper, p_two) — 6-dp
    */
  def mcnemarExact(df: DataFrame, aRight: Column,
                   bRight: Column): DataFrame = {
    val row = df.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(aRight && !bRight, 1L).otherwise(0L)).as("b"),
      F.sum(F.when(!aRight && bRight, 1L).otherwise(0L)).as("c"))
      .head()
    val (n, b, c) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (pl, pu, p2) =
      if (b + c == 0) (1.0, 1.0, 1.0) else binomHalfTwoSided(b, b + c)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, b, c, pl, pu, p2))
      .toDF("n", "b", "c", "p_lower", "p_upper", "p_two")
  }

  /** Stuart-Maxwell marginal-homogeneity test on a 3-category paired
    * table — "did the CLASS MIX drift between the two passes", which
    * [[bowkerSymmetry]] (cell-level symmetry) implies but is stricter
    * than. The 3-category case has the closed 2×2-inverse form (larger
    * k: test pairwise or use bowker):
    * {{{
    *   d_i = r_i − c_i,  S_ii = r_i + c_i − 2n_ii,  S_12 = −(n_12+n_21)
    *   χ² = (d_1²S_22 + d_2²S_11 − 2d_1d_2S_12)/(S_11S_22 − S_12²),  df 2
    * }}}
    * Everything stays in exact integers until the final division.
    *
    * Scale shape: one cell collapse to ≤ 9 rows; 1-row result.
    *
    * @return one row (n, d1, d2, chi2, df) — chi2 6-dp, NULL when the
    *         2×2 S is singular
    */
  def stuartMaxwell3(df: DataFrame, fromCol: Column, toCol: Column,
                     cats: Seq[String]): DataFrame = {
    require(cats.size == 3, s"exactly 3 categories, got ${cats.size}")
    val Seq(c1, c2, c3) = cats
    val cells = df
      .select(fromCol.cast("string").as("__i"), toCol.cast("string").as("__j"))
      .filter(F.col("__i").isin(c1, c2, c3) && F.col("__j").isin(c1, c2, c3))
      .groupBy("__i", "__j").agg(F.count(F.lit(1)).as("__c"))
    def cell(i: String, j: String) =
      F.sum(F.when(F.col("__i") === i && F.col("__j") === j,
        F.col("__c")).otherwise(0L))
    def rowM(i: String) =
      F.sum(F.when(F.col("__i") === i, F.col("__c")).otherwise(0L))
    def colM(j: String) =
      F.sum(F.when(F.col("__j") === j, F.col("__c")).otherwise(0L))
    val agg = cells.agg(
      F.sum("__c").as("n"),
      (rowM(c1) - colM(c1)).as("d1"), (rowM(c2) - colM(c2)).as("d2"),
      (rowM(c1) + colM(c1) - F.lit(2L) * cell(c1, c1)).as("__s11"),
      (rowM(c2) + colM(c2) - F.lit(2L) * cell(c2, c2)).as("__s22"),
      (F.lit(0L) - (cell(c1, c2) + cell(c2, c1))).as("__s12"))
    val det = (F.col("__s11") * F.col("__s22") -
      F.col("__s12") * F.col("__s12")).cast("double")
    val num = (F.col("d1") * F.col("d1") * F.col("__s22") +
      F.col("d2") * F.col("d2") * F.col("__s11") -
      F.lit(2L) * F.col("d1") * F.col("d2") * F.col("__s12")).cast("double")
    agg.select(F.col("n"), F.col("d1"), F.col("d2"),
      F.round(num / F.nullif(det, F.lit(0.0)), 6).as("chi2"),
      F.lit(2L).as("df"))
  }

  /** Dunn's post-hoc pairwise comparisons after [[kruskalWallis]] — WHICH
    * groups differ once the omnibus H rejects. Pairwise z on mean ranks
    * with the tie-corrected common variance:
    * {{{
    *   z_ab = (R̄_a − R̄_b) / √( (N(N+1)/12 − T/(12(N−1))) (1/n_a + 1/n_b) )
    * }}}
    * (T = Σ(t³−t)). Emits z, not p — the caller thresholds (the
    * [[mannWhitneyU]] convention; pair with [[holmAdjust]]/[[bhFdr]] to
    * control the family-wise rate over the G²/2 pairs).
    *
    * Scale shape: the kruskalWallis collapse (distinct-value window) plus
    * a G-row pair self-join — subjects never pair.
    *
    * @return (grp_a, grp_b, n_a, n_b, mean_rank_a, mean_rank_b, z) — 6-dp
    */
  def dunnPairs(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val byVG = df
      .select(groupCol.cast("string").as("grp"),
        valueCol.cast("double").as("__v"))
      .groupBy("__v", "grp").agg(F.count(F.lit(1)).as("__c"))
    val byV = byVG.groupBy("__v").agg(F.sum("__c").as("__t"))
    // flat single-partition midrank window KEPT (r19 measured: the
    // segmented two-level scan read wall +0.5-0.9 s here with cpu flat —
    // pure attach-stage overhead on this op's L, which is bounded by the
    // value DOMAIN after the distinct collapse, not by corpus size; see
    // segmentedCumSum for the unbounded-domain variant the grid ops use)
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mids = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__mid",
        (F.col("__cum") - F.col("__t")).cast("double") +
          (F.col("__t") + 1L).cast("double") / 2.0)
    val perG = byVG.join(mids.select("__v", "__mid"), "__v")
      .groupBy("grp")
      .agg(F.sum("__c").as("n"),
        F.sum(F.col("__c") * F.col("__mid")).as("__r"))
    val tot = perG.agg(F.sum("n").as("__N"))
      .crossJoin(F.broadcast(byV.agg(F.sum(
        F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .as("__tie"))))
    def side(s: String) = perG.select(F.col("grp").as(s"grp_$s"),
      F.col("n").as(s"n_$s"), (F.col("__r") / F.col("n").cast("double"))
        .as(s"__mr_$s"))
    val nD = F.col("__N").cast("double")
    val commonVar = nD * (nD + 1.0) / 12.0 -
      F.col("__tie").cast("double") / (F.lit(12.0) * (nD - 1.0))
    side("a").join(side("b"), F.col("grp_a") < F.col("grp_b"))
      .crossJoin(F.broadcast(tot))
      .select(F.col("grp_a"), F.col("grp_b"), F.col("n_a"), F.col("n_b"),
        F.round(F.col("__mr_a"), 6).as("mean_rank_a"),
        F.round(F.col("__mr_b"), 6).as("mean_rank_b"),
        F.round((F.col("__mr_a") - F.col("__mr_b")) /
          F.sqrt(F.nullif(commonVar *
            (F.lit(1.0) / F.col("n_a").cast("double") +
             F.lit(1.0) / F.col("n_b").cast("double")), F.lit(0.0))), 6)
          .as("z"))
      .orderBy("grp_a", "grp_b")
  }

  /** Cochran's Q test over k paired binary outcomes — "do these k
    * detectors/models have the same success rate on the SAME rows", the
    * k-way generalization of [[mcnemar]] (k = 2 reduces to it):
    * {{{
    *   Q = (k−1)·(k·ΣG_j² − (ΣG_j)²) / (k·ΣL_i − ΣL_i²)
    * }}}
    * with G_j the per-detector success totals and L_i the per-row success
    * counts. χ²(k−1) under H0.
    *
    * Scale shape: one map-side pass accumulating k + 2 exact integer
    * sums (each G_j, ΣL, ΣL²) — nothing shuffles but the sums.
    *
    * @return one row (n, k, q, df) — q 6-dp
    */
  def cochranQ(df: DataFrame, outcomes: Seq[(String, Column)]): DataFrame = {
    require(outcomes.size >= 2, s"need >= 2 outcomes, got ${outcomes.size}")
    val k = outcomes.size
    val proj = df.select(outcomes.map { case (n, c) =>
      F.when(c, 1L).otherwise(0L).as(s"__o_$n") }: _*)
      .withColumn("__l", outcomes.map { case (n, _) =>
        F.col(s"__o_$n") }.reduce(_ + _))
    val sums = proj.agg(
      F.count(F.lit(1)).as("n"),
      outcomes.map { case (nm, _) =>
        F.sum(F.col(s"__o_$nm")).as(s"__g_$nm") } ++ Seq(
        F.sum("__l").as("__sl"),
        F.sum(F.col("__l") * F.col("__l")).as("__sl2")): _*)
    val sumG2 = outcomes.map { case (nm, _) =>
      F.col(s"__g_$nm") * F.col(s"__g_$nm") }.reduce(_ + _)
    val num = F.lit((k - 1).toLong) *
      (F.lit(k.toLong) * sumG2 - F.col("__sl") * F.col("__sl"))
    val den = F.lit(k.toLong) * F.col("__sl") - F.col("__sl2")
    sums.select(F.col("n"), F.lit(k).as("k"),
      F.round(num.cast("double") /
        F.nullif(den.cast("double"), F.lit(0.0)), 6).as("q"),
      F.lit((k - 1).toLong).as("df"))
  }

  /** G-test (log-likelihood ratio) of independence over a dense r×c
    * contingency grid — the additive-decomposable alternative to Pearson
    * χ² (G sums exactly over partitions of the table, χ² only
    * approximately): `G = 2·Σ O·ln(O/E)`, zero-observation cells
    * contribute 0 by the x·ln x → 0 limit.
    *
    * Scale shape: identical to [[cramersV]] — bounded cell collapse,
    * margins, dense grid; the corpus is scanned once.
    *
    * @return one row (n, r, c, g_stat, df) — 6-dp
    */
  def gTest(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df
      .select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__k"))
    val ra = cells.groupBy("__a").agg(F.sum("__k").as("__na"))
    val cb = cells.groupBy("__b").agg(F.sum("__k").as("__nb"))
    val n = cells.agg(F.sum("__k").as("__n"))
    val dense = ra.crossJoin(cb)
      .join(cells, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__k"))
      .crossJoin(F.broadcast(n))
      .withColumn("__e", F.col("__na").cast("double") * F.col("__nb") /
        F.col("__n"))
      // 9-dp cell terms before the unordered sum; O = 0 contributes 0
      .withColumn("__cell", F.round(F.when(F.col("__k") > 0L,
        F.col("__k") * F.log(F.col("__k").cast("double") / F.col("__e")))
        .otherwise(F.lit(0.0)), 9))
    dense.agg(
      F.max("__n").as("n"),
      F.countDistinct("__a").as("r"),
      F.countDistinct("__b").as("c"),
      F.round(F.lit(2.0) * F.sum("__cell"), 6).as("g_stat"))
      .withColumn("df", (F.col("r") - 1L) * (F.col("c") - 1L))
  }

  /** Intraclass correlation ICC(1) under the one-way random-effects
    * model — "how much of the variance is BETWEEN groups", the
    * reliability / clustering-strength readout (and the design-effect
    * input for clustered experiments):
    * {{{
    *   ICC = (MSB − MSW) / (MSB + (n0 − 1)·MSW),
    *   n0  = (N − Σn_g²/N) / (G − 1)    (unbalanced-design group size)
    * }}}
    * Values quantize to exact integers (x221 rule) so both engines replay
    * the ANOVA decomposition bit-identically.
    *
    * Scale shape: the [[anovaF]] collapse — one map-side (n, Σk, Σk²)
    * per group, G-row rollup, 1-row result.
    *
    * @return one row (g, n, n0, msb, msw, icc) — 6-dp
    */
  def icc1(df: DataFrame, groupCol: Column, valueCol: Column,
           scale: Long = 100L): DataFrame = {
    val byG = df
      .select(groupCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__s2"))
    val tot1 = byG.agg(F.sum("__n").as("__NN"), F.sum("__s").as("__T1"))
    // ALL-POSITIVE per-group SS terms: the cb − t1²/n cancellation form
    // summed ~1e13-magnitude doubles in nondeterministic order and lost
    // the 6th decimal at sf0.1 (tri-scale r12 incident) — positive-term
    // sums keep the order error at relative 1e-15 with nothing to cancel
    val sc = F.lit(scale.toDouble)
    val nGD = F.col("__n").cast("double")
    val meanG = F.col("__s").cast("double") / (nGD * sc)
    val grand = F.col("__T1").cast("double") /
      (F.col("__NN").cast("double") * sc)
    val terms = byG.crossJoin(F.broadcast(tot1))
      .withColumn("__btw", nGD * (meanG - grand) * (meanG - grand))
      .withColumn("__wth",
        (F.col("__s2").cast("double") -
          F.col("__s").cast("double") * F.col("__s") / nGD) / (sc * sc))
    val agg = terms.agg(
      F.count(F.lit(1)).as("g"), F.sum("__n").as("n"),
      F.sum("__btw").as("__ssb"), F.sum("__wth").as("__ssw"),
      F.sum(F.col("__n") * F.col("__n")).as("__sn2"))
    val gD = F.col("g").cast("double")
    val nD = F.col("n").cast("double")
    val msb = F.col("__ssb") / (gD - 1.0)
    val msw = F.col("__ssw") / (nD - gD)
    val n0 = (nD - F.col("__sn2").cast("double") / nD) / (gD - 1.0)
    agg.select(F.col("g"), F.col("n"),
      F.round(n0, 6).as("n0"),
      F.round(msb, 6).as("msb"), F.round(msw, 6).as("msw"),
      F.round((msb - msw) / F.nullif(msb + (n0 - 1.0) * msw, F.lit(0.0)), 6)
        .as("icc"))
  }

  /** Partial correlation r_xy·z — the x↔y association with the common
    * driver z regressed out: `(r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))`,
    * the one-line answer to "do these two quality signals agree beyond
    * both just tracking document size". Item expressions must be
    * INTEGER-valued so every moment sum is exact (x221 rule).
    *
    * Scale shape: one map-side pass of 9 exact sums; 1-row result.
    *
    * @return one row (n, r_xy, r_xz, r_yz, r_partial) — 6-dp, NULL
    *         r_partial when a control correlation is ±1
    */
  def partialCorr(df: DataFrame, xCol: Column, yCol: Column,
                  zCol: Column): DataFrame = {
    val proj = df.select(xCol.cast("long").as("__x"),
      yCol.cast("long").as("__y"), zCol.cast("long").as("__z"))
    val s = proj.agg(F.count(F.lit(1)).as("n"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum("__z").as("__sz"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__z") * F.col("__z")).as("__szz"),
      F.sum(F.col("__x") * F.col("__y")).as("__sxy"),
      F.sum(F.col("__x") * F.col("__z")).as("__sxz"),
      F.sum(F.col("__y") * F.col("__z")).as("__syz"))
    val nD = F.col("n").cast("double")
    def r(spq: Column, sp: Column, sq: Column, spp: Column, sqq: Column) =
      (nD * spq.cast("double") - sp.cast("double") * sq) /
        F.sqrt(F.nullif(
          (nD * spp.cast("double") - sp.cast("double") * sp) *
          (nD * sqq.cast("double") - sq.cast("double") * sq), F.lit(0.0)))
    val rxy = r(F.col("__sxy"), F.col("__sx"), F.col("__sy"),
      F.col("__sxx"), F.col("__syy"))
    val rxz = r(F.col("__sxz"), F.col("__sx"), F.col("__sz"),
      F.col("__sxx"), F.col("__szz"))
    val ryz = r(F.col("__syz"), F.col("__sy"), F.col("__sz"),
      F.col("__syy"), F.col("__szz"))
    s.select(F.col("n"),
      F.round(rxy, 6).as("r_xy"), F.round(rxz, 6).as("r_xz"),
      F.round(ryz, 6).as("r_yz"),
      F.round((rxy - rxz * ryz) / F.sqrt(F.nullif(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz), F.lit(0.0))),
        6).as("r_partial"))
  }

  /** Durbin-Watson statistic of the residuals from a closed-form OLS
    * trend over an ORDERED series — the standard "did my trend model
    * leave autocorrelated structure behind" diagnostic (DW ≈ 2 means
    * none; → 0 positive, → 4 negative autocorrelation):
    * `DW = Σ(e_t − e_{t−1})² / Σe_t²`. Residuals round at 9 dp before
    * the lag so both engines difference identical values.
    *
    * Scale shape: this op is for a ROLLED-UP series (a daily/hourly
    * metric readout, not raw events — feed it the bounded rollup): the
    * OLS moments collapse in one pass, and the single-partition lag
    * window runs over the bounded series only.
    *
    * @return one row (n, slope, intercept, dw) — 6-dp
    */
  def durbinWatson(df: DataFrame, orderCol: Column,
                   valueCol: Column): DataFrame = {
    val proj = df.select(orderCol.cast("long").as("__t"),
      valueCol.cast("double").as("__y"))
    val s = proj.agg(F.count(F.lit(1)).as("__n"),
      F.sum("__t").as("__st"), F.sum("__y").as("__sy"),
      F.sum(F.col("__t") * F.col("__t")).as("__stt"),
      F.sum(F.col("__t").cast("double") * F.col("__y")).as("__sty"))
    val nD = F.col("__n").cast("double")
    val fit = s.select(F.col("__n"),
      ((nD * F.col("__sty") - F.col("__st").cast("double") * F.col("__sy")) /
        (nD * F.col("__stt").cast("double") -
          F.col("__st").cast("double") * F.col("__st"))).as("__b"),
      F.col("__st"), F.col("__sy"))
      .select(F.col("__n"), F.col("__b"),
        ((F.col("__sy") - F.col("__b") * F.col("__st")) / nD).as("__a"))
    val res = proj.crossJoin(F.broadcast(fit))
      .withColumn("__e", F.round(
        F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__t")), 9))
    val wLag = Window.orderBy(F.col("__t"))
    val dw = res
      .withColumn("__d", F.col("__e") - F.lag("__e", 1).over(wLag))
      .agg(F.sum(F.col("__d") * F.col("__d")).as("__num"),
        F.sum(F.col("__e") * F.col("__e")).as("__den"),
        F.max("__n").as("n"), F.max("__b").as("__bb"),
        F.max("__a").as("__aa"))
    dw.select(F.col("n"),
      F.round(F.col("__bb"), 6).as("slope"),
      F.round(F.col("__aa"), 6).as("intercept"),
      F.round(F.col("__num") / F.nullif(F.col("__den"), F.lit(0.0)), 6)
        .as("dw"))
  }

  /** Jarque–Bera normality test — "can I use the Gaussian machinery
    * (z-intervals, 3σ alerting, OLS t-tests) on this metric at all":
    * from skewness S = m₃/m₂^1.5 and excess kurtosis K = m₄/m₂² − 3,
    * {{{
    *   JB = n/6 · (S² + K²/4)        (χ²₂ under normality)
    * }}}
    * Values quantize to exact integers k = round(`scale`·x) so Σk is
    * exact and the mean m̄ = Σk/n is the SAME IEEE division in both
    * engines; central moments then sum bit-identical per-row terms
    * (k−m̄)^p. m₂/m₄ sums are all-positive (nothing cancels); the m₃
    * mixed-sign sum is safe because the statistic divides it by the
    * same-magnitude m₂^1.5 — order noise lands at relative 1e-14.
    *
    * Scale shape: this op is for a ROLLED-UP series (daily counts, a
    * bounded metric readout): two scans of that bounded table (mean,
    * then centered moments), one broadcast scalar between them.
    *
    * @return one row (n, mean, skew, kurt_x, jb) — 6-dp; skew/kurt_x/jb
    *         NULL on a constant series (m₂ = 0)
    */
  def jarqueBera(series: DataFrame, valueCol: Column,
                 scale: Long = 1L): DataFrame = {
    val s = series
      .select(F.round(valueCol.cast("double") * scale).cast("long")
        .as("__k"))
      .filter(F.col("__k").isNotNull)
    val m = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"))
    val c = s.crossJoin(F.broadcast(m))
      .withColumn("__c", F.col("__k").cast("double") -
        F.col("__sk").cast("double") / F.col("__n").cast("double"))
    val mom = c.agg(F.max("__n").as("n"), F.max("__sk").as("__sk"),
      F.sum(F.col("__c") * F.col("__c")).as("__s2"),
      F.sum(F.col("__c") * F.col("__c") * F.col("__c")).as("__s3"),
      F.sum(F.col("__c") * F.col("__c") * F.col("__c") * F.col("__c"))
        .as("__s4"))
    val nD = F.col("n").cast("double")
    val m2 = F.col("__s2") / nD
    val m3 = F.col("__s3") / nD
    val m4 = F.col("__s4") / nD
    // m2^1.5 as m2·√m2: sqrt is correctly rounded in BOTH engines where
    // libm pow(x, 1.5) is not guaranteed to be — bit-identical parity
    val skew = F.when(m2 > 0.0, m3 / (m2 * F.sqrt(m2)))
    val kurtX = F.when(m2 > 0.0, m4 / (m2 * m2) - 3.0)
    mom.select(F.col("n"),
      F.round(F.col("__sk").cast("double") / nD /
        F.lit(scale.toDouble), 6).as("mean"),
      F.round(skew, 6).as("skew"), F.round(kurtX, 6).as("kurt_x"),
      F.round(nD / 6.0 * (skew * skew + kurtX * kurtX / 4.0), 6)
        .as("jb"))
  }

  /** Breusch–Pagan LM test for heteroskedasticity of the y ~ t trend
    * residuals — "are my trend-model error bars valid, or does variance
    * grow with t" (the assumption every OLS CI in this suite leans on):
    * regress e² on t, then `BP = n·R²_aux` (χ²₁ under homoskedasticity).
    * The trend fit comes from exact integer sufficient statistics
    * (same-IEEE divisions both engines), residuals round at 9 dp before
    * squaring, and the auxiliary sums run over CENTERED t so no
    * large-raw-moment cancellation survives (the tri-scale rule).
    *
    * Scale shape: a ROLLED-UP series op — two scans of the bounded
    * rollup (fit, then aux sums), one broadcast fit row between them.
    *
    * @return one row (n, slope, r2_aux, bp) — 6-dp; r2_aux/bp NULL when
    *         residual variance is 0 (perfect fit) or x-variance is 0
    */
  def breuschPagan(series: DataFrame, tCol: Column,
                   valueCol: Column): DataFrame = {
    val s = series.select(tCol.cast("long").as("__t"),
      valueCol.cast("double").as("__y"))
      .filter(F.col("__t").isNotNull && F.col("__y").isNotNull)
    val fit = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__t").as("__sx"),
      F.sum("__y").as("__sy"),
      F.sum(F.col("__t") * F.col("__t")).as("__sxx"),
      F.sum(F.col("__t").cast("double") * F.col("__y")).as("__sxy"))
    val j = s.crossJoin(F.broadcast(fit))
    val nD = F.col("__n").cast("double")
    val xbar = F.col("__sx").cast("double") / nD
    val b = (nD * F.col("__sxy") -
        F.col("__sx").cast("double") * F.col("__sy")) /
      (nD * F.col("__sxx").cast("double") -
        F.col("__sx").cast("double") * F.col("__sx"))
    val a = F.col("__sy") / nD - b * xbar
    val aux = j
      .withColumn("__e", F.round(
        F.col("__y") - (a + b * F.col("__t").cast("double")), 9))
      .withColumn("__u", F.col("__e") * F.col("__e"))
      .withColumn("__ct", F.col("__t").cast("double") - xbar)
      .agg(F.max("__n").as("n"), F.max(b).as("__b"),
        F.sum("__u").as("__su"),
        F.sum(F.col("__u") * F.col("__u")).as("__suu"),
        F.sum("__ct").as("__sct"),
        F.sum(F.col("__ct") * F.col("__ct")).as("__sctt"),
        F.sum(F.col("__ct") * F.col("__u")).as("__sctu"))
    val n2 = F.col("n").cast("double")
    val cuu = F.col("__suu") - F.col("__su") * F.col("__su") / n2
    val cxx = F.col("__sctt") - F.col("__sct") * F.col("__sct") / n2
    val cxu = F.col("__sctu") - F.col("__sct") * F.col("__su") / n2
    val r2 = cxu * cxu / F.nullif(cxx * cuu, F.lit(0.0))
    aux.select(F.col("n"),
      Quant.noNegZero(F.round(F.col("__b"), 6)).as("slope"),
      Quant.noNegZero(F.round(r2, 6)).as("r2_aux"),
      Quant.noNegZero(F.round(n2 * r2, 6)).as("bp"))
  }

  /** Two-sample Poisson rate test — "is stream A emitting faster than
    * stream B per unit of exposure" (weekend vs weekday traffic, canary
    * vs fleet error rates), done conditionally: given the total count
    * N = c₁ + c₂, under equal rates c₁ ~ Binomial(N, t₁/(t₁+t₂)), so
    * {{{
    *   z = (c₁ − N·p₀) / √(N·p₀(1−p₀)),   p₀ = t₁/(t₁+t₂)
    * }}}
    * Exposure is measured from the data itself: distinct `unitCol`
    * values per arm (active days, shards, hosts). Every statistic is a
    * scalar expression over four exact longs — bit-identical engines.
    *
    * Scale shape: one conditional-count collapse (two counts + two
    * count-distincts, map-side partials) to a single row.
    *
    * @return one row (c1, c2, t1, t2, rate1, rate2, rate_ratio, z) —
    *         6-dp; ratio NULL when rate2 = 0, z NULL when an arm has no
    *         exposure
    */
  def poissonTwoRate(df: DataFrame, armCol: Column,
                     unitCol: Column): DataFrame = {
    val s = df.select(F.when(armCol, 1L).otherwise(0L).as("__a"),
      unitCol.cast("string").as("__u"))
    val one = s.agg(
      F.sum("__a").as("c1"),
      (F.count(F.lit(1)) - F.sum("__a")).as("c2"),
      F.countDistinct(F.when(F.col("__a") === 1L, F.col("__u"))).as("t1"),
      F.countDistinct(F.when(F.col("__a") === 0L, F.col("__u"))).as("t2"))
    val p0 = F.col("t1").cast("double") /
      (F.col("t1") + F.col("t2")).cast("double")
    val bigN = (F.col("c1") + F.col("c2")).cast("double")
    val rate1 = F.col("c1").cast("double") /
      F.nullif(F.col("t1").cast("double"), F.lit(0.0))
    val rate2 = F.col("c2").cast("double") /
      F.nullif(F.col("t2").cast("double"), F.lit(0.0))
    one.select(F.col("c1"), F.col("c2"), F.col("t1"), F.col("t2"),
      F.round(rate1, 6).as("rate1"), F.round(rate2, 6).as("rate2"),
      F.round(rate1 / F.nullif(rate2, F.lit(0.0)), 6).as("rate_ratio"),
      F.round((F.col("c1").cast("double") - bigN * p0) /
        F.nullif(F.sqrt(bigN * p0 * (F.lit(1.0) - p0)), F.lit(0.0)), 6)
        .as("z"))
  }

  /** Partial autocorrelation function (Durbin–Levinson) — the AR-order
    * readout the raw ACF can't give (x167's ACF decays geometrically
    * for ANY AR(1); the PACF CUTS OFF at the true order — the "how many
    * lag features does this series actually need" answer):
    * autocovariance ratios r_k come from 9-dp mean-centered pair terms
    * over the t-grid join, and the k×k Yule–Walker solve runs
    * DRIVER-SIDE by Durbin–Levinson (the x241 bounded-solve rule) with
    * 9-dp quantization of each reflection coefficient and φ update —
    * the oracle unrolls the identical levels.
    *
    * Scale shape: one collapse for (n, x̄, c₀), one lag-range pair join
    * over the bounded grid; the driver holds maxLag doubles.
    *
    * @return per lag (lag, acf, pacf) ordered by lag — 6-dp
    */
  def pacf(series: DataFrame, tCol: String, vCol: String,
           maxLag: Int = 7, scale: Long = 1L): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val s = series.select(F.col(tCol).cast("long").as("t"),
      F.round(F.col(vCol).cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("t").isNotNull && F.col("__k").isNotNull)
      .localCheckpoint()
    val agg = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
      F.sum(F.col("__k") * F.col("__k")).as("__sk2")).collect().head
    val n = agg.getLong(0); val sk = agg.getLong(1)
    val sk2 = agg.getLong(2)
    val mean = sk.toDouble / n.toDouble
    val c0 = sk2.toDouble - sk.toDouble * sk / n.toDouble
    val b = s.select(F.col("t").as("__tb"), F.col("__k").as("__kb"))
    val pairs = s
      .withColumn("lag", F.explode(F.sequence(F.lit(1L),
        F.lit(maxLag.toLong))))
      .join(b, F.col("__tb") === F.col("t") + F.col("lag"))
      .withColumn("__term", F.round(
        (F.col("__k").cast("double") - mean) *
          (F.col("__kb").cast("double") - mean), 9))
      .groupBy("lag").agg(F.sum("__term").as("__ck"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r9(x: Double): Double = Similarity.round6HalfAway(x * 1000.0) / 1000.0
    val r = (1 to maxLag).map(k =>
      r9(pairs.getOrElse(k.toLong, 0.0) / c0)).toArray
    // Durbin–Levinson: phi(k)(j) 1-indexed on j; pacf(k) = phi(k)(k)
    val pacfOut = new Array[Double](maxLag)
    var phi = Array(r(0))
    pacfOut(0) = r9(r(0))
    var k = 2
    while (k <= maxLag) {
      // accumulate the two sums first, subtract ONCE — the oracle's
      // sum()-then-subtract association, not a running subtraction
      var s1 = 0.0; var s2 = 0.0
      var j = 1
      while (j < k) { // sorted-j order: deterministic
        s1 += phi(j - 1) * r(k - j - 1)
        s2 += phi(j - 1) * r(j - 1)
        j += 1
      }
      val num = r(k - 1) - s1; val den = 1.0 - s2
      val pkk = r9(if (den != 0.0) num / den else 0.0)
      val next = new Array[Double](k)
      j = 1
      while (j < k) {
        next(j - 1) = r9(phi(j - 1) - pkk * phi(k - j - 1)); j += 1
      }
      next(k - 1) = pkk
      pacfOut(k - 1) = pkk
      phi = next
      k += 1
    }
    val spark0 = series.sparkSession
    import spark0.implicits._
    (1 to maxLag).map(i => (i.toLong,
        Similarity.round6HalfAway(r(i - 1)),
        Similarity.round6HalfAway(pacfOut(i - 1))))
      .toDF("lag", "acf", "pacf").orderBy("lag")
  }

  /** Turning-points test — is the series RANDOM or does it carry local
    * structure (a cheap IID screen before trusting any permutation-
    * based method): count strict local extrema; under IID,
    * {{{
    *   E[T] = 2(n−2)/3,   Var[T] = (16n − 29)/90
    * }}}
    * Counts are exact integers (strict inequalities on quantized
    * values); the z is one scalar expression.
    *
    * Scale shape: a ROLLED-UP series op — one lag/lead window pass,
    * one scalar collapse.
    *
    * @return one row (n, n_turning, expected, var_t, z) — 6-dp; z NULL
    *         when n < 3
    */
  def turningPoints(series: DataFrame, tCol: String, vCol: String,
                    scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.round(F.col(vCol).cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__t").isNotNull && F.col("__k").isNotNull)
    val w = Window.orderBy("__t")
    val marked = s
      .withColumn("__p", F.lag("__k", 1).over(w))
      .withColumn("__x", F.lead("__k", 1).over(w))
      .withColumn("__tp", F.when(F.col("__p").isNotNull &&
        F.col("__x").isNotNull &&
        ((F.col("__k") > F.col("__p") && F.col("__k") > F.col("__x")) ||
         (F.col("__k") < F.col("__p") && F.col("__k") < F.col("__x"))),
        1L).otherwise(0L))
    val g = marked.agg(F.count(F.lit(1)).as("n"),
      F.sum("__tp").as("n_turning"))
    val nD = F.col("n").cast("double")
    val e = F.lit(2.0) * (nD - 2.0) / 3.0
    val v = (F.lit(16.0) * nD - 29.0) / 90.0
    g.select(F.col("n"), F.col("n_turning"),
      F.round(e, 6).as("expected"), F.round(v, 6).as("var_t"),
      F.round(F.when(F.col("n") >= 3L,
        (F.col("n_turning").cast("double") - e) /
          F.nullif(F.sqrt(v), F.lit(0.0))), 6).as("z"))
  }

  /** Sample entropy (Richman & Moorman 2000) — the regularity of a
    * series as a NUMBER ([[sax]] names the shape; SampEn scores how
    * repeatable shapes are: low = metronome, high = noise; rising
    * SampEn on a latency series is early chaos): with B = matching
    * m-point template pairs (Chebyshev ≤ r) and A = matching
    * (m+1)-point pairs,
    * {{{
    *   SampEn = −ln(A/B),   r = rFactor·sd
    * }}}
    * Template distances are exact maxima of exact differences; the
    * tolerance is one bit-identical product; counts are exact longs.
    *
    * Scale shape: a ROLLED-UP series op — two bounded sliding windows,
    * two (T)² pair joins on the bounded grid, exact count collapses.
    *
    * @return one row (n, m, r_tol, b_pairs, a_pairs, sampen) — 6-dp;
    *         sampen NULL when A or B is 0
    */
  def sampleEntropy(series: DataFrame, tCol: String, vCol: String,
                    m: Int = 2, rFactor: Double = 0.2): DataFrame = {
    require(m >= 1, s"template length must be >= 1, got $m")
    require(rFactor > 0, s"rFactor must be positive, got $rFactor")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.col(vCol).cast("double").as("__v"))
      .filter(F.col("__t").isNotNull && F.col("__v").isNotNull)
      .localCheckpoint()
    val agg = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__v").as("__sv"),
      F.sum(F.col("__v") * F.col("__v")).as("__svv"))
    val nD = F.col("__n").cast("double")
    val sd = F.sqrt((F.col("__svv") - F.col("__sv") * F.col("__sv") / nD) /
      (nD - 1.0))
    val tol = agg.select(F.col("__n").as("n"),
      (F.lit(rFactor) * sd).as("r_tol"))
    def matchCount(len: Int): DataFrame = {
      val w = Window.orderBy("__t").rowsBetween(0, len - 1)
      val subs = s
        .withColumn("__i",
          F.row_number().over(Window.orderBy("__t")).cast("long") - 1L)
        .withColumn("__sub", F.collect_list("__v").over(w))
        .filter(F.size(F.col("__sub")) === len)
        .select("__i", "__sub")
      subs.crossJoin(subs.select(F.col("__i").as("__j"),
          F.col("__sub").as("__sb")))
        .filter(F.col("__i") < F.col("__j"))
        .crossJoin(F.broadcast(tol))
        .withColumn("__cheb", F.array_max(F.zip_with(
          F.col("__sub"), F.col("__sb"), (x, y) => F.abs(x - y))))
        .agg(F.sum(F.when(F.col("__cheb") <= F.col("r_tol"), 1L)
          .otherwise(0L)).as(s"__c$len"))
    }
    val bC = matchCount(m)
    val aC = matchCount(m + 1)
    tol.crossJoin(F.broadcast(bC)).crossJoin(F.broadcast(aC))
      .select(F.col("n"), F.lit(m.toLong).as("m"),
        F.round(F.col("r_tol"), 6).as("r_tol"),
        F.col(s"__c$m").as("b_pairs"),
        F.col(s"__c${m + 1}").as("a_pairs"),
        F.round(F.when(F.col(s"__c$m") > 0L && F.col(s"__c${m + 1}") > 0L,
          -F.log(F.col(s"__c${m + 1}").cast("double") /
            F.col(s"__c$m").cast("double"))), 6).as("sampen"))
  }

  /** SAX symbolization (Lin et al. 2003) — compress a series into a
    * short SYMBOL WORD (z-normalize → piecewise-aggregate means →
    * Gaussian-quantile alphabet) so series become joinable/groupable
    * strings: two days with the word "ddba" had the same shape, and a
    * corpus of daily shards dedups/clusters on the word. Alphabet 4
    * with the standard breakpoints ±0.674489750196 and 0 (single
    * literals); z-scores from exact integer sufficient statistics;
    * segment ids are exact integer `floor(i·w/T)`.
    *
    * Scale shape: a ROLLED-UP series op — one exact collapse, one
    * broadcast back, one w-row rollup; the word assembles from the
    * sorted w-row table.
    *
    * @return per segment (seg, n, paa, sym) with the full word on every
    *         row, ordered by seg — paa 6-dp
    */
  def sax(series: DataFrame, tCol: String, vCol: String,
          wordSize: Int = 8, scale: Long = 1L): DataFrame = {
    require(wordSize >= 1, s"wordSize must be >= 1, got $wordSize")
    val Bp = 0.6744897501960817
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.round(F.col(vCol).cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__t").isNotNull && F.col("__k").isNotNull)
    val agg = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
      F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val nD = F.col("__n").cast("double")
    val varK = (F.col("__sk2").cast("double") -
      F.col("__sk").cast("double") * F.col("__sk") / nD) / nD
    val z = s.crossJoin(F.broadcast(agg))
      .withColumn("__i",
        F.row_number().over(Window.orderBy("__t")).cast("long") - 1L)
      .withColumn("__z", F.round(
        (F.col("__k").cast("double") - F.col("__sk").cast("double") / nD) /
          F.nullif(F.sqrt(varK), F.lit(0.0)), 9))
      // exact integer floor(i·w/T): Column./ is double — cast restores
      // the floor for the positive operands here
      .withColumn("seg",
        ((F.col("__i") * wordSize.toLong) / F.col("__n")).cast("long"))
    val segs = z.groupBy("seg")
      .agg(F.count(F.lit(1)).as("n"),
        (F.sum("__z") / F.count(F.lit(1)).cast("double")).as("__paa"))
      .withColumn("sym", F.when(F.col("__paa") < -Bp, "a")
        .when(F.col("__paa") < 0.0, "b")
        .when(F.col("__paa") < Bp, "c").otherwise("d"))
    val word = segs.agg(F.array_join(F.transform(
      F.array_sort(F.collect_list(F.struct(F.col("seg"), F.col("sym")))),
      x => x.getField("sym")), "").as("word"))
    segs.crossJoin(F.broadcast(word))
      .select(F.col("seg"), F.col("n"), F.round(F.col("__paa"), 6)
        .as("paa"), F.col("sym"), F.col("word"))
      .orderBy("seg")
  }

  /** Matrix-profile discord scan (the UCR matrix profile, brute-force
    * variant) — WHICH week of the series looks like NO other week (the
    * shape-anomaly question; [[grubbs]] flags one weird DAY, this flags
    * a weird PATTERN): every length-m subsequence's distance to its
    * nearest non-overlapping neighbor, the profile's max = the discord.
    * Plain Euclidean over the raw subsequences; pair distances round
    * 9 dp; argmin ties break on smallest neighbor index, the discord
    * tie on smallest start.
    *
    * Scale shape: a ROLLED-UP series op — subsequence vectors come from
    * one bounded sliding window; the all-pairs join is (T−m+1)² rows of
    * m-wide arrays, bounded because the SERIES is the rollup (days, not
    * events). For long series this is the O(T²m) brute force — bound T
    * upstream (it is a rollup) before reaching for STOMP.
    *
    * @return per start (i, t, j_nn, t_nn, dist, is_discord) ordered by
    *         i — dist 6-dp
    */
  def matrixProfile(series: DataFrame, tCol: String, vCol: String,
                    m: Int = 7): DataFrame = {
    require(m >= 2, s"subsequence length must be >= 2, got $m")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.col(vCol).cast("double").as("__v"))
      .filter(F.col("__t").isNotNull && F.col("__v").isNotNull)
    val w = Window.orderBy("__t").rowsBetween(0, m - 1)
    val subs = s
      .withColumn("__i",
        F.row_number().over(Window.orderBy("__t")).cast("long") - 1L)
      .withColumn("__sub", F.collect_list("__v").over(w))
      .filter(F.size(F.col("__sub")) === m)
      .select(F.col("__i"), F.col("__t"), F.col("__sub"))
      .localCheckpoint()
    val a = subs.select(F.col("__i"), F.col("__t"), F.col("__sub"))
    val b = subs.select(F.col("__i").as("__j"), F.col("__t").as("__tj"),
      F.col("__sub").as("__sb"))
    val pairs = a.crossJoin(b)
      .filter(F.abs(F.col("__i") - F.col("__j")) >= m.toLong)
      .withColumn("__d2", F.round(F.aggregate(
        F.zip_with(F.col("__sub"), F.col("__sb"),
          (x, y) => (x - y) * (x - y)),
        F.lit(0.0d), (acc, x) => acc + x), 9))
    val nn = pairs.withColumn("__rk", F.row_number().over(
        Window.partitionBy("__i").orderBy(F.col("__d2"), F.col("__j"))))
      .filter(F.col("__rk") === 1)
      .withColumn("dist", F.round(F.sqrt(F.col("__d2")), 6))
    nn.withColumn("__drk", F.row_number().over(
        Window.orderBy(F.col("dist").desc, F.col("__t"))))
      .select(F.col("__i").as("i"), F.col("__t").as("t"),
        F.col("__j").as("j_nn"), F.col("__tj").as("t_nn"),
        F.col("dist"), (F.col("__drk") === 1).as("is_discord"))
      .orderBy("i")
  }

  /** Trend + seasonal strength decomposition (the [[periodogram]]'s
    * scalar companion, Hyndman's F_T/F_S): detrend by the closed-form
    * OLS line, estimate the seasonal component as period-position means
    * of the residual, and read how much variance each layer explains:
    * {{{
    *   F_T = max(0, 1 − Var(detrended)/Var(y)),
    *   F_S = max(0, 1 − Var(remainder)/Var(detrended))
    * }}}
    * The fit comes from exact integer sufficient statistics; residuals
    * and remainders round 9 dp; variances are population moments of
    * 9-dp terms (positive Σ² sums).
    *
    * Scale shape: a ROLLED-UP series op — the bounded series scans
    * thrice (fit, position means, variances) with 1-row/period-row
    * broadcasts between.
    *
    * @return one row (n, var_total, var_detrended, var_remainder,
    *         trend_strength, seasonal_strength) — 6-dp
    */
  def seasonalStrength(series: DataFrame, tCol: String, vCol: String,
                       period: Int = 7): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.col(vCol).cast("double").as("__y"))
      .filter(F.col("__t").isNotNull && F.col("__y").isNotNull)
    val fit = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__t").as("__sx"),
      F.sum("__y").as("__sy"),
      F.sum(F.col("__t") * F.col("__t")).as("__sxx"),
      F.sum(F.col("__t").cast("double") * F.col("__y")).as("__sxy"))
    val nD = F.col("__n").cast("double")
    val b = (nD * F.col("__sxy") -
        F.col("__sx").cast("double") * F.col("__sy")) /
      (nD * F.col("__sxx").cast("double") -
        F.col("__sx").cast("double") * F.col("__sx"))
    val a = F.col("__sy") / nD - b * (F.col("__sx").cast("double") / nD)
    val det = s.crossJoin(F.broadcast(fit))
      .withColumn("__d", F.round(
        F.col("__y") - (a + b * F.col("__t").cast("double")), 9))
      .withColumn("__pos", F.pmod(F.col("__t"), F.lit(period.toLong)))
    val posMeans = det.groupBy("__pos")
      .agg((F.sum("__d") / F.count(F.lit(1)).cast("double")).as("__pm"))
    val r = det.join(F.broadcast(posMeans), Seq("__pos"))
      .withColumn("__r", F.round(F.col("__d") - F.col("__pm"), 9))
    val g = r.agg(F.max("__n").as("n"),
      F.sum("__y").as("__ty"), F.sum(F.col("__y") * F.col("__y")).as("__tyy"),
      F.sum("__d").as("__td"), F.sum(F.col("__d") * F.col("__d")).as("__tdd"),
      F.sum("__r").as("__tr"), F.sum(F.col("__r") * F.col("__r")).as("__trr"))
    val n2 = F.col("n").cast("double")
    def popVar(sum: Column, sumSq: Column) =
      (sumSq - sum * sum / n2) / n2
    val vy = popVar(F.col("__ty"), F.col("__tyy"))
    val vd = popVar(F.col("__td"), F.col("__tdd"))
    val vr = popVar(F.col("__tr"), F.col("__trr"))
    g.select(F.col("n"), F.round(vy, 6).as("var_total"),
      F.round(vd, 6).as("var_detrended"),
      F.round(vr, 6).as("var_remainder"),
      F.round(F.greatest(F.lit(0.0), F.lit(1.0) -
        vd / F.nullif(vy, F.lit(0.0))), 6).as("trend_strength"),
      F.round(F.greatest(F.lit(0.0), F.lit(1.0) -
        vr / F.nullif(vd, F.lit(0.0))), 6).as("seasonal_strength"))
  }

  /** Precision–recall AUC (average precision over a score ranking) —
    * the imbalance-honest companion to [[aucExact]]: ROC-AUC stays
    * rosy at 1:1000 prevalence, PR-AUC does not. Tie groups score as a
    * block (each positive in a distinct-score group contributes that
    * group's trailing precision — deterministic, no within-tie order):
    * {{{
    *   AP = Σ_groups np_g · (cumPos_g / cumAll_g) / n_pos
    * }}}
    * All counts are exact integer cumsums; per-group terms round 9 dp.
    *
    * Scale shape: the [[rankSum]] discipline — distinct-score collapse,
    * one bounded window, a 1-row result.
    *
    * @return one row (n_pos, n_neg, pr_auc, baseline) — 6-dp; baseline
    *         is the prevalence n_pos/n (the no-skill PR-AUC)
    */
  def prAuc(df: DataFrame, scoreCol: Column,
            labelCol: Column): DataFrame = {
    val byV = df.select(scoreCol.cast("double").as("__v"),
        F.when(labelCol, 1L).otherwise(0L).as("__p"))
      .groupBy("__v")
      .agg(F.sum("__p").as("__np"), F.count(F.lit(1)).as("__t"))
    val w = Window.orderBy(F.col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = byV
      .withColumn("__cp", F.sum("__np").over(w))
      .withColumn("__ca", F.sum("__t").over(w))
      .withColumn("__term", F.round(F.col("__np").cast("double") *
        (F.col("__cp").cast("double") / F.col("__ca").cast("double")), 9))
    val g = curve.agg(F.sum("__np").as("n_pos"),
      (F.sum("__t") - F.sum("__np")).as("n_neg"),
      F.sum("__term").as("__s"))
    g.select(F.col("n_pos"), F.col("n_neg"),
      F.round(F.col("__s") /
        F.nullif(F.col("n_pos").cast("double"), F.lit(0.0)), 6)
        .as("pr_auc"),
      F.round(F.col("n_pos").cast("double") /
        (F.col("n_pos") + F.col("n_neg")).cast("double"), 6)
        .as("baseline"))
  }

  /** Cross-correlation function — at WHICH lag does x lead y ("clicks
    * today, purchases in two days"; [[grangerLag1]] tests one lag's
    * significance, the CCF maps the whole lead–lag profile): Pearson r
    * of (y_t, x_{t−lag}) per lag over the zero-filled shared grid, from
    * `scale`-quantized exact integer sums; the peak flags max |r|
    * (tie: smallest lag).
    *
    * Scale shape: a ROLLED-UP series op — one lag-range explode over
    * the bounded grid, a per-lag self-join on day keys, per-lag exact
    * collapses.
    *
    * @return per lag (lag, n, r, is_peak) ordered by lag — 6-dp; r NULL
    *         when either side is constant on the overlap
    */
  def ccf(ydf: DataFrame, xdf: DataFrame, tCol: String, vCol: String,
          maxLag: Int = 7, scale: Long = 1L): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    def q(df: DataFrame, name: String) = df
      .select(F.col(tCol).cast("long").as("t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long").as(name))
    val grid = q(ydf, "__y").join(q(xdf, "__x"), Seq("t"), "full")
      .select(F.col("t"), F.coalesce(F.col("__y"), F.lit(0L)).as("__y"),
        F.coalesce(F.col("__x"), F.lit(0L)).as("__x"))
      .localCheckpoint()
    val lags = grid
      .withColumn("lag", F.explode(F.sequence(F.lit(-maxLag.toLong),
        F.lit(maxLag.toLong))))
      .select(F.col("lag"), F.col("t"), F.col("__y"))
    val joined = lags.join(
      grid.select((F.col("t")).as("__ts"), F.col("__x")),
      F.col("__ts") === F.col("t") - F.col("lag"))
    val byLag = joined.groupBy("lag").agg(F.count(F.lit(1)).as("n"),
      F.sum("__y").as("__sy"), F.sum("__x").as("__sx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__x")).as("__sxy"))
    val nD = F.col("n").cast("double")
    val num = nD * F.col("__sxy").cast("double") -
      F.col("__sy").cast("double") * F.col("__sx").cast("double")
    val den = F.sqrt(F.nullif(
      (nD * F.col("__syy").cast("double") -
        F.col("__sy").cast("double") * F.col("__sy").cast("double")) *
      (nD * F.col("__sxx").cast("double") -
        F.col("__sx").cast("double") * F.col("__sx").cast("double")),
      F.lit(0.0)))
    val withR = byLag.withColumn("r", F.round(num / den, 6))
    withR.withColumn("__rk", F.row_number().over(
        Window.orderBy(F.abs(F.col("r")).desc_nulls_last, F.col("lag"))))
      .select(F.col("lag"), F.col("n"), F.col("r"),
        (F.col("__rk") === 1).as("is_peak"))
      .orderBy("lag")
  }

  /** ANOVA effect sizes — HOW MUCH of the variance the grouping
    * explains, where [[anovaF]]'s F only says whether it's nonzero
    * (η² the raw share, ω² its small-sample-unbiased correction,
    * Cohen's f the power-analysis input [[mdePower]] wants):
    * {{{
    *   η² = SSB/SST,  ω² = (SSB − (k−1)·MSW)/(SST + MSW),
    *   f  = √(η²/(1−η²))
    * }}}
    * SSB comes from ALL-POSITIVE per-group terms n_g(x̄_g − x̄)² (the
    * icc1 tri-scale rule) over `scale`-quantized exact sufficient
    * statistics.
    *
    * Scale shape: one keyed collapse to k rows, one 1-row broadcast
    * back for the grand-mean-centered pass.
    *
    * @return one row (k, n, ss_between, ss_within, eta2, omega2,
    *         cohens_f) — 6-dp; NULL effect sizes when SST = 0
    */
  def anovaEffects(df: DataFrame, keyCol: Column, valueCol: Column,
                   scale: Long = 1L): DataFrame = {
    val byG = df.select(keyCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val tot = byG.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum("__sk").as("__tsk"))
    val s2 = F.lit(1.0) / (F.lit(scale).cast("double") * F.lit(scale))
    val nD = F.col("__n").cast("double")
    val j = byG.crossJoin(F.broadcast(tot))
      .withColumn("__grand", F.col("__tsk").cast("double") /
        F.col("n").cast("double"))
      .withColumn("__meang", F.col("__sk").cast("double") / nD)
      .withColumn("__bt", F.round(nD *
        (F.col("__meang") - F.col("__grand")) *
        (F.col("__meang") - F.col("__grand")) * s2, 9))
      .withColumn("__wg", F.round((F.col("__sk2").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk") / nD) * s2, 9))
    val g = j.agg(F.max("k").as("k"), F.max("n").as("n"),
      F.sum("__bt").as("__ssb"), F.sum("__wg").as("__ssw"))
    val kD = F.col("k").cast("double")
    val nTot = F.col("n").cast("double")
    val sst = F.col("__ssb") + F.col("__ssw")
    val msw = F.col("__ssw") / F.nullif(nTot - kD, F.lit(0.0))
    val eta2 = F.col("__ssb") / F.nullif(sst, F.lit(0.0))
    g.select(F.col("k"), F.col("n"),
      F.round(F.col("__ssb"), 6).as("ss_between"),
      F.round(F.col("__ssw"), 6).as("ss_within"),
      F.round(eta2, 6).as("eta2"),
      F.round((F.col("__ssb") - (kD - 1.0) * msw) /
        F.nullif(sst + msw, F.lit(0.0)), 6).as("omega2"),
      F.round(F.sqrt(eta2 / F.nullif(F.lit(1.0) - eta2, F.lit(0.0))), 6)
        .as("cohens_f"))
  }

  /** Kolmogorov–Smirnov separation of a classifier score — the max
    * TPR−FPR gap over all thresholds (the credit-scoring "KS statistic":
    * where [[aucExact]] integrates separation, KS reports the single
    * best operating point and WHERE it is): with scores sorted
    * descending, TPR and FPR are exact integer-cumsum rationals, so the
    * whole curve is engine-exact; the argmax tie-breaks on the lower
    * score (the more inclusive threshold).
    *
    * Scale shape: the [[rankSum]] discipline — subjects collapse
    * map-side to distinct score values; one bounded value-domain window;
    * a 1-row rank-filter.
    *
    * @return one row (n_pos, n_neg, ks, score_at) — 6-dp; NULL ks when
    *         a class is empty
    */
  def ksSeparation(df: DataFrame, scoreCol: Column,
                   labelCol: Column): DataFrame = {
    val byV = df.select(scoreCol.cast("double").as("__v"),
        F.when(labelCol, 1L).otherwise(0L).as("__p"))
      .groupBy("__v")
      .agg(F.sum("__p").as("__np"), F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__np").as("__pp"),
      (F.sum("__t") - F.sum("__np")).as("__nn"))
    val w = Window.orderBy(F.col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = byV.crossJoin(F.broadcast(tot))
      .withColumn("__cp", F.sum("__np").over(w))
      .withColumn("__cn", F.sum(F.col("__t") - F.col("__np")).over(w))
      .withColumn("__diff", F.abs(
        F.col("__cp").cast("double") /
          F.nullif(F.col("__pp").cast("double"), F.lit(0.0)) -
        F.col("__cn").cast("double") /
          F.nullif(F.col("__nn").cast("double"), F.lit(0.0))))
    curve.withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("__diff").desc_nulls_last, F.col("__v"))))
      .filter(F.col("__rk") === 1)
      .select(F.col("__pp").as("n_pos"), F.col("__nn").as("n_neg"),
        F.round(F.col("__diff"), 6).as("ks"),
        F.round(F.col("__v"), 6).as("score_at"))
  }

  /** Adjusted Rand index + normalized mutual information between two
    * partitions of the same rows — DID the clustering find the real
    * structure (k-means cells vs gold labels, two dedup runs, source vs
    * language), permutation-invariant where plain accuracy is not:
    * {{{
    *   ARI = (Σc − E) / (½(Σa+Σb) − E),  E = Σa·Σb / C(n,2)
    *   NMI = MI / ((H_a + H_b)/2)        (arithmetic normalization)
    * }}}
    * Pair counts C(·,2) are exact longs; MI/entropy ln terms are cell-
    * bounded and round 9 dp.
    *
    * Scale shape: one (a, b) contingency rollup (k_a·k_b cells), two
    * margin rollups, scalar algebra.
    *
    * @return one row (n, k_a, k_b, ari, nmi) — 6-dp; ARI NULL when
    *         either partition is a single block of everything (E equals
    *         the max index), NMI NULL when both entropies are 0
    */
  /** Upper-tail VaR + CVaR (expected shortfall, Rockafellar-Uryasev
    * 2000) per group — the risk readout the mean hides: VaR_α is the
    * k-th largest value (k = ⌈(1−α)·n⌉), CVaR_α the mean of the rows
    * AT OR ABOVE it (ties included — the distinct-value-ladder
    * convention of x218/x198: ties stay together, so both engines
    * agree on the tail membership without a row-level sort).
    *
    * Determinism: ladder counts are exact longs; tail sums accumulate
    * v·c terms 9-dp rounded as DECIMAL down the desc ladder (a window
    * over the bounded distinct-value ladder, not over corpus rows).
    *
    * @return per group: (groupCols…, n, k_tail, var_alpha, tail_n,
    *         cvar_alpha) — 6-dp
    */
  def cvarTail(df: DataFrame, groupCols: Seq[String], value: Column,
               alpha: Double = 0.95): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val gs = groupCols.map(F.col)
    val byV = df.select(gs :+ value.cast("double").as("__v"): _*)
      .filter(F.col("__v").isNotNull)
      .groupBy(gs :+ F.col("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val w = Window.partitionBy(gs: _*).orderBy(F.col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = byV
      .withColumn("__cum", F.sum("__c").over(w))
      .withColumn("__csum", F.sum(F.round(F.col("__v") *
        F.col("__c").cast("double"), 9).cast("decimal(38,9)")).over(w))
    val nTab = byV.groupBy(gs: _*).agg(F.sum("__c").as("__n"))
    val scored = lad.join(nTab, groupCols)
      .withColumn("__k",
        F.ceil(F.lit(1.0 - alpha) * F.col("__n").cast("double")))
      .filter(F.col("__cum") >= F.col("__k"))
    val first = Window.partitionBy(gs: _*).orderBy(F.col("__v").desc)
    scored.withColumn("__rk", F.row_number().over(first))
      .filter(F.col("__rk") === 1)
      .select(gs ++ Seq(F.col("__n").as("n"), F.col("__k").as("k_tail"),
        F.round(F.col("__v"), 6).as("var_alpha"),
        F.col("__cum").as("tail_n"),
        F.round(F.col("__csum").cast("double") /
          F.col("__cum").cast("double"), 6).as("cvar_alpha")): _*)
      .orderBy(gs: _*)
  }

  /** Coarsened exact matching + ATT (Iacus, King & Porro 2012) — the
    * causal sibling of x238's diff-in-diff and x197's CUPED for when
    * treatment was NOT randomized: units match exactly on COARSENED
    * covariates (the caller passes already-bucketed columns — the
    * coarsening IS the analyst's bandwidth choice), cells missing
    * either arm drop out (that is the point: no extrapolation), and
    * controls reweight so each matched cell's controls count as much
    * as its treated:
    * {{{
    *   w_s(control) = m_T^s / m_C^s          (per matched cell s)
    *   ATT = Σ_s S_T^s / M_T  −  Σ_s w_s·S_C^s / M_T
    * }}}
    * The pruned share rides along — a large `unmatched_treated_share`
    * means the estimate covers a subpopulation and says so loudly.
    *
    * Determinism: counts are exact longs; outcome sums are 9-dp
    * rounded DECIMAL per cell (the x346 rule); the per-cell reweighted
    * terms (one IEEE multiply/divide each) are 9-dp rounded before the
    * final DECIMAL sum over cells.
    *
    * Scale shape: one (cell, arm) collapse with map-side partials,
    * then everything is cell-bounded algebra — no pair joins, no
    * windows, no driver state.
    *
    * @return one row (n_treated, n_control, n_cells_matched,
    *         n_treated_matched, n_control_matched,
    *         unmatched_treated_share, mean_treated, mean_control_w,
    *         att) — 6-dp, ATT carries the sign-of-zero canon
    */
  def cemAtt(df: DataFrame, treated: Column, outcome: Column,
             cellCols: Seq[Column]): DataFrame = {
    require(cellCols.nonEmpty, "need at least one coarsened covariate")
    val base = df.select(treated.cast("boolean").as("__t"),
        F.round(outcome.cast("double"), 9).cast("decimal(38,9)")
          .as("__y"),
        F.concat_ws("|", cellCols.map(_.cast("string")): _*).as("__cell"))
      .filter(F.col("__t").isNotNull && F.col("__y").isNotNull)
    val byCell = base.groupBy("__cell")
      .agg(F.sum(F.when(F.col("__t"), 1L).otherwise(0L)).as("__mt"),
        F.sum(F.when(!F.col("__t"), 1L).otherwise(0L)).as("__mc"),
        F.sum(F.when(F.col("__t"), F.col("__y"))
          .otherwise(F.lit(0).cast("decimal(38,9)"))).as("__st"),
        F.sum(F.when(!F.col("__t"), F.col("__y"))
          .otherwise(F.lit(0).cast("decimal(38,9)"))).as("__sc"))
      .localCheckpoint()
    val tot = byCell.agg(F.sum("__mt").as("n_treated"),
      F.sum("__mc").as("n_control"))
    val matched = byCell.filter(F.col("__mt") > 0L && F.col("__mc") > 0L)
    val magg = matched.agg(
      F.count(F.lit(1)).as("n_cells_matched"),
      F.sum("__mt").as("n_treated_matched"),
      F.sum("__mc").as("n_control_matched"),
      F.sum("__st").as("__stm"),
      F.sum(F.round(F.col("__mt").cast("double") /
          F.col("__mc").cast("double") * F.col("__sc").cast("double"), 9)
        .cast("decimal(38,9)")).as("__scw"))
    tot.crossJoin(F.broadcast(magg))
      .select(F.col("n_treated"), F.col("n_control"),
        F.col("n_cells_matched"), F.col("n_treated_matched"),
        F.col("n_control_matched"),
        F.round((F.col("n_treated") - F.col("n_treated_matched"))
          .cast("double") /
          F.nullif(F.col("n_treated").cast("double"), F.lit(0.0)), 6)
          .as("unmatched_treated_share"),
        F.round(F.col("__stm").cast("double") /
          F.nullif(F.col("n_treated_matched").cast("double"),
            F.lit(0.0)), 6).as("mean_treated"),
        F.round(F.col("__scw").cast("double") /
          F.nullif(F.col("n_treated_matched").cast("double"),
            F.lit(0.0)), 6).as("mean_control_w"),
        Quant.noNegZero(F.round(
          F.col("__stm").cast("double") /
            F.nullif(F.col("n_treated_matched").cast("double"),
              F.lit(0.0)) -
          F.col("__scw").cast("double") /
            F.nullif(F.col("n_treated_matched").cast("double"),
              F.lit(0.0)), 6)).as("att"))
  }

  /** Entropic optimal-transport distance between two empirical
    * distributions over a PINNED value grid — Sinkhorn-Knopp scaling
    * (Cuturi, NeurIPS 2013), the distribution-shift readout that knows
    * the METRIC of the support where x206's PSI and x350's JS treat
    * cells as unordered symbols: mass moved two cells costs twice mass
    * moved one, so a small shift of a long-tailed length histogram
    * scores small even when every cell's share changed.
    * {{{
    *   K_ij = exp(−|i−j| / reg)                 (Gibbs kernel)
    *   repeat: u = r ⊘ (K v);  v = c ⊘ (Kᵀ u)   (v starts at 1)
    *   cost  = Σ_ij u_i K_ij v_j · |i−j|        (entropic OT cost,
    *                                             in CELL units)
    * }}}
    * Engine-replay determinism: kernel entries, every scaling vector,
    * and every inner-product term are 9-dp rounded per round; the
    * bounded inner products DECIMAL-accumulate (the x346 rule), so the
    * fixed iteration count replays bit-identically — the x452/x454
    * generated-round oracle convention. Zero-mass cells stay zero
    * (u_i = 0/pos = 0); the kernel diagonal is 1 so the denominators
    * are always positive.
    *
    * Scale shape: ONE corpus pass collapses to the two ≤nCells
    * histograms; everything after is (nCells²)-bounded join+rollup
    * rounds — no driver state, no per-round action, no corpus rescan.
    * Marginal residuals ride along: a large `row_err`/`col_err` means
    * `iters` was too small for the chosen `reg` — the convergence
    * audit is part of the release, not a silent assumption.
    *
    * @return one row (n_a, n_b, cells, iters, sinkhorn_cost, row_err,
    *         col_err) — cost in cell units, 6-dp
    */
  def sinkhorn(df: DataFrame, valueCol: String, isA: Column, isB: Column,
               lo: Long, hi: Long, grid: Long, reg: Double = 2.0,
               iters: Int = 12): DataFrame = {
    require(lo < hi && grid > 0 && (hi - lo) % grid == 0,
      s"need lo < hi and grid dividing hi-lo, got [$lo,$hi] step $grid")
    require(reg > 0.0, s"reg must be positive, got $reg")
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    val nCells = ((hi - lo) / grid).toInt
    require(nCells <= 64,
      s"$nCells cells — the kernel is nCells² and broadcast; coarsen")
    val spark = df.sparkSession
    val clamped = F.greatest(F.lit(lo),
      F.least(F.lit(hi), F.col(valueCol).cast("long")))
    val cellOf = F.least(F.floor((clamped - F.lit(lo)) / F.lit(grid)),
      F.lit(nCells - 1L))
    def hist(tag: Column, side: String): DataFrame = {
      val counts = df.filter(tag && F.col(valueCol).isNotNull)
        .select(cellOf.as("__cell"))
        .groupBy("__cell").agg(F.count(F.lit(1)).as("__c"))
      spark.range(0, nCells.toLong).select(F.col("id").as("__cell"))
        .join(counts, Seq("__cell"), "left")
        .select(F.col("__cell"),
          F.coalesce(F.col("__c"), F.lit(0L)).as(s"__n$side"))
        .withColumn(s"__$side", F.round(
          F.col(s"__n$side").cast("double") /
            F.sum(s"__n$side").over(Window.partitionBy()), 9))
    }
    // checkpoint the two histograms: they are re-referenced every
    // round (u-update, residuals, totals) and would otherwise re-scan
    // the corpus once per reference. Every bounded table coalesces to
    // ONE partition first — a <=cells^2-row table split over the
    // default 32 shuffle partitions costs 32 task launches per round
    // x 24 checkpoint rounds of pure scheduler overhead (measured: the
    // r17 ledger run read 24 s of task time on 16-cell tables)
    val r = hist(isA, "a").select(F.col("__cell").as("__i"),
      F.col("__na"), F.col("__a")).coalesce(1).localCheckpoint()
    val c = hist(isB, "b").select(F.col("__cell").as("__j"),
      F.col("__nb"), F.col("__b")).coalesce(1).localCheckpoint()
    val kern = spark.range(0, nCells.toLong).select(F.col("id").as("__i"))
      .crossJoin(spark.range(0, nCells.toLong)
        .select(F.col("id").as("__j")))
      .select(F.col("__i"), F.col("__j"),
        F.round(F.exp(-F.abs(F.col("__i") - F.col("__j"))
          .cast("double") / F.lit(reg)), 9).as("__k"),
        F.abs(F.col("__i") - F.col("__j")).cast("double").as("__cost"))
      .coalesce(1).localCheckpoint()
    var u = r.select(F.col("__i"), F.lit(1.0).as("__u"))
    var v = c.select(F.col("__j"), F.lit(1.0).as("__v"))
    var it = 0
    while (it < iters) {
      val kv = kern.join(F.broadcast(v), "__j")
        .groupBy("__i").agg(F.sum(Quant.dec9(F.col("__k") * F.col("__v")))
          .as("__kv"))
      u = r.join(F.broadcast(kv), "__i")
        .select(F.col("__i"), F.round(F.col("__a") /
          F.col("__kv").cast("double"), 9).as("__u"))
        .coalesce(1).localCheckpoint()
      val ku = kern.join(F.broadcast(u), "__i")
        .groupBy("__j").agg(F.sum(Quant.dec9(F.col("__k") * F.col("__u")))
          .as("__ku"))
      v = c.join(F.broadcast(ku), "__j")
        .select(F.col("__j"), F.round(F.col("__b") /
          F.col("__ku").cast("double"), 9).as("__v"))
        .coalesce(1).localCheckpoint()
      it += 1
    }
    val plan = kern.join(F.broadcast(u), "__i").join(F.broadcast(v), "__j")
      .select(F.col("__i"), F.col("__j"),
        F.round(F.col("__u") * F.col("__k") * F.col("__v"), 9)
          .as("__pi"), F.col("__cost"))
    val cost = plan.agg(
      F.sum(Quant.dec9(F.col("__pi") * F.col("__cost"))).as("__tc"))
    val rowErr = plan.groupBy("__i")
      .agg(F.sum(Quant.dec9(F.col("__pi"))).as("__rm"))
      .join(r, "__i")
      .agg(F.sum(Quant.dec9(F.abs(F.col("__rm").cast("double") -
        F.col("__a")))).as("__re"))
    val colErr = plan.groupBy("__j")
      .agg(F.sum(Quant.dec9(F.col("__pi"))).as("__cm"))
      .join(c, "__j")
      .agg(F.sum(Quant.dec9(F.abs(F.col("__cm").cast("double") -
        F.col("__b")))).as("__ce"))
    val na = r.agg(F.sum("__na").as("n_a"))
    val nb = c.agg(F.sum("__nb").as("n_b"))
    na.crossJoin(nb).crossJoin(cost).crossJoin(rowErr).crossJoin(colErr)
      .select(F.col("n_a"), F.col("n_b"),
        F.lit(nCells.toLong).as("cells"), F.lit(iters.toLong).as("iters"),
        F.round(F.col("__tc").cast("double"), 6).as("sinkhorn_cost"),
        F.round(F.col("__re").cast("double"), 6).as("row_err"),
        F.round(F.col("__ce").cast("double"), 6).as("col_err"))
  }

  /** B-cubed precision/recall/F1 (Bagga & Baldwin 1998) between a
    * predicted and a gold partition of the same rows — THE entity-
    * resolution/coreference companion to [[ariNmi]]: where ARI scores
    * pair decisions globally, B³ averages each ITEM's own precision
    * (how pure is my predicted cluster?) and recall (how much of my
    * gold cluster did my predicted cluster capture?), so it rewards
    * splitting a garbage cluster and penalizes chaining distinct
    * entities — the dedup-pipeline failure modes:
    * {{{
    *   P  = (1/N) Σ_items |C(i) ∩ T(i)| / |C(i)|
    *      = (1/N) Σ_{c,t} n_ct² / n_c      (identical-cell collapse)
    *   R  = (1/N) Σ_{c,t} n_ct² / n_t
    *   F1 = 2PR / (P + R)
    * }}}
    * Per-cell terms n_ct²/n_· are divisions (off-grid), so each is
    * 9-dp rounded and DECIMAL-accumulated (the x346 rule); counts are
    * exact longs. NULL rows in either column are dropped loudly by the
    * filter (a NULL cluster id is not a cluster).
    *
    * Scale shape: one (pred, gold) contingency rollup (k_c·k_t cells)
    * + two margin rollups joined back on their keys — all map-side-
    * combined hash aggregations, nothing driver-side, no window.
    *
    * @return one row (n, k_pred, k_gold, b3_precision, b3_recall,
    *         b3_f1) — 6-dp
    */
  def bcubed(df: DataFrame, predCol: Column, goldCol: Column): DataFrame = {
    val cells = df.select(predCol.cast("string").as("__c"),
        goldCol.cast("string").as("__t"))
      .filter(F.col("__c").isNotNull && F.col("__t").isNotNull)
      .groupBy("__c", "__t").agg(F.count(F.lit(1)).as("__nct"))
    val cM = cells.groupBy("__c").agg(F.sum("__nct").as("__nc"))
    val tM = cells.groupBy("__t").agg(F.sum("__nct").as("__nt"))
    val sq = F.col("__nct").cast("double") * F.col("__nct").cast("double")
    val terms = cells.join(cM, "__c").join(tM, "__t")
      .select(
        F.col("__nct"),
        F.round(sq / F.col("__nc").cast("double"), 9)
          .cast("decimal(38,9)").as("__tp"),
        F.round(sq / F.col("__nt").cast("double"), 9)
          .cast("decimal(38,9)").as("__tr"))
    val kC = cM.agg(F.count(F.lit(1)).as("k_pred"))
    val kT = tM.agg(F.count(F.lit(1)).as("k_gold"))
    val agg = terms.agg(F.sum("__nct").as("n"),
      F.sum("__tp").as("__sp"), F.sum("__tr").as("__sr"))
    val p = F.col("__sp").cast("double") / F.col("n").cast("double")
    val r = F.col("__sr").cast("double") / F.col("n").cast("double")
    agg.crossJoin(F.broadcast(kC)).crossJoin(F.broadcast(kT))
      .select(F.col("n"), F.col("k_pred"), F.col("k_gold"),
        F.round(p, 6).as("b3_precision"),
        F.round(r, 6).as("b3_recall"),
        F.round(F.lit(2.0) * p * r / F.nullif(p + r, F.lit(0.0)), 6)
          .as("b3_f1"))
  }

  def ariNmi(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    def c2(n: Column) = n * (n - 1L) / F.lit(2L)
    val cells = df.select(aCol.cast("string").as("__a"),
        bCol.cast("string").as("__b"))
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__nij"))
    val aM = cells.groupBy("__a").agg(F.sum("__nij").as("__ai"))
      .agg(F.count(F.lit(1)).as("k_a"),
        F.sum(c2(F.col("__ai"))).as("__sa"), F.sum("__ai").as("n"))
    val bM = cells.groupBy("__b").agg(F.sum("__nij").as("__bj"))
      .agg(F.count(F.lit(1)).as("k_b"),
        F.sum(c2(F.col("__bj"))).as("__sb"))
    val cS = cells.agg(F.sum(c2(F.col("__nij"))).as("__sc"))
    // MI terms need the margins per cell — join them back, cell-bounded
    val aTot = cells.groupBy("__a").agg(F.sum("__nij").as("__ai"))
    val bTot = cells.groupBy("__b").agg(F.sum("__nij").as("__bj"))
    val nRow = aM.select(F.col("n"))
    val miTerms = cells.join(F.broadcast(aTot), "__a")
      .join(F.broadcast(bTot), "__b").crossJoin(F.broadcast(nRow))
      .withColumn("__mi", F.round(
        F.col("__nij").cast("double") / F.col("n").cast("double") *
          F.log(F.col("n").cast("double") * F.col("__nij").cast("double") /
            (F.col("__ai").cast("double") * F.col("__bj").cast("double"))),
        9))
      .agg(F.sum("__mi").as("__smi"))
    def entropy(m: DataFrame, c: String) = m.crossJoin(F.broadcast(nRow))
      .withColumn("__h", F.round(
        -(F.col(c).cast("double") / F.col("n").cast("double")) *
          F.log(F.col(c).cast("double") / F.col("n").cast("double")), 9))
      .agg(F.sum("__h").as(s"__h$c"))
    val g = aM.crossJoin(F.broadcast(bM)).crossJoin(F.broadcast(cS))
      .crossJoin(F.broadcast(miTerms))
      .crossJoin(F.broadcast(entropy(aTot, "__ai")))
      .crossJoin(F.broadcast(entropy(bTot, "__bj")))
    val nD = F.col("n").cast("double")
    val e = F.col("__sa").cast("double") * F.col("__sb").cast("double") /
      (nD * (nD - 1.0) / 2.0)
    val ari = (F.col("__sc").cast("double") - e) / F.nullif(
      (F.col("__sa") + F.col("__sb")).cast("double") / 2.0 - e,
      F.lit(0.0))
    val nmi = F.col("__smi") / F.nullif(
      (F.col("__h__ai") + F.col("__h__bj")) / 2.0, F.lit(0.0))
    g.select(F.col("n"), F.col("k_a"), F.col("k_b"),
      F.round(ari, 6).as("ari"), F.round(nmi, 6).as("nmi"))
  }

  /** Discrete periodogram — WHICH cycle dominates a series ("is this
    * weekly or monthly seasonality" asked of the data instead of
    * assumed, the upstream question for [[snaiveBacktest]]'s season
    * parameter): DFT power at integer frequencies k = 1..maxK over the
    * mean-centered series,
    * {{{
    *   P_k = (Σ c_t·cos(2πkt/T))² + (Σ c_t·sin(2πkt/T))²
    * }}}
    * Angles reduce through the exact integer (k·t) mod T before the one
    * libm cos/sin touch; trig terms round 9 dp before the orderless
    * sums; the peak flag tie-breaks on smallest k.
    *
    * Scale shape: a ROLLED-UP series op — the T×maxK term grid is
    * bounded (days × candidate periods); one grouped collapse per k.
    *
    * @return per k (k, period, power, is_peak) ordered by k — 6-dp
    */
  def periodogram(series: DataFrame, tCol: String, vCol: String,
                  maxK: Int = 30): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    val TwoPi = 6.283185307179586
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.col(vCol).cast("double").as("__v"))
    val tot = s.agg(F.count(F.lit(1)).as("__tn"), F.sum("__v").as("__sv"))
    val idx = s.crossJoin(F.broadcast(tot))
      .withColumn("__i",
        F.row_number().over(Window.orderBy("__t")).cast("long") - 1L)
      .withColumn("__c",
        F.col("__v") - F.col("__sv") / F.col("__tn").cast("double"))
    val terms = idx
      // greatest(1, …) + re-filter: sequence(1, 0) would DESCEND on a
      // degenerate 1-point series instead of being empty
      .withColumn("__k", F.explode(F.sequence(F.lit(1L),
        F.greatest(F.lit(1L),
          F.least(F.lit(maxK.toLong), (F.col("__tn") / 2).cast("long"))))))
      .filter(F.col("__k") <= (F.col("__tn") / 2).cast("long"))
      .withColumn("__ang", F.lit(TwoPi) *
        ((F.col("__k") * F.col("__i")) % F.col("__tn")).cast("double") /
        F.col("__tn").cast("double"))
      .withColumn("__ct", F.round(F.col("__c") * F.cos(F.col("__ang")), 9))
      .withColumn("__st", F.round(F.col("__c") * F.sin(F.col("__ang")), 9))
    val byK = terms.groupBy("__k")
      .agg(F.max("__tn").as("__tn2"), F.sum("__ct").as("__sc"),
        F.sum("__st").as("__ss"))
      .withColumn("power", F.round(F.col("__sc") * F.col("__sc") +
        F.col("__ss") * F.col("__ss"), 6))
    byK.withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("power").desc, F.col("__k"))))
      .select(F.col("__k").as("k"),
        F.round(F.col("__tn2").cast("double") /
          F.col("__k").cast("double"), 6).as("period"),
        F.col("power"), (F.col("__rk") === 1).as("is_peak"))
      .orderBy("k")
  }

  /** Cochran's C — which single group owns the variance ("is the
    * spread homogeneity failure ONE bad cohort or everywhere", the
    * pointed follow-up to a rejected [[bartlett]]): C = max s²_i / Σs²_i
    * with the offending group named. Exceeding the C table's critical
    * value flags that group as the variance outlier. `scale`-quantized
    * exact sufficient statistics; argmax tie-breaks on group name.
    *
    * Scale shape: one keyed collapse to k rows, one rank-filter.
    *
    * @return one row (k, n, g_max, s2_max, s2_sum, c) — 6-dp; NULL
    *         c when any group has n_i < 2 or all variances are 0
    */
  def cochranC(df: DataFrame, keyCol: Column, valueCol: Column,
               scale: Long = 1L): DataFrame = {
    val byG = df.select(keyCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val nD = F.col("__n").cast("double")
    val s2 = F.lit(1.0) / (F.lit(scale).cast("double") * F.lit(scale))
    val vi = F.when(F.col("__n") >= 2L,
      (F.col("__sk2").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk") / nD) /
        (nD - 1.0) * s2)
    val rows = byG.withColumn("__vi", F.round(vi, 9))
    val g = rows.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum("__vi").as("__sv2"), F.count("__vi").as("__kv"))
    rows.crossJoin(F.broadcast(g))
      .withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("__vi").desc_nulls_last, F.col("__g"))))
      .filter(F.col("__rk") === 1)
      .select(F.col("k"), F.col("n"), F.col("__g").as("g_max"),
        F.round(F.col("__vi"), 6).as("s2_max"),
        F.round(F.col("__sv2"), 6).as("s2_sum"),
        F.round(F.when(F.col("__kv") === F.col("k"),
          F.col("__vi") / F.nullif(F.col("__sv2"), F.lit(0.0))), 6)
          .as("c"))
  }

  /** Granger causality (lag-1) — "do yesterday's x's help predict
    * today's y beyond y's own history" (clicks → purchases, errors →
    * churn; predictive precedence, not causation): F-test of
    * {{{
    *   y_t = a + b·y_{t−1} + c·x_{t−1}   vs   y_t = a + b·y_{t−1}
    *   F = (SSR_r − SSR_u) / (SSR_u / (n − 3))     ~ F(1, n−3)
    * }}}
    * Both SSRs come from CLOSED-FORM centered sufficient statistics
    * (the 2×2 normal equations solved symbolically — no iteration),
    * with all raw sums exact longs via `scale`-quantization. Series
    * gaps are zero-filled against the shared t-grid (an absent day IS
    * a zero count, not a missing observation).
    *
    * Scale shape: a ROLLED-UP series op — two lags over one bounded
    * single-partition window, one scalar collapse.
    *
    * @return one row (n, ssr_r, ssr_u, f) — 6-dp; f NULL when SSR_u = 0
    *         (perfect fit) or n < 4
    */
  def grangerLag1(ydf: DataFrame, xdf: DataFrame, tCol: String,
                  vCol: String, scale: Long = 1L): DataFrame = {
    def q(df: DataFrame, name: String) = df
      .select(F.col(tCol).cast("long").as("t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long").as(name))
    val grid = q(ydf, "__y").join(q(xdf, "__x"), Seq("t"), "full")
      .select(F.col("t"), F.coalesce(F.col("__y"), F.lit(0L)).as("__y"),
        F.coalesce(F.col("__x"), F.lit(0L)).as("__x"))
    val w = Window.orderBy("t")
    val rows = grid
      .withColumn("__y1", F.lag("__y", 1).over(w))
      .withColumn("__x1", F.lag("__x", 1).over(w))
      .filter(F.col("__y1").isNotNull)
    val g = rows.agg(F.count(F.lit(1)).as("n"),
      F.sum("__y").as("__sy"), F.sum("__y1").as("__s1"),
      F.sum("__x1").as("__s2"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__y1") * F.col("__y1")).as("__s11"),
      F.sum(F.col("__x1") * F.col("__x1")).as("__s22"),
      F.sum(F.col("__y1") * F.col("__x1")).as("__s12"),
      F.sum(F.col("__y") * F.col("__y1")).as("__sy1"),
      F.sum(F.col("__y") * F.col("__x1")).as("__sy2"))
    val nD = F.col("n").cast("double")
    def c(spq: Column, sp: Column, sq: Column) =
      spq.cast("double") - sp.cast("double") * sq.cast("double") / nD
    val cyy = c(F.col("__syy"), F.col("__sy"), F.col("__sy"))
    val c11 = c(F.col("__s11"), F.col("__s1"), F.col("__s1"))
    val c22 = c(F.col("__s22"), F.col("__s2"), F.col("__s2"))
    val c12 = c(F.col("__s12"), F.col("__s1"), F.col("__s2"))
    val cy1 = c(F.col("__sy1"), F.col("__sy"), F.col("__s1"))
    val cy2 = c(F.col("__sy2"), F.col("__sy"), F.col("__s2"))
    val ssrR = cyy - cy1 * cy1 / F.nullif(c11, F.lit(0.0))
    val det = c11 * c22 - c12 * c12
    // β = [S]⁻¹·Sy symbolically; explained SS = β·Sy
    val expl = ((cy1 * c22 - cy2 * c12) * cy1 +
      (cy2 * c11 - cy1 * c12) * cy2) / F.nullif(det, F.lit(0.0))
    val ssrU = cyy - expl
    val f = F.when(F.col("n") >= 4L,
      (ssrR - ssrU) / F.nullif(ssrU / (nD - 3.0), F.lit(0.0)))
    g.select(F.col("n"), F.round(ssrR, 6).as("ssr_r"),
      F.round(ssrU, 6).as("ssr_u"), F.round(f, 6).as("f"))
  }

  /** Grubbs' test — the PARAMETRIC single-outlier screen (the Gaussian
    * sibling of the x103 MAD rule: one suspicious point, normal data
    * assumed): G = max|x − x̄|/s, reported with the offending point.
    * `scale`-quantized inputs make every sufficient statistic exact;
    * the argmax tie-breaks on smallest t (engine-replayable).
    *
    * Scale shape: one exact collapse, one broadcast back for the
    * deviation scan, a 1-row argmax via rank-filter.
    *
    * @return one row (n, mean, sd, t_out, v_out, g) — 6-dp; sd/g NULL
    *         when n < 2 or the series is constant
    */
  def grubbs(series: DataFrame, tCol: Column, valueCol: Column,
             scale: Long = 1L): DataFrame = {
    val s = series.select(tCol.cast("long").as("__t"),
      F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__t").isNotNull && F.col("__k").isNotNull)
    val agg = s.agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__sk"),
      F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val nD = F.col("n").cast("double")
    val sD = F.lit(scale.toDouble)
    val varK = F.when(F.col("n") >= 2L,
      (F.col("__sk2").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk") / nD) / (nD - 1.0))
    val j = s.crossJoin(F.broadcast(agg))
      .withColumn("__dev",
        F.abs(F.col("__k").cast("double") -
          F.col("__sk").cast("double") / nD))
      .withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("__dev").desc, F.col("__t"))))
      .filter(F.col("__rk") === 1)
    j.select(F.col("n"),
      F.round(F.col("__sk").cast("double") / nD / sD, 6).as("mean"),
      F.round(F.sqrt(varK) / sD, 6).as("sd"),
      F.col("__t").as("t_out"),
      F.round(F.col("__k").cast("double") / sD, 6).as("v_out"),
      F.round(F.col("__dev") / F.sqrt(F.nullif(varK, F.lit(0.0))), 6)
        .as("g"))
  }

  /** Bartlett's test for homogeneity of variances — the PARAMETRIC
    * k-group scale test ([[brownForsythe]] is the robust one; Bartlett
    * is the textbook χ² when normality holds, and the sensitivity-
    * to-outliers contrast between the two is itself a diagnostic):
    * {{{
    *   χ² = [(N−k)·ln s²_p − Σ(n_i−1)·ln s²_i] / C,
    *   C  = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))
    * }}}
    * `scale`-quantized values make every per-group sufficient statistic
    * an exact long, so each s²_i is closed-form bit-identical; ln terms
    * round 9 dp before the k-bounded sums.
    *
    * Scale shape: one keyed collapse to k rows, scalar algebra on them.
    *
    * @return one row (k, n, chi2) — 6-dp; NULL when any group has
    *         n_i < 2 or zero variance (ln domain)
    */
  def bartlett(df: DataFrame, keyCol: Column, valueCol: Column,
               scale: Long = 1L): DataFrame = {
    val byG = df.select(keyCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val nD = F.col("__n").cast("double")
    val s2 = F.lit(1.0) / (F.lit(scale).cast("double") * F.lit(scale))
    val ssw = (F.col("__sk2").cast("double") -
      F.col("__sk").cast("double") * F.col("__sk") / nD) * s2
    val vi = F.when(F.col("__n") >= 2L, ssw / (nD - 1.0))
    val terms = byG
      .withColumn("__ssw", ssw)
      .withColumn("__lnv", F.round((nD - 1.0) *
        F.log(F.nullif(vi, F.lit(0.0))), 9))
      .withColumn("__inv", F.round(F.lit(1.0) / (nD - 1.0), 9))
    val g = terms.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum("__ssw").as("__sswt"), F.sum("__lnv").as("__slnv"),
      F.sum("__inv").as("__sinv"),
      F.min(F.col("__n")).as("__minn"),
      // a zero-variance group NULLs its ln term; sum() would silently
      // skip it — count the live terms and gate on all k present
      F.count(F.col("__lnv")).as("__kln"))
    val kD = F.col("k").cast("double")
    val nTot = F.col("n").cast("double")
    val sp2 = F.col("__sswt") / (nTot - kD)
    val num = (nTot - kD) * F.log(sp2) - F.col("__slnv")
    val corr = F.lit(1.0) +
      (F.col("__sinv") - F.lit(1.0) / (nTot - kD)) /
        (F.lit(3.0) * (kD - 1.0))
    g.select(F.col("k"), F.col("n"),
      F.round(F.when(F.col("__minn") >= 2L && F.col("k") >= 2L &&
        F.col("__kln") === F.col("k"), num / corr), 6).as("chi2"))
  }

  /** Welch's ANOVA — k-group mean comparison WITHOUT the equal-variance
    * assumption ([[anovaF]]'s pooled variance lies when groups have
    * different spreads — exactly what [[bartlett]] detects):
    * {{{
    *   w_i = n_i/s²_i,  x̃ = Σw_i x̄_i / Σw_i,
    *   W = [Σw_i(x̄_i−x̃)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Σh_i],
    *   h_i = (1 − w_i/Σw)²/(n_i−1),  df₂ = (k²−1)/(3Σh_i)
    * }}}
    * `scale`-quantized sufficient statistics (exact longs) make w_i and
    * x̄_i bit-identical; the k-bounded term sums round 9 dp.
    *
    * Scale shape: one keyed collapse to k rows, one 1-row broadcast
    * back for the x̃-centered pass.
    *
    * @return one row (k, n, w_stat, df1, df2) — 6-dp; NULL when any
    *         group has n_i < 2 or zero variance
    */
  def welchAnova(df: DataFrame, keyCol: Column, valueCol: Column,
                 scale: Long = 1L): DataFrame = {
    val byG = df.select(keyCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__sk2"))
    val nD = F.col("__n").cast("double")
    // everything in quantized units — W and df are scale-invariant
    val vK = F.when(F.col("__n") >= 2L,
      (F.col("__sk2").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk") / nD) / (nD - 1.0))
    val rows = byG
      .withColumn("__mean", F.col("__sk").cast("double") / nD)
      .withColumn("__w", nD / F.nullif(vK, F.lit(0.0)))
      .withColumn("__wm", F.round(F.col("__w") * F.col("__mean"), 9))
    val tot = rows.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum(F.round(F.col("__w"), 9)).as("__sw"),
      F.sum("__wm").as("__swm"), F.min("__n").as("__minn"),
      F.min(F.col("__w").isNotNull).as("__allv"))
    val j = rows.crossJoin(F.broadcast(tot))
      .withColumn("__xt", F.col("__swm") / F.col("__sw"))
      .withColumn("__bt", F.round(F.col("__w") *
        (F.col("__mean") - F.col("__xt")) *
        (F.col("__mean") - F.col("__xt")), 9))
      .withColumn("__h", F.round(
        (F.lit(1.0) - F.col("__w") / F.col("__sw")) *
          (F.lit(1.0) - F.col("__w") / F.col("__sw")) /
          (nD - 1.0), 9))
    val g2 = j.agg(F.max("k").as("k"), F.max("n").as("n"),
      F.sum("__bt").as("__sbt"), F.sum("__h").as("__sh"),
      F.max("__minn").as("__minn"), F.max("__allv").as("__allv"))
    val kD = F.col("k").cast("double")
    val ok = F.col("__minn") >= 2L && F.col("k") >= 2L && F.col("__allv")
    val w = (F.col("__sbt") / (kD - 1.0)) /
      (F.lit(1.0) + F.lit(2.0) * (kD - 2.0) / (kD * kD - 1.0) *
        F.col("__sh"))
    g2.select(F.col("k"), F.col("n"),
      F.round(F.when(ok, w), 6).as("w_stat"),
      (F.col("k") - 1L).as("df1"),
      F.round(F.when(ok, (kD * kD - 1.0) /
        (F.lit(3.0) * F.nullif(F.col("__sh"), F.lit(0.0)))), 6)
        .as("df2"))
  }

  /** Ansari–Bradley test — the NONPARAMETRIC two-sample scale test (the
    * rank sibling of [[brownForsythe]]: does class 1's value SPREAD
    * differ, no normality assumed): rank from both ends inward with
    * scores a(r) = min(r, N+1−r) (tie groups get the average score over
    * their rank range), AB = Σ scores of class 1, and the general
    * linear-rank-statistic moments give the tie-exact normal
    * approximation:
    * {{{
    *   E[AB] = n₁·ā,   Var = n₁n₂(Σa² − N·ā²) / (N(N−1))
    * }}}
    * Rank ranges and score-range sums S(k) are closed-form exact longs
    * (two arithmetic series around the fold point); each tie group's
    * mean score is one IEEE division — bit-identical engines.
    *
    * Scale shape: the [[mannWhitneyU]] discipline — subjects collapse
    * map-side to distinct values, one bounded value-domain window, a
    * 1-row result. No subject-level sort.
    *
    * @return one row (n1, n2, ab, e_ab, z) — 6-dp; z NULL when Var = 0
    */
  def ansariBradley(df: DataFrame, valueCol: Column,
                    isClass1: Column): DataFrame = {
    val byV = df
      .select(valueCol.cast("double").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"), F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__NN"), F.sum("__n1v").as("__N1"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = F.col("__NN") + 1L
    // fold point of min(r, m−r) as an exact LONG (Column./ is double)
    val c = F.floor(m.cast("double") / 2.0)
    // S(k) = Σ_{r=1..k} min(r, m−r): a rising then a falling series
    def sK(k: Column): Column = F.when(k <= 0L, 0L).otherwise(
      F.when(k <= c, k * (k + 1L) / 2L)
        .otherwise(c * (c + 1L) / 2L + (k - c) * m -
          (k * (k + 1L) / 2L - c * (c + 1L) / 2L)))
    val ranked = byV.crossJoin(F.broadcast(tot))
      .withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__rs",
        sK(F.col("__cum")) - sK(F.col("__cum") - F.col("__t")))
      .withColumn("__sbar",
        F.col("__rs").cast("double") / F.col("__t").cast("double"))
    val g = ranked.agg(F.max("__N1").as("n1"),
      (F.max("__NN") - F.max("__N1")).as("n2"),
      F.max("__NN").as("__nn"),
      F.sum(F.col("__n1v").cast("double") * F.col("__sbar")).as("__ab"),
      F.sum("__rs").as("__sa"),
      F.sum(F.col("__t").cast("double") * F.col("__sbar") *
        F.col("__sbar")).as("__sa2"))
    val nD = F.col("__nn").cast("double")
    val abar = F.col("__sa").cast("double") / nD
    val e = F.col("n1").cast("double") * abar
    val variance = F.col("n1").cast("double") * F.col("n2").cast("double") *
      (F.col("__sa2") - nD * abar * abar) / (nD * (nD - 1.0))
    g.select(F.col("n1"), F.col("n2"),
      F.round(F.col("__ab"), 6).as("ab"), F.round(e, 6).as("e_ab"),
      F.round((F.col("__ab") - e) /
        F.sqrt(F.nullif(variance, F.lit(0.0))), 6).as("z"))
  }

  /** Cohen's h effect size for two proportions — "HOW different are
    * these two rates" where a z-test only says whether (on big corpora
    * everything is significant; h is what decides if anyone should
    * care): h = 2·arcsin√p₁ − 2·arcsin√p₂, the variance-stabilizing
    * transform that makes 0.50 vs 0.55 and 0.01 vs 0.06 comparable.
    * (|h| ≈ 0.2 small / 0.5 medium / 0.8 large.)
    *
    * Scale shape: one conditional-count collapse to four exact longs;
    * arcsin is the only libm touch (6-dp rounded).
    *
    * @return one row (n1, n2, p1, p2, h) — 6-dp; NULL p/h for an empty
    *         arm
    */
  def cohensH(df: DataFrame, armCol: Column,
              successCol: Column): DataFrame = {
    val g = df.agg(
      F.sum(F.when(armCol, 1L).otherwise(0L)).as("n1"),
      F.sum(F.when(!armCol, 1L).otherwise(0L)).as("n2"),
      F.sum(F.when(armCol && successCol, 1L).otherwise(0L)).as("__s1"),
      F.sum(F.when(!armCol && successCol, 1L).otherwise(0L)).as("__s2"))
    val p1 = F.col("__s1").cast("double") /
      F.nullif(F.col("n1").cast("double"), F.lit(0.0))
    val p2 = F.col("__s2").cast("double") /
      F.nullif(F.col("n2").cast("double"), F.lit(0.0))
    g.select(F.col("n1"), F.col("n2"),
      F.round(p1, 6).as("p1"), F.round(p2, 6).as("p2"),
      F.round(F.lit(2.0) * F.asin(F.sqrt(p1)) -
        F.lit(2.0) * F.asin(F.sqrt(p2)), 6).as("h"))
  }

  /** Inequality indices of a positive quantity — Theil T (top-
    * sensitive), Theil L / mean-log-deviation (bottom-sensitive), and
    * Atkinson(1) = 1 − geomean/mean: is compute/tokens/revenue spread
    * evenly or hoarded, with group-decomposability that Gini (x128)
    * lacks:
    * {{{
    *   T = (1/N)·Σ (x/μ)·ln(x/μ),   L = (1/N)·Σ ln(μ/x),
    *   A₁ = 1 − e^(−L)
    * }}}
    * μ = Σx/N is one IEEE division; per-row ratios are bit-identical;
    * ln terms round 9 dp before the orderless sums (the kaplanMeier
    * rule). Non-positive values drop (ln domain) — this measures the
    * distribution OF the quantity among holders of it.
    *
    * Scale shape: two scans of the input (Σx, then term sums) with a
    * 1-row broadcast between; nothing shuffles.
    *
    * @return one row (n, mean, theil_t, theil_l, atkinson1) — 6-dp
    */
  def inequality(df: DataFrame, valueCol: Column): DataFrame = {
    val s = df.select(valueCol.cast("double").as("__x"))
      .filter(F.col("__x") > 0.0)
    val tot = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__x").as("__sx"))
    val mu = F.col("__sx") / F.col("__n").cast("double")
    val terms = s.crossJoin(F.broadcast(tot))
      .withColumn("__r", F.col("__x") / mu)
      .withColumn("__tt", F.round(F.col("__r") * F.log(F.col("__r")), 9))
      .withColumn("__tl", F.round(-F.log(F.col("__r")), 9))
    val g = terms.agg(F.max("__n").as("n"), F.max(mu).as("__mu"),
      F.sum("__tt").as("__st"), F.sum("__tl").as("__sl"))
    val nD = F.col("n").cast("double")
    val l = F.col("__sl") / nD
    g.select(F.col("n"), F.round(F.col("__mu"), 6).as("mean"),
      F.round(F.col("__st") / nD, 6).as("theil_t"),
      F.round(l, 6).as("theil_l"),
      F.round(F.lit(1.0) - F.exp(-l), 6).as("atkinson1"))
  }

  /** Mean average precision (MAP) — the order-sensitive retrieval metric
    * that [[mrr]] (first hit only) and [[ndcg]] (graded gain) bracket:
    * per query, AP = Σ_{hits} P@rank / |relevant|, where P@rank counts
    * retrieved-and-relevant items up to that rank. The per-hit precision
    * hit_idx/rank is an exact integer division (bit-identical engines);
    * terms round 9 dp before the positive orderless sum.
    *
    * Scale shape: one (query, item) hash join against the truth set, one
    * query-keyed window for hit indices, a query-bounded rollup; the
    * 1-row corpus MAP rides back as a broadcast.
    *
    * @return per query (query, n_rel, n_hit, ap, map) ordered by query —
    *         ap/map 6-dp; queries with no relevant retrieved get ap = 0
    */
  def averagePrecision(results: DataFrame, truth: DataFrame,
                       queryCol: String, itemCol: String,
                       rankCol: String): DataFrame = {
    val nRel = truth.groupBy(F.col(queryCol).as("__q"))
      .agg(F.count(F.lit(1)).as("n_rel"))
    val hits = results.join(truth.select(F.col(queryCol), F.col(itemCol)),
        Seq(queryCol, itemCol))
      .withColumn("__hi", F.row_number().over(
        Window.partitionBy(queryCol).orderBy(F.col(rankCol))))
      .withColumn("__p", F.round(F.col("__hi").cast("double") /
        F.col(rankCol).cast("double"), 9))
      .groupBy(F.col(queryCol).as("__q"))
      .agg(F.count(F.lit(1)).as("n_hit"), F.sum("__p").as("__sp"))
    val perQ = results.select(F.col(queryCol).as("__q")).distinct()
      .join(F.broadcast(nRel), Seq("__q"), "left")
      .join(F.broadcast(hits), Seq("__q"), "left")
      .withColumn("n_rel", F.coalesce(F.col("n_rel"), F.lit(0L)))
      .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0L)))
      .withColumn("ap", F.round(F.when(F.col("n_rel") > 0L,
        F.coalesce(F.col("__sp"), F.lit(0.0)) /
          F.col("n_rel").cast("double")).otherwise(0.0), 6))
    val g = perQ.agg(F.round(F.avg("ap"), 6).as("map"))
    perQ.crossJoin(F.broadcast(g))
      .select(F.col("__q").as("query"), F.col("n_rel"), F.col("n_hit"),
        F.col("ap"), F.col("map"))
      .orderBy("query")
  }

  /** Mean absolute scaled error (Hyndman & Koehler 2006) of the
    * seasonal-naive forecast — the scale-free "is my forecast beating
    * the dumbest possible baseline" readout that [[snaiveBacktest]]'s
    * raw MAE can't give across series of different volume:
    * {{{
    *   MASE = mean|y_t − y_{t−season}| / mean|y_t − y_{t−1}|
    * }}}
    * (< 1 beats the one-step naive; ≥ 1 the model adds nothing).
    * Absolute errors round 9 dp before the positive orderless sums.
    *
    * Scale shape: a ROLLED-UP series op — two lags over one bounded
    * single-partition window pass, one scalar collapse.
    *
    * @return one row (n_scored, n_scale, mae_model, mae_naive, mase) —
    *         6-dp; mase NULL when the series is constant (mae_naive 0)
    */
  def mase(series: DataFrame, tCol: String, vCol: String,
           season: Int = 7): DataFrame = {
    require(season >= 1, s"season must be >= 1, got $season")
    val w = Window.orderBy("t")
    val scored = series
      .select(F.col(tCol).cast("long").as("t"),
        F.col(vCol).cast("double").as("v"))
      .withColumn("__fm", F.lag("v", season).over(w))
      .withColumn("__f1", F.lag("v", 1).over(w))
      .withColumn("__em", F.round(F.abs(F.col("v") - F.col("__fm")), 9))
      .withColumn("__e1", F.round(F.abs(F.col("v") - F.col("__f1")), 9))
    val g = scored.agg(
      F.count("__em").as("n_scored"), F.count("__e1").as("n_scale"),
      F.sum("__em").as("__sm"), F.sum("__e1").as("__s1"))
    val maeM = F.col("__sm") / F.col("n_scored").cast("double")
    val mae1 = F.col("__s1") / F.col("n_scale").cast("double")
    g.select(F.col("n_scored"), F.col("n_scale"),
      F.round(maeM, 6).as("mae_model"), F.round(mae1, 6).as("mae_naive"),
      F.round(maeM / F.nullif(mae1, F.lit(0.0)), 6).as("mase"))
  }

  /** Herfindahl–Hirschman concentration of a categorical key — "is this
    * corpus dominated by a handful of sources" (the antitrust index,
    * read here as a data-diversity guard: HHI → 1 means one source IS
    * the corpus). From exact integer counts c_g:
    * {{{
    *   HHI = Σ(c_g/N)² = Σc_g²/N²,  eff_n = 1/HHI,
    *   hhi_norm = (HHI − 1/k)/(1 − 1/k)
    * }}}
    * Σc² is an exact long, so HHI is ONE IEEE division — bit-identical
    * engines, no per-share rounding at all.
    *
    * Scale shape: one key rollup (map-side partials), one scalar
    * collapse; nothing else moves.
    *
    * @return one row (k, n, hhi, hhi_norm, eff_n) — 6-dp; hhi_norm NULL
    *         when k = 1
    */
  def concentration(df: DataFrame, keyCol: Column): DataFrame = {
    val counts = df.select(keyCol.cast("string").as("__k"))
      .groupBy("__k").agg(F.count(F.lit(1)).as("__c"))
    val g = counts.agg(F.count(F.lit(1)).as("k"), F.sum("__c").as("n"),
      F.sum(F.col("__c") * F.col("__c")).as("__sc2"))
    // N² as double·double, not long·long — a 3B-row corpus overflows
    // the integer square long before it troubles the double
    val hhi = F.col("__sc2").cast("double") /
      (F.col("n").cast("double") * F.col("n").cast("double"))
    val invK = F.lit(1.0) / F.col("k").cast("double")
    g.select(F.col("k"), F.col("n"), F.round(hhi, 6).as("hhi"),
      F.round(F.when(F.col("k") > 1L,
        (hhi - invK) / (F.lit(1.0) - invK)), 6).as("hhi_norm"),
      F.round(F.lit(1.0) / hhi, 6).as("eff_n"))
  }

  /** Poisson overdispersion census — per key, is the per-unit count
    * really Poisson (VMR ≈ 1) or bursty/clumped (VMR ≫ 1, the usual
    * truth for user traffic, and the reason Poisson error bars on it
    * lie): over each key's per-unit counts c,
    * {{{
    *   VMR = s²/c̄,   χ² = (n−1)·s²/c̄     (χ²_{n−1} under Poisson)
    * }}}
    * with s² from exact integer sufficient statistics
    * (Σc² − (Σc)²/n)/(n−1). Units are OBSERVED units (a unit with zero
    * events for a key is absent — this is the active-unit census;
    * densify upstream if zeros must count).
    *
    * Scale shape: one (key, unit) rollup shuffle, then a key-bounded
    * collapse; nothing else moves.
    *
    * @return per key (grp, n_units, mean, var_c, vmr, chi2) ordered by
    *         grp — 6-dp; var_c/vmr/chi2 NULL when n_units < 2
    */
  def overdispersion(df: DataFrame, keyCol: Column,
                     unitCol: Column): DataFrame = {
    val cu = df.select(keyCol.cast("string").as("grp"),
        unitCol.cast("string").as("__u"))
      .groupBy("grp", "__u").agg(F.count(F.lit(1)).as("__c"))
    val g = cu.groupBy("grp").agg(F.count(F.lit(1)).as("n_units"),
      F.sum("__c").as("__sc"),
      F.sum(F.col("__c") * F.col("__c")).as("__sc2"))
    val nD = F.col("n_units").cast("double")
    val mean = F.col("__sc").cast("double") / nD
    val varC = F.when(F.col("n_units") >= 2L,
      (F.col("__sc2").cast("double") -
        F.col("__sc").cast("double") * F.col("__sc") / nD) / (nD - 1.0))
    g.select(F.col("grp"), F.col("n_units"),
        F.round(mean, 6).as("mean"), F.round(varC, 6).as("var_c"),
        F.round(varC / F.nullif(mean, F.lit(0.0)), 6).as("vmr"),
        F.round((nD - 1.0) * varC / F.nullif(mean, F.lit(0.0)), 6)
          .as("chi2"))
      .orderBy("grp")
  }

  /** Restricted mean survival time (RMST) — the area under the
    * [[kaplanMeier]] curve up to a horizon τ: "over the first τ
    * days/hours, how long does the average subject survive". The
    * clinically-preferred single-number summary when hazards are not
    * proportional (where a logRank χ² or a median crossing misleads),
    * and the natural retention KPI: RMST/τ is expected lifetime as a
    * fraction of the window.
    *
    * S(t) is the right-continuous KM step function, so the integral is
    * the exact step sum with t₀ = 0, S(0) = 1, event times clipped at τ:
    * {{{
    *   RMST(τ) = Σ_k S(t_k) · (min(t_{k+1}, τ) − t_k)
    * }}}
    * Each S·Δt term is one IEEE multiply of the 6-dp KM survival by an
    * exact-integer width, rounded to 9 dp before the orderless sum
    * (the kaplanMeier engine-neutrality rule); the result rounds to 6.
    *
    * Scale shape: subjects collapse to the bounded distinct-duration
    * table inside [[kaplanMeier]]; the integral is a lead window plus a
    * one-row sum over that tiny table. Nothing subject-sized moves.
    *
    * @param tau horizon (same units as the duration); event times ≥ τ
    *            contribute nothing
    * @return one row (tau, n_times, rmst) — rmst 6-dp
    */
  def rmst(df: DataFrame, durationCol: Column, eventCol: Column,
           tau: Long): DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol)
    val wLead = Window.orderBy(F.col("t"))
    val seg = km
      .withColumn("__next",
        F.least(F.coalesce(F.lead("t", 1).over(wLead), F.lit(tau)),
          F.lit(tau)))
      // width of THIS row's segment [t_k, min(t_{k+1}, tau))
      .withColumn("__w",
        F.greatest(F.col("__next") - F.least(F.col("t"), F.lit(tau)),
          F.lit(0L)))
      .withColumn("__term",
        F.round(F.col("survival") * F.col("__w").cast("double"), 9))
    // the pre-first-event segment [0, min(t_1, tau)) survives at S = 1
    val head = seg.agg(
      F.count(F.lit(1)).as("n_times"),
      F.coalesce(F.least(F.min("t"), F.lit(tau)), F.lit(tau))
        .cast("double").as("__h"),
      F.coalesce(F.sum("__term"), F.lit(0.0)).as("__tail"))
    head.select(F.lit(tau).as("tau"), F.col("n_times"),
      F.round(F.col("__h") + F.col("__tail"), 6).as("rmst"))
  }

  /** Cramér–von Mises two-sample test (Anderson 1962) — the
    * whole-distribution ECDF-distance test: where [[mannWhitneyU]] sees
    * only location and [[ansariBradley]] only scale, CvM integrates the
    * SQUARED gap between the two empirical CDFs, so any difference —
    * shape, tails, bimodality — moves it (the integrated sibling of the
    * x165 KS sup-gap, less tail-noisy because it averages). With
    * combined midranks r_i of sample 1 (sizes n, m, N = n+m) and own-
    * sample indices i:
    * {{{
    *   U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)²
    *   T = U/(n·m·N) − (4nm−1)/(6N),   E[T] = (1 + 1/N)/6
    * }}}
    * Midranks are exact halves, so 2(r−i) is an exact integer and each
    * tie group's Σ(2r−2i)² has a closed form in exact longs (n_g·k² −
    * 4k·Σi + 4Σi² over the group's consecutive own-index range) — U is
    * integer-exact up to the final /4; only the two T divisions touch
    * IEEE doubles, bit-identical cross-engine.
    *
    * Scale shape: the [[mannWhitneyU]] discipline — subjects collapse
    * map-side to distinct values, one bounded value-domain window, a
    * 1-row result. No subject-level ranking ever happens. (Long-exactness
    * bound: n·Σ(2Δ)² ≲ n·N·(2N)² must stay under 2⁶³ — fine to ~200k
    * subjects; quantize the value domain coarser beyond that.)
    *
    * @return one row (n1, n2, u, t, e_t) — u/t 6-dp
    */
  def cvmTwoSample(df: DataFrame, valueCol: Column,
                   isClass1: Column): DataFrame = {
    val byV = df
      .select(valueCol.cast("double").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"), F.count(F.lit(1)).as("__t"))
      .withColumn("__n2v", F.col("__t") - F.col("__n1v"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Σ_{i=a..b} i and Σ_{i=a..b} i² in exact longs (Column./ is double
    // division — the numerators are exact multiples of 2 resp. 6 and
    // < 2^53, so the long cast-back is lossless; the ansariBradley rule)
    def s1(a: Column, b: Column): Column =
      F.when(b < a, 0L).otherwise(
        ((a + b) * (b - a + 1L) / 2L).cast("long"))
    def s2(a: Column, b: Column): Column =
      F.when(b < a, 0L).otherwise(
        (b * (b + 1L) * (F.lit(2L) * b + 1L) / 6L).cast("long") -
          ((a - 1L) * a * (F.lit(2L) * a - 1L) / 6L).cast("long"))
    val ranked = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__cum1", F.sum("__n1v").over(w))
      .withColumn("__cum2", F.sum("__n2v").over(w))
      // doubled midrank 2r = 2·cum − t + 1 (exact long)
      .withColumn("__k", F.lit(2L) * F.col("__cum") - F.col("__t") + 1L)
    // per tie group: Σ over its class-c members of (2r − 2i)², i running
    // over the group's consecutive own-sample index range
    def grpSum(nv: Column, cumC: Column): Column = {
      val a = cumC - nv + 1L
      val b = cumC
      nv * F.col("__k") * F.col("__k") -
        F.lit(4L) * F.col("__k") * s1(a, b) + F.lit(4L) * s2(a, b)
    }
    val g = ranked.agg(
      F.sum("__n1v").as("n1"), F.sum("__n2v").as("n2"),
      F.sum(grpSum(F.col("__n1v"), F.col("__cum1"))).as("__qa"),
      F.sum(grpSum(F.col("__n2v"), F.col("__cum2"))).as("__qb"))
    val n1D = F.col("n1").cast("double")
    val n2D = F.col("n2").cast("double")
    val nD = n1D + n2D
    val u = (F.col("n1") * F.col("__qa") + F.col("n2") * F.col("__qb"))
      .cast("double") / 4.0
    g.select(F.col("n1"), F.col("n2"), F.round(u, 6).as("u"),
      F.round(u / F.nullif(n1D * n2D * nD, F.lit(0.0)) -
        (F.lit(4.0) * n1D * n2D - 1.0) / (F.lit(6.0) * nD), 6).as("t"),
      F.round((F.lit(1.0) + F.lit(1.0) / nD) / 6.0, 6).as("e_t"))
  }

  /** Lepage test — the JOINT location-AND-scale two-sample test: L =
    * z_W² + z_AB², the sum of the squared standardized Wilcoxon
    * ([[mannWhitneyU]]) and Ansari–Bradley ([[ansariBradley]]) statistics
    * (Lepage 1971). The two components are asymptotically independent, so
    * L ~ χ²(2) under H₀ — and df = 2 means the p-value is the CLOSED FORM
    * `exp(−L/2)` (the [[bhFdr]] rule), engine-replayable to the last ulp.
    * The screening test when a distribution may have shifted OR spread
    * and either alone would be missed.
    *
    * Both z's are the components' own 6-dp outputs, so L and p are
    * deterministic IEEE arithmetic on already-pinned values — no new
    * numeric surface.
    *
    * Scale shape: two [[mannWhitneyU]]-discipline map-side collapses
    * (one per component) and a broadcast join of two 1-row results.
    *
    * @return one row (n1, n2, z_w, z_ab, l, p) — l 6-dp, p 9-dp; NULL
    *         l/p when either component is degenerate
    */
  def lepage(df: DataFrame, valueCol: Column,
             isClass1: Column): DataFrame = {
    val w = mannWhitneyU(df, valueCol, isClass1)
      .select(F.col("n1"), F.col("n2"), F.col("z").as("z_w"))
    val a = ansariBradley(df, valueCol, isClass1)
      .select(F.col("z").as("z_ab"))
    val l = F.col("z_w") * F.col("z_w") + F.col("z_ab") * F.col("z_ab")
    w.crossJoin(F.broadcast(a))
      .select(F.col("n1"), F.col("n2"), F.col("z_w"), F.col("z_ab"),
        F.round(l, 6).as("l"),
        F.round(F.exp(-l / 2.0), 9).as("p"))
  }

  /** Brunner–Munzel test (2000) — the two-sample stochastic-superiority
    * test that [[mannWhitneyU]] approximates only under equal variances:
    * BM drops the exchangeability assumption entirely (the
    * "nonparametric Behrens–Fisher" problem), estimating
    * p̂ = P(X₁ < X₂) + ½P(X₁ = X₂) with a studentized statistic and
    * Satterthwaite df. With overall midranks R and within-sample
    * midranks R⁽ᵏ⁾:
    * {{{
    *   p̂ = (R̄₂ − (n₂+1)/2) / n₁
    *   vₖ = Var over sample k of (Rᵢ − Rᵢ⁽ᵏ⁾)
    *   W  = n₁n₂(R̄₂ − R̄₁) / (N·√(n₁v₁ + n₂v₂))
    *   df = (n₁v₁ + n₂v₂)² / ((n₁v₁)²/(n₁−1) + (n₂v₂)²/(n₂−1))
    * }}}
    * Doubled midranks 2R, 2R⁽ᵏ⁾ are exact longs, so per tie group the
    * doubled difference 2(R−R⁽ᵏ⁾) is an exact integer and each sample's
    * Σ, Σ² sufficient statistics are exact-long sums — only the final
    * ratios touch IEEE doubles, bit-identical cross-engine.
    * (Long-exactness bound: Σ n·(2N)² ≲ 2⁶³ — fine to ~10⁶ subjects;
    * quantize the value domain coarser beyond that.)
    *
    * Scale shape: the [[mannWhitneyU]] discipline — subjects collapse
    * map-side to distinct values, one bounded value-domain window, a
    * 1-row result.
    *
    * @return one row (n1, n2, p_hat, w, df) — 6-dp; w/df NULL when a
    *         sample is empty or both rank-difference variances are 0
    */
  def brunnerMunzel(df: DataFrame, valueCol: Column,
                    isClass1: Column): DataFrame = {
    val byV = df
      .select(valueCol.cast("double").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"), F.count(F.lit(1)).as("__t"))
      .withColumn("__n2v", F.col("__t") - F.col("__n1v"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__cumA", F.sum("__n1v").over(w))
      .withColumn("__cumB", F.sum("__n2v").over(w))
      // doubled overall / within-sample midranks (exact longs)
      .withColumn("__k", F.lit(2L) * F.col("__cum") - F.col("__t") + 1L)
      .withColumn("__kOne",
        F.lit(2L) * F.col("__cumA") - F.col("__n1v") + 1L)
      .withColumn("__kTwo",
        F.lit(2L) * F.col("__cumB") - F.col("__n2v") + 1L)
    val g = ranked.agg(
      F.sum("__n1v").as("n1"), F.sum("__n2v").as("n2"),
      F.sum(F.col("__n1v") * F.col("__k")).as("__rOne"),
      F.sum(F.col("__n2v") * F.col("__k")).as("__rTwo"),
      F.sum(F.col("__n1v") * (F.col("__k") - F.col("__kOne"))).as("__sa"),
      F.sum(F.col("__n1v") * (F.col("__k") - F.col("__kOne")) *
        (F.col("__k") - F.col("__kOne"))).as("__qa"),
      F.sum(F.col("__n2v") * (F.col("__k") - F.col("__kTwo"))).as("__sb"),
      F.sum(F.col("__n2v") * (F.col("__k") - F.col("__kTwo")) *
        (F.col("__k") - F.col("__kTwo"))).as("__qb"))
    val n1D = F.col("n1").cast("double")
    val n2D = F.col("n2").cast("double")
    val nD = n1D + n2D
    // means of the SINGLE midranks (halve the doubled sums)
    val m1 = F.col("__rOne").cast("double") / (F.lit(2.0) * n1D)
    val m2 = F.col("__rTwo").cast("double") / (F.lit(2.0) * n2D)
    // Var of R − R⁽ᵏ⁾ from doubled exact-long sums: /4 undoes the 2×
    def v(q: Column, s: Column, n: Column): Column =
      (q.cast("double") - s.cast("double") * s.cast("double") /
        n.cast("double")) /
        (F.lit(4.0) * F.nullif(n.cast("double") - 1.0, F.lit(0.0)))
    val v1 = v(F.col("__qa"), F.col("__sa"), F.col("n1"))
    val v2 = v(F.col("__qb"), F.col("__sb"), F.col("n2"))
    val pooled = n1D * v1 + n2D * v2
    g.select(F.col("n1"), F.col("n2"),
      F.round((m2 - (n2D + 1.0) / 2.0) / F.nullif(n1D, F.lit(0.0)), 6)
        .as("p_hat"),
      F.round(n1D * n2D * (m2 - m1) /
        (nD * F.sqrt(F.nullif(pooled, F.lit(0.0)))), 6).as("w"),
      F.round(pooled * pooled / F.nullif(
        n1D * v1 * n1D * v1 / F.nullif(n1D - 1.0, F.lit(0.0)) +
          n2D * v2 * n2D * v2 / F.nullif(n2D - 1.0, F.lit(0.0)),
        F.lit(0.0)), 6).as("df"))
  }

  /** Spectral entropy — how CONCENTRATED the [[periodogram]] is: the
    * Shannon entropy of the normalized spectral density over the
    * Fourier bins, 0 when one frequency owns all the variance (pure
    * cycle), ln K when the spectrum is flat (white noise). The one-
    * number periodicity-vs-noise readout on top of x305's per-bin
    * table: h_norm near 1 says "don't bother forecasting with
    * seasonality", near 0 says "one dominant cycle".
    *
    * Powers are the periodogram's own 6-dp outputs; shares q = P_k/ΣP
    * are one IEEE division each and q·ln q terms round 9 dp before the
    * orderless sum (the kaplanMeier rule). Zero-power bins contribute
    * exactly 0 (lim q→0 of q·ln q) and are filtered before the ln.
    *
    * Scale shape: [[periodogram]]'s bounded k-grid (≤ maxK rows) plus
    * two 1-row rollups over it — nothing corpus-sized moves.
    *
    * @return one row (k_bins, h, h_norm) — 6-dp; NULL when no bin has
    *         positive power (constant series) or k_bins = 1
    */
  def spectralEntropy(series: DataFrame, tCol: String, vCol: String,
                      maxK: Int = 30): DataFrame = {
    val p = periodogram(series, tCol, vCol, maxK)
      .select(F.col("k"), F.col("power"))
    val tot = p.agg(F.count(F.lit(1)).as("k_bins"),
      F.sum("power").as("__sp"))
    val terms = p.crossJoin(F.broadcast(tot))
      .filter(F.col("power") > 0.0)
      .withColumn("__q", F.col("power") / F.col("__sp"))
      .withColumn("__term",
        F.round(F.col("__q") * F.log(F.col("__q")), 9))
    val g = terms.agg(F.sum("__term").as("__st"))
    tot.crossJoin(F.broadcast(g))
      .select(F.col("k_bins"), F.round(-F.col("__st"), 6).as("h"),
        F.round(-F.col("__st") / F.nullif(
          F.log(F.col("k_bins").cast("double")), F.lit(0.0)), 6)
          .as("h_norm"))
  }

  /** KPSS level-stationarity test (Kwiatkowski et al. 1992, lag-0
    * short-run variance) — the REVERSED-null companion of the usual
    * unit-root tests: H₀ here is "the series IS stationary around a
    * constant level", so a small η is evidence of stability and a large
    * η says the level wanders (drifting event volume, decaying corpus
    * freshness). With demeaned eₜ and partial sums Sₜ:
    * {{{
    *   η = Σ Sₜ² / (n² σ̂²),   σ̂² = Σ eₜ²/n
    * }}}
    * Values quantize (×scale) to exact longs; multiplying the demeaning
    * through by n makes Eₜ = n·yₜ − Σy exact, its prefix sums exact
    * longs (integer prefix sums are engine-safe — the fp-ladder rule
    * applies only to IEEE running sums), and η collapses to the single
    * IEEE division `Σ S'ₜ² / (n · Σ Eₜ²)`. (Long-exactness bound:
    * n⁴·ŷ² ≲ 2⁶³ with ŷ the scaled value magnitude — fine for thousands
    * of points of 10⁶-sized values; coarsen `scale` beyond.)
    *
    * Scale shape: one 1-row rollup, then one bounded single-partition
    * prefix-sum window over the series grid (a time series, not a
    * corpus) and a final 1-row collapse.
    *
    * @return one row (n, eta, crit_5pct, reject) — η 6-dp, 5%% critical
    *         value 0.463; NULL η for a constant series
    */
  def kpssLevel(series: DataFrame, tCol: String, vCol: String,
                scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
      F.round(F.col(vCol).cast("double") * scale).cast("long").as("__y"))
      .filter(F.col("__y").isNotNull)
    val tot = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__y").as("__sy"))
    val e = s.crossJoin(F.broadcast(tot))
      .withColumn("__e", F.col("__n") * F.col("__y") - F.col("__sy"))
    val w = Window.orderBy(F.col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = e.withColumn("__sp", F.sum("__e").over(w))
      .agg(F.max("__n").as("n"),
        F.sum(F.col("__sp") * F.col("__sp")).as("__ss2"),
        F.sum(F.col("__e") * F.col("__e")).as("__se2"))
    g.select(F.col("n"),
      F.round(F.col("__ss2").cast("double") /
        F.nullif((F.col("n") * F.col("__se2")).cast("double"),
          F.lit(0.0)), 6).as("eta"),
      F.lit(0.463).as("crit_5pct"),
      (F.col("__ss2").cast("double") /
        F.nullif((F.col("n") * F.col("__se2")).cast("double"),
          F.lit(0.0)) > 0.463).as("reject"))
  }

  /** Theil's U2 forecast-accuracy ratio — RMSE of the season-naive
    * forecast over RMSE of the plain lag-1 naive, on the rows where
    * both exist: U2 < 1 means seasonality genuinely helps, U2 > 1 means
    * the "smarter" forecast is WORSE than persistence. The squared-error
    * sibling of [[mase]] (which uses absolute errors): U2's squaring
    * punishes the occasional large miss that MAE smooths over — read
    * them together to see whether a model earns its keep on typical
    * days or blows up on outliers.
    * {{{
    *   U2 = √( Σ(yₜ − yₜ₋ₛ)² / Σ(yₜ − yₜ₋₁)² )
    * }}}
    * On integer-valued series both difference squares are exact doubles;
    * sums are positive and orderless; one IEEE division + sqrt.
    *
    * Scale shape: [[mase]]'s — two lag windows over the bounded series
    * grid (a time series, not a corpus), one 1-row collapse.
    *
    * @return one row (n_scored, sse_model, sse_naive, u2) — 6-dp; u2
    *         NULL when the naive SSE is 0
    */
  def theilsU2(series: DataFrame, tCol: String, vCol: String,
               season: Int = 7): DataFrame = {
    require(season >= 2, s"season must be >= 2 to differ from naive, " +
      s"got $season")
    val w = Window.orderBy("t")
    val scored = series
      .select(F.col(tCol).cast("long").as("t"),
        F.col(vCol).cast("double").as("v"))
      .withColumn("__fm", F.lag("v", season).over(w))
      .withColumn("__f1", F.lag("v", 1).over(w))
      .filter(F.col("__fm").isNotNull && F.col("__f1").isNotNull)
      .withColumn("__em",
        (F.col("v") - F.col("__fm")) * (F.col("v") - F.col("__fm")))
      .withColumn("__e1",
        (F.col("v") - F.col("__f1")) * (F.col("v") - F.col("__f1")))
    val g = scored.agg(F.count(F.lit(1)).as("n_scored"),
      F.sum("__em").as("__sm"), F.sum("__e1").as("__s1"))
    g.select(F.col("n_scored"),
      F.round(F.col("__sm"), 6).as("sse_model"),
      F.round(F.col("__s1"), 6).as("sse_naive"),
      F.round(F.sqrt(F.col("__sm") /
        F.nullif(F.col("__s1"), F.lit(0.0))), 6).as("u2"))
  }

  /** Hurst exponent via rescaled-range (R/S) analysis — long-memory of
    * a series: H ≈ 0.5 is a memoryless walk, H > 0.5 persistent trends
    * (busy hours cluster), H < 0.5 mean-reverting. For each dyadic
    * window size n the series splits into ⌊T/n⌋ complete blocks; per
    * block, R is the range of cumulative deviations from the block mean
    * and S the population sd, and H is the OLS slope of ln(avg R/S) on
    * ln n:
    * {{{
    *   Zₖ = Σ_{j≤k}(yⱼ − ȳ),  R = max Z − min Z,  RS = R/S
    * }}}
    * Values quantize (×scale) to exact longs; the block-mean deviations
    * multiply through by n (the [[kpssLevel]] trick), so the prefix
    * ladder P = n·Σy − k·Σy is exact-long and R = (maxP − minP)/n is
    * one IEEE division. Per-block RS rounds 9 dp before the per-size
    * average; the ≤ log₂T regression points use 9-dp ln terms.
    *
    * Scale shape: one indexed pass over the bounded series grid, one
    * explode (×|sizes|), keyed per-(size, block) windows, a |sizes|-row
    * regression collapse. Nothing corpus-sized moves.
    *
    * @param sizes dyadic block lengths; sizes needing more points than
    *              the series has simply produce no complete blocks
    * @return per size (size, n_blocks, rs) plus the shared (hurst,
    *         n_sizes) — 6-dp; hurst NULL with < 2 usable sizes
    */
  def hurstRS(series: DataFrame, tCol: String, vCol: String,
              sizes: Seq[Int] = Seq(8, 16, 32, 64, 128),
              scale: Long = 1L): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 4),
      s"sizes must all be >= 4, got $sizes")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
      // the one bounded single-partition pass: a time series, not a corpus
      .withColumn("__i",
        F.row_number().over(Window.orderBy("__t")).cast("long") - 1L)
    val ex = s.select(F.col("__i"), F.col("__y"),
        F.explode(F.lit(sizes.map(_.toLong).toArray)).as("__sz"))
      // Column./ is double division — cast back for the exact block id
      // (both operands are non-negative longs far below 2^53)
      .withColumn("__blk", (F.col("__i") / F.col("__sz")).cast("long"))
      .withColumn("__pos", F.col("__i") % F.col("__sz"))
    val wB = Window.partitionBy("__sz", "__blk")
    val wP = wB.orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = ex
      .withColumn("__n", F.count(F.lit(1)).over(wB))
      .filter(F.col("__n") === F.col("__sz"))
      .withColumn("__sy", F.sum("__y").over(wB))
      .withColumn("__sy2", F.sum(F.col("__y") * F.col("__y")).over(wB))
      // n-scaled cumulative deviation: P_k = n·Σ_{j≤k} y_j − (k+1)·Σy
      .withColumn("__p", F.col("__sz") * F.sum("__y").over(wP) -
        (F.col("__pos") + 1L) * F.col("__sy"))
      .groupBy("__sz", "__blk")
      .agg(F.max("__p").as("__mx"), F.min("__p").as("__mn"),
        F.max("__n").as("__bn"), F.max("__sy").as("__bsy"),
        F.max("__sy2").as("__bsy2"))
    val nD = F.col("__bn").cast("double")
    val rRange = (F.col("__mx") - F.col("__mn")).cast("double") / nD
    val sd = F.sqrt((F.col("__bsy2").cast("double") -
      F.col("__bsy").cast("double") *
        (F.col("__bsy").cast("double") / nD)) / nD)
    val bySize = blocks
      .withColumn("__rs", F.round(rRange / F.nullif(sd, F.lit(0.0)), 9))
      .groupBy(F.col("__sz").as("size"))
      .agg(F.count("__rs").as("n_blocks"),
        F.round(F.avg("__rs"), 6).as("rs"))
    // ln-ln OLS over the ≤|sizes| usable points (rs > 0)
    val pts = bySize.filter(F.col("rs") > 0.0)
      .select(F.col("size"),
        F.round(F.log(F.col("size").cast("double")), 9).as("__x"),
        F.round(F.log(F.col("rs")), 9).as("__yl"))
      .withColumn("__xy", F.round(F.col("__x") * F.col("__yl"), 9))
      .withColumn("__x2", F.round(F.col("__x") * F.col("__x"), 9))
    val reg = pts.agg(F.count(F.lit(1)).as("n_sizes"),
      F.sum("__x").as("__sx"), F.sum("__yl").as("__sy"),
      F.sum("__xy").as("__sxy"), F.sum("__x2").as("__sx2"))
    val kD = F.col("n_sizes").cast("double")
    val slope = (kD * F.col("__sxy") - F.col("__sx") * F.col("__sy")) /
      F.nullif(kD * F.col("__sx2") - F.col("__sx") * F.col("__sx"),
        F.lit(0.0))
    val h = reg.select(F.col("n_sizes"),
      F.round(F.when(F.col("n_sizes") >= 2L, slope), 6).as("hurst"))
    bySize.crossJoin(F.broadcast(h))
      .select(F.col("size"), F.col("n_blocks"), F.col("rs"),
        F.col("n_sizes"), F.col("hurst"))
      .orderBy("size")
  }

  /** Expected reciprocal rank (ERR, Chapelle et al. 2009) — the cascade
    * retrieval metric: a reader scans down the list and stops at the
    * first satisfying result, so a relevant item's credit is discounted
    * by the chance every EARLIER relevant item already stopped the
    * scan. With binary relevance R = 1/2 (the graded-scale value for
    * g=1 of g_max=1):
    * {{{
    *   ERR = Σ_{r : rel} (1/r) · (1/2) · (1/2)^{c(r)}
    * }}}
    * where c(r) counts relevant items before rank r — so each term is
    * an exact power of two over one integer division, bit-identical
    * cross-engine; terms round 9 dp, per-query sums are positive and
    * orderless. Sits between [[mrr]] (first hit only) and [[ndcg]]
    * (no cascade): ERR rewards the first hit like MRR but still pays
    * diminishing credit to later ones.
    *
    * Scale shape: [[mrr]]'s — a keyed join onto truth, one query-keyed
    * window, a per-query rollup and a 1-row mean broadcast back.
    *
    * @return per query (query, n_rel, err, mean_err) ordered by query —
    *         queries with no relevant results score 0
    */
  def err(results: DataFrame, truth: DataFrame, queryCol: String,
          itemCol: String, rankCol: String): DataFrame = {
    val rel = results
      .select(F.col(queryCol).as("query"), F.col(itemCol).as("item"),
        F.col(rankCol).cast("long").as("__rk"))
      .join(truth.select(F.col(queryCol).as("query"),
        F.col(itemCol).as("item")), Seq("query", "item"))
    val wQ = Window.partitionBy("query").orderBy("__rk")
    val terms = rel
      .withColumn("__c",
        F.count(F.lit(1)).over(wQ.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - 1L)
      .withColumn("__term", F.round(
        F.pow(F.lit(0.5), (F.col("__c") + 1L).cast("double")) /
          F.col("__rk").cast("double"), 9))
      .groupBy("query")
      .agg(F.count(F.lit(1)).as("n_rel"), F.sum("__term").as("__e"))
    val perQ = results.select(F.col(queryCol).as("query")).distinct()
      .join(terms, Seq("query"), "left")
      .select(F.col("query"),
        F.coalesce(F.col("n_rel"), F.lit(0L)).as("n_rel"),
        F.round(F.coalesce(F.col("__e"), F.lit(0.0)), 6).as("err"))
    val g = perQ.agg(F.round(F.avg("err"), 6).as("mean_err"))
    perQ.crossJoin(F.broadcast(g)).orderBy("query")
  }

  /** Standardized-mean-difference covariate balance census — the
    * experiment-governance table read before ANY effect estimate: for
    * every covariate, how far apart are the two arms in pooled-sd
    * units, `SMD = (m₁ − m₀) / √((v₁ + v₀)/2)`. |SMD| < 0.1 is the
    * conventional "balanced" bar; a big SMD on a pre-treatment
    * covariate means randomization failed (or the observational split
    * needs weighting) and the lift number downstream is confounded.
    *
    * Covariates quantize (×scale) to exact longs, so each arm's
    * (n, Σk, Σk²) are exact sufficient statistics and means/variances
    * are single IEEE divisions (scale cancels in the SMD ratio only
    * through its square — applied identically cross-engine).
    *
    * Scale shape: ONE corpus scan — covariates ride a |covs|-wide
    * explode into long format, then a covariate-keyed collapse to
    * 2·|covs| sufficient-statistic rows.
    *
    * @return per covariate (covariate, n1, n0, mean1, mean0, smd) —
    *         6-dp; smd NULL when either arm has n < 2 or pooled var 0
    */
  def smdBalance(df: DataFrame, armCol: Column,
                 covariates: Seq[(String, Column)],
                 scale: Long = 1L): DataFrame = {
    require(covariates.nonEmpty, "need at least one covariate")
    val long = df.select(
        F.when(armCol, 1L).otherwise(0L).as("__arm"),
        F.explode(F.array(covariates.map { case (nm, c) =>
          F.struct(F.lit(nm).as("nm"),
            F.round(c.cast("double") * scale).cast("long").as("k"))
        }: _*)).as("__cv"))
      .select(F.col("__arm"), F.col("__cv.nm").as("covariate"),
        F.col("__cv.k").as("__k"))
      .filter(F.col("__k").isNotNull)
    def armAgg(a: Int, f: Column): Column =
      F.sum(F.when(F.col("__arm") === a.toLong, f).otherwise(0L))
    val g = long.groupBy("covariate").agg(
      armAgg(1, F.lit(1L)).as("n1"), armAgg(0, F.lit(1L)).as("n0"),
      armAgg(1, F.col("__k")).as("__s1"),
      armAgg(0, F.col("__k")).as("__s0"),
      armAgg(1, F.col("__k") * F.col("__k")).as("__q1"),
      armAgg(0, F.col("__k") * F.col("__k")).as("__q0"))
    val sD = F.lit(scale).cast("double")
    def mean(s: Column, n: Column): Column =
      s.cast("double") / (n.cast("double") * sD)
    def v(q: Column, s: Column, n: Column): Column =
      (q.cast("double") - s.cast("double") *
        (s.cast("double") / n.cast("double"))) /
        (F.nullif(n.cast("double") - 1.0, F.lit(0.0)) * sD * sD)
    val m1 = mean(F.col("__s1"), F.col("n1"))
    val m0 = mean(F.col("__s0"), F.col("n0"))
    val pooled = (v(F.col("__q1"), F.col("__s1"), F.col("n1")) +
      v(F.col("__q0"), F.col("__s0"), F.col("n0"))) / 2.0
    g.select(F.col("covariate"), F.col("n1"), F.col("n0"),
      F.round(m1, 6).as("mean1"), F.round(m0, 6).as("mean0"),
      F.round(F.when(F.col("n1") >= 2L && F.col("n0") >= 2L,
        (m1 - m0) / F.sqrt(F.nullif(pooled, F.lit(0.0)))), 6).as("smd"))
      .orderBy("covariate")
  }

  /** Newcombe hybrid-score confidence interval for a DIFFERENCE of two
    * proportions (Newcombe 1998, method 10) — the interval that stays
    * inside [−1, 1] and behaves at extreme rates where the naive Wald
    * ±z√(p₁q₁/n₁ + p₂q₂/n₂) collapses: take each arm's
    * [[wilsonInterval]] (l, u), then
    * {{{
    *   lo = d − √((p₁−l₁)² + (u₂−p₂)²)
    *   hi = d + √((u₁−p₁)² + (p₂−l₂)²)
    * }}}
    * with d = p₁ − p₂. The effect-size CI companion of [[cohensH]]'s
    * magnitude and x291's significance. All closed-form from four exact
    * longs; z = 1.959964 as the single shared literal.
    *
    * Scale shape: one conditional-count collapse to a 1-row result.
    *
    * @return one row (n1, n2, p1, p2, d, lo, hi) — 6-dp; NULL for an
    *         empty arm
    */
  def newcombeDiffCi(df: DataFrame, armCol: Column,
                     successCol: Column): DataFrame = {
    val z = 1.959964
    val z2 = z * z
    val g = df.agg(
      F.sum(F.when(armCol, 1L).otherwise(0L)).as("n1"),
      F.sum(F.when(!armCol, 1L).otherwise(0L)).as("n2"),
      F.sum(F.when(armCol && successCol, 1L).otherwise(0L)).as("__s1"),
      F.sum(F.when(!armCol && successCol, 1L).otherwise(0L)).as("__s2"))
    def wils(k: Column, n: Column): (Column, Column, Column) = {
      val nD = F.nullif(n.cast("double"), F.lit(0.0))
      val p = k.cast("double") / nD
      val center = p + F.lit(z2) / (nD * 2.0)
      val half = F.lit(z) * F.sqrt(p * (F.lit(1.0) - p) / nD +
        F.lit(z2) / (F.lit(4.0) * nD * nD))
      val denom = F.lit(1.0) + F.lit(z2) / nD
      (p, (center - half) / denom, (center + half) / denom)
    }
    val (p1, l1, u1) = wils(F.col("__s1"), F.col("n1"))
    val (p2, l2, u2) = wils(F.col("__s2"), F.col("n2"))
    val d = p1 - p2
    g.select(F.col("n1"), F.col("n2"),
      F.round(p1, 6).as("p1"), F.round(p2, 6).as("p2"),
      F.round(d, 6).as("d"),
      F.round(d - F.sqrt((p1 - l1) * (p1 - l1) +
        (u2 - p2) * (u2 - p2)), 6).as("lo"),
      F.round(d + F.sqrt((u1 - p1) * (u1 - p1) +
        (p2 - l2) * (p2 - l2)), 6).as("hi"))
  }

  /** Iterative proportional fitting (raking) — survey-calibration
    * weights over a two-way (row × col) cell table: scale a biased
    * sample's cells so its WEIGHTED margins match the population's, by
    * alternately normalizing rows then columns for a fixed number of
    * rounds (Deming & Stephan 1940). The standard fix when a filtered
    * training subset over-represents some sources/languages and
    * downstream stats must be quoted at corpus-representative weights.
    *
    * Targets are restricted to row/col categories OBSERVED in the
    * sample (an absent category has nothing to carry its mass —
    * documented, not silently zero-divided). Determinization: the cell
    * table is bounded (distinct rows × cols, guarded), so the fit runs
    * driver-side over sorted keys with every weight quantized to 9 dp
    * per half-round — the [[Similarity.kmeansLloyd]]/x241 iteration
    * contract, engine-replayable.
    *
    * Scale shape: two distributed collapses to bounded tables — the
    * sample cells, and both population margins from ONE tagged
    * aggregate (each population row explodes to a row-key and a col-key
    * tag, so the population is scanned and shuffled once); the driver
    * holds |cells| doubles; the result returns as a small local
    * relation.
    *
    * @return per cell (rkey, ckey, n, w, wn) — w 9-dp, wn = w·n 6-dp,
    *         ordered by (rkey, ckey)
    */
  def ipfRaking(sample: DataFrame, population: DataFrame,
                rowKey: String, colKey: String, rounds: Int = 5,
                maxCells: Int = 100000): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val cells = sample
      .groupBy(F.col(rowKey).cast("string").as("r"),
        F.col(colKey).cast("string").as("c"))
      .agg(F.count(F.lit(1)).as("n"))
      .collect().map(x => ((x.getString(0), x.getString(1)), x.getLong(2)))
      .sortBy(_._1).toArray
    require(cells.length <= maxCells,
      s"cell table ${cells.length} exceeds maxCells=$maxCells — " +
        "coarsen the keys")
    val rObs = cells.map(_._1._1).toSet
    val cObs = cells.map(_._1._2).toSet
    val margins = population
      .select(F.explode(F.array(
        F.struct(F.lit(true).as("__r"), F.col(rowKey).cast("string").as("__k")),
        F.struct(F.lit(false).as("__r"), F.col(colKey).cast("string").as("__k"))))
        .as("__m"))
      .groupBy(F.col("__m.__r"), F.col("__m.__k"))
      .agg(F.count(F.lit(1)).as("n")).collect()
      .map(x => (x.getBoolean(0), x.getString(1), x.getLong(2).toDouble))
    val rT = margins.collect { case (true, k, n) if rObs(k) => k -> n }.toMap
    val cT = margins.collect { case (false, k, n) if cObs(k) => k -> n }.toMap
    def r9(x: Double): Double = math.round(x * 1e9) / 1e9
    var w = cells.map { case (k, n) => (k, n, 1.0) }
    for (_ <- 1 to rounds) {
      // rows, sorted-key sums of 9-dp products
      val rSum = w.groupBy(_._1._1).map { case (k, xs) =>
        k -> xs.map(x => r9(x._3 * x._2)).sum }
      w = w.map { case (k, n, wv) =>
        val t = rT.getOrElse(k._1, 0.0)
        val s = rSum(k._1)
        (k, n, if (s > 0.0 && t > 0.0) r9(wv * t / s) else wv) }
      val cSum = w.groupBy(_._1._2).map { case (k, xs) =>
        k -> xs.map(x => r9(x._3 * x._2)).sum }
      w = w.map { case (k, n, wv) =>
        val t = cT.getOrElse(k._2, 0.0)
        val s = cSum(k._2)
        (k, n, if (s > 0.0 && t > 0.0) r9(wv * t / s) else wv) }
    }
    val spark = sample.sparkSession
    import spark.implicits._
    w.toSeq.map { case ((r, c), n, wv) =>
      (r, c, n, wv, math.round(wv * n * 1e6) / 1e6) }
      .toDF("rkey", "ckey", "n", "w", "wn")
      .orderBy("rkey", "ckey")
  }

  /** Rayleigh test of circular uniformity — is activity spread evenly
    * around the clock, or concentrated at a preferred hour? Categories
    * h = 0..period−1 map to angles θ = 2πh/period; with the resultant
    * (C, S) = Σ n_h·(cos θ_h, sin θ_h):
    * {{{
    *   R̄ = √(C²+S²)/n,   z = n·R̄²,   p ≈ e^(−z)
    * }}}
    * (the first-order Rayleigh p — exact enough for the screening
    * use). The CIRCULAR test x118's histogram eyeballs and a χ²
    * flattens: a peak at 23:00 wrapping into 01:00 is one mode here,
    * two bins there. `mean_dir` converts atan2(S, C) back to category
    * units in [0, period).
    *
    * The value domain collapses to ≤ period rows; per-category trig
    * terms n_h·cosθ round 9 dp before the orderless sums (the
    * periodogram rule); the rest is one row of IEEE arithmetic.
    *
    * @return one row (n, rbar, z, p, mean_dir) — 6-dp (p 9-dp); NULL
    *         direction when R̄ = 0
    */
  def rayleighTest(df: DataFrame, categoryCol: Column,
                   period: Int = 24): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val TwoPi = 6.283185307179586
    val byH = df.select((categoryCol.cast("long") % period).as("__h"))
      .filter(F.col("__h").isNotNull)
      .groupBy("__h").agg(F.count(F.lit(1)).as("__nh"))
      .withColumn("__ang",
        F.lit(TwoPi) * F.col("__h").cast("double") / period.toDouble)
    val g = byH
      .withColumn("__ct",
        F.round(F.col("__nh").cast("double") * F.cos(F.col("__ang")), 9))
      .withColumn("__st",
        F.round(F.col("__nh").cast("double") * F.sin(F.col("__ang")), 9))
      .agg(F.sum("__nh").as("n"), F.sum("__ct").as("__c"),
        F.sum("__st").as("__s"))
    val nD = F.col("n").cast("double")
    val rbar = F.sqrt(F.col("__c") * F.col("__c") +
      F.col("__s") * F.col("__s")) / nD
    val z = nD * rbar * rbar
    // atan2 in [-pi, pi) -> category units in [0, period)
    val dir = (F.atan2(F.col("__s"), F.col("__c")) / TwoPi * period +
      period) % period
    g.select(F.col("n"), F.round(rbar, 6).as("rbar"),
      F.round(z, 6).as("z"), F.round(F.exp(-z), 9).as("p"),
      F.round(F.when(rbar > 0.0, dir), 6).as("mean_dir"))
  }

  /** Kuiper uniformity statistic over a cyclic category domain — the
    * rotation-invariant sibling of the x165 KS gap: V = D⁺ + D⁻ sums
    * the largest ECDF excursions in BOTH directions, so it weights the
    * "wrap-around" tails equally wherever the cycle is cut (a KS D
    * against uniform changes if you re-anchor midnight; V does not).
    * Over the binned domain h = 0..P−1 with T_h = P·cum_h − n·(h+1):
    * {{{
    *   V = (max(T, 0) − min(T, 0)) / (n·P)
    * }}}
    * — all exact longs over the common denominator, one IEEE division.
    * Read next to [[rayleighTest]]: Rayleigh sees one concentrated
    * mode, Kuiper also catches bimodal/antipodal patterns that cancel
    * the resultant vector.
    *
    * The domain collapses to ≤ P rows; one bounded window builds the
    * cumulative ladder.
    *
    * @return one row (n, d_plus, d_minus, v) — 6-dp
    */
  def kuiperUniform(df: DataFrame, categoryCol: Column,
                    period: Int = 24): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val byH = df.select((categoryCol.cast("long") % period).as("__h"))
      .filter(F.col("__h").isNotNull)
      .groupBy("__h").agg(F.count(F.lit(1)).as("__nh"))
    // full grid so empty bins still step the uniform CDF
    val grid = byH.sparkSession.range(0, period.toLong)
      .select(F.col("id").as("__h"))
    val w = Window.orderBy("__h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = grid.join(byH, Seq("__h"), "left")
      .withColumn("__nh", F.coalesce(F.col("__nh"), F.lit(0L)))
      .withColumn("__cum", F.sum("__nh").over(w))
    val tot = t.agg(F.max("__cum").as("n"))
    val g = t.crossJoin(F.broadcast(tot))
      .withColumn("__t", F.lit(period.toLong) * F.col("__cum") -
        F.col("n") * (F.col("__h") + 1L))
      .agg(F.max("n").as("n"),
        F.greatest(F.max("__t"), F.lit(0L)).as("__dp"),
        (-F.least(F.min("__t"), F.lit(0L))).as("__dm"))
    val den = F.nullif((F.col("n") * period.toLong).cast("double"),
      F.lit(0.0))
    g.select(F.col("n"),
      F.round(F.col("__dp").cast("double") / den, 6).as("d_plus"),
      F.round(F.col("__dm").cast("double") / den, 6).as("d_minus"),
      F.round((F.col("__dp") + F.col("__dm")).cast("double") / den, 6)
        .as("v"))
  }

  /** Variance-ratio test (Lo & MacKinlay 1988, homoskedastic form) —
    * does the series aggregate like a random walk? Under iid
    * increments, the variance of q-period changes is exactly q times
    * the 1-period variance, so
    * {{{
    *   VR(q) = s²_q / (q · s²_1),
    *   z = (VR − 1) · √(3·q·n / (2(2q−1)(q−1)))
    * }}}
    * VR > 1 is momentum (changes compound — the [[hurstRS]] H > 0.5
    * reading in ratio form), VR < 1 mean reversion. Overlapping
    * q-period differences (the standard estimator).
    *
    * Values quantize (×scale) to exact longs; both difference sets are
    * exact longs with exact (n, Σd, Σd²) — two IEEE variance divisions
    * and the closed-form z.
    *
    * Scale shape: two lag windows over the bounded series grid, one
    * 1-row collapse.
    *
    * @return one row (n, q, vr, z) — 6-dp; NULL when s²_1 = 0 or q > n
    */
  def varianceRatio(series: DataFrame, tCol: String, vCol: String,
                    q: Int, scale: Long = 1L): DataFrame = {
    require(q >= 2, s"q must be >= 2, got $q")
    val w = Window.orderBy("__t")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
      .withColumn("__d1", F.col("__y") - F.lag("__y", 1).over(w))
      .withColumn("__dq", F.col("__y") - F.lag("__y", q).over(w))
    val g = s.agg(
      F.count("__d1").as("n"),
      F.sum("__d1").as("__s1"),
      F.sum(F.col("__d1") * F.col("__d1")).as("__q1"),
      F.count("__dq").as("__nq"),
      F.sum("__dq").as("__sq"),
      F.sum(F.col("__dq") * F.col("__dq")).as("__qq"))
    def sv(qs: Column, ss: Column, n: Column): Column =
      (qs.cast("double") - ss.cast("double") *
        (ss.cast("double") / n.cast("double"))) /
        F.nullif(n.cast("double") - 1.0, F.lit(0.0))
    val v1 = sv(F.col("__q1"), F.col("__s1"), F.col("n"))
    val vq = sv(F.col("__qq"), F.col("__sq"), F.col("__nq"))
    val vr = vq / (F.lit(q.toDouble) * F.nullif(v1, F.lit(0.0)))
    val nD = F.col("n").cast("double")
    val qD = q.toDouble
    g.select(F.col("n"), F.lit(q.toLong).as("q"),
      F.round(vr, 6).as("vr"),
      F.round((vr - 1.0) * F.sqrt(F.lit(3.0 * qD) * nD /
        F.lit(2.0 * (2.0 * qD - 1.0) * (qD - 1.0))), 6).as("z"))
  }

  /** Taylor's power law fit (fluctuation scaling, Taylor 1961) — across
    * groups, Var ∝ Mean^b: the ln-ln OLS slope b over per-group
    * (mean, variance) of a count variable. b ≈ 1 is Poisson-like
    * independence; b → 2 means fluctuations scale with the mean itself
    * (bursty, synchronized activity) — the cross-sectional complement
    * of x292's single-rate overdispersion: not "is there
    * overdispersion" but "how does it GROW with volume".
    *
    * Per-group (n, Σk, Σk²) are exact longs (values ×scale); groups
    * need n ≥ 2, mean > 0, var > 0 (ln domain). The ≤|groups|
    * regression points use 9-dp ln terms (the [[hurstRS]] idiom).
    *
    * Scale shape: one keyed collapse to the group table, one bounded
    * regression rollup.
    *
    * @return one row (n_groups, slope, intercept) — 6-dp; NULL with
    *         < 2 usable groups
    */
  def taylorLaw(df: DataFrame, groupCol: Column, valueCol: Column,
                scale: Long = 1L): DataFrame = {
    val byG = df.select(groupCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
      .filter(F.col("__n") >= 2L)
    val nD = F.col("__n").cast("double")
    val sD = F.lit(scale).cast("double")
    val m = F.col("__s").cast("double") / (nD * sD)
    val v = (F.col("__q").cast("double") - F.col("__s").cast("double") *
      (F.col("__s").cast("double") / nD)) /
      ((nD - 1.0) * sD * sD)
    val pts = byG.select(
        F.when(m > 0.0 && v > 0.0,
          F.round(F.log(m), 9)).as("__x"),
        F.when(m > 0.0 && v > 0.0,
          F.round(F.log(v), 9)).as("__yl"))
      .filter(F.col("__x").isNotNull && F.col("__yl").isNotNull)
      .withColumn("__xy", F.round(F.col("__x") * F.col("__yl"), 9))
      .withColumn("__x2", F.round(F.col("__x") * F.col("__x"), 9))
    val reg = pts.agg(F.count(F.lit(1)).as("n_groups"),
      F.sum("__x").as("__sx"), F.sum("__yl").as("__sy"),
      F.sum("__xy").as("__sxy"), F.sum("__x2").as("__sx2"))
    val kD = F.col("n_groups").cast("double")
    val slope = (kD * F.col("__sxy") - F.col("__sx") * F.col("__sy")) /
      F.nullif(kD * F.col("__sx2") - F.col("__sx") * F.col("__sx"),
        F.lit(0.0))
    reg.select(F.col("n_groups"),
      Quant.noNegZero(F.round(F.when(F.col("n_groups") >= 2L, slope), 6))
        .as("slope"),
      Quant.noNegZero(F.round(F.when(F.col("n_groups") >= 2L,
        (F.col("__sy") - slope * F.col("__sx")) / kD), 6))
        .as("intercept"))
  }

  /** Near-zero-variance screen (the caret `nearZeroVar` heuristic) —
    * the column-profiling gate before any model/statistic consumes a
    * feature: a column whose most common value dwarfs the runner-up
    * (freq_ratio > freqCut) AND whose distinct values are rare relative
    * to rows (pct_unique < uniqueCut) carries almost no information but
    * can still destabilize resampled fits. Constant columns flag as
    * zero_var outright.
    *
    * All counts exact longs off one long-format value census; the two
    * ratios are single IEEE divisions.
    *
    * Scale shape: one corpus scan via a |covs|-wide explode, a
    * (covariate, value)-keyed census (partial-aggregated, bounded by
    * value domains), a covariate-keyed top-2 window.
    *
    * @return per covariate (covariate, n, n_unique, freq_ratio,
    *         pct_unique, zero_var, nzv) — 6-dp; freq_ratio NULL for
    *         constants
    */
  def nzvScreen(df: DataFrame, covariates: Seq[(String, Column)],
                freqCut: Double = 19.0,
                uniqueCut: Double = 0.1): DataFrame = {
    require(covariates.nonEmpty, "need at least one covariate")
    val long = df.select(
        F.explode(F.array(covariates.map { case (nm, c) =>
          F.struct(F.lit(nm).as("nm"), c.cast("string").as("v"))
        }: _*)).as("__cv"))
      .select(F.col("__cv.nm").as("covariate"), F.col("__cv.v").as("__v"))
      .filter(F.col("__v").isNotNull)
    val census = long.groupBy("covariate", "__v")
      .agg(F.count(F.lit(1)).as("__c"))
    val w = Window.partitionBy("covariate")
      .orderBy(F.col("__c").desc, F.col("__v"))
    val g = census
      .withColumn("__rk", F.row_number().over(w))
      .groupBy("covariate")
      .agg(F.sum("__c").as("n"),
        F.count(F.lit(1)).as("n_unique"),
        F.max(F.when(F.col("__rk") === 1, F.col("__c"))).as("__t1"),
        F.max(F.when(F.col("__rk") === 2, F.col("__c"))).as("__t2"))
    val fr = F.col("__t1").cast("double") / F.col("__t2").cast("double")
    val pu = F.col("n_unique").cast("double") / F.col("n").cast("double")
    val zv = F.col("n_unique") === 1L
    g.select(F.col("covariate"), F.col("n"), F.col("n_unique"),
      F.round(fr, 6).as("freq_ratio"),
      F.round(pu, 6).as("pct_unique"),
      zv.as("zero_var"),
      (zv || (fr > freqCut && pu < uniqueCut)).as("nzv"))
      .orderBy("covariate")
  }

  /** Gumbel (EV-I) fit + KS goodness-of-fit for block maxima — the
    * extreme-value question "how big can a peak day get": maxima of
    * iid-ish blocks converge to Gumbel, so fit by the method of
    * moments,
    * {{{
    *   β̂ = s·√6/π,   μ̂ = x̄ − γ·β̂,   F(x) = exp(−exp(−(x−μ̂)/β̂))
    * }}}
    * (γ the Euler–Mascheroni constant; both ride as single shared
    * literals) and report the [[expFitKs]]-style KS sup-gap D against
    * the fitted CDF. The tail-planning readout a mean+sd of maxima
    * hides.
    *
    * Values quantize (×scale) to exact longs so (n, Σk, Σk²) are exact;
    * the fitted CDF and both ECDF ladders are IEEE on identical
    * inputs; per-value gaps round 9 dp before the max.
    *
    * Scale shape: [[expFitKs]] — a value-domain collapse, one bounded
    * window, a 1-row result.
    *
    * @return one row (n, mu, beta, d) — 6-dp; NULL fit for constant
    *         maxima
    */
  def gumbelFitKs(df: DataFrame, valueCol: Column,
                  scale: Long = 1L): DataFrame = {
    val Sqrt6OverPi = 0.779696801233676
    val EulerGamma = 0.5772156649015329
    val byV = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__k").agg(F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__n"),
      F.sum(F.col("__k") * F.col("__t")).as("__s"),
      F.sum(F.col("__k") * F.col("__k") * F.col("__t")).as("__q"))
    val nD = F.col("__n").cast("double")
    val sD = F.lit(scale).cast("double")
    val mean = F.col("__s").cast("double") / (nD * sD)
    val sd = F.sqrt((F.col("__q").cast("double") -
      F.col("__s").cast("double") *
        (F.col("__s").cast("double") / nD)) /
      (F.nullif(nD - 1.0, F.lit(0.0)) * sD * sD))
    val beta = F.lit(Sqrt6OverPi) * sd
    val mu = mean - F.lit(EulerGamma) * beta
    val w = Window.orderBy(F.col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
      .withColumn("__f", F.exp(-F.exp(
        -(F.col("__k").cast("double") / sD - mu) /
          F.nullif(beta, F.lit(0.0)))))
      .withColumn("__d", F.round(F.greatest(
        F.abs(F.col("__cum").cast("double") / nD - F.col("__f")),
        F.abs((F.col("__cum") - F.col("__t")).cast("double") / nD -
          F.col("__f"))), 9))
    cum.agg(F.max("__n").as("n"),
      F.round(F.max(mu), 6).as("mu"),
      F.round(F.max(beta), 6).as("beta"),
      F.round(F.max("__d"), 6).as("d"))
  }

  /** Weight-of-evidence / information-value table (the credit-scorecard
    * feature audit): equal-width bins of a numeric feature against a
    * binary label,
    * {{{
    *   WoE_i = ln(g_i/G ÷ b_i/B),   IV = Σ (g_i/G − b_i/B)·WoE_i
    * }}}
    * IV < 0.02 is "useless", > 0.5 "suspiciously strong" (leakage
    * check). The monotonicity of WoE down the bins is the shape audit
    * a single x178-style AUC hides. One-sided bins (zero good or zero
    * bad) emit NULL WoE and drop from IV (the unsmoothed convention —
    * documented).
    *
    * Counts are exact longs off one scan (min/max ride a 1-row
    * broadcast, the x118 histogram idiom); shares and WoE are IEEE on
    * identical inputs; IV terms round 9 dp.
    *
    * @return per bin (bin, lo, hi, n_good, n_bad, woe, iv_bin, iv)
    *         ordered by bin — 6-dp
    */
  def woeIv(df: DataFrame, valueCol: Column, labelCol: Column,
            nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = df.select(valueCol.cast("double").as("__v"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .filter(F.col("__v").isNotNull)
    val mm = v.agg(F.min("__v").as("__lo"), F.max("__v").as("__hi"),
      F.sum("__y").as("__G"),
      F.sum(F.lit(1L) - F.col("__y")).as("__B"))
    val wBin = (F.col("__hi") - F.col("__lo")) / nBins.toDouble
    val binned = v.crossJoin(F.broadcast(mm))
      .withColumn("bin", F.least(F.greatest(
        F.floor((F.col("__v") - F.col("__lo")) /
          F.nullif(wBin, F.lit(0.0))), F.lit(0L)),
        F.lit(nBins - 1L)))
      .withColumn("bin", F.coalesce(F.col("bin"), F.lit(0L)))
      .groupBy("bin")
      .agg(F.sum("__y").as("n_good"),
        F.sum(F.lit(1L) - F.col("__y")).as("n_bad"),
        F.max(F.col("__lo") + F.col("bin") * wBin).as("lo"),
        F.max(F.col("__lo") + (F.col("bin") + 1L) * wBin).as("hi"),
        F.max("__G").as("__g"), F.max("__B").as("__b"))
    val gs = F.col("n_good").cast("double") /
      F.nullif(F.col("__g").cast("double"), F.lit(0.0))
    val bs = F.col("n_bad").cast("double") /
      F.nullif(F.col("__b").cast("double"), F.lit(0.0))
    val woe = F.when(F.col("n_good") > 0L && F.col("n_bad") > 0L,
      F.log(gs / bs))
    val terms = binned
      .withColumn("woe", F.round(woe, 6))
      .withColumn("__ivt", F.round((gs - bs) * woe, 9))
    val iv = terms.agg(
      F.round(F.coalesce(F.sum("__ivt"), F.lit(0.0)), 6).as("iv"))
    terms.crossJoin(F.broadcast(iv))
      .select(F.col("bin"), F.round(F.col("lo"), 6).as("lo"),
        F.round(F.col("hi"), 6).as("hi"), F.col("n_good"),
        F.col("n_bad"), F.col("woe"),
        F.round(F.col("__ivt"), 6).as("iv_bin"), F.col("iv"))
      .orderBy("bin")
  }

  /** Theil's uncertainty coefficient between two categorical columns —
    * the NORMALIZED, DIRECTIONAL mutual information: U(X|Y) =
    * I(X;Y)/H(X) is "what fraction of X's entropy does knowing Y
    * remove", in [0, 1], asymmetric (source may determine lang far
    * more than lang determines source — x142's raw MI can't say
    * which). The categorical-association readout Cramér's V (x109
    * family) symmetrizes away.
    *
    * All probabilities come from exact cell/margin counts; every
    * p·ln p term rounds 9 dp before its orderless sum; the two final
    * ratios are IEEE on identical inputs.
    *
    * Scale shape: one (x, y) cell census (bounded by the category
    * product), two margin rollups, a 1-row result.
    *
    * @return one row (n, h_x, h_y, mi, u_x_given_y, u_y_given_x) —
    *         6-dp; NULL U for a zero-entropy margin
    */
  def uncertaintyCoeff(df: DataFrame, xCol: Column,
                       yCol: Column): DataFrame = {
    val cells = df.select(xCol.cast("string").as("__x"),
        yCol.cast("string").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
      .groupBy("__x", "__y").agg(F.count(F.lit(1)).as("__c"))
    val tot = cells.agg(F.sum("__c").as("__n"))
    def negEnt(cnt: Column): Column =
      F.sum(F.round(cnt.cast("double") / F.col("__n").cast("double") *
        F.log(cnt.cast("double") / F.col("__n").cast("double")), 9))
    val withN = cells.crossJoin(F.broadcast(tot))
    val hxy = withN.agg((-negEnt(F.col("__c"))).as("__hxy"))
    val hx = withN.groupBy("__x")
      .agg(F.sum("__c").as("__cx"), F.max("__n").as("__n"))
      .agg((-F.sum(F.round(F.col("__cx").cast("double") /
        F.col("__n").cast("double") *
        F.log(F.col("__cx").cast("double") /
          F.col("__n").cast("double")), 9))).as("__hx"))
    val hy = withN.groupBy("__y")
      .agg(F.sum("__c").as("__cy"), F.max("__n").as("__n"))
      .agg((-F.sum(F.round(F.col("__cy").cast("double") /
        F.col("__n").cast("double") *
        F.log(F.col("__cy").cast("double") /
          F.col("__n").cast("double")), 9))).as("__hy"))
    val g = tot.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
      .crossJoin(F.broadcast(hxy))
    val mi = F.col("__hx") + F.col("__hy") - F.col("__hxy")
    g.select(F.col("__n").as("n"),
      F.round(F.col("__hx"), 6).as("h_x"),
      F.round(F.col("__hy"), 6).as("h_y"),
      F.round(mi, 6).as("mi"),
      F.round(mi / F.nullif(F.col("__hx"), F.lit(0.0)), 6)
        .as("u_x_given_y"),
      F.round(mi / F.nullif(F.col("__hy"), F.lit(0.0)), 6)
        .as("u_y_given_x"))
  }

  /** Bhattacharyya coefficient + distance + Hellinger distance between
    * two classes' value distributions over shared equal-width bins —
    * the OVERLAP readout: BC = Σ√(pᵢqᵢ) is 1 for identical histograms,
    * 0 for disjoint support; D_B = −ln BC and H = √(1−BC) are its two
    * standard metric forms. Where x324's CvM asks "are they the same
    * distribution" (a test), BC answers "how much do they overlap"
    * (an effect size) — the separability ceiling for any classifier on
    * this feature.
    *
    * Shared bins come from the global min/max (x118 idiom); per-bin
    * counts are exact longs; √(pq) terms round 9 dp before the
    * orderless sum.
    *
    * Scale shape: one scan to the (bin, class) census (≤ 2·nBins
    * rows), a 1-row result.
    *
    * @return one row (n1, n2, bc, d_b, hellinger) — 6-dp; NULL d_b
    *         when BC = 0
    */
  def bhattacharyya(df: DataFrame, valueCol: Column, isClass1: Column,
                    nBins: Int = 20): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = df.select(valueCol.cast("double").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
    val mm = v.agg(F.min("__v").as("__lo"), F.max("__v").as("__hi"))
    val wBin = (F.col("__hi") - F.col("__lo")) / nBins.toDouble
    val byBin = v.crossJoin(F.broadcast(mm))
      .withColumn("__bin", F.coalesce(F.least(F.greatest(
        F.floor((F.col("__v") - F.col("__lo")) /
          F.nullif(wBin, F.lit(0.0))), F.lit(0L)),
        F.lit(nBins - 1L)), F.lit(0L)))
      .groupBy("__bin")
      .agg(F.sum("__c1").as("__n1b"),
        F.sum(F.lit(1L) - F.col("__c1")).as("__n2b"))
    val tot = byBin.agg(F.sum("__n1b").as("n1"), F.sum("__n2b").as("n2"))
    val bc = byBin.crossJoin(F.broadcast(tot))
      .withColumn("__t", F.round(F.sqrt(
        F.col("__n1b").cast("double") /
          F.nullif(F.col("n1").cast("double"), F.lit(0.0)) *
        (F.col("__n2b").cast("double") /
          F.nullif(F.col("n2").cast("double"), F.lit(0.0)))), 9))
      .agg(F.max("n1").as("n1"), F.max("n2").as("n2"),
        F.sum("__t").as("__bc"))
    bc.select(F.col("n1"), F.col("n2"),
      F.round(F.col("__bc"), 6).as("bc"),
      F.round(-F.log(F.nullif(F.col("__bc"), F.lit(0.0))), 6).as("d_b"),
      F.round(F.sqrt(F.greatest(F.lit(1.0) - F.col("__bc"),
        F.lit(0.0))), 6).as("hellinger"))
  }

  /** Cluster-sampling design effect — how much information per-row
    * statistics LOSE when rows arrive in correlated clusters (users,
    * sessions, documents): DEFF = 1 + (m₀ − 1)·ICC, the variance
    * inflation of a cluster sample vs simple random sampling. DEFF = 3
    * means your "n = 1M rows" behaves like n ≈ 333k — the effective-
    * sample-size correction every per-event metric quoted with a CI
    * needs (the x192 freshness-ESS sibling for clustered data). ICC is
    * the one-way ANOVA intraclass correlation with the unequal-size
    * m₀ = (N − Σm²/N)/(k − 1).
    *
    * Per-cluster (n, Σk, Σk²) are exact longs (values ×scale); SSB and
    * SSW are ALL-POSITIVE per-group scalars rounded 9 dp before their
    * sums (the positive-SS rule); the rest is one row of IEEE algebra.
    *
    * Scale shape: one keyed collapse to k cluster rows, two bounded
    * rollups.
    *
    * @return one row (k, n, m0, icc, deff) — 6-dp; NULL icc/deff when
    *         k < 2 or N = k (no within variance)
    */
  def designEffect(df: DataFrame, clusterCol: Column, valueCol: Column,
                   scale: Long = 1L): DataFrame = {
    val byC = df.select(clusterCol.cast("string").as("__g"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
    val tot = byC.agg(F.count(F.lit(1)).as("k"), F.sum("__n").as("n"),
      F.sum("__s").as("__t"), F.sum(F.col("__n") * F.col("__n")).as("__m2"))
    val nD = F.col("__n").cast("double")
    val grand = F.col("__t").cast("double") / F.col("n").cast("double")
    val mg = F.col("__s").cast("double") / nD
    val terms = byC.crossJoin(F.broadcast(tot))
      .withColumn("__ssb",
        F.round(nD * (mg - grand) * (mg - grand), 9))
      .withColumn("__ssw", F.round(F.col("__q").cast("double") -
        F.col("__s").cast("double") * mg, 9))
    val g = terms.agg(F.max("k").as("k"), F.max("n").as("n"),
      F.max("__m2").as("__m2"),
      F.sum("__ssb").as("__sb"), F.sum("__ssw").as("__sw"))
    val kD = F.col("k").cast("double")
    val bigN = F.col("n").cast("double")
    val msb = F.col("__sb") / F.nullif(kD - 1.0, F.lit(0.0))
    val msw = F.col("__sw") / F.nullif(bigN - kD, F.lit(0.0))
    val m0 = (bigN - F.col("__m2").cast("double") / bigN) /
      F.nullif(kD - 1.0, F.lit(0.0))
    val icc = (msb - msw) /
      F.nullif(msb + (m0 - 1.0) * msw, F.lit(0.0))
    g.select(F.col("k"), F.col("n"), F.round(m0, 6).as("m0"),
      F.round(icc, 6).as("icc"),
      F.round(F.lit(1.0) + (m0 - 1.0) * icc, 6).as("deff"))
  }

  /** Permutation entropy (Bandt & Pompe 2002) at order m = 3 — series
    * complexity from ORDINAL patterns: each length-3 window maps to one
    * of 6 rank permutations by pure integer comparisons (ties broken by
    * time order, the standard convention), and the Shannon entropy of
    * the pattern distribution, normalized by ln 6, reads 0 for a
    * monotone ramp and → 1 for white noise. Robust to any monotone
    * value distortion — the ordinal complement of [[sampleEntropy]]'s
    * amplitude templates.
    *
    * Patterns are exact integers off two lead windows; the ≤6-row
    * pattern census uses 9-dp p ln p terms (the entropy rule).
    *
    * Scale shape: two lead windows over the bounded series grid, a
    * ≤6-row census, a 1-row readout.
    *
    * @return one row (n_windows, n_patterns, h, h_norm) — 6-dp; NULL
    *         with no complete window
    */
  def permutationEntropy(series: DataFrame, tCol: String,
                         vCol: String): DataFrame = {
    val w = Window.orderBy("__t")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.col(vCol).cast("double").as("__a"))
      .withColumn("__b", F.lead("__a", 1).over(w))
      .withColumn("__c", F.lead("__a", 2).over(w))
      .filter(F.col("__c").isNotNull)
    // ordinal pattern as a 2-digit code: (rank of b vs a) then ties by
    // time order — strictly-less comparisons encode the standard
    // time-order tie-break (earlier element ranks lower on equality)
    val pat =
      F.when(F.col("__b") < F.col("__a"), 1L).otherwise(0L) * 1L +
        F.when(F.col("__c") < F.col("__a"), 1L).otherwise(0L) * 2L +
        F.when(F.col("__c") < F.col("__b"), 1L).otherwise(0L) * 4L
    val census = s.select(pat.as("__p"))
      .groupBy("__p").agg(F.count(F.lit(1)).as("__c"))
    val tot = census.agg(F.sum("__c").as("__n"),
      F.count(F.lit(1)).as("n_patterns"))
    val g = census.crossJoin(F.broadcast(tot))
      .withColumn("__term", F.round(
        F.col("__c").cast("double") / F.col("__n").cast("double") *
          F.log(F.col("__c").cast("double") /
            F.col("__n").cast("double")), 9))
      .agg(F.max("__n").as("n_windows"),
        F.max("n_patterns").as("n_patterns"),
        (-F.sum("__term")).as("__h"))
    g.select(F.col("n_windows"), F.col("n_patterns"),
      F.round(F.col("__h"), 6).as("h"),
      F.round(F.col("__h") / F.log(F.lit(6.0)), 6).as("h_norm"))
  }

  /** Hjorth parameters (1970) — the three classic signal descriptors
    * off nothing but variances of the series and its differences:
    * {{{
    *   activity   = Var(x)
    *   mobility   = √(Var(Δx) / Var(x))      ("mean frequency")
    *   complexity = √(Var(Δ²x)/Var(Δx)) / mobility  (bandwidth)
    * }}}
    * mobility near 0 is a slow drift, complexity near 1 a pure
    * sinusoid, larger = noisier — the compact spectral summary when a
    * full [[periodogram]] is more than the dashboard needs.
    *
    * Values quantize (×scale) to exact longs, so all three difference
    * levels have exact (n, Σd, Σd²) and the parameters are a handful
    * of IEEE divisions.
    *
    * Scale shape: two lag windows over the bounded series grid, one
    * 1-row collapse.
    *
    * @return one row (n, activity, mobility, complexity) — 6-dp; NULL
    *         where a variance vanishes
    */
  def hjorthParams(series: DataFrame, tCol: String, vCol: String,
                   scale: Long = 1L): DataFrame = {
    val w = Window.orderBy("__t")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
      .withColumn("__d1", F.col("__y") - F.lag("__y", 1).over(w))
      .withColumn("__d2", F.col("__d1") - F.lag("__d1", 1).over(w))
    def ss(c: Column): Seq[Column] = Seq(
      F.count(c), F.sum(c), F.sum(c * c))
    val cols = ss(F.col("__y")) ++ ss(F.col("__d1")) ++ ss(F.col("__d2"))
    val named = cols.zipWithIndex.map { case (c, i) => c.as(s"__c$i") }
    val g = s.agg(named.head, named.tail: _*)
    val sD = F.lit(scale).cast("double")
    def v(i: Int): Column = {
      val n = F.col(s"__c${i}").cast("double")
      (F.col(s"__c${i + 2}").cast("double") -
        F.col(s"__c${i + 1}").cast("double") *
          (F.col(s"__c${i + 1}").cast("double") / n)) /
        (F.nullif(n - 1.0, F.lit(0.0)) * sD * sD)
    }
    val (v0, v1, v2) = (v(0), v(3), v(6))
    val mob = F.sqrt(v1 / F.nullif(v0, F.lit(0.0)))
    g.select(F.col("__c0").as("n"),
      F.round(v0, 6).as("activity"),
      F.round(mob, 6).as("mobility"),
      F.round(F.sqrt(v2 / F.nullif(v1, F.lit(0.0))) /
        F.nullif(mob, F.lit(0.0)), 6).as("complexity"))
  }

  /** Poincaré plot descriptors SD1/SD2 — successive-pair geometry of a
    * series: plot (xₜ, xₜ₊₁) and measure the cloud's spread across
    * (SD1, short-term jitter) and along (SD2, long-term swing) the
    * identity line:
    * {{{
    *   SD1² = Var((xₜ − xₜ₊₁)/√2),   SD2² = Var((xₜ + xₜ₊₁)/√2)
    * }}}
    * SD1/SD2 ≈ 1 is uncorrelated noise, ≪ 1 a smooth trending series —
    * the two-number texture readout heart-rate analysis made standard,
    * equally at home on inter-event gaps or daily volumes.
    *
    * Quantized differences/sums are exact longs with exact sufficient
    * statistics; the √2 scaling collapses into the final IEEE algebra
    * (Var(u/√2) = Var(u)/2).
    *
    * Scale shape: one lead window over the bounded series grid, one
    * 1-row collapse.
    *
    * @return one row (n_pairs, sd1, sd2, ratio) — 6-dp; NULL where
    *         degenerate
    */
  def poincareSd(series: DataFrame, tCol: String, vCol: String,
                 scale: Long = 1L): DataFrame = {
    val w = Window.orderBy("__t")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
      .withColumn("__nx", F.lead("__y", 1).over(w))
      .filter(F.col("__nx").isNotNull)
      .withColumn("__d", F.col("__y") - F.col("__nx"))
      .withColumn("__s", F.col("__y") + F.col("__nx"))
    val g = s.agg(F.count(F.lit(1)).as("n_pairs"),
      F.sum("__d").as("__sd"), F.sum(F.col("__d") * F.col("__d")).as("__qd"),
      F.sum("__s").as("__ss"), F.sum(F.col("__s") * F.col("__s")).as("__qs"))
    val nD = F.col("n_pairs").cast("double")
    val sc2 = F.lit(scale).cast("double") * F.lit(scale).cast("double")
    def halfVar(q: Column, sm: Column): Column =
      (q.cast("double") - sm.cast("double") * (sm.cast("double") / nD)) /
        (F.nullif(nD - 1.0, F.lit(0.0)) * 2.0 * sc2)
    val sd1 = F.sqrt(halfVar(F.col("__qd"), F.col("__sd")))
    val sd2 = F.sqrt(halfVar(F.col("__qs"), F.col("__ss")))
    g.select(F.col("n_pairs"), F.round(sd1, 6).as("sd1"),
      F.round(sd2, 6).as("sd2"),
      F.round(sd1 / F.nullif(sd2, F.lit(0.0)), 6).as("ratio"))
  }

  /** McLeod–Li portmanteau test — [[ljungBox]] applied to SQUARED mean
    * deviations: a series can be autocorrelation-free (x280 passes) yet
    * volatility-clustered — calm days follow calm days, wild days wild
    * — and that structure lives in the squares (the ARCH-effect
    * screen). Squared deviations are rounded to exact integer longs
    * ((yₜ − ȳ)² is IEEE-identical cross-engine from exact inputs, and
    * the integer rounding makes the downstream Ljung-Box ladder exact;
    * the autocorrelations of a series are invariant to that monotone
    * re-quantization only approximately, so the ROUNDED series IS the
    * definition here — documented, shared with the oracle).
    *
    * Scale shape: [[ljungBox]]'s — a 1-row mean, one projection, the
    * lag-explode join over the bounded series grid.
    *
    * @return one row (n, h, lb, df) — 6-dp, same schema as ljungBox
    */
  def mcleodLi(series: DataFrame, tCol: String, vCol: String,
               maxLag: Int = 7): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.col(vCol).cast("double").as("__v"))
      .filter(F.col("__v").isNotNull)
    val tot = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__v").as("__sv"))
    val sq = s.crossJoin(F.broadcast(tot))
      .select(F.col("__t"),
        F.round((F.col("__v") - F.col("__sv") /
            F.col("__n").cast("double")) *
          (F.col("__v") - F.col("__sv") /
            F.col("__n").cast("double"))).cast("long").as("__x2"))
    ljungBox(sq, F.col("__t"), F.col("__x2"), maxLag)
  }

  /** Operating-point sweep of a scored binary classifier — the
    * threshold x178's AUC deliberately abstracts away: over every
    * distinct score as a "classify positive if score ≥ t" cut, report
    * the Youden-J-optimal point (max tpr − fpr, the balanced-cost
    * choice) and the F1-optimal point (the precision/recall choice for
    * rare positives). The two rows a deployment actually needs.
    *
    * Exact (TP, FP) ladders off the distinct-score collapse (the
    * [[aucExact]] discipline); all ratios are IEEE on exact longs;
    * argmax ties break toward the HIGHER threshold (the conservative
    * cut), deterministically.
    *
    * Scale shape: one value-domain collapse, one bounded descending
    * ladder, two rank-1 filters.
    *
    * @return two rows (criterion, threshold, tp, fp, tpr, fpr,
    *         precision, f1) ordered by criterion — 6-dp
    */
  def thresholdSweep(df: DataFrame, scoreCol: Column,
                     labelCol: Column): DataFrame = {
    val byV = df.select(scoreCol.cast("double").as("__v"),
        F.when(labelCol, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"),
        F.sum(F.lit(1L) - F.col("__c1")).as("__n0v"))
    val tot = byV.agg(F.sum("__n1v").as("__P"), F.sum("__n0v").as("__N"))
    val w = Window.orderBy(F.col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = byV
      .withColumn("__tp", F.sum("__n1v").over(w))
      .withColumn("__fp", F.sum("__n0v").over(w))
      .crossJoin(F.broadcast(tot))
    val tpD = F.col("__tp").cast("double")
    val fpD = F.col("__fp").cast("double")
    val pD = F.col("__P").cast("double")
    val nD = F.col("__N").cast("double")
    val tpr = tpD / F.nullif(pD, F.lit(0.0))
    val fpr = fpD / F.nullif(nD, F.lit(0.0))
    val j = tpr - fpr
    val f1 = F.lit(2.0) * tpD /
      F.nullif(tpD + fpD + pD, F.lit(0.0))
    val scored = lad.select(F.col("__v"), F.col("__tp"), F.col("__fp"),
      tpr.as("__tpr"), fpr.as("__fpr"),
      (tpD / F.nullif(tpD + fpD, F.lit(0.0))).as("__prec"),
      j.as("__j"), f1.as("__f1"))
    def pick(crit: String, by: Column): DataFrame = scored
      .withColumn("__rk", F.row_number().over(
        Window.orderBy(by.desc, F.col("__v").desc)))
      .filter(F.col("__rk") === 1)
      .select(F.lit(crit).as("criterion"),
        F.round(F.col("__v"), 6).as("threshold"),
        F.col("__tp").as("tp"), F.col("__fp").as("fp"),
        F.round(F.col("__tpr"), 6).as("tpr"),
        F.round(F.col("__fpr"), 6).as("fpr"),
        F.round(F.col("__prec"), 6).as("precision"),
        F.round(F.col("__f1"), 6).as("f1"))
    pick("f1", F.col("__f1")).unionAll(pick("youden", F.col("__j")))
      .orderBy("criterion")
  }

  /** Spiegelhalter's calibration z-test — the SIGNIFICANCE companion of
    * x177's ECE and x287's Hosmer-Lemeshow: under perfect calibration
    * E[(y−p)(1−2p)] = 0 per prediction, so
    * {{{
    *   z = Σ(yᵢ−pᵢ)(1−2pᵢ) / √(Σ(1−2pᵢ)²·pᵢ(1−pᵢ))
    * }}}
    * is standard normal — no binning choice at all (the HL df/bin
    * debate disappears). |z| > 2 says the scores are mis-calibrated as
    * probabilities even if they RANK well (x178 can be high while this
    * fails).
    *
    * Per-row terms round 9 dp before the orderless sums; scores arrive
    * 6-dp from the scorer, so both engines see identical inputs.
    *
    * Scale shape: one scan, two sums, a 1-row result.
    *
    * @return one row (n, z) — 6-dp; NULL for degenerate (all-0/1)
    *         scores
    */
  def spiegelhalterZ(df: DataFrame, scoreCol: Column,
                     labelCol: Column): DataFrame = {
    val s = df.select(scoreCol.cast("double").as("__p"),
        F.when(labelCol, 1.0).otherwise(0.0).as("__y"))
      .filter(F.col("__p").isNotNull)
    val g = s
      .withColumn("__num", F.round((F.col("__y") - F.col("__p")) *
        (F.lit(1.0) - F.lit(2.0) * F.col("__p")), 9))
      .withColumn("__den", F.round(
        (F.lit(1.0) - F.lit(2.0) * F.col("__p")) *
          (F.lit(1.0) - F.lit(2.0) * F.col("__p")) *
          F.col("__p") * (F.lit(1.0) - F.col("__p")), 9))
      .agg(F.count(F.lit(1)).as("n"), F.sum("__num").as("__sn"),
        F.sum("__den").as("__sd"))
    g.select(F.col("n"),
      F.round(F.col("__sn") /
        F.sqrt(F.nullif(F.col("__sd"), F.lit(0.0))), 6).as("z"))
  }

  /** Distance correlation (Székely et al. 2007) — dependence of ANY
    * form, not just linear/monotone: dCor = 0 iff X and Y are
    * independent (Pearson/Spearman can be 0 under perfect U-shaped
    * dependence; dCor cannot). Double-center the pairwise |Δ| matrices
    * and correlate:
    * {{{
    *   A = a − ā_i· − ā_·j + ā,   dCov² = mean(A∘B),
    *   dCor² = dCov² / √(dVarX·dVarY)
    * }}}
    * Pair distances are exact quantized longs; row/grand sums exact;
    * the centered products round 9 dp before their means.
    *
    * Scale shape: one all-pairs scan over a BOUNDED sample (the x211
    * regime — dependence structure is a distribution property; run it
    * on a deterministic sample at corpus scale), with the pair table
    * localCheckpoint'd once for the row-sum and product passes.
    *
    * @return one row (n, dcov2, dvarx, dvary, dcor) — 6-dp; NULL dcor
    *         for a constant margin
    */
  def distanceCorrelation(df: DataFrame, idCol: Column, xCol: Column,
                          yCol: Column, scale: Long = 1L): DataFrame = {
    val s = df.select(idCol.as("__i"),
        F.round(xCol.cast("double") * scale).cast("long").as("__x"),
        F.round(yCol.cast("double") * scale).cast("long").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    val pairs = s.crossJoin(s.select(F.col("__i").as("__j"),
        F.col("__x").as("__xj"), F.col("__y").as("__yj")))
      .select(F.col("__i"), F.col("__j"),
        F.abs(F.col("__x") - F.col("__xj")).as("__a"),
        F.abs(F.col("__y") - F.col("__yj")).as("__b"))
      .localCheckpoint()
    val rows = pairs.groupBy("__i")
      .agg(F.sum("__a").as("__ra"), F.sum("__b").as("__rb"))
    val grand = rows.agg(F.count(F.lit(1)).as("__n"),
      F.sum("__ra").as("__ga"), F.sum("__rb").as("__gb"))
    val nD = F.col("__n").cast("double")
    val sD = F.lit(scale).cast("double")
    val joined = pairs
      .join(rows.select(F.col("__i"), F.col("__ra").as("__rai"),
        F.col("__rb").as("__rbi")), Seq("__i"))
      .join(rows.select(F.col("__i").as("__j"),
        F.col("__ra").as("__raj"), F.col("__rb").as("__rbj")),
        Seq("__j"))
      .crossJoin(F.broadcast(grand))
    def ctr(v: Column, ri: Column, rj: Column, g: Column): Column =
      (v.cast("double") - ri.cast("double") / nD -
        rj.cast("double") / nD +
        g.cast("double") / (nD * nD)) / sD
    val aC = ctr(F.col("__a"), F.col("__rai"), F.col("__raj"),
      F.col("__ga"))
    val bC = ctr(F.col("__b"), F.col("__rbi"), F.col("__rbj"),
      F.col("__gb"))
    val g = joined
      .withColumn("__ab", F.round(aC * bC, 9))
      .withColumn("__aa", F.round(aC * aC, 9))
      .withColumn("__bb", F.round(bC * bC, 9))
      .agg(F.max("__n").as("n"), F.avg("__ab").as("__dcov2"),
        F.avg("__aa").as("__dvx"), F.avg("__bb").as("__dvy"))
    g.select(F.col("n"),
      F.round(F.col("__dcov2"), 6).as("dcov2"),
      F.round(F.col("__dvx"), 6).as("dvarx"),
      F.round(F.col("__dvy"), 6).as("dvary"),
      F.round(F.sqrt(F.greatest(F.col("__dcov2"), F.lit(0.0)) /
        F.nullif(F.sqrt(F.col("__dvx") * F.col("__dvy")), F.lit(0.0))),
        6).as("dcor"))
  }

  /** Per-key Mann-Kendall sufficient statistics: S (concordant minus
    * discordant time-ordered pairs), the tie-corrected variance, and
    * the per-key point count — the shared core of [[mannKendallBy]]
    * and [[seasonalMannKendall]]. */
  private def mkByKey(series: DataFrame, keyCol: Column, tCol: Column,
                      valueCol: Column, scale: Long): DataFrame = {
    val s = series.select(keyCol.cast("string").as("__g"),
        tCol.cast("long").as("__t"),
        F.round(valueCol.cast("double") * scale).cast("long").as("__v"))
      .filter(F.col("__t").isNotNull && F.col("__v").isNotNull)
    val a = s.select(F.col("__g"), F.col("__t").as("__ta"),
      F.col("__v").as("__va"))
    val b = s.select(F.col("__g"), F.col("__t").as("__tb"),
      F.col("__v").as("__vb"))
    val sByG = a.join(b, Seq("__g"))
      .filter(F.col("__tb") > F.col("__ta"))
      .groupBy("__g")
      .agg(F.sum(F.when(F.col("__vb") > F.col("__va"), 1L)
        .when(F.col("__vb") < F.col("__va"), -1L).otherwise(0L)).as("s"))
    val ties = s.groupBy("__g", "__v")
      .agg(F.count(F.lit(1)).as("__tc"))
      .groupBy("__g")
      .agg(F.sum(F.col("__tc") * (F.col("__tc") - 1L) *
        (F.col("__tc") * 2L + 5L)).as("__tt"),
        F.sum("__tc").as("__n"))
    ties.join(sByG, Seq("__g"), "left")
      .withColumn("s", F.coalesce(F.col("s"), F.lit(0L)))
      .withColumn("__vnum",
        (F.col("__n") * (F.col("__n") - 1L) *
          (F.col("__n") * 2L + 5L)) - F.col("__tt"))
      .withColumn("__vs", F.col("__vnum").cast("double") / 18.0)
  }

  /** Mann-Kendall trend census per slice — x284's single trend test
    * run across every group at once: which event types / sources are
    * actually drifting, with per-slice tie-corrected z. The monitoring
    * table form of the trend question.
    *
    * Scale shape: the pair join is per-key (bounded series per slice,
    * never cross-slice) and the tie census is a keyed collapse.
    *
    * @return per key (key, n, s, var_s, z) ordered — 6-dp
    */
  def mannKendallBy(series: DataFrame, keyCol: Column, tCol: Column,
                    valueCol: Column, scale: Long = 1L): DataFrame = {
    val core = mkByKey(series, keyCol, tCol, valueCol, scale)
    core.select(F.col("__g").as("key"), F.col("__n").as("n"),
      F.col("s"), F.round(F.col("__vs"), 6).as("var_s"),
      F.round(F.when(F.col("s") > 0L,
          (F.col("s") - 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .when(F.col("s") < 0L,
          (F.col("s") + 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .otherwise(F.lit(0.0)), 6).as("z"))
      .orderBy("key")
  }

  /** Seasonal Mann-Kendall (Hirsch & Slack 1984) — the trend test that
    * a strong weekly/daily cycle does NOT fool: compute S and its
    * variance WITHIN each season (comparing only like-with-like —
    * Mondays with Mondays), then pool:
    * {{{
    *   S = Σ_g S_g,   Var = Σ_g Var_g,   z with ±1 correction
    * }}}
    * x284's plain MK reads a pure seasonal cycle as zig-zag noise
    * (power loss) or, with trend+cycle, biases S; the seasonal form
    * removes the cycle exactly.
    *
    * Scale shape: [[mannKendallBy]]'s per-key pair join + two 1-row
    * rollups.
    *
    * @return one row (n, n_seasons, s, var_s, z) — 6-dp
    */
  def seasonalMannKendall(series: DataFrame, seasonCol: Column,
                          tCol: Column, valueCol: Column,
                          scale: Long = 1L): DataFrame = {
    val core = mkByKey(series, seasonCol, tCol, valueCol, scale)
    // sum the exact integer variance numerators, divide ONCE — the
    // per-season /18 quotients would sum order-dependently
    val g = core.agg(F.sum("__n").as("n"),
      F.count(F.lit(1)).as("n_seasons"),
      F.sum("s").as("s"),
      (F.sum("__vnum").cast("double") / 18.0).as("__vs"))
    g.select(F.col("n"), F.col("n_seasons"), F.col("s"),
      F.round(F.col("__vs"), 6).as("var_s"),
      F.round(F.when(F.col("s") > 0L,
          (F.col("s") - 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .when(F.col("s") < 0L,
          (F.col("s") + 1L).cast("double") /
            F.nullif(F.sqrt(F.col("__vs")), F.lit(0.0)))
        .otherwise(F.lit(0.0)), 6).as("z"))
  }

  /** Variance inflation factors for a THREE-covariate design — the
    * multicollinearity audit in closed form (no matrix inversion):
    * with pairwise Pearson correlations r₁₂, r₁₃, r₂₃,
    * {{{
    *   R²_{1|23} = (r₁₂² + r₁₃² − 2r₁₂r₁₃r₂₃) / (1 − r₂₃²),
    *   VIF₁ = 1 / (1 − R²)
    * }}}
    * (and cyclically). VIF > 5–10 says the regression x107/x288 runs
    * on these covariates cannot attribute effects between them.
    *
    * All correlations come from one pass of exact quantized sufficient
    * statistics (n, Σkᵢ, Σkᵢ², Σkᵢkⱼ); the closed form is a handful of
    * IEEE ops on identical inputs.
    *
    * Scale shape: ONE corpus scan to a 1-row sufficient-statistic
    * collapse; the 3-row readout explodes from it.
    *
    * @return per covariate (covariate, r2, vif) ordered — 6-dp; NULL
    *         when the other pair is perfectly collinear
    */
  def vif3(df: DataFrame, c1: (String, Column), c2: (String, Column),
           c3: (String, Column), scale: Long = 1L): DataFrame = {
    def q(c: Column): Column =
      F.round(c.cast("double") * scale).cast("long")
    val s = df.select(q(c1._2).as("__k1"), q(c2._2).as("__k2"),
        q(c3._2).as("__k3"))
      .filter(F.col("__k1").isNotNull && F.col("__k2").isNotNull &&
        F.col("__k3").isNotNull)
    val g = s.agg(F.count(F.lit(1)).as("__n"),
      F.sum("__k1").as("__s1"), F.sum("__k2").as("__s2"),
      F.sum("__k3").as("__s3"),
      F.sum(F.col("__k1") * F.col("__k1")).as("__q1"),
      F.sum(F.col("__k2") * F.col("__k2")).as("__q2"),
      F.sum(F.col("__k3") * F.col("__k3")).as("__q3"),
      F.sum(F.col("__k1") * F.col("__k2")).as("__p12"),
      F.sum(F.col("__k1") * F.col("__k3")).as("__p13"),
      F.sum(F.col("__k2") * F.col("__k3")).as("__p23"))
    val nD = F.col("__n").cast("double")
    def cv(p: Column, sa: Column, sb: Column): Column =
      p.cast("double") - sa.cast("double") * (sb.cast("double") / nD)
    def vx(qq: Column, ss: Column): Column =
      qq.cast("double") - ss.cast("double") * (ss.cast("double") / nD)
    val r12 = cv(F.col("__p12"), F.col("__s1"), F.col("__s2")) /
      F.sqrt(vx(F.col("__q1"), F.col("__s1")) *
        vx(F.col("__q2"), F.col("__s2")))
    val r13 = cv(F.col("__p13"), F.col("__s1"), F.col("__s3")) /
      F.sqrt(vx(F.col("__q1"), F.col("__s1")) *
        vx(F.col("__q3"), F.col("__s3")))
    val r23 = cv(F.col("__p23"), F.col("__s2"), F.col("__s3")) /
      F.sqrt(vx(F.col("__q2"), F.col("__s2")) *
        vx(F.col("__q3"), F.col("__s3")))
    def r2Of(ra: Column, rb: Column, rc: Column): Column =
      (ra * ra + rb * rb - F.lit(2.0) * ra * rb * rc) /
        F.nullif(F.lit(1.0) - rc * rc, F.lit(0.0))
    def rowOf(nm: String, ra: Column, rb: Column,
              rc: Column): Column = {
      val r2 = r2Of(ra, rb, rc)
      F.struct(F.lit(nm).as("covariate"),
        F.round(r2, 6).as("r2"),
        F.round(F.lit(1.0) / F.nullif(F.lit(1.0) - r2, F.lit(0.0)), 6)
          .as("vif"))
    }
    g.select(F.explode(F.array(
        rowOf(c1._1, r12, r13, r23),
        rowOf(c2._1, r12, r23, r13),
        rowOf(c3._1, r13, r23, r12))).as("__r"))
      .select(F.col("__r.covariate").as("covariate"),
        F.col("__r.r2").as("r2"), F.col("__r.vif").as("vif"))
      .orderBy("covariate")
  }

  /** Lorenz asymmetry coefficient (Damgaard & Weiner 2000) — WHERE the
    * inequality lives: S = F(μ) + L(μ), the Lorenz curve's coordinates
    * where its slope is 1 (at the mean). S > 1 means the concentration
    * comes from a few LARGE holders; S < 1 from many small ones — two
    * corpora can share a Gini (x128) and differ completely here, and
    * the fix differs (cap the whales vs prune the dust).
    *
    * F(μ) = (#x < μ)/n and L(μ) = (Σ_{x<μ} x)/Σx use strict-below
    * masses (μ itself almost never equals a value on continuous-ish
    * data; exact-μ ties would add the standard δ interpolation —
    * documented simplification, shared with the oracle). All masses
    * are exact longs; μ and the two shares are IEEE on exact inputs.
    *
    * Scale shape: one 1-row total, one filtered collapse — two scans,
    * no shuffle beyond the rollups.
    *
    * @return one row (n, mean, f_mu, l_mu, s) — 6-dp
    */
  def lorenzAsymmetry(df: DataFrame, valueCol: Column,
                      scale: Long = 1L): DataFrame = {
    val v = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull && F.col("__k") >= 0L)
    val tot = v.agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__t"))
    val mu = F.col("__t").cast("double") / F.col("n").cast("double")
    val below = v.crossJoin(F.broadcast(tot))
      .filter(F.col("__k").cast("double") < mu)
      .agg(F.count(F.lit(1)).as("__nb"), F.sum("__k").as("__sb"))
    val g = tot.crossJoin(F.broadcast(below))
    val fMu = F.col("__nb").cast("double") /
      F.nullif(F.col("n").cast("double"), F.lit(0.0))
    val lMu = F.col("__sb").cast("double") /
      F.nullif(F.col("__t").cast("double"), F.lit(0.0))
    g.select(F.col("n"),
      F.round(mu / F.lit(scale).cast("double"), 6).as("mean"),
      F.round(fMu, 6).as("f_mu"), F.round(lMu, 6).as("l_mu"),
      F.round(fMu + lMu, 6).as("s"))
  }

  /** Gwet's AC1 agreement coefficient (2008) — [[cohensKappa]] without
    * the prevalence paradox: when both raters say "yes" 95% of the
    * time, κ's chance correction collapses (high agreement, κ ≈ 0);
    * AC1's chance term p_e = 2π̄(1−π̄) with π̄ the MEAN marginal stays
    * calibrated. The standard cross-check: report κ and AC1 together,
    * and a large gap means the labels are skewed, not the raters
    * discordant.
    *
    * Same four exact longs as κ; two IEEE shares.
    *
    * @return one row (n, po, pe, ac1) — 6-dp
    */
  def gwetAc1(df: DataFrame, raterA: Column,
              raterB: Column): DataFrame = {
    val c = df.select(F.when(raterA, 1L).otherwise(0L).as("__a"),
        F.when(raterB, 1L).otherwise(0L).as("__b"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("__a") * F.col("__b")).as("__n11"),
        F.sum((F.lit(1L) - F.col("__a")) * (F.lit(1L) - F.col("__b")))
          .as("__n00"),
        F.sum("__a").as("__na"), F.sum("__b").as("__nb"))
    val nD = F.col("n").cast("double")
    val po = (F.col("__n11") + F.col("__n00")).cast("double") / nD
    val piBar = (F.col("__na") + F.col("__nb")).cast("double") /
      (F.lit(2.0) * nD)
    val pe = F.lit(2.0) * piBar * (F.lit(1.0) - piBar)
    c.select(F.col("n"), F.round(po, 6).as("po"),
      F.round(pe, 6).as("pe"),
      F.round((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)), 6)
        .as("ac1"))
  }

  /** Weibull fit by median-rank regression (the probability-plot
    * method): plot ln(−ln(1−Fᵢ)) against ln xᵢ with Bernard's median
    * ranks Fᵢ = (i − 0.3)/(n + 0.4), and the OLS slope IS the shape k
    * (k < 1: infant-mortality/heavy tail, k ≈ 1 exponential, k > 1
    * wear-out), scale λ = exp(−intercept/k). The standard reliability
    * fit next to [[expFitKs]] (which FORCES k = 1) and
    * [[gumbelFitKs]] (maxima, not lifetimes).
    *
    * Ranks collapse to the distinct-value ladder (i = cumulative
    * count, the last-member order statistic per tie group — the
    * documented tie convention); both plot coordinates round 9 dp
    * before the [[hurstRS]]-idiom OLS sums.
    *
    * Scale shape: one value-domain collapse, one bounded ladder
    * window, a 1-row regression.
    *
    * @return one row (n, shape, scale_p, r2) — 6-dp; NULL on < 2
    *         distinct positive values
    */
  def weibullFit(df: DataFrame, valueCol: Column): DataFrame = {
    val byV = df.select(valueCol.cast("double").as("__v"))
      .filter(F.col("__v") > 0.0)
      .groupBy("__v").agg(F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__n"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = F.col("__n").cast("double")
    val pts = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
      .withColumn("__f",
        (F.col("__cum").cast("double") - 0.3) / (nD + 0.4))
      .withColumn("__x", F.round(F.log(F.col("__v")), 9))
      .withColumn("__y",
        F.round(F.log(-F.log(F.lit(1.0) - F.col("__f"))), 9))
      .withColumn("__xy", F.round(F.col("__x") * F.col("__y"), 9))
      .withColumn("__x2", F.round(F.col("__x") * F.col("__x"), 9))
      .withColumn("__y2", F.round(F.col("__y") * F.col("__y"), 9))
    val reg = pts.agg(F.max("__n").as("n"),
      F.count(F.lit(1)).as("__k"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum("__xy").as("__sxy"), F.sum("__x2").as("__sx2"),
      F.sum("__y2").as("__sy2"))
    val kD = F.col("__k").cast("double")
    val sxx = kD * F.col("__sx2") - F.col("__sx") * F.col("__sx")
    val syy = kD * F.col("__sy2") - F.col("__sy") * F.col("__sy")
    val sxy = kD * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    val shape = sxy / F.nullif(sxx, F.lit(0.0))
    val inter = (F.col("__sy") - shape * F.col("__sx")) / kD
    reg.select(F.col("n"),
      F.round(F.when(F.col("__k") >= 2L, shape), 6).as("shape"),
      F.round(F.when(F.col("__k") >= 2L,
        F.exp(-inter / F.nullif(shape, F.lit(0.0)))), 6).as("scale_p"),
      F.round(F.when(F.col("__k") >= 2L,
        sxy * sxy / F.nullif(sxx * syy, F.lit(0.0))), 6).as("r2"))
  }

  /** One-sample Cramér–von Mises test against Uniform(0, 1) — the PIT
    * (probability-integral-transform) check: if scores are honest
    * probabilities/quantiles, their distribution on [0, 1] is uniform
    * and
    * {{{
    *   W² = Σᵢ (uᵢ − (2i−1)/(2n))² + 1/(12n),   E[W²] = 1/6
    * }}}
    * is small. The whole-distribution companion of x367's mean-level
    * calibration z: a scorer can pass the mean test and still pile
    * every score at 0.4/0.6 — W² sees the shape.
    *
    * Per tie group (consecutive order statistics a..b sharing value
    * u), Σ(uᵢ − (2i−1)/2n)² has the closed arithmetic-series form in
    * exact longs scaled by 4n² — the [[cvmTwoSample]] discipline; u
    * arrives 6-dp so both engines see identical inputs. Per-group
    * terms round 9 dp.
    *
    * Scale shape: one value-domain collapse, one bounded ladder, a
    * 1-row result.
    *
    * @return one row (n, w2, e_w2) — 6-dp
    */
  def cvmUniform(df: DataFrame, valueCol: Column): DataFrame = {
    val byV = df.select(valueCol.cast("double").as("__u"))
      .filter(F.col("__u").isNotNull)
      .groupBy("__u").agg(F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__n"))
    val w = Window.orderBy(F.col("__u"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = F.col("__n").cast("double")
    // group occupies order statistics a..b; with m = 2i−1:
    // Σ(u − m/2n)² = t·u² − (u/n)·Σm + Σm²/(4n²), Σm and Σm² closed
    val lad = byV
      .withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
    val b = F.col("__cum")
    val a = F.col("__cum") - F.col("__t") + 1L
    // Σ_{i=a..b}(2i−1) = (b² − (a−1)²) exactly
    val sm = (b * b - (a - 1L) * (a - 1L)).cast("double")
    // Σ_{i=a..b}(2i−1)² = Σ_{j odd, 2a−1..2b−1} j² =
    //   (2b−1)(2b)(2b+1)/6 − (2a−2)(2a−1)(2a)/6 − even part; use the
    //   direct closed form Σ(2i−1)² = (4i²−4i+1) summed:
    val s1 = (b * (b + 1L) / 2L - (a - 1L) * a / 2L).cast("double")
    val s2 = (b * (b + 1L) * (F.lit(2L) * b + 1L) / 6L -
      (a - 1L) * a * (F.lit(2L) * a - 1L) / 6L).cast("double")
    val smSq = F.lit(4.0) * s2 - F.lit(4.0) * s1 +
      F.col("__t").cast("double")
    val term = F.col("__t").cast("double") * F.col("__u") * F.col("__u") -
      (F.col("__u") / nD) * sm + smSq / (F.lit(4.0) * nD * nD)
    val g = lad.withColumn("__term", F.round(term, 9))
      .agg(F.max("__n").as("n"), F.sum("__term").as("__s"))
    g.select(F.col("n"),
      F.round(F.col("__s") +
        F.lit(1.0) / (F.lit(12.0) * F.col("n").cast("double")), 6)
        .as("w2"),
      F.round(F.lit(1.0 / 6.0), 6).as("e_w2"))
  }

  /** Mean residual life curve — "given we're already past t, how much
    * MORE is left on average": MRL(t) = E[X − t | X > t] over a fixed
    * threshold grid. Rising MRL is the heavy-tail signature (the
    * longer a document/session has run, the longer it will keep
    * going — the x267 Hill index's actionable form); falling MRL is
    * wear-out. The capacity-planning curve a mean+quantile summary
    * approximates badly in the tail.
    *
    * Per threshold: exact (count, Σx) above t via one grid join over
    * the value-domain collapse — one IEEE subtraction/division per
    * grid row.
    *
    * Scale shape: one value collapse, a bounded |grid| × distinct-
    * values join (both bounded), |grid| output rows.
    *
    * @return per threshold (t, n_above, mrl) ordered — 6-dp; NULL mrl
    *         when nothing exceeds t
    */
  def meanResidualLife(df: DataFrame, valueCol: Column,
                       thresholds: Seq[Long],
                       scale: Long = 1L): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val byV = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
      .groupBy("__k").agg(F.count(F.lit(1)).as("__t"))
    val grid = byV.sparkSession.createDataFrame(
      thresholds.map(Tuple1(_))).toDF("t")
    val g = grid.join(byV,
        F.col("__k") > F.col("t") * F.lit(scale), "left")
      .groupBy("t")
      .agg(F.coalesce(F.sum("__t"), F.lit(0L)).as("n_above"),
        F.sum(F.col("__t") * F.col("__k")).as("__sx"))
    g.select(F.col("t"), F.col("n_above"),
      F.round((F.col("__sx").cast("double") /
        F.nullif(F.col("n_above").cast("double"), F.lit(0.0)) -
        F.col("t").cast("double") * F.lit(scale).cast("double")) /
        F.lit(scale).cast("double"), 6).as("mrl"))
      .orderBy("t")
  }

  /** Empirical upper-tail dependence — do the two metrics' EXTREMES
    * co-occur: λ_U(q) = P(X > x_q AND Y > y_q) / (1 − q), the
    * co-exceedance rate above each margin's q-quantile relative to
    * independence (λ ≈ 1 − q under independence after the
    * normalization... λ = 1 means the tails move together, ≈ 1 − q
    * means they don't). Bulk correlation (x116) routinely hides tail
    * independence and vice versa — this is the "do the monsters arrive
    * together" readout capacity planning actually needs.
    *
    * Quantile cuts use the exact integer rule (smallest value whose
    * cumulative count ≥ ⌈q·n⌉ — ceil on exact longs); exceedance
    * counts are exact; one IEEE ratio.
    *
    * Scale shape: two value-domain ladders for the cuts (broadcast
    * 1-row each), one counting scan.
    *
    * @return one row (n, x_cut, y_cut, n_joint, lambda_u) — 6-dp
    */
  def tailDependence(df: DataFrame, xCol: Column, yCol: Column,
                     q: Double = 0.9, scale: Long = 1L): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    val s = df.select(
        F.round(xCol.cast("double") * scale).cast("long").as("__x"),
        F.round(yCol.cast("double") * scale).cast("long").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    def cut(c: String): DataFrame = {
      val byV = s.groupBy(F.col(c).as("__v"))
        .agg(F.count(F.lit(1)).as("__t"))
      val n = byV.agg(F.sum("__t").as("__n"))
      val w = Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.crossJoin(F.broadcast(n))
        .withColumn("__cum", F.sum("__t").over(w))
        // ceil(q·n) on exact longs: (q·n rounded up via negated floor)
        .filter(F.col("__cum") >=
          -F.floor(-F.lit(q) * F.col("__n").cast("double")))
        .agg(F.min("__v").as(s"${c}cut"))
    }
    val cuts = cut("__x").crossJoin(cut("__y"))
    val g = s.crossJoin(F.broadcast(cuts))
      .agg(F.count(F.lit(1)).as("n"),
        F.max(F.col("__xcut")).as("__cx"),
        F.max(F.col("__ycut")).as("__cy"),
        F.sum(F.when(F.col("__x") > F.col("__xcut") &&
          F.col("__y") > F.col("__ycut"), 1L).otherwise(0L))
          .as("n_joint"))
    val sD = F.lit(scale).cast("double")
    g.select(F.col("n"),
      F.round(F.col("__cx").cast("double") / sD, 6).as("x_cut"),
      F.round(F.col("__cy").cast("double") / sD, 6).as("y_cut"),
      F.col("n_joint"),
      F.round(F.col("n_joint").cast("double") /
        (F.col("n").cast("double") * F.lit(1.0 - q)), 6)
        .as("lambda_u"))
  }

  /** Paired t-test on per-subject differences — the within-subject
    * design that [[welchTTest]]'s independent-groups form wastes: each
    * subject is its own control, so between-subject variance drops out
    * of the comparison entirely:
    * {{{
    *   t = d̄ / (s_d / √n),   df = n − 1
    * }}}
    * The before/after primitive (first-half vs second-half activity,
    * pre/post deploy) with ~the power of a far larger unpaired sample.
    *
    * Differences are exact longs (both sides ×scale), so (n, Σd, Σd²)
    * are exact and t is two IEEE divisions.
    *
    * Scale shape: one keyed collapse to subject pairs, a 1-row result.
    *
    * @param aCol,bCol the two paired measurements per row (one row per
    *                  subject)
    * @return one row (n, mean_diff, sd_diff, t, df) — 6-dp; NULL t
    *         when s_d = 0 or n < 2
    */
  def pairedT(df: DataFrame, aCol: Column, bCol: Column,
              scale: Long = 1L): DataFrame = {
    val s = df.select(
        (F.round(aCol.cast("double") * scale).cast("long") -
          F.round(bCol.cast("double") * scale).cast("long")).as("__d"))
      .filter(F.col("__d").isNotNull)
    val g = s.agg(F.count(F.lit(1)).as("n"), F.sum("__d").as("__s"),
      F.sum(F.col("__d") * F.col("__d")).as("__q"))
    val nD = F.col("n").cast("double")
    val sD = F.lit(scale).cast("double")
    val mean = F.col("__s").cast("double") / (nD * sD)
    val sd = F.sqrt((F.col("__q").cast("double") -
      F.col("__s").cast("double") *
        (F.col("__s").cast("double") / nD)) /
      (F.nullif(nD - 1.0, F.lit(0.0)) * sD * sD))
    g.select(F.col("n"), F.round(mean, 6).as("mean_diff"),
      F.round(sd, 6).as("sd_diff"),
      F.round(mean / F.nullif(sd / F.sqrt(nD), F.lit(0.0)), 6).as("t"),
      (F.col("n") - 1L).as("df"))
  }

  /** Hodges–Lehmann two-sample shift estimator — the median of all
    * n₁·n₂ pairwise differences (class-2 value − class-1 value): the
    * robust "how far apart are these two distributions" number that a
    * difference of means lets one outlier own and a difference of
    * medians under-uses (it ignores everything but two order
    * statistics). The location companion of [[brunnerMunzel]]'s
    * stochastic-superiority p̂: p̂ says WHETHER class 2 tends higher,
    * HL says BY HOW MUCH, in the value's own units.
    *
    * Determinism: values quantized ×`scale` to exact longs, pair
    * differences and weights (c₁·c₂) exact, and the weighted median is
    * selected by exact cumulative counts — lower/upper medians are
    * exact grid values, hl their exact midpoint (half-integer at
    * worst), one final /scale.
    *
    * Scale shape: both sides collapse to distinct VALUES first, the
    * pair join is |V₁|·|V₂| on the collapsed sides (broadcast nested
    * loop — never row×row), and the difference ladder the median is
    * read from is bounded by the value RANGE (integer diffs collapse
    * to ≤ range·scale distinct cells), not by n². The single-partition
    * ladder window is over that bounded support — documented like the
    * other value-ladder ops.
    *
    * @param scale decimal quantization (100 for 2-dp money)
    * @return one row (n1, n2, n_pairs, hl_shift) — hl 6-dp, NULL when
    *         either class is empty
    */
  def hodgesLehmannShift(df: DataFrame, valueCol: Column,
                         isClass1: Column, scale: Long = 1L): DataFrame = {
    val byV = df
      .select(F.round(valueCol.cast("double") * scale).cast("long")
          .as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"), F.count(F.lit(1)).as("__t"))
      .withColumn("__n2v", F.col("__t") - F.col("__n1v"))
    val a = byV.filter(F.col("__n1v") > 0L)
      .select(F.col("__v").as("__va"), F.col("__n1v").as("__ca"))
    val b = byV.filter(F.col("__n2v") > 0L)
      .select(F.col("__v").as("__vb"), F.col("__n2v").as("__cb"))
    val diffs = a.crossJoin(b)
      .groupBy((F.col("__vb") - F.col("__va")).as("__d"))
      .agg(F.sum(F.col("__ca") * F.col("__cb")).as("__w"))
    val w = Window.orderBy(F.col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = diffs.withColumn("__cum", F.sum("__w").over(w))
    val tot = byV.agg(F.sum("__n1v").as("n1"),
      F.sum("__n2v").as("n2"),
      (F.sum("__n1v") * F.sum("__n2v")).as("n_pairs"))
    // lower median: first diff with cum ≥ ⌈T/2⌉; upper: cum ≥ ⌊T/2⌋+1
    // (integer div — Spark's `/` on longs is DOUBLE division)
    val med = lad.crossJoin(F.broadcast(tot))
      .agg(
        F.min(F.when(F.col("__cum") >=
          F.call_function("div", F.col("n_pairs") + 1L, F.lit(2L)),
          F.col("__d"))).as("__lo"),
        F.min(F.when(F.col("__cum") >=
          F.call_function("div", F.col("n_pairs"), F.lit(2L)) + 1L,
          F.col("__d"))).as("__hi"),
        F.max(F.col("n1")).as("n1"), F.max(F.col("n2")).as("n2"),
        F.max(F.col("n_pairs")).as("n_pairs"))
    med.select(F.col("n1"), F.col("n2"), F.col("n_pairs"),
      F.round((F.col("__lo").cast("double") +
        F.col("__hi").cast("double")) /
        (F.lit(2.0) * F.lit(scale).cast("double")), 6).as("hl_shift"))
  }

  /** Cuzick's test for trend across ORDERED groups — the Wilcoxon/
    * Kruskal–Wallis sibling that uses the group ORDER: K dose-like
    * levels with integer scores l₁ < … < l_K, statistic T = Σ l·rank
    * over all rows. Answers "does the value climb with the level" with
    * rank robustness — where [[kruskalWallis]] only answers "do the
    * groups differ somewhere" and pays power for ignoring the order.
    * {{{
    *   E[T] = (N+1)/2 · Σ l_g n_g
    *   Var  = (N+1)/12 · (N·Σ l²n − (Σ ln)²) · (1 − Σ(t³−t)/(N³−N))
    * }}}
    * (tie-corrected; midranks for ties).
    *
    * Determinism: doubled midranks off the distinct-value ladder
    * ([[brunnerMunzel]] idiom) keep T, E and every variance ingredient
    * an exact long — z is the only IEEE arithmetic.
    *
    * Scale shape: one distinct-value collapse carrying (count,
    * Σ score) per value, one bounded ladder window, a one-row result.
    *
    * @param scoreCol integer group score per row (small, ordered)
    * @return one row (n, t, e_t, var_t, z) — t/e_t exact half-integers,
    *         var_t/z 6-dp; z NULL when the variance is 0
    */
  def cuzickTrend(df: DataFrame, valueCol: Column,
                  scoreCol: Column): DataFrame = {
    val rows = df.select(valueCol.cast("double").as("__v"),
        scoreCol.cast("long").as("__l"))
      .filter(F.col("__v").isNotNull && F.col("__l").isNotNull)
    val byV = rows.groupBy("__v")
      .agg(F.count(F.lit(1)).as("__t"), F.sum("__l").as("__sl"),
        F.sum(F.col("__l") * F.col("__l")).as("__sl2v"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = byV.withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__k", F.lit(2L) * F.col("__cum") - F.col("__t") + 1L)
    val g = lad.agg(
      F.sum("__t").as("n"),
      F.sum(F.col("__k") * F.col("__sl")).as("__t2"),
      F.sum("__sl").as("__slt"),
      F.sum("__sl2v").as("__sl2"),
      F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .as("__ties"))
    val nD = F.col("n").cast("double")
    // permutation variance of T = Σ l·R: (N+1)/12 · (N·Σl²n − (Σln)²)
    // — NO /N on the score term (a spurious /N deflated Var by N and
    // inflated z by √N until round 14; verified by exact enumeration
    // of the N=6 fixture: Var(T)=14, not 14/6)
    val varT = (nD + 1.0) / 12.0 *
      (nD * F.col("__sl2").cast("double") -
        F.col("__slt").cast("double") * F.col("__slt").cast("double")) *
      (F.lit(1.0) - F.col("__ties").cast("double") /
        F.nullif(nD * nD * nD - nD, F.lit(0.0)))
    g.select(F.col("n"),
      (F.col("__t2").cast("double") / 2.0).as("t"),
      ((nD + 1.0) * F.col("__slt").cast("double") / 2.0).as("e_t"),
      F.round(varT, 6).as("var_t"),
      F.round((F.col("__t2").cast("double") -
        (nD + 1.0) * F.col("__slt").cast("double")) /
        (F.lit(2.0) * F.sqrt(F.nullif(varT, F.lit(0.0)))), 6).as("z"))
  }

  /** Mood's median test — are the groups' MEDIANS the same: count each
    * group's rows above vs at-or-below the GRAND median and chi-square
    * the resulting 2×K table. The blunt-but-assumption-free k-group
    * location test: immune to variance differences and tail shape that
    * distort mean-based ANOVA, cruder but sturdier than
    * [[kruskalWallis]] when distributions differ in shape.
    *
    * Determinism: values quantized ×`scale` to exact longs, the grand
    * LOWER median read off the distinct-value ladder by exact
    * cumulative counts, all 2×K cell counts exact longs; each cell's
    * (O−E)²/E is one 9-dp IEEE term, chi² their 6-dp sum.
    *
    * Scale shape: one distinct-value ladder (bounded support), one
    * group collapse with the broadcast median, a K-row bounded table
    * folded to one row.
    *
    * @return one row (n, k_groups, median, chi2, df) — median/chi2
    *         6-dp, df = k−1; cells with E = 0 drop from the sum (the
    *         [[hosmerLemeshow]] convention)
    */
  def moodMedian(df: DataFrame, valueCol: Column, groupCol: Column,
                 scale: Long = 1L): DataFrame = {
    val rows = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__v"),
        groupCol.cast("string").as("__g"))
      .filter(F.col("__v").isNotNull && F.col("__g").isNotNull)
    val byV = rows.groupBy("__v").agg(F.count(F.lit(1)).as("__t"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.agg(F.sum("__t").as("__nn"))
    val med = byV.withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
      // lower median: ⌈N/2⌉ via integer div (Spark `/` would be double)
      .filter(F.col("__cum") >=
        F.call_function("div", F.col("__nn") + 1L, F.lit(2L)))
      .agg(F.min("__v").as("__med"))
    val cells = rows.crossJoin(F.broadcast(med))
      .groupBy("__g")
      .agg(F.sum(F.when(F.col("__v") > F.col("__med"), 1L)
          .otherwise(0L)).as("__a"),
        F.sum(F.when(F.col("__v") <= F.col("__med"), 1L)
          .otherwise(0L)).as("__b"),
        F.max("__med").as("__med"))
    val m = cells.agg(F.sum("__a").as("__ta"), F.sum("__b").as("__tb"),
      F.count(F.lit(1)).as("k_groups"))
    val terms = cells.crossJoin(F.broadcast(m))
      .withColumn("__n", F.col("__ta") + F.col("__tb"))
      .withColumn("__term",
        F.round(termChi(F.col("__a"), F.col("__ta")) +
          termChi(F.col("__b"), F.col("__tb")), 9))
    terms
      .agg(F.max(F.col("__n")).as("n"),
        F.max("k_groups").as("k_groups"),
        F.max(F.col("__med")).as("__medq"),
        F.sum("__term").as("__chi2"))
      .select(F.col("n"), F.col("k_groups"),
        F.round(F.col("__medq").cast("double") /
          F.lit(scale).cast("double"), 6).as("median"),
        F.round(F.col("__chi2"), 6).as("chi2"),
        (F.col("k_groups") - 1L).as("df"))
  }

  /** Lin's concordance correlation coefficient — agreement of two
    * paired measurements against the 45° line:
    * {{{ ρ_c = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²) }}}
    * (population moments, Lin 1989). Splits into PRECISION (Pearson r:
    * how tight the cloud) × ACCURACY (C_b = ρ_c/r: how close to the
    * identity line) — the pair [[corrPairs]]' r alone can't give, since
    * r is blind to scale and location bias. The method-agreement
    * number next to [[blandAltman]]'s interval read.
    *
    * Determinism: both sides quantized ×`scale` to exact longs, all
    * six sufficient statistics exact; the same IEEE expression tree is
    * replayed by the oracle.
    *
    * Scale shape: one collapse to (n, Σx, Σy, Σx², Σy², Σxy), a 1-row
    * result.
    *
    * @return one row (n, mean_x, mean_y, r, ccc, c_b) — 6-dp; r/c_b
    *         NULL when either variance is 0
    */
  def linCcc(df: DataFrame, xCol: Column, yCol: Column,
             scale: Long = 1L): DataFrame = {
    val s = df.select(
        F.round(xCol.cast("double") * scale).cast("long").as("__x"),
        F.round(yCol.cast("double") * scale).cast("long").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    val g = s.agg(F.count(F.lit(1)).as("n"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__x") * F.col("__y")).as("__sxy"))
    val nD = F.col("n").cast("double")
    val sD = F.lit(scale).cast("double")
    val mx = F.col("__sx").cast("double") / (nD * sD)
    val my = F.col("__sy").cast("double") / (nD * sD)
    // population moments in value units (each one IEEE chain)
    val vx = (F.col("__sxx").cast("double") / nD -
      (F.col("__sx").cast("double") / nD) *
        (F.col("__sx").cast("double") / nD)) / (sD * sD)
    val vy = (F.col("__syy").cast("double") / nD -
      (F.col("__sy").cast("double") / nD) *
        (F.col("__sy").cast("double") / nD)) / (sD * sD)
    val cxy = (F.col("__sxy").cast("double") / nD -
      (F.col("__sx").cast("double") / nD) *
        (F.col("__sy").cast("double") / nD)) / (sD * sD)
    val ccc = F.lit(2.0) * cxy /
      F.nullif(vx + vy + (mx - my) * (mx - my), F.lit(0.0))
    val r = cxy / F.nullif(F.sqrt(vx * vy), F.lit(0.0))
    g.select(F.col("n"), F.round(mx, 6).as("mean_x"),
      F.round(my, 6).as("mean_y"), F.round(r, 6).as("r"),
      F.round(ccc, 6).as("ccc"),
      F.round(ccc / F.nullif(r, F.lit(0.0)), 6).as("c_b"))
  }

  /** Bland–Altman limits of agreement — the method-comparison
    * interval: per-pair difference d = x − y, bias = d̄, limits
    * bias ± 1.96·s_d, plus the observed share of pairs inside them.
    * The clinical-agreement standard that answers what [[linCcc]]'s
    * single coefficient can't: "HOW FAR apart can the two methods be
    * for one subject" in the value's own units.
    *
    * Determinism: differences exact longs (both sides ×`scale`), so
    * (n, Σd, Σd²) are exact; 1.96 is ONE literal; the within-limits
    * census compares exact-long diffs against the two IEEE bounds —
    * identically on both engines.
    *
    * Scale shape: one collapse for the moments, the census rides a
    * value-collapsed diff table joined to the broadcast 1-row bounds.
    *
    * @return one row (n, bias, sd_d, loa_lo, loa_hi, p_within) —
    *         6-dp; limits NULL when n < 2
    */
  def blandAltman(df: DataFrame, xCol: Column, yCol: Column,
                  scale: Long = 1L): DataFrame = {
    val s = df.select(
        (F.round(xCol.cast("double") * scale).cast("long") -
          F.round(yCol.cast("double") * scale).cast("long")).as("__d"))
      .filter(F.col("__d").isNotNull)
    val byD = s.groupBy("__d").agg(F.count(F.lit(1)).as("__t"))
    val sD = F.lit(scale).cast("double")
    val g = byD.agg(F.sum("__t").as("n"),
      F.sum(F.col("__d") * F.col("__t")).as("__s"),
      F.sum(F.col("__d") * F.col("__d") * F.col("__t")).as("__q"))
    val nD = F.col("n").cast("double")
    val bias = F.col("__s").cast("double") / (nD * sD)
    val sd = F.sqrt((F.col("__q").cast("double") -
      F.col("__s").cast("double") *
        (F.col("__s").cast("double") / nD)) /
      F.nullif(nD - 1.0, F.lit(0.0))) / sD
    val stats = g.select(F.col("n"), bias.as("__bias"), sd.as("__sd"),
      (bias - F.lit(1.96) * sd).as("__lo"),
      (bias + F.lit(1.96) * sd).as("__hi"))
    val within = byD.crossJoin(F.broadcast(stats))
      .agg(F.sum(F.when(
        F.col("__d").cast("double") / sD >= F.col("__lo") &&
          F.col("__d").cast("double") / sD <= F.col("__hi"),
        F.col("__t")).otherwise(0L)).as("__win"),
        F.max("n").as("n"), F.max("__bias").as("__bias"),
        F.max("__sd").as("__sd"), F.max("__lo").as("__lo"),
        F.max("__hi").as("__hi"))
    within.select(F.col("n"), F.round(F.col("__bias"), 6).as("bias"),
      F.round(F.col("__sd"), 6).as("sd_d"),
      F.round(F.col("__lo"), 6).as("loa_lo"),
      F.round(F.col("__hi"), 6).as("loa_hi"),
      F.round(F.col("__win").cast("double") / nD, 6).as("p_within"))
  }

  /** Relative risk (risk ratio) with the Wald log-interval — the 2×2
    * epidemiological read: RR = (a/(a+b)) / (c/(c+d)) for exposed
    * (a events, b non-events) vs unexposed (c, d), CI
    * exp(ln RR ± 1.96·SE), SE² = 1/a − 1/(a+b) + 1/c − 1/(c+d).
    * The absolute-risk companion of [[oddsRatio]], which reports RR
    * only as a point estimate with the OR's interval: here the
    * interval is the RR's OWN (different SE — the −1/(a+b) terms), so
    * "significantly more likely" is answered on the risk scale, and
    * without [[oddsRatio]]'s Haldane correction (cells the formula
    * needs at 0 yield NULL instead — loud, not shifted).
    *
    * Determinism: four exact-long cells; ln RR and SE each one 9-dp
    * IEEE term; the two exp calls take identical 9-dp-quantized
    * arguments on both engines.
    *
    * Scale shape: one collapse to four longs, a 1-row result.
    *
    * @return one row (a, b, c, d, rr, ci_lo, ci_hi) — 6-dp; NULL when
    *         any cell needed by the formula is 0
    */
  def relativeRisk(df: DataFrame, exposed: Column,
                   outcome: Column): DataFrame = {
    val g = df.select(
        F.when(exposed, 1L).otherwise(0L).as("__e"),
        F.when(outcome, 1L).otherwise(0L).as("__o"))
      .agg(
        F.sum(F.col("__e") * F.col("__o")).as("a"),
        F.sum(F.col("__e") * (F.lit(1L) - F.col("__o"))).as("b"),
        F.sum((F.lit(1L) - F.col("__e")) * F.col("__o")).as("c"),
        F.sum((F.lit(1L) - F.col("__e")) * (F.lit(1L) - F.col("__o")))
          .as("d"))
    def dd(c: String) = F.col(c).cast("double")
    val rr = (dd("a") / (dd("a") + dd("b"))) /
      F.nullif(dd("c") / (dd("c") + dd("d")), F.lit(0.0))
    val lnrr = F.round(F.log(F.nullif(rr, F.lit(0.0))), 9)
    val se = F.round(F.sqrt(
      F.lit(1.0) / F.nullif(dd("a"), F.lit(0.0)) -
        F.lit(1.0) / (dd("a") + dd("b")) +
        F.lit(1.0) / F.nullif(dd("c"), F.lit(0.0)) -
        F.lit(1.0) / (dd("c") + dd("d"))), 9)
    g.select(F.col("a"), F.col("b"), F.col("c"), F.col("d"),
      F.round(rr, 6).as("rr"),
      F.round(F.exp(lnrr - F.lit(1.96) * se), 6).as("ci_lo"),
      F.round(F.exp(lnrr + F.lit(1.96) * se), 6).as("ci_hi"))
  }

  /** Pettitt change-point test — the rank-based "did the level shift,
    * and WHEN": U_t = 2·Σ_{i≤t} R_i − t(n+1) (midranks), K = max|U_t|,
    * the argmax is the most probable break point, and the classic
    * approximation p ≈ 2·exp(−6K²/(n³+n²)) grades it. The
    * nonparametric sibling of [[snht]]: immune to the heavy-tailed
    * day that drags a mean-based statistic.
    *
    * Determinism: doubled midranks off the value ladder make every
    * U_t an exact long (Σk_{i≤t} − t(n+1)); K and its location are
    * integer selections (smallest t on ties); only p is IEEE (exp on
    * identical exact arguments).
    *
    * Scale shape: one value ladder + one time ladder over a bounded
    * series grid (a rollup, not a corpus), 1-row result.
    *
    * @return one row (n, k, t_loc, u_at, p_approx) — p 6-dp
    */
  def pettittTest(series: DataFrame, tCol: String, vCol: String,
                  scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
    val byV = s.groupBy("__y").agg(F.count(F.lit(1)).as("__tc"))
    val wv = Window.orderBy(F.col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kv = byV.withColumn("__cum", F.sum("__tc").over(wv))
      .withColumn("__k",
        F.lit(2L) * F.col("__cum") - F.col("__tc") + 1L)
      .select("__y", "__k")
    val tot = s.agg(F.count(F.lit(1)).as("__n"))
    val wt = Window.orderBy(F.col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = s.join(F.broadcast(kv), "__y")
      .crossJoin(F.broadcast(tot))
      .withColumn("__ck", F.sum("__k").over(wt))
      .withColumn("__i", F.row_number().over(Window.orderBy(F.col("__t"))))
      .withColumn("__u", F.col("__ck") - F.col("__i") * (F.col("__n") + 1L))
      .filter(F.col("__i") < F.col("__n"))
    val best = u.agg(F.max("__n").as("n"),
      F.max(F.struct(F.abs(F.col("__u")).as("a"),
        (-F.col("__i")).as("ni"), F.col("__t").as("t"),
        F.col("__u").as("u"))).as("__b"))
    val nD = F.col("n").cast("double")
    val kD = F.col("__b.a").cast("double")
    best.select(F.col("n"), F.col("__b.a").as("k"),
      F.col("__b.t").as("t_loc"), F.col("__b.u").as("u_at"),
      F.round(F.lit(2.0) * F.exp(F.lit(-6.0) * kD * kD /
        (nD * nD * nD + nD * nD)), 6).as("p_approx"))
  }

  /** Buishand range test — cumulative-deviation homogeneity: partial
    * sums S_k = Σ_{i≤k}(y_i − ȳ) wander near 0 for a homogeneous
    * series and bulge once the level shifts; the statistic is the
    * rescaled range R = (max S − min S)/s, reported with the tabulated
    * form R/√n. The CUSUM-flavored companion of [[pettittTest]] (which
    * locates the break; this grades total drift) and the level-shift
    * sibling of [[kpssLevel]]'s trend test.
    *
    * Determinism: the n-scaled ladder trick — e_i = n·y_i − Σy is an
    * exact long, its prefix sums are S_k·n exactly, and Σe² = n³s²
    * exactly, so R = (maxE − minE)·√n/√(Σe²) and R/√n collapse to one
    * IEEE chain each over exact integers.
    *
    * Scale shape: one broadcast total, one time-ladder window over
    * the bounded series grid, 1-row result.
    *
    * @return one row (n, r, r_over_sqrt_n) — 6-dp; NULL when the
    *         series is constant
    */
  def buishandRange(series: DataFrame, tCol: String, vCol: String,
                    scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
    val tot = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__y").as("__sy"))
    val e = s.crossJoin(F.broadcast(tot))
      .withColumn("__e", F.col("__n") * F.col("__y") - F.col("__sy"))
    val w = Window.orderBy(F.col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = e.withColumn("__sp", F.sum("__e").over(w))
      .agg(F.max("__n").as("n"),
        F.greatest(F.max("__sp"), F.lit(0L)).as("__mx"),
        F.least(F.min("__sp"), F.lit(0L)).as("__mn"),
        F.sum(F.col("__e") * F.col("__e")).as("__se2"))
    val nD = F.col("n").cast("double")
    val range = (F.col("__mx") - F.col("__mn")).cast("double")
    g.select(F.col("n"),
      F.round(range * F.sqrt(nD) /
        F.nullif(F.sqrt(F.col("__se2").cast("double")), F.lit(0.0)), 6)
        .as("r"),
      F.round(range /
        F.nullif(F.sqrt(F.col("__se2").cast("double")), F.lit(0.0)), 6)
        .as("r_over_sqrt_n"))
  }

  /** Standard normal homogeneity test (Alexandersson) — the
    * parametric break detector: for every split k,
    * T_k = k·z̄₁² + (n−k)·z̄₂² compares the two halves' standardized
    * means; T = max T_k, argmax the break. Sharper than
    * [[pettittTest]] near the SERIES ENDS (where rank statistics run
    * out of pairs), at the price of normality sensitivity — run both.
    *
    * Determinism: with sp_k the exact n-scaled deviation prefix
    * ([[kpssLevel]]'s ladder, Σe = 0), T_k collapses to
    * {{{ T_k = sp_k² · n² / (Σe² · k · (n−k)) }}}
    * — exact-long numerator pieces (sp² via long multiply, converted
    * once to double), one IEEE chain per k, 9-dp T_k, integer argmax
    * with smallest-k tie-break.
    *
    * Scale shape: [[buishandRange]]'s — one ladder over the bounded
    * grid, 1-row result.
    *
    * @return one row (n, t_max, k_loc) — t_max 6-dp; NULL t_max when
    *         the series is constant
    */
  def snht(series: DataFrame, tCol: String, vCol: String,
           scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
    val tot = s.agg(F.count(F.lit(1)).as("__n"), F.sum("__y").as("__sy"))
    val e = s.crossJoin(F.broadcast(tot))
      .withColumn("__e", F.col("__n") * F.col("__y") - F.col("__sy"))
    val w = Window.orderBy(F.col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val se2 = e.agg(F.sum(F.col("__e") * F.col("__e")).as("__se2"))
    val tk = e.withColumn("__sp", F.sum("__e").over(w))
      .withColumn("__i", F.row_number().over(Window.orderBy(F.col("__t"))))
      .filter(F.col("__i") < F.col("__n"))
      .crossJoin(F.broadcast(se2))
      .withColumn("__tk", F.round(
        (F.col("__sp") * F.col("__sp")).cast("double") *
          (F.col("__n") * F.col("__n")).cast("double") /
          F.nullif(F.col("__se2").cast("double") *
            (F.col("__i") * (F.col("__n") - F.col("__i")))
              .cast("double"), F.lit(0.0)),
        9))
    val best = tk.agg(F.max("__n").as("n"),
      F.max(F.struct(F.col("__tk").as("tk"), (-F.col("__i")).as("ni"),
        F.col("__i").as("i"))).as("__b"))
    best.select(F.col("n"), F.round(F.col("__b.tk"), 6).as("t_max"),
      F.col("__b.i").as("k_loc"))
  }

  /** One-way ANOVA effect sizes — η² (variance share explained by the
    * grouping, biased up in small samples) and ω² (its unbiased
    * companion):
    * {{{
    *   η² = SSB / (SSB + SSW)
    *   ω² = (SSB − (K−1)·MSW) / (SST + MSW)
    * }}}
    * The "does it MATTER" number the F-test's p-value hides: with
    * millions of rows everything is significant; η²/ω² say how much.
    *
    * Determinism: the positive-SS rule — per-group exact (n, Σk, Σk²)
    * from ×`scale` quantization, SSB as all-positive per-group scalars
    * n_g(mean_g − grand)² and SSW as (n_g·Σk² − (Σk)²)/n_g, each one
    * IEEE term evaluated identically by both engines; positive sums
    * have nothing to cancel. The raw SS are NOT emitted (at corpus
    * scale they reach 1e15+, where neither 9-dp rounding nor a 6-dp
    * output is engine-portable — tri-scale r13 finding); only the
    * O(1) ratios η², ω², F leave the operator.
    *
    * Scale shape: one partial-aggregated group collapse (K rows), a
    * 1-row result.
    *
    * @return one row (n, k_groups, eta2, omega2, f_stat) — 6-dp;
    *         NULL effect sizes when SST = 0
    */
  def anovaEffectSizes(df: DataFrame, valueCol: Column, groupCol: Column,
                       scale: Long = 1L): DataFrame = {
    val rows = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"),
        groupCol.cast("string").as("__g"))
      .filter(F.col("__k").isNotNull && F.col("__g").isNotNull)
    val per = rows.groupBy("__g").agg(F.count(F.lit(1)).as("__ng"),
      F.sum("__k").as("__sk"),
      F.sum(F.col("__k") * F.col("__k")).as("__qk"))
    val tot = per.agg(F.sum("__ng").as("__nn"), F.sum("__sk").as("__st"))
    val sD = F.lit(scale).cast("double")
    val terms = per.crossJoin(F.broadcast(tot))
      .withColumn("__dm",
        F.col("__sk").cast("double") / F.col("__ng").cast("double") -
          F.col("__st").cast("double") / F.col("__nn").cast("double"))
      .withColumn("__ssb",
        F.col("__ng").cast("double") * F.col("__dm") *
          F.col("__dm") / (sD * sD))
      .withColumn("__ssw",
        (F.col("__ng").cast("double") * F.col("__qk").cast("double") -
          F.col("__sk").cast("double") * F.col("__sk").cast("double")) /
          (F.col("__ng").cast("double") * sD * sD))
    val g = terms.agg(F.max("__nn").as("n"),
      F.count(F.lit(1)).as("k_groups"),
      F.sum("__ssb").as("__b"), F.sum("__ssw").as("__w"))
    val nD = F.col("n").cast("double")
    val kD = F.col("k_groups").cast("double")
    val msw = F.col("__w") / (nD - kD)
    val sst = F.col("__b") + F.col("__w")
    g.select(F.col("n"), F.col("k_groups"),
      F.round(F.col("__b") / F.nullif(sst, F.lit(0.0)), 6).as("eta2"),
      F.round((F.col("__b") - (kD - 1.0) * msw) /
        F.nullif(sst + msw, F.lit(0.0)), 6).as("omega2"),
      F.round((F.col("__b") / (kD - 1.0)) / F.nullif(msw, F.lit(0.0)), 6)
        .as("f_stat"))
  }

  /** Tukey–Kramer pairwise q statistics — after "the groups differ
    * somewhere" ([[welchAnova]]), WHICH pairs differ:
    * {{{ q_ij = |x̄_i − x̄_j| / √( MSW/2 · (1/n_i + 1/n_j) ) }}}
    * reported per unordered pair against the studentized-range scale
    * (compare to q_crit ≈ 3.9 for K=5 at α=.05, large df). Emitting
    * the statistic rather than a p keeps the op table-free and the
    * comparison explicit.
    *
    * Determinism: the [[anovaEffectSizes]] collapse (exact per-group
    * sufficient statistics; SSW terms raw IEEE — see that op's note on
    * why huge SS magnitudes must not be decimal-rounded), 9-dp mean
    * diffs, one IEEE chain per pair, (g_a, g_b) lexicographic order.
    *
    * Scale shape: one K-row collapse, a K(K−1)/2-row bounded pair
    * join — the corpus is touched once.
    *
    * @return per-pair rows (g_a, g_b, n_a, n_b, mean_diff, q) ordered
    *         by (g_a, g_b) — 6-dp; q NULL when MSW = 0
    */
  def tukeyHsdQ(df: DataFrame, valueCol: Column, groupCol: Column,
                scale: Long = 1L): DataFrame = {
    val rows = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"),
        groupCol.cast("string").as("__g"))
      .filter(F.col("__k").isNotNull && F.col("__g").isNotNull)
    val per = rows.groupBy("__g").agg(F.count(F.lit(1)).as("__ng"),
      F.sum("__k").as("__sk"),
      F.sum(F.col("__k") * F.col("__k")).as("__qk"))
    val sD = F.lit(scale).cast("double")
    // raw IEEE per-group terms — a 9-dp round at SS magnitudes (1e15+
    // at corpus scale) is NOT engine-portable (tri-scale r13 finding);
    // q is an O(1) ratio, immune to the ulp-level sum-order noise
    val withW = per.withColumn("__ssw",
      (F.col("__ng").cast("double") * F.col("__qk").cast("double") -
        F.col("__sk").cast("double") * F.col("__sk").cast("double")) /
        (F.col("__ng").cast("double") * sD * sD))
    val tot = withW.agg(F.sum("__ng").as("__nn"),
      F.count(F.lit(1)).as("__kk"), F.sum("__ssw").as("__w"))
    val a = withW.select(F.col("__g").as("g_a"), F.col("__ng").as("n_a"),
      F.col("__sk").as("__ska"))
    val b = withW.select(F.col("__g").as("g_b"), F.col("__ng").as("n_b"),
      F.col("__sk").as("__skb"))
    val pairs = a.join(b, F.col("g_a") < F.col("g_b"))
      .crossJoin(F.broadcast(tot))
    val msw = F.col("__w") /
      (F.col("__nn").cast("double") - F.col("__kk").cast("double"))
    val diff = F.round(
      F.col("__ska").cast("double") / (F.col("n_a").cast("double") * sD) -
        F.col("__skb").cast("double") / (F.col("n_b").cast("double") * sD),
      9)
    pairs.select(F.col("g_a"), F.col("g_b"), F.col("n_a"), F.col("n_b"),
      F.round(diff, 6).as("mean_diff"),
      F.round(F.abs(diff) / F.sqrt(F.nullif(
        msw / 2.0 * (F.lit(1.0) / F.col("n_a").cast("double") +
          F.lit(1.0) / F.col("n_b").cast("double")), F.lit(0.0))), 6)
        .as("q"))
      .orderBy("g_a", "g_b")
  }

  /** Theil-T inequality DECOMPOSITION by group — the [[inequality]]
    * family's "where does the concentration live" split:
    * {{{
    *   T = Σ_g s_g·T_g  +  Σ_g s_g·ln(μ_g/μ)
    *        (within)        (between)
    * }}}
    * with s_g the group's share of the total quantity. A corpus where
    * every source is internally equal but sources differ (all between)
    * needs source-level rebalancing; the reverse (all within) needs
    * per-source curation — the global Gini/Theil number can't tell
    * them apart.
    *
    * Determinism: (group, value) cell collapse with exact counts;
    * x·ln x one 9-dp term per distinct value (scaled ×count exactly);
    * every ratio/ln an IEEE chain over exact longs, replayed by the
    * oracle. Non-positive values are excluded (ln domain — Theil is
    * defined on a positive quantity).
    *
    * Scale shape: one (g, value) collapse, a G-row rollup with one
    * broadcast total, G output rows.
    *
    * @return per-group rows (g, n, mean_g, share, theil_g,
    *         between_term, theil_within, theil_between, theil_total)
    *         ordered by g — 6-dp
    */
  def theilDecomp(df: DataFrame, valueCol: Column, groupCol: Column,
                  scale: Long = 1L): DataFrame = {
    val cells = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__k"),
        groupCol.cast("string").as("__g"))
      .filter(F.col("__k").isNotNull && F.col("__k") > 0L &&
        F.col("__g").isNotNull)
      .groupBy("__g", "__k").agg(F.count(F.lit(1)).as("__t"))
    val sD = F.lit(scale).cast("double")
    val x = F.col("__k").cast("double") / sD
    val per = cells
      .withColumn("__xlx", F.round(x * F.log(x), 9))
      .groupBy("__g")
      .agg(F.sum("__t").as("__ng"), F.sum(F.col("__k") * F.col("__t"))
          .as("__skg"),
        F.sum(F.col("__t").cast("double") * F.col("__xlx")).as("__sx"))
    val tot = per.agg(F.sum("__ng").as("__nn"), F.sum("__skg").as("__sk"))
    val j = per.crossJoin(F.broadcast(tot))
    val muG = F.col("__skg").cast("double") /
      (F.col("__ng").cast("double") * sD)
    val mu = F.col("__sk").cast("double") /
      (F.col("__nn").cast("double") * sD)
    val share = F.col("__skg").cast("double") / F.col("__sk").cast("double")
    val tg = F.round(F.col("__sx") /
      (F.col("__skg").cast("double") / sD) - F.log(muG), 9)
    val rows = j
      .withColumn("__share", share)
      .withColumn("__tg", tg)
      .withColumn("__wterm", F.round(F.col("__share") * F.col("__tg"), 9))
      .withColumn("__bterm",
        F.round(F.col("__share") * F.log(muG / mu), 9))
    val glob = rows.agg(F.sum("__wterm").as("__tw"),
      F.sum("__bterm").as("__tb"))
    rows.crossJoin(F.broadcast(glob))
      .select(F.col("__g").as("g"), F.col("__ng").as("n"),
        F.round(muG, 6).as("mean_g"),
        F.round(F.col("__share"), 6).as("share"),
        F.round(F.col("__tg"), 6).as("theil_g"),
        F.round(F.col("__bterm"), 6).as("between_term"),
        F.round(F.col("__tw"), 6).as("theil_within"),
        F.round(F.col("__tb"), 6).as("theil_between"),
        F.round(F.col("__tw") + F.col("__tb"), 6).as("theil_total"))
      .orderBy("g")
  }

  /** Page's L trend test — ordered-alternative Friedman: within each
    * complete block of `period` consecutive points, rank the positions
    * by value; L = Σ c·R over (position score c = 1..period) × (rank).
    * Detects a MONOTONE within-block profile (e.g. volume climbing
    * across the week) that Friedman's unordered χ² dilutes —
    * [[cuzickTrend]]'s blocked sibling.
    * {{{
    *   E[L] = b·K(K+1)²/4,  Var(L) = b·K²(K+1)²(K−1)/144
    * }}}
    * (tie-free variance, the standard practice; midranks enter L).
    *
    * Determinism: doubled within-block midranks off per-block value
    * ladders keep L and E exact (L2 = Σ k·Σc per (block, value) cell);
    * incomplete blocks drop by exact count; z is one IEEE chain.
    *
    * Scale shape: a (block, value) collapse over the bounded series
    * grid, block-keyed ladder windows, a 1-row result.
    *
    * @return one row (b_blocks, k_period, l, e_l, z) — l/e_l exact
    *         half-integers, z 6-dp; NULL z when no complete block
    */
  def pageTrend(series: DataFrame, tCol: String, vCol: String,
                period: Int = 7, scale: Long = 1L): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
    val mn = s.agg(F.min("__t").as("__m"))
    val base = s.crossJoin(F.broadcast(mn))
      .withColumn("__b",
        F.call_function("div", F.col("__t") - F.col("__m"),
          F.lit(period.toLong)))
      .withColumn("__c", (F.col("__t") - F.col("__m")) %
        F.lit(period.toLong) + 1L)
      .withColumn("__bn",
        F.count(F.lit(1)).over(Window.partitionBy("__b")))
      .filter(F.col("__bn") === period.toLong)
    val cells = base.groupBy("__b", "__y")
      .agg(F.count(F.lit(1)).as("__tc"), F.sum("__c").as("__sc"))
    val wb = Window.partitionBy("__b").orderBy(F.col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = cells.withColumn("__cum", F.sum("__tc").over(wb))
      .withColumn("__k",
        F.lit(2L) * F.col("__cum") - F.col("__tc") + 1L)
    val g = lad.agg(
      F.call_function("div", F.sum("__tc"), F.lit(period.toLong))
        .as("b_blocks"),
      F.sum(F.col("__k") * F.col("__sc")).as("__l2"))
    val kL = period.toLong
    val bD = F.col("b_blocks").cast("double")
    val e2 = F.col("b_blocks") * F.lit(kL * (kL + 1) * (kL + 1)) / 2.0
    val varL = bD * F.lit((kL * kL * (kL + 1) * (kL + 1) *
      (kL - 1)).toDouble) / 144.0
    g.select(F.col("b_blocks"), F.lit(kL).as("k_period"),
      (F.col("__l2").cast("double") / 2.0).as("l"),
      (e2 / 2.0).as("e_l"),
      F.round((F.col("__l2").cast("double") - e2) /
        (F.lit(2.0) * F.sqrt(F.nullif(varL, F.lit(0.0)))), 6).as("z"))
  }

  /** Storey's q-values — ADAPTIVE FDR: estimate the null share
    * π₀ = #{p > λ} / ((1−λ)·m) from the p-value histogram's flat
    * right tail, then run the BH step-up scaled by π₀:
    * {{{ q(i) = min_{j≥i} min(1, π₀·m·p_j / j) }}}
    * When many keys are genuinely non-null (π₀ ≪ 1 — a vocabulary
    * where most tokens DO discriminate), [[bhFdr]] wastes power
    * pretending all m tests are null; Storey recovers it. The
    * spectrum: [[byFdr]] (harmonic penalty, any dependence) ← bhFdr
    * (π₀ = 1) ← this (π₀ estimated).
    *
    * Determinism: bhFdr's exact ladder; π₀ one 9-dp term from two
    * exact longs; one suffix-min window ([[holmAdjust]] mirrored).
    *
    * Scale shape: identical to bhFdr — a vocabulary-bounded table,
    * two bounded single-partition windows.
    *
    * @param lambda the tail cut for the π₀ estimate (default 0.5)
    * @return (keyCols…, chi2, p, i, pi0, q, discovered) ordered by i;
    *         discovered flags q ≤ alpha
    */
  def storeyQvalue(df: DataFrame, keyCols: Seq[String], chi2Col: Column,
                   alpha: Double = 0.05,
                   lambda: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(lambda > 0 && lambda < 1,
      s"lambda must be in (0,1), got $lambda")
    val keyed = df.select((keyCols.map(F.col) :+
      F.round(chi2Col.cast("double"), 6).as("chi2")): _*)
      .withColumn("p", F.round(F.exp(-F.col("chi2") / 2.0), 9))
    val wAsc = Window.orderBy(
      (F.col("p").asc +: keyCols.map(F.col(_).asc)): _*)
    val wSuf = Window.orderBy(
      (F.col("p").desc +: keyCols.map(F.col(_).desc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mpi = keyed.agg(F.count(F.lit(1)).as("__m"),
      F.sum(F.when(F.col("p") > lambda, 1L).otherwise(0L)).as("__tl"))
    val ranked = keyed.crossJoin(F.broadcast(mpi))
      .withColumn("i", F.row_number().over(wAsc))
      .withColumn("pi0", F.round(F.least(F.lit(1.0),
        F.col("__tl").cast("double") /
          (F.lit(1.0 - lambda) * F.col("__m").cast("double"))), 9))
    ranked
      .withColumn("__qi", F.round(F.least(F.lit(1.0),
        F.col("pi0") * F.col("__m").cast("double") /
          F.col("i").cast("double") * F.col("p")), 9))
      .withColumn("q", F.min("__qi").over(wSuf))
      .withColumn("discovered", F.col("q") <= F.lit(alpha))
      .select((keyCols.map(F.col) :+ F.col("chi2") :+ F.col("p") :+
        F.col("i") :+ F.col("pi0") :+ F.col("q") :+
        F.col("discovered")): _*)
      .orderBy("i")
  }

  /** Siegel–Tukey scale test — Wilcoxon on ALTERNATING-EXTREME ranks:
    * the ordered sample is ranked from the outside in (smallest → 1,
    * largest → 2, 3, second-smallest → 4, 5, …), so a group with
    * larger DISPERSION collects the low outside ranks and the rank-sum
    * z reads as a variance comparison — without [[levene]]'s moment
    * assumptions, usable whenever the two groups share a median.
    *
    * Determinism: ST ranks are a closed-form function of ladder
    * POSITION (exact integers off one value-ladder explode — linear,
    * one row per observation). Tied-run averages n1·SR/t split into an
    * exact-long integer part (div) plus a sub-unit 9-dp fraction, so
    * W₁ = (Σ quotients) + (Σ fractions) keeps exactly one small float
    * sum — summing the raw per-run averages instead accumulates
    * order-dependent ulps at W₁'s own magnitude (2e9+ at sf0.1) and
    * is not engine-portable (tri-scale r13 finding). The
    * tie-corrected Wilcoxon variance uses exact-long tie censuses.
    *
    * Scale shape: one distinct-value ladder + one bounded positional
    * explode (n rows), a 1-row result.
    *
    * @return one row (n1, n2, w1, e_w1, z) — w1 6-dp (tie averaging),
    *         z 6-dp; NULL z when the variance is 0
    */
  def siegelTukey(df: DataFrame, valueCol: Column, isClass1: Column,
                  scale: Long = 1L): DataFrame = {
    val byV = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
      .groupBy("__v")
      .agg(F.sum("__c1").as("__n1v"), F.count(F.lit(1)).as("__t"))
    val w = Window.orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.agg(F.sum("__n1v").as("__nOne"), F.sum("__t").as("__nn"),
      F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .as("__ties"))
    val lad = byV.withColumn("__cum", F.sum("__t").over(w))
      .withColumn("__lo", F.col("__cum") - F.col("__t") + 1L)
      .crossJoin(F.broadcast(tot))
    // positional ST rank: outside-in alternation, closed form on
    // m = min(p, n+1-p) with the left/right parity convention
    val runs = lad
      .withColumn("__p", F.explode(F.sequence(F.col("__lo"),
        F.col("__cum"))))
      .withColumn("__mm",
        F.least(F.col("__p"), F.col("__nn") + 1L - F.col("__p")))
      .withColumn("__left",
        F.col("__p") <= F.col("__nn") + 1L - F.col("__p"))
      .withColumn("__st", F.when(F.col("__left"),
        F.when(F.col("__mm") % 2L === 1L,
          F.col("__mm") * 2L - 1L).otherwise(F.col("__mm") * 2L))
        .otherwise(
          F.when(F.col("__mm") % 2L === 1L, F.col("__mm") * 2L)
            .otherwise(F.col("__mm") * 2L - 1L)))
      .groupBy("__v")
      .agg(F.max("__n1v").as("__n1v"), F.max("__t").as("__t"),
        F.sum("__st").as("__sr"))
    val terms = runs
      .withColumn("__w1q",
        F.call_function("div", F.col("__n1v") * F.col("__sr"),
          F.col("__t")))
      .withColumn("__w1f", F.round(
        ((F.col("__n1v") * F.col("__sr")) % F.col("__t")).cast("double") /
          F.col("__t").cast("double"), 9))
    val g = terms.agg((F.sum("__w1q").cast("double") +
        F.sum("__w1f")).as("__w1"))
      .crossJoin(F.broadcast(tot))
    val n1D = F.col("__nOne").cast("double")
    val nD = F.col("__nn").cast("double")
    val n2D = nD - n1D
    val eW = n1D * (nD + 1.0) / 2.0
    val varW = n1D * n2D / 12.0 * ((nD + 1.0) -
      F.col("__ties").cast("double") / (nD * (nD - 1.0)))
    g.select(F.col("__nOne").as("n1"),
      (F.col("__nn") - F.col("__nOne")).as("n2"),
      F.round(F.col("__w1"), 6).as("w1"), eW.as("e_w1"),
      F.round((F.col("__w1") - eW) /
        F.sqrt(F.nullif(varW, F.lit(0.0))), 6).as("z"))
  }

  /** One-sample Anderson–Darling vs Uniform(0,1) — the TAIL-WEIGHTED
    * PIT check:
    * {{{ A² = −n − (1/n)·Σᵢ [(2i−1)·ln uᵢ + (2(n−i)+1)·ln(1−uᵢ)] }}}
    * Where [[cvmUniform]] weighs the whole ECDF gap evenly, AD's
    * 1/(F(1−F)) weighting makes miscalibration NEAR 0 AND 1 — exactly
    * where a score feeds a keep/drop threshold — count hardest.
    * Read the trio together: [[spiegelhalterZ]] (mean level), CvM
    * (body shape), AD (tails).
    *
    * Determinism: per tie-run closed arithmetic series in exact longs
    * (the [[cvmUniform]] discipline) — a run occupying order
    * statistics a..b contributes SA = b²−(a−1)² copies of ln u and
    * SB = (n−a+1)²−(n−b)² copies of ln(1−u); each run is one 9-dp
    * term off two 9-dp logs.
    *
    * Scale shape: one distinct-value ladder, a 1-row result.
    *
    * @return one row (n, a2, crit_5pct, reject) — a2 6-dp, 2.492 the
    *         asymptotic 5% point for the fully-specified uniform.
    *         Rows with u outside (0, 1) are EXCLUDED (ln singular) —
    *         a PIT score that ever touches the boundary should be
    *         audited before this statistic is trusted
    */
  def adUniform(df: DataFrame, valueCol: Column): DataFrame = {
    val byV = df.select(valueCol.cast("double").as("__u"))
      .filter(F.col("__u").isNotNull &&
        F.col("__u") > 0.0 && F.col("__u") < 1.0)
      .groupBy("__u").agg(F.count(F.lit(1)).as("__t"))
    val tot = byV.agg(F.sum("__t").as("__n"))
    val w = Window.orderBy(F.col("__u"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lad = byV.withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
    val b = F.col("__cum")
    val a = F.col("__cum") - F.col("__t") + 1L
    val sa = (b * b - (a - 1L) * (a - 1L)).cast("double")
    val sb = ((F.col("__n") - a + 1L) * (F.col("__n") - a + 1L) -
      (F.col("__n") - b) * (F.col("__n") - b)).cast("double")
    val term = F.round(
      sa * F.round(F.log(F.col("__u")), 9) +
        sb * F.round(F.log(F.lit(1.0) - F.col("__u")), 9), 9)
    val g = lad.withColumn("__term", term)
      .agg(F.max("__n").as("n"), F.sum("__term").as("__s"))
    val nD = F.col("n").cast("double")
    val a2 = -nD - F.col("__s") / nD
    g.select(F.col("n"), F.round(a2, 6).as("a2"),
      F.lit(2.492).as("crit_5pct"), (a2 > 2.492).as("reject"))
  }

  /** Two-sample decile-shift census — WHERE in the distribution the
    * two groups differ: the exact lower quantile of each group at
    * q = 0.1 … 0.9 and their difference. A single location test
    * ([[pairedT]], [[hodgesLehmannShift]]) can't say "the medians
    * agree but the top decile is 40% heavier" — this table can, and
    * that tail-only pattern is the usual shape of segment differences
    * in spend/length data.
    *
    * Determinism: exact integer quantile cuts via cum ≥ −floor(−q·n)
    * off per-group value ladders (the [[tailDependence]] idiom — both
    * engines evaluate the same IEEE q·n), shifts exact integer
    * differences /scale.
    *
    * Scale shape: two bounded value ladders, a 9-row grid join.
    *
    * @return 9 rows (q, cut1, cut2, shift) ordered by q — 6-dp
    */
  def decileShift(df: DataFrame, valueCol: Column, isClass1: Column,
                  scale: Long = 1L): DataFrame = {
    val s = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
    val grid = F.explode(F.array((1 to 9).map(i =>
      F.lit(i / 10.0)): _*)).as("q")
    val qs = s.sparkSession.range(1).select(grid)
    def cuts(cls1: Boolean, out: String): DataFrame = {
      val byV = s.filter(if (cls1) F.col("__c1") === 1L
          else F.col("__c1") === 0L)
        .groupBy("__v").agg(F.count(F.lit(1)).as("__t"))
      val w = Window.orderBy(F.col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byV.agg(F.sum("__t").as("__n"))
      byV.withColumn("__cum", F.sum("__t").over(w))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("__cum") >=
          -F.floor(-F.col("q") * F.col("__n").cast("double")))
        .groupBy("q").agg(F.min("__v").as(out))
    }
    val sD = F.lit(scale).cast("double")
    cuts(cls1 = true, "__q1").join(cuts(cls1 = false, "__q2"), Seq("q"))
      .select(F.col("q"),
        F.round(F.col("__q1").cast("double") / sD, 6).as("cut1"),
        F.round(F.col("__q2").cast("double") / sD, 6).as("cut2"),
        F.round((F.col("__q2") - F.col("__q1")).cast("double") / sD, 6)
          .as("shift"))
      .orderBy("q")
  }

  /** Chatterjee's ξ rank correlation (2020) — DOES y depend on x at
    * all, functionally: sort by x, walk the y-ranks, and measure how
    * much they jump:
    * {{{ ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i(n − l_i)) }}}
    * (r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i} — the general tie form).
    * ξ → 1 for ANY measurable function y = f(x) (a parabola, a sine —
    * relationships Pearson/Spearman score 0), → 0 under independence.
    * The screening complement of [[distanceCorrelation]] at O(n log n)
    * shuffle cost instead of all-pairs.
    *
    * Determinism: y-ranks are exact longs off the y-value ladder; the
    * x-walk uses a deterministic (x, y) sort (Chatterjee prescribes
    * RANDOM x-tie breaking; the (x, y) tie-break is the documented
    * deterministic stand-in — under heavy x-ties it biases ξ upward,
    * so quantize x coarsely only when x-ties are rare); numerator and
    * denominator are exact longs, ξ one IEEE division.
    *
    * Scale shape: one value ladder, one ordered lead window over the
    * rows (single-partition — the series/ladder contract), a 1-row
    * result.
    *
    * @return one row (n, sum_dr, xi) — xi 6-dp; NULL when all y tie
    */
  def chatterjeeXi(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val rows = df.select(xCol.cast("double").as("__x"),
        yCol.cast("double").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    val byY = rows.groupBy("__y").agg(F.count(F.lit(1)).as("__t"))
    val wy = Window.orderBy(F.col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = byY.withColumn("__cum", F.sum("__t").over(wy))
    val tot = byY.agg(F.sum("__t").as("__nn"))
    // denominator: Σ_rows l·(n−l), l = #{y_j ≥ y} = n − (cum − t)
    val den = ranks.crossJoin(F.broadcast(tot))
      .select((F.col("__t") *
        (F.col("__nn") - F.col("__cum") + F.col("__t")) *
        (F.col("__cum") - F.col("__t"))).as("__dterm"))
      .agg(F.sum("__dterm").as("__den"))
    val walked = rows
      .join(F.broadcast(ranks.select(F.col("__y"),
        F.col("__cum").as("__r"))), Seq("__y"))
      .withColumn("__rnext",
        F.lead("__r", 1).over(Window.orderBy(F.col("__x"), F.col("__y"))))
      .filter(F.col("__rnext").isNotNull)
      .agg(F.sum(F.abs(F.col("__rnext") - F.col("__r"))).as("__sdr"))
    val g = walked.crossJoin(den).crossJoin(F.broadcast(tot))
    g.select(F.col("__nn").as("n"), F.col("__sdr").as("sum_dr"),
      F.round(F.lit(1.0) -
        F.col("__nn").cast("double") * F.col("__sdr").cast("double") /
          F.nullif(F.lit(2.0) * F.col("__den").cast("double"),
            F.lit(0.0)), 6).as("xi"))
  }

  /** Blomqvist's β (medial correlation) — the quadrant count around
    * the two medians: split the plane at (median x, median y),
    * {{{ β = (n₁₁ + n₂₂ − n₁₂ − n₂₁) / n ∈ [−1, 1] }}}
    * The MAXIMALLY robust association read — it uses only which
    * quadrant each point lands in, so no tail, no outlier, no
    * monotone distortion moves it. The blunt companion of
    * [[chatterjeeXi]] (any-shape dependence) and x377's
    * tail-dependence (tails only): β reads the BULK.
    *
    * Determinism: exact lower medians off ×`scale` value ladders (the
    * [[moodMedian]] idiom); quadrant cells exact longs with the
    * documented (> median) vs (≤ median) convention — on-median
    * points count to the ≤ side; β one IEEE division.
    *
    * Scale shape: two bounded value ladders + one broadcast-median
    * quadrant collapse, a 1-row result.
    *
    * @return one row (n, med_x, med_y, n11, n12, n21, n22, beta) —
    *         medians/beta 6-dp
    */
  def blomqvistBeta(df: DataFrame, xCol: Column, yCol: Column,
                    scale: Long = 1L): DataFrame = {
    val s = df.select(
        F.round(xCol.cast("double") * scale).cast("long").as("__x"),
        F.round(yCol.cast("double") * scale).cast("long").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
    def med(c: String, out: String): DataFrame = {
      val byV = s.groupBy(F.col(c).as("__v"))
        .agg(F.count(F.lit(1)).as("__t"))
      val w = Window.orderBy(F.col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byV.agg(F.sum("__t").as("__nn"))
      byV.withColumn("__cum", F.sum("__t").over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("__cum") >=
          F.call_function("div", F.col("__nn") + 1L, F.lit(2L)))
        .agg(F.min("__v").as(out))
    }
    val g = s.crossJoin(F.broadcast(med("__x", "__mx")))
      .crossJoin(F.broadcast(med("__y", "__my")))
      .agg(F.count(F.lit(1)).as("n"),
        F.max("__mx").as("__mx"), F.max("__my").as("__my"),
        F.sum(F.when(F.col("__x") > F.col("__mx") &&
          F.col("__y") > F.col("__my"), 1L).otherwise(0L)).as("n11"),
        F.sum(F.when(F.col("__x") > F.col("__mx") &&
          F.col("__y") <= F.col("__my"), 1L).otherwise(0L)).as("n12"),
        F.sum(F.when(F.col("__x") <= F.col("__mx") &&
          F.col("__y") > F.col("__my"), 1L).otherwise(0L)).as("n21"),
        F.sum(F.when(F.col("__x") <= F.col("__mx") &&
          F.col("__y") <= F.col("__my"), 1L).otherwise(0L)).as("n22"))
    val sD = F.lit(scale).cast("double")
    g.select(F.col("n"),
      F.round(F.col("__mx").cast("double") / sD, 6).as("med_x"),
      F.round(F.col("__my").cast("double") / sD, 6).as("med_y"),
      F.col("n11"), F.col("n12"), F.col("n21"), F.col("n22"),
      F.round((F.col("n11") + F.col("n22") - F.col("n12") -
        F.col("n21")).cast("double") /
        F.nullif(F.col("n").cast("double"), F.lit(0.0)), 6).as("beta"))
  }

  /** Bartels rank test (rank von Neumann) — series RANDOMNESS against
    * both trend AND oscillation: the von Neumann successive-difference
    * ratio computed on ranks,
    * {{{ RVN = Σ(R_i − R_{i+1})² / Σ(R_i − R̄)²,  E[RVN] = 2 }}}
    * RVN ≪ 2 says neighbors are too SIMILAR (trend/level shifts —
    * what [[runsTest]] sees), RVN ≫ 2 says they ALTERNATE too much
    * (negative autocorrelation — what runsTest half-misses). z uses
    * the exact-n normal approximation Var ≈ 4(n−2)(5n²−2n−9)/
    * (5n(n+1)(n−1)²).
    *
    * Determinism: doubled midranks k off the value ladder; numerator
    * Σ(Δk)² and the n-scaled denominator Σ(n·k − Σk)² are exact
    * longs; RVN = n²·NUM / DEN is one IEEE chain.
    *
    * Scale shape: one value ladder + one time walk over the bounded
    * series grid, a 1-row result.
    *
    * @return one row (n, rvn, z) — 6-dp; NULL when the series is
    *         constant
    */
  def bartelsRankTest(series: DataFrame, tCol: String, vCol: String,
                      scale: Long = 1L): DataFrame = {
    val s = series.select(F.col(tCol).cast("long").as("__t"),
        F.round(F.col(vCol).cast("double") * scale).cast("long")
          .as("__y"))
      .filter(F.col("__y").isNotNull)
    val byV = s.groupBy("__y").agg(F.count(F.lit(1)).as("__tc"))
    val wv = Window.orderBy(F.col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kv = byV.withColumn("__cum", F.sum("__tc").over(wv))
      .withColumn("__k",
        F.lit(2L) * F.col("__cum") - F.col("__tc") + 1L)
      .select("__y", "__k")
    val tot = s.agg(F.count(F.lit(1)).as("__n"))
    val walked = s.join(F.broadcast(kv), "__y")
      .crossJoin(F.broadcast(tot))
      // Σ doubled midranks ≡ n(n+1) (a permutation identity) — no
      // second window needed
      .withColumn("__sk", F.col("__n") * (F.col("__n") + 1L))
      .withColumn("__kn",
        F.lead("__k", 1).over(Window.orderBy(F.col("__t"))))
    val g = walked.agg(F.max("__n").as("n"),
      F.sum(F.when(F.col("__kn").isNotNull,
        (F.col("__kn") - F.col("__k")) * (F.col("__kn") - F.col("__k")))
        .otherwise(0L)).as("__num"),
      F.sum((F.col("__n") * F.col("__k") - F.col("__sk")) *
        (F.col("__n") * F.col("__k") - F.col("__sk"))).as("__den"))
    val nD = F.col("n").cast("double")
    val rvn = (nD * nD) * F.col("__num").cast("double") /
      F.nullif(F.col("__den").cast("double"), F.lit(0.0))
    val varR = F.lit(4.0) * (nD - 2.0) *
      (F.lit(5.0) * nD * nD - F.lit(2.0) * nD - 9.0) /
      (F.lit(5.0) * nD * (nD + 1.0) * (nD - 1.0) * (nD - 1.0))
    g.select(F.col("n"), F.round(rvn, 6).as("rvn"),
      F.round((rvn - 2.0) / F.sqrt(F.nullif(varR, F.lit(0.0))), 6)
        .as("z"))
  }

  /** Goodman–Kruskal λ — proportional reduction in PREDICTION error
    * for nominal×nominal tables: guessing the modal y is wrong
    * (n − max_c) times; knowing x reduces that to Σ_r (n_r − max_c|r):
    * {{{ λ_{y|x} = (Σ_r max_c n_rc − max_c n_c) / (n − max_c n_c) }}}
    * (both directions + the symmetric average). The "does knowing the
    * segment actually help predict the priority" number —
    * [[cramersV]]-style association rescaled into error-reduction
    * units, and 0 exactly when x never changes the modal guess.
    *
    * Determinism: everything is exact-long cell/margin counts and max
    * selections; the three λ are the only IEEE divisions.
    *
    * Scale shape: one cell collapse (categories² bounded), margin
    * rollups, a 1-row result.
    *
    * @return one row (n, lambda_y_x, lambda_x_y, lambda_sym) — 6-dp;
    *         NULL when the relevant modal margin equals n
    */
  def goodmanKruskalLambda(df: DataFrame, xCol: Column,
                           yCol: Column): DataFrame = {
    val cells = df.select(xCol.cast("string").as("__x"),
        yCol.cast("string").as("__y"))
      .filter(F.col("__x").isNotNull && F.col("__y").isNotNull)
      .groupBy("__x", "__y").agg(F.count(F.lit(1)).as("__c"))
    val byX = cells.groupBy("__x").agg(F.max("__c").as("__mxr"))
      .agg(F.sum("__mxr").as("__srm"))
    val byY = cells.groupBy("__y").agg(F.max("__c").as("__mxc"))
      .agg(F.sum("__mxc").as("__scm"))
    val margX = cells.groupBy("__x").agg(F.sum("__c").as("__m"))
      .agg(F.max("__m").as("__maxX"))
    val margY = cells.groupBy("__y").agg(F.sum("__c").as("__m"))
      .agg(F.max("__m").as("__maxY"))
    val n = cells.agg(F.sum("__c").as("n"))
    val g = n.crossJoin(byX).crossJoin(byY).crossJoin(margX)
      .crossJoin(margY)
    def lam(sum: Column, mx: Column): Column =
      (sum - mx).cast("double") /
        F.nullif((F.col("n") - mx).cast("double"), F.lit(0.0))
    g.select(F.col("n"),
      F.round(lam(F.col("__srm"), F.col("__maxY")), 6).as("lambda_y_x"),
      F.round(lam(F.col("__scm"), F.col("__maxX")), 6).as("lambda_x_y"),
      F.round(((F.col("__srm") - F.col("__maxY")) +
        (F.col("__scm") - F.col("__maxX"))).cast("double") /
        F.nullif(((F.col("n") - F.col("__maxY")) +
          (F.col("n") - F.col("__maxX"))).cast("double"), F.lit(0.0)), 6)
        .as("lambda_sym"))
  }

  /** Yuen's trimmed-mean two-sample test — Welch's t on γ-TRIMMED
    * means with WINSORIZED variances: trim the extreme ⌊γn⌋ values
    * from each end before comparing locations, so a heavy tail or a
    * few outliers can't buy or hide a difference (the robust
    * replacement for [[welchTTest]] when the tails are real data, and
    * the parametric-power alternative to [[mannWhitneyU]]'s pure
    * ranks):
    * {{{
    *   t = (x̄_t1 − x̄_t2) / √(d₁ + d₂),
    *   d_i = (n_i − 1)·s²_wi / (h_i·(h_i − 1)),  h_i = n_i − 2g_i
    * }}}
    * with Welch–Satterthwaite df.
    *
    * Determinism: all order statistics come off per-group value
    * ladders — the trimmed window [g+1, n−g] clips each run by exact
    * integer position arithmetic, and the winsorized Σk / Σk² add the
    * two exact cap terms; every moment is an exact long, the t/df
    * chain pure IEEE.
    *
    * Scale shape: two bounded value ladders + one clipped rollup, a
    * 1-row result.
    *
    * @param trim per-end trim share γ (default 0.2)
    * @return one row (n1, n2, h1, h2, mean_t1, mean_t2, t, df) —
    *         6-dp; NULL t when a winsorized variance is 0 or h ≤ 1
    */
  def yuenTest(df: DataFrame, valueCol: Column, isClass1: Column,
               trim: Double = 0.2, scale: Long = 1L): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim must be in (0,0.5), got $trim")
    val s = df.select(
        F.round(valueCol.cast("double") * scale).cast("long").as("__v"),
        F.when(isClass1, 1L).otherwise(0L).as("__c1"))
      .filter(F.col("__v").isNotNull)
    val sD = F.lit(scale).cast("double")
    def side(cls1: Boolean): DataFrame = {
      val byV = s.filter(if (cls1) F.col("__c1") === 1L
          else F.col("__c1") === 0L)
        .groupBy("__v").agg(F.count(F.lit(1)).as("__t"))
      val w = Window.orderBy(F.col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byV.agg(F.sum("__t").as("__nn"))
      val lad = byV.withColumn("__cum", F.sum("__t").over(w))
        .withColumn("__lo", F.col("__cum") - F.col("__t") + 1L)
        .crossJoin(F.broadcast(tot))
        .withColumn("__g", F.floor(F.lit(trim) *
          F.col("__nn").cast("double")).cast("long"))
      // caps: order statistics at positions g+1 and n−g
      val caps = lad.agg(
        F.min(F.when(F.col("__cum") >= F.col("__g") + 1L, F.col("__v")))
          .as("__vlo"),
        F.min(F.when(F.col("__cum") >= F.col("__nn") - F.col("__g"),
          F.col("__v"))).as("__vhi"),
        F.max("__nn").as("__nn"), F.max("__g").as("__gg"))
      // clip each run to the kept window [g+1, n−g]
      val kept = lad.withColumn("__cnt",
        F.greatest(F.lit(0L),
          F.least(F.col("__cum"), F.col("__nn") - F.col("__g")) -
            F.greatest(F.col("__lo"), F.col("__g") + 1L) + 1L))
        .agg(F.sum(F.col("__v") * F.col("__cnt")).as("__sk"),
          F.sum(F.col("__v") * F.col("__v") * F.col("__cnt")).as("__qk"))
      kept.crossJoin(F.broadcast(caps))
    }
    val a = side(cls1 = true).select(
      F.col("__nn").as("n1"), F.col("__gg").as("__g1"),
      F.col("__sk").as("__sk1"), F.col("__qk").as("__qk1"),
      F.col("__vlo").as("__lo1"), F.col("__vhi").as("__hi1"))
    val b = side(cls1 = false).select(
      F.col("__nn").as("n2"), F.col("__gg").as("__g2"),
      F.col("__sk").as("__sk2"), F.col("__qk").as("__qk2"),
      F.col("__vlo").as("__lo2"), F.col("__vhi").as("__hi2"))
    val j = a.crossJoin(b)
    def stats(n: Column, g: Column, sk: Column, qk: Column,
              vlo: Column, vhi: Column): (Column, Column, Column) = {
      val h = (n - F.lit(2L) * g).cast("double")
      val meanT = sk.cast("double") / (h * sD)
      // winsorized moments: kept mass + g copies of each cap
      val sw = sk + g * (vlo + vhi)
      val qw = qk + g * (vlo * vlo + vhi * vhi)
      val ssw = qw.cast("double") - sw.cast("double") *
        (sw.cast("double") / n.cast("double"))
      val s2w = ssw / (F.nullif(n.cast("double") - 1.0, F.lit(0.0)) *
        sD * sD)
      val d = (n.cast("double") - 1.0) * s2w /
        F.nullif(h * (h - 1.0), F.lit(0.0))
      (h, meanT, d)
    }
    val (h1, m1, d1) = stats(F.col("n1"), F.col("__g1"), F.col("__sk1"),
      F.col("__qk1"), F.col("__lo1"), F.col("__hi1"))
    val (h2, m2, d2) = stats(F.col("n2"), F.col("__g2"), F.col("__sk2"),
      F.col("__qk2"), F.col("__lo2"), F.col("__hi2"))
    j.select(F.col("n1"), F.col("n2"),
      h1.cast("long").as("h1"), h2.cast("long").as("h2"),
      F.round(m1, 6).as("mean_t1"), F.round(m2, 6).as("mean_t2"),
      F.round((m1 - m2) / F.sqrt(F.nullif(d1 + d2, F.lit(0.0))), 6)
        .as("t"),
      F.round((d1 + d2) * (d1 + d2) / F.nullif(
        d1 * d1 / F.nullif(h1 - 1.0, F.lit(0.0)) +
          d2 * d2 / F.nullif(h2 - 1.0, F.lit(0.0)), F.lit(0.0)), 6)
        .as("df"))
  }

  /** Poisson dispersion (index-of-dispersion) test per group — is a
    * count series actually Poisson, or over-dispersed (bursts,
    * contagion, mixed rates):
    * {{{ D = Σ(x − x̄)²/x̄ ~ χ²(n−1) under Poisson }}}
    * with the Wilson–Hilferty cube-root normal z for a readable
    * significance. Over-dispersion (z ≫ 0) is the "one rate per
    * user/day is a lie" smell that invalidates plain-Poisson capacity
    * math; under-dispersion flags quota-ed or rounded pipelines.
    *
    * Determinism: per-group exact (n, Σk, Σk²) from ×`scale`
    * quantization; D = (n·Σk² − (Σk)²)/Σk one IEEE chain (all-long
    * numerator pieces), WH z a second.
    *
    * Scale shape: one group collapse, G rows out.
    *
    * @return per-group rows (g, n, mean, d, df, z_wh) ordered by g —
    *         6-dp; NULL when the group mean is 0 or n < 2
    */
  def poissonDispersion(df: DataFrame, groupCol: Column,
                        countCol: Column): DataFrame = {
    val per = df.select(groupCol.cast("string").as("__g"),
        F.round(countCol.cast("double")).cast("long").as("__k"))
      .filter(F.col("__g").isNotNull && F.col("__k").isNotNull)
      .groupBy("__g")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
    val nD = F.col("n").cast("double")
    val d = (nD * F.col("__q").cast("double") -
      F.col("__s").cast("double") * F.col("__s").cast("double")) /
      F.nullif(F.col("__s").cast("double"), F.lit(0.0))
    val dfD = nD - 1.0
    // Wilson–Hilferty: ((D/df)^(1/3) − (1 − 2/(9df))) / √(2/(9df))
    val wh = (F.pow(d / F.nullif(dfD, F.lit(0.0)), F.lit(1.0 / 3.0)) -
      (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfD))) /
      F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfD))
    per.select(F.col("__g").as("g"), F.col("n"),
      F.round(F.col("__s").cast("double") / nD, 6).as("mean"),
      F.round(d, 6).as("d"), (F.col("n") - 1L).as("df"),
      F.round(wh, 6).as("z_wh"))
      .orderBy("g")
  }

  /** Standardized Pearson residual census for an r×c table — WHICH
    * cells drive a significant chi-square:
    * {{{ r_ij = (O − E) / √(E·(1 − n_i/n)·(1 − n_j/n)) }}}
    * — each ~N(0,1) under independence, so |r| > 2 names the
    * offending cells directly. The diagnostic table behind the
    * single-number [[cramersV]]: "segment×priority are associated" is
    * useless until this says WHERE.
    *
    * Determinism: exact cell/margin longs; E and the residual one
    * IEEE chain per cell (bounded cells), 6-dp.
    *
    * Scale shape: one cell collapse + broadcast margins; categories²
    * rows out, the corpus touched once.
    *
    * @return per-cell rows (x, y, n_obs, n_exp, resid) ordered by
    *         (x, y) — 6-dp; NULL resid for degenerate margins
    */
  def chiSquareResiduals(df: DataFrame, xCol: Column,
                         yCol: Column): DataFrame = {
    val cells = df.select(xCol.cast("string").as("x"),
        yCol.cast("string").as("y"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull)
      .groupBy("x", "y").agg(F.count(F.lit(1)).as("n_obs"))
    val rx = cells.groupBy("x").agg(F.sum("n_obs").as("__nr"))
    val cy = cells.groupBy("y").agg(F.sum("n_obs").as("__nc"))
    val tot = cells.agg(F.sum("n_obs").as("__nn"))
    val j = cells.join(F.broadcast(rx), "x").join(F.broadcast(cy), "y")
      .crossJoin(F.broadcast(tot))
    val nD = F.col("__nn").cast("double")
    val e = F.col("__nr").cast("double") *
      (F.col("__nc").cast("double") / nD)
    val denom = F.sqrt(e *
      (F.lit(1.0) - F.col("__nr").cast("double") / nD) *
      (F.lit(1.0) - F.col("__nc").cast("double") / nD))
    j.select(F.col("x"), F.col("y"), F.col("n_obs"),
      F.round(e, 6).as("n_exp"),
      F.round((F.col("n_obs").cast("double") - e) /
        F.nullif(denom, F.lit(0.0)), 6).as("resid"))
      .orderBy("x", "y")
  }

  /** Score test for ZERO-INFLATION against a Poisson (van den Broek
    * 1995) — "are there more exact zeros than the fitted Poisson
    * allows":
    * {{{
    *   S = (n₀ − n·e^(−λ̂))² / ( n·e^(−λ̂)·(1 − e^(−λ̂)) − n·λ̂·e^(−2λ̂) )
    * }}}
    * ~ χ²(1), λ̂ = ȳ. The "silent failure mode" detector for count
    * pipelines: a sensor that sometimes emits nothing, users who never
    * convert, days with logging gaps — all show up as excess zeros
    * long before they move the mean that [[poissonDispersion]] reads.
    *
    * Determinism: exact (n, n₀, Σy) longs; λ̂ and both exponentials one
    * IEEE chain (identical arguments both engines).
    *
    * Scale shape: one collapse to three longs, a 1-row result.
    *
    * @return one row (n, n_zero, lambda_hat, expected_zero, s_stat) —
    *         6-dp; NULL when the denominator is ≤ 0 (λ̂ = 0 edge)
    */
  def zeroInflationScore(df: DataFrame, countCol: Column): DataFrame = {
    val g = df.select(F.round(countCol.cast("double")).cast("long")
        .as("__k"))
      .filter(F.col("__k").isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("__k") === 0L, 1L).otherwise(0L)).as("n_zero"),
        F.sum("__k").as("__s"))
    val nD = F.col("n").cast("double")
    val lam = F.col("__s").cast("double") / nD
    val p0 = F.exp(-lam)
    val den = nD * p0 * (F.lit(1.0) - p0) -
      nD * lam * F.exp(F.lit(-2.0) * lam)
    val diff = F.col("n_zero").cast("double") - nD * p0
    g.select(F.col("n"), F.col("n_zero"),
      F.round(lam, 6).as("lambda_hat"),
      F.round(nD * p0, 6).as("expected_zero"),
      F.round(diff * diff / F.nullif(
        F.when(den > 0.0, den), F.lit(0.0)), 6).as("s_stat"))
  }

  /** Partial AUC over the LOW-FALSE-POSITIVE region FPR ∈ [0, fMax]
    * (McClish 1989, standardized) — the only part of the ROC a
    * high-precision filter ever operates in: two classifiers with
    * equal full [[aucExact]] can differ hugely below FPR 0.1, and the
    * full integral hides it.
    * {{{ pAUC_std = ½·(1 + (pAUC − fMax²/2) / (fMax − fMax²/2)) }}}
    *
    * Determinism: the exact descending (TP, FP) ladder (the
    * [[thresholdSweep]] collapse); trapezoid segments in unit-square
    * coordinates, one 9-dp term per distinct score, the fMax boundary
    * segment linearly interpolated from exact counts — the same IEEE
    * tree both engines. Ties form diagonal segments (consistent with
    * the rank-form aucExact).
    *
    * Scale shape: one score collapse + one bounded distinct-score
    * ladder window, a 1-row result.
    *
    * @return one row (n_pos, n_neg, f_max, pauc, pauc_std) — 6-dp
    */
  def partialAuc(df: DataFrame, scoreCol: Column, labelCol: Column,
                 fMax: Double = 0.1): DataFrame = {
    require(fMax > 0 && fMax <= 1, s"fMax must be in (0,1], got $fMax")
    val byS = df.select(scoreCol.cast("double").as("__s"),
        F.when(labelCol, 1L).otherwise(0L).as("__y"))
      .filter(F.col("__s").isNotNull)
      .groupBy("__s")
      .agg(F.sum("__y").as("__tp"),
        (F.count(F.lit(1)) - F.sum("__y")).as("__fp"))
    val w = Window.orderBy(F.col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byS.agg(F.sum("__tp").as("__np"), F.sum("__fp").as("__nn"))
    val lad = byS
      .withColumn("__ctp", F.sum("__tp").over(w))
      .withColumn("__cfp", F.sum("__fp").over(w))
      .crossJoin(F.broadcast(tot))
      .withColumn("__ptp", F.col("__ctp") - F.col("__tp"))
      .withColumn("__pfp", F.col("__cfp") - F.col("__fp"))
    val npD = F.col("__np").cast("double")
    val nnD = F.col("__nn").cast("double")
    val f0 = F.col("__pfp").cast("double") / nnD
    val f1 = F.col("__cfp").cast("double") / nnD
    val t0 = F.col("__ptp").cast("double") / npD
    val t1 = F.col("__ctp").cast("double") / npD
    // clip the segment [f0, f1] at fMax, interpolating tpr linearly
    val fc = F.least(f1, F.lit(fMax))
    val tc = F.when(f1 > f0,
      t0 + (t1 - t0) * (fc - f0) / (f1 - f0)).otherwise(t1)
    val term = F.when(f0 < F.lit(fMax) && f1 > f0,
      F.round((fc - f0) * (tc + t0) / 2.0, 9)).otherwise(F.lit(0.0))
    val g = lad.withColumn("__a", term)
      .agg(F.max("__np").as("n_pos"), F.max("__nn").as("n_neg"),
        F.sum("__a").as("__pauc"))
    val mn = fMax * fMax / 2.0
    g.select(F.col("n_pos"), F.col("n_neg"),
      F.lit(fMax).as("f_max"),
      F.round(F.col("__pauc"), 6).as("pauc"),
      F.round(F.lit(0.5) * (F.lit(1.0) +
        (F.col("__pauc") - F.lit(mn)) / F.lit(fMax - mn)), 6)
        .as("pauc_std"))
  }

  /** Negative-binomial method-of-moments fit — parameterize the
    * over-dispersion [[poissonDispersion]] detects: with m = x̄ and
    * sample variance v,
    * {{{ r̂ = m²/(v − m),  p̂ = m/v }}}
    * (NB₂: variance m + m²/r). r̂ ≲ 1 says "burst-dominated" (a few
    * heavy actors own the counts), r̂ ≫ 10 says nearly-Poisson; p̂
    * feeds capacity simulation directly. NULL when v ≤ m — no
    * over-dispersion to parameterize (use the plain Poisson).
    *
    * Determinism: one collapse to exact (n, Σk, Σk²); m, v, r̂, p̂ one
    * IEEE chain.
    *
    * @return one row (n, mean, var, r_hat, p_hat) — 6-dp
    */
  def negBinomialFit(df: DataFrame, countCol: Column): DataFrame = {
    val g = df.select(F.round(countCol.cast("double")).cast("long")
        .as("__k"))
      .filter(F.col("__k").isNotNull)
      .agg(F.count(F.lit(1)).as("n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
    val nD = F.col("n").cast("double")
    val m = F.col("__s").cast("double") / nD
    val v = (F.col("__q").cast("double") -
      F.col("__s").cast("double") * (F.col("__s").cast("double") / nD)) /
      F.nullif(nD - 1.0, F.lit(0.0))
    g.select(F.col("n"), F.round(m, 6).as("mean"),
      F.round(v, 6).as("var"),
      F.round(F.when(v > m, m * m / (v - m)), 6).as("r_hat"),
      F.round(F.when(v > m, m / v), 6).as("p_hat"))
  }

  /** Mean cumulative function (MCF) for recurrent events — expected
    * cumulative events PER SUBJECT by time t, the recurrent-event
    * counterpart of a survival curve: with every subject observed over
    * the full window, MCF(t) = (Σ events ≤ t)/n_subjects. Slope reads
    * as event RATE over time: a flattening MCF is engagement decay a
    * daily-volume plot confounds with cohort growth; [[kaplanMeier]]
    * answers "when does the FIRST event happen", this answers "how
    * many, cumulatively".
    *
    * Determinism: exact integer day/event ladders; one IEEE division
    * per grid row.
    *
    * Scale shape: subjects counted with one distinct collapse, events
    * collapse to the bounded day grid, one ladder window.
    *
    * @return per-day rows (t, n_events, events_cum, mcf) ordered by
    *         t — mcf 6-dp
    */
  def meanCumulativeFunction(events: DataFrame, subjectCol: Column,
                             tCol: Column): DataFrame = {
    val base = events.select(subjectCol.as("__u"),
        tCol.cast("long").as("__t"))
      .filter(F.col("__u").isNotNull && F.col("__t").isNotNull)
    val nSub = base.select("__u").distinct()
      .agg(F.count(F.lit(1)).as("__ns"))
    val byT = base.groupBy("__t").agg(F.count(F.lit(1)).as("n_events"))
    val w = Window.orderBy(F.col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("events_cum", F.sum("n_events").over(w))
      .crossJoin(F.broadcast(nSub))
      .select(F.col("__t").as("t"), F.col("n_events"),
        F.col("events_cum"),
        F.round(F.col("events_cum").cast("double") /
          F.col("__ns").cast("double"), 6).as("mcf"))
      .orderBy("t")
  }

  /** One 2×K-cell chi-square contribution (O−E)²/E with E = rowTot·
    * colTot/N, everything exact longs until the two IEEE ops. Assumes
    * the caller's frame carries __a+__b per group and __ta/__tb/__n
    * margins. */
  private def termChi(o: Column, colTot: Column): Column = {
    val e = colTot.cast("double") *
      ((F.col("__a") + F.col("__b")).cast("double") /
        F.col("__n").cast("double"))
    val d = o.cast("double") - e
    d * d / F.nullif(e, F.lit(0.0))
  }

  /** Deterministic RANSAC line fit (Fischler & Bolles 1981) — the
    * ROBUST regression for data with gross outliers, where [[olsFit]]
    * is dragged arbitrarily and even [[theilSen]]'s 29% breakdown can
    * be exceeded: fit candidate lines through sampled point PAIRS, keep
    * the one with the most inliers (|y − (a·x + b)| ≤ tol), then OLS
    * over that consensus set only.
    *
    * "Sampled" is md5-DETERMINISTIC (the [[Sampling.hashSample]]
    * regime): the 2k pivot points are the 2k smallest
    * md5(seed|x|y) hashes — engine-replayable, no RNG — paired by hash
    * rank, degenerate pairs (x₁ = x₂) dropped. Coordinates are
    * integer-valued by contract (cast to long): the hash keys and the
    * refit sums are then exact in any engine (integer sums in doubles
    * are exact below 2⁵³ — the x107 regime), and the inlier predicate
    * compares one IEEE a·x+b tree to a literal.
    *
    * Scale shape: the pivot pick is TakeOrdered (top-2k by hash, no
    * global sort materialization); the ≤k-row model table broadcasts
    * into ONE codegen'd pass that counts inliers for all candidates;
    * the refit is one more broadcast-filtered aggregate pass. Driver
    * never sees a row.
    *
    * @param nCandidates candidate pairs k (≤ 64)
    * @param tol         inlier residual threshold
    * @return one row (n_points, n_candidates, best_cand, n_inliers,
    *         slope, intercept, r2) — 6-dp; EMPTY (zero rows, loud in
    *         any downstream count) when no valid candidate exists
    */
  def ransacLine(df: DataFrame, x: Column, y: Column,
                 nCandidates: Int = 8, tol: Double = 50.0,
                 seed: String = "ransac"): DataFrame = {
    require(nCandidates >= 1 && nCandidates <= 64,
      s"nCandidates must be in [1,64], got $nCandidates")
    require(tol > 0.0, s"tol must be positive, got $tol")
    val pts = df.select(x.cast("long").as("__xl"), y.cast("long").as("__yl"))
      .filter(F.col("__xl").isNotNull && F.col("__yl").isNotNull)
    val nTab = pts.agg(F.count(F.lit(1)).as("n_points"))
    val top = pts
      .withColumn("__h", F.md5(F.concat_ws("|",
        F.lit(seed), F.col("__xl"), F.col("__yl"))))
      .orderBy(F.col("__h"), F.col("__xl"), F.col("__yl"))
      .limit(2 * nCandidates)
    val ranked = top.withColumn("__r", F.row_number().over(
      Window.orderBy(F.col("__h"), F.col("__xl"), F.col("__yl"))))
    val c1 = ranked.filter(F.col("__r") % 2 === 1)
      .select(((F.col("__r") + 1) / 2).cast("long").as("__cand"),
        F.col("__xl").as("__x1"), F.col("__yl").as("__y1"))
    val c2 = ranked.filter(F.col("__r") % 2 === 0)
      .select((F.col("__r") / 2).cast("long").as("__cand"),
        F.col("__xl").as("__x2"), F.col("__yl").as("__y2"))
    // a repeated textually in b — both engines run the identical tree;
    // nullif (not a pre-filter) guards the degenerate pair because ANSI
    // codegen can evaluate the projection speculatively inside the join
    def aExpr = (F.col("__y2") - F.col("__y1")).cast("double") /
      F.nullif((F.col("__x2") - F.col("__x1")).cast("double"), F.lit(0.0))
    val models = c1.join(c2, "__cand")
      .select(F.col("__cand"), aExpr.as("__a"),
        (F.col("__y1").cast("double") - aExpr * F.col("__x1").cast("double"))
          .as("__b"))
      .filter(F.col("__a").isNotNull)
    val kTab = models.agg(F.count(F.lit(1)).as("n_candidates"))
    val resid = F.abs(F.col("__yl").cast("double") -
      (F.col("__a") * F.col("__xl").cast("double") + F.col("__b")))
    val counts = pts.crossJoin(F.broadcast(models))
      .filter(resid <= F.lit(tol))
      .groupBy("__cand").agg(F.count(F.lit(1)).as("n_inliers"))
    val best = counts
      .orderBy(F.col("n_inliers").desc, F.col("__cand").asc).limit(1)
      .join(models, "__cand")
    val inliers = pts.crossJoin(F.broadcast(best)).filter(resid <= F.lit(tol))
    val fit = olsFit(inliers, Nil,
      F.col("__xl").cast("double"), F.col("__yl").cast("double"))
    nTab.crossJoin(F.broadcast(kTab))
      .crossJoin(F.broadcast(best.select(
        F.col("__cand").as("best_cand"), F.col("n_inliers"))))
      .crossJoin(F.broadcast(fit.select(
        F.col("slope"), F.col("intercept"), F.col("r2"))))
      .select(F.col("n_points"), F.col("n_candidates"),
        F.col("best_cand"), F.col("n_inliers"),
        F.col("slope"), F.col("intercept"), F.col("r2"))
  }
}
