package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Deterministic sampling for training-data pipelines — extension surface
  * beyond the reference. `df.sample()` is seed-dependent PER PARTITIONING:
  * the same row can be kept in one run and dropped in the next when the
  * input splits differently, which breaks reproducibility guarantees and
  * incremental re-runs. Content-hash sampling decides from the ROW alone:
  * stable under repartitioning, re-runs, and engine versions, and any other
  * system (the DuckDB oracle included) selects the identical rows.
  */
object Sampling {

  /** Keep rows whose md5(key)-prefix falls in the first `rate` fraction of
    * the 16-bit hex space (granularity 1/65536 ≈ 0.0015%; md5 rather than
    * xxhash64 so external engines reproduce the exact subset). A pure
    * codegen'd filter: no shuffle, no state, pushes down past column
    * pruning like any predicate. A NULL key is treated as the empty string
    * (not silently dropped — a null-propagating md5 comparison would keep
    * null rows at rate 1.0 but drop 100% of them at rate 0.9999).
    *
    * @param key  deciding column — the content key (e.g. the text), NOT a
    *             monotonically-assigned id, so the choice survives re-keying
    * @param salt vary to draw an independent sample at the same rate
    *             (e.g. train/holdout splits: disjoint salts, disjoint logic)
    */
  def hashSample(df: DataFrame, key: Column, rate: Double, salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val thr = math.round(rate * 65536.0).toInt
    if (thr >= 65536) df
    else df.filter(
      F.substring(F.md5(F.concat(F.lit(salt), keyStr(key))), 1, 4) < F.lit(f"$thr%04x"))
  }

  /** Null-safe string form of the deciding key — see [[hashSample]]. */
  private def keyStr(key: Column): Column = F.coalesce(key.cast("string"), F.lit(""))

  /** Per-group sampling rates in one pass — the corpus-mixture knob
    * ("keep 80% of books, 5% of crawl"). Same deterministic md5-prefix
    * decision as [[hashSample]], with the threshold looked up from a
    * broadcast-as-literal rate map on `groupCol`. Groups absent from
    * `rates` fall back to `defaultRate`. Still a pure codegen'd filter:
    * no shuffle, no second pass, prunes to (group, key) columns.
    */
  def hashSampleByGroup(df: DataFrame, groupCol: Column, key: Column,
                        rates: Map[String, Double], defaultRate: Double = 0.0,
                        salt: String = ""): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    def hex(rate: Double): Column = F.lit(f"${math.round(rate * 65536.0).toInt}%05x")
    // chained CASE on the (few) group names — a literal decision table in
    // the row projection; %05x keeps rate=1.0 (0x10000) above every digest
    val thr = rates.foldLeft(hex(defaultRate)) { case (acc, (g, r)) =>
      F.when(groupCol === g, hex(r)).otherwise(acc)
    }
    // %05x threshold keeps rate 1.0 (0x10000) above every digest, so a
    // rate-1.0 group keeps ALL rows — consistent with hashSample's
    // short-circuit, including null keys (empty-string treatment)
    df.filter(F.concat(F.lit("0"),
      F.substring(F.md5(F.concat(F.lit(salt), keyStr(key))), 1, 4)) < thr)
  }

  /** Assign every row to exactly one named split (train/val/test) by
    * content hash — the deterministic sibling of a random split: the same
    * document lands in the same split across runs, repartitionings, engine
    * versions, and incremental re-ingests (a re-crawled page can never leak
    * from train into test). Same md5-prefix decision space as
    * [[hashSample]]: split k owns the hex interval
    * [cum(w_1..w_{k-1}), cum(w_1..w_k)) of the first 4 digest digits; the
    * LAST split absorbs the rounding remainder so the intervals tile the
    * space exactly. Pure codegen'd projection — no shuffle, no state.
    *
    * @param weights ordered (name, fraction) list; fractions must be
    *                positive and sum to 1 (±1e-9)
    */
  def splitAssign(df: DataFrame, key: Column, weights: Seq[(String, Double)],
                  salt: String = ""): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (n, w) =>
      require(w > 0.0, s"split '$n' must have positive weight, got $w") }
    val total = weights.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"weights must sum to 1, got $total")
    // %05x bounds + '0'-prefixed digest (the hashSampleByGroup scheme): a
    // cumulative weight within ~1/131072 of 1.0 rounds to 0x10000, which as
    // 4 chars ('10000') would sort BELOW most 4-char digests and silently
    // shift ~15/16 of rows into later splits
    val hex = F.concat(F.lit("0"),
      F.substring(F.md5(F.concat(F.lit(salt), keyStr(key))), 1, 4))
    // cumulative upper bounds in the 16-bit space; chained CASE over them
    val bounds = weights.init.scanLeft(0.0) { case (acc, (_, w)) => acc + w }
      .tail.map(c => f"${math.round(c * 65536.0).toInt}%05x")
    val assigned = weights.init.zip(bounds).foldRight(
      F.lit(weights.last._1): Column) { case (((name, _), b), els) =>
      F.when(hex < F.lit(b), F.lit(name)).otherwise(els)
    }
    df.withColumn("split", assigned)
  }

  /** Token-budget mixture planning (the Pile/Dolma recipe math): given
    * target mixture `weights` per source and a total token `budget`,
    * compute per source what the pipeline should DO — the sampling `rate`
    * (≤ 1, downsample) or `epochs` (> 1, repeat) that realizes the target
    * share. Sources absent from `weights` default to weight 1.0; weights
    * normalize over the sources actually PRESENT, so a dropped source's
    * share redistributes instead of silently vanishing. Feed the rates to
    * [[hashSample]]/[[upsampleByGroup]] for the execution half.
    *
    * Scale shape: one projection (token count per row) + one
    * groupBy(source) that partial-aggregates map-side to #sources rows;
    * the weight normalizer is a window sum over that tiny relation. The
    * corpus crosses the wire as #sources pre-combined rows — nothing
    * else shuffles. `rate`/`epochs` round to 6 (float-neutrality). */
  def mixturePlan(df: DataFrame, sourceCol: String, textCol: String,
                  weights: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    weights.foreach { case (n, w) =>
      require(w >= 0.0, s"source '$n' weight must be >= 0, got $w") }
    val w = weights.foldRight(F.lit(1.0): Column) { case ((name, wt), els) =>
      F.when(F.col(sourceCol) === name, F.lit(wt)).otherwise(els)
    }
    val perSource = df
      .select(F.col(sourceCol),
        F.size(F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
          t => F.length(t) > 0)).as("__nt"))
      .groupBy(sourceCol).agg(
        F.count(F.lit(1)).as("n_docs"), F.sum("__nt").as("tokens"))
      .withColumn("__w", w)
    val all = Window.partitionBy()
    val target = F.col("__w") / F.sum("__w").over(all) * budget
    perSource.select(F.col(sourceCol), F.col("n_docs"), F.col("tokens"),
        F.round(F.least(F.lit(1.0), target / F.col("tokens")), 6).as("rate"),
        F.round(target / F.col("tokens"), 6).as("epochs"))
  }

  /** Cap each group at `maxPerGroup` rows, chosen deterministically by
    * content hash (per-domain caps: no single crawl domain may dominate the
    * corpus). The rank-filter idiom compiles to Spark's WindowGroupLimit,
    * which takes a partial top-`maxPerGroup` per map task BEFORE the
    * group shuffle — so a group with 10M rows ships only
    * O(partitions · cap) of them, and the hot-domain skew a naive
    * `groupBy(domain)` would hit never materializes.
    *
    * The hash and the key text order rows, but two rows with BYTE-IDENTICAL
    * keys tie on both — pass `tieBreak` (a unique id) when the input may
    * hold exact duplicates, or which of them survives is partition-order
    * dependent (count is still exact either way).
    */
  def capPerGroup(df: DataFrame, groupCol: Column, key: Column, maxPerGroup: Int,
                  salt: String = "", tieBreak: Seq[Column] = Nil): DataFrame = {
    require(maxPerGroup > 0, s"maxPerGroup must be positive, got $maxPerGroup")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      // content-hash order, id-free by default: stable under repartitioning
      // and re-keying
      .orderBy(F.md5(F.concat(F.lit(salt), keyStr(key))) +: keyStr(key) +: tieBreak: _*)
    df.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") <= maxPerGroup)
      .drop("__rk")
  }

  /** Deterministic fractional up/down-sampling — the epoch-weight mixing
    * step of a training run ("books × 2.3 epochs, crawl × 0.4"). Each row
    * is emitted `floor(factor)` times, plus once more when its md5-prefix
    * uniform falls below `frac(factor)` — so factor 2.3 yields 2 copies
    * always and a 3rd for 30% of rows; factor 0.4 keeps 40% (pure
    * downsample, consistent with [[hashSample]]'s decision style); factor
    * 0 drops the row. Output repeats the input row with a 0-based `rep`
    * column (derive fresh ids from (id, rep) downstream).
    *
    * The extra-copy decision comes from the row's content hash, not a
    * counter: stable under repartitioning, re-runs, and engines (the
    * oracle replays it). Expected copies = factor exactly; the uniform has
    * 1/65536 granularity (the hashSample trade).
    *
    * Scale shape: a pure projection + explode — zero shuffle, zero state;
    * output size is factor × input map-side. A factor ≫ 1 multiplies rows
    * inside each task; repartition AFTER if downstream needs even splits. */
  def upsample(df: DataFrame, key: Column, factor: Column,
               salt: String = ""): DataFrame = {
    val f = factor.cast("double")
    // 4-hex md5 prefix as a uniform in [0,1) — the hashSample decision,
    // scaled instead of compared to a precomputed literal (the factor may
    // be a per-row column here)
    val u = F.conv(F.substring(F.md5(F.concat(F.lit(salt), keyStr(key))), 1, 4),
      16, 10).cast("double") / 65536.0d
    val reps = F.floor(f).cast("long") +
      F.when(u < f - F.floor(f), 1L).otherwise(0L)
    df.withColumn("__n", reps)
      .filter(F.col("__n") > 0)
      .withColumn("rep", F.explode(F.sequence(F.lit(0L), F.col("__n") - 1)))
      .drop("__n")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): item i draws a uniform
    * u_i and gets key u_i^(1/w_i); the n largest keys are an exact
    * weight-proportional without-replacement draw. Here u is md5-derived
    * (the [[hashSample]] convention — deterministic, content-keyed,
    * partition-order-independent, engine-replayable), and the rank key is
    * ln(u)/w, monotone in u^(1/w), so one transcendental per row instead
    * of two and no near-1.0 precision collapse for large weights.
    *
    * u = (first 52 md5 bits + 0.5) / 2^52 — strictly inside (0,1), so
    * ln(u) is finite; the integer-to-double conversion and the division
    * are exact/correctly-rounded IEEE in any engine. Ties (impossible
    * barring md5 collision) break on the digest itself, so no id column
    * is required. Rows with weight ≤ 0 are excluded: a zero weight means
    * "never sample" (u^(1/0) is ill-defined, the limit is selection
    * probability 0), and a negative weight would flip the key's sign and
    * always win — both are data errors this op refuses to reward.
    *
    * Plan shape at 100 TB: a codegen'd filter + TakeOrderedAndProject —
    * a bounded per-partition top-n heap and one bounded merge; the corpus
    * is scanned once and never shuffled. This is the deterministic
    * replacement for `df.sample` when examples carry importance weights
    * (quality scores, DSIR log-weights exp'd, per-domain multipliers).
    *
    * @param key    content key deciding u — the text, not an assigned id
    * @param weight relative selection weight, > 0
    * @param n      sample size (global, exact)
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column, n: Int,
                     salt: String = ""): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val h = F.md5(F.concat(F.lit(salt), keyStr(key)))
    val u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 0.5d) /
      4503599627370496.0d // 2^52
    val w = weight.cast("double")
    df.filter(w > 0.0d)
      .orderBy((F.log(u) / w).desc, h.asc)
      .limit(n)
  }

  /** Per-group quantile ESTIMATES from a deterministic content-hash row
    * sample — the scale path past exact `percentile` (which buffers every
    * group's values): only the md5-prefix sample (the [[hashSample]]
    * convention — reproducible, partition-order-free, engine-replayable)
    * crosses the one window shuffle, so a 100 TB column costs a scan plus
    * a sample-sized sort per group. Quantile i = the
    * `max(1, floor(q·n))`-th smallest sample value — an integer rank
    * selection, NO interpolation (the [[Scale.rangeShardAssign]] rule:
    * interpolation formulas disagree across engines in last-ulp IEEE
    * order; ranks cannot). Ties among equal values cannot change the
    * selected VALUE, so no tie-break column is needed.
    *
    * Returns (groupCols…, q, value, n_sample); a group with an empty
    * sample is absent — widen `samplePrefix` (the default keeps ~10%).
    *
    * @param sampleKey row-identity column deciding sample membership (an
    *                  id or the content), NOT the value column — sampling
    *                  by value-hash would take all-or-none of equal values
    */
  def sampleQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      sampleKey: Column, qs: Seq[Double],
                      samplePrefix: String = "199a"): DataFrame = {
    require(qs.nonEmpty, "sampleQuantiles needs at least one quantile")
    qs.foreach(q => require(q > 0.0 && q <= 1.0, s"quantiles must be in (0,1], got $q"))
    val s = df
      .filter(F.substring(F.md5(keyStr(sampleKey)), 1, 4) < samplePrefix)
      .select((groupCols :+ valueCol).map(F.col): _*)
    val pw = Window.partitionBy(groupCols.map(F.col): _*)
    s.withColumn("__rn", F.row_number().over(pw.orderBy(F.col(valueCol))))
      .withColumn("__n", F.count(F.lit(1)).over(pw))
      .withColumn("q", F.explode(F.array(qs.map(F.lit): _*)))
      .filter(F.col("__rn") === F.greatest(F.lit(1L), F.floor(F.col("q") * F.col("__n"))))
      .select(groupCols.map(F.col) :+ F.col("q") :+
        F.col(valueCol).as("value") :+ F.col("__n").as("n_sample"): _*)
  }

  /** Neyman (minimum-variance) sample-budget allocation across strata:
    * for a fixed total budget, the variance-optimal share of stratum h is
    * `n_h = budget · N_h·s_h / Σ_g N_g·s_g` — big AND noisy strata get
    * the samples; constant strata (s = 0) get none. The planning step
    * upstream of [[hashSampleByGroup]]: feed the returned per-stratum
    * `rate` straight into its rate map.
    *
    * ONE sufficient-statistics pass (n, Σx, Σxx per stratum — the
    * [[graft.ops.Stats.olsFit]] shape); s is the closed-form sample
    * stddev (sqrt is IEEE-correctly-rounded, engine-replayable). The
    * Σ N·s normalizer is a window over the tiny aggregated table. The
    * allocation is `round(budget·w/Σw)` capped at the stratum size —
    * rounding may make the total drift a row or two from `budget`
    * (largest-remainder repair needs a global sort for ±1 row; not worth
    * it at corpus scale). All-degenerate inputs (every s = 0) yield NULL
    * allocations via nullif rather than a fabricated uniform split.
    *
    * @return (strataCols…, n_rows, mean, sd, alloc, rate) — 6-dp rounded
    */
  def neymanAllocation(df: DataFrame, strataCols: Seq[String],
                       value: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val v = value.cast("double")
    val agg = df.groupBy(strataCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).cast("double").as("__n"),
        F.sum(v).as("__s"), F.sum(v * v).as("__ss"))
    val sd = F.when(F.col("__n") >= 2.0, F.sqrt(F.greatest(F.lit(0.0),
      (F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")) /
        (F.col("__n") - 1.0)))).otherwise(F.lit(0.0))
    val weighted = agg.withColumn("__w", F.col("__n") * sd)
    val tot = Window.partitionBy() // global window over the tiny stats table
    weighted
      .withColumn("__tw", F.sum("__w").over(tot))
      .select(strataCols.map(F.col) :+
        F.col("__n").cast("long").as("n_rows") :+
        F.round(F.col("__s") / F.col("__n"), 6).as("mean") :+
        F.round(sd, 6).as("sd") :+
        F.least(F.col("__n"),
          F.round(F.lit(budget.toDouble) * F.col("__w") /
            F.nullif(F.col("__tw"), F.lit(0.0)), 0))
          .cast("long").as("alloc"): _*)
      .withColumn("rate", F.round(
        F.col("alloc").cast("double") / F.col("n_rows"), 6))
  }

  /** [[upsample]] with per-group factors — the corpus-mixture epoch table
    * as a literal CASE decision in the projection (the [[hashSampleByGroup]]
    * idiom; groups absent from `factors` get `defaultFactor`). */
  def upsampleByGroup(df: DataFrame, groupCol: Column, key: Column,
                      factors: Map[String, Double], defaultFactor: Double = 1.0,
                      salt: String = ""): DataFrame = {
    (factors.values.toSeq :+ defaultFactor).foreach(fc =>
      require(fc >= 0.0, s"factors must be non-negative, got $fc"))
    val f = factors.foldLeft(F.lit(defaultFactor): Column) { case (acc, (g, fc)) =>
      F.when(groupCol === g, F.lit(fc)).otherwise(acc)
    }
    upsample(df, key, f, salt)
  }

  /** Balanced downsampling: cap EVERY class at the smallest class's count,
    * keeping each class's deterministically-hashed top rows — the standard
    * class-rebalance before training a classifier on skewed labels. Unlike
    * [[capPerGroup]]'s fixed cap, the target is data-dependent (the min
    * class count rides in as a 1-row broadcast).
    *
    * Selection is content-deterministic (md5 of the key, key tie-break),
    * so reruns and engines agree row-for-row. One class-keyed window.
    *
    * @return the kept rows (idCol, classCol), class sizes now all equal
    */
  def balancedDownsample(df: DataFrame, classCol: Column, key: Column,
                         salt: String = ""): DataFrame = {
    val counts = df.groupBy(classCol.as("__cls"))
      .agg(F.count(F.lit(1)).as("__n"))
    val minN = counts.agg(F.min("__n").as("__minN"))
    val w = Window.partitionBy(classCol)
      .orderBy(F.md5(F.concat(F.lit(salt), keyStr(key))).asc, key.asc)
    df.withColumn("__rk", F.row_number().over(w))
      .crossJoin(F.broadcast(minN))
      .filter(F.col("__rk") <= F.col("__minN"))
      .drop("__rk", "__minN")
  }

  /** Systematic probability-proportional-to-size (πps) sampling: lay the
    * items' sizes end to end in deterministic id order, then take one
    * item at every threshold `(i + 0.5)·(W/n)` — each item's inclusion
    * probability is exactly proportional to its size with ZERO variance
    * in the sample count, the survey-sampling classic for "pick n shards
    * weighted by bytes". An item larger than the step wins multiple
    * picks (reported once per pick, as πps prescribes).
    *
    * Scale shape: one keyed size scan + a cumulative window in id order
    * (single-partition over the ITEM table — bounded when items are
    * shards/sources/buckets, the intended granularity), thresholds ride
    * as a literal array explode.
    *
    * @return (pick, idCol, size, cum_hi) ordered by pick
    */
  def ppsSystematic(df: DataFrame, idCol: String, sizeCol: Column,
                    n: Int): DataFrame = {
    require(n >= 1, s"need >= 1 picks, got $n")
    val base = df.select(F.col(idCol), sizeCol.cast("long").as("size"))
      .filter(F.col("size") > 0)
    val w = Window.orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.withColumn("cum_hi", F.sum("size").over(w))
    val tot = base.agg(F.sum("size").as("__w"))
    val picks = F.array((0 until n).map(i => F.lit(i + 0.5)): _*)
    cum.crossJoin(F.broadcast(tot))
      .withColumn("__p", F.explode(picks))
      .withColumn("__t", F.col("__p") * (F.col("__w") / F.lit(n.toDouble)))
      .filter(F.col("cum_hi") - F.col("size") < F.col("__t") &&
        F.col("__t") <= F.col("cum_hi"))
      .select((F.col("__p") - 0.5).cast("int").as("pick"),
        F.col(idCol), F.col("size"), F.col("cum_hi"))
      .orderBy("pick")
  }

  /** Temperature-reweighted sampling plan (the multilingual mixing rule of
    * XLM-R / mBERT: `q_g ∝ p_g^α`, α ∈ (0, 1]): flatten a skewed group
    * distribution so head groups stop drowning the tail without sampling
    * the tail to noise. α = 1 keeps natural proportions; α → 0 approaches
    * uniform. Reports each group's natural share `p`, reweighted share
    * `q`, and the up/down-sampling `factor = q/p` to feed
    * [[upsampleByGroup]].
    *
    * `p^α` runs as `exp(α·ln p)` rounded to 9 dp — the explicit primitive
    * chain both engines replay identically, rather than `pow` whose
    * rounding is engine-specific. Scale shape: one map-side count
    * collapse to ≤ groups rows; the normalization sum is a window over
    * that bounded table.
    *
    * @return (group, n, p, q, factor) — 6-dp, ordered by group
    */
  def temperatureMix(df: DataFrame, groupCol: Column,
                     alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val counts = df.groupBy(groupCol.as("group"))
      .agg(F.count(F.lit(1)).as("n"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("p", F.col("n").cast("double") / F.sum("n").over(wAll))
      .withColumn("__qn", F.round(F.exp(F.lit(alpha) * F.log(F.col("p"))), 9))
      .withColumn("q", F.col("__qn") / F.sum("__qn").over(wAll))
      .select(F.col("group"), F.col("n"), F.round(F.col("p"), 6).as("p"),
        F.round(F.col("q"), 6).as("q"),
        F.round(F.col("q") / F.col("p"), 6).as("factor"))
      .orderBy("group")
  }

  /** Water-filling mixture allocation under availability caps — the
    * CONSTRAINED companion to [[temperatureMix]]: spread a token
    * budget as EQUALLY as possible across sources, except a source can
    * never give more than it has:
    * {{{
    *   a_i = min(cap_i, θ),  θ chosen so Σ a_i = min(budget, Σ cap)
    * }}}
    * (the max-min-fair / reverse-Zipf allocation: small sources are
    * taken whole, the budget remainder levels across the rest). The
    * closed form walks the cap ladder ascending: after the j−1
    * smallest caps saturate, θ_j = (budget − cum_{j−1}) / (k−j+1); the
    * first j with θ_j ≤ cap_(j) is the water level.
    *
    * Determinism: caps are exact long sums; θ is one IEEE division of
    * exact longs per ladder row; the pick is a min over the bounded
    * source ladder. budget ≥ Σ cap degenerates to alloc = cap (every
    * source binding, water_level = NULL).
    *
    * Scale shape: one map-side-combined (source, Σweight) collapse,
    * then ladder windows over the BOUNDED source list.
    *
    * @param budgetFrac budget as a fraction of total available
    *        (budget = floor(frac · Σ cap) — engine-replayable)
    * @return per source: (group, cap, alloc, binding, water_level,
    *         budget) — 6-dp
    */
  def waterfillAllocation(df: DataFrame, groupCol: Column,
                          weight: Column,
                          budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0.0, s"budgetFrac must be positive: $budgetFrac")
    val caps = df.groupBy(groupCol.as("group"))
      .agg(F.sum(weight.cast("long")).as("cap"))
    val wAll = Window.partitionBy()
    val byCap = Window.orderBy(F.col("cap").asc, F.col("group").asc)
    val lad = caps
      .withColumn("__total", F.sum("cap").over(wAll))
      .withColumn("__k", F.count(F.lit(1)).over(wAll))
      .withColumn("__budget",
        F.floor(F.lit(budgetFrac) * F.col("__total").cast("double")))
      .withColumn("__j", F.row_number().over(byCap))
      .withColumn("__cum", F.sum("cap").over(
        byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__theta",
        (F.col("__budget") - (F.col("__cum") - F.col("cap")))
          .cast("double") /
          (F.col("__k") - F.col("__j") + 1L).cast("double"))
    val level = lad
      .filter(F.col("__theta") <= F.col("cap").cast("double"))
      .agg(F.min(F.struct(F.col("__j"), F.col("__theta"))).as("__s"))
      .select(F.col("__s.__theta").as("__level"))
    lad.crossJoin(F.broadcast(level))
      .select(F.col("group"), F.col("cap"),
        F.round(F.when(F.col("__budget") >= F.col("__total"),
            F.col("cap").cast("double"))
          .otherwise(F.least(F.col("cap").cast("double"),
            F.col("__level"))), 6).as("alloc"),
        (F.col("__budget") >= F.col("__total") ||
          F.col("cap").cast("double") <= F.col("__level"))
          .as("binding"),
        F.when(F.col("__budget") < F.col("__total"),
          F.round(F.col("__level"), 6)).as("water_level"),
        F.col("__budget").as("budget"))
      .orderBy("group")
  }

  /** GREEDY MAX-COVERAGE source selection (the submodular data-selection
    * primitive): pick sources one at a time, each round taking the source
    * that covers the most not-yet-covered mass of the corpus's top-V
    * vocabulary —
    * {{{
    *   gain(s | S) = Σ { corpusCount(t) : t ∈ top-V, t ∈ s, t ∉ cover(S) }
    * }}}
    * The "which K sources buy the most vocabulary" curriculum/budget
    * decision, with the classic greedy (1 − 1/e) coverage guarantee.
    * Rounds stop early when no remaining source adds mass — fewer than k
    * rows is a signal, not an error.
    *
    * Scale shape: ONE corpus pass. The token explode collapses map-side
    * to the (source, token) count cells, materialized once with
    * `localCheckpoint`; the vocab census (TakeOrdered top-V by (count
    * desc, token asc) — the x464 pick rule) and the (source, vocab-token)
    * presence filter, driven by the collected top-V list, both read that
    * checkpoint. The presence collect takes at most 2^20 + 1 rows and
    * fails loudly past the cap, so the driver never holds more than the
    * cap plus one. The inherently sequential greedy then runs
    * DRIVER-LOCAL on that ≤ sources×V table (the kCenter/bradleyTerry
    * bounded-solve convention) and returns literals. Ties break on the
    * smaller source name; every pick is engine-replayable.
    *
    * @return per round: (round, source, gain_mass, covered_mass,
    *         covered_share 6-dp) ordered by round
    */
  def greedyCoverage(docs: DataFrame, sourceCol: String, textCol: String,
                     k: Int = 5, vocabSize: Int = 64): DataFrame = {
    require(k >= 1 && k <= 64, s"k out of range: $k")
    require(vocabSize >= 1 && vocabSize <= 4096,
      s"vocabSize out of range: $vocabSize")
    val spark = docs.sparkSession
    val cells = docs.filter(F.col(sourceCol).isNotNull)
      .select(F.col(sourceCol).cast("string").as("__src"),
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
            "\\s+"), x => F.length(x) > 0)).as("__tok"))
      .groupBy("__src", "__tok").agg(F.count(F.lit(1)).as("__c"))
      .localCheckpoint()
    val vocab = cells.groupBy("__tok").agg(F.sum("__c").as("__c"))
      .orderBy(F.col("__c").desc, F.col("__tok").asc).limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val maxCells = 1 << 20
    val sv = cells.filter(F.col("__tok").isin(vocab.map(_._1): _*))
      .select("__src", "__tok").limit(maxCells + 1).collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(sv.length <= maxCells,
      s"greedyCoverage: ${sv.length} (source, token) presence cells " +
        "exceed the 2^20 driver-local cap — the source alphabet is not " +
        "bounded; this op is for bounded source sets, not entity keys")
    val bySrc: Map[String, Set[String]] =
      sv.groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSet }
    val mass = vocab.toMap
    val totalMass = vocab.map(_._2).sum
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    var covered = Set.empty[String]
    var cum = 0L
    var remaining = bySrc.keySet.toList.sorted
    val out = scala.collection.mutable.ListBuffer.empty[Row]
    var round = 1
    var done = false
    while (round <= k && !done) {
      val gains = remaining
        .map(s => s -> bySrc(s).diff(covered).iterator.map(mass).sum)
        .filter(_._2 > 0L)
      if (gains.isEmpty) done = true
      else {
        val (pick, g) = gains.minBy { case (s, gg) => (-gg, s) }
        covered = covered ++ bySrc(pick)
        cum += g
        out += Row(round.toLong, pick, g, cum,
          graft.ops.EventOps.ChainMath.r6(
            cum.toDouble / totalMass.toDouble))
        remaining = remaining.filterNot(_ == pick)
        round += 1
      }
    }
    graft.ops.EventOps.ChainMath.literal(spark, out.toSeq, StructType(Seq(
        StructField("round", LongType, nullable = true),
        StructField("source", StringType, nullable = true),
        StructField("gain_mass", LongType, nullable = true),
        StructField("covered_mass", LongType, nullable = true),
        StructField("covered_share", DoubleType, nullable = true))))
      .orderBy("round")
  }
}
