package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Data-contract checks — the censuses run BEFORE a 100-TB pipeline
  * trusts its joins and keys. Both ops reduce the corpus to key-level
  * sufficient statistics map-side (one groupBy each); nothing wider than
  * a key ever shuffles, and each answer is one row of exact longs plus
  * IEEE shares — cheap enough to gate every ingest.
  */
object Quality {

  /** Referential-integrity census of a fact→dimension foreign key: how
    * much of the fact table would an inner join silently DROP, and how
    * much of the dimension is dead weight:
    * {{{
    *   orphan_share    = n_orphan / n_fact       (fact rows whose fk
    *                                              matches no pk)
    *   childless_share = n_childless / n_dim     (pk values no fact row
    *                                              references)
    * }}}
    * NULL foreign keys are counted separately (`n_null_fk`) — they are a
    * different defect (missing linkage) from a dangling value (broken
    * linkage), and lumping them together hides which one is growing.
    * The dimension is censused at the DISTINCT-pk level: duplicate pk
    * rows collapse to one key (`n_dim` counts keys, not rows) — whether
    * the pk is actually unique is [[keyUniqueness]]'s question, and
    * answering it here would conflate two defects in one readout.
    * `max_fanout` (the largest per-key fact multiplicity among MATCHED
    * keys) is the join-explosion early warning: a fact⋈dim row count is
    * bounded by it times n_dim.
    *
    * Determinism: every count an exact long off one fk-level collapse
    * and one pk anti-probe; shares one IEEE division each, 6-dp.
    *
    * Scale shape: the fact table collapses to (fk, count) map-side
    * before anything shuffles; the dimension's distinct pk set joins
    * key-to-key (broadcast-able when the dimension is small). No row
    * wider than a key + a long moves.
    *
    * @return one row (n_fact, n_null_fk, n_orphan, orphan_share, n_dim,
    *         n_childless, childless_share, max_fanout)
    */
  def referentialIntegrity(fact: DataFrame, fkCol: String,
                           dim: DataFrame, pkCol: String): DataFrame = {
    val f = fact.select(F.col(fkCol).as("__fk"))
      .groupBy("__fk").agg(F.count(F.lit(1)).as("__c"))
    val d = dim.select(F.col(pkCol).as("__pk")).distinct()
    // fk-side: NULL fk joins nothing by SQL semantics, so split the
    // unmatched mass into "fk is NULL" vs "fk dangles"
    val j = f.join(d, f("__fk") === d("__pk"), "left_outer")
    // coalesce every sum: an EMPTY fact table must census as zeros (one
    // row of exact longs, shares NULL via the 0-denominator nullif), not
    // as NULL counts — ingest gates diff these rows mechanically
    val factSide = j.agg(
      F.coalesce(F.sum("__c"), F.lit(0L)).as("n_fact"),
      F.coalesce(F.sum(F.when(F.col("__fk").isNull, F.col("__c"))),
        F.lit(0L)).as("n_null_fk"),
      F.coalesce(F.sum(F.when(F.col("__pk").isNull &&
        F.col("__fk").isNotNull, F.col("__c"))), F.lit(0L)).as("n_orphan"),
      F.coalesce(F.max(F.when(F.col("__pk").isNotNull, F.col("__c"))),
        F.lit(0L)).as("max_fanout"))
    val dimSide = d.join(f.select(F.col("__fk")), d("__pk") === f("__fk"),
        "left_outer")
      .agg(F.count(F.lit(1)).as("n_dim"),
        F.coalesce(F.sum(F.when(F.col("__fk").isNull, 1L)), F.lit(0L))
          .as("n_childless"))
    factSide.crossJoin(F.broadcast(dimSide))
      .select(F.col("n_fact"), F.col("n_null_fk"), F.col("n_orphan"),
        F.round(F.col("n_orphan").cast("double") /
          F.nullif(F.col("n_fact").cast("double"), F.lit(0.0)), 6)
          .as("orphan_share"),
        F.col("n_dim"), F.col("n_childless"),
        F.round(F.col("n_childless").cast("double") /
          F.nullif(F.col("n_dim").cast("double"), F.lit(0.0)), 6)
          .as("childless_share"),
        F.col("max_fanout"))
  }

  /** One-pass column profile — per claimed-important column: row count,
    * NULL census, exact distinct count, and the typed min/max rendered
    * as strings. The first look at any new table ("is this column even
    * populated, how wide is its domain, did the date range move") and
    * the regression baseline a scheduled ingest diffs against.
    *
    * ONE scan: all columns' aggregates ride a single global aggregation
    * (Spark plans multiple COUNT(DISTINCT) via Expand — rows × n_cols
    * map-side, partial-aggregated; equivalent work to one pass per
    * column but the input is read once), then the 1-row result unpivots
    * to a row per column. min/max are computed on the TYPED column and
    * cast to string afterwards, so numeric columns order numerically,
    * not lexicographically.
    *
    * Determinism: exact longs; null_share one 6-dp IEEE division;
    * min/max exact values. Callers comparing min/max across engines
    * should profile string/integer/date columns (floating-point
    * rendering differs across engines).
    *
    * @return one row per column (column, n_rows, n_null, null_share,
    *         n_distinct, min_value, max_value) ordered by column
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        F.coalesce(F.sum(F.when(F.col(c).isNull, 1L)), F.lit(0L))
          .as(s"__null_$c"),
        F.countDistinct(F.col(c)).as(s"__nd_$c"),
        F.min(F.col(c)).cast("string").as(s"__min_$c"),
        F.max(F.col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(F.count(F.lit(1)).as("__n"), aggs: _*)
    val perCol = cols.map { c =>
      F.struct(F.lit(c).as("column"), F.col("__n").as("n_rows"),
        F.col(s"__null_$c").as("n_null"),
        F.round(F.col(s"__null_$c").cast("double") /
          F.nullif(F.col("__n").cast("double"), F.lit(0.0)), 6)
          .as("null_share"),
        F.col(s"__nd_$c").as("n_distinct"),
        F.col(s"__min_$c").as("min_value"),
        F.col(s"__max_$c").as("max_value"))
    }
    one.select(F.explode(F.array(perCol: _*)).as("__p"))
      .select(F.col("__p.column").as("column"), F.col("__p.n_rows").as("n_rows"),
        F.col("__p.n_null").as("n_null"),
        F.col("__p.null_share").as("null_share"),
        F.col("__p.n_distinct").as("n_distinct"),
        F.col("__p.min_value").as("min_value"),
        F.col("__p.max_value").as("max_value"))
      .orderBy("column")
  }

  /** Semi-structured JSON key profile — the [[columnProfile]] of a JSON
    * string column (the side-car metadata every crawled corpus
    * carries): per top-level key, how often it appears, its distinct
    * value count, and the lexicographic min/max of its STRING rendering
    * (JSON scalars render as their token text: `{"k": 69}` → "69" —
    * identical on both engines):
    * {{{ present_share = n_present / n_rows }}}
    * The "what schema does this JSON actually have" first look before
    * anyone writes an extraction path. Rows whose value is not a JSON
    * object (including MALFORMED JSON — `json_object_keys` yields NULL
    * and the explode drops the row; `n_rows` still counts it in the
    * `present_share` denominator) contribute no keys; callers needing
    * malformed rows surfaced rather than skipped should gate on a
    * validity census first. Nested objects profile at the TOP level
    * (the value of a nested key is its JSON text). Keys containing
    * JSONPath metacharacters (`$ . [ ] ' "` or a backslash) cannot be
    * round-tripped through `get_json_object`'s path syntax — such a
    * key RAISES at action time naming the offender (the repo's
    * reject-loudly convention; the silent alternative extracts NULLs
    * and corrupts n_distinct/min/max for that key).
    *
    * Determinism: exact longs; one 6-dp IEEE share; string min/max
    * (lexicographic on BOTH engines — numeric keys wanting numeric
    * order belong in [[columnProfile]] after extraction).
    *
    * Scale shape: one explode of the per-row key list + a key-level
    * collapse (map-side combined); the 1-row total rides a broadcast.
    * The metacharacter guard is a per-exploded-key codegen'd rlike —
    * no extra pass, no extra shuffle.
    *
    * @return per key (key, n_present, present_share, n_distinct,
    *         min_value, max_value) ordered by key; the value readouts
    *         are `get_json_object('$.key')` extractions — token text
    *         of scalars, JSON text of nested values
    */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    val tot = df.agg(F.count(F.lit(1)).as("__n"))
    // keys that would inject into the '$.key' JSONPath extract NULLs
    // silently — reject loudly instead, naming the offending key
    val meta = "[\\$.\\[\\]'\"\\\\]"
    val kv = df
      .select(F.col(jsonCol).as("__j"),
        F.explode(F.json_object_keys(F.col(jsonCol))).as("__k0"))
      .withColumn("__k",
        F.when(F.col("__k0").rlike(meta), F.raise_error(F.concat(
          F.lit("jsonKeyProfile: key contains JSONPath metacharacters" +
            " ($ . [ ] ' \" \\) and cannot be profiled: "),
          F.col("__k0")))).otherwise(F.col("__k0")))
      // non-literal JSONPath: GetJsonObject accepts an expression path
      // (no codegen path cache — profiling cost, not a hot loop)
      .withColumn("__v",
        F.expr("get_json_object(__j, concat('$.', __k))"))
    kv.groupBy(F.col("__k").as("key"))
      .agg(F.count(F.lit(1)).as("n_present"),
        F.countDistinct("__v").as("n_distinct"),
        F.min("__v").as("min_value"), F.max("__v").as("max_value"))
      .crossJoin(F.broadcast(tot))
      .select(F.col("key"), F.col("n_present"),
        F.round(F.col("n_present").cast("double") /
          F.nullif(F.col("__n").cast("double"), F.lit(0.0)), 6)
          .as("present_share"),
        F.col("n_distinct"), F.col("min_value"), F.col("max_value"))
      .orderBy("key")
  }

  /** Key-uniqueness census of a CLAIMED (possibly composite) key: does
    * "keyed by X" actually hold, and by how much it fails:
    * {{{
    *   excess_share = (n_rows − n_keys) / n_rows   (rows an exact
    *                                                key-dedup would drop)
    * }}}
    * `max_multiplicity` names the worst offender's row count — the
    * number every downstream "join on this key" multiplies by. NULLs in
    * key columns group as values (two all-NULL keys collide), matching
    * GROUP BY semantics — a claimed key with NULLs is already a defect
    * the census should surface, not skip.
    *
    * Determinism: exact longs off one key-level collapse; one 6-dp IEEE
    * share.
    *
    * Scale shape: one map-side-combined groupBy on the key; the rollup
    * to one row is partial-aggregated. Nothing but key + count shuffles.
    *
    * @return one row (n_rows, n_keys, n_dup_keys, dup_rows,
    *         max_multiplicity, excess_share)
    */
  def keyUniqueness(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyUniqueness needs at least one key column")
    val per = df.groupBy(keyCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    // coalesced so an EMPTY table censuses as zeros (excess_share NULL
    // via the 0-denominator nullif), mirroring referentialIntegrity
    per.agg(
        F.coalesce(F.sum("__c"), F.lit(0L)).as("n_rows"),
        F.count(F.lit(1)).as("n_keys"),
        F.coalesce(F.sum(F.when(F.col("__c") > 1L, 1L)), F.lit(0L))
          .as("n_dup_keys"),
        F.coalesce(F.sum(F.when(F.col("__c") > 1L, F.col("__c"))),
          F.lit(0L)).as("dup_rows"),
        F.coalesce(F.max("__c"), F.lit(0L)).as("max_multiplicity"))
      .select(F.col("n_rows"), F.col("n_keys"), F.col("n_dup_keys"),
        F.col("dup_rows"), F.col("max_multiplicity"),
        F.round((F.col("n_rows") - F.col("n_keys")).cast("double") /
          F.nullif(F.col("n_rows").cast("double"), F.lit(0.0)), 6)
          .as("excess_share"))
  }

  /** Declarative expectation census — the data-contract runner (the
    * dbt-tests / Great Expectations shape): each rule is a NAME plus a
    * per-row boolean predicate that must hold (`not_null`, `in_range`,
    * `rlike`, any cross-column invariant) plus the violation share the
    * contract tolerates. One readout row per rule:
    * {{{
    *   violation := NOT coalesce(predicate, false)   (NULL = violation —
    *                                                  an unevaluable
    *                                                  contract is a
    *                                                  broken contract)
    *   pass      := round6(violation_share) <= max_share
    * }}}
    * Row-INDEPENDENT contracts (uniqueness, referential integrity) are
    * deliberately out of scope — [[keyUniqueness]] and
    * [[referentialIntegrity]] already census those; this op is the
    * arbitrary-per-row-invariant runner next to them.
    *
    * Determinism: exact longs off one aggregation; one 6-dp IEEE share
    * per rule; the pass verdict compares the ROUNDED share against the
    * literal threshold, so both engines decide on the same value. An
    * EMPTY table censuses as zeros with a NULL share and PASSES every
    * rule (vacuous truth — "no rows" is [[columnProfile]]'s finding,
    * not a contract violation).
    *
    * Scale shape: ONE scan — every rule's violation count rides a
    * single global aggregation (codegen'd CASE sums, partial-aggregated
    * map-side), then the 1-row result unpivots to a row per rule, the
    * [[columnProfile]] pattern. Rule count is driver metadata.
    *
    * @param rules (rule_name, must-hold predicate, max_violation_share)
    * @return one row per rule (rule, n_rows, n_violations,
    *         violation_share, max_share, pass) ordered by rule
    */
  def expectationCensus(df: DataFrame,
                        rules: Seq[(String, org.apache.spark.sql.Column,
                          Double)]): DataFrame = {
    require(rules.nonEmpty, "expectationCensus needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "expectationCensus: duplicate rule names")
    rules.foreach { case (n, _, s) =>
      require(s >= 0.0 && s <= 1.0,
        s"max_violation_share for '$n' must be in [0,1], got $s") }
    val aggs = rules.map { case (n, pred, _) =>
      F.coalesce(F.sum(F.when(!F.coalesce(pred, F.lit(false)), 1L)),
        F.lit(0L)).as(s"__v_$n")
    }
    val one = df.agg(F.count(F.lit(1)).as("__n"), aggs: _*)
    val per = rules.map { case (n, _, maxShare) =>
      val share = F.round(F.col(s"__v_$n").cast("double") /
        F.nullif(F.col("__n").cast("double"), F.lit(0.0)), 6)
      F.struct(F.lit(n).as("rule"), F.col("__n").as("n_rows"),
        F.col(s"__v_$n").as("n_violations"),
        share.as("violation_share"), F.lit(maxShare).as("max_share"),
        F.coalesce(share <= F.lit(maxShare), F.lit(true)).as("pass"))
    }
    one.select(F.explode(F.array(per: _*)).as("__r")).select("__r.*")
      .orderBy("rule")
  }

  /** Snapshot-to-snapshot drift census — the scheduled-ingest diff that
    * answers "did yesterday's table and today's table still describe
    * the same data?" in one readout: schema drift (columns added /
    * removed / type-changed), NULL-rate drift per shared column, and
    * Population Stability Index per caller-named numeric column:
    * {{{
    *   PSI = Σ_bins (p_a − p_b) · ln(p_a / p_b)
    * }}}
    * over `bins` equal-width bins fixed by snapshot A's [min, max]
    * (B values outside A's range clamp into the edge bins — mass
    * LEAVING the old range is exactly what the edge bins should light
    * up on). Shares are Laplace-smoothed ((cnt+1)/(n+bins)) so empty
    * bins stay finite. The conventional read: PSI < 0.1 stable,
    * 0.1-0.25 drifting, > 0.25 shifted.
    *
    * Schema status comes from the DRIVER-side schemas (metadata, not
    * data). Added/removed columns carry NULL stats — their census
    * belongs to [[columnProfile]] on the owning snapshot. A drift
    * column all-NULL (or absent) in A bins nothing, so its PSI reads
    * against the uniform smoothed baseline — documented, not hidden.
    *
    * Determinism: all counts exact longs; bin index = floor((x−mn)/w)
    * with w = (mx−mn)/bins — single IEEE ops replayed identically by
    * any engine; PSI terms rounded 9-dp then summed and rounded 6-dp
    * (the [[Graph.partitionQuality]] association-order rule); min/max
    * are exact (never summed). A constant column (w = 0) puts all mass
    * in bin 0 → PSI 0 unless B moves off the constant.
    *
    * Scale shape: per snapshot, ONE null-census scan (all shared
    * columns ride a single aggregation, unpivoted like
    * [[columnProfile]]) and ONE bin-count scan (rows × n_drift_cols
    * map-side explode, collapsed to cols × bins rows before the
    * shuffle); A pays one extra 1-row bounds aggregation that rides a
    * broadcast. Nothing wider than (column, bin, count) moves; driver
    * state is the schema metadata only.
    *
    * @param driftCols numeric columns (present and same-typed in BOTH
    *                  snapshots — enforced) to PSI-bin
    * @return one row per column in either schema: (column, status,
    *         type_a, type_b, n_a, n_b, null_share_a, null_share_b,
    *         null_share_delta, psi) ordered by column; psi NULL for
    *         non-drift columns
    */
  def snapshotDrift(a: DataFrame, b: DataFrame, driftCols: Seq[String],
                    bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val ta = a.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val tb = b.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    driftCols.foreach { c =>
      require(ta.contains(c) && tb.contains(c) && ta(c) == tb(c),
        s"snapshotDrift: drift column '$c' must exist with one type in " +
          s"both snapshots (a=${ta.get(c)}, b=${tb.get(c)})")
    }
    val spark = a.sparkSession
    import spark.implicits._
    val allCols = (a.schema.fieldNames ++ b.schema.fieldNames)
      .distinct.sorted.toSeq
    val schemaRows = allCols.map { c =>
      val status = (ta.get(c), tb.get(c)) match {
        case (Some(x), Some(y)) if x == y => "both"
        case (Some(_), Some(_)) => "type_changed"
        case (Some(_), None) => "removed"
        case (None, Some(_)) => "added"
      }
      (c, status, ta.get(c).orNull, tb.get(c).orNull)
    }.toDF("column", "status", "type_a", "type_b")
    val shared = allCols.filter(c => ta.contains(c) && tb.contains(c))
    def nullCensus(df: DataFrame, tag: String): DataFrame = {
      val aggs = shared.map(c =>
        F.coalesce(F.sum(F.when(F.col(c).isNull, 1L)), F.lit(0L))
          .as(s"__nn_$c"))
      val one = df.agg(F.count(F.lit(1)).as("__n"), aggs: _*)
      val per = shared.map(c => F.struct(F.lit(c).as("column"),
        F.col("__n").as(s"n_$tag"),
        F.round(F.col(s"__nn_$c").cast("double") /
          F.nullif(F.col("__n").cast("double"), F.lit(0.0)), 6)
          .as(s"null_share_$tag")))
      one.select(F.explode(F.array(per: _*)).as("__s")).select("__s.*")
    }
    val boundAggs = driftCols.flatMap(c => Seq(
      F.min(F.col(c).cast("double")).as(s"__mn_$c"),
      F.max(F.col(c).cast("double")).as(s"__mx_$c")))
    val bounds = a.agg(boundAggs.head, boundAggs.tail: _*)
    def binCounts(df: DataFrame, tag: String): DataFrame = {
      val structs = driftCols.map { c =>
        val x = F.col(c).cast("double")
        val mn = F.col(s"__mn_$c"); val mx = F.col(s"__mx_$c")
        val w = (mx - mn) / F.lit(bins.toDouble)
        val idx = F.when(x.isNull || mn.isNull, F.lit(null).cast("int"))
          .when(w === 0.0, F.lit(0))
          .otherwise(F.least(F.greatest(F.floor((x - mn) / w), F.lit(0L)),
            F.lit((bins - 1).toLong)).cast("int"))
        F.struct(F.lit(c).as("column"), idx.as("bin"))
      }
      df.crossJoin(F.broadcast(bounds))
        .select(F.explode(F.array(structs: _*)).as("__s"))
        .select("__s.*")
        .filter(F.col("bin").isNotNull)
        .groupBy("column", "bin")
        .agg(F.count(F.lit(1)).as(s"__c_$tag"))
    }
    val grid = driftCols.flatMap(c => (0 until bins).map(i => (c, i)))
      .toDF("column", "bin")
    val binned = grid
      .join(binCounts(a, "a"), Seq("column", "bin"), "left_outer")
      .join(binCounts(b, "b"), Seq("column", "bin"), "left_outer")
      .select(F.col("column"),
        F.coalesce(F.col("__c_a"), F.lit(0L)).as("__ca"),
        F.coalesce(F.col("__c_b"), F.lit(0L)).as("__cb"))
    val totals = binned.groupBy("column")
      .agg(F.sum("__ca").as("__na"), F.sum("__cb").as("__nb"))
    val binsD = F.lit(bins.toDouble)
    val psi = binned.join(totals, "column")
      .select(F.col("column"),
        ((F.col("__ca").cast("double") + F.lit(1.0)) /
          (F.col("__na").cast("double") + binsD)).as("__pa"),
        ((F.col("__cb").cast("double") + F.lit(1.0)) /
          (F.col("__nb").cast("double") + binsD)).as("__pb"))
      .select(F.col("column"), F.round((F.col("__pa") - F.col("__pb")) *
        F.log(F.col("__pa") / F.col("__pb")), 9).as("__t"))
      .groupBy("column").agg(F.round(F.sum("__t"), 6).as("psi"))
    schemaRows
      .join(nullCensus(a, "a"), Seq("column"), "left_outer")
      .join(nullCensus(b, "b"), Seq("column"), "left_outer")
      .join(psi, Seq("column"), "left_outer")
      .select(F.col("column"), F.col("status"), F.col("type_a"),
        F.col("type_b"), F.col("n_a"), F.col("n_b"),
        F.col("null_share_a"), F.col("null_share_b"),
        F.round(F.col("null_share_b") - F.col("null_share_a"), 6)
          .as("null_share_delta"),
        F.col("psi"))
      .orderBy("column")
  }

  /** FUNCTIONAL-DEPENDENCY audit — does `lhs → rhs` actually hold in
    * the data? For each candidate FD, one row: group count over the
    * lhs, how many groups carry more than one distinct rhs value (the
    * violations), the violation share, the worst group's rhs
    * cardinality, and how many rows sit inside violating groups (the
    * blast radius a repair would touch). The data-profiling classic
    * (TANE-style single-FD checks) that [[keyUniqueness]] is the
    * degenerate rhs-free case of: candidate keys, denormalization
    * sanity ("is region really determined by nation?"), and silent
    * join-fanout causes all surface here.
    *
    * NULL rhs values are ignored by the distinct count (both engines'
    * COUNT(DISTINCT) semantics) — an all-NULL group reads 0 distinct,
    * never violating.
    *
    * Scale shape: per FD one map-side-combined groupBy(lhs) +
    * count_distinct(rhs) collapse, then a 1-row rollup — the minimal
    * plan for the semantics; candidate FDs are independent scans AQE
    * can reuse when they share the lhs.
    *
    * @return per FD: (lhs, rhs, n_rows, n_groups, n_violating,
    *         violation_share 6-dp, max_distinct_rhs, rows_in_violating)
    */
  /** INCLUSION-DEPENDENCY audit — the FK-DISCOVERY sibling of
    * [[fdAudit]] and the measured form of [[referentialIntegrity]]'s
    * pass/fail: what share of `a`'s distinct values appear in `b`?
    * {{{ inclusion = |distinct(a) ∩ distinct(b)| / |distinct(a)| }}}
    * inclusion = 1 marks (a ⊆ b) — a foreign-key candidate; the
    * labeled one-row outputs union into a profiling report (the
    * SPIDER/Bellman single-pair check). NULLs are ignored on both
    * sides (a NULL never references anything).
    *
    * Scale shape: one tagged union-aggregate over both key columns
    * ([[inclusionAggregates]]), all counts exact; nothing quadratic.
    *
    * @return one row: (a_col, b_col, n_a_distinct, n_b_distinct,
    *         n_shared, inclusion 6-dp (NULL when a is empty),
    *         fk_candidate)
    */
  def inclusionAudit(a: DataFrame, aCol: String, b: DataFrame,
                     bCol: String, aLabel: String = null,
                     bLabel: String = null): DataFrame =
    inclusionAuditAll(Seq((a, aCol, b, bCol, aLabel, bLabel)))

  /** Batched [[inclusionAudit]]: one row per candidate, in input order.
    * A candidate that repeats an earlier one, or REVERSES it (the FK
    * census always asks both directions), is served from the same
    * aggregate — see [[inclusionAggregates]]. */
  def inclusionAuditAll(
      candidates: Seq[(DataFrame, String, DataFrame, String,
        String, String)]): DataFrame = {
    require(candidates.nonEmpty, "inclusionAuditAll: need >= 1 candidate")
    val aggs = inclusionAggregates(candidates.map(c => (c._1, c._2, c._3, c._4)))
    candidates.zip(aggs).map { case ((_, aCol, _, bCol, aLabel, bLabel), (agg, reversed)) =>
      val la = Option(aLabel).getOrElse(aCol)
      val lb = Option(bLabel).getOrElse(bCol)
      val (na, nb) = if (reversed) ("__nb", "__na") else ("__na", "__nb")
      agg.select(F.lit(la).as("a_col"), F.lit(lb).as("b_col"),
        F.col(na).as("n_a_distinct"), F.col(nb).as("n_b_distinct"),
        F.col("__nx").as("n_shared"),
        F.round(F.col("__nx").cast("double") /
          F.nullif(F.col(na).cast("double"), F.lit(0.0)), 6)
          .as("inclusion"),
        (F.col("__nx") === F.col(na) &&
          F.col(na) > 0L).as("fk_candidate"))
    }.reduce(_ unionByName _)
  }

  /** The shared shape behind [[inclusionAuditAll]] and
    * [[Stats.inclusionProfile]]: per candidate (a, aCol, b, bCol), a
    * 1-row frame of `__na` = |distinct(a)|, `__nb` = |distinct(b)| and
    * `__nx` = |intersection| (NULLs ignored on both sides), and whether
    * the caller must read it REVERSED (`__nb` is its own lhs count).
    *
    * r19 shape (guide §2 two-phase aggregation): both sides' non-null
    * keys union with presence tags, ONE map-side-combined
    * groupBy(value) collapse, then a 1-row rollup reads all three counts
    * together — one shuffle and zero eager actions per side pair.
    * A candidate that repeats or reverses an earlier one reuses its
    * aggregate: the intersection is symmetric and both distinct counts
    * are in the rollup. Dataset does not override equals, so the memo
    * compares sides by REFERENCE — exactly the "same DataFrame object
    * passed twice" shape the census entries use.
    */
  private[ops] def inclusionAggregates(
      candidates: Seq[(DataFrame, String, DataFrame, String)]
  ): Seq[(DataFrame, Boolean)] = {
    val memo = scala.collection.mutable.Map
      .empty[Seq[(DataFrame, String)], DataFrame]
    candidates.map { case (a, aCol, b, bCol) =>
      val fwdKey = Seq((a, aCol), (b, bCol))
      memo.get(fwdKey).map(_ -> false)
        .orElse(memo.get(fwdKey.reverse).map(_ -> true))
        .getOrElse {
          // keys stay in their NATIVE type when both sides already agree —
          // the string cast exists only to make mismatched-type pairs
          // joinable, and casting is injective, so distinct counts and the
          // intersection are identical either way; on a 6M-row lineitem
          // key the long→string cast + string hashing was the dominant
          // cost (r18: x226 11.4 s task, mostly the two lineitem
          // distincts). FLOAT/DOUBLE keys always take the string image:
          // native grouping normalizes -0.0 to 0.0 and collapses NaNs
          // where the string image keeps them distinct (advisor r18)
          val sameType = a.schema(aCol).dataType == b.schema(bCol).dataType &&
            !Set[org.apache.spark.sql.types.DataType](
              org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType)
              .contains(a.schema(aCol).dataType)
          def key(df: DataFrame, c: String): org.apache.spark.sql.Column =
            if (sameType) df(c) else df(c).cast("string")
          def tagged(df: DataFrame, c: String, tagA: Int): DataFrame =
            df.filter(F.col(c).isNotNull)
              .select(key(df, c).as("__v"), F.lit(tagA).as("__ia"),
                F.lit(1 - tagA).as("__ib"))
          val m = tagged(a, aCol, 1).unionAll(tagged(b, bCol, 0))
            .groupBy("__v")
            .agg(F.max("__ia").as("__ia"), F.max("__ib").as("__ib"))
            .agg(F.coalesce(F.sum("__ia"), F.lit(0L)).as("__na"),
              F.coalesce(F.sum("__ib"), F.lit(0L)).as("__nb"),
              F.coalesce(F.sum(F.col("__ia") * F.col("__ib")), F.lit(0L))
                .as("__nx"))
          memo(fwdKey) = m
          (m, false)
        }
    }
  }

  def fdAudit(df: DataFrame, fds: Seq[(Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty, "fdAudit: at least one candidate FD required")
    val parts = fds.map { case (lhs, rhs) =>
      require(lhs.nonEmpty, "fdAudit: empty lhs")
      val g = df.groupBy(lhs.map(F.col): _*)
        .agg(F.count(F.lit(1)).as("__n"),
          F.count_distinct(F.col(rhs)).as("__d"))
      g.agg(
        F.sum("__n").as("n_rows"),
        F.count(F.lit(1)).as("n_groups"),
        F.sum(F.when(F.col("__d") > 1L, 1L).otherwise(0L))
          .as("n_violating"),
        F.max("__d").as("max_distinct_rhs"),
        F.sum(F.when(F.col("__d") > 1L, F.col("__n")).otherwise(0L))
          .as("rows_in_violating"))
        .select(F.lit(lhs.mkString(",")).as("lhs"), F.lit(rhs).as("rhs"),
          F.col("n_rows"), F.col("n_groups"), F.col("n_violating"),
          F.round(F.col("n_violating").cast("double") /
            F.col("n_groups").cast("double"), 6).as("violation_share"),
          F.col("max_distinct_rhs"), F.col("rows_in_violating"))
    }
    parts.reduce(_ unionByName _).orderBy("lhs", "rhs")
  }
}
