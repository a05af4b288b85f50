package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType,
  StructField, StructType}
import scala.jdk.CollectionConverters._

/** Batch analytics over the `events` table (event_id, ts, user_id,
  * event_type, value, props). The `ts` column's physical type has CHANGED
  * across testdata generations — int64 ns (read as LONG under
  * `nanosAsLong`) through round 8, native µs TIMESTAMP_NTZ from round 9 —
  * so every consumer goes through the type-adaptive [[tsUs]]/[[tsStamp]]
  * helpers instead of assuming one encoding. Epoch math is done at µs
  * resolution in ALL cases (SURVEY §1: the oracle engines are µs-native).
  *
  * Scale notes: the hourly rollup is a single hash-shuffle on
  * (hour, event_type) with map-side partial aggregation; sessionization
  * shuffles once on user_id (the window partition) — both are the minimal
  * shuffle plans for their semantics.
  */
object EventOps {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Epoch-µs LONG view of `df`'s `ts` column, whatever its storage type.
    * Long branch uses integer `div` — `/` would round through double at
    * 1e18 ns magnitudes. NTZ casts through session-tz timestamp; every
    * graft session pins spark.sql.session.timeZone=UTC, which makes the
    * wall-clock→epoch reading identical to DuckDB's `epoch_us(naive_ts)`. */
  def tsUs(df: DataFrame, col: String = "ts"): Column =
    df.schema(col).dataType match {
      case LongType => F.call_function("div", F.col(col), F.lit(1000L))
      case TimestampNTZType => F.unix_micros(F.col(col).cast(TimestampType))
      case TimestampType => F.unix_micros(F.col(col))
      case t => throw new IllegalArgumentException(
        s"events.$col: expected ns-long or timestamp, got ${t.simpleString}")
    }

  /** Timestamp-typed view of `ts` (µs truncation for the ns-long case —
    * SURVEY §1 accepted delta). */
  def tsStamp(df: DataFrame, col: String = "ts"): Column =
    df.schema(col).dataType match {
      case LongType =>
        F.timestamp_micros(F.call_function("div", F.col(col), F.lit(1000L)))
      case TimestampNTZType | TimestampType => F.col(col).cast(TimestampType)
      case t => throw new IllegalArgumentException(
        s"events.$col: expected ns-long or timestamp, got ${t.simpleString}")
    }

  /** Tumbling hourly rollup per event_type. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withColumn("hour", F.date_format(tsStamp(events), "yyyy-MM-dd HH"))
      .groupBy("hour", "event_type")
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("total_value"))

  /** Gap-based sessionization: a new session starts when the user's
    * inter-event gap exceeds `gapMinutes`. Pure window composition:
    * flag = gap > threshold, session_seq = running sum of flags. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(F.col("ts").asc)
    // gap test at µs resolution (ns→µs truncation first), matching the µs-
    // native engines the oracle runs on — a raw-ns compare could place a
    // session boundary differently when timestamps carry sub-µs components
    val gapUs = gapMinutes.toLong * 60L * 1000L * 1000L
    val usCol = tsUs(events)
    val prev = F.lag(usCol, 1).over(byUser)
    val newSession = F.when(prev.isNull || (usCol - prev) > gapUs, 1L).otherwise(0L)
    events
      .withColumn("__new", newSession)
      .withColumn("session_seq",
        F.sum(F.col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Per-session stats on top of [[sessionize]]. Duration is computed at µs
    * resolution (ns→µs truncation first) so it is bit-identical to engines
    * that are µs-native, e.g. the DuckDB oracle's epoch_us (SURVEY §1). */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionize(events, gapMinutes)
    sessions
      .withColumn("__us", tsUs(sessions))
      .groupBy("user_id", "session_seq")
      .agg(
        F.count(F.lit(1)).as("n_events"),
        F.min("__us").as("start_us"),
        F.max("__us").as("end_us"),
        F.sum("value").as("total_value"))
      .withColumn("duration_sec",
        ((F.col("end_us") - F.col("start_us")) / 1000000L).cast("double"))
      .drop("start_us", "end_us")
  }

  /** Session entry/exit census on top of [[sessionize]] — which event
    * types open and close sessions, and how many sessions BOUNCE (one
    * event) per (entry, exit) pair: the landing/exit-page analytics
    * staple. First/last events come from two rank windows over the SAME
    * (user, session) partitioning sessionize already shuffled on (ties
    * at equal µs break on event_id for a total order); the census
    * partial-aggregates on ≤ |types|² keys.
    *
    * @return (entry_type, exit_type, n_sessions, n_bounces)
    */
  def entryExitCensus(events: DataFrame, gapMinutes: Int = 30,
                      tieCol: String = "event_id"): DataFrame = {
    val s = sessionize(events, gapMinutes)
    val us = tsUs(s)
    val part = Window.partitionBy("user_id", "session_seq")
    val asc = part.orderBy(us.asc, F.col(tieCol).asc)
    val desc = part.orderBy(us.desc, F.col(tieCol).desc)
    s.withColumn("__rn1", F.row_number().over(asc))
      .withColumn("__rnN", F.row_number().over(desc))
      .withColumn("__n", F.count(F.lit(1)).over(part))
      .filter(F.col("__rn1") === 1 || F.col("__rnN") === 1)
      .groupBy("user_id", "session_seq")
      .agg(
        F.min(F.when(F.col("__rn1") === 1, F.col("event_type"))).as("entry_type"),
        F.min(F.when(F.col("__rnN") === 1, F.col("event_type"))).as("exit_type"),
        F.max("__n").as("__sz"))
      .groupBy("entry_type", "exit_type")
      .agg(F.count(F.lit(1)).as("n_sessions"),
        F.sum(F.when(F.col("__sz") === 1L, 1L).otherwise(0L)).as("n_bounces"))
  }

  /** Ordered-funnel reach: how many users performed `steps` IN ORDER —
    * step k counts users with an event of type `steps(k)` STRICTLY after
    * their earliest qualifying step-(k−1) event (the classic
    * first-touch funnel; same-µs ties do not advance).
    *
    * Plan shape: per step, one equi-join of the step's events onto the
    * previous step's (user, t) frontier and one min-aggregation — every
    * stage keyed on the user column, so the hash partitioning from the
    * first groupBy is REUSED by each subsequent join and aggregation (no
    * re-shuffle of the event stream, which at 100 TB dwarfs the per-user
    * frontier). The per-step 1-row counts union into ONE job; no driver
    * loop over steps' results.
    *
    * @return (step, event_type, n_users) — one row per funnel stage
    */
  def funnelReach(events: DataFrame, steps: Seq[String],
                  userCol: String = "user_id"): DataFrame = {
    require(steps.nonEmpty, "funnelReach needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    val es = events.select(F.col(userCol).as("__u"),
      F.col("event_type").as("__et"), tsUs(events).as("__tu"))
    var frontier: DataFrame = null
    val perStep = steps.zipWithIndex.map { case (st, i) =>
      frontier =
        if (i == 0)
          es.filter(F.col("__et") === st)
            .groupBy("__u").agg(F.min("__tu").as("__t"))
        else
          es.filter(F.col("__et") === st)
            .join(frontier.select(F.col("__u"), F.col("__t").as("__tprev")), "__u")
            .filter(F.col("__tu") > F.col("__tprev"))
            .groupBy("__u").agg(F.min("__tu").as("__t"))
      frontier.agg(F.count(F.lit(1)).as("n_users"))
        .select(F.lit(i + 1).as("step"), F.lit(st).as("event_type"),
          F.col("n_users"))
    }
    perStep.reduce(_ unionAll _)
  }

  /** [[funnelReach]] with a conversion DEADLINE: step k counts only when
    * it lands strictly after the previous frontier AND within `withinUs`
    * of it — "purchased within 24 h of clicking", the form product
    * funnels are actually quoted in. Same per-step frontier-join shape,
    * one extra integer µs predicate in each join filter.
    *
    * @return (step, event_type, n_users)
    */
  def funnelReachWithin(events: DataFrame, steps: Seq[String],
                        withinUs: Long,
                        userCol: String = "user_id"): DataFrame = {
    require(steps.nonEmpty, "funnelReachWithin needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(withinUs > 0L, s"withinUs must be positive, got $withinUs")
    val es = events.select(F.col(userCol).as("__u"),
      F.col("event_type").as("__et"), tsUs(events).as("__tu"))
    var frontier: DataFrame = null
    val perStep = steps.zipWithIndex.map { case (st, i) =>
      frontier =
        if (i == 0)
          es.filter(F.col("__et") === st)
            .groupBy("__u").agg(F.min("__tu").as("__t"))
        else
          es.filter(F.col("__et") === st)
            .join(frontier.select(F.col("__u"), F.col("__t").as("__tprev")), "__u")
            .filter(F.col("__tu") > F.col("__tprev") &&
              F.col("__tu") - F.col("__tprev") <= withinUs)
            .groupBy("__u").agg(F.min("__tu").as("__t"))
      frontier.agg(F.count(F.lit(1)).as("n_users"))
        .select(F.lit(i + 1).as("step"), F.lit(st).as("event_type"),
          F.col("n_users"))
    }
    perStep.reduce(_ unionAll _)
  }

  /** Step-to-step conversion LATENCY quantiles for a strict first-touch
    * funnel — "how long from view to purchase?" alongside
    * [[funnelReach]]'s "how many?". Frontier times per user come from the
    * same per-step min-aggregation chain as funnelReach (every stage
    * keyed on user); the step-i latency is the µs gap between consecutive
    * frontier times for users who converted. Quantiles are INTEGER RANK
    * SELECTIONS `max(1, ⌊q·n⌋)` in (latency, user) order — the
    * [[robustOutliers]]/[[Sampling.sampleQuantiles]] rule, no
    * interpolation to disagree on cross-engine — over one window keyed by
    * step (all step-pairs union into the same shuffle).
    *
    * @return (step, from_type, to_type, q, latency_us, n_users) — step i
    *         covers steps(i-1) → steps(i), only converting users counted
    */
  def funnelLatency(events: DataFrame, steps: Seq[String],
                    qs: Seq[Double] = Seq(0.5, 0.9),
                    userCol: String = "user_id"): DataFrame = {
    require(steps.size >= 2, "funnelLatency needs at least two steps")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    qs.foreach(q => require(q > 0.0 && q <= 1.0,
      s"quantiles must be in (0,1], got $q"))
    val es = events.select(F.col(userCol).as("__u"),
      F.col("event_type").as("__et"), tsUs(events).as("__tu"))
    var frontier: DataFrame = null
    val lats = steps.zipWithIndex.map { case (st, i) =>
      val prev = frontier
      frontier =
        if (i == 0)
          es.filter(F.col("__et") === st)
            .groupBy("__u").agg(F.min("__tu").as("__t"))
        else
          es.filter(F.col("__et") === st)
            .join(prev.select(F.col("__u"), F.col("__t").as("__tprev")), "__u")
            .filter(F.col("__tu") > F.col("__tprev"))
            .groupBy("__u").agg(F.min("__tu").as("__t"))
      if (i == 0) null
      else frontier
        .join(prev.select(F.col("__u"), F.col("__t").as("__tprev")), "__u")
        .select(F.lit(i).as("step"), F.lit(steps(i - 1)).as("from_type"),
          F.lit(st).as("to_type"), F.col("__u"),
          (F.col("__t") - F.col("__tprev")).as("__lat"))
    }.drop(1)
    val all = lats.reduce(_ unionAll _)
    val w = Window.partitionBy("step")
    val ranked = all
      .withColumn("__rn", F.row_number().over(
        w.orderBy(F.col("__lat").asc, F.col("__u").asc)))
      .withColumn("__n", F.count(F.lit(1)).over(w))
    ranked
      .withColumn("q", F.explode(F.array(qs.map(F.lit): _*)))
      .filter(F.col("__rn") === F.greatest(F.lit(1L),
        F.floor(F.col("q") * F.col("__n"))))
      .select(F.col("step"), F.col("from_type"), F.col("to_type"),
        F.col("q"), F.col("__lat").as("latency_us"),
        F.col("__n").as("n_users"))
  }

  /** Directional association rules over item BASKETS (market-basket /
    * behavioral co-occurrence mining): for every ordered item pair a→b
    * with joint basket count ≥ `minCount`,
    * `support = n_ab/N`, `confidence = n_ab/n_a`, `lift = conf/(n_b/N)`.
    *
    * Baskets collapse to distinct (basket, item) first; the pair join is
    * WITHIN-basket (fan-out bounded by items-per-basket², never
    * corpus-quadratic — the [[graft.ops.TextOps.sliceJaccard]] argument);
    * item counts and the 1-row basket total ride broadcasts. Integer
    * counts, three rounded divisions.
    *
    * @return (antecedent, consequent, n_ab, support, confidence, lift)
    */
  def assocRules(baskets: DataFrame, basketCol: String, itemCol: String,
                 minCount: Int = 1): DataFrame = {
    val bi = baskets
      .select(F.col(basketCol).as("__b"), F.col(itemCol).as("__i"))
      .distinct()
    val itemCounts = bi.groupBy(F.col("__i")).agg(F.count(F.lit(1)).as("__ni"))
    val total = bi.select(F.countDistinct("__b").as("__nb"))
    val pairs = bi.select(F.col("__b"), F.col("__i").as("antecedent"))
      .join(bi.select(F.col("__b"), F.col("__i").as("consequent")), "__b")
      .filter(F.col("antecedent") =!= F.col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(F.count(F.lit(1)).as("n_ab"))
      .filter(F.col("n_ab") >= minCount)
    pairs
      .join(F.broadcast(itemCounts.select(F.col("__i").as("antecedent"),
        F.col("__ni").as("__na"))), "antecedent")
      .join(F.broadcast(itemCounts.select(F.col("__i").as("consequent"),
        F.col("__ni").as("__nc"))), "consequent")
      .crossJoin(F.broadcast(total))
      .select(F.col("antecedent"), F.col("consequent"), F.col("n_ab"),
        F.round(F.col("n_ab").cast("double") / F.col("__nb"), 6).as("support"),
        F.round(F.col("n_ab").cast("double") / F.col("__na"), 6)
          .as("confidence"),
        F.round(F.col("n_ab").cast("double") * F.col("__nb").cast("double") /
          (F.col("__na").cast("double") * F.col("__nc").cast("double")), 6)
          .as("lift"))
  }

  /** Last-touch attribution: for every conversion event, which event type
    * was the user's most recent PRECEDING non-conversion touch within
    * `windowUs` — the classic marketing-credit census. One user-keyed
    * window (the sessionize partitioning): `last(non-conv struct) IGNORE
    * NULLS` over rows-to-−1 gives each row its latest touch, conversions
    * filter, the window bound drops stale touches to 'direct'.
    *
    * @return (touch_type, n_conversions, share) — touch 'direct' when no
    *         in-window touch precedes the conversion
    */
  def lastTouchAttribution(events: DataFrame, convType: String,
                           windowUs: Long,
                           userCol: String = "user_id",
                           tieCol: String = "event_id"): DataFrame = {
    require(windowUs > 0L, s"windowUs must be positive, got $windowUs")
    val us = tsUs(events)
    val w = Window.partitionBy(userCol)
      .orderBy(us.asc, F.col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events
      .withColumn("__us", us)
      .withColumn("__touch", F.last(
        F.when(F.col("event_type") =!= convType,
          F.struct(F.col("__us").as("tus"),
            F.col("event_type").as("ttype"))),
        ignoreNulls = true).over(w))
    val convs = touched.filter(F.col("event_type") === convType)
      .select(F.when(F.col("__touch").isNotNull &&
          F.col("__us") - F.col("__touch.tus") <= windowUs,
          F.col("__touch.ttype"))
        .otherwise(F.lit("direct")).as("touch_type"))
    val counts = convs.groupBy("touch_type")
      .agg(F.count(F.lit(1)).as("n_conversions"))
    counts.withColumn("share", F.round(
      F.col("n_conversions").cast("double") /
        F.sum("n_conversions").over(Window.partitionBy()), 6))
  }

  /** RFM (recency / frequency / monetary) quartile scoring per user — the
    * classic customer-value segmentation. Per user one rollup (last event
    * µs, event count, 6-dp value total), then three `ntile(4)` windows
    * over the per-user table with total orders (metric, user) so every
    * bucket boundary is deterministic and engine-identical (SQL-standard
    * ntile: earlier buckets absorb the remainder, same rule in Spark and
    * DuckDB). Recency ranks DESCENDING (most recent = quartile 4 = best,
    * matching frequency/monetary where bigger is better);
    * `rfm = r·100 + f·10 + m`.
    *
    * The windows run over the per-user AGGREGATE (the q09 post-aggregate
    * rule), not the event stream; at true 100 TB user counts swap ntile
    * for [[graft.ops.Curation.rankBlend]]'s sampled boundaries.
    *
    * @return (user_id, last_us, n_events, total_value, r, f, m, rfm)
    */
  def rfmScores(events: DataFrame,
                userCol: String = "user_id"): DataFrame = {
    val us = tsUs(events)
    val per = events.groupBy(F.col(userCol))
      .agg(F.max(us).as("last_us"), F.count(F.lit(1)).as("n_events"),
        F.round(F.sum("value"), 6).as("total_value"))
    def q(order: Seq[Column]) = F.ntile(4).over(
      Window.orderBy(order :+ F.col(userCol).asc: _*))
    per
      .withColumn("r", q(Seq(F.col("last_us").asc)))
      .withColumn("f", q(Seq(F.col("n_events").asc)))
      .withColumn("m", q(Seq(F.col("total_value").asc)))
      .withColumn("rfm", F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
  }

  /** Seasonal z-score anomaly detection on hourly volumes: each (type,
    * date, hour) count is scored against the SAME-HOUR-OF-DAY baseline
    * (mean/sd across dates) — "is 3 a.m. Tuesday unusual *for 3 a.m.*?"
    * — the first-order seasonality correction a flat threshold lacks.
    *
    * Hourly counts are integers (one keyed rollup); baselines come from
    * the closed-form sufficient stats over the tiny counts table
    * ([[graft.ops.Stats.olsFit]] shape) and broadcast back; z is one
    * division, NULL (not NaN) when sd = 0 or a baseline has < 2 dates.
    *
    * @return (event_type, day, hour, n, mean, sd, z) — all hours, z 4-dp
    */
  def seasonalZ(events: DataFrame): DataFrame = {
    val stamp = tsStamp(events)
    val hourly = events
      .select(F.col("event_type"),
        F.date_format(stamp, "yyyy-MM-dd").as("day"),
        F.hour(stamp).as("hour"))
      .groupBy("event_type", "day", "hour")
      .agg(F.count(F.lit(1)).as("n"))
    val base = hourly.groupBy("event_type", "hour")
      .agg(F.count(F.lit(1)).cast("double").as("__d"),
        F.sum(F.col("n").cast("double")).as("__s"),
        F.sum(F.col("n").cast("double") * F.col("n").cast("double")).as("__ss"))
      .withColumn("mean", F.round(F.col("__s") / F.col("__d"), 6))
      .withColumn("sd", F.when(F.col("__d") >= 2.0, F.round(
        F.sqrt(F.greatest(F.lit(0.0),
          (F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__d")) /
            (F.col("__d") - 1.0))), 6)))
      .select("event_type", "hour", "mean", "sd")
    hourly
      .join(F.broadcast(base), Seq("event_type", "hour"))
      .withColumn("z", F.round(
        (F.col("n").cast("double") - F.col("mean")) /
          F.nullif(F.col("sd"), F.lit(0.0)), 4))
      .select("event_type", "day", "hour", "n", "mean", "sd", "z")
  }

  /** First-order event-type transition matrix: for each user's event
    * sequence (ordered by time, ties broken by `tieCol` for a total
    * order), count (prev_type → next_type) adjacencies and derive the
    * row-stochastic transition probability. The standard behavioral
    * summary a session-based recommender or anomaly detector trains on.
    *
    * Determinism: the ONLY per-row order dependence is the lag itself,
    * fixed by the (ts, tie) total order; counts are integers and the
    * probability is one division rounded to 6 dp. Scale shape: one window
    * shuffle on the user key (the same partitioning [[sessionize]] uses —
    * at 100 TB these compose into one exchange), then a partial-aggregated
    * rollup on ≤ |types|² keys.
    *
    * @return (prev_type, next_type, n, p) ordered rows
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       tieCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol)
      .orderBy(tsUs(events).asc, F.col(tieCol).asc)
    val typeTotals = Window.partitionBy("prev_type")
    events
      .withColumn("prev_type", F.lag(F.col("event_type"), 1).over(byUser))
      .filter(F.col("prev_type").isNotNull)
      .groupBy(F.col("prev_type"), F.col("event_type").as("next_type"))
      .agg(F.count(F.lit(1)).as("n"))
      .withColumn("p", F.round(
        F.col("n").cast("double") / F.sum("n").over(typeTotals), 6))
  }

  /** Entropy rate of the behavior Markov chain — HOW predictable is the
    * next action given the current one (the scalar readout of
    * [[transitionMatrix]]: 0 bits = deterministic flows, ln k = pure
    * noise; a drop between releases means a funnel got railroaded):
    * {{{
    *   H = −Σ_ij (n_ij/N)·ln(n_ij/n_i·)    (empirical π weighting)
    * }}}
    * Cell terms are bit-identical (two IEEE divisions of exact longs, a
    * 9-dp-rounded ln product); perplexity e^H is the "effective next-
    * action count", h_norm = H/ln k the 0–1 predictability scale.
    *
    * Scale shape: the [[transitionMatrix]] collapse (user-keyed lag,
    * k²-bounded cell table), then scalar algebra on the cells.
    *
    * @return one row (n_transitions, k_states, h_rate, h_norm,
    *         perplexity) — 6-dp; h_norm NULL when k = 1
    */
  def entropyRate(events: DataFrame, userCol: String = "user_id",
                  tieCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol)
      .orderBy(tsUs(events).asc, F.col(tieCol).asc)
    val cells = events
      .withColumn("prev_type", F.lag(F.col("event_type"), 1).over(byUser))
      .filter(F.col("prev_type").isNotNull)
      .groupBy(F.col("prev_type"), F.col("event_type").as("next_type"))
      .agg(F.count(F.lit(1)).as("__nij"))
    val rowTot = cells.groupBy("prev_type")
      .agg(F.sum("__nij").as("__ni"))
    val tot = cells.agg(F.sum("__nij").as("__N"))
    val terms = cells.join(F.broadcast(rowTot), Seq("prev_type"))
      .crossJoin(F.broadcast(tot))
      .withColumn("__t", F.round(
        F.col("__nij").cast("double") / F.col("__N").cast("double") *
          F.log(F.col("__nij").cast("double") /
            F.col("__ni").cast("double")), 9))
    val g = terms.agg(F.max("__N").as("n_transitions"),
      F.countDistinct("prev_type").as("k_states"),
      F.sum("__t").as("__st"))
    val h = -F.col("__st")
    g.select(F.col("n_transitions"), F.col("k_states"),
      F.round(h, 6).as("h_rate"),
      F.round(h / F.nullif(F.log(F.col("k_states").cast("double")),
        F.lit(0.0)), 6).as("h_norm"),
      F.round(F.exp(h), 6).as("perplexity"))
  }

  /** Stationary distribution of the behavior Markov chain — WHERE does
    * a user's session settle in the long run (the steady-state share of
    * each action, which raw frequencies only approximate when sessions
    * are short): π = πP by power iteration. The k²-bounded transition
    * matrix collapses distributed, then the iteration runs DRIVER-SIDE
    * on the collected matrix (the x241 bradleyTerry rule: chaining k
    * tiny rounds through DataFrame joins re-scans the corpus per round)
    * — π quantizes to 9 dp each round over sorted keys, so the whole
    * trajectory is engine-replayable.
    *
    * Scale shape: ONE corpus-scale collapse ([[transitionMatrix]]'s
    * user-keyed lag); the driver holds k² doubles and k·iters work.
    *
    * @return per state (state, pi, p_raw) ordered by state — 6-dp; pi
    *         the stationary share, p_raw the plain next-event share
    */
  def stationaryDist(events: DataFrame, iters: Int = 32,
                     userCol: String = "user_id",
                     tieCol: String = "event_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val byUser = Window.partitionBy(userCol)
      .orderBy(tsUs(events).asc, F.col(tieCol).asc)
    val cells = events
      .withColumn("prev_type", F.lag(F.col("event_type"), 1).over(byUser))
      .filter(F.col("prev_type").isNotNull)
      .groupBy(F.col("prev_type"), F.col("event_type").as("next_type"))
      .agg(F.count(F.lit(1)).as("__nij"))
      .collect()
    val rowTot = cells.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(2)).sum }
    val total = cells.map(_.getLong(2)).sum.toDouble
    // the chain runs over states seen as SOURCES (an absorbing terminal
    // next-only state has no outgoing row); transitions into unseen
    // sources redistribute by renormalization each round
    val states = rowTot.keys.toArray.sorted
    val p: Map[(String, String), Double] = cells.map { r =>
      (r.getString(0), r.getString(1)) ->
        r.getLong(2).toDouble / rowTot(r.getString(0)).toDouble
    }.toMap
    def r9(x: Double): Double = Similarity.round6HalfAway(x * 1000.0) / 1000.0
    var pi = states.map(_ => 1.0 / states.length)
    var it = 0
    while (it < iters) {
      val nxt = states.map { j =>
        var s = 0.0
        states.indices.foreach { i => // sorted-key order: deterministic
          s += pi(i) * p.getOrElse((states(i), j), 0.0)
        }
        s
      }
      val z = nxt.sum
      pi = nxt.map(v => r9(if (z > 0) v / z else 1.0 / states.length))
      it += 1
    }
    val rawTot = cells.groupBy(_.getString(1))
      .map { case (s, rs) => s -> rs.map(_.getLong(2)).sum }
    val spark0 = events.sparkSession
    import spark0.implicits._
    states.zip(pi).map { case (s, v) =>
      (s, Similarity.round6HalfAway(v),
        Similarity.round6HalfAway(rawTot.getOrElse(s, 0L).toDouble / total))
    }.toSeq.toDF("state", "pi", "p_raw").orderBy("state")
  }

  /** Active-session concurrency per hour: how many [[sessionize]]d
    * sessions overlap each hour bucket — the capacity/load timeline
    * (peak concurrent users) without a global ordered sweep. The classic
    * sweep-line (+1/−1 running sum) needs ONE totally-ordered pass — the
    * textbook non-distributable shape; binning instead explodes each
    * session onto the (bounded) hours it touches and counts per bucket,
    * the [[RangeJoin]] binned-interval idiom, fully parallel.
    *
    * Per-session fan-out is duration/hour + 1 — bounded for gap-based
    * sessions (a session outlives the gap only while events keep coming).
    * All integer µs arithmetic.
    *
    * @return (hour "yyyy-MM-dd HH", n_active) — sessions overlapping each
    *         hour with at least one event-time touch
    */
  def activeSessionsPerHour(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val HourUs = 3600L * 1000000L
    val s = sessionize(events, gapMinutes)
    val bounds = s
      .withColumn("__us", tsUs(s))
      .groupBy("user_id", "session_seq")
      .agg(F.min("__us").as("__s"), F.max("__us").as("__e"))
    bounds
      .select(F.explode(F.sequence(
        F.call_function("div", F.col("__s"), F.lit(HourUs)),
        F.call_function("div", F.col("__e"), F.lit(HourUs)))).as("__h"))
      .groupBy("__h").agg(F.count(F.lit(1)).as("n_active"))
      .select(F.date_format(F.timestamp_micros(F.col("__h") * HourUs),
        "yyyy-MM-dd HH").as("hour"), F.col("n_active"))
      .orderBy("hour")
  }

  /** Robust per-type outlier detection: score = (value − median) / IQR,
    * flagged at |score| ≥ `cut`. Median and quartiles are INTEGER rank
    * selections (lower quantile: the value at row_number
    * `max(1, ⌊q·n⌋)` in (value, tie) order) — no interpolation, no
    * mean/stddev float accumulation, so the statistic is deterministic
    * under any partition order and engine-replayable bit-for-bit; the
    * mean/σ z-score it replaces is BOTH order-sensitive in the sum and
    * breaker-of-robustness (one corrupt 1e30 reading inflates σ until
    * nothing is an outlier — median/IQR shrug it off).
    *
    * Scale shape: one window shuffle on the type key for ranks, a 3-row
    * per-type stats table broadcast back onto the stream. At 100 TB swap
    * the exact rank window for [[Sampling.sampleQuantiles]]' md5-sampled
    * ranks — same selection rule, sample-bounded.
    *
    * @return flagged rows (tieCol, typeCol, value, med, iqr, score)
    */
  def robustOutliers(events: DataFrame, typeCol: String = "event_type",
                     valueCol: String = "value", tieCol: String = "event_id",
                     cut: Double = 3.0): DataFrame = {
    val byType = Window.partitionBy(typeCol)
      .orderBy(F.col(valueCol).asc, F.col(tieCol).asc)
    val ranked = events
      .select(F.col(tieCol), F.col(typeCol), F.col(valueCol))
      .withColumn("__rn", F.row_number().over(byType))
      .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(typeCol)))
    // one window pass serves all three quantiles: keep the ≤3 selected
    // rows per type, pivot them into columns with conditional min
    def rk(q: Double) = F.greatest(F.lit(1L),
      F.floor(F.lit(q) * F.col("__n").cast("double")))
    def at(q: Double) =
      F.min(F.when(F.col("__rn") === rk(q), F.col(valueCol)))
    val stats = ranked
      .filter(F.col("__rn") === rk(0.25) || F.col("__rn") === rk(0.5) ||
        F.col("__rn") === rk(0.75))
      .groupBy(F.col(typeCol))
      .agg(at(0.5).as("med"), at(0.25).as("q1"), at(0.75).as("q3"))
      .withColumn("iqr", F.col("q3") - F.col("q1"))
      .select(typeCol, "med", "iqr")
    events.select(F.col(tieCol), F.col(typeCol), F.col(valueCol))
      .join(F.broadcast(stats), typeCol)
      // degenerate IQR=0 → NULL score (filtered), NOT NaN: Spark orders
      // NaN above every double, so abs(NaN) >= cut would PASS here while
      // a SQL oracle's nullif-division row drops — null behaves the same
      // in both engines
      .withColumn("score", F.round(
        (F.col(valueCol) - F.col("med")) /
          F.when(F.col("iqr") === 0.0, F.lit(null)).otherwise(F.col("iqr")),
        4))
      .filter(F.abs(F.col("score")) >= cut)
      .select(tieCol, typeCol, valueCol, "med", "iqr", "score")
  }

  /** Exponentially weighted moving average per key over an ordered series
    * — the metric-smoothing pass behind trend dashboards and drift
    * alarms. The classic recursion s_t = α·x_t + (1−α)·s_{t−1} is not a
    * windowable aggregate, but over a BOUNDED lookback it folds exactly:
    * collect the last `lookback` values in frame order and reduce with
    * the recursion seeded at the frame's first element — a per-row
    * higher-order fold, engine-replayable because both engines walk the
    * same list in the same order with the same IEEE ops (DuckDB's
    * `list_reduce` seeds at the first element, which is why the fold here
    * does too rather than folding from 0). Truncating at `lookback` drops
    * weight (1−α)^lookback ≈ e^{-α·lookback} — pick lookback ≥ 5/α for
    * <1% truncation error.
    *
    * One window shuffle on the series key; per-row state bounded by
    * `lookback`. Result rounded to 6 dp (the fold itself is unrounded —
    * its evaluation ORDER is deterministic, unlike a sum).
    *
    * @return (keyCols…, t, v, ewma) where t/v echo orderCol/value
    */
  def ewmaSmooth(df: DataFrame, keyCols: Seq[String], orderCol: Column,
                 value: Column, alpha: Double,
                 lookback: Int = 32): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(lookback >= 1 && lookback <= 1024,
      s"lookback must be in [1,1024], got $lookback")
    df.select(keyCols.map(F.col) :+ orderCol.as("t") :+
        value.cast("double").as("v"): _*)
      .withColumn("__l", F.collect_list("v").over(
        Window.partitionBy(keyCols.map(F.col): _*).orderBy(F.col("t"))
          .rowsBetween(-(lookback - 1), Window.currentRow)))
      .withColumn("ewma", F.round(
        F.aggregate(
          F.slice(F.col("__l"), F.lit(2),
            F.greatest(F.size(F.col("__l")) - 1, F.lit(0))),
          F.element_at(F.col("__l"), 1),
          // the oracle writes the runtime subtraction `(1.0 - α)` so both
          // engines weight acc by the IDENTICAL double (the x85 rule)
          (acc, x) => F.lit(alpha) * x + F.lit(1.0 - alpha) * acc),
        6))
      .drop("__l")
  }

  /** Holt's linear (double-exponential) smoothing per key over an
    * ordered series — [[ewmaSmooth]]'s two-state sibling: the level
    * recursion gains a TREND state so the one-step forecast extrapolates
    * a local slope instead of lagging every ramp (Holt 1957):
    * {{{
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   forecast_{t+1} = l_t + b_t
    * }}}
    * seeded l₁ = x₁, b₁ = 0 and folded EXACTLY over a bounded lookback
    * — the same frame-ordered collect_list + higher-order aggregate as
    * [[ewmaSmooth]], with a two-field struct accumulator. Deterministic
    * evaluation ORDER (a fold, not an unordered sum), and every step is
    * the same single-IEEE-op tree the oracle's list_reduce replays (the
    * (1.0 − α) runtime-subtraction x85 rule), so no quantize-before-sum
    * is needed.
    *
    * Scale shape: one keyed window shuffle; state per row is the
    * ≤lookback value list — bounded, never the whole series.
    *
    * @return (keyCols…, t, v, level, trend, forecast) — 6-dp; forecast
    *         is the one-step-ahead prediction FROM t
    */
  def holtSmooth(df: DataFrame, keyCols: Seq[String], orderCol: Column,
                 value: Column, alpha: Double, beta: Double,
                 lookback: Int = 32): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0,1], got $beta")
    require(lookback >= 1 && lookback <= 1024,
      s"lookback must be in [1,1024], got $lookback")
    val st = F.aggregate(
      F.slice(F.col("__l"), F.lit(2),
        F.greatest(F.size(F.col("__l")) - 1, F.lit(0))),
      F.struct(F.element_at(F.col("__l"), 1).as("l"), F.lit(0.0).as("b")),
      (acc, x) => {
        // l' appears twice in the tree on purpose: the oracle's
        // list_reduce lambda repeats the same textual expression, so
        // both engines evaluate the identical IEEE op sequence
        def lNew = F.lit(alpha) * x +
          F.lit(1.0 - alpha) * (acc.getField("l") + acc.getField("b"))
        F.struct(lNew.as("l"),
          (F.lit(beta) * (lNew - acc.getField("l")) +
            F.lit(1.0 - beta) * acc.getField("b")).as("b"))
      })
    df.select(keyCols.map(F.col) :+ orderCol.as("t") :+
        value.cast("double").as("v"): _*)
      .withColumn("__l", F.collect_list("v").over(
        Window.partitionBy(keyCols.map(F.col): _*).orderBy(F.col("t"))
          .rowsBetween(-(lookback - 1), Window.currentRow)))
      .withColumn("__st", st)
      .select(keyCols.map(F.col) ++ Seq(F.col("t"), F.col("v"),
        F.round(F.col("__st").getField("l"), 6).as("level"),
        F.round(F.col("__st").getField("b"), 6).as("trend"),
        F.round(F.col("__st").getField("l") + F.col("__st").getField("b"),
          6).as("forecast")): _*)
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method, Kendall & Stuart — NOT Cleveland's LOESS STL) of an
    * integer-valued daily series: `v = trend + seasonal + remainder`
    * with
    * {{{
    *   trend_t    = centered `window`-row moving average (full frames
    *                only — edge rows report NULL trend/remainder)
    *   seasonal_d = mean of (v − trend) per day-of-week, centered so
    *                the 7 seasonal offsets sum to ~0
    *   remainder  = v − released trend − released seasonal
    * }}}
    * the profile readout behind x140's seasonal z anomalies: WHAT the
    * weekly shape and underlying level are, not just which points
    * deviate.
    *
    * Determinism: values are LONGS by contract (counts — cast
    * enforced), so the sliding window sum is exact in any engine
    * (DuckDB's segment-tree association order would break a double
    * frame sum); detrended terms and the per-dow means are 9-dp
    * quantized and DECIMAL-accumulated (the x222 rule) before their
    * unordered group sums; remainder subtracts the RELEASED (6-dp)
    * trend and seasonal so the additive identity holds exactly on the
    * output grid.
    *
    * The frame is over OBSERVED rows, not calendar days — a gap in the
    * series shifts the window (standard caveat of the row-frame form;
    * densify upstream if gaps matter).
    *
    * Scale shape: one keyed window shuffle + a ≤(keys×7) seasonal
    * rollup broadcast back.
    *
    * @param window centered MA width, odd, default 7 (weekly)
    * @return (keyCols…, t, v, trend, seasonal, remainder) — 6-dp
    */
  def classicalDecompose(df: DataFrame, keyCols: Seq[String],
                         dateCol: Column, value: Column,
                         window: Int = 7): DataFrame = {
    require(window >= 3 && window % 2 == 1,
      s"window must be odd and >= 3, got $window")
    val half = window / 2
    val ks = keyCols.map(F.col)
    val fr = Window.partitionBy(ks: _*).orderBy(F.col("t"))
      .rowsBetween(-half, half)
    val trend = F.when(F.count("v").over(fr) === window,
      F.sum("v").over(fr).cast("double") / F.lit(window.toDouble))
    val d = df.select(ks :+ dateCol.as("t") :+
        value.cast("long").as("v"): _*)
      .withColumn("__trend", trend)
      .withColumn("__dow", F.dayofweek(F.col("t")) - 1)
      .withColumn("__det",
        F.round(F.col("v").cast("double") - F.col("__trend"), 9)
          .cast("decimal(38,9)"))
    val dowMeans = d.groupBy(ks :+ F.col("__dow"): _*)
      .agg(F.count("__det").as("__cnt"), F.sum("__det").as("__sdet"))
      .filter(F.col("__cnt") > 0L)
      .withColumn("__sm",
        F.round(F.col("__sdet").cast("double") / F.col("__cnt"), 9)
          .cast("decimal(38,9)"))
    val grand = dowMeans.groupBy(ks: _*)
      .agg((F.sum("__sm").cast("double") /
        F.count(F.lit(1)).cast("double")).as("__g"))
    val sea = dowMeans.join(grand, keyCols)
      .select(ks ++ Seq(F.col("__dow"),
        F.round(F.col("__sm").cast("double") - F.col("__g"), 6)
          .as("seasonal")): _*)
    val trend6 = F.round(F.col("__trend"), 6)
    d.join(F.broadcast(sea), keyCols :+ "__dow", "left")
      .select(ks ++ Seq(F.col("t"), F.col("v"),
        trend6.as("trend"), F.col("seasonal"),
        F.round(F.col("v").cast("double") - trend6 - F.col("seasonal"), 6)
          .as("remainder")): _*)
  }

  /** Markov-chain removal-effect attribution (Anderl et al. 2014) —
    * the data-driven alternative to positional rules ([[attribution]]'s
    * first/last/linear, [[uShapeAttribution]]): model user journeys as
    * a first-order Markov chain over channel states with absorbing
    * CONVERSION and DROP states, then credit each channel by its
    * REMOVAL EFFECT — how much conversion probability disappears when
    * every transition into that channel is redirected to DROP:
    * {{{
    *   removal(c) = 1 − P_conv(chain without c) / P_conv(full chain)
    *   share(c)   = removal(c) / Σ removals
    * }}}
    * Journeys truncate at the FIRST conversion; a journey that never
    * converts ends in DROP. `P_conv` is evaluated by `rounds` steps of
    * the chain from START (fixed-iteration, the pageRank convention —
    * mass not yet absorbed after `rounds` steps counts as neither).
    *
    * Channels are a PINNED literal list (the x108 explicit-value-list
    * convention): event types outside `channels`/`convType` are
    * ignored, which also bounds every table by construction. The
    * corpus work — journey windows and the (from, to) transition
    * census — is fully distributed; only the ≤(k+1)×(k+2) count matrix
    * reaches the driver (the bradleyTerry bounded-solve convention),
    * where the k²-state recurrence folds in PINNED state order with
    * 9-dp rounds so the oracle replays it expression-for-expression.
    *
    * @return one row per channel (channel, conv_full, conv_without,
    *         removal_effect, attribution_share) — 6-dp, ordered by
    *         channel; effects NULL when the full chain never converts
    */
  def markovAttribution(events: DataFrame, channels: Seq[String],
                        convType: String, rounds: Int = 8): DataFrame = {
    require(channels.nonEmpty && channels.size <= 12,
      s"channels must be 1..12 pinned states, got ${channels.size}")
    require(channels.distinct.size == channels.size &&
      !channels.contains(convType),
      "channels must be distinct and must not contain convType")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val chans = channels.sorted
    val ev = events
      .filter(F.col("event_type").isin((chans :+ convType).map(x => x: Any): _*))
      .select(F.col("user_id"), tsStamp(events).as("__ts"),
        F.col("event_id"), F.col("event_type").as("__t"))
    val w = Window.partitionBy("user_id")
      .orderBy(F.col("__ts"), F.col("event_id"))
    val ranked = ev.withColumn("__rn", F.row_number().over(w))
    val firstConv = ranked.filter(F.col("__t") === convType)
      .groupBy("user_id").agg(F.min("__rn").as("__crn"))
    val journey = ranked.join(firstConv, Seq("user_id"), "left")
      .filter(F.col("__crn").isNull || F.col("__rn") <= F.col("__crn"))
    val wj = Window.partitionBy("user_id").orderBy(F.col("__rn"))
    val stepEdges = journey
      .withColumn("__next", F.lead("__t", 1).over(wj))
      .filter(F.col("__t") =!= convType)
      .select(F.col("__t").as("__from"),
        F.coalesce(F.col("__next"), F.lit("__drop")).as("__to"))
    val startEdges = journey.filter(F.col("__rn") === 1)
      .select(F.lit("__start").as("__from"), F.col("__t").as("__to"))
    val counts = startEdges.unionByName(stepEdges)
      .groupBy("__from", "__to").agg(F.count(F.lit(1)).as("__c"))
      .collect()
      .map(r => (r.getString(0),
        if (r.getString(1) == convType) "__conv" else r.getString(1)) ->
        r.getLong(2)).toMap
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val srcs = "__start" +: chans
    val tgts = chans ++ Seq("__conv", "__drop")
    val tot: Map[String, Long] = srcs.map(s =>
      s -> tgts.map(t => counts.getOrElse((s, t), 0L)).sum).toMap
    val q: Map[(String, String), Double] = (for {
      s <- srcs; t <- tgts
    } yield (s, t) -> (if (tot(s) == 0L) 0.0
      else r9(counts.getOrElse((s, t), 0L).toDouble / tot(s).toDouble)))
      .toMap
    def run(removed: Option[String]): Double = {
      def qq(s: String, t: String): Double = removed match {
        case Some(c) if t == c => 0.0
        case Some(c) if t == "__drop" => q((s, "__drop")) + q((s, c))
        case _ => q((s, t))
      }
      var p: Map[String, Double] =
        (srcs ++ Seq("__conv", "__drop")).map(_ -> 0.0).toMap +
          ("__start" -> 1.0)
      (1 to rounds).foreach { _ =>
        // PINNED source order, left-associated sum — the oracle writes
        // the same term sequence, so the IEEE op order is identical
        val next = tgts.map { t =>
          var acc = 0.0
          srcs.foreach(s => acc = acc + p(s) * qq(s, t))
          t -> (if (t == "__conv" || t == "__drop") r9(p(t) + acc)
                else r9(acc))
        }.toMap
        p = next + ("__start" -> 0.0)
      }
      p("__conv")
    }
    val convFull = run(None)
    val convWo = chans.map(c => c -> run(Some(c))).toMap
    val remRaw = chans.map(c =>
      c -> (if (convFull == 0.0) Double.NaN
            else 1.0 - convWo(c) / convFull)).toMap
    var denom = 0.0
    chans.foreach(c => denom = denom + remRaw(c))
    val spark = events.sparkSession
    import spark.implicits._
    chans.map { c =>
      (c, r6(convFull),
        r6(convWo(c)),
        if (convFull == 0.0) None else Some(r6(remRaw(c))),
        if (convFull == 0.0 || denom == 0.0) None
        else Some(r6(remRaw(c) / denom)))
    }.toDF("channel", "conv_full", "conv_without", "removal_effect",
      "attribution_share")
      .orderBy("channel")
  }

  /** One-sided CUSUM drift statistic per key over an ordered series —
    * the change-point alarm (Page 1954): s_t = max(0, s_{t−1} + x_t − K)
    * fires when a metric runs persistently above its target K =
    * target + slack. The textbook recursion looks sequential, but it has
    * the exact closed form
    * {{{ s_t = P_t − min(0, min_{j≤t} P_j),  P_t = Σ_{i≤t} (x_i − K) }}}
    * — a running sum and a running min, BOTH plain window aggregates over
    * the same key-partitioned frame. No fold, no bounded lookback, no
    * state: two window functions in one pass, and with integer x/K every
    * value is exact in any engine.
    *
    * @return (keyCols…, t, v, cusum) — cusum > threshold is the alarm
    */
  def cusumDrift(df: DataFrame, keyCols: Seq[String], orderCol: Column,
                 value: Column, target: Long, slack: Long = 0L): DataFrame = {
    val k = target + slack
    val w = Window.partitionBy(keyCols.map(F.col): _*).orderBy(F.col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(keyCols.map(F.col) :+ orderCol.as("t") :+
        value.cast("long").as("v"): _*)
      .withColumn("__p", F.sum(F.col("v") - k).over(w))
      .withColumn("cusum", F.col("__p") - F.least(F.lit(0L), F.min("__p").over(w)))
      .drop("__p")
  }

  /** Top-k behavioral PATHS: the most frequent length-`n` consecutive
    * event-type sequences across users — the session-flow mining readout
    * ("view > click > purchase"). One window shuffle on the user key
    * builds the forward chain with `lead` over the ([[tsUs]], tie) total
    * order (the [[transitionMatrix]] convention); the path census
    * partial-aggregates and top-k is TakeOrderedAndProject with a path
    * tie-break.
    *
    * @return (path, n) — top `k` by count desc, path asc
    */
  def topPaths(events: DataFrame, n: Int = 3, k: Int = 20,
               userCol: String = "user_id",
               tieCol: String = "event_id"): DataFrame = {
    require(n >= 2 && n <= 8, s"path length must be in [2,8], got $n")
    val byUser = Window.partitionBy(userCol)
      .orderBy(tsUs(events).asc, F.col(tieCol).asc)
    val steps = (0 until n).map(i =>
      if (i == 0) F.col("event_type")
      else F.lead(F.col("event_type"), i).over(byUser))
    events
      .withColumn("path", F.when(steps.drop(1).map(_.isNotNull)
          .reduce(_ && _), F.concat_ws(">", steps: _*)))
      .filter(F.col("path").isNotNull)
      .groupBy("path").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("path").asc)
      .limit(k)
  }

  /** Day-N retention cohort table: users grouped by their FIRST active
    * day, tracked across day offsets — the product-analytics staple.
    *
    * Distinct (user, day) activity collapses first (one keyed shuffle);
    * the per-user cohort day is a window min over the user's own rows;
    * offsets are integer date diffs. Because days are distinct per user,
    * a plain `count` per (cohort, offset) IS the distinct-user count — no
    * countDistinct Expand. The day-0 cohort size rides a window over the
    * tiny aggregated table (the q09 post-aggregate rule), giving each row
    * a retention rate.
    *
    * @return (cohort_day, offset, n_users, rate), offset 0..maxOffsetDays
    */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts",
                       maxOffsetDays: Int = 14): DataFrame = {
    val days = events
      .select(F.col(userCol).as("__u"),
        F.to_date(tsStamp(events, tsCol)).as("__d"))
      .distinct()
    val counts = days
      .withColumn("__c", F.min("__d").over(Window.partitionBy("__u")))
      .withColumn("offset", F.datediff(F.col("__d"), F.col("__c")))
      .filter(F.col("offset") <= maxOffsetDays)
      .groupBy(F.col("__c").as("cohort_day"), F.col("offset"))
      .agg(F.count(F.lit(1)).as("n_users"))
    counts
      .withColumn("__d0", F.sum(F.when(F.col("offset") === 0, F.col("n_users"))
          .otherwise(F.lit(0L)))
        .over(Window.partitionBy("cohort_day")))
      .withColumn("rate", F.round(
        F.col("n_users").cast("double") / F.nullif(F.col("__d0").cast("double"),
          F.lit(0.0)), 6))
      .drop("__d0")
  }

  /** U-shaped (position-based) multi-touch attribution: every conversion
    * distributes credit over the touches that precede it within
    * `windowUs` — 40% to the FIRST touch, 40% to the LAST, the remaining
    * 20% split evenly across the middles (1-touch paths get 1.0, 2-touch
    * paths renormalize to 0.5/0.5, touchless conversions credit
    * `direct`). The standard complement of [[lastTouchAttribution]]: last-
    * touch systematically undercounts discovery channels; U-shape is the
    * usual correction.
    *
    * Each touch binds to its nearest FOLLOWING conversion (one `first()`
    * window over the user's timeline — no per-conversion range join, no
    * event-list materialization), then positions/counts come from
    * per-conversion keyed windows. All windows partition by user or by
    * conversion id — keyed shuffles only. Per-touch weights are exact
    * decimals summed after 9-dp rounding; credit rounds to 6.
    *
    * @return (touch_type, n_touches, credit, share) — share of total credit
    */
  def uShapeAttribution(events: DataFrame, convType: String, windowUs: Long,
                        userCol: String = "user_id",
                        tieCol: String = "event_id"): DataFrame = {
    require(windowUs > 0L, s"windowUs must be positive, got $windowUs")
    val base = events.withColumn("__us", tsUs(events))
    val wFol = Window.partitionBy(userCol)
      .orderBy(F.col("__us").asc, F.col(tieCol).asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val withNext = base.withColumn("__next", F.first(
      F.when(F.col("event_type") === convType,
        F.struct(F.col("__us").as("cus"), F.col(tieCol).as("cid"))),
      ignoreNulls = true).over(wFol))
    val touches = withNext.filter(F.col("event_type") =!= convType &&
        F.col("__next").isNotNull &&
        F.col("__next.cus") - F.col("__us") <= windowUs)
      .select(F.col("__next.cid").as("__conv"),
        F.col("event_type").as("touch_type"),
        F.col("__us"), F.col(tieCol).as("__tid"))
    val wPos = Window.partitionBy("__conv")
      .orderBy(F.col("__us").asc, F.col("__tid").asc)
    val baseW = F.when(F.col("__n") === 1, 1.0)
      .when(F.col("__pos") === 1 || F.col("__pos") === F.col("__n"),
        F.when(F.col("__n") === 2, 0.5).otherwise(0.4))
      .otherwise(F.lit(0.2) / (F.col("__n") - 2).cast("double"))
    val weighted = touches
      .withColumn("__pos", F.row_number().over(wPos))
      .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("__conv")))
      .select(F.col("touch_type"), F.round(baseW, 9).as("__w"))
    val direct = base.filter(F.col("event_type") === convType)
      .select(F.col(tieCol).as("__conv"))
      .join(touches.select("__conv").distinct(), Seq("__conv"), "left_anti")
      .select(F.lit("direct").as("touch_type"), F.lit(1.0).as("__w"))
    weighted.unionByName(direct)
      .groupBy("touch_type")
      .agg(F.count(F.lit(1)).as("n_touches"),
        F.round(F.sum("__w"), 6).as("credit"))
      .withColumn("share", F.round(F.col("credit") /
        F.sum("credit").over(Window.partitionBy()), 6))
      .orderBy("touch_type")
  }

  /** Cohort LTV curve: users cohort by their FIRST event day; every
    * `valueType` event contributes its `value` at age = (event day −
    * cohort day); the curve is the running cumulative value per cohort
    * user at each observed age. The readout behind "how much is a
    * signup from day X worth by age 14" — retention's (x123) monetized
    * sibling.
    *
    * Scale shape: one per-user min-rollup (keyed), one (cohort, age)
    * rollup (keyed), a cumulative window over ages WITHIN cohort
    * (bounded by the observation span), cohort sizes broadcast back.
    *
    * @return (cohort_day, age, n_users, value_sum, cum_value, cum_per_user)
    */
  def ltvCurve(events: DataFrame, valueType: String,
               userCol: String = "user_id"): DataFrame = {
    val day = F.datediff(F.to_date(tsStamp(events)),
      F.lit("1970-01-01").cast("date"))
    val firstDay = events.select(F.col(userCol), day.as("__d"))
      .groupBy(userCol).agg(F.min("__d").as("cohort_day"))
    val sizes = firstDay.groupBy("cohort_day")
      .agg(F.count(F.lit(1)).as("n_users"))
    val purchases = events.filter(F.col("event_type") === valueType)
      .select(F.col(userCol), day.as("__d"), F.col("value"))
      .join(firstDay, Seq(userCol))
      .groupBy(F.col("cohort_day"), (F.col("__d") - F.col("cohort_day")).as("age"))
      .agg(F.round(F.sum("value"), 6).as("value_sum"))
    val wCum = Window.partitionBy("cohort_day").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases
      .withColumn("cum_value", F.round(F.sum("value_sum").over(wCum), 6))
      .join(F.broadcast(sizes), Seq("cohort_day"))
      .select(F.col("cohort_day"), F.col("age"), F.col("n_users"),
        F.col("value_sum"), F.col("cum_value"),
        F.round(F.col("cum_value") / F.col("n_users"), 6).as("cum_per_user"))
      .orderBy("cohort_day", "age")
  }

  /** Freshness-decay weighting audit: weight every event
    * `w = exp(−λ·age_days)` (age measured from the corpus's newest day)
    * and report, per event type, the weight mass and the Kish effective
    * sample size `ESS = (Σw)²/Σw²` — the number that says how many
    * "fully fresh" samples a recency-decayed corpus is actually worth
    * before you train on it.
    *
    * Scale shape: the max-day anchor is a 1-row broadcast; weights are a
    * projection; one map-side collapse to ≤ types rows. Terms round to
    * 9 dp before the unordered sums (pageRank rule), results to 6.
    *
    * @return (event_type, n, sum_w, ess, ess_ratio) ordered by type
    */
  def freshnessEss(events: DataFrame, lambdaPerDay: Double): DataFrame = {
    require(lambdaPerDay > 0.0, s"lambda must be positive, got $lambdaPerDay")
    val day = F.datediff(F.to_date(tsStamp(events)),
      F.lit("1970-01-01").cast("date"))
    val mx = events.agg(F.max(day).as("__mx"))
    val w = F.round(F.exp(F.lit(-lambdaPerDay) *
      (F.col("__mx") - F.col("__d")).cast("double")), 9)
    events.select(F.col("event_type"), day.as("__d"))
      .crossJoin(F.broadcast(mx))
      .withColumn("__w", w)
      .withColumn("__w2", F.round(F.col("__w") * F.col("__w"), 9))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("__w"), 6).as("sum_w"),
        F.round(F.sum("__w") * F.sum("__w") / F.sum("__w2"), 6).as("ess"))
      .withColumn("ess_ratio", F.round(F.col("ess") / F.col("n"), 6))
      .orderBy("event_type")
  }

  /** DAU / trailing-window MAU stickiness, EXACTLY: each (user, day)
    * activity row fans out to the `windowDays` target days it keeps the
    * user "monthly-active" for, and distinct-counting per target day
    * gives the exact trailing MAU — the precise sibling of the
    * [[graft.ops.Sketches.hllSliding]] approximation. DAU/MAU is the
    * classic engagement-stickiness ratio.
    *
    * Scale shape: the corpus collapses to distinct (user, day) FIRST
    * (map-side), the windowDays× fan-out happens on that collapsed
    * table, and both distinct-counts shuffle keyed by day — bounded by
    * users×window, never raw events. Days past the corpus's last day are
    * cut by a 1-row broadcast anchor.
    *
    * @return (day, dau, mau, stickiness) ordered by day
    */
  def stickiness(events: DataFrame, windowDays: Int = 28,
                 userCol: String = "user_id"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val day = F.datediff(F.to_date(tsStamp(events)),
      F.lit("1970-01-01").cast("date"))
    val ud = events.select(F.col(userCol).as("__u"), day.as("__d")).distinct()
    val mx = ud.agg(F.max("__d").as("__mx"))
    val mau = ud.crossJoin(F.broadcast(mx))
      .withColumn("day",
        F.explode(F.sequence(F.col("__d"),
          F.least(F.col("__d") + (windowDays - 1), F.col("__mx")))))
      .groupBy("day").agg(F.count_distinct(F.col("__u")).as("mau"))
    val dau = ud.groupBy(F.col("__d").as("day"))
      .agg(F.count_distinct(F.col("__u")).as("dau"))
    mau.join(dau, Seq("day"), "left")
      .na.fill(0L, Seq("dau"))
      .select(F.col("day"), F.col("dau"), F.col("mau"),
        F.round(F.col("dau").cast("double") / F.col("mau"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Audience-overlap matrix: for every pair of event types, the distinct
    * users doing BOTH and the Jaccard of the two audiences — the
    * segment-overlap readout behind "are clickers and purchasers the same
    * people". Exact distinct sets via one (user, type) collapse; the pair
    * fan-out is a self-join on user over that collapsed table, bounded by
    * types² per user, never raw events.
    *
    * @return (a, b, n_a, n_b, n_both, jaccard) for type pairs a < b
    */
  def audienceOverlap(events: DataFrame,
                      userCol: String = "user_id"): DataFrame = {
    val ut = events.select(F.col(userCol).as("__u"),
      F.col("event_type").as("__t")).distinct()
    val sizes = ut.groupBy("__t").agg(F.count(F.lit(1)).as("__n"))
    val both = ut.select(F.col("__u"), F.col("__t").as("a"))
      .join(ut.select(F.col("__u"), F.col("__t").as("b")), Seq("__u"))
      .filter(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("n_both"))
    both
      .join(F.broadcast(sizes.select(F.col("__t").as("a"),
        F.col("__n").as("n_a"))), Seq("a"))
      .join(F.broadcast(sizes.select(F.col("__t").as("b"),
        F.col("__n").as("n_b"))), Seq("b"))
      .select(F.col("a"), F.col("b"), F.col("n_a"), F.col("n_b"),
        F.col("n_both"),
        F.round(F.col("n_both").cast("double") /
          (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6).as("jaccard"))
      .orderBy("a", "b")
  }

  /** Slowly-changing-dimension type-2 history build (Kimball): collapse a
    * per-key event stream into contiguous STATE intervals — one row per
    * run of equal states with `valid_from` (first event of the run),
    * `valid_to` (start of the next run, NULL while current) and an
    * `is_current` flag. The standard way a warehouse tracks "what was
    * this user's segment at time t" for point-in-time joins (e.g.
    * training-label reconstruction without leakage).
    *
    * Gaps-and-islands: a lag() change flag per key, a running sum over
    * the flags numbers the islands, one groupBy collapses them, and a
    * lead() stitches each island to its successor. Every window and the
    * rollup partition by `keyCol` — keyed shuffles only, scales linearly.
    * Event ordering tie-breaks on `seqCol` so equal timestamps replay
    * identically in any engine.
    *
    * @return (key, state, n_events, valid_from, valid_to, is_current)
    */
  def scd2(events: DataFrame, keyCol: String, stateCol: Column,
           seqCol: Column): DataFrame = {
    val ts = tsStamp(events)
    val base = events.select(F.col(keyCol).as("key"), stateCol.as("state"),
      ts.as("__ts"), seqCol.as("__seq"))
    val byKey = Window.partitionBy("key").orderBy(F.col("__ts"), F.col("__seq"))
    val islands = base
      .withColumn("__chg",
        F.when(F.lag("state", 1).over(byKey).isNull ||
          F.lag("state", 1).over(byKey) =!= F.col("state"), 1L)
          .otherwise(0L))
      .withColumn("__isl", F.sum("__chg").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("key", "__isl")
      .agg(F.first("state").as("state"),
        F.count(F.lit(1)).as("n_events"),
        F.min("__ts").as("valid_from"))
    val byIsl = Window.partitionBy("key").orderBy("__isl")
    islands
      .withColumn("valid_to", F.lead("valid_from", 1).over(byIsl))
      .withColumn("is_current", F.col("valid_to").isNull)
      .select("key", "state", "n_events", "valid_from", "valid_to",
        "is_current")
  }

  /** Goh–Barabási burstiness of inter-arrival times per event type —
    * B = (σ − μ)/(σ + μ) over the gaps between consecutive events:
    * B → −1 is a metronome (σ ≪ μ, perfectly regular), B = 0 Poisson,
    * B → 1 heavy-tailed bursts. The temporal texture x12's hourly
    * volume flattens — two types with identical rates can differ
    * completely in burstiness, which drives cache/session/capacity
    * behavior.
    *
    * Gaps are exact MILLISECOND longs (µs differences over the
    * type-keyed µs/event_id-ordered stream, then one exact integer
    * division — µs-squared sums would overflow int64 at ~20k gaps of
    * day-scale spacing); per-type (n, Σg, Σg²) exact; population σ
    * (the convention for B) and the ratio are single IEEE ops.
    *
    * Scale shape: one type-keyed ordered window + one keyed collapse —
    * the [[transitionMatrix]] shape.
    *
    * @return per type (event_type, n_gaps, mean_gap_s, b) ordered by
    *         type — 6-dp; b NULL with < 2 gaps or all-zero gaps
    */
  def interArrivalBurstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(F.col("__tu"), F.col("event_id"))
    val gaps = events
      .select(F.col("event_type"), F.col("event_id"),
        tsUs(events).as("__tu"))
      .withColumn("__g", F.call_function("div",
        F.col("__tu") - F.lag("__tu", 1).over(w), F.lit(1000L)))
      .filter(F.col("__g").isNotNull)
    val g = gaps.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_gaps"), F.sum("__g").as("__s"),
        F.sum(F.col("__g") * F.col("__g")).as("__q"))
    val nD = F.col("n_gaps").cast("double")
    val mu = F.col("__s").cast("double") / nD
    // population sd — the Goh-Barabási convention
    val sd = F.sqrt((F.col("__q").cast("double") -
      F.col("__s").cast("double") * mu) / nD)
    g.select(F.col("event_type"), F.col("n_gaps"),
      F.round(mu / 1e3, 6).as("mean_gap_s"),
      F.round(F.when(F.col("n_gaps") >= 2L,
        (sd - mu) / F.nullif(sd + mu, F.lit(0.0))), 6).as("b"))
      .orderBy("event_type")
  }

  /** Memory coefficient of inter-arrival gaps (Goh & Barabási 2008) —
    * the SECOND axis of temporal texture: M = Pearson r of consecutive
    * gap pairs (gₜ, gₜ₊₁). Read with [[interArrivalBurstiness]]'s B on
    * the (B, M) plane: human activity is high-B/low-M (heavy-tailed
    * but uncorrelated gaps), machine retry storms high-B/high-M (long
    * gaps follow long gaps). Same exact-millisecond gap machinery;
    * pair sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    * longs and M is one IEEE ratio.
    *
    * Scale shape: one type-keyed ordered window (gap + its successor),
    * one keyed collapse.
    *
    * @return per type (event_type, n_pairs, m) ordered — 6-dp; NULL
    *         with < 2 pairs or a constant gap stream
    */
  def gapMemory(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(F.col("__tu"), F.col("event_id"))
    val gaps = events
      .select(F.col("event_type"), F.col("event_id"),
        tsUs(events).as("__tu"))
      .withColumn("__g", F.call_function("div",
        F.col("__tu") - F.lag("__tu", 1).over(w), F.lit(1000L)))
      .withColumn("__gn", F.lead("__g", 1).over(w))
      .filter(F.col("__g").isNotNull && F.col("__gn").isNotNull)
    val g = gaps.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_pairs"),
        F.sum("__g").as("__sx"), F.sum("__gn").as("__sy"),
        F.sum(F.col("__g") * F.col("__gn")).as("__sxy"),
        F.sum(F.col("__g") * F.col("__g")).as("__sx2"),
        F.sum(F.col("__gn") * F.col("__gn")).as("__sy2"))
    val nD = F.col("n_pairs").cast("double")
    def c(s: Column): Column = s.cast("double")
    val cov = c(F.col("__sxy")) - c(F.col("__sx")) *
      (c(F.col("__sy")) / nD)
    val vx = c(F.col("__sx2")) - c(F.col("__sx")) *
      (c(F.col("__sx")) / nD)
    val vy = c(F.col("__sy2")) - c(F.col("__sy")) *
      (c(F.col("__sy")) / nD)
    g.select(F.col("event_type"), F.col("n_pairs"),
      F.round(F.when(F.col("n_pairs") >= 2L,
        cov / F.nullif(F.sqrt(vx * vy), F.lit(0.0))), 6).as("m"))
      .orderBy("event_type")
  }

  /** Page-Hinkley drift detector over the daily event-count series
    * (Page 1954; the sequential sibling of x129's batch CUSUM and the
    * x194 changepoint): accumulate each day's deviation from the
    * RUNNING mean, and alarm when the accumulator falls `lambda` below
    * its own running maximum — i.e. the level has shifted DOWN and
    * stayed down (the feed-died / source-went-dark signature; an
    * upward-shift twin is the same statistic on the negated series):
    * {{{
    *   x̄_t  = (x_1 + … + x_t) / t
    *   m_t  = Σ_{i ≤ t} (x_i − x̄_i + δ)
    *   PH_t = max_{i ≤ t} m_i − m_t,   alarm: PH_t > λ
    * }}}
    * δ is the tolerated drift per step (alarms need a shift bigger
    * than δ to accumulate); λ trades detection delay for false alarms.
    *
    * Determinism: daily counts are exact longs, running means are one
    * IEEE division of exact longs, deviation terms are 9-dp rounded
    * and DECIMAL-accumulated so the running sum and running max are
    * association-free (the x346 rule) — both engines replay the alarm
    * day bit-identically.
    *
    * Scale shape: one map-side-combined daily collapse, then windows
    * over the BOUNDED day series (one partition of #days rows — the
    * x129 convention; the corpus never enters a window).
    *
    * @return one row per day: (day, x, run_mean, mt, ph, alarm)
    */
  def pageHinkley(events: DataFrame, delta: Double = 0.0,
                  lambda: Double = 50.0): DataFrame = {
    require(lambda > 0.0, s"lambda must be positive, got $lambda")
    val daily = events
      .select(F.to_date(tsStamp(events)).as("day"))
      .groupBy("day").agg(F.count(F.lit(1)).as("x"))
    val byDay = Window.orderBy(F.col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withMean = daily
      .withColumn("__cx", F.sum("x").over(byDay))
      .withColumn("__t", F.count(F.lit(1)).over(byDay))
      .withColumn("__mean",
        F.col("__cx").cast("double") / F.col("__t").cast("double"))
      .withColumn("__term", F.round(F.col("x").cast("double") -
        F.col("__mean") + F.lit(delta), 9).cast("decimal(38,9)"))
    val acc = withMean
      .withColumn("__m", F.sum("__term").over(byDay))
      .withColumn("__mx", F.max("__m").over(byDay))
      .withColumn("__ph", F.col("__mx") - F.col("__m"))
    acc.select(F.col("day"), F.col("x"),
        F.round(F.col("__mean"), 6).as("run_mean"),
        F.round(F.col("__m").cast("double"), 6).as("mt"),
        F.round(F.col("__ph").cast("double"), 6).as("ph"),
        (F.col("__ph").cast("double") > F.lit(lambda)).as("alarm"))
      .orderBy("day")
  }

  /** Stationary distribution of the behavior Markov chain — the
    * long-run state occupancy of [[transitionMatrix]]'s chain (where
    * x306's entropy rate weights by the EMPIRICAL state frequencies,
    * this is the model's own fixed point π = πP): `iters` power-
    * iteration rounds from uniform, each a (k²)-bounded join+rollup
    * with 9-dp updates and DECIMAL inner sums (the x452/x459 round
    * convention). States with no observed outgoing transition keep
    * their mass (implicit self-loop), so π stays a distribution.
    * The final-round total-variation delta rides along — a large
    * `tv_delta` means `iters` under-ran the mixing time, loudly.
    *
    * Scale shape: ONE distributed stage — the corpus lag+collapse to
    * the ≤k² transition counts — then the k×k power iteration runs
    * DRIVER-LOCAL on the collected bounded table (the pqFit/mmrRerank
    * bounded-math regime: only ≤k² count rows ever reach the driver,
    * loud cap below) and the result returns as literals. Per-round
    * Spark jobs on a ≤k-row state table cost ~100 ms of scheduler
    * latency each and compute nothing a driver loop can't; the replay
    * reproduces the distributed arithmetic bit-for-bit
    * ([[ChainMath]]: BigDecimal HALF_UP = `F.round`, exact scale-9
    * java BigDecimal accumulation = DECIMAL(38,9) sums, `doubleValue`
    * = the decimal→double cast).
    *
    * @return per state: (state, pi, has_out, tv_delta) — 6-dp π,
    *         ordered by state
    */
  def stationaryDistribution(events: DataFrame, iters: Int = 10,
                             userCol: String = "user_id",
                             tieCol: String = "event_id"): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    val spark = events.sparkSession
    val cells = ChainMath.collectCells(
      transitionMatrix(events, userCol, tieCol), "stationaryDistribution")
    val states = ChainMath.states(cells)
    val pmat = ChainMath.rowStochastic(cells)
    val hasOut = pmat.keySet.map(_._1)
    val k = states.length
    var pi: Map[String, Double] =
      states.map(s => s -> ChainMath.r9(1.0 / k.toDouble)).toMap
    var prev = pi
    var it = 0
    while (it < iters) {
      prev = pi
      val moved = ChainMath.pushForward(pmat, prev)
      pi = states.map { s =>
        val in = moved.get(s).map(_.doubleValue).getOrElse(0.0)
        s -> ChainMath.r9(in + (if (hasOut(s)) 0.0 else prev(s)))
      }.toMap
      it += 1
    }
    val tvSum = states.foldLeft(java.math.BigDecimal.ZERO) { (acc, s) =>
      acc.add(ChainMath.dec9(ChainMath.r9(math.abs(pi(s) - prev(s)))))
    }
    val tv = tvSum.doubleValue / 2.0
    val rows = states.map(s => Row(s, ChainMath.r6(pi(s)), hasOut(s),
      ChainMath.r6(tv)))
    ChainMath.literal(spark, rows, StructType(Seq(
        StructField("state", StringType, nullable = true),
        StructField("pi", DoubleType, nullable = true),
        StructField("has_out", BooleanType, nullable = true),
        StructField("tv_delta", DoubleType, nullable = true))))
      .orderBy("state")
  }

  /** Expected events-to-conversion per state — k-round value iteration
    * on [[transitionMatrix]]'s chain toward an absorbing target
    * (x454's removal-effect sibling asks "who gets credit"; this asks
    * "how FAR is each state from converting"):
    * {{{
    *   t(target) = 0
    *   t_k(s)    = 1 + Σ_j P(s,j) · t_{k-1}(j)
    * }}}
    * From t₀ = 0 the iterates are the expected steps truncated at
    * horizon k (monotone ↑ the true hitting time; states that cannot
    * reach the target climb toward k — read them against `horizon`,
    * which rides along; a state with t ≈ horizon is unreachable-ish,
    * loudly). States with no outgoing transitions hold their value
    * (implicit self-loop, the [[stationaryDistribution]] convention).
    *
    * Determinism: P 9-dp from exact counts; per-round inner products
    * 9-dp exact-decimal; the round count is pinned.
    *
    * Scale shape: ONE distributed stage (the [[transitionMatrix]]
    * corpus collapse), then the value iteration runs DRIVER-LOCAL on
    * the collected ≤k² table and returns literals — the
    * [[stationaryDistribution]] regime, same bit-for-bit [[ChainMath]]
    * replay of the former per-round Spark plans.
    *
    * @return per state: (state, t_hit, is_target, horizon) — 6-dp
    */
  def hittingTime(events: DataFrame, target: String, iters: Int = 12,
                  userCol: String = "user_id",
                  tieCol: String = "event_id"): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    require(target != null && target.nonEmpty, "target required")
    val spark = events.sparkSession
    val cells = ChainMath.collectCells(
      transitionMatrix(events, userCol, tieCol), "hittingTime")
    val states = ChainMath.states(cells)
    val pmat = ChainMath.rowStochastic(cells)
    val hasOut = pmat.keySet.map(_._1)
    var v: Map[String, Double] = states.map(s => s -> 0.0).toMap
    var it = 0
    while (it < iters) {
      val moved = ChainMath.pullBack(pmat, v)
      v = states.map { s =>
        s -> (if (s == target) 0.0
              else if (!hasOut(s)) v(s)
              else ChainMath.r9(1.0 +
                moved.get(s).map(_.doubleValue).getOrElse(0.0)))
      }.toMap
      it += 1
    }
    val rows = states.map(s => Row(s, ChainMath.r6(v(s)), s == target,
      iters.toLong))
    ChainMath.literal(spark, rows, StructType(Seq(
        StructField("state", StringType, nullable = true),
        StructField("t_hit", DoubleType, nullable = true),
        StructField("is_target", BooleanType, nullable = true),
        StructField("horizon", LongType, nullable = true))))
      .orderBy("state")
  }

  /** MIXING PROFILE of the behavior chain — per power round t the
    * step delta TV(πₜ, πₜ₋₁) and the distance-to-limit
    * TV(πₜ, π_T) (T = `iters`, the op's own final iterate standing in
    * for the stationary limit). The "how many rounds until the chain
    * forgets its start" readout that decides how many rounds
    * [[stationaryDistribution]] actually needs — and the honest
    * convergence curve behind its single final `tv_delta`: a profile
    * still falling at t = T says T under-ran the mixing time, loudly
    * and quantitatively.
    *
    * Same chain construction, update rule, and arithmetic as
    * [[stationaryDistribution]] ([[ChainMath]], 9-dp rounds, exact
    * decimal TV sums, implicit self-loops for no-out states); one
    * distributed corpus collapse, driver-local k-state rounds, literal
    * output.
    *
    * @return per round: (t, tv_step, tv_to_final) — 6-dp, t = 1..iters
    */
  def mixingProfile(events: DataFrame, iters: Int = 8,
                    userCol: String = "user_id",
                    tieCol: String = "event_id"): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    val spark = events.sparkSession
    val cells = ChainMath.collectCells(
      transitionMatrix(events, userCol, tieCol), "mixingProfile")
    val states = ChainMath.states(cells)
    val pmat = ChainMath.rowStochastic(cells)
    val hasOut = pmat.keySet.map(_._1)
    val k = states.length
    var pi: Map[String, Double] =
      states.map(s => s -> ChainMath.r9(1.0 / k.toDouble)).toMap
    val hist = scala.collection.mutable.ArrayBuffer(pi)
    var it = 0
    while (it < iters) {
      val prev = pi
      val moved = ChainMath.pushForward(pmat, prev)
      pi = states.map { s =>
        val in = moved.get(s).map(_.doubleValue).getOrElse(0.0)
        s -> ChainMath.r9(in + (if (hasOut(s)) 0.0 else prev(s)))
      }.toMap
      hist += pi
      it += 1
    }
    def tv(a: Map[String, Double], b: Map[String, Double]): Double = {
      val s = states.foldLeft(java.math.BigDecimal.ZERO) { (acc, st) =>
        acc.add(ChainMath.dec9(ChainMath.r9(math.abs(a(st) - b(st))))) }
      ChainMath.r6(s.doubleValue / 2.0)
    }
    val last = hist.last
    val rows = (1 to iters).map { t =>
      Row(t.toLong, tv(hist(t), hist(t - 1)), tv(hist(t), last)) }
    ChainMath.literal(spark, rows, StructType(Seq(
        StructField("t", LongType, nullable = true),
        StructField("tv_step", DoubleType, nullable = true),
        StructField("tv_to_final", DoubleType, nullable = true))))
      .orderBy("t")
  }

  /** EVENT-TIME DISORDER census — the watermark-planning readout for a
    * Structured Streaming deployment of this feed: per event type, how
    * out-of-order does the stream actually arrive, and what watermark
    * delay would have admitted which share of it. Arrival order is the
    * monotone ingest id (`tieCol` — the same arrival proxy the
    * streaming ops' event-time sort absorbs); an event is LATE when
    * some earlier-arriving event of the same user already carried a
    * larger event time, and its lateness is the gap to that running
    * max:
    * {{{
    *   late(e)     ⇔ ts(e) < max{ts(e') : e' before e, same user}
    *   lateness(e) = runmax_before(e) − ts(e)   (µs)
    * }}}
    * p50/p95/p99 lateness over LATE events then read directly as
    * candidate `withWatermark` delays (p99 lateness = the delay that
    * would have admitted 99% of the late tail).
    *
    * Scale shape: ONE user-keyed window pass (the sessionize shuffle)
    * for the running max, then a map-side-combined per-type collapse;
    * quantiles by the integer rank selection over the per-type late
    * rows ([[funnelLatency]]'s max(1, ⌊q·n⌋) convention — engine-
    * replayable, no interpolation). No late events in a type →
    * NULL quantiles/max (visible, not zero-faked).
    *
    * @return per event type: (event_type, n_events, n_late,
    *         late_share 6-dp, max_late_us, p50_late_us, p95_late_us,
    *         p99_late_us)
    */
  def disorderCensus(events: DataFrame, userCol: String = "user_id",
                     typeCol: String = "event_type",
                     tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tieCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagged = events
      .select(F.col(userCol), F.col(typeCol).as("event_type"),
        F.col(tieCol), tsUs(events).as("__us"))
      .withColumn("__runmax", F.max("__us").over(w))
      .withColumn("__late",
        F.col("__runmax").isNotNull && F.col("__us") < F.col("__runmax"))
      .withColumn("__lat",
        F.when(F.col("__late"), F.col("__runmax") - F.col("__us")))
    val counts = lagged.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum(F.when(F.col("__late"), 1L).otherwise(0L)).as("n_late"),
        F.max("__lat").as("max_late_us"))
    // integer rank selection over the late rows, one per-type window
    val lateRanked = lagged.filter(F.col("__late"))
      .withColumn("__rk", F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("__lat"),
          F.col(tieCol))))
      .withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy("event_type")))
    def qSel(q: Double, out: String): DataFrame = lateRanked
      .filter(F.col("__rk") === F.greatest(F.lit(1L),
        F.floor(F.lit(q) * F.col("__n").cast("double")).cast("long")))
      .select(F.col("event_type"), F.col("__lat").as(out))
    counts
      .join(qSel(0.5, "p50_late_us"), Seq("event_type"), "left")
      .join(qSel(0.95, "p95_late_us"), Seq("event_type"), "left")
      .join(qSel(0.99, "p99_late_us"), Seq("event_type"), "left")
      .select(F.col("event_type"), F.col("n_events"), F.col("n_late"),
        F.round(F.col("n_late").cast("double") /
          F.col("n_events").cast("double"), 6).as("late_share"),
        F.col("max_late_us"), F.col("p50_late_us"),
        F.col("p95_late_us"), F.col("p99_late_us"))
      .orderBy("event_type")
  }

  /** Driver-local replay kernel for the bounded Markov-chain round
    * loops ([[stationaryDistribution]], [[hittingTime]]): the former
    * per-round Spark plans ran 10-12 jobs on ≤k-row state tables and
    * paid ~100 ms of scheduler latency each for arithmetic a driver
    * loop does for free. Every step here reproduces the retired plan
    * BIT-FOR-BIT so oracle hashes are unchanged:
    *  - [[r9]]/[[r6]] = `F.round` on DoubleType (java BigDecimal of
    *    `Double.toString`, setScale HALF_UP, doubleValue);
    *  - [[dec9]] = the double→DECIMAL(38,9) cast (same construction,
    *    setScale 9 HALF_UP, kept exact);
    *  - decimal sums accumulate exact java BigDecimal (order-free,
    *    like the DECIMAL(38,9) partial aggregate);
    *  - `doubleValue` on a sum = the decimal→double cast.
    * The collect is LOUDLY capped: the transition alphabet must be
    * bounded (event types, not entities) for this op family to apply
    * at all — at 100 TB the one distributed stage still does all the
    * corpus work.
    */
  private[graft] object ChainMath {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}

    def rHalfUp(x: Double, scale: Int): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else JBD.valueOf(x).setScale(scale, RM.HALF_UP).doubleValue
    def r9(x: Double): Double = rHalfUp(x, 9)
    def r6(x: Double): Double = rHalfUp(x, 6)
    def dec9(x: Double): JBD = JBD.valueOf(x).setScale(9, RM.HALF_UP)

    /** Collect the (prev_type, next_type, n) cells, loudly capped. */
    def collectCells(tm: DataFrame, op: String): Array[(String, String, Long)] = {
      val cells = tm
        .select(F.col("prev_type"), F.col("next_type"), F.col("n"))
        .collect()
        .map { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1),
            s"$op: null state in transition cells — event_type must be " +
              "non-null (filter or fill upstream)")
          (r.getString(0), r.getString(1), r.getLong(2))
        }
      require(cells.length <= (1 << 20),
        s"$op: ${cells.length} transition cells exceed the 2^20 " +
          "driver-local cap — the state alphabet is not bounded; this " +
          "op family is for bounded alphabets (event types), not " +
          "entity-keyed chains")
      cells
    }

    def states(cells: Array[(String, String, Long)]): Array[String] =
      (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted

    /** P(f,t) = r9(n_ft / n_f·) — the former windowed row-total plan. */
    def rowStochastic(cells: Array[(String, String, Long)])
        : Map[(String, String), Double] = {
      val tot = cells.groupBy(_._1).map { case (f, rs) =>
        f -> rs.map(_._3).sum }
      cells.map { case (f, t, n) =>
        (f, t) -> r9(n.toDouble / tot(f).toDouble) }.toMap
    }

    /** π·P: per target t, exact-decimal Σ_f dec9(r9(π_f · P_ft)). */
    def pushForward(pmat: Map[(String, String), Double],
                    pi: Map[String, Double]): Map[String, JBD] =
      pmat.toSeq.groupBy(_._1._2).map { case (t, es) =>
        t -> es.foldLeft(JBD.ZERO) { case (acc, ((f, _), p)) =>
          acc.add(dec9(r9(pi(f) * p))) }
      }

    /** P·v: per source f, exact-decimal Σ_t dec9(r9(P_ft · v_t)). */
    def pullBack(pmat: Map[(String, String), Double],
                 v: Map[String, Double]): Map[String, JBD] =
      pmat.toSeq.groupBy(_._1._1).map { case (f, es) =>
        f -> es.foldLeft(JBD.ZERO) { case (acc, ((_, t), p)) =>
          acc.add(dec9(r9(p * v(t)))) }
      }

    def literal(spark: org.apache.spark.sql.SparkSession,
                rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), schema)
  }

  /** Off-policy evaluation of "always play action a" policies from a
    * logged bandit feed — IPS and SNIPS (Horvitz-Thompson 1952;
    * self-normalized per Swaminathan & Joachims 2015), the standard
    * counterfactual readout before any targeting/curation policy change
    * ships: what reward WOULD each candidate action have earned, using
    * only the logged (action, reward, propensity) triples?
    * {{{
    *   w_i     = 1[a_i = a] / p_i
    *   IPS(a)  = Σ w_i·r_i / n            (unbiased, high variance)
    *   SNIPS(a)= Σ w_i·r_i / Σ w_i        (biased, much lower variance)
    *   ESS(a)  = (Σ w_i)² / Σ w_i²        (how many logged rows
    *                                       effectively support a)
    * }}}
    * `propensity` is the LOGGER's recorded probability of the logged
    * action (a real pipeline stores it at decision time; callers
    * without one can plant a deterministic stand-in — the x457 entry
    * does, via the md5 bucket). Propensities must be > 0 (loud
    * require via filter-time assert below): a zero propensity means
    * the logging policy could never play that row's action and the
    * estimator is undefined on it.
    *
    * Determinism: every summed term (w, w·r, w²) is 9-dp rounded and
    * DECIMAL-accumulated (the x346 rule — w is 1/p, a division, so the
    * terms are off-grid doubles). Readouts 6-dp with the sign-of-zero
    * canon (rewards may be negative, so IPS/SNIPS can round to ±0).
    *
    * Scale shape: one crossJoin with the BOUNDED broadcast candidate
    * list (k·n rows, k = #candidates), one map-side-combined groupBy —
    * no window, no second scan, no driver state.
    *
    * @return one row per candidate: (target_action, n, n_match,
    *         mean_logged_reward, ips, snips, ess) ordered by action
    */
  def ipsOffPolicy(df: DataFrame, actionCol: String, rewardCol: String,
                   propensity: Column,
                   targetActions: Seq[String]): DataFrame = {
    require(targetActions.nonEmpty && targetActions.distinct.size ==
      targetActions.size, s"bad candidate set $targetActions")
    val spark = df.sparkSession
    import spark.implicits._
    val cands = targetActions.toDF("target_action")
    val base = df.select(F.col(actionCol).as("__a"),
        F.col(rewardCol).cast("double").as("__r"),
        propensity.cast("double").as("__p"))
      .filter(F.col("__a").isNotNull && F.col("__r").isNotNull)
      .withColumn("__p", F.when(F.col("__p") > 0.0, F.col("__p"))
        .otherwise(F.raise_error(F.concat(
          F.lit("ipsOffPolicy: non-positive propensity "),
          F.col("__p").cast("string"),
          F.lit(" — the logging policy could never have played this " +
            "row's action; fix the logged propensities upstream.")))))
    val scored = base.crossJoin(F.broadcast(cands))
      .withColumn("__w", F.when(F.col("__a") === F.col("target_action"),
        F.lit(1.0) / F.col("__p")).otherwise(0.0))
    val agg = scored.groupBy("target_action").agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(F.col("__w") > 0.0, 1L).otherwise(0L)).as("n_match"),
      F.sum(Quant.dec9(F.col("__r"))).as("__sr"),
      F.sum(Quant.dec9(F.col("__w") * F.col("__r"))).as("__swr"),
      F.sum(Quant.dec9(F.col("__w"))).as("__sw"),
      F.sum(Quant.dec9(F.col("__w") * F.col("__w"))).as("__sw2"))
    agg.select(F.col("target_action"), F.col("n"), F.col("n_match"),
        Quant.noNegZero(F.round(F.col("__sr").cast("double") /
          F.col("n").cast("double"), 6)).as("mean_logged_reward"),
        Quant.noNegZero(F.round(F.col("__swr").cast("double") /
          F.col("n").cast("double"), 6)).as("ips"),
        Quant.noNegZero(F.round(F.col("__swr").cast("double") /
          F.nullif(F.col("__sw").cast("double"), F.lit(0.0)), 6))
          .as("snips"),
        Quant.noNegZero(F.round(
          F.col("__sw").cast("double") * F.col("__sw").cast("double") /
            F.nullif(F.col("__sw2").cast("double"), F.lit(0.0)), 6))
          .as("ess"))
      .orderBy("target_action")
  }

}
