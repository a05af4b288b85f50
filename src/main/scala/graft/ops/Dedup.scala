package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines — extension surface
  * beyond the reference (builder prompt; SURVEY.md §7 step 10).
  *
  * Scale design notes (the 100 TB story):
  *  - exact dedup is one hash-shuffle on the fingerprint — the groupBy key
  *    is the md5/xxhash of the content, never the content itself, so the
  *    shuffle moves 16-byte keys + ids, not documents.
  *  - MinHash signatures and SimHash bits are computed per-row with
  *    higher-order functions (one projection, no shuffle, stays in
  *    whole-stage codegen). Only the (band, hash) candidate join shuffles,
  *    and it shuffles signatures (bytes), not text.
  *  - candidate pairs are generated by equi-joining on LSH buckets; the
  *    quadratic blow-up is confined to a bucket. `maxBucket` caps
  *    pathological buckets (boilerplate docs) — the standard skew guard.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content.
    * `row_number` over the content hash compiles to WindowGroupLimit
    * (partial top-1 per map task before the shuffle). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactBy(df, idCol, TextOps.fingerprint(F.col(textCol)))

  /** [[exact]] generalized to any deterministic key expression (emitted as
    * column `fp`): e.g. [[TextOps.bowFingerprint]] for token-order- and
    * multiplicity-insensitive dedup, or a (lang, fingerprint) struct for
    * per-language dedup. Same one-shuffle WindowGroupLimit shape. */
  def exactBy(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(F.col(idCol).asc)
    df.withColumn("fp", key)
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep-BEST exact dedup: within each duplicate cluster keep the row
    * that MAXIMIZES `score` (ties → lowest id) instead of [[exactBy]]'s
    * keep-first — the CCNet/RefinedWeb policy of keeping the longest or
    * highest-quality copy of a duplicated page rather than whichever id
    * sorts first. `key` is the cluster fingerprint (emitted as column
    * `fp`), `score` any deterministic expression over the row (length,
    * a quality score, -perplexity).
    *
    * Same one-shuffle shape as [[exactBy]]: the rank-1 filter compiles to
    * WindowGroupLimit, so each map partition forwards only its best row
    * per fingerprint — a corpus-universal boilerplate page reaches the
    * reducer as ≤ numPartitions candidates, not its full copy count. */
  def exactKeepBest(df: DataFrame, idCol: String, key: Column,
                    score: Column): DataFrame = {
    val w = Window.partitionBy("fp")
      .orderBy(F.col("__score").desc, F.col(idCol).asc)
    df.withColumn("fp", key)
      .withColumn("__score", score)
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .drop("__rn", "__score")
  }

  /** Cross-source duplicate-containment matrix — for every ORDERED source
    * pair, how much of source A's distinct content already exists in
    * source B:
    * {{{
    *   containment(A→B) = |FP_A ∩ FP_B| / |FP_A|
    * }}}
    * over exact normalized fingerprints ([[graft.ops.TextOps
    * .fingerprint]]). The crawl-planning readout [[graft.ops.TextOps
    * .jsMatrix]]'s distributional divergence cannot give: JS says two
    * sources WRITE alike, containment says one source IS the other —
    * "src_mirror is 96% contained in src_canonical" means dropping the
    * mirror costs ~nothing, which is how dedup budgets between crawls,
    * dumps, and re-hosted corpora are actually decided.
    *
    * Determinism: exact longs off one distinct (source, fp) census and
    * one fp-keyed equi-join; containment one 6-dp IEEE division.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, 16-byte fp)
    * rows before anything joins — text never shuffles. The shared census
    * is one fp-keyed self-join: a fingerprint held by k sources emits
    * k(k−1) ordered pair rows, bounded by S² per fingerprint with S =
    * source count (a grouping domain, not data-scale). The S-row totals
    * and the S² grid ride broadcasts; zero-overlap pairs are kept (a
    * zero IS the answer "safe to treat as independent").
    *
    * @return ordered pairs (src_a, src_b, n_fp_a, n_shared, containment)
    *         for src_a ≠ src_b, ordered by (src_a, src_b)
    */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String,
                          textCol: String): DataFrame = {
    val fps = df.select(F.col(groupCol).cast("string").as("__g"),
        TextOps.fingerprint(F.col(textCol)).as("__fp"))
      .distinct().localCheckpoint() // one census, read by all 3 consumers
    val tot = fps.groupBy("__g").agg(F.count(F.lit(1)).as("__n"))
    val shared = fps.select(F.col("__g").as("src_a"), F.col("__fp"))
      .join(fps.select(F.col("__g").as("src_b"), F.col("__fp")), Seq("__fp"))
      .filter(F.col("src_a") =!= F.col("src_b"))
      .groupBy("src_a", "src_b").agg(F.count(F.lit(1)).as("n_shared"))
    val grid = tot.select(F.col("__g").as("src_a"), F.col("__n").as("n_fp_a"))
      .crossJoin(F.broadcast(tot.select(F.col("__g").as("src_b"))))
      .filter(F.col("src_a") =!= F.col("src_b"))
    grid.join(shared, Seq("src_a", "src_b"), "left_outer")
      .select(F.col("src_a"), F.col("src_b"), F.col("n_fp_a"),
        F.coalesce(F.col("n_shared"), F.lit(0L)).as("n_shared"),
        F.round(F.coalesce(F.col("n_shared"), F.lit(0L)).cast("double") /
          F.nullif(F.col("n_fp_a").cast("double"), F.lit(0.0)), 6)
          .as("containment"))
      .orderBy("src_a", "src_b")
  }

  /** Distinct character-shingle sets per row — as 64-bit shingle HASHES, not
    * strings: the collect_set shuffle then carries 8 B per shingle instead of
    * an n-char string, and downstream set intersection compares longs.
    * Jaccard over hashed sets equals Jaccard over the strings up to 64-bit
    * collisions (~|set|²/2⁶⁴ — negligible). Built relationally (explode →
    * collect_set) so the normalization runs once per doc and the substring
    * extraction stays codegen'd — a per-row `transform` lambda would be
    * interpreted AND re-evaluate the regexp per element. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglePairs(df, idCol, textCol, n)
      .groupBy(idCol)
      .agg(F.collect_set(F.col("__s")).as("__sh"))

  /** RAW (id, shingle-hash) pairs, duplicates included — [[shingleSets]]
    * without the collect_set: a consumer that dedups via its own aggregate
    * (e.g. [[contamination]]'s count_distinct) would otherwise pay a
    * groupBy(id) shuffle plus array build/unpack purely to round-trip
    * through a set column. A pure shuffle-free projection via the native
    * [[graft.functions.ShingleHashes]] array expression (bit-identical to
    * the old explode(positions)→substr→xxhash64 chain, OpsSpec-pinned) —
    * the position-explode form copied the full cleaned document onto
    * every shingle row before hashing, ~doc-length× row amplification
    * through the Generate; here the explode carries bare longs. Null
    * text yields no rows (the old form emitted one hash-of-null
    * phantom). The single definition of the shingle normalization
    * math. */
  private[graft] def shinglePairs(df: DataFrame, idCol: String, textCol: String,
                                  n: Int): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    df.select(F.col(idCol), F.explode(GraftExpr.column(
      graft.functions.ShingleHashes(GraftExpr.expression(F.col(textCol)), n)))
      .as("__s"))
  }

  /** MinHash signatures via the native [[graft.functions.MinHashSig]]
    * expression: one tight-loop projection per document — no shingle row
    * amplification, no aggregate machinery — ended with a repartition on the
    * id so the (multi-consumer) candidate-generation pipeline materializes
    * the signatures ONCE behind an exchange instead of recomputing the
    * projection per consumer. The shuffle carries (id, numHashes×8 B) per
    * document, which is the minimum any distributed MinHash needs to move.
    * Bit-identical to [[minhashSignaturesRelational]] (cross-checked in
    * OpsSpec). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    // spread the narrow scan so the per-doc signature loop parallelizes
    Scale.spreadNarrowScan(df.filter(F.col(idCol).isNotNull))
      .select(F.col(idCol),
        GraftExpr.column(graft.functions.MinHashSig(
          GraftExpr.expression(F.col(textCol)), shingleSize, numHashes)).as("__sig"))
      .repartition(F.col(idCol))
  }

  /** Relational formulation of [[minhashSignatures]]: explode shingles →
    * hash each once → `numHashes` codegen'd `min` aggregates in one
    * HashAggregate. Kept as the pure-DataFrame reference implementation the
    * native expression is verified against.
    *
    * Why this shape: higher-order-function lambdas evaluate interpreted in
    * Spark (no whole-stage codegen), so a per-row functional fold costs
    * ~25 s on 5k docs; the explode+groupBy plan keeps everything inside
    * codegen and does map-side partial aggregation, so the shuffle carries
    * only (id, 64×8 B) per document — the shape that survives 100 TB.
    *
    * The hash family is Carter-Wegman universal hashing mod the Mersenne
    * prime 2^31-1: m_i = (a_i·h31 + b_i) mod p over the low 31 bits of one
    * xxhash64. The mod is essential — a plain multiply-add (no mod) is
    * MONOTONIC in h, so every family member attains its min at the same
    * shingle and the "independent" signature positions all collapse to a
    * function of min(h); bands then collide for every similar-ish pair and
    * candidate generation goes quadratic. 31-bit operands keep products
    * ≤ 2^62 (Spark 4 runs ANSI mode: long wrap-around throws).
    *
    * The text is normalized in its own projection and shingles are exploded
    * BEFORE substring/hashing: embedding the regexp in the per-shingle
    * lambda makes Catalyst re-evaluate it per element (it inlines
    * single-use projections), which costs more than everything else
    * combined. Duplicate shingles need no dedup — `min` is idempotent. */
  def minhashSignaturesRelational(df: DataFrame, idCol: String, textCol: String,
                                  shingleSize: Int, numHashes: Int): DataFrame = {
    val p = graft.functions.TextSketches.MersennePrime
    val (a, b) = graft.functions.TextSketches.minhashSeeds(numHashes)
    val clean = F.regexp_replace(F.lower(F.col(textCol)), "\\s+", " ")
    val mins = (0 until numHashes).map(i =>
      F.min(F.pmod(F.lit(a(i)) * F.col("__h31") + F.lit(b(i)), F.lit(p))).as(s"__m$i"))
    // Null-id rows can never appear in an output pair (the a < b predicate
    // filters them), but that predicate pushes IsNotNull into the two join
    // branches ONLY — leaving the skew-census branch with a different scan,
    // which defeats AQE stage reuse and computes this whole stage twice.
    // Filtering here keeps all consumers on one canonical (reused) subplan.
    df.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol), clean.as("__clean"))
      .select(F.col(idCol), F.col("__clean"),
        F.explode(F.sequence(F.lit(1),
          F.greatest(F.length(F.col("__clean")) - (shingleSize - 1), F.lit(1)))).as("__i"))
      .select(F.col(idCol),
        F.xxhash64(F.col("__clean").substr(F.col("__i"), F.lit(shingleSize)))
          .bitwiseAND(F.lit(0x7FFFFFFFL)).as("__h31"))
      .groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(F.col(idCol),
        F.array((0 until numHashes).map(i => F.col(s"__m$i")): _*).as("__sig"))
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard ≥ threshold.
    * signature → `bands` bands of `numHashes/bands` rows; docs sharing any
    * band bucket become candidates; est. Jaccard = fraction of equal
    * signature positions.
    *
    * @param maxBucket skew guard: buckets larger than this are dropped
    *                  (boilerplate/empty docs would otherwise go quadratic)
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 8,
                   threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands // r=8 → banding threshold (1/b)^(1/r) ≈ 0.77:
    // high recall for true near-dups (j ≥ 0.8: ~95%), few candidates from the
    // j≈0.2 background noise — candidate count is what explodes at scale.
    val sigged = minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
    candidatePairsFromSignatures(sigged, idCol, bands, rows, threshold, maxBucket)
  }

  /** Banded-LSH candidate pairs from ANY `(id, __sig)` signature relation
    * — the single definition of the band→bucket→guard→join→threshold
    * pipeline, shared by the text generator ([[minhashPairs]]) and the
    * binary-payload generator ([[graft.ops.Multimodal.mediaNearDupPairs]]);
    * the signature family only has to agree on the Carter-Wegman math for
    * `est_jaccard` semantics to carry over. */
  private[graft] def candidatePairsFromSignatures(sigged: DataFrame,
      idCol: String, bands: Int, rows: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val banded = bandRows(sigged, idCol, bands, rows)

    // skew guard: drop degenerate buckets before the self-join. The
    // oversized-bucket list is found with a map-side-combined groupBy (not a
    // window count, which would add a full sort of every banded row) and is
    // tiny by construction, so it broadcasts into a left_anti join.
    val oversized = banded.groupBy("band", "bh").count()
      .filter(F.col("count") > maxBucket).select("band", "bh")
    val sized = banded.join(F.broadcast(oversized), Seq("band", "bh"), "left_anti")

    val l = sized.select(F.col("band"), F.col("bh"), F.col(idCol).as("a"), F.col("__sig").as("__siga"))
    val r = sized.select(F.col("band"), F.col("bh"), F.col(idCol).as("b"), F.col("__sig").as("__sigb"))
    import org.apache.spark.sql.GraftExpr
    // positionwise signature agreement via the native SigEqFrac expression
    // (one codegen'd loop; the earlier zip_with+aggregate pair ran an
    // interpreted lambda per element). Compare + threshold BEFORE the pair
    // dedup: dropDuplicates is a shuffle of every candidate row — and here
    // each row drags two numHashes-long signatures (~1 KB) through the wire
    // — while the filter is a projection that kills most candidates; a
    // duplicate compare ≤ bands× per surviving pair is noise (cf.
    // Similarity.nearDupPairs, measured 13× at 10× scale).
    l.join(r, Seq("band", "bh")).filter(F.col("a") < F.col("b"))
      .select(F.col("a"), F.col("b"),
        GraftExpr.column(graft.functions.SigEqFrac(
          GraftExpr.expression(F.col("__siga")),
          GraftExpr.expression(F.col("__sigb")))).as("est_jaccard"))
      .filter(F.col("est_jaccard") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** (id, sig, band, bh) rows: each signature exploded into its `bands`
    * band hashes — the single definition of the banding math, shared by the
    * self-join ([[minhashPairs]]) and delta ([[minhashPairsDelta]])
    * generators. A pure projection (explode in place, no shuffle). */
  private def bandRows(sigged: DataFrame, idCol: String,
                       bands: Int, rows: Int): DataFrame =
    sigged.select(
      F.col(idCol), F.col("__sig"),
      F.explode(F.array((0 until bands).map { b =>
        F.struct(F.lit(b).as("band"),
          F.xxhash64(F.slice(F.col("__sig"), b * rows + 1, rows)).as("bh"))
      }: _*)).as("__band"))
      .select(F.col(idCol), F.col("__sig"), F.col("__band.band"), F.col("__band.bh"))

  /** Incremental near-dup: MinHash-LSH candidate pairs (a = corpus id,
    * b = batch id) between a FROZEN corpus and an ingest batch — the
    * approximate companion to [[dedupDelta]] (which only catches exact
    * fingerprint matches): "is anything in today's batch a near-duplicate
    * of the petabytes we already hold?". Same banding math, threshold
    * semantics, and signature family as [[minhashPairs]] (OpsSpec pins
    * cross-pair equality with the self-join generator on a union).
    *
    * Scale shape: the corpus is scanned ONCE through the signature/banding
    * projection and never fully shuffles — its banded rows are semi-joined
    * against the BROADCAST distinct bucket set of the batch, so only
    * batch-relevant corpus rows survive; those survivors (≈ batch-bucket
    * count × bucket size) go behind one small repartition exchange that AQE
    * reuses for both consumers (skew census + candidate join). The batch
    * side broadcasts outright. Skew guard: bucket sizes are censused on the
    * SURVIVOR set (batch rows + batch-relevant corpus rows), so a
    * boilerplate bucket hot on either side is dropped by the same
    * `maxBucket` rule as the self-join — without ever censusing the full
    * corpus. */
  def minhashPairsDelta(corpus: DataFrame, delta: DataFrame, idCol: String,
                        textCol: String, shingleSize: Int = 5,
                        numHashes: Int = 64, bands: Int = 8,
                        threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // corpus: plain projection — NO trailing repartition (minhashSignatures'
    // exchange exists for the self-join's two full-relation consumers; here
    // the full corpus has exactly one consumer, the semi-join)
    val cSig = corpus.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol),
        org.apache.spark.sql.GraftExpr.column(graft.functions.MinHashSig(
          org.apache.spark.sql.GraftExpr.expression(F.col(textCol)),
          shingleSize, numHashes)).as("__sig"))
    val dB = bandRows(
      minhashSignatures(delta, idCol, textCol, shingleSize, numHashes),
      idCol, bands, rows)
    val dBuckets = dB.select("band", "bh").distinct()
    // batch-relevant corpus rows only; repartition so census + join reuse
    // ONE exchange instead of re-running the signature projection
    val cCand = bandRows(cSig, idCol, bands, rows)
      .join(F.broadcast(dBuckets), Seq("band", "bh"), "left_semi")
      .repartition(F.col("band"), F.col("bh"))
    val oversized = cCand.select("band", "bh")
      .unionAll(dB.select("band", "bh"))
      .groupBy("band", "bh").count()
      .filter(F.col("count") > maxBucket).select("band", "bh")
    val l = cCand.join(F.broadcast(oversized), Seq("band", "bh"), "left_anti")
      .select(F.col("band"), F.col("bh"), F.col(idCol).as("a"), F.col("__sig").as("__siga"))
    val r = dB.join(F.broadcast(oversized), Seq("band", "bh"), "left_anti")
      .select(F.col("band"), F.col("bh"), F.col(idCol).as("b"), F.col("__sig").as("__sigb"))
    import org.apache.spark.sql.GraftExpr
    l.join(F.broadcast(r), Seq("band", "bh"))
      .select(F.col("a"), F.col("b"),
        GraftExpr.column(graft.functions.SigEqFrac(
          GraftExpr.expression(F.col("__siga")),
          GraftExpr.expression(F.col("__sigb")))).as("est_jaccard"))
      .filter(F.col("est_jaccard") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** Exact n-gram Jaccard for given candidate pairs (the verify stage after
    * MinHash). `pairs` must have columns (a, b). Only docs that actually
    * appear in a pair are shingled (semi-join first) — the candidate set is
    * tiny relative to the corpus, so shingling everything would dominate. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 5): DataFrame = {
    // `pairs` is typically the output of an LSH candidate generator and gets
    // consumed three times below (two id-scans + the join probe). Its final
    // projection/filter sit above the generator's last exchange, so each
    // consumer would re-run them over every candidate; an explicit
    // repartition inserts an exchange at the consumption point that AQE
    // materializes ONCE and reuses — the generator runs a single time.
    val p = pairs.select(F.col("a"), F.col("b")).repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val needed = docs.join(ids, Seq(idCol), "leftsemi")
    val sh = shingleSets(needed, idCol, textCol, shingleSize)
    p
      .join(sh.select(F.col(idCol).as("a"), F.col("__sh").as("__sha")), "a")
      .join(sh.select(F.col(idCol).as("b"), F.col("__sh").as("__shb")), "b")
      .select(F.col("a"), F.col("b"),
        (F.size(F.array_intersect(F.col("__sha"), F.col("__shb"))).cast("double") /
          F.size(F.array_union(F.col("__sha"), F.col("__shb")))).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT per candidate pair — the direction
    * signal [[ngramJaccard]]'s symmetric score blurs: C(a→b) = |A∩B|/|A|
    * ≈ 1 means document a is (near-)contained in b — a quote, an excerpt,
    * a template instance — even when the Jaccard is low because b is much
    * larger. Dedup POLICY needs the direction (keep the superset, drop
    * the quote); this emits both directions plus the shingle-set sizes.
    *
    * Same pair-list-bounded shape as [[ngramJaccard]]: only docs named in
    * `pairs` shingle, the pair list is the join probe, nothing quadratic.
    *
    * @return (a, b, inter, size_a, size_b, contain_a, contain_b) —
    *         contain_a = |A∩B|/|A| 6-dp, the fraction of a inside b
    */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, shingleSize: Int = 5): DataFrame = {
    val p = pairs.select(F.col("a"), F.col("b")).repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val needed = docs.join(ids, Seq(idCol), "leftsemi")
    val sh = shingleSets(needed, idCol, textCol, shingleSize)
    p
      .join(sh.select(F.col(idCol).as("a"), F.col("__sh").as("__sha")), "a")
      .join(sh.select(F.col(idCol).as("b"), F.col("__sh").as("__shb")), "b")
      .select(F.col("a"), F.col("b"),
        F.size(F.array_intersect(F.col("__sha"), F.col("__shb"))).as("inter"),
        F.size(F.col("__sha")).as("size_a"),
        F.size(F.col("__shb")).as("size_b"))
      .withColumn("contain_a", F.round(
        F.col("inter").cast("double") /
          F.nullif(F.col("size_a").cast("double"), F.lit(0.0)), 6))
      .withColumn("contain_b", F.round(
        F.col("inter").cast("double") /
          F.nullif(F.col("size_b").cast("double"), F.lit(0.0)), 6))
  }

  /** LSH banding planner, calibrated on YOUR corpus (the MMDS ch.3
    * s-curve, evaluated against a measured pair-similarity sample
    * instead of a guessed distribution): for every (bands b, rows r)
    * factorization of the signature, the catch probability
    * q(s) = 1 − (1 − s^r)^b integrates over the sampled similarity
    * distribution into the two numbers that pick the config —
    * expected false-candidate rate below the threshold (wasted verify
    * joins) and expected miss rate at/above it (lost duplicates).
    *
    * Engine determinism: s lives on the k-component grid (matches/k);
    * the powers are EXPLICIT SQUARING CHAINS (s², (s²)², …) — `pow`
    * is not correctly-rounded everywhere, chained IEEE multiplies are
    * bit-identical in every engine; per-pair q/(1−q) terms 9-dp
    * DECIMAL-accumulate.
    *
    * Scale shape: one projection over the (already corpus-linear)
    * sims sample exploding the ≤5 configs, one rollup keyed by
    * config. The SAMPLE is the caller's (random disjoint pairs — the
    * x418 idiom — keep it a sample at 100 TB, never all-pairs).
    *
    * @param sims one row per sampled pair with `simCol` ∈ [0,1]
    * @return per config: (bands, rows_per_band, n_pairs,
    *         share_above_t, q_at_t, exp_fp_rate, exp_fn_rate) — 6-dp
    */
  def lshBandingPlan(sims: DataFrame, simCol: String, nComponents: Int,
                     threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, s"bad threshold $threshold")
    require(nComponents >= 2 && (nComponents & (nComponents - 1)) == 0,
      s"nComponents must be a power of 2 >= 2 (got $nComponents): every " +
        "(bands, rows) split must have power-of-2 rows for the exact " +
        "squaring-chain evaluation of s^r")
    val configs: Seq[(Int, Int)] = (0 to 30)
      .map(i => 1 << i).takeWhile(_ <= nComponents)
      .filter(b => nComponents % b == 0)
      .map(b => (b, nComponents / b))
    def chain(c: Column, e: Int): Column = {
      require(e >= 1 && (e & (e - 1)) == 0, s"exponent $e not a power of 2")
      Iterator.iterate(c)(x => x * x)
        .drop(Integer.numberOfTrailingZeros(e)).next()
    }
    def q(s: Column, b: Int, r: Int): Column =
      F.lit(1.0) - chain(F.lit(1.0) - chain(s, r), b)
    val s = F.col("__s")
    val rows = sims.select(F.col(simCol).cast("double").as("__s"))
      .filter(s.isNotNull && s >= 0.0 && s <= 1.0)
      .select(s, F.explode(F.array(configs.map { case (b, r) =>
        F.struct(F.lit(b).as("bands"), F.lit(r).as("rows_per_band"),
          q(s, b, r).as("__q"))
      }: _*)).as("__c"))
      .select(s, F.col("__c.bands"), F.col("__c.rows_per_band"),
        F.col("__c.__q").as("__q"))
    val agg = rows.groupBy("bands", "rows_per_band").agg(
      F.count(F.lit(1)).as("n_pairs"),
      F.sum(F.when(s >= threshold, 1L).otherwise(0L)).as("__nab"),
      F.sum(F.when(s < threshold, Quant.dec9(F.col("__q")))
        .otherwise(F.lit(0).cast("decimal(38,9)"))).as("__fp"),
      F.sum(F.when(s >= threshold, Quant.dec9(F.lit(1.0) - F.col("__q")))
        .otherwise(F.lit(0).cast("decimal(38,9)"))).as("__fn"))
    val qt = configs.map { case (b, r) =>
      (b, r, {  // same squaring chain, driver-side IEEE — identical
        var sr = threshold; var i = r; while (i > 1) { sr = sr * sr; i /= 2 }
        var one = 1.0 - sr; var j = b; while (j > 1) { one = one * one; j /= 2 }
        1.0 - one
      })
    }
    val spark = sims.sparkSession
    import spark.implicits._
    val qtDf = qt.toDF("bands", "rows_per_band", "__qt")
    agg.join(F.broadcast(qtDf), Seq("bands", "rows_per_band"))
      .select(F.col("bands"), F.col("rows_per_band"), F.col("n_pairs"),
        F.round(F.col("__nab").cast("double") /
          F.nullif(F.col("n_pairs").cast("double"), F.lit(0.0)), 6)
          .as("share_above_t"),
        F.round(F.col("__qt"), 6).as("q_at_t"),
        F.round(F.col("__fp").cast("double") /
          F.nullif((F.col("n_pairs") - F.col("__nab")).cast("double"),
            F.lit(0.0)), 6).as("exp_fp_rate"),
        F.round(F.col("__fn").cast("double") /
          F.nullif(F.col("__nab").cast("double"), F.lit(0.0)), 6)
          .as("exp_fn_rate"))
      .orderBy("bands")
  }

  /** Mark [[lshBandingPlan]]'s winning (bands, rows) split — THE single
    * definition of the auto-banding choice rule, shared by the driver
    * path ([[planBands]]) and the oracle-able plan readout. The rule,
    * on the planner's 6-dp outputs (so any engine replays the choice):
    *  1. a config is `eligible` when its miss rate ≤ 1 − recallFloor,
    *     where the miss rate is the MEASURED `exp_fn_rate` when the
    *     sample had positives, else the ANALYTIC at-threshold miss
    *     `1 − q_at_t` (a no-positive sample leaves recall unmeasured —
    *     treating it as zero would let the fp tie-break pick the
    *     worst-recall split, e.g. bands=1);
    *  2. among eligible configs pick the lowest `exp_fp_rate` (the
    *     wasted-verify-join cost — the number that explodes at scale);
    *  3. if nothing meets the floor, pick the lowest miss rate, then
    *     lowest `exp_fp_rate`;
    *  4. ties break on fewest bands (cheapest banding projection).
    * Implemented as one deterministic ORDER BY (eligible-first, then a
    * branch-dependent cost key), so it is a row_number window — no
    * driver logic, replayable in SQL.
    *
    * @return the plan with `eligible` and `chosen` appended, ordered
    *         by bands
    */
  def markChosenBanding(plan: DataFrame,
                        recallFloor: Double = 0.9): DataFrame = {
    require(recallFloor > 0.0 && recallFloor < 1.0,
      s"recallFloor must be in (0,1), got $recallFloor")
    val miss = F.coalesce(F.col("exp_fn_rate"),
      F.lit(1.0) - F.col("q_at_t"))
    val elig = miss <= F.lit(1.0 - recallFloor)
    val k1 = F.when(elig, F.coalesce(F.col("exp_fp_rate"), F.lit(0.0)))
      .otherwise(miss)
    val k2 = F.when(elig, F.lit(0.0))
      .otherwise(F.coalesce(F.col("exp_fp_rate"), F.lit(0.0)))
    val w = Window.orderBy(elig.desc, k1.asc, k2.asc, F.col("bands").asc)
    plan.withColumn("eligible", elig)
      .withColumn("chosen", F.row_number().over(w) === 1)
      .orderBy("bands")
  }

  /** Corpus-calibrated (bands, rows_per_band) for a `numHashes`-long
    * MinHash signature: sample `samplePairs` deterministic disjoint
    * random pairs (md5-ranked ids — the x418 idiom, replayable), score
    * each pair's similarity as its signature-agreement fraction (the
    * same matches/k grid [[lshBandingPlan]] integrates over), and apply
    * [[markChosenBanding]]'s rule. The whole calibration is one
    * signature-projection pass + a top-(2·samplePairs) take — the
    * sample never grows with the corpus.
    *
    * @return the chosen (bands, rows_per_band), as plain literals for
    *         the follow-on banding plan
    */
  def planBands(sigged: DataFrame, idCol: String, numHashes: Int,
                threshold: Double, samplePairs: Int = 256,
                recallFloor: Double = 0.9,
                seed: String = "bandplan"): (Int, Int) = {
    require(samplePairs >= 8 && samplePairs <= 65536,
      s"samplePairs out of range: $samplePairs")
    import org.apache.spark.sql.GraftExpr
    val idS = F.col(idCol).cast("string")
    val taken = sigged
      .select(F.col(idCol), F.col("__sig"),
        F.md5(F.concat(F.lit(s"$seed:"), idS)).as("__h"))
      .orderBy(F.col("__h"), idS)
      .limit(2 * samplePairs) // TakeOrdered: top-k per partition + merge
      .coalesce(1)
      .withColumn("__rn",
        F.row_number().over(Window.orderBy(F.col("__h"), idS)))
    val a = taken.filter((F.col("__rn") - 1L) % 2L === 0L)
      .select(F.call_function("div", F.col("__rn") - 1L, F.lit(2L))
        .as("__pair"), F.col("__sig").as("__siga"))
    val b = taken.filter((F.col("__rn") - 1L) % 2L === 1L)
      .select(F.call_function("div", F.col("__rn") - 1L, F.lit(2L))
        .as("__pair"), F.col("__sig").as("__sigb"))
    val sims = a.join(b, "__pair")
      .select(GraftExpr.column(graft.functions.SigEqFrac(
        GraftExpr.expression(F.col("__siga")),
        GraftExpr.expression(F.col("__sigb")))).as("sim"))
    val chosen = markChosenBanding(
        lshBandingPlan(sims, "sim", numHashes, threshold), recallFloor)
      .filter(F.col("chosen"))
      .select("bands", "rows_per_band")
      .collect() // ≤ log2(numHashes)+1 plan rows ever exist
    require(chosen.nonEmpty,
      "planBands: empty banding plan — no valid sampled pairs " +
        "(corpus smaller than 2 docs, or every sampled sim NULL)")
    (chosen(0).getInt(0), chosen(0).getInt(1))
  }

  /** [[minhashPairs]] with the banding split CALIBRATED ON YOUR CORPUS
    * instead of the fixed default: signatures once, [[planBands]] picks
    * (bands, rows) from a deterministic random-pair sample, then the
    * production candidate pipeline runs with the chosen split as plain
    * literals. Same output contract as [[minhashPairs]]; the fixed
    * default stays available (and unchanged) for pinned-config
    * pipelines. Costs one extra bounded sampling job before the main
    * pipeline — at 100 TB that is noise next to a mis-banded candidate
    * explosion the planner exists to prevent. */
  def minhashPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 5, numHashes: Int = 64,
                       threshold: Double = 0.5, maxBucket: Int = 1000,
                       samplePairs: Int = 256, recallFloor: Double = 0.9,
                       seed: String = "bandplan"): DataFrame = {
    val sigged = minhashSignatures(df, idCol, textCol, shingleSize,
      numHashes)
    val (bands, rows) = planBands(sigged, idCol, numHashes, threshold,
      samplePairs, recallFloor, seed)
    candidatePairsFromSignatures(sigged, idCol, bands, rows, threshold,
      maxBucket)
  }

  /** Default per-element hash for the weighted-MinHash family: xxhash64
    * masked to 31 bits so Carter-Wegman products stay ≤ 2^62 (ANSI mode
    * throws on long overflow). The md5-prefix alternative used by oracle
    * entries is `c => F.conv(F.substring(F.md5(c), 1, 7), 16, 10)
    * .cast("long")`. */
  private val defaultElementHash: Column => Column =
    c => F.xxhash64(c).bitwiseAND(F.lit(0x7FFFFFFFL))

  /** TF-WEIGHTED MinHash signatures over whitespace tokens — weighted
    * Jaccard, where the set-based [[minhashSignatures]] is blind:
    * a page that repeats one paragraph 50× has set-Jaccard 1.0 against
    * the single-paragraph original, but its token DISTRIBUTION differs,
    * and boilerplate-vs-content decisions at 100 TB hinge on exactly
    * that. Weighting is the integer-expansion construction (Haveliwala
    * et al. 2000 / Gollapudi-Panigrahy 2006): token x with frequency w
    * contributes virtual elements (x,1)…(x,min(w,maxWeight)), so MinHash
    * over the expanded multiset estimates
    * {{{ J_W(A,B) = Σ_x min(w_A(x), w_B(x)) / Σ_x max(w_A(x), w_B(x)) }}}
    * exactly (the expanded sets' plain Jaccard IS J_W).
    *
    * Scale shape: token explode → (id, token) map-side-combined count →
    * bounded sequence explode (≤ maxWeight× the distinct-token rows,
    * NOT the raw token stream) → one HashAggregate of numHashes
    * codegen'd mins. Everything whole-stage-codegen; the id shuffle
    * carries (id, numHashes×8 B), the [[minhashSignaturesRelational]]
    * discipline. `maxWeight` caps the expansion — beyond it extra
    * copies stop telling near-dup policy anything and only add rows.
    *
    * @param elementHash per-element 31-bit hash; default xxhash64
    *                    (production). Oracle entries pass the md5-prefix
    *                    form so DuckDB replays the signature bit-for-bit.
    * @param seeds       optional Carter-Wegman (a, b) pairs (length
    *                    numHashes); default [[graft.functions
    *                    .TextSketches.minhashSeeds]]
    */
  def weightedMinhashSignatures(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 64, maxWeight: Int = 8,
      elementHash: Column => Column = defaultElementHash,
      seeds: Seq[(Long, Long)] = Nil): DataFrame = {
    require(numHashes >= 1 && numHashes <= 256,
      s"numHashes out of range: $numHashes")
    require(maxWeight >= 1 && maxWeight <= 64,
      s"maxWeight out of range: $maxWeight")
    val p = graft.functions.TextSketches.MersennePrime
    val ab: Seq[(Long, Long)] =
      if (seeds.nonEmpty) seeds
      else { val (a, b) = graft.functions.TextSketches.minhashSeeds(numHashes)
             a.zip(b).toSeq }
    require(ab.length == numHashes,
      s"seeds length ${ab.length} != numHashes $numHashes")
    val clean = F.regexp_replace(F.lower(F.col(textCol)), "\\s+", " ")
    val mins = ab.zipWithIndex.map { case ((a, b), i) =>
      F.min(F.pmod(F.lit(a) * F.col("__h") + F.lit(b), F.lit(p)))
        .as(s"__m$i") }
    df.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol), F.explode(F.split(clean, " ")).as("__tok"))
      .filter(F.col("__tok") =!= "")
      .groupBy(F.col(idCol), F.col("__tok"))
      .agg(F.least(F.count(F.lit(1)), F.lit(maxWeight.toLong)).as("__w"))
      .select(F.col(idCol), F.col("__tok"),
        F.explode(F.sequence(F.lit(1L), F.col("__w"))).as("__i"))
      .select(F.col(idCol), elementHash(F.concat(F.col("__tok"),
        F.lit(":"), F.col("__i").cast("string"))).as("__h"))
      .groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(F.col(idCol),
        F.array((0 until numHashes).map(i => F.col(s"__m$i")): _*)
          .as("__sig"))
  }

  /** Weighted near-dup candidate pairs: [[weightedMinhashSignatures]]
    * through the shared banding pipeline
    * ([[candidatePairsFromSignatures]] — same hot-bucket guard,
    * eq-fraction estimate, threshold, pair dedup as [[minhashPairs]]).
    * `est_jaccard` estimates the WEIGHTED Jaccard J_W. */
  def weightedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000, maxWeight: Int = 8,
      elementHash: Column => Column = defaultElementHash,
      seeds: Seq[(Long, Long)] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigged = weightedMinhashSignatures(df, idCol, textCol, numHashes,
        maxWeight, elementHash, seeds)
      .repartition(F.col(idCol))
    candidatePairsFromSignatures(sigged, idCol, bands, numHashes / bands,
      threshold, maxBucket)
  }

  /** EXACT weighted Jaccard for candidate pairs — the verify stage
    * behind [[weightedMinhashPairs]]'s estimate (the [[ngramJaccard]]
    * role): per pair, J_W = Σ min(w_a, w_b) / Σ max(w_a, w_b) over the
    * capped token frequencies. Token tables are leftsemi-pruned to the
    * pair ids before the per-pair full join, so cost is pair-bounded,
    * never corpus×corpus. Output: (a, b, w_jaccard) 6-dp. */
  def weightedJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxWeight: Int = 8): DataFrame = {
    val clean = F.regexp_replace(F.lower(F.col(textCol)), "\\s+", " ")
    val tf = docs.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol).as("__id"),
        F.explode(F.split(clean, " ")).as("__tok"))
      .filter(F.col("__tok") =!= "")
      .groupBy("__id", "__tok")
      .agg(F.least(F.count(F.lit(1)), F.lit(maxWeight.toLong)).as("__w"))
    val p = pairs.select(F.col("a"), F.col("b"))
    // ONE pruned token table, checkpointed: both pair sides consume it,
    // and without the checkpoint the corpus token census executes twice
    val ids = p.select(F.col("a").as("__id"))
      .unionByName(p.select(F.col("b").as("__id"))).distinct()
    val tfp = tf.join(ids, Seq("__id"), "leftsemi").localCheckpoint()
    val l = p.join(tfp, p("a") === tfp("__id"))
      .select(F.col("a"), F.col("b"), F.col("__tok"),
        F.col("__w").as("__wa"))
    val r = p.join(tfp, p("b") === tfp("__id"))
      .select(F.col("a"), F.col("b"), F.col("__tok"),
        F.col("__w").as("__wb"))
    l.join(r, Seq("a", "b", "__tok"), "full")
      .groupBy("a", "b")
      .agg(
        F.sum(F.least(F.coalesce(F.col("__wa"), F.lit(0L)),
          F.coalesce(F.col("__wb"), F.lit(0L)))).as("__num"),
        F.sum(F.greatest(F.coalesce(F.col("__wa"), F.lit(0L)),
          F.coalesce(F.col("__wb"), F.lit(0L)))).as("__den"))
      .select(F.col("a"), F.col("b"),
        F.round(F.col("__num").cast("double") /
          F.nullif(F.col("__den").cast("double"), F.lit(0.0)), 6)
          .as("w_jaccard"))
  }

  /** NEAR-DUP pair TRANSITIVITY audit — before collapsing candidate
    * pairs into clusters (connected components + keep-one), measure how
    * transitive the pair relation actually is: for every wedge
    * (u—m—v) in the pair graph, is the closing edge (u, v) also a
    * pair? A low closure rate means components CHAIN dissimilar docs
    * through middlemen (A≈B, B≈C, A≉C) and a components-based dedup
    * would over-merge — the number to read before trusting cluster
    * sizes.
    *
    * Scale shape: one wedge self-join at the shared member (the
    * triangle-family Σdeg² bound) — never all-pairs; members with pair
    * degree > `maxDegree` are EXCLUDED as wedge middles (the
    * linkPrediction cap rule: a hub middle is exactly the quadratic
    * blow-up, and its wedges are the least informative — they chain
    * everything); the closing-edge check is one leftsemi-shaped join
    * back onto the pair set. Capped-middle count rides along loudly.
    *
    * @param pairs candidate pairs with columns (a, b), a < b
    * @return one row: (n_pairs, n_middles_capped, n_wedges, n_closed,
    *         closure_rate 6-dp; NULL rate when no wedges)
    */
  def pairTransitivity(pairs: DataFrame, maxDegree: Int = 1000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val p = pairs.select(F.col("a"), F.col("b")).distinct().localCheckpoint()
    val adj = p.select(F.col("a").as("m"), F.col("b").as("n"))
      .unionByName(p.select(F.col("b").as("m"), F.col("a").as("n")))
    val deg = adj.groupBy("m").agg(F.count(F.lit(1)).as("__d"))
    val capped = deg.filter(F.col("__d") > maxDegree)
    val ctr = adj.join(F.broadcast(capped.select("m")), Seq("m"),
      "left_anti")
    val wedges = ctr.select(F.col("m"), F.col("n").as("u"))
      .join(ctr.select(F.col("m"), F.col("n").as("v")), Seq("m"))
      .filter(F.col("u") < F.col("v"))
      .select("u", "v").distinct()
    val closed = wedges.join(p,
      wedges("u") === p("a") && wedges("v") === p("b"), "left_semi")
    val one = p.agg(F.count(F.lit(1)).as("n_pairs"))
    one
      .crossJoin(F.broadcast(capped.agg(
        F.count(F.lit(1)).as("n_middles_capped"))))
      .crossJoin(F.broadcast(wedges.agg(
        F.count(F.lit(1)).as("n_wedges"))))
      .crossJoin(F.broadcast(closed.agg(
        F.count(F.lit(1)).as("n_closed"))))
      .select(F.col("n_pairs"), F.col("n_middles_capped"),
        F.col("n_wedges"), F.col("n_closed"),
        F.round(F.col("n_closed").cast("double") /
          F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)), 6)
          .as("closure_rate"))
  }

  /** Bottom-k containment ESTIMATE vs exact truth over shingle sets —
    * the calibration readout for the estimator a 100 TB pipeline
    * actually runs (Broder 1997 bottom-k sketches): sample each LEFT
    * doc's distinct shingles by their k smallest md5 ranks (a uniform
    * sample of the set, deterministic), and estimate containment as
    * the sampled-shingle hit rate against the right doc:
    * {{{
    *   est(A ⊆ B) = |{s ∈ BK_k(A) : s ∈ B}| / min(k, |A|)
    * }}}
    * The exact |A∩B|/|A| rides along per pair, so the output IS the
    * estimator-error distribution at this k — the number that decides
    * whether sketches can replace exact sets for a given threshold.
    * Unbiased (the bottom-k ranks of a hash are a uniform k-sample of
    * the distinct set); md5 ranks replay in any engine (the x43
    * convention — xxhash64 sketches are the production path, md5 the
    * auditable one).
    *
    * Scale shape: identical to [[ngramContainment]] (pair-driven
    * leftsemi prune, shingles computed once per needed doc) plus one
    * sort of a ≤doc-shingle-count array per LEFT doc — per-row array
    * expressions inside codegen, no extra shuffle.
    *
    * @return per pair: (a, b, size_a, k_used, contain_exact,
    *         contain_est, abs_err) — 6-dp
    */
  def bottomKContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 5,
                         k: Int = 32): DataFrame = {
    require(k >= 1 && k <= 1024, s"k out of range: $k")
    val p = pairs.select(F.col("a"), F.col("b"))
      .repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val needed = docs.join(ids, Seq(idCol), "leftsemi")
    // RAW STRING shingles (not the production xxhash64 longs of
    // [[shingleSets]]): the bottom-k ranks are md5-of-shingle, which
    // only replays in the oracle if the hashed value itself is
    // engine-computable. Interpreted per-element lambdas are fine
    // here — the pair-prune bounds the doc set
    val sh = needed
      .select(F.col(idCol),
        F.regexp_replace(F.lower(F.col(textCol)), "\\s+", " ").as("__t"))
      .select(F.col(idCol),
        F.array_distinct(F.transform(
          F.sequence(F.lit(1), F.greatest(
            F.length(F.col("__t")) - (shingleSize - 1), F.lit(1))),
          i => F.col("__t").substr(i, F.lit(shingleSize)))).as("__sh"))
    val ranked = F.transform(F.col("__sha"),
      s => F.struct(F.md5(s).as("h"), s.as("s")))
    val sample = F.transform(
      F.slice(F.array_sort(ranked), 1, k), t => t.getField("s"))
    p
      .join(sh.select(F.col(idCol).as("a"), F.col("__sh").as("__sha")),
        "a")
      .join(sh.select(F.col(idCol).as("b"), F.col("__sh").as("__shb")),
        "b")
      .select(F.col("a"), F.col("b"),
        F.size(F.col("__sha")).as("size_a"),
        F.least(F.lit(k), F.size(F.col("__sha"))).as("k_used"),
        F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
          .as("__inter"),
        F.size(F.array_intersect(sample, F.col("__shb")))
          .as("__hits"))
      .select(F.col("a"), F.col("b"), F.col("size_a"), F.col("k_used"),
        F.round(F.col("__inter").cast("double") /
          F.nullif(F.col("size_a").cast("double"), F.lit(0.0)), 6)
          .as("contain_exact"),
        F.round(F.col("__hits").cast("double") /
          F.nullif(F.col("k_used").cast("double"), F.lit(0.0)), 6)
          .as("contain_est"))
      .withColumn("abs_err", F.round(F.abs(
        F.col("contain_est") - F.col("contain_exact")), 6))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 vote sum in ONE
    * `aggregate` pass over the token array (acc = 64 counters), then bit i
    * set iff counter(i) > 0. Expressed as SQL because the per-bit shifts
    * need column-valued shift amounts (the Scala DSL only takes literal
    * ints); it is still a single codegen'd projection, no shuffle.
    *
    * @param textColSql SQL reference to the text column (e.g. "text")
    */
  def simhash(textColSql: String): Column = {
    val toks = s"split(lower(trim($textColSql)), '\\\\s+')"
    val counters =
      s"""aggregate($toks, array_repeat(0L, 64),
         |  (acc, t) -> zip_with(acc, sequence(0, 63),
         |    (a, i) -> a + IF((shiftright(xxhash64(t), i) & 1) = 1, 1L, -1L)))""".stripMargin
    F.expr(
      s"""aggregate(
         |  zip_with($counters, sequence(0, 63), (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)),
         |  0L, (acc, v) -> acc + v)""".stripMargin)
  }

  /** Per-doc 64-bit SimHash via the native [[graft.functions.SimHash64]]
    * expression — see [[minhashSignatures]] for the shape rationale (tight
    * per-row loop + repartition materialization point). Bit-identical to
    * [[simhashSignaturesRelational]] (cross-checked in OpsSpec). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    Scale.spreadNarrowScan(df.filter(F.col(idCol).isNotNull))
      .select(F.col(idCol),
        GraftExpr.column(graft.functions.SimHash64(
          GraftExpr.expression(F.col(textCol)))).as("__sh"))
      .repartition(F.col(idCol))
  }

  /** Relational formulation of [[simhashSignatures]]: explode tokens → hash
    * each once → 64 codegen'd ±1-vote SUM aggregates in one HashAggregate
    * (map-side partial aggregation; the shuffle carries (id, 64×8 B)
    * partials, never tokens). Kept as the pure-DataFrame reference the
    * native expression is verified against. */
  def simhashSignaturesRelational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sums = (0 until 64).map { i =>
      F.sum(F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1L)) === 1L, F.lit(1L))
        .otherwise(F.lit(-1L))).as(s"__c$i")
    }
    val bits = (0 until 64).map(i =>
      F.when(F.col(s"__c$i") > 0, F.shiftleft(F.lit(1L), i)).otherwise(F.lit(0L)))
    df.filter(F.col(idCol).isNotNull) // align all consumers on one reusable
      // scan — see the same filter in minhashSignatures for why
      .select(F.col(idCol),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+")).as("__tok"))
      .select(F.col(idCol), F.xxhash64(F.col("__tok")).as("__h"))
      .groupBy(idCol)
      .agg(sums.head, sums.tail: _*)
      .select(F.col(idCol), bits.reduce(_ + _).as("__sh"))
  }

  /** Winnowing near-dup pairs: documents sharing at least `minShared`
    * rolling-hash fingerprints ([[graft.functions.TextSketches.winnow]] —
    * any common substring of ≥ w+k-1 chars guarantees a shared hash). The
    * exploded (hash, id) relation is the classic inverted index; the
    * equi-join on hash confines quadratic work to one fingerprint bucket,
    * with the same groupBy+broadcast-anti skew guard as MinHash.
    *
    * Defaults matter here: short grams are non-discriminative (a common
    * 5-gram appears in most documents, putting the whole corpus in one
    * bucket and the join quadratic in corpus size). k=10 makes fingerprints
    * selective, and the tight `maxBucket` drops the remaining stop-gram
    * buckets — exactly the pairs that carry no dedup signal. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 10, w: Int = 6, minShared: Int = 3,
                  maxBucket: Int = 100): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    val fp = Scale.spreadNarrowScan(df.filter(F.col(idCol).isNotNull))
      .select(F.col(idCol),
        GraftExpr.column(graft.functions.Winnow(
          GraftExpr.expression(F.col(textCol)), k, w)).as("__fp"))
      .select(F.col(idCol), F.explode(F.col("__fp")).as("__h"))
      .repartition(F.col("__h")) // materialize the inverted index once
    val oversized = fp.groupBy("__h").count()
      .filter(F.col("count") > maxBucket).select("__h")
    val sized = fp.join(F.broadcast(oversized), Seq("__h"), "left_anti")
    val l = sized.select(F.col("__h"), F.col(idCol).as("a"))
    val r = sized.select(F.col("__h"), F.col(idCol).as("b"))
    l.join(r, Seq("__h")).filter(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("shared"))
      .filter(F.col("shared") >= minShared)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming — EXACT.
    * The 64-bit hash is split into c equal chunks; by pigeonhole, any pair
    * with fewer than c differing bits shares at least one identical chunk,
    * so the chunk equi-join finds every qualifying pair as long as
    * maxHamming ≤ c-1. c adapts to the radius: 4×16-bit chunks for ≤ 3,
    * 8×8-bit chunks for ≤ 7 (the same argument, one more split). Radii > 7
    * would need 16×4-bit chunks whose 16 possible values put most of the
    * corpus in a handful of buckets — non-selective, so we refuse loudly
    * rather than silently drop recall. Exactness (pair set ≡ brute-force
    * Hamming filter) is pinned in OpsSpec for both chunkings.
    *
    * Caveat: `maxBucket` (skew guard) can still drop pairs inside a capped
    * bucket — degenerate corpora only, same trade as [[minhashPairs]]. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7] (got $maxHamming): 8 chunks of 8 bits are " +
        "exact up to 7; larger radii need non-selective 4-bit chunks")
    val nChunks = if (maxHamming <= 3) 4 else 8
    val bitsPer = 64 / nChunks
    val mask = (1L << bitsPer) - 1L
    val hashed = simhashSignatures(df, idCol, textCol)
    val chunked = hashed.select(
      F.col(idCol), F.col("__sh"),
      F.explode(F.array((0 until nChunks).map { j =>
        F.struct(F.lit(j).as("chunk_idx"),
          (F.shiftright(F.col("__sh"), bitsPer * j).bitwiseAND(F.lit(mask))).as("chunk"))
      }: _*)).as("__c"))
      .select(F.col(idCol), F.col("__sh"), F.col("__c.chunk_idx"), F.col("__c.chunk"))
    // same skew guard as minhashPairs: groupBy + broadcast anti-join beats a
    // windowed count (no sort of the full chunked relation)
    val oversized = chunked.groupBy("chunk_idx", "chunk").count()
      .filter(F.col("count") > maxBucket).select("chunk_idx", "chunk")
    val sized = chunked.join(F.broadcast(oversized), Seq("chunk_idx", "chunk"), "left_anti")
    val l = sized.select(F.col("chunk_idx"), F.col("chunk"), F.col(idCol).as("a"), F.col("__sh").as("__sha"))
    val r = sized.select(F.col("chunk_idx"), F.col("chunk"), F.col(idCol).as("b"), F.col("__sh").as("__shb"))
    l.join(r, Seq("chunk_idx", "chunk")).filter(F.col("a") < F.col("b"))
      .select(F.col("a"), F.col("b"),
        F.bit_count(F.col("__sha").bitwiseXOR(F.col("__shb"))).as("hamming"))
      // Hamming filter BEFORE the pair dedup — dropDuplicates shuffles every
      // row that reaches it, the filter is free (cf. minhashPairs)
      .filter(F.col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  /** Test-set decontamination: per document, how many distinct `n`-gram
    * character shingles it shares with ANY benchmark document — the overlap
    * check a training pipeline runs against eval sets before training, so
    * benchmark answers don't leak into the corpus. Output: every corpus row
    * as (idCol, n_shared, contaminated), zero-overlap documents included.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus, so its
    * DISTINCT shingle-hash set broadcasts (8 B per shingle) and the corpus
    * side never shuffles documents — one exploded hash join + one groupBy
    * of (id, hash) hits. Shingles are hashed (see [[shingleSets]]); counts
    * equal raw-substring counts up to 64-bit collisions. */
  /** Incremental (delta) exact dedup: from a new batch, keep only documents
    * whose content is neither already in the frozen corpus nor duplicated
    * within the batch itself (lowest-id copy survives, the [[exact]] rule).
    * The daily-ingest operator: the corpus is petabytes and MUST NOT move to
    * admit a batch that is orders of magnitude smaller.
    *
    * Scale shape (the [[contamination]] inversion): the corpus is scanned
    * once and probed with a BROADCAST hash of the batch's distinct
    * fingerprints — the corpus side never shuffles; the surviving
    * fingerprint set is at most batch-sized, so it broadcasts back for the
    * anti-join; the only shuffle anywhere is the batch-sized within-delta
    * window. Fingerprint = [[TextOps.fingerprint]] (md5 of normalized text),
    * so the oracle replays it exactly. */
  def dedupDelta(corpus: DataFrame, delta: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprint(F.col(textCol))
    val deltaFp = delta.withColumn("fp", fp)
    val batchFps = deltaFp.select("fp").distinct()
    // fingerprints the corpus already holds (≤ batch-sized by construction)
    val dupFps = corpus.select(fp.as("fp"))
      .join(F.broadcast(batchFps), Seq("fp"), "left_semi")
      .distinct()
    val fresh = deltaFp.join(F.broadcast(dupFps), Seq("fp"), "left_anti")
    val w = Window.partitionBy("fp").orderBy(F.col(idCol).asc)
    fresh.withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .drop("__rn")
  }

  /** [[dedupDelta]] with the batch's exact fingerprint set replaced by a
    * FIXED-SIZE Bloom filter — the variant for when the ingest batch itself
    * is too large for its distinct-fp set to broadcast (a backfill merging
    * one shard of the corpus into the rest). Output is IDENTICAL to
    * [[dedupDelta]]: the bloom is only a corpus-side prefilter; membership
    * is re-verified by an exact anti-join on the md5 fingerprint, so bloom
    * false positives cost broadcast rows, never rows of the answer.
    *
    * Scale shape: the batch aggregates into ONE `numBits`-bit sketch
    * (Spark's own `BloomFilterAggregate`, the engine's runtime-filter
    * sketch — partial-aggregated map-side, OR-merged) whose size is fixed
    * regardless of batch cardinality; the single binary row is collected
    * and baked into the plan as a literal (the bounded-sketch collect, cf.
    * the IVF k-means fit), so the corpus scan probes it with the codegen'd
    * `might_contain` — the corpus never shuffles and never holds the
    * batch's fp set. Survivors ≈ |batch ∩ corpus| + fpr·|corpus| distinct
    * fps, which broadcast back for the exact anti-join. Bloom keys are
    * xxhash64(fp); a 64-bit collision only widens the candidate set. */
  def dedupDeltaBloom(corpus: DataFrame, delta: DataFrame, idCol: String,
                      textCol: String, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val fp = TextOps.fingerprint(F.col(textCol))
    val deltaFp = delta.withColumn("fp", fp)
    val bloomAgg = GraftExpr.column(new BloomFilterAggregate(
      GraftExpr.expression(F.xxhash64(F.col("fp"))),
      Literal(numBits / 16), Literal(numBits)).toAggregateExpression())
    // one numBits/8-byte row — null when the delta is empty
    val bloom = deltaFp.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val candidates =
      if (bloom == null) corpus.select(fp.as("fp")).limit(0)
      else corpus.select(fp.as("fp"))
        .filter(GraftExpr.column(new BloomFilterMightContain(
          Literal.create(bloom, BinaryType),
          GraftExpr.expression(F.xxhash64(F.col("fp"))))))
        .distinct()
    val fresh = deltaFp.join(F.broadcast(candidates), Seq("fp"), "left_anti")
    val w = Window.partitionBy("fp").orderBy(F.col(idCol).asc)
    fresh.withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .drop("__rn")
  }

  def contamination(docs: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 8, minShared: Int = 5): DataFrame = {
    val docSh = shinglePairs(docs, idCol, textCol, shingleSize)
    val benchSh = shinglePairs(bench, idCol, textCol, shingleSize)
      .select("__s").distinct()
    val hits = docSh.join(F.broadcast(benchSh), Seq("__s"))
      .groupBy(idCol).agg(F.count_distinct(F.col("__s")).as("n_shared"))
    docs.select(idCol).join(hits, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_shared"), F.lit(0L)).as("n_shared"))
      .withColumn("contaminated", F.col("n_shared") >= minShared)
  }

  /** Graded contamination: per document, the FRACTION of its distinct
    * shingles found in the benchmark set ([[contamination]]'s boolean gate
    * is this with a count threshold; the score separates verbatim
    * inclusions (≈1.0) from incidental phrase overlap (≈0.01) so the
    * decontamination cut-off can be tuned instead of fixed).
    *
    * Scale shape: identical to [[contamination]] — the benchmark side
    * collapses to distinct shingle hashes and BROADCASTS (benchmarks are
    * MBs; the corpus is the 100 TB side and never shuffles for the probe);
    * one groupBy(id) aggregation computes total and shared distinct counts
    * in a single pass over the left-joined pairs. */
  def contaminationScore(docs: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 8): DataFrame = {
    val docSh = shinglePairs(docs, idCol, textCol, shingleSize)
    val benchSh = shinglePairs(bench, idCol, textCol, shingleSize)
      .select(F.col("__s")).distinct().withColumn("__hit", F.lit(1))
    // two-level aggregate instead of two count_distincts: a multi-distinct
    // aggregate Expands every shingle row ONCE PER DISTINCT (2× the
    // explode volume through the partial agg); collapsing to per-(id,
    // shingle) groups first carries each shingle exactly once, and the
    // second groupBy's input is already distinct-sized
    val scored = docSh.join(F.broadcast(benchSh), Seq("__s"), "left")
      .groupBy(idCol, "__s").agg(F.max(F.col("__hit")).as("__hit"))
      .groupBy(idCol)
      .agg(
        F.count(F.lit(1)).as("n_total"),
        F.count(F.col("__hit")).as("n_shared"))
    // ONE ROW PER INPUT DOC, like [[contamination]]: a null-text doc has
    // no shingle rows (ShingleHashes is null-strict) and would otherwise
    // vanish from the output — a pipeline inner-joining scores back would
    // silently lose it instead of reading overlap 0
    docs.select(idCol).join(scored, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_total"), F.lit(0L)).as("n_total"),
        F.coalesce(F.col("n_shared"), F.lit(0L)).as("n_shared"))
      .withColumn("overlap",
        F.col("n_shared") / F.greatest(F.col("n_total"), F.lit(1L)))
  }

  /** Duplicated-span detection — the substring-dedup signal of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) approximated at token-n-gram granularity: an n-gram
    * is *duplicated* when it occurs in ≥ `minDf` DISTINCT documents, and
    * each document reports how much of it is built from such cross-corpus
    * spans. Output: one row per input row — (idCol, `n_grams`, `dup_grams`,
    * `dup_frac`); docs shorter than n tokens report 0 grams. A high
    * `dup_frac` marks template/boilerplate documents the suffix-array
    * method would excise span-wise.
    *
    * Scale shape: grams travel as native xxhash64 longs
    * ([[graft.functions.WordNGramHashes]]), never as text — the
    * fingerprint only keys within-engine group-bys, so the oracle (which
    * recomputes its own md5 gram stream in SQL and compares final counts)
    * is hash-agnostic, and the 8-byte long is 4× narrower on the shuffle
    * than the md5 hex string it replaced. Cost is
    * LINEAR in total gram positions (≈ token count), no pair
    * materialization anywhere, and the expensive gram projection runs
    * EXACTLY ONCE: positions collapse immediately to per-(gram, doc)
    * counts (one shuffle, map-side partial agg — within-doc repeats never
    * cross the wire individually), the distinct-doc frequency rides a
    * window over the already-collapsed rows (one shuffle on the gram key),
    * and the per-doc rollup is the third. The first cut re-evaluated the
    * gram explode for each of three consumers and semi-joined full
    * positions — measured 9.6 s at sf0.1 vs 2-3 s for this shape. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 5, minDf: Int = 2): DataFrame = {
    // grams as the native WordNGramHashes stream (one pass per doc; the
    // old per-gram md5-of-concat_ws-of-slice HOF chain was interpreted per
    // element). The fingerprint only keys the in-engine group-bys below —
    // the oracle recomputes its own md5 grams in SQL and compares final
    // COUNTS, which any injective hash reproduces — so the narrower
    // codegen'd long is free (and 4× less shuffle width at 100 TB).
    // explicit null-id filter BEFORE the gram pass: the final re-attach
    // left-join makes the optimizer infer isnotnull(id) into the rollup
    // branch but (correctly) not into the census branch — filtering up
    // front keeps both branches scan-identical so the exchange reuses.
    // Semantics: a null-id doc's grams no longer inflate other docs' df
    // (an unidentifiable doc can't duplicate anything); its own row still
    // re-attaches with zeros, as before.
    val pos = df.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol), F.explode(
        org.apache.spark.sql.GraftExpr.column(graft.functions.WordNGramHashes(
          org.apache.spark.sql.GraftExpr.expression(F.col(textCol)), n))).as("__g"))
    val perDocGram = pos.groupBy("__g", idCol).agg(F.count(F.lit(1)).as("__c"))
    // distinct-doc frequency via a groupBy CENSUS, not a per-gram window: a
    // window over partitionBy(gram) buffers a hot gram's ENTIRE row set in
    // one partition (a corpus-universal boilerplate gram = all docs in one
    // task's memory), while the census partial-aggregates map-side — the
    // hot gram reaches its reducer as ≤ numPartitions pre-combined rows.
    // The census is filtered to dup grams BEFORE joining back, so the df=1
    // long tail (the overwhelming majority) never enters the join, and the
    // join itself is AQE-fixable at runtime (broadcast when the dup-gram
    // set is small, skew-split when a key is hot) — a window is neither.
    // indicator-sum, not count(1): the census must REFERENCE __c so column
    // pruning keeps its subtree identical to the rollup branch's — both
    // then sit on the SAME (gram, doc) exchange and ReusedExchange keeps
    // the gram projection single-scan. A plain count(__c) gets rewritten
    // to count(1) (provably non-null input) and pruned back into a second
    // full corpus Generate; the __c > 0 guard (always true, __c >= 1 by
    // construction) is opaque to that rewrite.
    val census = perDocGram.groupBy("__g")
      .agg(F.sum(F.when(F.col("__c") > 0, 1L).otherwise(0L)).as("__nd"))
      .filter(F.col("__nd") >= minDf)
    val agg = perDocGram.join(census, Seq("__g"), "left")
      .groupBy(idCol).agg(
        F.sum("__c").as("n_grams"),
        F.sum(F.when(F.col("__nd").isNotNull, F.col("__c")).otherwise(0L))
          .as("dup_grams"))
    df.select(F.col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_grams"), F.lit(0L)).as("n_grams"),
        F.coalesce(F.col("dup_grams"), F.lit(0L)).as("dup_grams"),
        (F.coalesce(F.col("dup_grams"), F.lit(0L)).cast("double") /
          F.greatest(F.coalesce(F.col("n_grams"), F.lit(0L)), F.lit(1L)))
          .as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the excision half of Lee et al. 2022 that
    * [[dupSpans]] only detects, keep-first at span granularity: an n-token
    * gram occurring in ≥ `minDf` distinct documents is OWNED by the
    * lowest-id document containing it; in every OTHER document, all
    * tokens covered by such a gram are removed. The owner keeps its text
    * whole, later documents lose exactly the corpus-duplicated spans
    * (template chrome, quoted boilerplate) while their unique prose
    * survives — the span-wise analogue of [[graft.ops.Curation
    * .dedupLines]]. Output: one row per input row —
    * (idCol, `text_dedup`, `n_tokens`, `n_removed`), where `text_dedup`
    * is the kept tokens space-joined in the NORMALIZED token stream
    * (lower/trim whitespace tokenization — the pipeline-standard
    * normalization; byte-exact reconstruction would need offsets the
    * token stream doesn't carry). NULL text stays NULL; a doc losing
    * every token becomes "".
    *
    * NOT idempotent by design: removal splices previously-distant tokens
    * into NEW adjacent grams, so a second pass can see (and this time
    * keep, df=1) grams the first created — run once per corpus snapshot.
    *
    * Scale shape: grams travel as native xxhash64 longs with their start
    * position ([[graft.functions.WordNGramHashes]] + posexplode), and the
    * corpus-wide gram pass runs EXACTLY ONCE (plan-pinned): positions
    * collapse map-side to per-(gram, doc) rows through one gram-key
    * shuffle, distinct-df and owner come from a partial-aggregated census
    * joined back on the gram key (the [[dupSpans]] shape — no self-join,
    * no per-gram window, so a corpus-universal hot gram cannot pin its
    * whole row set in one partition), coverage expansion is
    * bounded by n × dup-positions and collapses to distinct (doc, token)
    * before the anti-join, and reassembly is one groupBy(id). Every
    * shuffle is key-partitioned and linear in token count — no pair
    * materialization anywhere. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    val toks = F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    val base = df.select(F.col(idCol), F.col(textCol), toks.as("__toks"))
    // ONE gram pass for the corpus (the dupSpans shape): positions collapse
    // to per-(gram, doc) rows with their position list behind ONE gram-key
    // exchange; the census branch and the coverage join both sit above that
    // exchange, so ReusedExchange keeps the expensive tokenize+hash+
    // posexplode projection at EXACTLY ONE evaluation (plan-pinned — a
    // naive two-scan formulation evaluated it once per consumer)
    // null-id docs can't own or lose spans (the re-attach join never
    // matches them — they keep their text verbatim semantics below), and
    // the explicit filter keeps the census and coverage branches
    // scan-identical for exchange reuse (same rationale as [[dupSpans]])
    val pos = df.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol), F.posexplode(
        GraftExpr.column(graft.functions.WordNGramHashes(
          GraftExpr.expression(F.col(textCol)), n))).as(Seq("__p", "__g")))
    val perDoc = pos.groupBy("__g", idCol)
      .agg(F.collect_list("__p").as("__ps"))
    // distinct-df + owner via a groupBy CENSUS joined back, not a per-gram
    // window (same rationale as [[dupSpans]]): count/min partial-aggregate
    // map-side so a corpus-universal gram reaches its reducer pre-combined
    // instead of buffering all its (doc, positions) rows in one window
    // partition; the minDf gate rides the census side so non-dup grams
    // never join; AQE can broadcast or skew-split the join at runtime.
    // indicator-sum referencing __ps, not count(1) — same single-scan
    // rationale as [[dupSpans]]: the payload reference keeps this subtree
    // exchange-identical to the coverage branch so the projection reuses
    // (position lists are non-empty by construction, so the sum is the df)
    val census = perDoc.groupBy("__g")
      .agg(F.sum(F.when(F.size(F.col("__ps")) > 0, 1L).otherwise(0L)).as("__nd"),
        F.min(idCol).as("__owner"))
      .filter(F.col("__nd") >= minDf)
    val covered = perDoc.join(census, Seq("__g"))
      .filter(F.col(idCol) =!= F.col("__owner"))
      .select(F.col(idCol), F.explode(F.col("__ps")).as("__p"))
      .select(F.col(idCol),
        F.explode(F.sequence(F.col("__p"), F.col("__p") + (n - 1))).as("__ti"))
      .distinct()
    val kept = base
      .select(F.col(idCol), F.posexplode(F.col("__toks")).as(Seq("__ti", "__tok")))
      .join(covered, Seq(idCol, "__ti"), "left_anti")
      .groupBy(idCol)
      .agg(
        F.array_join(F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("__ti"), F.col("__tok")))),
          s => s.getField("__tok")), " ").as("__td"),
        F.count(F.lit(1)).as("__nk"))
    base.select(F.col(idCol), F.col(textCol), F.size(F.col("__toks")).as("__nt"))
      .join(kept, Seq(idCol), "left")
      .select(F.col(idCol),
        F.when(F.col(textCol).isNull, F.lit(null).cast("string"))
          .otherwise(F.coalesce(F.col("__td"), F.lit(""))).as("text_dedup"),
        F.greatest(F.col("__nt"), F.lit(0)).cast("long").as("n_tokens"),
        (F.greatest(F.col("__nt"), F.lit(0)) -
          F.coalesce(F.col("__nk"), F.lit(0L))).cast("long").as("n_removed"))
  }

  /** EXACT token-set similarity self-join via prefix filtering (Bayardo et
    * al. 2007 "Scaling Up All Pairs Similarity Search" / SSJoin): every
    * pair with word-set Jaccard ≥ `threshold`, with NO LSH approximation
    * and NO all-pairs scan — the third leg of the dedup family next to
    * exact-by-key ([[exact]]) and approximate ([[minhashPairs]]). Use it
    * when recall must be 1.0 by construction (legal/dedup audits) at
    * thresholds where LSH recall curves are awkward.
    *
    * Mechanics: tokens get a global rarity order (document frequency asc,
    * token asc — rarest first). A pair with Jaccard ≥ t must share ≥
    * ⌈t·|x|⌉ tokens, so the FIRST `|x| − ⌈t·|x|⌉ + 1` tokens of each doc
    * (its "prefix") must hit the other side's prefix — candidates come
    * from an equi-join of prefix tokens only, and rare tokens make tiny
    * buckets. A cheap integer length filter (`min·10⁶ ≥ thr·max`) prunes
    * size-incompatible pairs pre-verify; exact verification then joins
    * the two sorted distinct-token arrays.
    *
    * EVERY selection decision is integer arithmetic: `threshold` is
    * quantized to 6 dp (thr = round(t·10⁶)) and both the needed-overlap
    * count `⌈t·|x|⌉ = (thr·|x| + 10⁶ − 1) div 10⁶` and the final test
    * `inter·10⁶ ≥ thr·(|x|+|y|−inter)` avoid float ceil/compare entirely
    * — mathematically exact at the quantized threshold and bit-identical
    * in any engine. Scale shape: one df census (partial-aggregated), one
    * window per doc over its OWN tokens, a prefix equi-join whose bucket
    * sizes are bounded by token rarity, and per-pair verify linear in the
    * two token counts. `maxBucket` guards the pathological
    * shared-boilerplate prefix token LOUDLY (an exception naming the
    * token and the remedy) — dropping it silently, the [[minhashPairs]]
    * treatment, would break the exact-recall contract here.
    *
    * @throws org.apache.spark.SparkRuntimeException at FIRST ACTION when
    *         a prefix-token bucket exceeds `maxBucket`. Contract change
    *         in r12: the guard is folded into the join's own pass, so it
    *         no longer throws IllegalStateException at call time —
    *         callers that "pre-validated" by merely constructing the
    *         DataFrame, or that catch IllegalStateException, must adapt. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val thr = math.round(threshold * 1e6) // 6-dp rational threshold
    val M = 1000000L
    val toks = docs
      .select(F.col(idCol).as("__id"),
        F.explode(F.array_distinct(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
          t => F.length(t) > 0))).as("__tok"))
    val dfreq = toks.groupBy("__tok").agg(F.count(F.lit(1)).as("__df"))
    val byDoc = Window.partitionBy("__id")
    val ranked = toks.join(dfreq, "__tok")
      .withColumn("__rk", F.row_number().over(
        byDoc.orderBy(F.col("__df").asc, F.col("__tok").asc)))
      .withColumn("__sz", F.count(F.lit(1)).over(byDoc))
    // needed overlap ⌈t·|x|⌉ and prefix length, all integer
    val need = F.call_function("div",
      F.lit(thr) * F.col("__sz") + F.lit(M - 1L), F.lit(M))
    // Materialize the prefix index ONCE (eager localCheckpoint): it is
    // read three times — the hot-token census below and both sides of the
    // candidate self-join — and its lineage (tokenize → dfreq join →
    // per-doc window) is the expensive half of the whole operator. This is
    // the SSJoin "index build" step: at cluster scale the same
    // materialization would be a MEMORY_AND_DISK persist (which is what
    // localCheckpoint stores as) or a bucketed table.
    val prefix = ranked
      .filter(F.col("__rk") <= F.col("__sz") - need + 1L)
      .select(F.col("__id"), F.col("__tok"), F.col("__sz"))
      .localCheckpoint()
    // boilerplate-token guard — LOUD, not lossy: silently dropping a hot
    // prefix token (the minhashPairs treatment) would break this
    // operator's exact-recall contract, because a qualifying pair whose
    // ONLY shared prefix token is the hot one would vanish. A bucket
    // beyond maxBucket means quadratic candidate blowup is coming: fail
    // with the remedy (strip boilerplate first, or raise maxBucket and
    // pay). Folded into the candidate join's own pass (advisor r11 — the
    // old census was a separate action over the index): the per-token
    // count window rides the join's __tok hash partitioning and the size
    // projection raises on the first row of a hot bucket, at action time.
    val guarded = prefix
      .withColumn("__bn",
        F.count(F.lit(1)).over(Window.partitionBy("__tok")))
      .withColumn("__sz", F.when(F.col("__bn") <= maxBucket, F.col("__sz"))
        .otherwise(F.raise_error(F.concat(
          F.lit("exactJaccardPairs: prefix token '"), F.col("__tok"),
          F.lit("' appears in "), F.col("__bn").cast("string"),
          F.lit(s" docs (> maxBucket=$maxBucket) — the candidate join " +
            "would go quadratic. Strip boilerplate (Curation." +
            "stripBoilerplateLines) or raise maxBucket; dropping the " +
            "token silently would break the exact-recall contract.")))))
      .drop("__bn")
    val cand = guarded.select(F.col("__tok"), F.col("__id").as("a"), F.col("__sz").as("__sa"))
      .join(guarded.select(F.col("__tok"), F.col("__id").as("b"), F.col("__sz").as("__sb")),
        Seq("__tok"))
      .filter(F.col("a") < F.col("b"))
      // integer length filter: J ≥ t ⇒ t·max(|x|,|y|) ≤ min(|x|,|y|)
      .filter(F.least(F.col("__sa"), F.col("__sb")) * M >=
        F.lit(thr) * F.greatest(F.col("__sa"), F.col("__sb")))
      .select("a", "b").distinct()
    val sets = docs.select(F.col(idCol).as("__id"),
      F.array_sort(F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
        t => F.length(t) > 0))).as("__ts"))
    cand
      .join(sets.select(F.col("__id").as("a"), F.col("__ts").as("__ta")), Seq("a"))
      .join(sets.select(F.col("__id").as("b"), F.col("__ts").as("__tb")), Seq("b"))
      .withColumn("__i", F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast("long"))
      .withColumn("__u", F.size(F.col("__ta")) + F.size(F.col("__tb")) - F.col("__i"))
      // exact rational comparison at the 6-dp threshold — no float decides
      .filter(F.col("__i") * M >= F.lit(thr) * F.col("__u"))
      .select(F.col("a"), F.col("b"),
        F.round(F.col("__i").cast("double") / F.col("__u"), 6).as("jaccard"))
  }

  /** Edit-distance (Levenshtein) near-duplicate pairs with length-band
    * blocking: every pair within `maxDist` edits of each other on the
    * normalized key, recall 1.0 by construction. The character-level
    * complement of [[exactJaccardPairs]] (token sets) and [[simhashPairs]]
    * (Hamming on a fixed-width sketch): edit distance catches the
    * single-character / small-splice mutations that token-set measures
    * blur away (OCR noise, version strings, near-identical boilerplate).
    *
    * Blocking is the LOSSLESS necessary condition |len(a) − len(b)| ≤
    * maxDist: each row probes the 2·maxDist+1 length buckets it could
    * pair with (an integer equi-join key — never a range join), so every
    * qualifying pair meets in exactly one bucket and no candidate is
    * dropped. The verify step uses Spark's THRESHOLD Levenshtein
    * (`levenshtein(a, b, d)` — the banded O(d·n) DP, returns −1 beyond
    * d), so per-pair cost is linear in key length, not quadratic — the
    * difference between feasible and not at corpus scale.
    *
    * Scale shape: one projection, one equi-join on (band length) whose
    * bucket sizes are the corpus length histogram — `maxBucket` guards
    * the degenerate all-keys-same-length corpus LOUDLY (fixed-width keys
    * belong on [[simhashPairs]]' chunk pigeonhole instead, which this
    * exception names). At 1000 executors the join shuffles on an integer
    * key with no skew beyond that histogram.
    *
    * @throws org.apache.spark.SparkRuntimeException at FIRST ACTION when
    *         a length-band bucket exceeds `maxBucket` (r12 contract
    *         change: guard folded into the join pass — previously an
    *         IllegalStateException at call time; callers catching that
    *         type or relying on call-time validation must adapt).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, key: Column,
                        maxDist: Int = 3, maxBucket: Int = 20000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 16, s"maxDist must be in [1,16], got $maxDist")
    val keyed = docs
      .select(F.col(idCol).as("__id"),
        F.coalesce(key.cast("string"), F.lit("")).as("__k"))
      .filter(F.length(F.col("__k")) > 0)
      .withColumn("__len", F.length(F.col("__k")).cast("long"))
    // hot-band guard folded into the build side's own shuffle (advisor
    // r11 — no second scan): the count window rides the hash partitioning
    // the band join needs on __len, and the key projection raises on the
    // first row of a degenerate band, at action time
    val banded = keyed
      .withColumn("__bn",
        F.count(F.lit(1)).over(Window.partitionBy("__len")))
      .withColumn("__k", F.when(F.col("__bn") <= maxBucket, F.col("__k"))
        .otherwise(F.raise_error(F.concat(
          F.lit("editDistancePairs: "), F.col("__bn").cast("string"),
          F.lit(" keys share length "), F.col("__len").cast("string"),
          F.lit(s" (> maxBucket=$maxBucket) — the length-band candidate " +
            "join would go quadratic. Fixed-width keys belong on " +
            "simhashPairs' chunk pigeonhole; otherwise raise maxBucket " +
            "and pay.")))))
      .drop("__bn")
    // each left row probes every band it could pair with; a pair meets in
    // exactly one bucket (a.blen == b.len), so no distinct is needed.
    // (length-band blocking; see sortedNeighborhoodPairs for the
    // sort-order blocking paradigm)
    // repartition by band: a small corpus file arrives as ONE scan
    // partition and the dimension side broadcasts, so without an explicit
    // exchange the whole verify pipeline would run as a single task —
    // spreading by band key is also exactly the shuffle the join needs at
    // cluster scale
    val probes = keyed.withColumn("__blen",
      F.explode(F.array((-maxDist to maxDist).map(d => F.col("__len") + d): _*)))
      .repartition(F.col("__blen"))
    probes.as("a")
      .join(banded.as("b"),
        F.col("a.__blen") === F.col("b.__len") && F.col("a.__id") < F.col("b.__id"))
      .select(F.col("a.__id").as("a"), F.col("b.__id").as("b"),
        F.levenshtein(F.col("a.__k"), F.col("b.__k"), maxDist).as("dist"))
      .filter(F.col("dist") >= 0)
  }

  /** DISTRIBUTED sorted-neighborhood blocking (Hernández & Stolfo 1995):
    * candidate pairs are the rows within `window` positions of each other
    * in the GLOBAL (key, id) sort order — the record-linkage blocking
    * paradigm that catches near-dups sharing a sort prefix, orthogonal to
    * length bands ([[editDistancePairs]]), minhash buckets, and
    * similarity prefixes.
    *
    * The naive formulation is one global row_number — a single-partition
    * window, the textbook non-distributable shape. This implementation
    * reconstructs the EXACT global adjacency from range shards:
    *
    *  1. string-key range boundaries from an md5-prefix sample (the
    *     [[Scale.rangeShardAssign]] regime), shard = literal comparison
    *     chain;
    *  2. per-shard local rank — the window partitions by shard, so the
    *     sort is parallel;
    *  3. each shard's first `window` rows are re-homed as GHOSTS of the
    *     previous shard, ranks continued past that shard's count (a
    *     bounded broadcast census), restoring cross-boundary adjacency;
    *  4. pairs via an integer equi-join on (shard, rank + d), d ∈
    *     [1, window]; ghost-origin probes are excluded so ghost–ghost
    *     pairs emit exactly once, in their home shard.
    *
    * The result provably equals the global-order pair set (a pair within
    * `window` global positions is either intra-shard or straddles ONE
    * boundary with the later row among the next shard's first `window`
    * rows), and the DuckDB oracle verifies that equality against a plain
    * global row_number — the correctness proof of the distributed
    * construction rides in the entry. Requires every shard to hold more
    * than `window` rows (checked loudly; boundaries come from data
    * quantiles, so this only trips on near-empty inputs).
    *
    * @return (a, b, k_a, k_b) — `a` earlier in sort order; keys returned
    *         so the caller applies its verify measure (edit distance,
    *         jaccard, …) without re-joining
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, key: Column,
                              window: Int = 3, nShards: Int = 8,
                              samplePrefix: String = "199a"): DataFrame = {
    require(window >= 1 && window <= 64, s"window must be in [1,64], got $window")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = docs.select(F.col(idCol).as("__id"),
      F.coalesce(key.cast("string"), F.lit("")).as("__k"))
    // string boundaries from the deterministic md5 sample; degenerate
    // sample (or nShards=1) → single shard, still correct
    val sampled = keyed
      .filter(F.substring(F.md5(F.col("__k")), 1, 4) < samplePrefix)
      .select("__k").limit(1 << 20).collect().map(_.getString(0)).sorted
    val bounds: Seq[String] =
      if (sampled.isEmpty || nShards == 1) Seq.empty
      else {
        val n = sampled.length.toLong
        (1 until nShards).map(i => i.toLong * n / nShards).filter(_ >= 1L)
          .distinct.map(r => sampled((r - 1L).toInt)).distinct
      }
    val shard = bounds.foldLeft(F.lit(1)) { (acc, b) =>
      acc + F.when(F.col("__k") > b, 1).otherwise(0)
    }
    val byShard = Window.partitionBy("__s")
      .orderBy(F.col("__k").asc, F.col("__id").asc)
    val ranked = keyed.withColumn("__s", shard)
      .withColumn("__rn", F.row_number().over(byShard))
      .localCheckpoint() // reused as probe base, neighbor base, and ghosts
    val counts = ranked.groupBy("__s").agg(F.count(F.lit(1)).as("__cnt"))
    val cRows = counts.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val short = cRows.filter(_._2 <= window)
    if (cRows.size > 1 && short.nonEmpty)
      throw new IllegalStateException(
        s"sortedNeighborhoodPairs: shard(s) ${short.keys.toSeq.sorted.mkString(",")} " +
          s"hold <= window=$window rows — ghost adjacency cannot span them. " +
          "Lower nShards (boundaries come from data quantiles, so this " +
          "means a near-empty input).")
    val ghosts = ranked
      .filter(F.col("__rn") <= window && F.col("__s") > 1)
      .withColumn("__s", F.col("__s") - 1)
      .join(F.broadcast(counts), "__s") // count of the DESTINATION shard
      .withColumn("__rn", F.col("__rn") + F.col("__cnt"))
      .drop("__cnt")
      .withColumn("__ghost", F.lit(true))
    val all = ranked.withColumn("__ghost", F.lit(false)).unionByName(ghosts)
    val probes = all.filter(!F.col("__ghost"))
      .withColumn("__d", F.explode(F.array((1 to window).map(F.lit(_)): _*)))
      .select(F.col("__s"), (F.col("__rn") + F.col("__d")).as("__rn2"),
        F.col("__id").as("a"), F.col("__k").as("k_a"))
    probes
      .join(all.select(F.col("__s"), F.col("__rn").as("__rn2"),
        F.col("__id").as("b"), F.col("__k").as("k_b")), Seq("__s", "__rn2"))
      .select("a", "b", "k_a", "k_b")
  }

  /** Jaro-Winkler candidate pairs under a caller-supplied blocking key —
    * the classic record-linkage / vocabulary-canonicalization measure
    * ("recieve"≈"receive") that Levenshtein bands miss when the edit is a
    * transposition. Scoring is the native codegen'd
    * [[graft.functions.JaroWinkler]] expression (DuckDB-convention-pinned,
    * so the oracle replays it with `jaro_winkler_similarity`).
    *
    * Scale shape: the quadratic is confined to a block (same discipline as
    * [[editDistancePairs]]' length bands); a block larger than `maxBucket`
    * fails loudly with the count, because a promiscuous key (empty string,
    * one giant first-letter block) silently going b² is the classic
    * linkage melt-down. The guard is folded INTO the join's own first
    * pass (advisor r11 — the old eager census re-scanned the input): a
    * per-block count window rides the very hash partitioning the join
    * shuffles on, and the key projection raises on the first ROW of an
    * oversized block — before its quadratic pair fan-out ever runs, with
    * no second scan of the corpus. The guard therefore fires at action
    * time (the DataFrame is lazy), not at call time.
    *
    * @return (a, b, k_a, k_b, jw) — canonical a<b pairs with jw ≥ minSim,
    *         6-dp
    * @throws org.apache.spark.SparkRuntimeException at FIRST ACTION when
    *         a block exceeds `maxBucket` (r12 contract change: was an
    *         IllegalStateException at call time from the eager census;
    *         callers catching that type or relying on call-time
    *         validation must adapt)
    */
  def jaroWinklerPairs(docs: DataFrame, idCol: String, key: Column,
                       block: Column, minSim: Double = 0.85,
                       maxBucket: Int = 20000): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"minSim must be in (0,1], got $minSim")
    val keyed = docs
      .select(F.col(idCol).as("__id"),
        F.coalesce(key.cast("string"), F.lit("")).as("__k"),
        block.cast("string").as("__blk"))
      .filter(F.length(F.col("__k")) > 0 && F.col("__blk").isNotNull)
    val guarded = keyed
      .withColumn("__bn",
        F.count(F.lit(1)).over(Window.partitionBy("__blk")))
      .withColumn("__k", F.when(F.col("__bn") <= maxBucket, F.col("__k"))
        .otherwise(F.raise_error(F.concat(
          F.lit("jaroWinklerPairs: "), F.col("__bn").cast("string"),
          F.lit(" keys share block '"), F.col("__blk"),
          F.lit(s"' (> maxBucket=$maxBucket) — the blocked join would " +
            "go quadratic. Use a finer blocking key (prefix+length, " +
            "soundex) or raise maxBucket and pay.")))))
      .drop("__bn")
    guarded.as("a").join(guarded.as("b"),
        F.col("a.__blk") === F.col("b.__blk") && F.col("a.__id") < F.col("b.__id"))
      .withColumn("jw", F.round(org.apache.spark.sql.GraftExpr.column(
        graft.functions.JaroWinkler(
          org.apache.spark.sql.GraftExpr.expression(F.col("a.__k")),
          org.apache.spark.sql.GraftExpr.expression(F.col("b.__k")))), 6))
      .filter(F.col("jw") >= minSim)
      .select(F.col("a.__id").as("a"), F.col("b.__id").as("b"),
        F.col("a.__k").as("k_a"), F.col("b.__k").as("k_b"), F.col("jw"))
  }

  /** Fellegi-Sunter record-linkage score (Fellegi & Sunter 1969) over a
    * candidate pair list: each field comparison contributes
    * `log2(m/u)` on agreement and `log2((1-m)/(1-u))` on disagreement,
    * where m = P(agree | match) and u = P(agree | non-match) are
    * caller-supplied per-field parameters (in production estimated by EM;
    * fixed parameters keep the op deterministic and engine-replayable).
    * The summed weight is THE decision statistic: pairs above an upper
    * threshold auto-link, below a lower threshold auto-reject, between
    * them go to clerical review.
    *
    * `fields` maps a field name to (agreeExpr, m, u): agreeExpr is any
    * boolean Column over the pair row (equality, jw ≥ 0.9, same phone
    * prefix…). NULL agreement counts as disagreement (the conservative
    * convention). Weights are per-field 6-dp-rounded before the sum, so
    * the total is association-order stable.
    *
    * Scale shape: a pure projection over the pair list — the pair
    * generation upstream ([[jaroWinklerPairs]], [[sortedNeighborhoodPairs]],
    * minhash buckets) owns the quadratic; scoring is codegen'd map work.
    *
    * @return pairs + per-field agreement flags + `fs_weight` (6-dp)
    */
  def fellegiSunter(pairs: DataFrame,
                    fields: Seq[(String, Column, Double, Double)]): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter: need at least one field")
    fields.foreach { case (n, _, m, u) =>
      require(m > 0.0 && m < 1.0 && u > 0.0 && u < 1.0 && m > u,
        s"field '$n': need 0 < u < m < 1, got m=$m u=$u")
    }
    val ln2 = math.log(2.0)
    val flagged = fields.foldLeft(pairs) { case (df, (name, agree, _, _)) =>
      df.withColumn(s"agree_$name", F.coalesce(agree, F.lit(false)))
    }
    val weight = fields.map { case (name, _, m, u) =>
      F.when(F.col(s"agree_$name"),
          F.round(F.lit(math.log(m / u) / ln2), 6))
        .otherwise(F.round(F.lit(math.log((1.0 - m) / (1.0 - u)) / ln2), 6))
    }.reduce(_ + _)
    flagged.withColumn("fs_weight", F.round(weight, 6))
  }
}
