package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Scale infrastructure for the 100 TB deployment story: co-located
  * (bucketed) joins and static skew salting. These are the two knobs that
  * are NOT automatic in Spark — Catalyst broadcasts small sides and AQE
  * splits skewed sort-merge partitions on its own, but (a) repeated big-big
  * joins on a stable key should be bucketed once at write time so NO run
  * ever shuffles, and (b) a skewed shuffle whose hot key exceeds what AQE
  * can split (or any stateful/streaming aggregation) needs explicit salt.
  */
object Scale {

  /** Spread a NARROW source across the session's cores before a heavy
    * per-row projection (tokenize / shingle / hash / explode). A parquet
    * scan parallelizes by row-group splits, and a single-row-group file —
    * the shape of every table in the provided testdata — plans as ONE
    * task, so everything upstream of the first exchange (exactly where
    * the text family burns its CPU) runs serial no matter how many cores
    * the session has (measured: an x121 pass at sf0.1 on 4 cores takes
    * 1.2 s with its scan as one task and 0.78 s after spreading).
    *
    * Scale-adaptive by construction (guide §2: derive partitioning from
    * input size, never a local constant): the round-robin exchange fires
    * ONLY when the planned input parallelism is below half the session's
    * `defaultParallelism` — at 100 TB inputs arrive as thousands of
    * splits and this is a no-op; locally it buys N-way parallelism for
    * one exchange of the raw rows. Round-robin repartition keeps Spark's
    * sort-before-repartition determinism (SPARK-23207), and every
    * downstream operator in this repo is partitioning-agnostic by the
    * determinism contract (keyed aggregations / canonical orderings).
    *
    * Trade (advisor r18): the explicit count compiles to
    * REPARTITION_BY_NUM, which AQE will NOT coalesce — a caller pays
    * `defaultParallelism` fixed tasks even when the input is tiny. That
    * is intentional here (the op only fires when the input planned
    * BELOW half that parallelism and the r18 ledger showed the win only
    * on provably-heavy serial projections); do not blanket-apply it to
    * cheap scans — measure, or prefer a REBALANCE hint where AQE should
    * keep the final say.
    */
  def spreadNarrowScan(df: DataFrame): DataFrame = {
    // Probe planned parallelism only on shuffle-free batch subtrees:
    // `.rdd` forces physical planning, and under AQE a subtree WITH
    // exchanges would eagerly execute those shuffle stages at
    // op-construction time with no result reuse, while a streaming
    // DataFrame would throw (advisor r18). The op exists for narrow
    // scan/filter/project inputs — anything else passes through.
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical._
    val wide = df.queryExecution.analyzed.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Distinct | _: Deduplicate |
                _: SetOperation | _: Sort | _: Window |
                _: RepartitionOperation | _: GlobalLimit) => p
    }.isDefined
    if (wide) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.rdd.getNumPartitions
    if (planned * 2 <= target) df.repartition(target) else df
  }

  /** Write `df` bucketed+sorted by `bucketCol` as a saveAsTable table. Two
    * tables bucketed the same way (same column, same `numBuckets`) join with
    * zero Exchange — the scan partitioning already satisfies the join
    * requirement. At 100 TB this converts every recurring fact-fact join on
    * the bucket key from a full shuffle into a local merge per bucket.
    * `numBuckets` should put one bucket's rows comfortably in one task's
    * memory at target scale (e.g. 100 TB / 2048 buckets ≈ 50 GB/bucket of
    * raw, ~task-sized after column pruning). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(table)

  /** Hive-layout partitioned corpus sink: `path/col=value/...` parquet with
    * a BOUNDED file count — the shape downstream training jobs and partition
    * pruning need. Two non-default knobs do the work:
    *
    *  - repartition on (partitionCols, salt) BEFORE the write. Without it,
    *    every upstream task holds rows of every partition value, so the job
    *    emits tasks × values files — the classic small-files explosion (at
    *    1000 executors × 1000 sources that is 10⁶ files per write). Salted
    *    routing caps it at ≤ `filesPerPartition` per value (hash collisions
    *    of (value, salt) pairs can only MERGE groups, never split them).
    *  - `maxRecordsPerFile` re-splits a file only if a single value's share
    *    still exceeds it — the escape hatch for one giant partition.
    *
    * The salt hashes the full row, so routing is deterministic and retries/
    * speculative tasks agree ([[withSalt]]'s argument).
    *
    * Preconditions: `df` must not already carry a `__salt` column (the
    * routing salt would be ambiguous), and `mode("overwrite")` replaces the
    * ENTIRE `path`, not just the partition values present in `df` — set
    * `spark.sql.sources.partitionOverwriteMode=dynamic` in the session if
    * in-place partition refresh is wanted. */
  def writePartitionedCorpus(df: DataFrame, path: String,
                             partitionCols: Seq[String],
                             filesPerPartition: Int = 1,
                             maxRecordsPerFile: Long = 0L): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    require(!df.columns.contains("__salt"),
      "input already has a __salt column; drop or rename it before writing")
    withSalt(df, filesPerPartition)
      .repartition(partitionCols.map(F.col) :+ F.col("__salt"): _*)
      .drop("__salt")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile) // 0 = spark default: unlimited
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Salt a skewed relation: spread each hot key over `saltFactor` synthetic
    * sub-keys. Deterministic per row content (hash of all columns), so
    * retries and speculative tasks agree. */
  def withSalt(df: DataFrame, saltFactor: Int): DataFrame =
    df.withColumn("__salt",
      F.pmod(F.xxhash64(F.struct(df.columns.map(F.col): _*)), F.lit(saltFactor)).cast("int"))

  /** Explode the dimension side across all salt values so every salted
    * sub-key finds its match. The dimension grows saltFactor×, which is the
    * deliberate trade: replicate the SMALL side to spread the BIG side. */
  def explodeSalt(dim: DataFrame, saltFactor: Int): DataFrame =
    dim.withColumn("__salt",
      F.explode(F.sequence(F.lit(0), F.lit(saltFactor - 1))))

  /** Equi-join `big ⋈ dim` on `keys`, salted: big rows scatter uniformly
    * over (key, salt) sub-partitions, dim replicates to all salts. Result is
    * identical to the plain join; the shuffle for any single hot key now
    * spreads over `saltFactor` reducers. Use when the hot side is too big to
    * broadcast and AQE's skew-split can't help (first-stage aggregations,
    * streaming state, non-sort-merge paths). */
  def saltedJoin(big: DataFrame, dim: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    val b = withSalt(big, saltFactor)
    val d = explodeSalt(dim, saltFactor)
    b.join(d, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase salted aggregation: partial per (keys, salt), then final per
    * keys. Spark's map-side partial aggregation already bounds mapper state;
    * this additionally bounds the REDUCER for a hot key, which one-phase
    * groupBy cannot (a single key always lands on a single reducer).
    * `aggs` maps output column name -> (partial expr over raw rows,
    * final expr over partial columns). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     saltFactor: Int): DataFrame = {
    // salt must spread UNCONDITIONALLY — hashing row content would collapse
    // when the hot key's rows are identical (e.g. counter events, value=1.0),
    // which is precisely the skew case; rand(seed) spreads uniformly and the
    // final re-aggregation makes the result independent of salt assignment
    val salted = df.withColumn("__salt",
      F.floor(F.rand(42) * saltFactor).cast("int"))
    salted
      .groupBy((keys :+ "__salt").map(F.col): _*)
      .agg(F.sum(valueCol).as("__psum"), F.count(F.lit(1)).as("__pcnt"))
      .groupBy(keys.map(F.col): _*)
      .agg(F.sum("__psum").as(s"sum_$valueCol"), F.sum("__pcnt").as("n"))
  }

  /** Deterministic equal-count range-shard boundaries + assignment — the
    * REPRODUCIBLE replacement for `repartitionByRange`, whose boundaries
    * come from a nondeterministic reservoir sample (same corpus, two runs,
    * two different shard layouts — unacceptable for a training-data export
    * that must be re-creatable bit-for-bit).
    *
    * Mechanics (every step engine-replayable, no floats anywhere):
    *  1. sample keys by content hash (`md5(key)` prefix — the
    *     [[Sampling.hashSample]] convention: deterministic, salt-free,
    *     order-independent); the sample is bounded by `maxSample` and is
    *     the ONLY data that reaches the driver.
    *  2. boundary i (i = 1..n−1) = the ⌊i·|sample|/nShards⌋-th smallest
    *     sample key — an explicit rank selection, NOT an interpolated
    *     quantile (interpolation formulas differ across engines in last-ulp
    *     IEEE order; integer ranks cannot).
    *  3. shard(key) = 1 + |{boundaries b : key > b}| — a codegen'd
    *     comparison chain (boundaries are plan literals; no join, no
    *     shuffle on the assignment pass).
    *
    * Returns the rows with a `shard` column. At 100 TB: one sampled scan +
    * one assignment scan; writing `.sortWithinPartitions(keyCol)` after
    * `.repartition(col("shard"))` gives globally range-ordered shards with
    * exactly one shuffle. */
  def rangeShardAssign(df: DataFrame, keyCol: String, nShards: Int,
                       samplePrefix: String = "199a",
                       maxSample: Int = 1 << 20): DataFrame = {
    require(nShards >= 2, s"nShards=$nShards: need at least 2 shards to plan")
    val sampled = df
      .filter(F.substring(F.md5(F.col(keyCol).cast("string")), 1, 4) < samplePrefix)
      .select(F.col(keyCol).cast("long").as("__k"))
    val keys = sampled.limit(maxSample + 1).collect().map(_.getLong(0)).sorted
    require(keys.nonEmpty, "rangeShardAssign: empty sample — widen samplePrefix")
    require(keys.length <= maxSample,
      s"rangeShardAssign: sample exceeds maxSample=$maxSample — tighten " +
        "samplePrefix (boundaries only need ~1k samples per shard)")
    val n = keys.length.toLong
    val bounds = (1 until nShards)
      .map(i => i.toLong * n / nShards).filter(_ >= 1L).distinct
      .map(r => keys((r - 1L).toInt))
    val shard = bounds.foldLeft(F.lit(1)) { (acc, b) =>
      acc + F.when(F.col(keyCol) > b, 1).otherwise(0)
    }
    df.withColumn("shard", shard)
  }

  /** [[rangeShardAssign]] + per-shard stats (row count, key min/max) — the
    * export manifest a driver checks before a 100 TB range-sharded write
    * (a shard 50× its siblings means a skewed key space, caught HERE, not
    * as a straggler task at hour three). One keyed aggregation. */
  def rangeShardPlan(df: DataFrame, keyCol: String, nShards: Int,
                     samplePrefix: String = "199a",
                     maxSample: Int = 1 << 20): DataFrame =
    rangeShardAssign(df, keyCol, nShards, samplePrefix, maxSample)
      .groupBy("shard")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.min(keyCol).as("min_key"), F.max(keyCol).as("max_key"))

  /** Rendezvous (highest-random-weight) shard assignment: key K belongs
    * to the shard maximizing `md5(shard ':' K)` — the consistent-routing
    * rule whose selling point is MINIMAL MOVEMENT: removing one of N
    * shards reassigns only ~1/N of keys (each orphaned key falls to its
    * second-highest shard; everyone else's argmax is untouched), where a
    * `hash(K) mod N` routing reshuffles (N−1)/N of the corpus. The
    * decision is a pure codegen projection over shard-name literals — no
    * ring state, no lookup table, engine-replayable (argmax by (hash,
    * shard) over md5 hex strings, which collate identically everywhere).
    *
    * @return df + `shard` column
    */
  def rendezvousAssign(df: DataFrame, key: Column,
                       shards: Seq[String]): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign needs at least one shard")
    require(shards.distinct.size == shards.size, s"duplicate shards: $shards")
    val k = F.coalesce(key.cast("string"), F.lit(""))
    val best = F.array_max(F.array(shards.map(s =>
      F.struct(F.md5(F.concat(F.lit(s + ":"), k)).as("h"),
        F.lit(s).as("shard"))): _*))
    df.withColumn("shard", best.getField("shard"))
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of `x` and `y`
    * into one key whose RANGE ORDER is 2-D locality — consecutive z values
    * are near each other in BOTH dimensions. Sorting or range-sharding a
    * table by z therefore clusters both columns at once, so parquet
    * row-group min/max stats prune scans filtered on EITHER dimension —
    * the multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    * ZORDER BY) expressed as a plain column. Pure integer bit ops: exact,
    * codegen'd, and bit-identical in any engine — no float curve math.
    *
    * Inputs must already be non-negative ints < 2^bits (bin/scale first —
    * rank or quantize raw values; [[zorderShardPlan]] guards the range). */
  def mortonCode(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Export integrity manifest: per range-shard row count + an
    * ORDER-INDEPENDENT content checksum (bit-XOR of a 60-bit md5 row
    * fingerprint) + key envelope. After a 100 TB sharded export is copied,
    * re-sharded, or re-ingested, recomputing this manifest on the other
    * side detects ANY lost, duplicated, or corrupted row — without
    * sorting anything: XOR is commutative/associative, so the checksum is
    * partition-order-free, partial-aggregates map-side, and MERGES across
    * sub-manifests by further XOR (the HLL/CMS register property for
    * integrity). A row fingerprint covers `contentCols` joined with an
    * \u0001 separator (so ("ab","c") ≠ ("a","bc")), nulls as empty
    * string, making the manifest schema-stable and engine-replayable.
    *
    * Caveat (documented, inherent to XOR): a row appearing an EVEN number
    * of extra times cancels out of the checksum — the row COUNT catches
    * that case; the pair (n_rows, checksum) is the integrity unit. */
  def shardChecksums(df: DataFrame, keyCol: String, contentCols: Seq[String],
                     nShards: Int = 8,
                     samplePrefix: String = "199a",
                     maxSample: Int = 1 << 20): DataFrame =
    rangeShardAssign(df, keyCol, nShards, samplePrefix, maxSample)
      .withColumn("__fp", rowFingerprint(contentCols))
      .groupBy("shard")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.expr("bit_xor(__fp)").as("checksum"),
        F.min(keyCol).as("min_key"), F.max(keyCol).as("max_key"))

  /** The 60-bit md5 row fingerprint [[shardChecksums]] XORs: content
    * columns joined with a \u0001 separator (("ab","c") != ("a","bc")),
    * nulls as empty string — a pure codegen projection, public so
    * sub-export audits can aggregate it over an EXISTING shard assignment
    * and merge with (+, XOR). */
  def rowFingerprint(contentCols: Seq[String]): Column = {
    require(contentCols.nonEmpty, "rowFingerprint needs at least one content column")
    F.conv(F.substring(F.md5(F.concat_ws("\u0001",
        contentCols.map(c => F.coalesce(F.col(c).cast("string"), F.lit(""))): _*)),
      1, 15), 16, 10).cast("long")
  }

  /** Z-order layout manifest: [[mortonCode]] the two dimensions, then
    * [[rangeShardAssign]] on the z value and report per-shard row counts
    * plus the z and per-dimension min/max envelopes. Equal-count shards in
    * z order are tight rectangles-ish in (x, y) — the manifest SHOWS the
    * locality a z-ordered 100 TB write buys (each shard's dim envelopes
    * cover a fraction of the key space, so a scan filtered on either
    * dimension prunes most shards). Same deterministic machinery as
    * [[rangeShardPlan]]: md5-sampled boundaries, integer rank selection,
    * comparison-chain assignment — reproducible bit-for-bit. */
  def zorderShardPlan(df: DataFrame, xCol: String, yCol: String,
                      bits: Int = 16, nShards: Int = 8,
                      samplePrefix: String = "199a",
                      maxSample: Int = 1 << 20): DataFrame = {
    val lim = 1L << bits
    val z = df
      .withColumn("__rangeok", F.assert_true(
        F.col(xCol) >= 0 && F.col(xCol) < lim &&
          F.col(yCol) >= 0 && F.col(yCol) < lim,
        F.lit(s"zorder inputs must be in [0, 2^$bits): bin/scale $xCol/$yCol first")))
      .withColumn("zvalue", mortonCode(F.col(xCol), F.col(yCol), bits))
      .drop("__rangeok")
    rangeShardAssign(z, "zvalue", nShards, samplePrefix, maxSample)
      .groupBy("shard")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.min("zvalue").as("min_z"), F.max("zvalue").as("max_z"),
        F.min(xCol).as(s"min_x"), F.max(xCol).as(s"max_x"),
        F.min(yCol).as(s"min_y"), F.max(yCol).as(s"max_y"))
  }

  /** Key-skew census + salt planning: the diagnostic that decides WHEN
    * [[saltedAggregate]]-style mitigation is needed and at what factor.
    * For each of the top `topK` keys by row count: its share of the table
    * and the salt fan-out `ceil(share · parallelism)` that would spread
    * the key's rows across that many reducer slots (1 for keys already
    * below a slot's fair share). Run it on the join/agg key BEFORE a big
    * job — the 100 TB habit that catches the one hot key which would
    * otherwise park the whole stage on a single straggler.
    *
    * One partial-aggregated census + a 1-row broadcast total; the salt is
    * an INTEGER ceiling division — no float decides the plan.
    *
    * @return (key, n_rows, share, salt) top keys by (n_rows desc, key)
    */
  def skewCensus(df: DataFrame, key: Column, parallelism: Int,
                 topK: Int = 20): DataFrame = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val counts = df.groupBy(key.as("key")).agg(F.count(F.lit(1)).as("n_rows"))
    val tot = counts.agg(F.sum("n_rows").as("__n"))
    counts.crossJoin(F.broadcast(tot))
      .select(F.col("key"), F.col("n_rows"),
        F.round(F.col("n_rows").cast("double") / F.col("__n"), 6).as("share"),
        F.call_function("div",
          F.col("n_rows") * parallelism + F.col("__n") - 1L,
          F.col("__n")).as("salt"))
      .orderBy(F.col("n_rows").desc, F.col("key"))
      .limit(topK)
  }
}
