package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`) — extension
  * operators beyond the reference surface (SURVEY.md §7 step 10; the
  * `embeddings` testdata table, FIXTURES.md §B).
  *
  * Scale design (100 TB corpus, small query set):
  *  - vector math (cosine/dot/norm/LSH bits) is native Catalyst expressions
  *    (graft.functions.VecExpressions) — no UDF, one tight loop per row
  *    inside whole-stage codegen. HOFs were measured and replaced: Spark
  *    evaluates `zip_with`/`aggregate` lambdas interpreted per element,
  *    which dominated the LSH candidate join at 10× scale.
  *  - brute-force kNN broadcasts the query side (queries ≪ corpus), so the
  *    corpus is scanned exactly once with NO shuffle of corpus rows; the
  *    rank-filter idiom compiles to Spark's WindowGroupLimit, which takes
  *    per-map-partition partial top-k BEFORE the shuffle, so only
  *    O(partitions·k) rows move.
  *  - the LSH variant buckets the corpus by random-hyperplane sign bits:
  *    candidate generation is a bucket equi-join (shuffle ∝ bucket sizes,
  *    not corpus²) — the standard ANN scale path when a full scan per query
  *    batch is too expensive.
  */
object Similarity {

  import org.apache.spark.sql.GraftExpr

  /** Cosine similarity between two vector columns via the native
    * [[graft.functions.CosineSim]] expression (one codegen'd tight loop —
    * the earlier `zip_with`/`aggregate` HOF form evaluates an interpreted
    * lambda per ELEMENT per row, which dominated the candidate-join stage
    * at scale). Zero-norm vectors, length mismatches, and null/NaN elements
    * yield NULL, not NaN: Spark orders NaN GREATER than every double, so a
    * NaN cosine would rank a garbage all-zero embedding as the top neighbor
    * of every query (and `NaN >= threshold` is true); NULL sorts last under
    * desc and fails threshold predicates. */
  def cosine(a: Column, b: Column): Column =
    GraftExpr.column(graft.functions.CosineSim(
      GraftExpr.expression(a), GraftExpr.expression(b)))

  /** One-pass native dot product / L2 norm (see [[cosine]]). */
  def dot(a: Column, b: Column): Column =
    GraftExpr.column(graft.functions.DotProduct(
      GraftExpr.expression(a), GraftExpr.expression(b)))

  def l2norm(a: Column): Column =
    GraftExpr.column(graft.functions.L2Norm(GraftExpr.expression(a)))

  /** Native squared-L2 distance (see [[cosine]] for the codegen
    * rationale) — the left-fold Σ(x−y)², bit-identical to both the HOF
    * `aggregate(zip_with(...))` form and DuckDB `list_sum`. */
  def l2distSq(a: Column, b: Column): Column =
    GraftExpr.column(graft.functions.L2DistSq(
      GraftExpr.expression(a), GraftExpr.expression(b)))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) big side — scanned once, never shuffled
    *                in full (WindowGroupLimit keeps partial top-k per map task)
    * @param queries (idCol, vecCol) small side — broadcast
    */
  def bruteKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    // norms are per-ROW: compute before the join so they aren't re-derived
    // per (corpus × query) pair; only the dot product is per-pair work
    val c = corpus.withColumn("__nc", l2norm(F.col(vecCol)))
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "__qvec")
      .withColumn("__nq", l2norm(F.col("__qvec"))))
    val scored = c.join(q, c(idCol) =!= F.col("query_id")) // all pairs, self excluded
      .withColumn("cos", // zero-norm guard — see cosine()
        F.when(F.col("__nc") * F.col("__nq") > 0.0d,
          dot(F.col(vecCol), F.col("__qvec")) / (F.col("__nc") * F.col("__nq"))))
    val w = Window.partitionBy("query_id").orderBy(F.col("cos").desc, F.col(idCol).asc)
    scored
      .withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"), F.col("cos"), F.col("rk"))
  }

  /** Deterministic random hyperplanes (seeded) — driver-side literals,
    * effectively broadcast with the plan. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH bucket id for a vector column: bit i = (v · plane_i) > 0.
    * One native expression for ALL planes of a table ([[graft.functions
    * .LshBits]]); throws loudly on a dimension mismatch instead of silently
    * sending every row to bucket 0. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    GraftExpr.column(graft.functions.LshBits(GraftExpr.expression(vec), planes))

  /** Approximate top-k via multi-table sign-LSH: bucket corpus + queries in
    * `nTables` independent tables of `nPlanes` sign bits, join on
    * (table, bucket), rank the deduped candidates by exact cosine.
    *
    * Recall < 1 by construction; a single table's collision probability for
    * a pair at angle θ is (1 − θ/π)^nPlanes, and OR-amplification across
    * tables lifts it to 1 − (1 − p^nPlanes)^nTables (a lone 6-plane table
    * finds <5% of moderate-similarity neighbors — measured in OpsSpec; the
    * 16×4 default config measures ≥80%). At scale, nPlanes controls bucket
    * size (≈ N/2^nPlanes rows each) and nTables buys recall linearly in
    * bucketing + candidate cost. `nPlanes = 0` (default) auto-tunes bucket
    * size to the corpus — see [[nearDupPairs]] for the scaling argument. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nPlanes: Int = 0, dim: Int = 64, seed: Long = 42L,
             nTables: Int = 8, targetBucketRows: Int = 256,
             corpusSize: Option[Long] = None): DataFrame = {
    val planes = if (nPlanes > 0) nPlanes
                 else autoPlanes(corpusRows(corpus, dim, corpusSize), targetBucketRows)
    val tables = Array.tabulate(nTables)(t => hyperplanes(planes, dim, seed + 1000L * t))
    def bucketed(df: DataFrame, vc: String): DataFrame = df
      // loud dim check: a vector longer/shorter than the planes would
      // zip_with to null dots → every bucket bit 0 → silent quadratic join
      .withColumn("__dimok", F.assert_true(F.size(F.col(vc)) === dim,
        F.lit(s"embedding dimension must be $dim")))
      .withColumn("__tb", F.explode(F.array((0 until nTables).map { t =>
        F.struct(F.lit(t).as("t"), lshBucket(F.col(vc), tables(t)).as("h"))
      }: _*)))
      .drop("__dimok")
      .withColumn("__t", F.col("__tb.t")).withColumn("__h", F.col("__tb.h"))
      .drop("__tb")
    val cb = bucketed(corpus, vecCol)
    val qb = F.broadcast(bucketed(
      queries.withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "__qvec"),
      "__qvec"))
    val cand = cb.join(qb, Seq("__t", "__h")).filter(F.col(idCol) =!= F.col("query_id"))
      // dedup BEFORE the cosine: a candidate colliding in k tables would
      // otherwise pay the dim-length dot product k times
      .dropDuplicates("query_id", idCol)
      .withColumn("cos", cosine(F.col(vecCol), F.col("__qvec")))
    val w = Window.partitionBy("query_id").orderBy(F.col("cos").desc, F.col(idCol).asc)
    cand.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"), F.col("cos"), F.col("rk"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes only its
    * `nprobe` nearest cells and ranks those candidates by exact cosine.
    * This is the scale path beyond [[lshKnn]]: per query batch the corpus
    * scan drops to ~nprobe/nlist of the data, and `__cell` doubles as a
    * parquet partition key at rest so probing prunes whole files. Cell
    * assignment uses the quantizer's own metric (euclidean), final ranking
    * uses cosine like the other operators. With nprobe = nlist this is
    * exhaustive and must equal [[bruteKnn]] (pinned in OpsSpec).
    */
  /** A built IVF index: corpus rows tagged with their `__cell`, plus the
    * driver-side centroids. In a persistent deployment `cells` is written
    * `partitionBy("__cell")` so probing prunes whole parquet files; the
    * quantizer is built ONCE and amortized over every query batch. */
  final case class IvfIndex(cells: DataFrame, centroids: Array[Array[Double]],
                            idCol: String, vecCol: String)

  /** Deterministic bounded fit sample for quantizer training: rows ranked
    * by a CONTENT hash (md5 of the vector rendering) and the hash-smallest
    * `cap` kept — a uniform draw that is independent of scan/partition
    * order, so a corpus written sorted or partitioned by domain (the 100 TB
    * layout) still yields a representative sample; first-rows `.limit`
    * would train the quantizer on whichever shard Spark scanned first.
    * Sort+limit plans as TakeOrderedAndProject — a bounded per-partition
    * top-cap heap + one bounded merge, never a full sort — then the sample
    * is respread for parallel ML aggregation. Callers `.cache()` the
    * result and fit EVERY model from the one materialization (65k × dim
    * doubles ≈ 33 MB — trivially cacheable), then unpersist. */
  private[graft] def fitSample(corpus: DataFrame, vecCol: String,
                               cap: Int = 65536): DataFrame =
    corpus.select(F.col(vecCol).cast("array<double>").as("__v"))
      .filter(F.col("__v").isNotNull)
      .withColumn("__h", F.md5(F.col("__v").cast("string")))
      .orderBy("__h").limit(cap)
      .drop("__h")
      .repartition(16)

  /** Build the IVF coarse quantizer + cell assignment. The k-means fits on
    * a bounded DETERMINISTIC sample ([[fitSample]] — content-hash-ranked,
    * cached once, unbiased under sorted/partitioned corpora) — at corpus
    * scale you never train on all rows; cell QUALITY needs only a
    * representative sample, while cell ASSIGNMENT covers every row. */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sample = fitSample(corpus, vecCol)
      .select(array_to_vector(F.col("__v")).as("__v")).cache()
    val model =
      try new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("__v").setPredictionCol("__cell")
        .fit(sample)
      finally sample.unpersist(false)
    val vecd = corpus.withColumn("__v",
      array_to_vector(F.col(vecCol).cast("array<double>")))
    IvfIndex(model.transform(vecd).drop("__v"),
      model.clusterCenters.map(_.toArray), idCol, vecCol)
  }

  /** Build an [[IvfIndex]] at caller-supplied FIXED centroids (no k-means
    * fit): cell assignment is the same native [[graft.functions.NearestCell]]
    * squared-L2 argmin used by [[assignCells]] — a shuffle-free codegen
    * projection whose sequential per-dimension sum any engine replays
    * exactly. This is both the oracle-twin path (x90 replays the whole
    * IVF pipeline in DuckDB from literal centroids) and the production
    * re-attach path: a quantizer fit once (or loaded from a sidecar) is
    * re-applied to a new corpus drop without retraining. */
  def ivfIndexAt(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]]): IvfIndex = {
    require(centroids.nonEmpty, "ivfIndexAt needs at least one centroid")
    val cells = assignCells(
        corpus.select(F.col(idCol), F.col(vecCol).cast("array<double>").as(vecCol)),
        vecCol, centroids)
      .withColumnRenamed("cell", "__cell")
    IvfIndex(cells, centroids, idCol, vecCol)
  }

  /** Persist an [[IvfIndex]] for reuse across query batches — the
    * amortization that makes IVF the 100 TB shape: cells written
    * `partitionBy(__cell)` (via [[graft.ops.Scale.writePartitionedCorpus]]'s
    * bounded-files routing) so a probe's broadcast join dynamic-partition-
    * prunes whole files (plan-asserted in ScaleSpec), centroids as a tiny
    * JSON sidecar next to them. */
  def saveIvf(index: IvfIndex, path: String): Unit = {
    graft.ops.Scale.writePartitionedCorpus(index.cells, s"$path/cells", Seq("__cell"))
    val meta = s"""{"idCol":"${index.idCol}","vecCol":"${index.vecCol}","centroids":[""" +
      index.centroids.map(_.mkString("[", ",", "]")).mkString(",") + "]}"
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = p.getFileSystem(index.cells.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  /** Load an index written by [[saveIvf]]; probes against it partition-prune
    * on `__cell`. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // sidecar is machine-written by saveIvf — parse with anchored regexes,
    // loud on anything unexpected rather than a JSON lib dependency
    val id = "\"idCol\":\"([^\"]+)\"".r.findFirstMatchIn(raw)
      .getOrElse(sys.error(s"malformed centroids.json at $path")).group(1)
    val vec = "\"vecCol\":\"([^\"]+)\"".r.findFirstMatchIn(raw)
      .getOrElse(sys.error(s"malformed centroids.json at $path")).group(1)
    val cents = "\\[([^\\[\\]]+)\\]".r.findAllMatchIn(
        raw.substring(raw.indexOf("\"centroids\":")))
      .map(_.group(1).split(',').map(_.trim.toDouble)).toArray
    require(cents.nonEmpty, s"no centroids in $path/centroids.json")
    IvfIndex(spark.read.parquet(s"$path/cells"), cents, id, vec)
  }

  /** Probe an [[IvfIndex]]: each query visits its `nprobe` nearest cells
    * (quantizer metric = euclidean), candidates rank by exact cosine. */
  def queryIvf(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val idCol = index.idCol
    // query side (small): nprobe nearest centroids; array_sort on
    // (distance, cell) structs orders by distance
    val qb = queries
      .withColumnRenamed(idCol, "query_id")
      .withColumnRenamed(index.vecCol, "__qvec")
    val dists = index.centroids.zipWithIndex.map { case (c, i) =>
      val cl = F.array(c.map(F.lit): _*)
      F.struct(
        F.aggregate(F.zip_with(F.col("__qvec"), cl, (x, y) => (x - y) * (x - y)),
          F.lit(0.0d), (acc, v) => acc + v).as("d"),
        F.lit(i).as("cell"))
    }
    val probed = qb
      .withColumn("__p", F.explode(F.slice(F.array_sort(F.array(dists: _*)), 1, nprobe)))
      .select(F.col("query_id"), F.col("__qvec"), F.col("__p.cell").as("__cell"))

    val cand = index.cells.join(F.broadcast(probed), Seq("__cell"))
      .filter(F.col(idCol) =!= F.col("query_id"))
      .withColumn("cos", cosine(F.col(index.vecCol), F.col("__qvec")))
    val w = Window.partitionBy("query_id").orderBy(F.col("cos").desc, F.col(idCol).asc)
    cand.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"), F.col("cos"), F.col("rk"))
  }

  /** One-shot build + query. See [[buildIvf]]/[[queryIvf]]; with
    * nprobe = nlist this is exhaustive and equals [[bruteKnn]] (OpsSpec). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    queryIvf(buildIvf(corpus, idCol, vecCol, nlist, seed), queries, k, nprobe)

  /** All pairs with cosine ≥ threshold via multi-table sign-LSH buckets
    * (near-duplicate detection on embeddings). Pair appears once (a < b).
    *
    * OR-amplification: `nTables` independent hash tables of `nPlanes` sign
    * bits each. A pair at angle θ collides per table with p^nPlanes
    * (p = 1 − θ/π), so recall = 1 − (1 − p^nPlanes)^nTables — a single
    * 6-plane table catches only ~6% of cos≈0.4 pairs; 16×4-plane tables
    * catch ~94% (measured recall pinned in OpsSpec). Tuning at scale:
    * nPlanes ≈ log2(N / targetBucketRows) keeps the per-bucket quadratic
    * work bounded as the corpus grows; nTables then buys back recall at a
    * linear (not quadratic) cost of nTables× bucketing + candidate rows.
    *
    * `maxBucket` caps pathological buckets (many near-identical or zero-ish
    * embeddings land in one bucket and the self-join goes quadratic) with
    * the same groupBy + broadcast-anti guard as [[Dedup.minhashPairs]]; a
    * pair capped out of one table can still surface via another table.
    *
    * `nPlanes = 0` (default) auto-tunes to `log2(N / targetBucketRows)`:
    * a FIXED plane count is a scale bug — bucket size grows linearly with
    * the corpus and the within-bucket self-join quadratically (measured:
    * 10× rows at nPlanes=4 went 0.5 s → 57 s; auto restores near-linear
    * scaling). The flip side is per-table recall p^nPlanes falling as N
    * grows — hold a recall floor by raising nTables ∝ p^-nPlanes, which
    * costs linear bucketing work, not quadratic join work. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                   nPlanes: Int = 0, dim: Int = 64, seed: Long = 42L,
                   nTables: Int = 8, maxBucket: Int = 1000,
                   targetBucketRows: Int = 256,
                   corpusSize: Option[Long] = None): DataFrame = {
    val planes = if (nPlanes > 0) nPlanes
                 else autoPlanes(corpusRows(emb, dim, corpusSize), targetBucketRows)
    val tables = Array.tabulate(nTables)(t => hyperplanes(planes, dim, seed + 1000L * t))
    val b = emb.select(F.col(idCol), F.col(vecCol))
      .withColumn("__dimok", F.assert_true(F.size(F.col(vecCol)) === dim,
        F.lit(s"embedding dimension must be $dim"))) // see lshKnn
      .withColumn("__tb", F.explode(F.array((0 until nTables).map { t =>
        F.struct(F.lit(t).as("t"), lshBucket(F.col(vecCol), tables(t)).as("h"))
      }: _*)))
      .select(F.col(idCol), F.col(vecCol),
        F.col("__tb.t").as("__t"), F.col("__tb.h").as("__h"))
      // materialize the (expensive: nPlanes·nTables dot products/row)
      // bucketing ONCE behind an exchange for its three consumers (census +
      // both join sides), pre-partitioned on the join key so the self-join
      // reuses the exchange instead of shuffling twice more
      .repartition(F.col("__t"), F.col("__h"))
    val oversized = b.groupBy("__t", "__h").count()
      .filter(F.col("count") > maxBucket).select("__t", "__h")
    val sized = b.join(F.broadcast(oversized), Seq("__t", "__h"), "left_anti")
    val l = sized.select(F.col("__t"), F.col("__h"), F.col(idCol).as("a"), F.col(vecCol).as("__va"))
    val r = sized.select(F.col("__t"), F.col("__h"), F.col(idCol).as("b"), F.col(vecCol).as("__vb"))
    l.join(r, Seq("__t", "__h")).filter(F.col("a") < F.col("b"))
      // cosine + threshold BEFORE the pair dedup: the filter is a codegen'd
      // projection that kills almost every candidate, while dropDuplicates
      // is a full shuffle of whatever reaches it — deduping first shuffles
      // ALL candidate rows (the dominant cost at scale); paying a duplicate
      // 64-mul dot product ≤ nTables× per surviving pair is noise
      .withColumn("cos", cosine(F.col("__va"), F.col("__vb")))
      .filter(F.col("cos") >= threshold)
      .select("a", "b", "cos")
      .dropDuplicates("a", "b")
  }

  /** Corpus row count for the plane auto-tuner WITHOUT an eager extra Spark
    * job. Priority: (1) caller-supplied size; (2) optimizer-stats row count
    * (present under CBO / after ANALYZE); (3) a scan-bytes estimate,
    * `sizeInBytes / (dim·4)` — the packed width of a float vector, the row's
    * dominant term. The estimate only feeds `log2(N/target)`, so an error
    * factor of e shifts the plane count by log2(e): the measured ~1.6×
    * over-estimate on the parquet testdata moves it by at most one plane,
    * while bucket sizes stay bounded either way (and `maxBucket` guards the
    * tail). Only when the plan reports no usable size (e.g. an un-analyzed
    * JDBC relation defaulting to Long.Max) does this fall back to the old
    * `count()` — which materializes the whole upstream plan as an extra job,
    * the thing this function exists to avoid. */
  private[graft] def corpusRows(df: DataFrame, dim: Int, explicit: Option[Long]): Long =
    explicit.getOrElse {
      val stats = df.queryExecution.optimizedPlan.stats
      stats.rowCount.map(_.longValue).getOrElse {
        val bytes = stats.sizeInBytes
        if (bytes > 0 && bytes < BigInt(Long.MaxValue) / 4)
          (bytes / BigInt(math.max(1, dim * 4))).toLong.max(1L)
        else df.count()
      }
    }

  /** Plane count that keeps expected bucket size ≈ targetBucketRows:
    * ceil(log2(N / target)), clamped to [2, 24]. */
  private[graft] def autoPlanes(n: Long, targetBucketRows: Int): Int = {
    val ratio = math.max(1.0, n.toDouble / math.max(1, targetBucketRows))
    math.min(24, math.max(2, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** Per-label mean embedding: (labelCol, `centroid` array<double>, `n`).
    *
    * Shape at scale: posexplode to (label, pos, val) rows, then ONE
    * partially-aggregated groupBy — avg/count combine map-side, so the
    * shuffle carries only |labels|·dim partial sums regardless of corpus
    * size (the N·dim exploded rows never cross the wire). The second
    * groupBy re-assembling dims into an array touches |labels|·dim rows —
    * driver-scale, not data-scale. */
  def centroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val exploded = emb
      .select(F.col(labelCol), F.posexplode(F.col(vecCol)).as(Seq("__p", "__v")))
    exploded
      .groupBy(F.col(labelCol), F.col("__p"))
      .agg(F.avg(F.col("__v").cast("double")).as("__avg"), F.count(F.lit(1)).as("__n"))
      .groupBy(labelCol)
      .agg(
        // array_sort on (pos, avg) structs orders dims; transform strips pos
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("__p"), F.col("__avg")))),
          s => s.getField("__avg")).as("centroid"),
        F.max("__n").as("n"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * storage-side half of an ANN pipeline (4× smaller than float32, 8×
    * smaller than float64; at 100 TB the embedding store is usually the
    * dominant byte count and int8 recall loss is negligible for cosine
    * ranking). Per vector: `scale` = max|v|/127, `q_i` = round-half-up of
    * v_i/scale (floor(x+0.5) — spelled that way so any engine reproduces
    * the exact codes; round() tie rules differ across engines), plus
    * `max_err`, the worst per-dimension reconstruction error (bounded by
    * scale/2 — asserted in OpsSpec). All-zero vectors quantize to zeros
    * with scale 0. Pure per-row projection: no shuffle, no UDF — ONE
    * native single-pass expression ([[graft.functions.QuantizeInt8]]).
    * The previous HOF formulation (transform/array_max/zip_with) was
    * interpreted per element AND CollapseProject re-derived the cast
    * vector and the code array inside every consumer (~8 boxed array
    * walks per row); the native kernel is the same IEEE op order
    * (floor(x/m·127 + 0.5), err = |x − q·m/127|) in one loop that
    * composes with whole-stage codegen. */
  def quantize(emb: DataFrame, vecCol: String): DataFrame = {
    val st = org.apache.spark.sql.GraftExpr.column(
      graft.functions.QuantizeInt8(
        org.apache.spark.sql.GraftExpr.expression(F.col(vecCol))))
    emb.withColumn("__qs", st)
      .withColumn("scale", F.col("__qs.scale"))
      .withColumn("q", F.col("__qs.q"))
      .withColumn("max_err", F.col("__qs.max_err"))
      .drop("__qs")
  }

  /** Cosine of every vector to its own label's centroid — the
    * distance-to-centroid outlier score used to flag mislabeled or garbage
    * embeddings in a training corpus. Centroids are |labels| rows →
    * broadcast; the corpus is scanned once with no shuffle. */
  def centroidScores(emb: DataFrame, idCol: String, labelCol: String,
                     vecCol: String): DataFrame = {
    val c = centroids(emb, labelCol, vecCol).select(F.col(labelCol), F.col("centroid"))
    emb.join(F.broadcast(c), Seq(labelCol))
      .select(F.col(idCol), F.col(labelCol),
        cosine(F.col(vecCol), F.col("centroid")).as("cos_centroid"))
  }

  /** Hard-negative mining for contrastive training: for each query row,
    * the top-k most-similar corpus rows with a DIFFERENT label — the
    * near-miss negatives that make an embedding model learn boundaries
    * (the in-batch-negatives upgrade every dense-retrieval recipe uses).
    * Same plan shape as [[bruteKnn]]: queries broadcast, corpus scanned
    * once with no shuffle of corpus rows, rank-filter compiles to
    * WindowGroupLimit (partial top-k per map task). The label inequality
    * rides the join condition, so same-label pairs are dropped BEFORE the
    * dot product. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    labelCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.withColumn("__nc", l2norm(F.col(vecCol)))
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id")
      .withColumnRenamed(labelCol, "__qlabel")
      .withColumnRenamed(vecCol, "__qvec")
      .withColumn("__nq", l2norm(F.col("__qvec"))))
    val scored = c.join(q, F.col(labelCol) =!= F.col("__qlabel"))
      .withColumn("cos", // zero-norm guard — see cosine()
        F.when(F.col("__nc") * F.col("__nq") > 0.0d,
          dot(F.col(vecCol), F.col("__qvec")) / (F.col("__nc") * F.col("__nq"))))
    val w = Window.partitionBy("query_id").orderBy(F.col("cos").desc, F.col(idCol).asc)
    scored.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neg_id"),
        F.col(labelCol).as("neg_label"), F.col("cos"), F.col("rk"))
  }

  /** Nearest-centroid Voronoi cell assignment: `cell` = argmin over the
    * driver-side `centroids` of the squared euclidean distance, ties broken
    * by lower cell id — one native codegen'd loop per row ([[graft
    * .functions.NearestCell]]; the earlier zip_with/aggregate HOF form
    * evaluated an interpreted lambda per element per centroid and went
    * super-linear in the 10× stress once nlist scaled with the corpus).
    * The distance is an element-order sequential sum, so any engine
    * replays the exact doubles; the centroid literals travel with the
    * plan (no broadcast join, no shuffle). */
  def assignCells(emb: DataFrame, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame =
    emb.withColumn("cell", GraftExpr.column(
      graft.functions.NearestCell(GraftExpr.expression(F.col(vecCol)), centroids)))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the corpus, then within each cell
    * flag every row that has a same-cell neighbor with cosine ≥
    * `threshold` and a LOWER id. Output: every input row as
    * (idCol, cell, is_dup) — filter `!is_dup` for the survivor set.
    * (The paper keeps the member farthest from its centroid; keep-lowest-id
    * is the engine-replayable determinization, same rule as [[graft.ops
    * .Dedup.exact]].)
    *
    * Scale shape: assignment is a pure projection ([[assignCells]]); the
    * only data-scale shuffle is the within-cell self-semi-join, whose cost
    * is Σ|cell|² — bounded by growing nlist with the corpus (cells stay
    * ≈ N/nlist rows) exactly like [[buildIvf]], and guarded by `maxCell`:
    * cells over the cap are excluded from pair generation by the same
    * census + broadcast-anti idiom as [[nearDupPairs]] (their rows come
    * back `is_dup = false` — a capped cell keeps everything rather than
    * flagging on a quadratic blow-up; pinned in OpsSpec). The semi-join
    * needs no pair materialization or dedup — first match wins. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
               centroids: Array[Array[Double]], maxCell: Int = 100000): DataFrame =
    flagSemDups(
      assignCells(emb.select(F.col(idCol), F.col(vecCol)), vecCol, centroids),
      idCol, vecCol, threshold, maxCell)

  /** [[semDedup]] with the quantizer FIT on the data: k-means on a bounded
    * sample (the [[buildIvf]] quantizer — cell quality needs a sample, cell
    * assignment covers every row). Not oracle-replayable (the fit isn't
    * SQL); the fixed-centroid overload is the verified-math path. */
  def semDedupKmeans(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nlist: Int = 16, seed: Long = 42L,
                     maxCell: Int = 100000): DataFrame = {
    val idx = buildIvf(emb, idCol, vecCol, nlist, seed)
    flagSemDups(idx.cells.withColumnRenamed("__cell", "cell")
        .select(F.col(idCol), F.col(vecCol), F.col("cell")),
      idCol, vecCol, threshold, maxCell)
  }

  /** Cluster-balanced capping ("cluster-and-cap"): assign every row to its
    * nearest centroid cell (the [[semDedup]] quantizer) and keep at most
    * `cap` rows per cell, chosen by content hash — the semantic
    * rebalancing step of a training-data pipeline: a web-scale corpus is
    * dominated by its mega-clusters (boilerplate, SEO farms, template
    * pages), and capping per SEMANTIC cell flattens that head while
    * leaving tail domains untouched (cf. the cluster-based curation in
    * SemDeDup/DataComp pipelines; complements [[Sampling.capPerGroup]],
    * which needs an explicit group column).
    *
    * Scale shape: cell assignment is the shuffle-free native
    * [[graft.functions.NearestCell]] codegen projection; the ONLY shuffle
    * is capPerGroup's per-cell window, whose rank filter compiles to
    * WindowGroupLimit (later rows die map-side). Deterministic under
    * repartitioning: the keep-set is ranked by md5(salt ++ id), never by
    * physical row order. */
  def clusterCap(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]], cap: Int,
                 salt: String = ""): DataFrame =
    Sampling.capPerGroup(
      assignCells(emb, vecCol, centroids),
      F.col("cell"), F.col(idCol).cast("string"), cap, salt)

  /** Product quantization (Jégou et al. 2011): encode each vector as m
    * subspace codes against a [m][k][dsub] codebook — the byte-code ANN
    * storage path beyond [[quantize]]'s int8 (64-dim float32 at m=8, k≤256
    * is 8 bytes/vector, 32× smaller; ADC then ranks candidates from
    * per-query lookup tables without touching floats). Adds `codes`
    * (array<int>, the native [[graft.functions.PqEncode]] loop), `recon`
    * (the decoded approximation — codebook lookups, m tiny HOF evals/row),
    * and `recon_err` (squared L2 of vec − recon, the element-order
    * sequential sum any engine replays). Pure projection: zero shuffle. */
  def pqQuantize(emb: DataFrame, vecCol: String,
                 codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val k = codebooks(0).length
    val cbLit = F.array(codebooks.flatten.map(cw => F.array(cw.map(F.lit): _*)): _*)
    val codes = GraftExpr.column(graft.functions.PqEncode(
      GraftExpr.expression(F.col(vecCol)), codebooks))
    val withCodes = emb.withColumn("codes", codes)
      .withColumn("recon", F.flatten(F.transform(F.col("codes"),
        (code, s) => F.element_at(cbLit, s * k + code + F.lit(1)))))
    withCodes.withColumn("recon_err",
      F.aggregate(
        F.zip_with(F.col(vecCol), F.col("recon"), (x, y) => (x - y) * (x - y)),
        F.lit(0.0d), (acc, v) => acc + v))
  }

  /** ADC (asymmetric-distance) top-k over PQ codes — the query half of the
    * [[pqQuantize]] pipeline: each query precomputes its m·k lookup table
    * ONCE (||q_s − c_{s,j}||² per subspace/codeword), then every candidate
    * costs m table lookups instead of dim multiplies — the classic PQ
    * trade (Jégou et al. 2011). ADC distance is EXACTLY the squared L2 to
    * the decoded vector (subspaces partition the dims), pinned in OpsSpec.
    *
    * Scale shape: queries (small) broadcast WITH their LUTs — the corpus
    * side touches only the m-byte codes, never floats; rank-filter
    * compiles to WindowGroupLimit. LUT construction is per-QUERY-row HOF
    * work (m·k·dsub ops on a handful of rows); the per-candidate probe is
    * m interpreted lookups — swap to a native expression if the candidate
    * stream ever dominates. */
  def pqSearch(codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id")
      .withColumnRenamed(vecCol, "__qvec")
      .withColumn("__lut", pqLut(F.col("__qvec"), codebooks))
      .select("query_id", "__lut"))
    val scored = codes.join(q, F.col(idCol) =!= F.col("query_id"))
      .withColumn("dist",
        adcDist(F.col("codes"), F.col("__lut"), codebooks.length, codebooks(0).length))
    val w = Window.partitionBy("query_id").orderBy(F.col("dist").asc, F.col(idCol).asc)
    scored.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"),
        F.col("dist"), F.col("rk"))
  }

  /** Per-query ADC lookup table: ||q_s − c_{s,j}||² for every (subspace,
    * codeword), flat m·k array — each entry an i-ascending sequential sum
    * (the replayable order). HOF cost is per QUERY row only. The m query
    * slices are cut outside the lambdas, so `qvec` is read m times there
    * and a computed query vector stays one bound column. */
  private def pqLut(qvec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val qSubs = F.array((0 until m).map(s => F.slice(qvec, F.lit(s * dsub + 1), F.lit(dsub))): _*)
    val cbLit = F.array(codebooks.map(sub =>
      F.array(sub.map(cw => F.array(cw.map(F.lit): _*)): _*)): _*)
    F.flatten(F.zip_with(qSubs, cbLit, (qs, cws) => F.transform(cws, cw =>
      F.aggregate(F.zip_with(qs, cw, (x, y) => (x - y) * (x - y)),
        F.lit(0.0d), (acc, v) => acc + v))))
  }

  /** ADC distance: m LUT lookups added s-ascending — one native codegen'd
    * loop per candidate ([[graft.functions.AdcDist]]; the zip_with/
    * aggregate HOF form paid two interpreted lambdas per candidate on the
    * hottest stream of the search). Addition order matches any engine's
    * list(subsum ORDER BY s) replay. */
  private def adcDist(codes: Column, lut: Column, m: Int, kk: Int): Column =
    GraftExpr.column(graft.functions.AdcDist(
      GraftExpr.expression(codes), GraftExpr.expression(lut), kk))

  /** A built IVF+PQ index: every corpus row as (id, cell, residual codes).
    * At rest `cells` is written `partitionBy(cell)` so probing prunes
    * whole files, and rows cost ~m bytes instead of dim·4. */
  final case class IvfPqIndex(cells: DataFrame, centroids: Array[Array[Double]],
                              codebooks: Array[Array[Array[Double]]], idCol: String)

  /** IVF+PQ (the FAISS IVFPQ composition, Jégou et al. 2011): coarse
    * Voronoi cells prune the corpus ([[assignCells]]), and each row stores
    * PQ codes of its RESIDUAL (v − centroid[cell]) — residuals are smaller
    * in norm than raw vectors, so the same codebook budget quantizes them
    * finer. This is the 100 TB ANN architecture: scan nprobe/nlist of the
    * data, touch m bytes per candidate. */
  def ivfpqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]]): IvfPqIndex = {
    val centLit = F.array(centroids.map(c => F.array(c.map(F.lit): _*)): _*)
    val assigned = assignCells(corpus.select(F.col(idCol), F.col(vecCol)),
      vecCol, centroids)
    val resid = F.zip_with(F.col(vecCol),
      F.element_at(centLit, F.col("cell") + F.lit(1)), (x, y) => x - y)
    val cells = assigned
      .withColumn("__res", resid)
      .withColumn("codes", GraftExpr.column(graft.functions.PqEncode(
        GraftExpr.expression(F.col("__res")), codebooks)))
      .select(F.col(idCol), F.col("cell"), F.col("codes"))
    IvfPqIndex(cells, centroids, codebooks, idCol)
  }

  /** Probe an [[IvfPqIndex]]: each query visits its `nprobe` nearest cells
    * (the [[assignCells]] distance, ties to lower cell), builds a residual
    * ADC LUT per probed cell, and ranks that cell's candidates by ADC.
    * With nprobe = nlist the ranking equals squared-L2 against the full
    * reconstruction (centroid + decoded residual) — pinned in OpsSpec. */
  def ivfpqSearch(index: IvfPqIndex, queries: DataFrame, vecCol: String,
                  k: Int, nprobe: Int): DataFrame = {
    val cents = index.centroids
    val centLit = F.array(cents.map(c => F.array(c.map(F.lit): _*)): _*)
    val dists = cents.zipWithIndex.map { case (c, i) =>
      val cl = F.array(c.map(F.lit): _*)
      F.struct(
        F.aggregate(F.zip_with(F.col("__qvec"), cl, (x, y) => (x - y) * (x - y)),
          F.lit(0.0d), (acc, v) => acc + v).as("d"),
        F.lit(i).as("cell"))
    }
    val probed = F.broadcast(queries
      .withColumnRenamed(index.idCol, "query_id")
      .withColumnRenamed(vecCol, "__qvec")
      .withColumn("__p", F.explode(F.slice(F.array_sort(F.array(dists: _*)), 1, nprobe)))
      .withColumn("cell", F.col("__p").getField("cell"))
      .withColumn("__qres", F.zip_with(F.col("__qvec"),
        F.element_at(centLit, F.col("cell") + F.lit(1)), (x, y) => x - y))
      .withColumn("__lut", pqLut(F.col("__qres"), index.codebooks))
      .select("query_id", "cell", "__lut"))
    val cand = index.cells.join(probed, Seq("cell"))
      .filter(F.col(index.idCol) =!= F.col("query_id"))
      .withColumn("dist", adcDist(F.col("codes"), F.col("__lut"),
        index.codebooks.length, index.codebooks(0).length))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("dist").asc, F.col(index.idCol).asc)
    cand.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(index.idCol).as("neighbor_id"),
        F.col("dist"), F.col("rk"))
  }

  /** Fit PQ codebooks: per-subspace k-means on a bounded DETERMINISTIC
    * sample (the [[buildIvf]] rationale — codebook QUALITY needs a sample;
    * encoding covers every row). The [[fitSample]] draw is materialized
    * ONCE (cached) and all m subspace fits slice it — the earlier
    * uncached form re-scanned the parquet for each of the m fits.
    * Returns [m][k][dsub] for [[pqQuantize]]. */
  def pqFit(corpus: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
            dim: Int = 64, seed: Long = 42L): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val sample = fitSample(corpus, vecCol).cache()
    try {
      (0 until m).map { s =>
        val sub = sample.select(
          array_to_vector(F.slice(F.col("__v"), s * dsub + 1, dsub)).as("__s"))
        new KMeans().setK(k).setSeed(seed + s).setMaxIter(10)
          .setFeaturesCol("__s").setPredictionCol("__c")
          .fit(sub).clusterCenters.map(_.toArray)
      }.toArray
    } finally sample.unpersist(false)
  }

  /** Rotate a vector column by a literal matrix via the native
    * [[graft.functions.MatVec]] expression (one codegen'd loop; j-ascending
    * accumulation replays in SQL). */
  def matVec(mat: Array[Array[Double]], vec: Column): Column =
    GraftExpr.column(graft.functions.MatVec(GraftExpr.expression(vec), mat))

  /** OPQ — Optimized Product Quantization (Ge et al., CVPR 2013,
    * non-parametric): learn an orthogonal rotation R so that PQ codebooks
    * quantize R·x with lower reconstruction error than x (PQ's
    * independence assumption across subspaces is wrong for correlated
    * dims; the rotation decorrelates/balances them). Alternates
    *  (1) per-subspace k-means on the rotated sample,
    *  (2) orthogonal Procrustes R ← U·Vᵀ from svd(Xᵀ·X̂)
    * — each step is non-increasing in ‖X·R − X̂‖², the standard OPQ
    * convergence argument.
    *
    * Scale shape: the fit runs DRIVER-LOCAL over the bounded deterministic
    * [[fitSample]] (≤65k × dim doubles ≈ 33 MB — the FAISS convention:
    * OPQ trains on an in-memory sample; iters×m Spark-job k-means rounds
    * would pay scheduler latency for no accuracy). Everything that touches
    * the CORPUS — rotation, encoding, search — is distributed codegen
    * ([[matVec]] + the PQ family). Returns (R, codebooks) where
    * y = R·x is rotated coordinates; R is orthogonal so rotated-space
    * reconstruction error EQUALS original-space error. */
  def opqFit(corpus: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
             dim: Int = 64, iters: Int = 5, seed: Long = 42L)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dsub = dim / m
    val rows = fitSample(corpus, vecCol).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.length >= k, s"need at least k=$k sample rows, got ${rows.length}")
    require(rows.forall(_.length == dim), s"every vector must have dim $dim")
    val n = rows.length
    val X = DenseMatrix(rows: _*) // n×dim, row per sample
    var R = DenseMatrix.eye[Double](dim)
    var books: Array[Array[Array[Double]]] = null
    var it = 0
    while (it < iters) {
      val Y = X * R // rotated sample (column-convention: y_row = x_row·R)
      books = Array.tabulate(m) { s =>
        val pts = Array.tabulate(n)(r => Array.tabulate(dsub)(c => Y(r, s * dsub + c)))
        localLloyd(pts, k, seed + it * 31 + s)
      }
      val Yhat = DenseMatrix.zeros[Double](n, dim)
      var r = 0
      while (r < n) {
        var s = 0
        while (s < m) {
          val cws = books(s)
          var bestJ = 0; var best = 0.0; var j = 0
          while (j < k) {
            var d2 = 0.0; var c = 0
            while (c < dsub) { val d = Y(r, s * dsub + c) - cws(j)(c); d2 += d * d; c += 1 }
            if (j == 0 || d2 < best) { best = d2; bestJ = j }
            j += 1
          }
          var c = 0
          while (c < dsub) { Yhat(r, s * dsub + c) = cws(bestJ)(c); c += 1 }
          s += 1
        }
        r += 1
      }
      val svd.SVD(u, _, vt) = svd(X.t * Yhat)
      R = u * vt
      it += 1
    }
    // return row-convention R_out with y[i] = Σ_j R_out[i][j]·x[j]:
    // y_row = x_row·R means R_out = Rᵀ
    (Array.tabulate(dim, dim)((i, j) => R(j, i)), books)
  }

  /** Plain Lloyd k-means on a local sample — deterministic seeded init
    * (distinct index draw), empty clusters keep their previous center. */
  private def localLloyd(pts: Array[Array[Double]], k: Int, seed: Long,
                         iters: Int = 10): Array[Array[Double]] = {
    val n = pts.length
    val d = pts(0).length
    val rnd = new scala.util.Random(seed)
    val cents = rnd.shuffle((0 until n).toVector).take(k).map(i => pts(i).clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Int](k)
      var r = 0
      while (r < n) {
        var bestJ = 0; var best = 0.0; var j = 0
        while (j < k) {
          var d2 = 0.0; var c = 0
          while (c < d) { val df = pts(r)(c) - cents(j)(c); d2 += df * df; c += 1 }
          if (j == 0 || d2 < best) { best = d2; bestJ = j }
          j += 1
        }
        counts(bestJ) += 1
        var c = 0
        while (c < d) { sums(bestJ)(c) += pts(r)(c); c += 1 }
        r += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) { var c = 0; while (c < d) { cents(j)(c) = sums(j)(c) / counts(j); c += 1 } }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** PCA fit — mean + top-`outDim` principal components, trained on the
    * bounded deterministic [[fitSample]] (the FAISS `PCAMatrix` convention,
    * same rationale as [[pqFit]]/[[opqFit]]: projection QUALITY needs a
    * representative sample; projection itself covers every row via
    * [[pcaProject]]'s native MatVec). Covariance + cyclic-Jacobi
    * eigendecomposition run driver-local on the ≤65k×dim sample (≈33 MB,
    * the opqFit budget); components are returned EIGENVALUE-DESCENDING,
    * sign-canonicalized (largest-|coordinate| entry positive, ties to the
    * lower index) and rounded to 6 dp so a fitted matrix can be baked into
    * plans/SQL as identical literals on any engine. */
  def pcaFit(corpus: DataFrame, vecCol: String, outDim: Int,
             dim: Int = 64): (Array[Double], Array[Array[Double]]) = {
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, $dim], got $outDim")
    val rows = fitSample(corpus, vecCol).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pcaFit needs a non-empty corpus")
    // validate EVERY sampled row, not just head: a ragged corpus must die
    // here with the dim message, not as an ArrayIndexOutOfBounds inside
    // the covariance loops (ADVICE r8)
    rows.indices.foreach { i =>
      require(rows(i).length == dim,
        s"pcaFit: sampled vector $i has dim ${rows(i).length} != declared $dim")
    }
    val n = rows.length
    val mean = new Array[Double](dim)
    rows.foreach { r => var i = 0; while (i < dim) { mean(i) += r(i); i += 1 } }
    locally { var i = 0; while (i < dim) { mean(i) /= n; i += 1 } }
    val cov = Array.fill(dim, dim)(0.0)
    rows.foreach { r =>
      var a = 0
      while (a < dim) {
        val da = r(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += da * (r(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    val denom = math.max(n - 1, 1)
    for (a <- 0 until dim; b <- a until dim) {
      cov(a)(b) /= denom; cov(b)(a) = cov(a)(b)
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(i => (-vals(i), i))
    val comps = order.take(outDim).map { k =>
      val v = Array.tabulate(dim)(j => vecs(j)(k))
      var mi = 0
      for (j <- 1 until dim) if (math.abs(v(j)) > math.abs(v(mi))) mi = j
      val s = if (v(mi) < 0) -1.0 else 1.0
      v.map(x => math.rint(s * x * 1e6) / 1e6)
    }.toArray
    (mean.map(x => math.rint(x * 1e6) / 1e6), comps)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS). Deterministic (fixed sweep
    * order), converges quadratically; dim ≤ a few hundred is instant. */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 64 && !done) {
      var off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off += a(p)(q) * a(p)(q)
      if (off < 1e-20) done = true
      else {
        for (p <- 0 until d; q <- p + 1 until d) if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          val t =
            if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
            else 1.0 / (theta - math.sqrt(theta * theta + 1))
          val c = 1.0 / math.sqrt(t * t + 1)
          val s = t * c
          var r = 0
          while (r < d) {
            val arp = a(r)(p); val arq = a(r)(q)
            a(r)(p) = c * arp - s * arq
            a(r)(q) = s * arp + c * arq
            r += 1
          }
          r = 0
          while (r < d) {
            val apr = a(p)(r); val aqr = a(q)(r)
            a(p)(r) = c * apr - s * aqr
            a(q)(r) = s * apr + c * aqr
            r += 1
          }
          r = 0
          while (r < d) {
            val vrp = v(r)(p); val vrq = v(r)(q)
            v(r)(p) = c * vrp - s * vrq
            v(r)(q) = s * vrp + c * vrq
            r += 1
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project vectors onto fitted PCA components: center by `mean`
    * (zip_with) then rotate by the component matrix via the native
    * codegen'd [[matVec]] — one projection over the corpus, zero shuffles,
    * j-ascending accumulation so any engine replays the exact doubles.
    * At 100 TB this is the cheap half of PCA and the only half that
    * touches the corpus. */
  def pcaProject(df: DataFrame, vecCol: String, mean: Array[Double],
                 components: Array[Array[Double]],
                 outCol: String = "pca"): DataFrame = {
    val meanLit = F.array(mean.map(F.lit): _*)
    val centered = F.zip_with(F.col(vecCol).cast("array<double>"), meanLit,
      (x, y) => x - y)
    df.withColumn(outCol, matVec(components, centered))
  }

  /** DISTRIBUTED Lloyd k-means — the scale path past the sample-fit
    * quantizers ([[buildIvf]]/[[pqFit]] train on [[fitSample]]; this
    * iterates over EVERY row, for when the corpus is too diverse for a
    * 65k sample to cover). Each iteration is the canonical two-phase
    * Spark shape: (1) assignment as a pure projection (native
    * [[graft.functions.NearestCell]] — centroid literals travel with the
    * plan, no join); (2) per-(cell, coordinate) sums via posexplode +
    * partial-aggregated groupBy — the corpus collapses map-side to at
    * most k·dim·partitions partial rows, and only k·dim (cell, pos, sum,
    * count) rows reach the driver (k=1000, dim=1024 → 8 MB — trivially
    * collectable at any corpus size). Updated centroids round to 6 dp
    * before re-broadcast — cross-engine-replayable literals (the
    * [[pcaFit]] rule), and a fixed quantization grid that absorbs
    * partial-sum reordering in the common case — the rounding rule below
    * matches DuckDB's `round` (half away from zero) bit-for-bit, so
    * cross-engine parity can only break if accumulated drift itself
    * crosses a 1e-6 grid boundary, not from a half-rule mismatch. Empty
    * cells keep their previous center (the [[localLloyd]] rule). */
  /** DuckDB `round(x, 6)` replica: y = x*1e6 (one double multiply, same
    * as DuckDB's RoundOperatorPrecision), then round y to an integer half
    * AWAY from zero — exactly C's round(), with the tie test done on the
    * exact y - floor(y) difference rather than floor(y + 0.5) (which
    * double-rounds at a representable .5 boundary). math.rint is half to
    * even and disagrees with the oracle whenever an average lands on the
    * grid midpoint (ADVICE r8). */
  private[graft] def round6HalfAway(x: Double): Double = {
    val y = x * 1e6
    val r =
      if (y >= 0) { val f = math.floor(y); if (y - f >= 0.5) f + 1.0 else f }
      else { val c = math.ceil(y); if (c - y >= 0.5) c - 1.0 else c }
    r / 1e6
  }

  def kmeansLloyd(emb: DataFrame, vecCol: String,
                  init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    require(init.nonEmpty, "kmeansLloyd needs at least one initial centroid")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var cents = init.map(_.clone)
    var it = 0
    while (it < iters) {
      val stats = assignCells(emb.select(F.col(vecCol)), vecCol, cents)
        .select(F.col("cell"),
          F.posexplode(F.col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(F.sum("v").as("s"), F.count(F.lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = round6HalfAway(r.getDouble(2) / r.getLong(3))
      }
      cents = next
      it += 1
    }
    cents
  }

  /** [[kmeansLloyd]] + final assignment: every row as (idCol, cell, dist)
    * under the converged centroids, dist = squared L2 (j-ascending HOF sum,
    * engine-replayable), rounded to 6. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   init: Array[Array[Double]], iters: Int): DataFrame = {
    val cents = kmeansLloyd(emb, vecCol, init, iters)
    val centLit = F.array(cents.map(c => F.array(c.map(F.lit): _*)): _*)
    assignCells(emb.select(F.col(idCol), F.col(vecCol)), vecCol, cents)
      .withColumn("dist", F.round(
        F.aggregate(
          F.zip_with(F.col(vecCol).cast("array<double>"),
            F.element_at(centLit, F.col("cell") + F.lit(1)),
            (x, y) => (x - y) * (x - y)),
          F.lit(0.0d), (acc, x) => acc + x), 6))
      .select(F.col(idCol), F.col("cell"), F.col("dist"))
  }

  /** Internal clustering-quality indices under FIXED centroids — is this
    * partition of the embedding space any good, without labels
    * ([[Stats.ariNmi]] needs truth; these don't): inertia (k-means'
    * own objective), Davies–Bouldin (mean worst-neighbor
    * (σ_i+σ_j)/d_ij — lower is better), Calinski–Harabasz
    * ((B/(k−1))/(W/(n−k)) — higher is better).
    * {{{
    *   σ_c = mean ‖x − c‖,  W = Σ‖x − c‖²,
    *   B = Σ_c n_c·‖c − x̄‖²   (x̄ = the data's per-dim mean)
    * }}}
    * Per-row distance terms are the [[kmeansAssign]] j-ascending HOF
    * sums, 9-dp rounded; centroid–centroid and centroid–mean distances
    * come from the (cell, pos) explode so both engines sum the same
    * positive per-dim squares.
    *
    * Scale shape: one assignment projection + one (cell) rollup + one
    * (pos) rollup over the corpus; everything after runs on k-row /
    * 64-row / k²-row tables.
    *
    * @return one row (k, n, inertia, db_index, ch_index) — 6-dp; DB/CH
    *         NULL when k < 2 or a cell is empty (its σ is undefined)
    */
  def clusterQuality(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 centroids")
    val k = centroids.length
    val centLit = F.array(centroids.map(c => F.array(c.map(F.lit): _*)): _*)
    val assigned = assignCells(emb.select(F.col(idCol), F.col(vecCol)),
        vecCol, centroids)
      .withColumn("__d2", F.round(
        F.aggregate(
          F.zip_with(F.col(vecCol).cast("array<double>"),
            F.element_at(centLit, F.col("cell") + F.lit(1)),
            (x, y) => (x - y) * (x - y)),
          F.lit(0.0d), (acc, x) => acc + x), 9))
    val cellStats = assigned.groupBy("cell")
      .agg(F.count(F.lit(1)).as("__nc"),
        F.sum("__d2").as("__w"),
        F.sum(F.round(F.sqrt(F.col("__d2")), 9)).as("__sd"))
      .withColumn("__sigma", F.col("__sd") / F.col("__nc").cast("double"))
    val dimMeans = emb
      .select(F.posexplode(F.col(vecCol).cast("array<double>"))
        .as(Seq("pos", "__x")))
      .groupBy("pos").agg(F.sum("__x").as("__sx"),
        F.count(F.lit(1)).as("__nd"))
      .withColumn("__xbar", F.col("__sx") / F.col("__nd").cast("double"))
      .select("pos", "__xbar")
    val spark0 = emb.sparkSession
    import spark0.implicits._
    val centDf = centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cell", "pos", "__cv")
    // B terms: per-cell squared distance of the centroid to the data mean
    val bPerCell = centDf.join(F.broadcast(dimMeans), Seq("pos"))
      .withColumn("__sq", F.round((F.col("__cv") - F.col("__xbar")) *
        (F.col("__cv") - F.col("__xbar")), 9))
      .groupBy("cell").agg(F.sum("__sq").as("__cb"))
    // centroid-centroid distances from the same per-dim explode
    val a = centDf.select(F.col("cell").as("__i"), F.col("pos"),
      F.col("__cv").as("__va"))
    val b = centDf.select(F.col("cell").as("__j"), F.col("pos"),
      F.col("__cv").as("__vb"))
    val dij = a.join(b, Seq("pos")).filter(F.col("__i") =!= F.col("__j"))
      .withColumn("__sq", F.round((F.col("__va") - F.col("__vb")) *
        (F.col("__va") - F.col("__vb")), 9))
      .groupBy("__i", "__j").agg(F.sqrt(F.sum("__sq")).as("__dij"))
    val pairScores = dij
      .join(F.broadcast(cellStats.select(F.col("cell").as("__i"),
        F.col("__sigma").as("__si"))), Seq("__i"))
      .join(F.broadcast(cellStats.select(F.col("cell").as("__j"),
        F.col("__sigma").as("__sj"))), Seq("__j"))
      .withColumn("__r", (F.col("__si") + F.col("__sj")) /
        F.nullif(F.col("__dij"), F.lit(0.0)))
      .groupBy("__i").agg(F.round(F.max("__r"), 9).as("__worst"))
    val db = pairScores.agg(F.sum("__worst").as("__sw"),
      F.count(F.lit(1)).as("__kp"))
    val wJoin = bPerCell
      .join(F.broadcast(cellStats), Seq("cell"))
      .agg(F.sum(F.col("__nc").cast("double") * F.col("__cb")).as("__b"),
        F.sum("__nc").as("n"), F.count(F.lit(1)).as("__kc"),
        F.sum("__w").as("__wt"))
    val nD = F.col("n").cast("double")
    val ok = F.col("__kc") === k && F.col("n") > k
    wJoin.crossJoin(F.broadcast(db))
      .select(F.lit(k.toLong).as("k"), F.col("n"),
        F.round(F.col("__wt"), 6).as("inertia"),
        F.round(F.when(F.col("__kp") === k,
          F.col("__sw") / k.toDouble), 6).as("db_index"),
        F.round(F.when(ok,
          (F.col("__b") / (k - 1).toDouble) /
            F.nullif(F.col("__wt") / (nD - k.toDouble), F.lit(0.0))), 6)
          .as("ch_index"))
  }

  /** [[pqQuantize]] in OPQ's rotated coordinates: codes/recon_err for
    * R·x. R orthogonal ⇒ recon_err equals the original-space error. */
  def opqQuantize(corpus: DataFrame, vecCol: String,
                  rotation: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]]): DataFrame =
    pqQuantize(corpus.withColumn(vecCol, matVec(rotation, F.col(vecCol))),
      vecCol, codebooks)

  /** [[pqSearch]] with queries rotated into the codes' coordinates. */
  def opqSearch(codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                rotation: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]], k: Int): DataFrame =
    pqSearch(codes,
      queries.withColumn(vecCol, matVec(rotation, F.col(vecCol))),
      idCol, vecCol, codebooks, k)

  /** Per-dimension (min, max) bounds for SQ8 scalar quantization (FAISS
    * ScalarQuantizer "train" with RS_minmax) — unlike the sample-bounded
    * PQ/OPQ/PCA fits this is EXACT over the full corpus, because min/max
    * are order-insensitive single-pass aggregates: posexplode to (j, x)
    * rows, map-side partial min/max, and only `dim` rows cross the shuffle
    * per partition (dim·partitions total — trivial at any corpus size).
    * Ragged vectors surface as extra j groups and fail the length check
    * loudly (the [[pcaFit]] contract). */
  def sqFit(corpus: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(F.posexplode(F.col(vecCol).cast("array<double>")).as(Seq("j", "x")))
      .groupBy("j").agg(F.min("x").as("mn"), F.max("x").as("mx"))
      .collect()
    require(stats.length == dim,
      s"sqFit: corpus has ${stats.length} distinct dimensions, expected $dim " +
        "(ragged or wrong-dim vectors)")
    val mn = new Array[Double](dim); val mx = new Array[Double](dim)
    stats.foreach { r =>
      val j = r.getInt(0); mn(j) = r.getDouble(1); mx(j) = r.getDouble(2)
    }
    (mn, mx)
  }

  /** SQ8 storage codes: one 0..255 int per dimension against the [[sqFit]]
    * bounds — 1 byte/dim instead of 4/8, the compression an embedding
    * corpus at 100 TB actually banks. Native single-pass expression
    * ([[graft.functions.Sq8Encode]]); zero shuffle. */
  def sqEncode(df: DataFrame, vecCol: String,
               mins: Array[Double], maxs: Array[Double]): DataFrame =
    df.withColumn("sq_code", GraftExpr.column(
      graft.functions.Sq8Encode(GraftExpr.expression(F.col(vecCol)), mins, maxs)))

  /** Asymmetric SQ8 top-k search (FAISS IndexScalarQuantizer, IP metric):
    * corpus side scores through its encode→decode reconstruction
    * ([[graft.functions.Sq8Dequant]] — fused, codes never materialize),
    * query side stays exact. Same plan shape as [[bruteKnn]]: queries
    * broadcast, corpus scanned once with no shuffle of corpus rows,
    * rank-filter compiles to WindowGroupLimit. Scores round to 6 before
    * ranking so the (score, id) order is engine-replayable. */
  def sqSearch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               mins: Array[Double], maxs: Array[Double], k: Int): DataFrame = {
    val dq = corpus.withColumn("__dq", GraftExpr.column(
      graft.functions.Sq8Dequant(GraftExpr.expression(F.col(vecCol)), mins, maxs)))
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "__qvec"))
    val scored = dq.join(q, dq(idCol) =!= F.col("query_id"))
      .withColumn("score",
        F.round(dot(F.col("__dq"), F.col("__qvec").cast("array<double>")), 6) + F.lit(0.0))
    val w = Window.partitionBy("query_id").orderBy(F.col("score").desc, F.col(idCol).asc)
    scored.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"), F.col("score"), F.col("rk"))
  }

  /** RANGE search: every corpus neighbor within cosine ≥ `threshold` of
    * each query — the radius companion to [[bruteKnn]]'s top-k (dedup
    * wants "everything this similar", not "the 10 nearest"). Same scale
    * shape: queries broadcast, the corpus scanned once and never
    * shuffled; the threshold filter replaces the WindowGroupLimit, so
    * there is NO window at all — output size is data-dependent, which is
    * the semantic point.
    *
    * @return (query_id, neighbor_id, cos) — cos 6-dp rounded
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"threshold must be in (-1, 1], got $threshold")
    val c = Scale.spreadNarrowScan(corpus)
      .withColumn("__nc", l2norm(F.col(vecCol)))
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "__qvec")
      .withColumn("__nq", l2norm(F.col("__qvec"))))
    c.join(q, c(idCol) =!= F.col("query_id"))
      .withColumn("cos",
        F.when(F.col("__nc") * F.col("__nq") > 0.0d,
          dot(F.col(vecCol), F.col("__qvec")) / (F.col("__nc") * F.col("__nq"))))
      .filter(F.col("cos") >= threshold)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"),
        F.round(F.col("cos"), 6).as("cos"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval rankings
    * — the standard zero-tuning ensemble for hybrid search (dense kNN +
    * BM25 + recency, …): each system contributes `1/(kConst + rank)` per
    * (query, item), contributions sum, and the fused top-k re-ranks on
    * the summed score. RRF needs only RANKS, so heterogeneous score
    * scales fuse without calibration.
    *
    * Each contribution rounds to 9 dp BEFORE the unordered sum (the
    * pageRank rule: a handful of 9-dp terms re-associate without moving
    * the 9-dp-rounded total) and the fused ordering tie-breaks on item id
    * — engine-replayable end to end. Shape: a union of the (bounded,
    * top-k-sized) ranking tables, one (query, item) keyed rollup, one
    * per-query window — WindowGroupLimit prunes to `topK` map-side.
    *
    * @param rankings tables each carrying (queryCol, itemCol, rankCol)
    *                 with rank 1 = best; anything beyond a system's own
    *                 cutoff is simply absent (absent = no contribution)
    * @return (query, item, rrf, n_systems, fused_rank) — fused top `topK`
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, itemCol: String,
              rankCol: String, kConst: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    val tagged = rankings.map(_.select(
      F.col(queryCol).as("query"), F.col(itemCol).as("item"),
      F.round(F.lit(1.0) /
        (F.lit(kConst.toDouble) + F.col(rankCol).cast("double")), 9)
        .as("__contrib")))
    val fused = tagged.reduce(_ unionByName _)
      .groupBy("query", "item")
      .agg(F.round(F.sum("__contrib"), 9).as("rrf"),
        F.count(F.lit(1)).as("n_systems"))
    val w = Window.partitionBy("query")
      .orderBy(F.col("rrf").desc, F.col("item").asc)
    fused.withColumn("fused_rank", F.row_number().over(w))
      .filter(F.col("fused_rank") <= topK)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) — the
    * diversity pass between retrieval and a training batch / RAG context:
    * greedily pick `k` of the top-`pool` candidates maximizing
    * `λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s)`.
    *
    * Split by scale regime: candidate generation is the distributed
    * [[bruteKnn]] scan (corpus never shuffles), while the greedy selection
    * runs driver-side on the collected pool — MMR is inherently sequential
    * (pick r depends on picks 1..r−1) and the pool is bounded
    * (|queries|·pool rows), exactly the [[pqFit]] driver-bounded regime,
    * NOT a collect of corpus data. Relevances and pairwise similarities
    * round to 6 dp before the arithmetic ([[round6HalfAway]], matching SQL
    * `round`), ties break on lower id, and the round-1 pick is the same
    * formula with an empty-set penalty of 0 — every pick is an
    * engine-replayable argmax. Output: (query_id, sel_id, pick, score). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                k: Int, pool: Int, lambda: Double): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got pool=$pool k=$k")
    require(pool <= 4096, s"pool=$pool: MMR pools are rerank windows, not corpora")
    val spark = corpus.sparkSession
    val cand = bruteKnn(corpus, queries, idCol, vecCol, pool)
      .filter(F.col("cos").isNotNull) // zero-norm rows carry no signal to rerank
      .join(corpus.select(F.col(idCol).as("neighbor_id"),
        F.col(vecCol).cast("array<double>").as("__v")), Seq("neighbor_id"))
      .select(F.col("query_id").cast("long"), F.col("neighbor_id").cast("long"),
        F.col("cos"), F.col("__v"))
      .collect()
    val picks = cand.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap {
      case (qid, rows) =>
        val ids = rows.map(_.getLong(1))
        val rel = rows.map(r => round6HalfAway(r.getDouble(2)))
        val vecs = rows.map(_.getSeq[Double](3).toArray)
        val n = ids.length
        // pairwise cosines, rounded like the relevances (one pass, j-asc)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          val den = math.sqrt(na) * math.sqrt(nb)
          if (den > 0.0) d / den else 0.0
        }
        val sim = Array.tabulate(n, n)((i, j) =>
          if (i == j) 1.0 else round6HalfAway(cos(vecs(i), vecs(j))))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
        var pick = 1
        while (pick <= k) {
          var bestI = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              // TRUE max over the selected set (a negative similarity is a
              // diversity BONUS and must not clamp to 0); empty set → no
              // penalty, so pick 1 is argmax of λ·rel alone
              val maxSim =
                if (selected.isEmpty) 0.0
                else selected.iterator.map(s => sim(i)(s)).max
              val score = round6HalfAway(lambda * rel(i) - (1.0 - lambda) * maxSim)
              // argmax on (score DESC, id ASC) — the engine-replayable order
              if (bestI < 0 || score > bestScore ||
                  (score == bestScore && ids(i) < ids(bestI))) {
                bestScore = score; bestI = i
              }
            }
            i += 1
          }
          out += ((qid, ids(bestI), pick, bestScore))
          selected += bestI
          pick += 1
        }
        out
    }
    import spark.implicits._
    picks.toDF("query_id", "sel_id", "pick", "score")
  }

  private def flagSemDups(assigned0: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, maxCell: Int): DataFrame = {
    // one exchange feeds the census and both self-join sides (nearDupPairs)
    val assigned = assigned0.repartition(F.col("cell"))
    val oversized = assigned.groupBy("cell").count()
      .filter(F.col("count") > maxCell).select("cell")
    val sized = assigned.join(F.broadcast(oversized), Seq("cell"), "left_anti")
    val earlier = sized.select(F.col("cell").as("__rc"),
      F.col(idCol).as("__rid"), F.col(vecCol).as("__rvec"))
    val dup = sized.join(earlier,
        F.col("cell") === F.col("__rc") && F.col("__rid") < F.col(idCol) &&
          cosine(F.col(vecCol), F.col("__rvec")) >= threshold,
        "left_semi")
      .select(F.col(idCol), F.lit(true).as("__dup"))
    assigned.join(dup, Seq(idCol), "left")
      .select(F.col(idCol), F.col("cell"),
        F.coalesce(F.col("__dup"), F.lit(false)).as("is_dup"))
  }

  /** Greedy k-center coreset (farthest-point / Gonzalez 1985): pick `k`
    * maximally-diverse rows — seed = lowest id, then k−1 rounds of "the
    * point farthest from everything chosen so far". The diversity-subset
    * selector for labeling budgets and eval-set construction (2-approx of
    * the optimal k-center cover), the deliberate OPPOSITE of [[semDedup]]:
    * that removes near-duplicates, this harvests the spread.
    *
    * Scale shape per round: one pure projection (native [[graft.functions
    * .NearestCell]] argmin over the ≤k chosen centers — literals travel
    * with the plan, no join, no shuffle) and ONE 1-row aggregate
    * (max-struct argmax; partial-aggregated map-side). Driver state is
    * k·dim doubles — the [[kmeansLloyd]] regime. k driver actions total,
    * each a full corpus scan: k is a labeling budget (tens..hundreds), so
    * the round count, not the corpus, bounds the loop.
    *
    * Engine parity: distances are j-ascending exact-double sums rounded
    * to 6 dp BEFORE the argmax (min-of-rounded ≡ rounded-of-min — round
    * is monotone), ties broken by lowest id, already-chosen ids excluded
    * — every pick is replayable as a chained SQL argmax (x168's oracle).
    *
    * @return k driver-built rows (pick 1..k, id, dist2 = squared L2 to
    *         the previously-chosen set at pick time; seed dist2 = 0)
    */
  def kCenterCoreset(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = emb.select(F.col(idCol).cast("long").as("__id"),
      F.col(vecCol).cast("array<double>").as("__v"))
    val seed = e.orderBy("__id").limit(1).head()
    var chosen = Vector(
      (seed.getLong(0), seed.getSeq[Double](1).toArray, 0.0))
    var exhausted = false
    while (!exhausted && chosen.size < k) {
      val cents = chosen.map(_._2).toArray
      val centLit = F.array(cents.map(c => F.array(c.map(F.lit): _*)): _*)
      val row = assignCells(
          e.filter(!F.col("__id").isin(chosen.map(_._1): _*)), "__v", cents)
        .withColumn("__d", F.round(F.aggregate(
          F.zip_with(F.col("__v"),
            F.element_at(centLit, F.col("cell") + F.lit(1)),
            (x, y) => (x - y) * (x - y)),
          F.lit(0.0d), (a, x) => a + x), 6))
        .agg(F.max(F.struct(F.col("__d"), (-F.col("__id")).as("__nid"),
          F.col("__v").as("__vv"))).as("__pick"))
        .head()
      // k can exceed the number of distinct input ids: the argmax over the
      // now-empty remainder aggregates to a NULL struct — stop and return
      // the picks made so far rather than NPE on the driver.
      if (row.isNullAt(0)) exhausted = true
      else {
        val pick = row.getStruct(0)
        chosen :+= ((-pick.getLong(1), pick.getSeq[Double](2).toArray,
          pick.getDouble(0)))
      }
    }
    val spark = emb.sparkSession
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("pick", idCol, "dist2")
  }

  /** Matryoshka truncation-recall ladder (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): for each prefix dimension `d`, what
    * fraction of the FULL-vector exact top-k survives when both sides are
    * truncated to their first `d` components (and re-normalized — the
    * cosine over the slice does that implicitly)? The readout that decides
    * how far an embedding column can be cut before the ANN index quality
    * collapses — i.e. how much of 100 TB of vectors you actually have to
    * store.
    *
    * Scale shape: one [[bruteKnn]] per rung plus one for the truth —
    * each is a broadcast-queries × corpus-scan with map-side
    * WindowGroupLimit, so the corpus is scanned dims+1 times and never
    * shuffled; the recall join happens on (nQueries·k)-sized top-k tables.
    *
    * @return (dim, hits, recall) — recall 6-dp, one row per rung
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dims: Seq[Int],
                       k: Int): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    require(k >= 1, s"k must be >= 1, got $k")
    val truth = bruteKnn(corpus, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val nq = queries.agg(F.count(F.lit(1)).as("__nq"))
    val perDim = dims.map { d =>
      val cd = corpus.withColumn(vecCol, F.slice(F.col(vecCol), 1, d))
      val qd = queries.withColumn(vecCol, F.slice(F.col(vecCol), 1, d))
      bruteKnn(cd, qd, idCol, vecCol, k)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("hits"))
        .select(F.lit(d).as("dim"), F.col("hits"))
    }.reduce(_ unionByName _)
    perDim.crossJoin(F.broadcast(nq))
      .select(F.col("dim"), F.col("hits"),
        F.round(F.col("hits") / (F.col("__nq") * F.lit(k.toDouble)), 6)
          .as("recall"))
      .orderBy("dim")
  }

  /** Kernel two-sample MMD² (Gretton et al. 2012) between two embedding
    * sets — the drift test that sees DISTRIBUTION-level movement token
    * statistics miss (a new scraper whose docs embed differently, an
    * encoder version bump). RBF kernel `exp(−‖x−y‖²/(2σ²))` with a FIXED
    * caller-supplied bandwidth (the median heuristic would cost a
    * quantile pass and break replayability); biased V-statistic
    * `MMD² = E k(x,x′) + E k(y,y′) − 2·E k(x,y)`.
    *
    * Intended for BOUNDED samples (hashSample both sides upstream): the
    * three pair means are quadratic in the sample, never the corpus.
    * Kernel terms round to 9 dp before the unordered means, MMD² to 6.
    *
    * @return one row (n_x, n_y, kxx, kyy, kxy, mmd2)
    */
  def mmdDrift(x: DataFrame, y: DataFrame, idCol: String, vecCol: String,
               sigma2: Double): DataFrame = {
    require(sigma2 > 0.0, s"sigma2 must be positive, got $sigma2")
    def side(df: DataFrame, tag: String) = df.select(
      F.col(idCol).as(s"__id$tag"), F.col(vecCol).as(s"__v$tag"),
      (l2norm(F.col(vecCol)) * l2norm(F.col(vecCol))).as(s"__n2$tag"))
    def kmean(a: DataFrame, b: DataFrame, ta: String, tb: String,
              out: String) = a.crossJoin(b)
      .select(F.round(F.exp(-(F.col(s"__n2$ta") + F.col(s"__n2$tb") -
        F.lit(2.0) * dot(F.col(s"__v$ta"), F.col(s"__v$tb"))) /
        F.lit(2.0 * sigma2)), 9).as("__k"))
      .agg(F.round(F.avg("__k"), 9).as(out))
    val (xa, xb) = (side(x, "a"), side(x, "b"))
    val (ya, yb) = (side(y, "c"), side(y, "d"))
    val kxx = kmean(xa, xb, "a", "b", "kxx")
    val kyy = kmean(ya, yb, "c", "d", "kyy")
    val kxy = kmean(xa, yb, "a", "d", "kxy")
    x.agg(F.count(F.lit(1)).as("n_x"))
      .crossJoin(y.agg(F.count(F.lit(1)).as("n_y")))
      .crossJoin(kxx).crossJoin(kyy).crossJoin(kxy)
      .select(F.col("n_x"), F.col("n_y"), F.col("kxx"), F.col("kyy"),
        F.col("kxy"),
        F.round(F.col("kxx") + F.col("kyy") - F.lit(2.0) * F.col("kxy"), 6)
          .as("mmd2"))
  }

  /** k-occurrence hubness census (Radovanović et al. 2010): how often
    * each vector appears in OTHER vectors' exact top-k, histogrammed,
    * plus the distribution's moment skewness — high skew means a few
    * "hub" vectors dominate every neighbor list, the known
    * high-dimensional failure mode that silently corrupts kNN dedup and
    * retrieval. Vectors never retrieved count at 0 (the anti-hubs).
    *
    * Built on [[bruteKnn]] (queries broadcast, corpus scanned, top-k
    * windows map-side-limited); the census and moments are rollups over
    * vector-count rows. `queries` may be a deterministic SAMPLE of the
    * corpus — hubness is a distribution property, so counting over a
    * query sample scales every count, not the shape. Skew terms at 9 dp,
    * outputs at 6.
    *
    * @return (n_k, n_vectors, skew) — one row per occurrence count
    */
  def hubnessCensus(emb: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int = 10): DataFrame = {
    val occ = bruteKnn(emb, queries, idCol, vecCol, k)
      .groupBy(F.col("neighbor_id").as(idCol))
      .agg(F.count(F.lit(1)).as("__nk"))
    val perVec = emb.select(F.col(idCol)).join(occ, Seq(idCol), "left")
      .na.fill(0L, Seq("__nk"))
    val mom = perVec.agg(F.count(F.lit(1)).cast("double").as("__n"),
      F.avg("__nk").as("__m"),
      F.avg(F.col("__nk") * F.col("__nk")).as("__m2r"),
      F.avg(F.col("__nk") * F.col("__nk") * F.col("__nk")).as("__m3r"))
    // central moments from raw: m2 = E[x²]−μ², m3 = E[x³]−3μE[x²]+2μ³
    val m2 = F.col("__m2r") - F.col("__m") * F.col("__m")
    val m3 = F.col("__m3r") - F.lit(3.0) * F.col("__m") * F.col("__m2r") +
      F.lit(2.0) * F.col("__m") * F.col("__m") * F.col("__m")
    val skew = mom.select(F.round(
      m3 / F.nullif(F.sqrt(m2 * m2 * m2), F.lit(0.0)), 6).as("skew"))
    perVec.groupBy(F.col("__nk").as("n_k"))
      .agg(F.count(F.lit(1)).as("n_vectors"))
      .crossJoin(F.broadcast(skew))
      .orderBy("n_k")
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): using only
    * each point's two nearest neighbors, `ID = n / Σ ln(d₂/d₁)` — the
    * manifold-dimension readout that says how much of a 64-dim embedding
    * column is real structure vs padding (and hence how far PQ/Matryoshka
    * compression can push). Exact-duplicate points (d₁ = 0) are excluded,
    * as the estimator requires; the ln ratio runs on SQUARED distances
    * (`½·ln(d₂²/d₁²)`) so no square root enters the replayed math.
    *
    * Shape: a bruteKnn-style broadcast-queries scan ranked by (dist²,
    * id); per-point terms at 9 dp, one 1-row rollup. Intended for a
    * bounded sample at corpus scale (the estimator converges fast in n).
    *
    * @return one row (n_used, n_dupes, id_hat)
    */
  def twoNnId(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val c = emb.withColumn("__nc", l2norm(F.col(vecCol)))
    val q = F.broadcast(emb
      .withColumnRenamed(idCol, "__qid").withColumnRenamed(vecCol, "__qv")
      .withColumn("__nq", l2norm(F.col("__qv"))))
    val d2 = F.col("__nc") * F.col("__nc") + F.col("__nq") * F.col("__nq") -
      F.lit(2.0) * dot(F.col(vecCol), F.col("__qv"))
    val w = Window.partitionBy("__qid")
      .orderBy(F.col("__d2").asc, F.col(idCol).asc)
    val nn2 = c.join(q, c(idCol) =!= F.col("__qid"))
      .withColumn("__d2", d2)
      .withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") <= 2)
      .groupBy("__qid")
      .agg(F.min(F.when(F.col("__rk") === 1, F.col("__d2"))).as("__d1sq"),
        F.min(F.when(F.col("__rk") === 2, F.col("__d2"))).as("__d2sq"))
    val terms = nn2
      .withColumn("__dup", F.when(F.col("__d1sq") <= 0.0, 1L).otherwise(0L))
      .withColumn("__ln", F.when(F.col("__d1sq") > 0.0,
        F.round(F.lit(0.5) * F.log(F.col("__d2sq") / F.col("__d1sq")), 9)))
    terms.agg(
      F.sum(F.lit(1L) - F.col("__dup")).as("n_used"),
      F.sum("__dup").as("n_dupes"),
      F.round(F.sum(F.lit(1L) - F.col("__dup")).cast("double") /
        F.nullif(F.sum("__ln"), F.lit(0.0)), 6).as("id_hat"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019): score every
    * candidate cross-lingual pair by its cosine RELATIVE to what each side
    * scores against its own k nearest neighbors —
    * `margin(x,y) = cos(x,y) / ((avgNNk(x) + avgNNk(y)) / 2)` — then keep
    * each x's best-margin mate above `minMargin`. The ratio margin kills
    * the hubness failure of raw-cosine mining (a generic "hub" sentence
    * close to everything scores high cosine but LOW margin, because its
    * own neighborhood average is just as high). This is the standard
    * parallel-corpus miner (CCMatrix/LASER pipelines).
    *
    * Scale shape: candidates come from TWO [[bruteKnn]] passes (forward
    * a→b and backward b→a), so the corpus sides are scanned, never
    * shuffled, and nothing all-pairs is ever materialized; the per-side
    * neighborhood averages are k-row rollups of those same top-k tables.
    * Per-term 9-dp rounding before the k-way averages, margin at 6 —
    * engine-replayable.
    *
    * @return (a_id, b_id, cos, margin) — one best mate per a, 6-dp
    */
  def bitextMargin(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                   k: Int = 4, minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // ONE broadcast join scores every (a, b) pair in the mappers — the
    // batch side `a` broadcasts, the pool side `b` is scanned and never
    // broadcast/shuffled in full. Both top-k directions come from THIS
    // pair stream via WindowGroupLimit windows (each prunes to k rows per
    // key map-side), so the dot product is computed once per pair and the
    // exchanges carry ≤ k rows per a / per b — never the pool.
    val bn = b.select(F.col(idCol).as("b_id"), F.col(vecCol).as("__bv"))
      .withColumn("__nb", l2norm(F.col("__bv")))
    val an = F.broadcast(a
      .select(F.col(idCol).as("a_id"), F.col(vecCol).as("__av"))
      .withColumn("__na", l2norm(F.col("__av"))))
    val pairs = bn.join(an, F.col("a_id") =!= F.col("b_id"))
      .withColumn("cos", // zero-norm guard — see cosine()
        F.when(F.col("__na") * F.col("__nb") > 0.0d,
          dot(F.col("__bv"), F.col("__av")) / (F.col("__nb") * F.col("__na"))))
      .select("a_id", "b_id", "cos")
    val wFwd = Window.partitionBy("a_id")
      .orderBy(F.col("cos").desc, F.col("b_id").asc)
    val wBwd = Window.partitionBy("b_id")
      .orderBy(F.col("cos").desc, F.col("a_id").asc)
    val fwd = pairs.withColumn("__rk", F.row_number().over(wFwd))
      .filter(F.col("__rk") <= k)
    val bwd = pairs.withColumn("__rk", F.row_number().over(wBwd))
      .filter(F.col("__rk") <= k)
    def nnAvg(knn: DataFrame, idOut: String, outAvg: String) = knn
      .groupBy(idOut)
      .agg(F.round(F.avg(F.round(F.col("cos"), 9)), 9).as(outAvg))
    val cand = fwd.select("a_id", "b_id", "cos")
      .join(nnAvg(fwd, "a_id", "__avg_a"), "a_id")
      .join(nnAvg(bwd, "b_id", "__avg_b"), "b_id")
      .withColumn("margin", F.round(F.col("cos") /
        ((F.col("__avg_a") + F.col("__avg_b")) / 2.0), 6))
    val w = Window.partitionBy("a_id")
      .orderBy(F.col("margin").desc, F.col("b_id"))
    cand.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") === 1 && F.col("margin") >= minMargin)
      .select(F.col("a_id"), F.col("b_id"),
        F.round(F.col("cos"), 6).as("cos"), F.col("margin"))
      .orderBy("a_id")
  }

  /** Pack 32 dimensions' SIGN BITS (from `offset`, 0-based) into one
    * long: bit i set iff vec[offset + i] > 0. Two halves instead of one
    * 64-bit word keep every 2^i term ≤ 2^31 — addable exactly in doubles
    * and inside BIGINT range for the oracle's integer algebra.
    *
    * Guarded: raises at action time unless the vector has EXACTLY 64
    * dims (advisor r12) — a shorter vector would pack fewer bits and a
    * longer one would silently ignore dims beyond 64, both degrading
    * Hamming-candidate recall with the exact rerank masking it. */
  private def packSignHalf(vec: Column, offset: Int): Column =
    F.when(F.size(vec) === 64,
      F.aggregate(
        F.transform(F.slice(vec, offset + 1, 32), (v, i) =>
          F.when(v > 0.0, F.pow(F.lit(2.0), i.cast("double")))
            .otherwise(F.lit(0.0))),
        F.lit(0.0), (acc, x) => acc + x))
      .otherwise(F.raise_error(F.concat(
        F.lit("binaryHammingSearch requires exactly 64-dim vectors " +
          "(sign bits pack into two 32-bit words); got dim="),
        F.size(vec).cast("string"))))
      .cast("long")

  /** Binary (sign) quantization + Hamming candidate search with exact
    * cosine rerank — the 32×-compression point of the ladder (float →
    * [[sqSearch]]'s SQ8 → [[pqSearch]]'s codebooks → ONE BIT per
    * dimension here): a 64-dim vector becomes two packed longs, Hamming
    * distance is two XOR+popcount instructions, and only the `cand`
    * Hamming-nearest candidates per query ever touch float math.
    *
    * Scale shape: the [[bruteKnn]] contract — queries broadcast, the
    * corpus scanned once and never shuffled; codes are computed in the
    * same projection (codegen'd HOFs, no UDF); WindowGroupLimit bounds
    * both the Hamming top-`cand` and the rerank top-k per query.
    *
    * @return (query_id, neighbor_id, hamming, score, rk) — exact-cosine
    *         reranked top-k of the Hamming top-`cand`, score 6-dp
    * @throws org.apache.spark.SparkRuntimeException at first action if
    *         any vector (corpus or query side) is not exactly 64-dim —
    *         other dims would silently degrade candidate recall
    */
  def binaryHammingSearch(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          cand: Int = 20): DataFrame = {
    require(k >= 1 && cand >= k,
      s"need cand >= k >= 1, got k=$k cand=$cand")
    val c = corpus
      .withColumn("__lo", packSignHalf(F.col(vecCol), 0))
      .withColumn("__hi", packSignHalf(F.col(vecCol), 32))
      .withColumn("__nc", l2norm(F.col(vecCol)))
    val q = F.broadcast(queries
      .withColumnRenamed(idCol, "query_id")
      .withColumnRenamed(vecCol, "__qvec")
      .withColumn("__qlo", packSignHalf(F.col("__qvec"), 0))
      .withColumn("__qhi", packSignHalf(F.col("__qvec"), 32))
      .withColumn("__nq", l2norm(F.col("__qvec"))))
    val ham = c.join(q, c(idCol) =!= F.col("query_id"))
      .withColumn("hamming",
        F.bit_count(F.col("__lo").bitwiseXOR(F.col("__qlo"))) +
          F.bit_count(F.col("__hi").bitwiseXOR(F.col("__qhi"))))
    val wH = Window.partitionBy("query_id")
      .orderBy(F.col("hamming").asc, F.col(idCol).asc)
    val candd = ham.withColumn("__hrk", F.row_number().over(wH))
      .filter(F.col("__hrk") <= cand)
    val scored = candd.withColumn("score",
      F.round(F.when(F.col("__nc") * F.col("__nq") > 0.0,
        dot(F.col(vecCol), F.col("__qvec")) /
          (F.col("__nc") * F.col("__nq"))), 6) + F.lit(0.0))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("score").desc, F.col(idCol).asc)
    scored.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col("query_id"), F.col(idCol).as("neighbor_id"),
        F.col("hamming").cast("long").as("hamming"), F.col("score"),
        F.col("rk"))
  }

  /** Diagonal-covariance Mahalanobis outlier census over an embedding
    * column — "which vectors sit furthest from the corpus in
    * per-dimension-sd units": md² = Σ_d (x_d − μ_d)²/σ²_d, the
    * axis-aligned approximation that needs only one pass for the
    * per-dim moments (a full covariance would need the d×d matrix —
    * overkill for a dirty-vector screen). The embedding-space
    * counterpart of x103's robust scalar outliers: corrupt encodes,
    * wrong-modality rows, and collapsed (all-zero) vectors surface at
    * the top.
    *
    * Dims quantize (×1e6) to exact longs, so per-dim (n, Σk, Σk²) are
    * exact and μ/σ² are single IEEE divisions; per-dim terms round 9 dp
    * before the orderless per-vector sum. Zero-variance dims contribute
    * NULL and drop from the sum in both engines (documented).
    *
    * Scale shape: one posexplode pass → a d-row moment table that
    * broadcasts back onto the exploded stream → a vector-keyed rollup
    * and a bounded top-N. Nothing shuffles at corpus size except the
    * id-keyed rollup.
    *
    * @return top `topN` rows (id, md2) by (md2 desc, id) — md2 6-dp
    */
  def mahalanobisOutliers(emb: DataFrame, idCol: String, vecCol: String,
                          topN: Int = 20): DataFrame = {
    val ex = emb.select(F.col(idCol).as("__id"),
        F.posexplode(F.col(vecCol)).as(Seq("__d", "__x")))
      .select(F.col("__id"), F.col("__d"),
        F.round(F.col("__x").cast("double") * 1e6).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
    val byD = ex.groupBy("__d")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
    val nD = F.col("__n").cast("double")
    val m = F.col("__s").cast("double") / nD
    val v = (F.col("__q").cast("double") -
      F.col("__s").cast("double") * m) /
      F.nullif(nD - 1.0, F.lit(0.0))
    val terms = ex.join(F.broadcast(byD), Seq("__d"))
      .withColumn("__t", F.round(
        (F.col("__k").cast("double") - m) *
          (F.col("__k").cast("double") - m) /
          F.nullif(v, F.lit(0.0)), 9))
    terms.groupBy(F.col("__id").as("id"))
      .agg(F.round(F.sum("__t"), 6).as("md2"))
      .orderBy(F.col("md2").desc, F.col("id"))
      .limit(topN)
  }

  /** Leave-one-out 1-NN label accuracy — the sharpest cheap "do these
    * embeddings encode the label" probe: classify every vector by its
    * single nearest OTHER vector's label and census the agreement per
    * label. Complements [[nccConfusion]] (one centroid per label —
    * blind to multi-modal classes) exactly where it fails: 1-NN is
    * local, so a label split across several clusters still scores.
    * The standard embedding-benchmark number (kNN probe, k = 1).
    *
    * Determinism: 9-dp squared Euclidean pair distances
    * ([[lofOutliers]] expansion), nearest tie broken by neighbor id,
    * exact census counts.
    *
    * Scale shape: one all-pairs scan with a per-point top-1 window
    * (the [[bruteKnn]] regime — at corpus scale run it on a
    * deterministic sample or swap in [[lshKnn]] candidates);
    * everything after is label-bounded.
    *
    * @return per-label rows (label, n, n_correct, acc, overall_acc)
    *         ordered by label — 6-dp
    */
  def knn1Accuracy(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: Column): DataFrame = {
    def side(tag: String) = emb.select(
      F.col(idCol).as(s"__id$tag"), labelCol.cast("string").as(s"__l$tag"),
      F.col(vecCol).cast("array<double>").as(s"__v$tag"),
      (l2norm(F.col(vecCol)) * l2norm(F.col(vecCol))).as(s"__n2$tag"))
    val pairs = side("a").crossJoin(side("b"))
      .filter(F.col("__ida") =!= F.col("__idb"))
      .select(F.col("__ida").as("__id"), F.col("__la").as("__l"),
        F.col("__idb").as("__nb"), F.col("__lb").as("__ln"),
        F.round(F.col("__n2a") + F.col("__n2b") -
          F.lit(2.0) * dot(F.col("__va"), F.col("__vb")), 9).as("__d2"))
    val w = Window.partitionBy("__id")
      .orderBy(F.col("__d2").asc, F.col("__nb").asc)
    val nn = pairs.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") === 1)
    val perLabel = nn.groupBy(F.col("__l").as("label"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("__l") === F.col("__ln"), 1L).otherwise(0L))
          .as("n_correct"))
    val overall = perLabel.agg(
      F.round(F.sum("n_correct").cast("double") /
        F.sum("n").cast("double"), 6).as("overall_acc"))
    perLabel.crossJoin(F.broadcast(overall))
      .select(F.col("label"), F.col("n"), F.col("n_correct"),
        F.round(F.col("n_correct").cast("double") /
          F.col("n").cast("double"), 6).as("acc"),
        F.col("overall_acc"))
      .orderBy("label")
  }

  /** Hopkins statistic — CLUSTERABILITY before clustering: compare
    * nearest-neighbor distances of m real sample points (w) against m
    * synthetic points drawn uniformly in the data's bounding box (u):
    * {{{ H = Σu / (Σu + Σw) }}}
    * (the simplified raw-distance form, documented). H ≈ 0.5 says the
    * data is itself uniform — k-means/SemDeDup cells would be
    * arbitrary carvings; H → 1 says genuine clumping. The go/no-go
    * gate BEFORE [[semDedupKmeans]]/[[cellPurity]] interpretation.
    *
    * Determinism: sample points by exact id arithmetic (`id % every ==
    * 0`); synthetic coordinates from the md5-prefix 52-bit uniform
    * (the [[graft.ops.Sketches]] KMV idiom — u(s, d) =
    * md5("hop:" + s + ":" + d) / 2⁵², replayable in any engine);
    * bounding box from exact per-dim ×1e6 min/max longs; NN distances
    * the x354 9-dp expansion with (d², id) tie-break.
    *
    * Scale shape: two (m × corpus) broadcast scans — the [[bruteKnn]]
    * regime, m bounded by `every`; everything after is m-bounded. The
    * distance kernel is the native codegen'd [[l2distSq]] (VERDICT r13:
    * the earlier `aggregate(zip_with(...))` form ran interpreted at
    * 17× the cost and was the suite's one HOF hazard — the replacement
    * is the same left fold, bit-identical, so NN choices and all
    * downstream 9-dp roundings are unchanged). At true 100-TB corpus
    * sizes set `corpusEvery` > 1: both NN scans then run against the
    * deterministic `id % corpusEvery == 0` subsample (the x354 regime),
    * a standard Hopkins estimator on the subsample — m × (n /
    * corpusEvery) bounded instead of m × n.
    *
    * @param every       sample stride (point ids ≡ 0 mod every;
    *                    synthetic count matches the sample count)
    * @param corpusEvery corpus-side stride for BOTH NN scans (1 =
    *                    whole corpus); sampled query points that fall
    *                    outside the subsample still exclude themselves
    *                    by id
    * @return one row (m, sum_u, sum_w, hopkins) — 6-dp
    */
  def hopkinsStatistic(emb: DataFrame, idCol: String, vecCol: String,
                       every: Int = 10, corpusEvery: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    require(corpusEvery >= 1, s"corpusEvery must be >= 1, got $corpusEvery")
    val all = emb.select(F.col(idCol).cast("long").as("__id"),
      F.col(vecCol).cast("array<double>").as("__v"))
    val base = all.filter(F.col("__id") % corpusEvery.toLong === 0L)
    // exact per-dim bounding box on the ×1e6 grid
    val box = base
      .select(F.posexplode(F.col("__v")).as(Seq("__d", "__x")))
      .select(F.col("__d"),
        F.round(F.col("__x") * 1e6).cast("long").as("__k"))
      .groupBy("__d")
      .agg(F.min("__k").as("__lo"), F.max("__k").as("__hi"))
    // synthetic uniform points: one per sampled id, coordinates from
    // the 52-bit md5 uniform over [lo, hi]; sample points come from the
    // FULL relation (real data points regardless of the corpus stride)
    val sampleIds = all.filter(F.col("__id") % every.toLong === 0L)
      .select(F.col("__id"))
    val synth = sampleIds.crossJoin(F.broadcast(box))
      .withColumn("__u52", F.conv(F.substring(F.md5(F.concat(
        F.lit("hop:"), F.col("__id").cast("string"), F.lit(":"),
        F.col("__d").cast("string"))), 1, 13), 16, 10).cast("long"))
      .withColumn("__c",
        (F.col("__lo").cast("double") +
          F.col("__u52").cast("double") / 4503599627370496.0 *
            (F.col("__hi") - F.col("__lo")).cast("double")) / 1e6)
      .groupBy("__id")
      .agg(F.array_sort(F.collect_list(F.struct(F.col("__d"),
        F.col("__c")))).as("__sc"))
      .select(F.col("__id").as("__qid"),
        F.transform(F.col("__sc"), s => s.getField("__c")).as("__qv"))
    def nnSum(queries: DataFrame, excludeSelf: Boolean): DataFrame = {
      val pairs = base.crossJoin(F.broadcast(queries))
        .filter(if (excludeSelf) F.col("__id") =!= F.col("__qid")
          else F.lit(true))
        // native codegen'd left fold — bit-identical to the HOF
        // aggregate(zip_with(...)) it replaced (VERDICT r13 #1)
        .withColumn("__d2",
          F.round(l2distSq(F.col("__v"), F.col("__qv")), 9))
      // the NN readout only consumes the MINIMUM 9-dp d² per query
      // (tie-broken rank-1 rows share the same d², so the old
      // row_number window produced the identical sum): a partial-
      // aggregable min collapses the m×n pair stream MAP-SIDE instead
      // of shuffling every pair into a per-query sort
      pairs.groupBy("__qid").agg(F.min("__d2").as("__d2m"))
        .agg(F.count(F.lit(1)).as("__m"),
          F.sum(F.round(F.sqrt(F.col("__d2m")), 9)).as("__s"))
    }
    val wReal = nnSum(all.filter(F.col("__id") % every.toLong === 0L)
      .select(F.col("__id").as("__qid"), F.col("__v").as("__qv")),
      excludeSelf = true)
      .select(F.col("__m").as("m"), F.col("__s").as("__sw"))
    val uSynth = nnSum(synth, excludeSelf = false)
      .select(F.col("__m").as("__mu"), F.col("__s").as("__su"))
    wReal.crossJoin(uSynth)
      .select(F.col("m"),
        F.round(F.col("__su"), 6).as("sum_u"),
        F.round(F.col("__sw"), 6).as("sum_w"),
        F.round(F.col("__su") / F.nullif(F.col("__su") + F.col("__sw"),
          F.lit(0.0)), 6).as("hopkins"))
  }

  /** Random-pair cosine baseline — the EXPECTED similarity of two
    * unrelated items, measured: order vectors by md5(id), pair
    * consecutive rows, and summarize the pair cosines (mean, sd, and
    * the exact p50/p90/p99 ladder). Every near-dup threshold
    * ([[nearDupPairs]]' cosine, [[semDedup]]'s 1−cos) is implicitly a
    * claim about this distribution — here is its actual location and
    * tail, so "0.8 means near-duplicate" stops being folklore.
    *
    * Determinism: md5 ordering and pairing are exact; cosines 9-dp
    * off the ordered [[dot]]/[[l2norm]] trees; quantiles exact lower
    * order statistics off the 9-dp value ladder.
    *
    * Scale shape: one hash sort (n/2 disjoint pairs — LINEAR, never a
    * pair join), one bounded value ladder.
    *
    * @return one row (n_pairs, mean_cos, sd_cos, p50, p90, p99) —
    *         6-dp
    */
  def randomPairCosine(emb: DataFrame, idCol: String,
                       vecCol: String): DataFrame = {
    val ordered = emb.select(F.col(idCol).cast("string").as("__id"),
        F.col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__h", F.md5(F.concat(F.lit("rpc:"), F.col("__id"))))
      .withColumn("__rn", F.row_number().over(Window.orderBy(
        F.col("__h"), F.col("__id"))))
      .withColumn("__pair",
        F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
      .withColumn("__side", (F.col("__rn") - 1L) % 2L)
    val a = ordered.filter(F.col("__side") === 0L)
      .select(F.col("__pair"), F.col("__v").as("__va"))
    val b = ordered.filter(F.col("__side") === 1L)
      .select(F.col("__pair"), F.col("__v").as("__vb"))
    val cos = a.join(b, "__pair")
      .withColumn("__cos", F.round(
        dot(F.col("__va"), F.col("__vb")) /
          F.nullif(l2norm(F.col("__va")) * l2norm(F.col("__vb")),
            F.lit(0.0)), 9))
      .filter(F.col("__cos").isNotNull)
    val byV = cos.groupBy("__cos").agg(F.count(F.lit(1)).as("__t"))
    val w = Window.orderBy(F.col("__cos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.agg(F.sum("__t").as("__n"))
    val lad = byV.withColumn("__cum", F.sum("__t").over(w))
      .crossJoin(F.broadcast(tot))
    def q(p: Double, out: String): Column =
      F.min(F.when(F.col("__cum") >=
        -F.floor(-F.lit(p) * F.col("__n").cast("double")),
        F.col("__cos"))).as(out)
    val quants = lad.agg(q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
    val mom = cos.agg(F.count(F.lit(1)).as("n_pairs"),
      F.avg("__cos").as("__m"),
      F.sqrt((F.sum(F.col("__cos") * F.col("__cos")) -
        F.sum("__cos") * (F.sum("__cos") /
          F.count(F.lit(1)).cast("double"))) /
        F.nullif(F.count(F.lit(1)).cast("double") - 1.0, F.lit(0.0)))
        .as("__sd"))
    mom.crossJoin(F.broadcast(quants))
      .select(F.col("n_pairs"), F.round(F.col("__m"), 6).as("mean_cos"),
        F.round(F.col("__sd"), 6).as("sd_cos"),
        F.round(F.col("p50"), 6).as("p50"),
        F.round(F.col("p90"), 6).as("p90"),
        F.round(F.col("p99"), 6).as("p99"))
  }

  /** Per-dimension variance census + diagonal participation ratio —
    * the "is the embedding space actually USED" audit: per-dim mean
    * and variance, each dim's share of total variance, and
    * {{{ PR_diag = (Σ_d v_d)² / Σ_d v_d² ∈ [1, dim] }}}
    * — the effective number of active dimensions (all variance in one
    * dim → 1; isotropic → dim). A rogue dimension owning half the
    * variance silently dominates every cosine in the ANN stack; this
    * is where it shows first. Diagonal-only by design (the full
    * covariance spectrum needs an eigensolve; the diagonal is exact,
    * distributed, and catches the common failure).
    *
    * Determinism: the [[mahalanobisOutliers]] moment discipline —
    * ×1e6-quantized exact (n, Σk, Σk²) per dim, 9-dp variances, the
    * PR/share chains IEEE over those.
    *
    * Scale shape: one posexplode moment pass (map-side partial agg to
    * dim rows), dim-bounded everything after.
    *
    * @return per-dim rows (d, mean_d, var_d, var_share, pr_diag,
    *         top_share) ordered by d — mean/var 9-dp display 6-dp,
    *         globals repeated per row
    */
  def dimVarianceCensus(emb: DataFrame, vecCol: String): DataFrame = {
    val ex = emb.select(F.posexplode(F.col(vecCol)).as(Seq("__d", "__x")))
      .select(F.col("__d"),
        F.round(F.col("__x").cast("double") * 1e6).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
    val byD = ex.groupBy("__d")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__q"))
    val nD = F.col("__n").cast("double")
    val mean = F.col("__s").cast("double") / (nD * 1e6)
    val v = F.round((F.col("__q").cast("double") -
      F.col("__s").cast("double") *
        (F.col("__s").cast("double") / nD)) /
      (F.nullif(nD - 1.0, F.lit(0.0)) * 1e12), 9)
    val dims = byD.select(F.col("__d").as("d"), mean.as("__m"),
      v.as("__v"))
    val glob = dims.agg(F.sum("__v").as("__sv"),
      F.sum(F.col("__v") * F.col("__v")).as("__sv2"),
      F.max("__v").as("__vmax"))
    dims.crossJoin(F.broadcast(glob))
      .select(F.col("d"), F.round(F.col("__m"), 6).as("mean_d"),
        F.round(F.col("__v"), 6).as("var_d"),
        F.round(F.col("__v") / F.nullif(F.col("__sv"), F.lit(0.0)), 6)
          .as("var_share"),
        F.round(F.col("__sv") * F.col("__sv") /
          F.nullif(F.col("__sv2"), F.lit(0.0)), 6).as("pr_diag"),
        F.round(F.col("__vmax") / F.nullif(F.col("__sv"), F.lit(0.0)), 6)
          .as("top_share"))
      .orderBy("d")
  }

  /** Cone-effect census — Ethayarajh-style anisotropy: the mean cosine
    * of every vector to the CORPUS CENTROID direction, with the share
    * of vectors in the positive half-space and the norm distribution.
    * mean_cos near 1 is the "narrow cone" pathology (all similarities
    * inflated, cosine thresholds meaningless); a healthy isotropic
    * space sits near 0. Norm CV is the companion read — wild norms
    * make dot-product and cosine rankings disagree. Run with
    * [[dimVarianceCensus]]: that says WHICH dims, this says how tight
    * the cone.
    *
    * Determinism: the centroid is QUANTIZED back to the same ×1e6
    * integer grid as the vectors (cq_d = round(Σk_d / n) — a 1e-6
    * precision loss, documented), so every per-vector dot, squared
    * norm and the centroid norm are EXACT LONGS off one posexplode
    * joined to the broadcast dim table; cosines/norms are 9-dp IEEE
    * over those, outputs 6-dp.
    *
    * Scale shape: one moment pass (dim rows) + one linear explode
    * join; no vector ever meets another vector.
    *
    * @return one row (n, mean_cos, p_positive, mean_norm, cv_norm) —
    *         6-dp
    */
  def coneCensus(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = emb.select(F.col(idCol).as("__id"),
        F.posexplode(F.col(vecCol)).as(Seq("__d", "__x")))
      .select(F.col("__id"), F.col("__d"),
        F.round(F.col("__x").cast("double") * 1e6).cast("long").as("__k"))
      .filter(F.col("__k").isNotNull)
    val byD = ex.groupBy("__d")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("__k").as("__s"))
    val cent = byD.select(F.col("__d"),
      F.round(F.col("__s").cast("double") /
        F.col("__n").cast("double")).cast("long").as("__cq"))
    val c2 = cent.agg(F.sum(F.col("__cq") * F.col("__cq")).as("__c2k"))
    val perId = ex.join(F.broadcast(cent), Seq("__d"))
      .groupBy("__id")
      .agg(F.sum(F.col("__k") * F.col("__cq")).as("__dotk"),
        F.sum(F.col("__k") * F.col("__k")).as("__n2k"))
      .crossJoin(F.broadcast(c2))
      .withColumn("__norm",
        F.round(F.sqrt(F.col("__n2k").cast("double")) / 1e6, 9))
      .withColumn("__cos", F.round(F.col("__dotk").cast("double") /
        F.nullif(F.sqrt(F.col("__n2k").cast("double")) *
          F.sqrt(F.col("__c2k").cast("double")), F.lit(0.0)), 9))
    perId.agg(F.count(F.lit(1)).as("n"),
      F.round(F.avg("__cos"), 6).as("mean_cos"),
      F.round(F.sum(F.when(F.col("__cos") > 0.0, 1L).otherwise(0L))
        .cast("double") / F.count(F.lit(1)).cast("double"), 6)
        .as("p_positive"),
      F.round(F.avg("__norm"), 6).as("mean_norm"),
      F.round(F.sqrt((F.sum(F.col("__norm") * F.col("__norm")) -
        F.sum("__norm") * (F.sum("__norm") /
          F.count(F.lit(1)).cast("double"))) /
        F.nullif(F.count(F.lit(1)).cast("double") - 1.0, F.lit(0.0))) /
        F.nullif(F.avg("__norm"), F.lit(0.0)), 6).as("cv_norm"))
  }

  /** Energy distance (Székely & Rizzo 2004) between two vector sets —
    * the metric-space two-sample test that needs NO kernel bandwidth
    * (the tuning knob [[mmdDrift]] carries): with Euclidean pair
    * distances,
    * {{{
    *   E = 2·E‖X−Y‖ − E‖X−X′‖ − E‖Y−Y′‖  (≥ 0, = 0 iff same dist.)
    * }}}
    * V-statistic form (all ordered pairs incl. self, the standard
    * plug-in — documented). Read next to x211: MMD weights LOCAL scale
    * via its kernel, energy distance is scale-free and catches
    * mean/spread shifts a mis-tuned bandwidth smooths over.
    *
    * Same numeric discipline as [[mmdDrift]]: 9-dp pair distances (the
    * ‖·‖² expansion off [[l2norm]]/[[dot]], clamped at 0 before sqrt),
    * 9-dp pair means, one IEEE combination.
    *
    * Scale shape: three bounded cross-join pair scans — the x211 shape;
    * both sides are expected to be bounded samples (drift checks run on
    * samples, not corpora).
    *
    * @return one row (n_x, n_y, dxy, dxx, dyy, energy) — 6-dp
    */
  def energyDistance(x: DataFrame, y: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) = df.select(
      F.col(idCol).as(s"__id$tag"), F.col(vecCol).as(s"__v$tag"),
      (l2norm(F.col(vecCol)) * l2norm(F.col(vecCol))).as(s"__n2$tag"))
    def dmean(a: DataFrame, b: DataFrame, ta: String, tb: String,
              out: String) = a.crossJoin(b)
      .select(F.round(F.sqrt(F.greatest(
        F.col(s"__n2$ta") + F.col(s"__n2$tb") -
          F.lit(2.0) * dot(F.col(s"__v$ta"), F.col(s"__v$tb")),
        F.lit(0.0))), 9).as("__d"))
      .agg(F.round(F.avg("__d"), 9).as(out))
    val (xa, xb) = (side(x, "a"), side(x, "b"))
    val (ya, yb) = (side(y, "c"), side(y, "d"))
    val dxx = dmean(xa, xb, "a", "b", "dxx")
    val dyy = dmean(ya, yb, "c", "d", "dyy")
    val dxy = dmean(xa, yb, "a", "d", "dxy")
    x.agg(F.count(F.lit(1)).as("n_x"))
      .crossJoin(y.agg(F.count(F.lit(1)).as("n_y")))
      .crossJoin(dxy).crossJoin(dxx).crossJoin(dyy)
      .select(F.col("n_x"), F.col("n_y"), F.col("dxy"), F.col("dxx"),
        F.col("dyy"),
        F.round(F.lit(2.0) * F.col("dxy") - F.col("dxx") -
          F.col("dyy"), 6).as("energy"))
  }

  /** Local outlier factor (Breunig et al. 2000) over an embedding
    * column — DENSITY-relative outlierness: LOF ≈ 1 means "as dense as
    * my neighbors", LOF ≫ 1 "my neighborhood is far sparser than my
    * neighbors' neighborhoods". Catches the outlier-inside-a-tight-
    * cluster that [[mahalanobisOutliers]]' single global covariance
    * misses, and stays calm about points in legitimately diffuse
    * regions that Mahalanobis flags. With kNN sets N_k, k-distance
    * kd(·), reach-dist r(a,b) = max(d(a,b), kd(b)):
    * {{{
    *   lrd(a) = k / Σ_{b∈N_k(a)} r(a,b),
    *   LOF(a) = mean_{b∈N_k(a)} lrd(b) / lrd(a)
    * }}}
    * Determinism: 9-dp Euclidean pair distances (the [[energyDistance]]
    * expansion), neighbor rank ties broken by id, 9-dp lrd and ratio
    * terms, 6-dp output with a (lof desc, id) total order.
    *
    * Scale shape: one all-pairs scan with a per-query top-k window
    * (the [[bruteKnn]] shape — at corpus scale run it on a sample or
    * swap the candidate generator for [[lshKnn]]); everything after is
    * k-bounded joins on (id, neighbor) pairs.
    *
    * Edge rule (advisor r12): with n ≤ k rows no point has a rank-k
    * neighbor, the k-distance join matches nothing, and the result is
    * EMPTY — deliberate (the [[semDedup]]/[[clusterCap]] empty-input
    * convention) rather than a driver-side count guard, which would
    * spend an extra full action on every healthy call just to catch a
    * degenerate one.
    *
    * @return top `topN` rows (id, lrd, lof) by (lof desc, id) — 6-dp;
    *         EMPTY when the input has ≤ k rows (see edge rule above)
    */
  def lofOutliers(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int = 5, topN: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def side(df: DataFrame, tag: String) = df.select(
      F.col(idCol).as(s"__id$tag"), F.col(vecCol).as(s"__v$tag"),
      (l2norm(F.col(vecCol)) * l2norm(F.col(vecCol))).as(s"__n2$tag"))
    val pairs = side(emb, "a").crossJoin(side(emb, "b"))
      .filter(F.col("__ida") =!= F.col("__idb"))
      .select(F.col("__ida").as("id"), F.col("__idb").as("nb"),
        F.round(F.sqrt(F.greatest(
          F.col("__n2a") + F.col("__n2b") -
            F.lit(2.0) * dot(F.col("__va"), F.col("__vb")),
          F.lit(0.0))), 9).as("d"))
    val w = Window.partitionBy("id")
      .orderBy(F.col("d").asc, F.col("nb").asc)
    val knn = pairs.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") <= k)
      .localCheckpoint()
    // k-distance per point = its rank-k neighbor distance
    val kdist = knn.filter(F.col("__rk") === k)
      .select(F.col("id").as("__kdid"), F.col("d").as("__kd"))
    val reach = knn
      .join(kdist, F.col("nb") === F.col("__kdid"))
      .withColumn("__reach", F.greatest(F.col("d"), F.col("__kd")))
    val lrd = reach.groupBy("id")
      .agg(F.round(F.lit(k.toDouble) /
        F.nullif(F.sum("__reach"), F.lit(0.0)), 9).as("__lrd"))
    val lof = knn
      .join(lrd.select(F.col("id").as("nb"), F.col("__lrd").as("__lrdB")),
        Seq("nb"))
      .join(lrd, Seq("id"))
      .withColumn("__r",
        F.round(F.col("__lrdB") / F.nullif(F.col("__lrd"), F.lit(0.0)),
          9))
      .groupBy("id")
      .agg(F.max("__lrd").as("__lrd"),
        F.round(F.avg("__r"), 6).as("lof"))
    lof.select(F.col("id"), F.round(F.col("__lrd"), 6).as("lrd"),
        F.col("lof"))
      .orderBy(F.col("lof").desc, F.col("id"))
      .limit(topN)
  }

  /** Cluster-label purity census — how well do the geometric cells
    * agree with an external label: per cell, the majority label's
    * share (purity) and the label entropy, plus the size-weighted
    * overall purity. The supervised companion of [[clusterQuality]]'s
    * unsupervised DB/CH indices: geometry can be tight (good DB) and
    * still mix labels (bad purity) — both reads gate a semantic-dedup
    * or routing scheme.
    *
    * Counts are exact longs; purity is one IEEE division (majority tie
    * broken by label — deterministic); entropy uses 9-dp p ln p terms.
    *
    * Scale shape: assignment is the [[assignCells]] projection; one
    * (cell, label) census bounded by k × |labels|; the overall readout
    * broadcasts back.
    *
    * @return per cell (cell, n, top_label, purity, h, overall_purity)
    *         ordered by cell — 6-dp
    */
  def cellPurity(emb: DataFrame, idCol: String, vecCol: String,
                 labelCol: Column,
                 centroids: Array[Array[Double]]): DataFrame = {
    val asg = assignCells(emb.select(F.col(idCol), F.col(vecCol),
        labelCol.cast("string").as("__l")), vecCol, centroids)
    val cells = asg.groupBy(F.col("cell"), F.col("__l"))
      .agg(F.count(F.lit(1)).as("__c"))
    val w = Window.partitionBy("cell")
      .orderBy(F.col("__c").desc, F.col("__l"))
    val perCell = cells
      .withColumn("__rk", F.row_number().over(w))
      .groupBy("cell")
      .agg(F.sum("__c").as("n"),
        F.max(F.when(F.col("__rk") === 1, F.col("__l"))).as("top_label"),
        F.max(F.when(F.col("__rk") === 1, F.col("__c"))).as("__top"))
    val ent = cells
      .join(perCell.select(F.col("cell"), F.col("n")), Seq("cell"))
      .withColumn("__term", F.round(
        F.col("__c").cast("double") / F.col("n").cast("double") *
          F.log(F.col("__c").cast("double") / F.col("n").cast("double")),
        9))
      .groupBy("cell").agg((-F.sum("__term")).as("__h"))
    val joined = perCell.join(ent, Seq("cell"))
    val overall = joined.agg(
      F.round(F.sum("__top").cast("double") /
        F.sum("n").cast("double"), 6).as("overall_purity"))
    joined.crossJoin(F.broadcast(overall))
      .select(F.col("cell"), F.col("n"), F.col("top_label"),
        F.round(F.col("__top").cast("double") /
          F.col("n").cast("double"), 6).as("purity"),
        F.round(F.col("__h"), 6).as("h"), F.col("overall_purity"))
      .orderBy("cell")
  }

  /** Centroid-assignment margin census — how CONFIDENT each cell
    * assignment is: per vector, the ratio of the second-nearest to the
    * nearest squared centroid distance (1 = on the boundary, large =
    * deep inside its cell), rolled up per cell as the mean margin and
    * the share of ambiguous points (ratio < `ambiguous`). The routing
    * reliability readout: a cell with purity 0.9 but 40% boundary
    * points will not hold that purity on the next batch.
    *
    * Both distances round 9 dp off the exact per-dim squares; the
    * ratio and the per-cell mean are IEEE on identical inputs.
    * Zero-distance vectors (exactly on a centroid) emit NULL ratio and
    * drop from the mean (documented).
    *
    * Scale shape: one k-way distance projection per row (k centroid
    * literals baked into the plan), a per-row sort of k values via two
    * array positions — no joins, no shuffles beyond the cell rollup.
    *
    * @return per cell (cell, n, mean_margin, p_ambiguous) ordered —
    *         6-dp
    */
  def centroidMargin(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]],
                     ambiguous: Double = 1.2): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 centroids")
    val d2s = centroidD2s(vecCol, centroids)
    val sorted = F.array_sort(d2s)
    val withM = emb.select(F.col(idCol), F.col(vecCol))
      .withColumn("__d2s", d2s)
      .withColumn("__d1", F.element_at(sorted, 1))
      .withColumn("__d2", F.element_at(sorted, 2))
      .withColumn("cell",
        (F.array_position(F.col("__d2s"), F.element_at(sorted, 1)) - 1L)
          .cast("long"))
      .withColumn("__ratio",
        F.col("__d2") / F.nullif(F.col("__d1"), F.lit(0.0)))
    withM.groupBy("cell")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg(F.round(F.col("__ratio"), 9)), 6)
          .as("mean_margin"),
        F.round(F.sum(F.when(F.col("__ratio") < ambiguous, 1L)
          .otherwise(0L)).cast("double") /
          F.count(F.lit(1)).cast("double"), 6).as("p_ambiguous"))
      .orderBy("cell")
  }

  /** Per-point squared distances to every centroid, 9-dp, as an array
    * column in centroid order — the shared projection under
    * [[centroidMargin]] / [[simplifiedSilhouette]] / [[daviesBouldin]] /
    * [[xieBeni]]. A float vector widens to double per element, inside
    * the lambda, not as one array cast per centroid. */
  private def centroidD2s(vecCol: String,
                          centroids: Array[Array[Double]]): Column = {
    val centLit = F.array(centroids.map(c =>
      F.array(c.map(F.lit): _*)): _*)
    F.transform(centLit, c => F.round(F.aggregate(
      F.zip_with(F.col(vecCol), c, (x, y) => (x - y) * (x - y)),
      F.lit(0.0), (acc, t) => acc + t), 9))
  }

  /** Simplified silhouette (Hruschka et al.) — per-point cohesion vs
    * separation measured against CENTROIDS only: a = distance to the
    * own (nearest) centroid, b = distance to the second-nearest,
    * s = (b − a) / max(a, b) ∈ [−1, 1]. The O(n·k) stand-in for the
    * O(n²) full silhouette — the standard cluster-quality readout at
    * corpus scale, sharper than [[centroidMargin]]'s raw ratio because
    * it is bounded and sign-coded (s ≤ 0 says "closer to another cell
    * than to mine" — the misassignment smell).
    *
    * Determinism: 9-dp squared distances ([[centroidMargin]]
    * projection), 9-dp roots, 9-dp per-point s, 6-dp means; assignment
    * ties break to the lowest centroid index via array order.
    *
    * Scale shape: one projection per row (codegen'd HOFs over the
    * broadcast centroid literal — no join, no shuffle before the k-row
    * census); the overall mean rides the same collapse.
    *
    * @return per-cell rows (cell, n, mean_sil, overall_sil) ordered by
    *         cell — 6-dp; s = 0 when both distances are 0 (duplicate
    *         centroids)
    */
  def simplifiedSilhouette(emb: DataFrame, vecCol: String,
                           centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 centroids")
    val d2s = centroidD2s(vecCol, centroids)
    val withS = emb.select(F.col(vecCol))
      .withColumn("__d2s", d2s)
      .withColumn("__a",
        F.round(F.sqrt(F.element_at(F.array_sort(F.col("__d2s")), 1)), 9))
      .withColumn("__b",
        F.round(F.sqrt(F.element_at(F.array_sort(F.col("__d2s")), 2)), 9))
      .withColumn("cell",
        (F.array_position(F.col("__d2s"),
          F.element_at(F.array_sort(F.col("__d2s")), 1)) - 1L)
          .cast("long"))
      .withColumn("__s", F.coalesce(
        F.round((F.col("__b") - F.col("__a")) /
          F.nullif(F.greatest(F.col("__a"), F.col("__b")), F.lit(0.0)), 9),
        F.lit(0.0)))
    val overall = withS.agg(
      F.round(F.avg("__s"), 6).as("overall_sil"))
    withS.groupBy("cell")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg("__s"), 6).as("mean_sil"))
      .crossJoin(F.broadcast(overall))
      .orderBy("cell")
  }

  /** Davies–Bouldin index — for each cell, the worst "spread-to-
    * separation" ratio against any other cell: S_i = mean distance of
    * cell i's points to its centroid, M_ij = centroid distance,
    * R_ij = (S_i + S_j)/M_ij, D_i = max_j R_ij, DB = mean_i D_i.
    * LOWER is better; DB ≳ 1 says neighboring cells overlap more than
    * they cohere. The geometry-only companion of [[cellPurity]]'s
    * label-based read and the per-cell refinement of the global
    * Calinski–Harabasz ratio.
    *
    * Determinism: 9-dp distances throughout; the k×k centroid-distance
    * matrix is a compile-time literal (computed from `centroids` in
    * driver scalar code, 9-dp — bit-identical to the oracle's VALUES
    * replay); 6-dp outputs.
    *
    * Scale shape: one assignment projection + k-row census; the k×k
    * ratio table never touches the corpus again.
    *
    * @return per-cell rows (cell, n, s_i, d_i, db) ordered by cell —
    *         6-dp; d_i NULL only if duplicate centroids make M_ij = 0
    */
  def daviesBouldin(emb: DataFrame, vecCol: String,
                    centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 centroids")
    val k = centroids.length
    // k×k centroid Euclidean distances, 9-dp driver scalars
    def m(i: Int, j: Int): Double = {
      val s = centroids(i).zip(centroids(j))
        .map { case (x, y) => (x - y) * (x - y) }.sum
      BigDecimal(math.sqrt(s)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val mLit = F.array((0 until k).map(i =>
      F.array((0 until k).map(j => F.lit(m(i, j))): _*)): _*)
    val d2s = centroidD2s(vecCol, centroids)
    val assigned = emb.select(F.col(vecCol))
      .withColumn("__d2s", d2s)
      .withColumn("cell",
        (F.array_position(F.col("__d2s"),
          F.element_at(F.array_sort(F.col("__d2s")), 1)) - 1L)
          .cast("long"))
      .withColumn("__d",
        F.round(F.sqrt(F.element_at(F.array_sort(F.col("__d2s")), 1)), 9))
    val perCell = assigned.groupBy("cell")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg("__d"), 9).as("__si"))
    val other = perCell.select(F.col("cell").as("__cj"),
      F.col("__si").as("__sj"))
    val ratios = perCell.join(other, F.col("cell") =!= F.col("__cj"))
      .withColumn("__m", F.element_at(
        F.element_at(mLit, (F.col("cell") + 1L).cast("int")),
        (F.col("__cj") + 1L).cast("int")))
      .withColumn("__r", F.round((F.col("__si") + F.col("__sj")) /
        F.nullif(F.col("__m"), F.lit(0.0)), 9))
    val perI = ratios.groupBy("cell")
      .agg(F.max("n").as("n"), F.max("__si").as("__si"),
        F.max("__r").as("__di"))
    val db = perI.agg(F.round(F.avg("__di"), 6).as("db"))
    perI.crossJoin(F.broadcast(db))
      .select(F.col("cell"), F.col("n"),
        F.round(F.col("__si"), 6).as("s_i"),
        F.round(F.col("__di"), 6).as("d_i"), F.col("db"))
      .orderBy("cell")
  }

  /** Xie–Beni index — total within-cell squared distance over n times
    * the SMALLEST squared centroid separation:
    * {{{ XB = Σᵢ d²(xᵢ, c_own) / (n · min_{i≠j} ‖cᵢ − cⱼ‖²) }}}
    * The "worst bottleneck" compactness-separation read: where
    * [[daviesBouldin]] averages each cell's worst neighbor, XB charges
    * the WHOLE corpus against the single tightest centroid pair —
    * the sharpest detector of one redundant centroid. Lower is better;
    * XB ≳ 1 says some pair of cells should be merged.
    *
    * Determinism: 9-dp per-point squared distances summed (order noise
    * ~1e-12 against a 6-dp output), min separation a 9-dp driver
    * scalar literal (oracle replays it from VALUES).
    *
    * Scale shape: one projection + one global sum; nothing else.
    *
    * @return one row (n, inertia, min_sep2, xb) — 6-dp
    */
  def xieBeni(emb: DataFrame, vecCol: String,
              centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 centroids")
    val k = centroids.length
    val minSep2 = (for { i <- 0 until k; j <- 0 until k if i != j } yield {
      val s = centroids(i).zip(centroids(j))
        .map { case (x, y) => (x - y) * (x - y) }.sum
      BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).min
    val d2s = centroidD2s(vecCol, centroids)
    emb.select(F.col(vecCol))
      .withColumn("__d1",
        F.element_at(F.array_sort(d2s), 1))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("__d1"), 6).as("inertia"),
        F.round(F.lit(minSep2), 6).as("min_sep2"),
        F.round(F.sum("__d1") /
          (F.count(F.lit(1)).cast("double") * F.lit(minSep2)), 6)
          .as("xb"))
  }

  /** Nearest-centroid-classifier confusion matrix — label transfer
    * through geometry: build one centroid per label (per-dim means),
    * classify every vector to its nearest label centroid, and cross-
    * tabulate true vs predicted with the overall accuracy. The
    * embedding-quality read: if NCC can't separate the labels, neither
    * will any downstream cheap classifier ([[centroidScores]] gives
    * the per-row score; this gives the corpus verdict).
    *
    * Label centroids are per-dim IEEE means off exact ×1e6-quantized
    * sums ([[mahalanobisOutliers]] discipline); distances round 9 dp;
    * prediction ties break by label.
    *
    * Scale shape: one posexplode moment pass builds the |labels|×dim
    * centroid table (broadcast back), one distance join bounded by
    * |labels| per row, a confusion-cell census.
    *
    * @return per cell (true_label, pred_label, n, accuracy) ordered —
    *         accuracy is the shared overall diagonal share, 6-dp
    */
  def nccConfusion(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: Column): DataFrame = {
    val base = emb.select(F.col(idCol).as("__id"),
      F.col(vecCol).as("__v"), labelCol.cast("string").as("__l"))
    val ex = base.select(F.col("__l"),
        F.posexplode(F.col("__v")).as(Seq("__d", "__x")))
      .select(F.col("__l"), F.col("__d"),
        F.round(F.col("__x").cast("double") * 1e6).cast("long").as("__k"))
    val cent = ex.groupBy("__l", "__d")
      .agg((F.sum("__k").cast("double") /
        (F.count(F.lit(1)).cast("double") * 1e6)).as("__m"))
      .groupBy(F.col("__l").as("__cl"))
      .agg(F.array_sort(F.collect_list(F.struct(F.col("__d"),
        F.col("__m")))).as("__ms"))
      .select(F.col("__cl"),
        F.transform(F.col("__ms"), s => s.getField("__m")).as("__cv"))
    val scored = base.crossJoin(F.broadcast(cent))
      .withColumn("__dist", F.round(F.aggregate(
        F.zip_with(F.col("__v").cast("array<double>"), F.col("__cv"),
          (x, y) => (x - y) * (x - y)),
        F.lit(0.0), (acc, t) => acc + t), 9))
    val w = Window.partitionBy("__id")
      .orderBy(F.col("__dist").asc, F.col("__cl").asc)
    val pred = scored.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") === 1)
    val cells = pred.groupBy(F.col("__l").as("true_label"),
        F.col("__cl").as("pred_label"))
      .agg(F.count(F.lit(1)).as("n"))
    val acc = cells.agg(F.round(
      F.sum(F.when(F.col("true_label") === F.col("pred_label"),
        F.col("n")).otherwise(0L)).cast("double") /
        F.sum("n").cast("double"), 6).as("accuracy"))
    cells.crossJoin(F.broadcast(acc))
      .orderBy("true_label", "pred_label")
  }

  /** Frobenius norm² of the CENTERED cross-covariance between two
    * row-aligned vector columns — the [[linearCka]] building block:
    * S[i,j] = Σ_n a_ni·b_nj − (Σa_i)(Σb_j)/n, returns Σ_ij S[i,j]² as
    * one row. The d² product terms per row unfold from chained
    * posexplodes INSIDE codegen (no join, no d²-wide rows) and
    * partial-aggregate map-side to d² keys; products and centered
    * entries are 9-dp quantized and DECIMAL-accumulated (the x222
    * rule) so the statistic is bit-identical across engines and
    * partitionings. */
  private def ckaFrob(base: DataFrame, nTab: DataFrame,
                      cA: String, cB: String): DataFrame = {
    // The O(n·d²) sums accumulate as SCALED LONGS (term·10⁹ — exact on
    // the 9-dp grid, codegen'd long adds) instead of DECIMAL(38,9):
    // same grid values, ~10× cheaper in the hot aggregation. Long adds
    // are EXACT integers; the precision cliff is the final long→double
    // cast, which rounds silently once |Σ| ≥ 2⁵³ — with |x| ≲ 3 a
    // scaled product term is up to 9·10⁹, so that happens after
    // ~10⁶ rows, NOT 10⁸ (ANSI only throws at the much-later 2⁶³
    // wrap). So every summed long passes through [[exact53]] before
    // the cast: |Σ| < 2⁵³ → the ÷10⁹ IEEE division is the correctly-
    // rounded value of the exact rational, bit-identical to the
    // oracle's DECIMAL sum cast to DOUBLE; |Σ| ≥ 2⁵³ → raise_error at
    // action time (fall back to the DECIMAL accumulation of
    // [[olsFitQuantized]]'s style for such corpora). The d²-row tail
    // sum keeps DECIMAL (4096 rows — cost is nothing).
    // HALF-UP scale-to-long via floor, NOT F.round: Spark's Round on
    // doubles routes every value through BigDecimal (it dominated this
    // op's profile); floor(t·10⁹ + ½) is pure FP codegen and lands on
    // the same grid long for every value the oracle's round(t, 9)
    // ::DECIMAL produces (pinned hash-green at 3 SFs — the same
    // Spark-vs-DuckDB rounding agreement the whole 9-dp house
    // convention already rests on)
    def scaled(c: Column): Column = {
      val t = c * F.lit(1e9)
      F.when(c >= 0, F.floor(t + F.lit(0.5)))
        .otherwise(-F.floor(-t + F.lit(0.5)))
    }
    // post-agg exactness gate: the long→double cast is only lossless
    // below 2⁵³ — beyond it the cast rounds SILENTLY (ANSI throws only
    // at 2⁶³), which would break the bit-identical oracle contract
    // with no loud failure. d² + 2d guarded rows, cost is nothing.
    def exact53(c: Column, what: String): Column =
      F.when(F.abs(c) < F.lit(9007199254740992L), c)
        .otherwise(F.raise_error(F.concat(
          F.lit(s"ckaFrob: scaled-long sum $what = "), c.cast("string"),
          F.lit(" exceeds 2^53 — the long->double cast would round " +
            "silently and the statistic would no longer replay " +
            "bit-identically. Corpus too large/hot for the scaled-long " +
            "fast path; use a DECIMAL(38,9) accumulation instead."))))
    // `_outer`: every base row holds non-empty arrays, so these emit the
    // same rows as posexplode, and the optimizer infers no `size > 0`
    // filter that it would push below base's rounding projection
    val sA = base.select(F.posexplode_outer(F.col(cA)).as(Seq("__i", "__x")))
      .groupBy("__i").agg(exact53(F.sum(scaled(F.col("__x"))), "sum_a")
        .as("__si"))
    val sB = base.select(F.posexplode_outer(F.col(cB)).as(Seq("__j", "__x")))
      .groupBy("__j").agg(exact53(F.sum(scaled(F.col("__x"))), "sum_b")
        .as("__sj"))
    // chained posexplodes beat a flattened nested-transform here
    // (measured: one 4096-long array allocation per row costs more than
    // the second Generate) — terms stream through codegen row-at-a-time
    val cross = base
      .select(F.col(cB).as("__bv"),
        F.posexplode_outer(F.col(cA)).as(Seq("__i", "__xa")))
      .select(F.col("__i"), F.col("__xa"),
        F.posexplode_outer(F.col("__bv")).as(Seq("__j", "__xb")))
      .groupBy("__i", "__j")
      .agg(exact53(F.sum(scaled(F.col("__xa") * F.col("__xb"))),
        "sum_ab").as("__sab"))
    def unscale(c: Column): Column = c.cast("double") / F.lit(1e9)
    cross.join(F.broadcast(sA), "__i").join(F.broadcast(sB), "__j")
      .crossJoin(F.broadcast(nTab))
      .select(F.round(
        unscale(F.col("__sab")) -
          unscale(F.col("__si")) * unscale(F.col("__sj")) /
            F.col("__n").cast("double"), 9).as("__c"))
      .select(F.round(F.col("__c") * F.col("__c"), 9)
        .cast("decimal(38,9)").as("__c2"))
      .agg(F.sum("__c2").cast("double").as("__f2"))
  }

  /** Linear CKA (centered kernel alignment, Kornblith et al. 2019)
    * between two row-aligned embedding columns — THE representation-
    * similarity readout of the eval literature: did a transformation
    * (quantization, projection, a different encoder) preserve the
    * GEOMETRY of the space, not just per-vector error?
    * {{{
    *   CKA(A, B) = ‖cov(A,B)‖²_F / (‖cov(A,A)‖_F · ‖cov(B,B)‖_F)
    * }}}
    * (the feature-space form — O(n·d²) work, never the n×n Gram
    * matrices, so it scales to any corpus at fixed d). 1 = identical
    * structure up to orthogonal transform + isotropic scale (CKA is
    * invariant to both, pinned in OpsSpec); → 0 = unrelated spaces.
    *
    * Inputs are 9-dp quantized on entry; every unordered sum in the
    * pipeline is exact on the 9-dp grid (the x222 rule): the hot
    * O(n·d²) sums as scaled longs (codegen'd, raise_error-guarded at
    * the 2⁵³ exactness cliff — see [[ckaFrob]]), the d²-row tail as
    * DECIMAL. Degenerate spaces
    * (zero centered norm — constant features) yield NULL, not NaN.
    *
    * Scale shape: three O(n·d²) codegen explode-rollups (no joins on
    * corpus rows), d² + 2d + 1-row broadcast tables after; rows with
    * mismatched/empty vectors are dropped loudly by the size filter.
    *
    * @return one row (n, d, cross_f2, a_f2, b_f2, cka) — 6-dp
    */
  def linearCka(df: DataFrame, vecA: Column, vecB: Column): DataFrame = {
    // filter before rounding (transform keeps sizes): a filter on the
    // rounded vectors is pushed below their projection, rounding them twice
    val base = df.filter(F.size(vecA) > 0 && F.size(vecA) === F.size(vecB))
      .select(
        F.transform(vecA, x => F.round(x.cast("double"), 9)).as("__a"),
        F.transform(vecB, x => F.round(x.cast("double"), 9)).as("__b"))
    val nTab = base.agg(F.count(F.lit(1)).as("__n"))
    val dTab = base.agg(F.max(F.size(F.col("__a"))).as("d"))
    val fab = ckaFrob(base, nTab, "__a", "__b")
      .withColumnRenamed("__f2", "__fab")
    val faa = ckaFrob(base, nTab, "__a", "__a")
      .withColumnRenamed("__f2", "__faa")
    val fbb = ckaFrob(base, nTab, "__b", "__b")
      .withColumnRenamed("__f2", "__fbb")
    nTab.crossJoin(fab).crossJoin(faa).crossJoin(fbb).crossJoin(dTab)
      .select(F.col("__n").as("n"), F.col("d"),
        F.round(F.col("__fab"), 6).as("cross_f2"),
        F.round(F.col("__faa"), 6).as("a_f2"),
        F.round(F.col("__fbb"), 6).as("b_f2"),
        F.round(F.col("__fab") /
          F.nullif(F.sqrt(F.col("__faa") * F.col("__fbb")), F.lit(0.0)), 6)
          .as("cka"))
  }

  /** Anisotropy census of an embedding space (Ethayarajh 2019; Mu &
    * Viswanath 2018) — how much of the space is one "common direction":
    * expected cosine between RANDOM pairs (≈0 in an isotropic space,
    * ≫0 when a rogue mean dominates), plus the mean-vector share
    * ‖μ‖²/E‖x‖² that names the culprit directly. The pre-flight check
    * before any cosine-threshold dedup/ANN policy: a high-anisotropy
    * space makes every pair look similar and thresholds meaningless
    * (the standard fix — subtract μ, re-run this census).
    *
    * Random pairs are the deterministic md5 disjoint pairing (the x418
    * idiom); μ comes from one posexplode collapse (d sums, never a
    * d-wide driver array); per-pair cos and per-row norm terms are
    * 9-dp rounded and DECIMAL-accumulated.
    *
    * @return one row (n, n_pairs, mean_cos, mean_abs_cos, mu_norm2,
    *         mean_norm2, anisotropy_ratio) — 6-dp, sign-of-zero canon
    *         on mean_cos
    */
  def anisotropyCensus(emb: DataFrame, idCol: String,
                       vecCol: String): DataFrame = {
    val base = emb.select(F.col(idCol).cast("string").as("__id"),
        F.col(vecCol).cast("array<double>").as("__v"))
      .filter(F.col("__v").isNotNull && F.size(F.col("__v")) > 0)
    val nTab = base.agg(F.count(F.lit(1)).as("n"))
    // μ and E‖x‖² from one exploded collapse
    val dims = base.select(F.posexplode(F.col("__v"))
      .as(Seq("__d", "__x")))
    val mu = dims.groupBy("__d")
      .agg((F.sum(F.round(F.col("__x"), 9).cast("decimal(38,9)"))
        .cast("double")).as("__sx"), F.count(F.lit(1)).as("__c"))
      .select(F.round(F.col("__sx") / F.col("__c").cast("double"), 9)
        .as("__m"))
      .agg(F.sum(F.round(F.col("__m") * F.col("__m"), 9)
        .cast("decimal(38,9)")).cast("double").as("__mu2"))
    val norms = base
      .select(F.round(l2norm(F.col("__v")) * l2norm(F.col("__v")), 9)
        .cast("decimal(38,9)").as("__n2"))
      .agg(F.sum("__n2").cast("double").as("__sn2"),
        F.count(F.lit(1)).as("__cn"))
      .select(F.round(F.col("__sn2") / F.col("__cn").cast("double"), 9)
        .as("__en2"))
    val ordered = base
      .withColumn("__h", F.md5(F.concat(F.lit("iso:"), F.col("__id"))))
      .withColumn("__rn", F.row_number().over(Window.orderBy(
        F.col("__h"), F.col("__id"))))
      .withColumn("__pair",
        F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
      .withColumn("__side", (F.col("__rn") - 1L) % 2L)
    val pa = ordered.filter(F.col("__side") === 0L)
      .select(F.col("__pair"), F.col("__v").as("__va"))
    val pb = ordered.filter(F.col("__side") === 1L)
      .select(F.col("__pair"), F.col("__v").as("__vb"))
    val cosTerms = pa.join(pb, "__pair")
      .select(F.round(dot(F.col("__va"), F.col("__vb")) /
        F.nullif(l2norm(F.col("__va")) * l2norm(F.col("__vb")),
          F.lit(0.0)), 9).as("__cos"))
      .filter(F.col("__cos").isNotNull)
    val pairs = cosTerms.agg(F.count(F.lit(1)).as("n_pairs"),
      F.sum(F.col("__cos").cast("decimal(38,9)")).cast("double")
        .as("__sc"),
      F.sum(F.abs(F.col("__cos")).cast("decimal(38,9)")).cast("double")
        .as("__sa"))
    nTab.crossJoin(F.broadcast(pairs)).crossJoin(F.broadcast(mu))
      .crossJoin(F.broadcast(norms))
      .select(F.col("n"), F.col("n_pairs"),
        Quant.noNegZero(F.round(F.col("__sc") /
          F.nullif(F.col("n_pairs").cast("double"), F.lit(0.0)), 6))
          .as("mean_cos"),
        F.round(F.col("__sa") /
          F.nullif(F.col("n_pairs").cast("double"), F.lit(0.0)), 6)
          .as("mean_abs_cos"),
        F.round(F.col("__mu2"), 6).as("mu_norm2"),
        F.round(F.col("__en2"), 6).as("mean_norm2"),
        F.round(F.col("__mu2") / F.nullif(F.col("__en2"), F.lit(0.0)),
          6).as("anisotropy_ratio"))
  }

  /** Alignment & uniformity of an embedding space (Wang & Isola, ICML
    * 2020) — the two-number contrastive-quality readout: ALIGNMENT is
    * the mean squared distance between positive pairs (same-entity
    * views should coincide; lower = better), UNIFORMITY is the log
    * mean Gaussian-potential over random pairs (the space should
    * spread on the hypersphere; more negative = better):
    * {{{
    *   align   = E_(x,y)∈pos ‖x − y‖²
    *   uniform = ln E_(x,y)∈rand exp(−2‖x − y‖²)
    * }}}
    * A collapsed encoder scores perfect alignment and catastrophic
    * uniformity — exactly the failure the pair catches that either
    * number alone misses.
    *
    * Positives here are CONSECUTIVE same-label rows (id order) — the
    * label-as-entity stand-in available on a corpus without logged
    * view pairs; callers with real positive pairs pass them via the
    * label column. Random pairs are the deterministic md5 disjoint
    * pairing (the x418 idiom: order by md5("aun:"+id), pair ranks
    * 2k-1/2k — every row used at most once, no self-pairs).
    *
    * Determinism: each pair's distance/potential term is 9-dp rounded
    * and DECIMAL-accumulated (x346 rule); readouts 6-dp.
    *
    * Scale shape: positives are one lead() over a (label, id)-sorted
    * shuffle; random pairs one md5-sort + self-join on pair index —
    * two corpus-linear passes, no n² anywhere.
    *
    * @return one row (n_pos, n_rand, alignment, uniformity)
    */
  def alignmentUniformity(emb: DataFrame, idCol: String, vecCol: String,
                          labelCol: String): DataFrame = {
    val base = emb.select(F.col(idCol).as("__id"),
      F.col(vecCol).cast("array<double>").as("__v"),
      F.col(labelCol).as("__lab"))
      .filter(F.col("__v").isNotNull && F.col("__lab").isNotNull)
    val byLab = Window.partitionBy("__lab").orderBy(F.col("__id"))
    val pos = base.withColumn("__vn", F.lead("__v", 1).over(byLab))
      .filter(F.col("__vn").isNotNull)
      .select(F.round(l2distSq(F.col("__v"), F.col("__vn")), 9)
        .cast("decimal(38,9)").as("__d2"))
    val posAgg = pos.agg(F.count(F.lit(1)).as("n_pos"),
      F.sum("__d2").as("__sa"))
    val ordered = base
      .withColumn("__h", F.md5(F.concat(F.lit("aun:"),
        F.col("__id").cast("string"))))
      .withColumn("__rn", F.row_number().over(Window.orderBy(
        F.col("__h"), F.col("__id"))))
      .withColumn("__pair",
        F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
      .withColumn("__side", (F.col("__rn") - 1L) % 2L)
    val ra = ordered.filter(F.col("__side") === 0L)
      .select(F.col("__pair"), F.col("__v").as("__va"))
    val rb = ordered.filter(F.col("__side") === 1L)
      .select(F.col("__pair"), F.col("__v").as("__vb"))
    val rand = ra.join(rb, "__pair")
      .select(F.round(F.exp(F.lit(-2.0) *
        l2distSq(F.col("__va"), F.col("__vb"))), 9)
        .cast("decimal(38,9)").as("__g"))
    val randAgg = rand.agg(F.count(F.lit(1)).as("n_rand"),
      F.sum("__g").as("__sg"))
    posAgg.crossJoin(F.broadcast(randAgg))
      .select(F.col("n_pos"), F.col("n_rand"),
        F.round(F.col("__sa").cast("double") /
          F.nullif(F.col("n_pos").cast("double"), F.lit(0.0)), 6)
          .as("alignment"),
        F.round(F.log(F.col("__sg").cast("double") /
          F.nullif(F.col("n_rand").cast("double"), F.lit(0.0))), 6)
          .as("uniformity"))
  }

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB 2019, Thm 1):
    * the Shapley value of every TRAINING point for a K-NN classifier's
    * accuracy on a bounded test set — the "which corpus rows actually
    * earn their keep" readout, exact in O(N log N) per test point
    * instead of the 2^N naive game:
    * {{{
    *   s(α_N) = 1[y_N = y_t] / N                          (farthest)
    *   s(α_j) = s(α_j+1) + (1[y_j=y_t] − 1[y_j+1=y_t]) · min(K,j)/(K·j)
    * }}}
    * The recurrence telescopes into a SUFFIX SUM over distance ranks —
    * a window aggregate, not a sequential loop: per test point the
    * corpus is ranked by squared L2 (asc, id tiebreak), each rank's
    * closed-form term is 9-dp rounded and DECIMAL-accumulated with a
    * `[currentRow, unboundedFollowing]` frame (exact, association-free
    * — DuckDB's segment-tree window sum and Spark's running sum may
    * associate doubles differently, decimals never disagree), then
    * φ_i = mean of s(i, t) over the test points that rank i.
    *
    * Scale shape: test points bounded (broadcast — the bruteKnn
    * convention), corpus scanned once; the per-test FULL ranking
    * shuffles q·N rows (q = #tests) — inherent to the exact method,
    * which needs every rank, not a top-k (no WindowGroupLimit). For a
    * 100 TB corpus run the q's in batches and cap q; the output is the
    * bounded top/bottom slice, never the full valuation.
    *
    * Efficiency property (pinned in OpsSpec): Σ_i s(i, t) equals the
    * K-NN utility of the full corpus on t.
    *
    * @return top `topN` rows by φ desc (id asc tiebreak):
    *         (id, label, n_tests, phi) — φ 6-dp, sign-of-zero canon
    */
  def knnShapley(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, labelCol: String, k: Int = 3,
                 topN: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(F.col(idCol).as("__qid"),
      F.col(vecCol).cast("array<double>").as("__qv"),
      F.col(labelCol).as("__qlab"))
    val scored = corpus
      .select(F.col(idCol).as("__id"),
        F.col(vecCol).cast("array<double>").as("__v"),
        F.col(labelCol).as("__lab"))
      .crossJoin(F.broadcast(q))
      .filter(F.col("__id") =!= F.col("__qid"))
      .select(F.col("__qid"), F.col("__id"), F.col("__lab"),
        l2distSq(F.col("__v"), F.col("__qv")).as("__dist"),
        F.when(F.col("__lab") === F.col("__qlab"), 1.0).otherwise(0.0)
          .as("__ind"))
    val byRank = Window.partitionBy("__qid")
      .orderBy(F.col("__dist").asc, F.col("__id").asc)
    val all = Window.partitionBy("__qid")
    val ranked = scored
      .withColumn("__rk", F.row_number().over(byRank))
      .withColumn("__n", F.count(F.lit(1)).over(all))
      .withColumn("__indn", F.lead(F.col("__ind"), 1).over(byRank))
    val term = F.when(F.col("__indn").isNull,
        F.col("__ind") / F.col("__n").cast("double"))
      .otherwise((F.col("__ind") - F.col("__indn")) *
        F.least(F.lit(k.toDouble), F.col("__rk").cast("double")) /
        (F.lit(k.toDouble) * F.col("__rk").cast("double")))
    val suffix = Window.partitionBy("__qid")
      .orderBy(F.col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sv = ranked
      .withColumn("__term", F.round(term, 9).cast("decimal(38,9)"))
      .withColumn("__s", F.sum("__term").over(suffix))
    val phi = sv.groupBy(F.col("__id"), F.col("__lab"))
      .agg(F.count(F.lit(1)).as("n_tests"),
        Quant.noNegZero(F.round(
          F.sum("__s").cast("double") / F.count(F.lit(1)).cast("double"),
          6)).as("phi"))
    phi.select(F.col("__id").as(idCol), F.col("__lab").as(labelCol),
        F.col("n_tests"), F.col("phi"))
      .orderBy(F.col("phi").desc, F.col(idCol).asc)
      .limit(topN)
  }
}
