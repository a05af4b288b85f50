package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.sources.Registrar

/** Scale-stress for the bench's heavy hitters (VERDICT r2 next-round #1).
  *
  * There is no sf1 testdata in this environment (TESTDATA.md ships
  * sf{0.001,0.01,0.1} only), so scale is manufactured from the PROVIDED
  * sf0.1 tables by unioning K re-keyed copies:
  *
  *  - `documents` replicas keep their text verbatim. Replica groups are
  *    exact near-duplicates by construction, so the TRUE pair count grows
  *    ~K²/2 per document — that output growth is expected and the stress is
  *    whether runtime stays near-linear anyway (bounded buckets + skew
  *    guards) instead of going quadratic in wall-clock.
  *  - `embeddings` replicas are direction-perturbed (element-wise
  *    `x + 0.05·sin((vec_id mod 97 + 13k)·(i+1))`, deterministic) so the
  *    copies are DISTINCT vectors: ANN cost scales with genuine corpus
  *    size, not degenerate identical points.
  *
  * Prints one JSON line per scale factor:
  * `{"metric":"stress","scale":K,"queries":{"x16_winnow_pairs":sec,...}}`
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_SCALES (default "1,4,10").
  */
object StressBench {

  private val KeyStride = 10_000_000L

  def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * KeyStride))
    }.reduce(_ union _)

  /** Events replicas re-key event_id AND user_id but keep timestamps —
    * the hour axis stays fixed while the per-hour stream and TRUE user
    * cardinality grow K× (the sliding-sketch stress shape: register rows
    * constant, scan volume K×). */
  def replicateEvents(ev: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      ev.withColumn("event_id", F.col("event_id") + F.lit(i * KeyStride))
        .withColumn("user_id", F.col("user_id") + F.lit(i * KeyStride))
    }.reduce(_ union _)

  /** Customer replicas re-derive c_name FROM the re-keyed c_custkey
    * (`Customer#%09d`, the TPC-H format) — the realistic growth model for
    * record linkage: new customers arrive with NEW name digits, so new
    * (nation, name-prefix) blocks appear and block SIZE stays bounded
    * while block COUNT grows ∝K. (Verbatim-copied names would instead
    * grow each block K× — precisely the promiscuous-key melt-down the
    * composite block plus maxBucket abort exists to refuse.) */
  def replicateCust(cust: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * KeyStride))
        .withColumn("c_name", F.concat(F.lit("Customer#"),
          F.lpad(F.col("c_custkey").cast("string"), 9, "0")))
    }.reduce(_ union _)

  /** K disjoint copies of two key columns, copy i offset by i·KeyStride:
    * a graph built from them has K disjoint components, so its nodes,
    * edges and wedges all scale ×K. */
  def replicateKeys(df: DataFrame, k: Int, a: String, b: String): DataFrame =
    (0 until k).map(i => df.select((F.col(a) + F.lit(i * KeyStride)).as(a),
      (F.col(b) + F.lit(i * KeyStride)).as(b))).reduce(_ union _)

  def replicateEmb(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      emb.select(
        (F.col("vec_id") + F.lit(i * KeyStride)).as("vec_id"),
        (if (i == 0) F.col("embedding")
         else F.transform(F.col("embedding"), (x, j) =>
           x + F.lit(0.05) * F.sin((F.col("vec_id") % 97 + F.lit(13 * i)) * (j + F.lit(1))))
           .cast("array<float>")).as("embedding"))
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,10")
      .split(',').map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.ops.{Dedup, Similarity}
    val docs0 = Registrar.table(spark, sfDir, "documents")
    val emb0 = Registrar.table(spark, sfDir, "embeddings")
    // JIT/codegen warm-up on the small paths
    Similarity.bruteKnn(emb0, emb0.limit(5), "vec_id", "embedding", k = 3)
      .write.format("noop").mode("overwrite").save()

    scales.foreach { k =>
      // materialize the replicated inputs once so every query times its OWN
      // work, not the replication union
      val docs = replicateDocs(docs0, k).persist()
      val emb = replicateEmb(emb0, k).persist()
      val events = replicateEvents(
        Registrar.table(spark, sfDir, "events"), k).persist()
      val nDocs = docs.count(); val nEmb = emb.count(); events.count()
      val queries: Seq[(String, () => DataFrame)] = Seq(
        "x16_winnow_pairs" -> (() => Dedup.winnowPairs(docs, "doc_id", "text", minShared = 5)),
        "x04_ngram_jaccard" -> (() => {
          val cands = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
          Dedup.ngramJaccard(cands.select("a", "b"), docs, "doc_id", "text")
            .filter(F.col("jaccard") >= 0.3)
        }),
        "x07_knn_lsh" -> (() => Similarity.lshKnn(emb, emb.filter(F.col("vec_id") < 50),
          "vec_id", "embedding", k = 3, nPlanes = 0, nTables = 16, corpusSize = Some(nEmb))),
        "x17_knn_ivf" -> (() => Similarity.ivfKnn(emb, emb.filter(F.col("vec_id") < 20),
          "vec_id", "embedding", k = 3, nlist = 8, nprobe = 4)),
        "x05_embed_neardup" -> (() => Similarity.nearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.4, nTables = 16, corpusSize = Some(nEmb))),
        // worst-case component shape: ONE path through every doc — diameter
        // = nDocs, where label propagation would need nDocs rounds; star
        // contraction must stay ~log2(nDocs) rounds and near-flat seconds
        "components_path" -> (() => graft.ops.Components.connectedComponents(
          spark.range(nDocs - 1).select(F.col("id").as("a"), (F.col("id") + 1).as("b")))),
        // within-cell self-join: cells grow ∝ N/nlist, so nlist scales with
        // K to hold cell size — the semDedup contract ("grow nlist with the
        // corpus"); wall-clock must then stay near-linear
        "x58_semdedup" -> (() => {
          val r = new scala.util.Random(7L)
          val nlist = 16 * k
          val cents = Array.fill(nlist, 64)(r.nextDouble() * 0.2 - 0.1)
          Similarity.semDedup(
            emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
            "vec_id", "embedding", threshold = 0.4, cents)
        }),
        // replica groups make every gram hot (df multiplies by K): the
        // per-(gram,doc) collapse must keep the window/rollup linear —
        // positions grow K×, never K²
        "x59_dup_spans" -> (() => Dedup.dupSpans(docs, "doc_id", "text")),
        // DSIR: target fixed (every 50th base doc), raw corpus grows K× —
        // gram explode collapses map-side, so wall-clock must stay linear
        // in K with the census/broadcast sides flat. Production xxhash64
        // path (x71); the md5 oracle twin (x70) differs only in per-gram
        // hash arithmetic, not plan shape
        "x71_dsir_prod" -> (() => graft.ops.TextOps.dsirWeights(
          docs, docs.filter(F.col("doc_id") % 50 === 0), "doc_id", "text")),
        // adversarial line dedup: replica groups make EVERY body line a
        // corpus-wide duplicate (K occurrences each) — the window shuffle
        // carries K× lines but rank-1 filtering is WindowGroupLimit'd
        // map-side, so wall-clock must stay near-linear in K. Runs BEFORE
        // x68_hotline so the hotline row measures the hot key, not the
        // first dedupLines codegen compile
        "x68_line_dedup" -> (() => graft.ops.Curation.dedupLines(
          docs.withColumn("text", F.concat_ws("\n",
            F.lit("shared banner"), F.col("text"),
            F.col("doc_id").cast("string"))),
          "doc_id", "text")),
        // single-hottest-line ceiling: EVERY doc in the corpus IS the same
        // one line (the cookie-banner reality at 100 TB: one string in 10⁸
        // docs) — the entire exploded corpus lands in ONE window partition,
        // so rank-1 WindowGroupLimit must kill all but one occurrence per
        // map partition BEFORE the shuffle; the hot key then carries
        // ~numPartitions rows, bounded by task count, not corpus size
        "x68_hotline" -> (() => graft.ops.Curation.dedupLines(
          docs.withColumn("text",
            F.lit("We use cookies to improve your experience")),
          "doc_id", "text")),
        // span excision under the worst shape: every replica's every gram
        // is corpus-duplicated (df = K), so coverage marks EVERY token of
        // every non-first replica — maximal covered-set expansion and
        // maximal document emptying; must stay ~linear in K
        "x73_remove_spans" -> (() => Dedup.removeDupSpans(docs, "doc_id", "text")),
        // single-hottest-gram ceiling: EVERY doc in the corpus IS the same
        // one n-gram window (the cookie-banner shape at span granularity:
        // one boilerplate string in 10⁸ docs, df = corpus size). The old
        // per-gram window buffered the whole corpus's rows in ONE window
        // partition; the census formulation partial-aggregates the hot
        // gram's count/min map-side (≤ numPartitions pre-combined rows at
        // the reducer) and the coverage join streams — must stay ~linear
        // in K with no single-task blowup
        "x73_hotgram" -> (() => Dedup.removeDupSpans(
          docs.withColumn("text",
            F.lit("we use cookies to improve your experience")),
          "doc_id", "text")),
        // KN bigram LM: train slice fixed (every 7th BASE doc), scored
        // corpus grows K× — transition streams collapse map-side to
        // (doc, w1, w2, k) and the model tables are vocab-bounded (replica
        // text is verbatim, so vocab is FLAT in K); wall must stay ~linear
        "x78_kn_bigram" -> (() => graft.ops.TextOps.knBigramNll(
          docs, docs.filter(F.col("doc_id") % 7 === 0), "doc_id", "text")),
        // distributed Lloyd: 2 full-corpus iterations + assignment, k=4
        // cells — per-iteration cost is one NearestCell projection + a
        // (cell, coordinate) rollup whose reducer input is bounded by
        // k*dim*partitions regardless of N; must stay ~linear in K
        "x81_kmeans" -> (() => {
          val r = new scala.util.Random(99L)
          val cents = Array.fill(4, 64)(r.nextDouble() * 0.2 - 0.1)
          graft.ops.Similarity.kmeansAssign(
            emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
            "vec_id", "embedding", cents, iters = 2)
        }),
        // IVF+PQ: nlist ∝ K holds cell size flat, so the fixed 50-query
        // nprobe=4 probe touches a CONSTANT candidate count as N grows —
        // build (native projections) is the only linear term
        "x65_ivfpq" -> (() => {
          val r = new scala.util.Random(11L)
          val nlist = 16 * k
          val cents = Array.fill(nlist, 64)(r.nextDouble() * 0.2 - 0.1)
          val cbs = Array.fill(8, 8, 8)(r.nextDouble() * 0.1 - 0.05)
          val embD = emb.withColumn("embedding",
            F.col("embedding").cast("array<double>"))
          val idx = Similarity.ivfpqBuild(embD, "vec_id", "embedding", cents, cbs)
          Similarity.ivfpqSearch(idx, embD.filter(F.col("vec_id") < 50),
            "embedding", k = 3, nprobe = 4)
        }),
        // PageRank on the worst graph shape for propagation (one ring
        // through every node + a global hub): edges grow 2K×, 3 damped
        // rounds each cost one edges⋈ranks join + one keyed agg — wall
        // must stay ~linear in K with no per-round driver actions
        "x92_pagerank_ring" -> (() => {
          val n = nDocs
          val ring = spark.range(n).select(F.col("id").as("src"),
            ((F.col("id") + 1) % n).as("dst"))
          val hub = spark.range(n).select(F.col("id").as("src"),
            F.lit(-1L).as("dst"))
          graft.ops.Graph.pageRank(ring.union(hub), "src", "dst", iters = 3)
        }),
        // HLL: token stream grows K× but replicas keep text verbatim, so
        // per-source TRUE cardinality is FLAT — registers (≤256 rows/source)
        // must absorb the K× stream map-side; wall ~linear scan cost only
        "x93_hll" -> (() => {
          val toks = docs.select(F.col("source"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
            .filter(F.length(F.col("t")) > 0)
          graft.ops.Sketches.hllDistinct(toks, Seq("source"), F.col("t"))
        }),
        // CMS: same K× stream into a FIXED 4×1024 counter table — the
        // depth-way explode must collapse map-side (counter rows constant)
        "x95_cms" -> (() => {
          val toks = docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).as("t"))
            .filter(F.length(F.col("t")) > 0)
          graft.ops.Sketches.cmsCounters(toks, F.col("t"))
        }),
        // weighted draw: K× corpus through a TakeOrdered top-150 — the
        // per-partition heap is bounded, so wall is the scan, ~linear
        "x91_weighted" -> (() => graft.ops.Sampling.weightedSample(
          docs.filter(F.col("n_chars") > 0), F.col("text"), F.col("n_chars"), 150)),
        // edit-distance pairs: replicas shifted +10·i chars ('x' padding),
        // so length bands NEVER collide across replica classes — per-class
        // candidate volume is the K=1 volume, total work K× (linear), and
        // the band join's bucket histogram is the stress signal
        "x101_edit" -> (() => graft.ops.Dedup.editDistancePairs(
          docs.select(F.col("doc_id"),
            F.concat(F.lower(F.trim(F.col("text"))),
              F.expr(s"repeat('x', cast((doc_id div $KeyStride) * 10 as int))"))
              .as("k")),
          "doc_id", F.col("k"), maxDist = 3)),
        // triangles: K DISJOINT copies of the co-purchase graph (orderkey
        // AND suppkey re-keyed) — nodes, edges, wedges, and triangles all
        // scale ×K; wall must stay ~linear through the two-shuffle census
        // + orientation machinery
        "x104_triangles" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          graft.ops.Graph.triangleCounts(
            graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
              minCount = 6),
            "src", "dst")
        }),
        // 2-hop harmonic centrality on K disjoint graph copies:
        // nodes/edges/wedges all ×K, the wedge join + distinct +
        // anti-join are fully parallel keyed shuffles — wall must stay
        // ~linear (the x104 shape, one extra distinct)
        "x398_harmonic2" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          graft.ops.Graph.harmonic2(
            graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey", "l_suppkey",
              minCount = 6),
            "src", "dst", topN = 20)
        }),
        // conditional char entropy: replica text verbatim ⇒ censuses
        // collapse map-side into the FIXED alphabet/alphabet² tables;
        // only the positional-window scan grows — wall ~linear
        "x406_char_entropy" -> (() =>
          graft.ops.TextOps.charNgramEntropy(docs, "text",
            F.lit("all"))),
        // deflate census: pure per-doc scan CPU (codegen'd Deflater in
        // the scan task, (source, 4 longs) shuffle only) — wall must
        // stay ~linear in K with the shuffle volume FLAT
        "x441_compress" -> (() =>
          graft.ops.TextOps.compressionCensus(docs, Seq("source"),
            "text")),
        // edge-support census on K disjoint graph copies PLUS one
        // planted 2000-spoke hub: support ≡ triangles-per-edge rides
        // the ORIENTED wedge join, so the hub (oriented out-degree 0 —
        // every edge points AT it) generates ZERO wedges and the wall
        // stays ~linear in K; the unoriented Σ deg² adjacency
        // self-join this op replaced (VERDICT r13 #2) would have paid
        // 2000² = 4M hub wedge rows per run regardless of K
        "x415_edge_support" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          val edges = graft.ops.Graph.cooccurrenceEdges(li,
            "l_orderkey", "l_suppkey", minCount = 6)
          val hub = spark.range(1, 2001).select(
            F.lit(-1L).as("src"), (F.col("id") + 900000000L).as("dst"),
            F.lit(1L).as("w"))
          graft.ops.Graph.edgeSupportCensus(edges.unionByName(hub),
            "src", "dst")
        }),
        // HyperBall neighborhood function on K disjoint graph copies
        // PLUS a planted 2000-spoke hub: register state and the
        // per-round edge join scale ×K (balls per copy constant), and
        // the hub node receives its 2000 neighbors' registers
        // PRE-COMBINED map-side (partial max-merge) — wall must stay
        // ~linear in K with no single-reducer blowup at the hub
        "x444_neighborhood" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          val und = graft.ops.Graph.cooccurrenceEdges(li,
            "l_orderkey", "l_suppkey", minCount = 6)
            .select("src", "dst")
          val hub = spark.range(1, 2001).select(
            F.lit(-1L).as("src"), (F.col("id") + 900000000L).as("dst"))
          val sym0 = und.unionByName(hub)
          val sym = sym0.unionByName(sym0.select(
            F.col("dst").as("src"), F.col("src").as("dst")))
          graft.ops.Graph.neighborhoodFunction(sym, "src", "dst",
            hops = 2, p = 4)
        }),
        // landmark BFS on K disjoint copies + the 2000-spoke hub: the
        // landmark count is FIXED while the graph grows, so state is
        // k_lm x N rows and each round joins the same fixed-k dist
        // table against KxE edges — wall must stay ~linear in K, and
        // the hub collapses map-side in the min-merge like x444
        "x445_landmark_dist" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          val und = graft.ops.Graph.cooccurrenceEdges(li,
            "l_orderkey", "l_suppkey", minCount = 6)
            .select("src", "dst")
          val hub = spark.range(1, 2001).select(
            F.lit(-1L).as("src"), (F.col("id") + 900000000L).as("dst"))
          val sym0 = und.unionByName(hub)
          val sym = sym0.unionByName(sym0.select(
            F.col("dst").as("src"), F.col("src").as("dst")))
          graft.ops.Graph.landmarkDistances(sym, "src", "dst",
            nLandmarks = 4, hops = 3)
        }),
        // hopkins clusterability with the documented scale knob:
        // corpusEvery = K holds the NN-scan corpus ~constant while the
        // query sample grows K× — m×(n/corpusEvery) work, wall ~linear
        // (the fixed native-kernel path, VERDICT r13 #1; corpusEvery=1
        // at fixed corpus is the correctness-gated production entry)
        "x417_hopkins" -> (() => Similarity.hopkinsStatistic(
          emb, "vec_id", "embedding", every = 10, corpusEvery = k)),
        // random-pair cosine: one hash sort into n/2 DISJOINT pairs —
        // linear by construction, never a pair join
        "x418_random_pair_cos" -> (() => Similarity.randomPairCosine(
          emb, "vec_id", "embedding")),
        // media near-dup: replicas are content-DISTINCT variants (vowel
        // substitution rewrites ~every 64 B chunk — verbatim replicas
        // would measure the quadratic TRUE-duplicate output, a data
        // fact, not the plan), so signatures, buckets, and true pair
        // count all grow ~K×; wall must stay ~linear. Rotations cover
        // i=1..4, the reversal covers i=5..9 paired with rotations —
        // all K≤10 variants mutually content-distinct.
        "x430_media_neardup" -> (() => {
          val variants = (0 until k).map { i =>
            val sub = if (i == 0) "aeiou"
              else if (i % 5 == 0) "uoiea"
              else {
                val r = "aeiou".drop(i % 5) + "aeiou".take(i % 5)
                if (i < 5) r else r.reverse
              }
            docs0.select(
              (F.col("doc_id") + F.lit(i.toLong * KeyStride)).as("doc_id"),
              (if (i == 0) F.col("text")
               else F.translate(F.col("text"), "aeiou", sub)).as("text"))
          }.reduce(_ unionAll _)
          graft.ops.Multimodal.mediaNearDupPairs(
            graft.ops.Multimodal.synthesizeMedia(variants),
            "doc_id", "media", threshold = 0.5)
        }),
        // ROUGE-2 over md5-random disjoint pairs of the replicated
        // corpus: pair count and gram censuses both grow K× (each doc
        // in exactly one pair) — keyed joins, wall ~linear
        "x424_rouge" -> (() => {
          val ordered = docs.select(F.col("doc_id"))
            .withColumn("__h", F.md5(F.concat(F.lit("rgb:"),
              F.col("doc_id").cast("string"))))
            .withColumn("__rn", F.row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(
                F.col("__h"), F.col("doc_id"))))
            .withColumn("__pair",
              F.call_function("div", F.col("__rn") - 1L, F.lit(2L)))
            .withColumn("__side", (F.col("__rn") - 1L) % 2L)
          val pairs = ordered.filter(F.col("__side") === 0L)
            .select(F.col("__pair"), F.col("doc_id").as("a"))
            .join(ordered.filter(F.col("__side") === 1L)
              .select(F.col("__pair"), F.col("doc_id").as("b")), "__pair")
            .select("a", "b")
          graft.ops.TextOps.rougeN(pairs, docs, "doc_id", "text", n = 2)
        }),
        // chrF2 over K× consecutive near-pairs: char gram censuses grow
        // with the paired-doc set only (semi-join bound) — ~linear
        "x426_chrf" -> (() => {
          val ids = docs.select("doc_id")
          val pairs = ids.select(F.col("doc_id").as("a"),
              (F.col("doc_id") + 1).as("b"))
            .filter(F.col("a") % 10 < 3)
            .join(ids.select(F.col("doc_id").as("b")), Seq("b"),
              "leftsemi")
          graft.ops.TextOps.chrfPairs(pairs, docs, "doc_id", "text",
            maxN = 3)
        }),
        // Onnela weighted clustering on K disjoint graph copies + the
        // planted hub: the x415/x104 oriented-wedge ladder with weights
        // threaded through — the hub generates zero wedges, ~linear
        "x427_weighted_clust" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          val edges = graft.ops.Graph.cooccurrenceEdges(li,
            "l_orderkey", "l_suppkey", minCount = 6)
          val hub = spark.range(1, 2001).select(
            F.lit(-1L).as("src"), (F.col("id") + 900000000L).as("dst"),
            F.lit(7L).as("w"))
          graft.ops.Graph.weightedClustering(edges.unionByName(hub),
            "src", "dst", "w")
        }),
        // k-truss on K disjoint graph copies + the same planted hub as
        // x415: each peel round is one oriented-triangle pass on a
        // SHRINKING edge set (the hub's star edges close no triangles
        // and die in round 1) — wall ~linear in K
        "x419_ktruss" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          val edges = graft.ops.Graph.cooccurrenceEdges(li,
            "l_orderkey", "l_suppkey", minCount = 6)
          val hub = spark.range(1, 2001).select(
            F.lit(-1L).as("src"), (F.col("id") + 900000000L).as("dst"),
            F.lit(1L).as("w"))
          graft.ops.Graph.kTruss(edges.unionByName(hub),
            "src", "dst", k = 4, rounds = 3)
        }),
      )
      val extra: Seq[(String, () => DataFrame)] = Seq(
        // trigram novelty: replica text verbatim ⇒ every non-first
        // replica's grams are corpus-duplicated (the first key wins) —
        // gram census rows grow K×, the min-doc window stays gram-keyed;
        // wall must stay ~linear (the work is O(total grams))
        "x121_novelty" -> (() =>
          graft.ops.TextOps.ngramNovelty(docs, "doc_id", "text", n = 3)),
        // phrase search: posting lists grow K× (verbatim text), the
        // (doc, start) joins stay integer equi-joins — ~linear
        "x120_phrase" -> (() =>
          graft.ops.TextOps.phraseSearch(docs, "doc_id", "text", "table part")),
        // sliding HLL: hour axis FIXED, per-hour stream and true user
        // cardinality K× (re-keyed users) — the register table stays at
        // (hours × ≤256) rows, so the trailing-union window cost is FLAT
        // and only the one corpus scan grows
        "x135_hll_sliding" -> (() =>
          graft.ops.Sketches.hllSliding(events,
            F.call_function("div", graft.ops.EventOps.tsUs(events),
              F.lit(3600000000L)),
            F.col("user_id"), windowBuckets = 24)),
        // k-center coreset: corpus grows K× (perturbed, DISTINCT vectors),
        // k=6 fixed — each of the 6 rounds is one full-scan projection +
        // 1-row argmax, so wall must stay ~linear in K with flat driver
        // state (6·64 doubles)
        "x168_kcenter" -> (() => graft.ops.Similarity.kCenterCoreset(
          emb, "vec_id", "embedding", k = 6)),
        // quantile normalization at the production regime: corpus windows
        // grow K× but the md5 reference sample rate shrinks 1/K, so the
        // ladder (the only single-partition sort + the broadcast) stays
        // FLAT — wall must track the per-source window scan, ~linear
        "x169_quantile_norm" -> (() => graft.ops.Curation.quantileNormalize(
          docs.select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", refRate = 0.5 / k)),
        // Kaplan-Meier: subjects (users) grow K× but the duration domain
        // (30 days) is FIXED — the census collapse grows linearly, the
        // single-partition windows stay ~30 rows at every K
        "x171_kaplan" -> (() => {
          val per = events.groupBy("user_id")
            .agg(F.min(graft.ops.EventOps.tsStamp(events)).as("f"),
              F.max(graft.ops.EventOps.tsStamp(events)).as("l"))
          val mx = per.agg(F.max("l").as("m"))
          val subj = per.crossJoin(F.broadcast(mx))
            .select(F.datediff(F.to_date(F.col("l")), F.to_date(F.col("f")))
                .as("dur"),
              F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 3 DAYS"), 1)
                .otherwise(0).as("ev"))
          graft.ops.Stats.kaplanMeier(subj, F.col("dur"), F.col("ev"))
        }),
        // Matryoshka ladder: corpus grows K× (distinct perturbed vectors),
        // 30 queries and 4 rungs fixed — each rung is one broadcast scan,
        // so wall must stay ~linear in K across all rungs together
        // binary Hamming scan over a K×-growing corpus: fixed 10-query
        // broadcast batch, corpus scanned once — the bruteKnn contract
        // at 1/32 the candidate-scan bytes; wall must stay ~linear
        "x286_binary_hamming" -> (() => {
          val e = emb.withColumn("embedding",
            F.col("embedding").cast("array<double>"))
          graft.ops.Similarity.binaryHammingSearch(e,
            e.filter(F.col("vec_id") < 10), "vec_id", "embedding",
            k = 5, cand = 50)
        }),
        "x173_matryoshka" -> (() => graft.ops.Similarity.matryoshkaRecall(
          emb, emb.filter(F.col("vec_id") < 30), "vec_id", "embedding",
          dims = Seq(8, 16, 32, 64), k = 10)),
        // bitext mining at the production shape: a FIXED ingest batch (the
        // base even-id vectors — replicas drop `label`, so split on id
        // parity) mined against a target pool growing K× — candidate
        // scoring is broadcast-batch × pool scan, ~linear
        "x179_bitext" -> (() => graft.ops.Similarity.bitextMargin(
          emb.filter(F.col("vec_id") % 2 === 0 && F.col("vec_id") < KeyStride),
          emb.filter(F.col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.0)),
        // U-shape attribution: events and users grow K×, every window is
        // user- or conversion-keyed — linear, no single-partition growth
        "x183_ushape" -> (() => graft.ops.EventOps.uShapeAttribution(
          events, "purchase", windowUs = 21600000000L)),
        // skyline: docs grow K× but replicas duplicate (x, y) points, so
        // the salt-local prune keeps the global pass bounded — wall must
        // track the keyed local windows, ~linear
        "x186_skyline" -> (() => graft.ops.Stats.skyline2d(
          docs, "doc_id", F.col("n_chars"),
          graft.ops.TextOps.tokenCount(F.col("text")))),
        // stickiness: users grow K× (re-keyed), day domain FIXED — the
        // 28× fan-out runs on the collapsed user-day table and the
        // distinct counts stay day-keyed; ~linear in K
        "x195_stickiness" -> (() =>
          graft.ops.EventOps.stickiness(events, windowDays = 28)),
        // weighted quantiles: corpus grows K× but the distinct-value
        // domain is fixed — the collapse absorbs the growth map-side
        "x198_wquantile" -> (() => graft.ops.Stats.weightedQuantile(
          docs, Seq("source"), F.col("n_chars"),
          graft.ops.TextOps.tokenCount(F.col("text")),
          qs = Seq(0.25, 0.5, 0.9))),
        // conformal: residual domain bounded (9-dp values over a fixed
        // predictor), both halves grow K× — the rank scan stays flat
        "x200_conformal" -> (() => graft.ops.Stats.conformalInterval(
          docs, F.col("doc_id"),
          graft.ops.TextOps.tokenCount(F.col("text")),
          F.col("n_chars") / 6.0, calibRate = 0.5, q = 0.9)),
        // Jonckheere under value-domain GROWTH: replica prices shift by
        // +0.001·i so distinct values multiply ×K (the adversarial case
        // for the "value-domain-bounded" window claim) while groups stay
        // 5 — grid rows grow ×K, per-group suffix windows carry ×K rows;
        // wall must stay ~linear
        "x252_jonckheere" -> (() => {
          val o0 = Registrar.table(spark, sfDir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
          val o = (0 until k).map(i => o0.select(
              (F.col("o_orderkey") + F.lit(i * KeyStride)).as("o_orderkey"),
              F.col("o_orderpriority"),
              (F.col("o_totalprice") + F.lit(i * 0.001)).as("o_totalprice")))
            .reduce(_ union _)
          graft.ops.Stats.jonckheereTerpstra(o,
            F.col("o_orderpriority"), F.col("o_totalprice"))
        }),
        // k-sample AD under value-domain GROWTH (the x252 adversarial
        // shape): distinct values multiply ×K at fixed 5 groups, so the
        // k×L dense grid and the per-group integer prefix windows carry
        // ×K rows; wall must stay ~linear (the documented scale knob for
        // a heavy corpus is a coarser `scale` quantization)
        "x272_ad_ksample" -> (() => {
          val o0 = Registrar.table(spark, sfDir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
          // +0.01·i = one CENT per replica: survives the op's ×100
          // quantization, so the distinct-value domain truly grows ×K
          val o = (0 until k).map(i => o0.select(
              (F.col("o_orderkey") + F.lit(i * KeyStride)).as("o_orderkey"),
              F.col("o_orderpriority"),
              (F.col("o_totalprice") + F.lit(i * 0.01)).as("o_totalprice")))
            .reduce(_ union _)
          graft.ops.Stats.adKSample(o,
            F.col("o_orderpriority"), F.col("o_totalprice"))
        }),
        // k-core on K DISJOINT copies of the co-purchase graph (orderkey
        // AND partkey re-keyed): nodes/edges/peel work all ×K — the x104
        // disjoint-copies shape; wall must stay ~linear through the
        // distinct + 3 checkpointed peel rounds
        "x255_kcore" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_partkey")
          val e = li.as("x").join(li.as("y"),
            F.col("x.l_orderkey") === F.col("y.l_orderkey") &&
              F.col("x.l_partkey") < F.col("y.l_partkey"))
            .select(F.col("x.l_partkey").as("src"),
              F.col("y.l_partkey").as("dst"))
          graft.ops.Graph.kCore(e, "src", "dst", k = 80, rounds = 3)
        }),
        // JW blocked pairs under the composite (nation, name[1..15]) key:
        // replicas mint NEW name digits (replicateCust), so block COUNT
        // grows ∝K while block size stays ~40 — per-block quadratic work
        // is constant and total wall must stay ~linear in K. (The r11
        // nation-only key would instead hit the maxBucket abort here.)
        "x228_jw_pairs" -> (() => {
          val cust = replicateCust(
            Registrar.table(spark, sfDir, "customer"), k)
          graft.ops.Dedup.jaroWinklerPairs(cust, "c_custkey",
            F.col("c_name"), F.concat_ws("|", F.col("c_nationkey"),
              F.substring(F.col("c_name"), 1, 15)), minSim = 0.985)
        }),
        // HITS on K DISJOINT copies of the customer-part bipartite graph
        // (custkey AND partkey re-keyed): nodes/edges ×K, per-half-round
        // work one keyed join + rollup — wall must stay ~linear through
        // the 4 checkpointed half-rounds
        "x318_hits" -> (() => {
          val o0 = Registrar.table(spark, sfDir, "orders")
            .select("o_orderkey", "o_custkey")
          val li0 = Registrar.table(spark, sfDir, "lineitem")
            .select("l_orderkey", "l_partkey")
          val e0 = o0.join(li0,
              F.col("o_orderkey") === F.col("l_orderkey"))
            .select(F.col("o_custkey").as("u"), F.col("l_partkey").as("p"))
          val e = replicateKeys(e0, k, "u", "p")
          graft.ops.Graph.hits(e, "u", "p", rounds = 2, topK = 20)
        }),
        // link prediction on K DISJOINT copies of the supplier
        // co-occurrence graph: wedges, candidate pairs and the degree
        // dims all ×K — wall must stay ~linear (the x104/x255 shape)
        "x330_linkpred" -> (() => {
          val li = replicateKeys(Registrar.table(spark, sfDir, "lineitem"),
            k, "l_orderkey", "l_suppkey")
          graft.ops.Graph.linkPrediction(
            graft.ops.Graph.cooccurrenceEdges(li, "l_orderkey",
              "l_suppkey", minCount = 6), "src", "dst", topN = 20)
        }),
        // label propagation on K DISJOINT copies of the co-purchase
        // bipartite graph (the x318 replication shape): nodes/edges and
        // the per-round vote census all ×K — the r18 argmax experiment's
        // decision ladder (VERDICT r18 #5)
        "x437_label_prop" -> (() => {
          val o0 = Registrar.table(spark, sfDir, "orders")
            .select("o_orderkey", "o_custkey")
          val li0 = Registrar.table(spark, sfDir, "lineitem")
            .select("l_orderkey", "l_suppkey")
          val e0 = o0.join(li0,
              F.col("o_orderkey") === F.col("l_orderkey"))
            .select(F.col("o_custkey").as("src"),
              (F.col("l_suppkey") + 100000L).as("dst"))
            .distinct()
          val e = replicateKeys(e0, k, "src", "dst")
          graft.ops.Graph.labelPropagation(e, "src", "dst", rounds = 4)
        }),
        // JS matrix over K× the corpus with the SAME source set: the
        // vocab census absorbs the growth map-side (counts ×K, vocab
        // and the pair grid constant) — wall must stay near-FLAT
        "x350_js_matrix" -> (() =>
          graft.ops.TextOps.jsDivergenceMatrix(docs, "source", "text")),
        // LOF under the production sampling regime (rate ∝ 1/K, the
        // x212 hubness rule): the pair scan sees a CONSTANT sample while
        // the corpus grows K× — wall must stay ~flat
        "x354_lof" -> (() =>
          graft.ops.Similarity.lofOutliers(
            emb.filter(F.col("vec_id") % F.lit(5L * k) < 2),
            "vec_id", "embedding", k = 5, topN = 20)),
        // linear CKA: corpus grows K× (distinct perturbed vectors), d
        // fixed — the three O(n·d²) explode-rollups grow linearly and
        // everything after is d²-bounded broadcast tables; ~linear
        "x450_cka" -> (() =>
          graft.ops.Similarity.linearCka(emb, F.col("embedding"),
            F.transform(F.col("embedding"), x => x * F.lit(0.5)))),
        // RANSAC: corpus grows K× but the pivot pick is a fixed top-16
        // TakeOrdered and the model table is ≤8 rows — the inlier pass
        // is one K×-growing scan; ~linear
        "x451_ransac" -> (() =>
          graft.ops.Stats.ransacLine(docs, F.col("n_chars"),
            graft.ops.TextOps.tokenCount(F.col("text")),
            nCandidates = 8, tol = 50.0)),
        // Sinkhorn: the corpus collapses ONCE to two 16-cell histograms
        // (counts ×K, cells constant); all 12 scaling rounds run on the
        // checkpointed 1-partition bounded tables — wall must stay
        // near-FLAT beyond the single growing scan
        "x459_sinkhorn" -> (() =>
          graft.ops.Stats.sinkhorn(docs, "n_chars",
            F.col("lang") === "en", F.col("lang") === "zh",
            lo = 0L, hi = 800L, grid = 50L, reg = 2.0, iters = 12)),
        // bottom-k containment: consecutive pairs within each replica
        // (stride re-keying keeps a%7 classes aligned) — pair count,
        // raw-shingle md5 work and the per-pair array sort all ×K;
        // wall must stay ~linear
        "x463_bottomk" -> (() => {
          val ids = docs.select("doc_id")
          val pairs = ids.select(F.col("doc_id").as("a"),
              (F.col("doc_id") + 1).as("b"))
            .filter(F.col("a") % 7 === 0)
            .join(ids.select(F.col("doc_id").as("b")), Seq("b"),
              "leftsemi")
          Dedup.bottomKContainment(pairs, docs, "doc_id", "text", k = 32)
        }),
        // trigram LM: corpus (and trigram rows) ×K, vocab FLAT (replica
        // text verbatim) — the five count collapses partial-aggregate
        // map-side and the join keys stay vocab-bounded; ~linear
        "x469_trigram" -> (() =>
          graft.ops.TextOps.trigramInterp(docs, "doc_id", "source",
            "text")),
        // stationary distribution: events ×K collapse map-side to the
        // FIXED k²-cell transition table; the 10 power rounds run on
        // ≤k-row checkpointed state — wall ~linear in the one scan,
        // rounds flat
        "x472_stationary" -> (() =>
          graft.ops.EventOps.stationaryDistribution(events, iters = 10)),
        // LSH planner: md5 random DISJOINT pairing (n/2 pairs, never a
        // pair join) over K× signatures; the s-curve integration is a
        // 5-config explode + rollup — ~linear
        "x473_lsh_planner" -> (() => {
          val t = F.substring(
            F.regexp_replace(F.lower(F.col("text")), "\\s+", " "), 1, 500)
          val shingles = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - 4, F.lit(1))),
            i => t.substr(i, F.lit(5))))
          val hs = F.transform(shingles,
            x => F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long"))
          val abs = (0 until 16).map(j => (2L * j + 1, 7919L * j + 13))
          val sigCols = abs.zipWithIndex.map { case ((a, b), j) =>
            F.array_min(F.transform(F.col("hs"),
              h => (h * a + b) % 2147483647L)).as(s"s$j") }
          val sigs = docs.filter(F.col("doc_id") % 10 === 0)
            .select(F.col("doc_id").cast("string").as("__id"),
              hs.as("hs"))
            .select(F.col("__id") +: sigCols: _*)
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(F.col("__h"), F.col("__id"))
          val ordered = sigs
            .withColumn("__h", F.md5(F.concat(F.lit("lshp:"),
              F.col("__id"))))
            .withColumn("__rn", F.row_number().over(w))
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
        }),
        // Fightin' Words: (group, token) cells FLAT (verbatim replicas,
        // fixed vocab × groups), the token explode grows ×K and
        // collapses map-side — wall ~linear with flat shuffle volume
        "x476_fightin" -> (() =>
          graft.ops.TextOps.fightinWords(docs, "lang", "text",
            alpha0 = 10.0, perGroup = 2)),
        // weighted MinHash (production xxhash64 kind): signature stage
        // is one token-census projection + id shuffle (linear);
        // verbatim replicas are TRUE weighted near-dups, so the
        // candidate/output volume carries the planted K² duplicate
        // mass — the x04/x99 output-bound shape — while maxBucket
        // caps any single bucket
        "x480_weighted_minhash" -> (() =>
          Dedup.weightedMinhashPairs(docs, "doc_id", "text")),
        // disorder census: one user-keyed window pass + per-type
        // collapse — corpus-linear, no pair joins
        "x482_disorder" -> (() => {
          val arr = F.when(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
              .isin("0", "1", "2"), F.col("event_id") * 10 + 75)
            .otherwise(F.col("event_id") * 10)
          graft.ops.EventOps.disorderCensus(
            events.withColumn("arrival_id", arr),
            tieCol = "arrival_id")
        }),
        // surprisal spans: token explode feeding the vocab census
        // (map-side combined; vocab FLAT under verbatim replicas) and
        // one doc-keyed rolling-window pass — corpus-linear
        "x483_surprisal" -> (() =>
          graft.ops.TextOps.surprisalSpans(docs, "doc_id", "text")),
        // greedy coverage: linear census, driver-local greedy on the
        // bounded sources×64 presence table — flat rounds
        "x484_greedy_cov" -> (() =>
          graft.ops.Sampling.greedyCoverage(docs, "source", "text")),
      )
      val allQueries = queries ++ extra
      val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val results = allQueries.filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn().write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[stress] $name: ${e.getMessage}") }
        name -> (System.nanoTime() - t0) / 1e9
      }
      docs.unpersist(); emb.unpersist(); events.unpersist()
      val qs = results.map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
      println(s"""{"metric":"stress","scale":$k,"nDocs":$nDocs,"nEmb":$nEmb,"queries":$qs,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
