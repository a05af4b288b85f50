package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AsOf, Components, Dedup, Sampling, Similarity, TextOps}

/** Ground-truth unit tests for the training-data pipeline operators on tiny
  * hand-checkable inputs (the Verify/oracle path covers them at sf scale;
  * these pin the semantics).
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  /** Full cause-chain message of a failed action: the hot-bucket guards
    * raise INSIDE the job (single-scan, advisor r11), so the loud text
    * arrives wrapped in SparkException layers. */
  private def loudMsg(body: => Any): String = {
    val t = intercept[Throwable](body)
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
  }

  /** Counts, over `body`, the stages that scanned a file (a FileScanRDD
    * stage that read input records) and records every job's call site. */
  private final class ScanLog extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobStart,
      SparkListenerStageCompleted}
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      if (s.taskMetrics.inputMetrics.recordsRead > 0 &&
          s.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      sites.add(e.stageInfos.maxBy(_.stageId).name)
  }

  private def listened[T](body: => T): (T, ScanLog) = {
    val log = new ScanLog
    spark.sparkContext.addSparkListener(log)
    try {
      val out = body
      org.apache.spark.GraftListeners.drain(spark.sparkContext)
      (out, log)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  /** `df` written to a fresh parquet directory and read back. */
  private def parquetFrame(df: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ops").resolve("t")
    df.write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup of 1
    (4L, "completely different content about spark engines and parquet files"),
    (5L, "THE  Quick   Brown Fox Jumps Over The Lazy Dog") // dup after normalization
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per normalized content") {
    val kept = Dedup.exact(docs, "doc_id", "text").select("doc_id")
      .as[Long].collect().sorted.toSeq
    // 1,2,5 normalize identically -> keep 1; 3 and 4 unique
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("minhash signatures are deterministic and equal for identical docs") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleSize = 5, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))       // identical text -> identical signature
    assert(sigs(1L) == sigs(5L))       // case/whitespace normalize away
    assert(sigs(1L) != sigs(4L))       // different text -> different signature
    assert(sigs(1L).length == 64)
  }

  test("minhashPairs finds the dup cluster, not the unrelated doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L)), "near-dup (one word changed) should pass 0.5")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  private val trickyDocs = Seq(
    (10L, ""), (11L, "   "), (12L, "a"),
    (13L, "Grüße aus Straße 34 — naïve café"),
    (14L, "中文文本 去重 测试 中文文本"),
    (15L, "tabs\tand\nnewlines  and   runs of space"),
    (16L, "ALL CAPS AND all caps and MiXeD")
  ).toDF("doc_id", "text")

  test("native MinHashSig expression is bit-identical to the relational plan") {
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val all = docs.union(trickyDocs)
    val native = sigs(Dedup.minhashSignatures(all, "doc_id", "text", 5, 64))
    val relational = sigs(Dedup.minhashSignaturesRelational(all, "doc_id", "text", 5, 64))
    assert(native == relational)
  }

  test("native SimHash64 expression is bit-identical to the relational plan") {
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = docs.union(trickyDocs)
    val native = sigs(Dedup.simhashSignatures(all, "doc_id", "text"))
    val relational = sigs(Dedup.simhashSignaturesRelational(all, "doc_id", "text"))
    assert(native == relational)
  }

  test("simhash: identical docs hamming 0; near-dups close; signatures match the per-row variant") {
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(3L)) <= 16, "one-token change stays close in hamming")
    assert(ham(sig(1L), sig(4L)) > 16, "unrelated docs far apart")
    // relational form == per-row expression form
    val perRow = docs.select(F.col("doc_id"), Dedup.simhash("text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig == perRow)
  }

  test("simhashPairs returns exact dups at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("winnowing: identical docs share all fingerprints, unrelated share none") {
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 3L)), "long shared runs guarantee shared hashes")
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
    // identical docs share exactly the same fingerprint set
    val fpCount = spark.sql("SELECT size(winnow(text, 10, 6)) FROM VALUES " +
      "('the quick brown fox jumps over the lazy dog') t(text)")
      .head().getInt(0)
    assert(pairs((1L, 2L)) == fpCount.toLong)
  }

  test("ngram jaccard: identical docs 1.0, unrelated near 0") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("a", "b")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 4L)) < 0.2)
  }

  private val vecs = Seq(
    (0L, Array(1.0, 0.0, 0.0)),
    (1L, Array(0.9, 0.1, 0.0)),  // close to 0
    (2L, Array(0.0, 1.0, 0.0)),  // orthogonal to 0
    (3L, Array(-1.0, 0.0, 0.0))  // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine matches hand computation") {
    val c = vecs.filter($"vec_id" === 1L)
      .select(Similarity.cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))))
      .as[Double].head()
    val exp = 0.9 / math.sqrt(0.81 + 0.01)
    assert(math.abs(c - exp) < 1e-12)
  }

  test("bruteKnn ranks by cosine descending, excludes self") {
    val out = Similarity.bruteKnn(vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 3)
      .select("neighbor_id", "rk").as[(Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("ivfKnn with nprobe == nlist is exhaustive and equals bruteKnn") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteKnn(emb, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", k = 3,
        nlist = 4, nprobe = 4)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("multimodal: resize scales metadata and bytes; frame sampling expands video rows") {
    implicit val s = spark
    val media = graft.ops.Multimodal.synthesizeMedia(docs.withColumnRenamed("doc_id", "doc_id"))
    val resized = graft.ops.Multimodal.resize(media, 640, 480).collect()
    assert(resized.forall(r => r.width <= 640 && r.height <= 480 && r.media.nonEmpty))
    // aspect ratio preserved within integer truncation
    val frames = graft.ops.Multimodal.sampleFrames(media, everyMs = 1, maxFrames = 4).collect()
    val videoIds = media.filter(F.col("kind") === "video").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(frames.map(_.doc_id).toSet == videoIds, "one row group per video doc only")
    assert(frames.groupBy(_.doc_id).values.forall(g =>
      g.map(_.frame_idx).sorted.toSeq == g.indices.toSeq))
  }

  test("zero-norm embeddings never outrank real neighbors (NaN guard)") {
    val withZero = vecs.union(Seq((9L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "embedding"))
    val out = Similarity.bruteKnn(withZero, withZero.filter($"vec_id" === 0L),
        "vec_id", "embedding", k = 4)
      .select("neighbor_id", "rk").as[(Long, Int)].collect().toSeq
    assert(out.take(3) == Seq((1L, 1), (2L, 2), (3L, 3)),
      s"real neighbors first, got $out")
    assert(out.last._1 == 9L, "zero vector must rank last, not first")
  }

  // --- ground-truth recall/exactness gates (VERDICT r1 #3/#4): the sf0.01
  // tables are small enough to brute-force the exact answer, so the LSH
  // family is held to measured recall floors, not just "returns rows".
  // Everything is seeded/deterministic, so these are exact pins, not flaky
  // statistical tests; numbers are recorded in BASELINE.md.

  private lazy val sfDocs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
  private lazy val sfEmb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  /** Exact n-gram-Jaccard pairs ≥ threshold via brute-force cross join. */
  private def jaccardTruth(threshold: Double): Set[(Long, Long)] = {
    val sh = Dedup.shingleSets(sfDocs, "doc_id", "text", 5)
    val l = sh.select($"doc_id".as("a"), $"__sh".as("sa"))
    val r = sh.select($"doc_id".as("b"), $"__sh".as("sb"))
    l.crossJoin(r).filter($"a" < $"b")
      .select($"a", $"b",
        (F.size(F.array_intersect($"sa", $"sb")).cast("double") /
          F.size(F.array_union($"sa", $"sb"))).as("j"))
      .filter($"j" >= threshold)
      .select("a", "b").as[(Long, Long)].collect().toSet
  }

  test("minhashPairs recall vs exact Jaccard ground truth (sf0.01)") {
    val truth = jaccardTruth(0.5)
    assert(truth.size == 25, s"calibrated truth set changed: ${truth.size}")
    val got = Dedup.minhashPairs(sfDocs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"minhashPairs recall=$recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.95, f"recall $recall%.3f below floor 0.95")
  }

  test("winnowPairs recall vs exact Jaccard ground truth (sf0.01)") {
    val truth = jaccardTruth(0.5)
    val got = Dedup.winnowPairs(sfDocs, "doc_id", "text", minShared = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"winnowPairs recall=$recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.95, f"recall $recall%.3f below floor 0.95")
  }

  test("simhashPairs is EXACT vs brute-force Hamming filter (4-chunk and 8-chunk)") {
    val sigs = Dedup.simhashSignatures(sfDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def brute(maxHam: Int): Set[(Long, Long)] = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= maxHam
    } yield (a, b)).toSet
    for (maxHam <- Seq(3, 6)) {
      val got = Dedup.simhashPairs(sfDocs, "doc_id", "text", maxHamming = maxHam)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == brute(maxHam), s"simhashPairs(maxHamming=$maxHam) != brute force")
    }
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairs(sfDocs, "doc_id", "text", maxHamming = 8)
    }
  }

  /** Exact cosine pairs ≥ threshold via brute-force self-join. */
  private def cosineTruth(threshold: Double): Set[(Long, Long)] = {
    val e = sfEmb.select($"vec_id", $"embedding")
    val l = e.select($"vec_id".as("a"), $"embedding".as("va"))
    val r = e.select($"vec_id".as("b"), $"embedding".as("vb"))
    l.crossJoin(r).filter($"a" < $"b")
      .select($"a", $"b", Similarity.cosine(F.col("va"), F.col("vb")).as("cos"))
      .filter($"cos" >= threshold)
      .select("a", "b").as[(Long, Long)].collect().toSet
  }

  test("nearDupPairs multi-table recall vs exact cosine ground truth (sf0.01)") {
    val truth = cosineTruth(0.4)
    assert(truth.size == 59, s"calibrated truth set changed: ${truth.size}")
    val got = Similarity.nearDupPairs(sfEmb, "vec_id", "embedding",
        threshold = 0.4, nPlanes = 4, nTables = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), "cosine filter is exact, precision must be 1.0")
    val recall = (got & truth).size.toDouble / truth.size
    info(f"nearDupPairs recall=$recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.85, f"recall $recall%.3f below floor 0.85")
  }

  test("lshKnn recall vs bruteKnn ground truth (sf0.01)") {
    val queries = sfEmb.filter($"vec_id" < 50)
    val brute = Similarity.bruteKnn(
        sfEmb.withColumn("embedding", F.col("embedding").cast("array<double>")),
        queries.withColumn("embedding", F.col("embedding").cast("array<double>")),
        "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnn(sfEmb, queries, "vec_id", "embedding", k = 3,
        nPlanes = 4, nTables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (lsh & brute).size.toDouble / brute.size
    info(f"lshKnn recall=$recall%.3f (${(lsh & brute).size}/${brute.size})")
    assert(recall >= 0.80, f"recall $recall%.3f below floor 0.80")
    // the round-1 config: a single 6-plane table — kept as a measured
    // counter-example that recall collapses without OR-amplification
    val single = Similarity.lshKnn(sfEmb, queries, "vec_id", "embedding", k = 3,
        nPlanes = 6, nTables = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    info(f"single-table recall=${(single & brute).size.toDouble / brute.size}%.3f")
  }

  test("ivfKnn recall at the SHIPPED x17 config (nlist=8, nprobe=4) vs bruteKnn") {
    // VERDICT r2 #2: the exhaustive nprobe==nlist pin above proves the
    // mechanism; this holds the config x17 actually ships to a measured
    // floor like lshKnn/nearDupPairs. Seeded k-means → deterministic.
    // Measured sweep at nlist=8: nprobe=2→0.533, 3→0.667, 4→0.850, 5→0.900;
    // round 2 shipped nprobe=2 unmeasured — too coarse a quantizer for
    // k=3 neighbors spread over 8 cells of ~60 rows, so x17 now ships
    // nprobe=4 (recall 0.85 while scanning half the cells).
    val queries = sfEmb.filter($"vec_id" < 20)
    val brute = Similarity.bruteKnn(
        sfEmb.withColumn("embedding", F.col("embedding").cast("array<double>")),
        queries.withColumn("embedding", F.col("embedding").cast("array<double>")),
        "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(sfEmb, queries, "vec_id", "embedding", k = 3,
        nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    info(f"ivfKnn(nlist=8,nprobe=4) recall=$recall%.3f (${(ivf & brute).size}/${brute.size})")
    assert(recall >= 0.80, f"recall $recall%.3f below floor 0.80")
  }

  test("nearDupPairs bounds pathological single-bucket corpora (skew guard)") {
    val one = Array.fill(8)(1.0)
    val ident = (0L until 60L).map(i => (i, one)).toDF("vec_id", "embedding")
    // every table puts all 60 rows in one bucket; the cap drops them all —
    // bounded work, zero pairs, no quadratic blow-up
    val capped = Similarity.nearDupPairs(ident, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 2, dim = 8, nTables = 4, maxBucket = 10)
    assert(capped.count() == 0L)
    // with the cap above the bucket size the full clique comes back
    val full = Similarity.nearDupPairs(ident, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 2, dim = 8, nTables = 4, maxBucket = 100)
    assert(full.count() == 60L * 59 / 2)
  }

  test("language id picks the dominant stopword language") {
    val df = Seq(
      (1L, "the cat is in the house and the dog is out"),
      (2L, "der Hund ist nicht in das Haus und die Katze"),
      (3L, "le chat est dans la maison et les chiens"),
      (4L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.langId(F.col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr" && got(4L) == "und")
  }

  test("connectedComponents: chain, triangle, reversed/duplicate edges, self-loop") {
    // components: {1,2,3,4} (a path — needs >1 propagation round),
    // {10,11,12} (triangle with a duplicate + reversed edge), self-loop 20
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (11L, 10L),
      (20L, 20L)
    ).toDF("a", "b")
    val got = Components.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // 20's only edge is a self-loop -> no real edge -> not a clustered vertex
    assert(!got.contains(20L))
  }

  test("connectedComponents fails loudly instead of emitting half-merged labels") {
    val path = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    assertThrows[IllegalStateException] {
      Components.connectedComponents(path, maxIter = 1).collect()
    }
  }

  test("star-contraction ≡ label propagation on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
      .toDF("a", "b")
    val star = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val prop = Components.labelPropagation(edges)
      .as[(Long, Long)].collect().toMap
    assert(star == prop)
  }

  test("star-contraction converges in O(log n) rounds where propagation needs O(diameter)") {
    val path64 = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    // 63-hop diameter: propagation cannot finish in 10 rounds...
    assertThrows[IllegalStateException] {
      Components.labelPropagation(path64, maxIter = 10).collect()
    }
    // ...star contraction halves path length per round and does
    val got = Components.connectedComponents(path64, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("dedupByPairs keeps the min-id representative and all unpaired docs") {
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("a", "b") // {1,2,5}: keep 1
    val kept = Components.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("withRepetition: hand-computed duplicate line/bigram fractions") {
    val df = Seq(
      (1L, "a b\na b\nc d"),     // lines: 3, distinct 2 -> 1/3; toks a,b,a,b,c,d:
                                 // bigrams "a b","b a","a b","b c","c d" -> 5, distinct 4 -> 1/5
      (2L, "x\n\n  \nx"),        // blank lines ignored: 2 lines, 1 distinct -> 1/2
      (3L, "solo")               // 1 token -> bigram fraction 0
    ).toDF("doc_id", "text")
    val got = TextOps.withRepetition(df, "text")
      .select("doc_id", "dup_line_fraction", "dup_bigram_fraction")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(math.abs(got(1L)._1 - 1.0 / 3) < 1e-12 && math.abs(got(1L)._2 - 0.2) < 1e-12)
    assert(got(2L)._1 == 0.5)
    assert(got(3L)._2 == 0.0)
  }

  test("contamination counts distinct shared shingles vs the benchmark slice") {
    val corpus = Seq(
      (1L, "abcdefghijk"),   // shares its whole shingle set with bench doc 100
      (2L, "zzzzzzzzzzz"),   // one distinct 4-shingle "zzzz", not in bench
      (3L, "abcd only")      // shares the single shingle "abcd"
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "abcdefghijk")).toDF("doc_id", "text")
    val got = Dedup.contamination(corpus, bench, "doc_id", "text",
        shingleSize = 4, minShared = 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (8L, true))  // 11 chars -> 8 distinct 4-shingles, all shared
    assert(got(2L) == (0L, false))
    assert(got(3L) == (1L, false))
  }

  test("redact scrubs emails, URLs, and long digit runs — in that order") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.co then visit https://a.example.com/p?q=1 ok"),
      (2L, "call 5551234567 now; short 123456 stays; id 99999999"),
      (3L, "email inside url https://example.com/a@b.example.org trailing")
    ).toDF("doc_id", "text")
    val got = df.select(F.col("doc_id"), graft.ops.TextOps.redact(F.col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail <EMAIL> then visit <URL> ok")
    assert(got(2L) == "call <NUM> now; short 123456 stays; id <NUM>")
    // email matched first even inside a URL-looking string
    assert(got(3L).contains("<EMAIL>") || got(3L).contains("<URL>"))
    assert(!got(3L).contains("a@b.example.org"))
  }

  test("curate composes gate→sample→dedup→cap; sample/dedup order commutes") {
    val rows = (Seq(
      (1L, "srcA", "tiny"),                           // fails minTokens=3
      (2L, "srcA", "dup dup line\ndup dup line\ndup dup line\ndup dup line")  // dup_line 3/4 > 0.5
    ) ++ Seq.tabulate(200)(i =>
      (100L + i, if (i % 2 == 0) "srcA" else "srcB",
        s"unique document body number $i with plenty of words"))
      ++ Seq.tabulate(50)(i =>     // exact duplicates of doc 100 under higher ids
        (1000L + i, "srcB", "unique document body number 0 with plenty of words"))
    ).toDF("doc_id", "source", "text")
    val out = graft.ops.Curation.curate(rows, "doc_id", "text", "source",
        minTokens = 3, maxDupLineFrac = 0.5, sampleRate = 1.0, capPerSource = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(1L), "minTokens gate")
    assert(!out.contains(2L), "dup-line gate")
    assert(!out.exists(_ >= 1000L), "exact dups lose to doc 100")
    assert(out.size <= 40, s"cap 20 x 2 sources, got ${out.size}")
    // sampling commutes with exact dedup for BYTE-IDENTICAL duplicates
    // (same bytes -> same hash draw); normalized-only dups draw per variant
    val a = graft.ops.Curation.curate(rows, "doc_id", "text", "source", 3, 0.5, 0.4, 100)
      .select("doc_id").as[Long].collect().toSet
    val deduped = Dedup.exact(rows.filter(F.col("doc_id") =!= 1L && F.col("doc_id") =!= 2L),
      "doc_id", "text").drop("fp")
    val b = Sampling.hashSample(deduped, F.col("text"), 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("profile reports rows/nulls/distinct per column in one pass") {
    val df = Seq(
      (1L, Some("a"), 10), (2L, Some("a"), 20), (3L, None, 20), (4L, Some("b"), 30)
    ).toDF("id", "tag", "score")
    val got = graft.ops.Curation.profile(df)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("id") == (4L, 0L, 4L))
    assert(got("tag") == (4L, 1L, 2L))     // count_distinct ignores nulls
    assert(got("score") == (4L, 0L, 3L))
  }

  test("topTfidfTerms: hand-computed tf/df/score; rare term outranks common at equal tf") {
    val df = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "common common cherry")
    ).toDF("doc_id", "text")
    val got = TextOps.topTfidfTerms(df, "doc_id", "text", k = 2)
      .select("doc_id", "rk", "term", "tf", "df", "tfidf")
      .as[(Long, Int, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // doc1: apple tf=2 -> rank 1; banana/common both tf=1, banana df=2 < common df=3
    assert(got((1L, 1))._1 == "apple" && got((1L, 1))._2 == 2L && got((1L, 1))._3 == 1L)
    assert(got((1L, 2))._1 == "banana")
    // doc3: common tf=2 beats cherry tf=1 despite df=3 vs 2 (tf ranks first)
    assert(got((3L, 1))._1 == "common")
    assert(got((3L, 2))._1 == "cherry")
    // score value: apple tfidf = 2 * ln(3/1)
    assert(math.abs(got((1L, 1))._4 - math.rint(2 * math.log(3.0) * 1e6) / 1e6) < 1e-9)
  }

  test("chunk windows overlap correctly; short and empty docs covered") {
    val df = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.chunk(df, "text", chunkChars = 4, overlapChars = 1)
      .select("doc_id", "chunk_idx", "chunk")
      .as[(Long, Int, String)].collect().toSet
    // step 3, start positions capped at len - overlap = 9: 1,4,7 — position
    // 10 would yield "j", a pure suffix of "ghij" (zero new content)
    assert(got == Set(
      (1L, 0, "abcd"), (1L, 1, "defg"), (1L, 2, "ghij"),
      (2L, 0, "abc"),
      (3L, 0, "")))
    // consecutive chunks share exactly `overlap` chars
    assert("abcd".takeRight(1) == "defg".take(1))
  }

  test("packSequences: hand-computed bins; oversize doc gets its own bin; per-group") {
    val rows = Seq(
      (1L, "g1", 300), (2L, "g1", 300),   // 0+300 -> bins 0, 0 (300 < 512 before doc2)
      (3L, "g1", 900),                    // before=600 -> bin 1 (alone here only
                                          // because 600 already crossed 512)
      (4L, "g1", 10),                     // before=1500 -> bin 2
      (5L, "g2", 600)                     // independent group -> bin 0
    ).toDF("doc_id", "grp", "n_tok")
    val got = graft.ops.Curation.packSequences(rows, "grp", "doc_id", "n_tok", 512)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 0L))
    // every bin's PRE-boundary fill is < maxTokens + its last doc (nothing split)
    val g1bins = got.filter(_._1 <= 4).values.toSet
    assert(g1bins == Set(0L, 1L, 2L))
  }

  test("filterByGroupQuantile keeps each group's upper tail by its OWN threshold") {
    val rows = (Seq.tabulate(10)(i => (i.toLong, "clean", 1000 + i)) ++
      Seq.tabulate(10)(i => (100L + i, "dirty", 10 + i))).toDF("id", "grp", "score")
    val kept = graft.ops.Curation.filterByGroupQuantile(rows, "grp", "score", 0.5)
      .select("id").as[Long].collect().toSet
    // median of 1000..1009 is 1004.5 -> keep 1005..1009 (ids 5..9);
    // median of 10..19 is 14.5 -> keep 15..19 (ids 105..109)
    assert(kept == Set(5L, 6L, 7L, 8L, 9L, 105L, 106L, 107L, 108L, 109L),
      s"got $kept")
    // an absolute threshold at the global median would have dropped ALL of
    // 'dirty' — the per-group gate keeps its upper half
  }

  test("capPerGroup keeps exactly the cap, deterministically, WindowGroupLimit in plan") {
    val rows = Seq.tabulate(300)(i => (i.toLong, s"grp${i % 3}", s"text body $i"))
      .toDF("id", "grp", "text")
    val capped = Sampling.capPerGroup(rows, F.col("grp"), F.col("text"), maxPerGroup = 7)
    val got = capped.select("id").as[Long].collect().toSet
    assert(got.size == 21, s"3 groups x cap 7, got ${got.size}")
    // deterministic + partition-invariant
    val again = Sampling.capPerGroup(rows.repartition(13), F.col("grp"), F.col("text"), 7)
      .select("id").as[Long].collect().toSet
    assert(again == got)
    // under-cap groups pass through whole
    val small = Sampling.capPerGroup(rows.filter(F.col("id") < 9), F.col("grp"), F.col("text"), 7)
    assert(small.count() == 9)
    // the rank filter must compile to WindowGroupLimit (map-side partial
    // top-k before the group shuffle — the 100 TB skew story)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("hashSampleByGroup applies per-group rates; rate 1.0/0.0 are exact") {
    val rows = Seq.tabulate(3000)(i =>
      (i.toLong, s"grp${i % 3}", s"document body number $i")).toDF("id", "grp", "text")
    val kept = Sampling.hashSampleByGroup(rows, F.col("grp"), F.col("text"),
        rates = Map("grp0" -> 1.0, "grp1" -> 0.2), defaultRate = 0.0)
      .select("id", "grp").as[(Long, String)].collect()
    val byGrp = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byGrp("grp0") == 1000, "rate 1.0 keeps every row")
    assert(!byGrp.contains("grp2"), "default rate 0.0 keeps none")
    val g1 = byGrp("grp1")
    assert(g1 > 140 && g1 < 260, s"rate 0.2 of 1000 ~ 200, got $g1")
    // group membership does not change WHICH keys pass at a given rate:
    // the same text kept under grp1@0.2 is kept under hashSample@0.2
    val flat = Sampling.hashSample(rows, F.col("text"), 0.2)
      .select("id").as[Long].collect().toSet
    val g1ids = kept.filter(_._2 == "grp1").map(_._1).toSet
    assert(g1ids == flat.filter(_ % 3 == 1))
  }

  test("centroids and centroidScores: hand-checked means; identical vectors score 1") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(3.0f, 0.0f)),   // centroid (2,0)
      (3L, 1, Array(0.0f, 2.0f)), (4L, 1, Array(0.0f, 2.0f)),   // centroid (0,2)
      (5L, 2, Array(1.0f, 1.0f))                                // singleton
    ).toDF("vec_id", "label", "embedding")
    val cents = Similarity.centroids(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> (r.getSeq[Double](1).toVector, r.getLong(2))).toMap
    assert(cents(0) == (Vector(2.0, 0.0), 2L))
    assert(cents(1) == (Vector(0.0, 2.0), 2L))
    assert(cents(2) == (Vector(1.0, 1.0), 1L))
    val scores = Similarity.centroidScores(emb, "vec_id", "label", "embedding")
      .select("vec_id", "cos_centroid").as[(Long, Double)].collect().toMap
    // all label-0/1 members are colinear with their centroid -> cosine 1
    Seq(1L, 2L, 3L, 4L, 5L).foreach(id =>
      assert(math.abs(scores(id) - 1.0) < 1e-12, s"vec $id: ${scores(id)}"))
    // an actual outlier scores below its peers
    val withOutlier = emb.union(Seq((6L, 0, Array(-1.0f, 0.5f))).toDF("vec_id", "label", "embedding"))
    val s6 = Similarity.centroidScores(withOutlier, "vec_id", "label", "embedding")
      .filter(F.col("vec_id") === 6L).select("cos_centroid").as[Double].head()
    assert(s6 < 0.0, s"opposite-direction vector must score negative, got $s6")
  }

  test("null keys sample as empty string; identical-text caps need the tieBreak") {
    val withNulls = Seq((1L, "some document"), (2L, null), (3L, null))
      .toDF("id", "text")
    // md5("") prefix d41d ≈ 0.829 of the space: nulls (≡ "") are dropped at
    // 0.5 and kept at 0.9 — decided, not silently null-filtered
    val at05 = Sampling.hashSample(withNulls, F.col("text"), 0.5)
      .select("id").as[Long].collect().toSet
    val at09 = Sampling.hashSample(withNulls, F.col("text"), 0.9)
      .select("id").as[Long].collect().toSet
    assert(!at05.contains(2L) && !at05.contains(3L))
    assert(at09.contains(2L) && at09.contains(3L))
    // grouped rate 1.0 keeps null-key rows like the flat short-circuit does
    val grouped = Sampling.hashSampleByGroup(
        withNulls.withColumn("g", F.lit("a")), F.col("g"), F.col("text"),
        rates = Map("a" -> 1.0))
    assert(grouped.count() == 3)
    // byte-identical keys tie on (hash, key): the id tieBreak pins survivors
    val dups = Seq.tabulate(6)(i => (i.toLong, "grp", "same text")).toDF("id", "grp", "text")
    val kept = Sampling.capPerGroup(dups, F.col("grp"), F.col("text"), 2,
        tieBreak = Seq(F.col("id")))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L), s"lowest ids must survive, got $kept")
  }

  test("hashSample is deterministic, partition-invariant, and salt-independent") {
    val ids = Seq.tabulate(2000)(i => (i.toLong, s"document number $i body")).toDF("doc_id", "text")
    def sample(df: org.apache.spark.sql.DataFrame, salt: String = "") =
      Sampling.hashSample(df, F.col("text"), 0.1, salt)
        .select("doc_id").as[Long].collect().toSet
    val s1 = sample(ids)
    assert(sample(ids) == s1, "same input -> same subset")
    assert(sample(ids.repartition(17)) == s1, "partitioning must not affect membership")
    // rate lands near 10% (md5 uniformity; 2000 draws)
    assert(s1.size > 140 && s1.size < 260, s"expected ~200, got ${s1.size}")
    // a different salt draws an INDEPENDENT sample, not a shifted copy
    val s2 = sample(ids, salt = "holdout")
    assert(s2 != s1)
    val overlap = (s1 & s2).size.toDouble
    assert(overlap < 0.05 * 2000, s"independent samples should overlap ~1%, got $overlap")
  }

  test("stripBoilerplateLines removes only the hot line, preserves order and blanks") {
    import graft.ops.Curation
    // "footer" appears in 3 docs (> maxDocFreq=2, case/space-insensitively);
    // "rare" in 2 (kept); blank lines are frequent but never stripped
    val in = Seq(
      (1L, "alpha\nFooter \n\nbeta"),
      (2L, "gamma\nfooter\nrare"),
      (3L, "footer\ndelta"),
      (4L, "rare\n\nepsilon"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Curation.stripBoilerplateLines(in, "text", maxDocFreq = 2)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha\n\nbeta", s"got ${out(1L)}")
    assert(out(2L) == "gamma\nrare")
    assert(out(3L) == "delta")
    assert(out(4L) == "rare\n\nepsilon", "below-threshold and blank lines stay")
    assert(out(5L) == "", "empty doc passes through")
    // doc-frequency counts DISTINCT docs: 3 copies inside one doc ≠ hot
    val rep = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    val rout = Curation.stripBoilerplateLines(rep, "text", maxDocFreq = 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rout(1L) == "x\nx\nx", "within-doc repeats don't count toward doc freq")
  }

  test("quantize: exact int8 codes, zero-vector guard, max_err <= scale/2") {
    val in = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(2.0f, -0.3f, 0.7f, -2.0f))
    ).toDF("vec_id", "vec")
    val out = Similarity.quantize(in, "vec")
      .select("vec_id", "scale", "q", "max_err")
      .as[(Long, Double, Array[Int], Double)].collect()
      .map(r => r._1 -> r).toMap
    // vec 1: m=1, scale=1/127; codes floor(x*127+0.5)
    assert(out(1L)._3.toSeq == Seq(127, -127, 64, 0), s"got ${out(1L)._3.toSeq}")
    assert(out(2L)._2 == 0.0 && out(2L)._3.toSeq == Seq(0, 0, 0, 0) && out(2L)._4 == 0.0)
    assert(out(3L)._3.toSeq == Seq(127, -19, 44, -127))
    out.values.foreach { case (id, scale, _, err) =>
      assert(err <= scale / 2 + 1e-12, s"vec $id: err $err > scale/2 ${scale / 2}")
    }
  }

  test("removeDupSpans: owner keeps its text; later docs lose exactly the shared spans") {
    val shared = "the quick brown fox jumps over the lazy dog" // 9 tokens
    val docs = Seq(
      (1L, shared),                              // owner of every shared 5-gram
      (2L, s"intro words here $shared"),         // 12 tokens; 3..11 covered
      (3L, "tiny doc"),                          // < n tokens -> untouched
      (4L, null.asInstanceOf[String]),           // null stays null
      (5L, "")                                   // empty -> "", 0 tokens
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.removeDupSpans(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, shared, 9L, 0L)), s"owner untouched, got ${out(1L)}")
    // d2's grams at positions 3..7 equal d1's 5 grams (df=2, owner=1), so
    // tokens 3..11 are excised; its own unique prefix grams (df=1) keep 0..2
    assert(out(2L) == ((2L, "intro words here", 12L, 9L)), s"got ${out(2L)}")
    assert(out(3L) == ((3L, "tiny doc", 2L, 0L)))
    assert(out(4L) == ((4L, null, 0L, 0L)))
    assert(out(5L) == ((5L, "", 0L, 0L)))
  }

  test("clusterCap: at most cap per semantic cell, repartition-invariant keep set") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // 14 vectors near centroid 0, 4 near centroid 1
    val rows = (1L to 14L).map(i => (i, Array(0.9 + i * 0.001, 0.05))) ++
      (15L to 18L).map(i => (i, Array(0.02, 1.1)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.clusterCap(emb, "vec_id", "embedding", cents, cap = 5)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    val byCell = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byCell(0) == 5, s"mega-cluster capped to 5, got $byCell")
    assert(byCell(1) == 4, "under-cap cell keeps everything")
    assert(out.filter(_._2 == 1).map(_._1) == Set(15L, 16L, 17L, 18L))
    // keep-set is content-hash ranked: identical under physical reshuffling
    val again = graft.ops.Similarity.clusterCap(
        emb.repartition(7), "vec_id", "embedding", cents, cap = 5)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(again == out)
  }

  test("native expressions are registered as SQL functions (the --sql surface)") {
    // a --sql / s-string user gets the same codegen'd kernels as the Scala
    // API; spot-check each family with a value the Scala path reproduces
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS vd,
        |  vec_l2norm(array(3.0d, 4.0d)) AS nrm,
        |  sig_eq_frac(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS ef,
        |  quantize_int8(array(1.0d, -1.0d, 0.5d, 0.0d)).q AS q,
        |  size(shingle_hashes('abcdefgh', 5)) AS nsh,
        |  size(word_ngram_hashes('a b c d e f', 5)) AS ng,
        |  size(word_gram_buckets('a b c')) AS gb
        |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("cs") == 1.0 && r.getAs[Double]("vd") == 11.0)
    assert(r.getAs[Double]("nrm") == 5.0 && r.getAs[Double]("ef") == 0.75)
    assert(r.getAs[scala.collection.Seq[Int]]("q").toSeq == Seq(127, -127, 64, 0))
    assert(r.getAs[Int]("nsh") == 4 && r.getAs[Int]("ng") == 2)
    assert(r.getAs[Int]("gb") == 3 + 2)
  }

  test("quantize: NaN or null element nulls the whole row (native-op convention)") {
    // the HOF form silently SKIPPED NaN/null in the max — mis-scaling the
    // other codes; the native kernel refuses instead (cosine/dot precedent)
    val in = Seq(
      (1L, Array(1.0f, Float.NaN)),
      (2L, Array(0.5f, 1.0f))
    ).toDF("vec_id", "vec")
    val out = Similarity.quantize(in, "vec")
      .select("vec_id", "scale", "q", "max_err")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(1) && out(1L).isNullAt(2) && out(1L).isNullAt(3),
      "NaN element must null scale/q/max_err, never mis-scale silently")
    assert(out(2L).getAs[scala.collection.Seq[Int]]("q").toSeq == Seq(64, 127))
  }

  test("splitAssign tiles the space: exactly one split per row, deterministic, ~proportional") {
    val ids = Seq.tabulate(3000)(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitAssign(ids, F.col("text"), w)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 3000, "every row assigned")
    val byName = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > 2250 && byName("train") < 2550, s"got $byName")
    assert(byName("val") > 200 && byName("val") < 400, s"got $byName")
    // partition-invariant and re-run stable
    val again = Sampling.splitAssign(ids.repartition(13), F.col("text"), w)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == out)
    // splitAssign('train' w) agrees with hashSample at the same rate+salt:
    // the train interval IS the hashSample keep interval
    val sampled = Sampling.hashSample(ids, F.col("text"), 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2 == "train").keySet == sampled,
      "train split must equal the rate-0.8 hashSample subset")
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(ids, F.col("text"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("asofJoin: most recent right row at-or-before, per key; left/inner; deterministic ties") {
    val left = Seq((1L, 5L, "L5"), (1L, 10L, "L10"), (1L, 20L, "L20"), (2L, 7L, "L7"))
      .toDF("k", "ts", "lname")
    val right = Seq((1L, 10L, "R10"), (1L, 15L, "R15"), (2L, 99L, "R99"))
      .toDF("k", "ts", "rname")
    val out = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts")
      .select("lname", "r_rname").as[(String, Option[String])].collect().toMap
    assert(out == Map(
      "L5" -> None,          // nothing at or before 5
      "L10" -> Some("R10"),  // equal timestamps match (ts >= rts inclusive)
      "L20" -> Some("R15"),  // most recent, not first
      "L7" -> None))         // key 2's only right row is later
    val inner = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts", how = "inner")
      .select("lname").as[String].collect().toSet
    assert(inner == Set("L10", "L20"))
    // several right rows on the same (key, ts): greatest payload struct wins
    val tied = right.union(Seq((1L, 10L, "R10z"), (1L, 10L, "R10a")).toDF("k", "ts", "rname"))
    val tiedOut = AsOf.asofJoin(left, tied, Seq("k"), "ts", "ts")
      .select("lname", "r_rname").as[(String, Option[String])].collect().toMap
    assert(tiedOut("L10") == Some("R10z"))
    // right columns sharing a left name come out prefixed, left preserved
    val cols = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts").columns.toSeq
    assert(cols == Seq("k", "ts", "lname", "r_ts", "r_rname"))
  }

  test("rangeJoin: half-open boundaries, overlapping intervals, inverted dropped; equals brute join") {
    val points = Seq((1L, 0.0), (2L, 2.0), (3L, 9.999), (4L, 50.0), (5L, -1.0), (6L, 7.0))
      .toDF("id", "v")
    val bands = Seq(("a", 0.0, 2.0), ("b", 2.0, 10.0), ("c", 5.0, 25.0),
      ("z_inverted", 8.0, 3.0)).toDF("band", "lo", "hi")
    val out = graft.ops.RangeJoin.rangeJoin(points, "v", bands, "lo", "hi", binWidth = 4.0)
      .select("id", "band").as[(Long, String)].collect().toSet
    assert(out == Set(
      (1L, "a"),             // lo inclusive
      (2L, "b"),             // hi exclusive for a, lo inclusive for b
      (3L, "b"), (3L, "c"),  // overlap -> both bands, exactly once each
      (6L, "b"), (6L, "c"))) // 4 (out of range above), 5 (below) drop
    // equivalence against the brute-force inequality join on wider data,
    // across bin widths that do / don't align with interval edges
    val manyP = spark.range(0, 400).select(F.col("id"),
      ((F.col("id") * 37 % 1000) / 10.0).as("v"))
    val manyI = spark.range(0, 40).select(
      F.concat(F.lit("b"), F.col("id")).as("band"),
      (F.col("id") * 2.5).as("lo"), (F.col("id") * 2.5 + F.col("id") % 7).as("hi"))
    val brute = manyP.crossJoin(manyI)
      .filter(F.col("v") >= F.col("lo") && F.col("v") < F.col("hi"))
      .select("id", "band").as[(Long, String)].collect().toSet
    for (w <- Seq(0.7, 2.5, 40.0)) {
      val binned = graft.ops.RangeJoin.rangeJoin(manyP, "v", manyI, "lo", "hi", w)
        .select("id", "band").as[(Long, String)].collect().toSet
      assert(binned == brute, s"binWidth $w diverged from the brute-force join")
    }
  }

  test("unigramLogProb: hand-computed corpus model") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, total 5
    val out = TextOps.unigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "avg_logp", "n_tokens")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out(1L) == (r6(math.log(0.4)), 3L))                      // a a b
    assert(out(2L) == (r6((math.log(0.4) + math.log(0.2)) / 2), 2L)) // b c
  }

  test("classifierScore: hand-computed hashed-BoW logistic score") {
    // two buckets: bucket(tok) = md5-28-bit % 2; weights w0=0.5, w1=-1.0
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(7), 16) % 2).toInt
    }
    val w = Seq(0.5, -1.0)
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "  Alpha  ")).toDF("doc_id", "text")
    val out = TextOps.classifierScore(docs, "text", w, bias = 0.25)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    def sig(z: Double) = math.round(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6
    val mean1 = Seq("alpha", "beta", "gamma").map(t => w(bucket(t))).sum / 3
    assert(out(1L) == sig(0.25 + mean1))
    assert(out(2L) == sig(0.25))                        // empty doc -> bias only
    assert(out(3L) == sig(0.25 + w(bucket("alpha"))))   // case/ws-normalized
  }

  test("dedupDelta: corpus dups dropped, novel kept, within-batch lowest id survives") {
    val corpus = Seq((1L, "seen text one"), (2L, "seen text two")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "seen text one"),     // exact corpus dup -> dropped
      (11L, "SEEN   text two"),   // corpus dup after normalization -> dropped
      (12L, "brand new text"),    // novel -> kept
      (13L, "brand new text"),    // within-batch dup of 12 -> dropped
      (14L, "another novel one")  // novel -> kept
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupDelta(corpus, delta, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L, 14L))
  }

  test("pmiCollocations: hand-computed counts and PMI on a fixed corpus") {
    // tokens: "x y" x3 docs + "x z": unigrams x=4 y=3 z=1 (N_tok=8);
    // bigrams: (x,y) x3, (x,z) x1 (N_bi=4)
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x z")).toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs, "text", minCount = 1)
      .select("w1", "w2", "n_ab", "n_a", "n_b", "pmi")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out(("x", "y"))._3 == 3 && out(("x", "y"))._4 == 4 && out(("x", "y"))._5 == 3)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out(("x", "y"))._6 == r6(math.log((3.0 / 4) / ((4.0 / 8) * (3.0 / 8)))))
    assert(out(("x", "z"))._6 == r6(math.log((1.0 / 4) / ((4.0 / 8) * (1.0 / 8)))))
    // minCount gates on the integer bigram count
    val gated = TextOps.pmiCollocations(docs, "text", minCount = 2)
      .select("w1", "w2").as[(String, String)].collect().toSet
    assert(gated == Set(("x", "y")))
  }

  test("withScripts: per-range counts, priority tie-break, und fallback") {
    val docs = Seq(
      (1L, "hello world"),          // latin only
      (2L, "Привет мир"),           // cyrillic only
      (3L, "中文 text"),             // cjk 2 vs latin 4 -> latin
      (4L, "中文文本 ok"),           // cjk 4 vs latin 2 -> cjk
      (5L, "123 !!!"),              // nothing -> und
      (6L, "ab ΨΩ")                 // latin 2 ties greek 2 -> priority: latin
    ).toDF("doc_id", "text")
    val out = TextOps.withScripts(docs, "text")
      .select("doc_id", "n_latin", "n_cjk", "script")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == "latin")
    assert(out(2L)._4 == "cyrillic")
    assert(out(3L)._2 == 4 && out(3L)._3 == 2 && out(3L)._4 == "latin")
    assert(out(4L)._3 == 4 && out(4L)._4 == "cjk")
    assert(out(5L)._4 == "und")
    assert(out(6L)._4 == "latin")
  }

  test("dedupDeltaBloom equals dedupDelta on every case, even undersized blooms") {
    val corpus = Seq((1L, "seen text one"), (2L, "seen text two")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "seen text one"),     // exact corpus dup -> dropped
      (11L, "SEEN   text two"),   // corpus dup after normalization -> dropped
      (12L, "brand new text"),    // novel -> kept
      (13L, "brand new text"),    // within-batch dup of 12 -> dropped
      (14L, "another novel one")  // novel -> kept
    ).toDF("doc_id", "text")
    // a 64-bit bloom over 4 distinct keys is mostly false positives — the
    // exact re-verify must still produce the dedupDelta answer
    for (bits <- Seq(64L, 1L << 20)) {
      val kept = Dedup.dedupDeltaBloom(corpus, delta, "doc_id", "text", numBits = bits)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(12L, 14L), s"numBits=$bits")
    }
    // empty delta: no bloom row at all; must return empty, not throw
    assert(Dedup.dedupDeltaBloom(corpus, delta.limit(0), "doc_id", "text").count() == 0)
  }

  test("minhashPairsDelta equals the cross pairs of minhashPairs on the union") {
    val sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = sf.filter($"doc_id" % 3 =!= 0).select("doc_id", "text")
    val delta = sf.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        F.concat($"text", F.lit(" tail")).as("text"))
    // maxBucket high enough that no bucket is dropped on either path, so
    // the delta generator must reproduce the self-join's cross pairs EXACTLY
    val expected = Dedup.minhashPairs(corpus.unionAll(delta), "doc_id", "text",
        maxBucket = 1000000)
      .filter($"a" < 1000000L && $"b" >= 1000000L)
      .select("a", "b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.minhashPairsDelta(corpus, delta, "doc_id", "text",
        maxBucket = 1000000)
      .select("a", "b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty, "test needs at least one true near-dup pair")
    assert(got == expected)
  }

  test("minhashPairsDelta skew guard drops boilerplate buckets hot on the corpus side") {
    val boiler = "the same boilerplate footer text repeated across the whole corpus"
    val corpus = (1L to 30L).map(i => (i, boiler)).toDF("doc_id", "text")
    val delta = Seq((100L, boiler)).toDF("doc_id", "text")
    assert(Dedup.minhashPairsDelta(corpus, delta, "doc_id", "text",
      maxBucket = 10).count() == 0)
    assert(Dedup.minhashPairsDelta(corpus, delta, "doc_id", "text",
      maxBucket = 1000).count() == 30)
  }

  test("normalizeText: case, punctuation runs, unicode letters, trim") {
    val out = Seq(
      (1L, "  Héllo,   WORLD!!  42—x  "),
      (2L, "already clean text"),
      (3L, "---")                       // nothing survives -> empty
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.normalizeText($"text").as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "héllo world 42 x")
    assert(out(2L) == "already clean text")
    assert(out(3L) == "")
  }

  test("bowFingerprint is order- and multiplicity-insensitive; exactBy dedups on it") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma  BETA alpha"),        // same token set -> same fp
      (3L, "alpha beta beta gamma"),    // multiplicity ignored -> same fp
      (4L, "alpha beta delta")          // different set -> different fp
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.bowFingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L) && fps(1L) == fps(3L))
    assert(fps(1L) != fps(4L))
    val kept = Dedup.exactBy(df, "doc_id", TextOps.bowFingerprint($"text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L))
  }

  test("withGopherRules: each rule kills its own violation; clean doc passes") {
    val docs = Seq(
      (1L, "the cat and the dog ran to the big park"),       // 10 toks, clean
      (2L, "short text"),                                    // too few tokens
      (3L, "aa bb cc dd ee ff gg hh ii jj"),                 // mean len 2 + no stopwords
      (4L, "the big dog the big dog the big dog the"),       // repeated bigrams
      // 7 tokens, 84 letter chars -> mean token len (90-7+1)/7 = 12.0 > 10
      (5L, "extraordinarily incomprehensible multidimensional " +
           "characteristically uncontrollably the of")
    ).toDF("doc_id", "text")
    val out = TextOps.withGopherRules(docs, "text",
        minTokens = 5, maxTokens = 50, minMeanTokLen = 3.0, maxMeanTokLen = 10.0,
        minStopHits = 2, maxDupBigramFrac = 0.5)
      .select("doc_id", "r_ntok", "r_toklen", "r_stop", "r_rep", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, true, true, true, true, true)))
    assert(!out(2L)._2 && !out(2L)._6)                       // n_tokens rule
    assert(!out(3L)._3 && !out(3L)._4 && !out(3L)._6)        // mean-len + stopword
    assert(!out(4L)._5 && !out(4L)._6)                       // repetition rule
    assert(!out(5L)._3 && !out(5L)._6)                       // mean len too high
    // hand-check doc 4's dup-bigram fraction: 9 bigrams, 3 distinct -> 2/3
    val frac = TextOps.withGopherRules(docs, "text").filter($"doc_id" === 4)
      .select("dup_bigram_fraction").as[Double].head()
    assert(math.abs(frac - 2.0 / 3.0) < 1e-12)
  }

  test("assignCells: argmin with lower-cell ties; loud on dim mismatch") {
    val cents = Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.1, 0.9))).toDF("vec_id", "embedding")
    val out = Similarity.assignCells(emb, "embedding", cents)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(out(1L) == 0)   // exact tie between cells 0 and 1 -> lower id
    assert(out(2L) == 2)
    val bad = Seq((3L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    assertThrows[Exception](
      Similarity.assignCells(bad, "embedding", cents).collect())
  }

  test("semDedup: same-cell later near-dup flagged, cross-cell and far rows kept") {
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val emb = Seq(
      (1L, Seq(0.9, 0.1)),    // cell 0, kept (lowest id in its dup pair)
      (2L, Seq(0.95, 0.05)),  // cell 0, cos≈0.998 with 1 -> flagged
      (3L, Seq(-0.9, 0.0)),   // cell 1, alone -> kept
      (4L, Seq(0.1, 0.9))     // cell 0, cos≈0.22 with 1 -> kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.8, cents)
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 4)                       // every input row comes back
    assert(out(1L) == ((1L, 0, false)))
    assert(out(2L) == ((2L, 0, true)))          // later twin of 1
    assert(out(3L) == ((3L, 1, false)))
    assert(out(4L) == ((4L, 0, false)))         // co-celled but dissimilar
  }

  test("semDedup maxCell guard: an oversized cell keeps everything, never flags") {
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val emb = (1L to 10L).map(i => (i, Seq(0.9, 0.01 * i))).toDF("vec_id", "embedding")
    val capped = Similarity.semDedup(emb, "vec_id", "embedding", 0.5, cents, maxCell = 5)
    assert(capped.count() == 10)
    assert(capped.filter($"is_dup").count() == 0)
    // and without the cap the same cell flags all but the first row
    val open = Similarity.semDedup(emb, "vec_id", "embedding", 0.5, cents)
    assert(open.filter($"is_dup").count() == 9)
  }

  test("semDedup: zero-norm vector is never flagged (NULL cosine, not NaN)") {
    // cosine(zero, v) must come back NULL (CosineSim maps NaN -> NULL): a
    // NaN would satisfy `NaN >= threshold` and flag every zero-norm row
    // that co-cells with a lower id. Row 2 ties both centroids (dist 1
    // each -> cell 0) and sits in row 1's cell.
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val emb = Seq(
      (1L, Seq(0.9, 0.1)),   // cell 0, kept
      (2L, Seq(0.0, 0.0)),   // zero norm, co-celled with 1 -> must be kept
      (3L, Seq(0.95, 0.05))  // genuine near-dup of 1 -> still flagged
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.8, cents)
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(out.size == 3)
    assert(!out(2L), "zero-norm row must not be flagged as a semantic dup")
    assert(!out(1L) && out(3L))
  }

  test("fitSample: content-keyed draw ignores scan order; bounded; null-free") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    def draw(df: org.apache.spark.sql.DataFrame): Set[Seq[Double]] =
      Similarity.fitSample(df, "embedding", cap = 50)
        .as[Seq[Double]].collect().toSet
    val a = draw(emb)
    // same corpus, reversed scan order, different partitioning -> same draw
    val b = draw(emb.orderBy($"vec_id".desc).repartition(7))
    assert(a == b, "fit sample must be a function of content, not scan order")
    assert(a.size == 50)
    // a null vector never reaches the k-means fit
    val withNull = emb.select($"vec_id",
      F.when($"vec_id" % 2 === 0, $"embedding").as("embedding"))
    assert(Similarity.fitSample(withNull, "embedding", cap = 1000000)
      .filter($"__v".isNull).count() == 0)
  }

  test("opqFit: orthogonal rotation, deterministic, reconstructs no worse than plain PQ") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val (rot, books) = Similarity.opqFit(emb, "embedding", m = 8, k = 8, dim = 64, iters = 4)
    // R orthogonal: row dot products form the identity
    var maxDev = 0.0
    for (i <- 0 until 64; j <- i until 64) {
      val d = (0 until 64).map(c => rot(i)(c) * rot(j)(c)).sum
      maxDev = math.max(maxDev, math.abs(d - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-8, s"RtR deviates from identity by $maxDev")
    // deterministic: same seed, same rotation
    val (rot2, _) = Similarity.opqFit(emb, "embedding", m = 8, k = 8, dim = 64, iters = 4)
    assert(rot.map(_.toSeq).toSeq == rot2.map(_.toSeq).toSeq)
    // the point of OPQ: rotated-space codes reconstruct at least as well as
    // plain PQ at the identical (m, k) budget (orthogonal R preserves L2,
    // so the two errors are directly comparable)
    val plainBooks = Similarity.pqFit(emb, "embedding", m = 8, k = 8, dim = 64)
    val plainErr = Similarity.pqQuantize(emb, "embedding", plainBooks)
      .agg(F.avg("recon_err")).collect()(0).getDouble(0)
    val opqErr = Similarity.opqQuantize(emb, "embedding", rot, books)
      .agg(F.avg("recon_err")).collect()(0).getDouble(0)
    info(f"plain PQ avg recon err = $plainErr%.5f, OPQ = $opqErr%.5f")
    assert(opqErr <= plainErr * 1.001,
      s"OPQ must not reconstruct worse than PQ: $opqErr vs $plainErr")
    // search runs end-to-end in rotated space
    val codes = Similarity.opqQuantize(emb, "embedding", rot, books).select("vec_id", "codes")
    val res = Similarity.opqSearch(codes, emb.filter($"vec_id" < 3), "vec_id",
      "embedding", rot, books, k = 5)
    assert(res.count() == 15)
  }

  test("OPQ composes with IVF+PQ: rotate once, then cell-pruned residual search") {
    // the FAISS "OPQ pre-transform" composition: learn the rotation, move
    // the whole corpus into rotated coordinates, and run the standard
    // IVF+PQ machinery there — no operator needed any changes to compose
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val (rot, books) = Similarity.opqFit(emb, "embedding", m = 8, k = 8, dim = 64, iters = 2)
    val rotated = emb.withColumn("embedding",
      Similarity.matVec(rot, F.col("embedding")))
    val ivf = Similarity.buildIvf(rotated, "vec_id", "embedding", nlist = 4)
    val idx = Similarity.ivfpqBuild(rotated, "vec_id", "embedding", ivf.centroids, books)
    val res = Similarity.ivfpqSearch(idx, rotated.filter($"vec_id" < 3),
      "embedding", k = 5, nprobe = 4)
    val rows = res.as[(Long, Long, Double, Int)].collect()
    assert(rows.length == 15)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to 5))
      assert(rs.sortBy(_._4).sliding(2).forall { case Array(a, b) => a._3 <= b._3 })
    }
  }

  test("semDedupKmeans flags an exact copy and keeps every row exactly once") {
    val sf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
      .select("vec_id", "embedding")
    val copies = sf.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val out = Similarity.semDedupKmeans(sf.unionAll(copies), "vec_id", "embedding",
      threshold = 0.999, nlist = 4)
    assert(out.count() == sf.count() + copies.count())
    // an identical vector lands in the identical cell and cos(v,v) >= 0.999,
    // so every +1e6 copy is flagged; its original (lower id) never is
    assert(out.filter($"vec_id" >= 1000000L && !$"is_dup").count() == 0)
    assert(out.filter($"vec_id" < 1000000L && $"is_dup").count() == 0)
  }

  test("dupSpans: cross-doc 5-gram coverage, short docs as zero rows") {
    val docs = Seq(
      (1L, "a b c d e f"),            // grams: abcde, bcdef
      (2L, "a b c d e x"),            // grams: abcde, bcdex -> shares abcde
      (3L, "zz yy xx ww vv"),         // one unique gram
      (4L, "short text")              // < 5 tokens -> zero grams
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", n = 5, minDf = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 2L, 1L, 0.5)))
    assert(out(3L) == ((3L, 1L, 0L, 0.0)))
    assert(out(4L) == ((4L, 0L, 0L, 0.0)))
  }

  test("pqQuantize: hand-checkable codes and exact reconstruction error") {
    val cbs = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),   // subspace 0
      Array(Array(0.0, 0.0), Array(2.0, 2.0)))   // subspace 1
    val emb = Seq(
      (1L, Seq(0.9, 0.9, 0.1, 0.1)),
      (2L, Seq(0.1, 0.0, 1.9, 2.1))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqQuantize(emb, "embedding", cbs)
      .select("vec_id", "codes", "recon_err")
      .as[(Long, Seq[Int], Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == Seq(1, 0))  // (0.9,0.9)->cw1; (0.1,0.1)->cw0
    assert(math.abs(out(1L)._3 - 0.04) < 1e-12)
    assert(out(2L)._2 == Seq(0, 1))
    assert(math.abs(out(2L)._3 - 0.03) < 1e-12)
  }

  test("pqFit codebooks reconstruct better than random; codes stay in range") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val fitted = Similarity.pqFit(emb, "embedding", m = 8, k = 8, dim = 64)
    val r = new scala.util.Random(7L)
    val rand = Array.fill(8, 8, 8)(r.nextDouble() * 0.2 - 0.1)
    def meanErr(cb: Array[Array[Array[Double]]]): Double =
      Similarity.pqQuantize(emb, "embedding", cb)
        .agg(F.avg("recon_err")).head().getDouble(0)
    assert(meanErr(fitted) < meanErr(rand), "k-means codebooks must beat random")
    val codes = Similarity.pqQuantize(emb, "embedding", fitted)
      .select(F.explode(F.col("codes"))).as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < 8))
  }

  test("pqSearch: ADC ranking equals L2-to-decoded ranking (same math, m lookups)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val cbs = Similarity.pqFit(emb, "embedding", m = 8, k = 8, dim = 64)
    val quant = Similarity.pqQuantize(emb, "embedding", cbs)
    val queries = emb.filter($"vec_id" < 5)
    val adc = Similarity.pqSearch(quant.select("vec_id", "codes"), queries,
        "vec_id", "embedding", cbs, k = 10)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    // truth: rank by squared L2 between the query and the DECODED candidate
    // — ADC must reproduce it exactly (subspaces partition the dims)
    val q2 = F.broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("__q")))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("dist").asc, F.col("neighbor_id").asc)
    val exp = quant.select($"vec_id".as("neighbor_id"), $"recon")
      .join(q2, $"neighbor_id" =!= $"query_id")
      .withColumn("dist", F.aggregate(
        F.zip_with($"__q", $"recon", (x, y) => (x - y) * (x - y)),
        F.lit(0.0d), (a, v) => a + v))
      .withColumn("rk", F.row_number().over(w)).filter($"rk" <= 10)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(adc == exp)
  }

  test("ivfpqSearch at nprobe=nlist ranks by L2 to centroid+decoded-residual") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val r = new scala.util.Random(31L)
    val cents = Array.fill(4, 64)(r.nextDouble() * 0.2 - 0.1)
    val cbs = Array.fill(8, 8, 8)(r.nextDouble() * 0.1 - 0.05)
    val idx = Similarity.ivfpqBuild(emb, "vec_id", "embedding", cents, cbs)
    val queries = emb.filter($"vec_id" < 5)
    val got = Similarity.ivfpqSearch(idx, queries, "embedding", k = 10, nprobe = 4)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    // truth: rank by squared L2 between the query's residual IN THE
    // CANDIDATE'S CELL and the decoded residual — the same per-dim ops ADC
    // tabulates ((q − cent) − dec, never q − (cent + dec))
    val centLit = F.array(cents.map(c => F.array(c.map(F.lit): _*)): _*)
    val cbLit = F.array(cbs.flatten.map(cw => F.array(cw.map(F.lit): _*)): _*)
    val recon = idx.cells
      .withColumn("__rres", F.flatten(F.transform($"codes",
        (code, s) => F.element_at(cbLit, s * 8 + code + F.lit(1)))))
      .select($"vec_id".as("neighbor_id"), $"cell", $"__rres")
    val q2 = F.broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("__q")))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("dist").asc, F.col("neighbor_id").asc)
    val exp = recon.join(q2, $"neighbor_id" =!= $"query_id")
      .withColumn("__qres", F.zip_with($"__q",
        F.element_at(centLit, $"cell" + F.lit(1)), (x, y) => x - y))
      .withColumn("dist", F.aggregate(
        F.zip_with($"__qres", $"__rres", (x, y) => (x - y) * (x - y)),
        F.lit(0.0d), (a, v) => a + v))
      .withColumn("rk", F.row_number().over(w)).filter($"rk" <= 10)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exp)
    // nprobe=1 prunes to the query's own nearest cell: every neighbor's
    // cell must equal the query's assignCells cell (same argmin formula)
    val pruned = Similarity.ivfpqSearch(idx, queries, "embedding", k = 10, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val qc = Similarity.assignCells(queries, "embedding", cents)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val nc = idx.cells.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(pruned.nonEmpty)
    assert(pruned.forall { case (q, n) => nc(n) == qc(q) },
      "nprobe=1 must only surface candidates from the query's nearest cell")
  }

  test("corpusDiff: added/removed/changed/unchanged, format-only edits unchanged") {
    val oldSnap = Seq(
      (1L, "stays exactly the same"),
      (2L, "gets a real edit"),
      (3L, "only   CASE and   spacing change"),
      (4L, "will be deleted")
    ).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "stays exactly the same"),
      (2L, "gets a real edit plus more"),
      (3L, "ONLY case AND spacing CHANGE"),
      (5L, "brand new document")
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
  }

  test("canonicalUrl: case, default ports, tracking params, fragments, rooting") {
    val cases = Seq(
      ("HTTPS://Ex.COM:443/a?utm_source=x&b=1#f", "https://ex.com/a?b=1"),
      ("http://ex.com:80/", "http://ex.com/"),
      ("http://ex.com:443/x", "http://ex.com:443/x"), // non-default port kept
      ("https://ex.com", "https://ex.com/"),
      ("https://ex.com?utm_campaign=c", "https://ex.com/"),
      ("https://ex.com/p?a=1&fbclid=zz", "https://ex.com/p?a=1"),
      ("https://ex.com/p?gclid=1&a=2", "https://ex.com/p?a=2")
    ).toDF("url", "want")
    val got = cases.select($"url", $"want",
      graft.ops.TextOps.canonicalUrl($"url").as("got")).collect()
    got.foreach(r => assert(r.getString(2) == r.getString(1),
      s"${r.getString(0)}: got ${r.getString(2)}, want ${r.getString(1)}"))
    assert(cases.select(graft.ops.TextOps.urlHost($"url")).collect()
      .forall(_.getString(0).startsWith("ex.com")))
  }

  test("contaminationScore: verbatim benchmark doc = 1.0, disjoint = 0, partial in between") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzzz yyyy xxxx wwww vvvv uuuu qqqq rrrr ssss"),
      (3L, "the quick brown fox and then something else entirely different"),
      (4L, null.asInstanceOf[String])   // shingle-less, must still get a row
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(docs, docs.filter($"doc_id" === 1), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 4, "one row per input doc — a joined-back pipeline must not lose docs")
    assert(out(1L)._4 == 1.0, "benchmark member must score 1.0")
    assert(out(2L)._4 == 0.0, "disjoint text must score 0.0")
    assert(out(3L)._4 > 0.0 && out(3L)._4 < 1.0, s"partial overlap, got ${out(3L)._4}")
    assert(out(3L)._2 > out(3L)._3, "shared cannot exceed total")
    assert(out(4L) == ((4L, 0L, 0L, 0.0)), "null text reads as zero overlap, not a missing row")
  }

  test("dedupLines: keep-first across corpus, blanks structural, emptied doc = \"\"") {
    val docs = Seq(
      (1L, "alpha\ncommon\n\nbeta"),
      (2L, "common\ngamma\n\ndelta"),   // 'common' owned by doc 1 -> removed
      (3L, "COMMON  \nunique3"),        // normalized (lower/trim) match -> removed
      (4L, null.asInstanceOf[String]),  // null text passes through as null
      (5L, "alpha")                     // fully consumed -> empty string
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.dedupLines(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha\ncommon\n\nbeta")  // first occurrences all kept
    assert(out(2L) == "gamma\n\ndelta")
    assert(out(3L) == "unique3")
    assert(out(4L) == null)
    assert(out(5L) == "")
  }

  test("dsirWeights: target-domain docs score above off-target; empty docs 0") {
    // two vocab-disjoint domains; target = the legal docs
    val legal = (1L to 20L).map(i =>
      (i, s"whereas party hereto covenant$i obligation indemnify clause$i"))
    val chat = (21L to 40L).map(i =>
      (i, s"lol omg haha meme$i selfie vibe$i trending"))
    val raw = (legal ++ chat ++ Seq((99L, ""), (100L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val target = legal.toDF("doc_id", "text")
    val out = graft.ops.TextOps.dsirWeights(raw, target, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 42, "every raw doc scored, including empty/null")
    val legalAvg = (1L to 20L).map(out(_)._2).sum / 20
    val chatAvg = (21L to 40L).map(out(_)._2).sum / 20
    assert(legalAvg > chatAvg,
      s"target-domain docs must outscore off-target: $legalAvg vs $chatAvg")
    assert((21L to 40L).forall(i => out(i)._2 < 0),
      "off-target grams are all unseen in target -> negative log-ratios")
    assert(out(99L) == ((99L, 0.0, 0L)) && out(100L) == ((100L, 0.0, 0L)))
    // n_grams = unigrams + bigrams (7 tokens -> 7 + 6)
    assert(out(1L)._3 == 7 + 6)
  }

  test("dsirWeights: xxhash64 production path is hash-equivalent to the md5 oracle twin") {
    // same bucketing LAW, different per-gram hash (x71 vs x70): per-doc
    // gram counts are hash-invariant and must match EXACTLY; the domain
    // ranking both paths produce must agree
    val legal = (1L to 20L).map(i =>
      (i, s"whereas party hereto covenant$i obligation indemnify clause$i"))
    val chat = (21L to 40L).map(i =>
      (i, s"lol omg haha meme$i selfie vibe$i trending"))
    val raw = (legal ++ chat ++ Seq((99L, ""), (100L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val target = legal.toDF("doc_id", "text")
    def run(h: String) = graft.ops.TextOps
      .dsirWeights(raw, target, "doc_id", "text", hash = h)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    val prod = run("xxhash64")
    val oracle = run("md5")
    assert(prod.keySet == oracle.keySet)
    prod.keySet.foreach { id =>
      assert(prod(id)._3 == oracle(id)._3,
        s"n_grams is hash-invariant; doc $id: ${prod(id)._3} vs ${oracle(id)._3}")
    }
    // both paths separate the domains the same way
    def avg(m: Map[Long, (Long, Double, Long)], ids: Seq[Long]) =
      ids.map(m(_)._2).sum / ids.size
    assert(avg(prod, 1L to 20L) > avg(prod, 21L to 40L))
    assert((21L to 40L).forall(i => prod(i)._2 < 0),
      "off-target grams unseen in target -> negative, regardless of hash")
    assert(prod(99L)._2 == 0.0 && prod(100L)._2 == 0.0)
    // an unknown strategy fails loudly
    assertThrows[IllegalArgumentException](
      graft.ops.TextOps.dsirWeights(raw, target, "doc_id", "text", hash = "sha1"))
  }

  test("WordGramBuckets is bit-identical to pmod(xxhash64(gram), n) over the HOF grams") {
    // the production DSIR feature path is a fused native pass; this pins it
    // to the relational formulation it replaced — same tokens, same gram
    // order (unigrams then bigrams), same hash, same bucket math
    import org.apache.spark.sql.GraftExpr
    val docs = Seq(
      (1L, "  The QUICK brown   fox\njumps over\tthe lazy dog  "),
      (2L, "single"),
      (3L, ""),
      (4L, "   \t  "),
      (5L, "a b a b a"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val n = 64
    val native = docs.select(F.col("doc_id"), GraftExpr.column(
      graft.functions.WordGramBuckets(GraftExpr.expression(F.col("text")), n)).as("b"))
      .as[(Long, Array[Int])].collect().map(r => r._1 -> Option(r._2).map(_.toSeq)).toMap
    val toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
      t => F.length(t) > 0)
    val bi = F.transform(
      F.slice(toks, F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
      (t, i) => F.concat(t, F.lit(" "), F.element_at(toks, i + 2)))
    val hof = docs.select(F.col("doc_id"),
      F.transform(F.concat(toks, bi),
        g => F.pmod(F.xxhash64(g), F.lit(n)).cast("int")).as("b"))
      .as[(Long, Array[Int])].collect().map(r => r._1 -> Option(r._2).map(_.toSeq)).toMap
    assert(native == hof, s"native $native\nvs HOF $hof")
    assert(native(1L).get.size == 9 + 8 && native(3L).get.isEmpty && native(6L).isEmpty)
  }

  test("ShingleHashes is bit-identical to the explode→substr→xxhash64 chain") {
    import org.apache.spark.sql.GraftExpr
    val docs = Seq(
      (1L, "The quick  Brown\tfox"),
      (2L, "short"),            // shorter than n -> ONE whole-string shingle
      (3L, ""),                 // empty -> one hash of ""
      (4L, "naïve café — résumé muß 日本語テキスト") // multi-byte code points
    ).toDF("doc_id", "text")
    val n = 8
    val native = docs.select(F.col("doc_id"), F.explode(GraftExpr.column(
      graft.functions.ShingleHashes(GraftExpr.expression(F.col("text")), n))).as("__s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val clean = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    val rel = docs.select(F.col("doc_id"), clean.as("__c"))
      .select(F.col("doc_id"), F.col("__c"),
        F.explode(F.sequence(F.lit(1),
          F.greatest(F.length(F.col("__c")) - (n - 1), F.lit(1)))).as("__i"))
      .select(F.col("doc_id"),
        F.xxhash64(F.col("__c").substr(F.col("__i"), F.lit(n))).as("__s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(native == rel)
  }

  test("corpusDiff: null text is presence, not absence") {
    // a row whose text is NULL still EXISTS in its snapshot: presence keys
    // on an explicit per-side marker, never on fingerprint nullness
    val oldSnap = Seq(
      (1L, null.asInstanceOf[String]),  // null both sides -> unchanged
      (2L, null.asInstanceOf[String]),  // null -> real text = changed
      (3L, "real text"),                // real -> null = changed (NOT removed)
      (4L, "to be deleted")             // genuinely absent from new
    ).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "now real"),
      (3L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])   // genuinely new, even with null text
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("adcDist / quantizer literals fail loudly on mismatched shapes") {
    import org.apache.spark.sql.GraftExpr
    // codes encoded at k=16 probed against kk=8 LUTs: total LUT length
    // (m*kk = 16) passes, but code 8 at subspace 1 would silently read
    // subspace 2's entries without the per-code bounds check
    val df = Seq((Seq(0, 8), (1 to 16).map(_.toDouble))).toDF("codes", "lut")
    val bad = df.select(GraftExpr.column(graft.functions.AdcDist(
      GraftExpr.expression(F.col("codes")), GraftExpr.expression(F.col("lut")), 8)))
    assertThrows[Exception](bad.collect())
    // ragged literal matrices mis-stride the flat buffer -> refuse at construction
    val child = GraftExpr.expression(F.lit(1))
    assertThrows[IllegalArgumentException](
      graft.functions.NearestCell(child, Array(Array(1.0, 0.0), Array(1.0))))
    assertThrows[IllegalArgumentException](
      graft.functions.LshBits(child, Array(Array(1.0, 0.0), Array(1.0))))
    assertThrows[IllegalArgumentException](
      graft.functions.PqEncode(child,
        Array(Array(Array(1.0), Array(2.0)), Array(Array(3.0)))))
  }

  test("hardNegatives: same-label rows never surface; ranking matches brute cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val queries = emb.filter($"vec_id" < 5)
    val out = Similarity.hardNegatives(emb, queries, "vec_id", "label", "embedding", k = 3)
      .as[(Long, Long, Int, Double, Int)].collect()
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(out.nonEmpty)
    assert(out.forall { case (q, n, nl, _, _) =>
      labels(n) == nl && labels(q) != nl }, "every negative has a different label")
    // per query: exactly k rows, rk 1..k, cos non-increasing
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to 3))
      assert(sorted.sliding(2).forall { case Array(a, b) => a._4 >= b._4 })
    }
    // the top negative IS the max different-label cosine (spot-check vs brute)
    val brute = Similarity.bruteKnn(emb, queries, "vec_id", "embedding", k = 50)
      .as[(Long, Long, Double, Int)].collect()
      .filter { case (q, n, _, _) => labels(q) != labels(n) }
      .groupBy(_._1).map { case (q, rs) => q -> rs.maxBy(_._3)._2 }
    val top = out.filter(_._5 == 1).map(r => r._1 -> r._2).toMap
    brute.foreach { case (q, n) => assert(top(q) == n, s"query $q top negative") }
  }

  test("upsample: integer factors repeat exactly; 0 drops; 1 is identity") {
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val x3 = Sampling.upsample(df, $"text", F.lit(3.0))
      .groupBy("doc_id").agg(F.count(F.lit(1)).as("n"), F.collect_set("rep").as("reps"))
      .as[(Long, Long, Seq[Long])].collect()
    assert(x3.forall(r => r._2 == 3L && r._3.sorted == Seq(0L, 1L, 2L)))
    assert(Sampling.upsample(df, $"text", F.lit(0.0)).count() == 0)
    val x1 = Sampling.upsample(df, $"text", F.lit(1.0))
    assert(x1.count() == 3 && x1.filter($"rep" =!= 0L).count() == 0)
  }

  test("upsample: fractional factor hits the expected count deterministically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val up = Sampling.upsample(docs, $"text", F.lit(2.5))
    val c1 = up.count()
    assert(c1 >= 2 * n && c1 <= 3 * n, s"2.5x of $n rows gave $c1")
    // content-hash decision: same rows, same copies, every run
    assert(Sampling.upsample(docs, $"text", F.lit(2.5))
      .select("doc_id", "rep").except(up.select("doc_id", "rep")).count() == 0)
    // independent salts draw different fractional-copy sets
    val salted = Sampling.upsample(docs, $"text", F.lit(2.5), salt = "other")
    assert(salted.select("doc_id", "rep").except(up.select("doc_id", "rep"))
      .count() > 0)
  }

  test("upsampleByGroup: per-group factors with default fall-through") {
    val df = Seq(
      (1L, "web", "aa"), (2L, "web", "bb"),
      (3L, "books", "cc"), (4L, "other", "dd")
    ).toDF("doc_id", "source", "text")
    val out = Sampling.upsampleByGroup(df, $"source", $"text",
        factors = Map("web" -> 2.0, "books" -> 0.0), defaultFactor = 1.0)
      .groupBy("doc_id").agg(F.count(F.lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L && out(2L) == 2L)   // web doubled
    assert(!out.contains(3L))                // books dropped
    assert(out(4L) == 1L)                    // default identity
  }

  test("exactKeepBest: longest copy wins its cluster, ties fall to lowest id") {
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta alpha gamma alpha"),  // same token SET as 1, longer -> wins
      (3L, "alpha beta gamma"),        // exact dup of 1, loses to 2
      (4L, "delta epsilon"),
      (5L, "delta epsilon zeta"),
      (6L, "zeta delta epsilon")       // same set + same length as 5 -> id tie
    ).toDF("doc_id", "text")
    val kept = Dedup.exactKeepBest(d, "doc_id",
        TextOps.bowFingerprint(F.col("text")), F.length(F.col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L))
  }

  test("bm25: zero for query-free docs, monotone in tf, matches the formula") {
    val d = Seq(
      (1L, "hash join hash"),
      (2L, "scan filter sort"),
      (3L, "join")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25(d, "doc_id", "text", Seq("hash", "join"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(2L) == 0.0)
    assert(out(1L) > out(3L) && out(3L) > 0.0)
    // doc 3 by hand: N=3, avgdl=7/3, df_join=2, tf=1, dl=1
    val idf = math.log(1.0 + (3 - 2 + 0.5) / 2.5)
    val norm = 0.25 + 0.75 * 1 / (7.0 / 3)
    val expect = idf * 1 * 2.2 / (1 + 1.2 * norm)
    assert(math.abs(out(3L) - expect) < 1e-6, s"got ${out(3L)}, want $expect")
  }

  test("tokenDivergence: one-sided tokens contribute p*ln2/2, shared ones less") {
    val a = Seq((1L, "aa aa bb")).toDF("doc_id", "text")
    val b = Seq((2L, "aa cc")).toDF("doc_id", "text")
    val out = TextOps.tokenDivergence(a, b, "text")
      .as[(String, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("cc", "bb", "aa"))  // contribution desc
    val ln2 = math.log(2.0)
    assert(math.abs(out(0)._4 - 0.5 * ln2 / 2) < 1e-9)    // cc: q=1/2, B-only
    assert(math.abs(out(1)._4 - (1.0 / 3) * ln2 / 2) < 1e-9) // bb: p=1/3, A-only
    val aaExpect = ((2.0 / 3) * math.log((2.0 / 3) / (7.0 / 12)) +
      0.5 * math.log(0.5 / (7.0 / 12))) / 2
    assert(math.abs(out(2)._4 - aaExpect) < 1e-9)
    assert(out.forall(_._4 >= 0.0))
  }

  test("mixturePlan: weights normalize over present sources, rate caps at 1") {
    val d = Seq(
      (1L, "sA", "tok tok"), (2L, "sA", "tok tok"),
      (3L, "sB", "tok tok tok tok")
    ).toDF("doc_id", "source", "text")
    val out = Sampling.mixturePlan(d, "source", "text",
        Map("sA" -> 3.0), budget = 8L)
      .as[(String, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // wsum = 3 + 1; sA target = 6 of its 4 tokens -> epochs 1.5, rate 1.0
    assert(out("sA") == (("sA", 2L, 4L, 1.0, 1.5)))
    // sB target = 2 of its 4 tokens -> rate = epochs = 0.5
    assert(out("sB") == (("sB", 1L, 4L, 0.5, 0.5)))
  }

  test("dupSpans: within-doc repeats don't count toward the distinct-doc df") {
    val docs = Seq(
      // "p q r s t" occurs three times but only in this one doc
      (1L, "p q r s t p q r s t p q r s t"),
      (2L, "totally unrelated words in this other document here")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", n = 5, minDf = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 11L && out(1L)._3 == 0L)  // 15 toks -> 11 grams, none cross-doc
    // at minDf = 1 every gram is trivially "duplicated"
    val all1 = Dedup.dupSpans(docs, "doc_id", "text", n = 5, minDf = 1)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(all1(1L)._4 == 1.0 && all1(2L)._4 == 1.0)
  }

  test("knBigramNll: hand-checked interpolated-KN probabilities") {
    // train "a b a b": c2 = {(a,b):2, (b,a):1}; ctx(a) = (2,1), ctx(b) = (1,1);
    // n1b(a) = n1b(b) = 1; B = 2 distinct bigrams, V = 2 types
    val train = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"),  // P(b|a) = (max(2-.75,0) + .75*1*((1+1)/(2+2+1))) / 2 = 0.775
      (2L, "c a"),  // w1 unseen -> Pcont(a) = (1+1)/5 = 0.4
      (3L, "a"),    // no transitions
      (4L, "")      // no tokens
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.knBigramNll(score, train, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 1L)
    assert(math.abs(out(1L)._2 - (-math.log(0.775))) < 1e-6)
    assert(math.abs(out(2L)._2 - (-math.log(0.4))) < 1e-6)
    assert(out(3L) == (0L, 0.0) && out(4L) == (0L, 0.0))
  }

  test("knBigramNll: fluent-under-train text scores below OOV gibberish") {
    val train = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the cat ran on the mat"),
      (102L, "a dog sat on a mat")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zebra quark flux boson entropy")).toDF("doc_id", "text")
    val out = graft.ops.TextOps.knBigramNll(score, train, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) < out(2L),
      s"in-domain ${out(1L)} must beat OOV ${out(2L)}")
  }

  test("c4Filter: line rules, page rules, and kept_text reassembly") {
    val good1 = "This is a fine sentence with words."
    val good2 = "Another good sentence appears right here."
    val good3 = "And a third good sentence closes it out."
    val base = Seq(good1, "Short one.", "no terminal punctuation at all here",
      "This line mentions javascript explicitly, sadly.", good2, good3)
    val rows = Seq(
      (1L, base.mkString("\n")),                                    // clean: keep
      (2L, (base :+ "Sadly lorem ipsum appears in this closing sentence.").mkString("\n")),
      (3L, (base :+ "A brace { lurks in this otherwise fine sentence.").mkString("\n")),
      (4L, (base :+ "This sentence says damn and that is flagged.").mkString("\n")),
      (5L, Seq(good1, good2).mkString("\n"))                        // only 2 kept
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.c4Filter(rows, "doc_id", "text")
      .select("doc_id", "n_kept", "c4_keep", "kept_text")
      .as[(Long, Int, Boolean, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 3 && out(1L)._3,
      "three terminal-punct >=5-word non-js lines survive")
    assert(out(1L)._4 == Seq(good1, good2, good3).mkString("\n"))
    assert(!out(2L)._3, "lorem ipsum kills the page")
    assert(!out(3L)._3, "a curly brace kills the page")
    assert(!out(4L)._3, "a bad-word token kills the page")
    assert(!out(5L)._3 && out(5L)._2 == 2, "fewer than 3 kept lines kills the page")
  }

  test("pcaFit: orthonormal components aligned with the planted direction") {
    val rnd = new scala.util.Random(7L)
    val d1 = Array(0.5, 0.5, 0.5, 0.5)              // planted main axis
    val d2 = Array(0.5, -0.5, 0.5, -0.5)            // orthogonal minor axis
    val pts = (0 until 2000).map { _ =>
      val t = rnd.nextGaussian() * 3.0; val u = rnd.nextGaussian() * 0.5
      Array.tabulate(4)(j => 1.0 + t * d1(j) + u * d2(j))
    }
    val df = pts.map(p => Tuple1(p.toSeq)).toDF("v")
    val (mean, comps) = graft.ops.Similarity.pcaFit(df, "v", outDim = 2, dim = 4)
    assert(mean.forall(m => math.abs(m - 1.0) < 0.2), "mean near the planted offset")
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(x => x._1 * x._2).sum
    assert(math.abs(dot(comps(0), comps(0)) - 1.0) < 1e-4, "unit norm")
    assert(math.abs(dot(comps(0), comps(1))) < 1e-4, "orthogonal")
    assert(math.abs(dot(comps(0), d1)) > 0.99, "first component = planted axis")
    assert(math.abs(dot(comps(1), d2)) > 0.99, "second component = minor axis")
    // distributed projection: variance along comp0 >> comp1
    val proj = graft.ops.Similarity.pcaProject(df, "v", mean, comps)
      .select(F.element_at(F.col("pca"), 1).as("p0"),
        F.element_at(F.col("pca"), 2).as("p1"))
      .agg(F.variance(F.col("p0")), F.variance(F.col("p1")))
      .as[(Double, Double)].head()
    assert(proj._1 > 5 * proj._2, s"explained variance must be ordered: $proj")
  }

  test("kmeansLloyd: distributed iterations converge onto separated blobs") {
    val rnd = new scala.util.Random(11L)
    val blobA = (0 until 300).map(i => (i.toLong, Array(0.0 + rnd.nextGaussian() * 0.3, 0.0 + rnd.nextGaussian() * 0.3)))
    val blobB = (0 until 300).map(i => (1000L + i, Array(10.0 + rnd.nextGaussian() * 0.3, 10.0 + rnd.nextGaussian() * 0.3)))
    val df = (blobA ++ blobB).map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    val init = Array(Array(1.0, 1.0), Array(9.0, 9.0), Array(500.0, 500.0))
    val cents = graft.ops.Similarity.kmeansLloyd(df, "v", init, iters = 3)
    assert(math.abs(cents(0)(0)) < 0.2 && math.abs(cents(0)(1)) < 0.2,
      s"cell 0 lands on blob A: ${cents(0).toSeq}")
    assert(math.abs(cents(1)(0) - 10.0) < 0.2 && math.abs(cents(1)(1) - 10.0) < 0.2,
      s"cell 1 lands on blob B: ${cents(1).toSeq}")
    assert(cents(2).toSeq == Seq(500.0, 500.0), "empty cell keeps its center")
    val assigned = graft.ops.Similarity.kmeansAssign(df, "id", "v", init, iters = 3)
    val byCell = assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    assert(byCell(0) == 300L && byCell(1) == 300L && byCell.getOrElse(2, 0L) == 0L)
  }

  test("bpeMerges: hand-computed merge sequence with overlap and tie rules") {
    // words: aaab x2, aab x1. Pair census (overlaps counted, cnt-weighted):
    // (a,a) = 2*2 + 1 = 5, (a,b) = 2 + 1 = 3 -> merge1 (a,a)->aa cnt 5.
    // After greedy rewrite: aaab = [aa,a,b], aab = [aa,b].
    // census2: (aa,a) = 2, (a,b) = 2, (aa,b) = 1 -> tie broken by pair asc:
    // "a" < "aa" -> merge2 (a,b)->ab cnt 2. aaab = [aa,ab].
    // census3: (aa,ab) = 2, (aa,b) = 1 -> merge3 (aa,ab)->aaab cnt 2.
    val docs = Seq((1L, "aaab aaab aab")).toDF("doc_id", "text")
    val out = graft.ops.TextOps.bpeMerges(docs, "text", numMerges = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(out == Seq((1, "a", "a", "aa", 5L), (2, "a", "b", "ab", 2L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("bpeMerges: stops when no pair remains; normalization folds case/punct") {
    val docs = Seq((1L, "Ab, ab! AB?")).toDF("doc_id", "text")
    // normalized: "ab ab ab" -> one word, one pair -> 1 merge then exhausted
    val out = graft.ops.TextOps.bpeMerges(docs, "text", numMerges = 5)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(out == Seq((1, "a", "b", "ab", 3L)))
  }

  test("bpeSegment + bpeTokenCount: greedy application in rank order") {
    val merges = Seq(("a", "a"), ("a", "b"))
    val words = Seq("aaab", "aabb", "ba", "x").toDF("word")
    val seg = graft.ops.TextOps.bpeSegment(words, "word", merges)
      .as[(String, Seq[String], Int)].collect().map(r => r._1 -> r._2).toMap
    assert(seg("aaab") == Seq("aa", "ab"))
    assert(seg("aabb") == Seq("aa", "b", "b"), "merged aa blocks the (a,b) merge")
    assert(seg("ba") == Seq("b", "a"))
    assert(seg("x") == Seq("x"))
    val docs = Seq((1L, "aaab ba"), (2L, "x x x")).toDF("doc_id", "text")
    val counts = graft.ops.TextOps.bpeTokenCount(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(counts(1L) == 4L && counts(2L) == 3L) // [aa,ab] + [b,a]; [x] x3
  }

  test("vocabGrowth: first occurrences, bucket totals, cumulative sums") {
    val docs = Seq((0L, "a b"), (1L, "b c"), (2L, "c d a")).toDF("doc_id", "text")
    val out = graft.ops.TextOps.vocabGrowth(docs, "doc_id", "text", bucketSize = 2)
      .select("bucket", "docs", "tokens", "new_types", "cum_tokens", "cum_types")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, 2L, 4L, 3L, 4L, 3L), (1L, 1L, 3L, 1L, 7L, 4L)))
  }

  test("sqFit + sqEncode: exact bounds, code range, reconstruction error bound") {
    val vecs = Seq(
      (0L, Seq(0.0, -1.0, 5.0)),
      (1L, Seq(1.0, 1.0, 5.0)),
      (2L, Seq(0.5, 3.0, 5.0)))    // dim 2 is constant at 5.0 (mx == mn)
    val df = vecs.toDF("vec_id", "v")
    val (mn, mx) = Similarity.sqFit(df, "v", 3)
    assert(mn.toSeq == Seq(0.0, -1.0, 5.0) && mx.toSeq == Seq(1.0, 3.0, 5.0))
    val codes = Similarity.sqEncode(df, "v", mn, mx)
      .select("vec_id", "sq_code").as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    assert(codes(0L)(0) == 0 && codes(1L)(0) == 255, "range endpoints hit 0/255")
    assert(codes.values.forall(_.apply(2) == 0), "degenerate dim encodes 0")
    // reconstruction error of in-range values is bounded by half a step
    vecs.foreach { case (id, v) =>
      v.indices.foreach { j =>
        val s = mx(j) - mn(j)
        val dq = if (s > 0) mn(j) + codes(id)(j) * s / 255.0 else mn(j)
        assert(math.abs(dq - v(j)) <= (if (s > 0) s / 255.0 / 2 else 0.0) + 1e-12,
          s"vec $id dim $j: $dq vs ${v(j)}")
      }
    }
  }

  test("sqFit dies loudly on ragged vectors; sqSearch ranks ~like brute") {
    val ragged = Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)).map(Tuple1(_)).toDF("v")
    val e = intercept[IllegalArgumentException](Similarity.sqFit(ragged, "v", 2))
    assert(e.getMessage.contains("distinct dimensions"))
    // 8-dim corpus: quantized IP search must find the true top neighbor
    // (quantization noise ≪ the separation between planted neighbors)
    val rnd = new scala.util.Random(5L)
    val base = Array.fill(8)(rnd.nextGaussian())
    val rows = (0L until 50L).map { i =>
      val noise = if (i == 7L) 0.01 else 1.0   // vec 7 ~parallel to vec 0
      (i, Array.tabulate(8)(j => base(j) * (if (i == 0 || i == 7) 1.0 else 0.0) +
        noise * rnd.nextGaussian()).toSeq)
    }
    val df = rows.toDF("vec_id", "v")
    val (mn, mx) = Similarity.sqFit(df, "v", 8)
    val top = Similarity.sqSearch(df, df.filter($"vec_id" === 0L), "vec_id", "v",
        mn, mx, k = 1)
      .select("neighbor_id").as[Long].head()
    assert(top == 7L, "quantized IP search finds the planted near-parallel vector")
  }

  test("mmrRerank: diversity beats redundancy; lambda=1 reduces to relevance") {
    // query q; a-cluster: three near-copies, most relevant (cos ~0.8); b:
    // mirrored across q, slightly less relevant (cos ~0.78) but nearly
    // orthogonal to the a-cluster (sim ~0.27). MMR at lambda .5 must pick b
    // second (0.5·0.78 − 0.5·0.27 ≫ 0.5·0.8 − 0.5·1.0); pure relevance
    // (lambda 1) emits the redundant a-copies first.
    val q = Seq(1.0, 0.0, 0.0)
    val rows = Seq(
      (10L, Seq(0.81, 0.59, 0.0)),  // a1 (most relevant)
      (11L, Seq(0.80, 0.60, 0.0)),  // a2 ~= a1
      (12L, Seq(0.79, 0.61, 0.0)),  // a3 ~= a1
      (13L, Seq(0.78, -0.62, 0.0))) // b: relevant but diverse
    val corpus = rows.toDF("vec_id", "v")
    val queries = Seq((0L, q)).toDF("vec_id", "v")
    val diverse = Similarity.mmrRerank(corpus, queries, "vec_id", "v",
        k = 2, pool = 4, lambda = 0.5)
      .orderBy("pick").select("sel_id").as[Long].collect().toSeq
    assert(diverse == Seq(10L, 13L), s"pick 2 must be the distinct vector: $diverse")
    val relevOnly = Similarity.mmrRerank(corpus, queries, "vec_id", "v",
        k = 2, pool = 4, lambda = 1.0)
      .orderBy("pick").select("sel_id").as[Long].collect().toSeq
    assert(relevOnly == Seq(10L, 11L), s"lambda=1 is pure relevance: $relevOnly")
  }

  test("duplicateSentences: census counts distinct docs and total occurrences") {
    val docs = Seq(
      (1L, "All rights reserved today. A unique opening statement here. All rights reserved today."),
      (2L, "All rights reserved today. Another body sentence entirely."),
      (3L, "Nothing shared in this one at all. Tiny."),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = graft.ops.Curation.duplicateSentences(docs, "doc_id", "text",
        minChars = 10, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq
    // "all rights reserved today" appears in docs 1 (twice: mid + trailing
    // '.'-suffixed variant differs!) — trailing form keeps its '.', so the
    // mid-doc form "all rights reserved today" is in docs 1 and 2 once each
    assert(out == Seq(("all rights reserved today", 2L, 2L)), out.toString)
  }

  test("trainQualityClassifier: hand-checked first step, separation after training") {
    // one positive single-token doc: iter-1 gradient is p−y = −0.5 for the
    // bias AND for the token's bucket → both update to 0.5·0.5/1 = 0.25
    val one = Seq(("alpha", 1.0)).toDF("text", "y")
    val (w1, b1) = TextOps.trainQualityClassifier(one, "text", "y",
      nBuckets = 8, iters = 1, lr = 0.5)
    assert(b1 == 0.25, s"bias after one step: $b1")
    assert(w1.count(_ != 0.0) == 1 && w1.find(_ != 0.0).get == 0.25,
      s"exactly the token's bucket moves: ${w1.toSeq}")
    // iters = 0 is the identity
    val (w0, b0) = TextOps.trainQualityClassifier(one, "text", "y",
      nBuckets = 8, iters = 0, lr = 0.5)
    assert(b0 == 0.0 && w0.forall(_ == 0.0))
    // separable corpus: after a few steps the learned model scores a
    // positive-vocabulary doc above a negative-vocabulary one
    val docs = (0 until 20).map(i =>
      if (i % 2 == 0) (s"excellent wonderful prose $i", 1.0)
      else (s"garbled spam junk $i", 0.0)).toDF("text", "y")
    val (w, b) = TextOps.trainQualityClassifier(docs, "text", "y",
      nBuckets = 32, iters = 5, lr = 1.0)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7)
      (java.lang.Long.parseLong(hex, 16) % 32).toInt
    }
    val zPos = b + Seq("excellent", "wonderful", "prose").map(t => w(bucket(t))).sum
    val zNeg = b + Seq("garbled", "spam", "junk").map(t => w(bucket(t))).sum
    assert(zPos > zNeg + 0.5, s"learned separation: zPos=$zPos zNeg=$zNeg")
    // DF shape: nBuckets + 1 rows, bias at bucket -1
    val rows = TextOps.trainQualityClassifierDF(one, "text", "y",
        nBuckets = 8, iters = 1, lr = 0.5)
      .as[(Int, Double)].collect().sortBy(_._1)
    assert(rows.length == 9 && rows.head == ((-1, 0.25)), rows.toSeq.toString)
  }

  test("weightedSample: exact Efraimidis-Spirakis top-n, determinism, w<=0 excluded") {
    val docs = (0 until 200).map(i => (s"document text number $i", (i % 10) + 1))
      .toDF("text", "w")
    val got = Sampling.weightedSample(docs, F.col("text"), F.col("w"), n = 30)
      .as[(String, Int)].collect().toSet
    // replay the exact rank key in plain Scala: u from the first 52 md5
    // bits (+0.5, /2^52), key ln(u)/w, top-30
    def key(text: String, w: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4503599627370496.0
      math.log(u) / w
    }
    val want = (0 until 200).map(i => (s"document text number $i", (i % 10) + 1))
      .sortBy { case (t, w) => -key(t, w) }.take(30).toSet
    assert(got == want, s"selection must equal the hand-replayed E-S draw")
    // deterministic under repartitioning
    val got2 = Sampling.weightedSample(docs.repartition(7), F.col("text"), F.col("w"), 30)
      .as[(String, Int)].collect().toSet
    assert(got2 == got, "partition-layout-independent")
    // zero/negative weights can never be drawn, even at n >= corpus size
    val mixed = Seq(("a", 1), ("b", 0), ("c", -5)).toDF("text", "w")
    val kept = Sampling.weightedSample(mixed, F.col("text"), F.col("w"), 10)
      .as[(String, Int)].collect().toSeq
    assert(kept == Seq(("a", 1)), s"w<=0 excluded: $kept")
    // weights bias the draw: heavy items are overrepresented vs uniform
    val heavy = got.count(_._2 >= 8)
    assert(heavy > 30 * 3 / 10,
      s"weight-proportional draw overrepresents heavy items: $heavy/30 with w>=8")
  }

  test("pageRank: hand-checked round, dangling redistribution, mass conservation") {
    // A→C, B→C, C sinks: after one round from r0=1/3 (round6 0.333333),
    // dang = r(C) = 0.333333; every node gets base + dangling share; C
    // additionally gets 2 × round6(0.85 · 0.333333 / 1)
    val e = Seq(("A", "C"), ("B", "C")).toDF("s", "d")
    val r1 = graft.ops.Graph.pageRank(e, "s", "d", iters = 1)
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val base = (1.0 - 0.85) / 3.0 + 0.85 * 0.333333 / 3.0
    val exp = BigDecimal(base).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expC = BigDecimal(base + 2 * 0.283333).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r1 == Seq(("A", 1L, exp), ("B", 1L, exp), ("C", 0L, expC)),
      s"hand-checked round: $r1")
    // iters=0 is the uniform initialization
    val r0 = graft.ops.Graph.pageRank(e, "s", "d", iters = 0)
      .as[(String, Long, Double)].collect()
    assert(r0.forall(_._3 == 0.333333), r0.toSeq.toString)
    // larger graph: mass ≈ 1 after several rounds, in-link magnets rank
    // highest, determinism across runs
    val ring = (0 until 50).flatMap(i =>
      Seq((s"n$i", s"n${(i + 1) % 50}"), (s"n$i", "hub"))).toDF("s", "d")
    val pr = graft.ops.Graph.pageRank(ring, "s", "d", iters = 8)
      .as[(String, Long, Double)].collect()
    assert(math.abs(pr.map(_._3).sum - 1.0) < 1e-3,
      s"total rank mass ≈ 1: ${pr.map(_._3).sum}")
    val top = pr.maxBy(_._3)._1
    assert(top == "hub", s"the 50-in-link hub outranks ring nodes: $top")
  }

  test("hllDistinct: raw-branch accuracy, linear-counting branch, register merge") {
    // 20k distinct keys, every one duplicated — duplicates must not move
    // the estimate, and 20k >> 2.5·256 forces the raw harmonic branch
    val big = (0 until 40000).map(i => ("big", s"key-value-${i % 20000}"))
      .toDF("g", "k")
    val est = graft.ops.Sketches.hllDistinct(big, Seq("g"), F.col("k"))
      .as[(String, Double)].collect().head._2
    assert(math.abs(est - 20000) / 20000.0 < 0.10,
      s"m=256 gives ±6.5% typical; got $est for 20000")
    // small group: linear counting is near-exact
    val small = (0 until 40).map(i => ("s", s"tok$i")).toDF("g", "k")
    val estS = graft.ops.Sketches.hllDistinct(small, Seq("g"), F.col("k"))
      .as[(String, Double)].collect().head._2
    assert(math.abs(estS - 40) <= 4, s"linear counting near-exact at 40: $estS")
    // registers MERGE: max by bucket over two halves == whole-corpus
    // registers (the cross-shard / cross-day union at 100 TB)
    val h1 = graft.ops.Sketches.hllRegisters(
      big.filter(F.xxhash64(F.col("k")) % 2 === 0), Seq("g"), F.col("k"))
    val h2 = graft.ops.Sketches.hllRegisters(
      big.filter(F.xxhash64(F.col("k")) % 2 =!= 0), Seq("g"), F.col("k"))
    val merged = h1.unionAll(h2).groupBy("g", "bucket").agg(F.max("m").as("m"))
    val whole = graft.ops.Sketches.hllRegisters(big, Seq("g"), F.col("k"))
    assert(merged.as[(String, Long, Int)].collect().toSet ==
      whole.as[(String, Long, Int)].collect().toSet,
      "sharded max-merge equals the one-pass registers")
  }

  test("exactJaccardPairs equals brute force (recall 1.0); hot-token guard is loud") {
    // overlapping vocab: doc i = tokens {i..i+9} over a 30-token alphabet,
    // so neighbors share 9/11, 8/12, ... — thresholds slice real gradients
    val docs = (0 until 40).map { i =>
      (i.toLong, (i until i + 10).map(j => s"w${j % 30}").distinct.mkString(" "))
    }.toDF("id", "text")
    def brute(t: Double): Set[(Long, Long, Long, Long)] = {
      val thr = math.round(t * 1e6)
      val sets = (0 until 40).map(i =>
        i.toLong -> (i until i + 10).map(j => s"w${j % 30}").toSet)
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        i = (sa & sb).size.toLong; u = sa.size + sb.size - i
        if i * 1000000L >= thr * u
      } yield (a, b, i, u)).toSet
    }
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val got = Dedup.exactJaccardPairs(docs, "id", "text", t)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, j) }.toSet
      val want = brute(t).map { case (a, b, i, u) =>
        (a, b, BigDecimal(i.toDouble / u).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) }
      assert(got == want, s"t=$t: exact join must equal brute force\n" +
        s"missing: ${want -- got}\nextra: ${got -- want}")
    }
    // a token present in every doc beyond maxBucket fails LOUDLY (the
    // exact-recall contract forbids silently dropping it). Needs a LOW
    // threshold: at high t the prefix is only the rarest token(s), so the
    // boilerplate token never enters a prefix bucket — rarity ordering is
    // itself the first line of defense
    val boiler = (0 until 50).map(i => (i.toLong, s"cookie banner unique$i"))
      .toDF("id", "text")
    val ex = loudMsg(
      Dedup.exactJaccardPairs(boiler, "id", "text", 0.3, maxBucket = 10)
        .count())
    assert(ex.contains("maxBucket") &&
      ex.contains("stripBoilerplateLines"), ex)
  }

  test("shardChecksums: order-free, corruption-sensitive, sub-manifest mergeable") {
    val df = (1L to 2000L).map(i => (i, s"content of row $i", s"src${i % 3}"))
      .toDF("id", "text", "source")
    val manifest = graft.ops.Scale.shardChecksums(df, "id", Seq("text", "source"), 4)
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // identical under any partition layout or row order
    val shuffled = graft.ops.Scale.shardChecksums(
        df.repartition(17).orderBy(F.rand(5)), "id", Seq("text", "source"), 4)
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(manifest == shuffled, "manifest is partition/order-free")
    // a single corrupted row flips exactly its shard's checksum, counts intact
    val corrupted = df.withColumn("text",
      F.when(F.col("id") === 1500L, F.lit("bit-rot")).otherwise(F.col("text")))
    val m2 = graft.ops.Scale.shardChecksums(corrupted, "id", Seq("text", "source"), 4)
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m2.map(_._2) == manifest.map(_._2), "row counts unchanged")
    val diff = manifest.zip(m2).filter { case (a, b) => a._3 != b._3 }
    assert(diff.size == 1, s"exactly one shard's checksum flips: $diff")
    // a dropped row shows in n_rows
    val dropped = graft.ops.Scale.shardChecksums(
        df.filter(F.col("id") =!= 7L), "id", Seq("text", "source"), 4)
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dropped.map(_._2).sum == 1999L, "missing row visible in counts")
    // sub-manifests merge by (+, XOR) over a FIXED shard assignment (the
    // real flow: an already-sharded export split into batches, audited
    // batch-by-batch) — boundaries must come from the ONE assignment, not
    // be re-sampled per batch
    val assigned = graft.ops.Scale.rangeShardAssign(df, "id", 4)
      .withColumn("fp", graft.ops.Scale.rowFingerprint(Seq("text", "source")))
    def agg(part: org.apache.spark.sql.DataFrame) = part.groupBy("shard")
      .agg(F.count(F.lit(1)).as("n"), F.expr("bit_xor(fp)").as("ck"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    val h0 = agg(assigned.filter(F.pmod(F.xxhash64(F.col("text")), F.lit(2)) === 0))
    val h1 = agg(assigned.filter(F.pmod(F.xxhash64(F.col("text")), F.lit(2)) === 1))
    manifest.foreach { case (sh, n, ck, _, _) =>
      val (a, b) = (h0(sh), h1(sh))
      assert(a._2 + b._2 == n && (a._3 ^ b._3) == ck,
        s"shard $sh: sub-manifests must merge by (+, XOR)")
    }
  }

  test("sampleQuantiles: exact rank stats at full sample; sane estimates at 10%") {
    // samplePrefix "zzzz" admits every md5 digest (hex < 'z') → the
    // "sample" is the whole group and quantiles are exact rank statistics
    val df = (1 to 100).map(v => ("g", v.toLong, s"row$v")).toDF("g", "v", "k")
    val exact = Sampling.sampleQuantiles(df, Seq("g"), "v", F.col("k"),
        Seq(0.25, 0.5, 0.75, 1.0), samplePrefix = "zzzz")
      .as[(String, Double, Long, Long)].collect().sortBy(_._2).toSeq
    assert(exact == Seq(("g", 0.25, 25L, 100L), ("g", 0.5, 50L, 100L),
      ("g", 0.75, 75L, 100L), ("g", 1.0, 100L, 100L)), s"exact ranks: $exact")
    // default ~10% sample of 1..1000: median estimate lands near 500 and
    // is deterministic run-to-run and under repartitioning
    val big = (1 to 1000).map(v => ("g", v.toLong, s"item-$v")).toDF("g", "v", "k")
    def med(d: org.apache.spark.sql.DataFrame) =
      Sampling.sampleQuantiles(d, Seq("g"), "v", F.col("k"), Seq(0.5))
        .as[(String, Double, Long, Long)].collect().head
    val m1 = med(big)
    assert(math.abs(m1._3 - 500L) < 150,
      s"10%-sample median of 1..1000 near 500: $m1")
    assert(med(big.repartition(13)) == m1, "partition-layout-independent")
  }

  test("funnelReach: strictly-ordered first-touch semantics, hand-checked") {
    // A completes in order; B clicked only BEFORE viewing; C view-only;
    // D's purchase precedes the click; E never viewed; F's click shares
    // the view's µs (ties do NOT advance)
    val ev = Seq(
      ("A", "view", 1L), ("A", "click", 2L), ("A", "purchase", 3L),
      ("B", "click", 1L), ("B", "view", 2L),
      ("C", "view", 1L),
      ("D", "view", 1L), ("D", "purchase", 2L), ("D", "click", 3L),
      ("E", "purchase", 5L),
      ("F", "view", 4L), ("F", "click", 4L))
      .toDF("user_id", "event_type", "us")
      .withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    val got = graft.ops.EventOps.funnelReach(ev, Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    // step2 = click strictly after FIRST view: A (2>1) and D (3>1);
    // step3 = purchase strictly after the step-2 frontier: A only
    // (D's purchase@2 precedes its qualifying click@3)
    assert(got == Seq((1, "view", 5L), (2, "click", 2L), (3, "purchase", 1L)),
      s"funnel: $got")
    // single-step funnel degenerates to distinct-user count of that type
    val one = graft.ops.EventOps.funnelReach(ev, Seq("purchase"))
      .as[(Int, String, Long)].collect().head
    assert(one == ((1, "purchase", 3L)), s"single step: $one")
  }

  test("count-min: never underestimates, exact without collisions, counters merge") {
    // zipf-ish stream: token i appears 100/(i+1) times
    val stream = (0 until 50).flatMap(i =>
      Seq.fill(100 / (i + 1))(s"token$i")).map(Tuple1(_)).toDF("t")
    val counters = graft.ops.Sketches.cmsCounters(stream, F.col("t"))
    val probes = (0 until 50).map(i => (s"token$i", 100L / (i + 1)))
      .toDF("t", "n_true")
    val est = graft.ops.Sketches.cmsEstimate(counters, probes, F.col("t"))
      .as[(String, Long, Long)].collect()
    est.foreach { case (t, truth, e) =>
      assert(e >= truth, s"CMS must never undercount: $t est $e < true $truth") }
    // 50 distinct keys in 4×1024 buckets: overwhelmingly collision-free
    assert(est.count { case (_, truth, e) => e == truth } >= 45,
      s"near-all exact at this load: ${est.filter(r => r._3 != r._2).toSeq}")
    // absent key estimates 0 (all four rows empty) or a collision count
    val ghost = graft.ops.Sketches.cmsEstimate(counters,
        Seq(Tuple1("never-seen-key")).toDF("t"), F.col("t"))
      .as[(String, Long)].collect().head._2
    assert(ghost <= 2, s"absent key ≈ 0: $ghost")
    // counters merge by SUM over (j, bucket): two halves == whole
    val h1 = graft.ops.Sketches.cmsCounters(stream.limit(200), F.col("t"))
    val h2 = graft.ops.Sketches.cmsCounters(
      stream.exceptAll(stream.limit(200)), F.col("t"))
    val merged = h1.unionAll(h2).groupBy("j", "bucket").agg(F.sum("c").as("c"))
    assert(merged.as[(Int, Long, Long)].collect().toSet ==
      counters.as[(Int, Long, Long)].collect().toSet,
      "sharded sum-merge equals the one-pass counters")
  }

  test("mortonCode interleaves exactly; zorder shards bound BOTH dim envelopes") {
    // hand-check: x=3 (011), y=5 (101) → z bits y2x2 y1x1 y0x0 = 100111 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(graft.ops.Scale.mortonCode(F.col("x"), F.col("y"), 3).as("z"))
      .as[Long].collect().head
    assert(z == 39L, s"interleave(3,5) = $z")
    // out-of-range input fails loudly, not with a silently truncated code
    val ex = intercept[Exception] {
      graft.ops.Scale.zorderShardPlan(Seq((70000L, 1L)).toDF("x", "y"),
        "x", "y", bits = 16, nShards = 2).collect()
    }
    assert(ex.getMessage.contains("zorder") || ex.getCause != null, ex.getMessage)
    // uniform 64x64 grid, 16 equal-count z shards: aggregate 2-D locality.
    // Individual shards CAN straddle a quadrant corner (the classic
    // z-curve jump — sampled boundaries don't land exactly on corners) and
    // those envelopes blow up, but the AVERAGE bounding box must cover a
    // small fraction of the key space — the data-skipping win; a
    // single-column range layout leaves every shard's second dim at 0-63
    // (100% span)
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val plan = graft.ops.Scale.zorderShardPlan(grid, "x", "y", bits = 6, nShards = 16)
      .as[(Int, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(plan.map(_._2).sum == 4096L, "every row in exactly one shard")
    val areas = plan.map { case (_, _, _, _, minX, maxX, minY, maxY) =>
      (maxX - minX + 1) * (maxY - minY + 1) }
    val avgFrac = areas.sum.toDouble / areas.length / 4096.0
    assert(avgFrac < 0.30,
      s"avg envelope covers ${avgFrac * 100}%% of the grid — not 2-D local " +
        s"(perfect 16-shard z layout: 6.25%%): ${plan.toSeq}")
    // and at least half the shards are tight in BOTH dims (within one
    // quadrant-of-quadrant envelope + straddle slop)
    val tight = plan.count { case (_, _, _, _, minX, maxX, minY, maxY) =>
      maxX - minX <= 32 && maxY - minY <= 32 }
    assert(tight >= plan.length / 2,
      s"only $tight/${plan.length} shards 2-D tight: ${plan.toSeq}")
  }

  test("rangeShardAssign covers every row; plan is deterministic and balanced") {
    val df = (0L until 5000L).map(i => Tuple1(i * 7L % 5000L)).toDF("k")
    val plan1 = graft.ops.Scale.rangeShardPlan(df, "k", nShards = 8)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val plan2 = graft.ops.Scale.rangeShardPlan(df, "k", nShards = 8)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(plan1 == plan2, "same corpus, same plan — bit-for-bit")
    assert(plan1.map(_._2).sum == 5000L, "every row lands in exactly one shard")
    assert(plan1.size == 8 && plan1.map(_._1) == (1 to 8),
      s"8 contiguous shards: ${plan1.map(_._1)}")
    // shards are ranges: maxes strictly below the next shard's min
    plan1.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 < b._3, s"shard ${a._1} max ${a._4} overlaps ${b._1} min ${b._3}")
    }
    // equal-count to within sampling error (10% md5 sample of 5k keys)
    assert(plan1.map(_._2).max < 3L * plan1.map(_._2).min,
      s"balanced within sampling noise: ${plan1.map(_._2)}")
  }

  test("kmvDistinct: exact below k, estimate within KMV error bound above") {
    val df = (0 until 40).map(i => ("small", s"tok$i"))
      .++((0 until 5000).map(i => ("big", s"item$i")))
      .toDF("g", "t")
    val out = graft.ops.Sketches.kmvDistinct(df, Seq("g"), F.col("t"), k = 64)
      .as[(String, Long, Double)].collect()
      .map { case (g, n, e) => g -> ((n, e)) }.toMap
    val small = out("small"); val big = out("big")
    assert(small._1 == 40L && small._2 == 40.0,
      s"below k the sketch IS the exact distinct count: $small")
    assert(big._1 == 64L, s"kept exactly k values: $big")
    // KMV relative error ~ 1/sqrt(k-2) ≈ 12.7%; allow 3 sigma
    assert(math.abs(big._2 - 5000.0) / 5000.0 < 0.4,
      s"estimate ${big._2} should be within ~3σ of 5000")
    // duplicates do not move the sketch (distinct semantics)
    val dup = graft.ops.Sketches.kmvDistinct(
        df.unionAll(df), Seq("g"), F.col("t"), k = 64)
      .as[(String, Long, Double)].collect()
      .map { case (g, n, e) => g -> ((n, e)) }.toMap
    assert(dup("big") == ((big._1, big._2)), "multiset has KMV of its support")
  }

  test("editDistancePairs: recall 1.0 vs brute force; threshold banding; guard") {
    val rows = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fax"),    // dist 1 to id 1
      (3L, "the quick brown foxes"),  // dist 2 to id 1 (insertions)
      (4L, "a completely other doc"),
      (5L, "the quick brown fox")     // dist 0 to id 1
    ).toDF("id", "t")
    val got = Dedup.editDistancePairs(rows, "id", F.col("t"), maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over all pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = Seq(1L -> "the quick brown fox", 2L -> "the quick brown fax",
      3L -> "the quick brown foxes", 4L -> "a completely other doc",
      5L -> "the quick brown fox")
    val want = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = lev(ta, tb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == want, s"got $got want $want")
    // degenerate fixed-width corpus trips the loud guard
    val fixed = (0 until 50).map(i => (i.toLong, f"doc$i%04d")).toDF("id", "t")
    val e = loudMsg(
      Dedup.editDistancePairs(fixed, "id", F.col("t"), maxDist = 1,
        maxBucket = 10).count())
    assert(e.contains("maxBucket"), e)
  }

  test("transitionMatrix: hand-checked lag pairs and row-stochastic p") {
    val ev = Seq(
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "b"), (3L, 1L, 30L, "a"),
      (4L, 2L, 10L, "a"), (5L, 2L, 20L, "b"),
      (6L, 3L, 10L, "b")  // single event: no transition
    ).toDF("event_id", "user_id", "ns", "event_type")
      .withColumn("ts", F.col("ns") * 1000000000L) // ns-long convention
      .drop("ns")
    val out = graft.ops.EventOps.transitionMatrix(ev)
      .as[(String, String, Long, Double)].collect().toSet
    // user1: a->b, b->a; user2: a->b  ⇒ a->b n=2 p=1.0; b->a n=1 p=1.0
    assert(out == Set(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)), out.toString)
    // per-prev probabilities sum to 1
    val sums = graft.ops.EventOps.transitionMatrix(ev)
      .groupBy("prev_type").agg(F.sum("p").as("s"))
      .as[(String, Double)].collect()
    sums.foreach { case (pt, s) => assert(math.abs(s - 1.0) < 1e-9, s"$pt: $s") }
  }

  test("robustOutliers: median/IQR rank selection; spike caught; iqr=0 silent") {
    val base = (1 to 100).map(i => (i.toLong, "m", i.toDouble))
    val spiked = base :+ (101L, "m", 1000.0) // far outlier
    val ev = spiked.toDF("event_id", "event_type", "value")
      .withColumn("ts", F.lit(0L))
    val out = graft.ops.EventOps.robustOutliers(ev)
      .as[(Long, String, Double, Double, Double, Double)].collect()
    assert(out.map(_._1).toSet == Set(101L), s"only the spike flags: ${out.toSeq}")
    val (_, _, v, med, iqr, score) = out.head
    // n=101: med = value at rank 50 = 50, q1 at 25, q3 at 75 ⇒ iqr 50
    assert(med == 50.0 && iqr == 50.0, s"med=$med iqr=$iqr")
    assert(score == math.rint((1000.0 - 50.0) / 50.0 * 10000) / 10000, s"$score")
    // constant slice: iqr=0 ⇒ no NaN escapes, nothing flagged
    val const = (1 to 10).map(i => (i.toLong, "c", 7.0)).toDF("event_id", "event_type", "value")
      .withColumn("ts", F.lit(0L))
    assert(graft.ops.EventOps.robustOutliers(const).count() == 0L)
  }

  test("triangleCounts: hand-checked graph; orientation kills the hub blowup") {
    // K4 on 1-4 (4 triangles, 3 per node) + pendant 5 + disconnected 6-7
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (6, 7), (7, 6), (2, 1) // dup + reversed dup collapse
    ).toDF("s", "d")
    val out = graft.ops.Graph.triangleCounts(edges, "s", "d")
      .as[(Int, Long)].collect().toMap
    assert(out == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L),
      s"K4 corners only: $out")
    // star hub: no triangles, and the hub generates zero wedges (its
    // oriented out-degree is 0 — every edge points AT it)
    val star = (1 to 50).map(i => (0, i)).toDF("s", "d")
    assert(graft.ops.Graph.triangleCounts(star, "s", "d").count() == 0L)
  }

  test("cooccurrenceEdges: support threshold and canonical direction") {
    val gi = Seq((10L, "x"), (10L, "y"), (10L, "z"),
      (20L, "x"), (20L, "y"), (30L, "x"), (30L, "y"))
      .toDF("g", "i")
    val e = graft.ops.Graph.cooccurrenceEdges(gi, "g", "i", minCount = 2)
      .as[(String, String, Long)].collect().toSet
    assert(e == Set(("x", "y", 3L)), s"only x-y clears support 2: $e")
  }

  test("unseenMass: hand-checked frequency-of-frequencies and n1/N") {
    val df = Seq(
      ("s", "a a a b b c d"),   // a:3 b:2 c:1 d:1 within one doc...
      ("s", "c e")              // ...c becomes 2, e enters at 1
    ).toDF("source", "text")
    // counts: a=3, b=2, c=2, d=1, e=1 -> N=9, vocab=5, n1=2, n2=2, n3=1
    val out = TextOps.unseenMass(df, Seq("source"), "text")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().head
    assert(out == (("s", 9L, 5L, 2L, 2L, 1L, 0.222222)), out.toString)
  }

  test("sortedNeighborhood: sharded+ghost pairs equal the global-order brute force") {
    // 120 shuffled keys; full-population sample so shard boundaries are
    // deterministic quantiles; several shard configs must all equal the
    // single global order
    val keys = new scala.util.Random(11L)
      .shuffle((0 until 120).map(i => (i.toLong, f"key${(i * 37) % 120}%03d")).toList)
    val df = keys.toDF("id", "t")
    def brute(w: Int): Set[(Long, Long)] = {
      val order = keys.sortBy { case (id, k) => (k, id) }.map(_._1)
      (for {
        i <- order.indices; d <- 1 to w if i + d < order.length
      } yield (order(i), order(i + d))).toSet
    }
    for (shards <- Seq(1, 3, 8); w <- Seq(1, 3)) {
      val got = Dedup.sortedNeighborhoodPairs(df, "id", F.col("t"),
          window = w, nShards = shards, samplePrefix = "ffff")
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == brute(w), s"shards=$shards w=$w: " +
        s"missing=${(brute(w) -- got).take(5)} extra=${(got -- brute(w)).take(5)}")
    }
    // a shard too small for the window fails loudly, not silently lossy
    val tiny = (0 until 6).map(i => (i.toLong, s"k$i")).toDF("id", "t")
    val e = intercept[IllegalStateException] {
      Dedup.sortedNeighborhoodPairs(tiny, "id", F.col("t"), window = 4,
        nShards = 3, samplePrefix = "ffff").count()
    }
    assert(e.getMessage.contains("ghost adjacency"), e.getMessage)
  }

  test("sliceJaccard: hand-checked overlap; disjoint pair absent; dups collapse") {
    val df = Seq(
      ("s1", "a b c d"), ("s1", "a a b"),        // s1 vocab {a,b,c,d}
      ("s2", "c d e"), ("s2", "e f"),            // s2 vocab {c,d,e,f}
      ("s3", "zzz")                              // s3 disjoint from both
    ).toDF("source", "text")
    val out = TextOps.sliceJaccard(df, "source", "text")
      .as[(String, String, Long, Long, Double)].collect().toSet
    // s1 ∩ s2 = {c,d} (2), union = 6 -> 1/3
    assert(out == Set(("s1", "s2", 2L, 6L, 0.333333)), out.toString)
  }

  test("skewCensus: shares, integer ceil salt, hot key first") {
    // 64 rows of 'hot', 8 of each of 'a'..'d' -> hot share 2/3
    val rows = Seq.fill(64)("hot") ++ Seq("a", "b", "c", "d").flatMap(Seq.fill(8)(_))
    val df = rows.toDF("k")
    val out = graft.ops.Scale.skewCensus(df, F.col("k"), parallelism = 12, topK = 3)
      .as[(String, Long, Double, Long)].collect()
    assert(out.head == (("hot", 64L, 0.666667, 8L)), // ceil(64*12/96) = 8
      out.mkString(", "))
    assert(out.tail.forall(_._4 == 1L), s"fair-share keys salt 1: ${out.toSeq}")
    assert(out.length == 3 && out.tail.map(_._1).toSeq == Seq("a", "b"),
      s"(n desc, key) order: ${out.toSeq}")
  }

  test("activeSessionsPerHour: overlap counting across hour boundaries") {
    // user 1: one session 10:50->11:10 (touches hours 10 and 11);
    // user 2: one session 10:05->10:06; user 3: 12:00 exactly (hour 12)
    def t(h: Int, m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00").getTime)
    val ev = Seq(
      (1L, t(10, 50), 0.0), (1L, t(11, 10), 0.0),
      (2L, t(10, 5), 0.0), (2L, t(10, 6), 0.0),
      (3L, t(12, 0), 0.0)
    ).toDF("user_id", "ts", "value")
    val out = graft.ops.EventOps.activeSessionsPerHour(ev, gapMinutes = 30)
      .as[(String, Long)].collect().toMap
    assert(out == Map("2026-01-01 10" -> 2L, "2026-01-01 11" -> 1L,
      "2026-01-01 12" -> 1L), out.toString)
  }

  test("olsFit: exact fit on a planted line; r2 < 1 under noise; degenerate null") {
    // y = 3x + 2, exact: slope/intercept/r2 recovered to the rounding digit
    val line = (1 to 50).map(i => ("g", i.toDouble, 3.0 * i + 2.0)).toDF("g", "x", "y")
    val fit = graft.ops.Stats.olsFit(line, Seq("g"), F.col("x"), F.col("y"))
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(fit == (("g", 50L, 3.0, 2.0, 1.0)), fit.toString)
    // deterministic symmetric "noise" (alternating ±5 at symmetric x)
    // lowers r2 below 1 without moving the slope sign
    val noisy = (1 to 50).map(i =>
      ("n", i.toDouble, 3.0 * i + 2.0 + (if (i % 2 == 0) 5.0 else -5.0)))
      .toDF("g", "x", "y")
    val nf = graft.ops.Stats.olsFit(noisy, Seq("g"), F.col("x"), F.col("y"))
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(nf._3 > 2.5 && nf._3 < 3.5 && nf._5 < 1.0 && nf._5 > 0.9, nf.toString)
    // zero x-variance: NULL fit, not NaN/Infinity
    val flat = (1 to 10).map(i => ("f", 2.0, i.toDouble)).toDF("g", "x", "y")
    val ff = graft.ops.Stats.olsFit(flat, Seq("g"), F.col("x"), F.col("y"))
      .select("slope", "intercept", "r2").collect().head
    assert(ff.isNullAt(0) && ff.isNullAt(1) && ff.isNullAt(2), ff.toString)
  }

  test("chi2Tokens: perfectly-associated token tops; ubiquitous token scores 0") {
    // 10 docs: 5 in class A all containing 'alpha', 5 in B without; 'common'
    // appears everywhere (zero association); fillers push df over minDf
    val rows = (1 to 5).map(i => ("A", i.toLong, "alpha common filler")) ++
      (6 to 10).map(i => ("B", i.toLong, "beta common filler"))
    val df = rows.toDF("lang", "doc_id", "text")
    val out = graft.ops.TextOps.chi2Tokens(df, "lang", "doc_id", "text",
        minDf = 5, topK = 10)
      .as[(String, String, Long, Long, Double)].collect()
    val byTok = out.map(r => (r._1, r._2) -> r._5).toMap
    // alpha in A: a=5,b=0,c=0,d=5 -> chi2 = 10*(25)^2/(5*5*5*5) = 10
    assert(byTok(("A", "alpha")) == 10.0, out.mkString(", "))
    assert(byTok(("B", "beta")) == 10.0, out.mkString(", "))
    assert(byTok(("A", "common")) == 0.0 && byTok(("B", "common")) == 0.0,
      out.mkString(", "))
    // the perfectly-associated tokens rank first
    assert(out.take(2).map(_._2).toSet == Set("alpha", "beta"), out.mkString(", "))
  }

  test("tokenEntropy: uniform = log2(n); single-type = +0.0; TTR exact") {
    val df = Seq(
      ("u", "a b c d"),          // uniform over 4 types -> H = 2 bits
      ("s", "w w w w")           // single type -> H = 0 (and not -0.0)
    ).toDF("g", "text")
    val out = TextOps.tokenEntropy(df, Seq("g"), "text")
      .as[(String, Long, Long, Double, Double)].collect()
      .map { case (g, a, b, c, d) => g -> ((a, b, c, d)) }.toMap
    assert(out("u") == ((4L, 4L, 2.0, 1.0)), out("u").toString)
    val s = out("s")
    assert(s._1 == 4L && s._2 == 1L && s._3 == 0.0 && s._4 == 0.25, s.toString)
    // -0.0 normalization: the bit pattern must be +0.0
    assert(java.lang.Double.doubleToLongBits(s._3) == 0L, "entropy is +0.0")
  }

  test("corrPairs: perfect +/-1 on linear columns; constant column NULL; pair set") {
    // y = 2x (r = 1), z = -x (r = -1 with x, -1 with y), k constant (NULL r)
    val df = (1 to 20).map(i =>
      ("g", i.toDouble, 2.0 * i, -i.toDouble, 7.0)).toDF("g", "x", "y", "z", "k")
    val out = graft.ops.Stats.corrPairs(df, Seq("g"), Seq("x", "y", "z", "k"))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out.size == 6, out.toString)              // 4 choose 2
    assert(out(("x", "y")) == Some(1.0), out.toString)
    assert(out(("x", "z")) == Some(-1.0), out.toString)
    assert(out(("y", "z")) == Some(-1.0), out.toString)
    // constant column: zero variance -> NULL, never NaN
    assert(out(("x", "k")) == None && out(("y", "k")) == None &&
      out(("z", "k")) == None, out.toString)
  }

  test("welchTTest: hand-computed t on a planted shift; degenerate guards") {
    // A = {1..4} (mean 2.5, s^2 = 5/3), B = {11..14} (mean 12.5, same s^2)
    val rows = (1 to 4).map(i => ("g", "A", i.toDouble)) ++
      (11 to 14).map(i => ("g", "B", i.toDouble)) ++
      Seq(("one", "A", 1.0), ("one", "B", 2.0), ("one", "B", 3.0)) // nA = 1
    val out = graft.ops.Stats.welchTTest(rows.toDF("g", "cls", "v"),
      Seq("g"), F.col("cls"), F.col("v"), "A", "B").collect()
      .map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getLong(1) == 4L && g.getLong(2) == 4L, g.toString)
    assert(g.getDouble(3) == 2.5 && g.getDouble(4) == 12.5, g.toString)
    // se^2 = 2*(5/3)/4 = 5/6; t = -10/sqrt(5/6); df = 6 (equal n, equal var)
    assert(g.getDouble(5) == math.BigDecimal(-10.0 / math.sqrt(5.0 / 6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, g.toString)
    assert(g.getDouble(6) == 6.0, g.toString)
    // nA < 2: t and df NULL, means still reported
    val one = out("one")
    assert(one.isNullAt(5) && one.isNullAt(6) && one.getDouble(3) == 1.0,
      one.toString)
  }

  test("histogram: bin edges, empty bins emitted, out-of-range tallied not clamped") {
    val df = Seq(("g", 0.0), ("g", 9.99), ("g", 10.0), ("g", 39.99),
      ("g", 40.0), ("g", -1.0), ("g", 41.0), ("g", -5.0)).toDF("g", "v")
    val out = graft.ops.Stats.histogram(df, Seq("g"), F.col("v"),
      lo = 0.0, hi = 40.0, bins = 4)
      .as[(String, Int, Double, Double, Long, Long)].collect()
      .map(t => t._2 -> t).toMap
    assert(out.size == 4, out.toString)
    // [0,10): 0.0 and 9.99; [10,20): 10.0; [20,30): EMPTY; [30,40]: 39.99 + 40.0 (hi closed)
    assert(out(0)._5 == 2L && out(1)._5 == 1L && out(2)._5 == 0L &&
      out(3)._5 == 2L, out.toString)
    assert(out(0)._3 == 0.0 && out(0)._4 == 10.0 && out(3)._4 == 40.0,
      out.toString)
    // -1.0, 41.0, -5.0 out of range -> tallied, not clamped into bins 0/3
    assert(out.values.forall(_._6 == 3L), out.toString)
  }

  test("neymanAllocation: noisy strata draw the budget; constant strata get zero") {
    // A: constant (sd 0) -> alloc 0; B: sd 2x C's at same size -> 2x alloc
    val rows = (1 to 100).map(i => ("A", 5.0)) ++
      (1 to 100).map(i => ("B", if (i % 2 == 0) 10.0 else -10.0)) ++
      (1 to 100).map(i => ("C", if (i % 2 == 0) 5.0 else -5.0))
    val out = graft.ops.Sampling.neymanAllocation(rows.toDF("g", "v"),
      Seq("g"), F.col("v"), budget = 60)
      .as[(String, Long, Double, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("A")._5 == 0L && out("A")._4 == 0.0, out("A").toString)
    assert(out("B")._5 == 40L && out("C")._5 == 20L, // weights 2:1 over 60
      s"${out("B")} / ${out("C")}")
    assert(out("B")._6 == 0.4 && out("C")._6 == 0.2, out.toString)
    // alloc never exceeds the stratum size
    val tiny = (1 to 3).map(i => ("t", i.toDouble)).toDF("g", "v")
    val cap = graft.ops.Sampling.neymanAllocation(tiny, Seq("g"), F.col("v"), 1000)
      .select("alloc").as[Long].collect().head
    assert(cap == 3L, s"alloc capped at stratum size, got $cap")
  }

  test("benfordAudit: digits from scaled integers; skipped mass; expected shares") {
    val df = Seq(("g", 1.23), ("g", 19.99), ("g", 2.5), ("g", 0.034),
      ("g", -7.0), ("g", 0.0)).toDF("g", "v")
    val out = graft.ops.Stats.benfordAudit(df, Seq("g"), F.col("v"), scale = 100)
      .as[(String, Int, Long, Double, Double, Long)].collect()
      .map(t => t._2 -> t).toMap
    // scaled: 123 -> 1, 1999 -> 1, 250 -> 2, 3 -> 3; -7 and 0 skipped
    assert(out(1)._3 == 2L && out(2)._3 == 1L && out(3)._3 == 1L, out.toString)
    assert(out.values.forall(_._6 == 2L), out.toString)
    assert(out(1)._4 == 0.5, out.toString)
    // expected(1) = log10(2)
    assert(out(1)._5 == BigDecimal(math.log(2.0) / math.log(10.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, out.toString)
  }

  test("gini: uniform = 0; full concentration -> (n-1)/n; hand value") {
    val even = (1 to 4).map(i => ("e", i, 10L)).toDF("g", "m", "x")
    val e = graft.ops.Stats.gini(even, Seq("g"), F.col("x"))
      .as[(String, Long, Long, Double)].collect().head
    assert(e == (("e", 4L, 40L, 0.0)), e.toString)
    // one member holds everything: G = 1 - 1/n = 0.75 at n = 4
    val conc = Seq(("c", 1, 0L), ("c", 2, 0L), ("c", 3, 0L), ("c", 4, 100L))
      .toDF("g", "m", "x")
    val c = graft.ops.Stats.gini(conc, Seq("g"), F.col("x"))
      .as[(String, Long, Long, Double)].collect().head
    assert(c._4 == 0.75, c.toString)
    // hand: x = [1,2,3,4] asc -> G = 2*30/(4*10) - 5/4 = 0.25
    val hand = Seq(("h", 1, 3L), ("h", 2, 1L), ("h", 3, 4L), ("h", 4, 2L))
      .toDF("g", "m", "x")
    val h = graft.ops.Stats.gini(hand, Seq("g"), F.col("x"))
      .as[(String, Long, Long, Double)].collect().head
    assert(h._4 == 0.25, h.toString)
  }

  test("cusumDrift: closed form equals the recursion; resets at zero") {
    // K = 10; x = [12, 8, 15, 5, 20]: s = [2, 0, 5, 0, 10]
    val df = Seq(("g", 1, 12L), ("g", 2, 8L), ("g", 3, 15L), ("g", 4, 5L),
      ("g", 5, 20L)).toDF("g", "t", "v")
    val out = graft.ops.EventOps.cusumDrift(df, Seq("g"), F.col("t"),
      F.col("v"), target = 10L)
      .as[(String, Int, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    assert(out == Map(1 -> 2L, 2 -> 0L, 3 -> 5L, 4 -> 0L, 5 -> 10L),
      out.toString)
  }

  test("topPaths: lead chains respect the (ts, tie) order; boundary rows dropped") {
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "a"),
      (2L, 5L, "a"), (2L, 6L, "b"), (2L, 7L, "c"),
      (3L, 8L, "x"), (3L, 9L, "y") // too short for a 3-path
    ).toDF("user_id", "event_id", "et")
      .withColumn("ts", F.timestamp_micros(F.col("event_id") * 1000000L))
      .withColumn("event_type", F.col("et")).drop("et")
    val out = graft.ops.EventOps.topPaths(ev, n = 3, k = 10)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a>b>c" -> 2L, "b>c>a" -> 1L), out.toString)
  }

  test("rangeSearch: radius semantics — exactly the neighbors above threshold, no top-k cap") {
    // planted: q = e1; e2 ~ e1 (cos ~ 0.999), e3 orthogonal-ish, e4 = e1 copy
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.rangeSearch(vecs,
      vecs.filter(F.col("vec_id") === 1L), "vec_id", "embedding", 0.6)
      .as[(Long, Long, Double)].collect().map(_._2).toSet
    assert(out == Set(2L, 4L), out.toString) // 3 below, 5 at 0.5 below 0.6
    val loose = graft.ops.Similarity.rangeSearch(vecs,
      vecs.filter(F.col("vec_id") === 1L), "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().map(_._2).toSet
    assert(loose == Set(2L, 4L, 5L), loose.toString) // 5 at cos 0.5 enters
  }

  test("trimmedMean: a planted outlier moves the mean but not the trimmed mean") {
    // 10 clean values 1..10 (mean 5.5) + one 1e6 spike; trim 0.1 cuts
    // ceil(1.1)=2 rows off each end of the 11 -> keeps ranks 3..9 = 3..9
    val df = ((1 to 10).map(i => ("t", i.toLong, i.toDouble)) :+
      (("t", 99L, 1e6))).toDF("g", "id", "v")
    val out = graft.ops.Stats.trimmedMean(df, Seq("g"), F.col("v"),
      F.col("id"), trim = 0.1)
      .as[(String, Long, Long, Double)].collect().head
    assert(out._2 == 11L && out._3 == 7L, out.toString)
    assert(out._4 == 6.0, out.toString) // mean of 3..9
    // trim 0 degenerates to the plain mean
    val plain = graft.ops.Stats.trimmedMean(df, Seq("g"), F.col("v"),
      F.col("id"), trim = 0.0)
      .as[(String, Long, Long, Double)].collect().head
    assert(plain._3 == 11L, plain.toString)
  }

  test("winsorize: sampled rank bounds clip exactly; inliers untouched") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = graft.ops.Stats.winsorize(df, F.col("v"), F.col("id"),
      pLo = 0.05, pHi = 0.95, samplePrefix = "ffff") // whole table sampled
      .select("id", "v", "lo", "hi", "clipped")
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    val (lo, hi) = (out(1L)._3, out(1L)._4)
    assert(lo == 5.0 && hi == 95.0, s"bounds ($lo, $hi)")
    assert(out(1L)._5 == 5.0 && out(100L)._5 == 95.0, "tails clipped")
    assert(out(50L)._5 == 50.0, "inlier untouched")
  }

  test("lastTouchAttribution: recent touch credited; stale and absent go direct") {
    def r(u: Long, id: Long, et: String, sec: Long) = (u, id, et, sec * 1000000L)
    val ev = Seq(
      r(1, 1, "click", 0), r(1, 2, "purchase", 100),      // click credited
      r(2, 3, "view", 0), r(2, 4, "purchase", 90000),     // stale (> 1h) -> direct
      r(3, 5, "purchase", 50),                            // no touch -> direct
      r(4, 6, "view", 0), r(4, 7, "click", 10), r(4, 8, "purchase", 20) // LAST touch wins
    ).toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    val out = graft.ops.EventOps.lastTouchAttribution(ev, "purchase",
      windowUs = 3600L * 1000000L)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(out == Map("click" -> 2L, "direct" -> 2L), out.toString)
  }

  test("withCodeScore: code scores above prose; counts are exact") {
    val df = Seq(
      (1L, "def total_sum(xs): return sum(xs) if xs else 0"),
      (2L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val out = TextOps.withCodeScore(df, "text")
      .select("doc_id", "n_symbols", "n_code_keywords", "n_idents", "code_score")
      .as[(Long, Int, Int, Int, Double)].collect().map(t => t._1 -> t).toMap
    val code = out(1L); val prose = out(2L)
    // def, return, if, else = 4 keywords; (xs): ( ) ( ) = symbols; total_sum snake
    assert(code._3 == 4 && code._2 >= 4 && code._4 >= 1, code.toString)
    assert(prose._2 == 0 && prose._3 == 0 && prose._4 == 0, prose.toString)
    assert(code._5 > prose._5 && prose._5 == 0.0, s"$code vs $prose")
  }

  test("withReadability: hand counts and score; empty doc NULL score") {
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),  // 6 words, 2 sentences, 6 syllable runs
      (2L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.withReadability(df, "text")
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getInt(1) == 6 && r1.getInt(2) == 2, r1.toString)
    val sy = r1.getInt(3)
    val exp = BigDecimal(206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (sy / 6.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r1.getDouble(4) == exp, s"${r1.getDouble(4)} vs $exp")
    assert(out(2L).isNullAt(4), "empty doc -> NULL flesch")
  }

  test("rendezvousAssign: deterministic; removing one shard moves ONLY its keys") {
    val keys = (1L to 500L).toDF("k")
    val shards = (0 until 5).map(i => s"n$i")
    val a = graft.ops.Scale.rendezvousAssign(keys, F.col("k"), shards)
      .as[(Long, String)].collect().toMap
    val b = graft.ops.Scale.rendezvousAssign(keys, F.col("k"), shards)
      .as[(Long, String)].collect().toMap
    assert(a == b, "assignment must be deterministic")
    // every shard gets a reasonable share (md5 is uniform)
    val byShard = a.values.groupBy(identity).view.mapValues(_.size)
    assert(byShard.size == 5 && byShard.values.forall(_ > 50), byShard.toMap.toString)
    // remove n4: exactly n4's keys move, nobody else's assignment changes
    val without = graft.ops.Scale.rendezvousAssign(keys, F.col("k"),
      shards.filterNot(_ == "n4")).as[(Long, String)].collect().toMap
    a.foreach { case (k, s) =>
      if (s == "n4") assert(without(k) != "n4", s"key $k must leave n4")
      else assert(without(k) == s, s"key $k moved needlessly: $s -> ${without(k)}")
    }
  }

  test("rfmScores: quartiles rank the planted extremes; rfm composes digits") {
    // 8 users: user i has i events at second i with value i
    val ev = (1L to 8L).flatMap(u => (1L to u).map(j =>
      (u, u * 1000000L, j.toDouble))).toDF("user_id", "us", "value")
      .withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    val out = graft.ops.EventOps.rfmScores(ev)
      .as[(Long, Long, Long, Double, Int, Int, Int, Int)].collect()
      .map(t => t._1 -> t).toMap
    // user 8: most recent, most events, highest total -> 444
    assert(out(8L)._8 == 444, out(8L).toString)
    // user 1: oldest, fewest, lowest -> 111
    assert(out(1L)._8 == 111, out(1L).toString)
    // 8 users into 4 tiles -> 2 per tile on every axis
    assert(out.values.count(_._5 == 1) == 2 && out.values.count(_._5 == 4) == 2,
      out.values.map(_._5).toSeq.sorted.toString)
  }

  test("splitLeakage: cross-split dup texts counted; within-split dups ignored") {
    // force split by id parity-ish: use a salt-free id split over a
    // constructed table where we can P(dup crosses) deterministically by
    // checking the actual assignment first
    val docs = (1L to 200L).map(i => (i, s"text-${i % 50}")).toDF("doc_id", "text")
    val weights = Seq("train" -> 0.5, "test" -> 0.5)
    val assigned = graft.ops.Sampling.splitAssign(docs, F.col("doc_id"), weights)
    // ground truth: per text the split counts
    val truth = assigned.groupBy("text").agg(
      F.sum(F.when(F.col("split") === "train", 1L).otherwise(0L)).as("ct"),
      F.sum(F.when(F.col("split") === "test", 1L).otherwise(0L)).as("cs"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val expFps = truth.count { case (a, b) => a > 0 && b > 0 }.toLong
    val expPairs = truth.map { case (a, b) => a * b }.sum
    val out = graft.ops.Curation.splitLeakage(docs, "doc_id", "text", weights)
      .as[(String, String, Long, Long)].collect().head
    assert(out == (("train", "test", expFps, expPairs)), s"$out vs ($expFps, $expPairs)")
    assert(expFps > 0, "fixture must actually leak") // 4 copies of each text
  }

  test("powerlawAlphaBy: per-group alpha equals the global formula per slice") {
    val deg = (Seq(("a", 2L), ("a", 4L), ("a", 8L), ("a", 1L)) ++
      Seq(("b", 3L), ("b", 9L), ("b", 27L))).toDF("g", "d")
    val out = graft.ops.Stats.powerlawAlphaBy(deg, Seq("g"), F.col("d"), 2)
      .as[(String, Long, Int, Double)].collect().map(t => t._1 -> t).toMap
    def alpha(ds: Seq[Double]) = {
      val terms = ds.map(d => BigDecimal(math.log(d / 1.5)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      BigDecimal(1.0 + ds.size / terms.sum).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out("a") == (("a", 3L, 2, alpha(Seq(2, 4, 8)))), out("a").toString)
    assert(out("b") == (("b", 3L, 2, alpha(Seq(3, 9, 27)))), out("b").toString)
  }

  test("ngramContainment: a quote scores 1 against its source; direction asymmetric") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words entirely")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val out = graft.ops.Dedup.ngramContainment(pairs, docs, "doc_id", "text")
      .as[(Long, Long, Int, Int, Int, Double, Double)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    val q = out((1L, 2L))
    assert(q._6 == 1.0, q.toString)        // doc 1 fully contained in doc 2
    assert(q._7 < 1.0, q.toString)         // doc 2 NOT contained in doc 1
    assert(out((1L, 3L))._6 == 0.0, out((1L, 3L)).toString)
  }

  test("funnelReachWithin: conversions outside the deadline do not advance") {
    def row(u: Long, id: Long, et: String, sec: Long) =
      (u, id, et, sec * 1000000L)
    val ev = Seq(
      row(1, 1, "view", 0), row(1, 2, "click", 100),      // converts in time
      row(2, 3, "view", 0), row(2, 4, "click", 5000),     // too late (> 1h)
      row(3, 5, "view", 0)                                // never clicks
    ).toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    val out = graft.ops.EventOps.funnelReachWithin(ev,
      Seq("view", "click"), withinUs = 3600L * 1000000L)
      .as[(Int, String, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(out == Map(1 -> 3L, 2 -> 1L), out.toString)
  }

  test("degreeAssortativity: star = -1; regular graph NULL; edge count halves the sym pairs") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val sOut = graft.ops.Graph.degreeAssortativity(star, "s", "d").collect().head
    assert(sOut.getLong(0) == 3L && sOut.getDouble(1) == -1.0, sOut.toString)
    // triangle: every degree 2 -> zero variance -> NULL r
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("s", "d")
    val tOut = graft.ops.Graph.degreeAssortativity(tri, "s", "d").collect().head
    assert(tOut.getLong(0) == 3L && tOut.isNullAt(1), tOut.toString)
  }

  test("leadLagCorr: planted 2-day lead found at its lag; self-corr = 1 at lag 0") {
    // b(t) = a(t - 2): perfect correlation at lag +2 (b trails a by 2)
    val a = (1 to 30).map(i => (i, (i * 7 % 13).toDouble)).toDF("t", "v")
    val b = (1 to 30).map(i => (i + 2, (i * 7 % 13).toDouble)).toDF("t", "v")
    val out = graft.ops.Stats.leadLagCorr(a, b, "t", "v", maxLag = 3)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(2) == Some(1.0), out.toString)
    assert(out(0) != Some(1.0), out.toString)
    val self = graft.ops.Stats.leadLagCorr(a, a, "t", "v", maxLag = 1)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(self(0) == Some(1.0), self.toString)
  }

  test("entryExitCensus: entry/exit per session; bounces counted; tie order respected") {
    val ev = Seq(
      // u1 session 1: view -> click -> purchase; session 2 (gap > 30m): error alone
      (1L, 1L, "view", 0L), (1L, 2L, "click", 60L), (1L, 3L, "purchase", 120L),
      (1L, 4L, "error", 10000L),
      // u2: single-event session (bounce)
      (2L, 5L, "view", 0L)
    ).toDF("user_id", "event_id", "event_type", "sec")
      .withColumn("ts", F.timestamp_micros(F.col("sec") * 1000000L))
      .withColumn("value", F.lit(1.0)).drop("sec")
    val out = graft.ops.EventOps.entryExitCensus(ev)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      ("view", "purchase") -> ((1L, 0L)),
      ("error", "error") -> ((1L, 1L)),
      ("view", "view") -> ((1L, 1L))), out.toString)
  }

  test("tokenBurstiness: bursty token outranks the uniform one; zeros fold in") {
    // 10 docs; 'flat' once per doc (VMR -> 0-ish); 'burst' 10x in one doc
    val docs = (1 to 10).map { i =>
      val burst = if (i == 1) " burst" * 10 else ""
      (i.toLong, s"flat filler$burst")
    }.toDF("doc_id", "text")
    val out = graft.ops.TextOps.tokenBurstiness(docs, "doc_id", "text",
      minDf = 1, topK = 10)
      .as[(String, Long, Long, Double, Double)].collect()
    val byTok = out.map(t => t._1 -> t).toMap
    assert(out.head._1 == "burst", out.mkString(", "))
    // flat: k = 1 in every doc -> variance 0 -> VMR 0
    assert(byTok("flat")._5 == 0.0, byTok("flat").toString)
    // burst: df 1, total 10, mean 1; var = (100 - 10*1)/9 = 10 -> VMR 10
    assert(byTok("burst") == (("burst", 1L, 10L, 1.0, 10.0)),
      byTok("burst").toString)
  }

  test("rankBlend: percentiles order with the metric; blend averages the rounded pcts") {
    // ids 1..400: metric a ascending, metric b DESCENDING — blend flattens
    val df = (1 to 400).map(i => (i.toLong, i.toDouble, (401 - i).toDouble))
      .toDF("id", "a", "b")
    val out = graft.ops.Curation.rankBlend(df, "id",
      Seq("a" -> F.col("a"), "b" -> F.col("b")), nBins = 10,
      samplePrefix = "ffff") // keep the whole table as sample
      .select("id", "pct_a", "pct_b", "blend")
      .as[(Long, Double, Double, Double)].collect().map(t => t._1 -> t).toMap
    // monotone: larger a -> pct_a never decreases
    assert(out(400L)._2 == 1.0 && out(1L)._2 == 0.0, out(400L).toString)
    assert(out(400L)._3 == 0.0 && out(1L)._3 == 1.0, out(1L).toString)
    // blend is the mean of the two rounded percentiles
    val r = out(123L)
    assert(r._4 == BigDecimal((r._2 + r._3) / 2.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, r.toString)
  }

  test("seasonalZ: same-hour baseline flags the spike day only") {
    // type t, hour 9 across 5 days: counts 10,10,10,10,30 -> day 5 z > 2
    val rows = (1 to 4).flatMap(d => (1 to 10).map(i =>
      ("t", s"2026-01-0$d 09:${"%02d".format(i)}:00"))) ++
      (1 to 30).map(i => ("t", s"2026-01-05 09:${"%02d".format(i)}:00"))
    val ev = rows.toDF("event_type", "s")
      .withColumn("ts", F.to_timestamp(F.col("s"))).drop("s")
    val out = graft.ops.EventOps.seasonalZ(ev)
      .as[(String, String, Int, Long, Double, Double, Double)].collect()
      .map(t => t._2 -> t).toMap
    assert(out("2026-01-05")._7 > 1.7, out("2026-01-05").toString)
    assert(math.abs(out("2026-01-01")._7) < 1.0, out("2026-01-01").toString)
    assert(out("2026-01-01")._5 == 14.0, out("2026-01-01").toString) // mean 70/5
  }

  test("powerlawAlpha: recovers alpha on a planted Zipf tail; below-dmin dropped") {
    // exact alpha=2 continuous-MLE fixture: alpha = 1 + n / sum ln(d/1.5)
    // planted degrees 2,3,4,6,9 -> compute expected by the same formula
    val deg = Seq(1L, 1L, 2L, 3L, 4L, 6L, 9L).zipWithIndex
      .map { case (d, i) => (i.toLong, d) }.toDF("k", "d")
    val out = graft.ops.Stats.powerlawAlpha(deg, F.col("d"), dmin = 2)
      .as[(Long, Int, Double)].collect().head
    assert(out._1 == 5L, out.toString) // the two d=1 rows dropped
    val terms = Seq(2.0, 3.0, 4.0, 6.0, 9.0)
      .map(d => BigDecimal(math.log(d / 1.5)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    val expect = BigDecimal(1.0 + 5.0 / terms.sum).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out._3 == expect, s"${out._3} vs $expect")
  }

  test("mutualInfo: independent columns -> 0; identical columns -> MI = H; nmi = 1") {
    // independent: every (a, b) combo equally likely
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val i = graft.ops.Stats.mutualInfo(ind, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(i._4 == 0.0 && i._2 == 1.0 && i._3 == 1.0, i.toString)
    // identical: MI = H(A) = 1 bit at a 50/50 split, nmi = 1
    val same = (Seq.fill(10)("x") ++ Seq.fill(10)("y")).map(v => (v, v))
      .toDF("a", "b")
    val s = graft.ops.Stats.mutualInfo(same, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(s._4 == 1.0 && s._5 == 1.0, s.toString)
  }

  test("funnelLatency: gaps between first-touch frontiers; rank-selected quantiles") {
    def ts(s: Long) = s * 1000000L
    val ev = Seq(
      // u1: view@10 -> click@20 (lat 10s) -> purchase@50 (lat 30s)
      (1L, 1L, "view", ts(10)), (1L, 2L, "click", ts(20)),
      (1L, 3L, "purchase", ts(50)),
      // u2: view@0 -> click@40 (lat 40s), never purchases
      (2L, 4L, "view", ts(0)), (2L, 5L, "click", ts(40)),
      // u3: click@5 BEFORE view@10 -> click never counts (strict after)
      (3L, 6L, "click", ts(5)), (3L, 7L, "view", ts(10))
    ).toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    val out = graft.ops.EventOps.funnelLatency(ev,
      Seq("view", "click", "purchase"), qs = Seq(0.5, 1.0))
      .as[(Int, String, String, Double, Long, Long)].collect()
      .map(t => (t._1, t._4) -> ((t._5, t._6))).toMap
    // step 1 latencies: [10s, 40s] -> p50 = 10s (rank 1), p100 = 40s
    assert(out((1, 0.5)) == ((ts(10), 2L)), out.toString)
    assert(out((1, 1.0)) == ((ts(40), 2L)), out.toString)
    // step 2: only u1 -> 30s at every quantile
    assert(out((2, 0.5)) == ((ts(30), 1L)) && out((2, 1.0)) == ((ts(30), 1L)),
      out.toString)
  }

  test("assocRules: hand-computed support/confidence/lift; direction matters") {
    // baskets: {a,b}, {a,b}, {a}, {b,c} -> N=4, na=3, nb=3, nc=1, nab=2
    val bi = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"),
      (4, "b"), (4, "c"), (4, "c")).toDF("bk", "it") // dup (4,c) collapses
    val out = graft.ops.EventOps.assocRules(bi, "bk", "it", minCount = 1)
      .as[(String, String, Long, Double, Double, Double)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    val ab = out(("a", "b"))
    assert(ab._3 == 2L && ab._4 == 0.5, ab.toString)            // support 2/4
    assert(ab._5 == BigDecimal(2.0 / 3.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, ab.toString)   // conf 2/3
    assert(ab._6 == BigDecimal(2.0 * 4.0 / 9.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, ab.toString)   // lift 8/9
    // direction: b->c exists (1 basket), c->b same count, different conf
    assert(out(("b", "c"))._5 != out(("c", "b"))._5, out.toString)
    assert(out(("c", "b"))._5 == 1.0, out.toString)              // c always with b
  }

  test("hllSliding: trailing union covers buckets the anchor hour never touched") {
    // hour 0: users 1..100; hour 1: user 200 only; hour 2: empty-ish (user 1)
    val rows = (1 to 100).map(u => (0L, u.toLong)) ++ Seq((1L, 200L)) ++
      Seq((2L, 1L))
    val df = rows.toDF("h", "u")
    val w2 = graft.ops.Sketches.hllSliding(df, F.col("h"), F.col("u"),
      windowBuckets = 2).as[(Long, Double)].collect().toMap
    val w1 = graft.ops.Sketches.hllSliding(df, F.col("h"), F.col("u"),
      windowBuckets = 1).as[(Long, Double)].collect().toMap
    // window 1 at hour 1 sees ONLY user 200; window 2 sees 101 distinct
    // (tolerance 2.3σ at p=8: ±1.04/sqrt(256) ≈ 6.5% per estimate)
    assert(w1(1L) < 2.5, w1.toString)
    assert(math.abs(w2(1L) - 101.0) < 15.5, w2.toString)
    // hour 2 trailing-2 = {1, 200}: the hour-1-only register survives
    assert(math.abs(w2(2L) - 2.0) < 0.5, w2.toString)
    // the one-shot sketch at hour 0 equals the batch hllDistinct estimate
    val batch = graft.ops.Sketches.hllDistinct(
      df.filter(F.col("h") === 0L), Seq("h"), F.col("u"))
      .as[(Long, Double)].collect().toMap
    assert(w1(0L) == batch(0L), s"${w1(0L)} vs ${batch(0L)}")
  }

  test("ewmaSmooth: hand-folded recursion; lookback truncates the seed") {
    val df = Seq(("g", 1, 10.0), ("g", 2, 1.0), ("g", 3, 2.0))
      .toDF("g", "t", "v")
    val full = graft.ops.EventOps.ewmaSmooth(df, Seq("g"), F.col("t"),
      F.col("v"), alpha = 0.3, lookback = 16)
      .as[(String, Int, Double, Double)].collect().map(r => r._2 -> r._4).toMap
    // s1 = 10; s2 = .3*1 + .7*10 = 7.3; s3 = .3*2 + .7*7.3 = 5.71
    assert(full == Map(1 -> 10.0, 2 -> 7.3, 3 -> 5.71), full.toString)
    // lookback 2: the t=3 frame is [1, 2] -> seed 1, fold .3*2+.7*1 = 1.3
    val trunc = graft.ops.EventOps.ewmaSmooth(df, Seq("g"), F.col("t"),
      F.col("v"), alpha = 0.3, lookback = 2)
      .as[(String, Int, Double, Double)].collect().map(r => r._2 -> r._4).toMap
    assert(trunc(3) == 1.3, trunc.toString)
  }

  test("holtSmooth: hand-folded two-state recursion; beta=0 collapses " +
      "to ewmaSmooth's level with zero trend") {
    val df = Seq(("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, 3.0))
      .toDF("g", "t", "v")
    val got = graft.ops.EventOps.holtSmooth(df, Seq("g"), F.col("t"),
      F.col("v"), alpha = 0.4, beta = 0.2, lookback = 16)
      .as[(String, Int, Double, Double, Double, Double)].collect()
      .map(r => r._2 -> ((r._4, r._5, r._6))).toMap
    // t=1: l=1, b=0, f=1
    // t=2: l = .4*2 + .6*(1+0) = 1.4; b = .2*(1.4-1) + .8*0 = 0.08
    // t=3: l = .4*3 + .6*(1.4+.08) = 2.088;
    //      b = .2*(2.088-1.4) + .8*.08 = 0.2016; f = 2.2896
    assert(got == Map(
      1 -> ((1.0, 0.0, 1.0)),
      2 -> ((1.4, 0.08, 1.48)),
      3 -> ((2.088, 0.2016, 2.2896))), got.toString)
    // beta = 0: the trend state stays at its 0 seed, so the level
    // recursion IS the ewma recursion — cross-op consistency law
    val h0 = graft.ops.EventOps.holtSmooth(df, Seq("g"), F.col("t"),
      F.col("v"), alpha = 0.3, beta = 0.0, lookback = 16)
      .as[(String, Int, Double, Double, Double, Double)].collect()
      .map(r => r._2 -> ((r._4, r._5))).toMap
    val ew = graft.ops.EventOps.ewmaSmooth(df, Seq("g"), F.col("t"),
      F.col("v"), alpha = 0.3, lookback = 16)
      .as[(String, Int, Double, Double)].collect()
      .map(r => r._2 -> r._4).toMap
    for (t <- 1 to 3) {
      assert(h0(t)._1 == ew(t), s"t=$t: holt level ${h0(t)._1} vs ewma ${ew(t)}")
      assert(h0(t)._2 == 0.0, s"t=$t: trend must stay 0 at beta=0")
    }
  }

  test("markovAttribution: hand chain — on-path channels carry the " +
      "removal mass, off-path channels read exactly zero") {
    import graft.ops.EventOps
    // u1: view -> click -> purchase; u2: view -> error (drops);
    // u3: click -> purchase. Conversion flows ONLY through click.
    val rows = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "purchase"),
      ("u2", 1L, "view"), ("u2", 2L, "error"),
      ("u3", 1L, "click"), ("u3", 2L, "purchase"))
    val ev = rows.zipWithIndex.map { case ((u, t, ty), i) =>
      (u, java.sql.Timestamp.valueOf(s"2026-01-01 00:0$t:00"), i.toLong, ty)
    }.toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.markovAttribution(ev,
      Seq("click", "error", "signup", "view"), "purchase", rounds = 8)
      .as[(String, Double, Double, Option[Double], Option[Double])]
      .collect().toSeq
    // q(start,view)=2/3, q(start,click)=1/3, q(view,click)=q(view,error)
    // =1/2, q(click,conv)=1, q(error,drop)=1 ->
    // conv_full = 1/3 + 2/3*1/2 = 2/3; removing click kills ALL
    // conversion (removal 1), removing view leaves 1/3 (removal 1/2),
    // error/signup are off the conversion path (removal exactly 0)
    assert(got.map(_._1) == Seq("click", "error", "signup", "view"))
    val by = got.map(r => r._1 -> r).toMap
    assert(by("click")._2 == 0.666667 && by("click")._3 == 0.0 &&
      by("click")._4.contains(1.0) && by("click")._5.contains(0.666667),
      by("click"))
    assert(by("view")._3 == 0.333333 && by("view")._4.contains(0.5) &&
      by("view")._5.contains(0.333333), by("view"))
    assert(by("error")._4.contains(0.0) && by("error")._5.contains(0.0))
    assert(by("signup")._4.contains(0.0) && by("signup")._5.contains(0.0))
  }

  test("canonicalizeUrl: every rule on hand variants; census counts the " +
      "collapses exact-hash dedup would miss") {
    import graft.ops.Curation
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/",          // case+www+port+slash
      "https://example.com/a",                    // canonical twin of ^
      "http://example.com:80/a?utm_source=x&b=2#frag", // port+utm+frag
      "http://example.com/a?b=2",                 // canonical twin of ^
      "https://example.com/p?a=1&utm_x=2&b=3",    // mid utm, order kept
      "https://example.com/p?utm_campaign=only",  // query disappears
      "not a url",                                // passthrough
      "https://example.com/q?xgclid=5&id=2",      // NOT tracking: name
                                                  // merely ENDS in gclid
      "http://example.com:443/h",                 // :443 under http is a
                                                  // real port — kept
      "https://example.com/r?utm_a=1&utm_b=2&id=3") // consecutive run
    val df = urls.toDF("url")
    val canon = df.select(Curation.canonicalizeUrl(F.col("url")).as("c"))
      .as[String].collect().toSeq
    assert(canon == Seq(
      "https://example.com/a", "https://example.com/a",
      "http://example.com/a?b=2", "http://example.com/a?b=2",
      "https://example.com/p?a=1&b=3", "https://example.com/p",
      "not a url",
      "https://example.com/q?xgclid=5&id=2",
      "http://example.com:443/h",
      "https://example.com/r?id=3"), canon)
    val census = Curation.urlDedupCensus(df, "url")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // 10 urls, 10 raw distinct, 8 canonical; 1 tracking-mid +
    // 1 tracking-q + 1 tracking-only + 1 run = 4 (the ?xgclid decoy is
    // NOT counted); 1 www; 1 upper host; 1 fragment; 2 groups collapse
    // one extra variant each
    assert(census == ((10L, 10L, 8L, 4L, 1L, 1L, 1L, 2L, 2L)), census)
  }

  test("personalizedPageRank: hand-replayed 3 rounds on a path with an " +
      "unreachable component; dangling mass restarts at the seeds") {
    import graft.ops.Graph
    // 1 -> 2 -> 3 (seed: 1), plus 9 -> 10 unreachable from the seed
    val e = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("src", "dst")
    val got = Graph.personalizedPageRank(e, "src", "dst", iters = 3,
      seedFilter = Some(F.col("node") === 1L))
      .as[(Long, Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // r0 = {1: 1}; r1 = {1: .15, 2: .85}
    // r2 = {1: .15, 2: .1275, 3: .7225}
    // r3: dangling (node 3, od 0) mass .7225 restarts at the seed:
    //   1: .15 + .85*.7225 = .764125; 2: .85*.15 = .1275;
    //   3: .85*.1275 = .108375; 9, 10: never reachable -> 0
    assert(got == Map(
      1L -> ((1, 0.764125)), 2L -> ((0, 0.1275)),
      3L -> ((0, 0.108375)), 9L -> ((0, 0.0)), 10L -> ((0, 0.0))), got)
    val k = intercept[IllegalArgumentException](
      Graph.personalizedPageRank(e, "src", "dst", iters = 1, nSeeds = 0))
    assert(k.getMessage.contains("nSeeds"))
  }

  test("ransacLine: consensus fit recovers the planted line that drags " +
      "OLS; degenerate (vertical-only) input yields an empty result") {
    import graft.ops.Stats
    // y = 2x + 1 for x = 1..30, plus 5 gross outliers at y = 1000
    val pts = (1 to 30).map(x => (x.toLong, 2L * x + 1L)) ++
      (31 to 35).map(x => (x.toLong, 1000L))
    val df = pts.toDF("x", "y")
    val got = Stats.ransacLine(df, F.col("x"), F.col("y"),
      nCandidates = 8, tol = 0.5)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(got._1 == 35L, got)
    assert(got._4 == 30L, s"all 30 true-line points are inliers: $got")
    assert(got._5 == 2.0 && got._6 == 1.0 && got._7 == 1.0, got)
    // plain OLS on the same data is dragged far off the true slope
    val ols = Stats.olsFit(df, Nil, F.col("x"), F.col("y"))
      .select("slope").as[Double].head()
    assert(math.abs(ols - 2.0) > 1.0, s"OLS should be dragged: $ols")
    // every pivot pair vertical (same x) -> no model -> empty, not NaN
    val vert = Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)).toDF("x", "y")
    assert(Stats.ransacLine(vert, F.col("x"), F.col("y"),
      nCandidates = 4, tol = 1.0).count() == 0L)
    val e = intercept[IllegalArgumentException](
      Stats.ransacLine(df, F.col("x"), F.col("y"), nCandidates = 0))
    assert(e.getMessage.contains("nCandidates"))
  }

  test("linearCka: self = 1; invariant under dim permutation and " +
      "isotropic scale; unrelated space scores lower; constant NULL") {
    import graft.ops.Similarity
    val vecs = Seq(
      Array(1.0f, 2.0f, 0.5f), Array(0.2f, -1.0f, 1.5f),
      Array(-0.7f, 0.3f, 2.0f), Array(1.1f, 0.9f, -0.4f),
      Array(0.0f, 1.7f, 0.8f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "a")
    def cka(d: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.Column) =
      Similarity.linearCka(d, F.col("a"), b)
        .select("cka").as[Option[Double]].head()
    assert(cka(df, F.col("a")).contains(1.0))
    // permutation of dimensions is orthogonal -> CKA unchanged
    val perm = df.withColumn("b", F.array(
      F.col("a")(2), F.col("a")(0), F.col("a")(1)))
    assert(cka(perm, F.col("b")).exists(v => v >= 0.999999), cka(perm, F.col("b")))
    // isotropic scaling -> unchanged
    val scaled = df.withColumn("b", F.transform(F.col("a"),
      x => x * F.lit(3.0)))
    assert(cka(scaled, F.col("b")).exists(v => v >= 0.999999))
    // an unrelated space (per-row hash pattern) scores strictly lower
    val other = df.withColumn("b", F.array(
      (F.col("id") % 2).cast("double"), (F.col("id") % 3).cast("double"),
      F.lit(1.0) - (F.col("id") % 2).cast("double") * 2.0))
    val o = cka(other, F.col("b"))
    assert(o.exists(v => v < 0.9), o)
    // constant B has zero centered norm -> NULL, never NaN
    val const = df.withColumn("b", F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0)))
    assert(cka(const, F.col("b")).isEmpty)
  }

  test("classicalDecompose: pure weekly signal yields constant trend, " +
      "exact dow offsets, zero remainder; edges report NULL trend") {
    // two full weeks of v = [10..70] keyed to day-of-week, starting
    // Monday 2026-01-05: any centered 7-row MA is the pattern mean 40,
    // so seasonal = pattern - 40 and interior remainders are exactly 0
    val days = (0 until 14).map { i =>
      val d = java.time.LocalDate.of(2026, 1, 5).plusDays(i)
      ("g", java.sql.Date.valueOf(d), (i % 7 + 1) * 10L)
    }
    val df = days.toDF("g", "t", "v")
    val got = graft.ops.EventOps.classicalDecompose(df, Seq("g"),
      F.col("t"), F.col("v"), window = 7)
      .as[(String, java.sql.Date, Long, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._2.toString)
    assert(got.length == 14)
    // edge rows (first 3, last 3): no full frame -> NULL trend/remainder
    for (r <- got.take(3) ++ got.takeRight(3)) {
      assert(r._4.isEmpty && r._6.isEmpty, r)
    }
    // interior rows: trend 40, remainder 0, seasonal = v - 40
    for (r <- got.slice(3, 11)) {
      assert(r._4.contains(40.0), r)
      assert(r._5.contains(r._3.toDouble - 40.0), r)
      assert(r._6.contains(0.0) || r._6.contains(-0.0), r)
    }
    // seasonal offsets center: the 7 distinct offsets sum to 0
    val offs = got.flatMap(_._5).distinct
    assert(offs.length == 7 && math.abs(offs.sum) < 1e-9, offs.toSeq)
  }

  test("randomizedResponse: md5 draws replay by hand; de-biased " +
      "estimates sum to n (the k-RR identity); p guard is loud") {
    import graft.ops.Curation
    // categories a, b, c (rn 1, 2, 3); k = 3, p = 0.75, q = 0.125
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "a"))
      .toDF("id", "cat")
    val got = Curation.randomizedResponse(df, "cat", "id", p = 0.75)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // hand replay of the op's draws
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h24(tag: String, id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"rr|$tag|$id").take(6), 16)
    val cats = Seq("a", "b", "c")
    val rnOf = Map("a" -> 1L, "b" -> 2L, "c" -> 3L)
    val trueCat = Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "c", 5L -> "a")
    val reported = (1L to 5L).map { id =>
      val u = (h24("keep", id).toDouble + 0.5) / 16777216.0
      val rn = rnOf(trueCat(id))
      if (u < 0.75) rn
      else {
        val j = h24("alt", id) % 2L
        if (j + 1L < rn) j + 1L else j + 2L
      }
    }
    val obs = reported.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val q = (1.0 - 0.75) / 2.0
    val expect = cats.map { c =>
      val rn = rnOf(c)
      val cObs = obs.getOrElse(rn, 0L)
      (c, Map("a" -> 3L, "b" -> 1L, "c" -> 1L)(c), cObs,
        r6((cObs.toDouble - 5.0 * q) / (0.75 - q)),
        r6(math.log(0.75 * 2.0 / 0.25)))
    }
    assert(got == expect, s"$got vs $expect")
    // k-RR identity: sum of de-biased estimates equals n (up to 6-dp)
    assert(math.abs(got.map(_._4).sum - 5.0) < 1e-5, got.map(_._4).sum)
    val e = intercept[IllegalArgumentException](
      Curation.randomizedResponse(df, "cat", "id", p = 1.0))
    assert(e.getMessage.contains("p must be"))
    // degenerate regimes fail FAST at construction, not mid-job:
    // k = 1 would make the flip draw % 0 (ANSI throw at runtime),
    // p <= 1/k a non-positive de-bias denominator
    val one = Seq((1L, "a"), (2L, "a")).toDF("id", "cat")
    val e1 = intercept[IllegalArgumentException](
      Curation.randomizedResponse(one, "cat", "id", p = 0.75))
    assert(e1.getMessage.contains(">= 2 categories"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Curation.randomizedResponse(df, "cat", "id", p = 0.25))
    assert(e2.getMessage.contains("must exceed 1/k"), e2.getMessage)
  }

  test("retentionCohorts: first-day cohorts, offsets, day-0 rates") {
    val ev = Seq(
      ("u1", "2026-01-01 10:00:00"), ("u1", "2026-01-02 09:00:00"),
      ("u1", "2026-01-04 12:00:00"), ("u1", "2026-01-01 23:59:59"), // same-day dup collapses
      ("u2", "2026-01-01 08:00:00"),
      ("u3", "2026-01-02 11:00:00"), ("u3", "2026-01-03 11:00:00")
    ).toDF("user_id", "s").withColumn("ts", F.to_timestamp(F.col("s")))
      .drop("s")
    val out = graft.ops.EventOps.retentionCohorts(ev, "user_id", "ts", 14)
      .as[(java.sql.Date, Int, Long, Double)].collect()
      .map(t => (t._1.toString, t._2) -> ((t._3, t._4))).toMap
    assert(out == Map(
      ("2026-01-01", 0) -> ((2L, 1.0)),      // u1, u2
      ("2026-01-01", 1) -> ((1L, 0.5)),      // u1
      ("2026-01-01", 3) -> ((1L, 0.5)),      // u1
      ("2026-01-02", 0) -> ((1L, 1.0)),      // u3
      ("2026-01-02", 1) -> ((1L, 1.0))), out.toString)
  }

  test("rrfFuse: consensus beats a single high rank; n_systems; tie-break") {
    // system A: x(1), y(2), z(3); system B: y(1), z(2) — y fuses highest
    val a = Seq(("q", "x", 1), ("q", "y", 2), ("q", "z", 3)).toDF("q", "i", "r")
    val b = Seq(("q", "y", 1), ("q", "z", 2)).toDF("q", "i", "r")
    val out = Similarity.rrfFuse(Seq(a, b), "q", "i", "r", kConst = 60, topK = 10)
      .as[(String, String, Double, Long, Int)].collect()
      .map(t => t._2 -> ((t._3, t._4, t._5))).toMap
    def c(r: Int) = BigDecimal(1.0 / (60.0 + r)).setScale(9,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("y")._3 == 1 && out("y")._2 == 2L, out.toString)   // rank 1, both systems
    assert(out("z")._3 == 2 && out("x")._3 == 3, out.toString)
    assert(out("x")._1 == c(1) && out("x")._2 == 1L, out.toString)
  }

  test("ndcg: perfect ranking = 1; reversal < 1; no judgments -> NULL") {
    val truth = Seq(("q", "a", 3L), ("q", "b", 2L), ("q", "c", 1L))
      .toDF("q", "i", "rel")
    val perfect = Seq(("q", "a", 1), ("q", "b", 2), ("q", "c", 3)).toDF("q", "i", "rk")
    val p = graft.ops.Stats.ndcg(perfect, truth, "q", "i", "rk", "rel", 3)
      .as[(String, Double, Double, Double)].collect().head
    assert(p._4 == 1.0 && p._2 == p._3, p.toString)
    val reversed = Seq(("q", "c", 1), ("q", "b", 2), ("q", "a", 3)).toDF("q", "i", "rk")
    val r = graft.ops.Stats.ndcg(reversed, truth, "q", "i", "rk", "rel", 3)
      .as[(String, Double, Double, Double)].collect().head
    assert(r._4 < 1.0 && r._4 > 0.0, r.toString)
    // a query whose judged items are all rel=0: IDCG 0 -> NULL ndcg
    val zt = Seq(("q", "a", 0L)).toDF("q", "i", "rel")
    val z = graft.ops.Stats.ndcg(perfect, zt, "q", "i", "rk", "rel", 3)
      .select("ndcg").collect().head
    assert(z.isNullAt(0), z.toString)
  }

  test("hllOverlap: near-exact inclusion-exclusion at linear-counting sizes; identical slices j~1") {
    // A = {k0..k199}, B = {k100..k299}: true inter 100, union 300, j = 1/3;
    // C = copy of A: j(A,C) = 1. At <=300 distinct vs 256 registers the
    // estimates ride the (near-exact) branches, so tolerances are loose
    // only to HLL's ±1.04/sqrt(256) ~ 6.5%
    val rows = (0 until 200).map(i => ("A", s"k$i")) ++
      (100 until 300).map(i => ("B", s"k$i")) ++
      (0 until 200).map(i => ("C", s"k$i"))
    val df = rows.toDF("slice", "k")
    val out = graft.ops.Sketches.hllOverlap(df, "slice", F.col("k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    val (iAB, jAB) = out(("A", "B"))
    assert(math.abs(iAB - 100.0) < 25.0, s"inter(A,B)=$iAB")
    assert(math.abs(jAB - 1.0 / 3.0) < 0.1, s"j(A,B)=$jAB")
    val (iAC, jAC) = out(("A", "C"))
    // identical slices: identical registers, union = each side exactly
    assert(math.abs(iAC - 200.0) < 15.0 && math.abs(jAC - 1.0) < 1e-9,
      s"inter(A,C)=$iAC j=$jAC")
  }

  test("phraseSearch: overlapping hits, multi-term ordering, absent docs dropped") {
    val docs = Seq(
      (1L, "a b c a b c a b"),   // "a b c" at 0, 3; "a b" at 0, 3, 6
      (2L, "b a c b a"),         // "a b" never (order matters)
      (3L, "x a b y")            // "a b" at 1
    ).toDF("doc_id", "text")
    val ab = TextOps.phraseSearch(docs, "doc_id", "text", "a b")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(ab == Map(1L -> ((3L, 0)), 3L -> ((1L, 1))), ab.toString)
    val abc = TextOps.phraseSearch(docs, "doc_id", "text", "a b c")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(abc == Map(1L -> ((2L, 0))), abc.toString)
    // single-term phrase degenerates to term occurrence counting
    val a = TextOps.phraseSearch(docs, "doc_id", "text", "a")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> t._2).toMap
    assert(a == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), a.toString)
  }

  test("ngramNovelty: full copy scores 0, half-new scores the new fraction, short docs dropped") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4"),          // grams: w1w2w3, w2w3w4 -> both novel
      (2L, "w1 w2 w3 w4"),          // exact copy -> novelty 0
      (3L, "w1 w2 w3 n1 n2 n3"),    // 4 grams, 1 seen (w1w2w3) -> 0.75
      (4L, "a b")                   // < 3 tokens -> no grams, dropped
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out == Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 0L, 0.0)),
      3L -> ((4L, 3L, 0.75))), out.toString)
    // null and blank text, tab/newline separators, a repeated gram, n = 1 and 8
    val more = Seq[(Long, String)](
      (1L, null),                    // null text -> no grams, dropped
      (2L, " \t \n "),                // whitespace only -> dropped
      (3L, "A b\tc\nd "),             // case-folded, any whitespace splits
      (4L, "a b c a b c"),           // a b c twice: counted once
      (5L, "b c d x y z q r")        // 8 tokens
    ).toDF("doc_id", "text")
    def novelty(n: Int) = TextOps.ngramNovelty(more, "doc_id", "text", n)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // doc 3: abc, bcd; doc 4: abc, bca, cab (abc seen); doc 5: bcd seen
    assert(novelty(3) == Map(
      3L -> ((2L, 2L, 1.0)),
      4L -> ((3L, 2L, 0.666667)),
      5L -> ((6L, 5L, 0.833333))), novelty(3).toString)
    // unigrams: doc 4 adds none; doc 5 adds x y z q r
    assert(novelty(1) == Map(
      3L -> ((4L, 4L, 1.0)),
      4L -> ((3L, 0L, 0.0)),
      5L -> ((8L, 5L, 0.625))), novelty(1).toString)
    // only doc 5 has 8 tokens: one gram, novel
    assert(novelty(8) == Map(5L -> ((1L, 1L, 1.0))), novelty(8).toString)
  }

  test("kCenterCoreset: planted geometry — farthest point each round, min-id ties") {
    val emb = Seq(
      (1L, Array(0.0, 0.0)),   // seed (lowest id)
      (2L, Array(0.1, 0.0)),   // near seed
      (3L, Array(0.0, 0.2)),   // near seed
      (10L, Array(100.0, 0.0)), // far: d²=10000 to seed
      (20L, Array(0.0, 200.0))  // farthest: d²=40000 to seed
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(emb, "vec_id", "embedding", k = 3)
      .orderBy("pick").as[(Int, Long, Double)].collect().toSeq
    // pick 1 = seed id 1 (d 0); pick 2 = id 20 (40000 > 10000);
    // pick 3 = id 10 (its min-dist to {1, 20} is 10000 — still the max)
    assert(got == Seq((1, 1L, 0.0), (2, 20L, 40000.0), (3, 10L, 10000.0)), got)
    // duplicate-heavy corpus: picks never repeat an id
    val dup = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(1.0, 0.0)), (4L, Array(2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val ids = Similarity.kCenterCoreset(dup, "vec_id", "embedding", k = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.distinct.size == 4, ids)
    // k beyond the distinct-row count: returns every row once, no NPE
    val short = Similarity.kCenterCoreset(dup, "vec_id", "embedding", k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(short.sorted == Seq(1L, 2L, 3L, 4L), short)
  }

  test("bootstrapCI: interval brackets the mean, narrows with n, weights ~Poisson(1)") {
    import graft.ops.Stats
    // two sources with very different spread: wide [0,1000], tight [495,505]
    val docs = (1 to 400).map(i => (i.toLong, "wide", (i % 401) * 1000L / 400)) ++
      (1 to 400).map(i => (1000L + i, "tight", 495L + (i % 11)))
    val df = docs.toDF("doc_id", "source", "v")
    val out = Stats.bootstrapCI(df, Seq("source"), F.col("v"), F.col("doc_id"),
        b = 200, conf = 0.95)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    out.foreach { case (src, (n, mean, lo, hi)) =>
      assert(n == 400, src)
      assert(lo <= mean && mean <= hi, s"$src: CI [$lo,$hi] must bracket $mean")
    }
    // the tight source's interval must be far narrower than the wide one's
    val widthW = out("wide")._4 - out("wide")._3
    val widthT = out("tight")._4 - out("tight")._3
    assert(widthT < widthW / 5, s"tight $widthT vs wide $widthW")
    // a 95% CI on 400 iid rows is a few standard errors wide — sanity band
    assert(widthW > 10 && widthW < 200, s"wide width $widthW")
    // deterministic: a second run is bit-identical
    val again = Stats.bootstrapCI(df, Seq("source"), F.col("v"), F.col("doc_id"),
      b = 200, conf = 0.95).collect().toSeq.toString
    assert(again == Stats.bootstrapCI(df, Seq("source"), F.col("v"),
      F.col("doc_id"), b = 200, conf = 0.95).collect().toSeq.toString)
    // ungrouped path returns one row
    assert(Stats.bootstrapCI(df, Nil, F.col("v"), F.col("doc_id"), b = 50).count() == 1)
  }

  test("quantileNormalize: incompatible score scales land on one ladder") {
    import graft.ops.Curation
    val docs = Seq(
      (1L, "A", 1L), (2L, "A", 2L), (3L, "A", 3L),
      (4L, "B", 10L), (5L, "B", 20L), (6L, "B", 30L)
    ).toDF("doc_id", "source", "score")
    val got = Curation.quantileNormalize(docs, "source", "score", "doc_id")
      .select("doc_id", "calibrated").as[(Long, Long)].collect().toMap
    // refRate=1: reference = global sorted [1,2,3,10,20,30] (m=6); within
    // each 3-row source rk∈{1,2,3} → idx = 1 + (rk−1)·5 div 2 ∈ {1,3,6}
    // → calibrated {1, 3, 30} for BOTH sources — rank-equivalent rows now
    // carry identical scores regardless of the source's scale
    assert(got == Map(1L -> 1L, 2L -> 3L, 3L -> 30L,
      4L -> 1L, 5L -> 3L, 6L -> 30L), got.toString)
    // single-row source maps to the reference bottom, not a div-by-zero
    val lone = Curation.quantileNormalize(
      docs.union(Seq((7L, "C", 999L)).toDF("doc_id", "source", "score")),
      "source", "score", "doc_id")
      .filter(F.col("source") === "C")
      .select("calibrated").as[Long].head()
    assert(lone == 1L)
  }

  test("kaplanMeier: hand-checked product-limit curve, S=0 when risk set dies") {
    import graft.ops.Stats
    // durations (event=1 observed, 0 censored): 1e, 2c, 3e, 3e, 5c
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (5L, 0))
      .toDF("dur", "ev")
    val got = Stats.kaplanMeier(subj, F.col("dur"), F.col("ev"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    // t=1: n=5 d=1 S=0.8; t=3: n=3 d=2 S=0.8*(1/3)=0.266667
    assert(got == Seq((1L, 5L, 1L, 0.8), (3L, 3L, 2L, 0.266667)), got)
    // everyone dies at the last event time: survival exactly 0, no ln(0)
    val dead = Seq((1L, 1), (2L, 1), (2L, 1)).toDF("dur", "ev")
    val s2 = Stats.kaplanMeier(dead, F.col("dur"), F.col("ev"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(s2 == Seq((1L, 3L, 1L, 0.666667), (2L, 2L, 2L, 0.0)), s2)
  }

  test("kAnonymityAudit: class sizes, l-diversity, kMin flag") {
    import graft.ops.Curation
    val rows = Seq(
      ("US", "A", 100.0), ("US", "A", 200.0), ("US", "A", 100.0),
      ("US", "A", 300.0), ("US", "A", 100.0),           // k=5, l=3
      ("DE", "B", 50.0)                                  // k=1 — re-identifiable
    ).toDF("nat", "seg", "bal")
    val got = Curation.kAnonymityAudit(rows, Seq("nat", "seg"),
        F.col("bal"), kMin = 5)
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(("DE", "B", 1L, 1L, true), ("US", "A", 5L, 3L, false)), got)
  }

  test("scd2: islands collapse, intervals stitch, current flag") {
    import graft.ops.EventOps
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 10L, "A"), (2L, ts(2), 10L, "A"),  // island A x2
      (3L, ts(3), 10L, "B"),                          // island B
      (4L, ts(4), 10L, "A"),                          // back to A — new island
      (5L, ts(1), 20L, "C")                           // other user
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.scd2(ev, "user_id", F.col("event_type"), F.col("event_id"))
      .orderBy("key", "valid_from")
      .as[(Long, String, Long, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(got == Seq(
      (10L, "A", 2L, ts(1), Some(ts(3)), false),
      (10L, "B", 1L, ts(3), Some(ts(4)), false),
      (10L, "A", 1L, ts(4), None, true),
      (20L, "C", 1L, ts(1), None, true)), got)
  }

  test("mannWhitneyU: midranks with ties match the hand computation") {
    import graft.ops.Stats
    // group1 = {1, 2}, group2 = {2, 3}: midranks 1, 2.5, 2.5, 4
    val df = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "c")
    val r = Stats.mannWhitneyU(df, F.col("v"), F.col("c")).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.5, r)    // u1 = 3.5 - 3
    assert(r.getDouble(3) == 3.5, r)    // u2
    // sigma² = (4/12)·(5 − 6/12) = 1.5; z = (0.5 − 2)/√1.5
    assert(r.getDouble(4) == -1.224745, r)
    // degenerate: all values equal → sigma 0 → z NULL, not NaN
    val flat = Seq((1.0, true), (1.0, false)).toDF("v", "c")
    assert(Stats.mannWhitneyU(flat, F.col("v"), F.col("c")).collect()(0).isNullAt(4))
  }

  test("aucExact: tied scores contribute half; perfect separation is 1") {
    import graft.ops.Stats
    val df = Seq((0.9, true), (0.4, true), (0.4, false), (0.1, false))
      .toDF("s", "y")
    val r = Stats.aucExact(df, F.col("s"), F.col("y")).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.875, r)  // (6.5 − 3)/4
    val sep = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("s", "y")
    assert(Stats.aucExact(sep, F.col("s"), F.col("y"))
      .collect()(0).getDouble(2) == 1.0)
  }

  test("calibrationBins: bin clamp, per-bin conf/acc, ECE rollup") {
    import graft.ops.Stats
    val df = Seq(
      (0.05, false), (0.15, false), (0.15, true), (1.0, true)
    ).toDF("s", "y")
    val got = Stats.calibrationBins(df, F.col("s"), F.col("y"), nBins = 10)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // score 1.0 clamps into bin 9; bin 1 has conf 0.15, acc 0.5
    // ECE = (1·0.05 + 2·0.35 + 1·0)/4 = 0.1875
    assert(got == Seq(
      (0L, 1L, 0.05, 0.0, 0.1875),
      (1L, 2L, 0.15, 0.5, 0.1875),
      (9L, 1L, 1.0, 1.0, 0.1875)), got)
  }

  test("bhFdr: step-up rescues every smaller p once any larger index passes") {
    import graft.ops.Stats
    def chi2Of(p: Double) = -2.0 * math.log(p)
    // p ≈ [0.04, 0.045, 0.049], m=3, α=0.05: only i=3 meets α·i/m=0.05 —
    // the step-up must flag ALL three (a step-down would keep none)
    val close = Seq(("a", chi2Of(0.04)), ("b", chi2Of(0.045)),
      ("c", chi2Of(0.049))).toDF("token", "chi2")
    val all = Stats.bhFdr(close, Seq("token"), F.col("chi2"), alpha = 0.05)
    assert(all.filter(F.col("discovered")).count() == 3)
    // clear split: p ≈ [4.5e-5, 0.0025, 0.368, 1.0] → exactly 2 discoveries
    val mix = Seq(("a", 20.0), ("b", 12.0), ("c", 2.0), ("d", 0.0))
      .toDF("token", "chi2")
    val got = Stats.bhFdr(mix, Seq("token"), F.col("chi2"), alpha = 0.05)
      .select("token", "i", "discovered")
      .as[(String, Int, Boolean)].collect().toSeq
    assert(got == Seq(("a", 1, true), ("b", 2, true),
      ("c", 3, false), ("d", 4, false)), got)
  }

  test("matryoshkaRecall: truncation that erases the signal drops recall to 0") {
    // first 2 dims identical everywhere; dims 3-4 carry ALL the signal
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 10.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, -10.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 9.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(F.col("vec_id") === 1)
    val got = Similarity.matryoshkaRecall(emb, q, "vec_id", "embedding",
        dims = Seq(2, 4), k = 1)
      .as[(Int, Long, Double)].collect().toSeq
    // full: NN(1) = 3 (cos≈1); dim-2: all cos exactly 1 → tie-break id → 2
    assert(got == Seq((2, 0L, 0.0), (4, 1L, 1.0)), got)
  }

  test("bitextMargin: ratio margin mates true pairs and rejects the hub") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((11L, Array(0.99f, 0.14f)), (12L, Array(0.14f, 0.99f)),
      (13L, Array(0.707f, 0.707f)))  // hub: close to everything
      .toDF("vec_id", "embedding")
    val got = Similarity.bitextMargin(a, b, "vec_id", "embedding",
        k = 2, minMargin = 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    // the hub's own neighborhood average is as high as its cosines, so
    // its margin stays near 1 while the true mates clear it decisively
    assert(got == Seq((1L, 11L), (2L, 12L)), got)
  }

  test("curriculumPlan: rare-token docs land in the hard bin per source") {
    import graft.ops.Curation
    val docs = Seq(
      (1L, "A", "the the the the"), (2L, "A", "the the zz qq"),
      (3L, "B", "the the the the"), (4L, "B", "the zz zz ww")
    ).toDF("doc_id", "source", "text")
    val got = Curation.curriculumPlan(docs, "doc_id", "text", "source",
        nBins = 2)
      .select("doc_id", "source", "bin", "bin_rank")
      .as[(Long, String, Int, Int)].collect().toSeq
    // rare tokens (zz/qq/ww) raise difficulty: 2 and 4 take bin 2
    assert(got == Seq((1L, "A", 1, 1), (2L, "A", 2, 1),
      (3L, "B", 1, 1), (4L, "B", 2, 1)), got)
  }

  test("mrr: first-hit reciprocal, misses count as 0 in the mean") {
    import graft.ops.Stats
    val res = Seq(("q1", "i1", 1), ("q1", "i2", 2), ("q1", "i3", 3),
      ("q2", "i1", 1), ("q2", "i2", 2)).toDF("q", "item", "rk")
    val tr = Seq(("q1", "i2"), ("q1", "i3"), ("q2", "zz")).toDF("q", "item")
    val got = Stats.mrr(res, tr, "q", "item", "rk")
      .as[(String, Option[Int], Double, Double)].collect().toSeq
    // q1 first hit at rank 2 → 0.5; q2 never hits → 0; MRR 0.25
    assert(got == Seq(("q1", Some(2), 0.5, 0.25), ("q2", None, 0.0, 0.25)),
      got)
  }

  test("ltvCurve: cohorts by first day, cumulative value per cohort user") {
    import graft.ops.EventOps
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"1970-01-${d + 1}%02d 12:00:00")
    val ev = Seq(
      (1L, ts(0), 1L, "purchase", 10.0), (2L, ts(2), 1L, "purchase", 5.0),
      (3L, ts(0), 2L, "view", 0.0),      // cohort-0 user, never pays
      (4L, ts(2), 3L, "signup", 0.0), (5L, ts(3), 3L, "purchase", 2.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.ltvCurve(ev, "purchase")
      .as[(Int, Int, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (0, 0, 2L, 10.0, 10.0, 5.0),
      (0, 2, 2L, 5.0, 15.0, 7.5),
      (2, 1, 1L, 2.0, 2.0, 2.0)), got)
  }

  test("uShapeAttribution: 40/20/40 weights, next-conv binding, direct paths") {
    import graft.ops.EventOps
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 10: view, click, view → purchase (0.4/0.2/0.4), then a
      // second purchase with no touches in between → direct
      (1L, ts(1), 10L, "view"), (2L, ts(2), 10L, "click"),
      (3L, ts(3), 10L, "view"), (4L, ts(4), 10L, "purchase"),
      (5L, ts(5), 10L, "purchase"),
      // user 20: single click → purchase (1.0)
      (6L, ts(1), 20L, "click"), (7L, ts(2), 20L, "purchase"),
      // user 30: bare purchase → direct
      (8L, ts(1), 30L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.uShapeAttribution(ev, "purchase",
        windowUs = 6L * 3600 * 1000000)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("click", 2L, 1.2, 0.3),
      ("direct", 2L, 2.0, 0.5),
      ("view", 2L, 0.8, 0.2)), got)
    // a touch OUTSIDE the window attributes nothing: direct instead
    val far = Seq((1L, ts(1), 1L, "click"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val g2 = EventOps.uShapeAttribution(far, "purchase",
        windowUs = 6L * 3600 * 1000000)
      .select("touch_type").as[String].collect().toSeq
    assert(g2 == Seq("direct"), g2)
  }

  test("srmCheck: exact-design counts pass, a planted bias trips the flag") {
    import graft.ops.Stats
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val ok = (1 to 800).map(_ => "train") ++ (1 to 100).map(_ => "val") ++
      (1 to 100).map(_ => "test")
    val g1 = Stats.srmCheck(ok.toDF("split"), F.col("split"), w)
      .select("chi2", "p", "srm").as[(Double, Double, Boolean)]
      .collect().toSeq
    assert(g1.forall(_ == ((0.0, 1.0, false))), g1)
    val bad = (1 to 700).map(_ => "train") ++ (1 to 200).map(_ => "val") ++
      (1 to 100).map(_ => "test")
    val g2 = Stats.srmCheck(bad.toDF("split"), F.col("split"), w)
      .select("chi2", "srm").as[(Double, Boolean)].collect().toSeq
    // (−100)²/800 + 100²/100 + 0 = 112.5 → p ~ e^−56 → flagged
    assert(g2.forall(_ == ((112.5, true))), g2)
  }

  test("temperatureMix: α=0.5 flattens a 90/10 split to 75/25") {
    import graft.ops.Sampling
    val df = ((1 to 90).map(_ => "big") ++ (1 to 10).map(_ => "small"))
      .toDF("lang")
    val got = Sampling.temperatureMix(df, F.col("lang"), alpha = 0.5)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("big", 90L, 0.9, 0.75, 0.833333),
      ("small", 10L, 0.1, 0.25, 2.5)), got)
  }

  test("skyline2d: frontier with ties and duplicates; salting never loses a point") {
    import graft.ops.Stats
    val pts = Seq((1L, 1L, 5L), (2L, 2L, 4L), (3L, 2L, 3L), (4L, 3L, 3L),
      (5L, 3L, 3L), (6L, 0L, 9L)).toDF("id", "xx", "yy")
    val got = Stats.skyline2d(pts, "id", F.col("xx"), F.col("yy"))
      .select("id").as[Long].collect().toSeq
    // (2,3) is dominated by (2,4); both (3,3) duplicates survive
    assert(got == Seq(6L, 1L, 2L, 4L, 5L), got)
    val unsalted = Stats.skyline2d(pts, "id", F.col("xx"), F.col("yy"),
      saltBuckets = 1).select("id").as[Long].collect().toSeq
    assert(unsalted == got, unsalted)
  }

  test("anovaF: two planted groups give the textbook F and eta-squared") {
    import graft.ops.Stats
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 4.0), ("B", 5.0), ("B", 6.0)).toDF("g", "v")
    val r = Stats.anovaF(df, F.col("g"), F.col("v")).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 6)
    assert(r.getDouble(2) == 13.5 && r.getDouble(3) == 4.0, r)   // ssb, ssw
    assert(r.getDouble(4) == 13.5, r)                            // F
    assert(r.getDouble(5) == 0.771429, r)                        // η²
  }

  test("theilSen: one outlier day cannot move the median slope") {
    import graft.ops.Stats
    val series = Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 10.0))
      .toDF("t", "v")
    val r = Stats.theilSen(series, "t", "v").collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 6)
    // sorted slopes [1,1,1,3.333…,4.5,8] → median (1+3.333…)/2
    assert(r.getDouble(2) == 2.166667, r)
    assert(r.getDouble(3) == -0.583333, r)
    // a clean line recovers slope 1 exactly
    val line = Seq((0L, 5.0), (1L, 6.0), (2L, 7.0)).toDF("t", "v")
    val r2 = Stats.theilSen(line, "t", "v").collect()(0)
    assert(r2.getDouble(2) == 1.0 && r2.getDouble(3) == 5.0, r2)
  }

  test("spearman: monotone nonlinearity scores 1; ties use midranks") {
    import graft.ops.Stats
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0)).toDF("x", "y")
    assert(Stats.spearman(mono, F.col("x"), F.col("y"))
      .collect()(0).getDouble(1) == 1.0)
    val tied = Seq((1.0, 2.0), (1.0, 1.0), (2.0, 3.0)).toDF("x", "y")
    // x midranks [1.5, 1.5, 3]; y ranks [2, 1, 3] → ρ = 4.5/√27
    assert(Stats.spearman(tied, F.col("x"), F.col("y"))
      .collect()(0).getDouble(1) == 0.866025)
    val const = Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
    assert(Stats.spearman(const, F.col("x"), F.col("y"))
      .collect()(0).isNullAt(1), "constant axis → NULL, not NaN")
  }

  test("cohensKappa: the textbook 2x2 gives 0.625; perfect agreement gives 1") {
    import graft.ops.Stats
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(65)((false, false))
    val r = Stats.cohensKappa(rows.toDF("a", "b"), F.col("a"), F.col("b"))
      .collect()(0)
    assert(r.getLong(0) == 100 && r.getLong(1) == 20 && r.getLong(2) == 65)
    assert(r.getDouble(3) == 0.85 && r.getDouble(4) == 0.6, r)
    assert(r.getDouble(5) == 0.625, r)
    val perfect = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Stats.cohensKappa(perfect, F.col("a"), F.col("b"))
      .collect()(0).getDouble(5) == 1.0)
  }

  test("stratifiedEffect: per-stratum diffs pool by share; one-arm strata drop") {
    import graft.ops.Stats
    val rows = Seq(
      (0.2, true, 10.0), (0.2, false, 8.0), (0.3, false, 8.0),  // s0: diff 2
      (0.8, true, 20.0), (0.9, true, 20.0), (0.7, false, 19.0)  // s1: diff 1
    ).toDF("s", "t", "y")
    val got = Stats.stratifiedEffect(rows, F.col("s"), F.col("t"), F.col("y"),
        nStrata = 2)
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double], Double)]
      .collect().toSeq
    assert(got == Seq(
      (0L, 1L, 2L, Some(10.0), Some(8.0), Some(2.0), 1.5),
      (1L, 2L, 1L, Some(20.0), Some(19.0), Some(1.0), 1.5)), got)
    // a stratum with no control arm reports NULL diff and leaves the ATE
    val oneArm = rows.union(Seq((0.99, true, 99.0)).toDF("s", "t", "y"))
    val g2 = Stats.stratifiedEffect(oneArm, F.col("s"), F.col("t"), F.col("y"),
        nStrata = 10).collect()
    assert(g2.exists(r => r.isNullAt(5)), "one-arm stratum must be NULL")
  }

  test("freshnessEss: stale mass shrinks the effective sample size") {
    import graft.ops.EventOps
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-${1 + d / 28}%02d-${1 + d % 28}%02d 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(100, 1), 1L, "fresh", 0.0), (2L, ts(100, 2), 1L, "fresh", 0.0),
      (3L, ts(100, 3), 1L, "fresh", 0.0),
      (4L, ts(100, 1), 2L, "stale", 0.0), (5L, ts(0, 1), 2L, "stale", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.freshnessEss(ev, lambdaPerDay = 0.1)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    val fr = got("fresh")
    assert(fr._2 == 3 && fr._3 == 3.0 && fr._4 == 3.0 && fr._5 == 1.0, fr)
    val st = got("stale")
    // one fresh + one ~dead event ≈ 1 effective sample out of 2
    assert(st._2 == 2 && st._4 > 1.0 && st._4 < 1.1, st)
    assert(st._5 < 0.56, st)
  }

  test("snaiveBacktest: week-over-week +1 gives MAE 1 and the harmonic MAPE") {
    import graft.ops.Stats
    val series = ((0 to 6).map(d => (d.toLong, (d + 1).toDouble)) ++
      (7 to 13).map(d => (d.toLong, (d - 5).toDouble))).toDF("t", "v")
    val got = Stats.snaiveBacktest(series, "t", "v", season = 7)
      .as[(Long, Double, Double, Double, Double, Double)].collect().toSeq
    assert(got.size == 7 && got.forall(_._4 == 1.0), got)
    // mape = mean(1/2, 1/3, …, 1/8) = 1.717857143/7
    assert(got.head == ((7L, 2.0, 1.0, 1.0, 1.0, 0.245408)), got.head)
  }

  test("changepoint: a clean level shift is found exactly, reduction 1") {
    import graft.ops.Stats
    val series = ((0 to 3).map(t => (t.toLong, 0.0)) ++
      (4 to 7).map(t => (t.toLong, 10.0))).toDF("t", "v")
    val r = Stats.changepoint(series, "t", "v").collect()(0)
    assert(r.getLong(0) == 3 && r.getInt(1) == 4, r)   // split after t=3
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 200.0, r)
    assert(r.getDouble(4) == 1.0, r)
    // constant series: no split helps — reduction 0 (tss 0 → NULL guard)
    val flat = (0 to 5).map(t => (t.toLong, 5.0)).toDF("t", "v")
    val r2 = Stats.changepoint(flat, "t", "v").collect()(0)
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(3) == 0.0 && r2.isNullAt(4), r2)
  }

  test("stickiness: trailing-window MAU covers exactly windowDays; gaps read 0") {
    import graft.ops.EventOps
    def ts(d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(d).atStartOfDay())
    val ev = Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(0), 2L, "view", 0.0),
      (3L, ts(29), 2L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.stickiness(ev, windowDays = 28)
      .as[(Int, Long, Long, Double)].collect().toSeq
    // day-0 activity covers days 0-27; day 28 has no coverage; day 29
    // restarts with user 2 only
    assert(got.size == 29, got.size)
    assert(got.head == ((0, 2L, 2L, 1.0)), got.head)
    assert(got(1) == ((1, 0L, 2L, 0.0)), got(1))
    assert(got.last == ((29, 1L, 1L, 1.0)), got.last)
    assert(!got.exists(_._1 == 28), "day 28 has no active window")
  }

  test("cuped: a perfect covariate gives theta 1 and an exact adjusted effect") {
    import graft.ops.Stats
    // y = x + 5·arm exactly → θ = 1, adjusted means drop ALL covariate
    // noise, residual variance ratio = 1 − ρ²
    val units = Seq((0L, 10.0, 20.0), (0L, 20.0, 30.0),
      (1L, 10.0, 25.0), (1L, 20.0, 35.0)).toDF("arm", "x", "y")
    val got = Stats.cuped(units, F.col("arm"), F.col("x"), F.col("y"))
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 25.0, 25.0, 1.0, 0.2),
      (1L, 2L, 30.0, 30.0, 1.0, 0.2)), got)
  }

  test("weightedQuantile: heavy rows pull the quantile; boundary hits exactly") {
    import graft.ops.Stats
    val rows = Seq(("s", 1L, 1L), ("s", 2L, 1L), ("s", 10L, 8L))
      .toDF("src", "v", "w")
    val got = Stats.weightedQuantile(rows, Seq("src"), F.col("v"),
        F.col("w"), qs = Seq(0.2, 0.25, 1.0))
      .select("q", "value").as[(Double, Long)].collect().toSeq
    // W=10: q=0.2 target 2 hits cum(2)=2 exactly; q=0.25 target 2.5 →
    // the 8-weight value 10 (an unweighted median would say 2)
    assert(got == Seq((0.2, 2L), (0.25, 10L), (1.0, 10L)), got)
  }

  test("conformalInterval: degenerate residuals pin q_hat; coverage holds") {
    import graft.ops.Stats
    // every residual is exactly 5 → q_hat = 5, eval coverage 1.0
    val flat = (1L to 100L).map(i => (i, 5.0, 0.0)).toDF("id", "y", "pred")
    val r = Stats.conformalInterval(flat, F.col("id"), F.col("y"),
      F.col("pred"), calibRate = 0.5, q = 0.9).collect()(0)
    assert(r.getLong(0) + r.getLong(1) == 100, r)
    assert(r.getDouble(2) == 5.0 && r.getDouble(3) == 1.0, r)
    // residuals uniform over 0..9: q_hat lands near the 90th percentile
    // and eval coverage stays in the guarantee's neighborhood
    val uni = (1L to 400L).map(i => (i, (i % 10).toDouble, 0.0))
      .toDF("id", "y", "pred")
    val u = Stats.conformalInterval(uni, F.col("id"), F.col("y"),
      F.col("pred"), calibRate = 0.5, q = 0.9).collect()(0)
    assert(u.getDouble(2) >= 8.0 && u.getDouble(2) <= 9.0, u)
    assert(u.getDouble(3) >= 0.8, u)
  }

  test("gainsCurve: reading the top bin captures its positives at lift > 1") {
    import graft.ops.Stats
    val rows = Seq((0.95, true), (0.99, true), (0.01, false), (0.05, false))
      .toDF("s", "y")
    val got = Stats.gainsCurve(rows, F.col("s"), F.col("y"), nBins = 10)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(got == Seq(
      (9L, 2L, 2L, 2L, 2L, 1.0, 0.5, 2.0),
      (0L, 2L, 0L, 4L, 2L, 1.0, 1.0, 1.0)), got)
  }

  test("balancedDownsample: every class capped at the min count, deterministically") {
    import graft.ops.Sampling
    val rows = ((1 to 5).map(i => (i.toLong, "big")) ++
      (6 to 8).map(i => (i.toLong, "mid")) ++
      (9 to 11).map(i => (i.toLong, "small"))).toDF("id", "cls")
    val kept = Sampling.balancedDownsample(rows, F.col("cls"), F.col("id"))
    val sizes = kept.groupBy("cls").count()
      .as[(String, Long)].collect().toMap
    assert(sizes == Map("big" -> 3L, "mid" -> 3L, "small" -> 3L), sizes)
    val again = Sampling.balancedDownsample(rows, F.col("cls"), F.col("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(again == kept.orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("oddsRatio: textbook table; zero cell triggers the Haldane correction") {
    import graft.ops.Stats
    val rows = (Seq.fill(10)((true, true)) ++ Seq.fill(90)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(95)((false, false)))
      .toDF("e", "o")
    val r = Stats.oddsRatio(rows, F.col("e"), F.col("o")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 90L, 5L, 95L)), r)
    assert(r.getDouble(4) == 2.0, r)           // RR
    assert(r.getDouble(5) == 2.111111, r)      // OR = 10·95/(90·5)
    assert(r.getDouble(6) < 2.0 && r.getDouble(7) > 2.3, r)  // CI brackets
    assert(!r.getBoolean(8))
    val zero = (Seq.fill(10)((true, true)) ++ Seq.fill(5)((false, true)) ++
      Seq.fill(95)((false, false))).toDF("e", "o")
    assert(Stats.oddsRatio(zero, F.col("e"), F.col("o"))
      .collect()(0).getBoolean(8), "zero cell must flag the correction")
  }

  test("mcc: perfect 1, inverted -1, coin-flip table 0") {
    import graft.ops.Stats
    val perfect = Seq((true, true), (false, false), (true, true))
      .toDF("p", "y")
    assert(Stats.mcc(perfect, F.col("p"), F.col("y"))
      .collect()(0).getDouble(4) == 1.0)
    val inv = Seq((true, false), (false, true)).toDF("p", "y")
    assert(Stats.mcc(inv, F.col("p"), F.col("y"))
      .collect()(0).getDouble(4) == -1.0)
    val coin = Seq((true, true), (true, false), (false, true), (false, false))
      .toDF("p", "y")
    assert(Stats.mcc(coin, F.col("p"), F.col("y"))
      .collect()(0).getDouble(4) == 0.0)
  }

  test("psi: identical halves score exactly 0; a shifted half trips the 0.25 bar") {
    import graft.ops.Stats
    val same = (1 to 50).flatMap(i =>
      Seq((i / 50.0 * 0.9, true), (i / 50.0 * 0.9, false))).toDF("s", "b")
    val p0 = Stats.psi(same, F.col("s"), F.col("b")).collect()
    assert(p0.forall(_.getDouble(4) == 0.0), p0.mkString(","))
    val shifted = ((1 to 50).map(_ => (0.1, true)) ++
      (1 to 50).map(_ => (0.9, false))).toDF("s", "b")
    assert(Stats.psi(shifted, F.col("s"), F.col("b"))
      .collect()(0).getDouble(4) > 0.25)
  }

  test("brierDecomposition: Murphy identity on the perfect and coin scorers") {
    import graft.ops.Stats
    val perfect = ((1 to 10).map(_ => (1.0, true)) ++
      (1 to 10).map(_ => (0.0, false))).toDF("s", "y")
    val r = Stats.brierDecomposition(perfect, F.col("s"), F.col("y"))
      .collect()(0)
    // brier 0 = reliability 0 − resolution 0.25 + uncertainty 0.25
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0 &&
      r.getDouble(3) == 0.25 && r.getDouble(4) == 0.25, r)
    val coin = ((1 to 10).map(_ => (0.5, true)) ++
      (1 to 10).map(_ => (0.5, false))).toDF("s", "y")
    val c = Stats.brierDecomposition(coin, F.col("s"), F.col("y"))
      .collect()(0)
    assert(c.getDouble(1) == 0.25 && c.getDouble(2) == 0.0 &&
      c.getDouble(3) == 0.0 && c.getDouble(4) == 0.25, c)
  }

  test("kendallTau: identical rankings 1, reversed -1, one swap counts") {
    import graft.ops.Stats
    val ra = Seq(("q", "a", 1), ("q", "b", 2), ("q", "c", 3))
      .toDF("q", "item", "rk")
    assert(Stats.kendallTau(ra, ra, "q", "item", "rk")
      .collect()(0).getDouble(4) == 1.0)
    val rev = Seq(("q", "a", 3), ("q", "b", 2), ("q", "c", 1))
      .toDF("q", "item", "rk")
    assert(Stats.kendallTau(ra, rev, "q", "item", "rk")
      .collect()(0).getDouble(4) == -1.0)
    // swap the top two: 1 discordant of 3 pairs → (2−1)/3
    val swap = Seq(("q", "a", 2), ("q", "b", 1), ("q", "c", 3))
      .toDF("q", "item", "rk")
    val r = Stats.kendallTau(ra, swap, "q", "item", "rk").collect()(0)
    assert(r.getLong(2) == 2 && r.getLong(3) == 1, r)
    assert(r.getDouble(4) == 0.333333, r)
  }

  test("jackknifeRatio: homogeneous groups give se 0; CI brackets theta") {
    import graft.ops.Stats
    val flat = (1L to 20L).flatMap(u =>
      Seq((u, 1L, 0L), (u, 0L, 1L), (u, 0L, 1L))).toDF("u", "num", "den")
    val r = Stats.jackknifeRatio(flat, F.col("u"), F.col("num"),
      F.col("den")).collect()(0)
    assert(r.getLong(0) == 20 && r.getDouble(1) == 0.5, r)
    assert(r.getDouble(2) == 0.0, r)
    // heterogeneous: se > 0 and the CI straddles the point estimate
    val mixed = (1L to 20L).map(u => (u, u % 3, 2L)).toDF("u", "num", "den")
    val m = Stats.jackknifeRatio(mixed, F.col("u"), F.col("num"),
      F.col("den")).collect()(0)
    assert(m.getDouble(2) > 0.0, m)
    assert(m.getDouble(3) < m.getDouble(1) && m.getDouble(1) < m.getDouble(4), m)
  }

  test("mdePower: constant outcome needs no traffic; the textbook case lands exactly") {
    import graft.ops.Stats
    val const = (1 to 40).map(i => (i % 2 == 0, 3.0)).toDF("arm", "y")
    assert(Stats.mdePower(const, F.col("arm"), F.col("y"))
      .collect()(0).getDouble(4) == 0.0)
    // y ∈ {0, 2} evenly: mean 1, var 1, n1=n2=50 → 2.801585·√0.04
    val spread = ((1 to 50).map(i => (i % 2 == 0, 0.0)) ++
      (51 to 100).map(i => (i % 2 == 0, 2.0))).toDF("arm", "y")
    val r = Stats.mdePower(spread, F.col("arm"), F.col("y")).collect()(0)
    assert(r.getLong(0) == 50 && r.getLong(1) == 50, r)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0, r)
    assert(r.getDouble(4) == 0.560317 && r.getDouble(5) == 0.560317, r)
  }

  test("mmdDrift: identical samples score exactly 0; separated clusters light up") {
    val x = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f))).toDF("vec_id", "embedding")
    val same = Similarity.mmdDrift(x, x, "vec_id", "embedding", sigma2 = 1.0)
      .collect()(0)
    assert(same.getDouble(5) == 0.0, same)
    val far = Seq((11L, Array(10.0f, 10.0f)), (12L, Array(10.1f, 10.0f)),
      (13L, Array(10.0f, 10.1f))).toDF("vec_id", "embedding")
    val drift = Similarity.mmdDrift(x, far, "vec_id", "embedding",
      sigma2 = 1.0).collect()(0)
    assert(drift.getDouble(5) > 0.5, drift)
  }

  test("hubnessCensus: the hub collects extra occurrences; anti-hubs count 0") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.14f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.7f, 0.7f))   // 4 = the hub
    ).toDF("vec_id", "embedding")
    val got = Similarity.hubnessCensus(emb, emb, "vec_id", "embedding", k = 1)
      .as[(Long, Long, Double)].collect().toSeq
    // NN: 1→2, 2→1, 3→4, 4→2 ⇒ counts {1:1, 2:2, 4:1, 3:0} ⇒
    // histogram {0:1, 1:2, 2:1}, symmetric ⇒ skew 0
    assert(got == Seq((0L, 1L, 0.0), (1L, 2L, 0.0), (2L, 1L, 0.0)), got)
  }

  test("twoNnId: hand-computed line estimate; exact duplicates are excluded") {
    // collinear points at 0, 1, 3, 7: Σ½ln(d2²/d1²) = ln3 + ln2 +
    // 2·(½ln 2.25) = 2.602689686 → ID = 4/Σ ≈ 1.536872
    val line = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(3.0f, 0.0f)), (4L, Array(7.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.twoNnId(line, "vec_id", "embedding").collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 0, r)
    assert(r.getDouble(2) == 1.536872, r)
    val withDup = line.union(Seq((5L, Array(0.0f, 0.0f)),
      (6L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val d = Similarity.twoNnId(withDup, "vec_id", "embedding").collect()(0)
    // ids 1, 5, 6 coincide → all three have d1 = 0 and drop out
    assert(d.getLong(1) == 3, d)
  }

  test("ppsSystematic: big items win multiple picks; boundary threshold is inclusive") {
    import graft.ops.Sampling
    val items = Seq((1L, 10L), (2L, 10L), (3L, 60L), (4L, 20L))
      .toDF("id", "sz")
    val got = Sampling.ppsSystematic(items, "id", F.col("sz"), n = 5)
      .select("pick", "id").as[(Int, Long)].collect().toSeq
    // W=100, step 20, thresholds 10,30,50,70,90: t=10 lands exactly on
    // item 1's upper edge (inclusive); item 3 (60% of mass) wins 3 picks
    assert(got == Seq((0, 1L), (1, 3L), (2, 3L), (3, 3L), (4, 4L)), got)
  }

  test("wilsonInterval: zero successes pin lo at 0; k=0 and k=n are mirror images") {
    import graft.ops.Stats
    val zeros = (1 to 10).map(i => ("g", false)).toDF("g", "s")
    val ones = (1 to 10).map(i => ("g", true)).toDF("g", "s")
    val z = Stats.wilsonInterval(zeros, Seq("g"), F.col("s")).collect()(0)
    val o = Stats.wilsonInterval(ones, Seq("g"), F.col("s")).collect()(0)
    assert(z.getDouble(3) == 0.0 && z.getDouble(4) == 0.0, z)
    assert(o.getDouble(3) == 1.0 && o.getDouble(5) == 1.0, o)
    assert(z.getDouble(5) > 0.25 && z.getDouble(5) < 0.3, z)
    assert(math.abs(z.getDouble(5) - (1.0 - o.getDouble(4))) <= 1e-6,
      s"$z vs $o")
  }

  test("rbo: identical lists give the geometric sum; disjoint lists never join") {
    import graft.ops.Stats
    val ra = Seq(("q", "a", 1), ("q", "b", 2), ("q", "c", 3))
      .toDF("q", "item", "rk")
    val r = Stats.rbo(ra, ra, "q", "item", "rk", k = 3, p = 0.9)
      .collect()(0)
    // (1−p)·(1 + p + p²) = 1 − p³ = 0.271
    assert(r.getDouble(1) == 0.271, r)
    val rb = Seq(("q", "x", 1), ("q", "y", 2), ("q", "z", 3))
      .toDF("q", "item", "rk")
    assert(Stats.rbo(ra, rb, "q", "item", "rk", k = 3, p = 0.9)
      .collect().isEmpty, "zero overlap yields no row (RBO 0 by absence)")
    // top-weighted: agreeing at depth 1 beats agreeing only at depth 3
    val top = Seq(("q", "a", 1), ("q", "y", 2), ("q", "z", 3))
      .toDF("q", "item", "rk")
    val bot = Seq(("q", "x", 1), ("q", "y", 2), ("q", "c", 3))
      .toDF("q", "item", "rk")
    val sTop = Stats.rbo(ra, top, "q", "item", "rk", k = 3, p = 0.9)
      .collect()(0).getDouble(1)
    val sBot = Stats.rbo(ra, bot, "q", "item", "rk", k = 3, p = 0.9)
      .collect()(0).getDouble(1)
    assert(sTop > sBot, s"$sTop <= $sBot")
  }

  test("quantileTreatmentEffect: per-arm ladders, hand-checked differences") {
    import graft.ops.Stats
    val rows = Seq((true, 10L), (true, 20L), (true, 30L), (true, 40L),
      (false, 5L), (false, 10L), (false, 15L), (false, 20L))
      .toDF("t", "v")
    val got = Stats.quantileTreatmentEffect(rows, F.col("t"), F.col("v"),
        qs = Seq(0.5, 1.0))
      .as[(Double, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0.5, 20L, 10L, 10L), (1.0, 40L, 20L, 20L)), got)
  }

  test("lorenzCurve: hand ladder with ceil thresholds; ties stay together") {
    import graft.ops.Stats
    val vals = Seq(1L, 2L, 3L, 4L).toDF("v")
    val got = Stats.lorenzCurve(vals, F.col("v"), nPoints = 10)
      .select("point", "cutoff", "cum_share")
      .as[(Int, Long, Double)].collect()
      .map { case (p, c, s) => p -> ((c, s)) }.toMap
    // N=4, M=10: thresholds ceil(0.4)=1 … ceil(4)=4
    assert(got(1) == ((1L, 0.1)) && got(2) == ((1L, 0.1)), got)
    assert(got(3) == ((2L, 0.3)) && got(5) == ((2L, 0.3)), got)
    assert(got(8) == ((4L, 1.0)) && got(10) == ((4L, 1.0)), got)
    // heavy concentration: bottom half holds 3% of the mass
    val skew = Seq(1L, 1L, 1L, 97L).toDF("v")
    val g2 = Stats.lorenzCurve(skew, F.col("v"), nPoints = 2)
      .select("point", "cum_share").as[(Int, Double)].collect().toMap
    assert(g2(1) == 0.03 && g2(2) == 1.0, g2)
  }

  test("bigramCondEntropy: a deterministic chain scores 0 bits given the past") {
    import graft.ops.Stats
    val alternating = Seq("a b a b a b").toDF("text")
    val r = Stats.bigramCondEntropy(alternating, "text").collect()(0)
    // next token is fully determined by the previous one
    assert(r.getLong(0) == 5 && r.getDouble(1) == 0.0, r)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 0.0, r)
    val mixed = Seq("a a a b b b").toDF("text")
    val m = Stats.bigramCondEntropy(mixed, "text").collect()(0)
    assert(m.getDouble(1) > 0.5 && m.getDouble(1) < m.getDouble(2), m)
  }

  test("wasserstein1d: shifted point masses move exactly their distance") {
    import graft.ops.Stats
    val rows = Seq((true, 0L), (true, 10L), (false, 5L), (false, 15L))
      .toDF("a", "v")
    val r = Stats.wasserstein1d(rows, F.col("a"), F.col("v")).collect()(0)
    // both atoms shift by 5 → W1 = 5
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getDouble(2) == 5.0, r)
    // identical slices: zero distance
    val same = Seq((true, 3L), (false, 3L), (true, 7L), (false, 7L))
      .toDF("a", "v")
    assert(Stats.wasserstein1d(same, F.col("a"), F.col("v"))
      .collect()(0).getDouble(2) == 0.0)
  }

  test("burrowsDelta: identical styles score 0; a deviant source stands off both twins") {
    val docs = Seq(
      ("A", "the quick fox and the lazy dog and the bird"),
      ("B", "the quick fox and the lazy dog and the bird"),
      ("C", "zebra zebra zebra quantum quantum flux flux flux flux")
    ).toDF("source", "text")
    val got = TextOps.burrowsDelta(docs, "source", "text", topK = 10)
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got(("A", "B")) == 0.0, got)
    assert(got(("A", "C")) > 0.5, got)
    assert(got(("A", "C")) == got(("B", "C")), got)
  }

  test("nelsonAalen: additive hazard increments over the KM risk sets") {
    import graft.ops.Stats
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (5L, 0))
      .toDF("dur", "ev")
    val got = Stats.nelsonAalen(subj, F.col("dur"), F.col("ev"))
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // t=1: 1/5; t=3: +2/3 → 0.2 + 0.666666667 = 0.866667
    assert(got == Seq((1L, 5L, 1L, 0.2, 0.2),
      (3L, 3L, 2L, 0.666666667, 0.866667)), got)
  }

  test("audienceOverlap: exact Jaccard per type pair; disjoint pairs are absent") {
    import graft.ops.EventOps
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 1L, "A"), (2L, ts(2), 1L, "B"),
      (3L, ts(1), 2L, "A"), (4L, ts(1), 3L, "B"), (5L, ts(2), 3L, "C"),
      (6L, ts(3), 1L, "A")   // duplicate (user, type) — distinct collapse
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.audienceOverlap(ev)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("A", "B", 2L, 2L, 1L, 0.333333),
      ("B", "C", 2L, 1L, 1L, 0.5)), got)
    assert(!got.exists(r => r._1 == "A" && r._2 == "C"),
      "zero-overlap pairs stay absent")
  }

  test("chi2TokensDf2: independent token scores 0, planted association is exact") {
    val docs = Seq(
      (1L, "en", "aa xx"), (2L, "en", "aa xx"),
      (3L, "zh", "xx bb"), (4L, "zh", "xx bb"),
      (5L, "fr", "xx cc"), (6L, "fr", "xx cc")
    ).toDF("doc_id", "lang", "text")
    val grp = F.when(F.col("lang") === "en", "en")
      .when(F.col("lang") === "zh", "zh").otherwise("other")
    val got = TextOps.chi2TokensDf2(docs, "doc_id", "text", grp, minDf = 2)
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // "xx" in every doc: all cells O=E → χ²=0; "aa" only in en (2 of 2):
    // present cells 2.666667+0.666667+0.666667, absent 1.333333+0.333333+
    // 0.333333 → 6.0
    assert(got("xx") == ((6L, 0.0)), got)
    assert(got("aa") == ((2L, 6.0)), got)
    assert(got("bb") == ((2L, 6.0)) && got("cc") == ((2L, 6.0)), got)
  }

  test("fdProfile: holding FD reads 0 violations, broken FD counts groups exactly") {
    import graft.ops.Stats
    val df = Seq(
      (1L, "a", "x"), (2L, "a", "x"),   // key 'a' -> single rhs
      (3L, "b", "x"), (4L, "b", "y"),   // key 'b' -> TWO rhs: violation
      (5L, "c", "z")
    ).toDF("id", "k", "v")
    val got = Stats.fdProfile(df, Seq("k" -> "v", "id" -> "v"))
      .as[(String, String, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got(("k", "v")) == ((3L, 1L, 0.333333, 2L)), got)
    assert(got(("id", "v")) == ((5L, 0L, 0.0, 1L)), got) // id is a true key
  }

  test("inclusionProfile: full containment 1.0, partial counts hits exactly") {
    import graft.ops.Stats
    val a = Seq(1L, 2L, 3L, 3L).toDF("x") // 3 distinct
    val b = Seq(2L, 3L, 9L).toDF("y")
    val got = Stats.inclusionProfile(Seq(
        ("a<b", a, "x", b, "y"), ("b<a", b, "y", a, "x")))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a<b") == ((3L, 2L, 0.666667)), got)
    assert(got("b<a") == ((3L, 2L, 0.666667)), got)
    // empty / all-NULL lhs: the inclusion is vacuously true — defined 1.0
    // (advisor r11: Spark's 0/0 NULL diverged from DuckDB's sum-over-
    // nothing NULL; the explicit guard makes both engines agree)
    val e = Seq.empty[Long].toDF("x")
    val v = Stats.inclusionProfile(Seq(("e<b", e, "x", b, "y")))
      .as[(String, Long, Long, Double)].head()
    assert(v == (("e<b", 0L, 0L, 1.0)), v)
  }

  test("msprt: hand-valued llr ladder; always-valid p never increases") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 1.0)).toDF("t", "x")
    val got = Stats.msprt(df, F.col("t"), F.col("t"), F.col("x"),
        theta0 = 0.5, sigma2 = 0.25, tau2 = 0.1, every = 1)
      .as[(Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1.0, -0.025379, -0.025379, 1.0),
      (2L, 0.5, -0.293893, -0.025379, 1.0),
      (3L, 0.666667, -0.30332, -0.025379, 1.0),
      (4L, 0.75, -0.170063, -0.025379, 1.0)), got)
    // a strongly off-theta stream drives p below 1 and monotonically down
    val hot = (1 to 40).map(i => (i.toLong, 1.0)).toDF("t", "x")
    val ps = Stats.msprt(hot, F.col("t"), F.col("t"), F.col("x"),
        theta0 = 0.1, sigma2 = 0.09, tau2 = 0.2, every = 5)
      .select("p_value").as[Double].collect().toSeq
    assert(ps.last < 1e-6, ps.toString)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a }, ps.toString)
  }

  test("jaroWinkler: DuckDB-pinned conventions (empty, window, boost threshold)") {
    import graft.functions.TextSketches.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def f(a: String, b: String): Double =
      BigDecimal(jw(u(a), u(b))).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    // values measured against duckdb jaro_winkler_similarity (round 11)
    assert(f("martha", "marhta") == 0.9611111111)
    assert(f("dwayne", "duane") == 0.84)
    assert(f("dixon", "dicksonx") == 0.8133333333)
    assert(f("prefixaaaaaa", "prefixbbbbbb") == 0.6666666667) // jaro<0.7: no boost
    assert(f("crate", "trace") == 0.7333333333) // jaro>0.7, prefix 0
    assert(f("aaab", "abaa") == 0.85)
    assert(f("", "") == 0.0 && f("a", "") == 0.0) // DuckDB: empty -> 0, even both
    assert(f("ab", "ba") == 0.0)                  // window 0 at len 2
    assert(f("x", "x") == 1.0 && f("ab", "ab") == 1.0)
    assert(f("caf\u00e9 \u5024", "caf\u00e9 \u5024") == 1.0) // code-point indexed
  }

  test("jaroWinklerPairs blocks confine the join; fellegiSunter weights are exact") {
    val df = Seq(
      (1L, "receive", "r"), (2L, "recieve", "r"),  // transposition pair
      (3L, "separate", "s"), (4L, "seperate", "s"),
      (5L, "zebra", "z")
    ).toDF("id", "w", "blk")
    val pairs = Dedup.jaroWinklerPairs(df, "id", F.col("w"), F.col("blk"),
        minSim = 0.9)
      .as[(Long, Long, String, String, Double)].collect().toSeq.sortBy(_._1)
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (3L, 4L)), pairs)
    assert(pairs.forall(_._5 >= 0.9), pairs)
    // cross-block pairs never generated even when similar
    val cross = Dedup.jaroWinklerPairs(
      Seq((1L, "same", "a"), (2L, "same", "b")).toDF("id", "w", "blk"),
      "id", F.col("w"), F.col("blk"), minSim = 0.5)
    assert(cross.count() == 0)
    // oversized block fails loudly with the count (at action time — the
    // guard is folded into the join's own scan)
    val hot = (1 to 30).map(i => (i.toLong, s"w$i", "x")).toDF("id", "w", "blk")
    val e = loudMsg(
      Dedup.jaroWinklerPairs(hot, "id", F.col("w"), F.col("blk"),
        minSim = 0.5, maxBucket = 10).count())
    assert(e.contains("maxBucket"), e)
    // FS weights: log2 ratios at 6 dp, disagreement negative, order-stable sum
    val p = Seq((1L, 2L, true, false)).toDF("a", "b", "n_ok", "s_ok")
    val fs = Dedup.fellegiSunter(p, Seq(
        ("n", F.col("n_ok"), 0.9, 0.05), ("s", F.col("s_ok"), 0.95, 0.2)))
      .select("fs_weight").as[Double].head()
    assert(fs == BigDecimal(4.169925 + -4.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, fs.toString)
  }

  test("logRank: hand-valued 2-arm table (hypergeometric e1/v, chi2)") {
    import graft.ops.Stats
    // arm1 dies early (t=1,1,2 all events); arm0 late (2 ev, 3 ev, 3 cens)
    val df = Seq((1L, 1, true), (1L, 1, true), (2L, 1, true),
      (2L, 1, false), (3L, 1, false), (3L, 0, false))
      .toDF("dur", "ev", "arm")
    val got = Stats.logRank(df, F.col("dur"), F.col("ev"), F.col("arm"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    // risk sets 6/4/2, arm1 at risk 3/1/0; U = 1.5, V = 0.65,
    // chi2 = 2.25/0.65 = 3.461538
    assert(got == Seq(
      (1L, 6L, 3L, 2L, 2L, 1.0, 0.4, 3.461538),
      (2L, 4L, 1L, 2L, 1L, 0.5, 0.25, 3.461538),
      (3L, 2L, 0L, 1L, 0L, 0.0, 0.0, 3.461538)), got)
    // all-censored input: no event rows survive, empty relation not NaN
    val cens = Seq((1L, 0, true), (2L, 0, false)).toDF("dur", "ev", "arm")
    assert(Stats.logRank(cens, F.col("dur"), F.col("ev"),
      F.col("arm")).count() == 0)
  }

  test("ebShrunkMeans: hand-valued MoM shrinkage; degenerate guards") {
    import graft.ops.Stats
    // g1={1,3} g2={5,7} g3={2,4,6}: m=4, sigma2=3, tau2=70/32=2.1875
    val df = Seq((1L, 1.0), (1L, 3.0), (2L, 5.0), (2L, 7.0),
      (3L, 2.0), (3L, 4.0), (3L, 6.0)).toDF("g", "x")
    val got = Stats.ebShrunkMeans(df, F.col("g"), F.col("x"), scale = 1L)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2.0, 0.593220339, 2.813559),
      (2L, 2L, 6.0, 0.593220339, 5.186441),
      (3L, 3L, 4.0, 0.68627451, 4.0)), got)
    // single group with zero variance: tau2 = sigma2 = 0 -> B = 0, no NaN
    val one = Seq((1L, 5.0), (1L, 5.0)).toDF("g", "x")
    val g1 = Stats.ebShrunkMeans(one, F.col("g"), F.col("x"), scale = 1L)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(g1 == ((1L, 2L, 5.0, 0.0, 5.0)), g1)
    // all singletons: sigma2 denominator N-G = 0 -> guard gives sigma2=0,
    // tau2 absorbs all spread, B = 1, shrunk = own mean (finite, no NaN)
    val singles = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("g", "x")
    val gs = Stats.ebShrunkMeans(singles, F.col("g"), F.col("x"), scale = 1L)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(gs == Seq((1L, 1L, 1.0, 1.0, 1.0), (2L, 1L, 2.0, 1.0, 2.0),
      (3L, 1L, 3.0, 1.0, 3.0)), gs)
  }

  test("holmAdjust: hand-valued step-down; cummax enforces monotone p_adj") {
    import graft.ops.Stats
    // chi2 12/8/4/0 -> p = e^-6, e^-4, e^-2, 1 at 9 dp
    val df = Seq(("a", 12.0), ("b", 8.0), ("c", 4.0), ("d", 0.0))
      .toDF("k", "chi2")
    val got = Stats.holmAdjust(df, Seq("k"), F.col("chi2"), alpha = 0.05)
      .as[(String, Double, Double, Int, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      ("a", 12.0, 0.002478752, 1, 0.009915008, true),
      ("b", 8.0, 0.018315639, 2, 0.054946917, false),
      ("c", 4.0, 0.135335283, 3, 0.270670566, false),
      ("d", 0.0, 1.0, 4, 1.0, false)), got)
    // near-tied small p: raw (m-i+1)p DECREASES down the ladder; the
    // running max must flatten p_adj (the step-down hallmark)
    val tied = Seq(("a", 9.2103), ("b", 9.0), ("c", 8.8)).toDF("k", "chi2")
    val adj = Stats.holmAdjust(tied, Seq("k"), F.col("chi2"), alpha = 0.05)
      .as[(String, Double, Double, Int, Double, Boolean)].collect().toSeq
    assert(adj.map(_._5).distinct.size == 1, adj)
    assert(adj.forall(_._6), adj)
  }

  test("mcnemar: continuity-corrected discordant chi2 with both edges") {
    import graft.ops.Stats
    def mk(bb: Int, cc: Int, both: Int, neither: Int) = (
      Seq.fill(both)((true, true)) ++ Seq.fill(bb)((true, false)) ++
        Seq.fill(cc)((false, true)) ++ Seq.fill(neither)((false, false))
      ).toDF("a", "b")
    val got = Stats.mcnemar(mk(15, 5, 10, 3), F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((33L, 10L, 15L, 5L, 4.05)), got) // (10-1)^2/20
    // no discordant pairs: statistic defined 0, not 0/0
    val z = Stats.mcnemar(mk(0, 0, 4, 2), F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(z == ((6L, 4L, 0L, 0L, 0.0)), z)
    // |b-c| <= 1: continuity correction clamps to 0
    val c1 = Stats.mcnemar(mk(3, 2, 0, 0), F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(c1._5 == 0.0, c1)
  }

  test("kruskalWallis: hand rank sums, H=7.2 untied; tie correction exact") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0),
      ("b", 6.0), ("c", 7.0), ("c", 8.0), ("c", 9.0)).toDF("g", "v")
    val got = Stats.kruskalWallis(df, F.col("g"), F.col("v"))
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 3L, 6.0, 2.0, 7.2, 7.2),
      ("b", 3L, 15.0, 5.0, 7.2, 7.2),
      ("c", 3L, 24.0, 8.0, 7.2, 7.2)), got)
    // ties: A={1,1}, B={1,2} -> midranks 2,2,2,4; H=0.6, C=0.6, Hc=1.0
    val tied = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 2.0))
      .toDF("g", "v")
    val t = Stats.kruskalWallis(tied, F.col("g"), F.col("v"))
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(t == Seq(("A", 2L, 4.0, 2.0, 0.6, 1.0),
      ("B", 2L, 6.0, 3.0, 0.6, 1.0)), t)
  }

  test("cramersV: perfect association 1.0 both forms; independence 0") {
    import graft.ops.Stats
    val perfect = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q")))
      .toDF("a", "b")
    val p = Stats.cramersV(perfect, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(p == ((20L, 2L, 2L, 20.0, 1.0, 1.0)), p)
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q");
      _ <- 1 to 5 } yield (a, b)).toDF("a", "b")
    val i = Stats.cramersV(indep, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(i == ((20L, 2L, 2L, 0.0, 0.0, 0.0)), i)
  }

  test("cohensD: pooled-SD d=-3, Hedges g=-2.4 on the textbook pair") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val got = Stats.cohensD(df, F.col("g"), F.col("v"), scale = 1L)
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .head()
    assert(got == (("a", "b", 3L, 3L, 2.0, 5.0, -3.0, -2.4)), got)
  }

  test("brownForsythe: doubled-median deviations give F=2.205882") {
    import graft.ops.Stats
    // A={1,2,3,10}: med 2.5 -> m2=5, z={3,1,1,15}; B constant -> z=0
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 1.0), ("b", 1.0), ("b", 1.0), ("b", 1.0)).toDF("g", "v")
    val got = Stats.brownForsythe(df, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Double, Long, Long)].head()
    // SSB=50, SSW=136 -> F = 50 / (136/6) = 2.205882
    assert(got == ((2L, 8L, 2.205882, 1L, 6L)), got)
    // odd-n group median: {1,2,4} -> m2=4 (middle doubled), exact
    val odd = Seq(("a", 1.0), ("a", 2.0), ("a", 4.0),
      ("b", 1.0), ("b", 2.0), ("b", 4.0)).toDF("g", "v")
    val f0 = Stats.brownForsythe(odd, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Double, Long, Long)].head()
    assert(f0._3 == 0.0, f0) // identical groups: zero between-group spread
  }

  test("diffInDiff: 4-cell hand means, did=3.5, se=sqrt(3.25)") {
    import graft.ops.Stats
    val df = Seq(
      (true, false, 1.0), (true, false, 2.0),   // treated pre: mean 1.5
      (true, true, 5.0), (true, true, 7.0),     // treated post: mean 6
      (false, false, 1.0), (false, false, 3.0), // control pre: mean 2
      (false, true, 2.0), (false, true, 4.0))   // control post: mean 3
      .toDF("t", "p", "y")
    val got = Stats.diffInDiff(df, F.col("t"), F.col("p"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double, Double, Double)]
      .head()
    assert(got == ((8L, 1.5, 6.0, 2.0, 3.0, 3.5, 1.802776, 1.941451)), got)
  }

  test("chao1Richness: singleton/doubleton hand values incl. f2=0") {
    import graft.ops.TextOps
    val df = Seq((1L, "s1", "a b c c d d d"), (2L, "s2", "a b"))
      .toDF("id", "source", "text")
    val got = TextOps.chao1Richness(df, Seq("source"), "text")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("s1", 4L, 2L, 1L, 4.5), ("s2", 2L, 2L, 0L, 3.0)),
      got)
  }

  test("cronbachAlpha: perfectly correlated items -> 1; anti-pattern < 0") {
    import graft.ops.Stats
    val dup = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("i1", "i2")
    val a1 = Stats.cronbachAlpha(dup,
      Seq(("a", F.col("i1")), ("b", F.col("i2"))))
      .as[(Long, Int, Double, Double, Double)].head()
    assert(a1 == ((3L, 2, 2.0, 4.0, 1.0)), a1)
    val ind = Seq((1L, 3L), (2L, 1L), (3L, 2L)).toDF("i1", "i2")
    val a2 = Stats.cronbachAlpha(ind,
      Seq(("a", F.col("i1")), ("b", F.col("i2"))))
      .as[(Long, Int, Double, Double, Double)].head()
    assert(a2 == ((3L, 2, 2.0, 1.0, -2.0)), a2)
  }

  test("bradleyTerry: 3:1 record -> 0.75/0.25 fixpoint; cycle stays uniform") {
    import graft.ops.Stats
    val b = (Seq.fill(3)(("a", "b")) :+ (("b", "a"))).toDF("w", "l")
    val got = Stats.bradleyTerry(b, F.col("w"), F.col("l"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 3L, 0.75), ("b", 1L, 0.25)), got)
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("w", "l")
    val u = Stats.bradleyTerry(cyc, F.col("w"), F.col("l"))
      .as[(String, Long, Double)].collect().toSeq
    assert(u == Seq(("a", 1L, 0.333333), ("b", 1L, 0.333333),
      ("c", 1L, 0.333333)), u)
  }

  test("bradleyTerry: one pass over a parquet-backed corpus per call") {
    import graft.ops.Stats
    val b = (Seq.fill(3)(("a", "b")) ++ Seq(("b", "a"), ("b", "c"),
      ("c", "a"))).toDF("w", "l")
    val battles = parquetFrame(b)
    val (got, log) = listened(Stats.bradleyTerry(battles, F.col("w"),
      F.col("l")).as[(String, Long, Double)].collect().toSeq)
    assert(got.map(_._1) == Seq("a", "b", "c") &&
      got.map(_._2) == Seq(3L, 2L, 1L), got)
    assert(log.scans.get == 1,
      s"battles scanned ${log.scans.get} times, expected once")
  }

  test("bradleyTerry: item guards fire before any pair row is collected; " +
      "an item that only loses is listed with wins 0") {
    import graft.ops.Stats
    // 4097 distinct items in a chain of 4096 battles
    val many = (0 until 4096).map(i => (s"i$i", s"i${i + 1}")).toDF("w", "l")
    val (msg, log) = listened(loudMsg(
      Stats.bradleyTerry(many, F.col("w"), F.col("l"))))
    assert(msg.contains("bradleyTerry: 4097 items"), msg)
    import scala.jdk.CollectionConverters._
    assert(!log.sites.asScala.exists(_.startsWith("collect at")),
      s"a collect ran before the guard: ${log.sites}")
    // self-battles are dropped, so one item alone has nothing to rank
    val one = Seq(("a", "a"), ("a", "a")).toDF("w", "l")
    val m1 = loudMsg(Stats.bradleyTerry(one, F.col("w"), F.col("l")))
    assert(m1.contains("bradleyTerry: need >= 2 items"), m1)
    // c never wins: wins 0, and its strength is driven to 0
    val chain = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("w", "l")
    val got = Stats.bradleyTerry(chain, F.col("w"), F.col("l"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 2L, 0.818092), ("b", 1L, 0.181908),
      ("c", 0L, 0.0)), got)
  }

  test("dunnPairs: pairwise z from mean ranks, -3/sqrt(5) hand value") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0),
      ("b", 6.0), ("c", 7.0), ("c", 8.0), ("c", 9.0)).toDF("g", "v")
    val got = Stats.dunnPairs(df, F.col("g"), F.col("v"))
      .as[(String, String, Long, Long, Double, Double, Double)]
      .collect().toSeq
    // cvar = 9*10/12 = 7.5; z_ab = -3/sqrt(7.5*2/3) = -1.341641
    assert(got == Seq(
      ("a", "b", 3L, 3L, 2.0, 5.0, -1.341641),
      ("a", "c", 3L, 3L, 2.0, 8.0, -2.683282),
      ("b", "c", 3L, 3L, 5.0, 8.0, -1.341641)), got)
  }

  test("cochranQ: hand 4x3 table gives Q=3; k=2 reduces to McNemar form") {
    import graft.ops.Stats
    val df = Seq((true, true, true), (true, false, false),
      (true, true, false), (false, false, false)).toDF("a", "b", "c")
    val got = Stats.cochranQ(df, Seq(("a", F.col("a")), ("b", F.col("b")),
      ("c", F.col("c")))).as[(Long, Int, Double, Long)].head()
    assert(got == ((4L, 3, 3.0, 2L)), got)
    // all-equal outcomes: denominator k*SL - SL2 = 0 -> NULL, not NaN
    val same = Seq((true, true), (false, false)).toDF("a", "b")
    val z = Stats.cochranQ(same, Seq(("a", F.col("a")), ("b", F.col("b"))))
      .select("q").collect().head
    assert(z.isNullAt(0), z.toString)
  }

  test("gTest: perfect 2x2 association = 40*ln2; independence = 0") {
    import graft.ops.Stats
    val perfect = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q")))
      .toDF("a", "b")
    val p = Stats.gTest(perfect, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Long)].head()
    assert(p == ((20L, 2L, 2L, 27.725887, 1L)), p)
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q");
      _ <- 1 to 5 } yield (a, b)).toDF("a", "b")
    val i = Stats.gTest(indep, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Long)].head()
    assert(i._4 == 0.0, i)
  }

  test("icc1: hand ANOVA decomposition gives ICC=14/18") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 7.0))
      .toDF("g", "v")
    val got = Stats.icc1(df, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    // MSB=16, MSW=2, n0=2 -> (16-2)/(16+2) = 0.777778
    assert(got == ((2L, 4L, 2.0, 16.0, 2.0, 0.777778)), got)
    // perfect clustering: zero within-variance -> ICC = 1
    val sep = Seq(("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0))
      .toDF("g", "v")
    val one = Stats.icc1(sep, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(one._6 == 1.0, one)
  }

  test("partialCorr: shared driver fully explains the raw correlation") {
    import graft.ops.Stats
    val df = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 4L, 2L), (4L, 3L, 2L))
      .toDF("x", "y", "z")
    val got = Stats.partialCorr(df, F.col("x"), F.col("y"), F.col("z"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert((got._1, got._2, got._3, got._4) ==
      ((4L, 0.8, 0.894427, 0.894427)), got)
    assert(got._5 == 0.0, got) // r_xy == r_xz*r_yz -> partial vanishes
  }

  test("cliffsDelta: exact dominance -0.5 with bands; full separation 1") {
    import graft.ops.Stats
    // A={1,3} vs B={2,4}: #a>b=1, #a<b=3 -> delta = -0.5 (medium|large?)
    val df = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("v", "c")
    val got = Stats.cliffsDelta(df, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, String)].head()
    assert(got == ((2L, 2L, 1.0, -0.5, "large")), got)
    val sep = Seq((3.0, true), (4.0, true), (1.0, false), (2.0, false))
      .toDF("v", "c")
    val s = Stats.cliffsDelta(sep, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, String)].head()
    assert(s == ((2L, 2L, 4.0, 1.0, "large")), s)
    // midrank ties: identical distributions -> delta 0, negligible
    val tie = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "c")
    val t = Stats.cliffsDelta(tie, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, String)].head()
    assert(t._4 == 0.0 && t._5 == "negligible", t)
  }

  test("bowkerSymmetry: hand cells, asymmetric pair contributes, df counts") {
    import graft.ops.Stats
    val flows = (Seq.fill(5)(("a", "b")) ++ Seq.fill(3)(("b", "a")) ++
      Seq.fill(2)(("a", "c")) ++ Seq.fill(2)(("c", "a")) ++
      Seq.fill(1)(("a", "a"))).toDF("f", "t") // self-loop must drop
    val got = Stats.bowkerSymmetry(flows, F.col("f"), F.col("t"))
      .as[(String, String, Long, Long, Double, Double, Long)]
      .collect().toSeq
    // (a,b): (5-3)^2/8 = 0.5; (a,c): 0 -> chi2 = 0.5, df = 2
    assert(got == Seq(
      ("a", "b", 5L, 3L, 0.5, 0.5, 2L),
      ("a", "c", 2L, 2L, 0.0, 0.5, 2L)), got)
  }

  test("runsTest: alternating series z=1.825742; streaked series negative z") {
    import graft.ops.Stats
    val alt = (1L to 6L).map(i => (i, if (i % 2 == 0) 2.0 else 1.0))
      .toDF("o", "v")
    val got = Stats.runsTest(alt, F.col("o"), F.col("v"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got == ((3L, 3L, 6L, 4.0, 1.825742)), got)
    // fully streaked: 111222 -> 2 runs, z < 0 (clustering)
    val blk = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 2.0), (5L, 2.0),
      (6L, 2.0)).toDF("o", "v")
    val b = Stats.runsTest(blk, F.col("o"), F.col("v"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(b._3 == 2L && b._5 < 0.0, b)
  }

  test("mantelHaenszel: pooled OR=2 over reversing strata, RBG se exact") {
    import graft.ops.Stats
    def stratum(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++ Seq.fill(d)((s, false, false))
    val df = (stratum("s1", 4, 1, 1, 4) ++ stratum("s2", 2, 3, 3, 2))
      .toDF("s", "e", "y")
    val got = Stats.mantelHaenszel(df, F.col("s"), F.col("e"), F.col("y"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(got == ((2L, 2.0, 0.693147, 0.842615, 0.822614)), got)
  }

  test("jonckheereTerpstra: J=4 on separated pair, z=1.549193; ties half") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
    val got = Stats.jonckheereTerpstra(df, F.col("g"), F.col("v"))
      .as[(Long, Double, Double, Double)].head()
    assert(got == ((4L, 4.0, 2.0, 1.549193)), got)
    // cross-group tie contributes 1/2; symmetric layout -> z = 0
    val tie = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0)).toDF("g", "v")
    val t = Stats.jonckheereTerpstra(tie, F.col("g"), F.col("v"))
      .as[(Long, Double, Double, Double)].head()
    assert(t == ((3L, 1.0, 1.0, 0.0)), t)
  }

  test("friedman: textbook 4x3 chi2=6.5; within-row ties midrank to 7.428571") {
    import graft.ops.Stats
    val df = Seq((1L, 2L, 3L), (1L, 3L, 2L), (1L, 2L, 3L), (1L, 2L, 3L))
      .toDF("i1", "i2", "i3")
    def items = Seq(("a", F.col("i1")), ("b", F.col("i2")),
      ("c", F.col("i3")))
    val got = Stats.friedman(df, items)
      .as[(Long, Int, Double, Long)].head()
    assert(got == ((4L, 3, 6.5, 2L)), got)
    val tied = Seq((1L, 1L, 2L), (1L, 1L, 2L), (1L, 2L, 3L), (1L, 2L, 3L))
      .toDF("i1", "i2", "i3")
    val t = Stats.friedman(tied, items)
      .as[(Long, Int, Double, Long)].head()
    assert(t == ((4L, 3, 7.428571, 2L)), t)
  }

  test("fisherExact: tea-tasting exact tails; clean-split tails") {
    import graft.ops.Stats
    def mk(a: Int, b: Int, c: Int, d: Int) =
      (Seq.fill(a)((true, true)) ++ Seq.fill(b)((true, false)) ++
        Seq.fill(c)((false, true)) ++ Seq.fill(d)((false, false)))
        .toDF("e", "y")
    val got = Stats.fisherExact(mk(3, 1, 1, 3), F.col("e"), F.col("y"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].head()
    // 69/70, 17/70, 34/70 exact rationals
    assert(got == ((3L, 1L, 1L, 3L, 8L, 0.985714, 0.242857, 0.485714)),
      got)
    val sep = Stats.fisherExact(mk(5, 0, 0, 5), F.col("e"), F.col("y"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].head()
    assert((sep._6, sep._7, sep._8) == ((1.0, 0.003968, 0.007937)), sep)
  }

  test("kCore: pendant drops, triangle survives; path cascades to empty") {
    import graft.ops.Graph
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val got = Graph.kCore(tri, "s", "d", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)), got)
    // a path has no 2-core: peeling cascades inward round by round
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    assert(Graph.kCore(path, "s", "d", k = 2, rounds = 3).count() == 0)
    // but with rounds=1 the cascade is only one layer deep
    assert(Graph.kCore(path, "s", "d", k = 2, rounds = 1).count() == 3)
  }

  test("weightedKappa: perfect diagonal 1; symmetric anti-pattern 0") {
    import graft.ops.Stats
    val perfect = Seq((1L, 1L), (2L, 2L), (3L, 3L), (1L, 1L), (2L, 2L),
      (3L, 3L)).toDF("r1", "r2")
    val p = Stats.weightedKappa(perfect, F.col("r1"), F.col("r2"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(p._4 == 0.0 && p._6 == 1.0, p)
    // uniform margins make E's weighted disagreement equal O's -> 0
    val zero = Seq((1L, 3L), (3L, 1L), (2L, 2L), (1L, 1L), (3L, 3L),
      (2L, 2L)).toDF("r1", "r2")
    val z = Stats.weightedKappa(zero, F.col("r1"), F.col("r2"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(z == ((6L, 3L, 3L, 8.0, 8.0, 0.0)), z)
  }

  test("captureRecapture: LP=6 and Chapman=17/3 on the hand overlap") {
    import graft.ops.Stats
    val a = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val b = Seq((1L, 2L), (4L, 5L), (6L, 7L)).toDF("a", "b")
    val got = Stats.captureRecapture(a, b)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got == ((4L, 3L, 2L, 6.0, 5.666667)), got)
    // zero overlap: LP undefined (NULL), Chapman finite
    val c = Seq((8L, 9L)).toDF("a", "b")
    val z = Stats.captureRecapture(a, c).select("n_lp", "n_chapman")
      .collect().head
    assert(z.isNullAt(0) && z.getDouble(1) == 9.0, z.toString)
  }

  test("byFdr: harmonic-penalty ladder hand values, BH-dominated") {
    import graft.ops.Stats
    val df = Seq(("a", 12.0), ("b", 8.0), ("c", 4.0), ("d", 0.0))
      .toDF("k", "chi2")
    val got = Stats.byFdr(df, Seq("k"), F.col("chi2"), alpha = 0.05)
      .as[(String, Double, Double, Int, Double, Boolean)].collect().toSeq
    // c(4) = 2.083333333; q_i = min(1, 4c/i·p_i); suffix-min
    assert(got == Seq(
      ("a", 12.0, 0.002478752, 1, 0.020656267, true),
      ("b", 8.0, 0.018315639, 2, 0.076315162, false),
      ("c", 4.0, 0.135335283, 3, 0.375931342, false),
      ("d", 0.0, 1.0, 4, 1.0, false)), got)
  }

  test("ordinalAssociation: perfect concordance 1s; balanced grid zeros") {
    import graft.ops.Stats
    val perf = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val p = Stats.ordinalAssociation(perf, F.col("x"), F.col("y"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(p == ((3L, 3L, 0L, 1.0, 1.0, 1.0)), p)
    val bal = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("x", "y")
    val b = Stats.ordinalAssociation(bal, F.col("x"), F.col("y"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(b == ((4L, 1L, 1L, 0.0, 0.0, 0.0)), b)
  }

  test("cochranArmitage: monotone dose-response z=2.828427; flat is 0") {
    import graft.ops.Stats
    def rows(spec: (Long, Int, Int)*) = spec.flatMap { case (s, pos, neg) =>
      Seq.fill(pos)((s, true)) ++ Seq.fill(neg)((s, false)) }
    val up = rows((1L, 0, 4), (2L, 2, 2), (3L, 4, 0)).toDF("s", "y")
    val got = Stats.cochranArmitage(up, F.col("s"), F.col("y"))
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((3L, 12L, 6L, 2.828427)), got)
    val flat = rows((1L, 2, 2), (2L, 2, 2), (3L, 2, 2)).toDF("s", "y")
    val f = Stats.cochranArmitage(flat, F.col("s"), F.col("y"))
      .as[(Long, Long, Long, Double)].head()
    assert(f._4 == 0.0, f)
  }

  test("pageL: uniform ascending blocks L=56, z=2.828427") {
    import graft.ops.Stats
    val df = Seq.fill(4)((1L, 2L, 3L)).toDF("i1", "i2", "i3")
    val got = Stats.pageL(df, Seq(("a", F.col("i1")), ("b", F.col("i2")),
      ("c", F.col("i3")))).as[(Long, Int, Double, Double)].head()
    assert(got == ((4L, 3, 56.0, 2.828427)), got)
    // reversed order: L at its minimum, z negative mirror
    val rev = Stats.pageL(df, Seq(("a", F.col("i3")), ("b", F.col("i2")),
      ("c", F.col("i1")))).as[(Long, Int, Double, Double)].head()
    assert(rev == ((4L, 3, 40.0, -2.828427)), rev)
  }

  test("tClosenessAudit: hand TV distances, breach flags, corpus max") {
    import graft.ops.Curation
    val df = (Seq.fill(1)(("g1", "A")) ++ Seq.fill(3)(("g1", "B")) ++
      Seq.fill(4)(("g2", "A")) ++
      Seq.fill(3)(("g3", "A")) ++ Seq.fill(1)(("g3", "B")))
      .toDF("qi", "s")
    val got = Curation.tClosenessAudit(df, Seq("qi"), F.col("s"),
      tMax = 0.3).as[(String, Long, Double, Boolean, Double)]
      .collect().toSeq
    // global p = (2/3, 1/3): TVDs 5/12, 1/3, 1/12
    assert(got == Seq(
      ("g1", 4L, 0.416667, true, 0.416667),
      ("g2", 4L, 0.333333, true, 0.416667),
      ("g3", 4L, 0.083333, false, 0.416667)), got)
    // a class matching the corpus distribution exactly scores 0
    val same = (Seq.fill(2)(("a", "X")) ++ Seq.fill(2)(("a", "Y")) ++
      Seq.fill(2)(("b", "X")) ++ Seq.fill(2)(("b", "Y"))).toDF("qi", "s")
    val z = Curation.tClosenessAudit(same, Seq("qi"), F.col("s"))
      .select("tvd").as[Double].collect().toSeq
    assert(z == Seq(0.0, 0.0), z)
  }

  test("stuartMaxwell3: hand margins give chi2=64/24; symmetric flow 0") {
    import graft.ops.Stats
    val flows = (Seq.fill(3)(("a", "a")) ++ Seq.fill(3)(("b", "b")) ++
      Seq.fill(3)(("c", "c")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(1)(("b", "a")) ++ Seq.fill(2)(("a", "c")) ++
      Seq.fill(2)(("c", "a"))).toDF("f", "t")
    val got = Stats.stuartMaxwell3(flows, F.col("f"), F.col("t"),
      Seq("a", "b", "c")).as[(Long, Long, Long, Double, Long)].head()
    // d=(4,-4), S=((10,-6),(-6,6)): chi2 = 64/24 = 2.666667
    assert(got == ((19L, 4L, -4L, 2.666667, 2L)), got)
    val sym = (Seq.fill(4)(("a", "b")) ++ Seq.fill(4)(("b", "a")) ++
      Seq.fill(2)(("b", "c")) ++ Seq.fill(2)(("c", "b"))).toDF("f", "t")
    val s = Stats.stuartMaxwell3(sym, F.col("f"), F.col("t"),
      Seq("a", "b", "c")).as[(Long, Long, Long, Double, Long)].head()
    assert(s._4 == 0.0, s) // balanced flows: margins identical
    // two-effective-category symmetric flow: S singular -> NULL, not NaN
    val sing = (Seq.fill(4)(("a", "b")) ++ Seq.fill(4)(("b", "a")))
      .toDF("f", "t")
    val sg = Stats.stuartMaxwell3(sing, F.col("f"), F.col("t"),
      Seq("a", "b", "c")).select("chi2").collect().head
    assert(sg.isNullAt(0), sg.toString)
  }

  test("signTest: exact binomial tails 31/32, 6/32, 12/32; ties drop") {
    import graft.ops.Stats
    val df = Seq((3L, 1L), (4L, 2L), (5L, 1L), (9L, 8L), (1L, 7L),
      (2L, 2L)).toDF("x", "y") // 4 wins, 1 loss, 1 tie
    val got = Stats.signTest(df, F.col("x"), F.col("y"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(got == ((6L, 5L, 4L, 0.96875, 0.1875, 0.375)), got)
  }

  test("mcnemarExact: b=5,c=1 exact tails; zero-discordant all 1") {
    import graft.ops.Stats
    def mk(bb: Int, cc: Int, both: Int) =
      (Seq.fill(both)((true, true)) ++ Seq.fill(bb)((true, false)) ++
        Seq.fill(cc)((false, true))).toDF("a", "b")
    val got = Stats.mcnemarExact(mk(5, 1, 3), F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // P(X<=5)=63/64, P(X>=5)=7/64, two-sided 14/64
    assert(got == ((9L, 5L, 1L, 0.984375, 0.109375, 0.21875)), got)
    val z = Stats.mcnemarExact(mk(0, 0, 4), F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(z == ((4L, 0L, 0L, 1.0, 1.0, 1.0)), z)
  }

  test("expFitKs: hand lambda and two-sided KS steps; exact-exp near 0") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val got = Stats.expFitKs(df, F.col("v"))
      .as[(Long, Double, Double)].head()
    // lambda = 0.5; D at the lower side of the first step = F(1)
    assert(got == ((3L, 0.5, 0.393469)), got)
    // quantiles OF an exponential fit tightly (D small)
    val q = (1 to 99).map(i => -math.log(1.0 - i / 100.0)).toDF("v")
    val tight = Stats.expFitKs(q, F.col("v"))
      .as[(Long, Double, Double)].head()
    assert(tight._3 < 0.05, tight)
  }

  test("hillTailIndex: hand log ladder on a dyadic tail") {
    import graft.ops.Stats
    val df = (Seq(8.0, 4.0, 2.0, 1.0) ++ Seq.fill(10)(0.5)).toDF("v")
    val got = Stats.hillTailIndex(df, F.col("v"), k = 3)
      .as[(Long, Double, Double, Double)].head()
    // terms ln8, ln4, ln2 over x_(4)=1: mean = 2ln2 = 1.386294
    assert(got == ((3L, 1.0, 1.386294, 0.721348)), got)
  }

  test("moodsMedianTest: separated groups chi2=6; balanced groups 0") {
    import graft.ops.Stats
    val sep = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 10.0), ("b", 11.0), ("b", 12.0)).toDF("g", "v")
    val got = Stats.moodsMedianTest(sep, F.col("g"), F.col("v"),
      scale = 1L).as[(Long, Long, Double, Long)].head()
    assert(got == ((2L, 6L, 6.0, 1L)), got)
    val bal = Seq(("a", 1.0), ("a", 12.0), ("b", 2.0), ("b", 11.0))
      .toDF("g", "v")
    val b = Stats.moodsMedianTest(bal, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Double, Long)].head()
    assert(b._3 == 0.0, b)
  }

  test("kendallW: unanimous rankings W=1; the 6.5-chi2 table W=0.8125") {
    import graft.ops.Stats
    def items = Seq(("a", F.col("i1")), ("b", F.col("i2")),
      ("c", F.col("i3")))
    val unanimous = Seq.fill(4)((1L, 2L, 3L)).toDF("i1", "i2", "i3")
    val u = Stats.kendallW(unanimous, items)
      .as[(Long, Int, Double, Double)].head()
    assert(u == ((4L, 3, 8.0, 1.0)), u)
    val mixed = Seq((1L, 2L, 3L), (1L, 3L, 2L), (1L, 2L, 3L),
      (1L, 2L, 3L)).toDF("i1", "i2", "i3")
    val m = Stats.kendallW(mixed, items)
      .as[(Long, Int, Double, Double)].head()
    assert(m == ((4L, 3, 6.5, 0.8125)), m)
  }

  test("fleissKappa: hand 2-rater table 7/15; uniform ratings NULL") {
    import graft.ops.Stats
    val df = Seq(("a", 1L), ("a", 1L), ("b", 1L), ("b", 2L),
      ("c", 2L), ("c", 2L), ("d", 1L), ("d", 1L)).toDF("it", "cat")
    val got = Stats.fleissKappa(df, F.col("it"), F.col("cat"), m = 2)
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // Pa=(14-8)/8=0.75, Pe=(25+9)/64=0.53125, kappa=7/15
    assert(got == ((4L, 2L, 2L, 0.75, 0.53125, 0.466667)), got)
    val uni = Seq(("a", 1L), ("a", 1L), ("b", 1L), ("b", 1L))
      .toDF("it", "cat")
    assert(Stats.fleissKappa(uni, F.col("it"), F.col("cat"), m = 2)
      .select("kappa").head().isNullAt(0))
  }

  test("krippAlphaNominal: 3-unit hand table alpha=0.444444") {
    import graft.ops.Stats
    val df = Seq(("u1", "x"), ("u1", "x"), ("u2", "x"), ("u2", "y"),
      ("u3", "y"), ("u3", "y")).toDF("u", "cat")
    val got = Stats.krippAlphaNominal(df, F.col("u"), F.col("cat"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // D_o = 0+2+0 = 2; D_e = (36-18)/5 = 3.6; alpha = 1-2/3.6
    assert(got == ((3L, 6L, 2L, 2.0, 3.6, 0.444444)), got)
  }

  test("adKSample: identical samples 0; disjoint 2x2 gives 76/11") {
    import graft.ops.Stats
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val s = Stats.adKSample(same, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Long, Double)].head()
    assert(s == ((2L, 4L, 2L, 0.0)), s)
    val sep = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
    val got = Stats.adKSample(sep, F.col("g"), F.col("v"), scale = 1L)
      .as[(Long, Long, Long, Double)].head()
    // per-group inner sum 304/33; A2 = 3/4 * 2*(304/33)/2 = 76/11
    assert(got == ((2L, 4L, 4L, 6.909091)), got)
  }

  test("gkLambda: perfect prediction 1; hand mixed table 0.4") {
    import graft.ops.Stats
    val perfect = Seq.tabulate(10)(i =>
      (if (i < 5) "r1" else "r2", if (i < 5) "c1" else "c2"))
      .toDF("r", "c")
    val p = Stats.gkLambda(perfect, F.col("r"), F.col("c"))
      .as[(Long, Long, Long, Double)].head()
    assert(p == ((2L, 2L, 10L, 1.0)), p)
    val mixed = (Seq.fill(3)(("r1", "c1")) ++ Seq.fill(1)(("r1", "c2")) ++
      Seq.fill(2)(("r2", "c1")) ++ Seq.fill(4)(("r2", "c2")))
      .toDF("r", "c")
    val m = Stats.gkLambda(mixed, F.col("r"), F.col("c"))
      .as[(Long, Long, Long, Double)].head()
    // row modes 3+4=7, modal column 5, n=10: (7-5)/(10-5)
    assert(m == ((2L, 2L, 10L, 0.4)), m)
  }

  test("lDiversityAudit: balanced class effective-2; skewed 3:1 at risk") {
    import graft.ops.Curation
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
      ("g2", "a"), ("g2", "a"), ("g2", "a"), ("g2", "b"))
      .toDF("qi", "sv")
    val got = Curation.lDiversityAudit(df, Seq("qi"), F.col("sv"))
      .as[(String, Long, Long, Double, Double, Boolean)].collect().toSeq
    // g1 {2,2}: entropy-l = 4^(1) full; g2 {3,1}: exp(ln4 - 3ln3/4)
    assert(got == Seq(("g1", 4L, 2L, 2.0, 1.0, false),
      ("g2", 4L, 2L, 1.754765, 3.0, true)), got)
  }

  test("tostEquivalence: identical triples equivalent at margin 2 not 1") {
    import graft.ops.Stats
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val wide = Stats.tostEquivalence(df, Seq.empty, F.col("g"),
      F.col("v"), "a", "b", margin = 2.0)
      .as[(Long, Long, Double, Double, Double, Double, Boolean)].head()
    assert(wide == ((3L, 3L, 0.0, 0.816497, 2.44949, -2.44949, true)),
      wide)
    val tight = Stats.tostEquivalence(df, Seq.empty, F.col("g"),
      F.col("v"), "a", "b", margin = 1.0)
      .select("equivalent").as[Boolean].head()
    assert(!tight)
  }

  test("metaFixedEffect: two equal-weight strata pool to 0.5, Q=0.75") {
    import graft.ops.Stats
    val df = Seq(("s1", "a", 1.0), ("s1", "a", 2.0), ("s1", "a", 3.0),
      ("s1", "b", 1.0), ("s1", "b", 2.0), ("s1", "b", 3.0),
      ("s2", "a", 2.0), ("s2", "a", 3.0), ("s2", "a", 4.0),
      ("s2", "b", 1.0), ("s2", "b", 2.0), ("s2", "b", 3.0))
      .toDF("st", "g", "v")
    val got = Stats.metaFixedEffect(df, F.col("st"), F.col("g"),
      F.col("v"), "a", "b")
      .as[(Long, Double, Double, Double, Double, Double)].head()
    // e=(0,1), w=(1.5,1.5): pooled .5, se 1/sqrt(3), Q=1.5-0.75, I2 -> 0
    assert(got == ((2L, 0.5, 0.57735, 0.866025, 0.75, 0.0)), got)
  }

  test("icc2: 2x2 hand grids — pure column shift 0.8; crossed pair 0.75") {
    import graft.ops.Stats
    // i1:(1,2) i2:(3,4): rater2 = rater1 + 1 exactly -> MSE=0, ICC 4/5
    val shift = Seq(("i1", "r1", 1.0), ("i1", "r2", 2.0),
      ("i2", "r1", 3.0), ("i2", "r2", 4.0)).toDF("it", "ra", "v")
    val s = Stats.icc2(shift, F.col("it"), F.col("ra"), F.col("v"), k = 2)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(s == ((2L, 2L, 4.0, 1.0, 0.0, 0.8)), s)
    // i1:(1,2) i2:(4,3): no rater effect, 1 unit of noise -> 3/4
    val cross = Seq(("i1", "r1", 1.0), ("i1", "r2", 2.0),
      ("i2", "r1", 4.0), ("i2", "r2", 3.0)).toDF("it", "ra", "v")
    val c = Stats.icc2(cross, F.col("it"), F.col("ra"), F.col("v"), k = 2)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(c == ((2L, 2L, 4.0, 0.0, 1.0, 0.75)), c)
  }

  test("linsCcc: y=2x has r=1 but ccc=4/11; y=x is perfect") {
    import graft.ops.Stats
    val prop = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    val p = Stats.linsCcc(prop, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(p == ((3L, 2.0, 4.0, 1.0, 0.363636, 0.363636)), p)
    val ident = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val i = Stats.linsCcc(ident, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(i == ((3L, 2.0, 2.0, 1.0, 1.0, 1.0)), i)
  }

  test("modularity: triangle+edge by component 0.375; bad partition < 0") {
    import graft.ops.Graph
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"))
      .toDF("src", "dst")
    val good = Seq(("a", "c1"), ("b", "c1"), ("c", "c1"),
      ("d", "c2"), ("e", "c2")).toDF("node", "comm")
    val g = Graph.modularity(edges, "src", "dst", good, "node", "comm")
      .as[(Long, Long, Long, Double)].head()
    // m=4 all intra; d=(6,2): 1 - 40/64
    assert(g == ((2L, 4L, 4L, 0.375)), g)
    val bad = Seq(("a", "p1"), ("d", "p1"), ("b", "p2"), ("e", "p2"),
      ("c", "p3")).toDF("node", "comm")
    val b = Graph.modularity(edges, "src", "dst", bad, "node", "comm")
      .as[(Long, Long, Long, Double)].head()
    // 0 intra; d=(3,3,2): 0 - 22/64
    assert(b == ((3L, 4L, 0L, -0.34375)), b)
  }

  test("modularity: a node listed under two communities counts once, in " +
      "the smallest") {
    import graft.ops.Graph
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"))
      .toDF("src", "dst")
    // "a" also maps to c9: the edge joins must not multiply its two edges
    val dup = Seq(("a", "c9"), ("a", "c1"), ("b", "c1"), ("c", "c1"),
      ("d", "c2"), ("e", "c2")).toDF("node", "comm")
    val g = Graph.modularity(edges, "src", "dst", dup, "node", "comm")
      .as[(Long, Long, Long, Double)].head()
    assert(g == ((2L, 4L, 4L, 0.375)), g)
  }

  test("ljungBox: alternating series gives LB=12 at h=2") {
    import graft.ops.Stats
    val s = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 1L),
      (6L, 2L)).toDF("t", "v")
    val got = Stats.ljungBox(s, F.col("t"), F.col("v"), maxLag = 2)
      .as[(Long, Long, Double, Long)].head()
    // rho1=-5/6 over 5 pairs, rho2=2/3 over 4: 48*(5/36+4/36) = 12
    assert(got == ((6L, 2L, 12.0, 2L)), got)
  }

  test("moransI: triangle with 1,2,3 gives -1/2; path gives 0") {
    import graft.ops.Graph
    val attrs = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("n", "x")
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val t = Graph.moransI(tri, "src", "dst", attrs, "n", F.col("x"),
      scale = 1L).as[(Long, Long, Double, Double)].head()
    assert(t == ((3L, 3L, -0.5, -0.5)), t)
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val p = Graph.moransI(path, "src", "dst", attrs, "n", F.col("x"),
      scale = 1L).as[(Long, Long, Double, Double)].head()
    assert(p == ((3L, 2L, 0.0, -0.5)), p)
  }

  test("delongAucCi: 2x2 hand table — AUC 3/4, se sqrt(1/8)") {
    import graft.ops.Stats
    val df = Seq((3.0, true), (5.0, true), (1.0, false), (4.0, false))
      .toDF("s", "y")
    val got = Stats.delongAucCi(df, F.col("s"), F.col("y"), scale = 1.0)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    // V10=(.5,1), V01=(1,.5): S10=S01=1/8, Var=1/8
    assert(got == ((2L, 2L, 0.75, 0.353553, 0.057048, 1.442952)), got)
    // perfect separation: AUC 1, zero variance
    val sep = Seq((10.0, true), (9.0, true), (1.0, false), (2.0, false))
      .toDF("s", "y")
    val p = Stats.delongAucCi(sep, F.col("s"), F.col("y"), scale = 1.0)
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(p == ((2L, 2L, 1.0, 0.0, 1.0, 1.0)), p)
  }

  test("prfCensus: 2-class hand table — a (1, .5, 2/3), b (2/3, 1, .8)") {
    import graft.ops.Stats
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"))
      .toDF("y", "p")
    val got = Stats.prfCensus(df, F.col("y"), F.col("p"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double,
        Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 2L, 1L, 0L, 1L, 1.0, 0.5, 0.666667, 0.733333, 0.75),
      ("b", 2L, 2L, 1L, 0L, 0.666667, 1.0, 0.8, 0.733333, 0.75)), got)
    // a predicted-only class: precision defined, recall NULL
    val ghost = Seq(("a", "a"), ("a", "c")).toDF("y", "p")
    val g = Stats.prfCensus(ghost, F.col("y"), F.col("p"))
      .filter(F.col("cls") === "c")
      .select("n_actual", "fp", "recall").as[(Long, Long, Option[Double])]
      .head()
    assert(g == ((0L, 1L, None)), g)
  }

  test("mannKendall: monotone S=6 z=5/sqrt(26/3); one tie corrects VarS") {
    import graft.ops.Stats
    val up = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("t", "v")
    val u = Stats.mannKendall(up, F.col("t"), F.col("v"))
      .as[(Long, Long, Double, Double)].head()
    assert(u == ((4L, 6L, 8.666667, 1.698416)), u)
    val tied = Seq((1L, 1.0), (2L, 2.0), (3L, 2.0), (4L, 3.0))
      .toDF("t", "v")
    val t = Stats.mannKendall(tied, F.col("t"), F.col("v"))
      .as[(Long, Long, Double, Double)].head()
    // S=5; tie term 2*1*9=18: VarS=(156-18)/18
    assert(t == ((4L, 5L, 7.666667, 1.44463)), t)
  }

  test("chowTest: perfect split lines give F NULL; noisy break F=48.7") {
    import graft.ops.Stats
    def daily(ys: Seq[Double]) =
      ys.zipWithIndex.map { case (y, i) => ((i + 1).toLong, y) }
        .toDF("t", "v")
    val perfect = Stats.chowTest(daily(Seq(1, 2, 3, 14, 15, 16)),
      F.col("t"), F.col("v"), breakAt = 4L)
      .as[(Long, Long, Long, Double, Double, Option[Double])].head()
    // each segment fits exactly: split SSR 0, denominator 0 -> NULL
    assert(perfect == ((6L, 3L, 3L, 34.285714, 0.0, None)), perfect)
    val noisy = Stats.chowTest(daily(Seq(1, 2, 2, 10, 11, 13)),
      F.col("t"), F.col("v"), breakAt = 4L)
      .as[(Long, Long, Long, Double, Double, Option[Double])].head()
    assert(noisy == ((6L, 3L, 3L, 16.571429, 0.333333,
      Some(48.714286))), noisy)
  }

  test("binaryHammingSearch: hand codes — orthogonal beats antipodal; " +
      "measured recall@5 vs bruteKnn (sf0.01)") {
    import graft.ops.Similarity
    val dims = 64
    def vec(hi: Double, lo: Double) =
      Array.fill(32)(hi) ++ Array.fill(32)(lo)
    val tiny = Seq((1L, vec(1.0, 1.0)), (2L, vec(-1.0, -1.0)),
      (3L, vec(1.0, -1.0))).toDF("vec_id", "embedding")
    val got = Similarity.binaryHammingSearch(tiny,
      tiny.filter($"vec_id" === 1L), "vec_id", "embedding", k = 2,
      cand = 2).orderBy("rk")
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    // v3 shares half the signs (hamming 32, cos 0); v2 flips all (64, -1)
    assert(got == Seq((1L, 3L, 32L, 0.0, 1), (1L, 2L, 64L, -1.0, 2)), got)
    assert(dims == 64) // the packed-halves layout this test pins
    // measured recall vs exact cosine on the fixture
    val emb = sfEmb.withColumn("embedding",
      F.col("embedding").cast("array<double>"))
    val truth = Similarity.bruteKnn(emb, emb.filter($"vec_id" < 10),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // cand sweep on the UNIFORM fixture (the sign sketch's worst case —
    // cosines concentrate near 0): 20 -> 0.50, 50 -> 0.68, 100 -> 0.84.
    // The shipped x286 config is cand=50; floor pinned there.
    val approx = Similarity.binaryHammingSearch(emb,
        emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5,
        cand = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & truth).size.toDouble / truth.size
    info(f"binaryHamming cand=50 recall=$recall%.3f")
    assert(recall >= 0.60, f"recall $recall%.3f below floor 0.60")
    // advisor-r12 guard: a non-64-dim vector fails LOUDLY at action time
    // instead of silently packing fewer/ignoring extra sign bits
    val short = Seq((1L, Array.fill(32)(1.0)), (2L, Array.fill(32)(-1.0)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Throwable] {
      Similarity.binaryHammingSearch(short, short.filter($"vec_id" === 1L),
        "vec_id", "embedding", k = 1, cand = 1).collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("exactly 64-dim"), ex.getMessage)
  }

  test("hosmerLemeshow: symmetric 3-bin hand table 0.444444; E=0 drops") {
    import graft.ops.Stats
    val df = Seq((0.1, false), (0.1, false), (0.5, true), (0.5, false),
      (0.9, true), (0.9, true)).toDF("s", "y")
    val got = Stats.hosmerLemeshow(df, F.col("s"), F.col("y"), nBins = 3)
      .as[(Long, Long, Double, Long)].head()
    // bins: O=(0,1,2), E=(0.2,1.0,1.8): terms 2/9, 0, 2/9
    assert(got == ((3L, 6L, 0.444444, 1L)), got)
    val zero = Seq((0.0, false), (0.0, false), (0.5, true))
      .toDF("s", "y")
    val g = Stats.hosmerLemeshow(zero, F.col("s"), F.col("y"), nBins = 3)
      .select("g_used").as[Long].head()
    assert(g == 1L, s"E=0 bin must drop, g_used=$g")
  }

  test("olsInfluence: exact fit NULLs Cook's D; sawtooth hand values") {
    import graft.ops.Stats
    val line = Seq((1L, 2.0), (2L, 4.0), (3L, 6.0), (4L, 8.0))
      .toDF("t", "v")
    val l = Stats.olsInfluence(line, F.col("t"), F.col("v"))
      .select("t", "resid", "leverage", "cooks_d")
      .as[(Long, Double, Double, Option[Double])].collect().toSeq
    assert(l == Seq((1L, 0.0, 0.7, None), (2L, 0.0, 0.3, None),
      (3L, 0.0, 0.3, None), (4L, 0.0, 0.7, None)), l)
    val saw = Seq((1L, 1.0), (2L, 2.0), (3L, 1.0), (4L, 2.0))
      .toDF("t", "v")
    val s = Stats.olsInfluence(saw, F.col("t"), F.col("v"))
      .select("t", "fitted", "resid", "cooks_d", "influential")
      .as[(Long, Double, Double, Double, Boolean)].collect().toSeq
    // b=0.2, s2=0.4, h=(0.7,.3,.3,.7): D=(0.388889,0.27551)x2, 4/n=1
    assert(s == Seq((1L, 1.2, -0.2, 0.388889, false),
      (2L, 1.4, 0.6, 0.27551, false), (3L, 1.6, -0.6, 0.27551, false),
      (4L, 1.8, 0.2, 0.388889, false)), s)
  }

  test("durbinWatson: alternating residuals give DW=3.4 on the hand fit") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 1.0), (4L, 2.0)).toDF("t", "y")
    val got = Stats.durbinWatson(df, F.col("t"), F.col("y"))
      .as[(Long, Double, Double, Double)].head()
    // b=0.2, a=1.0, e=(-.2,.6,-.6,.2): num=2.72, den=0.8 -> 3.4
    assert(got == ((4L, 0.2, 1.0, 3.4)), got)
    // perfect linear series: zero residuals -> NULL dw, not NaN
    val lin = Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("t", "y")
    val z = Stats.durbinWatson(lin, F.col("t"), F.col("y"))
      .select("dw").collect().head
    assert(z.isNullAt(0), z.toString)
  }

  test("jarqueBera: right-skewed hand moments; constant series NULLs") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 3.0, 4.0, 10.0).toDF("v")
    val got = Stats.jarqueBera(df, F.col("v"))
      .as[(Long, Double, Double, Double, Double)].head()
    // m=(−3,−2,−1,0,6): m2=10, m3=37.2, m4=275.6 →
    // S=1.13842, K=−0.212, JB=5/6(S²+K²/4)
    assert(got == ((5L, 4.0, 1.13842, -0.212, 1.089363)), got)
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val c = Stats.jarqueBera(const, F.col("v"))
      .select("skew", "jb").collect().head
    assert(c.isNullAt(0) && c.isNullAt(1), c.toString)
  }

  test("breuschPagan: variance-spike series hand LM; perfect fit NULLs") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 8.0),
      (6L, 3.0)).toDF("t", "v")
    val got = Stats.breuschPagan(df, F.col("t"), F.col("v"))
      .as[(Long, Double, Double, Double)].head()
    // b=0.828571; e²~t aux fit: R²=0.551456, BP=n·R²
    assert(got == ((6L, 0.828571, 0.551456, 3.308738)), got)
    val lin = Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("t", "v")
    val p = Stats.breuschPagan(lin, F.col("t"), F.col("v"))
      .select("bp").collect().head
    assert(p.isNullAt(0), p.toString)
  }

  test("poissonTwoRate: 6-over-2 vs 4-over-4 units gives z=4/sqrt(5)") {
    import graft.ops.Stats
    val rows = Seq.fill(3)(("w", "d1")) ++ Seq.fill(3)(("w", "d2")) ++
      Seq(("x", "d3"), ("x", "d4"), ("x", "d5"), ("x", "d6"))
    val df = rows.toDF("arm", "day")
    val got = Stats.poissonTwoRate(df, F.col("arm") === "w", F.col("day"))
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .head()
    // p0=1/3, N=10: z=(6−10/3)/√(10·2/9)=4/√5
    assert(got == ((6L, 4L, 2L, 4L, 3.0, 1.0, 3.0, 1.788854)), got)
  }

  test("pacf: alternating series — acf −0.875/0.75/−0.625, DL pacf") {
    import graft.ops.Stats
    val df = Seq(1L, 2L, 1L, 2L, 1L, 2L, 1L, 2L).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.pacf(df, "t", "v", maxLag = 3)
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == Seq((1L, -0.875, -0.875), (2L, 0.75, -0.066667),
      (3L, -0.625, 0.071429)), got)
  }

  test("turningPoints: zigzag 1,3,2,4,3 — all 3 interior points turn") {
    import graft.ops.Stats
    val df = Seq(1.0, 3.0, 2.0, 4.0, 3.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.turningPoints(df, "t", "v")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((5L, 3L, 2.0, 0.566667, 1.328422)), got)
  }

  test("sampleEntropy: perfect alternation — A/B=1/2, SampEn=ln 2") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 1.0, 2.0, 1.0, 2.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.sampleEntropy(df, "t", "v", m = 2, rFactor = 0.2)
      .select("b_pairs", "a_pairs", "sampen")
      .as[(Long, Long, Double)].head()
    assert(got == ((4L, 2L, 0.693147)), got)
    // no template ever repeats: B=0 → NULL, not a crash or -inf
    val wild = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val none = Stats.sampleEntropy(wild, "t", "v")
      .select("sampen").collect().head
    assert(none.isNullAt(0), none.toString)
  }

  test("hits: 3-edge bipartite — hub 1.0/0.6, auth 1.0/0.625") {
    import graft.ops.Graph
    val e = Seq((1L, 101L), (1L, 102L), (2L, 101L)).toDF("u", "p")
    val got = Graph.hits(e, "u", "p", rounds = 2, topK = 5)
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(got == Seq(("auth", 101L, 1.0, 1), ("auth", 102L, 0.625, 2),
      ("hub", 1L, 1.0, 1), ("hub", 2L, 0.6, 2)), got)
  }

  test("sax: ramp 1..8 at word size 4 spells 'abcd'") {
    import graft.ops.Stats
    val df = (1 to 8).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val got = Stats.sax(df, "t", "v", wordSize = 4)
      .as[(Long, Long, Double, String, String)].collect().toSeq
    assert(got == Seq((0L, 2L, -1.309307, "a", "abcd"),
      (1L, 2L, -0.436436, "b", "abcd"),
      (2L, 2L, 0.436436, "c", "abcd"),
      (3L, 2L, 1.309307, "d", "abcd")), got)
  }

  test("matrixProfile: repeated motif reads 0, the spike week is the " +
      "discord") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 1.0, 2.0, 10.0, 2.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.matrixProfile(df, "t", "v", m = 2)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 2L, 3L, 0.0, false), (1L, 2L, 4L, 5L, 8.062258, true),
      (2L, 3L, 0L, 1L, 0.0, false), (3L, 4L, 0L, 1L, 8.062258, false),
      (4L, 5L, 1L, 2L, 8.062258, false)), got)
  }

  test("seasonalStrength: period-2 sawtooth — seasonal 0.914, trend 0.086") {
    import graft.ops.Stats
    val df = Seq(10.0, 20.0, 10.0, 20.0, 10.0, 20.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.seasonalStrength(df, "t", "v", period = 2)
      .as[(Long, Double, Double, Double, Double, Double)].head()
    // the alternation aliases slightly into the OLS line (b=6/7), so a
    // small trend share remains; position means eat the rest
    assert(got == ((6L, 25.0, 22.857143, 1.959184, 0.085714, 0.914286)),
      got)
  }

  test("prAuc: hits at group-precisions 1 and 2/3 — AP=5/6 over 0.5 base") {
    import graft.ops.Stats
    val df = Seq((0.9, true), (0.7, false), (0.5, true), (0.3, false))
      .toDF("s", "y")
    val got = Stats.prAuc(df, F.col("s"), F.col("y"))
      .as[(Long, Long, Double, Double)].head()
    assert(got == ((2L, 2L, 0.833333, 0.5)), got)
  }

  test("ccf: y built as lag-1 of x peaks at lag 1 with r=1") {
    import graft.ops.Stats
    def series(vs: Seq[Long]) =
      vs.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
        .toDF("t", "v")
    val x = series(Seq(1L, 3L, 2L, 5L, 4L, 6L))
    val y = series(Seq(0L, 1L, 3L, 2L, 5L, 4L))
    val got = Stats.ccf(y, x, "t", "v", maxLag = 2)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val peak = got.filter(_._4)
    assert(peak == Seq((1L, 5L, 1.0, true)), got)
    assert(got.map(_._1) == Seq(-2L, -1L, 0L, 1L, 2L), got)
  }

  test("clusterQuality: two tight 2-D clusters — inertia 4, DB 0.2, CH 50") {
    import graft.ops.Similarity
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)),
      (3L, Seq(9.0, 0.0)), (4L, Seq(11.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterQuality(emb, "vec_id", "embedding", cents)
      .as[(Long, Long, Double, Double, Double)].head()
    // σ=1 each, d01=10 → DB=0.2; x̄=(5,0), B=100, W=4 → CH=(100/1)/(4/2)
    assert(got == ((2L, 4L, 4.0, 0.2, 50.0)), got)
  }

  test("stationaryDist: a-a/a-b/b-a chain settles at (2/3, 1/3)") {
    import graft.ops.EventOps
    val ev = Seq("a", "a", "b", "a").zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, 1L, (i + 1).toLong * 10L, t)
    }.toDF("event_id", "user_id", "ns", "event_type")
      .withColumn("ts", F.col("ns") * 1000000000L).drop("ns")
    val got = EventOps.stationaryDist(ev, iters = 32)
      .as[(String, Double, Double)].collect().toSeq
    // P(a→a)=P(a→b)=1/2, P(b→a)=1 → π=(2/3, 1/3); raw shares equal π here
    assert(got == Seq(("a", 0.666667, 0.666667),
      ("b", 0.333333, 0.333333)), got)
  }

  test("anovaEffects: shifted triples — eta2 6/7, omega2 23/29, f=√6") {
    import graft.ops.Stats
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(5.0, 6.0, 7.0).map(("b", _))).toDF("g", "v")
    val got = Stats.anovaEffects(df, F.col("g"), F.col("v"))
      .as[(Long, Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((2L, 6L, 24.0, 4.0, 0.857143, 0.793103, 2.44949)),
      got)
  }

  test("ksSeparation: perfect split KS=1; interleaved 0.5 at low score") {
    import graft.ops.Stats
    val perfect = Seq((0.9, true), (0.8, true), (0.7, false),
      (0.6, false)).toDF("s", "y")
    val p = Stats.ksSeparation(perfect, F.col("s"), F.col("y"))
      .as[(Long, Long, Double, Double)].head()
    assert(p == ((2L, 2L, 1.0, 0.8)), p)
    val mixed = Seq((0.9, true), (0.7, false), (0.5, true), (0.3, false))
      .toDF("s", "y")
    val m = Stats.ksSeparation(mixed, F.col("s"), F.col("y"))
      .as[(Long, Long, Double, Double)].head()
    // diff 0.5 at both 0.9 and 0.5 — lower-score tie-break
    assert(m == ((2L, 2L, 0.5, 0.5)), m)
  }

  test("ariNmi: identical partitions 1/1; independent grid −0.5/0") {
    import graft.ops.Stats
    val same = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val s = Stats.ariNmi(same, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(s == ((4L, 2L, 2L, 1.0, 1.0)), s)
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Stats.ariNmi(indep, F.col("a"), F.col("b"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(i == ((4L, 2L, 2L, -0.5, 0.0)), i)
  }

  test("umassCoherence: 3-doc corpus — pair terms ln(3/2)+ln2+0") {
    import graft.ops.TextOps
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TextOps.umassCoherence(docs, "doc_id", "text", k = 3)
      .as[(String, String, Long, Long, Double, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("a", "b", 2L, 2L, 0.405465108, 3L, 1.098612),
      ("a", "c", 1L, 1L, 0.693147181, 3L, 1.098612),
      ("b", "c", 0L, 1L, 0.0, 3L, 1.098612)), got)
  }

  test("periodogram: period-4 square wave peaks at k=2 with power 16") {
    import graft.ops.Stats
    val df = Seq(1.0, 0.0, -1.0, 0.0, 1.0, 0.0, -1.0, 0.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.periodogram(df, "t", "v")
      .as[(Long, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq((1L, 8.0, 0.0, false), (2L, 4.0, 16.0, true),
      (3L, 2.666667, 0.0, false), (4L, 2.0, 0.0, false)), got)
  }

  test("entropyRate: alternating chain H=0; 2/3-1/3 split H=0.636514") {
    import graft.ops.EventOps
    def ev(types: Seq[String]) = types.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, 1L, (i + 1).toLong * 10L, t)
    }.toDF("event_id", "user_id", "ns", "event_type")
      .withColumn("ts", F.col("ns") * 1000000000L).drop("ns")
    val alt = EventOps.entropyRate(ev(Seq("a", "b", "a", "b", "a")))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(alt == ((4L, 2L, 0.0, 0.0, 1.0)), alt)
    val skew = EventOps.entropyRate(ev(Seq("a", "a", "a", "b")))
      .as[(Long, Long, Double, Option[Double], Double)].head()
    // prev always 'a': H=−[⅔ln⅔+⅓ln⅓], k=1 → h_norm NULL
    assert(skew == ((3L, 1L, 0.636514, None, 1.889882)), skew)
  }

  test("stumpGain: pure split gains 0.5, useless token gains 0") {
    import graft.ops.TextOps
    val docs = Seq((1L, "z w q", "en"), (2L, "z q r", "en"),
      (3L, "w q r", "de"), (4L, "q r s", "de")).toDF("doc_id", "text", "lang")
    val got = TextOps.stumpGain(docs, F.col("lang") === "en", "doc_id",
        "text", minDf = 2, topK = 10)
      .select("token", "df", "gain")
      .as[(String, Long, Double)].collect().toSeq
    // z {1,2} pure 0.5; r {2,3,4} partial: 0.5−0.75·G(⅓) = 1/6;
    // q everywhere and w {1,3} balanced → 0; ties break token-asc
    assert(got == Seq(("z", 2L, 0.5), ("r", 3L, 0.166667),
      ("q", 4L, 0.0), ("w", 2L, 0.0)), got)
  }

  test("cochranC: variance 100-vs-1 gives C=100/101 naming group b") {
    import graft.ops.Stats
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(10.0, 20.0, 30.0).map(("b", _))).toDF("g", "v")
    val got = Stats.cochranC(df, F.col("g"), F.col("v"))
      .as[(Long, Long, String, Double, Double, Double)].head()
    assert(got == ((2L, 6L, "b", 100.0, 101.0, 0.990099)), got)
  }

  test("grangerLag1: y=lag(x) gives SSR_u=0 NULL F; noisy variant F=54.5") {
    import graft.ops.Stats
    def series(vs: Seq[Long]) =
      vs.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
        .toDF("t", "v")
    val x = series(Seq(1L, 3L, 2L, 5L, 4L, 6L))
    val perfect = Stats.grangerLag1(series(Seq(0L, 1L, 3L, 2L, 5L, 4L)),
      x, "t", "v").as[(Long, Double, Double, Option[Double])].head()
    assert(perfect == ((5L, 7.567568, 0.0, None)), perfect)
    val noisy = Stats.grangerLag1(series(Seq(0L, 1L, 3L, 2L, 5L, 5L)),
      x, "t", "v").as[(Long, Double, Double, Option[Double])].head()
    assert(noisy == ((5L, 7.567568, 0.267857, Some(54.504505))), noisy)
  }

  test("grubbs: 100 among 1..4 flagged at G=1.788; constant series NULLs") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0),
      (5L, 100.0)).toDF("t", "v")
    val got = Stats.grubbs(df, F.col("t"), F.col("v"))
      .as[(Long, Double, Double, Long, Double, Double)].head()
    assert(got == ((5L, 22.0, 43.617657, 5L, 100.0, 1.788267)), got)
    val const = Seq((1L, 5.0), (2L, 5.0)).toDF("t", "v")
    val c = Stats.grubbs(const, F.col("t"), F.col("v"))
      .select("g").collect().head
    assert(c.isNullAt(0), c.toString)
  }

  test("bartlett: var 1 vs 100 chi2=5.182; zero-variance group NULLs") {
    import graft.ops.Stats
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(10.0, 20.0, 30.0).map(("b", _))).toDF("g", "v")
    val got = Stats.bartlett(df, F.col("g"), F.col("v"))
      .as[(Long, Long, Double)].head()
    assert(got == ((2L, 6L, 5.182042)), got)
    val degen = (Seq(1.0, 2.0).map(("a", _)) ++
      Seq(7.0, 7.0).map(("b", _))).toDF("g", "v")
    val d = Stats.bartlett(degen, F.col("g"), F.col("v"))
      .select("chi2").collect().head
    assert(d.isNullAt(0), d.toString)
  }

  test("welchAnova: means 2 vs 4, unequal variances — W=2.4, df2=2.94") {
    import graft.ops.Stats
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0).map(("b", _))).toDF("g", "v")
    val got = Stats.welchAnova(df, F.col("g"), F.col("v"))
      .as[(Long, Long, Double, Long, Double)].head()
    assert(got == ((2L, 6L, 2.4, 1L, 2.941176)), got)
  }

  test("ansariBradley: end-in scores 1,2,3,2,1; tie-averaged variant z=0") {
    import graft.ops.Stats
    val df = Seq((1.0, true), (2.0, false), (3.0, true), (4.0, false),
      (5.0, false)).toDF("v", "c")
    val got = Stats.ansariBradley(df, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // AB=a(1)+a(3)=4, E=2·1.8, Var=6·2.8/20 → z=0.4/√0.84
    assert(got == ((2L, 3L, 4.0, 3.6, 0.436436)), got)
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "c")
    val t = Stats.ansariBradley(tied, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // tie group ranks 2-3 share score 2: AB=3=E exactly
    assert(t == ((2L, 2L, 3.0, 3.0, 0.0)), t)
  }

  test("cohensH: 1/4 vs 3/4 gives h=−π/3") {
    import graft.ops.Stats
    val rows = Seq(("w", true), ("w", false), ("w", false), ("w", false),
      ("x", true), ("x", true), ("x", true), ("x", false))
    val df = rows.toDF("arm", "s")
    val got = Stats.cohensH(df, F.col("arm") === "w", F.col("s"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((4L, 4L, 0.25, 0.75, -1.047198)), got)
  }

  test("inequality: 1,1,4 gives T=L=ln2/3, Atkinson=1−2^(−1/3)") {
    import graft.ops.Stats
    val df = Seq(1.0, 1.0, 4.0).toDF("x")
    val got = Stats.inequality(df, F.col("x"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(got == ((3L, 2.0, 0.231049, 0.231049, 0.206299)), got)
  }

  test("localClustering: triangle+pendant — lcc 1,1,1/3,0; trans 0.6") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.localClustering(edges, "src", "dst")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1.0, 0.583333, 0.6), (2L, 2L, 1L, 1.0, 0.583333, 0.6),
      (3L, 3L, 1L, 0.333333, 0.583333, 0.6),
      (4L, 1L, 0L, 0.0, 0.583333, 0.6)), got)
  }

  test("averagePrecision: hits at ranks 1,3 of 3 rel; hitless query 0") {
    import graft.ops.Stats
    val res = Seq(("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
      ("q2", "d", 1)).toDF("q", "item", "rk")
    val truth = Seq(("q1", "a"), ("q1", "c"), ("q1", "d"), ("q2", "e"))
      .toDF("q", "item")
    val got = Stats.averagePrecision(res, truth, "q", "item", "rk")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // q1: P@1=1, P@3=2/3 over 3 rel → (1+2/3)/3; q2: no hits → 0
    assert(got == Seq(("q1", 3L, 2L, 0.555556, 0.277778),
      ("q2", 1L, 0L, 0.0, 0.277778)), got)
  }

  test("mase: ramp series — snaive-7 loses 6.67x to the one-step naive") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 10.0)
      .zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      .toDF("t", "v")
    val got = Stats.mase(df, "t", "v", season = 7)
      .as[(Long, Long, Double, Double, Double)].head()
    // model errs |8−1|,|10−2|: MAE 7.5; naive diffs 1×7,2: MAE 1.125
    assert(got == ((2L, 8L, 7.5, 1.125, 6.666667)), got)
  }

  test("yulesK: spectrum a=3,b=2,c=1 gives K=10⁴·8/36, R=150·ln6") {
    import graft.ops.TextOps
    val docs = Seq("a b a", "b c a").toDF("text")
    val got = TextOps.yulesK(docs, "text")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got == ((6L, 3L, 1L, 2222.222222, 268.76392)), got)
  }

  test("concentration: 3-vs-1 split gives HHI=0.625, eff_n=1.6") {
    import graft.ops.Stats
    val df = Seq("a", "a", "a", "b").toDF("s")
    val got = Stats.concentration(df, F.col("s"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((2L, 4L, 0.625, 0.25, 1.6)), got)
    // single source: hhi_norm undefined, NULL not NaN
    val one = Seq("z", "z").toDF("s")
    val r = Stats.concentration(one, F.col("s"))
      .select("hhi_norm").collect().head
    assert(r.isNullAt(0), r.toString)
  }

  test("overdispersion: counts 1,2,3 give VMR=0.5; singleton unit NULLs") {
    import graft.ops.Stats
    val rows = Seq(("a", "u1"), ("a", "u2"), ("a", "u2"), ("a", "u3"),
      ("a", "u3"), ("a", "u3")) ++ Seq.fill(5)(("b", "u9"))
    val df = rows.toDF("k", "u")
    val got = Stats.overdispersion(df, F.col("k"), F.col("u"))
      .as[(String, Long, Double, Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    // a: n=3, mean=2, s²=1 → VMR=0.5, χ²=(n−1)s²/m=1
    assert(got == Seq(("a", 3L, 2.0, Some(1.0), Some(0.5), Some(1.0)),
      ("b", 1L, 5.0, None, None, None)), got)
  }

  test("cvmTwoSample: 1,3 vs 2,4 — U=12, T=1/8; midrank ties exact") {
    import graft.ops.Stats
    val df = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("v", "c")
    val got = Stats.cvmTwoSample(df, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // Σ(r−i)²: class1 0+1, class2 1+4 → U=2·1+2·5=12,
    // T = 12/16 − 15/24 = 1/8, E[T] = (1+1/4)/6
    assert(got == ((2L, 2L, 12.0, 0.125, 0.208333)), got)
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "c")
    val t = Stats.cvmTwoSample(tied, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // midrank 2.5 at the tie: Σ class1 = 0+0.25, class2 = 2.25+4
    // → U = 0.5 + 12.5 = 13, T = 13/16 − 15/24 = 0.1875
    assert(t == ((2L, 2L, 13.0, 0.1875, 0.208333)), t)
  }

  test("rmst: KM step integral to tau; all-censored gives tau") {
    import graft.ops.Stats
    val df = Seq((2L, 1), (4L, 1), (6L, 0)).toDF("dur", "ev")
    val got = Stats.rmst(df, F.col("dur"), F.col("ev"), tau = 10L)
      .as[(Long, Long, Double)].head()
    // S=1 on [0,2), 2/3 on [2,4), 1/3 on [4,10):
    // 2 + 0.666667·2 + 0.333333·6 = 5.333332 (6-dp KM survivals)
    assert(got == ((10L, 2L, 5.333332)), got)
    val cens = Seq((5L, 0), (7L, 0)).toDF("dur", "ev")
    val c = Stats.rmst(cens, F.col("dur"), F.col("ev"), tau = 10L)
      .as[(Long, Long, Double)].head()
    assert(c == ((10L, 0L, 10.0)), c)
  }

  test("lepage: 1,2,3,4 class {1,2} — pure shift, z_ab=0, df-2 p") {
    import graft.ops.Stats
    val df = Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false))
      .toDF("v", "c")
    val got = Stats.lepage(df, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double, Double)].head()
    // z_w = -2/sqrt(5/3) = -1.549193, z_ab = 0 (symmetric scores):
    // L = 2.399999, p = exp(-L/2) = 0.30119437
    assert(got == ((2L, 2L, -1.549193, 0.0, 2.399999, 0.30119437)), got)
  }

  test("brunnerMunzel: interleaved 1,3 vs 2,4 and a tie at 2") {
    import graft.ops.Stats
    val df = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("v", "c")
    val got = Stats.brunnerMunzel(df, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // m1=2, m2=3, v1=v2=1/2: p_hat=0.75, W=1/sqrt(2), df=2
    assert(got == ((2L, 2L, 0.75, 0.707107, 2.0)), got)
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "c")
    val t = Stats.brunnerMunzel(tied, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Double, Double)].head()
    // midrank 2.5 at the tie: m1=1.75, m2=3.25, v1=v2=1/8:
    // p_hat=0.875, W=1.5/sqrt(0.5)/2=2.12132, df=2
    assert(t == ((2L, 2L, 0.875, 2.12132, 2.0)), t)
  }

  test("spectralEntropy: pure k=2 cycle over 8 points gives H=0") {
    import graft.ops.Stats
    val s = Seq((0L, 1.0), (1L, 0.0), (2L, -1.0), (3L, 0.0),
      (4L, 1.0), (5L, 0.0), (6L, -1.0), (7L, 0.0)).toDF("t", "v")
    val got = Stats.spectralEntropy(s, "t", "v", maxK = 30)
      .as[(Long, Double, Double)].head()
    // all variance lands in bin k=2 (orthogonality): one share of 1,
    // H = 0, normalized by ln(4 bins) still 0
    assert(got == ((4L, 0.0, 0.0)), got)
  }

  test("linkPrediction: path and 4-cycle give hand CN/Jaccard/AA/RA") {
    import graft.ops.Graph
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = Graph.linkPrediction(path, "src", "dst", topN = 20)
      .as[(String, String, Long, Double, Double, Double)].collect().toSeq
    // (a,c) through b (deg 2): aa = 1/ln 2, ra = 1/2, jaccard = 1
    assert(got == Seq(("a", "c", 1L, 1.0, 1.442695, 0.5)), got)
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val c = Graph.linkPrediction(cyc, "src", "dst", topN = 20)
      .as[(String, String, Long, Double, Double, Double)].collect().toSeq
    // both diagonals share 2 deg-2 neighbors: aa = 2/ln 2
    assert(c == Seq(("a", "c", 2L, 1.0, 2.88539, 1.0),
      ("b", "d", 2L, 1.0, 2.88539, 1.0)), c)
  }

  test("richClub: triangle+pendant — phi(1)=1, NULL above") {
    import graft.ops.Graph
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"))
      .toDF("src", "dst")
    val got = Graph.richClub(g, "src", "dst", kMax = 3)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    // deg a=3, b=c=2, d=1: k=1 club is the triangle (density 1);
    // k=2 leaves only a (no pairs), k=3 empty
    assert(got == Seq((1L, 3L, 3L, Some(1.0)), (2L, 1L, 0L, None),
      (3L, 0L, 0L, None)), got)
  }

  test("kpssLevel: ramp 1..4 gives 0.425; constant gives NULL") {
    import graft.ops.Stats
    val ramp = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("t", "v")
    val got = Stats.kpssLevel(ramp, "t", "v")
      .as[(Long, Option[Double], Double, Option[Boolean])].head()
    // E = (-6,-2,2,6), S' = (-6,-8,-6,0): 136/(4*80) = 0.425
    assert(got == ((4L, Some(0.425), 0.463, Some(false))), got)
    val const = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("t", "v")
    val c = Stats.kpssLevel(const, "t", "v")
      .as[(Long, Option[Double], Double, Option[Boolean])].head()
    assert(c == ((3L, None, 0.463, None)), c)
  }

  test("theilsU2: ramp punishes the seasonal forecast — U2 = 2") {
    import graft.ops.Stats
    val s = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0))
      .toDF("t", "v")
    val got = Stats.theilsU2(s, "t", "v", season = 2)
      .as[(Long, Double, Double, Double)].head()
    // model SSE 12 vs naive SSE 3 on the 3 scored rows
    assert(got == ((3L, 12.0, 3.0, 2.0)), got)
  }

  test("hurstRS: tent series — per-size R/S doubles, slope 1") {
    import graft.ops.Stats
    val s = Seq(1.0, 2.0, 3.0, 4.0, 4.0, 3.0, 2.0, 1.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val got = Stats.hurstRS(s, "t", "v", sizes = Seq(4, 8))
      .as[(Long, Long, Double, Long, Option[Double])].collect().toSeq
    // blocks (1,2,3,4)/(4,3,2,1): R=2, S=sqrt(5)/2 -> RS=1.788854;
    // the full tent: R=4, same S -> RS doubles, ln-ln slope exactly 1
    assert(got == Seq((4L, 2L, 1.788854, 2L, Some(1.0)),
      (8L, 1L, 3.577709, 2L, Some(1.0))), got)
  }

  test("err: cascade credit — 0.5 then 0.125; no-rel query scores 0") {
    import graft.ops.Stats
    val res = Seq(("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
      ("q2", "a", 1), ("q2", "b", 2)).toDF("q", "item", "rk")
    val truth = Seq(("q1", "a"), ("q1", "b"), ("q2", "b"))
      .toDF("q", "item")
    val got = Stats.err(res, truth, "q", "item", "rk")
      .as[(String, Long, Double, Double)].collect().toSeq
    // q1: 0.5^1/1 + 0.5^2/2 = 0.625; q2: 0.5^1/2 = 0.25; mean 0.4375
    assert(got == Seq(("q1", 2L, 0.625, 0.4375),
      ("q2", 1L, 0.25, 0.4375)), got)
  }

  test("smdBalance: {1,3} vs {2,6} — SMD = -2/sqrt(5)") {
    import graft.ops.Stats
    val df = Seq((true, 1.0), (true, 3.0), (false, 2.0), (false, 6.0))
      .toDF("arm", "x")
    val got = Stats.smdBalance(df, F.col("arm"), Seq("x" -> F.col("x")))
      .as[(String, Long, Long, Double, Double, Option[Double])].head()
    // m1=2 v1=2, m0=4 v0=8: pooled sd sqrt(5), smd = -0.894427
    assert(got == (("x", 2L, 2L, 2.0, 4.0, Some(-0.894427))), got)
  }

  test("newcombe: 1/4 vs 2/4 — hybrid Wilson square-and-add bounds") {
    import graft.ops.Stats
    val rows = Seq((true, true), (true, false), (true, false),
      (true, false), (false, true), (false, true), (false, false),
      (false, false))
    val df = rows.toDF("arm", "s")
    val got = Stats.newcombeDiffCi(df, F.col("arm"), F.col("s"))
      .as[(Long, Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((4L, 4L, 0.25, 0.5, -0.25, -0.655287, 0.319557)), got)
  }

  test("ipfRaking: proportional sample is a fixpoint; 3-cell rake") {
    import graft.ops.Stats
    val pop1 = (Seq.fill(3)(("A", "x")) ++ Seq.fill(5)(("B", "y")))
      .toDF("src", "lg")
    val smp1 = Seq(("A", "x"), ("B", "y")).toDF("src", "lg")
    val got = Stats.ipfRaking(smp1, pop1, "src", "lg", rounds = 5)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", "x", 1L, 3.0, 3.0), ("B", "y", 1L, 5.0, 5.0)),
      got)
    val pop2 = (Seq.fill(2)(("A", "x")) ++ Seq.fill(2)(("A", "y")) ++
      Seq.fill(2)(("B", "x")) ++ Seq.fill(2)(("B", "y"))).toDF("src", "lg")
    val smp2 = (Seq(("A", "x"), ("A", "y")) ++ Seq.fill(2)(("B", "x")))
      .toDF("src", "lg")
    val g2 = Stats.ipfRaking(smp2, pop2, "src", "lg", rounds = 5)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // python-mimic of the 9-dp half-round ladder: columns exactly
    // matched after the closing col pass, rows mid-cycle
    assert(g2 == Seq(("A", "x", 1L, 0.363636364, 0.363636),
      ("A", "y", 1L, 4.0, 4.0), ("B", "x", 2L, 1.818181818, 3.636364)),
      g2)
  }

  test("rayleighTest: point mass at hour 6; uniform wheel is flat") {
    import graft.ops.Stats
    val peak = Seq.fill(5)(6L).toDF("h")
    val got = Stats.rayleighTest(peak, F.col("h"), period = 24)
      .as[(Long, Double, Double, Double, Option[Double])].head()
    // all mass at 6h: resultant length 1, z=n, mean at 6.0
    assert(got == ((5L, 1.0, 5.0, 0.006737947, Some(6.0))), got)
    val flat = Seq(0L, 1L, 2L, 3L).toDF("h")
    val f = Stats.rayleighTest(flat, F.col("h"), period = 4)
      .as[(Long, Double, Double, Double, Option[Double])].head()
    assert(f == ((4L, 0.0, 0.0, 1.0, None)), f)
  }

  test("kuiperUniform: 2-1-0-1 wheel gives V=1/4; uniform gives 0") {
    import graft.ops.Stats
    val df = Seq(0L, 0L, 1L, 3L).toDF("h")
    val got = Stats.kuiperUniform(df, F.col("h"), period = 4)
      .as[(Long, Double, Double, Double)].head()
    // cum (2,3,3,4): T = (4,4,0,0) -> D+ = 4/16, D- = 0
    assert(got == ((4L, 0.25, 0.0, 0.25)), got)
    val flat = Seq(0L, 1L, 2L, 3L).toDF("h")
    val f = Stats.kuiperUniform(flat, F.col("h"), period = 4)
      .as[(Long, Double, Double, Double)].head()
    assert(f == ((4L, 0.0, 0.0, 0.0)), f)
  }

  test("mahalanobisOutliers: 2-D hand moments rank c, a, b") {
    import graft.ops.Similarity
    val emb = Seq((1L, Seq(0f, 0f)), (2L, Seq(2f, 0f)),
      (3L, Seq(4f, 6f))).toDF("id", "vec")
    val got = Similarity.mahalanobisOutliers(emb, "id", "vec", topN = 20)
      .as[(Long, Double)].collect().toSeq
    // dim means (2, 2), vars (4, 12): md2 = (1+1/3, 0+1/3, 1+4/3)
    assert(got == Seq((3L, 2.333333), (1L, 1.333333), (2L, 0.333333)),
      got)
  }

  test("msttr: all-distinct + all-same chunks average to 0.52") {
    import graft.ops.TextOps
    val rich = (1 to 25).map(i => s"t$i").mkString(" ")
    val flat = Seq.fill(25)("x").mkString(" ")
    val df = Seq((1L, s"$rich $flat"), (2L, "too short to chunk"))
      .toDF("doc_id", "text")
    val got = TextOps.msttr(df, "doc_id", "text", segment = 25)
      .as[(Long, Long, Double)].collect().toSeq
    // chunk TTRs 1.0 and 1/25; the 4-token doc has no complete chunk
    assert(got == Seq((1L, 2L, 0.52)), got)
  }

  test("dirichletQL: smoothing from corpus LM; absent term is silent") {
    import graft.ops.TextOps
    val df = Seq((1L, "a b"), (2L, "a a")).toDF("doc_id", "text")
    val got = TextOps.dirichletQL(df, "doc_id", "text",
        Seq("a", "z"), mu = 2.0)
      .as[(Long, Long, Double)].collect().toSeq
    // p(a|C)=3/4: ln(2.5/4), ln(3.5/4); 'z' has cf=0 and adds nothing
    assert(got == Seq((1L, 2L, -0.470004), (2L, 2L, -0.133531)), got)
  }

  test("katzCentrality: path graph, 2 rounds — hub b leads at 2.5") {
    import graft.ops.Graph
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = Graph.katzCentrality(path, "src", "dst", alpha = 0.5,
        beta = 1.0, iters = 2, topN = 20)
      .as[(String, Double, Int)].collect().toSeq
    // round 1: (1.5, 2, 1.5); round 2: a,c = 1+0.5*2, b = 1+0.75+0.75
    assert(got == Seq(("b", 2.5, 1), ("a", 2.0, 2), ("c", 2.0, 3)), got)
  }

  test("varianceRatio: alternating series cancels at q=2; ramp is NULL") {
    import graft.ops.Stats
    val alt = Seq(0.0, 1.0, 0.0, 1.0, 0.0, 1.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val got = Stats.varianceRatio(alt, "t", "v", q = 2)
      .as[(Long, Long, Option[Double], Option[Double])].head()
    // 2-period changes are all 0: VR = 0, z = -sqrt(5)
    assert(got == ((5L, 2L, Some(0.0), Some(-2.236068))), got)
    val ramp = (0 to 5).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val r = Stats.varianceRatio(ramp, "t", "v", q = 2)
      .as[(Long, Long, Option[Double], Option[Double])].head()
    // constant 1-period changes: s2_1 = 0, undefined
    assert(r == ((5L, 2L, None, None)), r)
  }

  test("taylorLaw: {1,3} and {2,6} groups give slope 2") {
    import graft.ops.Stats
    val df = Seq(("g1", 1.0), ("g1", 3.0), ("g2", 2.0), ("g2", 6.0))
      .toDF("g", "v")
    val got = Stats.taylorLaw(df, F.col("g"), F.col("v"))
      .as[(Long, Option[Double], Option[Double])].head()
    // (m,v) = (2,2) and (4,8): ln-ln slope exactly 2, intercept -ln 2
    assert(got == ((2L, Some(2.0), Some(-0.693147))), got)
  }

  test("interArrivalBurstiness: 1s/2s gaps give B=-0.5; metronome -1") {
    import graft.ops.EventOps
    val ev = Seq((1L, "A", 0L), (2L, "A", 1000000000L),
      (3L, "A", 3000000000L), (4L, "B", 0L), (5L, "B", 1000000000L),
      (6L, "B", 2000000000L))
      .toDF("event_id", "event_type", "ts")
    val got = EventOps.interArrivalBurstiness(ev)
      .as[(String, Long, Double, Option[Double])].collect().toSeq
    // A: gaps 1000/2000 ms, mu 1500, pop sd 500; B: sd 0
    assert(got == Seq(("A", 2L, 1.5, Some(-0.5)),
      ("B", 2L, 1.0, Some(-1.0))), got)
  }

  test("energyDistance: 1-D hand case — E = 2*3 - 1 - 0 = 5") {
    import graft.ops.Similarity
    val x = Seq((1L, Seq(0f)), (2L, Seq(2f))).toDF("vec_id", "embedding")
    val y = Seq((3L, Seq(4f))).toDF("vec_id", "embedding")
    val got = Similarity.energyDistance(x, y, "vec_id", "embedding")
      .as[(Long, Long, Double, Double, Double, Double)].head()
    // dxy mean(4,2)=3, dxx mean(0,2,2,0)=1, dyy 0
    assert(got == ((2L, 1L, 3.0, 1.0, 0.0, 5.0)), got)
  }

  test("nzvScreen: constant flags zero_var; 2-1 split is healthy") {
    import graft.ops.Stats
    val df = Seq(("x", "u"), ("x", "u"), ("x", "v")).toDF("a", "b")
    val got = Stats.nzvScreen(df,
        Seq("a" -> F.col("a"), "b" -> F.col("b")))
      .as[(String, Long, Long, Option[Double], Double, Boolean, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 3L, 1L, None, 0.333333, true, true),
      ("b", 3L, 2L, Some(2.0), 0.666667, false, false)), got)
  }

  test("jsDivergenceMatrix: identical slices 0, disjoint slices ln 2") {
    import graft.ops.TextOps
    val df = Seq(("g1", "a b"), ("g2", "a b"), ("g3", "c d"))
      .toDF("src", "text")
    val got = TextOps.jsDivergenceMatrix(df, "src", "text")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("g1", "g2", 2L, 0.0), ("g1", "g3", 0L, 0.693147),
      ("g2", "g3", 0L, 0.693147)), got)
  }

  test("gumbelFitKs: {0,2} maxima — moments fit and KS sup-gap") {
    import graft.ops.Stats
    val df = Seq(0.0, 2.0).toDF("v")
    val got = Stats.gumbelFitKs(df, F.col("v"))
      .as[(Long, Double, Double, Double)].head()
    // mean 1, sd sqrt2: beta = sqrt(12)/pi, mu = 1 - gamma*beta
    assert(got == ((2L, 0.363529, 1.102658, 0.297158)), got)
  }

  test("woeIv: 2-bin hand table — WoE signs flip, IV sums") {
    import graft.ops.Stats
    val rows = Seq.fill(2)((0.0, true)) ++ Seq.fill(2)((0.0, false)) ++
      Seq.fill(3)((10.0, true)) ++ Seq((10.0, false))
    val df = rows.toDF("v", "y")
    val got = Stats.woeIv(df, F.col("v"), F.col("y"), nBins = 2)
      .as[(Long, Double, Double, Long, Long, Option[Double], Double,
        Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0.0, 5.0, 2L, 2L, Some(-0.510826), 0.13622, 0.292963),
      (1L, 5.0, 10.0, 3L, 1L, Some(0.587787), 0.156743, 0.292963)),
      got)
  }

  test("uncertaintyCoeff: determinism gives U=1; independence gives 0") {
    import graft.ops.Stats
    val det = Seq(("a", "u"), ("a", "u"), ("b", "v"), ("b", "v"))
      .toDF("x", "y")
    val got = Stats.uncertaintyCoeff(det, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((4L, 0.693147, 0.693147, 0.693147, 1.0, 1.0)), got)
    val ind = Seq(("a", "u"), ("a", "v"), ("b", "u"), ("b", "v"))
      .toDF("x", "y")
    val i = Stats.uncertaintyCoeff(ind, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(i == ((4L, 0.693147, 0.693147, 0.0, 0.0, 0.0)), i)
  }

  test("lofOutliers: 0,1,2,10 at k=2 — the 10 stands alone at 4.96") {
    import graft.ops.Similarity
    val emb = Seq((0L, Seq(0f)), (1L, Seq(1f)), (2L, Seq(2f)),
      (10L, Seq(10f))).toDF("vec_id", "embedding")
    val got = Similarity.lofOutliers(emb, "vec_id", "embedding",
        k = 2, topN = 20)
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == Seq((10L, 0.117647, 4.958333), (1L, 0.5, 1.333333),
      (0L, 0.666667, 0.875), (2L, 0.666667, 0.875)), got)
  }

  test("bhattacharyya: identical histograms BC=1; disjoint BC=0") {
    import graft.ops.Stats
    val same = Seq((0.0, true), (10.0, true), (0.0, false),
      (10.0, false)).toDF("v", "c")
    val got = Stats.bhattacharyya(same, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Option[Double], Double)].head()
    assert(got == ((2L, 2L, 1.0, Some(0.0), 0.0)), got)
    val disj = Seq((0.0, true), (0.0, true), (10.0, false),
      (10.0, false)).toDF("v", "c")
    val d = Stats.bhattacharyya(disj, F.col("v"), F.col("c"))
      .as[(Long, Long, Double, Option[Double], Double)].head()
    assert(d == ((2L, 2L, 0.0, None, 1.0)), d)
  }

  test("designEffect: pure between-cluster DEFF=2; pure within DEFF=0") {
    import graft.ops.Stats
    val between = Seq(("g1", 0.0), ("g1", 0.0), ("g2", 2.0),
      ("g2", 2.0)).toDF("g", "v")
    val got = Stats.designEffect(between, F.col("g"), F.col("v"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((2L, 4L, 2.0, 1.0, 2.0)), got)
    val within = Seq(("g1", 0.0), ("g1", 2.0), ("g2", 0.0),
      ("g2", 2.0)).toDF("g", "v")
    val w = Stats.designEffect(within, F.col("g"), F.col("v"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(w == ((2L, 4L, 2.0, -1.0, 0.0)), w)
  }

  test("permutationEntropy: ramp has one pattern; zigzag splits 2-1") {
    import graft.ops.Stats
    val ramp = (1 to 6).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val got = Stats.permutationEntropy(ramp, "t", "v")
      .as[(Long, Long, Double, Double)].head()
    assert(got == ((4L, 1L, 0.0, 0.0)), got)
    val zig = Seq(1.0, 2.0, 1.0, 2.0, 1.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val z = Stats.permutationEntropy(zig, "t", "v")
      .as[(Long, Long, Double, Double)].head()
    // patterns {up-down ×2, down-up ×1}: H of (2/3, 1/3)
    assert(z == ((3L, 2L, 0.636514, 0.355245)), z)
  }

  test("hjorthParams: ramp has zero mobility; square wave hand values") {
    import graft.ops.Stats
    val ramp = (1 to 4).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val got = Stats.hjorthParams(ramp, "t", "v")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(got == ((4L, 1.666667, 0.0, None)), got)
    val sq = Seq(0.0, 2.0, 0.0, 2.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val s = Stats.hjorthParams(sq, "t", "v")
      .as[(Long, Double, Double, Option[Double])].head()
    // v0=4/3, v1=16/3, v2=32: mobility 2, complexity sqrt(6)/2
    assert(s == ((4L, 1.333333, 2.0, Some(1.224745))), s)
  }

  test("poincareSd: square wave is all SD1; ramp is all SD2") {
    import graft.ops.Stats
    val sq = Seq(0.0, 2.0, 0.0, 2.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val got = Stats.poincareSd(sq, "t", "v")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(got == ((3L, 1.632993, 0.0, None)), got)
    val ramp = (1 to 4).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val r = Stats.poincareSd(ramp, "t", "v")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(r == ((3L, 0.0, 1.414214, Some(0.0))), r)
  }

  test("cellPurity: 2-cell hand census — majority share and entropy") {
    import graft.ops.Similarity
    val emb = Seq((1L, Seq(0f), "a"), (2L, Seq(1f), "a"),
      (3L, Seq(2f), "b"), (4L, Seq(10f), "b"))
      .toDF("vec_id", "embedding", "lab")
    val got = Similarity.cellPurity(emb, "vec_id", "embedding",
        F.col("lab"), Array(Array(0.0), Array(10.0)))
      .as[(Int, Long, String, Double, Double, Double)].collect().toSeq
    assert(got == Seq((0, 3L, "a", 0.666667, 0.636514, 0.75),
      (1, 1L, "b", 1.0, 0.0, 0.75)), got)
  }

  test("centroidMargin: boundary point is ambiguous, deep points are not") {
    import graft.ops.Similarity
    val emb = Seq((1L, Seq(2f)), (2L, Seq(9f)), (3L, Seq(5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.centroidMargin(emb, "vec_id", "embedding",
        Array(Array(0.0), Array(10.0)), ambiguous = 1.2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    // [2]: ratio 16; [5]: exact tie ratio 1 (ambiguous); [9]: ratio 81
    assert(got == Seq((0L, 2L, 8.5, 0.5), (1L, 1L, 81.0, 0.0)), got)
  }

  test("nccConfusion: equidistant point breaks to the lower label") {
    import graft.ops.Similarity
    val emb = Seq((1L, Seq(0f), "a"), (2L, Seq(2f), "a"),
      (3L, Seq(4f), "b"), (4L, Seq(10f), "b"))
      .toDF("vec_id", "embedding", "lab")
    val got = Similarity.nccConfusion(emb, "vec_id", "embedding",
        F.col("lab"))
      .as[(String, String, Long, Double)].collect().toSeq
    // centroids a=1, b=7; the 4 is 9 from both -> label tie to a
    assert(got == Seq(("a", "a", 2L, 0.75), ("b", "a", 1L, 0.75),
      ("b", "b", 1L, 0.75)), got)
  }

  test("simpsonDiversity: 'a a b' — λ=1/3, Hill-2 = 9/5") {
    import graft.ops.TextOps
    val df = Seq(("s1", "a a b")).toDF("source", "text")
    val got = TextOps.simpsonDiversity(df, Seq("source"), "text")
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(got == (("s1", 3L, 2L, 0.333333, 0.666667, 1.8)), got)
  }

  test("gapMemory: alternating gaps give M=-1; constant gaps NULL") {
    import graft.ops.EventOps
    val ev = Seq((1L, "A", 0L), (2L, "A", 1000000000L),
      (3L, "A", 3000000000L), (4L, "A", 4000000000L),
      (5L, "B", 0L), (6L, "B", 1000000000L), (7L, "B", 2000000000L),
      (8L, "B", 3000000000L))
      .toDF("event_id", "event_type", "ts")
    val got = EventOps.gapMemory(ev)
      .as[(String, Long, Option[Double])].collect().toSeq
    // A gaps 1s,2s,1s: pairs (1,2),(2,1) perfectly anti-correlated
    assert(got == Seq(("A", 2L, Some(-1.0)), ("B", 2L, None)), got)
  }

  test("mcleodLi: 0,1,3 cycle — squared-deviation Ljung-Box 3.370408") {
    import graft.ops.Stats
    val s = Seq(0.0, 1.0, 3.0, 0.0, 1.0, 3.0).zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("t", "v")
    val got = Stats.mcleodLi(s, "t", "v", maxLag = 2)
      .as[(Long, Long, Double, Long)].head()
    // x2 = (2,0,3,2,0,3); hand ladder over lags 1..2
    assert(got == ((6L, 2L, 3.370408, 2L)), got)
  }

  test("thresholdSweep: Youden ties break high, F1 picks the recall cut") {
    import graft.ops.Stats
    val df = Seq((0.9, true), (0.6, true), (0.7, false), (0.2, false))
      .toDF("s", "y")
    val got = Stats.thresholdSweep(df, F.col("s"), F.col("y"))
      .as[(String, Double, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("f1", 0.6, 2L, 1L, 1.0, 0.5, 0.666667, 0.8),
      ("youden", 0.9, 1L, 0L, 0.5, 0.0, 1.0, 0.666667)), got)
  }

  test("spiegelhalterZ: symmetric miscalibration hand z; flat 0.5 NULL") {
    import graft.ops.Stats
    val df = Seq((0.8, true), (0.2, false)).toDF("p", "y")
    val got = Stats.spiegelhalterZ(df, F.col("p"), F.col("y"))
      .as[(Long, Option[Double])].head()
    // terms -0.12 each over sqrt(2*0.0576)
    assert(got == ((2L, Some(-0.707107))), got)
    val flat = Seq((0.5, true), (0.5, false)).toDF("p", "y")
    val f = Stats.spiegelhalterZ(flat, F.col("p"), F.col("y"))
      .as[(Long, Option[Double])].head()
    assert(f == ((2L, None)), f)
  }

  test("distanceCorrelation: exact linear dependence gives dCor 1") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0))
      .toDF("id", "x", "y")
    val got = Stats.distanceCorrelation(df, F.col("id"), F.col("x"),
        F.col("y"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(got == ((3L, 0.987654, 0.493827, 1.975309, 1.0)), got)
  }

  test("seasonalMannKendall: pure cycle is flat; trend survives deseason") {
    import graft.ops.Stats
    val cyc = (0 until 14).map(t =>
      (t.toLong, if (t % 2 == 0) 5.0 else 1.0)).toDF("t", "v")
    val got = Stats.seasonalMannKendall(cyc, F.col("t") % 2,
        F.col("t"), F.col("v"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got == ((14L, 2L, 0L, 0.0, 0.0)), got)
    val tr = (0 until 6).map(t => (t.toLong, t.toDouble)).toDF("t", "v")
    val r = Stats.seasonalMannKendall(tr, F.col("t") % 2,
        F.col("t"), F.col("v"))
      .as[(Long, Long, Long, Double, Double)].head()
    // per season S=3, vnum=66: pooled var 132/18
    assert(r == ((6L, 2L, 6L, 7.333333, 1.846372)), r)
  }

  test("mannKendallBy: rising slice z>0, constant slice zero variance") {
    import graft.ops.Stats
    val df = Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, 5.0))
      .toDF("k", "t", "v")
    val got = Stats.mannKendallBy(df, F.col("k"), F.col("t"),
        F.col("v"))
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 3L, 3L, 3.666667, 1.044466),
      ("B", 3L, 0L, 0.0, 0.0)), got)
  }

  test("vif3: hand correlations give the closed-form VIF triple") {
    import graft.ops.Stats
    val df = Seq((1.0, 2.0, 1.0), (2.0, 1.0, 4.0), (3.0, 4.0, 2.0),
      (4.0, 3.0, 5.0), (5.0, 5.0, 3.0)).toDF("a", "b", "c")
    val got = Stats.vif3(df, "a" -> F.col("a"), "b" -> F.col("b"),
        "c" -> F.col("c"))
      .as[(String, Double, Double)].collect().toSeq
    // r12=0.8, r13=0.5, r23=-0.1
    assert(got == Seq(("a", 0.979798, 49.5), ("b", 0.973333, 37.5),
      ("c", 0.944444, 18.0)), got)
  }

  test("lorenzAsymmetry: whale-driven S>1, dust-driven S<1") {
    import graft.ops.Stats
    val whale = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val got = Stats.lorenzAsymmetry(whale, F.col("v"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(got == ((4L, 4.0, 0.75, 0.375, 1.125)), got)
    val dust = Seq(1.0, 5.0, 5.0, 5.0).toDF("v")
    val d = Stats.lorenzAsymmetry(dust, F.col("v"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(d == ((4L, 4.0, 0.25, 0.0625, 0.3125)), d)
  }

  test("gwetAc1: hand table 0.2; skewed labels keep AC1 calibrated") {
    import graft.ops.Stats
    val df = Seq((true, true), (true, true), (true, false),
      (false, true)).toDF("a", "b")
    val got = Stats.gwetAc1(df, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Double)].head()
    assert(got == ((4L, 0.5, 0.375, 0.2)), got)
    val skew = Seq((true, true), (true, true), (true, true),
      (true, false)).toDF("a", "b")
    val s = Stats.gwetAc1(skew, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Double)].head()
    // kappa here is 0 (one rater constant); AC1 reads 0.68
    assert(s == ((4L, 0.75, 0.21875, 0.68)), s)
  }

  test("weibullFit: {1, e} median-rank regression hand fit") {
    import graft.ops.Stats
    val df = Seq(1.0, math.E).toDF("v")
    val got = Stats.weibullFit(df, F.col("v"))
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    // x = (0, 1): slope from Bernard ranks 0.7/2.4 and 1.7/2.4
    assert(got == ((2L, Some(1.273429), Some(2.307277), Some(1.0))),
      got)
  }

  test("cvmUniform: perfectly spread scores W2=1/24; point mass 1/6") {
    import graft.ops.Stats
    val spread = Seq(0.25, 0.75).toDF("u")
    val got = Stats.cvmUniform(spread, F.col("u"))
      .as[(Long, Double, Double)].head()
    // u_i exactly at (2i-1)/2n: only the 1/12n floor remains
    assert(got == ((2L, 0.041667, 0.166667)), got)
    val mass = Seq(0.5, 0.5).toDF("u")
    val m = Stats.cvmUniform(mass, F.col("u"))
      .as[(Long, Double, Double)].head()
    assert(m == ((2L, 0.166667, 0.166667)), m)
  }

  test("meanResidualLife: 1,2,3,10 grid — rising tail expectation") {
    import graft.ops.Stats
    val df = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val got = Stats.meanResidualLife(df, F.col("v"),
        thresholds = Seq(0L, 2L, 5L))
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq((0L, 4L, Some(4.0)), (2L, 2L, Some(4.5)),
      (5L, 1L, Some(5.0))), got)
  }

  test("tailDependence: comonotone tails hit, antithetic tails miss") {
    import graft.ops.Stats
    val co = (1 to 10).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    val got = Stats.tailDependence(co, F.col("x"), F.col("y"), q = 0.8)
      .as[(Long, Double, Double, Long, Double)].head()
    // 0.8·10 rounds to exactly 8.0 in IEEE, so the cut is the 8th
    // order statistic; 9 and 10 exceed both margins
    assert(got == ((10L, 8.0, 8.0, 2L, 1.0)), got)
    val anti = (1 to 10).map(i => (i.toDouble, (11 - i).toDouble))
      .toDF("x", "y")
    val a = Stats.tailDependence(anti, F.col("x"), F.col("y"), q = 0.8)
      .as[(Long, Double, Double, Long, Double)].head()
    assert(a == ((10L, 8.0, 8.0, 0L, 0.0)), a)
  }

  test("pairedT: constant shift has zero sd; mixed diffs hand t") {
    import graft.ops.Stats
    val const = Seq((3.0, 1.0), (4.0, 2.0), (5.0, 3.0), (6.0, 4.0))
      .toDF("a", "b")
    val got = Stats.pairedT(const, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Option[Double], Long)].head()
    assert(got == ((4L, 2.0, 0.0, None, 3L)), got)
    val mixed = Seq((3.0, 1.0), (2.0, 2.0), (5.0, 2.0)).toDF("a", "b")
    val m = Stats.pairedT(mixed, F.col("a"), F.col("b"))
      .as[(Long, Double, Double, Option[Double], Long)].head()
    // d = (2, 0, 3): mean 5/3, sd sqrt(7/3)
    assert(m == ((3L, 1.666667, 1.527525, Some(1.889822), 2L)), m)
  }

  test("hodgesLehmannShift: even pair count averages the middle diffs; " +
      "odd picks the middle; ties collapse to weighted cells") {
    import graft.ops.Stats
    // class1 {1,3}, class2 {2,10}: diffs sorted -1,1,7,9 -> hl (1+7)/2
    val even = Seq((1.0, true), (3.0, true), (2.0, false), (10.0, false))
      .toDF("v", "c1")
    val e = Stats.hodgesLehmannShift(even, F.col("v"), F.col("c1"))
      .as[(Long, Long, Long, Double)].head()
    assert(e == ((2L, 2L, 4L, 4.0)), e)
    // class1 {0}, class2 {5,6,7}: diffs 5,6,7 -> hl 6
    val odd = Seq((0.0, true), (5.0, false), (6.0, false), (7.0, false))
      .toDF("v", "c1")
    val o = Stats.hodgesLehmannShift(odd, F.col("v"), F.col("c1"))
      .as[(Long, Long, Long, Double)].head()
    assert(o == ((1L, 3L, 3L, 6.0)), o)
    // ties: class1 {1,1}, class2 {2}: one diff cell weight 2 -> hl 1
    val tie = Seq((1.0, true), (1.0, true), (2.0, false)).toDF("v", "c1")
    val t = Stats.hodgesLehmannShift(tie, F.col("v"), F.col("c1"))
      .as[(Long, Long, Long, Double)].head()
    assert(t == ((2L, 1L, 2L, 1.0)), t)
  }

  test("cuzickTrend: perfect 3-level trend hand z; constant values " +
      "tie-correct to zero variance") {
    import graft.ops.Stats
    val df = Seq((1.0, 1L), (2.0, 1L), (3.0, 2L), (4.0, 2L), (5.0, 3L),
      (6.0, 3L)).toDF("v", "l")
    val got = Stats.cuzickTrend(df, F.col("v"), F.col("l"))
      .as[(Long, Double, Double, Double, Option[Double])].head()
    // T = 1+2+6+8+15+18 = 50, E = 3.5*12 = 42,
    // Var = 7/12*(6*28-144) = 14 (exact enumeration of all 6! rank
    // permutations confirms Var(T) = 14), z = 8/sqrt(14) = 2.138090
    assert(got == ((6L, 50.0, 42.0, 14.0, Some(2.13809))), got)
    val const = Seq((5.0, 1L), (5.0, 2L), (5.0, 3L)).toDF("v", "l")
    val c = Stats.cuzickTrend(const, F.col("v"), F.col("l"))
      .as[(Long, Double, Double, Double, Option[Double])].head()
    // one value cell: ties = n^3-n, tie factor 0 -> var 0, z NULL
    assert(c._4 == 0.0 && c._5.isEmpty, c)
  }

  test("moodMedian: two cleanly separated groups give chi2 = n; " +
      "identical groups give 0") {
    import graft.ops.Stats
    val df = Seq((1.0, "A"), (2.0, "A"), (3.0, "A"), (4.0, "B"),
      (5.0, "B"), (6.0, "B")).toDF("v", "g")
    val got = Stats.moodMedian(df, F.col("v"), F.col("g"))
      .as[(Long, Long, Double, Double, Long)].head()
    // lower median 3; A all <=, B all >: each cell term 1.5, chi2 6
    assert(got == ((6L, 2L, 3.0, 6.0, 1L)), got)
    val same = Seq((1.0, "A"), (2.0, "A"), (1.0, "B"), (2.0, "B"))
      .toDF("v", "g")
    val s = Stats.moodMedian(same, F.col("v"), F.col("g"))
      .as[(Long, Long, Double, Double, Long)].head()
    assert(s == ((4L, 2L, 1.0, 0.0, 1L)), s)
  }

  test("hopkinsStatistic: two tight far-apart clusters read clustered; " +
      "m matches the stride") {
    import graft.ops.Similarity
    val pts = (0 until 10).map(i => (i.toLong,
      Array(0.0 + i * 0.001, 0.0))) ++
      (10 until 20).map(i => (i.toLong, Array(100.0 + i * 0.001, 100.0)))
    val emb = pts.toDF("vec_id", "embedding")
    val got = Similarity.hopkinsStatistic(emb, "vec_id", "embedding",
      every = 10).as[(Long, Double, Double, Double)].head()
    assert(got._1 == 2L, got)
    assert(got._4 > 0.8 && got._4 <= 1.0, got)
    // deterministic: a second run returns the identical row
    val again = Similarity.hopkinsStatistic(emb, "vec_id", "embedding",
      every = 10).as[(Long, Double, Double, Double)].head()
    assert(again == got, (again, got))
    // corpusEvery bounds BOTH NN scans to the id-stride subsample (the
    // 100-TB knob): same m, still reads clustered on this geometry
    val sub = Similarity.hopkinsStatistic(emb, "vec_id", "embedding",
      every = 10, corpusEvery = 2).as[(Long, Double, Double, Double)]
      .head()
    assert(sub._1 == 2L, sub)
    assert(sub._4 > 0.8 && sub._4 <= 1.0, sub)
  }

  test("randomPairCosine: identical vectors pair to cosine 1 with " +
      "zero spread") {
    import graft.ops.Similarity
    val emb = (1L to 5L).map(i => (i, Array(1.0, 2.0, 3.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomPairCosine(emb, "vec_id", "embedding")
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((2L, 1.0, 0.0, 1.0, 1.0, 1.0)), got)
  }

  test("edgeSupportCensus: triangle edges support 1, the pendant is " +
      "the lone bridge") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.edgeSupportCensus(edges, "src", "dst")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 0.25, 0.25), (1L, 3L, 0.75, 0.25)), got)
    // K4 + pendant: every K4 edge sits in 2 triangles, the pendant in 0
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val g2 = Graph.edgeSupportCensus(k4, "src", "dst")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(g2 == Seq((0L, 1L, 0.142857, 0.142857),
      (2L, 6L, 0.857143, 0.142857)), g2)
    // star hub: triangle-free, so every edge is a bridge — and the
    // oriented enumeration generates ZERO wedges at the hub (the
    // Σ deg² blowup the r13 reshape removed)
    val star = (1 to 50).map(i => (0L, i.toLong)).toDF("src", "dst")
    val s = Graph.edgeSupportCensus(star, "src", "dst")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(s == Seq((0L, 50L, 1.0, 1.0)), s)
  }

  test("rougeN: clipped MULTISET bigram overlap (repeats count to the " +
      "min), exact P/R/F1; short docs yield null ratios") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "the cat sat the cat"), // bigrams: the-cat x2, cat-sat, sat-the
      (2L, "the cat sat"),         // bigrams: the-cat, cat-sat
      (3L, "x"),                   // no bigram
      (4L, "x y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val got = TextOps.rougeN(pairs, docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    // pair (1,2): match = min(2,1) + min(1,1) = 2 (SET overlap would
    // say 2 grams but clipped multiset credits the repeat only once);
    // P = 2/2, R = 2/4, F1 = 2*2/(4+2)
    assert(got == Seq(
      (1L, 2L, 2L, 4L, 2L, Some(1.0), Some(0.5), Some(0.666667)),
      (3L, 4L, 0L, 0L, 1L, Some(0.0), None, Some(0.0))), got)
  }

  test("bleuPairs: clipped precisions + brevity penalty exact; any " +
      "zero precision zeroes bleu; empty candidate is NULL") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat"),
      (3L, "entirely different words"),
      (4L, "")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got = TextOps.bleuPairs(pairs, docs, "doc_id", "text", maxN = 2)
      .as[(Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toSeq
    // (1,2): p1 = 3/3, p2 = 2/2, BP = exp(1 - 6/3) = e^-1 = 0.367879
    assert(got == Seq(
      (1L, 2L, 6L, 3L, 3L, 2L, Some(0.367879)),
      (1L, 3L, 6L, 3L, 0L, 0L, Some(0.0)),
      (1L, 4L, 6L, 0L, 0L, 0L, None)), got)
  }

  test("jsonKeyProfile: per-key presence/distinct census; scalars " +
      "render as token text; non-objects contribute no keys") {
    import graft.ops.Quality
    val df = Seq("""{"k": 69, "tag": "a"}""", """{"k": 7}""",
      """not json""").toDF("props")
    val got = Quality.jsonKeyProfile(df, "props")
      .as[(String, Long, Double, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("k", 2L, 0.666667, 2L, "69", "7"), // lexicographic strings
      ("tag", 1L, 0.333333, 1L, "a", "a")), got)
  }

  test("jsonKeyProfile: a key containing JSONPath metacharacters " +
      "raises loudly at action time, naming the offender") {
    import graft.ops.Quality
    val df = Seq("""{"ok": 1, "bad.dot": 2}""").toDF("props")
    val ex = intercept[Exception] {
      Quality.jsonKeyProfile(df, "props").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    assert(msgs(ex).exists(m => m.contains("jsonKeyProfile") &&
      m.contains("bad.dot")), msgs(ex).mkString(" | "))
  }

  test("weightedReciprocity: min-flow mass share; parallel edges " +
      "pre-sum, self-loops drop") {
    import graft.ops.Graph
    val edges = Seq(("a", "b", 3L), ("a", "b", 1L), ("b", "a", 1L),
      ("a", "c", 2L), ("c", "c", 5L)).toDF("s", "d", "w")
    val got = Graph.weightedReciprocity(edges, "s", "d", "w")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    // a->b 4 / b->a 1 / a->c 2: w_recip = 1+1+0 = 2 of 7; 2 of 3 edges
    assert(got == ((3L, 2L, 7L, 2L, 0.285714, 0.666667)), got)
  }

  test("weightedClustering: exact cbrt triangle intensity (0.25^3 " +
      "grid), per-corner credit, pendant zero") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 1L),
      (3L, 4L, 8L)).toDF("src", "dst", "w")
    val got = Graph.weightedClustering(edges, "src", "dst", "w")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // wmax 8 -> normalized (0.5, 0.25, 0.125); cbrt(product) = 0.25
    // exactly; cw = 2*0.25/(k(k-1))
    assert(got == Seq((1L, 2L, 1L, 0.25), (2L, 2L, 1L, 0.25),
      (3L, 3L, 1L, 0.083333), (4L, 1L, 0L, 0.0)), got)
  }

  test("chrfPairs: whitespace-stripped char grams, effective-order " +
      "average, beta=2 harmonic — hand 35/55") {
    import graft.ops.TextOps
    val docs = Seq((1L, "a b c"), (2L, "ab ")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val got = TextOps.chrfPairs(pairs, docs, "doc_id", "text", maxN = 3)
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double])].head()
    // stripped: "abc" vs "ab"; m1 = 2, m2 = 1 (ab), order 3 invalid on
    // the candidate side -> nv = 2; P = (2/2 + 1/1)/2 = 1,
    // R = (2/3 + 1/2)/2 = 7/12; chrF2 = 5*1*(7/12)/(4 + 7/12) = 35/55
    assert(got == ((1L, 2L, 3L, 2L, 2L, 1L, 0L, Some(1.0),
      Some(0.583333), Some(0.636364))), got)
  }

  test("referentialIntegrity: null fks split from dangling fks; " +
      "childless dims counted; max fanout over matched keys") {
    import graft.ops.Quality
    val fact = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None)
      .toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val got = Quality.referentialIntegrity(fact, "fk", dim, "pk")
      .as[(Long, Long, Long, Double, Long, Long, Double, Long)].head()
    // 5 fact rows: one NULL fk, one dangling (9), key 1 matched twice
    // (fanout 2); dim 3 keys, pk 3 childless
    assert(got == ((5L, 1L, 1L, 0.2, 3L, 1L, 0.333333, 2L)), got)
  }

  test("keyUniqueness: composite dup census exact; a true key reads " +
      "zero excess") {
    import graft.ops.Quality
    val df = Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("k1", "k2")
    val got = Quality.keyUniqueness(df, Seq("k1", "k2"))
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(got == ((5L, 3L, 1L, 3L, 3L, 0.4)), got)
    val uniq = Quality.keyUniqueness(
        Seq((1L, "a"), (2L, "b")).toDF("k1", "k2"), Seq("k1", "k2"))
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(uniq == ((2L, 2L, 0L, 0L, 1L, 0.0)), uniq)
  }

  test("columnProfile: null census, exact distinct, TYPED min/max " +
      "(numeric order, not lexicographic)") {
    import graft.ops.Quality
    val df = Seq((Some(9L), "b"), (Some(10L), "a"), (None, "a"))
      .toDF("k", "s")
    val got = Quality.columnProfile(df, Seq("k", "s"))
      .as[(String, Long, Long, Double, Long, String, String)]
      .collect().toSeq
    // typed min/max: 9 < 10 numerically (lexicographic would say "10" < "9")
    assert(got == Seq(("k", 3L, 1L, 0.333333, 2L, "9", "10"),
      ("s", 3L, 0L, 0.0, 2L, "a", "b")), got)
  }

  test("mediaDedupCensus: identical payloads collapse per kind; " +
      "count and storage shares exact") {
    import graft.ops.Multimodal
    val m = Seq(("image", "aaaa"), ("image", "aaaa"), ("image", "bb"),
      ("audio", "cccc")).toDF("kind", "t")
      .select(F.col("kind"), F.encode(F.col("t"), "UTF-8").as("media"))
    val got = Multimodal.mediaDedupCensus(m, "kind", "media")
      .as[(String, Long, Long, Double, Long, Long, Double)]
      .collect().toSeq
    // image: 3 items / 2 distinct -> dup_share 1/3; bytes 4+4+2 = 10
    // total, 6 distinct -> saved 0.4; audio: singleton, zero savings
    assert(got == Seq(("audio", 1L, 1L, 0.0, 4L, 4L, 0.0),
      ("image", 3L, 2L, 0.333333, 10L, 6L, 0.4)), got)
  }

  test("splitByCluster: a near-dup cluster lands in ONE split (rep = " +
      "component min); unpaired docs match plain splitAssign exactly") {
    import graft.ops.{Curation, Sampling}
    val docs = (1L to 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val w = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Curation.splitByCluster(docs, "doc_id", pairs, w)
      .select("doc_id", "rep", "split")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    val byId = got.map(r => r._1 -> r).toMap
    // cluster {1,2,3} -> rep 1, one split; {10,11} -> rep 10
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    assert(Seq(10L, 11L).map(byId(_)._2).distinct == Seq(10L))
    assert(Seq(10L, 11L).map(byId(_)._3).distinct.size == 1)
    // unpaired docs: rep = own id, split identical to plain splitAssign
    val plain = Sampling.splitAssign(docs, F.col("doc_id"), w)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (4L to 9L) ++ (12L to 40L) foreach { i =>
      assert(byId(i)._2 == i && byId(i)._3 == plain(i), s"doc $i") }
  }

  test("kTrussFixpoint: peels to the exact truss (bowtie needs the " +
      "propagation round); loud when capped before convergence") {
    import graft.ops.Graph
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.kTrussFixpoint(k4p, "src", "dst", k = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), got)
    // bowtie: round 1 keeps only the shared edge, round 2 empties it —
    // the fixpoint is EMPTY (the pinned-round form at rounds=1 would
    // return the shared-edge superset)
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graph.kTrussFixpoint(bowtie, "src", "dst", k = 4).count() == 0L)
    val ex = intercept[IllegalStateException] {
      Graph.kTrussFixpoint(bowtie, "src", "dst", k = 4, maxRounds = 1)
    }
    assert(ex.getMessage.contains("no fixpoint"), ex.getMessage)
  }

  test("readability: hand W/S/SY counts; fragment clamps to one " +
      "sentence; vowel-less token clamps to one syllable; empty doc " +
      "counts only in n_docs") {
    import graft.ops.TextOps
    val docs = Seq(("g1", "The cat sat. It ran!"), ("g2", "tsk brr"),
      ("g2", "")).toDF("source", "text")
    val got = TextOps.readability(docs, Seq("source"), "text")
      .as[(String, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double], Option[Double])].collect().toSeq
    // g1: W=5, S=2, SY=5 -> FRE = 206.835 - 1.015*2.5 - 84.6 = 119.6975
    // g2: W=2, S=1 (clamped), SY=2 (both vowel-less) -> FRE = 120.205
    assert(got == Seq(
      ("g1", 1L, 5L, 2L, 5L, Some(2.5), Some(1.0), Some(119.6975),
        Some(-2.815)),
      ("g2", 2L, 2L, 1L, 2L, Some(2.0), Some(1.0), Some(120.205),
        Some(-3.01))), got)
  }

  test("readability vs withReadability: the documented divergence is " +
      "real and exactly where the scaladocs say — one shared fixture") {
    // Shared-fixture pin (r15 verdict ask #8): the per-slice census and
    // the per-doc gate implement the SAME formula with deliberately
    // different counting rules; this fixture exercises every divergence
    // (hyphenated word, vowel-less token, no terminal punctuation) so a
    // drive-by "unification" of either side fails loudly here.
    import graft.ops.TextOps
    val doc = "Tsk-tsk you cannot win"
    val df = Seq(("g", doc)).toDF("source", "text")
    // census rules: W = whitespace tokens = 4 ("tsk-tsk" is ONE token);
    // S: no [.!?] run, pieces-1 = 0, clamped to 1; SY: vowel groups
    // (ou, a, o, i = 4) + vowel-less tokens ("tsk-tsk" = 1) = 5
    val census = TextOps.readability(df, Seq("source"), "text")
      .select("words", "sentences", "syllables")
      .as[(Long, Long, Long)].head()
    assert(census == ((4L, 1L, 5L)), census)
    // per-doc rules: words = [A-Za-z0-9]+ matches = 5 ("Tsk" and "tsk"
    // are TWO matches); sentences = regexp_count = 0, clamped to 1;
    // syllables = vowel groups only = 4 (no vowel-less clamp)
    val perDoc = TextOps.withReadability(df, "text")
      .select("n_words", "n_sentences", "n_syllables")
      .as[(Int, Int, Int)].head()
    assert(perDoc == ((5, 1, 4)), perDoc)
    // same formula, different operating points -> different scores on
    // this doc; BOTH are pinned by their own hash-green oracles
    // (x435 / x158), so neither side may silently adopt the other's rules
    assert(census._1 != perDoc._1 && census._3 != perDoc._3)
  }

  test("sourceOverlapMatrix: directional containment over DISTINCT " +
      "fingerprints; within-source dups collapse; zero pairs kept") {
    import graft.ops.Dedup
    val docs = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("A", "z"),
      ("B", "x"), ("B", "y"), ("B", "q"), ("C", "zzz"))
      .toDF("source", "text")
    val got = Dedup.sourceOverlapMatrix(docs, "source", "text")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("A", "B", 3L, 2L, 0.666667), ("A", "C", 3L, 0L, 0.0),
      ("B", "A", 3L, 2L, 0.666667), ("B", "C", 3L, 0L, 0.0),
      ("C", "A", 1L, 0L, 0.0), ("C", "B", 1L, 0L, 0.0)), got)
  }

  test("packingEfficiency: pre-doc prefix-sum bins; overruns and " +
      "underfill waste censused separately — hand 2500/2500/100") {
    import graft.ops.Curation
    val docs = Seq(("g", 1L, 1000L), ("g", 2L, 1000L), ("g", 3L, 500L),
      ("g", 4L, 2500L), ("g", 5L, 100L)).toDF("src", "id", "tok")
    val got = Curation.packingEfficiency(docs, "src", "id", "tok", 2048)
      .as[(String, Long, Long, Long, Long, Long, Long, Double, Double)]
      .head()
    // bins: [1000,1000,500]=2500 (overrun), [2500] (overrun), [100]
    // (waste 1948); fill 5100/6144, waste 1948/6144
    assert(got == (("g", 5L, 3L, 5100L, 2L, 1948L, 2500L,
      0.830078, 0.317057)), got)
  }

  test("encodingDefectCensus: each defect class counted once per doc; " +
      "a multi-defect doc still counts once in n_defect; null text clean") {
    import graft.ops.Curation
    val rows = Seq(
      ("a", "clean text"),
      ("a", "lossy \uFFFD here"),
      ("a", "caf\u00C3\u00A9 double-encoded"), // the double-encode digram
      ("a", "curly \u00E2\u20AC\u0099 quote"), // the curly-quote triple (U+0099 is also C1)
      ("b", "nel\u0085inside"),
      ("b", "bel\u0007and\uFFFDboth"), // ctl + repl, ONE defect doc
      ("b", null)).toDF("src", "text")
    val got = Curation.encodingDefectCensus(rows, Seq("src"), "text")
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 4L, 1L, 2L, 1L, 0L, 3L, 0.75),
      ("b", 3L, 1L, 0L, 1L, 1L, 2L, 0.666667)), got)
  }

  test("ByteSketches.chunkHashes: deterministic; empty payload one " +
      "hash; maxLen force-splits; insertion re-aligns the tail " +
      "(the CDC property fixed-width chunking lacks)") {
    import graft.functions.ByteSketches
    // empty → exactly one (empty-range) hash, so every item sketches
    assert(ByteSketches.chunkHashes(Array.empty[Byte], 6, 16, 256).length == 1)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(4096)(rnd.nextInt().toByte)
    val h1 = ByteSketches.chunkHashes(base, 6, 16, 256)
    val h2 = ByteSketches.chunkHashes(base, 6, 16, 256)
    assert(h1.sameElements(h2))
    // ~4096/64 = 64 expected chunks; every chunk within [minLen, maxLen]
    assert(h1.length > 16 && h1.length < 256, h1.length)
    // constant bytes: the rolling hash either hits the mask at one fixed
    // offset forever or never — either way chunk lengths are uniform and
    // bounded by maxLen, so the count is within the [len/max, len/min]
    // band instead of degenerating to one giant chunk
    val const = Array.fill(4096)(0x42.toByte)
    val hc = ByteSketches.chunkHashes(const, 6, 16, 256)
    assert(hc.length >= 4096 / 256 && hc.length <= 4096 / 16 + 1, hc.length)
    // insertion near the head: boundaries re-derive from content, so
    // chunks after the insertion point re-align and most hashes survive
    val ins = base.take(100) ++ Array.fill(16)(0x55.toByte) ++ base.drop(100)
    val hi = ByteSketches.chunkHashes(ins, 6, 16, 256)
    val shared = h1.toSet.intersect(hi.toSet).size.toDouble / h1.toSet.size
    assert(shared > 0.85, s"insertion should preserve most chunks, got $shared")
  }

  test("mediaNearDupPairs: planted truncated/padded/mutated/inserted " +
      "variants are found above threshold; unrelated payloads never pair") {
    import graft.ops.Multimodal
    val rnd = new scala.util.Random(7)
    def fresh() = Array.fill(2048)(rnd.nextInt().toByte)
    val bases = (1L to 20L).map(i => i -> fresh()).toMap
    val variants: Seq[(Long, Long, Array[Byte])] = Seq(
      (1L, 101L, bases(1L).take(1638)), // truncated −20%
      (2L, 102L, bases(2L) ++ Array.fill(205)(0x33.toByte)), // padded +10%
      (3L, 103L, { val m = bases(3L).clone()
        m(100) = 0x7F; m(1700) = 0x7F; m }), // 2 scattered byte mutations
      (4L, 104L, bases(4L).take(64) ++ Array.fill(16)(0x55.toByte) ++
        bases(4L).drop(64))) // insertion — the CDC case
    val all = bases.toSeq.map { case (id, b) => (id, b) } ++
      variants.map { case (_, vid, b) => (vid, b) }
    val media = all.toDF("doc_id", "media")
    val got = Multimodal.mediaNearDupPairs(media, "doc_id", "media",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val pairs = got.map(p => (p._1, p._2)).toSet
    variants.foreach { case (base, vid, _) =>
      assert(pairs.contains((base, vid)),
        s"planted variant ($base, $vid) not found; got $got") }
    // no pair between two independent random payloads
    assert(got.forall { case (a, b, _) => variants.exists(v =>
      v._1 == a && v._2 == b) }, s"false positives: $got")
  }

  test("ByteChunkMinHashSig: native expression matches the kernel " +
      "called driver-side, payload by payload") {
    import org.apache.spark.sql.GraftExpr
    val rnd = new scala.util.Random(11)
    val rows = (1L to 8L).map(i =>
      (i, Array.fill(512 + rnd.nextInt(1024))(rnd.nextInt().toByte)))
    val df = rows.toDF("id", "bytes")
    val got = df.select(F.col("id"), GraftExpr.column(
        graft.functions.ByteChunkMinHashSig(
          GraftExpr.expression(F.col("bytes")), 6, 16, 256, 32)).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    rows.foreach { case (id, bytes) =>
      val want = graft.functions.ByteSketches
        .chunkMinhash(bytes, 6, 16, 256, 32).toSeq
      assert(got(id) == want, s"sig mismatch for $id") }
  }

  test("kTruss: K4 + pendant peels to K4 at k=4, empties at k=5; " +
      "peeling PROPAGATES (bowtie round 2); star hub never survives k=3") {
    import graft.ops.Graph
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    // every K4 edge sits in 2 triangles -> survives k=4 (sup >= 2);
    // the pendant closes none -> dropped
    val got = Graph.kTruss(k4p, "src", "dst", k = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), got)
    // K4 edges have support exactly 2 -> k=5 (sup >= 3) empties it
    assert(Graph.kTruss(k4p, "src", "dst", k = 5).count() == 0L)
    // two triangles sharing edge (2,3): at k=4 round 1 keeps ONLY the
    // shared edge (sup 2), round 2 finds it triangle-less and drops it
    // — the multi-round propagation a single support pass would miss
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graph.kTruss(bowtie, "src", "dst", k = 4).count() == 0L)
    // at k=3 (sup >= 1) every bowtie edge is in a triangle - fixpoint
    val b3 = Graph.kTruss(bowtie, "src", "dst", k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(b3 == Seq((1L, 2L), (2L, 3L), (3L, 3L), (4L, 2L)), b3)
    // a star is triangle-free: the hub a k-core would keep dies here
    val star = (1 to 50).map(i => (0L, i.toLong)).toDF("src", "dst")
    assert(Graph.kTruss(star, "src", "dst", k = 3).count() == 0L)
  }

  test("partitionQuality: two bridged triangles — hand Q and " +
      "conductance 1/7") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"),
      (5L, "B"), (6L, "B")).toDF("node", "c")
    val got = Graph.partitionQuality(edges, "src", "dst", comm,
      "node", "c")
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().toSeq
    assert(got == Seq(("A", 3L, 3L, 1L, 7L, 0.142857, 0.357143),
      ("B", 3L, 3L, 1L, 7L, 0.142857, 0.357143)), got)
    // one-row-per-node contract ENFORCED (advisor r13): a node mapped
    // to two communities resolves to min(community) instead of
    // multiplying edge rows — identical result to the clean mapping
    val dup = comm.unionByName(Seq((3L, "Z")).toDF("node", "c"))
    val got2 = Graph.partitionQuality(edges, "src", "dst", dup,
      "node", "c")
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().toSeq
    assert(got2 == got, (got2, got))
  }

  test("partialAuc: perfect separation saturates at f_max (std 1); " +
      "all-tied scores give the chance diagonal (std 0.5)") {
    import graft.ops.Stats
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false),
      (0.1, false)).toDF("s", "y")
    val p = Stats.partialAuc(perfect, F.col("s"), F.col("y"), fMax = 0.1)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(p == ((2L, 2L, 0.1, 0.1, 1.0)), p)
    val tied = Seq((0.5, true), (0.5, false)).toDF("s", "y")
    val t = Stats.partialAuc(tied, F.col("s"), F.col("y"), fMax = 0.1)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(t == ((1L, 1L, 0.1, 0.005, 0.5)), t)
  }

  test("negBinomialFit: hand moments r=1.5, p=3/7; Poisson-or-under " +
      "gives NULLs") {
    import graft.ops.Stats
    val df = Seq(0L, 1L, 2L, 5L).toDF("k")
    val got = Stats.negBinomialFit(df, F.col("k"))
      .as[(Long, Double, Double, Option[Double], Option[Double])].head()
    assert(got == ((4L, 2.0, 4.666667, Some(1.5), Some(0.428571))), got)
    val const = Seq(2L, 2L, 2L).toDF("k")
    val c = Stats.negBinomialFit(const, F.col("k"))
      .as[(Long, Double, Double, Option[Double], Option[Double])].head()
    assert(c._4.isEmpty && c._5.isEmpty, c)
  }

  test("meanCumulativeFunction: two subjects, three events — hand curve") {
    import graft.ops.Stats
    val ev = Seq(("a", 1L), ("a", 2L), ("b", 2L)).toDF("u", "t")
    val got = Stats.meanCumulativeFunction(ev, F.col("u"), F.col("t"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L, 0.5), (2L, 2L, 3L, 1.5)), got)
  }

  test("poissonDispersion: D=1 on {1,2,3}; constant counts are " +
      "under-dispersed") {
    import graft.ops.Stats
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 2L), ("b", 2L),
      ("b", 2L)).toDF("g", "k")
    val got = Stats.poissonDispersion(df, F.col("g"), F.col("k"))
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 3L, 2.0, 1.0, 2L, -0.285565),
      ("b", 3L, 2.0, 0.0, 2L, -2.666667)), got)
  }

  test("chiSquareResiduals: symmetric 3-1/1-3 table residuals " +
      "+-sqrt(2)") {
    import graft.ops.Stats
    val df = (Seq.fill(3)(("A", "p")) ++ Seq(("A", "q")) ++
      Seq(("B", "p")) ++ Seq.fill(3)(("B", "q"))).toDF("x", "y")
    val got = Stats.chiSquareResiduals(df, F.col("x"), F.col("y"))
      .as[(String, String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", "p", 3L, 2.0, 1.414214),
      ("A", "q", 1L, 2.0, -1.414214), ("B", "p", 1L, 2.0, -1.414214),
      ("B", "q", 3L, 2.0, 1.414214)), got)
  }

  test("zeroInflationScore: two zeros against lambda-hat 1 — hand S") {
    import graft.ops.Stats
    val df = Seq(0L, 0L, 1L, 3L).toDF("k")
    val got = Stats.zeroInflationScore(df, F.col("k"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((4L, 2L, 1.0, 1.471518, 0.718282)), got)
  }

  test("charNgramEntropy: constant text 0 nats; alternating text hand " +
      "H1/H2") {
    import graft.ops.TextOps
    val docs = Seq(("aaaaa", "c"), ("abab", "z")).toDF("text", "g")
    val got = TextOps.charNgramEntropy(docs, "text", F.col("g"))
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("c", 5L, 4L, 0.0, 0.0, 0.0),
      ("z", 4L, 3L, 0.693147, 0.636514, -0.056633)), got)
  }

  test("yuenTest: symmetric outliers trimmed away — hand t on the " +
      "middle thirds") {
    import graft.ops.Stats
    val df = (Seq(0.0, 9.0, 10.0, 11.0, 20.0).map((_, true)) ++
      Seq(0.0, 4.0, 5.0, 6.0, 20.0).map((_, false))).toDF("v", "c1")
    val got = Stats.yuenTest(df, F.col("v"), F.col("c1"), trim = 0.2)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .head()
    // kept {9,10,11} vs {4,5,6}; d = 2/3 each: t = 5/sqrt(4/3), df 4
    assert(got == ((5L, 5L, 3L, 3L, 10.0, 5.0, 4.330127, 4.0)), got)
  }

  test("knn1Accuracy: a point nearer the other cluster is the only " +
      "miss") {
    import graft.ops.Similarity
    val emb = Seq((1L, Array(0.0, 0.0), "A"), (2L, Array(1.0, 0.0), "A"),
      (3L, Array(6.0, 0.0), "A"), (4L, Array(10.0, 0.0), "B"),
      (5L, Array(11.0, 0.0), "B")).toDF("vec_id", "embedding", "label")
    val got = Similarity.knn1Accuracy(emb, "vec_id", "embedding",
      F.col("label"))
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 3L, 2L, 0.666667, 0.8),
      ("B", 2L, 2L, 1.0, 0.8)), got)
  }

  test("blomqvistBeta: comonotone quadrants give +1, antithetic -1") {
    import graft.ops.Stats
    val co = (1 to 4).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    val c = Stats.blomqvistBeta(co, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Long, Long, Long, Long, Double)].head()
    assert(c == ((4L, 2.0, 2.0, 2L, 0L, 0L, 2L, 1.0)), c)
    val anti = (1 to 4).map(i => (i.toDouble, 5.0 - i)).toDF("x", "y")
    val a = Stats.blomqvistBeta(anti, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Long, Long, Long, Long, Double)].head()
    assert(a == ((4L, 2.0, 2.0, 0L, 2L, 2L, 0L, -1.0)), a)
  }

  test("bartelsRankTest: ramp RVN 4/10 (too smooth); alternator RVN 3 " +
      "(too jumpy)") {
    import graft.ops.Stats
    val ramp = (1 to 5).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val r = Stats.bartelsRankTest(ramp, "t", "v")
      .as[(Long, Double, Double)].head()
    // Σ(ΔR)² = 4, Σ(R−R̄)² = 10: the textbook 0.4
    assert(r == ((5L, 0.4, -2.197769)), r)
    val alt = Seq((1L, 1.0), (2L, 5.0), (3L, 1.0), (4L, 5.0))
      .toDF("t", "v")
    val a = Stats.bartelsRankTest(alt, "t", "v")
      .as[(Long, Double, Double)].head()
    assert(a == ((4L, 3.0, 1.336306)), a)
  }

  test("goodmanKruskalLambda: 3-1/1-3 table halves the error both ways") {
    import graft.ops.Stats
    val df = Seq.fill(3)(("A", "p")) ++ Seq(("A", "q")) ++
      Seq(("B", "p")) ++ Seq.fill(3)(("B", "q"))
    val got = Stats.goodmanKruskalLambda(df.toDF("x", "y"), F.col("x"),
      F.col("y")).as[(Long, Double, Double, Double)].head()
    assert(got == ((8L, 0.5, 0.5, 0.5)), got)
  }

  test("dimVarianceCensus: one active dim gives PR 1; isotropic pair " +
      "gives PR 2") {
    import graft.ops.Similarity
    val one = Seq(Array(1.0, 0.0), Array(-1.0, 0.0), Array(2.0, 0.0),
      Array(-2.0, 0.0)).toDF("embedding")
    val g1 = Similarity.dimVarianceCensus(one, "embedding")
      .as[(Int, Double, Double, Double, Double, Double)].collect().toSeq
    assert(g1 == Seq((0, 0.0, 3.333333, 1.0, 1.0, 1.0),
      (1, 0.0, 0.0, 0.0, 1.0, 1.0)), g1)
    val iso = Seq(Array(1.0, 1.0), Array(-1.0, -1.0), Array(1.0, -1.0),
      Array(-1.0, 1.0)).toDF("embedding")
    val g2 = Similarity.dimVarianceCensus(iso, "embedding")
      .as[(Int, Double, Double, Double, Double, Double)].collect().toSeq
    assert(g2.forall(r => r._5 == 2.0 && r._4 == 0.5), g2)
  }

  test("coneCensus: tight 2-D cone hand cosines; unit norms, cv 0") {
    import graft.ops.Similarity
    val emb = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val got = Similarity.coneCensus(emb, "vec_id", "embedding")
      .as[(Long, Double, Double, Double, Double)].head()
    // cq = (666667, 333333); cos = 0.894427459 x2, 0.447213059
    assert(got == ((3L, 0.745356, 1.0, 1.0, 0.0)), got)
  }

  test("chatterjeeXi: monotone n=5 gives 1 - 3/(n+1) = 0.5; constant " +
      "y NULL; small-n parabola hand 0") {
    import graft.ops.Stats
    val mono = (1 to 5).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    val m = Stats.chatterjeeXi(mono, F.col("x"), F.col("y"))
      .as[(Long, Long, Option[Double])].head()
    assert(m == ((5L, 4L, Some(0.5))), m)
    val const = (1 to 4).map(i => (i.toDouble, 7.0)).toDF("x", "y")
    val c = Stats.chatterjeeXi(const, F.col("x"), F.col("y"))
      .as[(Long, Long, Option[Double])].head()
    assert(c._3.isEmpty, c)
    val par = Seq((-2.0, 4.0), (-1.0, 1.0), (0.0, 0.0), (1.0, 1.0),
      (2.0, 4.0)).toDF("x", "y")
    val p = Stats.chatterjeeXi(par, F.col("x"), F.col("y"))
      .as[(Long, Long, Option[Double])].head()
    // dr = 8, den = 20: the exact small-n value
    assert(p == ((5L, 8L, Some(0.0))), p)
  }

  test("adUniform: hand 3-point ladder 0.269431; boundary scores " +
      "excluded") {
    import graft.ops.Stats
    val df = Seq(0.25, 0.5, 0.75).toDF("u")
    val got = Stats.adUniform(df, F.col("u"))
      .as[(Long, Double, Double, Boolean)].head()
    assert(got == ((3L, 0.269431, 2.492, false)), got)
    val withEdge = Seq(0.25, 0.5, 0.75, 1.0, 0.0).toDF("u")
    val e = Stats.adUniform(withEdge, F.col("u"))
      .as[(Long, Double, Double, Boolean)].head()
    assert(e == got, e)
  }

  test("harmonic2: path graph — interior nodes 2.5, leaves 1.5") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.harmonic2(edges, "src", "dst", topN = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((2L, 2L, 1L, 2.5), (3L, 2L, 1L, 2.5),
      (1L, 1L, 1L, 1.5), (4L, 1L, 1L, 1.5)), got)
  }

  test("decileShift: constant +10 shift shows at every decile") {
    import graft.ops.Stats
    val df = (1 to 5).map(i => (i.toDouble, true)) ++
      (1 to 5).map(i => (i + 10.0, false))
    val got = Stats.decileShift(df.toDF("v", "c1"), F.col("v"),
      F.col("c1")).as[(Double, Double, Double, Double)].collect().toSeq
    assert(got.map(_._4).forall(_ == 10.0), got)
    assert(got.map(_._2) == Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0,
      4.0, 5.0), got)
  }

  test("pageTrend: two perfect ascending weeks z=2; incomplete block " +
      "drops") {
    import graft.ops.Stats
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 1.0), (4L, 2.0),
      (5L, 3.0)).toDF("t", "v")
    val got = Stats.pageTrend(df, "t", "v", period = 3)
      .as[(Long, Long, Double, Double, Double)].head()
    // L = 2*(1+4+9) = 28, E = 24, Var = 4
    assert(got == ((2L, 3L, 28.0, 24.0, 2.0)), got)
    val extra = df.union(Seq((6L, 9.0)).toDF("t", "v"))
    val e = Stats.pageTrend(extra, "t", "v", period = 3)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(e == got, e)
  }

  test("storeyQvalue: pi0 = 1/2 from the flat tail; hand q ladder") {
    import graft.ops.Stats
    val df = Seq(("a", 10.0), ("b", 8.0), ("c", 6.0), ("d", 0.0))
      .toDF("token", "chi2")
    val got = Stats.storeyQvalue(df, Seq("token"), F.col("chi2"))
      .as[(String, Double, Double, Int, Double, Double, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 10.0, 0.006737947, 1, 0.5, 0.013475894, true),
      ("b", 8.0, 0.018315639, 2, 0.5, 0.018315639, true),
      ("c", 6.0, 0.049787068, 3, 0.5, 0.033191379, true),
      ("d", 0.0, 1.0, 4, 0.5, 0.5, false)), got)
  }

  test("siegelTukey: dispersed group takes the outside ranks, z " +
      "negative; all-tied degenerates to zero variance") {
    import graft.ops.Stats
    val df = Seq((0.0, true), (10.0, true), (4.0, false), (5.0, false))
      .toDF("v", "c1")
    val got = Stats.siegelTukey(df, F.col("v"), F.col("c1"))
      .as[(Long, Long, Double, Double, Option[Double])].head()
    // ST ranks (1,4,3,2); W1 = 1+2 = 3, E = 5, Var = 5/3
    assert(got == ((2L, 2L, 3.0, 5.0, Some(-1.549193))), got)
    val tied = Seq((1.0, true), (1.0, true), (1.0, false), (1.0, false))
      .toDF("v", "c1")
    val t = Stats.siegelTukey(tied, F.col("v"), F.col("c1"))
      .as[(Long, Long, Double, Double, Option[Double])].head()
    assert(t == ((2L, 2L, 5.0, 5.0, None)), t)
  }

  test("anovaEffectSizes: hand two-group case eta2 27/35, omega2 " +
      "25/37, F 13.5") {
    import graft.ops.Stats
    val df = Seq((1.0, "A"), (2.0, "A"), (3.0, "A"), (4.0, "B"),
      (5.0, "B"), (6.0, "B")).toDF("v", "g")
    val got = Stats.anovaEffectSizes(df, F.col("v"), F.col("g"))
      .as[(Long, Long, Double, Double, Double)].head()
    // SSB = 13.5, SSW = 4, MSW = 1
    assert(got == ((6L, 2L, 0.771429, 0.675676, 13.5)), got)
  }

  test("tukeyHsdQ: hand two-group q = 3/sqrt(1/3)") {
    import graft.ops.Stats
    val df = Seq((1.0, "A"), (2.0, "A"), (3.0, "A"), (4.0, "B"),
      (5.0, "B"), (6.0, "B")).toDF("v", "g")
    val got = Stats.tukeyHsdQ(df, F.col("v"), F.col("g"))
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", "B", 3L, 3L, -3.0, 5.196152)), got)
  }

  test("theilDecomp: internally-equal groups put ALL inequality " +
      "between; shares and terms hand-checked") {
    import graft.ops.Stats
    val df = Seq((1.0, "A"), (1.0, "A"), (3.0, "B"), (3.0, "B"))
      .toDF("v", "g")
    val got = Stats.theilDecomp(df, F.col("v"), F.col("g"))
      .as[(String, Long, Double, Double, Double, Double, Double,
        Double, Double)].collect().toSeq
    // T_g = 0 both; between = 0.25 ln(1/2) + 0.75 ln(3/2) = 0.130812
    assert(got == Seq(
      ("A", 2L, 1.0, 0.25, 0.0, -0.173287, 0.0, 0.130812, 0.130812),
      ("B", 2L, 3.0, 0.75, 0.0, 0.304099, 0.0, 0.130812, 0.130812)),
      got)
  }

  test("pettittTest: clean mid-series break located at t=3 with K=9; " +
      "constant series is flat") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 10.0),
      (5L, 11.0), (6L, 12.0)).toDF("t", "v")
    val got = Stats.pettittTest(df, "t", "v")
      .as[(Long, Long, Long, Long, Double)].head()
    // U = (-5,-8,-9,-8,-5): K=9 at t=3; p = 2 exp(-486/252)
    assert(got == ((6L, 9L, 3L, -9L, 0.290711)), got)
    val const = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("t", "v")
    val c = Stats.pettittTest(const, "t", "v")
      .as[(Long, Long, Long, Long, Double)].head()
    // all-midrank series: U identically 0, the approximation's
    // degenerate p = 2*exp(0) (out of [0,1] by construction)
    assert(c == ((3L, 0L, 1L, 0L, 2.0)), c)
  }

  test("buishandRange: hand ramp r = 3*sqrt(3)/sqrt(18)") {
    import graft.ops.Stats
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "v")
    val got = Stats.buishandRange(df, "t", "v")
      .as[(Long, Double, Double)].head()
    // e = (-3,0,3), sp = (-3,-3,0): range 3, se2 = 18
    assert(got == ((3L, 1.224745, 0.707107)), got)
  }

  test("snht: two-level step maxes T=4 exactly at the break k=2") {
    import graft.ops.Stats
    val df = Seq((1L, 0.0), (2L, 0.0), (3L, 2.0), (4L, 2.0))
      .toDF("t", "v")
    val got = Stats.snht(df, "t", "v")
      .as[(Long, Double, Long)].head()
    // e = (-4,-4,4,4), se2 = 64, sp = (-4,-8,-4): T = (4/3, 4, 4/3)
    assert(got == ((4L, 4.0, 2L)), got)
  }

  test("linCcc: identity agreement 1; scale-biased perfect line drops " +
      "to 4/11") {
    import graft.ops.Stats
    val id = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    val i = Stats.linCcc(id, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(i == ((3L, 2.0, 2.0, 1.0, 1.0, 1.0)), i)
    // y = 2x: r = 1 but ccc = 2*(4/3)/(2/3 + 8/3 + 4) = 8/22
    val biased = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y")
    val b = Stats.linCcc(biased, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(b == ((3L, 2.0, 4.0, 1.0, 0.363636, 0.363636)), b)
  }

  test("blandAltman: hand diffs 1,3,5 — bias 3, sd 2, limits -0.92/6.92, " +
      "all within") {
    import graft.ops.Stats
    val df = Seq((2.0, 1.0), (4.0, 1.0), (6.0, 1.0)).toDF("x", "y")
    val got = Stats.blandAltman(df, F.col("x"), F.col("y"))
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((3L, 3.0, 2.0, -0.92, 6.92, 1.0)), got)
  }

  test("relativeRisk: 2/4 vs 1/4 hand RR 2 with unit-SE Wald interval") {
    import graft.ops.Stats
    // exposed: 2 events, 2 non; unexposed: 1 event, 3 non
    val df = Seq((true, true), (true, true), (true, false), (true, false),
      (false, true), (false, false), (false, false), (false, false))
      .toDF("e", "o")
    val got = Stats.relativeRisk(df, F.col("e"), F.col("o"))
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    // se = sqrt(1/2 - 1/4 + 1/1 - 1/4) = 1
    assert(got == ((2L, 2L, 1L, 3L, 2.0, 0.281717, 14.198654)), got)
  }

  test("simplifiedSilhouette: hand 2-centroid geometry — on-centroid " +
      "points score 1, midfield points 2/3") {
    import graft.ops.Similarity
    val cents = Array(Array(0.0, 0.0), Array(4.0, 0.0))
    val pts = Seq(Array(1.0, 0.0), Array(3.0, 0.0), Array(0.0, 0.0),
      Array(4.0, 0.0)).toDF("embedding")
    val got = Similarity.simplifiedSilhouette(pts, "embedding", cents)
      .as[(Long, Long, Double, Double)].collect().toSeq
    // cell0: {(1,0) s=2/3, (0,0) s=1}; cell1 mirrors; overall mean same
    assert(got == Seq((0L, 2L, 0.833333, 0.833333),
      (1L, 2L, 0.833333, 0.833333)), got)
  }

  test("daviesBouldin: hand 2-cell geometry — S=0.5 each, M=4, DB=0.25") {
    import graft.ops.Similarity
    val cents = Array(Array(0.0, 0.0), Array(4.0, 0.0))
    val pts = Seq(Array(1.0, 0.0), Array(3.0, 0.0), Array(0.0, 0.0),
      Array(4.0, 0.0)).toDF("embedding")
    val got = Similarity.daviesBouldin(pts, "embedding", cents)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 0.5, 0.25, 0.25),
      (1L, 2L, 0.5, 0.25, 0.25)), got)
  }

  test("xieBeni: hand inertia 2 over 4 points * min-sep 16 = 0.03125") {
    import graft.ops.Similarity
    val cents = Array(Array(0.0, 0.0), Array(4.0, 0.0))
    val pts = Seq(Array(1.0, 0.0), Array(3.0, 0.0), Array(0.0, 0.0),
      Array(4.0, 0.0)).toDF("embedding")
    val got = Similarity.xieBeni(pts, "embedding", cents)
      .as[(Long, Double, Double, Double)].head()
    assert(got == ((4L, 2.0, 16.0, 0.03125)), got)
  }

  test("gearyC: triangle with 1,2,3 gives C=1; path gives 1/2") {
    import graft.ops.Graph
    val attrs = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("n", "x")
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val t = Graph.gearyC(tri, "src", "dst", attrs, "n", F.col("x"),
      scale = 1L).as[(Long, Long, Double, Double)].head()
    // ss = 1+4+1 = 6, den = 2: C = 2·6/(2·3·2) = 1
    assert(t == ((3L, 3L, 1.0, 1.0)), t)
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val p = Graph.gearyC(path, "src", "dst", attrs, "n", F.col("x"),
      scale = 1L).as[(Long, Long, Double, Double)].head()
    // ss = 1+1 = 2: C = 2·2/(2·2·2) = 1/2
    assert(p == ((3L, 2L, 0.5, 1.0)), p)
  }

  test("labelPropagation: two bridged triangles split into min-label " +
      "communities; bridge endpoints stay with their own triangle") {
    import graft.ops.Graph
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(e, "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toSeq
    // hand trace (self-vote, min tie-break): r1 collapses {1,2,3}→1,
    // 4→3, {5,6}→4; r2 pulls 4 back to its triangle's majority 4;
    // r3 stable: {1,2,3}=1, {4,5,6}=4
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 4L), (6L, 4L)), got)
  }

  test("labelPropagation: star graph collapses to the hub's min label " +
      "and a 2-node path is stable under the self-vote") {
    import graft.ops.Graph
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("src", "dst")
    val s = Graph.labelPropagation(star, "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toSeq
    assert(s == Seq((10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L)), s)
    // 2-node path: r1 both see {self, other} tied → min label 1 for
    // both; the self-vote keeps it there (no 2-cycle oscillation)
    val path = Seq((1L, 2L)).toDF("src", "dst")
    val p = Graph.labelPropagation(path, "src", "dst", rounds = 5)
      .as[(Long, Long)].collect().toSeq
    assert(p == Seq((1L, 1L), (2L, 1L)), p)
  }

  test("snapshotDrift: hand 2-bin PSI 0.415888, planted add/remove " +
      "columns and null-rate delta") {
    import graft.ops.Quality
    val a = Seq((0.0, "p"), (0.0, "q"), (1.0, "r"), (1.0, "s"))
      .toDF("x", "y")
    val b = Seq((Some(1.0), 7), (Some(1.0), 7), (Some(1.0), 7),
      (Option.empty[Double], 7)).toDF("x", "z")
    val got = Quality.snapshotDrift(a, b, Seq("x"), bins = 2)
      .as[(String, String, Option[String], Option[String], Option[Long],
        Option[Long], Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    // pa=(3/6, 3/6), pb=(1/5, 4/5): psi = .3·ln2.5 − .3·ln0.625
    assert(got == Seq(
      ("x", "both", Some("double"), Some("double"), Some(4L), Some(4L),
        Some(0.0), Some(0.25), Some(0.25), Some(0.415888)),
      ("y", "removed", Some("string"), None, None, None, None, None,
        None, None),
      ("z", "added", None, Some("int"), None, None, None, None,
        None, None)), got)
  }

  test("snapshotDrift: identical snapshots read zero drift; " +
      "constant column (w=0) reads PSI 0") {
    import graft.ops.Quality
    val a = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "k")
    val got = Quality.snapshotDrift(a, a, Seq("x", "k"))
      .select("column", "psi", "null_share_delta")
      .as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("k", 0.0, 0.0), ("x", 0.0, 0.0)), got)
  }

  test("expectationCensus: NULL predicate counts as violation, pass " +
      "compares the rounded share, empty table passes vacuously") {
    import graft.ops.Quality
    val df = Seq((Some(1.0), "a"), (Some(-2.0), "b"),
      (Option.empty[Double], "c"), (Some(3.0), "d")).toDF("x", "s")
    val got = Quality.expectationCensus(df, Seq(
        ("x_positive", F.col("x") > 0.0, 0.5),
        ("s_domain", F.col("s").isin("a", "b", "c", "d"), 0.0)))
      .as[(String, Long, Long, Double, Double, Boolean)].collect().toSeq
    // x_positive: -2 fails, NULL fails → 2/4 = 0.5 <= 0.5 → pass
    assert(got == Seq(("s_domain", 4L, 0L, 0.0, 0.0, true),
      ("x_positive", 4L, 2L, 0.5, 0.5, true)), got)
    val strict = Quality.expectationCensus(df,
        Seq(("x_positive", F.col("x") > 0.0, 0.4)))
      .select("pass").as[Boolean].head()
    assert(!strict)
    val empty = Quality.expectationCensus(df.filter(F.lit(false)),
        Seq(("x_positive", F.col("x") > 0.0, 0.0)))
      .as[(String, Long, Long, Option[Double], Double, Boolean)].head()
    assert(empty == (("x_positive", 0L, 0L, None, 0.0, true)), empty)
  }

  test("dpNoisyCounts: noise replays exactly from md5(seed|key) via the " +
      "inverse Laplace CDF; negative noisy counts are not clamped; " +
      "epsilon guard is loud") {
    import graft.ops.Curation
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1)).toDF("g", "v")
    val got = Curation.dpNoisyCounts(df, Seq("g"), epsilon = 0.5)
      .as[(String, Long, Double)].collect().toSeq
    // replay the op's exact arithmetic: 24-bit md5 bucket -> u in (0,1)
    // -> Lap(1/eps) via -(1/eps)*sign(u-.5)*ln(1-2|u-.5|), 6-dp HALF_UP
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // r16: key components are md5'd individually before joining (the
    // separator/NULL collision fix), so the replay hashes the component
    def noisy(key: String, n: Long): Double = {
      val hex = md5hex(s"dp|${md5hex(key)}")
      val h24 = java.lang.Long.parseLong(hex.take(6), 16)
      val cdf = (h24.toDouble + 0.5) / 16777216.0 - 0.5
      val noise = -1.0 / 0.5 * math.signum(cdf) *
        math.log(1.0 - 2.0 * math.abs(cdf))
      BigDecimal(n.toDouble + noise)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got == Seq(("a", 3L, noisy("a", 3L)), ("b", 1L, noisy("b", 1L))),
      got)
    // tiny epsilon -> scale 1000: noise dwarfs the count, and whichever
    // side the hash lands on must survive unclamped (clamping would bias
    // downstream sums); replay pins the sign too
    val wide = Curation.dpNoisyCounts(df, Seq("g"), epsilon = 0.001)
      .as[(String, Long, Double)].collect().toSeq
    def noisyEps(key: String, n: Long, eps: Double): Double = {
      val hex = md5hex(s"dp|${md5hex(key)}")
      val h24 = java.lang.Long.parseLong(hex.take(6), 16)
      val cdf = (h24.toDouble + 0.5) / 16777216.0 - 0.5
      val noise = -1.0 / eps * math.signum(cdf) *
        math.log(1.0 - 2.0 * math.abs(cdf))
      BigDecimal(n.toDouble + noise)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(wide == Seq(("a", 3L, noisyEps("a", 3L, 0.001)),
      ("b", 1L, noisyEps("b", 1L, 0.001))), wide)
    assert(wide.exists(_._3 < 0.0), s"expected an unclamped negative: $wide")
    val e = intercept[IllegalArgumentException](
      Curation.dpNoisyCounts(df, Seq("g"), epsilon = 0.0))
    assert(e.getMessage.contains("epsilon"))
    val k = intercept[IllegalArgumentException](
      Curation.dpNoisyCounts(df, Seq.empty, epsilon = 1.0))
    assert(k.getMessage.contains("key column"))
  }

  test("neighborhoodFunction: iterated register merges equal " +
      "hllDistinct of the hand-enumerated balls; totals monotone in h") {
    import graft.ops.{Graph, Sketches}
    // undirected path 1-2-3: balls are {1},{2},{3} at h=0;
    // {1,2},{1,2,3},{2,3} at h=1; all {1,2,3} at h=2
    val und = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sym = und.unionByName(
      und.select(F.col("dst").as("src"), F.col("src").as("dst")))
    val got = Graph.neighborhoodFunction(sym, "src", "dst", hops = 2,
        p = 4)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    // independent path to the same numbers: sketch each hand-enumerated
    // ball with hllDistinct (same md5 register math) and roll up the
    // same way — the iterated merge must agree EXACTLY
    def nf(balls: Seq[(Long, Long)]): Long =
      Sketches.hllDistinct(balls.toDF("node", "mem"), Seq("node"),
          F.col("mem"), p = 4)
        .select(F.round(F.col("n_est") * 1000.0, 0).cast("long"))
        .as[Long].collect().sum
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val b0 = Seq(1L -> 1L, 2L -> 2L, 3L -> 3L)
    val b1 = Seq(1L -> 1L, 1L -> 2L, 2L -> 1L, 2L -> 2L, 2L -> 3L,
      3L -> 2L, 3L -> 3L)
    val b2 = b1 ++ Seq(1L -> 3L, 3L -> 1L)
    val (n0, n1, n2) = (nf(b0), nf(b1), nf(b2))
    assert(got == Seq(
      (0, 3L, n0, r6(n0.toDouble / 1000.0 / 3.0),
        r6(n0.toDouble / n2.toDouble)),
      (1, 3L, n1, r6(n1.toDouble / 1000.0 / 3.0),
        r6(n1.toDouble / n2.toDouble)),
      (2, 3L, n2, r6(n2.toDouble / 1000.0 / 3.0), 1.0)), got)
    assert(n0 < n1 && n1 < n2, "ball mass must grow along the path")
    val e = intercept[IllegalArgumentException](
      Graph.neighborhoodFunction(sym, "src", "dst", hops = 0))
    assert(e.getMessage.contains("hops"))
  }

  test("isotonicCalibration: hand PAV pooling (1,0,1 -> .5,.5,1), " +
      "out-of-range scores clamp to edge bins, guard is loud") {
    import graft.ops.Stats
    // bins 0/1/2 of 3 carry rates 1, 0, 1 (2 docs each) — PAV pools the
    // violating first two bins to 1/2 and leaves the last at 1
    val df = Seq((0.1, true), (0.1, true), (0.4, false), (0.4, false),
      (0.9, true), (0.9, true)).toDF("s", "y")
    val got = Stats.isotonicCalibration(df, F.col("s"), F.col("y"),
        nBins = 3)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 1.0, 0.5), (1L, 2L, 0.0, 0.5),
      (2L, 2L, 1.0, 1.0)), got)
    assert(got.map(_._4) == got.map(_._4).sorted, "must be monotone")
    val clamped = Stats.isotonicCalibration(
        Seq((-0.5, false), (1.7, true)).toDF("s", "y"),
        F.col("s"), F.col("y"), nBins = 4)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(clamped == Seq((0L, 1L, 0.0, 0.0), (3L, 1L, 1.0, 1.0)),
      clamped)
    val e = intercept[IllegalArgumentException](
      Stats.isotonicCalibration(df, F.col("s"), F.col("y"), nBins = 1))
    assert(e.getMessage.contains("nBins"))
  }

  test("landmarkDistances: exact hop-limited BFS from md5-chosen " +
      "landmarks, integer harmonic milli-units, unreached nodes visible") {
    import graft.ops.Graph
    // path 1-2-3-4 plus a disconnected pair 10-11
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val sym = und.unionByName(
      und.select(F.col("dst").as("src"), F.col("src").as("dst")))
    val got = Graph.landmarkDistances(sym, "src", "dst", nLandmarks = 2,
        hops = 3)
      .as[(Long, Long, Option[Int], Option[Long], Long)].collect().toSeq
    // replay: same md5 landmark pick, scala BFS to radius 3
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L)
    val lms = nodes.sortBy(n => (md5hex(n.toString), n)).take(2)
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L), 10L -> Seq(11L), 11L -> Seq(10L))
    def bfs(src: Long): Map[Long, Int] = {
      var dist = Map(src -> 0)
      var frontier = Seq(src)
      (1 to 3).foreach { d =>
        val next = frontier.flatMap(adj).distinct
          .filterNot(dist.contains)
        dist ++= next.map(_ -> d)
        frontier = next
      }
      dist
    }
    val dists = lms.map(bfs)
    val expected = nodes.sorted.map { n =>
      val ds = dists.flatMap(_.get(n))
      if (ds.isEmpty) (n, 0L, Option.empty[Int], Option.empty[Long], 0L)
      else (n, ds.size.toLong, Some(ds.min), Some(ds.map(_.toLong).sum),
        ds.filter(_ > 0).map(d => math.round(1000.0 / d)).sum)
    }
    assert(got == expected, s"landmarks were $lms; got $got")
    // the disconnected pair cannot both be landmark-reached unless a
    // landmark fell in it — either way SOME node reports its true state
    assert(got.map(_._1) == nodes.sorted, "every node must be visible")
  }

  test("dpNoisyMean: clamping bounds the sum, the eps/2 noise replays " +
      "from per-query md5 buckets, and dp_mean divides unrounded") {
    import graft.ops.Curation
    // values 1, 5, 100 clamped to [0, 10] -> sum 1+5+10 = 16, n = 3
    val df = Seq(("a", 1L), ("a", 5L), ("a", 100L)).toDF("g", "v")
    val got = Curation.dpNoisyMean(df, Seq("g"), "v", lo = 0L, hi = 10L,
        epsilon = 1.0)
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def lap(key: String, eps: Double): Double = {
      val hex = md5hex(key)
      val h24 = java.lang.Long.parseLong(hex.take(6), 16)
      val cdf = (h24.toDouble + 0.5) / 16777216.0 - 0.5
      -1.0 / eps * math.signum(cdf) * math.log(1.0 - 2.0 * math.abs(cdf))
    }
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ns = 16.0 + 10.0 * lap(s"dp|${md5hex("a")}|sum", 0.5)
    val nn = 3.0 + lap(s"dp|${md5hex("a")}|cnt", 0.5)
    assert(got == Seq(("a", 3L, 16L, r6(16.0 / 3.0), r6(ns), r6(nn),
      r6(ns / nn))), got)
    val e = intercept[IllegalArgumentException](
      Curation.dpNoisyMean(df, Seq("g"), "v", lo = 5L, hi = 5L,
        epsilon = 1.0))
    assert(e.getMessage.contains("lo < hi"))
  }

  test("compressionCensus: the DeflateLen expression replays the JDK " +
      "Deflater byte-for-byte, repetition flags fire, entropy separates") {
    import graft.ops.TextOps
    // in-test replay of the pinned codec (level 6, nowrap) — the
    // expression must produce exactly this length
    def jdkDeflateLen(s: String): Long = {
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    val rep = ("spam ham " * 400).trim              // 3599 B of a 9-B cycle
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(2000)((33 + rnd.nextInt(94)).toChar).mkString
    val df = Seq(("rep", rep), ("noise", noise)).toDF("g", "t")
    val got = TextOps.compressionCensus(df, Seq("g"), "t", hi = 0.8)
      .select("g", "n_docs", "total_bytes", "comp_bytes", "n_repetitive",
        "n_incompressible")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("noise", 1L, 2000L, jdkDeflateLen(noise), 0L, 1L),
      ("rep", 1L, 3599L, jdkDeflateLen(rep), 1L, 0L)), got)
    assert(jdkDeflateLen(rep) < 3599L / 10, "LZ77 must crush the cycle")
    assert(jdkDeflateLen(noise) > 1600L, "94-symbol noise must stay big")
    // SQL surface: the registered deflate_len matches the kernel
    val viaSql = spark.sql(s"SELECT deflate_len('${rep.take(99)}') AS c")
      .as[Int].head()
    assert(viaSql.toLong == jdkDeflateLen(rep.take(99)), viaSql)
  }

  test("compressionCensus: surrogate codec hook pins the census math — " +
      "flags, empty exemption, macro ratio, shares; guards are loud") {
    import graft.ops.TextOps
    val sur = Seq(("a", "xx yy"), ("a", "zzzz"), ("a", "")).toDF("g", "t")
    val comp = F.octet_length(F.regexp_replace(F.col("t"), " ", ""))
      .cast("long")
    val got = TextOps.compressionCensus(sur, Seq("g"), "t",
        lo = 0.9, hi = 0.95, compLen = Some(comp))
      .as[(String, Long, Long, Long, Long, Double, Long, Double, Long,
        Double)].collect().toSeq
    // "xx yy": 4/5 = 0.8 < 0.9 -> repetitive; "zzzz": 4/4 = 1 > 0.95 ->
    // incompressible; "": empty, exempt from both; ratio = 8/9;
    // shares over the 2 flaggable docs
    assert(got == Seq(("a", 3L, 1L, 9L, 8L, 0.888889, 1L, 0.5, 1L, 0.5)),
      got)
    val e = intercept[IllegalArgumentException](
      TextOps.compressionCensus(sur, Seq("g"), "t", lo = 0.9, hi = 0.5))
    assert(e.getMessage.contains("lo < hi"))
    val g = intercept[IllegalArgumentException](
      TextOps.compressionCensus(sur, Seq.empty, "t"))
    assert(g.getMessage.contains("group columns"))
  }

  test("knnShapley: hand-replayed 1-NN recurrence on a 3-point line; " +
      "the values satisfy the efficiency identity") {
    // corpus 1(A, 0.0), 2(A, 1.0), 3(B, 2.0); test 10(A, 0.1):
    // ranks 1, 2, 3; N = 3, K = 1
    //   c3 = ind3/3 = 0;  c2 = (1-0)·1/2 = .5;  c1 = (1-1)·1/1 = 0
    //   s3 = 0, s2 = .5, s1 = .5 — and s1+s2+s3 = 1 = the 1-NN utility
    val corpus = Seq((1L, Seq(0.0), "A"), (2L, Seq(1.0), "A"),
      (3L, Seq(2.0), "B")).toDF("id", "v", "lab")
    val queries = Seq((10L, Seq(0.1), "A")).toDF("id", "v", "lab")
    val got = Similarity.knnShapley(corpus, queries, "id", "v", "lab",
        k = 1, topN = 10)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(got == Seq((1L, "A", 1L, 0.5), (2L, "A", 1L, 0.5),
      (3L, "B", 1L, 0.0)), got)
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-9)
    val e = intercept[IllegalArgumentException](
      Similarity.knnShapley(corpus, queries, "id", "v", "lab", k = 0))
    assert(e.getMessage.contains("k must be"))
  }

  test("dpQuantileExp: true grid quantile by hand; the Gumbel-max " +
      "winner replays from the same md5 draws; guards are loud") {
    import graft.ops.Curation
    val df = (1L to 100L).toDF("v")
    val got = Curation.dpQuantileExp(df, "v", Seq(0.5), lo = 0L,
        hi = 100L, grid = 10L, epsilon = 1.0)
      .as[(Double, Long, Long, Long, Long, Long, Double)].head()
    // cell 0 holds v=1..9 (9 values), cells 1..8 hold 10 each, cell 9
    // holds 90..100 (11, the hi clamp): cum = 9,19,...,89,100; target
    // = ceil(.5·100) = 50 -> first cum >= 50 is cell 5, true_value 60
    assert(got._1 == 0.5 && got._2 == 100L && got._3 == 50L &&
      got._4 == 60L, got)
    // replay the mechanism: scores over the 10 cells from the same
    // md5 draws; cum = (c+1)·10
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cum = (0 until 10).map(c => if (c == 9) 100 else 10 * c + 9)
    val win = (0 until 10).map { c =>
      val u = (java.lang.Long.parseLong(
        md5hex(s"dpq|0|$c").take(6), 16).toDouble + 0.5) / 16777216.0
      val util = -math.abs(cum(c) - 50).toDouble
      (r9(0.5 * util - math.log(-math.log(u))), -c)
    }.zipWithIndex.maxBy(_._1)._2
    assert(got._5 == (win + 1L) * 10L, s"dp_value ${got._5} vs replay $win")
    val e = intercept[IllegalArgumentException](
      Curation.dpQuantileExp(df, "v", Seq(1.5), 0L, 100L, 10L, 1.0))
    assert(e.getMessage.contains("quantiles"))
    val e2 = intercept[IllegalArgumentException](
      Curation.dpQuantileExp(df, "v", Seq(0.5), 0L, 100L, 7L, 1.0))
    assert(e2.getMessage.contains("grid"))
  }

  test("ipsOffPolicy: hand IPS/SNIPS/ESS; zero propensity is loud") {
    import graft.ops.EventOps
    val logged = Seq(("a", 1.0, 0.5), ("a", 2.0, 0.25),
      ("b", 3.0, 0.5), ("b", 0.0, 0.5)).toDF("act", "r", "p")
    val got = EventOps.ipsOffPolicy(logged, "act", "r", F.col("p"),
        Seq("a", "b"))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // a: w = 2, 4 -> ips (2+8)/4 = 2.5, snips 10/6, ess 36/20
    // b: w = 2, 2 -> ips 6/4 = 1.5, snips 6/4, ess 16/8
    assert(got == Seq(("a", 4L, 2L, 1.5, 2.5, 1.666667, 1.8),
      ("b", 4L, 2L, 1.5, 1.5, 1.5, 2.0)), got)
    val bad = Seq(("a", 1.0, 0.0)).toDF("act", "r", "p")
    assert(loudMsg(EventOps.ipsOffPolicy(bad, "act", "r", F.col("p"),
      Seq("a")).collect()).contains("non-positive propensity"))
  }

  test("bcubed: the textbook split/chain example by hand") {
    import graft.ops.Stats
    // gold {1,2,3 | 4,5}, pred {1,2 | 3 | 4,5}: every pred cluster is
    // PURE (P = 1) but gold t1 is split across two (R < 1)
    val df = Seq((1, "c1", "t1"), (2, "c1", "t1"), (3, "c2", "t1"),
      (4, "c3", "t2"), (5, "c3", "t2")).toDF("id", "pred", "gold")
    val got = Stats.bcubed(df, F.col("pred"), F.col("gold"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // P = (4/2 + 1/1 + 4/2)/5 = 1; R = (4/3 + 1/3 + 4/2)/5 = .733333;
    // F1 = 2PR/(P+R) = 11/13 = .846154
    assert(got == ((5L, 3L, 2L, 1.0, 0.733333, 0.846154)), got)
  }

  test("sinkhorn: identical histograms have (near-)converged marginals " +
      "and cost below a 2-cell shift; guards are loud") {
    import graft.ops.Stats
    val vals = (0L until 100L).map(i => i % 10L)
    val same = (vals.map(v => (v * 10L, "a")) ++
      vals.map(v => (v * 10L, "b"))).toDF("v", "tag")
    val gotSame = Stats.sinkhorn(same, "v", F.col("tag") === "a",
        F.col("tag") === "b", lo = 0L, hi = 100L, grid = 10L)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(gotSame._1 == 100L && gotSame._2 == 100L &&
      gotSame._3 == 10L && gotSame._4 == 12L, gotSame)
    assert(gotSame._6 < 0.01 && gotSame._7 < 0.01,
      s"marginals not converged: $gotSame")
    val shifted = (vals.map(v => (v * 10L, "a")) ++
      vals.map(v => (math.min(v * 10L + 20L, 99L), "b"))).toDF("v", "tag")
    val gotShift = Stats.sinkhorn(shifted, "v", F.col("tag") === "a",
        F.col("tag") === "b", lo = 0L, hi = 100L, grid = 10L)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(gotShift._5 > gotSame._5 + 0.5,
      s"shift ${gotShift._5} vs same ${gotSame._5}")
    val e = intercept[IllegalArgumentException](
      Stats.sinkhorn(same, "v", F.lit(true), F.lit(true), 0L, 100L, 1L))
    assert(e.getMessage.contains("cells"))
  }

  test("alignmentUniformity: a collapsed space reads align 0 / uniform " +
      "0; separated labels read align 0 with negative uniformity") {
    val collapsed = (1L to 8L).map(i => (i, Seq(1.0, 0.0), i % 2))
      .toDF("id", "v", "lab")
    val g1 = Similarity.alignmentUniformity(collapsed, "id", "v", "lab")
      .as[(Long, Long, Double, Double)].head()
    assert(g1 == ((6L, 4L, 0.0, 0.0)), g1)
    // two orthogonal label clusters: positives coincide (align 0),
    // random pairs sometimes cross clusters -> uniformity < 0
    val split = (1L to 8L).map(i =>
      (i, if (i % 2 == 0) Seq(1.0, 0.0) else Seq(0.0, 1.0), i % 2))
      .toDF("id", "v", "lab")
    val g2 = Similarity.alignmentUniformity(split, "id", "v", "lab")
      .as[(Long, Long, Double, Double)].head()
    assert(g2._3 == 0.0 && g2._4 < 0.0, g2)
  }

  test("pageHinkley: hand-replayed level drop; the alarm fires when " +
      "PH exceeds lambda, not at the boundary") {
    import graft.ops.EventOps
    val ev = Seq(
      ("2026-01-01", 10), ("2026-01-02", 10), ("2026-01-03", 10),
      ("2026-01-04", 2), ("2026-01-05", 2)
    ).flatMap { case (d, n) => (1 to n).map(i => (f"$d $i%02d:00:00", i.toLong)) }
      .toDF("tss", "event_id")
      .select(F.to_timestamp(F.col("tss")).as("ts"), F.col("event_id"))
    val got = EventOps.pageHinkley(ev, delta = 0.0, lambda = 6.0)
      .as[(java.sql.Date, Long, Double, Double, Double, Boolean)]
      .collect().toSeq.map(r => (r._1.toString, r._2, r._4, r._5, r._6))
    // means 10,10,10,8,6.8; terms 0,0,0,-6,-4.8; mt 0,0,0,-6,-10.8;
    // ph 0,0,0,6,10.8 -> alarm only on day 5 (6 is NOT > lambda)
    assert(got == Seq(
      ("2026-01-01", 10L, 0.0, 0.0, false),
      ("2026-01-02", 10L, 0.0, 0.0, false),
      ("2026-01-03", 10L, 0.0, 0.0, false),
      ("2026-01-04", 2L, -6.0, 6.0, false),
      ("2026-01-05", 2L, -10.8, 10.8, true)), got)
  }

  test("fightinWords: prior-shrunk log-odds replays the formula; each " +
      "group's exclusive token ranks top") {
    import graft.ops.TextOps
    val df = Seq(("A", "x x y"), ("B", "y y z")).toDF("g", "text")
    val got = TextOps.fightinWords(df, "g", "text", alpha0 = 10.0,
        perGroup = 1)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    def fw(y: Long, tw: Long, ng: Long): (Double, Double) = {
      val (n, a0) = (6.0, 10.0); val aw = a0 * (tw / n)
      val (yg, yr, nr) = (y.toDouble, (tw - y).toDouble, n - ng)
      val d = math.log((yg + aw) / (ng + a0 - yg - aw)) -
        math.log((yr + aw) / (nr + a0 - yr - aw))
      val z = d / math.sqrt(1.0 / (yg + aw) + 1.0 / (yr + aw))
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(d), r6(z))
    }
    val (dx, zx) = fw(2L, 2L, 3L)
    val (dz, zz) = fw(1L, 1L, 3L)
    assert(got == Seq(("A", "x", 2L, dx, zx), ("B", "z", 1L, dz, zz)),
      s"$got vs x:($dx,$zx) z:($dz,$zz)")
  }

  test("stationaryDistribution: converges to the hand fixed point; " +
      "TV delta reads the residual") {
    import graft.ops.EventOps
    // user walks a a b a -> P(a) = {a:.5, b:.5}, P(b) = {a:1};
    // stationary (2/3, 1/3); from uniform the error halves per round
    val ev = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L),
      (4L, "a", 4L)).map { case (eid, et, m) =>
      (eid, java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00"),
        1L, et) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.stationaryDistribution(ev, iters = 10)
      .as[(String, Double, Boolean, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(math.abs(got("a")._2 - 2.0 / 3.0) < 1e-3 &&
      math.abs(got("b")._2 - 1.0 / 3.0) < 1e-3, got)
    assert(got("a")._3 && got("b")._3)
    assert(got("a")._4 < 1e-3, s"tv ${got("a")._4}") // residual shrank
    assert(math.abs(got("a")._2 + got("b")._2 - 1.0) < 1e-6)
  }

  test("mixingProfile: absorbing 2-state chain — one big step then " +
      "flat, distance-to-final hits 0 immediately") {
    import graft.ops.EventOps
    // a -> b -> b: P(a)={b:1}, P(b)={b:1}; from uniform (.5,.5) one
    // round lands the absorbing (0,1) and stays
    val ev = Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L))
      .map { case (eid, et, m) =>
        (eid, java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00"),
          1L, et) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.mixingProfile(ev, iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0)._2 == 0.5 && got(0)._3 == 0.0, got.toSeq)
    assert(got(1)._2 == 0.0 && got(2)._2 == 0.0, got.toSeq)
    assert(got.forall(_._3 == 0.0), got.toSeq)
  }

  test("mixingProfile: round-1 step matches stationaryDistribution's " +
      "arithmetic on the 2-state mixer") {
    import graft.ops.EventOps
    // the x7783 chain: P(a)={a:.5,b:.5}, P(b)={a:1}; pi0 uniform,
    // pi1 = (0.75, 0.25) -> tv_step(1) = 0.25; error halves per round
    val ev = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L),
      (4L, "a", 4L)).map { case (eid, et, m) =>
      (eid, java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00"),
        1L, et) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.mixingProfile(ev, iters = 8)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got.head._2 == 0.25, got)
    // monotone decay of the step delta, final distance reaches 0
    assert(got.sliding(2).forall(p => p(1)._2 <= p(0)._2), got)
    assert(got.last._3 == 0.0)
  }

  test("disorderCensus: hand stream — one late event, NULL quantiles " +
      "for the clean type") {
    import graft.ops.EventOps
    val rows = Seq(
      // user 1, type x: arrival order 1,2,3,4; ts 100,200,150,300 s
      (1L, 100L, "x"), (2L, 200L, "x"), (3L, 150L, "x"),
      (4L, 300L, "x"),
      // type y: in order
      (5L, 400L, "y"), (6L, 500L, "y"))
      .map { case (eid, sec, et) =>
        (eid, new java.sql.Timestamp(sec * 1000L), 1L, et) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.disorderCensus(rows)
      .collect().map(r => r.getString(0) -> r).toMap
    val x = got("x")
    assert(x.getLong(1) == 4L && x.getLong(2) == 1L)
    assert(x.getDouble(3) == 0.25)
    // lateness of event 3 = 200s - 150s = 50_000_000 us, all quantiles
    assert(x.getLong(4) == 50000000L && x.getLong(5) == 50000000L &&
      x.getLong(6) == 50000000L && x.getLong(7) == 50000000L)
    val y = got("y")
    assert(y.getLong(2) == 0L && y.isNullAt(4) && y.isNullAt(5) &&
      y.isNullAt(6) && y.isNullAt(7), y)
  }

  test("surprisalSpans: hand corpus — the rare token drags its window " +
      "up, short docs get one whole-doc window") {
    import graft.ops.TextOps
    val docs = Seq((1L, "a a a a b"), (2L, "a a a"), (3L, "a a"))
      .toDF("doc_id", "text")
    val got = TextOps.surprisalSpans(docs, "doc_id", "text", window = 3)
      .as[(Long, Long, Double, Int, Double)].collect()
      .map(r => r._1 -> r).toMap
    // corpus: a x9, b x1 → s(a) = -ln .9 = .105360516, s(b) = 2.302585093
    assert(got(1L) == ((1L, 5L, 0.544805, 2, 0.837769)), got(1L))
    assert(got(2L) == ((2L, 3L, 0.105361, 0, 0.105361)), got(2L))
    // doc 3 has 2 < window tokens: one whole-doc window at pos 0
    assert(got(3L) == ((3L, 2L, 0.105361, 0, 0.105361)), got(3L))
  }

  test("greedyCoverage: superset source wins round 1, exhausted gains " +
      "stop the rounds early; ties break on source name") {
    import graft.ops.Sampling
    val docs = Seq(("s1", "a b"), ("s2", "b c d"), ("s3", "a b c d e"))
      .toDF("source", "text")
    val got = Sampling.greedyCoverage(docs, "source", "text", k = 3,
        vocabSize = 16)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // s3 covers everything (mass 10); rounds stop — no residual gain
    assert(got == Seq((1L, "s3", 10L, 10L, 1.0)), got)
    val tie = Seq(("s1", "a"), ("s2", "a")).toDF("source", "text")
    val got2 = Sampling.greedyCoverage(tie, "source", "text", k = 2,
        vocabSize = 16)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got2 == Seq((1L, "s1", 2L, 2L, 1.0)), got2)
  }

  test("greedyCoverage: one pass over a parquet-backed corpus per call") {
    import graft.ops.Sampling
    val docs = parquetFrame(Seq(("s1", "a b"), ("s2", "b c d"),
      ("s3", "a b c d e"), ("s1", "e f")).toDF("source", "text"))
    val (got, log) = listened(Sampling.greedyCoverage(docs, "source", "text",
      k = 3, vocabSize = 16).as[(Long, String, Long, Long, Double)]
      .collect().toSeq)
    assert(got == Seq((1L, "s3", 11L, 11L, 0.916667),
      (2L, "s1", 1L, 12L, 1.0)), got)
    assert(log.scans.get == 1,
      s"documents scanned ${log.scans.get} times, expected once")
  }

  test("greedyCoverage: 2^20 presence cells pass, one more fails loudly") {
    import graft.ops.Sampling
    // 256 sources each holding all 4096 tokens: exactly 2^20 cells
    val full = spark.range(1L << 20).select(
      (F.col("id") / 4096).cast("long").cast("string").as("source"),
      F.concat(F.lit("t"), (F.col("id") % 4096).cast("string")).as("text"))
    val got = Sampling.greedyCoverage(full, "source", "text", k = 1,
        vocabSize = 4096)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, "0", 4096L * 256L, 4096L * 256L, 1.0)), got)
    val over = full.union(Seq(("extra", "t0")).toDF("source", "text"))
    val msg = loudMsg(Sampling.greedyCoverage(over, "source", "text", k = 1,
      vocabSize = 4096))
    assert(msg.contains("exceed the 2^20 driver-local cap"), msg)
  }

  test("fdAudit: violating and holding FDs censused with blast radius; " +
      "all-NULL rhs group is not a violation") {
    import graft.ops.Quality
    val df = Seq((1L, Some("x")), (1L, Some("x")), (2L, Some("x")),
      (2L, Some("y")), (3L, None)).toDF("k", "v")
    val got = Quality.fdAudit(df, Seq(Seq("k") -> "v"))
      .as[(String, String, Long, Long, Long, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("k", "v", 5L, 3L, 1L, 0.333333, 2L, 2L)), got)
  }

  test("pairTransitivity: triangle closes at 1.0, chain reads 0.0, " +
      "hub middles above the cap generate no wedges") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val gotTri = Dedup.pairTransitivity(tri)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(gotTri == ((3L, 0L, 3L, 3L, 1.0)), gotTri)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val gotChain = Dedup.pairTransitivity(chain)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(gotChain == ((2L, 0L, 1L, 0L, 0.0)), gotChain)
    val hub = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("a", "b")
    val gotHub = Dedup.pairTransitivity(hub, maxDegree = 2).collect().head
    assert(gotHub.getLong(0) == 3L && gotHub.getLong(1) == 1L &&
      gotHub.getLong(2) == 0L && gotHub.isNullAt(4), gotHub)
  }

  test("inclusionAudit: partial inclusion measured, full inclusion " +
      "marks the FK candidate, NULLs ignored") {
    import graft.ops.Quality
    val a = Seq(Some(1L), Some(2L), Some(3L), None).toDF("k")
    val b = Seq(2L, 3L, 4L).toDF("k2")
    val got = Quality.inclusionAudit(a, "k", b, "k2")
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().head
    assert(got == (("k", "k2", 3L, 3L, 2L, 0.666667, false)), got)
    val full = Quality.inclusionAudit(b, "k2", a, "k")
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().head
    assert(!full._7 && full._5 == 2L) // 4 missing from a
    val fk = Quality.inclusionAudit(
        Seq(2L, 3L).toDF("x"), "x", a, "k")
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().head
    assert(fk._6 == 1.0 && fk._7, fk)
  }

  test("filterBiasAudit: four-fifths flags the disparately filtered " +
      "groups; all-dropped corpus reads NULL ratios, not fake zeros") {
    import graft.ops.Curation
    val df = (Seq.fill(2)(("g1", 500)) ++ Seq.fill(2)(("g1", 100)) ++
      Seq.fill(4)(("g2", 500)) ++ Seq.fill(2)(("g3", 100)))
      .toDF("src", "len")
    val got = Curation.filterBiasAudit(df, "src",
        F.col("len") >= 400)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("g1").getDouble(3) == 0.5 &&
      got("g1").getDouble(5) == 0.5 && got("g1").getBoolean(6))
    assert(got("g2").getDouble(5) == 1.0 && !got("g2").getBoolean(6))
    assert(got("g3").getDouble(3) == 0.0 && got("g3").getBoolean(6))
    // corpus rate 6/10 = 0.6
    assert(got("g1").getDouble(4) == 0.833333 &&
      got("g2").getDouble(4) == 1.666667, got("g2"))
    val none = Curation.filterBiasAudit(df, "src", F.lit(false))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(none("g1").isNullAt(4) && none("g1").isNullAt(5) &&
      none("g1").isNullAt(6), none("g1"))
  }

  test("lshBandingPlan: q replays the squaring chains; more bands = " +
      "catchier at every similarity") {
    val sims = Seq(0.25, 0.75).toDF("sim")
    val got = Dedup.lshBandingPlan(sims, "sim", nComponents = 16,
        threshold = 0.5)
      .as[(Int, Int, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    def chain(x: Double, e: Int): Double = {
      var v = x; var i = e; while (i > 1) { v = v * v; i /= 2 }; v }
    def q(s: Double, b: Int, r: Int): Double =
      1.0 - chain(1.0 - chain(s, r), b)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((b, r) <- Seq((1, 16), (4, 4), (16, 1))) {
      val row = got((b, r))
      assert(row._3 == 2L && row._4 == 0.5, row)
      assert(row._5 == r6(q(0.5, b, r)), s"q_at_t $row")
      assert(row._6 == r6(r9(q(0.25, b, r))), s"fp $row")
      assert(row._7 == r6(r9(1.0 - q(0.75, b, r))), s"fn $row")
    }
    // more, shorter bands catch more at every s
    assert(got((16, 1))._5 > got((1, 16))._5)
  }

  test("lshBandingPlan: non-power-of-2 nComponents rejected up front " +
      "with a clear message") {
    val sims = Seq(0.5).toDF("sim")
    val e = intercept[IllegalArgumentException](
      Dedup.lshBandingPlan(sims, "sim", nComponents = 12, threshold = 0.5))
    assert(e.getMessage.contains("power of 2"), e.getMessage)
  }

  test("markChosenBanding: planted 0.45/0.9 similarity distribution — " +
      "the chosen split beats fixed 16/4 on expected false candidates") {
    // background mass just below threshold, dup mass at 0.9: the fixed
    // 16/4 split (banding threshold (1/16)^(1/4) ~ 0.5) catches ~half the
    // background as candidates, while 8x8 keeps recall >= 0.9 at a ~40x
    // lower false-candidate rate — the planner must pick it.
    val sims = (Seq.fill(200)(0.45) ++ Seq.fill(20)(0.9)).toDF("sim")
    val got = Dedup.markChosenBanding(
        Dedup.lshBandingPlan(sims, "sim", nComponents = 64,
          threshold = 0.7), recallFloor = 0.9)
      .select("bands", "rows_per_band", "exp_fp_rate", "exp_fn_rate",
        "eligible", "chosen")
      .as[(Int, Int, Double, Double, Boolean, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val chosen = got.values.filter(_._6).toSeq
    assert(chosen.map(c => (c._1, c._2)) == Seq((8, 8)), chosen)
    // 16/4 meets the recall floor too, but pays ~40x the fp rate
    assert(got((16, 4))._5 && !got((16, 4))._6)
    assert(got((8, 8))._3 < got((16, 4))._3 / 10.0,
      s"fp ${got((8, 8))._3} vs ${got((16, 4))._3}")
    assert(got((8, 8))._4 <= 0.1, s"fn ${got((8, 8))._4}")
  }

  test("markChosenBanding: no-positive sample falls back to the " +
      "analytic q_at_t recall gate, never the worst-recall split") {
    // every sampled sim is background noise: measured fn is NULL for all
    // configs; treating that as zero recall-risk would let the fp
    // tie-break pick bands=1 (q(0.9) ~ 0.001 — misses everything). The
    // analytic gate keeps only splits that still catch at the threshold.
    val sims = Seq.fill(64)(0.05).toDF("sim")
    val got = Dedup.markChosenBanding(
        Dedup.lshBandingPlan(sims, "sim", nComponents = 64,
          threshold = 0.5), recallFloor = 0.9)
      .select("bands", "rows_per_band", "eligible", "chosen")
      .as[(Int, Int, Boolean, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(!got((1, 64))._3, "bands=1 must not be eligible")
    val chosen = got.values.filter(_._4).toSeq
    assert(chosen.map(c => (c._1, c._2)) == Seq((32, 2)), chosen)
  }

  test("minhashPairsAuto: planner-picked split finds every planted " +
      "near-dup pair and nothing else") {
    val base = Seq(
      "alpha beaver canyon delta ember falcon glacier harbor indigo juniper kestrel lagoon meadow nectar obsidian prairie quartz raven summit tundra",
      "umber velvet walnut xenon yarrow zephyr anchor bramble cinder dapple ermine fathom gossamer heather isthmus jasper knoll lichen marrow nimbus",
      "orchid pebble quiver rustle saffron thicket umbra vortex willow yonder zenith wisteria birch cedar dogwood elderberry fern ginkgo hazel ironwood",
      "jackal kudu lemur marmot narwhal ocelot pangolin quokka ribbon sable tapir urchin viper wombat yak zebu addax bongo caracal dikdik",
      "apricot basil chive dill endive fennel garlic horseradish iceberg jicama kale leek mustard nutmeg oregano parsley quince radish sorrel thyme")
    val dups = base.zipWithIndex.flatMap { case (t, i) =>
      Seq((i * 2L, t), (i * 2L + 1L, t + " zz")) // ~99% shingle overlap
    }
    val loners = Seq(
      (100L, "one two three four five six seven eight nine ten eleven twelve"),
      (101L, "red orange yellow green blue purple violet magenta cyan teal"),
      (102L, "north south east west up down left right forward backward"),
      (103L, "monday tuesday wednesday thursday friday saturday sunday"))
    val df = (dups ++ loners).toDF("doc_id", "text")
    val got = Dedup.minhashPairsAuto(df, "doc_id", "text",
        samplePairs = 8, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val planted = base.indices.map(i => (i * 2L, i * 2L + 1L)).toSet
    assert(got == planted, s"got $got")
  }

  test("weightedJaccard: exact Σmin/Σmax over capped token frequencies " +
      "— repetition lowers J_W where set Jaccard stays 1") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a a a b c d"), // same token SET, a has weight 3
      (3L, "a b c d"), // identical to 1
      (4L, "x " * 100 + "y")) // x tf 100 → capped at 8
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("a", "b")
    val got = Dedup.weightedJaccard(pairs, docs, "doc_id", "text",
        maxWeight = 8)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (1,2): min=1+1+1+1=4, max=3+1+1+1=6 → 2/3
    assert(got((1L, 2L)) == 0.666667, got)
    assert(got((1L, 3L)) == 1.0)
    // (2,4): disjoint tokens → 0
    assert(got((2L, 4L)) == 0.0)
  }

  test("weightedJaccard: maxWeight cap equates 100x and 8x repetition") {
    val docs = Seq((1L, "x " * 100 + "end"), (2L, "x " * 8 + "end"))
      .toDF("doc_id", "text")
    val got = Dedup.weightedJaccard(Seq((1L, 2L)).toDF("a", "b"), docs,
        "doc_id", "text", maxWeight = 8)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)), got.toSeq)
  }

  test("weightedMinhashPairs: finds the planted weighted near-dup, est " +
      "tracks exact J_W, identical docs read est 1.0") {
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, common),
      (2L, common), // identical → J_W = 1
      (3L, common + " " + (1 to 10).map(i => s"tok$i").mkString(" ")),
      // 3 repeats tok1..tok10: J_W = 40/50 = 0.8 vs doc 1
      (4L, (100 to 140).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.weightedMinhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 1.0, got)
    assert(got.contains(1L -> 3L) && got((1L, 3L)) >= 0.55 &&
      got((1L, 3L)) <= 0.95, got)
    assert(!got.keySet.exists(k => k._1 == 4L || k._2 == 4L), got)
  }

  test("weightedMinhashSignatures: md5 element hash + explicit seeds is " +
      "deterministic and kind-independent on planted structure") {
    val mdHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")
    val seeds = (0 until 16).map(j => (2L * j + 1, 7919L * j + 13))
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, common), (2L, common), (3L, "other things entirely"))
      .toDF("doc_id", "text")
    val sigs = Dedup.weightedMinhashSignatures(docs, "doc_id", "text",
        numHashes = 16, maxWeight = 8, elementHash = mdHash, seeds = seeds)
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(sigs(1L) == sigs(2L), "identical docs must share the signature")
    assert(sigs(1L) != sigs(3L))
    // and the md5-kind pair generator finds the planted pair, as the
    // xxhash64 production kind does (structural kind-parity)
    val got = Dedup.weightedMinhashPairs(docs, "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.5,
        elementHash = mdHash, seeds = seeds)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)), got.toSeq)
  }

  test("dpQuantileExp: auditColumns=false drops the non-private " +
      "true-value audit, keeps the release columns") {
    import graft.ops.Curation
    val df = (1L to 100L).toDF("v")
    val priv = Curation.dpQuantileExp(df, "v", Seq(0.5), lo = 0L,
      hi = 100L, grid = 10L, epsilon = 8.0, auditColumns = false)
    assert(priv.columns.toSeq ==
      Seq("q", "n", "target_rank", "dp_value", "epsilon_each"))
    val audit = Curation.dpQuantileExp(df, "v", Seq(0.5), lo = 0L,
      hi = 100L, grid = 10L, epsilon = 8.0)
    assert(priv.select("q", "n", "target_rank", "dp_value").collect().toSeq ==
      audit.select("q", "n", "target_rank", "dp_value").collect().toSeq)
  }

  test("tokenDispersion: a uniform token reads Fano < 1, a bursty one " +
      "concentrates its mass") {
    import graft.ops.TextOps
    val df = Seq((1L, "a a a a"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.tokenDispersion(df, "doc_id", "text", topK = 5)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    // a: df 2, total 5, x2 17 -> mean 2.5, var 2.25, fano 0.9
    // b: df 1, total 1 -> mean .5, var .25, fano .5
    assert(got == Seq(("a", 2L, 5L, 2.5, 2.5, 0.9),
      ("b", 1L, 1L, 0.5, 1.0, 0.5)), got)
  }

  test("hittingTime: a -> b -> purchase ladder reads exact 2/1/0 steps") {
    import graft.ops.EventOps
    val ev = Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "purchase", 3L))
      .map { case (eid, et, m) =>
        (eid, java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00"),
          1L, et) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.hittingTime(ev, "purchase", iters = 12)
      .as[(String, Double, Boolean, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("purchase") == (("purchase", 0.0, true, 12L)), got)
    assert(got("b") == (("b", 1.0, false, 12L)), got)
    assert(got("a") == (("a", 2.0, false, 12L)), got)
  }

  test("cemAtt: hand cells — unmatched treated pruned, controls " +
      "reweighted per cell, ATT exact") {
    import graft.ops.Stats
    // cell A: T{10}, C{4, 6}; cell B: T{8}, no control (pruned);
    // cell C: control only (dropped)
    val df = Seq(
      (true, 10.0, "A"), (false, 4.0, "A"), (false, 6.0, "A"),
      (true, 8.0, "B"), (false, 99.0, "C")
    ).toDF("t", "y", "cell")
    val got = Stats.cemAtt(df, F.col("t"), F.col("y"),
        Seq(F.col("cell")))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double,
        Double)].head()
    // w_A = 1/2 -> weighted control sum 5; meanT 10, meanCw 5, ATT 5
    assert(got == ((2L, 3L, 1L, 1L, 2L, 0.5, 10.0, 5.0, 5.0)), got)
  }

  test("cvarTail: ceil tail rank with the engine-exact 1-alpha; ties " +
      "stay in the tail together") {
    import graft.ops.Stats
    val df = (1 to 20).map(v => ("g", v.toDouble)).toDF("g", "v")
    val got = Stats.cvarTail(df, Seq("g"), F.col("v"), alpha = 0.9)
      .as[(String, Long, Long, Double, Long, Double)].head()
    // k = ceil((1.0-0.9)*20) = 2 -> VaR = 19, tail {20, 19}, CVaR 19.5
    assert(got == (("g", 20L, 2L, 19.0, 2L, 19.5)), got)
    // ties: three copies of the max all enter the tail
    val tied = (Seq.fill(3)(5.0) ++ Seq(1.0, 2.0)).map(("g", _))
      .toDF("g", "v")
    val g2 = Stats.cvarTail(tied, Seq("g"), F.col("v"), alpha = 0.9)
      .as[(String, Long, Long, Double, Long, Double)].head()
    assert(g2._4 == 5.0 && g2._5 == 3L && g2._6 == 5.0, g2)
  }

  test("coverageCurve: hand curve over a 3-type corpus; V beyond the " +
      "vocabulary saturates at full coverage") {
    import graft.ops.TextOps
    val df = Seq("a a a b", "b c").toDF("text")
    val got = TextOps.coverageCurve(df, "text", Seq(1, 2, 10))
      .as[(Long, Long, Long, Double, Long, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 6L, 3L, 0.5, 3L, 2L, 0.666667),
      (2L, 6L, 5L, 0.833333, 3L, 1L, 0.333333),
      (10L, 6L, 6L, 1.0, 3L, 0L, 0.0)), got)
  }

  test("trigramInterp: hand-replayed interpolation on one repeating " +
      "doc; short docs score nothing but count as docs") {
    import graft.ops.TextOps
    val df = Seq((1L, "s", "a b a b a"), (2L, "s", "x y"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.trigramInterp(df, "doc_id", "source", "text")
      .as[(String, Long, Long, Double, Double)].head()
    // trigrams: (a,b,a) x2, (b,a,b); counts c3: aba 2, bab 1;
    // ctx2: ab 2, ba 1; c2: (b,a) 2, (a,b) 1; ctx1: b 2, a 1;
    // c1: a 2, b 1; N = 3
    val p1 = 0.6 * (2.0 / 2.0) + 0.3 * (2.0 / 2.0) + 0.1 * (2.0 / 3.0)
    val p2 = 0.6 * (1.0 / 1.0) + 0.3 * (1.0 / 1.0) + 0.1 * (1.0 / 3.0)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean = (r9(-math.log(p1)) * 2 + r9(-math.log(p2))) / 3
    assert(got._1 == "s" && got._2 == 2L && got._3 == 3L, got)
    assert(got._4 == r6(mean), got)
  }

  test("anisotropyCensus: identical vectors read ratio 1 / cos 1") {
    val df = (1L to 4L).map(i => (i, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.anisotropyCensus(df, "vec_id", "embedding")
      .as[(Long, Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((4L, 2L, 1.0, 1.0, 25.0, 25.0, 1.0)), got)
  }

  test("waterfillAllocation: caps below the water level are taken " +
      "whole, the rest level off; budget >= total degenerates") {
    import graft.ops.Sampling
    val df = Seq(("A", 10L), ("B", 20L), ("C", 70L)).toDF("g", "w")
    val got = Sampling.waterfillAllocation(df, F.col("g"), F.col("w"),
        budgetFrac = 0.5)
      .as[(String, Long, Double, Boolean, Option[Double], Long)]
      .collect().toSeq
    // budget 50: A saturates at 10, level theta = 20 covers B and C
    assert(got == Seq(("A", 10L, 10.0, true, Some(20.0), 50L),
      ("B", 20L, 20.0, true, Some(20.0), 50L),
      ("C", 70L, 20.0, false, Some(20.0), 50L)), got)
    assert(got.map(_._3).sum == 50.0)
    val all = Sampling.waterfillAllocation(df, F.col("g"), F.col("w"),
        budgetFrac = 1.5)
      .as[(String, Long, Double, Boolean, Option[Double], Long)]
      .collect().toSeq
    assert(all.forall(r => r._3 == r._2.toDouble && r._4 &&
      r._5.isEmpty), all)
  }

  test("bottomKContainment: when |A| <= k the estimate IS exact; " +
      "identical docs read 1, disjoint docs read 0") {
    // short docs -> < 32 shingles, so the bottom-k sample is the whole
    // set and est must equal exact on every pair
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), // identical
      (7L, "delta epsilon zeta"), (8L, "XXXXXXXXXXXXXXX") // disjoint
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (7L, 8L)).toDF("a", "b")
    val got = Dedup.bottomKContainment(pairs, docs, "doc_id", "text",
        k = 32)
      .orderBy("a")
      .as[(Long, Long, Int, Int, Double, Double, Double)]
      .collect().toSeq
    assert(got.map(r => (r._1, r._5, r._6, r._7)) ==
      Seq((1L, 1.0, 1.0, 0.0), (7L, 0.0, 0.0, 0.0)), got)
    // k_used capped at the set size
    assert(got.forall(r => r._4 == math.min(32, r._3)), got)
    // a long doc with > k shingles: est within [0,1], k_used = 32
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"tok$i").mkString(" ") + " tail"
    val dl = Seq((1L, long1), (2L, long2)).toDF("doc_id", "text")
    val gl = Dedup.bottomKContainment(Seq((1L, 2L)).toDF("a", "b"), dl,
        "doc_id", "text", k = 32)
      .as[(Long, Long, Int, Int, Double, Double, Double)].head()
    assert(gl._4 == 32 && gl._6 >= 0.9, gl) // near-contained, sampled
  }

  test("vocabCoverage: hand coverage vs a size-1 vocabulary") {
    import graft.ops.TextOps
    val df = Seq(("A", "a a b"), ("B", "a c")).toDF("src", "text")
    val got = TextOps.vocabCoverage(df, "src", "text", vocabSize = 1)
      .as[(String, Long, Long, Double, Long, Long, Double)]
      .collect().toSeq
    // vocab = {a} (count 3); A: 2/3 occurrences in-vocab, 1/2 types
    // OOV; B: 1/2 and 1/2
    assert(got == Seq(("A", 3L, 2L, 0.666667, 2L, 1L, 0.5),
      ("B", 2L, 1L, 0.5, 2L, 1L, 0.5)), got)
  }

  test("leaveOneOutMeans: total-minus-group algebra by hand; a " +
      "single-group corpus yields NULL mean_without") {
    import graft.ops.Curation
    val df = Seq(("A", 1L), ("A", 3L), ("B", 5L)).toDF("g", "m")
    val got = Curation.leaveOneOutMeans(df, "g", Seq("m" -> F.col("m")))
      .as[(String, Long, Double, String, Double, Double, Double)]
      .collect().toSeq
    // full mean 3; without A -> 5 (delta +2); without B -> 2 (delta -1)
    assert(got == Seq(("A", 2L, 0.666667, "m", 3.0, 5.0, 2.0),
      ("B", 1L, 0.333333, "m", 3.0, 2.0, -1.0)), got)
    val one = Seq(("A", 1L)).toDF("g", "m")
    val row = Curation.leaveOneOutMeans(one, "g", Seq("m" -> F.col("m")))
      .select("mean_without").collect().head
    assert(row.isNullAt(0), row)
  }

  test("segmentedCumSum: block-merged running sums equal the flat window " +
      "exactly, asc and desc, grouped and global") {
    import graft.ops.Stats
    // values span many blocks (blocks = max(16, defaultParallelism) over
    // the [lo, hi] range), counts are exact longs — the segmented scan
    // must be bit-identical to the single-partition window
    val rows = (1 to 97).map(i => ("g" + (i % 3), i.toDouble * 1.5, i.toLong))
    val df = rows.toDF("g", "v", "c")
    val wAsc = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flatAsc = df.withColumn("cum", F.sum("c").over(wAsc))
      .select("g", "v", "cum").as[(String, Double, Long)].collect().toSet
    val segAsc = Stats.segmentedCumSum(df, Seq("g"), "v", "c", "cum")
      .select("g", "v", "cum").as[(String, Double, Long)].collect().toSet
    assert(segAsc == flatAsc)
    val wDesc = Window.partitionBy("g").orderBy(F.col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flatDesc = df.withColumn("cum", F.sum("c").over(wDesc))
      .select("g", "v", "cum").as[(String, Double, Long)].collect().toSet
    val segDesc = Stats.segmentedCumSum(df, Seq("g"), "v", "c", "cum",
        descending = true)
      .select("g", "v", "cum").as[(String, Double, Long)].collect().toSet
    assert(segDesc == flatDesc)
    // global (no partition cols), and a zero-span domain (one distinct
    // value collapses every row into block 0 — the flat-window degenerate)
    val wG = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = df.select(F.col("v"), F.col("c"))
    val flatG = g.withColumn("cum", F.sum("c").over(wG))
      .select("v", "cum").as[(Double, Long)].collect().toSet
    val segG = Stats.segmentedCumSum(g, Nil, "v", "c", "cum")
      .select("v", "cum").as[(Double, Long)].collect().toSet
    assert(segG == flatG)
    val const = Seq((5.0, 2L), (5.0, 3L)).toDF("v", "c")
      .groupBy("v").agg(F.sum("c").as("c"))
    val segC = Stats.segmentedCumSum(const, Nil, "v", "c", "cum")
      .select("cum").as[Long].collect().toSeq
    assert(segC == Seq(5L), segC)
    // null part values match their own offset rows (null-safe attach),
    // and a SPARSE sumSource (one part misses whole value blocks) still
    // yields the dense df's offsets via the densified block frame
    val nrows = (1 to 40).map(i =>
      (if (i % 2 == 0) null else "gA", i.toDouble, i.toLong))
    val ndf = nrows.toDF("g", "v", "c")
    val sparse = ndf.filter(F.col("v") <= 20.0 || F.col("g").isNull)
    val dense = sparse // df itself sparse: gA has no rows in v>20 blocks
    val flatN = dense.withColumn("cum", F.sum("c").over(wAsc))
      .select("g", "v", "cum").as[(Option[String], Double, Long)]
      .collect().toSet
    val segN = Stats.segmentedCumSum(dense, Seq("g"), "v", "c", "cum",
        sumSource = Some(sparse))
      .select("g", "v", "cum").as[(Option[String], Double, Long)]
      .collect().toSet
    assert(segN == flatN)
  }

  test("segmentedCumSum: a part value missing from sumSource fails the " +
      "query instead of dropping its rows") {
    import graft.ops.Stats
    val df = (1 to 40).map(i => (if (i % 2 == 0) "gA" else "gB",
      i.toDouble, i.toLong)).toDF("g", "v", "c")
    val msg = loudMsg(Stats.segmentedCumSum(df, Seq("g"), "v", "c", "cum",
        sumSource = Some(df.filter(F.col("g") === "gA")))
      .select("g", "v", "cum").collect())
    assert(msg.contains("missing from sumSource"), msg)
  }

  test("native-key float guard: -0.0/0.0 and NaN keys give the string-" +
      "image semantics on kripp/inclusion paths (advisor r18)") {
    import graft.ops.{Quality, Stats}
    // -0.0 and 0.0 are DISTINCT under the string image; native double
    // grouping would normalize them together — the guard pins the
    // historical semantics for fractional key types
    val a = Seq(-0.0, 0.0, 1.0).toDF("x")
    val b = Seq(0.0, 1.0, Double.NaN).toDF("y")
    val prof = Stats.inclusionProfile(Seq(("a<b", a, "x", b, "y")))
      .as[(String, Long, Long, Double)].head()
    assert(prof == (("a<b", 3L, 2L, 0.666667)), prof)
    val audit = Quality.inclusionAudit(a, "x", b, "y")
      .as[(String, String, Long, Long, Long, Double, Boolean)].head()
    assert(audit == (("x", "y", 3L, 3L, 2L, 0.666667, false)), audit)
    // kripp: float categories -0.0 vs 0.0 disagree (string image), so the
    // 2-rating unit is a disagreement: D_o = (4 - 2)/1 / n_units = 2
    val k = Stats.krippAlphaNominal(
        Seq((1L, -0.0), (1L, 0.0)).toDF("u", "c"),
        F.col("u"), F.col("c"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(k._1 == 1L && k._3 == 2L && k._4 == 2.0, k)
  }

  test("inclusionAuditAll: a reversed candidate reads from the shared " +
      "aggregate and matches the independent audit") {
    import graft.ops.Quality
    val a = Seq(Some(1L), Some(2L), Some(3L), None).toDF("k")
    val b = Seq(2L, 3L, 4L).toDF("k2")
    // the third candidate repeats the first in the same direction
    val both = Quality.inclusionAuditAll(Seq(
        (a, "k", b, "k2", null, null),
        (b, "k2", a, "k", null, null),
        (a, "k", b, "k2", null, null)))
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    val solo1 = Quality.inclusionAudit(a, "k", b, "k2")
      .as[(String, String, Long, Long, Long, Double, Boolean)].head()
    val solo2 = Quality.inclusionAudit(b, "k2", a, "k")
      .as[(String, String, Long, Long, Long, Double, Boolean)].head()
    assert(both == Seq(solo1, solo2, solo1), both)
  }
}
