package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Scale

/** Bucketed co-located joins and skew salting: results must equal the plain
  * formulation, and the plans must have the promised shape (no shuffle for
  * bucket-aligned joins; spread sub-keys for salted ones).
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  test("bucketed fact-fact join runs without any shuffle exchange") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Scale.writeBucketed(li.select("l_orderkey", "l_quantity"), "li_b", "l_orderkey", 8)
    Scale.writeBucketed(ord.select("o_orderkey", "o_totalprice"), "ord_b", "o_orderkey", 8)
    val j = spark.table("li_b")
      .join(spark.table("ord_b"), F.col("l_orderkey") === F.col("o_orderkey"))
    // disable broadcast so the co-location is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-aligned join must not shuffle:\n$plan")
      // and it is still the correct join
      assert(j.count() == li.join(ord, F.col("l_orderkey") === F.col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("writePartitionedCorpus: hive layout, bounded files, pruned reads, exact round-trip") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    Scale.writePartitionedCorpus(docs, out, Seq("source"), filesPerPartition = 2)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("source=")),
      s"expected hive layout, got ${dirs.map(_.getName).toSeq}")
    // salted routing bounds files per value (collisions can merge, not split)
    dirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.startsWith("part-"))
      assert(parts >= 1 && parts <= 2, s"${d.getName}: expected 1..2 files, got $parts")
    }
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toString).sorted.toSeq ==
      docs.select("doc_id", "text", "lang", "source", "n_chars")
        .collect().map(_.toString).sorted.toSeq, "round-trip must be exact")
    // the layout's purpose: a source filter prunes to that directory alone
    val p = back.filter(F.col("source") === "src0").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(source"),
      s"expected partition pruning in:\n$p")
  }

  test("IVF __cell partition-prunes at rest: probe scans only probed cells") {
    // The Similarity.buildIvf scaladoc promises `__cell` doubles as a
    // parquet partition key so probing prunes whole files — demonstrate the
    // claim end-to-end: build, write partitionBy(__cell) via the corpus
    // sink, reload, probe, and assert the scan's PartitionFilters carry the
    // broadcast-join DPP subquery (the probe visits nprobe of nlist cells).
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val idx = graft.ops.Similarity.buildIvf(emb, "vec_id", "embedding", nlist = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Scale.writePartitionedCorpus(idx.cells, out, Seq("__cell"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("__cell=")),
      s"expected __cell hive layout, got ${dirs.toSeq}")
    val atRest = idx.copy(cells = spark.read.parquet(out))
    val queries = emb.filter(F.col("vec_id") < 3)
    val probe = graft.ops.Similarity.queryIvf(atRest, queries, k = 5, nprobe = 2)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"expected DPP on the __cell partition column in:\n$p")
    // and the at-rest probe returns exactly the in-memory index's answer
    val mem = graft.ops.Similarity.queryIvf(idx, queries, k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(probe.collect().map(_.toString).sorted.toSeq == mem)
  }

  test("saveIvf/loadIvf round-trip: same answers, still partition-pruned") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", F.col("embedding").cast("array<double>"))
    val idx = graft.ops.Similarity.buildIvf(emb, "vec_id", "embedding", nlist = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-ivf-save").toString
    graft.ops.Similarity.saveIvf(idx, out)
    val loaded = graft.ops.Similarity.loadIvf(spark, out)
    assert(loaded.idCol == "vec_id" && loaded.vecCol == "embedding")
    assert(loaded.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    val queries = emb.filter(F.col("vec_id") < 3)
    val fromDisk = graft.ops.Similarity.queryIvf(loaded, queries, k = 5, nprobe = 2)
    assert(fromDisk.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"),
      "loaded index must still partition-prune on __cell")
    val mem = graft.ops.Similarity.queryIvf(idx, queries, k = 5, nprobe = 2)
    assert(fromDisk.collect().map(_.toString).sorted.toSeq ==
      mem.collect().map(_.toString).sorted.toSeq)
  }

  test("salted join returns exactly the plain join result") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select(F.col("p_partkey").as("l_partkey"), F.col("p_name"))
    val plain = li.join(part, Seq("l_partkey")).collect()
    val salted = Scale.saltedJoin(li, part, Seq("l_partkey"), saltFactor = 4).collect()
    assert(salted.length == plain.length)
    assert(salted.map(_.toString).sorted.toSeq == plain.map(_.toString).sorted.toSeq)
  }

  test("salt spreads a hot key over saltFactor sub-keys") {
    val hot = Seq.fill(1000)(("k", 1.0)).toDF("k", "v")
      .withColumn("v", F.rand(7)) // distinct row content -> distinct salts
    val spread = Scale.withSalt(hot, 8).groupBy("__salt").count().count()
    assert(spread == 8, "all 8 salt values should be hit by 1000 rows")
  }

  test("LSH auto-tune derives N from plan stats — no eager count() job (VERDICT r2 #3)") {
    import graft.ops.Similarity
    // the read itself runs a schema-inference job — do it before listening
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // constructing the plan (incl. plane auto-tune at nPlanes=0, the x05
    // config) must stay lazy: round 2 ran corpus.count() here, an extra
    // job that re-executed the whole upstream plan on derived inputs
    val (_, jobs) = SparkTest.jobsDuring {
      Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.4, nTables = 16)
      Similarity.lshKnn(emb, emb.limit(5), "vec_id", "embedding", k = 3)
    }
    assert(jobs == 0,
      "auto-tune must derive the corpus size from optimizer stats, not an eager count() job")

    // the stats estimate feeds log2(N/target): on this parquet scan it must
    // land within one plane of the exact-count answer (500 rows at sf0.01)
    val est = Similarity.corpusRows(emb, dim = 64, explicit = None)
    assert(est >= 125 && est <= 2000, s"row estimate $est implausible for 500 rows")
    assert(math.abs(Similarity.autoPlanes(est, 256) - Similarity.autoPlanes(500L, 256)) <= 1)
    // explicit size always wins — callers that know N pay nothing
    assert(Similarity.corpusRows(emb, 64, Some(12345L)) == 12345L)
  }

  test("spreadNarrowScan passes dedup and set-operation inputs through, firing no job") {
    val a = Seq(1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(2L, 3L, 4L).toDF("k")
    // each plans a shuffle: probing its parallelism would run it eagerly
    val (_, jobs) = SparkTest.jobsDuring {
      Seq(a.dropDuplicates(), a.intersect(b), a.except(b)).foreach { df =>
        assert(Scale.spreadNarrowScan(df) eq df)
      }
    }
    assert(jobs == 0, s"$jobs job(s) fired at construction")
  }

  test("salted two-phase aggregation equals one-phase groupBy") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").as("sum_l_quantity"), F.count(F.lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Scale.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }
}
