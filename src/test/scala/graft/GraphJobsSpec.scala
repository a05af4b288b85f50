package graft

import graft.ops.Graph
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Pins, per [[Graph]] op on one small hand graph, the Spark jobs its
  * construction fires (the eager `localCheckpoint` / `count` jobs run
  * before the DataFrame is returned) and a hash of its collected rows.
  * The graph ops share their building blocks (edge preludes, degree
  * rollup, rank loop, peel loop); a change to one of them that adds an
  * eager job or moves an answer shows up here by op name. The jobs of the
  * final `collect` are not pinned: under adaptive execution they vary
  * from run to run on the same code (richClub read 8 and 10). */
class GraphJobsSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  // two triangles (1-2-3, 4-5-6) bridged by 3-4, a pendant 7, a
  // duplicate reversed edge, a self-loop and a sink-only node 8
  private def edges: DataFrame = spark.createDataFrame(Seq(
      (1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 1L), (4L, 5L, 4L),
      (5L, 6L, 2L), (4L, 6L, 1L), (6L, 7L, 5L), (2L, 1L, 3L), (5L, 5L, 1L),
      (7L, 8L, 1L)))
    .toDF("src", "dst", "w")

  private def comm: DataFrame = spark.createDataFrame(Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "b"),
      (7L, "c"), (8L, "c")))
    .toDF("node", "comm")

  private def attrs: DataFrame = spark.createDataFrame(Seq(
      (1L, 1.5), (2L, 2.0), (3L, 1.0), (4L, 7.25), (5L, 6.0), (6L, 8.5),
      (7L, 3.0), (8L, 0.5)))
    .toDF("node", "x")

  /** op name → (construction jobs, row hash). */
  private val pinned: Seq[(String, () => DataFrame, (Int, Int))] = Seq(
    ("pageRank", () => Graph.pageRank(edges, "src", "dst", iters = 6),
      (31, -1318954858)),
    ("personalizedPageRank", () => Graph.personalizedPageRank(edges, "src",
      "dst", iters = 6, nSeeds = 2), (32, 1446581181)),
    ("triangleCounts", () => Graph.triangleCounts(edges, "src", "dst"),
      (5, -1188903125)),
    ("localClustering", () => Graph.localClustering(edges, "src", "dst"),
      (6, -92167795)),
    ("weightedClustering", () => Graph.weightedClustering(edges, "src",
      "dst", "w"), (7, -82815036)),
    ("edgeSupportCensus", () => Graph.edgeSupportCensus(edges, "src", "dst"),
      (6, 1609976725)),
    ("kCore", () => Graph.kCore(edges, "src", "dst", k = 2, rounds = 3),
      (11, 1041024803)),
    ("kTruss", () => Graph.kTruss(edges, "src", "dst", k = 3, rounds = 2),
      (22, 1955407653)),
    ("kTrussFixpoint", () => Graph.kTrussFixpoint(edges, "src", "dst",
      k = 3), (28, 1955407653)),
    ("modularity", () => Graph.modularity(edges, "src", "dst", comm, "node",
      "comm"), (0, -639176668)),
    ("partitionQuality", () => Graph.partitionQuality(edges, "src", "dst",
      comm, "node", "comm"), (2, -1413483702)),
    ("moransI", () => Graph.moransI(edges, "src", "dst", attrs, "node",
      F.col("x")), (0, 241960542)),
    ("gearyC", () => Graph.gearyC(edges, "src", "dst", attrs, "node",
      F.col("x")), (0, -486810628)),
    ("degreeAssortativity", () => Graph.degreeAssortativity(edges, "src",
      "dst"), (0, -2019199647)),
    ("richClub", () => Graph.richClub(edges, "src", "dst", kMax = 3),
      (2, 1488890377)),
    ("linkPrediction", () => Graph.linkPrediction(edges, "src", "dst",
      topN = 5), (2, -293204714)),
    ("harmonic2", () => Graph.harmonic2(edges, "src", "dst", topN = 5),
      (2, -539347086)),
    ("katzCentrality", () => Graph.katzCentrality(edges, "src", "dst",
      iters = 2, topN = 5), (2, -8537011)),
    ("labelPropagation", () => Graph.labelPropagation(edges, "src", "dst",
      rounds = 2), (12, -74371075)),
    ("landmarkDistances", () => Graph.landmarkDistances(edges, "src", "dst",
      nLandmarks = 2, hops = 2), (11, -2063413873)),
    ("neighborhoodFunction", () => Graph.neighborhoodFunction(edges, "src",
      "dst", hops = 2), (10, -1337919735)))

  pinned.foreach { case (name, op, expected) =>
    test(s"$name: construction jobs and rows are pinned") {
      val (df, construct) = SparkTest.jobsDuring(op())
      val hash = df.collect().map(_.toString).sorted.mkString("\n").hashCode
      assert((construct, hash) == expected, name)
    }
  }
}
