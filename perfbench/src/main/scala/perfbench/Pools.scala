package perfbench

import graft.SparkEntry

/** The three query pools. Why each was chosen is in perfbench/README.md. */
object Pools {

  // Each pool is a fixed part of a larger family, cut so that one pass
  // takes about 3 s at sf0.1 on 4 cores; the README lists what was left out.

  /** PRQL parity entries, run the way `pq` runs them. */
  val pqCli: Seq[String] = Seq(
    "q01_take_sort", "q02_select_derive", "q04_agg_global", "q06_join_cond",
    "q13_switch", "q16_func_inline", "q28_loop", "q32_sstring_expr")

  /** An operator whose construction fires many eager jobs. */
  val opsIterative: Seq[String] = Seq("x241_bradley_terry")

  /** An operator whose final plan shuffles most of the work (x119, the
    * carried r19 item, varied more from one JVM to the next). */
  val opsShuffle: Seq[String] = Seq("x121_ngram_novelty")

  val all: Seq[(String, Seq[String])] = Seq(
    "pq_cli" -> pqCli, "ops_iterative" -> opsIterative, "ops_shuffle" -> opsShuffle)

  /** Every reason the pools cannot be run and checked as written: an entry
    * the engine does not have, an entry without an oracle, an entry in two
    * pools, or a PRQL entry whose query text cannot be recovered. */
  def problems: Seq[String] = {
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val named = all.flatMap { case (pool, names) => names.map(pool -> _) }
    val missing = named.collect { case (p, n) if !queries.contains(n) => s"$p: $n is not in SparkEntry.queries" }
    val noOracle = named.collect { case (p, n) if !oracle.contains(n) => s"$p: $n has no SparkEntry.oracleSql" }
    val overlap = named.groupBy(_._2).collect {
      case (n, ps) if ps.size > 1 => s"$n is in more than one pool: ${ps.map(_._1).mkString(", ")}"
    }
    val noText = pqCli.filter(queries.contains).flatMap { n =>
      scala.util.Try(prqlText(n)).failed.toOption.map(e => s"pq_cli: $n: ${e.getMessage}")
    }
    missing ++ noOracle ++ overlap.toSeq.sorted ++ noText
  }

  /** The PRQL text behind a parity entry. `SparkEntry` keeps it only inside
    * the entry's closure, so it is read from the closure's one captured
    * string. */
  def prqlText(name: String): String = {
    val fn = SparkEntry.queries(name)
    val captured = fn.getClass.getDeclaredFields.toSeq
      .filter(_.getType == classOf[String])
      .map { f => f.setAccessible(true); f.get(fn).asInstanceOf[String] }
    captured match {
      case Seq(text) => text
      case other => throw new IllegalStateException(
        s"expected one captured PRQL string, found ${other.size}")
    }
  }
}
