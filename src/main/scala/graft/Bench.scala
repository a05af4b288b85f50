package graft
object Bench {
  /** An entry's key in the printed JSON: its unique qNN/xNN prefix. */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    // ERROR, not WARN: the PRQL whole-relation windows (q09 et al) emit a
    // WindowExec warning per run, and sbt flushes forked stderr late — in
    // rounds 2-4 those lines landed AFTER the summary JSON and pushed it out
    // of the driver's 2000-char tail window (BENCH_r0{2,3,4} parsed:null).
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the session (codegen, JIT, AQE machinery) so per-query timings
    // reflect steady state rather than whichever query happens to run first
    // absorbing JVM startup. Loading the table catalog here, outside the
    // timed region, is what every entry then reads (`Registrar.table`);
    // counting EVERY table in it keeps the first orders/events/embeddings
    // query in sort order from absorbing the cold parquet read.
    try {
      graft.sources.Registrar.loadParquetDir(spark, sfDir).values.foreach(_.count())
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    // SPARK_GRAFT_ONLY=x04_...,x16_... limits the run (scale-stress a few
    // heavy queries on a bigger SF without paying for the whole suite)
    val selected = SparkEntry.selected().toSeq.sortBy(_._1)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // JVM-health instrumentation so a future reader can adjudicate wall-time
    // outliers: per-query GC delta separates allocation pressure from plan
    // cost, and executor run/cpu time separates "the query did more work"
    // from "the host was contended" (task_ms flat + wall up = contention;
    // cpu_ms ≪ task_ms = threads starved or blocked on I/O).
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { taskMs.addAndGet(m.executorRunTime); taskCpuNs.addAndGet(m.executorCpuTime) }
      }
    })
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // USER_HZ measured, not assumed (ADVICE r15): `getconf CLK_TCK` once,
    // fall back to the Linux-universal 100 if the exec fails
    val userHz: Long = try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor()
      val v = out.toLong
      if (v > 0) v else 100L
    } catch { case _: Throwable => 100L }
    def stealTicks: Long = try {
      val first = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = first.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L // field: steal
    } catch { case _: Throwable => -1L }
    final case class QStat(sec: Double, gcMs: Long, taskMs: Long,
                           taskCpuMs: Long, stealDelta: Long)
    val results = selected.map { case (name, fn) =>
      org.apache.spark.GraftListeners.drain(spark.sparkContext)
      val (gc0, tk0, cp0) = (gcMs, taskMs.get, taskCpuNs.get)
      val steal0 = stealTicks
      val t0 = System.nanoTime()
      // noop sink materializes every column (count() would let Spark prune
      // projections and under-report the real work)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // A broken query must surface as a failure, not masquerade as a
        // fast timing (a bench-only regression like an sf0.1 OOM would
        // otherwise read as a speedup).
        failed += name
        System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListeners.drain(spark.sparkContext)
      val stealNow = if (steal0 < 0) -1L else stealTicks - steal0
      // a steal burst = the hypervisor ran a co-tenant on our vCPUs
      // during THIS query (run 10: steal>100 ⇒ median 1.70× ledger) —
      // name it so the wall outlier self-adjudicates as host state
      if (stealNow > 200)
        System.err.println(f"[bench] WARNING: $name saw $stealNow steal " +
          f"ticks (${stealNow.toDouble / userHz}%.1f s of stolen vCPU) — " +
          "its wall time reflects hypervisor interference, not plan cost")
      name -> QStat(sec, gcMs - gc0, taskMs.get - tk0,
        (taskCpuNs.get - cp0) / 1000000L, stealNow)
    }
    // The driver keeps only the LAST 2000 chars of output, and the one-line
    // JSON outgrew that window at 78 full-name ns-precision entries
    // (BENCH_r02/r03 both recorded parsed:null). Print short ids (the
    // unique qNN/xNN prefix) at ms precision — ~13 chars/query keeps ~140
    // queries inside the window alongside sbt's trailing lines — and write
    // the full-name, full-precision map to bench_detail.json for the
    // BASELINE.md ledger.
    def s3(v: Double): String = f"$v%.3f"
    // Round-10 follow-up: at 197 queries even the short-id map is ~2.5k
    // chars — past the window again. Print only the TOP-60 slowest (the
    // rows a perf reader actually looks at, ~800 chars) plus an explicit
    // omission count; the FULL map always lands in bench_detail.json and
    // the BASELINE.md ledger.
    val topN = 60
    val slowest = results.sortBy(-_._2.sec).take(topN)
    val qs = slowest.map { case (k, v) => s"\"" + shortId(k) + "\":" + s3(v.sec) }
      .mkString("{", ",", "}")
    val omitted = math.max(0, results.size - topN)
    val total = results.map(_._2.sec).sum
    // Oracle-math twins exist to VERIFY selection math via DuckDB-replayable
    // primitives (per-gram md5 + fixed constants); the rows-only entries
    // they pin (x02/x16/x03/x07/x04/x71 ...) are the production surface.
    // production_total is the gate number for that surface — the twins' md5
    // tax is a verification cost, not an engine cost.
    val oracleTwins = SparkEntry.pinnedBy.values.flatten.toSet
    val prodTotal = results.filterNot(r => oracleTwins(r._1)).map(_._2.sec).sum
    // Steal-defending rerun (r15 verdict ask #4): the headline BENCH json
    // is ONE run, and a hypervisor steal window can read a query at 3-25x
    // its clean ledger (r15: x424 164 s wall with 355 s kernel time vs a
    // 2.9 s clean median) — 4x over gate on a contended host while clean
    // runs sit AT gate. Mechanically self-defend: re-run (once, same warm
    // JVM) every query whose wall exceeded 3x the suite's median per-query
    // wall AND that saw steal (>100 ticks) during its window, then report
    // value_rerun_min = Σ min(first, rerun) beside the raw value. A
    // genuine plan cost reproduces on the rerun (min ≈ first); a steal
    // artifact collapses to the clean time.
    val medSec = {
      val s = results.map(_._2.sec).sorted
      if (s.isEmpty) 0.0 else s(s.length / 2)
    }
    val rerunCandidates = results.filter { case (_, v) =>
      v.sec > 3.0 * medSec && v.stealDelta > 100 }
    val rerunCap = 80 // bound the worst case (a whole-suite steal storm)
    val toRerun = rerunCandidates.sortBy(-_._2.sec).take(rerunCap)
    if (rerunCandidates.size > toRerun.size)
      System.err.println(s"[bench] rerun capped at $rerunCap of " +
        s"${rerunCandidates.size} steal-hit queries (slowest first)")
    // A failed rerun must NOT contribute its (near-zero, fail-fast)
    // elapsed time: min(first, broken-rerun) would deflate the headline
    // and make a genuinely slow-or-broken query look clean. Only
    // reruns that COMPLETED enter the map; failures log and fall back
    // to the first-run timing.
    val rerunSecs: Map[String, Double] = toRerun.flatMap { case (name, _) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] rerun $name FAILED " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "keeping first-run timing")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) {
        System.err.println(f"[bench] rerun $name: $sec%.3f s")
        Some(name -> sec)
      } else None
    }.toMap
    def minSec(k: String, v: QStat): Double =
      math.min(v.sec, rerunSecs.getOrElse(k, v.sec))
    val totalRerunMin = results.map { case (k, v) => minSec(k, v) }.sum
    val prodRerunMin = results.filterNot(r => oracleTwins(r._1))
      .map { case (k, v) => minSec(k, v) }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Run-level contention indicator: parallelism = Σ executor task time /
    // wall. On an otherwise-idle local[cpus] host heavy queries should push
    // well past 1; a run whose wall doubled while parallelism (and per-query
    // task_ms) held steady was co-scheduled with something, not regressed.
    val sumTaskMs = results.map(_._2.taskMs).sum
    val sumGcMs = results.map(_._2.gcMs).sum
    val par = if (total > 0) sumTaskMs / 1000.0 / total else 0.0
    // JIT code-cache health: when the cache fills, HotSpot silently stops
    // compiling and trivial plans run interpreted at 20-60x real-CPU cost
    // (q26's 61 s on a 1k-row projection in BENCH_r08 — VERDICT r8). Report
    // per-CodeHeap occupancy so a future outlier self-adjudicates, and
    // warn loudly when any segment is effectively full.
    val codeHeaps = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap")).map { p =>
        val u = p.getUsage
        (p.getName, u.getUsed, u.getMax)
      }.toSeq
    codeHeaps.foreach { case (n, used, max) =>
      if (max > 0 && used.toDouble / max > 0.9)
        System.err.println(f"[bench] WARNING: JIT code cache segment '$n' is " +
          f"${used.toDouble / max * 100}%.0f%% full ($used/$max bytes) — " +
          "HotSpot may have stopped compiling; timings in this run are suspect")
    }
    val codeCacheJson = codeHeaps.map { case (n, used, max) =>
      s"""{"pool":"${n.replace("'", "")}","used":$used,"max":$max}"""
    }.mkString("[", ",", "]")
    try {
      val full = results.map { case (k, v) =>
        val rerun = rerunSecs.get(k).map(r => s""","rerun_sec":$r""").getOrElse("")
        s"\"" + k + "\":" + s"""{"sec":${v.sec},"gc_ms":${v.gcMs},"task_ms":${v.taskMs},"task_cpu_ms":${v.taskCpuMs},"steal_ticks":${v.stealDelta}$rerun}"""
      }.mkString("{", ",", "}")
      // the twin list rides along so downstream tooling (scripts/ledger.py)
      // reads ONE source of truth — a twin added here but not there would
      // otherwise silently skew production sums between the two ledgers
      val twinsJson = oracleTwins.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val stealSum = results.map(_._2.stealDelta).filter(_ >= 0).sum
      val w = new java.io.PrintWriter("bench_detail.json")
      try w.println(s"""{"total":$total,"total_rerun_min":$totalRerunMin,"production_total":$prodTotal,"production_rerun_min":$prodRerunMin,"reruns":${rerunSecs.size},"gc_total_ms":$sumGcMs,"task_total_ms":$sumTaskMs,"steal_ticks_total":$stealSum,"parallelism":${f"$par%.2f"},"cpus":$cpus,"code_cache":$codeCacheJson,"oracle_twins":$twinsJson,"queries":$full,"failed":$failedJson,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case _: Throwable => }
    // Stop Spark BEFORE printing the summary so no executor/stage log line
    // can land after it — the JSON must be the last stdout line for the
    // driver's tail-window parse.
    spark.stop()
    // steal_sec rides the driver-visible summary so a slow round total
    // self-adjudicates as hypervisor interference without opening the
    // detail file (run 10: 1475-tick bursts inside single queries)
    val stealSec =
      results.map(_._2.stealDelta).filter(_ >= 0).sum.toDouble / userHz
    // Per-query steal for the printed top-60 (r18 verdict ask #7,
    // ADDITIVE-only: "queries" stays the same name→sec map): a top-60 row
    // whose steal_q entry is large self-adjudicates as host interference
    // without the detail file. Bounded to the 20 largest entries above 50
    // ticks so the one-line JSON stays inside the driver's 2000-char tail
    // window even in a whole-suite steal storm.
    val stealQ = slowest.filter(_._2.stealDelta > 50)
      .sortBy(-_._2.stealDelta).take(20)
      .map { case (k, v) => "\"" + shortId(k) + "\":" + v.stealDelta }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","value_rerun_min":${s3(totalRerunMin)},"production_total":${s3(prodTotal)},"production_rerun_min":${s3(prodRerunMin)},"reruns":${rerunSecs.size},"gc_sec":${s3(sumGcMs / 1000.0)},"steal_sec":${s3(stealSec)},"parallelism":${f"$par%.2f"},"n_queries":${results.size},"queries":$qs,"steal_q":$stealQ,"queries_omitted":$omitted,"failed":$failedJson,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
