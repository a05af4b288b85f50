package perfbench

import graft.SparkEntry
import graft.io.Writers
import graft.prql.{Lowering, Parser}
import graft.sources.Registrar
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

/** One benchmark process: one workload, one client, one query at a time.
  *
  * Prints `PERFBENCH READY <k>` after each set-up and `PERFBENCH DONE` at
  * the end; everything measured goes to `<work>/records.jsonl`, which
  * perfbench/run.py turns into metrics. Arguments (all required):
  * --workload --seed --seconds --trace --data --work --cores
  */
object Main {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Formats: Seq[Writers.Format] = Seq(Writers.Csv, Writers.Json, Writers.Parquet)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val cores = opt("cores").toInt

    val problems = Pools.problems
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"pool guard: $p"))
      sys.exit(2)
    }
    val pool = Pools.all.toMap.getOrElse(workload, {
      System.err.println(s"unknown workload $workload; have ${Pools.all.map(_._1).mkString(", ")}")
      sys.exit(2)
    })

    // set-up, three times so that its median can be reported: a session and
    // the catalog load `pq --from` does. pq_cli queries the catalog; the ops
    // entries read their files themselves. The first set-up also pays for
    // JVM start; the others rebuild the session.
    val isPq = workload == "pq_cli"
    val rec = new Recorder(traced)
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(work, "records.jsonl")))
    var spark: SparkSession = null
    var tables = Map.empty[String, DataFrame]
    val tracer = new Tracer(() => spark, traced, out)
    for (k <- 1 to 3) {
      if (spark != null) spark.stop()
      spark = session(cores, work)
      spark.sparkContext.addSparkListener(rec)
      tables = tracer.span("sources.register") {
        Registrar.registerAll(spark, Tables.map(t => s"$t=$data/$t.parquet"))
      }
      println(s"PERFBENCH READY $k")
      Console.out.flush()
    }
    Files.writeString(Paths.get(work, "oracle.json"),
      Json.obj(pool.map(q => q -> SparkEntry.oracleSql(q)): _*))
    val texts = if (isPq) pool.map(q => q -> Pools.prqlText(q)).toMap else Map.empty[String, String]
    val rng = new scala.util.Random(seed)
    val outDir = new File(work, "out"); outDir.mkdirs()

    def runPq(q: String, fmt: Writers.Format): Unit = {
      val ast = tracer.span("prql.parse")(Parser.parse(texts(q)))
      val df = tracer.span("prql.lower")(Lowering.lowerQuery(ast, Lowering.Env(spark, tables, Map.empty, Map.empty)))
      tracer.plan(df)
      tracer.span("io.write")(Writers.write(df, Some(s"$outDir/$q.${fmt.name}"), fmt))
    }
    def runOps(q: String): Unit = {
      val df = tracer.span("ops.construct")(SparkEntry.queries(q)(spark, data))
      tracer.plan(df)
      tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
    }

    def dump(q: String): Unit =
      SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/dump/$q")

    // a unit of work is a query and its sink. pq_cli deals the formats out
    // over the pool in turn, the same for every seed, so that every pass
    // does the same work whatever the seed.
    val units: Seq[(String, Option[Writers.Format])] = pool.zipWithIndex.map { case (q, i) =>
      q -> (if (isPq) Some(Formats(i % Formats.size)) else None)
    }
    def run(pass: Int, unit: (String, Option[Writers.Format]), check: Boolean = false): Unit = {
      val (q, fmt) = unit
      val q0 = System.nanoTime()
      val error = try {
        tracer.query(pass, q)(fmt match {
          case Some(f) => runPq(q, f)
          case None => if (check) dump(q) else runOps(q)
        })
        None
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      out.println(Json.obj("kind" -> "query", "pass" -> pass, "query" -> q,
        "format" -> fmt.map(_.name).getOrElse("noop"),
        "wall_ms" -> ms(System.nanoTime() - q0), "error" -> error.orNull))
    }

    // warm-up (pass -1, untimed) for twice as long as the timed region:
    // first a check pass that runs every unit once and keeps its answer for
    // the oracle check (pq_cli checks the files it writes), then at least one
    // whole pass in pool order, so the timed passes start near steady state
    // and the JIT has seen the same code paths in the same order on every seed
    tracer.on = false
    val warm0 = System.nanoTime()
    units.foreach(run(-1, _, check = true))
    var warmPasses = 0
    while (warmPasses == 0 || (System.nanoTime() - warm0) / 1e9 < 2 * seconds) {
      units.foreach(run(-1, _))
      warmPasses += 1
    }

    // timed region: whole passes in seeded order, while the next pass is
    // expected to end within the time asked for; a traced run needs two
    // passes because it traces every other one
    val minPasses = if (traced) 2 else 1
    val start = System.nanoTime()
    var pass = 0
    var lastPassNs = 0L
    while (pass < minPasses || (System.nanoTime() - start + lastPassNs) / 1e9 <= seconds) {
      tracer.on = traced && pass % 2 == 1
      rec.drain(spark.sparkContext)
      val cpu0 = rec.cpuNs
      val p0 = System.nanoTime()
      rng.shuffle(units).foreach(run(pass, _))
      lastPassNs = System.nanoTime() - p0
      rec.drain(spark.sparkContext)
      out.println(Json.obj("kind" -> "pass", "pass" -> pass, "traced" -> tracer.on,
        "wall_ms" -> ms(lastPassNs), "cpu_ms" -> (rec.cpuNs - cpu0) / 1e6))
      pass += 1
    }
    tracer.on = false
    finish(spark, rec, tracer, out)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries ns timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def finish(spark: SparkSession, rec: Recorder, tracer: Tracer, out: PrintWriter): Unit = {
    rec.drain(spark.sparkContext)
    tracer.writeJobs(rec.jobs)
    out.println(Json.obj("kind" -> "end", "peak_rss_mb" -> peakRssMb))
    out.close()
    spark.stop()
    println("PERFBENCH DONE")
  }

  def ms(ns: Long): Double = ns / 1e6

  /** The process's resident-set high-water mark (`VmHWM`), in MiB. */
  def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
    .getOrElse(-1.0)
}

/** Records spans when `on`. Each span sets the job group to its own id, so
  * the jobs Spark runs inside it can be charged to it. */
final class Tracer(spark: () => SparkSession, traced: Boolean, out: PrintWriter) {
  var on: Boolean = traced
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var current: (Int, String) = (-1, "")

  def query[T](pass: Int, q: String)(body: => T): T = {
    current = (pass, q)
    span("query")(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      spark().sparkContext.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark().sparkContext.setJobGroup(p.toString, "")
          case None => spark().sparkContext.clearJobGroup()
        }
        out.println(Json.obj("kind" -> "span", "id" -> id, "parent" -> parent, "name" -> name,
          "pass" -> current._1, "query" -> current._2, "ms" -> Main.ms(t1 - t0)))
      }
    }

  /** Plans the final DataFrame and records Spark's own phase times for it.
    * Runs only when tracing, as the sink plans the query again anyway. */
  def plan(df: DataFrame): Unit = if (on) {
    span("plans")(df.queryExecution.executedPlan)
    val phases = df.queryExecution.tracker.phases
    out.println(Json.obj(Seq("kind" -> "phases", "pass" -> current._1, "query" -> current._2) ++
      Seq("analysis", "optimization", "planning").map(p => p -> phases.get(p).map(_.durationMs).getOrElse(0L)): _*))
  }

  def writeJobs(jobs: Seq[Recorder#Job]): Unit = jobs.filter(_.group != null).foreach { j =>
    out.println(Json.obj("kind" -> "job", "span" -> j.group.toInt, "site" -> j.site,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
      "empty_tasks" -> j.emptyTasks, "task_ms" -> j.taskMs, "cpu_ms" -> j.cpuNs / 1e6,
      "gc_ms" -> j.gcMs, "wait_ms" -> j.waitMs, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "rows_out" -> j.rowsOut,
      "bytes_out" -> j.bytesOut))
  }
}

/** Just enough JSON for flat records of strings, numbers and booleans. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
