package graft.prql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import scala.jdk.CollectionConverters._
import Ast._

/** Lowers a resolved PRQL pipeline to Spark `DataFrame` transformations —
  * the Spark-first replacement for the reference's RQ→SQL stage
  * (/root/reference/src/backends/duckdb.rs:62-65). One case per transform
  * from SURVEY.md §2b/2c. We intentionally emit one declarative Dataset op
  * per transform and let Catalyst fuse/push-down/prune (SURVEY.md §4) —
  * matching the reference's *fused SQL text* is a non-goal; matching results
  * and letting the optimizer pick physical plans is the design.
  */
object Lowering {

  final case class Env(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      funcs: Map[String, FuncDef],
      lets: Map[String, DataFrame])

  final case class LowerError(msg: String) extends RuntimeException(msg)

  // ---------- function classes ----------
  private val aggFns = Set("sum", "min", "max", "average", "avg", "count", "stddev", "count_distinct")
  private val rankFns = Set("row_number", "rank", "dense_rank", "lag", "lead")
  private val winOnlyAgg = Set("first", "last")

  /** Does this expression contain an aggregate / window function call?  Used
    * to decide between plain projection and implicit-window projection for
    * top-level `derive` (README.md:117-121 — `lag 7 x` after `sort`). */
  def containsAggOrWin(e: Expr): Boolean = e match {
    case Call(Ident(Seq(n)), _, _) if aggFns(n) || rankFns(n) || winOnlyAgg(n) => true
    case Ident(Seq(n)) if n == "count" || rankFns(n) => true
    case Call(_, args, named) => args.exists(containsAggOrWin) || named.values.exists(containsAggOrWin)
    case BinOp(_, l, r) => containsAggOrWin(l) || containsAggOrWin(r)
    case UnOp(_, x) => containsAggOrWin(x)
    case Assign(_, x) => containsAggOrWin(x)
    case PipeE(in, fn) => containsAggOrWin(in) || containsAggOrWin(fn)
    case FStr(parts) => parts.exists { case Right(x) => containsAggOrWin(x); case _ => false }
    case Switch(cs) => cs.exists { case (c, v) => containsAggOrWin(c) || containsAggOrWin(v) }
    case _ => false
  }

  private def isRankLike(e: Expr): Boolean = e match {
    case Call(Ident(Seq(n)), _, _) => rankFns(n)
    case Ident(Seq(n)) => rankFns(n)
    case Assign(_, x) => isRankLike(x)
    case _ => false
  }

  // ---------- entry ----------

  def lowerQuery(q: Query, env0: Env): DataFrame = {
    var env = env0.copy(funcs = env0.funcs ++ q.funcs.map(f => f.name -> f).toMap)
    q.lets.foreach { l =>
      val df = l.body match {
        case LetPipeline(p) => lowerPipeline(p, env)
        case LetSql(s) =>
          val sql = SqlShim.translate(renderSStr(s, env))
          env.spark.sql(sql)
      }
      env = env.copy(lets = env.lets + (l.name -> df))
    }
    lowerPipeline(q.main, env)
  }

  def lowerPipeline(ts: Seq[Transform], env: Env, start: Option[DataFrame] = None): DataFrame = {
    if (ts.isEmpty && start.isEmpty) throw LowerError("empty pipeline")
    var df: DataFrame = start.orNull
    // PRQL hoists ORDER BY to the query end (README.md:128-129); we track the
    // pending sort, apply it where row order matters (take, implicit windows),
    // and re-apply at pipeline end.
    var pending: Seq[SortItem] = Nil

    def sortCols(items: Seq[SortItem]): Seq[Column] =
      items.map(si => if (si.desc) toCol(si.e, env).desc else toCol(si.e, env).asc)

    ts.foreach {
      case From(table, alias) =>
        val base = resolveTable(table, env)
        df = alias.fold(base)(a => base.alias(a))

      case Select(items) =>
        df = df.select(items.map(namedCol(_, env)): _*)

      case Derive(items) =>
        items.foreach { item =>
          val (name, e) = item match {
            case Assign(n, x) => (n, x)
            case Ident(parts) => (parts.last, item)
            case other => throw LowerError(s"derive item needs a name: $other")
          }
          if (containsAggOrWin(e)) {
            // implicit window over the whole relation, ordered by current sort
            // — reference emits LAG(...) OVER (ORDER BY day ROWS BETWEEN
            // UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) (README.md:117-121)
            val w0 =
              if (pending.nonEmpty) Window.orderBy(sortCols(pending): _*)
              else Window.partitionBy()
            val w =
              if (isRankLike(e)) w0
              else if (pending.nonEmpty)
                w0.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
              else w0
            df = df.withColumn(name, toCol(e, env).over(w))
          } else df = df.withColumn(name, toCol(e, env))
        }

      case Filter(cond) =>
        df = df.filter(toCol(cond, env))

      case Sort(items) =>
        pending = items

      case Loop(pipe) =>
        df = lowerLoop(df, pipe, env)

      case Take(lo, hi) =>
        if (pending.nonEmpty) df = df.orderBy(sortCols(pending): _*)
        (lo, hi) match {
          case (None, Some(n))    => df = df.limit(n.toInt)
          case (Some(a), Some(b)) => df = df.offset((a - 1).toInt).limit((b - a + 1).toInt)
          case (Some(a), None)    => df = df.offset((a - 1).toInt)
          case _                  => throw LowerError("take needs a bound")
        }

      case Join(side, table, alias, conds) =>
        val rightBase = resolveTable(table, env)
        val right = alias.fold(rightBase)(a => rightBase.alias(a))
        val sparkSide = side match {
          case "inner" => "inner"; case "left" => "left"
          case "right" => "right"; case "full" => "full"
          case other => throw LowerError(s"unknown join side: $other")
        }
        val usingCols = conds.collect { case UsingCol(c) => c }
        val onExprs = conds.collect { case OnExpr(e) => toCol(e, env) }
        df =
          if (onExprs.nonEmpty && usingCols.isEmpty)
            df.join(right, onExprs.reduce(_ && _), sparkSide)
          else if (usingCols.nonEmpty && onExprs.isEmpty)
            // USING-join: Seq-form dedups the key column exactly like SQL
            // USING (README.md:123-124)
            df.join(right, usingCols, sparkSide)
          else throw LowerError("mixed using/on join conditions unsupported")

      case Group(keys, pipe) =>
        df = lowerGroup(df, keys, pipe, env)

      case Aggregate(items) =>
        // whole-relation aggregate (no grouping keys)
        val aggs = items.map(namedAggCol(_, env))
        df = df.agg(aggs.head, aggs.tail: _*)

      case w: WindowT =>
        // ungrouped window transform: partition = whole relation
        df = applyWindow(df, Nil, Nil, w, env)

      case Append(table) =>
        df = df.unionByName(resolveTable(table, env))
    }
    if (pending.nonEmpty) df.orderBy(sortCols(pending): _*) else df
  }

  // ---------- loop ----------

  /** Frontiers of at most this many rows stay on the driver: the anchor
    * cutoff Spark 4.1's `UnionLoopExec` uses for the same purpose. */
  private val localFrontierRows = 100
  private val maxLoopIterations = 1000

  /** A loop part: `rows` holds it on the driver (`df` is then a
    * LocalRelation over them); `None` means `df` is a localCheckpoint. */
  private final case class LoopPart(df: DataFrame, rows: Option[Array[Row]])

  /** `loop (step)` = anchor ∪ step(anchor) ∪ step²(anchor) … until a step is
    * empty (SURVEY §2c). Spark 4.1 has a recursive CTE (`UnionLoop`), but it
    * repartitions every round (~2× slower on a 150k-row, 4-round loop) and
    * fails past `spark.sql.cteRecursionRowLimit` rows, so the compiler drives
    * the iteration. A frontier of ≤ `localFrontierRows` rows is held as a
    * LocalRelation, so a filter/derive step over it folds at optimization
    * (ConvertToLocalRelation) and runs no job; a larger one is
    * localCheckpointed to bound its lineage. One bounded probe per round
    * sizes the frontier and answers emptiness. The parts are unioned once,
    * at the end. */
  private def lowerLoop(anchor: DataFrame, pipe: Seq[Transform], env: Env): DataFrame = {
    def local(rows: Array[Row], d: DataFrame) =
      LoopPart(env.spark.createDataFrame(rows.toSeq.asJava, d.schema), Some(rows))
    def probe(d: DataFrame) = d.limit(localFrontierRows + 1).collect()
    // Each part runs once. A plan bounded to ≤ localFrontierRows rows (a
    // filter/derive over a LocalRelation, a `take`) is probed directly;
    // anything else is checkpointed first and the probe reads the checkpoint.
    def materialize(d: DataFrame): LoopPart = {
      val bounded = d.queryExecution.analyzed.maxRows.exists(_ <= localFrontierRows)
      val in = if (bounded) d else d.localCheckpoint()
      val rows = probe(in)
      if (rows.length <= localFrontierRows) local(rows, in) else LoopPart(in, None)
    }

    val parts = scala.collection.mutable.ArrayBuffer(materialize(anchor))
    var frontier = parts.head
    var more = true
    while (more) {
      if (parts.length > maxLoopIterations)
        throw LowerError(s"loop exceeded $maxLoopIterations iterations")
      frontier = materialize(lowerPipeline(pipe, env, Some(frontier.df)))
      if (frontier.rows.exists(_.isEmpty)) more = false else parts += frontier
    }
    // unionByName widens column types across parts, as SQL's UNION ALL does
    val union = parts.map(_.df).reduce(_ unionByName _)
    if (parts.exists(_.rows.isEmpty)) union
    else {
      // every part is on the driver: keep one relation, casting a part whose
      // columns differ from the union's (a projection over a LocalRelation,
      // so no job). One partition: a LocalRelation scan is otherwise spread
      // over every core, and a sort after the loop would then range-shuffle
      // a few rows (a sampling job and a map stage).
      def shape(d: DataFrame) = d.schema.fields.toSeq.map(f => (f.name, f.dataType))
      val cols = union.schema.fields.toSeq.map(f =>
        F.col("`" + f.name.replace("`", "``") + "`").cast(f.dataType).as(f.name))
      val rows = parts.flatMap { p =>
        if (shape(p.df) == shape(union)) p.rows.get.toSeq else p.df.select(cols: _*).collect().toSeq
      }
      env.spark.createDataFrame(rows.asJava, union.schema).coalesce(1)
    }
  }

  // ---------- group ----------

  /** `group [keys] (sub-pipeline)` — the sub-pipeline decides the meaning:
    * aggregate → groupBy().agg(); sort+window → partitioned analytic window
    * (invoice_totals.prql:14-19); take → per-group top-n (PRQL 0.6's
    * distinct idiom `group [cols] (take 1)`).
    */
  private def lowerGroup(df0: DataFrame, keys: Seq[Expr], pipe: Seq[Transform], env: Env): DataFrame = {
    def keyCol(e: Expr): Column = e match {
      case Assign(n, x)  => toCol(x, env).as(n)
      case id: Ident     => toCol(id, env)
      case other         => toCol(other, env)
    }
    def keyRef(e: Expr): Column = e match {
      // after a groupBy the key is addressable by its (derived) name
      case Assign(n, _) => F.col(n)
      case id: Ident    => toCol(id, env)
      case other        => toCol(other, env)
    }

    var df = df0
    var order: Seq[SortItem] = Nil
    def orderCols: Seq[Column] =
      order.map(si => if (si.desc) toCol(si.e, env).desc else toCol(si.e, env).asc)

    var aggregated = false
    pipe.foreach {
      case Aggregate(items) =>
        val aggs = items.map(namedAggCol(_, env))
        df = df.groupBy(keys.map(keyCol): _*).agg(aggs.head, aggs.tail: _*)
        aggregated = true

      case Sort(items) =>
        order = items

      case w: WindowT =>
        df = applyWindow(df, keys.map(keyRef), orderCols, w, env)

      case Derive(items) =>
        // bare derive in group context = window funcs partitioned by keys
        df = applyWindowDerives(df, Window.partitionBy(keys.map(keyRef): _*),
          orderCols, None, items, env)

      case Take(lo, hi) =>
        val w = {
          val base = Window.partitionBy(keys.map(keyRef): _*)
          if (order.nonEmpty) base.orderBy(orderCols: _*)
          else base.orderBy(F.monotonically_increasing_id())
        }
        val rn = "__graft_rn"
        val (a, b) = (lo.getOrElse(1L), hi.getOrElse(Long.MaxValue))
        df = df.withColumn(rn, F.row_number().over(w))
          .filter(F.col(rn) >= a && F.col(rn) <= b)
          .drop(rn)

      case Filter(cond) =>
        df = df.filter(toCol(cond, env))

      case other => throw LowerError(s"unsupported transform inside group(): $other")
    }
    // `group [k] ()` with nothing inside is a no-op; aggregated result keeps
    // key + agg columns, which is the PRQL output contract.
    df
  }

  /** Apply a `window ... (derive [...])` transform over the given partition. */
  private def applyWindow(df: DataFrame, partition: Seq[Column], order: Seq[Column],
                          w: WindowT, env: Env): DataFrame = {
    val frame: Option[(Long, Long)] =
      if (w.expanding) Some((Window.unboundedPreceding, Window.currentRow))
      else w.rolling.map(n => (-(n - 1), 0L))
        .orElse(w.rows.map { case (lo, hi) =>
          (lo.getOrElse(Window.unboundedPreceding), hi.getOrElse(Window.unboundedFollowing))
        })
    val rangeFrame: Option[(Long, Long)] = w.range.map { case (lo, hi) =>
      (lo.getOrElse(Window.unboundedPreceding), hi.getOrElse(Window.unboundedFollowing))
    }
    var out = df
    w.pipeline.foreach {
      case Derive(items) =>
        out = applyWindowDerives(out, Window.partitionBy(partition: _*), order,
          frame.map(Left(_)).orElse(rangeFrame.map(Right(_))), items, env)
      case other => throw LowerError(s"only derive is supported inside window(): $other")
    }
    out
  }

  /** Attach window-function columns. `frame`: Left=rows, Right=range. */
  private def applyWindowDerives(df: DataFrame, base: WindowSpec, order: Seq[Column],
                                 frame: Option[Either[(Long, Long), (Long, Long)]],
                                 items: Seq[Expr], env: Env): DataFrame = {
    var out = df
    items.foreach { item =>
      val (name, e) = item match {
        case Assign(n, x) => (n, x)
        case other => throw LowerError(s"window derive item needs a name: $other")
      }
      val withOrder = if (order.nonEmpty) base.orderBy(order: _*) else base
      // ranking/offset functions must keep Spark's default frame; aggregates
      // get the explicit frame (README.md:111-116: SUM(SUM(..)) OVER (.. ROWS
      // BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).
      val spec =
        if (isRankLike(e)) withOrder
        else frame match {
          case Some(Left((lo, hi)))  => withOrder.rowsBetween(lo, hi)
          case Some(Right((lo, hi))) => withOrder.rangeBetween(lo, hi)
          case None if order.nonEmpty =>
            withOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          case None => withOrder
        }
      out = out.withColumn(name, toCol(e, env).over(spec))
    }
    out
  }

  // ---------- tables ----------

  private def resolveTable(t: Ident, env: Env): DataFrame = {
    val name = t.parts.mkString(".")
    env.lets.getOrElse(name,
      env.tables.getOrElse(name,
        env.tables.getOrElse(t.name, // schema-qualified fallback (main.rs:313-317)
          throw LowerError(s"unknown table: $name (known: ${(env.tables.keys ++ env.lets.keys).mkString(", ")})"))))
  }

  // ---------- expressions ----------

  private def namedCol(item: Expr, env: Env): Column = item match {
    case Assign(n, e) => toCol(e, env).as(n)
    case id: Ident    => toCol(id, env)
    case other        => toCol(other, env)
  }

  private def namedAggCol(item: Expr, env: Env): Column = item match {
    case Assign(n, e) => toCol(e, env).as(n)
    case other        => toCol(other, env)
  }

  def toCol(e: Expr, env: Env): Column = e match {
    case Ident(Seq("count")) => F.count(F.lit(1)) // bare `count` = COUNT(*)
    // zero-arg window functions referenced bare: `derive [rn = row_number]`
    case Ident(Seq("row_number")) => F.row_number()
    case Ident(Seq("rank"))       => F.rank()
    case Ident(Seq("dense_rank")) => F.dense_rank()
    case Ident(parts)        => F.col(parts.mkString("."))
    case IntLit(v)           => F.lit(v)
    case FloatLit(v)         => F.lit(v)
    case StrLit(v)           => F.lit(v)
    case BoolLit(v)          => F.lit(v)
    case NullLit             => F.lit(null)
    case DateLit(raw)        =>
      if (raw.contains("T") || raw.contains(":"))
        F.lit(java.sql.Timestamp.valueOf(raw.replace("T", " ")))
      else F.lit(java.sql.Date.valueOf(raw))
    case iv: IntervalLit     => F.expr(intervalSql(iv))

    case BinOp("==", l, NullLit) => toCol(l, env).isNull
    case BinOp("!=", l, NullLit) => toCol(l, env).isNotNull
    case BinOp("==", NullLit, r) => toCol(r, env).isNull
    case BinOp("!=", NullLit, r) => toCol(r, env).isNotNull
    case BinOp(op, l, r) =>
      val (a, b) = (toCol(l, env), toCol(r, env))
      op match {
        case "+" => a + b; case "-" => a - b; case "*" => a * b
        case "/" => a / b; case "%" => a % b
        case "==" => a === b; case "!=" => a =!= b
        case "<" => a < b; case "<=" => a <= b
        case ">" => a > b; case ">=" => a >= b
        case "and" => a && b; case "or" => a || b
        case "??" => F.coalesce(a, b)
        case other => throw LowerError(s"unknown operator $other")
      }
    case UnOp("-", x)   => -toCol(x, env)
    case UnOp("not", x) => !toCol(x, env)

    case PipeE(in, fn) => fn match {
      case Call(f, args, named) => toCol(Call(f, args :+ in, named), env)
      case id: Ident            => toCol(Call(id, Seq(in)), env)
      case other                => throw LowerError(s"cannot pipe into $other")
    }

    case FStr(parts) =>
      F.concat(parts.map {
        case Left(s)  => F.lit(s)
        case Right(x) => toCol(x, env).cast("string")
      }: _*)

    case s: SStr => F.expr(SqlShim.translate(renderSStr(s, env)))

    case Switch(cases) =>
      val (defaults, conds) = cases.partition { case (c, _) => c == BoolLit(true) }
      val whens = conds.map { case (c, v) => (toCol(c, env), toCol(v, env)) }
      if (whens.isEmpty) // degenerate `switch [true -> v]`: just the constant
        defaults.headOption.fold(F.lit(null): Column) { case (_, v) => toCol(v, env) }
      else {
        val start = F.when(whens.head._1, whens.head._2)
        val chained = whens.tail.foldLeft(start) { case (acc, (c, v)) => acc.when(c, v) }
        defaults.headOption.fold(chained) { case (_, v) => chained.otherwise(toCol(v, env)) }
      }

    case RangeE(_, _) => throw LowerError("range only valid as argument of `in`")
    case ListE(_)     => throw LowerError("list literal not valid in scalar position")
    case Assign(_, x) => toCol(x, env)

    case Call(Ident(Seq(fname)), args, named) => lowerCall(fname, args, named, env)
    case Call(f, _, _) => throw LowerError(s"cannot call $f")
  }

  private def lowerCall(fname: String, args: Seq[Expr], named: Map[String, Expr], env: Env): Column = {
    // user-defined `func` — inlined at compile time, zero runtime UDFs
    // (SURVEY §2c: "func name p1 p2 -> expr").
    env.funcs.get(fname).foreach { fd =>
      if (fd.params.length != args.length)
        throw LowerError(s"func $fname expects ${fd.params.length} args, got ${args.length}")
      val sub = fd.params.zip(args).toMap
      return toCol(substitute(fd.body, sub), env)
    }
    def a0 = toCol(args(0), env)
    def a1 = toCol(args(1), env)
    fname match {
      // aggregates (SURVEY §2c)
      case "sum"     => F.sum(a0)
      case "min"     => F.min(a0)
      case "max"     => F.max(a0)
      case "average" | "avg" => F.avg(a0)
      case "stddev"  => F.stddev_samp(a0)
      case "count"   => if (args.isEmpty) F.count(F.lit(1)) else F.count(a0)
      case "count_distinct" => F.countDistinct(a0)
      // window / analytic
      case "lag"  => F.lag(a1, args(0) match { case IntLit(n) => n.toInt; case _ => throw LowerError("lag offset must be int literal") })
      case "lead" => F.lead(a1, args(0) match { case IntLit(n) => n.toInt; case _ => throw LowerError("lead offset must be int literal") })
      case "row_number" => F.row_number()
      case "rank"       => F.rank()
      case "dense_rank" => F.dense_rank()
      case "first" => F.first(a0)
      case "last"  => F.last(a0)
      // membership: `x | in 0..10` → BETWEEN (SURVEY §2c)
      case "in" => args match {
        case Seq(RangeE(lo, hi), x) =>
          val c = toCol(x, env)
          (lo, hi) match {
            case (Some(l), Some(h)) => c.between(toCol(l, env), toCol(h, env))
            case (Some(l), None)    => c >= toCol(l, env)
            case (None, Some(h))    => c <= toCol(h, env)
            case _ => throw LowerError("empty range")
          }
        case Seq(ListE(items), x) => toCol(x, env).isin(items.map(toCol(_, env)): _*)
        case _ => throw LowerError("in expects (range|list, expr)")
      }
      // scalar stdlib — thin by design; s-strings cover the tail (SURVEY §2c)
      case "lower" => F.lower(a0)
      case "upper" => F.upper(a0)
      case "length" => F.length(a0)
      case "trim" => F.trim(a0)
      case "abs" => F.abs(a0)
      case "floor" => F.floor(a0)
      case "ceil" => F.ceil(a0)
      case "sqrt" => F.sqrt(a0)
      case "round" =>
        // PRQL 0.6: `round n_digits x`
        if (args.length == 2) F.round(a1, args(0) match { case IntLit(n) => n.toInt; case _ => throw LowerError("round digits must be int literal") })
        else F.round(a0)
      case "coalesce" => F.coalesce(args.map(toCol(_, env)): _*)
      case other => throw LowerError(s"unknown function: $other (define with `func` or use an s-string)")
    }
  }

  /** Inline substitution for user `func` bodies. */
  private def substitute(e: Expr, sub: Map[String, Expr]): Expr = e match {
    case Ident(Seq(n)) if sub.contains(n) => sub(n)
    case BinOp(op, l, r) => BinOp(op, substitute(l, sub), substitute(r, sub))
    case UnOp(op, x) => UnOp(op, substitute(x, sub))
    case Call(f, args, named) => Call(f, args.map(substitute(_, sub)), named.map { case (k, v) => k -> substitute(v, sub) })
    case Assign(n, x) => Assign(n, substitute(x, sub))
    case PipeE(in, fn) => PipeE(substitute(in, sub), substitute(fn, sub))
    case FStr(parts) => FStr(parts.map { case Right(x) => Right(substitute(x, sub)); case l => l })
    case SStr(parts) => SStr(parts.map { case Right(x) => Right(substitute(x, sub)); case l => l })
    case Switch(cs) => Switch(cs.map { case (c, v) => (substitute(c, sub), substitute(v, sub)) })
    case RangeE(lo, hi) => RangeE(lo.map(substitute(_, sub)), hi.map(substitute(_, sub)))
    case ListE(items) => ListE(items.map(substitute(_, sub)))
    case other => other
  }

  /** Render an s-string to SQL text: literal parts verbatim, `{expr}` holes
    * via [[sqlOf]] (duckdb.rs:53-59 pattern — the reference's prql-compiler
    * renders full PRQL expressions into holes, not just column refs). */
  def renderSStr(s: SStr, env: Env): String =
    s.parts.map {
      case Left(text) => text
      case Right(e)   => sqlOf(e, env)
    }.mkString

  /** `INTERVAL n UNIT` SQL for an interval literal — the same text is valid
    * Spark and DuckDB. Weeks have no SQL unit → days. */
  def intervalSql(iv: IntervalLit): String = {
    val u = if (iv.unit.endsWith("s")) iv.unit.dropRight(1) else iv.unit
    u match {
      case "week" => s"INTERVAL ${iv.n * 7} DAY"
      case other  => s"INTERVAL ${iv.n} ${other.toUpperCase}"
    }
  }

  /** PRQL expression → SQL text, for s-string holes. The output lands in
    * the surrounding (DuckDB-dialect) fragment and then goes through
    * [[SqlShim.translate]] into `functions.expr`, so it must be valid Spark
    * SQL post-shim — every form below is dialect-neutral. User `func`s are
    * inlined first (same rule as [[lowerCall]]); unknown function names
    * pass through as `name(args)` and Spark's parser fails loudly on
    * anything fake — no wrong answers, same contract as SqlShim. */
  def sqlOf(e: Expr, env: Env): String = e match {
    case Ident(parts) => parts.mkString(".")
    case IntLit(v)    => v.toString
    case FloatLit(v)  => v.toString
    case StrLit(v)    => "'" + v.replace("'", "''") + "'"
    case BoolLit(v)   => if (v) "true" else "false"
    case NullLit      => "NULL"
    case DateLit(raw) =>
      if (raw.contains("T") || raw.contains(":"))
        s"TIMESTAMP '${raw.replace("T", " ")}'"
      else s"DATE '$raw'"
    case iv: IntervalLit => intervalSql(iv)

    case BinOp("==", l, NullLit) => s"(${sqlOf(l, env)} IS NULL)"
    case BinOp("!=", l, NullLit) => s"(${sqlOf(l, env)} IS NOT NULL)"
    case BinOp("==", NullLit, r) => s"(${sqlOf(r, env)} IS NULL)"
    case BinOp("!=", NullLit, r) => s"(${sqlOf(r, env)} IS NOT NULL)"
    case BinOp("??", l, r) => s"COALESCE(${sqlOf(l, env)}, ${sqlOf(r, env)})"
    case BinOp(op, l, r) =>
      val sqlOp = op match {
        case "==" => "="; case "!=" => "<>"
        case "and" => "AND"; case "or" => "OR"
        case other => other
      }
      s"(${sqlOf(l, env)} $sqlOp ${sqlOf(r, env)})"
    case UnOp("-", x)   => s"(- ${sqlOf(x, env)})"
    case UnOp("not", x) => s"(NOT ${sqlOf(x, env)})"

    case PipeE(in, fn) => fn match {
      case Call(f, args, named) => sqlOf(Call(f, args :+ in, named), env)
      case id: Ident            => sqlOf(Call(id, Seq(in)), env)
      case other                => throw LowerError(s"cannot pipe into $other")
    }

    case FStr(parts) =>
      parts.map {
        case Left(s)  => "'" + s.replace("'", "''") + "'"
        case Right(x) => s"CAST(${sqlOf(x, env)} AS STRING)"
      }.mkString("CONCAT(", ", ", ")")

    case Switch(cases) =>
      val (defaults, conds) = cases.partition { case (c, _) => c == BoolLit(true) }
      val whens = conds.map { case (c, v) =>
        s"WHEN ${sqlOf(c, env)} THEN ${sqlOf(v, env)}" }.mkString(" ")
      val els = defaults.headOption.map { case (_, v) => s" ELSE ${sqlOf(v, env)}" }.getOrElse("")
      s"CASE $whens$els END"

    case Call(Ident(Seq("in")), Seq(RangeE(Some(l), Some(h)), x), _) =>
      s"(${sqlOf(x, env)} BETWEEN ${sqlOf(l, env)} AND ${sqlOf(h, env)})"
    case Call(Ident(Seq("in")), Seq(ListE(items), x), _) =>
      s"(${sqlOf(x, env)} IN ${items.map(sqlOf(_, env)).mkString("(", ", ", ")")})"
    case Call(Ident(Seq(fname)), args, named) =>
      env.funcs.get(fname) match {
        case Some(fd) =>
          if (fd.params.length != args.length)
            throw LowerError(s"func $fname expects ${fd.params.length} args, got ${args.length}")
          sqlOf(substitute(fd.body, fd.params.zip(args).toMap), env)
        case None =>
          val sqlArgs = fname match {
            // PRQL arg-order quirks: the tuning argument comes first
            case "round" | "lag" | "lead" if args.length == 2 => args.reverse
            case _ => args
          }
          val sqlName = fname match {
            case "average" => "avg"
            case "count_distinct" => return s"count(DISTINCT ${sqlOf(args.head, env)})"
            case other => other
          }
          s"$sqlName(${sqlArgs.map(sqlOf(_, env)).mkString(", ")})"
      }

    case other => throw LowerError(s"cannot render $other in an s-string hole")
  }
}
