package graft.prql

import Ast._

/** Render a parsed [[Ast.Query]] back to PRQL source the [[Parser]] accepts,
  * such that `parse(print(q)) == q` structurally. Its one user is the
  * PrinterRoundTripSpec parse↔print round-trip fuzz — the printer is
  * deliberately conservative (compound sub-expressions are
  * always parenthesized; parenthesizing is loss-free because the parser
  * returns the inner expression unwrapped, Parser.parseAtom's `(` branch).
  *
  * Known non-identities, by design: negative numeric LITERALS print as
  * unary minus (the parser lexes `-5` as UnOp anyway), and f-/s-string
  * literal parts print with `{`/`}` doubled (the lexer's escape form).
  */
object Printer {

  def print(q: Query): String = {
    val funcs = q.funcs.map(f =>
      s"func ${(f.name +: f.params).mkString(" ")} -> ${expr(f.body)}")
    val lets = q.lets.map {
      case LetDef(n, LetSql(s))      => s"let $n = ${expr(s)}"
      case LetDef(n, LetPipeline(p)) => s"let $n = (\n${pipeline(p)}\n)"
    }
    ((funcs ++ lets) :+ pipeline(q.main)).mkString("\n")
  }

  def pipeline(ts: Seq[Transform]): String = ts.map(transform).mkString("\n")

  def transform(t: Transform): String = t match {
    case From(tab, alias) => "from " + alias.map(a => s"$a = ").getOrElse("") + tab
    case Select(items)    => "select " + itemList(items)
    case Derive(items)    => "derive " + itemList(items)
    case Filter(c)        => "filter " + expr(c)
    case Sort(items) =>
      "sort [" + items.map(si => (if (si.desc) "-" else "") + atom(si.e)).mkString(", ") + "]"
    case Take(None, Some(n))      => s"take $n"
    case Take(lo, hi) =>
      s"take ${lo.map(_.toString).getOrElse("")}..${hi.map(_.toString).getOrElse("")}"
    case Join(side, tab, alias, conds) =>
      s"join side:$side " + alias.map(a => s"$a = ").getOrElse("") + tab + " [" +
        conds.map {
          case UsingCol(c) => s"==$c"
          case OnExpr(e)   => expr(e)
        }.mkString(", ") + "]"
    case Group(keys, pipe) => "group " + itemList(keys) + " (\n" + pipeline(pipe) + "\n)"
    case Aggregate(items)  => "aggregate " + itemList(items)
    case WindowT(rows, range, expanding, rolling, pipe) =>
      "window " +
        rows.map(r => s"rows:${intRange(r)} ").getOrElse("") +
        range.map(r => s"range:${intRange(r)} ").getOrElse("") +
        (if (expanding) "expanding:true " else "") +
        rolling.map(n => s"rolling:$n ").getOrElse("") +
        "(\n" + pipeline(pipe) + "\n)"
    case Append(tab) => s"append $tab"
    case Loop(pipe)  => "loop (\n" + pipeline(pipe) + "\n)"
  }

  private def intRange(r: (Option[Long], Option[Long])): String =
    r._1.map(_.toString).getOrElse("") + ".." + r._2.map(_.toString).getOrElse("")

  private def itemList(items: Seq[Expr]): String =
    "[" + items.map(item).mkString(", ") + "]"

  private def item(e: Expr): String = e match {
    case Assign(n, v) => s"$n = ${expr(v)}"
    case other        => expr(other)
  }

  /** Top-level expression (filter conditions, assign RHS, switch arms). */
  def expr(e: Expr): String = e match {
    case id: Ident       => id.toString
    case IntLit(v)       => v.toString
    case FloatLit(v)     => v.toString
    case StrLit(v)       => quote(v)
    case BoolLit(v)      => v.toString
    case NullLit         => "null"
    case DateLit(raw)    => "@" + raw
    case IntervalLit(n, u) => s"$n$u"
    case BinOp(op, l, r) => s"${atom(l)} $op ${atom(r)}"
    case UnOp("not", x)  => s"not ${atom(x)}"
    case UnOp(op, x)     => s"$op${atom(x)}"
    case Call(fn, args, named) =>
      (fn.toString +: (args.map(atom) ++
        named.toSeq.map { case (k, v) => s"$k:${atom(v)}" })).mkString(" ")
    case Assign(n, v)    => s"$n = ${expr(v)}"
    case RangeE(lo, hi)  => lo.map(atom).getOrElse("") + ".." + hi.map(atom).getOrElse("")
    case PipeE(in, fn)   => s"(${expr(in)} | ${expr(fn)})"
    case FStr(parts)     => interp('f', parts)
    case SStr(parts)     => interp('s', parts)
    case Switch(cases) =>
      "switch [" + cases.map { case (c, v) => s"${expr(c)} -> ${expr(v)}" }.mkString(", ") + "]"
    case ListE(items)    => itemList(items)
  }

  /** Atom position (function args, binop operands): parenthesize anything
    * compound so precedence and application boundaries can't re-associate. */
  private def atom(e: Expr): String = e match {
    case _: Ident | _: Lit | _: FStr | _: SStr | _: Switch | _: ListE => expr(e)
    case other => "(" + expr(other) + ")"
  }

  private def quote(v: String): String =
    "\"" + v.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c    => c.toString
    } + "\""

  private def interp(kind: Char, parts: Seq[Either[String, Expr]]): String =
    kind + "\"" + parts.map {
      case Left(s)  => s.replace("{", "{{").replace("}", "}}")
      case Right(e) => "{" + expr(e) + "}"
    }.mkString + "\""
}
