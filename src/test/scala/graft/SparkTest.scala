package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExprId, Expression,
  GetStructField, LambdaFunction, NamedLambdaVariable, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object SparkTest {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      // managed tables (bucketing tests) go to a scratch dir, not the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs started on the shared session while `body` runs, counted
    * after the listener bus has drained. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, sites) = jobSitesDuring(body)
    (out, sites.size)
  }

  /** The call site of each Spark job started on the shared session while
    * `body` runs (its last stage's name, e.g. `parquet at Foo.scala:12`;
    * empty for a job over no partitions, which has no stage). */
  def jobSitesDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        sites.add(if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name)
    }
    session.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListeners.drain(session.sparkContext)
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally session.sparkContext.removeSparkListener(listener)
  }

  /** The optimized plan of each query action (`collect`, `localCheckpoint`,
    * a write, ...) run on the shared session while `body` runs, taken after
    * the listener bus has drained. */
  def plansDuring[T](body: => T): (T, Seq[LogicalPlan]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.GraftListeners.drain(session.sparkContext)
      (out, plans.toArray(Array.empty[LogicalPlan]).toSeq)
    } finally session.listenerManager.unregister(listener)
  }

  /** The lambda-invariant work in `plan`: each maximal subtree of a lambda
    * body that reads none of its enclosing lambdas' variables and is more
    * than an attribute, a literal, a foldable expression, `size(attr)` or
    * `attr.field`. Higher-order functions are interpreted, and subexpression
    * elimination does not reach into a lambda, so such a subtree runs once
    * per array element although its value is the same for the whole row. */
  def lambdaInvariants(plan: LogicalPlan): Seq[Expression] = {
    def free(e: Expression): Set[ExprId] = e match {
      case v: NamedLambdaVariable => Set(v.exprId)
      case l: LambdaFunction =>
        free(l.function) -- l.arguments.collect { case v: NamedLambdaVariable => v.exprId }
      case _ => e.children.flatMap(free).toSet
    }
    def ref(e: Expression): Boolean = e match {
      case _: Attribute => true
      case GetStructField(c, _, _) => ref(c)
      case _ => false
    }
    def cheap(e: Expression): Boolean = ref(e) || e.foldable || (e match {
      case Size(c, _) => ref(c)
      case _ => false
    })
    def invariants(body: Expression): Seq[Expression] = body match {
      case l: LambdaFunction => invariants(l.function)
      case e if free(e).isEmpty => if (cheap(e)) Nil else Seq(e)
      case e => e.children.flatMap(invariants)
    }
    def lambdas(e: Expression): Seq[Expression] = e match {
      case l: LambdaFunction => invariants(l.function)
      case _ => e.children.flatMap(lambdas)
    }
    plan.flatMap(_.expressions.flatMap(lambdas))
  }
}
