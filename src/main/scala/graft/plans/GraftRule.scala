package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The frame every graft optimizer rule runs in. A rule states only
  * its [[rewrite]] of one node; the frame owns the rest:
  *
  *   - FALLBACK: a `NonFatal` thrown while rewriting a node leaves that
  *     node as it was — the plain plan answers — and is counted per
  *     rule ([[GraftRule.errors]]), so a rule that fails on every query
  *     shows instead of hiding behind correct rows.
  *   - STAND-DOWN: while [[GraftRule.internally]] runs on this thread,
  *     every graft rule returns its plan unchanged. The Spark queries a
  *     rule plans or runs to decide (sidecar collects, dictionary,
  *     bloom and join-key cuts, serve-plan builds) run inside it, so a
  *     decision never re-enters the rules. A serve's spliced subtree
  *     still meets every other rule: they all sit in one optimizer
  *     batch, which visits the splice.
  *   - SWITCHES and THRESHOLDS: [[switch]] names the conf key that
  *     turns a rule off; [[GraftRule.conf]] is the one typed reader of
  *     `spark.graft.*` keys, falling back to the default on a malformed
  *     value.
  *
  * [[GraftRule.scanOf]] is the one matcher for "a bare parquet table
  * under attribute-only Projects and Filters" that the serve rules
  * recognize.
  */
trait GraftRule extends Rule[LogicalPlan] {

  def spark: SparkSession

  /** One node's rewrite: Some(replacement), or None to keep the node. */
  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]]

  /** The conf key that turns this rule off when set to false. */
  protected def switch: Option[String] = None

  final override def apply(plan: LogicalPlan): LogicalPlan =
    if (GraftRule.inside.get() || !switch.forall(GraftRule.conf(spark, _, true))) plan
    else {
      val pf = rewrite
      plan.transform { case node =>
        try pf.applyOrElse(node, (_: LogicalPlan) => None).getOrElse(node)
        catch {
          case scala.util.control.NonFatal(_) =>
            GraftRule.caught.computeIfAbsent(getClass.getSimpleName,
              _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
            node
        }
      }
    }
}

object GraftRule {

  private val inside: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Run `body` with every graft rule standing down on this thread;
    * nested calls restore the outer state. */
  def internally[T](body: => T): T = {
    val outer = inside.get()
    inside.set(java.lang.Boolean.TRUE)
    try body finally inside.set(outer)
  }

  private val caught =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Rule name -> node rewrites that threw and fell back, since the JVM
    * started. */
  def errors: Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    caught.forEach((rule, n) => out += rule -> n.get())
    out.result()
  }

  /** The session's value of `key`, parsed as `default`'s type; the
    * default when unset or malformed. */
  def conf[T](spark: SparkSession, key: String, default: T): T = {
    val parse: String => Any = default match {
      case _: Boolean => _.toBoolean
      case _: Double  => _.toDouble
      case _: Int     => _.toInt
    }
    spark.conf.getOption(key)
      .flatMap(v => scala.util.Try(parse(v).asInstanceOf[T]).toOption)
      .getOrElse(default)
  }

  /** A bare single-root parquet table: the Filter conditions met on the
    * way down (outermost first), the relation and its root. */
  final case class Scan(conds: Seq[Expression], hfs: HadoopFsRelation, root: String)

  /** `plan` as attribute-only Projects and Filters over a
    * [[HadoopFsRelation]] with exactly one root path; None for any
    * other node on the way. Callers decide how many conditions they
    * accept. */
  def scanOf(plan: LogicalPlan): Option[Scan] = plan match {
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      scanOf(p.child)
    case Filter(cond, child) => scanOf(child).map(s => s.copy(conds = cond +: s.conds))
    case LogicalRelation(hfs: HadoopFsRelation, _, _, _, _)
        if hfs.location.rootPaths.size == 1 =>
      Some(Scan(Nil, hfs, hfs.location.rootPaths.head.toString))
    case _ => None
  }

  /** All of `xs`, or None when any is missing. */
  def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}
