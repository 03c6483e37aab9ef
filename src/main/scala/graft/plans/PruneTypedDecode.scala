package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

import graft.records.TypedDecodeExpr

/** Narrows each `graft_typed_decode` ([[TypedDecodeExpr]]) to the top-level
  * record fields its consumers extract, so the decoder skips every other
  * field — the role Spark's `OptimizeCsvJsonExprs` plays for `from_json`.
  * Two shapes are rewritten:
  *
  *  - `Project|Aggregate[.. v.f ..] ← Project[decode(raw) AS v]`, the shape
  *    a decode used by several expressions keeps (CollapseProject does not
  *    inline a costly expression into more than one consumer). When the
  *    parent reads `v` only through `GetStructField`, the child's decode is
  *    narrowed and the parent's ordinals are remapped: still one decode per
  *    row. A parent that consumes the whole `v` keeps the full struct.
  *  - `decode(raw).f` in any expression: a decode of one field.
  *
  * A plan without the decode is returned after one scan for it. */
object PruneTypedDecode extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[TypedDecodeExpr])))) plan
    else plan.transformUp {
      case p @ Project(_, c: Project) => narrowChild(p, c)
      case a @ Aggregate(_, _, c: Project, _) => narrowChild(a, c)
    }.transformAllExpressions {
      case GetStructField(d: TypedDecodeExpr, ordinal, name) if width(d) > 1 =>
        GetStructField(d.prune(Seq(ordinal)), 0, name)
    }

  private def width(d: TypedDecodeExpr): Int = d.dataType match {
    case st: StructType => st.length
    case _ => 0
  }

  /** `parent` over `child` with every decode alias of `child` narrowed to
    * the fields `parent` extracts from it. */
  private def narrowChild(parent: LogicalPlan, child: Project): LogicalPlan =
    child.projectList.foldLeft(parent) {
      case (p, al @ Alias(d: TypedDecodeExpr, _)) if width(d) > 1 =>
        fieldsUsed(p.expressions, al.exprId) match {
          case Some(used) if used.nonEmpty && used.size < width(d) =>
            val ordinals = used.toSeq.sorted
            val narrowed = Alias(d.prune(ordinals), al.name)()
            val attr = narrowed.toAttribute
            val newChild = p.children.head.asInstanceOf[Project]
            p.transformExpressions {
              case GetStructField(a: Attribute, o, n) if a.exprId == al.exprId =>
                GetStructField(attr, ordinals.indexOf(o), n)
            }.withNewChildren(Seq(newChild.copy(projectList =
              newChild.projectList.map(e => if (e.exprId == al.exprId) narrowed else e))))
          case _ => p
        }
      case (p, _) => p
    }

  /** The ordinals of `id`'s struct that `exprs` extract, or None when some
    * expression uses the whole value. */
  private def fieldsUsed(exprs: Seq[Expression], id: ExprId): Option[Set[Int]] = {
    var used = Set.empty[Int]
    var whole = false
    def visit(e: Expression): Unit = e match {
      case GetStructField(a: Attribute, o, _) if a.exprId == id => used += o
      case a: Attribute if a.exprId == id => whole = true
      case other => other.children.foreach(visit)
    }
    exprs.foreach(visit)
    if (whole) None else Some(used)
  }
}
