package graft.engine

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, TimeTravelSpec, UnresolvedRelation}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_RELATION

/** Analyzer resolution rule that makes the shared registry visible to every
  * session: a single-part relation name that Spark's own resolution left
  * unresolved (no session temp view or temporary table, no catalog table of
  * that name) and that names a binding resolves to the binding's
  * `TableEnv.materializeDF` plan, built at analysis, so a filesystem binding
  * lists its files per statement. A catalog view resolves to its stored
  * (schema-captured) text, rewritten by `FlinkDialect` and analyzed in place.
  * Session shadows win through Spark's resolution order, which runs first.
  * The plan is wrapped as Spark wraps a temporary view, so a SQL temporary
  * view whose body names a binding records the name as a temporary view it
  * refers to, and a later session shadow of that name wins inside the body
  * too — as it did when every session held a temp-view copy.
  *
  * One statement that names a binding twice (a self-join, a subquery, a view
  * body) resolves it once: the plan is kept in Spark's per-analysis relation
  * cache under a key no catalog lookup produces.
  *
  * A catalog view whose expansion reaches itself fails with a named error
  * instead of recursing: every relation inside an expanded body carries the
  * chain of views it sits in. `GraftSession.configure` installs the rule, so
  * every session, `newSession()` ones included, has it.
  */
final class CatalogRelations(spark: SparkSession) extends Rule[LogicalPlan] {
  import CatalogRelations._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(UNRESOLVED_RELATION)) {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 && !u.isStreaming =>
        val name = u.multipartIdentifier.head
        val chain = u.getTagValue(ViewChain).getOrElse(Nil)
        if (chain.exists(_.equalsIgnoreCase(name))) throw cycle(name :: chain)
        TableEnv.lookup(name).flatMap(bindingPlan)
          .orElse(TableEnv.viewMatSql(name).map(viewPlan(spark, name, _, chain)))
          .map(p => SubqueryAlias(name, asTempView(name, p)))
          .getOrElse(u)
    }

  private def bindingPlan(b: TableEnv.Binding): Option[LogicalPlan] = {
    val key = (Seq(MemoCatalog, b.name), None)
    val cache = memo
    cache.get(key).orElse(TableEnv.materializeDF(spark, b).map { df =>
      val p = df.queryExecution.analyzed
      cache.update(key, p)
      p
    })
  }
}

object CatalogRelations {
  private type Memo = mutable.Map[(Seq[String], Option[TimeTravelSpec]), LogicalPlan]

  /** Views being expanded around a relation, innermost first. */
  private val ViewChain = TreeNodeTag[List[String]]("graft.viewChain")
  private val MemoCatalog = "\u0000graft.binding"
  /** The statement's relation cache while a view body is analyzed: the
    * nested analyzer run starts a fresh analysis context, and the body must
    * share the statement's binding plans. */
  private val inheritedMemo = new ThreadLocal[Memo]

  private def memo: Memo =
    Option(inheritedMemo.get).getOrElse(AnalysisContext.get.relationCache)

  /** A view body that did not resolve stays bare, so the analysis check
    * names what is missing (a View needs the body's schema). */
  private def asTempView(name: String, plan: LogicalPlan): LogicalPlan =
    if (!plan.resolved) plan
    else View(CatalogTable(TableIdentifier(name), CatalogTableType.VIEW,
      CatalogStorageFormat.empty, plan.schema,
      properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true")),
      isTempView = true, plan)

  private def cycle(chain: List[String]): IllegalArgumentException =
    new IllegalArgumentException(
      s"view cycle: ${chain.reverse.mkString(" -> ")} — a catalog view " +
        "cannot reference itself, directly or through other views")

  /** Parse a view body with every relation in it tagged as inside `chain`. */
  private def parseBody(spark: SparkSession, sql: String, chain: List[String]): LogicalPlan = {
    def tag(p: LogicalPlan): Unit = p.foreachWithSubqueries { node =>
      node match {
        case u: UnresolvedRelation => u.setTagValue(ViewChain, chain)
        case _ => ()
      }
      node.innerChildren.foreach { case c: LogicalPlan => tag(c); case _ => () }
    }
    val body = spark.sessionState.sqlParser.parsePlan(FlinkDialect.rewrite(sql))
    tag(body)
    body
  }

  private def viewPlan(spark: SparkSession, name: String, sql: String,
      chain: List[String]): LogicalPlan = {
    val body = parseBody(spark, sql, name.toLowerCase :: chain)
    val outer = memo
    val saved = inheritedMemo.get
    inheritedMemo.set(outer)
    try spark.sessionState.analyzer.execute(body)
    finally inheritedMemo.set(saved)
  }

  /** A catalog view body analyzed as if it were already registered under
    * `name`: a body that reaches `name` again fails with the cycle error
    * at CREATE VIEW time. */
  def viewBody(spark: SparkSession, name: String, sql: String): DataFrame =
    org.apache.spark.sql.graft.Shims.dataFrame(spark,
      parseBody(spark, sql, List(name.toLowerCase)))
}
