package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{UNRESOLVED_RELATION, UNRESOLVED_TABLE_VALUED_FUNCTION}

import graft.core.InformationSchema
import graft.functions.LakehouseTvf

/** Analyzer rule that resolves the relation names the app defines on top
  * of the session catalog (the reference resolves them inside DataFusion's
  * planner: a UDTF for `parquet_metadata`, a catalog schema for
  * `information_schema`):
  *
  *  - a call to a function of [[LakehouseTvf.functions]] becomes the
  *    analyzed plan of the DataFrame its builder returns for the evaluated
  *    constant arguments;
  *  - `information_schema.{tables,columns,schemata,df_settings}` becomes a
  *    fresh snapshot of that one view ([[InformationSchema.views]]);
  *  - the reference names `dft.meta.versions` and
  *    `dft.observability.requests` become the session's `meta_versions`
  *    and `observability_requests` views.
  *
  * It runs in the analyzer's hint batch, before `ResolveRelations`, which
  * rejects a three-part name in the session catalog. Subqueries are
  * analyzed with the same batches, so calls inside them resolve too.
  */
case class AppRelations(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsAnyPattern(
        UNRESOLVED_TABLE_VALUED_FUNCTION, UNRESOLVED_RELATION)) {
      case u @ UnresolvedTableValuedFunction(Seq(name), args, _)
          if LakehouseTvf.functions.contains(name.toLowerCase) =>
        val fn = LakehouseTvf.functions(name.toLowerCase)
        if (args.size < fn.required || args.size > fn.params.size)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`",
            "expectedNum" ->
              (if (fn.required == fn.params.size) s"${fn.required}"
               else s"[${fn.required}, ${fn.params.size}]"),
            "actualNum" -> args.size.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        val values = args.zip(fn.params).map { case (arg, (param, dt)) =>
          if (!arg.foldable)
            throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
              "funcName" -> s"`$name`", "paramName" -> s"`$param`",
              "paramType" -> dt.sql))
          Cast(arg, dt, Some(conf.sessionLocalTimeZone)).eval()
        }
        SubqueryAlias(u.name, fn.build(spark, values).queryExecution.analyzed)
      case u: UnresolvedRelation => u.multipartIdentifier.map(_.toLowerCase) match {
        case Seq("information_schema", view) if InformationSchema.views.contains(view) =>
          SubqueryAlias(u.multipartIdentifier,
            InformationSchema.views(view)(spark).queryExecution.analyzed)
        case Seq("dft", "meta", "versions") =>
          u.copy(multipartIdentifier = Seq("meta_versions"))
        case Seq("dft", "observability", "requests") =>
          u.copy(multipartIdentifier = Seq("observability_requests"))
        case _ => u
      }
    }
}
