package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExpressionInfo, NamedExpression, PythonUDAF, WindowFunctionType}
import org.apache.spark.sql.catalyst.planning.{PhysicalAggregation, PhysicalWindow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Registration of the engine's native expressions as SQL functions, and
  * of its planner strategy (`ClusteredAggregate`).
  *
  * Two entry points, same function set and strategy:
  *   - `GraftExtensions` for `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (the SparkSessionExtensions path — cluster deployments);
  *   - `GraftFunctions.register(spark)` for sessions the engine doesn't
  *     build itself (the driver harness creates the SparkSession, so every
  *     query entry registers idempotently before building its plan).
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (
      FunctionIdentifier("graft_ema"),
      new ExpressionInfo(classOf[EmaFold].getName, "graft_ema"),
      (es: Seq[Expression]) => EmaFold(es(0), es(1))
    ),
    (
      FunctionIdentifier("graft_autocorr1"),
      new ExpressionInfo(classOf[AutocorrLag1].getName, "graft_autocorr1"),
      (es: Seq[Expression]) => AutocorrLag1(es(0), es(1))
    ),
    (
      FunctionIdentifier("graft_dotf"),
      new ExpressionInfo(classOf[DotF].getName, "graft_dotf"),
      (es: Seq[Expression]) => DotF(es(0), es(1))
    ),
    (
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, "graft_minhash"),
      (es: Seq[Expression]) => ShingleMinHash(es(0), es(1), es(2))
    ),
    (
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHash(es(0), es(1))
    ),
    (
      FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardShingles].getName, "graft_jaccard"),
      (es: Seq[Expression]) => JaccardShingles(es(0), es(1), es(2))
    ),
    (
      FunctionIdentifier("graft_trailing"),
      new ExpressionInfo(classOf[TrailingFeatures].getName, "graft_trailing"),
      (es: Seq[Expression]) => TrailingFeatures(es(0), es(1), es(2), es(3), es(4))
    ),
    (
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (es: Seq[Expression]) => Shingles(es(0), es(1))
    ),
    (
      FunctionIdentifier("graft_embed"),
      new ExpressionInfo(classOf[HashedNgramEmbed].getName, "graft_embed"),
      (es: Seq[Expression]) => HashedNgramEmbed(es(0), es(1))
    )
  )

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    val extra = spark.experimental.extraStrategies
    if (!extra.contains(ClusteredAggregate)) spark.experimental.extraStrategies = ClusteredAggregate +: extra
  }
}

/** Plans a batch aggregate that feeds a window onto the window's exchange.
  * Spark plans `groupBy(series, bucket)` → `Window.partitionBy(series)`
  * with two hash exchanges, (series, bucket) then series. Clustering on
  * series alone already keeps every group in one partition, so here the
  * final aggregate requires only the window's partition keys:
  * `EnsureRequirements` places one exchange on them above the map-side
  * partial aggregate, and the window reuses it. Applies when every window
  * partition key is a grouping key of the aggregate below; streaming
  * aggregates (their state store pins the partitioning), windows without
  * partition keys, distinct aggregates and Python UDAFs are left to Spark.
  */
object ClusteredAggregate extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalWindow(
          WindowFunctionType.SQL, windowExprs, partitionSpec, orderSpec,
          agg @ PhysicalAggregation(grouping, aggExprs, result, child))
        if partitionSpec.nonEmpty && !agg.isStreaming &&
          aggExprs.forall(a => !a.isDistinct && !a.aggregateFunction.isInstanceOf[PythonUDAF]) =>
      (for {
        keys <- clusterKeys(partitionSpec, grouping, result)
        top <- AggUtils.planAggregateWithoutDistinct(grouping, aggExprs, result, planLater(child)).headOption
        finalAgg <- clusteredOn(top, keys)
      } yield {
        finalAgg.setLogicalLink(agg) // so AQE re-plans the aggregate as its own node
        WindowExec(windowExprs, partitionSpec, orderSpec, finalAgg)
      }).toSeq
    case _ => Nil
  }

  /** The grouping attributes the window's partition keys name, if every
    * key is an aggregate output bound to a grouping key.
    */
  private def clusterKeys(
      partitionSpec: Seq[Expression],
      grouping: Seq[NamedExpression],
      result: Seq[NamedExpression]
  ): Option[Seq[Expression]] = {
    val groupAttrs = grouping.map(_.toAttribute)
    val keys = partitionSpec.flatMap {
      case k: Attribute =>
        result
          .find(_.exprId == k.exprId)
          .map { case Alias(e, _) => e; case e => e }
          .filter(e => groupAttrs.exists(_.semanticEquals(e)))
      case _ => None
    }
    if (keys.length == partitionSpec.length) Some(keys) else None
  }

  private def clusteredOn(finalAgg: SparkPlan, keys: Seq[Expression]): Option[SparkPlan] = finalAgg match {
    case h: HashAggregateExec => Some(h.copy(requiredChildDistributionExpressions = Some(keys)))
    case o: ObjectHashAggregateExec => Some(o.copy(requiredChildDistributionExpressions = Some(keys)))
    case s: SortAggregateExec => Some(s.copy(requiredChildDistributionExpressions = Some(keys)))
    case _ => None
  }
}

/** SparkSessionExtensions injector: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    ext.injectPlannerStrategy(_ => ClusteredAggregate)
  }
}
