package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

// graft's one registration module: what the engine adds to a Spark session
// (optimizer rules, the top-k strategy, SQL functions) is listed once here,
// and both GraftFunctions.register and GraftExtensions install from it.

/** Runtime registration for sessions created without extensions (the
  * Verify/Bench sessions, and any session a
  * [[graft.records.TypedDecode.withDecoded]] query runs in). Idempotent. */
object GraftFunctions {

  /** Optimizer rules, in order. ORDER matters: BandAggPushdown must see the
    * raw band join BEFORE RangeBinJoin adds its bin equi-key (which
    * disables both rules); PruneTypedDecode narrows graft_typed_decode to
    * the fields a query extracts. */
  private[plans] val rules: Seq[Rule[LogicalPlan]] = Seq(BandAggPushdown, RangeBinJoin, PruneTypedDecode)

  /** SQL functions: name, the expression class (for `DESCRIBE FUNCTION`),
    * builder. */
  private[plans] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("bitset_jaccard", classOf[BitsetJaccard], exprs => BitsetJaccard(exprs(0), exprs(1))),
    ("bitset_contain", classOf[BitsetContain], exprs => BitsetContain(exprs(0), exprs(1))),
    ("tokens_to_bitset", classOf[TokensToBitset], exprs => TokensToBitset(exprs(0), exprs(1))),
    ("tokens_to_hashbits", classOf[TokensToHashBitset], exprs => TokensToHashBitset(exprs(0), exprs(1))),
    ("vec_dot", classOf[VecDot], exprs => VecDot(exprs(0), exprs(1))),
    ("mg_sketch", classOf[MisraGriesSketch],
      exprs => MisraGriesSketch(exprs(0), exprs(1)).toAggregateExpression()),
    // Spark's OWN codegen'd bloom-probe expression (what InjectRuntimeFilter
    // plants), registered for explicit use: the engine's always-on bloom
    // semi-join (q21) probes inside whole-stage codegen instead of a Scala
    // UDF. Args: (serialized util.sketch.BloomFilter binary, long value).
    ("graft_might_contain", classOf[BloomFilterMightContain],
      exprs => BloomFilterMightContain(exprs(0), exprs(1))))

  def register(spark: SparkSession): Unit = {
    rules.foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ r
    }
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val reg = spark.sessionState.functionRegistry
    // Register-if-absent: the builders are stateless and identical on every
    // call, so re-registration is a no-op except for the WARN
    // "SimpleFunctionRegistry: The function X replaced a previously
    // registered function" it emits per function per register() call —
    // which polluted every bench/verify artifact tail (VERDICT r8 #5).
    functions.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` wiring. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    GraftFunctions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
