package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

// graft's one registration module: what the engine adds to a Spark session
// (optimizer rules, the top-k strategy, SQL functions) is listed here, in
// GraftFunctions.register and in GraftExtensions.

/** Runtime registration for sessions created without extensions (the
  * Verify/Bench sessions, and any session a
  * [[graft.records.TypedDecode.withDecoded]] query runs in). Idempotent. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    // band-join auto-binning (see RangeBinJoin) + aggregate pushdown
    // through band joins (BandAggPushdown) for sessions built without
    // spark.sql.extensions; idempotent across repeated register() calls.
    // ORDER matters: BandAggPushdown must see the raw band join BEFORE
    // RangeBinJoin adds its bin equi-key (which disables both rules).
    if (!spark.experimental.extraOptimizations.contains(BandAggPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BandAggPushdown
    if (!spark.experimental.extraOptimizations.contains(RangeBinJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeBinJoin
    // narrows graft_typed_decode to the fields a query extracts
    if (!spark.experimental.extraOptimizations.contains(PruneTypedDecode))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneTypedDecode
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val reg = spark.sessionState.functionRegistry
    // Register-if-absent: the builders are stateless and identical on every
    // call, so re-registration is a no-op except for the WARN
    // "SimpleFunctionRegistry: The function X replaced a previously
    // registered function" it emits per function per register() call —
    // which polluted every bench/verify artifact tail (VERDICT r8 #5).
    def tempFn(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    tempFn("bitset_jaccard")(exprs => BitsetJaccard(exprs(0), exprs(1)))
    tempFn("bitset_contain")(exprs => BitsetContain(exprs(0), exprs(1)))
    tempFn("tokens_to_bitset")(exprs => TokensToBitset(exprs(0), exprs(1)))
    tempFn("tokens_to_hashbits")(exprs => TokensToHashBitset(exprs(0), exprs(1)))
    tempFn("vec_dot")(exprs => VecDot(exprs(0), exprs(1)))
    tempFn("mg_sketch")(exprs =>
      MisraGriesSketch(exprs(0), exprs(1)).toAggregateExpression())
    // Spark's OWN codegen'd bloom-probe expression (what InjectRuntimeFilter
    // plants), registered for explicit use: the engine's always-on bloom
    // semi-join (q21) probes inside whole-stage codegen instead of a Scala
    // UDF. Args: (serialized util.sketch.BloomFilter binary, long value).
    tempFn("graft_might_contain")(exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1)))
  }
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` wiring. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BandAggPushdown)
    ext.injectOptimizerRule(_ => RangeBinJoin)
    ext.injectOptimizerRule(_ => PruneTypedDecode)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction((
      FunctionIdentifier("bitset_jaccard"),
      new ExpressionInfo(classOf[BitsetJaccard].getName, "bitset_jaccard"),
      (exprs: Seq[Expression]) => BitsetJaccard(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("bitset_contain"),
      new ExpressionInfo(classOf[BitsetContain].getName, "bitset_contain"),
      (exprs: Seq[Expression]) => BitsetContain(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("tokens_to_bitset"),
      new ExpressionInfo(classOf[TokensToBitset].getName, "tokens_to_bitset"),
      (exprs: Seq[Expression]) => TokensToBitset(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("tokens_to_hashbits"),
      new ExpressionInfo(classOf[TokensToHashBitset].getName, "tokens_to_hashbits"),
      (exprs: Seq[Expression]) => TokensToHashBitset(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[MisraGriesSketch].getName, "mg_sketch"),
      (exprs: Seq[Expression]) =>
        MisraGriesSketch(exprs(0), exprs(1)).toAggregateExpression()))
  }
}
