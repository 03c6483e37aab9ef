package graft.records

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** I2 as a library operator: materialize typed columns from registry-framed
  * raw bytes. Rows whose payload has no/unknown envelope keep `null` in the
  * typed column — the raw column is never dropped
  * (`IcebergRemoteStorageManager.java:252-266` fallback semantics).
  */
object TypedDecode {

  /** `outCol` (typed by `schemaId`'s registry schema) decoded from `rawCol`,
    * replacing a column of that name if `df` already has one. Any top-level
    * Avro schema works: records decode to structs, primitives to their
    * Spark type. The decode is a column expression ([[TypedDecodeExpr]]),
    * so the plan stays visible to the optimizer: column pruning reaches the
    * source (a query on `value.x` scans only `rawCol`), and
    * [[graft.plans.PruneTypedDecode]] narrows the decode to the record
    * fields the query extracts. The schema is resolved here, once; this
    * also registers graft's rules on `df`'s session
    * ([[graft.plans.GraftFunctions.register]]). */
  def withDecoded(df: DataFrame, registry: SchemaRegistry, schemaId: Int,
                  rawCol: String = "value_raw", outCol: String = "value"): DataFrame = {
    val schema = registry.lookup(schemaId)
      .getOrElse(throw new IllegalArgumentException(s"unknown schema id $schemaId"))
    graft.plans.GraftFunctions.register(df.sparkSession)
    val raw = GraftSqlBridge.expression(df.col(rawCol))
    df.withColumn(outCol, GraftSqlBridge.column(TypedDecodeExpr(raw, schemaId, schema)))
  }

  /** Name of the decode in query plans. */
  val Name = "graft_typed_decode"
}

/** `graft_typed_decode(raw)`: a registry-framed payload
  * (`0x00 ‖ id int32 BE ‖ avro`, [[RegistryEnvelope]]) decoded straight
  * into Catalyst values by one [[AvroLite.catalystReader]] per task. The
  * writer schema of `schemaId` is resolved once, when the plan is built;
  * a null payload, one shorter than the envelope, a magic byte other than
  * 0 or any other id gives a null value.
  *
  * `selected` prunes a record schema to those top-level fields (ascending
  * ordinals of the writer's record), and the value is a struct of those
  * fields only. [[graft.plans.PruneTypedDecode]] sets it from the fields a
  * query extracts; [[prune]] composes selections. */
final case class TypedDecodeExpr(child: Expression, schemaId: Int, writer: AvroLite.Schema,
                                 selected: Option[Seq[Int]] = None)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a binary column, got ${child.dataType}")
  override def nullable: Boolean = true
  override def prettyName: String = TypedDecode.Name

  override lazy val dataType: DataType = (AvroLite.toSparkType(writer), selected) match {
    case (st: StructType, Some(sel)) => StructType(sel.map(st.fields(_)))
    case (t, _) => t
  }

  /** This decode narrowed to `ordinals` of its current struct type. */
  def prune(ordinals: Seq[Int]): TypedDecodeExpr = {
    val current = selected.getOrElse(dataType.asInstanceOf[StructType].indices)
    copy(selected = Some(ordinals.distinct.sorted.map(current)))
  }

  @transient private lazy val reader = AvroLite.catalystReader(writer, selected)

  /** The decoded value of one payload, or null. */
  def decodePayload(p: Array[Byte]): Any =
    if (p.length < 5 || p(0) != 0 ||
        ((p(1) & 0xFF) << 24 | (p(2) & 0xFF) << 16 | (p(3) & 0xFF) << 8 | (p(4) & 0xFF)) != schemaId) null
    else reader(ByteBuffer.wrap(p, 5, p.length - 5).order(ByteOrder.LITTLE_ENDIAN))

  override protected def nullSafeEval(input: Any): Any = decodePayload(input.asInstanceOf[Array[Byte]])

  /** Generated code calls [[decodePayload]] on this expression. Unlike a
    * `CodegenFallback`, that keeps the decode and its consumers in one
    * whole-stage codegen stage, so the decoded struct is read field by
    * field and never copied into an `UnsafeRow`. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("typedDecode", this)
    nullSafeCodeGen(ctx, ev, raw => {
      val v = ctx.freshName("decoded")
      s"""Object $v = $self.decodePayload($raw);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $v; }""".stripMargin
    })
  }

  override def toString: String =
    s"$prettyName($child, $schemaId${selected.fold("")(_ =>
      dataType.asInstanceOf[StructType].fieldNames.mkString(", [", ", ", "]"))})"

  override protected def withNewChildInternal(newChild: Expression): TypedDecodeExpr =
    copy(child = newChild)
}
