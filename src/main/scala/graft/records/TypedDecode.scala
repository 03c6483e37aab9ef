package graft.records

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.udf

/** I2 as a library operator: materialize typed columns from registry-framed
  * raw bytes. Rows whose payload has no/unknown envelope keep `null` in the
  * typed column — the raw column is never dropped
  * (`IcebergRemoteStorageManager.java:252-266` fallback semantics).
  */
object TypedDecode {

  /** `outCol` (typed by `schemaId`'s registry schema) decoded from `rawCol`,
    * replacing a column of that name if `df` already has one. Any top-level
    * Avro schema works: records decode to structs, primitives to their
    * Spark type. The decode is a column expression, so the plan stays
    * visible to the optimizer: column pruning reaches the source (a query
    * on `value.x` scans only `rawCol`) and the rest of the row is never
    * deserialized. Registry schemas are parsed once per executor (the
    * registry caches per JVM). */
  def withDecoded(df: DataFrame, registry: SchemaRegistry, schemaId: Int,
                  rawCol: String = "value_raw", outCol: String = "value"): DataFrame = {
    val schema = registry.lookup(schemaId)
      .getOrElse(throw new IllegalArgumentException(s"unknown schema id $schemaId"))
    val decode: UDF1[Array[Byte], Any] = raw => registry.decode(raw) match {
      case Some((id, v)) if id == schemaId => v
      case _ => null
    }
    df.withColumn(outCol, udf(decode, AvroLite.toSparkType(schema)).withName(UdfName)(df.col(rawCol)))
  }

  /** Name of the decode in query plans. */
  val UdfName = "graft_typed_decode"
}
