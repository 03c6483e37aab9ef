package graft.records

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** In-engine consumer of the stock-Iceberg-v2 metadata tree
  * [[IcebergExport]] writes (r6, VERDICT r5 task 6): loads a table from
  * ONLY `metadata/` — version-hint → `vN.metadata.json` → Avro manifest
  * list → manifests (both read by [[IcebergExport.readState]] through
  * Apache Avro's `DataFileStream`) → data-file paths + stats — and serves
  * it as a DataFrame / SQL view. Closes the export loop end-to-end: the same
  * files an external Iceberg runtime would read are readable back
  * in-engine with no reference to the native table's own manifest store.
  *
  * Scale notes: all metadata work is driver-side and proportional to the
  * FILE COUNT (exactly like an Iceberg planning phase); the data scan is
  * a plain parquet multi-path read, so Spark's vectorized reader, column
  * pruning and predicate pushdown all apply unchanged. [[readOffsetRange]]
  * additionally prunes whole files with the per-file `kafka.offset`
  * bounds carried in the manifest entries (`lower_bounds`/`upper_bounds`,
  * field-id 1) — the Iceberg min/max-stats file-skipping pattern: a point
  * lookup over a 100 TB topic plans only the files whose offset interval
  * intersects the probe. */
object IcebergExportReader {

  /** Iceberg manifest-entry status DELETED (spec: 0=EXISTING, 1=ADDED,
    * 2=DELETED); live files are everything else. */
  private val StatusDeleted = 2

  private def liveFiles(state: IcebergTableState): Vector[IcebergDataFile] =
    state.currentFiles.filter(_.status != StatusDeleted)

  private def readFiles(spark: SparkSession, state: IcebergTableState,
                        files: Vector[IcebergDataFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], state.schema)
    else
      spark.read.schema(state.schema).parquet(files.map(_.path): _*)

  /** The table's current snapshot, from metadata/ alone. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val state = new IcebergExport(tableDir).readState()
    readFiles(spark, state, liveFiles(state))
  }

  /** Current snapshot restricted to files whose `kafka.offset` stats
    * interval intersects `[minOffset, maxOffset]` — manifest-level file
    * skipping. Files without recorded bounds are conservatively kept; the
    * residual row filter is applied so results are exact, not just
    * file-granular. */
  def readOffsetRange(spark: SparkSession, tableDir: String,
                      minOffset: Long, maxOffset: Long): DataFrame = {
    val state = new IcebergExport(tableDir).readState()
    val files = liveFiles(state).filter { f =>
      (f.lowerOffset, f.upperOffset) match {
        case (Some(lo), Some(hi)) => hi >= minOffset && lo <= maxOffset
        case _ => true
      }
    }
    readFiles(spark, state, files)
      .where(org.apache.spark.sql.functions.col("kafka.offset")
        .between(minOffset, maxOffset))
  }

  /** Serve the export as SQL: `SELECT ... FROM <viewName>`. */
  def registerView(spark: SparkSession, tableDir: String, viewName: String): Unit =
    read(spark, tableDir).createOrReplaceTempView(viewName)
}
