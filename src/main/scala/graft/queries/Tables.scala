package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared table access + determinism helpers for the query inventory.
  *
  * Scale notes (100 TB design intent): every query here reads parquet through
  * the DataSource V2 scan, so filter/projection pushdown and partition
  * pruning come from Catalyst; no query materializes an unbounded
  * collection on the driver. Small dimension tables (region/nation/customer
  * at TPC-H ratios) are explicitly broadcast in joins.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan spread (optimization guide §2.2/§2.5 "input
    * skew: one huge unsplittable file"): a parquet input whose TOTAL size
    * fits inside one scan split (`spark.sql.files.maxPartitionBytes`) is
    * read by exactly ONE task — a single-row-group file cannot be split —
    * so every narrow kernel between the scan and the first exchange
    * (tokenize + md5 shingles, decimal casts, JSON parsing) runs
    * single-threaded no matter how many cores the session has. For such
    * inputs a round-robin repartition spreads the scan
    * output across `defaultParallelism` tasks; the shuffled bytes are by
    * construction ≤ one split (~128 MB), i.e. noise next to a 32× gain on
    * the dominant stage. The condition is derived from the input, not
    * tuned to local[32]: any production-sized table (more bytes than one
    * split) takes the `df` branch unchanged, so no corpus is ever
    * re-shuffled at scale. Round-robin (not hash-on-key): a keyed
    * repartition forces its key columns into the scan's ReadSchema even
    * when the query never reads them, silently un-pruning every consumer
    * (caught by the q02 plan lock); round-robin keeps pruning intact and
    * stays deterministic under task retry through Spark's default
    * sort-before-repartition (SPARK-23207).
    *
    * Known over-approximation (ADVICE r12): Spark sizes splits as
    * max(openCostInBytes, totalBytes/defaultParallelism) capped by
    * maxPartitionBytes, so a MULTI-row-group file under the cap is already
    * read by several tasks and the injected exchange is redundant there
    * (bounded: ≤ one split of bytes, sub-split inputs only — a perf nit,
    * never a correctness or at-scale issue, and the driver's bench tables
    * are all single-row-group where the spread is exactly right). */
  private def spread(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = table(s, dir, name)
    val want = s.sparkContext.defaultParallelism
    if (want > 1 && inputBytes(s, s"$dir/$name.parquet") <= maxSplitBytes(s))
      df.repartition(want)
    else df
  }

  /** Memoized per resolved path for the process lifetime (ADVICE r12):
    * the size decides a plan shape and is probed at every table reference
    * of every plan construction — a repeated driver-side filesystem
    * metadata call for a value that never changes within a run (the bench
    * corpora are immutable; a table that grows past one split between
    * queries of one session is not a supported shape). A failed probe is
    * NOT memoized: it answers "unknown size, never spread" for this plan
    * only, so one transient filesystem error cannot turn the spread off
    * for the rest of the session. */
  private val inputBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def inputBytes(s: SparkSession, path: String): Long =
    Option(inputBytesCache.get(path)).map(_.longValue).getOrElse {
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val n = fs.getContentSummary(p).getLength
        inputBytesCache.put(path, n)
        n
      } catch { case _: Exception => Long.MaxValue } // unknown size: never spread
    }

  private def maxSplitBytes(s: SparkSession): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    catch { case _: Throwable => 128L * 1024 * 1024 }

  def lineitem(s: SparkSession, d: String): DataFrame =
    spread(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = spread(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` has shipped in two parquet encodings across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses by default — read
    * nanos as long, truncate to micros; identical wall-clock values to
    * DuckDB's ns->datetime truncation) and plain TIMESTAMP(MICROS)/NTZ.
    * Normalize both to session-TZ `TimestampType` so every downstream query
    * sees one shape regardless of the file vintage. */
  // events stays UNSPREAD: its consumers (window/band/sketch families)
  // project a few narrow columns and immediately exchange on user_id/type —
  // the first stage is scan+project, not per-row compute, so a spread only
  // adds a second exchange (measured: +0.15–0.8 s each on i02–i05, q08,
  // q26, w06/w07/w10 vs no win anywhere in the family).
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = spread(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = spread(s, d, "embeddings")

  /** Cast to DECIMAL(18,2) before aggregating: decimal addition is exact and
    * order-independent, so Spark and the DuckDB oracle agree bit-for-bit
    * regardless of partitioning/shuffle order. Doubles would differ in the
    * last ulp depending on reduction order. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Products of 2-dp monetary values have at most 6 true decimal places, so
    * DECIMAL(18,6) recovers the exact value from the double product with no
    * rounding ties — Spark (HALF_UP) and DuckDB agree unconditionally. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Final-output normalization: the exact decimal aggregate is cast to
    * DOUBLE on BOTH sides (Spark and the DuckDB oracle mirror each other).
    * Decimal OUTPUT columns are avoided entirely: a decimal's string form
    * carries its scale ("38273.00", "3970207.191100"), and any comparator
    * that normalizes one side through float64 (e.g. pandas) sees
    * "38273.0" != "38273.00" — round 1 lost 14 hash checks to exactly
    * this. A DOUBLE produced from the same exact decimal is bit-identical
    * on both sides (correctly rounded conversion), so every downstream
    * normalization agrees. The aggregation itself stays decimal → still
    * order-independent under any partitioning. */
  def out2(c: Column): Column = c.cast("double")
  def out6(c: Column): Column = c.cast("double")
}
