package graft.bench

import org.apache.spark.sql.SparkSession

/** Re-derives the curation digests outside the benchmark loop:
  *
  * {{{
  *   CorpusTool write  <dir>         # the curation corpus as <dir>/<table>.parquet
  *   CorpusTool digest <verifyOut>   # digest of each query's graft.Verify output
  * }}}
  *
  * `graft.Verify <dir> <verifyOut> <query>...` followed by
  * `scripts/oracle_check_strict.py <dir> <verifyOut>` checks the same outputs
  * against the DuckDB oracle. */
object CorpusTool {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args match {
      case Array("write", dir) => Corpus.write(spark, dir)
      case Array("digest", out) =>
        CurationMix.Queries.foreach { q =>
          println(s"$q ${CurationMix.digest(spark.read.parquet(s"$out/$q"))}")
        }
      case _ => System.err.println("usage: CorpusTool write <dir> | digest <verifyOut>")
    } finally spark.stop()
  }
}
