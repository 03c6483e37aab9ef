package graft.queries

import graft.core.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-stage decomposition probe for the p03 curation funnel (r8, VERDICT
  * r7 task 3): p03's five stages share one artifact number in BENCH, so a
  * quadratic hiding in one stage is indistinguishable from benign
  * survivor growth. This tool times each stage IN ISOLATION (inputs
  * eagerly checkpointed before the clock starts) and reports both seconds
  * and the stage's output cardinality, so superlinear growth attributes
  * to a named stage and can be separated into "more survivors" (rows
  * grow) vs "worse per-row cost" (sec/row grows).
  *
  * `runMain graft.queries.P03StageProbe <sfDir>` → one JSON line
  * `{"sf_dir":…,"stages":{"tok":{"sec":…,"rows":…},…}}`. Run at /tmp/sf1
  * and /tmp/sf10 and compare per-stage ratios.
  *
  * Lives in the queries package (not tools) because it reuses the
  * package-private stage builders — the probe must time EXACTLY the
  * expressions p03 runs, not a reimplementation.
  */
object P03StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: P03StageProbe <sfDir>")
    val dir = args.head
    val spark = LocalSession.session(LocalSession.envCpus)
    import LocalSession.timed
    import TextQueries._

    val out = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()
    def stage(name: String)(f: => DataFrame): DataFrame = {
      val (sec, df) = timed(f.localCheckpoint(true))
      val rows = df.count()
      out(name) = (sec, rows)
      System.err.println(f"[p03] $name%-8s ${sec}%8.2f s  $rows%10d rows")
      df
    }

    val tok = stage("tok") { normToks(spark, dir) }
    val sig = stage("sig") { d02From(spark, tok) }
    val pairs = stage("pairs") { d03From(sig) }
    val keepers = stage("cluster") { clusterKeepers(spark, pairs, tok.select(col("doc_id"))) }
    val s2 = stage("lang") {
      t03From(tok).filter(col("pred_lang") === col("lang")).select("doc_id")
    }
    val s3 = stage("quality") {
      s2.join(t02From(tok).select("doc_id", "n_tokens", "n_distinct", "ttr"), "doc_id")
        .filter(col("n_tokens") >= CleanMinTokens && col("ttr") >= CleanMinTtr)
        .select("doc_id", "n_distinct")
    }
    val s4 = stage("dedup") { s3.join(keepers, "doc_id") }
    stage("quota") {
      graft.plans.TopKPerGroup(
        s4.join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id"),
        Seq("source"), Seq("n_distinct" -> true, "doc_id" -> false), SourceQuota)
    }

    val js = out.map { case (k, (sec, rows)) =>
      s""""$k":{"sec":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))},"rows":$rows}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf_dir":"$dir","stages":$js}""")
    spark.stop()
  }
}
