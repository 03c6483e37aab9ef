package graft.bench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry

/** `curation_mix`: one op is one pass over the curation queries
  * ([[CurationMix.Queries]], through `SparkEntry.queries`) on the seeded
  * sf0.1-shaped corpus, each run through the noop sink, in an order the
  * seed permutes per pass. Session caches are dropped before every pass.
  * The first pass is a warm-up op that, instead of the noop sink, checks
  * each query's order-independent output digest against the recorded one. */
final class CurationMix(a: Args, spark: SparkSession) extends Workload {
  import CurationMix._

  private var dir: String = _
  private val rng = new SplittableRandom(a.seed)
  private val ledger: Option[Ledger] =
    if (a.trace) { val l = new Ledger; spark.sparkContext.addSparkListener(l); Some(l) } else None

  override def setupRound(round: Int): Unit = {
    val previous = Option(dir)
    dir = s"${a.tmp}/corpus/r$round"
    Corpus.write(spark, dir)
    previous.foreach(p => TierCycle.deleteTree(java.nio.file.Paths.get(p)))
  }

  override val warmOps: Int = 1
  override val minOps: Int = 1

  override def op(i: Int, traced: Boolean): OpResult = {
    val verify = i == 0
    val order = shuffled(Queries)
    spark.catalog.clearCache()
    var ok = true
    val perQuery = order.map { q =>
        spark.sparkContext.setJobGroup(group(i, q), q)
      val t0 = System.nanoTime()
      Tracer.span(s"query.$q") {
        val df = SparkEntry.queries(q)(spark, dir)
        if (verify) {
          val d = digest(df)
          println(s"# digest $q $d")
          if (!Expected.get(q).contains(d)) {
            System.err.println(s"[perfbench] curation_mix $q digest $d, recorded ${Expected.get(q)}")
            ok = false
          }
        } else df.write.format("noop").mode("overwrite").save()
      }
      q -> (System.nanoTime() - t0) / 1e6
    }
    spark.sparkContext.clearJobGroup()
    OpResult(perQuery.map(_._2).sum, ok, perQuery.toMap)
  }

  private def shuffled(qs: Seq[String]): Seq[String] = {
    val arr = qs.toArray
    for (i <- arr.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  override def named(ops: Seq[OpResult]): Seq[Metric] = {
    Queries.foreach(q => println(f"# query ${q}%-22s median_ms=${Stats.median(ops.map(_.phases(q)))}%.0f"))
    Seq(Metric("mix_s", Stats.median(ops.map(_.ms)) / 1000, "s", ops.size))
  }

  override def layers(ops: Seq[OpResult], firstOp: Int, spans: Seq[Tracer.Span]): Map[String, Double] = {
    val l = ledger.get
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val opIds = firstOp until firstOp + ops.size
    opIds.foreach { i =>
      Queries.foreach { q =>
        val parent = spans.find(s => s.op == i && s.name == s"query.$q").map(_.id).getOrElse(-1L)
        Ledger.emitTaskSpans(l.tasksOf(group(i, q)), parent, i, s"task.$q")
      }
    }
    Queries.flatMap { q =>
      def med(f: Int => Double) = Stats.median(opIds.map(f))
      def tasks(i: Int) = l.tasksOf(group(i, q))
      Seq(
        s"queries.$q.ms" -> Stats.median(ops.map(_.phases(q))),
        s"spark.$q.cpu_ms" -> med(i => tasks(i).map(_.cpuNs).sum / 1e6),
        s"spark.$q.shuffle_mb" -> med(i => tasks(i).map(_.shuffleWriteBytes).sum / Stats.MB),
        s"spark.$q.spill_mb" -> med(i => tasks(i).map(_.diskSpillBytes).sum / Stats.MB),
        s"spark.$q.task_skew" -> med(i => Ledger.skew(tasks(i))),
        s"spark.$q.stages" -> med(i => l.stageCount(group(i, q)).toDouble))
    }.toMap
  }
}

object CurationMix {
  val Queries: Seq[String] = Seq(
    "a01_sketches", "d03_minhash_pairs", "d11_dup_spans", "d12_span_cut", "t07_vocab_mask",
    "t09_salient_terms", "g01_pagerank", "p03_curation_funnel", "q01_pricing_summary",
    "q19_salted_join")

  def group(i: Int, q: String): String = s"op$i:$q"

  /** Order-independent digest of a query's output: row count and the sum
    * of a 64-bit hash of each row's JSON form (columns in name order). */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Digests of the engine's outputs on [[Corpus]] (seed 42, sf0.03), recorded
    * from `graft.Verify` outputs that `scripts/oracle_check_strict.py`
    * passed against the DuckDB oracle (see [[CorpusTool]]). */
  val Expected: Map[String, String] = Map(
    "a01_sketches" -> "5:615525164256632584",
    "d03_minhash_pairs" -> "421:-39456759110530071832",
    "d11_dup_spans" -> "1500:-63277243112110274906",
    "d12_span_cut" -> "1500:164293258476400540526",
    "t07_vocab_mask" -> "1500:179822863455374658092",
    "t09_salient_terms" -> "4500:-226038697874375987530",
    "g01_pagerank" -> "1500:-63195054323419868753",
    "p03_curation_funnel" -> "5:-854685797350211505",
    "q01_pricing_summary" -> "6:-6610750745176233027",
    "q19_salted_join" -> "5:15645420927744934025")
}
