package graft.tools

import graft.core.LocalSession

/** Distributed-connected-components gate at replica scale (r8, VERDICT r7
  * task 5): the d07 family (d07 / t14 / p01 / p03) is DuckDB-excluded at
  * sf1 because the recursive-closure oracle cannot finish there — so this
  * tool gates those queries by ENGINE SELF-EQUIVALENCE instead: each runs
  * twice, once on the driver union-find path (the form that IS
  * oracle-gated at sf0.01) and once with
  * `spark.graft.cc.maxDriverEdges=0` forcing the distributed
  * large-star/small-star operator ([[graft.operators.ConnectedComponents]]),
  * and the two outputs must be multiset-identical. Both paths label
  * components with the min doc_id by construction, so any divergence —
  * wrong star convergence, a lost singleton, a non-deterministic rep —
  * fails the gate exactly.
  *
  * `runMain graft.tools.CcGate <sfDir> [query...]` → one JSON line with
  * per-query {rows, equal, sec_driver, sec_dist}.
  */
object CcGate {
  private val DefaultQueries =
    Seq("d07_dedup_clusters", "t14_split_assign", "p01_clean_corpus", "p03_curation_funnel")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CcGate <sfDir> [query...]")
    val dir = args.head
    val names = if (args.length > 1) args.tail.toSeq else DefaultQueries
    val spark = LocalSession.session(LocalSession.envCpus)
    val ccKey = graft.operators.ConnectedComponents.MaxDriverEdgesKey

    val results = names.map { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      // driver leg PINNED high (not merely unset): at the 100× replica the
      // edge count crosses the self-actuating threshold, and an unset conf
      // would silently compare distributed-vs-distributed. The query is
      // built inside the clock: the d07 family eagerly checkpoints its pair
      // table while building.
      spark.conf.set(ccKey, Long.MaxValue.toString)
      val (tDrv, a) = LocalSession.timed(fn(spark, dir).localCheckpoint(true))
      spark.conf.set(ccKey, "0") // force the distributed operator
      val (tDist, b) = LocalSession.timed(fn(spark, dir).localCheckpoint(true))
      spark.conf.unset(ccKey)
      val na = a.count(); val nb = b.count()
      // equal counts + multiset a⊆b ⟹ multiset equality
      val equal = na == nb && a.exceptAll(b).isEmpty
      System.err.println(
        f"[ccgate] $name%-22s rows=$na%9d equal=$equal driver=${tDrv}%.1fs dist=${tDist}%.1fs")
      (name, na, equal, tDrv, tDist)
    }

    val js = results.map { case (n, rows, eq, td, tx) =>
      s""""$n":{"rows":$rows,"equal":$eq,"sec_driver":${f"$td%.2f"},"sec_dist":${f"$tx%.2f"}}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf_dir":"$dir","gate":"driver-vs-distributed-cc","queries":$js}""")
    val allEqual = results.forall(_._3)
    spark.stop()
    if (!allEqual) sys.exit(1)
  }
}
