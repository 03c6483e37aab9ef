package graft.tools

import graft.core.LocalSession
import scala.collection.mutable

/** Graph-family gate at replica scale (r9): g01–g04's DuckDB oracles
  * re-derive the banded MinHash candidate graph in unrolled CTEs —
  * strict-green at /tmp/sf1 but intractable at the 100× replica (the
  * same wall as the d03/d06 family). So, exactly like
  * [[graft.tools.CcGate]] for the d07 family, this tool gates the
  * g-family by TWO INDEPENDENT IMPLEMENTATIONS agreeing: each query runs
  * once through the engine (distributed joins/aggregates, the
  * oracle-gated form) and once through [[GraphRef]] (single-threaded
  * in-memory loops over the collected edge list, including an
  * independent in-memory re-derivation of the band buckets), and the two
  * outputs must be multiset-identical. All four algorithms are exact
  * integer arithmetic, so any divergence — a lost superstep, a wrong
  * tie-break, an orientation bug surfacing only on replica-scale hub
  * degrees — fails the gate exactly, at scales DuckDB cannot reach.
  *
  * `runMain graft.tools.GraphGate <sfDir>` → one JSON line with
  * per-query {rows, equal, sec_engine, sec_ref} plus edge-set sizes.
  */
object GraphGate {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: GraphGate <sfDir>")
    val dir = args.head
    val spark = LocalSession.session(LocalSession.envCpus)
    import LocalSession.timed
    import graft.queries.TextQueries

    // one signature scan feeds both edge derivations (collected once;
    // 3 scalars per doc — 500k rows at the 100× replica)
    val sig = TextQueries.d02MinHashSig(spark, dir)
      .selectExpr("doc_id", "band0", "band1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // Edge derivations live in GraphRef (halfSigEdges = g01's ANY-band
    // d03 shape; fullSigEdges = g02–g04's BOTH-bands template graph) so
    // GraphRefSpec pins the exact code this gate runs.
    val (tHalf, half) = timed(GraphRef.halfSigEdges(sig))
    val (tFull, full) = timed(GraphRef.fullSigEdges(sig))
    val halfDirected = half ++ half.map(e => (e._2, e._1))
    val docIds = graft.queries.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))

    // min-of-2 on the engine timing (r11): single-pass sec_engine swung
    // 48–86 s at the 100× replica between back-to-back legs at the SAME
    // HEAD — VM drift, not code (sec_ref, untouched for rounds, swung
    // 9→15 s in step). Equality is checked on the first pass's rows; the
    // second pass only firms the timing (the bench's min-of-N convention).
    def min2[A](once: () => (Double, A)): (Double, A) = {
      val first = once()
      (math.min(first._1, once()._1), first._2)
    }
    def engine2(name: String): (Double, Array[(Long, Long)]) = {
      val fn = graft.SparkEntry.queries(name)
      min2(() => timed(fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).sorted))
    }
    def engine3(name: String): (Double, Array[(Long, Long, Long)]) = {
      val fn = graft.SparkEntry.queries(name)
      min2(() => timed(fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted))
    }

    val results = mutable.ArrayBuffer.empty[(String, Long, Boolean, Double, Double)]
    def check[A](name: String, eng: (Double, Array[A]), ref: (Double, Array[A])): Unit = {
      val equal = eng._2.toSeq == ref._2.toSeq
      System.err.println(f"[graphgate] $name%-18s rows=${eng._2.length}%9d equal=$equal " +
        f"engine=${eng._1}%.1fs ref=${ref._1}%.1fs")
      results += ((name, eng._2.length.toLong, equal, eng._1, ref._1))
    }

    check("g01_pagerank", engine2("g01_pagerank"),
      timed(GraphRef.pageRank(docIds, halfDirected, TextQueries.PrScale, TextQueries.PrIters).sorted))
    check("g02_triangles", engine2("g02_triangles"), timed(GraphRef.triangles(full)))
    check("g03_kcore", engine2("g03_kcore"), timed(GraphRef.kCore(full, TextQueries.CoreK)))
    check("g04_label_prop", engine3("g04_label_prop"),
      timed(GraphRef.labelProp(full, TextQueries.LpaRounds)))

    val js = results.map { case (n, rows, eq, te, tr) =>
      s""""$n":{"rows":$rows,"equal":$eq,"sec_engine":${f"$te%.2f"},"sec_ref":${f"$tr%.2f"}}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf_dir":"$dir","gate":"engine-vs-inmemory-graph",""" +
      s""""docs":${docIds.length},"half_sig_edges":${half.length},""" +
      s""""full_sig_edges":${full.length},""" +
      s""""sec_edge_derive":${f"${tHalf + tFull}%.2f"},"queries":$js}""")
    val allEqual = results.forall(_._3)
    spark.stop()
    if (!allEqual) sys.exit(1)
  }
}
