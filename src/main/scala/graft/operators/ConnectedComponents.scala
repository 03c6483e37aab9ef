package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an edge list, and the one owner of the
  * driver/distributed crossover that every CC consumer goes through: the
  * batch d07 family (`TextQueries.clusterLabels`: d07, t14, p01, p03) and
  * the streaming funnel ([[graft.streaming.EventStreams.curationFunnel]]).
  *
  * [[components]] collects the edges and union-finds on the driver while
  * they fit ([[MaxDriverEdges]]; LSH candidate sets are orders of magnitude
  * smaller than the corpus), and past that runs [[labels]], the
  * large-star/small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond"): alternating rounds of
  *
  *   large-star: attach every neighbor LARGER than u to the minimum of
  *               u's neighborhood (incl. u);
  *   small-star: attach u and its smaller neighbors to that minimum;
  *
  * converging (in rounds logarithmic in component diameter) to star graphs
  * rooted at each component's minimum node id, with no driver
  * materialization. Both branches label every node with its component's
  * minimum id — asserted against each other in ConnectedComponentsSpec.
  */
object ConnectedComponents {

  /** Edge count above which [[components]] stops collecting to the driver
    * and runs the distributed [[labels]] instead (~5M pairs ≈ 80 MB of
    * longs — comfortably under driver limits, far above any real LSH
    * candidate set at these SFs). */
  val MaxDriverEdges = 5000000L

  /** Session conf overriding [[MaxDriverEdges]] — `0` forces the
    * distributed branch at any scale (CcGate's replica-scale gate, the
    * specs). Unset → [[MaxDriverEdges]]. */
  val MaxDriverEdgesKey = "spark.graft.cc.maxDriverEdges"

  /** The crossover. `edges`: two integral columns (x, y), undirected.
    * While the edge count is within the threshold, returns `Left` of the
    * driver union-find's node → min-node-id map over every node in
    * `edges` (one linear pass; only edge NODES are materialized, never a
    * corpus-sized relation). Past it, returns `Right` of [[labels]]
    * (node, rep) — CCGATE.json shows the two multiset-identical at
    * 10x/100x replica scale. */
  def components(s: SparkSession, edges: DataFrame): Either[Map[Long, Long], DataFrame] = {
    import s.implicits._
    val threshold = s.conf.get(MaxDriverEdgesKey, "") match {
      case "" => MaxDriverEdges
      case v  => v.toLong
    }
    val pairs = edges.selectExpr("CAST(x AS BIGINT) AS x", "CAST(y AS BIGINT) AS y")
    if (pairs.count() > threshold) Right(labels(pairs))
    else Left(unionFind(pairs.as[(Long, Long)].collect()))
  }

  /** [[components]] as a (node, rep) DataFrame over every node in `edges`
    * — the contract of [[labels]] on either branch. */
  def labelsAuto(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    components(s, edges) match {
      case Left(rep)   => rep.toSeq.toDF("node", "rep")
      case Right(lbls) => lbls
    }
  }

  private def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // min-id root keeps "rep = min node id in component" exact
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** `edges`: two integral columns (x, y), undirected, self-loops ignored.
    * Returns (node BIGINT, rep BIGINT) for every node appearing in `edges`,
    * rep = minimum node id of its component. Deterministic: all steps are
    * min-aggregations. */
  def labels(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // canonical pair form (hi > lo); localCheckpoint each round — iterative
    // self-joins otherwise nest the full lineage per round
    var e = edges.selectExpr("CAST(x AS BIGINT) AS x", "CAST(y AS BIGINT) AS y")
      .where(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("hi"), least(col("x"), col("y")).as("lo"))
      .distinct()
      .localCheckpoint(true)

    // Cheap per-round fixed-point detection: (count, hash checksum) in ONE
    // aggregate job. Differing stats prove the round changed the edge set
    // (skip the expensive check); matching stats trigger ONE exceptAll for
    // exact set equality — both sets are distinct, so equal counts plus
    // next⊆e implies e⊆next, making the second exceptAll of the old
    // two-per-round formulation redundant. Exactness is preserved: checksum
    // equality alone is never trusted.
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(hash(col("hi"), col("lo")).cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var eStats = stats(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star over the symmetric neighborhood view
      val sym = e.select(col("hi").as("a"), col("lo").as("b"))
        .union(e.select(col("lo").as("a"), col("hi").as("b")))
      val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = sym.join(mins, "a").where(col("b") > col("a"))
        .select(greatest(col("b"), col("m")).as("hi"), least(col("b"), col("m")).as("lo"))
        .where(col("hi") =!= col("lo"))
        .distinct()
        .localCheckpoint(true)

      // small-star on the canonical (hi -> lo) orientation
      val mins2 = large.groupBy(col("hi")).agg(min(col("lo")).as("mn"))
      val attached = large.join(mins2, "hi")
        .where(col("lo") =!= col("mn"))
        .select(col("lo").as("hi"), col("mn").as("lo"))
      val next = attached.union(mins2.select(col("hi"), col("mn").as("lo")))
        .distinct()
        .localCheckpoint(true)

      val nextStats = stats(next)
      converged = nextStats == eStats && next.exceptAll(e).isEmpty
      e = next
      eStats = nextStats
      iter += 1
    }

    // Silent non-convergence would return interior edges as labels — wrong
    // component reps with no signal (the d07 path promises exact labels).
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          "(raise maxIter; rounds needed grow with log of component diameter)")

    // converged: e is (node -> component min) stars; roots label themselves
    e.select(col("hi").as("node"), col("lo").as("rep"))
      .union(e.select(col("lo").as("node"), col("lo").as("rep")))
      .distinct()
  }
}
