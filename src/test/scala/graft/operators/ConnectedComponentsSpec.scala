package graft.operators

import org.apache.spark.sql.functions._
import graft.testkit.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.labels(edges.toDF("x", "y")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain graph (worst-case diameter) collapses to min root") {
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val lbl = labelsOf(chain)
    assert(lbl.size == n)
    assert(lbl.values.forall(_ == 0L))
  }

  test("disjoint components each take their own min; self-loops ignored") {
    val lbl = labelsOf(Seq((5L, 3L), (3L, 9L), (20L, 21L), (7L, 7L), (40L, 2L)))
    assert(lbl == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L, 2L -> 2L, 40L -> 2L))
  }

  test("matches the driver union-find labels on the real LSH candidate graph") {
    val d = "/root/testdata/sf0.001"
    val pairs = graft.queries.TextQueries.d03MinHashPairs(spark, d)
    val distributed = ConnectedComponents.labels(pairs.toDF("x", "y")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // d07 = union-find over the same edges, plus singletons for edgeless docs
    val unionFind = graft.queries.TextQueries.d07DedupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed.nonEmpty)
    distributed.foreach { case (node, rep) =>
      assert(unionFind(node) == rep, s"node $node: distributed $rep vs union-find ${unionFind(node)}")
    }
    // and every non-singleton union-find node is present in the edge graph
    unionFind.filter { case (n, r) => n != r }.keys.foreach { n =>
      assert(distributed.contains(n))
    }
  }

  test("property: random graphs match a local union-find") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
      } yield (a, b))
    } yield edges.filter(e => e._1 != e._2)
    graft.testkit.Props.forAllN(gen, n = 25) { edges =>
      if (edges.nonEmpty) {
        // local reference union-find with min-root
        val parent = scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
        edges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val expected = parent.keys.map(k => k -> find(k)).toMap
        assert(labelsOf(edges) == expected, s"edges: $edges")
      }
    }
  }

  test("non-convergence within maxIter throws instead of returning bad labels") {
    import spark.implicits._
    // a 64-node chain needs several rounds; maxIter = 1 cannot converge
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("x", "y")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.labels(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("d07's self-actuating fallback route produces identical labels") {
    val d = "/root/testdata/sf0.001"
    // d07 and two of its consumers: t14 (the broadcast-map plan) and p03
    // (the keeper filter feeding the funnel counts)
    Seq("d07_dedup_clusters", "t14_split_assign", "p03_curation_funnel").foreach { name =>
      val q = graft.SparkEntry.queries(name)
      val viaDriver = q(spark, d).collect().map(_.toString).sorted.toSeq
      // the session hook at 0 forces the distributed large-star/small-star route
      spark.conf.set(ConnectedComponents.MaxDriverEdgesKey, "0")
      val viaDistributed =
        try q(spark, d).collect().map(_.toString).sorted.toSeq
        finally spark.conf.unset(ConnectedComponents.MaxDriverEdgesKey)
      assert(viaDriver.nonEmpty, name)
      assert(viaDistributed == viaDriver, s"$name: distributed route diverged from the driver route")
    }
  }
}
