package graft

import graft.operators.AnnGraph
import graft.sources.Tables
import org.apache.spark.sql.functions._

class AnnGraphSpec extends SparkSpec {
  import spark.implicits._

  /** 100 vectors in 10 tight clusters of 10: cluster c lives on axis c
    * with small deterministic jitter on a second axis, so every vector's
    * true top-9 neighbors are its 9 cluster-mates. */
  def clustered = {
    val rows = for {
      c <- 0 until 10
      j <- 0 until 10
    } yield {
      val v = new Array[Float](16)
      v(c) = 1f
      v(10 + (c % 6)) = 0.05f * j // jitter distinguishes cluster-mates
      ((c * 10 + j).toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("q263 nn-descent graph: clustered data converges to in-cluster neighbors") {
    val g = AnnGraph.nnDescentGraph(clustered, k = 9, iterations = 5, maxCandidates = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every node has at most k rows and sims are within [−1, 1]
    val byNode = g.groupBy(_._1)
    byNode.foreach { case (_, rows) => assert(rows.length <= 9) }
    g.foreach { case (_, _, s) => assert(s >= -1.0001 && s <= 1.0001) }
    // convergence quality: the overwhelming share of edges are in-cluster
    val inCluster = g.count { case (a, b, _) => a / 10 == b / 10 }
    assert(inCluster.toDouble / g.length > 0.9,
      s"only $inCluster/${g.length} edges in-cluster after 5 rounds")
  }

  test("q263 output is deterministic and ranked") {
    val r1 = AnnGraph.nnDescentTopK(clustered, k = 5, iterations = 2).collect()
    val r2 = AnnGraph.nnDescentTopK(clustered, k = 5, iterations = 2).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    // per node: ranks contiguous from 1, cosine non-increasing
    r1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val sims = sorted.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
  }

  test("q265 graph search: finds cluster-mates of held-out queries via the graph") {
    // queries 0..2 are excluded from the graph; their true neighbors are
    // their remaining cluster-mates (clusters 0, 0, 0 for ids 0,1,2 —
    // use ids 0,1,2 which live in cluster 0)
    val res = AnnGraph.graphSearch(clustered, numQueries = 3, k = 5,
      beamWidth = 8, maxHops = 3, graphK = 9)
      .collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (_, rows) =>
      assert(rows.length == 5)
      // every returned neighbor of a cluster-0 query is in cluster 0
      val inCluster = rows.count(r => r.getLong(2) / 10 == 0)
      assert(inCluster >= 4, s"beam search strayed: ${rows.mkString(", ")}")
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    // deterministic
    val again = AnnGraph.graphSearch(clustered, numQueries = 3, k = 5,
      beamWidth = 8, maxHops = 3, graphK = 9).collect()
    assert(again.map(_.toString).toSeq == res.map(_.toString).toSeq)
  }

  test("q266 incremental insert: new nodes find their clusters; old nodes adopt them") {
    import org.apache.spark.sql.functions.col
    // insert near-TWINS of nodes 0 / 10 / 20 (ids 200..202): closer to
    // their twin than any existing cluster-mate, so a correct insert
    // must both place them in-cluster AND displace into old
    // neighborhoods
    val twins = Seq(0, 10, 20).zipWithIndex.map { case (of, i) =>
      val c = of / 10
      val v = new Array[Float](16)
      v(c) = 1f
      v(10 + (c % 6)) = 0.05f * (of % 10) + 0.001f
      ((200 + i).toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    // insertLoop takes a cached (id, vec) corpus and a cached new-id set
    val vecs = clustered.unionByName(twins)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .cache()
    val nw = twins.select(col("vec_id").as("id")).cache()
    val graph = AnnGraph.nnDescentGraph(clustered, k = 8, iterations = 3)
    val updated = try {
      AnnGraph.insertLoop(graph, vecs, vecs.count(), nw, k = 8, iterations = 3, maxCandidates = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    } finally {
      vecs.unpersist(blocking = false)
      nw.unpersist(blocking = false)
    }
    // inserted twins link overwhelmingly into their own cluster
    def clusterOf(id: Long): Long = if (id >= 200) (id - 200) else id / 10
    val newEdges = updated.filter(_._1 >= 200)
    assert(newEdges.nonEmpty)
    val inCluster = newEdges.count { case (a, b, _) => clusterOf(a) == clusterOf(b) }
    assert(inCluster.toDouble / newEdges.length > 0.75,
      s"inserted nodes strayed: $inCluster/${newEdges.length}")
    // adoption: the twinned OLD nodes now list their twin as a neighbor
    // (it is strictly closer than every original cluster-mate)
    Seq(0L, 10L, 20L).zip(Seq(200L, 201L, 202L)).foreach { case (old, twin) =>
      val nbs = updated.filter(_._1 == old).map(_._2).toSet
      assert(nbs.contains(twin), s"node $old did not adopt its twin $twin; has $nbs")
    }
    // no old-old regeneration: every surviving old-old edge existed in
    // the base graph (inserts can only displace, never invent)
    val baseEdges = graph.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    updated.filter { case (a, b, _) => a < 200 && b < 200 }
      .foreach { case (a, b, _) =>
        assert(baseEdges.contains((a, b)), s"old-old edge ($a,$b) appeared from nowhere")
      }
  }

  test("q264 recall report: iterations strictly improve on the pseudo-random init") {
    val t = Tables(spark, sfDir)
    def recall(iters: Int): Double =
      AnnGraph.nnDescentRecall(t.embeddings, k = 10, iterations = iters, sampleNodes = 30)
        .collect().head.getAs[Double]("avg_recall")
    val r0 = recall(0)
    val r3 = recall(3)
    assert(r0 >= 0.0 && r0 <= 1.0 && r3 >= 0.0 && r3 <= 1.0)
    assert(r3 > r0, s"3 rounds of descent ($r3) must beat init ($r0)")
    // clustered data: descent reaches near-exact recall
    val rc = AnnGraph.nnDescentRecall(clustered, k = 9, iterations = 5, sampleNodes = 20)
      .collect().head
    assert(rc.getAs[Long]("n_probes") == 20)
    assert(rc.getAs[Double]("avg_recall") > 0.85, s"clustered recall ${rc}")
  }
}
