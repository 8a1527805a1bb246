package graft

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.operators.{AnnOps, DedupOps, Round10bOps}

/** Specs for `plans.Iterate` and the loops ported onto it: the early
  * exit is exact (same answer as the unrolled rounds), rounds after
  * the exit start no job, an empty round cannot hang the exit test,
  * and the iterative_loops ops keep their job counts. */
class IterateSpec extends SparkSuite with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("a", "b")
  }

  private def weighted(pairs: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1, p._3))).toDF("a", "b", "w")
  }

  /** `rounds` synchronous min-plus relaxations from the `% 13 = 0`
    * seeds, unrolled on the driver — the loop with no exit test. */
  private def unrolledMinPlus(pairs: Seq[(Long, Long, Long)],
      rounds: Int): Map[Long, Long] = {
    val edges = pairs ++ pairs.map(p => (p._2, p._1, p._3))
    val seeds = edges.map(_._1).filter(_ % 13 == 0).map(_ -> 0L).toMap
    (1 to rounds).foldLeft(seeds) { (dist, _) =>
      val relax = for ((a, b, w) <- edges; d <- dist.get(a)) yield b -> (d + w)
      (dist.toSeq ++ relax).groupMapReduce(_._1)(_._2)(math.min)
    }
  }

  test("bfs: a graph that settles at hop 2 returns the hand-computed map, and hop 4 starts no job") {
    // 13 reaches 1 and 2 at hop 1 and 3 at hop 2; hop 3 reaches
    // nothing, so the loop stops there and hop 4 never runs. 7-8 is
    // an unseeded component.
    val edges = sym(Seq((13L, 1L), (13L, 2L), (1L, 3L), (2L, 3L), (7L, 8L)))
    def bfs(maxHops: Int) = withJobCount(
      Round10bOps.bfsPipeline(edges, maxHops).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap)
    val (got, jobs4) = bfs(4)
    assert(got == Map(13L -> 0, 1L -> 1, 2L -> 1, 3L -> 2), s"got $got")
    val (got3, jobs3) = bfs(3)
    val (_, jobs2) = bfs(2)
    assert(got3 == got)
    assert(jobs3 > jobs2, s"hop 3 ran no job ($jobs3 vs $jobs2)")
    assert(jobs4 == jobs3, s"hop 4 started ${jobs4 - jobs3} job(s) after the exit")
  }

  test("bfs and weighted paths: a seedless edge list returns empty, and the exit test does not hang on an empty round") {
    val edges = sym(Seq((1L, 2L), (2L, 3L)))
    val wEdges = weighted(Seq((1L, 2L, 5L), (2L, 3L, 5L)))
    failAfter(Span(120, Seconds)) {
      assert(Round10bOps.bfsPipeline(edges, maxHops = 4).collect().isEmpty)
      assert(Round10bOps.weightedPathsPipeline(wEdges, rounds = 4)
        .collect().isEmpty)
    }
  }

  test("weighted paths: a graph that settles early returns the 4 unrolled rounds' distances, and round 4 starts no job") {
    // round 1: 13→0, 1→10, 2→3, 5→4; round 2: 1→6 (via 2), 6→7 (via
    // 5); round 3 changes nothing, so the loop stops after it
    val pairs = Seq((13L, 1L, 10L), (13L, 2L, 3L), (2L, 1L, 3L),
      (13L, 5L, 4L), (5L, 6L, 3L))
    def paths(rounds: Int) = withJobCount(
      Round10bOps.weightedPathsPipeline(weighted(pairs), rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)
    val (got, jobs4) = paths(4)
    assert(got == unrolledMinPlus(pairs, 4), s"got $got")
    assert(got == Map(13L -> 0L, 1L -> 6L, 2L -> 3L, 5L -> 4L, 6L -> 7L))
    val (_, jobs3) = paths(3)
    assert(jobs4 == jobs3, s"round 4 started ${jobs4 - jobs3} job(s) after the exit")
  }

  test("label propagation: a 2-2 neighbour split takes the smaller label; a majority beats a smaller label") {
    import spark.implicits._
    // node 100's neighbours hold 9, 9, 4, 4: a tie, so it takes 4
    // (held by the LARGER neighbour ids, so neither id order nor
    // first-seen order can pick it by accident). Node 200's hold 9,
    // 9, 4: the majority 9 wins over the smaller 4.
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 1L), (200L, 2L), (200L, 3L)).toDF("a", "b")
    val labels = Seq((1L, 9L), (2L, 9L), (3L, 4L), (4L, 4L))
      .toDF("doc_id", "label")
    val got = Round10bOps.labelVote(edges, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(100L -> 4L, 200L -> 9L), s"got $got")
  }

  test("iterative_loops ops: jobs per op at sf0.001 stay at or below their measured counts") {
    // counts measured on the standing stores of a fresh store root; a
    // change that adds rounds or exchanges to these loops fails here
    val bounds = Seq("graph_label_prop" -> 16, "graph_shortest_paths" -> 12,
      "knn_graph_incremental" -> 14)
    Harness.withFreshStoreRoot(spark) {
      DedupOps.dedupIndexBuild(spark, sf)
      AnnOps.knnGraphPreBuild(spark, sf)
      CacheHygiene.release(spark, blocking = true)
      val jobs = bounds.map { case (q, _) =>
        val (_, n) = withJobCount(SparkEntry.queries(q)(spark, sf).collect())
        CacheHygiene.release(spark, blocking = true)
        q -> n
      }.toMap
      bounds.foreach { case (q, bound) =>
        assert(jobs(q) <= bound, s"$q ran ${jobs(q)} jobs, bound $bound")
      }
    }
  }
}
