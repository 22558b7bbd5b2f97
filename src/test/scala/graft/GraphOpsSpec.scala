package graft

import graft.ops.GraphOps

/** Connected components (the dedup-clustering primitive): transitive
  * closure, multi-round convergence, determinism.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private val chain = Seq(
    (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (6L, 7L), (8L, 7L),
    (100L, 101L))

  test("distributed path labels a long chain transitively (diameter forces multiple rounds)") {
    // path 1-2-3-4-5-6-7-8 plus a separate pair — min-label must travel the
    // whole chain, not just one hop. driverThreshold=0 forces the loop.
    val labels = GraphOps.connectedComponents(chain.toDF("a", "b"), driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10, "every edge endpoint is labeled")
    assert((1L to 8L).forall(labels(_) == 1L), s"chain collapses to min id: $labels")
    assert(labels(100L) == 100L && labels(101L) == 100L)
  }

  test("pointer jumping converges a 40-link chain in O(log diameter) rounds") {
    // Without shortcutting, a 40-vertex path needs ~40 min-label rounds;
    // with label-of-label jumping it must land well inside maxIter = 8.
    val long = (1L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    val labels = GraphOps.connectedComponents(long, driverThreshold = 0, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 40)
    assert(labels.values.forall(_ == 1L), s"whole chain collapses to 1: $labels")
  }

  test("throws instead of returning silently-unconverged labels at maxIter") {
    val long = (1L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(long, driverThreshold = 0, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("distributed loop does not leak cached checkpoint blocks across rounds") {
    // Each round localCheckpoints a new labels frame; prior rounds' blocks
    // must be unpersisted, or maxIter block sets pile up for the job's life.
    val before = spark.sparkContext.getPersistentRDDs.size
    val long = (1L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    GraphOps.connectedComponents(long, driverThreshold = 0, maxIter = 8).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    // allowed survivors: the edge list + the final labels checkpoint
    assert(after - before <= 2,
      s"persistent RDDs grew $before -> $after; rounds are leaking checkpoints")
  }

  test("driver union-find path produces identical labels to the distributed loop") {
    val edges = chain.toDF("a", "b")
    val dist = GraphOps.connectedComponents(edges, driverThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val drv = GraphOps.connectedComponents(edges) // default threshold -> driver path
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(drv == dist)
  }

  test("merges transitive near-dup links into one family (a~b, b~c => one cluster)") {
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("a", "b")
    val byLabel = GraphOps.connectedComponents(edges)
      .collect().groupBy(_.getLong(1)).map { case (l, rs) => l -> rs.map(_.getLong(0)).toSet }
    assert(byLabel(10L) == Set(10L, 20L, 30L))
    assert(byLabel(40L) == Set(40L, 50L))
  }

  test("deterministic across runs") {
    val edges = Seq((1L, 2L), (3L, 2L), (7L, 9L), (9L, 1L)).toDF("a", "b")
    val r1 = GraphOps.connectedComponents(edges).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val r2 = GraphOps.connectedComponents(edges).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(r1 == r2)
    assert(r1.forall(_._2 == 1L), "all connected through 1 via 9~1, 1~2, 3~2")
  }

  test("pageRankInt: symmetric ring is uniform; star centre dominates; bitwise repartition-stable") {
    def ranks(edges: org.apache.spark.sql.DataFrame) =
      GraphOps.pageRankInt(edges, iterations = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // undirected 6-ring: perfect symmetry => identical ranks everywhere
    val ring = (0 until 6).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 6).toLong), (((i + 1) % 6).toLong, i.toLong)))
      .toDF("src", "dst")
    val ringRanks = ranks(ring)
    assert(ringRanks.values.toSet.size == 1, s"ring must be uniform: $ringRanks")
    // undirected star 0-{1..5}: centre collects 5 full contributions
    val star = (1 to 5).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L))).toDF("src", "dst")
    val starRanks = ranks(star)
    assert((1 to 5).forall(i => starRanks(0L) > starRanks(i.toLong)),
      s"star centre must outrank leaves: $starRanks")
    assert((1 to 5).map(i => starRanks(i.toLong)).toSet.size == 1, "leaves symmetric")
    // pure-source vertex (directed edge into a cycle) keeps the damping floor
    val directed = Seq((9L, 0L), (0L, 1L), (1L, 0L)).toDF("src", "dst")
    val dr = ranks(directed)
    assert(dr(9L) == 150000L, s"no in-edges => base rank only: $dr")
    assert(dr(0L) > dr(1L), "0 receives from both 9 and 1")
    // exact integer arithmetic => bitwise equality under any partitioning
    assert(ranks(ring.repartition(7)) == ringRanks, "repartition must not change ranks")
  }

  test("pageRankInt: the returned plan never reaches the released raw-edge checkpoint") {
    val star = (1 to 5).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L))).toDF("src", "dst")
    // a broadcast degree join happens to materialize deg in a job of its
    // own; a shuffled one does not, so both plans are checked
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try Seq(threshold, "-1").foreach { t =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t)
      val pr = GraphOps.pageRankInt(star, iterations = 2)
      // every RDD the result's plan can recompute from; a checkpointed
      // RDD's only dependency is its checkpoint data
      val seen = scala.collection.mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]
      def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
        if (!seen.contains(r.id)) { seen(r.id) = r; r.dependencies.foreach(d => walk(d.rdd)) }
      pr.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
        case _ =>
      }
      // e0 is unpersisted inside pageRankInt: a path to it means a cut
      // (deg's) was not materialized before the release
      val released = seen.values.filter(r =>
        r.isCheckpointed && r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(released.isEmpty,
        s"broadcast threshold $t: lineage reaches released checkpoints ${released.map(_.id)}")
      assert(pr.count() == 6L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("triangleCount: closed forms and a skewed random graph vs brute force") {
    def cnt(edges: Seq[(Long, Long)]): Long =
      GraphOps.triangleCount(edges.toDF("a", "b"))
    // K4: C(4,3) = 4 triangles; a 5-ring and a star have none; two
    // triangles sharing an edge count 2
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(cnt(k4) == 4, "K4 has 4 triangles")
    assert(cnt(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L))) == 0, "ring")
    assert(cnt((1L to 6L).map(i => (0L, i))) == 0, "star")
    assert(cnt(Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))) == 2, "shared edge")
    // hub-skewed random graph: vertex 0 connects to everyone (the case the
    // degree orientation exists for); compare against brute-force closure
    val rnd = new scala.util.Random(5)
    val hub = (1L to 30L).map(i => (0L, i))
    val rest = (for (_ <- 1 to 120) yield {
      val x = 1L + rnd.nextInt(30); val y = 1L + rnd.nextInt(30)
      if (x < y) Some((x, y)) else if (y < x) Some((y, x)) else None
    }).flatten.distinct
    val edges = (hub ++ rest).distinct
    val set = edges.toSet
    val ids = (0L to 30L).toSeq
    val brute = (for {
      x <- ids; y <- ids if x < y; z <- ids if y < z
      if set((x, y)) && set((y, z)) && set((x, z))
    } yield 1).size.toLong
    assert(cnt(edges) == brute, s"skewed graph: ${cnt(edges)} vs brute $brute")
  }
}
