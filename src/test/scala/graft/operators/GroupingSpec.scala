package graft.operators

import graft.SparkSpec

/** J3-J6 / A4-A5 set algebra vs hand-computed expectations
  * (reference glue_job.py:221-256 semantics).
  */
class GroupingSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("semi keeps exactly the left rows whose key appears on the right") {
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "x")
    val right = Seq(Tuple1(2L), Tuple1(3L), Tuple1(9L)).toDF("k")
    assert(ids(Grouping.semi(left, right, "k")) == Set(2L, 3L))
  }

  test("anti keeps exactly the left rows whose key is absent on the right") {
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "x")
    val right = Seq(Tuple1(2L)).toDF("k")
    assert(ids(Grouping.anti(left, right, "k")) == Set(1L, 3L))
  }

  test("distinctIds drops nulls and duplicates") {
    val df = Seq(Some(1L), Some(1L), None, Some(2L)).toDF("k")
    assert(ids(Grouping.distinctIds(df, "k")) == Set(1L, 2L))
  }

  test("valueSetPerKey builds the per-key distinct value set") {
    val df = Seq((1L, "p1"), (1L, "p2"), (1L, "p1"), (2L, "p3")).toDF("k", "p")
    val out = Grouping.valueSetPerKey(df, "k", "p").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(out == Map(1L -> Set("p1", "p2"), 2L -> Set("p3")))
  }

  test("allValuesPresent: ∀-semi-join via double anti-join") {
    // order 1 → {p1, p2} (all in dim), order 2 → {p2, p9} (p9 missing),
    // order 3 → {p3} (in dim)
    val facts = Seq((1L, "p1"), (1L, "p2"), (2L, "p2"), (2L, "p9"), (3L, "p3"))
      .toDF("k", "p")
    val dim = Seq("p1", "p2", "p3").toDF("pid")
    assert(ids(Grouping.allValuesPresent(facts, "k", "p", dim, "pid")) == Set(1L, 3L))
  }

  test("allValuesPresent with a dim derived from the facts drops keys holding a missing value") {
    // the dim shares the facts' lineage: its key column is the facts'
    // own `v` attribute, so a join on facts(v) === dim(v) is the
    // trivially true `v = v`. Only Dataset's self-join auto-resolution (an
    // internal setting, on by default) rewrites that into a real
    // comparison; the operator must not depend on it.
    val facts = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L)).toDF("k", "v")
    val dim = facts.select("v").distinct().filter($"v" =!= 11L)
    val autoResolve = "spark.sql.selfJoinAutoResolveAmbiguity"
    Seq("true", "false").foreach { auto =>
      spark.conf.set(autoResolve, auto)
      try assert(ids(Grouping.allValuesPresent(facts, "k", "v", dim, "v")) ==
        Set(2L, 3L), s"$autoResolve=$auto")
      finally spark.conf.unset(autoResolve)
    }
  }

  test("containment lists every group whose set contains the wanted id, sorted") {
    val manifest = Grouping.valueSetPerKey(
      Seq((10L, "a"), (20L, "a"), (20L, "b"), (30L, "c")).toDF("g", "id"),
      "g", "id")
    val wanted = Seq("a", "c").toDF("w")
    val out = Grouping.containment(manifest, "id_set", "g", wanted, "w")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out == Map("a" -> Seq(10L, 20L), "c" -> Seq(30L)))
  }

  test("connectedComponents: min-label clusters across chains, cliques, and singleton edges") {
    // components: {1,2,3,4} (chain), {10,11} (edge), {20,21,22} (triangle)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = Grouping.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents with a reliable checkpointDir matches the localCheckpoint path") {
    // VERDICT r04 #5: same chain/clique graph through DFS checkpoints
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val cpDir = graft.util.Scratch.dir("graft_cc_cp")
    val out = Grouping.connectedComponents(edges, "src", "dst",
        checkpointDir = Some(cpDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the reliable checkpoints really went to the requested dir
    assert(new java.io.File(cpDir).listFiles() != null &&
      new java.io.File(cpDir).listFiles().nonEmpty)
  }

  test("connectedComponentsAuto: driver union-find matches the loop, incl. self-loop exclusion") {
    // r17 optimization: under the edge cap, components come from a driver
    // union-find — same (node, component) rows as the converged loop.
    // 99 has ONLY a self-loop and must be absent (the loop's a =!= b rule).
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (99L, 99L)).toDF("src", "dst")
    val out = Grouping.connectedComponentsAuto(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Grouping.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == loop)
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponentsAuto: past the edge cap it falls back to the distributed loop") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = Grouping.connectedComponentsAuto(edges, "src", "dst", maxEdges = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponentsStar: same clusters as label propagation on chains/cliques") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = Grouping.connectedComponentsStar(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponentsStar: 64-node path converges in O(log n) rounds, not O(diameter)") {
    // label propagation needs ~63 iterations here; star contraction must
    // land a single component well inside 12 rounds
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Grouping.connectedComponentsStar(edges, "src", "dst", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (1L to 64L).toSet)
    assert(out.values.toSet == Set(1L))
  }

  test("connectedComponentsStar: inputs that LOOK like stars still contract to the min id") {
    // code-review r5: 'no parent appears as a child' is satisfied by both
    // of these inputs at round 0, yet neither is the fixed point — the
    // set-equality convergence must keep contracting
    val g1 = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst") // star centered at the MAX
    val out1 = Grouping.connectedComponentsStar(g1, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // two apparent stars that are really ONE component via shared children
    val g2 = Seq((4L, 10L), (4L, 11L), (2L, 10L), (3L, 11L)).toDF("src", "dst")
    val out2 = Grouping.connectedComponentsStar(g2, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 10L -> 2L, 11L -> 2L),
      s"split or mislabeled component: $out2")
  }

  test("connectedComponentsStar equals connectedComponents on a seeded random graph") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val prop = Grouping.connectedComponents(edges, "src", "dst", maxIters = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Grouping.connectedComponentsStar(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
  }

  test("connectedComponents converges on a long path (diameter > 2)") {
    // a 12-node path: worst case for label propagation, needs ~diameter iters
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Grouping.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 12 && out.values.forall(_ == 1L))
  }

  test("connectedComponents fails loudly instead of returning split clusters when maxIters is too small") {
    // an 8-node path has diameter 7: 3 iterations cannot propagate the min
    // label to the far end — silently returning would split the cluster
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Grouping.connectedComponents(edges, "src", "dst", maxIters = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the same graph with enough iterations converges to one component
    val ok = Grouping.connectedComponents(edges, "src", "dst", maxIters = 10)
      .collect().map(r => r.getLong(1)).toSet
    assert(ok == Set(1L))
  }

  test("connectedComponents converging EXACTLY on the last iteration returns, not throws") {
    // 8-node path, diameter 7: iteration 7 lands the last label (changed>0)
    // and the budget is exhausted — the confirmation pass must recognize
    // the converged result instead of condemning it
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Grouping.connectedComponents(edges, "src", "dst", maxIters = 7)
      .collect().map(r => r.getLong(1)).toSet
    assert(out == Set(1L))
  }

  test("completeGroups = pending ∖ completed, present in entities, fully covered by dim") {
    val entities = Seq(1L, 2L, 3L, 4L).toDF("oid")       // order rows present
    val facts = Seq((1L, "p1"), (2L, "p9"), (3L, "p1"), (4L, "p2"), (5L, "p1"))
      .toDF("oid", "pid")                                 // 5 has no order row
    val dim = Seq("p1", "p2").toDF("pid")                 // p9 missing
    val completed = Seq(4L).toDF("oid")                   // 4 already done
    // 1: ok; 2: p9 not covered; 3: ok; 4: completed; 5: not in entities
    val out = Grouping.completeGroups(entities, "oid", facts, "oid", "pid",
      dim, "pid", completed)
    assert(ids(out) == Set(1L, 3L))
  }
}
