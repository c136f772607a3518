package graft.operators

import graft.SparkSpec

/** ANN operators on hand-built vectors with known cosine geometry. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // unit-ish vectors: 1⊥2, 3 = 45° between them, 4 ≈ parallel to 1
  private val corpus = Seq(
    (1L, Seq(1.0, 0.0, 0.0), 0),
    (2L, Seq(0.0, 1.0, 0.0), 1),
    (3L, Seq(1.0, 1.0, 0.0), 1),
    (4L, Seq(10.0, 0.1, 0.0), 0)
  ).toDF("vec_id", "embedding", "label")

  private val q1 = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("q_id", "q_vec")

  test("bruteForceTopK ranks by exact cosine, ties broken by id") {
    val out = Similarity.bruteForceTopK(q1, corpus, k = 4)
      .collect().sortBy(_.getInt(3))
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 3L, 2L)) // cos: 1, .99995, .707, 0
    assert(out(0)._2 == 1.0)
    assert(math.abs(out(2)._2 - math.sqrt(0.5)) < 1e-4) // round(·,6) applied
    assert(out(3)._2 == 0.0)
  }

  test("bruteForceTopK respects k") {
    assert(Similarity.bruteForceTopK(q1, corpus, k = 2).count() == 2L)
  }

  test("ivfTopK with nprobe=1 searches only the nearest cell") {
    val out = Similarity.ivfTopK(q1, corpus, cellCol = "label", k = 4, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    // centroid(label 0) ≈ (5.5, .05, 0) is nearest to q; label-1 rows unseen
    assert(out == Set(1L, 4L))
  }

  test("lshTopK self-retrieval: a corpus vector queries itself back at rank 1") {
    val q = Seq((1L, Seq(1.0, 0.0, 0.0))).toDF("q_id", "q_vec")
    val out = Similarity.lshTopK(q, corpus, dim = 3, k = 2)
      .collect().sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
    // identical vector collides with itself in every hash table → present, sim 1
    assert(out.nonEmpty && out(0)._1 == 1L && out(0)._2 == 1.0)
  }

  test("lshTopKMultiProbe: self rank 1, and recall vs brute force dominates single-probe") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 20)
      .toDF("q_id", "q_vec")
    val exact = Similarity.bruteForceTopK(qs, vecs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exact).size
    val single = Similarity.lshTopK(qs, vecs, dim = 16, k = 5, nbits = 6)
    val multi = Similarity.lshTopKMultiProbe(qs, vecs, dim = 16, k = 5, nbits = 6)
    assert(hits(multi) >= hits(single))
    val rank1 = multi.filter(org.apache.spark.sql.functions.col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rank1.length == 20 && rank1.forall(r => r._1 == r._2 && r._3 == 1.0))
  }

  // separable 4-dim corpus for PQ (m=2 subspaces of 2 dims): two tight
  // groups per subspace, so even 1-iteration codebooks quantize cleanly
  private val pqCorpus = Seq(
    (1L, Seq(0.0, 0.0, 10.0, 10.0)),
    (2L, Seq(0.1, 0.0, 10.0, 10.1)),
    (3L, Seq(10.0, 10.0, 0.0, 0.0)),
    (4L, Seq(10.1, 10.0, 0.1, 0.0)),
    (5L, Seq(0.0, 0.1, 0.0, 0.1)),
    (6L, Seq(10.0, 10.1, 10.1, 10.0))
  ).toDF("vec_id", "embedding")

  test("pqCodebook: contiguous cells per subspace, centroids are subvector-width") {
    val cb = Similarity.pqCodebook(pqCorpus, dim = 4, m = 2, ksub = 2, iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    graft.operators.Dedup.clearCaches()
    assert(cb.map(_._1).toSet == Set(0, 1))
    cb.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0 until rows.length).toSeq,
        s"cells not contiguous: ${rows.mkString(",")}")
    }
    assert(cb.forall(_._3.length == 2))
  }

  test("pqCodes: one m-length code array per vector, codes within [0, ksub)") {
    val cb = Similarity.pqCodebook(pqCorpus, dim = 4, m = 2, ksub = 2, iters = 2)
    val codes = Similarity.pqCodes(pqCorpus, cb, dim = 4, m = 2).collect()
    graft.operators.Dedup.clearCaches()
    assert(codes.length == 6)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 2 && cs.forall(c => c >= 0 && c < 2))
    }
  }

  test("pqCodes reads a user codebook typed bigint/float like an int/double one") {
    import org.apache.spark.sql.functions.{col, lit}
    // exactly representable centroids, so the float cast loses nothing
    val book = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(10.0, 10.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(10.0, 10.0)))
      .toDF("subspace", "cell", "centroid")
    def codes(cb: org.apache.spark.sql.DataFrame) =
      Similarity.pqCodes(pqCorpus, cb, dim = 4, m = 2).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expected = codes(book)
    assert(expected(1L) == Seq(0, 1) && expected(3L) == Seq(1, 0))
    val typed = book.select(col("subspace").cast("bigint").as("subspace"),
      col("cell").cast("bigint").as("cell"),
      col("centroid").cast("array<float>").as("centroid"))
    assert(codes(typed) == expected)
    // `cell` is the code column even when a `code` column precedes it
    val both = book.select(col("subspace"), (lit(1) - col("cell")).as("code"),
      col("cell"), col("centroid"))
    assert(codes(both) == expected)
  }

  test("pqTopK: self is rank 1, opposite-group vectors rank below neighbors") {
    val q = Seq((1L, Seq(0.0, 0.0, 10.0, 10.0))).toDF("q_id", "q_vec")
    val out = Similarity.pqTopK(q, pqCorpus, dim = 4, k = 6, m = 2, ksub = 2)
      .collect().sortBy(_.getInt(3))
      .map(r => (r.getLong(1), r.getDouble(2)))
    graft.operators.Dedup.clearCaches()
    // vec 1 == query: minimal ADC distance, ties broken by id → rank 1;
    // vec 2 shares both codes → ties vec 1, ranks 2
    assert(out(0)._1 == 1L, s"self not rank 1: ${out.mkString(",")}")
    assert(out(1)._1 == 2L)
    assert(out(0)._2 == out(1)._2) // identical codes → identical ADC
    // vec 3/4 (opposite group in both subspaces) score strictly worse
    assert(out.takeRight(2).forall(_._2 > out(0)._2))
  }

  test("pq fails loudly on a vector that is not dim-long") {
    val bad = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0, 3.0, 4.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqCodebook(bad, dim = 4, m = 2, ksub = 2, iters = 1).collect()
    }
    graft.operators.Dedup.clearCaches()
    assert(e.getMessage != null)
  }

  test("pqScores structural invariant: a corpus query's self row achieves the min ADC") {
    val qs = pqCorpus.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val cb = Similarity.pqCodebook(pqCorpus, dim = 4, m = 2, ksub = 2, iters = 1)
    val scored = Similarity.pqScores(qs,
      Similarity.pqCodes(pqCorpus, cb, dim = 4, m = 2), cb, dim = 4, m = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    graft.operators.Dedup.clearCaches()
    val byQ = scored.groupBy(_._1)
    assert(byQ.size == 6)
    byQ.foreach { case (q, rows) =>
      val self = rows.find(_._2 == q).get._3
      assert(self == rows.map(_._3).min, s"query $q: self $self not min")
    }
  }

  test("kmeansCellsFixed: separates planted clusters; integer replay matches") {
    // two tight clusters in 4-d; fixed-point training must split them
    val vecs = (0 until 6).map(i =>
      (i.toLong, Seq(1.0, 0.01 * i, 0.0, 0.0))) ++
      (10 until 16).map(i => (i.toLong, Seq(0.0, 0.0, 1.0, 0.01 * (i - 10))))
    val df = vecs.toDF("vec_id", "embedding")
    val cells = Similarity.kmeansCellsFixed(df, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells.size == 12)
    assert(cells.values.toSet.size == 2)
    assert((0 until 6).map(i => cells(i.toLong)).toSet.size == 1,
      "first cluster lands in one cell")
    assert((10 until 16).map(i => cells(i.toLong)).toSet.size == 1)
    assert(cells(0L) != cells(10L), "clusters separate")
    // hand-replay the integer arithmetic for the seed assignment: seeds
    // are ids 0 and 1 (both cluster A), so round 1 assigns by integer d2
    // to whichever seed is closer — exactly floor-scaled math
    def sc(v: Seq[Double]) = v.map(x => math.floor(x * (1L << 20)).toLong)
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val s0 = sc(Seq(1.0, 0.0, 0.0, 0.0)); val s1 = sc(Seq(1.0, 0.01, 0.0, 0.0))
    val v10 = sc(Seq(0.0, 0.0, 1.0, 0.0))
    assert(d2(v10, s0) < d2(v10, s1) ||
      (d2(v10, s0) == d2(v10, s1)), "replayable integer distances")
    // determinism: a second run returns bit-identical assignments
    val again = Similarity.kmeansCellsFixed(df, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == cells)
  }

  test("kmeansCellsFixed rejects a non-power-of-two scale") {
    intercept[IllegalArgumentException](
      Similarity.kmeansCellsFixed(corpus, k = 2, iters = 1, scale = 1000000L))
  }

  test("pqTopKFixed: self is rank 1 at integer ADC, ascending ranks") {
    val vecs = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j + 1.0)))
    }.toDF("vec_id", "embedding")
    val q = Seq((3L, Seq.tabulate(8)(j => math.sin(3 * 8 + j + 1.0))))
      .toDF("q_id", "q_vec")
    val out = Similarity.pqTopKFixed(q, vecs, dim = 8, k = 8, m = 2, ksub = 4)
      .orderBy("rank").collect()
    assert(out.head.getLong(1) == 3L, "a corpus query retrieves itself first")
    val dists = out.map(_.getLong(2))
    assert(dists.sameElements(dists.sorted), "integer ADC ascends with rank")
    assert(out.map(_.getInt(3)).toSeq == (1 to out.length).toSeq)
  }

  test("ivfPqTopKFixed: exactly-representable corpus retrieves self at ADC 0; " +
    "ranks ascend; candidates come from probed cells only") {
    // 16 distinct vectors in two well-separated blobs, each duplicated —
    // per subspace there are <= 16 distinct residual subvectors, the 16
    // lowest-id seeds cover them all, and Lloyd's fixes each centroid at
    // its members' mean (identical members → itself), so encoding is
    // EXACT and a corpus query's ADC distance to itself is 0
    // parity blobs so the two lowest-id coarse seeds (ids 0, 1) start
    // one in each blob — Lloyd's separates deterministically in round 1
    val base = (0 until 16).map { i =>
      val blob = if (i % 2 == 0) 0.0 else 4.0
      (i.toLong, Seq.tabulate(8)(j => blob + math.sin(i * 8 + j + 1.0) * 0.3))
    }
    val vecs = (base ++ base.map { case (id, v) => (id + 16L, v) })
      .toDF("vec_id", "embedding")
    val q = Seq((5L, base(5)._2), (12L, base(12)._2)).toDF("q_id", "q_vec")
    val out = Similarity.ivfPqTopKFixed(q, vecs, dim = 8, k = 6,
      nCells = 2, nprobe = 1, m = 2, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    for (qid <- Seq(5L, 12L)) {
      val rows = out.filter(_._1 == qid).sortBy(_._4)
      assert(rows.nonEmpty, s"query $qid returned nothing")
      assert(rows.head._2 == qid && rows.head._3 == 0L,
        s"exact-codebook self must score ADC 0 at rank 1: ${rows.head}")
      // its duplicate shares the exact codes → also ADC 0, rank 2 by id
      assert(rows(1)._2 == qid + 16L && rows(1)._3 == 0L, s"${rows(1)}")
      val dists = rows.map(_._3)
      assert(dists.sameElements(dists.sorted), "integer ADC ascends with rank")
      assert(rows.map(_._4).toSeq == (1 to rows.length), "contiguous ranks")
      // nprobe=1 on two separated blobs: only same-blob neighbors appear
      val sameBlob = (id: Long) => id % 2 == qid % 2
      assert(rows.forall(r => sameBlob(r._2)),
        s"nprobe=1 must prune to the query's own cell: ${rows.toSeq}")
    }
    graft.operators.Dedup.clearCaches()
  }

  test("ivfPq commit + serve: the stored index answers exactly like a fresh " +
    "train, and building the serve plan runs ZERO jobs (VERDICT r15 #3)") {
    val base = (0 until 16).map { i =>
      val blob = if (i % 2 == 0) 0.0 else 4.0
      (i.toLong, Seq.tabulate(8)(j => blob + math.sin(i * 8 + j + 1.0) * 0.3))
    }
    val vecs = (base ++ base.map { case (id, v) => (id + 16L, v) })
      .toDF("vec_id", "embedding")
    val q = Seq((5L, base(5)._2), (12L, base(12)._2)).toDF("q_id", "q_vec")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
    val fresh = Similarity.ivfPqTopKFixed(q, vecs, dim = 8, k = 6,
      nCells = 2, nprobe = 1, m = 2, ksub = 16).collect().map(key).toSet
    val root = graft.util.Scratch.dir("graft_ivfpq_spec")
    Similarity.ivfPqCommit(vecs, root, dim = 8, nCells = 2, m = 2, ksub = 16)
    // job audit: training is eager driver-loop work (Lloyd's count()s at
    // Similarity.scala call sites), so a serve that re-trained would
    // necessarily launch jobs DURING plan construction. The only jobs
    // allowed are the stored tables' parquet METADATA reads (call site
    // inside ManifestStore.readTable) — zero training jobs.
    val (served, jobs) = graft.JobAudit.jobsDuring(spark) {
      Similarity.ivfPqServe(q, root, dim = 8, k = 6, nprobe = 1, m = 2)
    }
    val offending = jobs.filterNot(_.contains("ManifestStore"))
    assert(offending.isEmpty,
      s"serve plan construction ran non-metadata jobs: $offending")
    assert(served.collect().map(key).toSet == fresh,
      "a stored index must be indistinguishable from a fresh train")
    graft.operators.Dedup.clearCaches()
  }

  test("sq8 commit + serve: stored bounds + byte codes answer exactly like " +
    "a fresh quantization, and building the serve plan runs ZERO jobs " +
    "(VERDICT r16 #4)") {
    val base = (0 until 20).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j + 1.0) * (1 + j)))
    }
    val vecs = base.toDF("vec_id", "embedding")
    val q = Seq((2L, base(2)._2), (11L, base(11)._2)).toDF("q_id", "q_vec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fresh = rows(Similarity.sq8TopK(q, vecs, dim = 8, k = 5))
    val root = graft.util.Scratch.dir("graft_sq8_spec")
    Similarity.sq8Commit(vecs, root, dim = 8)
    // job audit (the ivfPq serve stance): the extrema aggregation is an
    // eager driver-side collect, so a serve that re-derived bounds would
    // launch a non-metadata job during plan construction; only the stored
    // tables' parquet metadata reads (ManifestStore call site) may run
    val (served, jobs) = graft.JobAudit.jobsDuring(spark) {
      Similarity.sq8Serve(q, root, dim = 8, k = 5)
    }
    val offending = jobs.filterNot(_.contains("ManifestStore"))
    assert(offending.isEmpty,
      s"serve plan construction ran non-metadata jobs: $offending")
    assert(rows(served) == fresh,
      "a stored SQ8 index must be indistinguishable from a fresh quantization")
    graft.operators.Dedup.clearCaches()
  }

  test("binary commit + serve: stored sign-bit codes answer exactly like " +
    "a fresh pack; the Hamming scan never re-reads float vectors") {
    val base = (0 until 16).map { i =>
      val blob = if (i % 2 == 0) -1.0 else 1.0
      (i.toLong, Seq.tabulate(8)(j => blob * (0.2 + 0.1 * ((i + j) % 5))))
    }
    val vecs = base.toDF("vec_id", "embedding")
    val q = Seq((3L, base(3)._2), (6L, base(6)._2)).toDF("q_id", "q_vec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4))).toSet
    val fresh = rows(Similarity.binaryTopK(q, vecs, dim = 8, k = 4))
    val root = graft.util.Scratch.dir("graft_binary_spec")
    Similarity.binaryCommit(vecs, root, dim = 8)
    val served = Similarity.binaryServe(q, vecs, root, dim = 8, k = 4)
    assert(rows(served) == fresh,
      "stored codes must be indistinguishable from a fresh pack")
    // the Hamming stage reads the stored code table, not the corpus: the
    // plan's parquet scan appears exactly once (the rescore join reads
    // the in-memory corpus relation, never a packed re-scan)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("parquet"), s"serve must scan the stored codes:\n$plan")
    graft.operators.Dedup.clearCaches()
  }

  test("a replayed artifact commit throws; the served index stays the first commit's") {
    import org.apache.spark.sql.functions.{col, transform}
    val vecs = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(4)(j => if ((i + j) % 3 == 0) 1.0 else -1.0))
    }.toDF("vec_id", "embedding")
    val q = Seq((1L, Seq(1.0, -1.0, -1.0, 1.0))).toDF("q_id", "q_vec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val root = graft.util.Scratch.dir("graft_binary_replay")
    Similarity.binaryCommit(vecs, root, dim = 4)
    val first = rows(Similarity.binaryServe(q, vecs, root, dim = 4, k = 3))
    // a different corpus under the same batch id: were it re-staged under
    // the live pointer, the serve below would answer from it
    val flipped = vecs.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val e = intercept[IllegalArgumentException](
      Similarity.binaryCommit(flipped, root, dim = 4, batchId = 0L))
    assert(e.getMessage.contains("batch 0") && e.getMessage.contains("live version 0"),
      e.getMessage)
    assert(rows(Similarity.binaryServe(q, vecs, root, dim = 4, k = 3)) == first)
    graft.operators.Dedup.clearCaches()
  }

  test("bitextMine: planted parallel pairs are mutual margin-argmaxes; a hub " +
    "between two sources is normalized away; orphans fall below threshold") {
    val src = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0)) // no parallel counterpart anywhere
    ).toDF("src_id", "src_vec")
    val tgt = Seq(
      (101L, Seq(1.0, 0.0, 0.0)), // copy of 1
      (102L, Seq(0.0, 1.0, 0.0)), // copy of 2
      (109L, Seq(0.7, 0.7, 0.0))  // a hub equally close to 1 AND 2
    ).toDF("tgt_id", "tgt_vec")
    val out = Similarity.bitextMine(src, tgt, k = 2, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // the two true pairs survive; the hub pairs with nobody (its margin
    // argmax src prefers its own exact twin), src 3 scores margin 0
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 101L), (2L, 102L)),
      s"mined: ${out.toSeq}")
    assert(out.forall(p => p._3 == 1.0 && p._4 > 1.4),
      s"exact pairs mine at cosine 1 with a strong margin: ${out.toSeq}")
    intercept[IllegalArgumentException](
      Similarity.bitextMine(src, tgt, k = 0))
  }

  test("binaryTopK: hand-computed sign-bit Hamming; exact rescore reorders " +
    "within the window; self at rank 1") {
    val c = Seq(
      (1L, Seq(1.0, 1.0, 1.0, 1.0)),    // the query itself: hamming 0
      (2L, Seq(0.9, 0.9, 0.9, -0.1)),   // one sign flip: hamming 1
      (3L, Seq(5.0, 0.1, 0.1, 0.1)),    // hamming 0 but low cosine to q
      (4L, Seq(-1.0, -1.0, -1.0, -1.0)) // all flipped: hamming 4
    ).toDF("vec_id", "embedding")
    val q = Seq((1L, Seq(1.0, 1.0, 1.0, 1.0))).toDF("q_id", "q_vec")
    val out = Similarity.binaryTopK(q, c, dim = 4, k = 4, rescore = 1)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(out.head == ((1L, 0, 1.0, 1)), s"self first: ${out.head}")
    val byId = out.map(o => o._1 -> o._2).toMap
    assert(byId(2L) == 1 && byId(3L) == 0 && byId(4L) == 4,
      s"hand-computed hamming: $byId")
    // rescore: id 3 (hamming 0, cosine ~0.52) ranks BELOW id 2
    // (hamming 1, cosine ~0.83) — the exact pass reorders the proxy
    val ranks = out.map(o => o._1 -> o._4).toMap
    assert(ranks(2L) < ranks(3L), s"cosine must outrank the Hamming proxy: $ranks")
    assert(ranks(4L) == 4, "the anti-parallel vector ranks last")
    // a tight rescore window prunes BY hamming: rescore=1, k=2 keeps the
    // two hamming-smallest (ids 1, 3) regardless of cosine
    val tight = Similarity.binaryTopK(q, c, dim = 4, k = 2, rescore = 1)
      .collect().map(_.getLong(1)).toSet
    assert(tight == Set(1L, 3L), s"hamming prunes the rescore window: $tight")
    intercept[IllegalArgumentException](
      Similarity.binaryTopK(q, c, dim = 65, k = 1))
  }

  test("ivfPqTopKFixed guards: dim must split into m") {
    val vecs = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopKFixed(vecs.toDF("q_id", "q_vec"), vecs, dim = 3, k = 1, m = 2))
  }

  test("mmrRerank: a near-duplicate of the seed is demoted below a diverse hit") {
    // q aligned with x-axis; 1 and 2 are near-identical high-relevance
    // vectors, 3 is moderately relevant but orthogonal-ish to them
    val c = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.01, 0.0)), // near-duplicate of 1
      (3L, Seq(0.6, 0.0, 0.8))   // diverse: cos(q,3) = 0.6, cos(1,3) = 0.6
    ).toDF("vec_id", "embedding")
    val q = Seq((9L, Seq(1.0, 0.0, 0.0))).toDF("q_id", "q_vec")
    val out = Similarity.mmrRerank(q, c, k = 3, nCandidates = 3)
      .orderBy("mmr_rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    // seed = rank-1 (id 1); then 3 beats 2: 0.5*0.6 - 0.5*0.6 = 0 vs
    // 0.5*0.99995 - 0.5*0.99995 ≈ 0 ... compute: sim(q,2) ≈ 0.99995,
    // pair(2,1) ≈ 0.99995 → score ≈ 0; sim(q,3)=0.6, pair(3,1)=0.6 →
    // score = 0. Tie would go to id 2 — so use the EXACT values: the
    // rounded cosines make 2's penalty marginally exceed its relevance
    // (pair(2,1) == sim(q,2)), same for 3 — both scores are exactly 0,
    // tie to the lower id... assert the seed and that ALL of 1..3 appear
    // with distinct ranks, then pin the diversity case on a sharper
    // geometry below.
    assert(out.head == ((1L, 1)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    // sharper: 2 is a near-duplicate of 1 AND less relevant than 3
    val c2 = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.05, 0.0)),
      (3L, Seq(0.8, 0.0, 0.6))
    ).toDF("vec_id", "embedding")
    val out2 = Similarity.mmrRerank(q, c2, k = 3, nCandidates = 3)
      .orderBy("mmr_rank").collect().map(_.getLong(1))
    // sim(q,2)≈0.99875, pair(2,1)≈0.99875 → score≈0.0000;
    // sim(q,3)=0.8, pair(3,1)=0.8 → score 0. Hmm — equal again by
    // construction when q == vector 1. Use a query NOT in the corpus:
    assert(out2.head == 1L)
    val q3 = Seq((9L, Seq(1.0, 0.1, 0.0))).toDF("q_id", "q_vec")
    val out3 = Similarity.mmrRerank(q3, c2, k = 3, nCandidates = 3)
      .orderBy("mmr_rank").collect().map(_.getLong(1))
    // seed = 2 (closest to q3); then 3's low pair-sim to 2 must beat 1's
    // near-1.0 pair-sim to 2 despite 1's higher relevance
    assert(out3.head == 2L)
    assert(out3(1) == 3L, s"diversity must demote the near-duplicate: $out3")
    assert(out3(2) == 1L)
  }

  test("mmrRerank guards: k bounds and lambda range") {
    val q = Seq((9L, Seq(1.0, 0.0, 0.0))).toDF("q_id", "q_vec")
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(q, corpus, k = 5, nCandidates = 3))
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(q, corpus, k = 2, nCandidates = 3, lambda = 1.5))
  }

  test("randomProjection: basis vectors read the plane matrix back, scaled") {
    val planes = Similarity.projectionPlanes(4, 3, seed = 5L)
    val vecs = (0 until 4).map(j =>
      (j.toLong, Seq.tabulate(4)(d => if (d == j) 1.0 else 0.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(vecs, dim = 4, outDim = 3, seed = 5L)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(out.size == 12) // 4 vectors x 3 output dims
    val s = 1.0 / math.sqrt(3.0)
    for (j <- 0 until 4; i <- 0 until 3) {
      val expect = BigDecimal(planes(i)(j) * s)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((j.toLong, i)) == expect, s"vec $j pos $i")
    }
  }

  test("randomProjection: same seed reproduces, different seed diverges") {
    val rnd = new scala.util.Random(3)
    val vecs = Seq((1L, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    def run(seed: Long) = Similarity.randomProjection(vecs, 6, 4, seed)
      .collect().map(_.toSeq).toSet
    assert(run(9L) == run(9L))
    assert(run(9L) != run(10L))
  }

  test("knnGraph: exact copies are mutual rank-1 neighbors; k and cells bound output") {
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val planted = base ++ base.take(5).map { case (i, v) => (i + 1000L, v) }
    val vecs = planted.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(vecs, k = 3, nCells = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    graft.operators.Dedup.clearCaches()
    // every planted copy finds its original at rank 1, sim 1.0 — and back
    for (i <- 0L until 5L) {
      assert(g.exists(e => e._1 == i + 1000L && e._2 == i && e._4 == 1 && e._3 == 1.0),
        s"copy ${i + 1000L} missing original")
      assert(g.exists(e => e._1 == i && e._2 == i + 1000L && e._4 == 1 && e._3 == 1.0),
        s"original $i missing copy")
    }
    // no source exceeds k neighbors; ranks are 1..k without gaps
    g.groupBy(_._1).foreach { case (src, rows) =>
      val ranks = rows.map(_._4).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"src $src ranks $ranks")
      assert(ranks.size <= 3)
    }
  }

  test("knnGraph: a cell over maxCell is dropped whole, smaller cells survive") {
    val rnd = new scala.util.Random(11)
    // ids 0 and 1 are the k-means seeds (k lowest ids) — put one in each
    // group so the two clusters separate deterministically: thin around
    // -e1 (ids 0, 2, 3), fat around +e1 (id 1 and 4..33 -> 31 members)
    def thinV() = Seq(-5.0 + rnd.nextGaussian() * 0.01, rnd.nextGaussian() * 0.01)
    def fatV() = Seq(5.0 + rnd.nextGaussian() * 0.01, rnd.nextGaussian() * 0.01)
    val vecs = (Seq((0L, thinV()), (1L, fatV()), (2L, thinV()), (3L, thinV())) ++
      (4L until 34L).map(i => (i, fatV()))).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(vecs, k = 2, nCells = 2, iters = 3, maxCell = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.operators.Dedup.clearCaches()
    assert(g.nonEmpty)
    // the fat cell's vectors emit nothing; the thin cell still pairs up
    val thinIds = Set(0L, 2L, 3L)
    assert(g.forall { case (s, d) => thinIds(s) && thinIds(d) })
  }

  test("semanticDecontam: nearest bench argmax, threshold verdict, small-id tie-break") {
    val bench = Seq(
      (10L, Seq(1.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0))
    ).toDF("bench_id", "bench_vec")
    val c = Seq(
      (1L, Seq(2.0, 0.0, 0.0)),   // exact direction match → bench 10, sim 1
      (2L, Seq(1.0, 1.0, 0.0)),   // equidistant 45° tie → smaller bench_id 10
      (3L, Seq(0.0, 0.1, 5.0))    // near-orthogonal to both → clean
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontam(c, bench, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 10L, 1.0, true)))
    assert(out(1)._2 == 10L && !out(1)._4)             // tie → bench 10, below tau
    assert(math.abs(out(1)._3 - math.sqrt(0.5)) < 1e-6)
    assert(out(2)._2 == 20L && !out(2)._4)             // argmax still reported
  }

  test("hardNegativesTopK: same-label vectors never surface, ranks are exact") {
    val q = Seq((100L, Seq(1.0, 0.0, 0.0), 0)).toDF("q_id", "q_vec", "q_label")
    val out = Similarity.hardNegativesTopK(q, corpus, k = 4)
      .collect().sortBy(_.getInt(3))
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // label-0 vectors (1, 4) are excluded despite cos 1 and ≈1;
    // the negatives rank 3 (cos .707) above 2 (cos 0)
    assert(out.map(_._1).toSeq == Seq(3L, 2L))
    assert(math.abs(out(0)._2 - math.sqrt(0.5)) < 1e-4)
    assert(out(1)._2 == 0.0)
  }

  test("semanticDecontam rejects a non-cosine threshold") {
    val b = Seq((1L, Seq(1.0))).toDF("bench_id", "bench_vec")
    intercept[IllegalArgumentException] {
      Similarity.semanticDecontam(b.toDF("vec_id", "embedding"), b, tau = 1.5)
    }
  }
}
