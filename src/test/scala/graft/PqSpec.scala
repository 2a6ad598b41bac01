package graft

import org.apache.spark.sql.functions._

import graft.llm.Pq

/** Product quantization ([[graft.llm.Pq]]): codebook shape, code range,
  * the ADC identity (approximate distance ≡ exact squared L2 to the
  * reconstructed vector — exact because subspaces PARTITION the dims),
  * and loud failure on dim mismatch.
  */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private val m = 4
  private val subDim = 4
  private val dim = m * subDim

  // 12 deterministic dim-16 vectors with some cluster structure.
  private def vecs = {
    val rows = (0 until 12).map { i =>
      val base = i % 3
      (i.toLong, Array.tabulate(dim)(j =>
        math.sin(base * 7.0 + j) + 0.01 * i * math.cos(j * 3.0)))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("codebooks: m*k rows, dense cids, subDim-length centroids") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val rows = cb.collect()
    assert(rows.length == m * 3)
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet == (0 until m).toSet)
    bySub.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2))
      g.foreach(r => assert(r.getSeq[Double](2).length == subDim))
    }
  }

  test("encode: one codes row per vector, m codes each, all in [0, k)") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val codes = Pq.encode(vecs, cb, "vec_id", "embedding", m, subDim).collect()
    assert(codes.length == 12)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == m)
      assert(cs.forall(c => c >= 0 && c < 3))
    }
  }

  test("ADC identity: approx_d2 equals exact squared L2 to the reconstruction") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val queries = vecs.filter(col("vec_id") < 3)
    val adc = Pq.adcTopK(vecs, queries, cb, "vec_id", "embedding", m, subDim, kTop = 11)
    val recon = Pq.reconstruct(
      Pq.encode(vecs, cb, "vec_id", "embedding", m, subDim), cb, "vec_id")
    val qv = queries.select(col("vec_id").as("query_id"),
      graft.llm.Similarity.asDoubleVec(col("embedding")).as("qv"))
    val joined = adc
      .join(recon.withColumnRenamed("vec_id", "corpus_id"), "corpus_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("corpus_id"), col("approx_d2"),
        Pq.l2sq(col("qv"), col("recon")).as("exact_recon_d2"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (a, e) = (r.getDouble(2), r.getDouble(3))
      // Σ_s ‖q_s − c_s‖² = ‖q − recon‖² up to float association across
      // the m per-subspace partial folds.
      assert(math.abs(a - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"ADC ${a} vs recon ${e}")
    }
  }

  test("adcTopK ranks by approximate distance, excludes self, respects kTop") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val top = Pq.adcTopK(vecs, vecs.filter(col("vec_id") === 0), cb,
      "vec_id", "embedding", m, subDim, kTop = 5).collect()
    assert(top.length == 5)
    assert(!top.exists(r => r.getLong(1) == 0L))
    val ds = top.sortBy(_.getInt(3)).map(_.getDouble(2))
    assert(ds.zip(ds.tail).forall { case (x, y) => x <= y })
  }

  test("ivfPqTopK: candidates stay in the query's cluster, scores match adcTopK") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val centroids = vecs.filter(col("vec_id") < 3)
    val queries = vecs.filter(col("vec_id") >= 9)
    val out = Pq.ivfPqTopK(vecs, queries, centroids, cb,
      "vec_id", "embedding", m, subDim, kTop = 3).collect()
    assert(out.nonEmpty)
    // every (query, corpus) pair shares the cluster both sides were routed to
    val assign = graft.llm.Similarity
      .ivfAssign(vecs, centroids, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- out) {
      assert(assign(r.getAs[Long]("query_id")) === r.getAs[Long]("cluster_id"))
      assert(assign(r.getAs[Long]("corpus_id")) === r.getAs[Long]("cluster_id"))
    }
    // ADC scores agree with the cluster-blind adcTopK for shared pairs
    val adc = Pq.adcTopK(vecs, queries, cb, "vec_id", "embedding", m, subDim, kTop = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (r <- out) {
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))
      assert(adc(key) === r.getAs[Double]("approx_d2"), s"score drift at $key")
    }
    // ranks are contiguous per query starting at 1
    for ((_, rs) <- out.groupBy(_.getAs[Long]("query_id")))
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rs.length))
  }

  test("multi-probe recovers a neighbor across the Voronoi boundary; nprobe=1 unchanged") {
    // Two well-separated centroid directions c0/c1; query q sits near c0's
    // side of the boundary, but its TRUE nearest neighbor n leans just
    // over into c1's cell. Single-probe (q routes to c0) structurally
    // cannot return n; nprobe=2 probes c1 too and finds it.
    def unit(theta: Double) = Array.tabulate(dim)(j =>
      if (j == 0) math.cos(theta) else if (j == 1) math.sin(theta) else 0.0)
    val c0 = unit(0.0); val c1 = unit(math.Pi / 2)
    val q = unit(math.Pi / 4 - 0.1)      // cos-closer to c0
    val n = unit(math.Pi / 4 + 0.1)      // q's nearest corpus vec, in c1's cell
    val far = unit(-0.7)                 // c0-cell decoy, farther from q
    val corpus = Seq(0L -> c0, 1L -> c1, 2L -> n, 3L -> far, 10L -> q)
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 10L)
    val centroids = corpus.filter(col("vec_id") < 2)
    val cb = Pq.codebooks(corpus, "vec_id", "embedding", m, subDim, k = 4, iters = 2)
    def ids(nprobe: Int): Seq[Long] =
      Pq.ivfPqTopK(corpus, queries, centroids, cb, "vec_id", "embedding",
        m, subDim, kTop = 1, nprobe = nprobe).collect().map(_.getAs[Long]("corpus_id")).toSeq
    assert(ids(1) !== Seq(2L), "single probe must miss the cross-boundary neighbor")
    assert(ids(2) === Seq(2L), "nprobe=2 must recover the true neighbor")
    // default nprobe=1 path is byte-identical to the pre-knob behavior
    val out1 = Pq.ivfPqTopK(vecs, vecs.filter(col("vec_id") >= 9),
      vecs.filter(col("vec_id") < 3), Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, 3, 2),
      "vec_id", "embedding", m, subDim, kTop = 3).collect()
    val assign = graft.llm.Similarity
      .ivfAssign(vecs, vecs.filter(col("vec_id") < 3), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- out1)
      assert(assign(r.getAs[Long]("query_id")) === r.getAs[Long]("cluster_id"))
  }

  test("ivfPqRerank: exact order wins over ADC order within the shortlist") {
    val cb = Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, k = 3, iters = 2)
    val centroids = vecs.filter(col("vec_id") < 3)
    val queries = vecs.filter(col("vec_id") >= 9)
    val shortlist = 6
    val short = Pq.ivfPqTopK(vecs, queries, centroids, cb,
        "vec_id", "embedding", m, subDim, kTop = shortlist)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .toSet
    val out = Pq.ivfPqRerank(vecs, queries, centroids, cb,
      "vec_id", "embedding", m, subDim, kTop = 3, shortlist = shortlist)
      .orderBy("query_id", "rank").collect()
    assert(out.nonEmpty)
    // reranked results are drawn from the ADC shortlist only...
    for (r <- out)
      assert(short((r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    // ...and within each query they are ordered by EXACT squared L2
    // (ties impossible here), approx_rank preserved from the shortlist.
    val raw = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    for ((q, rs) <- out.groupBy(_.getAs[Long]("query_id"))) {
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val exact = sorted.map(r =>
        d2(raw(q), raw(r.getAs[Long]("corpus_id"))))
      assert(exact.sorted.toSeq === exact.toSeq, s"query $q not exact-ordered")
      sorted.foreach(r =>
        assert(math.abs(r.getAs[Double]("exact_d2") -
          d2(raw(q), raw(r.getAs[Long]("corpus_id")))) < 1e-12))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to sorted.length))
    }
  }

  test("ivfPqResidualTopK: ADC identity vs c + reconstructed residual; stays in-cluster") {
    val centroids = vecs.filter(col("vec_id") < 3)
    val queries = vecs.filter(col("vec_id") >= 9)
    val out = Pq.ivfPqResidualTopK(vecs, queries, centroids,
      "vec_id", "embedding", m, subDim, k = 3, iters = 2, kTop = 3).collect()
    assert(out.nonEmpty)
    // candidates share the query's coarse cluster
    val assign = graft.llm.Similarity
      .ivfAssign(vecs, centroids, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- out) {
      assert(assign(r.getAs[Long]("query_id")) === r.getAs[Long]("cluster_id"))
      assert(assign(r.getAs[Long]("corpus_id")) === r.getAs[Long]("cluster_id"))
    }
    // ADC identity: approx_d2 == ||q - (c + recon(residual codes))||^2 —
    // exact because subspaces partition the dims and the query LUT is
    // built on q - c of the same centroid.
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val centArr = centroids.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val centVec = centroids.select(col("vec_id").as("cluster_id"),
      col("embedding").as("_cv0"))
    val resid = vecs.join(
        graft.llm.Similarity.ivfAssign(vecs, centroids, "vec_id", "embedding"), "vec_id")
      .join(centVec, "cluster_id")
      .select(col("vec_id"),
        zip_with(col("embedding"), col("_cv0"), (x, c) => x - c).as("rv"))
    val cb = Pq.codebooks(resid, "vec_id", "rv", m, subDim, k = 3, iters = 2)
    val recon = Pq.reconstruct(
        Pq.encode(resid, cb, "vec_id", "rv", m, subDim), cb, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for (r <- out) {
      val q = raw(r.getAs[Long]("query_id"))
      val c = centArr(r.getAs[Long]("cluster_id"))
      val rr = recon(r.getAs[Long]("corpus_id"))
      val exact = q.indices.foldLeft(0.0) { (acc, i) =>
        val d = q(i) - (c(i) + rr(i)); acc + d * d
      }
      assert(math.abs(exact - r.getAs[Double]("approx_d2")) < 1e-9,
        s"ADC identity broken at ${(r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))}")
    }
    // and the residual codes are genuinely different from raw-vector codes
    val rawCodes = Pq.encode(vecs, Pq.codebooks(vecs, "vec_id", "embedding", m, subDim, 3, 2),
      "vec_id", "embedding", m, subDim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val residCodes = Pq.encode(resid, cb, "vec_id", "rv", m, subDim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rawCodes.keySet.exists(id => rawCodes(id) != residCodes(id)))
  }

  test("ivfPqResidualTopK: rows pinned bit for bit at nprobe 1 and 2") {
    def rows(nprobe: Int, kTop: Int) = {
      val out = Pq.ivfPqResidualTopK(vecs, vecs.filter(col("vec_id") >= 9),
        vecs.filter(col("vec_id") < 3), "vec_id", "embedding", m, subDim,
        k = 3, iters = 2, kTop = kTop, nprobe = nprobe)
      assert(out.schema.simpleString ===
        "struct<query_id:bigint,corpus_id:bigint,cluster_id:bigint,approx_d2:double,rank:int>")
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getInt(4))).sorted.toSeq
    }
    val own = Seq(
      (9L, 0L, 0L, 4587830290637771496L, 3), (9L, 3L, 0L, 4586987043195651742L, 2),
      (9L, 6L, 0L, 4573467328477380171L, 1),
      (10L, 1L, 1L, 4587830290637771499L, 3), (10L, 4L, 1L, 4586987043195651745L, 2),
      (10L, 7L, 1L, 4573467328477380179L, 1),
      (11L, 2L, 2L, 4587830290637771497L, 3), (11L, 5L, 2L, 4586987043195651744L, 2),
      (11L, 8L, 2L, 4573467328477380175L, 1))
    assert(rows(1, 3) === own)
    // The second probe adds the next cluster's candidates; (9, 7) and
    // (9, 10) tie on approx_d2 and rank by corpus id.
    assert(rows(2, 6) === (own ++ Seq(
      (9L, 4L, 1L, 4616193179900199757L, 4), (9L, 7L, 1L, 4616209761322332555L, 5),
      (9L, 10L, 1L, 4616209761322332555L, 6),
      (10L, 5L, 2L, 4616012645283957704L, 4), (10L, 8L, 2L, 4616063424079784060L, 5),
      (10L, 11L, 2L, 4616063424079784060L, 6),
      (11L, 1L, 1L, 4616244876279244205L, 6), (11L, 7L, 1L, 4616128519078263720L, 4),
      (11L, 10L, 1L, 4616128519078263720L, 5))).sorted)
  }

  test("subspaces fails loudly on a wrong-length vector") {
    val bad = Seq((0L, Array.fill(dim + 1)(0.5))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pq.subspaces(bad, "vec_id", "embedding", m, subDim).collect()
    }
    assert(ex.getMessage != null)
  }

  test("codebooks: fewer training vectors than k fails with a clear message") {
    val ex = intercept[IllegalArgumentException] {
      Pq.codebooks(vecs.filter(col("vec_id") < 2), "vec_id", "embedding",
        m, subDim, k = 3, iters = 1)
    }
    assert(ex.getMessage.contains("k=3 centroids need at least k training vectors, got 2"))
  }

  test("withClusterId: an empty centroid set yields a NULL cluster_id, rows kept") {
    val none = vecs.filter(lit(false))
    val out = graft.llm.Similarity.withClusterId(vecs, none, "vec_id", "embedding")
    assert(out.columns.toSeq === Seq("vec_id", "embedding", "cluster_id"))
    val rows = out.select("cluster_id").collect()
    assert(rows.length === 12 && rows.forall(_.isNullAt(0)))
  }

  test("withClusterId plans no join: the centroids ride the projection as a literal") {
    val plan = graft.llm.Similarity.withClusterId(vecs, vecs.filter(col("vec_id") < 3),
      "vec_id", "embedding").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }
}
