package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", PAMI 2011) — the memory-compression path for ANN at
  * scale, complementing the IVF recall path ([[Similarity.ivfTopK]]) and
  * the index-free hyperplane path ([[Similarity.hyperplaneSig]]).
  *
  * The vector splits into `m` contiguous subspaces of `subDim` dims; each
  * subspace gets its own tiny k-means codebook; a vector is stored as `m`
  * one-byte codes (here `array<int>` — the storage win is m·log2(k) bits
  * vs m·subDim·32: dim 64 floats → 8 codes is a 32× shrink). Queries
  * score candidates with the ADC (asymmetric distance) trick: a per-query
  * lookup table of ‖q_s − c_{s,j}‖² for every (subspace, centroid), so a
  * candidate's approximate distance is `m` table lookups — no float
  * vector is ever touched at query time.
  *
  * Scale shape: codebooks and per-query LUTs are O(m·k) — always
  * broadcast; the corpus is touched by narrow projections only (encode's
  * one groupBy shuffles (id, s, cid) triples, never vectors; scoring is a
  * zero-shuffle projection against the broadcast LUT). Because subspaces
  * partition the dimensions, the ADC score is EXACTLY the squared L2 to
  * the reconstruction Σ_s‖q_s − c_{s,code_s}‖² = ‖q − recon(codes)‖² —
  * spec-pinned in PqSpec.
  *
  * Determinism (oracle contract): every distance is ONE left fold over
  * `zip_with` (the oracle mirrors the same fold); assignment ties break
  * by centroid id; codebook ids are dense ranks 0..k−1 of the k
  * smallest-id training vectors, so `codes` index the cid-ordered LUT
  * rows directly on both engines.
  *
  * Centroid means use INTEGER-GRID summation, not the DECIMAL(28,14)
  * route the earlier k-means build used, because fractional decimals
  * cannot cross engines bit-for-bit: (a) Spark rounds the
  * double→DECIMAL(p,14) cast HALF_UP while DuckDB rounds half-even, and
  * a double-from-float can land exactly on the digit-15 half boundary
  * (mantissa multiple of 5^14 ≤ 2^33 — happens in this corpus); (b)
  * DuckDB's DECIMAL(38,s)→DOUBLE cast double-rounds through
  * (double)int128 / (double)10^s and is 1 ulp off the correctly-rounded
  * value Java BigDecimal produces (verified empirically for s=24).
  * Instead each training input snaps to the 2^-30 grid —
  * `floor(x·2^30)` exact in both engines — and the mean is
  * `(double)Σq / n / 2^30`: the Σq sum is an exact integer
  * (DECIMAL(38,0); int→double is correctly rounded everywhere), the
  * `/n` is one correctly-rounded IEEE division, and the `/2^30` is an
  * exponent shift. The snap perturbs each input by < 1e-9 — noise far
  * below k-means' own sensitivity — and buys bit-identical codebooks on
  * any engine with exact integer sums.
  */
object Pq {

  /** Squared L2 distance as one `zip_with` + left-fold `aggregate` —
    * same accumulation order as [[Similarity.dot]], reproduced verbatim
    * by the oracle's `list_reduce(list_transform(...))`. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Explode vectors to (vid, s, sv) subvector rows — `m` rows per
    * vector, each a `subDim`-slice. `zip_with` would silently null-pad a
    * wrong-length vector, so a row-level `assert_true` fails loudly when
    * `size(vec) ≠ m·subDim`. */
  def subspaces(df: DataFrame, idCol: String, vecCol: String, m: Int, subDim: Int): DataFrame = {
    val guard = dimGuard(col(vecCol), m * subDim, "Pq")
    val vv = Similarity.asDoubleVec(col(vecCol))
    val slices = array((0 until m).map(j => slice(vv, j * subDim + 1, subDim)): _*)
    df.select((col(idCol) + coalesce(guard.cast("long"), lit(0L))).as("vid"),
      posexplode(slices).as(Seq("s", "sv")))
  }

  /** The row-level `size(vec) = dim` check of the vector operators
    * (PQ, [[Similarity.hyperplaneSig]], [[Similarity.randomProjection]]),
    * its message led by `who`: `zip_with` would silently null-pad a
    * wrong-length vector, so each caller folds this NULL-on-success
    * column into a value it emits. */
  private[llm] def dimGuard(vec: Column, dim: Int, who: String): Column =
    assert_true(size(vec) === dim,
      concat(lit(s"$who: expected dim $dim but vector has "),
        size(vec).cast("string"), lit(" elements")))

  /** The nearest centroid id of subvector `sv` among one subspace's
    * literal centroids: `array_min` over struct(d2, cid) — exactly
    * [[min_by]]'s total key (NaN d2 sorts greatest in both). */
  private def nearestCode(sv: Column, cents: IndexedSeq[IndexedSeq[Double]]): Column =
    array_min(transform(typedLit(cents),
      (cv, cid) => struct(l2sq(sv, cv).as("d2"), cid.as("cid")))).getField("cid")

  /** The codebook as the driver-held model artifact it is: `cbv(j)(c)` =
    * centroid `c` of subspace `j` — m·k·subDim doubles, the object FAISS
    * or MLlib would hold in memory. Training (below) maintains it on the
    * driver between Lloyd iterations and every consumer (encode, LUTs)
    * ships it into the plan as ONE `typedLit`, turning assign/encode/LUT
    * into zero-shuffle codegen projections: the lambda traversing the
    * literal is a single expression node evaluated k times at runtime,
    * so the tree stays O(m) at ANY k (no codegen-size cliff even at
    * production m=16, k=256). */
  type Codebook = IndexedSeq[IndexedSeq[IndexedSeq[Double]]]

  /** Collect a (s, cid, cv) codebook frame to the local model — m·k rows
    * by construction (tiny at any scale); k is derived from the row
    * count. */
  def collectCodebook(cb: DataFrame, m: Int): Codebook = {
    val rows = cb.select(col("s").cast("int"), col("cid").cast("int"), col("cv"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toIndexedSeq))
      .toMap
    require(rows.nonEmpty && rows.size % m == 0,
      s"codebook must carry m·k rows for m=$m subspaces, got ${rows.size}")
    val k = rows.size / m
    IndexedSeq.tabulate(m, k) { (j, c) =>
      rows.getOrElse((j, c),
        sys.error(s"codebook is missing the (s=$j, cid=$c) centroid"))
    }
  }

  /** Codes as ONE per-row expression against the literal codebook: for
    * each subspace j, the [[nearestCode]] of the row's j-th slice. Zero
    * shuffle, no explode, no join; the [[dimGuard]] rides every code. */
  def encodeCol(vec: Column, cbv: Codebook, m: Int, subDim: Int): Column = {
    val guard = coalesce(dimGuard(vec, m * subDim, "Pq").cast("int"), lit(0))
    val vv = Similarity.asDoubleVec(vec)
    array((0 until m).map(j =>
      nearestCode(slice(vv, j * subDim + 1, subDim), cbv(j)) + guard): _*)
  }

  /** Per-subspace Lloyd codebooks: (s, cid, cv) with cid dense 0..k−1.
    * Init = subvectors of the k smallest-id vectors (rank order, so ids
    * need not be dense). The centroids live on the DRIVER between
    * iterations (the MLlib shape — they are O(m·k), a model artifact):
    * each iteration is ONE distributed aggregation job — assign via
    * [[nearestCode]] (bit-identical to the previous min_by spelling),
    * then the decimal-exact integer-grid means per (s, cid) collected
    * back. The r14 shape paid a broadcast build + two exchanges + a
    * localCheckpoint job per iteration (≈5 scheduler jobs each); this is
    * 1 job and 1 exchange of m·k groups. Empty clusters keep their
    * previous centroid; the arithmetic (floor(x·2^30) summed as
    * DECIMAL(38,0), one division by count, one exponent shift) is
    * unchanged, so the codebooks reproduce bit-for-bit — proven by the
    * unchanged oracles of every PQ gate. */
  def codebooksLocal(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, iters: Int): Codebook = {
    val initRows = corpus.orderBy(idCol).limit(k)
      .select(Similarity.asDoubleVec(col(vecCol)).as("vv"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    require(initRows.nonEmpty, "Pq.codebooks: empty training corpus")
    // Every centroid starts as a distinct training vector, and an empty
    // cluster keeps its previous centroid — so fewer than k rows leaves
    // centroids with no starting point at all.
    require(initRows.length == k,
      s"Pq.codebooks: k=$k centroids need at least k training vectors, got ${initRows.length}")
    initRows.foreach(v => require(v.size == m * subDim,
      s"Pq: expected dim ${m * subDim} but init vector has ${v.size} elements"))
    // cid = rank of the vector's id among the k smallest (the collect
    // preserves the orderBy(idCol) order) — identical to the old
    // row_number-per-subspace init.
    var cbv: Codebook = IndexedSeq.tabulate(m)(j =>
      initRows.toIndexedSeq.map(v => v.slice(j * subDim, (j + 1) * subDim)))
    val meanCols = (0 until subDim).map { d =>
      (sum(floor(element_at(col("sv"), d + 1) * lit(1073741824.0))
        .cast("decimal(38,0)")).cast("double") /
        count(lit(1)) / lit(1073741824.0)).as(s"_mu$d")
    }
    for (_ <- 1 to iters) {
      // (s, cid, sv) rows via one posexplode with the cid computed
      // INLINE against the literal codebook — no broadcast join, no
      // (vid, s) exchange; the only shuffle is the m·k-group mean.
      val guard = coalesce(dimGuard(col(vecCol), m * subDim, "Pq").cast("int"), lit(0))
      val vv = Similarity.asDoubleVec(col(vecCol))
      val slices = array((0 until m).map { j =>
        val sv = slice(vv, j * subDim + 1, subDim)
        struct(lit(j).as("s"), (nearestCode(sv, cbv(j)) + guard).as("cid"), sv.as("sv"))
      }: _*)
      val means = corpus.select(explode(slices).as("e"))
        .select(col("e.s").as("s"), col("e.cid").as("cid"), col("e.sv").as("sv"))
        .groupBy("s", "cid")
        .agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          IndexedSeq.tabulate(subDim)(d => r.getDouble(2 + d))))
        .toMap
      cbv = IndexedSeq.tabulate(m, k)((j, c) => means.getOrElse((j, c), cbv(j)(c)))
    }
    cbv
  }

  /** [[codebooksLocal]] as the (s, cid, cv) frame the public API and the
    * specs consume — a LocalRelation, free to collect back. */
  def codebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    val cbv = codebooksLocal(corpus, idCol, vecCol, m, subDim, k, iters)
    import corpus.sparkSession.implicits._
    (for (j <- 0 until m; c <- 0 until k) yield (j, c, cbv(j)(c)))
      .toDF("s", "cid", "cv")
  }

  /** Encode each vector as its `m` nearest-centroid codes, subspace
    * order: (idCol, codes array<int>). A ZERO-shuffle per-row projection
    * against the literal codebook ([[encodeCol]]) — the r14 shape
    * (subspace explode → broadcast join → two groupBys) shuffled n·m
    * rows twice for what is a pure function of the row. `cb` is the
    * (s, cid, cv) frame ([[collectCodebook]] pulls its m·k rows local —
    * a model artifact, tiny at any corpus scale). */
  def encode(vectors: DataFrame, cb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame = {
    val cbv = collectCodebook(cb, m)
    vectors.select(col(idCol), encodeCol(col(vecCol), cbv, m, subDim).as("codes"))
  }

  /** Reconstruct the quantized vector from codes (centroid concat) —
    * the decode twin of [[encode]], used by PqSpec to pin the ADC
    * identity. */
  def reconstruct(codes: DataFrame, cb: DataFrame, idCol: String): DataFrame = {
    codes.select(col(idCol), posexplode(col("codes")).as(Seq("s", "cid")))
      .join(broadcast(cb), Seq("s", "cid"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("cv")))).as("sc"))
      .select(col(idCol), flatten(expr("transform(sc, x -> x.cv)")).as("recon"))
  }

  /** ADC top-k: per-query LUT of ‖q_s − c_{s,j}‖² (m·k doubles,
    * broadcast), candidate score = left fold of `m` LUT lookups over the
    * codes array — a zero-shuffle projection over the encoded corpus.
    * Ties break by corpus id; self-matches excluded. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, cb: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int, kTop: Int): DataFrame = {
    val cbv = collectCodebook(cb, m)
    val codes = corpus.select(col(idCol).as("corpus_id"),
      encodeCol(col(vecCol), cbv, m, subDim).as("codes"))
    val lut = queries.select(col(idCol).as("query_id"),
      lutCol(col(vecCol), cbv, m, subDim).as("luts"))
    Similarity.topKPerQuery(codes.crossJoin(broadcast(lut))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), adcScore),
      col("approx_d2").asc, kTop)
  }

  /** The ADC lookup table as one per-row expression against the literal
    * codebook: `luts[s][j]` = ‖q_s − c_{s,j}‖², cid order inside each
    * subspace (the literal is cid-ordered by construction). Replaces the
    * r14 subspace explode → broadcast join → two collect_list groupBys —
    * zero shuffle, same values (same [[l2sq]] fold per (s, cid)). The
    * wrong-length guard rides every lut element. */
  private def lutCol(vec: Column, cbv: Codebook, m: Int, subDim: Int): Column = {
    val guard = coalesce(dimGuard(vec, m * subDim, "Pq").cast("double"), lit(0.0))
    val vv = Similarity.asDoubleVec(vec)
    array((0 until m).map { j =>
      val sv = slice(vv, j * subDim + 1, subDim)
      transform(typedLit(cbv(j)), cv => l2sq(sv, cv) + guard)
    }: _*)
  }

  private def adcScore: Column =
    aggregate(zip_with(col("codes"), col("luts"),
        (c, l) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x).as("approx_d2")

  /** IVF-PQ search — the composed index (the FAISS `IVFPQ` shape):
    * a coarse quantizer routes each vector to its max-cosine centroid's
    * inverted list, the corpus is stored ONLY as (cluster_id, m codes)
    * — at production dims that is ~32× smaller than the raw vectors —
    * and a query ADC-scores just its own cluster's codes through the
    * broadcast LUT. Query-time cost drops by the cluster fan-out ON TOP
    * of PQ's per-candidate speedup, and the raw corpus vectors are
    * never read at query time (they exist only inside the offline
    * encode/assign passes).
    *
    * Plan shape: encode + assign are projections against the literal
    * codebook and centroid set; the (cluster_id, codes) frame meets the
    * broadcast (query LUT, probed cluster) frame in an equi-join on
    * cluster_id — never a cross join — followed by the per-query top-k
    * window on O(candidates-in-cluster) rows.
    *
    * `nprobe` is the recall knob ([[Similarity.ivfAssignMulti]]): the
    * query side carries its `nprobe` nearest clusters, widening the
    * equi-join's candidate volume linearly while the corpus side — each
    * vector stored in exactly ONE inverted list — stays untouched, so
    * no candidate can appear twice and no distinct is needed. Routing
    * loss (the true neighbor across a Voronoi boundary) is what extra
    * probes buy back; quantization loss needs more codebook bits. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      cb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, kTop: Int, nprobe: Int = 1): DataFrame = {
    // codes + cluster_id in ONE narrow projection over the corpus scan,
    // and LUT + probed clusters in one over the queries — both against
    // the literal codebook and the literal centroid set, so neither
    // side joins a model frame back by id.
    val cbv = collectCodebook(cb, m)
    val carr = Similarity.collectCentroids(centroids, idCol, vecCol)
    val codes = corpus.select(col(idCol).as("corpus_id"),
      Similarity.nearestCentroid(col(vecCol), carr).getField("cid").as("cluster_id"),
      encodeCol(col(vecCol), cbv, m, subDim).as("codes"))
    val qside = queries.select(col(idCol).as("query_id"),
        lutCol(col(vecCol), cbv, m, subDim).as("luts"),
        explode(Similarity.nearestCentroids(col(vecCol), carr, nprobe)).as("c"))
      .select(col("query_id"), col("luts"), col("c.cid").as("cluster_id"))
    Similarity.topKPerQuery(codes.join(broadcast(qside), "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cluster_id"), adcScore),
      col("approx_d2").asc, kTop)
  }

  /** Residual-encoded IVF-PQ — the fidelity FAISS's IVFPQ actually
    * ships: instead of PQ-coding the raw vector, each vector is coded as
    * its RESIDUAL from its coarse centroid (r = x − c), and the query
    * LUT is built on the query's residual from the SAME probed centroid
    * (q − c), so the ADC score approximates ‖(q−c) − r̂‖² = ‖q − x̂‖²
    * with x̂ = c + r̂. Residuals concentrate near zero once the coarse
    * quantizer has absorbed the between-cluster variance, so the same
    * m·log₂(k) bits quantize a much smaller cell — reconstruction error
    * drops versus raw-vector codes (spec-pinned on a two-cluster
    * corpus where raw PQ must straddle both clusters).
    *
    * Scale shape matches [[ivfPqTopK]] — codes + cluster id per corpus
    * vector, broadcast LUTs, equi-join on cluster_id — with one
    * difference: the LUT is per (query, probed cluster), because the
    * query residual changes with the centroid; `nprobe` therefore
    * multiplies only the broadcast LUT count (queries × nprobe × m·k
    * doubles), never the corpus side.
    *
    * Determinism: the residual subtraction is one `zip_with` both
    * engines fold identically; codebooks train on residuals through the
    * same integer-grid means as [[codebooks]]. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, iters: Int, kTop: Int,
      nprobe: Int = 1): DataFrame = {
    // Each residual takes its centroid's vector from the same literal
    // struct that names its cluster — no centroid-vector join on either
    // side. A NULL nearest centroid (empty centroid set) drops the row,
    // as the inner join it replaces did. Checkpointed: the training
    // collects (codebooksLocal) and the encode projection all read it.
    val carr = Similarity.collectCentroids(centroids, idCol, vecCol)
    val resid = corpus
      .select(col(idCol), Similarity.asDoubleVec(col(vecCol)).as("_vv"),
        Similarity.nearestCentroid(col(vecCol), carr).as("c"))
      .filter(col("c").isNotNull)
      .select(col(idCol), col("c.cid").as("cluster_id"),
        zip_with(col("_vv"), col("c.cv"), (x, c) => x - c).as("rv"))
      .localCheckpoint(true)
    val cbv = codebooksLocal(resid, idCol, "rv", m, subDim, k, iters)
    // codes next to the cluster id in ONE projection — no join back.
    val codes = resid.select(col(idCol).as("corpus_id"), col("cluster_id"),
      encodeCol(col("rv"), cbv, m, subDim).as("codes"))
    val qResid = queries
      .select(col(idCol).as("query_id"), Similarity.asDoubleVec(col(vecCol)).as("_qv"),
        explode(Similarity.nearestCentroids(col(vecCol), carr, nprobe)).as("c"))
      .select(col("query_id"), col("c.cid").as("cluster_id"),
        zip_with(col("_qv"), col("c.cv"), (x, c) => x - c).as("qrv"))
    // Per-(query, cluster) LUTs — the residual changes with the probed
    // centroid. Same zero-shuffle lutCol projection (the wrong-length
    // guard rides every element).
    val lut = qResid.select(col("query_id"), col("cluster_id"),
      lutCol(col("qrv"), cbv, m, subDim).as("luts"))
    Similarity.topKPerQuery(codes.join(broadcast(lut), "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cluster_id"), adcScore),
      col("approx_d2").asc, kTop)
  }

  /** ADC shortlist → EXACT rerank — the standard production composition
    * (FAISS's refine stage): [[ivfPqTopK]] produces a `shortlist`-sized
    * candidate list per query from the compressed codes, then ONLY those
    * candidates' raw vectors are read back for an exact squared-L2
    * rerank to the final `kTop`. This is where PQ's quantization error
    * gets bought back: the codes bound how many raw vectors are touched
    * (shortlist × queries, not the corpus), the rerank restores exact
    * ordering among them.
    *
    * Scale shape: the shortlist frame is O(queries · shortlist) — always
    * broadcast into the join against the corpus raw vectors, so the
    * corpus side is ONE broadcast-hash probe (no corpus shuffle, raw
    * vectors stream through the scan exactly once); the query vectors
    * broadcast too. Output carries `approx_rank` next to the exact rank
    * so the reorder the rerank performed is observable.
    *
    * Determinism: exact_d2 is the same one-fold [[l2sq]] both the exact
    * chains and the oracle replay; ties break on corpus_id. */
  def ivfPqRerank(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      cb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, kTop: Int, shortlist: Int, nprobe: Int = 1): DataFrame = {
    val short = ivfPqTopK(corpus, queries, centroids, cb, idCol, vecCol,
        m, subDim, shortlist, nprobe)
      .select(col("query_id"), col("corpus_id"), col("rank").as("approx_rank"))
    val cvec = corpus.select(col(idCol).as("corpus_id"),
      Similarity.asDoubleVec(col(vecCol)).as("cv"))
    val qvec = queries.select(col(idCol).as("query_id"),
      Similarity.asDoubleVec(col(vecCol)).as("qv"))
    Similarity.topKPerQuery(cvec.join(broadcast(short), "corpus_id")
      .join(broadcast(qvec), "query_id")
      .select(col("query_id"), col("corpus_id"), col("approx_rank"),
        l2sq(col("cv"), col("qv")).as("exact_d2")),
      col("exact_d2").asc, kTop)
  }
}
