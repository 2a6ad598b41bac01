package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructField, StructType}

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and an IVF (inverted-file) bucketed variant as the scale
  * path.
  *
  * All vector math is Catalyst HOFs (`zip_with` + `aggregate`) over
  * `array<double>` — a sequential left fold, so results are deterministic
  * bit-for-bit. No UDFs.
  *
  * Scale shape: the query side is broadcast (it is small by construction);
  * the corpus side never shuffles for brute force. IVF assigns each corpus
  * vector to its nearest centroid once (narrow map against the centroid
  * set, shipped into the plan as one literal), then probes only the
  * query's cluster — candidate count drops by ~|clusters|×, the standard
  * ANN recall/throughput trade.
  */
object Similarity {

  /** Cast a float embedding column to array<double> (exact widening) so
    * all downstream arithmetic is double-precision and
    * engine-reproducible. */
  def asDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Dot product via zip_with + left-fold aggregate. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity — the native fused expression
    * ([[graft.plans.CosineSimilarity]]): one pass over both arrays inside
    * whole-stage codegen instead of three HOF folds, bit-identical
    * results (same accumulation order). */
  def cosine(a: Column, b: Column): Column = graft.plans.CosineSimilarity(a, b)

  /** The composed-HOF formulation, kept as the reference semantics the
    * fused expression must match (see SimilaritySpec equivalence test). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k: every query (small, broadcast) against the
    * full corpus; rank with a per-query window. Ties broken by corpus id
    * for determinism. Excludes self-matches when ids collide. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), asDoubleVec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("qv"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), cosine(col("qv"), col("cv")).as("sim"))
    topKPerQuery(sims, col("sim").desc, k)
  }

  /** Assign each vector to its max-cosine centroid (ids from
    * `centroids`): (idCol, cluster_id), a narrow map ([[withClusterId]]). */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    withClusterId(vectors.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col("cluster_id"))

  /** Append `cluster_id` — the max-cosine centroid id — to every row of
    * `df`, keeping all existing columns, as a pure PROJECTION against
    * the [[collectCentroids]] literal ([[nearestCentroid]], whose key
    * sends equal csim to the smallest cid and sorts a NaN csim
    * greatest). The plan has no join node: the corpus is touched by
    * one narrow map (guide §2.4). An EMPTY centroid frame yields a NULL
    * cluster_id on every row (`array_max` of an empty array); no in-repo
    * caller constructs one. */
  def withClusterId(df: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("cluster_id",
      nearestCentroid(col(vecCol), collectCentroids(centroids, idCol, vecCol)).getField("cid"))

  /** The centroid set as the driver-held model artifact it is: ONE array
    * literal of struct(cid, cv) shipped into the plan — O(k) rows at any
    * corpus scale, the same model-as-literal shape as [[Pq.Codebook]].
    * `cid` keeps the id column's type. Build it once and reuse it when
    * several projections score against the same centroids. */
  private def centroidLiteral(cents: Seq[Row], cidType: DataType): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val elem = StructType(Seq(StructField("cid", cidType), StructField("cv", ArrayType(DoubleType))))
    GraftSqlBridge.column(Literal.create(cents, ArrayType(elem)))
  }

  /** A centroid frame collected into its [[centroidLiteral]]. */
  private[llm] def collectCentroids(centroids: DataFrame, idCol: String, vecCol: String): Column = {
    val cents = centroids.select(col(idCol).as("cid"), asDoubleVec(col(vecCol)).as("cv"))
    centroidLiteral(cents.collect().toSeq, cents.schema("cid").dataType)
  }

  /** `vec` scored against every centroid of a [[centroidLiteral]] as
    * struct(csim, −cid, cid, cv). Its order is the total key of a
    * `(csim DESC, cid)` ranking: equal csim → smallest cid first, and a
    * NaN csim sorts greatest.
    *
    * `vec` is widened to doubles ONCE per row: the widened array is
    * bound as the variable of a one-element outer `transform`, so the
    * per-centroid lambda reads it instead of re-widening it k times
    * (subexpression elimination does not reach into lambda bodies). */
  private def scoredCentroids(vec: Column, carr: Column): Column =
    element_at(transform(array(asDoubleVec(vec)), vv =>
      transform(carr, c =>
        struct(cosine(vv, c.getField("cv")).as("csim"),
          negate(c.getField("cid")).as("ncid"),
          c.getField("cid").as("cid"), c.getField("cv").as("cv")))), 1)

  /** The max-cosine centroid struct(csim, ncid, cid, cv) of `vec` — NULL
    * against an empty literal. */
  private[llm] def nearestCentroid(vec: Column, carr: Column): Column =
    array_max(scoredCentroids(vec, carr))

  /** The `nprobe` nearest centroid structs of `vec`, nearest first. */
  private[llm] def nearestCentroids(vec: Column, carr: Column, nprobe: Int): Column = {
    require(nprobe >= 1, s"nprobe=$nprobe must be >= 1")
    slice(sort_array(scoredCentroids(vec, carr), asc = false), 1, nprobe)
  }

  /** Multi-probe assignment: each vector's `nprobe` NEAREST centroids in
    * max-cosine order (probe_rank 1 = the [[ivfAssign]] cluster). The
    * query-side half of multi-probe IVF search: routing loss — the true
    * neighbor living just across a Voronoi boundary — is recovered by
    * widening the probed cluster list, at a linear cost multiplier of
    * `nprobe` on the candidate volume (the classic FAISS recall knob).
    * A projection plus `posexplode` against the centroid literal — no
    * join, no window. */
  def ivfAssignMulti(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val carr = collectCentroids(centroids, idCol, vecCol)
    vectors.select(col(idCol),
        posexplode(nearestCentroids(col(vecCol), carr, nprobe)).as(Seq("pos_", "c_")))
      .select(col(idCol), col("c_.cid").as("cluster_id"), (col("pos_") + 1).as("probe_rank"))
  }

  /** IVF top-k: probe only the query's own cluster. Returns
    * (query_id, corpus_id, cluster_id, sim, rank). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // cluster_id rides each side as a projection (withClusterId) — the
    // r14 shape joined a separate ivfAssign output back by id, paying
    // an exchange per side for a value that is a pure row function.
    val carr = collectCentroids(centroids, idCol, vecCol)
    val c = corpus.select(col(idCol).as("corpus_id"),
      nearestCentroid(col(vecCol), carr).getField("cid").as("cluster_id"),
      asDoubleVec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      nearestCentroid(col(vecCol), carr).getField("cid").as("cluster_id"),
      asDoubleVec(col(vecCol)).as("qv"))
    val sims = c.join(broadcast(q), "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cluster_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    topKPerQuery(sims, col("sim").desc, k)
  }

  /** Lloyd's k-means — the IVF INDEX BUILD step ([[ivfAssign]]/[[ivfTopK]]
    * consume the centroids this produces). The centroids live on the
    * DRIVER between iterations, the [[Pq.codebooksLocal]] shape: each
    * iteration is ONE distributed aggregation — assign against the
    * [[centroidLiteral]] ([[nearestCentroid]]), then the per-(cluster,
    * dimension) mean collected back — linear in corpus size, one
    * exchange of k·dim groups. The result is a local (cluster_id,
    * centroid) frame; cluster_id takes the id column's type.
    *
    * Determinism, the part that matters for reproducible index builds:
    * initial centroids are the `k` smallest-id vectors (so k > n yields
    * n centroids); assignment ties break by centroid id; and the
    * per-dimension MEAN sums in DECIMAL(28,14) — decimal addition is
    * exact and order-independent, where a double sum would vary with
    * partition merge order and could flip a borderline assignment
    * between runs. Empty clusters keep their previous centroid. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val v = corpus.select(col(idCol).as("cid"), asDoubleVec(col(vecCol)).as("cv"))
    val cidType = v.schema("cid").dataType
    var cents = v.orderBy("cid").limit(k).collect().toSeq
    for (_ <- 1 to iters) {
      val means = v
        .select(nearestCentroid(col("cv"), centroidLiteral(cents, cidType)).getField("cid").as("cid"),
          posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double") / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.get(0))
      cents = cents.map(c => means.get(c.get(0)).fold(c)(ms =>
        Row(c.get(0), ms.sortBy(_.getInt(1)).map(_.get(2)).toSeq)))
    }
    corpus.sparkSession.createDataFrame(cents.asJava, StructType(Seq(
      StructField("cluster_id", cidType), StructField("centroid", ArrayType(DoubleType)))))
  }

  /** Embedding-cosine near-duplicate pairs: candidate pairs are generated
    * INSIDE IVF clusters (never all-pairs — candidate count drops by
    * ~|clusters|× like any IVF probe), then filtered by cosine threshold.
    * Returns (id_a < id_b, cluster_id, sim). The standard trade: true
    * near-dups whose members land in different clusters are missed;
    * raise recall with more probes or finer thresholds, not all-pairs. */
  def nearDupPairs(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    // Pre-normalize ONCE per vector (|corpus| rows), so each candidate
    // pair costs a single fused dot instead of dot + two norms — at Σ
    // cluster² pair volume the per-pair work is the whole bill, and
    // cosine(x, y) ≡ dot(x/|x|, y/|y|). The oracle mirrors the same
    // unit-vector shape (element division, then the same left fold), so
    // both engines still compute bit-identical similarities.
    // cluster_id is a projection (withClusterId), not a joined-back
    // ivfAssign frame — one corpus exchange fewer.
    val v = withClusterId(corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol).as("id_"), col("cluster_id"), asDoubleVec(col(vecCol)).as("vv"))
      .withColumn("nrm", sqrt(graft.plans.DotProduct(col("vv"), col("vv"))))
      .select(col("id_"), col("cluster_id"),
        expr("transform(vv, e -> e / nrm)").as("uv"))
    v.alias("x").join(v.alias("y"),
        col("x.cluster_id") === col("y.cluster_id") && col("x.id_") < col("y.id_"))
      .select(col("x.id_").as("id_a"), col("y.id_").as("id_b"),
        col("x.cluster_id").as("cluster_id"),
        graft.plans.DotProduct(col("x.uv"), col("y.uv")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Number each query's candidates 1, 2, … into `rank` by `score`,
    * ties broken by corpus id — the one per-query ranking window. */
  private[llm] def rankPerQuery(df: DataFrame, score: Column, rank: String = "rank"): DataFrame =
    df.withColumn(rank,
      row_number().over(Window.partitionBy("query_id").orderBy(score, col("corpus_id"))))

  /** Each query's `k` best candidates by `score` ([[rankPerQuery]]). */
  private[llm] def topKPerQuery(df: DataFrame, score: Column, k: Int): DataFrame =
    rankPerQuery(df, score).filter(col("rank") <= k)

  /** Euclidean (L2) distance — the native fused expression
    * ([[graft.plans.EuclideanDistance]]): one allocation-free pass in
    * whole-stage codegen, bit-identical to the HOF fold (same
    * accumulation order; equivalence-tested in SimilaritySpec). */
  def l2Dist(a: Column, b: Column): Column = graft.plans.EuclideanDistance(a, b)

  /** The composed-HOF formulation, kept as the reference semantics the
    * fused expression must match. Same left-fold order as [[dot]], so
    * any engine folding left-to-right reproduces it bit-for-bit. */
  def l2DistHof(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** Brute-force L2 top-k (nearest by Euclidean distance) — the second
    * retrieval modality next to [[bruteForceTopK]]'s cosine; rank fusion
    * ([[rrfFuse]]) combines the two. Same shape: query side broadcast,
    * corpus never shuffles. Ties break by corpus id. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), asDoubleVec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("qv"))
    topKPerQuery(c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), l2Dist(col("qv"), col("cv")).as("dist")),
      col("dist").asc, k)
  }

  /** Reciprocal-rank fusion of retrieval lists — the standard hybrid-
    * retrieval combiner (Cormack et al., SIGIR'09): each list contributes
    * `1/(kConst + rank)` to a (query, doc) pair's score, absent lists
    * contribute 0. Inputs need columns (query_id, corpus_id, rank).
    *
    * Determinism across engines: each contribution is rounded to 12
    * decimals and SUMMED IN DECIMAL — decimal addition is exact and
    * order-independent, where a double sum would depend on the
    * (engine-specific) aggregation order. The fused rank breaks score
    * ties by corpus id. Cost: one union + one hash aggregate over k·|lists|
    * rows per query — the lists are top-k prefixes, so this is tiny
    * relative to retrieval itself. */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contrib = rankings
      .map(_.select(col("query_id"), col("corpus_id"),
        round(lit(1.0) / (lit(kConst.toDouble) + col("rank").cast("double")), 12)
          .cast("decimal(18,12)").as("c")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy("query_id", "corpus_id")
      .agg(sum(col("c")).as("rrf_dec"), count(lit(1)).cast("int").as("n_lists"))
    rankPerQuery(fused, col("rrf_dec").desc, "fused_rank")
      .select(col("query_id"), col("corpus_id"), col("n_lists"),
        col("rrf_dec").cast("double").as("rrf_score"), col("fused_rank"))
  }

  /** Component `i` of random hyperplane `k`: +1 when the first hex nibble
    * of `md5("k_i")` is odd, else −1 — a Rademacher projection that is a
    * pure function of (k, i), so any engine with md5 regenerates the
    * exact same hyperplanes (the DuckDB oracle recomputes the signs in
    * SQL; no RNG state to ship). */
  def hyperplaneSign(k: Int, i: Int): Double = md5Sign(s"${k}_$i")

  /** +1 when the first hex nibble of md5(`seed`) is odd, else −1. */
  private def md5Sign(seed: String): Double = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** Sign-random-projection (SimHash-for-vectors, Charikar '02) LSH
    * signature: bit `k` of the integer signature is set when the
    * projection of the vector onto deterministic ±1 hyperplane `k`
    * ([[hyperplaneSign]]) is ≥ 0. P[bits agree] = 1 − θ/π, so Hamming
    * distance estimates cosine angle — the index-free ANN complement to
    * IVF: no centroid build, pure per-row projection, ZERO shuffle.
    * The hyperplane matrix ships as ONE literal — an
    * `array<struct<bit_weight, plane>>` folded by a single `aggregate`
    * HOF — so the expression tree stays a handful of nodes at ANY
    * (dim, nBits): at production embedding dims (768–4096) × 32 bits a
    * per-bit formulation would be 32 independent HOF folds and a tree
    * that grows with nBits, flirting with the codegen method-size
    * cliff; this shape is O(1) nodes and never leaves whole-stage
    * codegen (r7 advice; guarded by the dim=768 spec).
    *
    * `dim` MUST equal the actual vector length: `zip_with` pads a
    * shorter side with null, which would turn every projection NULL and
    * emit all-zero signatures silently. A row-level guard
    * ([[Pq.dimGuard]]) makes that misconfiguration fail loudly instead. */
  def hyperplaneSig(vecCol: Column, dim: Int, nBits: Int = 16): Column = {
    require(nBits <= 32, "signature packs into an int/long")
    // (1L << k, plane_k): the bit weight rides inside the literal so the
    // fold needs no shift-by-column (Column shiftleft only takes Int).
    val planes = typedLit(Seq.tabulate(nBits) { k =>
      (1L << k, Seq.tabulate(dim)(i => hyperplaneSign(k, i)))
    })
    val sig = aggregate(planes, lit(0L), (acc, p) =>
      acc + when(dot(asDoubleVec(vecCol), p.getField("_2")) >= 0,
        p.getField("_1")).otherwise(lit(0L)))
    sig + coalesce(Pq.dimGuard(vecCol, dim, "hyperplaneSig").cast("long"), lit(0L))
  }

  /** Deterministic ±1 sign for the random-projection matrix cell
    * (j, i) — md5 parity over the `rp_` seed family, DISJOINT from
    * [[hyperplaneSign]]'s `k_i` family so the LSH bits and the reduced
    * coordinates stay independent. */
  def rpSign(j: Int, i: Int): Double = md5Sign(s"rp_${j}_$i")

  /** Johnson–Lindenstrauss random projection (Achlioptas '01 dense ±1
    * variant): dim-d vectors reduce to `k` coordinates `y_j =
    * (Σ_i s_ji·x_i)/√k` with deterministic md5-derived signs
    * ([[rpSign]]) — pairwise L2 distances are preserved within (1±ε)
    * for k = O(ln n / ε²), so downstream ANN / clustering runs on the
    * reduced vectors at k/d the cost. The workhorse pre-step for
    * embedding pipelines whose raw dim (768–4096) is 10× what distance
    * computations need.
    *
    * Scale shape: a ZERO-SHUFFLE per-row projection (same class as
    * [[hyperplaneSig]]); the k×d sign matrix ships as ONE
    * `typedLit` literal traversed by `transform` + one fold per output
    * coordinate — O(1) expression nodes at any (dim, k), inside
    * whole-stage codegen.
    *
    * Determinism: each coordinate is a sequential left fold (same order
    * as any engine's `list_reduce`), then ONE correctly-rounded divide
    * by √k — bit-identical across engines. `dim` must equal the vector
    * length; `zip_with`'s silent null-padding is intercepted by a loud
    * row-level guard (same contract as [[hyperplaneSig]]). */
  def randomProjection(vecCol: Column, dim: Int, k: Int): Column = {
    require(k >= 1, "need at least one output coordinate")
    val planes = typedLit(Seq.tabulate(k)(j => Seq.tabulate(dim)(i => rpSign(j, i))))
    val scale = lit(math.sqrt(k.toDouble))
    when(coalesce(Pq.dimGuard(vecCol, dim, "randomProjection").cast("boolean"), lit(true)),
      transform(planes, p => dot(asDoubleVec(vecCol), p) / scale))
  }

  /** Banded-LSH candidate pairs over hyperplane signatures: the `nBits`
    * signature splits into `nBits/bandBits` bands; vectors meet when any
    * band agrees EXACTLY (the classic OR-of-ANDs amplification), then
    * survivors are verified by full-signature Hamming distance ≤
    * `maxHamming` — `bit_count(xor)`, both codegen'd built-ins. The
    * candidate core ([[Dedup.buckets]], [[Dedup.bucketPairs]]) with
    * struct(id, sig) members: the signature rides INTO the bucket, so
    * verification is inline on the expanded pair and the `sigs` lineage
    * (and the 16×dim dot-product projection feeding it) is evaluated
    * exactly ONCE — no re-join, no persist.
    *
    * SCALE WARNING (r9 stress finding): `bandBits` fixes the bucket
    * count at 2^bandBits per band, so Σ bucket² grows QUADRATICALLY in
    * the corpus once buckets saturate — the default 4-bit bands (16
    * buckets) took 45 s at a 20k-vector corpus vs 1.9 s at 2k (≈24× for
    * 10×). At scale either raise `bandBits` with a wider signature, or
    * set `maxBucket`/`reps` to bound oversized buckets with the core's
    * member↔representative star (star pairs are still Hamming-verified).
    * The default (`maxBucket = Int.MaxValue`) keeps the exact expansion. */
  def hyperplanePairs(sigs: DataFrame, idCol: String, sigCol: String,
      nBits: Int = 16, bandBits: Int = 4, maxHamming: Int = 4,
      maxBucket: Int = Int.MaxValue, reps: Int = 8): DataFrame = {
    require(nBits % bandBits == 0, "bandBits must divide nBits")
    require(reps >= 1, s"reps=$reps must be >= 1")
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until nBits / bandBits).map { b =>
      struct(lit(b).as("band"),
        shiftright(col(sigCol), b * bandBits).bitwiseAND(lit(mask))
          .cast("string").as("band_hash"))
    }
    val bands = sigs
      .select(col(idCol), col(sigCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col(sigCol),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    val member = struct(col(idCol).as("id"), col(sigCol).as("sig"))
    Dedup.bucketPairs(Dedup.buckets(bands, member, "band", "band_hash"), maxBucket, reps)
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-vector min-max scalar quantization to 8-bit codes — the storage
    * path for ANN at scale: a 4-byte float becomes a 1-byte code plus two
    * per-vector doubles, a 4× shrink of the dominant column before the
    * IVF/LSH index is built. `q[i] = round(255·(v[i]−mn)/(mx−mn))`
    * computed in DOUBLE from the exact float inputs, so any engine
    * reproduces the codes bit-for-bit (constant vectors encode as all
    * zeros). Dequantize with `mn + q·(mx−mn)/255`. Pure projection: no
    * shuffle, stays in codegen. */
  def quantize(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val outs = df.columns.filterNot(_ == vecCol).map(col) ++ Seq(
      array_min(col(vecCol)).cast("double").as("q_min"),
      array_max(col(vecCol)).cast("double").as("q_max"),
      expr(s"""transform($vecCol, v -> CAST(coalesce(
              |  round((CAST(v AS DOUBLE) - CAST(array_min($vecCol) AS DOUBLE)) /
              |    nullif(CAST(array_max($vecCol) AS DOUBLE) -
              |           CAST(array_min($vecCol) AS DOUBLE), 0.0d) * 255.0d),
              |  0.0d) AS INT))""".stripMargin).as("codes"))
    df.select(outs.toIndexedSeq: _*)
  }
}
