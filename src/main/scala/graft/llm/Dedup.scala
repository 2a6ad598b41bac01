package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * (banded), SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - Exact dedup is one hash-aggregate shuffle on the dedup key.
  *   - MinHash signatures are computed with `numHashes` MIN aggregates in a
  *     single `groupBy(doc)` pass (map-side partial combine) — NOT by
  *     exploding a (shingle × seed) cross product.
  *   - Candidate generation is the candidate core ([[buckets]],
  *     [[bucketPairs]], [[withSides]]): docs only meet inside a (band,
  *     band_hash) bucket, never all-pairs.
  *   - Jaccard verification runs only on LSH candidate pairs.
  * No collect() anywhere; every step is a DataFrame the optimizer can see.
  */
object Dedup {

  /** Exact-dedup survivors: one row per distinct key with the minimum
    * tie-break id (deterministic, unlike dropDuplicates) and the
    * duplicate count. */
  def exactDedupSummary(df: DataFrame, keyCols: Seq[String], tieBreakCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      min(col(tieBreakCol)).as("keep_" + tieBreakCol),
      count(lit(1)).as("dup_count"))

  /** Deduplicated frame: keeps exactly the row whose tie-break id is the
    * group minimum (deterministic dropDuplicates). */
  def dropExactDuplicates(df: DataFrame, keyCols: Seq[String], tieBreakCol: String): DataFrame = {
    val keep = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(tieBreakCol)).as(tieBreakCol))
    df.join(keep, keyCols :+ tieBreakCol, "left_semi")
  }

  /** Word `n`-gram shingles of the normalized text, exploded to one row
    * per distinct (id, shingle). Documents shorter than `n` tokens
    * contribute their whole text as a single shingle.
    *
    * Dedup happens per document with `array_distinct` BEFORE the explode
    * — a local array op, equivalent to a global (id, shingle) distinct
    * but with ZERO shuffle of the shingle stream (the largest
    * intermediate in the dedup pipeline, ~10× corpus size at 100 TB).
    * `dedup=false` keeps duplicate shingles (multiset semantics). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      dedup: Boolean = true): DataFrame =
    shingleArray(df, idCol, textCol, n, dedup)
      .select(col(idCol), explode(col("shingles")).as("shingle"))

  /** The j-th MinHash hash of one shingle: an 8-hex-char (32-bit) window
    * of md5(shingle) for j<4, of md5('#'+shingle) for j≥4. Two md5
    * evaluations yield all 8 hash functions — disjoint windows of one
    * digest are independent bits, so each window is its own member of
    * the hash family (4× fewer digests than the md5-per-j formulation;
    * measured the signature stage is the MinHash pipeline's dominant
    * cost). Fixed-width lowercase hex compares lexicographically ==
    * numerically, so MIN over strings is MIN over the 32-bit values,
    * and any engine with md5+substring reproduces it exactly. */
  private def windowHash(shingle: Column, j: Int): Column = {
    val digest = if (j < 4) md5(shingle) else md5(concat(lit("#"), shingle))
    substring(digest, (j % 4) * 8 + 1, 8)
  }

  /** MinHash signatures: one row per id with columns `h0..h{k-1}`, where
    * `hj = min over shingles of` [[windowHash]]. Single groupBy pass,
    * k MIN aggregates — map-side combinable, one shuffle on the id.
    * Prefer [[minhashSignaturesNative]] when the shingles are still
    * per-document arrays: it needs NO shuffle at all. */
  def minhashSignatures(shingleDf: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    require(numHashes <= 8, "windowed scheme derives at most 8 hashes from 2 digests")
    val aggs = (0 until numHashes).map(j => min(windowHash(col("shingle"), j)).as(s"h$j"))
    shingleDf.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The shingle set kept as ONE array column per document (no explode);
    * [[shingles]] is its explode. */
  def shingleArray(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      dedup: Boolean = true): DataFrame = {
    val parts = (1 to n).map(j => s"element_at(toks, i + $j)").mkString(", ")
    val arrayExpr =
      s"""CASE WHEN size(toks) >= $n
         |  THEN transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', $parts))
         |  ELSE array(array_join(toks, ' ')) END""".stripMargin
    val wrapped = if (dedup) s"array_distinct($arrayExpr)" else arrayExpr
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idCol), expr(wrapped).as("shingles"))
  }

  /** ZERO-SHUFFLE MinHash signatures: because a document's shingles are a
    * per-row array, each `hj = min over shingles of` [[windowHash]] is a
    * pure projection (`array_min(transform(...))`) — no explode, no
    * exchange, no aggregate. At 100 TB the entire signature stage is a
    * narrow map; the only shuffle left in the LSH pipeline is the
    * candidate-pair bucket aggregation. The two digest arrays are
    * projected once and all 8 windows read from them. Identical output
    * to [[minhashSignatures]] over [[shingles]] (asserted in
    * LlmOpsSpec). */
  def minhashSignaturesNative(shingleArrayDf: DataFrame, idCol: String,
      numHashes: Int = 8): DataFrame = {
    require(numHashes <= 8, "windowed scheme derives at most 8 hashes from 2 digests")
    val withDigests = shingleArrayDf
      .withColumn("_m1", expr("transform(shingles, s -> md5(s))"))
      .withColumn("_m2", expr("transform(shingles, s -> md5(concat('#', s)))"))
    val sigs = (0 until numHashes).map { j =>
      val arr = if (j < 4) "_m1" else "_m2"
      expr(s"array_min(transform($arr, m -> substring(m, ${(j % 4) * 8 + 1}, 8)))").as(s"h$j")
    }
    withDigests.select(col(idCol) +: sigs: _*)
  }

  /** Banded LSH buckets: signature columns grouped into bands of
    * `rowsPerBand`, each band hashed; one output row per (id, band). */
  def lshBands(sigs: DataFrame, idCol: String, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands evenly")
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Candidate core, (a): group a (member, key…) frame into buckets, one
    * row per key with its members sorted into `ms`; single-member
    * buckets are dropped. A member is a bare id or struct(id, …), so it
    * sorts by id first.
    *
    * The candidate core ((a)–(d)) is the filter stage of every
    * near-duplicate operator: [[candidatePairs]], [[candidatePairsCapped]],
    * [[winnowPairs]] and [[Similarity.hyperplanePairs]] are (a)–(c) plus
    * one final step each, and every verify step attaches its pair sides
    * through [[withSides]]. Pairs come from ONE aggregation, not a
    * self-join, so the expensive lineage that produced the keys
    * (tokenize → shingle → MinHash, or the hyperplane projection) runs
    * exactly once — a self-join gives that lineage two consumers, and
    * neither exchange reuse (AQE did not fire it; measured 5-6× slower
    * at sf0.1) nor a session-pinned `persist()` is needed with one. One
    * shuffle of the small keyed frame; the expansion is partition-local.
    * A bucket holds its members in one array before expanding — the same
    * Σ bucket² output a join would stream, bounded in memory by the
    * largest bucket, which [[bucketPairs]]' cap bounds in turn. */
  private[llm] def buckets(df: DataFrame, member: Column, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as("ms"))
      .filter(size(col("ms")) > 1)

  /** Candidate core, (b) and (c): one row per emitted pair `p` =
    * struct(a, b) of two members of a [[buckets]] row, a < b, with
    * `oversized`, whether that bucket was capped.
    *
    * (b) A bucket of at most `maxBucket` members emits every i<j pair.
    * (c) A larger bucket emits the hot-bucket star instead: its first
    * `reps` members in md5(id) order (ties by id) are elected
    * representatives, every member pairs with every representative, and
    * self-pairs are dropped. Hash order makes the election independent of
    * id assignment. The star bounds the bucket's emission from n(n−1)/2
    * to n·reps pairs and keeps every member connected to the bucket, so
    * [[connectedComponents]] still merges it. The election hashes a
    * member's id (a struct member's `id` field), and at the default
    * `maxBucket` it is never computed. */
  private[llm] def bucketPairs(buckets: DataFrame, maxBucket: Int = Int.MaxValue,
      reps: Int = 1): DataFrame = {
    val all = expr(
      """flatten(transform(ms,
        |  (x, i) -> transform(slice(ms, i + 2, size(ms)), y -> struct(x AS a, y AS b))))""".stripMargin)
    // The pair array feeds explode directly: exploding a projected
    // column lets the optimizer infer a `size(pairs) > 0` filter and
    // inline the whole expansion into it, building every array twice.
    val (elected, pairs) = if (maxBucket == Int.MaxValue) (buckets, all) else {
      val id = buckets.schema("ms").dataType match {
        case ArrayType(_: StructType, _) => "x.id"
        case _ => "x"
      }
      (buckets.withColumn("_reps", expr(
        s"""transform(slice(array_sort(transform(ms,
           |  x -> struct(md5(CAST($id AS STRING)) AS h, x AS m))), 1, $reps), s -> s.m)""".stripMargin)),
        when(size(col("ms")) > maxBucket, expr(
          """filter(flatten(transform(ms,
            |  m -> transform(_reps, r -> struct(least(m, r) AS a, greatest(m, r) AS b)))),
            |  p -> p.a != p.b)""".stripMargin)).otherwise(all))
    }
    elected.select(explode(pairs).as("p"), (size(col("ms")) > maxBucket).as("oversized"))
  }

  /** Candidate core, (d): attach both sides of every (id_a, id_b) pair
    * from `sides`, a frame keyed by `idCol`. Each other column `c` of
    * `sides` arrives twice: `c_a` joined on id_a, `c_b` joined on id_b. */
  private[graft] def withSides(pairs: DataFrame, sides: DataFrame, idCol: String): DataFrame = {
    def side(s: String) = sides.select(sides.columns.toIndexedSeq.map(c =>
      col(c).as(if (c == idCol) s"id_$s" else s"${c}_$s")): _*)
    pairs.join(side("a"), "id_a").join(side("b"), "id_b")
  }

  /** Candidate near-duplicate pairs: docs sharing any LSH (band,
    * band_hash) bucket, so work is proportional to bucket sizes — the
    * sub-quadratic scale path. The candidate core's [[buckets]] and
    * every i<j pair ([[bucketPairs]]), then `distinct`, which dedups docs
    * colliding in more than one band. Returns (id_a < id_b). */
  def candidatePairs(bandDf: DataFrame, idCol: String): DataFrame =
    bucketPairs(buckets(bandDf, col(idCol), "band", "band_hash"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

  /** [[candidatePairs]] with a HOT-BUCKET CAP — the 100 TB skew defense.
    *
    * Pair volume in banded LSH is Σ bucket²; one boilerplate template
    * repeated 10⁶ times puts 10¹² pairs in a single bucket, and no
    * exact-dedup pre-pass bounds NEAR-identical variants. Buckets at or
    * under `maxBucket` expand fully (identical to [[candidatePairs]]); an
    * oversized bucket emits the candidate core's member↔representative
    * star ([[bucketPairs]]), giving each member `reps` independent
    * chances at Jaccard verification. The pair is flagged back:
    * `capped = true` only when EVERY bucket that produced the pair was
    * oversized — a pair also found in any normal bucket is a
    * fully-supported candidate.
    * Returns (id_a, id_b, capped) with id_a < id_b, distinct. */
  def candidatePairsCapped(bandDf: DataFrame, idCol: String,
      maxBucket: Int = 64, reps: Int = 8): DataFrame = {
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    require(reps >= 1 && reps <= maxBucket,
      s"reps=$reps must be in [1, maxBucket=$maxBucket]")
    bucketPairs(buckets(bandDf, col(idCol), "band", "band_hash"), maxBucket, reps)
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(bool_and(col("oversized")).as("capped"))
  }

  /** SimHash over whitespace tokens: bit `i` of the signature is set when
    * the sum of (+1/-1) votes from bit `i` of each token's MD5 is
    * positive. `bits` ≤ 32; bit i is taken as the low bit of hex nibble i,
    * i.e. whether hex digit i is odd — exactly expressible in any engine.
    * One groupBy over exploded tokens. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits <= 32, "md5 supplies 32 hex nibbles")
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("tok_md5", md5(col("tok")))
    val votes = (0 until bits).map(i =>
      sum(when(substring(col("tok_md5"), i + 1, 1).isin(odd: _*), 1).otherwise(-1)).as(s"v$i"))
    val withVotes = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    withVotes.select(col(idCol), sig.as("simhash"))
  }

  /** Jaccard verification from per-document shingle ARRAYS: attach each
    * side's sorted array to the candidate pair ([[withSides]]), then ONE fused
    * merge-scan per pair (codegen'd `graft.plans.SortedJaccard`) — no
    * shingle explode, no per-pair groupBy. Versus [[jaccardPairs]], the
    * shuffle carries |pairs| rows with two arrays each instead of the
    * full exploded shingle stream plus an aggregation; after LSH,
    * candidates are a tiny fraction of the corpus, so this is the
    * cheaper shape whenever shingles are already per-document arrays
    * (the [[shingleArray]]→[[minhashSignaturesNative]] pipeline).
    * Equal output to [[jaccardPairs]] (asserted in LlmOpsSpec). */
  def jaccardPairsFromArrays(shingleArrayDf: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    withSides(pairs, shingleArrayDf.select(col(idCol), sort_array(col("shingles")).as("sh")), idCol)
      .select(col("id_a"), col("id_b"),
        graft.plans.SortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))

  /** Asymmetric containment scores for candidate pairs:
    * `C(A in B) = |A∩B| / |A|` and the reverse. Containment is the
    * sub-document detector that symmetric Jaccard structurally misses —
    * a 50-shingle quote embedded in a 5000-shingle page has Jaccard
    * ≈ 0.01 but containment ≈ 1.0 on the quote side, which is exactly
    * the boilerplate/mirror/quotation case a training corpus needs to
    * catch (Broder '97 defines both measures for precisely this
    * reason). Same attach-the-arrays shape as
    * [[jaccardPairsFromArrays]]: after LSH, candidates are a tiny
    * fraction of the corpus, so the shuffle carries |pairs| rows with
    * two shingle arrays each — the corpus-sized shingle stream never
    * re-shuffles. `shingleArrayDf` arrays are distinct
    * ([[shingleArray]] applies `array_distinct`), so `|A∩B|` via
    * `array_intersect` is an exact set intersection size. */
  def containmentPairs(shingleArrayDf: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    withSides(pairs, shingleArrayDf.select(col(idCol), col("shingles").as("sh")), idCol)
      .select(col("id_a"), col("id_b"),
        (inter / size(col("sh_a")).cast("double")).as("cont_a_in_b"),
        (inter / size(col("sh_b")).cast("double")).as("cont_b_in_a"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs (verify
    * step after LSH). `pairs` must have columns (id_a, id_b). */
  def jaccardPairs(shingleDf: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // Restrict the shingle stream to docs that appear in a candidate pair
    // BEFORE the heavy joins — after LSH, candidates are a tiny fraction
    // of the corpus, so this semi-join prunes almost all shingle rows.
    val candidateIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val sh = shingleDf.join(broadcast(candidateIds), Seq(idCol), "left_semi")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = withSides(pairs, sh.select(col(idCol), col("shingle").as("sh")), idCol)
      .filter(col("sh_a") === col("sh_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    withSides(pairs.join(inter, Seq("id_a", "id_b"), "left"), sizes, idCol)
      .select(col("id_a"), col("id_b"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08) — the scalable
    * exact complement to MinHash LSH: no false negatives, no probability
    * knobs. For Jaccard ≥ t, two shingle sets ordered by a GLOBAL token
    * order must share at least one token within their first
    * `|s| − ceil(t·|s|) + 1` tokens, so only those PREFIX tokens are
    * exploded into the candidate bucket join. Ordering rarest-df-first
    * makes prefix buckets the smallest ones (a stopword-class shingle
    * never lands in a prefix unless a doc is almost all stopwords), and
    * the length filter `t·|a| ≤ |b| ≤ |a|/t` prunes inside the join.
    *
    * Scale shape: one df aggregate over the exploded shingle stream, one
    * re-order shuffle back to per-doc arrays, one equi-join on prefix
    * tokens (Σ prefix-bucket², never all-pairs), then the same
    * attach-arrays [[jaccardPairsFromArrays]] verification as the LSH
    * path — at high t the prefix is a tiny slice of each document, so
    * the candidate join carries a small fraction of the corpus.
    * Output: (id_a, id_b, jaccard) with jaccard ≥ t, id_a < id_b. */
  def prefixFilterPairs(shingleArrayDf: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val exploded = shingleArrayDf
      .select(col(idCol), explode(col("shingles")).as("shingle"))
    val dfCounts = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
    // Global total order (df asc, shingle asc) → per-doc ordered arrays.
    val ordered = exploded.join(dfCounts, "shingle")
      .groupBy(col(idCol))
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("shingle")))),
        x => x.getField("shingle")).as("ordered_sh"))
      .withColumn("n", size(col("ordered_sh")))
      // ceil(t*n - eps), not ceil(t*n): when t*n is exactly integral the
      // double product can land a hair ABOVE the integer, shortening the
      // prefix by one token — a false negative in an operator documented
      // EXACT. The slack is RELATIVE (n·1e-12) plus an absolute floor
      // (1e-9): rounding error of t·n scales with ulp(t·n) ≈ 2.2e-16·t·n,
      // so a fixed 1e-9 stops covering it once t·n ≳ 1e7 (documents with
      // tens of millions of shingles); n·1e-12 tracks the product's
      // magnitude with ~4 orders of headroom while staying far below any
      // true non-integral fractional part (r7+r8 advice).
      .withColumn("pref_len",
        (col("n") - ceil(lit(threshold) * col("n")
          - col("n") * lit(1e-12) - lit(1e-9)) + 1).cast("int"))
    val pref = ordered.select(col(idCol), col("n"),
      explode(expr("slice(ordered_sh, 1, pref_len)")).as("tok"))
    val cands = pref.select(col(idCol).as("id_a"), col("n").as("n_a"), col("tok"))
      .join(pref.select(col(idCol).as("id_b"), col("n").as("n_b"), col("tok")),
        Seq("tok"))
      // Same relative-plus-absolute slack on the length filter: J >= t
      // implies t*|B| <= |A| in exact arithmetic; the fp product must not
      // round above the integer boundary and drop a true pair, at any n.
      .where(col("id_a") < col("id_b") &&
        col("n_b") * lit(threshold) - col("n_b") * lit(1e-12) - lit(1e-9) <= col("n_a") &&
        col("n_a") * lit(threshold) - col("n_a") * lit(1e-12) - lit(1e-9) <= col("n_b"))
      .select("id_a", "id_b").distinct()
    jaccardPairsFromArrays(shingleArrayDf, idCol, cands)
      .where(col("jaccard") >= threshold)
  }

  /** Incremental exact dedup: drop new-batch rows whose key already
    * exists in the standing corpus — one anti-join against the corpus's
    * distinct keys. The daily-ingest contract at 100 TB: the corpus is
    * never rescanned against itself, only the (small) new batch shuffles
    * against the (bucketable/broadcastable) key set. */
  def dropExistingExact(newDf: DataFrame, corpus: DataFrame,
      keyCols: Seq[String]): DataFrame =
    newDf.join(corpus.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")

  /** Cross-frame LSH candidates: only NEW×CORPUS collisions. The
    * standing corpus keeps an append-only (band, band_hash) index;
    * each new batch's bands equi-join it, so corpus×corpus pairs are
    * never recomputed — incremental near-dup at the cost of the batch,
    * not the corpus. Returns (`id_new`, `id_corpus`) distinct pairs. */
  def candidatePairsAcross(newBands: DataFrame, corpusBands: DataFrame,
      idCol: String): DataFrame =
    newBands.select(col("band"), col("band_hash"), col(idCol).as("id_new"))
      .join(corpusBands.select(col("band"), col("band_hash"), col(idCol).as("id_corpus")),
        Seq("band", "band_hash"))
      .select("id_new", "id_corpus")
      .distinct()

  /** Eval-set decontamination: drop training documents that share ANY
    * word `n`-gram with the eval set — the leakage guard every training
    * corpus needs before a benchmark means anything. The eval shingle
    * set is tiny relative to the corpus, so it BROADCASTS; the training
    * shingle stream then semi-joins it map-side (no shuffle of the
    * corpus-sized shingle stream), and only the contaminated id set —
    * smaller still — drives the final anti-join. Use n ≥ 5: short
    * shingles flag common phrases, not leakage (n=3 marks 59% of the
    * testdata corpus contaminated; n=5 marks the true near-dups). */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val evalShingles = shingles(evalSet, idCol, textCol, n)
      .select("shingle").distinct()
    val contaminated = shingles(train, idCol, textCol, n)
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Connected components of an undirected edge list — the final dedup
    * stage: LSH/verified near-dup PAIRS become duplicate CLUSTERS, from
    * which one canonical document per cluster survives. Returns one row
    * per vertex: (`id`, `component`) where `component` is the minimum
    * vertex id reachable from `id` (so the canonical doc of a cluster is
    * the one with `id == component`).
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping.
    * Each round folds the minimum neighbor label into each vertex (one
    * edge×labels equi-join + one MIN aggregate, both with map-side
    * partial aggregation, no row explosion), then shortcuts through the
    * previous round's mapping (`label(label(v))` — the path-doubling
    * idea behind Kiveris et al.'s "Connected Components in MapReduce
    * and Beyond"), so convergence is O(log diameter) rounds rather than
    * O(diameter). Labels only ever decrease, so the fixpoint test
    * (`any label changed?`) is exact. Near-clique LSH dup graphs finish
    * in 2-3 rounds; threshold-similarity graphs with real chains
    * (measured diameter ~16 on the sf0.1 embedding near-dup graph)
    * finish in ~5 instead of ~16. Each new label frame is
    * `localCheckpoint`ed: iterative
    * self-referencing DataFrames otherwise grow a logical plan that
    * doubles per round — analysis time, not data, becomes the
    * bottleneck. The checkpoint truncates lineage to the materialized
    * blocks, keeping every iteration's plan constant-size.
    *
    * Reference behavior anchor: the migration suite dedups claim rows
    * exactly (`data_quality_checks.py:71-94`); clustering generalizes
    * that to the near-dup graph the LSH pipeline produces. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Symmetrize with ONE consumer of `pairs`: the old
    // select(a,b).union(select(b,a)) spelling gave the pairs frame two
    // consumers, so the ENTIRE candidate-generation lineage (LSH chain /
    // IVF self-join — the dominant cost of every dedup gate) executed
    // twice before the distinct (measured: llm_dedup_clusters 27.3
    // executor-CPU-s vs 14.8 for the chain alone). The explode emits
    // both directions from a single scan of the same lineage.
    // Persisted PRE-PARTITIONED on `src`, the key every round's
    // edges⋈labels join probes: the cached plan keeps its output
    // partitioning, so the (large) edge side never re-exchanges inside
    // the loop — only the small label frame moves each round (guide
    // §2.4 "two operations keyed the same way can share one exchange").
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist()
    // Labels stay localCheckpoint'ed per round: the checkpoint forgets
    // output partitioning (so the label-side joins re-exchange), but it
    // is the only lineage CUT — a persist()-based variant was tried in
    // r14 and OOM'd the driver (OPTIMIZATION_r14.md §3),
    // because the fold+jump steps reference the previous labels twice
    // and an InMemoryRelation keeps its child plan, so the logical tree
    // doubles per round exactly as the original design note warned.
    //
    // Round 0 is FUSED into the initialization (r15): from identity
    // labels, one fold round computes exactly least(v, min(neighbors)),
    // which is a single aggregation over the pre-partitioned edge
    // cache — no join, no exchange (groupBy(src) reuses the persisted
    // partitioning). The r14 shape spent an init checkpoint (distinct +
    // identity labels) plus a full fold round (join + agg + checkpoint
    // + fixpoint probe, ~9 scheduler jobs) to reach the same frame.
    // `changed` = a neighbor was smaller; vertices all of whose
    // neighbors are larger keep their own id unchanged.
    var labels = edges
      .groupBy(col("src").as("id")).agg(min(col("dst")).as("_nbr"))
      .select(col("id"),
        least(col("id"), col("_nbr")).as("component"),
        (col("_nbr") < col("id")).as("changed"))
      .localCheckpoint(true)
    var it = 1
    var converged = labels.filter(col("changed")).isEmpty
    while (!converged && it < maxIter) {
      // Min label among each vertex's neighbors, folded into its own.
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("component").as("c")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("c")).as("nbr_min"))
      // Two label-lowering steps per round, then ONE eager
      // materialization: (1) neighbor-min fold; (2) a pointer jump —
      // replace the folded label with ITS label from the previous
      // round (label(label(v)), the path-doubling shortcut of Kiveris
      // et al.). The jump table is the already-materialized previous
      // cache, so it costs one small exchange and zero recompute.
      // Two rejected-after-measurement variants from this round, kept
      // here so they are not retried: (a) jumping through the current
      // FOLDED mapping (a self-join) — AQE broadcasts the jump side,
      // a BroadcastExchange cannot reuse the fold's ShuffleExchange,
      // and the whole nbrMin⋈fold subtree executed twice
      // (llm_dedup_clusters CPU 4.95→7.64 s); (b) TWO chained
      // prev-jumps — the measured round count did NOT drop (the
      // min-label dynamics on these graphs are not jump-bound) and the
      // extra join raised per-round CPU ~30%. Both steps only ever
      // lower labels (least(...)), so monotonicity — and the exactness
      // of the fixpoint test — is preserved.
      val folded = labels.alias("l")
        .join(nbrMin.alias("n"), Seq("id"), "left")
        .select(col("id"), col("l.component").as("_prev"),
          least(col("l.component"),
            coalesce(col("n.nbr_min"), col("l.component"))).as("_c1"))
      val lowered = folded
        .join(labels.select(col("id").as("_jid"), col("component").as("_jc")),
          col("_c1") === col("_jid"), "left")
        .select(col("id"), col("_prev"),
          least(col("_c1"), coalesce(col("_jc"), col("_c1"))).as("_c2"))
      val next = lowered
        .select(col("id"), col("_c2").as("component"),
          (col("_c2") < col("_prev")).as("changed"))
        .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      labels.unpersist()
      labels = next
      it += 1
    }
    edges.unpersist()
    labels.select("id", "component")
  }

  /** Cluster assignment for EVERY document (singletons keep their own id
    * as the component), with the canonical flag and the cluster size —
    * the frame a training pipeline filters to `is_canonical` to drop
    * near-duplicates. One broadcast-size join against the (tiny) label
    * frame plus one aggregate over it; the full corpus is never
    * shuffled.
    *
    * PRECONDITION (r14 ADVICE): `cluster_size` is counted from the label
    * frame, which equals the per-component doc count only when (a) every
    * id appearing in `pairs` also appears in `docs`, and (b) `docs` is
    * unique on `idCol`. Every in-repo caller derives `pairs` from `docs`
    * (LSH bands / IVF buckets over the same corpus), so both hold by
    * construction; a caller joining EXTERNAL pairs (ids ∉ docs, or a
    * docs frame with duplicate ids) would read inflated/deflated sizes —
    * dedup `docs` and semi-join `pairs` to it first in that case. */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    // Sizes come from the LABEL frame, not from the corpus-sized
    // `assigned` frame: every component label is itself a graph vertex
    // (labels are min reachable ids), every graph vertex is a doc
    // (pairs derive from docs), and docs outside the graph are
    // singletons of size 1 — so counting labels per component equals
    // counting assigned docs per component, at the cost of ONE corpus
    // scan instead of two (the old shape re-derived `assigned` for the
    // aggregate: a second FileScan + join chain per the r14 plan dump).
    val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    docs.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
      .join(sizes, Seq("component"), "left")
      .select(col(idCol), col("component"),
        (col(idCol) === col("component")).as("is_canonical"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  /** Source-overlap matrix: exact pairwise shingle-set Jaccard between
    * every pair of corpus sources, PLUS the mergeable MinHash-sketch
    * estimate of the same quantity — the "how much do my data sources
    * lexically overlap" diagnostic that drives mixture design and
    * cross-source dedup decisions.
    *
    * The exact side avoids S² data scans with ONE bitmask pass: each
    * distinct shingle aggregates the bitmask of sources containing it
    * (sources indexed 0..S−1, S ≤ 63), masks collapse to a tiny
    * (mask, count) frame, and every pair's |A∩B| / |A∪B| is a sum over
    * that frame — the corpus is touched once no matter how many source
    * pairs exist. The sketch side reuses [[minhashSignatures]] keyed on
    * the source: per-source component minima are map-side-combinable
    * MINs (mergeable across shards/days — the production path when the
    * exact pass is too hot), and the pair estimate is the component
    * agreement fraction. Emitting both closes the estimator-accuracy
    * loop per pair (`est_err`), like [[minhashSignatures]]'s per-doc
    * estimator gate.
    *
    * Shuffles: the (source, shingle) distinct + the two aggregates on
    * the shingle stream; everything after is source-count-sized. The
    * source-index window runs over the distinct source list (tiny by
    * definition). */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      numHashes: Int = 8): DataFrame = {
    require(numHashes >= 1 && numHashes <= 8, "windowed scheme gives at most 8 hashes")
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(df.select(col(srcCol), col(textCol)), srcCol, textCol, 3)
      .distinct()
    val srcIdx = df.select(col(srcCol)).distinct()
      .withColumn("idx", row_number().over(Window.orderBy(col(srcCol))) - 1)
      // Loud guard (r8 advice): the exact pass packs one bit per source
      // into a 64-bit long, and shiftleft wraps its shift amount mod 64 —
      // a 64th source would silently alias masks and corrupt every pair.
      // raise_error rides the idx column itself so no Catalyst pruning
      // can drop it; it fires when srcIdx materializes for broadcast.
      .withColumn("idx", when(col("idx") < 63, col("idx")).otherwise(expr(
        "CAST(raise_error('sourceOverlap: at most 63 distinct sources " +
          "supported by the bitmask pass') AS INT)")))
    val maskCnt = sh.join(broadcast(srcIdx), srcCol)
      .groupBy("shingle")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), idx)")).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    val pairs = srcIdx.select(col(srcCol).as("src_a"), col("idx").as("idx_a"))
      .crossJoin(srcIdx.select(col(srcCol).as("src_b"), col("idx").as("idx_b")))
      .filter(col("src_a") < col("src_b"))
    val aBit = expr("shiftright(mask, idx_a) & 1")
    val bBit = expr("shiftright(mask, idx_b) & 1")
    val exact = pairs.crossJoin(maskCnt)
      .groupBy("src_a", "src_b")
      .agg(sum(when(aBit === 1, col("cnt")).otherwise(0L)).as("n_a"),
        sum(when(bBit === 1, col("cnt")).otherwise(0L)).as("n_b"),
        sum(when(aBit === 1 && bBit === 1, col("cnt")).otherwise(0L)).as("n_common"),
        sum(when(aBit === 1 || bBit === 1, col("cnt")).otherwise(0L)).as("n_union"))
    val sig = minhashSignatures(sh, srcCol, numHashes)
    val sa = sig.select(col(srcCol).as("src_a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"a$j")): _*)
    val sb = sig.select(col(srcCol).as("src_b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"b$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    exact.join(sa, "src_a").join(sb, "src_b")
      .select(col("src_a"), col("src_b"),
        col("n_a"), col("n_b"), col("n_common"), col("n_union"),
        (col("n_common").cast("double") / col("n_union").cast("double"))
          .as("exact_jaccard"),
        (agree.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .withColumn("est_err", abs(col("est_jaccard") - col("exact_jaccard")))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm): per-document local fingerprints with the winnowing
    * GUARANTEE — any shared substring of at least `w + k − 1` characters
    * produces at least one common fingerprint, while the selected set is
    * ~2/(w+1) of all grams. Char `k`-grams of the normalized text hash
    * with md5; every window of `w` consecutive gram hashes contributes
    * its minimum; the document's fingerprint set is the distinct minima.
    *
    * Both stages are per-row array HOFs — ZERO shuffle. The normalized
    * text and the gram array are LET-BOUND via single-element
    * `transform(array(x), v -> …)` wrappers: a lambda argument is
    * evaluated once per row, whereas plain projection aliases get
    * INLINED by `CollapseProject` into every lambda reference — which
    * re-runs the regexp normalization per gram and rebuilds the gram
    * array per window, turning the O(m·w) pass into O(m²·k) (measured:
    * 455 s vs 3 s on the sf0.01 gate). At 100 TB this runs at scan
    * speed like the MinHash signature path. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"k=$k, w=$w out of range")
    df.filter(length(TextOps.normText(col(textCol))) >= k + w - 1)
      .select(col(idCol), array_distinct(flatten(flatten(transform(
        array(TextOps.normText(col(textCol))), nt =>
          transform(
            array(transform(sequence(lit(1), length(nt) - (k - 1)),
              i => md5(nt.substr(i, lit(k))))), g =>
              transform(sequence(lit(1), size(g) - (w - 1)),
                j => array_min(slice(g, j, lit(w)))))))))
        .as("fingerprints"))
  }

  /** Winnowed-fingerprint overlap pairs — the MOSS match step: documents
    * sharing at least `minShared` fingerprints, with the shared count.
    * Fingerprints seen in more than `maxDf` documents are dropped first
    * (corpus-wide boilerplate selects itself out, exactly like LSH
    * banding keeps buckets small) — that bounds the pair expansion at
    * Σ bucket² over buckets of ≤ `maxDf` ids, never all-pairs.
    *
    * The candidate core's [[buckets]] group the (doc, fp) stream by
    * fingerprint (one shuffle of 32-byte keys) and [[bucketPairs]]
    * expands every i<j pair; the final per-pair count is a second hash
    * agg on the (typically sparse) pair stream. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, s"minShared=$minShared, maxDf=$maxDf")
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("fingerprints")).as("fp"))
    bucketPairs(buckets(fps, col(idCol), "fp").filter(size(col("ms")) <= maxDf))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Label propagation across the duplicate graph — semi-supervised
    * label smoothing: every document in a near-duplicate component gets
    * the component's MAJORITY label beside its own, with a `flipped`
    * flag where they disagree. Near-identical documents carrying
    * different quality/classifier labels are annotation noise; voting
    * inside components is the standard cheap fix (and `flipped` rows
    * are exactly the labels worth auditing). Ties (2·pos == n) resolve
    * to 0 — deterministic on any engine.
    *
    * Cost on top of the [[dedupClusters]] build: one hash agg keyed on
    * the component + one join back on the same key (partitioning
    * reuses; the per-component tally is components-sized ≪ corpus, so
    * AQE broadcasts it at scale). */
  def propagateLabels(docs: DataFrame, idCol: String, labelCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = dedupClusters(docs, idCol, pairs)
      .select(col(idCol), col("component"), col("cluster_size"))
    val joined = docs.select(col(idCol), col(labelCol).cast("int").as("own_label"))
      .join(comp, idCol)
    val tot = joined.groupBy("component")
      .agg(count(lit(1)).as("_n"), sum("own_label").as("_pos"))
    joined.join(tot, "component")
      .select(col(idCol), col("component"), col("cluster_size"), col("own_label"),
        (col("_pos") * 2 > col("_n")).cast("int").as("majority_label"))
      .withColumn("flipped", col("own_label") =!= col("majority_label"))
  }

  /** Repeated n-gram span detection — exact-substring dedup at token
    * granularity (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): every `n`-token window whose text occurs
    * at least twice ANYWHERE in the corpus (cross-document or repeated
    * within one document) is flagged, overlapping flagged windows are
    * merged into maximal spans per document, and each document reports
    * its duplicated-token mass — the span-level signal whole-document
    * and segment dedup both miss (a 60-token boilerplate header inside
    * otherwise-unique documents never trips a doc-level hash).
    *
    * Output: one row per document —
    * (id, n_tokens, n_dup_spans, n_dup_tokens, dup_frac), where
    * `n_dup_tokens` counts tokens covered by at least one duplicated
    * window after merging (1-based inclusive span arithmetic, exact
    * integers; `dup_frac` is the single terminal double division).
    *
    * Scale shape (100 TB): the gram stream is a zero-shuffle projection
    * (tokenize → slide → md5, one row per token position). Shuffle #1 is
    * the duplicated-gram census — ONE hash aggregate on the 128-bit gram
    * hash with map-side combine. The flag-back is a LEFT SEMI equi-join
    * against the duplicated subset only (at realistic dup rates a few
    * percent of distinct grams), which AQE broadcasts when small and
    * which reuses the census partitioning otherwise — the corpus gram
    * stream is never shuffled a second time for the probe. Shuffle #2
    * keys the surviving (typically sparse) span rows by document for the
    * interval merge — a window over flagged spans only, NOT over the
    * corpus. A suffix-array build (the paper's exact algorithm) orders
    * every corpus position globally; the windowed-hash census reaches
    * the same ≥n-token duplicated spans with aggregates Spark already
    * scales, at the cost of missing duplicates shorter than `n`. */
  def ngramSpanDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, "span n-gram length must be at least 2")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    val grams = toks
      .filter(size(col("_toks")) >= n)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(1, size(_toks) - ${n - 1}),
           |  i -> md5(array_join(slice(_toks, i, $n), ' ')))""".stripMargin)))
      .select(col(idCol), (col("pos") + 1).cast("int").as("s"),
        (col("pos") + n).cast("int").as("e"), col("col").as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gh")
    val spans = grams.join(dup, Seq("gh"), "left_semi")
    val order = Seq(col("s"), col("e"))
    val wPrev = Window.partitionBy(col(idCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = spans
      .withColumn("_new",
        when(col("s") > coalesce(max(col("e")).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("_gid", sum(col("_new")).over(wRun))
      .groupBy(col(idCol), col("_gid"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
    val perDoc = merged.groupBy(col(idCol)).agg(
      count(lit(1)).cast("int").as("n_dup_spans"),
      sum(col("span_end") - col("span_start") + 1).cast("long").as("n_dup_tokens"))
    toks.select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }
}
