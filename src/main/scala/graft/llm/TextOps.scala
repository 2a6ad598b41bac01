package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * These extend the reference's capability set (SURVEY §7.6 "beyond-parity
  * track") with the text-side operators an LLM data pipeline needs:
  * normalization, token statistics, quality scoring, language ID, and
  * document fingerprinting. Everything is built from
  * `org.apache.spark.sql.functions` / Catalyst HOFs so the whole pipeline
  * stays inside whole-stage codegen — no UDFs, no driver-side loops, and
  * every operator is a narrow per-row map (zero shuffles), so it scales
  * linearly with partitions at 100 TB.
  */
object TextOps {

  /** Canonical text normalization: lowercase, collapse runs of whitespace,
    * trim. The shared first step for dedup/fingerprint so near-identical
    * whitespace variants collide. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Per-document statistics + quality signals (length, token counts,
    * punctuation and stopword ratios) — the classic pre-training quality
    * filters, one projection, no shuffle. */
  def textStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTokens = size(toks)
    df.select(
      df.columns.map(col) ++ Seq(
        length(t).as("n_chars"),
        nTokens.as("n_tokens"),
        regexp_count(t, lit("[.,!?;:]")).as("n_punct"),
        regexp_count(lower(t), lit("\\b(the|a|an|and|of|to|in|is|it)\\b")).as("n_stopwords"),
        (regexp_count(lower(t), lit("\\b(the|a|an|and|of|to|in|is|it)\\b")).cast("double") /
          nullif(nTokens.cast("double"), lit(0.0))).as("stopword_ratio"),
        (regexp_count(t, lit("[.,!?;:]")).cast("double") /
          nullif(length(t).cast("double"), lit(0.0))).as("punct_ratio"),
        (nTokens >= 5 && nTokens <= 100000).as("len_ok")): _*)
  }

  /** Composite quality FILTER over the [[textStats]] signals: every
    * failing threshold lands in `fail_reasons` (so rejects are
    * explainable and per-reason rates are one groupBy away) and `keep`
    * is their conjunction. Still a pure projection — the 100 TB corpus
    * is scored and filtered at scan speed. */
  def qualityFilter(df: DataFrame, textCol: String = "text",
      minTokens: Int = 10, maxTokens: Int = 100000,
      maxPunctRatio: Double = 0.1, minStopwordRatio: Double = 0.01): DataFrame =
    textStats(df, textCol)
      .withColumn("fail_reasons", array_compact(array(
        when(col("n_tokens") < minTokens, lit("too_short")),
        when(col("n_tokens") > maxTokens, lit("too_long")),
        when(col("punct_ratio") > maxPunctRatio, lit("punct_heavy")),
        when(col("stopword_ratio") < minStopwordRatio, lit("low_stopword")))))
      .withColumn("keep", size(col("fail_reasons")) === 0)

  /** Shard-local sequence packing: chunks stream through each shard in a
    * total deterministic order and land in bins of `capacity` tokens —
    * `bin_id = (running-total-before-this-chunk) div capacity`, so a
    * bin's load exceeds `capacity` by at most one chunk (bounded
    * overflow, the standard approximation: exact first-fit packing is
    * inherently sequential). ONE window shuffle on the shard key;
    * parallelism = shards, and the assignment is a pure function of the
    * data, reproducible on any engine. `orderCols` must totally order
    * rows within a shard. */
  def packSequences(chunks: DataFrame, shardCol: String, orderCols: Seq[String],
      tokenCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(shardCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks.withColumn("_cum", sum(col(tokenCol)).over(w))
      .withColumn("bin_id", expr(s"(_cum - $tokenCol) div $capacity"))
      .drop("_cum")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * tokenization (letter runs / digit runs / single punctuation marks),
    * the standard cheap proxy for subword token counts. */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(
      df.columns.map(col) ++ Seq(
        size(tokens(col(textCol))).as("ws_tokens"),
        regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_tokens")): _*)

  /** N-gram-heuristic language ID: count marker-word / script hits per
    * candidate language, pick the max (CJK script presence wins outright).
    * Deterministic, pure projection, codegen-friendly. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = lower(col(textCol))
    val en = regexp_count(t, lit("\\b(the|and|is|of|to)\\b"))
    val de = regexp_count(t, lit("\\b(der|die|und|ist|das|nicht)\\b"))
    val fr = regexp_count(t, lit("\\b(le|les|et|est|dans|une)\\b"))
    val es = regexp_count(t, lit("\\b(el|los|y|es|una|que)\\b"))
    val zh = regexp_count(col(textCol), lit("[\\u4e00-\\u9fff]"))
    df.select(
      df.columns.map(col) ++ Seq(
        en.as("score_en"), de.as("score_de"), fr.as("score_fr"),
        es.as("score_es"), zh.as("score_zh"),
        when(zh > 0, lit("zh"))
          .when(de > en && de >= fr && de >= es, lit("de"))
          .when(fr > en && fr >= de && fr >= es, lit("fr"))
          .when(es > en && es >= de && es >= fr, lit("es"))
          .otherwise(lit("en")).as("predicted_lang")): _*)
  }

  /** Repetition quality signals (the Gopher-rules family): documents
    * dominated by one repeated n-gram, or with a high duplicate-gram
    * fraction, are boilerplate/spam candidates for pre-training
    * filtering. Two map-side-combinable shuffles — per-(doc, gram)
    * counts, then per-doc rollup; the raw gram stream never shuffles
    * un-aggregated. `multiset` grams (dedup=false) are the point here —
    * the signal IS the multiplicity. */
  /** Gopher-style rule bundle (Rae et al. '21 §A1.1), the second layer of
    * quality filtering next to [[qualityFilter]]'s length/punct/stopword
    * thresholds: mean word length in a sane band, most words contain a
    * letter, few symbol artifacts (#, ellipses), few bullet-point or
    * ellipsis-terminated lines, and at least `minRequiredHits` of the
    * `requiredWords` present (Gopher's English function words by
    * default — pass corpus-appropriate words for other domains). One
    * projection, no shuffle, no UDFs; every metric is an integer count
    * ratio (exact int arithmetic + one double division), so any engine
    * reproduces it bit-for-bit. */
  def gopherRules(df: DataFrame, textCol: String = "text",
      requiredWords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaRatio: Double = 0.8, maxSymbolRatio: Double = 0.1,
      maxBulletRatio: Double = 0.9, maxEllipsisRatio: Double = 0.3,
      minRequiredHits: Int = 2): DataFrame = {
    require(requiredWords.nonEmpty, "requiredWords must not be empty")
    require(requiredWords.forall(_.matches("[a-z0-9]+")),
      "requiredWords must be plain lowercase tokens (they embed in a regex)")
    val t = col(textCol)
    val norm = normText(t)
    val toks = tokens(t)
    val nToks = size(toks).cast("double")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("double")
    val meanWordLen =
      (aggregate(toks, lit(0), (a, x) => a + length(x)).cast("double") / nToks)
    val alphaRatio =
      size(filter(toks, x => x.rlike("[a-z]"))).cast("double") / nToks
    val symbolRatio =
      regexp_count(norm, lit("(#|\\.\\.\\.|…)")).cast("double") / nToks
    val bulletRatio =
      size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") / nLines
    val ellipsisRatio =
      size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines
    val hits = requiredWords
      .map(w => when(norm.rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("int")
    df.select(df.columns.map(col) ++ Seq(
      meanWordLen.as("mean_word_len"),
      alphaRatio.as("alpha_word_ratio"),
      symbolRatio.as("symbol_word_ratio"),
      bulletRatio.as("bullet_line_ratio"),
      ellipsisRatio.as("ellipsis_line_ratio"),
      hits.as("n_required_hits")): _*)
      .withColumn("keep",
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen &&
        col("alpha_word_ratio") >= minAlphaRatio &&
        col("symbol_word_ratio") <= maxSymbolRatio &&
        col("bullet_line_ratio") <= maxBulletRatio &&
        col("ellipsis_line_ratio") <= maxEllipsisRatio &&
        col("n_required_hits") >= minRequiredHits)
  }

  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, maxTopFrac: Double = 0.2, maxDupFrac: Double = 0.5): DataFrame = {
    val grams = Dedup.shingles(df.select(col(idCol), col(textCol)),
      idCol, textCol, n, dedup = false)
    grams.groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_grams"),
        max("cnt").as("top_cnt"),
        count(lit(1)).as("n_distinct"))
      .select(col(idCol),
        col("n_grams"),
        (col("top_cnt").cast("double") / col("n_grams")).as("top_gram_frac"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_gram_frac"),
        ((col("top_cnt").cast("double") / col("n_grams")) <= maxTopFrac &&
          ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams")) <= maxDupFrac)
          .as("repetition_ok"))
  }

  /** PII redaction: replace email addresses and NANP-style phone
    * numbers with typed placeholders. Patterns stay in the regex subset
    * every engine parses identically (char classes, bounded repeats —
    * no lookarounds); pure projection, no shuffle, codegen'd. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\d{3}-\\d{3}-\\d{4}", "<PHONE>")

  /** TF-IDF top-`k` terms per document — the classic salience score for
    * corpus keyword extraction and quality filtering.
    *
    * Three shuffles, single lineage pass: (1) hash-agg term counts per
    * (doc, term) — map-side combinable, the exploded token stream never
    * shuffles raw; (2) a `count over (partition by term)` window gives
    * each term's document frequency WITHOUT a self-join back onto the
    * tf frame (two consumers of the same lineage would re-run the
    * explode: AQE does not reuse exchanges here, measured in round 4);
    * (3) windowed rank per doc. Rank order is (tfidf desc, term asc) —
    * equal (tf, df) pairs produce bit-identical scores, so the term
    * tiebreak totalizes the order deterministically. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      nDocs: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val scored = withDf.withColumn("tfidf",
      col("tf") * log(lit(nDocs.toDouble) / col("df")))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** BM25 top-`k` document retrieval for a fixed query term set — the
    * lexical-retrieval standard (Robertson/Spärck Jones) a training
    * pipeline uses for corpus search and hybrid (RRF) retrieval next to
    * embedding ANN.
    *
    * Scale shape: tokens explode once, the isin(queryTerms) filter drops
    * the non-query token stream BEFORE any shuffle, per-(doc, term)
    * counts hash-aggregate map-side, document frequency comes from a
    * window over `term` (no self-join re-running the explode), and the
    * 2-value corpus stats frame (N, Σdl) broadcasts. Final top-k is
    * `orderBy(...).limit(k)` — TakeOrderedAndProject, per-partition
    * heaps + one driver merge of k rows, NOT a single-partition window.
    *
    * Engine determinism: idf and the tf saturation are doubles derived
    * from exact integers through one fixed expression shape (mirrored
    * verbatim in the DuckDB oracle), and the per-doc score SUMS the
    * 12-dp-rounded term scores IN DECIMAL — exact, order-independent
    * addition, where double summation order differs between engines.
    * Score ties break by document id. */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withDl = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = withDl
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    // Expression shape mirrored exactly by the oracle: every constant is
    // combined as a COLUMN op so both engines do the same double steps.
    val scored = withDf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("tscore",
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_terms_hit"),
        sum(floor(col("tscore") * lit(1.0e12)).cast("decimal(38,0)"))
          .as("_score_dec"))
      .orderBy(col("_score_dec").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_terms_hit"),
        (col("_score_dec").cast("double") / lit(1.0e12)).as("bm25_score"))
  }

  /** Per-document unigram token entropy (nats) — the information-density
    * quality signal: near-zero entropy flags single-token spam,
    * log(n_distinct)-saturating entropy flags natural text. H =
    * Σ (c/n)·ln(n/c) over per-token counts. Two shuffles on the SAME doc
    * key (per-(doc, token) counts, then the per-doc rollup; the window
    * supplying `n` shares the second's partitioning). Each term is a
    * double derived from two exact integers via identical operations in
    * both engines, accumulated FIXED-POINT (`floor(x·10¹²)` in
    * DECIMAL(38,0); `round(x, 12)` diverges at rounding boundaries —
    * r9 stress finding) — exact order-independent addition (a double Σ
    * would vary with aggregation order). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    counts
      .withColumn("n", sum(col("c")).over(Window.partitionBy(idCol)))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(floor((col("c") / col("n")) * log(col("n") / col("c")) * lit(1.0e12))
          .cast("decimal(38,0)")).as("_ent_dec"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (col("_ent_dec").cast("double") / lit(1.0e12)).as("entropy"))
  }

  /** Segment-level dedup (the line/paragraph dedup of RefinedWeb/CCNet,
    * expressed over [[chunk]] windows): a segment survives only in its
    * FIRST occurrence across the corpus — min (doc, position) per
    * distinct segment text — and each document reports how much of it
    * survived. Boilerplate (headers, navigation, license blocks) repeats
    * across millions of documents; whole-document dedup never sees it.
    *
    * One shuffle, keyed on the segment HASH (md5), not the raw text —
    * at 100 TB the exchange carries 32-byte keys instead of kilobyte
    * segments. First-occurrence pick is a window row_number over
    * (doc, chunk) — deterministic total order, no arbitrary
    * dropDuplicates survivor. The doc-level rollup groups on the doc
    * key. Returns one row per doc: n_chunks, n_kept, kept_frac, and the
    * surviving text reassembled in position order. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = chunk(df, idCol, textCol, chunkTokens, chunkTokens)
    val w = Window.partitionBy(md5(col("chunk_text")))
      .orderBy(col(idCol), col("chunk_id"))
    chunks
      .withColumn("_rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("_rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
        concat_ws(" ", sort_array(collect_list(
          when(col("_rn") === 1,
            struct(col("chunk_id"), col("chunk_text")))))
          .getField("chunk_text")).as("kept_text"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_chunks").cast("double"))
  }

  /** Per-document cross-entropy under the corpus unigram LM (nats/token)
    * — the CCNet-style statistical quality score: documents far from the
    * corpus distribution (gibberish, boilerplate, wrong language) score
    * high. `ce = (1/n) Σ_tokens ln(T / cnt(token))` where `cnt` is the
    * corpus frequency of the token and `T` the corpus token total, so
    * every token's surprisal is a double derived from two exact
    * integers.
    *
    * Scale shape: corpus counts are ONE map-side-combinable aggregate;
    * the per-token join is keyed on the term — the vocabulary is tiny
    * relative to the corpus (Heaps' law), so at scale the count frame
    * broadcasts and the token stream never shuffles (hinted here). The
    * 2-value totals frame broadcasts. Surprisals accumulate FIXED-POINT
    * (`floor(x·10⁶)` in DECIMAL(38,0) — `round(x, 12)` is NOT portable
    * across engines; a 10× stress corpus flipped 68/500 docs by one
    * ulp, r9); the mean divides the exact sum by the exact count in
    * double — one correctly-rounded op, engine-identical.
    *
    * Grid choice (r11 stress find): the surprisal passes through `ln`,
    * and libm `ln` is NOT correctly rounded — JVM and DuckDB disagree
    * by one ulp on a few percent of arguments, so `floor(ln(x)·g)`
    * flips when the result lands within an ulp of a 1/g boundary:
    * P(flip) ≈ ulp·g·r per DISTINCT ratio (r = libm disagreement
    * rate). At the r11 sf10 corpus's ~4M distinct bigram ratios the
    * old 10¹² grid flipped ~300 of them (2572/500k docs off by one
    * unit); at 10⁶ the expectation is ~3·10⁻³ flips at that scale and
    * stays ≪ 1 far beyond it. 10⁻⁶ nats is orders below any decision
    * threshold a quality score feeds. */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("t_total"))
    toks
      .join(broadcast(counts), "term")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        floor(log(col("t_total").cast("double") / col("cnt").cast("double"))
          * lit(1.0e6)).cast("decimal(38,0)").as("_surprisal"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_surprisal")).as("_sum"))
      .select(col(idCol), col("n_tokens"),
        (col("_sum").cast("double") / lit(1.0e6) / col("n_tokens").cast("double"))
          .as("cross_entropy"))
  }

  /** Per-document cross-entropy under an add-one-smoothed corpus BIGRAM
    * LM (nats/bigram) — the KenLM-shaped upgrade of
    * [[unigramCrossEntropy]]: fluent text is predictable from local
    * context, so boilerplate/gibberish that happens to use common WORDS
    * in uncommon ORDER (which the unigram score cannot see) still scores
    * high. `ce2 = (1/(n-1)) Σ_i ln((starts(w_{i-1}) + V) /
    * (c(w_{i-1}, w_i) + 1))` where `starts(w)` counts corpus bigrams
    * beginning with `w` (so the smoothed model normalizes exactly:
    * Σ_w2 (c+1)/(starts+V) = 1), `V` is the distinct-unigram count, and
    * add-ONE smoothing keeps every model quantity an exact integer —
    * each surprisal is one double division of two exact ints + one `ln`,
    * then fixed-point `floor(x·10⁶)` summed in DECIMAL(38,0)
    * (`round(x, 12)` is NOT cross-engine-portable, and the grid is 10⁶
    * not 10¹² because `ln` itself is only ulp-portable — see the
    * [[unigramCrossEntropy]] grid-choice note; the bigram model's
    * millions of distinct ratios are exactly where the fine grid
    * flipped at the r11 sf10 stress corpus).
    *
    * Scale shape: the bigram stream is a zero-shuffle projection; both
    * count frames are ONE map-side-combinable aggregate each; the
    * per-bigram joins key on the bigram/start term. Bigram types grow
    * faster than Heaps' unigram curve but stay ≪ corpus positions —
    * broadcast here; at extreme scale drop the hint and both joins are
    * plain key-equi-joins that reuse the count frames' partitioning.
    * Documents with fewer than 2 tokens report n_bigrams=0, null score. */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_t"))
    val bgs = toks.filter(size(col("_t")) >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(1, size(_t) - 1),
          |  i -> struct(element_at(_t, i) AS w1,
          |    concat(element_at(_t, i), ' ', element_at(_t, i + 1)) AS bg))"""
          .stripMargin)).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.bg").as("bg"))
    val bgCounts = bgs.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val startCounts = bgs.groupBy("w1").agg(count(lit(1)).as("c_start"))
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .agg(count_distinct(col("w")).as("v"))
    val perDoc = bgs
      .join(broadcast(bgCounts), "bg")
      .join(broadcast(startCounts), "w1")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(log((col("c_start") + col("v")).cast("double") /
            (col("c_bg") + lit(1L)).cast("double")) * lit(1.0e6))
          .cast("decimal(38,0)").as("_s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"), sum(col("_s")).as("_sum"))
    toks.select(col(idCol), size(col("_t")).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("_sum").cast("double") / lit(1.0e6) /
          col("n_bigrams").cast("double")).as("ce2_nats"))
  }

  /** Zipf rank-frequency fit: least-squares slope of ln(freq) over
    * ln(rank) for the top-`topK` corpus terms — the classic corpus-
    * health diagnostic (natural language sits near slope −1; synthetic
    * or templated corpora bend away; a shifted slope after a pipeline
    * stage means the stage distorted the distribution).
    *
    * Determinism: ranks are exact (row_number over (count desc, term));
    * each point's x = ln(rank), y = ln(freq) is one `ln` of an exact
    * integer; all five regression moments (Σx, Σy, Σxy, Σx², n) are
    * fixed-point `floor(·10¹²)` DECIMAL(38,0) sums of single-multiply
    * doubles (the a23/PageRank doctrine), and the closed-form slope/
    * intercept is one fixed-shape double expression over those exact
    * integers — bit-identical on any engine.
    *
    * Scale: the term census is ONE map-side-combinable hash agg; the
    * global top-`topK` is TakeOrderedAndProject (per-partition heaps +
    * a topK-row driver merge), the rank window runs only over the
    * topK-row survivor frame, and the survivors feed a 1-row moment
    * aggregate. */
  def zipfSlope(df: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    require(topK >= 3, "need at least 3 rank points to fit")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    // Top-topK via orderBy().limit() = TakeOrderedAndProject, then rank
    // only the topK survivors. The vocab frame is Heaps-law smaller
    // than the corpus but still corpus-SCALED (tens of millions of
    // terms at 100 TB) — a partition-less rank window over it would
    // single-partition the whole census to keep 1000 rows.
    // (cnt desc, term) is a total order, so limit-then-rank is
    // bit-identical to rank-then-filter.
    val ranked = counts.orderBy(col("cnt").desc, col("term")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    def fp(c: Column): Column = floor(c * lit(1.0e12)).cast("decimal(38,0)")
    val x = log(col("rank").cast("double"))
    val y = log(col("cnt").cast("double"))
    val m = ranked.agg(
      count(lit(1)).as("n_points"),
      sum(fp(x)).as("sx"), sum(fp(y)).as("sy"),
      sum(fp(x * y)).as("sxy"), sum(fp(x * x)).as("sxx"))
    m.select(col("n_points"),
      ((col("n_points") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / lit(1.0e12)) /
        (col("n_points") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / lit(1.0e12)))
        .as("slope"),
      col("sx").cast("double").as("_sxd"), col("sy").cast("double").as("_syd"))
      .withColumn("intercept",
        (col("_syd") / lit(1.0e12) - col("slope") * col("_sxd") / lit(1.0e12)) /
          col("n_points"))
      .select(col("n_points"), col("slope"), col("intercept"))
  }

  /** Document fingerprints: full-content MD5, a min-token hash (1-wide
    * MinHash), and a rolling chained hash over the token stream (order
    * sensitive, so re-ordered documents get distinct prints). All pure
    * array HOFs — the fold in `aggregate` is a sequential left fold, so
    * the rolling print is deterministic. */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toksExpr = s"split(trim(regexp_replace(lower($textCol), '\\\\s+', ' ')), ' ')"
    df.select(
      df.columns.map(col) ++ Seq(
        md5(normText(col(textCol))).as("content_md5"),
        expr(s"array_min(transform($toksExpr, t -> md5(t)))").as("min_token_hash"),
        expr(s"aggregate($toksExpr, 'graftseed', (acc, t) -> md5(concat(acc, t)))")
          .as("rolling_hash")): _*)
  }

  /** Hash-vocabulary token ids: each token maps to
    * `md5(token)[0:32bits] mod vocabSize` — the deterministic stand-in
    * for a learned BPE vocabulary (feature hashing), turning chunk text
    * into the fixed-range int arrays a training loader consumes. Any
    * engine with md5 reproduces the ids exactly. */
  def hashTokenIds(textCol: Column, vocabSize: Int): Column =
    transform(split(textCol, " "), t =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % vocabSize).cast("int"))

  /** Sliding token-window chunking — the step that turns documents into
    * training sequences: windows of `chunkTokens` tokens starting every
    * `stride` tokens (overlap = chunkTokens − stride). One row per
    * (document, window): (`chunk_id`, `chunk_text`, `n_tokens`), where
    * the final window is the ragged tail. A narrow projection + explode
    * per document — no shuffle, no state; a 100 TB corpus chunks at scan
    * speed and the explode fan-out (~n_tokens/stride rows per doc) is
    * the output's intrinsic size, not an intermediate. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, size(_toks) - 1, $stride),
           |  st -> named_struct(
           |    'chunk_text', array_join(slice(_toks, st + 1, $chunkTokens), ' '),
           |    'n_tokens', least($chunkTokens, size(_toks) - st)))""".stripMargin)))
      .select(col(idCol), col("pos").cast("int").as("chunk_id"),
        col("col.chunk_text"), col("col.n_tokens"))
  }

  /** Adjacent character-pair frequencies within tokens — the first
    * merge-candidate table of BPE vocabulary induction (Sennrich '16):
    * the pair with the highest corpus count is the first merge rule.
    * Shape: tokenize (projection) → explode tokens → explode each
    * token's `len−1` adjacent 2-grams → ONE hash aggregate. The only
    * shuffle is the final count-by-pair, and pair cardinality is tiny
    * (bounded by alphabet², a few thousand keys), so map-side partial
    * aggregation collapses the exploded stream to near-nothing before
    * the exchange — the 100 TB-safe shape for corpus-wide symbol
    * statistics. The full merge loop is [[Bpe.trainMerges]]. */
  def charPairCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))

  /** Inverted-index build: one row per term with document frequency,
    * collection frequency, and the sorted posting list — the
    * materialized index behind [[bm25TopDocs]]-style retrieval when
    * queries outnumber corpus passes (build once, probe many).
    *
    * ONE shuffle: explode tokens → hash aggregate on term, with
    * map-side partial aggregation collapsing each partition's token
    * stream to its local term stats first. `df` derives as
    * `size(postings)` AFTER the aggregate — a `count(distinct id)`
    * aggregate would expand to a second (term, id)-keyed exchange
    * (plan-guarded in PlanGuardsSpec), and the set is already exact.
    * At 100 TB a term's posting list is only unbounded for
    * stopword-class terms — cap them upstream with a `df` filter (they
    * carry no retrieval signal) rather than letting one reducer hold a
    * billion-element array. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("cf"),
        sort_array(collect_set(col(idCol))).as("postings"))
      .select(col("term"), size(col("postings")).cast("long").as("df"),
        col("cf"), col("postings"))

  /** Pointwise-mutual-information collocations (Church & Hanks '90):
    * bigrams whose observed frequency beats the unigram-independence
    * expectation — the statistical phrase detector ("new york" scores,
    * "of the" doesn't) used to build tokenizer seed vocabularies and
    * boilerplate lexicons. `pmi = ln(c_xy · N_tok² / (N_bg · c_x ·
    * c_y))`; `minCount` suppresses the low-frequency PMI bias (a pair
    * seen once with two rare words maxes the score).
    *
    * Shuffle shape: one hash aggregate each for the unigram and bigram
    * counts (both map-side combinable); the candidate frame is already
    * min-count-filtered BEFORE the two vocabulary joins, which broadcast
    * (Heaps' law: vocab ≪ corpus; at extreme scale drop the hint and
    * they key on the token). Totals are 1-row broadcasts.
    *
    * Determinism: counts are exact integers and every factor casts to
    * DOUBLE before the multiply, so the ln ARGUMENT is bit-identical
    * across engines — but `ln` itself is only ≤1-ulp-accurate in the
    * JVM (Math.log is semi-monotonic, not correctly rounded), so raw
    * scores can differ from another engine's in the last bit. Scores
    * are therefore reported AND ranked at `roundTo` decimals (tfidf
    * doctrine since round 5), tie-broken on the bigram text, making the
    * top-k cut itself portable. */
  def pmiCollocations(df: DataFrame, textCol: String = "text",
      minCount: Long = 5L, topK: Int = 30, roundTo: Int = 4): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("_toks"))
    val uni = toks.select(explode(col("_toks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val nTok = uni.agg(sum(col("cu")).cast("double").as("nt"))
    val bc = toks.filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(_toks) - 2),
          |  i -> struct(element_at(_toks, i + 1) AS l,
          |              element_at(_toks, i + 2) AS r))""".stripMargin)).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("cxy"))
    val nBg = bc.agg(sum(col("cxy")).cast("double").as("nb"))
    bc.filter(col("cxy") >= minCount)
      .join(broadcast(uni.select(col("tok").as("l"), col("cu").as("cl"))), "l")
      .join(broadcast(uni.select(col("tok").as("r"), col("cu").as("cr"))), "r")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(concat(col("l"), lit(" "), col("r")).as("bigram"), col("cxy"),
        round(log((col("cxy").cast("double") * col("nt") * col("nt")) /
          (col("nb") * col("cl").cast("double") * col("cr").cast("double"))),
          roundTo).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(topK)
  }

  /** URL canonicalization — the normalization pass that runs BEFORE
    * URL-level dedup of a web corpus, where the same page hides behind
    * case-variant hosts, default ports, `www.` prefixes, tracking
    * params, fragments, and trailing slashes. Rules, in order:
    * fragment stripped; trailing `utm_*`/`gclid`/`fbclid` params
    * dropped (with `?`/`&` stitching for first-position params);
    * trailing slash removed (incl. before `?`); scheme+host — and ONLY
    * scheme+host, the path keeps its case — lowercased; default port
    * (`:443` on https, `:80` on http) stripped; leading `www.`
    * dropped. Pure regexp/string projection, zero-shuffle, codegen'd;
    * every pattern stays in the Java∩RE2 regex subset so an external
    * engine replays it exactly. Full query-param REORDERING is out of
    * scope (that needs a sort over split params, a different cost
    * class).
    *
    * Structure (r13 ADVICE): the URL is SPLIT at the first `?` before
    * any rewriting, so path rules can never fire inside a query-param
    * VALUE (`?next=/path/?x=1` keeps its value intact) and query rules
    * see only the true query string; tracking-param names match
    * case-insensitively (`?UTM_SOURCE=` is as much tracking as the
    * lowercase spelling — mirroring the case-normalized host). */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    // split at the FIRST '?': head = scheme://host/path, qs = "?k=v&…" or ""
    val head = regexp_extract(noFrag, "^([^?]*)", 1)
    val qs = noFrag.substr(length(head) + 1, lit(65536))
    // tracking params — anchored to the real query string, (?i) on names
    val qs1 = regexp_replace(qs, "(?i)&(utm_[a-z]+|gclid|fbclid)=[^&]*", "")
    val qs2 = regexp_replace(qs1, "(?i)^\\?(utm_[a-z]+|gclid|fbclid)=[^&]*&", "?")
    val qs3 = regexp_replace(qs2, "(?i)^\\?(utm_[a-z]+|gclid|fbclid)=[^&]*$", "")
    // trailing path slash: always dropped when a query follows; without a
    // query, dropped only on a non-root path (bare "https://host/" survives)
    val head2 = when(length(qs3) > 0, regexp_replace(head, "/$", ""))
      .otherwise(regexp_replace(head, "(?i)^(https?://[^/?]+/.*[^/])/$", "$1"))
    val schemeHost = regexp_extract(head2, "(?i)^(https?://[^/?]*)", 1)
    val rest = head2.substr(length(schemeHost) + 1, lit(65536))
    val host = regexp_replace(
      regexp_replace(
        regexp_replace(lower(schemeHost), "^(https://.*):443$", "$1"),
        "^(http://.*):80$", "$1"),
      "^(https?://)www\\.", "$1")
    concat(host, rest, qs3)
  }

  /** Blocked entity resolution — record linkage by BLOCKING + thresholded
    * edit-distance verify, the classic fuzzy-match shape for structured
    * records (names, addresses, SKUs) where token-level MinHash is the
    * wrong granularity. A candidate pair must share the first
    * `prefixLen` characters (the blocking key: the equi-join that
    * replaces the quadratic all-pairs — bucket sizes are the number of
    * records per prefix, never corpus-sized), survive the |length
    * difference| ≤ maxDist pre-filter (a length gap of d already forces
    * distance ≥ d, so the O(n·m) DP is never run on obvious
    * non-matches), and then verify `levenshtein ≤ maxDist` — Spark's
    * THRESHOLDED levenshtein, which abandons the DP as soon as the
    * bound is exceeded, so per-pair cost is O(maxDist · min(n, m)), not
    * O(n·m). Output: (id_a, id_b, dist), id_a < id_b. */
  def blockedEditDistancePairs(df: DataFrame, idCol: String, nameCol: String,
      prefixLen: Int, maxDist: Int): DataFrame = {
    val b = df.select(col(idCol).as("_id"), col(nameCol).as("_nm"),
      substring(col(nameCol), 1, prefixLen).as("_blk"))
    b.as("x").join(b.as("y"),
        col("x._blk") === col("y._blk") && col("x._id") < col("y._id") &&
          abs(length(col("x._nm")) - length(col("y._nm"))) <= maxDist)
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        levenshtein(col("x._nm"), col("y._nm"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }
}
