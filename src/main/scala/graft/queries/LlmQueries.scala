package graft.queries

import org.apache.spark.sql.functions._

import graft.llm.{Bpe, Classifier, Dedup, Multimodal, Pq, Similarity, Splits, TextOps}
import graft.operators.{CountMin, HistQuantile, PageRank, RobustStats}
import Registry.T

/** Driver-gradable queries for the LLM training-data pipeline operators
  * (dedup, similarity search, text analysis, multimodal plumbing) over
  * `documents` / `embeddings` / `events`. The DuckDB oracles replicate the
  * exact algorithms (same normalization, same hash seeds, same fold
  * order), so these are full value-level checks, not just row counts.
  */
object LlmQueries {

  // Corpus-scaled centroid seed rule, shared by llm_embedding_neardup
  // and llm_semantic_dedup (r10 sf10 stress find): a FIXED centroid
  // count makes cluster size — and so in-cluster pair work, n²/k —
  // grow quadratically with the corpus (at 200k vectors the fixed-8
  // form ran 26× the sf1 wall for 10× data). `vec_id < 8` keeps a
  // floor of 8 (driver gate corpora ≤2000 vectors are unchanged) and
  // `% 2500 == 0` adds one centroid per 2500 vectors — a fixed ~2.5k
  // target cluster size, so pair volume stays LINEAR in the corpus.
  // Count-free and layout-invariant. `scaledCentroidSql` is the
  // verbatim oracle mirror — any scaling change edits BOTH here.
  private[queries] def scaledCentroids(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.filter(col("vec_id") < 8 || col("vec_id") % 2500 === 0)
  private[queries] val scaledCentroidSql = "vec_id < 8 OR vec_id % 2500 = 0"

  // Shared image-phash chain (llm_image_phash_dedup + _clusters):
  // encode real 8×8 BMPs → partition-wise decode to luma → 56-bit dHash
  // (checkpointed: 8 bytes/doc, feeds bands and both verify sides) →
  // 4×14-bit banded candidates through the skew-capped machinery →
  // Hamming ≤ 6 verify. Returns (hash frame, verified pairs).
  private def phashVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val hashed = Multimodal.dHash56(
        Multimodal.decodeBmpGray(s, Multimodal.encodeBmpGray8x8(
          T(s, dir, "documents").select(col("doc_id")))))
      .localCheckpoint(true)
    val bands = hashed
      .select(col("doc_id"), col("phash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .select(col("doc_id"), col("band"),
        Multimodal.phashBand("band").as("band_hash"))
    val pairs = Dedup.candidatePairsCapped(bands, "doc_id",
        maxBucket = 64, reps = 8)
      .join(hashed.select(col("doc_id").as("id_a"), col("phash").as("ph_a")), "id_a")
      .join(hashed.select(col("doc_id").as("id_b"), col("phash").as("ph_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int").as("hamming"),
        col("capped"))
      .filter(col("hamming") <= 6)
    (hashed, pairs)
  }

  // Oracle pixel→hash→bands prefix shared by every image-phash gate
  // (including the streaming twin in StreamingQueries): pixels replayed
  // from the generation formula (no BMP parse), dHash packed
  // identically. Ends at `bands` — (doc_id, phash, band, band_hash).
  private[queries] val phashHashCtes =
    """px AS (
      |  SELECT doc_id, j,
      |    ((('0x' || substring(md5((doc_id // 4)::VARCHAR || '_' ||
      |          (j // 16)::VARCHAR), 2 * (j % 16) + 1, 2))::BIGINT
      |      + CASE WHEN j = doc_id % 64 THEN 128 ELSE 0 END) % 256) AS v
      |  FROM documents, range(64) t(j)),
      |ph AS MATERIALIZED (
      |  SELECT l.doc_id,
      |    SUM(CASE WHEN l.v < r.v
      |      THEN (1::BIGINT << CAST(l.j - l.j // 8 AS INT))
      |      ELSE 0 END) AS phash
      |  FROM px l JOIN px r ON r.doc_id = l.doc_id AND r.j = l.j + 1
      |  WHERE l.j % 8 < 7
      |  GROUP BY l.doc_id),
      |bands AS (
      |  SELECT doc_id, phash, b.b AS band,
      |    (phash >> CAST(14 * b.b AS INT)) & 16383 AS band_hash
      |  FROM ph, range(4) b(b))""".stripMargin

  // Capped candidate + Hamming-verify continuation (md5-order rep
  // election, member↔rep stars, capped = bool_and — replayed in full).
  // Ends at `vp`, the verified (id_a, id_b, hamming, capped) pair set.
  private val phashPairsCtes = phashHashCtes + """,
      |bsize AS (SELECT band, band_hash, count(*) AS n
      |  FROM bands GROUP BY band, band_hash),
      |bx AS (SELECT b.doc_id, b.band, b.band_hash, s.n > 64 AS oversized
      |  FROM bands b JOIN bsize s USING (band, band_hash) WHERE s.n > 1),
      |rp AS (SELECT band, band_hash, doc_id AS rep FROM (
      |    SELECT band, band_hash, doc_id,
      |      row_number() OVER (PARTITION BY band, band_hash
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |    FROM bx WHERE oversized) z WHERE rk <= 8),
      |small_pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, false AS c
      |  FROM bx x JOIN bx y ON x.band = y.band AND x.band_hash = y.band_hash
      |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
      |big_pairs AS (SELECT least(m.doc_id, r.rep) AS id_a,
      |    greatest(m.doc_id, r.rep) AS id_b, true AS c
      |  FROM bx m JOIN rp r ON m.band = r.band AND m.band_hash = r.band_hash
      |  WHERE m.oversized AND m.doc_id <> r.rep),
      |cp AS (SELECT id_a, id_b, bool_and(c) AS capped
      |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs) u
      |  GROUP BY id_a, id_b),
      |vp AS (SELECT c.id_a, c.id_b,
      |    CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming, c.capped
      |  FROM cp c JOIN ph a ON a.doc_id = c.id_a JOIN ph b ON b.doc_id = c.id_b
      |  WHERE bit_count(xor(a.phash, b.phash)) <= 6)""".stripMargin

  // Shared video frame-hash chain (llm_video_* gates): encode real
  // 4-frame 8×8 RIFF AVIs → partition-wise chunk-walking decode to one
  // luma row PER FRAME → per-frame 56-bit dHash, keyed (doc_id,
  // frame_idx). Checkpointed: 4×8 bytes/doc, feeds bands and both
  // verify sides of the temporal dedup.
  private[queries] def videoFrameHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Multimodal.dHash56(
        Multimodal.decodeAviFrames(s, Multimodal.encodeAvi(
          T(s, dir, "documents").select(col("doc_id")))),
        Seq("doc_id", "frame_idx"))
      .localCheckpoint(true)

  // Shared audio verified-pair chain (llm_audio_fingerprint_dedup + the
  // cross-modal gates): RIFF/WAVE decode → 16 content-addressed
  // per-window quantized-amplitude band keys → skew-capped candidates →
  // exact mean-absolute sample-distance verify (≤ 16). Returns
  // (id_a, id_b, mad, capped), unordered; the decoded frame is computed
  // once and localCheckpointed so neither the bands nor either verify
  // side re-decodes.
  private def audioVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val decoded = Multimodal.decodeWavPcm(s,
        Multimodal.encodeWavPcm(T(s, dir, "documents").select(col("doc_id"))))
      .localCheckpoint(true)
    val bands = decoded
      .select(col("doc_id"), explode(expr("sequence(0, 15)")).as("band"),
        col("samples"))
      .select(col("doc_id"), col("band"),
        Multimodal.audioWindowKey("band").as("band_hash"))
    Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 64, reps = 8)
      .join(decoded.select(col("doc_id").as("id_a"), col("samples").as("sa")), "id_a")
      .join(decoded.select(col("doc_id").as("id_b"), col("samples").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("""aggregate(zip_with(sa, sb, (x, y) -> CAST(abs(x - y) AS BIGINT)),
               |  CAST(0 AS BIGINT), (a, v) -> a + v) DIV 128""".stripMargin)
          .as("mad"),
        col("capped"))
      .filter(col("mad") <= 16)
  }

  // Shared video temporal verified-pair chain (llm_video_framehash_dedup
  // + the cross-modal gates): per-frame dHashes → 16 (frame_idx × 4 + b,
  // 14-bit slice) band keys → skew-capped candidates → summed
  // ALIGNED-frame Hamming ≤ 6 verify. Returns (id_a, id_b, hamming,
  // capped), unordered; frame hashes come from the checkpointed
  // videoFrameHashes frame (32 bytes/doc), never a re-decode.
  private def videoVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val fh = videoFrameHashes(s, dir)
    val bands = fh
      .select(col("doc_id"), col("frame_idx"), col("phash"),
        explode(expr("sequence(0, 3)")).as("b"))
      .select(col("doc_id"),
        (col("frame_idx") * 4 + col("b")).as("band"),
        Multimodal.phashBand("b").as("band_hash"))
    Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 64, reps = 8)
      .join(fh.select(col("doc_id").as("id_a"), col("frame_idx"),
        col("phash").as("ph_a")), "id_a")
      .join(fh.select(col("doc_id").as("id_b"), col("frame_idx"),
        col("phash").as("ph_b")), Seq("id_b", "frame_idx"))
      .groupBy("id_a", "id_b", "capped")
      .agg(sum(bit_count(col("ph_a").bitwiseXOR(col("ph_b")))).as("hamming"))
      .filter(col("hamming") <= 6)
      .select("id_a", "id_b", "hamming", "capped")
  }

  // Oracle generator for the skew-capped candidate machinery
  // (Dedup.candidatePairsCapped with maxBucket=64, reps=8) over an
  // existing `<bands>`(doc_id, band, band_hash) CTE: emits the
  // bsize/bx/rp/small/big chain under the given name prefix, ending at
  // `<p>cp`, the DISTINCT (id_a, id_b) candidate edge set (the capped
  // provenance flag is dropped — composition gates only need edges).
  // Mirrors the per-gate spellings (md5-order rep election, member↔rep
  // stars) token for token.
  private def cappedEdgeCtes(p: String, bands: String): String =
    s"""${p}bsize AS (SELECT band, band_hash, count(*) AS n
       |  FROM $bands GROUP BY band, band_hash),
       |${p}bx AS (SELECT b.doc_id, b.band, b.band_hash, z.n > 64 AS oversized
       |  FROM $bands b JOIN ${p}bsize z USING (band, band_hash) WHERE z.n > 1),
       |${p}rp AS (SELECT band, band_hash, doc_id AS rep FROM (
       |    SELECT band, band_hash, doc_id,
       |      row_number() OVER (PARTITION BY band, band_hash
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM ${p}bx WHERE oversized) z WHERE rk <= 8),
       |${p}small AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM ${p}bx x JOIN ${p}bx y
       |    ON x.band = y.band AND x.band_hash = y.band_hash
       |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
       |${p}big AS (SELECT least(m.doc_id, r.rep) AS id_a,
       |    greatest(m.doc_id, r.rep) AS id_b
       |  FROM ${p}bx m JOIN ${p}rp r
       |    ON m.band = r.band AND m.band_hash = r.band_hash
       |  WHERE m.oversized AND m.doc_id <> r.rep),
       |${p}cp AS (SELECT DISTINCT id_a, id_b
       |  FROM (SELECT * FROM ${p}small UNION ALL SELECT * FROM ${p}big) u)""".stripMargin

  // Oracle pixel→per-frame-hash replay shared by the video gates
  // (including the streaming twin): GLOBAL pixel g of a doc lives in
  // frame g div 64 at offset g % 64; its gray is byte g%16 of
  // md5(seed '_' g div 16), +128 at the doc's one perturbed position
  // (g = doc_id % 256) — no RIFF parsing. Ends at `vph`
  // (doc_id, frame_idx, phash).
  private[queries] val videoHashCtes =
    """vpx AS (
      |  SELECT doc_id, g,
      |    ((('0x' || substring(md5((doc_id // 4)::VARCHAR || '_' ||
      |          (g // 16)::VARCHAR), 2 * (g % 16) + 1, 2))::BIGINT
      |      + CASE WHEN g = doc_id % 256 THEN 128 ELSE 0 END) % 256) AS v
      |  FROM documents, range(256) t(g)),
      |vph AS MATERIALIZED (
      |  SELECT l.doc_id, l.g // 64 AS frame_idx,
      |    CAST(SUM(CASE WHEN l.v < r.v
      |      THEN (1::BIGINT << CAST((l.g % 64) - (l.g % 64) // 8 AS INT))
      |      ELSE 0 END) AS BIGINT) AS phash
      |  FROM vpx l JOIN vpx r ON r.doc_id = l.doc_id AND r.g = l.g + 1
      |  WHERE l.g % 8 < 7
      |  GROUP BY l.doc_id, l.g // 64)""".stripMargin

  /** The clip-in-video containment oracle up to its tail: the 2-frame
    * clips of every doc_id % 4 = 0 video, full-hash candidates and every
    * aligned placement with summed Hamming ≤ 6. llm_video_clip_containment
    * and its streaming twin st19 each append their own ORDER BY (st19 an
    * arrival-order filter first). */
  private[queries] val clipContainmentSql =
    s"""WITH $videoHashCtes,
      |clips AS (SELECT doc_id AS clip_id,
      |    CAST(frame_idx - 1 AS INT) AS p, phash
      |  FROM vph WHERE doc_id % 4 = 0 AND frame_idx IN (1, 2)),
      |cand AS (SELECT DISTINCT c.clip_id, v.doc_id AS video_id,
      |    CAST(v.frame_idx - c.p AS INT) AS loc
      |  FROM clips c JOIN vph v ON v.phash = c.phash
      |  WHERE v.frame_idx - c.p >= 0),
      |ver AS (SELECT d.clip_id, d.video_id, d.loc,
      |    CAST(SUM(bit_count(xor(c.phash, v.phash))) AS BIGINT)
      |      AS hamming,
      |    count(*) AS n_aligned
      |  FROM cand d
      |  JOIN clips c ON c.clip_id = d.clip_id
      |  JOIN vph v ON v.doc_id = d.video_id
      |    AND v.frame_idx = d.loc + c.p
      |  GROUP BY d.clip_id, d.video_id, d.loc)
      |SELECT clip_id, video_id, loc AS "offset", hamming
      |FROM ver WHERE n_aligned = 2 AND hamming <= 6""".stripMargin

  // Oracle sample replay shared by the audio gates: signed LE int16
  // sample i of doc = bytes 2(i%8), 2(i%8)+1 of md5(seed '_' i div 8),
  // +512 mod 2^16 at the doc's one perturbed position — no RIFF parse.
  // Ends at `smp` (doc_id, i, s).
  private[queries] val wavSampleCtes =
    """pairs16 AS (
      |  SELECT doc_id, i,
      |    substring(md5((doc_id // 4)::VARCHAR || '_' || (i // 8)::VARCHAR),
      |      4 * (i % 8) + 1, 4) AS p
      |  FROM documents, range(128) t(i)),
      |smp AS MATERIALIZED (
      |  SELECT doc_id, i,
      |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
      |  FROM (SELECT doc_id, i,
      |      ((('0x' || substring(p, 1, 2))::INT
      |        + 256 * ('0x' || substring(p, 3, 2))::INT
      |        + CASE WHEN i = doc_id % 128 THEN 512 ELSE 0 END) % 65536) AS v
      |    FROM pairs16))""".stripMargin

  // Oracle twin of Multimodal.audioWindowKey over `smp`: one key per
  // 8-sample window. Ends at `name` (doc_id, `window`, `key`).
  private[queries] def audioWindowKeysCte(name: String, window: String, key: String): String =
    s"""$name AS (SELECT doc_id, i // 8 AS $window,
       |    md5(string_agg(((s + 32768) // 1024)::VARCHAR, ','
       |      ORDER BY i)) AS $key
       |  FROM smp GROUP BY doc_id, i // 8)""".stripMargin

  // -- shared DuckDB fragments ------------------------------------------
  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private[queries] val toksCte =
    s"toks AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents)"
  // sh/sh5/sigs are MATERIALIZED: DuckDB inlines CTEs per reference,
  // so a gate that touches the shingle census from several CTEs
  // (pair join sides, sizes, jaccard verify) re-runs the whole
  // 40M-row census once PER REFERENCE — at the 500k-doc stress corpus
  // the concurrent copies blew a 40 GB memory limit and spilled to
  // disk-full (r10 stress find). One materialization is a few GB and
  // semantically identical; at the sf0.01 driver scale the hint is
  // noise.
  private[queries] val shCte =
    """sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1),
      |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS shingle
      |  FROM toks))""".stripMargin

  // 5-gram shingle CTE (decontamination uses longer shingles than the
  // n=3 dedup chain: short shingles flag common phrases, not leakage).
  // Shared with the streaming curation gate (StreamingQueries st23) so
  // the batch and streaming decontamination replays can never fork.
  private[queries] val sh5Cte = {
    val parts = (0 until 5).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""sh5 AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(t) >= 5
       |      THEN list_transform(range(1, len(t) - 3), i -> $parts)
       |      ELSE [array_to_string(t, ' ')] END) AS shingle
       |  FROM toks))""".stripMargin
  }

  /** TextOps.qualityFilter's three per-document statistics;
    * llm_quality_filter and [[qualKeepCtes]]. */
  private val qualStatsCols =
    s"""    len(string_split($normSql, ' ')) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
       |      NULLIF(CAST(length(text) AS DOUBLE), 0) AS punct_ratio,
       |    CAST(len(regexp_extract_all(lower(text),
       |        '\\b(the|a|an|and|of|to|in|is|it)\\b')) AS DOUBLE) /
       |      NULLIF(CAST(len(string_split($normSql, ' ')) AS DOUBLE), 0)
       |      AS stopword_ratio""".stripMargin

  /** Statistics CTE `stats` over `from`, then the `keep(doc_id)` set at the
    * curation thresholds (the null-safe spelling below); qualKeepAllCtes and
    * llm_curation_pipeline. */
  private def qualKeepCtes(stats: String, keep: String, key: String, from: String) =
    s"""$stats AS (SELECT $key,
       |$qualStatsCols
       |  FROM $from),
       |$keep AS (SELECT doc_id FROM $stats
       |  WHERE n_tokens >= 20 AND n_tokens <= 100000
       |    AND (punct_ratio > 0.06) IS NOT TRUE
       |    AND (stopword_ratio < 0.05) IS NOT TRUE)""".stripMargin

  // Quality keep-set over ALL documents at the curation thresholds
  // (TextOps.qualityFilter: minTokens 20, maxTokens 100000,
  // maxPunctRatio 0.06, minStopwordRatio 0.05) — the null-safe
  // `(x > t) IS NOT TRUE` spelling matches qualityFilter's when()
  // semantics on empty text. Shared by llm_curation_pipeline's inline
  // twin and the streaming curation gate (st23) so the threshold
  // spellings can never fork.
  private[queries] val qualKeepAllCtes: String =
    qualKeepCtes("qstats_all", "qual_keep_all", "doc_id", "documents")

  /** The quality filter's fail reasons at the curation thresholds, in
    * TextOps.qualityFilter's order, over columns n_tokens, punct_ratio
    * and stopword_ratio: llm_quality_filter, llm_dataset_card and st8. */
  private[queries] val failReasonsSql: String =
    """list_filter([
      |      CASE WHEN n_tokens < 20 THEN 'too_short' END,
      |      CASE WHEN n_tokens > 100000 THEN 'too_long' END,
      |      CASE WHEN punct_ratio > 0.06 THEN 'punct_heavy' END,
      |      CASE WHEN stopword_ratio < 0.05 THEN 'low_stopword' END],
      |      x -> x IS NOT NULL)""".stripMargin

  // sigs → bands → lsh_pairs CTE chain shared by the LSH-pair gate and
  // the cluster gate. Mirrors Dedup.windowHash: 8-hex-char (32-bit)
  // windows of two digests give all 8 MinHash functions.
  // sigs → bands fragment, shared with the streaming LSH-dedup gate
  // (StreamingQueries st13) so the two oracles can never fork.
  private[queries] val lshSigBandsCtes: String = {
    val sigCols = (0 until 8).map { j =>
      val digest = if (j < 4) "md5(shingle)" else "md5('#' || shingle)"
      s"min(substring($digest, ${(j % 4) * 8 + 1}, 8)) AS h$j"
    }.mkString(", ")
    val bandsSql = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${2 * b} || '|' || h${2 * b + 1}) AS band_hash FROM sigs")
      .mkString(" UNION ALL ")
    s"""sigs AS MATERIALIZED (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS ($bandsSql)""".stripMargin
  }

  private val lshPairsCtes: String = {
    s"""$lshSigBandsCtes,
       |lsh_pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash
       |  WHERE x.doc_id < y.doc_id)""".stripMargin
    // doc_id < doc_id lives in WHERE, not ON: with the inequality in the
    // ON clause DuckDB can pick its inequality (IE) join over the band
    // hash join and go |bands|^2-quadratic — at the 500k-doc stress
    // corpus that spilled >77 GB of temp (r10 stress find); the WHERE
    // form always hash-joins the equi keys with the inequality residual.
  }

  // URL-canonicalization oracle chain — mirrors TextOps.normalizeUrl
  // step-for-step (split at the first '?', case-insensitive tracking
  // params, trailing-slash rules, host normalization). Input: a CTE
  // named urls(rec_id, url); output: norm(rec_id, url_norm). Shared by
  // llm_url_normalize and llm_curation_pipeline so the two oracles can
  // never fork.
  private[queries] val urlNormCtes: String =
    """un1 AS (SELECT rec_id, regexp_replace(url, '#.*', '', 'g') AS u FROM urls),
      |usp AS (SELECT rec_id, regexp_extract(u, '^([^?]*)', 1) AS head,
      |    substr(u, length(regexp_extract(u, '^([^?]*)', 1)) + 1, 65536) AS qs
      |  FROM un1),
      |uq1 AS (SELECT rec_id, head,
      |    regexp_replace(qs, '(?i)&(utm_[a-z]+|gclid|fbclid)=[^&]*', '', 'g') AS qs
      |  FROM usp),
      |uq2 AS (SELECT rec_id, head,
      |    regexp_replace(qs, '(?i)^\?(utm_[a-z]+|gclid|fbclid)=[^&]*&', '?') AS qs
      |  FROM uq1),
      |uq3 AS (SELECT rec_id, head,
      |    regexp_replace(qs, '(?i)^\?(utm_[a-z]+|gclid|fbclid)=[^&]*$', '') AS qs
      |  FROM uq2),
      |uh2 AS (SELECT rec_id, qs,
      |    CASE WHEN length(qs) > 0 THEN regexp_replace(head, '/$', '')
      |      ELSE regexp_replace(head, '(?i)^(https?://[^/?]+/.*[^/])/$', '\1')
      |    END AS head
      |  FROM uq3),
      |uparts AS (SELECT rec_id, head, qs,
      |    regexp_extract(head, '(?i)^(https?://[^/?]*)', 1) AS sh_host FROM uh2),
      |norm AS (SELECT rec_id,
      |    regexp_replace(regexp_replace(regexp_replace(lower(sh_host),
      |        '^(https://.*):443$', '\1'), '^(http://.*):80$', '\1'),
      |      '^(https?://)www\.', '\1') ||
      |    substr(head, length(sh_host) + 1, 65536) || qs AS url_norm
      |  FROM uparts)""".stripMargin

  /** urls(rec_id, url): each doc_id that `from` reads, under one of three
    * spellings of its entity's URL (doc_id % 3), %10=7 docs sharing their
    * predecessor's entity — llm_curation_pipeline and st23. `from`
    * carries its own leading separator. */
  private[queries] def urlsCte(from: String): String =
    s"""urls AS (SELECT doc_id AS rec_id, CASE CAST(doc_id % 3 AS INT)
       |    WHEN 0 THEN 'https://Docs.Example.com/d/' || g || '?id=' || g
       |    WHEN 1 THEN 'HTTPS://WWW.DOCS.EXAMPLE.COM:443/d/' || g || '?id=' || g || '#frag'
       |    ELSE 'https://docs.example.com/d/' || g || '/?id=' || g || '&utm_source=x'
       |  END AS url
       |  FROM (SELECT doc_id, CAST(CASE WHEN doc_id % 10 = 7
       |      THEN doc_id - 1 ELSE doc_id END AS VARCHAR) AS g$from))""".stripMargin

  // 16-bit SimHash as chained CTEs ending in sims(doc_id, simhash) —
  // mirrors Dedup.simhash bit-for-bit (odd hex nibble = +1 vote).
  private val simhashCtes: String = {
    val odd = "('1','3','5','7','9','b','d','f')"
    val votes = (0 until 16).map(i =>
      s"SUM(CASE WHEN substring(m, ${i + 1}, 1) IN $odd THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val bits = (0 until 16).map(i =>
      s"(CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""h AS (SELECT doc_id, md5(tok) AS m FROM
       |  (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sims AS (SELECT doc_id, $bits AS simhash FROM v)""".stripMargin
  }

  private[queries] def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  private[queries] def simSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
  /** Generated K-iteration BPE-training oracle (llm_bpe_train /
    * llm_bpe_encode — Bpe.trainMerges replayed bit-for-bit). Each
    * iteration re-runs the same pair census / argmax / merge the Spark
    * trainer runs; the leftmost-non-overlap merge application is
    * resolved in CLOSED FORM instead of a fold: positions whose
    * (sym, next) equal the best pair form runs of consecutive indices
    * (islands via i - row_number), within a run the even offsets from
    * the run start are taken, a taken position emits the merged symbol,
    * and its successor (prev_taken) is absorbed. Integer counts and
    * string symbols only — nothing float touches the compare — and ties
    * break (count DESC, lhs, rhs) on both engines. pr/w are
    * MATERIALIZED: each is referenced twice per iteration, and default
    * CTE inlining would otherwise expand the K-deep chain exponentially
    * (the r10 shingle-census lesson). */
  /** The BPE training CTE chain (toks → census → k iterations ending
    * in w$k), shared by the train/encode/stream oracles AND the
    * dataset-card oracle so the tokenizer can never fork between its
    * own gates and compositions over it. */
  private def bpeCtes(k: Int): String = {
    // ONE tokenized stream feeds BOTH the training census and the
    // encode tail — the same no-fork rule Bpe.wordCensus applies
    // Spark-side (a second spelled-out tokenizer here could silently
    // diverge under a future regex edit).
    val toks =
      s"""toks AS MATERIALIZED (SELECT doc_id, word FROM (
         |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
         |  FROM documents) u WHERE word <> '')""".stripMargin
    val iters = (1 to k).map { t =>
      s"""pr$t AS MATERIALIZED (
         |  SELECT word, cnt, u.i AS i, u.s AS s, u.nxt AS nxt FROM (
         |    SELECT word, cnt, unnest(list_transform(range(1, len(syms)+1),
         |      j -> {'i': j, 's': syms[j],
         |            'nxt': CASE WHEN j < len(syms) THEN syms[j+1] ELSE '' END})) AS u
         |    FROM w${t - 1})),
         |p$t AS (SELECT s AS lhs, nxt AS rhs, sum(cnt) AS n
         |  FROM pr$t WHERE nxt <> '' GROUP BY s, nxt),
         |b$t AS (SELECT lhs, rhs, n FROM p$t ORDER BY n DESC, lhs, rhs LIMIT 1),
         |h$t AS (SELECT x.word, x.cnt, x.i, x.s, x.nxt,
         |    (x.s = b.lhs AND x.nxt = b.rhs) AS hit FROM pr$t x, b$t b),
         |g$t AS (SELECT *, CASE WHEN hit THEN i - row_number()
         |    OVER (PARTITION BY word, hit ORDER BY i) END AS grp FROM h$t),
         |tk$t AS (SELECT *, hit AND ((i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0)
         |    AS taken FROM g$t),
         |rb$t AS (SELECT *, coalesce(lag(taken) OVER (PARTITION BY word ORDER BY i), false)
         |    AS prev_taken FROM tk$t),
         |w$t AS MATERIALIZED (SELECT word, cnt,
         |    list(CASE WHEN taken THEN s || nxt ELSE s END ORDER BY i) AS syms
         |  FROM rb$t WHERE NOT prev_taken GROUP BY word, cnt)""".stripMargin
    }.mkString(",\n")
    s"""$toks,
       |w0 AS MATERIALIZED (
       |  SELECT word, cnt, list_transform(range(1, len(word)+1), j -> word[j:j]) AS syms
       |  FROM (SELECT word, count(*) AS cnt FROM toks GROUP BY word) c),
       |$iters""".stripMargin
  }

  private[queries] def bpeOracle(k: Int, encode: Boolean,
      streamIncrement: Boolean = false): String = {
    val tail =
      if (!encode) {
        val rows = (1 to k).map { t =>
          s"SELECT $t AS merge_rank, lhs, rhs, lhs || rhs AS merged, CAST(n AS BIGINT) AS pair_count FROM b$t"
        }.mkString("\n  UNION ALL ")
        s"SELECT * FROM ($rows) ORDER BY merge_rank"
      } else
        s"""SELECT dw.doc_id,${if (streamIncrement)
        "\n  CAST(CASE WHEN dw.doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS increment," else ""}
           |  CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(coalesce(len(w.syms), len(dw.word))) AS BIGINT) AS n_tokens
           |FROM toks dw LEFT JOIN w$k w USING (word)
           |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
    s"""WITH ${bpeCtes(k)}
       |$tail""".stripMargin
  }

  // -- vector-search oracle builders -------------------------------------
  // Composable CTEs for the DuckDB replay of Similarity's IVF route and
  // Pq's codebook / encode / ADC chain (m=8 subspaces × 8 dims, k=4
  // codes, 2 Lloyd iterations). Each gate chains them and keeps only its
  // own tail.

  /** Squared L2 of two DOUBLE lists: llm_random_projection, llm_rrf_fusion
    * and the PQ/IVF-PQ gates. */
  private def d2Sql(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
  private def l2Sql(a: String, b: String) = s"sqrt(${d2Sql(a, b)})"

  /** `v(vec_id, vv)`: embeddings as DOUBLE lists; every embedding gate's
    * first CTE. */
  private def vCte(table: String = "embeddings") =
    s"""v AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv FROM $table)""".stripMargin

  /** `assigned(vec_id, cluster_id)`: each `v` row's max-cosine `cent` row
    * (Similarity.ivfAssign); the IVF, near-dup and IVF-PQ gates. */
  private def assignedCte(materialized: Boolean = false) =
    s"""assigned AS${if (materialized) " MATERIALIZED" else ""} (SELECT vec_id, centroid_id AS cluster_id FROM (
       |  SELECT a.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY ${simSql("a.vv", "c.cv")} DESC, c.centroid_id) AS rn
       |  FROM v a CROSS JOIN cent c) WHERE rn = 1)""".stripMargin

  /** Coarse route over the fixed centroids vec_id < 8: llm_ann_ivf_topk,
    * llm_ann_recall and the four llm_ivfpq_* gates. */
  private def coarseRouteCtes(materialized: Boolean = false) =
    s"""cent AS (SELECT vec_id AS centroid_id, vv AS cv FROM v WHERE vec_id < 8),
       |${assignedCte(materialized)}""".stripMargin

  /** Similarity.nearDupPairs' route to the scaled centroids, ending in unit
    * vectors `cv(id_, uv, cluster_id)`: llm_embedding_neardup,
    * llm_semantic_dedup. */
  private val nearDupRouteCtes =
    s"""cent AS (SELECT vec_id AS centroid_id, vv AS cv FROM v
       |  WHERE $scaledCentroidSql),
       |${assignedCte()},
       |cv AS (SELECT v.vec_id AS id_,
       |    list_transform(v.vv, e -> e / sqrt(${dotSql("v.vv", "v.vv")})) AS uv,
       |    a.cluster_id
       |  FROM v JOIN assigned a ON v.vec_id = a.vec_id)""".stripMargin

  /** Pq.codebooks + encode over `src`: `sub` subvectors, `c0` seeds, two
    * decimal-exact Lloyd iterations to `c2`, and `codes0(vec_id, s, cid)`;
    * llm_pq_ann_topk and the four llm_ivfpq_* gates. */
  private def pqCodebookCtes(src: String = "v", materialized: Boolean = false): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, s, sv, cid FROM (
         |  SELECT b.vec_id, b.s, b.sv, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id, b.s
         |      ORDER BY ${d2Sql("b.sv", "c.cv")} ASC, c.cid) AS rn
         |  FROM sub b JOIN $cents c ON b.s = c.s) WHERE rn = 1)""".stripMargin
    def meanCtes(a: String, mm: String, cprev: String, c: String) =
      s"""$mm AS (SELECT s, cid, i,
         |    CAST(SUM(CAST(floor(sv[i] * 1073741824.0) AS DECIMAL(38,0))) AS DOUBLE)
         |      / count(*) / 1073741824.0 AS mu
         |  FROM $a, LATERAL (SELECT unnest(generate_series(1, len(sv))) AS i) u
         |  GROUP BY s, cid, i),
         |$c AS (SELECT p.s, p.cid, coalesce(n.cv, p.cv) AS cv
         |  FROM $cprev p LEFT JOIN
         |    (SELECT s, cid, list(mu ORDER BY i) AS cv FROM $mm GROUP BY s, cid) n
         |  ON p.s = n.s AND p.cid = n.cid)""".stripMargin
    s"""sub AS${if (materialized) " MATERIALIZED" else ""} (SELECT vec_id, s, list_slice(vv, s * 8 + 1, s * 8 + 8) AS sv
       |  FROM $src, LATERAL (SELECT unnest(range(0, 8)) AS s) u),
       |c0 AS (SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
       |    sv AS cv FROM sub
       |  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 4)),
       |${assignCte("a1", "c0")},
       |${meanCtes("a1", "m1", "c0", "c1")},
       |${assignCte("a2", "c1")},
       |${meanCtes("a2", "m2", "c1", "c2")},
       |codes0 AS (SELECT vec_id, s, cid FROM (
       |  SELECT b.vec_id, b.s, c.cid,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s
       |      ORDER BY ${d2Sql("b.sv", "c.cv")} ASC, c.cid) AS rn
       |  FROM sub b JOIN c2 c ON b.s = c.s) WHERE rn = 1)""".stripMargin
  }

  /** `codes(corpus_id, codes)`: one code list per raw vector;
    * llm_pq_ann_topk, llm_ivfpq_topk, llm_ivfpq_recall, llm_ivfpq_rerank. */
  private val pqCodesCte =
    """codes AS (SELECT vec_id AS corpus_id, list(cid ORDER BY s) AS codes
      |  FROM codes0 GROUP BY vec_id)""".stripMargin

  /** Query distance LUT `lut(query_id, luts)` for queries 10..14 (Pq.lutCol);
    * llm_pq_ann_topk, llm_ivfpq_topk, llm_ivfpq_recall, llm_ivfpq_rerank. */
  private val pqLutCtes =
    s"""qsub AS (SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id BETWEEN 10 AND 14),
       |lut0 AS (SELECT q.query_id, q.s, c.cid, ${d2Sql("q.sv", "c.cv")} AS dd
       |  FROM qsub q JOIN c2 c ON q.s = c.s),
       |lut1 AS (SELECT query_id, s, list(dd ORDER BY cid) AS l FROM lut0 GROUP BY query_id, s),
       |lut AS (SELECT query_id, list(l ORDER BY s) AS luts FROM lut1 GROUP BY query_id)""".stripMargin

  /** ADC fold of lut `q` over code list `c` (Pq.adcTopK's distance); every PQ
    * gate's scoring CTE. */
  private val adcSql =
    """list_reduce(list_transform(range(1, 9), s -> q.luts[s][c.codes[s] + 1]),
      |    (x, y) -> x + y)""".stripMargin

  // -- connected-components and shingle-verify oracle builders ------------

  /** Symmetric `edges` over the pair relation `pairs(id_a, id_b)`, then
    * `reach`/`comps(id, component)`: the recursive min-reachable-id fixpoint
    * (Dedup.connectedComponents) of every cluster gate. */
  private def componentsCtes(pairs: String) =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
       |          UNION SELECT id_b, id_a FROM $pairs),
       |reach AS (SELECT src AS id, src AS comp FROM edges
       |          UNION
       |          SELECT e.src, r.comp FROM edges e
       |          JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)""".stripMargin

  /** Each document's component label `assigned(doc_id, component)` and its
    * cluster size; llm_dedup_clusters, llm_image_phash_clusters,
    * llm_crossmodal_clusters, llm_crossmodal_4way. */
  private val componentSizeCtes =
    """assigned AS (SELECT d.doc_id,
      |    coalesce(c.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
      |sizes AS (SELECT component, count(*) AS cluster_size
      |  FROM assigned GROUP BY component)""".stripMargin

  /** Corpus accounting of a dedup run over `corpus`: labels `lbl`, then docs
    * in, docs kept, clustered docs and multi-doc clusters;
    * llm_dedup_pipeline, llm_dedup_pipeline_capped. */
  private def dedupAccountingSql(corpus: String) =
    s"""lbl AS (SELECT d.doc_id,
       |    coalesce(c.component, d.doc_id) AS component
       |  FROM $corpus d LEFT JOIN comps c ON c.id = d.doc_id),
       |csizes AS (SELECT component, count(*) AS cluster_size
       |  FROM lbl GROUP BY component)
       |SELECT count(*) AS n_docs,
       |  CAST(SUM(CASE WHEN l.doc_id = l.component THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN s.cluster_size > 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clustered_docs,
       |  count(DISTINCT CASE WHEN s.cluster_size > 1
       |    THEN l.component END) AS n_multi_clusters
       |FROM lbl l JOIN csizes s USING (component)""".stripMargin

  /** The documents table plus 40 clones of its min-doc_id document, through
    * the LSH chain to the oversized-bucket rep election `rp` (maxBucket 16,
    * reps 4); llm_lsh_skew_cap, llm_dedup_pipeline_capped. */
  private val skewedLshCtes =
    s"""corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(1000000 + r.i AS BIGINT) AS doc_id, b.text
       |  FROM range(1, 41) r(i) CROSS JOIN
       |    (SELECT text FROM documents ORDER BY doc_id LIMIT 1) b),
       |toks AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM corpus), $shCte,
       |$lshPairsCtes,
       |bsize AS (SELECT band, band_hash, count(*) AS n
       |  FROM bands GROUP BY band, band_hash),
       |bx AS (SELECT b.doc_id, b.band, b.band_hash, s.n > 16 AS oversized
       |  FROM bands b JOIN bsize s USING (band, band_hash) WHERE s.n > 1),
       |rp AS (SELECT band, band_hash, doc_id AS rep FROM (
       |    SELECT band, band_hash, doc_id,
       |      row_number() OVER (PARTITION BY band, band_hash
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM bx WHERE oversized) z WHERE rk <= 4)""".stripMargin

  /** The derived citation graph's candidate links `cand(src, dst)`;
    * llm_link_pagerank, llm_link_triangles. */
  private val linkCandCte =
    """cand AS (
      |  SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT ni FROM nn) AS dst
      |  FROM docs WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 17 + 3) % (SELECT ni FROM nn)
      |  FROM docs WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % (SELECT ni FROM nn)
      |  FROM docs WHERE doc_id % 11 <> 0 AND doc_id % 3 = 0)""".stripMargin

  /** Exact shingle Jaccard of each adjacent document pair (doc_id, doc_id +
    * 1); the whole oracle of llm_ngram_jaccard and llm_jaccard_arrays. */
  private val adjacentJaccardSql =
    s"""WITH $toksCte, $shCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
       |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.id_a
       |  JOIN sh y ON y.doc_id = p.id_b AND y.shingle = x.shingle
       |  GROUP BY p.id_a, p.id_b)
       |SELECT p.id_a, p.id_b,
       |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |    CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
       |FROM pairs p
       |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |JOIN sizes sa ON sa.doc_id = p.id_a
       |JOIN sizes sb ON sb.doc_id = p.id_b
       |ORDER BY p.id_a""".stripMargin

  /** Shingle-set `sizes` and per-pair intersections `inter(id_a, id_b,
    * n_inter)` over `pairs`: llm_containment_dedup, llm_minhash_est_check and
    * the dedup/curation pipelines. */
  private def shingleInterCtes(pairs: String) =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
       |  FROM $pairs p
       |  JOIN sh x ON x.doc_id = p.id_a
       |  JOIN sh y ON y.doc_id = p.id_b AND y.shingle = x.shingle
       |  GROUP BY p.id_a, p.id_b)""".stripMargin

  /** `shingleInterCtes` plus the exact-Jaccard ≥ 0.8 `verified` pairs;
    * llm_dedup_pipeline, llm_dedup_pipeline_capped, llm_curation_pipeline. */
  private def verifiedPairCtes(pairs: String) =
    s"""${shingleInterCtes(pairs)},
       |verified AS (SELECT i.id_a, i.id_b FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.id_a
       |  JOIN sizes sb ON sb.doc_id = i.id_b
       |  WHERE CAST(i.n_inter AS DOUBLE) /
       |    CAST(sa.n + sb.n - i.n_inter AS DOUBLE) >= 0.8)""".stripMargin

  /** The entity-resolution records, four per entity (seed = c_custkey
    * div 4): the md5-derived base name, one substituted char, one
    * appended char and one 4-char suffix. llm_entity_resolution and its
    * streaming twin st21 read these (`rec_id`, `name`); `entityRecsCtes`
    * is the DuckDB replay, ending at `recs`. */
  private[queries] def entityRecs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    T(s, dir, "customer").select(
      col("c_custkey").as("rec_id"),
      expr("""CASE CAST(c_custkey % 4 AS INT)
             |  WHEN 0 THEN substring(md5(CAST(c_custkey DIV 4 AS STRING)), 1, 8)
             |  WHEN 1 THEN concat(substring(md5(CAST(c_custkey DIV 4 AS STRING)), 1, 7), 'x')
             |  WHEN 2 THEN concat(substring(md5(CAST(c_custkey DIV 4 AS STRING)), 1, 8), '7')
             |  ELSE concat(substring(md5(CAST(c_custkey DIV 4 AS STRING)), 1, 8), 'zzzz')
             |END""".stripMargin).as("name"))

  private[queries] val entityRecsCtes =
    """h AS (SELECT c_custkey AS rec_id,
      |    substring(md5(CAST(c_custkey // 4 AS VARCHAR)), 1, 8) AS h8,
      |    c_custkey % 4 AS v
      |  FROM customer),
      |recs AS (SELECT rec_id,
      |    CASE v WHEN 0 THEN h8
      |      WHEN 1 THEN substring(h8, 1, 7) || 'x'
      |      WHEN 2 THEN h8 || '7'
      |      ELSE h8 || 'zzzz' END AS name
      |  FROM h)""".stripMargin

  /** Oracle for llm_lr_train / llm_lr_score: unrolls the 4 softsign-GD
    * iterations (Classifier.trainSoftsignGD) in chained CTEs. Gradients
    * accumulate fixed-point (floor(term·1e12) in DECIMAL(38,0)) — see
    * Classifier.scala for why round(term, 12) is not portable. */
  private def lrOracle(score: Boolean): String = {
    val dimA = 65 // 64 dims + intercept at index 1
    val eta = "4.0"
    val iters = 4
    def lrDot(x: String, w: String) =
      s"list_reduce(list_transform(range(1, $dimA + 1), i -> $x[i] * $w[i]), (a, t) -> a + t)"
    def iterCtes(t: Int) =
      s"""p$t AS (SELECT vec_id, x, y, cw,
         |    0.5 + 0.5 * z / (1.0 + abs(z)) AS p FROM (
         |    SELECT d.vec_id, d.x, d.y, d.cw, ${lrDot("d.x", "w.w")} AS z
         |    FROM d CROSS JOIN w${t - 1} w) z_),
         |r$t AS (SELECT vec_id, x,
         |    (p - y) * (CASE WHEN y = 1.0 THEN cw ELSE 1.0 END) AS r FROM p$t),
         |g$t AS (SELECT i,
         |    CAST(SUM(CAST(floor((r * x[i]) * 1000000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
         |      / 1000000000000.0 AS g
         |  FROM r$t, LATERAL (SELECT unnest(range(1, $dimA + 1)) AS i) u GROUP BY i),
         |w$t AS (SELECT (SELECT list(w.w[g.i] - $eta * (g.g / n.n) ORDER BY g.i)
         |    FROM g$t g CROSS JOIN w${t - 1} w CROSS JOIN nn n) AS w)""".stripMargin
    val train =
      s"""WITH base AS (SELECT vec_id,
         |  [1.0] || list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x,
         |  CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
         |  FROM embeddings),
         |cwq AS (SELECT CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS DOUBLE) /
         |               CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS cw FROM base),
         |d AS (SELECT b.vec_id, b.x, b.y, c.cw FROM base b CROSS JOIN cwq c),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
         |w0 AS (SELECT list_transform(range(1, $dimA + 1), i -> 0.0) AS w),
         |${(1 to iters).map(iterCtes).mkString(",\n")}""".stripMargin
    if (!score)
      train + s"""
         |SELECT CAST(i - 1 AS INT) AS feat_idx, w[i] AS weight
         |FROM w$iters, LATERAL (SELECT unnest(range(1, $dimA + 1)) AS i) u
         |ORDER BY feat_idx""".stripMargin
    else
      train + s""",
         |scored AS (SELECT z_.vec_id, z_.y, 0.5 + 0.5 * z / (1.0 + abs(z)) AS p FROM (
         |  SELECT d.vec_id, d.y, ${lrDot("d.x", "w.w")} AS z
         |  FROM d CROSS JOIN w$iters w) z_)
         |SELECT CAST(y AS INT) AS is_pos, count(*) AS n,
         |  CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos
         |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Sign-random-projection signatures re-derived end-to-end in SQL:
  // the ±1 hyperplanes come from the same md5 parity as
  // Similarity.hyperplaneSign, so the oracle verifies the full
  // derivation, not Scala-precomputed constants. Ends in
  // rps(vec_id, rp_sig). Parameterized on the source relation so the
  // capped gate can run the same derivation over a skew-injected corpus.
  private val rpsCtes: String = rpsCtesFor("embeddings")
  private def rpsCtesFor(table: String): String = {
    val odd = "('1','3','5','7','9','b','d','f')"
    s"""${vCte(table)},
       |hp AS (SELECT k, list_transform(range(0, 64), i ->
       |    CASE WHEN substring(md5(CAST(k AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
       |      IN $odd THEN 1.0 ELSE -1.0 END) AS h
       |  FROM (SELECT unnest(range(0, 16)) AS k)),
       |proj AS (SELECT v.vec_id, hp.k, ${dotSql("v.vv", "hp.h")} AS p
       |  FROM v CROSS JOIN hp),
       |rps AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN p >= 0 THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT)
       |      AS rp_sig
       |  FROM proj GROUP BY vec_id)""".stripMargin
  }

  val defs: Seq[(String, Q)] = Seq(

    // ----- dedup: exact ------------------------------------------------
    "llm_dedup_exact" -> Q((s, dir) =>
      Dedup.exactDedupSummary(T(s, dir, "documents"), Seq("text"), "doc_id")
        .select(md5(col("text")).as("text_md5"), col("keep_doc_id"), col("dup_count"))
        .orderBy("keep_doc_id"),
      Some("""SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin),
      bench = true),

    "llm_dedup_drop" -> Q((s, dir) =>
      Dedup.dropExactDuplicates(T(s, dir, "documents"), Seq("text"), "doc_id")
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
             |ORDER BY doc_id""".stripMargin)),

    "llm_dedup_norm" -> Q((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("norm_text", TextOps.normText(col("text")))
      Dedup.exactDedupSummary(docs, Seq("norm_text"), "doc_id")
        .select(md5(col("norm_text")).as("norm_md5"), col("keep_doc_id"), col("dup_count"))
        .orderBy("keep_doc_id")
    }, Some(s"""SELECT md5($normSql) AS norm_md5, MIN(doc_id) AS keep_doc_id,
               |  count(*) AS dup_count
               |FROM documents GROUP BY $normSql ORDER BY keep_doc_id""".stripMargin)),

    // ----- dedup: MinHash + LSH banded candidate pairs -----------------
    "llm_minhash_lsh_pairs" -> Q((s, dir) => {
      // Zero-shuffle signature path: per-document shingle arrays →
      // array_min projections; the bucket agg is the only heavy exchange.
      // The repartition spreads the CPU-bound signature stage (8 MD5s per
      // shingle) across all cores: the testdata corpus is a single small
      // parquet split, which would otherwise serialize the dominant stage
      // on one task. At real corpus scale the scan has thousands of
      // splits and the same spread comes free from the input format.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      Dedup.candidatePairs(bands, "doc_id").orderBy("id_a", "id_b")
    }, Some({
      s"""WITH $toksCte, $shCte,
         |$lshPairsCtes
         |SELECT id_a, id_b FROM lsh_pairs
         |ORDER BY id_a, id_b""".stripMargin
    }), bench = true),

    "llm_lsh_skew_cap" -> Q((s, dir) => {
      // Hot-bucket skew cap (Dedup.candidatePairsCapped): pathological
      // corpus DERIVED identically in both engines — the documents table
      // plus 40 clones of its min-doc_id document (ids 1000000+i), which
      // collide in every LSH band and form one hot bucket well over the
      // maxBucket=16 cap. Oversized buckets emit only member↔rep star
      // pairs (reps=4, md5-order election), so the 41-doc bucket yields
      // O(n·reps) pairs instead of n(n−1)/2, each flagged capped=true;
      // ordinary buckets keep the exact candidatePairs expansion with
      // capped=false. The oracle replicates election and star expansion.
      val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val boiler = base.orderBy("doc_id").limit(1)
      val clones = s.range(1, 41).crossJoin(boiler)
        .select((col("id") + lit(1000000L)).as("doc_id"), col("text"))
      val corpus = Registry.spread(base.unionByName(clones))
      val sh = Dedup.shingleArray(corpus, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 16, reps = 4)
        .orderBy("id_a", "id_b")
    }, Some({
      s"""WITH $skewedLshCtes,
         |small_pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, false AS c
         |  FROM bx x JOIN bx y ON x.band = y.band AND x.band_hash = y.band_hash
         |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
         |big_pairs AS (SELECT least(m.doc_id, r.rep) AS id_a,
         |    greatest(m.doc_id, r.rep) AS id_b, true AS c
         |  FROM bx m JOIN rp r ON m.band = r.band AND m.band_hash = r.band_hash
         |  WHERE m.oversized AND m.doc_id <> r.rep),
         |cp AS (SELECT id_a, id_b, bool_and(c) AS capped
         |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs) u
         |  GROUP BY id_a, id_b)
         |SELECT id_a, id_b, capped FROM cp ORDER BY id_a, id_b""".stripMargin
    })),

    // ----- dedup: clusters + canonical pick ----------------------------
    "llm_dedup_clusters" -> Q((s, dir) => {
      // LSH candidate pairs → connected components (iterative min-label
      // propagation, Dedup.connectedComponents) → every document labeled
      // with its duplicate-cluster id, canonical flag, and cluster size.
      // The oracle recomputes the same components with a recursive CTE —
      // a fully independent fixpoint formulation of min-reachable-id.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      val pairs = Dedup.candidatePairs(bands, "doc_id")
      Dedup.dedupClusters(T(s, dir, "documents"), "doc_id", pairs)
        .orderBy("doc_id")
    }, Some(s"""WITH RECURSIVE $toksCte, $shCte,
               |$lshPairsCtes,
               |${componentsCtes("lsh_pairs")},
               |$componentSizeCtes
               |SELECT a.doc_id, a.component,
               |  a.doc_id = a.component AS is_canonical, s.cluster_size
               |FROM assigned a JOIN sizes s USING (component)
               |ORDER BY a.doc_id""".stripMargin), bench = true),

    "llm_label_propagation" -> Q((s, dir) => {
      // Semi-supervised label smoothing (Dedup.propagateLabels): each
      // near-dup component votes on its majority label (here a simple
      // long-doc flag); `flipped` marks docs whose own label loses the
      // vote — the annotation-noise audit list. One component-keyed agg
      // + join on top of the cluster build.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      val pairs = Dedup.candidatePairs(bands, "doc_id")
      Dedup.propagateLabels(
          T(s, dir, "documents").withColumn("is_long", col("n_chars") >= 300),
          "doc_id", "is_long", pairs)
        .orderBy("doc_id")
    }, Some(s"""WITH RECURSIVE $toksCte, $shCte,
               |$lshPairsCtes,
               |${componentsCtes("lsh_pairs")},
               |assigned AS (SELECT d.doc_id,
               |    coalesce(c.component, d.doc_id) AS component,
               |    CAST(CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS INT) AS own_label
               |  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
               |sizes AS (SELECT component, count(*) AS cluster_size
               |  FROM assigned GROUP BY component),
               |tot AS (SELECT component, count(*) AS n, SUM(own_label) AS pos
               |  FROM assigned GROUP BY component)
               |SELECT a.doc_id, a.component, s.cluster_size, a.own_label,
               |  CAST(CASE WHEN t.pos * 2 > t.n THEN 1 ELSE 0 END AS INT) AS majority_label,
               |  a.own_label <> CASE WHEN t.pos * 2 > t.n THEN 1 ELSE 0 END AS flipped
               |FROM assigned a JOIN sizes s USING (component)
               |JOIN tot t USING (component)
               |ORDER BY a.doc_id""".stripMargin)),

    "llm_cluster_split" -> Q((s, dir) => {
      // Leak-free train/val/test: the split is a pure function of the
      // duplicate-CLUSTER id, not the document id, so near-duplicates
      // can never straddle train and test — the leakage channel that
      // per-document hash splits leave open and that eval
      // decontamination alone does not close. Pure composition of
      // existing operators (LSH pairs → components → hash-bucket
      // split); the only cost over a plain split is the cluster build.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      val pairs = Dedup.candidatePairs(bands, "doc_id")
      val clustered = Dedup.dedupClusters(T(s, dir, "documents"), "doc_id", pairs)
        .select("doc_id", "component")
      Splits.assignSplits(clustered, "component").orderBy("doc_id")
    }, Some(s"""WITH RECURSIVE $toksCte, $shCte,
               |$lshPairsCtes,
               |${componentsCtes("lsh_pairs")},
               |assigned AS (SELECT d.doc_id,
               |    coalesce(c.component, d.doc_id) AS component
               |  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
               |SELECT doc_id, component,
               |  CASE WHEN bucket < 8000 THEN 'train'
               |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
               |FROM (SELECT doc_id, component,
               |    ('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT
               |      % 10000 AS bucket
               |  FROM assigned)
               |ORDER BY doc_id""".stripMargin)),

    // ----- dedup: incremental (new batch vs standing corpus) -----------
    "llm_dedup_incremental" -> Q((s, dir) => {
      // Daily-ingest exact dedup: new docs (id >= 250) whose normalized
      // text already exists in the standing corpus (id < 250) are
      // dropped by ONE anti-join — the corpus never rescans itself.
      val docs = T(s, dir, "documents")
        .withColumn("norm_text", TextOps.normText(col("text")))
      val survivors = Dedup.dropExistingExact(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250), Seq("norm_text"))
      survivors.select("doc_id").orderBy("doc_id")
    }, Some(s"""SELECT doc_id FROM documents
               |WHERE doc_id >= 250 AND $normSql NOT IN
               |  (SELECT $normSql FROM documents WHERE doc_id < 250)
               |ORDER BY doc_id""".stripMargin)),

    "llm_dedup_incremental_lsh" -> Q((s, dir) => {
      // Incremental NEAR-dup: the new batch's LSH bands equi-join the
      // corpus's standing band index — only new×corpus collisions are
      // generated, never corpus×corpus. Oracle: the full-corpus pair set
      // filtered to cross-boundary pairs must be identical.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      Dedup.candidatePairsAcross(
        bands.filter(col("doc_id") >= 250),
        bands.filter(col("doc_id") < 250), "doc_id")
        .orderBy("id_new", "id_corpus")
    }, Some(s"""WITH $toksCte, $shCte,
               |$lshPairsCtes
               |SELECT id_b AS id_new, id_a AS id_corpus FROM lsh_pairs
               |WHERE id_a < 250 AND id_b >= 250
               |ORDER BY id_new, id_corpus""".stripMargin)),

    // ----- dedup: SimHash ----------------------------------------------
    "llm_simhash" -> Q((s, dir) =>
      Dedup.simhash(T(s, dir, "documents"), "doc_id", "text", 16).orderBy("doc_id"),
      Some(s"""WITH $toksCte, $simhashCtes
              |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin)),

    "llm_simhash_hamming" -> Q((s, dir) => {
      // SimHash near-dup VERIFICATION: candidate pairs scored by Hamming
      // distance = bit_count(xor) — both built-ins, fully codegen'd, so
      // the verify step is a projection on the joined pair. (At scale
      // the signature frame is computed once and the pairs come from
      // LSH/banding; the consecutive-id pairing here keeps the gate
      // deterministic.) threshold 3 of 16 bits flags near-dups.
      val sh = Dedup.simhash(T(s, dir, "documents"), "doc_id", "text", 16)
      val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sh.select((col("doc_id") - 1).as("id_a"), col("simhash").as("sh_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("sh_a"), col("sh_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"),
          (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3).as("near_dup"))
        .orderBy("id_a")
    }, Some(s"""WITH $toksCte, $simhashCtes
               |SELECT a.doc_id AS id_a, a.simhash AS sh_a, b.simhash AS sh_b,
               |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
               |  bit_count(xor(a.simhash, b.simhash)) <= 3 AS near_dup
               |FROM sims a JOIN sims b ON b.doc_id = a.doc_id + 1
               |ORDER BY id_a""".stripMargin)),

    // ----- dedup: n-gram Jaccard verification --------------------------
    "llm_ngram_jaccard" -> Q((s, dir) => {
      val docs = T(s, dir, "documents")
      val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      val pairs = docs.select(col("doc_id").as("id_a")).alias("a")
        .join(docs.select(col("doc_id").as("id_b")).alias("b"),
          col("b.id_b") === col("a.id_a") + 1)
      Dedup.jaccardPairs(sh, "doc_id", pairs.select("id_a", "id_b")).orderBy("id_a")
    }, Some(adjacentJaccardSql), bench = true),

    "llm_jaccard_arrays" -> Q((s, dir) => {
      // Same pairs and same Jaccard as llm_ngram_jaccard, but through the
      // array path: per-doc sorted shingle arrays + the fused codegen'd
      // SortedJaccard merge-scan (plans/SortedJaccard) — no shingle
      // explode, no per-pair groupBy. The oracle is the exploded SQL
      // formulation: two independent computations of the same number.
      val docs = T(s, dir, "documents")
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val pairs = docs.select(col("doc_id").as("id_a")).alias("a")
        .join(docs.select(col("doc_id").as("id_b")).alias("b"),
          col("b.id_b") === col("a.id_a") + 1)
      Dedup.jaccardPairsFromArrays(sh, "doc_id", pairs.select("id_a", "id_b"))
        .orderBy("id_a")
    }, Some(adjacentJaccardSql), bench = true),

    // ----- text analysis -----------------------------------------------
    "llm_text_stats" -> Q((s, dir) =>
      TextOps.textStats(T(s, dir, "documents").select("doc_id", "text"))
        .drop("text").orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  length(text) AS n_chars,
              |  len(string_split($normSql, ' ')) AS n_tokens,
              |  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
              |  len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it)\\b'))
              |    AS n_stopwords,
              |  CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it)\\b'))
              |    AS DOUBLE) / NULLIF(CAST(len(string_split($normSql, ' ')) AS DOUBLE), 0)
              |    AS stopword_ratio,
              |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
              |    NULLIF(CAST(length(text) AS DOUBLE), 0) AS punct_ratio,
              |  len(string_split($normSql, ' ')) BETWEEN 5 AND 100000 AS len_ok
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_tfidf_topterms" -> Q((s, dir) => {
      // TF-IDF top-3 salient terms per document (TextOps.tfidfTopTerms):
      // one lineage pass, window-based document frequency (no self-join
      // re-running the explode), deterministic (tfidf desc, term) rank.
      // Scores round to 4 decimals on both sides; equal (tf, df) pairs
      // give bit-identical scores, so ranks agree across engines.
      val docs = T(s, dir, "documents")
      val n = docs.count()
      TextOps.tfidfTopTerms(docs.select("doc_id", "text"), "doc_id", "text", n, 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 4).as("tfidf"), col("rnk"))
        .orderBy("doc_id", "rnk")
    }, Some(s"""WITH $toksCte,
               |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
               |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
               |  WHERE term <> '' GROUP BY doc_id, term),
               |wdf AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
               |scored AS (SELECT doc_id, term, tf, df,
               |    tf * ln((SELECT count(*) FROM documents) / df) AS tfidf FROM wdf),
               |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               |    ORDER BY tfidf DESC, term) AS rnk FROM scored)
               |SELECT doc_id, term, tf, CAST(df AS BIGINT) AS df,
               |  round(tfidf, 4) AS tfidf, CAST(rnk AS INT) AS rnk
               |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
      ), bench = true),

    "llm_repetition_filter" -> Q((s, dir) =>
      // Gopher-style repetition signals (TextOps.repetitionStats):
      // top-2-gram dominance + duplicate-gram fraction per doc. Exact
      // fractions of exact integer counts — engine-identical doubles.
      TextOps.repetitionStats(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |g2 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |    ELSE [array_to_string(t, ' ')] END) AS g FROM toks),
              |pg AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
              |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
              |    MAX(cnt) AS top_cnt, count(*) AS n_distinct
              |  FROM pg GROUP BY doc_id)
              |SELECT doc_id, n_grams,
              |  CAST(top_cnt AS DOUBLE) / n_grams AS top_gram_frac,
              |  CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_gram_frac,
              |  CAST(top_cnt AS DOUBLE) / n_grams <= 0.2 AND
              |    CAST(n_grams - n_distinct AS DOUBLE) / n_grams <= 0.5
              |    AS repetition_ok
              |FROM agg ORDER BY doc_id""".stripMargin)),

    "llm_pii_redact" -> Q((s, dir) =>
      // PII redaction (TextOps.redactPii) over text with DETERMINISTIC
      // injected PII (the synthetic corpus has none), so the regexes do
      // real work on both engines. Both patterns sit in the dialect-
      // portable regex subset.
      T(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          TextOps.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-123-4567"))).as("redacted"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(
             |      text || ' contact user' || CAST(doc_id AS VARCHAR)
             |        || '@example.com or 555-123-4567',
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g'),
             |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
             |FROM documents WHERE doc_id % 7 = 0
             |ORDER BY doc_id""".stripMargin)),

    "llm_posexplode_tokens" -> Q((s, dir) =>
      // Positional explode — the order-aware generator (SURVEY §2.10:
      // the reference's only generator is the date spine; position-
      // encoded tokens are the training-data sibling). Narrow op.
      T(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos"),
      Some(s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS t
              |    FROM documents WHERE doc_id % 10 = 0)
              |SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, t[u.i] AS token
              |FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u
              |ORDER BY doc_id, pos""".stripMargin)),

    "llm_lang_id" -> Q((s, dir) =>
      TextOps.langId(T(s, dir, "documents").select("doc_id", "lang", "text"))
        .drop("text").orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
             |  len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS score_en,
             |  len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) AS score_de,
             |  len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) AS score_fr,
             |  len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) AS score_es,
             |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS score_zh,
             |  CASE
             |    WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
             |    WHEN len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >
             |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b'))
             |      THEN 'de'
             |    WHEN len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >
             |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b'))
             |      THEN 'fr'
             |    WHEN len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >
             |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b'))
             |     AND len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b'))
             |      THEN 'es'
             |    ELSE 'en' END AS predicted_lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_langid_eval" -> Q((s, dir) => {
      // Classifier EVALUATION harness: confusion counts of the language
      // identifier against the corpus labels plus per-language recall —
      // the eval loop a training-data pipeline runs after any heuristic
      // filter change. One extra aggregate over the existing langId
      // projection.
      val pred = TextOps.langId(T(s, dir, "documents").select("doc_id", "lang", "text"))
        .select(col("lang"), col("predicted_lang"))
      pred.groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang")
    }, Some("""SELECT lang, CASE
              |    WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
              |    WHEN len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >
              |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b'))
              |      THEN 'de'
              |    WHEN len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >
              |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b'))
              |      THEN 'fr'
              |    WHEN len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >
              |           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das|nicht)\b'))
              |     AND len(regexp_extract_all(lower(text), '\b(el|los|y|es|una|que)\b')) >=
              |           len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|une)\b'))
              |      THEN 'es'
              |    ELSE 'en' END AS predicted_lang, count(*) AS n
              |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin)),

    "llm_token_counts" -> Q((s, dir) =>
      TextOps.tokenCounts(T(s, dir, "documents").select("doc_id", "text"))
        .drop("text").orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  len(string_split($normSql, ' ')) AS ws_tokens,
              |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_fingerprint" -> Q((s, dir) =>
      TextOps.fingerprint(T(s, dir, "documents").select("doc_id", "text"))
        .drop("text").orderBy("doc_id"),
      Some(s"""WITH $toksCte
              |SELECT d.doc_id,
              |  md5($normSql) AS content_md5,
              |  list_min(list_transform(t.t, x -> md5(x))) AS min_token_hash,
              |  list_reduce(list_prepend('graftseed', t.t),
              |    (acc, x) -> md5(concat(acc, x))) AS rolling_hash
              |FROM documents d JOIN toks t ON d.doc_id = t.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // ----- similarity search -------------------------------------------
    "llm_cosine_topk" -> Q((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 10),
         |pairs AS (
         |  SELECT q.query_id, c.vec_id AS corpus_id, ${simSql("q.qv", "c.vv")} AS sim
         |  FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id)
         |SELECT query_id, corpus_id, sim, rank FROM (
         |  SELECT query_id, corpus_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM pairs)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_ann_ivf_topk" -> Q((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id").between(10, 14)),
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |${coarseRouteCtes()},
         |corpus AS (SELECT v.vec_id AS corpus_id, v.vv AS cv, a.cluster_id
         |  FROM v JOIN assigned a ON v.vec_id = a.vec_id),
         |queries AS (SELECT v.vec_id AS query_id, v.vv AS qv, a.cluster_id
         |  FROM v JOIN assigned a ON v.vec_id = a.vec_id
         |  WHERE v.vec_id BETWEEN 10 AND 14),
         |pairs AS (
         |  SELECT q.query_id, c.corpus_id, q.cluster_id, ${simSql("q.qv", "c.cv")} AS sim
         |  FROM corpus c JOIN queries q ON c.cluster_id = q.cluster_id
         |  WHERE c.corpus_id <> q.query_id)
         |SELECT query_id, corpus_id, cluster_id, sim, rank FROM (
         |  SELECT query_id, corpus_id, cluster_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM pairs)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_ann_recall" -> Q((s, dir) => {
      // Eval of the approximation: recall@3 of IVF against brute-force
      // ground truth, per query. The join of the two top-k sets is tiny
      // (k rows per query); the oracle recomputes BOTH retrievals and
      // the recall independently in DuckDB.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id").between(10, 14))
      val exact = Similarity
        .bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
        .select("query_id", "corpus_id")
      val approx = Similarity
        .ivfTopK(emb, queries, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 3)
        .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
      exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
        .withColumn("recall_at_3", col("n_hits") / 3.0)
        .orderBy("query_id")
    }, Some({
      s"""WITH ${vCte()},
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v
         |  WHERE vec_id BETWEEN 10 AND 14),
         |bf_pairs AS (
         |  SELECT q.query_id, c.vec_id AS corpus_id, ${simSql("q.qv", "c.vv")} AS sim
         |  FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |exact AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM bf_pairs) WHERE rank <= 3),
         |${coarseRouteCtes()},
         |corpus AS (SELECT v.vec_id AS corpus_id, v.vv AS cv, a.cluster_id
         |  FROM v JOIN assigned a ON v.vec_id = a.vec_id),
         |queries2 AS (SELECT v.vec_id AS query_id, v.vv AS qv, a.cluster_id
         |  FROM v JOIN assigned a ON v.vec_id = a.vec_id
         |  WHERE v.vec_id BETWEEN 10 AND 14),
         |ivf_pairs AS (
         |  SELECT q.query_id, c.corpus_id, ${simSql("q.qv", "c.cv")} AS sim
         |  FROM corpus c JOIN queries2 q ON c.cluster_id = q.cluster_id
         |  WHERE c.corpus_id <> q.query_id),
         |approx AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM ivf_pairs) WHERE rank <= 3)
         |SELECT e.query_id, CAST(count(a.corpus_id) AS INT) AS n_hits,
         |  CAST(count(a.corpus_id) AS INT) / 3.0 AS recall_at_3
         |FROM exact e LEFT JOIN approx a
         |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })),

    "llm_kmeans_ivf_build" -> Q((s, dir) => {
      // IVF index BUILD: two Lloyd iterations in DataFrame algebra
      // (Similarity.kmeansCentroids — decimal-exact means make the
      // build run-reproducible), then a final assignment. The oracle
      // unrolls the same two iterations in SQL. Output: per-cluster
      // membership + the first two centroid components.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2)
      val assigned = Similarity.ivfAssign(emb,
        cents.select(col("cluster_id").as("vec_id"), col("centroid").as("embedding")),
        "vec_id", "embedding")
      assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .join(cents, "cluster_id")
        .select(col("cluster_id"), col("n_members"),
          round(element_at(col("centroid"), 1), 8).as("c_dim0"),
          round(element_at(col("centroid"), 2), 8).as("c_dim1"))
        .orderBy("cluster_id")
    }, Some({
      def assignCte(name: String, cents: String) =
        s"""$name AS (SELECT vec_id, cid, vv FROM (
           |  SELECT a.vec_id, c.cid, a.vv,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY ${simSql("a.vv", "c.cv")} DESC, c.cid) AS rn
           |  FROM v a CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
      def meanCtes(a: String, m: String, c: String) =
        s"""$m AS (SELECT cid, i,
           |    CAST(SUM(CAST(vv[i] AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |  FROM $a, LATERAL (SELECT unnest(generate_series(1, len(vv))) AS i) u
           |  GROUP BY cid, i),
           |$c AS (SELECT cid, list(m ORDER BY i) AS cv FROM $m GROUP BY cid)""".stripMargin
      s"""WITH ${vCte()},
         |c0 AS (SELECT vec_id AS cid, vv AS cv FROM v ORDER BY vec_id LIMIT 4),
         |${assignCte("a1", "c0")},
         |${meanCtes("a1", "m1", "c1")},
         |${assignCte("a2", "c1")},
         |${meanCtes("a2", "m2", "c2")},
         |${assignCte("a3", "c2")},
         |sizes AS (SELECT cid, count(*) AS n_members FROM a3 GROUP BY cid)
         |SELECT s.cid AS cluster_id, s.n_members,
         |  round(c2.cv[1], 8) AS c_dim0, round(c2.cv[2], 8) AS c_dim1
         |FROM sizes s JOIN c2 ON s.cid = c2.cid
         |ORDER BY cluster_id""".stripMargin
    })),

    "llm_embedding_neardup" -> Q((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.nearDupPairs(emb, scaledCentroids(emb),
        "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"), col("cluster_id"))
        .orderBy("id_a", "id_b")
    }, Some({
      s"""WITH ${vCte()},
         |$nearDupRouteCtes
         |SELECT x.id_ AS id_a, y.id_ AS id_b, x.cluster_id
         |FROM cv x JOIN cv y ON x.cluster_id = y.cluster_id
         |WHERE x.id_ < y.id_ AND ${dotSql("x.uv", "y.uv")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin
    })),

    "llm_pq_ann_topk" -> Q((s, dir) => {
      // Product quantization ADC search (Pq.scala): m=8 subspaces × 8
      // dims over the dim-64 embeddings, k=4 Lloyd centroids per
      // subspace (2 iterations, decimal-exact means), corpus encoded to
      // 8 codes, queries score candidates through a broadcast distance
      // LUT. The oracle replays the ENTIRE derivation — codebook build,
      // encode, LUT, fold — in SQL over the same parquet.
      val emb = T(s, dir, "embeddings")
      val cb = Pq.codebooks(emb, "vec_id", "embedding", m = 8, subDim = 8, k = 4, iters = 2)
      Pq.adcTopK(emb, emb.filter(col("vec_id").between(10, 14)), cb,
        "vec_id", "embedding", m = 8, subDim = 8, kTop = 3)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |${pqCodebookCtes()},
         |$pqCodesCte,
         |$pqLutCtes,
         |scored AS (SELECT q.query_id, c.corpus_id,
         |  $adcSql AS approx_d2
         |  FROM codes c CROSS JOIN lut q WHERE c.corpus_id <> q.query_id)
         |SELECT query_id, corpus_id, approx_d2, rank FROM (
         |  SELECT query_id, corpus_id, approx_d2,
         |    row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, corpus_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_ivfpq_topk" -> Q((s, dir) => {
      // IVF-PQ composed index (Pq.ivfPqTopK — the FAISS IVFPQ shape):
      // coarse max-cosine routing to fixed centroids (vec_id < 8), PQ
      // codes (m=8 × k=4, 2 Lloyd iters) ADC-scored ONLY inside the
      // query's own cluster through the broadcast LUT. The oracle
      // replays codebook build + encode + assign + LUT + fold.
      val emb = T(s, dir, "embeddings")
      val cb = Pq.codebooks(emb, "vec_id", "embedding", m = 8, subDim = 8, k = 4, iters = 2)
      Pq.ivfPqTopK(emb, emb.filter(col("vec_id").between(10, 14)),
          emb.filter(col("vec_id") < 8), cb,
          "vec_id", "embedding", m = 8, subDim = 8, kTop = 3)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |${pqCodebookCtes()},
         |$pqCodesCte,
         |${coarseRouteCtes()},
         |$pqLutCtes,
         |scored AS (SELECT q.query_id, c.corpus_id, qa.cluster_id,
         |  $adcSql AS approx_d2
         |  FROM codes c
         |  JOIN assigned ca ON ca.vec_id = c.corpus_id
         |  JOIN lut q ON TRUE
         |  JOIN assigned qa ON qa.vec_id = q.query_id
         |    AND qa.cluster_id = ca.cluster_id
         |  WHERE c.corpus_id <> q.query_id)
         |SELECT query_id, corpus_id, cluster_id, approx_d2, rank FROM (
         |  SELECT query_id, corpus_id, cluster_id, approx_d2,
         |    row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, corpus_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_ivfpq_recall" -> Q((s, dir) => {
      // Multi-probe recall gate: IVFPQ recall@3 against EXACT-L2 ground
      // truth at nprobe=1 vs nprobe=3 (Pq.ivfPqTopK's recall knob via
      // Similarity.ivfAssignMulti). Probing the 3 nearest clusters
      // recovers routing loss — neighbors across a Voronoi boundary —
      // which single-probe structurally cannot see; the two-row output
      // carries the uplift. The oracle replays the full PQ chain plus
      // the probed routing and both recall computations.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id").between(10, 14))
      val cents = emb.filter(col("vec_id") < 8)
      val cb = Pq.codebooks(emb, "vec_id", "embedding", m = 8, subDim = 8, k = 4, iters = 2)
      val v = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vv"))
      val q = v.filter(col("vec_id").between(10, 14))
        .select(col("vec_id").as("query_id"), col("vv").as("qv"))
      val wexact = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d2").asc, col("corpus_id"))
      val exact = v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("corpus_id"),
          Pq.l2sq(col("vv"), col("qv")).as("d2"))
        .withColumn("rank", row_number().over(wexact))
        .filter(col("rank") <= 3)
        .select("query_id", "corpus_id")
      val runs = Seq(1, 3).map { p =>
        val approx = Pq.ivfPqTopK(emb, queries, cents, cb,
            "vec_id", "embedding", m = 8, subDim = 8, kTop = 3, nprobe = p)
          .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
        exact.join(approx, Seq("query_id", "corpus_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
          .select(lit(p).as("nprobe"), col("n_hits"),
            (col("n_hits") / lit(15.0)).as("recall_at_3"))
      }
      runs.reduce(_ unionByName _).orderBy("nprobe")
    }, Some({
      val sim = simSql("a.vv", "c.cv")
      def probeCtes(p: Int) =
        s"""scored$p AS (SELECT q.query_id, c.corpus_id,
           |  $adcSql AS approx_d2
           |  FROM codes c
           |  JOIN assigned ca ON ca.vec_id = c.corpus_id
           |  JOIN qassign qa ON qa.cluster_id = ca.cluster_id AND qa.rn <= $p
           |  JOIN lut q ON q.query_id = qa.query_id
           |  WHERE c.corpus_id <> q.query_id),
           |top$p AS (SELECT query_id, corpus_id FROM (
           |  SELECT query_id, corpus_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY approx_d2 ASC, corpus_id) AS rank
           |  FROM scored$p) WHERE rank <= 3),
           |rec$p AS (SELECT $p AS nprobe, CAST(count(t.corpus_id) AS INT) AS n_hits,
           |  CAST(count(t.corpus_id) AS INT) / 15.0 AS recall_at_3
           |  FROM exactl2 e LEFT JOIN top$p t
           |    ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH ${vCte()},
         |${pqCodebookCtes()},
         |$pqCodesCte,
         |${coarseRouteCtes()},
         |qassign AS (SELECT query_id, cluster_id, rn FROM (
         |  SELECT a.vec_id AS query_id, c.centroid_id AS cluster_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY $sim DESC, c.centroid_id) AS rn
         |  FROM v a CROSS JOIN cent c WHERE a.vec_id BETWEEN 10 AND 14) WHERE rn <= 3),
         |qv AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id BETWEEN 10 AND 14),
         |exactl2 AS (SELECT query_id, corpus_id FROM (
         |  SELECT q.query_id, c.vec_id AS corpus_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${d2Sql("q.qv", "c.vv")} ASC, c.vec_id) AS rank
         |  FROM v c CROSS JOIN qv q WHERE c.vec_id <> q.query_id) WHERE rank <= 3),
         |$pqLutCtes,
         |${probeCtes(1)},
         |${probeCtes(3)}
         |SELECT * FROM rec1 UNION ALL SELECT * FROM rec3 ORDER BY nprobe""".stripMargin
    })),

    "llm_ivfpq_residual_topk" -> Q((s, dir) => {
      // RESIDUAL-encoded IVF-PQ (Pq.ivfPqResidualTopK) — the fidelity
      // FAISS's IVFPQ actually ships: codes quantize x − c(cluster)
      // instead of x, and the query LUT is built on q − c of the SAME
      // probed centroid, so ADC approximates ‖q − (c + r̂)‖². The
      // codebooks train on residuals (same integer-grid Lloyd means),
      // the LUT is per (query, probed cluster), and the oracle replays
      // the entire chain — coarse assign, residual subtraction,
      // residual codebook build, encode, per-cluster LUT, fold — so a
      // raw-vector-codes implementation (ivfpq_topk's spelling) or a
      // query-side residual against the wrong centroid diverges.
      val emb = T(s, dir, "embeddings")
      Pq.ivfPqResidualTopK(emb, emb.filter(col("vec_id").between(10, 14)),
          emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", m = 8, subDim = 8, k = 4, iters = 2, kTop = 3)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |${coarseRouteCtes(materialized = true)},
         |rv AS MATERIALIZED (SELECT a.vec_id, a.cluster_id,
         |    list_transform(range(1, len(x.vv) + 1), i -> x.vv[i] - c.cv[i]) AS vv
         |  FROM assigned a JOIN v x ON x.vec_id = a.vec_id
         |  JOIN cent c ON c.centroid_id = a.cluster_id),
         |${pqCodebookCtes("rv", materialized = true)},
         |codes AS (SELECT z.vec_id AS corpus_id, a.cluster_id,
         |    list(z.cid ORDER BY z.s) AS codes
         |  FROM codes0 z JOIN assigned a ON a.vec_id = z.vec_id
         |  GROUP BY z.vec_id, a.cluster_id),
         |qrv AS (SELECT a.vec_id AS query_id, a.cluster_id,
         |    list_transform(range(1, len(x.vv) + 1), i -> x.vv[i] - c.cv[i]) AS qv
         |  FROM assigned a JOIN v x ON x.vec_id = a.vec_id
         |  JOIN cent c ON c.centroid_id = a.cluster_id
         |  WHERE a.vec_id BETWEEN 10 AND 14),
         |qsub AS (SELECT query_id, cluster_id, s,
         |    list_slice(qv, s * 8 + 1, s * 8 + 8) AS sv
         |  FROM qrv, LATERAL (SELECT unnest(range(0, 8)) AS s) u),
         |lut0 AS (SELECT q.query_id, q.cluster_id, q.s, c.cid,
         |    ${d2Sql("q.sv", "c.cv")} AS dd
         |  FROM qsub q JOIN c2 c ON q.s = c.s),
         |lut1 AS (SELECT query_id, cluster_id, s, list(dd ORDER BY cid) AS l
         |  FROM lut0 GROUP BY query_id, cluster_id, s),
         |lut AS (SELECT query_id, cluster_id, list(l ORDER BY s) AS luts
         |  FROM lut1 GROUP BY query_id, cluster_id),
         |scored AS (SELECT q.query_id, c.corpus_id, c.cluster_id,
         |  $adcSql AS approx_d2
         |  FROM codes c JOIN lut q ON q.cluster_id = c.cluster_id
         |  WHERE c.corpus_id <> q.query_id)
         |SELECT query_id, corpus_id, cluster_id, approx_d2,
         |  CAST(rank AS INT) AS rank
         |FROM (SELECT query_id, corpus_id, cluster_id, approx_d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_d2 ASC, corpus_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_ivfpq_rerank" -> Q((s, dir) => {
      // ADC shortlist → EXACT rerank (Pq.ivfPqRerank — FAISS's refine
      // stage): the compressed codes shortlist 9 candidates per query,
      // then ONLY those 9 raw vectors are read back for an exact
      // squared-L2 rerank to the final top-3. The output carries
      // approx_rank next to the exact rank, so the reorder the rerank
      // performed — quantization error being bought back — is part of
      // the verified result, and a pass-through implementation (final
      // order = ADC order) diverges wherever the code-space and exact
      // orders disagree. The oracle replays codebook build + encode +
      // assign + LUT + shortlist + the exact rerank fold.
      val emb = T(s, dir, "embeddings")
      val cb = Pq.codebooks(emb, "vec_id", "embedding", m = 8, subDim = 8, k = 4, iters = 2)
      Pq.ivfPqRerank(emb, emb.filter(col("vec_id").between(10, 14)),
          emb.filter(col("vec_id") < 8), cb,
          "vec_id", "embedding", m = 8, subDim = 8, kTop = 3, shortlist = 9)
        .orderBy("query_id", "rank")
    }, Some({
      s"""WITH ${vCte()},
         |${pqCodebookCtes()},
         |$pqCodesCte,
         |${coarseRouteCtes()},
         |$pqLutCtes,
         |scored AS (SELECT q.query_id, c.corpus_id,
         |  $adcSql AS approx_d2
         |  FROM codes c
         |  JOIN assigned ca ON ca.vec_id = c.corpus_id
         |  JOIN lut q ON TRUE
         |  JOIN assigned qa ON qa.vec_id = q.query_id
         |    AND qa.cluster_id = ca.cluster_id
         |  WHERE c.corpus_id <> q.query_id),
         |short AS (SELECT query_id, corpus_id, CAST(rank AS INT) AS approx_rank FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, corpus_id) AS rank
         |  FROM scored) WHERE rank <= 9),
         |qv AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id BETWEEN 10 AND 14),
         |rr0 AS (SELECT t.query_id, t.corpus_id, t.approx_rank,
         |    ${d2Sql("q.qv", "c.vv")} AS exact_d2
         |  FROM short t JOIN v c ON c.vec_id = t.corpus_id
         |  JOIN qv q ON q.query_id = t.query_id),
         |rr AS (SELECT query_id, corpus_id, approx_rank, exact_d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_d2 ASC, corpus_id) AS rank
         |  FROM rr0)
         |SELECT query_id, corpus_id, approx_rank, exact_d2,
         |  CAST(rank AS INT) AS rank
         |FROM rr WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }), bench = true),

    "llm_lr_train" -> Q((s, dir) => {
      // Distributed quality-classifier training (Classifier.scala):
      // 4 full-batch GD iterations, softsign link, class-weighted
      // residuals, one hash aggregate per iteration. y = (label == 0).
      // The oracle unrolls all 4 iterations in chained CTEs and
      // reproduces every weight bit-for-bit.
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("y", when(col("label") === 0, 1).otherwise(0))
      val w = Classifier.trainSoftsignGD(emb, "embedding", "y", dim = 64,
        iters = 4, eta = 4.0)
      w.zipWithIndex.map { case (v, i) => (i, v) }.toDF("feat_idx", "weight")
        .orderBy("feat_idx")
    }, Some(lrOracle(score = false)), bench = true),

    "llm_lr_score" -> Q((s, dir) => {
      // Apply the trained classifier: per-class row count and predicted-
      // positive count (the confusion-matrix margins). Scoring is a pure
      // projection against the broadcast weight literal.
      val emb = T(s, dir, "embeddings")
        .withColumn("y", when(col("label") === 0, 1).otherwise(0))
      val w = Classifier.trainSoftsignGD(emb, "embedding", "y", dim = 64,
        iters = 4, eta = 4.0)
      Classifier.scoreSoftsign(emb, "embedding", w)
        .groupBy(col("y").as("is_pos"))
        .agg(count(lit(1)).as("n"), sum(col("pred")).cast("bigint").as("n_pred_pos"))
        .orderBy("is_pos")
    }, Some(lrOracle(score = true))),

    "llm_link_pagerank" -> Q((s, dir) => {
      // Link-centrality over a DERIVED citation graph (the corpus has no
      // link column, so edges come from doc_id key arithmetic — the
      // same formulas in Spark and the oracle over the same parquet;
      // docs with doc_id % 11 == 0 are dangling). 3 damped PageRank
      // rounds (operators/PageRank.scala), top-20 by rank.
      val docs = T(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val linky = docs.filter(col("doc_id") % 11 =!= 0)
      val edges = linky
        .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 7) % n).as("dst"))
        .unionByName(linky.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") * 17 + 3) % n).as("dst")))
        .unionByName(linky.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") * 13 + 5) % n).as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      val pr = PageRank.run(docs, edges, "doc_id", iters = 3, damping = 0.85)
      // Global top-20 via orderBy().limit() = TakeOrderedAndProject
      // (per-partition heaps + a 20-row driver merge), then rank the
      // 20-row survivor frame — never a one-partition window over ALL
      // docs (at 100 TB that single-partitions the whole corpus to
      // pick 20 rows). (pr desc, doc_id) is a total order, so the
      // limit is deterministic and the ranks are unchanged.
      import org.apache.spark.sql.expressions.Window
      pr.orderBy(col("pr").desc, col("doc_id")).limit(20)
        .withColumn("rk", row_number().over(Window.orderBy(col("pr").desc, col("doc_id"))))
        .orderBy("rk")
    }, Some({
      // Fixed-point accumulation (floor(x·1e12) in DECIMAL(38,0)) — the
      // portable alternative to round(x,12), which Spark evaluates off
      // the shortest string repr and DuckDB off the scaled double.
      def iterCtes(t: Int) =
        s"""inf$t AS (SELECT e.dst,
           |    CAST(SUM(CAST(floor((r.pr / o.deg) * 1000000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
           |      / 1000000000000.0 AS inflow
           |  FROM edges e JOIN r${t - 1} r ON e.src = r.doc_id JOIN outdeg o ON e.src = o.src
           |  GROUP BY e.dst),
           |dm$t AS (SELECT coalesce(
           |    CAST(SUM(CAST(floor(pr * 1000000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
           |      / 1000000000000.0, 0.0) AS m
           |  FROM r${t - 1} r WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = r.doc_id)),
           |r$t AS (SELECT d.doc_id,
           |    (1.0e0 - 0.85e0) / n.n + 0.85e0 * (coalesce(i.inflow, 0.0) + dm.m / n.n) AS pr
           |  FROM docs d CROSS JOIN nn n CROSS JOIN dm$t dm
           |  LEFT JOIN inf$t i ON i.dst = d.doc_id)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM docs),
         |$linkCandCte,
         |edges AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
         |outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT doc_id, 1.0 / (SELECT n FROM nn) AS pr FROM docs),
         |${Seq(1, 2, 3).map(iterCtes).mkString(",\n")}
         |SELECT doc_id, pr, rk FROM (
         |  SELECT doc_id, pr, row_number() OVER (ORDER BY pr DESC, doc_id) AS rk FROM r3)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin
    }), bench = true),

    "llm_link_triangles" -> Q((s, dir) => {
      // Triangle census + local clustering coefficient over the SAME
      // derived citation graph as llm_link_pagerank, taken undirected
      // (operators/Triangles.scala — degree-ordered compact-forward, so
      // the wedge join is Σ outdeg², not Σ deg²). Counts are exact
      // integers; lcc is one correctly-rounded division. The oracle
      // counts each triangle once via plain id-ordering (a<b<c) — counts
      // are orientation-invariant, so both forms agree exactly.
      val docs = T(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val linky = docs.filter(col("doc_id") % 11 =!= 0)
      val edges = linky
        .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 7) % n).as("dst"))
        .unionByName(linky.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") * 17 + 3) % n).as("dst")))
        .unionByName(linky.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") * 13 + 5) % n).as("dst")))
        .filter(col("src") =!= col("dst"))
      val pv = graft.operators.Triangles.perVertex(edges)
      // Global top-25 via orderBy().limit() = TakeOrderedAndProject
      // (per-partition heaps), then rank the 25-row survivor frame —
      // never a one-partition window over all |V| rows.
      import org.apache.spark.sql.expressions.Window
      pv.orderBy(col("tri").desc, col("v")).limit(25)
        .withColumn("rk", row_number().over(Window.orderBy(col("tri").desc, col("v"))))
        .select(col("v").as("doc_id"), col("deg"), col("tri"), col("lcc"), col("rk"))
        .orderBy("rk")
    }, Some(
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nn AS (SELECT count(*) AS ni FROM docs),
         |$linkCandCte,
         |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM cand WHERE src <> dst),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |  SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon) GROUP BY v),
         |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM canon e1
         |  JOIN canon e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN canon e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pv AS (SELECT v, count(*) AS tri FROM (
         |  SELECT x AS v FROM tr UNION ALL SELECT y AS v FROM tr
         |  UNION ALL SELECT z AS v FROM tr) GROUP BY v),
         |j AS (SELECT d.v, d.deg, coalesce(p.tri, 0) AS tri,
         |    CASE WHEN d.deg < 2 THEN 0.0e0
         |      ELSE 2.0e0 * coalesce(p.tri, 0) / CAST(d.deg * (d.deg - 1) AS DOUBLE)
         |    END AS lcc
         |  FROM deg d LEFT JOIN pv p ON p.v = d.v)
         |SELECT v AS doc_id, deg, tri, lcc, rk FROM (
         |  SELECT *, row_number() OVER (ORDER BY tri DESC, v) AS rk FROM j)
         |WHERE rk <= 25 ORDER BY rk""".stripMargin), bench = true),

    "llm_gopher_rules" -> Q((s, dir) => {
      // Gopher rule bundle (TextOps.gopherRules) with corpus-appropriate
      // required words (the synthetic corpus has no English function
      // words; its own high-frequency tokens play that role). All
      // metrics are exact integer-count ratios — no float traps.
      TextOps.gopherRules(T(s, dir, "documents").select("doc_id", "text"),
        requiredWords = Seq("join", "hash", "row", "batch", "scan", "column",
          "filter", "data"))
        .drop("text")
        .orderBy("doc_id")
    }, Some({
      val reqSum = Seq("join", "hash", "row", "batch", "scan", "column",
        "filter", "data")
        .map(w => s"(CASE WHEN regexp_matches(norm, '\\b$w\\b') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |t AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks,
         |  string_split(text, chr(10)) AS lines FROM d),
         |m AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) /
         |    CAST(len(toks) AS DOUBLE) AS mean_word_len,
         |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) /
         |    CAST(len(toks) AS DOUBLE) AS alpha_word_ratio,
         |  CAST(len(regexp_extract_all(norm, '(#|\\.\\.\\.|…)')) AS DOUBLE) /
         |    CAST(len(toks) AS DOUBLE) AS symbol_word_ratio,
         |  CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) /
         |    CAST(len(lines) AS DOUBLE) AS bullet_line_ratio,
         |  CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) /
         |    CAST(len(lines) AS DOUBLE) AS ellipsis_line_ratio,
         |  CAST($reqSum AS INT) AS n_required_hits
         |  FROM t)
         |SELECT *,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND alpha_word_ratio >= 0.8 AND symbol_word_ratio <= 0.1
         |   AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
         |   AND n_required_hits >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    })),

    "llm_hist_quantiles" -> Q((s, dir) => {
      // Histogram quantile sketch (operators/HistQuantile) over document
      // lengths: exact min/max bounds, 32 bins, P50/P90/P99 estimates
      // with the nearest-rank exact quantile and the ≤-one-bin-width
      // error bound as checked columns. The exact side uses the
      // distributed two-level rank (below) — no one-partition window.
      import s.implicits._
      val src = T(s, dir, "documents").select(col("n_chars").cast("double").as("x"))
      val b = src.agg(min("x"), max("x")).first()
      val (lo, hi) = (b.getDouble(0), b.getDouble(1))
      val nBins = 32
      val hist = HistQuantile.build(src, "x", lo, hi, nBins)
      val est = HistQuantile.estimate(hist, lo, hi, nBins, Seq(0.5, 0.9, 0.99))
      val n = src.count().toDouble
      // Exact nearest-rank WITHOUT a global one-partition window (the
      // planShards two-level doctrine): range-bucket by the SAME 32-bin
      // rule as the sketch (bin is monotone in x, so (bin, x) order IS
      // x order), per-bin counts prefix-sum on the ≤32-row bin frame,
      // then a bin-partitioned (32-way parallel) within-bin rank;
      // global rank = bin offset + within rank. Ties share an x value,
      // so the picked exact_q is rank-tie invariant.
      import org.apache.spark.sql.expressions.Window
      val binned = src.withColumn("_b", least(greatest(
          floor(((col("x") - lo) / (hi - lo)) * nBins), lit(0.0)),
          lit(nBins - 1.0)).cast("int"))
      val offs = binned.groupBy("_b").agg(count(lit(1)).as("_c"))
        .withColumn("_off", coalesce(sum(col("_c")).over(
          Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("_b", "_off")
      val ranked = binned.join(broadcast(offs), "_b")
        .withColumn("rk",
          col("_off") + row_number().over(Window.partitionBy("_b").orderBy("x")))
      val exact = ranked.crossJoin(broadcast(Seq(0.5, 0.9, 0.99).toDF("q")))
        .filter(col("rk") === greatest(ceil(col("q") * n), lit(1.0)).cast("bigint"))
        .select(col("q"), col("x").as("exact_q"))
      est.join(exact, "q")
        .select(col("q"), col("est_q"), col("exact_q"),
          abs(col("est_q") - col("exact_q")).as("abs_err"),
          (abs(col("est_q") - col("exact_q")) <= lit((hi - lo) / nBins)).as("within_bin"))
        .orderBy("q")
    }, Some(
      s"""WITH src AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents),
         |bounds AS (SELECT CAST(min(x) AS DOUBLE) AS lo, CAST(max(x) AS DOUBLE) AS hi FROM src),
         |hist AS (SELECT CAST(least(greatest(
         |      floor(((x - b.lo) / (b.hi - b.lo)) * 32), 0.0), 32 - 1.0) AS INT) AS bin,
         |    count(*) AS cnt
         |  FROM src CROSS JOIN bounds b GROUP BY 1),
         |nn AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM hist),
         |cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
         |    SUM(cnt) OVER (ORDER BY bin) - cnt AS cumb FROM hist),
         |qs AS (SELECT unnest([0.5e0, 0.9e0, 0.99e0]) AS q),
         |cand AS (SELECT q.q, c.bin, c.cnt, c.cumb,
         |    row_number() OVER (PARTITION BY q.q ORDER BY c.bin) AS rn
         |  FROM cum c CROSS JOIN qs q CROSS JOIN nn n WHERE c.cum >= q.q * n.n),
         |est AS (SELECT c.q,
         |    b.lo + (c.bin + (c.q * n.n - c.cumb) / c.cnt) * ((b.hi - b.lo) / 32) AS est_q
         |  FROM cand c CROSS JOIN bounds b CROSS JOIN nn n WHERE c.rn = 1),
         |exact AS (SELECT q.q, s.x AS exact_q FROM (
         |    SELECT x, row_number() OVER (ORDER BY x) AS rk FROM src) s
         |  JOIN qs q ON s.rk = CAST(greatest(ceil(q.q * (SELECT n FROM nn)), 1.0) AS BIGINT))
         |SELECT e.q, e.est_q, x.exact_q, abs(e.est_q - x.exact_q) AS abs_err,
         |  abs(e.est_q - x.exact_q) <= ((SELECT (hi - lo) / 32 FROM bounds)) AS within_bin
         |FROM est e JOIN exact x ON e.q = x.q ORDER BY e.q""".stripMargin)),

    "llm_mixture_weights" -> Q((s, dir) => {
      // Temperature-scaled mixture design (Splits.temperatureMixtureSqrt):
      // per-source sqrt(token-share) weights, fixed-point normalizer,
      // largest-remainder allocation of a 1000-doc budget (sums exactly).
      Splits.temperatureMixtureSqrt(
        T(s, dir, "documents").select(col("source"),
          size(TextOps.tokens(col("text"))).as("n_toks")),
        "source", col("n_toks"), budget = 1000L)
        .orderBy("source")
    }, Some(
      s"""WITH d AS (SELECT source,
         |  len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_toks
         |  FROM documents),
         |s AS (SELECT source, count(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM s),
         |w AS (SELECT source, n_docs, n_tokens,
         |    sqrt(CAST(n_tokens AS DOUBLE) / tot.t) AS raw_w FROM s CROSS JOIN tot),
         |nrm AS (SELECT CAST(SUM(CAST(floor(raw_w * 1000000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
         |    / 1000000000000.0 AS z FROM w),
         |alloc AS (SELECT source, n_docs, n_tokens, raw_w / nrm.z AS mix_weight,
         |    CAST(floor((raw_w / nrm.z) * 1000) AS BIGINT) AS base_alloc,
         |    (raw_w / nrm.z) * 1000 - floor((raw_w / nrm.z) * 1000) AS rem
         |  FROM w CROSS JOIN nrm),
         |short AS (SELECT CAST(1000 - (SELECT SUM(base_alloc) FROM alloc) AS BIGINT) AS k),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr FROM alloc)
         |SELECT source, n_docs, n_tokens, mix_weight,
         |  CAST(base_alloc + (CASE WHEN rr <= (SELECT k FROM short) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS target_docs
         |FROM ranked ORDER BY source""".stripMargin)),

    "llm_robust_outliers" -> Q((s, dir) => {
      // Per-source MAD outlier screen over document lengths
      // (operators/RobustStats): nearest-rank medians, |x-med| > k*mad.
      RobustStats.madOutliers(T(s, dir, "documents").select("source", "n_chars"),
        "source", "n_chars")
        .orderBy("source")
    }, Some(
      s"""WITH d AS (SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents),
         |ranked AS (SELECT source, x,
         |    row_number() OVER (PARTITION BY source ORDER BY x) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n FROM d),
         |med AS (SELECT source, x AS med FROM ranked
         |  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)),
         |dev AS (SELECT r.source, r.x, r.n, abs(r.x - m.med) AS dev, m.med
         |  FROM ranked r JOIN med m ON r.source = m.source),
         |mad AS (SELECT source, dev AS mad FROM (
         |    SELECT source, dev, n, row_number() OVER (PARTITION BY source ORDER BY dev) AS rn2
         |    FROM dev)
         |  WHERE rn2 = CAST(floor((n + 1) / 2.0) AS BIGINT))
         |SELECT d.source, count(*) AS n, max(d.med) AS med, max(m.mad) AS mad,
         |  CAST(SUM(CASE WHEN d.dev > 4.4478e0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_outliers
         |FROM dev d JOIN mad m ON d.source = m.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // ----- multimodal plumbing (stubbed decode) ------------------------
    "llm_multimodal_stub" -> Q((s, dir) => {
      val df = Multimodal.frameSampleStub(
        Multimodal.decodeStub(
          Multimodal.withPayload(T(s, dir, "documents").select("doc_id", "text"))),
        n = 2)
      df.select(
        col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.content_md5").as("payload_md5"),
        col("decoded.fake_width").as("fake_width"),
        col("decoded.fake_height").as("fake_height"),
        col("frame_hashes")(0).as("frame_0"),
        col("frame_hashes")(1).as("frame_1"))
        .orderBy("doc_id")
    }, Some("""SELECT doc_id,
              |  octet_length(encode(text)) AS n_bytes,
              |  md5(text) AS payload_md5,
              |  CAST(octet_length(encode(text)) % 1280 + 640 AS INT) AS fake_width,
              |  CAST(octet_length(encode(text)) % 720 + 360 AS INT) AS fake_height,
              |  md5(substring(hex(encode(text)), 1, 32)) AS frame_0,
              |  md5(substring(hex(encode(text)), 33, 32)) AS frame_1
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_multimodal_codec" -> Q((s, dir) => {
      // REAL decode: each doc gets a genuine PPM (P6) payload built by
      // encodePpm (header + pixel plane), and PpmCodec parses it back —
      // width/height from the parsed header, digest from the extracted
      // pixel bytes — through the pluggable-codec mapPartitions path
      // (one codec per partition). The oracle recomputes the same
      // features from the generation formulas, so a codec that misreads
      // the header or slices the pixel plane off-by-one hash-mismatches.
      val payloads = Multimodal.encodePpm(T(s, dir, "documents").select("doc_id"))
      Multimodal.decodeWithCodec(s, payloads, () => new Multimodal.PpmCodec)
        .orderBy("doc_id")
    }, Some("""SELECT doc_id,
              |  CAST(doc_id % 8 + 2 AS INT) AS width,
              |  CAST(doc_id % 5 + 2 AS INT) AS height,
              |  CAST(1 AS INT) AS n_frames,
              |  md5(array_to_string(list_transform(
              |    range((doc_id % 8 + 2) * (doc_id % 5 + 2) * 3),
              |    i -> lpad(hex((doc_id * 31 + i) % 256), 2, '0')), '')) AS digest
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_multimodal_bmp" -> Q((s, dir) => {
      // REAL decode #2: genuine 2x2 24-bit BMPs (LE headers, stride
      // padding, bottom-up rows) built per doc and parsed back by
      // BmpCodec. The digest is over LOGICAL top-down pixel content —
      // the oracle recomputes it from the generation formula, so a
      // decoder that forgets the row flip or reads padding bytes
      // hash-mismatches.
      val payloads = Multimodal.encodeBmp2x2(T(s, dir, "documents").select("doc_id"))
      Multimodal.decodeWithCodec(s, payloads, () => new Multimodal.BmpCodec)
        .orderBy("doc_id")
    }, Some("""SELECT doc_id,
              |  CAST(2 AS INT) AS width,
              |  CAST(2 AS INT) AS height,
              |  CAST(1 AS INT) AS n_frames,
              |  md5(array_to_string(list_transform(range(12),
              |    i -> lpad(hex((doc_id * 31 + i) % 256), 2, '0')), '')) AS digest
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "llm_multimodal_resize" -> Q((s, dir) => {
      // Resize planning over decoded dimensions: aspect-preserving fit
      // into 224x224, no upscale. The arithmetic is the real stage; the
      // dims come from the stubbed decode.
      val decoded = Multimodal.decodeWithCodec(s,
        Multimodal.withPayload(T(s, dir, "documents").select("doc_id", "text")),
        () => new Multimodal.StubCodec)
      Multimodal.resizePlan(decoded, 224, 224)
        .select("doc_id", "width", "height", "resize_scale",
          "target_width", "target_height")
        .orderBy("doc_id")
    }, Some("""WITH d AS (SELECT doc_id,
              |    CAST(octet_length(encode(text)) % 1280 + 640 AS INT) AS width,
              |    CAST(octet_length(encode(text)) % 720 + 360 AS INT) AS height
              |  FROM documents)
              |SELECT doc_id, width, height,
              |  LEAST(224.0 / width, 224.0 / height, 1.0) AS resize_scale,
              |  CAST(FLOOR(width * LEAST(224.0 / width, 224.0 / height, 1.0)) AS INT)
              |    AS target_width,
              |  CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height, 1.0)) AS INT)
              |    AS target_height
              |FROM d ORDER BY doc_id""".stripMargin)),

    "llm_image_phash_dedup" -> Q((s, dir) => {
      // Perceptual-hash image near-dup — the canonical 100 TB multimodal
      // pipeline op, end-to-end REAL on the Spark side: genuine 8×8
      // 24-bit BMPs (seeded md5 pixels; every 4 consecutive docs share a
      // source image, each perturbing ONE pixel) → partition-wise BMP
      // decode to luma grays → 56-bit dHash (pure projection) → banded
      // LSH over 4×14-bit hash slices through the SAME skew-capped
      // candidate machinery as the MinHash chain
      // (Dedup.candidatePairsCapped: hot buckets emit member↔rep stars,
      // never n²) → Hamming verify bit_count(xor) ≤ 6 on the survivors.
      // The hash frame feeds bands and both verify sides, so it is
      // computed ONCE and localCheckpointed (8 bytes/doc). The oracle
      // replays pixels from the generation formula — a decoder bug (row
      // flip, stride, channel order) or a hash/banding bug diverges.
      // Chain shared with llm_image_phash_clusters ([[phashVerifiedPairs]]).
      phashVerifiedPairs(s, dir)._2.orderBy("id_a", "id_b")
    }, Some(s"""WITH $phashPairsCtes
              |SELECT id_a, id_b, hamming, capped FROM vp
              |ORDER BY id_a, id_b""".stripMargin), bench = true),

    "llm_image_phash_clusters" -> Q((s, dir) => {
      // Image duplicate CLUSTERS: the verified phash pairs are edges into
      // the same pointer-jumping connected-components machinery the text
      // dedup chain uses (Dedup.dedupClusters) — every image labeled with
      // its duplicate-cluster id, canonical flag (min doc_id), and
      // cluster size. This is the op a 100 TB multimodal corpus actually
      // runs (keep one image per near-dup cluster); the oracle recomputes
      // the components with an independent recursive min-reachable-id
      // fixpoint over the replayed pairs.
      val (_, pairs) = phashVerifiedPairs(s, dir)
      Dedup.dedupClusters(T(s, dir, "documents").select("doc_id"), "doc_id",
          pairs.select("id_a", "id_b"))
        .orderBy("doc_id")
    }, Some(s"""WITH RECURSIVE $phashPairsCtes,
               |${componentsCtes("vp")},
               |$componentSizeCtes
               |SELECT a.doc_id, a.component,
               |  a.doc_id = a.component AS is_canonical, s.cluster_size
               |FROM assigned a JOIN sizes s USING (component)
               |ORDER BY a.doc_id""".stripMargin)),

    "llm_image_resample_phash" -> Q((s, dir) => {
      // General-size images through the FULL classic dHash pipeline:
      // variable-dim BMPs (13×16 or 18×16 by seed — both widths force
      // nonzero stride padding, so the decoder's padding handling runs
      // on every row) → decode + block-mean resample FUSED in the codec
      // pass (Multimodal.decodeBmpGrayResampled: one O(pixels) sweep
      // per image, zero shuffle — the declarative resampleGray twin is
      // semantics-pinned in LlmOpsSpec) → the same dHash56. The oracle
      // replays pixels from the generation formula, the block-mean
      // integer arithmetic, and the hash — a resample bug (wrong cell
      // assignment, float mean, row-major mixup) diverges.
      val res = Multimodal.decodeBmpGrayResampled(s,
          Multimodal.encodeBmpGrayVar(
            T(s, dir, "documents").select(col("doc_id"))))
        .localCheckpoint(true)
      Multimodal.dHash56(res)
        .join(res.select("doc_id", "width", "height"), "doc_id")
        .select(col("doc_id"), col("width"), col("height"), col("phash"))
        .orderBy("doc_id")
    }, Some("""WITH dims AS (SELECT doc_id,
              |    CASE WHEN (doc_id // 4) % 2 = 0 THEN 13 ELSE 18 END AS w,
              |    16 AS h FROM documents),
              |px AS (SELECT doc_id, w, h, j,
              |    ((('0x' || substring(md5((doc_id // 4)::VARCHAR || '_' ||
              |          (j // 16)::VARCHAR), 2 * (j % 16) + 1, 2))::BIGINT
              |      + CASE WHEN j = doc_id % (w * h) THEN 128 ELSE 0 END) % 256) AS v
              |  FROM dims, range(288) t(j) WHERE j < w * h),
              |cells AS (SELECT doc_id, w, h,
              |    (j // w) * 8 // h AS gy, (j % w) * 8 // w AS gx,
              |    SUM(v) // COUNT(*) AS mv
              |  FROM px GROUP BY doc_id, w, h, gy, gx),
              |ph AS (SELECT l.doc_id, l.w, l.h,
              |    CAST(SUM(CASE WHEN l.mv < r.mv
              |      THEN (1::BIGINT << CAST(l.gy * 7 + l.gx AS INT))
              |      ELSE 0 END) AS BIGINT) AS phash
              |  FROM cells l JOIN cells r ON r.doc_id = l.doc_id
              |    AND r.gy = l.gy AND r.gx = l.gx + 1
              |  WHERE l.gx < 7
              |  GROUP BY l.doc_id, l.w, l.h)
              |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
              |  phash
              |FROM ph ORDER BY doc_id""".stripMargin), bench = true),

    "llm_png_decode_phash" -> Q((s, dir) => {
      // COMPRESSED images as a real modality: PNG needs no external
      // codec library (zlib is in the JDK), so the full compressed
      // round-trip runs end-to-end on the engine — formula pixels →
      // per-scanline PNG filters (all five types load-bearing in every
      // image: type (doc_id+row) % 5) → zlib deflate → CRC32-framed
      // chunks → big-endian chunk walk with CRC verify → inflate →
      // unfilter → luma → the same 56-bit dHash as the BMP track. The
      // oracle replays pixels from the generation formula (distinct
      // 'p' seed namespace, no PNG parsing), so a bug ANYWHERE in the
      // filter/deflate/chunk/inflate path breaks pixel equality and
      // diverges the hash. Narrow end-to-end: encode and decode are
      // both per-partition sweeps, zero shuffle before the final sort.
      Multimodal.dHash56(
          Multimodal.decodePngGray(s, Multimodal.encodePng8x8(
            s, T(s, dir, "documents").select(col("doc_id")))),
          Seq("doc_id", "width", "height"))
        .select(col("doc_id"), col("width"), col("height"), col("phash"))
        .orderBy("doc_id")
    }, Some("""WITH ppx AS (
              |  SELECT doc_id, j,
              |    ((('0x' || substring(md5('p' || (doc_id // 4)::VARCHAR || '_' ||
              |          (j // 16)::VARCHAR), 2 * (j % 16) + 1, 2))::BIGINT
              |      + CASE WHEN j = doc_id % 64 THEN 128 ELSE 0 END) % 256) AS v
              |  FROM documents, range(64) t(j)),
              |pph AS (
              |  SELECT l.doc_id,
              |    CAST(SUM(CASE WHEN l.v < r.v
              |      THEN (1::BIGINT << CAST(l.j - l.j // 8 AS INT))
              |      ELSE 0 END) AS BIGINT) AS phash
              |  FROM ppx l JOIN ppx r ON r.doc_id = l.doc_id AND r.j = l.j + 1
              |  WHERE l.j % 8 < 7
              |  GROUP BY l.doc_id)
              |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
              |  phash
              |FROM pph ORDER BY doc_id""".stripMargin), bench = true),

    "llm_audio_decode_features" -> Q((s, dir) => {
      // Audio as a REAL modality, same rigor as the image track: genuine
      // RIFF/WAVE PCM payloads (canonical 44-byte header + 128 LE int16
      // samples, seeded near-dup waveforms) → pure-JVM chunk-walking
      // decode (fmt validation, signed LE extraction) → exact integer
      // features: peak, mean-square energy, zero crossings, and the
      // 15-bit energy-delta fingerprint (the Shazam-style band-energy
      // shape in exact integer math). The oracle recomputes samples from
      // the generation formula without RIFF parsing, so a header-offset,
      // endianness, or sign bug diverges.
      Multimodal.audioFeatures(
          Multimodal.decodeWavPcm(s,
            Multimodal.encodeWavPcm(T(s, dir, "documents").select(col("doc_id")))))
        .orderBy("doc_id")
    }, Some(s"""WITH $wavSampleCtes,
              |ew AS (SELECT doc_id, i // 8 AS w, SUM(CAST(s AS BIGINT) * s) AS e
              |  FROM smp GROUP BY doc_id, i // 8),
              |fp AS (SELECT l.doc_id,
              |    CAST(SUM(CASE WHEN r.e > l.e
              |      THEN (1::BIGINT << CAST(l.w AS INT)) ELSE 0 END) AS BIGINT)
              |      AS energy_fp
              |  FROM ew l JOIN ew r ON r.doc_id = l.doc_id AND r.w = l.w + 1
              |  WHERE l.w < 15 GROUP BY l.doc_id),
              |zl AS (SELECT doc_id, s,
              |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
              |  FROM smp),
              |zc AS (SELECT doc_id, CAST(SUM(CASE WHEN (s >= 0) != (prev >= 0)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
              |  FROM zl GROUP BY doc_id),
              |base AS (SELECT doc_id, CAST(MAX(abs(s)) AS BIGINT) AS peak,
              |    CAST(SUM(CAST(s AS BIGINT) * s) // 128 AS BIGINT) AS mean_square
              |  FROM smp GROUP BY doc_id)
              |SELECT b.doc_id, CAST(16000 AS INT) AS sample_rate,
              |  CAST(128 AS INT) AS n_samples, b.peak, b.mean_square,
              |  z.zero_crossings, f.energy_fp
              |FROM base b JOIN zc z USING (doc_id) JOIN fp f USING (doc_id)
              |ORDER BY b.doc_id""".stripMargin), bench = true),

    "llm_audio_fingerprint_dedup" -> Q((s, dir) => {
      // Audio near-dup banded by per-window QUANTIZED-CONTENT hashes —
      // the Shazam-landmark shape: band w (16 of them) keys on
      // md5 of window w's 8 samples coarsened to 1024-wide amplitude
      // cells ((s+32768) div 1024, kept non-negative so Spark DIV and
      // DuckDB // agree). A ±512 perturbation touches ONE window, so
      // same-seed signals share ≥14 of 16 band keys — guaranteed direct
      // recall — while cross-seed signals would need an 8-cell profile
      // collision (64⁸ space): buckets stay seed-group-sized at ANY
      // corpus scale. (First spelling banded 5-bit slices of the 15-bit
      // energy-delta fingerprint: measured DEGENERATE at sf10 — 96
      // buckets of 15.6 k docs each, 30+ min in per-bucket expansion.
      // Short whole-signal fingerprints concentrate; content-addressed
      // window keys distribute.) Same skew-capped candidate machinery,
      // then exact mean-absolute sample-distance verify (≤ 16 of
      // full-scale ±32767: same-seed reads MAD 4, unrelated ~21800).
      // Decoded frame computed ONCE and localCheckpointed.
      audioVerifiedPairs(s, dir).orderBy("id_a", "id_b")
    }, Some(s"""WITH $wavSampleCtes,
              |${audioWindowKeysCte("bands", "band", "band_hash")},
              |bsize AS (SELECT band, band_hash, count(*) AS n
              |  FROM bands GROUP BY band, band_hash),
              |bx AS (SELECT b.doc_id, b.band, b.band_hash, z.n > 64 AS oversized
              |  FROM bands b JOIN bsize z USING (band, band_hash) WHERE z.n > 1),
              |rp AS (SELECT band, band_hash, doc_id AS rep FROM (
              |    SELECT band, band_hash, doc_id,
              |      row_number() OVER (PARTITION BY band, band_hash
              |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              |    FROM bx WHERE oversized) z WHERE rk <= 8),
              |small_pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, false AS c
              |  FROM bx x JOIN bx y ON x.band = y.band AND x.band_hash = y.band_hash
              |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
              |big_pairs AS (SELECT least(m.doc_id, r.rep) AS id_a,
              |    greatest(m.doc_id, r.rep) AS id_b, true AS c
              |  FROM bx m JOIN rp r ON m.band = r.band AND m.band_hash = r.band_hash
              |  WHERE m.oversized AND m.doc_id <> r.rep),
              |cp AS (SELECT id_a, id_b, bool_and(c) AS capped
              |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs) u
              |  GROUP BY id_a, id_b),
              |mad AS (SELECT c.id_a, c.id_b,
              |    CAST(SUM(abs(a.s - b.s)) // 128 AS BIGINT) AS mad, c.capped
              |  FROM cp c
              |  JOIN smp a ON a.doc_id = c.id_a
              |  JOIN smp b ON b.doc_id = c.id_b AND b.i = a.i
              |  GROUP BY c.id_a, c.id_b, c.capped)
              |SELECT id_a, id_b, mad, capped FROM mad
              |WHERE mad <= 16 ORDER BY id_a, id_b""".stripMargin), bench = true),

    "llm_video_decode_framehash" -> Q((s, dir) => {
      // Video as a REAL modality — the third after images and audio:
      // genuine 4-frame 8×8 RIFF AVI containers (LIST hdrl with
      // avih/strh/strf, LIST movi with bottom-up 24-bit DIB '00db'
      // frames) → pure-JVM chunk-walking decode (stream-format
      // validation, per-chunk declared-size checks, frame-count
      // cross-check vs avih) to one luma row PER FRAME → per-frame
      // 56-bit dHash. The oracle recomputes every pixel from the
      // generation formula without RIFF parsing, so a header-offset,
      // frame-order, row-flip, or channel-order bug diverges. Replaces
      // frameSampleStub as the video path — the stub now stands in for
      // compressed codecs only.
      videoFrameHashes(s, dir)
        .select(col("doc_id"), col("frame_idx"),
          lit(8).as("width"), lit(8).as("height"), col("phash"))
        .orderBy("doc_id", "frame_idx")
    }, Some(s"""WITH $videoHashCtes
              |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
              |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height, phash
              |FROM vph ORDER BY doc_id, frame_idx""".stripMargin),
      bench = true),

    "llm_video_framehash_dedup" -> Q((s, dir) => {
      // TEMPORAL video near-dup: band key = (frame_idx × 4 + b,
      // 14-bit slice b of that frame's dHash) — 16 content-addressed
      // band rows per video, so a band collision asserts "same slice
      // of the same frame position", the aligned-sequence shape.
      // Same-seed videos differ in ≤1 frame's hash EACH (one perturbed
      // pixel flips ≤2 dHash bits), so ≥2 of 4 frames are bit-identical
      // → ≥8 shared band keys: guaranteed direct recall; cross-seed
      // frames are uncorrelated 56-bit hashes (expected aligned Hamming
      // ~28/frame). Candidates through the same skew-capped machinery
      // as the image/audio chains, then the temporal verify: SUM of
      // per-frame Hamming over ALIGNED frames ≤ 6 (same-seed reads ≤4,
      // unrelated ~112). Frame hashes computed ONCE (checkpointed,
      // 32 bytes/doc); the corpus is never re-decoded for the verify.
      videoVerifiedPairs(s, dir).orderBy("id_a", "id_b")
    }, Some(s"""WITH $videoHashCtes,
              |vbands AS (SELECT doc_id, frame_idx * 4 + b.b AS band,
              |    (phash >> CAST(14 * b.b AS INT)) & 16383 AS band_hash
              |  FROM vph, range(4) b(b)),
              |vbsize AS (SELECT band, band_hash, count(*) AS n
              |  FROM vbands GROUP BY band, band_hash),
              |vbx AS (SELECT v.doc_id, v.band, v.band_hash, s.n > 64 AS oversized
              |  FROM vbands v JOIN vbsize s USING (band, band_hash) WHERE s.n > 1),
              |vrp AS (SELECT band, band_hash, doc_id AS rep FROM (
              |    SELECT band, band_hash, doc_id,
              |      row_number() OVER (PARTITION BY band, band_hash
              |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              |    FROM vbx WHERE oversized) z WHERE rk <= 8),
              |vsmall AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, false AS c
              |  FROM vbx x JOIN vbx y ON x.band = y.band AND x.band_hash = y.band_hash
              |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
              |vbig AS (SELECT least(m.doc_id, r.rep) AS id_a,
              |    greatest(m.doc_id, r.rep) AS id_b, true AS c
              |  FROM vbx m JOIN vrp r ON m.band = r.band AND m.band_hash = r.band_hash
              |  WHERE m.oversized AND m.doc_id <> r.rep),
              |vcp AS (SELECT id_a, id_b, bool_and(c) AS capped
              |  FROM (SELECT * FROM vsmall UNION ALL SELECT * FROM vbig) u
              |  GROUP BY id_a, id_b),
              |vvp AS (SELECT c.id_a, c.id_b,
              |    CAST(SUM(bit_count(xor(a.phash, b.phash))) AS BIGINT) AS hamming,
              |    c.capped
              |  FROM vcp c JOIN vph a ON a.doc_id = c.id_a
              |  JOIN vph b ON b.doc_id = c.id_b AND b.frame_idx = a.frame_idx
              |  GROUP BY c.id_a, c.id_b, c.capped
              |  HAVING SUM(bit_count(xor(a.phash, b.phash))) <= 6)
              |SELECT id_a, id_b, hamming, capped FROM vvp
              |ORDER BY id_a, id_b""".stripMargin), bench = true),

    "llm_video_scene_split" -> Q((s, dir) => {
      // SCENE segmentation + keyframe election — the video curation op
      // between decode and dedup (Multimodal.sceneSplit): a frame opens
      // a new scene when its dHash Hamming distance to the previous
      // frame exceeds 28 (the median of the 56-bit distance between
      // unrelated frames, so cut/no-cut varies per video and per
      // transition — the corpus exercises both branches), and each
      // scene elects the content-addressed keyframe min(phash,
      // frame_idx) — the frame a multimodal training pipeline samples
      // instead of every near-identical one. Runs on the checkpointed
      // 8-byte-per-frame hash frame (never a re-decode); the lag
      // window, the running cut sum, and the per-scene aggregate share
      // ONE doc_id exchange. The oracle replays hashes from the pixel
      // formula and the segmentation with window functions, so an
      // off-by-one in the cut lag, the scene numbering, or the
      // keyframe tie-break diverges.
      Multimodal.sceneSplit(videoFrameHashes(s, dir), threshold = 28)
        .orderBy("doc_id", "scene_id")
    }, Some(s"""WITH $videoHashCtes,
              |cuts AS (SELECT doc_id, frame_idx, phash,
              |    CASE WHEN lag(phash) OVER w IS NULL
              |      OR bit_count(xor(phash, lag(phash) OVER w)) > 28
              |      THEN 1 ELSE 0 END AS is_cut
              |  FROM vph WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
              |scn AS (SELECT doc_id, frame_idx, phash,
              |    SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              |      AS scene_id
              |  FROM cuts),
              |rk AS (SELECT doc_id, scene_id, frame_idx, phash,
              |    row_number() OVER (PARTITION BY doc_id, scene_id
              |      ORDER BY phash, frame_idx) AS rn
              |  FROM scn)
              |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
              |  CAST(min(frame_idx) AS INT) AS start_frame,
              |  CAST(max(frame_idx) AS INT) AS end_frame,
              |  count(*) AS n_frames,
              |  CAST(min(CASE WHEN rn = 1 THEN frame_idx END) AS INT)
              |    AS keyframe_idx,
              |  min(CASE WHEN rn = 1 THEN phash END) AS keyframe_phash
              |FROM rk GROUP BY doc_id, scene_id
              |ORDER BY doc_id, scene_id""".stripMargin), bench = true),

    "llm_video_clip_containment" -> Q((s, dir) => {
      // CLIP-in-VIDEO containment (the Content-ID shape,
      // Multimodal.clipContainment): clips are the 2-frame excerpts
      // (frames 1-2) of each seed-canonical video (doc_id % 4 = 0);
      // the search reports every (clip, video, offset) alignment whose
      // summed aligned-frame Hamming ≤ 6 — each clip finds its source
      // AND the source's same-seed near-dup videos, always at offset 1.
      // Candidates join on the FULL 56-bit frame hash (content-
      // addressed: bucket size = true duplicate multiplicity at any
      // corpus scale, never corpus-sized), recall surviving the one-
      // perturbed-frame near-dups because ≥1 clip frame still matches
      // exactly; the verify then re-checks every aligned frame, so a
      // candidate-only implementation (or one that lets a partial
      // alignment through) diverges. Runs on the checkpointed
      // 8-byte/frame hash frame — pixels are never re-decoded.
      val fh = videoFrameHashes(s, dir)
      val clips = fh
        .filter(col("doc_id") % 4 === 0 && col("frame_idx").isin(1, 2))
        .select(col("doc_id").as("clip_id"),
          (col("frame_idx") - 1).as("p"), col("phash"))
      Multimodal.clipContainment(clips, fh, nClipFrames = 2, tau = 6)
        .orderBy("clip_id", "video_id", "offset")
    }, Some(clipContainmentSql + "\nORDER BY clip_id, video_id, loc"),
      bench = true),

    "llm_audio_clip_containment" -> Q((s, dir) => {
      // CLIP-in-AUDIO containment — the audio twin of the video
      // Content-ID gate: clips are the middle 64 samples (windows 4-11)
      // of each seed-canonical signal (doc_id % 4 = 0); the search
      // reports every window-aligned (clip, audio, w_off) placement
      // whose EXACT mean-absolute distance over the aligned 64 samples
      // ≤ 16. Candidates join on the content-addressed quantized-window
      // key (the audio dedup chain's band spelling WITHOUT the position
      // — so arbitrary offsets match); buckets stay true-duplicate-
      // multiplicity-sized. Recall is structural: all four same-seed
      // perturbations land in ONE window (consecutive positions, and
      // 4k mod 8 ∈ {0,4} keeps them inside a window), so ≥7 of the 8
      // clip windows still key-match. The verify is load-bearing
      // exactly like the audio dedup gate: an int16-WRAPPED perturbation
      // reads MAD ~1016 and must drop that placement while the
      // unwrapped same-seed ones read ≤ 16 and survive.
      val decoded = Multimodal.decodeWavPcm(s, Multimodal.encodeWavPcm(
          T(s, dir, "documents").select(col("doc_id"))))
        .localCheckpoint(true)
      val aw = decoded
        .select(col("doc_id"), explode(expr("sequence(0, 15)")).as("w"),
          col("samples"))
        .select(col("doc_id"), col("w"),
          Multimodal.audioWindowKey("w").as("key"))
      val cw = aw.filter(col("doc_id") % 4 === 0 && col("w").between(4, 11))
        .select(col("doc_id").as("clip_id"), (col("w") - 4).as("p"), col("key"))
      val cand = cw
        .join(aw.select(col("doc_id").as("audio_id"), col("w"), col("key")),
          Seq("key"))
        .select(col("clip_id"), col("audio_id"), (col("w") - col("p")).as("w_off"))
        .filter(col("w_off").between(0, 8))
        .distinct()
      cand
        .join(decoded.select(col("doc_id").as("clip_id"),
          col("samples").as("sc")), "clip_id")
        .join(decoded.select(col("doc_id").as("audio_id"),
          col("samples").as("sa")), "audio_id")
        .select(col("clip_id"), col("audio_id"), col("w_off"),
          expr("""aggregate(zip_with(slice(sc, 33, 64), slice(sa, 8 * w_off + 1, 64),
                 |  (x, y) -> CAST(abs(x - y) AS BIGINT)),
                 |  CAST(0 AS BIGINT), (a, v) -> a + v) DIV 64""".stripMargin)
            .as("mad"))
        .filter(col("mad") <= 16)
        .orderBy("clip_id", "audio_id", "w_off")
    }, Some(s"""WITH $wavSampleCtes,
              |${audioWindowKeysCte("aw", "w", "key")},
              |cw AS (SELECT doc_id AS clip_id, CAST(w - 4 AS INT) AS p, key
              |  FROM aw WHERE doc_id % 4 = 0 AND w BETWEEN 4 AND 11),
              |cand AS (SELECT DISTINCT c.clip_id, a.doc_id AS audio_id,
              |    CAST(a.w - c.p AS INT) AS w_off
              |  FROM cw c JOIN aw a ON a.key = c.key
              |  WHERE a.w - c.p BETWEEN 0 AND 8),
              |mad AS (SELECT d.clip_id, d.audio_id, d.w_off,
              |    CAST(SUM(abs(x.s - y.s)) // 64 AS BIGINT) AS mad
              |  FROM cand d
              |  JOIN smp x ON x.doc_id = d.clip_id AND x.i BETWEEN 32 AND 95
              |  JOIN smp y ON y.doc_id = d.audio_id
              |    AND y.i = 8 * d.w_off + (x.i - 32)
              |  GROUP BY d.clip_id, d.audio_id, d.w_off)
              |SELECT clip_id, audio_id, w_off, mad FROM mad
              |WHERE mad <= 16
              |ORDER BY clip_id, audio_id, w_off""".stripMargin),
      bench = true),

    "llm_audio_silence_split" -> Q((s, dir) => {
      // Silence-gated audio SEGMENTATION (Multimodal.silenceSplit) —
      // the VAD-shaped audio twin of the video scene split: each
      // signal's 16 windows of 8 samples get an exact integer energy
      // (Σ s²); a window is active when energy ≥ 2,863,311,530 (the
      // analytic MEAN window energy for uniform int16 samples,
      // 8·(2¹⁶·2¹⁶−1)/12 — close to the empirical median, so ~half the
      // windows are silent and runs open, close, and merge all over
      // the corpus rather than one branch dominating); maximal active
      // runs become segments via gaps-and-islands. All-BIGINT math;
      // the oracle recomputes every sample from the generation formula
      // and replays the islands with window functions, so an off-by-one
      // in the window slice, the run detection, or the segment
      // numbering diverges.
      val decoded = Multimodal.decodeWavPcm(s, Multimodal.encodeWavPcm(
          T(s, dir, "documents").select(col("doc_id"))))
      Multimodal.silenceSplit(decoded, threshold = 2863311530L)
        .orderBy("doc_id", "segment_id")
    }, Some(s"""WITH $wavSampleCtes,
              |wen AS (SELECT doc_id, CAST(i // 8 AS INT) AS w,
              |    CAST(SUM(s::BIGINT * s) AS BIGINT) AS energy
              |  FROM smp GROUP BY doc_id, i // 8
              |  HAVING CAST(SUM(s::BIGINT * s) AS BIGINT) >= 2863311530),
              |isl AS (SELECT doc_id, w, energy,
              |    CASE WHEN lag(w) OVER dw IS NULL
              |      OR w - lag(w) OVER dw > 1 THEN 1 ELSE 0 END AS cut
              |  FROM wen WINDOW dw AS (PARTITION BY doc_id ORDER BY w)),
              |seg AS (SELECT doc_id, w, energy,
              |    CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY w
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              |      AS BIGINT) AS segment_id
              |  FROM isl)
              |SELECT doc_id, segment_id,
              |  CAST(min(w) AS INT) AS start_w,
              |  CAST(max(w) AS INT) AS end_w,
              |  count(*) AS n_windows,
              |  max(energy) AS peak_energy,
              |  CAST(sum(energy) AS BIGINT) AS sum_energy
              |FROM seg GROUP BY doc_id, segment_id
              |ORDER BY doc_id, segment_id""".stripMargin),
      bench = true),

    "llm_crossmodal_clusters" -> Q((s, dir) => {
      // CROSS-MODAL duplicate clustering — the composition a 100 TB
      // multimodal corpus actually runs: a document survives only if
      // neither its TEXT near-duplicates nor its IMAGE near-duplicates
      // the kept set, so components are computed over the UNION of the
      // text MinHash-LSH edge set (llm_minhash_lsh_pairs' chain) and
      // the image phash edge set (the Hamming-verified pairs the image
      // gates share). Per-doc modality provenance comes back as
      // incident-edge counts per modality, so a curator can see WHY a
      // doc joined its cluster. Both edge frames are the existing
      // sub-quadratic banded chains; the union is one extra cheap
      // shuffle and Dedup.dedupClusters takes the edge frame as-is.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      // The two modality chains are independent until the union; their
      // eager checkpoints materialize CONCURRENTLY (Registry.inParallel,
      // guide §2.6) instead of back-to-back — the r14 sequence paid
      // text-chain wall + image-chain wall.
      val chains = Registry.inParallel(
        () => {
          val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
          val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
          val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
          val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
          Dedup.candidatePairs(bands, "doc_id").localCheckpoint(true)
        },
        () => phashVerifiedPairs(s, dir)._2
          .select("id_a", "id_b").localCheckpoint(true))
      val textPairs = chains(0)
      val imgPairs = chains(1)
      val edges = textPairs.unionByName(imgPairs).distinct()
      def degrees(pairs: org.apache.spark.sql.DataFrame, as: String) =
        pairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as(as))
      Dedup.dedupClusters(T(s, dir, "documents").select("doc_id"), "doc_id", edges)
        .join(degrees(textPairs, "n_text_edges"), Seq("doc_id"), "left")
        .join(degrees(imgPairs, "n_image_edges"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("component"), col("is_canonical"),
          col("cluster_size"),
          coalesce(col("n_text_edges"), lit(0L)).as("n_text_edges"),
          coalesce(col("n_image_edges"), lit(0L)).as("n_image_edges"))
        .orderBy("doc_id")
    }, Some {
      // The image-chain CTEs collide with the LSH chain on `bands`:
      // rename the whole image prefix (bands→ibands and the capped
      // continuation) — whole-token rewrite, `band`/`band_hash` column
      // names don't contain "bands".
      val imageCtes = phashPairsCtes.replace("bands", "ibands")
        .replace("bsize", "ibsize").replace("bx", "ibx")
        .replace("rp", "irp").replace("small_pairs", "ismall")
        .replace("big_pairs", "ibig").replace("cp ", "icp ")
        .replace("FROM cp", "FROM icp")
      s"""WITH RECURSIVE $toksCte, $shCte,
         |$lshPairsCtes,
         |$imageCtes,
         |alledges AS (SELECT id_a, id_b FROM lsh_pairs
         |  UNION SELECT id_a, id_b FROM vp),
         |${componentsCtes("alledges")},
         |$componentSizeCtes,
         |tdeg AS (SELECT doc_id, count(*) AS n FROM (
         |    SELECT id_a AS doc_id FROM lsh_pairs
         |    UNION ALL SELECT id_b FROM lsh_pairs) GROUP BY doc_id),
         |ideg AS (SELECT doc_id, count(*) AS n FROM (
         |    SELECT id_a AS doc_id FROM vp
         |    UNION ALL SELECT id_b FROM vp) GROUP BY doc_id)
         |SELECT a.doc_id, a.component, a.doc_id = a.component AS is_canonical,
         |  s.cluster_size,
         |  coalesce(t.n, 0) AS n_text_edges,
         |  coalesce(i.n, 0) AS n_image_edges
         |FROM assigned a JOIN sizes s USING (component)
         |LEFT JOIN tdeg t ON t.doc_id = a.doc_id
         |LEFT JOIN ideg i ON i.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin
    }, bench = true),

    "llm_crossmodal_4way" -> Q((s, dir) => {
      // FOUR-MODALITY duplicate clustering — the full composition over
      // every near-dup edge set the engine produces: text MinHash-LSH
      // candidates ∪ image phash Hamming-verified pairs ∪ audio
      // fingerprint MAD-verified pairs ∪ video temporal aligned-frame
      // pairs, components over the union, per-doc per-modality
      // incident-edge provenance plus n_modalities (how many distinct
      // modalities tie the doc to its cluster — the curator's "why did
      // this survive/die" signal). All four edge frames are the
      // existing sub-quadratic banded chains (each checkpointed at
      // pair granularity); the union adds ONE tagged degree aggregate
      // and one distinct — no modality is recomputed and nothing
      // quadratic appears at any corpus scale.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      // The four modality chains are independent until the union: build
      // them CONCURRENTLY (Registry.inParallel, guide §2.6) so the three
      // eager media checkpoints buried inside the helpers (image dHash,
      // audio decode, video frame hashes) overlap each other and the
      // text chain instead of running back-to-back; the union is then
      // checkpointed once as before (its job computes all four pair
      // chains in one DAG — AQE schedules those independent stages
      // concurrently already).
      val legs = Registry.inParallel(
        () => {
          val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
          val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
          val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
          val tbands = Dedup.lshBands(sig, "doc_id", 8, 2)
          Dedup.candidatePairs(tbands, "doc_id").withColumn("m", lit("text"))
        },
        () => phashVerifiedPairs(s, dir)._2
          .select("id_a", "id_b").withColumn("m", lit("image")),
        () => audioVerifiedPairs(s, dir)
          .select("id_a", "id_b").withColumn("m", lit("audio")),
        () => videoVerifiedPairs(s, dir)
          .select("id_a", "id_b").withColumn("m", lit("video")))
      val tagged = legs.reduce(_ unionByName _).localCheckpoint(true)
      val edges = tagged.select("id_a", "id_b").distinct()
      val deg = tagged
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"), col("m"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("m") === "text", 1L).otherwise(0L)).as("n_text_edges"),
          sum(when(col("m") === "image", 1L).otherwise(0L)).as("n_image_edges"),
          sum(when(col("m") === "audio", 1L).otherwise(0L)).as("n_audio_edges"),
          sum(when(col("m") === "video", 1L).otherwise(0L)).as("n_video_edges"))
      Dedup.dedupClusters(T(s, dir, "documents").select("doc_id"), "doc_id", edges)
        .join(deg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component"), col("is_canonical"),
          col("cluster_size"),
          coalesce(col("n_text_edges"), lit(0L)).as("n_text_edges"),
          coalesce(col("n_image_edges"), lit(0L)).as("n_image_edges"),
          coalesce(col("n_audio_edges"), lit(0L)).as("n_audio_edges"),
          coalesce(col("n_video_edges"), lit(0L)).as("n_video_edges"))
        .withColumn("n_modalities",
          (when(col("n_text_edges") > 0, 1).otherwise(0)
            + when(col("n_image_edges") > 0, 1).otherwise(0)
            + when(col("n_audio_edges") > 0, 1).otherwise(0)
            + when(col("n_video_edges") > 0, 1).otherwise(0)).cast("int"))
        .orderBy("doc_id")
    }, Some {
      // The image pixel chain's `bands` collides with the LSH chain's:
      // rename the image prefix only (plain .replace is safe — no other
      // token in phashHashCtes contains "bands"); audio/video band CTEs
      // are written fresh under a/v prefixes, and the capped candidate
      // machinery is generated by cappedEdgeCtes so all three binary
      // modalities share ONE authoritative oracle spelling.
      val imageHashCtes = phashHashCtes.replace("bands", "ibands")
      s"""WITH RECURSIVE $toksCte, $shCte,
         |$lshPairsCtes,
         |$imageHashCtes,
         |${cappedEdgeCtes("i", "ibands")},
         |ivp AS (SELECT c.id_a, c.id_b FROM icp c
         |  JOIN ph a ON a.doc_id = c.id_a JOIN ph b ON b.doc_id = c.id_b
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
         |$wavSampleCtes,
         |${audioWindowKeysCte("abands", "band", "band_hash")},
         |${cappedEdgeCtes("a", "abands")},
         |avp AS (SELECT c.id_a, c.id_b
         |  FROM acp c JOIN smp a ON a.doc_id = c.id_a
         |  JOIN smp b ON b.doc_id = c.id_b AND b.i = a.i
         |  GROUP BY c.id_a, c.id_b
         |  HAVING SUM(abs(a.s - b.s)) // 128 <= 16),
         |$videoHashCtes,
         |vbands AS (SELECT doc_id, frame_idx * 4 + b.b AS band,
         |    (phash >> CAST(14 * b.b AS INT)) & 16383 AS band_hash
         |  FROM vph, range(4) b(b)),
         |${cappedEdgeCtes("v", "vbands")},
         |vvp AS (SELECT c.id_a, c.id_b
         |  FROM vcp c JOIN vph a ON a.doc_id = c.id_a
         |  JOIN vph b ON b.doc_id = c.id_b AND b.frame_idx = a.frame_idx
         |  GROUP BY c.id_a, c.id_b
         |  HAVING SUM(bit_count(xor(a.phash, b.phash))) <= 6),
         |alledges AS (
         |  SELECT id_a, id_b, 'text' AS m FROM lsh_pairs
         |  UNION ALL SELECT id_a, id_b, 'image' FROM ivp
         |  UNION ALL SELECT id_a, id_b, 'audio' FROM avp
         |  UNION ALL SELECT id_a, id_b, 'video' FROM vvp),
         |uedge AS (SELECT DISTINCT id_a, id_b FROM alledges),
         |${componentsCtes("uedge")},
         |$componentSizeCtes,
         |deg AS (SELECT doc_id, m, count(*) AS n FROM (
         |    SELECT id_a AS doc_id, m FROM alledges
         |    UNION ALL SELECT id_b, m FROM alledges) GROUP BY doc_id, m),
         |pdeg AS (SELECT doc_id,
         |    coalesce(SUM(CASE WHEN m = 'text' THEN n END), 0) AS nt,
         |    coalesce(SUM(CASE WHEN m = 'image' THEN n END), 0) AS ni,
         |    coalesce(SUM(CASE WHEN m = 'audio' THEN n END), 0) AS na,
         |    coalesce(SUM(CASE WHEN m = 'video' THEN n END), 0) AS nv
         |  FROM deg GROUP BY doc_id)
         |SELECT a.doc_id, a.component, a.doc_id = a.component AS is_canonical,
         |  s.cluster_size,
         |  CAST(coalesce(p.nt, 0) AS BIGINT) AS n_text_edges,
         |  CAST(coalesce(p.ni, 0) AS BIGINT) AS n_image_edges,
         |  CAST(coalesce(p.na, 0) AS BIGINT) AS n_audio_edges,
         |  CAST(coalesce(p.nv, 0) AS BIGINT) AS n_video_edges,
         |  CAST((coalesce(p.nt, 0) > 0)::INT + (coalesce(p.ni, 0) > 0)::INT
         |    + (coalesce(p.na, 0) > 0)::INT + (coalesce(p.nv, 0) > 0)::INT
         |    AS INT) AS n_modalities
         |FROM assigned a JOIN sizes s USING (component)
         |LEFT JOIN pdeg p ON p.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin
    }, bench = true),

    // ----- JSON prop extraction over events (F23 companion) ------------
    "llm_json_props_agg" -> Q((s, dir) =>
      T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- decontamination / mixing / quality filtering -----------------
    "llm_decontaminate" -> Q((s, dir) => {
      // Eval-set leakage guard: training docs (id >= 10) sharing any
      // 5-gram with the eval docs (id < 10) are dropped. The eval
      // shingle set broadcasts; the corpus never shuffles.
      val docs = T(s, dir, "documents")
      Dedup.decontaminate(docs.filter(col("doc_id") >= 10),
          docs.filter(col("doc_id") < 10), "doc_id", "text", 5)
        .select("doc_id").orderBy("doc_id")
    }, Some(s"""WITH $toksCte, $sh5Cte
               |SELECT doc_id FROM documents
               |WHERE doc_id >= 10 AND doc_id NOT IN (
               |  SELECT DISTINCT t.doc_id FROM sh5 t
               |  JOIN (SELECT DISTINCT shingle FROM sh5 WHERE doc_id < 10) e
               |    ON t.shingle = e.shingle
               |  WHERE t.doc_id >= 10)
               |ORDER BY doc_id""".stripMargin)),

    "llm_mixture_sample" -> Q((s, dir) =>
      // Data-mixing weights: src0 zeroed out, src1 at 25%, src2 at 50%,
      // everything else kept — decided per row by the id's md5 bucket,
      // so the oracle reproduces the exact kept set.
      Splits.mixtureSample(T(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 0, "src1" -> 2500, "src2" -> 5000))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (SELECT doc_id, source,
             |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
             |      AS bucket FROM documents)
             |WHERE bucket < CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 2500
             |  WHEN 'src2' THEN 5000 ELSE 10000 END
             |ORDER BY doc_id""".stripMargin)),

    "llm_quality_filter" -> Q((s, dir) =>
      // Composite keep/drop with explainable reasons: each failed
      // threshold lands in fail_reasons; keep is their conjunction.
      TextOps.qualityFilter(T(s, dir, "documents").select("doc_id", "text"),
          minTokens = 20, maxTokens = 100000,
          maxPunctRatio = 0.06, minStopwordRatio = 0.05)
        // Gate projection stringifies the reason array: the driver's
        // compare sorts columns in pandas, which cannot hash raw arrays.
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(",", col("fail_reasons")).as("fail_reasons"), col("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH st AS (SELECT doc_id,
              |$qualStatsCols
              |  FROM documents),
              |r AS (SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
              |    $failReasonsSql AS fail_reasons
              |  FROM st)
              |SELECT doc_id, n_tokens,
              |  coalesce(array_to_string(fail_reasons, ','), '') AS fail_reasons,
              |  len(fail_reasons) = 0 AS keep
              |FROM r ORDER BY doc_id""".stripMargin)),

    // ----- corpus n-gram statistics -------------------------------------
    "llm_top_bigrams" -> Q((s, dir) => {
      // Corpus-level bigram frequencies, top 50 — the n-gram census that
      // feeds boilerplate detection. Per-doc bigram arrays explode then
      // one hash aggregate; ties in the tail break on the bigram string
      // so the cut is total.
      val d = T(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("_toks"))
        .filter(size(col("_toks")) >= 2)
      d.select(explode(expr(
          """transform(sequence(0, size(_toks) - 2),
            |  i -> concat(element_at(_toks, i + 1), ' ', element_at(_toks, i + 2)))"""
            .stripMargin)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram")).limit(50)
    }, Some(s"""WITH $toksCte,
               |bg AS (SELECT unnest(list_transform(range(1, len(t)),
               |    i -> t[i] || ' ' || t[i+1])) AS bigram
               |  FROM toks WHERE len(t) >= 2)
               |SELECT bigram, count(*) AS cnt FROM bg
               |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin)),

    "llm_pmi_collocations" -> Q((s, dir) =>
      // PMI collocation mining (TextOps.pmiCollocations): bigrams scored
      // against unigram independence — exact integer counts, each PMI
      // one ln of a product of DOUBLE-cast factors mirrored verbatim in
      // the oracle; min-count 5 kills the rare-pair PMI bias.
      TextOps.pmiCollocations(T(s, dir, "documents").select("text"),
        minCount = 5L, topK = 30),
      Some(s"""WITH $toksCte,
              |uc AS (SELECT tok, count(*) AS cu FROM (
              |    SELECT unnest(t) AS tok FROM toks) WHERE tok <> '' GROUP BY tok),
              |nt AS (SELECT CAST(sum(cu) AS DOUBLE) AS nt FROM uc),
              |bg AS (SELECT t[i] AS l, t[i+1] AS r FROM toks,
              |    LATERAL (SELECT unnest(range(1, len(t))) AS i) WHERE len(t) >= 2),
              |bc AS (SELECT l, r, count(*) AS cxy FROM bg GROUP BY l, r),
              |nb AS (SELECT CAST(sum(cxy) AS DOUBLE) AS nb FROM bc),
              |j AS (SELECT b.l, b.r, b.cxy,
              |    round(ln((CAST(b.cxy AS DOUBLE) * nt.nt * nt.nt) /
              |        (nb.nb * CAST(ul.cu AS DOUBLE) * CAST(ur.cu AS DOUBLE))), 4) AS pmi
              |  FROM bc b JOIN uc ul ON ul.tok = b.l JOIN uc ur ON ur.tok = b.r
              |  CROSS JOIN nt CROSS JOIN nb
              |  WHERE b.cxy >= 5)
              |SELECT l || ' ' || r AS bigram, cxy, pmi FROM j
              |ORDER BY pmi DESC, bigram LIMIT 30""".stripMargin)),

    // ----- chunking + embedding quantization ----------------------------
    "llm_chunk_documents" -> Q((s, dir) =>
      // Sliding 12-token windows every 8 tokens (overlap 4) — documents
      // become training sequences with ragged tails kept. The oracle
      // re-derives identical windows from DuckDB list slicing.
      TextOps.chunk(T(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", chunkTokens = 12, stride = 8)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH $toksCte,
              |c AS (SELECT doc_id, t, range(0, len(t), 8) AS starts FROM toks)
              |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
              |  array_to_string(t[starts[i] + 1 : starts[i] + 12], ' ') AS chunk_text,
              |  CAST(LEAST(12, len(t) - starts[i]) AS INT) AS n_tokens
              |FROM c, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i)
              |ORDER BY doc_id, chunk_id""".stripMargin)),

    "llm_tokenize_ids" -> Q((s, dir) =>
      // chunk → fixed-range id arrays (TextOps.hashTokenIds): the
      // text-to-tensors bridge with a feature-hashed 50257-slot vocab.
      TextOps.chunk(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 12, stride = 8)
        // Stringified id list in the gate projection (driver compare
        // cannot hash array cells); the library column stays array<int>.
        .select(col("doc_id"), col("chunk_id"),
          concat_ws(",", TextOps.hashTokenIds(col("chunk_text"), 50257)
            .cast("array<string>")).as("token_ids"))
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH $toksCte,
              |c AS (SELECT doc_id, t, range(0, len(t), 8) AS starts FROM toks)
              |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
              |  coalesce(array_to_string(
              |    list_transform(t[starts[i] + 1 : starts[i] + 12], tok ->
              |      CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 50257 AS INT)),
              |    ','), '') AS token_ids
              |FROM c, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i)
              |ORDER BY doc_id, chunk_id""".stripMargin)),

    "llm_pack_sequences" -> Q((s, dir) =>
      // Chunks packed into 64-token training bins within 8 hash shards
      // (TextOps.packSequences): one window shuffle, deterministic
      // bin ids, overflow bounded by one chunk.
      TextOps.packSequences(
          TextOps.chunk(T(s, dir, "documents").select("doc_id", "text"),
            "doc_id", "text", chunkTokens = 12, stride = 8)
            .withColumn("shard", pmod(col("doc_id"), lit(8))),
          "shard", Seq("doc_id", "chunk_id"), "n_tokens", capacity = 64)
        .select("doc_id", "chunk_id", "shard", "n_tokens", "bin_id")
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH $toksCte,
              |c AS (SELECT doc_id, t, range(0, len(t), 8) AS starts FROM toks),
              |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
              |    doc_id % 8 AS shard,
              |    CAST(LEAST(12, len(t) - starts[i]) AS INT) AS n_tokens
              |  FROM c, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i))
              |SELECT doc_id, chunk_id, shard, n_tokens,
              |  CAST((CAST(SUM(n_tokens) OVER (PARTITION BY shard
              |      ORDER BY doc_id, chunk_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |    - n_tokens) // 64 AS BIGINT) AS bin_id
              |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    "llm_embed_quantize" -> Q((s, dir) =>
      // Per-vector min-max 8-bit quantization (Similarity.quantize): the
      // 4× storage shrink before ANN indexing. Codes are computed in
      // DOUBLE from exact float inputs, so DuckDB reproduces every code.
      Similarity.quantize(T(s, dir, "embeddings").select("vec_id", "embedding"))
        // Stringified code list in the gate projection (driver compare
        // cannot hash array cells); the library column stays array<int>.
        .select(col("vec_id"), col("q_min"), col("q_max"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, mn AS q_min, mx AS q_max,
             |  coalesce(array_to_string(
             |    list_transform(embedding, v -> CAST(coalesce(
             |      round((CAST(v AS DOUBLE) - mn) / nullif(mx - mn, 0.0) * 255.0),
             |      0.0) AS INT)), ','), '') AS codes
             |FROM (SELECT vec_id, embedding,
             |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
             |    CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
             |  FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // ----- deterministic splits + stratified sampling -------------------
    "llm_hash_split" -> Q((s, dir) =>
      // Train/val/test as a pure function of doc_id (Splits.assignSplits):
      // no seed, no shuffle, stable across engines — the oracle recomputes
      // the same md5-bucket assignment in DuckDB and must agree row-by-row.
      Splits.assignSplits(T(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN bucket < 8000 THEN 'train'
             |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
             |      AS bucket FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    "llm_countmin_tokens" -> Q((s, dir) => {
      // Count-Min point-frequency sketch over the token stream
      // (operators/CountMin): constant-size mergeable counters, one
      // explode + ONE hash aggregate to build — the key universe never
      // shuffles. md5-derived buckets make the whole sketch
      // deterministic, so the oracle replays build AND estimate
      // bit-for-bit; the one-sided guarantee (estimate >= exact) rides
      // along as a checked column for every probe token.
      val tok = T(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      val sketch = CountMin.build(tok, "token")
      val exact = tok.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .filter(col("exact_n") >= 50)
      exact.join(CountMin.estimate(sketch, exact.select("token"), "token"), "token")
        .select(col("token"), col("exact_n"), col("cm_estimate"),
          (col("cm_estimate") >= col("exact_n")).as("one_sided_ok"))
        .orderBy("token")
    }, Some(s"""WITH $toksCte,
               |tok AS (SELECT unnest(t) AS token FROM toks),
               |sk AS (SELECT r, ('0x' || substring(md5('cm' || CAST(r AS VARCHAR)
               |      || '|' || token), 1, 8))::BIGINT % 256 AS b,
               |    count(*) AS c
               |  FROM tok, (VALUES (0),(1),(2),(3)) g(r) GROUP BY 1, 2),
               |ex AS (SELECT token, count(*) AS exact_n FROM tok
               |  GROUP BY token HAVING count(*) >= 50),
               |probe AS (SELECT token, r, ('0x' || substring(md5('cm'
               |      || CAST(r AS VARCHAR) || '|' || token), 1, 8))::BIGINT % 256 AS b
               |  FROM ex, (VALUES (0),(1),(2),(3)) g(r)),
               |est AS (SELECT p.token, MIN(COALESCE(sk.c, 0)) AS cm_estimate
               |  FROM probe p LEFT JOIN sk ON sk.r = p.r AND sk.b = p.b
               |  GROUP BY p.token)
               |SELECT ex.token AS token, ex.exact_n, est.cm_estimate,
               |  est.cm_estimate >= ex.exact_n AS one_sided_ok
               |FROM ex JOIN est ON ex.token = est.token
               |ORDER BY ex.token""".stripMargin)),

    "llm_kmv_distinct" -> Q((s, dir) => {
      // KMV bottom-k distinct sketch as a native TypedImperativeAggregate
      // (plans/KmvDistinct, also SQL-registered via GraftExtensions):
      // partial aggregation reduces each map task to a <=k-entry sorted
      // set, so the shuffle carries 8k-byte sketches, never token hashes.
      // Integer-only estimator over md5 hashes — the exactly-replayable
      // member of the sketch family (HLL's registers are engine-private;
      // this oracle replays the ESTIMATE bit-for-bit). exact_distinct
      // rides along to exhibit the ~1/sqrt(k) accuracy on real data.
      val hv = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
      T(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("source"), hv.as("hv"))
        .groupBy("source")
        .agg(graft.plans.KmvDistinct.kmv(col("hv"), 64).as("kmv_est"),
          countDistinct(col("hv")).as("exact_distinct"))
        .orderBy("source")
    }, Some(s"""WITH $toksCte,
               |tok AS (SELECT d.source, unnest(t.t) AS tok
               |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
               |h AS (SELECT DISTINCT source,
               |    ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hv FROM tok),
               |r AS (SELECT source, hv,
               |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
               |    count(*) OVER (PARTITION BY source) AS cnt FROM h)
               |SELECT source,
               |  CASE WHEN max(cnt) < 64 THEN max(cnt)
               |    ELSE 63 * 4294967296 // (max(CASE WHEN rn = 64 THEN hv END) + 1)
               |    END AS kmv_est,
               |  max(cnt) AS exact_distinct
               |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ----- sign-random-projection LSH (hyperplane / SimHash-for-vectors) -
    "llm_hyperplane_sig" -> Q((s, dir) =>
      // 16-bit sign-of-projection signature per embedding
      // (Similarity.hyperplaneSig): the index-free ANN signature — pure
      // projection, zero shuffle, hyperplanes re-derived from md5 parity
      // independently by the oracle.
      T(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.hyperplaneSig(col("embedding"), 64, 16).as("rp_sig"))
        .orderBy("vec_id"),
      Some(s"""WITH $rpsCtes
              |SELECT vec_id, rp_sig FROM rps ORDER BY vec_id""".stripMargin)),

    "llm_random_projection" -> Q((s, dir) => {
      // JL random projection 64→8 (Similarity.randomProjection) plus
      // the distortion audit that makes it trustworthy: for derived
      // probe pairs, squared L2 in the original vs reduced space and
      // their ratio (E[ratio]=1 under JL). Projection and distances are
      // left folds + one divide — bit-identical across engines, no
      // rounding needed anywhere.
      val emb = T(s, dir, "embeddings")
      val n = emb.count()
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      val proj = emb.select(col("vec_id"),
        Similarity.asDoubleVec(col("embedding")).as("vv"),
        Similarity.randomProjection(col("embedding"), 64, 8).as("y"))
      val pairs = proj.filter(col("vec_id") < 15)
        .select(col("vec_id").as("id_a"), col("vv").as("va"), col("y").as("ya"),
          ((col("vec_id") * 37 + 11) % n).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      pairs
        .join(proj.select(col("vec_id").as("id_b"), col("vv").as("vb"),
          col("y").as("yb")), "id_b")
        .select(col("id_a"), col("id_b"),
          d2(col("va"), col("vb")).as("d2_orig"),
          d2(col("ya"), col("yb")).as("d2_proj"))
        .withColumn("distortion",
          when(col("d2_orig") === 0, lit(0.0))
            .otherwise(col("d2_proj") / col("d2_orig")))
        .orderBy("id_a")
    }, Some({
      val odd = "('1','3','5','7','9','b','d','f')"
      s"""WITH ${vCte()},
         |nn AS (SELECT count(*) AS n FROM v),
         |rpp AS (SELECT j, list_transform(range(0, 64), i ->
         |    CASE WHEN substring(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
         |      IN $odd THEN 1.0 ELSE -1.0 END) AS h
         |  FROM (SELECT unnest(range(0, 8)) AS j)),
         |proj AS (SELECT v.vec_id, j, ${dotSql("v.vv", "rpp.h")} / sqrt(8.0) AS yj
         |  FROM v CROSS JOIN rpp),
         |y AS (SELECT vec_id, list(yj ORDER BY j) AS y FROM proj GROUP BY vec_id),
         |p2 AS (SELECT vec_id AS id_a, (vec_id * 37 + 11) % (SELECT n FROM nn) AS id_b
         |  FROM v WHERE vec_id < 15),
         |f AS (SELECT p.id_a, p.id_b,
         |    ${d2Sql("va.vv", "vb.vv")} AS d2_orig,
         |    ${d2Sql("ya.y", "yb.y")} AS d2_proj
         |  FROM p2 p
         |  JOIN v va ON va.vec_id = p.id_a JOIN v vb ON vb.vec_id = p.id_b
         |  JOIN y ya ON ya.vec_id = p.id_a JOIN y yb ON yb.vec_id = p.id_b
         |  WHERE p.id_a <> p.id_b)
         |SELECT id_a, id_b, d2_orig, d2_proj,
         |  CASE WHEN d2_orig = 0 THEN 0.0e0 ELSE d2_proj / d2_orig END AS distortion
         |FROM f ORDER BY id_a""".stripMargin
    })),

    "llm_hyperplane_pairs" -> Q((s, dir) => {
      // Banded-LSH candidates over the hyperplane signatures (any 4-bit
      // band agrees exactly), verified by full-signature Hamming ≤ 6 —
      // bit_count(xor), codegen'd. Same single-aggregation bucket
      // expansion as the MinHash pipeline: never all-pairs.
      val sigs = T(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.hyperplaneSig(col("embedding"), 64, 16).as("rp_sig"))
      Similarity.hyperplanePairs(sigs, "vec_id", "rp_sig", 16, 4, 6)
        .orderBy("id_a", "id_b")
    }, Some(s"""WITH $rpsCtes,
               |bands AS (SELECT vec_id, b, (rp_sig >> (b * 4)) & 15 AS bv
               |  FROM rps, (SELECT unnest(range(0, 4)) AS b)),
               |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               |  FROM bands x JOIN bands y
               |    ON x.b = y.b AND x.bv = y.bv
               |  WHERE x.vec_id < y.vec_id)
               |SELECT c.id_a, c.id_b,
               |  CAST(bit_count(xor(a.rp_sig, b.rp_sig)) AS INT) AS hamming
               |FROM cand c
               |JOIN rps a ON a.vec_id = c.id_a
               |JOIN rps b ON b.vec_id = c.id_b
               |WHERE bit_count(xor(a.rp_sig, b.rp_sig)) <= 6
               |ORDER BY id_a, id_b""".stripMargin), bench = true),

    "llm_hyperplane_capped" -> Q((s, dir) => {
      // The CAPPED hyperplane-LSH path oracle-gated (r9 verdict item 1):
      // the production variant for 100 TB, where a saturated 4-bit-band
      // bucket (Σ bucket² quadratic — the r9 stress finding) is bounded
      // by the member↔representative star expansion. The corpus is
      // embeddings plus 40 clones of the min-vec_id vector (ids
      // 1000000+i) — identical vectors share every band value, so the
      // clone bucket is oversized in all 4 bands and MUST take the
      // star path (maxBucket=16, reps=4, md5-order election); ordinary
      // buckets keep the exact expansion. Star pairs still verify by
      // full-signature Hamming ≤ 6. The oracle re-derives signatures,
      // bucket sizes, the md5 rep election, and both expansions
      // independently.
      val emb = T(s, dir, "embeddings")
      val boiler = emb.orderBy("vec_id").limit(1)
      val clones = s.range(1, 41).crossJoin(boiler)
        .select((col("id") + lit(1000000L)).as("vec_id"), col("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(clones)
      val sigs = corpus.select(col("vec_id"),
        Similarity.hyperplaneSig(col("embedding"), 64, 16).as("rp_sig"))
      Similarity.hyperplanePairs(sigs, "vec_id", "rp_sig", 16, 4, 6,
          maxBucket = 16, reps = 4)
        .orderBy("id_a", "id_b")
    }, Some({
      val corpusCte =
        """corpus AS (SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT CAST(1000000 + r.i AS BIGINT) AS vec_id, b.embedding
          |  FROM range(1, 41) r(i) CROSS JOIN
          |    (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1) b)""".stripMargin
      s"""WITH $corpusCte,
         |${rpsCtesFor("corpus")},
         |bands AS (SELECT vec_id, b, (rp_sig >> (b * 4)) & 15 AS bv
         |  FROM rps, (SELECT unnest(range(0, 4)) AS b)),
         |bsize AS (SELECT b, bv, count(*) AS n FROM bands GROUP BY b, bv),
         |bx AS (SELECT x.vec_id, x.b, x.bv, s.n > 16 AS oversized
         |  FROM bands x JOIN bsize s USING (b, bv) WHERE s.n > 1),
         |rp AS (SELECT b, bv, vec_id AS rep FROM (
         |    SELECT b, bv, vec_id,
         |      row_number() OVER (PARTITION BY b, bv
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |    FROM bx WHERE oversized) z WHERE rk <= 4),
         |small_pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bx x JOIN bx y ON x.b = y.b AND x.bv = y.bv
         |    AND x.vec_id < y.vec_id
         |  WHERE NOT x.oversized),
         |big_pairs AS (SELECT least(m.vec_id, r.rep) AS id_a,
         |    greatest(m.vec_id, r.rep) AS id_b
         |  FROM bx m JOIN rp r ON m.b = r.b AND m.bv = r.bv
         |  WHERE m.oversized AND m.vec_id <> r.rep),
         |cand AS (SELECT DISTINCT id_a, id_b FROM
         |  (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs))
         |SELECT c.id_a, c.id_b,
         |  CAST(bit_count(xor(a.rp_sig, b.rp_sig)) AS INT) AS hamming
         |FROM cand c
         |JOIN rps a ON a.vec_id = c.id_a
         |JOIN rps b ON b.vec_id = c.id_b
         |WHERE bit_count(xor(a.rp_sig, b.rp_sig)) <= 6
         |ORDER BY id_a, id_b""".stripMargin
    })),

    // ----- hybrid retrieval: BM25 + reciprocal-rank fusion ---------------
    "llm_bm25_topk" -> Q((s, dir) =>
      // BM25 top-20 for a fixed query term set (TextOps.bm25TopDocs):
      // lexical retrieval with corpus stats broadcast and top-k via
      // TakeOrderedAndProject, never a single-partition window. Scores
      // accumulate fixed-point (floor(x*1e12) in DECIMAL(38,0), the
      // portable form — r9 stress finding); the oracle mirrors the
      // exact expression shape.
      TextOps.bm25TopDocs(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", Seq("hash", "join", "vector", "stream"), 20)
        .orderBy(col("bm25_score").desc, col("doc_id")),
      Some(s"""WITH $toksCte,
              |dls AS (SELECT doc_id, len(t) AS dl FROM toks),
              |stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
              |  FROM dls),
              |tf AS (SELECT doc_id, term, count(*) AS tf
              |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
              |  WHERE term IN ('hash', 'join', 'vector', 'stream')
              |  GROUP BY doc_id, term),
              |tfd AS (SELECT f.doc_id, f.term, f.tf, d.dl
              |  FROM tf f JOIN dls d USING (doc_id)),
              |wdf AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tfd),
              |scored AS (SELECT doc_id,
              |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
              |      * (tf * (1.2 + 1.0))
              |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl
              |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS tscore
              |  FROM wdf CROSS JOIN stats),
              |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
              |    SUM(CAST(floor(tscore * 1000000000000.0) AS DECIMAL(38,0))) AS sd
              |  FROM scored GROUP BY doc_id)
              |SELECT doc_id, n_terms_hit,
              |  CAST(sd AS DOUBLE) / 1000000000000.0 AS bm25_score
              |FROM agg ORDER BY sd DESC, doc_id LIMIT 20""".stripMargin),
      bench = true),

    "llm_rrf_fusion" -> Q((s, dir) => {
      // Hybrid retrieval: cosine top-5 and L2 top-5 lists fused by
      // reciprocal rank (Similarity.rrfFuse) — contributions rounded to
      // 12 dp and summed in DECIMAL so the fused order is
      // engine-identical. Both input lists reuse the broadcast-query /
      // corpus-never-shuffles retrieval shape.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val cos = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id", "rank")
      val l2 = Similarity.l2TopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id", "rank")
      Similarity.rrfFuse(Seq(cos, l2), 60)
        .orderBy("query_id", "fused_rank")
    }, Some({
      s"""WITH ${vCte()},
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 10),
         |cos_pairs AS (
         |  SELECT q.query_id, c.vec_id AS corpus_id, ${simSql("q.qv", "c.vv")} AS sim
         |  FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |cos_top AS (SELECT query_id, corpus_id, rnk FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk
         |  FROM cos_pairs) WHERE rnk <= 5),
         |l2_pairs AS (
         |  SELECT q.query_id, c.vec_id AS corpus_id, ${l2Sql("q.qv", "c.vv")} AS dist
         |  FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |l2_top AS (SELECT query_id, corpus_id, rnk FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, corpus_id) AS rnk
         |  FROM l2_pairs) WHERE rnk <= 5),
         |contrib AS (
         |  SELECT query_id, corpus_id,
         |    CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(18,12)) AS c
         |  FROM cos_top
         |  UNION ALL
         |  SELECT query_id, corpus_id,
         |    CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(18,12)) AS c
         |  FROM l2_top),
         |fused AS (SELECT query_id, corpus_id,
         |    CAST(count(*) AS INT) AS n_lists, SUM(c) AS rrf_dec
         |  FROM contrib GROUP BY query_id, corpus_id)
         |SELECT query_id, corpus_id, n_lists,
         |  CAST(rrf_dec AS DOUBLE) AS rrf_score,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_dec DESC, corpus_id) AS INT) AS fused_rank
         |FROM fused ORDER BY query_id, fused_rank""".stripMargin
    })),

    // ----- token entropy (information-density quality signal) ------------
    "llm_token_entropy" -> Q((s, dir) =>
      // Per-doc unigram entropy in nats (TextOps.tokenEntropy): each
      // (c/n)·ln(n/c) term is an engine-identical double, accumulated
      // fixed-point (floor(x*1e12)) — exact, order-independent.
      TextOps.tokenEntropy(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |tc AS (SELECT doc_id, tok, count(*) AS c
              |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              |  WHERE tok <> '' GROUP BY doc_id, tok),
              |wn AS (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc)
              |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
              |  count(*) AS n_distinct,
              |  CAST(SUM(CAST(floor((c / n) * ln(n / c) * 1000000000000.0)
              |    AS DECIMAL(38,0))) AS DOUBLE) / 1000000000000.0 AS entropy
              |FROM wn GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- sub-document dedup + statistical quality ----------------------
    "llm_entity_resolution" -> Q((s, dir) => {
      // Blocked ENTITY RESOLUTION (TextOps.blockedEditDistancePairs) —
      // record linkage at the record-field granularity MinHash is wrong
      // for: 4 records per entity (seed = custkey div 4) carry the
      // md5-derived base name verbatim, with one substituted char
      // (dist 1), one appended char (dist 1), and one 4-char suffix
      // (dist 4 — MUST be dropped by the verify). Blocking on the
      // 6-char prefix replaces all-pairs with an equi-join; the
      // |length diff| ≤ 2 pre-filter kills the far variant before any
      // DP runs (its pairs never reach levenshtein); the THRESHOLDED
      // levenshtein abandons the DP at distance > 2. The oracle
      // replays names, blocking, the length filter, and full edit
      // distances — a pre-filter that's too aggressive or a threshold
      // off-by-one diverges.
      TextOps.blockedEditDistancePairs(entityRecs(s, dir), "rec_id", "name",
          prefixLen = 6, maxDist = 2)
        .orderBy("id_a", "id_b")
    }, Some(s"""WITH $entityRecsCtes,
              |cand AS (SELECT x.rec_id AS id_a, y.rec_id AS id_b,
              |    CAST(levenshtein(x.name, y.name) AS INT) AS dist
              |  FROM recs x JOIN recs y
              |    ON substring(x.name, 1, 6) = substring(y.name, 1, 6)
              |    AND x.rec_id < y.rec_id
              |    AND abs(len(x.name) - len(y.name)) <= 2)
              |SELECT id_a, id_b, dist FROM cand WHERE dist <= 2
              |ORDER BY id_a, id_b""".stripMargin)),

    "llm_url_normalize" -> Q((s, dir) => {
      // URL canonicalization before URL-level dedup (TextOps
      // .normalizeUrl): four spellings of every entity's URL —
      // mixed-case host, SHOUTED host + :443 + www., tracking param +
      // fragment, trailing slash + gclid — must collapse to ONE
      // canonical form, while the PATH keeps its case ('/Item/p…'
      // survives un-lowered: a lower(whole-url) shortcut diverges
      // here). Grouping by the normalized URL must therefore produce
      // exactly one row per entity with n = 4; the oracle replays
      // every regexp step with RE2 spellings, so a pattern outside the
      // Java∩RE2 subset, a wrong rule order, or an over-eager
      // lowercase diverges.
      val g = "CAST(c_custkey DIV 4 AS STRING)"
      val urls = T(s, dir, "customer").select(
        col("c_custkey").as("rec_id"),
        expr(s"""CASE CAST(c_custkey % 4 AS INT)
                |  WHEN 0 THEN concat('https://Shop', $g, '.Example.com/Item/p', $g, '?id=', $g)
                |  WHEN 1 THEN concat('HTTPS://WWW.SHOP', $g, '.EXAMPLE.COM:443/Item/p', $g, '?id=', $g)
                |  WHEN 2 THEN concat('https://www.Shop', $g, '.example.com/Item/p', $g, '?id=', $g, '&utm_source=feed#frag')
                |  ELSE concat('https://shop', $g, '.example.com/Item/p', $g, '/?id=', $g, '&gclid=xyz')
                |END""".stripMargin).as("url"))
      urls.select(col("rec_id"), TextOps.normalizeUrl(col("url")).as("url_norm"))
        .groupBy("url_norm")
        .agg(count(lit(1)).as("n"), min(col("rec_id")).as("first_rec"))
        .orderBy("url_norm")
    }, Some(s"""WITH e AS (SELECT c_custkey AS rec_id,
              |    CAST(c_custkey // 4 AS VARCHAR) AS g, c_custkey % 4 AS v
              |  FROM customer),
              |urls AS (SELECT rec_id, CASE v
              |    WHEN 0 THEN 'https://Shop' || g || '.Example.com/Item/p' || g || '?id=' || g
              |    WHEN 1 THEN 'HTTPS://WWW.SHOP' || g || '.EXAMPLE.COM:443/Item/p' || g || '?id=' || g
              |    WHEN 2 THEN 'https://www.Shop' || g || '.example.com/Item/p' || g || '?id=' || g || '&utm_source=feed#frag'
              |    ELSE 'https://shop' || g || '.example.com/Item/p' || g || '/?id=' || g || '&gclid=xyz' END AS url
              |  FROM e),
              |$urlNormCtes
              |SELECT url_norm, count(*) AS n, min(rec_id) AS first_rec
              |FROM norm GROUP BY url_norm ORDER BY url_norm""".stripMargin)),

    "llm_segment_dedup" -> Q((s, dir) =>
      // Segment-level dedup (TextOps.segmentDedup): 12-token segments
      // survive only at their first (doc, position) occurrence — the
      // boilerplate killer whole-document dedup can't see. Shuffle keys
      // are segment md5s, not raw text.
      TextOps.segmentDedup(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 12)
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |c AS (SELECT doc_id, t, range(0, len(t), 12) AS starts FROM toks),
              |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
              |    array_to_string(t[starts[i] + 1 : starts[i] + 12], ' ') AS chunk_text
              |  FROM c, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i)),
              |rn AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
              |    ORDER BY doc_id, chunk_id) AS rn FROM ch)
              |SELECT doc_id, CAST(count(*) AS INT) AS n_chunks,
              |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
              |  coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_id)
              |    FILTER (WHERE rn = 1), '') AS kept_text,
              |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE) AS kept_frac
              |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "llm_unigram_ppl" -> Q((s, dir) =>
      // CCNet-style statistical quality: per-doc cross-entropy under the
      // corpus unigram LM (TextOps.unigramCrossEntropy). Counts frame
      // broadcasts (vocab ≪ corpus); surprisals sum fixed-point on the
      // 1e6 grid (round(x,12) flipped 68/500 docs on the r9 stress
      // corpus, and the 1e12 grid itself flips on libm ln ulp
      // disagreements once the vocab is realistic — r11 find, see
      // TextOps.unigramCrossEntropy).
      TextOps.unigramCrossEntropy(
          T(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |tkf AS (SELECT doc_id, term FROM
              |  (SELECT doc_id, unnest(t) AS term FROM toks) WHERE term <> ''),
              |cnts AS (SELECT term, count(*) AS cnt FROM tkf GROUP BY term),
              |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM cnts),
              |sp AS (SELECT doc_id,
              |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(cnt AS DOUBLE))
              |      * 1000000.0) AS DECIMAL(38,0)) AS s
              |  FROM tkf JOIN cnts USING (term) CROSS JOIN tot)
              |SELECT doc_id, count(*) AS n_tokens,
              |  CAST(SUM(s) AS DOUBLE) / 1000000.0
              |    / CAST(count(*) AS DOUBLE) AS cross_entropy
              |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "llm_bigram_ppl" -> Q((s, dir) =>
      // KenLM-shaped quality score: per-doc cross-entropy under the
      // add-one-smoothed corpus bigram LM (TextOps.bigramCrossEntropy).
      // Exact-integer model (bigram counts, start counts, vocab size);
      // fixed-point surprisal sums per the round-9 doctrine.
      TextOps.bigramCrossEntropy(
          T(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id"),
      // bg is MATERIALIZED for the same reason as the shingle census
      // (shCte): three references (bc, sc, sp) re-run the 40M-row
      // string-bigram pipeline concurrently when inlined — with the
      // r11 Zipfian vocabulary the bigram model is millions of rows
      // (vs 1600 under the 40-word vocab) and the concurrent copies
      // spilled the sf10 oracle to disk-full. One materialization is
      // semantically identical; noise at the sf0.01 driver scale.
      Some(s"""WITH $toksCte,
              |bg AS MATERIALIZED (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
              |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
              |  WHERE len(t) >= 2),
              |bc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
              |sc AS (SELECT w1, count(*) AS c_start FROM bg GROUP BY w1),
              |voc AS (SELECT count(DISTINCT w) AS v FROM
              |  (SELECT unnest(t) AS w FROM toks) WHERE w <> ''),
              |sp AS (SELECT doc_id,
              |    CAST(floor(ln(CAST(c_start + v AS DOUBLE)
              |      / CAST(c_bg + 1 AS DOUBLE)) * 1e6) AS DECIMAL(38,0)) AS s
              |  FROM bg JOIN bc USING (bg) JOIN sc USING (w1) CROSS JOIN voc),
              |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |    SUM(s) AS ssum FROM sp GROUP BY doc_id)
              |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
              |  coalesce(p.n_bigrams, 0) AS n_bigrams,
              |  CAST(p.ssum AS DOUBLE) / 1e6 / CAST(p.n_bigrams AS DOUBLE) AS ce2_nats
              |FROM toks t LEFT JOIN pd p USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin)),

    "llm_stratified_sample" -> Q((s, dir) =>
      // Class-balance cap: at most 20 docs per language, drawn by hash
      // order (Splits.stratifiedCap) — deterministic, so both engines
      // keep the identical subset.
      Splits.stratifiedCap(T(s, dir, "documents").select("doc_id", "lang"),
        Seq("lang"), "doc_id", 20)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, row_number() OVER (
             |      PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin)),

    "llm_containment_dedup" -> Q((s, dir) => {
      // Asymmetric containment |A∩B|/|A| over LSH candidates
      // (Dedup.containmentPairs): the sub-document/quotation detector
      // Jaccard misses. Same LSH chain as llm_minhash_lsh_pairs, then
      // the shingle ARRAYS attach to the (tiny) candidate set — the
      // corpus-sized shingle stream never re-shuffles.
      // Project to the two columns the LSH chain reads BEFORE the
      // parallelizing exchange (guide §2.3 "project before the
      // exchange"), and size that exchange from the input bytes rather
      // than a local[32] constant (Registry.spread — guide §2.2; the
      // old 2×cores constant made downstream shuffles write 2048 files
      // for 5000 docs).
      val docs = Registry.spread(T(s, dir, "documents").select("doc_id", "text"))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      val pairs = Dedup.candidatePairs(bands, "doc_id")
      Dedup.containmentPairs(sh, "doc_id", pairs)
        .select(col("id_a"), col("id_b"),
          round(col("cont_a_in_b"), 4).as("cont_a_in_b"),
          round(col("cont_b_in_a"), 4).as("cont_b_in_a"))
        .orderBy("id_a", "id_b")
    }, Some(s"""WITH $toksCte, $shCte,
               |$lshPairsCtes,
               |${shingleInterCtes("lsh_pairs")}
               |SELECT p.id_a, p.id_b,
               |  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / sa.n, 4) AS cont_a_in_b,
               |  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / sb.n, 4) AS cont_b_in_a
               |FROM lsh_pairs p
               |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
               |JOIN sizes sa ON sa.doc_id = p.id_a
               |JOIN sizes sb ON sb.doc_id = p.id_b
               |ORDER BY p.id_a, p.id_b""".stripMargin), bench = true),

    "llm_setsim_prefix_join" -> Q((s, dir) => {
      // EXACT set-similarity self-join via prefix filtering
      // (Dedup.prefixFilterPairs — AllPairs/PPJoin): the
      // no-false-negatives complement to the MinHash LSH chain. Only
      // each document's rarest-first PREFIX (|s| − ceil(t·|s|) + 1
      // tokens) enters the candidate bucket join; the oracle is the
      // full quadratic shingle join filtered to the same threshold, so
      // any candidate the prefix filter wrongly pruned would surface as
      // a missing row. t = 0.8 (the practical near-dup threshold):
      // prefix cost scales with (1−t) — at 0.8 the prefix is ~20% of
      // each doc; lower thresholds on this vocab-limited corpus widen
      // prefixes into common shingles and the candidate join degrades
      // toward quadratic (that regime belongs to LSH).
      val docs = T(s, dir, "documents")
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      Dedup.prefixFilterPairs(sh, "doc_id", 0.8)
        .orderBy("id_a", "id_b")
    }, Some(s"""WITH $toksCte, $shCte,
               |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
               |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               |    count(*) AS n_inter
               |  FROM sh x JOIN sh y ON y.shingle = x.shingle
               |    AND y.doc_id > x.doc_id
               |  GROUP BY 1, 2)
               |SELECT id_a, id_b, jaccard FROM (
               |  SELECT i.id_a, i.id_b,
               |    CAST(i.n_inter AS DOUBLE) /
               |      CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
               |  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
               |  JOIN sizes sb ON sb.doc_id = i.id_b)
               |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    "llm_minhash_est_check" -> Q((s, dir) => {
      // MinHash as a Jaccard ESTIMATOR, closed loop: for adjacent doc
      // pairs, the 8-hash agreement fraction (P[min-hash agrees] = J)
      // lands beside the exact shingle Jaccard — the per-pair analog of
      // llm_ann_recall. The estimator is fully deterministic (md5 window
      // hashes), so the oracle recomputes the SAME estimate bit-for-bit;
      // the exact value comes from the attach-arrays SortedJaccard scan.
      val docs = T(s, dir, "documents")
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val pairs = docs.select(col("doc_id").as("id_a"))
        .join(docs.select(col("doc_id").as("id_b")),
          col("id_b") === col("id_a") + 1)
      val sa = sig.select(col("doc_id").as("id_a") +:
        (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("id_b") +:
        (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
      val agree = (0 until 8)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
        .reduce(_ + _)
      val est = pairs.join(sa, "id_a").join(sb, "id_b")
        .select(col("id_a"), col("id_b"),
          (agree.cast("double") / lit(8.0)).as("est_jaccard"))
      est.join(Dedup.jaccardPairsFromArrays(sh, "doc_id",
          pairs.select("id_a", "id_b")), Seq("id_a", "id_b"))
        .orderBy("id_a")
    }, Some({
      val agreeSql = (0 until 8)
        .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $toksCte, $shCte,
         |$lshPairsCtes,
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |est AS (SELECT p.id_a, p.id_b,
         |    CAST($agreeSql AS DOUBLE) / 8.0 AS est_jaccard
         |  FROM pairs p JOIN sigs x ON x.doc_id = p.id_a
         |  JOIN sigs y ON y.doc_id = p.id_b),
         |${shingleInterCtes("pairs")}
         |SELECT e.id_a, e.id_b, e.est_jaccard,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
         |    CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
         |FROM est e
         |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
         |JOIN sizes sa ON sa.doc_id = e.id_a
         |JOIN sizes sb ON sb.doc_id = e.id_b
         |ORDER BY e.id_a""".stripMargin
    })),

    "llm_dedup_pipeline" -> Q((s, dir) => {
      // The WHOLE lexical dedup stage end-to-end in one gate —
      // shingle → MinHash → banded LSH candidates → exact-Jaccard
      // verify (≥ 0.8) → connected components → canonical pick — the
      // RefinedWeb-shaped pipeline a corpus actually runs, emitting the
      // corpus-level accounting (docs in, verified dup pairs, multi-doc
      // clusters, docs kept). Every stage reuses the scale-shaped
      // operators gated individually above; the oracle recomputes the
      // full chain independently, ending in a recursive-CTE component
      // fixpoint.
      val docs = T(s, dir, "documents")
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val cands = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id")
      val verified = Dedup.jaccardPairsFromArrays(sh, "doc_id", cands)
        .where(col("jaccard") >= 0.8)
      val clustered = Dedup.dedupClusters(docs.select("doc_id"), "doc_id",
        verified.select("id_a", "id_b"))
      clustered.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_clustered_docs"),
        count_distinct(when(col("cluster_size") > 1, col("component")))
          .as("n_multi_clusters"))
    }, Some(s"""WITH RECURSIVE $toksCte, $shCte,
               |$lshPairsCtes,
               |${verifiedPairCtes("lsh_pairs")},
               |${componentsCtes("verified")},
               |${dedupAccountingSql("documents")}""".stripMargin)),

    "llm_dedup_pipeline_capped" -> Q((s, dir) => {
      // llm_dedup_pipeline routed through the SKEW-CAPPED candidate
      // stage (r9 verdict item 1: at 100 TB the capped path IS the
      // pipeline, so it is what the e2e oracle grades). The corpus is
      // documents plus 40 clones of the min-doc_id document (ids
      // 1000000+i) — a boilerplate template that collides in every LSH
      // band and forces the hot-bucket star expansion
      // (Dedup.candidatePairsCapped, maxBucket=16, reps=4) — then the
      // full chain: exact-Jaccard verify (≥ 0.8) → connected
      // components → corpus accounting. The star keeps every member
      // connected to its bucket, and star pairs between identical
      // clones verify at jaccard 1, so the clusters CONVERGE to the
      // uncapped pipeline's (asserted on real data in LlmOpsSpec) while
      // pair volume stays O(n·reps). The oracle independently replays
      // election, star expansion, verification, and the component
      // fixpoint.
      val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val boiler = base.orderBy("doc_id").limit(1)
      val clones = s.range(1, 41).crossJoin(boiler)
        .select((col("id") + lit(1000000L)).as("doc_id"), col("text"))
      val docs = Registry.spread(base.unionByName(clones))
      val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val cands = Dedup.candidatePairsCapped(
          Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id",
          maxBucket = 16, reps = 4)
        .select("id_a", "id_b")
      val verified = Dedup.jaccardPairsFromArrays(sh, "doc_id", cands)
        .where(col("jaccard") >= 0.8)
      val clustered = Dedup.dedupClusters(docs.select("doc_id"), "doc_id",
        verified.select("id_a", "id_b"))
      clustered.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_clustered_docs"),
        count_distinct(when(col("cluster_size") > 1, col("component")))
          .as("n_multi_clusters"))
    }, Some({
      s"""WITH RECURSIVE $skewedLshCtes,
         |small_pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bx x JOIN bx y ON x.band = y.band AND x.band_hash = y.band_hash
         |  WHERE NOT x.oversized AND x.doc_id < y.doc_id),
         |big_pairs AS (SELECT least(m.doc_id, r.rep) AS id_a,
         |    greatest(m.doc_id, r.rep) AS id_b
         |  FROM bx m JOIN rp r ON m.band = r.band AND m.band_hash = r.band_hash
         |  WHERE m.oversized AND m.doc_id <> r.rep),
         |cp AS (SELECT DISTINCT id_a, id_b FROM
         |  (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs)),
         |${verifiedPairCtes("cp")},
         |${componentsCtes("verified")},
         |${dedupAccountingSql("corpus")}""".stripMargin
    })),

    "llm_curation_pipeline" -> Q((s, dir) => {
      // The END-TO-END corpus-curation chain a training-data team runs,
      // as ONE gate with per-stage corpus accounting (r13 verdict item
      // 4): eval holdout → canonical-URL dedup (TextOps.normalizeUrl;
      // three spelling variants per entity, %10=7 docs share their
      // predecessor's entity so normalization MERGES them) → quality
      // filter (TextOps.qualityFilter, llm_quality_filter thresholds) →
      // fuzzy dedup (the llm_dedup_pipeline chain: shingle → MinHash →
      // LSH bands → exact-Jaccard ≥ 0.8 → connected components →
      // canonical pick) → eval decontamination (shared 5-grams vs the
      // held-out docs) → leak-free cluster split (split keyed on the
      // dedup COMPONENT — free here, the components were just built) →
      // sequence packing of the train split. Output: one row per stage
      // with units in/out and the surviving token mass — docs for
      // stages 0–5; stage 6 counts packed BINS out with the packed
      // token total (overlap tokens counted, stride 8 < chunk 12).
      // Every stage reuses the individually-gated operator; the oracle
      // replays ALL stages in chained CTEs (url chain via urlNormCtes,
      // dedup via the shared sh/sigs/bands fragments over the full
      // corpus with pairs filtered to quality survivors — band hashes
      // are per-doc, so filtering pairs ≡ banding the survivor corpus).
      // Stage frames are doc_id-sized and localCheckpointed so the
      // 7 accounting rows never recompute the chain prefix.
      import graft.llm.{Dedup, Splits, TextOps}
      val docs = T(s, dir, "documents").select("doc_id", "text")
      // Checkpointed like the stage frames: all seven accounting rows
      // join against `sizes`, and without the checkpoint each row's
      // branch re-tokenizes the full corpus (7 regexp+split passes for
      // one 16-byte-per-doc frame — the "don't recompute shared
      // lineage" case of guide §1.2 step 1).
      val evalDocs = docs.filter(col("doc_id") < 10)
      val corpus = docs.filter(col("doc_id") >= 10)
      val g = "CAST(CASE WHEN doc_id % 10 = 7 THEN doc_id - 1 ELSE doc_id END AS STRING)"
      val url = expr(s"""CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN concat('https://Docs.Example.com/d/', $g, '?id=', $g)
        |  WHEN 1 THEN concat('HTTPS://WWW.DOCS.EXAMPLE.COM:443/d/', $g, '?id=', $g, '#frag')
        |  ELSE concat('https://docs.example.com/d/', $g, '/?id=', $g, '&utm_source=x')
        |END""".stripMargin)
      // `sizes` (token mass per doc, consumed only by the accounting
      // rows) and the url-dedup head of the chain are independent:
      // materialize them concurrently (Registry.inParallel, guide §2.6).
      val heads = Registry.inParallel(
        () => docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
          .localCheckpoint(true),
        () => corpus
          .select(col("doc_id"), TextOps.normalizeUrl(url).as("url_norm"))
          .groupBy("url_norm").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id").localCheckpoint(true))
      val sizes = heads(0)
      val urlKeptIds = heads(1)
      val urlKept = corpus.join(urlKeptIds, "doc_id")
      val qualIds = TextOps.qualityFilter(urlKept,
          minTokens = 20, maxTokens = 100000,
          maxPunctRatio = 0.06, minStopwordRatio = 0.05)
        .filter(col("keep")).select("doc_id").localCheckpoint(true)
      val qualDocs = urlKept.join(qualIds, "doc_id")
      // The shingle-array frame feeds THREE consumers (the MinHash
      // signatures and both attach sides of the Jaccard verify) — an
      // eager checkpoint stops each consumer re-running the
      // tokenize→shingle scan (guide §1.2 step 1; the r14 counters read
      // 7.7 executor-CPU-s for this gate, mostly repeated regexp+split
      // passes).
      val sh = Dedup.shingleArray(qualDocs, "doc_id", "text", 3)
        .localCheckpoint(true)
      val sig = Dedup.minhashSignaturesNative(sh, "doc_id", 8)
      val cands = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id")
      val verified = Dedup.jaccardPairsFromArrays(sh, "doc_id", cands)
        .where(col("jaccard") >= 0.8)
      val canon = Dedup.dedupClusters(qualDocs.select("doc_id"), "doc_id",
          verified.select("id_a", "id_b"))
        .filter(col("is_canonical")).select("doc_id", "component")
        .localCheckpoint(true)
      val canonDocs = qualDocs.join(canon, "doc_id")
      val deconKept = Dedup.decontaminate(canonDocs, evalDocs, "doc_id", "text", 5)
        .select("doc_id", "component").localCheckpoint(true)
      val trainIds = Splits.assignSplits(deconKept, "component")
        .filter(col("split") === "train").select("doc_id").localCheckpoint(true)
      val trainDocs = docs.join(trainIds, "doc_id")
      val chunks = TextOps.chunk(trainDocs, "doc_id", "text",
          chunkTokens = 12, stride = 8)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      val packed = TextOps.packSequences(chunks, "shard",
        Seq("doc_id", "chunk_id"), "n_tokens", capacity = 64)
      def stageRow(id: Int, name: String,
          in: org.apache.spark.sql.DataFrame, out: org.apache.spark.sql.DataFrame) =
        in.agg(count(lit(1)).as("units_in")).crossJoin(broadcast(
          out.join(sizes, "doc_id").agg(count(lit(1)).as("units_out"),
            coalesce(sum(col("ntok")), lit(0L)).as("tokens_out"))))
          .select(lit(id).as("stage_id"), lit(name).as("stage"),
            col("units_in"), col("units_out"), col("tokens_out"))
      val packRow = trainIds.agg(count(lit(1)).as("units_in")).crossJoin(broadcast(
        packed.agg(count_distinct(col("shard"), col("bin_id")).as("units_out"),
          coalesce(sum(col("n_tokens").cast("long")), lit(0L)).as("tokens_out"))))
        .select(lit(6).as("stage_id"), lit("pack_sequences").as("stage"),
          col("units_in"), col("units_out"), col("tokens_out"))
      stageRow(0, "eval_holdout", docs, corpus)
        .unionByName(stageRow(1, "url_dedup", corpus, urlKeptIds))
        .unionByName(stageRow(2, "quality_filter", urlKeptIds, qualIds))
        .unionByName(stageRow(3, "fuzzy_dedup", qualIds, canon.select("doc_id")))
        .unionByName(stageRow(4, "decontaminate", canon, deconKept.select("doc_id")))
        .unionByName(stageRow(5, "cluster_split", deconKept, trainIds))
        .unionByName(packRow)
        .orderBy("stage_id")
    }, Some(s"""WITH RECURSIVE $toksCte,
              |tsz AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok FROM toks),
              |corpus AS (SELECT doc_id FROM documents WHERE doc_id >= 10),
              |${urlsCte(" FROM corpus")},
              |$urlNormCtes,
              |url_kept AS (SELECT min(rec_id) AS doc_id FROM norm GROUP BY url_norm),
              |${qualKeepCtes("qstats", "qual_kept", "d.doc_id", "documents d JOIN url_kept USING (doc_id)")},
              |$shCte,
              |$lshPairsCtes,
              |qp AS (SELECT id_a, id_b FROM lsh_pairs
              |  WHERE id_a IN (SELECT doc_id FROM qual_kept)
              |    AND id_b IN (SELECT doc_id FROM qual_kept)),
              |${verifiedPairCtes("qp")},
              |${componentsCtes("verified")},
              |lbl AS (SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component
              |  FROM qual_kept q LEFT JOIN comps c ON c.id = q.doc_id),
              |canon AS (SELECT doc_id, component FROM lbl WHERE doc_id = component),
              |$sh5Cte,
              |eval5 AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id < 10),
              |contam AS (SELECT DISTINCT t.doc_id FROM sh5 t
              |  JOIN eval5 e ON t.shingle = e.shingle
              |  JOIN canon c ON c.doc_id = t.doc_id),
              |decon_kept AS (SELECT doc_id, component FROM canon
              |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
              |train AS (SELECT doc_id FROM decon_kept
              |  WHERE ('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT
              |    % 10000 < 8000),
              |tch AS (SELECT t.doc_id, t.t, range(0, len(t.t), 8) AS starts
              |  FROM toks t JOIN train USING (doc_id)),
              |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
              |    doc_id % 8 AS shard,
              |    CAST(LEAST(12, len(t) - starts[i]) AS INT) AS n_tokens
              |  FROM tch, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i)),
              |packed AS (SELECT shard, n_tokens,
              |    CAST((CAST(SUM(n_tokens) OVER (PARTITION BY shard
              |        ORDER BY doc_id, chunk_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      - n_tokens) // 64 AS BIGINT) AS bin_id
              |  FROM ch)
              |SELECT CAST(0 AS INT) AS stage_id, 'eval_holdout' AS stage,
              |  (SELECT count(*) FROM documents) AS units_in,
              |  (SELECT count(*) FROM corpus) AS units_out,
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN corpus USING (doc_id)) AS tokens_out
              |UNION ALL
              |SELECT 1, 'url_dedup', (SELECT count(*) FROM corpus),
              |  (SELECT count(*) FROM url_kept),
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN url_kept USING (doc_id))
              |UNION ALL
              |SELECT 2, 'quality_filter', (SELECT count(*) FROM url_kept),
              |  (SELECT count(*) FROM qual_kept),
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN qual_kept USING (doc_id))
              |UNION ALL
              |SELECT 3, 'fuzzy_dedup', (SELECT count(*) FROM qual_kept),
              |  (SELECT count(*) FROM canon),
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN canon USING (doc_id))
              |UNION ALL
              |SELECT 4, 'decontaminate', (SELECT count(*) FROM canon),
              |  (SELECT count(*) FROM decon_kept),
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN decon_kept USING (doc_id))
              |UNION ALL
              |SELECT 5, 'cluster_split', (SELECT count(*) FROM decon_kept),
              |  (SELECT count(*) FROM train),
              |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT)
              |    FROM tsz JOIN train USING (doc_id))
              |UNION ALL
              |SELECT 6, 'pack_sequences', (SELECT count(*) FROM train),
              |  (SELECT count(*) FROM (SELECT DISTINCT shard, bin_id FROM packed)),
              |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM packed)
              |ORDER BY stage_id""".stripMargin),
      bench = true),

    "llm_quality_ntile" -> Q((s, dir) => {
      // Within-language quality quartile (Splits.quantileBuckets):
      // absolute scores aren't comparable across languages, so corpus
      // recipes keep the top quartile PER language. n_chars stands in
      // for the quality score; doc_id totalizes the order.
      Splits.quantileBuckets(
          T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          Seq("lang"), Seq(col("n_chars"), col("doc_id")), 4, "quartile")
        .withColumn("keep_top", col("quartile") === 4)
        .orderBy("doc_id")
    }, Some("""SELECT doc_id, lang, n_chars, quartile, quartile = 4 AS keep_top
              |FROM (SELECT doc_id, lang, n_chars,
              |    CAST(ntile(4) OVER (PARTITION BY lang
              |      ORDER BY n_chars, doc_id) AS INT) AS quartile
              |  FROM documents) ORDER BY doc_id""".stripMargin)),

    "llm_semantic_dedup" -> Q((s, dir) => {
      // SemDeDup (Abbas et al. '23): a duplicate is high embedding
      // cosine, not shared n-grams — catches paraphrases and
      // translations that lexical dedup misses. Composes the IVF
      // near-dup pair stage (Similarity.nearDupPairs — pairs only form
      // INSIDE clusters, never all-pairs) with the connected-components
      // clustering + canonical pick (Dedup.dedupClusters). The oracle
      // recomputes the full chain independently: cosine assignment,
      // pair threshold, then a recursive-CTE component fixpoint.
      val emb = T(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(emb, scaledCentroids(emb),
        "vec_id", "embedding", threshold = 0.35)
      Dedup.dedupClusters(emb.select("vec_id"), "vec_id",
          pairs.select("id_a", "id_b"))
        .orderBy("vec_id")
    }, Some({
      s"""WITH RECURSIVE ${vCte()},
         |$nearDupRouteCtes,
         |nd AS (SELECT x.id_ AS id_a, y.id_ AS id_b
         |  FROM cv x JOIN cv y ON x.cluster_id = y.cluster_id
         |  WHERE x.id_ < y.id_ AND ${dotSql("x.uv", "y.uv")} >= 0.35),
         |${componentsCtes("nd")},
         |lbl AS (SELECT emb.vec_id,
         |    coalesce(c.component, emb.vec_id) AS component
         |  FROM embeddings emb LEFT JOIN comps c ON c.id = emb.vec_id),
         |sizes AS (SELECT component, count(*) AS cluster_size
         |  FROM lbl GROUP BY component)
         |SELECT l.vec_id, l.component,
         |  l.vec_id = l.component AS is_canonical, s.cluster_size
         |FROM lbl l JOIN sizes s USING (component)
         |ORDER BY l.vec_id""".stripMargin
    }), bench = true),

    "llm_inverted_index" -> Q((s, dir) =>
      // Materialized inverted index (TextOps.invertedIndex): term → df,
      // cf, sorted posting list. The gate stringifies the postings
      // array (driver compare cannot sort array cells); df >= 10 keeps
      // the projection to retrieval-significant terms.
      TextOps.invertedIndex(
          T(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .filter(col("df") >= 10)
        .select(col("term"), col("df"), col("cf"),
          concat_ws(",", col("postings").cast("array<string>")).as("postings"))
        .orderBy("term"),
      Some(s"""WITH $toksCte,
              |tk AS (SELECT doc_id, term FROM
              |  (SELECT doc_id, unnest(t) AS term FROM toks) WHERE term <> ''),
              |posts AS (SELECT term, doc_id FROM tk GROUP BY term, doc_id),
              |pl AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR), ','
              |    ORDER BY doc_id) AS postings
              |  FROM posts GROUP BY term),
              |stats AS (SELECT term, count(DISTINCT doc_id) AS df,
              |    count(*) AS cf FROM tk GROUP BY term)
              |SELECT s.term, s.df, s.cf, p.postings
              |FROM stats s JOIN pl p USING (term)
              |WHERE s.df >= 10 ORDER BY s.term""".stripMargin), bench = true),

    "llm_bpe_learn_merges" -> Q((s, dir) => {
      // BPE vocabulary induction, the LEARNING loop (Bpe.trainMerges):
      // 3 rounds of count-pairs → argmax → vocab-wide merge. The oracle
      // unrolls the same 3 rounds as a double-space string replace; its
      // tie order ("l r") equals Bpe's (l, r) while no symbol holds a
      // character below U+0020.
      import s.implicits._
      val (merges, _) =
        Bpe.trainMerges(Bpe.wordCensus(T(s, dir, "documents")), k = 3)
      require(merges.size == 3,
        s"corpus exhausted after ${merges.size} merges — gate expects 3")
      merges.map(m => (m.rank, s"${m.lhs} ${m.rhs}", m.pairCount))
        .toDF("round", "merge_rule", "cnt")
        .orderBy("round")
    },
      Some({
        def roundCtes(t: Int) =
          s"""pc$t AS (SELECT p AS pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
             |    SELECT unnest(list_transform(range(1, len(a) - 1 + 1),
             |        i -> a[i] || ' ' || a[i + 1])) AS p, freq
             |    FROM (SELECT string_split(symstr, '  ') AS a, freq FROM w${t - 1})
             |    WHERE len(a) >= 2)
             |  GROUP BY p),
             |top$t AS (SELECT pair, cnt FROM pc$t ORDER BY cnt DESC, pair LIMIT 1),
             |w$t AS (SELECT trim(replace(' ' || symstr || ' ',
             |    ' ' || replace((SELECT pair FROM top$t), ' ', '  ') || ' ',
             |    ' ' || replace((SELECT pair FROM top$t), ' ', '') || ' ')) AS symstr, freq
             |  FROM w${t - 1})""".stripMargin
        s"""WITH toks AS (SELECT unnest(string_split(
           |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w FROM documents),
           |wf AS (SELECT w, count(*) AS freq FROM toks WHERE length(w) >= 2 GROUP BY w),
           |w0 AS (SELECT array_to_string(list_transform(range(1, length(w) + 1),
           |    i -> substr(w, i, 1)), '  ') AS symstr, freq FROM wf),
           |${Seq(1, 2, 3).map(roundCtes).mkString(",\n")}
           |SELECT 1 AS round, (SELECT pair FROM top1) AS merge_rule, (SELECT cnt FROM top1) AS cnt
           |UNION ALL SELECT 2, (SELECT pair FROM top2), (SELECT cnt FROM top2)
           |UNION ALL SELECT 3, (SELECT pair FROM top3), (SELECT cnt FROM top3)
           |ORDER BY round""".stripMargin
      })),

    "llm_zipf_slope" -> Q((s, dir) =>
      // Zipf rank-frequency fit over the top-1000 terms
      // (TextOps.zipfSlope): exact ranks, fixed-point regression
      // moments, one fixed-shape closed form — the corpus-health
      // diagnostic (natural text ≈ slope −1).
      TextOps.zipfSlope(T(s, dir, "documents").select("text"), "text", topK = 1000),
      Some(s"""WITH $toksCte,
              |cnts AS (SELECT term, count(*) AS cnt FROM
              |  (SELECT doc_id, unnest(t) AS term FROM toks)
              |  WHERE term <> '' GROUP BY term),
              |ranked AS (SELECT cnt,
              |    row_number() OVER (ORDER BY cnt DESC, term) AS rank
              |  FROM cnts QUALIFY rank <= 1000),
              |pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
              |    ln(CAST(cnt AS DOUBLE)) AS y FROM ranked),
              |m AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
              |    SUM(CAST(floor(x * 1e12) AS DECIMAL(38,0))) AS sx,
              |    SUM(CAST(floor(y * 1e12) AS DECIMAL(38,0))) AS sy,
              |    SUM(CAST(floor(x * y * 1e12) AS DECIMAL(38,0))) AS sxy,
              |    SUM(CAST(floor(x * x * 1e12) AS DECIMAL(38,0))) AS sxx
              |  FROM pts),
              |sl AS (SELECT n_points,
              |    (n_points * CAST(sxy AS DOUBLE)
              |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / 1e12)
              |    / (n_points * CAST(sxx AS DOUBLE)
              |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1e12) AS slope,
              |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
              |  FROM m)
              |SELECT n_points, slope,
              |  (syd / 1e12 - slope * sxd / 1e12) / n_points AS intercept
              |FROM sl""".stripMargin)),

    "llm_dsir_weights" -> Q((s, dir) =>
      // DSIR importance weights (Splits.dsirWeights): hashed
      // unigram+bigram profile vs the lang='en' target domain, add-one
      // smoothed per-bucket log-ratios (256-cell model — the whole
      // model is one broadcast frame), fixed-point per-doc sums.
      Splits.dsirWeights(
          T(s, dir, "documents").select("doc_id", "text", "lang"),
          "doc_id", "text", col("lang") === "en", buckets = 256)
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |tgt AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
              |  FROM documents),
              |uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
              |bi AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS f
              |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
              |  WHERE len(t) >= 2),
              |feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
              |fb AS (SELECT fe.doc_id, g.is_t,
              |    ('0x' || substring(md5(fe.f || 'dsir'), 1, 8))::BIGINT % 256 AS b
              |  FROM feats fe JOIN tgt g USING (doc_id)),
              |counts AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
              |    CAST(SUM(is_t) AS BIGINT) AS c_t FROM fb GROUP BY b),
              |tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS t_r,
              |    CAST(SUM(c_t) AS BIGINT) AS t_t FROM counts),
              |lr AS (SELECT b,
              |    ln(CAST(c_t + 1 AS DOUBLE) * CAST(t_r + 256 AS DOUBLE)
              |      / (CAST(c_r + 1 AS DOUBLE) * CAST(t_t + 256 AS DOUBLE))) AS lr
              |  FROM counts CROSS JOIN tot),
              |sp AS (SELECT doc_id, CAST(floor(lr * 1e12) AS DECIMAL(38,0)) AS s
              |  FROM fb JOIN lr USING (b)),
              |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
              |    CAST(SUM(s) AS DOUBLE) / 1e12 AS log_weight
              |  FROM sp GROUP BY doc_id)
              |SELECT doc_id, n_feats, log_weight, log_weight > 0e0 AS keep
              |FROM pd ORDER BY doc_id""".stripMargin)),

    "llm_curriculum_interleave" -> Q((s, dir) =>
      // Deterministic curriculum order (Splits.curriculumInterleave):
      // round-robin across sources in md5-hash within-source order. The
      // Spark side computes the global position CLOSED-FORM from the
      // broadcast per-source counts (no one-partition window); the
      // oracle computes it with the naive global row_number — they must
      // agree exactly.
      Splits.curriculumInterleave(
          T(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source")
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id, source,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
             |      AS within_rank
             |  FROM documents)
             |SELECT doc_id, source, within_rank,
             |  CAST(row_number() OVER (ORDER BY within_rank, source) - 1 AS BIGINT)
             |    AS global_pos
             |FROM r ORDER BY doc_id""".stripMargin)),

    "llm_plan_shards" -> Q((s, dir) =>
      // Token-budget shard planning (Splits.planShards): contiguous
      // shard ids by exclusive prefix sum over md5 order, target 20000
      // chars/shard. The prefix sum is two-level (256 md5-prefix
      // buckets), never a one-partition global window; the oracle's
      // single-window cumsum must agree exactly.
      Splits.planShards(T(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", col("n_chars"), targetPerShard = 20000L)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |c AS (SELECT doc_id, weight,
             |    coalesce(SUM(weight) OVER (ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             |  FROM w)
             |SELECT doc_id, weight, CAST(cb // 20000 AS BIGINT) AS shard_id
             |FROM c ORDER BY doc_id""".stripMargin)),

    "llm_source_overlap" -> Q((s, dir) =>
      // Source-pair lexical overlap (Dedup.sourceOverlap): exact
      // shingle-set Jaccard for all 190 source pairs via ONE bitmask
      // pass over the corpus, beside the mergeable MinHash-sketch
      // estimate and its per-pair error.
      Dedup.sourceOverlap(T(s, dir, "documents").select("source", "text"),
          "source", "text", numHashes = 8)
        .orderBy("src_a", "src_b"),
      Some({
        val sigCols = (0 until 8).map { j =>
          val digest = if (j < 4) "md5(shingle)" else "md5('#' || shingle)"
          s"min(substring($digest, ${(j % 4) * 8 + 1}, 8)) AS h$j"
        }.mkString(", ")
        val agreeSql = (0 until 8)
          .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH stoks AS (SELECT source, string_split(
           |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
           |  FROM documents),
           |ssh AS (SELECT DISTINCT source, shingle FROM (
           |  SELECT source, unnest(
           |    CASE WHEN len(t) >= 3
           |      THEN list_transform(range(1, len(t) - 1),
           |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
           |      ELSE [array_to_string(t, ' ')] END) AS shingle
           |  FROM stoks)),
           |sidx AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
           |  FROM (SELECT DISTINCT source FROM documents)),
           |masks AS (SELECT shingle, CAST(SUM(CAST(1 AS BIGINT) << idx) AS BIGINT) AS mask
           |  FROM ssh JOIN sidx USING (source) GROUP BY shingle),
           |mc AS (SELECT mask, count(*) AS cnt FROM masks GROUP BY mask),
           |pr AS (SELECT a.source AS src_a, a.idx AS idx_a,
           |    b.source AS src_b, b.idx AS idx_b
           |  FROM sidx a JOIN sidx b ON a.source < b.source),
           |ex AS (SELECT src_a, src_b,
           |    CAST(SUM(CASE WHEN (mask >> idx_a) & 1 = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(SUM(CASE WHEN (mask >> idx_b) & 1 = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_b,
           |    CAST(SUM(CASE WHEN (mask >> idx_a) & 1 = 1 AND (mask >> idx_b) & 1 = 1
           |      THEN cnt ELSE 0 END) AS BIGINT) AS n_common,
           |    CAST(SUM(CASE WHEN (mask >> idx_a) & 1 = 1 OR (mask >> idx_b) & 1 = 1
           |      THEN cnt ELSE 0 END) AS BIGINT) AS n_union
           |  FROM pr CROSS JOIN mc GROUP BY src_a, src_b),
           |sigs AS (SELECT source, $sigCols FROM ssh GROUP BY source)
           |SELECT e.src_a, e.src_b, e.n_a, e.n_b, e.n_common, e.n_union,
           |  CAST(e.n_common AS DOUBLE) / CAST(e.n_union AS DOUBLE) AS exact_jaccard,
           |  CAST($agreeSql AS DOUBLE) / 8e0 AS est_jaccard,
           |  abs(CAST($agreeSql AS DOUBLE) / 8e0
           |    - CAST(e.n_common AS DOUBLE) / CAST(e.n_union AS DOUBLE)) AS est_err
           |FROM ex e JOIN sigs x ON x.source = e.src_a
           |JOIN sigs y ON y.source = e.src_b
           |ORDER BY e.src_a, e.src_b""".stripMargin
      })),

    "llm_winnow_pairs" -> Q((s, dir) =>
      // MOSS winnowing (Dedup.winnowPairs): char-5-gram md5s, window-4
      // minima as fingerprints (zero-shuffle HOFs), then docs sharing
      // ≥2 fingerprints after dropping fps seen in >50 docs. One census
      // shuffle + single-aggregation i<j expansion, never all-pairs.
      Dedup.winnowPairs(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 5, w = 4, minShared = 2, maxDf = 50)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH nrm AS (SELECT doc_id,
              |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
              |  FROM documents),
              |g AS (SELECT doc_id, list_transform(
              |    range(1, greatest(length(nt) - 5 + 1, 0) + 1),
              |    i -> md5(substr(nt, i, 5))) AS gh FROM nrm),
              |fps AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, len(gh) - 4 + 1 + 1),
              |    j -> list_min(gh[j:j+3]))) AS f FROM g WHERE len(gh) >= 4),
              |fl AS (SELECT doc_id, unnest(f) AS fp FROM fps),
              |keep AS (SELECT fp FROM fl GROUP BY fp
              |  HAVING count(*) BETWEEN 2 AND 50),
              |fk AS (SELECT doc_id, fp FROM fl JOIN keep USING (fp))
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM fk a JOIN fk b ON a.fp = b.fp
              |WHERE a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 2
              |ORDER BY 1, 2""".stripMargin)),

    "llm_ngram_span_dedup" -> Q((s, dir) =>
      // Exact-substring dedup at token granularity (Lee et al. '22,
      // Dedup.ngramSpanDedup): 8-token windows occurring ≥2 times
      // anywhere in the corpus, merged into maximal per-doc spans.
      // Census shuffle is one hash agg on the gram md5; flag-back is a
      // left-semi against the duplicated subset only.
      Dedup.ngramSpanDedup(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |g AS (SELECT doc_id, i AS s, i + 7 AS e,
              |    md5(array_to_string(t[i : i + 7], ' ')) AS gh
              |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i)
              |  WHERE len(t) >= 8),
              |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
              |spans AS (SELECT doc_id, s, e FROM g JOIN dup USING (gh)),
              |flagged AS (SELECT doc_id, s, e,
              |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
              |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              |      THEN 1 ELSE 0 END AS new_grp
              |  FROM spans),
              |grp AS (SELECT doc_id, s, e,
              |    SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
              |  FROM flagged),
              |merged AS (SELECT doc_id, gid, min(s) AS span_start, max(e) AS span_end
              |  FROM grp GROUP BY doc_id, gid),
              |perdoc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans,
              |    CAST(SUM(span_end - span_start + 1) AS BIGINT) AS n_dup_tokens
              |  FROM merged GROUP BY doc_id)
              |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
              |  coalesce(p.n_dup_spans, 0) AS n_dup_spans,
              |  coalesce(p.n_dup_tokens, 0) AS n_dup_tokens,
              |  CAST(coalesce(p.n_dup_tokens, 0) AS DOUBLE)
              |    / CAST(len(t.t) AS DOUBLE) AS dup_frac
              |FROM toks t LEFT JOIN perdoc p USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    "llm_char_pair_merges" -> Q((s, dir) =>
      // BPE vocabulary induction, step one (TextOps.charPairCounts):
      // the most frequent adjacent character pair is the first merge
      // rule. (cnt DESC, pair) totalizes the top-50 cutoff.
      TextOps.charPairCounts(T(s, dir, "documents").select("text"))
        .orderBy(desc("cnt"), col("pair")).limit(50),
      Some(s"""WITH $toksCte,
              |tok AS (SELECT unnest(t) AS tok FROM toks),
              |pairs AS (SELECT unnest(list_transform(range(1, length(tok)),
              |    i -> substring(tok, i, 2))) AS pair
              |  FROM tok WHERE length(tok) >= 2)
              |SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair
              |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin)),

    "llm_bpe_train" -> Q((s, dir) => {
      // Full BPE vocabulary training (llm_char_pair_merges is step one
      // of this loop): 12 merges learned over the word census, each
      // iteration a vocab-frame pair census + argmax + fold rebuild —
      // the corpus is scanned exactly once (Bpe.scala's scale contract).
      // The oracle re-trains from scratch in 12 generated CTE
      // iterations and must agree on every (pair, count) bit-for-bit.
      import s.implicits._
      val (merges, _) =
        Bpe.trainMerges(Bpe.wordCensus(T(s, dir, "documents")), k = 12)
      require(merges.size == 12,
        s"corpus exhausted after ${merges.size} merges — gate expects 12")
      merges.map(m => (m.rank, m.lhs, m.rhs, m.merged, m.pairCount))
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
        .orderBy("merge_rank")
    }, Some(bpeOracle(12, encode = false))),

    "llm_bpe_encode" -> Q((s, dir) => {
      // Apply the trained tokenizer: per-document word and token counts
      // under the 12-merge vocab. The vocab frame broadcasts; the token
      // stream shuffles only on doc_id. n_tokens < sum(word lengths)
      // shows the merges compressing; the oracle replays training AND
      // encoding, so a single divergent merge shifts every count.
      val docs = T(s, dir, "documents")
      val (_, vocab) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 12)
      Bpe.encodeDocs(docs, vocab).orderBy("doc_id")
    }, Some(bpeOracle(12, encode = true)), bench = true),

    "llm_dataset_card" -> Q((s, dir) => {
      // The DATASET CARD a training-data team publishes: per-source
      // corpus statistics assembled from the individually-gated
      // operators — doc/language counts, whitespace words, BPE tokens
      // under the corpus-trained 12-merge vocab, exact-duplicate share
      // (md5 text identity), and the quality filter's keep rate. Every
      // column reuses its operator's exact spelling (Bpe.encodeDocs,
      // TextOps.qualityFilter), and the oracle chains the SAME CTE
      // fragments (bpeCtes, the quality st/r block) — a composition
      // gate in the llm_curation_pipeline tradition: one divergent
      // piece shifts a whole card row. All integer counts plus one
      // single-division rate; one groupBy after doc-keyed joins.
      val docs = T(s, dir, "documents")
      val (_, vocab) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 12)
      val enc = Bpe.encodeDocs(docs, vocab)
      val qual = TextOps.qualityFilter(docs.select("doc_id", "text"),
          minTokens = 20, maxTokens = 100000,
          maxPunctRatio = 0.06, minStopwordRatio = 0.05)
        .select("doc_id", "keep")
      docs.select(col("doc_id"), col("source"), col("lang"),
          md5(col("text")).as("th"))
        .join(enc, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(coalesce(col("n_words"), lit(0L))).as("n_words"),
          sum(coalesce(col("n_tokens"), lit(0L))).as("n_bpe_tokens"),
          (count(lit(1)) - countDistinct(col("th"))).as("exact_dup_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("quality_keep_docs"))
        .withColumn("quality_keep_rate",
          col("quality_keep_docs").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    }, Some(s"""WITH ${bpeCtes(12)},
           |enc AS (SELECT dw.doc_id, count(*) AS n_words,
           |    sum(coalesce(len(w.syms), len(dw.word))) AS n_tokens
           |  FROM toks dw LEFT JOIN w12 w USING (word) GROUP BY dw.doc_id),
           |qst AS (SELECT doc_id,
           |    len(string_split($normSql, ' ')) AS n_tokens,
           |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
           |      NULLIF(CAST(length(text) AS DOUBLE), 0) AS punct_ratio,
           |    CAST(len(regexp_extract_all(lower(text),
           |        '\\b(the|a|an|and|of|to|in|is|it)\\b')) AS DOUBLE) /
           |      NULLIF(CAST(len(string_split($normSql, ' ')) AS DOUBLE), 0)
           |      AS stopword_ratio
           |  FROM documents),
           |q AS (SELECT doc_id, len($failReasonsSql) = 0 AS keep
           |  FROM qst),
           |base AS (SELECT d.doc_id, d.source, d.lang, md5(d.text) AS th,
           |    coalesce(e.n_words, 0) AS n_words,
           |    coalesce(e.n_tokens, 0) AS n_tokens, q.keep
           |  FROM documents d LEFT JOIN enc e USING (doc_id)
           |  JOIN q USING (doc_id))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(SUM(n_words) AS BIGINT) AS n_words,
           |  CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens,
           |  CAST(count(*) - count(DISTINCT th) AS BIGINT) AS exact_dup_docs,
           |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
           |    AS quality_keep_docs,
           |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS quality_keep_rate
           |FROM base GROUP BY source ORDER BY source""".stripMargin)))
}
