package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity, TextOps}

/** LLM data-pipeline operators: dedup (exact/MinHash-LSH/SimHash/Jaccard),
  * text analysis, similarity search, multimodal plumbing. */
class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup
    (3L, "completely different content about spark sql engines and query planning"),
    (4L, "THE  QUICK  brown fox jumps over the lazy dog near the river bank today")) // ws/case
    .toDF("doc_id", "text")

  test("exact dedup keeps min id and counts dups") {
    val summary = Dedup.exactDedupSummary(docs, Seq("text"), "doc_id")
    val exactDup = summary.filter(col("dup_count") === 2).head()
    assert(exactDup.getAs[Long]("keep_doc_id") === 0L)
    assert(Dedup.dropExactDuplicates(docs, Seq("text"), "doc_id").count() === 4)
  }

  test("normalization folds case/whitespace variants into one group") {
    val normed = docs.withColumn("norm", TextOps.normText(col("text")))
    val summary = Dedup.exactDedupSummary(normed, Seq("norm"), "doc_id")
    assert(summary.filter(col("dup_count") === 3).count() === 1) // 0,1,4 collide
  }

  test("MinHash LSH candidates include identical and near-dup pairs, not unrelated") {
    val sh = Dedup.shingles(docs.withColumn("text", TextOps.normText(col("text"))),
      "doc_id", "text", 3)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, "doc_id", 8), "doc_id", 8, 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc never pairs
  }

  test("candidatePairs: one pass over the signature lineage, no join, no pinned RDDs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minhashSignaturesNative(sh, "doc_id", 8), "doc_id", 8, 2)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    pairs.collect()
    // AQE plan strings append the pre-adaptive "Initial Plan" — assert on
    // the final plan section only.
    val plan = pairs.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // Bucket-aggregation formulation: the expensive MinHash lineage has
    // exactly one consumer — no self-join that would compute it twice.
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert("Generate explode".r.findAllIn(plan).length === 2, // bands + pair expansion
      s"unexpected generators in:\n$plan")
    // r3 verdict item 4: the old persist() was never released. Compare
    // ids, not counts: an earlier suite's local checkpoints leave the map
    // whenever the context cleaner collects them, mid-test included.
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"RDDs left persisted: $pinned")
  }

  test("array-path Jaccard equals the exploded-shingle formulation") {
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    val exploded = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", pairs)
    val arrays = Dedup.jaccardPairsFromArrays(
      Dedup.shingleArray(docs, "doc_id", "text", 3), "doc_id", pairs)
    val joined = exploded.alias("e").join(arrays.alias("a"), Seq("id_a", "id_b"))
    assert(joined.count() === 4)
    assert(joined.filter(col("e.jaccard") =!= col("a.jaccard")).count() === 0)
  }

  test("zero-shuffle native MinHash signatures equal the groupBy formulation") {
    val classic = Dedup.minhashSignatures(
      Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", 8)
    val native = Dedup.minhashSignaturesNative(
      Dedup.shingleArray(docs, "doc_id", "text", 3), "doc_id", 8)
    assert(classic.orderBy("doc_id").collect().toSeq ===
      native.orderBy("doc_id").collect().toSeq)
    // and the native plan has no exchange before the signatures
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"native signatures must not shuffle:\n$plan")
  }

  test("SimHash: identical docs equal, near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 6, s"near-dup hamming distance was $hamming")
  }

  test("Jaccard on candidate pairs: identical=1.0, unrelated low") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("id_a", "id_b")
    val jac = Dedup.jaccardPairs(sh, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((0L, 1L)) === 1.0)
    assert(jac((0L, 3L)) < 0.1)
  }

  test("tfidfTopTerms scores and ranks against a hand-computed corpus") {
    val corpus = Seq(
      (1L, "apple banana apple"),   // tf(apple)=2, tf(banana)=1
      (2L, "banana cherry"),
      (3L, "cherry cherry date")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(corpus, "doc_id", "text", nDocs = 3L, k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(5)))
    // df: apple=1, banana=2, cherry=2, date=1.
    // doc1: apple 2*ln(3) > banana 1*ln(1.5); doc2 banana=cherry scores
    // tie exactly (same tf, same df) → term asc breaks it; doc3:
    // cherry 2*ln(1.5) < date 1*ln(3).
    assert(out.toSeq === Seq(
      (1L, "apple", 2L, 1L, 1), (1L, "banana", 1L, 2L, 2),
      (2L, "banana", 1L, 2L, 1), (2L, "cherry", 1L, 2L, 2),
      (3L, "date", 1L, 1L, 1), (3L, "cherry", 2L, 2L, 2)))
  }

  test("repetitionStats flags gram-dominated docs and passes diverse ones") {
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam"),   // one 2-gram repeated 5x
      (2L, "the quick brown fox jumps over")). // all 2-grams distinct
      toDF("doc_id", "text")
    val out = TextOps.repetitionStats(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    val spam = out(0)
    assert(spam.getAs[Long]("n_grams") === 5L)
    assert(spam.getAs[Double]("top_gram_frac") === 1.0)
    assert(spam.getAs[Double]("dup_gram_frac") === 0.8)
    assert(!spam.getAs[Boolean]("repetition_ok"))
    val ok = out(1)
    assert(ok.getAs[Double]("top_gram_frac") === 0.2)
    assert(ok.getAs[Double]("dup_gram_frac") === 0.0)
    assert(ok.getAs[Boolean]("repetition_ok"))
  }

  test("redactPii masks emails and phones, leaves clean text alone") {
    val df = Seq(
      (1L, "reach me at jane.doe+x@sub.example.org or 555-867-5309 today"),
      (2L, "no pii here, just 12-34 and at-signs @ alone")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.redactPii(col("text")).as("r"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out(0) === "reach me at <EMAIL> or <PHONE> today")
    assert(out(1) === "no pii here, just 12-34 and at-signs @ alone")
  }

  test("textStats computes token counts and ratios") {
    val stats = TextOps.textStats(docs).filter(col("doc_id") === 0).head()
    assert(stats.getAs[Int]("n_tokens") === 14)
    assert(stats.getAs[Int]("n_stopwords") > 0)
    assert(stats.getAs[Boolean]("len_ok"))
  }

  test("langId picks the language with the strongest marker signal") {
    val mixed = Seq(
      (0L, "the cat and the dog is of the house"),
      (1L, "der hund und die katze ist nicht das problem"),
      (2L, "le chat est dans les jardins et une maison")).toDF("doc_id", "text")
    val out = TextOps.langId(mixed).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(out(0L) === "en" && out(1L) === "de" && out(2L) === "fr")
  }

  test("fingerprint rolling hash is order-sensitive, content md5 is not") {
    val reordered = Seq(
      (0L, "alpha beta gamma"), (1L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(reordered).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("content_md5"), r.getAs[String]("rolling_hash"),
          r.getAs[String]("min_token_hash"))).toMap
    assert(fp(0L)._1 !== fp(1L)._1) // different content → different md5
    assert(fp(0L)._2 !== fp(1L)._2) // order-sensitive
    assert(fp(0L)._3 === fp(1L)._3) // same token set → same min hash
  }

  test("kmeansCentroids converges on two obvious cosine clusters") {
    // Two angular groups: near (1,0) and near (0,1). Seeds are ids 0,1
    // (one from each group), so one iteration already separates them.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.05f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", 2, 2)
      .orderBy("cluster_id").collect()
    assert(cents.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    val c0 = cents(0).getAs[scala.collection.Seq[Double]]("centroid")
    val c1 = cents(1).getAs[scala.collection.Seq[Double]]("centroid")
    // Cluster 0 = mean of the x-heavy group; cluster 1 = y-heavy group.
    assert(math.abs(c0(0) - (1.0 + 0.9f.toDouble + 0.8f.toDouble) / 3) < 1e-6, c0)
    assert(math.abs(c1(1) - (1.0 + 0.9f.toDouble) / 2) < 1e-6, c1)
    // Final assignment puts every vector with its group's centroid.
    val assigned = Similarity.ivfAssign(vecs,
      Similarity.kmeansCentroids(vecs, "vec_id", "embedding", 2, 2)
        .select(col("cluster_id").as("vec_id"), col("centroid").as("embedding")),
      "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned === Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("brute-force cosine top-k ranks the nearest vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 2).collect()
    assert(topk.length === 2)
    assert(topk.head.getAs[Long]("corpus_id") === 1L)
    assert(topk.head.getAs[Double]("sim") > 0.99)
  }

  test("IVF assigns to nearest centroid and probes only that cluster") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // centroids
      (10L, Array(0.95f, 0.05f)), (11L, Array(0.9f, 0.1f)),
      (20L, Array(0.05f, 0.95f))).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(assigned(10L) === 0L && assigned(11L) === 0L && assigned(20L) === 1L)
    val topk = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 10),
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", 5).collect()
    // probes only cluster 0: centroid 0 and vec 11, never 1/20
    val neighbors = topk.map(_.getAs[Long]("corpus_id")).toSet
    assert(neighbors === Set(0L, 11L))
  }

  test("embedding near-dup pairs stay within clusters and above threshold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // centroids
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.98f, 0.02f)), // near-dups in cluster 0
      (20L, Array(0.05f, 0.95f))).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(20L) && Set(a, b).exists(_ < 12) &&
      Set(a, b).intersect(Set(10L, 11L)).nonEmpty }) // cross-cluster never pairs
  }

  test("multimodal payload plumbing: binary column, metadata, stub decode") {
    val out = Multimodal.frameSampleStub(
      Multimodal.decodeStub(Multimodal.withPayload(docs)), n = 2)
    val r = out.filter(col("doc_id") === 0).head()
    val expected = docs.filter(col("doc_id") === 0).head().getAs[String]("text").length
    val nBytes = r.getAs[org.apache.spark.sql.Row]("media_meta").getAs[Int]("n_bytes")
    assert(nBytes === expected) // ASCII text: bytes == chars
    assert(r.getAs[org.apache.spark.sql.Row]("media_meta")
      .getAs[String]("content_md5").matches("[0-9a-f]{32}"))
    val dims = r.getAs[org.apache.spark.sql.Row]("decoded")
    assert(dims.getAs[Int]("fake_width") >= 640 && dims.getAs[Int]("fake_height") >= 360)
    assert(r.getAs[scala.collection.Seq[String]]("frame_hashes").length === 2)
  }

  test("decodeWithCodec constructs ONE codec per partition and decodes payload bytes") {
    val acc = spark.sparkContext.longAccumulator("codec_inits")
    val withPayload = Multimodal.withPayload(docs).repartition(3)
    val out = Multimodal.decodeWithCodec(spark, withPayload,
      () => { acc.add(1); new Multimodal.StubCodec })
    // Collect WITHOUT orderBy: a range sort samples its input in an extra
    // pass, which would double-run the decode and the init counter.
    val rows = out.collect()
    assert(rows.length === docs.count())
    // Codec init is per-partition (amortized native setup), not per-row.
    assert(acc.value === 3, s"expected 3 codec inits, got ${acc.value}")
    // Digest is the md5 of the BYTES, matching the SQL-side md5(text).
    val r0 = rows.find(_.getLong(0) == 0L).get
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(docs.filter(col("doc_id") === 0).head().getAs[String]("text")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r0.getAs[String]("digest") === expected)
  }

  test("a pre-built StubCodec instance captured in a task closure serializes") {
    // ADVICE r4: MessageDigest is not serializable; the codec must keep
    // it @transient so the natural mistake — capturing one shared codec
    // instead of using the per-partition factory — still works.
    val codec = new Multimodal.StubCodec
    val digests = spark.sparkContext.parallelize(Seq("a", "bb"), 2)
      .map(s => codec.decode(s.getBytes("UTF-8")).digest).collect().sorted
    val expect = Seq("a", "bb").map(s =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString).sorted
    assert(digests.toSeq === expect)
  }

  test("frame fingerprints come from payload BYTE slices, not the source text") {
    import org.apache.spark.sql.functions.{hex, md5, substring}
    val out = Multimodal.frameSampleStub(
      Multimodal.withPayload(docs), n = 2, frameBytes = 16)
    // Recompute frame 1 independently: md5(hex(payload[17..32])).
    val check = out.select(col("doc_id"), col("frame_hashes")(1).as("got"),
      md5(hex(substring(col("payload"), 17, 16))).as("want"))
    assert(check.filter(col("got") =!= col("want")).count() === 0)
    // Different payload bytes => different first-frame fingerprint.
    val f0 = out.select(col("frame_hashes")(0)).distinct().count()
    assert(f0 > 1)
  }

  private def hexMd5OfBytes(bytes: Array[Byte]): String = {
    val hex = bytes.map(b => "%02X".format(b & 0xff)).mkString
    java.security.MessageDigest.getInstance("MD5")
      .digest(hex.getBytes("US-ASCII")).map("%02x".format(_)).mkString
  }

  test("PpmCodec decodes a hand-built P6 image (with header comment)") {
    val pixels = Array[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90, // row 0: 3 px
      -1, 0, 1, 2, 3, 4, 5, 6, 7)         // row 1: 3 px
    val header = "P6\n# a comment line\n3 2\n255\n".getBytes("US-ASCII")
    val d = new Multimodal.PpmCodec().decode(header ++ pixels)
    assert(d.width === 3 && d.height === 2 && d.nFrames === 1)
    assert(d.digest === hexMd5OfBytes(pixels))
  }

  test("PpmCodec rejects truncated pixel data and non-P6 magic") {
    val codec = new Multimodal.PpmCodec
    intercept[IllegalArgumentException] {
      codec.decode("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }
    intercept[IllegalArgumentException] {
      codec.decode("P5\n2 2\n255\n".getBytes("US-ASCII"))
    }
  }

  test("BmpCodec decodes 24-bit BMPs; bottom-up and top-down digests agree") {
    // 2x2 image, logical top-down pixel bytes (BGR per px, no padding):
    val topDownPixels = Array[Byte](
      1, 2, 3, 4, 5, 6,    // top row
      7, 8, 9, 10, 11, 12) // bottom row
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def buildBmp(height: Int): Array[Byte] = {
      val w = 2; val h = math.abs(height)
      val stride = ((w * 3 + 3) / 4) * 4 // = 8: two padding bytes per row
      val fileHeader = "BM".getBytes("US-ASCII") ++ le32(54 + stride * h) ++
        le32(0) ++ le32(54)
      val infoHeader = le32(40) ++ le32(w) ++ le32(height) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(stride * h) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0)
      val rows = (0 until h).map { storedRow =>
        // positive height stores rows bottom-up
        val logicalRow = if (height > 0) h - 1 - storedRow else storedRow
        topDownPixels.slice(logicalRow * w * 3, (logicalRow + 1) * w * 3) ++
          Array[Byte](0, 0) // stride padding
      }
      fileHeader ++ infoHeader ++ rows.flatten
    }
    val codec = new Multimodal.BmpCodec
    val up = codec.decode(buildBmp(2))
    val down = codec.decode(buildBmp(-2))
    assert(up.width === 2 && up.height === 2)
    assert(down.width === 2 && down.height === 2)
    // Digest is over logical top-down pixel content with padding
    // stripped, so storage order must not change it.
    assert(up.digest === down.digest)
    assert(up.digest === hexMd5OfBytes(topDownPixels))
  }

  test("encodePpm payloads round-trip through PpmCodec with formula dims") {
    val payloads = Multimodal.encodePpm(docs.select("doc_id"))
    val decoded = Multimodal.decodeWithCodec(spark, payloads,
      () => new Multimodal.PpmCodec)
    val bad = decoded.filter(
      col("width") =!= (col("doc_id") % 8 + 2) ||
      col("height") =!= (col("doc_id") % 5 + 2) || col("n_frames") =!= 1)
    assert(bad.count() === 0)
    // Spot-check one digest against an independently built pixel plane.
    val id = 3L
    val n = (id % 8 + 2).toInt * (id % 5 + 2).toInt * 3
    val pixels = Array.tabulate(n)(i => ((id * 31 + i) % 256).toByte)
    val got = decoded.filter(col("doc_id") === id).head().getAs[String]("digest")
    assert(got === hexMd5OfBytes(pixels))
  }

  test("encodeBmp2x2 payloads round-trip through BmpCodec (row flip + padding undone)") {
    val decoded = Multimodal.decodeWithCodec(spark,
      Multimodal.encodeBmp2x2(docs.select("doc_id")),
      () => new Multimodal.BmpCodec)
    val bad = decoded.filter(col("width") =!= 2 || col("height") =!= 2 ||
      col("n_frames") =!= 1)
    assert(bad.count() === 0)
    val id = 3L // docs fixture carries ids 0-4
    val pixels = Array.tabulate(12)(j => ((id * 31 + j) % 256).toByte)
    val got = decoded.filter(col("doc_id") === id).head().getAs[String]("digest")
    assert(got === hexMd5OfBytes(pixels))
  }

  test("encodeBmpGray8x8 → decodeBmpGray recovers the formula grays; dHash56 is near-dup-shaped") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // Independent replay of the generator: gray of logical pixel j for
    // doc id = byte j%16 of md5(seed '_' block), +128 on the doc's one
    // perturbed position.
    def gray(id: Long, j: Int): Int = {
      val hex = md5Hex(s"${id / 4}_${j / 16}")
      val base = Integer.parseInt(hex.substring(2 * (j % 16), 2 * (j % 16) + 2), 16)
      (base + (if (j == id % 64) 128 else 0)) % 256
    }
    val ids = spark.range(0, 16).select(col("id").as("doc_id"))
    val decoded = Multimodal.decodeBmpGray(spark,
      Multimodal.encodeBmpGray8x8(ids))
    val rows = decoded.collect()
    assert(rows.length === 16)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") === 8 && r.getAs[Int]("height") === 8)
      val got = r.getAs[scala.collection.Seq[Int]]("gray")
      val want = (0 until 64).map(j => gray(id, j))
      assert(got == want, s"gray mismatch for doc $id:\n got=$got\nwant=$want")
    }
    // dHash: 56 bits packed non-negative; same-seed docs (≤2 perturbed
    // pixels apart) sit within Hamming 4, the near-dup structure the
    // banded gate detects.
    val hashed = Multimodal.dHash56(decoded).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    hashed.values.foreach(p => assert(p >= 0 && p < (1L << 56)))
    for (seed <- 0 until 4; a <- 0 until 4; b <- (a + 1) until 4) {
      val h = java.lang.Long.bitCount(
        hashed(seed * 4L + a) ^ hashed(seed * 4L + b))
      assert(h <= 4, s"same-seed pair ($seed: $a,$b) at Hamming $h")
    }
    // Independent dHash replay from the formula grays.
    val id = 7L
    val want = (0 until 63).filter(_ % 8 < 7).map { j =>
      if (gray(id, j) < gray(id, j + 1)) 1L << (j - j / 8) else 0L
    }.sum
    assert(hashed(id) === want)
  }

  test("encodePng8x8 → decodePngGray: the zlib round-trip recovers the formula grays") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // Independent replay of the PNG generator ('p' seed namespace,
    // distinct from the BMP corpus so the two never alias).
    def gray(id: Long, j: Int): Int = {
      val hex = md5Hex(s"p${id / 4}_${j / 16}")
      val base = Integer.parseInt(hex.substring(2 * (j % 16), 2 * (j % 16) + 2), 16)
      (base + (if (j == id % 64) 128 else 0)) % 256
    }
    // 16 ids × 8 scanlines with filter type (id + row) % 5: every image
    // exercises ALL FIVE PNG filters (None/Sub/Up/Average/Paeth) through
    // the real deflate→inflate round-trip, so a bug in any one filter's
    // encode or decode arithmetic flips grays below.
    val ids = spark.range(0, 16).select(col("id").as("doc_id"))
    val decoded = Multimodal.decodePngGray(spark,
      Multimodal.encodePng8x8(spark, ids))
    val rows = decoded.collect()
    assert(rows.length === 16)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") === 8 && r.getAs[Int]("height") === 8)
      val got = r.getAs[scala.collection.Seq[Int]]("gray")
      val want = (0 until 64).map(j => gray(id, j))
      assert(got == want, s"gray mismatch for doc $id:\n got=$got\nwant=$want")
    }
    // Same near-dup contract as the BMP corpus: same-seed docs within
    // Hamming 4; independent dHash replay from the formula grays.
    val hashed = Multimodal.dHash56(decoded).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    hashed.values.foreach(p => assert(p >= 0 && p < (1L << 56)))
    for (seed <- 0 until 4; a <- 0 until 4; b <- (a + 1) until 4) {
      val h = java.lang.Long.bitCount(
        hashed(seed * 4L + a) ^ hashed(seed * 4L + b))
      assert(h <= 4, s"same-seed pair ($seed: $a,$b) at Hamming $h")
    }
    val id = 7L
    val want = (0 until 63).filter(_ % 8 < 7).map { j =>
      if (gray(id, j) < gray(id, j + 1)) 1L << (j - j / 8) else 0L
    }.sum
    assert(hashed(id) === want)
  }

  test("PNG chunk walk: CRC/size/IHDR corruption fails loudly; ancillary chunks skip") {
    import spark.implicits._
    val payload = Multimodal.encodePng8x8(spark,
      spark.range(5, 6).select(col("id").as("doc_id")))
      .select("payload").as[Array[Byte]].head()
    def decode(p: Array[Byte]): Array[org.apache.spark.sql.Row] =
      Multimodal.decodePngGray(spark, Seq((5L, p)).toDF("doc_id", "payload")).collect()
    val baseline = decode(payload).head.getAs[scala.collection.Seq[Int]]("gray")
    // Layout: 8-byte signature, IHDR chunk = 4+4+13+4 = 25 bytes → IDAT
    // length field starts at byte 33.
    // (1) a flipped IDAT data byte must fail the chunk CRC32, never
    // silently inflate garbage.
    val flipped = payload.clone()
    flipped(42) = (flipped(42) ^ 0x01).toByte
    val eCrc = intercept[Exception](decode(flipped))
    assert(eCrc.toString.contains("CRC32") ||
      Option(eCrc.getCause).exists(_.toString.contains("CRC32")))
    // (2) a declared chunk size past the buffer must fail the size
    // check BEFORE any read (the WAV chunk-walk lesson).
    val oversized = payload.clone()
    oversized(33) = 0x7f.toByte
    val eSz = intercept[Exception](decode(oversized))
    assert(eSz.toString.contains("corrupt PNG chunk") ||
      Option(eSz.getCause).exists(_.toString.contains("corrupt PNG chunk")))
    // (3) an IHDR declaring grayscale (color type 0) with a VALID CRC —
    // so only the field validation can catch it — must be rejected.
    val gray0 = payload.clone()
    gray0(25) = 0 // color type byte (sig 8 + len 4 + type 4 + data offset 9)
    val crc = new java.util.zip.CRC32()
    crc.update(gray0, 12, 17) // IHDR type + data
    val crcV = crc.getValue.toInt
    for (i <- 0 until 4) gray0(29 + i) = ((crcV >> (8 * (3 - i))) & 0xff).toByte
    val eColor = intercept[Exception](decode(gray0))
    assert(eColor.toString.contains("truecolor") ||
      Option(eColor.getCause).exists(_.toString.contains("truecolor")))
    // (4) a well-formed ancillary chunk (tEXt) between IHDR and IDAT is
    // skipped — CRC still verified — and the decode is unchanged.
    val text = "graft".getBytes("US-ASCII")
    val tCrc = new java.util.zip.CRC32()
    tCrc.update("tEXt".getBytes("US-ASCII")); tCrc.update(text)
    val tv = tCrc.getValue.toInt
    val chunk = Array[Byte](0, 0, 0, text.length.toByte) ++
      "tEXt".getBytes("US-ASCII") ++ text ++
      (0 until 4).map(i => ((tv >> (8 * (3 - i))) & 0xff).toByte).toArray
    val withText = payload.take(33) ++ chunk ++ payload.drop(33)
    assert(decode(withText).head.getAs[scala.collection.Seq[Int]]("gray") == baseline)
  }

  test("resampleGray block-means variable-size BMPs onto the grid exactly") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def gray(id: Long, j: Int, npix: Int): Int = {
      val hex = md5Hex(s"${id / 4}_${j / 16}")
      val base = Integer.parseInt(hex.substring(2 * (j % 16), 2 * (j % 16) + 2), 16)
      (base + (if (j == id % npix) 128 else 0)) % 256
    }
    // Independent block-mean replay: cell (gy,gx) collects pixels whose
    // (y*8 div h, x*8 div w) lands there; integer mean.
    def resample(id: Long, w: Int, h: Int): Seq[Int] = {
      val cells = Array.fill(8, 8)(List.empty[Int])
      for (y <- 0 until h; x <- 0 until w) {
        val gy = y * 8 / h; val gx = x * 8 / w
        cells(gy)(gx) = gray(id, y * w + x, w * h) :: cells(gy)(gx)
      }
      for (gy <- 0 until 8; gx <- 0 until 8)
        yield cells(gy)(gx).sum / cells(gy)(gx).size
    }
    val ids = spark.range(0, 12).select(col("id").as("doc_id"))
    val res = Multimodal.resampleGray(
      Multimodal.decodeBmpGray(spark, Multimodal.encodeBmpGrayVar(ids)))
    res.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = if ((id / 4) % 2 == 0) 13 else 18
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === 16)
      val got = r.getAs[scala.collection.Seq[Int]]("gray")
      assert(got == resample(id, w, 16), s"resample mismatch for doc $id")
    }
    // The fused codec-pass resample (what the gate runs) must equal the
    // declarative explode→groupBy spelling cell-for-cell.
    val fused = Multimodal.decodeBmpGrayResampled(spark,
        Multimodal.encodeBmpGrayVar(ids)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[scala.collection.Seq[Int]]("gray"))).toMap
    res.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(fused(id)._1 === r.getAs[Int]("width"))
      assert(fused(id)._2 == r.getAs[scala.collection.Seq[Int]]("gray"),
        s"fused/declarative resample mismatch for doc $id")
    }
    // Same-seed near-dup structure survives the resample: one perturbed
    // pixel moves one cell mean, so pairs stay within a few dHash bits.
    val hashed = Multimodal.dHash56(res).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    for (seed <- 0 until 3; a <- 0 until 4; b <- (a + 1) until 4) {
      val h = java.lang.Long.bitCount(
        hashed(seed * 4L + a) ^ hashed(seed * 4L + b))
      assert(h <= 4, s"same-seed pair ($seed: $a,$b) at Hamming $h after resample")
    }
  }

  test("encodeWavPcm → decodeWavPcm recovers the formula samples; features replay") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sample(id: Long, i: Int): Int = {
      val hex = md5Hex(s"${id / 4}_${i / 8}")
      val b0 = Integer.parseInt(hex.substring(4 * (i % 8), 4 * (i % 8) + 2), 16)
      val b1 = Integer.parseInt(hex.substring(4 * (i % 8) + 2, 4 * (i % 8) + 4), 16)
      val v = (b0 + 256 * b1 + (if (i == id % 128) 512 else 0)) % 65536
      if (v >= 32768) v - 65536 else v
    }
    val ids = spark.range(0, 12).select(col("id").as("doc_id"))
    val decoded = Multimodal.decodeWavPcm(spark, Multimodal.encodeWavPcm(ids))
    decoded.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("sample_rate") === 16000)
      assert(r.getAs[Int]("n_samples") === 128)
      val got = r.getAs[scala.collection.Seq[Int]]("samples")
      assert(got == (0 until 128).map(i => sample(id, i)),
        s"sample mismatch for doc $id")
    }
    // Feature replay for one doc: peak / mean-square / zcr / energy_fp.
    val id = 5L
    val s5 = (0 until 128).map(i => sample(id, i))
    val feats = Multimodal.audioFeatures(decoded)
      .filter(col("doc_id") === id).head()
    assert(feats.getAs[Long]("peak") === s5.map(v => math.abs(v).toLong).max)
    assert(feats.getAs[Long]("mean_square") ===
      s5.map(v => v.toLong * v).sum / 128)
    assert(feats.getAs[Long]("zero_crossings") ===
      (1 until 128).count(i => (s5(i) >= 0) != (s5(i - 1) >= 0)).toLong)
    val ew = (0 until 16).map(w => (0 until 8).map(k => {
      val v = s5(8 * w + k); v.toLong * v }).sum)
    assert(feats.getAs[Long]("energy_fp") ===
      (0 until 15).map(w => if (ew(w + 1) > ew(w)) 1L << w else 0L).sum)
  }

  test("decodeWavPcm walks unknown chunks (LIST before data) and rejects non-PCM") {
    import spark.implicits._
    def le(v: Int, bytes: Int): Array[Byte] =
      (0 until bytes).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val samples = Array[Int](100, -200, 300)
    val data = samples.flatMap(v => le(if (v < 0) v + 65536 else v, 2))
    val listBody = ascii("INFOxxxx") // 8-byte opaque metadata chunk body
    val payload =
      ascii("RIFF") ++ le(4 + 24 + (8 + listBody.length) + 8 + data.length, 4) ++
      ascii("WAVE") ++
      ascii("fmt ") ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++
        le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
      ascii("LIST") ++ le(listBody.length, 4) ++ listBody ++
      ascii("data") ++ le(data.length, 4) ++ data
    val df = Seq((7L, payload)).toDF("doc_id", "payload")
    val r = Multimodal.decodeWavPcm(spark, df).head()
    assert(r.getAs[Int]("sample_rate") === 8000)
    assert(r.getAs[scala.collection.Seq[Int]]("samples") == Seq(100, -200, 300))
    // Stereo (channels=2) must be rejected loudly.
    val bad = payload.clone(); bad(22) = 2
    val err = intercept[Exception] {
      Multimodal.decodeWavPcm(spark, Seq((8L, bad)).toDF("doc_id", "payload")).collect()
    }
    assert(err.getMessage == null ||
      err.toString.contains("PCM") || Option(err.getCause).nonEmpty)
    // Corrupt chunk sizes must fail LOUDLY, not AIOOBE or loop forever
    // (r12 advice): (a) a data-chunk size past the buffer; (b) a
    // negative size (high bit set), which would make the chunk walk
    // non-advancing.
    val truncated = payload.clone()
    truncated(payload.length - data.length - 4) = 127 // data sz = huge
    val errTrunc = intercept[Exception] {
      Multimodal.decodeWavPcm(spark,
        Seq((9L, truncated)).toDF("doc_id", "payload")).collect()
    }
    assert(errTrunc.toString.contains("corrupt RIFF chunk") ||
      Option(errTrunc.getCause).exists(_.toString.contains("corrupt RIFF chunk")))
    val negative = payload.clone()
    negative(payload.length - data.length - 1) = 0x80.toByte // sz < 0
    val errNeg = intercept[Exception] {
      Multimodal.decodeWavPcm(spark,
        Seq((10L, negative)).toDF("doc_id", "payload")).collect()
    }
    assert(errNeg.toString.contains("corrupt RIFF chunk") ||
      Option(errNeg.getCause).exists(_.toString.contains("corrupt RIFF chunk")))
  }

  test("encodeAvi → decodeAviFrames recovers per-frame formula pixels; corrupt AVIs fail loudly") {
    import spark.implicits._
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // Gray of global pixel g (frame g/64, offset g%64): byte g%16 of
    // md5(seed '_' g/16), +128 mod 256 at g = doc_id % 256.
    def gray(id: Long, g: Int): Int = {
      val hex = md5Hex(s"${id / 4}_${g / 16}")
      val v = Integer.parseInt(hex.substring(2 * (g % 16), 2 * (g % 16) + 2), 16)
      (v + (if (g == id % 256) 128 else 0)) % 256
    }
    val ids = spark.range(0, 10).select(col("id").as("doc_id"))
    val decoded = Multimodal.decodeAviFrames(spark, Multimodal.encodeAvi(ids))
    val rows = decoded.collect()
    assert(rows.length === 40) // 10 docs × 4 frames
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val f = r.getAs[Int]("frame_idx")
      assert(r.getAs[Int]("width") === 8 && r.getAs[Int]("height") === 8)
      val got = r.getAs[scala.collection.Seq[Int]]("gray")
      assert(got == (0 until 64).map(j => gray(id, f * 64 + j)),
        s"pixel mismatch for doc $id frame $f")
    }
    // Same-seed docs share ≥2 bit-identical frames and their total
    // aligned Hamming is ≤ 4 — the recall contract the dedup gate
    // banding relies on.
    val fh = Multimodal.dHash56(decoded, Seq("doc_id", "frame_idx"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val totalHamming = (0 until 4).map(f =>
      java.lang.Long.bitCount(fh((0L, f)) ^ fh((1L, f)))).sum
    assert(totalHamming <= 4, s"same-seed aligned Hamming $totalHamming > 4")
    assert((0 until 4).count(f => fh((0L, f)) == fh((1L, f))) >= 2)
    // Corruption: (a) truncated chunk size fails the declared-size
    // check; (b) a frame-count mismatch vs avih fails the cross-check.
    val payload = Multimodal.encodeAvi(Seq(3L).toDF("doc_id"))
      .select("payload").head().getAs[Array[Byte]](0)
    assert(payload.length === 1024)
    val bad = payload.clone()
    bad(payload.length - 192 - 3) = 127 // last '00db' chunk size → past buffer
    val errTrunc = intercept[Exception] {
      Multimodal.decodeAviFrames(spark,
        Seq((3L, bad)).toDF("doc_id", "payload")).collect()
    }
    assert(errTrunc.toString.contains("corrupt RIFF chunk") ||
      Option(errTrunc.getCause).exists(_.toString.contains("corrupt RIFF chunk")))
    val miscount = payload.clone()
    miscount(32 + 16) = 5 // avih dwTotalFrames: 4 → 5
    val errCount = intercept[Exception] {
      Multimodal.decodeAviFrames(spark,
        Seq((3L, miscount)).toDF("doc_id", "payload")).collect()
    }
    assert(errCount.toString.contains("frames") ||
      Option(errCount.getCause).exists(_.toString.contains("frames")))
  }

  test("sceneSplit: cuts on Hamming > threshold, keyframe is min (phash, idx)") {
    import spark.implicits._
    // doc 1: f0=0, f1=3 (H=2, no cut at 28), f2=all-56-bits (H=54, CUT),
    // f3=f2 (H=0, no cut) → scenes [0,1] and [2,3]. doc 2: one frame.
    val full = (1L << 56) - 1
    val fh = Seq(
      (1L, 0, 0L), (1L, 1, 3L), (1L, 2, full), (1L, 3, full),
      (2L, 0, 42L))
      .toDF("doc_id", "frame_idx", "phash")
    val scenes = Multimodal.sceneSplit(fh, threshold = 28)
      .orderBy("doc_id", "scene_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getInt(5), r.getLong(6)))
    assert(scenes === Array(
      (1L, 0L, 0, 1, 2L, 0, 0L),    // keyframe: min phash 0 at f0
      (1L, 1L, 2, 3, 2L, 2, full),  // equal phashes: tie-break on idx
      (2L, 0L, 0, 0, 1L, 0, 42L)))
    // Threshold is strict: H=2 equals the threshold → NOT a cut; one
    // below → cut. (Guards an off-by-one in the > comparison.)
    assert(Multimodal.sceneSplit(fh.filter($"doc_id" === 1L), threshold = 2)
      .count() === 2)
    assert(Multimodal.sceneSplit(fh.filter($"doc_id" === 1L), threshold = 1)
      .count() === 3)
  }

  test("normalizeUrl: host-only lowering, ports, www, tracking, slashes") {
    import spark.implicits._
    val cases = Seq(
      // path case must SURVIVE while scheme+host lowers
      ("https://WWW.Example.COM:443/Keep/Case?id=1", "https://example.com/Keep/Case?id=1"),
      ("HTTPS://EXAMPLE.COM/Keep", "https://example.com/Keep"),
      // http default port; https keeps a NON-default port
      ("http://Example.com:80/a", "http://example.com/a"),
      ("https://example.com:8443/a", "https://example.com:8443/a"),
      // tracking params: first-position (stitch '?'), mid, trailing, fragment
      ("https://e.com/a?utm_source=x&id=2", "https://e.com/a?id=2"),
      ("https://e.com/a?id=2&gclid=z#frag", "https://e.com/a?id=2"),
      ("https://e.com/a?fbclid=only", "https://e.com/a"),
      // trailing slash: bare and before-query; root slash kept
      ("https://e.com/a/", "https://e.com/a"),
      ("https://e.com/a/?id=3", "https://e.com/a?id=3"),
      ("https://e.com/", "https://e.com/"))
    val out = cases.map(_._1).toDF("url")
      .select(col("url"), TextOps.normalizeUrl(col("url")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((in, want) <- cases)
      assert(out(in) === want, s"normalizeUrl($in)")
  }

  test("blockedEditDistancePairs: blocking, length pre-filter, threshold all bite") {
    import spark.implicits._
    val recs = Seq(
      (1L, "abcdef01"),   // base
      (2L, "abcdef0x"),   // dist 1 from 1
      (3L, "abcdef01zzzz"), // dist 4 AND length-gap 4: pre-filter kills
      (4L, "zzzzzz01"),   // different block: never a candidate
      (5L, "abcdefXY"))   // dist 2 from 1 (two substitutions)
      .toDF("rec_id", "name")
    val pairs = TextOps.blockedEditDistancePairs(recs, "rec_id", "name",
        prefixLen = 6, maxDist = 2)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs === Array((1L, 2L, 1), (1L, 5L, 2), (2L, 5L, 2)))
    // widen the length filter by raising maxDist: the far variant is a
    // candidate at maxDist=4 and verifies at exactly 4
    val wide = TextOps.blockedEditDistancePairs(recs, "rec_id", "name",
        prefixLen = 6, maxDist = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wide.contains((1L, 3L, 4)))
  }

  test("silenceSplit: maximal active runs become segments; silent docs vanish") {
    import spark.implicits._
    // doc 1, 4 windows of 8 samples: w0 energy 800 (active), w1 energy 0
    // (silent), w2 energy 3200, w3 energy 800 → segments [0,0] and
    // [2,3]. doc 2: all silent → no rows at all.
    def win(v: Int) = Array.fill(8)(v)
    val d1 = win(10) ++ win(0) ++ win(20) ++ win(10)
    val d2 = Array.fill(32)(1) // energy 8/window, below threshold
    val decoded = Seq((1L, d1), (2L, d2)).toDF("doc_id", "samples")
    val segs = Multimodal.silenceSplit(decoded, threshold = 500L,
        windowSamples = 8, nWindows = 4)
      .orderBy("doc_id", "segment_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(segs === Array(
      (1L, 0L, 0, 0, 1L, 800L, 800L),
      (1L, 1L, 2, 3, 2L, 3200L, 4000L)))
    // Threshold boundary is inclusive (energy >= threshold is active):
    // at exactly 800 both w0 and w3 stay; one above drops them.
    assert(Multimodal.silenceSplit(decoded, 800L, 8, 4).count() === 2)
    assert(Multimodal.silenceSplit(decoded, 801L, 8, 4).count() === 1)
  }

  test("clipContainment: aligned verify is load-bearing; partial alignments die") {
    import spark.implicits._
    val videos = Seq(
      (1L, 0, 10L), (1L, 1, 20L), (1L, 2, 30L), (1L, 3, 40L),
      (2L, 0, 23L), (2L, 1, 30L), (2L, 2, 99L), (2L, 3, 98L),
      (3L, 0, 20L), (3L, 1, 30L ^ 0xFF00L), (3L, 2, 7L), (3L, 3, 8L))
      .toDF("doc_id", "frame_idx", "phash")
    val clips = Seq(
      // matches video 1 @1 exactly; video 2 @0 with Hamming 2 (23 vs
      // 20); candidate in video 3 @0 via the exact frame-0 match but
      // the OTHER aligned frame reads Hamming 8 — the verify must kill
      // it (a candidate-only implementation would emit it).
      (100L, 0, 20L), (100L, 1, 30L),
      // frame 0 matches video 1's LAST frame: offset 3 leaves p=1
      // hanging past the end — n_aligned = 1, must die.
      (200L, 0, 40L), (200L, 1, 77L))
      .toDF("clip_id", "p", "phash")
    val out = Multimodal.clipContainment(clips, videos, nClipFrames = 2, tau = 6)
      .orderBy("clip_id", "video_id", "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out === Array((100L, 1L, 1, 0L), (100L, 2L, 0, 2L)))
  }

  test("CountMin: estimates are one-sided and half-sketches merge to the whole") {
    import graft.operators.CountMin
    val keys = (0 until 400).map(i => s"k${i % 37}").toDF("k")
    val exact = keys.groupBy("k").agg(count(lit(1)).as("n"))
    val whole = CountMin.build(keys, "k")
    val est = CountMin.estimate(whole, exact.select("k"), "k")
    val joined = exact.join(est, "k").collect()
    assert(joined.nonEmpty)
    // One-sided guarantee: a CM estimate can overcount (collisions) but
    // NEVER undercount.
    joined.foreach { r =>
      assert(r.getAs[Long]("cm_estimate") >= r.getAs[Long]("n"), r.toString)
    }
    // Mergeability: sketch(A) + sketch(B) must equal sketch(A ∪ B)
    // cell-for-cell — the property that lets per-day sketches roll up.
    val merged = CountMin.merge(
      CountMin.build(keys.limit(150), "k"),
      CountMin.build(keys.exceptAll(keys.limit(150)), "k"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
  }

  test("cluster-aware splits: near-duplicates always land in the same split") {
    val pairs = Seq((0L, 1L), (1L, 4L)).toDF("id_a", "id_b")
    val clustered = Dedup.dedupClusters(docs, "doc_id", pairs)
      .select("doc_id", "component")
    val split = graft.llm.Splits.assignSplits(clustered, "component")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[String]("split"))).toMap
    // The {0,1,4} cluster shares one component, hence ONE split — a
    // per-doc split could put doc 0 in train and its dup 1 in test.
    assert(split(0L)._1 === 0L && split(1L)._1 === 0L && split(4L)._1 === 0L)
    assert(Set(split(0L)._2, split(1L)._2, split(4L)._2).size === 1)
    // Singletons split independently of the cluster members.
    assert(split(2L)._1 === 2L && split(3L)._1 === 3L)
  }

  test("connectedComponents labels every vertex with its cluster minimum") {
    // Two components {1,2,3,9} and {5,6}; 9 reaches 1 only through 3.
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a path graph (diameter > 1 iteration)") {
    // Path 10-11-12-...-17: min label must propagate 7 hops.
    val pairs = (10L until 17L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 8 && got.values.forall(_ === 10L))
  }

  test("connectedComponents: pointer jumping converges a 30-hop path within maxIter=20") {
    // Diameter 30 > maxIter: plain min-label propagation CANNOT converge
    // in 20 rounds — only the O(log diameter) pointer jump makes this
    // pass, so the test pins the jump against regressions.
    val pairs = (100L until 130L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 31 && got.values.forall(_ === 100L))
  }

  test("dedupClusters assigns singletons their own id and flags canonicals") {
    val pairs = Seq((0L, 1L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out === Seq(
      (0L, 0L, true, 3L), (1L, 0L, false, 3L), (2L, 2L, true, 1L),
      (3L, 3L, true, 1L), (4L, 0L, false, 3L)))
    // Empty pair set: every doc is its own canonical singleton.
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val solo = Dedup.dedupClusters(docs, "doc_id", empty)
    assert(solo.filter(!col("is_canonical") || col("cluster_size") =!= 1L).count() === 0)
  }

  test("incremental dedup drops only new rows already in the corpus") {
    val normed = docs.withColumn("norm", TextOps.normText(col("text")))
    val corpus = normed.filter(col("doc_id") === 0)
    val fresh = normed.filter(col("doc_id") > 0)
    // 1 and 4 normalize to doc 0's text; 2 and 3 are genuinely new.
    val kept = Dedup.dropExistingExact(fresh, corpus, Seq("norm"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
    // Cross-frame LSH: near-dup 2 collides with corpus doc 0; unrelated 3 doesn't.
    val sh = Dedup.shingleArray(
      docs.withColumn("text", TextOps.normText(col("text"))), "doc_id", "text", 3)
    val bands = Dedup.lshBands(
      Dedup.minhashSignaturesNative(sh, "doc_id", 8), "doc_id", 8, 2)
    val cross = Dedup.candidatePairsAcross(
      bands.filter(col("doc_id") > 0), bands.filter(col("doc_id") === 0), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.contains((1L, 0L)) && !cross.exists(_._1 == 3L))
  }

  test("decontaminate drops exactly the train docs sharing an eval n-gram") {
    // Eval doc 0; 1 and 4 are its exact/whitespace twins, 2 shares every
    // 5-gram except the last token's — all three must drop; 3 survives.
    val evalSet = docs.filter(col("doc_id") === 0)
    val train = docs.filter(col("doc_id") > 0)
    val kept = graft.llm.Dedup.decontaminate(train, evalSet, "doc_id", "text", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
  }

  test("mixtureSample: weights nest — raising a weight only adds rows") {
    import graft.llm.Splits
    val rows = (1 to 400).map(i => (i.toLong, s"src${i % 2}")).toDF("id", "source")
    val lo = Splits.mixtureSample(rows, "id", "source", Map("src0" -> 2500))
      .collect().map(_.getLong(0)).toSet
    val hi = Splits.mixtureSample(rows, "id", "source", Map("src0" -> 7500))
      .collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
    assert(Splits.mixtureSample(rows, "id", "source", Map("src0" -> 0))
      .filter(col("source") === "src0").count() === 0)
    // src1 untouched by the map: defaultBps keeps everything.
    assert(hi.count(_ % 2 == 1) === 200)
  }

  test("temperatureMixtureSqrt: allocations sum to budget, flattening upweights small sources") {
    import graft.llm.Splits
    // src0: 8100 tokens, src1: 900 — raw shares 0.9/0.1, sqrt-flattened
    // weights 0.75/0.25.
    val rows = ((1 to 81).map(i => (s"a$i", "src0", 100L)) ++
      (1 to 9).map(i => (s"b$i", "src1", 100L))).toDF("id", "source", "n_toks")
    val m = Splits.temperatureMixtureSqrt(rows, "source", col("n_toks"), budget = 1000L)
      .collect().map(r => r.getString(0) -> r).toMap
    val total = m.values.map(_.getAs[Long]("target_docs")).sum
    assert(total == 1000L, s"budget must allocate exactly, got $total")
    val w0 = m("src0").getAs[Double]("mix_weight")
    val w1 = m("src1").getAs[Double]("mix_weight")
    assert(math.abs(w0 - 0.75) < 1e-9 && math.abs(w1 - 0.25) < 1e-9, s"$w0 / $w1")
    // raw share of src1 is 0.1; sqrt temperature lifts it to 0.25
    assert(w1 > 0.1)
    assert(m("src1").getAs[Long]("target_docs") == 250L)
  }

  test("qualityFilter: reasons explain every reject, keep is their conjunction") {
    val d = Seq(
      (1L, "the cat and the dog sat in the sun and it is a good day today ok"),
      (2L, "short text"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val out = TextOps.qualityFilter(d, minTokens = 5, maxPunctRatio = 0.5,
        minStopwordRatio = 0.1)
      .select("doc_id", "keep", "fail_reasons").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getSeq[String](2))).toMap
    assert(out(1L) === ((true, Seq())))
    assert(out(2L)._2 === Seq("too_short", "low_stopword"))
    assert(out(3L) === ((false, Seq("low_stopword"))))
  }

  test("hash split is a pure function of id: stable across partitionings") {
    import graft.llm.Splits
    val ids = spark.range(0, 2000).toDF("id")
    val a = Splits.assignSplits(ids, "id").orderBy("id").collect()
    val b = Splits.assignSplits(ids.repartition(13), "id").orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // Weights are respected within a few percent at n=2000.
    val counts = Splits.assignSplits(ids, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 1500 && counts("val") > 100 && counts("test") > 100)
    assert(counts.values.sum === 2000L)
    // A salt draws an independent assignment.
    val salted = Splits.assignSplits(ids, "id", salt = "v2").orderBy("id").collect()
    assert(salted.toSeq !== a.toSeq)
  }

  test("chunk: sliding windows with overlap, ragged tail, hand-checked") {
    val d = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.chunk(d, "doc_id", "text", chunkTokens = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(out === Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e f g", 3),
      (1L, 3, "g", 1), (2L, 0, "x", 1)))
  }

  test("chunk with stride == chunkTokens is a lossless partition of the text") {
    val out = TextOps.chunk(docs, "doc_id", "text", chunkTokens = 4, stride = 4)
    // sort_array over (chunk_id, text) structs: collect_list alone does
    // NOT preserve input order across shuffles.
    val rebuilt = out.groupBy("doc_id")
      .agg(expr("""array_join(transform(
             sort_array(collect_list(struct(chunk_id, chunk_text))),
             s -> s.chunk_text), ' ')""").as("rebuilt"),
        sum("n_tokens").as("total_tokens"))
    val joined = docs.select(col("doc_id"),
        TextOps.normText(col("text")).as("norm"),
        size(TextOps.tokens(col("text"))).as("n"))
      .join(rebuilt, "doc_id")
    assert(joined.filter(col("rebuilt") =!= col("norm")).count() === 0)
    assert(joined.filter(col("total_tokens") =!= col("n")).count() === 0)
  }

  test("packSequences: bins respect capacity with at most one chunk of overflow") {
    val chunks = TextOps.chunk(docs, "doc_id", "text", chunkTokens = 4, stride = 4)
      .withColumn("shard", pmod(col("doc_id"), lit(2)))
    val packed = TextOps.packSequences(chunks, "shard",
      Seq("doc_id", "chunk_id"), "n_tokens", capacity = 10)
    val loads = packed.groupBy("shard", "bin_id")
      .agg(sum("n_tokens").as("load"), max("n_tokens").as("biggest"))
      .collect()
    // load ≤ capacity + biggest-chunk − 1 (bounded overflow), and every
    // bin except possibly the last per shard is at least capacity-full…
    // the invariant the div formula guarantees is the upper bound:
    assert(loads.forall(r => r.getLong(2) <= 10 + r.getInt(3) - 1))
    // Deterministic across layouts.
    val again = TextOps.packSequences(chunks.repartition(7), "shard",
      Seq("doc_id", "chunk_id"), "n_tokens", capacity = 10)
    assert(packed.orderBy("doc_id", "chunk_id").collect().toSeq ===
      again.orderBy("doc_id", "chunk_id").collect().toSeq)
  }

  test("quantize: 8-bit codes round-trip within half a quantization step") {
    val vecs = Seq((1L, Array(0.0f, 0.5f, 1.0f)), (2L, Array(2.0f, 2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantize(vecs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getSeq[Int](3)))
      .toMap
    assert(q(1L) === ((0.0, 1.0, Seq(0, 128, 255))))
    assert(q(2L)._3 === Seq(0, 0, 0)) // constant vector: all-zero codes
    // Dequantized values sit within (mx-mn)/255/2 of the originals.
    val (mn, mx, codes) = q(1L)
    val err = codes.zip(Seq(0.0, 0.5, 1.0)).map { case (c, v) =>
      math.abs(mn + c * (mx - mn) / 255.0 - v) }.max
    assert(err <= (mx - mn) / 255.0 / 2 + 1e-12)
  }

  test("stratifiedCap keeps at most n per stratum, deterministically") {
    import graft.llm.Splits
    val rows = (1 to 300).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp")
    val capped = Splits.stratifiedCap(rows, Seq("grp"), "id", 10)
    val perGroup = capped.groupBy("grp").count().collect().map(_.getLong(1))
    assert(perGroup.forall(_ === 10L))
    val again = Splits.stratifiedCap(rows.repartition(7), Seq("grp"), "id", 10)
    assert(capped.orderBy("id").collect().toSeq === again.orderBy("id").collect().toSeq)
  }

  test("hyperplaneSig: 16 bits, equal vectors collide, negation flips every bit") {
    val rnd = new scala.util.Random(7)
    val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val vecs = Seq((1L, v), (2L, v), (3L, v.map(-_)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.hyperplaneSig(col("embedding"), 8, 16).as("sig"))
    val sigs = vecs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs.values.foreach(s => assert(s >= 0L && s <= 0xFFFFL))
    assert(sigs(1L) === sigs(2L))
    // Negating the vector flips every projection sign (none are exactly
    // 0 for random data), so the signatures are bitwise complements.
    assert((sigs(1L) ^ sigs(3L)) === 0xFFFFL)
    // A dim that disagrees with the actual vector length must fail
    // loudly (assert_true guard), not silently emit all-zero signatures.
    val ex = intercept[Exception] {
      Seq((1L, v)).toDF("vec_id", "embedding")
        .select(Similarity.hyperplaneSig(col("embedding"), 16, 16).as("sig"))
        .collect()
    }
    assert(ex.getMessage.contains("hyperplaneSig") ||
      Option(ex.getCause).exists(_.getMessage.contains("hyperplaneSig")))
  }

  test("randomProjection: exact coordinates, linearity, JL distance preservation") {
    val rnd = new scala.util.Random(11)
    val x = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val y = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val out = Seq((1L, x), (2L, y), (3L, x.zip(y).map { case (a, b) => a + b }))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.randomProjection(col("embedding"), 64, 16).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // Exact per-coordinate check against a direct Scala left fold of the
    // same md5 signs (pins fold order AND the rp_ seed family).
    val expected = (0 until 16).map { j =>
      (0 until 64).foldLeft(0.0)((acc, i) =>
        acc + x(i).toDouble * Similarity.rpSign(j, i)) / math.sqrt(16.0)
    }
    assert(out(1L) == expected, s"${out(1L)} vs $expected")
    // Linearity: proj(x+y) = proj(x) + proj(y) up to float addition of
    // the inputs themselves.
    out(3L).indices.foreach { j =>
      assert(math.abs(out(3L)(j) - (out(1L)(j) + out(2L)(j))) < 1e-5)
    }
    // JL: squared distance preserved within a loose (heavily k-dependent)
    // band — this is the property the operator exists for.
    val d2o = x.zip(y).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
    val d2p = out(1L).zip(out(2L)).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(d2p / d2o > 0.2 && d2p / d2o < 3.0, s"distortion ${d2p / d2o}")
  }

  test("randomProjection: wrong dim fails loudly") {
    val ex = intercept[Exception] {
      Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
        .select(Similarity.randomProjection(col("embedding"), 64, 4).as("p"))
        .collect()
    }
    assert(ex.getMessage.contains("randomProjection") ||
      Option(ex.getCause).exists(_.getMessage.contains("randomProjection")))
  }

  test("hyperplaneSig at production dims (768 x 32 bits): analyzes, codegens, exact") {
    // r7 advice: the per-bit literal formulation risked an expression
    // blowup at real embedding dims. This pins the single-literal fold:
    // it must analyze + run at dim=768/nBits=32 AND agree bit-for-bit
    // with a direct Scala evaluation of the same hyperplanes.
    val rnd = new scala.util.Random(42)
    val v = Array.fill(768)(rnd.nextFloat() * 2 - 1)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
      .select(Similarity.hyperplaneSig(col("embedding"), 768, 32).as("sig"))
    // Single literal + single fold: the analyzed expression tree must
    // stay tiny no matter the matrix size.
    val treeSize = df.queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    assert(treeSize < 200, s"expression tree grew with dim/nBits: $treeSize nodes")
    val got = df.head().getLong(0)
    val expected = (0 until 32).map { k =>
      val proj = (0 until 768).map(i => v(i).toDouble * Similarity.hyperplaneSign(k, i)).sum
      if (proj >= 0) 1L << k else 0L
    }.sum
    assert(got === expected)
  }

  test("hyperplanePairs: exact duplicates pair at Hamming 0, ids ordered") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(rnd.nextFloat())
    val vecs = (Seq((1L, base), (2L, base)) ++
      (3L to 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))))
      .toDF("vec_id", "embedding")
    val sigs = vecs.select(col("vec_id"),
      Similarity.hyperplaneSig(col("embedding"), 8, 16).as("rp_sig"))
    val pairs = Similarity.hyperplanePairs(sigs, "vec_id", "rp_sig", 16, 4, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(pairs.forall { case (a, b, _) => a < b })
  }

  test("hyperplanePairs cap bounds identical-signature buckets and keeps Hamming-0 pairs") {
    // 150 identical vectors: every band collides into ONE bucket per
    // band. Uncapped expansion emits 150*149/2 = 11175 pairs; the star
    // cap bounds emission to n*reps while all pairs stay Hamming 0.
    val n = 150
    val base = Array.tabulate(8)(i => 0.1f * (i + 1))
    val vecs = (1L to n.toLong).map(i => (i, base)).toDF("vec_id", "embedding")
    val sigs = vecs.select(col("vec_id"),
      Similarity.hyperplaneSig(col("embedding"), 8, 16).as("rp_sig"))
    val reps = 4
    val capped = Similarity.hyperplanePairs(sigs, "vec_id", "rp_sig", 16, 4, 16,
      maxBucket = 16, reps = reps).collect()
    assert(capped.length <= n * reps, s"cap must bound pairs, got ${capped.length}")
    assert(capped.length >= n - 1, "star must keep every member reachable")
    assert(capped.forall(_.getInt(2) === 0), "identical sigs pair at Hamming 0")
    // default (uncapped) behavior unchanged on a small mixed corpus
    val rnd = new scala.util.Random(13)
    val mixed = ((1L to 2L).map(i => (i, base)) ++
      (3L to 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))))
      .toDF("vec_id", "embedding")
    val msigs = mixed.select(col("vec_id"),
      Similarity.hyperplaneSig(col("embedding"), 8, 16).as("rp_sig"))
    val full = Similarity.hyperplanePairs(msigs, "vec_id", "rp_sig", 16, 4, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedBig = Similarity.hyperplanePairs(msigs, "vec_id", "rp_sig", 16, 4, 16,
      maxBucket = 64, reps = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedBig === full, "no oversized bucket -> identical output")
  }

  test("bm25: query-term docs rank by saturated tf, absent docs drop out") {
    val corpus = Seq(
      (1L, "spark spark spark query engine"), // tf(spark)=3
      (2L, "spark query engine planning xyz"), // tf(spark)=1
      (3L, "nothing relevant here at all")) // no query terms
      .toDF("doc_id", "text")
    val top = TextOps.bm25TopDocs(corpus, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!top.contains(3L)) // docs with zero hits never score
    assert(top(1L) > top(2L)) // higher tf wins at equal dl
    // k1 saturation: tripling tf must NOT triple the score.
    assert(top(1L) < 3 * top(2L))
  }

  test("rrfFuse: agreement across lists beats a single first place") {
    val cos = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("query_id", "corpus_id", "rank")
    val l2 = Seq((0L, 11L, 1), (0L, 12L, 2)).toDF("query_id", "corpus_id", "rank")
    val fused = Similarity.rrfFuse(Seq(cos, l2))
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getInt(4))).toMap
    // 11 appears in both lists (1/62 + 1/61) > 10's single 1/61.
    assert(fused(11L)._2 === 1)
    assert(fused(11L)._1 === 2) // n_lists
    assert(fused(10L)._1 === 1)
  }

  test("segmentDedup: repeated segment survives only at first occurrence") {
    // Doc 1 and 2 share their first 3-token segment; doc 2's copy drops.
    val d = Seq(
      (1L, "a b c x y z"),
      (2L, "a b c q r s"),
      (3L, "u v w")).toDF("doc_id", "text")
    val out = TextOps.segmentDedup(d, "doc_id", "text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3), r.getDouble(4))).toMap
    assert(out(1L) === ((2, 2, "a b c x y z", 1.0)))
    assert(out(2L) === ((2, 1, "q r s", 0.5))) // shared segment dropped
    assert(out(3L) === ((1, 1, "u v w", 1.0)))
  }

  test("unigramCrossEntropy: common-token docs score below rare-token docs") {
    val d = Seq((1L, "a a a"), (2L, "b c d")).toDF("doc_id", "text")
    // T=6; cnt(a)=3, cnt(b)=cnt(c)=cnt(d)=1.
    val ce = TextOps.unigramCrossEntropy(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // tolerance = one 1e6 fixed-point grid cell (see the grid-choice
    // note on unigramCrossEntropy), not double epsilon
    assert(math.abs(ce(1L) - math.log(2)) < 2e-6)
    assert(math.abs(ce(2L) - math.log(6)) < 2e-6)
    assert(ce(1L) < ce(2L))
  }

  test("tokenEntropy: zero for constant docs, ln(k) for uniform docs") {
    val d = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val ent = TextOps.tokenEntropy(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(ent(1L)) < 1e-9)
    assert(math.abs(ent(2L) - math.log(4)) < 1e-9)
  }

  test("containmentPairs: embedded sub-document scores ~1 one way, Jaccard stays low") {
    // Doc 2 is doc 1 plus a long unrelated tail: every shingle of 1 is
    // in 2, but 2 has many shingles 1 lacks.
    val quote = "alpha beta gamma delta epsilon zeta"
    val tail = (1 to 40).map(i => s"filler$i").mkString(" ")
    val d = Seq((1L, quote), (2L, s"$quote $tail")).toDF("doc_id", "text")
    val sh = Dedup.shingleArray(d, "doc_id", "text", 3)
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.containmentPairs(sh, "doc_id", pairs).head()
    assert(r.getDouble(2) === 1.0) // cont_a_in_b: the quote is fully contained
    assert(r.getDouble(3) < 0.15)  // cont_b_in_a: the page is not in the quote
    val j = Dedup.jaccardPairsFromArrays(sh, "doc_id", pairs).head().getDouble(2)
    assert(j < 0.15) // symmetric Jaccard misses what containment catches
  }

  test("charPairCounts: exact pair frequencies, single-char tokens excluded") {
    val d = Seq((1L, "abab ab  X y"), (2L, "Abab")).toDF("doc_id", "text")
    // normText lowercases: tokens = abab, ab, x, y, abab. Single-char
    // x/y contribute nothing.
    val got = TextOps.charPairCounts(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ab" -> 5L, "ba" -> 2L))
  }

  test("invertedIndex: exact df/cf/postings, postings sorted numerically") {
    val d = Seq((10L, "b a b"), (2L, "a a c"), (3L, "a")).toDF("doc_id", "text")
    val got = TextOps.invertedIndex(d, "doc_id", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSeq))).toMap
    assert(got("a") === ((3L, 4L, Seq(2L, 3L, 10L)))) // numeric, not lexical, order
    assert(got("b") === ((1L, 2L, Seq(10L))))
    assert(got("c") === ((1L, 1L, Seq(2L))))
  }

  test("semantic dedup composition: cosine-identical vectors cluster, canonical is min id") {
    val base = Array.fill(8)(0.5f)
    val scaled = base.map(_ * 2f) // same direction → cosine 1 with base
    val rnd = new scala.util.Random(3)
    val others = (3L to 12L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val emb = (Seq((1L, base), (2L, scaled)) ++ others).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(emb, emb.filter(col("vec_id") <= 4),
      "vec_id", "embedding", threshold = 0.999)
    val out = Dedup.dedupClusters(emb.select("vec_id"), "vec_id",
      pairs.select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, true)))  // canonical of the dup family
    assert(out(2L) === ((1L, false))) // clustered under vec 1
  }

  test("quantileBuckets: ntile fills buckets equally, remainder to the lowest") {
    val d = (1 to 10).map(i => ("g", i.toLong)).toDF("grp", "score")
    val got = graft.llm.Splits.quantileBuckets(d, Seq("grp"),
      Seq(col("score")), 4, "q")
      .orderBy("score").collect().map(_.getInt(2)).toSeq
    // 10 rows / 4 buckets: sizes 3,3,2,2 with remainder in the lowest.
    assert(got === Seq(1, 1, 1, 2, 2, 2, 3, 3, 4, 4))
    // Top-quartile-per-stratum selection: exactly the 2 highest scores.
    val top = graft.llm.Splits.quantileBuckets(d, Seq("grp"),
      Seq(col("score")), 4, "q").filter(col("q") === 4)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(top === Seq(9L, 10L))
  }

  test("prefixFilterPairs: exact — identical pair set to brute-force all-pairs") {
    // The whole point of the prefix filter is NO false negatives: on the
    // real sf0.001 corpus the pruned join must return exactly the pairs
    // the quadratic all-pairs Jaccard returns at the same threshold.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.shingleArray(corpus, "doc_id", "text", 3)
    val t = 0.6
    val got = Dedup.prefixFilterPairs(sh, "doc_id", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0))
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    val brute = Dedup.jaccardPairsFromArrays(sh, "doc_id", allPairs)
      .where(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "testdata must contain near-dup pairs at t=0.6")
    assert(got === brute)
  }

  test("prefixFilterPairs: candidate explode carries only prefix tokens") {
    // 10 identical-length docs sharing every shingle: prefix length is
    // |s| − ceil(0.9·|s|) + 1 ≪ |s|, so candidate volume stays far below
    // the full shingle stream (the scale claim behind the operator).
    val d = (0L until 4L).map(i => (i, "a b c d e f g h i j k l"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleArray(d, "doc_id", "text", 3)
    val out = Dedup.prefixFilterPairs(sh, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("gopherRules: each rule rejects its own pathology, clean text keeps") {
    val docs = Seq(
      (0L, "the cat and the dog have to be with all of that food today"), // clean
      (1L, "a b c d e f g h i j k l m n o p q r s the of and"),           // mean word len < 3
      (2L, "the ### of ### and ### ... ... ... that ... have"),           // symbol-heavy
      (3L, "- the first\n- of second\n- and third\n- that fourth"),       // all bullet lines
      (4L, "the start...\nof more...\nand yet...\nthat end..."),          // all ellipsis lines
      (5L, "completely unrelated words about nothing relevant here")      // no required words
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Boolean]("keep"))
    assert(!out(1L).getAs[Boolean]("keep") && out(1L).getAs[Double]("mean_word_len") < 3.0)
    assert(!out(2L).getAs[Boolean]("keep") && out(2L).getAs[Double]("symbol_word_ratio") > 0.1)
    assert(!out(3L).getAs[Boolean]("keep") && out(3L).getAs[Double]("bullet_line_ratio") > 0.9)
    assert(!out(4L).getAs[Boolean]("keep") && out(4L).getAs[Double]("ellipsis_line_ratio") > 0.3)
    assert(!out(5L).getAs[Boolean]("keep") && out(5L).getAs[Int]("n_required_hits") < 2)
    // the 26-letter alphabet doc also fails alpha if numbers dominate
    val nums = Seq((9L, "11 22 333 444 555 666 777 888 999 000 the of and that"))
      .toDF("doc_id", "text")
    val numRow = TextOps.gopherRules(nums).collect().head
    assert(numRow.getAs[Double]("alpha_word_ratio") < 0.8)
    assert(!numRow.getAs[Boolean]("keep"))
  }

  test("zipfSlope: matches the fixed-point least-squares reference; pure power law is exact") {
    // freqs: a=8, b=4, c=2 → ranks 1,2,3.
    val docs = Seq((1L, "a a a a a a a a b b b b c c")).toDF("id", "text")
    val r = graft.llm.TextOps.zipfSlope(docs, "text", topK = 1000).collect().head
    assert(r.getAs[Long]("n_points") === 3L)
    def fp(v: Double): Double = math.floor(v * 1e12)
    val pts = Seq((1, 8), (2, 4), (3, 2))
      .map { case (rk, c) => (math.log(rk.toDouble), math.log(c.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(p => fp(p._1)).sum, pts.map(p => fp(p._2)).sum)
    val sxy = pts.map(p => fp(p._1 * p._2)).sum
    val sxx = pts.map(p => fp(p._1 * p._1)).sum
    val slope = (n * sxy - sx * sy / 1e12) / (n * sxx - sx * sx / 1e12)
    assert(r.getAs[Double]("slope") === slope)
    val intercept = (sy / 1e12 - slope * sx / 1e12) / n
    assert(r.getAs[Double]("intercept") === intercept)
    // The 8/4/2 counts over ranks 1/2/3 are steeper than Zipf's −1.
    assert(slope < -1.0 && slope > -2.5)
  }

  test("dsirWeights: disjoint-vocabulary domains separate cleanly") {
    // Target docs use vocabulary {alpha..}, raw-only docs use {zulu..}.
    // With disjoint vocabularies every target feature has a positive
    // log-ratio and every non-target feature a negative one.
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "beta gamma alpha gamma beta", true),
      (3L, "zulu yankee xray zulu yankee", false),
      (4L, "yankee xray zulu xray yankee", false)
    ).toDF("id", "text", "is_tgt")
    val out = graft.llm.Splits.dsirWeights(docs, "id", "text",
        col("is_tgt"), buckets = 64)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L)) {
      assert(out(id).getAs[Double]("log_weight") > 0, s"target doc $id")
      assert(out(id).getAs[Boolean]("keep"))
    }
    for (id <- Seq(3L, 4L)) {
      assert(out(id).getAs[Double]("log_weight") < 0, s"raw doc $id")
      assert(!out(id).getAs[Boolean]("keep"))
    }
    // feature count = unigrams + bigrams = 5 + 4
    assert(out(1L).getAs[Long]("n_feats") === 9L)
  }

  test("curriculumInterleave: closed-form position equals naive global row_number") {
    // Uneven sources: A has 5 docs, B has 3, C has 1 — exercises source
    // exhaustion mid-curriculum.
    val docs = (Seq.tabulate(5)(i => (i + 1L, "A")) ++
      Seq.tabulate(3)(i => (i + 10L, "B")) ++ Seq((20L, "C")))
      .toDF("id", "src")
    val out = graft.llm.Splits.curriculumInterleave(docs, "id", "src")
      .collect().map(r => r.getLong(0) -> r).toMap
    // Reference: sort by (within_rank, src) and number from 0.
    val ref = out.values.toSeq
      .sortBy(r => (r.getAs[Long]("within_rank"), r.getAs[String]("src")))
      .zipWithIndex
    for ((r, pos) <- ref)
      assert(r.getAs[Long]("global_pos") === pos.toLong,
        s"doc ${r.getLong(0)} expected pos $pos")
    // Round-robin property: positions 0..2 are one doc from each source.
    val firstRound = out.values.filter(_.getAs[Long]("global_pos") < 3)
      .map(_.getAs[String]("src")).toSet
    assert(firstRound === Set("A", "B", "C"))
  }

  test("propagateLabels: majority vote flips the minority, ties resolve to 0") {
    // Component {1,2,3} via pairs; labels 1,1,0 → majority 1, doc 3 flips.
    // Component {4,5} labels 1,0 → tie → majority 0, doc 4 flips.
    // Singleton 6 label 1 → majority = own.
    val docs = Seq(
      (1L, 1), (2L, 1), (3L, 0), (4L, 1), (5L, 0), (6L, 1)
    ).toDF("doc_id", "y")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.propagateLabels(docs, "doc_id", "y", pairs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("majority_label") === 1)
    assert(out(3L).getAs[Int]("majority_label") === 1)
    assert(out(3L).getAs[Boolean]("flipped"))
    assert(!out(1L).getAs[Boolean]("flipped"))
    assert(out(4L).getAs[Int]("majority_label") === 0)
    assert(out(4L).getAs[Boolean]("flipped"))
    assert(out(5L).getAs[Int]("majority_label") === 0)
    assert(out(6L).getAs[Int]("majority_label") === 1)
    assert(!out(6L).getAs[Boolean]("flipped"))
    assert(out(6L).getAs[Long]("cluster_size") === 1L)
  }

  test("planShards: two-level prefix sum equals the single-window reference") {
    val docs = (1L to 400L).map(i => (i, 50L + (i * 37) % 400)).toDF("id", "w")
    val out = graft.llm.Splits.planShards(docs, "id", col("w"), targetPerShard = 1000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Reference: brute-force exclusive prefix sum in md5-hash order.
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (1L to 400L).map(i => (i, 50L + (i * 37) % 400))
      .sortBy { case (i, _) => (md5hex(i.toString), i) }
    var cum = 0L
    for ((i, w) <- ordered) {
      assert(out(i) === ((w, cum / 1000L)), s"doc $i")
      cum += w
    }
    // Shards are contiguous in hash order and cover 0..max without holes.
    val shardSeq: Seq[Long] = ordered.map { case (i, _) => out(i)._2 }
    val distinctShards = shardSeq.distinct
    assert(distinctShards.zipWithIndex.forall { case (sh, j) => sh == j.toLong })
  }

  test("planShards: big-window stage is bucket-partitioned, not single-partition") {
    val docs = (1L to 50L).map(i => (i, 10L)).toDF("id", "w")
    val out = graft.llm.Splits.planShards(docs, "id", col("w"), targetPerShard = 100L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning\\(_b".r.findAllIn(plan).nonEmpty,
      s"row-level window must partition by bucket, plan:\n$plan")
  }

  test("sourceOverlap: bitmask exact Jaccard matches set math; estimator bounded") {
    val docs = Seq(
      ("A", "a b c d e f"),
      ("B", "c d e f g h"),
      ("C", "x y z w")
    ).toDF("source", "text")
    val out = Dedup.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")))
    val ab = out(("A", "B"))
    // A: {abc,bcd,cde,def}, B: {cde,def,efg,fgh} ⇒ ∩=2, ∪=6
    assert(ab.getAs[Long]("n_a") === 4L)
    assert(ab.getAs[Long]("n_b") === 4L)
    assert(ab.getAs[Long]("n_common") === 2L)
    assert(ab.getAs[Long]("n_union") === 6L)
    assert(ab.getAs[Double]("exact_jaccard") === 2.0 / 6.0)
    for (k <- Seq(("A", "C"), ("B", "C"))) {
      assert(out(k).getAs[Long]("n_common") === 0L)
      assert(out(k).getAs[Double]("exact_jaccard") === 0.0)
    }
    for (r <- out.values) {
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert(r.getAs[Double]("est_err") === math.abs(est - r.getAs[Double]("exact_jaccard")))
    }
  }

  test("candidatePairsCapped bounds a pathological bucket to n*reps and keeps it connected") {
    // 200 identical docs → identical signatures → ONE bucket per band.
    // Uncapped expansion would emit 200*199/2 = 19900 pairs.
    val n = 200
    val docs = (1L to n.toLong).map(i => (i, "the same boilerplate template text"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minhashSignaturesNative(sh, "doc_id", 8), "doc_id", 8, 2)
    val reps = 4
    val capped = Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 16, reps = reps)
    val rows = capped.collect()
    assert(rows.length <= n * reps,
      s"cap must bound pair volume to n*reps, got ${rows.length}")
    assert(rows.length >= n - 1, "star must keep every member reachable")
    assert(rows.forall(_.getAs[Boolean]("capped")),
      "every pair from an oversized-only bucket must flag capped=true")
    // Connectivity survives the cap: components still merge all 200 docs.
    val clusters = Dedup.dedupClusters(docs, "doc_id", capped.select("id_a", "id_b"))
    assert(clusters.select("component").distinct().count() === 1L)
    assert(clusters.agg(max("cluster_size")).head().getLong(0) === n.toLong)
  }

  test("capped e2e dedup pipeline converges to the uncapped clusters") {
    // The production-shaped chain (candidates → jaccard ≥ 0.8 verify →
    // connected components) must land on the SAME clusters whether the
    // candidate stage is exact or star-capped: the star keeps every
    // member of an oversized bucket connected through its
    // representatives, and star pairs between true duplicates pass
    // verification, so capping changes pair VOLUME, never membership.
    val hot = (1L to 50L).map(i => (i, "the same boilerplate template text again"))
    val nearA = Seq((100L, "alpha beta gamma delta epsilon zeta eta"),
      (101L, "alpha beta gamma delta epsilon zeta theta"))
    val distinct_ = (200L until 210L).map(i => (i, s"unique document number $i with its own words"))
    val docs = (hot ++ nearA ++ distinct_).toDF("doc_id", "text")
    val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minhashSignaturesNative(sh, "doc_id", 8), "doc_id", 8, 2)
    def clustersFrom(cands: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.dedupClusters(docs.select("doc_id"), "doc_id",
          Dedup.jaccardPairsFromArrays(sh, "doc_id", cands.select("id_a", "id_b"))
            .where(col("jaccard") >= 0.8).select("id_a", "id_b"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val uncapped = clustersFrom(Dedup.candidatePairs(bands, "doc_id"))
    val capped = clustersFrom(
      Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 16, reps = 4))
    assert(capped === uncapped)
    assert(uncapped.filter(_._1 <= 50L).values.toSet.size === 1,
      "hot cluster must still merge to one component")
  }

  test("candidatePairsCapped matches candidatePairs exactly when no bucket is oversized") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"),
      (4L, "one two three four five six"),
      (5L, "totally unrelated content here")).toDF("doc_id", "text")
    val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minhashSignaturesNative(sh, "doc_id", 8), "doc_id", 8, 2)
    val plain = Dedup.candidatePairs(bands, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.candidatePairsCapped(bands, "doc_id", maxBucket = 16, reps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Boolean]("capped"))).toSet
    assert(capped.map(t => (t._1, t._2)) === plain)
    assert(capped.forall(!_._3), "no oversized bucket → no capped flags")
  }

  test("sourceOverlap: 64th distinct source raises instead of aliasing bitmasks") {
    // shiftleft wraps its shift amount mod 64 — source index 63 would
    // silently collide with index -1/0 arithmetic; the guard must fire.
    val docs = (0 until 64).map(i => (f"src$i%02d", "a b c d e")).toDF("source", "text")
    val e = intercept[Exception] { Dedup.sourceOverlap(docs, "source", "text").collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("at most 63 distinct sources")), s"got: $e")
  }

  test("winnowing: shared substring >= w+k-1 chars guarantees a shared fingerprint") {
    // k=5, w=4 ⇒ guarantee threshold is any shared run of 8+ chars.
    // Docs 1/2 share a 25-char phrase; doc 3 shares nothing that long.
    val shared = "identical boilerplate run"
    val docs = Seq(
      (1L, s"first document $shared and then some"),
      (2L, s"completely other heading $shared trailing bits"),
      (3L, "short unrelated body with zero overlap whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 1, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing: fingerprint density is ~2/(w+1) and maxDf drops boilerplate fps") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, w = 4)
      .collect().head
    val nFps = fp.getAs[Seq[String]]("fingerprints").size
    val nGrams = "the quick brown fox jumps over the lazy dog again and again".length - 4
    assert(nFps >= nGrams / 8 && nFps <= nGrams,
      s"density off: $nFps fps over $nGrams grams")
    // All three docs identical → every fp has df=3; maxDf=2 kills them all.
    val pruned = Dedup.winnowPairs(docs, "doc_id", "text",
      k = 5, w = 4, minShared = 1, maxDf = 2)
    assert(pruned.count() === 0L)
    // With maxDf large enough, all three pairs appear with equal n_shared.
    val full = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 1, maxDf = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(full.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(full.values.toSet.size === 1)
  }

  test("bigramCrossEntropy: add-one bigram LM surprisals match hand math") {
    // Corpus bigrams: ab×3, ba×1, bc×1; starts: a→3, b→2; V = 4.
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "z")
    ).toDF("doc_id", "text")
    val out = graft.llm.TextOps.bigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def fx(x: Double): Double = math.floor(x * 1e6)
    val sAb = fx(math.log(7.0 / 4.0)); val sBa = fx(math.log(6.0 / 2.0))
    val sBc = fx(math.log(6.0 / 2.0))
    assert(out(1L).getAs[Long]("n_bigrams") === 3L)
    assert(out(1L).getAs[Double]("ce2_nats") === (sAb * 2 + sBa) / 1e6 / 3.0)
    assert(out(2L).getAs[Long]("n_bigrams") === 2L)
    assert(out(2L).getAs[Double]("ce2_nats") === (sAb + sBc) / 1e6 / 2.0)
    assert(out(3L).getAs[Long]("n_bigrams") === 0L)
    assert(out(3L).isNullAt(out(3L).fieldIndex("ce2_nats")))
    // Fluency ordering: the doc made of the corpus's dominant bigram
    // scores lower (more predictable) than the one with a rare tail.
    assert(out(1L).getAs[Double]("ce2_nats") < out(2L).getAs[Double]("ce2_nats"))
  }

  test("ngramSpanDedup: cross-doc repeated run merges to one maximal span") {
    // Docs 1 and 2 share a 5-token run inside otherwise-unique text; with
    // n=3 that run yields three overlapping flagged windows per doc which
    // must merge into ONE span of exactly 5 tokens. Doc 3 is clean.
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"unique one two $shared tail1 tailx"),
      (2L, s"other start $shared closing words here"),
      (3L, "completely different content with no repeats at all")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramSpanDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L)) {
      assert(out(id).getAs[Int]("n_dup_spans") === 1, s"doc $id spans")
      assert(out(id).getAs[Long]("n_dup_tokens") === 5L, s"doc $id tokens")
    }
    assert(out(3L).getAs[Int]("n_dup_spans") === 0)
    assert(out(3L).getAs[Long]("n_dup_tokens") === 0L)
    assert(out(3L).getAs[Double]("dup_frac") === 0.0)
  }

  test("ngramSpanDedup: within-doc repetition flags and disjoint spans stay split") {
    // One doc repeats a 3-token phrase twice with a gap > 0 between the
    // occurrences: two disjoint spans of 3 tokens each, not one span.
    val docs = Seq(
      (1L, "x y z spacer1 spacer2 spacer3 x y z trailer"),
      (2L, "nothing shared with anything else whatsoever")
    ).toDF("doc_id", "text")
    val row = Dedup.ngramSpanDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(row(1L).getAs[Int]("n_dup_spans") === 2)
    assert(row(1L).getAs[Long]("n_dup_tokens") === 6L)
    assert(row(1L).getAs[Long]("n_tokens") === 10L)
    assert(row(1L).getAs[Double]("dup_frac") === 0.6)
    assert(row(2L).getAs[Int]("n_dup_spans") === 0)
  }

  test("pmiCollocations: hand math, min-count cut, tie order") {
    // Corpus "x y" ×2 + "x z": N_tok=6, c(x)=3 c(y)=2 c(z)=1; bigrams
    // (x,y)×2 (x,z)×1, N_bg=3. pmi(x,y) = ln(2·36/(3·3·2)) = ln 4;
    // pmi(x,z) = ln(1·36/(3·3·1)) = ln 4 — a tie, broken on bigram text.
    val docs = Seq("x y", "x y", "x z").toDF("text")
    val all = TextOps.pmiCollocations(docs, minCount = 1L, topK = 10).collect()
    assert(all.map(_.getString(0)).toSeq == Seq("x y", "x z"))
    val ln4 = math.rint(math.log(4.0) * 1e4) / 1e4
    assert(all.forall(_.getDouble(2) == ln4), all.mkString(";"))
    assert(all.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x y" -> 2L, "x z" -> 1L))
    // min-count 2 drops the singleton pair.
    val cut = TextOps.pmiCollocations(docs, minCount = 2L, topK = 10).collect()
    assert(cut.map(_.getString(0)).toSeq == Seq("x y"))
  }

  test("pmiCollocations: frequent-but-independent pairs score ~0 or below") {
    // "a b" everywhere vs "a" and "b" also appearing apart: observed
    // co-occurrence ≈ independence expectation, so PMI must not flag it
    // above a genuinely bound pair.
    val docs = (Seq.fill(8)("a b") ++ Seq.fill(8)("a c b d") ++
      Seq.fill(4)("p q p q p q")).toDF("text")
    val m = TextOps.pmiCollocations(docs, minCount = 2L, topK = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m("q p") > m("a b"), m.toString)
  }
}
