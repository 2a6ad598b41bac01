package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards for the scale claims PLANS.md makes:
  * filters reach the parquet scan as PushedFilters, and projections
  * prune the scan's ReadSchema. If a refactor breaks either, a 100 TB
  * scan silently reads everything — these tests make that a local red.
  */
class PlanGuardsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir: String = {
    val d = graft.tools.Measure.tempDir("graft_planguard")
    (1 to 1000).map(i => (i.toLong, s"name$i", i % 7, i * 1.5))
      .toDF("id", "name", "bucket", "amount")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    d
  }

  test("comparison filters are pushed down to the parquet scan") {
    val df = spark.read.parquet(s"$dir/t.parquet")
      .filter(col("bucket") === 3 && col("id") > 10L)
      .select("id", "bucket")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), s"no pushdown section:\n$plan")
    assert(plan.contains("EqualTo(bucket,3)") && plan.contains("GreaterThan(id,10)"),
      s"expected both predicates pushed:\n$plan")
  }

  test("two window specs sharing a partitioning plan ONE exchange (w6 shape)") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.read.parquet(s"$dir/t.parquet")
    val part = Window.partitionBy("bucket")
    val tieable = part.orderBy(col("amount"))
    val total = part.orderBy(col("amount"), col("id"))
    val out = df.select(col("id"), col("bucket"),
      rank().over(tieable).as("rnk"),
      row_number().over(total).as("rn"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"same-partitioning windows must reuse one shuffle, plan:\n$plan")
  }

  test("sceneSplit: lag window, cut sum, and scene agg share ONE exchange") {
    // The op's scale contract (llm_video_scene_split): both window specs
    // and the per-scene aggregate key on doc_id(+scene_id), so Catalyst
    // must plan exactly one hash exchange of the 8-byte/frame hash frame
    // — a second exchange would re-shuffle the corpus per stage.
    val fh = (0 until 400)
      .map(i => (i.toLong / 4, i % 4, (i * 2654435761L) & ((1L << 56) - 1)))
      .toDF("doc_id", "frame_idx", "phash")
      .repartition(8) // round-robin: breaks any inherited partitioning
    val out = graft.llm.Multimodal.sceneSplit(fh)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"sceneSplit must reuse one doc_id exchange, plan:\n$plan")
  }

  test("silenceSplit: gate filter precedes ONE doc_id exchange shared by all stages") {
    // Scale contract (llm_audio_silence_split): the energy gate drops
    // silent windows BEFORE the shuffle, and the lag window, run-id sum,
    // and per-segment aggregate all ride one doc_id exchange of the
    // 16-row/doc energy frame — the samples themselves never shuffle.
    val decoded = (0 until 200)
      .map(i => (i.toLong, Array.tabulate(128)(j => ((i * 31 + j * 7) % 40) - 20)))
      .toDF("doc_id", "samples")
      .repartition(8)
    val out = graft.llm.Multimodal.silenceSplit(decoded, threshold = 800L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"silenceSplit must reuse one doc_id exchange, plan:\n$plan")
    // the energy gate sits below the window (Filter before the Sort/Window)
    val filterIdx = plan.indexOf("Filter")
    val windowIdx = plan.indexOf("Window")
    assert(filterIdx > windowIdx && windowIdx >= 0,
      s"energy filter must run below the window stage (plan prints top-down):\n$plan")
  }

  test("ivfPqRerank: every join broadcasts — the raw-vector scan never sort-merges") {
    // Scale contract (llm_ivfpq_rerank): the shortlist frame is
    // O(queries × shortlist) and must be BROADCAST into the probe of the
    // corpus raw vectors; a sort-merge join would shuffle the whole
    // vector corpus to rerank 9 candidates per query.
    val vecs = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i % 3 * 7.0 + j) + 0.01 * i))
    }.toDF("vec_id", "embedding")
    val cb = graft.llm.Pq.codebooks(vecs, "vec_id", "embedding", 4, 4, 3, 1)
    val out = graft.llm.Pq.ivfPqRerank(vecs,
      vecs.filter(col("vec_id") >= 20), vecs.filter(col("vec_id") < 3), cb,
      "vec_id", "embedding", 4, 4, kTop = 2, shortlist = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probes:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"rerank must never sort-merge the vector corpus:\n$plan")
  }

  test("blockedEditDistancePairs: pure equi-join — no cartesian, no nested loop") {
    val recs = (0 until 300)
      .map(i => (i.toLong, f"name${i / 3}%05d" + ("x" * (i % 3))))
      .toDF("rec_id", "name")
    val out = graft.llm.TextOps.blockedEditDistancePairs(recs, "rec_id", "name", 6, 2)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must plan an equi-join, not all-pairs:\n$plan")
  }

  test("adaptiveJoin: broadcast branch plans a BroadcastHashJoin, no shuffle of the fact") {
    val large = (1 to 1000).map(i => (i % 50, i)).toDF("k", "payload")
    val small = (1 to 50).map(k => (k, s"d$k")).toDF("k", "dim")
    val out = graft.operators.Skew.adaptiveJoin(large, small, "k")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"broadcast branch must not shuffle either side:\n$plan")
  }

  test("explicit-values pivot runs NO eager distinct job at construction time") {
    // A values-less pivot collects the column's distinct values with a
    // driver-blocking job BEFORE the query even runs; with the value
    // list given, constructing and planning the pivot must launch no
    // job at all (a15_pivot's 100 TB contract).
    // Source read happens OUTSIDE the guarded group: the fixture write
    // and parquet schema inference legitimately run jobs; the claim
    // under test is only about the pivot construction itself.
    val src = spark.read.parquet(s"$dir/t.parquet")
    val sc = spark.sparkContext
    sc.setJobGroup("pivot_guard", "pivot construction must be lazy")
    try {
      val df = src
        .groupBy("bucket").pivot("name", Seq("name1", "name2"))
        .agg(sum(col("amount").cast("decimal(18,2)")))
      df.queryExecution.executedPlan // force full planning
      assert(df.queryExecution.executedPlan.toString.contains("pivotfirst"))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("pivot_guard").isEmpty,
      "explicit-values pivot launched an eager job during construction")
  }

  test("tpch_q5 star join plans broadcasts + one aggregate exchange, no nested loop") {
    // The 6-way star: every dim side must broadcast (AQE) and the only
    // hash exchange left is the final per-nation aggregate. If a
    // refactor turns a dim join into a sort-merge or nested loop, the
    // 100 TB plan silently shuffles the fact N times — this pins it.
    val df = graft.SparkEntry.queries("tpch_q5")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4, s"expected dim broadcasts, got $bhj:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"star join should shuffle once (final agg):\n$plan")
  }

  test("tpch_q9 derived-partsupp join tree: no cartesian, derivation shuffle-free") {
    // partsupp is DERIVED (part × 4 via explode + one broadcast scalar);
    // if the derivation ever introduces a hash exchange of its own, the
    // 100 TB part table shuffles before the fact join even starts. The
    // only nested-loop allowed is the 1-row supplier-count broadcast.
    val df = graft.SparkEntry.queries("tpch_q9")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"only the 1-row count broadcast may nested-loop:\n$plan")
    assert(plan.contains("Generate explode"), s"partsupp explode missing:\n$plan")
  }

  test("tpch_q21 exists/not-exists pair plans semi + anti hash joins") {
    // sf0.01, not sf0.001: the NATION_2 filter matches nothing at the
    // smallest SF and AQE collapses the whole tree to EmptyRelation,
    // which would vacuously pass (and assert against) a missing join.
    val df = graft.SparkEntry.queries("tpch_q21")(spark, "/root/testdata/sf0.01")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("LeftSemi"), s"EXISTS must plan a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan an anti join:\n$plan")
  }

  test("narrow projection prunes the scan's ReadSchema to the used columns") {
    val df = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("bucket").agg(sum(col("amount").cast("decimal(18,2)")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("bucket") && readSchema.contains("amount"),
      s"used columns missing from scan:\n$readSchema")
    assert(!readSchema.contains("name") && !readSchema.contains("id"),
      s"unused columns not pruned:\n$readSchema")
  }

  test("scan-speed LLM ops plan ZERO exchanges; decontaminate broadcasts eval") {
    import graft.llm.{Dedup, Splits, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // Pure projections: split assignment, mixture filter, quality filter,
    // chunking — any Exchange here means the 100 TB corpus shuffles for
    // what should be a scan-speed map.
    val projections = Seq(
      Splits.assignSplits(docs.select("doc_id"), "doc_id"),
      Splits.mixtureSample(docs.select("doc_id", "source"), "doc_id", "source",
        Map("src0" -> 2500)),
      TextOps.qualityFilter(docs.select("doc_id", "text")),
      TextOps.chunk(docs.select("doc_id", "text"), "doc_id", "text", 12, 8))
    projections.foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"scan-speed op shuffled:\n$plan")
    }
    // Decontamination: the eval shingle set must BROADCAST into the
    // corpus-side semi-join — a sort-merge there shuffles the corpus.
    val decon = Dedup.decontaminate(docs.filter(col("doc_id") >= 10),
      docs.filter(col("doc_id") < 10), "doc_id", "text", 5)
    decon.collect()
    val plan = decon.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(plan).isDefined,
      s"eval shingles must broadcast into the semi-join:\n$plan")
  }

  test("hyperplane signatures plan zero exchanges; bm25 top-k plans a TakeOrdered") {
    import graft.llm.{Similarity, TextOps}
    // Signature computation is the index-free ANN selling point: a pure
    // per-row projection. Any Exchange means the 100 TB corpus shuffles
    // to compute what is a scan-speed map.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sigs = emb.select(col("vec_id"),
      Similarity.hyperplaneSig(col("embedding"), 64, 16).as("rp_sig"))
    val sigPlan = sigs.queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange"), s"signature projection shuffled:\n$sigPlan")
    // BM25's global top-k must be TakeOrderedAndProject (per-partition
    // heaps + driver merge of k rows), never a 1-partition window sort.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val top = TextOps.bm25TopDocs(docs.select("doc_id", "text"),
      "doc_id", "text", Seq("hash", "join"), 10)
    val topPlan = top.queryExecution.executedPlan.toString
    assert(topPlan.contains("TakeOrderedAndProject"),
      s"global top-k must use TakeOrderedAndProject:\n$topPlan")
    // The df window is fine (partitioned by term); what must NOT appear
    // is a partition-less window doing the global ranking. A window spec
    // prints its ORDER BY entries (each carrying ASC/DESC) BETWEEN the
    // '(' and the frame, so a partition-less spec is one where every
    // comma-separated token before `specifiedwindowframe` is an order
    // entry — partition columns would print first with no direction.
    val partitionlessWindow =
      """windowspecdefinition\(([^()]*)specifiedwindowframe""".r
        .findAllMatchIn(topPlan.toLowerCase)
        .exists { m =>
          val specs = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          specs.nonEmpty &&
            specs.forall(s => s.contains(" asc") || s.contains(" desc"))
        }
    assert(!partitionlessWindow, s"partition-less window in top-k path:\n$topPlan")
  }

  test("same-bucketed tables sort-merge join with ZERO exchanges (s16 shape)") {
    // The distkey contract: two tables bucketed on the join key with the
    // same bucket count must join without shuffling either side. If a
    // refactor drops the bucket spec (or misaligns counts), both 100 TB
    // standing tables silently re-shuffle on every join — this pins it.
    import graft.sources.Tables
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_pg")
    val a = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "va")
    val b = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    Tables.overwriteBucketed(a.withColumnRenamed("k", "ka"), "graft_pg.bkt_a", "ka", 4)
    Tables.overwriteBucketed(b.withColumnRenamed("k", "kb"), "graft_pg.bkt_b", "kb", 4)
    val ta = spark.read.table("graft_pg.bkt_a")
    val tb = spark.read.table("graft_pg.bkt_b")
    val joined = ta.hint("MERGE").join(tb, ta("ka") === tb("kb"))
    assert(joined.count() === 500)
    val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$plan")
  }

  test("count diffs shuffle each side once: the full-outer join reuses the aggregates' partitioning") {
    import graft.validation.{Reconciler, TableDiff}
    val df = spark.read.parquet(s"$dir/t.parquet")
    val other = df.filter(col("id") % 3 =!= 0)
    for (out <- Seq(Reconciler.distributionDiff(df, other, "bucket"),
        TableDiff.diff(df, other, Seq("id", "name")))) {
      out.collect()
      val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 2, s"expected one shuffle per side:\n$plan")
    }
  }

  test("invertedIndex aggregates with map-side partials in ONE exchange") {
    // The 100 TB claim: the exploded token stream collapses to local
    // term stats BEFORE the shuffle (partial_count/partial_collect_set
    // under the exchange), and the whole build is a single exchange.
    import graft.llm.TextOps
    val d = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.invertedIndex(d, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, // df = size(postings), NOT count(distinct id):
      s"expected one shuffle:\n$plan") // distinct would add a (term,id) exchange
    val partialAboveExchange =
      plan.indexOf("partial_count") > plan.indexOf("Exchange hashpartitioning")
    assert(partialAboveExchange, // executed plans print top-down: final agg,
      s"map-side partial aggregation missing under the exchange:\n$plan") // exchange, partial agg
  }

  test("rollingZscore plans all three window sums in ONE exchange") {
    import graft.operators.Windowed
    val df = (0 until 40).map(i => ("u", i.toLong, i.toLong % 7)).toDF("user", "sec", "v")
    val out = Windowed.rollingZscore(df, Seq("user"), Seq(col("sec")), col("v"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"count/sum/sumsq share one (partition, order, frame) spec — one shuffle:\n$plan")
  }

  test("prefix-filter join plans only equi-joins — no nested-loop/cartesian") {
    import graft.llm.Dedup
    // The whole point of AllPairs/PPJoin is that candidates come from an
    // EQUI-join on prefix tokens. A CartesianProduct or nested-loop
    // anywhere means the rewrite degenerated to all-pairs — the shape
    // that cannot run at corpus scale.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.shingleArray(docs, "doc_id", "text", 3)
    val out = Dedup.prefixFilterPairs(sh, "doc_id", 0.6)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter candidates must come from an equi-join:\n$plan")
  }

  test("weighted sample plans TakeOrderedAndProject, not a global sort") {
    // Efraimidis–Spirakis top-k must be per-partition heaps + a k-row
    // driver merge; a full Sort before a Limit (or a one-partition
    // window) would sort the whole table to pick 100 rows.
    val fn = graft.SparkEntry.queries("o7_weighted_sample")
    val out = fn(spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("PQ ADC scoring broadcasts the LUT — corpus codes never sort-merge") {
    import graft.llm.Pq
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.codebooks(emb, "vec_id", "embedding", 8, 8, 4, 1)
    val top = Pq.adcTopK(emb, emb.filter(col("vec_id") < 3), cb,
      "vec_id", "embedding", 8, 8, 3)
    top.collect()
    val plan = top.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // The per-query LUT joins the encoded corpus as a broadcast nested
    // loop (it is a crossJoin of a broadcast 1-row-per-query frame); a
    // SortMergeJoin would shuffle the corpus per query batch.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"LUT must broadcast into the scoring cross join:\n$plan")
    assert(!"SortMergeJoin".r.findFirstIn(plan).isDefined,
      s"corpus-side sort-merge in ADC scoring:\n$plan")
  }

  test("classifier GD: extra iterations add no shuffle-write records") {
    import graft.llm.Classifier
    import graft.tools.Measure
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("y", (col("label") === 0).cast("int"))
    // Each gradient is observed on the action the iteration already runs
    // (a noop write of the persisted (xa, y) frame), so no pass exchanges.
    def shuffled(iters: Int): Measure.Counters = Measure.counted(spark)(
      Classifier.trainSoftsignGD(emb, "embedding", "y", dim = 64, iters = iters, eta = 4.0))._2
    val (two, four) = (shuffled(2), shuffled(4))
    assert(!two.incomplete && !four.incomplete, "listener bus did not drain")
    assert(four.shuffleWriteRecords - two.shuffleWriteRecords === 0,
      s"shuffle-write records at 2 iterations ${two.shuffleWriteRecords}, at 4 ${four.shuffleWriteRecords}")
  }

  test("gopher rules and mixture-weight source rollup stay scan-speed shapes") {
    import graft.llm.{Splits, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = TextOps.gopherRules(docs.select("doc_id", "text"),
      requiredWords = Seq("join", "hash"))
    assert(!rules.queryExecution.executedPlan.toString.contains("Exchange"),
      "gopherRules must be a pure projection")
    val mix = Splits.temperatureMixtureSqrt(
      docs.select(col("source"), size(TextOps.tokens(col("text"))).as("t")),
      "source", col("t"), 100L)
    val plan = mix.queryExecution.executedPlan.toString
    // one exchange for the source rollup; everything after operates on
    // the sources-sized frame (broadcast scalars, sketch-sized window)
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"source rollup must map-side combine:\n$plan")
  }

  test("PageRank round: one attach join, exactly one dst-keyed agg exchange, no cartesian") {
    import graft.operators.PageRank
    val nodes = (1L to 200L).toDF("nid_src").select(col("nid_src").as("page"))
    val edges = (1L to 600L).map(i => (i % 200 + 1, (i * 7) % 200 + 1))
      .toDF("src", "dst").filter(col("src") =!= col("dst"))
    val e = edges.localCheckpoint(true)
    val verts = PageRank.vertices(nodes, "page", e).localCheckpoint(true)
    val ranks = verts.select(col("nid"), lit(1.0 / 200).as("pr"), col("deg"), col("dangling"))
      .localCheckpoint(true)
    val next = PageRank.round(verts, e, ranks, 200.0, 0.0, 0.85)
    next.collect()
    val plan = next.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    // The edges attach rank and out-degree in ONE join on src; the other
    // join folds the inflow back into the vertex set.
    val joins = "(BroadcastHash|ShuffledHash|SortMerge)Join".r.findAllIn(plan).length
    assert(joins === 2, s"one attach join plus the inflow join, got $joins:\n$plan")
    // PageRank's irreducible communication: ONE exchange keyed on dst for
    // the inflow reduce. A second dst exchange means the contribution
    // stream shuffles twice per iteration — fatal at a 100 TB edge list.
    val dstEx = "Exchange hashpartitioning\\(dst".r.findAllIn(plan).length
    assert(dstEx === 1, s"inflow must reduce in one dst exchange, got $dstEx:\n$plan")
    assert(plan.contains("partial_sum"),
      s"inflow aggregate must map-side combine before the shuffle:\n$plan")
  }

  test("Triangles orientation: a hub never pivots a wedge (sum outdeg^2 stays linear)") {
    import graft.operators.Triangles
    // Star K(1,60): hub 0 joined to 60 leaves. A naive neighbor self-join
    // pivots at the hub and enumerates 60*59/2 = 1770 wedge candidates;
    // degree-ordered orientation points every edge leaf->hub, so the hub
    // has out-degree ZERO and the wedge join input is empty.
    val star = (1L to 60L).map(l => (0L, l)).toDF("src", "dst")
    val canon = Triangles.canonical(star)
    val oriented = Triangles.orientedEdges(canon, Triangles.degrees(canon))
    val outdeg = oriented.groupBy("u").agg(count(lit(1)).as("od")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!outdeg.contains(0L) || outdeg(0L) === 0L,
      s"hub must not own oriented out-edges, got ${outdeg.get(0L)}")
    assert(outdeg.values.forall(_ <= 1L),
      s"star leaves orient exactly one edge each: $outdeg")
    // and the full operator stays equi-join shaped on the same fixture
    val pv = Triangles.perVertex(star)
    pv.collect()
    val plan = pv.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"wedge/closing joins must stay equi-joins:\n$plan")
    assert(pv.filter(col("tri") =!= 0L).count() === 0L, "a star has no triangles")
  }

  test("SQL mart twins plan the same heavy-operator shape as the DataFrame builders") {
    // SqlMartQueries claims the spark.sql texts parse to the same plans
    // as the GoldDims/GoldFacts builders, so the builders' scale posture
    // (join strategy, aggregate count, no surprise cross joins) carries
    // over. Pin it: for each mart pair, the optimized logical plan must
    // contain the SAME multiset of heavy operators — joins WITH their
    // join types, aggregates, windows, generates, unions, distincts —
    // and the physical plan must stay free of cartesian products.
    // Projects/Filters/Sorts are excluded: alias blocks and terminal
    // ordering differ textually without changing the scale shape.
    import org.apache.spark.sql.catalyst.plans.logical._
    val dir = "/root/testdata/sf0.001"
    def heavyShape(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.queryExecution.optimizedPlan.collect {
        case j: Join => s"Join(${j.joinType})"
        case _: Aggregate => "Aggregate"
        case _: Window => "Window"
        case _: Generate => "Generate"
        case _: Union => "Union"
        case _: Deduplicate => "Deduplicate"
        case _: Distinct => "Distinct"
      }.groupBy(identity).view.mapValues(_.size).toMap
    val pairs = Seq(
      "sql_dim_policy" -> "g_dim_policy",
      "sql_dim_property" -> "g_dim_property",
      "sql_dim_coverage" -> "g_dim_coverage",
      "sql_dim_date" -> "w1_dim_date_spine",
      "sql_fact_claims" -> "g_fact_claims",
      "sql_fact_premiums" -> "g_fact_premiums")
    for ((sqlName, builderName) <- pairs) {
      val sqlDf = graft.SparkEntry.queries(sqlName)(spark, dir)
      val builderDf = graft.SparkEntry.queries(builderName)(spark, dir)
      val (ss, bs) = (heavyShape(sqlDf), heavyShape(builderDf))
      assert(ss === bs,
        s"$sqlName heavy-op shape $ss diverged from $builderName $bs")
      val phys = sqlDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!phys.contains("CartesianProduct"),
        s"$sqlName physical plan grew a cartesian product:\n$phys")
    }
  }

  test("registry sweep: no gate plans a partition-less window over an unbounded frame") {
    // The r10 scale finding: a partition-less WindowExec moves ALL rows
    // to one partition — fine for a provably tiny frame, fatal when the
    // frame is corpus-sized (the PageRank/Zipf top-k rank shape, fixed
    // r11). This sweep pins the whole registry: every partition-less
    // WindowExec in every gate's physical plan must be bounded by a
    // limit below it (TakeOrderedAndProject / GlobalLimit / WindowGroup-
    // Limit — the k-survivor rank shape) or appear in the allowlist of
    // documented tiny frames. A new gate that ranks an unbounded frame
    // without partitioning fails here until consciously justified.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // Gates whose partition-less window frames are aggregate rollups
    // bounded by a LOW-cardinality key, each with the bound spelled out:
    val tinyFrameAllowlist: Map[String, String] = Map(
      // frame = one row per source (groupBy(source) rollup; a corpus has
      // tens of sources, not corpus-scaled cardinality)
      "llm_mixture_weights" -> "per-source remainder rank, ≤|sources| rows",
      "llm_curriculum_interleave" -> "per-source catalog index, ≤|sources| rows",
      "llm_source_overlap" -> "per-source index windows (Dedup source census), ≤|sources| rows",
      // frame = one row per md5-prefix bucket — fixed 256 (planShards)
      "llm_plan_shards" -> "bucket-offset prefix sum, exactly 256 rows",
      // frame = one row per histogram bin — fixed 32 (sketch cum + the
      // exact side's two-level bin offsets; data rows rank INSIDE bins)
      "llm_hist_quantiles" -> "bin prefix sums, exactly 32 rows each",
      // frame = one row per day in the sketch rollup
      "w10_sliding_distinct_hll" -> "daily HLL sketch frame, ≤|days| rows")
    def offenders(plan: SparkPlan): Seq[String] = {
      val p = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            w.child.collectFirst {
              case _: TakeOrderedAndProjectExec => ()
              case _: GlobalLimitExec => ()
              case _: CollectLimitExec => ()
              case _: LocalLimitExec => ()
              case _: WindowGroupLimitExec => ()
            }.isEmpty =>
          w.simpleString(5)
      }
    }
    val dir = "/root/testdata/sf0.001"
    // st* (streaming) gates excluded: their returned frame is a batch
    // read of the sink output (the per-microbatch plans are not visible
    // to a static sweep) and building them runs real streams.
    val names = graft.SparkEntry.queries.keys.filterNot(_.startsWith("st")).toSeq.sorted
    val bad = names.flatMap { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val offs = offenders(df.queryExecution.executedPlan)
      if (offs.isEmpty || tinyFrameAllowlist.contains(name)) Nil
      else Seq(s"$name:\n  ${offs.mkString("\n  ")}")
    }
    assert(bad.isEmpty,
      s"unbounded partition-less windows (add a limit or justify in the allowlist):\n${bad.mkString("\n")}")
  }

  test("registry sweep: no gate plans a product join of two unbounded sides") {
    // The other registry-wide scale killer: a join that degenerates to a
    // row-comparing product. Two physical shapes mean trouble:
    //   - CartesianProductExec: both sides corpus-sized, |L|×|R| work —
    //     never acceptable in this engine.
    //   - BroadcastNestedLoopJoinExec WITH a join condition: Catalyst
    //     failed to extract an equi-key and fell back to probing every
    //     broadcast row per stream row. (Condition-FREE BNLJ is the
    //     intentional crossJoin(broadcast(tinyFrame)) idiom — centroid
    //     attach, totals attach, spine × keys — and stays allowed; the
    //     broadcast bound is what makes it linear.)
    // A new gate that trips either fails here until the join gets a key
    // or the gate is consciously justified in the allowlist.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // Conditioned-product allowlist, each with the bound spelled out —
    // every entry broadcasts a side whose cardinality is fixed by design
    // (a 1-row scalar, a fixed query/quantile list, a census of a
    // low-cardinality axis), so the probe stays linear in the stream:
    val boundedProductAllowlist: Map[String, String] = Map(
      // 13-row month spine × |policy| keys, then a theta filter on the
      // effective range: the spine side is a broadcast local relation,
      // rows out ≤ 13·|keys| — linear in keys, the gap-fill contract.
      "w7_gap_fill_ffill" -> "13-row broadcast month spine theta-joined to keys",
      // interval overlap join: broadcast probe of ≤|maintenance windows|
      // (tens) intervals per event — the non-equi semantics ARE the op;
      // the bound is the tiny broadcast side, documented at the builder.
      "j13_interval_overlap_join" -> "≤|windows| broadcast intervals, theta by design",
      // 1-row aggregate scalar broadcast back as a theta threshold:
      "tpch_q11" -> "1-row value-total scalar, theta threshold attach",
      "tpch_q22" -> "1-row avg-balance scalar, theta threshold attach",
      "tpcds_q23_frequent_best" -> "1-row max-spend scalar, theta threshold attach",
      // fixed broadcast probe sets (≤tens of rows by construction),
      // self-match exclusion or rank threshold is the theta:
      "llm_cosine_topk" -> "fixed broadcast query set, self-match exclusion",
      "llm_pq_ann_topk" -> "fixed broadcast query set, self-match exclusion",
      "llm_rrf_fusion" -> "fixed broadcast query set, self-match exclusion",
      "llm_ann_recall" -> "fixed broadcast query set, self-match exclusion",
      "llm_ivfpq_recall" -> "fixed broadcast query set, self-match exclusion",
      "llm_hist_quantiles" -> "broadcast quantile list vs 32-bin census",
      // low-cardinality census crossed with itself for unordered pairs:
      "llm_source_overlap" -> "≤|sources| census pairs (src_a < src_b)",
      "a24_hll_intersect" -> "≤|groups| sketch census pairs (group_a < group_b)",
      // ≤|days| daily sketch frame against a 7-day sliding bound:
      "w10_sliding_distinct_hll" -> "≤|days| sketch frame, 7-day range theta")
    def offenders(plan: SparkPlan): Seq[String] = {
      val p = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.collect {
        case c: CartesianProductExec => s"CartesianProduct: ${c.simpleString(5)}"
        case b: BroadcastNestedLoopJoinExec if b.condition.nonEmpty =>
          s"conditioned BNLJ: ${b.simpleString(5)}"
      }
    }
    val dir = "/root/testdata/sf0.001"
    val names = graft.SparkEntry.queries.keys.filterNot(_.startsWith("st")).toSeq.sorted
    val bad = names.flatMap { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val offs = offenders(df.queryExecution.executedPlan)
      if (offs.isEmpty || boundedProductAllowlist.contains(name)) Nil
      else Seq(s"$name:\n  ${offs.mkString("\n  ")}")
    }
    assert(bad.isEmpty,
      s"product joins of unbounded sides (key the join or justify in the allowlist):\n${bad.mkString("\n")}")
  }

  test("TPC-DS gates: no cartesian products; q70 top-5 is TakeOrdered into a semi-join") {
    // The 12-query rollup/window family joins a 5-way star repeatedly;
    // a dropped join key anywhere degenerates to a cartesian of two
    // corpus-scale sides. And q70's top-5-nations selection is written
    // ORDER BY + LIMIT precisely so it plans TakeOrderedAndProject
    // feeding an IN semi-join (the rank()-subquery spelling of real
    // q70 is a partition-less window — the r11 anti-pattern).
    val dir = "/root/testdata/sf0.001"
    val names = graft.SparkEntry.queries.keys.filter(_.startsWith("tpcds")).toSeq.sorted
    assert(names.size == 31)
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("CartesianProduct"), s"$n grew a cartesian:\n$plan")
    }
    // Pre-agg-before-rollup doctrine (PLANS.md): the rewritten rollup
    // gates must keep a HashAggregate BELOW the Expand — Expand over
    // the raw fact means the pre-aggregation silently reverted.
    for (n <- Seq("tpcds_q67_top_per_state", "tpcds_q36_margin_rank",
        "tpcds_q86_hierarchy_rank", "tpcds_q18_avg_rollup")) {
      val plan = graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val expandIdx = plan.indexOf("Expand [")
      assert(expandIdx >= 0, s"$n: rollup lost its Expand:\n$plan")
      assert(plan.indexOf("HashAggregate", expandIdx) >= 0,
        s"$n: no aggregate below Expand — pre-agg-before-rollup reverted:\n$plan")
    }

    val q70 = graft.SparkEntry.queries("tpcds_q70_top_states")(spark, dir)
    q70.collect()
    val p70 = q70.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p70.contains("TakeOrderedAndProject"),
      s"q70 top-5 must be TakeOrderedAndProject:\n$p70")
    assert(p70.contains("LeftSemi"),
      s"q70 top-5 filter must plan a semi-join:\n$p70")
    // Since r12 the top-5 census and the ROLLUP both read the
    // localCheckpointed (n_name, category) pre-aggregate: the returned
    // plan must contain ZERO parquet scans — a FileScan here means the
    // 5-table join tree is being re-run for one of the consumers.
    assert(!p70.contains("FileScan") && !p70.contains("BatchScan"),
      s"q70 re-scans the join tree instead of the checkpointed grain:\n$p70")

    // q97/q38/q87: the per-channel set operations (FULL OUTER overlap,
    // triple INTERSECT, chained EXCEPT) are fused into ONE presence-flag
    // aggregate at the composite grain — the fact scanned once, no
    // joins between channel slices, conditional map-side partials (the
    // set-op lowerings themselves stay proven by u2/u3/q14).
    for ((name, nJoins) <- Seq(("tpcds_q97_channel_overlap", 1),
        ("tpcds_q38_triple_intersect", 1), ("tpcds_q87_channel_except", 1))) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
        s"$name must scan the fact exactly once:\n$p")
      assert("Join".r.findAllIn(p).length == nJoins,
        s"$name must plan only the orders attach join — channel slices " +
          s"fuse into presence flags:\n$p")
      assert(p.contains("partial_max(CASE WHEN"),
        s"$name fused presence flags lost their map-side partials:\n$p")
    }

    // q23: both reducing IN's must lower to semi-joins (frequent items
    // and best customers are fact aggregates — hash-build sides, never
    // a row-comparing product), and the max-spend scalar must reach the
    // spend frame as a broadcast.
    val q23 = graft.SparkEntry.queries("tpcds_q23_frequent_best")(spark, dir)
    q23.collect()
    val p23 = q23.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("LeftSemi".r.findAllIn(p23).length >= 2,
      s"q23 must plan two semi-joins for the IN filters:\n$p23")

    // q35: the OR of IN-subqueries cannot lower to plain semi-joins —
    // Catalyst must plan ExistenceJoins (semi-joins emitting an
    // exists-flag the filter combines). If a rewrite ever turns this
    // into a cartesian or a union-dedup of the two channel sets, the
    // shape regressed.
    val q35 = graft.SparkEntry.queries("tpcds_q35_or_exists_demo")(spark, dir)
    q35.collect()
    val p35 = q35.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p35.contains("ExistenceJoin"),
      s"q35 OR-of-IN must plan ExistenceJoins:\n$p35")

    // q1: the per-state stats frame is |nation|-sized, so the
    // returns-vs-state-average join must broadcast it — a shuffled join
    // there re-exchanges the customer-sized aggregate for a 25-row
    // build side.
    val q1 = graft.SparkEntry.queries("tpcds_q1_returns_above_avg")(spark, dir)
    q1.collect()
    val p1 = q1.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p1.contains("BroadcastHashJoin"),
      s"q1 state-average join must broadcast the nation-sized stats:\n$p1")

    // q49: the dual rank windows share ONE channel partition spec —
    // exactly one hashpartitioning(channel) exchange may feed them.
    val q49 = graft.SparkEntry.queries("tpcds_q49_return_ranks")(spark, dir)
    q49.collect()
    val p49 = q49.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val chanExchanges =
      "Exchange hashpartitioning\\(channel#\\d+, \\d+\\)".r.findAllIn(p49).length
    assert(chanExchanges == 1,
      s"q49 rank windows must share one channel exchange, got $chanExchanges:\n$p49")

    // Single-scan pins for the CTE-dedup rewrites (Spark inlines every
    // multi-reference CTE, so the only way a gate keeps the fact at one
    // scan is a fused/window/lead spelling or an explicit checkpoint):
    // expected = occurrences of the fact file in the final plan.
    // q1 reads its checkpointed customer-returns frame (0 scans in the
    // returned plan); q23 keeps freq + final scans (2) with the spend
    // side checkpointed; q74's fact is orders.
    for ((name, factFile, scans) <- Seq(
        ("tpcds_q33_channel_union", "lineitem", 1),
        ("tpcds_q59_weekly_compare", "lineitem", 1),
        ("tpcds_q51_cumulative", "lineitem", 1),
        ("tpcds_q65_low_brands", "lineitem", 1),
        ("tpcds_q93_net_after_returns", "lineitem", 1),
        ("tpcds_q74_yoy_growth", "orders", 1),
        ("tpcds_q1_returns_above_avg", "lineitem", 0),
        ("tpcds_q23_frequent_best", "lineitem", 2))) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val n = (factFile + "\\.parquet").r.findAllIn(p).length
      assert(n == scans,
        s"$name must scan $factFile exactly $scans time(s), got $n:\n$p")
    }
    // The consecutive-period pairings must be lead() windows, not
    // self-joins, and q51's two running sums must share ONE brand
    // exchange.
    for (name <- Seq("tpcds_q74_yoy_growth", "tpcds_q59_weekly_compare")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("lead("),
        s"$name consecutive-period pairing lost its lead() window:\n$p")
    }
    val q51 = graft.SparkEntry.queries("tpcds_q51_cumulative")(spark, dir)
    q51.collect()
    val p51 = q51.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val brandWinExchanges =
      "Exchange hashpartitioning\\(p_brand#\\d+, \\d+\\)".r.findAllIn(p51).length
    assert(brandWinExchanges == 1,
      s"q51 running sums must share one brand exchange, got " +
        s"$brandWinExchanges:\n$p51")

    // q39: the engine derives the brand-pooled moments and the
    // consecutive-month pairing from ONE (brand, month) frame — the fact
    // is scanned once, the only join is the part-dim attach, and the
    // pooled-sum and lead() windows ride one brand-keyed exchange
    // (oracle keeps TPC-DS's two-CTE + self-join spelling).
    val q39 = graft.SparkEntry.queries("tpcds_q39_monthly_cov")(spark, dir)
    q39.collect()
    val p39 = q39.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p39).length == 1,
      s"q39 must scan the fact exactly once:\n$p39")
    assert("Join".r.findAllIn(p39).length == 1,
      s"q39 must plan exactly one join (the part-dim attach) — the pooled " +
        s"moments are windows, the month pairing is lead():\n$p39")
    val brandExchanges =
      "Exchange hashpartitioning\\(p_brand#\\d+, \\d+\\)".r.findAllIn(p39).length
    assert(brandExchanges == 1,
      s"q39 windows must share one brand exchange, got $brandExchanges:\n$p39")

    // q14: the cross-channel INTERSECT must lower to LeftSemi joins over
    // distinct item sets, and the qualified item set must reach the fact
    // as a third semi-join — three semi-joins total feeding the rollup's
    // Expand, never a row-comparing product.
    // NOTE: presence checks run on the FULL plan string — the avg-rev
    // scalar subquery prints its own nested AdaptiveSparkPlan (with its
    // own "== Initial Plan ==" marker) ABOVE the main join tree, so the
    // usual final-section split would truncate before the semi-joins.
    val q14 = graft.SparkEntry.queries("tpcds_q14_intersect_rollup")(spark, dir)
    q14.collect()
    val p14 = q14.queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(p14).length >= 3,
      s"q14 intersect + IN must plan three semi-joins:\n$p14")
    assert(p14.contains("Expand ["),
      s"q14 rollup lost its Expand:\n$p14")
    // The five consumers read the checkpointed channel-item frame, never
    // the fact: a lineitem scan in the returned plan means the
    // collapse-once localCheckpoint regressed to CTE re-inlining.
    assert(!p14.contains("lineitem.parquet"),
      s"q14 consumers must read the checkpointed grain frame, not re-scan " +
        s"the fact:\n$p14")

    // q17: the three funnel slices share one grouping key, so the engine
    // fuses them into a single conditional aggregation — the fact (and
    // orders) scanned once, one (customer, bucket) exchange with
    // conditional map-side partials, and exactly one join (the orders
    // custkey attach). A slice-join spelling would triple the scans.
    val q17 = graft.SparkEntry.queries("tpcds_q17_buy_return_rebuy")(spark, dir)
    q17.collect()
    val p17 = q17.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p17).length == 1 &&
        "orders\\.parquet".r.findAllIn(p17).length == 1,
      s"q17 must scan the fact and orders exactly once each:\n$p17")
    assert("Join".r.findAllIn(p17).length == 1,
      s"q17 must plan exactly one join (the custkey attach) — slices fuse " +
        s"into conditional aggregates:\n$p17")
    assert(p17.contains("partial_sum(CASE WHEN"),
      s"q17 fused slices lost their conditional map-side partials:\n$p17")
    val chainExchanges =
      "Exchange hashpartitioning\\(o_custkey#\\d+L?, part_bucket#\\d+".r
        .findAllIn(p17).length
    assert(chainExchanges == 1,
      s"q17 must aggregate all slices behind ONE (custkey, bucket) " +
        s"exchange, got $chainExchanges:\n$p17")

    // q92: the correlated scalar subquery must DECORRELATE — one
    // per-part aggregate of the fact equi-joined back on l_partkey,
    // never a per-outer-row re-scan (nested loop). Full plan string:
    // the subquery section carries its own AQE markers.
    val q92 = graft.SparkEntry.queries("tpcds_q92_excess_discount")(spark, dir)
    q92.collect()
    val p92 = q92.queryExecution.executedPlan.toString
    assert(p92.contains("HashAggregate(keys=[l_partkey"),
      s"q92 correlated subquery must decorrelate to a per-part aggregate:\n$p92")
    assert(!p92.contains("NestedLoop") && !p92.contains("CartesianProduct"),
      s"q92 decorrelation fell back to a per-row re-scan:\n$p92")

    // q95: the two EXISTS self-joins must be replaced by ONE order-grain
    // aggregate — the fact is scanned exactly once, qualification comes
    // from min/max/conditional-max partials (no LeftSemi, no Expand for
    // a distinct-count), and one exchange keys on l_orderkey.
    val q95 = graft.SparkEntry.queries("tpcds_q95_multi_supplier_returned")(spark, dir)
    q95.collect()
    val p95 = q95.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p95).length == 1,
      s"q95 must scan the fact exactly once (no self-join):\n$p95")
    assert(!p95.contains("LeftSemi") && !p95.contains("Expand ["),
      s"q95 qualification must come from min/max partials, not semi-joins " +
        s"or a distinct-count Expand:\n$p95")
    assert(p95.contains("partial_min(l_suppkey"),
      s"q95 order-grain aggregate lost its map-side partials:\n$p95")

    // q47: sum/count/lag/lead all share the p_brand partition spec, so
    // however many WindowExec nodes Catalyst splits them into, ONE
    // exchange must feed them all (the monthly frame is brand-sized).
    val q47 = graft.SparkEntry.queries("tpcds_q47_lag_lead")(spark, dir)
    q47.collect()
    val p47 = q47.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // p_brand-ONLY key list — the (p_brand, month) groupBy exchange
    // below it is a different (pre-window) stage.
    val winExchanges =
      "Exchange hashpartitioning\\(p_brand#\\d+, \\d+\\)".r.findAllIn(p47).length
    assert(winExchanges == 1,
      s"q47 window family must share one p_brand exchange, got $winExchanges:\n$p47")
  }

  test("s19: dynamic partition pruning lands on the fact scan") {
    // The month dim is filtered (qtr = 2) and broadcast; the fact is
    // partitioned on the join key — Spark must derive the fact's
    // partition filter from the dim at runtime. If the subquery is
    // missing, the join still returns correct rows but scans all 12
    // partitions — invisible to the oracle, fatal at 100 TB.
    val df = graft.SparkEntry.queries("s19_dpp_prune_join")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamicpruning expression on the s19 fact scan:\n$plan")
  }

  test("CountMin build: one hash-agg pair, one exchange, map-side combine") {
    import graft.operators.CountMin
    val df = (1L to 5000L).map(i => s"k${i % 97}").toDF("k")
    val sketch = CountMin.build(df, "k", depth = 4, width = 64)
    sketch.collect()
    val plan = sketch.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // depth×n exploded rows must combine to ≤ depth×width cells per task
    // BEFORE the shuffle: partial_count under the generate, one exchange
    // on (cm_row, cm_bucket), final count above it. A second exchange (or
    // a missing partial) ships the whole exploded stream — the exact
    // failure mode sketches exist to avoid.
    assert(plan.contains("partial_count"),
      s"sketch build must map-side combine:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"sketch build must shuffle once, got $exchanges:\n$plan")
    assert(plan.contains("Generate"), s"rowBuckets explode missing:\n$plan")
  }

  test("SnapshotDiff: equi-key full outer = SMJ, never a nested loop") {
    // The differ feeds its key equality as a <=> conjunction; if that
    // ever stopped planning as an equi-join (e.g. a refactor wrapping
    // the keys in a non-equi expression), Spark silently falls back to
    // BroadcastNestedLoopJoin — quadratic at 100 TB, invisible to the
    // oracle.
    val a = (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "v")
    val b = (251L to 750L).map(i => (i, i * 3.0)).toDF("k", "v")
    val d = graft.operators.SnapshotDiff.diff(a, b, Seq("k"), Seq("v"))
    d.collect()
    val plan = d.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"differ must plan a full-outer SMJ:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested-loop fallback in the differ plan:\n$plan")
  }

  test("Hierarchy: every doubling round joins on the pointer, no cartesian") {
    val nodes = (1L to 200L).map(i =>
      (i, if (i <= 3) None else Some(i / 4), s"n$i")).toDF("id", "parent", "label")
    val flat = graft.operators.Hierarchy.flatten(nodes, "id", "parent", "label")
    flat.collect()
    val plan = flat.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"hierarchy round must be an equi-join on the anc pointer:\n$plan")
  }
}
