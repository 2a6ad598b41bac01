package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbus.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.tools.{Measure, TimeQueries}

/** The measurement core ([[graft.tools.Measure]]) and the gate-timing
  * CLI built on it: valid JSON at any gate count, counters that survive
  * a wedged listener bus, and the one-session-factory rule. */
class MeasureSpec extends SparkTestBase {

  test("median: middle element for odd n, mean of the middle two for even n") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    val empty = intercept[IllegalArgumentException](Measure.median(Seq()))
    assert(empty.getMessage.contains("empty"), empty.getMessage)
  }

  test("bench iteration count: 3 by default, below 1 fails naming the value") {
    assert(Bench.iters(None) === 3)
    assert(Bench.iters(Some("5")) === 5)
    for (bad <- Seq("0", "-2")) {
      val e = intercept[IllegalArgumentException](Bench.iters(Some(bad)))
      assert(e.getMessage.contains(s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $bad"), e.getMessage)
    }
  }

  test("TimeQueries output is valid JSON with zero gates") {
    val out = TimeQueries.render(Nil, 0.25, 0.5)
    val JObject(fields) = JsonMethods.parse(out)
    assert(fields.toMap === Map("_probe_start" -> JDouble(0.25), "_probe_end" -> JDouble(0.5)))
  }

  test("TimeQueries measures a gate: median wall, every run, median-run counters") {
    // w1_dim_date_spine generates its rows, so it needs no corpus dir.
    val t = TimeQueries.measure(spark, "", "w1_dim_date_spine", iters = 3)
    assert(t.runs.size === 3 && t.wall === Measure.median(t.runs))
    assert(t.counters.jobs > 0 && t.counters.tasks > 0 && !t.counters.incomplete)
    val gate = JsonMethods.parse(TimeQueries.render(Seq(t), 0.1, 0.2)) \ "w1_dim_date_spine"
    assert((gate \ "runs").asInstanceOf[JArray].arr.size === 3)
    assert((gate \ "jobs") === JInt(t.counters.jobs))
    assert((gate \ "incomplete") === JBool(false))
  }

  test("measure: a gate that throws on every run reads -1 with every run -1, and does not throw") {
    // tpch_q1 over a missing corpus dir fails at analysis on every run.
    val missing = Paths.get(Measure.tempDir("graft_nosf"), "absent").toString
    val t = TimeQueries.measure(spark, missing, "tpch_q1", iters = 2)
    assert(t.wall === -1.0 && t.runs === Seq(-1.0, -1.0))
    // A failed gate carries the counters of its first failed run; this
    // one throws before it starts a job.
    assert(t.counters.jobs === 0 && t.counters.tasks === 0 && !t.counters.incomplete)
  }

  test("TimeQueries.main reports a failing gate as -1 and still times the gates after it") {
    // main stops its session, so it runs in a JVM of its own.
    val dir = Measure.tempDir("graft_tq")
    val missing = Paths.get(dir, "absent").toString
    val (out, err) = (Paths.get(dir, "stdout.txt"), Paths.get(dir, "stderr.txt"))
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.tools.TimeQueries", missing, "1", "tpch_q1", "w1_dim_date_spine")
    val pb = new ProcessBuilder(cmd: _*).redirectOutput(out.toFile).redirectError(err.toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val proc = pb.start()
    val exited = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    def stderrTail = Files.readAllLines(err).asScala.takeRight(20).mkString("\n")
    assert(exited && proc.exitValue() === 0, stderrTail)
    val json = JsonMethods.parse(Files.readAllLines(out).asScala.filter(_.startsWith("{")).last)
    assert((json \ "tpch_q1" \ "wall") === JDouble(-1.0))
    assert((json \ "tpch_q1" \ "runs") === JArray(List(JDouble(-1.0))))
    val JDouble(wall) = json \ "w1_dim_date_spine" \ "wall"
    assert(wall >= 0.0 && (json \ "w1_dim_date_spine" \ "runs").asInstanceOf[JArray].arr.size === 1)
  }

  test("gate-name filters reject an unknown name, naming it") {
    // Verify's SPARK_GRAFT_ONLY, Bench's SPARK_GRAFT_BENCH_ONLY and the
    // TimeQueries arguments all go through SparkEntry.knownGates.
    val verify = intercept[IllegalArgumentException](
      Verify.only(Some("w1_dim_date_spine,no_such_gate")))
    assert(verify.getMessage.contains("no_such_gate"))
    // A registry gate that is not a headline gate is unknown to Bench.
    val bench = intercept[IllegalArgumentException](Bench.only(Some("w1_dim_date_spine")))
    assert(bench.getMessage.contains("w1_dim_date_spine"))
    val time = intercept[IllegalArgumentException](
      TimeQueries.main(Array("", "1", "no_such_gate")))
    assert(time.getMessage.contains("no_such_gate"))
    assert(Verify.only(Some("w1_dim_date_spine")) === Some(Set("w1_dim_date_spine")))
    assert(Verify.only(None) === None)
    val headline = SparkEntry.benchQueries.head
    assert(Bench.only(Some(headline)) === Some(Set(headline)))
  }

  test("registry gate names are unique, and every gate has an oracle") {
    // queries and oracleSql are Maps: a reused name would drop a gate
    // from both and leave the registry one entry longer than either.
    val entries = SparkEntry.registry.size
    assert(SparkEntry.queries.size === entries)
    assert(SparkEntry.oracleSql.size === entries)
    assert(entries === 338)
  }

  test("counted: a drain timeout reports incomplete and still removes the listener") {
    val sc = spark.sparkContext
    val gate = new java.util.concurrent.CountDownLatch(1)
    // Holds the bus busy until released, so the drain cannot finish.
    val wedge = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = gate.await()
    }
    sc.addSparkListener(wedge)
    try {
      val before = BusAccess.listenerCount(sc)
      val (n, c) = Measure.counted(spark, drainMillis = 50L)(spark.range(10).count())
      assert(n === 10L)
      assert(c.incomplete)
      assert(BusAccess.listenerCount(sc) === before)
    } finally {
      gate.countDown()
      sc.removeSparkListener(wedge)
    }
  }

  test("counted removes its listener when the body throws") {
    val sc = spark.sparkContext
    val before = BusAccess.listenerCount(sc)
    intercept[IllegalStateException] {
      Measure.counted(spark)(throw new IllegalStateException("boom"))
    }
    assert(BusAccess.listenerCount(sc) === before)
  }

  /** `file:line` of every line under src/main/scala containing `token`. */
  private def sourceHits(token: String): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(token) => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally walk.close()
  }

  test("source sweep: SparkSession.builder appears in src/main only in the factory") {
    val hits = sourceHits("SparkSession.builder")
    assert(hits.size === 1 && hits.head.startsWith("graft/tools/Measure.scala:"),
      s"build sessions through graft.tools.Measure.session, found:\n${hits.mkString("\n")}")
  }

  test("source sweep: streams are started and awaited in src/main only by the AvailableNow harness") {
    for (token <- Seq("Trigger.AvailableNow", "awaitTermination")) {
      val hits = sourceHits(token)
      assert(hits.nonEmpty && hits.forall(_.startsWith("graft/streaming/AvailableNow.scala:")),
        s"run streams through graft.streaming.AvailableNow, found $token at:\n${hits.mkString("\n")}")
    }
  }

  test("source sweep: the streaming gates drain increments only through their fixture") {
    val hits = sourceHits("AvailableNow.eachBatch(").filter(_.startsWith("graft/queries/"))
    val file = "graft/queries/StreamingQueries.scala"
    val lines = Files.readAllLines(Paths.get("src/main/scala", file)).asScala
    val from = lines.indexWhere(_.contains("def increments(")) + 1
    val to = lines.indexWhere(_.contains("def acceptedIndex("))
    assert(hits.size === 1 && hits.head.startsWith(s"$file:") &&
      (from + 1 to to).contains(hits.head.stripPrefix(s"$file:").toInt),
      s"land and drain streaming-gate increments through Gate.increments, found:\n${hits.mkString("\n")}")
  }

  test("source sweep: Scd2.merge is called in src/main only by the table apply and the batch merge gate") {
    val hits = sourceHits("Scd2.merge")
    val allowed = Seq("graft/sources/Tables.scala:", "graft/queries/PipelineQueries.scala:")
    assert(hits.exists(_.startsWith(allowed.head)) && hits.forall(h => allowed.exists(h.startsWith)),
      s"commit SCD2 merges through graft.sources.Tables.scd2Apply, found:\n${hits.mkString("\n")}")
  }

  test("source sweep: media payloads decode through one driver, and luma is written once") {
    val file = "graft/llm/Multimodal.scala"
    val lines = Files.readAllLines(Paths.get("src/main/scala", file)).asScala
    val from = lines.indexWhere(_.contains("def decodePayloads")) + 1
    val to = lines.indexWhere(_.contains("def "), from)
    val hits = sourceHits(".as[(Long, Array[Byte])]")
    assert(hits.size === 1 && hits.head.startsWith(s"$file:") &&
      (from + 1 to to).contains(hits.head.stripPrefix(s"$file:").toInt),
      s"decode payloads through Multimodal.decodePayloads, found:\n${hits.mkString("\n")}")
    val luma = sourceHits("299 * r + 587 * g + 114 * b")
    assert(luma.size === 1 && luma.head.startsWith(s"$file:"),
      s"project luma through Multimodal.lumaPlane, found:\n${luma.mkString("\n")}")
  }

  test("source sweep: the vector models ride the plan as literals, each spelling written once") {
    val sim = "graft/llm/Similarity.scala:"
    val pq = "graft/llm/Pq.scala:"
    val literals = sourceHits("Literal.create").filter(_.startsWith("graft/llm/"))
    assert(literals.size === 1,
      s"build model literals through Similarity.centroidLiteral, found:\n${literals.mkString("\n")}")
    for (token <- Seq("localCheckpoint", "max_by", "crossJoin(broadcast(cent))")) {
      val hits = sourceHits(token).filter(_.startsWith(sim))
      assert(hits.isEmpty, s"score centroids against the literal, found $token at:\n${hits.mkString("\n")}")
    }
    val guards = sourceHits("assert_true(size(").filter(_.startsWith(pq))
    assert(guards.size === 1, s"check PQ vector dims through Pq.dimGuard, found:\n${guards.mkString("\n")}")
    val ranks = sourceHits("row_number().over").filter(h => h.startsWith(sim) || h.startsWith(pq))
    assert(ranks.size === 1,
      s"rank per query through Similarity.rankPerQuery, found:\n${ranks.mkString("\n")}")
  }

  test("source sweep: graft.Bench has no timing loop of its own") {
    val hits = sourceHits("System.nanoTime").filter(_.startsWith("graft/Bench.scala:"))
    assert(hits.isEmpty,
      s"time headline gates through graft.tools.TimeQueries.measure, found:\n${hits.mkString("\n")}")
  }

  test("source sweep: temp dirs are created in src/main only by Measure.tempDir") {
    val hits = sourceHits("createTempDirectory")
    assert(hits.nonEmpty && hits.forall(_.startsWith("graft/tools/Measure.scala:")),
      s"create temp dirs through graft.tools.Measure.tempDir, found:\n${hits.mkString("\n")}")
  }
}
