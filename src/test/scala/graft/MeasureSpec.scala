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

  test("source sweep: SparkSession.builder appears in src/main only in the factory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(hits.size === 1 && hits.head.startsWith("graft/tools/Measure.scala:"),
      s"build sessions through graft.tools.Measure.session, found:\n${hits.mkString("\n")}")
  }
}
