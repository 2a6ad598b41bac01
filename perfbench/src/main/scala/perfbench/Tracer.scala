package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark counters attributed to one span. */
final class Counters {
  val jobs, stages, tasks, shuffleWriteBytes, shuffleReadRecords, spillBytes, cpuNs =
    new AtomicLong
  def all: Seq[(String, AtomicLong)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "spill_bytes" -> spillBytes, "executor_cpu_ns" -> cpuNs)
}

final class Span(val id: Int, val trace: Int, val parent: Int, val name: String,
    val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call the benchmark makes into a layer, plus the
  * Spark counters of the jobs those calls run. Everything is kept in
  * memory and written out by [[writeJson]] when the run ends.
  *
  * Attribution: a span sets a job group named after itself on the calling
  * thread, so a job's group says which span started it. A stream runs its
  * jobs in its own thread under a job group equal to the query's run id;
  * the query-started event arrives synchronously on the starting thread,
  * which is where the run id is bound to the span that started it.
  *
  * When disabled, [[span]] only runs its body: untraced runs register no
  * listener and set no job group.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var trace = 0
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private var active = false
  /** Streaming trigger phases (`durationMs`), one entry per trigger. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Span, Map[String, Long])]()

  private def groupOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties).foreach { s =>
      s.counters.jobs.incrementAndGet()
      e.stageIds.foreach(byStage.put(_, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.counters.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { s =>
        val c = s.counters
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.cpuNs.addAndGet(m.executorCpuTime)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      stack.headOption.foreach(byGroup.put(e.runId.toString, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(byGroup.get(e.progress.runId.toString)).foreach { s =>
        progress.add(s -> e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Run one traced operation: listeners are attached only around it, so
    * the untraced operations of the same run pay nothing. */
  def traced[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      trace += 1
      active = true
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
      try span(name)(body)
      finally {
        drain()
        active = false
        spark.streams.removeListener(streamListener)
        sc.removeSparkListener(listener)
      }
    }

  /** A span around one call into a layer. Outside [[traced]] it only runs
    * the body. */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = new Span(spans.size + 1, trace, stack.headOption.map(_.id).getOrElse(0), name,
        System.nanoTime())
      spans += s
      byGroup.put(groupId(s), s)
      stack = s :: stack
      sc.setJobGroup(groupId(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupId(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def groupId(s: Span) = s"perfbench-${s.id}"

  /** Deliver queued listener events before counters are read. */
  def drain(): Unit =
    try ListenerBusDrain.drain(sc) catch { case _: java.util.concurrent.TimeoutException => }

  def all: Seq[Span] = spans.toSeq
  def roots: Seq[Span] = spans.filter(_.parent == 0).toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** One JSON object per span: timing, self time and own counters. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val children = spans.filter(c => c.parent == s.id && c.trace == s.trace)
      val selfS = s.seconds - children.map(_.seconds).sum
      val counters = s.counters.all.map { case (k, v) => s""""$k":${v.get}""" }.mkString(",")
      s"""{"trace":${s.trace},"span":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"self_s":$selfS,$counters}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
