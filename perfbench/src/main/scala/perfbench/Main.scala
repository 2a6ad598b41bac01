package perfbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val cores: Int, val dataDir: String) {
  var attempted = 0L
  var failed = 0L
  /** Output checks that did not hold; empty means every check passed. */
  val problems = mutable.ArrayBuffer.empty[String]
  /** Workload metrics, end-to-end and per layer, by their published name. */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Extra JSON fields handed to the caller (e.g. gate row counts). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  /** Failed operations by exception class and first message line. */
  val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)

  /** Count one operation; a throw marks it failed and yields None. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
      System.err.println(s"[perfbench] $what failed: ${e.getClass.getSimpleName}: $msg")
      failures(s"${e.getClass.getSimpleName}: ${msg.take(160)}") += 1
      None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

/** One closed-loop workload with a single client. */
trait Workload {
  /** Build inputs and catalog state from the seed. Runs [[prepareReps]]
    * times; the last preparation is the one the timed operations use. */
  def prepare(rep: Int): Unit
  def prepareReps: Int = 3
  /** Untimed operations before the timed window. */
  def warmupOps: Int = 1
  /** One operation; returns the seconds the workload's end-to-end metric
    * counts for it (work done before the operation's clock starts, such as
    * resetting the database, is excluded). */
  def op(warmup: Boolean): Double
  /** Output checks and metrics once the timed operations are done. */
  def finish(opSeconds: Seq[Double], runSeconds: Double): Unit
}

object Main {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** `--key value` pairs. */
  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.checkpoint.dir", work.resolve("rdd-checkpoint").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cores.toLong).count()
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a("work")).toAbsolutePath
    val launchedMs = a("launched-ms").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    val tracer = new Tracer(spark, enabled = trace)
    val ctx = new Ctx(spark, tracer, work, a("seed").toLong, cores, a.getOrElse("data", ""))
    val workload: Workload = a("workload") match {
      case "medallion_batch" => new MedallionBatch(ctx)
      case "cdc_stream" => new CdcStream(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val prepS = (0 until workload.prepareReps).map(r => timed(workload.prepare(r)))
      val warmS = timed((1 to workload.warmupOps).foreach(_ => workload.op(warmup = true)))
      ctx.attempted = 0; ctx.failed = 0; ctx.failures.clear()
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())

      val opS, opWallS = mutable.ArrayBuffer.empty[Double]
      val tracedFlags = mutable.ArrayBuffer.empty[Boolean]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // Closed loop, one client: the next operation starts when the last
      // one returns, as long as one more is expected to end in the window.
      // Traced runs alternate traced and untraced operations, at least one
      // of each, so the tracing overhead is measured within the run.
      while (opS.isEmpty || (trace && opS.size < 2) ||
          elapsed + median(opWallS.toSeq) <= seconds) {
        val traceThis = trace && opS.size % 2 == 0
        val w0 = System.nanoTime()
        val s = if (traceThis) tracer.traced("op")(workload.op(warmup = false))
          else workload.op(warmup = false)
        opWallS += (System.nanoTime() - w0) / 1e9
        opS += s; tracedFlags += traceThis
      }
      val runS = elapsed
      val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      workload.finish(opS.toSeq, runS)

      val m = ctx.metrics
      m("setup_s") = sessionS + median(prepS) + warmS
      m("setup.session_s") = sessionS
      m("setup.prepare_s") = median(prepS)
      m("setup.warmup_s") = warmS
      m("op_s") = median(opS.toSeq)
      m("ops_failed_share") = if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
      if (trace) {
        val tr = opS.zip(tracedFlags).collect { case (s, true) => s }.toSeq
        val un = opS.zip(tracedFlags).collect { case (s, false) => s }.toSeq
        if (tr.nonEmpty && un.nonEmpty) m("trace.overhead_share") = median(tr) / median(un) - 1
        m("jvm.gc_s") = gcS
        m("jvm.heap_peak_mb") = heapPeakMb
        m("host.probe_s") = probe(spark)
        sparkCounters(ctx)
        tracer.writeJson(Paths.get(a("trace-file")))
      }
      ctx.extra("op_seconds") = opS.mkString("[", ",", "]")
      write(ctx, Paths.get(a("out")))
    } finally spark.stop()
  }

  /** Spark counters per traced operation, summed over every span of it. */
  private def sparkCounters(ctx: Ctx): Unit = {
    val roots = ctx.tracer.roots
    if (roots.isEmpty) return
    val n = roots.size.toDouble
    def total(k: String) = ctx.tracer.all.map(s =>
      s.counters.all.find(_._1 == k).get._2.get).sum / n
    val m = ctx.metrics
    m("spark.jobs") = total("jobs")
    m("spark.stages") = total("stages")
    m("spark.tasks") = total("tasks")
    m("spark.shuffle_write_bytes") = total("shuffle_write_bytes")
    m("spark.shuffle_read_records") = total("shuffle_read_records")
    m("spark.spill_bytes") = total("spill_bytes")
    val cpuS = total("executor_cpu_ns") / 1e9
    m("spark.executor_cpu_s") = cpuS
    val wall = roots.map(_.seconds).sum / n
    m("spark.cpu_util") = cpuS / (wall * ctx.cores)
  }

  /** The calibration probe of `graft.Bench`: fixed CPU-bound work, so its
    * time tracks the host's speed independently of the engine. */
  private def probe(spark: SparkSession): Double = median((1 to 3).map { _ =>
    timed(spark.range(1L << 29).selectExpr("xxhash64(id) % 1024 AS h")
      .selectExpr("sum(h) AS s").collect())
  })

  private def write(ctx: Ctx, out: Path): Unit = {
    val metrics = ctx.metrics.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val problems = ctx.problems.map(jsonString).mkString("[", ",", "]")
    val failures = ctx.failures.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val extra = ctx.extra.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString(",")
    val json = s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""problems":$problems,"failures":$failures,"metrics":$metrics""" +
      (if (extra.nonEmpty) s",$extra" else "") + "}"
    Files.writeString(out, json)
  }
}
