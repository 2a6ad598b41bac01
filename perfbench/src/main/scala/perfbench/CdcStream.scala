package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.quality.Checks
import graft.sources.SampleDataGen
import graft.streaming.StreamingMedallion

/** Change-data drops into the streaming medallion: each operation lands one
  * CSV of changed and new policies, runs the AvailableNow policies stream
  * (bronze append, silver clean, SCD2 merge of `dim_policy`), then reads
  * the dimension back in the benchmark's own session. */
final class CdcStream(ctx: Ctx) extends Workload {
  import CdcStream._
  private val spark = ctx.spark
  private var db = ""
  private var landing: Path = _
  private var checkpoint: Path = _
  private var header = ""
  private var base = IndexedSeq.empty[Array[String]]
  /** Existing policies in the seed's order; drop k changes the k-th slice,
    * so no policy changes twice and every change closes exactly one row. */
  private var changeOrder = IndexedSeq.empty[Int]
  private var drops = 0
  private var expectCurrent = 0L
  private var expectTotal = 0L
  private val readS = ArrayBuffer.empty[Double]

  /** A backfill costs several seconds, so it runs once. */
  override def prepareReps: Int = 1

  /** A fresh database and landing directory, backfilled with the seeded
    * policies file through the stream's first-load path. */
  def prepare(rep: Int): Unit = {
    if (db.nonEmpty) spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    db = s"perfbench_cdc$rep"
    val raw = ctx.work.resolve(s"cdc-raw$rep")
    SampleDataGen.generate(raw.toString, Policies, ctx.seed)
    val lines = Files.readAllLines(raw.resolve("raw_policies.csv")).asScala.toIndexedSeq
    header = lines.head
    base = lines.tail.map(_.split(",", -1))
    changeOrder = new scala.util.Random(ctx.seed).shuffle(base.indices.toIndexedSeq)
    landing = ctx.work.resolve(s"landing$rep"); checkpoint = ctx.work.resolve(s"checkpoint$rep")
    Files.createDirectories(landing)
    Files.copy(raw.resolve("raw_policies.csv"), landing.resolve("policies_000000.csv"))
    StreamingMedallion.runPoliciesStream(spark, landing.toString, checkpoint.toString, db, 0L)
    drops = 0; expectCurrent = base.size; expectTotal = base.size
  }

  /** Drop k: [[ChangedShare]] of the base policies get a new premium (a
    * tracked column) and [[NewShare]] new policies arrive, all stamped
    * with the drop's own update time. */
  private def dropLines(k: Int): Seq[String] = {
    val nChanged = (base.size * ChangedShare).toInt
    val nNew = (base.size * NewShare).toInt
    val stamp = java.time.LocalDate.of(2030, 1, 1).plusDays(k.toLong).toString + "T00:00:00"
    val changed = changeOrder.slice((k - 1) * nChanged, k * nChanged).map { idx =>
      val r = base(idx).clone()
      r(Premium) = (BigDecimal(r(Premium)) + 100).setScale(2).toString
      r(UpdatedAt) = stamp
      r
    }
    val rnd = new scala.util.Random(ctx.seed * 31 + k)
    val added = (1 to nNew).map { j =>
      val r = base(rnd.nextInt(base.size)).clone()
      r(0) = f"POL-${base.size + (k - 1) * nNew + j}%07d"
      r(UpdatedAt) = stamp
      r
    }
    expectCurrent += nNew
    expectTotal += nChanged + nNew
    (changed ++ added).map(_.mkString(","))
  }

  def op(warmup: Boolean): Double = {
    drops += 1
    val k = drops
    val staged = ctx.work.resolve(s"drop_$k.csv")
    Files.write(staged, (header +: dropLines(k)).asJava)
    Files.move(staged, landing.resolve(f"policies_$k%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
    val t0 = System.nanoTime()
    ctx.attempt("runPoliciesStream")(ctx.tracer.span("streaming.runPoliciesStream")(
      StreamingMedallion.runPoliciesStream(spark, landing.toString, checkpoint.toString, db, k.toLong)))
    val commit = (System.nanoTime() - t0) / 1e9
    val read = Main.timed(ctx.tracer.span("quality.scd2_integrity")(consumerRead()))
    if (!warmup) readS += read
    commit
  }

  /** The consumer: an integrity report and row counts of the dimension
    * through the catalog, in the benchmark's session. */
  private def consumerRead(): Unit = ctx.attempt("read dim_policy") {
    val dim = spark.read.table(s"$db.dim_policy")
    val rep = Checks.scd2IntegrityReport(dim, "policy_id").head()
    val counts = dim.agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
    val (total, current) = (counts.getLong(0), counts.getLong(1))
    Seq("keys_multi_current", "keys_no_current", "keys_overlapping").foreach(c =>
      ctx.check(rep.getAs[Long](c) == 0L, s"after drop $drops: $c = ${rep.getAs[Long](c)}"))
    ctx.check(current == expectCurrent && total == expectTotal,
      s"after drop $drops: current/total $current/$total, expected $expectCurrent/$expectTotal")
  }

  def finish(opSeconds: Seq[Double], runSeconds: Double): Unit = {
    val m = ctx.metrics
    m("drop_commit_s") = Main.median(opSeconds)
    m("cdc_s") = runSeconds
    if (!ctx.tracer.enabled) return
    m("quality.scd2_integrity_s") = Main.median(readS.toSeq)
    // Closed-out rows the merges must have written, from the drop generator.
    m("streaming.dim_history_rows") = expectTotal - expectCurrent
    // Trigger phases summed per drop, then the median over traced drops.
    val perDrop = ctx.tracer.progress.asScala.toSeq.groupBy(_._1).values.map(ps =>
      ps.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)).toSeq
    Phases.foreach(p => m(s"streaming.trigger_ms.$p") =
      Main.median(perDrop.map(_.getOrElse(p, 0L).toDouble)))
    val commits = ctx.tracer.named("streaming.runPoliciesStream").map(_.seconds)
    m("streaming.query_overhead_s") =
      Main.median(commits) - m("streaming.trigger_ms.triggerExecution") / 1e3
  }
}

object CdcStream {
  /** Base policies; each drop changes 2% of them and adds 0.5% new. */
  val Policies = 10000
  val ChangedShare = 0.02
  val NewShare = 0.005
  private val Premium = 9
  private val UpdatedAt = 15
  private val Phases =
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "triggerExecution")
}
