package graft.queries

import org.apache.spark.graftbus.LocalProperties
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-gradable query: a Spark implementation plus (usually) an
  * equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism contract with the driver's compare (tools/check.py): rows
  * are compared POSITIONALLY after sorting columns by name, so every
  * query must impose a total deterministic row order on BOTH sides, with
  * identical null placement (Spark ascending = NULLS FIRST; DuckDB
  * defaults to NULLS LAST, so oracles must spell `NULLS FIRST` when
  * ordering nullable columns). Aggregates over doubles are routed through
  * decimal casts with enough scale to hold the exact value, so both
  * engines recover identical numbers — and every TERMINAL decimal column
  * is then cast to DOUBLE on both sides ([[Registry.decimalsToDouble]]):
  * DECIMAL cells canonicalize differently between the driver's pyarrow
  * and DuckDB fetch paths, so a decimal output hash-mismatches even when
  * positionally value-identical (settled round 4; tools/check.py fails
  * any remaining decimal arrow output).
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Registry {
  /** Load a driver testdata table.
    *
    * `events.ts` is normalized to the library's canonical shape —
    * nanos-since-epoch BIGINT — whatever flavor the file carries:
    *   - TIMESTAMP(NANOS) parquet (driver data through r8) already
    *     arrives as a nanos long via `nanosAsLong=true`;
    *   - plain BIGINT (the stress corpus) passes through;
    *   - TIMESTAMP(MICROS) (driver data from r9 on, read as
    *     TIMESTAMP_NTZ) is converted exactly: sessions run in UTC, so
    *     the NTZ→LTZ cast is the identity and `unix_micros * 1000` is
    *     integer arithmetic — no float rounding at any magnitude.
    * Every gate and oracle then reduces ts identically on both engines
    * (`ts div 1e9` here, `date_part('epoch', ts)` in DuckDB).
    */
  def T(s: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType != LongType) {
      // The NTZ→LTZ leg of this cast reads the session time zone: a
      // non-UTC session would silently shift every event by the zone
      // offset (r9 advice). All shipped entry points pin UTC; fail
      // loudly for any future caller that doesn't.
      val tz = s.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"Registry.T(events): timestamp normalization requires " +
          s"spark.sql.session.timeZone=UTC (got '$tz') — a non-UTC session " +
          "would shift TIMESTAMP_NTZ micros by the zone offset")
      df.withColumn("ts",
        (unix_micros(col("ts").cast(TimestampType)) * lit(1000L)).as("ts"))
    } else df
  }

  /** Scale-ADAPTIVE parallelizing repartition for CPU-bound projection
    * chains (MinHash/shingle signatures) over small scans.
    *
    * The r1–r13 spelling was `repartition(defaultParallelism * 2)` — a
    * constant tuned for local[32] that this round's measurements showed
    * to be the dominant cost of every LSH gate: with M map partitions
    * and R=`spark.sql.shuffle.partitions` reducers, the next exchange
    * writes M×R shuffle files (bypass-merge writer at local R), and on
    * this sandbox each file costs ~4–5 ms of CPU — the same bucket
    * aggregation measured 11.8 executor-CPU-s at M=64 vs 1.9 s at M=8
    * over identical 5000-doc data (OPTIMIZATION_r14.md §2; guide §2.2
    * "fewer, larger map tasks feeding the shuffle").
    *
    * The target is therefore derived from the INPUT SIZE — the
    * optimizer's size estimate (file bytes scaled by column pruning) at
    * ~64 KB per partition, i.e. enough splits that the ~2 s signature
    * CPU spreads across cores, not 64 near-empty tasks — and clamped to
    * [1, 2·defaultParallelism] so at production scale (where bytes/64 KB
    * is astronomically larger than the cluster) it degrades to exactly
    * the old cluster-sized constant. The driver's low-core bench rerun
    * keeps working: the byte-derived target is core-count-independent
    * below the clamp. */
  def spread(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = df.sparkSession.sparkContext.defaultParallelism
    val target = (bytes / 65536).min(BigInt(par * 2)).max(BigInt(1)).toInt
    df.repartition(target)
  }

  /** Materialize INDEPENDENT eager sub-chains concurrently (guide §2.6
    * "overlap independent jobs"): Spark's scheduler happily runs several
    * jobs at once inside one application — the multimodal gates' chains
    * were sequential only because each ends in an eager
    * `localCheckpoint` and the driver called them one after another.
    * The call returns when every thunk has finished, preserving order.
    * Determinism is untouched — each chain's result is a pure function
    * of its input, only the materialization overlaps.
    *
    * Each thunk runs on its own thread of a pool owned by this call (so
    * a thunk may itself call `inParallel` without starving a shared
    * pool) with the CALLER's job properties (group, description,
    * scheduler pool) installed: they are thread-local, and a recycled
    * pool thread would otherwise label the thunk's jobs with whatever
    * its previous user left behind. */
  def inParallel[A](fs: (() => A)*): IndexedSeq[A] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    val caller = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(s => s.sparkContext -> LocalProperties.get(s.sparkContext))
    val pool = Executors.newFixedThreadPool(math.max(1, fs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futs = fs.toIndexedSeq.map { f =>
        Future {
          caller.foreach { case (sc, p) => LocalProperties.set(sc, cloneProps(p)) }
          f()
        }
      }
      futs.map(Await.result(_, InParallelWait))
    } finally pool.shutdownNow()
  }

  /** Upper bound on one [[inParallel]] call. The chains it overlaps take
    * seconds at bench scale and minutes at stress scale; a chain still
    * running after an hour is wedged, and failing the gate with a
    * TimeoutException beats hanging a bench or Verify run forever. */
  private val InParallelWait = scala.concurrent.duration.Duration(1, "hour")

  private def cloneProps(p: java.util.Properties): java.util.Properties = {
    val c = new java.util.Properties()
    p.stringPropertyNames.forEach(k => c.setProperty(k, p.getProperty(k)))
    c
  }

  /** Cast every DECIMAL column of a terminal gate projection to DOUBLE.
    *
    * The driver's hash canonicalizes DOUBLE identically on both engines
    * but not DECIMAL (r2/r3 verdicts: every hash-red query carried a
    * DECIMAL output, values positionally identical). The builders keep
    * their DECIMAL schemas (reference parity, docs/data_dictionary.md);
    * only the gate projection is widened, mirrored by CAST(.. AS DOUBLE)
    * in the paired oracle SQL. The decimal value is exact at this point,
    * and decimal→double is correctly rounded in both engines, so the
    * cast loses nothing the float compare could see — the reference's
    * own validator compares aggregates as floats
    * (migration_validation/reconciliation.py:58-92).
    */
  def decimalsToDouble(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // Recurse into nested types: a DECIMAL buried in a struct/array/map
    // hash-mismatches exactly like a top-level one, so the rewrite must
    // reach it (cast to the decimal-free twin of the declared type).
    def noDecimals(dt: DataType): DataType = dt match {
      case _: DecimalType => DoubleType
      case s: StructType  => StructType(s.fields.map(f => f.copy(dataType = noDecimals(f.dataType))))
      case a: ArrayType   => a.copy(elementType = noDecimals(a.elementType))
      case m: MapType     => m.copy(keyType = noDecimals(m.keyType), valueType = noDecimals(m.valueType))
      case other          => other
    }
    val cols = df.schema.fields.map { f =>
      val target = noDecimals(f.dataType)
      if (target == f.dataType) col(f.name)
      else col(f.name).cast(target).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
