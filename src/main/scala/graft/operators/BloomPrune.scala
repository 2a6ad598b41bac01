package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, IntegerType, ShortType, ByteType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join reduction: prune a huge fact table against a
  * small-ish dimension BEFORE any shuffle, using a constant-size sketch
  * instead of the dimension's exact key set.
  *
  * Scale rationale (the 100 TB path): a shuffled equi-join moves the
  * ENTIRE fact side even when only a few % of rows survive the join. A
  * broadcast left_semi prune needs the exact dim key set on every
  * executor — fine at thousands of keys, not at hundreds of millions. A
  * Bloom filter is the middle regime: ~1.2 GB per **billion** keys at
  * 1% fpp, broadcast once, O(1) per-row probe, zero false NEGATIVES —
  * so `prune` keeps every true match and the exact join afterwards
  * removes the few false positives. Net effect: shuffle IO shrinks by
  * the true selectivity of the join, at the cost of one pass over the
  * dim side.
  *
  * Spark's own `InjectRuntimeFilter` (runtime.bloomFilter.* confs) does
  * this automatically for eligible shuffle joins; this operator is the
  * explicit form for when the optimizer won't fire — pre-aggregation
  * pruning, reuse of one filter across several consumers, or a dim side
  * produced outside the current plan.
  *
  * The per-row probe is a scalar UDF over the broadcast sketch — a
  * deliberate, documented exception to the functions-not-UDFs rule:
  * Spark 4 exposes no public mightContain expression
  * (`bloom_filter_agg`/`might_contain` are internal-only, verified
  * unresolvable), and the probe sits on the pruned-scan side where its
  * off-codegen cost is dwarfed by the shuffle IO it saves.
  */
object BloomPrune {

  /** One pass over `dim` building the sketch. `expectedItems` is the
    * caller's cardinality estimate — oversizing only wastes
    * `1.2 bytes/key / fpp-decade`; undersizing degrades fpp, never
    * correctness. The aggregate is `dim.stat.bloomFilter`'s, read here
    * directly because it is NULL over no rows: an empty `dim` gives the
    * empty filter, which no key passes. */
  def buildFilter(dim: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): BloomFilter = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bytes = dim.select(GraftSqlBridge.bloomFilterAgg(col(keyCol), expectedItems, numBits))
      .head().getAs[Array[Byte]](0)
    if (bytes == null) BloomFilter.create(expectedItems, numBits)
    else BloomFilter.readFrom(bytes)
  }

  /** Keep the fact rows whose key MIGHT be in the sketch (plus nothing
    * with a NULL key — an equi-join never matches NULL). No false
    * negatives: every true join partner survives.
    *
    * The probe is the native codegen'd expression
    * ([[graft.plans.BloomMightContain]]) since r11 — through r10 it was
    * a Scala UDF (no public built-in takes a BloomFilter; Spark's own
    * runtime-filter rewrite uses the internal `BloomFilterMightContain`,
    * which isn't constructible from the public API), which broke the
    * whole-stage-codegen span at the one filter that matters. The
    * native expression keeps the pruned scan inside codegen; the sketch
    * ships serialized in the plan fragment, deserialized once per
    * task. */
  def prune(fact: DataFrame, keyCol: String, bf: BloomFilter): DataFrame = {
    val probe = fact.schema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        GraftSqlBridge.column(graft.plans.BloomMightContain(
          GraftSqlBridge.expression(col(keyCol).cast("long")), bf))
      case StringType =>
        GraftSqlBridge.column(graft.plans.BloomMightContain(
          GraftSqlBridge.expression(col(keyCol)), bf))
      case dt => throw new IllegalArgumentException(
        s"BloomPrune supports integral or string keys, got $dt for $keyCol")
    }
    fact.filter(col(keyCol).isNotNull && probe)
  }

  /** Bloom-prune `fact`, then run the EXACT inner equi-join against
    * `dim` — false positives die in the join, so the result is identical
    * to the un-pruned join; only the shuffled volume changes. Inner only:
    * an outer or anti join must keep the fact rows the prune drops. */
  def prunedEquiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = buildFilter(dim, dimKey, expectedItems, fpp)
    prune(fact, factKey, bf).join(dim, col(factKey) === col(dimKey))
  }
}
