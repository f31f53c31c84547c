package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative Bloom-pruned semi-join — the engine-grade runtime-filter
  * pattern (Spark's own `runtime.bloomFilter` injection, Trino/Presto
  * dynamic filtering) made portable and oracle-checkable.
  *
  * The build side's key set is folded into a word-partitioned Bloom
  * bitmap: `k = 2` bit positions per key derived from ONE md5-based
  * 60-bit hash (the repo's portable cross-engine hash family), grouped
  * into 32-bit words by `bit_or` (32, not 64: DuckDB's `<<` raises an
  * overflow error at shift 63, so capping shifts at 31 keeps the oracle
  * expressible). The bitmap is a tiny DataFrame — `mBits / 32` rows max
  * (8192 rows ≈ 64 KiB for the default 2^18 bits) —
  * so probing it is two broadcast equi-joins; the probe side NEVER
  * shuffles. False positives are expected and by design: the Bloom pass
  * keeps a provable SUPERSET of the true semi-join (a member key sets
  * exactly the bits it later tests), so a final exact semi-join on the
  * survivors — now a fraction of the input — restores exactness.
  *
  * At 100 TB: the bitmap build is a `groupBy` over ≤ mBits/64 groups
  * (map-side combined, dimension-sized output); both probe joins
  * broadcast the same ~32 KiB table; the expensive exact semi-join only
  * ever sees the Bloom survivors. This is precisely what a runtime
  * filter buys — rows are dropped at the SCAN side of the plan before
  * any wide shuffle. The native injected variant
  * (`spark.sql.optimizer.runtime.bloomFilter.*`) is pinned in PlanSpec;
  * this module is the portable, oracle-verifiable form of the same
  * pattern.
  */
object BloomSemiJoin {

  /** Default bitmap size: 2^18 bits = 4096 longs. */
  val DefaultBits = 1 << 18

  /** The portable 60-bit hash both engines can replicate:
    * `CAST('0x' || substr(md5(key), 1, 15) AS BIGINT)` in DuckDB.
    */
  private def hash60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** The two bit positions of a key (k = 2): low bits and bits 30+ of
    * the same 60-bit hash — independent enough for a pruning filter,
    * cheap enough to stay a single md5 per row.
    */
  def positions(key: Column, mBits: Int = DefaultBits): Seq[Column] = {
    val h = hash60(key)
    Seq(pmod(h, lit(mBits.toLong)),
      pmod(shiftright(h, 30), lit(mBits.toLong)))
  }

  /** Build the word-partitioned bitmap over the build side's keys:
    * one row per touched 32-bit word, `(word, bits)`.
    */
  def build(keys: DataFrame, keyCol: String,
      mBits: Int = DefaultBits): DataFrame = {
    val pos = positions(col(keyCol), mBits)
      .map(p => keys.select(p.as("p")))
      .reduce(_ unionAll _)
    pos.groupBy(shiftright(col("p"), 5).as("word"))
      .agg(bit_or(call_function("shiftleft", lit(1L), pmod(col("p"), lit(32L)).cast("int")))
        .as("bits"))
      // one row per 32-bit word; broadcast into both position joins of
      // prune()
      .transform(Cut.small((mBits + 31) / 32))
  }

  /** Keep only probe rows whose key has BOTH Bloom bits set — a superset
    * of the true members. Two broadcast joins against the tiny bitmap;
    * no shuffle of the probe side.
    */
  def prune(probe: DataFrame, key: Column, bloom: DataFrame,
      mBits: Int = DefaultBits): DataFrame = {
    // materialize the 60-bit hash ONCE per probe row (r06): deriving both
    // positions via positions(key) re-evaluated the md5 chain per
    // position (×2) — the dominant probe-side cost. The _bh column is
    // referenced four times below (two join conditions, two bit tests),
    // so CollapseProject keeps the projection split and the hash is
    // computed once. Same positions, same survivors.
    val hashed = probe.withColumn("_bh", hash60(key))
    val pos = Seq(pmod(col("_bh"), lit(mBits.toLong)),
      pmod(shiftright(col("_bh"), 30), lit(mBits.toLong)))
    pos.zipWithIndex.foldLeft(hashed) {
      case (df, (p, i)) =>
        val b = bloom.select(col("word").as(s"_bw$i"), col("bits").as(s"_bb$i"))
        df.join(broadcast(b), shiftright(p, 5) === col(s"_bw$i"), "inner")
          .where(col(s"_bb$i")
            .bitwiseAND(call_function("shiftleft", lit(1L), pmod(p, lit(32L)).cast("int")))
            =!= 0L)
          .drop(s"_bw$i", s"_bb$i")
    }.drop("_bh")
  }
}
