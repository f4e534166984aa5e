package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew-handling primitives. AQE's skew-join splitter covers
  * sort-merge joins at runtime, but two cases still need EXPLICIT salting at
  * 100 TB: aggregation pipelines where one reducer key owns a macroscopic
  * corpus fraction (AQE cannot split a single aggregate key), and joins
  * whose skewed side must stay co-partitioned with later stages. This
  * object exposes that discipline as reusable operators over any key.
  */
object Skew {

  /** Salted equi-join of a skewed `fact` table against a per-key `dim`
    * table (one dim row per key — the enrichment-join shape): the fact side
    * gains a deterministic salt from `saltBy` (any high-cardinality column;
    * the salt never affects the RESULT, only the partitioning), the dim
    * side is exploded `saltFactor`×, and the join runs on (key, salt) — so
    * a key holding half the corpus spreads over `saltFactor` reducers
    * instead of one. Result == the plain inner join exactly; cost = dim
    * inflation by saltFactor (dim rows are per-KEY, so this is tiny by
    * construction).
    *
    * Size `saltFactor` ≳ (largest key's row share) × (total reducer
    * count) so the hot key's slices match ordinary partition widths.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBy: String, saltFactor: Int = 16): DataFrame = {
    require(saltFactor >= 1, "saltFactor >= 1")
    val salted = fact.withColumn("_salt",
      pmod(hash(col(saltBy)), lit(saltFactor)))
    val dimX = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(dimX, Seq(key, "_salt")).drop("_salt")
  }

  /** Per-key partition-pressure diagnostic: content-keyed shuffle-bucket
    * row counts (first-8-md5 of the key, mod `nBuckets` — the engine-
    * portable stand-in for hash partitioning), with the per-bucket distinct
    * key count. The numbers that size `saltFactor` and
    * `spark.sql.shuffle.partitions`: a bucket holding ≫ rows/nBuckets with
    * n_keys = 1 IS the skewed key. One map-side-combined exchange.
    */
  def keyPressure(df: DataFrame, key: String, nBuckets: Int = 32): DataFrame = {
    require(nBuckets >= 1, "nBuckets >= 1")
    df.select((conv(substring(md5(col(key).cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % nBuckets).as("bucket"), col(key).as("k"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("k")).cast("long").as("n_keys"))
  }
}
