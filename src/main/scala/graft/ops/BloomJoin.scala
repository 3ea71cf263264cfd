package graft.ops

import graft.plans.BloomMightContain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter runtime pre-filtering for semi/anti joins — the
  * explicit form of "runtime row-level filtering": build a compact
  * bloom sketch over the SMALL side's join keys once, probe it
  * row-locally on the BIG side, and only rows that might match ever
  * reach the exact join. Results are EXACT — the bloom has no false
  * negatives, and every false positive is re-checked by the real
  * join — so the oracle for a bloom-joined query is the plain
  * semi/anti join.
  *
  * Why this matters at 100 TB: when the small side is past broadcast
  * size, Spark's equi-join shuffles BOTH sides in full. The bloom is
  * model-parameter sized (1M keys at 1% fpp ≈ 1.2 MB; built with one
  * aggregate over the small side, shipped like the IVF centroids),
  * and the probe is a codegen'd row-local filter AT THE SCAN — the
  * big side's shuffle shrinks to its true match-candidate fraction.
  * At 1% selectivity that is a ~100× shuffle-volume cut for one extra
  * narrow pass. AQE can't do this for you (its runtime filters only
  * reuse broadcast exchanges); this operator is the deliberate form.
  *
  * Key types: BIGINT or STRING (the probe expression enforces it).
  * NULL big-side keys probe "definitely absent" — exactly the plain
  * join's behavior (kept by anti, dropped by semi).
  */
object BloomJoin {

  /** Serialized bloom filter over `small`'s `key` column. One
    * distributed aggregate; the sketch comes back driver-side
    * (bounded: ~1.2 bytes/item at fpp=0.01) for re-broadcast inside
    * the probe expression. Size the filter for the TRUE distinct-key
    * count — an undersized filter silently degrades fpp (more
    * "maybe" rows, never wrong results). */
  def buildFilter(small: DataFrame, key: String,
                  expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val bf = small.stat.bloomFilter(key, expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Row-local probe column; NULL keys → false. */
  def mightContain(key: Column, filterBytes: Array[Byte]): Column =
    BloomMightContain.mightContain(key, filterBytes)

  /** Exact left-anti join, bloom-pre-filtered. Two branches over
    * `big`: definite-miss rows (bloom says absent — provably in the
    * anti result) pass straight through with NO shuffle; only the
    * "maybe" fraction pays the exact anti join. The price is a
    * second scan of `big` — at scale a pushdown-pruned parquet scan
    * is an order of magnitude cheaper than shuffling the same rows,
    * which is the trade this operator exists to make. Cache `big`
    * first if it is already a computed intermediate. */
  def antiJoin(big: DataFrame, bigKey: String, small: DataFrame, smallKey: String,
               expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(!big.columns.contains("__bloom_k"), "__bloom_k is reserved internally")
    val bytes = buildFilter(small, smallKey, expectedItems, fpp)
    val probe = mightContain(col(bigKey), bytes)
    val definiteMiss = big.where(!probe)
    val maybe = big.where(probe)
      .join(small.select(col(smallKey).as("__bloom_k")),
        col(bigKey) === col("__bloom_k"), "left_anti")
    definiteMiss.unionByName(maybe)
  }
}
