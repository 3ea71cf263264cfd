package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reproducible global shuffle: the training-order problem. A corpus
  * must be presented in an order that is (a) statistically shuffled,
  * (b) identical on every re-run and every engine (resumable jobs,
  * audit), and (c) computable WITHOUT a single-task global sort —
  * `orderBy(rand())` fails all three at once.
  *
  * The order key is `graft_hash60(seed || ':' || key)`: seeding
  * re-deals the whole order (different epochs use different seeds),
  * while a fixed seed is a pure function of the key — deterministic,
  * engine-reproducible via the documented md5 formula, uniform. The
  * ':' separator keeps (seed, key) pairs collision-free ("1","23" vs
  * "12","3"); ties on the 60-bit hash (≈ n²/2⁶⁰) break on the key.
  *
  * Writing the shuffled corpus uses `repartitionByRange` on the
  * order key + an in-partition sort: Spark's range partitioner
  * samples cut-points, every shard sorts independently, and shard i
  * holds order-contiguous rows entirely BELOW shard i+1 — a total
  * order at any scale with no serial step. Readers stream shards in file order
  * and see one global shuffled sequence.
  */
object Shuffle {

  /** The order column: hash60(seed ':' key). */
  def orderKey(key: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    graft.plans.Hash60.hash60(concat_ws(":", lit(seed), key.cast("string")))

  /** Attach the shuffle order as `shuffle_key` (narrow projection —
    * ordering/writing is the caller's step). */
  def withOrder(df: DataFrame, key: String, seed: Long): DataFrame = {
    Sampling.requirePortableKey(df, key)
    df.withColumn("shuffle_key", orderKey(col(key), seed))
  }
}
