package graft
package queries

import graft.ops.Observations
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered query: everything Verify, Bench and the benchmark
  * know about it, in one place. The family objects in this
  * package each hold a `specs` list; [[graft.SparkEntry]] concatenates
  * them and derives `queries`, `oracleSql` and `invariantSql`.
  *
  * @param build     the engine plan over the tables under a
  *                  scale-factor directory
  * @param oracle    DuckDB SQL over the same parquet tables that must
  *                  return the identical rows
  * @param invariant staged DuckDB checks for the scales where the
  *                  replay oracle is infeasible (see
  *                  [[graft.InvariantOracles]]); empty for most queries
  * @param regime    bench regime tag of a two-regime receipt pair, so a
  *                  scale-table reader can group a deliberately
  *                  degenerate reference instance with its production
  *                  twin instead of grading the receipt as a defect;
  *                  None for a plain production path
  * @param shares    the Bench shared-warmup stages whose memo this query
  *                  reads, each one of [[QuerySpec.warmupStages]]; a
  *                  stage runs only when one of its consumers is
  *                  selected
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    invariant: Seq[String] = Nil,
    regime: Option[String] = None,
    shares: Set[String] = Set.empty) {
  // a misspelt stage would silently drop this query from the stage's
  // consumers, and a filtered Bench run would then skip its warmup
  require(shares.subsetOf(QuerySpec.warmupStages),
    s"$name shares unknown warmup stage(s) " +
      s"${(shares -- QuerySpec.warmupStages).toSeq.sorted.mkString(", ")}")

  /** Reference instances prove a scaling law, not a throughput: Bench
    * measures and publishes them per query but keeps them out of the
    * headline total (`receipt_total_sec`) and runs them once in
    * variance mode. Their production twins stay in the headline. */
  def isReceipt: Boolean = regime.exists(QuerySpec.receiptRegimes)
}

object QuerySpec {
  /** The Bench shared-warmup stages, by the names `warmup_detail`
    * reports them under. */
  val NearDup = "neardup"
  val Graphs = "graphs"
  val Lpa = "lpa"
  val Dbscan = "dbscan"
  val IvfPq = "ivfpq"
  val warmupStages: Set[String] = Set(NearDup, Graphs, Lpa, Dbscan, IvfPq)

  val receiptRegimes: Set[String] = Set(
    "degenerate-reference", "sequential-reference", "build-reference", "refusal-reference")
}

/** Plan and oracle helpers used by more than one family. */
private[queries] object Common {
  /** Exact 2-dp-safe sum of a 2-decimal double column, as double.
    * Integer-cents arithmetic: deterministic at any partition/merge
    * order, unlike double summation. The final /100.0 is a single IEEE
    * op — bit-identical in any engine given the same integer. */
  def centSum(c: Column): Column =
    sum(round(c * 100).cast("long")) / 100.0

  def obs(s: SparkSession, dir: String): DataFrame =
    Observations.guardValid(Observations.fromEvents(Tables.events(s, dir)))

  val duckHash60 = "CAST(concat('0x', substr(md5(%s), 1, 15)) AS BIGINT)"
}
