package graft

import graft.ops.{Observations, Recap}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a SURVEY §2 operator instantiated on the
  * driver's synthetic tables; `oracleSql` carries the DuckDB-equivalent
  * SQL. Column names and types are aligned on both sides (the driver
  * sorts columns by name before hashing).
  *
  * Each query is one [[queries.QuerySpec]] in its family's file under
  * `graft/queries/`; the maps here are views over that one list, so
  * adding a query means adding one spec.
  *
  * Determinism policy (SURVEY §7.4): double summation is not
  * associative, and shuffle-fetch order varies run to run — so every
  * oracle-compared aggregate over a fractional double column is
  * computed in exact integer cents (`sum(round(x*100)::long)`) or
  * decimal, with the identical formula in the oracle SQL. Sums over
  * integer-valued doubles (counts, quantities) are exact as-is.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full nested daily-recap gold pipeline (SURVEY §3.3). */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val obs = Observations.guardValid(Observations.fromEvents(Tables.events(spark, sfDir)))
    Recap.pipeline(obs, Tables.customer(spark, sfDir))
  }

  /** Every registered query, family by family. */
  lazy val specs: Seq[QuerySpec] = Seq(
    RecapQueries.specs, RelationalQueries.specs, TimeSeriesQueries.specs,
    TextQueries.specs, DedupQueries.specs, GraphQueries.specs,
    VectorQueries.specs, StatsQueries.specs, SamplingQueries.specs,
    SnapshotQueries.specs, MultimodalQueries.specs).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = specs.map(q => q.name -> q.build).toMap
    require(m.size == specs.size, "duplicate query names in the registry")
    m
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap

  /** Staged invariant oracles for the queries whose full-replay SQL
    * is infeasible for DuckDB at sf0.1+/sf1 — see [[InvariantOracles]].
    * Every key also has a replay oracle in [[oracleSql]]; the replay
    * stays primary at small SFs. */
  lazy val invariantSql: Map[String, Seq[String]] =
    specs.collect { case q if q.invariant.nonEmpty => q.name -> q.invariant }.toMap

  /** Names of the queries that read a Bench shared-warmup stage. */
  def consumersOf(stage: String): Set[String] = {
    require(QuerySpec.warmupStages(stage), s"unknown warmup stage '$stage'")
    specs.collect { case q if q.shares(stage) => q.name }.toSet
  }

  /** Parses a comma list of query names (a Bench or Verify filter).
    * Fails loud on an unknown name: a typo'd filter would otherwise
    * run zero queries and publish a plausible-looking empty result. */
  def queryFilter(raw: String, source: String): Set[String] = {
    val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"$source names ${unknown.toSeq.sorted.mkString(", ")} are not " +
        "SparkEntry.queries keys — fix the filter (names are exact)")
    names
  }
}
