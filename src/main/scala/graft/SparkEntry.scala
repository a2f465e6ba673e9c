package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._
import graft.registry.WranglerQueries.pricingSummary

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a deterministic demonstration of one
  * SURVEY.md §2 operator (or a scale-path operator) over the harness corpus,
  * paired with DuckDB-equivalent SQL in [[oracleSql]]. Determinism rules
  * (SURVEY §5.3): no rand, md5-based hashing, decimal-exact money sums,
  * integer-quantized vector math, epoch-second timestamps, explicit ORDER BY.
  *
  * Each query is declared once, as a [[graft.registry.QuerySpec]] holding
  * its builder beside its oracle SQL, in the object of its family in
  * `graft.registry`. Both maps here are views of one name → spec map.
  */
object SparkEntry {

  /** Map builder that REFUSES duplicate keys. A `Map(...)` literal silently
    * keeps the LAST binding on key collision — which really happened: a
    * reused "percentiles_lineitem" key shadowed the interpolated-percentile
    * query out of the oracle gate for part of a round, and the gate cannot
    * see a query that vanished from the map. Collisions fail loudly at
    * first registry access instead (every Verify/Bench/spec run hits this).
    */
  private[graft] def distinctKeys[V](what: String, pairs: Seq[(String, V)])
      : Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate $what keys (silent shadowing): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  /** One name → spec map over the families' declarations; a name declared
    * twice, within one family or across two, fails here.
    */
  private[graft] def registry(families: Seq[Seq[QuerySpec]])
      : Map[String, QuerySpec] =
    distinctKeys("queries", families.flatten.map(q => q.name -> q))

  private lazy val specs: Map[String, QuerySpec] = registry(Seq(
    WranglerQueries.specs, DedupQueries.specs, SimilarityQueries.specs,
    TextQueries.specs, EventsQueries.specs, GraphQueries.specs,
    StatsQueries.specs, PreferenceQueries.specs, MultimodalQueries.specs))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    specs.map { case (name, q) => name -> q.oracle }
}
