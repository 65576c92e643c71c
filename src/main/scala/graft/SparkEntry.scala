package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipelines.Pipelines
import graft.queries._

/** Driver contract (SURVEY.md §7): one named query per implemented operator
  * from the §2 inventory + north-star extensions, each with a DuckDB oracle
  * where the semantics are ANSI-SQL-expressible. Each query is one
  * [[graft.queries.QueryDef]] in its family object under `graft.queries`;
  * the contract maps below are derived from that one registry.
  *
  * Oracle-parity conventions (see SURVEY.md §5.1):
  *  - money/value aggregates run on integer cents (`ROUND(x*100)` per row, then
  *    BIGINT sums) — exact and associative, so Spark's partial aggregation
  *    order can't drift from DuckDB's;
  *  - timestamps are compared as epoch seconds (BIGINT) derived from
  *    microsecond longs — both engines floor the driver's nanosecond
  *    parquet values identically;
  *  - floating point appears only inside rank/floor comparisons whose fold
  *    order is identical in both engines (left-to-right element folds);
  *  - every oracled query is totally ordered in both dialects.
  */
object SparkEntry {

  /** Flagship: legacy chunk+embed lifecycle (§3.3) over sf0.001 documents. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.chunkAndEmbedDocuments(spark, "/root/testdata/sf0.001")

  /** Every query, grouped by family; the registry refuses a duplicate name. */
  lazy val defs: Seq[QueryDef] = QueryDef.registry(
    RelationalQueries.defs ++ NormalizationQueries.defs ++ EnrichmentQueries.defs ++
      ChunkingQueries.defs ++ DedupQueries.defs ++ VectorQueries.defs ++
      TextQueries.defs ++ MultimodalQueries.defs ++ EventsQueries.defs ++
      FixtureQueries.defs)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  /** Oracle SQL (DuckDB dialect): same tables, same column names/order keys. */
  lazy val oracleSql: Map[String, String] =
    defs.map(d => d.name -> d.oracle()).toMap

  /** The setup steps Bench runs (and times separately) before measuring
    * the matching query; see [[graft.queries.QueryDef.prep]]. */
  lazy val benchPrepare: Map[String, (SparkSession, String) => Unit] =
    defs.flatMap(d => d.prep.map(d.name -> _)).toMap
}
