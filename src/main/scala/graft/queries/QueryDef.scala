package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the engine declares about one named query, in one place.
  *
  * @param build   the query: (session, sf dir) => result frame.
  * @param oracle  the DuckDB-dialect SQL that replays the query over the
  *                same tables; a function so a registry costs nothing to
  *                build.
  * @param prep    idempotent setup that Bench runs and times separately
  *                BEFORE measuring the query (e.g. a corpus index built once
  *                and probed by every increment), so the query's bench
  *                number is its steady-state cost and the setup cost shows
  *                under `prep`.
  * @param anchorS the query's pinned bench time in seconds at sf0.1
  *                (BASELINE.md, quiet host). Bench reports ambient drift
  *                and 2x-gate breaches against it; it changes only when
  *                BASELINE.md re-pins the anchor. A query without one is
  *                excluded from the drift ratios and listed under
  *                `anchor_gaps`.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String,
    prep: Option[(SparkSession, String) => Unit] = None,
    anchorS: Option[Double] = None)

object QueryDef {

  /** `defs` as a registry: a name declared twice fails here instead of
    * one declaration silently shadowing the other. */
  def registry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }
}
