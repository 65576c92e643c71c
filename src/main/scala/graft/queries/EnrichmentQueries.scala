package graft
package queries

import org.apache.spark.sql.functions._
import graft.enrich.Enrich
import graft.io.Tables
import QuerySupport._

/** The enrichment lifecycle (J2-J5, A3, G1-G2): id-map joins, the resume
  * anti-join, fallback, and the failure/skip accounting.
  * One [[QueryDef]] per query: body, DuckDB oracle, optional bench
  * prep and sf0.1 bench anchor. */
private[graft] object EnrichmentQueries {
  val defs: Seq[QueryDef] = Seq(
    QueryDef("enrich_pmcid", anchorS = Some(0.21), build = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idMap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), concat(lit("PMC"), col("doc_id")).as("pmcid"))
      Enrich.enrichJoin(docs, idMap, "doc_id")
        .select(col("doc_id"), col("pmcid"),
          when(col("pmcid").isNull, lit("No PMCID")).otherwise(lit(null).cast("string")).as("reason"))
        .orderBy(col("doc_id"))
    }, oracle = () =>
      """WITH idmap AS (SELECT doc_id, 'PMC' || doc_id AS pmcid FROM documents WHERE doc_id % 7 <> 0)
        |SELECT d.doc_id, i.pmcid, CASE WHEN i.pmcid IS NULL THEN 'No PMCID' END AS reason
        |FROM documents d LEFT JOIN idmap i ON d.doc_id = i.doc_id ORDER BY d.doc_id""".stripMargin),
    QueryDef("resume_antijoin", anchorS = Some(0.32), build = (s, dir) => {
      val docs = Tables.documents(s, dir)
      Enrich.resumeAntiJoin(docs, docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle = () =>
      """SELECT doc_id, lang, source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 5 = 0 AND s.doc_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin),
    // anchor: r16 re-pin: virtual sleeper removed the 429 lane's wall sleep (was 0.65)
    QueryDef("enrich_fallback", anchorS = Some(0.3), build = (s, dir) => {
      // the S7/S9/A4/B5 fallback chain under the driver's hash (r14 task
      // 7): every key walks the tiered transport's deterministic taxonomy
      // through the REAL enrich runner — grouped batches, batch-silent
      // keys re-probed per-key (A4), a Retry-After lane exhausting into
      // the B5 failure-taxonomy row — so batch splits and partitioning
      // cannot change a single output row. Virtual sleeper (r15 verdict
      // task 6): the fixture row measures the fallback ALGEBRA, not the
      // 429 lane's literal Thread.sleep (~90% of the old sf1+ cells);
      // the live-socket spec keeps the real clock.
      val keys = Tables.documents(s, dir).select(col("doc_id").cast("string").as("doi"))
      graft.enrich.HttpBatch.enrich(keys, "doi",
        new graft.enrich.TieredFixtureTransport,
        graft.enrich.BatchConfig(batchSize = 16, attempts = 2, backoffMs = 0,
          throttleMs = 0, singleFallback = true,
          sleeper = new graft.enrich.Sleeper.Virtual))
        .select(col("doi").cast("long").as("doc_id"), col("value"), col("reason"))
        .orderBy(col("doc_id"))
    }, oracle = () =>
      // the tiered transport's taxonomy replayed as arithmetic: batch hit,
      // batch-recorded failure, second-tier single hit, single failure,
      // and the Retry-After exhaustion lane's exact runner message
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'B' || doc_id
        |       WHEN doc_id % 6 = 0 THEN 'S' || doc_id END AS value,
        |  CASE WHEN doc_id % 3 = 2 THEN 'batch miss: http 404'
        |       WHEN doc_id % 12 = 3 THEN 'single miss: not found'
        |       WHEN doc_id % 12 = 9 THEN 'fetch failed: HTTP 429, retry after 1ms' END AS reason
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("split_failures", anchorS = Some(0.32), build = (s, dir) =>
      assembled(s, dir).filter(!col("ok"))
        .select(col("doc_id"), col("reason"))
        .orderBy(col("doc_id")),
    oracle = () =>
      s"""$AssembledSql
         |SELECT doc_id, reason FROM assembled WHERE NOT ok ORDER BY doc_id""".stripMargin),
    QueryDef("summary_counts", anchorS = Some(0.32), build = (s, dir) => {
      // fully lazy: both aggregate legs join in one plan (1-row crossJoin)
      val a = assembled(s, dir).agg(
        sum(when(col("ok"), 1L).otherwise(0L)).as("appended"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("failures"))
      val d = Tables.documents(s, dir).agg(
        count(lit(1)).as("input_unique_doi"),
        sum(when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("skipped_existing"))
      d.crossJoin(a).select("input_unique_doi", "appended", "skipped_existing", "failures")
    }, oracle = () =>
      s"""$AssembledSql
         |SELECT (SELECT COUNT(*) FROM documents) AS input_unique_doi,
         |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS appended,
         |  (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS skipped_existing,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS failures
         |FROM assembled""".stripMargin),
    QueryDef("skip_reasons", anchorS = Some(0.35), build = (s, dir) =>
      assembled(s, dir).filter(!col("ok"))
        .groupBy(col("reason")).agg(count(lit(1)).as("n"))
        .orderBy(col("reason")),
    oracle = () =>
      s"""$AssembledSql
         |SELECT reason, COUNT(*) AS n FROM assembled WHERE NOT ok GROUP BY reason ORDER BY reason""".stripMargin)
  )
}
