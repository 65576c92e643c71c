package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.Enrich
import graft.io.Tables
import graft.norm.Norm
import graft.ops.{Dedup, Multimodal, TextAnalysis}

/** What the query families share: the synthetic-data derivations both
  * engines replay, the DuckDB `duck*` SQL fragments the oracles compose,
  * and the idempotent `ensure*` functions that build the persisted
  * artifacts (corpus indexes, models, maintained state) that query bodies
  * probe and [[QueryDef.prep]] amortizes. Each lives once. */
private[graft] object QuerySupport {

  /** Generalization ladder for the privacy family: account balance banded
    * 100 → 1000 → 5000 → dropped, nation/segment kept. Used by
    * `privacy_generalize` and PrivacySpec's lattice-walk pin. */
  def privacyLadder: Seq[graft.ops.Privacy.GeneralizationLevel] = {
    val base = Seq("c_nationkey" -> col("c_nationkey"),
      "c_mktsegment" -> col("c_mktsegment"))
    Seq(
      graft.ops.Privacy.GeneralizationLevel("band100",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 100.0))),
      graft.ops.Privacy.GeneralizationLevel("band1000",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 1000.0))),
      graft.ops.Privacy.GeneralizationLevel("band5000",
        base :+ ("bal_band" -> graft.ops.Privacy.band(col("c_acctbal"), 5000.0))),
      graft.ops.Privacy.GeneralizationLevel("drop_bal", base))
  }

  /** Shared body of the stream_stateful_sessions rows: the custom
    * flatMapGroupsWithState sessionizer (30-min gap, event-time timeout).
    * Each user's FINAL session is excluded on both sides: whether it was
    * emitted depends on whether the end-of-stream watermark fired its
    * timeout — a boundary artifact of draining a finite stream, not of
    * the operator. Non-final sessions are always closed by their
    * successor in-batch. File sink, not memory sink: emitted sessions
    * stay distributed (the memory sink collected millions of rows into
    * the driver at the sf30 audit and killed the context). `variant`
    * keeps concurrent postures' sinks from colliding. */
  def statefulSessionsQuery(s: SparkSession, dir: String,
                                    variant: String = ""): DataFrame = {
    val sessBase = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_stateful_sessions$variant-${s.sparkContext.applicationId}").getAbsolutePath
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(sessBase), true)
    val out = graft.streaming.StatefulSessionizer.run(s, dir, outDir = Some(sessBase))
    val finals = graft.streaming.StatefulSessionizer.lastSessionStarts(Tables.events(s, dir))
    out.join(finals, Seq("user_id", "session_start_s"), "left_anti")
      .select(col("user_id"), col("session_start_s"), col("n_events"))
      .orderBy(col("user_id"), col("session_start_s"))
  }

  def fixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES", "/root/repo/fixtures")

  /** Synthetic DOI/journal derivations over `documents` — the reference's
    * bibliography columns don't exist in the fixture tables, so the funnel
    * operators run on deterministically derived ones (same expressions in
    * the oracle SQL). */
  val DoiRawSql =
    """CASE CAST(doc_id % 4 AS INT)
      | WHEN 0 THEN 'https://doi.org/10.1234/' || source || '.' || doc_id
      | WHEN 1 THEN 'HTTP://DX.DOI.ORG/10.5678/' || upper(source) || '.' || doc_id
      | WHEN 2 THEN '10.9990/' || source || '.' || doc_id || '​'
      | ELSE 'see 10.7770/' || source || '.' || doc_id || ' appendix' END""".stripMargin
  val JournalRawSql = "'{' || upper(source) || '}  Journal   of  ' || lang"

  /** The assembled enrichment mini-lifecycle over `documents` (J2+J3+J5+P7+A3)
    * shared by split_failures / summary_counts / skip_reasons. */
  def assembled(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val todo = Enrich.resumeAntiJoin(
      docs, docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
    val idMap = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), concat(lit("PMC"), col("doc_id")).as("pmcid"))
    Enrich.enrichJoin(todo, idMap, "doc_id")
      .withColumn("body_len", length(col("text")))
      .withColumn("ok",
        col("pmcid").isNotNull && col("doc_id") % 11 =!= 0 && col("body_len") >= 200)
      .withColumn("reason",
        when(col("ok"), lit(null).cast("string"))
          .when(col("pmcid").isNull,
            when(col("doc_id") % 3 === 0, lit("idconv HTTP 400")).otherwise(lit("idconv: no PMCID")))
          .when(col("doc_id") % 11 === 0, lit("PMC fetch failed (batched only)"))
          .otherwise(lit("abstract_only")))
  }

  val AssembledSql =
    """WITH todo AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
      |idmap AS (SELECT doc_id, 'PMC' || doc_id AS pmcid FROM documents WHERE doc_id % 7 <> 0),
      |assembled AS (
      |  SELECT t.doc_id, t.lang, i.pmcid, length(t.text) AS body_len,
      |         (i.pmcid IS NOT NULL AND t.doc_id % 11 <> 0 AND length(t.text) >= 200) AS ok,
      |         CASE WHEN (i.pmcid IS NOT NULL AND t.doc_id % 11 <> 0 AND length(t.text) >= 200) THEN NULL
      |              WHEN i.pmcid IS NULL THEN (CASE WHEN t.doc_id % 3 = 0 THEN 'idconv HTTP 400' ELSE 'idconv: no PMCID' END)
      |              WHEN t.doc_id % 11 = 0 THEN 'PMC fetch failed (batched only)'
      |              ELSE 'abstract_only' END AS reason
      |  FROM todo t LEFT JOIN idmap i ON t.doc_id = i.doc_id)""".stripMargin

  /** The token-window chunk relation (32-stride / 40-token windows) shared
    * by chunk_tokens and pack_sequences — the stride/window constants live
    * here once per engine (mirrored by [[DuckTokenChunks]]). */
  def tokenChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("_toks", split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .withColumn("chunk_index", explode(expr("sequence(0, cast((_n - 1) div 32 as int))")))
      .withColumn("_start", col("chunk_index") * 32)
      .withColumn("n_tokens", least(lit(40), col("_n") - col("_start")).cast("long"))

  val DuckTokenChunks =
    """t AS (SELECT doc_id, source, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, source, toks, len(toks) AS n, unnest(generate_series(0, (len(toks) - 1) // 32)) AS chunk_index
      |      FROM t WHERE len(toks) > 0),
      |tc AS (SELECT doc_id, source, toks, n, CAST(chunk_index AS INT) AS chunk_index,
      |         CAST(least(40, n - chunk_index * 32) AS BIGINT) AS n_tokens FROM w)""".stripMargin

  /** Synthetic media dimensions from payload bytes — the resize-geometry
    * fixture (multimodal_resize), mirrored by [[DuckSynthDims]].
    * multimodal_meta no longer uses this: it decodes REAL container
    * headers instead (see the query). */
  def synthDims(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withPayload(Tables.documents(spark, dir), "doc_id", "text")
      .withColumn("n_bytes", expr("octet_length(payload)").cast("long"))
      .withColumn("width", (lit(32L) + col("n_bytes") % 512).cast("int"))
      .withColumn("height", (lit(32L) + (col("n_bytes") * 7) % 512).cast("int"))

  /** Shared boilerplate-corpus synthesis (Spark expr + DuckDB CTE pair):
    * the fixture text carries no newlines or cross-doc chrome, so the
    * boilerplate rows synthesize a per-source banner/footer every doc of
    * the source shares (df = docs-per-source, dropped at maxDocFreq 10),
    * a promo line shared by the doc_id%7 cohort (df crosses the threshold
    * only at larger SFs — the mid-band), and the sentence-split body.
    * Lives once so text_boilerplate and curation_full can't drift. */
  val BoilerSynthExpr =
    "'subscribe to the ' || source || ' newsletter' || '\n' || " +
      "'promo code SAVE' || CAST(doc_id % 7 AS STRING) || '\n' || " +
      "replace(text, '. ', '\n') || '\n' || " +
      "'copyright ' || source || ' all rights reserved'"

  /** DuckDB replay of [[BoilerSynthExpr]]: ends in d0(doc_id, source, t). */
  val DuckBoilerSynth =
    """d0 AS (SELECT doc_id, source,
      |   'subscribe to the ' || source || ' newsletter' || chr(10) ||
      |   'promo code SAVE' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
      |   replace(text, '. ', chr(10)) || chr(10) ||
      |   'copyright ' || source || ' all rights reserved' AS t
      | FROM documents)""".stripMargin

  val DuckSynthDims =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(32 + octet_length(encode(text)) % 512 AS INT) AS width,
      |  CAST(32 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
      |FROM documents""".stripMargin

  /** The minhash-LSH candidate-pair CTE chain (mirrors
    * [[graft.ops.Dedup.minhashCandidates]] with k=3, 16 hashes, bands of
    * 2) — shared by dedup_minhash and dedup_clusters so the signature
    * arithmetic lives once per engine. Ends in a `mh_pairs` relation. */
  /** The shingle→signature prefix (CTEs t, sh, hashed, seeds, sig) shared
    * by every minhash replay; [[duckMinhashPairs]] appends the fixed
    * r = 2 banding, the banding-curve oracle appends per-r bandings. */
  def duckMinhashSig(rel: String): String =
    s"""t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
      |         THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
      |         ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
      |hashed AS (SELECT doc_id,
      |             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS m1,
      |             CAST('0x' || substring(md5(shingle), 17, 14) AS BIGINT) AS m2 FROM sh),
      |seeds AS (SELECT doc_id, m1, m2, unnest(generate_series(0, 15)) AS seed FROM hashed),
      |sig AS (SELECT doc_id, seed, MIN(m1 + seed * m2) AS mh FROM seeds GROUP BY 1, 2)""".stripMargin

  def duckMinhashPairs(rel: String): String =
    s"""${duckMinhashSig(rel)},
      |bands AS (SELECT doc_id, seed // 2 AS band_idx,
      |            MAX(CASE WHEN seed % 2 = 0 THEN mh END) || '|' || MAX(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
      |          FROM sig GROUP BY 1, 2),
      |mh_pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)""".stripMargin

  val DuckMinhashPairs = duckMinhashPairs("documents")

  /** [[graft.ops.Dedup.coherentSample]]'s membership replayed as a DuckDB
    * subquery over `rel`: h0 = MIN 3-shingle 60-bit md5 hash, kept at
    * h0 % M == 0 with M = greatest(1, |rel| // budget), the budget
    * interpolated from the SAME shared constant the Scala drivers pass —
    * shared by every *_tuned oracle so the two engines cannot silently
    * diverge on the sample. */
  def duckCoherentSample(rel: String): String =
    s"""(SELECT d.doc_id, d.text FROM $rel d JOIN (
      |     SELECT doc_id, MIN(CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT)) AS h0
      |     FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      |              THEN list_transform(generate_series(0, len(toks) - 3), i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
      |              ELSE [array_to_string(toks, ' ')] END) AS shingle
      |           FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel))
      |     GROUP BY doc_id) h USING (doc_id)
      |   WHERE h.h0 % GREATEST(1, (SELECT COUNT(*) FROM $rel) // ${graft.ops.Dedup.DefaultSampleBudgetDocs}) = 0)""".stripMargin

  /** The dedup_lsh_curve oracle replay, relation-parameterized so the
    * full-corpus row and the fixed-sample tuning row share one generator:
    * one signature prefix; per-r banding (ordered in-band mh concat),
    * production-capped bucket pairing, list_intersect verify at
    * >= 5000 bp, union truth across tiers. */
  def duckLshCurve(rel: String): String = {
    val cap = graft.ops.Dedup.DefaultMaxBucket
    val tiers = Seq(1, 2, 4)
    val tierCtes = tiers.map { r =>
      s"""bands_$r AS (SELECT doc_id, seed // $r AS band_idx,
        |    array_to_string(list(mh ORDER BY seed), '|') AS band_val
        |  FROM sig GROUP BY 1, 2),
        |bc_$r AS (SELECT band_idx, band_val, COUNT(*) AS n FROM bands_$r GROUP BY 1, 2),
        |pairs_$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands_$r a JOIN bands_$r b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |  JOIN bc_$r c ON c.band_idx = a.band_idx AND c.band_val = a.band_val
        |  WHERE c.n <= $cap),
        |conf_$r AS (SELECT p.doc_a, p.doc_b FROM pairs_$r p
        |  JOIN csets sa ON sa.doc_id = p.doc_a JOIN csets sb ON sb.doc_id = p.doc_b
        |  WHERE (10000 * len(list_intersect(sa.s, sb.s))) // (sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s))) >= 5000)""".stripMargin
    }.mkString(",\n")
    val union = tiers.map(r => s"SELECT doc_a, doc_b FROM conf_$r").mkString(" UNION ")
    val rows = tiers.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rows_per_band, CAST(${16 / r} AS BIGINT) AS n_bands,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_$r) AS n_candidates,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM conf_$r) AS n_confirmed,
        |  CASE WHEN (SELECT COUNT(*) FROM pairs_$r) = 0 THEN 0
        |       ELSE CAST((SELECT COUNT(*) FROM conf_$r) * 10000 // (SELECT COUNT(*) FROM pairs_$r) AS BIGINT) END AS precision_bp,
        |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 10000
        |       ELSE CAST((SELECT COUNT(*) FROM conf_$r) * 10000 // (SELECT COUNT(*) FROM truth) AS BIGINT) END AS recall_bp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${duckMinhashSig(rel)},
      |csets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
      |$tierCtes,
      |truth AS ($union)
      |$rows
      |ORDER BY rows_per_band""".stripMargin
  }


  /** Synthesized conversations shared by chat_qa and chat_render: each
    * document's sentences become alternating user/assistant turns. Plants:
    * %7 docs open with the assistant (parity offset), %11 docs carry TWO
    * user turns up front (strict alternation must flag them). Split is on
    * the literal '. ' so the DuckDB replay can use its non-regex
    * string_split. */
  def chatConvs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(
      """transform(filter(split(text, '\\. '), x -> x <> ''),
        |  (x, i) -> named_struct(
        |    'role', CASE WHEN doc_id % 11 = 0 AND i < 2 THEN 'user'
        |      WHEN (i + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
        |      ELSE 'assistant' END,
        |    'content', x))""".stripMargin).as("turns"))

  /** The chat synthesis replayed in DuckDB: sentence list + 1-indexed role
    * list (generate_series stands in for the lambda index). Shared by both
    * chat oracles; ends in ch(doc_id, sents, roles). */
  val DuckChatConvs =
    """ch_s AS (SELECT doc_id, list_filter(string_split(text, '. '), x -> x <> '') AS sents FROM documents),
      |ch AS (SELECT doc_id, sents,
      |    list_transform(generate_series(1, len(sents)), i ->
      |      CASE WHEN doc_id % 11 = 0 AND i <= 2 THEN 'user'
      |           WHEN ((i - 1) + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 2 = 0 THEN 'user'
      |           ELSE 'assistant' END) AS roles
      |  FROM ch_s)""".stripMargin

  /** The preference-pair synthesis + per-pair metric CTE chain (mirrors
    * [[graft.ops.Chat.prefQa]] over the pref_qa query's overlapping-window
    * pairs) — shared by pref_qa and pref_bias_card; ends in
    * m(doc_id, chosen_tokens, rejected_tokens, identical, inter, uni). */
  val DuckPrefPairs =
    """p AS (SELECT doc_id,
      |    substring(text, 1, CAST((3 * length(text)) // 5 AS INT)) AS chosen,
      |    CASE WHEN doc_id % 13 = 0 THEN substring(text, 1, CAST((3 * length(text)) // 5 AS INT))
      |         WHEN doc_id % 17 = 0 THEN ''
      |         ELSE substring(text, CAST((2 * length(text)) // 5 AS INT) + 1, CAST(length(text) AS INT)) END AS rejected
      |  FROM documents),
      |w AS (SELECT doc_id, chosen, rejected,
      |    list_filter(string_split_regex(lower(chosen), '\s+'), x -> x <> '') AS cw,
      |    list_filter(string_split_regex(lower(rejected), '\s+'), x -> x <> '') AS rw
      |  FROM p),
      |d AS (SELECT doc_id, chosen, rejected, cw, rw,
      |    list_distinct(cw) AS cd, list_distinct(rw) AS rd FROM w),
      |m AS (SELECT doc_id,
      |    CAST(len(cw) AS BIGINT) AS chosen_tokens,
      |    CAST(len(rw) AS BIGINT) AS rejected_tokens,
      |    CAST(CASE WHEN chosen = rejected THEN 1 ELSE 0 END AS BIGINT) AS identical,
      |    CAST(len(list_filter(cd, x -> list_contains(rd, x))) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(cd, rd))) AS BIGINT) AS uni
      |  FROM d)""".stripMargin

  /** One personalized-PageRank iteration (seed-only teleport and
    * dangling re-teleport — mirrors
    * [[graft.ops.Graph.personalizedPageRank]]): g_pr{i-1} → g_pr{i}.
    * graph_ppr unrolls four. */
  def duckPprIter(i: Int): String = {
    val p = s"g_pr${i - 1}"
    s"""g_pc$i AS (SELECT e.dst, SUM(r.pr // o.odeg) AS cin
      |  FROM g_e e JOIN g_odeg o USING (src) JOIN $p r ON r.node = e.src GROUP BY e.dst),
      |g_pd$i AS (SELECT coalesce(SUM(pr), 0) AS dmass FROM $p WHERE node NOT IN (SELECT src FROM g_odeg)),
      |g_pr$i AS (SELECT nd.node, nd.is_seed,
      |    CAST(CASE WHEN nd.is_seed = 1 THEN (15 * CAST(1000000000 AS BIGINT) // 100) // ns.ns ELSE 0 END
      |      + (85 * (coalesce(c.cin, 0)
      |        + CASE WHEN nd.is_seed = 1 THEN d.dmass // ns.ns ELSE 0 END)) // 100 AS BIGINT) AS pr
      |  FROM g_snodes nd CROSS JOIN g_ns ns CROSS JOIN g_pd$i d LEFT JOIN g_pc$i c ON c.dst = nd.node)""".stripMargin
  }

  /** The synthesized link graph shared by graph_pagerank and
    * graph_triangles (mirrors the queries' explode synthesis): raw links,
    * self-loop-free distinct directed edges, out-degrees. */
  val DuckGraphEdges =
    """g_raw AS (SELECT doc_id AS src, unnest([doc_id // 2, doc_id // 4, doc_id % 97]) AS dst FROM documents),
      |g_e AS (SELECT DISTINCT src, dst FROM g_raw WHERE src <> dst),
      |g_odeg AS (SELECT src, count(*) AS odeg FROM g_e GROUP BY src)""".stripMargin

  /** One exact-integer PageRank iteration (replays
    * [[graft.ops.Graph.pageRank]]'s floor-div nano arithmetic verbatim):
    * g_r{i-1} → contributions, dangling mass, g_r{i}. graph_pagerank
    * unrolls four. */
  def duckPrIter(i: Int): String = {
    val p = s"g_r${i - 1}"
    s"""g_c$i AS (SELECT e.dst, SUM(r.pr // o.odeg) AS cin
      |  FROM g_e e JOIN g_odeg o USING (src) JOIN $p r ON r.node = e.src GROUP BY e.dst),
      |g_d$i AS (SELECT coalesce(SUM(pr), 0) AS dmass FROM $p WHERE node NOT IN (SELECT src FROM g_odeg)),
      |g_r$i AS (SELECT nd.node,
      |    CAST((15 * CAST(1000000000 AS BIGINT) // 100) // nn.n
      |      + (85 * (coalesce(c.cin, 0) + d.dmass // nn.n)) // 100 AS BIGINT) AS pr
      |  FROM g_nodes nd CROSS JOIN g_nn nn CROSS JOIN g_d$i d LEFT JOIN g_c$i c ON c.dst = nd.node)""".stripMargin
  }

  /** Shared replay of [[graft.ops.TextAnalysis.quality]]'s integer score
    * over `documents` (the curation arithmetic, verbatim): CTE chain
    * ending in qsc(doc_id, nt, score). Lives ONCE so the consuming
    * oracles (curation_pipeline, curation_budget, dedup_keep_best) can't
    * drift apart. */
  def duckQualityScore(rel: String): String =
    s"""qq AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
      |        string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks FROM $rel),
      |qm AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS nc, CAST(len(toks) AS BIGINT) AS nt,
      |        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS BIGINT) AS stop
      |      FROM qq),
      |qsc AS (SELECT doc_id, nt,
      |        least(40, nt // 4)
      |          + (CASE WHEN (10000 * stop) // nt BETWEEN 200 AND 6000 THEN 30 ELSE 0 END)
      |          + (CASE WHEN (1000 * (nc - (nt - 1))) // nt BETWEEN 2500 AND 9000 THEN 30 ELSE 0 END) AS score
      |       FROM qm)""".stripMargin

  val DuckQualityScore = duckQualityScore("documents")

  /** Winnowing replay fragment ([[graft.ops.Winnow.fingerprints]] with
    * k=5, w=4, verbatim arithmetic): 60-bit md5 gram hashes, rightmost-min
    * pick per w-window, distinct selected positions. Ends with
    * wfp(doc_id, pos, fp) — the exploded fingerprint relation both the
    * text_winnowing and dedup_winnow oracles consume. */
  def duckWinnowCtes(rel: String, p: String = ""): String =
    s"""${p}wt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |${p}wg AS (SELECT doc_id, CASE WHEN len(toks) >= 5
      |        THEN list_transform(range(0, len(toks) - 4), i -> CAST('0x' || substring(md5(array_to_string(toks[i+1:i+5], ' ')), 1, 15) AS BIGINT))
      |        ELSE [CAST('0x' || substring(md5(array_to_string(toks, ' ')), 1, 15) AS BIGINT)] END AS grams FROM ${p}wt),
      |${p}wsel AS (SELECT doc_id, grams, list_distinct(list_transform(range(0, len(grams) - least(4, len(grams)) + 1),
      |        j -> j + list_max(list_filter(list_transform(range(0, least(4, len(grams))),
      |          t -> CASE WHEN grams[j+t+1] = list_min(grams[j+1:j+least(4, len(grams))]) THEN t ELSE -1 END), x -> x >= 0)))) AS sel FROM ${p}wg),
      |${p}wfp AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, grams[CAST(pos + 1 AS INT)] AS fp
      |        FROM (SELECT doc_id, grams, unnest(sel) AS pos FROM ${p}wsel))""".stripMargin

  /** Bigram-LM replay fragment (Laplace-smoothed, integer bp) over `rel`;
    * ends with lms(doc_id, n_bigrams, lm_bp). The LM is SELF-TRAINED on
    * `rel`, so a composed pipeline that gates before scoring must pass its
    * gated CTE here — the counts, vocabulary, and scores all shift with
    * the corpus, exactly like the Spark operator. */
  /** The NB scoring replay (tokenize → hashed bigram buckets → md5
    * held-out split → ilog2q model/prior/normalizer → per-(doc, class)
    * score), ending with `sc(doc_id, source, cls, score_q)` — shared by
    * the classify_nb argmax row and the classify_nb_pr threshold sweep
    * so the scoring chain lives ONCE. */
  def DuckNbScoreCtes: String =
    s"""toks AS (SELECT doc_id, source,
      |    list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t <> '') AS tk
      |  FROM documents),
      |bg AS (SELECT doc_id, source, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks),
      |b AS (SELECT doc_id, source,
      |        CAST('0x' || substring(md5('${graft.ops.Dsir.Seed}:' || g), 1, 15) AS BIGINT) % ${graft.ops.Dsir.Buckets} AS bk FROM bg),
      |hv AS (SELECT doc_id, CAST('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000 < 2000 AS held FROM documents),
      |m AS (SELECT source AS cls, bk, CAST(COUNT(*) AS BIGINT) AS n_cb FROM b JOIN hv USING (doc_id) WHERE NOT hv.held GROUP BY 1, 2),
      |pri AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) + 1 AS np FROM documents JOIN hv USING (doc_id)
      |        WHERE NOT hv.held GROUP BY 1),
      |tot AS (SELECT m.cls, CAST(SUM(n_cb) AS BIGINT) + ${graft.ops.Dsir.Buckets} AS nt FROM m GROUP BY 1),
      |norm AS (SELECT t.cls, ${graft.ops.Dsir.ilog2qSql("nt", duck = true)} AS norm_q,
      |           ${graft.ops.Dsir.ilog2qSql("np", duck = true)} AS prior_q
      |         FROM tot t JOIN pri ON t.cls = pri.cls),
      |wts AS (SELECT cls, bk, ${graft.ops.Dsir.ilog2qSql("n_cb + 1", duck = true)} AS w_q FROM m),
      |held AS (SELECT doc_id, source FROM documents JOIN hv USING (doc_id) WHERE hv.held),
      |nb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg FROM b JOIN hv USING (doc_id) WHERE hv.held GROUP BY 1),
      |nb2 AS (SELECT h.doc_id, h.source, CAST(coalesce(nb.n_bg, 0) AS BIGINT) AS n_bg
      |        FROM held h LEFT JOIN nb ON h.doc_id = nb.doc_id),
      |hits AS (SELECT b.doc_id, w.cls, CAST(SUM(w.w_q) AS BIGINT) AS hit_q
      |         FROM b JOIN hv USING (doc_id) JOIN wts w ON w.bk = b.bk WHERE hv.held GROUP BY 1, 2),
      |sc AS (SELECT n2.doc_id, n2.source, nm.cls,
      |         nm.prior_q + CAST(coalesce(h.hit_q, 0) AS BIGINT) - n2.n_bg * nm.norm_q AS score_q
      |       FROM nb2 n2 CROSS JOIN norm nm
      |       LEFT JOIN hits h ON h.doc_id = n2.doc_id AND h.cls = nm.cls)""".stripMargin

  def duckLmCtes(rel: String): String =
    s"""lt AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks FROM $rel),
      |lbg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
      |       FROM lt WHERE len(toks) >= 2),
      |lbg2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM lbg),
      |lc2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM lbg2 GROUP BY 1, 2),
      |lc1 AS (SELECT w1, COUNT(*) AS n1 FROM lbg2 GROUP BY 1),
      |lv AS (SELECT COUNT(DISTINCT w2) AS vsz FROM lbg2),
      |lp AS (SELECT w1, w2, (10000 * (n2 + 1)) // (n1 + vsz) AS cond_bp FROM lc2 JOIN lc1 USING (w1), lv),
      |lms AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(cond_bp) // COUNT(*) AS BIGINT) AS lm_bp
      |        FROM lbg2 JOIN lp USING (w1, w2) GROUP BY 1)""".stripMargin

  /** Gopher-battery metrics fragment over `rel`; ends with gm(doc_id,
    * n_words, n_lines, word_len_milli, symbol_bp, bullet_bp, ellipsis_bp,
    * alpha_bp, stop_hits) — consumers apply their own thresholds. */
  def duckGopherMetrics(rel: String): String =
    s"""gq AS (SELECT doc_id, text, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM $rel),
      |gw AS (SELECT doc_id, t,
      |        list_filter(string_split(lower(t), ' '), x -> x <> '') AS toks,
      |        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines
      |      FROM gq),
      |gm AS (SELECT doc_id,
      |        CAST(len(toks) AS BIGINT) AS n_words,
      |        CAST(len(lines) AS BIGINT) AS n_lines,
      |        CASE WHEN len(toks) > 0 THEN (1000 * (length(t) - (len(toks) - 1))) // len(toks) ELSE 0 END AS word_len_milli,
      |        CASE WHEN len(toks) > 0 THEN (10000 * (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.')))) // len(toks) ELSE 0 END AS symbol_bp,
      |        CASE WHEN len(lines) > 0 THEN (10000 * len(list_filter(lines, l -> regexp_matches(l, '^(\\* |- |•)')))) // len(lines) ELSE 0 END AS bullet_bp,
      |        CASE WHEN len(lines) > 0 THEN (10000 * len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$')))) // len(lines) ELSE 0 END AS ellipsis_bp,
      |        CASE WHEN len(toks) > 0 THEN (10000 * len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))) // len(toks) ELSE 0 END AS alpha_bp,
      |        CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
      |      FROM gw)""".stripMargin

  /** The Gopher rule battery as (name, DuckDB predicate over the
    * duckGopherMetrics `gm` columns) — the single source for
    * text_gopher_rules' per-doc replay and filter_attribution's
    * ablation table. */
  val GopherRulePreds: Seq[(String, String)] = Seq(
    "r_word_count" -> "n_words BETWEEN 50 AND 100000",
    "r_word_len" -> "word_len_milli BETWEEN 3000 AND 10000",
    "r_symbol" -> "symbol_bp <= 1000",
    "r_bullet" -> "bullet_bp <= 9000",
    "r_ellipsis" -> "ellipsis_bp <= 3000",
    "r_alpha" -> "alpha_bp >= 8000",
    "r_stop" -> "stop_hits >= 2")
  val GopherRuleNames: Seq[String] = GopherRulePreds.map(_._1)

  /** Shared replay of the connected-components labeling over `mh_pairs`
    * (requires [[DuckMinhashPairs]] earlier in the same WITH RECURSIVE):
    * ends with lab(doc_id, cluster_id) and sz(cluster_id, cluster_size).
    * Shared by dedup_clusters and dedup_keep_best. */
  def duckComponentsLab(rel: String): String =
    s"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      |          UNION SELECT doc_b, doc_a FROM mh_pairs),
      |reach(node, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
      |cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
      |lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      |        FROM $rel d LEFT JOIN cc c ON d.doc_id = c.node),
      |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  val DuckComponentsLab = duckComponentsLab("documents")

  /** Per-subspace PQ training/encoding CTE chain for the ann_pq oracle —
    * generated per subspace `s` (16 dims each) so the k-means replay lives
    * once and the four subspaces can't drift apart. Mirrors
    * [[graft.ops.Pq.train]] (seed = 8 lowest-id sliced vectors, one Lloyd
    * round of quantized-cosine assignment + exact-integer sum/count
    * update) and [[graft.ops.Pq.encode]] (assignment under the trained
    * book). */
  def pqSubCtes(s: Int): String = {
    val lo = 16 * s + 1
    def cosRank(simRel: String) =
      s"""SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
         |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
         |    FROM $simRel""".stripMargin
    def sims(fromRel: String, bookRel: String) =
      s"""SELECT t.vec_id, c.cid,
         |    list_sum(list_transform(range(1, 17), i -> (c.s[i] / c.n) * (t.v[i])::DOUBLE)) AS dt,
         |    list_sum(list_transform(range(1, 17), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
         |    list_sum(list_transform(range(1, 17), i -> (t.v[i])::DOUBLE * (t.v[i])::DOUBLE)) AS nb
         |  FROM $fromRel t CROSS JOIN $bookRel c""".stripMargin
    s"""pqsub$s AS (SELECT vec_id, list_slice(vq, $lo, ${lo + 15}) AS v FROM e),
       |pqseed$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS s, 1::BIGINT AS n
       |           FROM (SELECT * FROM pqsub$s ORDER BY vec_id LIMIT 8)),
       |pqsim$s AS (${sims(s"pqsub$s", s"pqseed$s")}),
       |pqasn$s AS (SELECT vec_id, cid FROM (${cosRank(s"pqsim$s")}) WHERE rn = 1),
       |pqu$s AS (SELECT a.cid, d.i, SUM(t.v[d.i]) AS si, COUNT(*) AS cnt
       |        FROM pqasn$s a JOIN pqsub$s t ON t.vec_id = a.vec_id CROSS JOIN dims16 d GROUP BY 1, 2),
       |pqcn$s AS (SELECT cid, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM pqu$s GROUP BY cid),
       |pqcb$s AS (SELECT sd.cid, coalesce(c.s, sd.s) AS s, coalesce(c.n, sd.n) AS n
       |         FROM pqseed$s sd LEFT JOIN pqcn$s c ON sd.cid = c.cid),
       |pqsim2_$s AS (${sims(s"pqsub$s", s"pqcb$s")}),
       |pqenc$s AS (SELECT vec_id, cid FROM (${cosRank(s"pqsim2_$s")}) WHERE rn = 1)""".stripMargin
  }

  /** HLL register-state replay shared by sketch_hll and sketch_hll_merge
    * (merge-by-max must equal the single-pass state). */
  val DuckHllSketch: String =
    """WITH toks AS (SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok FROM documents),
        |nz AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |h AS (SELECT source, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hh FROM nz),
        |r AS (SELECT source, CAST(hh & 63 AS INT) AS j,
        |        CASE WHEN (hh >> 11) = 0 THEN 50 ELSE 50 - length(bin(hh >> 11)) END AS rho
        |      FROM h),
        |regs AS (SELECT source, j, MAX(rho) AS m FROM r GROUP BY 1, 2)
        |SELECT source,
        |  CAST(64 - COUNT(*) AS INT) AS hll_zeros,
        |  CAST(SUM(1::BIGINT << (50 - m)) + (64 - COUNT(*)) * (1::BIGINT << 50) AS BIGINT) AS hll_denom_scaled
        |FROM regs GROUP BY source ORDER BY source""".stripMargin

  /** Shared replay of the quantized-IVF coarse training (seed = 8
    * lowest-id quantized vectors, TWO Lloyd rounds of exact-integer
    * sum/count updates), final corpus assignment (`asn3`) and the 3-probe
    * lists for queries vec_id < 5 (`probes`) — used verbatim by both the
    * ann_ivf oracle and the composed ann_ivfpq oracle so the coarse
    * quantizer's arithmetic lives once. Also defines `e` (quantized
    * vectors) and `dims`. */
  val DuckIvfTrainCtes: String = duckIvfTrainCtes()

  /** The same training replay with a pluggable source relation, so the
    * incremental row can train on a corpus SLICE verbatim, and a CTE-name
    * prefix `p` so two independent model replays (e.g. the drift row's
    * original + retrained codebooks) can coexist in one WITH chain. */
  def duckIvfTrainCtes(source: String = "embeddings", p: String = "",
                               limitSql: String = "8"): String =
    s"""${p}e AS (SELECT vec_id, embedding,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
      |  FROM $source),
      |${p}dims AS (SELECT unnest(range(1, 65)) AS i),
      |${p}seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vq AS s, 1::BIGINT AS n
      |         FROM (SELECT * FROM ${p}e ORDER BY vec_id LIMIT $limitSql)),
      |${p}sim1 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}seed c),
      |${p}asn1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim1) WHERE rn = 1),
      |${p}u1 AS (SELECT a.cid, d.i, SUM(e.vq[d.i]) AS si, COUNT(*) AS cnt
      |       FROM ${p}asn1 a JOIN ${p}e e ON e.vec_id = a.vec_id CROSS JOIN ${p}dims d GROUP BY 1, 2),
      |${p}c1n AS (SELECT cid, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM ${p}u1 GROUP BY cid),
      |${p}c1 AS (SELECT sd.cid, coalesce(cn.s, sd.s) AS s, coalesce(cn.n, sd.n) AS n
      |       FROM ${p}seed sd LEFT JOIN ${p}c1n cn ON sd.cid = cn.cid),
      |${p}sim2 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}c1 c),
      |${p}asn2 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim2) WHERE rn = 1),
      |${p}u2 AS (SELECT a.cid, d.i, SUM(e.vq[d.i]) AS si, COUNT(*) AS cnt
      |       FROM ${p}asn2 a JOIN ${p}e e ON e.vec_id = a.vec_id CROSS JOIN ${p}dims d GROUP BY 1, 2),
      |${p}c2n AS (SELECT cid, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM ${p}u2 GROUP BY cid),
      |${p}c2 AS (SELECT c1.cid, coalesce(cn.s, c1.s) AS s, coalesce(cn.n, c1.n) AS n
      |       FROM ${p}c1 c1 LEFT JOIN ${p}c2n cn ON c1.cid = cn.cid),
      |${p}sim3 AS (SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
      |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
      |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
      |  FROM ${p}e e CROSS JOIN ${p}c2 c),
      |${p}asn3 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim3) WHERE rn = 1),
      |${p}probes AS (SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
      |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
      |    FROM ${p}sim3 WHERE vec_id < 5) WHERE rn <= 3)""".stripMargin

  /** The bitext margin/mutual CTE tail over an upstream `pp(id_a, id_b,
    * q)` candidate relation (q > 0) — shared by mine_bitext (cross-join
    * candidates) and mine_bitext_cell (within-IVF-cell candidates). */
  def duckBitextTail(k: Int = 4, minMarginBp: Long = 10000L): String =
    s"""r AS (SELECT *,
      |        row_number() OVER (PARTITION BY id_a ORDER BY q DESC, id_b) AS rka,
      |        row_number() OVER (PARTITION BY id_b ORDER BY q DESC, id_a) AS rkb
      |      FROM pp),
      |sa AS (SELECT id_a, CAST(SUM(q) AS BIGINT) AS sa, CAST(COUNT(*) AS BIGINT) AS ca
      |       FROM r WHERE rka <= $k GROUP BY 1),
      |sb AS (SELECT id_b, CAST(SUM(q) AS BIGINT) AS sb, CAST(COUNT(*) AS BIGINT) AS cb
      |       FROM r WHERE rkb <= $k GROUP BY 1),
      |sc AS (SELECT r.id_a, r.id_b, r.rka, r.rkb,
      |         CAST((2 * q * 10000 * ca * cb) // (sa * cb + sb * ca) AS BIGINT) AS margin_bp
      |       FROM r JOIN sa USING (id_a) JOIN sb USING (id_b)
      |       WHERE (rka <= $k OR rkb <= $k) AND sa * cb + sb * ca > 0),
      |f AS (SELECT id_a, id_b, margin_bp FROM (
      |        SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY margin_bp DESC, id_b) AS fb
      |        FROM sc WHERE rka <= $k) WHERE fb = 1),
      |w AS (SELECT id_a, id_b FROM (
      |        SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY margin_bp DESC, id_a) AS bb
      |        FROM sc WHERE rkb <= $k) WHERE bb = 1)
      |SELECT id_a, id_b, margin_bp FROM f JOIN w USING (id_a, id_b)
      |WHERE margin_bp >= $minMarginBp
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY id_a, id_b""".stripMargin

  /** The four per-subspace encodings joined back into one codes row per
    * vector — shared by ann_pq and ann_ivfpq. */
  val DuckPqCodes: String =
    """codes AS (SELECT e0.vec_id, e0.cid AS c0, e1.cid AS c1, e2.cid AS c2, e3.cid AS c3
      |          FROM pqenc0 e0 JOIN pqenc1 e1 USING (vec_id) JOIN pqenc2 e2 USING (vec_id)
      |               JOIN pqenc3 e3 USING (vec_id))""".stripMargin

  /** ADC score: Σ over the 4 subspaces of the fixed-order centroid·query
    * dot product (ascending dims inside each subspace, ascending subspace
    * order) — references `q.embedding` and joined books b0..b3. */
  val DuckAdcScore: String =
    """list_sum(list_transform(range(1, 17), i -> (b0.s[i] / b0.n) * (q.embedding[i])::DOUBLE))
      |  + list_sum(list_transform(range(1, 17), i -> (b1.s[i] / b1.n) * (q.embedding[i + 16])::DOUBLE))
      |  + list_sum(list_transform(range(1, 17), i -> (b2.s[i] / b2.n) * (q.embedding[i + 32])::DOUBLE))
      |  + list_sum(list_transform(range(1, 17), i -> (b3.s[i] / b3.n) * (q.embedding[i + 48])::DOUBLE))""".stripMargin

  /** Full replay of quantized IVF search over a pluggable source
    * relation: vectors floor-quantized to 2^-20 units, centroids as exact
    * (sum, n) integer state (merge-order-free on the Spark side), two
    * Lloyd rounds, 3-probe search, exact-cosine re-rank on the original
    * floats. Every float here derives from exact integers through
    * fixed-order folds, so both engines agree bit-for-bit. The default is
    * the ann_ivf oracle verbatim; the recall row's post-shift tier passes
    * the negated corpus. */
  def duckIvfSearchSql(source: String = "embeddings"): String =
    s"""WITH ${duckIvfTrainCtes(source)},
       |members AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |            FROM asn3 a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
       |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM $source qsrc WHERE vec_id < 5),
       |resc AS (SELECT m.query_id, m.neighbor_id, ${duckCosine("emb.embedding", "qv.qvec")} AS sim
       |         FROM members m JOIN $source emb ON emb.vec_id = m.neighbor_id
       |         JOIN qv ON qv.query_id = m.query_id),
       |ranked AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM resc)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Brute-force cosine top-10 replay (the knn_cosine oracle) over a
    * pluggable source relation — the recall rows reuse it to compute
    * ground truth over a SHIFTED corpus. */
  def duckKnnSql(source: String = "embeddings"): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM $source qs WHERE vec_id < 5),
       |sims AS (SELECT q.qid, e.vec_id, ${duckCosine("e.embedding", "q.qvec")} AS sim
       |         FROM $source e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |ranked AS (SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank FROM sims)
       |SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** The dedup_semantic oracle, threshold-parameterized (2500 = the recall
    * spot-check row, 8500 = the production posture): the IVF
    * coarse-training replay (shared fragment: same seeds, two Lloyd
    * rounds, same tie rule) supplies asn3; pairs within a shared cell
    * verify by the same fixed-order cosine fold; components over the
    * confirmed pairs replay as a recursive CTE (the dedup_clusters
    * pattern); the shared quality replay picks the representative. */
  def duckSemanticSql(thresholdBp: Long, limitSql: String = "8"): String =
    s"""WITH RECURSIVE ${duckIvfTrainCtes(limitSql = limitSql)},
      |sem_pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM asn3 a JOIN asn3 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |${duckSemanticTail(thresholdBp)}""".stripMargin

  /** Shared verify → components → keep-best tail of the semantic-dedup
    * oracles: consumes a `sem_pairs(id_a, id_b)` CTE, ends with the final
    * SELECT. Lives once so the flat and hierarchical replays cannot
    * drift. */
  def duckSemanticTail(thresholdBp: Long): String =
    s"""sem_dup AS (SELECT p.id_a, p.id_b
      |  FROM sem_pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
      |                   JOIN embeddings eb ON eb.vec_id = p.id_b
      |  WHERE CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) >= $thresholdBp),
      |sedges AS (SELECT id_a AS src, id_b AS dst FROM sem_dup
      |           UNION SELECT id_b, id_a FROM sem_dup),
      |sreach(node, lbl) AS (
      |  SELECT src, src FROM sedges
      |  UNION
      |  SELECT e.src, r.lbl FROM sedges e JOIN sreach r ON e.dst = r.node),
      |scc AS (SELECT node, MIN(lbl) AS cluster_id FROM sreach GROUP BY node),
      |slab AS (SELECT em.vec_id, coalesce(c.cluster_id, em.vec_id) AS cluster_id
      |         FROM embeddings em LEFT JOIN scc c ON em.vec_id = c.node),
      |ssz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM slab GROUP BY 1),
      |$DuckQualityScore,
      |srep AS (SELECT l.cluster_id, l.vec_id, s.cluster_size, q.score,
      |           row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.score DESC, l.vec_id) AS rn
      |         FROM slab l JOIN ssz s ON l.cluster_id = s.cluster_id
      |                     JOIN qsc q ON q.doc_id = l.vec_id)
      |SELECT cluster_id, vec_id AS rep_id, cluster_size, score AS quality_score
      |FROM srep WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** The dedup_semantic_scale oracle: full replay of the two-level
    * codebook ([[graft.ops.Ivf.trainHierarchical]] with childIters=1) —
    * super train via the shared fragment (dynamic k2 from the corpus),
    * per-super child seeds (lowest vec_id order, ceil(n_s/100) of them),
    * one child Lloyd round with stale-keep, final child assignment,
    * composite cells — then the shared semantic tail over pairs sharing a
    * (super, child) cell. */
  /** The two-level codebook CTE chain shared by dedup_semantic_scale and
    * mine_bitext_scale: super train via the shared fragment (dynamic k2),
    * per-super child seeds (lowest vec_id order, ceil(n_s/100) of them),
    * one child Lloyd round with stale-keep, final child assignment —
    * ending in `hcell(vec_id, cluster)` composite cells. */
  def duckHierCellCtes(k2Sql: String, trainSrc: String = "embeddings",
                               assignSrc: String = null): String = {
    def childSim(cents: String, rel: String = "sv") =
      s"""SELECT v.vec_id, v.sc, c.child,
         |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (v.vq[i])::DOUBLE)) AS dt,
         |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
         |    list_sum(list_transform(range(1, 65), i -> (v.vq[i])::DOUBLE * (v.vq[i])::DOUBLE)) AS nb
         |  FROM $rel v JOIN $cents c ON c.sc = v.sc""".stripMargin
    def childArgmax(sim: String) =
      s"""SELECT vec_id, sc, child FROM (
         |    SELECT vec_id, sc, child, row_number() OVER (PARTITION BY vec_id ORDER BY
         |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, child) AS rn
         |    FROM $sim) WHERE rn = 1""".stripMargin
    val trained =
      s"""${duckIvfTrainCtes(trainSrc, limitSql = k2Sql)},
      |sv AS (SELECT a.vec_id, a.cid AS sc, e.vq FROM asn3 a JOIN e USING (vec_id)),
      |scnt AS (SELECT sc, COUNT(*) AS ns FROM sv GROUP BY 1),
      |cseed AS (SELECT t.sc, CAST(t.rn - 1 AS INT) AS child, t.vq AS s, 1::BIGINT AS n
      |          FROM (SELECT sc, vec_id, vq, row_number() OVER (PARTITION BY sc ORDER BY vec_id) AS rn FROM sv) t
      |          JOIN scnt ON scnt.sc = t.sc
      |          WHERE t.rn <= CAST(ceil(scnt.ns / 100.0) AS BIGINT)),
      |hsim1 AS (${childSim("cseed")}),
      |hasn1 AS (${childArgmax("hsim1")}),
      |hu1 AS (SELECT a.sc, a.child, d.i, SUM(v.vq[d.i]) AS si, COUNT(*) AS cnt
      |        FROM hasn1 a JOIN sv v ON v.vec_id = a.vec_id CROSS JOIN dims d GROUP BY 1, 2, 3),
      |hc1n AS (SELECT sc, child, list(si ORDER BY i) AS s, CAST(MAX(cnt) AS BIGINT) AS n FROM hu1 GROUP BY 1, 2),
      |hc1 AS (SELECT cs.sc, cs.child, coalesce(cn.s, cs.s) AS s, coalesce(cn.n, cs.n) AS n
      |        FROM cseed cs LEFT JOIN hc1n cn ON cs.sc = cn.sc AND cs.child = cn.child)""".stripMargin
    if (assignSrc == null)
      // train and assign over the same relation — the original chain
      s"""$trained,
        |hsim2 AS (${childSim("hc1")}),
        |hasn2 AS (${childArgmax("hsim2")}),
        |hcell AS (SELECT vec_id, sc * 100000 + child AS cluster FROM hasn2)""".stripMargin
    else
      // split chain (the persisted-codebook increment replay): centroids
      // come from `trainSrc` only; `assignSrc` rows take one super argmax
      // against the FINAL super centroids (c2 — exactly what
      // readModel2∘writeModel2 hands assignHierarchical) and one child
      // argmax against the trained children (hc1). A super cell with no
      // trained children falls back to child 0, mirroring
      // Ivf.assignHierarchical's addressable-cell contract.
      s"""$trained,
        |fe AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
        |  FROM $assignSrc),
        |fsim AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (e.vq[i])::DOUBLE)) AS dt,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
        |    list_sum(list_transform(range(1, 65), i -> (e.vq[i])::DOUBLE * (e.vq[i])::DOUBLE)) AS nb
        |  FROM fe e CROSS JOIN c2 c),
        |fasn AS (SELECT vec_id, cid AS sc FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM fsim) WHERE rn = 1),
        |fsv AS (SELECT a.vec_id, a.sc, e.vq FROM fasn a JOIN fe e USING (vec_id)),
        |fhsim AS (${childSim("hc1", "fsv")}),
        |fhasn AS (${childArgmax("fhsim")}),
        |hcell AS (SELECT f.vec_id, f.sc * 100000 + coalesce(h.child, 0) AS cluster
        |          FROM fasn f LEFT JOIN fhasn h ON h.vec_id = f.vec_id)""".stripMargin
  }

  /** The dedup_semantic_scale oracle: the shared two-level chain, then
    * the shared semantic tail over pairs sharing a (super, child) cell. */
  def duckSemanticScaleSql(thresholdBp: Long, k2Sql: String): String =
    s"""WITH RECURSIVE ${duckHierCellCtes(k2Sql)},
      |sem_pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM hcell a JOIN hcell b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |${duckSemanticTail(thresholdBp)}""".stripMargin

  /** The embed_neardup oracle family: full replay of the LSH blocking +
    * exact-cosine verify — same ±1 md5-derived planes as ann_lsh (4
    * tables), bucket self-join for candidates, same floor(cosine·10000)
    * scoring, `thresholdBp` the verify band (2500 = recall spot-check,
    * 8500 = production). `autoBits` replays
    * [[graft.ops.Similarity.numBitsFor]] — width from COUNT(*) via
    * `least(48, greatest(4, ceil(log2(max(n/1000, 1)))))` — pinning the
    * auto-sizing path by hash equality; false pins the explicit 8-bit
    * shape. */
  def duckEmbedNeardupSql(thresholdBp: Long, autoBits: Boolean): String = {
    val bits =
      if (autoBits)
        """(SELECT unnest(range(0, (SELECT CAST(least(48, greatest(4,
          |    CAST(ceil(log2(greatest(CAST(COUNT(*) AS DOUBLE) / 1000.0, 1.0))) AS INT))) AS INT)
          |  FROM embeddings))) AS b)""".stripMargin
      else "(SELECT unnest(range(0, 8)) AS b)"
    s"""WITH planes AS (
       |  SELECT t, b, list_transform(range(0, 64), i ->
       |    CASE WHEN CAST('0x' || substring(md5('42|' || t || '|' || b || '|' || i), 1, 1) AS INT) >= 8
       |         THEN 1.0 ELSE -1.0 END) AS w
       |  FROM (SELECT unnest(range(0, 4)) AS t), $bits),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_sum(list_transform(range(0, 64), i -> p.w[i + 1] * (e.embedding[i + 1])::DOUBLE)) AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT c.id_a, c.id_b,
       |        CAST(floor(${duckCosine("ea.embedding", "eb.embedding")} * 10000) AS BIGINT) AS sim_bp
       |      FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, sim_bp FROM v WHERE sim_bp >= $thresholdBp
       |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The perceptual-hash replay: the payload BODY is exactly the
    * document's UTF-8 text bytes (the builders append them after each
    * format's fixed header), so the oracle hashes `hex(encode(text))`
    * with the same generated integer fragment
    * ([[graft.ops.Multimodal.dHashSampleCols]] /
    * [[graft.ops.Multimodal.dHashFromSamplesSql]]) the Spark side runs
    * over the stripped payload. Ends with the `ph(media_id, phash)` CTE
    * open for the caller to extend. */
  /** BPE merge-training replay: the word-frequency CTE (w0/s0), then per
    * round r: pair counts p_r over s_{r-1}, winner t_r by (cnt DESC, x, y),
    * merged sequences s_r via the same two-pass space-delimited replace the
    * Spark side runs ([[graft.ops.Bpe.applyMerge]]). Callers append the
    * final SELECT over t_1..t_R (merge table) or s_R (vocab). */
  def duckBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents) t
      |  WHERE word <> '' GROUP BY word),
      |s0 AS (SELECT word, n,
      |         concat(trim(regexp_replace(word, '(.)', '\1 ', 'g')), ' </w>') AS seq
      |       FROM w0)""".stripMargin
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      sb ++= s""",
        |p$r AS (SELECT l[i] AS x, l[i + 1] AS y, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        |    SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
        |    FROM (SELECT n, string_split(seq, ' ') AS l FROM $prev) a
        |    WHERE len(l) >= 2) b
        |  GROUP BY 1, 2),
        |t$r AS (SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
        |s$r AS (SELECT word, n,
        |    trim(replace(replace(' ' || seq || ' ',
        |                         ' ' || t.x || ' ' || t.y || ' ', ' ' || t.x || t.y || ' '),
        |                 ' ' || t.x || ' ' || t.y || ' ', ' ' || t.x || t.y || ' ')) AS seq
        |  FROM $prev, t$r t)""".stripMargin
    }
    sb.toString
  }

  def duckPhashSql(
      source: String = "SELECT doc_id AS media_id, text FROM documents"): String = {
    val samples = graft.ops.Multimodal
      .dHashSampleCols("hx", "blen", duck = true).mkString(",\n    ")
    s"""WITH p AS (SELECT media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS blen FROM ($source)),
      |v AS (SELECT media_id,
      |    $samples
      |  FROM p),
      |ph AS (SELECT media_id, ${graft.ops.Multimodal.dHashFromSamplesSql} AS phash FROM v)""".stripMargin
  }

  /** Cosine similarity in DuckDB with the same left-to-right double fold
    * Spark's `aggregate(zip_with(...))` performs. */
  def duckCosine(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       | / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |    * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))""".stripMargin

  /** The SQ8 quantization replay (mirrors [[graft.ops.Quantize.int8Codes]]
    * exactly — clamp, floor-quantize, symmetric integer rounding) as a
    * reusable CTE chain ending in `c(vec_id, amax_q, codes)`; shared by
    * embed_quant_int8 and the compressed-store search row. */
  val DuckSq8CodesCtes: String =
    """xq AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(floor(
      |    greatest(least(CAST(x AS DOUBLE), 17179869184.0), -17179869184.0) * 1048576.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |a AS (SELECT vec_id, q,
      |  CAST(list_aggregate(list_transform(q, v -> abs(v)), 'max') AS BIGINT) AS amax_q FROM xq),
      |c AS (SELECT vec_id, amax_q,
      |  list_transform(q, v -> CASE WHEN amax_q = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(sign(v) AS BIGINT) * ((2 * abs(v) * 127 + amax_q) // (2 * amax_q)) END) AS codes
      |  FROM a)""".stripMargin

  /** MMR replay: brute-force candidate pool (the duckKnnSql shape kept
    * inline for its rel values), pairwise candidate similarities, then the
    * greedy `λ·rel − (1−λ)·max-sim-to-selected` selection UNROLLED as one
    * CTE chain per pick — selcum_i accumulates the chosen set, pick_i is
    * the arg-max row (score desc, id) over the not-yet-selected pool. Same
    * fused-fold cosines as every vector oracle, so scores are bit-equal
    * and only (query, neighbor, rank) integers cross engines. */
  def duckMmrSql(candK: Int, selectK: Int, lambdaBp: Int): String = {
    val lam = s"($lambdaBp/10000.0)"
    val om = s"((10000 - $lambdaBp)/10000.0)"
    val sb = new StringBuilder(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |sims AS (SELECT q.qid, e.vec_id, ${duckCosine("e.embedding", "q.qvec")} AS rel
         |         FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |cand AS (SELECT qid, vec_id, rel FROM (
         |    SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rnk FROM sims)
         |  WHERE rnk <= $candK),
         |psim AS (SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb, ${duckCosine("ea.embedding", "eb.embedding")} AS s
         |         FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
         |         JOIN embeddings ea ON ea.vec_id = a.vec_id
         |         JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |pick1 AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
         |selcum1 AS (SELECT qid, vec_id FROM pick1)""".stripMargin)
    for (i <- 2 to selectK) {
      sb.append(s""",
         |pick$i AS (SELECT qid, vec_id FROM (
         |    SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid
         |        ORDER BY ($lam * c.rel - $om * m.ms) DESC, c.vec_id) AS rn
         |    FROM cand c
         |    JOIN (SELECT p.qid, p.ca, MAX(p.s) AS ms FROM psim p
         |          JOIN selcum${i - 1} s ON s.qid = p.qid AND s.vec_id = p.cb GROUP BY 1, 2) m
         |      ON m.qid = c.qid AND m.ca = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selcum${i - 1} x WHERE x.qid = c.qid AND x.vec_id = c.vec_id))
         |  WHERE rn = 1),
         |selcum$i AS (SELECT * FROM selcum${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin)
    }
    val outs = (1 to selectK)
      .map(i => s"SELECT qid, vec_id, $i AS r FROM pick$i")
      .mkString(" UNION ALL ")
    sb.append(s"""
         |SELECT qid AS query_id, vec_id AS neighbor_id, CAST(r AS BIGINT) AS mmr_rank
         |FROM ($outs) ORDER BY query_id, mmr_rank""".stripMargin)
    sb.toString
  }

  /** Full DSIR replay over pluggable corpus/score slices (both predicates
    * range over `doc_id`): weights from the `corpusPred` rows, scores for
    * the `scorePred` rows, top-`k` by score. One derivation serves the
    * one-shot row (both predicates TRUE) and the persisted-weights
    * increment row — like the IVF train CTEs, the oracle re-derives the
    * persisted model from the same slice rather than reading the table. */
  def duckDsirSql(corpusPred: String, scorePred: String, k: Int,
                          src: String = "documents"): String = {
    val tgtList = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    def I(x: String) = graft.ops.Dsir.ilog2qSql(x, duck = true)
    s"""WITH toks AS (SELECT doc_id, source,
      |    list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t <> '') AS tk
      |  FROM $src),
      |bg AS (SELECT doc_id, source, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks),
      |b AS (SELECT doc_id, source, source IN ($tgtList) AS tgt,
      |        CAST('0x' || substring(md5('${graft.ops.Dsir.Seed}:' || g), 1, 15) AS BIGINT) % ${graft.ops.Dsir.Buckets} AS bk FROM bg),
      |cnt AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS raw_b, CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_b FROM b WHERE $corpusPred GROUP BY 1),
      |tot AS (SELECT CAST(SUM(raw_b) AS BIGINT) AS raw_tot, CAST(SUM(tgt_b) AS BIGINT) AS tgt_tot FROM cnt),
      |w AS (SELECT bk, ${I("tgt_b + 1")}
      |        - ${I(s"tgt_tot + ${graft.ops.Dsir.Buckets}")}
      |        - ${I("raw_b + 1")}
      |        + ${I(s"raw_tot + ${graft.ops.Dsir.Buckets}")} AS lrq
      |      FROM cnt CROSS JOIN tot),
      |ds AS (SELECT b.doc_id, b.source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(coalesce(w.lrq, 0)) AS BIGINT) AS score_q
      |       FROM b LEFT JOIN w USING (bk) WHERE $scorePred GROUP BY 1, 2),
      |fl AS (SELECT d.doc_id, d.source, CAST(coalesce(ds.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |         CAST(coalesce(ds.score_q, 0) AS BIGINT) AS score_q
      |       FROM (SELECT * FROM $src WHERE $scorePred) d LEFT JOIN ds ON d.doc_id = ds.doc_id),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS sel_rank FROM fl)
      |SELECT doc_id, source, n_bigrams, score_q, sel_rank FROM r WHERE sel_rank <= $k ORDER BY sel_rank""".stripMargin
  }

  /** Single source of truth for the persisted minhash corpus index:
    * corpus slice, k, and numHashes are defined ONCE here and encoded in
    * the table-name slug, so benchPrepare and the
    * dedup_incremental_indexed query can never drift apart — a parameter
    * change renames the tables and forces a rebuild instead of silently
    * probing an index built with different parameters. */
  val MinhashIndexK = 3
  val MinhashIndexHashes = 16
  val MinhashIndexCorpusMod = 5 // corpus = doc_id % mod =!= 0 slice
  def minhashIndexCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % MinhashIndexCorpusMod =!= 0)

  /** Catalog names of the persisted minhash corpus index, scoped by
    * (application, corpus dir, build parameters) so a warmup at one SF can
    * never serve a probe at another, concurrent test sessions don't
    * collide, and a parameter drift — including the corpus slice — forces
    * a rebuild (every parameter in the slug is the SAME constant the build
    * reads, never a parallel literal). */
  def minhashIndexTables(s: SparkSession, dir: String): (String, String) = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_k${MinhashIndexK}_h${MinhashIndexHashes}_mod${MinhashIndexCorpusMod}")
      .replaceAll("[^a-zA-Z0-9]", "_")
    (s"graft_mh_bands_$slug", s"graft_mh_sets_$slug")
  }

  /** Idempotent build-if-missing of the minhash corpus index; returns the
    * table names. The ONLY call path to [[graft.ops.Dedup
    * .writeMinhashIndex]] for the bench/oracle index — shared by
    * benchPrepare and the query body. */
  def ensureMinhashIndex(s: SparkSession, dir: String): (String, String) = {
    val (bandsT, setsT) = minhashIndexTables(s, dir)
    if (!(s.catalog.tableExists(bandsT) && s.catalog.tableExists(setsT)))
      graft.ops.Dedup.writeMinhashIndex(minhashIndexCorpus(s, dir), "doc_id", "text",
        bandsT, setsT, k = MinhashIndexK, numHashes = MinhashIndexHashes)
    (bandsT, setsT)
  }

  /** Winnow corpus index: same (application, dir, params) scoping and
    * %5-slice increment contract as the minhash index. */
  def winnowIndexTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_k5_w4_mod$MinhashIndexCorpusMod").replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_winnow_posts_$slug"
  }

  def ensureWinnowIndex(s: SparkSession, dir: String): String = {
    val t = winnowIndexTable(s, dir)
    if (!s.catalog.tableExists(t))
      graft.ops.Winnow.writeIndex(minhashIndexCorpus(s, dir), "doc_id", "text", t)
    t
  }

  /** Lexical postings index: same (application, dir, params) scoping and
    * %5-slice increment contract as the minhash index. */
  def tfIndexTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_mod$MinhashIndexCorpusMod").replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_tf_posts_$slug"
  }

  def ensureTfIndex(s: SparkSession, dir: String): String = {
    val t = tfIndexTable(s, dir)
    if (!s.catalog.tableExists(t))
      graft.ops.Bm25.writeTfIndex(minhashIndexCorpus(s, dir), "doc_id", "text", t)
    t
  }

  /** Target slice for the DSIR rows — defined ONCE so the Spark queries
    * and the generated oracle can never disagree on what "target" means. */
  val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** BPE merge-training rounds for the tokenize_bpe rows — small enough
    * that the oracle's chained round CTEs stay readable, large enough
    * that merged symbols feed later rounds (multi-char x by round ~3). */
  val BpeRounds = 6

  /** The eval_retrieval query battery: (query_id, phrase). Phrases are
    * picked to discriminate at sf0.01 (5 / 3 / 1 exact-phrase matches);
    * the card still emits one row per query when a phrase has zero
    * matches at a smaller SF (the zero-guard path). */
  val RetrievalEvalQueries: Seq[(String, Seq[String])] = Seq(
    "q_fast_table_scan" -> Seq("fast", "table", "scan"),
    "q_small_query_line" -> Seq("small", "query", "line"),
    "q_spark_join_window" -> Seq("spark", "join", "window"))

  /** Deterministic HTML page synthesized around each document (ONE
    * dialect-shared expression — `||`, `replace`, and the literals parse
    * identically in Spark and DuckDB): head chrome with a style block and
    * a script containing markup-hostile characters, sentence breaks
    * promoted to paragraph boundaries, an entity-bearing nav list. The
    * text_html_extract row runs [[graft.ops.TextAnalysis.htmlExtract]]
    * over it and must recover clean block text in both engines. */
  /** Per-cell quota for the mix_topic row: cuts real rows at sf0.01
    * (~25 vectors/cell) and deeply at sf0.1 (~250/cell). */
  val MixTopicQuota = 20

  val HtmlSynthExpr =
    """'<html><head><style>p{margin:0}</style>' ||
      |'<script>var x = 1 < 2 && "q";</script></head><body><h1>' || source ||
      |'</h1><p>' || replace(text, '. ', '.</p><p>') ||
      |'</p><ul><li>nav</li><li>links &amp; more</li></ul></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** Catalog name of the persisted DSIR bucket-weight model — same slug
    * discipline as the minhash/IVF artifacts: (application, corpus dir,
    * model parameters), so SFs never cross and parameter drift forces a
    * rebuild. */
  def dsirWeightsTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir +
      s"_b${graft.ops.Dsir.Buckets}_s${graft.ops.Dsir.Seed}_mod5_tgt03")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_dsir_w_$slug"
  }

  /** Idempotent build-if-missing of the persisted DSIR weights over the
    * corpus slice (doc_id % 5 =!= 0); returns the table name. */
  def ensureDsirWeights(s: SparkSession, dir: String): String = {
    val t = dsirWeightsTable(s, dir)
    if (!graft.ops.Dsir.weightsExist(s, t)) {
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.ops.Dsir.writeWeights(s, graft.ops.Dsir.bucketWeights(
        corpus, "doc_id", "text", col("source").isin(DsirTargetSources: _*)), t)
    }
    t
  }

  /** The multimodal fixture payloads shared by the media rows: genuine
    * PNG/JPEG/WAV headers (round-robin by doc_id, dims/rate derived from
    * doc_id) built by the public-spec builders, with the document's text
    * bytes as the stand-in encoded stream. The oracles replay the same
    * doc_id arithmetic plus each format's fixed header size. */
  def multimodalPayloads(s: SparkSession, dir: String): DataFrame =
    multimodalPayloadsOf(s, Tables.documents(s, dir))

  def multimodalPayloadsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { iter =>
        iter.map { case (id, text) =>
          val body = text.getBytes("UTF-8")
          val w = 32 + ((id * 7) % 2048).toInt
          val h = 32 + ((id * 13) % 2048).toInt
          val payload = (id % 3) match {
            case 0 => Multimodal.buildPng(w, h, body)
            case 1 => Multimodal.buildJpeg(w, h, body)
            case _ => Multimodal.buildWav(8000 + (id % 6).toInt * 8000, 1 + (id % 2).toInt, body)
          }
          (id, payload)
        }
      }.toDF("media_id", "payload")
  }

  /** The dedup_semantic pipeline body, shared by the recall spot-check
    * threshold (0.25) and the production posture (0.85): IVF cells →
    * within-cell cosine verify at `thresholdBp` → connected components →
    * keep the best-quality representative per cluster. */
  def semanticKeepBest(s: SparkSession, dir: String,
                               thresholdBp: Long, numClusters: Int = 8): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val pairs = Dedup.semanticNearDuplicates(emb, "vec_id", "embedding",
      numClusters = numClusters, iters = 2, thresholdBp = thresholdBp)
    semanticKeepBestFromPairs(s, dir, pairs)
  }

  /** The shared components → quality → keep-best downstream of every
    * semantic-dedup row (mirrors [[duckSemanticTail]]). */
  def semanticKeepBestFromPairs(s: SparkSession, dir: String,
                                        pairs: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val clustered = graft.ops.Components.clusterDocuments(
      emb, "vec_id", pairs, "id_a", "id_b")
    val scored = clustered.join(
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id").as("vec_id"), col("quality_score")), "vec_id")
    Dedup.keepBest(scored, "cluster_id", "vec_id", "quality_score")
      .select(col("cluster_id"), col("vec_id").as("rep_id"),
        col("cluster_size"), col("quality_score"))
      .orderBy(col("cluster_id"))
  }

  /** Catalog name of the maintained per-source aggregate table (the MV
    * row) — same slug discipline as every persisted artifact. */
  def mvStateTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_src_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_mv_state_$slug"
  }

  /** Idempotent build-if-missing of the maintained aggregate over the
    * corpus slice (doc_id % 5 =!= 0); returns the table name. */
  def ensureMvState(s: SparkSession, dir: String): String = {
    val t = mvStateTable(s, dir)
    if (!graft.ops.Mv.stateExists(s, t)) {
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.ops.Mv.writeState(s, graft.ops.Mv.aggState(corpus, "source", "n_chars"), t)
    }
    t
  }

  /** GenTable roots of the maintained link-graph state for `dir` —
    * (directed edges, out-degrees, undirected edges, degrees), scoped
    * like every other persisted-state slug so SFs never cross. */
  def graphStateRoots(s: SparkSession, dir: String): Seq[String] = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_src_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    Seq("e", "odeg", "und", "deg", "tri").map(w =>
      graft.io.GenTable.rootFor(s, s"graft_graph_${w}_$slug"))
  }

  /** Idempotent build-if-missing of the maintained link-graph state over
    * the base slice (links whose SOURCE doc is outside the %5 delta
    * slice): the canonical directed/undirected edge tables plus their
    * node-sized degree states — what a crawl pipeline keeps between
    * frontier batches so no batch ever re-pays the corpus-sized
    * distinct/degree shuffles. Returns the four GenTable roots. */
  def ensureGraphState(s: SparkSession, dir: String): Seq[String] = {
    val roots @ Seq(eR, odegR, undR, degR, triR) = graphStateRoots(s, dir)
    if (!roots.forall(graft.io.GenTable.exists(s, _))) {
      val base = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"),
          explode(array(expr("doc_id div 2"), expr("doc_id div 4"),
            expr("doc_id % 97"))).as("dst"))
      val e = graft.ops.Graph.canonicalDirected(base).localCheckpoint()
      graft.io.GenTable.replace(s, eR, e)
      graft.io.GenTable.replace(s, odegR, graft.ops.Graph.outDegreesOf(e))
      val und = graft.ops.Graph.canonicalUndirected(base).localCheckpoint()
      graft.io.GenTable.replace(s, undR, und)
      val deg = graft.ops.Graph.degreesOf(und).localCheckpoint()
      graft.io.GenTable.replace(s, degR, deg)
      graft.io.GenTable.replace(s, triR, graft.ops.Graph.triangleStateOf(und, deg))
    }
    roots
  }

  /** The incremental bitext delta rule: a FIXED-size-ish frontier batch —
    * every vec_id divisible by `max(50, n/1000)`, i.e. 2% of a small
    * corpus but capped near ~1000 vectors as the corpus grows. The cap is
    * the point: an arriving batch is a training-loop constant, not a
    * corpus fraction, so the touched-cell count (≤ |Δ|) stays bounded
    * while the cell count grows — the untouched share approaches 100%
    * and the per-batch mining work stays delta-proportional. */
  def bitextDeltaMod(n: Long): Long = math.max(50L, n / 1000L)

  /** Catalog name (model) + GenTable roots (assignments, per-cell pairs)
    * of the persisted bitext-mining state for `dir`. */
  def bitextStateNames(s: SparkSession, dir: String): (String, String, String) = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_bitext_modcap")
      .replaceAll("[^a-zA-Z0-9]", "_")
    (s"graft_bitext_m2_$slug",
      graft.io.GenTable.rootFor(s, s"graft_bitext_asn_$slug"),
      graft.io.GenTable.rootFor(s, s"graft_bitext_pairs_$slug"))
  }

  /** Idempotent build-if-missing of the persisted bitext-mining state
    * over the base corpus (ids outside the delta rule): the two-level
    * codebook (trained once per epoch — the Θ(n^1.5) assignment cost is
    * paid HERE, amortized across every subsequent batch), the base
    * corpus's composite-cell assignments, and its mined pairs tagged by
    * cell. Returns (model table, assignment root, pairs root). */
  def ensureBitextState(s: SparkSession, dir: String): (String, String, String) = {
    val (mT, asnR, pairsR) = bitextStateNames(s, dir)
    val built = s.catalog.tableExists(mT + "_super") &&
      graft.io.GenTable.exists(s, asnR) && graft.io.GenTable.exists(s, pairsR)
    if (!built) {
      val emb = Tables.embeddings(s, dir)
      val m = bitextDeltaMod(emb.count())
      val base = emb.filter(col("vec_id") % m =!= 0).localCheckpoint(false)
      val k2 = math.max(4, math.ceil(math.sqrt(base.count().toDouble / 100)).toInt)
      val m2 = graft.ops.Ivf.trainHierarchical(base, "vec_id", "embedding",
        k2 = k2, targetCell = 100)
      graft.ops.Ivf.writeModel2(s, m2, mT)
      val asn = graft.ops.Ivf.assignHierarchical(base, "vec_id", "embedding", m2)
        .localCheckpoint(false)
      graft.io.GenTable.replace(s, asnR, asn)
      graft.io.GenTable.replace(s, pairsR,
        graft.ops.Mining.bitextPairsWithCells(base, "vec_id", "embedding",
          col("vec_id") % 2 === 0, asn, k = 4, minMarginBp = 10000L))
    }
    (mT, asnR, pairsR)
  }

  /** Catalog name of the persisted IVF coarse-quantizer model for `dir` —
    * the ANN-side analogue of the minhash index slug: scoped by
    * (application, corpus dir, train parameters) so SFs never cross and
    * parameter drift forces a rebuild. */
  def ivfModelTable(s: SparkSession, dir: String): String = {
    val slug = (s.sparkContext.applicationId + "_" + dir + "_k8_i2_mod5")
      .replaceAll("[^a-zA-Z0-9]", "_")
    s"graft_ivf_model_$slug"
  }

  /** Idempotent train-if-missing of the persisted IVF model over the
    * corpus slice (vec_id % 5 =!= 0); returns the table name. */
  def ensureIvfModel(s: SparkSession, dir: String): String = {
    val t = ivfModelTable(s, dir)
    if (!s.catalog.tableExists(t)) {
      val corpus = Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0)
      val model = graft.ops.Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.Ivf.writeModel(s, model, t)
      // training-time drift reference (mean nearest-centroid distance),
      // persisted with the model: every increment's staleness check
      // compares against this
      graft.ops.Ivf.writeTrainRef(s, t,
        graft.ops.Ivf.driftStatQ(corpus, "vec_id", "embedding", model))
    }
    t
  }

  /** Day-partitioned events copy for `dir` — the layout a 100 TB event
    * store actually ships (hive `_day=N/` directories), built once per
    * (sf dir, source-file stamp) and reused across invocations. The stamp
    * keys the path to the source parquet's size+mtime so a regenerated
    * testdata file invalidates the copy instead of serving stale rows. */
  def ensureEventsPartitioned(s: SparkSession, dir: String): String = {
    val src = new java.io.File(dir, "events.parquet")
    // keyed by a hash of the FULL canonical dir (two checkouts can share a
    // basename) + source size/mtime, NOT by applicationId: the layout is
    // meant to outlive the JVM (Verify and Bench are separate processes
    // amortizing the same build). Single-writer is assumed — the driver
    // runs the surfaces sequentially.
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    // full-millisecond mtime in the stamp (a same-second regeneration with
    // an identical byte length must still invalidate), and the user name in
    // the path so shared-host tmpdirs don't collide on another user's
    // leftover (possibly unwritable) layout
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_-]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft_${user}_events_byday_" +
      s"${dirKey}_${src.length}_${src.lastModified}"
    if (!new java.io.File(path, "_SUCCESS").exists)
      graft.ops.Scale.writeTimePartitioned(
        Tables.events(s, dir).withColumn("ts_s", expr("ts_us div 1000000L")), path, "ts_s")
    path
  }


  val DuckDoiRaw = DoiRawSql
  /** DuckDB spelling of Norm.PythonWhitespace (chr() is codepoint-based there). */
  val DuckWs = Norm.duckWsSet
  /** DuckDB twin of Norm.normalizeDoi over an arbitrary column/expression. */
  def duckDoiNorm(c: String): String =
    s"nullif(lower(trim(replace(regexp_replace(trim($c, ' ' || $DuckWs), '(?i)^https?://(dx\\.)?doi\\.org/', ''), '​', ''), ' ' || $DuckWs)), '')"
  val DuckNormalizeDoi = duckDoiNorm("doi_raw")

  /** SimHash fingerprint CTE chain replaying Dedup.simhash bit-for-bit:
    * same md5-hex→(60-bit, 4-bit) token words, same ±1 per-bit fold, same
    * sign-bit assembly. `sim` is the full per-document relation (token-less
    * docs fingerprint 0, like the Spark side's left join). */
  val DuckSimhashSim: String = {
    val sums = (0 until 64).map { b =>
      val bit = if (b < 60) s"(m1 >> $b) & 1" else s"(m2 >> ${b - 60}) & 1"
      s"SUM(CASE WHEN ($bit) = 1 THEN 1 ELSE -1 END) AS a$b"
    }.mkString(", ")
    val fpSql = (0 until 63).map(b => s"(CASE WHEN a$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ") + " + (CASE WHEN a63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)"
    def bandSql(hi: Int): String =
      (0 until 16).map(j => s"(CASE WHEN a${hi + j} > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok FROM documents),
       |nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS m1,
       |             CAST('0x' || substring(md5(tok), 17, 14) AS BIGINT) AS m2 FROM nz),
       |acc AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpSql AS simhash,
       |         ${bandSql(48)} AS band0, ${bandSql(32)} AS band1,
       |         ${bandSql(16)} AS band2, ${bandSql(0)} AS band3 FROM acc),
       |sim AS (SELECT d.doc_id, CAST(coalesce(f.simhash, 0) AS BIGINT) AS simhash,
       |          CAST(coalesce(f.band0, 0) AS INT) AS band0, CAST(coalesce(f.band1, 0) AS INT) AS band1,
       |          CAST(coalesce(f.band2, 0) AS INT) AS band2, CAST(coalesce(f.band3, 0) AS INT) AS band3
       |        FROM documents d LEFT JOIN fp f ON d.doc_id = f.doc_id)""".stripMargin
  }

  /** Replay of the incremental dedup path: same signatures/bands as the
    * full minhash fragment, but candidates come ONLY from new(%5==0) ⋈
    * corpus(%5<>0) band equality; same exact-Jaccard confirm. Shared by
    * dedup_incremental (direct) and dedup_incremental_indexed (persisted
    * bucketed index) — the two plans must answer identically. */
  lazy val DuckIncrementalCtes: String =
    s"""$DuckMinhashPairs,
      |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
      |sets AS (SELECT doc_id, list(DISTINCT m1) AS s, COUNT(DISTINCT m1) AS nsh FROM hashed GROUP BY 1),
      |v AS (SELECT c.new_id, c.corpus_id,
      |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
      |        CAST(sa.nsh + sb.nsh - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS uni
      |      FROM cand c JOIN sets sa ON sa.doc_id = c.new_id JOIN sets sb ON sb.doc_id = c.corpus_id)""".stripMargin

  lazy val DuckIncrementalSql: String =
    s"""WITH $DuckIncrementalCtes
      |SELECT new_id, corpus_id, (10000 * inter) // uni AS jaccard_bp FROM v WHERE (10000 * inter) // uni >= 100
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(10000 AS BIGINT)
      |ORDER BY new_id, corpus_id""".stripMargin

  /** Mean nearest-centroid distance (k-means inertia) of quantized source
    * `src` (vec_id, vq) against centroid relation `cents` (cid, s, n),
    * per-vector floor(sqrt(min dsq)) in integer 2^-20 units, then an
    * integer mean (non-negative, so Spark's truncating `div` and DuckDB's
    * flooring `//` agree). Defines `<name>` with one column `q`. */
  def duckDriftCtes(name: String, src: String, cents: String): String =
    s"""${name}_s AS (SELECT v.vec_id,
       |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n - (v.vq[i])::DOUBLE) * (c.s[i] / c.n - (v.vq[i])::DOUBLE))) AS dsq
       |  FROM $src v CROSS JOIN $cents c),
       |${name}_m AS (SELECT vec_id, MIN(dsq) AS best FROM ${name}_s GROUP BY vec_id),
       |$name AS (SELECT CAST(SUM(CAST(floor(sqrt(best)) AS BIGINT)) // COUNT(*) AS BIGINT) AS q FROM ${name}_m)""".stripMargin

  /** ann_ivf_drift's replay: the original codebook trains on the corpus
    * slice (unprefixed CTEs — `e`, `c2`), the recovery codebook on the
    * mean-offset slice (`r`-prefixed — `re`, `rc2`); each drift scalar is
    * a mean nearest-centroid-distance aggregate. The 1250/1000 factor
    * mirrors [[graft.ops.Ivf.DefaultDriftTolerancePermille]] (25%). */
  def annIvfDriftSql: String = {
    val corpusSrc = "(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)"
    val shiftCorpusSrc =
      "(SELECT vec_id, list_transform(embedding, x -> x + CAST(0.5 AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 5 <> 0)"
    s"""WITH ${duckIvfTrainCtes(corpusSrc)},
       |${duckIvfTrainCtes(shiftCorpusSrc, "r")},
       |iq AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |siq AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x + CAST(0.5 AS FLOAT) AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |${duckDriftCtes("tref", "e", "c2")},
       |${duckDriftCtes("binl", "iq", "c2")},
       |${duckDriftCtes("bsh", "siq", "c2")},
       |${duckDriftCtes("rref", "re", "rc2")},
       |${duckDriftCtes("rsh", "siq", "rc2")}
       |SELECT phase, mean_dist_q, ref_dist_q,
       |  CAST(CASE WHEN mean_dist_q * 1000 > ref_dist_q * 1250 THEN 1 ELSE 0 END AS BIGINT) AS stale
       |FROM (
       |  SELECT 'batch_inline' AS phase, (SELECT q FROM binl) AS mean_dist_q, (SELECT q FROM tref) AS ref_dist_q
       |  UNION ALL SELECT 'batch_shifted', (SELECT q FROM bsh), (SELECT q FROM tref)
       |  UNION ALL SELECT 'retrained_shifted', (SELECT q FROM rsh), (SELECT q FROM rref)
       |  UNION ALL SELECT 'train_ref', (SELECT q FROM tref), (SELECT q FROM tref)
       |) ORDER BY phase""".stripMargin
  }
}
