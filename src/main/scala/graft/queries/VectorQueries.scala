package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.Similarity
import graft.pipelines.Pipelines
import graft.vector.VectorOps
import QuerySupport._

/** Vector ops (V1-V3, K7): exact kNN, the ANN indexes (LSH, IVF, PQ,
  * IVF-PQ), quantized and projected embeddings, bitext and hard-negative
  * mining.
  * One [[QueryDef]] per query: body, DuckDB oracle, optional bench
  * prep and sf0.1 bench anchor. */
private[graft] object VectorQueries {
  // defs that other defs compose (oracles, tier bodies) are named
  private[queries] val knnCosine = QueryDef("knn_cosine", anchorS = Some(0.31), build = (s, dir) => {
    // the declared EXACT tier: brute-force over the corpus with the
    // (small) query side broadcast — deliberately O(corpus × queries),
    // kept as the 100%-recall baseline the ANN paths (ann_lsh/ann_ivf/
    // ann_pq/ann_ivfpq) are checked against; production top-k at scale
    // goes through those bucketed paths
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    VectorOps.knnCosine(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }, oracle = () => duckKnnSql())

  private[queries] val annLsh = QueryDef("ann_lsh", anchorS = Some(0.90), build = (s, dir) =>
    Similarity.annCosineLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank")),
  oracle = () =>
    // full replay of the ±1 sign-projection LSH: same md5-derived plane
    // signs, same left-to-right projection fold, same bucket join, same
    // exact-cosine re-rank (the established bit-exact float pattern)
    s"""WITH planes AS (
       |  SELECT t, b, list_transform(range(0, 64), i ->
       |    CASE WHEN CAST('0x' || substring(md5('42|' || t || '|' || b || '|' || i), 1, 1) AS INT) >= 8
       |         THEN 1.0 ELSE -1.0 END) AS w
       |  FROM (SELECT unnest(range(0, 4)) AS t), (SELECT unnest(range(0, 12)) AS b)),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_sum(list_transform(range(0, 64), i -> p.w[i + 1] * (e.embedding[i + 1])::DOUBLE)) AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1, 2),
       |q AS (SELECT vec_id AS query_id, t, bucket FROM sig WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
       |         FROM sig s JOIN q ON s.t = q.t AND s.bucket = q.bucket WHERE s.vec_id <> q.query_id),
       |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |resc AS (SELECT c.query_id, c.neighbor_id, ${duckCosine("e.embedding", "qv.qvec")} AS sim
       |         FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id JOIN qv ON qv.query_id = c.query_id),
       |ranked AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM resc)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin)

  private[queries] val annIvf = QueryDef("ann_ivf", anchorS = Some(1.28), build = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    graft.ops.Ivf.search(emb, "vec_id", "embedding", model,
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }, oracle = () => duckIvfSearchSql())

  private[queries] val annIvfpq = QueryDef("ann_ivfpq", anchorS = Some(1.74), build = (s, dir) => {
    // the composed billion-scale index: IVF coarse quantizer prunes to
    // 3 probed clusters per query, PQ codes ADC-score only those
    // members — one corpus pass computes cluster + codes together
    val emb = Tables.embeddings(s, dir)
    val coarse = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 4, k = 8, iters = 1)
    graft.ops.Pq.searchAdcIvf(emb, "vec_id", "embedding", pq, coarse,
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }, oracle = () =>
    // the composed index: coarse IVF replay prunes candidates (asn3 ⋈
    // probes from the shared fragment), PQ replay supplies codes and
    // books, ADC scores ONLY the probed members — the billion-scale
    // search path, verified end-to-end
    s"""WITH $DuckIvfTrainCtes,
       |dims16 AS (SELECT unnest(range(1, 17)) AS i),
       |${(0 until 4).map(pqSubCtes).mkString(",\n")},
       |$DuckPqCodes,
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |         FROM asn3 a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |adc AS (SELECT cd.query_id, cd.neighbor_id, $DuckAdcScore AS score
       |  FROM cand cd
       |  JOIN q ON q.query_id = cd.query_id
       |  JOIN codes c ON c.vec_id = cd.neighbor_id
       |  JOIN pqcb0 b0 ON b0.cid = c.c0 JOIN pqcb1 b1 ON b1.cid = c.c1
       |  JOIN pqcb2 b2 ON b2.cid = c.c2 JOIN pqcb3 b3 ON b3.cid = c.c3),
       |ranked AS (SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin)

  val defs: Seq[QueryDef] = Seq(
    knnCosine,
    QueryDef("ann_sq8", anchorS = Some(0.54), build = (s, dir) => {
      // search over the COMPRESSED store: top-10 cosine runs entirely on
      // SQ8-dequantized vectors (the 4× storage tier the int8 row pins),
      // with an in_exact flag against the float brute-force truth — so
      // compression-induced neighbor churn is a hash change, the same
      // contract ann_recall gives the ANN tiers
      val emb = Tables.embeddings(s, dir)
      val deq = graft.ops.Quantize.int8Codes(emb, "vec_id", "embedding")
        .select(col("vec_id"),
          graft.ops.Quantize.dequantCol(col("codes"), col("amax_q")).as("dvec"))
      val q = deq.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
      val sq8 = VectorOps.knnCosine(deq, "vec_id", "dvec", q, "qid", "qvec", k = 10)
      val exact = VectorOps.knnCosine(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_exact"))
      sq8.join(exact, Seq("query_id", "neighbor_id"), "left")
        .withColumn("in_exact", coalesce(col("in_exact"), lit(0L)))
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("in_exact"))
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // shared SQ8 replay → dequantized store (code·amax/(127·2^20), the
      // dequantCol formula) → cosine top-10 → exact-truth flag via the
      // knn oracle as a subquery
      s"""WITH $DuckSq8CodesCtes,
        |deq AS (SELECT vec_id,
        |    list_transform(codes, v -> ((v::DOUBLE) * (amax_q::DOUBLE)) / (127.0 * 1048576.0)) AS dv
        |  FROM c),
        |qd AS (SELECT vec_id AS qid, dv AS qvec FROM deq WHERE vec_id < 5),
        |simsq AS (SELECT qd.qid, e.vec_id, ${duckCosine("e.dv", "qd.qvec")} AS sim
        |          FROM deq e CROSS JOIN qd WHERE e.vec_id <> qd.qid),
        |rsq AS (SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank FROM simsq),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |${duckKnnSql()}
        |))
        |SELECT r.qid AS query_id, r.vec_id AS neighbor_id, r.rank,
        |  CAST(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact
        |FROM rsq r LEFT JOIN ex ON ex.query_id = r.qid AND ex.neighbor_id = r.vec_id
        |WHERE r.rank <= 10 ORDER BY query_id, rank""".stripMargin),
    QueryDef("search_mmr", anchorS = Some(0.4), build = (s, dir) => {
      // diversity-aware retrieval (Maximal Marginal Relevance): top-20
      // brute-force candidates per query, then the greedy λ=0.5 tradeoff
      // picks 5 that are relevant AND mutually non-redundant. The greedy
      // fold is per-query-sequential (the packing pattern); the oracle
      // unrolls the same five picks as SQL steps.
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Mmr.rerank(emb, "vec_id", "embedding", q, "qid", "qvec",
        candK = 20, selectK = 5, lambdaBp = 5000)
        .orderBy(col("query_id"), col("mmr_rank"))
    }, oracle = () => duckMmrSql(candK = 20, selectK = 5, lambdaBp = 5000)),
    QueryDef("vector_upsert", anchorS = Some(0.34), build = (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val updates = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("label", col("label") + 100)
      VectorOps.upsert(emb, updates, "vec_id").orderBy(col("vec_id"))
    }, oracle = () =>
      """SELECT vec_id, CASE WHEN vec_id % 10 = 0 THEN label + 100 ELSE label END AS label
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    annLsh,
    annIvf,
    // anchor: min 3.15 beside a 1.5x sentinel (0.52 vs 0.35), shaded
    QueryDef("ann_nprobe_curve", anchorS = Some(2.4), build = (s, dir) => {
      // the IVF tuning curve — recall@10 vs nprobe ∈ {1,2,4} against the
      // pinned brute-force truth: the operating table an index's probe
      // budget is chosen from (classify_nb_pr's analogue for the ANN
      // family); one codebook, one truth pass, three probe tiers
      val emb = Tables.embeddings(s, dir)
      val truth = knnCosine.build(s, dir)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val nTruth = truth.count()
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      Seq(1, 2, 4).map { np =>
        graft.ops.Ivf.search(emb, "vec_id", "embedding", model,
            queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"))
          .groupBy().agg(count(lit(1)).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("hits"),
            expr(s"CAST((10000 * hits) DIV $nTruth AS BIGINT)").as("recall_bp"))
      }.reduce(_ unionByName _).orderBy(col("nprobe"))
    }, oracle = () => {
      // one training replay, one probe ranking, three rn<=np tiers
      // against the knn-truth subquery
      val tiers = Seq(1, 2, 4).map { np =>
        s"""mem_$np AS (SELECT p.query_id, a.vec_id AS neighbor_id
          |  FROM asn3 a JOIN allprobes p ON a.cid = p.cid
          |  WHERE p.rn <= $np AND a.vec_id <> p.query_id),
          |resc_$np AS (SELECT m.query_id, m.neighbor_id, ${duckCosine("emb.embedding", "qv.qvec")} AS sim
          |  FROM mem_$np m JOIN embeddings emb ON emb.vec_id = m.neighbor_id
          |  JOIN qv ON qv.query_id = m.query_id),
          |top_$np AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          |    FROM resc_$np) WHERE rank <= 10),
          |row_$np AS (SELECT CAST($np AS BIGINT) AS nprobe, CAST(COUNT(*) AS BIGINT) AS hits
          |  FROM top_$np JOIN truth USING (query_id, neighbor_id))""".stripMargin
      }
      val unions = Seq(1, 2, 4).map(np =>
        s"SELECT nprobe, hits, CAST((10000 * hits) // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_bp FROM row_$np")
      s"""WITH ${duckIvfTrainCtes()},
        |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |allprobes AS (SELECT vec_id AS query_id, cid, rn FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM sim3 WHERE vec_id < 5)),
        |truth AS (SELECT query_id, neighbor_id FROM (\n${duckKnnSql()}\n) tq),
        |${tiers.mkString(",\n")}
        |${unions.mkString("\nUNION ALL\n")}
        |ORDER BY nprobe""".stripMargin
    }),
    QueryDef("mix_topic", anchorS = Some(1.3), build = (s, dir) => {
      // topic-balanced mixing (the diversity-sampling step of the D4/DCLM
      // recipe family): IVF cells are the topics, each capped at a
      // deterministic-hash-order quota — the semantic analogue of
      // quota_per_source, complementing prune_prototypes (which drops the
      // most-prototypical WITHIN cells; this balances ACROSS cells). Same
      // 8-cell 2-round codebook as ann_ivf, so the oracle replays train
      // verbatim and applies the quota window rule to asn3.
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val byPick = Window.partitionBy(col("cluster"))
        .orderBy(graft.ops.Sampling.hashBucketBp(col("vec_id")), col("vec_id"))
      graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
        .withColumn("pick_rank", row_number().over(byPick).cast("long"))
        .withColumn("n_cell",
          count(lit(1)).over(Window.partitionBy(col("cluster"))).cast("long"))
        .withColumn("kept", (col("pick_rank") <= MixTopicQuota).cast("long"))
        .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
          col("n_cell"), col("pick_rank"), col("kept"))
        .orderBy(col("cluster"), col("pick_rank"))
    }, oracle = () =>
      // training replay verbatim; the quota window rule (hash-bp order,
      // the quota_per_source idiom) over the final assignment round
      s"""WITH ${duckIvfTrainCtes()},
        |tr AS (SELECT vec_id, cid,
        |    CAST(row_number() OVER (PARTITION BY cid
        |      ORDER BY CAST('0x' || substring(md5(coalesce(CAST(vec_id AS VARCHAR), '')), 1, 15) AS BIGINT) % 10000, vec_id) AS BIGINT) AS pick_rank,
        |    CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS n_cell
        |  FROM asn3)
        |SELECT CAST(cid AS INT) AS cluster, vec_id, n_cell, pick_rank,
        |  CAST(pick_rank <= $MixTopicQuota AS BIGINT) AS kept
        |FROM tr ORDER BY cluster, pick_rank""".stripMargin),
    // anchor: pinned at a 1.37x sentinel, shaded from raw mins 3.68 / 1.07
    QueryDef("mine_bitext", anchorS = Some(2.37), build = (s, dir) => {
      // margin-based bitext mining (Artetxe & Schwenk 2019, the LASER /
      // CCMatrix parallel-corpus recipe): vec_id parity splits the space
      // into two "languages"; pairs are scored by the ratio margin
      // (cosine over the mean of both endpoints' k-NN cosines — the
      // hubness correction) and kept when mutually margin-best at >= 1.0.
      // Exact tier: quantize-once integer arithmetic end to end;
      // sentinel guards tiny-SF emptiness
      val emb = Tables.embeddings(s, dir)
      graft.ops.Mining.bitextMine(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0, k = 4, minMarginBp = 10000L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("margin_bp")))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = () =>
      // integer replay of the margin pipeline: quantize-once q, then the
      // shared top-k / sums / margin / mutual-best tail + sentinel
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings WHERE vec_id % 2 = 1),
        |p AS (SELECT id_a, id_b,
        |        CAST(floor(${duckCosine("va", "vb")} * 1048576.0) AS BIGINT) AS q
        |      FROM a CROSS JOIN b),
        |pp AS (SELECT * FROM p WHERE q > 0),
        |${duckBitextTail()}""".stripMargin),
    // anchor: pinned at a 1.5x sentinel, shaded from raw min 3.26
    QueryDef("mine_bitext_cell", anchorS = Some(2.6), build = (s, dir) => {
      // the blocked 100 TB posture of mine_bitext: both sides assigned to
      // the shared 8-cell IVF codebook (ann_ivf's train), pairs form
      // within cells only — the A x B pass becomes a bounded-key
      // equi-join; margins/mutual tail identical. The oracle pair
      // measures the blocking recall trade against the exact tier
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.Mining.bitextMineInCell(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0, model, k = 4, minMarginBp = 10000L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("margin_bp")))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = () =>
      // same margin tail over within-cell candidates: the shared IVF
      // assignment (asn3 = ann_ivf's 2-round codebook) blocks both sides
      s"""WITH ${duckIvfTrainCtes()},
        |a AS (SELECT e2.vec_id AS id_a, e2.embedding AS va, s2.cid
        |      FROM embeddings e2 JOIN asn3 s2 ON s2.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 0),
        |b AS (SELECT e2.vec_id AS id_b, e2.embedding AS vb, s2.cid
        |      FROM embeddings e2 JOIN asn3 s2 ON s2.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 1),
        |p AS (SELECT id_a, id_b,
        |        CAST(floor(${duckCosine("va", "vb")} * 1048576.0) AS BIGINT) AS q
        |      FROM a JOIN b ON a.cid = b.cid),
        |pp AS (SELECT * FROM p WHERE q > 0),
        |${duckBitextTail()}""".stripMargin),
    // anchor: pinned from the audit window's sf0.1 mins (3.09 / 4.17) with the
    // 1.7-2.0x BenchOne window as the cross-check (4.27 / 4.24)
    QueryDef("mine_bitext_auto", anchorS = Some(3.1), build = (s, dir) => {
      // the production posture the r13 sf3 audit forced: at FIXED 8
      // cells the within-cell bitext pair volume is quadratic (measured
      // 1.55/decade at the sf3 asymptote); Ivf.autoK bounds the expected
      // cell at ~100 vectors, making pair volume ~n*25 — linear with a
      // chosen constant, the dedup_semantic_auto lesson applied here
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding",
        k = graft.ops.Ivf.autoK(emb.count()), iters = 2)
      graft.ops.Mining.bitextMineInCell(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0, model, k = 4, minMarginBp = 10000L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("margin_bp")))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = () =>
      // the corpus-sized-codebook replay: seeds = max(8, ceil(n/100)),
      // the dedup_semantic_auto dynamic-k arithmetic under the hash gate
      s"""WITH ${duckIvfTrainCtes(limitSql = "(SELECT CAST(greatest(8, CAST(ceil(COUNT(*) / 100.0) AS BIGINT)) AS BIGINT) FROM embeddings)")},
        |a AS (SELECT e2.vec_id AS id_a, e2.embedding AS va, s2.cid
        |      FROM embeddings e2 JOIN asn3 s2 ON s2.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 0),
        |b AS (SELECT e2.vec_id AS id_b, e2.embedding AS vb, s2.cid
        |      FROM embeddings e2 JOIN asn3 s2 ON s2.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 1),
        |p AS (SELECT id_a, id_b,
        |        CAST(floor(${duckCosine("va", "vb")} * 1048576.0) AS BIGINT) AS q
        |      FROM a JOIN b ON a.cid = b.cid),
        |pp AS (SELECT * FROM p WHERE q > 0),
        |${duckBitextTail()}""".stripMargin),
    QueryDef("mine_bitext_scale", anchorS = Some(3.6), build = (s, dir) => {
      // the full ladder's top tier AND the production default entry point
      // (Mining.bitextMineAuto — this row oracle-pins the default path):
      // flat autoK still pays the n*k assignment term (mine_bitext_auto
      // measured 1.25/decade at sf3 on exactly that term); the two-level
      // codebook bounds assignment at n*sqrt(k) and keeps child cells
      // ~100 vectors - the dedup_semantic_scale posture applied to mining
      val emb = Tables.embeddings(s, dir)
      graft.ops.Mining.bitextMineAuto(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0, k = 4, minMarginBp = 10000L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("margin_bp")))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = () =>
      // two-level replay: the shared hierarchical chain supplies the
      // composite cells; the bitext margin tail is unchanged
      s"""WITH ${duckHierCellCtes(
             "(SELECT CAST(greatest(4, CAST(ceil(sqrt(COUNT(*) / 100.0)) AS BIGINT)) AS BIGINT) FROM embeddings)")},
        |a AS (SELECT e2.vec_id AS id_a, e2.embedding AS va, h.cluster
        |      FROM embeddings e2 JOIN hcell h ON h.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 0),
        |b AS (SELECT e2.vec_id AS id_b, e2.embedding AS vb, h.cluster
        |      FROM embeddings e2 JOIN hcell h ON h.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 1),
        |p AS (SELECT id_a, id_b,
        |        CAST(floor(${duckCosine("va", "vb")} * 1048576.0) AS BIGINT) AS q
        |      FROM a JOIN b ON a.cluster = b.cluster),
        |pp AS (SELECT * FROM p WHERE q > 0),
        |${duckBitextTail()}""".stripMargin),
    // prep: the per-batch mining probe amortizes the epoch codebook + base pairs
    // anchor: r17 pins from the first full-run window after the per-rep reclaim
    // protocol landed (drift 0.86 whole / 0.72 median, zero exceedances;
    // see BASELINE.md "Round-17"): the new incremental/posture rows
    // measured 2.04 (scoped 2.32)
    QueryDef("mine_bitext_incremental", anchorS = Some(2.1), prep = Some(ensureBitextState(_, _)), build = (s, dir) => {
      // the ladder's PRODUCTION posture (VERDICT r16 task 1 shape (b)):
      // mine_bitext_scale re-pays the hierarchical codebook's Θ(n^1.5)
      // train+assign every epoch; here the codebook, the corpus cell
      // assignments and the per-cell mined pairs persist (benchPrepare
      // amortizes the build), and the arriving batch (the capped
      // frontier slice) pays a map-only assign, an in-cell re-mine of
      // ONLY its touched cells, and the pair-table anti-join scan — the
      // margin tail decomposes exactly per cell, so the result must
      // hash-equal a from-scratch blocked run under the same codebook,
      // which the oracle replays (split train/assign chain).
      val (mT, asnR, pairsR) = ensureBitextState(s, dir)
      val emb = Tables.embeddings(s, dir)
      val m = bitextDeltaMod(emb.count())
      graft.ops.Mining.bitextMineIncremental(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0,
        graft.ops.Ivf.readModel2(s, mT),
        graft.io.GenTable.read(s, asnR).get,
        graft.io.GenTable.read(s, pairsR).get,
        emb.filter(col("vec_id") % m === 0), k = 4, minMarginBp = 10000L)
        .unionByName(s.range(1).select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
          lit(0L).as("margin_bp")))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = () =>
      // the incremental posture's oracle is a FROM-SCRATCH blocked run
      // under the persisted codebook: train the two-level chain on the
      // BASE slice only (the epoch corpus), assign ALL vectors against
      // the final centroids (the split chain — what readModel2 +
      // assignHierarchical compute), mine within the composite cells.
      // Equality pins the whole maintenance algebra: the per-cell
      // decomposition of the margin tail, the untouched-pairs reuse, the
      // touched-cell re-mine, and the model round-trip.
      s"""WITH ${duckHierCellCtes(
             k2Sql = "(SELECT CAST(greatest(4, CAST(ceil(sqrt(COUNT(*) / 100.0)) AS BIGINT)) AS BIGINT) FROM embeddings WHERE vec_id % (SELECT greatest(50, COUNT(*) // 1000) FROM embeddings) <> 0)",
             trainSrc = "(SELECT * FROM embeddings WHERE vec_id % (SELECT greatest(50, COUNT(*) // 1000) FROM embeddings) <> 0)",
             assignSrc = "embeddings")},
        |a AS (SELECT e2.vec_id AS id_a, e2.embedding AS va, h.cluster
        |      FROM embeddings e2 JOIN hcell h ON h.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 0),
        |b AS (SELECT e2.vec_id AS id_b, e2.embedding AS vb, h.cluster
        |      FROM embeddings e2 JOIN hcell h ON h.vec_id = e2.vec_id
        |      WHERE e2.vec_id % 2 = 1),
        |p AS (SELECT id_a, id_b,
        |        CAST(floor(${duckCosine("va", "vb")} * 1048576.0) AS BIGINT) AS q
        |      FROM a JOIN b ON a.cluster = b.cluster),
        |pp AS (SELECT * FROM p WHERE q > 0),
        |${duckBitextTail()}""".stripMargin),
    QueryDef("ann_matryoshka", anchorS = Some(0.9), build = (s, dir) => {
      // Matryoshka (MRL) funnel quality gate: recall@10 of the 16-of-64
      // prefix-dimension space, raw and with the full-dimension rescore
      // of a 30-candidate shortlist, against the exact baseline — the
      // ann_recall pattern for the narrow-scan-then-rerank design
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = graft.vector.VectorOps.knnCosine(emb, "vec_id", "embedding",
        q, "qid", "qvec", 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val nTruth = truth.count()
      def recallRow(label: String, df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(label).as("tier"),
            expr(s"CAST((10000 * hits) DIV $nTruth AS BIGINT)").as("recall_bp"))
      recallRow("prefix16",
        graft.vector.VectorOps.knnCosinePrefix(emb, "vec_id", "embedding",
          q, "qid", "qvec", k = 10, dims = 16))
        .unionByName(recallRow("prefix16_rerank30",
          graft.vector.VectorOps.knnCosineRerank(emb, "vec_id", "embedding",
            q, "qid", "qvec", k = 10, dims = 16, shortlist = 30)))
        .orderBy(col("tier"))
    }, oracle = () =>
      // prefix-dim truth, 30-candidate shortlist, full-dim rescore,
      // recall in integer bp against the exact baseline
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |tr AS (SELECT qid, vec_id FROM (
        |    SELECT q.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY ${duckCosine("e.embedding", "q.qvec")} DESC, e.vec_id) AS rnk
        |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rnk <= 10),
        |nt AS (SELECT COUNT(*) AS n FROM tr),
        |pf AS (SELECT qid, vec_id, rnk FROM (
        |    SELECT q.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY ${duckCosine("e.embedding[1:16]", "q.qvec[1:16]")} DESC, e.vec_id) AS rnk
        |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rnk <= 30),
        |rr AS (SELECT qid, vec_id FROM (
        |    SELECT pf.qid, pf.vec_id,
        |      row_number() OVER (PARTITION BY pf.qid
        |        ORDER BY ${duckCosine("e.embedding", "q.qvec")} DESC, pf.vec_id) AS rnk2
        |    FROM pf JOIN embeddings e ON e.vec_id = pf.vec_id
        |    JOIN q ON q.qid = pf.qid) WHERE rnk2 <= 10)
        |SELECT 'prefix16' AS tier,
        |  CAST((10000 * (SELECT COUNT(*) FROM pf JOIN tr USING (qid, vec_id) WHERE pf.rnk <= 10))
        |       // (SELECT n FROM nt) AS BIGINT) AS recall_bp
        |UNION ALL
        |SELECT 'prefix16_rerank30',
        |  CAST((10000 * (SELECT COUNT(*) FROM rr JOIN tr USING (qid, vec_id)))
        |       // (SELECT n FROM nt) AS BIGINT)
        |ORDER BY tier""".stripMargin),
    QueryDef("mine_hard_negatives", anchorS = Some(2.2), build = (s, dir) => {
      // ANCE-style hard-negative mining for contrastive training pairs: a
      // bounded query batch (20 fixed ids — mining is per training batch,
      // so |Q| is a loop constant, not a corpus fraction) probes the same
      // 8-cell IVF codebook as ann_ivf; hard negative = different-labeled
      // probed neighbor with cosine in [0, 0.98) bp — confusable but
      // below the near-duplicate/label-error band
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.Mining.hardNegatives(emb, "vec_id", "embedding", "label", model,
        queryIds = (0L until 500L by 25L), k = 5, dupBp = 9800L, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // training replay verbatim; probes for the 20-id query batch from
      // the final-round sims (the probes-CTE shape with the batch's
      // predicate), candidates = probed-cell members, exact-cosine bp
      // rescore, label-mismatch + [0, 9800) band, integer-bp ranking
      s"""WITH ${duckIvfTrainCtes()},
        |mprobes AS (SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM sim3 WHERE vec_id % 25 = 0 AND vec_id < 500) WHERE rn <= 3),
        |mcand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |          FROM asn3 a JOIN mprobes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
        |mres AS (SELECT c.query_id, c.neighbor_id,
        |    CAST(floor(${duckCosine("en.embedding", "eq.embedding")} * 10000) AS BIGINT) AS sim_bp,
        |    en.label AS neg_label, eq.label AS qlabel
        |  FROM mcand c JOIN embeddings en ON en.vec_id = c.neighbor_id
        |               JOIN embeddings eq ON eq.vec_id = c.query_id),
        |mrank AS (SELECT query_id, neighbor_id AS neg_id, neg_label, sim_bp,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS INT) AS rank
        |  FROM mres WHERE neg_label <> qlabel AND sim_bp >= 0 AND sim_bp < 9800)
        |SELECT query_id, neg_id, neg_label, rank, sim_bp
        |FROM mrank WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // anchor: min 1.81 beside a 1.6x sentinel (0.57 vs 0.35), shaded
    QueryDef("mine_triplets", anchorS = Some(1.4), build = (s, dir) => {
      // hard negatives completed into (anchor, positive, negative)
      // training rows from the SAME probed candidate set: positive =
      // nearest same-labeled sub-dup neighbor, negatives = top-3
      // different-labeled in [0, 9800) bp, margin audited per row
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.Mining.triplets(emb, "vec_id", "embedding", "label", model,
        queryIds = (0L until 500L by 25L), k = 3, dupBp = 9800L, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // the mine_hard_negatives probe/candidate/rescore chain, then a
      // same-label top-1 positive leg and a diff-label top-3 negative
      // leg joined per query with the margin
      s"""WITH ${duckIvfTrainCtes()},
        |mprobes AS (SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM sim3 WHERE vec_id % 25 = 0 AND vec_id < 500) WHERE rn <= 3),
        |mcand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |          FROM asn3 a JOIN mprobes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
        |mres AS (SELECT c.query_id, c.neighbor_id,
        |    CAST(floor(${duckCosine("en.embedding", "eq.embedding")} * 10000) AS BIGINT) AS sim_bp,
        |    en.label AS n_label, eq.label AS qlabel
        |  FROM mcand c JOIN embeddings en ON en.vec_id = c.neighbor_id
        |               JOIN embeddings eq ON eq.vec_id = c.query_id
        |  WHERE CAST(floor(${duckCosine("en.embedding", "eq.embedding")} * 10000) AS BIGINT) < 9800),
        |mpos AS (SELECT query_id, neighbor_id AS pos_id, sim_bp AS pos_sim_bp FROM (
        |    SELECT query_id, neighbor_id, sim_bp,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS prn
        |    FROM mres WHERE n_label = qlabel) WHERE prn = 1),
        |mneg AS (SELECT query_id, neighbor_id AS neg_id, n_label AS neg_label, sim_bp AS neg_sim_bp,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS INT) AS rank
        |  FROM mres WHERE n_label <> qlabel AND sim_bp >= 0)
        |SELECT p.query_id, pos_id, pos_sim_bp, neg_id, neg_label, rank, neg_sim_bp,
        |  pos_sim_bp - neg_sim_bp AS margin_bp
        |FROM mpos p JOIN mneg n USING (query_id) WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin),
    // anchor: min 1.39 beside a 1.37x sentinel (0.48 vs 0.35), shaded
    QueryDef("embed_ood", anchorS = Some(1.2), build = (s, dir) =>
      // per-cell OOD audit — prune_prototypes' complement: count the far
      // tail (winning-centroid cosine < 0.15 — the corpus's own p10 under
      // the hash embedder) per cell; a climbing OOD
      // share is ann_ivf_drift's retrain signal localized to the cell
      graft.ops.Prune.oodCard(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 2, oodBp = 1500L)
        .orderBy(col("cluster")),
    oracle = () =>
      // same training replay + winning-sim join, then the cell OOD
      // collapse in the 10^-4 quantized domain
      s"""WITH ${duckIvfTrainCtes()},
        |simw AS (SELECT s.vec_id, s.cid,
        |    CAST(floor((CASE WHEN sqrt(s.na) * sqrt(s.nb) = 0 THEN 0 ELSE s.dt / (sqrt(s.na) * sqrt(s.nb)) END) * 10000) AS BIGINT) AS sim_bp
        |  FROM sim3 s JOIN asn3 a ON s.vec_id = a.vec_id AND s.cid = a.cid)
        |SELECT CAST(cid AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_cell,
        |  CAST(SUM(CASE WHEN sim_bp < 1500 THEN 1 ELSE 0 END) AS BIGINT) AS n_ood,
        |  CAST(MIN(sim_bp) AS BIGINT) AS min_sim_bp,
        |  CAST((10000 * SUM(CASE WHEN sim_bp < 1500 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS ood_bp
        |FROM simw GROUP BY cid ORDER BY cluster""".stripMargin),
    QueryDef("prune_prototypes", anchorS = Some(1.2), build = (s, dir) => {
      // SSL-prototypes / D4 semantic pruning: rank every vector by
      // closeness to its IVF centroid and drop the most prototypical 25%
      // per cell. Same 8-cell 2-round codebook as ann_ivf, so the oracle
      // replays training verbatim and only integer columns cross engines.
      val emb = Tables.embeddings(s, dir)
      graft.ops.Prune.prototypes(emb, "vec_id", "embedding",
        k = 8, iters = 2, dropBp = 2500)
        .orderBy(col("cluster"), col("proto_rank"))
    }, oracle = () =>
      // training replay verbatim (duckIvfTrainCtes); the winning sim per
      // vector re-joined from the final assignment round, then the same
      // per-cell rank and ceil drop quota
      s"""WITH ${duckIvfTrainCtes()},
        |simw AS (SELECT s.vec_id, s.cid,
        |    (CASE WHEN sqrt(s.na) * sqrt(s.nb) = 0 THEN 0 ELSE s.dt / (sqrt(s.na) * sqrt(s.nb)) END) AS sim
        |  FROM sim3 s JOIN asn3 a ON s.vec_id = a.vec_id AND s.cid = a.cid),
        |r AS (SELECT vec_id, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY cid ORDER BY sim DESC, vec_id) AS BIGINT) AS proto_rank,
        |    CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS n_cell
        |  FROM simw)
        |SELECT CAST(cid AS INT) AS cluster, vec_id, n_cell, proto_rank,
        |  CAST(proto_rank <= (n_cell * 2500 + 9999) // 10000 AS BIGINT) AS dropped
        |FROM r ORDER BY cluster, proto_rank""".stripMargin),
    QueryDef("ann_pq", anchorS = Some(0.76), build = (s, dir) => {
      // product-quantization ANN: 4×16-dim subspace codebooks (integer
      // k-means, 1 Lloyd round), one-pass encoding to 4 code ids, ADC
      // top-10 from per-query lookup tables
      val emb = Tables.embeddings(s, dir)
      val model = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 4, k = 8, iters = 1)
      graft.ops.Pq.searchAdc(emb, "vec_id", "embedding", model,
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // full replay of 4-subspace product quantization: per-subspace
      // integer k-means (seed + one Lloyd round, exact (sum, n) state),
      // encoding = quantized-cosine assignment under the trained books,
      // ADC score = Σ_s fixed-order subspace dot products (ascending dims,
      // then ascending subspace) — bit-exact in both engines
      s"""WITH e AS (SELECT vec_id, embedding,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
         |  FROM embeddings),
         |dims16 AS (SELECT unnest(range(1, 17)) AS i),
         |${(0 until 4).map(pqSubCtes).mkString(",\n")},
         |$DuckPqCodes,
         |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         |adc AS (SELECT q.query_id, c.vec_id AS neighbor_id, $DuckAdcScore AS score
         |  FROM q CROSS JOIN codes c
         |  JOIN pqcb0 b0 ON b0.cid = c.c0 JOIN pqcb1 b1 ON b1.cid = c.c1
         |  JOIN pqcb2 b2 ON b2.cid = c.c2 JOIN pqcb3 b3 ON b3.cid = c.c3
         |  WHERE c.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM adc)
         |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    annIvfpq,
    QueryDef("ann_recall", anchorS = Some(4.3), build = (s, dir) => {
      // index-quality regression gate: recall@10 of each ANN tier against
      // the exact brute-force baseline, as a relational (tier, recall_bp)
      // row oracled in DuckDB — a bucketing/centroid/pruning regression
      // now surfaces as an oracle hash failure instead of silent quality
      // drift. Integer basis points ((10000*hits) div |truth|) keep the
      // cross-engine compare exact. The truth relation is pinned with a
      // lazy localCheckpoint so the three tier joins reuse one brute-force
      // pass instead of re-scoring the corpus per tier.
      val truth = knnCosine.build(s, dir)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val nTruth = truth.count()
      def recallRow(label: String, df: DataFrame) =
        df.select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(label).as("tier"),
            expr(s"CAST((10000 * hits) DIV $nTruth AS BIGINT)").as("recall_bp"))
      def tierRecall(label: String, q: QueryDef) =
        recallRow(label, q.build(s, dir))
      // post-shift re-train recovery (the staleness guard's other half,
      // cf. ann_ivf_drift): the corpus distribution takes the same +0.5
      // mean offset that trips the drift guard, the codebook is
      // RE-TRAINED on the shifted corpus, and this tier pins the
      // recovered index's recall against brute-force truth over the
      // SHIFTED corpus — proving the re-train restores a healthy index
      val shiftEmb = Tables.embeddings(s, dir)
        .withColumn("embedding", expr("transform(embedding, x -> x + CAST(0.5 AS FLOAT))"))
      val truthShift = VectorOps.knnCosine(shiftEmb, "vec_id", "embedding",
        shiftEmb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val nTruthShift = truthShift.count()
      val shiftModel = graft.ops.Ivf.train(shiftEmb, "vec_id", "embedding", k = 8, iters = 2)
      val shiftTier = graft.ops.Ivf.search(shiftEmb, "vec_id", "embedding", shiftModel,
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"))
        .join(truthShift, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit("ivf_shift_retrain").as("tier"),
          expr(s"CAST((10000 * hits) DIV $nTruthShift AS BIGINT)").as("recall_bp"))
      tierRecall("ivf", annIvf)
        .unionByName(shiftTier)
        .unionByName(tierRecall("ivfpq", annIvfpq))
        .unionByName(tierRecall("lsh", annLsh))
        .orderBy(col("tier"))
    }, oracle = () => annRecallSql),
    // prep: the incremental-assign probe amortizes the persisted IVF model
    QueryDef("ann_ivf_incremental", anchorS = Some(0.35), prep = Some(ensureIvfModel(_, _)), build = (s, dir) => {
      // the persisted-model increment path: the coarse quantizer is
      // trained ONCE on the kept corpus (vec_id % 5 =!= 0) and persisted
      // as exact integer state (benchPrepare amortizes the build); each
      // increment (vec_id % 5 === 0) pays only assign's map-only pass
      // against the k-row broadcast codebook — never a retrain. The
      // round-trip through the catalog table is part of what the oracle
      // pins: readModel∘writeModel must reproduce the model bit-exactly
      // or assignments drift.
      val model = graft.ops.Ivf.readModel(s, ensureIvfModel(s, dir))
      graft.ops.Ivf.assign(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    }, oracle = () =>
      // train replay over the CORPUS slice only, then one assign pass
      // of the increment against the round-2 centroids (c2) — exactly
      // what readModel(writeModel(train(corpus))) + assign(increment)
      // computes
      s"""WITH ${duckIvfTrainCtes("(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)")},
        |ninc AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |simi AS (SELECT n.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (n.vq[i])::DOUBLE)) AS dt,
        |    list_sum(list_transform(range(1, 65), i -> (c.s[i] / c.n) * (c.s[i] / c.n))) AS na,
        |    list_sum(list_transform(range(1, 65), i -> (n.vq[i])::DOUBLE * (n.vq[i])::DOUBLE)) AS nb
        |  FROM ninc n CROSS JOIN c2 c)
        |SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |      (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) DESC, cid) AS rn
        |    FROM simi) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin),
    // prep: the staleness-guard probe reads the same persisted model
    QueryDef("ann_ivf_drift", anchorS = Some(1.5), prep = Some(ensureIvfModel(_, _)), build = (s, dir) => {
      // codebook-staleness guard on the persisted-model increment path:
      // every assign batch also measures its mean nearest-centroid
      // distance (k-means inertia, integer 2^-20 units — a byproduct of
      // the assignment pass) and compares against the training-time
      // reference persisted WITH the model — a rise past the tolerance is
      // the documented re-train trigger, turning silent recall decay into
      // an explicit signal. Rows: the training reference itself, an
      // in-distribution batch (must NOT trip), a mean-offset batch (the
      // classic new-encoder-checkpoint shift — MUST trip: unit vectors
      // land ~sqrt(17)≈4x further from every centroid), and the shifted
      // batch against a codebook RE-TRAINED on the shifted corpus (the
      // guard clears — recovery; its recall is pinned by ann_recall's
      // ivf_shift_retrain tier).
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      def shifted(df: DataFrame) =
        df.withColumn("embedding", expr("transform(embedding, x -> x + CAST(0.5 AS FLOAT))"))
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val t = ensureIvfModel(s, dir)
      val model = graft.ops.Ivf.readModel(s, t)
      val refQ = graft.ops.Ivf.readTrainRef(s, t)
      val inlineQ = graft.ops.Ivf.driftStatQ(inc, "vec_id", "embedding", model)
      val shiftQ = graft.ops.Ivf.driftStatQ(shifted(inc), "vec_id", "embedding", model)
      val shiftCorpus = shifted(emb.filter(col("vec_id") % 5 =!= 0))
      val model2 = graft.ops.Ivf.train(shiftCorpus, "vec_id", "embedding", k = 8, iters = 2)
      val ref2Q = graft.ops.Ivf.driftStatQ(shiftCorpus, "vec_id", "embedding", model2)
      val shift2Q = graft.ops.Ivf.driftStatQ(shifted(inc), "vec_id", "embedding", model2)
      def staleL(q: Long, ref: Long): Long =
        if (graft.ops.Ivf.isStale(q, ref)) 1L else 0L
      Seq(
        ("batch_inline", inlineQ, refQ, staleL(inlineQ, refQ)),
        ("batch_shifted", shiftQ, refQ, staleL(shiftQ, refQ)),
        ("retrained_shifted", shift2Q, ref2Q, staleL(shift2Q, ref2Q)),
        ("train_ref", refQ, refQ, 0L))
        .toDF("phase", "mean_dist_q", "ref_dist_q", "stale")
        .orderBy(col("phase"))
    }, oracle = () => annIvfDriftSql),
    QueryDef("embed_quant_int8", anchorS = Some(0.22), build = (s, dir) =>
      // SQ8 storage tier: per-vector scale + int8 codes, summarized as
      // index-free integer stats per vector (engine-portable, hash-exact)
      graft.ops.Quantize.int8Stats(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id")),
    oracle = () =>
      s"""WITH $DuckSq8CodesCtes
        |SELECT vec_id, amax_q,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  CAST(list_sum(list_transform(codes, v -> v * v)) AS BIGINT) AS code_sumsq,
        |  CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
        |  CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max,
        |  CAST(list_sum(list_transform(codes, v -> CASE WHEN v = 0 THEN 0 ELSE 1 END)) AS BIGINT) AS nnz
        |FROM c ORDER BY vec_id""".stripMargin),
    // anchor: min 0.33 beside a 1.65x sentinel, shaded
    // re-pinned r14: the output scalarized from 8k array rows to 128k
    // (vec_id, j, coord) rows for the oracle-harness contract — a REAL
    // plan change, not drift (min-of-3 reads 0.66/0.74/0.94 beside
    // <=1.0x mid-size sentinels; old array-output pin was 0.25)
    QueryDef("embed_jl", anchorS = Some(0.66), build = (s, dir) =>
      // 64→16 seeded ±1 JL projection (4× dim cut before indexing): the
      // sign matrix is a plan literal from the hyperplanes convention,
      // the projection one codegen'd zip_with/aggregate chain — map-only.
      // Scalarized to (vec_id, j, coord) rows — every projected
      // coordinate is hash-covered without a top-level array column
      // (the oracle harness can't canonicalize arrays; see EntrySmokeSpec
      // output-shape lint).
      graft.ops.Quantize.jlProject(Tables.embeddings(s, dir), "vec_id", "embedding",
        inDims = 64, outDims = 16)
        .select(col("vec_id"), posexplode(col("jl")).as(Seq("j", "coord")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("coord"))
        .orderBy(col("vec_id"), col("j")),
    oracle = () =>
      // same '42|0|j|i' high-hex-bit sign convention as the LSH plane
      // replays, same 2^-20 quantization, exact integer sums
      """WITH s AS (SELECT j, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST('0x' || substring(md5('42|0|' || j || '|' || i), 1, 1) AS INT) >= 8
        |         THEN 1 ELSE -1 END) AS w
        |  FROM (SELECT unnest(range(0, 16)) AS j)),
        |e AS (SELECT vec_id, list_transform(embedding,
        |        x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
        |      FROM embeddings),
        |p AS (SELECT e.vec_id, s.j,
        |        CAST(list_sum(list_transform(range(0, 64), i -> e.vq[i + 1] * s.w[i + 1])) AS BIGINT) AS o
        |      FROM e CROSS JOIN s)
        |SELECT vec_id, CAST(j AS BIGINT) AS j, o AS coord FROM p ORDER BY vec_id, j""".stripMargin),
    // anchor: min 2.00 beside the same sentinel, shaded
    QueryDef("embed_jl_search", anchorS = Some(1.03), build = (s, dir) => {
      // search at 1/4 the dims: integer JL-dot shortlist-40 over the
      // 16-dim codes, exact-cosine rescore ranks top-10; jl_dot rides out
      // so the projected coordinates are hash-covered
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Quantize.jlShortlistRerank(emb, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, shortlist = 40)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // projection CTEs verbatim from embed_jl, integer-dot shortlist,
      // same fixed-order cosine rescore as the binary-store search
      s"""WITH s AS (SELECT j, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST('0x' || substring(md5('42|0|' || j || '|' || i), 1, 1) AS INT) >= 8
        |         THEN 1 ELSE -1 END) AS w
        |  FROM (SELECT unnest(range(0, 16)) AS j)),
        |e AS (SELECT vec_id, embedding, list_transform(embedding,
        |        x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
        |      FROM embeddings),
        |p AS (SELECT e.vec_id, s.j,
        |        CAST(list_sum(list_transform(range(0, 64), i -> e.vq[i + 1] * s.w[i + 1])) AS BIGINT) AS o
        |      FROM e CROSS JOIN s),
        |jlv AS (SELECT p.vec_id, e.embedding, list(o ORDER BY j) AS jl
        |        FROM p JOIN e USING (vec_id) GROUP BY 1, 2),
        |q AS (SELECT vec_id AS qid, embedding AS qvec, jl AS qjl FROM jlv WHERE vec_id < 5),
        |d AS (SELECT q.qid, c.vec_id, c.embedding,
        |    CAST(list_sum(list_transform(range(0, 16), t -> c.jl[t + 1] * q.qjl[t + 1])) AS BIGINT) AS jl_dot
        |  FROM jlv c CROSS JOIN q WHERE c.vec_id <> q.qid),
        |short AS (SELECT qid, vec_id, embedding, jl_dot FROM (
        |    SELECT qid, vec_id, embedding, jl_dot, row_number() OVER (PARTITION BY qid ORDER BY jl_dot DESC, vec_id) AS hr FROM d) WHERE hr <= 40),
        |resc AS (SELECT sh.qid, sh.vec_id, sh.jl_dot, ${duckCosine("sh.embedding", "q.qvec")} AS sim
        |  FROM short sh JOIN q USING (qid)),
        |ranked AS (SELECT qid, vec_id, jl_dot, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank FROM resc)
        |SELECT qid AS query_id, vec_id AS neighbor_id, rank, jl_dot FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),
    // anchor: r13 fifth wave: raw mins 0.76 / 0.68 / 1.62 in a QUIET window
    // (q1_agg sentinel 0.32 vs its 0.35 anchor)
    QueryDef("embed_quant_binary", anchorS = Some(0.55), build = (s, dir) => {
      // search over the 1-bit store (32× tier below SQ8): Hamming
      // shortlist of 40 on packed sign codes — the corpus pass reads
      // 1/32 the vector bytes — then exact-cosine rescore ranks top-10;
      // ham rides out so every code bit is hash-covered
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Quantize.binaryHammingRerank(emb, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, shortlist = 40)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = () =>
      // 1-bit replay: identical little-endian sign packing (>= 0 sets
      // the bit; distinct powers of two sum without wrap ambiguity —
      // the bit-63 word stays in BIGINT range in both engines), Hamming
      // via per-word xor+popcount, same fixed-order cosine rescore
      s"""WITH bc AS (SELECT vec_id, embedding,
        |    list_transform(range(0, (len(embedding) - 1) // 64 + 1), w ->
        |      CAST(list_sum(list_transform(range(0, least(64, len(embedding) - w * 64)), b ->
        |        CASE WHEN embedding[w * 64 + b + 1] < 0 THEN CAST(0 AS BIGINT)
        |          WHEN b = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |          ELSE (CAST(1 AS BIGINT) << b) END)) AS BIGINT)) AS code
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qvec, code AS qc FROM bc WHERE vec_id < 5),
        |ham AS (SELECT q.qid, c.vec_id, c.embedding,
        |    CAST(list_sum(list_transform(range(1, len(c.code) + 1), i -> bit_count(xor(c.code[i], q.qc[i])))) AS BIGINT) AS ham
        |  FROM bc c CROSS JOIN q WHERE c.vec_id <> q.qid),
        |short AS (SELECT qid, vec_id, embedding, ham FROM (
        |    SELECT qid, vec_id, embedding, ham, row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS hr FROM ham) WHERE hr <= 40),
        |resc AS (SELECT s.qid, s.vec_id, s.ham, ${duckCosine("s.embedding", "q.qvec")} AS sim
        |  FROM short s JOIN q USING (qid)),
        |ranked AS (SELECT qid, vec_id, ham, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank FROM resc)
        |SELECT qid AS query_id, vec_id AS neighbor_id, rank, ham FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),
    // anchor: min 0.43 beside a 1.4x sentinel (0.48, concurrent full-Bench run),
    // shaded
    QueryDef("embed_card", anchorS = Some(0.28), build = (s, dir) => {
      // embedding-store QA card over a deterministically degraded batch
      // (the plant discipline — the synthetic vectors are clean): %31
      // becomes the zero vector (encoder-collapse symptom), %37 gets a
      // NaN component (pipeline corruption); the card must count exactly
      // those per label, with NaN rows excluded from norm/distinct terms
      val emb = Tables.embeddings(s, dir).withColumn("embedding", expr(
        """CASE WHEN vec_id % 31 = 0 THEN transform(embedding, x -> CAST(0.0 AS FLOAT))
          |     WHEN vec_id % 37 = 0 THEN transform(sequence(0, size(embedding) - 1),
          |       i -> CASE WHEN i = 0 THEN CAST('NaN' AS FLOAT) ELSE element_at(embedding, CAST(i + 1 AS INT)) END)
          |     ELSE embedding END""".stripMargin))
      graft.ops.Stats.embedCard(emb, "label", "embedding").orderBy(col("label"))
    }, oracle = () =>
      // same plants, same 2^-20 quantized norm arithmetic, same
      // NULL-out of NaN rows before the norm/distinct aggregates
      s"""WITH e AS (SELECT vec_id, label,
        |    CASE WHEN vec_id % 31 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |         WHEN vec_id % 37 = 0 THEN list_transform(range(0, len(embedding)),
        |           i -> CASE WHEN i = 0 THEN CAST('NaN' AS FLOAT) ELSE embedding[i + 1] END)
        |         ELSE embedding END AS embedding
        |  FROM embeddings),
        |b0 AS (SELECT label,
        |    len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0 AS nan,
        |    embedding FROM e),
        |b AS (SELECT label, nan,
        |    CASE WHEN nan THEN NULL
        |      ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) END AS vq
        |  FROM b0),
        |c AS (SELECT label, nan,
        |    CAST(list_sum(list_transform(vq, x -> x * x)) AS BIGINT) AS nsq,
        |    md5(array_to_string(list_transform(vq, x -> CAST(x AS VARCHAR)), ',')) AS h
        |  FROM b),
        |a AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(CASE WHEN nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |    CAST(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |    CAST(SUM(CASE WHEN nsq < 17179869184 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_norm,
        |    CAST(MIN(nsq) AS BIGINT) AS nsq_min, CAST(MAX(nsq) AS BIGINT) AS nsq_max,
        |    CAST(CASE WHEN COUNT(nsq) = 0 THEN NULL ELSE SUM(nsq) // COUNT(nsq) END AS BIGINT) AS nsq_mean
        |  FROM c GROUP BY 1),
        |d AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |      FROM (SELECT DISTINCT label, h FROM c WHERE h IS NOT NULL) GROUP BY 1)
        |SELECT a.label, n_vecs, n_nan, n_zero, n_low_norm, nsq_min, nsq_max, nsq_mean,
        |  coalesce(d.n_distinct, 0) AS n_distinct
        |FROM a LEFT JOIN d USING (label) ORDER BY label""".stripMargin),
    QueryDef("embed_chunks", anchorS = Some(0.58), build = (s, dir) =>
      Pipelines.chunkAndEmbedDocuments(s, dir, 120, 12)
        .select(col("chunk_id"), col("doc_id"), col("chunk_index"), col("embedding_dim"),
          size(col("embedding")).as("dim_check"))
        .orderBy(col("doc_id"), col("chunk_index")),
    oracle = () =>
      // same windowing as chunk_fixed; the embedding itself is projected
      // down to its dimensions in the query, so the oracle checks the chunk
      // lineage plus the fixed dim contract
      """WITH t AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |w AS (SELECT doc_id, t,
        |        unnest(generate_series(0, CAST(1 + greatest(0, ceil((length(t) - 120) / 108.0)) AS INT) - 1)) AS chunk_index
        |      FROM t WHERE length(t) > 0)
        |SELECT doc_id || '::c' || chunk_index AS chunk_id, doc_id, chunk_index,
        |       CAST(64 AS INT) AS embedding_dim, CAST(64 AS INT) AS dim_check
        |FROM w WHERE trim(substring(t, chunk_index * 108 + 1, 120)) <> ''
        |ORDER BY doc_id, chunk_index""".stripMargin)
  )

  /** ann_recall's DuckDB formulation, composed from the tier oracles
    * verbatim: each tier SQL (its private WITH chain included) runs as a
    * parenthesized subquery, so the index-replay logic lives ONCE — in the
    * tier's own oracle entry — and the recall row can never drift from
    * what the tiers actually compute. */
  private def annRecallSql: String = {
    def sub(q: QueryDef) = s"(\n${q.oracle()}\n)"
    def tierSql(label: String, rel: String, truthRel: String) =
      s"SELECT '$label' AS tier, CAST((10000 * COUNT(*)) // (SELECT COUNT(*) FROM $truthRel) AS BIGINT) AS recall_bp\n" +
        s"FROM $rel r JOIN $truthRel t ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id"
    def tier(label: String, q: QueryDef) = tierSql(label, sub(q), "truth")
    // the post-shift tier searches the +0.5-mean-offset corpus (the same
    // shift ann_ivf_drift's guard fires on) with a codebook re-trained on
    // it, against brute-force truth over the SHIFTED corpus
    val shiftSrc =
      "(SELECT vec_id, list_transform(embedding, x -> x + CAST(0.5 AS FLOAT)) AS embedding FROM embeddings)"
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ${sub(knnCosine)} tq),
       |truth_shift AS (SELECT query_id, neighbor_id FROM (\n${duckKnnSql(shiftSrc)}\n) tsq)
       |SELECT tier, recall_bp FROM (
       |${tier("ivf", annIvf)}
       |UNION ALL
       |${tierSql("ivf_shift_retrain", s"(\n${duckIvfSearchSql(shiftSrc)}\n)", "truth_shift")}
       |UNION ALL
       |${tier("ivfpq", annIvfpq)}
       |UNION ALL
       |${tier("lsh", annLsh)}
       |) u ORDER BY tier""".stripMargin
  }
}
