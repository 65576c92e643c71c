package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conversation-data QA — the admission gates an instruction-tuning corpus
  * runs before training that raw-document curation never needs: chat
  * examples are ARRAYS OF ROLE-TAGGED TURNS, and the defect modes are
  * structural (wrong opening role, broken user/assistant alternation,
  * role-starved token budgets) rather than textual. Everything here is
  * per-conversation column math over the turns array — higher-order
  * functions only, no explode, no shuffle: at 100 TB the QA card costs one
  * map pass, and the structural flags are exactly the columns a curation
  * funnel filters on before the expensive tokenize-and-pack stages.
  */
object Chat {

  /** Per-conversation structural QA over a `array<struct<role, content>>`
    * turns column: turn/role counts, opening/closing-role flags, strict
    * alternation (no two adjacent turns share a role), whitespace token
    * counts per role and the assistant token share in basis points (the
    * signal that catches "conversations" that are 95% user paste).
    * Integer-exact throughout; share is 0 when the conversation carries no
    * user/assistant tokens at all. */
  def chatQa(df: DataFrame, idCol: String, turnsCol: String): DataFrame =
    df.withColumn("_roles", expr(s"transform($turnsCol, t -> t.role)"))
      .withColumn("n_turns", expr(s"CAST(size($turnsCol) AS BIGINT)"))
      .withColumn("n_user", expr("CAST(size(filter(_roles, r -> r = 'user')) AS BIGINT)"))
      .withColumn("n_assistant", expr("CAST(size(filter(_roles, r -> r = 'assistant')) AS BIGINT)"))
      .withColumn("starts_user", expr(
        "CAST(CASE WHEN n_turns > 0 AND element_at(_roles, 1) = 'user' THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("ends_assistant", expr(
        "CAST(CASE WHEN n_turns > 0 AND element_at(_roles, CAST(n_turns AS INT)) = 'assistant' THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("alternates", expr(
        """CAST(CASE WHEN n_turns <= 1 THEN 1
          |  WHEN forall(sequence(2, CAST(n_turns AS INT)),
          |    i -> element_at(_roles, i) <> element_at(_roles, i - 1)) THEN 1
          |  ELSE 0 END AS BIGINT)""".stripMargin))
      .withColumn("user_tokens", roleTokens(turnsCol, "user"))
      .withColumn("assistant_tokens", roleTokens(turnsCol, "assistant"))
      .withColumn("assistant_share_bp", expr(
        """CASE WHEN user_tokens + assistant_tokens = 0 THEN 0L
          |  ELSE (10000 * assistant_tokens) div (user_tokens + assistant_tokens) END""".stripMargin))
      .select(col(idCol), col("n_turns"), col("n_user"), col("n_assistant"),
        col("starts_user"), col("ends_assistant"), col("alternates"),
        col("user_tokens"), col("assistant_tokens"), col("assistant_share_bp"))

  private def roleTokens(turnsCol: String, role: String) = expr(
    s"""CAST(aggregate(filter($turnsCol, t -> t.role = '$role'), 0L,
       |  (acc, t) -> acc + size(filter(split(t.content, '\\\\s+'), x -> x <> ''))) AS BIGINT)""".stripMargin)

  /** Preference-pair QA — the DPO/RLHF companion to [[chatQa]]: a
    * (prompt, chosen, rejected) corpus's defect modes are PAIRWISE. Length
    * bias (chosen systematically longer teaches the reward model to prefer
    * verbosity — the classic artifact), identical pairs (zero preference
    * signal), and near-identical pairs (overlap so high the gradient is
    * noise). Per pair: whitespace token counts for both sides, the signed
    * length delta, chosen-longer flag, exact-equality flag, and the
    * distinct-word Jaccard overlap in basis points (array_distinct +
    * membership filter — exact integers, so the oracle replays it).
    * Map-only; the corpus-level bias read is then one aggregate over the
    * flags. */
  /** Best-of-n rejection sampling over a scored candidate relation — the
    * pair BUILDER upstream of [[prefQa]]'s pair QA: given one row per
    * (prompt id, candidate index, integer score), emit per prompt the
    * best and worst candidates and their margin, with a `kept` flag at
    * `minMargin` (a DPO/RLHF corpus only trains on pairs whose preference
    * signal clears the scorer's noise floor). Deterministic total order:
    * chosen = highest score, ties to the SMALLEST index; rejected =
    * lowest score, ties to the LARGEST index — so an all-tied prompt
    * yields (first, last) at margin 0, filtered by any positive
    * threshold, never an arbitrary pair.
    *
    * Scale shape: ONE map-side-combined aggregate (struct max/min) onto
    * the prompt domain — no window, no join, no candidate sort. Returns
    * (id, n_cands, chosen_cand, chosen_score, rejected_cand,
    * rejected_score, margin, kept). */
  def bestOfN(df: DataFrame, idCol: String, candCol: String, scoreCol: String,
              minMargin: Long): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    // deterministic-total-order contract enforced at the boundary: Spark's
    // struct min/max sorts a null field SMALLEST (a null-score candidate
    // would silently become 'rejected'), while an engine sorting nulls
    // LAST would pick a different pair — so a null score fails loudly
    // in-plan (raise_error keeps this map-only; prioritySample precedent)
    val checkedScore = when(col(scoreCol).isNull, raise_error(
      concat(lit(s"bestOfN: null $scoreCol for prompt "), col(idCol).cast("string"),
        lit(" — scores must be non-null for the deterministic total order"))))
      .otherwise(col(scoreCol).cast("long"))
    val pick = struct(checkedScore.as("s"),
      (-col(candCol).cast("long")).as("ni"), col(candCol).cast("long").as("i"))
    df.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_cands"),
        max(pick).as("_b"), min(pick).as("_w"))
      .select(col(idCol), col("n_cands"),
        col("_b.i").as("chosen_cand"), col("_b.s").as("chosen_score"),
        col("_w.i").as("rejected_cand"), col("_w.s").as("rejected_score"),
        (col("_b.s") - col("_w.s")).as("margin"),
        when(col("_b.s") - col("_w.s") >= minMargin, 1L).otherwise(0L).as("kept"))
  }

  def prefQa(df: DataFrame, idCol: String,
             chosenCol: String, rejectedCol: String): DataFrame =
    df.withColumn("_cw", tokensOf(chosenCol)).withColumn("_rw", tokensOf(rejectedCol))
      .withColumn("chosen_tokens", expr("CAST(size(_cw) AS BIGINT)"))
      .withColumn("rejected_tokens", expr("CAST(size(_rw) AS BIGINT)"))
      .withColumn("len_delta", expr("chosen_tokens - rejected_tokens"))
      .withColumn("chosen_longer", expr("CAST(CASE WHEN len_delta > 0 THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("identical", expr(
        s"CAST(CASE WHEN $chosenCol = $rejectedCol THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("_cd", expr("array_distinct(_cw)"))
      .withColumn("_rd", expr("array_distinct(_rw)"))
      .withColumn("_inter", expr("CAST(size(filter(_cd, x -> array_contains(_rd, x))) AS BIGINT)"))
      .withColumn("_union", expr("CAST(size(array_distinct(concat(_cd, _rd))) AS BIGINT)"))
      .withColumn("overlap_bp", expr(
        "CASE WHEN _union = 0 THEN 0L ELSE (10000 * _inter) div _union END"))
      .select(col(idCol), col("chosen_tokens"), col("rejected_tokens"), col("len_delta"),
        col("chosen_longer"), col("identical"), col("overlap_bp"))

  private def tokensOf(c: String) =
    expr(s"filter(split(lower($c), '\\\\s+'), x -> x <> '')")

  /** The corpus-level read over [[prefQa]] — the one-row governance card a
    * DPO run checks before training: pair count, identical-pair and
    * chosen-longer shares in basis points (a chosen-longer share far from
    * 5000 bp is the length-bias alarm), the SIGNED token-delta sum (kept
    * as a sum, not a mean — a signed floor division would round toward
    * zero in one engine and toward −∞ in the other), and the share of
    * near-identical pairs at ≥ 8000 bp overlap. One partial-aggregated
    * pass over the map-only per-pair frame; state is one row. */
  def prefBiasCard(df: DataFrame, idCol: String,
                   chosenCol: String, rejectedCol: String): DataFrame =
    prefQa(df, idCol, chosenCol, rejectedCol).agg(
      count(lit(1)).as("n_pairs"),
      expr("(10000 * sum(identical)) div count(1)").as("identical_bp"),
      expr("(10000 * sum(chosen_longer)) div count(1)").as("chosen_longer_bp"),
      expr("CAST(sum(len_delta) AS BIGINT)").as("len_delta_sum"),
      expr("(10000 * sum(CASE WHEN overlap_bp >= 8000 THEN 1L ELSE 0L END)) div count(1)")
        .as("high_overlap_bp"))

  /** Renders a turns array to the single training string the tokenizer
    * sees — the ChatML-shaped `<|role|>\ncontent<|end|>` framing (public
    * convention, one tag pair per turn) — plus its whitespace token count
    * with the tags excluded. Deterministic per-turn fragments joined once,
    * so the rendered bytes hash-pin across engines; the render is where
    * packing and context-length budgeting read their lengths from.
    *
    * r18: the original formulation folded `acc || fragment` over the turns
    * array — every step copies the whole accumulator, O(turns × rendered
    * length) per conversation, which dominates chat_pipeline's 7-token
    * windows (hundreds of turns/doc). `transform` builds each fragment
    * once and `array_join` concatenates once: O(rendered length). The
    * CASE guard preserves the fold's null semantics exactly (any null
    * role/content nulls the whole render; array_join alone would SKIP
    * null fragments) — ChatSpec keeps the fold form and pins
    * fold ≡ join over the null/empty edges. */
  def renderChat(df: DataFrame, idCol: String, turnsCol: String): DataFrame =
    df.withColumn("rendered", expr(
        s"""CASE WHEN exists($turnsCol, t -> t.role IS NULL OR t.content IS NULL)
           |  THEN CAST(NULL AS STRING)
           |  ELSE array_join(transform($turnsCol,
           |    t -> '<|' || t.role || '|>' || chr(10) || t.content || '<|end|>' || chr(10)), '')
           |  END""".stripMargin))
      .withColumn("content_tokens", expr(
        s"""CAST(aggregate($turnsCol, 0L,
           |  (acc, t) -> acc + size(filter(split(t.content, '\\\\s+'), x -> x <> ''))) AS BIGINT)""".stripMargin))
      .select(col(idCol), col("rendered"), length(col("rendered")).cast("long").as("rendered_chars"),
        col("content_tokens"))
}
