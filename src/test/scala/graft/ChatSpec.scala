package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Chat

case class ChatTurn(role: String, content: String)
case class ChatConv(conv_id: Long, turns: Seq[ChatTurn])

/** Test-only reference forms for [[Chat]]. */
object ChatReference {
  import org.apache.spark.sql.functions._

  /** The original accumulator-fold render, kept as the spec's equivalence
    * reference for [[Chat.renderChat]] (quadratic in rendered length — not a
    * production path). */
  def renderChatFold(df: DataFrame, idCol: String, turnsCol: String): DataFrame =
    df.withColumn("rendered", expr(
        s"""aggregate($turnsCol, CAST('' AS STRING),
           |  (acc, t) -> acc || '<|' || t.role || '|>' || chr(10) || t.content || '<|end|>' || chr(10))""".stripMargin))
      .withColumn("content_tokens", expr(
        s"""CAST(aggregate($turnsCol, 0L,
           |  (acc, t) -> acc + size(filter(split(t.content, '\\\\s+'), x -> x <> ''))) AS BIGINT)""".stripMargin))
      .select(col(idCol), col("rendered"), length(col("rendered")).cast("long").as("rendered_chars"),
        col("content_tokens"))
}

class ChatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def qa(convs: ChatConv*) =
    Chat.chatQa(convs.toSeq.toDS.toDF, "conv_id", "turns").collect()
      .map(r => r.getLong(0) -> r).toMap

  test("chatQa: counts, flags and token shares on a well-formed conversation") {
    val out = qa(ChatConv(1L, Seq(
      ChatTurn("user", "hi there"),
      ChatTurn("assistant", "hello friend ok"),
      ChatTurn("user", "bye"))))(1L)
    assert(out.getAs[Long]("n_turns") == 3 && out.getAs[Long]("n_user") == 2 &&
      out.getAs[Long]("n_assistant") == 1)
    assert(out.getAs[Long]("starts_user") == 1 && out.getAs[Long]("ends_assistant") == 0)
    assert(out.getAs[Long]("alternates") == 1)
    assert(out.getAs[Long]("user_tokens") == 3 && out.getAs[Long]("assistant_tokens") == 3)
    assert(out.getAs[Long]("assistant_share_bp") == 5000)
  }

  test("chatQa: adjacent same-role turns break alternation; assistant-first flags") {
    val out = qa(
      ChatConv(1L, Seq(ChatTurn("user", "a"), ChatTurn("user", "b"), ChatTurn("assistant", "c"))),
      ChatConv(2L, Seq(ChatTurn("assistant", "x y z"), ChatTurn("user", "w"))))
    assert(out(1L).getAs[Long]("alternates") == 0)
    assert(out(2L).getAs[Long]("starts_user") == 0 && out(2L).getAs[Long]("alternates") == 1)
    // 3 assistant vs 1 user token → 7500 bp
    assert(out(2L).getAs[Long]("assistant_share_bp") == 7500)
  }

  test("chatQa: empty conversations and unknown roles stay integer-sane") {
    val out = qa(
      ChatConv(1L, Seq.empty),
      ChatConv(2L, Seq(ChatTurn("system", "be terse and exact"), ChatTurn("user", "ok"))))
    assert(out(1L).getAs[Long]("n_turns") == 0 && out(1L).getAs[Long]("alternates") == 1 &&
      out(1L).getAs[Long]("assistant_share_bp") == 0)
    // system turn counts as a turn but contributes to neither role bucket
    assert(out(2L).getAs[Long]("n_turns") == 2 && out(2L).getAs[Long]("n_user") == 1 &&
      out(2L).getAs[Long]("n_assistant") == 0)
    assert(out(2L).getAs[Long]("user_tokens") == 1 && out(2L).getAs[Long]("assistant_tokens") == 0)
    assert(out(2L).getAs[Long]("alternates") == 1)
  }

  test("renderChat: exact ChatML framing and tag-free token count") {
    val df = Seq(ChatConv(1L, Seq(ChatTurn("user", "hi there"), ChatTurn("assistant", "yo")))).toDS.toDF
    val out = Chat.renderChat(df, "conv_id", "turns").head
    val expected = "<|user|>\nhi there<|end|>\n<|assistant|>\nyo<|end|>\n"
    assert(out.getAs[String]("rendered") == expected)
    assert(out.getAs[Long]("rendered_chars") == expected.length.toLong)
    assert(out.getAs[Long]("content_tokens") == 3)
  }

  test("prefQa: length bias, identity and word-overlap signals by hand") {
    val pairs = Seq(
      (0L, "the quick brown fox", "the quick"),         // longer chosen, high overlap
      (1L, "same words here", "same words here"),       // identical
      (2L, "alpha beta", "gamma delta epsilon"),        // disjoint, rejected longer
      (3L, "a b", "")                                   // empty rejected
    ).toDF("pair_id", "chosen", "rejected")
    val out = graft.ops.Chat.prefQa(pairs, "pair_id", "chosen", "rejected")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("chosen_tokens") == 4 &&
      out(0L).getAs[Long]("len_delta") == 2 && out(0L).getAs[Long]("chosen_longer") == 1)
    assert(out(0L).getAs[Long]("identical") == 0)
    assert(out(0L).getAs[Long]("overlap_bp") == 5000) // {the,quick} of {the,quick,brown,fox}
    assert(out(1L).getAs[Long]("identical") == 1 && out(1L).getAs[Long]("overlap_bp") == 10000)
    assert(out(2L).getAs[Long]("chosen_longer") == 0 && out(2L).getAs[Long]("len_delta") == -1)
    assert(out(2L).getAs[Long]("overlap_bp") == 0)
    assert(out(3L).getAs[Long]("overlap_bp") == 0 && out(3L).getAs[Long]("identical") == 0)
  }

  test("prefBiasCard: one-row shares and the signed delta sum") {
    val pairs = Seq(
      (0L, "a b c", "a b"),              // longer chosen (+1), overlap {a,b}/{a,b,c}=6666
      (1L, "same here", "same here"),    // identical, delta 0, overlap 10000
      (2L, "x", "y z")                   // shorter chosen (−1), disjoint
    ).toDF("pair_id", "chosen", "rejected")
    val out = graft.ops.Chat.prefBiasCard(pairs, "pair_id", "chosen", "rejected").head
    assert(out.getAs[Long]("n_pairs") == 3)
    assert(out.getAs[Long]("identical_bp") == 3333)
    assert(out.getAs[Long]("chosen_longer_bp") == 3333)
    assert(out.getAs[Long]("len_delta_sum") == 0) // +1 +0 −1
    assert(out.getAs[Long]("high_overlap_bp") == 3333) // only the identical pair ≥ 8000
  }

  test("renderChat: empty turns render the empty string, not null") {
    val out = Chat.renderChat(Seq(ChatConv(1L, Seq.empty)).toDS.toDF, "conv_id", "turns").head
    assert(out.getAs[String]("rendered") == "" && out.getAs[Long]("rendered_chars") == 0)
  }

  test("renderChat: array_join form ≡ accumulator-fold form over null/empty edges") {
    // the r18 rewrite replaced the O(turns × rendered-length) string fold
    // with transform + array_join; this pin replays the fold on the exact
    // edges where the two could diverge — null role/content (the fold
    // nulls the WHOLE render via || propagation, array_join alone would
    // skip the fragment: the CASE guard must restore it), a null turns
    // array, the empty array, empty-string contents, multi-byte text
    val convs = Seq(
      ChatConv(1L, Seq(ChatTurn("user", "hi there"), ChatTurn("assistant", "yo"))),
      ChatConv(2L, Seq(ChatTurn("user", "ok"), ChatTurn(null, "dropped role"))),
      ChatConv(3L, Seq(ChatTurn("user", null), ChatTurn("assistant", "after null"))),
      ChatConv(4L, Seq.empty),
      ChatConv(5L, null),
      ChatConv(6L, Seq(ChatTurn("user", ""), ChatTurn("assistant", ""))),
      ChatConv(7L, Seq(ChatTurn("user", "宇宙 données  double  space"), ChatTurn("assistant", " lead/trail "))),
      ChatConv(8L, (1 to 40).map(i => ChatTurn(if (i % 2 == 1) "user" else "assistant", s"turn $i words here"))))
      .toDS.toDF
    val got = Chat.renderChat(convs, "conv_id", "turns")
      .orderBy("conv_id").collect().toSeq
    val ref = ChatReference.renderChatFold(convs, "conv_id", "turns")
      .orderBy("conv_id").collect().toSeq
    assert(got == ref)
    // and the null-propagation edges hold the fold's exact semantics
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getAs[String]("rendered") == null)
    assert(byId(3L).getAs[String]("rendered") == null)
    assert(byId(5L).getAs[String]("rendered") == null)
    assert(byId(6L).getAs[String]("rendered") ==
      "<|user|>\n<|end|>\n<|assistant|>\n<|end|>\n")
  }

  test("bestOfN: deterministic best/worst picks, tie rules, margin gate") {
    val rows = Seq(
      (1L, 0L, 50L), (1L, 1L, 80L), (1L, 2L, 80L), (1L, 3L, 10L), // best tie 1,2 → smallest idx
      (2L, 0L, 30L), (2L, 1L, 30L), (2L, 2L, 30L), // all tied → (first, last), margin 0
      (3L, 0L, 5L), (3L, 1L, 14L)) // margin 9 < 10 → kept 0
      .toDF("pid", "cand", "score")
    val out = Chat.bestOfN(rows, "pid", "cand", "score", minMargin = 10L)
      .orderBy("pid").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(out(1L) == ((4L, 1L, 80L, 3L, 10L, 70L, 1L)))
    assert(out(2L) == ((3L, 0L, 30L, 2L, 30L, 0L, 0L)))
    assert(out(3L) == ((2L, 1L, 14L, 0L, 5L, 9L, 0L)))
    // result is partition-invariant (pure aggregate, no window)
    val rep = Chat.bestOfN(rows.repartition(5), "pid", "cand", "score", 10L)
      .orderBy("pid").collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(rep.toSeq == Seq((1L, 1L, 3L), (2L, 0L, 2L), (3L, 1L, 0L)))
  }

  test("bestOfN: a null score fails loudly instead of silently ranking smallest") {
    // Spark's struct ordering sorts a null field smallest, so without the
    // guard a null-score candidate becomes 'rejected' while an engine
    // sorting nulls last would pick a different pair — the contract is
    // raise_error at the operator boundary, not a latent divergence
    val rows = Seq((1L, 0L, Some(50L)), (1L, 1L, None), (1L, 2L, Some(80L)))
      .toDF("pid", "cand", "score")
    val e = intercept[Exception] {
      Chat.bestOfN(rows, "pid", "cand", "score", minMargin = 0L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bestOfN: null score")))
  }
}
