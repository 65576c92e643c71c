package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis

/** Test-only reference forms for [[TextAnalysis]]. */
object RakeReference {
  /** The pre-r18 relational RAKE formulation — retained as the
    * equivalence reference for RakeKernelSpec (and the shape the DuckDB
    * oracle replays); not on any query path. */
  def rakeKeyphrasesRelational(df: DataFrame, idCol: String, textCol: String,
                     maxLen: Int = 4, k: Int = 3): DataFrame = {
    require(maxLen >= 1 && k >= 1, s"maxLen/k must be >= 1, got $maxLen/$k")
    val stops = TextAnalysis.Stopwords("en")
    val toks = df
      .select(col(idCol), posexplode(graft.ops.Dedup.tokensCol(col(textCol))).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")
    val isStop = col("tok").isin(stops.map(_.asInstanceOf[Any]): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("i"))
    val seg = toks
      .withColumn("_s", when(isStop, 1L).otherwise(0L))
      .withColumn("seg", sum(col("_s")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .filter(!isStop)
    val phrases = seg.groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("plen"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          s => s.getField("tok")), " ").as("phrase"),
        collect_list(col("tok")).as("words"))
      .filter(col("plen") <= maxLen)
      .localCheckpoint(false) // feeds BOTH the word stats and the rescore
    val wordStats = phrases
      .select(col(idCol), col("plen"), explode(col("words")).as("word"))
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_milli", expr("(1000 * deg) div freq"))
    val scored = phrases
      .select(col(idCol), col("seg"), col("phrase"), explode(col("words")).as("word"))
      .join(wordStats.select(col(idCol).as("_wid"), col("word").as("_wword"),
        col("wscore_milli")),
        col(idCol) === col("_wid") && col("word") === col("_wword"))
      .groupBy(col(idCol), col("seg"), col("phrase"))
      .agg(sum(col("wscore_milli")).as("score_milli"))
      // identical phrase texts in one doc carry identical scores (the
      // word stats are doc-level) — collapse before ranking
      .groupBy(col(idCol), col("phrase"))
      .agg(max(col("score_milli")).as("score_milli"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(desc("score_milli"), col("phrase"))
    scored.withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("phrase"), col("score_milli"))
  }
}

/** r18 optimization pin: the map-only RAKE kernel
  * ([[org.apache.spark.sql.graft.RakeTopK]]) equals the relational
  * formulation it replaced ([[RakeReference.rakeKeyphrasesRelational]]) —
  * same phrases, same integer scores, same (score DESC, phrase ASC)
  * ranking and ties, same dropped-document shapes. */
class RakeKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertSame(df: DataFrame, maxLen: Int, k: Int): Unit = {
    val neu = TextAnalysis.rakeKeyphrases(df, "doc_id", "text", maxLen, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val old = RakeReference.rakeKeyphrasesRelational(df, "doc_id", "text", maxLen, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(neu == old)
  }

  test("kernel equals the relational form on adversarial texts") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and the dog sleeps"),
      (1L, "machine learning of machine learning with machine learning"),
      (2L, ""),                                  // no tokens
      (3L, null.asInstanceOf[String]),           // null text
      (4L, "the of and with to"),                // all stopwords
      (5L, "alpha beta gamma delta epsilon zeta eta theta"), // one long run, dropped at maxLen=4
      (6L, "tie tie the tie tie"),               // duplicate phrase collapse
      (7L, "  spaced   out the  tokens  "),
      (8L, "ÅÄÖ ünïcode the ẞtraße phrase"),
      (9L, "a b the a b the a b")                // repeated identical runs
    ).toDF("doc_id", "text")
    assertSame(df, maxLen = 4, k = 3)
    assertSame(df, maxLen = 2, k = 5)
    assertSame(df, maxLen = 1, k = 1)
  }

  test("kernel equals the relational form on the sf0.001 corpus") {
    val docs = graft.io.Tables.documents(spark, TestSpark.sf0001)
    assertSame(docs, maxLen = 4, k = 3)
  }

  test("dropped-document shape: empty/null/all-stopword docs yield no rows") {
    val df = Seq((2L, ""), (3L, null.asInstanceOf[String]), (4L, "the of and"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.rakeKeyphrases(df, "doc_id", "text", 4, 3).count() == 0)
  }
}
