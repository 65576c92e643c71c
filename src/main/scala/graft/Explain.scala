package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Plan auditor: prints `.explain("formatted")` for the named queries (all
  * when none named) so pushdown/broadcast/codegen can be reviewed per round.
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  *
  * Besides SparkEntry.queries, dumps the `audit_*` plans below: shapes the
  * oracle set runs only in their default (uncapped) form, pinned here so
  * the capped variants' exchange reuse is on record every round.
  */
object Explain {

  /** Audit-only plans — the maxBucket-ENGAGED variants of the dedup/LSH
    * pipelines (the oracle queries default to uncapped) plus the
    * auto-sized LSH path. The thing to confirm in the dump: each cap's
    * window count shares the band join's `Exchange hashpartitioning`
    * (one exchange feeding Window and Join), as the
    * ops/Dedup.scala / ops/Similarity.scala comments claim. */
  private[graft] val auditPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "audit_neardup_capped" -> ((s, dir) =>
      graft.ops.Dedup.nearDuplicates(
        graft.io.Tables.documents(s, dir), "doc_id", "text", maxBucket = 16)),
    "audit_incremental_capped" -> ((s, dir) => {
      val d = graft.io.Tables.documents(s, dir)
      graft.ops.Dedup.incrementalNearDuplicates(
        d.filter(col("doc_id") % 5 === 0), d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", maxBucket = 16)
    }),
    "audit_simhash_capped" -> ((s, dir) =>
      graft.ops.Dedup.simhashCandidates(
        graft.io.Tables.documents(s, dir), "doc_id", "text", maxBucket = 16)),
    "audit_bucketpairs_capped" -> ((s, dir) =>
      graft.ops.Similarity.bucketCandidatePairs(
        graft.io.Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, numBits = 8, maxBucket = 16)),
    "audit_embed_neardup_auto" -> ((s, dir) =>
      graft.ops.Dedup.embeddingNearDuplicates(
        graft.io.Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, thresholdBp = 2500L, targetBucketSize = 100L, maxBucket = 64)),
    "audit_semantic_capped" -> ((s, dir) =>
      // the maxCluster-ENGAGED semantic tier: the degenerate-cell cap's
      // window count must share the cluster join's hash exchange, like
      // every other cap in the family
      graft.ops.Dedup.semanticNearDuplicates(
        graft.io.Tables.embeddings(s, dir), "vec_id", "embedding",
        numClusters = 8, iters = 2, thresholdBp = 2500L, maxCluster = 64)),
    // the persisted-index BUILD plans (bench `prep` of the indexed/
    // streaming incremental rows), on record for the r5→r7 prep-time
    // watch: one fused shingle pass + per-doc aggregate feeding both the
    // bucketed bands write and the bucketed sets write
    "audit_index_build_bands" -> ((s, dir) =>
      graft.ops.Dedup.minhashIndexRelations(
        graft.io.Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")._1),
    "audit_index_build_sets" -> ((s, dir) =>
      graft.ops.Dedup.minhashIndexRelations(
        graft.io.Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")._2),
    // the LM scorer with auto-broadcast OFF: at 100 TB the probability
    // table is a pruned top-V broadcast by CONFIG, not by AQE luck — the
    // audit shape on record is the worst case (SMJ on (w1,w2) against
    // the pinned bigram stream, both count relations shuffled once)
    "audit_lm_scale" -> ((s, dir) =>
      graft.ops.TextAnalysis.lmScore(
        graft.io.Tables.documents(s, dir), "doc_id", "text"))
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val all = SparkEntry.queries ++ auditPlans
    val names = if (args.length > 1) args.drop(1).toSeq else all.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      // audit plans are dumped with auto-broadcast OFF: at fixture scale
      // AQE broadcasts the band relations, hiding the shuffle-join shape
      // (shared hashpartitioning exchange under Window and Join) that the
      // cap claims — and that a 100 TB corpus would actually run
      val audit = auditPlans.contains(name)
      if (audit) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try all(name)(spark, sfDir).explain("formatted")
      catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
      finally if (audit) spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    spark.stop()
  }
}
