package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Scale

class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // one hot key (90% of rows) + a tail
    val large = ((1 to 900).map(_ => ("hot", "L")) ++ (1 to 100).map(i => (s"k$i", "L")))
      .toDF("key", "side")
    val medium = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, k.length))
      .toDF("key", "len")
    val plain = large.join(medium, Seq("key")).groupBy("key").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Scale.saltedJoin(large, medium, "key", saltFactor = 8)
      .groupBy("key").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
    assert(salted("hot") == 900L)
  }

  test("salted join spreads the hot key across salt buckets") {
    val large = (1 to 1000).map(i => ("hot", i)).toDF("key", "i")
    val salted = large.withColumn("_salt",
      pmod(xxhash64(struct(large.columns.map(col).toIndexedSeq: _*)), lit(8)).cast("int"))
    val buckets = salted.groupBy("_salt").count().collect()
    assert(buckets.length == 8, "all salt buckets used")
    assert(buckets.map(_.getLong(1)).max < 500, "no bucket holds the majority")
  }

  test("bucketed table joins without an exchange on the bucket key") {
    val db = spark
    Seq("graft_bucket_a", "graft_bucket_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(loc)
      }
    }
    Scale.writeBucketed((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      "graft_bucket_a", "id", 4)
    Scale.writeBucketed((1 to 1000).map(i => (i.toLong, i * 2)).toDF("id", "w"),
      "graft_bucket_b", "id", 4)
    // tiny test tables would be broadcast; disable it to surface the
    // bucketed sort-merge path a 100 TB join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = db.table("graft_bucket_a").join(db.table("graft_bucket_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted minhash index: indexed incremental dedup equals the direct path with zero corpus-side exchange") {
    import graft.ops.Dedup
    // 40 docs in 4 exact-dup families: the %5==0 increment always collides
    // with corpus members of its family through every minhash band
    val docs = (0L until 40L).map(i =>
      (i, s"sample document number ${i % 4} with shared phrasing across the corpus body"))
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    Seq("t_mh_bands", "t_mh_sets").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "t_mh_bands", "t_mh_sets")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val direct = Dedup.incrementalNearDuplicates(inc, corpus, "doc_id", "text",
        minJaccardBp = 100L).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(direct.nonEmpty, "fixture must produce cross-slice duplicates")
      val indexed = Dedup.incrementalNearDuplicatesIndexed(inc, "doc_id", "text",
        "t_mh_bands", "t_mh_sets", minJaccardBp = 100L)
      val got = indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == direct, "indexed path must answer exactly like the direct path")
      val plan = indexed.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"index tables must be read as bucketed scans:\n$plan")
      // zero exchange above the corpus-side scans: no shuffle node's
      // subtree may contain an index-table scan (the increment side DOES
      // shuffle itself into the index's layout — that is the contract)
      def subtrees(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(subtrees)
      val finalPlan = indexed.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val offending = subtrees(finalPlan)
        .filter(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
        .filter(ex => subtrees(ex).exists(n => n.toString.contains("t_mh_")))
      assert(offending.isEmpty,
        s"corpus-side index scans must not sit under a shuffle:\n${offending.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("t_mh_bands", "t_mh_sets").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("events_pruned: the day predicate prunes to exactly the 3 predicate-day directories") {
    // the full query row (result pinned by the DuckDB oracle) — here the
    // SCAN SHAPE is the subject: PartitionFilters present on the scan node
    // and the planned file set confined to _day ∈ [d0+2, d0+4]
    val dir = TestSpark.sf0001
    assert(SparkEntry.queries("events_pruned")(spark, dir).collect().nonEmpty)
    val path = graft.queries.QuerySupport.ensureEventsPartitioned(spark, dir)
    val ev = spark.read.parquet(path)
    val dayType = ev.schema("_day").dataType
    val d0 = ev.agg(min(col("_day"))).head.get(0).asInstanceOf[Number].longValue
    val pruned = ev.filter(col("_day").between(lit(d0 + 2).cast(dayType), lit(d0 + 4).cast(dayType)))
    // inputFiles ignores filters — ask the scan node itself which
    // partitions survive its PartitionFilters
    val scan = pruned.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    assert(scan.partitionFilters.nonEmpty, "partition filters must reach the scan node")
    val dayOf = "_day=(-?\\d+)".r
    val days = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
      .flatMap(f => dayOf.findFirstMatchIn(f).map(_.group(1).toLong)).toSet
    assert(days.nonEmpty && days.forall(d => d >= d0 + 2 && d <= d0 + 4),
      s"selected partitions leaked outside the predicate days: $days (d0=$d0)")
  }

  test("time-partitioned write prunes directories under a day predicate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = (0 until 200).map(i => (i.toLong, i.toLong * 43200)).toDF("id", "ts_s")
    Scale.writeTimePartitioned(df, tmp, "ts_s")
    val read = spark.read.parquet(tmp).filter(col("_day") === 3)
    assert(read.count() == 2) // two half-day rows per day
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || read.inputFiles.length <= 2,
      "partition pruning should reach the scan")
  }
}
