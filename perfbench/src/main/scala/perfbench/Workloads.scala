package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chunk.{Chunkers, SectionText}
import graft.embed.Embedders
import graft.enrich.Enrich
import graft.io.{Readers, Tables, Writers}
import graft.norm.Norm
import graft.ops.{Components, Dedup, Sampling, TextAnalysis}
import graft.pipelines.Pipelines
import graft.streaming.StreamingIngest
import graft.vector.VectorOps

/** One operation of a measured run: its timing (no end if it never
  * completed) plus whatever the output checks need to find and judge its
  * result. */
final case class Op(startMs: Double, endMs: Option[Double], units: Long, info: Map[String, Any]) {
  def fields: Map[String, Any] = info ++ Map("start_ms" -> startMs, "end_ms" -> endMs, "units" -> units)
}

/** A benchmark workload: set-up (repeatable, idempotent), a warm-up on its
  * own measured inputs, and the measured loop. `tracer` is set only in a
  * traced run, which calls each layer's public function separately. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def measure(seconds: Double, tag: String, tracer: Option[Tracer]): Seq[Op]
  def summary: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, work: String): Workload =
    name match {
      case "rag_ingest" => new RagIngest(spark, in, work)
      case "curate" => new Curate(spark, in, work)
      case "crawl_stream" => new CrawlStream(spark, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def nowMs: Double = System.nanoTime() / 1e6

  /** Closed loop: run `op` back to back until `seconds` have passed. */
  def closedLoop(seconds: Double)(op: Int => (Long, Map[String, Any])): Seq[Op] = {
    val deadline = nowMs + seconds * 1000
    val ops = ArrayBuffer.empty[Op]
    var i = 0
    while (i == 0 || nowMs < deadline) {
      val t0 = nowMs
      val (units, info) = op(i)
      ops += Op(t0, Some(nowMs), units, info)
      i += 1
    }
    ops.toSeq
  }

  /** Run bookkeeping jobs (row counts for ratios) under their own tag so
    * they are kept out of every layer's and the runtime's totals. */
  def bookkeeping[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Layers.Key)
    sc.setLocalProperty(Layers.Key, "bench")
    try body finally sc.setLocalProperty(Layers.Key, prev)
  }

  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
}

import Workload._

/** Write path: bibliography → DOI normalize/dedupe → resume → enrichment →
  * JATS → chunk → embed → keyed upsert into an existing vector table, then
  * the vector table, failures and summary are written. */
final class RagIngest(spark: SparkSession, in: String, work: String) extends Workload {
  import spark.implicits._
  private val existingPath = s"$work/existing_vectors"
  private def bib: DataFrame =
    Readers.loadCsv(spark, s"$in/bib.csv").select(col("doi"), col("journal"), col("title"))

  /** The vector table a previous run left behind: the resume and update slices. */
  def prepare(): Unit = {
    val records = Pipelines.parseJatsDir(spark, s"$in/jats")
      .join(csv(spark, s"$in/prior.csv"), "pmcid")
      .select(col("pmcid").as("doc_id"), col("sections"))
    Writers.parquetSink(Pipelines.runIngestAndEmbed(records, None, experiment = "exp0"), existingPath)
  }

  def warmup(): Unit = ingest(s"$work/warmup")

  def measure(seconds: Double, tag: String, tracer: Option[Tracer]): Seq[Op] = {
    val n = Files.readAllLines(Paths.get(s"$in/bib.csv")).size - 1L
    closedLoop(seconds) { i =>
      val out = s"$work/$tag$i"
      tracer match {
        case None => ingest(out)
        case Some(t) => ingestTraced(out, t)
      }
      spark.catalog.clearCache()
      (n, Map("out" -> out))
    }
  }

  def ingest(out: String): Unit = {
    val articles = Pipelines.parseJatsDir(spark, s"$in/jats")
    val res = Pipelines.runFulltext(bib, csv(spark, s"$in/idconv.csv"),
      csv(spark, s"$in/efetch_fail.csv"), articles, csv(spark, s"$in/seen.csv"))
    val vectors = Pipelines.runIngestAndEmbed(res.records.withColumn("doc_id", col("pmcid")),
      Some(spark.read.parquet(existingPath)))
    Writers.parquetSink(vectors, s"$out/vectors")
    Writers.csvFailureSink(res.failures, s"$out/failures")
    Writers.summarySink(res.summary, s"$out/summary")
  }

  /** The same lifecycle with each layer called through its own public
    * functions, in the order `runFulltext` and `runIngestAndEmbed` use. */
  def ingestTraced(out: String, t: Tracer): Unit = {
    val input = t.layer("io", 0)(bib)
    val idMap = t.layer("io", 0)(csv(spark, s"$in/idconv.csv"))
    val failMap = t.layer("io", 0)(csv(spark, s"$in/efetch_fail.csv"))
    val seen = t.layer("io", 0)(csv(spark, s"$in/seen.csv"))
    val nFiles = new File(s"$in/jats").list().length.toLong
    val articles = t.layer("jats", nFiles)(Pipelines.parseJatsDir(spark, s"$in/jats"))
    val nInput = rows(input)
    val deduped = t.layer("norm", nInput) {
      input.withColumn("_ord", monotonically_increasing_id())
        .withColumn("doi_norm", Norm.normalizeDoi(col("doi")))
        .na.drop(Seq("doi_norm"))
        .withColumn("_rn", row_number().over(Window.partitionBy(col("doi_norm")).orderBy(col("_ord"))))
        .filter(col("_rn") === 1).drop("_rn")
    }
    val assembled = t.layer("enrich", rows(deduped)) {
      val todo = Enrich.resumeAntiJoin(deduped, seen, "doi_norm")
      Enrich.enrichJoin(todo, idMap, "doi_norm")
        .join(broadcast(articles), Seq("pmcid"), "left")
        .withColumn("body_ok", col("body_len").isNotNull && col("body_len") >= 200)
        .withColumn("ok", col("pmcid").isNotNull && col("article_title").isNotNull && col("body_ok"))
        .join(broadcast(failMap.withColumnRenamed("reason", "_fail_reason")), Seq("doi_norm"), "left")
        .withColumn("reason",
          when(col("ok"), lit(null).cast("string"))
            .when(col("pmcid").isNull, coalesce(col("_fail_reason"), lit("No PMCID")))
            .when(col("article_title").isNull,
              coalesce(col("_fail_reason"), lit("PMC fetch failed (batched only)")))
            .otherwise(lit("abstract_only")))
    }
    bookkeeping(spark) {
      val n = assembled.count().toDouble
      t.add("enrich.hit_ratio", assembled.filter(col("article_title").isNotNull).count() / math.max(n, 1.0))
    }
    val (okRows, failRows) = Enrich.splitFailures(assembled, "ok", "reason")
    val records = okRows.select(col("pmcid").as("doc_id"), col("sections"))
    val chunked = t.layer("chunk", rows(records)) {
      records.select(col("doc_id").cast("string"), col("sections"))
        .as[(String, Seq[(String, String)])]
        .flatMap { case (docId, secs) =>
          Chunkers.chunk("by_section")(docId, secs.map(s => SectionText(s._1, s._2)).toList, 1200, 120)
        }
        .toDF()
        .withColumn("id", Chunkers.chunkId(col("doc_id"), col("chunk_index")))
        .withColumn("meta", struct(
          col("doc_id"), col("section_path"), col("chunk_index"),
          lit("by_section").as("chunker"), lit(1200).as("chunk_size"), lit(120).as("chunk_overlap"),
          lit("hf").as("embed_backend"), lit("hash-projection-64").as("embed_model"),
          lit("exp1").as("experiment")))
    }
    val embedded = t.layer("embed", rows(chunked))(Embedders.embedColumn(chunked, "text", "hf", batchSize = 64))
    val existing = t.layer("io", 0)(spark.read.parquet(existingPath))
    val vectors = t.layer("vector", rows(embedded) + rows(existing))(VectorOps.upsert(existing, embedded, "id"))
    val failures = failRows.select(col("doi"), col("journal"), col("reason"))
    val counts = assembled.agg(
      coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("appended"),
      coalesce(sum(when(!col("ok"), 1L).otherwise(0L)), lit(0L)).as("failures"))
    val summary = deduped.agg(count(lit(1)).as("input_unique_doi")).crossJoin(counts)
      .select(col("input_unique_doi"), col("appended"),
        (col("input_unique_doi") - col("appended") - col("failures")).as("skipped_existing"),
        col("failures"))
    t.span("io") {
      t.add("io.rows_in", (rows(vectors) + rows(failures) + 1).toDouble)
      Writers.parquetSink(vectors, s"$out/vectors")
      Writers.csvFailureSink(failures, s"$out/failures")
      Writers.summarySink(summary, s"$out/summary")
    }
  }

  private def rows(df: DataFrame): Long = bookkeeping(spark)(df.count())
}

/** Shuffle path: the `curation_full` composition over a generated corpus. */
final class Curate(spark: SparkSession, in: String, work: String) extends Workload {
  // the boilerplate synthesis curation_full applies to its input; the
  // traced run replays it, and the traced output is checked equal
  private val BoilerSynth =
    "'subscribe to the ' || source || ' newsletter' || '\n' || " +
      "'promo code SAVE' || CAST(doc_id % 7 AS STRING) || '\n' || " +
      "replace(text, '. ', '\n') || '\n' || " +
      "'copyright ' || source || ' all rights reserved'"

  def prepare(): Unit = ()

  def warmup(): Unit = curate(s"$work/warmup")

  def measure(seconds: Double, tag: String, tracer: Option[Tracer]): Seq[Op] = {
    val n = spark.read.parquet(s"$in/documents.parquet").count()
    closedLoop(seconds) { i =>
      val out = s"$work/$tag$i"
      tracer match {
        case None => curate(out)
        case Some(t) => curateTraced(out, t)
      }
      spark.catalog.clearCache()
      (n, Map("out" -> out))
    }
  }

  def curate(out: String): Unit =
    Writers.parquetSink(graft.SparkEntry.queries("curation_full")(spark, in), out)

  def curateTraced(out: String, t: Tracer): Unit = {
    val docs = t.layer("io", 0)(Tables.documents(spark, in))
    val nDocs = rows(docs)
    val noBoiler = t.layer("ops.text", nDocs) {
      TextAnalysis.removeBoilerplateLines(docs.withColumn("text", expr(BoilerSynth)),
        "doc_id", "text", "source", maxDocFreq = 10L).select(col("doc_id"), col("clean_text"))
    }
    val cleaned = t.layer("ops.dedup", rows(noBoiler)) {
      Dedup.removeDuplicatedSpans(noBoiler, "doc_id", "clean_text", k = 5)
        .select(col("doc_id"), col("clean_text").as("text"))
    }
    val nCleaned = rows(cleaned)
    val gatedMeta = t.layer("ops.text", nCleaned) {
      TextAnalysis.quality(cleaned, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .filter(col("quality_score") >= 45)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
    }
    val nGated = rows(gatedMeta)
    t.add("ops.text.gate_pass_ratio", nGated.toDouble / math.max(nCleaned, 1L))
    val gatedText = cleaned.join(broadcast(gatedMeta.select(col("doc_id"))), "doc_id")
    val pairs = t.layer("ops.dedup", nGated) {
      Dedup.minhashCandidates(gatedText, "doc_id", "text", k = 3, numHashes = 16, maxBucket = Int.MaxValue)
    }
    bookkeeping(spark) {
      val nPairs = pairs.count()
      val confirmed = Dedup.ngramJaccard(pairs, gatedText, "doc_id", "text", 3)
        .filter(col("jaccard_bp") >= 5000).count()
      t.add("ops.dedup.candidate_pairs", nPairs.toDouble)
      t.add("ops.dedup.useful_ratio", confirmed.toDouble / math.max(nPairs, 1L))
    }
    val clustered = t.layer("ops.components", rows(pairs)) {
      Components.clusterDocuments(gatedMeta, "doc_id", pairs, "doc_a", "doc_b")
    }
    val reps = t.layer("ops.dedup", rows(clustered)) {
      Dedup.keepBest(clustered.join(gatedMeta.select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score")), "doc_id"), "cluster_id", "doc_id", "quality_score")
    }
    val budgeted = t.layer("ops.sampling", rows(reps)) {
      Sampling.tokenBudgetPerKey(reps, "source", "doc_id", "n_tokens", "quality_score", budget = 1000L)
        .select(col("source"), col("doc_id"), col("cluster_size").cast("long").as("cluster_size"),
          col("n_tokens"), col("quality_score"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    }
    t.span("io") {
      t.add("io.rows_in", rows(budgeted).toDouble)
      Writers.parquetSink(budgeted, out)
    }
  }

  override def summary: Map[String, Any] =
    Map("oracle_sql" -> graft.SparkEntry.oracleSql("curation_full"))

  private def rows(df: DataFrame): Long = bookkeeping(spark)(df.count())
}

/** Open loop: increment files arrive on a fixed schedule, independent of
  * progress, and the engine repeatedly runs the streaming incremental
  * dedup with a quality gate against a minhash index persisted in set-up.
  * A file's latency runs from its scheduled drop until the call that
  * committed it returns. */
final class CrawlStream(spark: SparkSession, in: String, work: String) extends Workload {
  private val bands = "perfbench_mh_bands"
  private val sets = "perfbench_mh_sets"
  private val truth = graft.io.JsonTree.parse(new String(Files.readAllBytes(Paths.get(s"$in/truth.json")), "UTF-8"))
    .asInstanceOf[Map[String, Any]]
  private val rate = truth("rate_per_s").asInstanceOf[Number].doubleValue
  private val files = truth("files").asInstanceOf[Seq[Map[String, Any]]]
  private val warmFiles = files.filter(_("warmup") == true).map(_("name").toString)
  private val measuredFiles = files.filterNot(_("warmup") == true).map(_("name").toString)
  private var used = 0

  private def gate(b: DataFrame): DataFrame =
    b.join(TextAnalysis.quality(b, "doc_id", "text").select(col("doc_id"), col("quality_score")), "doc_id")
      .filter(col("quality_score") >= 60)

  def prepare(): Unit =
    Dedup.writeMinhashIndex(Tables.documents(spark, in), "doc_id", "text", bands, sets)

  def warmup(): Unit = {
    val dir = s"$work/warmup"
    new File(s"$dir/watch").mkdirs()
    // the first calls of a JVM run several times slower; four calls over
    // the warm-up files leave the measured calls at their steady cost
    warmFiles.grouped(math.max(1, warmFiles.size / 4)).foreach { g =>
      g.foreach(f => Files.copy(Paths.get(s"$in/pending/$f"), Paths.get(s"$dir/watch/$f")))
      once(s"$dir/watch", s"$dir/out", s"$dir/ckpt", None)
    }
  }

  private def once(watch: String, out: String, ckpt: String, t: Option[Tracer]): Unit = {
    val transform: DataFrame => DataFrame = t match {
      case None => gate
      case Some(tr) => b => {
        val g = tr.layer("ops.text", bookkeeping(spark)(b.count()))(gate(b))
        // the novelty probe and the append that follow run on this thread
        spark.sparkContext.setLocalProperty(Layers.Key, "ops.dedup")
        g
      }
    }
    StreamingIngest.runDedupIncrementalOnce(spark, watch, out, ckpt, bands, sets, "doc_id", "text",
      glob = "*.parquet", minJaccardBp = 5000L, transform = transform)
  }

  /** Files named in the source log batches not read before. */
  private def committed(ckpt: String, seenLogs: collection.mutable.Set[String]): Seq[String] = {
    val dir = new File(s"$ckpt/sources/0")
    val logs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => !f.getName.startsWith(".") && !seenLogs.contains(f.getName))
    logs.flatMap { f =>
      seenLogs += f.getName
      "\"path\":\"([^\"]+)\"".r.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName).toSeq
    }.distinct
  }

  def measure(seconds: Double, tag: String, tracer: Option[Tracer]): Seq[Op] = {
    val n = math.min(measuredFiles.size - used, math.round(seconds * rate).toInt)
    val mine = measuredFiles.slice(used, used + n)
    used += n
    val base = s"$work/$tag"
    val watch = s"$base/watch"
    new File(watch).mkdirs()
    val t0 = nowMs + 50
    val due = mine.zipWithIndex.map { case (f, i) => f -> (t0 + i * 1000.0 / rate) }.toMap
    val dropped = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // the load generator: moves each file into the watched directory when
    // it is due, however far the engine has fallen behind
    val gen = new Thread(() => mine.foreach { f =>
      val wait = due(f) - nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.copy(Paths.get(s"$in/pending/$f"), Paths.get(s"$base/$f.tmp"))
      Files.move(Paths.get(s"$base/$f.tmp"), Paths.get(s"$watch/$f"), StandardCopyOption.ATOMIC_MOVE)
      dropped.put(f, nowMs)
    })
    gen.setDaemon(true)
    gen.start()
    val seenLogs = collection.mutable.Set.empty[String]
    val done = collection.mutable.Map.empty[String, Op]
    val hardStop = t0 + seconds * 1000 + 60000
    while (done.size < mine.size && nowMs < hardStop) {
      if (dropped.size > done.size) {
        val c0 = nowMs
        tracer match {
          case None => once(watch, s"$base/out", s"$base/ckpt", None)
          case Some(t) => t.span("streaming")(once(watch, s"$base/out", s"$base/ckpt", tracer))
        }
        val c1 = nowMs
        committed(s"$base/ckpt", seenLogs).filter(due.contains).foreach { f =>
          done(f) = Op(due(f), Some(c1), 1L, Map("file" -> f, "call_start_ms" -> c0,
            "dropped_ms" -> dropped.get(f), "out" -> s"$base/out"))
        }
      } else Thread.sleep(2)
    }
    gen.join()
    // a file the engine never committed is reported, and fails its check
    mine.map(f => done.getOrElse(f, Op(due(f), None, 1L, Map("file" -> f,
      "dropped_ms" -> dropped.get(f), "out" -> s"$base/out"))))
  }

  override def summary: Map[String, Any] = Map("rate_per_s" -> rate)
}
