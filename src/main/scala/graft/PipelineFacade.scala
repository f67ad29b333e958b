package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Cluster, CorpusStats, Dedup, Retrieval, Sampling,
  Similarity, TextOps}

/** Single-entry ergonomic surface over the training-data pipeline operators
  * (`graft.pipeline.*`), mirroring [[GraftKG]]'s role for the KG surface:
  * wrap a corpus (or an embedding table) once, then chain the pipeline
  * stages without re-threading column names. All methods return lazy
  * DataFrames; nothing materializes until an action.
  *
  * {{{
  * val c = Graft.corpus(spark.read.parquet(".../documents.parquet"))
  * c.cleanIds().show()                       // exact + near-dup survivors
  * c.qualityTiers().show()                   // CCNet head/middle/tail
  * val v = Graft.vectors(spark.read.parquet(".../embeddings.parquet")
  *   .select($"vec_id" as "id", $"embedding" as "vec", $"label"))
  * v.topK(v.frame.filter($"id" < 20), 5).show()
  * }}}
  */
final class GraftCorpus(val frame: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text") {

  // --- quality / filtering ---
  def stats(): DataFrame = frame.select(col(idCol).as("id"),
    TextOps.tokenCount(col(textCol)).as("n_tokens"),
    TextOps.charCount(col(textCol)).as("n_chars"),
    TextOps.langId(col(textCol)).as("lang_pred"))
  def quality(): DataFrame = frame.select(col(idCol).as("id"),
    TextOps.qualityScore(col(textCol)).as("quality"))
  def filterCascade(): DataFrame =
    TextOps.filterCascade(frame, idCol, textCol)
  def langIdEval(labelCol: String = "lang"): DataFrame =
    TextOps.langIdEval(frame, labelCol, textCol)
  def lengthProfile(groupCol: String = "source"): DataFrame =
    CorpusStats.lengthProfile(frame, groupCol, textCol)
  def repetition(n: Int = 2): DataFrame =
    CorpusStats.repetition(frame, idCol, textCol, n)
  def qualityTiers(): DataFrame =
    CorpusStats.perplexityBuckets(frame, idCol, textCol)
  /** Stupid-Backoff bigram LM score against a model corpus (Brants 2007). */
  def bigramScore(modelDocs: DataFrame, backoff: Double = 0.4): DataFrame =
    CorpusStats.bigramLogProb(frame, modelDocs, idCol, textCol, backoff)

  // --- dedup ---
  def exactDropIds(): DataFrame = Dedup.exactDropIds(frame, idCol, textCol)
  def nearDupPairs(threshold: Double = 0.5): DataFrame =
    Dedup.minhashLshPairs(frame, idCol, textCol,
      shingleN = 4, bands = 8, rowsPerBand = 4, threshold = threshold)
  def dupGroups(threshold: Double = 0.5): DataFrame =
    Dedup.dupGroups(nearDupPairs(threshold))
  def winnowPairs(minShared: Int = 3, maxDocFreq: Long = 0): DataFrame =
    Dedup.winnowPairs(frame, idCol, textCol, minShared = minShared,
                      maxDocFreq = maxDocFreq)
  /** Surviving doc ids after exact + near-dup drops (the end-to-end clean). */
  def cleanIds(threshold: Double = 0.5): DataFrame =
    frame.select(col(idCol))
      .join(exactDropIds().withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .join(dupGroups(threshold).filter(col("id") =!= col("keep_id"))
              .select(col("id").as(idCol)), Seq(idCol), "left_anti")
  /** Maximal duplicated token spans (Lee et al. substring dedup). */
  def duplicatedSpans(n: Int = 8): DataFrame =
    Dedup.duplicatedSpans(frame, idCol, textCol, n)
  /** Corpus with duplicated spans redacted (span-level dedup surgery). */
  def redactSpans(n: Int = 8): DataFrame =
    Dedup.redactSpans(frame, idCol, textCol, n)
  /** Zipf rank-frequency slope over the top-N vocabulary (corpus QA). */
  def zipf(topN: Int = 100): DataFrame =
    CorpusStats.zipfSlope(frame, textCol, topN)
  /** Fresh-batch drop verdicts against this corpus as the deduped base. */
  def incrementalDropIds(fresh: DataFrame): DataFrame =
    Dedup.incrementalDropIds(frame, fresh, idCol, textCol)
  /** Bloom blocklist probe over a content digest of each doc: the corpus
    * columns plus (maybe_member, is_member). */
  def bloomProbe(members: DataFrame, memberKeyCol: String): DataFrame =
    Dedup.bloomProbe(frame.withColumn("_digest", md5(col(textCol))),
                     "_digest", members, memberKeyCol)
      .drop("_digest")

  // --- PII / selection / mixture QA ---
  /** Unicode normalization columns (nfc, accent-folded, casefold of the
    * folded form) — the standard pre-dedup cleaning stage. */
  def normalized(): DataFrame = {
    graft.functions.ArrayKernels.register(frame.sparkSession)
    frame.select(col(idCol).as("id"),
      graft.functions.ArrayKernels.nfcNormalize(col(textCol)).as("nfc"),
      graft.functions.ArrayKernels.stripAccents(col(textCol)).as("folded"),
      lower(graft.functions.ArrayKernels.stripAccents(col(textCol)))
        .as("casefold"))
  }

  def scrub(rules: Seq[(String, String)] = TextOps.defaultPiiRules): DataFrame =
    TextOps.scrub(frame, idCol, textCol, rules)
  def dsirWeights(targetPred: org.apache.spark.sql.Column,
                  buckets: Int = 1024): DataFrame =
    Sampling.dsirLogWeights(frame, idCol, textCol, targetPred, buckets)
  def sourceDivergence(groupCol: String = "source"): DataFrame =
    CorpusStats.sourceDivergence(frame, groupCol, textCol)

  // --- fingerprints / keywords / retrieval ---
  def winnow(k: Int = 4, w: Int = 4): DataFrame =
    TextOps.winnow(frame, idCol, textCol, k, w)
  def collocations(k: Int = 25, minCount: Long = 10): DataFrame =
    CorpusStats.pmiTopK(frame, idCol, textCol, k, minCount)
  def search(query: String, k: Int = 10): DataFrame =
    Retrieval.bm25TopK(frame, idCol, textCol, query, k)

  // --- tokenizer induction ---
  def bpeLearn(merges: Int = 2): DataFrame =
    TextOps.bpeLearnMerges(frame, idCol, textCol, merges)
  def bpeEncode(merges: DataFrame): DataFrame =
    TextOps.bpeEncode(frame, idCol, textCol, merges)
  def bpeEncodeFused(merges: DataFrame): DataFrame =
    TextOps.bpeEncodeFused(frame, idCol, textCol, merges)

  // --- shaping for training ---
  def chunk(window: Int, overlap: Int = 0): DataFrame =
    TextOps.chunk(frame, idCol, textCol, window, overlap)
  def sample(fraction: Double): DataFrame =
    Sampling.hashSample(frame, idCol, fraction)
  def splits(weights: Seq[(String, Double)] =
               Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)): DataFrame =
    Sampling.assignSplits(frame, idCol, weights)
  def temperatureSample(groupCol: String, alpha: Double = 0.5): DataFrame =
    Sampling.temperatureSample(frame, idCol, groupCol, alpha)

  // --- SQL surface ---
  /** Register the corpus and its most composable pipeline stages as temp
    * views so a SQL-only user can chain a mini-pipeline through
    * `spark.sql` alone: `{prefix}docs` (the corpus itself),
    * `{prefix}text_stats` (per-doc `id, n_tokens, n_chars, lang_pred`),
    * `{prefix}dedup_drops` (the exact-dedup drop list, `id`), and
    * `{prefix}sample` (deterministic hash sample of the corpus at
    * `sampleFraction`). Views are LAZY logical plans, not materialized
    * tables — a SQL query joining them optimizes as one Catalyst plan
    * (the document scan is shared, filters and pruning push through the
    * view boundary), so composing views costs the same as composing the
    * DataFrames directly. The KG twin is [[GraftKG.registerViews]]. */
  def registerViews(prefix: String = "graft_",
                    sampleFraction: Double = 0.25): Unit = {
    frame.createOrReplaceTempView(prefix + "docs")
    stats().createOrReplaceTempView(prefix + "text_stats")
    exactDropIds().createOrReplaceTempView(prefix + "dedup_drops")
    Sampling.hashSample(frame, idCol, sampleFraction)
      .createOrReplaceTempView(prefix + "sample")
  }
}

final class GraftVectors(val frame: DataFrame) {
  def topK(queries: DataFrame, k: Int): DataFrame =
    Similarity.bruteTopK(frame, queries, k)
  def hardNegatives(queries: DataFrame, k: Int): DataFrame =
    Similarity.hardNegatives(frame, queries, k)
  def classify(queries: DataFrame, k: Int = 10): DataFrame =
    Similarity.knnClassify(frame, queries, k)
  def labelCentroids(): DataFrame = Similarity.labelCentroids(frame)
  def outliers(k: Int = 3): DataFrame = Similarity.labelOutliers(frame, k)
  def recallOf(approx: DataFrame, truth: DataFrame): DataFrame =
    Similarity.annRecall(truth, approx)
  def kmeans(k: Int, dim: Int, iters: Int = 2): DataFrame =
    Cluster.kmeansFixed(frame, k, dim, iters)
  def nearDupPairs(threshold: Double = 0.9, planes: Int = 6): DataFrame =
    Dedup.embeddingPairs(frame, "id", "vec", threshold, planes)
  def int8Error(): DataFrame = Similarity.int8QuantError(frame)
  /** Dominant principal direction (exact-moment power iteration). */
  def pcaDirection(dim: Int, iters: Int = 3): DataFrame =
    Similarity.pcaPowerDirection(frame, dim, iters)
  /** All-but-the-top projection (Mu & Viswanath 2018). */
  def removeTopDirection(dim: Int, iters: Int = 3): DataFrame =
    Similarity.removeTopDirection(frame, dim, iters)
}

/** Pipeline facade entry points, companion to [[Graft]]'s KG entries. */
object GraftPipeline {
  /** Wrap a document corpus `(idCol BIGINT, textCol STRING, …)`. */
  def corpus(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): GraftCorpus =
    new GraftCorpus(docs, idCol, textCol)

  /** Wrap an embedding table `(id, vec ARRAY<DOUBLE>[, label])`. */
  def vectors(emb: DataFrame): GraftVectors = new GraftVectors(emb)

  /** Ingest a gzip-compressed text corpus (BINARY column → UTF-8 text
    * + sizes + `truncated` flag); partition-local, zero shuffles. */
  def ingestGzip(shards: DataFrame, idCol: String = "id",
                 gzCol: String = "gz"): GraftCorpus =
    new GraftCorpus(TextOps.gunzipCorpus(shards, idCol, gzCol), "id", "text")

  /** Ingest WARC shards (optionally gzipped, the `.warc.gz` layout) into
    * one row per record; partition-local record walk, zero shuffles. */
  def ingestWarc(shards: DataFrame, idCol: String = "shard_id",
                 shardCol: String = "payload"): DataFrame =
    TextOps.warcCorpus(shards, idCol, shardCol)

  /** C4-style per-domain document cap over a `(id, url)` frame. */
  def domainCap(docs: DataFrame, idCol: String, urlCol: String,
                k: Int): DataFrame =
    Sampling.domainCap(docs, idCol, urlCol, k)

  /** Snapshot CDC diff by content fingerprint: (id, status) for every
    * added/removed/changed row between two snapshots. */
  def snapshotDiff(base: DataFrame, cur: DataFrame, idCol: String,
                   fingerprint: org.apache.spark.sql.Column): DataFrame =
    graft.operators.DataLayout.snapshotDiff(base, cur, idCol, fingerprint)

  /** Replay a [[snapshotDiff]] change set onto a base snapshot
    * (delete + upsert merge touching only the changed rows). */
  def applyChanges(base: DataFrame, changes: DataFrame, cur: DataFrame,
                   idCol: String): DataFrame =
    graft.operators.DataLayout.applyChanges(base, changes, cur, idCol)

  /** SCD-2 validity-interval history from two snapshots. */
  def scd2(base: DataFrame, cur: DataFrame, idCol: String,
           fingerprint: org.apache.spark.sql.Column): DataFrame =
    graft.operators.DataLayout.scd2(base, cur, idCol, fingerprint)

  /** The driver-testdata corpus + vectors for a scale-factor dir. */
  def fromTestdata(spark: SparkSession, dir: String)
      : (GraftCorpus, GraftVectors) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"),
              transform(col("embedding"), x => x.cast("double")).as("vec"),
              col("label"))
    (corpus(docs), vectors(emb))
  }
}
