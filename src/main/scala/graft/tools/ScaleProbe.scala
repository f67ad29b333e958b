package graft.tools

import org.apache.spark.sql.functions._

import graft.pipeline.{Cluster, CorpusStats, Dedup, Similarity}
import graft.score.Training
import graft.score.Training.Model

/** Pipeline scale probe: replicate the documents corpus k× (salted ids,
  * mutated first token so replicas are near- not exact dups) and the
  * embeddings corpus k× (slightly offset vectors), then time the pipeline
  * operators — evidence that the LSH/PQ/clustering paths scale with corpus
  * size, not pairs. Usage: runMain graft.tools.ScaleProbe [k] [dir]
  * [only: comma-separated probe names]. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.GraftSession.local(cpus.toInt)

    val base = graft.model.KG.table(spark, dir, "documents")
    val n0 = base.count()
    val docs = base.crossJoin(
        spark.range(k).toDF("rep"))
      .select((col("doc_id") * k + col("rep")).as("doc_id"),
              concat(lit("v"), col("rep"), lit(" "), col("text")).as("text"))
      .localCheckpoint(true)
    println(s"[scale] corpus: ${n0 * k} docs (base $n0 x $k)")

    def time(name: String)(f: => Long): Unit =
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    time("minhash_lsh")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8).count())
    time("simhash")(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count())
    time("exact")(Dedup.exactGroups(docs, "doc_id", "text").count())
    time("contamination")(Cluster.contamination(
      docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 4).count())
    time("contamination_hashed")(Cluster.contamination(
      docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 4,
      hashShingles = true).count())
    time("repetition")(
      CorpusStats.repetition(docs, "doc_id", "text").count())
    time("tfidf_topk")(
      CorpusStats.tfidfTopK(docs, "doc_id", "text", k = 3).count())
    time("winnow")(
      graft.pipeline.TextOps.winnow(docs, "doc_id", "text").count())
    // Substring-span dedup is linear in dup-gram OCCURRENCES (no pair
    // join), so the k×-replicated corpus — where every gram is duplicated
    // k× — is its worst case; hashed keys are the at-scale default.
    time("substring_spans")(
      Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8, hashed = true).count())
    time("span_redact")(
      Dedup.redactSpans(docs, "doc_id", "text", n = 8, hashed = true).count())
    // Asymmetric-probe incremental dedup: fresh batch = 2% of the corpus
    // against the other 98% as base — cost must track the batch, not the
    // base (compare with the symmetric minhash_lsh full-corpus time).
    time("incremental_2pct")(
      graft.pipeline.Dedup.incrementalDropIds(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text").count())
    // Persisted-index incremental: the base signature cost is paid ONCE
    // (index_build), then the nightly probe reads the parquet store —
    // probe time must land well under the recompute path above.
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_scale_idx").toString
    time("incremental_index_build") {
      Dedup.writeIncrementalIndex(docs.filter(col("doc_id") % 50 =!= 0),
                                  "doc_id", "text", idxPath)
      spark.read.parquet(s"$idxPath/bands").count()
    }
    time("incremental_2pct_persisted")(
      Dedup.incrementalDropIdsIndexed(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", idxPath).count())
    time("dsir")(
      graft.pipeline.Sampling.dsirLogWeights(
        docs.withColumn("tgt", col("doc_id") % 5 === 0),
        "doc_id", "text", col("tgt")).count())
    time("pmi_topk")(
      CorpusStats.pmiTopK(docs, "doc_id", "text").count())
    // BPE rounds are linear passes (pair count + top-1 + islands rewrite);
    // learn+encode over the k× corpus must track token count.
    time("bpe_learn_encode")(graft.pipeline.TextOps.bpeTrainTokenize(
      docs, "doc_id", "text", merges = 2)._2.count())

    // Embedding corpus, replicated with per-replica offsets (near- not
    // exact dups, so clustering and ANN see realistic structure).
    val emb0 = graft.score.Embeddings.fromParquet(
      spark, s"$dir/embeddings.parquet")
    val emb = emb0.crossJoin(spark.range(k).toDF("rep"))
      .select((col("id") * k + col("rep")).as("id"),
              transform(col("vec"), x => x + col("rep") * lit(0.001)).as("vec"))
      .localCheckpoint(true)
    println(s"[scale] embeddings: ${emb.count()} vectors")
    time("pq_topk")(Similarity.pqTopK(
      emb, emb.filter(col("id") < 100), k = 10, dim = 64).count())
    time("ivf_topk")(Similarity.ivfTopK(
      emb, emb.filter(col("id") < 100), k = 10, nCentroids = 16, dim = 64).count())
    time("kmeans")(Cluster.kmeansFixed(emb, k = 16, dim = 64, iters = 3).count())
    val lemb = emb.withColumn("label", (col("id") % 7).cast("int"))
    time("hard_negatives")(Similarity.hardNegatives(
      lemb, lemb.filter(col("id") < 100), k = 10).count())
    time("knn_classify")(Similarity.knnClassify(
      lemb, lemb.filter(col("id") < 100), k = 10).count())
    time("label_centroids")(Similarity.labelCentroids(lemb).count())
    // Within-cluster pair cost is Σ|cluster|² BY DESIGN (SemDeDup scales k
    // with the corpus so clusters stay ~constant-sized); probe both a
    // too-coarse and a corpus-proportional clustering to show the knob.
    time("semantic_pairs_k16")(Cluster.semanticPairs(
      emb, k = 16, dim = 64, iters = 2, threshold = 0.999).count())
    time("semantic_pairs_k64")(Cluster.semanticPairs(
      emb, k = 64, dim = 64, iters = 2, threshold = 0.999).count())

    // KG-training probe: replicate the trained subgraph k× as disjoint
    // copies (salted entity ids), so entity AND edge counts scale k× —
    // SGD-step cost must track the edge count; the exhaustive rank eval
    // is quadratic (edges × entities) BY DESIGN and is probed to show
    // exactly that (a sampled-candidate eval reuses the same plan).
    val te = graft.model.KG.edges(spark, dir)
      .filter(col("rel").isin(graft.model.KG.REL_SUPP_NATION,
                              graft.model.KG.REL_NATION_REGION))
    val kedges = te.crossJoin(spark.range(k).toDF("rep"))
      .select((col("src") * k + col("rep")).as("src"), col("rel"),
              (col("dst") * k + col("rep")).as("dst"))
      .localCheckpoint(true)
    val kents = kedges.select(col("src").as("id"))
      .unionAll(kedges.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    println(s"[scale] kg: ${kents.count()} entities, ${kedges.count()} edges")
    time("transe_step")(Training.transeSgd(
      kents, kedges, dim = 8, entSeed = 0.3, relSeed = 1.7).count())
    time("distmult_step")(Training.sgd(Model.DistMult,
      kents, kedges, dim = 8, entSeed = 0.3, relSeed = 1.7).count())
    time("rotate_step")(Training.sgd(Model.RotatE,
      kents, kedges, dim = 8, entSeed = 0.3, relSeed = 1.7).count())
    time("complex_2steps")(Training.sgd(Model.ComplEx,
      kents, kedges, dim = 8, entSeed = 0.3, relSeed = 1.7, steps = 2).count())
    time("rotate_2steps")(Training.sgd(Model.RotatE,
      kents, kedges, dim = 8, entSeed = 0.3, relSeed = 1.7, steps = 2).count())
    time("train_eval_ranks") {
      val p = Training.transeSgd(kents, kedges, dim = 8,
        entSeed = 0.3, relSeed = 1.7)
      Training.ranks(Model.TransE, p, kedges).count()
    }
    // Sampled-candidate eval: the same plan over a 1/16 md5-drawn pool —
    // the (edges × entities) product drops 16×, which is the whole point
    // of the sampled protocol at a large entity set.
    time("train_eval_ranks_sampled16") {
      val p = Training.transeSgd(kents, kedges, dim = 8,
        entSeed = 0.3, relSeed = 1.7)
      Training.ranks(Model.TransE, p, kedges, candMod = 16).count()
    }
    spark.stop()
  }
}
