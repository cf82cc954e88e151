package graft.operators

import graft.util.OpCaches.TrackedPersist

import graft.functions.{CompressFunctions, TextFunctions}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship dedup pipeline (reference §3.1, cmd/api.go:405-588 →
  * pkg/pipeline/pipeline.go) and the §3.2 retrieve broker. Both run the
  * same per-group selection core ([[selectPerGroup]]) in ONE keyed
  * shuffle:
  *
  *   cluster (agglomerative, threshold 0.15, average linkage)
  *     → representative per cluster (by `selectStrategy`)
  *     → MMR re-rank to K (λ=0.5, K=8), or top-K by score
  *
  * then the pipeline's extractive compression (ratio 0.5) runs map-side
  * after selection. The public per-stage operators
  * ([[ClusterOps.agglomerativeCluster]], [[ClusterOps.selectRepresentatives]],
  * [[ClusterOps.mmrRerank]]) compute the same stages composed with
  * join-backs; the `WithStats` wrappers are the staged paths that
  * materialize each stage for the reference's per-stage report.
  */
object PipelineOps {

  final case class PipelineConfig(
      clusterThreshold: Double = 0.15,
      linkage: ClusterAlgs.Linkage = ClusterAlgs.Average,
      selectStrategy: String = "score",
      mmrLambda: Double = 0.5,
      targetK: Int = 8,
      compressRatio: Double = 0.5,
      minChunkLength: Int = 50,
      /** Stage toggles (reference pkg/pipeline/pipeline.go:73-177: any
        * subset of dedup/compress/summarize runs; a disabled stage passes
        * rows through). summarize collapses each surviving chunk to its
        * first-sentence-per-paragraph summary after compression.
        */
      dedupEnabled: Boolean = true,
      compressEnabled: Boolean = true,
      summarizeEnabled: Boolean = false)

  /** One row into [[selectPerGroup]]: (group, id, text, embedding, score). */
  private type Candidate = (Long, Long, String, Array[Float], Double)

  /** The per-group selection core, one `flatMapGroups` pass over the group
    * key: rows sort by id (fixing the reference's insertion-order
    * tie-breaks), cluster agglomeratively, keep one representative per
    * cluster by `strategy`, then MMR the representatives (fed in id order)
    * down to `k` — or, with `mmrLambda` None, keep the top `k` by
    * (score desc, id asc). Every tie-break matches the composed operators:
    * lowest id wins. Returns (group, id, cluster_id, rank, score, text).
    */
  private def selectPerGroup(in: Dataset[Candidate], clusterCfg: ClusterAlgs.ClusterConfig,
                             strategy: String, mmrLambda: Option[Double], k: Int,
                             maxGroupSize: Int): Dataset[(Long, Long, Int, Int, Double, String)] = {
    val spark = in.sparkSession
    import spark.implicits._
    in.groupByKey(_._1).flatMapGroups { (g, it) =>
      val rows = it.toIndexedSeq.sortBy(_._2)
      require(rows.length <= maxGroupSize,
        s"group $g has ${rows.length} rows > maxGroupSize=$maxGroupSize; " +
          "use DedupOps LSH paths for corpus-scale groups (O(N^2)-O(N^3) here)")
      val embs = rows.map(_._4)
      val cids = ClusterAlgs.agglomerate(embs, clusterCfg)
      // text length in code points, as Spark's length() counts them
      // (String.length counts UTF-16 units and diverges on
      // supplementary-plane characters)
      def cpLen(i: Int): Int = {
        val t = rows(i)._3
        if (t == null) 0 else t.codePointCount(0, t.length)
      }
      val reps = rows.indices.groupBy(cids(_)).toSeq.map { case (_, idxs0) =>
        val idxs = idxs0.toIndexedSeq
        strategy match {
          case "score"  => idxs.maxBy(i => (rows(i)._5, -rows(i)._2))
          case "length" => idxs.maxBy(i => (cpLen(i), -rows(i)._2))
          case "centroid" =>
            val cent = ClusterAlgs.centroid(idxs.map(embs(_)))
            idxs.minBy(i => (ClusterAlgs.cosineDist(embs(i), cent), rows(i)._2))
          case "hybrid" =>
            val cent = ClusterAlgs.centroid(idxs.map(embs(_)))
            idxs(ClusterAlgs.selectHybrid(
              idxs.map(i => rows(i)._5), idxs.map(embs(_)),
              idxs.map(cpLen), cent))
          case other => throw new IllegalArgumentException(s"unknown strategy $other")
        }
      }.sortBy(i => rows(i)._2).toIndexedSeq
      val picked = mmrLambda match {
        case Some(lambda) =>
          ClusterAlgs.mmrSelect(reps.map(embs(_)), reps.map(i => rows(i)._5), lambda, k)
            .toSeq.map(reps(_))
        case None => reps.sortBy(i => (rows(i)._5, -rows(i)._2)).reverse.take(k)
      }
      picked.zipWithIndex.map { case (i, rank) =>
        (g, rows(i)._2, cids(i), rank + 1, rows(i)._5, rows(i)._3)
      }
    }
  }

  /** The §3.1 pipeline over any DataFrame with (group, id, text,
    * embedding, score) columns: the selection core in one keyed shuffle,
    * then compression and the optional summary as map-side expressions.
    * Returns (group, id, cluster_id, mmr_rank, score, compressed) with the
    * group, id and score columns in their input types. With dedup off,
    * rows pass through unshuffled (cluster_id 0L, mmr_rank 0).
    */
  def dedupPipeline(df: DataFrame, groupCol: String, idCol: String, textCol: String,
                    embCol: String, scoreCol: String,
                    cfg: PipelineConfig = PipelineConfig(),
                    maxGroupSize: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val selected =
      if (cfg.dedupEnabled) {
        val in = df.select(
            col(groupCol).cast("long"), col(idCol).cast("long"),
            col(textCol).cast("string"), col(embCol), col(scoreCol).cast("double"))
          .as[Candidate]
        val Seq(groupType, idType, scoreType) =
          df.select(col(groupCol), col(idCol), col(scoreCol)).schema.map(_.dataType)
        selectPerGroup(in,
            ClusterAlgs.ClusterConfig(threshold = cfg.clusterThreshold, linkage = cfg.linkage),
            cfg.selectStrategy, Some(cfg.mmrLambda), cfg.targetK, maxGroupSize)
          .toDF("__g", "__id", "cluster_id", "mmr_rank", "__score", "__text")
          .select(col("__g").cast(groupType).as(groupCol),
            col("__id").cast(idType).as(idCol), col("cluster_id"), col("mmr_rank"),
            col("__score").cast(scoreType).as(scoreCol), col("__text").as(textCol))
      } else {
        df.withColumn("cluster_id", lit(0L)).withColumn("mmr_rank", lit(0))
      }

    val compressed =
      if (cfg.compressEnabled)
        selected.withColumn("compressed",
          CompressFunctions.extract_salient(col(textCol), cfg.compressRatio, cfg.minChunkLength))
      else selected.withColumn("compressed", col(textCol))
    val summarized =
      if (cfg.summarizeEnabled)
        compressed.withColumn("compressed",
          CompressFunctions.paragraph_summary(col("compressed")))
      else compressed
    summarized.select(col(groupCol), col(idCol), col("cluster_id"), col("mmr_rank"),
      col(scoreCol), col("compressed"))
  }

  final case class BrokerConfig(
      overFetchK: Int = 50,
      targetK: Int = 8,
      clusterThreshold: Double = 0.15,
      linkage: ClusterAlgs.Linkage = ClusterAlgs.Average,
      mmrLambda: Double = 0.5,
      enableMMR: Boolean = true)

  /** §3.2 retrieve broker (reference pkg/contextlab/broker.go:130-197, with
    * DefaultBrokerConfig's OverFetchK=50 at broker.go:52): per query vector,
    *
    *   over-fetch top-K' chunks (KNN, map-side top-k combine)
    *     → the selection core over the K' chunks, keyed by query, with
    *       score = query similarity (the RerankWithQuery convention,
    *       mmr.go:191-205: retrieval cosine IS the relevance) and
    *       representative by score; MMR down to targetK, or plain top-K
    *       by score when MMR is off
    *
    * Scale shape: the corpus is touched only by the KNN stage and the
    * broadcast embedding join-back (never shuffled whole); the selection
    * runs on nQueries × K' rows. Returns (query_id, neighbor_id, sim,
    * final_rank).
    */
  def retrieveBroker(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String,
                     qidCol: String, qembCol: String,
                     cfg: BrokerConfig = BrokerConfig()): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fetched = KnnOps.bruteForceKnn(
      corpus, queries, cfg.overFetchK, idCol, embCol, qidCol, qembCol)
    val chunks = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(embCol).as("emb"))
      .join(broadcast(fetched), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), lit(null).cast("string"),
        col("emb"), col("sim"))
      .as[Candidate]
    selectPerGroup(chunks,
        ClusterAlgs.ClusterConfig(threshold = cfg.clusterThreshold, linkage = cfg.linkage),
        "score", if (cfg.enableMMR) Some(cfg.mmrLambda) else None, cfg.targetK,
        maxGroupSize = 10000)
      .toDF("query_id", "neighbor_id", "cluster_id", "final_rank", "sim", "text")
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("final_rank"))
  }

  // ── Per-stage observability (reference pkg/pipeline/pipeline.go:16-32
  //    StageStats{InputTokens,OutputTokens,Reduction,Latency} and
  //    pkg/contextlab/broker.go:165-190 BrokerStats{RetrievalLatency,
  //    ClusteringLatency,Retrieved,Clustered,Returned,TotalLatency}) ──

  /** One stage's report: rows/tokens in and out, reduction, wall millis. */
  final case class StageStat(stage: String, enabled: Boolean,
                             rows_in: Long, rows_out: Long,
                             tokens_in: Long, tokens_out: Long,
                             reduction_percent: Double, millis: Long)

  private def countAndTokens(df: DataFrame, textCol: String): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(TextFunctions.tokens_raw(col(textCol))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def pct(tin: Long, tout: Long): Double =
    if (tin > 0) (tin - tout).toDouble / tin * 100 else 0.0

  /** [[dedupPipeline]] plus the reference's per-stage latency/token report:
    * returns (result, stats) where stats has one row per stage
    * (dedup → compress → summarize) and a `total` row. Each stage boundary
    * is materialized (persist + one count/token-sum job) so its wall time
    * and row/token deltas are real — this is the staged observability
    * wrapper; the plain [[dedupPipeline]] stays the zero-overhead path.
    * Results are identical to [[dedupPipeline]] (spec-asserted).
    */
  def dedupPipelineWithStats(df0: DataFrame, groupCol: String, idCol: String,
                             textCol: String, embCol: String, scoreCol: String,
                             cfg: PipelineConfig = PipelineConfig()): (DataFrame, DataFrame) = {
    val spark = df0.sparkSession
    val stats = scala.collection.mutable.ArrayBuffer.empty[StageStat]
    val df = df0.persistTracked
    val (rowsIn, tokensIn) = countAndTokens(df, textCol)
    val totalStart = System.nanoTime()

    def timed(body: => DataFrame): (DataFrame, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val out = body.persistTracked
      val (r, t) = countAndTokens(out, "compressed")
      (out, r, t, (System.nanoTime() - t0) / 1000000L)
    }

    // stage 1: dedup (cluster → representative → MMR); compressed == text here
    val (sel, selRows, selTokens, selMs) = timed {
      dedupPipeline(df, groupCol, idCol, textCol, embCol, scoreCol,
        cfg.copy(compressEnabled = false, summarizeEnabled = false))
    }
    stats += StageStat("dedup", cfg.dedupEnabled, rowsIn, selRows,
      tokensIn, selTokens, pct(tokensIn, selTokens), selMs)

    // stage 2: compress (same expression the pipeline applies)
    val (comp, compRows, compTokens, compMs) =
      if (cfg.compressEnabled) timed {
        sel.withColumn("compressed",
          CompressFunctions.extract_salient(col("compressed"),
            cfg.compressRatio, cfg.minChunkLength))
      } else (sel, selRows, selTokens, 0L)
    stats += StageStat("compress", cfg.compressEnabled, selRows, compRows,
      selTokens, compTokens, pct(selTokens, compTokens), compMs)

    // stage 3: summarize
    val (fin, finRows, finTokens, finMs) =
      if (cfg.summarizeEnabled) timed {
        comp.withColumn("compressed",
          CompressFunctions.paragraph_summary(col("compressed")))
      } else (comp, compRows, compTokens, 0L)
    stats += StageStat("summarize", cfg.summarizeEnabled, compRows, finRows,
      compTokens, finTokens, pct(compTokens, finTokens), finMs)

    stats += StageStat("total", enabled = true, rowsIn, finRows,
      tokensIn, finTokens, pct(tokensIn, finTokens),
      (System.nanoTime() - totalStart) / 1000000L)
    (fin, spark.createDataFrame(stats.toSeq))
  }

  /** [[retrieveBroker]] plus broker.go's stage stats: one row per broker
    * stage (retrieval / clustering / selection) with rows_out = the
    * reference's Retrieved / Clustered / Returned counters, plus `total`.
    * Token columns are zero (the broker stages carry no text). The staged
    * path: the public per-stage operators composed with join-backs, each
    * stage persisted and counted. Results are identical to
    * [[retrieveBroker]] (spec-asserted).
    */
  def retrieveBrokerWithStats(corpus: DataFrame, queries: DataFrame,
                              idCol: String, embCol: String,
                              qidCol: String, qembCol: String,
                              cfg: BrokerConfig = BrokerConfig()): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val stats = scala.collection.mutable.ArrayBuffer.empty[StageStat]
    val totalStart = System.nanoTime()

    // stage 1: over-fetch (KNN) + embedding join-back — broker.go "retrieval"
    var t0 = System.nanoTime()
    val fetched = KnnOps.bruteForceKnn(
      corpus, queries, cfg.overFetchK, idCol, embCol, qidCol, qembCol)
    val chunks = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(embCol).as("emb"))
      .join(broadcast(fetched), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("emb"), col("sim"))
      .persistTracked
    val retrieved = chunks.count()
    stats += StageStat("retrieval", enabled = true, retrieved, retrieved, 0L, 0L,
      0.0, (System.nanoTime() - t0) / 1000000L)

    // stage 2: per-query clustering — broker.go "clustering"
    t0 = System.nanoTime()
    val clustered = ClusterOps.agglomerativeCluster(
      chunks, "query_id", "neighbor_id", "emb",
      ClusterAlgs.ClusterConfig(threshold = cfg.clusterThreshold, linkage = cfg.linkage))
      .persistTracked
    val nClusters = clustered.select(col("group"), col("cluster_id")).distinct().count()
    stats += StageStat("clustering", enabled = true, retrieved, nClusters, 0L, 0L,
      0.0, (System.nanoTime() - t0) / 1000000L)

    // stage 3: representative + MMR/top-K — broker.go selection + rerank
    t0 = System.nanoTime()
    val withCluster = chunks.join(
      clustered,
      chunks("query_id") === clustered("group") && chunks("neighbor_id") === clustered("id"))
      .select(chunks("query_id"), chunks("neighbor_id"), chunks("emb"), chunks("sim"),
        clustered("cluster_id"))
    val reps = ClusterOps.selectRepresentatives(
      withCluster, Seq("query_id", "cluster_id"), "neighbor_id", "emb", "sim", "sim",
      "score")
    val result =
      (if (cfg.enableMMR) {
        val mmr = ClusterOps.mmrRerank(
          reps, "query_id", "neighbor_id", "emb", "sim", cfg.mmrLambda, cfg.targetK)
        reps.join(mmr,
          reps("query_id") === mmr("group") && reps("neighbor_id") === mmr("id"))
          .select(reps("query_id"), reps("neighbor_id"), reps("sim"),
            mmr("mmr_rank").as("final_rank"))
      } else {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        reps.withColumn("final_rank", row_number().over(w))
          .filter(col("final_rank") <= cfg.targetK)
          .select(col("query_id"), col("neighbor_id"), col("sim"), col("final_rank"))
      }).persistTracked
    val returned = result.count()
    stats += StageStat("selection", enabled = true, nClusters, returned, 0L, 0L,
      0.0, (System.nanoTime() - t0) / 1000000L)

    stats += StageStat("total", enabled = true, retrieved, returned, 0L, 0L,
      0.0, (System.nanoTime() - totalStart) / 1000000L)
    (result, spark.createDataFrame(stats.toSeq))
  }

  /** Per-stage stats row mirroring pkg/pipeline/pipeline.go:16-32 /
    * types/chunk.go:122-146: counts, token totals, reduction percent.
    */
  def pipelineStats(input: DataFrame, output: DataFrame,
                    textColIn: String, textColOut: String): DataFrame = {
    val in = input.agg(
      count(lit(1)).as("input_count"),
      sum(TextFunctions.tokens_raw(col(textColIn))).as("input_tokens"))
    val out = output.agg(
      count(lit(1)).as("output_count"),
      sum(TextFunctions.tokens_raw(col(textColOut))).as("output_tokens"))
    in.crossJoin(out)
      .withColumn("reduction_percent",
        when(col("input_tokens") > 0,
          (col("input_tokens") - col("output_tokens")).cast("double") / col("input_tokens") * 100)
          .otherwise(0.0))
  }

  /** Chunk-table construction for the harness data: documents ⋈ embeddings
    * (doc_id = vec_id), score = quality, group = embedding label — the
    * request-group analog.
    */
  def chunkTable(documents: DataFrame, embeddings: DataFrame): DataFrame =
    documents.join(embeddings, documents("doc_id") === embeddings("vec_id"))
      .select(
        col("label").cast("long").as("request_group"),
        col("doc_id"),
        col("text"),
        col("embedding"),
        TextFunctions.quality_score(col("text")).as("score"))
}
