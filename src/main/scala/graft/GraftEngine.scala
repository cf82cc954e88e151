package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Verb-level facade: one method per tool/verb the reference engine exposes
  * over MCP/CLI (/root/reference/cmd/mcp.go:309-534, cmd/mcp_memory.go,
  * cmd/mcp_session.go), so a user of the reference can find each capability
  * under the name they already know. Each method is a thin delegation to the
  * batch operators — DataFrames in, DataFrames out; state tables are
  * copy-on-write (callers persist the returned table state wherever they
  * keep it: parquet, Delta, a catalog table).
  *
  * | reference tool          | here                          |
  * |-------------------------|-------------------------------|
  * | deduplicate_chunks      | [[deduplicateChunks]]         |
  * | retrieve_deduplicated   | [[retrieveDeduplicated]]      |
  * | analyze_redundancy      | [[analyzeRedundancy]]         |
  * | store_memory            | [[storeMemory]]               |
  * | recall_memory           | [[recallMemory]]              |
  * | forget_memory           | [[forgetMemory]]              |
  * | memory_expire           | [[memoryExpire]]              |
  * | memory_supersede        | [[memorySupersede]]           |
  * | memory_stats            | [[memoryStats]]               |
  * | push_session            | [[pushSession]]               |
  * | session_context         | [[sessionContext]]            |
  * | create_session / delete_session | table row add/remove — [[deleteSession]] |
  */
object GraftEngine {

  /** Release every DataFrame the operators persisted internally (dedup
    * probes, LSH banding inputs, staged-path stage outputs) and every
    * memoized registry projection and distinct estimate. Call after
    * materializing results in a long-lived session; un-materialized results
    * stay correct and simply recompute from lineage.
    */
  def releaseCaches(): Unit = {
    graft.util.OpCaches.release()
    graft.core.MetaCache.clear() // memoized registry/zone-map projections
  }

  /** deduplicate_chunks: the §3.1 pipeline (cluster → representative → MMR →
    * compress) over (group, id, text, embedding, score) chunks — one keyed
    * shuffle through the selection core [[retrieveDeduplicated]] shares.
    */
  def deduplicateChunks(chunks: DataFrame, groupCol: String, idCol: String,
                        textCol: String, embCol: String, scoreCol: String,
                        cfg: PipelineOps.PipelineConfig = PipelineOps.PipelineConfig()): DataFrame =
    PipelineOps.dedupPipeline(chunks, groupCol, idCol, textCol, embCol, scoreCol, cfg)

  /** retrieve_deduplicated: over-fetch KNN → cluster → select → MMR/top-K;
    * everything after the KNN is the [[deduplicateChunks]] selection core
    * keyed by query.
    */
  def retrieveDeduplicated(corpus: DataFrame, queries: DataFrame,
                           idCol: String, embCol: String,
                           qidCol: String, qembCol: String,
                           cfg: PipelineOps.BrokerConfig = PipelineOps.BrokerConfig()): DataFrame =
    PipelineOps.retrieveBroker(corpus, queries, idCol, embCol, qidCol, qembCol, cfg)

  /** deduplicate_chunks with the reference's per-stage report (every broker
    * response carries Stats — pipeline.go:16-32): returns (result, stats),
    * stats = one row per stage (dedup/compress/summarize/total) with rows,
    * token totals, reduction percent, and wall millis. The staged path:
    * each stage boundary is materialized so its figures are real.
    */
  def deduplicateChunksWithStats(chunks: DataFrame, groupCol: String, idCol: String,
                                 textCol: String, embCol: String, scoreCol: String,
                                 cfg: PipelineOps.PipelineConfig = PipelineOps.PipelineConfig())
  : (DataFrame, DataFrame) =
    PipelineOps.dedupPipelineWithStats(chunks, groupCol, idCol, textCol, embCol, scoreCol, cfg)

  /** retrieve_deduplicated with broker.go:165-190's stage stats
    * (retrieval/clustering/selection latencies + Retrieved/Clustered/
    * Returned counters): returns (result, stats). The staged path: the
    * public per-stage operators, each stage materialized and counted.
    */
  def retrieveDeduplicatedWithStats(corpus: DataFrame, queries: DataFrame,
                                    idCol: String, embCol: String,
                                    qidCol: String, qembCol: String,
                                    cfg: PipelineOps.BrokerConfig = PipelineOps.BrokerConfig())
  : (DataFrame, DataFrame) =
    PipelineOps.retrieveBrokerWithStats(corpus, queries, idCol, embCol, qidCol, qembCol, cfg)

  /** analyze_redundancy: cluster without selecting; per-cluster members +
    * group redundancy ratio.
    */
  def analyzeRedundancy(chunks: DataFrame, groupCol: String, idCol: String,
                        embCol: String, threshold: Double = 0.15): DataFrame =
    ClusterOps.analyzeRedundancy(chunks, groupCol, idCol, embCol, threshold)

  /** store_memory: MERGE-style write — dedup probe, touch-on-dup, conflict
    * surfacing, sensitivity auto-classification. Returns (newStore, report).
    */
  def storeMemory(memories: DataFrame, newEntries: DataFrame, now: Column,
                  cfg: MemoryOps.WriteDedupConfig = MemoryOps.WriteDedupConfig(),
                  autoClassify: Boolean = true): (DataFrame, DataFrame) =
    MemoryOps.mergeWrite(memories, newEntries, now, cfg, autoClassify)

  /** recall_memory: filtered, scored, ranked, budget-cut recall with the
    * cache-boundary hint and sensitivity metadata.
    */
  def recallMemory(memories: DataFrame, queryEmbedding: Option[Array[Float]],
                   params: MemoryOps.RecallParams, now: Column): DataFrame =
    MemoryOps.recallWithHints(memories, queryEmbedding, params, now)

  /** forget_memory: hard delete by predicate (ids/tags/source/session). */
  def forgetMemory(memories: DataFrame, predicate: Column): DataFrame =
    MemoryOps.forget(memories, predicate)

  /** memory_expire: soft delete (expired flag + timestamp). */
  def memoryExpire(memories: DataFrame, predicate: Column, now: Column): DataFrame =
    MemoryOps.expire(memories, predicate, now)

  /** memory_supersede: expire oldId, point it at newId. */
  def memorySupersede(memories: DataFrame, oldId: String, newId: String, now: Column): DataFrame =
    MemoryOps.supersede(memories, oldId, newId, now)

  /** memory_stats: per-level counts, expiry counts, age range. */
  def memoryStats(memories: DataFrame): DataFrame = MemoryOps.stats(memories)

  /** push_session (batch): content-hash change detection + embedding dedup
    * against earlier entries of the same session. The streaming form is
    * [[graft.streaming.StreamingOps.sessionPushPipeline]].
    */
  def pushSession(newEntries: DataFrame, existing: DataFrame,
                  dedupThreshold: Double = 0.15): DataFrame =
    SessionOps.pushDedup(newEntries, existing, dedupThreshold)

  /** session_context: role filter, seq order, take-while token budget. */
  def sessionContext(entries: DataFrame, sessionId: String, role: Option[String] = None,
                     maxTokens: Int = 0): DataFrame =
    SessionOps.contextRead(entries, sessionId, role, maxTokens)

  /** delete_session: drop a session's rows (create_session is just adding a
    * row to the sessions table — no engine work).
    */
  // ── training-pipeline verbs (engine additions beyond the reference's
  //    MCP surface; see COVERAGE.md "Training-pipeline additions") ──

  /** fingerprint_documents: winnowing fingerprints per document. */
  def fingerprintDocuments(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 3, w: Int = 4): DataFrame =
    operators.DedupOps.winnowFingerprints(docs, textCol, idCol, k, w)

  /** near_dup_candidates: fingerprint-overlap candidate pairs. */
  def nearDupCandidates(docs: DataFrame, textCol: String, idCol: String,
                        minShared: Int = 2, maxHashFreq: Long = 0L): DataFrame =
    operators.DedupOps.fingerprintNearDupPairs(docs, textCol, idCol,
      minShared = minShared, maxHashFreq = maxHashFreq)

  /** cluster_corpus: LSH-blocked agglomerative clustering at corpus scale. */
  def clusterCorpus(df: DataFrame, idCol: String, embCol: String,
                    threshold: Double = 0.15, blockBits: Int = 12): DataFrame =
    operators.ClusterOps.lshBlockedCluster(df, idCol, embCol,
      operators.ClusterAlgs.ClusterConfig(threshold = threshold), blockBits)

  /** search_vectors: approximate KNN — "brute" | "ivf" | "lsh". */
  def searchVectors(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String, embCol: String, qidCol: String, qembCol: String,
                    method: String = "brute"): DataFrame = method match {
    case "brute" => operators.KnnOps.bruteForceKnn(corpus, queries, k, idCol, embCol, qidCol, qembCol)
    case "ivf"   => operators.KnnOps.ivfKnn(corpus, queries, k, idCol, embCol, qidCol, qembCol)
    case "lsh"   => operators.KnnOps.lshKnn(corpus, queries, k, idCol, embCol, qidCol, qembCol)
    case "lsh-multiprobe" =>
      operators.KnnOps.lshKnnMultiProbe(corpus, queries, k, idCol, embCol, qidCol, qembCol)
    case other   => throw new IllegalArgumentException(s"unknown search method $other")
  }

  def deleteSession(entries: DataFrame, sessionId: String): DataFrame =
    // null-safe: a plain =!= would silently drop rows with a NULL session_id
    entries.filter(!(col("session_id") <=> lit(sessionId)))

  /** build_dedup_index / probe_dedup_index: incremental near-dup detection
    * of new batches against a persisted corpus signature index.
    */
  def buildDedupIndex(docs: DataFrame, textCol: String, idCol: String,
                      path: Option[String] = None): operators.DedupOps.MinhashIndex = {
    val idx = operators.DedupOps.buildMinhashIndex(docs, textCol, idCol)
    path.foreach(p => operators.DedupOps.saveMinhashIndex(idx, p))
    idx
  }

  def probeDedupIndex(index: operators.DedupOps.MinhashIndex, batch: DataFrame,
                      textCol: String, idCol: String,
                      threshold: Double = 0.8): DataFrame =
    operators.DedupOps.probeMinhashIndex(index, batch, textCol, idCol, threshold)

  /** append_dedup_index / compact_dedup_index: the persisted-index ingest
    * lifecycle (probe → accept → append at O(batch); compact when append
    * file sets accumulate).
    */
  def appendDedupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       batch: DataFrame, textCol: String, idCol: String): Unit =
    operators.DedupOps.appendMinhashIndex(spark, path, batch, textCol, idCol)

  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        targetFiles: Int = 32): Unit =
    operators.DedupOps.compactMinhashIndex(spark, path, targetFiles)

  /** append_vector_index: O(batch) vector ingest into a persisted IVF
    * index against its frozen centroids (refit periodically as the
    * distribution drifts). */
  def appendVectorIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        batch: DataFrame, idCol: String, embCol: String): Unit =
    operators.KnnOps.appendIvfIndex(spark, path, batch, idCol, embCol)

  /** append_lexical_index: O(batch) BM25 posting append — statistics
    * derive at query time, so no stats merge is needed. */
  def appendLexicalIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         batch: DataFrame, textCol: String, idCol: String): Unit =
    operators.Bm25Ops.appendBm25Index(spark, path, batch, textCol, idCol)

  /** compact_vector_index / compact_lexical_index: periodic tiny-file
    * rewrite for the appended-to persisted indexes (crash-safe swap,
    * [[graft.util.IndexMaint.compactTable]]). */
  def compactVectorIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         targetFiles: Int = 32): Unit =
    operators.KnnOps.compactIvfIndex(spark, path, targetFiles)

  def compactLexicalIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                          targetFiles: Int = 32): Unit =
    operators.Bm25Ops.compactBm25Index(spark, path, targetFiles)

  /** exact_novel_rows: Bloom-prefiltered exact batch dedup — the accept
    * list of batch rows whose key is not in the corpus.
    */
  def exactNovelRows(corpusKeys: DataFrame, batch: DataFrame, keyCol: String,
                     fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    val bf = operators.DedupOps.buildBloomIndex(corpusKeys, keyCol, fpp, expectedItems)
    operators.DedupOps.bloomNovelRows(corpusKeys, bf, batch, keyCol)
  }

  /** containment_pairs: sub-document (quote/contained-passage) near-dup. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       minShared: Int = 2, tau: Double = 0.5): DataFrame =
    operators.DedupOps.containmentPairs(docs, textCol, idCol,
      minShared = minShared, tau = tau)

  /** cdc_chunks: content-defined chunking (edit-stable chunk boundaries). */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                k: Int = 4, divisor: Long = 8L): DataFrame =
    operators.DedupOps.cdcChunks(docs, textCol, idCol, k, divisor)

  /** assign_splits: deterministic train/val/test split labels. */
  def assignSplits(df: DataFrame, key: org.apache.spark.sql.Column,
                   splits: Seq[(String, Double)]): DataFrame =
    operators.CorpusOps.assignSplits(df, key, splits)

  /** GPT-style concat-then-chunk sequence packing: per-shard deterministic
    * shuffle + fixed token windows; see [[operators.CorpusOps.packSequences]].
    */
  def packSequences(df: DataFrame, key: org.apache.spark.sql.Column,
                    tokens: org.apache.spark.sql.Column,
                    windowTokens: Long, shards: Int = 1024): DataFrame =
    operators.CorpusOps.packSequences(df, key, tokens, windowTokens, shards)

  /** canonical_url: web-corpus URL normalization for URL-level dedup. */
  def canonicalUrl(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    functions.TextFunctions.canonical_url(u)

  /** repeated_spans / strip_repeated_spans: the published repeated-substring
    * dedup pass — word n-grams occurring >= minCount times corpus-wide merge
    * into maximal per-doc spans; strip cuts them out of the text.
    */
  def repeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 8, minCount: Long = 2L): DataFrame =
    operators.DedupOps.repeatedSpans(docs, textCol, idCol, n, minCount)

  def stripRepeatedSpans(docs: DataFrame, spans: DataFrame,
                         textCol: String, idCol: String): DataFrame =
    operators.DedupOps.stripRepeatedSpans(docs, spans, textCol, idCol)

  /** strip_boilerplate: remove corpus-frequent segments from every doc. */
  def stripBoilerplate(docs: DataFrame, idCol: String,
                       segs: org.apache.spark.sql.Column, minDf: Long,
                       joiner: String = " "): DataFrame =
    operators.CorpusOps.stripBoilerplate(docs, idCol, segs, minDf, joiner)

  /** tfidf_terms: top-k TF-IDF terms per document. */
  def tfidfTerms(docs: DataFrame, textCol: String, idCol: String, k: Int = 5): DataFrame =
    operators.CorpusOps.tfidfTopTerms(docs, textCol, idCol, k)

  /** sample_corpus: deterministic (optionally stratified) hash sampling. */
  def sampleCorpus(docs: DataFrame, key: org.apache.spark.sql.Column,
                   fraction: Double): DataFrame =
    operators.CorpusOps.hashSample(docs, key, fraction)

  /** mix_corpus: token-budgeted per-source training mix. */
  def mixCorpus(docs: DataFrame, key: org.apache.spark.sql.Column,
                strataCol: String, tokensCol: String,
                budgets: Map[String, Long]): DataFrame =
    operators.CorpusOps.trainingMix(docs, key, strataCol, tokensCol, budgets)

  /** temperature_mix: mT5/XLM-R alpha-sampling rebalancing — per-stratum
    * keep rates derived from the corpus token distribution (∝ n^alpha),
    * then a deterministic ticket keep. */
  def temperatureMixCorpus(docs: DataFrame, key: org.apache.spark.sql.Column,
                           strataCol: String, tokensCol: String,
                           targetTokens: Long, alpha: Double = 0.5): DataFrame =
    operators.CorpusOps.temperatureMix(docs, key, strataCol, tokensCol,
      targetTokens, alpha)

  /** retain_best: near-dup components keep their best-scoring member
    * (quality/length/recency) instead of the min-id one. */
  def retainBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                 score: org.apache.spark.sql.Column): DataFrame =
    operators.DedupOps.retainBestPerCluster(docs, pairs, idCol, score)

  /** semantic_dedup: SemDeDup over k-means cells — cosine-threshold
    * duplicate groups within each cell, one survivor per group
    * ([[operators.ClusterOps.semDedup]]; use
    * [[operators.ClusterOps.semDedupAssigned]] with a precomputed
    * clustering).
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String, eps: Double,
                    k0: Int = 0, nHint: Long = 0L,
                    fitFraction: Double = 1.0): DataFrame =
    operators.ClusterOps.semDedup(df, idCol, embCol, eps, k0 = k0,
      nHint = nHint, fitFraction = fitFraction)

  /** search_text: BM25 lexical top-k retrieval — the sparse leg beside
    * [[searchVectors]]' dense one ([[operators.Bm25Ops.bm25TopK]]).
    */
  def searchText(docs: DataFrame, textCol: String, idCol: String,
                 queries: DataFrame, queryIdCol: String, queryTextCol: String,
                 k: Int, k1: Double = 1.5, b: Double = 0.75): DataFrame =
    operators.Bm25Ops.bm25TopK(docs, textCol, idCol, queries, queryIdCol,
      queryTextCol, k, k1, b)

  /** fuse_rankings: reciprocal-rank fusion of lexical/dense retrieval legs
    * in exact integer arithmetic ([[operators.Bm25Ops.rrfFuse]]).
    */
  def fuseRankings(rankings: Seq[DataFrame], queryIdCol: String,
                   docIdCol: String, rankCol: String, k: Int,
                   c: Long = 60L): DataFrame =
    operators.Bm25Ops.rrfFuse(rankings, queryIdCol, docIdCol, rankCol, k, c)

  /** build_text_index / save / load / query: the persisted BM25 serving
    * shape — build the inverted index once, query every batch after
    * ([[operators.Bm25Ops.buildBm25Index]] and friends).
    */
  def buildTextIndex(docs: DataFrame, textCol: String, idCol: String): operators.Bm25Ops.Bm25Index =
    operators.Bm25Ops.buildBm25Index(docs, textCol, idCol)

  def saveTextIndex(index: operators.Bm25Ops.Bm25Index, path: String): Unit =
    operators.Bm25Ops.saveBm25Index(index, path)

  def loadTextIndex(spark: org.apache.spark.sql.SparkSession, path: String): operators.Bm25Ops.Bm25Index =
    operators.Bm25Ops.loadBm25Index(spark, path)

  def queryTextIndex(index: operators.Bm25Ops.Bm25Index, queries: DataFrame,
                     queryIdCol: String, queryTextCol: String, k: Int,
                     k1: Double = 1.5, b: Double = 0.75,
                     maxDfFraction: Double = 1.0): DataFrame =
    operators.Bm25Ops.bm25Query(index, queries, queryIdCol, queryTextCol, k,
      k1, b, maxDfFraction)

  /** train_quality_model: closed-form multinomial-NB sufficient statistics
    * from a labeled corpus (GPT-3-style learned quality filter; see
    * [[operators.QualityOps.nbTrain]]).
    */
  def trainQualityModel(labeled: DataFrame, textCol: String, labelCol: String): DataFrame =
    operators.QualityOps.nbTrain(labeled, textCol, labelCol)

  /** score_quality: per-document NB quality score + keep/drop prediction
    * against a trained model ([[operators.QualityOps.nbScore]]).
    */
  def scoreQuality(docs: DataFrame, model: DataFrame, textCol: String,
                   idCol: String): DataFrame =
    operators.QualityOps.nbScore(docs, model, textCol, idCol)

  /** fit_language_model / lm_score: frozen add-one unigram LM — fit once on
    * a curated reference, score every ingest batch against the same model
    * ([[operators.CorpusOps.fitUnigramLm]]/[[operators.CorpusOps.lmScore]]).
    */
  def fitLanguageModel(ref: DataFrame, textCol: String): DataFrame =
    operators.CorpusOps.fitUnigramLm(ref, textCol)

  def lmScore(docs: DataFrame, model: DataFrame, textCol: String,
              idCol: String): DataFrame =
    operators.CorpusOps.lmScore(docs, model, textCol, idCol)

  /** Per-language form: one frozen model per stratum (CCNet's per-language
    * KenLMs); docs score against their own language's model only.
    */
  def fitLanguageModelStrata(ref: DataFrame, textCol: String,
                             strataCol: String): DataFrame =
    operators.CorpusOps.fitUnigramLmStrata(ref, textCol, strataCol)

  def lmScoreStrata(docs: DataFrame, model: DataFrame, textCol: String,
                    idCol: String, strataCol: String): DataFrame =
    operators.CorpusOps.lmScoreStrata(docs, model, textCol, idCol, strataCol)

  /** prepare_training_corpus: the documents-in, training-layout-out
    * composition — learned quality filter → exact dedup → sequence packing
    * as one Catalyst plan ([[operators.CorpusOps.prepareTrainingCorpus]]).
    */
  def prepareTrainingCorpus(docs: DataFrame, textCol: String, idCol: String,
                            labeled: DataFrame, labelCol: String,
                            windowTokens: Long = 512L,
                            shards: Int = 1024): DataFrame =
    operators.CorpusOps.prepareTrainingCorpus(docs, textCol, idCol, labeled,
      labelCol, windowTokens, shards)

  /** chunk_corpus: sliding-window token chunks (RAG/embedding prep) —
    * overlapping fixed-token windows, map-only
    * ([[operators.CorpusOps.slidingTokenChunks]]).
    */
  def chunkCorpus(docs: DataFrame, textCol: String, idCol: String,
                  chunkTokens: Int, stride: Int): DataFrame =
    operators.CorpusOps.slidingTokenChunks(docs, textCol, idCol, chunkTokens, stride)

  /** materialize_training_windows: the actual fixed-length token arrays a
    * pretraining loader memory-maps, assembled from any pre-tokenized
    * array column in pack order
    * ([[operators.CorpusOps.materializePackedWindows]]).
    */
  def materializeTrainingWindows(df: DataFrame, key: org.apache.spark.sql.Column,
                                 toksCol: String, windowTokens: Long,
                                 shards: Int = 1024): DataFrame =
    operators.CorpusOps.materializePackedWindows(df, key, toksCol, windowTokens, shards)

  /** evaluate_retrieval: recall@k / MRR@k / nDCG@k per query over any
    * ranking leg and a binary qrels table, integer-exact
    * ([[operators.EvalOps.retrievalMetrics]]).
    */
  def evaluateRetrieval(ranked: DataFrame, qidCol: String, didCol: String,
                        rankCol: String, qrels: DataFrame, relQidCol: String,
                        relDidCol: String, k: Int): DataFrame =
    operators.EvalOps.retrievalMetrics(ranked, qidCol, didCol, rankCol,
      qrels, relQidCol, relDidCol, k)

  /** quantize_embeddings: int8 scalar quantization (4x embedding IO cut). */
  def quantizeEmbeddings(df: DataFrame, embCol: String): DataFrame =
    operators.KnnOps.quantizeInt8(df, embCol)

  /** summarize_session: the hierarchical age-based summarize pass. */
  def summarizeSession(turns: DataFrame, now: org.apache.spark.sql.Column,
                       cfg: operators.SummarizeOps.SummarizeConfig =
                         operators.SummarizeOps.SummarizeConfig()): DataFrame =
    operators.SummarizeOps.summarizeTurns(turns, now, cfg)

  /** redact_corpus: typed-label credential/PII scrub of a text column. */
  def redactCorpus(docs: DataFrame, textCol: String,
                   outCol: String = "redacted"): DataFrame =
    docs.withColumn(outCol, graft.functions.TextFunctions.redact(col(textCol)))

  /** decontaminate_corpus: drop docs sharing n-grams with a held-out set. */
  def decontaminateCorpus(corpus: DataFrame, textCol: String, idCol: String,
                          probes: DataFrame, probeTextCol: String, probeIdCol: String,
                          n: Int = 8, minShared: Long = 1L): DataFrame =
    operators.CorpusOps.decontaminate(corpus, textCol, idCol,
      probes, probeTextCol, probeIdCol, n, minShared)

  /** Durable store verbs: commit/read/merge table states transactionally
    * (versioned parquet + atomic pointer swap — [[graft.core.TableStore]]).
    * `mergeStore(root)(m => MemoryOps.decayOnce(m, now)._1)` is the durable
    * decay pass; recall then runs against `readStore`.
    */
  def commitStore(df: DataFrame, root: String): Long =
    graft.core.TableStore.commit(df, root)

  def readStore(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    graft.core.TableStore.read(spark, root)

  def mergeStore(spark: org.apache.spark.sql.SparkSession, root: String)(
      transform: DataFrame => DataFrame): Long =
    graft.core.TableStore.merge(spark, root)(transform)

  /** mergeStore + the row-level change feed the merge produced (insert /
    * delete / update_preimage / update_postimage) — lifecycle events from
    * the durable path: `mergeStoreWithFeed(spark, root, Seq("id"))(m =>
    * MemoryOps.decayOnce(m, now)._1)` surfaces the decay pass's evictions
    * as deletes and its compressions as update pairs, straight off disk.
    */
  def mergeStoreWithFeed(spark: org.apache.spark.sql.SparkSession, root: String,
                         idCols: Seq[String])(
      transform: DataFrame => DataFrame): (Long, DataFrame) =
    graft.core.TableStore.mergeWithFeed(spark, root, idCols)(transform)

  /** scrub_contamination: REMOVE contaminated n-gram spans, keep the
    * document ([[decontaminateCorpus]] is the drop-mode sibling) — output
    * carries (text_clean, n_tokens, n_removed, n_spans) so the scrub is
    * auditable.
    */
  def scrubContamination(corpus: DataFrame, textCol: String, idCol: String,
                         probes: DataFrame, probeTextCol: String,
                         n: Int = 8, pad: Int = 0): DataFrame =
    operators.CorpusOps.removeContaminatedSpans(corpus, textCol, idCol,
      probes, probeTextCol, n, pad)

  /** approx_distinct: mergeable HLL cardinality per group (est_micro,
    * SE ≈ 1.04∕√2^p); [[approxDistinctRollup]] gives every rollup level
    * from the same one pass.
    */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     p: Int = 12): DataFrame =
    operators.SketchOps.hllCardinality(df, groupCols, valueCol, p)

  def approxDistinctRollup(df: DataFrame, groupCols: Seq[String],
                           valueCol: String, p: Int = 12): DataFrame =
    operators.SketchOps.hllRollup(df, groupCols, valueCol, p)

  /** frequency_sketch / estimate_frequency: mergeable Count-Min counters
    * and their min-over-rows point estimates (overcount-only).
    */
  def frequencySketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      depth: Int = 4, widthLog2: Int = 10): DataFrame =
    operators.SketchOps.cmSketch(df, groupCols, valueCol, depth, widthLog2)

  def estimateFrequency(sketches: DataFrame, queries: DataFrame,
                        groupCols: Seq[String], valueCol: String,
                        depth: Int = 4, widthLog2: Int = 10): DataFrame =
    operators.SketchOps.cmEstimate(sketches, queries, groupCols, valueCol,
      depth, widthLog2)

  /** membership_filter / might_contain: deterministic mergeable Bloom
    * filter build + probe (false positives only — the safe join
    * pre-filter; [[exactNovelRows]] wraps the driver-side Spark filter
    * when a DataFrame artifact isn't needed).
    */
  def membershipFilter(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       bitsLog2: Int = 20, k: Int = 4): DataFrame =
    operators.SketchOps.bloomSketch(df, groupCols, valueCol, bitsLog2, k)

  def mightContain(sketches: DataFrame, queries: DataFrame,
                   groupCols: Seq[String], valueCol: String,
                   bitsLog2: Int = 20, k: Int = 4): DataFrame =
    operators.SketchOps.bloomMightContain(sketches, queries, groupCols,
      valueCol, bitsLog2, k)

  /** commit_with_sketches / lookup_with_sketches: the sketch-registry
    * data-skipping layer — per-shard Bloom+HLL rows persisted inside the
    * same atomic version commit; a keyed lookup consults the registry
    * first and a Bloom miss opens zero data files.
    */
  def commitWithSketches(df: DataFrame, root: String, keyCol: String,
                         shardsLog2: Int = 3, bitsLog2: Int = 14): Long =
    core.SketchRegistry.commitWithSketches(df, root, keyCol, shardsLog2, bitsLog2)

  def lookupWithSketches(spark: org.apache.spark.sql.SparkSession, root: String,
                         key: Long): DataFrame =
    core.SketchRegistry.lookupWithSketches(spark, root, key)

  /** upsert_with_sketches: keyed upsert/delete against a sketch-indexed
    * table that rewrites and re-sketches ONLY the touched hash shards —
    * untouched shard files hard-link into the new version and their
    * registry rows carry over bit-identically, so commit cost follows the
    * change batch, never the table size.
    */
  def upsertWithSketches(spark: org.apache.spark.sql.SparkSession, root: String,
                         upserts: DataFrame, deleteKeys: DataFrame): Long =
    core.SketchRegistry.applyChangesWithSketches(spark, root, upserts, deleteKeys)

  /** append_with_sketches / append_range_sharded: link-only ingest — new
    * rows' files land beside hard links of every existing file, and the
    * registry/zone map updates by pure sketch/stat merge (bit-identical
    * to a fresh build for Bloom/HLL; exact for min/max/count). Commit
    * cost is the batch, never the table.
    */
  def appendWithSketches(spark: org.apache.spark.sql.SparkSession, root: String,
                         rows: DataFrame): Long =
    core.SketchRegistry.appendWithSketches(spark, root, rows)

  def appendRangeSharded(spark: org.apache.spark.sql.SparkSession, root: String,
                         rows: DataFrame): Long =
    core.SketchRegistry.appendRangeSharded(spark, root, rows)

  /** compact_with_sketches / registry_diff: the rest of the ingest
    * lifecycle — fold append-accumulated small files back to one per
    * shard (data and registry unchanged), and diff two versions at shard
    * granularity off the registries alone (zero data files opened).
    */
  def compactWithSketches(spark: org.apache.spark.sql.SparkSession,
                          root: String, maxFilesPerShard: Int = 1): Long =
    core.SketchRegistry.compactWithSketches(spark, root, maxFilesPerShard)

  def registryDiff(spark: org.apache.spark.sql.SparkSession, root: String,
                   fromVersion: Long, toVersion: Long): DataFrame =
    core.SketchRegistry.registryDiff(spark, root, fromVersion, toVersion)

  /** table_stats: exact row count / shard count / covered-column min-max
    * off the committed metadata alone — zero data files opened (the
    * Delta/Iceberg manifest-stats verb). The transparent SQL complement
    * is [[graft.MetadataAggCollapse]].
    */
  def tableStats(spark: org.apache.spark.sql.SparkSession, root: String,
                 version: Option[Long] = None): DataFrame =
    core.SketchRegistry.tableStats(spark, root, version)

  /** ingest_stream: exactly-once streaming ingest into a sketch-indexed
    * table — one atomic registry-maintained version per micro-batch, the
    * batchId committed inside the version so failure replays can never
    * double-append. Bootstrap the table with [[commitWithSketches]] first.
    */
  def ingestStream(spark: org.apache.spark.sql.SparkSession, root: String,
                   source: DataFrame,
                   checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.IngestStream.ingestStream(spark, root, source, checkpointDir)

  /** ingest_range_stream: the time-series variant — exactly-once streaming
    * appends into a range-sharded (zone-mapped) table.
    */
  def ingestRangeStream(spark: org.apache.spark.sql.SparkSession, root: String,
                        source: DataFrame,
                        checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.IngestStream.ingestRangeStream(spark, root, source, checkpointDir)

  /** commit_zordered / box_lookup: two-dimensional zone maps — each
    * column buckets by rank (quantile-sketch bounds), the shard is the
    * Morton interleave of the bucket indices, exact per-shard rectangles
    * ride the atomic commit, and a 2-D box predicate opens only
    * rectangle-intersecting shard directories — both dimensions prune,
    * where a single-column layout prunes one.
    */
  def commitZOrdered(df: DataFrame, root: String, colA: String, colB: String,
                     shardsLog2: Int = 4): Long =
    core.ZOrderStore.commitZOrdered(df, root, colA, colB, shardsLog2)

  def boxLookup(spark: org.apache.spark.sql.SparkSession, root: String,
                aLo: Long, aHi: Long, bLo: Long, bHi: Long): DataFrame =
    core.ZOrderStore.boxLookup(spark, root, aLo, aHi, bLo, bHi)

  def appendZOrdered(spark: org.apache.spark.sql.SparkSession, root: String,
                     rows: DataFrame): Long =
    core.ZOrderStore.appendZOrdered(spark, root, rows)

  def compactZOrdered(spark: org.apache.spark.sql.SparkSession,
                      root: String): Long =
    core.ZOrderStore.compactZOrdered(spark, root)

  /** colocated_join / lookup_by / range_lookup_on: registry-pruned reads
    * beyond the primary key — the co-located equi-join of two same-layout
    * sketch tables (shard pairs skipped when either side is empty or the
    * Bloom bitmaps share no bit), equality probes on secondary
    * Bloom-indexed columns, and range reads on secondary zone-map stats.
    */
  def colocatedJoin(spark: org.apache.spark.sql.SparkSession,
                    rootA: String, rootB: String): DataFrame =
    core.SketchRegistry.colocatedJoinWithSketches(spark, rootA, rootB)

  def lookupBy(spark: org.apache.spark.sql.SparkSession, root: String,
               column: String, values: Seq[Long]): DataFrame =
    core.SketchRegistry.lookupBySecondaryIn(spark, root, column, values)

  /** colocated_range_join: sort-column equi-join of two range-sharded
    * tables reading only zone-map-intersecting shard directories — the
    * time-series enrichment join. Layouts need not share bounds.
    */
  def colocatedRangeJoin(spark: org.apache.spark.sql.SparkSession,
                         rootA: String, rootB: String): DataFrame =
    core.SketchRegistry.colocatedRangeJoin(spark, rootA, rootB)

  /** colocated_z_join: (colA, colB)-equality join of two Z-order tables
    * reading only rectangle-intersecting cells of either side.
    */
  def colocatedZJoin(spark: org.apache.spark.sql.SparkSession,
                     rootA: String, rootB: String): DataFrame =
    core.ZOrderStore.colocatedZJoin(spark, rootA, rootB)

  def rangeLookupOn(spark: org.apache.spark.sql.SparkSession, root: String,
                    column: String, lo: Long, hi: Long): DataFrame =
    core.SketchRegistry.rangeLookupOn(spark, root, column, lo, hi)

  /** change_feed_pruned: the IVM tick's feed at O(changed shards) —
    * inode-identical (hard-linked) shard pairs are skipped, a lag-0 tick
    * reads nothing, semantics exactly the full change feed's.
    */
  def changeFeedPruned(spark: org.apache.spark.sql.SparkSession, root: String,
                       baseVersion: Long, toVersion: Long): DataFrame =
    core.SketchRegistry.changeFeedPruned(spark, root, baseVersion, toVersion)

  def rangeLookupBy(spark: org.apache.spark.sql.SparkSession, root: String,
                    column: String, values: Seq[Long]): DataFrame =
    core.SketchRegistry.rangeLookupBy(spark, root, column, values)

  def zoneMapDiff(spark: org.apache.spark.sql.SparkSession, root: String,
                  fromVersion: Long, toVersion: Long): DataFrame =
    core.SketchRegistry.zoneMapDiff(spark, root, fromVersion, toVersion)

  /** read_indexed: TRANSPARENT data skipping — a DataFrame over the
    * committed version whose scans prune shard directories through the
    * registry/zone map on PLAIN filters and SQL predicates, no special
    * verb. Unrecognized predicates degrade to a full scan, never a wrong
    * answer.
    */
  def readIndexed(spark: org.apache.spark.sql.SparkSession,
                  root: String): DataFrame =
    core.SketchFileIndex.readIndexed(spark, root)

  /** commit_range_sharded / range_lookup: the zone-map complement of the
    * hash registry — layout by value range with bounds rank-picked off
    * the deterministic quantile sketch, exact per-shard (min, max, count)
    * rows in the same atomic commit, and range reads that open only
    * intersecting shard directories.
    */
  def commitRangeSharded(df: DataFrame, root: String, sortCol: String,
                         shardsLog2: Int = 3, subLog2: Int = 5): Long =
    core.SketchRegistry.commitRangeSharded(df, root, sortCol, shardsLog2, subLog2)

  def rangeLookup(spark: org.apache.spark.sql.SparkSession, root: String,
                  lo: Long, hi: Long): DataFrame =
    core.SketchRegistry.rangeLookup(spark, root, lo, hi)

  /** estimate_overlap: cross-corpus set-overlap triage from two HLL
    * sketch tables — union native under register max,
    * intersection by inclusion–exclusion; additive error, so a triage
    * probe before `contaminationCheck`'s exact pass.
    */
  def estimateOverlap(sketchesA: DataFrame, sketchesB: DataFrame,
                      groupCols: Seq[String], p: Int = 12): DataFrame =
    operators.SketchOps.hllIntersectEstimate(sketchesA, sketchesB, groupCols, p)

  /** distribution_sketch / estimate_quantiles: mergeable log-linear bin
    * histograms (exact below 2^s, relative error ≤ 2^−s above; linear
    * counts ⇒ shards add and deltas maintain) and rank-picked quantiles
    * straight off the sketch — the q150 dashboard with no sort at any
    * scale.
    */
  def distributionSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         subLog2: Int = 5): DataFrame =
    operators.SketchOps.quantileSketch(df, groupCols, valueCol, subLog2)

  def estimateQuantiles(sketches: DataFrame, groupCols: Seq[String],
                        quantiles: Seq[(Int, Int)], subLog2: Int = 5): DataFrame =
    operators.SketchOps.quantilesFromSketches(sketches, groupCols, quantiles,
      subLog2)

  /** plan_join / planned_join: sketch-driven equi-join planning — the
    * dispatch (broadcast / salted / shuffle) reads only fixed-size CM +
    * HLL sketches, and the planned execution is bit-identical to the
    * plain join on every path.
    */
  def planJoin(left: DataFrame, right: DataFrame, keyCol: String,
               broadcastMaxRows: Long = 1000000L): operators.SketchOps.EquiJoinPlan =
    operators.SketchOps.equiJoinPlan(left, right, keyCol,
      broadcastMaxRows = broadcastMaxRows)

  def plannedJoin(left: DataFrame, right: DataFrame, keyCol: String,
                  saltFromLeft: org.apache.spark.sql.Column,
                  saltFromRight: org.apache.spark.sql.Column,
                  broadcastMaxRows: Long = 1000000L): DataFrame =
    operators.SketchOps.planEquiJoin(left, right, keyCol,
      saltFromLeft, saltFromRight, broadcastMaxRows = broadcastMaxRows)

  /** Unigram-LM tokenizer verbs beside the BPE set: train (expected-count
    * or exact likelihood-loss pruning), segment to pieces, count tokens,
    * or emit deterministic piece ids for the packing path.
    */
  def trainUnigram(corpus: DataFrame, textCol: String, vocabSize: Int,
                   pruneBy: String = "count"): DataFrame =
    text.Unigram.unigramTrain(corpus, textCol, vocabSize, pruneBy = pruneBy)

  def segmentUnigram(df: DataFrame, textCol: String, model: DataFrame,
                     outCol: String): DataFrame =
    text.Unigram.unigramSegment(df, textCol, model, outCol)

  /** sample_segment: subword-regularization draws (Kudo 2018 §4) — the
    * training-time augmentation; deterministic per (text, model, α,
    * seed), pass the epoch as the seed for fresh splits each pass.
    */
  def sampleSegmentUnigram(df: DataFrame, textCol: String, model: DataFrame,
                           outCol: String, alpha: Double = 1.0,
                           seed: Long = 0L): DataFrame =
    text.Unigram.unigramSampleSegment(df, textCol, model, outCol, alpha, seed)

  /** distinct_sparse / estimate_sparse: the p > 18 high-precision HLL
    * path — sparse register tables that merge by (group, idx) max,
    * maintain under the hybrid-IVM rule, and estimate without ever
    * densifying.
    */
  def sparseDistinctSketch(df: DataFrame, groupCols: Seq[String],
                           valueCol: String, p: Int = 20): DataFrame =
    operators.SketchOps.hllRegisters(df, groupCols, valueCol, p)

  def estimateSparseDistinct(registers: DataFrame, groupCols: Seq[String],
                             p: Int = 20): DataFrame =
    operators.SketchOps.hllEstimateSparse(registers, groupCols, p)

  /** Continuous materialized views: start a metronome maintainer over a
    * TableStore source ([[graft.streaming.IvmStream]]), poll freshness via
    * [[materializedViewStatus]], read the state any time with
    * [[readStore]].
    */
  def maintainMaterializedView(spark: org.apache.spark.sql.SparkSession,
                               sourceRoot: String, viewRoot: String,
                               spec: graft.streaming.IvmStream.IvmViewSpec)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.IvmStream.maintainView(spark, sourceRoot, viewRoot, spec)

  def materializedViewStatus(spark: org.apache.spark.sql.SparkSession,
                             sourceRoot: String, viewRoot: String): DataFrame =
    graft.streaming.IvmStream.viewStatus(spark, sourceRoot, viewRoot)

  /** plan_join_from_registry: the q195 dispatch decision from the two
    * tables' PERSISTED per-shard registry sketches alone — zero data-file
    * reads, bit-identical to [[planJoin]] over the rows at the same
    * parameters. The 100 TB planning shape; pass the result to
    * [[plannedJoin]]'s `plan` (or let [[graft.SketchJoinDispatch]] apply
    * it transparently to SQL joins over [[readIndexed]] views).
    */
  def planJoinFromRegistry(spark: org.apache.spark.sql.SparkSession,
                           rootA: String, rootB: String,
                           broadcastMaxRows: Long = 1000000L)
      : operators.SketchOps.EquiJoinPlan =
    operators.SketchOps.equiJoinPlanFromRegistry(spark, rootA, rootB,
      broadcastMaxRows = broadcastMaxRows)

  /** apply_changes_zordered / z_lookup_by: the Z-order layout's keyed
    * incremental maintenance (touched cells located through the per-cell
    * key Bloom, everything else hard-links) and the scattered-column
    * Bloom IN-probe on the 2-D layout.
    */
  def applyChangesZOrdered(spark: org.apache.spark.sql.SparkSession,
                           root: String, keyCol: String,
                           upserts: DataFrame, deleteKeys: DataFrame): Long =
    core.ZOrderStore.applyChangesZOrdered(spark, root, keyCol, upserts,
      deleteKeys)

  def zLookupBy(spark: org.apache.spark.sql.SparkSession, root: String,
                column: String, values: Seq[Long]): DataFrame =
    core.ZOrderStore.zLookupBy(spark, root, column, values)

  /** ingest_zorder_stream: exactly-once streaming appends into a
    * Z-order-sharded table — q211's protocol on the 2-D layout.
    */
  def ingestZOrderStream(spark: org.apache.spark.sql.SparkSession,
                         root: String, source: DataFrame,
                         checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streaming.IngestStream.ingestZOrderStream(spark, root, source,
      checkpointDir)

  /** lookup_string / lookup_many: string-keyed registry probes — URL- or
    * doc-id-string-keyed corpora route through the meta's pinned xxhash64
    * and compare original strings at the end.
    */
  def lookupWithSketchesString(spark: org.apache.spark.sql.SparkSession,
                               root: String, key: String): DataFrame =
    core.SketchRegistry.lookupWithSketchesString(spark, root, key)

  /** key_frequency_estimates: "how hot are these suspect keys" off the
    * registry's merged per-shard CM sketches — overcount-only, zero data
    * files touched; integral and string keys both route through the
    * meta's pinned hash.
    */
  def keyFrequencyEstimates(spark: org.apache.spark.sql.SparkSession,
                            root: String, probes: DataFrame,
                            probeKeyCol: String): DataFrame =
    core.SketchRegistry.keyFrequencyEstimates(spark, root, probes, probeKeyCol)

  /** change_feed_pruned_by: the shard-pruned change feed on ANY layout
    * (hash, range, Z-order) with explicit id columns — inode-identical
    * shard pairs skipped, moved rows caught through both their cells,
    * the IVM tick at O(changed cells).
    */
  def changeFeedPrunedBy(spark: org.apache.spark.sql.SparkSession,
                         root: String, idCols: Seq[String],
                         baseVersion: Long, toVersion: Long): DataFrame =
    core.SketchRegistry.changeFeedPrunedBy(spark, root, idCols,
      baseVersion, toVersion)
}
