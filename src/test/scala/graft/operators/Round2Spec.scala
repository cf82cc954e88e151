package graft.operators

import graft.SparkTest
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 surface: LSH-blocked write dedup, content hashing, risk
  * summaries, merge-style memory writes, broker composition, blast-radius
  * paths, and pipeline stage toggles.
  */
class Round2Spec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def vec(axis: Int, dim: Int = 16): Seq[Float] = {
    val v = Array.fill(dim)(0.01f) // small common component, distinct axes stay far apart
    v(axis) = 1f
    v.toSeq
  }

  private def entries(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("id", "embedding")

  private def store(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("id", "embedding").withColumn("expired", lit(false))

  // --- writeDedup strategies

  test("writeDedup: lsh strategy matches exact strategy on planted data") {
    val st = store((0L until 8L).map(i => i -> vec(i.toInt)))
    val batch = entries(Seq(
      100L -> vec(0),            // exact dup of store 0
      101L -> vec(9),            // new
      102L -> vec(9)             // within-batch dup of 101
    ))
    val exact = MemoryOps.writeDedup(batch, st,
      MemoryOps.WriteDedupConfig(strategy = "exact"))
      .select(col("id"), col("dup_of")).collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val lsh = MemoryOps.writeDedup(batch, st,
      MemoryOps.WriteDedupConfig(strategy = "lsh"))
      .select(col("id"), col("dup_of")).collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(exact === lsh)
    assert(exact(100L).contains(0L))
    assert(exact(101L).isEmpty)
    assert(exact(102L).contains(101L))
  }

  test("writeDedup lsh plan is a keyed join, not a broadcast nested loop") {
    val st = store((0L until 8L).map(i => i -> vec(i.toInt)))
    val batch = entries(Seq(100L -> vec(0)))
    val plan = MemoryOps.writeDedup(batch, st,
      MemoryOps.WriteDedupConfig(strategy = "lsh"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  // --- content hash (FNV-1a 64)

  test("content_hash matches FNV-1a 64 test vectors and codegen survives") {
    val out = Seq(("", "x"), ("a", "y")).toDF("t", "tag")
      .select(col("tag"), GraftFunctions.content_hash(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("x") == "cbf29ce484222325") // offset basis: empty input
    assert(out("y") == "af63dc4c8601ec8c") // canonical FNV-1a("a")
    // SQL registration path
    val viaSql = spark.sql("SELECT content_hash('a') AS h").head().getString(0)
    assert(viaSql == "af63dc4c8601ec8c")
  }

  test("changedEntries flags new and changed rows by content hash") {
    val existing = Seq(("s1", "e1", "hello"), ("s1", "e2", "world"))
      .toDF("session_id", "id", "content")
    val incoming = Seq(("s1", "e1", "hello"), ("s1", "e2", "WORLD"), ("s1", "e3", "new"))
      .toDF("session_id", "id", "content")
    val out = SessionOps.changedEntries(incoming, existing)
      .select(col("id"), col("is_new"), col("content_changed"))
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out("e1") == ((false, false)))
    assert(out("e2") == ((false, true)))
    assert(out("e3") == ((true, false)))
  }

  // --- risk summary

  test("riskSummary: level counts, top-3 reasons, overall risk") {
    val commits = Seq(
      (1L, "revert!: bad deploy", 10, 0, 2),     // breaking + revert -> high
      (2L, "fix: hotfix for crash", 10, 0, 8),   // broad fix + keyword -> medium
      (3L, "docs: readme", 1, 0, 1)              // low
    ).toDF("id", "message", "insertions", "deletions", "n_files")
    val (ctype, scope, breaking) = CommitOps.parseConventional(col("message"))
    val scored = CommitOps.riskLevel(commits
      .withColumn("commit_type", ctype).withColumn("scope", scope)
      .withColumn("breaking", breaking))
    val s = CommitOps.riskSummary(scored).head()
    assert(s.getAs[Long]("high_count") == 1L)
    assert(s.getAs[Long]("medium_count") == 1L)
    assert(s.getAs[Long]("low_count") == 1L)
    assert(s.getAs[String]("overall_risk") == "high")
    val reasons = s.getAs[scala.collection.Seq[String]]("top_risk_reasons")
    assert(reasons.size == 3)
    assert(reasons.contains("breaking change"))
    assert(reasons.contains("broad fix"))
  }

  test("riskLevel emits reference-shaped reason strings") {
    val commits = Seq((1L, "feat: big one", 400, 200, 25))
      .toDF("id", "message", "insertions", "deletions", "n_files")
    val (ctype, scope, breaking) = CommitOps.parseConventional(col("message"))
    val reasons = CommitOps.riskLevel(commits
      .withColumn("commit_type", ctype).withColumn("scope", scope)
      .withColumn("breaking", breaking))
      .head().getAs[scala.collection.Seq[String]]("risk_reasons")
    assert(reasons.contains("large diff (600 lines)"))
    assert(reasons.contains("25 files changed"))
  }

  // --- mergeWrite

  test("mergeWrite: dups touch the store, non-dups insert with classification") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    val st = Seq((0L, vec(0), false, 5L, "2024-01-01 00:00:00", "plain text"))
      .toDF("id", "embedding", "expired", "access_count", "lr", "text")
      .withColumn("last_referenced", col("lr").cast("timestamp")).drop("lr")
      .withColumn("created_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("decay_level", lit(0))
    val batch = Seq(
      (100L, vec(0), "dup of zero"),
      (101L, vec(3), "password: hunter2 must classify"),
      (102L, vec(4), "")
    ).toDF("id", "embedding", "text")
    val (newStore, report) = MemoryOps.mergeWrite(st, batch, now)
    val rep = report.select(col("id"), col("action"), col("sensitivity"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toList
    assert(rep.contains((100L, "deduplicated", 0)))
    assert(rep.contains((101L, "stored", 3))) // credential pattern -> level 3
    assert(!rep.exists(_._1 == 102L))         // empty text skipped
    val storeRows = newStore.collect()
    assert(storeRows.length == 2)             // original + one insert
    val touched = newStore.filter(col("id") === 0L).head()
    assert(touched.getAs[Long]("access_count") == 6L) // touch-on-dup
  }

  // --- broker

  test("retrieveBroker: per-query targetK results, rank 1 is the query itself") {
    val corpus = (0L until 30L).map(i => i -> vec((i % 12).toInt)).toDF("vid", "emb")
    val queries = corpus.filter(col("vid") < 2)
    val out = PipelineOps.retrieveBroker(corpus, queries, "vid", "emb", "vid", "emb",
      PipelineOps.BrokerConfig(overFetchK = 10, targetK = 3, enableMMR = false))
      .collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 3)
      val first = rows.minBy(_.getAs[Int]("final_rank"))
      // identical vectors exist (i % 12 collides) — rank 1 must carry sim ~= 1
      assert(first.getAs[Double]("sim") > 0.999)
      assert(first.getAs[Long]("neighbor_id") % 12 == q % 12)
    }
  }

  test("retrieveBroker with MMR diversifies: no two picks from one duplicate pile") {
    // corpus: 3 piles of identical vectors; MMR at lambda 0.5 should pick
    // across piles rather than twice from the query's own pile.
    val corpus = (0L until 12L).map(i => i -> vec((i % 3).toInt)).toDF("vid", "emb")
    val queries = corpus.filter(col("vid") === 0L)
    val out = PipelineOps.retrieveBroker(corpus, queries, "vid", "emb", "vid", "emb",
      PipelineOps.BrokerConfig(overFetchK = 12, targetK = 3, clusterThreshold = 0.15))
      .collect()
    val piles = out.map(_.getAs[Long]("neighbor_id") % 3).toSet
    assert(piles.size == 3, s"expected one pick per pile, got ${out.mkString(",")}")
  }

  test("mmrRerankWithQuery uses query similarity as relevance") {
    val df = Seq(
      (1L, 10L, vec(0), vec(0)),
      (1L, 11L, vec(1), vec(0)),
      (1L, 12L, vec(2), vec(0))
    ).toDF("g", "id", "emb", "qemb")
    val out = ClusterOps.mmrRerankWithQuery(df, "g", "id", "emb", "qemb", k = 2)
      .orderBy(col("mmr_rank")).collect()
    assert(out.head.getAs[Long]("id") == 10L) // most query-similar first
  }

  // --- blast radius paths

  test("blastRadius tracks shortest deterministic paths") {
    val edges = Seq(
      ("b", "a"), ("c", "a"), ("d", "b"), ("d", "c") // d depends on b and c; both on a
    ).toDF("src", "dst")
    val changed = Seq(Tuple1("a")).toDF("id")
    val out = GraphOps.blastRadius(edges, changed)
      .select(col("id"), col("depth"), array_join(col("path"), "/").as("p"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out("b") == ((1, "a/b")))
    assert(out("c") == ((1, "a/c")))
    assert(out("d")._1 == 2)
    assert(out("d")._2 == "a/b/d") // lexicographically smallest of the two shortest paths
  }

  // --- embedding near-dup recall vs exact

  test("embeddingNearDupPairs recall vs exact similarPairs on near-dup data") {
    // pairs at sim >= 0.9: planted perturbed copies of base vectors
    val base = (0L until 20L).map(i => i -> vec((i % 20).toInt, dim = 32))
    val perturbed = base.map { case (i, v) =>
      (i + 100L) -> v.updated(31, v(31) + 0.05f) // tiny nudge: sim stays > 0.99
    }
    val df = (base ++ perturbed).toDF("id", "embedding")
    val exact = KnnOps.similarPairs(df, "id", "embedding", minSim = 0.9)
      .select(col("ida"), col("idb")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = DedupOps.embeddingNearDupPairs(df, "embedding", "id", threshold = 0.9)
      .select(col("ida"), col("idb")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(approx.subsetOf(exact)) // precision exact by construction
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  // --- age formatting (F20)

  test("format_age humanizes durations with Go-style truncation") {
    val cases = Seq(0L -> "0s", 59L -> "59s", 60L -> "1m", 3599L -> "59m",
      3600L -> "1h", 86399L -> "23h", 86400L -> "1d", 200000L -> "2d")
    val out = cases.map(_._1).toDF("s")
      .select(col("s"), graft.functions.TextFunctions.format_age(col("s")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (s, want) => assert(out(s) == want, s"age $s") }
  }

  // --- review-pass regressions

  test("changedEntries: stored NULL content is not 'new' and counts as changed") {
    val existing = Seq(("s1", "e1", Option.empty[String]), ("s1", "e2", Some("same")))
      .toDF("session_id", "id", "content")
    val incoming = Seq(("s1", "e1", "now has text"), ("s1", "e2", "same"))
      .toDF("session_id", "id", "content")
    val out = SessionOps.changedEntries(incoming, existing)
      .select(col("id"), col("is_new"), col("content_changed"))
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out("e1") == ((false, true)))  // exists; NULL -> text is a change
    assert(out("e2") == ((false, false)))
  }

  test("mergeWrite: within-batch dup target is inserted with its touch count") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    val emptyStore = Seq.empty[(Long, Seq[Float], Boolean, Long, String)]
      .toDF("id", "embedding", "expired", "access_count", "text")
      .withColumn("last_referenced", now)
    val batch = Seq(
      (1L, vec(0), "first copy"),
      (2L, vec(0), "second copy dupes the first")
    ).toDF("id", "embedding", "text")
    val (newStore, report) = MemoryOps.mergeWrite(emptyStore, batch, now)
    val actions = report.select("id", "action").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(actions(1L) == "stored" && actions(2L) == "deduplicated")
    val inserted = newStore.collect()
    assert(inserted.length == 1)
    assert(inserted.head.getAs[Long]("access_count") == 1L) // bumped by its dup
  }

  test("dedupSweep tolerates input columns named id and label") {
    val df = Seq((1L, "x", vec(0)), (2L, "x", vec(0)), (3L, "y", vec(5)))
      .toDF("id", "label", "embedding")
    val pairs = Seq((1L, 2L)).toDF("ida", "idb")
    val out = DedupOps.dedupSweep(df, pairs, "id")
      .select(col("id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
  }

  // --- IVF index reuse

  test("ivfIndex builds once and serves repeated query batches") {
    val corpus = (0L until 40L).map(i => i -> vec((i % 10).toInt)).toDF("id", "embedding")
    val idx = KnnOps.ivfIndex(corpus, "id", "embedding", ncells = 4)
    val q1 = corpus.filter(col("id") < 2)
    val q2 = corpus.filter(col("id") >= 2 && col("id") < 4)
    val r1 = KnnOps.ivfQuery(idx, q1, k = 3, "id", "embedding", "id", "embedding", nprobe = 4)
    val r2 = KnnOps.ivfQuery(idx, q2, k = 3, "id", "embedding", "id", "embedding", nprobe = 4)
    assert(r1.select("query_id").distinct().count() == 2)
    assert(r2.select("query_id").distinct().count() == 2)
    // full probe == exact: rank-1 neighbor of each query is itself or an
    // identical vector (sim ~ 1)
    val top = r1.filter(col("rank") === 1).collect()
    assert(top.forall(_.getAs[Double]("sim") > 0.999))
    // one-shot form must agree with build+query
    val oneShot = KnnOps.ivfKnn(corpus, q1, k = 3, "id", "embedding", "id", "embedding",
      ncells = 4, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(r1.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet == oneShot)
  }

  // --- one per-group selection core vs the public per-stage operators

  /** The cluster → representative → MMR → compress chain spelled out with
    * the public operators: a cluster shuffle and join-back, the
    * representative window, an MMR shuffle and a second join-back.
    */
  private def composedPipeline(df: DataFrame, g: String, id: String, text: String,
                               emb: String, score: String,
                               cfg: PipelineOps.PipelineConfig): DataFrame = {
    val clustered = ClusterOps.agglomerativeCluster(df, g, id, emb,
      ClusterAlgs.ClusterConfig(threshold = cfg.clusterThreshold, linkage = cfg.linkage))
    val withCluster = df.join(clustered,
      df(g).cast("long") === clustered("group") && df(id).cast("long") === clustered("id"))
      .select(df.columns.map(df(_)) :+ clustered("cluster_id"): _*)
    val reps = ClusterOps.selectRepresentatives(
      withCluster, Seq(g, "cluster_id"), id, emb, score, text, cfg.selectStrategy)
    val mmr = ClusterOps.mmrRerank(reps, g, id, emb, score, cfg.mmrLambda, cfg.targetK)
    reps.join(mmr, reps(g).cast("long") === mmr("group") && reps(id).cast("long") === mmr("id"))
      .select(reps(g), reps(id), reps("cluster_id"), mmr("mmr_rank"), reps(score),
        graft.functions.CompressFunctions.extract_salient(
          reps(text), cfg.compressRatio, cfg.minChunkLength).as("compressed"))
  }

  test("dedupPipeline matches the composition of the public operators") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val chunks = PipelineOps.chunkTable(docs, embs).cache()
    def canon(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (strategy <- Seq("score", "length", "centroid", "hybrid")) {
      val cfg = PipelineOps.PipelineConfig(selectStrategy = strategy)
      val composed = canon(composedPipeline(
        chunks, "request_group", "doc_id", "text", "embedding", "score", cfg))
      val single = canon(PipelineOps.dedupPipeline(
        chunks, "request_group", "doc_id", "text", "embedding", "score", cfg))
      assert(single == composed, s"strategy $strategy")
      assert(single.nonEmpty)
    }
    chunks.unpersist()
  }

  test("facade output schemas: dedup and retrieve columns for int and long keys") {
    import org.apache.spark.sql.types._
    def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val text = "First sentence about the topic. Second sentence adds words."
    val intChunks = (0 until 6).map(i => (i % 2, i, text, vec(i % 3), i.toFloat))
      .toDF("g", "id", "text", "emb", "score")
    val longChunks = intChunks.select(col("g").cast("long"), col("id").cast("long"),
      col("text"), col("emb"), col("score").cast("double"))
    def dedup(df: DataFrame, cfg: PipelineOps.PipelineConfig = PipelineOps.PipelineConfig()) =
      fields(graft.GraftEngine.deduplicateChunks(df, "g", "id", "text", "emb", "score", cfg))
    def dedupSchema(key: DataType, score: DataType, cluster: DataType) = Seq(
      "g" -> key, "id" -> key, "cluster_id" -> cluster, "mmr_rank" -> IntegerType,
      "score" -> score, "compressed" -> StringType)
    assert(dedup(intChunks) == dedupSchema(IntegerType, FloatType, IntegerType))
    assert(dedup(longChunks) == dedupSchema(LongType, DoubleType, IntegerType))
    val noDedup = PipelineOps.PipelineConfig(dedupEnabled = false)
    assert(dedup(intChunks, noDedup) == dedupSchema(IntegerType, FloatType, LongType))
    assert(dedup(longChunks, noDedup) == dedupSchema(LongType, DoubleType, LongType))

    val retrieveSchema = Seq("query_id" -> LongType, "neighbor_id" -> LongType,
      "sim" -> DoubleType, "final_rank" -> IntegerType)
    for (corpus <- Seq(intChunks, longChunks); mmr <- Seq(true, false)) {
      val out = graft.GraftEngine.retrieveDeduplicated(
        corpus, corpus.filter(col("id") < 2), "id", "emb", "id", "emb",
        PipelineOps.BrokerConfig(overFetchK = 4, targetK = 2, enableMMR = mmr))
      assert(fields(out) == retrieveSchema, s"mmr=$mmr")
      assert(out.count() == 4)
    }
  }

  // --- chunking

  test("chunk_words: overlapping windows, whitespace-only text yields none") {
    val df = Seq(
      ("d1", (1 to 10).map(i => s"w$i").mkString(" ")),
      ("d2", "one two"),
      ("d3", "   ")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      graft.functions.TextFunctions.chunk_words(col("text"), chunkSize = 4, overlap = 1).as("c"))
      .collect().map(r => r.getString(0) -> r.getAs[scala.collection.Seq[String]]("c")).toMap
    // the window starting at w10 is fully contained in "w7 w8 w9 w10", so
    // the chunker stops before it — no duplicated trailing chunk
    assert(out("d1") == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(out("d2") == Seq("one two"))
    assert(out("d3").isEmpty)
  }

  // --- redundancy analysis + facade

  test("analyzeRedundancy reports cluster members and redundancy ratio") {
    // two piles of near-identical vectors + one singleton in one group
    val df = Seq(
      (1L, 10L, vec(0)), (1L, 11L, vec(0)), (1L, 12L, vec(1)),
      (1L, 13L, vec(1)), (1L, 14L, vec(2))
    ).toDF("g", "id", "emb")
    val out = graft.GraftEngine.analyzeRedundancy(df, "g", "id", "emb", threshold = 0.15)
      .collect()
    assert(out.length == 3) // three clusters
    val bySize = out.groupBy(_.getAs[Long]("size"))
    assert(bySize(2L).length == 2 && bySize(1L).length == 1)
    assert(out.forall(_.getAs[Long]("n_chunks") == 5L))
    assert(out.forall(_.getAs[Long]("n_clusters") == 3L))
    assert(out.forall(r => math.abs(r.getAs[Double]("redundancy_ratio") - 0.4) < 1e-12))
    val redundant = out.filter(_.getAs[Boolean]("is_redundant"))
    assert(redundant.length == 2)
    assert(redundant.forall(_.getAs[scala.collection.Seq[Long]]("member_ids").length == 2))
  }

  // --- empty-input robustness (the shapes a driver hits first)

  test("empty inputs: recall, findSimilar, writeDedup, mergeWrite, sweep survive") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    val emptyMem = Seq.empty[(String, String, Seq[Float])].toDF("id", "text", "embedding")
      .withColumn("expired", lit(false))
      .withColumn("expires_at", lit(null).cast("timestamp"))
      .withColumn("last_referenced", now)
      .withColumn("tags", array().cast("array<string>"))
    assert(MemoryOps.recall(emptyMem, None,
      MemoryOps.RecallParams(recencyWeight = 1.0, maxResults = 5, maxTokens = 100), now)
      .count() == 0)
    val commits = Seq.empty[(Long, Seq[Float])].toDF("id", "embedding")
    assert(CommitOps.findSimilar(commits, Array(1f, 0f), "id", "embedding").count() == 0)
    val st = store(Seq(0L -> vec(0)))
    val emptyBatch = Seq.empty[(Long, Seq[Float])].toDF("id", "embedding")
    assert(MemoryOps.writeDedup(emptyBatch, st).count() == 0)
    val stText = st.withColumn("text", lit("t"))
      .withColumn("access_count", lit(0L)).withColumn("last_referenced", now)
    val (ns, rep) = MemoryOps.mergeWrite(stText,
      emptyBatch.withColumn("text", lit("x")), now)
    assert(rep.count() == 0 && ns.count() == 1)
    val emptyPairs = Seq.empty[(Long, Long)].toDF("ida", "idb")
    val swept = DedupOps.dedupSweep(st.select("id", "embedding"), emptyPairs, "id")
    assert(swept.filter(col("keep")).count() == 1)
  }

  // --- pipeline stage toggles

  test("dedupPipeline stage toggles: dedup off passes rows through; summarize shortens") {
    val df = (0L until 6L).map { i =>
      (1L, i, s"Sentence one about topic $i. Sentence two with more words here. " * 3,
        vec((i % 2).toInt), 1.0 + i)
    }.toDF("g", "id", "text", "emb", "score")
    val all = PipelineOps.dedupPipeline(df, "g", "id", "text", "emb", "score",
      PipelineOps.PipelineConfig(dedupEnabled = false, compressEnabled = false))
    assert(all.count() == 6) // no dedup, no compression: every row survives
    assert(all.head().getAs[String]("compressed").nonEmpty)
    val deduped = PipelineOps.dedupPipeline(df, "g", "id", "text", "emb", "score",
      PipelineOps.PipelineConfig(targetK = 2, minChunkLength = 0))
    assert(deduped.count() <= 2) // two near-identical piles -> 2 reps -> MMR K=2
    val summarized = PipelineOps.dedupPipeline(df, "g", "id", "text", "emb", "score",
      PipelineOps.PipelineConfig(dedupEnabled = false, compressEnabled = false,
        summarizeEnabled = true))
    val full = all.filter(col("id") === 0L).head().getAs[String]("compressed")
    val summ = summarized.filter(col("id") === 0L).head().getAs[String]("compressed")
    assert(summ.length < full.length)
  }
}
