package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 surface: match provenance in write dedup (store vs batch
  * namespaces), operator cache tracking/release, and the de-duplicated
  * trailing chunk in chunk_words.
  */
class Round3Spec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def vec(axis: Int, dim: Int = 16): Seq[Float] = {
    val v = Array.fill(dim)(0.01f)
    v(axis) = 1f
    v.toSeq
  }

  test("mergeWrite: a batch id colliding with an unrelated store id never cross-touches") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    // batch row 2 is a fresh insert whose id collides with an UNRELATED
    // store row (far vector, access_count 10); batch row 9 is a within-batch
    // dup of batch row 2 (dedup matches lower batch ids). The touch for
    // dup target id=2 lives in the batch namespace, so store row 2 must not
    // be bumped and inserted row 2 must carry exactly its within-batch hit.
    val st = Seq(
      (2L, vec(0), false, 10L, "unrelated store row with a colliding id"),
      (7L, vec(1), false, 3L, "far store row"))
      .toDF("id", "embedding", "expired", "access_count", "text")
      .withColumn("last_referenced", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("created_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("decay_level", lit(0))
    val batch = Seq(
      (2L, vec(5), "new axis-5 text"),
      (9L, vec(5), "duplicate of the batch row above"))
      .toDF("id", "embedding", "text")
    val (newStore, report) = MemoryOps.mergeWrite(st, batch, now)

    val rep = report.select(col("id"), col("action"), col("dup_of"), col("dup_from_store"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rep(2L)._1 == "stored")
    assert(rep(9L) == (("deduplicated", Some(2L), Some(false))))

    val rows = newStore.collect().map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("text").startsWith("unrelated")) ->
        r.getAs[Long]("access_count")
    }.toMap
    assert(rows((2L, true)) == 10L, "store row 2 must not be bumped by a batch-namespace touch")
    assert(rows((7L, false)) == 3L)
    assert(rows((2L, false)) == 1L, "inserted dup target carries its within-batch hit")
  }

  test("mergeWrite: store dup target with an id also present in the batch only touches the store") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    // store row id=42 is the dup target; the batch ALSO inserts an unrelated
    // row with id=42 (far vector). The touch must land on the store row only
    // and the inserted row must start at access_count 0.
    val st = Seq((42L, vec(0), false, 5L, "store target"))
      .toDF("id", "embedding", "expired", "access_count", "text")
      .withColumn("last_referenced", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("created_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("decay_level", lit(0))
    val batch = Seq(
      (42L, vec(9), "unrelated batch row reusing id 42"),
      (100L, vec(0), "dup of store 42"))
      .toDF("id", "embedding", "text")
    val (newStore, report) = MemoryOps.mergeWrite(st, batch, now)

    val rep = report.select(col("id"), col("action"), col("dup_of"), col("dup_from_store"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rep(42L)._1 == "stored")
    assert(rep(100L) == (("deduplicated", Some(42L), Some(true))))

    val rows = newStore.collect().map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("text").startsWith("store")) ->
        r.getAs[Long]("access_count")
    }.toMap
    assert(rows((42L, true)) == 6L, "store target gains the dup hit")
    assert(rows((42L, false)) == 0L, "inserted id-42 row must not inherit the store touch")
  }

  test("mergeWrite resolves dup chains to the root and loses no touches") {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    // store id 5000 > batch ids, so b2's min-mid tie-break picks b1 (a
    // deduplicated row) as its immediate target: b2 -> b1 -> store 5000.
    // The sequential reference never inserts b1, so both rows must resolve
    // to the store row and it must gain BOTH touches.
    val st = Seq((5000L, vec(0), false, 7L, "store root"))
      .toDF("id", "embedding", "expired", "access_count", "text")
      .withColumn("last_referenced", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("created_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("decay_level", lit(0))
    val batch = Seq((1L, vec(0), "copy one"), (2L, vec(0), "copy two"))
      .toDF("id", "embedding", "text")
    val (newStore, report) = MemoryOps.mergeWrite(st, batch, now)
    val rep = report.select(col("id"), col("action"), col("dup_of"), col("dup_from_store"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rep(1L) == (("deduplicated", Some(5000L), Some(true))))
    assert(rep(2L) == (("deduplicated", Some(5000L), Some(true))),
      "chained dup must resolve to the store root, not the phantom batch row")
    val rows = newStore.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("access_count")).toMap
    assert(rows.keySet == Set(5000L), "no intermediate batch row is inserted")
    assert(rows(5000L) == 9L, "store root gains both chain touches")
  }

  test("OpCaches tracks operator persists and releaseCaches frees them") {
    graft.GraftEngine.releaseCaches() // start clean
    val corpus = (0L until 40L).map(i => i -> vec((i % 8).toInt)).toDF("vid", "emb")
    val queries = corpus.filter(col("vid") < 2)
    val (out, _) = PipelineOps.retrieveBrokerWithStats(corpus, queries,
      "vid", "emb", "vid", "emb",
      PipelineOps.BrokerConfig(overFetchK = 10, targetK = 3, enableMMR = false))
    assert(out.count() > 0)
    assert(graft.util.OpCaches.trackedCount > 0, "the staged broker persists every stage")
    graft.GraftEngine.releaseCaches()
    assert(graft.util.OpCaches.trackedCount == 0)
    // released caches must not break re-evaluation (recompute from lineage)
    assert(out.count() > 0)
  }

  test("winnowFingerprints: guarantee + determinism on a shared run") {
    // winnowing guarantee: any shared run of k+w-1 = 6 words yields at least
    // one shared fingerprint; disjoint texts share none
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      1L -> s"prefix one two $shared suffix here",
      2L -> s"$shared completely different tail words",
      3L -> "nothing in common with the others at all").toDF("doc_id", "text")
    val fp = DedupOps.winnowFingerprints(df, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((fp(1L) & fp(2L)).nonEmpty, "shared 6-word run must share a fingerprint")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
    // deterministic across runs
    val again = DedupOps.winnowFingerprints(df, "text", "doc_id")
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(fp == again)
  }

  test("winnowFingerprints: short docs yield one global-min fingerprint") {
    val df = Seq(10L -> "just four words here").toDF("doc_id", "text") // 2 grams < w
    val fp = DedupOps.winnowFingerprints(df, "text", "doc_id").collect()
    assert(fp.length == 1)
    val none = DedupOps.winnowFingerprints(
      Seq(11L -> "two words").toDF("doc_id", "text"), "text", "doc_id").collect()
    assert(none.isEmpty, "fewer than k words -> no grams -> no fingerprints")
  }

  test("fingerprintNearDupPairs finds the planted pair and stays keyed") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      1L -> base,
      2L -> (base + " with a small tail edit"),
      3L -> "entirely unrelated content about spark catalyst optimizer rules").toDF("doc_id", "text")
    val pairs = DedupOps.fingerprintNearDupPairs(df, "text", "doc_id", minShared = 2)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "fingerprint join must stay hash-keyed")
    // the hot-set cap is a broadcast LEFT ANTI hash join now — any
    // nested-loop join here would be an all-pairs comparison
    assert(!plan.contains("BroadcastNestedLoopJoin"), "unexpected BNLJ in fingerprint plan")
    graft.GraftEngine.releaseCaches()
  }

  test("lshKnn: self-retrieval recall 1, decent neighbor recall, keyed plan") {
    val rng = new scala.util.Random(7)
    // 8 tight clusters around axes: 96 corpus vectors, mild perturbation
    val corpus = (0L until 96L).map { i =>
      val base = vec((i % 8).toInt, dim = 32).toArray
      i -> base.map(x => x + rng.nextFloat() * 0.05f).toSeq
    }.toDF("vid", "emb")
    val queries = corpus.filter(col("vid") < 10)
      .select((col("vid") + 5000L).as("qid"), col("emb"))
    val res = KnnOps.lshKnn(corpus, queries, k = 3, "vid", "emb", "qid", "emb",
      planes = 16, bandBits = 4)
    val rows = res.collect()
    // every query's rank-1 hit is its own source vector (identical vectors
    // share all buckets; sim 1.0 beats every perturbed neighbor)
    val rank1 = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert((0L until 10L).forall(i => rank1.get(5000L + i).contains(i)))
    // recall@3 vs brute force on clustered data
    val exact = KnnOps.bruteForceKnn(corpus, queries, k = 3, "vid", "emb", "qid", "emb")
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recall = exact.keys.toSeq
      .map(q => (got.getOrElse(q, Set.empty[Long]) & exact(q)).size.toDouble / 3)
      .sum / exact.size
    assert(recall >= 0.5, s"recall@3 $recall too low for clustered data")
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "LSH candidate join must stay keyed")
  }

  test("saltedJoin: equals the plain join and salts the shuffle key") {
    // skewed fact: one hot key (90 rows), several cold keys
    val fact = ((0 until 90).map(i => (i.toLong, 1L)) ++
      (90 until 100).map(i => (i.toLong, (i % 5 + 2).toLong))).toDF("row_id", "k")
    val dim = (1L to 6L).map(k => (k, s"dim_$k")).toDF("k", "payload")
    val plain = fact.join(dim, "k").select("row_id", "k", "payload")
    val salted = JoinOps.saltedJoin(fact, dim, Seq("k"), col("row_id"), 8)
      .select("row_id", "k", "payload")
    assert(salted.collect().toSet == plain.collect().toSet)
    assert(salted.count() == plain.count())
    // with broadcast off, the physical join key must include the salt
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = JoinOps.saltedJoin(fact, dim, Seq("k"), col("row_id"), 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), "salt must be part of the join key")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewAwareJoin: salts only hot keys, still exact") {
    val fact = ((0 until 80).map(i => (i.toLong, 1L)) ++
      (80 until 100).map(i => (i.toLong, (i % 4 + 2).toLong))).toDF("row_id", "k")
    val dim = (1L to 6L).map(k => (k, s"dim_$k")).toDF("k", "payload")
    val plain = fact.join(dim, "k").select("row_id", "k", "payload")
    val out = JoinOps.skewAwareJoin(fact, dim, Seq("k"), col("row_id"),
      hotThreshold = 20L, buckets = 4)
      .select("row_id", "k", "payload")
    assert(out.collect().toSet == plain.collect().toSet)
    graft.GraftEngine.releaseCaches()
  }

  test("lruHitStats matches a hand-replayed LRU at capacity 2") {
    // access stream A B A C B D A; true LRU(2): A,B,C,D cold; A@3 hit;
    // B@5 and A@7 capacity misses
    val df = Seq("A", "B", "A", "C", "B", "D", "A").zipWithIndex
      .map { case (k, i) => (1L, k, i.toLong) }.toDF("shard_id", "k", "seq")
    val out = CacheSimOps.lruHitStats(df, "shard_id", "k", Seq("seq"), capacity = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("accesses") == 7L)
    assert(r.getAs[Long]("cold_misses") == 4L)
    assert(r.getAs[Long]("hits") == 1L)
    assert(r.getAs[Long]("capacity_misses") == 2L)
  }

  test("ttlHitStats classifies hit vs expired vs cold") {
    val df = Seq((1L, "A", 0L), (1L, "A", 5L), (1L, "A", 20L), (1L, "B", 21L))
      .toDF("shard_id", "k", "t")
      .withColumn("ts", timestamp_seconds(col("t")))
    val r = CacheSimOps.ttlHitStats(df, "shard_id", "k", "ts", ttlSeconds = 10)
      .collect().head
    assert(r.getAs[Long]("accesses") == 4L)
    assert(r.getAs[Long]("hits") == 1L)          // A@5
    assert(r.getAs[Long]("expired_misses") == 1L) // A@20
    assert(r.getAs[Long]("cold_misses") == 2L)   // A@0, B@21
  }

  test("replaySchedule matches a hand-replayed 2-worker queue") {
    val jobs = Seq((9L, 1L, 0L, 10L), (9L, 2L, 1L, 10L), (9L, 3L, 2L, 3L), (9L, 4L, 3L, 1L))
      .toDF("q", "jid", "submit_us", "dur_us")
    val out = QueueOps.replaySchedule(jobs, "q", "jid", "submit_us", "dur_us", workers = 2)
      .collect().map(r => r.getAs[Long]("job_id") ->
        (r.getAs[Long]("start_us"), r.getAs[Long]("end_us"), r.getAs[Long]("wait_us"))).toMap
    assert(out(1L) == ((0L, 10L, 0L)))
    assert(out(2L) == ((1L, 11L, 0L)))
    assert(out(3L) == ((10L, 13L, 8L)))  // waits for worker freed at 10
    assert(out(4L) == ((11L, 12L, 8L)))  // waits for worker freed at 11
    val stats = QueueOps.queueStats(
      QueueOps.replaySchedule(jobs, "q", "jid", "submit_us", "dur_us", workers = 2))
      .collect().head
    assert(stats.getAs[Long]("jobs") == 4L)
    assert(stats.getAs[Long]("max_wait_us") == 8L)
  }

  test("recallAt measures IVF and LSH against brute force on harness embeddings") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = KnnOps.bruteForceKnn(emb, queries, 10, "vec_id", "embedding", "qid", "embedding")
    val ivf = KnnOps.ivfKnn(emb, queries, 10, "vec_id", "embedding", "qid", "embedding",
      ncells = 8, nprobe = 4)
    val ivfR = KnnOps.recallAt(exact, ivf, 10).collect().head
    assert(ivfR.getAs[Long]("queries") == 20L)
    assert(ivfR.getAs[Double]("avg_recall") >= 0.5,
      s"IVF nprobe=4/8 recall ${ivfR.getAs[Double]("avg_recall")}")
    val lsh = KnnOps.lshKnn(emb, queries, 10, "vec_id", "embedding", "qid", "embedding",
      planes = 16, bandBits = 4)
    val lshR = KnnOps.recallAt(exact, lsh, 10).collect().head
    // self-queries: rank-1 self hit guaranteed -> min_recall at least 1/10
    assert(lshR.getAs[Double]("min_recall") >= 0.1)
    assert(lshR.getAs[Double]("avg_recall") >= 0.1)
    graft.GraftEngine.releaseCaches()
  }

  test("lshBlockedCluster groups near-dups within blocks at corpus shape") {
    val rng = new scala.util.Random(11)
    // 10 exact-duplicate pairs (identical vectors share every sign bit ->
    // same block by construction; perturbed near-dups can straddle a
    // hyperplane — that recall trade is exercised in the lshKnn spec) + 20
    // singles
    val rows = (0L until 10L).flatMap { i =>
      val base = Array.tabulate(16)(_ => rng.nextFloat() * 2f - 1f).toSeq
      Seq(i * 2 -> base, i * 2 + 1 -> base)
    } ++ (100L until 120L).map { i =>
      i -> Array.tabulate(16)(_ => rng.nextFloat() * 2f - 1f).toSeq
    }
    val df = rows.toDF("vid", "emb")
    val out = ClusterOps.lshBlockedCluster(df, "vid", "emb",
      ClusterAlgs.ClusterConfig(threshold = 0.1), blockBits = 4)
    val byId = out.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("block"), r.getAs[Int]("cluster_id"))).toMap
    assert(byId.size == rows.size, "every row gets exactly one block")
    // near-identical vectors share every sign bit -> same block; at
    // distance threshold 0.1 each planted pair must merge
    val merged = (0L until 10L).count(i => byId(i * 2) == byId(i * 2 + 1))
    assert(merged == 10, s"only $merged/10 planted pairs merged")
    // blocks partition the corpus: far more clusters than blocks is fine,
    // but two random singles merging would mean the threshold leaked
    val clusters = byId.values.toSet.size
    assert(clusters == rows.size - 10, "exactly the planted pairs merge")
  }

  test("IVF index save/load: identical results and partition-pruned scans") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val built = KnnOps.ivfIndex(emb, "vec_id", "embedding", ncells = 8)
    val tmp = java.nio.file.Files.createTempDirectory("ivf").toFile.getAbsolutePath
    KnnOps.saveIvfIndex(built, tmp)
    val loaded = KnnOps.loadIvfIndex(spark, tmp)
    val direct = KnnOps.ivfQuery(built, queries, 5, "vec_id", "embedding", "qid", "embedding", nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    val persisted = KnnOps.ivfQuery(loaded, queries, 5, "vec_id", "embedding", "qid", "embedding", nprobe = 2)
    assert(persisted.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet == direct)
    // the probed-cell broadcast must reach the partitioned scan as a
    // partition filter (dynamic partition pruning), not a post-scan filter
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell in:\n${plan.take(2000)}")
    graft.GraftEngine.releaseCaches()
  }

  test("lruHitStats isolates shards: same key stream per shard, independent state") {
    // two shards with the identical A B A stream: each must count its own
    // cold miss + hit, proving no cross-shard stack-distance leakage
    val df = (for (sh <- Seq(1L, 2L); (k, i) <- Seq("A", "B", "A").zipWithIndex)
      yield (sh, k, i.toLong)).toDF("shard_id", "k", "seq")
    val out = CacheSimOps.lruHitStats(df, "shard_id", "k", Seq("seq"), capacity = 2)
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("cold_misses"), r.getAs[Long]("hits"))).toMap
    assert(out == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L))))
  }

  test("saltedJoin drops null keys exactly like the plain join") {
    val fact = Seq((1L, Some(1L)), (2L, None), (3L, Some(2L)))
      .toDF("row_id", "k")
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "payload")
    val plain = fact.join(dim, "k").select("row_id", "payload").collect().toSet
    val salted = JoinOps.saltedJoin(fact, dim, Seq("k"), col("row_id"), 4)
      .select("row_id", "payload").collect().toSet
    assert(salted == plain && plain.size == 2)
  }

  test("dedupSweep releases its loop caches after convergence") {
    graft.GraftEngine.releaseCaches()
    val df = (0L until 20L).map(i => i -> vec((i % 10).toInt)).toDF("vec_id", "emb")
    val pairs = Seq((0L, 10L), (1L, 11L)).toDF("ida", "idb")
    val out = DedupOps.dedupSweep(df, pairs, "vec_id")
    val kept = out.filter(col("keep")).count()
    assert(kept == 18) // 20 rows, two merged pairs
    // the edge cache was unpersisted inside the operator; the converged
    // labels survive as a tracked cache released here
    graft.GraftEngine.releaseCaches()
    assert(out.filter(col("keep")).count() == kept)
  }
}
