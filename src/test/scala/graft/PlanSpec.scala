package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the 100 TB design depends on
  * must be visible in the plan, not assumed — filter/projection pushdown to
  * parquet, broadcast joins for dimension tables, partial aggregation, and
  * native (non-UDF) vector expressions inside codegen.
  */
class PlanSpec extends AnyFunSuite with SparkTest {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  test("q02: predicate and projection pushed to the parquet scan") {
    val plan = physicalPlan("q02_filter_pushdown")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(p_size,10)"), plan.linesIterator.toSeq.takeRight(5).mkString("\n"))
    assert(plan.contains("ReadSchema"))
    // only the four selected columns are read
    assert(!plan.contains("p_retailprice"))
  }

  test("q04: dimension join is a broadcast hash join") {
    val plan = physicalPlan("q04_broadcast_join_agg")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val plan = physicalPlan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("q05: semi join planned (no row explosion)") {
    val plan = physicalPlan("q05_semi_join")
    assert(plan.contains("LeftSemi"))
  }

  test("knn: cosine runs as a native expression, not a ScalaUDF") {
    val plan = physicalPlan("q18_knn_bruteforce")
    assert(plan.contains("cosine_similarity"))
    // the similarity evaluation itself must not be a UDF invocation
    assert(!plan.contains("UDF(cosine"))
  }

  test("vector expressions participate in whole-stage codegen") {
    val emb = graft.core.Tables.embeddings(spark, dir)
    val df = emb.select(
      graft.functions.GraftFunctions.cosine_similarity(col("embedding"), col("embedding")).as("s"))
    df.collect() // force execution so the final (post-AQE) plan exists
    val executed = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks whole-stage-codegen stages in the compact plan
    assert(executed.contains("*(1) Project [cosine_similarity"))
    assert(!executed.contains("ScalaUDF"))
  }

  test("q40: SQL KNN aggregates map-side (partial max_by), query side broadcast") {
    val plan = physicalPlan("q40_sql_knn")
    // BNLJ against the broadcast 20-row query side is the scalable shape
    // (corpus scanned once); the kill-at-scale shape would be a rank window
    // over the full nQueries x corpus join output
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("Window"), "rank-window over the joined set shuffles nQ x corpus rows")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(plan).size >= 2,
      "argmax must partial-aggregate before the exchange")
  }

  test("q56: fingerprint pairs plan has no shuffle joins") {
    val plan = physicalPlan("q56_fingerprint_neardup")
    // the posting self-join is replaced by list aggregation; the only join
    // left is the broadcast LEFT ANTI hot-set filter (over-cap keys), which
    // is map-side — a shuffle join would mean the self-join came back
    assert(!plan.contains("SortMergeJoin"), "posting self-join came back")
    assert(!plan.contains("ShuffledHashJoin"), "posting self-join came back")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "hot-set cap must drop map-side via a broadcast anti join")
  }

  test("q107: index probe never reshuffles the corpus (broadcast joins only)") {
    val plan = physicalPlan("q107_index_append")
    // the batch band keys, candidate set, and batch shingles all broadcast
    // against the persisted corpus tables — any shuffle join here means the
    // corpus is being repartitioned per probe, the O(corpus)-per-batch
    // anti-shape at 100 TB
    assert(!plan.contains("SortMergeJoin"), "corpus must not reshuffle for a probe")
    assert(!plan.contains("ShuffledHashJoin"), "corpus must not reshuffle for a probe")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q108: bloom dedup resolves via broadcast joins, never a corpus shuffle") {
    val plan = physicalPlan("q108_bloom_dedup")
    assert(!plan.contains("SortMergeJoin"), "corpus keys must stay map-side")
    assert(!plan.contains("ShuffledHashJoin"), "corpus keys must stay map-side")
    assert(!plan.contains("CartesianProduct"))
    // the accept list is a broadcast LEFT ANTI against confirmed-present keys
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
  }

  test("q17: jaccard join has no cartesian product or corpus-sized BNLJ") {
    val plan = physicalPlan("q17_neardup_jaccard")
    assert(!plan.contains("CartesianProduct"))
    // the only nested-loop joins allowed are the broadcast 1-row hot-set
    // crossJoins (array_except against the over-cap shingle array); a BNLJ
    // without that shape would be an all-pairs comparison
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("array_except"), s"unexpected BNLJ shape: $l")
    }
  }

  test("text function queries stay UDF-free") {
    for (q <- Seq("q11_sensitivity_histogram", "q12_keywords", "q15_prune_lengths",
        "q16_importance", "q21_simhash_pairs")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("ScalaUDF"), s"$q contains a UDF")
    }
  }

  test("recall ranks via TakeOrderedAndProject, never an unpartitioned window") {
    for (q <- Seq("q29_memory_recall", "q46_recall_cosine")) {
      val plan = physicalPlan(q)
      assert(plan.contains("TakeOrderedAndProject"), s"$q lost the top-K shape")
      assert(!plan.contains("Window "), s"$q reintroduced a window:\n${plan.take(1500)}")
    }
  }

  test("broker evaluates the KNN once and keeps joins keyed") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val df = graft.SparkEntry.queries("q42_retrieve_broker")(spark, dir)
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    // the query-by-corpus scoring join is the only non-equi join, and the
    // fetched set feeds one plan branch, so it runs exactly once
    assert(plan.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]) == 1,
      df.queryExecution.executedPlan.toString)
    assert(!plan.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("blast radius path join stays keyed") {
    val plan = physicalPlan("q34_blast_radius")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed tables join and aggregate with zero shuffle") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val lineitem = graft.core.Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val orders = graft.core.Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    graft.sources.Sources.writeBucketed(lineitem, "li_b", s"$tmp/li", "l_orderkey", 8)
    graft.sources.Sources.writeBucketed(orders, "or_b", s"$tmp/or", "o_orderkey", 8)
    try {
      // disable auto-broadcast so the join would otherwise shuffle both sides
      withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("li_b")
          .join(spark.table("or_b"), col("l_orderkey") === col("o_orderkey"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(1500)}")
        val agg = spark.table("li_b").groupBy("l_orderkey").count()
        agg.collect()
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
          "bucket-key aggregation still shuffles")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("q55: winnowing runs one doc-keyed exchange, no joins") {
    val plan = physicalPlan("q55_winnow_fingerprints")
    assert(!plan.contains("Join"), "winnowing needs no join at all")
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith(":- Exchange"))
    // repartition(doc_id) + the final distinct's exchange — nothing else
    assert(plan.contains("hashpartitioning(doc_id"), "gram hashing must run post-repartition")
    assert(exchanges <= 3, s"too many exchanges:\n$plan")
  }

  test("q128: temperature mix joins rates via broadcast; corpus never sort-merges") {
    val plan = SparkEntry.queries("q128_temperature_mix")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-stratum thresholds must broadcast back to the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must never shuffle for the rate join:\n$plan")
    // the only window runs over the per-stratum aggregate (a handful of
    // rows), partitioned by the literal — never over doc rows
    val windows = plan.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"exactly one tiny window expected:\n$plan")
  }

  test("q113: sequence packing is one shard exchange — no join, no global window") {
    // the window's exchange comes from EnsureRequirements, so inspect the
    // executed plan (sparkPlan predates exchange insertion)
    val plan = SparkEntry.queries("q113_pack_sequences")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "packing needs no join")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"packing must shuffle exactly once (on shard):\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      "prefix sum must be shard-partitioned, never a single global window")
  }

  test("q57: LSH candidate join is keyed on the band bucket") {
    val plan = physicalPlan("q57_lsh_knn")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("band"), "banded join key missing")
  }

  test("q60: stack-distance join stays keyed on the cache shard") {
    val plan = physicalPlan("q60_lru_cache_sim")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // a window spec prints partition columns before any ordered column; an
    // UNPARTITIONED spec's first argument carries the sort direction
    // (windowspecdefinition(x#1 ASC ...)) — none may appear here
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val unpartitioned = "windowspecdefinition\\([^,)]*(ASC|DESC)".r.findAllIn(plan).size
    assert(specs > 0 && unpartitioned == 0,
      s"$unpartitioned of $specs window specs are unpartitioned")
  }

  test("q121: BM25 postings prune via broadcast; top-k group-limits before the final window") {
    val plan = physicalPlan("q121_bm25_topk")
    assert(!plan.contains("CartesianProduct"))
    // posting/tf joins against query terms, idf, and dl must be broadcast
    // at this scale; the only BNLJ allowed is the 1-row stats crossJoin
    assert(plan.contains("BroadcastHashJoin"))
    // Spark's rank-limit pushdown must engage: without WindowGroupLimit the
    // final top-k sorts every candidate row per query on one partition
    assert(plan.contains("WindowGroupLimit"), "top-k not group-limited")
  }

  test("q120: NB training and scoring aggregate map-side, no cartesian") {
    val plan = physicalPlan("q120_nb_quality")
    assert(!plan.contains("CartesianProduct"))
    // token counts and per-doc sums must both be two-phase
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "aggregation is not map-side partial")
    // the model/globals attach as broadcast 1-row joins, never a shuffle of
    // the scored corpus against them
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q122: SemDeDup pair join is keyed on the cluster, components stay keyed") {
    val plan = physicalPlan("q122_semdedup")
    assert(!plan.contains("CartesianProduct"))
    // the within-cell self-join must be an equi-join on the cluster key —
    // a BNLJ here means the corpus-wide all-pairs came back
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "within-cluster self-join lost its equi key")
  }

  test("q160: capped hamming pairs — every join keyed or broadcast, no cartesian") {
    val plan = physicalPlan("q160_hamming_capped")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the mega-dup class pairs via generates off the collapsed groups,
    // never through a join
    assert(plan.contains("posexplode(members"))
    // hot-bucket drop is a broadcast anti join on (chunk, ckey)
    assert(plan.contains("LeftAnti"))
  }

  test("q161: LSH decontamination joins stay keyed (no eval broadcast NLJ)") {
    val plan = physicalPlan("q161_semantic_decon_lsh")
    assert(!plan.contains("CartesianProduct"))
    // the banded candidate join keys on (band, bkey); embeddings re-join
    // keyed on ids — the only allowed BNLJ is none at all
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q165: auto skew join splits via broadcast hot set, unions two keyed arms") {
    val plan = physicalPlan("q165_auto_skew_join")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Union"))
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"))
    // the 1-row auto threshold rides a broadcast nested loop (fine); any
    // OTHER BNLJ would be an unkeyed join of real tables
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"unexpected BNLJ shape: $l")
    }
  }

  test("q164: forward as-of is the union-window plan — one sort, no range join") {
    val plan = physicalPlan("q164_asof_forward")
    assert(!plan.contains("CartesianProduct"))
    // the only BNLJ allowed is the fixture's own 25x40 rate-grid cross
    // join; the as-of itself must never appear as a range-condition join
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"unexpected BNLJ shape: $l")
    }
    assert(plan.contains("Union"))
    assert(plan.contains("Window"))
  }

  test("q167: window materialization is one shard exchange + one final aggregation") {
    val plan = SparkEntry.queries("q167_packed_windows")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin")) // no join anywhere in the pipeline
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
  }

  test("q168: sliding chunker is map-only — zero exchanges, zero joins") {
    val plan = SparkEntry.queries("q168_sliding_chunks")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunker shuffled:\n${plan.take(1500)}")
    assert(!plan.contains("Join"))
    assert(plan.contains("Generate"))
  }

  test("q184: span scrub is map-only over the corpus — no join against the probe set") {
    // the probe grams ride the kernel closure, so the corpus side must show
    // no join at all (the planted-fixture construction joins are against
    // the tiny probe table only, before the scrub)
    val plan = graft.operators.CorpusOps.removeContaminatedSpans(
      core.Tables.documents(spark, dir).filter(col("doc_id") >= 10),
      "text", "doc_id",
      core.Tables.documents(spark, dir).filter(col("doc_id") < 10),
      "text", n = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scrub joined:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange"), s"scrub shuffled:\n${plan.take(1500)}")
  }

  test("q185/q186: HLL sketches aggregate with map-side partials, no cartesian") {
    val plan = graft.operators.SketchOps.hllSketch(
      core.Tables.lineitem(spark, dir), Seq("l_returnflag"), "l_partkey", p = 9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // (group, idx) register max then group assembly: partial aggregation
    // must appear before each exchange
    assert("partial_max".r.findAllIn(plan).nonEmpty, s"no map-side max:\n${plan.take(2000)}")
    val rollupPlan = graft.operators.SketchOps.hllRollup(
      core.Tables.lineitem(spark, dir),
      Seq("l_returnflag", "l_linestatus"), "l_partkey", p = 9)
      .queryExecution.executedPlan.toString
    assert(!rollupPlan.contains("CartesianProduct"))
  }

  test("q193: delta-only CM maintenance never re-reads the base table") {
    import graft.core.TableStore
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plan_cm_ivm").toString
    val base = (0 until 50).map(i => (i.toLong, "g", (i % 10).toLong)).toDF("id", "g", "v")
    val v1 = TableStore.commit(base, root)
    val v2 = TableStore.merge(spark, root)(_.filter(col("id") =!= 3))
    // materialize feed AND state so the plan under test contains ONLY the
    // operators applyFeedCmSketch itself introduces
    val feed = TableStore.changeFeed(spark, root, Seq("id"), v1, v2)
      .localCheckpoint(true)
    val state = graft.operators.SketchOps.cmSketch(
      spark.read.parquet(s"$root/v_$v1"), Seq("g"), "v", depth = 2, widthLog2 = 6)
      .localCheckpoint(true)
    val plan = graft.operators.SketchOps.applyFeedCmSketch(state, feed,
      Seq("g"), "v", depth = 2, widthLog2 = 6)
      .queryExecution.executedPlan.toString
    // the linear-counter advance is signed delta aggregation + one merge
    // aggregation: NO join of any kind, and NO table scan — the base table
    // is never re-read (the claim that makes this the cheapest IVM shape)
    assert(!plan.contains("Join"), s"delta path joined:\n${plan.take(1500)}")
    assert(!plan.contains("FileScan"),
      s"delta path re-read a table:\n${plan.take(1500)}")
  }

  test("q195/q196: planted skew takes the salted path, uniform stays plain, small dim broadcasts") {
    import graft.operators.SketchOps
    val li = core.Tables.lineitem(spark, dir)
    val part = core.Tables.part(spark, dir).select(col("p_partkey").as("k"), col("p_size"))
    val uniL = li.select(col("l_partkey").as("k"), col("l_orderkey"))
    val skwL = li.select(when(col("l_orderkey") % 10 < 3, lit(7L))
      .otherwise(col("l_partkey")).as("k"), col("l_orderkey"))
    assert(SketchOps.equiJoinPlan(uniL, part, "k", broadcastMaxRows = 100L)
      .strategy == "shuffle")
    assert(SketchOps.equiJoinPlan(skwL, part, "k", broadcastMaxRows = 100L)
      .strategy == "salted_left")
    // the skewed EXECUTION carries the hot/cold union and the salt
    // replication explode; the uniform one is a single plain join
    val skwPlan = SketchOps.planEquiJoin(skwL, part, "k",
      col("l_orderkey"), col("p_size"), broadcastMaxRows = 100L)
      .queryExecution.executedPlan.toString
    assert(skwPlan.contains("Union"), s"hot/cold split missing:\n${skwPlan.take(1500)}")
    assert(skwPlan.contains("Generate"), s"salt replication missing:\n${skwPlan.take(1500)}")
    val uniPlan = SketchOps.planEquiJoin(uniL, part, "k",
      col("l_orderkey"), col("p_size"), broadcastMaxRows = 100L)
      .queryExecution.executedPlan.toString
    assert(!uniPlan.contains("Union"), s"uniform fixture salted:\n${uniPlan.take(1500)}")
    // a 25-row dimension dispatches to a broadcast hash join
    val smlL = core.Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("k"), col("c_custkey"))
    val smlR = core.Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    assert(SketchOps.equiJoinPlan(smlL, smlR, "k", broadcastMaxRows = 100L)
      .strategy == "broadcast_right")
    val smlPlan = SketchOps.planEquiJoin(smlL, smlR, "k",
      col("c_custkey"), col("n_name"), broadcastMaxRows = 100L)
      .queryExecution.executedPlan.toString
    assert(smlPlan.contains("BroadcastHashJoin"), s"dim not broadcast:\n${smlPlan.take(1500)}")
  }

  test("q189: CM sketch build is explode + keyed aggregation; estimate joins broadcast only") {
    val li = core.Tables.lineitem(spark, dir)
    val sk = graft.operators.SketchOps.cmSketch(li, Nil, "l_orderkey",
      depth = 4, widthLog2 = 10)
    val q = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n")).limit(5)
    val plan = graft.operators.SketchOps.cmEstimate(sk, q, Nil, "l_orderkey",
      depth = 4, widthLog2 = 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CM estimate went cartesian:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the single global sketch row must broadcast to the query side")
  }

  private def withSqlConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
