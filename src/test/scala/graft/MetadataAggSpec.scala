package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SketchFileIndex, SketchRegistry, ZOrderStore}

/** Metadata-only aggregate answering: unfiltered count(*)/min/max over a
  * readIndexed relation collapse to the registry's exact numbers — zero
  * FileScan in the plan, values identical to the full computation.
  */
class MetadataAggSpec extends AnyFunSuite with SparkTest
    with BeforeAndAfterAll {

  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (!spark.experimental.extraOptimizations.contains(MetadataAggCollapse))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MetadataAggCollapse
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.metadataAgg.enabled")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == MetadataAggCollapse)
    super.afterAll()
  }

  private def withRule[T](body: => T): T = {
    spark.conf.set("spark.graft.metadataAgg.enabled", "true")
    try body
    finally spark.conf.set("spark.graft.metadataAgg.enabled", "false")
  }

  private def collapsed(df: DataFrame): Boolean = {
    val opt = df.queryExecution.optimizedPlan
    val isLocal = opt.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    isLocal && !df.queryExecution.executedPlan.toString.contains("FileScan")
  }

  test("shard-set digest: deterministic, 128-bit, distinct across shard sets") {
    val sets = (0 until 1024).map(mask => (0 until 10).filter(b => (mask >> b & 1) == 1)) ++
      Seq(0 until 4096, 1 until 4096, Seq(4095), Seq(0, 4095))
    val digests = sets.map(MetadataAggCollapse.shardSetDigest)
    assert(digests == sets.map(MetadataAggCollapse.shardSetDigest))
    assert(digests.forall(_.matches("[0-9a-f]{32}")))
    assert(digests.distinct.size == sets.size)
  }

  test("range layout: count/min/max on sort + stats columns collapse to exact values, zero FileScan") {
    val root = java.nio.file.Files.createTempDirectory("magg_range").toString
    // event_id correlates with ts; val3 carries an all-null stats column
    val df = (0 until 900).map(i => (1000L + i, i.toLong * 7 % 500, i % 13))
      .toDF("ts", "event_id", "x")
      .withColumn("allnull", lit(null).cast("long"))
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      statsCols = Seq("event_id", "allnull"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_r")
    withRule {
      val q = spark.sql("""SELECT count(*) AS n, min(ts) AS mn_ts, max(ts) AS mx_ts,
        min(event_id) AS mn_e, max(event_id) AS mx_e,
        min(allnull) AS mn_null, max(allnull) AS mx_null FROM magg_r""")
      assert(collapsed(q), s"expected a metadata collapse:\n${q.queryExecution.optimizedPlan}")
      val r = q.collect().head
      assert(r.getLong(0) == 900L && r.getLong(1) == 1000L && r.getLong(2) == 1899L)
      assert(r.getLong(3) == 0L && r.getLong(4) == 499L)
      assert(r.isNullAt(5) && r.isNullAt(6), "all-null stats column must report null min/max")
      // the collapse must equal the full computation field for field
      val full = df.agg(count(lit(1)), min("ts"), max("ts"),
        min("event_id"), max("event_id"), min("allnull"), max("allnull"))
        .collect().head
      assert(q.collect().head.toSeq == full.toSeq)
    }
  }

  test("hash layout: count(*) collapses; min over the key does not (no order info)") {
    val root = java.nio.file.Files.createTempDirectory("magg_hash").toString
    val df = (0 until 700).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    SketchRegistry.commitWithSketches(df, root, "id", shardsLog2 = 3,
      bitsLog2 = 12, k = 4)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_h")
    withRule {
      val cnt = spark.sql("SELECT count(*) AS n FROM magg_h")
      assert(collapsed(cnt))
      assert(cnt.collect().head.getLong(0) == 700L)
      val mn = spark.sql("SELECT min(id) AS mn FROM magg_h")
      assert(!collapsed(mn), "a hash layout has no exact order stats — must scan")
      assert(mn.collect().head.getLong(0) == 0L)
    }
  }

  test("z-order layout: both interleaved columns collapse") {
    val root = java.nio.file.Files.createTempDirectory("magg_z").toString
    val df = (0 until 600).map(i => (i.toLong, (i % 40).toLong, (i * 3 % 50).toLong))
      .toDF("id", "a", "b")
    ZOrderStore.commitZOrdered(df, root, "a", "b", shardsLog2 = 4, subLog2 = 5)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_z")
    withRule {
      val q = spark.sql(
        "SELECT count(*) AS n, min(a) AS mna, max(a) AS mxa, min(b) AS mnb, max(b) AS mxb FROM magg_z")
      assert(collapsed(q))
      assert(q.collect().head.toSeq == Seq(600L, 0L, 39L, 0L, 49L))
    }
  }

  test("disqualifiers: filters, grouping, other aggregates, disabled-by-default all scan — with right answers") {
    val root = java.nio.file.Files.createTempDirectory("magg_dq").toString
    val df = (0 until 500).map(i => (100L + i, i.toLong)).toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_d")
    // disabled: untouched
    val off = spark.sql("SELECT count(*) AS n FROM magg_d")
    assert(!collapsed(off) && off.collect().head.getLong(0) == 500L)
    withRule {
      // a WHERE clause changes the exact answer: no collapse, exact scan result
      val filtered = spark.sql("SELECT count(*) AS n FROM magg_d WHERE ts < 300")
      assert(!collapsed(filtered) && filtered.collect().head.getLong(0) == 200L)
      // grouping: untouched
      val grouped = spark.sql("SELECT ts % 2 AS g, count(*) AS n FROM magg_d GROUP BY 1")
      assert(!collapsed(grouped) && grouped.collect().map(_.getLong(1)).sum == 500L)
      // an uncovered aggregate (sum) keeps the whole plan scanning
      val mixed = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM magg_d")
      assert(!collapsed(mixed))
      assert(mixed.collect().head.toSeq == Seq(500L, (0L until 500L).sum))
      // count(v) skips nulls — NOT the row count: untouched
      val cntCol = spark.sql("SELECT count(v) AS n FROM magg_d")
      assert(!collapsed(cntCol) && cntCol.collect().head.getLong(0) == 500L)
    }
  }

  test("windowed count: contained shards count from metadata, only boundary shards scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_w").toString
    // ts 0..7999 over 8 quantile shards (~1000 wide each)
    val df = (0 until 8000).map(i => (i.toLong, i % 97)).toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_w")
    withRule {
      // interior window: 4701 rows, only the two boundary shards scan
      val q = spark.sql(
        "SELECT count(*) AS n FROM magg_w WHERE ts BETWEEN 1500 AND 6200")
      assert(q.collect().head.getLong(0) == 4701L)
      val parts = scannedParts(q)
      assert(parts > 0 && parts <= 2,
        s"only boundary shards may scan, got $parts:\n${q.queryExecution.executedPlan}")
      // full-span window: pure metadata, zero FileScan
      val full = spark.sql(
        "SELECT 'w' AS tag, count(*) AS n FROM magg_w WHERE ts >= 0 AND ts < 100000")
      assert(full.collect().head.getLong(1) == 8000L)
      assert(collapsed(full), s"full-span window must collapse:\n${full.queryExecution.optimizedPlan}")
      // unsatisfiable window: zero, zero FileScan
      val none = spark.sql(
        "SELECT count(*) AS n FROM magg_w WHERE ts > 10 AND ts < 5")
      assert(none.collect().head.getLong(0) == 0L && collapsed(none))
      // an extra non-range conjunct disqualifies (right answer, scans)
      val mixed = spark.sql(
        "SELECT count(*) AS n FROM magg_w WHERE ts BETWEEN 1500 AND 6200 AND v % 2 = 0")
      assert(!collapsed(mixed))
      assert(mixed.collect().head.getLong(0) ==
        df.filter(col("ts").between(1500, 6200) && col("v") % 2 === 0).count())
    }
  }

  test("windowed min/max: contained window endpoints combine with the boundary scan via Least/Greatest") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_mm").toString
    val df = (0 until 8000).map(i => (i.toLong, i % 97)).toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_mm")
    withRule {
      // interior window: min/max/count all exact, boundary-only scan
      val q = spark.sql("""SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx
        FROM magg_mm WHERE ts BETWEEN 1500 AND 6200""")
      assert(q.collect().head.toSeq == Seq(4701L, 1500L, 6200L))
      assert(scannedParts(q) <= 2,
        s"only boundary shards may scan: ${scannedParts(q)}")
      // a window starting exactly at a shard edge: min comes from the
      // contained shard's window endpoint (metadata), max from boundary
      val edge = spark.sql("""SELECT min(ts) AS mn, max(ts) AS mx
        FROM magg_mm WHERE ts >= 2000 AND ts < 6001""")
      assert(edge.collect().head.toSeq == Seq(2000L, 6000L))
      // full span: pure metadata for min/max too
      val full = spark.sql(
        "SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx FROM magg_mm WHERE ts >= 0")
      assert(full.collect().head.toSeq == Seq(8000L, 0L, 7999L))
      assert(collapsed(full))
      // empty window: count 0, null min/max
      val none = spark.sql(
        "SELECT count(*) AS n, min(ts) AS mn FROM magg_mm WHERE ts > 9 AND ts < 5")
      val r = none.collect().head
      assert(r.getLong(0) == 0L && r.isNullAt(1) && collapsed(none))
      // min over a NON-guarded column inside a window: disqualified
      // (v carries no exact windows), answers stay right
      val vmin = spark.sql(
        "SELECT min(v) AS mn FROM magg_mm WHERE ts BETWEEN 1500 AND 6200")
      assert(!collapsed(vmin))
      assert(vmin.collect().head.getInt(0) == 0)
    }
  }

  test("windowed count on Z boxes and on non-guarded columns") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val zroot = java.nio.file.Files.createTempDirectory("magg_wz").toString
    val zdf = (0 until 1600).map(i => ((i % 40).toLong, (i / 40).toLong, i))
      .toDF("a", "b", "v")
    ZOrderStore.commitZOrdered(zdf, zroot, "a", "b", shardsLog2 = 4, subLog2 = 5)
    SketchFileIndex.readIndexed(spark, zroot).createOrReplaceTempView("magg_wz")
    withRule {
      // a 2-D box: interior cells count from rectangles, boundary scans
      val q = spark.sql(
        "SELECT count(*) AS n FROM magg_wz WHERE a BETWEEN 5 AND 33 AND b BETWEEN 7 AND 29")
      assert(q.collect().head.getLong(0) ==
        zdf.filter(col("a").between(5, 33) && col("b").between(7, 29)).count())
      assert(scannedParts(q) < 16,
        s"interior cells must count from metadata: ${scannedParts(q)}")
      // one-dimension-only predicate works too
      val oneD = spark.sql("SELECT count(*) AS n FROM magg_wz WHERE a >= 20")
      assert(oneD.collect().head.getLong(0) == 800L)
    }
    // a range-layout STATS column is not null-guarded: no windowed
    // collapse (nulls would be counted into contained shards), answers
    // stay right
    val rroot = java.nio.file.Files.createTempDirectory("magg_ws").toString
    val rdf = (0 until 1000).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i.toLong)))
      .toDF("ts", "e")
    SketchRegistry.commitRangeSharded(rdf, rroot, "ts", shardsLog2 = 2,
      statsCols = Seq("e"))
    SketchFileIndex.readIndexed(spark, rroot).createOrReplaceTempView("magg_ws")
    withRule {
      val q = spark.sql("SELECT count(*) AS n FROM magg_ws WHERE e BETWEEN 100 AND 700")
      assert(!collapsed(q), "stats-column windows must not drive the windowed count")
      assert(q.collect().head.getLong(0) ==
        rdf.filter(col("e").between(100, 700)).count())
    }
  }

  test("sumCols: exact sum/count(c) collapse, windowed sums, append-maintained, null-aware") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_sum").toString
    // v nullable every 5th row; z all-null
    val df = (0 until 4000).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i.toLong * 3)))
      .toDF("ts", "v")
      .withColumn("z", lit(null).cast("long"))
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      sumCols = Seq("v", "z"))
    SketchRegistry.appendRangeSharded(spark, root,
      (0 until 300).map(i => (9000L + i, Some(7L))).toDF("ts", "v")
        .withColumn("z", lit(null).cast("long")))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_s")
    val expSum = (0 until 4000).filter(_ % 5 != 0).map(_.toLong * 3).sum + 300 * 7L
    val expCnt = 3200L + 300L
    withRule {
      // unfiltered: sum(v), count(v), count(ts) (guarded = row count),
      // sum(z) (all-null -> null) all collapse with zero FileScan
      val q = spark.sql("""SELECT sum(v) AS s, count(v) AS cv, count(ts) AS ct,
        sum(z) AS sz, count(z) AS cz, count(*) AS n FROM magg_s""")
      assert(collapsed(q), s"sum stats must collapse:\n${q.queryExecution.optimizedPlan}")
      val r = q.collect().head
      assert(r.getLong(0) == expSum && r.getLong(1) == expCnt &&
        r.getLong(2) == 4300L && r.isNullAt(3) && r.getLong(4) == 0L &&
        r.getLong(5) == 4300L)
      // value identity against the full computation
      assert(r.toSeq == df.unionByName(
        (0 until 300).map(i => (9000L + i, Some(7L))).toDF("ts", "v")
          .withColumn("z", lit(null).cast("long")))
        .agg(sum("v"), count("v"), count("ts"), sum("z"), count("z"),
          count(lit(1))).collect().head.toSeq)
      // windowed sum/count: contained shards contribute stored sums,
      // only boundary shards scan
      val w = spark.sql("""SELECT count(*) AS n, sum(v) AS s, count(v) AS cv
        FROM magg_s WHERE ts BETWEEN 700 AND 3100""")
      val exp = df.filter(col("ts").between(700, 3100))
        .agg(count(lit(1)), sum("v"), count("v")).collect().head
      assert(w.collect().head.toSeq == exp.toSeq)
      assert(scannedParts(w) <= 2,
        s"windowed sum must scan boundary shards only: ${scannedParts(w)}")
      // sum over an uncovered column: untouched, right answer
      val unc = spark.sql("SELECT sum(ts) AS s FROM magg_s")
      assert(!collapsed(unc))
      assert(unc.collect().head.getLong(0) ==
        (0 until 4000).map(_.toLong).sum + (0 until 300).map(9000L + _).sum)
    }
  }

  test("Z-order sumCols: box-windowed sums, append + keyed-upsert maintained") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_zsum").toString
    val df = (0 until 1600).map(i =>
      ((i % 40).toLong, (i / 40).toLong, i.toLong, i.toLong * 7))
      .toDF("a", "b", "id", "v")
    ZOrderStore.commitZOrdered(df, root, "a", "b", shardsLog2 = 4,
      subLog2 = 5, sketchCols = Seq("id"), bloomBitsLog2 = 12,
      sumCols = Seq("v"))
    // append + keyed upsert/delete: the sums must stay exact through both
    val batch = (0 until 50).map(i =>
      (3L + i % 7, 5L + i % 9, 90000L + i, 11L)).toDF("a", "b", "id", "v")
    ZOrderStore.appendZOrdered(spark, root, batch)
    ZOrderStore.applyChangesZOrdered(spark, root, "id",
      upserts = Seq((7L, 7L, 42L, 1000000L)).toDF("a", "b", "id", "v"),
      deleteKeys = Seq(99L).toDF("id"))
    val now = graft.core.TableStore.read(spark, root)
      .select("a", "b", "id", "v")
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_zs")
    withRule {
      val full = spark.sql("SELECT sum(v) AS s, count(v) AS c FROM magg_zs")
      assert(collapsed(full), s"Z sums must collapse:\n${full.queryExecution.optimizedPlan}")
      assert(full.collect().head.toSeq ==
        now.agg(sum("v"), count("v")).collect().head.toSeq)
      // box-windowed sum: interior cells from stored sums, boundary scans
      val box = spark.sql(
        "SELECT count(*) AS n, sum(v) AS s FROM magg_zs WHERE a BETWEEN 5 AND 33 AND b BETWEEN 7 AND 29")
      assert(box.collect().head.toSeq ==
        now.filter(col("a").between(5, 33) && col("b").between(7, 29))
          .agg(count(lit(1)), sum("v")).collect().head.toSeq)
      assert(scannedParts(box) < 16,
        s"interior cells must sum from metadata: ${scannedParts(box)}")
    }
  }

  test("hash-layout sumCols + avg(): sum/count/avg collapse with zero FileScan, append + upsert maintained") {
    val root = java.nio.file.Files.createTempDirectory("magg_hsum").toString
    // v nullable every 4th row; z all-null
    val df = (0 until 3000).map(i =>
      (i.toLong, if (i % 4 == 0) None else Some(i.toLong * 5)))
      .toDF("id", "v")
      .withColumn("z", lit(null).cast("long"))
    SketchRegistry.commitWithSketches(df, root, "id", shardsLog2 = 3,
      bitsLog2 = 12, k = 4, sumCols = Seq("v", "z"))
    // append merges (sum, cnt) additively; keyed upsert/delete rebuilds
    // the touched shards' stats from their new rows — both must stay exact
    SketchRegistry.appendWithSketches(spark, root,
      (5000 until 5200).map(i => (i.toLong, Some(13L))).toDF("id", "v")
        .withColumn("z", lit(null).cast("long")))
    SketchRegistry.applyChangesWithSketches(spark, root,
      upserts = Seq((7L, Some(1000000L), Option.empty[Long]))
        .toDF("id", "v", "z"),
      deleteKeys = Seq(42L).toDF("id"))
    val now = graft.core.TableStore.read(spark, root).select("id", "v", "z")
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_hs")
    withRule {
      val q = spark.sql("""SELECT sum(v) AS s, count(v) AS cv, avg(v) AS av,
        sum(z) AS sz, avg(z) AS az, count(*) AS n FROM magg_hs""")
      assert(collapsed(q),
        s"hash sum stats must collapse:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().head.toSeq == now.agg(sum("v"), count("v"),
        avg("v"), sum("z"), avg("z"), count(lit(1))).collect().head.toSeq)
      // min over the hash layout still never collapses (Blooms carry
      // membership, not order) — and the un-collapsed answer is right
      val mn = spark.sql("SELECT min(id) AS m FROM magg_hs")
      assert(!collapsed(mn))
      assert(mn.collect().head.getLong(0) == 0L)
    }
    // avg over a range layout's sumCols collapses through the same arm
    val rroot = java.nio.file.Files.createTempDirectory("magg_ravg").toString
    val rdf = (0 until 900).map(i =>
      (100L + i, if (i % 3 == 0) None else Some(i.toLong * 2)))
      .toDF("ts", "v")
    SketchRegistry.commitRangeSharded(rdf, rroot, "ts", shardsLog2 = 3,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, rroot)
      .createOrReplaceTempView("magg_ravg")
    withRule {
      val a = spark.sql("SELECT avg(v) AS a, avg(ts) AS at FROM magg_ravg")
      // ts carries no sum stats -> the mixed aggregate is left alone,
      // with the right answer; v alone collapses
      assert(!collapsed(a))
      assert(a.collect().head.toSeq ==
        rdf.agg(avg("v"), avg("ts")).collect().head.toSeq)
      val av = spark.sql("SELECT avg(v) AS a FROM magg_ravg")
      assert(collapsed(av),
        s"range avg must collapse:\n${av.queryExecution.optimizedPlan}")
      assert(av.collect().head.toSeq ==
        rdf.agg(avg("v")).collect().head.toSeq)
    }
  }

  test("GROUP BY bucket collapse: contained shards answer per group from metadata, only bucket-spanning shards scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_grp").toString
    // v nullable every 5th row — sums must stay null-aware per group
    val df = (0 until 4000).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i.toLong * 3)))
      .toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_g")
    def expected(bucket: Long) = df
      .groupBy((col("ts") / bucket).cast("long").as("b"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"), count("v").as("cv"),
        min("ts").as("mn"), max("ts").as("mx"))
      .orderBy("b").collect().map(_.toSeq).toSeq
    withRule {
      // ~500-row quantile shards; 750-wide buckets make some shards
      // contained and some bucket-spanning
      val q = spark.sql("""SELECT ts div 750 AS b, count(*) AS n,
        sum(v) AS s, count(v) AS cv, min(ts) AS mn, max(ts) AS mx
        FROM magg_g GROUP BY 1 ORDER BY b""")
      assert(q.collect().map(_.toSeq).toSeq == expected(750))
      val parts = scannedParts(q)
      assert(parts > 0 && parts < 8,
        s"bucketed GROUP BY must scan only bucket-spanning shards, got $parts/8")
      // one giant bucket contains every shard: pure LocalRelation
      val one = spark.sql("""SELECT ts div 1000000 AS b, count(*) AS n,
        sum(v) AS s FROM magg_g GROUP BY 1""")
      assert(collapsed(one),
        s"all-contained grouping must collapse:\n${one.queryExecution.optimizedPlan}")
      assert(one.collect().head.toSeq == Seq(0L, 4000L,
        (0 until 4000).filter(_ % 5 != 0).map(_.toLong * 3).sum))
      // date_trunc-shaped label: (ts div n) * n
      val lbl = spark.sql("""SELECT (ts div 750) * 750 AS b, count(*) AS n
        FROM magg_g GROUP BY 1 ORDER BY b""")
      assert(lbl.collect().map(_.toSeq).toSeq ==
        df.groupBy(((col("ts") / 750).cast("long") * 750).as("b"))
          .agg(count(lit(1)).as("n")).orderBy("b").collect().map(_.toSeq).toSeq)
      assert(scannedParts(lbl) < 8)
      // avg per group: exact total-sum ÷ total-count across the metadata
      // and scan halves — never an average of averages. Nullable v makes
      // per-group counts differ from n_rows, so a weighting bug would
      // show immediately.
      val av = spark.sql("""SELECT ts div 750 AS b, avg(v) AS a
        FROM magg_g GROUP BY 1 ORDER BY b""")
      val avExp = df.groupBy((col("ts") / 750).cast("long").as("b"))
        .agg(avg("v").as("a")).orderBy("b").collect().map(_.toSeq).toSeq
      assert(av.collect().map(_.toSeq).toSeq == avExp)
      assert(scannedParts(av) < 8,
        "grouped avg must scan only bucket-spanning shards")
      // disqualifiers stay untouched with right answers: non-monotone
      // grouping, avg on an uncovered column, a NON-interval filter
      // conjunct (interval filters now COMPOSE — see the filtered
      // grouped-collapse test)
      val mod = spark.sql(
        "SELECT ts % 7 AS g, count(*) AS n FROM magg_g GROUP BY 1")
      assert(scannedParts(mod) == 8)
      assert(mod.collect().map(_.getLong(1)).sum == 4000L)
      val avTs = spark.sql(
        "SELECT ts div 750 AS b, avg(ts) AS a FROM magg_g GROUP BY 1")
      assert(scannedParts(avTs) == 8,
        "avg over a column without sum stats must stay untouched")
      val filt = spark.sql(
        "SELECT ts div 750 AS b, count(*) AS n FROM magg_g WHERE v % 2 = 0 GROUP BY 1")
      assert(scannedParts(filt) == 8,
        "a non-interval filter conjunct must disqualify the grouped collapse")
      assert(filt.collect().map(_.getLong(1)).sum ==
        df.filter(col("v") % 2 === 0).count())
    }
  }

  test("filtered GROUP BY bucket collapse: the region composes with bucket containment") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_fg").toString
    val df = (0 until 4000).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i.toLong * 3)))
      .toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_fg")
    withRule {
      // WHERE time-range GROUP BY time-bucket — THE dashboard shape:
      // region∩bucket-contained shards answer per group from metadata,
      // only region- or bucket-straddling shards scan
      val q = spark.sql("""SELECT ts div 750 AS b, count(*) AS n,
        sum(v) AS s, count(v) AS cv, min(ts) AS mn, max(ts) AS mx,
        avg(v) AS a
        FROM magg_fg WHERE ts >= 600 AND ts < 3700 GROUP BY 1 ORDER BY b""")
      val exp = df.filter(col("ts") >= 600 && col("ts") < 3700)
        .groupBy((col("ts") / 750).cast("long").as("b"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"), count("v").as("cv"),
          min("ts").as("mn"), max("ts").as("mx"), avg("v").as("a"))
        .orderBy("b").collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
      val parts = scannedParts(q)
      assert(parts > 0 && parts < 8,
        s"only region- or bucket-straddling shards may scan, got $parts/8")
      // shards OUTSIDE the region never scan: a tight interior window
      // touches only its intersecting shards
      val tight = spark.sql("""SELECT ts div 750 AS b, count(*) AS n
        FROM magg_fg WHERE ts >= 1500 AND ts < 2250 GROUP BY 1 ORDER BY b""")
      val tightExp = df.filter(col("ts") >= 1500 && col("ts") < 2250)
        .groupBy((col("ts") / 750).cast("long").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy("b").collect().map(_.toSeq).toSeq
      assert(tight.collect().map(_.toSeq).toSeq == tightExp)
      assert(scannedParts(tight) <= 4,
        s"region-disjoint shards must drop outright: ${scannedParts(tight)}")
      // unsatisfiable region: a grouped aggregate over zero eligible
      // rows is ZERO rows — answered with zero files
      val none = spark.sql(
        "SELECT ts div 750 AS b, count(*) AS n FROM magg_fg WHERE ts < 0 GROUP BY 1")
      assert(none.collect().isEmpty && collapsed(none),
        s"empty region must answer zero groups from metadata:\n${none.queryExecution.optimizedPlan}")
      // region covering everything under one giant bucket: pure metadata
      val all = spark.sql("""SELECT ts div 1000000 AS b, count(*) AS n,
        sum(v) AS s FROM magg_fg WHERE ts >= 0 GROUP BY 1""")
      assert(collapsed(all))
      assert(all.collect().head.toSeq == Seq(0L, 4000L,
        (0 until 4000).filter(_ % 5 != 0).map(_.toLong * 3).sum))
    }
  }

  test("two-key GROUP BY collapse on the Z layout: cells contained in BOTH bucketings answer from rectangles") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_z2").toString
    val df = (0 until 1600).map(i =>
      ((i % 40).toLong, (i / 40).toLong, i.toLong * 7)).toDF("a", "b", "v")
    ZOrderStore.commitZOrdered(df, root, "a", "b", shardsLog2 = 4,
      subLog2 = 5, sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_z2")
    withRule {
      val q = spark.sql("""SELECT a div 10 AS ga, b div 10 AS gb,
        count(*) AS n, sum(v) AS s, min(a) AS mna, max(b) AS mxb
        FROM magg_z2 GROUP BY 1, 2 ORDER BY ga, gb""")
      val exp = df.groupBy((col("a") / 10).cast("long").as("ga"),
          (col("b") / 10).cast("long").as("gb"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("a").as("mna"), max("b").as("mxb"))
        .orderBy("ga", "gb").collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
      assert(scannedParts(q) < 16,
        s"cells contained in both bucketings must answer from metadata: ${scannedParts(q)}")
      // one giant bucket pair contains every cell: pure LocalRelation
      val one = spark.sql("""SELECT a div 100 AS ga, b div 100 AS gb,
        count(*) AS n, sum(v) AS s FROM magg_z2 GROUP BY 1, 2""")
      assert(collapsed(one),
        s"single-pair grouping must collapse:\n${one.queryExecution.optimizedPlan}")
      assert(one.collect().head.toSeq ==
        Seq(0L, 0L, 1600L, (0 until 1600).map(_.toLong * 7).sum))
      // a box filter on one dimension composes with the two bucketings
      val filt = spark.sql("""SELECT a div 10 AS ga, b div 10 AS gb,
        count(*) AS n FROM magg_z2 WHERE a >= 8 AND a < 32
        GROUP BY 1, 2 ORDER BY ga, gb""")
      val fExp = df.filter(col("a") >= 8 && col("a") < 32)
        .groupBy((col("a") / 10).cast("long").as("ga"),
          (col("b") / 10).cast("long").as("gb"))
        .agg(count(lit(1)).as("n"))
        .orderBy("ga", "gb").collect().map(_.toSeq).toSeq
      assert(filt.collect().map(_.toSeq).toSeq == fExp)
    }
  }

  test("hash-layout statsCols: min/max collapse with zero FileScan, append + upsert maintained") {
    val root = java.nio.file.Files.createTempDirectory("magg_hmm").toString
    // v nullable every 4th row; z all-null
    val df = (0 until 3000).map(i =>
      (i.toLong, if (i % 4 == 0) None else Some(i.toLong * 5)))
      .toDF("id", "v")
      .withColumn("z", lit(null).cast("long"))
    SketchRegistry.commitWithSketches(df, root, "id", shardsLog2 = 3,
      bitsLog2 = 12, k = 4, sumCols = Seq("v"), statsCols = Seq("v", "z"))
    // append merges windows by Least/Greatest; keyed upsert/delete
    // rebuilds the touched shards' windows from their new rows
    SketchRegistry.appendWithSketches(spark, root,
      (5000 until 5200).map(i => (i.toLong, Some(13L))).toDF("id", "v")
        .withColumn("z", lit(null).cast("long")))
    SketchRegistry.applyChangesWithSketches(spark, root,
      upserts = Seq((7L, Some(100000000L), Option.empty[Long]))
        .toDF("id", "v", "z"),
      deleteKeys = Seq(42L).toDF("id"))
    val now = graft.core.TableStore.read(spark, root).select("id", "v", "z")
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_hmm")
    withRule {
      val q = spark.sql("""SELECT min(v) AS mn, max(v) AS mx, min(z) AS mz,
        max(z) AS xz, sum(v) AS s, count(*) AS n FROM magg_hmm""")
      assert(collapsed(q),
        s"hash statsCols min/max must collapse:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().head.toSeq == now.agg(min("v"), max("v"),
        min("z"), max("z"), sum("v"), count(lit(1))).collect().head.toSeq)
      // min over the KEY still does not collapse — the key carries
      // Blooms (membership), not windows (order)
      val mn = spark.sql("SELECT min(id) AS m FROM magg_hmm")
      assert(!collapsed(mn))
      assert(mn.collect().head.getLong(0) == 0L)
    }
  }

  test("correlated-dimension grouping: statsCols windows + the per-shard non-null proof drive the collapse") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_cdim").toString
    // e tracks ts exactly (a correlated id); NULL only inside ts
    // [1000, 1100) — ONE shard loses its non-null proof, the rest keep it
    val df = (0 until 4000).map { i =>
      val ts = i.toLong
      (ts, if (ts >= 1000 && ts < 1100) None else Some(ts * 2))
    }.toDF("ts", "e")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      statsCols = Seq("e"), sumCols = Seq("e"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_cd")
    withRule {
      // GROUP BY e-bucket over the ts-laid table: proof-carrying shards
      // whose e-window maps into one 1600-bucket contribute from
      // metadata; the null-bearing shard and bucket-straddlers scan —
      // and the scan half computes the NULL group exactly
      val q = spark.sql("""SELECT e div 1600 AS eb, count(*) AS n,
        sum(e) AS s, count(e) AS ce, min(ts) AS mn, max(ts) AS mx
        FROM magg_cd GROUP BY 1 ORDER BY eb""")
      val exp = df.groupBy((col("e") / 1600).cast("long").as("eb"))
        .agg(count(lit(1)).as("n"), sum("e").as("s"), count("e").as("ce"),
          min("ts").as("mn"), max("ts").as("mx"))
        .orderBy(col("eb").asc_nulls_first).collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
      val parts = scannedParts(q)
      assert(parts > 0 && parts < 8,
        s"proof-carrying contained shards must answer from metadata, got $parts/8")
      // min/max over the windowed dimension column itself — null-skipping
      // windows ARE the exact per-shard min/max contributions
      val mm = spark.sql("""SELECT ts div 1000 AS b, min(e) AS mn, max(e) AS mx
        FROM magg_cd GROUP BY 1 ORDER BY b""")
      val mmExp = df.groupBy((col("ts") / 1000).cast("long").as("b"))
        .agg(min("e").as("mn"), max("e").as("mx"))
        .orderBy("b").collect().map(_.toSeq).toSeq
      assert(mm.collect().map(_.toSeq).toSeq == mmExp)
      assert(scannedParts(mm) < 8)
      // a FILTER on the windowed column composes (region drop is sound
      // with nulls — they satisfy no range predicate; containment runs
      // the proof), incl. an explicit IS NOT NULL conjunct
      val filt = spark.sql("""SELECT e div 1600 AS eb, count(*) AS n
        FROM magg_cd WHERE e >= 2000 AND e < 7000 AND e IS NOT NULL
        GROUP BY 1 ORDER BY eb""")
      val fExp = df.filter(col("e") >= 2000 && col("e") < 7000)
        .groupBy((col("e") / 1600).cast("long").as("eb"))
        .agg(count(lit(1)).as("n"))
        .orderBy("eb").collect().map(_.toSeq).toSeq
      assert(filt.collect().map(_.toSeq).toSeq == fExp)
      assert(scannedParts(filt) < 8)
      // a column committed with statsCols ALONE auto-carries its exact
      // non-null count (cnt_<c>), so its windows arrive PROOF-CAPABLE:
      // grouping on it collapses exactly like the sumCols-backed store,
      // the null-bearing shard still scans (its cnt < n_rows), and
      // count(e) answers from the same counts with zero files
      val root2 = java.nio.file.Files.createTempDirectory("magg_cd2").toString
      SketchRegistry.commitRangeSharded(df, root2, "ts", shardsLog2 = 3,
        statsCols = Seq("e"))
      SketchFileIndex.readIndexed(spark, root2)
        .createOrReplaceTempView("magg_cd2")
      val autop = spark.sql("""SELECT e div 1600 AS eb, count(*) AS n,
        count(e) AS ce FROM magg_cd2 GROUP BY 1 ORDER BY eb""")
      val autopExp = df.groupBy((col("e") / 1600).cast("long").as("eb"))
        .agg(count(lit(1)).as("n"), count("e").as("ce"))
        .orderBy(col("eb").asc_nulls_first).collect().map(_.toSeq).toSeq
      assert(autop.collect().map(_.toSeq).toSeq == autopExp)
      val autopParts = scannedParts(autop)
      assert(autopParts > 0 && autopParts < 8,
        s"statsCols auto-count must prove non-null shards for the grouped " +
          s"collapse, got $autopParts/8")
      val ce = spark.sql("SELECT count(e) AS ce FROM magg_cd2")
      assert(collapsed(ce),
        s"count(c) over an auto-counted statsCols column must answer from " +
          s"metadata:\n${ce.queryExecution.optimizedPlan}")
      assert(ce.collect().head.getLong(0) == 3900L)
      // the UNGROUPED windowed arm over the correlated dimension:
      // proof-carrying contained shards answer from metadata; the
      // null-bearing shard (inside the region, no proof) and the
      // cut-boundary shards scan
      val win = spark.sql("""SELECT count(*) AS n, sum(e) AS s,
        min(ts) AS mn, max(ts) AS mx, min(e) AS mne
        FROM magg_cd WHERE e >= 1000 AND e < 7000""")
      val winExp = df.filter(col("e") >= 1000 && col("e") < 7000)
        .agg(count(lit(1)), sum("e"), min("ts"), max("ts"), min("e"))
        .collect().head.toSeq
      assert(win.collect().head.toSeq == winExp)
      assert(scannedParts(win) < 8,
        s"windowed correlated-dim aggregate must scan boundary+unproven shards only: ${scannedParts(win)}")
      // the windowed arm on the statsCols-only store: the auto-count
      // proves containment, the null-bearing shard (cnt < n_rows) and
      // cut-boundary shards scan, non-intersecting shards drop
      val winNp = spark.sql(
        "SELECT count(*) AS n FROM magg_cd2 WHERE e >= 1000 AND e < 3000")
      assert(winNp.collect().head.getLong(0) ==
        df.filter(col("e") >= 1000 && col("e") < 3000).count())
      assert(scannedParts(winNp) < 8,
        s"auto-counted windows must collapse the windowed arm too: " +
          s"${scannedParts(winNp)}/8")
    }
  }

  test("categorical labelCols: GROUP BY bucket, label collapses to per-label metadata counts") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def scannedParts(df: DataFrame): Int =
      allScans(df.queryExecution.executedPlan)
        .map(_.selectedPartitions.toPartitionArray.length).sum
    val root = java.nio.file.Files.createTempDirectory("magg_lbl").toString
    val cats = Array("click", "view", "error")
    // 4 labels incl. a NULL run (its own SQL group); hi is a
    // high-cardinality column that must BAIL (> labelMax distinct)
    val df = (0 until 4000).map { i =>
      val cat = if (i % 37 == 0) None else Some(cats(i % 3))
      (i.toLong, cat, s"u${i % 200}", i % 5)
    }.toDF("ts", "cat", "hi", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      labelCols = Seq("cat", "hi"), labelMax = 8)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_lb")
    def expect(sql: String, expected: DataFrame): DataFrame = {
      val q = spark.sql(sql)
      val got = q.collect().map(_.toSeq).toSeq
      val exp = expected.collect().map(_.toSeq).toSeq
      assert(got == exp, s"$sql\n got $got\n exp $exp")
      q
    }
    withRule {
      // time-bucket × category: every shard is region-free and
      // bucket-contained or straddling — straddlers only scan, counts
      // exact including the NULL-label group
      val q = expect("""SELECT ts div 1000 AS b, cat, count(*) AS n,
          count(cat) AS nc, count(ts) AS nt
        FROM magg_lb GROUP BY 1, 2 ORDER BY b, cat NULLS FIRST""",
        df.groupBy((col("ts") / 1000).cast("long").as("b"), col("cat"))
          .agg(count(lit(1)).as("n"), count("cat").as("nc"),
            count("ts").as("nt"))
          .orderBy(col("b"), col("cat").asc_nulls_first))
      // quantile bounds rarely align with round buckets: bucket
      // straddlers (and only they) scan
      assert(scannedParts(q) < 8,
        s"bucket straddlers only must scan, got ${scannedParts(q)}/8")
      // label alone (the reference's GROUP BY source/decay_level stats
      // shape): pure metadata, zero files
      val alone = expect(
        """SELECT cat, count(*) AS n FROM magg_lb
          |GROUP BY 1 ORDER BY cat NULLS FIRST""".stripMargin,
        df.groupBy(col("cat")).agg(count(lit(1)).as("n"))
          .orderBy(col("cat").asc_nulls_first))
      assert(scannedParts(alone) == 0)
      // a WHERE region composes: straddlers scan with filter+grouping
      val filt = expect("""SELECT ts div 1000 AS b, cat, count(*) AS n
        FROM magg_lb WHERE ts >= 700 AND ts < 3300
        GROUP BY 1, 2 ORDER BY b, cat NULLS FIRST""",
        df.filter(col("ts") >= 700 && col("ts") < 3300)
          .groupBy((col("ts") / 1000).cast("long").as("b"), col("cat"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("b"), col("cat").asc_nulls_first))
      val fparts = scannedParts(filt)
      assert(fparts > 0 && fparts < 8,
        s"region straddlers only must scan, got $fparts/8")
      // the bailed high-cardinality column: right answers, full scan
      val bail = expect(
        """SELECT hi, count(*) AS n FROM magg_lb
          |GROUP BY 1 ORDER BY hi""".stripMargin,
        df.groupBy(col("hi")).agg(count(lit(1)).as("n")).orderBy("hi"))
      assert(scannedParts(bail) == 8,
        "a > labelMax column must scan — bailed stats carry no info")
      // non-count aggregates with a label dimension stay untouched
      val mm = spark.sql(
        "SELECT cat, min(ts) AS mn FROM magg_lb GROUP BY 1")
      assert(scannedParts(mm) == 8,
        "min/max need per-label stats the registry does not store")
      // two label dimensions: marginals can't make a joint — untouched
      val two = spark.sql(
        "SELECT cat, hi, count(*) AS n FROM magg_lb GROUP BY 1, 2")
      assert(scannedParts(two) == 8)
    }
    // APPEND: label counts merge additively; grouped answers stay exact
    val batch = (4000 until 5000).map { i =>
      (i.toLong, Some("purchase"), s"u${i % 200}", i % 5)
    }.toDF("ts", "cat", "hi", "v")
    SketchRegistry.appendRangeSharded(spark, root, batch)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_lb2")
    val all = df.unionByName(batch)
    withRule {
      val q = spark.sql("""SELECT cat, count(*) AS n FROM magg_lb2
        GROUP BY 1 ORDER BY cat NULLS FIRST""")
      val exp = all.groupBy(col("cat")).agg(count(lit(1)).as("n"))
        .orderBy(col("cat").asc_nulls_first).collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
      assert(scannedParts(q) == 0,
        "merged label stats must still answer from metadata")
    }
    // Z layout: GROUP BY an interleaved-column bucket × label
    val zroot = java.nio.file.Files.createTempDirectory("magg_lblz").toString
    val zdf = (0 until 4000).map { i =>
      (i.toLong % 50, (i % 7).toLong, Some(cats(i % 3)).filter(_ => i % 41 != 0))
    }.toDF("qty", "ln", "cat")
    ZOrderStore.commitZOrdered(zdf, zroot, "qty", "ln", shardsLog2 = 4,
      labelCols = Seq("cat"))
    SketchFileIndex.readIndexed(spark, zroot).createOrReplaceTempView("magg_lbz")
    withRule {
      val q = spark.sql("""SELECT qty div 100 AS qb, cat, count(*) AS n
        FROM magg_lbz GROUP BY 1, 2 ORDER BY qb, cat NULLS FIRST""")
      val exp = zdf.groupBy((col("qty") / 100).cast("long").as("qb"), col("cat"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("qb"), col("cat").asc_nulls_first)
        .collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
      assert(scannedParts(q) == 0,
        s"single-bucket Z cells must answer per label from metadata, " +
          s"got ${scannedParts(q)}/16")
    }
  }

  test("statsCols auto-count: append merges it additively; pre-auto-count stores stay readable") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val root = java.nio.file.Files.createTempDirectory("magg_acnt").toString
    val base = (0 until 2000).map(i => (i.toLong,
      if (i % 97 == 0) None else Some(i.toLong * 2))).toDF("ts", "e")
    val batch = (2000 until 3000).map(i => (i.toLong, Some(i.toLong * 2)))
      .toDF("ts", "e")
    SketchRegistry.commitRangeSharded(base, root, "ts", shardsLog2 = 2,
      statsCols = Seq("e"))
    SketchRegistry.appendRangeSharded(spark, root, batch)
    // merged counts must equal a fresh full build's (addition is exact)
    val zm = SketchRegistry.zoneMap(spark, root)
      .select("shard", "cnt_e", "n_rows").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val all = base.unionByName(batch)
    val expCnt = all.filter(col("e").isNotNull).count()
    assert(zm.values.map(_._1).sum == expCnt)
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_ac")
    withRule {
      val q = spark.sql("SELECT count(e) AS ce FROM magg_ac")
      assert(collapsed(q), "appended auto-counts must still answer count(c)")
      assert(q.collect().head.getLong(0) == expCnt)
    }
    // a store whose zone map PREDATES the auto-count (no cnt_e column):
    // maintenance verbs must align to the old schema instead of failing
    // the union, and consumers must degrade to the scan, never misread
    val oldRoot = java.nio.file.Files.createTempDirectory("magg_ocnt").toString
    SketchRegistry.commitRangeSharded(base, oldRoot, "ts", shardsLog2 = 2,
      statsCols = Seq("e"))
    val v0 = graft.core.TableStore.currentVersion(oldRoot).get
    val stripped = SketchRegistry.zoneMap(spark, oldRoot).drop("cnt_e")
      .collect()
    val schema = SketchRegistry.zoneMap(spark, oldRoot).drop("cnt_e").schema
    val zmDir = java.nio.file.Paths.get(oldRoot, s"v_$v0", "_zonemap")
    val tmp = java.nio.file.Files.createTempDirectory("magg_ozm")
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(stripped: _*)), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(zmDir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    java.nio.file.Files.move(tmp, zmDir)
    // append to the stripped store: the batch side must drop its cnt_e
    SketchRegistry.appendRangeSharded(spark, oldRoot, batch)
    assert(!SketchRegistry.zoneMap(spark, oldRoot).columns.contains("cnt_e"),
      "a pre-auto-count store keeps its format until a re-commit")
    SketchFileIndex.readIndexed(spark, oldRoot)
      .createOrReplaceTempView("magg_oc")
    withRule {
      val g = spark.sql(
        "SELECT e div 1600 AS eb, count(*) AS n FROM magg_oc GROUP BY 1")
      val gPlan = g.queryExecution.optimizedPlan.toString
      assert(!gPlan.contains("Union") && !gPlan.contains(" IN ("),
        s"a proof-free store must scan everything — degrading, never " +
          s"misreading:\n$gPlan")
      assert(g.collect().map(_.getLong(1)).sum == 3000L)
    }
  }

  private def withNdv[T](body: => T): T = {
    spark.conf.set("spark.graft.metadataAgg.approxDistinct.enabled", "true")
    try body
    finally spark.conf
      .unset("spark.graft.metadataAgg.approxDistinct.enabled")
  }

  private def verbEst(df: DataFrame, c: String, p: Int): Long =
    graft.operators.SketchOps.hllCardinality(df, Nil, c, p)
      .collect().head.getLong(0) / 1000000L

  test("approx_count_distinct collapses to merged registry HLLs (opt-in) — bit-identical to the verb") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    // HASH layout: the key's registry HLL answers the table-wide ndv
    val hroot = java.nio.file.Files.createTempDirectory("magg_adh").toString
    val hdf = (0 until 4000).map(i => ((i % 700).toLong, i.toLong))
      .toDF("k", "v")
    SketchRegistry.commitWithSketches(hdf, hroot, "k", shardsLog2 = 3,
      hllP = 12)
    SketchFileIndex.readIndexed(spark, hroot).createOrReplaceTempView("magg_adh")
    withRule {
      withNdv {
        val q = spark.sql("SELECT approx_count_distinct(k) AS d FROM magg_adh")
        assert(collapsed(q),
          s"hash-key approx ndv must collapse:\n${q.queryExecution.optimizedPlan}")
        assert(q.collect().head.getLong(0) == verbEst(hdf, "k", 12),
          "registers max-merge: the merged estimate must be bit-identical " +
            "to the verb's over the same rows")
      }
      // conf OFF (default): Spark's own HLL++ answers — plan untouched
      val off = spark.sql("SELECT approx_count_distinct(k) AS d FROM magg_adh")
      assert(!collapsed(off),
        "approx-distinct answering must stay opt-in — the estimators differ")
    }
    // RANGE layout distinctCols: unfiltered, windowed-contained,
    // boundary-bail, unsatisfiable
    val rroot = java.nio.file.Files.createTempDirectory("magg_adr").toString
    val rdf = (0 until 4000).map(i => (i.toLong, (i / 4).toLong))
      .toDF("ts", "u")
    SketchRegistry.commitRangeSharded(rdf, rroot, "ts", shardsLog2 = 3,
      distinctCols = Seq("u"), hllP = 12)
    SketchFileIndex.readIndexed(spark, rroot).createOrReplaceTempView("magg_adr")
    val zm = SketchRegistry.zoneMap(spark, rroot)
      .select("shard", "min_v", "max_v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    withRule {
      withNdv {
        val full = spark.sql(
          "SELECT approx_count_distinct(u) AS d FROM magg_adr")
        assert(collapsed(full))
        assert(full.collect().head.getLong(0) == verbEst(rdf, "u", 12))
        // a shard-exact region: shards 2..5 contained, 0-1 and 6-7 drop
        val (lo, hi) = (zm(2)._1, zm(5)._2)
        val win = spark.sql(s"""SELECT approx_count_distinct(u) AS d
          FROM magg_adr WHERE ts >= $lo AND ts <= $hi""")
        assert(!win.queryExecution.executedPlan.toString.contains("FileScan"),
          s"contained shards must answer from merged HLLs:\n" +
            s"${win.queryExecution.optimizedPlan}")
        assert(win.collect().head.getLong(0) ==
          verbEst(rdf.filter(col("ts") >= lo && col("ts") <= hi), "u", 12),
          "a shard subset's merged registers must equal sketching its rows")
        // a mid-shard cut: the boundary shard's eligible sketch is
        // unknowable — the arm bails, Spark's own estimator answers
        val mid = spark.sql(s"""SELECT approx_count_distinct(u) AS d
          FROM magg_adr WHERE ts >= $lo AND ts <= ${hi - 3}""")
        assert(allScans(mid.queryExecution.executedPlan).nonEmpty,
          "a boundary shard must bail the approx-ndv arm to the scan")
        // unsatisfiable region: zero shards merge to all-zero registers —
        // estimate 0 over provably-empty input, zero files
        val none = spark.sql(
          "SELECT approx_count_distinct(u) AS d FROM magg_adr WHERE ts < 0")
        assert(!none.queryExecution.executedPlan.toString.contains("FileScan"))
        assert(none.collect().head.getLong(0) == 0L)
      }
    }
    // APPEND maintains the sketches: max-merge is bit-identical to a
    // fresh build over the union
    val batch = (4000 until 5000).map(i => (i.toLong, (i / 2).toLong))
      .toDF("ts", "u")
    SketchRegistry.appendRangeSharded(spark, rroot, batch)
    SketchFileIndex.readIndexed(spark, rroot).createOrReplaceTempView("magg_ad2")
    withRule {
      withNdv {
        val q = spark.sql("SELECT approx_count_distinct(u) AS d FROM magg_ad2")
        assert(collapsed(q))
        assert(q.collect().head.getLong(0) ==
          verbEst(rdf.unionByName(batch), "u", 12))
      }
    }
  }

  test("approx-distinct answers follow a root deleted and re-created at the same path") {
    val root = java.nio.file.Files.createTempDirectory("magg_adre").toString
    def commitAndEstimate(df: DataFrame): Long = {
      SketchRegistry.commitWithSketches(df, root, "k", shardsLog2 = 3, hllP = 12)
      SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_adre")
      val q = spark.sql("SELECT approx_count_distinct(k) AS d FROM magg_adre")
      assert(collapsed(q))
      q.collect().head.getLong(0)
    }
    val first = (0 until 4000).map(i => ((i % 700).toLong, i.toLong)).toDF("k", "v")
    val second = (0 until 4000).map(i => ((i % 90).toLong, i.toLong)).toDF("k", "v")
    withRule {
      withNdv {
        assert(commitAndEstimate(first) == verbEst(first, "k", 12))
        // the new incarnation restarts at version 0 over the same shard set,
        // so only invalidation keeps the old estimate from answering
        assert(new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively())
        assert(commitAndEstimate(second) == verbEst(second, "k", 12))
      }
    }
  }

  test("overflowing metadata sums bail to the scan plan — EvalMode semantics preserved") {
    val root = java.nio.file.Files.createTempDirectory("magg_ovf").toString
    // one row per shard keeps every PER-SHARD sum exact; the TOTAL
    // overflows Long, so the collapse must not answer a wrapped value
    val big = Long.MaxValue / 3
    val df = Seq((0L, big), (1000L, big), (2000L, big), (3000L, big))
      .toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 2,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_ovf")
    withRule {
      val q = spark.sql("SELECT sum(v) AS s FROM magg_ovf")
      assert(!collapsed(q),
        s"an overflowing metadata sum must bail to the scan:\n${q.queryExecution.optimizedPlan}")
      if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) {
        val e = intercept[Throwable] { q.collect() }
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else t.toString +: chain(t.getCause)
        assert(chain(e).exists(m => m.contains("ARITHMETIC_OVERFLOW") ||
          m.toLowerCase.contains("overflow")), s"expected ANSI overflow, got $e")
      } else {
        // LEGACY wraps — and the scan plan is the authority on the value
        assert(q.collect().head.getLong(0) ==
          df.agg(sum("v")).collect().head.getLong(0))
      }
      // try_sum answers NULL on overflow and is EXCLUDED from the
      // collapse — the scan adjudicates
      val t = spark.sql("SELECT try_sum(v) AS s FROM magg_ovf")
      assert(!collapsed(t), "try_-mode aggregates must never collapse")
      assert(t.collect().head.isNullAt(0))
      // a non-overflowing sibling on the same table still collapses
      val cnt = spark.sql("SELECT count(v) AS c, count(*) AS n FROM magg_ovf")
      assert(collapsed(cnt))
      assert(cnt.collect().head.toSeq == Seq(4L, 4L))
    }
  }

  test("HAVING and ORDER BY compose over the collapsed GROUP BY: they sit ABOVE the rewrite") {
    val root = java.nio.file.Files.createTempDirectory("magg_hav").toString
    val df = (0 until 4000).map(i => (i.toLong, i.toLong % 100)).toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_h")
    withRule {
      // HAVING becomes a Filter above the Aggregate — the rewrite
      // replaces the Aggregate beneath it, so the filter applies to the
      // merged groups unchanged
      val q = spark.sql("""SELECT ts div 750 AS b, count(*) AS n, sum(v) AS s
        FROM magg_h GROUP BY 1 HAVING count(*) >= 500
        ORDER BY s DESC, b LIMIT 3""")
      val exp = df.groupBy((col("ts") / 750).cast("long").as("b"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .filter(col("n") >= 500).orderBy(col("s").desc, col("b")).limit(3)
        .collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
    }
  }

  test("windowed avg: contained (sum, cnt) stats fold into the boundary scan exactly") {
    val root = java.nio.file.Files.createTempDirectory("magg_wavg").toString
    // v null every 3rd row — the eligible count differs from n_rows
    val df = (0 until 4000).map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(i.toLong * 11)))
      .toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3,
      sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_wa")
    withRule {
      val q = spark.sql("""SELECT avg(v) AS a, sum(v) AS s, count(v) AS c
        FROM magg_wa WHERE ts BETWEEN 700 AND 3100""")
      val exp = df.filter(col("ts").between(700, 3100))
        .agg(avg("v"), sum("v"), count("v")).collect().head
      val r = q.collect().head
      assert(r.getDouble(0) == exp.getDouble(0))
      assert(r.getLong(1) == exp.getLong(1))
      assert(r.getLong(2) == exp.getLong(2))
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case f: FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray.length
        case other => other.children.map(scans).sum
      }
      assert(scans(q.queryExecution.executedPlan) < 8,
        "windowed avg must scan boundary shards only")
      // all-contained window: pure metadata, zero FileScan
      val full = spark.sql("SELECT avg(v) AS a FROM magg_wa WHERE ts >= 0")
      assert(collapsed(full))
      val expFull = df.agg(avg("v")).collect().head.getDouble(0)
      assert(full.collect().head.getDouble(0) == expFull)
    }
  }

  test("GROUP BY bucket collapse on the Z layout: colA buckets, colB min/max, sumCols per group") {
    val root = java.nio.file.Files.createTempDirectory("magg_zgrp").toString
    val df = (0 until 1600).map(i =>
      ((i % 40).toLong, (i / 40).toLong, i.toLong * 7)).toDF("a", "b", "v")
    ZOrderStore.commitZOrdered(df, root, "a", "b", shardsLog2 = 4,
      subLog2 = 5, sumCols = Seq("v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_zg")
    withRule {
      val q = spark.sql("""SELECT a div 10 AS g, count(*) AS n, sum(v) AS s,
        min(b) AS mb, max(b) AS xb FROM magg_zg GROUP BY 1 ORDER BY g""")
      val exp = df.groupBy((col("a") / 10).cast("long").as("g"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("b").as("mb"), max("b").as("xb"))
        .orderBy("g").collect().map(_.toSeq).toSeq
      assert(q.collect().map(_.toSeq).toSeq == exp)
    }
  }

  test("maintenance keeps the collapse exact: append + upsert paths") {
    val root = java.nio.file.Files.createTempDirectory("magg_m").toString
    val df = (0 until 400).map(i => (100L + i, i.toLong)).toDF("ts", "v")
    SketchRegistry.commitRangeSharded(df, root, "ts", shardsLog2 = 3)
    SketchRegistry.appendRangeSharded(spark, root,
      (0 until 50).map(i => (5000L + i, i.toLong)).toDF("ts", "v"))
    SketchFileIndex.readIndexed(spark, root).createOrReplaceTempView("magg_m")
    withRule {
      val q = spark.sql("SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx FROM magg_m")
      assert(collapsed(q))
      assert(q.collect().head.toSeq == Seq(450L, 100L, 5049L))
    }
    // the verb-level sibling agrees
    val stats = SketchRegistry.tableStats(spark, root).collect()
    assert(stats.length == 1 && stats.head.getString(0) == "range")
    assert(stats.head.getLong(1) == 450L)
    assert(stats.head.getLong(4) == 100L && stats.head.getLong(5) == 5049L)
  }
}
