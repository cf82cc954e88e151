package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Per-shard sketch registry: commit-time layout + Bloom-pruned lookups. */
class SketchRegistrySpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    val fs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    fs.filter(_.isDirectory).flatMap(dataFiles) ++
      fs.filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getPath.contains("_sketches"))
  }

  test("registry shard column stays int with partition type inference off") {
    // a separate session: the conf must not leak into suites running alongside
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val root = java.nio.file.Files.createTempDirectory("skreg_noinfer").toString
    val df = s2.range(0, 800).select(col("id"), (col("id") % 7).as("v"))
    SketchRegistry.commitWithSketches(df, root, "id", shardsLog2 = 3)
    val reg = SketchRegistry.registry(s2, root)
    assert(reg.schema("shard").dataType == org.apache.spark.sql.types.IntegerType)
    assert(reg.count() == 8L)
    // the probe path reads shard ids off the registry rows
    val hit = SketchRegistry.lookupWithSketches(s2, root, 42L).collect()
    assert(hit.map(_.getAs[Long]("id")).toSeq == Seq(42L))
  }

  test("commitWithSketches: layout round-trips, registry rides the commit, lookups prune") {
    val root = java.nio.file.Files.createTempDirectory("skreg").toString
    val df = (0 until 800).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    val v = SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    assert(v == 0L)
    // the data round-trips with the shard layout column, shard = splitmix low bits
    val back = TableStore.read(spark, root)
    assert(back.count() == 800L)
    assert(back.columns.toSet == Set("id", "payload", "shard"))
    val mism = back.filter(col("shard") =!=
      graft.functions.GraftFunctions.splitmix64(col("id")).bitwiseAND(lit(7L)).cast("int"))
    assert(mism.count() == 0L, "shard column must equal the documented hash")
    // registry: one row per non-empty shard, counts sum to the table
    val reg = SketchRegistry.registry(spark, root)
    assert(reg.agg(sum(col("n_rows"))).collect().head.getLong(0) == 800L)
    val stats = SketchRegistry.shardStats(spark, root).collect()
    assert(stats.length == 8 && stats.forall(_.getLong(2) > 0L))
    // the write clusters by shard: exactly ONE parquet file per shard dir
    // (not one per write task per shard)
    (0 to 7).foreach { s =>
      val fs = dataFiles(new java.io.File(s"$root/v_0/shard=$s"))
      assert(fs.size == 1, s"shard $s must hold exactly one file, got ${fs.size}")
    }
    // a present key reads EXACTLY ONE shard directory's files
    val hit = SketchRegistry.lookupWithSketches(spark, root, 123L)
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("p123"))
    val shard = SketchRegistry.prunedShards(spark, root, 123L)
    assert(shard.length == 1)
    val versionDir = new java.io.File(s"$root/v_0")
    val allFiles = dataFiles(versionDir)
    val shardFiles = dataFiles(new java.io.File(s"$root/v_0/shard=${shard.head}"))
    assert(shardFiles.nonEmpty && allFiles.size > shardFiles.size,
      s"pruned read must touch a strict subset: ${shardFiles.size}/${allFiles.size}")
    assert(hit.queryExecution.executedPlan.toString.contains(s"shard=${shard.head}"))
    // lookup == the full-scan filter, for every probed key
    (0L until 20L).foreach { k =>
      assert(SketchRegistry.lookupWithSketches(spark, root, k)
        .select("id", "payload").collect().toSeq ==
        back.filter(col("id") === k).select("id", "payload").collect().toSeq)
    }
    // planted misses: find keys the Bloom rejects (deterministic) and pin
    // that the lookup opens ZERO data files — the plan collapses to an
    // empty local relation, no FileScan anywhere
    val misses = (100000L until 100050L)
      .filter(k => SketchRegistry.prunedShards(spark, root, k).isEmpty)
    assert(misses.size >= 40, s"FP rate implausibly high: ${50 - misses.size}/50")
    val missPlan = SketchRegistry.lookupWithSketches(spark, root, misses.head)
    assert(missPlan.collect().isEmpty)
    assert(!missPlan.queryExecution.executedPlan.toString.contains("FileScan"),
      "a Bloom miss must not open any data file")
    // no false negatives across the whole table
    val fns = (0 until 800).count(i =>
      SketchRegistry.prunedShards(spark, root, i.toLong).isEmpty)
    assert(fns == 0, s"$fns false negatives")
  }

  test("lookupManyWithSketches: IN-filter semantics, shard-subset reads, zero files on all-miss") {
    val root = java.nio.file.Files.createTempDirectory("skreg_batch").toString
    val df = (0 until 1000).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val back = TableStore.read(spark, root)
    // plain IN-filter semantics on a present/absent mix
    val mix = ((0L until 40L) ++ (500000L until 500040L)).toDF("key")
    val got = SketchRegistry.lookupManyWithSketches(spark, root, mix, "key")
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 40L).toSeq)
    // a probe set concentrated in ONE shard reads only that shard's dir
    val oneShard = back.filter(col("shard") === 5).select(col("id")).limit(20)
    val pruned = SketchRegistry.lookupManyWithSketches(spark, root, oneShard, "id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("shard=5"))
    (0 to 7).filter(_ != 5).foreach(sh =>
      assert(!plan.contains(s"shard=$sh"), s"read an unneeded shard dir $sh:\n$plan"))
    assert(pruned.count() == 20L)
    // an all-miss probe set (Bloom-rejected keys) opens no data file
    val misses = (700000L until 700200L)
      .filter(k => SketchRegistry.prunedShards(spark, root, k).isEmpty).take(30)
    val none = SketchRegistry.lookupManyWithSketches(spark, root,
      misses.toDF("key"), "key")
    assert(none.collect().isEmpty)
    assert(!none.queryExecution.executedPlan.toString.contains("FileScan"),
      "an all-miss batch must not open any data file")
  }

  test("applyChangesWithSketches: touched-shard rewrite, hard-linked carryover, registry equivalence") {
    val root = java.nio.file.Files.createTempDirectory("skreg_ivm").toString
    val df = (0 until 1200).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    val v0 = SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val upserts = Seq((3L, "edited3"), (5000L, "new5000")).toDF("id", "payload")
    val deletes = Seq(10L, 999999L).toDF("id") // 999999 absent: no-op delete
    val v1 = SketchRegistry.applyChangesWithSketches(spark, root, upserts, deletes)
    assert(v1 == v0 + 1)
    // row semantics == the full edit replay
    val expected = ((0 until 1200).map(_.toLong).filterNot(Set(3L, 10L))
      .map(i => (i, s"p$i")) ++ Seq((3L, "edited3"), (5000L, "new5000"))).sorted
    val got = TableStore.read(spark, root).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == expected)
    // registry rows are bit-identical to a FRESH full sketch commit of
    // the same post-change data (the maintenance path loses nothing)
    val fresh = java.nio.file.Files.createTempDirectory("skreg_ivm_f").toString
    SketchRegistry.commitWithSketches(expected.toDF("id", "payload"), fresh,
      "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    def regMap(r: String) = SketchRegistry.registry(spark, r).collect()
      .map(row => row.getInt(row.fieldIndex("shard")) -> (
        row.getSeq[Long](row.fieldIndex("bloom")).toList,
        row.getSeq[Int](row.fieldIndex("hll")).toList,
        row.getLong(row.fieldIndex("n_rows")))).toMap
    assert(regMap(root) == regMap(fresh))
    // untouched shard dirs carry the SAME file names as hard links (same
    // inode — zero bytes rewritten); touched shards have fresh files
    val touched = Seq(3L, 10L, 5000L, 999999L)
      .map(k => (graft.functions.HashKernels.splitmix64(k) & 7L).toInt).distinct
    def files(v: Long, s: Int) = {
      val d = new java.io.File(s"$root/v_$v/shard=$s")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    def ino(f: java.io.File) = java.nio.file.Files
      .getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]
    val untouchedShards = (0 to 7).filterNot(touched.contains)
      .filter(s => files(v0, s).nonEmpty)
    assert(untouchedShards.nonEmpty)
    untouchedShards.foreach { s =>
      val (o, n) = (files(v0, s), files(v1, s))
      assert(o.map(_.getName).sorted == n.map(_.getName).sorted,
        s"untouched shard $s must carry the same files")
      assert(o.map(ino).sorted == n.map(ino).sorted,
        s"untouched shard $s must be hard-linked, not rewritten")
    }
    touched.filter(s => files(v1, s).nonEmpty).foreach { s =>
      assert(files(v0, s).map(ino).toSet.intersect(files(v1, s).map(ino).toSet)
        .isEmpty, s"touched shard $s must be rewritten")
    }
    // lookups through the post-change registry
    assert(SketchRegistry.lookupWithSketches(spark, root, 3L)
      .collect().map(_.getString(1)).toSeq == Seq("edited3"))
    assert(SketchRegistry.lookupWithSketches(spark, root, 10L)
      .filter(col("id") === 10L).count() == 0L)
    assert(SketchRegistry.lookupWithSketches(spark, root, 5000L)
      .collect().map(_.getString(1)).toSeq == Seq("new5000"))
    // time travel still serves the pre-change version
    assert(SketchRegistry.lookupWithSketches(spark, root, 10L, Some(v0))
      .count() == 1L)
    // CAS: a change computed against a superseded version fails loudly
    val stale = intercept[IllegalArgumentException] {
      SketchRegistry.applyChangesWithSketches(spark, root,
        Seq((7L, "x")).toDF("id", "payload"),
        Seq.empty[Long].toDF("id"), expectedVersion = Some(v0))
    }
    assert(stale.getMessage.contains("stale write"))
    // an empty change batch is a no-op, no new version
    assert(SketchRegistry.applyChangesWithSketches(spark, root,
      Seq.empty[(Long, String)].toDF("id", "payload"),
      Seq.empty[Long].toDF("id")) == v1)
    assert(TableStore.currentVersion(root).contains(v1))
  }

  test("appendWithSketches: link-only ingest, registry merge bit-identical to fresh build") {
    val root = java.nio.file.Files.createTempDirectory("skreg_app").toString
    val df = (0 until 1000).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    val v0 = SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val batch = (5000 until 5040).map(i => (i.toLong, s"new$i")).toDF("id", "payload")
    val v1 = SketchRegistry.appendWithSketches(spark, root, batch)
    assert(v1 == v0 + 1)
    // row semantics: old rows plus the batch, nothing else
    val got = TableStore.read(spark, root).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val expected = ((0 until 1000).map(i => (i.toLong, s"p$i")) ++
      (5000 until 5040).map(i => (i.toLong, s"new$i"))).sorted
    assert(got == expected)
    // EVERY v0 file carries over as a hard link (zero bytes rewritten)
    def files(v: Long, s: Int) = {
      val d = new java.io.File(s"$root/v_$v/shard=$s")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    def ino(f: java.io.File) = java.nio.file.Files
      .getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]
    (0 to 7).foreach { s =>
      val (o, n) = (files(v0, s), files(v1, s))
      assert(o.map(_.getName).toSet.subsetOf(n.map(_.getName).toSet),
        s"shard $s lost a v0 file")
      val nByName = n.map(f => f.getName -> f).toMap
      o.foreach(f => assert(ino(f) == ino(nByName(f.getName)),
        s"v0 file ${f.getName} must be hard-linked, not copied"))
    }
    // the merged registry is BIT-IDENTICAL to a fresh full sketch commit
    val fresh = java.nio.file.Files.createTempDirectory("skreg_app_f").toString
    SketchRegistry.commitWithSketches(expected.toDF("id", "payload"), fresh,
      "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    def regMap(r: String) = SketchRegistry.registry(spark, r).collect()
      .map(row => row.getInt(row.fieldIndex("shard")) -> (
        row.getSeq[Long](row.fieldIndex("bloom")).toList,
        row.getSeq[Int](row.fieldIndex("hll")).toList,
        row.getLong(row.fieldIndex("n_rows")))).toMap
    assert(regMap(root) == regMap(fresh))
    // appended keys resolve through the post-append registry
    assert(SketchRegistry.lookupWithSketches(spark, root, 5007L)
      .collect().map(_.getString(1)).toSeq == Seq("new5007"))
    assert(SketchRegistry.lookupWithSketches(spark, root, 42L)
      .collect().map(_.getString(1)).toSeq == Seq("p42"))
    // CAS: an append computed against a superseded version fails loudly
    val stale = intercept[IllegalArgumentException] {
      SketchRegistry.appendWithSketches(spark, root,
        Seq((9000L, "x")).toDF("id", "payload"), expectedVersion = Some(v0))
    }
    assert(stale.getMessage.contains("stale write"))
  }

  test("appendRangeSharded: fixed bounds, exact zone-map merge, link-only carryover") {
    val root = java.nio.file.Files.createTempDirectory("skrange_app").toString
    val df = (0 until 1500).map(i => (i.toLong, (i % 200).toLong * 5)).toDF("id", "v")
    val v0 = SketchRegistry.commitRangeSharded(df, root, "v",
      shardsLog2 = 2, subLog2 = 5)
    val boundsBefore = SketchRegistry.rangeMeta(root).bounds
    // batch: values inside existing zones AND far past the old max
    val batch = ((2000 until 2050).map(i => (i.toLong, 250L)) ++
      (3000 until 3010).map(i => (i.toLong, 50000L + i))).toDF("id", "v")
    val v1 = SketchRegistry.appendRangeSharded(spark, root, batch)
    assert(v1 == v0 + 1)
    assert(SketchRegistry.rangeMeta(root).bounds == boundsBefore,
      "append must not move the persisted bounds")
    // zone map == the exact stats of the post-append table
    val back = TableStore.read(spark, root)
    assert(back.count() == 1560L)
    val zm = SketchRegistry.zoneMap(spark, root).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val direct = back.groupBy(col("shard"))
      .agg(min(col("v")), max(col("v")), count(lit(1))).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(zm == direct)
    // every v0 file carried over as a hard link
    def files(v: Long, s: Int) = {
      val d = new java.io.File(s"$root/v_$v/shard=$s")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    def ino(f: java.io.File) = java.nio.file.Files
      .getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]
    (0 to 3).foreach { s =>
      val nByName = files(v1, s).map(f => f.getName -> f).toMap
      files(v0, s).foreach(f => assert(ino(f) == ino(nByName(f.getName)),
        s"v0 file ${f.getName} in shard $s must be hard-linked"))
    }
    // range reads stay exact, including the extended top zone
    for ((lo, hi) <- Seq((0L, 300L), (245L, 255L), (40000L, 99999L))) {
      assert(SketchRegistry.rangeLookup(spark, root, lo, hi)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        back.filter(col("v").between(lo, hi))
          .select("id").collect().map(_.getLong(0)).sorted.toSeq,
        s"window [$lo, $hi]")
    }
    // zoneMapDiff off the zone maps alone: exactly the appended shards,
    // exact deltas, rectangle extension only where values left old bounds
    val diff = SketchRegistry.zoneMapDiff(spark, root, v0, v1).collect()
      .map(r => r.getInt(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    val expDelta = back.filter(col("id") >= 2000)
      .groupBy(col("shard")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(diff.view.mapValues(_._1).toMap == expDelta)
    // values 50000+ extend the top shard's rectangle; the in-range 250s
    // (inside [0, 995]) must NOT flag extension unless at a shard edge
    val topShard = back.filter(col("v") >= 50000L)
      .select("shard").distinct().collect().map(_.getInt(0)).toSeq
    assert(topShard.size == 1 && diff(topShard.head)._2,
      "the advanced-time shard must report range_extended")
    // compact folds the appended files; rows and zone map unchanged
    assert((0 to 3).exists(s => files(v1, s).size >= 2))
    val v2 = SketchRegistry.compactRangeSharded(spark, root)
    assert(v2 == v1 + 1)
    (0 to 3).foreach(s => assert(files(v2, s).size <= 1, s"shard $s not compacted"))
    assert(TableStore.read(spark, root).count() == 1560L)
    assert(SketchRegistry.zoneMap(spark, root).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      == zm)
    assert(SketchRegistry.compactRangeSharded(spark, root) == v2)
  }

  test("ingest lifecycle: append builds files up, compact folds them, vacuum keeps links safe; registryDiff") {
    val root = java.nio.file.Files.createTempDirectory("skreg_life").toString
    val v0 = SketchRegistry.commitWithSketches(
      (0 until 600).map(i => (i.toLong, s"p$i")).toDF("id", "payload"),
      root, "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val v1 = SketchRegistry.appendWithSketches(spark, root,
      (1000 until 1050).map(i => (i.toLong, s"a$i")).toDF("id", "payload"))
    val v2 = SketchRegistry.appendWithSketches(spark, root,
      (2000 until 2050).map(i => (i.toLong, s"b$i")).toDF("id", "payload"))
    def parquetFiles(v: Long, s: Int) = {
      val d = new java.io.File(s"$root/v_$v/shard=$s")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    assert((0 to 7).exists(s => parquetFiles(v2, s).size >= 2),
      "appends must accumulate files")
    // registryDiff off the registries alone: exactly the appended shards,
    // with exact row deltas (derived from the documented hash)
    val appended = ((1000 until 1050) ++ (2000 until 2050)).map(_.toLong)
    val expTouched = appended
      .groupBy(k => (graft.functions.HashKernels.splitmix64(k) & 7L).toInt)
      .map { case (s, ks) => s -> ks.size.toLong }
    val diff = SketchRegistry.registryDiff(spark, root, v0, v2).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(diff == expTouched)
    // compact: every shard folds back to one file, data and registry
    // rows unchanged
    val regBefore = SketchRegistry.registry(spark, root).collect()
      .map(r => r.getInt(r.fieldIndex("shard")) -> (
        r.getSeq[Long](r.fieldIndex("bloom")).toList,
        r.getSeq[Long](r.fieldIndex("cm")).toList,
        r.getLong(r.fieldIndex("n_rows")))).toMap
    val rowsBefore = TableStore.read(spark, root).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val v3 = SketchRegistry.compactWithSketches(spark, root)
    assert(v3 == v2 + 1)
    (0 to 7).foreach(s => assert(parquetFiles(v3, s).size <= 1,
      s"shard $s not compacted"))
    assert(TableStore.read(spark, root).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == rowsBefore)
    assert(SketchRegistry.registry(spark, root).collect()
      .map(r => r.getInt(r.fieldIndex("shard")) -> (
        r.getSeq[Long](r.fieldIndex("bloom")).toList,
        r.getSeq[Long](r.fieldIndex("cm")).toList,
        r.getLong(r.fieldIndex("n_rows")))).toMap
      == regBefore)
    // a second compact is a no-op: same version back
    assert(SketchRegistry.compactWithSketches(spark, root) == v3)
    // vacuum drops v0..v2; the compacted version stays fully readable —
    // hard links keep shared inodes alive after their sources are deleted
    TableStore.vacuum(root, keep = 1, graceMs = 0L)
    assert(TableStore.versions(root) == Seq(v3))
    assert(TableStore.read(spark, root).count() == 700L)
    assert(SketchRegistry.lookupWithSketches(spark, root, 2025L)
      .collect().map(_.getString(1)).toSeq == Seq("b2025"))
  }

  test("commitRangeSharded: quantile-bound layout, exact zone maps, range-pruned reads") {
    val root = java.nio.file.Files.createTempDirectory("skrange").toString
    // skewed values: dense low range plus a sparse heavy tail
    val df = (0 until 2000).map(i => (i.toLong,
      if (i % 100 == 0) 100000L + i else (i % 50).toLong * 3)).toDF("id", "v")
    val ver = SketchRegistry.commitRangeSharded(df, root, "v",
      shardsLog2 = 2, subLog2 = 5)
    assert(ver == 0L)
    val back = TableStore.read(spark, root)
    assert(back.count() == 2000L)
    // zone-map rows are the EXACT per-shard min/max/count
    val zm = SketchRegistry.zoneMap(spark, root).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val direct = back.groupBy(col("shard"))
      .agg(min(col("v")), max(col("v")), count(lit(1))).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(zm == direct)
    assert(zm.values.map(_._3).sum == 2000L)
    // range layout: shard zones are value-disjoint and ordered
    val zones = zm.toSeq.sortBy(_._1).map(_._2)
    zones.sliding(2).foreach {
      case Seq((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2,
        s"zones must be disjoint and ordered: $zones")
      case _ =>
    }
    // range lookups equal the plain BETWEEN filter, boundaries included
    for ((lo, hi) <- Seq((0L, 10L), (37L, 120L), (99999L, 200000L),
      (0L, 500000L), (147L, 147L), (500L, 400L))) {
      assert(SketchRegistry.rangeLookup(spark, root, lo, hi)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        back.filter(col("v").between(lo, hi))
          .select("id").collect().map(_.getLong(0)).sorted.toSeq,
        s"window [$lo, $hi]")
    }
    // a window inside ONE shard's zone opens only that shard's directory
    val (probeShard, (plo, phi, _)) = zm.toSeq.maxBy(_._2._3)
    val pruned = SketchRegistry.rangeLookup(spark, root, plo, phi)
    assert(SketchRegistry.prunedRangeShards(spark, root, plo, phi) ==
      Seq(probeShard))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains(s"shard=$probeShard"))
    zm.keys.filter(_ != probeShard).foreach(sh =>
      assert(!plan.contains(s"shard=$sh"), s"read an unneeded shard dir $sh"))
    // an empty intersection opens ZERO data files
    val none = SketchRegistry.rangeLookup(spark, root, 10000000L, 20000000L)
    assert(none.collect().isEmpty)
    assert(!none.queryExecution.executedPlan.toString.contains("FileScan"),
      "a zone-map miss must not open any data file")
    // filesPerShard sub-splits each shard by a decorrelated key hash
    val fRoot = java.nio.file.Files.createTempDirectory("skrange_f").toString
    SketchRegistry.commitRangeSharded(df, fRoot, "v",
      shardsLog2 = 2, subLog2 = 5, filesPerShard = 2)
    val perShard = (0 to 3).map(s => dataFiles(
      new java.io.File(s"$fRoot/v_0/shard=$s")).size).filter(_ > 0)
    assert(perShard.forall(c => c >= 1 && c <= 2) && perShard.exists(_ == 2),
      s"filesPerShard=2 must bound files per shard to [1,2]: $perShard")
    assert(TableStore.read(spark, fRoot).count() == 2000L)
    // constant column: bounds dedupe to one value, lookups still exact
    val cRoot = java.nio.file.Files.createTempDirectory("skrange_c").toString
    SketchRegistry.commitRangeSharded(
      (0 until 100).map(i => (i.toLong, 7L)).toDF("id", "v"), cRoot, "v",
      shardsLog2 = 2, subLog2 = 5)
    assert(SketchRegistry.rangeLookup(spark, cRoot, 7L, 7L).count() == 100L)
    assert(SketchRegistry.rangeLookup(spark, cRoot, 8L, 9L).count() == 0L)
    // nulls and negatives fail loudly at commit
    val bad = intercept[Exception] {
      SketchRegistry.commitRangeSharded(
        Seq((1L, 5L), (2L, -3L)).toDF("id", "v"),
        java.nio.file.Files.createTempDirectory("skrange_b").toString, "v")
    }
    assert(exceptionChain(bad).exists(_.contains("non-negative")),
      s"unexpected failure: $bad")
  }

  private def exceptionChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  test("registry versions travel with the table: CAS, time travel, meta guard") {
    val root = java.nio.file.Files.createTempDirectory("skreg2").toString
    val v0 = SketchRegistry.commitWithSketches(
      (0 until 100).map(i => (i.toLong, i)).toDF("id", "x"), root, "id",
      shardsLog2 = 2, bitsLog2 = 10, k = 3)
    // CAS pass-through: a stale expectedVersion fails like commit's
    val e = intercept[IllegalArgumentException] {
      SketchRegistry.commitWithSketches(
        (0 until 10).map(i => (i.toLong, i)).toDF("id", "x"), root, "id",
        expectedVersion = Some(5L))
    }
    assert(e.getMessage.contains("stale write"))
    // a second sketch commit; v0's registry still serves time travel
    val v1 = SketchRegistry.commitWithSketches(
      (50 until 300).map(i => (i.toLong, i)).toDF("id", "x"), root, "id",
      shardsLog2 = 2, bitsLog2 = 10, k = 3, expectedVersion = Some(v0))
    assert(v1 == v0 + 1)
    assert(SketchRegistry.lookupWithSketches(spark, root, 10L, Some(v0)).count() == 1L)
    assert(SketchRegistry.lookupWithSketches(spark, root, 10L).count() == 0L ||
      SketchRegistry.prunedShards(spark, root, 10L).nonEmpty) // FP allowed, rows never
    assert(SketchRegistry.lookupWithSketches(spark, root, 10L)
      .filter(col("id") === 10L).count() == 0L)
    assert(SketchRegistry.lookupWithSketches(spark, root, 200L).count() == 1L)
    // plain commits carry no registry: the probe fails loudly, named fix
    val plain = java.nio.file.Files.createTempDirectory("skreg3").toString
    TableStore.commit(Seq((1L, "a")).toDF("id", "v"), plain)
    val g = intercept[IllegalArgumentException] {
      SketchRegistry.lookupWithSketches(spark, plain, 1L)
    }
    assert(g.getMessage.contains("commitWithSketches"))
  }

  test("secondary Bloom index: scattered-column probes prune, IN semantics exact, appends maintain it") {
    val root = java.nio.file.Files.createTempDirectory("skreg_sec").toString
    // payload value is CONCENTRATED: value v lives only in rows with
    // id % 50 == v, which the id-hash layout sprays over all shards —
    // BUT value 999 is planted into exactly the rows of ONE hash shard,
    // so its Bloom admits exactly that shard
    val targetShard = 3
    val df = (0 until 1000).map { i =>
      val v = if ((graft.functions.HashKernels.splitmix64(i.toLong) & 7L)
        == targetShard && i % 50 == 0) 999L else (i % 50).toLong
      (i.toLong, v)
    }.toDF("id", "pv")
    val v0 = SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4, sketchCols = Seq("pv"))
    assert(SketchRegistry.meta(root).sketchCols == Seq("pv"))
    // exact IN semantics on present + absent values
    val got = SketchRegistry.lookupBySecondaryIn(spark, root, "pv",
        Seq(999L, 7L, 123456L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = TableStore.read(spark, root)
      .filter(col("pv").isin(999L, 7L, 123456L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // the planted single-shard value admits ONLY its shard
    assert(SketchRegistry.prunedShardsBy(spark, root, "pv", Seq(999L))
      == Seq(targetShard))
    val one = SketchRegistry.lookupBySecondaryIn(spark, root, "pv", Seq(999L))
    val dirs = one.inputFiles.flatMap(f =>
      "shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(dirs == Set(targetShard), s"read $dirs")
    // a value absent everywhere opens no data file (find one the Bloom
    // actually rejects — FPs are legal, so probe first)
    val miss = (500000L until 500200L).find(v =>
      SketchRegistry.prunedShardsBy(spark, root, "pv", Seq(v)).isEmpty).get
    val none = SketchRegistry.lookupBySecondaryIn(spark, root, "pv", Seq(miss))
    assert(none.collect().isEmpty)
    assert(!none.queryExecution.executedPlan.toString.contains("FileScan"))
    // append maintains the secondary Blooms: merged == fresh, bit-exact
    val batch = (5000 until 5040).map(i => (i.toLong, 777L)).toDF("id", "pv")
    SketchRegistry.appendWithSketches(spark, root, batch)
    val fresh = java.nio.file.Files.createTempDirectory("skreg_sec_f").toString
    SketchRegistry.commitWithSketches(
      df.unionByName(batch), fresh, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4, sketchCols = Seq("pv"))
    def regMap(r: String) = SketchRegistry.registry(spark, r).collect()
      .map(row => row.getInt(row.fieldIndex("shard")) ->
        row.getSeq[Long](row.fieldIndex("bloom_pv")).toList).toMap
    assert(regMap(root) == regMap(fresh))
    assert(SketchRegistry.lookupBySecondaryIn(spark, root, "pv", Seq(777L))
      .count() == 40L)
    // upsert/delete maintenance rebuilds touched secondary Blooms too:
    // delete every 999-payload row, then the probe admits nothing real
    val dels = TableStore.read(spark, root).filter(col("pv") === 999L)
      .select(col("id"))
    SketchRegistry.applyChangesWithSketches(spark, root,
      upserts = spark.emptyDataFrame.select(lit(0L).as("id"), lit(0L).as("pv"))
        .filter(lit(false)),
      deleteKeys = dels)
    assert(SketchRegistry.lookupBySecondaryIn(spark, root, "pv", Seq(999L))
      .collect().isEmpty)
    // probing an unindexed column fails loudly
    val g2 = intercept[IllegalArgumentException] {
      SketchRegistry.lookupBySecondaryIn(spark, root, "id", Seq(1L))
    }
    assert(g2.getMessage.contains("no secondary Bloom"))
    // old 5-line metas (no sketchCols) still parse: time-travel read of v0
    assert(SketchRegistry.meta(root, Some(v0)).sketchCols == Seq("pv"))
  }

  test("secondary zone-map stats: correlated column prunes, uncorrelated degrades to scan, appends merge exactly") {
    // t ascending, id ascending with t (correlated), r decorrelated
    val df = (0 until 1600).map(i =>
      (i.toLong, i.toLong * 3, (i.toLong * 2654435761L) % 10000))
      .toDF("id", "t", "r")
    val root = java.nio.file.Files.createTempDirectory("skrange_sc").toString
    SketchRegistry.commitRangeSharded(df, root, "t", shardsLog2 = 3,
      subLog2 = 5, statsCols = Seq("id", "r"))
    assert(SketchRegistry.rangeMeta(root).statsCols == Seq("id", "r"))
    val zm = SketchRegistry.zoneMap(spark, root)
    // statsCols auto-carry their exact non-null counts (cnt_<c>) so
    // windows always arrive proof-capable for containment arguments
    assert(zm.columns.toSet == Set("shard", "min_v", "max_v", "n_rows",
      "min_id", "max_id", "min_r", "max_r", "cnt_id", "cnt_r"))
    // correlated column: a tight id window reads a strict shard subset
    val byId = SketchRegistry.rangeLookupOn(spark, root, "id", 100L, 150L)
    assert(byId.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (100L to 150L).toSeq)
    val dirs = byId.inputFiles.flatMap(f =>
      "shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(dirs.size < 8, s"correlated stats failed to prune: $dirs")
    // uncorrelated column: every rectangle spans the window — full scan,
    // but the answer stays exact
    val byR = SketchRegistry.rangeLookupOn(spark, root, "r", 0L, 100L)
    assert(byR.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      TableStore.read(spark, root).filter(col("r").between(0L, 100L))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // a window outside every rectangle opens nothing
    val none = SketchRegistry.rangeLookupOn(spark, root, "id", 90000L, 99000L)
    assert(none.collect().isEmpty)
    assert(!none.queryExecution.executedPlan.toString.contains("FileScan"))
    // append merges the secondary stats exactly (min/min, max/max)
    SketchRegistry.appendRangeSharded(spark, root,
      (5000 until 5050).map(i => (i.toLong, i.toLong * 3, 4L)).toDF("id", "t", "r"))
    val direct = TableStore.read(spark, root).groupBy(col("shard"))
      .agg(min(col("id")), max(col("id")), min(col("r")), max(col("r")))
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val zm2 = SketchRegistry.zoneMap(spark, root).collect()
      .map(r => (r.getInt(r.fieldIndex("shard")),
        (r.getLong(r.fieldIndex("min_id")), r.getLong(r.fieldIndex("max_id")),
          r.getLong(r.fieldIndex("min_r")), r.getLong(r.fieldIndex("max_r")))))
      .toMap
    assert(zm2 == direct)
    assert(SketchRegistry.rangeLookupOn(spark, root, "id", 5000L, 5009L)
      .count() == 10L)
    // unindexed column fails loudly
    val g = intercept[IllegalArgumentException] {
      SketchRegistry.rangeLookupOn(spark, root, "t", 0L, 1L)
    }
    assert(g.getMessage.contains("no zone-map stats"))
  }

  test("colocatedJoinWithSketches: Bloom-AND shard pruning, exact join semantics") {
    def shardsReadOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.flatMap(f =>
        "(v_\\d+/shard=\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    val rootA = java.nio.file.Files.createTempDirectory("coloc_a").toString
    val rootB = java.nio.file.Files.createTempDirectory("coloc_b").toString
    // overlap on ids 400..599 only; payload column name collides ("p")
    SketchRegistry.commitWithSketches(
      (0 until 600).map(i => (i.toLong, s"a$i")).toDF("id", "p"),
      rootA, "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    SketchRegistry.commitWithSketches(
      (400 until 1000).map(i => (i.toLong, s"b$i")).toDF("id", "p"),
      rootB, "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val joined = SketchRegistry.colocatedJoinWithSketches(spark, rootA, rootB)
    assert(joined.columns.toSeq == Seq("id", "p", "shard", "p_b"))
    val got = joined.select("id", "p", "p_b").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == (400 until 600).map(i => (i.toLong, s"a$i", s"b$i")).sorted)
    // DISJOINT key spaces: the zero-AND prune fires in the SPARSE regime
    // (set-bit product well under the filter size — the delta-vs-table
    // triage shape); random low-bit collisions can light a stray AND bit,
    // so this pair uses 2^16-bit filters and a 40-key side at base 102000,
    // verified collision-free by replaying the documented splitmix
    // positions (at 2^12 bits the same tables share AND bits in EVERY
    // shard — density, not overlap)
    val rootA16 = java.nio.file.Files.createTempDirectory("coloc_a16").toString
    val rootC = java.nio.file.Files.createTempDirectory("coloc_c").toString
    SketchRegistry.commitWithSketches(
      (0 until 600).map(i => (i.toLong, s"a$i")).toDF("id", "p"),
      rootA16, "id", shardsLog2 = 3, bitsLog2 = 16, k = 4)
    SketchRegistry.commitWithSketches(
      (102000 until 102040).map(i => (i.toLong, i)).toDF("id", "x"),
      rootC, "id", shardsLog2 = 3, bitsLog2 = 16, k = 4)
    val disjoint = SketchRegistry.colocatedJoinWithSketches(spark, rootA16, rootC)
    assert(SketchRegistry.joinPrunedShards(spark, rootA16, rootC).isEmpty,
      "disjoint 40-key table must Bloom-AND to empty on every shard")
    assert(disjoint.collect().isEmpty)
    assert(!disjoint.queryExecution.executedPlan.toString.contains("FileScan"),
      "a fully pruned join must not open any data file")
    // CONCENTRATED overlap: B holds keys of ONE hash shard only — the
    // join reads exactly that shard pair, both sides
    val oneShard = (0 until 600).map(_.toLong)
      .filter(k => (graft.functions.HashKernels.splitmix64(k) & 7L) == 5L)
    val rootD = java.nio.file.Files.createTempDirectory("coloc_d").toString
    SketchRegistry.commitWithSketches(
      oneShard.map(k => (k, s"d$k")).toDF("id", "q"),
      rootD, "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val narrow = SketchRegistry.colocatedJoinWithSketches(spark, rootA, rootD)
    assert(narrow.count() == oneShard.size.toLong)
    assert(shardsReadOf(narrow).map(_.split("=")(1).toInt) == Set(5),
      s"read ${shardsReadOf(narrow)}")
    // mismatched layouts fail loudly
    val rootE = java.nio.file.Files.createTempDirectory("coloc_e").toString
    SketchRegistry.commitWithSketches(
      Seq((1L, "x")).toDF("id", "p"), rootE, "id",
      shardsLog2 = 2, bitsLog2 = 12, k = 4)
    val g = intercept[IllegalArgumentException] {
      SketchRegistry.colocatedJoinWithSketches(spark, rootA, rootE)
    }
    assert(g.getMessage.contains("identical layouts"))
    // mismatched key columns fail loudly
    val rootF = java.nio.file.Files.createTempDirectory("coloc_f").toString
    SketchRegistry.commitWithSketches(
      Seq((1L, "x")).toDF("k2", "p"), rootF, "k2",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val g2 = intercept[IllegalArgumentException] {
      SketchRegistry.colocatedJoinWithSketches(spark, rootA, rootF)
    }
    assert(g2.getMessage.contains("same key column"))
  }

  test("range-layout secondary Blooms: scattered-column IN probes prune, appends OR-merge") {
    def shardsReadOf(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.inputFiles.flatMap(f =>
        "shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    // t ascending (the layout), u scattered — EXCEPT value 777, planted
    // only in the first time-eighth (one shard's rows)
    val df = (0 until 1600).map { i =>
      val u = if (i < 200 && i % 10 == 0) 777L else (i.toLong * 2654435761L) % 10000
      (i.toLong, i.toLong * 3, u)
    }.toDF("id", "t", "u")
    val root = java.nio.file.Files.createTempDirectory("skrange_sb").toString
    SketchRegistry.commitRangeSharded(df, root, "t", shardsLog2 = 3,
      subLog2 = 5, sketchCols = Seq("u"), bloomBitsLog2 = 14)
    assert(SketchRegistry.rangeMeta(root).sketchCols == Seq("u"))
    // exact IN semantics on present + absent values
    val got = SketchRegistry.rangeLookupBy(spark, root, "u", Seq(777L, 123456L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0 until 200 by 10).map(_.toLong))
    // the planted single-shard value reads one dir
    assert(shardsReadOf(SketchRegistry.rangeLookupBy(spark, root, "u",
      Seq(777L))).size == 1)
    // a Bloom-rejected value opens no data file (probe-found miss)
    val miss = (800000L until 800200L).find(v =>
      SketchRegistry.rangeLookupBy(spark, root, "u", Seq(v))
        .queryExecution.executedPlan.toString.indexOf("FileScan") < 0).get
    assert(SketchRegistry.rangeLookupBy(spark, root, "u", Seq(miss))
      .collect().isEmpty)
    // append: the batch's Blooms OR into the zone map — a value appended
    // into NEW time territory becomes findable, pruned to its shards
    SketchRegistry.appendRangeSharded(spark, root,
      (9000 until 9020).map(i => (i.toLong, i.toLong * 3, 55555L))
        .toDF("id", "t", "u"))
    val app = SketchRegistry.rangeLookupBy(spark, root, "u", Seq(55555L))
    assert(app.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (9000L until 9020L).toSeq)
    assert(shardsReadOf(app).size <= 2, s"read ${shardsReadOf(app)}")
    // unindexed column fails loudly
    val g = intercept[IllegalArgumentException] {
      SketchRegistry.rangeLookupBy(spark, root, "id", Seq(1L))
    }
    assert(g.getMessage.contains("no zone-map Bloom"))
  }

  test("shardStats fmax_est: per-shard heavy-key bounds off the registry, never undercounting") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("skfmax").toString
    // key 7 planted hot: 3000 rows; 50 cold keys with 40 rows each
    val rows = ((0 until 3000).map(_ => 7L) ++
      (0 until 2000).map(i => 100L + i % 50)).map(k => (k, s"p$k"))
    SketchRegistry.commitWithSketches(rows.toDF("id", "payload"), root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val stats = SketchRegistry.shardStats(spark, root).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    val trueMax = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      .groupBy { case (k, _) =>
        (graft.functions.HashKernels.splitmix64(k) & 7L).toInt }
      .view.mapValues(_.values.max).toMap
    trueMax.foreach { case (s, mx) =>
      val (n, fmax) = stats(s)
      assert(fmax >= mx, s"shard $s: fmax_est $fmax undercounts true max $mx")
      assert(fmax <= n, s"shard $s: fmax_est $fmax exceeds the shard's rows $n")
    }
    // the hot key's shard is diagnosable from metadata alone
    val hotShard = (graft.functions.HashKernels.splitmix64(7L) & 7L).toInt
    assert(stats(hotShard)._2 >= 3000L)
    assert(stats.filter(_._1 != hotShard).values.forall(_._2 < 3000L))
  }

  test("keyFrequencyEstimates: registry-merged CM probes overcount only, string keys too") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("skfreq").toString
    val rows = ((0 until 3000).map(_ => 7L) ++
      (0 until 2000).map(i => 100L + i % 50)).map(k => (k, s"p$k"))
    SketchRegistry.commitWithSketches(rows.toDF("id", "payload"), root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val truth = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      .withDefaultValue(0L)
    val probes = Seq(7L, 100L, 120L, 999999L).toDF("probe")
    val est = SketchRegistry.keyFrequencyEstimates(spark, root, probes, "probe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(7L, 100L, 120L, 999999L).foreach { k =>
      assert(est(k) >= truth(k), s"key $k: est ${est(k)} undercounts ${truth(k)}")
    }
    assert(est(7L) >= 3000L && est(7L) <= 5000L) // hot key dominates, bounded by N
    // the estimate equals cmEstimate over a FRESH global sketch (the
    // per-shard merge is bit-identical to sketching the rows)
    val fresh = graft.operators.SketchOps.cmEstimate(
      graft.operators.SketchOps.cmSketch(rows.toDF("id", "p"), Nil, "id",
        4, 12),
      probes, Nil, "probe", 4, 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("est")).toMap
    assert(est == fresh)
    // string keys hash through the meta's pinned derivation
    val sroot = java.nio.file.Files.createTempDirectory("skfreq_s").toString
    SketchRegistry.commitWithSketches(
      ((0 until 500).map(_ => "u://hot") ++ (0 until 100).map(i => s"u://$i"))
        .map(u => (u, 1)).toDF("url", "one"),
      sroot, "url", shardsLog2 = 2, bitsLog2 = 12, k = 4)
    val sEst = SketchRegistry.keyFrequencyEstimates(spark, sroot,
      Seq("u://hot", "u://3", "u://absent").toDF("u"), "u")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sEst("u://hot") >= 500L && sEst("u://3") >= 1L)
  }

  test("string-keyed registry: lookups route through the pinned xxhash64, lifecycle maintains it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("skstr").toString
    val docs = (0 until 600).map(i => (s"u://$i", s"p$i")).toDF("url", "payload")
    SketchRegistry.commitWithSketches(docs, root, "url",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val m = SketchRegistry.meta(root)
    assert(m.keyIsString && m.keyCol == "url")
    // point lookup: exact row, one pruned shard; misses read zero files
    assert(SketchRegistry.lookupWithSketchesString(spark, root, "u://123")
      .collect().map(_.getString(1)).toSeq == Seq("p123"))
    assert(SketchRegistry.prunedShardsString(spark, root, "u://123").size == 1)
    val missUrl = (5000 until 5200).map(i => s"u://$i")
      .find(u => SketchRegistry.prunedShardsString(spark, root, u).isEmpty).get
    assert(SketchRegistry.lookupWithSketchesString(spark, root, missUrl)
      .collect().isEmpty)
    // batch lookup == plain IN semantics
    val probes = (Seq("u://1", "u://77", "u://absent") ++
      (0 until 50).map(i => s"u://${i * 7}")).toDF("url")
    val got = SketchRegistry.lookupManyWithSketches(spark, root, probes, "url")
      .select("url", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val want = docs.join(probes.distinct(), Seq("url"), "left_semi")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == want)
    // the integral probe API refuses a string-keyed table loudly
    val ex = intercept[IllegalArgumentException] {
      SketchRegistry.lookupWithSketches(spark, root, 123L)
    }
    assert(ex.getMessage.contains("STRING key"))
    // append + upsert/delete maintain the string-hashed registry exactly
    SketchRegistry.appendWithSketches(spark, root,
      (1000 until 1040).map(i => (s"u://$i", s"a$i")).toDF("url", "payload"))
    SketchRegistry.applyChangesWithSketches(spark, root,
      upserts = Seq(("u://5", "edited"), ("u://2000", "fresh")).toDF("url", "payload"),
      deleteKeys = Seq("u://6", "u://7").toDF("url"))
    val fresh = java.nio.file.Files.createTempDirectory("skstr_f").toString
    val refRows = ((0 until 600).filterNot(i => i == 5 || i == 6 || i == 7)
      .map(i => (s"u://$i", s"p$i")) ++
      (1000 until 1040).map(i => (s"u://$i", s"a$i")) ++
      Seq(("u://5", "edited"), ("u://2000", "fresh")))
    SketchRegistry.commitWithSketches(refRows.toDF("url", "payload"), fresh,
      "url", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    def regMap(r: String) = SketchRegistry.registry(spark, r).collect()
      .map(row => row.getInt(row.fieldIndex("shard")) -> (
        row.getSeq[Long](row.fieldIndex("bloom")).toList,
        row.getSeq[Int](row.fieldIndex("hll")).toList,
        row.getSeq[Long](row.fieldIndex("cm")).toList,
        row.getLong(row.fieldIndex("n_rows")))).toMap
    assert(regMap(root) == regMap(fresh),
      "string-keyed lifecycle must maintain the registry bit-identically")
    assert(TableStore.read(spark, root).select("url", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      refRows.sorted)
  }

  test("changeFeedPruned: row-identical to the full feed, reads only differing shard pairs") {
    def shardsReadOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.flatMap(f =>
        "(v_\\d+/shard=\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    def feedRows(df: org.apache.spark.sql.DataFrame) = df
      .select("_change_type", "id", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val root = java.nio.file.Files.createTempDirectory("cfp").toString
    val v0 = SketchRegistry.commitWithSketches(
      (0 until 600).map(i => (i.toLong, s"p$i")).toDF("id", "payload"),
      root, "id", shardsLog2 = 3, bitsLog2 = 12, k = 4)
    // a mixed upsert/delete commit: pruned feed == full feed, exactly
    val v1 = SketchRegistry.applyChangesWithSketches(spark, root,
      upserts = ((100 until 140).map(i => (i.toLong, s"e$i")) ++
        (9000 until 9020).map(i => (i.toLong, s"n$i"))).toDF("id", "payload"),
      deleteKeys = (0 until 50 by 7).map(_.toLong).toDF("key"))
    val pruned = SketchRegistry.changeFeedPruned(spark, root, v0, v1)
    assert(feedRows(pruned) ==
      feedRows(TableStore.changeFeed(spark, root, Seq("id"), v0, v1)))
    // an append touching ONE shard: the feed reads exactly that shard pair
    val oneShard = (20000 until 20600).map(_.toLong)
      .filter(k => (graft.functions.HashKernels.splitmix64(k) & 7L) == 2L)
      .take(25)
    val v2 = SketchRegistry.appendWithSketches(spark, root,
      oneShard.map(k => (k, s"a$k")).toDF("id", "payload"))
    val narrow = SketchRegistry.changeFeedPruned(spark, root, v1, v2)
    assert(feedRows(narrow) == oneShard.sorted.map(k => ("insert", k, s"a$k")))
    assert(shardsReadOf(narrow) == Set(s"v_$v1/shard=2", s"v_$v2/shard=2"),
      s"read ${shardsReadOf(narrow)}")
    // the lag-0 tick: identical versions perform NO data read at all
    val idle = SketchRegistry.changeFeedPruned(spark, root, v2, v2)
    assert(idle.collect().isEmpty)
    assert(!idle.queryExecution.executedPlan.toString.contains("FileScan"),
      "identical versions must not open any data file")
    // compaction rewrites files without changing rows: the feed is empty
    // (the rewritten shards are diffed - a wasted read, never a phantom row)
    val v3 = SketchRegistry.compactWithSketches(spark, root)
    if (v3 != v2)
      assert(SketchRegistry.changeFeedPruned(spark, root, v2, v3).collect().isEmpty)
  }

  test("shardStats on a pre-CM registry: serves (shard, n_rows, ndv_micro), no fmax_est") {
    val root = java.nio.file.Files.createTempDirectory("skreg_precm").toString
    val df = (0 until 500).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    SketchRegistry.commitWithSketches(df, root, "id",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    // simulate a registry written before per-shard CM rows existed: the
    // meta parser explicitly supports the 5-field arity, and such a
    // version's _sketches parquet has NO cm column — shardStats must
    // degrade to the documented stats subset, not die selecting cm
    val vdir = java.nio.file.Paths.get(root, "v_0")
    val legacy = spark.read.parquet(vdir.resolve("_sketches").toString)
      .drop("cm").collect()
    val legacySchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(vdir.resolve("_sketches").toString)
        .drop("cm").schema)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(legacy: _*)), legacySchema)
      .coalesce(1).write.mode("overwrite")
      .parquet(vdir.resolve("_sketches").toString)
    java.nio.file.Files.write(vdir.resolve("_sketches_meta"),
      "id\n3\n12\n4\n12".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = SketchRegistry.meta(root)
    assert(m.cmDepth == 0, "the 5-field meta marks a pre-CM registry")
    val stats = SketchRegistry.shardStats(spark, root)
    assert(stats.columns.toSeq == Seq("shard", "n_rows", "ndv_micro"))
    assert(stats.agg(sum(col("n_rows"))).collect().head.getLong(0) == 500L)
    assert(stats.collect().forall(_.getLong(2) > 0L))
  }

  test("joinPrunedShards rejects mixed key kinds: string xxhash words never AND against raw-int words") {
    val rootI = java.nio.file.Files.createTempDirectory("skreg_ki").toString
    val rootS = java.nio.file.Files.createTempDirectory("skreg_ks").toString
    SketchRegistry.commitWithSketches(
      (0 until 100).map(i => (i.toLong, i)).toDF("k", "x"), rootI, "k",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    SketchRegistry.commitWithSketches(
      (0 until 100).map(i => (s"u$i", i)).toDF("k", "x"), rootS, "k",
      shardsLog2 = 3, bitsLog2 = 12, k = 4)
    val e = intercept[IllegalArgumentException] {
      SketchRegistry.joinPrunedShards(spark, rootI, rootS)
    }
    assert(e.getMessage.contains("key kind"))
  }
}
