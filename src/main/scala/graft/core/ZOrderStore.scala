package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SketchOps

/** Two-dimensional zone-mapped layout on [[TableStore]] — the multi-column
  * complement of [[SketchRegistry.commitRangeSharded]]'s one-column range
  * shards. A single-column range layout clusters ONE dimension and
  * scatters every other; a dashboard/selection predicate over two columns
  * (length × quality score, timestamp × source bucket) then reads
  * everything. Z-ordering interleaves the two dimensions so BOTH stay
  * locally clustered — the Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order
  * idea, done at the engine's own layout layer with replayable arithmetic.
  *
  * The layout: each column is bucketed into `2^(shardsLog2/2)` rank
  * buckets whose BOUNDS are rank picks off the deterministic
  * [[SketchOps.quantileSketch]] (the [[SketchRegistry.commitRangeSharded]]
  * chain — engine- AND oracle-replayable, unlike a sampled range
  * partitioner, and skew-equalizing: a hot value range becomes a narrow
  * bucket); the shard is the Morton interleave of the two bucket indices
  * ([[graft.operators.LayoutOps.zValue]] — pure integer column
  * arithmetic). One EXACT zone-map row per non-empty shard — per-shard
  * min/max of BOTH columns plus the row count — rides the same atomic
  * version commit, so zone map and data can never tear apart. Optional
  * `sketchCols` add one per-shard Bloom per column (equality skipping for
  * columns the 2-D layout scatters — the [[SketchRegistry]] secondary-
  * index story on the interleaved layout), which also powers the KEYED
  * maintenance verb [[applyChangesZOrdered]].
  *
  * A 2-D box predicate then opens only the shard directories whose exact
  * (min_a..max_a) × (min_b..max_b) rectangle intersects the box
  * ([[boxLookup]]) — with rank-balanced buckets a box covering 1/k of
  * each dimension's rank space reads ~1/k² of the table, where either
  * single-column layout reads ~1/k of it.
  *
  * Lifecycle parity with the other two layouts: [[commitZOrdered]] →
  * [[appendZOrdered]] (link-only, exact rectangle merge) →
  * [[applyChangesZOrdered]] (keyed upsert/delete, touched cells only) →
  * [[compactZOrdered]] (layout-only) → [[TableStore.vacuum]], with
  * [[graft.streaming.IngestStream.ingestZOrderStream]] as the
  * exactly-once streaming front door (every verb carries the
  * `_ingest_progress` marker forward).
  */
object ZOrderStore {

  /** Persisted layout parameters: the two columns, bits per column, the
    * sketch resolution the bounds were picked at, both deduped ascending
    * bound lists, and the secondary-Bloom columns/parameters.
    */
  final case class ZMeta(colA: String, colB: String, bitsPerCol: Int,
                         subLog2: Int, boundsA: Seq[Long], boundsB: Seq[Long],
                         sketchCols: Seq[String] = Nil,
                         bloomBitsLog2: Int = 14, bloomK: Int = 4,
                         sumCols: Seq[String] = Nil,
                         labelCols: Seq[String] = Nil,
                         labelMax: Int = 32,
                         units: String = "")

  /** Rank-pick `2^bits − 1` bucket bounds for `c` off the deterministic
    * quantile sketch — the same derivation chain
    * [[SketchRegistry.commitRangeSharded]] uses, so oracles replay it
    * identically.
    */
  private def rankBounds(df: DataFrame, colA: String, colB: String,
                         bits: Int, subLog2: Int): (Seq[Long], Seq[Long]) = {
    val n = 1 << bits
    if (n == 1) (Nil, Nil)
    else {
      // absolute domains (epoch timestamps) have tiny RELATIVE spread —
      // unshifted, the log-binned sketch collapses them into one bin and
      // every rank pick into one bound, degenerating the layout to a
      // single shard. Sketch the MIN-SHIFTED column and shift the picks
      // back: the persisted bound VALUES absorb the shift, so probes,
      // appends, and zone maps never see it.
      //
      // BOTH columns share each pass (one min aggregation, one fused
      // quantile-sketch aggregation — the per-column sketch chain cost
      // two full input scans per column), and the rank picks replay
      // driver-side over the collected bins: the same cumulative-count
      // arithmetic SketchOps.quantilesFromSketches pins, bit-identical
      // bounds (spec-pinned).
      val mnRow = df.agg(min(LayoutLong.longCol(col(colA))),
        min(LayoutLong.longCol(col(colB)))).collect().head
      val mnA = if (mnRow.isNullAt(0)) 0L else mnRow.getLong(0)
      val mnB = if (mnRow.isNullAt(1)) 0L else mnRow.getLong(1)
      val skRow = df.agg(
        graft.functions.SketchAggs.quantile_agg(
          LayoutLong.longCol(col(colA)) - mnA, subLog2),
        graft.functions.SketchAggs.quantile_agg(
          LayoutLong.longCol(col(colB)) - mnB, subLog2)).collect().head
      def boundsOf(binSeq: Seq[Long], mn: Long): Seq[Long] = {
        val bins = binSeq.toArray
        (1 until n)
          .map(i => SketchOps.rankPickFromBins(bins, i, n, subLog2) + mn)
          .distinct.sorted
      }
      (boundsOf(skRow.getSeq[Long](0), mnA), boundsOf(skRow.getSeq[Long](1), mnB))
    }
  }

  /** bucket = count of bounds ≤ value, with the loud non-negative/non-null
    * guard the quantile sketch's domain requires.
    */
  private def bucketCol(c: String, bounds: Seq[Long]): Column = {
    val v = LayoutLong.longCol(col(c))
    val guarded = when(assert_true(v.isNotNull && v >= 0,
      lit(s"z-order layout requires non-negative non-null '$c'"))
      .isNull, v)
    (if (bounds.isEmpty) lit(0L)
     else aggregate(array(bounds.map(lit): _*), lit(0L),
       (acc, b) => acc + when(guarded >= b, 1L).otherwise(0L)))
  }

  /** Morton interleave of two bucket indices, `bits` bits each: bit b of
    * bucketA lands at position 2b, of bucketB at 2b+1 — shard ∈
    * [0, 4^bits). Same arithmetic as
    * [[graft.operators.LayoutOps.zValue]], inlined over the two bucket
    * columns so the oracle replays it as plain integer sums.
    */
  private def zShard(bucketA: Column, bucketB: Column, bits: Int): Column = {
    var acc: Column = lit(0L)
    for (b <- 0 until bits) {
      acc = acc + shiftleft(shiftright(bucketA, b).bitwiseAND(lit(1L)), 2 * b)
      acc = acc + shiftleft(shiftright(bucketB, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }
    acc.cast("int")
  }

  /** The persisted-bounds shard assignment for `rows` under meta `m`. */
  private def shardColOf(m: ZMeta): Column =
    zShard(bucketCol(m.colA, m.boundsA), bucketCol(m.colB, m.boundsB),
      m.bitsPerCol)

  /** Exact per-shard rectangle + count stats, plus one `bloom_<c>` per
    * sketch column (the fused [[graft.functions.SketchAggs.bloom_agg]]
    * beside the stats in ONE aggregation).
    */
  private def zStats(sharded: DataFrame, colA: String, colB: String,
                     sketchCols: Seq[String], bitsLog2: Int,
                     k: Int, sumCols: Seq[String] = Nil,
                     labelCols: Seq[String] = Nil,
                     labelMax: Int = 32,
                     labelStatsCols: String => Seq[String] =
                       _ => Nil): DataFrame = {
    val va = LayoutLong.longCol(col(colA))
    val vb = LayoutLong.longCol(col(colB))
    // ONE grouped aggregation builds the rectangles, counts, sums AND the
    // per-cell secondary Blooms (the join-per-artifact form cost one
    // aggregation subtree + one per-shard join each; the fused
    // SketchAggs.bloom_agg is spec-pinned bit-identical — an all-null
    // shard aggregates to the all-zero filter); labels keep their own
    // two-level aggregation.
    SketchRegistry.addShardLabels(
      sharded.groupBy(col("shard")).agg(
        min(va).as("min_a"),
        (max(va).as("max_a") +: min(vb).as("min_b") +:
          max(vb).as("max_b") +: count(lit(1)).as("n_rows") +:
          (sumCols.flatMap(c => Seq(
            sum(LayoutLong.longCol(col(c))).as(s"sum_$c"),
            count(col(c)).as(s"cnt_$c"))) ++
          sketchCols.map(c => graft.functions.SketchAggs
            .bloom_agg(LayoutLong.longCol(col(c)), bitsLog2, k)
            .as(s"bloom_$c")))): _*),
      sharded, labelCols, labelMax, labelStatsCols)
  }

  private def writeZMeta(staging: java.nio.file.Path, colA: String,
                         colB: String, bits: Int, subLog2: Int,
                         boundsA: Seq[Long], boundsB: Seq[Long],
                         sketchCols: Seq[String], bloomBitsLog2: Int,
                         bloomK: Int, sumCols: Seq[String] = Nil,
                         labelCols: Seq[String] = Nil,
                         labelMax: Int = 32): Unit =
    // v3 meta: the v2 lines, then labelCols/labelMax (always present,
    // possibly empty), then the layout-unit token — see
    // [[SketchRegistry]] for the contract
    Files.write(staging.resolve("_zonemap2d_meta"),
      (s"$colA\n$colB\n$bits\n$subLog2\n${boundsA.mkString(",")}\n" +
        s"${boundsB.mkString(",")}\n${sketchCols.mkString(",")}\n" +
        s"$bloomBitsLog2\n$bloomK" +
        s"\n${sumCols.mkString(",")}\n${labelCols.mkString(",")}\n$labelMax" +
        s"\nunits:micros")
        .getBytes(StandardCharsets.UTF_8))

  /** Commit `df` Z-order-sharded on (`colA`, `colB`) with the 2-D zone map
    * in the same atomic version. `shardsLog2` must be even (bits split
    * equally between the columns); both columns must be integral,
    * non-negative, non-null. `sketchCols` adds per-shard secondary Blooms
    * (required on the key column for [[applyChangesZOrdered]]). Costs one
    * quantile-sketch aggregation per column, one clustering shuffle, and
    * an exact per-shard stats aggregation.
    */
  def commitZOrdered(df: DataFrame, root: String, colA: String, colB: String,
                     shardsLog2: Int = 4, subLog2: Int = 5,
                     expectedVersion: Option[Long] = None,
                     sketchCols: Seq[String] = Nil,
                     bloomBitsLog2: Int = 14, bloomK: Int = 4,
                     sumCols: Seq[String] = Nil,
                     labelCols: Seq[String] = Nil,
                     labelMax: Int = 32,
                     labelStatsCols: Seq[String] = Nil): Long = {
    require(labelStatsCols.isEmpty || labelCols.nonEmpty,
      "labelStatsCols ride inside labelCols structs — declare labelCols")
    require(labelStatsCols.forall(m => df.columns.contains(m) &&
      !labelCols.contains(m)),
      s"labelStatsCols must be non-label data columns, got " +
        s"${labelStatsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(sumCols.forall(df.columns.contains),
      s"sumCols must be data columns, got ${sumCols.mkString(",")} " +
        s"vs ${df.columns.mkString(",")}")
    require(labelCols.forall(c => df.columns.contains(c) &&
      df.schema(c).dataType == org.apache.spark.sql.types.StringType),
      s"labelCols must be STRING data columns, got " +
        s"${labelCols.mkString(",")} vs ${df.schema.simpleString}")
    require(labelMax >= 1 && labelMax <= 1024,
      s"labelMax must be in [1, 1024], got $labelMax")
    require(shardsLog2 >= 2 && shardsLog2 <= 8 && shardsLog2 % 2 == 0,
      s"shardsLog2 must be even in [2, 8], got $shardsLog2 — bits split " +
        "equally across the two interleaved columns")
    require(colA != colB, "z-order columns must differ")
    require(sketchCols.forall(df.columns.contains),
      s"sketchCols must be data columns, got ${sketchCols.mkString(",")} " +
        s"vs ${df.columns.mkString(",")}")
    require(bloomBitsLog2 >= 6 && bloomBitsLog2 <= 24,
      s"bloomBitsLog2 must be in [6, 24], got $bloomBitsLog2 — same " +
        "driver-plannable budget as commitWithSketches' bitsLog2")
    val bits = shardsLog2 / 2
    val (boundsA, boundsB) = rankBounds(df, colA, colB, bits, subLog2)
    val sharded = df.withColumn("shard",
      zShard(bucketCol(colA, boundsA), bucketCol(colB, boundsB), bits))
    TableStore.commitStaged(root, expectedVersion) { staging =>
      // one keyed shuffle clusters rows by shard (one file per shard dir),
      // sorted within the file by (colA, colB) so parquet row-group stats
      // stay tight inside each shard
      TableStore.writeShards(sharded.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col(colA), col(colB)), staging, df.schema)
      // single-evaluation commit: the 2-D zone map aggregates over the
      // just-written staged parquet (SketchRegistry.readStaged), not a
      // THIRD evaluation of the source — with rankBounds' two pre-write
      // passes the input pipeline now evaluates 3x instead of 4x
      val written = SketchRegistry.readStaged(df.sparkSession, staging, sharded)
      val zonemap = zStats(written, colA, colB, sketchCols, bloomBitsLog2,
        bloomK, sumCols, labelCols, labelMax, _ => labelStatsCols)
      TableStore.writeDir(zonemap.coalesce(1), staging.resolve("_zonemap2d"))
      writeZMeta(staging, colA, colB, bits, subLog2, boundsA, boundsB,
        sketchCols, bloomBitsLog2, bloomK, sumCols, labelCols, labelMax)
    }
  }

  /** APPEND to a Z-order-sharded table with NO rewrite: batch rows take
    * their shards from the PERSISTED bucket bounds (values past a
    * dimension's last bound land in its top bucket — bounds stay fixed on
    * append, re-commit to re-balance), every existing data file
    * hard-links into the new version, and the zone map updates by exact
    * per-shard rectangle merge (min/min, max/max, count add; secondary
    * Blooms word-OR) of the old map with the batch's stats — no data
    * rescan. Commit cost is the batch plus link metadata. The streaming
    * ingest marker (and any `stagingExtra` artifact) rides the same
    * atomic commit.
    */
  def appendZOrdered(spark: SparkSession, root: String, rows: DataFrame,
                     expectedVersion: Option[Long] = None,
                     stagingExtra: java.nio.file.Path => Unit = _ => ()): Long = {
    val ver = expectedVersion.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = zMeta(root, Some(ver))
    val table = TableStore.readVersion(spark, root, ver)
    TableStore.requireSameDataSchema(rows, table, "append rows")
    val sharded = rows.withColumn("shard", shardColOf(m))
    val oldZm2 = zoneMap2d(spark, root, Some(ver))
    val n = 1 << (2 * m.bitsPerCol)
    TableStore.commitStaged(root, Some(ver)) { staging =>
      TableStore.writeShards(sharded.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col(m.colA), col(m.colB)), staging, table.schema)
      // single-evaluation append: the batch evaluates ONCE (the write);
      // its stats aggregate over the staged files read back BEFORE the
      // old version's files link in (SketchRegistry.readStaged) —
      // replaces the r18 persist of the batch frame.
      // per-label measures mirror the OLD struct schema exactly, so
      // unionByName lines up and the merge equals a fresh full build
      val written = SketchRegistry.readStaged(spark, staging, sharded)
      val batchStats = zStats(written, m.colA, m.colB, m.sketchCols,
        m.bloomBitsLog2, m.bloomK, m.sumCols, m.labelCols, m.labelMax,
        c => SketchRegistry.labelMeasuresOf(oldZm2.schema, c))
      val both = oldZm2.unionByName(batchStats)
      // ONE merge aggregation: sums and non-null counts are LINEAR (addition
      // merges them exactly), rectangles merge by min/min + max/max, and
      // secondary Blooms by word-OR — the per-artifact merge joins this
      // replaces cost one aggregation subtree + one per-shard join each
      val mergedBase = both.groupBy(col("shard")).agg(
        min(col("min_a")).as("min_a"),
        (max(col("max_a")).as("max_a") +: min(col("min_b")).as("min_b") +:
          max(col("max_b")).as("max_b") +: sum(col("n_rows")).as("n_rows") +:
          (m.sumCols.flatMap(c => Seq(
            sum(col(s"sum_$c")).as(s"sum_$c"),
            sum(col(s"cnt_$c")).as(s"cnt_$c"))) ++
          m.sketchCols.map(c => SketchRegistry
            .mergeOrWords(s"bloom_$c", m.bloomBitsLog2).as(s"bloom_$c")))): _*)
      // label counts add per label; a bailed (null) side poisons its shard
      val mergedZoneMap = m.labelCols.foldLeft(mergedBase) { (acc, c) =>
        acc.join(SketchRegistry.mergeShardLabels(both, c, m.labelMax),
          Seq("shard"))
      }
      TableStore.writeDir(mergedZoneMap.coalesce(1), staging.resolve("_zonemap2d"))
      (0 until n).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$ver", d)))
        .foreach(d => TableStore.linkDirInto(Paths.get(root, s"v_$ver", d),
          staging.resolve(d)))
      Files.copy(Paths.get(root, s"v_$ver", "_zonemap2d_meta"),
        staging.resolve("_zonemap2d_meta"))
      SketchRegistry.carryIfPresent(Paths.get(root, s"v_$ver"), staging,
        "_ingest_progress")
      stagingExtra(staging)
    }
  }

  /** Keyed UPSERT/DELETE against a Z-order-sharded table that rewrites and
    * re-sketches ONLY the touched cells — [[SketchRegistry
    * .applyChangesWithSketches]]'s incremental-maintenance shape on the
    * 2-D layout. The hash layout knows a changed key's shard from the
    * hash; here the layout says nothing about where a KEY lives, so the
    * per-cell `bloom_<keyCol>` secondary index locates the cells that
    * might hold the OLD rows (false positives cost a cell rewrite, never
    * a wrong row; false negatives cannot occur), and the upsert rows'
    * (colA, colB) values pin their NEW cells exactly. Touched = the
    * union (collected as cell IDS — ≤ 4^bits ints); each touched cell is
    * rebuilt as (old rows minus changed keys) ∪ its upserts and
    * re-statted/re-Bloomed from its new rows alone; untouched cells
    * hard-link through with their zone-map rows carried bit-identically.
    *
    * Semantics (spec-pinned, identical to the hash layout's): rows whose
    * key appears in `deleteKeys` vanish; rows whose key appears in
    * `upserts` are REPLACED by the upsert rows (insert when absent); all
    * other rows are untouched. Requires the table committed with
    * `sketchCols` including `keyCol` (loud failure otherwise). The commit
    * is CAS-pinned; returns the new version.
    */
  def applyChangesZOrdered(spark: SparkSession, root: String, keyCol: String,
                           upserts: DataFrame, deleteKeys: DataFrame,
                           expectedVersion: Option[Long] = None): Long = {
    val ver = expectedVersion.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = zMeta(root, Some(ver))
    require(m.sketchCols.contains(keyCol),
      s"keyed changes need a per-cell Bloom on '$keyCol' to locate old " +
        s"rows — commit with sketchCols including it (committed: " +
        s"${m.sketchCols.mkString(",")})")
    val table = TableStore.readVersion(spark, root, ver)
    TableStore.requireSameDataSchema(upserts, table, "upserts")
    // persisted for the verb's own lifetime (unpersisted in the finally
    // below — every consumer materializes inside this call): the key set
    // is re-evaluated by the Bloom probe, the anti-join broadcast under
    // the data write, AND the anti-join under the stats aggregation —
    // without the persist each re-derives it from full scans of the
    // change inputs
    val changedKeys = upserts.select(LayoutLong.longCol(col(keyCol)).as("__k"))
      .union(deleteKeys.select(LayoutLong.longCol(col(deleteKeys.columns.head)).as("__k")))
      .distinct().persist()
    // cells that might hold an OLD row of a changed key: Bloom admission
    // runs distributed against the broadcast zone map; only cell ids collect
    val reg = zoneMap2d(spark, root, Some(ver))
      .select(col("shard"), col(s"bloom_$keyCol").as("bloom"))
    val oldCells = SketchOps.bloomMightContain(broadcast(reg), changedKeys,
        Nil, "__k", m.bloomBitsLog2, m.bloomK)
      .filter(col("might_contain")).select(col("shard")).distinct()
      .collect().map(_.getInt(0))
    // cells the upsert rows land in under the persisted bounds: exact
    val newCells = upserts.select(shardColOf(m).as("shard")).distinct()
      .collect().map(_.getInt(0))
    val touched = (oldCells ++ newCells).distinct.sorted.toSeq
    if (touched.isEmpty) return ver // no old rows possible, no upserts: no-op
    val n = 1 << (2 * m.bitsPerCol)
    val existingDirs = (0 until n).filter(s =>
      Files.isDirectory(Paths.get(root, s"v_$ver", s"shard=$s")))
    val oldTouchedDirs = existingDirs.filter(touched.contains)
    val oldTouched = TableStore.readShards(spark, root, ver, oldTouchedDirs)
    val newTouched = oldTouched
      .join(broadcast(changedKeys), LayoutLong.longCol(col(keyCol)) === col("__k"),
        "left_anti")
      .unionByName(upserts.withColumn("shard", shardColOf(m)))
    val oldZmU = zoneMap2d(spark, root, Some(ver))
    val carried = oldZmU
      .filter(!col("shard").isin(touched: _*))
    try TableStore.commitStaged(root, Some(ver)) { staging =>
      TableStore.writeShards(newTouched.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col(m.colA), col(m.colB)), staging, table.schema)
      // single-evaluation upsert: the rebuilt touched-cell rows evaluate
      // ONCE (the write — anti-join ∪ batch); their stats aggregate over
      // the staged files read back BEFORE untouched cells link in
      // (SketchRegistry.readStaged) — replaces the r18 persist, so at
      // scale the touched slice never pins in the block manager
      val written = SketchRegistry.readStaged(spark, staging, newTouched)
      val touchedStats = zStats(written, m.colA, m.colB, m.sketchCols,
        m.bloomBitsLog2, m.bloomK, m.sumCols, m.labelCols, m.labelMax,
        c => SketchRegistry.labelMeasuresOf(oldZmU.schema, c))
      TableStore.writeDir(carried.unionByName(touchedStats).coalesce(1),
        staging.resolve("_zonemap2d"))
      existingDirs.filterNot(touched.contains).foreach { s =>
        TableStore.linkDirInto(Paths.get(root, s"v_$ver", s"shard=$s"),
          staging.resolve(s"shard=$s"))
      }
      Files.copy(Paths.get(root, s"v_$ver", "_zonemap2d_meta"),
        staging.resolve("_zonemap2d_meta"))
      SketchRegistry.carryIfPresent(Paths.get(root, s"v_$ver"), staging,
        "_ingest_progress")
    } finally changedKeys.unpersist(blocking = false)
  }

  /** Compact a Z-order-sharded table after a run of appends: shards with
    * more than `maxFilesPerShard` parquet files rewrite to one sorted
    * file, every other shard hard-links through; data unchanged ⇒ zone
    * map carries verbatim, ingest marker carries forward. No-op returns
    * the current version.
    */
  def compactZOrdered(spark: SparkSession, root: String,
                      maxFilesPerShard: Int = 1): Long = {
    val v = TableStore.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = zMeta(root, Some(v))
    val n = 1 << (2 * m.bitsPerCol)
    def parquetCount(s: Int): Int = {
      val d = Paths.get(root, s"v_$v", s"shard=$s")
      if (!Files.isDirectory(d)) 0
      else {
        val listing = Files.list(d)
        try listing.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).count().toInt
        finally listing.close()
      }
    }
    val fat = (0 until n).filter(parquetCount(_) > maxFilesPerShard)
    if (fat.isEmpty) return v
    val fatData = TableStore.readShards(spark, root, v, fat)
    TableStore.commitStaged(root, Some(v)) { staging =>
      TableStore.writeShards(fatData.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col(m.colA), col(m.colB)), staging, fatData.schema)
      (0 until n).filterNot(fat.contains).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$v", d)))
        .foreach(d => TableStore.linkDirInto(Paths.get(root, s"v_$v", d),
          staging.resolve(d)))
      TableStore.writeDir(zoneMap2d(spark, root, Some(v)).coalesce(1),
        staging.resolve("_zonemap2d"))
      Files.copy(Paths.get(root, s"v_$v", "_zonemap2d_meta"),
        staging.resolve("_zonemap2d_meta"))
      SketchRegistry.carryIfPresent(Paths.get(root, s"v_$v"), staging,
        "_ingest_progress")
    }
  }

  /** The persisted layout parameters of `root`'s committed (or given)
    * version. Fails loudly when the version was not committed via
    * [[commitZOrdered]].
    */
  def zMeta(root: String, version: Option[Long] = None): ZMeta = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val p = Paths.get(root, s"v_$v", "_zonemap2d_meta")
    require(Files.exists(p),
      s"v_$v under $root carries no 2-D zone map — commit it with " +
        "commitZOrdered to enable box-pruned reads")
    def longs(s: String) = s.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1) match {
      case Array(a, b, bits, sl, ba, bb) =>
        ZMeta(a, b, bits.toInt, sl.toInt, longs(ba), longs(bb))
      case Array(a, b, bits, sl, ba, bb, skc, bbits, bk) =>
        ZMeta(a, b, bits.toInt, sl.toInt, longs(ba), longs(bb),
          skc.split(",").filter(_.nonEmpty).toSeq, bbits.toInt, bk.toInt)
      case Array(a, b, bits, sl, ba, bb, skc, bbits, bk, suc) =>
        ZMeta(a, b, bits.toInt, sl.toInt, longs(ba), longs(bb),
          skc.split(",").filter(_.nonEmpty).toSeq, bbits.toInt, bk.toInt,
          suc.split(",").filter(_.nonEmpty).toSeq)
      case Array(a, b, bits, sl, ba, bb, skc, bbits, bk, suc, un)
          if un.startsWith("units:") =>
        ZMeta(a, b, bits.toInt, sl.toInt, longs(ba), longs(bb),
          skc.split(",").filter(_.nonEmpty).toSeq, bbits.toInt, bk.toInt,
          suc.split(",").filter(_.nonEmpty).toSeq,
          units = un.stripPrefix("units:"))
      // v3: labelCols/labelMax between sumCols and the unit token
      case Array(a, b, bits, sl, ba, bb, skc, bbits, bk, suc, lbc, lbm, un)
          if un.startsWith("units:") =>
        ZMeta(a, b, bits.toInt, sl.toInt, longs(ba), longs(bb),
          skc.split(",").filter(_.nonEmpty).toSeq, bbits.toInt, bk.toInt,
          suc.split(",").filter(_.nonEmpty).toSeq,
          lbc.split(",").filter(_.nonEmpty).toSeq, lbm.toInt,
          units = un.stripPrefix("units:"))
      case other => throw new IllegalStateException(
        s"torn _zonemap2d_meta under $root/v_$v: ${other.mkString("|")}")
    }
  }

  /** The exact 2-D zone-map rows of the committed (or given) version:
    * (shard, min_a, max_a, min_b, max_b, n_rows[, bloom_<c>…]), one row
    * per non-empty shard — planning statistics AND pruning authority,
    * zero data files touched.
    */
  def zoneMap2d(spark: SparkSession, root: String,
                version: Option[Long] = None): DataFrame = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    zMeta(root, Some(v)) // loud guard: z-order layout required
    TableStore.readDir(spark, s"$root/v_$v/_zonemap2d")
  }

  /** The shard directories a box read must open: those whose exact
    * per-shard rectangle intersects `[aLo,aHi] × [bLo,bHi]` — zone maps
    * are exact, so the prune has no false positives or negatives at shard
    * granularity. Reads the zone map only.
    */
  def prunedBoxShards(spark: SparkSession, root: String,
                      aLo: Long, aHi: Long, bLo: Long, bHi: Long,
                      version: Option[Long] = None): Seq[Int] = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    // rectangle intersection over the memoized zone-map rows — pure
    // driver arithmetic, zero Spark jobs after the version's first read
    MetaCache.rows(zoneMap2d(spark, root, Some(v)), root, v,
        Seq("shard", "min_a", "max_a", "min_b", "max_b"))
      .collect { case r if r.getLong(2) >= aLo && r.getLong(1) <= aHi &&
          r.getLong(4) >= bLo && r.getLong(3) <= bHi => r.getInt(0) }
      .toSeq.sorted
  }

  /** 2-D box read through the zone map: result rows are exactly
    * `TableStore.read(...).filter(a BETWEEN … AND b BETWEEN …)`'s (spec-
    * and oracle-pinned), but only rectangle-intersecting shard
    * directories are ever opened — an empty intersection opens ZERO data
    * files, and a tight box opens ~(box area ∕ rank space) of them.
    */
  def boxLookup(spark: SparkSession, root: String,
                aLo: Long, aHi: Long, bLo: Long, bHi: Long,
                version: Option[Long] = None): DataFrame = {
    val m = zMeta(root, version)
    val v = TableStore.resolveVersion(root, version)
    val inBox = LayoutLong.longCol(col(m.colA)).between(aLo, aHi) &&
      LayoutLong.longCol(col(m.colB)).between(bLo, bHi)
    TableStore.readShards(spark, root, v,
      prunedBoxShards(spark, root, aLo, aHi, bLo, bHi, Some(v))).filter(inBox)
  }

  /** Equality `IN`-lookup on a Bloom-indexed column of a Z-order table:
    * the 2-D layout clusters by (colA, colB), so any OTHER column
    * scatters and rectangles carry no signal — but its per-cell
    * `bloom_<c>` rows still prune. Admission runs distributed against the
    * broadcast zone map (registry-only; ≤ 4^bits ids collect); admitted
    * cell dirs are opened and the exact IN filter kills Bloom false
    * positives — result rows are exactly the plain IN's
    * ([[SketchRegistry.rangeLookupBy]]'s contract on the 2-D layout).
    */
  def zLookupBy(spark: SparkSession, root: String, c: String,
                values: Seq[Long],
                version: Option[Long] = None): DataFrame = {
    val m = zMeta(root, version)
    require(m.sketchCols.contains(c),
      s"'$c' carries no per-cell Bloom — commit with sketchCols " +
        s"including it (committed: ${m.sketchCols.mkString(",")})")
    val v = TableStore.resolveVersion(root, version)
    if (values.isEmpty)
      return TableStore.readVersion(spark, root, v).filter(lit(false))
    // literal probe list against registry-sized metadata: admission is
    // pure driver arithmetic over the memoized rows — zero Spark jobs
    val shards = MetaCache.admittedShards(zoneMap2d(spark, root, Some(v)),
      root, v, s"bloom_$c", values, m.bloomBitsLog2, m.bloomK)
    TableStore.readShards(spark, root, v, shards)
      .filter(LayoutLong.longCol(col(c)).isin(values: _*))
  }

  /** The shard subsets a (colA, colB)-equality join of two Z-ORDER tables
    * must read, off the two 2-D zone maps alone: a cell contributes a
    * joined row only if its exact rectangle intersects SOME rectangle of
    * the other side in BOTH dimensions. The 2-D analog of
    * [[SketchRegistry.rangeColocatedShards]]; layouts need NOT share
    * bucket bounds — intersection is on raw value rectangles.
    */
  def zColocatedShards(spark: SparkSession, rootA: String, rootB: String,
                       versionA: Option[Long] = None,
                       versionB: Option[Long] = None): (Seq[Int], Seq[Int]) = {
    def rects(root: String, version: Option[Long]): Seq[(Int, Long, Long, Long, Long)] = {
      val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      MetaCache.rows(zoneMap2d(spark, root, Some(v)), root, v,
          Seq("shard", "min_a", "max_a", "min_b", "max_b"))
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    }
    val ra = rects(rootA, versionA)
    val rb = rects(rootB, versionB)
    def keep(self: Seq[(Int, Long, Long, Long, Long)],
             other: Seq[(Int, Long, Long, Long, Long)]): Seq[Int] =
      self.filter { case (_, aLo, aHi, bLo, bHi) =>
        other.exists { case (_, oaLo, oaHi, obLo, obHi) =>
          aHi >= oaLo && aLo <= oaHi && bHi >= obLo && bLo <= obHi
        }
      }.map(_._1).sorted
    (keep(ra, rb), keep(rb, ra))
  }

  /** Equi-join two Z-ORDER tables on their shared layout columns, reading
    * only rectangle-intersecting cells of either side — result rows are
    * exactly the plain inner join's on (colA, colB) (rectangles are
    * exact; a pruned cell provably holds no matching pair, a kept cell
    * costs a read, never a wrong row). Columns: A's, then B's non-layout
    * data columns (suffixed `_b` on collision). Disjoint rectangles open
    * ZERO data files on both sides.
    */
  def colocatedZJoin(spark: SparkSession, rootA: String, rootB: String,
                     versionA: Option[Long] = None,
                     versionB: Option[Long] = None): DataFrame = {
    val ma = zMeta(rootA, versionA)
    val mb = zMeta(rootB, versionB)
    require(ma.colA == mb.colA && ma.colB == mb.colB,
      s"co-located z-join requires the same layout columns, got " +
        s"(${ma.colA},${ma.colB}) vs (${mb.colA},${mb.colB})")
    val va = TableStore.resolveVersion(rootA, versionA)
    val vb = TableStore.resolveVersion(rootB, versionB)
    val (sa, sb) = zColocatedShards(spark, rootA, rootB, Some(va), Some(vb))
    val keys = Seq(ma.colA, ma.colB)
    val a = TableStore.readShards(spark, rootA, va, sa)
    val bRaw = TableStore.readShards(spark, rootB, vb, sb).drop("shard")
    val collide = bRaw.columns.filter(c => !keys.contains(c) &&
      a.columns.contains(c))
    val b = collide.foldLeft(bRaw)((d, c) => d.withColumnRenamed(c, s"${c}_b"))
    a.join(b, keys)
  }
}
