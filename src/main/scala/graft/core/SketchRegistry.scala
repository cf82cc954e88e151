package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SketchOps

/** Per-shard sketch registry on top of [[TableStore]] — the zone-map /
  * data-skipping story built from the engine's own sketch artifacts
  * (reference has nothing like it; the pattern is the lakehouse
  * file-statistics one, done with replayable sketches instead of
  * min/max stats).
  *
  * [[commitWithSketches]] lays the table out in `2^shardsLog2` key-hash
  * shards (a visible `shard` layout column, `splitmix64(key)` low bits —
  * deterministic and engine-replayable, so the oracle can re-derive every
  * row's shard) and persists, INSIDE the same atomic version commit, a
  * tiny `_sketches` registry: one row per shard with its Bloom filter,
  * HLL sketch, and row count. Underscore-prefixed paths are invisible to
  * data reads, and the registry rides the version's rename→swap, so it
  * can never be torn from the data it describes — time travel and vacuum
  * apply to both together.
  *
  * A keyed lookup then reads the REGISTRY first ([[prunedShards]]):
  * the key's shard comes from the hash directly, and the shard's Bloom
  * row decides whether the shard's files are opened at all — a planted
  * miss reads ZERO data files (false positives possible at the published
  * rate, false negatives never). [[shardStats]] serves per-shard
  * row/ndv numbers off the registry alone — the planning statistics
  * surface, no data scan.
  */
object SketchRegistry {

  /** Registry parameters, persisted beside the data so lookups can never
    * probe with mismatched hashing. `cmDepth = 0` marks a registry written
    * before per-shard CM rows existed (no registry-only join planning).
    * `keyIsString = true` means the key column is a STRING whose layout
    * BIGINT is the pinned `xxhash64` (Spark's SQL xxhash64, seed 42) —
    * persisted so write and probe sides can never hash differently.
    * `keyKinds` non-empty marks a COMPOSITE key ([[commitWithSketchesKeys]]):
    * `keyCol` then holds the comma-joined column list and `keyKinds` the
    * per-column normalized kind ("int" = integral cast to BIGINT before
    * hashing, "string" = as-is) — the layout BIGINT is the pinned
    * `xxhash64(c1', c2', …)` over the NORMALIZED columns, so two tables
    * with the same keyKind can never hash the same logical key
    * differently even when their physical column widths differ.
    */
  final case class Meta(keyCol: String, shardsLog2: Int, bitsLog2: Int,
                        k: Int, hllP: Int, sketchCols: Seq[String] = Nil,
                        cmDepth: Int = 0, cmWidthLog2: Int = 0,
                        keyIsString: Boolean = false,
                        keyKinds: Seq[String] = Nil,
                        sumCols: Seq[String] = Nil,
                        statsCols: Seq[String] = Nil,
                        units: String = "",
                        labelCols: Seq[String] = Nil,
                        labelMax: Int = 32) {
    def isComposite: Boolean = keyKinds.nonEmpty
    def keyCols: Seq[String] =
      if (isComposite) keyCol.split(",").toSeq else Seq(keyCol)
    /** The hash-domain identity two layouts must share for ANY cross-table
      * bitmap/sketch comparison (Bloom-AND co-location, dispatch).
      */
    def keyKind: String =
      if (isComposite) s"multi:${keyKinds.mkString(",")}"
      else if (keyIsString) "string" else "int"
  }

  /** The BIGINT the layout hashes for the key: the value itself for
    * integral keys, the pinned `xxhash64` for string keys. Every shard
    * assignment, sketch build, and probe routes through this ONE
    * expression — the trap of "caller hashed at write time but not at
    * probe time" cannot occur.
    */
  private def keyHashExpr(keyIsString: Boolean,
                          c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (keyIsString) xxhash64(c) else LayoutLong.longCol(c)

  /** The meta-aware layout hash over a frame's key column(s) — every
    * maintenance verb and probe routes through this ONE derivation.
    */
  private def keyHashExprM(m: Meta): org.apache.spark.sql.Column =
    if (m.isComposite)
      xxhash64(m.keyCols.zip(m.keyKinds).map {
        case (c, "string") => col(c)
        case (c, _)        => LayoutLong.longCol(col(c))
      }: _*)
    else keyHashExpr(m.keyIsString, col(m.keyCol))

  /** The normalized kind of a composite key column — integral widths all
    * hash as BIGINT, so two tables keyed on (INT, BIGINT) and (BIGINT,
    * BIGINT) columns holding the same logical keys share the hash domain.
    */
  private def kindOf(dt: org.apache.spark.sql.types.DataType,
                     c: String): String = dt match {
    case org.apache.spark.sql.types.StringType => "string"
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType => "int"
    case other => throw new IllegalArgumentException(
      s"composite key column '$c' must be integral or string, got $other")
  }

  /** Driver-side replica of the composite layout hash: evaluates the SAME
    * Catalyst `XxHash64` over literals normalized exactly like
    * [[keyHashExprM]] normalizes columns — the probe can never hash
    * differently from the commit.
    */
  private[core] def xxhash64Multi(values: Seq[Any], kinds: Seq[String]): Long = {
    require(values.length == kinds.length,
      s"expected ${kinds.length} key values, got ${values.length}")
    val exprs = values.zip(kinds).map {
      case (s: String, "string") =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType)
      case (v, "string") => throw new IllegalArgumentException(
        s"expected a string key component, got $v")
      case (v: Number, _) =>
        org.apache.spark.sql.catalyst.expressions.Literal(
          v.longValue(), org.apache.spark.sql.types.LongType)
      case (v, _) => throw new IllegalArgumentException(
        s"expected an integral key component, got $v")
    }
    org.apache.spark.sql.catalyst.expressions.XxHash64(exprs, 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
  }

  /** Driver-side replica of Spark's `xxhash64` on one string — evaluates
    * the actual Catalyst expression, so it can never drift from the
    * engine's hash.
    */
  private[core] def xxhash64String(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)),
      42L) // Spark's xxhash64 SQL seed
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]

  /** Cluster a shard-columned DataFrame so each shard DIRECTORY receives
    * exactly `filesPerShard` parquet files. Without this, `partitionBy`
    * makes EVERY write task open a file in every shard it holds rows for —
    * tasks × shards small files per commit, compounding under incremental
    * maintenance. One keyed shuffle buys the layout: `filesPerShard = 1`
    * (the default) clusters purely by shard; larger values sub-split each
    * shard by a second decorrelated hash of `hashBasis` (size files toward
    * the ~128 MB–1 GB parquet sweet spot at scale). The sub-split shuffle
    * pins an EXPLICIT partition count (`numShards × filesPerShard`) —
    * repartition-by-expression alone lets AQE coalesce small shuffle
    * partitions, which would silently fold the sub-splits back together.
    */
  private def clusterForWrite(df: DataFrame, hashBasis: org.apache.spark.sql.Column,
                              filesPerShard: Int, numShards: Int): DataFrame = {
    require(filesPerShard >= 1, s"filesPerShard must be >= 1, got $filesPerShard")
    if (filesPerShard == 1) df.repartition(col("shard"))
    else df.repartition(numShards * filesPerShard, col("shard"),
      pmod(graft.functions.GraftFunctions.splitmix64(
        hashBasis + lit(0x517cc1b7L)), lit(filesPerShard.toLong)))
  }

  /** The just-written staged shard data of a commit, read back for the
    * stats aggregation — the single-evaluation commit shape (guide §8
    * "decide with small rows, move big rows once", adapted to commits:
    * the input pipeline evaluates ONCE, in the clustered data write; the
    * registry/zone-map then derives from a column-pruned columnar read
    * of what was just written, never from a second evaluation of the
    * source). The read is PINNED to the parquet files of the `shard=`
    * directories present when it is called, under the schema the staged
    * write pinned ([[TableStore.writeShards]]), so old-version files
    * hard-linked into `staging` afterwards can never enter the frame
    * (maintenance verbs rely on this: the batch stats must not include
    * linked-in old rows).
    * Sketch/stat aggregations are order-free and parquet round-trips
    * values exactly, so the derived registry is bit-identical to one
    * aggregated from the source. Returns an empty frame with `written`'s
    * schema when the write produced no shard file (empty input).
    */
  private[core] def readStaged(spark: SparkSession,
                               staging: java.nio.file.Path,
                               written: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    def list(dir: java.nio.file.Path, glob: String): Seq[java.nio.file.Path] = {
      val ds = Files.newDirectoryStream(dir, glob)
      try ds.asScala.toSeq finally ds.close()
    }
    val files = list(staging, "shard=*").filter(Files.isDirectory(_))
      .flatMap(list(_, "*.parquet")).map(_.toString)
    if (files.isEmpty) written.filter(lit(false))
    else TableStore.readDir(spark, staging.toString, files)
  }

  /** One registry row per non-empty shard: the key column's Bloom + HLL +
    * CM + row count, plus one `bloom_<c>` secondary Bloom per `sketchCols`
    * entry — equality data-skipping on NON-layout columns, the lakehouse
    * Bloom-index story (a hash layout scatters every other column, so
    * per-shard min/max is useless there; per-shard membership bits are
    * not). A shard whose rows are all null in `c` carries an all-zero
    * `bloom_<c>` (admits nothing). The per-shard CM rows (frequency
    * counters over the key hash) exist for REGISTRY-ONLY join planning
    * ([[graft.operators.SketchOps.equiJoinPlanFromRegistry]]): counters
    * are linear, so any slice's CM is a query-time SUM of its shards' —
    * disk cost depth·2^widthLog2 longs per shard row (128 KiB at the
    * 4×2^12 default, ~0.0005% of a 24 GB shard), never driver-collected
    * in bulk (merges run distributed; one merged sketch collects).
    * `keyHashCol` is the materialized BIGINT hash column all key sketches
    * build on.
    */
  private def buildRegistryRows(sharded: DataFrame, keyHashCol: String,
                                bitsLog2: Int, k: Int, hllP: Int,
                                sketchCols: Seq[String],
                                cmDepth: Int, cmWidthLog2: Int,
                                sumCols: Seq[String] = Nil,
                                statsCols: Seq[String] = Nil,
                                labelCols: Seq[String] = Nil,
                                labelMax: Int = 32,
                                labelStatsCols: String => Seq[String] =
                                  _ => Nil): DataFrame = {
    // per-shard EXACT (sum_<c>, cnt_<c>) beside n_rows for each sumCols
    // column — linear stats, so append merges them by addition and the
    // metadata-only sum/count/avg answering works on the hash layout too.
    // statsCols carry per-shard EXACT (min_<c>, max_<c>) (null for an
    // all-null shard): order stats, so append merges them by
    // Least/Greatest and min/max answering works on the hash layout too
    // — for ANSWERING only, never for pruning (the hash layout scatters
    // value ranges, so per-shard windows carry no skip signal there).
    // EVERY statsCols column ALSO carries its exact non-null count
    // (cnt_<c>, one Long per shard, deduped against sumCols') so windows
    // always arrive PROOF-CAPABLE: containment arguments need to know a
    // shard holds no nulls (windows ignore nulls; filters and groups do
    // not), and without the count a merely-windowed column silently
    // degrades to a full scan.
    // ONE grouped aggregation builds every artifact — key Bloom + HLL +
    // CM, the exact counts/sums/windows, and one secondary Bloom per
    // sketchCols entry — over a single read of the input (the two-step
    // exploded builders in SketchOps cost one aggregation subtree and one
    // per-shard join EACH; the fused SketchAggs forms are spec-pinned
    // bit-identical). Secondary Blooms sketch the LayoutLong of the
    // column — the SAME unit probes arrive in (a bare cast would commit
    // timestamp bits in seconds and mis-prune every equality; for
    // integrals LayoutLong IS the cast, bit-identical); an all-null shard
    // aggregates to the all-zero filter (admits nothing), exactly the
    // coalesce(zero) the join form produced.
    val base = sharded.groupBy(col("shard")).agg(
      graft.functions.SketchAggs.bloom_agg(col(keyHashCol), bitsLog2, k)
        .as("bloom"),
      (graft.functions.SketchAggs.hll_agg(col(keyHashCol), hllP).as("hll") +:
        graft.functions.SketchAggs.cm_agg(col(keyHashCol), cmDepth, cmWidthLog2)
          .as("cm") +:
        count(lit(1)).as("n_rows") +:
        (sumCols.flatMap(c => Seq(
          sum(LayoutLong.longCol(col(c))).as(s"sum_$c"),
          count(col(c)).as(s"cnt_$c"))) ++
        statsCols.flatMap(c => Seq(
          min(LayoutLong.longCol(col(c))).as(s"min_$c"),
          max(LayoutLong.longCol(col(c))).as(s"max_$c"))) ++
        statsCols.filterNot(sumCols.contains).map(c =>
          count(col(c)).as(s"cnt_$c")) ++
        sketchCols.map(c => graft.functions.SketchAggs
          .bloom_agg(LayoutLong.longCol(col(c)), bitsLog2, k)
          .as(s"bloom_$c")))): _*)
    // label stats are layout-agnostic (exact per-(shard, label) counts
    // and optional measure stats) — hash scattering removes their PRUNE
    // signal but not their ANSWERING power: GROUP BY category collapses
    // on the primary layout the same way it does on range/Z
    addShardLabels(base, sharded, labelCols, labelMax, labelStatsCols)
  }

  /** Opt-in sketch-indexed commit: the data lands hash-sharded on
    * `keyCol` (integral, or STRING — a string key hashes through the
    * pinned `xxhash64` recorded in the meta, so probes can never hash
    * differently) with the registry in the same atomic commit. Costs
    * three extra aggregations over the input (Bloom + HLL + CM builds,
    * map-side partial) and one shuffle for the shard layout (which also
    * bounds output files to `filesPerShard` per shard — see
    * [[clusterForWrite]]). Reads of the table see the extra `shard`
    * column — the layout is part of the table's contract, like any
    * partitioned table's.
    */
  def commitWithSketches(df: DataFrame, root: String, keyCol: String,
                         shardsLog2: Int = 3, bitsLog2: Int = 14, k: Int = 4,
                         hllP: Int = 12,
                         expectedVersion: Option[Long] = None,
                         filesPerShard: Int = 1,
                         sketchCols: Seq[String] = Nil,
                         cmDepth: Int = 4, cmWidthLog2: Int = 12,
                         sumCols: Seq[String] = Nil,
                         statsCols: Seq[String] = Nil,
                         labelCols: Seq[String] = Nil,
                         labelMax: Int = 32,
                         labelStatsCols: Seq[String] = Nil): Long = {
    require(shardsLog2 >= 0 && shardsLog2 <= 12,
      s"shardsLog2 must be in [0, 12], got $shardsLog2")
    require(labelCols.forall(c => df.columns.contains(c) &&
      df.schema(c).dataType == org.apache.spark.sql.types.StringType),
      s"labelCols must be STRING data columns, got " +
        s"${labelCols.mkString(",")} vs ${df.schema.simpleString}")
    require(labelMax >= 1 && labelMax <= 1024,
      s"labelMax must be in [1, 1024], got $labelMax")
    require(labelStatsCols.isEmpty || labelCols.nonEmpty,
      "labelStatsCols ride inside labelCols structs — declare labelCols")
    require(labelStatsCols.forall(m => df.columns.contains(m) &&
      !labelCols.contains(m)),
      s"labelStatsCols must be non-label data columns, got " +
        s"${labelStatsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    // Bound the per-column Bloom registry: a planner (SketchFileIndex) may
    // hold one column's filters driver-side — shards × 2^(bitsLog2-6) × 8 B
    // per referenced column, ≤ 2^12 × 2^18 × 8 B = 8 GiB at the extremes of
    // both bounds but ≤ 64 MiB/col at the 4096-shard default. Past 2^24
    // bits (2 MiB per shard-row) the registry itself becomes the scan;
    // shard the keys finer instead of widening the filter.
    require(bitsLog2 >= 6 && bitsLog2 <= 24,
      s"bitsLog2 must be in [6, 24], got $bitsLog2 — a 2^$bitsLog2-bit " +
        "filter per shard is past the registry's driver-plannable budget; " +
        "raise shardsLog2 (more, smaller shards) instead")
    require(sketchCols.forall(c => df.columns.contains(c) && c != keyCol),
      s"sketchCols must be data columns other than the key, got " +
        s"${sketchCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(cmDepth >= 1 && cmDepth <= 16,
      s"cmDepth must be in [1, 16], got $cmDepth")
    require(sumCols.forall(df.columns.contains),
      s"sumCols must be data columns, got " +
        s"${sumCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(statsCols.forall(df.columns.contains),
      s"statsCols must be data columns, got " +
        s"${statsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    val keyIsString =
      df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType
    val n = 1 << shardsLog2
    val sharded = df
      .withColumn("__kh", keyHashExpr(keyIsString, col(keyCol)))
      .withColumn("shard", graft.functions.GraftFunctions.splitmix64(col("__kh"))
        .bitwiseAND(lit((n - 1).toLong)).cast("int"))
    TableStore.commitStaged(root, expectedVersion) { staging =>
      TableStore.writeShards(clusterForWrite(sharded, col("__kh"), filesPerShard, n)
        .drop("__kh"), staging, df.schema)
      // ONE evaluation of the commit input: the registry aggregates over
      // the just-written staged parquet (pruned to the registry's input
      // columns), not a second evaluation of the source — see readStaged
      val written = readStaged(df.sparkSession, staging, sharded.drop("__kh"))
        .withColumn("__kh", keyHashExpr(keyIsString, col(keyCol)))
      val registry = buildRegistryRows(written, "__kh", bitsLog2, k, hllP,
        sketchCols, cmDepth, cmWidthLog2, sumCols, statsCols,
        labelCols, labelMax, _ => labelStatsCols)
      TableStore.writeDir(registry.coalesce(1), staging.resolve("_sketches"))
      Files.write(staging.resolve("_sketches_meta"),
        hashMetaText(keyCol, shardsLog2, bitsLog2, k, hllP, sketchCols,
          cmDepth, cmWidthLog2, if (keyIsString) "string" else "int",
          sumCols, statsCols, labelCols, labelMax)
          .getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The v2 `_sketches_meta` text: the v1 positional lines, then the
    * sumCols/statsCols lines (always present, possibly empty) and the
    * LAYOUT-UNIT token. `units:micros` asserts every persisted Long
    * artifact (windows, sums, Bloom bits, key hashes) was derived via
    * [[LayoutLong]] — Catalyst-internal units (micros/days for temporal
    * columns). A store whose meta lacks the token was committed under
    * the old bare-CAST semantics (SECONDS for timestamps) and is
    * REJECTED by [[SketchFileIndex.readIndexed]] when any layout-stat
    * column is temporal — silent reinterpretation would mis-prune.
    */
  private def hashMetaText(keyCol: String, shardsLog2: Int, bitsLog2: Int,
                           k: Int, hllP: Int, sketchCols: Seq[String],
                           cmDepth: Int, cmWidthLog2: Int, keyKind: String,
                           sumCols: Seq[String],
                           statsCols: Seq[String],
                           labelCols: Seq[String] = Nil,
                           labelMax: Int = 32): String =
    s"$keyCol\n$shardsLog2\n$bitsLog2\n$k\n$hllP\n${sketchCols.mkString(",")}" +
      s"\n$cmDepth\n$cmWidthLog2\n$keyKind" +
      s"\n${sumCols.mkString(",")}\n${statsCols.mkString(",")}" +
      (if (labelCols.isEmpty) ""
       else s"\n${labelCols.mkString(",")}\n$labelMax") +
      "\nunits:micros"

  /** COMPOSITE-key opt-in sketch-indexed commit — the multi-column
    * complement of [[commitWithSketches]] (the reference's own session
    * entries key on (session_id, seq); lineitem needs (l_orderkey,
    * l_linenumber)): the layout BIGINT is the pinned
    * `xxhash64(normalized key columns)` with the per-column kinds
    * recorded in the meta, so callers never hand-hash a combined column
    * (the trap the string-key work closed for one column) and probes can
    * never hash differently from the commit. Everything downstream —
    * registry rows, Bloom/HLL/CM sketches, append/upsert/compact
    * maintenance, FileIndex pruning on full-key equality conjunctions,
    * join dispatch on two-conjunct equi-joins — rides the same combined
    * hash. Key columns must be integral or string (loud otherwise);
    * integral widths normalize to BIGINT before hashing.
    */
  def commitWithSketchesKeys(df: DataFrame, root: String,
                             keyCols: Seq[String],
                             shardsLog2: Int = 3, bitsLog2: Int = 14,
                             k: Int = 4, hllP: Int = 12,
                             expectedVersion: Option[Long] = None,
                             filesPerShard: Int = 1,
                             sketchCols: Seq[String] = Nil,
                             cmDepth: Int = 4, cmWidthLog2: Int = 12,
                             sumCols: Seq[String] = Nil,
                             statsCols: Seq[String] = Nil): Long = {
    require(keyCols.size >= 2,
      s"composite commit needs >= 2 key columns, got ${keyCols.mkString(",")}" +
        " — use commitWithSketches for a single key")
    require(keyCols.distinct.size == keyCols.size,
      s"duplicate key columns: ${keyCols.mkString(",")}")
    require(keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} must all exist in " +
        df.columns.mkString(","))
    require(keyCols.forall(!_.contains(",")),
      "key column names must not contain ','")
    require(shardsLog2 >= 0 && shardsLog2 <= 12,
      s"shardsLog2 must be in [0, 12], got $shardsLog2")
    require(bitsLog2 >= 6 && bitsLog2 <= 24,
      s"bitsLog2 must be in [6, 24], got $bitsLog2")
    require(sketchCols.forall(c => df.columns.contains(c) && !keyCols.contains(c)),
      s"sketchCols must be data columns other than the keys, got " +
        s"${sketchCols.mkString(",")}")
    require(cmDepth >= 1 && cmDepth <= 16,
      s"cmDepth must be in [1, 16], got $cmDepth")
    require(sumCols.forall(df.columns.contains),
      s"sumCols must be data columns, got " +
        s"${sumCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(statsCols.forall(df.columns.contains),
      s"statsCols must be data columns, got " +
        s"${statsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    val kinds = keyCols.map(c => kindOf(df.schema(c).dataType, c))
    val m = Meta(keyCols.mkString(","), shardsLog2, bitsLog2, k, hllP,
      sketchCols, cmDepth, cmWidthLog2, keyIsString = false, keyKinds = kinds)
    val n = 1 << shardsLog2
    val sharded = df
      .withColumn("__kh", keyHashExprM(m))
      .withColumn("shard", graft.functions.GraftFunctions.splitmix64(col("__kh"))
        .bitwiseAND(lit((n - 1).toLong)).cast("int"))
    TableStore.commitStaged(root, expectedVersion) { staging =>
      TableStore.writeShards(clusterForWrite(sharded, col("__kh"), filesPerShard, n)
        .drop("__kh"), staging, df.schema)
      // single-evaluation commit: registry from the staged write (readStaged)
      val written = readStaged(df.sparkSession, staging, sharded.drop("__kh"))
        .withColumn("__kh", keyHashExprM(m))
      val registry = buildRegistryRows(written, "__kh", bitsLog2, k, hllP,
        sketchCols, cmDepth, cmWidthLog2, sumCols, statsCols)
      TableStore.writeDir(registry.coalesce(1), staging.resolve("_sketches"))
      Files.write(staging.resolve("_sketches_meta"),
        hashMetaText(m.keyCol, shardsLog2, bitsLog2, k, hllP, sketchCols,
          cmDepth, cmWidthLog2, s"multi:${kinds.mkString(",")}",
          sumCols, statsCols).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The persisted parameters of `root`'s committed (or given) version.
    * Fails loudly when the version was not committed via
    * [[commitWithSketches]].
    */
  def meta(root: String, version: Option[Long] = None): Meta = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val p = Paths.get(root, s"v_$v", "_sketches_meta")
    require(Files.exists(p),
      s"v_$v under $root carries no sketch registry — commit it with " +
        "commitWithSketches to enable sketch-pruned lookups")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1).map(_.trim) match {
      case Array(key, s, b, kk, hp) => // pre-CM registry
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt)
      case Array(key, s, b, kk, hp, sc) => // pre-CM registry with sketchCols
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt,
          sc.split(",").filter(_.nonEmpty).toSeq)
      case Array(key, s, b, kk, hp, sc, cd, cw, kt) =>
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt,
          sc.split(",").filter(_.nonEmpty).toSeq, cd.toInt, cw.toInt,
          keyIsString = kt == "string",
          keyKinds =
            if (kt.startsWith("multi:"))
              kt.stripPrefix("multi:").split(",").filter(_.nonEmpty).toSeq
            else Nil)
      case Array(key, s, b, kk, hp, sc, cd, cw, kt, suc) =>
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt,
          sc.split(",").filter(_.nonEmpty).toSeq, cd.toInt, cw.toInt,
          keyIsString = kt == "string",
          keyKinds =
            if (kt.startsWith("multi:"))
              kt.stripPrefix("multi:").split(",").filter(_.nonEmpty).toSeq
            else Nil,
          sumCols = suc.split(",").filter(_.nonEmpty).toSeq)
      // the v2 format: sumCols and statsCols lines always present
      // (possibly empty), then the layout-unit token
      case Array(key, s, b, kk, hp, sc, cd, cw, kt, suc, stc, un)
          if un.startsWith("units:") =>
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt,
          sc.split(",").filter(_.nonEmpty).toSeq, cd.toInt, cw.toInt,
          keyIsString = kt == "string",
          keyKinds =
            if (kt.startsWith("multi:"))
              kt.stripPrefix("multi:").split(",").filter(_.nonEmpty).toSeq
            else Nil,
          sumCols = suc.split(",").filter(_.nonEmpty).toSeq,
          statsCols = stc.split(",").filter(_.nonEmpty).toSeq,
          units = un.stripPrefix("units:"))
      // v3: labelCols/labelMax between statsCols and the unit token
      // (written only when labelCols were declared — v2 stores stay v2)
      case Array(key, s, b, kk, hp, sc, cd, cw, kt, suc, stc, lbc, lbm, un)
          if un.startsWith("units:") =>
        Meta(key, s.toInt, b.toInt, kk.toInt, hp.toInt,
          sc.split(",").filter(_.nonEmpty).toSeq, cd.toInt, cw.toInt,
          keyIsString = kt == "string",
          keyKinds =
            if (kt.startsWith("multi:"))
              kt.stripPrefix("multi:").split(",").filter(_.nonEmpty).toSeq
            else Nil,
          sumCols = suc.split(",").filter(_.nonEmpty).toSeq,
          statsCols = stc.split(",").filter(_.nonEmpty).toSeq,
          units = un.stripPrefix("units:"),
          labelCols = lbc.split(",").filter(_.nonEmpty).toSeq,
          labelMax = lbm.toInt)
      case other => throw new IllegalStateException(
        s"torn _sketches_meta under $root/v_$v: ${other.mkString("|")}")
    }
  }

  /** The registry rows of the committed (or given) version: one row per
    * non-empty shard — (shard, bloom, hll, n_rows).
    */
  def registry(spark: SparkSession, root: String,
               version: Option[Long] = None): DataFrame = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    TableStore.readDir(spark, s"$root/v_$v/_sketches")
  }

  /** Per-shard planning statistics served off the registry ALONE — zero
    * data files touched: (shard, n_rows, ndv_micro[, fmax_est]).
    * `fmax_est` (registries with CM rows only) is the per-shard
    * heavy-key upper bound — MIN over the CM's depth rows of the row's
    * max counter, the [[SketchOps.equiJoinPlan]] skew signal at SHARD
    * granularity: a shard whose fmax_est dwarfs n_rows∕ndv carries a hot
    * key, diagnosed without opening a data file.
    */
  def shardStats(spark: SparkSession, root: String,
                 version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    // pre-CM registries (meta cmDepth == 0) have NO cm column in their
    // _sketches parquet — never select it unconditionally, or old tables
    // lose shardStats to an AnalysisException instead of serving the
    // documented (shard, n_rows, ndv_micro) subset
    val base = registry(spark, root, version).select(col("shard"),
      col("n_rows"), SketchOps.hllEstimate(col("hll"), m.hllP).as("ndv_micro"))
    if (m.cmDepth == 0) base
    else {
      val w = 1 << m.cmWidthLog2
      val rowMaxes = (0 until m.cmDepth).map(i =>
        array_max(slice(col("cm"), i * w + 1, w)))
      registry(spark, root, version).select(col("shard"), col("n_rows"),
        SketchOps.hllEstimate(col("hll"), m.hllP).as("ndv_micro"),
        (if (rowMaxes.length == 1) rowMaxes.head else least(rowMaxes: _*))
          .as("fmax_est"))
    }
  }

  /** The shard directories a lookup of `key` must read: the key's hash
    * shard IF its Bloom row admits the key — empty on a definite miss
    * (the data-skipping decision; false positives at the published rate,
    * never false negatives). Reads ONE registry row, no data files.
    * Integral-keyed tables only; string keys go through
    * [[prunedShardsString]].
    */
  def prunedShards(spark: SparkSession, root: String, key: Long,
                   version: Option[Long] = None): Seq[Int] = {
    val m = meta(root, version)
    require(!m.keyIsString,
      s"'${m.keyCol}' is a STRING key — probe with the string value " +
        "(prunedShardsString / lookupWithSketches(String)); a raw BIGINT " +
        "is not its xxhash64")
    require(!m.isComposite,
      s"'${m.keyCol}' is a COMPOSITE key — probe with all components " +
        "(prunedShardsKeys / lookupWithSketchesKeys); a single BIGINT is " +
        "not the combined xxhash64")
    prunedShardsByHash(spark, root, m, version, key)
  }

  /** [[prunedShards]] for a COMPOSITE-keyed table: the probe's components
    * hash through the SAME pinned combined xxhash64 the commit recorded
    * (kinds from the meta), so write and probe sides can never disagree.
    */
  def prunedShardsKeys(spark: SparkSession, root: String, key: Seq[Any],
                       version: Option[Long] = None): Seq[Int] = {
    val m = meta(root, version)
    require(m.isComposite,
      s"'${m.keyCol}' is not a composite key — probe with the single value")
    prunedShardsByHash(spark, root, m, version, xxhash64Multi(key, m.keyKinds))
  }

  /** [[prunedShards]] for a STRING-keyed table: the probe hashes through
    * the SAME pinned xxhash64 the commit recorded, so write and probe
    * sides can never disagree.
    */
  def prunedShardsString(spark: SparkSession, root: String, key: String,
                         version: Option[Long] = None): Seq[Int] = {
    val m = meta(root, version)
    require(m.keyIsString,
      s"'${m.keyCol}' is not a string key — probe with the integral value" +
        (if (m.isComposite) " tuple (prunedShardsKeys)" else ""))
    prunedShardsByHash(spark, root, m, version, xxhash64String(key))
  }

  private def prunedShardsByHash(spark: SparkSession, root: String, m: Meta,
                                 version: Option[Long], hash: Long): Seq[Int] = {
    val v = TableStore.resolveVersion(root, version)
    val shard = (graft.functions.HashKernels.splitmix64(hash)
      & ((1L << m.shardsLog2) - 1)).toInt
    // the registry rows memoize per immutable version (MetaCache): a
    // point probe is pure driver arithmetic — zero Spark jobs after the
    // version's first planning read
    MetaCache.rows(registry(spark, root, Some(v)), root, v,
        Seq("shard", "bloom"))
      .find(_.getInt(0) == shard) match {
      case None => Nil // the shard holds no rows at all
      case Some(r) =>
        if (MetaCache.bloomAdmits(r.getSeq[Long](1), hash, m.bitsLog2, m.k))
          Seq(shard)
        else Nil
    }
  }

  /** BATCH keyed lookup through the registry — the Bloom-pruned semi-join:
    * result rows are exactly the committed rows whose key appears in
    * `probes` (the plain `IN`-filter semantics, spec- and oracle-pinned —
    * Bloom false positives are eliminated by the final exact equality,
    * false negatives cannot occur), but only the shard directories some
    * probe's Bloom test ADMITS are ever opened. Admission runs
    * distributed ([[SketchOps.bloomMightContain]] against the broadcast
    * registry); only the admitted SHARD IDS are collected (≤
    * 2^shardsLog2 ints — planning metadata, independent of probe count).
    * A probe set that concentrates in a few shards reads a few
    * directories; an all-miss probe set opens zero data files.
    */
  def lookupManyWithSketches(spark: SparkSession, root: String,
                             probes: DataFrame, probeKeyCol: String,
                             version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    require(!m.isComposite,
      s"'${m.keyCol}' is a COMPOSITE key — probe with all components " +
        "(lookupManyWithSketchesKeys)")
    val v = TableStore.resolveVersion(root, version)
    val n = 1 << m.shardsLog2
    // probes carry BOTH the layout hash (shard + Bloom admission) and the
    // ORIGINAL value (the final exact semi-join, which kills Bloom false
    // positives AND — for string keys — xxhash collisions)
    val p = probes.select(col(probeKeyCol).as("__orig")).distinct()
      .withColumn("__k", keyHashExpr(m.keyIsString, col("__orig")))
      .withColumn("shard",
        graft.functions.GraftFunctions.splitmix64(col("__k"))
          .bitwiseAND(lit((n - 1).toLong)).cast("int"))
    val admitted = SketchOps.bloomMightContain(
        broadcast(registry(spark, root, version).select(col("shard"), col("bloom"))),
        p, Seq("shard"), "__k", m.bitsLog2, m.k)
      .filter(col("might_contain")).select(col("__orig"), col("shard"))
    val shards = admitted.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (shards.isEmpty) TableStore.readShards(spark, root, v, Nil)
    else TableStore.readShards(spark, root, v, shards.toIndexedSeq)
      .join(admitted.select(col("__orig")),
        col(m.keyCol) === col("__orig"), "left_semi")
  }

  /** [[lookupManyWithSketches]] for a COMPOSITE-keyed table: probe TUPLES
    * (one column per key component, given in the committed key order)
    * hash through the meta's pinned combined xxhash64 for shard + Bloom
    * admission, and the final exact semi-join compares every ORIGINAL
    * component — Bloom false positives and xxhash collisions cost a
    * read, never a wrong row. Result rows are exactly the committed rows
    * whose key tuple appears in `probes`.
    */
  def lookupManyWithSketchesKeys(spark: SparkSession, root: String,
                                 probes: DataFrame,
                                 probeKeyCols: Seq[String],
                                 version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    require(m.isComposite,
      s"'${m.keyCol}' is not a composite key — probe with lookupManyWithSketches")
    require(probeKeyCols.size == m.keyCols.size,
      s"expected ${m.keyCols.size} probe columns (${m.keyCol}), got " +
        probeKeyCols.mkString(","))
    val v = TableStore.resolveVersion(root, version)
    val n = 1 << m.shardsLog2
    val orig = probeKeyCols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"__orig$i") }
    val hashBasis = m.keyKinds.zipWithIndex.map {
      case ("string", i) => col(s"__orig$i")
      case (_, i)        => LayoutLong.longCol(col(s"__orig$i"))
    }
    val p = probes.select(orig: _*).distinct()
      .withColumn("__k", xxhash64(hashBasis: _*))
      .withColumn("shard",
        graft.functions.GraftFunctions.splitmix64(col("__k"))
          .bitwiseAND(lit((n - 1).toLong)).cast("int"))
    val admitted = SketchOps.bloomMightContain(
        broadcast(registry(spark, root, version).select(col("shard"), col("bloom"))),
        p, Seq("shard"), "__k", m.bitsLog2, m.k)
      .filter(col("might_contain"))
      .select(col("shard") +: m.keyCols.indices.map(i => col(s"__orig$i")): _*)
    val shards = admitted.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (shards.isEmpty) TableStore.readShards(spark, root, v, Nil)
    else {
      val data = TableStore.readShards(spark, root, v, shards.toIndexedSeq)
      val cond = m.keyCols.zipWithIndex
        .map { case (c, i) => data(c) === col(s"__orig$i") }
        .reduce(_ && _)
      data.join(
        admitted.select(m.keyCols.indices.map(i => col(s"__orig$i")): _*),
        cond, "left_semi")
    }
  }

  /** [[TableStore.changeFeed]] restricted to the shard directories that
    * can possibly differ — the number an IVM maintainer pays EVERY tick.
    * The full feed keyed-joins two whole versions; on a sketch-indexed
    * table, maintenance commits carry untouched shards as HARD LINKS, so
    * a shard pair whose parquet file inode sets are identical holds
    * identical bytes and cannot contribute a feed row — and a key's hash
    * pins it to one shard, so rows can never move between shards
    * unnoticed. Only differing shard pairs enter the join; an
    * all-identical pair of versions performs NO data read at all. On
    * filesystems without inode identity a shard falls back to "differs"
    * (a wasted read, never a missed row). Output and semantics are
    * exactly [[TableStore.changeFeed]]'s (spec- and oracle-pinned).
    */
  def changeFeedPruned(spark: SparkSession, root: String,
                       baseVersion: Long, toVersion: Long): DataFrame = {
    val m = meta(root, Some(toVersion))
    meta(root, Some(baseVersion)) // both versions must carry the layout
    changeFeedPrunedByDirs(spark, root, Seq(m.keyCol), baseVersion, toVersion)
  }

  /** [[changeFeedPruned]] for ANY shard-directory layout (hash, range,
    * Z-order) with the id columns given explicitly — the soundness
    * argument never needed the hash pinning: a row that MOVES between
    * shard directories (a Z-order upsert changing its layout values)
    * makes BOTH its old and new directory differ by inode, so both of
    * its images enter the keyed diff; a shard pair with identical
    * parquet inode sets holds identical bytes and cannot contribute a
    * feed row. Output and semantics are exactly
    * [[TableStore.changeFeed]]'s (spec- and oracle-pinned); an
    * all-identical version pair performs NO data read. This is the IVM
    * tick at O(changed cells) on the 2-D and range stores.
    */
  def changeFeedPrunedBy(spark: SparkSession, root: String,
                         idCols: Seq[String],
                         baseVersion: Long, toVersion: Long): DataFrame =
    changeFeedPrunedByDirs(spark, root, idCols, baseVersion, toVersion)

  private def changeFeedPrunedByDirs(spark: SparkSession, root: String,
                                     idCols: Seq[String],
                                     baseVersion: Long,
                                     toVersion: Long): DataFrame = {
    def shardsOf(v: Long): Set[Int] = {
      val d = Paths.get(root, s"v_$v")
      val listing = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("shard="))
          .map(_.getFileName.toString.stripPrefix("shard=").toInt).toSet
      } finally listing.close()
    }
    def fileIds(v: Long, s: Int): Option[Set[Long]] = {
      val d = Paths.get(root, s"v_$v", s"shard=$s")
      if (!Files.isDirectory(d)) Some(Set.empty)
      else try {
        val out = scala.collection.mutable.Set.empty[Long]
        val listing = Files.list(d)
        try listing.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).forEach { f =>
          out += Files.getAttribute(f, "unix:ino").asInstanceOf[Long]
        } finally listing.close()
        Some(out.toSet)
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException |
             _: IllegalArgumentException => None // can't prove identity
      }
    }
    val candidates = (shardsOf(baseVersion) ++ shardsOf(toVersion)).toSeq.sorted
    val differ = candidates.filter { s =>
      (fileIds(baseVersion, s), fileIds(toVersion, s)) match {
        case (Some(a), Some(b)) => a != b
        case _ => true // unknown ⇒ diff it: a wasted read, never a missed row
      }
    }
    def side(v: Long): DataFrame = TableStore.readShards(spark, root, v,
      differ.filter(s => Files.isDirectory(Paths.get(root, s"v_$v", s"shard=$s"))))
    TableStore.changeFeedFrames(side(baseVersion), side(toVersion),
      idCols, baseVersion, toVersion)
  }

  /** The shard pairs an equi-join of two SAME-LAYOUT sketch tables must
    * read: both tables committed with identical (keyCol hash, shardsLog2),
    * so key k lives in shard `splitmix64(k) & mask` on BOTH sides and the
    * join decomposes into per-shard joins. A shard is skipped when either
    * side has no row in it, or when `bloomA & bloomB` has NO bit set —
    * any key present on both sides sets the same `k` positions in both
    * filters (same hash family), so an empty intersection of bitmaps
    * proves an empty intersection of keys. Registry-only; ≤ 2^shardsLog2
    * ids.
    */
  def joinPrunedShards(spark: SparkSession, rootA: String, rootB: String,
                       versionA: Option[Long] = None,
                       versionB: Option[Long] = None): Seq[Int] = {
    val ma = meta(rootA, versionA)
    val mb = meta(rootB, versionB)
    require(ma.shardsLog2 == mb.shardsLog2 &&
        ma.bitsLog2 == mb.bitsLog2 && ma.k == mb.k,
      s"co-located join requires identical layouts: " +
        s"(shardsLog2,bitsLog2,k) = (${ma.shardsLog2},${ma.bitsLog2},${ma.k}) " +
        s"vs (${mb.shardsLog2},${mb.bitsLog2},${mb.k})")
    // the Bloom-AND proof needs both sides to have hashed the SAME key
    // domain: a string-keyed table's xxhash64 words ANDed against an
    // integral-keyed table's raw-value words (or a 2-component combined
    // hash against a 3-component one) would be meaningless admission —
    // shards holding matching keys could be silently dropped
    require(ma.keyKind == mb.keyKind,
      s"co-located join requires the same key kind, got " +
        s"${ma.keyKind}-keyed '$rootA' vs ${mb.keyKind}-keyed '$rootB'")
    val va = TableStore.resolveVersion(rootA, versionA)
    val vb = TableStore.resolveVersion(rootB, versionB)
    // registry rows memoize per immutable version; the word-AND proof is
    // pure driver arithmetic over ≤ 2^shardsLog2 filter pairs
    def words(root: String, v: Long): Map[Int, Array[Long]] =
      MetaCache.rows(registry(spark, root, Some(v)), root, v,
          Seq("shard", "bloom"))
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    val a = words(rootA, va)
    val b = words(rootB, vb)
    a.keySet.intersect(b.keySet).toSeq.filter { s => // both sides non-empty
      val (wa, wb) = (a(s), b(s))
      var i = 0
      var hit = false
      while (i < wa.length && !hit) { hit = (wa(i) & wb(i)) != 0L; i += 1 }
      hit
    }.sorted
  }

  /** Equi-join two sketch tables committed with the SAME key hash layout,
    * reading only [[joinPrunedShards]]-admitted shard directories of
    * EITHER side: result rows are exactly the plain inner join's on the
    * key (Bloom-AND false positives cost a read, never a wrong row;
    * false negatives cannot occur, so no row is lost). Columns: A's,
    * then B's non-key data columns (suffixed `_b` on collision). The
    * shard columns agree by construction and ride once. When the key
    * spaces are disjoint this opens ZERO data files on both sides — the
    * dump-vs-dump join triage; when they overlap partially, only
    * co-populated shards are read.
    */
  def colocatedJoinWithSketches(spark: SparkSession,
                                rootA: String, rootB: String,
                                versionA: Option[Long] = None,
                                versionB: Option[Long] = None): DataFrame = {
    val ma = meta(rootA, versionA)
    val mb = meta(rootB, versionB)
    require(ma.keyCol == mb.keyCol,
      s"co-located join requires the same key column, got " +
        s"'${ma.keyCol}' vs '${mb.keyCol}'")
    val va = TableStore.resolveVersion(rootA, versionA)
    val vb = TableStore.resolveVersion(rootB, versionB)
    val shards = joinPrunedShards(spark, rootA, rootB, Some(va), Some(vb))
    val a = TableStore.readShards(spark, rootA, va, shards)
    val bRaw = TableStore.readShards(spark, rootB, vb, shards).drop("shard")
    val collide = bRaw.columns.filter(c => !ma.keyCols.contains(c) &&
      a.columns.contains(c))
    val b = collide.foldLeft(bRaw)((d, c) => d.withColumnRenamed(c, s"${c}_b"))
    a.join(b, ma.keyCols)
  }

  /** The shard directories an equality probe on SECONDARY column `c`
    * must read: those whose `bloom_<c>` row admits ANY of `values`.
    * Unlike the key path, the hash layout says nothing about where `c`'s
    * values live, so every shard's filter is consulted — but only the
    * REGISTRY is read (admission runs distributed against the broadcast
    * registry; ≤ 2^shardsLog2 ids collect). False positives at the
    * published rate, never false negatives.
    */
  def prunedShardsBy(spark: SparkSession, root: String, c: String,
                     values: Seq[Long],
                     version: Option[Long] = None): Seq[Int] = {
    val m = meta(root, version)
    require(m.sketchCols.contains(c),
      s"'$c' carries no secondary Bloom — commit with sketchCols " +
        s"including it (committed: ${m.sketchCols.mkString(",")})")
    if (values.isEmpty) return Nil
    val v = TableStore.resolveVersion(root, version)
    // literal probe list against registry-sized metadata: admission is
    // pure driver arithmetic over the memoized rows — zero Spark jobs
    MetaCache.admittedShards(registry(spark, root, Some(v)), root, v,
      s"bloom_$c", values, m.bitsLog2, m.k)
  }

  /** Equality `IN`-lookup on a SECONDARY column through its per-shard
    * Bloom index: result rows are exactly
    * `TableStore.read(...).filter(c IN values)`'s (false positives die at
    * the final exact filter, false negatives cannot occur), but only
    * Bloom-admitted shard directories are opened — the selective-probe
    * answer for columns the hash layout scatters, where per-shard
    * min/max zone maps carry no signal at all.
    */
  def lookupBySecondaryIn(spark: SparkSession, root: String, c: String,
                          values: Seq[Long],
                          version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    val v = TableStore.resolveVersion(root, version)
    TableStore.readShards(spark, root, v, prunedShardsBy(spark, root, c, values, Some(v)))
      .filter(LayoutLong.longCol(col(c)).isin(values: _*))
  }

  /** Keyed UPSERT/DELETE against a sketch-indexed table that rewrites and
    * re-sketches ONLY the touched shards — the incremental-maintenance
    * path [[commitWithSketches]] needs at scale, where re-sketching a
    * 100 TB table for a million-row change batch is a full scan for
    * nothing. Touched shards are the hash shards of the changed keys
    * (collected as shard IDS — ≤ 2^shardsLog2 ints, independent of batch
    * size); each one is rebuilt as (old rows minus changed keys) ∪
    * upserts and re-sketched from its new rows alone (deletes force the
    * rebuild — Bloom bits and HLL registers don't subtract — but the
    * shard is being rewritten anyway, so the sketch rides the same pass).
    * Untouched shards are HARD-LINKED file-by-file into the new version
    * (copy fallback), and their registry rows are carried over
    * bit-identically — the commit's cost is proportional to the touched
    * slice plus link metadata, never to table size, while every version
    * remains a complete self-contained directory (time travel and vacuum
    * unchanged; vacuum's deletes only drop link counts).
    *
    * Semantics (spec-pinned): rows whose key appears in `deleteKeys`
    * vanish; rows whose key appears in `upserts` are REPLACED by the
    * upsert rows (insert when absent); all other rows are untouched.
    * `upserts` must carry exactly the table's data columns (everything
    * but `shard`). The commit is CAS-pinned to the version the change
    * was computed against, so a foreign commit fails this one loudly.
    * Returns the new version.
    */
  def applyChangesWithSketches(spark: SparkSession, root: String,
                               upserts: DataFrame, deleteKeys: DataFrame,
                               expectedVersion: Option[Long] = None,
                               filesPerShard: Int = 1): Long = {
    val v = expectedVersion.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = meta(root, Some(v))
    require(m.cmDepth > 0,
      s"$root's registry predates per-shard CM rows — re-commit with the " +
        "current commitWithSketches before applying changes")
    val table = TableStore.readVersion(spark, root, v)
    TableStore.requireSameDataSchema(upserts, table, "upserts")
    val n = 1 << m.shardsLog2
    val kc = m.keyCols
    require(deleteKeys.columns.length == kc.size,
      s"deleteKeys must carry ${kc.size} column(s) for key (${m.keyCol}), " +
        s"got ${deleteKeys.columns.mkString(",")}")
    // the layout hash over renamed probe columns — the same normalization
    // keyHashExprM applies to the table's own key columns
    def hashOf(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      if (m.isComposite)
        xxhash64(cols.zip(m.keyKinds).map {
          case (c, "string") => c
          case (c, _)        => LayoutLong.longCol(c)
        }: _*)
      else keyHashExpr(m.keyIsString, cols.head)
    def shardOf(cols: Seq[org.apache.spark.sql.Column]) =
      graft.functions.GraftFunctions.splitmix64(hashOf(cols))
        .bitwiseAND(lit((n - 1).toLong)).cast("int")
    // persisted for the verb's own lifetime (unpersisted in the finally
    // below — every consumer materializes inside this call): the key set
    // is re-evaluated by the touched-shard collect, the anti-join
    // broadcast under the data write, AND the anti-join under the
    // registry rebuild — without the persist each re-derives it from
    // full scans of the change inputs
    val changedKeys = upserts
      .select(kc.zipWithIndex.map { case (c, i) => col(c).as(s"__k$i") }: _*)
      .union(deleteKeys.select(deleteKeys.columns.toSeq.zipWithIndex
        .map { case (c, i) => col(c).as(s"__k$i") }: _*))
      .distinct().persist()
    val touched = changedKeys
      .select(shardOf(kc.indices.map(i => col(s"__k$i"))).as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) return v // empty change batch: nothing to commit
    val existingDirs = (0 until n).filter(s =>
      Files.isDirectory(Paths.get(root, s"v_$v", s"shard=$s")))
    val oldTouchedDirs = existingDirs.filter(touched.contains)
    val oldTouched = TableStore.readShards(spark, root, v, oldTouchedDirs)
    val antiCond = kc.zipWithIndex
      .map { case (c, i) => col(c) === col(s"__k$i") }.reduce(_ && _)
    val newTouched = oldTouched
      .join(broadcast(changedKeys), antiCond, "left_anti")
      .unionByName(upserts.withColumn("shard", shardOf(kc.map(col))))
      .withColumn("__kh", keyHashExprM(m))
    val oldReg = registry(spark, root, Some(v))
    val carried = oldReg.filter(!col("shard").isin(touched: _*))
    try TableStore.commitStaged(root, Some(v)) { staging =>
      TableStore.writeShards(clusterForWrite(newTouched, col("__kh"), filesPerShard,
        1 << m.shardsLog2).drop("__kh"), staging, table.schema)
      // single-evaluation upsert: the rebuilt touched-shard rows evaluate
      // ONCE (the write — anti-join ∪ batch); their registry aggregates
      // over the staged files read back BEFORE untouched shards link in
      // (readStaged), replacing the r18 persist of the rebuilt frame —
      // at scale the touched slice never pins in the block manager.
      // align to the OLD registry's schema: a pre-auto-count store lacks
      // cnt_<c> for statsCols-only columns, so the rebuilt shard rows drop
      // theirs (the store keeps its format until a re-commit migrates it)
      val written = readStaged(spark, staging, newTouched.drop("__kh"))
        .withColumn("__kh", keyHashExprM(m))
      val touchedRegistry = m.statsCols.filterNot(m.sumCols.contains)
        .filterNot(c => oldReg.columns.contains(s"cnt_$c"))
        .foldLeft(buildRegistryRows(written, "__kh",
          m.bitsLog2, m.k, m.hllP, m.sketchCols, m.cmDepth, m.cmWidthLog2,
          m.sumCols, m.statsCols, m.labelCols, m.labelMax,
          c => labelMeasuresOf(oldReg.schema, c)))((d, c) => d.drop(s"cnt_$c"))
      TableStore.writeDir(carried.unionByName(touchedRegistry).coalesce(1),
        staging.resolve("_sketches"))
      existingDirs.filterNot(touched.contains).foreach { s =>
        val src = Paths.get(root, s"v_$v", s"shard=$s")
        val dst = staging.resolve(s"shard=$s")
        linkShardDir(src, dst)
      }
      Files.copy(Paths.get(root, s"v_$v", "_sketches_meta"),
        staging.resolve("_sketches_meta"))
      carryIfPresent(Paths.get(root, s"v_$v"), staging, "_ingest_progress")
    } finally changedKeys.unpersist(blocking = false)
  }

  /** See [[TableStore.linkDirInto]] — the shared link-only carryover. */
  private def linkShardDir(src: java.nio.file.Path,
                           dst: java.nio.file.Path): Unit =
    TableStore.linkDirInto(src, dst)

  /** Keyed APPEND to a sketch-indexed table with NO rewrite at all — the
    * steady-state ingest shape: Bloom bits OR, HLL registers max, and
    * counts add, so for pure inserts the new registry derives from the
    * OLD REGISTRY plus a sketch of the batch alone (merge is bit-identical
    * to a fresh full build — spec-pinned), every existing data file
    * hard-links into the new version, and the batch's files land beside
    * them. Commit cost is the batch plus link metadata; nothing about the
    * table's size enters. Duplicate keys are NOT detected (append
    * semantics — use [[applyChangesWithSketches]] for upserts).
    */
  def appendWithSketches(spark: SparkSession, root: String, rows: DataFrame,
                         expectedVersion: Option[Long] = None,
                         filesPerShard: Int = 1,
                         stagingExtra: java.nio.file.Path => Unit = _ => ()): Long = {
    val v = expectedVersion.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = meta(root, Some(v))
    require(m.cmDepth > 0,
      s"$root's registry predates per-shard CM rows — re-commit with the " +
        "current commitWithSketches before appending")
    val table = TableStore.readVersion(spark, root, v)
    TableStore.requireSameDataSchema(rows, table, "append rows")
    val n = 1 << m.shardsLog2
    val sharded = rows
      .withColumn("__kh", keyHashExprM(m))
      .withColumn("shard", graft.functions.GraftFunctions.splitmix64(col("__kh"))
        .bitwiseAND(lit((n - 1).toLong)).cast("int"))
    val old = registry(spark, root, Some(v))
    // statsCols non-null counts (cnt_<c>) merge additively like the
    // sumCols counts — but a registry committed BEFORE the auto-count
    // lacks the column, so the batch side drops it and the store keeps
    // its old (proof-free) format until a re-commit migrates it
    val autoCnt = m.statsCols.filterNot(m.sumCols.contains)
    val keptCnt = autoCnt.filter(c => old.columns.contains(s"cnt_$c"))
    TableStore.commitStaged(root, Some(v)) { staging =>
      TableStore.writeShards(clusterForWrite(sharded, col("__kh"), filesPerShard, n)
        .drop("__kh"), staging, table.schema)
      // single-evaluation append: the batch evaluates ONCE (the write);
      // its registry aggregates over the staged files read back BEFORE
      // the old version's files are linked in (readStaged), replacing the
      // r18 persist of the batch frame — nothing is pinned in the block
      // manager and the aggregation reads only the registry's columns
      val written = readStaged(spark, staging, sharded.drop("__kh"))
        .withColumn("__kh", keyHashExprM(m))
      val batchRegistry = autoCnt.filterNot(keptCnt.contains)
        .foldLeft(buildRegistryRows(written, "__kh", m.bitsLog2,
          m.k, m.hllP, m.sketchCols, m.cmDepth, m.cmWidthLog2, m.sumCols,
          m.statsCols, m.labelCols, m.labelMax,
          c => labelMeasuresOf(old.schema, c)))((d, c) => d.drop(s"cnt_$c"))
      val both = old.unionByName(batchRegistry)
      // ONE merge aggregation for every linear/latticed artifact: Bloom bits
      // OR, HLL registers max, CM counters ADD (exact — bit-identical to
      // re-sketching the unioned data), sums and non-null counts add
      // (sum() skips an all-null side correctly), statsCols windows merge
      // by min/min and max/max. The per-artifact merge joins this replaces
      // cost one aggregation subtree + one per-shard join each.
      val mergedBase = both.groupBy(col("shard")).agg(
        mergeOrWords("bloom", m.bitsLog2).as("bloom"),
        (mergeMaxRegisters("hll", m.hllP).as("hll") +:
          mergeAddCells("cm", m.cmDepth * (1 << m.cmWidthLog2)).as("cm") +:
          sum(col("n_rows")).as("n_rows") +:
          (m.sumCols.flatMap(c => Seq(
            sum(col(s"sum_$c")).as(s"sum_$c"),
            sum(col(s"cnt_$c")).as(s"cnt_$c"))) ++
          m.statsCols.flatMap(c => Seq(
            min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"))) ++
          keptCnt.map(c => sum(col(s"cnt_$c")).as(s"cnt_$c")) ++
          m.sketchCols.map(c =>
            mergeOrWords(s"bloom_$c", m.bitsLog2).as(s"bloom_$c")))): _*)
      // label counts (and measure stats) add per label; a bailed side
      // poisons its shard — identical to a fresh full build
      val mergedRegistry = m.labelCols.foldLeft(mergedBase) {
        (acc, c) => acc.join(mergeShardLabels(both, c, m.labelMax),
          Seq("shard"))
      }
      TableStore.writeDir(mergedRegistry.coalesce(1), staging.resolve("_sketches"))
      (0 until n).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$v", d)))
        .foreach(d => linkShardDir(Paths.get(root, s"v_$v", d),
          staging.resolve(d)))
      Files.copy(Paths.get(root, s"v_$v", "_sketches_meta"),
        staging.resolve("_sketches_meta"))
      carryIfPresent(Paths.get(root, s"v_$v"), staging, "_ingest_progress")
      stagingExtra(staging)
    }
  }

  /** Carry an optional underscore-metadata file (e.g. the streaming
    * ingest's `_ingest_progress` marker) from the previous version into
    * the staged one, so maintenance commits never reset it. A later write
    * into the staged copy (via `stagingExtra`) overrides the carried
    * value.
    */
  private[core] def carryIfPresent(prevDir: java.nio.file.Path,
                                   staging: java.nio.file.Path,
                                   name: String): Unit = {
    val p = prevDir.resolve(name)
    if (Files.exists(p))
      Files.copy(p, staging.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Compact a sketch-indexed table after a run of appends: shards whose
    * parquet file count exceeds `maxFilesPerShard` are rewritten down to
    * `filesPerShard` files; every other shard hard-links through. The
    * DATA is unchanged, so the registry carries over bit-identically and
    * no sketch is rebuilt — this is pure layout maintenance, the third
    * verb of the ingest lifecycle (append → compact → vacuum). Returns
    * the new version, or the current one untouched when nothing needs
    * compacting.
    */
  def compactWithSketches(spark: SparkSession, root: String,
                          maxFilesPerShard: Int = 1,
                          filesPerShard: Int = 1): Long = {
    val v = TableStore.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = meta(root, Some(v))
    val n = 1 << m.shardsLog2
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
      TableStore.writeShards(clusterForWrite(fatData, keyHashExprM(m), filesPerShard, n),
        staging, fatData.schema)
      (0 until n).filterNot(fat.contains).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$v", d)))
        .foreach(d => linkShardDir(Paths.get(root, s"v_$v", d),
          staging.resolve(d)))
      // data unchanged ⇒ registry unchanged: carry the rows verbatim
      TableStore.writeDir(registry(spark, root, Some(v)).coalesce(1),
        staging.resolve("_sketches"))
      Files.copy(Paths.get(root, s"v_$v", "_sketches_meta"),
        staging.resolve("_sketches_meta"))
      carryIfPresent(Paths.get(root, s"v_$v"), staging, "_ingest_progress")
    }
  }

  /** [[compactWithSketches]] for range-sharded tables: fold
    * append-accumulated files per shard, keep rows sorted within the
    * rewritten files (row-group stats stay tight), carry the zone map
    * verbatim — the data is unchanged.
    */
  def compactRangeSharded(spark: SparkSession, root: String,
                          maxFilesPerShard: Int = 1,
                          filesPerShard: Int = 1): Long = {
    val v = TableStore.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = rangeMeta(root, Some(v))
    val n = 1 << m.shardsLog2
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
      TableStore.writeShards(
        clusterForWrite(fatData, LayoutLong.longCol(col(m.sortCol)), filesPerShard, n)
          .sortWithinPartitions(col("shard"), col(m.sortCol)),
        staging, fatData.schema)
      (0 until n).filterNot(fat.contains).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$v", d)))
        .foreach(d => linkShardDir(Paths.get(root, s"v_$v", d),
          staging.resolve(d)))
      TableStore.writeDir(zoneMap(spark, root, Some(v)).coalesce(1),
        staging.resolve("_zonemap"))
      Files.copy(Paths.get(root, s"v_$v", "_zonemap_meta"),
        staging.resolve("_zonemap_meta"))
      carryIfPresent(Paths.get(root, s"v_$v"), staging, "_ingest_progress")
    }
  }

  /** Shard-level diff of two committed versions off their REGISTRIES
    * alone — O(2^shardsLog2) rows, zero data files opened: which shards
    * changed, their row-count deltas, and whether their Bloom membership
    * bits moved (an insert-visible signal; pure deletes move counts but
    * may leave bits). The ops probe for "what did that commit touch" —
    * the row-level answer is [[TableStore.changeFeed]], which costs a
    * keyed join over both versions.
    */
  def registryDiff(spark: SparkSession, root: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    val a = registry(spark, root, Some(fromVersion))
      .select(col("shard"), col("bloom").as("__ba"), col("n_rows").as("__na"))
    val b = registry(spark, root, Some(toVersion))
      .select(col("shard"), col("bloom").as("__bb"), col("n_rows").as("__nb"))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("__na"), lit(0L)).as("n_rows_before"),
        coalesce(col("__nb"), lit(0L)).as("n_rows_after"),
        (coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L)))
          .as("row_delta"),
        (!(col("__ba") <=> col("__bb"))).as("bloom_changed"))
      .filter(col("row_delta") =!= 0L || col("bloom_changed"))
  }

  /** Range-layout parameters, persisted beside the data: the sort column,
    * the shard count, the quantile-sketch resolution the bounds were
    * picked at, and the deduped ascending bound values themselves.
    * `sumCols` columns carry per-shard EXACT (sum_<c>, cnt_<c>) rows —
    * sum of the cast-BIGINT non-null values and the non-null count —
    * enabling metadata-only sum/count(c) answering; both merge by
    * addition on append, so they stay exact under the ingest lifecycle.
    */
  final case class RangeMeta(sortCol: String, shardsLog2: Int, subLog2: Int,
                             bounds: Seq[Long], statsCols: Seq[String] = Nil,
                             sketchCols: Seq[String] = Nil,
                             bloomBitsLog2: Int = 14, bloomK: Int = 4,
                             sumCols: Seq[String] = Nil,
                             labelCols: Seq[String] = Nil,
                             labelMax: Int = 32,
                             distinctCols: Seq[String] = Nil,
                             hllP: Int = 12,
                             units: String = "")

  /** RANGE-sharded opt-in commit — the zone-map complement of
    * [[commitWithSketches]]'s hash layout. Hash shards spray key ranges
    * everywhere, so per-shard min/max is useless there; here the layout
    * itself is by value range: shard BOUNDS come from the deterministic
    * [[SketchOps.quantileSketch]] on `sortCol` MIN-SHIFTED (rank picks at
    * i∕2^shardsLog2 over x − min, shifted back and deduped — engine- AND
    * oracle-replayable, unlike a sampled rangepartitioner; the shift
    * matters on absolute domains like epoch timestamps, whose tiny
    * RELATIVE spread would otherwise collapse the log-binned sketch into
    * one bin and the layout into one shard), a row's shard is the count
    * of bounds ≤ its value,
    * and the registry persists one EXACT (shard, min_v, max_v, n_rows)
    * zone-map row per non-empty shard inside the same atomic version
    * commit. A range predicate then opens only the shard directories
    * whose [min_v, max_v] intersects it ([[rangeLookup]]) — the lakehouse
    * file-statistics pattern, done at the engine's own layout layer.
    * `sortCol` must be integral, non-negative, non-null (lengths, token
    * counts, epoch times — the dashboard domain); violations fail loudly.
    * Skew behavior: quantile bounds equalize ROW counts per shard (within
    * sketch resolution), so a hot value range becomes a narrow shard
    * instead of a fat file — the property a fixed-width split lacks.
    */
  def commitRangeSharded(df: DataFrame, root: String, sortCol: String,
                         shardsLog2: Int = 3, subLog2: Int = 5,
                         expectedVersion: Option[Long] = None,
                         filesPerShard: Int = 1,
                         statsCols: Seq[String] = Nil,
                         sketchCols: Seq[String] = Nil,
                         bloomBitsLog2: Int = 14, bloomK: Int = 4,
                         sumCols: Seq[String] = Nil,
                         labelCols: Seq[String] = Nil,
                         labelMax: Int = 32,
                         distinctCols: Seq[String] = Nil,
                         hllP: Int = 12,
                         labelStatsCols: Seq[String] = Nil): Long = {
    require(labelCols.forall(c => df.columns.contains(c) &&
      df.schema(c).dataType == org.apache.spark.sql.types.StringType),
      s"labelCols must be STRING data columns, got " +
        s"${labelCols.mkString(",")} vs ${df.schema.simpleString}")
    require(labelStatsCols.isEmpty || labelCols.nonEmpty,
      "labelStatsCols ride inside labelCols structs — declare labelCols")
    require(labelStatsCols.forall(m => df.columns.contains(m) &&
      !labelCols.contains(m)),
      s"labelStatsCols must be non-label data columns, got " +
        s"${labelStatsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(labelMax >= 1 && labelMax <= 1024,
      s"labelMax must be in [1, 1024], got $labelMax — a per-shard label " +
        "set is driver-plannable metadata, not a dictionary")
    require(distinctCols.forall(df.columns.contains),
      s"distinctCols must be data columns, got " +
        s"${distinctCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(hllP >= 4 && hllP <= 16,
      s"hllP must be in [4, 16], got $hllP — 2^$hllP ints per shard row " +
        "must stay registry-sized")
    require(shardsLog2 >= 0 && shardsLog2 <= 8,
      s"shardsLog2 must be in [0, 8], got $shardsLog2 — 256 range shards " +
        "is already directory-granularity; split WITHIN shards by file size")
    require(statsCols.forall(c => df.columns.contains(c) && c != sortCol),
      s"statsCols must be data columns other than the sort column, got " +
        s"${statsCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(sketchCols.forall(c => df.columns.contains(c) && c != sortCol),
      s"sketchCols must be data columns other than the sort column, got " +
        s"${sketchCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(sumCols.forall(df.columns.contains),
      s"sumCols must be data columns, got " +
        s"${sumCols.mkString(",")} vs ${df.columns.mkString(",")}")
    require(bloomBitsLog2 >= 6 && bloomBitsLog2 <= 24,
      s"bloomBitsLog2 must be in [6, 24], got $bloomBitsLog2 — same " +
        "driver-plannable budget as commitWithSketches' bitsLog2")
    val n = 1 << shardsLog2
    // absolute domains (epoch timestamps) have tiny RELATIVE spread —
    // unshifted, the log-binned sketch collapses them into one bin and
    // every rank pick into one bound, degenerating the layout to a
    // single shard. Sketch the MIN-SHIFTED column and shift the picks
    // back: the persisted bound VALUES absorb the shift, so probes,
    // appends, and zone maps never see it.
    val bounds: Seq[Long] =
      if (n == 1) Nil
      else {
        val mnRow = df.agg(min(LayoutLong.longCol(col(sortCol)))).collect().head
        val mn = if (mnRow.isNullAt(0)) 0L else mnRow.getLong(0)
        // fused one-pass sketch aggregation + driver-side rank picks
        // (bit-identical to the quantileSketch → quantilesFromSketches
        // chain, spec-pinned) — no exploded intermediate, no window job
        val bins = df.agg(graft.functions.SketchAggs.quantile_agg(
            LayoutLong.longCol(col(sortCol)) - mn, subLog2))
          .collect().head.getSeq[Long](0).toArray
        (1 until n)
          .map(i => SketchOps.rankPickFromBins(bins, i, n, subLog2) + mn)
          .distinct.sorted
      }
    val v = LayoutLong.longCol(col(sortCol))
    val sharded = df.withColumn("shard", rangeShardCol(sortCol, bounds))
    TableStore.commitStaged(root, expectedVersion) { staging =>
      // cluster to bound files per shard, then sort WITHIN files by the
      // sort column so parquet row-group min/max stats are tight — engines
      // skip row groups inside a shard on top of the shard-level zone map
      TableStore.writeShards(
        clusterForWrite(sharded, LayoutLong.longCol(col(sortCol)), filesPerShard,
          1 << shardsLog2).sortWithinPartitions(col("shard"), col(sortCol)),
        staging, df.schema)
      // single-evaluation commit: the zone-map stats aggregate over the
      // just-written staged parquet (readStaged), not a second evaluation
      // of the source — with the bounds' two pre-write passes, the input
      // pipeline now evaluates 3x instead of 4x (1x for a single-shard
      // commit, whose bounds are Nil).
      // statsCols windows ship with their exact non-null counts (cnt_<c>,
      // deduped against sumCols') so containment proofs never need a
      // separate sumCols commit of the same column
      // ONE grouped aggregation builds the windows, counts, sums, secondary
      // Blooms AND distinct-HLLs (the join-per-artifact form cost one
      // aggregation subtree + one per-shard join each); labels keep their
      // own two-level aggregation. The final select restores the exact
      // column order the join form wrote (blooms, labels, hlls), so
      // persisted zone maps are byte-compatible across the change.
      val written = readStaged(df.sparkSession, staging, sharded)
      val fused = addShardLabels(
        written.groupBy(col("shard"))
          .agg(min(v).as("min_v"),
            (max(v).as("max_v") +: count(lit(1)).as("n_rows") +:
              (statsCols.flatMap(c => Seq(
                min(LayoutLong.longCol(col(c))).as(s"min_$c"),
                max(LayoutLong.longCol(col(c))).as(s"max_$c"))) ++
              sumCols.flatMap(c => Seq(
                sum(LayoutLong.longCol(col(c))).as(s"sum_$c"),
                count(col(c)).as(s"cnt_$c"))) ++
              statsCols.filterNot(sumCols.contains).map(c =>
                count(col(c)).as(s"cnt_$c")) ++
              sketchCols.map(c => graft.functions.SketchAggs
                .bloom_agg(LayoutLong.longCol(col(c)), bloomBitsLog2, bloomK)
                .as(s"bloom_$c")) ++
              distinctCols.map(c => graft.functions.SketchAggs
                .hll_agg(LayoutLong.longCol(col(c)), hllP)
                .as(s"hll_$c")))): _*),
        written, labelCols, labelMax, _ => labelStatsCols)
      val registry = fused.select(
        (fused.columns.filterNot(c => c.startsWith("labels_") ||
            distinctCols.exists(d => c == s"hll_$d")) ++
          labelCols.map(c => s"labels_$c") ++
          distinctCols.map(c => s"hll_$c")).map(col).toSeq: _*)
      TableStore.writeDir(registry.coalesce(1), staging.resolve("_zonemap"))
      // v3 meta: the v2 lines, then labelCols/labelMax/distinctCols/hllP
      // (always present, possibly empty), then the layout-unit token —
      // see [[hashMetaText]] for the contract
      Files.write(staging.resolve("_zonemap_meta"),
        (s"$sortCol\n$shardsLog2\n$subLog2\n${bounds.mkString(",")}\n${statsCols.mkString(",")}" +
          s"\n${sketchCols.mkString(",")}\n$bloomBitsLog2\n$bloomK" +
          s"\n${sumCols.mkString(",")}\n${labelCols.mkString(",")}\n$labelMax" +
          s"\n${distinctCols.mkString(",")}\n$hllP\nunits:micros")
          .getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Per-group word-OR of Bloom word arrays — [[SketchOps
    * .bloomMergeSketches]]'s exact expression as a single aggregate
    * column, so several artifacts merge in ONE grouped aggregation
    * instead of one join per artifact.
    */
  private[core] def mergeOrWords(c: String, bitsLog2: Int): org.apache.spark.sql.Column =
    aggregate(collect_list(col(c)),
      array_repeat(lit(0L), 1 << (bitsLog2 - 6)),
      (acc, x) => zip_with(acc, x, (a, b) => a.bitwiseOR(b)))

  /** Per-group register max of dense HLL arrays — [[SketchOps
    * .hllMergeSketches]]'s exact expression as a single aggregate column.
    */
  private[core] def mergeMaxRegisters(c: String, p: Int): org.apache.spark.sql.Column =
    aggregate(collect_list(col(c)), array_repeat(lit(0), 1 << p),
      (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b)))

  /** Per-group element-wise sum of dense counter arrays — [[SketchOps
    * .cmMergeSketches]]'s exact expression as a single aggregate column.
    */
  private[core] def mergeAddCells(c: String, len: Int): org.apache.spark.sql.Column =
    aggregate(collect_list(col(c)), array_repeat(lit(0L), len),
      (acc, x) => zip_with(acc, x, (a, b) => a + b))

  /** One `labels_<c>` array column per `labelCols` entry joined onto the
    * per-shard stats rows — the CATEGORICAL-dimension artifact: the
    * shard's DISTINCT values of `c` with their EXACT row counts, one
    * struct (l, c) per value including a null-label entry counting the
    * shard's null rows (SQL GROUP BY makes null its own group), sorted
    * for determinism; the column is NULL (no info — consumers scan) when
    * the shard's distinct non-null labels exceed `labelMax`. Entries
    * partition the shard exactly (Σc = n_rows), so a time×category
    * dashboard (`GROUP BY time-bucket, event_type`) answers each
    * contained shard's per-label counts from metadata alone — no
    * singleton-label requirement.
    */
  private[core] def addShardLabels(stats: DataFrame, sharded: DataFrame,
                                   labelCols: Seq[String],
                                   labelMax: Int,
                                   labelStatsCols: String => Seq[String] =
                                     _ => Nil): DataFrame =
    labelCols.foldLeft(stats) { (acc, c) =>
      val coln = s"labels_$c"
      // per-label MEASURE stats ride inside the struct (fields
      // s_<m>/n_<m>/mn_<m>/mx_<m> — exact per-(shard, label) sum,
      // non-null count, min, max of the measure's LayoutLong): the
      // registry schema itself declares them, so no meta field is
      // needed and readers discover measures from the struct
      val ms = labelStatsCols(c)
      val measureAggs = ms.flatMap(m => Seq(
        sum(LayoutLong.longCol(col(m))).as(s"__s_$m"),
        count(col(m)).as(s"__n_$m"),
        min(LayoutLong.longCol(col(m))).as(s"__mn_$m"),
        max(LayoutLong.longCol(col(m))).as(s"__mx_$m")))
      val entry = struct((col("__l").as("l") +: col("__c").as("c") +:
        ms.flatMap(m => Seq(col(s"__s_$m").as(s"s_$m"),
          col(s"__n_$m").as(s"n_$m"), col(s"__mn_$m").as(s"mn_$m"),
          col(s"__mx_$m").as(s"mx_$m")))): _*)
      val perLabel = sharded
        .select((col("shard") +: col(c).as("__l") +: ms.map(col)): _*)
        .groupBy(col("shard"), col("__l"))
        .agg(count(lit(1)).as("__c"), measureAggs: _*)
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(entry)).as(coln))
        .select(col("shard"),
          when(size(filter(col(coln), e => e.getField("l").isNotNull))
            <= labelMax, col(coln)).as(coln))
      acc.join(perLabel, Seq("shard"), "left")
    }

  /** The measure columns a committed `labels_<c>` struct carries, read
    * off `schema` (the `s_<m>` field names) — the self-describing
    * counterpart of a meta field.
    */
  private[graft] def labelMeasuresOf(schema: org.apache.spark.sql.types.StructType,
                                     c: String): Seq[String] =
    schema.find(_.name == s"labels_$c").toSeq.flatMap(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          st: org.apache.spark.sql.types.StructType, _) =>
        st.fieldNames.toSeq.collect {
          case f if f.startsWith("s_") => f.stripPrefix("s_")
        }
      case _ => Nil
    })

  /** Merge two versions' `labels_<c>` rows per shard: counts add per
    * label (exact — they are plain row counts), a side that bailed (null
    * array) poisons the merge to null, and a merged set past `labelMax`
    * bails the shard too — identical to what a fresh full build would
    * store.
    */
  private[core] def mergeShardLabels(both: DataFrame, c: String,
                                     labelMax: Int): DataFrame = {
    val coln = s"labels_$c"
    // measure fields merge by their own algebra (sum/cnt add, min/max
    // combine) — discovered from the struct schema, so pre-measure and
    // measure-carrying stores both merge to exactly a fresh build's rows
    val ms = labelMeasuresOf(both.schema, c)
    val nf = both.groupBy(col("shard"))
      .agg(max(when(col(coln).isNull, 1).otherwise(0)).as("__nf"))
    val merged = both.filter(col(coln).isNotNull)
      .select(col("shard"), explode(col(coln)).as("__e"))
      .select((col("shard") +: col("__e.l").as("__l") +:
        col("__e.c").as("__c") +: ms.flatMap(m => Seq(
          col(s"__e.s_$m").as(s"__s_$m"), col(s"__e.n_$m").as(s"__n_$m"),
          col(s"__e.mn_$m").as(s"__mn_$m"),
          col(s"__e.mx_$m").as(s"__mx_$m")))): _*)
      .groupBy(col("shard"), col("__l"))
      .agg(sum(col("__c")).as("__c"), ms.flatMap(m => Seq(
        sum(col(s"__s_$m")).as(s"__s_$m"),
        sum(col(s"__n_$m")).as(s"__n_$m"),
        min(col(s"__mn_$m")).as(s"__mn_$m"),
        max(col(s"__mx_$m")).as(s"__mx_$m"))): _*)
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(
        struct((col("__l").as("l") +: col("__c").as("c") +:
          ms.flatMap(m => Seq(col(s"__s_$m").as(s"s_$m"),
            col(s"__n_$m").as(s"n_$m"), col(s"__mn_$m").as(s"mn_$m"),
            col(s"__mx_$m").as(s"mx_$m")))): _*))).as(coln))
    nf.join(merged, Seq("shard"), "left")
      .select(col("shard"),
        when(col("__nf") === 0 &&
          size(filter(col(coln), e => e.getField("l").isNotNull)) <= labelMax,
          col(coln)).as(coln))
  }

  /** shard = count of bounds ≤ value — the replayable range assignment,
    * with the loud non-negative/non-null guard inline.
    */
  private def rangeShardCol(sortCol: String,
                            bounds: Seq[Long]): org.apache.spark.sql.Column = {
    val v = LayoutLong.longCol(col(sortCol))
    val guarded = when(assert_true(v.isNotNull && v >= 0,
      lit(s"range-sharded layout requires non-negative non-null '$sortCol'"))
      .isNull, v)
    (if (bounds.isEmpty) lit(0)
     else aggregate(array(bounds.map(lit): _*), lit(0),
       (acc, b) => acc + when(guarded >= b, 1).otherwise(0))).cast("int")
  }

  /** APPEND to a range-sharded table with NO rewrite: batch rows take
    * their shards from the PERSISTED bounds (values past the last bound
    * land in the top shard — bounds stay fixed on append; re-commit to
    * re-balance after heavy skewed growth), every existing data file
    * hard-links into the new version, the batch's files land beside them,
    * and the zone map updates by pure min/max/count merge of the old
    * registry with the batch's exact stats — still EXACT, no data
    * rescan. Commit cost is the batch plus link metadata.
    */
  def appendRangeSharded(spark: SparkSession, root: String, rows: DataFrame,
                         expectedVersion: Option[Long] = None,
                         filesPerShard: Int = 1,
                         stagingExtra: java.nio.file.Path => Unit = _ => ()): Long = {
    val ver = expectedVersion.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = rangeMeta(root, Some(ver))
    val table = TableStore.readVersion(spark, root, ver)
    TableStore.requireSameDataSchema(rows, table, "append rows")
    val v = LayoutLong.longCol(col(m.sortCol))
    val sharded = rows.withColumn("shard", rangeShardCol(m.sortCol, m.bounds))
    val oldZm = zoneMap(spark, root, Some(ver))
    // statsCols non-null counts merge additively; a zone map committed
    // BEFORE the auto-count lacks the column, so the batch side drops it
    // and the store keeps its old (proof-free) format until re-commit
    val autoCnt = m.statsCols.filterNot(m.sumCols.contains)
    val keptCnt = autoCnt.filter(c => oldZm.columns.contains(s"cnt_$c"))
    val n = 1 << m.shardsLog2
    TableStore.commitStaged(root, Some(ver)) { staging =>
      TableStore.writeShards(
        clusterForWrite(sharded, LayoutLong.longCol(col(m.sortCol)), filesPerShard, n)
          .sortWithinPartitions(col("shard"), col(m.sortCol)),
        staging, table.schema)
      // single-evaluation append: the batch evaluates ONCE (the write);
      // its stats aggregate over the staged files read back BEFORE the old
      // version's files link in (readStaged) — replaces the r18 persist.
      // batch stats in ONE grouped aggregation (blooms + hlls fused beside
      // the windows/counts — the commit-side shape); labels keep their own
      // two-level aggregation, mirroring the OLD struct schema exactly so
      // unionByName lines up and the merge equals a fresh full build
      val written = readStaged(spark, staging, sharded)
      val batchStats = autoCnt.filterNot(keptCnt.contains)
        .foldLeft(addShardLabels(
          written.groupBy(col("shard"))
            .agg(min(v).as("min_v"),
              (max(v).as("max_v") +: count(lit(1)).as("n_rows") +:
                (m.statsCols.flatMap(c => Seq(
                  min(LayoutLong.longCol(col(c))).as(s"min_$c"),
                  max(LayoutLong.longCol(col(c))).as(s"max_$c"))) ++
                m.sumCols.flatMap(c => Seq(
                  sum(LayoutLong.longCol(col(c))).as(s"sum_$c"),
                  count(col(c)).as(s"cnt_$c"))) ++
                autoCnt.map(c => count(col(c)).as(s"cnt_$c")) ++
                m.sketchCols.map(c => graft.functions.SketchAggs
                  .bloom_agg(LayoutLong.longCol(col(c)), m.bloomBitsLog2,
                    m.bloomK).as(s"bloom_$c")) ++
                m.distinctCols.map(c => graft.functions.SketchAggs
                  .hll_agg(LayoutLong.longCol(col(c)), m.hllP)
                  .as(s"hll_$c")))): _*),
          written, m.labelCols, m.labelMax,
          c => labelMeasuresOf(oldZm.schema, c)))(
          (d, c) => d.drop(s"cnt_$c"))
      val both = oldZm.unionByName(batchStats)
      // ONE merge aggregation: sums and non-null counts are LINEAR (addition
      // merges them exactly; sum() skips a side's null — an all-null shard —
      // correctly), windows merge by min/min + max/max, secondary Blooms by
      // word-OR and distinct-HLLs by register max (the same zip_with
      // expressions SketchOps' per-sketch mergers run, fused into one pass
      // instead of one join per artifact) — all bit-identical to a fresh
      // full build
      val mergedBase = both
        .groupBy(col("shard"))
        .agg(min(col("min_v")).as("min_v"),
          (max(col("max_v")).as("max_v") +: sum(col("n_rows")).as("n_rows") +:
            (m.statsCols.flatMap(c => Seq(
              min(col(s"min_$c")).as(s"min_$c"),
              max(col(s"max_$c")).as(s"max_$c"))) ++
            m.sumCols.flatMap(c => Seq(
              sum(col(s"sum_$c")).as(s"sum_$c"),
              sum(col(s"cnt_$c")).as(s"cnt_$c"))) ++
            keptCnt.map(c => sum(col(s"cnt_$c")).as(s"cnt_$c")) ++
            m.sketchCols.map(c =>
              mergeOrWords(s"bloom_$c", m.bloomBitsLog2).as(s"bloom_$c")) ++
            m.distinctCols.map(c =>
              mergeMaxRegisters(s"hll_$c", m.hllP).as(s"hll_$c")))): _*)
      // label counts add per label (null = bailed poisons)
      val mergedWithLabels = m.labelCols.foldLeft(mergedBase) { (acc, c) =>
        acc.join(mergeShardLabels(both, c, m.labelMax), Seq("shard"))
      }
      // restore the exact column order the join form wrote (labels between
      // blooms and hlls), so persisted zone maps stay byte-compatible
      val mergedZoneMap = mergedWithLabels.select(
        (mergedWithLabels.columns.filterNot(c => c.startsWith("labels_") ||
            m.distinctCols.exists(d => c == s"hll_$d")) ++
          m.labelCols.map(c => s"labels_$c") ++
          m.distinctCols.map(c => s"hll_$c")).map(col).toSeq: _*)
      TableStore.writeDir(mergedZoneMap.coalesce(1), staging.resolve("_zonemap"))
      (0 until n).map(s => s"shard=$s")
        .filter(d => Files.isDirectory(Paths.get(root, s"v_$ver", d)))
        .foreach(d => linkShardDir(Paths.get(root, s"v_$ver", d),
          staging.resolve(d)))
      Files.copy(Paths.get(root, s"v_$ver", "_zonemap_meta"),
        staging.resolve("_zonemap_meta"))
      carryIfPresent(Paths.get(root, s"v_$ver"), staging, "_ingest_progress")
      stagingExtra(staging)
    }
  }

  /** The persisted range-layout parameters of `root`'s committed (or
    * given) version. Fails loudly when the version was not committed via
    * [[commitRangeSharded]].
    */
  def rangeMeta(root: String, version: Option[Long] = None): RangeMeta = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val p = Paths.get(root, s"v_$v", "_zonemap_meta")
    require(Files.exists(p),
      s"v_$v under $root carries no zone map — commit it with " +
        "commitRangeSharded to enable range-pruned reads")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1) match {
      case Array(sc, s, sl, bs) => RangeMeta(sc, s.toInt, sl.toInt,
        bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
      case Array(sc, s, sl, bs, stc) => RangeMeta(sc, s.toInt, sl.toInt,
        bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
        stc.split(",").filter(_.nonEmpty).toSeq)
      case Array(sc, s, sl, bs, stc, skc, bb, bk) => RangeMeta(sc, s.toInt,
        sl.toInt, bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
        stc.split(",").filter(_.nonEmpty).toSeq,
        skc.split(",").filter(_.nonEmpty).toSeq, bb.toInt, bk.toInt)
      case Array(sc, s, sl, bs, stc, skc, bb, bk, suc) => RangeMeta(sc,
        s.toInt, sl.toInt,
        bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
        stc.split(",").filter(_.nonEmpty).toSeq,
        skc.split(",").filter(_.nonEmpty).toSeq, bb.toInt, bk.toInt,
        suc.split(",").filter(_.nonEmpty).toSeq)
      case Array(sc, s, sl, bs, stc, skc, bb, bk, suc, un)
          if un.startsWith("units:") => RangeMeta(sc,
        s.toInt, sl.toInt,
        bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
        stc.split(",").filter(_.nonEmpty).toSeq,
        skc.split(",").filter(_.nonEmpty).toSeq, bb.toInt, bk.toInt,
        suc.split(",").filter(_.nonEmpty).toSeq,
        units = un.stripPrefix("units:"))
      // v3: labelCols/labelMax/distinctCols/hllP between sumCols and the
      // unit token
      case Array(sc, s, sl, bs, stc, skc, bb, bk, suc, lbc, lbm, dcc, hp, un)
          if un.startsWith("units:") => RangeMeta(sc,
        s.toInt, sl.toInt,
        bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
        stc.split(",").filter(_.nonEmpty).toSeq,
        skc.split(",").filter(_.nonEmpty).toSeq, bb.toInt, bk.toInt,
        suc.split(",").filter(_.nonEmpty).toSeq,
        lbc.split(",").filter(_.nonEmpty).toSeq, lbm.toInt,
        dcc.split(",").filter(_.nonEmpty).toSeq, hp.toInt,
        units = un.stripPrefix("units:"))
      case other => throw new IllegalStateException(
        s"torn _zonemap_meta under $root/v_$v: ${other.mkString("|")}")
    }
  }

  /** The exact per-shard zone-map rows of the committed (or given)
    * version: (shard, min_v, max_v, n_rows), one row per non-empty shard —
    * planning statistics AND pruning authority, zero data files touched.
    */
  def zoneMap(spark: SparkSession, root: String,
              version: Option[Long] = None): DataFrame = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    rangeMeta(root, Some(v)) // loud guard: range layout required
    TableStore.readDir(spark, s"$root/v_$v/_zonemap")
  }

  /** The shard directories a `[lo, hi]` range read must open: those whose
    * exact [min_v, max_v] intersects the window — zone maps are exact, so
    * this prune has NO false positives or negatives at shard granularity.
    * Reads the registry only.
    */
  def prunedRangeShards(spark: SparkSession, root: String, lo: Long, hi: Long,
                        version: Option[Long] = None): Seq[Int] = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    // window intersection over the memoized zone-map rows — pure driver
    // arithmetic, zero Spark jobs after the version's first planning read
    MetaCache.rows(zoneMap(spark, root, Some(v)), root, v,
        Seq("shard", "min_v", "max_v"))
      .collect { case r if r.getLong(2) >= lo && r.getLong(1) <= hi =>
        r.getInt(0) }.toSeq.sorted
  }

  /** Range read through the zone map: result rows are exactly
    * `TableStore.read(...).filter(sortCol BETWEEN lo AND hi)`'s
    * (spec- and oracle-pinned), but only intersecting shard directories
    * are ever opened — an empty intersection opens ZERO data files.
    */
  def rangeLookup(spark: SparkSession, root: String, lo: Long, hi: Long,
                  version: Option[Long] = None): DataFrame = {
    val m = rangeMeta(root, version)
    val v = TableStore.resolveVersion(root, version)
    val between = LayoutLong.longCol(col(m.sortCol)).between(lo, hi)
    TableStore.readShards(spark, root, v, prunedRangeShards(spark, root, lo, hi, Some(v)))
      .filter(between)
  }

  /** Range read on a SECONDARY stats column `c`: only shards whose exact
    * [min_c, max_c] intersects `[lo, hi]` are opened; result rows are
    * exactly the plain BETWEEN filter's. This prunes when `c` correlates
    * with the layout's sort column (event ids vs event time, version
    * counters vs commit time — the classic zone-map win on naturally
    * co-sorted columns); on an uncorrelated column every rectangle spans
    * the window and the read degrades to a full scan, never to a wrong
    * answer. Shards whose `c` values are all null carry null stats and
    * are kept (no information ⇒ must read).
    */
  def rangeLookupOn(spark: SparkSession, root: String, c: String,
                    lo: Long, hi: Long,
                    version: Option[Long] = None): DataFrame = {
    val m = rangeMeta(root, version)
    require(m.statsCols.contains(c),
      s"'$c' carries no zone-map stats — commit with statsCols " +
        s"including it (committed: ${m.statsCols.mkString(",")})")
    val v = TableStore.resolveVersion(root, version)
    val shards = MetaCache.rows(zoneMap(spark, root, Some(v)), root, v,
        Seq("shard", s"min_$c", s"max_$c"))
      .collect { case r if r.isNullAt(1) ||
          (r.getLong(2) >= lo && r.getLong(1) <= hi) => r.getInt(0) }
      .toSeq.sorted
    TableStore.readShards(spark, root, v, shards)
      .filter(LayoutLong.longCol(col(c)).between(lo, hi))
  }

  /** The shard subsets a sort-column equi-join of two RANGE-sharded
    * tables must read, off the two ZONE MAPS alone: a shard of one side
    * can contribute a joined row only if its exact [min_v, max_v] window
    * intersects SOME shard window of the other side (equal values lie in
    * both windows) — window lists may have gaps, so each shard checks
    * against the other side's LIST, not its global span. Zone maps are
    * exact, so the prune has no false negatives; ≤ 2^shardsLog2 windows
    * per side compare driver-side (≤ 256×256 at the layout cap). Unlike
    * the hash layout's Bloom-AND ([[joinPrunedShards]]), the two layouts
    * need NOT share bounds — intersection is on raw value windows.
    */
  def rangeColocatedShards(spark: SparkSession, rootA: String, rootB: String,
                           versionA: Option[Long] = None,
                           versionB: Option[Long] = None): (Seq[Int], Seq[Int]) = {
    def windows(root: String, version: Option[Long]): Seq[(Int, Long, Long)] = {
      val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      MetaCache.rows(zoneMap(spark, root, Some(v)), root, v,
          Seq("shard", "min_v", "max_v"))
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val wa = windows(rootA, versionA)
    val wb = windows(rootB, versionB)
    def keep(self: Seq[(Int, Long, Long)],
             other: Seq[(Int, Long, Long)]): Seq[Int] =
      self.filter { case (_, lo, hi) =>
        other.exists { case (_, olo, ohi) => hi >= olo && lo <= ohi }
      }.map(_._1).sorted
    (keep(wa, wb), keep(wb, wa))
  }

  /** Equi-join two RANGE-sharded tables on their shared sort column,
    * reading only [[rangeColocatedShards]]-admitted shard directories of
    * either side — the time-series enrichment join (events laid out by
    * time joined to an enrichment table laid out by time): result rows
    * are exactly the plain inner join's on the sort column (zone maps
    * are exact — a pruned shard provably holds no matching value; a kept
    * shard costs a read, never a wrong row). Columns: A's, then B's
    * non-sort data columns (suffixed `_b` on collision; B's shard
    * column — a DIFFERENT layout's artifact — drops). When the two
    * tables' value spans are disjoint this opens ZERO data files on both
    * sides; a narrow enrichment table opens only the fact shards its
    * window touches.
    */
  def colocatedRangeJoin(spark: SparkSession, rootA: String, rootB: String,
                         versionA: Option[Long] = None,
                         versionB: Option[Long] = None): DataFrame = {
    val ma = rangeMeta(rootA, versionA)
    val mb = rangeMeta(rootB, versionB)
    require(ma.sortCol == mb.sortCol,
      s"co-located range join requires the same sort column, got " +
        s"'${ma.sortCol}' vs '${mb.sortCol}'")
    val va = TableStore.resolveVersion(rootA, versionA)
    val vb = TableStore.resolveVersion(rootB, versionB)
    val (sa, sb) = rangeColocatedShards(spark, rootA, rootB, Some(va), Some(vb))
    val a = TableStore.readShards(spark, rootA, va, sa)
    val bRaw = TableStore.readShards(spark, rootB, vb, sb).drop("shard")
    val collide = bRaw.columns.filter(c => c != ma.sortCol &&
      a.columns.contains(c))
    val b = collide.foldLeft(bRaw)((d, c) => d.withColumnRenamed(c, s"${c}_b"))
    a.join(b, Seq(ma.sortCol))
  }

  /** Shard-level diff of two RANGE-sharded versions off their ZONE MAPS
    * alone — O(2^shardsLog2) rows, zero data files opened: which shards
    * changed, exact row deltas, and whether the shard's value rectangle
    * EXTENDED (an append-visible signal; rewrites inside the old range
    * move counts but not bounds). The [[registryDiff]] complement for the
    * range layout — the ops probe for "what did that commit touch".
    */
  def zoneMapDiff(spark: SparkSession, root: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    rangeMeta(root, Some(fromVersion)) // both versions must carry the layout
    rangeMeta(root, Some(toVersion))
    val a = zoneMap(spark, root, Some(fromVersion))
      .select(col("shard"), col("n_rows").as("__na"),
        col("min_v").as("__mina"), col("max_v").as("__maxa"))
    val b = zoneMap(spark, root, Some(toVersion))
      .select(col("shard"), col("n_rows").as("__nb"),
        col("min_v").as("__minb"), col("max_v").as("__maxb"))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("__na"), lit(0L)).as("n_rows_before"),
        coalesce(col("__nb"), lit(0L)).as("n_rows_after"),
        (coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L)))
          .as("row_delta"),
        coalesce(col("__na").isNull && col("__nb").isNotNull ||
          col("__minb") < col("__mina") || col("__maxb") > col("__maxa"),
          lit(false)).as("range_extended"))
      .filter(col("row_delta") =!= 0L || col("range_extended"))
  }

  /** Equality `IN`-lookup on a Bloom-indexed column of a RANGE-sharded
    * table: the layout clusters by the sort column, so a scattered
    * column's min/max spans everything — but its per-shard `bloom_<c>`
    * zone-map rows still prune. Admission runs distributed against the
    * broadcast zone map (registry-only); admitted shard dirs are opened
    * and the exact IN filter kills Bloom false positives — result rows
    * are exactly the plain IN's (the events-by-time table probed by
    * user id, the canonical shape).
    */
  def rangeLookupBy(spark: SparkSession, root: String, c: String,
                    values: Seq[Long],
                    version: Option[Long] = None): DataFrame = {
    val m = rangeMeta(root, version)
    require(m.sketchCols.contains(c),
      s"'$c' carries no zone-map Bloom — commit with sketchCols " +
        s"including it (committed: ${m.sketchCols.mkString(",")})")
    val v = TableStore.resolveVersion(root, version)
    if (values.isEmpty)
      return TableStore.readVersion(spark, root, v).filter(lit(false))
    // literal probe list against registry-sized metadata: admission is
    // pure driver arithmetic over the memoized rows — zero Spark jobs
    val shards = MetaCache.admittedShards(zoneMap(spark, root, Some(v)),
      root, v, s"bloom_$c", values, m.bloomBitsLog2, m.bloomK)
    TableStore.readShards(spark, root, v, shards)
      .filter(LayoutLong.longCol(col(c)).isin(values: _*))
  }

  /** Point-FREQUENCY estimates for probe keys off the registry ALONE —
    * the third consumer of the per-shard CM rows (after
    * [[graft.operators.SketchOps.equiJoinPlanFromRegistry]] and
    * [[shardStats]]'s fmax): the per-shard sketches merge by addition
    * into the table's global CM (bit-identical to sketching the rows),
    * and each probe reads its min-over-rows counter — an overestimate by
    * at most εN, zero data files touched. The triage for "how hot are
    * these suspect keys" (boilerplate doc ids, null-ish defaults, hot
    * users) before paying an exact count. Probes hash through the meta's
    * pinned key derivation, so integral and string keys both work.
    * Output: probes' columns + `est`.
    */
  def keyFrequencyEstimates(spark: SparkSession, root: String,
                            probes: DataFrame, probeKeyCol: String,
                            version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    require(m.cmDepth > 0,
      s"$root's registry predates per-shard CM rows — re-commit with the " +
        "current commitWithSketches to enable frequency estimates")
    require(!m.isComposite,
      s"'${m.keyCol}' is a COMPOSITE key — single-column probes cannot " +
        "hash the combined key; probe with keyFrequencyEstimatesKeys")
    val merged = SketchOps.cmMergeSketches(
      registry(spark, root, version).select(col("cm")), Nil, "cm",
      m.cmDepth, m.cmWidthLog2)
    val p = probes.withColumn("__k",
      keyHashExpr(m.keyIsString, col(probeKeyCol)))
    SketchOps.cmEstimate(merged, p, Nil, "__k", m.cmDepth, m.cmWidthLog2)
      .drop("__k")
  }

  /** Table-level planning statistics off the COMMITTED METADATA alone —
    * zero data files opened, the Delta/Iceberg manifest-stats verb at the
    * engine's layout layer: exact total row count (per-shard `n_rows` is
    * exact on every layout and maintained by every verb), shard count,
    * and — where the layout carries EXACT zone-map stats — per-column
    * exact min/max: the range layout's sort column and `statsCols`, the
    * Z-order layout's two interleaved columns. Output one row per covered
    * column as (layout, n_rows, n_shards, column, min_v, max_v); the hash
    * layout (Blooms carry membership, not order) emits a single row with
    * a null column. An all-null stats column reports null min/max — also
    * exact. The transparent complement is [[graft.MetadataAggCollapse]],
    * which serves unfiltered `count(*)`/`min`/`max` SQL over a
    * `readIndexed` relation from the same numbers.
    */
  def tableStats(spark: SparkSession, root: String,
                 version: Option[Long] = None): DataFrame = {
    val v = version.orElse(TableStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val hash = try Some(meta(root, Some(v)))
      catch { case _: IllegalArgumentException => None }
    val range = if (hash.isDefined) None
      else try Some(rangeMeta(root, Some(v)))
      catch { case _: IllegalArgumentException => None }
    import spark.implicits._
    def fromZoneMap(layout: String, zm: DataFrame,
                    cols: Seq[(String, String, String)]): DataFrame = {
      val rows = zm.collect()
      val n = rows.iterator.map(r => r.getLong(r.fieldIndex("n_rows"))).sum
      val shards = rows.length
      def nonNull(field: String): Seq[Long] = rows.toSeq.flatMap { r =>
        val i = r.fieldIndex(field)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      cols.map { case (c, lo, hi) =>
        (layout, n, shards, Option(c), nonNull(lo).minOption, nonNull(hi).maxOption)
      }.toDF("layout", "n_rows", "n_shards", "column", "min_v", "max_v")
    }
    (hash, range) match {
      case (Some(_), _) =>
        val rows = registry(spark, root, Some(v))
          .select(col("shard"), col("n_rows")).collect()
        Seq(("hash", rows.iterator.map(_.getLong(1)).sum, rows.length,
          Option.empty[String], Option.empty[Long], Option.empty[Long]))
          .toDF("layout", "n_rows", "n_shards", "column", "min_v", "max_v")
      case (None, Some(m)) =>
        fromZoneMap("range", zoneMap(spark, root, Some(v)),
          (m.sortCol, "min_v", "max_v") +:
            m.statsCols.map(c => (c, s"min_$c", s"max_$c")))
      case (None, None) =>
        val m = ZOrderStore.zMeta(root, Some(v)) // loud last guard
        fromZoneMap("zorder", ZOrderStore.zoneMap2d(spark, root, Some(v)),
          Seq((m.colA, "min_a", "max_a"), (m.colB, "min_b", "max_b")))
    }
  }

  /** [[keyFrequencyEstimates]] for a COMPOSITE-keyed table: probe tuples
    * hash through the pinned combined xxhash64 before the merged-CM read.
    */
  def keyFrequencyEstimatesKeys(spark: SparkSession, root: String,
                                probes: DataFrame,
                                probeKeyCols: Seq[String],
                                version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    require(m.cmDepth > 0,
      s"$root's registry predates per-shard CM rows — re-commit to enable " +
        "frequency estimates")
    require(m.isComposite,
      s"'${m.keyCol}' is not a composite key — probe with keyFrequencyEstimates")
    require(probeKeyCols.size == m.keyCols.size,
      s"expected ${m.keyCols.size} probe columns (${m.keyCol}), got " +
        probeKeyCols.mkString(","))
    val merged = SketchOps.cmMergeSketches(
      registry(spark, root, version).select(col("cm")), Nil, "cm",
      m.cmDepth, m.cmWidthLog2)
    val p = probes.withColumn("__k",
      xxhash64(probeKeyCols.zip(m.keyKinds).map {
        case (c, "string") => col(c)
        case (c, _)        => LayoutLong.longCol(col(c))
      }: _*))
    SketchOps.cmEstimate(merged, p, Nil, "__k", m.cmDepth, m.cmWidthLog2)
      .drop("__k")
  }

  /** Keyed point lookup through the registry: a Bloom miss returns the
    * empty result WITHOUT opening any data file (the plan collapses to an
    * empty LocalRelation); a hit reads exactly one shard directory of
    * 2^shardsLog2. Result rows are exactly
    * `TableStore.read(...).filter(keyCol === key)`'s (spec-pinned).
    */
  def lookupWithSketches(spark: SparkSession, root: String, key: Long,
                         version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    val v = TableStore.resolveVersion(root, version)
    // a Bloom miss reads no shard: schema only, an empty relation
    TableStore.readShards(spark, root, v, prunedShards(spark, root, key, version))
      .filter(col(m.keyCol) === key)
  }

  /** [[lookupWithSketches]] for a STRING-keyed table (URL- or doc-id-keyed
    * corpora — the shape real corpus stores have): the probe hashes
    * through the meta's pinned xxhash64 for shard + Bloom admission, and
    * the final filter compares the ORIGINAL string, so a Bloom false
    * positive or an xxhash collision costs a read, never a wrong row.
    * Result rows are exactly `TableStore.read(...).filter(keyCol === key)`'s
    * (spec- and oracle-pinned).
    */
  def lookupWithSketchesString(spark: SparkSession, root: String, key: String,
                               version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    val v = TableStore.resolveVersion(root, version)
    // a Bloom miss reads no shard: schema only, an empty relation
    TableStore.readShards(spark, root, v, prunedShardsString(spark, root, key, version))
      .filter(col(m.keyCol) === key)
  }

  /** [[lookupWithSketches]] for a COMPOSITE-keyed table (the session
    * store's (session_id, seq), lineitem's (l_orderkey, l_linenumber)):
    * components hash through the meta's pinned combined xxhash64 for
    * shard + Bloom admission, the final filter compares every ORIGINAL
    * component — a Bloom false positive or an xxhash collision costs a
    * read, never a wrong row. Result rows are exactly the plain
    * all-components equality filter's (spec- and oracle-pinned).
    */
  def lookupWithSketchesKeys(spark: SparkSession, root: String, key: Seq[Any],
                             version: Option[Long] = None): DataFrame = {
    val m = meta(root, version)
    val v = TableStore.resolveVersion(root, version)
    TableStore.readShards(spark, root, v, prunedShardsKeys(spark, root, key, version))
      .filter(m.keyCols.zip(key)
        .map { case (c, kv) => col(c) === lit(kv) }.reduce(_ && _))
  }
}
