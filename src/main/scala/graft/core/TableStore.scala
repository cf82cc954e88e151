package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Minimal transactional table layer: versioned parquet directories behind an
  * atomically swapped pointer file — the "small copy-on-write table layer"
  * SURVEY §7.4 risk 3 calls for where Delta/Iceberg isn't available. The
  * reference's stores are durable and mutable (pkg/memory/sqlite.go:28-114
  * WAL); here mutation is rewrite-on-MERGE: transforms produce a new table
  * state, `commit` lands it as `v_<n+1>/`, and readers always resolve through
  * `_CURRENT`, so they see either the old version or the new one, never a
  * half-written directory.
  *
  * Layout: `<root>/v_<n>/` (parquet, plus `v_<n>/_schema`, the version's
  * pinned schema), `<root>/_CURRENT` (contains `v_<n>`).
  * The pointer swap is a same-directory ATOMIC_MOVE — atomic on POSIX
  * filesystems and on HDFS-style object stores with a rename primitive.
  *
  * Concurrency model: single writer, many readers (the reference's SQLite
  * WAL posture). `commit` takes an optional `expectedVersion` for optimistic
  * concurrency: a stale writer fails instead of clobbering. Old versions
  * stay readable until `vacuum`.
  *
  * Scale: versions are plain parquet directories — partition/bucket the
  * DataFrame before committing and the layout carries through; the swap
  * itself is O(1) metadata regardless of table size.
  */
object TableStore {

  private def currentPtr(root: String): Path = Paths.get(root, "_CURRENT")

  private def lockDir(root: String): Path = Paths.get(root, "_commit.lock")

  /** Acquire the commit/vacuum exclusion lock: an atomically-created
    * directory holding an `owner` token file. The lock brackets only the
    * rename→pointer-swap critical section (metadata-only, ~ms) — the slow
    * parquet staging write happens before acquisition, so writer
    * concurrency is unaffected. A lock whose mtime is older than `staleMs`
    * is presumed crashed and broken; the previous owner's pre-swap token
    * check ([[holdsLock]]) then turns its eventual wake-up into a loud
    * failure instead of a pointer swap onto vacuumed files.
    */
  private def acquireLock(root: String, staleMs: Long, waitMs: Long): String = {
    val token = java.util.UUID.randomUUID().toString
    val dir = lockDir(root)
    val deadline = System.currentTimeMillis() + waitMs
    while (true) {
      try {
        Files.createDirectory(dir)
        Files.write(dir.resolve("owner"), token.getBytes(StandardCharsets.UTF_8))
        return token
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (!breakStaleLock(root, staleMs)) {
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"timed out after ${waitMs}ms acquiring commit lock under $root " +
                  "(another writer mid-commit, or a stale lock younger than lockStaleMs)")
            else Thread.sleep(20L)
          }
      }
    }
    token // unreachable
  }

  /** Break a presumed-stale lock ATOMICALLY: the stale directory is renamed
    * to a unique tombstone — only one breaker's rename can succeed, where a
    * plain check-then-delete lets two concurrent breakers race and the
    * second delete a FIRST breaker's freshly re-acquired lock. The
    * tombstone's owner token is then verified against the token read when
    * staleness was judged: a mismatch means the rename swept a newer
    * writer's fresh lock (broken and retaken inside our check→rename
    * window), which is moved straight back. Returns true when a stale lock
    * was actually cleared.
    */
  private def breakStaleLock(root: String, staleMs: Long): Boolean = {
    val dir = lockDir(root)
    val ownerSnap =
      try new String(Files.readAllBytes(dir.resolve("owner")), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => return false } // gone, or holder mid-create
    val f = dir.toFile
    if (!f.exists() || System.currentTimeMillis() - f.lastModified() <= staleMs)
      return false
    val tomb = Paths.get(root, s"_lockbreak_${java.util.UUID.randomUUID()}")
    try Files.move(dir, tomb)
    catch { case _: java.io.IOException => return false } // another breaker won the rename
    val ownerNow =
      try new String(Files.readAllBytes(tomb.resolve("owner")), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    if (ownerNow == ownerSnap) { rmTree(tomb.toFile); true }
    else {
      // Swept a fresh lock re-acquired inside our window — restore it. If the
      // path was retaken in the meantime the restore fails and the tombstone
      // is dropped (that third writer's pre-swap holdsLock check still holds).
      try { Files.move(tomb, dir); false }
      catch { case _: java.io.IOException => rmTree(tomb.toFile); false }
    }
  }

  private[core] def holdsLock(root: String, token: String): Boolean = {
    val owner = lockDir(root).resolve("owner")
    try Files.exists(owner) &&
      new String(Files.readAllBytes(owner), StandardCharsets.UTF_8) == token
    catch { case _: java.io.IOException => false }
  }

  private def releaseLock(root: String, token: String): Unit =
    if (holdsLock(root, token)) rmTree(lockDir(root).toFile)

  /** True when `t` is one of [[commit]]'s optimistic-concurrency / lock
    * arbitration failures — "another writer interfered; re-read and
    * retry". The messages are produced by this object, so the match is
    * owned by the same module. Maintainer loops ([[graft.streaming
    * .IvmStream.ivmBatch]]) treat these as benign: the loser's next tick
    * re-reads the committed state and no-ops, which is exactly the CAS
    * contract — correctness was never at risk, only this writer's turn.
    */
  def isCommitConflict(t: Throwable): Boolean = t match {
    case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
      val m = Option(e.getMessage).getOrElse("")
      m.contains("stale write") || m.contains("concurrent commit") ||
        m.contains("commit lock was broken") ||
        (m.contains("timed out") && m.contains("commit lock"))
    case _ => false
  }

  /** The committed version number, if the table exists. */
  def currentVersion(root: String): Option[Long] = {
    val p = currentPtr(root)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
      .stripPrefix("v_").toLong)
  }

  /** The explicit `version` or the committed one, failing loudly (and
    * uniformly — every probe/verb resolves through here) when the root has
    * no committed version, instead of a bare `None.get`.
    */
  def resolveVersion(root: String, version: Option[Long]): Long =
    version.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))

  /** Read the current table state (parquet under the committed version). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    readDir(spark, s"$root/v_$v")
  }

  /** The pinned-schema file every commit writes into its version directory
    * and into each registry directory beside the data: the Spark JSON of
    * the schema parquet inference returns for that directory (recursively
    * nullable, the `shard` layout column last). Versions are immutable, so
    * the schema is fixed at commit and reads never need to infer it.
    */
  private val SchemaFile = "_schema"

  /** The pinned schema of a version or registry directory, if its commit
    * wrote one (directories committed before schemas were pinned have none).
    */
  private[core] def pinnedSchema(dir: String): Option[StructType] = {
    val p = Paths.get(dir, SchemaFile)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  /** Read a version or registry directory — or the `paths` under it (shard
    * directories or files, with `dir` as the partition base) — with its
    * pinned schema. Every read of a version directory goes through here:
    * a pinned read plans with zero Spark jobs, where parquet schema
    * inference runs one job per read. Directories without `_schema` fall
    * back to inference.
    */
  def readDir(spark: SparkSession, dir: String, paths: Seq[String] = Nil): DataFrame = {
    val reader = pinnedSchema(dir) match {
      case Some(schema) => spark.read.schema(schema)
      case None         => spark.read
    }
    if (paths.isEmpty) reader.parquet(dir)
    else reader.option("basePath", dir).parquet(paths: _*)
  }

  /** The `shards` directories of `root`'s version `v`; no shards reads no
    * file (the table's schema, no rows).
    */
  private[core] def readShards(spark: SparkSession, root: String, v: Long,
                               shards: Seq[Int]): DataFrame =
    if (shards.isEmpty) readDir(spark, s"$root/v_$v").filter(lit(false))
    else readDir(spark, s"$root/v_$v", shards.map(s => s"$root/v_$v/shard=$s"))

  /** `s` with every field, element and value nullable — the form parquet
    * reads return whatever the writer's nullability was.
    */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType), nullableType(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The schema inference returns for a directory written from `schema`
    * partitioned by `shard`: the data columns nullable, then `shard` as the
    * int partition column.
    */
  private def shardedSchema(schema: StructType): StructType =
    StructType(nullable(StructType(schema.filterNot(_.name == "shard"))).fields :+
      StructField("shard", IntegerType))

  private def pinSchema(dir: Path, schema: StructType): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(SchemaFile), schema.json.getBytes(StandardCharsets.UTF_8))
  }

  /** Write `df` as the parquet directory `dir` (a plain version, or a
    * registry inside a staged version) and pin its schema.
    */
  private[core] def writeDir(df: DataFrame, dir: Path): Unit = {
    df.write.mode("overwrite").parquet(dir.toString)
    pinSchema(dir, nullable(df.schema))
  }

  /** Write `df` into `dir` partitioned by its `shard` column and pin the
    * table's schema: `schema`'s, which maintenance verbs carry forward from
    * the version they rewrite.
    */
  private[core] def writeShards(df: DataFrame, dir: Path,
                                schema: StructType): Unit = {
    df.write.mode("overwrite").partitionBy("shard").parquet(dir.toString)
    pinSchema(dir, shardedSchema(schema))
  }

  /** Time-travel read of a specific COMMITTED version (must be within
    * vacuum's keep window and at or below the pointer — an above-pointer
    * slot is an in-flight or crashed writer's, never committed state).
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    require(version <= cur,
      s"v_$version was never committed under $root (pointer is at v_$cur)")
    require(Files.exists(Paths.get(root, s"v_$version")),
      s"v_$version under $root was vacuumed; only ${versions(root).mkString(", ")} remain")
    readDir(spark, s"$root/v_$version")
  }

  /** Committed versions still readable on disk, oldest first. */
  def versions(root: String): Seq[Long] = {
    val cur = currentVersion(root).getOrElse(return Seq.empty)
    listVersionDirs(root).filter(_ <= cur).sorted
  }

  private def listVersionDirs(root: String): Seq[Long] = {
    val dir = new java.io.File(root)
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
      .map(_.getName.stripPrefix("v_").toLong)
  }

  /** Write `df` as the next version and atomically swap the pointer.
    * Returns the new version number. With `expectedVersion` set, fails if
    * another writer committed in between (optimistic concurrency).
    *
    * Race/crash safety: the version is written to a writer-private staging
    * directory and then ATOMIC_MOVEd into a version slot. With
    * `expectedVersion` set, the slot is FORCED to `expected + 1`, so the
    * rename itself arbitrates optimistic concurrency: any concurrent commit
    * based on the same snapshot targets the same slot, exactly one rename
    * wins, and the loser fails BEFORE the pointer swap. Without
    * `expectedVersion`, the slot is allocated above both the committed
    * version and any existing directory (orphans from crashed writers never
    * wedge later commits — they allocate past them; `vacuum` sweeps the
    * debris after a grace period). In both modes the pointer is re-read
    * after the rename and the swap is refused if it would regress `_CURRENT`
    * or no longer matches `expectedVersion` — a paused writer waking after a
    * later commit cannot roll the table back; its slot becomes vacuumable
    * debris and the commit fails loudly.
    *
    * The rename→swap critical section runs under the `_commit.lock`
    * exclusion directory shared with [[vacuum]]: a live writer inside the
    * gap holds the lock, so vacuum skips orphan deletion instead of
    * trusting slot mtimes; a writer paused past `lockStaleMs` loses the
    * lock to a breaker and then FAILS its pre-swap ownership check —
    * loudly, instead of swapping the pointer onto files vacuum deleted.
    * The lock never covers the parquet staging write, so commit
    * concurrency is unchanged.
    */
  def commit(df: DataFrame, root: String, expectedVersion: Option[Long] = None,
             lockStaleMs: Long = 60 * 60 * 1000L, lockWaitMs: Long = 60 * 1000L): Long =
    commitStaged(root, expectedVersion, lockStaleMs, lockWaitMs)(writeDir(df, _))

  /** Require `rows` to carry exactly the table's data columns — same NAMES
    * and same DATA TYPES. A name-only check would let a batch with matching
    * names but different physical types write a second parquet schema into
    * the same shard directories, where later reads without mergeSchema can
    * fail or bind the wrong schema.
    */
  private[core] def requireSameDataSchema(rows: DataFrame, table: DataFrame,
                                          what: String): Unit = {
    val dataCols = table.schema.fields.filterNot(_.name == "shard")
    val names = dataCols.map(_.name).sorted
    require(rows.columns.sorted.sameElements(names),
      s"$what must carry the table's data columns ${names.mkString(",")}, " +
        s"got ${rows.columns.sorted.mkString(",")}")
    val mismatched = dataCols.flatMap { f =>
      val got = rows.schema(f.name).dataType
      if (got == f.dataType) None
      else Some(s"${f.name}: table ${f.dataType.simpleString} vs batch ${got.simpleString}")
    }
    require(mismatched.isEmpty,
      s"$what column types must match the table's physical schema — " +
        mismatched.mkString("; "))
  }

  /** Hard-link every regular file of `src` into `dst` (copy fallback on
    * filesystems without links) — how untouched shard data carries into
    * a new staged version for zero bytes rewritten. Spark part-file
    * names embed a per-job UUID, so links never collide with a fresh
    * write into the same directory.
    */
  private[core] def linkDirInto(src: java.nio.file.Path,
                                dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    val listing = Files.list(src)
    try listing.filter(Files.isRegularFile(_)).forEach { f =>
      val t = dst.resolve(f.getFileName.toString)
      try Files.createLink(t, f)
      catch { case _: UnsupportedOperationException |
                   _: java.nio.file.FileSystemException =>
        Files.copy(f, t); () }
    } finally listing.close()
  }

  /** [[commit]] with a caller-supplied staging writer — everything the
    * writer puts under the staging directory (data files, underscore-
    * prefixed sketch registries, metadata) rides the SAME atomic
    * rename→swap, so auxiliary artifacts can never be torn from the
    * version they describe. The concurrency protocol is [[commit]]'s,
    * unchanged.
    */
  private[core] def commitStaged(root: String, expectedVersion: Option[Long] = None,
                                 lockStaleMs: Long = 60 * 60 * 1000L,
                                 lockWaitMs: Long = 60 * 1000L)
                                (write: java.nio.file.Path => Unit): Long = {
    Files.createDirectories(Paths.get(root))
    val cur = currentVersion(root)
    expectedVersion.foreach { exp =>
      require(cur.contains(exp),
        s"stale write: expected version $exp but table is at ${cur.getOrElse("none")}")
    }
    val next = expectedVersion match {
      // forced slot: the rename is the one true arbiter for this snapshot.
      // An orphan already squatting above `exp` fails the commit — the safe
      // outcome, since that orphan means another writer got past `exp`.
      case Some(exp) => exp + 1
      case None => math.max(cur.getOrElse(-1L),
        listVersionDirs(root).foldLeft(-1L)(math.max)) + 1
    }
    val slot = Paths.get(root, s"v_$next")
    val staging = Paths.get(root, s"_staging_${java.util.UUID.randomUUID()}")
    write(staging)
    val token = acquireLock(root, lockStaleMs, lockWaitMs)
    try {
      // claim the slot with an atomic createDirectory — rename(2) would
      // silently REPLACE an empty squatting directory, so the create is the
      // arbiter and the move then lands onto our own empty claim
      try {
        Files.createDirectory(slot)
        // rename(2) atomically replaces the (empty) claim we just created
        Files.move(staging, slot, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: java.nio.file.FileSystemException =>
          throw new IllegalStateException(
            s"concurrent commit won v_$next under $root; re-read and retry", e)
      }
      // refresh the slot's mtime so vacuum's grace window covers the
      // rename→swap gap even if the staging write took longer than graceMs
      slot.toFile.setLastModified(System.currentTimeMillis())
      // Guard the swap: re-read the pointer and refuse to regress it. The
      // rename already arbitrated same-slot races; this closes the cross-slot
      // hole (another writer committed a DIFFERENT slot since we read `cur`).
      val nowCur = currentVersion(root)
      val superseded = expectedVersion match {
        case Some(exp) => !nowCur.contains(exp)
        case None      => nowCur.exists(_ >= next)
      }
      if (superseded) {
        rmTree(slot.toFile) // never referenced by the pointer; safe to drop
        throw new IllegalStateException(
          s"stale write: table moved to ${nowCur.map("v_" + _).getOrElse("none")} " +
            s"while committing v_$next under $root; re-read and retry")
      }
      // ownership check: if a breaker took the lock (this writer was paused
      // past lockStaleMs), the slot may already be vacuumed — refuse the
      // swap rather than land a dangling pointer
      if (!holdsLock(root, token)) {
        rmTree(slot.toFile)
        throw new IllegalStateException(
          s"commit lock was broken while committing v_$next under $root " +
            "(writer paused past lockStaleMs?); slot abandoned, re-read and retry")
      }
      // land the pointer content in a temp file first, then same-dir atomic
      // rename — readers never observe a partial pointer
      val tmp = Paths.get(root, s"_CURRENT.tmp_$next")
      Files.write(tmp, s"v_$next".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, currentPtr(root),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // a commit under this root means its path may have been re-created
      // since entries were memoized (version numbering restarts) — drop
      // the root's planning rows so probes can never serve a dead
      // incarnation's metadata
      MetaCache.invalidateRoot(root)
      next
    } finally releaseLock(root, token)
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rmTree) }
    f.delete(); ()
  }

  /** Rewrite-on-MERGE: read current state, apply `transform`, commit the
    * result as the next version — with the read version pinned as the
    * expected version, so a concurrent commit fails this merge instead of
    * being silently overwritten.
    */
  def merge(spark: SparkSession, root: String)(transform: DataFrame => DataFrame): Long = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    mergeFrom(spark, root, base)(transform)
  }

  /** [[merge]] from an explicitly pinned base version: the transform reads
    * `v_<base>` and the commit carries `expectedVersion = base`, so a
    * foreign commit landing after the caller observed `base` fails this
    * merge instead of being absorbed. [[mergeWithFeed]] pins through here —
    * its feed can never span another writer's commit.
    */
  def mergeFrom(spark: SparkSession, root: String, base: Long)(
      transform: DataFrame => DataFrame): Long = {
    val next = transform(readDir(spark, s"$root/v_$base"))
    commit(next, root, expectedVersion = Some(base))
  }

  /** Row-level change feed between two committed versions (Delta CDF shape,
    * feeding the reference's lifecycle-event consumers —
    * pkg/memory/cache_events.go — from the DURABLE path): one row per
    * changed row, `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage, plus `_base_version`/`_version` and the table
    * columns (pre-image for delete/update_preimage, post-image otherwise).
    *
    * Rows are keyed by `idCols`; both versions must still be on disk
    * (vacuum's `keep` window — the default keeps current + previous, i.e.
    * exactly one merge's feed). Cost: ONE keyed full-outer join between the
    * two versions plus a null-safe struct compare — commit versions with
    * the same partitioning/bucketing and the join co-locates at any scale.
    * Top-level MAP columns (e.g. the memories table's metadata) are
    * compared via sorted `map_entries` — entry order never fakes a change,
    * and the emitted rows carry the original map values. Limitation: maps
    * NESTED inside structs/arrays are still not comparable — stringify
    * those before committing.
    */
  def changeFeed(spark: SparkSession, root: String, idCols: Seq[String],
                 baseVersion: Long, toVersion: Long): DataFrame =
    changeFeedFrames(readDir(spark, s"$root/v_$baseVersion"),
      readDir(spark, s"$root/v_$toVersion"),
      idCols, baseVersion, toVersion)

  /** [[changeFeed]] over caller-supplied version frames — the shared diff
    * core, so layout-aware callers (e.g.
    * [[SketchRegistry.changeFeedPruned]]) can restrict both sides to the
    * shard directories that can possibly differ before paying the keyed
    * join.
    */
  private[core] def changeFeedFrames(base: DataFrame, next: DataFrame,
                                     idCols: Seq[String],
                                     baseVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(idCols.nonEmpty, "changeFeed needs at least one id column")
    require(base.columns.sorted.sameElements(next.columns.sorted),
      s"schema changed between v_$baseVersion and v_$toVersion: " +
        s"${base.columns.mkString(",")} vs ${next.columns.mkString(",")} — " +
        "diff the versions manually on the shared columns")
    val dataCols = next.columns.filterNot(idCols.contains).toSeq
    val mapCols = next.schema.fields.collect {
      case f if dataCols.contains(f.name) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => f.name
    }.toSet
    // zero-data-column tables still diff on existence alone
    val packCols = if (dataCols.isEmpty) Seq(lit(1).as("__present")) else dataCols.map(col)
    // comparison key: identical to the row struct except map columns are
    // canonicalized to key-sorted entry arrays (arrays of structs ARE
    // null-safe-comparable; Spark cannot EqualNullSafe a raw map)
    val cmpCols =
      if (dataCols.isEmpty) Seq(lit(1).as("__present"))
      else dataCols.map { c =>
        if (mapCols.contains(c)) array_sort(map_entries(col(c))).as(c) else col(c)
      }
    def pack(df: DataFrame, side: String) =
      df.select(idCols.map(col) ++ Seq(
        struct(packCols: _*).as(s"__row_$side"),
        struct(cmpCols: _*).as(s"__cmp_$side")): _*)
    val joined = pack(base, "b").join(pack(next, "n"), idCols, "full_outer")
    def unpacked(tpe: String, rowCol: String) = {
      val rows = dataCols.map(c => col(rowCol).getField(c).as(c))
      lit(tpe).as("_change_type") +: lit(baseVersion).as("_base_version") +:
        lit(toVersion).as("_version") +: (idCols.map(col) ++ rows)
    }
    val inserted = joined.filter(col("__row_b").isNull)
      .select(unpacked("insert", "__row_n"): _*)
    val deleted = joined.filter(col("__row_n").isNull)
      .select(unpacked("delete", "__row_b"): _*)
    val changed = joined.filter(col("__row_b").isNotNull && col("__row_n").isNotNull &&
      !(col("__cmp_b") <=> col("__cmp_n")))
    inserted
      .unionByName(deleted)
      .unionByName(changed.select(unpacked("update_preimage", "__row_b"): _*))
      .unionByName(changed.select(unpacked("update_postimage", "__row_n"): _*))
  }

  /** [[merge]] plus the row-level diff it produced: returns (newVersion,
    * changeFeed(base → newVersion)). The durable analog of operators that
    * return (newState, events) in memory — e.g.
    * `MemoryOps.decayOnce`'s evictions surface as `delete` rows and its
    * compressions as `update_preimage`/`update_postimage` pairs.
    */
  def mergeWithFeed(spark: SparkSession, root: String, idCols: Seq[String])(
      transform: DataFrame => DataFrame): (Long, DataFrame) = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    // pin the observed base all the way into the commit's CAS — merge()'s
    // own re-read would let a foreign commit slip between the two reads and
    // the feed would then attribute that writer's rows to this merge
    val next = mergeFrom(spark, root, base)(transform)
    (next, changeFeed(spark, root, idCols, base, next))
  }

  /** Drop all but the newest `keep` versions, plus abandoned staging dirs
    * and orphan version slots (a writer that crashed between rename and
    * pointer swap) — but ONLY once they are older than `graceMs`, so vacuum
    * never deletes an in-flight commit's files out from under it (readers
    * of dropped versions must be drained first — same contract as Delta's
    * VACUUM and its retention window).
    *
    * Concurrency contract (ENFORCED via `_commit.lock`, shared with
    * [[commit]]'s rename→swap critical section): orphan slots above the
    * pointer are only swept when no fresh lock is held — a live writer
    * inside the gap holds the lock, so its renamed-but-unswapped slot
    * survives regardless of how long its staging write took. A lock older
    * than `graceMs` is presumed crashed and broken before the sweep; if its
    * owner was merely paused, the owner's pre-swap ownership check fails
    * its commit loudly instead of swapping the pointer onto swept files.
    * Readers of dropped versions must still be drained first — same
    * contract as Delta's VACUUM and its retention window.
    */
  def vacuum(root: String, keep: Int = 2, graceMs: Long = 60 * 60 * 1000L): Unit = {
    require(keep >= 1, "must keep at least the current version")
    val cur = currentVersion(root).getOrElse(return)
    val dir = new java.io.File(root)
    val now = System.currentTimeMillis()
    def oldEnough(f: java.io.File): Boolean = now - f.lastModified() > graceMs
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
    val versioned = entries.filter(f => f.isDirectory && f.getName.startsWith("v_"))
    // superseded history: always reclaimable
    versioned.filter(f => f.getName.stripPrefix("v_").toLong <= cur - keep)
      .foreach(rmTree)
    // orphans above the pointer: only touchable when no live commit holds
    // the exclusion lock; stale locks (crashed writers) are broken first
    val lock = lockDir(root).toFile
    val lockHeld = lock.exists() && {
      if (breakStaleLock(root, graceMs)) false
      else lock.exists() // fresh holder, or another breaker mid-break
    }
    // tombstones from a breaker that crashed between rename and delete
    entries.filter(f => f.isDirectory && f.getName.startsWith("_lockbreak_"))
      .filter(oldEnough).foreach(rmTree)
    if (!lockHeld) {
      // age-gated, and re-checked against a fresh pointer read right before
      // each delete (a writer that completed its swap mid-vacuum is safe)
      versioned.filter(f => f.getName.stripPrefix("v_").toLong > cur)
        .filter(oldEnough)
        .foreach { f =>
          val v = f.getName.stripPrefix("v_").toLong
          if (!currentVersion(root).exists(_ >= v)) rmTree(f)
        }
    }
    entries.filter(f => f.isDirectory && f.getName.startsWith("_staging_"))
      .filter(oldEnough).foreach(rmTree)
  }
}
