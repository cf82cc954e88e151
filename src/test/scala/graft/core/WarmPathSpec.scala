package graft.core

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The warm serving path: committed versions carry their schema, so reads
  * plan without a schema-inference job, and the generated-code cache holds
  * more shapes than a serving mix uses, so warm ops compile nothing.
  */
class WarmPathSpec extends AnyFunSuite with SparkTest {

  /** Every column type the stores carry: nested types nullable inside, as
    * append and upsert batches must match the table's read-back types.
    */
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("a", IntegerType, nullable = false),
    StructField("b", IntegerType, nullable = false),
    StructField("s", StringType),
    StructField("emb", ArrayType(FloatType)),
    StructField("ts", TimestampType),
    StructField("meta", MapType(StringType, LongType)),
    StructField("st", StructType(Seq(
      StructField("x", IntegerType),
      StructField("tags", ArrayType(StringType)))))))

  /** The same columns with non-nullable nested types: a commit pins the
    * recursively nullable form parquet reads return.
    */
  private val strictSchema = StructType(schema.fields.map {
    case f @ StructField("emb", _, _, _) =>
      f.copy(dataType = ArrayType(FloatType, containsNull = false))
    case f @ StructField("meta", _, _, _) =>
      f.copy(dataType = MapType(StringType, LongType, valueContainsNull = false))
    case f @ StructField("st", _, _, _) => f.copy(dataType = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false))))
    case f => f
  })

  /** Rows `lo until hi` covering every column type above. */
  private def rows(lo: Int, hi: Int, schema: StructType = schema): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame((lo until hi).map { i =>
      Row(i.toLong, i % 13, i % 17, s"k$i", Seq(i.toFloat, -i.toFloat),
        new Timestamp(1700000000000L + i * 1000L), Map(s"m${i % 3}" -> i.toLong),
        Row(i, Seq(s"t${i % 5}")))
    }.asJava, schema)
  }

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def version(root: String): String =
    s"$root/v_${TableStore.currentVersion(root).get}"

  /** Every pinned directory under the current version of `root`: the
    * version itself and any registry beside its data.
    */
  private def pinnedDirs(root: String): Seq[String] =
    version(root) +: Seq("_sketches", "_zonemap", "_zonemap2d")
      .map(r => s"${version(root)}/$r").filter(d => Files.isDirectory(Paths.get(d)))

  private def assertParity(root: String, what: String): Unit =
    pinnedDirs(root).foreach { d =>
      val pinned = TableStore.pinnedSchema(d)
      assert(pinned.isDefined, s"$what: $d carries no _schema")
      assert(pinned.get == spark.read.parquet(d).schema,
        s"$what: pinned schema of $d differs from inference")
    }

  /** Spark jobs `body` launches on this thread (job-group filtered, so
    * concurrent suites never count). Listener delivery is asynchronous: a
    * sentinel job in a second group is the drain barrier — the bus is
    * FIFO, so once the sentinel's start is seen every earlier start is.
    */
  private def jobsLaunched(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"warm-${java.util.UUID.randomUUID()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => counted.incrementAndGet(); ()
          case Some(g) if g == group + "-sentinel" => sentinelSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "warm path job count")
      body
      sc.setJobGroup(group + "-sentinel", "drain barrier")
      sc.parallelize(Seq(0), 1).count()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      counted.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building version, registry and keyed-lookup reads launches no Spark job") {
    val plain = tmp("warm_plain")
    TableStore.commit(rows(0, 200), plain)
    TableStore.commit(rows(0, 300), plain)
    val hashed = tmp("warm_hash")
    SketchRegistry.commitWithSketches(rows(0, 400), hashed, "id")
    // the registry rows a probe consults are memoized per version; collect
    // them once so the count below is the read planning alone
    SketchRegistry.lookupWithSketches(spark, hashed, 42L).collect()
    val jobs = jobsLaunched {
      TableStore.read(spark, plain)
      TableStore.readVersion(spark, plain, 0L)
      SketchRegistry.registry(spark, hashed)
      SketchRegistry.lookupWithSketches(spark, hashed, 42L)
    }
    assert(jobs == 0, s"read planning launched $jobs Spark jobs")
    assert(SketchRegistry.lookupWithSketches(spark, hashed, 42L)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("pinned schemas equal parquet inference for every store kind and verb") {
    // plain store: commit, then merge
    val plain = tmp("pin_plain")
    TableStore.commit(rows(0, 100, strictSchema), plain)
    assertParity(plain, "plain commit")
    TableStore.merge(spark, plain)(_.filter(col("id") % 2 === 0))
    assertParity(plain, "plain merge")
    // hash stores keyed by int, string and a composite key; the int store
    // then runs append → upsert/delete → compact
    val byInt = tmp("pin_hash_int")
    SketchRegistry.commitWithSketches(rows(0, 200), byInt, "id")
    assertParity(byInt, "hash int key")
    val byString = tmp("pin_hash_str")
    SketchRegistry.commitWithSketches(rows(0, 200), byString, "s")
    assertParity(byString, "hash string key")
    val byPair = tmp("pin_hash_pair")
    SketchRegistry.commitWithSketchesKeys(rows(0, 200), byPair, Seq("id", "s"))
    assertParity(byPair, "hash composite key")
    SketchRegistry.appendWithSketches(spark, byInt, rows(200, 260))
    assertParity(byInt, "hash append")
    SketchRegistry.applyChangesWithSketches(spark, byInt, rows(10, 20),
      spark.range(30, 40).toDF("id"))
    assertParity(byInt, "hash upsert/delete")
    SketchRegistry.compactWithSketches(spark, byInt)
    assertParity(byInt, "hash compact")
    // range store: commit → append → compact
    val ranged = tmp("pin_range")
    SketchRegistry.commitRangeSharded(rows(0, 200), ranged, "id", statsCols = Seq("a"))
    assertParity(ranged, "range commit")
    SketchRegistry.appendRangeSharded(spark, ranged, rows(200, 260))
    assertParity(ranged, "range append")
    SketchRegistry.compactRangeSharded(spark, ranged)
    assertParity(ranged, "range compact")
    // Z-order store: commit → append → upsert/delete → compact
    val zord = tmp("pin_z")
    ZOrderStore.commitZOrdered(rows(0, 200), zord, "a", "b", sketchCols = Seq("id"))
    assertParity(zord, "z-order commit")
    ZOrderStore.appendZOrdered(spark, zord, rows(200, 260))
    assertParity(zord, "z-order append")
    ZOrderStore.applyChangesZOrdered(spark, zord, "id", rows(10, 20),
      spark.range(30, 40).toDF("id"))
    assertParity(zord, "z-order upsert/delete")
    ZOrderStore.compactZOrdered(spark, zord)
    assertParity(zord, "z-order compact")
    // every verb kept the rows: the int-keyed hash store holds 0..259
    // minus the deleted 30..39
    assert(TableStore.read(spark, byInt).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == (0L until 260L).filterNot(i => i >= 30 && i < 40))
  }

  test("a version without _schema still reads through parquet inference") {
    val root = tmp("pin_fallback")
    SketchRegistry.commitWithSketches(rows(0, 200), root, "id")
    val before = TableStore.read(spark, root)
    val want = before.orderBy("id").collect().toSeq
    Files.delete(Paths.get(version(root), "_schema"))
    Files.delete(Paths.get(version(root), "_sketches", "_schema"))
    assert(TableStore.pinnedSchema(version(root)).isEmpty)
    val after = TableStore.read(spark, root)
    assert(after.schema == before.schema)
    assert(after.orderBy("id").collect().toSeq == want)
    assert(SketchRegistry.lookupWithSketches(spark, root, 7L)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
    // a maintenance verb over the unpinned version pins the next one
    SketchRegistry.appendWithSketches(spark, root, rows(200, 210))
    assertParity(root, "append over an unpinned version")
  }

  test("readStaged is pinned to the files present when it is called") {
    val staging = Paths.get(tmp("pin_staged"))
    val batch = rows(0, 100).withColumn("shard", (col("id") % 4).cast("int"))
    TableStore.writeShards(batch.repartition(col("shard")), staging, batch.schema)
    val staged = SketchRegistry.readStaged(spark, staging, batch)
    // an old version's file linked in after the read is planned — what the
    // maintenance verbs do right after reading the batch back
    val old = Paths.get(tmp("pin_staged_old"))
    TableStore.writeShards(rows(500, 700).withColumn("shard", lit(1)), old,
      batch.schema)
    TableStore.linkDirInto(old.resolve("shard=1"), staging.resolve("shard=1"))
    assert(staged.count() == 100L)
    assert(staged.agg(max(col("id"))).head.getLong(0) == 99L)
  }

  test("compiling the same 150 projection shapes twice compiles nothing the second time") {
    spark.sparkContext // the engine session sizes the generated-code cache
    // each literal is inlined into the generated source: 150 distinct classes
    val shapes = (0 until 150).map(i =>
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong + 7919L))))
    val first = shapes.map(GenerateUnsafeProjection.generate(_).getClass)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = shapes.map(GenerateUnsafeProjection.generate(_).getClass)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    info(s"second pass compiled $compiled classes")
    assert(first.zip(second).forall { case (a, b) => a eq b },
      "every shape must come back as the class compiled on the first pass")
    assert(compiled == 0L)
  }
}
