package distbench

import graft.GraftEngine
import graft.operators.DedupOps
import graft.util.IndexMaint
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow, ScalaUDF}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The agent's document intake: a persisted MinHash index over a base
  * corpus, plus a table of exact-content keys. An ingest takes one batch
  * through `exactNovelRows` → `probeDedupIndex` → `appendDedupIndex` of the
  * accepted rows; `compact` runs `compactDedupIndex`. Batches carry planted
  * exact copies, near-copies (one word changed: 3-shingle Jaccard ≥ 0.9,
  * where 16×4 banding finds them with probability ≈ 1) and distractors
  * (half the words of a corpus doc: Jaccard ≤ 0.5).
  */
final class DocIndex(spark: SparkSession, seed: Long) {
  val BaseDocs = 1000
  val Batch = 50

  /** A batch document: id, words, kind (E exact copy, N near-copy,
    * D distractor, V novel), the base doc it was drawn from.
    */
  final case class Doc(id: Long, words: Array[String], kind: Char, source: Int) {
    lazy val text: String = words.mkString(" ")
  }

  private val texts = new Gen.Texts()
  private var indexPath: Path = _
  private var keysPath: Path = _
  private var base: IndexedSeq[Array[String]] = IndexedSeq.empty
  private var plantedNear = 0L
  private var foundNear = 0L

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def roots: Seq[Path] = Seq(indexPath, keysPath)

  def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava, schema)
      .withColumn("key", xxhash64(col("text")))

  private def shingles(ws: Array[String]): Set[String] =
    ws.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Array[String], b: Array[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def setup(dir: Path): Unit = {
    indexPath = dir.resolve("index"); keysPath = dir.resolve("keys")
    base = (0 until BaseDocs).map { k =>
      val r = Gen.rng(seed, 51, k)
      texts.words(r, 60 + r.nextInt(60))
    }
    val df = spark.createDataFrame(base.indices.map(k => Row(k.toLong, base(k).mkString(" "))).asJava, schema)
      .withColumn("key", xxhash64(col("text")))
    GraftEngine.buildDedupIndex(df, "text", "doc_id", Some(indexPath.toString))
    df.select("key").write.parquet(keysPath.toString)
  }

  /** Ingest batch `i`. */
  def batch(i: Long): IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 52, i)
    (0 until Batch).map { j =>
      val kind = "ENDVV".charAt(j % 5)
      val src = r.nextInt(BaseDocs)
      val s = base(src)
      val ws = kind match {
        case 'E' => s
        case 'N' =>
          Iterator.continually {
            val w = s.clone(); val p = r.nextInt(w.length)
            w(p) = Gen.word(r.nextInt(4000)); w
          }.find(w => !w.sameElements(s) && jaccard(w, s) >= 0.9).get
        case 'D' =>
          Iterator.continually(s.take(s.length / 2) ++ texts.words(r, s.length - s.length / 2))
            .find(jaccard(_, s) <= 0.5).get
        case _ => texts.words(r, 60 + r.nextInt(60))
      }
      Doc(10000000L + i * Batch + j, ws, kind, src)
    }
  }

  /** The ingest's output: the rows `exactNovelRows` kept and the
    * (batch doc, corpus doc) pairs the probe found.
    */
  final case class Ingested(novel: Set[Long], hits: Seq[(Long, Long)])

  def ingest(df: DataFrame, t: Tracer): Ingested = {
    val keys = spark.read.parquet(keysPath.toString)
    val novel = t.span("graft.exactNovelRows") {
      GraftEngine.exactNovelRows(keys, df, "key").select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val hits = t.span("graft.probeDedupIndex") {
      val index = DedupOps.loadMinhashIndex(spark, indexPath.toString)
      GraftEngine.probeDedupIndex(index, df.filter(col("doc_id").isin(novel.toSeq: _*)), "text", "doc_id")
        .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSeq
    }
    val accepted = novel -- hits.map(_._1)
    val acc = df.filter(col("doc_id").isin(accepted.toSeq: _*))
    t.disk("index", roots) {
      t.span("graft.appendDedupIndex") {
        GraftEngine.appendDedupIndex(spark, indexPath.toString, acc, "text", "doc_id")
        acc.select("key").write.mode("append").parquet(keysPath.toString)
      }
    }
    Ingested(novel, hits)
  }

  def check(docs: Seq[Doc], out: Ingested, t: Tracer): Unit = {
    Check(out.novel == docs.filter(_.kind != 'E').map(_.id).toSet,
      "exact copies were not exactly the rejected rows")
    val near = docs.filter(_.kind == 'N')
    Check(out.hits.map(_._1).toSet == near.map(_.id).toSet,
      "near-dup hits are not exactly the planted near-copies")
    Check(near.forall(d => out.hits.contains((d.id, d.source.toLong))), "a near-copy did not match its source")
    if (t.enabled) {
      t.userBytes += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
      plantedNear += near.length
      foundNear += near.count(d => out.hits.contains((d.id, d.source.toLong)))
    }
  }

  def compact(t: Tracer): Unit = t.disk("index", roots) {
    t.span("graft.compactDedupIndex") {
      GraftEngine.compactDedupIndex(spark, indexPath.toString, 4)
      IndexMaint.compactTable(spark, keysPath.toString, Seq("key"), 4)
    }
  }

  def layers(docs: Seq[Doc], t: Tracer): Unit =
    t.span("operators.dedup.signature") {
      Force.checksum(frame(docs).select(col("doc_id"),
        DedupOps.minhashSignatureFromHashes(DedupOps.wordShingleHashes(col("text"), 3), 64).as("sig")))
    }

  def kernels(): Map[String, Double] = {
    // the analyzed shingle UDF, bound to column 0 of a one-string row
    val plan = spark.createDataFrame(Seq(Row("x")).asJava, StructType(Seq(StructField("t", StringType))))
      .select(DedupOps.wordShingleHashes(col("t"), 3)).queryExecution.analyzed
    val shingle = BindReferences.bindReference(
      plan.expressions.flatMap(_.collect { case u: ScalaUDF => u }).head: Expression,
      plan.children.head.output)
    val docs = base.take(200).map(ws => UTF8String.fromString(ws.mkString(" ")))
    val row = new GenericInternalRow(1)
    val s = Stats.perCall(docs.foreach { d => row.update(0, d); shingle.eval(row) })
    Map("functions.text.shingle_us_per_doc" -> s * 1e6 / docs.length)
  }

  /** Bytes of the index and key tables' live data files. */
  def liveBytes: Long = roots.map(Disk.dataBytes).sum

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val med = (n: String) => Stats.median(t.durations(n))
    Map(
      "operators.dedup.signature_s" -> med("operators.dedup.signature"),
      "operators.dedup.bloom_prefilter_s" -> med("graft.exactNovelRows"),
      "operators.dedup.probe_s" -> med("graft.probeDedupIndex"),
      "operators.dedup.append_s" -> med("graft.appendDedupIndex"),
      "operators.dedup.compact_s" -> med("graft.compactDedupIndex"),
      "operators.dedup.index_files" -> Disk.files(indexPath).toDouble,
      "operators.dedup.neardup_recall" -> foundNear.toDouble / math.max(1L, plantedNear))
  }
}
