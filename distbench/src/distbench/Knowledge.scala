package distbench

import graft.GraftEngine
import graft.functions.VectorKernels
import graft.operators.{ClusterAlgs, ClusterOps, KnnOps}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The agent's knowledge corpus: a fixed table of embeddings on parquet,
  * queried with `retrieveDeduplicated` (over-fetch 50 → cluster → select →
  * MMR 8). Each query is a corpus row plus small noise, so its top-1
  * neighbour — and the broker's rank-1 answer — is known; query topics are
  * Zipf-skewed.
  */
final class Knowledge(spark: SparkSession, seed: Long) {
  val CorpusRows = 4000
  val Queries = 8        // per retrieval
  val OverFetch = 50
  val TopK = 8
  val NTopics = 64

  /** A query: id, embedding, the corpus row it was drawn from. */
  final case class Query(id: Long, emb: Array[Float], source: Long)

  private val topics = new Gen.Topics(seed, NTopics)
  private val zipf = new Gen.Zipf(NTopics, 1.1)
  private var corpusVecs: Array[Array[Float]] = Array.empty
  private var corpus: DataFrame = _
  private var pairs = 0L
  private var kept = 0L

  private val qSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qemb", ArrayType(FloatType, containsNull = false))))

  def setup(dir: Path): Unit = {
    // row i belongs to topic i % NTopics
    corpusVecs = Array.tabulate(CorpusRows)(i => topics.member(i % NTopics, Gen.rng(seed, 31, i)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("emb", ArrayType(FloatType, containsNull = false))))
    val rows = corpusVecs.indices.map(i => Row(i.toLong, corpusVecs(i).toSeq))
    val path = dir.resolve("corpus").toString
    spark.createDataFrame(rows.asJava, schema).repartition(4).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
  }

  /** The queries of retrieval `i`. */
  def batch(i: Long): IndexedSeq[Query] = (0 until Queries).map { j =>
    val r = Gen.rng(seed, 32, i * Queries + j)
    val topic = zipf.sample(r)
    val src = topic + NTopics * r.nextInt(CorpusRows / NTopics)
    Query(i * Queries + j, Gen.perturb(corpusVecs(src), 0.05, r), src.toLong)
  }

  def frame(qs: Seq[Query]): DataFrame =
    spark.createDataFrame(qs.map(q => Row(q.id, q.emb.toSeq)).asJava, qSchema)

  def retrieve(queries: DataFrame, t: Tracer): Array[Row] = t.span("graft.retrieveDeduplicated") {
    GraftEngine.retrieveDeduplicated(corpus, queries, "id", "emb", "query_id", "qemb").collect()
  }

  def check(qs: Seq[Query], out: Array[Row]): Unit = {
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    Check(byQuery.keySet == qs.map(_.id).toSet, "queries missing from the retrieval")
    qs.foreach { q =>
      val rows = byQuery(q.id).sortBy(_.getAs[Int]("final_rank"))
      Check(rows.length == TopK, s"query ${q.id} returned ${rows.length} rows, expected $TopK")
      Check(rows.map(_.getAs[Int]("final_rank")).toSeq == (1 to TopK), "final ranks are not 1..k")
      Check(rows.head.getAs[Long]("neighbor_id") == q.source, s"query ${q.id}: rank 1 is not its source row")
    }
  }

  /** The broker's stages, each on its own and forced. */
  def layers(qs: Seq[Query], t: Tracer): Unit = {
    val q = frame(qs)
    val fetched = t.span("operators.knn.topk") {
      val f = KnnOps.bruteForceKnn(corpus, q, OverFetch, "id", "emb", "query_id", "qemb").persist()
      // every pair the scan scored leaves the cross join into the top-k
      pairs += Force.planMetric(Force.checksum(f), _.nodeName.contains("Join"), "numOutputRows")
      kept += f.count()
      f
    }
    val withCluster = t.span("operators.broker.cluster") {
      val chunks = corpus
        .select(col("id").cast("long").as("neighbor_id"), col("emb"))
        .join(broadcast(fetched), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), col("emb"), col("sim"))
      val c = ClusterOps.agglomerativeCluster(chunks, "query_id", "neighbor_id", "emb",
        ClusterAlgs.ClusterConfig(threshold = 0.15))
      val wc = chunks.join(c, chunks("query_id") === c("group") && chunks("neighbor_id") === c("id"))
        .select(chunks("query_id"), chunks("neighbor_id"), chunks("emb"), chunks("sim"),
          c("cluster_id")).persist()
      Force.checksum(wc); wc
    }
    t.span("operators.broker.mmr") {
      val reps = ClusterOps.selectRepresentatives(withCluster, Seq("query_id", "cluster_id"),
        "neighbor_id", "emb", "sim", "sim", "score")
      val m = ClusterOps.mmrRerank(reps, "query_id", "neighbor_id", "emb", "sim", 0.5, TopK)
      Force.checksum(reps.join(m, reps("query_id") === m("group") && reps("neighbor_id") === m("id"))
        .select(reps("query_id"), reps("neighbor_id"), reps("sim"), m("mmr_rank")))
    }
    Seq(withCluster, fetched).foreach(_.unpersist())
  }

  def kernels(): Map[String, Double] = {
    val a = corpusVecs.take(256).map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val b = batch(0).map(q => UnsafeArrayData.fromPrimitiveArray(q.emb))
    var sink = 0.0
    val s = Stats.perCall { a.foreach(x => b.foreach(y => sink += VectorKernels.cosineSimilarity(x, y))) }
    if (sink.isNaN) System.err.println("cosine replay produced NaN")
    Map("functions.vector.cosine_ns_per_pair" -> s * 1e9 / (a.length * b.length))
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val n = math.max(1, t.durations("operators.knn.topk").length)
    Map(
      "operators.knn.topk_s" -> Stats.median(t.selfTimes("operators.knn.topk")),
      "operators.knn.pairs_scored" -> pairs.toDouble / n,
      "operators.knn.useful_ratio" -> (if (pairs > 0) kept.toDouble / pairs else 0.0),
      "operators.broker.cluster_s" -> Stats.median(t.selfTimes("operators.broker.cluster")),
      "operators.broker.mmr_s" -> Stats.median(t.selfTimes("operators.broker.mmr")))
  }
}
