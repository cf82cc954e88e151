package distbench

import graft.GraftEngine
import graft.functions.CompressFunctions
import graft.operators.{ClusterAlgs, ClusterOps}
import graft.text.TextAlgs
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** dedup_batch: `deduplicateChunks` over request groups of exactly 50
  * chunks. Each group is a set of planted near-copy families (members within
  * cosine distance 0.05 of each other, every cross-family pair at least 0.3
  * apart), so the clustering at threshold 0.15 is known in closed form: one
  * cluster per family, its representative the family's top-scored member.
  */
final class DedupBatch(spark: SparkSession, seed: Long) extends Workload {
  val Groups = 6        // request groups per op
  val GroupSize = 50
  val Pool = 4          // distinct batches, cycled
  val TopK = 8

  final case class Chunk(group: Long, id: Long, text: String, emb: Array[Float], score: Double)
  final case class Group(chunks: IndexedSeq[Chunk], families: IndexedSeq[IndexedSeq[Long]]) {
    lazy val byId: Map[Long, Chunk] = chunks.map(c => c.id -> c).toMap
    /** Each family's representative: its top score, lowest id on ties. */
    lazy val reps: IndexedSeq[Long] =
      families.map(f => f.maxBy(id => (byId(id).score, -id)))
  }

  private val schema = StructType(Seq(
    StructField("group", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("emb", ArrayType(FloatType, containsNull = false)),
    StructField("score", DoubleType, nullable = false)))

  private val topics = new Gen.Topics(seed, 64)
  private val texts = new Gen.Texts()
  private var pool: IndexedSeq[IndexedSeq[Group]] = IndexedSeq.empty
  // output invariants over the traced ops
  private var inRows, outRows, inTokens, outTokens = 0L

  private def family(r: java.util.SplittableRandom): Int =
    Array(1, 1, 1, 2, 2, 3, 4)(r.nextInt(7))

  /** One group; redrawn until the planted distances hold. */
  private def group(b: Int, g: Int): Group = {
    val gid = b.toLong * Groups + g
    var attempt = 0
    while (true) {
      val r = Gen.rng(seed, 21, gid * 64 + attempt)
      val sizes = Iterator.continually(family(r)).scanLeft(0)(_ + _)
        .takeWhile(_ < GroupSize).toIndexedSeq
      val famSizes = (sizes :+ GroupSize).sliding(2).map(p => p(1) - p(0)).toIndexedSeq
      val bases = famSizes.map(_ => topics.member(r.nextInt(topics.size), r))
      val members = famSizes.indices.flatMap(f =>
        (0 until famSizes(f)).map(_ => (f, Gen.perturb(bases(f), 0.15, r))))
      val order = new scala.util.Random(new java.util.Random(r.nextLong())).shuffle(members.indices.toIndexedSeq)
      val chunks = order.zipWithIndex.map { case (m, k) =>
        Chunk(gid, gid * 100 + k, texts.text(r, 4 + r.nextInt(4)), members(m)._2, r.nextDouble())
      }
      val fam = order.map(members(_)._1)
      val ok = chunks.indices.forall { i =>
        (i + 1 until chunks.length).forall { j =>
          val d = Gen.cosDist(chunks(i).emb, chunks(j).emb)
          if (fam(i) == fam(j)) d <= 0.05 else d >= 0.3
        }
      }
      if (ok) {
        val families = famSizes.indices.map(f =>
          chunks.indices.filter(fam(_) == f).map(chunks(_).id))
        return Group(chunks, families)
      }
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def setup(dir: Path): Unit =
    pool = (0 until Pool).map(b => (0 until Groups).map(g => group(b, g)))

  def cycle: IndexedSeq[String] = IndexedSeq("dedup")
  def warmupOps: Int = 8
  def traceOps: Int = 6

  private def frame(batch: IndexedSeq[Group]): DataFrame =
    spark.createDataFrame(batch.flatMap(_.chunks).map(c =>
      Row(c.group, c.id, c.text, c.emb.toSeq, c.score)).asJava, schema)

  def prepare(i: Long): Step[_] = {
    val batch = pool((i % Pool).toInt)
    val df = frame(batch)
    new Step[Array[Row]](batch.length.toLong * GroupSize,
      t => t.span("graft.deduplicateChunks") {
        GraftEngine.deduplicateChunks(df, "group", "id", "text", "emb", "score").collect()
      },
      (out, t) => {
        check(batch, out)
        if (t.enabled) {
          inRows += batch.length * GroupSize
          outRows += out.length
          inTokens += batch.flatMap(_.chunks).map(c => TextAlgs.estimateTokens(c.text).toLong).sum
          outTokens += out.map(r => TextAlgs.estimateTokens(r.getAs[String]("compressed")).toLong).sum
        }
      },
      t => layers(frame(batch), t))
  }

  private def check(batch: IndexedSeq[Group], out: Array[Row]): Unit = {
    val byGroup = out.groupBy(_.getAs[Long]("group"))
    Check(byGroup.keySet == batch.map(_.chunks.head.group).toSet, "groups missing from the output")
    batch.foreach { g =>
      val rows = byGroup(g.chunks.head.group).sortBy(_.getAs[Int]("mmr_rank"))
      val k = math.min(TopK, g.families.length)
      Check(rows.length == k, s"group kept ${rows.length} rows, expected $k")
      Check(rows.map(_.getAs[Int]("mmr_rank")).toSeq == (1 to k), "mmr ranks are not 1..k")
      Check(rows.map(_.getAs[Any]("cluster_id")).distinct.length == k, "two kept rows share a cluster")
      val reps = g.reps.toSet
      Check(rows.forall(r => reps.contains(r.getAs[Long]("id"))), "a kept row is not its family's representative")
      Check(rows.head.getAs[Long]("id") == g.reps.maxBy(id => (g.byId(id).score, -id)),
        "rank 1 is not the top-scored representative")
      rows.foreach { r =>
        val text = g.byId(r.getAs[Long]("id")).text
        val got = r.getAs[String]("compressed")
        Check(got == TextAlgs.extractiveCompress(text, 0.5, 50), "compressed text differs")
        val budget = (TextAlgs.estimateTokens(text) * 0.5).toInt
        val sentences = TextAlgs.splitSentences(got)
        Check(sentences.length <= 1 ||
          sentences.map(TextAlgs.estimateTokens).sum <= budget, "compression exceeds its token budget")
      }
    }
  }

  private def layers(input: DataFrame, t: Tracer): Unit = {
    val df = input.persist()
    Force.checksum(df)
    val withCluster = t.span("operators.pipeline.cluster") {
      val c = ClusterOps.agglomerativeCluster(df, "group", "id", "emb",
        ClusterAlgs.ClusterConfig(threshold = 0.15))
      val wc = df.join(c, df("group") === c("group") && df("id") === c("id"))
        .select(df.columns.map(df(_)) :+ c("cluster_id"): _*).persist()
      Force.checksum(wc); wc
    }
    val reps = t.span("operators.pipeline.select") {
      val r = ClusterOps.selectRepresentatives(withCluster, Seq("group", "cluster_id"),
        "id", "emb", "score", "text", "score").persist()
      Force.checksum(r); r
    }
    val selected = t.span("operators.pipeline.mmr") {
      val m = ClusterOps.mmrRerank(reps, "group", "id", "emb", "score", 0.5, TopK)
      val s = reps.join(m, reps("group") === m("group") && reps("id") === m("id"))
        .select(reps.columns.map(reps(_)) :+ m("mmr_rank"): _*).persist()
      Force.checksum(s); s
    }
    t.span("operators.pipeline.compress") {
      Force.checksum(selected.withColumn("compressed",
        CompressFunctions.extract_salient(col("text"), 0.5, 50)))
    }
    Seq(selected, reps, withCluster, df).foreach(_.unpersist())
  }

  override def kernels(): Map[String, Double] = {
    val sample = pool(0).take(8)
    val cfg = ClusterAlgs.ClusterConfig(threshold = 0.15)
    val sorted = sample.map(_.chunks.sortBy(_.id))
    val merges = sorted.map(c => c.length - ClusterAlgs.agglomerate(c.map(_.emb), cfg).distinct.length)
    val agg = Stats.perCall(sorted.foreach(c => ClusterAlgs.agglomerate(c.map(_.emb), cfg))) / sample.length
    val repsIn = sample.map(g => g.reps.sorted.map(g.byId))
    val mmr = Stats.perCall(repsIn.foreach(r => ClusterAlgs.mmrSelect(r.map(_.emb), r.map(_.score), 0.5, TopK))) /
      sample.length
    val textsIn = sample.flatMap(_.chunks.map(_.text))
    val ext = Stats.perCall(textsIn.foreach(TextAlgs.extractiveCompress(_, 0.5, 50))) / textsIn.length
    Map(
      "operators.cluster.agglomerate_ms_per_group" -> agg * 1e3,
      "operators.cluster.merges_per_group" -> merges.sum.toDouble / merges.length,
      "operators.mmr.select_ms_per_group" -> mmr * 1e3,
      "text.compress.extract_us_per_chunk" -> ext * 1e6)
  }

  def classMetrics(untraced: Seq[Sample], mix: Mix): Map[String, Double] =
    Map("chunks_per_s" -> mix.throughput(untraced))

  def layerMetrics(t: Tracer): Map[String, Double] = {
    Map(
      "operators.pipeline.cluster_s" -> Stats.median(t.selfTimes("operators.pipeline.cluster")),
      "operators.pipeline.select_s" -> Stats.median(t.selfTimes("operators.pipeline.select")),
      "operators.pipeline.mmr_s" -> Stats.median(t.selfTimes("operators.pipeline.mmr")),
      "operators.pipeline.compress_s" -> Stats.median(t.selfTimes("operators.pipeline.compress")),
      "dedup.kept_ratio" -> outRows.toDouble / math.max(1L, inRows),
      // tokens of the kept, compressed chunks against every input chunk's
      "dedup.token_reduction" -> (1.0 - outTokens.toDouble / math.max(1L, inTokens)))
  }
}
