package graft.tools

import graft.functions.{HashingEmbedder, TextFunctions}
import graft.operators.PipelineOps
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI verbs over the engine facade, mirroring the reference's commands
  * (`distill pipeline` — /root/reference/cmd/pipeline.go:56-120,
  * `distill analyze` — cmd/analyze.go:50-118): read a chunk JSONL, run the
  * dedup/compress pipeline (or the redundancy analysis), report per-stage
  * timings and token stats, optionally write the result. Zero egress:
  * missing embeddings come from the deterministic [[HashingEmbedder]].
  *
  * {{{
  *   sbt "runMain graft.tools.Pipeline --in chunks.jsonl --out /tmp/out"
  *   sbt "runMain graft.tools.Analyze --in chunks.jsonl"
  * }}}
  */
object Cli {
  /** Delegates to [[graft.core.GraftSession]] — the one place that knows the
    * engine's session defaults (AQE, UTC, nanosAsLong); a parallel builder
    * here once drifted from it. Only the app name is CLI-specific.
    */
  def session(name: String): SparkSession = {
    val s = graft.core.GraftSession
      .builder(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .appName(name)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def flag(args: Array[String], name: String): Boolean = args.contains(name)

  /** Chunk JSONL → (g, ck, orig_id, text, embedding, score): numeric chunk
    * key for the keyed pipeline, hash embeddings where the input has none,
    * quality score where scores are missing.
    */
  def loadChunks(spark: SparkSession, path: String, dim: Int) = {
    val raw = Sources.readChunkJsonl(spark, path)
    val hashed = new HashingEmbedder(dim).embed(raw, "text", "__hemb")
    hashed.select(
      lit(0L).as("g"),
      xxhash64(col("id")).as("ck"),
      col("id").as("orig_id"),
      coalesce(col("text"), lit("")).as("text"),
      coalesce(col("embedding"), col("__hemb")).as("embedding"),
      coalesce(col("score").cast("double"),
        TextFunctions.quality_score(coalesce(col("text"), lit("")))).as("score"))
  }
}

object Pipeline {
  def main(args: Array[String]): Unit = {
    val in = Cli.opt(args, "--in").getOrElse {
      System.err.println(
        "usage: Pipeline --in <chunks.jsonl> [--out <dir>] [--no-dedup] " +
          "[--no-compress] [--summarize] [--target-k N] [--dim N] " +
          "[--max-group-size N]")
      sys.exit(2)
    }
    val spark = Cli.session("graft-pipeline")
    val cfg = PipelineOps.PipelineConfig(
      dedupEnabled = !Cli.flag(args, "--no-dedup"),
      compressEnabled = !Cli.flag(args, "--no-compress"),
      summarizeEnabled = Cli.flag(args, "--summarize"),
      targetK = Cli.opt(args, "--target-k").map(_.toInt).getOrElse(8))
    val dim = Cli.opt(args, "--dim").map(_.toInt).getOrElse(64)
    // the whole file is one request group (the reference CLI's shape); the
    // per-group algorithms are O(N^2)+, so refuse huge inputs with a usable
    // message instead of dying on the operator's internal invariant
    val maxGroupSize = Cli.opt(args, "--max-group-size").map(_.toInt).getOrElse(10000)

    // per-stage timing report (the reference returns stage timings with
    // every pipeline response, contextlab/broker.go:165-190 — here each
    // stage is forced and timed; the chunk table persists so later stages
    // don't re-run earlier ones)
    def timed[T](stage: String)(body: => (Long, T)): T = {
      val t0 = System.nanoTime()
      val (rows, out) = body
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"""{"stage":"$stage","ms":$ms%.1f,"rows":$rows}""")
      out
    }

    val chunks = timed("read+embed") {
      val c = graft.util.OpCaches.trackPersist(Cli.loadChunks(spark, in, dim))
      val n = c.count()
      // the quadratic per-group algorithms only run when dedup is on; the
      // --no-dedup path is linear and takes any size
      if (cfg.dedupEnabled && n > maxGroupSize) {
        System.err.println(
          s"input has $n chunks but the dedup stage's per-group algorithms " +
            s"are quadratic; cap is $maxGroupSize. Raise --max-group-size if " +
            "you accept the cost, split the input into request groups, or " +
            "pass --no-dedup.")
        sys.exit(2)
      }
      (n, c)
    }
    val result = timed("dedup+compress") {
      val r = graft.util.OpCaches.trackPersist(
        PipelineOps.dedupPipeline(chunks, "g", "ck", "text", "embedding", "score", cfg,
          maxGroupSize = maxGroupSize)
          .join(chunks.select(col("ck"), col("orig_id")), "ck")
          .select(col("orig_id").as("id"), col("cluster_id"), col("mmr_rank"),
            col("score"), col("compressed")))
      (r.count(), r)
    }
    val stats = PipelineOps.pipelineStats(chunks, result, "text", "compressed").head()
    println(s"""{"stage":"stats","input_count":${stats.getAs[Long]("input_count")},""" +
      s""""input_tokens":${stats.getAs[Long]("input_tokens")},""" +
      s""""output_count":${stats.getAs[Long]("output_count")},""" +
      s""""output_tokens":${stats.getAs[Long]("output_tokens")},""" +
      f""""reduction_percent":${stats.getAs[Double]("reduction_percent")}%.2f}""")
    Cli.opt(args, "--out").foreach { out =>
      timed("write") {
        result.coalesce(1).write.mode("overwrite").json(out)
        (result.count(), ())
      }
    }
    graft.util.OpCaches.release()
    spark.stop()
  }
}

object Analyze {
  def main(args: Array[String]): Unit = {
    val in = Cli.opt(args, "--in").getOrElse {
      System.err.println("usage: Analyze --in <chunks.jsonl> [--threshold T] [--dim N]")
      sys.exit(2)
    }
    val spark = Cli.session("graft-analyze")
    val threshold = Cli.opt(args, "--threshold").map(_.toDouble).getOrElse(0.15)
    val dim = Cli.opt(args, "--dim").map(_.toInt).getOrElse(64)
    val chunks = Cli.loadChunks(spark, in, dim)
    val report = graft.GraftEngine.analyzeRedundancy(chunks, "g", "ck", "embedding", threshold)
      .join(chunks.select(col("ck").as("rep_ck"), col("orig_id")),
        col("member_ids")(0) === col("rep_ck"))
      .orderBy(col("size").desc, col("cluster_id"))
    // only the top-k report rows ever reach the driver (TakeOrderedAndProject)
    val rows = report.limit(20).collect()
    rows.foreach { r =>
      println(s"""{"cluster":${r.getAs[Long]("cluster_id")},"size":${r.getAs[Long]("size")},""" +
        s""""first_member":"${r.getAs[String]("orig_id")}","redundant":${r.getAs[Boolean]("is_redundant")}}""")
    }
    rows.headOption.foreach { r =>
      println(s"""{"n_chunks":${r.getAs[Long]("n_chunks")},"n_clusters":${r.getAs[Long]("n_clusters")},""" +
        f""""redundancy_ratio":${r.getAs[Double]("redundancy_ratio")}%.4f}""")
    }
    graft.util.OpCaches.release()
    spark.stop()
  }
}
