package distbench

import graft.GraftEngine
import graft.core.GraftSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One op with its inputs built. Only `run` is timed: it makes the
  * program's calls and collects their full output. `check` then compares
  * that output with the planted structure and updates the workload's
  * mirrors; `layers` calls each layer on the op's inputs on its own, before
  * `run`, and changes no state `run` reads.
  */
final class Step[A](val items: Long, body: Tracer => A, verify: (A, Tracer) => Unit,
                    val layers: Tracer => Unit = (_: Tracer) => ()) {
  private var out: Option[A] = None
  def run(t: Tracer): Unit = out = Some(body(t))
  def check(t: Tracer): Unit = verify(out.get, t)
}

/** One workload: seeded inputs, a closed-loop mix of ops, their layer
  * decomposition and their per-layer metrics.
  */
trait Workload {
  /** Generate inputs, seed stores and indexes under `dir`. */
  def setup(dir: Path): Unit
  /** Op classes of one cycle of the mix: op i is of class cycle(i % length). */
  def cycle: IndexedSeq[String]
  /** Ops run once as warm-up after the last set-up (indices 0 until this). */
  def warmupOps: Int
  /** Ops of the traced phase: a fixed count, so every count repeats. */
  def traceOps: Int
  /** Build op `i`'s inputs; untimed. */
  def prepare(i: Long): Step[_]
  /** Single-threaded replays, on this thread, of the layers' pure kernels. */
  def kernels(): Map[String, Double] = Map.empty
  /** Per-layer metrics of the traced phase (the rest report 0), taken as
    * soon as it ends, so state-dependent figures repeat for a seed.
    */
  def layerMetrics(t: Tracer): Map[String, Double]
  /** Per-layer metrics of the untraced window's samples. */
  def classMetrics(untraced: Seq[Sample], mix: Mix): Map[String, Double]

  final def opClass(i: Long): String = cycle((i % cycle.length).toInt)
}

/** One timed op: its class, the seconds `run` took, its input items. */
final case class Sample(cls: String, latency: Double, items: Long)

/** Figures of a workload's op mix. Each class's statistic is weighted by
  * the class's share of a cycle's ops, so every class counts in proportion
  * to how often the mix runs it, however many samples of it one window
  * holds. Classes without a sample are left out and the shares of the rest
  * renormalized. With a single class these are the plain median, tail and
  * items per second of op time.
  */
final class Mix(cycle: Seq[String]) {
  val share: Map[String, Double] =
    cycle.groupBy(identity).map { case (c, xs) => c -> xs.length.toDouble / cycle.length }

  private def weighted(xs: Seq[Sample])(f: Seq[Sample] => Double): Double = {
    val g = xs.groupBy(_.cls)
    val w = g.keys.toSeq.map(share).sum
    if (w == 0) 0.0 else g.toSeq.map { case (c, ys) => share(c) * f(ys) }.sum / w
  }

  def p50(xs: Seq[Sample]): Double = weighted(xs)(ys => Stats.median(ys.map(_.latency)))
  def tail(xs: Seq[Sample]): Double = weighted(xs)(ys => Stats.tail(ys.map(_.latency))._1)
  /** Input items per second of op time. */
  def throughput(xs: Seq[Sample]): Double = {
    val t = weighted(xs)(ys => Stats.mean(ys.map(_.latency)))
    if (t == 0) 0.0 else weighted(xs)(ys => Stats.mean(ys.map(_.items.toDouble))) / t
  }
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg()

    val spark = GraftSession.get(cores = nproc)
    val w: Workload = name match {
      case "dedup_batch" => new DedupBatch(spark, seed)
      case "agent_state" => new AgentState(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val mix = new Mix(w.cycle)
    val tracer = new Tracer(spark, enabled = false)
    var attempted = 0L
    var failed = 0L

    def fail(i: Long, what: String, e: Throwable): Unit = {
      failed += 1
      e match {
        case c: CheckFailed => System.err.println(s"$what $i (${w.opClass(i)}) failed its check: ${c.getMessage}")
        case _ => System.err.println(s"$what $i (${w.opClass(i)}) threw:"); e.printStackTrace()
      }
    }

    /** Prepare (unless given), run (timed, caches released) and check op `i`. */
    def runOp(i: Long, prepared: Option[Step[_]] = None): Option[Sample] = {
      attempted += 1
      try {
        val step = prepared.getOrElse(w.prepare(i))
        val s = System.nanoTime()
        try tracer.span("op")(step.run(tracer)) finally GraftEngine.releaseCaches()
        val d = (System.nanoTime() - s) / 1e9
        step.check(tracer)
        Some(Sample(w.opClass(i), d, step.items))
      } catch { case NonFatal(e) => fail(i, "op", e); None }
    }

    /** Ops from `first` until `seconds` have passed and an op of every
      * class has run. With `alternate`, every second op of each class
      * runs traced, the first untraced. Returns (untraced, traced, next op).
      */
    def window(first: Long, alternate: Boolean): (Seq[Sample], Seq[Sample], Long) = {
      val untraced = mutable.ArrayBuffer.empty[Sample]
      val tracedOps = mutable.ArrayBuffer.empty[Sample]
      val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
      var i = first
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < seconds * 1e9 || !mix.share.keySet.forall(seen(_) > 0)) {
        val c = w.opClass(i)
        tracer.enabled = alternate && seen(c) % 2 == 1
        seen(c) += 1
        tracer.op = i
        runOp(i).foreach(s => if (tracer.enabled) tracedOps += s else untraced += s)
        tracer.enabled = false
        i += 1
      }
      (untraced.toSeq, tracedOps.toSeq, i)
    }

    // set-up (input generation, store and index seeding) several times, the
    // last one's state measured; then the warm-up ops, once, on that state
    val setupTimes = (0 until SetupReps).map { k =>
      if (k > 0) Disk.rm(work.resolve(s"rep${k - 1}"))
      val t0 = System.nanoTime()
      w.setup(work.resolve(s"rep$k"))
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    (0 until w.warmupOps).foreach(j => runOp(j.toLong))
    val warmup = (System.nanoTime() - warm0) / 1e9
    val first = w.warmupOps.toLong

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap.empty[String, String]
    def recordWindow(xs: Seq[Sample]): Unit = {
      record("ops") = xs.length.toString
      record("items") = xs.map(_.items).sum.toString
      record("classes") = xs.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, ys) =>
        val (tl, pct) = Stats.tail(ys.map(_.latency))
        s""""$c": {"ops": ${ys.length}, "share": ${fmt(mix.share(c))}, "p50_s": ${fmt(Stats.median(ys.map(_.latency)))}, """ +
          s""""tail_s": ${fmt(tl)}, "tail_percentile": $pct}"""
      }.mkString("{", ", ", "}")
      record("latencies_s") = xs.map(s => f""""${s.cls}:${s.latency}%.3f"""").mkString("[", ",", "]")
    }

    if (!traced) {
      val (xs, _, _) = window(first, alternate = false)
      metrics("setup_s") = (Stats.median(setupTimes) + warmup, "s")
      metrics("items_per_s") = (mix.throughput(xs), "items/s")
      metrics("batch_p50_s") = (mix.p50(xs), "s")
      metrics("batch_tail_s") = (mix.tail(xs), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      recordWindow(xs)
    } else {
      // traced phase: a fixed number of ops, each after its layers, so
      // every count repeats
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      tracer.enabled = true
      val opSpans = mutable.ArrayBuffer.empty[Span]
      var items = 0L
      var trackedMax = 0L
      (first until first + w.traceOps).foreach { i =>
        tracer.op = i
        val step = try Some(w.prepare(i)) catch { case NonFatal(e) => fail(i, "op", e); None }
        step.foreach { st =>
          try tracer.span("layers")(st.layers(tracer))
          catch { case NonFatal(e) => fail(i, "layers of op", e) }
          finally GraftEngine.releaseCaches()
        }
        val before = tracer.spans.length
        if (step.isDefined) runOp(i, step).foreach(s => items += s.items) else attempted += 1
        if (tracer.spans.length > before) opSpans += tracer.spans(before)
        trackedMax = math.max(trackedMax, graft.util.OpCaches.trackedCount.toLong)
      }
      counters.drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      tracer.enabled = false
      val phaseSpans = tracer.spans.length
      val layer = w.layerMetrics(tracer) ++ w.kernels()

      // an op's counters are those of its own span and every span under it
      val inOp = mutable.Set.empty[Int]
      (0 until phaseSpans).foreach { k =>
        val s = tracer.spans(k)
        if (s.name == "op" && s.parent < 0 || s.parent >= 0 && inOp(s.parent)) inOp += k
      }
      val groups = inOp.toSeq.map(tracer.spans(_).group)
      val opWall = opSpans.map(s => (s.end - s.start) / 1e9).toSeq
      val nOps = math.max(1, opSpans.length).toDouble
      val perItem = (x: Long) => if (items > 0) x.toDouble / items else 0.0

      // then a window whose ops of each class alternate untraced and traced
      val (unt, tr, _) = window(first + w.traceOps, alternate = true)
      val all = layer ++ w.classMetrics(unt, mix)
      PerLayer.all.foreach { case (k, unit) => metrics(k) = (all.getOrElse(k, 0.0), unit) }
      metrics("spark.shuffle_write_bytes_per_item") =
        (perItem(counters.sum(groups)(_.shuffleWriteBytes)), "bytes")
      metrics("spark.input_bytes_per_item") = (perItem(counters.sum(groups)(_.inputBytes)), "bytes")
      metrics("spark.spill_bytes") = (counters.sum(groups)(_.spillBytes) / nOps, "bytes")
      metrics("spark.gc_s") = (counters.sum(groups)(_.gcMs) / 1e3 / nOps, "s")
      metrics("spark.jobs_per_op") = (counters.sum(groups)(_.jobs) / nOps, "count")
      metrics("spark.cpu_busy_ratio") =
        (counters.sum(groups)(_.runMs) / 1e3 / math.max(1e-9, opWall.sum * nproc), "ratio")
      metrics("util.opcaches.tracked_after_release") = (trackedMax.toDouble, "count")
      // tracing overhead: traced against untraced ops of the same classes,
      // interleaved in one window
      val matched = unt.map(_.cls).toSet intersect tr.map(_.cls).toSet
      val (mu, mt) = (unt.filter(s => matched(s.cls)), tr.filter(s => matched(s.cls)))
      metrics("trace.overhead.items_per_s") = (mix.throughput(mt) - mix.throughput(mu), "items/s")
      metrics("trace.overhead.batch_p50_s") = (mix.p50(mt) - mix.p50(mu), "s")
      metrics("trace.overhead.batch_tail_s") = (mix.tail(mt) - mix.tail(mu), "s")
      record("traced_ops") = opSpans.length.toString
      record("overhead_ops") = s"[${mu.length}, ${mt.length}]"
      record("overhead_classes") = matched.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      recordWindow(unt)
      record("spans") = tracer.spans.length.toString
      val tracePath = work.getParent.getParent.resolve("traces").resolve(s"$name-seed$seed.jsonl")
      tracer.write(tracePath)
      record("trace_file") = "\"" + tracePath.toString + "\""
    }

    record("jdk") = "\"" + System.getProperty("java.version") + "\""
    record("spark") = "\"" + org.apache.spark.SPARK_VERSION + "\""
    record("spark_cores") = nproc.toString
    record("load_start") = load0
    record("load_end") = loadAvg()
    record("setup_reps") = setupTimes.map(fmt).mkString("[", ",", "]")
    record("warmup_s") = fmt(warmup)
    spark.stop()

    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val result =
      s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": $ms}"""
    val rec = record.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    Files.write(out, (rec + "\n" + result + "\n").getBytes("UTF-8"))
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def loadAvg(): String =
    "\"" + new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").take(3).mkString(" ") + "\""

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Every per-layer metric, with its unit. A workload that does not load a
  * layer reports 0 for it.
  */
object PerLayer {
  val all: Map[String, String] = scala.collection.immutable.ListMap(
    "chunks_per_s" -> "chunks/s",
    "queries_per_s" -> "queries/s",
    "agent_ops_per_s" -> "ops/s",
    "docs_per_s" -> "docs/s",
    "mem_write_p50_s" -> "s",
    "mem_write_tail_s" -> "s",
    "mem_recall_p50_s" -> "s",
    "mem_recall_tail_s" -> "s",
    "session_push_p50_s" -> "s",
    "session_read_p50_s" -> "s",
    "write_amp" -> "ratio",
    "space_amp" -> "ratio",
    "trace.overhead.items_per_s" -> "items/s",
    "trace.overhead.batch_p50_s" -> "s",
    "trace.overhead.batch_tail_s" -> "s",
    "operators.cluster.agglomerate_ms_per_group" -> "ms",
    "operators.cluster.merges_per_group" -> "count",
    "operators.mmr.select_ms_per_group" -> "ms",
    "text.compress.extract_us_per_chunk" -> "us",
    "operators.pipeline.cluster_s" -> "s",
    "operators.pipeline.select_s" -> "s",
    "operators.pipeline.mmr_s" -> "s",
    "operators.pipeline.compress_s" -> "s",
    "operators.knn.topk_s" -> "s",
    "operators.knn.pairs_scored" -> "count",
    "operators.knn.useful_ratio" -> "ratio",
    "functions.vector.cosine_ns_per_pair" -> "ns",
    "operators.broker.cluster_s" -> "s",
    "operators.broker.mmr_s" -> "s",
    "operators.memory.write_dedup_s" -> "s",
    "operators.memory.pairs_compared" -> "count",
    "core.tablestore.commit_s" -> "s",
    "core.tablestore.bytes_written_per_commit" -> "bytes",
    "core.tablestore.files_per_version" -> "count",
    "operators.memory.recall_s" -> "s",
    "operators.memory.decay_s" -> "s",
    "core.sketch.lookup_s" -> "s",
    "core.sketch.files_opened_per_lookup" -> "count",
    "core.sketch.append_s" -> "s",
    "core.sketch.bytes_written_per_append" -> "bytes",
    "operators.session.push_dedup_s" -> "s",
    "operators.session.context_s" -> "s",
    "functions.text.shingle_us_per_doc" -> "us",
    "operators.dedup.signature_s" -> "s",
    "operators.dedup.bloom_prefilter_s" -> "s",
    "operators.dedup.probe_s" -> "s",
    "operators.dedup.append_s" -> "s",
    "operators.dedup.compact_s" -> "s",
    "operators.dedup.index_files" -> "count",
    "spark.shuffle_write_bytes_per_item" -> "bytes",
    "spark.input_bytes_per_item" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "spark.jobs_per_op" -> "count",
    "spark.cpu_busy_ratio" -> "ratio",
    "util.opcaches.tracked_after_release" -> "count",
    "dedup.kept_ratio" -> "ratio",
    "dedup.token_reduction" -> "ratio",
    "operators.memory.dedup_hit_ratio" -> "ratio",
    "operators.dedup.neardup_recall" -> "ratio")
}
