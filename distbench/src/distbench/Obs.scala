package distbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An output check failed: the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)
}

/** One span: a call into a layer, made from the benchmark. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Long, group: String)

/** Records spans (in memory) around layer calls and gives each span its own
  * Spark job group, so stage counters attribute to the call that ran them.
  * Disabled, it runs every body bare: that is the untraced run.
  */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Long = -1L
  /** Bytes written under the store/index roots, per kind of write. */
  val written = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val writes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Bytes of user input the writing ops carried. */
  var userBytes = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val idx = spans.length
      val group = s"distbench-op$op-$idx"
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op, group)
      stack = idx :: stack
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body
      finally {
        spans(idx) = spans(idx).copy(end = System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty("spark.jobGroup.id", prev)
      }
    }

  /** Count the bytes `body` writes under `roots` (each inode once). */
  def disk[T](kind: String, roots: Seq[Path])(body: => T): T =
    if (!enabled) body
    else {
      val before = Disk.snap(roots)
      val r = body
      written(kind) += Disk.written(before, Disk.snap(roots))
      writes(kind) += 1
      r
    }

  /** Self time of every span named `name`, in seconds: its duration minus
    * the part its child spans cover (children run on this thread, nested,
    * so they never overlap one another).
    */
  def selfTimes(name: String): Seq[Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.filter(spans(_).name == name)
      .map(i => (spans(i).end - spans(i).start - child(i)) / 1e9)
  }

  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op},"job_group":"${s.group}"}""").append('\n')
    }
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark task counters summed per job group, from the scheduler's own
  * listener events.
  */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var runMs = 0L; var gcMs = 0L; var inputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile private var drained = false
  private val DrainGroup = "distbench-drain"

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("distbench-op")).foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) {
      val tm = e.stageInfo.taskMetrics
      val a = acc(g)
      a.runMs += tm.executorRunTime
      a.gcMs += tm.jvmGCTime
      a.inputBytes += tm.inputMetrics.bytesRead
      a.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      a.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
    }
  }

  /** Wait until every event posted so far has been processed: the listener
    * bus is FIFO, so once a sentinel job's end has been seen, so has every
    * earlier job's.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val sentinel = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = drained = true
    }
    drained = false
    sc.addSparkListener(sentinel)
    try {
      sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
      sc.parallelize(Seq(0), 1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(5L)
    } finally sc.removeSparkListener(sentinel)
  }

  def sum(groups: Iterable[String])(f: Acc => Long): Long =
    groups.iterator.map(g => Option(byGroup.get(g)).map(f).getOrElse(0L)).sum
}

/** Storage accounting from outside: a walk of the roots, each inode once
  * (appends hard-link unchanged files into new versions).
  */
object Disk {
  /** (dev, inode) → size of every regular file under `roots`. */
  def snap(roots: Seq[Path]): Map[AnyRef, Long] = {
    val out = mutable.Map.empty[AnyRef, Long]
    roots.filter(Files.exists(_)).foreach { root =>
      val st = Files.walk(root)
      try st.forEach { p =>
        if (Files.isRegularFile(p)) {
          val a = Files.readAttributes(p, "unix:dev,ino,size")
          out((a.get("dev"), a.get("ino"))) = a.get("size").asInstanceOf[Long]
        }
      } finally st.close()
    }
    out.toMap
  }

  def bytes(s: Map[AnyRef, Long]): Long = s.values.sum

  /** Bytes in inodes that are new, or grew, between the two walks. */
  def written(before: Map[AnyRef, Long], after: Map[AnyRef, Long]): Long =
    after.iterator.map { case (k, n) => before.get(k).fold(n)(b => math.max(0L, n - b)) }.sum

  /** Data files under `root`: regular files not hidden by a `.` or `_` prefix. */
  private def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toList finally st.close()
    }

  def files(root: Path): Long = dataFiles(root).length.toLong

  def dataBytes(root: Path): Long = dataFiles(root).map(Files.size).sum

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally st.close()
    }
}

object Force {
  /** Evaluate every row and every column of `df` (an xor of whole-row
    * hashes, so Catalyst cannot prune any output column); returns the
    * executed plan, whose SQL metrics then hold this evaluation's counts.
    */
  def checksum(df: DataFrame): SparkPlan = {
    val agg = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")))
    agg.collect()
    agg.queryExecution.executedPlan
  }

  /** Sum of a SQL metric over an executed plan's nodes that match `node`,
    * looking through adaptive query stages and into the plan that built a
    * cached input.
    */
  def planMetric(plan: SparkPlan, node: SparkPlan => Boolean, metric: String): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(plan).filter(node).flatMap(_.metrics.get(metric)).map(_.value).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile that still has at least ten samples above
    * it (nearest rank), with that percentile. Fewer than 20 samples give
    * the maximum, reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted.toIndexedSeq; val n = s.length
    if (n == 0) return (0.0, 0)
    val hit = (99 to 50 by -1).find { p =>
      val idx = math.ceil(p / 100.0 * n).toInt - 1
      n - 1 - idx >= 10
    }
    hit match {
      case Some(p) => (s(math.ceil(p / 100.0 * n).toInt - 1), p)
      case None    => (s(n - 1), 100)
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Seconds per call of `body`, after three warm-up calls, timed over
    * enough repetitions to run ~0.2 s on this thread.
    */
  def perCall(body: => Unit): Double = {
    (0 until 3).foreach(_ => body)
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 2e8) { body; n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }
}
