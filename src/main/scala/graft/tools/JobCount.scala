package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only evidence probe: Spark JOB count, generated-class compiles and
  * wall time per declared query — `runMain graft.tools.JobCount <sfDir> <q1>
  * [q2...]`. Job-launch count is the direct measure of the driver-side verb
  * overheads the metadata memoization removes (each launch is scheduling +
  * planning latency that data size cannot amortize); the compile count
  * (the `CodegenMetrics` compilation-count delta) shows how much of a
  * query's time is Janino compiling classes the codegen cache missed — a
  * query run twice should compile nothing the second time.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = graft.core.GraftSession.get(cores = 32)
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    args.tail.foreach { name =>
      jobs.set(0)
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      // listener events drain asynchronously; settle before reading
      Thread.sleep(500)
      println(f"[jobcount] $name%-28s ${jobs.get()}%4d jobs $compiled%4d compiles " +
        f"$dt%8.2f s  ($n rows)")
      graft.GraftEngine.releaseCaches()
    }
    spark.stop()
  }
}
