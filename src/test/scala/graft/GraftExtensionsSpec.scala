package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // Extensions bind at session construction, and getOrCreate would hand back
  // the (extension-less) session other suites share — so detach the default
  // session, build a fresh one on the same SparkContext, and restore after.
  private var previousDefault: Option[SparkSession] = None

  private lazy val spark: SparkSession = {
    previousDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // the engine's builder: if this suite creates the shared SparkContext,
    // its static confs (the generated-code cache size) are the engine's
    val s = graft.core.GraftSession.builder(2)
      .appName("graft-extensions-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    previousDefault.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    super.afterAll()
  }

  test("extension-injected SQL functions resolve without manual registration") {
    import spark.implicits._
    Seq((Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b").createOrReplaceTempView("ext_v")
    val d = spark.sql("SELECT cosine_distance(a, b) AS d FROM ext_v").head().getDouble(0)
    assert(math.abs(d - 1.0) < 1e-12)
    // the hash family too — simhash64 must equal the static kernel
    val sh = spark.sql("SELECT simhash64('alpha beta') AS h").head().getLong(0)
    assert(sh == graft.functions.HashKernels.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta")))
  }

  test("optimizer strips redundant normalization inside cosine") {
    import spark.implicits._
    val df = Seq((Seq(3f, 4f), Seq(4f, 3f))).toDF("a", "b")
    val q = df.select(graft.functions.GraftFunctions.cosine_similarity(
      graft.functions.GraftFunctions.l2_normalize(col("a")),
      graft.functions.GraftFunctions.l2_normalize(col("b"))).as("s"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("l2_normalize"), optimized)
    // value unchanged (cosine is scale-invariant)
    assert(math.abs(q.head().getDouble(0) - 24.0 / 25.0) < 1e-6)
  }

  // parquet-backed input below: literal inputs would be constant-folded
  // before the rewritten expressions become visible in the plan
  private lazy val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("optimizer collapses double normalization") {
    val q = emb.select(graft.functions.GraftFunctions.l2_normalize(
      graft.functions.GraftFunctions.l2_normalize(col("embedding"))).as("n"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert("l2_normalize".r.findAllIn(optimized).size == 1, optimized)
    assert(q.head().getSeq[Float](0).map(x => x.toDouble * x).sum > 0.999)
  }

  test("distance thresholds canonicalize to similarity form") {
    val q = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
      .filter(graft.functions.GraftFunctions.cosine_distance(
        col("x.embedding"), col("y.embedding")) < 0.8)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_similarity"), optimized)
    assert(!optimized.contains("cosine_distance"), optimized)
    // equivalent predicate: same rows as the unrewritten similarity form
    val expected = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
      .filter(graft.functions.GraftFunctions.cosine_similarity(
        col("x.embedding"), col("y.embedding")) > 0.2)
      .count()
    assert(q.count() == expected && expected > 0)
  }

  test("LshJoinRewrite turns a cosine theta join into a banded keyed join when enabled") {
    import spark.implicits._
    val sim = graft.functions.GraftFunctions.cosine_similarity _
    // 30 distinct base vectors + exact copies with shifted ids: copy pairs
    // collide in every band, so even the approximate plan must find them all
    val rng = new scala.util.Random(3)
    val base = (0L until 30L).map(i => i -> Array.fill(16)(rng.nextFloat() * 2f - 1f).toSeq)
    val l = base.toDF("lid", "lemb")
    val r = base.map { case (i, v) => (i + 1000L) -> v }.toDF("rid", "remb")
    def thetaJoin() = l.join(r, sim(col("lemb"), col("remb")) > lit(0.95))
      .select(col("lid"), col("rid"))

    // disabled (default): the theta join stays a nested-loop plan
    val off = thetaJoin().queryExecution.executedPlan.toString
    assert(off.contains("BroadcastNestedLoopJoin") || off.contains("CartesianProduct"))

    spark.conf.set("spark.graft.lshJoinRewrite.enabled", "true")
    try {
      val q = thetaJoin()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rewrite did not fire:\n${plan.take(1500)}")
      assert(plan.contains("hyperplane_sig") || plan.contains("__bkey"),
        "banded join artifacts missing from plan")
      val got = q.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      // exact copies share every band -> all 30 planted pairs survive; at
      // sim > 0.95 random 16-dim pairs essentially never qualify, and any
      // that did must also appear in the exact join
      val exact = (0L until 30L).map(i => (i, i + 1000L)).toSet
      assert(exact.subsetOf(got), s"missing planted pairs: ${(exact -- got).take(5)}")
      assert(got.forall { case (a, b) => thetaJoinExactCheck(base, a, b) })
    } finally spark.conf.set("spark.graft.lshJoinRewrite.enabled", "false")
  }

  private def thetaJoinExactCheck(base: Seq[(Long, Seq[Float])], a: Long, b: Long): Boolean = {
    val va = base.find(_._1 == a).get._2
    val vb = base.find(_._1 == b - 1000L).get._2
    val dot = va.zip(vb).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(va.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
    dot / (na * nb) > 0.95
  }

  test("LshJoinRewrite composes with distance canonicalization") {
    import spark.implicits._
    val dist = graft.functions.GraftFunctions.cosine_distance _
    val rng = new scala.util.Random(5)
    val base = (0L until 10L).map(i => i -> Array.fill(16)(rng.nextFloat() * 2f - 1f).toSeq)
    val l = base.toDF("lid", "lemb")
    val r = base.map { case (i, v) => (i + 500L) -> v }.toDF("rid", "remb")
    spark.conf.set("spark.graft.lshJoinRewrite.enabled", "true")
    try {
      // written as cosine_distance < t: VectorExprSimplification rewrites it
      // to cosine_similarity > 1-t, which the LSH rule then picks up
      val q = l.join(r, dist(col("lemb"), col("remb")) < lit(0.05))
        .select(col("lid"), col("rid"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"distance-form join not rewritten:\n${plan.take(1200)}")
      val got = q.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      assert((0L until 10L).map(i => (i, i + 500L)).toSet.subsetOf(got))
    } finally spark.conf.set("spark.graft.lshJoinRewrite.enabled", "false")
  }

  test("LshJoinRewrite leaves equi-key joins and low thresholds alone") {
    import spark.implicits._
    val sim = graft.functions.GraftFunctions.cosine_similarity _
    val df = Seq((1L, 1L, Seq(1f, 0f)), (2L, 1L, Seq(0f, 1f))).toDF("id", "k", "emb")
    spark.conf.set("spark.graft.lshJoinRewrite.enabled", "true")
    try {
      // equi key present: untouched (no banding artifacts)
      val equi = df.as("a").join(df.as("b"),
        col("a.k") === col("b.k") && sim(col("a.emb"), col("b.emb")) > lit(0.9))
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__bkey"))
      // threshold below minSim: untouched
      val low = df.as("a").join(df.as("b"), sim(col("a.emb"), col("b.emb")) > lit(0.3))
      assert(!low.queryExecution.optimizedPlan.toString.contains("__bkey"))
    } finally spark.conf.set("spark.graft.lshJoinRewrite.enabled", "false")
  }
}
