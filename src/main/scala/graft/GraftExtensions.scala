package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BitwiseAnd, BitwiseXor, CaseWhen, CreateArray, EqualTo, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, LessThan, Literal, PosExplode, ShiftRight}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}

/** Cluster-wide registration entry point:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * injects the vector functions into every session's FunctionRegistry and
  * adds [[VectorExprSimplification]] to the optimizer. (Per-session
  * programmatic registration remains available via
  * [[graft.functions.GraftFunctions.register]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def info(name: String) = new ExpressionInfo(classOf[GraftExtensions].getName, name)
    e.injectFunction((FunctionIdentifier("cosine_similarity"), info("cosine_similarity"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("cosine_distance"), info("cosine_distance"),
      (es: Seq[Expression]) => CosineDistance(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("dot_product"), info("dot_product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("euclidean_distance"), info("euclidean_distance"),
      (es: Seq[Expression]) => EuclideanDistance(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("l2_norm"), info("l2_norm"),
      (es: Seq[Expression]) => L2Norm(es.head)))
    e.injectFunction((FunctionIdentifier("l2_normalize"), info("l2_normalize"),
      (es: Seq[Expression]) => L2Normalize(es.head)))
    e.injectFunction((FunctionIdentifier("content_hash"), info("content_hash"),
      (es: Seq[Expression]) => ContentHash(es.head)))
    e.injectFunction((FunctionIdentifier("splitmix64"), info("splitmix64"),
      (es: Seq[Expression]) => SplitMix64(es.head)))
    e.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    e.injectOptimizerRule(_ => VectorExprSimplification)
    e.injectOptimizerRule(_ => LshJoinRewrite)
    e.injectOptimizerRule(_ => SketchJoinDispatch)
    e.injectOptimizerRule(_ => MetadataAggCollapse)
    e.injectOptimizerRule(_ => OrderedLimitPushdown)
  }
}

/** Algebraic simplifications for the vector expressions:
  *
  *  1. cosine over normalized inputs — cosine similarity/distance is
  *     scale-invariant, so `cosine_*(l2_normalize(x), y)` ≡ `cosine_*(x, y)`
  *     (each elided normalization removes a full vector pass and a rounding
  *     step; the unnormalized computation is the more accurate one).
  *  2. double normalization — `l2_normalize` is idempotent.
  *  3. threshold-predicate canonicalization —
  *     `cosine_distance(a,b) < t` ⇔ `cosine_similarity(a,b) > 1-t` when `t`
  *     is a foldable literal; similarity form skips the final subtraction per
  *     row and keeps equivalent predicates in one canonical shape for reuse.
  */
object VectorExprSimplification extends Rule[LogicalPlan] {
  private def stripNorm(e: Expression): Expression = e match {
    case L2Normalize(inner) => stripNorm(inner)
    case other              => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSimilarity(a @ L2Normalize(_), b) => CosineSimilarity(stripNorm(a), stripNorm(b))
    case CosineSimilarity(a, b @ L2Normalize(_)) => CosineSimilarity(stripNorm(a), stripNorm(b))
    case CosineDistance(a @ L2Normalize(_), b)   => CosineDistance(stripNorm(a), stripNorm(b))
    case CosineDistance(a, b @ L2Normalize(_))   => CosineDistance(stripNorm(a), stripNorm(b))
    case L2Normalize(inner @ L2Normalize(_))     => inner
    case LessThan(CosineDistance(a, b), Literal(t: Double, dt)) =>
      GreaterThan(CosineSimilarity(a, b), Literal(1.0 - t, dt))
    case GreaterThan(CosineDistance(a, b), Literal(t: Double, dt)) =>
      LessThan(CosineSimilarity(a, b), Literal(1.0 - t, dt))
  }
}

/** SURVEY §4 item 3 — the 100 TB rewrite: a cosine-similarity theta join
  * with no equi keys plans as a broadcast-nested-loop / cartesian product
  * (O(|L|·|R|) comparisons). When this rule is enabled it rewrites
  *
  * {{{ L ⋈_{cosine_similarity(l.emb, r.emb) > τ [∧ p]} R }}}
  *
  * into hyperplane-LSH banding: both sides explode to (band, bandKey)
  * bucket keys, join on the bucket (a keyed hash join), keep each matching
  * pair once via the FIRST colliding band (a predicate on the two
  * signatures — no Distinct, so duplicate input rows keep exact join
  * multiplicity), and re-verify the original condition on the candidates.
  *
  * The rewrite is APPROXIMATE: pairs whose signatures collide in no band
  * are lost (recall rises as τ → 1 and with fewer bits per band). It is
  * therefore OFF by default and explicitly opt-in:
  *
  *   - `spark.graft.lshJoinRewrite.enabled`  (default false)
  *   - `spark.graft.lshJoinRewrite.planes`   (default 32)
  *   - `spark.graft.lshJoinRewrite.bandBits` (default 8)
  *   - `spark.graft.lshJoinRewrite.minSim`   (default 0.7; joins with a
  *     lower threshold are left alone — banding recall would be poor)
  *
  * Joins that already carry an equi predicate are never touched (Catalyst
  * plans those as hash joins on its own).
  */
object LshJoinRewrite extends Rule[LogicalPlan] {
  private val seed = 42L

  private def enabled: Boolean =
    conf.getConfString("spark.graft.lshJoinRewrite.enabled", "false").toBoolean
  private def planes: Int =
    conf.getConfString("spark.graft.lshJoinRewrite.planes", "32").toInt
  private def bandBits: Int =
    conf.getConfString("spark.graft.lshJoinRewrite.bandBits", "8").toInt
  private def minSim: Double =
    conf.getConfString("spark.graft.lshJoinRewrite.minSim", "0.7").toDouble

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  /** The sim conjunct (lEmb, rEmb, threshold) if `c` is one, oriented so
    * lEmb comes from `left`.
    */
  private def simConjunct(c: Expression, left: LogicalPlan, right: LogicalPlan)
  : Option[(Expression, Expression)] = {
    def orient(a: Expression, b: Expression): Option[(Expression, Expression)] =
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some((a, b))
      else if (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
        Some((b, a))
      else None
    c match {
      case GreaterThan(CosineSimilarity(a, b), Literal(t: Double, _))
          if t >= minSim && isFloatArray(a) && isFloatArray(b) => orient(a, b)
      case GreaterThanOrEqual(CosineSimilarity(a, b), Literal(t: Double, _))
          if t >= minSim && isFloatArray(a) && isFloatArray(b) => orient(a, b)
      case LessThan(Literal(t: Double, _), CosineSimilarity(a, b))
          if t >= minSim && isFloatArray(a) && isFloatArray(b) => orient(a, b)
      case _ => None
    }
  }

  private def hasEquiKey(conjuncts: Seq[Expression], left: LogicalPlan,
                         right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
      case _ => false
    }

  /** Project the side with its signature, then explode to (band, bkey). */
  private def banded(side: LogicalPlan, emb: Expression, tag: String)
  : (LogicalPlan, Attribute, Attribute, Attribute) = {
    val bands = planes / bandBits
    val mask = (1L << bandBits) - 1
    val sigAlias = Alias(HyperplaneSig(emb, planes, seed), s"__hsig_$tag")()
    val projected = Project(side.output :+ sigAlias, side)
    val sig = sigAlias.toAttribute
    val bandArray = CreateArray((0 until bands).map(i =>
      BitwiseAnd(ShiftRight(sig, Literal(i * bandBits)), Literal(mask))))
    val bandAttr = AttributeReference(s"__band_$tag", IntegerType, nullable = false)()
    val keyAttr = AttributeReference(s"__bkey_$tag", LongType, nullable = true)()
    val gen = Generate(PosExplode(bandArray), unrequiredChildIndex = Nil,
      outer = false, qualifier = None,
      generatorOutput = Seq(bandAttr, keyAttr), child = projected)
    (gen, sig, bandAttr, keyAttr)
  }

  /** band == first band where the two signatures agree — keeps each
    * candidate pair exactly once without a Distinct.
    */
  private def firstCollidingBand(sigL: Expression, sigR: Expression): Expression = {
    val bands = planes / bandBits
    val xor = BitwiseXor(sigL, sigR)
    val branches = (0 until bands).map { i =>
      val bandMask = Literal(((1L << bandBits) - 1) << (i * bandBits))
      (EqualTo(BitwiseAnd(xor, bandMask), Literal(0L)), Literal(i): Expression)
    }
    CaseWhen(branches, None)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || planes % bandBits != 0) return plan
    plan.transform {
      case Join(left, right, Inner, Some(cond), _)
          if {
            val conjuncts = splitConj(cond)
            !hasEquiKey(conjuncts, left, right) &&
              conjuncts.exists(c => simConjunct(c, left, right).isDefined)
          } =>
        val conjuncts = splitConj(cond)
        val (lEmb, rEmb) = conjuncts.flatMap(c => simConjunct(c, left, right)).head
        val (bl, sigL, bandL, keyL) = banded(left, lEmb, "l")
        val (br, sigR, bandR, keyR) = banded(right, rEmb, "r")
        val joinCond = And(And(EqualTo(bandL, bandR), EqualTo(keyL, keyR)),
          EqualTo(bandL, firstCollidingBand(sigL, sigR)))
        val joined = Join(bl, br, Inner, Some(joinCond), JoinHint.NONE)
        Filter(cond, Project(left.output ++ right.output, joined))
    }
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case other     => Seq(other)
  }
}

/** Shared expression/metadata helpers for the layout-aware optimizer rules
  * ([[MetadataAggCollapse]], [[OrderedLimitPushdown]],
  * [[SketchJoinDispatch]]) — ONE definition of "which types' layout
  * metadata is a faithful Long", "which filter shapes become per-column
  * intervals", and "which expressions are monotone bucketings", so the
  * rules can never drift apart on literal handling or unit semantics
  * (they used to carry near-verbatim copies of `intervalsOf`).
  */
private[graft] object LayoutExprs {
  import org.apache.spark.sql.catalyst.expressions.{Cast, IntegralDivide, IsNotNull, LessThanOrEqual, Multiply, UnixMicros}
  import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType => IntType, LongType => LType, ShortType, TimestampNTZType, TimestampType}

  def integral(dt: DataType): Boolean = dt match {
    case LType | IntType | ShortType | ByteType => true
    case _ => false
  }

  /** Types whose layout metadata is a faithful Long: the integrals
    * (identity) and the temporal types, whose Catalyst-internal value IS
    * micros-since-epoch / days-since-epoch — [[graft.core.LayoutLong]]
    * commits their windows in exactly those units, so a stored window
    * endpoint can be handed back as the min/max VALUE, not just used for
    * pruning. (Doubles are excluded: their `CAST AS BIGINT` stats floor.)
    */
  def longBacked(dt: DataType): Boolean = integral(dt) || (dt match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  })

  /** A stored metadata Long handed back in `dt`'s INTERNAL representation
    * (timestamps = the micros Long, dates = the days Int).
    */
  def toTyped(v: Option[Long], dt: DataType): Any = (v, dt) match {
    case (None, _) => null
    case (Some(x), LType) => x
    case (Some(x), IntType) => x.toInt
    case (Some(x), ShortType) => x.toShort
    case (Some(x), ByteType) => x.toByte
    case (Some(x), TimestampType) => x
    case (Some(x), TimestampNTZType) => x
    case (Some(x), DateType) => x.toInt
    case _ => null // unreachable: longBacked() gates the match arms
  }

  /** Exact Long sum — throws [[ArithmeticException]] on overflow. Rule
    * arms catch it and bail to the UNrewritten plan, which then
    * reproduces each EvalMode's own overflow semantics (ANSI raises,
    * LEGACY wraps) instead of silently answering a wrapped total from
    * metadata.
    */
  def sumExact(parts: Seq[Long]): Long = parts.foldLeft(0L)(Math.addExact)

  /** Per-column CLOSED intervals when every conjunct of every condition
    * is a range/equality comparison between an ALLOWED column and a
    * long-backed literal, or an IsNotNull on one. None when any conjunct
    * is anything else. Strict bounds saturate; contradictory conjuncts
    * produce an empty (lo > hi) interval, which admits zero rows —
    * exactly the predicate's truth.
    *
    * IsNotNull handling is two-tiered: on a `nonNullGuarded` column (the
    * layout commit guards it non-null) it is a true no-op; on any other
    * allowed column it adds a FULL-RANGE interval entry — the entry
    * restricts nothing numerically, but it forces consumers that prove
    * per-shard containment to run their non-null proof for that column
    * (a shard with nulls has rows IsNotNull rejects, so "window inside
    * interval" alone would overcount).
    */
  /** One string equality/IN conjunct: (attribute, wanted labels). The
    * CALLER checks the attribute is its relation's own labelCols column.
    */
  def stringEqOf(e: Expression): Option[(AttributeReference, Set[String])] = {
    def str(l: Literal): Option[String] = l.value match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        str(l).map(v => a -> Set(v))
      case EqualTo(l: Literal, a: AttributeReference) =>
        str(l).map(v => a -> Set(v))
      case org.apache.spark.sql.catalyst.expressions.In(
          a: AttributeReference, list)
          if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        val vs = list.flatMap(x => str(x.asInstanceOf[Literal]))
        if (vs.length == list.length) Some(a -> vs.toSet) else None
      case _ => None
    }
  }

  def intervalsOf(conds: Seq[Expression], guarded: Set[String])
  : Option[Map[String, (Long, Long)]] =
    intervalsOf(conds, guarded, guarded)

  def intervalsOf(conds: Seq[Expression], allowed: Set[String],
                  nonNullGuarded: Set[String])
  : Option[Map[String, (Long, Long)]] = {
    val guarded = allowed
    def litL(l: Literal): Option[Long] = l.value match {
      case x: Long => Some(x)
      case x: Int => Some(x.toLong)
      case x: Short => Some(x.toLong)
      case x: Byte => Some(x.toLong)
      case _ => None
    }
    var iv = Map.empty[String, (Long, Long)]
    def restrict(c: String, lo: Long, hi: Long): Boolean = {
      val (l0, h0) = iv.getOrElse(c, (Long.MinValue, Long.MaxValue))
      iv = iv.updated(c, (math.max(l0, lo), math.min(h0, hi)))
      true
    }
    def above(c: String, v: Long): Boolean = // x > v
      if (v == Long.MaxValue) restrict(c, 1L, 0L) else restrict(c, v + 1, Long.MaxValue)
    def below(c: String, v: Long): Boolean = // x < v
      if (v == Long.MinValue) restrict(c, 1L, 0L) else restrict(c, Long.MinValue, v - 1)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case o => Seq(o)
    }
    val ok = conds.flatMap(conjuncts).forall {
      case IsNotNull(a: AttributeReference) if guarded(a.name) =>
        nonNullGuarded(a.name) || restrict(a.name, Long.MinValue, Long.MaxValue)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, v, Long.MaxValue))
      case LessThanOrEqual(a: AttributeReference, l: Literal) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, Long.MinValue, v))
      case GreaterThan(a: AttributeReference, l: Literal) if guarded(a.name) =>
        litL(l).exists(v => above(a.name, v))
      case LessThan(a: AttributeReference, l: Literal) if guarded(a.name) =>
        litL(l).exists(v => below(a.name, v))
      case EqualTo(a: AttributeReference, l: Literal) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, v, v))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, Long.MinValue, v))
      case LessThanOrEqual(l: Literal, a: AttributeReference) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, v, Long.MaxValue))
      case GreaterThan(l: Literal, a: AttributeReference) if guarded(a.name) =>
        litL(l).exists(v => below(a.name, v))
      case LessThan(l: Literal, a: AttributeReference) if guarded(a.name) =>
        litL(l).exists(v => above(a.name, v))
      case EqualTo(l: Literal, a: AttributeReference) if guarded(a.name) =>
        litL(l).exists(v => restrict(a.name, v, v))
      case _ => false
    }
    if (ok) Some(iv) else None
  }

  /** A monotone integral bucketing of one layout attribute — the shapes
    * the GROUP-BY collapse and the ordered-limit pushdown understand:
    * `a`, `a div n`, `(a div n) * m`, `date_trunc(level, ts)` under UTC,
    * and `unix_micros(...)` around any of the timestamp forms. `bucket`
    * replicates Spark's evaluation exactly and is monotone NON-DECREASING
    * in the stored Long (truncating division by a positive constant;
    * calendar floor), so equal buckets at a shard's two exact window
    * endpoints prove EVERY row of the shard falls in ONE group. `label`
    * is the group VALUE in the expression's result type (internal
    * representation); a multiply folds into the label only, while
    * containment tests stay on the finer `bucket` (sound: bucket-equal
    * implies label-equal, and equal labels ARE the same SQL group even
    * when different buckets collide, e.g. `* 0`). `monotoneLabel` marks
    * the labels themselves monotone non-decreasing in the stored Long —
    * what the ORDERED-limit consumer needs (a `* -3` label flips order
    * and is excluded there, while the GROUP-BY consumer doesn't care).
    */
  final case class Bucketing(attr: AttributeReference,
                             bucket: Long => Long,
                             label: Long => Any,
                             monotoneLabel: Boolean)

  def bucketingOf(e: Expression): Option[Bucketing] = {
    def underlying(x: Expression): Option[AttributeReference] = x match {
      case a: AttributeReference if integral(a.dataType) => Some(a)
      case c: Cast if c.dataType == LType =>
        c.child match {
          case a: AttributeReference if integral(a.dataType) => Some(a)
          case _ => None
        }
      case _ => None
    }
    def posLit(x: Expression): Option[Long] = x match {
      case Literal(n: Long, LType) if n > 0 => Some(n)
      case Literal(n: Int, IntType) if n > 0 => Some(n.toLong)
      case _ => None
    }
    def divOf(x: Expression): Option[(AttributeReference, Long)] = x match {
      case d: IntegralDivide =>
        underlying(d.left).flatMap(a => posLit(d.right).map(n => (a, n)))
      case _ => None
    }
    e match {
      case a: AttributeReference if longBacked(a.dataType) =>
        Some(Bucketing(a, v => v, v => toTyped(Some(v), a.dataType),
          monotoneLabel = true))
      case d: IntegralDivide =>
        divOf(d).map { case (a, n) =>
          Bucketing(a, v => v / n, v => (v / n): Any, monotoneLabel = true)
        }
      case m: Multiply =>
        def longLit(x: Expression): Option[Long] = x match {
          case Literal(v: Long, LType) => Some(v)
          case _ => None
        }
        // label multiplication via multiplyExact: an overflowing label is
        // an overflow the SCAN plan must adjudicate per its EvalMode —
        // the rule arms catch the exception and bail
        (divOf(m.left), longLit(m.right), longLit(m.left), divOf(m.right)) match {
          case (Some((a, n)), Some(mm), _, _) =>
            Some(Bucketing(a, v => v / n,
              v => Math.multiplyExact(v / n, mm): Any, monotoneLabel = mm > 0))
          case (_, _, Some(mm), Some((a, n))) =>
            Some(Bucketing(a, v => v / n,
              v => Math.multiplyExact(v / n, mm): Any, monotoneLabel = mm > 0))
          case _ => None
        }
      // date_trunc('day'|'hour'|…, ts) over a TIMESTAMP layout column —
      // THE dashboard grouping. Calendar truncation is monotone
      // non-decreasing in the instant, and under a UTC zone it is a pure
      // function of the micros our zone maps store, replicated exactly
      // by [[truncMicros]] (property-pinned against Spark's own
      // evaluation in the spec). Non-UTC zones are left to Catalyst —
      // DST makes wall-clock truncation zone-dependent, and our windows
      // know nothing of zones. The label is the truncated micros itself
      // (Catalyst's internal TimestampType value).
      case tt: org.apache.spark.sql.catalyst.expressions.TruncTimestamp
          if tt.timeZoneId.exists(isUtcZone) =>
        val level = tt.format match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            Some(s.toString.toUpperCase(java.util.Locale.ROOT))
          case _ => None
        }
        val tsAttr = tt.timestamp match {
          case a: AttributeReference if a.dataType == TimestampType => Some(a)
          case _ => None
        }
        for {
          lv <- level if truncLevels(lv)
          a <- tsAttr
        } yield Bucketing(a, v => truncMicros(v, lv),
          v => truncMicros(v, lv): Any, monotoneLabel = true)
      // unix_micros(…) around a TIMESTAMP bucketing — the BIGINT spelling
      // of a time bucket (`unix_micros(date_trunc('day', ts))`): for a
      // TIMESTAMP attribute every inner label is ALREADY the internal
      // micros Long, so the wrapper is the identity on labels and
      // preserves monotonicity
      case u: UnixMicros =>
        bucketingOf(u.child).filter(_.attr.dataType == TimestampType)
      case _ => None
    }
  }

  def isUtcZone(tz: String): Boolean =
    tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "Z" ||
      tz == "+00:00" || tz == "UTC+00:00"

  val truncLevels: Set[String] = Set(
    "YEAR", "YYYY", "YY", "QUARTER", "MONTH", "MON", "MM", "WEEK",
    "DAY", "DD", "HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND")

  /** Spark's `date_trunc(level, ts)` on the internal micros, for a UTC
    * zone — proleptic-Gregorian calendar truncation via java.time, the
    * same calendar Catalyst uses. Monotone non-decreasing by
    * construction (floor to a calendar boundary).
    */
  def truncMicros(v: Long, level: String): Long = {
    import java.time.{DayOfWeek, LocalDateTime, ZoneOffset}
    import java.time.temporal.{ChronoUnit, TemporalAdjusters}
    if (level == "MICROSECOND") return v
    val ldt = LocalDateTime.ofEpochSecond(Math.floorDiv(v, 1000000L),
      (Math.floorMod(v, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    val t = level match {
      case "YEAR" | "YYYY" | "YY" =>
        ldt.withDayOfYear(1).truncatedTo(ChronoUnit.DAYS)
      case "QUARTER" =>
        val m = ((ldt.getMonthValue - 1) / 3) * 3 + 1
        ldt.withDayOfMonth(1).withMonth(m).truncatedTo(ChronoUnit.DAYS)
      case "MONTH" | "MON" | "MM" =>
        ldt.withDayOfMonth(1).truncatedTo(ChronoUnit.DAYS)
      case "WEEK" =>
        ldt.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
          .truncatedTo(ChronoUnit.DAYS)
      case "DAY" | "DD" => ldt.truncatedTo(ChronoUnit.DAYS)
      case "HOUR" => ldt.truncatedTo(ChronoUnit.HOURS)
      case "MINUTE" => ldt.truncatedTo(ChronoUnit.MINUTES)
      case "SECOND" => ldt.truncatedTo(ChronoUnit.SECONDS)
      case "MILLISECOND" => ldt.truncatedTo(ChronoUnit.MILLIS)
      case other => throw new IllegalStateException(
        s"unreachable: truncLevels admitted '$other'")
    }
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
  }
}

/** METADATA-ONLY aggregate answering — the manifest-stats trick Delta and
  * Iceberg play, at the engine's layout layer: an UNFILTERED, ungrouped
  * `count(*)` / `min(c)` / `max(c)` over a `readIndexed` relation
  * collapses to a one-row [[LocalRelation]] holding the registry's exact
  * numbers — the scan disappears from the plan entirely (spec-pinned:
  * ZERO FileScan). Soundness is exactness, not bounds:
  *
  *  - `count(*)`: per-shard `n_rows` is an exact count on every layout,
  *    maintained exactly by every verb (append sums, upsert rebuilds the
  *    touched shards, compact carries) — so the sum IS the row count;
  *  - `min`/`max`: only columns with EXACT zone-map stats qualify — the
  *    range layout's sort column and `statsCols`, the Z layout's two
  *    interleaved columns, and the HASH layout's `statsCols` (per-shard
  *    min/max over non-null values, null only for all-null shards —
  *    matching SQL min/max null semantics exactly, including the
  *    all-null → null and empty-table → null cases). Hash statsCols
  *    windows exist for ANSWERING only, never pruning (the hash layout
  *    scatters value ranges); a hash KEY column without statsCols still
  *    never qualifies — its Bloom carries membership, not order;
  *  - `sum(c)`/`count(c)`/`avg(c)`: columns committed with `sumCols`
  *    carry per-shard EXACT (sum, non-null count) on EVERY layout —
  *    hash, range, and Z — so the total sum/count are exact additions
  *    and avg is the exact stored-sum ÷ stored-cnt (order info is not
  *    needed for linear stats, which is why the hash layout qualifies
  *    here but not for min/max).
  *
  * ANY Filter above the relation disqualifies the collapse (unlike the
  * join dispatch there is no upper-bound slack in an exact answer),
  * UNLESS its every conjunct is a range/equality predicate on a guarded
  * layout column: the WINDOWED arm (region-contained shards answer from
  * metadata, boundary shards scan) and the GROUP-BY arm compose with
  * such filters. A GROUP BY whose every grouping expression is a
  * monotone BUCKETING of a guarded layout column (`ts div n`,
  * `(ts div n) * n`, `date_trunc(level, ts)` under UTC,
  * `unix_micros(…)` of either) collapses per group the same way —
  * region∩bucket-contained shards from metadata, shards straddling
  * either boundary scan once with the original filter+grouping; the Z
  * layout guards TWO columns, so the two-key dashboard
  * `GROUP BY bucketA, bucketB` qualifies there. ONE grouping expression
  * may instead be a CATEGORICAL `labelCols` column (the time×category
  * dashboard `GROUP BY date-bucket, event_type`, or the reference's
  * GROUP BY source / decay_level stats shapes): the registry stores
  * each shard's exact per-label row counts (nulls as their own entry,
  * matching SQL's null group), so a region∩bucket-contained shard
  * contributes every (bucket, label) count from metadata — labels
  * cannot straddle; only count shapes qualify then (count(*), count of
  * the label column or a guarded column), and a shard that bailed at
  * commit (> labelMax distinct labels) scans. Any other aggregate
  * shape — uncovered columns, DISTINCT, FILTER clauses, try_-mode
  * aggregates, other groupings — is left to Catalyst untouched. OFF by
  * default:
  *
  *   - `spark.graft.metadataAgg.enabled` (default false)
  *
  * The verb-level sibling is [[graft.core.SketchRegistry.tableStats]].
  */
object MetadataAggCollapse extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{EvalMode, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, HyperLogLogPlusPlus, Max, Min, Sum}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Union}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
  import graft.core.SketchFileIndex

  private def enabled: Boolean =
    conf.getConfString("spark.graft.metadataAgg.enabled", "false").toBoolean

  /** `approx_count_distinct` answering from the registry's per-shard HLL
    * sketches (the hash layout's key sketch; the range layout's
    * `distinctCols`). DOUBLY opt-in, because unlike every other arm the
    * answer is not bit-identical to the unrewritten plan's: Spark's own
    * HyperLogLogPlusPlus and the registry sketch are DIFFERENT estimators
    * of the same quantity, both approximate within their published
    * error — enabling this trades Spark's estimate for the registry's
    * (computed with ZERO data files; registers max-merge, so the merged
    * estimate is bit-identical to running the registry's own sketch over
    * the covered rows — spec-pinned).
    */
  private def approxDistinctEnabled: Boolean =
    conf.getConfString("spark.graft.metadataAgg.approxDistinct.enabled",
      "false").toBoolean

  /** A 128-bit cache-key digest of a shard set: two splitmix64 chains
    * with different seeds over the ids (length-seeded, so a prefix never
    * collides with the whole). Not cryptographic — it keys a memo, and a
    * JDK digest algorithm can be unavailable (MD5 throws on FIPS JVMs).
    */
  private[graft] def shardSetDigest(shards: Seq[Int]): String = {
    import graft.functions.HashKernels.splitmix64
    var a = splitmix64(shards.length.toLong)
    var b = splitmix64(~shards.length.toLong)
    shards.foreach { s =>
      a = splitmix64(a ^ s.toLong)
      b = splitmix64(b + s.toLong)
    }
    f"$a%016x$b%016x"
  }

  /** The EXACT distinct-label count of `c` over `shards` — the per-shard
    * label sets union (nulls are not values, so the null-label entry
    * never counts); None when the column carries no label stats or any
    * of the shards bailed at commit (its labels are unknown — the caller
    * must leave the plan to the scan).
    */
  private def labelUnionCount(idx: SketchFileIndex, c: String,
                              shards: Seq[Int]): Option[Long] =
    idx.labelStats(c).flatMap { per =>
      val sets = shards.map(s => per.getOrElse(s, None))
      if (sets.exists(_.isEmpty)) None
      else Some(sets.iterator.flatMap(_.get).collect {
        case (Some(l), cnt) if cnt > 0L => l
      }.toSet.size.toLong)
    }

  /** The merged-HLL distinct estimate of `c` over `shards` — registers
    * max-merge driver-side (each array is 2^p ints off the registry; no
    * data file opens), then the estimate evaluates through
    * [[graft.operators.SketchOps.hllEstimate]]'s own expression tree
    * over a ONE-ROW local frame, so the double arithmetic can never
    * drift from the verb's. That evaluation is a plan-time, single-row,
    * scan-free job — bounded and memoized, same cost class as the join
    * dispatch's registry probes.
    */
  private def mergedNdv(idx: SketchFileIndex, c: String,
                        shards: Seq[Int]): Option[Long] =
    idx.hllRegistersFor(c).map { case (regs, p) =>
      graft.core.MetaCache.ndv(idx.tableRoot, idx.tableVersion, c, shardSetDigest(shards)) {
        val m = 1 << p
        val merged = new Array[Int](m)
        shards.foreach { s =>
          regs.get(s).foreach { arr =>
            var i = 0
            while (i < m) {
              if (arr(i) > merged(i)) merged(i) = arr(i); i += 1
            }
          }
        }
        import org.apache.spark.sql.functions.typedlit
        org.apache.spark.sql.SparkSession.active.range(1)
          .select(graft.operators.SketchOps
            .hllEstimate(typedlit(merged.toSeq), p).as("e"))
          .head.getLong(0) / 1000000L
      }
    }

  /** Unlike the join dispatch, NOTHING may sit between the aggregate and
    * the relation except attribute-only Projects — a Filter (even
    * IsNotNull) changes the exact answer.
    */
  private def indexUnder(p: LogicalPlan): Option[SketchFileIndex] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case i: SketchFileIndex => Some(i)
        case _ => None
      }
      case _ => None
    }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      indexUnder(child)
    case _ => None
  }

  import LayoutExprs.{integral, longBacked, sumExact, toTyped, Bucketing, bucketingOf}

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case o => o
  }

  private def isRowCount(e: Expression): Boolean = e match {
    case AggregateExpression(Count(Seq(l: Literal)), Complete, false, None, _) =>
      l.value != null
    case _ => false
  }

  /** Windowed-aggregate classification of one result expression. */
  private sealed trait WKind
  private case object WCnt extends WKind
  private final case class WMin(a: AttributeReference) extends WKind
  private final case class WMax(a: AttributeReference) extends WKind
  private final case class WSum(a: AttributeReference) extends WKind
  private final case class WCntCol(a: AttributeReference) extends WKind
  /** avg over a sumCols column: answered as stored-sum ÷ stored-cnt —
    * merges across the metadata/scan halves through a (sum, cnt) partial
    * PAIR, never by averaging averages.
    */
  private final case class WAvg(a: AttributeReference) extends WKind
  /** approx_count_distinct over an HLL-sketched column (opt-in — see
    * [[approxDistinctEnabled]]); answered only when EVERY candidate
    * shard is contained (an HLL cannot split across a scan half).
    */
  private final case class WNdv(a: AttributeReference) extends WKind
  /** EXACT count(DISTINCT c) over a labelCols column: the per-shard label
    * sets union to the distinct non-null labels; answered only when EVERY
    * candidate shard is contained AND proof-carrying (a bailed shard's
    * labels are unknown, and an exact distinct cannot split across a
    * metadata/scan pair).
    */
  private final case class WDct(a: AttributeReference) extends WKind
  private case object WFold extends WKind
  /** The j-th grouping expression's own slot (GROUP-BY collapse only). */
  private final case class WLabel(j: Int) extends WKind

  /** One grouping dimension of the GROUP-BY collapse: a monotone
    * BUCKETING of a windowed layout column (shards contribute when their
    * window maps into one bucket), or a CATEGORICAL label column whose
    * per-shard `labels_<c>` stats carry exact per-label row counts
    * (every proof-carrying shard contributes per label — labels cannot
    * straddle).
    */
  private sealed trait GDim
  private final case class BDim(bk: Bucketing) extends GDim
  private final case class LDim(attr: AttributeReference) extends GDim

  /** The (filter, index, intervals, kinds) of a WINDOWED aggregate:
    * count(*) / min / max over windowed columns (plus foldable result
    * expressions) over a Filter whose every conjunct is a range
    * predicate on a windowed column of a range/Z relation — the layout's
    * non-null-guarded columns, or statsCols columns with the per-shard
    * non-null PROOF applied at containment time (like the grouped arm:
    * region drops are sound with nulls, containment is not). min/max
    * qualify because a contained shard's exact window endpoint IS its
    * contribution (every row of the shard satisfies the predicate, and
    * min/max skip nulls exactly like windows do), so only boundary
    * shards need the scan.
    */
  private def windowedAgg(child0: LogicalPlan,
                          aggExprs: Seq[NamedExpression])
  : Option[(Filter, SketchFileIndex, Map[String, (Long, Long)], Seq[WKind])] =
    stripProjects(child0) match {
      case f @ Filter(cond, fchild) =>
        indexUnder(fchild).flatMap { idx =>
          val guarded = idx.nonNullLayoutCols
          if (guarded.isEmpty) return None // hash layout: no exact windows
          val windowed: Set[String] = idx.windowedCols
          def statOk(n: String): Boolean = guarded(n) || windowed(n)
          val sumCovered: Set[String] = idx.sumStatsByCol.keySet
          val kinds: Seq[Option[WKind]] = aggExprs.map {
            case Alias(e, _) if isRowCount(e) => Some(WCnt)
            case Alias(AggregateExpression(
                Min(a: AttributeReference), Complete, false, None, _), _)
                if statOk(a.name) && longBacked(a.dataType) => Some(WMin(a))
            case Alias(AggregateExpression(
                Max(a: AttributeReference), Complete, false, None, _), _)
                if statOk(a.name) && longBacked(a.dataType) => Some(WMax(a))
            // sum/count over a sumCols column: a contained shard's stored
            // (sum, cnt) IS its exact contribution — nulls excluded on
            // both sides of the equality, so no non-null guard needed.
            // TRY mode is excluded (here and in the grouped/plain arms):
            // try_sum answers NULL on overflow, which the rewrite's
            // null-means-all-null Coalesce merge cannot represent; ANSI
            // and LEGACY are safe because the metadata half sums via
            // [[LayoutExprs.sumExact]] and the arm bails to the plain
            // plan on overflow — the scan then adjudicates per its mode
            case Alias(AggregateExpression(
                Sum(a: AttributeReference, mode), Complete, false, None, _), _)
                if mode.evalMode != EvalMode.TRY &&
                  sumCovered(a.name) && integral(a.dataType) => Some(WSum(a))
            case Alias(AggregateExpression(
                Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
                if idx.cntCovered(a.name) || guarded(a.name) => Some(WCntCol(a))
            case Alias(AggregateExpression(
                Average(a: AttributeReference, mode), Complete, false, None, _), _)
                if mode != EvalMode.TRY &&
                  sumCovered(a.name) && integral(a.dataType) => Some(WAvg(a))
            case Alias(AggregateExpression(
                h: HyperLogLogPlusPlus, Complete, false, None, _), _)
                if approxDistinctEnabled => h.child match {
              case a: AttributeReference
                  if idx.hllRegistersFor(a.name).isDefined => Some(WNdv(a))
              case _ => None
            }
            // EXACT distinct over a label column — no opt-in needed (the
            // stored label sets are exact, unlike the HLL estimate)
            case Alias(AggregateExpression(
                Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
                if idx.labelCols(a.name) &&
                  idx.labelStats(a.name).isDefined => Some(WDct(a))
            case Alias(e, _) if e.foldable => Some(WFold)
            case _ => None
          }
          val ks = kinds.flatten
          if (ks.size != aggExprs.size || !ks.exists(_ != WFold)) None
          else LayoutExprs.intervalsOf(Seq(cond), guarded ++ windowed, guarded)
            .map(region => (f, idx, region, ks))
        }
      case _ => None
    }

  /** The (index, bucketings, region, kinds) of a GROUP-BY bucket
    * aggregate: an Aggregate over a readIndexed range/Z relation —
    * optionally through deterministic Projects AND deterministic Filters
    * whose every conjunct is a range/equality predicate on a guarded
    * layout column — whose EVERY grouping expression is a monotone
    * bucketing of a non-null-guarded layout column (one for the range
    * layout's sort column; the Z layout admits its two interleaved
    * columns, so a two-key dashboard `GROUP BY bucketA, bucketB`
    * qualifies), and whose every result is a group label, count(*),
    * min/max over guarded layout columns, sum/count/avg over covered
    * columns, or a foldable. A shard fully inside the filter region
    * whose window maps into ONE bucket per grouping contributes that
    * group's count/min/max/sum from metadata alone; shards straddling
    * EITHER a region or a bucket boundary scan once with the original
    * filter+grouping; shards outside the region drop outright.
    */
  private def groupedAgg(ges0: Seq[Expression], aggExprs: Seq[NamedExpression],
                         child0: LogicalPlan)
  : Option[(SketchFileIndex, Seq[GDim], Map[String, (Long, Long)],
      Seq[WKind], Option[(String, Set[String])])] = {
    // Walk Projects down to the sketch relation, SUBSTITUTING alias
    // definitions into the grouping expressions and collected filter
    // conditions as we go — PullOutGroupingExpressions extracts a complex
    // grouping into a `_groupingexpression` Project alias long before
    // this rule runs, so the Aggregate itself groups on a bare attribute.
    // Deterministic Projects/Filters only (the rewrite re-evaluates the
    // subtree over the boundary shards).
    def walk(p: LogicalPlan, ges: Seq[Expression], conds: Seq[Expression])
    : Option[(SketchFileIndex, LogicalRelation, Seq[Expression], Seq[Expression])] =
      p match {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location match {
            case i: SketchFileIndex => Some((i, l, ges, conds))
            case _ => None
          }
          case _ => None
        }
        case Project(exprs, child) if exprs.forall(_.deterministic) =>
          val subst: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
            exprs.collect { case a: Alias => a.exprId -> a.child }.toMap
          def sub(x: Expression): Expression = x.transformUp {
            case ar: AttributeReference if subst.contains(ar.exprId) =>
              subst(ar.exprId)
          }
          walk(child, ges.map(sub), conds.map(sub))
        case Filter(cond, child) if cond.deterministic =>
          walk(child, ges, conds :+ cond)
        case _ => None
      }
    walk(child0, ges0, Nil).flatMap { case (idx, rel, ges, conds) =>
      val guarded = idx.nonNullLayoutCols
      // aggregated columns must be the RELATION'S OWN attributes (by
      // exprId) — a Project alias named like a covered column must never
      // borrow that column's stats
      val relIds = rel.output.map(_.exprId).toSet
      def relAttr(a: AttributeReference): Boolean = relIds.contains(a.exprId)
      // ONE label-EQ/IN conjunct may ride beside the range conjuncts:
      // `WHERE category = 'x' GROUP BY day` answers from the per-label
      // stats — a shard's matching rows are EXACTLY its wanted-label
      // entries (counts, and measure stats when committed). Optimizer-
      // inferred IsNotNull(label) conjuncts are absorbed (the label
      // match already implies non-null); two label-filter COLUMNS would
      // need the joint distribution — bail, the scan stays exact.
      def conjunctsOf(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
          conjunctsOf(a) ++ conjunctsOf(b)
        case o => Seq(o)
      }
      val flat = conds.flatMap(conjunctsOf)
      val labelPairs = flat.map(c => c -> LayoutExprs.stringEqOf(c).filter {
        case (a, _) => relAttr(a) && idx.labelCols(a.name) &&
          idx.labelStats(a.name).isDefined
      })
      val wantedByCol: Map[String, Set[String]] = labelPairs.collect {
        case (_, Some((a, vs))) => (a.name, vs)
      }.groupBy(_._1).map { case (c, xs) =>
        c -> xs.map(_._2).reduce(_ intersect _) }
      if (wantedByCol.size > 1) return None
      val wanted: Option[(String, Set[String])] = wantedByCol.headOption
      val rangeConds = labelPairs.collect { case (c, None) => c }.filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) => wanted.exists(_._1 == a.name)
        case _ => false
      }
      // an UNGROUPED aggregate belongs to the windowed/plain arms unless
      // a label filter makes the entries machinery the answering path
      if (ges.isEmpty && wanted.isEmpty) return None
      // hash layout (no guarded windows): label stats are layout-agnostic,
      // so a PURE-label grouping — label filter allowed, grouping may be
      // empty under one — still collapses (the reference's GROUP BY
      // source/decay_level stats shape); anything needing windows or a
      // region keeps the scan
      val pureLabel = rangeConds.isEmpty && ges.forall {
        case a: AttributeReference =>
          a.dataType == org.apache.spark.sql.types.StringType &&
            idx.labelCols(a.name)
        case _ => false
      } && (ges.nonEmpty || wanted.isDefined)
      if (guarded.isEmpty && !pureLabel) return None
      val sumCovered: Set[String] = idx.sumStatsByCol.keySet
      // statsCols-WINDOWED columns qualify for grouping/region/min-max
      // too — the correlated-dimension dashboard (`GROUP BY id-bucket`
      // over a time-laid table whose ids track time): containment then
      // additionally needs the per-shard NON-NULL proof
      // ([[SketchFileIndex.nonNullProven]] — cnt_<c> == n_rows), because
      // windows ignore nulls while groups and filters do not
      val windowed: Set[String] = idx.windowedCols
      def statOk(n: String): Boolean = guarded(n) || windowed(n)
      val dims: Seq[Option[GDim]] = ges.map { g =>
        bucketingOf(g).filter(b => relAttr(b.attr) && statOk(b.attr.name))
          .map(BDim(_): GDim)
          .orElse(g match {
            // a CATEGORICAL dimension: a bare labelCols attribute — the
            // registry's per-shard label stats carry exact per-label row
            // counts (incl. the null-label group), so each proof-carrying
            // shard contributes per label from metadata
            case a: AttributeReference
                if a.dataType == org.apache.spark.sql.types.StringType &&
                  relAttr(a) && idx.labelCols(a.name) &&
                  idx.labelStats(a.name).isDefined => Some(LDim(a))
            case _ => None
          })
      }
      if (dims.exists(_.isEmpty)) return None
      val ds = dims.map(_.get)
      // at most ONE label dimension: per-shard label counts are marginal
      // distributions — a two-label GROUP BY needs the joint, which the
      // registry does not store
      if (ds.count(_.isInstanceOf[LDim]) > 1) return None
      val labelName = ds.collectFirst { case LDim(a) => a.name }
      // a label FILTER on a different column than the label DIM would
      // need the joint distribution — bail (the FileIndex still prunes)
      if (wanted.exists(fw => labelName.exists(_ != fw._1))) return None
      // the ONE label column whose per-shard entries drive this rewrite:
      // the grouping dimension's, or the filter's
      val sourceLabel: Option[String] = labelName.orElse(wanted.map(_._1))
      // measure columns committed INSIDE the label struct (labelStatsCols):
      // with a label source, min/max/sum/avg/count over them are exact
      // per (bucket-tuple[, label]) from the stored per-label stats
      val labelMeasured: String => Boolean = n =>
        sourceLabel.exists(ln => idx.labelMeasureCols(ln).contains(n))
      LayoutExprs.intervalsOf(rangeConds, guarded ++ windowed, guarded)
        .flatMap { region =>
        val kinds: Seq[Option[WKind]] = aggExprs.map { ae =>
          val labelIdx = ges0.indexWhere(g => ae match {
            case Alias(e, _) => e.semanticEquals(g)
            case a: AttributeReference => a.semanticEquals(g)
            case _ => false
          })
          if (labelIdx >= 0) Some(WLabel(labelIdx))
          else ae match {
            case Alias(e, _) if isRowCount(e) => Some(WCnt)
            case Alias(AggregateExpression(
                Min(a: AttributeReference), Complete, false, None, _), _)
                if relAttr(a) && (statOk(a.name) || labelMeasured(a.name)) &&
                  longBacked(a.dataType) =>
              Some(WMin(a))
            case Alias(AggregateExpression(
                Max(a: AttributeReference), Complete, false, None, _), _)
                if relAttr(a) && (statOk(a.name) || labelMeasured(a.name)) &&
                  longBacked(a.dataType) =>
              Some(WMax(a))
            case Alias(AggregateExpression(
                Sum(a: AttributeReference, mode), Complete, false, None, _), _)
                if mode.evalMode != EvalMode.TRY && relAttr(a) &&
                  (sumCovered(a.name) || labelMeasured(a.name)) &&
                  integral(a.dataType) =>
              Some(WSum(a))
            case Alias(AggregateExpression(
                Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
                if relAttr(a) && (idx.cntCovered(a.name) || guarded(a.name) ||
                  sourceLabel.contains(a.name) || labelMeasured(a.name)) =>
              Some(WCntCol(a))
            case Alias(AggregateExpression(
                Average(a: AttributeReference, mode), Complete, false, None, _), _)
                if mode != EvalMode.TRY && relAttr(a) &&
                  (sumCovered(a.name) || labelMeasured(a.name)) &&
                  integral(a.dataType) =>
              Some(WAvg(a))
            case Alias(e, _) if e.foldable => Some(WFold)
            case _ => None
          }
        }
        val ks = kinds.flatten
        // with a label dimension, count shapes qualify (per-GROUP counts
        // are exact for the label column itself — the null-label group
        // counts 0 — and for layout-guarded columns, count = group size),
        // and min/max/sum/avg/count qualify over labelStatsCols measures
        // (exact per-(shard, label) stats stored in the label struct)
        val labelKindsOk = sourceLabel.isEmpty || ks.forall {
          case WCnt | WFold => true
          case _: WLabel => true
          case WCntCol(a) => guarded(a.name) || sourceLabel.contains(a.name) ||
            labelMeasured(a.name)
          // per-label measure stats answer these exactly per group tuple;
          // a windowed-but-unmeasured column stays rejected (its shard
          // window says nothing about one label's rows)
          case WMin(a) => labelMeasured(a.name)
          case WMax(a) => labelMeasured(a.name)
          case WSum(a) => labelMeasured(a.name)
          case WAvg(a) => labelMeasured(a.name)
          case _ => false
        }
        if (ks.size != aggExprs.size || !labelKindsOk ||
          !ks.exists(k => k != WFold && !k.isInstanceOf[WLabel])) None
        else Some((idx, ds, region, ks, wanted))
      }
    }
  }

  private object GroupedAgg {
    def unapply(p: LogicalPlan)
    : Option[(Aggregate, SketchFileIndex, Seq[GDim],
        Map[String, (Long, Long)], Seq[WKind],
        Option[(String, Set[String])])] = p match {
      case agg @ Aggregate(ges, aggExprs, child0, _) =>
        // ges may be EMPTY: a label-filtered GLOBAL aggregate
        // (`SELECT count(*), sum(v) WHERE category='x'`) rides the same
        // entries machinery — classification returns None for ungrouped
        // shapes without a label filter, so the windowed/plain arms
        // below still see them
        groupedAgg(ges, aggExprs, child0).map {
          case (idx, ds, region, ks, wanted) =>
            (agg, idx, ds, region, ks, wanted)
        }
      case _ => None
    }
  }

  /** Extractor wrapper so the transform's guard and body share ONE
    * [[windowedAgg]] classification pass (it walks the child and
    * consults registry-backed accessors — cheap, but not free twice).
    */
  private object WindowedAgg {
    def unapply(p: LogicalPlan): Option[(Aggregate, Filter, SketchFileIndex,
        Map[String, (Long, Long)], Seq[WKind])] = p match {
      case agg @ Aggregate(Nil, aggExprs, child0, _) =>
        windowedAgg(child0, aggExprs).map { case (f, idx, region, kinds) =>
          (agg, f, idx, region, kinds)
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      // WINDOWED aggregates — the time-window shape: count(*)/min/max
      // over a range predicate on the layout column(s). Shards whose
      // exact windows the region FULLY contains answer from metadata
      // (the commit guards the layout columns non-null, so every row of
      // a contained shard satisfies the predicate, and its exact window
      // endpoints ARE its min/max contributions); only BOUNDARY shards
      // (intersecting, not contained) scan, with the original filter —
      // the count adds, min/max combine via Least/Greatest. A month
      // window over a year-laid table reads its two boundary shards.
      case WindowedAgg(agg, f, idx, region, kinds) => try {
        val aggExprs = agg.aggregateExpressions
        val counts = idx.shardRowCounts
        val aggCols: Set[String] = kinds.collect {
          case WMin(a) => a.name
          case WMax(a) => a.name
        }.toSet
        val windows: Map[String, Map[Int, (Long, Long)]] =
          (region.keySet ++ aggCols)
            .map(c => c -> idx.columnWindows(c).getOrElse(Map.empty)).toMap
        // containment on a merely-windowed (statsCols) region column
        // needs the per-shard non-null proof — a null row fails the
        // filter while the window says nothing about it; dropping a
        // non-intersecting shard needs no proof (a null satisfies no
        // range predicate)
        def contained(s: Int) = region.forall { case (c, (lo, hi)) =>
          idx.nonNullProven(c, s, counts(s)) &&
            windows(c).get(s).exists { case (wl, wh) => wl >= lo && wh <= hi } }
        def intersects(s: Int) = region.forall { case (c, (lo, hi)) =>
          lo <= hi &&
            windows(c).get(s).exists { case (wl, wh) => wh >= lo && wl <= hi } }
        val populated = counts.keySet.toSeq.sorted
        val cont = populated.filter(contained)
        val bound = populated.filter(s => intersects(s) && !contained(s))
        val fullSum = cont.iterator.map(counts).sum
        def contMin(c: String): Option[Long] =
          cont.flatMap(s => windows(c).get(s).map(_._1)).minOption
        def contMax(c: String): Option[Long] =
          cont.flatMap(s => windows(c).get(s).map(_._2)).maxOption
        def contSum(c: String): Option[Long] = {
          val parts = cont.flatMap(s =>
            idx.sumStatsByCol.getOrElse(c, Map.empty).get(s).flatMap(_._1))
          if (parts.isEmpty) None else Some(sumExact(parts))
        }
        def contCnt(a: AttributeReference): Long =
          if (idx.nonNullLayoutCols(a.name)) fullSum
          else cont.iterator.map(s =>
            idx.nonNullCnt(a.name, s).getOrElse(0L)).sum
        if (bound.isEmpty) {
          // fully metadata-answerable (incl. the unsatisfiable-predicate
          // and all-shards-contained cases)
          val values = aggExprs.zip(kinds).map {
            case (_, WCnt) => fullSum
            case (Alias(_, _), WMin(a)) => toTyped(contMin(a.name), a.dataType)
            case (Alias(_, _), WMax(a)) => toTyped(contMax(a.name), a.dataType)
            case (Alias(_, _), WSum(a)) =>
              contSum(a.name).map(v => v: Any).orNull
            case (Alias(_, _), WCntCol(a)) => contCnt(a)
            case (Alias(_, _), WAvg(a)) =>
              val cnt = contCnt(a)
              contSum(a.name).filter(_ => cnt > 0L)
                .map(s => (s.toDouble / cnt): Any).orNull
            // all candidates contained: the merged contained-shard HLLs
            // cover exactly the filter-eligible rows (drops hold no
            // eligible row; an unsatisfiable region merges zero shards —
            // all-zero registers estimate 0, matching the empty input)
            case (Alias(_, _), WNdv(a)) =>
              mergedNdv(idx, a.name, cont).map(v => v: Any).orNull
            case (Alias(_, _), WDct(a)) =>
              labelUnionCount(idx, a.name, cont).map(v => v: Any).orNull
            case (Alias(e, _), WFold) => e.eval(InternalRow.empty)
            case _ => null // unreachable: kinds align with aggExprs
          }
          // a contained-but-bailed shard's labels are unknown: exact
          // distinct must then bail to the scan plan (sound, never wrong)
          if (kinds.exists(_.isInstanceOf[WDct]) &&
            kinds.zip(values).exists {
              case (WDct(_), v) => v == null && cont.nonEmpty
              case _ => false
            }) agg
          else LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))
        } else if (cont.isEmpty && bound.size >= populated.size) {
          agg // every shard is boundary: nothing gained, leave it alone
        } else if (kinds.exists(k => k.isInstanceOf[WNdv] ||
            k.isInstanceOf[WDct])) {
          agg // neither an HLL nor an exact distinct can split across a
              // metadata/scan pair: a boundary shard's eligible rows'
              // sketch / label set is unknowable
        } else {
          // metadata part + boundary-only scan: the inner aggregate runs
          // the ORIGINAL filter over just the boundary shard dirs, then
          // the contained contribution folds in above
          import org.apache.spark.sql.catalyst.expressions.{Add, Coalesce, Greatest, In, Least}
          val prunedChild = f.child.transformUp {
            case l: LogicalRelation if (l.relation match {
              case h: HadoopFsRelation => h.location.isInstanceOf[SketchFileIndex]
              case _ => false
            }) =>
              val shardAttr = l.output.find(_.name == "shard").getOrElse(
                throw new IllegalStateException(
                  "sketch relation lost its shard column — cannot prune"))
              Filter(In(shardAttr, bound.map(s => Literal(s): Expression)), l)
          }
          // one partial per result slot, EXCEPT avg: averaging partial
          // averages would weight the halves wrongly, so avg carries a
          // (sum, cnt) partial PAIR — base slot = the sum, plus an
          // appended count column per avg
          val baseExprs: Seq[NamedExpression] =
            aggExprs.zip(kinds).zipWithIndex.map {
              case ((_: Alias, WAvg(a)), i) =>
                Alias(AggregateExpression(Sum(a), Complete,
                  isDistinct = false), s"__boundary_$i")()
              case ((a: Alias, k), i) if k != WFold =>
                Alias(a.child, s"__boundary_$i")()
              case ((e, _), _) => e
            }
          val avgCntPos: Map[Int, Int] = kinds.zipWithIndex.collect {
            case (WAvg(_), i) => i
          }.zipWithIndex.map { case (i, j) => i -> (baseExprs.size + j) }.toMap
          val avgCntExprs: Seq[NamedExpression] = kinds.zipWithIndex.collect {
            case (WAvg(a), i) =>
              Alias(AggregateExpression(Count(Seq(a)), Complete,
                isDistinct = false), s"__boundary_cnt_$i")()
          }
          val innerExprs = baseExprs ++ avgCntExprs
          val inner = Aggregate(Nil, innerExprs, Filter(f.condition, prunedChild))
          val projList: Seq[NamedExpression] =
            agg.output.zip(aggExprs).zip(kinds).zipWithIndex.map {
              case (((o, _), k), i) =>
                def innerAttr = innerExprs(i).toAttribute
                k match {
                  case WCnt =>
                    Alias(Add(innerAttr, Literal(fullSum)), o.name)(
                      exprId = o.exprId)
                  case WMin(a) => contMin(a.name) match {
                    case Some(v) => Alias(Least(Seq(innerAttr,
                      Literal(toTyped(Some(v), a.dataType), a.dataType))),
                      o.name)(exprId = o.exprId)
                    case None => Alias(innerAttr, o.name)(exprId = o.exprId)
                  }
                  case WMax(a) => contMax(a.name) match {
                    case Some(v) => Alias(Greatest(Seq(innerAttr,
                      Literal(toTyped(Some(v), a.dataType), a.dataType))),
                      o.name)(exprId = o.exprId)
                    case None => Alias(innerAttr, o.name)(exprId = o.exprId)
                  }
                  // a boundary with NO matching non-null rows yields a
                  // null partial sum — coalesce to 0 before adding the
                  // (non-null by construction) contained contribution
                  case WSum(a) => contSum(a.name) match {
                    case Some(v) => Alias(Add(
                      Coalesce(Seq(innerAttr,
                        Literal(0L, org.apache.spark.sql.types.LongType))),
                      Literal(v)), o.name)(exprId = o.exprId)
                    case None => Alias(innerAttr, o.name)(exprId = o.exprId)
                  }
                  case WCntCol(a) =>
                    Alias(Add(innerAttr, Literal(contCnt(a))), o.name)(
                      exprId = o.exprId)
                  // exact total sum ÷ exact total count across the two
                  // halves; an all-null total leaves the sum null and the
                  // division answers SQL-null, matching avg()
                  case WAvg(a) =>
                    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide}
                    val cntAttr = innerExprs(avgCntPos(i)).toAttribute
                    val totalSum = contSum(a.name) match {
                      case Some(v) => Add(Coalesce(Seq(innerAttr,
                        Literal(0L, org.apache.spark.sql.types.LongType))),
                        Literal(v))
                      case None => innerAttr: Expression
                    }
                    val totalCnt = Add(cntAttr, Literal(contCnt(a)))
                    val dbl = org.apache.spark.sql.types.DoubleType
                    Alias(Divide(Cast(totalSum, dbl), Cast(totalCnt, dbl)),
                      o.name)(exprId = o.exprId)
                  case WFold => o
                  case WLabel(_) => throw new IllegalStateException(
                    "WLabel is GROUP-BY-only; windowedAgg never emits it")
                }
            }
          Project(projList, inner)
        }
      } catch {
        // a metadata-half sum overflowed Long: bail to the unrewritten
        // plan so the scan adjudicates per its own EvalMode (ANSI raises,
        // LEGACY wraps) instead of answering a wrapped total silently
        case _: ArithmeticException => agg
      }

      // GROUP-BY bucket collapse — the dashboard shape at 100 TB:
      // `SELECT ts div N, count(*), sum(c) … [WHERE range-predicates]
      // GROUP BY 1[, 2]` over a range/Z-laid table. Shards fully inside
      // the filter region whose exact window maps into ONE bucket per
      // grouping contribute their (n_rows, window endpoints, stored
      // sums) to that group from METADATA; shards straddling either a
      // region or a bucket boundary scan once, with the original
      // filter+grouping — the two halves merge through an outer
      // re-aggregate (counts/sums add, min/min and max/max combine);
      // shards outside the region drop outright. All candidates
      // contained ⇒ a pure LocalRelation, zero FileScan. A day-bucketed
      // count over the last month of a year-laid table scans only the
      // handful of shards straddling a midnight or the month cut.
      case GroupedAgg(agg, idx, ds, region, kinds, wanted) => try {
        import org.apache.spark.sql.catalyst.expressions.In
        val ges = agg.groupingExpressions
        val aggExprs = agg.aggregateExpressions
        val counts = idx.shardRowCounts
        val bks = ds.collect { case BDim(bk) => bk }
        val labelDim = ds.collectFirst { case LDim(a) => a }
        // the label column whose entries drive this rewrite: the grouping
        // dimension's, or — for `WHERE category='x' GROUP BY bucket` —
        // the filter's (classification pinned them equal when both exist)
        val sourceLabelCol: Option[String] =
          labelDim.map(_.name).orElse(wanted.map(_._1))
        val aggCols: Set[String] = kinds.collect {
          case WMin(a) => a.name
          case WMax(a) => a.name
        }.toSet ++ bks.map(_.attr.name) ++ region.keySet
        val windows: Map[String, Map[Int, (Long, Long)]] =
          aggCols.map(c => c -> idx.columnWindows(c).getOrElse(Map.empty)).toMap
        val labelsByShard: Map[Int, Option[Seq[(Option[String], Long)]]] =
          sourceLabelCol.flatMap(idx.labelStats).getOrElse(Map.empty)
        // a label FILTER drops label-disjoint shards from candidacy (the
        // exact sets prove no matching row lives there); a bailed shard
        // stays a candidate and scans
        def labelIntersects(s: Int): Boolean = wanted.forall { case (_, vs) =>
          labelsByShard.get(s).flatten match {
            case Some(entries) =>
              entries.exists(e => e._1.exists(vs) && e._2 > 0L)
            case None => true
          }
        }
        // metadata contribution under a label source additionally needs
        // the shard's label stats (a commit-bailed shard's labels — and
        // under a filter, its matching rows — are unknown)
        def labelProof(s: Int): Boolean =
          sourceLabelCol.isEmpty || labelsByShard.get(s).exists(_.isDefined)
        val populated = counts.keySet.toSeq.sorted
        // dropping a non-intersecting shard is sound even when the column
        // is nullable (a NULL satisfies no range predicate, and an
        // all-null-stats shard has no window and drops for the same
        // reason); CONTAINMENT additionally needs the per-shard non-null
        // proof on merely-windowed columns — a shard with nulls has rows
        // the filter rejects / a NULL group the bucket label cannot carry
        def regionIntersects(s: Int): Boolean = region.forall {
          case (c, (lo, hi)) => lo <= hi &&
            windows(c).get(s).exists { case (wl, wh) => wh >= lo && wl <= hi } }
        def regionContained(s: Int): Boolean = region.forall {
          case (c, (lo, hi)) =>
            idx.nonNullProven(c, s, counts(s)) &&
              windows(c).get(s).exists { case (wl, wh) => wl >= lo && wh <= hi } }
        // a BUCKET dimension contains a shard when its window maps into
        // ONE bucket (with the non-null proof); a LABEL dimension when
        // the shard's label stats exist (each label IS its own group —
        // nulls included via the null-label entry, so no proof needed) —
        // a bailed (> labelMax) shard must scan
        def dimContained(s: Int): Boolean = ds.forall {
          case BDim(bk) =>
            idx.nonNullProven(bk.attr.name, s, counts(s)) &&
              windows(bk.attr.name).get(s).exists { case (wl, wh) =>
                bk.bucket(wl) == bk.bucket(wh) }
          case LDim(_) => labelsByShard.get(s).exists(_.isDefined)
        }
        val candidates = populated.filter(s =>
          regionIntersects(s) && labelIntersects(s))
        val cont = candidates.filter(s => regionContained(s) &&
          dimContained(s) && labelProof(s))
        // a GLOBAL aggregate over empty input is ONE row (count 0, sums
        // and min/max/avg SQL-null) — only grouped aggregates answer
        // zero groups
        def emptyAggRow: InternalRow = InternalRow.fromSeq(
          agg.aggregateExpressions.zip(kinds).map {
            case (_, WCnt) => 0L
            case (_, WCntCol(_)) => 0L
            case (Alias(e, _), WFold) => e.eval(InternalRow.empty)
            case (e, WFold) => e.eval(InternalRow.empty)
            case _ => null
          })
        if (candidates.isEmpty) {
          // no shard holds an eligible row (unsatisfiable/region-disjoint
          // filter, or an empty table): zero groups — or the one
          // empty-input row when the aggregate is global
          if (ges.isEmpty) LocalRelation(agg.output, Seq(emptyAggRow))
          else LocalRelation(agg.output, Nil)
        } else if (cont.isEmpty) {
          agg // every candidate straddles a boundary: nothing gained
        } else {
          val bound = candidates.filterNot(cont.contains)
          def mMin(c: String, ss: Seq[Int]): Option[Long] =
            ss.flatMap(s => windows(c).get(s).map(_._1)).minOption
          def mMax(c: String, ss: Seq[Int]): Option[Long] =
            ss.flatMap(s => windows(c).get(s).map(_._2)).maxOption
          def mSum(c: String, ss: Seq[Int]): Option[Long] = {
            val parts = ss.flatMap(s =>
              idx.sumStatsByCol.getOrElse(c, Map.empty).get(s).flatMap(_._1))
            if (parts.isEmpty) None else Some(sumExact(parts))
          }
          def mCnt(a: AttributeReference, ss: Seq[Int]): Long =
            if (idx.nonNullLayoutCols(a.name)) ss.iterator.map(counts).sum
            else ss.iterator.map(s =>
              idx.nonNullCnt(a.name, s).getOrElse(0L)).sum
          // per-LABEL-TUPLE metadata contributions over the contained
          // shards, as (tuple, partial(i), avgCnt(i)) — partial(i) is
          // result slot i's metadata PARTIAL (avg rides as its sum, the
          // count in the companion function). Bucket-only groupings
          // yield ≤ one tuple per shard (driver cost O(2^shardsLog2));
          // a label dimension multiplies by the shard's ≤ labelMax
          // stored labels, counts adding across shards per tuple.
          val byLabel: Seq[(Seq[Any], Int => Any, Int => Any)] =
            sourceLabelCol match {
              case None =>
                cont.groupBy(s => ds.map {
                  case BDim(bk) => bk.label(windows(bk.attr.name)(s)._1)
                  case _ => throw new IllegalStateException(
                    "unreachable: labelDim is None")
                }).toSeq.map { case (lbls, ss) =>
                  val f: Int => Any = i => kinds(i) match {
                    case WCnt => ss.iterator.map(counts).sum
                    case WMin(a) => toTyped(mMin(a.name, ss), a.dataType)
                    case WMax(a) => toTyped(mMax(a.name, ss), a.dataType)
                    case WSum(a) => mSum(a.name, ss).map(v => v: Any).orNull
                    case WCntCol(a) => mCnt(a, ss)
                    case WAvg(a) => mSum(a.name, ss).map(v => v: Any).orNull
                    case _ => null // WLabel/WFold never reach the partials
                  }
                  val fcnt: Int => Any = i => kinds(i) match {
                    case WAvg(a) => mCnt(a, ss)
                    case _ => null
                  }
                  (lbls, f, fcnt)
                }
              case Some(src) =>
                // tuple = (bucket labels[, the stored label]); counts add
                // across contained shards per tuple — entries partition
                // each shard exactly, nulls forming their own group. A
                // label FILTER restricts each shard to its wanted-label
                // entries (exactly the matching rows — nulls fail the
                // equality and drop with the restriction).
                // labelStatsCols measures merge by their own algebra per
                // tuple: sums/counts add (Math.addExact — overflow bails
                // the whole rewrite), mins/maxes combine
                val fullByShard = idx.labelEntriesFull(src)
                  .getOrElse(Map.empty)
                val measureCols = idx.labelMeasureCols(src).toSet
                val accRows = scala.collection.mutable.LinkedHashMap[
                  Seq[Any], Long]()
                val accNonNull = scala.collection.mutable.LinkedHashMap[
                  Seq[Any], Long]()
                final class MAcc {
                  var sum: Option[Long] = None; var cnt = 0L
                  var mn: Option[Long] = None; var mx: Option[Long] = None
                }
                val accM = scala.collection.mutable.LinkedHashMap[
                  (Seq[Any], String), MAcc]()
                cont.foreach { s =>
                  val entries = wanted match {
                    case Some((_, vs)) =>
                      fullByShard(s).get.filter(_.label.exists(vs))
                    case None => fullByShard(s).get
                  }
                  entries.foreach { e =>
                    val lv = e.label.map(x => org.apache.spark.unsafe.types
                      .UTF8String.fromString(x)).orNull
                    val tuple: Seq[Any] = ds.map {
                      case BDim(bk) => bk.label(windows(bk.attr.name)(s)._1)
                      case LDim(_) => lv
                    }
                    accRows.updateWith(tuple)(o =>
                      Some(Math.addExact(o.getOrElse(0L), e.cnt)))
                    if (e.label.isDefined) accNonNull.updateWith(tuple)(o =>
                      Some(o.getOrElse(0L) + e.cnt))
                    e.measures.foreach { case (m, st) =>
                      val acc = accM.getOrElseUpdate((tuple, m), new MAcc)
                      st.sum.foreach(v => acc.sum =
                        Some(acc.sum.fold(v)(Math.addExact(_, v))))
                      acc.cnt += st.cnt
                      st.min.foreach(v => acc.mn =
                        Some(acc.mn.fold(v)(_ min v)))
                      st.max.foreach(v => acc.mx =
                        Some(acc.mx.fold(v)(_ max v)))
                    }
                  }
                }
                def mAcc(tuple: Seq[Any], m: String): Option[MAcc] =
                  accM.get((tuple, m))
                accRows.toSeq.map { case (tuple, rows) =>
                  val f: Int => Any = i => kinds(i) match {
                    case WCnt => rows
                    case WCntCol(a) if a.name == src =>
                      accNonNull.getOrElse(tuple, 0L)
                    case WCntCol(a) if measureCols(a.name) =>
                      mAcc(tuple, a.name).map(_.cnt).getOrElse(0L)
                    case WCntCol(_) => rows // layout-guarded: never null
                    case WMin(a) =>
                      toTyped(mAcc(tuple, a.name).flatMap(_.mn), a.dataType)
                    case WMax(a) =>
                      toTyped(mAcc(tuple, a.name).flatMap(_.mx), a.dataType)
                    case WSum(a) =>
                      mAcc(tuple, a.name).flatMap(_.sum)
                        .map(v => v: Any).orNull
                    case WAvg(a) =>
                      mAcc(tuple, a.name).flatMap(_.sum)
                        .map(v => v: Any).orNull
                    case _ => null // classification restricted the kinds
                  }
                  val fcnt: Int => Any = i => kinds(i) match {
                    case WAvg(a) =>
                      mAcc(tuple, a.name).map(_.cnt).getOrElse(0L)
                    case _ => null
                  }
                  (tuple, f, fcnt)
                }
            }
          if (bound.isEmpty) {
            // every candidate contained: the whole aggregate IS metadata
            // (a global aggregate whose restriction matched no entries
            // still answers its one empty-input row)
            val rows = byLabel.map { case (lbls, f, fcnt) =>
              InternalRow.fromSeq(aggExprs.zip(kinds).zipWithIndex.map {
                case ((_, WLabel(j)), _) => lbls(j)
                case ((Alias(e, _), WFold), _) => e.eval(InternalRow.empty)
                case ((e, WFold), _) => e.eval(InternalRow.empty)
                case ((_, WAvg(_)), i) =>
                  // exact stored-sum ÷ stored-cnt, SQL-null when no
                  // non-null value exists
                  val cnt = fcnt(i).asInstanceOf[Long]
                  val sm = f(i)
                  if (sm == null || cnt == 0L) null
                  else sm.asInstanceOf[Long].toDouble / cnt
                case ((_, _), i) => f(i)
              })
            }
            if (ges.isEmpty && rows.isEmpty)
              LocalRelation(agg.output, Seq(emptyAggRow))
            else LocalRelation(agg.output, rows)
          } else {
            // boundary shards scan ONCE with the original filter and
            // grouping; the contained contribution rides in as a
            // LocalRelation of per-label partials, and an outer
            // re-aggregate merges the halves (count/sum add, min/max
            // combine — all exact)
            val pruned = agg.child.transformUp {
              case l: LogicalRelation if (l.relation match {
                case h: HadoopFsRelation => h.location.isInstanceOf[SketchFileIndex]
                case _ => false
              }) =>
                val shardAttr = l.output.find(_.name == "shard").getOrElse(
                  throw new IllegalStateException(
                    "sketch relation lost its shard column — cannot prune"))
                Filter(In(shardAttr, bound.map(s => Literal(s): Expression)), l)
            }
            // one partial per result slot, EXCEPT avg: averaging partial
            // averages would weight the halves wrongly, so avg's base
            // slot carries the SUM and an appended column the COUNT
            val innerPartials: Seq[Option[NamedExpression]] =
              aggExprs.zip(kinds).zipWithIndex.map {
                case ((_: Alias, WAvg(a)), i) =>
                  Some(Alias(AggregateExpression(Sum(a), Complete,
                    isDistinct = false), s"__p_$i")())
                case ((a: Alias, k), i)
                    if k != WFold && !k.isInstanceOf[WLabel] =>
                  Some(Alias(a.child, s"__p_$i")())
                case _ => None
              }
            val avgCntExprs: Seq[NamedExpression] = kinds.zipWithIndex.collect {
              case (WAvg(a), i) =>
                Alias(AggregateExpression(Count(Seq(a)), Complete,
                  isDistinct = false), s"__p_cnt_$i")()
            }
            val innerLabels: Seq[NamedExpression] =
              ges.zipWithIndex.map { case (g, j) => Alias(g, s"__g$j")() }
            val innerExprs: Seq[NamedExpression] =
              (innerLabels ++ innerPartials.flatten) ++ avgCntExprs
            val inner = Aggregate(ges, innerExprs, pruned)
            val posOf = scala.collection.mutable.Map[Int, Int]()
            var nextPos = ges.size
            innerPartials.zipWithIndex.foreach {
              case (Some(_), i) => posOf(i) = nextPos; nextPos += 1
              case _ => ()
            }
            val avgCntPos: Map[Int, Int] = kinds.zipWithIndex.collect {
              case (WAvg(_), i) => i
            }.zipWithIndex.map { case (i, j) => i -> (nextPos + j) }.toMap
            val metaAttrs = inner.output.map(a =>
              AttributeReference(a.name, a.dataType, nullable = true)())
            val metaRows = byLabel.map { case (lbls, f, fcnt) =>
              val vals = new Array[Any](inner.output.size)
              ges.indices.foreach(j => vals(j) = lbls(j))
              aggExprs.indices.foreach { i =>
                posOf.get(i).foreach(p => vals(p) = f(i))
                avgCntPos.get(i).foreach(p => vals(p) = fcnt(i))
              }
              InternalRow.fromSeq(vals.toSeq)
            }
            val u = Union(Seq(inner, LocalRelation(metaAttrs, metaRows)))
            val uOut = u.output
            val results: Seq[NamedExpression] =
              agg.output.zip(aggExprs).zip(kinds).zipWithIndex.map {
                case (((o, e), k), i) => k match {
                  case WLabel(j) => Alias(uOut(j), o.name)(exprId = o.exprId)
                  case WFold => e match {
                    case a: Alias => Alias(a.child, o.name)(exprId = o.exprId)
                    case _ => o
                  }
                  case WMin(_) => Alias(AggregateExpression(
                    Min(uOut(posOf(i))), Complete, isDistinct = false),
                    o.name)(exprId = o.exprId)
                  case WMax(_) => Alias(AggregateExpression(
                    Max(uOut(posOf(i))), Complete, isDistinct = false),
                    o.name)(exprId = o.exprId)
                  // exact per-group total sum ÷ total count — never an
                  // average of the two halves' averages
                  case WAvg(_) =>
                    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide}
                    val dbl = org.apache.spark.sql.types.DoubleType
                    Alias(Divide(
                      Cast(AggregateExpression(Sum(uOut(posOf(i))),
                        Complete, isDistinct = false), dbl),
                      Cast(AggregateExpression(Sum(uOut(avgCntPos(i))),
                        Complete, isDistinct = false), dbl)),
                      o.name)(exprId = o.exprId)
                  case _ => // WCnt / WSum / WCntCol all merge by addition
                    Alias(AggregateExpression(
                      Sum(uOut(posOf(i))), Complete, isDistinct = false),
                      o.name)(exprId = o.exprId)
                }
              }
            Aggregate(uOut.take(ges.size), results, u)
          }
        }
      } catch {
        // a metadata-half sum or label multiply overflowed Long: bail to
        // the unrewritten plan — the scan adjudicates per its EvalMode
        case _: ArithmeticException => agg
      }

      case agg @ Aggregate(Nil, aggExprs, child, _) if indexUnder(child).isDefined => try {
        val idx = indexUnder(child).get
        def sumStats(c: String): Option[Map[Int, (Option[Long], Long)]] =
          idx.sumStatsByCol.get(c)
        val answers: Seq[Option[Any]] = aggExprs.map {
          case Alias(AggregateExpression(
              Count(Seq(l: Literal)), Complete, false, None, _), _)
              if l.value != null => // count of a non-null literal = row count
            Some(idx.metadataRowCount)
          // count(c): non-null count — the row count when the layout
          // GUARDS c non-null, the exact Σ cnt_<c> when c carries a
          // non-null count (sumCols, or the statsCols auto-count),
          // untouched otherwise
          case Alias(AggregateExpression(
              Count(Seq(a: AttributeReference)), Complete, false, None, _), _) =>
            if (idx.nonNullLayoutCols(a.name)) Some(idx.metadataRowCount)
            else if (idx.cntCovered(a.name))
              Some(idx.shardRowCounts.keysIterator
                .map(s => idx.nonNullCnt(a.name, s).getOrElse(0L)).sum)
            else None
          // sum(c): exact Σ of per-shard sums (SQL null when every shard
          // is all-null / the table is empty); integral inputs only —
          // Sum's result type is then BIGINT, matching the stored longs.
          // TRY excluded (try_sum answers NULL on overflow; sumExact
          // bails this arm to the scan plan instead)
          case Alias(AggregateExpression(
              Sum(a: AttributeReference, mode), Complete, false, None, _), _)
              if mode.evalMode != EvalMode.TRY && integral(a.dataType) =>
            sumStats(a.name).map { per =>
              val parts = per.values.iterator.flatMap(_._1).toSeq
              if (parts.isEmpty) null else sumExact(parts)
            }
          // avg(c) = stored-sum ÷ stored-cnt — both exact, so the quotient
          // is the exact mean (double division of exact integers; SQL
          // null when no non-null value exists). Integral inputs only,
          // matching Average's DOUBLE result type for them.
          case Alias(AggregateExpression(
              Average(a: AttributeReference, mode), Complete, false, None, _), _)
              if mode != EvalMode.TRY && integral(a.dataType) =>
            sumStats(a.name).map { per =>
              val cnt = per.values.iterator.map(_._2).sum
              val parts = per.values.iterator.flatMap(_._1).toSeq
              if (cnt == 0L || parts.isEmpty) null
              else sumExact(parts).toDouble / cnt
            }
          // approx_count_distinct(c): the registry's per-shard HLLs merge
          // to the table-wide estimate with zero data files (opt-in — the
          // registry's estimator replaces Spark's, see
          // [[approxDistinctEnabled]])
          case Alias(AggregateExpression(
              h: HyperLogLogPlusPlus, Complete, false, None, _), _)
              if approxDistinctEnabled => h.child match {
            case a: AttributeReference =>
              mergedNdv(idx, a.name, idx.shardRowCounts.keySet.toSeq.sorted)
                .map(v => v: Any)
            case _ => None
          }
          // count(DISTINCT c) over a labelCols column: the per-shard
          // label sets union EXACTLY (unlike the HLL arm, no opt-in);
          // None — leave the plan alone — when any shard bailed
          case Alias(AggregateExpression(
              Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
              if idx.labelCols(a.name) =>
            labelUnionCount(idx, a.name,
              idx.shardRowCounts.keySet.toSeq.sorted).map(v => v: Any)
          case Alias(ae @ AggregateExpression(
              Min(a: AttributeReference), Complete, false, None, _), _)
              if longBacked(a.dataType) =>
            idx.metadataMinMax(a.name).map(mm => toTyped(mm._1, a.dataType))
          case Alias(ae @ AggregateExpression(
              Max(a: AttributeReference), Complete, false, None, _), _)
              if longBacked(a.dataType) =>
            idx.metadataMinMax(a.name).map(mm => toTyped(mm._2, a.dataType))
          // a foldable result expression (SELECT 'tag', count(*), NULL …)
          // evaluates inline — Literal.eval already yields the internal
          // format the LocalRelation row needs
          case Alias(e, _) if e.foldable => Some(e.eval(InternalRow.empty))
          case _ => None
        }
        if (answers.nonEmpty && answers.forall(_.isDefined))
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(answers.map(_.get))))
        else agg
      } catch {
        // a metadata sum overflowed Long: bail to the unrewritten plan —
        // the scan adjudicates per its EvalMode (ANSI raises, LEGACY wraps)
        case _: ArithmeticException => agg
      }
    }
  }
}

/** TRANSPARENT ORDER-BY-layout-column LIMIT-k shard pruning — the
  * "latest events" shape at 100 TB: `SELECT * FROM t ORDER BY ts DESC
  * LIMIT 100` over a range-laid table needs O(1) shards, not a full
  * scan, because the layout's exact per-shard [min, max] windows
  * totally order the shards on the sort column.
  *
  * Soundness. Walking shards from the sort direction's end, once the
  * already-selected shards hold ≥ k rows whose sort-column values
  * STRICTLY beat every unselected shard's window (value > U for DESC
  * where U = max window-max over unselected; symmetric for ASC), every
  * row of the true top-k lies in a selected shard: any unselected row
  * is beaten by those ≥ k strictly-better rows under ANY tie-breaking
  * secondary sort keys — so the rule is sound for multi-key sorts, and
  * the strict comparison is what buys that. The sort column must be a
  * layout column the commit GUARDS non-null (a null would escape the
  * windows); the Sort + Limit stay on top (Spark still plans
  * `TakeOrderedAndProject`, now over the pruned scan), so the rewrite
  * can never change the answer — it only removes shards that provably
  * cannot contribute.
  *
  * Scope: `Limit(k, Sort(order, global, child))` — optionally through a
  * deterministic Project between Limit and Sort — where the FIRST sort
  * key resolves (through deterministic Project aliases) to a guarded
  * layout attribute of a `readIndexed` range/Z relation, OR to a
  * monotone non-decreasing bucketing of one (`ts div n`,
  * `date_trunc(level, ts)` under UTC, `unix_micros(…)` of either — the
  * "latest 100 by day" shape; separation is then proved bucket-strictly,
  * since a non-strict key ties across a whole bucket), k > 0, and the
  * selection actually excludes at least one populated shard. WHERE
  * clauses whose every conjunct is a range/equality on a guarded layout
  * column OR a statsCols-WINDOWED column compose ("latest k of the last
  * week", "latest k in an id range"): shards outside the filter region
  * drop outright, only region-CONTAINED shards (every row survives the
  * filter, so n_rows is the eligible count — a merely-windowed column
  * additionally needs the per-shard NON-NULL proof, since windows ignore
  * nulls while filters reject them) count toward the guarantee, and the
  * unselected bound caps at the region edge.
  * Any other filter shape, non-monotone sort expressions, or hash
  * layouts are left to Catalyst untouched — there the eligible-count
  * bound is unknowable from metadata. OFF by default:
  *
  *   - `spark.graft.orderedLimit.enabled` (default false)
  *
  * (The reference's stores return recency-ordered pages from native
  * B-tree indexes, e.g. recall's ORDER BY created_at DESC LIMIT paths;
  * this is the shard-metadata equivalent for immutable range layouts.)
  */
object OrderedLimitPushdown extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, In, IntegerLiteral, SortOrder}
  import org.apache.spark.sql.catalyst.plans.logical.{Limit, LocalLimit, Sort}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import graft.core.SketchFileIndex

  private def enabled: Boolean =
    conf.getConfString("spark.graft.orderedLimit.enabled", "false").toBoolean

  /** Resolve `e` through deterministic Project aliases AND deterministic
    * Filters down to a readIndexed relation; yields the index, the
    * relation, the fully-substituted expression over relation attributes,
    * and the collected filter conditions (substituted the same way).
    */
  private def walk(p: LogicalPlan, e: Expression, conds: Seq[Expression])
  : Option[(SketchFileIndex, LogicalRelation, Expression, Seq[Expression])] =
    p match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case i: SketchFileIndex => Some((i, l, e, conds))
          case _ => None
        }
        case _ => None
      }
      case Project(exprs, child) if exprs.forall(_.deterministic) =>
        val subst = exprs.collect {
          case a: Alias => a.exprId -> a.child
        }.toMap
        def sub(x: Expression): Expression = x.transformUp {
          case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
        }
        walk(child, sub(e), conds.map(sub))
      case Filter(cond, child) if cond.deterministic =>
        walk(child, e, conds :+ cond)
      case _ => None
    }

  /** The minimal direction-ordered shard subset guaranteed to contain
    * every ELIGIBLE top-k row, or None when no strict subset suffices.
    * General over overlapping windows (Z cells), over a filter region,
    * and over a MONOTONE BUCKETING of the sort column (`ORDER BY
    * date_trunc('day', ts) DESC, id` — the first key is a NON-strict
    * monotone function of the layout column, so ties span whole buckets
    * and the strict-separation proof must compare BUCKETS, not values):
    *
    *  - candidates: shards intersecting the region on every filtered
    *    column — a shard outside it holds no eligible row and is dropped
    *    outright (the same exclusion the FileIndex's own zone-map pruning
    *    would make);
    *  - `guaranteed` counts only REGION-CONTAINED candidates (every row
    *    survives the filter, so n_rows is the eligible count) whose sort
    *    window's worst BUCKET strictly beats every unselected candidate's
    *    best eligible bucket (the raw best value caps at the region's own
    *    sort bound — an unselected row can never exceed min(window_max,
    *    hi) — and the bucketing is monotone non-decreasing, so the cap's
    *    bucket bounds the bucket). For the identity bucketing this is
    *    exactly strict value separation.
    */
  private def selectShards(bk: LayoutExprs.Bucketing,
                           windowsByCol: Map[String, Map[Int, (Long, Long)]],
                           counts: Map[Int, Long],
                           desc: Boolean, k: Long,
                           region: Map[String, (Long, Long)],
                           proven: (String, Int) => Boolean,
                           labelAdmits: Int => Boolean = _ => true,
                           eligibleCnt: Option[Int => Long] = None)
  : Option[Seq[Int]] = {
    val windows = windowsByCol(bk.attr.name)
    val populated = counts.keySet.toSeq
    if (populated.exists(s => !windows.contains(s))) return None
    // a label-EQ conjunct drops label-disjoint shards from candidacy the
    // way a region conjunct drops window-disjoint ones (exact sets — no
    // eligible row exists there); bailed shards stay candidates
    def intersects(s: Int): Boolean = labelAdmits(s) &&
      region.forall { case (c, (lo, hi)) =>
        lo <= hi && windowsByCol.get(c).flatMap(_.get(s)).forall {
          case (wl, wh) => wh >= lo && wl <= hi
        }
      }
    // containment on a merely-WINDOWED (statsCols) region column needs
    // the per-shard non-null proof — a null row fails the filter while
    // the window says nothing about it, so n_rows would overcount the
    // eligible rows and the guarantee would select too few shards
    def contained(s: Int): Boolean = region.forall { case (c, (lo, hi)) =>
      proven(c, s) && windowsByCol.get(c).flatMap(_.get(s)).exists {
        case (wl, wh) => wl >= lo && wh <= hi
      }
    }
    val candidates = populated.filter(intersects)
    if (candidates.isEmpty) return Some(Nil) // unsatisfiable filter
    val (loS, hiS) = region.getOrElse(bk.attr.name, (Long.MinValue, Long.MaxValue))
    val ordered =
      if (desc) candidates.sortBy(s => (-windows(s)._2, s))
      else candidates.sortBy(s => (windows(s)._1, s))
    // a region-contained shard's guaranteed eligible rows: every row
    // passes the range conjuncts, so the label conjunct's EXACT per-shard
    // match count (or n_rows without one) is the lower bound the top-k
    // guarantee needs; a label-bailed shard contributes 0 (unknown)
    val guaranteeCnt: Int => Long = eligibleCnt.getOrElse(counts)
    var i = 1
    while (i < ordered.size) {
      val rest = ordered.drop(i)
      val u = if (desc) rest.iterator.map(s => math.min(windows(s)._2, hiS)).max
              else rest.iterator.map(s => math.max(windows(s)._1, loS)).min
      val guaranteed = ordered.take(i).iterator
        .filter(s => contained(s) &&
          (if (desc) bk.bucket(windows(s)._1) > bk.bucket(u)
           else bk.bucket(windows(s)._2) < bk.bucket(u)))
        .map(guaranteeCnt).sum
      if (guaranteed >= k) return Some(ordered.take(i))
      i += 1
    }
    // no strict candidate subset suffices: leave the plan alone — the
    // FileIndex's own zone-map pruning already applies the region
    None
  }

  /** Split one label-EQ/IN conjunct on a labelCols relation attribute
    * into (column, wanted labels); anything else is None.
    */
  private def labelEqOf(e: Expression, idx: SketchFileIndex,
                        relIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
  : Option[(String, Set[String])] = {
    def str(l: Literal): Option[String] = l.value match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    def ok(a: AttributeReference): Boolean =
      relIds.contains(a.exprId) && idx.labelCols(a.name) &&
        idx.labelStats(a.name).isDefined
    e match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, l: Literal) if ok(a) =>
        str(l).map(v => a.name -> Set(v))
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          l: Literal, a: AttributeReference) if ok(a) =>
        str(l).map(v => a.name -> Set(v))
      case In(a: AttributeReference, list)
          if ok(a) && list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        val vs = list.flatMap(x => str(x.asInstanceOf[Literal]))
        if (vs.length == list.length) Some(a.name -> vs.toSet) else None
      case _ => None
    }
  }

  private def prune(sortExpr: Expression, desc: Boolean, k: Int,
                    child: LogicalPlan): Option[LogicalPlan] =
    walk(child, sortExpr, Nil).flatMap { case (idx, rel, resolved, conds0) =>
      val relIds = rel.output.map(_.exprId).toSet
      val guarded = idx.nonNullLayoutCols
      // ONE label-EQ/IN conjunct may ride beside the range conjuncts: the
      // per-shard label sets give the EXACT eligible-row count a
      // region-contained shard contributes to the top-k guarantee (two
      // label COLUMNS would need the joint distribution — bail, the
      // FileIndex still label-prunes the scan). IsNotNull conjuncts the
      // optimizer infers from the label equality restrict nothing here
      // (the label match already implies non-null).
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
          conjuncts(a) ++ conjuncts(b)
        case o => Seq(o)
      }
      val flat = conds0.flatMap(conjuncts)
      val labelPairs = flat.map(c => c -> labelEqOf(c, idx, relIds))
      val wanted: Map[String, Set[String]] = labelPairs.collect {
        case (_, Some((c, vs))) => (c, vs)
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).reduce(_ intersect _) }
      val labelColsHit: Set[String] = wanted.keySet
      val conds = labelPairs.collect { case (c, None) => c }.filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) => labelColsHit(a.name)
        case _ => false
      }
      if (wanted.size > 1) return None
      val labelStatsBy = wanted.keys.map(c => c -> idx.labelStats(c).get).toMap
      val labelAdmits: Int => Boolean = s => wanted.forall { case (c, vs) =>
        labelStatsBy(c).getOrElse(s, None) match {
          case Some(entries) =>
            entries.exists(e => e._1.exists(vs) && e._2 > 0L)
          case None => true // bailed: unknown labels, must stay a candidate
        }
      }
      val eligibleCnt: Option[Int => Long] =
        if (wanted.isEmpty) None
        else {
          val (c, vs) = wanted.head
          Some(s => labelStatsBy(c).getOrElse(s, None) match {
            case Some(entries) => entries.iterator
              .filter(e => e._1.exists(vs)).map(_._2).sum
            case None => 0L // bailed: contributes nothing to the guarantee
          })
        }
      for {
        // the first sort key: a guarded layout attribute, or a MONOTONE
        // bucketing of one (`ts div n`, `date_trunc(level, ts)` under
        // UTC, `unix_micros(…)` around either). Labels must be monotone
        // NON-DECREASING in the stored Long (a `* -3` flips the sort
        // direction and is rejected) — bucket-strict separation then
        // proves the top-k under ANY tiebreak keys.
        bk <- LayoutExprs.bucketingOf(resolved)
          if bk.monotoneLabel && relIds.contains(bk.attr.exprId) &&
            guarded(bk.attr.name)
        // WHERE conjuncts may also name statsCols-WINDOWED columns (the
        // correlated-id-range shape): region drops stay sound with nulls,
        // and selectShards runs the per-shard non-null proof before a
        // contained shard's n_rows counts toward the guarantee — the
        // same math the grouped collapse already proved
        region <- LayoutExprs.intervalsOf(conds,
          guarded ++ idx.windowedCols, guarded)
        windowsByCol = (region.keySet + bk.attr.name)
          .flatMap(c => idx.columnWindows(c).map(c -> _)).toMap
        if windowsByCol.contains(bk.attr.name)
        counts = idx.shardRowCounts
        selected <- selectShards(bk, windowsByCol, counts,
          desc, k.toLong, region,
          (c, s) => idx.nonNullProven(c, s, counts(s)),
          labelAdmits, eligibleCnt)
      } yield child.transformUp {
        case l: LogicalRelation if l.eq(rel) =>
          if (selected.isEmpty)
            // no shard intersects the filter region: no relation row can
            // survive the WHERE above, so the subtree is provably empty —
            // an empty LocalRelation beats a Filter(false) the last-batch
            // optimizer can no longer fold away (the scan would still
            // list every shard)
            org.apache.spark.sql.catalyst.plans.logical
              .LocalRelation(l.output, Nil)
          else {
            val shardAttr = l.output.find(_.name == "shard").getOrElse(
              throw new IllegalStateException(
                "sketch relation lost its shard column — cannot prune"))
            Filter(In(shardAttr,
              selected.map(s => Literal(s): Expression)), l)
          }
      }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case lim @ Limit(IntegerLiteral(k),
          s @ Sort(SortOrder(se, dir, _, _) +: _, true, child, _)) if k > 0 =>
        prune(se, dir == Descending, k, child)
          .map(p => lim.withNewChildren(Seq(
            lim.children.head.withNewChildren(Seq(s.withNewChildren(Seq(p)))))))
          .getOrElse(lim)
      case lim @ Limit(IntegerLiteral(k), Project(ps,
          s @ Sort(SortOrder(se, dir, _, _) +: _, true, child, _)))
          if k > 0 && ps.forall(_.deterministic) =>
        prune(se, dir == Descending, k, child)
          .map { p =>
            val proj = lim.children.head.children.head
            lim.withNewChildren(Seq(lim.children.head.withNewChildren(Seq(
              proj.withNewChildren(Seq(s.withNewChildren(Seq(p))))))))
          }
          .getOrElse(lim)
    }
  }
}

/** TRANSPARENT sketch-driven join dispatch — the join-side analog of
  * [[graft.core.SketchFileIndex]]'s transparent data skipping: an INNER
  * equi-join between two `readIndexed` hash-layout relations on their key
  * columns is dispatched the way
  * [[graft.operators.SketchOps.equiJoinPlanFromRegistry]] decides — from
  * the tables' PERSISTED registry sketches, zero data-file reads:
  *
  *  - `broadcast_left` / `broadcast_right` → the matching side gets a
  *    BROADCAST join hint (Spark's own size estimate never sees row
  *    counts; the registry's exact `n_rows` does);
  *  - `salted_left` / `salted_right` → the join rewrites to
  *    [[graft.operators.JoinOps.skewAwareJoin]]'s hot-key-split shape
  *    (detected hot keys salt across `buckets` reducers, cold keys join
  *    plainly, the halves union) — bit-identical rows, different shuffle;
  *  - `shuffle` → the plan is left alone.
  *
  * Result rows are ALWAYS exactly the plain join's (spec- and
  * oracle-pinned) — the decision changes the shuffle shape, never the
  * semantics. OFF by default (plan-time registry reads cost driver jobs);
  * opt in per session:
  *
  *   - `spark.graft.sketchJoinDispatch.enabled`          (default false)
  *   - `spark.graft.sketchJoinDispatch.broadcastMaxRows` (default 1000000)
  *   - `spark.graft.sketchJoinDispatch.buckets`          (default 16)
  *   - `spark.graft.sketchJoinDispatch.bloomPrune.enabled` (default true —
  *     the cross-layout arm's plan-time dim-key Bloom probe; disable to
  *     keep the broadcast hint without the planning-latency cost)
  *
  * Scope (anything outside it is left to Catalyst untouched): INNER,
  * LEFT OUTER, LEFT SEMI, LEFT ANTI, and RIGHT OUTER joins whose condition is a
  * conjunction of attribute equalities naming EXACTLY both tables'
  * registry key column sets (one conjunct for a single key, one per
  * component for a composite key — positionally aligned, the combined
  * hash is order-sensitive), both sides a `readIndexed` relation under
  * any stack of attribute-only Projects and DETERMINISTIC Filters
  * (registry counts are upper bounds for a filtered side — see
  * [[indexUnder]] for the soundness argument per strategy), no existing
  * join hint, matching key-hash domains (`keyKind`), and both
  * registries carrying CM rows at identical parameters.
  * The non-inner types get what is semantically legal: broadcast hints
  * on their one supported build side and side-appropriate Bloom-AND
  * pruning (right-only for left-outer/anti, left-only for right-outer —
  * every preserved-side row must survive; both sides for semi);
  * salting and the same-key-name / disjoint-non-key-name requirements
  * apply to INNER only (the salted rewrite re-projects by name).
  * A readIndexed pair the hash/ordered arms cannot dispatch — differing
  * layouts (hash dim × range fact), mismatched sketch parameters, or
  * equi-keys that aren't the layout keys — still gets the
  * layout-AGNOSTIC decisions: a broadcast hint from the registries'
  * exact row counts (sound upper bounds regardless of layout), and —
  * when the fact side committed a secondary Bloom on the join column —
  * a fact-shard prune against the broadcast dim's key set (dim-filter
  * pushdown: a fact shard admitting no dim key provably joins nothing).
  * Decisions are cached per (root, version) pair — optimizer batches run
  * to fixed point, and the registry is immutable per version.
  */
object SketchJoinDispatch extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, JoinHint, BROADCAST}
  import org.apache.spark.sql.catalyst.expressions.{In, NamedExpression}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import graft.core.SketchFileIndex
  import graft.operators.{JoinOps, SketchOps}

  private def enabled: Boolean =
    conf.getConfString("spark.graft.sketchJoinDispatch.enabled", "false").toBoolean
  private def broadcastMaxRows: Long =
    conf.getConfString("spark.graft.sketchJoinDispatch.broadcastMaxRows",
      "1000000").toLong
  private def buckets: Int =
    conf.getConfString("spark.graft.sketchJoinDispatch.buckets", "16").toInt

  /** Versions are immutable, so a (roots, versions, threshold) decision
    * never changes — cache it across the optimizer's fixed-point passes
    * and across queries over the same snapshots. SIZE-CAPPED LRU, not an
    * unbounded map: streaming ingest commits a version per micro-batch,
    * and with dispatch enabled every tick's version pair would otherwise
    * add an entry for the driver's lifetime. 256 entries comfortably
    * covers the live table pairs of a session; superseded versions age
    * out by access order.
    */
  private val cacheMax = 256
  private val planCache = new graft.util.LruCache[
    (String, Long, String, Long, Long), SketchOps.EquiJoinPlan](cacheMax)

  /** Bloom-AND co-located shard admission, cached the same way. */
  private val colocCache = new graft.util.LruCache[
    (String, Long, String, Long), Seq[Int]](cacheMax)

  /** Ordered-layout (range/Z) co-located admission — per-SIDE shard
    * lists (unlike the hash layout, the two sides' admitted ids differ:
    * intersection is on raw value windows, not a shared hash).
    */
  private val orderedColocCache = new graft.util.LruCache[
    (String, Long, String, Long), (Seq[Int], Seq[Int])](cacheMax)

  /** Cross-layout secondary-Bloom fact admission, keyed by (fact root,
    * fact version, dim root, dim version, "factCol=dimCol"). BOTH column
    * names key the entry: the admitted set is computed from the DIM
    * column's distinct keys, so a second join of the same fact column
    * against a DIFFERENT dim column of the same dim table must memoize
    * its own admission — reusing the first would prune fact shards that
    * actually join (wrong rows, silently).
    */
  private val crossPruneCache = new graft.util.LruCache[
    (String, Long, String, Long, String), Seq[Int]](cacheMax)

  /** Test/ops introspection: current cache occupancy. */
  private[graft] def cacheSizes: (Int, Int) = (planCache.size, colocCache.size)
  private[graft] def cacheCapacity: Int = cacheMax

  /** The SketchFileIndex beneath a join child, looking through
    * attribute-only Projects (column pruning inserts those) and ANY
    * deterministic Filter — the `WHERE side.x > 5` shape of real queries.
    * A filter only ever REMOVES rows, so the registry's exact row counts
    * become UPPER bounds for the filtered relation, and every dispatch
    * decision stays sound on upper bounds:
    *
    *  - broadcast: a side that fits the row budget unfiltered still fits
    *    filtered;
    *  - salting: [[JoinOps.skewAwareJoin]] detects hot keys from the
    *    RUNTIME (filtered) data itself (`auto = true`), so a filtered-out
    *    hot key simply doesn't split — harmless, never wrong;
    *  - Bloom-AND co-located pruning: a shard pair with no common key has
    *    none after filtering either side — filter-independent.
    *
    * Only the "plain is right" arm loses precision (a filter could shrink
    * a side below the broadcast budget unnoticed) — acceptable: it is the
    * no-op. Non-deterministic filters stop the walk: the salted rewrite
    * re-evaluates the child's filter in both union branches, which a
    * rand()-style predicate cannot tolerate.
    */
  private def indexUnder(p: LogicalPlan): Option[SketchFileIndex] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case i: SketchFileIndex => Some(i)
        case _ => None
      }
      case _ => None
    }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      indexUnder(child)
    case Filter(cond, child) if cond.deterministic => indexUnder(child)
    case _ => None
  }

  /** Join types the dispatch understands, with their side constraints:
    * INNER gets the full treatment; the one-sided types get what is
    * semantically legal — broadcast hints only on the build side their
    * BroadcastHashJoin supports (BuildRight for the LEFT-typed joins,
    * BuildLeft for RIGHT OUTER) and side-appropriate Bloom-AND pruning:
    *
    *  - LeftOuter / LeftAnti: RIGHT side only. Every left row must
    *    survive (unmatched rows emit nulls / ARE the output), but right
    *    rows in non-co-admitted shards provably match nothing — dropping
    *    them changes no row's match status.
    *  - RightOuter: the mirror — LEFT side only.
    *  - LeftSemi: BOTH sides. Left rows in non-admitted shards provably
    *    have no match and are absent from the semi output anyway.
    *
    * Salting stays INNER-only ([[JoinOps.skewAwareJoin]]'s shape).
    */
  private def supported(jt: org.apache.spark.sql.catalyst.plans.JoinType): Boolean =
    jt match {
      case Inner => true
      case org.apache.spark.sql.catalyst.plans.LeftOuter => true
      case org.apache.spark.sql.catalyst.plans.LeftSemi => true
      case org.apache.spark.sql.catalyst.plans.LeftAnti => true
      case org.apache.spark.sql.catalyst.plans.RightOuter => true
      case _ => false
    }

  /** Which sides may receive the injected shard-prune filter per type. */
  private def mayPruneLeft(jt: org.apache.spark.sql.catalyst.plans.JoinType): Boolean =
    jt == Inner || jt == org.apache.spark.sql.catalyst.plans.LeftSemi ||
      jt == org.apache.spark.sql.catalyst.plans.RightOuter
  private def mayPruneRight(jt: org.apache.spark.sql.catalyst.plans.JoinType): Boolean =
    jt != org.apache.spark.sql.catalyst.plans.RightOuter

  /** The condition's conjuncts when EVERY one is an attribute-equality
    * oriented across the two sides — (leftAttr, rightAttr) pairs; None
    * when any conjunct is something else (left to Catalyst).
    */
  private def keyPairs(cond: Expression, left: LogicalPlan, right: LogicalPlan)
  : Option[Seq[(AttributeReference, AttributeReference)]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(a, b) => split(a) ++ split(b)
      case o         => Seq(o)
    }
    val pairs = split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) Some((a, b))
        else if (b.references.subsetOf(left.outputSet) &&
          a.references.subsetOf(right.outputSet)) Some((b, a))
        else None
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.map(_.get)) else None
  }

  /** True when the equality pairs ride the two relations' ORDERED
    * layouts: one pair naming both range layouts' sort columns, or two
    * pairs mapping colA→colA and colB→colB of two Z layouts (crossed
    * pairs — l.a = r.b — fail: window intersection would compare
    * different dimensions). Zone maps are on `cast(long)` windows, so
    * admission is an upper bound of original-value matches — sound.
    */
  private def orderedDispatchable(left: LogicalPlan, right: LogicalPlan,
                                  pairs: Seq[(AttributeReference, AttributeReference)])
  : Boolean =
    (indexUnder(left), indexUnder(right)) match {
      case (Some(li), Some(ri)) =>
        (li.rangeLayoutMeta, ri.rangeLayoutMeta) match {
          case (Some(ml), Some(mr)) =>
            pairs.size == 1 && pairs.head._1.name == ml.sortCol &&
              pairs.head._2.name == mr.sortCol
          case _ =>
            (li.zLayoutMeta, ri.zLayoutMeta) match {
              case (Some(ml), Some(mr)) =>
                pairs.size == 2 &&
                  pairs.map(_._1.name).distinct.size == 2 &&
                  pairs.exists(p => p._1.name == ml.colA && p._2.name == mr.colA) &&
                  pairs.exists(p => p._1.name == ml.colB && p._2.name == mr.colB)
              case _ => false
            }
        }
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    val spark = org.apache.spark.sql.SparkSession.active
    plan.transform {
      case j @ Join(left, right, jt, Some(cond), hint)
          if hint == JoinHint.NONE && supported(jt) &&
            !alreadyPruned(left) && !alreadyPruned(right) &&
            keyPairs(cond, left, right)
              .exists(orderedDispatchable(left, right, _)) =>
        // ORDERED-layout co-location: equi-joins on the sort column of
        // two RANGE-laid relations (or the layout columns of two
        // Z-ordered relations) prune each side to its window/rectangle-
        // intersecting shards — per-side lists, the layouts need not
        // share bounds — and broadcast-hint a side whose EXACT zone-map
        // row count fits the budget (upper bound under filters, so the
        // hint stays legal). No CM rows on these layouts ⇒ no salting.
        val li = indexUnder(left).get
        val ri = indexUnder(right).get
        val (admL, admR) = orderedColocCache.getOrElseUpdate(
          (li.tableRoot, li.tableVersion, ri.tableRoot, ri.tableVersion))(
          if (li.rangeLayoutMeta.isDefined)
            graft.core.SketchRegistry.rangeColocatedShards(spark,
              li.tableRoot, ri.tableRoot,
              Some(li.tableVersion), Some(ri.tableVersion))
          else
            graft.core.ZOrderStore.zColocatedShards(spark,
              li.tableRoot, ri.tableRoot,
              Some(li.tableVersion), Some(ri.tableVersion)))
        val l2 = if (mayPruneLeft(jt) && admL.size < li.populatedShardIds.size)
          pruneShards(left, admL.toSet) else left
        val r2 = if (mayPruneRight(jt) && admR.size < ri.populatedShardIds.size)
          pruneShards(right, admR.toSet) else right
        val bcastL = JoinHint(Some(HintInfo(strategy = Some(BROADCAST))), None)
        val bcastR = JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))
        val rightOuterZ = jt == org.apache.spark.sql.catalyst.plans.RightOuter
        val hintOpt =
          if (ri.metadataRowCount <= broadcastMaxRows && !rightOuterZ)
            Some(bcastR) // BuildRight: inner + the left-typed joins
          else if (li.metadataRowCount <= broadcastMaxRows &&
            (jt == Inner || rightOuterZ))
            Some(bcastL) // BuildLeft: inner + right outer
          else None
        hintOpt match {
          case Some(h) => Join(l2, r2, jt, j.condition, h)
          case None if (l2 ne left) || (r2 ne right) =>
            Join(l2, r2, jt, j.condition, JoinHint.NONE)
          case None => j
        }

      case j @ Join(left, right, jt, Some(cond), hint)
          if hint == JoinHint.NONE && supported(jt) &&
            !alreadyPruned(left) && !alreadyPruned(right) &&
            keyPairs(cond, left, right)
              .exists(dispatchable(j, left, right, _)) =>
        val pairs = keyPairs(cond, left, right).get
        val li = indexUnder(left).get
        val ri = indexUnder(right).get
        val decision = planCache.getOrElseUpdate(
          (li.tableRoot, li.tableVersion, ri.tableRoot, ri.tableVersion,
            broadcastMaxRows))(
          SketchOps.equiJoinPlanFromRegistry(spark,
            li.tableRoot, ri.tableRoot,
            Some(li.tableVersion), Some(ri.tableVersion),
            broadcastMaxRows = broadcastMaxRows))
        // Bloom-AND co-located shard pruning rides on top of ANY strategy:
        // with identical key-hash layouts, key k lives in the same shard
        // on both sides, and a shard pair whose Bloom bitmaps share no bit
        // provably holds no common key — the join opens only co-populated
        // passing shard dirs (a disjoint pair opens ZERO data files), rows
        // unchanged (false AND-bits cost a read, never a wrong row). Which
        // SIDES may prune depends on the join type (see [[supported]]).
        val coloc = colocatedAdmitted(spark, li, ri)
        val (l2, r2) = coloc match {
          case Some(adm) =>
            (if (mayPruneLeft(jt)) pruneShards(left, adm) else left,
              if (mayPruneRight(jt)) pruneShards(right, adm) else right)
          case None => (left, right)
        }
        val pruned = (l2 ne left) || (r2 ne right)
        val bcastLeft = JoinHint(Some(HintInfo(strategy = Some(BROADCAST))), None)
        val bcastRight = JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))
        val rightOuter = jt == org.apache.spark.sql.catalyst.plans.RightOuter
        decision.strategy match {
          case "broadcast_left" if jt == Inner || rightOuter =>
            Join(l2, r2, jt, j.condition, bcastLeft)
          case "broadcast_right" if !rightOuter =>
            // BuildRight is legal for inner and the left-typed joins
            Join(l2, r2, jt, j.condition, bcastRight)
          case "salted_left" if jt == Inner =>
            rewriteSalted(spark, j, l2, r2, pairs.map(_._1.name), saltLeft = true)
          case "salted_right" if jt == Inner =>
            rewriteSalted(spark, j, l2, r2, pairs.map(_._1.name), saltLeft = false)
          case _ if pruned => Join(l2, r2, jt, j.condition, JoinHint.NONE)
          case _ => j // nothing legal to change: the plain plan is right
        }

      // CROSS-LAYOUT fallback — a hash-keyed dim joined to a range-laid
      // fact (or any readIndexed pair the arms above cannot dispatch:
      // differing layouts, mismatched sketch parameters, equi-keys that
      // aren't the layout keys). Nothing can salt, but the registries'
      // EXACT row counts are layout-AGNOSTIC — so the one
      // layout-independent decision still fires: a side whose exact
      // count fits the budget gets the broadcast hint Spark's size
      // estimator would never grant it (upper bound under filters —
      // [[indexUnder]] — so the hint stays legal). And when the FACT
      // side committed a secondary Bloom on a join column
      // (`sketchCols`), the broadcast dim's key set AND-probes the
      // fact's per-shard Blooms — the classic dim-filter pushdown: fact
      // shards admitting NO dim key provably join nothing and their
      // dirs never open; a COMPOSITE equi-join probes each Bloom-covered
      // component independently and intersects the admissions (a joining
      // row must match on every component). (Bloom false positives cost
      // a read, false negatives cannot occur; side legality per join
      // type as in
      // [[mayPruneLeft]]/[[mayPruneRight]]). Rows unchanged by
      // construction: a hint never changes semantics, and pruned shards
      // provably contribute none.
      case j @ Join(left, right, jt, Some(cond), hint)
          if hint == JoinHint.NONE && supported(jt) &&
            !alreadyPruned(left) && !alreadyPruned(right) &&
            keyPairs(cond, left, right).exists(_.nonEmpty) &&
            indexUnder(left).isDefined && indexUnder(right).isDefined =>
        val li = indexUnder(left).get
        val ri = indexUnder(right).get
        val pairs = keyPairs(cond, left, right).get
        val bcastL = JoinHint(Some(HintInfo(strategy = Some(BROADCAST))), None)
        val bcastR = JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))
        val rOuter = jt == org.apache.spark.sql.catalyst.plans.RightOuter
        if (ri.metadataRowCount <= broadcastMaxRows && !rOuter) {
          val l2 =
            if (mayPruneLeft(jt))
              crossBloomPruned(spark, left, li, right, ri, pairs.map(_.swap))
            else left
          Join(l2, right, jt, j.condition, bcastR)
        } else if (li.metadataRowCount <= broadcastMaxRows &&
          (jt == Inner || rOuter)) {
          val r2 =
            if (mayPruneRight(jt))
              crossBloomPruned(spark, right, ri, left, li, pairs)
            else right
          Join(left, r2, jt, j.condition, bcastL)
        } else j
    }
  }

  /** The fact side with its secondary-Bloom shard prune applied, or the
    * side untouched when it cannot prune. `pairs` is (dimAttr, factAttr)
    * per equi-conjunct; every pair whose fact column carries a committed
    * per-shard Bloom probes INDEPENDENTLY and the admissions INTERSECT —
    * sound for composite keys because a joining fact row must match some
    * dim row on EVERY component, so a shard no dim value of ANY single
    * component admits provably joins nothing. (The hash layout's own key
    * column qualifies too when it is a plain integral key — its Bloom is
    * over the same [[graft.core.LayoutLong]] value the probe derives;
    * string/composite key hashes live in the xxhash domain and are left
    * alone.) Non-qualifying pairs simply don't restrict.
    *
    * COST MODEL (the honest part): each un-memoized pair runs a PLAN-TIME
    * Spark job — the dim's distinct keys (bounded: the caller only probes
    * when the dim's exact registry count fits `broadcastMaxRows`) AND-
    * probe the fact's per-shard Blooms, and only the admitted SHARD IDS
    * collect. The job runs inside optimizer rule application, so a slow
    * filesystem stalls PLANNING of the first query per (fact version, dim
    * version, column pair) — execution is never blocked, and the result
    * memoizes in [[crossPruneCache]]. A latency-sensitive session keeps
    * the broadcast hint but skips the probe via
    *
    *   - `spark.graft.sketchJoinDispatch.bloomPrune.enabled` (default true)
    */
  private def bloomPruneEnabled: Boolean =
    conf.getConfString("spark.graft.sketchJoinDispatch.bloomPrune.enabled",
      "true").toBoolean

  private def crossBloomPruned(spark: org.apache.spark.sql.SparkSession,
                               fact: LogicalPlan, factIdx: SketchFileIndex,
                               dim: LogicalPlan, dimIdx: SketchFileIndex,
                               pairs: Seq[(AttributeReference, AttributeReference)])
  : LogicalPlan = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (!bloomPruneEnabled) return fact
    // every attr must be its RELATION's own column (not a rename): the
    // fact's Bloom registry column and the dim's readIndexed re-read
    // resolve BY NAME against the stored tables
    def relAttrs(p: LogicalPlan): Set[org.apache.spark.sql.catalyst.expressions.ExprId] =
      p.collectLeaves().flatMap(_.output.map(_.exprId)).toSet
    val factIds = relAttrs(fact)
    val dimIds = relAttrs(dim)
    // a hash layout's string/composite key Blooms live in the xxhash
    // domain — a LayoutLong probe would silently admit nothing
    def keyDomainOk(factName: String): Boolean =
      factIdx.hashLayoutMeta.forall(m =>
        !m.keyCols.contains(factName) || (!m.keyIsString && !m.isComposite))
    val usable = pairs.filter { case (dimAttr, factAttr) =>
      LayoutExprs.longBacked(dimAttr.dataType) &&
        LayoutExprs.longBacked(factAttr.dataType) &&
        factIds.contains(factAttr.exprId) && dimIds.contains(dimAttr.exprId) &&
        keyDomainOk(factAttr.name) &&
        factIdx.secondaryBloom(factAttr.name).isDefined
    }
    if (usable.isEmpty) return fact
    val admitted = usable.map { case (dimAttr, factAttr) =>
      val (reg, bitsLog2, k) = factIdx.secondaryBloom(factAttr.name).get
      crossPruneCache.getOrElseUpdate(
        (factIdx.tableRoot, factIdx.tableVersion,
          dimIdx.tableRoot, dimIdx.tableVersion,
          s"${factAttr.name}=${dimAttr.name}")) {
        // the UNFILTERED dim keys — a superset of the filtered dim's,
        // so the admission stays a sound upper bound under dim filters
        val keys = SketchFileIndex.readIndexed(spark, dimIdx.tableRoot,
            Some(dimIdx.tableVersion))
          .select(graft.core.LayoutLong.longCol(col(dimAttr.name)).as("__v"))
          .na.drop().distinct()
        SketchOps.bloomMightContain(broadcast(reg), keys, Nil, "__v",
            bitsLog2, k)
          .filter(col("might_contain")).select(col("shard")).distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
      }.toSet
    }.reduce(_ intersect _)
    if (admitted.size < factIdx.populatedShardIds.size)
      pruneShards(fact, admitted)
    else fact
  }

  /** The Bloom-AND-admitted shard ids when the two relations share the
    * key-hash layout exactly (same shardsLog2/bitsLog2/k — the AND proof
    * needs identical hash families); None otherwise, or when every
    * populated shard is admitted (injecting a filter would be noise).
    */
  private def colocatedAdmitted(spark: org.apache.spark.sql.SparkSession,
                                li: SketchFileIndex,
                                ri: SketchFileIndex): Option[Set[Int]] = {
    val (ml, mr) = (li.hashLayoutMeta.get, ri.hashLayoutMeta.get)
    if (ml.shardsLog2 != mr.shardsLog2 || ml.bitsLog2 != mr.bitsLog2 ||
      ml.k != mr.k || ml.keyIsString != mr.keyIsString) return None
    val admitted = colocCache.getOrElseUpdate(
      (li.tableRoot, li.tableVersion, ri.tableRoot, ri.tableVersion))(
      graft.core.SketchRegistry.joinPrunedShards(spark,
        li.tableRoot, ri.tableRoot,
        Some(li.tableVersion), Some(ri.tableVersion)))
    if (admitted.size >= (1 << ml.shardsLog2)) None
    else Some(admitted.toSet)
  }

  /** True when the side already carries the injected `shard IN (...)`
    * prune filter directly above its sketch relation — the marker that
    * this join was dispatched on an earlier fixed-point pass of the
    * optimizer batch. Without this guard the rule would re-fire every
    * pass and stack identical filters until the iteration cap (the
    * filters used to be the accidental stop themselves, back when any
    * non-IsNotNull Filter blocked [[indexUnder]]). A USER-written shard
    * filter also matches — dispatch skips it, which is merely
    * conservative (Catalyst plans the join plainly).
    */
  private def alreadyPruned(p: LogicalPlan): Boolean = p match {
    case Filter(cond, _: LogicalRelation) => cond match {
      case In(a: AttributeReference, _) if a.name == "shard" => true
      case Literal(false, org.apache.spark.sql.types.BooleanType) => true
      case _ => false
    }
    case Filter(_, child) => alreadyPruned(child)
    case Project(_, child) => alreadyPruned(child)
    case _ => false
  }

  /** Inject `shard IN (admitted)` directly above each sketch relation —
    * `shard` is the layout's partition column, so FileSourceStrategy
    * hands the filter to the FileIndex and only admitted dirs open.
    */
  private def pruneShards(side: LogicalPlan, admitted: Set[Int]): LogicalPlan =
    side.transformUp {
      case l: LogicalRelation if indexUnder(l).isDefined =>
        if (admitted.isEmpty)
          // zero admitted shards: the side provably contributes no
          // joining row — an empty LocalRelation beats a Filter(false)
          // the last-batch optimizer can no longer fold away (the scan
          // would still list every shard)
          org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation(l.output, Nil)
        else {
          val shardAttr = l.output.find(_.name == "shard").getOrElse(
            throw new IllegalStateException(
              "sketch relation lost its shard column — cannot prune"))
          Filter(In(shardAttr,
            admitted.toSeq.sorted.map(s => Literal(s): Expression)), l)
        }
    }

  /** All the scope conditions that make the rewrite applicable AND safe:
    * the equality pairs must name EXACTLY each side's committed key
    * column set (single or composite — a two-conjunct equi-join on a
    * (k1, k2)-committed pair dispatches like a single-key one), the two
    * registries must share the key-hash DOMAIN (`keyKind` — int/string/
    * multi:kinds — or their sketches describe incomparable hashes) and
    * the sketch parameters, and the salted rewrite (INNER only) keeps
    * its same-name/disjoint-non-key-name requirements.
    */
  private def dispatchable(j: Join, left: LogicalPlan, right: LogicalPlan,
                           pairs: Seq[(AttributeReference, AttributeReference)])
  : Boolean =
    pairs.nonEmpty && {
      val lNames = pairs.map(_._1.name)
      val rNames = pairs.map(_._2.name)
      (indexUnder(left), indexUnder(right)) match {
        case (Some(li), Some(ri)) =>
          (li.hashLayoutMeta, ri.hashLayoutMeta) match {
            case (Some(ml), Some(mr)) =>
              // the salted rewrite (INNER only) joins by shared key names
              // and re-projects by name, so it additionally needs
              // name-identical pairs and disjoint non-key names;
              // hint/prune dispatch for the other join types does not
              val saltedSafe = j.joinType != Inner ||
                (pairs.forall(p => p._1.name == p._2.name) &&
                  left.output.map(_.name).filterNot(lNames.contains)
                    .intersect(right.output.map(_.name)).isEmpty)
              // the combined hash is ORDER-sensitive: the Bloom-AND shard
              // proof needs each pair to align positionally across the
              // two committed key orders (a=x AND b=y over (a,b)/(x,y)
              // layouts aligns; a=y AND b=x does not — left alone)
              val aligned = pairs.forall(p =>
                ml.keyCols.indexOf(p._1.name) == mr.keyCols.indexOf(p._2.name))
              lNames.distinct.size == lNames.size &&
                rNames.distinct.size == rNames.size &&
                lNames.toSet == ml.keyCols.toSet &&
                rNames.toSet == mr.keyCols.toSet && aligned &&
                ml.keyKind == mr.keyKind && saltedSafe &&
                ml.cmDepth > 0 && mr.cmDepth > 0 &&
                ml.cmDepth == mr.cmDepth &&
                ml.cmWidthLog2 == mr.cmWidthLog2 && ml.hllP == mr.hllP
            case _ => false
          }
        case _ => false
      }
    }

  /** Build the hot-key-split salted join as a DataFrame over the ORIGINAL
    * child plans (fully declarative — [[JoinOps.skewAwareJoin]]'s
    * threshold rides as a broadcast aggregate, no driver action), then
    * re-project to the original Join's output attributes: every original
    * output resolves by NAME in the rewritten subtree (non-key names are
    * disjoint by precondition; BOTH original key attributes map to the
    * surviving key column — equal values under the inner equi-join), and
    * aliases pin the original exprIds so parents resolve unchanged.
    */
  private def rewriteSalted(spark: org.apache.spark.sql.SparkSession, j: Join,
                            left: LogicalPlan, right: LogicalPlan,
                            keys: Seq[String], saltLeft: Boolean): LogicalPlan = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val dfL = org.apache.spark.sql.graftshim.DatasetShim.ofRows(spark, left)
    val dfR = org.apache.spark.sql.graftshim.DatasetShim.ofRows(spark, right)
    // the salt source only has to VARY within a key on the salted side —
    // which bucket a row lands in never affects correctness (the other
    // side replicates to every bucket), so a per-row id is safe
    val joined =
      if (saltLeft)
        JoinOps.skewAwareJoin(dfL, dfR, keys,
          monotonically_increasing_id(), buckets = buckets, auto = true)
      else
        JoinOps.skewAwareJoin(dfR, dfL, keys,
          monotonically_increasing_id(), buckets = buckets, auto = true)
    // the subtree is freshly ANALYZED, but EliminateResolvedHint already
    // ran for this query — fold its ResolvedHint nodes (skewAwareJoin's
    // broadcast(hot) markers) into join hints ourselves, or physical
    // planning rejects the plan
    val analyzed = org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint
      .apply(joined.queryExecution.analyzed)
    val byName = analyzed.output.map(a => a.name -> a).toMap
    val projList: Seq[NamedExpression] = j.output.map { o =>
      val src = byName(o.name)
      if (src.exprId == o.exprId) src else Alias(src, o.name)(exprId = o.exprId)
    }
    Project(projList, analyzed)
  }
}
