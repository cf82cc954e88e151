package distbench

import graft.GraftEngine
import graft.core.TableStore
import graft.operators.MemoryOps
import graft.text.TextAlgs
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.Path
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** agent_state: an agent's context engine serving a fixed cycle of steps.
  * Memory writes (`storeMemory` inside `mergeStore`), recalls
  * (`recallMemory` on `readStore`), session pushes (`pushSession`, then
  * `appendWithSketches`), Zipf-hot session reads (`lookupWithSketches`,
  * then `sessionContext`), knowledge retrievals (`retrieveDeduplicated`
  * over a fixed corpus), document ingests (`exactNovelRows` →
  * `probeDedupIndex` → `appendDedupIndex`) and maintenance (a decay
  * `mergeStore`, `vacuum` of both tables, `compactDedupIndex`). Write
  * batches carry planted exact duplicates, dedup-band near-copies,
  * conflict-band neighbours and novel entries; the expected decision for
  * each entry is computed from a mirror of the store.
  */
final class AgentState(spark: SparkSession, seed: Long) extends Workload {
  val SeedMemories = 800
  val Sessions = 32
  val SeedTurns = 8
  val WriteBatch = 12
  val PushBatch = 6
  val RecallK = 10
  val ContextBudget = 300
  /** One cycle of steps: four agent turns, each a recall R, a session read
    * C, a knowledge retrieval Q and a session push P; a memory write W
    * every second turn; a document ingest I and maintenance M once a
    * cycle. The mix is an assumption (no published trace gives one); the
    * end-to-end figures weight every class by its share of it. The rare
    * classes come first, so the warm-up (the first seven ops) runs each
    * class once and a window of ~20 s starting after it reaches them all.
    */
  val Cycle = "IMWRCQPRCQPRCQPWRCQP"
  val DedupBelow = 0.15
  val ConflictBelow = 0.35
  private val T0 = java.time.Instant.parse("2026-01-01T00:00:00Z")

  private def now(i: Long): Timestamp = Timestamp.from(T0.plusSeconds(60L * i))

  private val topics = new Gen.Topics(seed, 64)
  private val texts = new Gen.Texts()
  private val sessZipf = new Gen.Zipf(Sessions, 1.1)
  private val knowledge = new Knowledge(spark, seed)
  private val docs = new DocIndex(spark, seed)

  private var memRoot: Path = _
  private var sessRoot: Path = _
  /** Mirror of the memory store: id → embedding of every row it holds. */
  private val mem = mutable.LinkedHashMap.empty[String, Array[Float]]
  /** Rows that may be planted on (the first decay evicts the others). */
  private val targets = mutable.ArrayBuffer.empty[String]
  private var evictOnDecay = Set.empty[String]
  /** Mirror of the session table: per session, (seq, tokens, embedding). */
  private val sess = Array.fill(Sessions)(mutable.ArrayBuffer.empty[(Long, Int, Array[Float])])

  // traced-phase tallies
  private var pairsCompared = 0L
  private var writeOps = 0L
  private var plantedDups = 0L
  private var foundDups = 0L
  private val filesOpened = mutable.ArrayBuffer.empty[Double]

  private val memSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("source", StringType),
    StructField("decay_level", IntegerType, nullable = false),
    StructField("sensitivity", IntegerType, nullable = false),
    StructField("created_at", TimestampType),
    StructField("last_referenced", TimestampType),
    StructField("access_count", LongType, nullable = false),
    StructField("expired", BooleanType, nullable = false),
    StructField("expired_at", TimestampType),
    StructField("expires_at", TimestampType)))

  private val entrySchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("source", StringType)))

  private val sessSchema = StructType(Seq(
    StructField("sid", LongType, nullable = false),
    StructField("session_id", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("role", StringType),
    StructField("content", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("tokens", IntegerType, nullable = false)))

  def setup(dir: Path): Unit = {
    memRoot = dir.resolve("memories"); sessRoot = dir.resolve("sessions")
    mem.clear(); targets.clear(); sess.foreach(_.clear())
    evictOnDecay = Set.empty
    val r = Gen.rng(seed, 40, 0)
    // ages: most recent, some past the 24 h summary gate, some past the 7 d
    // keywords gate at level 1, and 5 % at level 2 past the 30 d evict gate
    val rows = (0 until SeedMemories).map { k =>
      val id = f"m$k%08d"
      val emb = topics.member(r.nextInt(topics.size), r)
      val u = r.nextDouble()
      val (level, ageH) =
        if (u < 0.70) (0, 1 + r.nextInt(12))
        else if (u < 0.85) (0, 48 + r.nextInt(72))
        else if (u < 0.95) (1, 192 + r.nextInt(240))
        else (2, 840 + r.nextInt(600))
      mem(id) = emb
      if (level == 2) evictOnDecay += id else targets += id
      val ts = Timestamp.from(T0.minusSeconds(3600L * ageH))
      Row(id, texts.text(r, 2 + r.nextInt(3)), emb.toSeq, "agent", level, 0, ts, ts, 0L, false, null, null)
    }
    GraftEngine.commitStore(spark.createDataFrame(rows.asJava, memSchema), memRoot.toString)
    val turns = for (s <- 0 until Sessions; q <- 0 until SeedTurns) yield {
      val content = texts.text(r, 2)
      val emb = topics.member(r.nextInt(topics.size), r)
      val tok = TextAlgs.estimateTokens(content)
      sess(s) += ((q.toLong, tok, emb))
      Row(s.toLong, s"s$s", q.toLong, if (q % 2 == 0) "user" else "assistant", content, emb.toSeq, tok)
    }
    GraftEngine.commitWithSketches(spark.createDataFrame(turns.asJava, sessSchema),
      sessRoot.toString, "sid")
    knowledge.setup(dir)
    docs.setup(dir)
  }

  val cycle: IndexedSeq[String] = Cycle.map {
    case 'I' => "ingest"
    case 'M' => "maintenance"
    case 'W' => "mem_write"
    case 'R' => "mem_recall"
    case 'C' => "session_read"
    case 'Q' => "retrieve"
    case _   => "session_push"
  }
  def warmupOps: Int = 7
  def traceOps: Int = Cycle.length

  // ── inputs ──────────────────────────────────────────────────────────────

  /** A write-batch entry and the decision the store must make for it. */
  final case class Entry(id: String, text: String, emb: Array[Float], planted: Char,
                         dupOf: Option[String], conflicts: Seq[String])
  final case class Turn(seq: Long, content: String, emb: Array[Float], tokens: Int, dup: Boolean)

  /** Distance of unit vectors. */
  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var k = 0
    while (k < a.length) { dot += a(k).toDouble * b(k); k += 1 }
    1.0 - dot
  }

  /** Too close to a threshold for float rounding to be trusted. */
  private def ambiguous(d: Double): Boolean =
    math.abs(d - DedupBelow) < 0.02 || math.abs(d - ConflictBelow) < 0.02

  private def planWrite(i: Long): Seq[Entry] = {
    val r = Gen.rng(seed, 41, i)
    val picked = mutable.Set.empty[String]
    val batch = mutable.ArrayBuffer.empty[Entry]
    (0 until WriteBatch).foreach { j =>
      val kind = "ENCV".charAt(j % 4) // exact copy, near copy, conflict, novel
      val id = f"w$i%08d$j%02d"
      var entry: Option[Entry] = None
      while (entry.isEmpty) {
        val target = Iterator.continually(targets(r.nextInt(targets.length))).find(!picked(_)).get
        val emb = kind match {
          case 'E' => mem(target)
          case 'N' => Gen.perturb(mem(target), 0.15, r)
          case 'C' => Gen.perturb(mem(target), 0.88, r)
          case _   => topics.member(r.nextInt(topics.size), r)
        }
        // the decision the store must make, from every row the probe sees
        val seen = mem.iterator.map { case (k, v) => (k, dist(emb, v)) } ++
          batch.iterator.map(e => (e.id, dist(emb, e.emb)))
        val ds = seen.toIndexedSeq
        if (!ds.exists(p => ambiguous(p._2))) {
          val (closest, dmin) = ds.minBy(p => (p._2, p._1))
          val e =
            if (dmin < DedupBelow) Entry(id, "", emb, kind, Some(closest), Nil)
            else Entry(id, "", emb, kind, None,
              ds.filter(_._2 < ConflictBelow).map(_._1).sorted)
          val intended = kind match {
            case 'E' | 'N' => e.dupOf.contains(target)
            case 'C'       => e.dupOf.isEmpty && e.conflicts == Seq(target)
            case _         => e.dupOf.isEmpty && e.conflicts.isEmpty
          }
          if (intended) {
            picked += target
            entry = Some(e.copy(text = texts.text(r, 2 + r.nextInt(2))))
          }
        }
      }
      batch += entry.get
    }
    batch.toSeq
  }

  private def planPush(i: Long): (Int, Seq[Turn]) = {
    val r = Gen.rng(seed, 43, i)
    val s = sessZipf.sample(r)
    val hist = sess(s)
    val next = hist.map(_._1).max + 1
    val turns = mutable.ArrayBuffer.empty[Turn]
    (0 until PushBatch).foreach { j =>
      var turn: Option[Turn] = None
      while (turn.isEmpty) {
        val emb =
          if (j % 3 == 0) Gen.perturb(hist(r.nextInt(hist.length))._3, 0.15, r)
          else topics.member(r.nextInt(topics.size), r)
        val ds = hist.map(h => dist(emb, h._3)) ++ turns.map(t => dist(emb, t.emb))
        if (!ds.exists(d => math.abs(d - DedupBelow) < 0.03)) {
          val dup = ds.exists(_ < DedupBelow)
          if (dup == (j % 3 == 0)) {
            val content = texts.text(r, 2)
            turn = Some(Turn(next + j, content, emb, TextAlgs.estimateTokens(content), dup))
          }
        }
      }
      turns += turn.get
    }
    (s, turns.toSeq)
  }

  private def turnRows(s: Int, turns: Seq[Turn]): DataFrame =
    spark.createDataFrame(turns.map(t => Row(s.toLong, s"s$s", t.seq,
      if (t.seq % 2 == 0) "user" else "assistant", t.content, t.emb.toSeq, t.tokens)).asJava, sessSchema)

  private def entryBytes(text: String): Long = text.getBytes("UTF-8").length + 4L * Gen.Dim

  // ── ops ─────────────────────────────────────────────────────────────────

  def prepare(i: Long): Step[_] = opClass(i) match {
    case "mem_write"    => write(i, planWrite(i))
    case "mem_recall"   =>
      val r = Gen.rng(seed, 42, i)
      recall(i, targets(r.nextInt(targets.length)), r)
    case "session_push" => val (s, turns) = planPush(i); push(s, turns)
    case "session_read" => read(sessZipf.sample(Gen.rng(seed, 44, i)))
    case "retrieve"     =>
      val qs = knowledge.batch(i)
      val df = knowledge.frame(qs)
      new Step[Array[Row]](1L, t => knowledge.retrieve(df, t), (out, _) => knowledge.check(qs, out),
        t => knowledge.layers(qs, t))
    case "ingest"       =>
      val batch = docs.batch(i)
      val df = docs.frame(batch)
      new Step[docs.Ingested](1L, t => docs.ingest(df, t), (out, t) => docs.check(batch, out, t),
        t => docs.layers(batch, t))
    case _              => maintain(i)
  }

  private def recall(i: Long, target: String, r: java.util.SplittableRandom): Step[_] = {
    val q = Gen.perturb(mem(target), 0.05, r)
    new Step[Array[Row]](1L,
      t => t.span("graft.recallMemory") {
        GraftEngine.recallMemory(GraftEngine.readStore(spark, memRoot.toString), Some(q),
          MemoryOps.RecallParams(maxResults = RecallK), lit(now(i))).collect()
      },
      (out, _) => {
        val rows = out.sortBy(_.getAs[Int]("rank"))
        Check(rows.length == math.min(RecallK, mem.size), s"recall returned ${rows.length} rows")
        Check(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length), "recall ranks are not 1..k")
        Check(rows.head.getAs[String]("id") == target, s"recall rank 1 is not $target")
      })
  }

  private def read(s: Int): Step[_] =
    new Step[Array[Row]](1L,
      t => t.span("graft.sessionContext") {
        val df = GraftEngine.lookupWithSketches(spark, sessRoot.toString, s.toLong)
        GraftEngine.sessionContext(df, s"s$s", None, ContextBudget).collect()
      },
      (rows, _) => {
        val want = sess(s).sortBy(_._1).scanLeft((0L, 0)) { case ((_, cum), (seq, tok, _)) =>
          (seq, cum + tok)
        }.tail.takeWhile(_._2 <= ContextBudget).map(_._1)
        Check(rows.map(_.getAs[Long]("seq")).sorted.toSeq == want.toSeq,
          s"session $s context has the wrong turns")
      },
      t => t.span("core.sketch.lookup") {
        val df = GraftEngine.lookupWithSketches(spark, sessRoot.toString, s.toLong)
        filesOpened += Force.planMetric(Force.checksum(df), _.isInstanceOf[FileSourceScanExec],
          "numFiles").toDouble
      })

  private def maintain(i: Long): Step[_] =
    new Step[Unit](1L,
      t => {
        t.disk("memory", Seq(memRoot)) {
          t.span("graft.mergeStore.decay") {
            GraftEngine.mergeStore(spark, memRoot.toString)(m => MemoryOps.decayOnce(m, lit(now(i)))._1)
          }
        }
        t.span("core.tablestore.vacuum") {
          TableStore.vacuum(memRoot.toString)
          TableStore.vacuum(sessRoot.toString)
        }
        docs.compact(t)
      },
      (_, _) => {
        evictOnDecay.foreach(mem.remove)
        evictOnDecay = Set.empty
        Check(GraftEngine.readStore(spark, memRoot.toString).count() == mem.size,
          "the store lost or kept the wrong rows in decay")
      })

  private def write(i: Long, entries: Seq[Entry]): Step[_] = {
    val df = spark.createDataFrame(entries.map(e =>
      Row(e.id, e.text, e.emb.toSeq, "agent")).asJava, entrySchema)
    new Step[Array[Row]](1L,
      t => {
        var report: Array[Row] = Array.empty
        t.disk("memory", Seq(memRoot)) {
          t.span("graft.mergeStore") {
            GraftEngine.mergeStore(spark, memRoot.toString) { m =>
              t.span("graft.storeMemory") {
                val (next, rep) = GraftEngine.storeMemory(m, df, lit(now(i)))
                report = rep.collect()
                next
              }
            }
          }
        }
        report
      },
      (report, t) => checkWrite(entries, report, t),
      t => t.span("operators.memory.write_dedup") {
        Force.checksum(MemoryOps.writeDedup(df, GraftEngine.readStore(spark, memRoot.toString)))
      })
  }

  private def checkWrite(entries: Seq[Entry], report: Array[Row], t: Tracer): Unit = {
    val byId = report.map(r => r.getAs[String]("id") -> r).toMap
    Check(byId.keySet == entries.map(_.id).toSet, "the write report lost entries")
    entries.foreach { e =>
      val r = byId(e.id)
      val action = r.getAs[String]("action")
      Check(action == (if (e.dupOf.isDefined) "deduplicated" else "stored"),
        s"entry ${e.id} (${e.planted}) was $action")
      Check(Option(r.getAs[String]("dup_of")) == e.dupOf, s"entry ${e.id} has the wrong dup_of")
      Check(r.getAs[scala.collection.Seq[String]]("conflict_ids").toSeq == e.conflicts,
        s"entry ${e.id} has the wrong conflicts")
    }
    if (t.enabled) {
      pairsCompared += entries.length.toLong * mem.size + entries.length.toLong * (entries.length - 1) / 2
      writeOps += 1
      val dups = entries.filter(e => e.planted == 'E' || e.planted == 'N')
      plantedDups += dups.length
      foundDups += dups.count(e => byId(e.id).getAs[String]("action") == "deduplicated")
      t.userBytes += entries.map(e => entryBytes(e.text)).sum
    }
    entries.filter(_.dupOf.isEmpty).foreach { e => mem(e.id) = e.emb; targets += e.id }
  }

  private def push(s: Int, turns: Seq[Turn]): Step[_] = {
    val batch = turnRows(s, turns)
    val accepted = turns.filterNot(_.dup)
    val acceptedRows = turnRows(s, accepted)
    new Step[Map[Long, Boolean]](1L,
      t => {
        val flags = t.span("graft.pushSession") {
          val existing = GraftEngine.lookupWithSketches(spark, sessRoot.toString, s.toLong)
          GraftEngine.pushSession(batch, existing)
            .select("seq", "is_duplicate").collect()
            .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        }
        t.disk("session", Seq(sessRoot)) {
          t.span("graft.appendWithSketches") {
            GraftEngine.appendWithSketches(spark, sessRoot.toString, acceptedRows)
          }
        }
        flags
      },
      (flags, t) => {
        Check(flags == turns.map(x => x.seq -> x.dup).toMap, s"session $s push flagged the wrong turns")
        if (t.enabled) t.userBytes += turns.map(x => entryBytes(x.content)).sum
        accepted.foreach(x => sess(s) += ((x.seq, x.tokens, x.emb)))
      })
  }

  def classMetrics(untraced: Seq[Sample], mix: Mix): Map[String, Double] = {
    val cls = (c: String) => untraced.filter(_.cls == c).map(_.latency)
    /** `per` input items per op of class `c`, per second of its op time. */
    val rate = (c: String, per: Int) => if (cls(c).isEmpty) 0.0 else per * cls(c).length / cls(c).sum
    Map(
      "agent_ops_per_s" -> mix.throughput(untraced),
      "queries_per_s" -> rate("retrieve", knowledge.Queries),
      "docs_per_s" -> rate("ingest", docs.Batch),
      "mem_write_p50_s" -> Stats.median(cls("mem_write")),
      "mem_write_tail_s" -> Stats.tail(cls("mem_write"))._1,
      "mem_recall_p50_s" -> Stats.median(cls("mem_recall")),
      "mem_recall_tail_s" -> Stats.tail(cls("mem_recall"))._1,
      "session_push_p50_s" -> Stats.median(cls("session_push")),
      "session_read_p50_s" -> Stats.median(cls("session_read")))
  }

  override def kernels(): Map[String, Double] = knowledge.kernels() ++ docs.kernels()

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val cur = TableStore.currentVersion(memRoot.toString).get
    val sessCur = TableStore.currentVersion(sessRoot.toString).get
    val onDisk = Disk.bytes(Disk.snap(Seq(memRoot, sessRoot) ++ docs.roots))
    val live = Disk.bytes(Disk.snap(Seq(memRoot.resolve(s"v_$cur"), sessRoot.resolve(s"v_$sessCur")))) +
      docs.liveBytes
    val written = t.written("memory") + t.written("session") + t.written("index")
    val med = (n: String) => Stats.median(t.durations(n))
    knowledge.layerMetrics(t) ++ docs.layerMetrics(t) ++ Map(
      "write_amp" -> written.toDouble / math.max(1L, t.userBytes),
      "space_amp" -> onDisk.toDouble / math.max(1L, live),
      "operators.memory.write_dedup_s" -> med("operators.memory.write_dedup"),
      "operators.memory.pairs_compared" -> pairsCompared.toDouble / math.max(1L, writeOps),
      "core.tablestore.commit_s" -> Stats.median(t.selfTimes("graft.mergeStore")),
      "core.tablestore.bytes_written_per_commit" ->
        t.written("memory").toDouble / math.max(1L, t.writes("memory")),
      "core.tablestore.files_per_version" -> Disk.files(memRoot.resolve(s"v_$cur")).toDouble,
      "operators.memory.recall_s" -> med("graft.recallMemory"),
      "operators.memory.decay_s" -> med("graft.mergeStore.decay"),
      "core.sketch.lookup_s" -> med("core.sketch.lookup"),
      "core.sketch.files_opened_per_lookup" -> Stats.mean(filesOpened.toSeq),
      "core.sketch.append_s" -> med("graft.appendWithSketches"),
      "core.sketch.bytes_written_per_append" ->
        t.written("session").toDouble / math.max(1L, t.writes("session")),
      "operators.session.push_dedup_s" -> med("graft.pushSession"),
      "operators.session.context_s" -> med("graft.sessionContext"),
      "operators.memory.dedup_hit_ratio" -> foundDups.toDouble / math.max(1L, plantedDups))
  }
}
