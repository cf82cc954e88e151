package graft.operators

import graft.SparkTest
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions: incremental MinHash index append (the
  * probe → accept → append ingest loop over a persisted index) and the
  * zero-overhead SparkListener stage report.
  */
class Round7Spec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("StageMetrics.withStageReport: free per-stage attribution of the UNMODIFIED fused plan") {
    val dir = "/root/testdata/sf0.001"
    val path = java.nio.file.Files.createTempDirectory("stage_chunks").toString
    PipelineOps.chunkTable(
      graft.core.Tables.documents(spark, dir),
      graft.core.Tables.embeddings(spark, dir))
      .write.mode("overwrite").parquet(path)
    val chunks = spark.read.parquet(path)
    val rowsIn = chunks.count()
    val cfg = PipelineOps.PipelineConfig(targetK = 8, minChunkLength = 0)

    val (result, report) = graft.core.StageMetrics.withStageReport(spark) {
      PipelineOps.dedupPipeline(
        chunks, "request_group", "doc_id", "text", "embedding", "score", cfg).collect()
    }
    val rows = report.collect()
    assert(rows.nonEmpty, "listener must capture the pipeline's stages")
    // scheduler-metrics attribution of the untouched plan: the scan reads
    // every chunk row, and the pipeline shuffles each row EXACTLY once
    // (its one keyed shuffle, here as measured record counts rather than
    // plan shape)
    assert(rows.map(_.getAs[Long]("records_read")).sum == rowsIn)
    assert(rows.map(_.getAs[Long]("shuffle_records_written")).sum == rowsIn,
      "the pipeline must shuffle each input row exactly once")
    assert(rows.map(_.getAs[Long]("shuffle_records_read")).sum == rowsIn)
    assert(rows.map(_.getAs[Long]("executor_run_ms")).sum > 0)
    assert(rows.map(_.getAs[Long]("wall_ms")).forall(_ >= 0))

    // agreement with the materializing wrapper it supersedes
    val (_, stats) = PipelineOps.dedupPipelineWithStats(
      chunks, "request_group", "doc_id", "text", "embedding", "score", cfg)
    val tot = stats.collect().find(_.getAs[String]("stage") == "total").get
    assert(tot.getAs[Long]("rows_in") == rowsIn)
    assert(result.length.toLong == tot.getAs[Long]("rows_out"))
    graft.GraftEngine.releaseCaches()
  }

  test("poly_hash_pairs kernel is bit-identical to the GramHashParams closed-form folds") {
    import org.apache.spark.sql.functions._
    val words = Seq("alpha", "x", "plantedword7", "αβγ", "a b", "").toDF("word")
    val withKernel = words.withColumn("hp",
      graft.functions.GraftFunctions.poly_hash_pairs(col("word")))
    // replay each (base, mod) fold as plain closed-form SQL over code points
    val chars = transform(filter(split(col("word"), ""), c => length(c) > 0),
      c => ascii(c).cast("long"))
    val checked = DedupOps.GramHashParams.zipWithIndex.foldLeft(withKernel) {
      case (d, ((b, m), i)) =>
        d.withColumn(s"eh$i", aggregate(chars, lit(0L), (acc, c) => (acc * b + c) % m))
          .withColumn(s"ep$i", aggregate(chars, lit(1L), (acc, _) => (acc * b) % m))
    }
    checked.collect().foreach { r =>
      val hp = r.getSeq[Long](r.fieldIndex("hp"))
      (0 until 4).foreach { i =>
        assert(hp(i * 2) == r.getAs[Long](s"eh$i"), s"h$i mismatch for '${r.getString(0)}'")
        assert(hp(i * 2 + 1) == r.getAs[Long](s"ep$i"), s"p$i mismatch for '${r.getString(0)}'")
      }
    }
    // SQL registration works and stays codegen'd (no ScalaUDF in the plan)
    graft.functions.GraftFunctions.register(spark)
    words.createOrReplaceTempView("__phw")
    val viaSql = spark.sql("SELECT poly_hash_pairs(word) AS hp FROM __phw")
    assert(!viaSql.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    assert(viaSql.count() == 6)
  }

  test("cdcChunks: boundaries are content-defined — chunks re-align after an upstream insertion") {
    val text = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy("doc_id").limit(1).head().getAs[String]("text")
    val pair = Seq((1L, text), (2L, s"inserted words upfront $text"))
      .toDF("doc_id", "text")
    val chunks = DedupOps.cdcChunks(pair, "text", "doc_id")
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("chunk_text")).toSet }
    val shared = chunks(1L).intersect(chunks(2L))
    // only the head chunk(s) around the edit may differ; everything after
    // the first boundary re-aligns exactly (a fixed-window chunker shares 0)
    assert(shared.size >= chunks(1L).size - 2,
      s"expected near-total chunk re-alignment, shared ${shared.size}/${chunks(1L).size}")
    assert(chunks(1L).size >= 3, "fixture doc must produce several chunks")
    // words round-trip: no word lost or duplicated by the chunking
    val words = DedupOps.cdcChunks(pair, "text", "doc_id")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L).orderBy("chunk_idx")
      .collect().map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(words == text.trim.split("\\s+").mkString(" "))
    graft.GraftEngine.releaseCaches()
  }

  test("canonical_url: case, ports, tracking params, fragments, trailing slash") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ("HTTPS://WWW.Example.COM:443/Path?a=1#x", "https://www.example.com/Path?a=1"),
      ("http://a.com:80/", "http://a.com"),
      ("http://a.com/?utm_source=s&utm_medium=m", "http://a.com"),
      ("http://a.com/p?utm_a=1&id=2&ref=r&b=3", "http://a.com/p?id=2&b=3"),
      ("http://a.com/p?ref", "http://a.com/p"), // bare tracking param
      ("http://a.com/p?href=x", "http://a.com/p?href=x"), // not a tracking param
      ("  http://A.com/p  ", "http://a.com/p"),
      ("no-scheme/path?utm_x=1", "no-scheme/path"), // schemeless: no lowering, params still cleaned
      ("http://a.com:8080/p", "http://a.com:8080/p")) // non-default port kept
    val out = cases.map(_._1).toDF("u")
      .withColumn("c", graft.functions.TextFunctions.canonical_url(col("u")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"canonical_url('$in') = '${out(in)}', want '$want'")
    }
  }

  test("dedupIngestBatch: accepted docs join the persisted index, rejected dups do not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = java.nio.file.Files.createTempDirectory("ingest_idx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    DedupOps.saveMinhashIndex(DedupOps.buildMinhashIndex(corpus, "text", "doc_id"), path)
    val A = "completely different planted passage alpha beta gamma delta epsilon zeta eta theta iota"
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(graft.streaming.StreamingOps.dedupIngestBatch(
        spark, path, "text", "doc_id", 0.8,
        h => hits.synchronized {
          hits ++= h.collect().map(r => (r.getLong(0), r.getLong(1)))
        }))
      .start()
    stream.addData((10L, s"$A kappa")); q.processAllAvailable() // novel -> accepted
    assert(hits.isEmpty)
    stream.addData((20L, s"$A lambda")); q.processAllAvailable() // dup of 10 -> rejected
    assert(hits.toSet == Set((20L, 10L)), "batch 2 must see batch 1's accepted doc")
    stream.addData((30L, s"$A mu")); q.processAllAvailable()
    q.stop()
    // 30 matches 10 (accepted earlier) but NOT 20 — 20 was a dup, so it
    // must never have joined the index ((30,20) would pass 0.8 if it had)
    assert(hits.toSet == Set((20L, 10L), (30L, 10L)))
    assert(spark.read.parquet(s"$path/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 10L))
    graft.GraftEngine.releaseCaches()
  }

  test("bloomNovelRows is exact even at absurd fpp: false positives are rescued by the verify join") {
    val corpus = (0L until 200L).map(i => s"corpusdoc$i").toDF("text")
    // fpp 0.5 forces real false positives among novel keys; exactness must
    // not depend on the filter quality, only the candidate count does
    val bf = DedupOps.buildBloomIndex(corpus, "text", fpp = 0.5, expectedItems = 200)
    val batch = ((0L until 100L).map(i => (i, s"novel$i")) ++
      Seq((1000L, "corpusdoc7"), (1001L, "corpusdoc199"))).toDF("id", "text")
    val novel = DedupOps.bloomNovelRows(corpus, bf, batch, "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(novel == (0L until 100L).toSet, "dups dropped, ALL novels kept despite FPs")
    val fps = (0L until 100L).count(i => bf.mightContainString(s"novel$i"))
    assert(fps > 0, "fpp=0.5 must actually produce false positives for this test to bite")
    // save/load round-trip preserves the filter verbatim
    val p = java.nio.file.Files.createTempDirectory("bloom").resolve("bf.bin").toString
    DedupOps.saveBloomIndex(bf, p)
    val re = DedupOps.loadBloomIndex(p)
    assert((0L until 100L).forall(i =>
      re.mightContainString(s"novel$i") == bf.mightContainString(s"novel$i")))
    // null keys are novel on both paths (null joins nothing)
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "corpusdoc7")).toDF("id", "text")
    assert(DedupOps.bloomNovelRows(corpus, bf, withNull, "text")
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("appendMinhashIndex: accepted batch docs become visible to later probes, corpus untouched") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("idx_append").toString
    DedupOps.saveMinhashIndex(DedupOps.buildMinhashIndex(corpus, "text", "doc_id"), path)
    val corpusBandFiles = new java.io.File(s"$path/bands")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

    // batch 1: a brand-new doc — probe finds nothing, so it is ACCEPTED
    // and appended to the index
    val batch1 = Seq(
      (10L, "completely different planted passage alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    assert(DedupOps.probeMinhashIndex(
      DedupOps.loadMinhashIndex(spark, path), batch1, "text", "doc_id").count() == 0)
    DedupOps.appendMinhashIndex(spark, path, batch1, "text", "doc_id")

    // batch 2: near-dup of the batch-1 doc (one word changed → 11/13
    // shared 3-shingles ≈ 0.846 Jaccard) — the probe must now see it
    val batch2 = Seq(
      (20L, "completely different planted passage alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val hits = DedupOps.probeMinhashIndex(
      DedupOps.loadMinhashIndex(spark, path), batch2, "text", "doc_id", threshold = 0.8)
      .collect()
    assert(hits.map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
      == Set((20L, 10L)))
    hits.foreach(r => assert(math.abs(r.getAs[Double]("jaccard") - 11.0 / 13) < 1e-9))

    // O(batch) append: the corpus's original band files were not rewritten,
    // batch rows landed as new files beside them
    val afterFiles = new java.io.File(s"$path/bands")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(corpusBandFiles.subsetOf(afterFiles), "append must not rewrite corpus files")
    assert(afterFiles.size > corpusBandFiles.size, "append must add new files")
    assert(spark.read.parquet(s"$path/docs").count() == 2)

    // compaction consolidates the accumulated file sets; probes see
    // identical results afterwards
    DedupOps.compactMinhashIndex(spark, path, targetFiles = 2)
    val compacted = new java.io.File(s"$path/bands")
      .listFiles().map(_.getName).count(_.endsWith(".parquet"))
    assert(compacted <= 2, s"expected <= 2 band files after compaction, got $compacted")
    val hits2 = DedupOps.probeMinhashIndex(
      DedupOps.loadMinhashIndex(spark, path), batch2, "text", "doc_id", threshold = 0.8)
      .collect()
    assert(hits2.map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
      == Set((20L, 10L)), "compaction must not change probe results")
    graft.GraftEngine.releaseCaches()
  }

  test("packSequences: concat-then-chunk coordinates match a sequential replay; layout-stable") {
    import org.apache.spark.sql.functions.col
    def tuples(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "n_tokens", "shard", "seq_id", "begin_offset", "n_splits")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toSeq

    val docs = (1L to 400L).map(i => (i, i % 37 + 1)).toDF("id", "nt")
    val packed = tuples(  // via the engine facade — proves the verb delegates
      graft.GraftEngine.packSequences(docs, col("id"), col("nt"), windowTokens = 64L, shards = 4))

    // sequential replay: shuffle by ticket, concatenate per shard, cut at 64
    val ticket = (i: Long) => graft.functions.HashKernels.splitmix64(i) >>> 11
    val expected = (1L to 400L).groupBy(i => ticket(i) % 4).flatMap { case (sh, ids) =>
      var run = 0L
      ids.sortBy(i => (ticket(i), i)).map { i =>
        val nt = i % 37 + 1
        val e = (i, nt, sh, run / 64, run % 64, (run + nt - 1) / 64 - run / 64)
        run += nt
        e
      }
    }.toSeq.sortBy(_._1)
    assert(packed == expected)

    // a doc longer than the window straddles floor-count boundaries;
    // zero-token rows straddle nothing
    val edge = tuples(CorpusOps.packSequences(
      Seq((1L, 200L), (2L, 0L)).toDF("id", "nt"),
      col("id"), col("nt"), windowTokens = 64L, shards = 1))
    val big = edge.find(_._1 == 1L).get
    assert(big._6 == (big._5 + 200 - 1) / 64 - big._5 / 64 && big._6 >= 2)
    assert(edge.find(_._1 == 2L).get._6 == 0L)

    // partition-layout independence: identical coordinates after repartition
    assert(tuples(CorpusOps.packSequences(
      docs.repartition(7), col("id"), col("nt"), windowTokens = 64L, shards = 4)) == packed)

    // the loader manifest tiles every window exactly: per doc the slices
    // are contiguous from 0 and total n_tokens; per window the lengths sum
    // to 64 except each shard's final window
    val manifest = CorpusOps.packedWindowManifest(
      CorpusOps.packSequences(docs, col("id"), col("nt"), windowTokens = 64L, shards = 4),
      windowTokens = 64L)
      .select("id", "n_tokens", "shard", "part", "window_id", "slice_start", "slice_len")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    manifest.groupBy(_._1).foreach { case (_, parts) =>
      val ordered = parts.sortBy(_._4)
      assert(ordered.map(_._4) sameElements Array.tabulate(ordered.length)(_.toLong))
      var pos = 0L
      ordered.foreach { p => assert(p._6 == pos); pos += p._7 }
      assert(pos == ordered.head._2, "slices must cover the doc exactly")
      assert(ordered.zip(ordered.tail).forall { case (a, b) => b._5 == a._5 + 1 },
        "parts must land in consecutive windows")
    }
    manifest.groupBy(m => (m._3, m._5)).foreach { case ((sh, win), slices) =>
      val lastWin = manifest.filter(_._3 == sh).map(_._5).max
      if (win < lastWin)
        assert(slices.map(_._7).sum == 64L,
          s"interior window ($sh,$win) must hold exactly 64 tokens")
    }
  }

  test("dsirWeights/dsirResample: likelihood ratio separates target-like docs; Gumbel top-k picks them") {
    import org.apache.spark.sql.functions.col
    // enough tokens that add-one smoothing over 256 buckets cannot swamp
    // the unsmoothed ratio (the failure mode of a 10-token toy fixture)
    def rep(s: String) = (s + " ") * 40
    val raw = Seq(
      (1L, rep("alpha beta gamma alpha beta gamma alpha beta")),
      (2L, rep("alpha gamma beta beta alpha gamma gamma beta")),
      (3L, rep("zork quux blarg zork quux blarg zork quux")),
      (4L, rep("quux blarg zork blarg zork quux blarg zork"))
    ).toDF("doc_id", "text")
    val target = Seq(
      rep("alpha beta gamma beta alpha"),
      rep("gamma alpha beta gamma beta")).toDF("text")
    val w = CorpusOps.dsirWeights(raw, "text", "doc_id", target, "text", buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L))
    assert(w(1L) > 0 && w(2L) > 0, s"target-vocabulary docs must score positive: $w")
    assert(w(3L) < 0 && w(4L) < 0, s"off-target docs must score negative: $w")
    val picked = CorpusOps.dsirResample(raw, "text", "doc_id", target, "text",
      k = 2, buckets = 256).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked == Set(1L, 2L),
      "Gumbel top-2 must select the target-like docs (score gap >> Gumbel scale)")
  }

  test("nllBuckets: per-stratum LM, balanced ntile bands, gibberish lands in the tail") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // 'en': two common-word docs, two mixed, two all-unique
      (1L, "en", "aa bb cc aa bb cc aa bb"),
      (2L, "en", "aa bb cc aa bb cc aa bb"),
      (3L, "en", "aa bb dd ee aa bb ff gg"),
      (4L, "en", "aa bb hh ii aa bb jj kk"),
      (5L, "en", "qq ww rr tt yy uu oo pp"),
      (6L, "en", "zz xx vv nn mm ll ss hh2"),
      // 'fr': three docs — per-stratum ntile must band them 1/1/1
      (7L, "fr", "un deux trois un deux trois"),
      (8L, "fr", "un deux quatre cinq un six"),
      (9L, "fr", "sept huit neuf dix onze douze")
    ).toDF("doc_id", "lang", "text")
    val rows = CorpusOps.nllBuckets(docs, "text", "doc_id", "lang", nBuckets = 3)
      .select("doc_id", "stratum", "ppt_micro", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val en = rows.filter(_._2 == "en")
    assert(en.groupBy(_._4).view.mapValues(_.size).toMap == Map(1 -> 2, 2 -> 2, 3 -> 2),
      "ntile(3) over 6 docs must band 2/2/2")
    assert(en.filter(_._4 == 1).map(_._1).toSet == Set(1L, 2L),
      "the common-word docs are the head band")
    assert(en.filter(_._4 == 3).map(_._1).toSet == Set(5L, 6L),
      "the all-unique-word docs are the tail band")
    // band edges are ordered: every head ppt <= every middle ppt <= every tail ppt
    for (b <- 1 to 2)
      assert(en.filter(_._4 == b).map(_._3).max <= en.filter(_._4 == b + 1).map(_._3).min)
    assert(rows.filter(_._2 == "fr").groupBy(_._4).view.mapValues(_.size).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1), "strata band independently")
  }

  test("bigramNll: matches a sequential interpolated-bigram replay") {
    val texts = Map(1L -> "a b a b c", 2L -> "a b", 3L -> "c c a b c a")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val words = texts.view.mapValues(_.split("\\s+").toSeq).toMap
    val all = words.values.flatten.toSeq
    val c1 = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    val v = c1.size.toLong
    val c2 = words.values.flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def term(prev: Option[String], cur: String): Long = {
      val pu = (c1(cur) + 1).toDouble / (n + v)
      val p = prev.fold(pu)(pw =>
        0.7 * ((c2((pw, cur)) + 1).toDouble / (c1(pw) + v)) + (1 - 0.7) * pu)
      math.floor(-1e6 * math.log(p)).toLong
    }
    val want = words.view.mapValues(ws => ws.zipWithIndex.map { case (w, i) =>
      term(if (i == 0) None else Some(ws(i - 1)), w)
    }.sum).toMap.toMap
    val got = CorpusOps.bigramNll(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(x => x._1 -> x._3).toMap == want)
    assert(got.map(x => x._1 -> x._2).toMap ==
      words.view.mapValues(_.size.toLong).toMap.toMap, "n_tokens per doc")
  }

  test("capPerDomain: blocklist drops hosts; cap keeps the ticket-smallest subset, layout-independent") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 60L).map(i => (i, s"https://HOST${i % 3}.com:443/p/$i")).toDF("id", "url")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusOps.capPerDomain(d, col("url"), col("id"), maxPerDomain = 4,
        blockedHosts = Seq("host2.com"))
        .select("id", "host", "host_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val out = run(docs)
    assert(out.map(_._2).toSet == Set("host0.com", "host1.com"),
      "host lowercases, port strips, blocklisted host vanishes")
    assert(out.groupBy(_._2).forall(_._2.length == 4))
    // survivors are exactly the 4 ticket-smallest ids per host, in rank order
    val ticket = (i: Long) => graft.functions.HashKernels.splitmix64(i) >>> 11
    for (h <- Seq(0L, 1L)) {
      val want = (1L to 60L).filter(_ % 3 == h).sortBy(i => (ticket(i), i)).take(4)
      val got = out.filter(_._2 == s"host$h.com").sortBy(_._3).map(_._1).toSeq
      assert(got == want, s"host$h survivors must be the ticket-smallest 4 in order")
    }
    assert(run(docs.repartition(7)).sortBy(x => (x._2, x._3)).toSeq ==
      out.sortBy(x => (x._2, x._3)).toSeq, "survivor set is partition-layout independent")
  }

  test("normalize_text: NFC, control/zero-width strip, whitespace discipline, idempotence") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    val cases = Seq(
      "école" -> "école",            // NFC composes e + combining acute
      "école" -> "école",             // already-NFC text unchanged
      "a​b﻿c‍d" -> "abcd",       // zero-width family stripped
      "x\r\ny\rz" -> "x\ny\nz",                 // CRLF and lone CR to LF
      "a \t b\tc" -> "a b c",                   // horizontal runs collapse
      "a \n b" -> "a\nb",                       // spaces around newlines trim
      "p\n\n\n\n\nq" -> "p\n\nq",               // paragraph squeeze
      "  hi  " -> "hi",                         // outer trim
      "ctlz" -> "ctlz")             // control chars stripped
    val out = cases.map(_._1).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "t")
      .select(col("id"), TextFunctions.normalize_text(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(out(i.toLong) == want, s"case $i: <$in> normalized to <${out(i.toLong)}>, want <$want>")
    }
    // idempotence over organic corpus text: a second pass is a no-op
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val n1 = docs.select(TextFunctions.normalize_text(col("text")).as("n1"))
    assert(n1.filter(TextFunctions.normalize_text(col("n1")) =!= col("n1")).count() == 0,
      "normalize_text must be idempotent")
  }
}
