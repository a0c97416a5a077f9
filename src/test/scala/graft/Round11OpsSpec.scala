package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, AsOf, CacheTracker, Corpus, Dedup, Multimodal, Similarity}

/** Round-11 operators: hand-computed semantics + degenerate inputs for
  * the as-of tolerance dial, value histograms, frame-fingerprint media
  * near-dup, the generic Jaccard-pairs entry point, duplicate
  * attribution, and the composed served index. */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("as-of tolerance: fresh keeps, stale nulls, no-match nulls; ∞ ≡ plain as-of") {
    val events = Seq(
      (1L, ts("2020-01-10 00:00:00"), 101L), // 9 days after user 1's order: fresh
      (1L, ts("2020-03-01 00:00:00"), 102L), // 60 days after: stale at 30d
      (2L, ts("2020-01-05 00:00:00"), 201L), // user 2 has no order: no match
    ).toDF("user_id", "ts", "event_id")
    val orders = Seq(
      (1L, java.sql.Date.valueOf("2020-01-01"), 11L, 100.0),
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val maxAge30d = 30L * 86400L * 1000000L
    val r = AsOf.eventsLastOrderWithin(events, orders, maxAge30d)
      .select("event_id", "last_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(r(101L) == Some(11L)) // within 30 days
    assert(r(102L) == None)      // matched but stale -> nulled
    assert(r(201L) == None)      // never matched
    // with an unbounded age the tolerance form reproduces the plain as-of
    val unbounded = AsOf.eventsLastOrderWithin(events, orders, Long.MaxValue)
      .collect().map(_.toSeq).toSet
    val plain = AsOf.eventsLastOrder(events, orders)
      .collect().map(_.toSeq).toSet
    assert(unbounded == plain)
  }

  test("value histogram: hand-computed buckets, negatives floor downward") {
    val events = Seq(
      ("a", 0.0), ("a", 9.99), ("a", 10.0), ("a", 25.0),
      ("b", -0.5), ("b", -10.0),
    ).toDF("event_type", "value")
    val r = Analytics.eventValueHistogram(events, 10.0)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r(("a", 0L)) == (("a", 0L, 2L, 0.0, 9.99)))
    assert(r(("a", 1L))._3 == 1L && r(("a", 2L))._3 == 1L)
    // floor(-0.5/10) = -1, floor(-10/10) = -1: both land in bucket -1
    assert(r(("b", -1L)) == (("b", -1L, 2L, -10.0, -0.5)))
    assert(r.size == 4)
    // empty input: no rows, no throw
    assert(Analytics.eventValueHistogram(
      Seq.empty[(String, Double)].toDF("event_type", "value")).count() == 0)
  }

  test("payload near-dup finds header-variant copies exact dedup misses") {
    // doc 2 = doc 1 with ONLY the first frame's bytes changed; with
    // frameLen == stride the frame sets differ in exactly one of five
    // frames each -> J = 4/6 ~ 0.667. Whole-payload md5 differs, so
    // exact payload dedup sees nothing.
    // aperiodic at the frame length (each 26-char run is shifted), so
    // the five 52-byte frames are DISTINCT fingerprints — a repeated
    // alphabet would collapse the whole payload to one frame hash
    val base = (0 until 260)
      .map(i => ('a' + ((i + i / 26) % 26)).toChar).mkString
    val variant = "X" * 52 + base.drop(52)
    val docs = Seq((1L, base), (2L, variant), (3L, "entirely different " * 20))
      .toDF("doc_id", "text")
    val pairs = CacheTracker.scoped {
      Multimodal.payloadNearDup(docs, tau = 0.5, frameLen = 52, stride = 52)
        .as[(Long, Long, Double)].collect().toSeq
    }
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(math.abs(pairs.head._3 - 4.0 / 6.0) < 1e-12)
    val exact = Multimodal.payloadDedup(docs)
      .filter(col("is_dup") === 1).count()
    assert(exact == 0L) // byte-identical dedup cannot see the variant
  }

  test("jaccardPairsOf: set semantics (repeated items count once), empty ok") {
    // doc 1 carries item x three times; as a SET {x, y} vs doc 2's
    // {x, y} the Jaccard is 1.0 — multiset counting would dilute it
    val items = Seq((1L, "x"), (1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y")).toDF("doc_id", "s")
    val pairs = CacheTracker.scoped {
      Dedup.jaccardPairsOf(items, 0.9).as[(Long, Long, Double)].collect().toSeq
    }
    assert(pairs == Seq((1L, 2L, 1.0)))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "s")
    assert(CacheTracker.scoped(Dedup.jaccardPairsOf(empty, 0.5).count()) == 0L)
  }

  test("dupAttributionOf: per source-pair counts, diagonal self-duplication") {
    val docs = Seq(
      (1L, "web"), (2L, "web"), (3L, "books"), (4L, "books"), (5L, "web"),
    ).toDF("doc_id", "source")
    // hand-built election: 2 dups to a web keeper, 4 dups to a books
    // keeper, 5 dups to the books keeper (cross-source)
    val assign = Seq(
      (1L, 1L, 0), (2L, 1L, 1), (3L, 3L, 0), (4L, 3L, 1), (5L, 3L, 1),
    ).toDF("doc_id", "keep_id", "is_dup")
    val r = Corpus.dupAttributionOf(docs, assign)
      .as[(String, String, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(r == Map(("web", "web") -> 1L, ("books", "books") -> 1L,
      ("web", "books") -> 1L))
  }

  test("contamination report: flagged = union of passes; empty eval = all zeros") {
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again"
    val train = Seq(
      (1L, evalDoc, "web"),                       // near-copy: fuzzy + exact hit
      (2L, "shares the quick brown fox shingle but nothing else beyond",
        "web"),                                   // exact (1-shingle) hit only
      (3L, "completely disjoint text with zero witness material here", "books"),
    ).toDF("doc_id", "text", "source")
    val ev = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val r = CacheTracker.scoped {
      Corpus.contaminationReport(train, ev, 4, 3, 0.8)
        .as[(String, Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    }
    assert(r("web") == (("web", 2L, 2L, 1L, 2L))) // 2 docs, 2 exact, 1 fuzzy, 2 flagged
    assert(r("books") == (("books", 1L, 0L, 0L, 0L)))
    // empty eval set: every source reports zeros, no throw
    val z = CacheTracker.scoped {
      Corpus.contaminationReport(train,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), 4, 3, 0.8)
        .as[(String, Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    }
    assert(z("web") == (("web", 2L, 0L, 0L, 0L)) &&
      z("books") == (("books", 1L, 0L, 0L, 0L)))
  }

  test("contamination report: byte copies inherit their keeper's flags (composed ≡ raw)") {
    // r12: the report screens exact KEEPERS only (the 50× probe OOM'd
    // the raw fuzzy pair stage on copy multiplicity); flags are
    // text-determined, so every copy must still be counted — including
    // a CROSS-SOURCE copy whose keeper lives in another source.
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again"
    val clean = "completely disjoint text with zero witness material here"
    val train = Seq(
      (1L, evalDoc, "web"),
      (11L, evalDoc, "web"),  // byte copy of the contaminated doc
      (21L, evalDoc, "books"), // cross-source byte copy
      (3L, clean, "books"),
      (13L, clean, "books"),  // byte copy of a clean doc
    ).toDF("doc_id", "text", "source")
    val ev = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val r = CacheTracker.scoped {
      Corpus.contaminationReport(train, ev, 4, 3, 0.8)
        .as[(String, Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    }
    assert(r("web") == (("web", 2L, 2L, 2L, 2L)))
    assert(r("books") == (("books", 3L, 1L, 1L, 1L)))
  }

  test("streaming contamination screening across batches == batch fuzzy pass") {
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy dog again and AGAIN yes"
    val trainRows = Seq(
      (1L, near), (2L, "unrelated text with zero overlap whatsoever here"),
      (3L, evalDoc), (4L, "more filler prose that matches nothing at all"),
    )
    val evalDocs = Seq((100L, evalDoc)).toDF("doc_id", "text")
    // stage the train side as TWO parquet files and drain one file per
    // micro-batch, so the screening really crosses batch boundaries
    val dir = java.nio.file.Files.createTempDirectory("graft_contam_spec")
    trainRows.grouped(2).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/part$i")
    }
    val files = java.nio.file.Files.walk(dir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    val staged = java.nio.file.Files.createTempDirectory("graft_contam_in")
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(f),
        staged.resolve(s"f$i.parquet"))
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(staged.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
    val out = java.nio.file.Files.createTempDirectory("graft_contam_out").toString
    graft.streaming.Streams.contaminationFromStream(
      stream, evalDocs, out, 3, 0.8)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_matches", "max_jaccard", "first_eval_id")
      .as[(Long, Long, Double, Long)].collect().toSet
    val batch = CacheTracker.scoped {
      Corpus.decontaminateFuzzy(trainRows.toDF("doc_id", "text"), evalDocs,
        3, 0.8).as[(Long, Long, Double, Long)].collect().toSet
    }
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.map(_._1) == Set(1L, 3L)) // the near-copy and the verbatim copy
  }

  test("composed exact-first near-dup assignment == raw clusters over all docs") {
    // byte copies of a long doc (1,2), a near-dup variant (3), an
    // unrelated doc (4), SHORT byte copies with no shingles (5,6 —
    // the raw pipeline can never pair them, so composed must leave
    // them as self-keepers), and a null (7)
    // letters-only DISTINCT tokens (digits are token separators, so
    // "tok1..tok40" would all collapse to the same shingle)
    def word(i: Int) = "abcdefghijklmnopqrstuvwxyz"(i % 26).toString * (i / 26 + 2)
    val body = (1 to 40).map(word).mkString(" ")
    val variant = (1 to 40).map(i => if (i == 40) "changedword" else word(i))
      .mkString(" ")
    val docs = Seq(
      (1L, body), (2L, body), (3L, variant),
      (4L, "wholly unrelated words that share nothing with the others " * 3),
      (5L, "ab"), (6L, "ab"), (7L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val (composed, raw) = CacheTracker.scoped {
      val c = Corpus.nearDupAssignment(docs, 3, 0.8)
        .as[(Long, Long, Int)].collect().map(x => x._1 -> x._2).toMap
      val r = Dedup.clusters(Dedup.ngramJaccard(docs, 3, 0.8))
        .as[(Long, Long)].collect().toMap
      (c, r)
    }
    // composed must equal raw everywhere raw assigns, self elsewhere
    (1L to 7L).foreach { id =>
      assert(composed(id) == raw.getOrElse(id, id),
        s"doc $id: composed ${composed(id)} vs raw ${raw.getOrElse(id, id)}")
    }
    // and the fixture is non-trivial: 1-2-3 really cluster, shorts don't
    assert(composed(2L) == 1L && composed(3L) == 1L && composed(6L) == 6L)
  }

  test("ivfPqDelta grows under frozen quantizers == fresh same-quantizer build") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c = col("vec_id")
    val old = Similarity.ivfPqIndex(emb.filter(c % 3 =!= 0))
    val grown = Similarity.ivfPqDelta(old, emb.filter(c % 3 === 0))
    val fresh = Similarity.ivfPqIndexWith(emb, old.centroids, old.seeds)
    assert(grown.indexed.collect().map(_.toSeq).toSet ==
      fresh.indexed.collect().map(_.toSeq).toSet)
    // re-ingest replaces, not duplicates (idempotent)
    val again = Similarity.ivfPqDelta(grown, emb.filter(c % 3 === 0))
    assert(again.indexed.count() == grown.indexed.count())
    // the delta side is a projection: no shuffle exchange, no window
    val dPlan = Similarity.ivfPqDelta(old, emb.filter(c % 3 === 0))
      .indexed.queryExecution.executedPlan.toString
    assert(!dPlan.contains("Window"), dPlan)
  }

  test("knnPagerank: mass bounded, hubs outrank leaves, isolates at teleport floor") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val ranks = CacheTracker.scoped {
      Similarity.knnPagerank(emb, 10).as[(Long, Double)].collect().toMap
    }
    assert(ranks.size == n) // every node ranked, pairless ones included
    // total mass ≤ 1 strictly: dangling mass exits, and the FLOOR
    // quantization of contributions can only lose mass, never add
    val total = ranks.values.sum
    assert(total > 0.0 && total <= 1.0 + 1e-12, s"total mass $total")
    // every rank at least the final teleport term, never NaN
    val floor = 0.15 / n * 0.999
    assert(ranks.values.forall(r => !r.isNaN && r >= floor))
    // centrality varies — the graph isn't rank-uniform
    assert(ranks.values.max > ranks.values.min * 1.5)
  }

  test("knnIvfPqIndexed over parquet round-trip == knnIvfPq") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnIvfPq(emb, probes, 10)
      .collect().map(_.toSeq).toSet
    val idx = Similarity.ivfPqIndex(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    idx.indexed.write.parquet(s"$dir/indexed")
    idx.centroids.write.parquet(s"$dir/cents")
    idx.seeds.write.parquet(s"$dir/seeds")
    val served = Similarity.knnIvfPqIndexed(
      Similarity.IvfPqIndex(spark.read.parquet(s"$dir/indexed"),
        spark.read.parquet(s"$dir/cents"), spark.read.parquet(s"$dir/seeds")),
      probes, 10)
    assert(served.collect().map(_.toSeq).toSet == fresh && fresh.nonEmpty)
  }
}
