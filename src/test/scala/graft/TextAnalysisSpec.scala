package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CacheTracker, TextAnalysis}

/** Behavior checks for text-analysis shapes that exist for scale
  * safety (the co-occurrence vocabulary cap). */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("langCensus: cells sum to the corpus, diagonal equals langId's matched sum") {
    import org.apache.spark.sql.functions.{col, sum}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val census = TextAnalysis.langCensus(docs)
      .as[(String, String, Long)].collect()
    assert(census.map(_._3).sum == docs.count())
    val diagonal = census.filter(c => c._1 == c._2).map(_._3).sum
    val matched = TextAnalysis.langId(docs)
      .agg(sum(col("matched"))).head().getLong(0)
    assert(diagonal == matched && matched > 0)
  }

  test("co-occurrence caps a high-vocab doc at its top-V frequent tokens") {
    def L(k: Int) = ('a' + k).toChar
    // one pathological doc: 200 singleton tokens + 6 dominant tokens
    // repeated 5x; a normal doc for the margins
    val rare = (0 until 200).map(i => s"rare${L(i / 26 / 26)}${L(i / 26 % 26)}${L(i % 26)}")
    val hot = (0 until 6).map(i => s"hot${L(i)}")
    val pathological = (rare ++ hot.flatMap(Seq.fill(5)(_))).mkString(" ")
    val docs = Seq(
      (1L, pathological, "s"),
      (2L, "hota hotb plain words here", "s"),
    ).toDF("doc_id", "text", "source")
    val capped = TextAnalysis.cooccurrence(docs, topN = 1000, maxVocab = 6)
      .as[(String, String, Long, Double)].collect()
    // doc 1 contributes pairs only among its 6 dominant tokens (15
    // pairs), not the 206-token vocabulary's 21k — and doc 2's tokens
    // all survive its own (under-cap) vocabulary
    val doc1Words = capped.flatMap(r => Seq(r._1, r._2)).toSet
    assert(capped.nonEmpty)
    assert(doc1Words.forall(w => w.startsWith("hot") || Set("plain", "words", "here")(w)),
      s"rare tokens leaked past the cap: $doc1Words")
    val bothDocsPair = capped.filter(r => r._1 == "hota" && r._2 == "hotb").head
    assert(bothDocsPair._3 == 2L) // co-occurs in both docs
    // uncapped, the rare tokens pair up
    val uncapped = TextAnalysis.cooccurrence(docs, topN = 30000, maxVocab = 512)
      .as[(String, String, Long, Double)].collect()
    assert(uncapped.exists(r => r._1.startsWith("rare")))
  }

  test("diversity: hand-computed Simpson index, degenerate docs included") {
    val docs = Seq(
      (1L, "a a a a"),             // one word: simpson = 1 - 16/16 = 0
      (2L, "a b c d"),             // all distinct: 1 - 4/16 = 0.75
      (3L, "a a b b"),             // 1 - (4+4)/16 = 0.5
      (4L, ""),                    // no tokens: 0.0 by contract
      (5L, "42 ... !!"),           // tokenizes to nothing: 0.0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.diversity(docs)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 1L, 0.25, 0.0)))
    assert(out(2L) == ((2L, 4L, 4L, 1.0, 0.75)))
    assert(out(3L) == ((3L, 4L, 2L, 0.5, 0.5)))
    assert(out(4L) == ((4L, 0L, 0L, 0.0, 0.0)))
    assert(out(5L) == ((5L, 0L, 0L, 0.0, 0.0)))
  }

  test("search ranks by quantized tf-idf: rare terms outweigh common ones") {
    // "rare" appears in 1 of 4 docs (weight N*S/1), "common" in all 4
    // (weight N*S/4): one rare hit must outrank three common hits.
    val docs = Seq(
      (1L, "rare common filler words"),
      (2L, "common common common filler"),
      (3L, "common filler"),
      (4L, "common other text"),
      (5L, "nothing relevant"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.search(docs, Seq("rare", "common"), k = 10)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L)) // doc 5: no hit
    val scores = out.map(r => r._1 -> r._3).toMap
    val s = TextAnalysis.IdfScale
    assert(scores(1L) == 5L * s / 1 + 5L * s / 4) // rare(tf1) + common(tf1)
    assert(scores(2L) == 3L * (5L * s / 4))       // common tf=3
    assert(out.head._2 == 2L)                     // doc 1 matched both terms
  }

  test("searchIndexedBatch == per-query searchIndexed, one pass for all bags") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val nDocs = docs.count()
    val postings = TextAnalysis.searchIndex(docs)
    val bags = Map(
      1L -> Seq("spark", "stream", "vector"),
      2L -> Seq("table", "join"),
      3L -> Seq("window"),
      4L -> Seq("zzzabsentterm")) // no hits: the bag just emits no rows
    val queries = bags.toSeq.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "w")
    val batch = TextAnalysis.searchIndexedBatch(postings, nDocs, queries, 10)
      .as[(Long, Long, Long, Int)].collect()
    val byBag = batch.groupBy(_._1)
    bags.foreach { case (id, ts) =>
      val single = TextAnalysis.searchIndexed(postings, nDocs, ts, 10)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._3)).toSet // (doc_id, score)
      val got = byBag.getOrElse(id, Array.empty)
        .map(r => (r._2, r._3)).toSet
      assert(got == single, s"bag $id")
      // ranks are dense, 1-based, score-then-id ordered
      val ranked = byBag.getOrElse(id, Array.empty).sortBy(_._4)
      assert(ranked.map(_._4).toSeq == (1 to ranked.length))
      assert(ranked.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      })
    }
    assert(byBag.contains(1L) && !byBag.contains(4L))
    // over a PARQUET index the batch's term filter reaches the scan's
    // pushed filters (a terms join would read the whole index per
    // batch) — same plan property as the single-query path
    val dir = java.nio.file.Files.createTempDirectory("batch_idx").toString
    postings.write.mode("overwrite").parquet(dir)
    val servedPlan = TextAnalysis.searchIndexedBatch(
      spark.read.parquet(dir), nDocs, queries, 10)
      .queryExecution.executedPlan.toString
    assert(servedPlan.contains("PushedFilters: [In(w"), servedPlan)
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("lmScore: hand-computed quantized bigram means, bigram-less docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), // "the cat" (c12=2, c1(the)=2), "cat sat" (1 of 2)
      (2L, "the cat ran"), // "the cat", "cat ran" (1 of 2)
      (3L, "zz qq"),       // "zz qq" is its context's only bigram -> q = scale
      (4L, "single"),      // no bigrams -> absent
      (5L, "")             // no tokens  -> absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs)
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, q) => (k, (n, q)) }.toMap
    val s = TextAnalysis.LmScale
    // doc 1: mean(q("the cat")=s, q("cat sat")=s/2) = 3s/4; doc 2 same
    assert(got == Map(
      1L -> (2L, 3 * s / 4),
      2L -> (2L, 3 * s / 4),
      3L -> (1L, s)))
    // on a real corpus every quantized probability is in [1, scale],
    // so every per-doc mean is too
    val real = TextAnalysis.lmScore(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .as[(Long, Long, Long)].collect()
    assert(real.nonEmpty && real.forall { case (_, n, q) =>
      n > 0 && q >= 1 && q <= s })
  }

  test("lmScoreIndexed over a persisted model == lmScore; OOV bigrams drop") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fresh = CacheTracker.scoped {
      TextAnalysis.lmScore(docs).as[(Long, Long, Long)].collect().toSet
    }
    val dir = java.nio.file.Files.createTempDirectory("lm_model").toString
    TextAnalysis.lmModel(docs).write.mode("overwrite").parquet(dir)
    val served = TextAnalysis.lmScoreIndexed(docs, spark.read.parquet(dir))
    // the served plan reads the model from parquet — no model-training
    // aggregates (context sums) in the query
    val plan = served.queryExecution.optimizedPlan.toString
    assert(plan.contains(dir.split('/').last) || plan.contains("parquet"), plan)
    assert(!plan.toLowerCase.contains("substring_index"), plan)
    assert(served.as[(Long, Long, Long)].collect().toSet == fresh
      && fresh.nonEmpty)
    // an external model drops out-of-vocabulary bigrams: a doc whose
    // bigrams the model never saw scores on the in-vocab ones only
    val mini = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val model = Seq(("alpha beta", 250000L)).toDF("bigram", "q")
    val scored = TextAnalysis.lmScoreIndexed(mini, model)
      .as[(Long, Long, Long)].collect().toSet
    assert(scored == Set((100L, 1L, 250000L)))
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("searchIndexed over a persisted postings index == search on the corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("spark", "stream", "vector")
    val fresh = CacheTracker.scoped {
      TextAnalysis.search(docs, terms, 25).collect().map(_.toSeq).toSet
    }
    val nDocs = docs.count()
    spark.sql("DROP TABLE IF EXISTS search_index_rt")
    val loc = new java.io.File("spark-warehouse/search_index_rt")
    if (loc.exists()) scala.reflect.io.Directory(loc).deleteRecursively()
    graft.sources.Sinks.writeBucketed(
      TextAnalysis.searchIndex(docs), "search_index_rt", "w", 8)
    val served = TextAnalysis.searchIndexed(
      spark.table("search_index_rt"), nDocs, terms, 25)
    // query time touches the index, not the corpus: the term filter
    // reaches the index scan's pushed filters, and nothing tokenizes
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(w"), plan)
    assert(!plan.contains("tokenizeexpr"), plan)
    assert(served.collect().map(_.toSeq).toSet == fresh && fresh.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS search_index_rt")
  }

  test("compressibility: templated text compresses below prose; edges pinned") {
    import spark.implicits._
    val prose = "The quick brown fox jumps over the lazy dog while seventeen " +
      "musicians rehearse an entirely different arrangement nearby, and the " +
      "weather keeps shifting between drizzle and sudden bright sunshine."
    val docs = Seq(
      (1L, prose),
      (2L, "spam spam spam " * 40),       // templated: deep repetition
      (3L, ""),                            // empty
      (4L, null.asInstanceOf[String]),     // null
    ).toDF("doc_id", "text")
    val r = TextAnalysis.compressibility(docs)
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == prose.getBytes("UTF-8").length.toLong)
    // the repetition gap: templated text compresses at least 3x harder
    assert(r(2L)._4 * 3 < r(1L)._4,
      s"expected templated << prose, got ${r(2L)._4} vs ${r(1L)._4}")
    assert(r(1L)._4 > 0.0 && r(1L)._4 < 1.5) // sane prose ratio
    // empty and null are incompressible by convention, never top-quality
    assert(r(3L) == ((3L, 0L, 0L, 1.0)) && r(4L) == ((4L, 0L, 0L, 1.0)))
    // deterministic and partition-independent (one Deflater per task)
    val a = TextAnalysis.compressibility(docs.repartition(1))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val b = TextAnalysis.compressibility(docs.repartition(3))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}
