package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{CacheTracker, Dedup, TextAnalysis}

/** Grades the §5 unsegmented-script decision END-TO-END: the graded
  * surface keeps reference parity (`[^\p{L}]+` makes a Han sentence
  * ONE token, exactly like the reference's unicode.IsLetter runs), and
  * a CJK-heavy corpus opts the ta_/dd_ families into `Text.cjkTokens`
  * via the operators' tokenizer parameter. EdgeCaseSpec pins the
  * tokenizers themselves; this spec pins what the CHOICE does to real
  * operators — near-dup recall and diversity statistics — on a Han
  * fixture, so the decision is executable evidence, not prose.
  */
class CjkPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  // 60 DISTINCT Han chars → every char bigram distinct, so shingle-set
  // arithmetic below is exact: a run of L chars yields L-1 bigram
  // tokens and L-3 word-3-gram shingles.
  private val hanA = (0 until 60).map(i => (0x4E00 + i).toChar).mkString
  // near-dup: one interior char replaced → 2 bigrams change → the 4
  // shingles covering them change: J = (60-7)/(60+1) = 53/61 ≈ 0.869
  private val hanB = hanA.updated(30, (0x4E00 + 500).toChar)
  // unrelated Han doc from a disjoint codepoint range
  private val hanC = (0 until 60).map(i => (0x5100 + i).toChar).mkString

  private def docs = Seq((1L, hanA), (2L, hanB), (3L, hanC))
    .toDF("doc_id", "text")

  test("dd_ngram_jaccard on Han text: default tokenizer blind, cjkTokens finds the near-dup pair") {
    val (defPairs, cjkPairs) = CacheTracker.scoped {
      // reference parity: each doc is ONE giant run token → zero
      // 3-gram shingles → the pair stage cannot see ANY Han near-dup.
      // This is the documented skew, pinned as operator output.
      val d = Dedup.ngramJaccard(docs, 3, 0.8).count()
      // the opt-in: character-bigram tokens make the same operator
      // recover the near-dup pair at its exact Jaccard, and only it
      val c = Dedup.ngramJaccard(docs, 3, 0.8, Text.cjkTokens)
        .as[(Long, Long, Double)].collect().toList
      (d, c)
    }
    assert(defPairs == 0L)
    assert(cjkPairs.map(p => (p._1, p._2)) == List((1L, 2L)))
    assert(math.abs(cjkPairs.head._3 - 53.0 / 61.0) < 1e-12)
  }

  test("ta_diversity on Han text: default reads one token, cjkTokens reads bigram statistics") {
    val (defRows, cjkRows) = CacheTracker.scoped {
      val d = TextAnalysis.diversity(docs)
        .as[(Long, Long, Long, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      val c = TextAnalysis.diversity(docs, Text.cjkTokens)
        .as[(Long, Long, Long, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      (d, c)
    }
    // default: the whole sentence is one type/token — TTR degenerates
    // to 1.0 and Simpson to 0.0 for EVERY Han doc, the silent skew §5
    // names (a spam doc and diverse prose read identically)
    (1L to 3L).foreach { id =>
      assert(defRows(id)._2 == 1L && defRows(id)._3 == 1L)
      assert(defRows(id)._5 == 0.0)
    }
    // cjkTokens: 59 distinct bigram tokens → real statistics (TTR 1.0
    // because the fixture's bigrams are all distinct, Simpson 1−1/59²·59
    // = 1−1/59 — a genuinely diverse reading)
    assert(cjkRows(1L)._2 == 59L && cjkRows(1L)._3 == 59L)
    assert(math.abs(cjkRows(1L)._5 - (1.0 - 1.0 / 59.0)) < 1e-12)
  }

  test("cjkTokens is a no-op on the ASCII graded surface (same operator outputs)") {
    val ascii = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "wholly different words here")).toDF("doc_id", "text")
    val (a, b) = CacheTracker.scoped {
      val x = Dedup.ngramJaccard(ascii, 3, 0.5)
        .as[(Long, Long, Double)].collect().toSet
      val y = Dedup.ngramJaccard(ascii, 3, 0.5, Text.cjkTokens)
        .as[(Long, Long, Double)].collect().toSet
      (x, y)
    }
    assert(a == b && a.nonEmpty)
    val dv = TextAnalysis.diversity(ascii).orderBy(col("doc_id")).collect()
    val dc = TextAnalysis.diversity(ascii, Text.cjkTokens)
      .orderBy(col("doc_id")).collect()
    assert(dv.sameElements(dc))
  }
}
