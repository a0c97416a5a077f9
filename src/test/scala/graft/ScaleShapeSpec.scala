package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, CacheTracker, Corpus, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** Scale-shape checks: transformations that exist purely for cluster
  * behavior (skew salting, bucketed co-location) must not change
  * results — and the co-located join must actually drop its shuffle. */
class ScaleShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val d = "/root/testdata/sf0.001"

  test("salted two-phase top-N == unsalted window top-N on real data") {
    val plain = Analytics.topCustomersPerNation(
      Tables.nation(spark, d), Tables.customer(spark, d),
      Tables.orders(spark, d), 5).collect().map(_.toSeq).toSet
    val salted = Analytics.topCustomersPerNationSalted(
      Tables.nation(spark, d), Tables.customer(spark, d),
      Tables.orders(spark, d), 5, saltBuckets = 7).collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    import org.apache.spark.sql.functions._
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) // stale location from an aborted run
        scala.reflect.io.Directory(loc).deleteRecursively()
    }
    Tables.orders(spark, d).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.lineitem(spark, d).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // MERGE hint: at this toy SF Spark would broadcast (also
    // shuffle-free, but then the test wouldn't exercise bucketing);
    // at real scale both sides are too big to broadcast and the
    // sort-merge path below is exactly what runs.
    val joined = spark.table("orders_b").hint("MERGE")
      .join(spark.table("lineitem_b").hint("MERGE"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must need no Exchange: both sides pre-partitioned
    // on the key by bucketing (the agg after it may still shuffle)
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin")
    assert(joinSection.length > 1,
      s"expected a sort-merge/shuffled-hash join over bucketed tables:\n$plan")
    assert(!joinSection.last.contains("Exchange"),
      s"bucketed join still shuffles:\n$plan")
    // and it returns the same rows as the plain join
    val plain = Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == plain)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("IVF cell assignment is a projection: no hash-partition exchange, no window") {
    val assigned = Similarity.ivfAssigned(Tables.embeddings(spark, d), 37)
    val plan = assigned.queryExecution.executedPlan.toString
    // the n x n_centroids crossJoin+row_number argmax would show up as
    // an Exchange hashpartitioning(vec_id) feeding a Window sort
    assert(!plan.contains("Exchange hashpartitioning"),
      s"IVF assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"IVF assignment uses a window:\n$plan")
    // and every vector got a cell from the codebook
    import org.apache.spark.sql.functions.col
    assert(assigned.filter(col("cell").isNull).count() == 0)
  }

  test("exact dedup is groupBy+join-back: no window over the fingerprint key") {
    // Window.partitionBy(fp) hash-partitions AND sorts on fp — one
    // duplicate-heavy fingerprint becomes a single-task straggler. The
    // groupBy path partial-aggregates map-side (a hot fp contributes
    // one row per map task to the exchange) and the join-back is
    // AQE-skew-splittable.
    Seq(Dedup.exact(Tables.documents(spark, d)),
        Dedup.exactNormalized(Tables.documents(spark, d))).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"exact dedup still windows:\n$plan")
      assert(plan.contains("HashAggregate"),
        s"expected partial+final min aggregate:\n$plan")
    }
  }

  test("paragraph dedup and rewrite never window; batch search ranks via the heap") {
    // a hot boilerplate paragraph (millions of copies) must stay
    // map-side-combinable — Window.partitionBy(fp) would single-task
    // it, exactly the dd_exact lesson one granularity down
    Seq(Dedup.spanExact(Tables.documents(spark, d), 16),
        Dedup.spanRewrite(Tables.documents(spark, d), 16)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"paragraph path windows:\n$plan")
      // min(struct) plans as a sort/object aggregate — still a partial
      // (map-side) + final pair, which is the property that matters
      assert(plan.contains("Aggregate"), plan)
    }
    // multi-query serving ranks per query through the bounded graft_topk
    // aggregate — a per-query row_number would hash-sort every candidate
    val queries = {
      import spark.implicits._
      Seq(1L -> "spark", 1L -> "stream", 2L -> "table").toDF("query_id", "w")
    }
    val docs = Tables.documents(spark, d)
    val batch = graft.operators.TextAnalysis.searchIndexedBatch(
      graft.operators.TextAnalysis.searchIndex(docs), docs.count(), queries, 10)
    val bplan = batch.queryExecution.executedPlan.toString
    assert(!bplan.contains("Window"), s"batch search windows:\n$bplan")
    assert(bplan.contains("graft_topk") || bplan.contains("ObjectHashAggregate"),
      s"expected the bounded top-k aggregate:\n$bplan")
  }

  test("fused quality gate is one scan: a single FileScan of documents, no join") {
    import graft.registry.CorpusRegistry._
    val df = Corpus.qualityGate(Tables.documents(spark, d), MinTokens,
      MinStopRatio, MaxDupGram, MaxTopWord)
    val plan = df.queryExecution.executedPlan.toString
    def count(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    // the pre-r7 compose-by-join shape scanned documents four times and
    // shuffled doc_id three times; the fused gate is structurally
    // incapable of either: one scan, no join, only the final
    // per-source aggregate exchange.
    assert(count("FileScan") == 1, s"expected exactly one scan:\n$plan")
    assert(!plan.contains("Join"), s"quality gate re-grew a join:\n$plan")
    assert(count("Exchange") == 1,
      s"expected only the per-source aggregate exchange:\n$plan")
    assert(df.count() > 0)
  }

  test("valued pivot is ONE aggregate pair: single exchange, no pre-aggregate stage") {
    val df = Analytics.ordersPivotByStatus(Tables.orders(spark, d))
    val plan = df.queryExecution.executedPlan.toString
    def count(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    // Spark's .pivot(values) plans TWO aggregate stages (a (key, value)
    // pre-aggregate + exchange, then pivot_first); the conditional-
    // aggregate spelling is one partial+final pair and one exchange.
    assert(count("Exchange") == 1, s"pivot pays an extra exchange:\n$plan")
    assert(count("HashAggregate") == 2,
      s"expected exactly a partial+final aggregate pair:\n$plan")
    assert(!plan.contains("pivotfirst") && !plan.contains("Expand"), plan)
  }

  test("one-scan set-op census: single FileScan of orders, no set-op joins") {
    val df = Analytics.customerYearCensus(Tables.orders(spark, d), 1995, 1996)
    val plan = df.queryExecution.executedPlan.toString
    def count(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    assert(count("FileScan") == 1, s"census re-scans orders:\n$plan")
    assert(!plan.contains("Join"), s"census re-grew the set-op joins:\n$plan")
  }

  test("lexical diversity is a pure projection: one scan, zero exchanges") {
    val df = TextAnalysis.diversity(Tables.documents(spark, d))
    val plan = df.queryExecution.executedPlan.toString
    def count(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    // the (doc, word) count-aggregate spelling exchanged every token
    // row twice; the kernel form is structurally shuffle-free
    assert(count("FileScan") == 1, s"expected exactly one scan:\n$plan")
    assert(!plan.contains("Exchange"), s"diversity re-grew a shuffle:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("search tokenizes the corpus once: both branches read the cached hit frame") {
    CacheTracker.scoped {
      val df = TextAnalysis.search(Tables.documents(spark, d),
        Seq("spark", "stream"), 10)
      val plan = df.queryExecution.executedPlan.toString
      def count(needle: String): Int =
        plan.sliding(needle.length).count(_ == needle)
      // the df aggregate and the scoring join must BOTH consume the
      // persisted (doc, term, tf) frame; tokenizeexpr may appear only
      // inside InMemoryRelation reprints of the cached build plan —
      // one occurrence anywhere else means a consumer re-scans and
      // re-tokenizes the corpus (the 100 TB cost, paid twice)
      assert(count("InMemoryTableScan") == 2, s"a branch skipped the cache:\n$plan")
      assert(count("tokenizeexpr") == count("InMemoryRelation"),
        s"a consumer re-tokenizes the corpus outside the cached hit frame:\n$plan")
      assert(df.count() > 0)
    }
  }

  test("staged interleave rank windows stay bucket-bounded; offsets broadcast") {
    val df = Corpus.interleaveStaged(Tables.documents(spark, d),
      Seq("src0" -> 1, "src1" -> 3), 2)
    val plan = df.queryExecution.executedPlan.toString
    // the per-row rank window must partition on (source, cb) — bounded
    // by bucket occupancy — never on source alone (one task per source)
    val rankWindows = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number"))
      .toSeq
    assert(rankWindows.nonEmpty, s"no rank window in plan:\n$plan")
    assert(rankWindows.forall(_.contains("cb#")),
      s"rank window lost its bucket key (whole-source partition):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket-offset join not broadcast:\n$plan")
  }

  test("bounded top-k aggregate == row_number window top-k for brute-force kNN") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.Vec
    val emb = Tables.embeddings(spark, d)
    val viaAgg = Similarity.knnBruteForce(emb, Similarity.probeEvery(emb, 50), k = 10)
      .collect().map(_.toSeq).toSet
    // the pre-round-4 shape: full-shuffle row_number window
    val e = emb.select(col("vec_id"), col("embedding").as("v"))
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val viaWindow = broadcast(probes).join(e, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Vec.cosine(col("pv"), col("v")).as("cos_sim"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= 10)
      .collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow && viaAgg.nonEmpty)
    // and the aggregate path must not sort/shuffle the full scored set
    val plan = Similarity.knnBruteForce(emb, Similarity.probeEvery(emb, 50), k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"top-k still uses a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected partial+final graft_topk aggregate:\n$plan")
  }

  test("index deltas are zero-shuffle on the delta side: assign/encode are projections") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, d)
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    // ivfDelta: the grown index's plan may exchange for the stored
    // side's union read, but the DELTA branch (scan -> broadcast
    // codebook -> argmax projection) must not hash-partition or window
    val grown = Similarity.ivfDelta(Similarity.ivfIndex(old, 37), delta)
    val ivfPlan = grown.assigned.queryExecution.executedPlan.toString
    assert(!ivfPlan.contains("Exchange hashpartitioning"),
      s"ivfDelta shuffles:\n$ivfPlan")
    assert(!ivfPlan.contains("Window"), s"ivfDelta windows:\n$ivfPlan")
    CacheTracker.scoped {
      val pq = Similarity.pqDelta(Similarity.pqIndex(old), delta)
      val pqPlan = pq.codes.queryExecution.executedPlan.toString
      assert(!pqPlan.contains("Exchange hashpartitioning"),
        s"pqDelta shuffles:\n$pqPlan")
      assert(!pqPlan.contains("Window"), s"pqDelta windows:\n$pqPlan")
    }
  }

  test("funnel is fold-after-one-user-shuffle; outliers close via TakeOrdered") {
    val funnel = Analytics.funnel(Tables.events(spark, d),
      Seq("view", "click", "purchase"))
    val fPlan = funnel.queryExecution.executedPlan.toString
    // the sequence fold must not become per-step windows or joins
    assert(!fPlan.contains("Window"), s"funnel windows:\n$fPlan")
    assert(!fPlan.contains("Join"), s"funnel joins:\n$fPlan")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(fPlan).size
    assert(userExchanges == 1, s"expected ONE user-key shuffle:\n$fPlan")

    val out = Similarity.outliers(Tables.embeddings(spark, d), 37, 10)
    val oPlan = out.queryExecution.executedPlan.toString
    // global bottom-k must be a bounded heap, never a global sort or
    // a single-partition window; assignment stays a projection
    assert(oPlan.contains("TakeOrderedAndProject"),
      s"outliers does not TakeOrdered:\n$oPlan")
    assert(!oPlan.contains("Window"), s"outliers windows:\n$oPlan")
    assert(!oPlan.contains("Exchange hashpartitioning(vec_id"),
      s"outliers shuffles the corpus on vec_id:\n$oPlan")
  }

  test("cross-corpus blocking joins stay equi-keyed: no nested-loop fallback") {
    val docs = Tables.documents(spark, d)
    import org.apache.spark.sql.functions.col
    Seq(
      Dedup.ngramJaccardCross(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), 3, 0.8),
      Corpus.sourceOverlap(docs, 4)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"blocking degenerated to a nested loop:\n$plan")
    }
  }

  test("value histogram is one scan + one aggregate exchange; tolerance as-of adds none") {
    val hist = Analytics.eventValueHistogram(Tables.events(spark, d))
    val hPlan = hist.queryExecution.executedPlan.toString
    def count(plan: String, needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    // distribution shape for the price of a per-type count: partial agg
    // before the single (type, bucket) exchange, two-column scan
    assert(count(hPlan, "FileScan") == 1 && count(hPlan, "Exchange") == 1,
      s"histogram re-grew a stage:\n$hPlan")
    assert(!hPlan.contains("Join") && !hPlan.contains("Window"), hPlan)
    assert(hPlan.contains("ReadSchema: struct<event_type:string,value:double>"),
      s"histogram reads more than its two columns:\n$hPlan")
    // staleness must ride the as-of's one data shuffle: the tolerance
    // form pays exactly the exchanges of the plain form, none extra
    val events = Tables.events(spark, d)
    val orders = Tables.orders(spark, d)
    val plainEx = count(graft.operators.AsOf.eventsLastOrder(events, orders)
      .queryExecution.executedPlan.toString, "Exchange")
    val tolEx = count(
      graft.operators.AsOf.eventsLastOrderWithin(events, orders, 1L)
        .queryExecution.executedPlan.toString, "Exchange")
    assert(tolEx == plainEx,
      s"tolerance added an exchange: $tolEx vs $plainEx")
  }

  test("media near-dup reuses SSJoin blocking: equi-joins only, no nested loop") {
    val df = Multimodal.payloadNearDup(Tables.documents(spark, d), 0.5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame blocking degenerated to a nested loop:\n$plan")
  }
}
