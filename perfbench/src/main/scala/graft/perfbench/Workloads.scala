package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{CacheTracker, Dedup, Similarity}
import graft.registry.{ServingIndexes, SimilarityRegistry}
import graft.sources.{Tables, VersionedStore}

/** One timed call: `kind` is "op" for a batch operator, "write" or
  * "read" for a serving call. */
final case class Step(name: String, kind: String, run: Spans => Unit)

/** An outcome checked outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def name: String
  /** Names of the spans reported as `operators.<op>.*`. */
  def ops: Seq[String]
  /** Whole untimed passes before the timed ones, the first of them
    * [[warmUp]]: the count after which pass times measured flat. */
  def warmUpPasses: Int
  /** Builds stores and indexes; returns the index build seconds. */
  def setup(spark: SparkSession): Double
  /** The calls of pass `p`, in order. */
  def pass(p: Int): Seq[Step]
  /** The first untimed pass. A workload whose outputs are checked
    * against an oracle writes them as parquet under `outDir` here and
    * returns op -> output directory. */
  def warmUp(outDir: String): Map[String, String] = {
    pass(-1).foreach(_.run(NoSpans))
    Map.empty
  }
  /** Checks made after the timed passes. */
  def verify(spark: SparkSession): Seq[Check]
  /** Bytes on disk under the workload's stores and indexes. */
  def storeBytes: Long
  def indexBytes: Long
  def teardown(): Unit
}

object Workload {
  def apply(name: String, inputs: String, runDir: String, rotate: Int): Workload = name match {
    case "dedup-pipeline" => new DedupPipeline(inputs, rotate)
    case "serve-ingest" => new ServeIngest(inputs, runDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(x => dirBytes(x.getPath)).sum
  }
}

/** Registry ops over documents and embeddings derived from the sf0.01
  * fixture: bound by job count and driver time, not by bytes. */
final class DedupPipeline(inputs: String, rotate: Int) extends Workload {
  val name = "dedup-pipeline"
  private val base = Seq("dd_minhash", "dd_keep_best_dedup", "dd_semantic_best",
    "dd_semantic_best_dedup", "cp_dup_attribution", "knn_ivf_trained")
  val ops: Seq[String] = base.drop(rotate % base.size) ++ base.take(rotate % base.size)
  // after one warm-up pass the next still ran 5-25% slower
  val warmUpPasses = 2
  private var spark: SparkSession = _

  def setup(s: SparkSession): Double = { spark = s; 0.0 }

  def pass(p: Int): Seq[Step] = ops.map { op =>
    Step(op, "op", sp => sp(op)(Workload.noop(SparkEntry.queries(op)(spark, inputs))))
  }

  override def warmUp(outDir: String): Map[String, String] =
    ops.map { op =>
      val out = s"$outDir/$op"
      SparkEntry.queries(op)(spark, inputs).write.mode("overwrite").parquet(out)
      op -> out
    }.toMap

  def verify(s: SparkSession): Seq[Check] = Nil
  def storeBytes: Long = 0L
  def indexBytes: Long = 0L
  def teardown(): Unit = ()
}

/** A served exact-dedup store and IVF index taking writes beside
  * reads. One pass is one cycle: ingest batch b, [[ReadsPerWrite]]
  * kNN reads, retract batch b, [[ReadsPerWrite]] kNN reads, so the
  * store returns to its base size after every pass. The batch and
  * probe counts are those of the generated files. */
final class ServeIngest(inputs: String, runDir: String) extends Workload {
  import ServeIngest._
  val name = "serve-ingest"
  val ops: Seq[String] = Seq("exactDelta", "exactRetract", "ivfDelta", "ivfRetract",
    "knnIvfIndexed")
  // cycles kept getting ~10% faster through the third and fourth
  val warmUpPasses = 4

  private var spark: SparkSession = _
  private var root: String = _
  private var keepers: DataFrame = _
  private var members: DataFrame = _
  private var ivf: Similarity.IvfIndex = _
  private var indexPaths: Seq[String] = Nil
  private val publishBytes = scala.collection.mutable.ArrayBuffer.empty[Double]

  def exactDir = s"$root/exact"
  def ivfDir = s"$root/ivf"
  def publishedMb: Seq[Double] = publishBytes.toSeq

  private def batchDocs(b: Int) = Tables.load(spark, inputs, f"batch_docs_$b%02d")
  private def batchEmb(b: Int) = Tables.load(spark, inputs, f"batch_emb_$b%02d")
  private def probes(j: Int) = Tables.load(spark, inputs, f"probes_$j%02d")
  private def count(prefix: String) = new File(inputs).list().count(_.startsWith(prefix))
  private lazy val batches = count("batch_docs_")
  private lazy val probeBatches = count("probes_")

  def setup(s: SparkSession): Double = {
    spark = s
    root = s"$runDir/serve"
    val t0 = System.nanoTime()
    val (paths, _) = ServingIndexes.once("perfbench-serve", inputs) {
      val docs = Tables.documents(s, inputs)
      val idx = Similarity.ivfIndex(Tables.embeddings(s, inputs), SimilarityRegistry.CentroidMod)
      (Seq(Dedup.keeperStore(docs), Dedup.memberStore(docs), idx.assigned, idx.centroids), 0L)
    }
    val built = (System.nanoTime() - t0) / 1e9
    indexPaths = paths
    val Seq(k, m, a, c) = paths.map(s.read.parquet(_))
    publish(NoSpans, Seq("keepers" -> k, "members" -> m), Seq("assigned" -> a, "centroids" -> c))
    readBack(NoSpans)
    built
  }

  /** Publishes each non-empty table set as one new store version. */
  private def publish(sp: Spans, exact: Seq[(String, DataFrame)],
                      index: Seq[(String, DataFrame)]): Unit = {
    Seq(exactDir -> exact, ivfDir -> index).filter(_._2.nonEmpty).foreach { case (dir, tables) =>
      val paths = sp("publish")(VersionedStore.write(dir, tables))
      publishBytes += paths.map(Workload.dirBytes).sum / (1024.0 * 1024.0)
    }
  }

  /** Re-opens the live versions of both stores as the served state. */
  private def readBack(sp: Spans): Unit = sp("readback") {
    val Some(Seq(k, m)) = VersionedStore.read(spark, exactDir, Seq("keepers", "members"))
    val Some(Seq(a, c)) = VersionedStore.read(spark, ivfDir, Seq("assigned", "centroids"))
    Seq(k, m, a, c).foreach(Workload.noop)
    keepers = k; members = m; ivf = Similarity.IvfIndex(a, c)
  }

  private def ingest(b: Int)(sp: Spans): Unit = CacheTracker.scoped {
    val docs = batchDocs(b)
    sp("exactDelta") {
      val d = Dedup.exactDelta(keepers, docs)
      Workload.noop(d.assignment)
      publish(sp, Seq("keepers" -> d.updatedStore,
        "members" -> members.union(Dedup.memberStore(docs))), Nil)
    }
    sp("ivfDelta") {
      val grown = Similarity.ivfDelta(ivf, batchEmb(b))
      publish(sp, Nil, Seq("assigned" -> grown.assigned, "centroids" -> grown.centroids))
    }
    readBack(sp)
  }

  private def retract(b: Int)(sp: Spans): Unit = CacheTracker.scoped {
    sp("exactRetract") {
      val r = Dedup.exactRetract(keepers, members, batchDocs(b).select("doc_id"))
      Workload.noop(r.assignment)
      publish(sp, Seq("keepers" -> r.updatedKeepers, "members" -> r.updatedMembers), Nil)
    }
    sp("ivfRetract") {
      val shrunk = Similarity.ivfRetract(ivf, batchEmb(b).select("vec_id"))
      publish(sp, Nil, Seq("assigned" -> shrunk.assigned, "centroids" -> shrunk.centroids))
    }
    readBack(sp)
  }

  private def query(j: Int) =
    Similarity.knnIvfIndexed(ivf, probes(j), SimilarityRegistry.K, SimilarityRegistry.NProbe)

  private def read(j: Int)(sp: Spans): Unit =
    sp("knnIvfIndexed")(Workload.noop(query(j)))

  def pass(p: Int): Seq[Step] = {
    val b = Math.floorMod(p, batches)
    def reads(from: Int) = (0 until ReadsPerWrite).map { i =>
      val j = Math.floorMod(p * 2 * ReadsPerWrite + from + i, probeBatches)
      Step("read", "read", read(j))
    }
    (Step("ingest", "write", ingest(b)) +: reads(0)) ++
      (Step("retract", "write", retract(b)) +: reads(ReadsPerWrite))
  }

  /** After whole cycles (so after a retract) the store must equal a
    * fresh build over the base rows, and after one more untimed ingest
    * a fresh build over base ∪ batch 0. In both states a sampled read
    * must equal knnIvfIndexed over a freshly built index. */
  def verify(s: SparkSession): Seq[Check] = {
    val docs = Tables.documents(s, inputs)
    val emb = Tables.embeddings(s, inputs)
    val fresh = Similarity.ivfIndex(emb, SimilarityRegistry.CentroidMod)
    val retracted = state("retracted", docs, fresh)
    ingest(0)(NoSpans)
    retracted ++ state("ingested", docs.unionByName(batchDocs(0)),
      Similarity.ivfIndexWith(emb.unionByName(batchEmb(0)), fresh.centroids))
  }

  private def state(label: String, docs: DataFrame, fresh: Similarity.IvfIndex): Seq[Check] = {
    def same(what: String, a: DataFrame, b: DataFrame): Check = {
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val (x, y) = (rows(a), rows(b))
      Check(s"$label.$what", x == y,
        s"served-only rows=${x.diff(y).size} fresh-only rows=${y.diff(x).size}")
    }
    Seq(
      same("keepers", keepers, Dedup.keeperStore(docs)),
      same("members", members, Dedup.memberStore(docs)),
      same("ivf", ivf.assigned.select("vec_id", "cell", "v", "vnrm"),
        fresh.assigned.select("vec_id", "cell", "v", "vnrm")),
      same("read", query(0), Similarity.knnIvfIndexed(fresh, probes(0),
        SimilarityRegistry.K, SimilarityRegistry.NProbe)))
  }

  def storeBytes: Long = Workload.dirBytes(exactDir) + Workload.dirBytes(ivfDir)
  def indexBytes: Long = indexPaths.map(Workload.dirBytes).sum

  def teardown(): Unit = scala.reflect.io.Directory(new File(root)).deleteRecursively()
}

object ServeIngest {
  /** kNN reads per write: the read:write ratio is ReadsPerWrite:1. Like
    * the batch shapes in gen.py, this is an assumption, not a measured
    * traffic mix: no source at hand gives an update:query ratio for
    * incremental top-k similarity serving. */
  val ReadsPerWrite = 2
}
