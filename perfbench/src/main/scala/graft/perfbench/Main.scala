package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.col
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession
import graft.functions.Text
import graft.sources.Tables

/** Runs one workload in one JVM with one client thread in a closed
  * loop, and writes `result.json` (and, traced, `spans.jsonl`) under
  * the run directory.
  *
  * Arguments: --workload NAME --inputs DIR --run-dir DIR --seconds S
  * --trace 0|1 [--rotate R].
  *
  * Set-up (session start, store and index builds, the workload's
  * whole untimed warm-up passes) is timed from JVM start. Timed passes then run until
  * S seconds have passed; a pass that starts runs to its end. A traced
  * run makes its passes in blocks of four, untraced, traced, traced,
  * untraced, so its overhead is measured in the same process and a
  * steady drift of pass times cancels out of the ratio. */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val MB = 1024.0 * 1024.0
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val jvmUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val inputs = opt("inputs")
    val runDir = opt("run-dir")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val wl = Workload(opt("workload"), inputs, runDir, opt.getOrElse("rotate", "0").toInt)

    // set-up: session, stores and indexes, whole untimed passes
    val spark = GraftSession.local("perfbench")
    val sessionS = secs(mainStart)
    val indexS = wl.setup(spark)
    val outputs = wl.warmUp(s"$runDir/outputs")
    (2 to wl.warmUpPasses).foreach(i => wl.pass(-i).foreach(_.run(NoSpans)))
    val setupS = jvmUptimeS + secs(mainStart)
    // timed passes
    val tracer = if (trace) Some(new Tracer(spark.sparkContext, wl.name)) else None
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val lat = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val loopStart = System.nanoTime()
    var p = 0
    def done = secs(loopStart) >= seconds && (!trace || p % 4 == 0)
    while (!done) {
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      val sp: Spans = if (traced) tracer.get else NoSpans
      if (traced) tracer.get.startPass(p)
      val t0 = System.nanoTime()
      sp(Tracer.PassSpan) {
        wl.pass(p).foreach { st =>
          val s0 = System.nanoTime()
          attempted += 1
          try st.run(sp)
          catch { case NonFatal(e) => failed += 1; errors += s"${st.name}: $e" }
          lat.getOrElseUpdate(st.kind -> st.name, mutable.ArrayBuffer.empty) += secs(s0)
        }
      }
      passes += secs(t0) -> traced
      if (traced) tracer.get.endPass()
      p += 1
    }
    // Spark's context cleaner frees broadcast and shuffle blocks only
    // after a GC finds their owners unreachable, so collect until the
    // live heap stops shrinking.
    val mem = ManagementFactory.getMemoryMXBean
    def liveMb(): Double = { mem.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / MB }
    var liveHeapMb = liveMb()
    var next = liveMb()
    while (next < liveHeapMb * 0.99) { liveHeapMb = next; next = liveMb() }
    liveHeapMb = math.min(liveHeapMb, next)
    val storeBytes = wl.storeBytes

    // checks outside the timed region
    val checks = try wl.verify(spark) catch {
      case NonFatal(e) => Seq(Check("verify", ok = false, e.toString))
    }
    attempted += checks.size
    failed += checks.count(!_.ok)

    val untraced = passes.filterNot(_._2).map(_._1).toSeq
    val inputBytes = Seq("documents", "embeddings")
      .map(t => Workload.dirBytes(s"$inputs/$t.parquet")).sum
    def kindLat(kind: String) = lat.collect { case ((k, _), xs) if k == kind => xs }.flatten.toSeq

    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(untraced),
      "live_heap_mb" -> liveHeapMb)

    // per-workload figures printed beside the end-to-end metrics
    val info = mutable.LinkedHashMap.empty[String, Any]
    info("passes") = untraced.size
    info("op_median_s") = lat.map { case ((_, n), xs) => n -> Stats.median(xs.toSeq) }.to(ListMap)
    // A tail is the highest percentile with at least 10 samples above
    // it; it is printed only when that percentile is the median or
    // higher, with the sample count either way.
    Seq("write", "read").foreach { kind =>
      val xs = kindLat(kind)
      if (xs.nonEmpty && !trace) {
        info(s"${kind}_n") = xs.size
        info(s"${kind}_p50_s") = Stats.median(xs)
        Stats.tail(xs).foreach { case (pc, v) =>
          info(s"${kind}_tail_s") = v
          info(s"${kind}_tail_percentile") = pc
        }
      }
    }
    if (storeBytes > 0) info("store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes

    val perLayer = tracer.map { t =>
      val tracedWalls = passes.filter(_._2).map(_._1).toSeq
      def probe(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; secs(t0)
      })
      val docs = Tables.documents(spark, inputs)
      val layer = t.report(wl.ops, tracedWalls.size) ++ Map(
        "session.start_s" -> sessionS,
        "registry.index_build_s" -> indexS,
        "registry.index_mb" -> wl.indexBytes / MB,
        "sources.input_mb" -> inputBytes / MB,
        "sources.scan_s" -> probe(Seq("documents", "embeddings").foreach(n =>
          Workload.noop(Tables.load(spark, inputs, n)))),
        "sources.publish_s" -> t.medianWall("publish"),
        "sources.publish_mb" -> (wl match {
          case s: ServeIngest if s.publishedMb.nonEmpty => Stats.median(s.publishedMb)
          case _ => 0.0
        }),
        "sources.readback_s" -> t.medianWall("readback"),
        "functions.tokens_s" -> probe(Workload.noop(docs.select(Text.tokens(col("text"))))),
        "functions.fingerprint_s" ->
          probe(Workload.noop(docs.select(Text.fingerprint(col("text"))))),
        "trace.overhead_ratio" -> Stats.median(tracedWalls) / Stats.median(untraced))
      val dropped = t.droppedEvents
      if (dropped > 0) {
        failed += 1
        errors += s"listener bus dropped $dropped events"
      }
      val spans = t.spanRecords.map(Serialization.write(_)).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(runDir, "spans.jsonl"), spans)
      layer
    }.getOrElse(Map.empty[String, Double])

    val badNames = (endToEnd.keys ++ perLayer.keys).filterNot(_.matches("[A-Za-z0-9_.-]+"))
    if (badNames.nonEmpty) {
      failed += 1
      errors += s"metric names outside [A-Za-z0-9_.-]+: ${badNames.mkString(", ")}"
    }

    val result = Map(
      "workload" -> wl.name,
      "cpus" -> GraftSession.cpus,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / MB,
      "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / MB,
      "clients" -> 1,
      "pass_walls_s" -> passes.map(_._1).toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "outputs" -> outputs,
      "oracle_sql" -> outputs.keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "info" -> info.to(ListMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(runDir, "result.json"),
      Serialization.write(result))
    wl.teardown()
    spark.stop()
  }
}
