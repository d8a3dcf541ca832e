package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: session, tracer, seeded
  * settings, and the operation and failure counts. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val data: String, val out: String, val cpus: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Layer counts the workload records at its own call sites. */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    tracer.span(name, op)(body)

  /** One timed operation: counted as attempted, and as failed when it
    * throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** One output check: counted as attempted, failed on mismatch. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(false) =>
        failed += 1
        failures += s"check failed: $what"
      case _ =>
    }

  def add(counter: String, v: Double): Unit = counts(counter) += v
}

/** What a workload hands back: its set-up times, the latency of each
  * timed operation, the timed wall, and the byte counts behind the
  * storage ratio. Workloads wrap each set-up in a span named "setup"
  * and the timed phase in one named "timed", and time both with their
  * own clock, outside the spans. */
final case class Outcome(setupS: Seq[Double], opMs: Seq[Double],
    timedWallS: Double, storeBytes: Long, inputBytes: Long, inputGenS: Double)

object Main {
  /** Stated tolerance for |Σ layer self time − traced wall| ÷ traced
    * wall, over the set-up and timed phases. */
  val ReconcileTolerance = 0.01
  /** Spans of the harness itself; every other span is a layer call (or,
    * named trace.*, a count only the traced run takes). */
  val Harness = Set("run", "setup", "timed", "batch")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = a("out")
    val cpus = a.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a("trace") == "1")
    val ctx = new Ctx(spark, tracer, a("seed").toLong, a("seconds").toDouble,
      a("data"), out, cpus)
    val outcome = tracer.span("run") {
      workload match {
        case "refresh" => Refresh.run(ctx)
        case "serve" => Serve.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
    }
    val v0 = System.nanoTime()
    if (a.getOrElse("verify", "1") == "1") workload match {
      case "refresh" => Refresh.verify(ctx)
      case "serve" => Serve.verify(ctx)
    }
    val verifyS = (System.nanoTime() - v0) / 1e9
    tracer.drain()

    // ok_frac is derived by the launcher from attempted and failed
    val e2e = Map(
      "setup_s" -> (sessionS + median(outcome.setupS)),
      "op_p50_ms" -> median(outcome.opMs),
      "ops_per_s" -> outcome.opMs.length / outcome.timedWallS,
      "store_bytes_per_input_byte" ->
        outcome.storeBytes.toDouble / outcome.inputBytes.max(1L))
    val layers =
      if (tracer.enabled) perLayer(ctx, outcome)
      else Map.empty[String, Double]
    if (tracer.enabled) {
      tracer.writeJsonl(Paths.get(out, "spans.jsonl"))
      val err = layers("trace.reconcile_err")
      ctx.check(f"layer self times reconcile with the traced wall ($err%.4f)")(
        err <= ReconcileTolerance)
    }

    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> ctx.seed, "cpus" -> cpus,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq.take(20),
      "end_to_end" -> e2e, "per_layer" -> layers,
      "session_s" -> sessionS, "setup_runs_s" -> outcome.setupS,
      "input_gen_s" -> outcome.inputGenS, "verify_s" -> verifyS,
      "ops" -> outcome.opMs.length, "timed_wall_s" -> outcome.timedWallS,
      "op_ms" -> outcome.opMs))
    Files.writeString(Paths.get(out, "result.json"), result)
    spark.stop()
  }

  /** Per-layer figures from the traced run's spans and listeners. Layer
    * times are self times over the timed phase, except index.build_s and
    * dedup.s, which are self times per set-up. The traced wall is the
    * set-up and timed phases as the workload's own clock measured them;
    * the layer spans' self times must add up to it. */
  private def perLayer(ctx: Ctx, o: Outcome): Map[String, Double] = {
    val tr = ctx.tracer
    val kids = tr.spans.toSeq.groupBy(_.parent)
    def under(root: Int): Set[Int] = {
      def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
      walk(root).toSet
    }
    // spans of the output checks sit outside the "run" root
    val root = tr.spans.find(_.name == "run").get
    val inRun = under(root.id)
    val spans = tr.spans.toSeq.filter(s => inRun(s.id))
    val setupSpans = spans.filter(_.name == "setup").map(_.id)
    val timedRoots = spans.filter(_.name == "timed")
    val timed = timedRoots.map(_.id).flatMap(under).toSet
    val inSetup = setupSpans.flatMap(under).toSet
    val self = tr.selfSeconds
    val execBy = tr.execBySpan
    val plansBy = tr.plansBySpan
    def timedSpans(layer: String) =
      spans.filter(s => timed(s.id) && s.layer == layer)
    def selfOf(ss: Seq[Span]) = ss.map(s => self(s.id)).sum
    def prefixed(p: String, ids: Set[Int]) =
      spans.filter(s => ids(s.id) && s.name.startsWith(p))

    val exec = new ExecTotals
    timed.foreach(id => execBy.get(id).foreach(exec.add))
    val timedPlans = timed.toSeq.flatMap(id => plansBy.getOrElse(id, Nil))
    def candidates(ss: Seq[Span]) =
      ss.map(s => (0L +: plansBy.getOrElse(s.id, Nil).map(_.maxJoinRows)).max).sum.toDouble
    def bandPairs(ss: Seq[Span]) =
      ss.flatMap(s => plansBy.getOrElse(s.id, Nil)).map(_.bandRows).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val c = ctx.counts
    val matchCand = candidates(timedSpans("match"))
    val dedupSpans = spans.filter(s => inSetup(s.id) && s.layer == "dedup")
    val dedupCand = bandPairs(dedupSpans)
    val indexWrites = new ExecTotals
    spans.filter(s => timed(s.id) && s.layer == "index")
      .foreach(s => execBy.get(s.id).foreach(indexWrites.add))
    val maintainWrites = new ExecTotals
    timedSpans("maintain").foreach(s => execBy.get(s.id).foreach(maintainWrites.add))
    val serveMs = prefixed("index.serve", timed).map(_.seconds * 1e3)
    val setups = setupSpans.length.max(1)
    val phases = inSetup ++ timed
    val tracedWall = o.setupS.sum + o.timedWallS
    def selfIn(harness: Boolean) =
      spans.filter(s => phases(s.id) && Harness(s.name) == harness).map(s => self(s.id)).sum
    val layerSelf = selfIn(harness = false)
    val cacheMb = ctx.spark.sparkContext.getRDDStorageInfo
      .map(_.memSize).sum / 1e6

    Map(
      "plan.analysis_ms" -> timedPlans.map(_.analysisMs).sum.toDouble,
      "plan.optimizer_ms" -> timedPlans.map(_.optimizerMs).sum.toDouble,
      "plan.physical_ms" -> timedPlans.map(_.physicalMs).sum.toDouble,
      "plan.codegen_compile_ms" -> timedRoots.map(_.codegenNs).sum / 1e6,
      "plan.aqe_replans" -> exec.aqeReplans.toDouble,
      "exec.cpu_s" -> exec.cpuNs / 1e9,
      "exec.task_s" -> exec.runMs / 1e3,
      "exec.tasks" -> exec.tasks.toDouble,
      "exec.stages" -> exec.stages.toDouble,
      "exec.busy_frac" -> exec.runMs / 1e3 / (o.timedWallS * ctx.cpus),
      "exec.gc_s" -> exec.gcMs / 1e3,
      "exec.shuffle_mb" -> exec.shuffleBytes / 1e6,
      "exec.spill_mb" -> exec.spillBytes / 1e6,
      "sources.read_mb" -> exec.readBytes / 1e6,
      "sources.write_mb" -> exec.writeBytes / 1e6,
      "sources.files_written" -> timedPlans.map(_.filesWritten).sum.toDouble,
      "streaming.ingest_s" -> selfOf(timedSpans("streaming")),
      "streaming.kept_frac" -> ratio(c("streaming.kept"), c("streaming.arrived")),
      "streaming.inserted_frac" ->
        ratio(c("streaming.inserted"), c("streaming.discovered")),
      "match.s" -> selfOf(timedSpans("match")),
      "match.candidates" -> matchCand,
      "match.yield" -> ratio(c("match.rows"), matchCand),
      "dedup.s" -> selfOf(dedupSpans) / setups,
      "dedup.candidates" -> dedupCand / setups,
      "dedup.yield" -> ratio(c("dedup.verified"), dedupCand),
      "graph.s" -> selfOf(timedSpans("graph")),
      "graph.edges" -> c("graph.edges"),
      "index.build_s" -> selfOf(prefixed("index.build", inSetup)) / setups,
      "index.append_s" -> selfOf(prefixed("index.append", timed)),
      "index.compact_s" -> selfOf(prefixed("index.compact", timed)),
      "index.serve_ms" -> (if (serveMs.isEmpty) 0.0 else median(serveMs)),
      "index.live_files" -> c("index.live_files"),
      "index.rewrite_bytes_per_input_byte" ->
        ratio(indexWrites.writeBytes.toDouble, o.inputBytes.toDouble),
      "maintain.s" -> selfOf(timedSpans("maintain")),
      "maintain.rows_written_per_row_changed" ->
        ratio(maintainWrites.writeRecords.toDouble, c("maintain.changed")),
      "jvm.cache_mb" -> cacheMb,
      "jvm.heap_after_gc_mb" -> heapAfterGcMb(),
      "jvm.gc_s" -> timedRoots.map(_.gcMs).sum / 1e3,
      "trace.wall_s" -> tracedWall,
      "trace.self_sum_s" -> layerSelf,
      "trace.reconcile_err" -> math.abs(layerSelf - tracedWall) / tracedWall,
      "trace.unattributed_frac" -> selfIn(harness = true) / tracedWall)
  }
}
