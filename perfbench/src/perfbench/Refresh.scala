package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AnnIndex, ApplicantPipeline, Curation, Dedup, MatView, PhraseIndex,
  Retrieval, TextAnalysis}
import graft.sources.{Catalog, TableStore, VersionedStore}
import graft.streaming.{CorpusStream, IncrementalIngest}

/** The weekly incremental refresh, write-heavy. Set-up curates the base
  * slice of documents in bulk (`Curation.stages`) into the stored
  * corpus and builds the rest of the initial state. Each batch ingests an
  * event window, curates new documents against the stored corpus, runs
  * the applicant pipeline against the catalog store, appends the new
  * documents and vectors to the three stored indexes, maintains the
  * event rollup view, and answers a small serve set on the fresh,
  * uncompacted state. The indexes compact every [[CompactEvery]]
  * batches, except after the last, so the run ends on the state the
  * last serve set saw. The seed slices the inputs into batches, shifts
  * the event windows and their overlaps, draws the applicant name noise
  * and the serve set. */
object Refresh {
  val Batches = 2
  val CompactEvery = 1
  val SeedStride = 16
  val Spill = 2
  val Nprobe = 8
  val TopK = 10
  val ApplicantsPerBatch = 100
  val Borough = "camden"
  val CommonTokens = Seq("customer", "custmer")

  /** windows(b - 1) = (from, to, previous end, rows new in the window) */
  private final case class Plan(in: String,
      windows: IndexedSeq[(String, String, String, Long)],
      bm25: Seq[(Long, Seq[String])], phrases: Seq[(Long, String)],
      annQueries: DataFrame)

  private final case class State(dir: String, tag: String) {
    def corpus = s"$dir/corpus"
    def sink = s"$dir/events_sink"
    def runStats = s"$dir/run_stats"
    def view = s"$dir/event_rollup"
    def store = new TableStore(SparkSession.active, s"$dir/catalog")
  }

  private var plan: Plan = _
  private var state: State = _
  private val ingestStats = mutable.ArrayBuffer.empty[CorpusStream.IngestStats]
  private val runStats = mutable.ArrayBuffer.empty[(graft.streaming.RunStats, Long)]

  private def day(d: Int): String = f"2024-01-${d + 1}%02d"

  /** Slice the inputs by seed and land them as files. Not timed. */
  private def generate(ctx: Ctx): Plan = {
    val spark = ctx.spark
    val in = s"${ctx.out}/inputs"
    val seed = ctx.seed
    val docs = Tables.load(spark, ctx.data, "documents").select("doc_id", "text")
    docs.withColumn("bat",
        when(Inputs.bucket(seed, "doc0", col("doc_id"), 100) < 40, 0)
          .otherwise(Inputs.bucket(seed, "doc", col("doc_id"), Batches) + 1))
      .write.mode("overwrite").partitionBy("bat").parquet(s"$in/docs")
    // every centroid seed (vec_id % SeedStride == 0) is in the base, so
    // a rebuild over the final vector set derives the same centroids
    Tables.load(spark, ctx.data, "embeddings").select("vec_id", "embedding")
      .withColumn("bat",
        when(col("vec_id") % SeedStride === 0 ||
          Inputs.bucket(seed, "vec0", col("vec_id"), 100) < 40, 0)
          .otherwise(Inputs.bucket(seed, "vec", col("vec_id"), Batches) + 1))
      .write.mode("overwrite").partitionBy("bat").parquet(s"$in/vectors")

    val cust = Tables.load(spark, ctx.data, "customer")
    val nCust = cust.count()
    val slots = math.max(Batches + 1, (nCust / ApplicantsPerBatch).toInt)
    val noise = Inputs.bucket(seed, "noise", col("c_custkey"), 4)
    cust.select(
        col("c_custkey").as("input_id"),
        concat(lit("APP/"), col("c_custkey")).as("planning_reference"),
        when(noise === 0, col("c_name"))
          .when(noise === 1, concat(regexp_replace(col("c_name"), "Customer", "Custmer"),
            lit(" Holdings Limited")))
          .when(noise === 2, concat(col("c_name"), lit(" LLP")))
          .otherwise(concat(lower(col("c_name")), lit(" Ltd"))).as("applicant_name"),
        Inputs.bucket(seed, "app", col("c_custkey"), slots).as("slot"),
        Inputs.bucket(seed, "redeliver", col("c_custkey"), 10).as("redeliver"))
      .filter(col("slot") <= Batches)
      .write.mode("overwrite").parquet(s"$in/applicants")

    val rng = new scala.util.Random(seed)
    val baseDays = 12 + rng.nextInt(5)
    val perDay = Tables.load(spark, ctx.data, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val windows = (1 to Batches).map { b =>
      val end = baseDays + 2 * b
      (day(end - 2 - rng.nextInt(2)), day(end), day(end - 2),
        perDay(day(end - 2)) + perDay(day(end - 1)))
    }
    val vocab = Inputs.vocabulary(docs)
    val bm25 = (1L to 2L).map(Inputs.terms(vocab, rng, _))
    val phrases = Inputs.phrases(docs, rng, 2)
    val base = spark.read.parquet(s"$in/vectors").filter(col("bat") === 0)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val annQueries = spark.createDataFrame(
        Seq.fill(2)(base(rng.nextInt(base.length))).distinct)
      .toDF("vec_id", "embedding")
    Plan(in, windows, bm25, phrases, annQueries)
  }

  private def docsOf(b: Int): DataFrame =
    SparkSession.active.read.parquet(s"${plan.in}/docs/bat=$b")
  private def vectorsOf(b: Int): DataFrame =
    SparkSession.active.read.parquet(s"${plan.in}/vectors/bat=$b")
  private var data: String = _
  private def events: DataFrame = Tables.load(SparkSession.active, data, "events")
  private def customers: DataFrame = Tables.load(SparkSession.active, data, "customer")
  private def companies: DataFrame = customers.select(col("c_custkey").as("company_id"),
    col("c_name").as("company_name"), (col("c_custkey") % 2 === 0).as("has_charges"))
  /** Officers share companies in groups, so the pipeline's officer
    * network rebuild has edges to derive. */
  private def appointments: DataFrame = Catalog.conform(
    customers.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("id"), (col("c_custkey") % 997).as("officer_id"),
        col("c_custkey").as("company_id"), lit("director").as("role"),
        lit(true).as("is_active")), Catalog.appointments)
  /** Applicants of batch b, plus a seeded tenth of batch b-1 delivered
    * again (a webhook retry the pipeline must skip). */
  private def applicantsOf(b: Int): DataFrame =
    SparkSession.active.read.parquet(s"${plan.in}/applicants")
      .filter(col("slot") === b || (col("slot") === b - 1 && col("redeliver") === 0 && b > 0))
      .select("input_id", "planning_reference", "applicant_name")

  private def baseEnd = plan.windows.head._3

  /** The base slice's bulk curation: language, quality, exact and
    * near-dup stages, survivors stored as the corpus the batches are
    * curated against. The traced run also counts the verified near-dup
    * pairs, the numerator of dedup.yield. */
  private def curateBase(ctx: Ctx): Unit = {
    val docs = ctx.span("sources.read") { docsOf(0) }
    val stages = ctx.span("dedup.curate") {
      val st = Curation.stages(docs, minQuality = 0.0)
      st.nearDup.select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .write.mode("overwrite").parquet(state.corpus)
      st
    }
    if (ctx.tracer.enabled) ctx.span("trace.count") {
      ctx.add("dedup.verified",
        Dedup.minhashPairs(stages.exact, "doc_id", "text").count().toDouble)
    }
    stages.unpersist()
  }

  private def curate(ctx: Ctx, docs: DataFrame, b: Int): Unit = {
    val st = ctx.span("streaming.corpus", b) {
      CorpusStream.ingestBatch(ctx.spark, docs, state.corpus, b.toLong)
    }
    ingestStats += st
  }

  private def ingestWindow(ctx: Ctx, from: String, to: String, b: Int,
      expected: Long): Unit = {
    val rs = ctx.span("streaming.ingest", b) {
      IncrementalIngest.run(ctx.spark, events, "ts", from, to, Seq("event_id"),
        state.sink, state.runStats, s"run$b")
    }
    runStats += rs -> expected
  }

  private def applicants(ctx: Ctx, b: Int): Unit = {
    val out = ctx.span("match.pipeline", b) {
      ApplicantPipeline.runWithStore(state.store, applicantsOf(b),
        "input_id", "planning_reference", "applicant_name", Borough, companies,
        commonTokens = CommonTokens)
    }
    if (ctx.tracer.enabled) ctx.span("trace.count", b) {
      ctx.add("match.rows", out.matches.count().toDouble)
    }
    out.unpersist()
  }

  private def maintain(ctx: Ctx, from: String, to: String, b: Int): Unit = {
    val delta = ctx.span("sources.read", b) {
      events.filter(col("ts") >= lit(from).cast("timestamp") &&
          col("ts") < lit(to).cast("timestamp"))
        .select(col("event_type"), col("value"), lit(1).as("sign"))
    }
    if (ctx.tracer.enabled) ctx.span("trace.count", b) {
      ctx.add("maintain.changed", delta.count().toDouble)
    }
    ctx.span("maintain.mv", b) {
      MatView.maintainBatch(ctx.spark, delta, state.view, Seq("event_type"),
        "value", "sign")
    }
  }

  private def serveSet(ctx: Ctx, tag: String, b: Int): Seq[Set[Seq[Any]]] = {
    val spark = ctx.spark
    Seq(
      ctx.span("index.serve.bm25", b) {
        Inputs.rowSet(Retrieval.serveIndex(spark, "doc_id", plan.bm25, TopK, tag))
      },
      ctx.span("index.serve.ann", b) {
        Inputs.rowSet(AnnIndex.serveTopK(spark, plan.annQueries, "vec_id",
          "embedding", TopK, Nprobe, tag))
      },
      ctx.span("index.serve.phrase", b) {
        Inputs.rowSet(PhraseIndex.servePhrases(spark, "doc_id", plan.phrases, TopK, tag))
      })
  }

  private def buildIndexes(ctx: Ctx, docs: => DataFrame, vectors: => DataFrame,
      tag: String): Unit = {
    val spark = ctx.spark
    ctx.span("index.build.bm25") {
      Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    }
    ctx.span("index.build.phrase") {
      PhraseIndex.buildPhraseIndex(spark, docs, "doc_id", "text", tag,
        lengths = Seq(2, 3))
    }
    ctx.span("index.build.ann") {
      AnnIndex.buildIndex(spark, vectors, "vec_id", "embedding", tag,
        seedStride = SeedStride, spill = Spill)
    }
  }

  /** The initial state from the base slice: curated corpus, event sink,
    * rollup view, catalog store and the three indexes. */
  private def setup(ctx: Ctx): Double = {
    state = State(s"${ctx.out}/state", "refresh")
    val t0 = System.nanoTime()
    ctx.span("setup") {
      curateBase(ctx)
      ingestWindow(ctx, day(0), baseEnd, 0, -1L)
      maintain(ctx, day(0), baseEnd, 0)
      ctx.span("sources.store") {
        state.store.overwrite("appointments", appointments)
      }
      applicants(ctx, 0)
      buildIndexes(ctx, ctx.spark.read.parquet(state.corpus).select("doc_id", "text"),
        vectorsOf(0), state.tag)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def compact(ctx: Ctx, b: Int): Unit = {
    val spark = ctx.spark
    ctx.span("index.compact.bm25", b) { Retrieval.compactIndex(spark, state.tag, "doc_id") }
    ctx.span("index.compact.phrase", b) {
      PhraseIndex.compactPhraseIndex(spark, state.tag, "doc_id")
    }
    ctx.span("index.compact.ann", b) { AnnIndex.compactIndex(spark, state.tag) }
  }

  /** The serve set's answers on the end state: the last batch's. */
  private var lastServed: Seq[Set[Seq[Any]]] = Nil

  private def batch(ctx: Ctx, b: Int): Unit = ctx.span("batch", b) {
    val spark = ctx.spark
    val (from, to, prevEnd, expected) = plan.windows(b - 1)
    ingestWindow(ctx, from, to, b, expected)
    val docs = ctx.span("sources.read", b) { docsOf(b) }
    curate(ctx, docs, b)
    applicants(ctx, b)
    val kept = ctx.span("sources.read", b) {
      spark.read.parquet(state.corpus)
        .join(docs.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "text")
    }
    ctx.span("index.append.bm25", b) {
      Retrieval.ingestNewDocs(spark, kept, "doc_id", "text", state.tag)
    }
    ctx.span("index.append.phrase", b) {
      PhraseIndex.ingestNewDocs(spark, kept, "doc_id", "text", state.tag)
    }
    ctx.span("index.append.ann", b) {
      AnnIndex.ingestNewVectors(spark, vectorsOf(b), "vec_id", "embedding", state.tag)
    }
    maintain(ctx, prevEnd, to, b)
    lastServed = serveSet(ctx, state.tag, b)
  }

  def run(ctx: Ctx): Outcome = {
    val g0 = System.nanoTime()
    data = ctx.data
    plan = generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    val setupS = setup(ctx)
    // layer counts cover the timed batches only, but for the base
    // curation's verified pairs
    val verified = ctx.counts("dedup.verified")
    ctx.counts.clear()
    ctx.add("dedup.verified", verified)
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    ctx.span("timed") {
      for (b <- 1 to Batches) {
        val s = System.nanoTime()
        ctx.op(s"batch $b")(batch(ctx, b))
        lat += (System.nanoTime() - s) / 1e6
        if (b % CompactEvery == 0 && b < Batches)
          ctx.op(s"compaction after batch $b")(compact(ctx, b))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ingestStats.filter(_.batch_id > 0).foreach { s =>
      ctx.add("streaming.arrived", s.arrived.toDouble)
      ctx.add("streaming.kept", s.kept.toDouble)
    }
    runStats.filter(_._2 >= 0).foreach { case (r, _) =>
      ctx.add("streaming.discovered", r.discovered.toDouble)
      ctx.add("streaming.inserted", r.inserted.toDouble)
    }
    val indexDirs = Inputs.indexDirs(state.tag)
    ctx.add("index.live_files", indexDirs.map(Inputs.parquetFiles).sum.toDouble)
    val store = Inputs.bytes(state.dir) + indexDirs.map(Inputs.bytes).sum
    val input = Seq("docs", "vectors", "applicants").map(d => Inputs.bytes(s"${plan.in}/$d")).sum +
      Inputs.bytes(s"$data/events.parquet")
    Outcome(Seq(setupS), lat.toSeq, wall, store, input, genS)
  }

  /** The end state must equal a from-scratch rebuild. */
  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ref = s"${state.tag}_ref"
    val survivors = spark.read.parquet(state.corpus).select("doc_id", "text").cache()
    val vectors = (0 to Batches).map(vectorsOf).reduce(_.unionByName(_))
    AnnIndex.buildIndex(spark, vectors, "vec_id", "embedding", ref,
      seedStride = SeedStride, spill = Spill)
    // BM25 and phrase answers of a fresh build are, by the stored-index
    // contract, those of the index-free searches over the same documents
    val want = Seq(
      Inputs.rowSet(Retrieval.bm25TopK(survivors, "doc_id", "text", plan.bm25, TopK)),
      Inputs.rowSet(AnnIndex.serveTopK(spark, plan.annQueries, "vec_id", "embedding",
        TopK, Nprobe, ref)),
      Inputs.rowSet(Retrieval.phraseSearch(survivors, "doc_id", "text", plan.phrases, TopK)))
    Seq("bm25", "ann", "phrase").zip(lastServed.zip(want)).foreach { case (n, (g, w)) =>
      ctx.check(s"$n index answers the serve set like a from-scratch build")(g == w && g.nonEmpty)
    }
    survivors.unpersist()
    val sink = spark.read.parquet(state.sink)
    val mv = VersionedStore.readLatest(spark, state.view)
      .select("event_type", "cnt", "total")
    ctx.check("rollup view equals MatView.build over the sink")(
      Inputs.rowSet(mv) == Inputs.rowSet(MatView.build(sink, Seq("event_type"), "value")))
    val lastEnd = plan.windows.last._2
    val windowKeys = events.filter(col("ts") >= lit(day(0)).cast("timestamp") &&
      col("ts") < lit(lastEnd).cast("timestamp")).select("event_id").distinct()
    ctx.check("sink keys equal the distinct window keys")(
      sink.count() == windowKeys.count() &&
        sink.select("event_id").distinct().exceptAll(windowKeys).isEmpty &&
        windowKeys.exceptAll(sink.select("event_id").distinct()).isEmpty)
    ingestStats.foreach { s =>
      ctx.check(s"batch ${s.batch_id}: arrived = dropped + kept")(
        s.arrived == s.dropped_filter + s.dropped_exact + s.dropped_near + s.kept)
    }
    runStats.filter(_._2 >= 0).foreach { case (r, want) =>
      ctx.check(s"${r.run_id}: completed, inserted only the new window part")(
        r.status == "completed" && r.inserted == want)
    }
    ctx.check("applicant store keeps its business keys unique")(
      state.store.keyViolations("applicant_company_matches").isEmpty)
  }
}
