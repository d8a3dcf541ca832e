package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AnnIndex, FuzzyJoin, Graph, PhraseIndex, Retrieval}
import graft.queries.Q

/** Interactive serving: one client in a closed loop sends its next
  * request when the previous answer is back, in whole blocks of the mix
  * until the run's seconds have passed.
  * A block holds one request of each kind, in seeded order: the stored
  * BM25, ANN and phrase indexes, a one-applicant fuzzy company match, a
  * supplier-graph neighborhood and a filtered orders/lineitem aggregate.
  * No traffic measurement weights the kinds, so none is weighted. Each
  * request is small, so planning and driver time dominate, not executor
  * kernels. */
object Serve {
  val TopK = 10
  val Nprobe = 8
  val SeedStride = 16
  val Spill = 2
  val Kinds = Seq("bm25", "ann", "phrase", "fuzzy", "graph", "agg")
  val BlockSize = Kinds.length

  sealed trait Request
  final case class Bm25(terms: Seq[String]) extends Request
  final case class Ann(vecId: Long) extends Request
  final case class Phrase(text: String) extends Request
  final case class Fuzzy(name: String) extends Request
  final case class Neighbors(node: Long) extends Request
  final case class Agg(custkey: Long) extends Request

  private var in: String = _
  private var data: String = _
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private val answered = mutable.ArrayBuffer.empty[(Request, Set[Seq[Any]])]

  private def spark = SparkSession.active

  private val Tag = "serve"
  private def edgesDir = s"$in/edges"
  private def edges = spark.read.parquet(edgesDir)

  /** Seeded request draws. Not timed. */
  private def draws(ctx: Ctx, n: Int): IndexedSeq[Request] = {
    val docs = Tables.load(spark, ctx.data, "documents")
    val rng = new scala.util.Random(ctx.seed)
    val vocab = Inputs.vocabulary(docs)
    val phrases = Inputs.phrases(docs, rng, 64).map(_._2)
    val custs = Tables.load(spark, ctx.data, "customer")
      .select("c_custkey", "c_name").orderBy("c_custkey").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val supps = Tables.load(spark, ctx.data, "supplier").select("s_suppkey")
      .orderBy("s_suppkey").collect().map(_.getLong(0))
    val vecIds = vectors.keys.toIndexedSeq.sorted
    // each block holds every kind once, in seeded order, so every run of
    // a few seconds sees the same proportions
    (0 until n / BlockSize).flatMap(_ => rng.shuffle(Kinds)).map {
      case "bm25" => Bm25(Inputs.terms(vocab, rng, 1L)._2)
      case "ann" => Ann(vecIds(rng.nextInt(vecIds.length)))
      case "phrase" => Phrase(phrases(rng.nextInt(phrases.length)))
      case "fuzzy" =>
        val (_, name) = custs(rng.nextInt(custs.length))
        Fuzzy(rng.nextInt(3) match {
          case 0 => name.replace("Customer", "Custmer") + " Holdings Limited"
          case 1 => name + " LLP"
          case _ => name.toLowerCase + " Ltd"
        })
      case "graph" => Neighbors(supps(rng.nextInt(supps.length)))
      case _ => Agg(custs(rng.nextInt(custs.length))._1)
    }
  }

  private def supplierParts: DataFrame =
    Tables.load(spark, data, "lineitem").select("l_partkey", "l_suppkey").distinct()

  /** Builds the three indexes and the supplier graph, then answers one
    * untimed request of each kind, so every request shape is planned and
    * compiled once before timing. */
  private def setup(ctx: Ctx, warmup: Seq[Request]): Double = {
    val docs = Tables.load(spark, ctx.data, "documents").select("doc_id", "text")
    val vecs = Tables.load(spark, ctx.data, "embeddings").select("vec_id", "embedding")
    val t0 = System.nanoTime()
    ctx.span("setup") {
      ctx.span("index.build.bm25") {
        Retrieval.buildIndex(spark, docs, "doc_id", "text", Tag)
      }
      ctx.span("index.build.phrase") {
        PhraseIndex.buildPhraseIndex(spark, docs, "doc_id", "text", Tag,
          lengths = Seq(2, 3))
      }
      ctx.span("index.build.ann") {
        AnnIndex.buildIndex(spark, vecs, "vec_id", "embedding", Tag,
          seedStride = SeedStride, spill = Spill)
      }
      ctx.span("graph.edges") {
        Graph.sharedKeyEdges(supplierParts, "l_partkey", "l_suppkey")
          .write.mode("overwrite").parquet(edgesDir)
      }
      warmup.foreach(r => answered += r -> answer(ctx, r, -1L))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Run one request to completion inside its layer's span: the span
    * covers the call and the action that forces its answer. */
  private def answer(ctx: Ctx, r: Request, op: Long): Set[Seq[Any]] = {
    val session = spark
    import session.implicits._
    def served(layer: String)(df: => DataFrame) =
      ctx.span(layer, op)(Inputs.rowSet(df))
    r match {
      case Bm25(terms) => served("index.serve.bm25") {
        Retrieval.serveIndex(spark, "doc_id", Seq(1L -> terms), TopK, Tag)
      }
      case Ann(id) => served("index.serve.ann") {
        AnnIndex.serveTopK(spark, Seq((id, vectors(id).toSeq)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", TopK, Nprobe, Tag)
      }
      case Phrase(p) => served("index.serve.phrase") {
        PhraseIndex.servePhrases(spark, "doc_id", Seq(1L -> p), TopK, Tag)
      }
      case Fuzzy(name) => served("match.fuzzy") {
        FuzzyJoin.matchNames(Seq((1L, name)).toDF("applicant_id", "applicant_name"),
          spark.read.parquet(s"$in/companies"), "applicant_id", "applicant_name",
          "company_id", "company_name", commonTokens = Seq("customer", "custmer"))
      }
      case Neighbors(n) => served("graph.neighborhood") {
        Graph.neighborhood(edges, lit(n))
      }
      case Agg(c) => served("relational.agg") {
        Tables.load(spark, data, "orders").filter(col("o_custkey") === c)
          .join(Tables.load(spark, data, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("lines"),
            Q.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val g0 = System.nanoTime()
    data = ctx.data
    in = s"${ctx.out}/inputs"
    vectors = Tables.load(spark, ctx.data, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Inputs.land(Tables.load(spark, ctx.data, "customer")
      .select(col("c_custkey").as("company_id"), col("c_name").as("company_name")),
      s"$in/companies")
    val requests = draws(ctx, 20000)
    val genS = (System.nanoTime() - g0) / 1e9
    val setupS = setup(ctx, requests.take(BlockSize).distinctBy(_.getClass))
    ctx.counts.clear()
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    ctx.span("timed") {
      var i = BlockSize
      // whole blocks only: every run serves the mix in its exact proportions
      while (i < requests.length && !(i % BlockSize == 0 && System.nanoTime() >= deadline)) {
        val r = requests(i)
        val s = System.nanoTime()
        val got = ctx.op(s"request $i $r")(answer(ctx, r, i.toLong))
        lat += (System.nanoTime() - s) / 1e6
        got.foreach { g =>
          answered += r -> g
          if (ctx.tracer.enabled) r match {
            case _: Fuzzy => ctx.add("match.rows", g.size.toDouble)
            case _: Neighbors => ctx.add("graph.edges", g.size.toDouble)
            case _ =>
          }
        }
        i += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val dirs = Inputs.indexDirs(Tag) :+ edgesDir
    ctx.add("index.live_files", Inputs.indexDirs(Tag).map(Inputs.parquetFiles).sum.toDouble)
    val input = Seq("documents", "embeddings", "lineitem")
      .map(t => Inputs.bytes(s"${ctx.data}/$t.parquet")).sum
    Outcome(Seq(setupS), lat.toSeq, wall, dirs.map(Inputs.bytes).sum, input, genS)
  }

  /** Check every answered request, warm-up included, against an
    * answer computed without the serve path: BM25 and phrase requests
    * against the index-free searches over the documents, ANN requests
    * against a freshly built index, graph requests against neighbors
    * counted directly from the (part, supplier) pairs. Fuzzy and
    * aggregate requests have no independent reference and are not
    * checked. */
  def verify(ctx: Ctx): Unit = {
    val docs = Tables.load(spark, data, "documents").select("doc_id", "text").cache()
    val ref = "serve_ref"
    AnnIndex.buildIndex(spark, Tables.load(spark, data, "embeddings"), "vec_id",
      "embedding", ref, seedStride = SeedStride, spill = Spill)
    val session = spark
    import session.implicits._
    val indexed = answered.toIndexedSeq.zipWithIndex.map { case ((r, g), q) => (r, g, q.toLong) }
    val bm25 = indexed.collect { case (Bm25(t), _, q) => q -> t }
    val phrases = indexed.collect { case (Phrase(p), _, q) => q -> p }
    val annIds = indexed.collect { case (Ann(id), _, _) => id }.distinct
    val bm25Ref = Inputs.rowsBy(Retrieval.bm25TopK(docs, "doc_id", "text", bm25, TopK), "query_id")
    val phraseRef = Inputs.rowsBy(
      Retrieval.phraseSearch(docs, "doc_id", "text", phrases, TopK), "query_id")
    val annRef = Inputs.rowsBy(AnnIndex.serveTopK(spark,
      annIds.map(id => (id, vectors(id).toSeq)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", TopK, Nprobe, ref), "query_id")
    val suppliersOf = supplierParts.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .groupMap(_._1)(_._2).values.map(_.toSet).filter(g => g.size >= 2 && g.size <= 1000)
    def neighbors(n: Long): Set[Seq[Any]] =
      suppliersOf.filter(_(n)).toSeq.flatMap(_ - n).groupBy(identity)
        .map { case (m, ms) => Seq[Any](m, ms.size.toLong) }.toSet
    // (served answer without its query key, reference answer)
    def compare(r: Request, got: Set[Seq[Any]], q: Long): Option[(Set[Seq[Any]], Set[Seq[Any]])] =
      r match {
        case _: Bm25 => Some(bm25Ref.dropKey(got) -> bm25Ref(q))
        case _: Phrase => Some(phraseRef.dropKey(got) -> phraseRef(q))
        case Ann(id) => Some(annRef.dropKey(got) -> annRef(id))
        case Neighbors(n) =>
          Some(got.map(_.map { case v: Number => v.longValue; case v => v }) -> neighbors(n))
        case _ => None
      }
    indexed.foreach { case (r, got, q) =>
      compare(r, got, q).foreach { case (g, w) =>
        ctx.check(s"$r answers like a from-scratch computation")(
          g == w && (g.nonEmpty || r.isInstanceOf[Neighbors]))
      }
    }
    docs.unpersist()
  }
}
