package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded slicing helpers and on-disk accounting shared by the
  * workloads. Every draw is a hash of (seed, salt, key), so one seed
  * always gives the same inputs. */
object Inputs {
  def bucket(seed: Long, salt: String, key: Column, m: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(m.toLong))

  /** Write `df` under `path` and read it back: the workload's inputs
    * arrive as files, like a landed batch. */
  def land(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** Bytes on disk under `root`. */
  def bytes(root: String): Long = files(root).map(Files.size).sum

  /** Parquet data files under `root`. */
  def parquetFiles(root: String): Long =
    files(root).count(_.getFileName.toString.endsWith(".parquet")).toLong

  /** The stored-index directories of one tag. */
  def indexDirs(tag: String): Seq[String] = {
    val root = graft.sources.Bucketing.processRoot
    Seq(s"$root/bm25_$tag", s"$root/ann_$tag", s"$root/phrase_$tag")
  }

  /** Distinct tokens of the documents, sorted: the term pool the seeded
    * query draws pick from. */
  def vocabulary(docs: DataFrame): IndexedSeq[String] =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 2).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq

  /** Phrases of 2 or 3 consecutive tokens cut from seeded documents, so
    * every phrase query has at least one hit. */
  def phrases(docs: DataFrame, rng: scala.util.Random, n: Int): Seq[(Long, String)] = {
    val texts = docs.select("text").orderBy("doc_id").limit(200)
      .collect().map(_.getString(0)).filter(_ != null)
    (1 to n).map { q =>
      val toks = texts(rng.nextInt(texts.length)).toLowerCase.split("\\s+")
      val len = 2 + rng.nextInt(2)
      val at = rng.nextInt(math.max(1, toks.length - len))
      q.toLong -> toks.slice(at, at + len).mkString(" ")
    }
  }

  def terms(vocab: IndexedSeq[String], rng: scala.util.Random, qid: Long): (Long, Seq[String]) =
    qid -> Seq.fill(2 + rng.nextInt(2))(vocab(rng.nextInt(vocab.length))).distinct

  /** Rows of a frame as a set, for order-free comparison. */
  def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Rows of a frame per value of its key column, the key left out of
    * each row; the key sits at column `at`. */
  final case class Keyed(at: Int, rows: Map[Any, Set[Seq[Any]]]) {
    def apply(key: Any): Set[Seq[Any]] = rows.getOrElse(key, Set.empty)
    /** Rows of the same shape, key left out. */
    def dropKey(rs: Set[Seq[Any]]): Set[Seq[Any]] = rs.map(_.patch(at, Nil, 1))
  }

  def rowsBy(df: DataFrame, key: String): Keyed = {
    val at = df.columns.indexOf(key)
    require(at >= 0, s"no column $key")
    Keyed(at, df.collect().map(_.toSeq).groupBy(_(at))
      .map { case (k, rs) => k -> rs.map(_.patch(at, Nil, 1)).toSet })
  }
}
