package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Sharding, TextAnalysis}

/** The training-data job: text analysis, MinHash-LSH near-duplicate
  * pairs, connected-component clusters, one survivor per cluster, and
  * token-budget shard packing, collected as the shard assignment.
  *
  * Chosen because its time goes to `operators` and the native
  * `expressions` they call, and to shuffle, including the iterative
  * connected-components rounds; it does no manifest I/O, so it
  * bypasses `sources.manifest` and `pipelines`.
  *
  * The corpus is generated from the seed: documents of 40 to 160 words
  * over a skewed synthetic vocabulary, plus a 10% near-duplicate share.
  * A near duplicate is a copy of an original that differs in case,
  * punctuation and spacing, so its normalized tokens equal the
  * original's and every family must collapse to one survivor whatever
  * the MinHash permutations. */
final class CorpusCuration(spark: SparkSession, tr: Tracer, ledger: Ledger,
    dir: Path, seed: Long) extends Workload {
  import CorpusCuration._

  private val docsPath = dir.resolve("documents.parquet").toString
  private val rnd = new scala.util.Random(seed)
  /** doc id -> family id (the id of the original it copies). */
  private val familyOf = mutable.LongMap.empty[Long]
  private val tokensOf = mutable.LongMap.empty[Long]

  def rowsPerBatch: Long = Docs.toLong
  /** Set-up only writes parquet, so the batch's code is all cold. */
  override def warmupBatches: Int = 2

  def setup(): Unit = {
    val vocab = {
      val words = mutable.LinkedHashSet.empty[String]
      while (words.size < Vocab)
        words += Seq.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
      words.toVector
    }
    def word(): String = vocab((Vocab * math.pow(rnd.nextDouble(), 2.0)).toInt)
    val originals = Docs - Docs / 10
    val texts = mutable.ArrayBuffer.empty[(Int, Seq[String])]
    (0 until originals).foreach { f =>
      texts += ((f, Seq.fill(40 + rnd.nextInt(121))(word())))
    }
    while (texts.size < Docs) {
      val f = rnd.nextInt(originals)
      texts += ((f, texts(f)._2))
    }
    // ids are a seeded permutation, so families are not id-adjacent
    val ids = rnd.shuffle((0 until Docs).map(_.toLong))
    val rows = texts.zipWithIndex.map { case ((f, words), n) =>
      val id = ids(n)
      familyOf(id) = ids(f)
      tokensOf(id) = words.size.toLong
      Row(id, if (n < originals) render(words, plain = true)
        else render(words, plain = false))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .write.parquet(docsPath)
  }

  /** An original is a lowercase sentence; a copy varies case,
    * punctuation and spacing, none of which survive normalization. */
  private def render(words: Seq[String], plain: Boolean): String =
    if (plain) words.mkString(" ").capitalize + "."
    else words.map { w =>
      rnd.nextInt(6) match {
        case 0 => w.toUpperCase
        case 1 => w + ","
        case 2 => w + "  "
        case 3 => "(" + w + ")"
        case _ => w
      }
    }.mkString(" ") + "!"

  def batch(i: Int): Unit =
    ledger.op("bench.curate") {
      val docs = spark.read.parquet(docsPath)
      val an = tr.span("operators.text_analysis") {
        tr.boundary(TextAnalysis.analyze(docs, "text")
          .select("doc_id", "ws_tokens", "quality"))
      }
      val pairs = tr.span("operators.dedup.lsh_pairs") {
        tr.boundary(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4,
          1000).select("id_a", "id_b"))
      }
      val clusters = tr.span("operators.dedup.clusters") {
        tr.boundary(Dedup.duplicateClusters(docs.select("doc_id"), "doc_id",
          pairs))
      }
      val best = tr.span("operators.dedup.keep_best") {
        tr.boundary(Dedup.keepBestPerCluster(an.join(clusters, Seq("doc_id")),
          "doc_id", "cluster_id", "quality"))
      }
      tr.span("operators.sharding") {
        Sharding.packByTokenBudget(best, "doc_id", "ws_tokens", TokenBudget,
          Buckets).select("doc_id", "bucket", "shard", "ws_tokens").collect()
      }
    }(check)

  private def check(out: Array[Row]): Unit = {
    val ids = out.map(_.getLong(0))
    Check(ids.distinct.length == ids.length, "a document survives twice")
    ids.foreach(id => Check(familyOf.contains(id), s"survivor $id is not an input"))
    val perFamily = ids.groupBy(familyOf(_))
    perFamily.foreach { case (f, ms) =>
      Check(ms.length == 1, s"family $f keeps ${ms.length} survivors")
    }
    // unrelated documents may share an LSH bucket and merge, so only a
    // bound: nearly every family keeps its survivor
    val families = familyOf.values.toSet.size
    Check(perFamily.size >= families * 95 / 100,
      s"only ${perFamily.size} of $families families survive")
    out.foreach { r =>
      Check(r.getLong(3) == tokensOf(r.getLong(0)),
        s"doc ${r.getLong(0)}: ws_tokens ${r.getLong(3)}, generated ${tokensOf(r.getLong(0))}")
    }
    // packing contract: within a bucket, in id order, a shard holds
    // the documents whose preceding token sum falls in its budget
    // window, so a shard's tokens before its last document stay under
    // the budget
    out.groupBy(r => (r.getLong(1), r.getLong(2))).foreach { case (k, rs) =>
      val toks = rs.sortBy(_.getLong(0)).map(_.getLong(3))
      Check(toks.init.sum < TokenBudget,
        s"shard $k holds ${toks.sum} tokens over budget $TokenBudget")
    }
  }

  override def layerMetrics(): Map[String, Double] = {
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4, 1000)
      .count()
    Map("operators.dedup.candidates_per_doc" -> pairs.toDouble / Docs)
  }
}

object CorpusCuration {
  val Docs = 2000
  val Vocab = 5000
  val TokenBudget = 8192L
  val Buckets = 4
}
