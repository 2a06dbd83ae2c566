package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.model.Tables

object LlmPipeline {
  /** Documents [from, from + n). */
  final case class MinHash(from: Int, n: Int) extends Op { val kind = "dedup_minhash"; val group = "job" }
  final case class SimHash(from: Int, n: Int) extends Op { val kind = "dedup_simhash"; val group = "job" }
  final case class AnnIvf(queries: Seq[Int]) extends Op { val kind = "ann_ivf"; val group = "search" }
  final case class AnnPq(queries: Seq[Int]) extends Op { val kind = "ann_pq"; val group = "search" }
  final case class Quality(from: Int, n: Int) extends Op { val kind = "text_quality"; val group = "job" }
  final case class LangId(from: Int, n: Int) extends Op { val kind = "text_langid"; val group = "job" }
  final case class Bm25(queries: Seq[Int]) extends Op { val kind = "text_bm25"; val group = "job" }

  val Threshold = 0.8
  val MaxHamming = 3
  val K = 10
}

/** llm_pipeline: one client running the LLM-data operators — MinHash
  * and SimHash near-dup jobs over seeded document ranges, IVF and PQ
  * top-10 search with seeded query sets, and quality, language-id and
  * BM25 text jobs. Time is spent inside Spark jobs, so it is the
  * control for driver and storage changes. */
final class LlmPipeline extends Workload {
  import LlmPipeline._

  val name = "llm_pipeline"
  val clients = 1

  private var texts: IndexedSeq[String] = _
  private var vecs: IndexedSeq[Array[Float]] = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var modelLoadMs = 0.0

  def prepareModels(spark: SparkSession, dataDir: String): Unit = {
    val d = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text").collect()
      .map(r => r.getLong(0).toInt -> r.getString(1)).sortBy(_._1)
    texts = d.map(_._2).toIndexedSeq
    val e = spark.read.parquet(s"$dataDir/embeddings.parquet").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).toArray).sortBy(_._1)
    vecs = e.map(_._2).toIndexedSeq
  }

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    docs = Tables.load(ctx.spark, s"${ctx.dataDir}/documents.parquet").cache()
    emb = Tables.load(ctx.spark, s"${ctx.dataDir}/embeddings.parquet").cache()
    Util.check(docs.count() == Data.Documents && emb.count() == Data.Embeddings, "fixture row counts")
    Similarity.invalidateIvfCache()
    modelLoadMs = (System.nanoTime() - t0) / 1e6
  }

  /** Fixed kind order; only the parameters are seeded. */
  private val kinds = Seq("minhash", "ivf", "quality", "simhash", "pq", "langid", "bm25")

  def cycle(client: Int): Int = kinds.size

  def ops(client: Int, seed: Long): IndexedSeq[Op] = {
    val rnd = new java.util.Random(seed * 1000003L + client)
    def span(lo: Int, hi: Int): (Int, Int) = {
      val n = lo + rnd.nextInt(hi - lo + 1)
      (rnd.nextInt(Data.Documents - n), n)
    }
    def queries(n: Int, of: Int): Seq[Int] = Seq.fill(n)(rnd.nextInt(of)).distinct.sorted
    Iterator.continually(kinds).flatten.take(700).map {
      case "minhash" => val (a, n) = span(200, 800); MinHash(a, n)
      case "simhash" => val (a, n) = span(200, 800); SimHash(a, n)
      case "ivf" => AnnIvf(queries(5 + rnd.nextInt(6), Data.Embeddings))
      case "pq" => AnnPq(queries(5 + rnd.nextInt(6), Data.Embeddings))
      case "quality" => val (a, n) = span(200, 1000); Quality(a, n)
      case "langid" => val (a, n) = span(200, 1000); LangId(a, n)
      case _ => Bm25(queries(3 + rnd.nextInt(4), Data.Documents))
    }.toIndexedSeq
  }

  private def subset(from: Int, n: Int): DataFrame =
    docs.filter(col("doc_id") >= from && col("doc_id") < from + n)

  /** Exact duplicates planted in [from, from + n): (i - 5, i) for i % 10 == 0. */
  private def planted(from: Int, n: Int): Set[(Long, Long)] =
    (from until from + n).filter(i => i >= 10 && i % 10 == 0 && i - 5 >= from)
      .map(i => ((i - 5).toLong, i.toLong)).toSet

  private def checkPairs(op: Op, pairs: Seq[(Long, Long)], from: Int, n: Int): Unit = {
    Util.check(pairs.distinct.size == pairs.size, s"$op: duplicate pairs")
    Util.check(pairs.forall { case (i, j) => i < j && i >= from && j < from + n }, s"$op: pair outside the subset or unordered")
    val missing = planted(from, n) -- pairs.toSet
    Util.check(missing.isEmpty, s"$op: missed planted exact duplicates ${missing.take(3)}")
  }

  def run(ctx: Ctx, op: Op): Unit = {
    val t = ctx.trace
    op match {
      case MinHash(from, n) =>
        t.add("ext.dedup_docs", n)
        val rows = t.collect("ext.Dedup.minHashNearDups",
          t.span("ext.Dedup.minHashNearDups")(Dedup.minHashNearDups(subset(from, n), threshold = Threshold)))
        val pairs = rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSeq
        checkPairs(op, pairs, from, n)
        pairs.foreach { case (i, j) =>
          val jac = Models.jaccard(Models.shingles(texts(i.toInt)), Models.shingles(texts(j.toInt)))
          Util.check(jac >= Threshold, s"$op: pair ($i,$j) has Jaccard $jac < $Threshold")
        }
      case SimHash(from, n) =>
        t.add("ext.dedup_docs", n)
        val rows = t.collect("ext.Dedup.simHashNearDups",
          t.span("ext.Dedup.simHashNearDups")(Dedup.simHashNearDups(subset(from, n), maxHamming = MaxHamming)))
        checkPairs(op, rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSeq, from, n)
        Util.check(rows.forall(_.getAs[Int]("hamming") <= MaxHamming), s"$op: pair beyond hamming $MaxHamming")
      case AnnIvf(qs) => ann(ctx, op, qs, "annIvfTopK", Similarity.annIvfTopK(emb, col("vec_id").isin(qs: _*), K))
      case AnnPq(qs) => ann(ctx, op, qs, "annPqTopK", Similarity.annPqTopK(emb, col("vec_id").isin(qs: _*), K))
      case Quality(from, n) =>
        t.add("ext.text_docs", n)
        val rows = t.collect("ext.TextAnalysis.qualityScore",
          t.span("ext.TextAnalysis.qualityScore")(TextAnalysis.qualityScore(subset(from, n))))
        Util.check(rows.length == n, s"$op: ${rows.length} rows for $n docs")
        rows.foreach { r =>
          val id = r.getAs[Long]("doc_id").toInt
          Util.check(r.getAs[Long]("n_chars") == texts(id).length &&
            r.getAs[Long]("n_tokens") == Models.tokens(texts(id)).length, s"$op: doc $id lengths")
          val q = r.getAs[Double]("quality")
          Util.check(q >= 0.0 && q <= 1.0, s"$op: doc $id quality $q outside [0,1]")
        }
      case LangId(from, n) =>
        t.add("ext.text_docs", n)
        val rows = t.collect("ext.TextAnalysis.langId",
          t.span("ext.TextAnalysis.langId")(TextAnalysis.langId(subset(from, n))))
        Util.check(rows.length == n, s"$op: ${rows.length} rows for $n docs")
        rows.foreach { r =>
          val id = r.getAs[Long]("doc_id").toInt
          val want = Models.langId(texts(id), TextAnalysis.profiles)
          Util.check(r.getAs[String]("pred_lang") == want, s"$op: doc $id language ${r.getAs[String]("pred_lang")}, expected $want")
        }
      case Bm25(qs) =>
        t.add("ext.text_docs", Data.Documents)
        val rows = t.collect("ext.TextAnalysis.bm25TopK",
          t.span("ext.TextAnalysis.bm25TopK")(TextAnalysis.bm25TopK(docs, col("doc_id").isin(qs: _*), k = 5)))
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        Util.check(byQ.keySet.subsetOf(qs.map(_.toLong).toSet), s"$op: results for unknown queries")
        byQ.foreach { case (q, rs) =>
          val sorted = rs.sortBy(_.getAs[Long]("rank"))
          Util.check(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length), s"$op: query $q ranks")
          Util.check(sorted.length <= 5, s"$op: query $q has ${sorted.length} > 5 results")
          val scores = sorted.map(_.getAs[Long]("score_q"))
          Util.check(scores.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)), s"$op: query $q scores not descending")
        }
    }
  }

  private def ann(ctx: Ctx, op: Op, qs: Seq[Int], fn: String, build: => DataFrame): Unit = {
    val t = ctx.trace
    t.add("ext.ann_queries", qs.size)
    val rows = t.collect(s"ext.Similarity.$fn", t.span(s"ext.Similarity.$fn")(build))
    val byQ = rows.groupBy(_.getAs[Long]("query_id").toInt)
    Util.check(byQ.keySet == qs.toSet, s"$op: answered ${byQ.size} of ${qs.size} queries")
    byQ.foreach { case (q, rs) =>
      val got = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id").toInt)
      Util.check(got.length == K && got.distinct.length == K && !got.contains(q), s"$op: query $q neighbours $got")
      rs.foreach { r =>
        val want = Models.cosine(vecs(q), vecs(r.getAs[Long]("neighbor_id").toInt))
        Util.check(math.abs(r.getAs[Double]("sim") - want) < 1e-3, s"$op: query $q similarity ${r.getAs[Double]("sim")} vs $want")
      }
      val exact = Models.bruteTopK(vecs, q, K).toSet
      ctx.record("recall", got.count(exact).toDouble / K)
      ctx.record("queries", 1)
    }
  }

  override def finish(ctx: Ctx): Map[String, Double] = Map(
    "search_recall_at_10" -> (if (ctx.sum("queries") == 0) 0.0 else ctx.sum("recall") / ctx.sum("queries")),
    "search_queries" -> ctx.sum("queries"),
    "model_load_ms" -> modelLoadMs)
}
