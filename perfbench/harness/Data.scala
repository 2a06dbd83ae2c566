package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's fixed input tables, shaped like the engine's sf0.01
  * fixtures (FIXTURES.md §1): orders 15k rows (75k cells), events 10k
  * rows over 1k users, documents 5k, embeddings 2k. An op costs about
  * the same at sf0.1 (its cost is fixed per Spark job), so the smaller
  * tables only shorten set-up and data generation. They are generated
  * from one fixed data seed, so every run and every commit reads
  * identical bytes; only the operations vary with the run's `--seed`.
  * The tables are written once per checkout as parquet and then read
  * through graft's own loaders.
  */
object Data {
  val DataSeed = 42L
  val Orders = 15000
  val Events = 10000
  val Users = 1000
  val Documents = 5000
  val Embeddings = 2000
  val Dim = 64
  /** Bumped whenever the generator changes, so a stale cache is rebuilt. */
  val Version = 2

  val statuses = Seq("F", "O", "P")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Seq("click", "view", "purchase", "search", "share")

  /** Row key of order `i` (0-based): odd order keys only, so every even
    * key inside the key range is a guaranteed miss. */
  def orderKey(i: Int): Long = 2L * i + 1
  def pad(k: Long): String = f"$k%010d"

  /** Write the tables under `dir` unless a complete copy of this
    * generator version is already there. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val stamp = new File(dir, s"_COMPLETE_v$Version")
    if (stamp.exists()) return
    val tmp = new File(dir + ".tmp")
    Util.deleteRecursively(tmp)
    Util.deleteRecursively(new File(dir))
    val out = tmp.getPath
    orders(spark).write.parquet(s"$out/orders.parquet")
    events(spark).write.parquet(s"$out/events.parquet")
    documents(spark).write.parquet(s"$out/documents.parquet")
    embeddings(spark).write.parquet(s"$out/embeddings.parquet")
    require(tmp.renameTo(new File(dir)), s"could not publish $dir")
    require(stamp.createNewFile(), s"could not stamp $dir")
  }

  private def h(tag: String): org.apache.spark.sql.Column =
    xxhash64(lit(DataSeed), col("id"), lit(tag))

  private def pick(values: Seq[String], tag: String): org.apache.spark.sql.Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(tag), lit(values.size.toLong)) + 1).cast("int"))

  def orders(spark: SparkSession): DataFrame =
    spark.range(0, Orders, 1, 4).select(
      (col("id") * 2 + 1).as("o_orderkey"),
      (pmod(h("cust"), lit(1500L)) + 1).as("o_custkey"),
      pick(statuses, "status").as("o_orderstatus"),
      (pmod(h("price"), lit(49900000L)) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_millis(lit(694224000000L) +
        pmod(h("date"), lit(2400L * 86400L)) * 1000L).as("o_orderdate"),
      pick(priorities, "prio").as("o_orderpriority"))

  /** `ts` is plain INT64 epoch-nanos, the unit graft's events reader
    * normalizes every variant to. */
  def events(spark: SparkSession): DataFrame =
    spark.range(0, Events, 1, 4).select(
      col("id").as("event_id"),
      (lit(1704067200000000000L) + col("id") * 1000000L +
        pmod(h("jit"), lit(999999L))).as("ts"),
      (pmod(h("user"), lit(Users.toLong)) + 1).as("user_id"),
      pick(eventTypes, "etype").as("event_type"),
      (pmod(h("val"), lit(1000000L)) / 1000.0).as("value"),
      concat(lit("{\"k\":"), pmod(h("props"), lit(100L)).cast("string"),
        lit("}")).as("props"))

  private val words: Array[String] = {
    val common = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on",
      "with", "der", "und", "die", "le", "et", "la", "el", "y", "los")
    val rnd = new java.util.Random(DataSeed)
    (common ++ (0 until 3000).map { _ =>
      val n = 3 + rnd.nextInt(7)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }).toArray
  }

  /** Document text: every 10th document from id 10 on is an exact copy
    * of the document five ids earlier, and every 10th from id 13 on is
    * that copy with two words replaced — planted exact and near
    * duplicates the dedup operators must find. */
  def docTexts: IndexedSeq[String] = {
    val rnd = new java.util.Random(DataSeed + 1)
    val texts = new Array[String](Documents)
    for (i <- 0 until Documents) {
      texts(i) =
        if (i >= 10 && i % 10 == 0) texts(i - 5)
        else if (i >= 13 && i % 10 == 3) {
          val toks = texts(i - 5).split(" ")
          toks(rnd.nextInt(toks.length)) = words(19 + rnd.nextInt(3000))
          toks(rnd.nextInt(toks.length)) = words(19 + rnd.nextInt(3000))
          toks.mkString(" ")
        } else {
          val n = 40 + rnd.nextInt(80)
          // a Zipf-ish draw: common function words dominate
          (0 until n).map { _ =>
            val u = rnd.nextDouble()
            if (u < 0.35) words(rnd.nextInt(19)) else words(19 + rnd.nextInt(3000))
          }.mkString(" ")
        }
    }
    texts.toIndexedSeq
  }

  def documents(spark: SparkSession): DataFrame = {
    val langs = Seq("en", "de", "fr", "es")
    val sources = Seq("web", "books", "code")
    val rows = docTexts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(i % 4), sources(i % 3), t.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** 16 Gaussian clusters in 64 dimensions; `label` is the cluster. */
  def embeddingVectors: IndexedSeq[Array[Float]] = {
    val rnd = new java.util.Random(DataSeed + 2)
    val centers = Array.fill(16, Dim)(rnd.nextGaussian())
    (0 until Embeddings).map { i =>
      val c = centers(i % 16)
      Array.tabulate(Dim)(d => (c(d) + 0.6 * rnd.nextGaussian()).toFloat)
    }
  }

  def embeddings(spark: SparkSession): DataFrame = {
    val rows = embeddingVectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.toSeq, i % 16)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
