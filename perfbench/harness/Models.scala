package graft.perfbench

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.SparkSession

/** One cell as the models see it — the canonical CellSet columns. */
final case class C(row: String, family: String, qualifier: String,
    ts: Long, typ: String, value: String)

/** Independent reference models the benchmark checks graft's results
  * against. None of them calls graft: they are plain Scala over the raw
  * parquet tables (read with stock Spark) and over the mutations the
  * benchmark itself generated.
  */
object Models {
  val Put = "Put"
  val Delete = "Delete"
  val DeleteColumn = "DeleteColumn"
  val DeleteFamily = "DeleteFamily"
  val DeleteFamilyVersion = "DeleteFamilyVersion"

  /** Naive read-time resolve of one row's cell log: a put survives when
    * no family marker at or above its ts, no column marker at or above
    * its ts and no exact-version marker names it; the time range
    * [lo, hi) then filters the survivors and the newest `maxVersions`
    * of each column are kept. Markers apply whatever the time range. */
  def resolve(cells: Seq[C], maxVersions: Int,
      timeRange: Option[(Long, Long)] = None): Seq[C] = {
    val (puts, marks) = cells.partition(_.typ == Put)
    def masked(p: C): Boolean = marks.exists { m =>
      m.family == p.family && (m.typ match {
        case DeleteFamily => p.ts <= m.ts
        case DeleteFamilyVersion => p.ts == m.ts
        case DeleteColumn => m.qualifier == p.qualifier && p.ts <= m.ts
        case Delete => m.qualifier == p.qualifier && p.ts == m.ts
        case _ => false
      })
    }
    val inRange = puts.filterNot(masked).filter(p =>
      timeRange.forall { case (lo, hi) => p.ts >= lo && p.ts < hi })
    inRange.groupBy(p => (p.family, p.qualifier)).values
      .flatMap(_.sortBy(-_.ts).take(maxVersions)).toSeq
      .sortBy(c => (c.family, c.qualifier, -c.ts))
  }

  /** The orders table as cells_orders holds it, built from the raw
    * orders parquet: row key → qualifier → value. */
  final class OrdersModel(val rows: TreeMap[String, Map[String, String]]) extends Serializable {
    def cells(row: String): Seq[C] = rows.get(row).toSeq.flatMap(_.toSeq
      .map { case (q, v) => C(row, "d", q, 1L, Put, v) })
    def range(start: String, stop: String): Iterator[(String, Map[String, String])] =
      rows.range(start, stop).iterator
    def prefix(p: String): Iterator[(String, Map[String, String])] =
      rows.rangeFrom(p).iterator.takeWhile(_._1.startsWith(p))
  }

  def orders(spark: SparkSession, dataDir: String): OrdersModel = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val raw = spark.read.parquet(s"$dataDir/orders.parquet").collect()
    val entries = raw.map { r =>
      val key = Data.pad(r.getAs[Long]("o_orderkey"))
      key -> Map(
        "o_custkey" -> r.getAs[Long]("o_custkey").toString,
        "o_orderstatus" -> r.getAs[String]("o_orderstatus"),
        "o_totalprice" -> Util.fmt("%.2f", r.getAs[Double]("o_totalprice")),
        "o_orderdate" -> fmt.format(r.getAs[java.sql.Timestamp]("o_orderdate").toInstant),
        "o_orderpriority" -> r.getAs[String]("o_orderpriority"))
    }
    new OrdersModel(TreeMap(entries.toIndexedSeq: _*))
  }

  /** cells_events_v as FIXTURES.md §2 defines it, from the raw events
    * parquet: per user the first five events by (ts, event_id) become
    * versions 1..5, plus the deterministic tombstone mix. */
  def eventsV(spark: SparkSession, dataDir: String): TreeMap[String, Seq[C]] = {
    val raw = spark.read.parquet(s"$dataDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
    val byUser = raw.groupBy(_.getLong(2))
    TreeMap(byUser.toSeq.map { case (user, evs) =>
      val row = Data.pad(user)
      val versions = evs.sortBy(r => (r.getLong(1), r.getLong(0))).take(5)
        .zipWithIndex.flatMap { case (r, i) =>
          val ts = i + 1L
          Seq(C(row, "d", "event_type", ts, Put, r.getString(3)),
            C(row, "d", "value", ts, Put, Util.fmt("%.4f", r.getDouble(4))),
            C(row, "d", "props", ts, Put, r.getString(5)))
        }
      val tombs =
        (if (user % 7 == 0) Seq(C(row, "d", "value", 3L, DeleteColumn, null)) else Nil) ++
        (if (user % 13 == 0) Seq(C(row, "d", "", 2L, DeleteFamily, null)) else Nil) ++
        (if (user % 17 == 0) Seq(C(row, "d", "props", 4L, Delete, null)) else Nil)
      row -> (versions.toSeq ++ tombs)
    }: _*)
  }

  /** Exact top-k by cosine, excluding the query itself; ties go to the
    * lower id. */
  def bruteTopK(vecs: IndexedSeq[Array[Float]], q: Int, k: Int): Seq[Int] = {
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val qv = vecs(q)
    vecs.indices.filter(_ != q).map { j =>
      val v = vecs(j)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += qv(d).toDouble * v(d); d += 1 }
      (j, dot / (norms(q) * norms(j)))
    }.sortBy { case (j, s) => (-s, j) }.take(k).map(_._1)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Word tokens the way the text operators define them: whitespace
    * runs collapse, trimmed, lower-cased, split on spaces. */
  def tokens(text: String): Array[String] =
    text.replaceAll("\\s+", " ").trim.toLowerCase.split(" ")

  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Language argmax over the function-word profiles, first profile
    * winning ties. */
  def langId(text: String, profiles: Seq[(String, Seq[String])]): String = {
    val padded = " " + text.replaceAll("\\s+", " ").trim.toLowerCase + " "
    def count(term: String): Long =
      (padded.length - padded.replace(term, "").length) / term.length
    val scores = profiles.map { case (lang, terms) => lang -> terms.map(count).sum }
    scores.zipWithIndex.find { case ((_, s), i) =>
      scores.drop(i + 1).forall(_._2 <= s)
    }.map(_._1._1).getOrElse(scores.last._1)
  }
}
