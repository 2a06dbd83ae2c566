package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One generated operation. `describe` is its complete, deterministic
  * rendering: the op-list digest is taken over it. `group` names the
  * end-to-end latency metric the op feeds (get, scan, agg, write, maint,
  * job, search). */
trait Op {
  def kind: String
  def group: String
  def describe: String = toString
}

/** A wrong result: counted as a failed op of its kind. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** What a workload's ops run against: one Spark session and the
  * benchmark's data and scratch directories inside the checkout. Ops
  * add result-quality figures (e.g. recall) to `sums`; each phase of a
  * run has its own context, so warmup ops never count. */
final class Ctx(val spark: SparkSession, val dataDir: String,
    val workDir: String, val trace: Tracer) {
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  def record(name: String, v: Double): Unit =
    sums.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)
  def sum(name: String): Double = Option(sums.get(name)).map(_.sum()).getOrElse(0.0)
}

trait Workload extends Serializable {
  def name: String
  /** Closed-loop clients; client 0 is the first. */
  def clients: Int
  /** Build the independent reference models (not timed: they are the
    * benchmark's checker, not graft's work). */
  def prepareModels(spark: SparkSession, dataDir: String): Unit
  /** Load the fixtures through graft and build whatever stores the ops
    * need, from scratch, on a fresh session. Timed as set-up. */
  def setup(ctx: Ctx): Unit
  /** The seeded op list of one client, cycled through by the loop. */
  def ops(client: Int, seed: Long): IndexedSeq[Op]
  /** Ops in one whole cycle of a client's op kinds. */
  def cycle(client: Int): Int
  /** Warmup ops run at the end of every set-up: per client, the first op
    * of each kind in a list from a seed no timed run uses. */
  def warmup: Seq[Op] = (0 until clients).flatMap(c => ops(c, -1L - c).take(200).distinctBy(_.kind))
  /** Run one op through graft's public functions and check its result
    * against the models; throws on any error or wrong result. */
  def run(ctx: Ctx, op: Op): Unit
  /** End-of-run figures read from the final state, after the timed loop
    * (e.g. stored bytes after the final compaction). */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
}

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .map(dirBytes).sum
    else f.length()

  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .flatMap(dataFiles)
    else Seq(f)

  /** The object serialized in `f`, or None when it is missing or was
    * written by other code. */
  def readObject[T](f: File): Option[T] =
    if (!f.exists()) None
    else scala.util.Try {
      val in = new java.io.ObjectInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      try in.readObject().asInstanceOf[T] finally in.close()
    }.toOption

  def writeObject(f: File, o: AnyRef): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    val out = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp)))
    try out.writeObject(o) finally out.close()
    require(tmp.renameTo(f), s"could not write $f")
  }

  def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.US, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new WrongResult(what)

  /** A keys frame for a multi-get, built on the driver. */
  def keysFrame(spark: SparkSession, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.Arrays.asList(keys.map(Row(_)): _*),
      StructType(Seq(StructField("row", StringType, nullable = false))))
  }

  /** Rows of a cell frame as model cells. */
  def cells(rows: Array[Row]): Seq[C] = rows.toSeq.map(r => C(
    r.getAs[String]("row"), r.getAs[String]("family"), r.getAs[String]("qualifier"),
    r.getAs[Long]("ts"), r.getAs[String]("type"), r.getAs[String]("value")))

  /** Log-uniform integer in [lo, hi]. */
  def logUniform(rnd: java.util.Random, lo: Int, hi: Int): Int =
    math.min(hi, math.exp(math.log(lo) + rnd.nextDouble() * (math.log(hi + 1) - math.log(lo))).toInt)

  /** Inverse-CDF sampler of a Zipf(s) rank in [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A fixed scatter of ranks over indexes, so hot Zipf ranks are not
    * neighbouring keys. */
  def scatter(rank: Int, n: Int): Int = ((rank.toLong * 7919L + 13L) % n).toInt
}
