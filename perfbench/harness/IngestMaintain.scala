package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.admin.GAdmin
import graft.flow.{Compactions, HFiles, Jobs}
import graft.model.Fixtures
import graft.read.{GScan, GTable, Resolve}
import graft.stream.WalStream
import graft.write.{BucketedStore, Mutations}

/** The logical content of a durable store: the orders base plus the log
  * of every mutation cell committed to it, resolved naively per row. */
final class DurableModel(base: Models.OrdersModel, log: Map[String, Vector[C]]) extends Serializable {
  def get(row: String): Seq[C] = Models.resolve(base.cells(row) ++ log.getOrElse(row, Vector.empty), 1)
  def latest(row: String, qualifier: String): Option[String] =
    get(row).find(_.qualifier == qualifier).map(_.value)
  def apply(cells: Seq[C]): DurableModel = new DurableModel(base,
    cells.groupBy(_.row).foldLeft(log) { case (m, (r, cs)) =>
      m.updated(r, m.getOrElse(r, Vector.empty) ++ cs) })
}

object IngestMaintain {
  /** A mutation batch; `kind` is put, delete_column, delete_family,
    * increment or check_and_mutate. `rows` index the orders rows. */
  final case class Batch(kind0: String, rows: Seq[Int], salt: Int) extends Op {
    val kind = s"write_$kind0"; val group = "write"
  }
  final case class Maint(kind: String) extends Op { val group = "maint" }
  final case class DurableGet(key: String) extends Op { val kind = "durable_get"; val group = "get" }
  final case class HFileGet(keys: Seq[String]) extends Op { val kind = "hfile_get"; val group = "get" }

  /** The flush policy, identical on every commit measured: each batch is
    * committed as its own bucketed table; the writer folds base and
    * deltas into a new base once per cycle of the schedule below (5
    * batches, one of each kind), flushes batches to the HFile store
    * twice per cycle and then compacts the flushed files. The schedule
    * is short enough that every run measures one whole cycle. */
  val Buckets = 4
  val cycleShape: Seq[String] = Seq("put", "export", "check_and_mutate", "export", "compact",
    "increment", "fold", "delete_column", "split", "import", "delete_family", "replicate")
  /** Minor compaction: any two or more flushed files under 1 MB are
    * merged regardless of their size ratio; the 4 MB base HFile stays
    * out, since it is bigger than the files beside it allow. */
  val compactKnobs = Compactions.Knobs(minFiles = 2, minCompactSize = 1L << 20)

  /** The committed durable store: base table, delta tables, and the
    * model of their content. */
  final case class Manifest(base: String, deltas: Vector[String], model: DurableModel)

  private val cellSchema = StructType(Seq(
    StructField("row", StringType, nullable = false), StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false), StructField("ts", LongType, nullable = false),
    StructField("type", StringType, nullable = false), StructField("value", StringType, nullable = true)))
}

/** ingest_maintain: a writer and a reader. The writer applies seeded
  * mutation batches through Mutations and commits them with
  * BucketedStore.write, and on a fixed schedule runs HFile export and
  * import, minor compaction, a region split and WAL replication with a
  * verify step. The reader issues point gets against the durable store
  * and HFiles.pointGet. The working set is on disk, outside the
  * engine's cache. */
final class IngestMaintain extends Workload {
  import IngestMaintain._

  val name = "ingest_maintain"
  val clients = 2
  /** Reader: one op of each kind; writer: one put batch and its flush. */
  override def warmup: Seq[Op] =
    ops(1, -2L).take(200).distinctBy(_.kind) ++ ops(0, -1L).filter(_.kind == "write_put").take(1) :+ Maint("export")

  private var orders: Models.OrdersModel = _

  // durable store state, rebuilt by every setup
  private val manifest = new AtomicReference[Manifest]()
  private var seq = 0
  private var tableGen = 0
  private var unexported = Vector.empty[(String, Seq[C])]
  private var unreplicated = Vector.empty[(String, Seq[C], Long, Long)] // table, cells, seq, commit ns
  private val hlock = new ReentrantReadWriteLock()
  @volatile private var hstoreModel: DurableModel = _
  private var hstoreCount = 0L
  private var hstoreSum = 0L
  private var hfileSeq = 0
  private var splitCount = 0
  private var modelLoadMs = 0.0

  private var baseDir: String = _
  private var baseCount = 0L
  private var baseSum = 0L

  /** Besides the model: the durable base store (bucketed table and one
    * HFile of cells_orders), written through graft once per checkout.
    * The runs never modify it: each set-up opens it afresh. */
  def prepareModels(spark: SparkSession, dataDir: String): Unit = {
    orders = Models.orders(spark, dataDir)
    baseDir = s"$dataDir/../ingest_base_v${Data.Version}"
    val stamp = new File(s"$baseDir/_COMPLETE")
    if (!stamp.exists()) {
      Util.deleteRecursively(new File(baseDir))
      val cells = Fixtures.cellsOrders(spark, dataDir)
      BucketedStore.write(cells, "base_0", s"$baseDir/base_0", Buckets, bloomNdv = Data.Orders)
      HFiles.export(cells, 1, s"$baseDir/hfile")
      val (n, s) = checksum(cells)
      val w = new java.io.PrintWriter(stamp)
      try w.println(s"$n $s") finally w.close()
    }
    val src = scala.io.Source.fromFile(stamp)
    try { val Array(n, s) = src.mkString.trim.split(" "); baseCount = n.toLong; baseSum = s.toLong }
    finally src.close()
  }

  private def storeDir(ctx: Ctx) = ctx.workDir
  private def hstore(ctx: Ctx) = s"${ctx.workDir}/hstore"

  private def checksum(df: DataFrame): (Long, Long) = {
    // a store holds a tombstone's value as null, an HFile as empty bytes
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(col("row"), col("family"), col("qualifier"),
      col("ts"), col("type"), coalesce(col("value"), lit(""))), lit(1L << 40))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    spark.sql(s"""CREATE TABLE base_0 (row STRING, family STRING, qualifier STRING, ts BIGINT,
      type STRING, value STRING) USING parquet CLUSTERED BY (row) SORTED BY (row, family, qualifier)
      INTO $Buckets BUCKETS LOCATION '${new File(s"$baseDir/base_0").getAbsolutePath}'""")
    new File(hstore(ctx)).mkdirs()
    java.nio.file.Files.copy(new File(s"$baseDir/hfile/part-00000.hfile").toPath,
      new File(s"${hstore(ctx)}/part-00000.hfile").toPath)
    modelLoadMs = (System.nanoTime() - t0) / 1e6
    val empty = new DurableModel(orders, Map.empty)
    manifest.set(Manifest("base_0", Vector.empty, empty))
    hstoreModel = empty
    hstoreCount = baseCount; hstoreSum = baseSum
    seq = 0; tableGen = 0; hfileSeq = 0; splitCount = 0
    unexported = Vector.empty; unreplicated = Vector.empty
  }

  def cycle(client: Int): Int = if (client == 0) cycleShape.size else 5

  def ops(client: Int, seed: Long): IndexedSeq[Op] = {
    val rnd = new java.util.Random(seed * 1000003L + client)
    val n = Data.Orders
    if (client == 0) {
      val batches = Set("put", "delete_column", "delete_family", "increment", "check_and_mutate")
      (0 until 60).flatMap { _ =>
        cycleShape.map {
          case k if batches(k) =>
            val cellsPerRow = if (k == "put") 2 else 1
            val nCells = if (k == "delete_family") Util.logUniform(rnd, 20, 100)
              else Util.logUniform(rnd, 100, 1000)
            Batch(k, Seq.fill(nCells / cellsPerRow)(rnd.nextInt(n)).distinct.sorted, rnd.nextInt(1000))
          case m => Maint(m)
        }
      }
    } else {
      val zipf = new Util.Zipf(n, 1.1)
      def key(): String =
        if (rnd.nextInt(10) == 0) Data.pad(2L * (1 + rnd.nextInt(n - 1)))
        else Data.pad(Data.orderKey(Util.scatter(zipf.sample(rnd), n)))
      (0 until 6000).map { i =>
        if (i % 5 == 4) HFileGet(Seq.fill(1 + rnd.nextInt(10))(key()).distinct) else DurableGet(key())
      }
    }
  }

  /** The committed store as readers see it: the base with every delta
    * applied. */
  private def view(spark: SparkSession, m: Manifest): DataFrame =
    m.deltas.map(BucketedStore.read(spark, _))
      .foldLeft(BucketedStore.read(spark, m.base))(Mutations.applyMutations)

  private def frame(spark: SparkSession, cells: Seq[C]): DataFrame =
    spark.createDataFrame(cells.map(c => Row(c.row, c.family, c.qualifier, c.ts, c.typ, c.value)).asJava, cellSchema)

  def run(ctx: Ctx, op: Op): Unit = op match {
    case b: Batch => write(ctx, b)
    case DurableGet(k) =>
      val m = manifest.get()
      val t = ctx.trace
      val df = t.span("read.GTable.get")(GTable.get(t.span("write.Mutations.applyMutations")(view(ctx.spark, m)), k))
      val got = Util.cells(t.collect("read.durableGet", df))
      same(got, m.model.get(k), op)
    case HFileGet(keys) =>
      val t = ctx.trace
      hlock.readLock().lock()
      try {
        val model = hstoreModel
        val df = t.span("flow.HFiles.pointGet")(Resolve.latest(HFiles.pointGet(ctx.spark, hstore(ctx), keys), 1))
        val got = Util.cells(t.collect("flow.pointGet", df))
        same(got, keys.flatMap(model.get), op)
      } finally hlock.readLock().unlock()
    case Maint(kind) => fsCounted(ctx)(maint(ctx, kind))
  }

  private def same(got: Seq[C], want: Seq[C], op: Op): Unit = {
    def norm(cs: Seq[C]) = cs.map(c => (c.row, c.qualifier, c.ts, c.value)).sorted
    Util.check(norm(got) == norm(want), s"$op: got ${norm(got).take(3)}.. (${got.size}) want ${norm(want).take(3)}.. (${want.size})")
  }

  private def write(ctx: Ctx, b: Batch): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    seq += 1
    val ts = 100L + seq
    val m = manifest.get()
    val keys = b.rows.map(i => Data.pad(Data.orderKey(i)))
    def keysDf = Util.keysFrame(spark, keys)
    val (frameDf, expected) = b.kind0 match {
      case "put" =>
        val rows = keys.map(k => Row(k, Util.fmt("%.2f", 1000.0 + (k.toLong * 31 + b.salt) % 400000 / 1.0), s"n${b.salt}-$seq"))
        val local = spark.createDataFrame(rows.asJava, StructType(Seq(StructField("row", StringType),
          StructField("price", StringType), StructField("note", StringType))))
        val df = t.span("write.Mutations.putCell")(
          local.select(Mutations.putCell(col("row"), "d", "o_totalprice", lit(ts), col("price")): _*)
            .unionByName(local.select(Mutations.putCell(col("row"), "d", "note", lit(ts), col("note")): _*)))
        (df, rows.flatMap(r => Seq(C(r.getString(0), "d", "o_totalprice", ts, Models.Put, r.getString(1)),
          C(r.getString(0), "d", "note", ts, Models.Put, r.getString(2)))))
      case "delete_column" =>
        val q = if (b.salt % 2 == 0) "note" else "o_orderpriority"
        val cs = keys.map(k => C(k, "d", q, ts, Models.DeleteColumn, null))
        (frame(spark, cs), cs)
      case "delete_family" =>
        val cs = keys.map(k => C(k, "d", "", ts, Models.DeleteFamily, null))
        (frame(spark, cs), cs)
      case "increment" =>
        // two deltas per row, folded by the engine, added to the current
        // counter read back from the durable store
        val deltas = keys.flatMap(k => Seq(Row(k, (k.toLong + b.salt) % 7 + 1), Row(k, (b.salt % 5) + 1L)))
        val dd = spark.createDataFrame(deltas.asJava, StructType(Seq(StructField("row", StringType),
          StructField("delta", LongType))))
        val df = t.span("write.Mutations.incrementFold") {
          val folded = Mutations.incrementFold(dd, Seq(col("row")), col("delta"))
          val current = GTable.multiGet(view(spark, m), keysDf, GScan(columns = Seq(("d", "cnt"))))
            .select(col("row"), col("value").as("cur"))
          folded.join(current, Seq("row"), "left")
            .select(Mutations.putCell(col("row"), "d", "cnt", lit(ts),
              (coalesce(col("cur").cast("long"), lit(0L)) + col("value")).cast("string")): _*)
        }
        val sums = deltas.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).sum }
        (df, keys.map(k => C(k, "d", "cnt", ts, Models.Put,
          (m.model.latest(k, "cnt").map(_.toLong).getOrElse(0L) + sums(k)).toString)))
      case _ => // check_and_mutate: orders still in status F get a new priority
        val newPrio = s"0-CAS-${b.salt}"
        val df = t.span("write.Mutations.checkAndMutate") {
          val rowCells = GTable.multiGet(view(spark, m), keysDf)
          Mutations.checkAndMutate(rowCells, Mutations.Guard("d", "o_orderstatus", col("value") === "F"),
            hit => hit.filter(col("qualifier") === "o_orderstatus")
              .select(Mutations.putCell(col("row"), "d", "o_orderpriority", lit(ts), lit(newPrio)): _*))
            .filter(col("ts") === ts)
        }
        (df, keys.filter(k => m.model.latest(k, "o_orderstatus").contains("F"))
          .map(k => C(k, "d", "o_orderpriority", ts, Models.Put, newPrio)))
    }
    val table = s"delta_$seq"
    val path = s"${storeDir(ctx)}/$table"
    t.span("write.BucketedStore.write")(
      BucketedStore.write(frameDf, table, path, Buckets, bloomNdv = math.max(100L, keys.size.toLong)))
    val committed = Util.cells(BucketedStore.read(spark, table).collect())
    val commitNs = System.nanoTime()
    manifest.set(Manifest(m.base, m.deltas :+ table, m.model.apply(committed)))
    unexported :+= ((table, committed))
    unreplicated :+= ((table, committed, seq.toLong, commitNs))
    if (t.on) {
      val userBytes = committed.map(c => c.row.length + c.family.length + c.qualifier.length + 8 +
        Option(c.value).map(_.length).getOrElse(0)).sum
      t.add("write.commits", 1); t.add("write.cells", committed.size)
      t.add("write.user_bytes", userBytes); t.add("write.bytes_written", Util.dirBytes(new File(path)).toDouble)
      t.add("write.files", Util.dataFiles(new File(path)).size)
    }
    def norm(cs: Seq[C]) = cs.map(c => (c.row, c.qualifier, c.ts, c.typ, c.value)).sorted
    Util.check(norm(committed) == norm(expected), s"${b.kind}: committed ${committed.size} cells, " +
      s"expected ${expected.size}; first difference " +
      norm(committed).zipAll(norm(expected), null, null).find(p => p._1 != p._2).getOrElse("none"))
  }

  private def fsCounted[T](ctx: Ctx)(body: => T): T = {
    def snap() = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(s => (s.getReadOps.toDouble, s.getWriteOps.toDouble, s.getBytesRead.toDouble))
      .foldLeft((0.0, 0.0, 0.0))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val before = if (ctx.trace.on) snap() else null
    val r = body
    if (ctx.trace.on) {
      val after = snap()
      ctx.trace.add("flow.fs_read_ops", after._1 - before._1)
      ctx.trace.add("flow.fs_write_ops", after._2 - before._2)
      ctx.trace.add("flow.fs_bytes_read", after._3 - before._3)
    }
    r
  }

  private def hfiles(ctx: Ctx): Seq[File] =
    Option(new File(hstore(ctx)).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".hfile")).sortBy(_.getName)

  private def maint(ctx: Ctx, kind: String): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    kind match {
      case "export" =>
        if (unexported.nonEmpty) {
          val batch = unexported
          val src = batch.map(b => BucketedStore.read(spark, b._1)).reduce(_ unionByName _)
          val (n, s) = checksum(src)
          val tmp = s"${storeDir(ctx)}/hexport"
          Util.deleteRecursively(new File(tmp))
          t.span("flow.HFiles.export")(HFiles.export(src, 1, tmp))
          hlock.writeLock().lock()
          try {
            hfileSeq += 1
            val name = Util.fmt("part-%05d.hfile", hfileSeq)
            require(new File(s"$tmp/part-00000.hfile").renameTo(new File(s"${hstore(ctx)}/$name")),
              s"could not flush $name")
            hstoreModel = hstoreModel.apply(batch.flatMap(_._2))
            hstoreCount += n; hstoreSum += s
            t.add("codec.cells_encoded", n)
            t.add("codec.bytes_encoded", new File(s"${hstore(ctx)}/$name").length().toDouble)
          } finally hlock.writeLock().unlock()
          unexported = Vector.empty
        }
      case "import" =>
        hlock.readLock().lock()
        try {
          val df = t.span("flow.HFiles.importCells")(HFiles.importCells(spark, hstore(ctx)))
          val (n, s) = t.span("flow.HFiles.importCells.action")(checksum(df))
          t.add("codec.cells_decoded", n)
          Util.check(n == hstoreCount && s == hstoreSum,
            s"import: $n cells (checksum $s), expected $hstoreCount ($hstoreSum)")
        } finally hlock.readLock().unlock()
      case "compact" =>
        hlock.writeLock().lock()
        try {
          val sizes = hfiles(ctx).map(f => f.getName -> f.length()).toMap
          val selected = t.span("flow.Compactions.minorCompact")(Compactions.minorCompact(spark, hstore(ctx), compactKnobs))
          val small = sizes.count(_._2 < compactKnobs.minCompactSize)
          Util.check(small < 2 || selected.size >= 2,
            s"compact: ${selected.size} of $small flushed files selected")
          Util.check(hfiles(ctx).size == sizes.size - selected.size + (if (selected.isEmpty) 0 else 1),
            s"compact: ${hfiles(ctx).size} files live after merging ${selected.size} of ${sizes.size}")
          t.add("flow.bytes_rewritten", selected.map(sizes).sum.toDouble)
        } finally hlock.writeLock().unlock()
      case "split" =>
        hlock.readLock().lock()
        try {
          splitCount += 1
          val bottom = s"${storeDir(ctx)}/split_${splitCount}_a"
          val top = s"${storeDir(ctx)}/split_${splitCount}_b"
          val mid = t.span("admin.GAdmin.splitRegionStore")(GAdmin.splitRegionStore(spark, hstore(ctx), bottom, top))
          Util.check(mid.nonEmpty, "split: no split point")
          val halves = Seq(bottom, top).map(d => HFiles.importCells(spark, d)
            .agg(count(lit(1)), min(col("row")), max(col("row"))).head())
          Util.check(halves.map(_.getLong(0)).sum == hstoreCount,
            s"split: daughters hold ${halves.map(_.getLong(0)).sum} cells, parent $hstoreCount")
          Util.check(halves(0).getString(2) < mid.get && halves(1).getString(1) >= mid.get,
            s"split: daughters straddle the split row ${mid.get}")
          Seq(bottom, top).foreach(d => Util.deleteRecursively(new File(d)))
        } finally hlock.readLock().unlock()
      case "replicate" =>
        if (unreplicated.nonEmpty) {
          val batch = unreplicated
          val wal = spark.createDataFrame(batch.flatMap { case (_, cs, s, _) =>
            cs.map(c => Row(c.row, c.family, c.qualifier, c.ts, c.typ, c.value, s)) }.asJava,
            cellSchema.add(StructField("seq", LongType)))
          tableGen += 1
          val peer = s"peer_$tableGen"
          val applied = t.span("stream.WalStream.applyBatch")(WalStream.applyBatch(wal, Some("seq")))
          t.span("write.BucketedStore.write")(
            BucketedStore.write(applied, peer, s"${storeDir(ctx)}/$peer", Buckets, bloomNdv = 1000L))
          val src = batch.map(b => BucketedStore.read(spark, b._1)).reduce(_ unionByName _)
          val verdict = t.collect("stream.Jobs.verifyReplication",
            t.span("stream.Jobs.verifyReplication")(Jobs.verifyReplication(src, BucketedStore.read(spark, peer))))
          Util.check(verdict.forall(_.getString(0) == "good") && verdict.nonEmpty,
            s"replicate: ${verdict.map(r => s"${r.get(0)}=${r.get(1)}").mkString(",")}")
          val end = System.nanoTime()
          t.add("stream.cells", batch.map(_._2.size).sum)
          t.add("stream.batches", batch.size)
          t.add("stream.lag_ms", batch.map(b => (end - b._4) / 1e6).sum)
          unreplicated = Vector.empty
        }
      case "fold" =>
        val m = manifest.get()
        if (m.deltas.nonEmpty) {
          tableGen += 1
          val base = s"base_g$tableGen"
          val folded = t.span("flow.Jobs.majorCompact")(Jobs.majorCompact(view(spark, m)))
          t.span("write.BucketedStore.write")(
            BucketedStore.write(folded, base, s"${storeDir(ctx)}/$base", Buckets, bloomNdv = Data.Orders))
          manifest.set(Manifest(base, Vector.empty, m.model))
        }
    }
  }

  override def finish(ctx: Ctx): Map[String, Double] = {
    maint(ctx, "fold")
    val m = manifest.get()
    val path = new File(s"${storeDir(ctx)}/${m.base}")
    val user = BucketedStore.read(ctx.spark, m.base).agg(sum(length(col("row")) + length(col("family")) +
      length(col("qualifier")) + coalesce(length(col("value")), lit(0)) + 8)).head().getLong(0)
    Map("stored_bytes_per_user_byte" -> Util.dirBytes(path).toDouble / user,
      "store_files_live" -> hfiles(ctx).size.toDouble,
      "model_load_ms" -> modelLoadMs)
  }
}
