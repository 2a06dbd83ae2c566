package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One finished op of the timed loop. */
final case class Done(op: Long, client: Int, kind: String, group: String,
    start: Long, end: Long, error: Option[String]) {
  def ms: Double = (end - start) / 1e6
}

/** The benchmark harness: one JVM, one local Spark session sized to the
  * machine, a closed loop of seeded ops per client, every result checked.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <dir> --work <dir> --out <report.json>
  *   Main --prepare 1 --data <dir> --work <dir>
  *
  * Writes the full report (every end-to-end metric with its sample
  * count, failures by op kind, and with --trace 1 every per-layer
  * metric) as JSON to --out. With --prepare it only writes the fixture
  * tables and every workload's reference models.
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "serve_read" -> (() => new ServeRead),
    "ingest_maintain" -> (() => new IngestMaintain),
    "llm_pipeline" -> (() => new LlmPipeline))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val dataRoot = arg("data")
    val workDir = arg("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = System.nanoTime()
    def log(msg: String): Unit = System.err.println(Util.fmt("perfbench %7.2fs %s", (System.nanoTime() - jvmStart) / 1e9, msg))

    Util.deleteRecursively(new File(workDir))
    new File(workDir).mkdirs()
    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.log.level", "ERROR")
      .getOrCreate()

    // Fixture tables and the reference models: the benchmark's inputs
    // and checker, prepared before any timing starts and kept in the
    // checkout, since they depend only on the fixed data seed.
    val dataDir = s"$dataRoot/sf0.01"
    def models(name: String): Workload = {
      val modelFile = new File(s"$dataRoot/models-$name-v${Data.Version}.bin")
      Util.readObject[Workload](modelFile).filter(_ => new File(dataDir).isDirectory).getOrElse {
        val w = workloads(name)()
        val spark = session()
        Data.ensure(spark, dataDir)
        w.prepareModels(spark, dataDir)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        Util.writeObject(modelFile, w)
        w
      }
    }
    if (args.contains("prepare")) {
      workloads.keys.toSeq.sorted.foreach(models)
      log("inputs and models ready")
      return
    }

    val name = arg("workload")
    require(workloads.contains(name), s"unknown workload $name")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val wl = models(name)
    log("inputs and models ready")

    val opLists = (0 until wl.clients).map(c => wl.ops(c, seed))
    val digest = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      opLists.foreach(_.foreach(o => md.update((o.describe + "\n").getBytes("UTF-8"))))
      md.digest().map("%02x".format(_)).mkString
    }

    // Set-up, repeated on a fresh session each time: session start,
    // fixture load through graft, store building, and warmup ops. The
    // first is the JVM's cold start (class loading, JIT) and is reported
    // apart; setup_s is the median of the warm ones after it. Traced runs
    // set up once.
    val setups = if (traced) 1 else 1 + WarmSetups
    var spark: SparkSession = null
    val warmupFailures = mutable.Buffer[String]()
    val noTrace = new Tracer(false)
    val setupTimes = (1 to setups).map { rep =>
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      Util.deleteRecursively(new File(s"$workDir/store"))
      val t0 = System.nanoTime()
      spark = session()
      val ctx = new Ctx(spark, dataDir, s"$workDir/store", noTrace)
      wl.setup(ctx)
      wl.warmup.foreach { o =>
        try wl.run(ctx, o)
        catch { case e: Throwable => warmupFailures += s"${o.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (rep < setups) spark.stop()
      log(Util.fmt("set-up %d took %.2fs", rep, t))
      t
    }

    val timed = new Ctx(spark, dataDir, s"$workDir/store", noTrace)
    val (untraced, tracedRun) =
      if (!traced) (loop(wl, timed, opLists, seconds, 0, fullCycle = true), None)
      else {
        // untraced, traced, untraced: the tracing overhead compares the
        // traced phase with the two around it, cancelling the JVM's
        // warmup drift
        val st = new SparkTrace(spark)
        st.register()
        val sampler = new WaitSampler(spark.sparkContext)
        sampler.start()
        val tracer = new Tracer(true, Some(st), Some(sampler))
        val tctx = new Ctx(spark, dataDir, s"$workDir/store", tracer)
        val u1 = loop(wl, timed, opLists, seconds / 2, 0)
        val t = try loop(wl, tctx, opLists, seconds, u1.next, fullCycle = true) finally sampler.finish()
        val u2 = loop(wl, timed, opLists, seconds / 2, t.next)
        (u1 ++ u2, Some(Traced(t, tracer, st, sampler)))
      }
    log("timed loop done")
    val finalState = wl.finish(timed)
    val rssMb = peakRssMb()
    val storage = spark.sparkContext.getRDDStorageInfo
    val cacheMem = storage.map(_.memSize).sum.toDouble
    val cacheDisk = storage.map(_.diskSize).sum.toDouble
    spark.stop()

    val report = Report.build(wl, seed, digest, setupTimes, warmupFailures.toSeq,
      untraced, tracedRun, finalState, rssMb, cacheMem, cacheDisk, cpus)
    val out = new PrintWriter(arg("out"), "UTF-8")
    try out.println(report) finally out.close()
    tracedRun.foreach { tr =>
      val tracer = tr.tracer
      val spans = new PrintWriter(arg("out").stripSuffix(".json") + ".spans.jsonl", "UTF-8")
      try tracer.spans.forEach(s => spans.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))))
      finally spans.close()
    }
    log("report written")
  }

  /** Timed set-ups after the cold first one. */
  val WarmSetups = 2

  /** The traced phase of a traced run and what recorded it. */
  final case class Traced(loop: LoopResult, tracer: Tracer, spark: SparkTrace, sampler: WaitSampler)

  final case class LoopResult(phases: Seq[Seq[Done]], elapsedS: Double, next: Int) {
    def done: Seq[Done] = phases.flatten
    def opsPerS: Double = Report.throughput(phases)
    def ++(o: LoopResult): LoopResult = LoopResult(phases ++ o.phases, elapsedS + o.elapsedS, o.next)
  }

  /** The closed loop: each client sends its next op only after the
    * previous one returned, until `seconds` have passed and, with
    * `fullCycle`, until every client has also run one whole cycle of its
    * op kinds, so every kind is measured in every run. `from` is the
    * position in each client's op list to start at. */
  def loop(wl: Workload, ctx: Ctx, lists: IndexedSeq[IndexedSeq[Op]],
      seconds: Double, from: Int, fullCycle: Boolean = false): LoopResult = {
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val positions = new java.util.concurrent.atomic.AtomicIntegerArray(lists.size)
    val short = new java.util.concurrent.atomic.AtomicInteger(if (fullCycle) lists.size else 0)
    val threads = lists.indices.map { c =>
      new Thread(() => {
        var i = from
        var counted = !fullCycle
        val sc = ctx.spark.sparkContext
        while (System.nanoTime() < deadline || short.get > 0) {
          if (!counted && i - from >= wl.cycle(c)) { counted = true; short.decrementAndGet() }
          val op = lists(c)(i % lists(c).size)
          val id = c * 1000000000L + i
          sc.setLocalProperty(SparkTrace.OpProperty, id.toString)
          if (ctx.trace.on) sc.addJobTag(WaitSampler.tag(id))
          val s = ctx.trace.now()
          val err =
            try { ctx.trace.op(id, op.kind)(wl.run(ctx, op)); None }
            catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
          if (ctx.trace.on) sc.removeJobTag(WaitSampler.tag(id))
          done.add(Done(id, c, op.kind, op.group, s, ctx.trace.now(), err))
          i += 1
        }
        positions.set(c, i)
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    LoopResult(Seq(done.asScala.toSeq), elapsed, (0 until lists.size).map(positions.get).max)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
