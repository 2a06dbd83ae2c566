package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns a run's records into the report: end-to-end metrics with
  * sample counts, failures by op kind, and (traced runs) the per-layer
  * metrics, self time per layer and the tracing overhead. */
object Report {

  /** Linear-interpolated percentile of a sorted sample. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p / 100.0 * (sorted.size - 1)
    val lo = sorted(pos.toInt)
    val hi = sorted(math.min(sorted.size - 1, pos.toInt + 1))
    lo + (hi - lo) * (pos - pos.toInt)
  }

  /** The requested percentile if at least ten samples lie beyond it,
    * else the next lower of 90/75 that has them; None when not even p75
    * has (fewer than 40 samples): the median is no tail. */
  def tail(sorted: IndexedSeq[Double], p: Double): Option[(Double, Int)] =
    Seq(p, 90.0, 75.0).filter(_ <= p)
      .find(q => sorted.size * (1 - q / 100.0) >= 10)
      .map(q => (pct(sorted, q), q.toInt))

  private def metric(value: Double, unit: String, n: Int, extra: (String, Any)*): Map[String, Any] =
    Map[String, Any]("value" -> value, "unit" -> unit, "n" -> n) ++ extra

  /** Closed-loop throughput: per client, ops completed over the time to
    * its last completion, summed over clients — the clock stops when an
    * op ends, so an op cut by the deadline adds no truncation error. */
  def phaseThroughput(done: Seq[Done]): Double =
    if (done.isEmpty) 0.0
    else {
      val t0 = done.map(_.start).min
      done.groupBy(_.client).values.map(ds => ds.size / ((ds.map(_.end).max - t0) / 1e9)).sum
    }

  /** Throughput over phases run back to back: total ops over the summed
    * per-phase time. */
  def throughput(phases: Seq[Seq[Done]]): Double = {
    val rates = phases.filter(_.nonEmpty).map(p => (p.size.toDouble, p.size / phaseThroughput(p)))
    if (rates.isEmpty) 0.0 else rates.map(_._1).sum / rates.map(_._2).sum
  }

  /** End-to-end metrics, and the tail metrics left out for want of
    * samples (name -> sample count). */
  def endToEnd(r: Main.LoopResult, warmupFailed: Int,
      setupTimes: Seq[Double], finalState: Map[String, Double],
      rssMb: Double): (Map[String, Map[String, Any]], Map[String, Int]) = {
    val done = r.done
    val m = mutable.LinkedHashMap[String, Map[String, Any]]()
    val noTail = mutable.LinkedHashMap[String, Int]()
    // the first set-up is the JVM's cold start; setup_s is the median of
    // the warm ones after it
    m("setup_cold_s") = metric(setupTimes.head, "s", 1)
    val warm = setupTimes.tail.sorted.toIndexedSeq
    if (warm.nonEmpty) m("setup_s") = metric(pct(warm, 50), "s", warm.size)
    m("ops_per_s") = metric(r.opsPerS, "1/s", done.size)
    val attempted = done.size + warmupFailed
    val failed = done.count(_.error.nonEmpty) + warmupFailed
    m("failed_ratio") = metric(failed.toDouble / math.max(1, attempted), "ratio", attempted)
    m("rss_peak_mb") = metric(rssMb, "MB", 1)
    val all = done.map(_.ms).sorted.toIndexedSeq
    if (all.nonEmpty) {
      m("op_ms_p50") = metric(pct(all, 50), "ms", all.size)
      tail(all, 95) match {
        case Some((v, p)) => m("op_ms_p95") = metric(v, "ms", all.size, "percentile" -> p)
        case None => noTail("op_ms_p95") = all.size
      }
    }
    val byGroup = done.filter(_.error.isEmpty).groupBy(_.group).map { case (g, ds) =>
      g -> ds.map(_.ms).sorted.toIndexedSeq }
    def p50(g: String): Unit = byGroup.get(g).foreach(s =>
      m(s"${g}_ms_p50") = metric(pct(s, 50), "ms", s.size))
    def p95(g: String): Unit = byGroup.get(g).foreach { s =>
      tail(s, 95) match {
        case Some((v, p)) => m(s"${g}_ms_p95") = metric(v, "ms", s.size, "percentile" -> p)
        case None => noTail(s"${g}_ms_p95") = s.size
      }
    }
    p50("get"); p95("get"); p50("scan"); p50("agg"); p50("write"); p95("write")
    p50("maint"); p50("job"); p50("search"); p95("search")
    finalState.get("search_recall_at_10").foreach(v =>
      m("search_recall_at_10") = metric(v, "ratio", finalState("search_queries").toInt))
    finalState.get("stored_bytes_per_user_byte").foreach(v =>
      m("stored_bytes_per_user_byte") = metric(v, "ratio", 1))
    (m.toMap, noTail.toMap)
  }

  def build(wl: Workload, seed: Long, digest: String, setupTimes: Seq[Double],
      warmupFailures: Seq[String], untraced: Main.LoopResult,
      traced: Option[Main.Traced],
      finalState: Map[String, Double], rssMb: Double, cacheMem: Double,
      cacheDisk: Double, cpus: Int): String = {
    val done = untraced.done
    val (e2e, noTail) = endToEnd(untraced, warmupFailures.size, setupTimes, finalState, rssMb)
    val failures = (done.flatMap(d => d.error.map(e => (d.kind, e))) ++
      warmupFailures.map(w => ("warmup", w)))
      .groupBy(_._1).map { case (k, es) => k -> Map("count" -> es.size, "first" -> es.head._2) }
    val kinds = done.groupBy(_.kind).map { case (k, ds) =>
      val s = ds.map(_.ms).sorted.toIndexedSeq
      k -> Map("n" -> ds.size, "p50_ms" -> pct(s, 50))
    }
    val base = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "clients" -> wl.clients, "cpus" -> cpus,
      "ops_digest" -> digest, "elapsed_s" -> untraced.elapsedS,
      "attempted" -> (done.size + warmupFailures.size),
      "failed" -> (done.count(_.error.nonEmpty) + warmupFailures.size),
      "setup_runs_s" -> setupTimes, "end_to_end" -> e2e,
      "tails_without_samples" -> noTail, "failures" -> failures,
      "kinds" -> kinds, "final_state" -> finalState)
    traced.foreach { tr =>
      val r = tr.loop
      val tracer = tr.tracer
      val (layers, selfMs, identity) = Layers.compute(tr, finalState, cacheMem, cacheDisk, cpus,
        untraced)
      base("per_layer") = layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      base("self_ms_per_op") = selfMs
      base("tracing_overhead") = Map(
        "untraced_ops_per_s" -> untraced.opsPerS,
        "traced_ops_per_s" -> r.opsPerS,
        "ratio" -> layers("trace.overhead_ratio")._1,
        "latency_ratio" -> layers("trace.overhead_latency_ratio")._1)
      base("traced_attempted") = r.done.size
      base("traced_failed") = r.done.count(_.error.nonEmpty)
      base("spans") = tracer.spans.size
      base("wall_identity") = identity
    }
    Json(base.toMap)
  }
}

/** The per-layer metrics of a traced run, named by graft module. */
object Layers {
  /** The metrics, self time per layer, and per op its wall, in-job and
    * out-of-job time. */
  def compute(tr: Main.Traced,
      finalState: Map[String, Double], cacheMem: Double, cacheDisk: Double,
      cpus: Int, untraced: Main.LoopResult)
      : (Map[String, (Double, String)], Map[String, Double], Seq[Map[String, Any]]) = {
    val r = tr.loop
    val tracer = tr.tracer
    val st = tr.spark
    val ops = r.done
    val n = math.max(1, ops.size).toDouble
    val spans = tracer.spans.asScala.toSeq
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, u: String): Unit =
      out(k) = (if (v.isNaN || v.isInfinite) 0.0 else v, u)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def durMs(s: Span): Double = (s.end - s.start) / 1e6
    def spanMs(pred: String => Boolean): Seq[Double] = spans.filter(s => s.parent != 0 && pred(s.name)).map(durMs)
    /** Per op that has such spans: summed duration. */
    def perOpMs(pred: String => Boolean): Double = mean(
      spans.filter(s => s.parent != 0 && pred(s.name)).groupBy(_.op).values.map(_.map(durMs).sum).toSeq)
    def opMs(pred: Done => Boolean): Double = mean(ops.filter(d => pred(d) && d.error.isEmpty).map(_.ms))
    def isCall(layer: String)(name: String) = name.startsWith(layer + ".") && !name.endsWith(".action")
    def isAction(layer: String)(name: String) = name.startsWith(layer + ".") && name.endsWith(".action")
    def c(name: String) = tracer.counter(name)
    def sumC(prefix: String, suffix: String) = {
      val names = spans.map(_.name).distinct.filter(x => x.startsWith(prefix) && x.endsWith(".action"))
        .map(_.stripSuffix(".action"))
      names.map(nm => c(s"$nm.$suffix")).sum
    }

    // Spark: jobs/stages/tasks per op, attributed through the op property
    // (jobs a graft-internal thread started fall back to the op whose
    // window holds the job's start).
    val byId = ops.map(d => d.op -> d).toMap
    val jobs = st.jobs.values().asScala.toSeq.filter(_.end > 0)
    def holds(d: Done, j: SparkTrace.Job) = d.start / 1000000 <= j.start && j.start <= d.end / 1000000
    // a thread of a pool graft created keeps the op property of the op
    // that created it, so the property counts only inside that op's window
    def ownerOf(j: SparkTrace.Job): Option[Done] = byId.get(j.op).filter(holds(_, j)).orElse(
      ops.filter(holds(_, j)).sortBy(-_.start).headOption)
    val jobsByOp = jobs.flatMap(j => ownerOf(j).map(_.op -> j)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val stageOwner = jobsByOp.toSeq.flatMap { case (op, js) => js.flatMap(_.stages.map(_ -> op)) }.toMap
    val stageMs = stageOwner.keys.toSeq.flatMap(s => Option(st.stages.get(s)))
    def union(ivs: Seq[(Double, Double)]): Double = {
      var covered = 0.0; var curS = -1.0; var curE = -1.0
      ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered
    }
    def jobIvs(d: Done) = jobsByOp.getOrElse(d.op, Nil).map(j => (j.start.toDouble, j.end.toDouble))
    // in-job time: the union of the op's job intervals (listener clock)
    // inside its window; out-of-job time: the sampler's count of the
    // client thread's time outside a Spark wait
    val inJobMs = ops.map { d =>
      d.op -> union(jobIvs(d).map { case (s, e) => (math.max(s, d.start / 1e6), math.min(e, d.end / 1e6)) })
    }.toMap
    val outJobMs = ops.map(d => d.op -> tr.sampler.outOfJobMs(d.op).getOrElse(0.0)).toMap
    // Catalyst phases: by the query the harness named, else by the op
    // running when the listener heard of the query
    val phases = st.phases.asScala.toSeq.filter { case (op, at, _) =>
      byId.contains(op) || (op < 0 && ops.exists(d => d.start / 1000000 <= at && at <= d.end / 1000000 + 50)) }
    def phase(name: String) = phases.map(_._3.getOrElse(name, 0L)).sum / n
    val inJobTotal = inJobMs.values.sum
    put("spark.in_job_ms_per_op", inJobTotal / n, "ms")
    put("spark.out_of_job_ms_per_op", outJobMs.values.sum / n, "ms")
    put("spark.analysis_ms_per_op", phase("analysis"), "ms")
    put("spark.optimization_ms_per_op", phase("optimization"), "ms")
    put("spark.planning_ms_per_op", phase("planning"), "ms")
    put("spark.jobs_per_op", jobsByOp.values.map(_.size).sum / n, "count")
    put("spark.stages_per_op", stageMs.size / n, "count")
    put("spark.tasks_per_op", stageMs.map(_.tasks).sum / n, "count")
    put("spark.shuffle_write_bytes_per_op", stageMs.map(_.shuffleWrite).sum / n, "B")
    put("spark.shuffle_read_bytes_per_op", stageMs.map(_.shuffleRead).sum / n, "B")
    put("spark.executor_run_ms_per_op", stageMs.map(_.runMs).sum / n, "ms")
    put("spark.executor_cpu_ms_per_op", stageMs.map(_.cpuNs).sum / 1e6 / n, "ms")
    put("spark.core_busy_ratio", stageMs.map(_.runMs).sum / (r.elapsedS * 1000.0 * cpus), "ratio")
    put("spark.task_wait_ms_per_op", stageOwner.keys.toSeq
      .flatMap(s => Option(st.stageWaitMs.get(s))).map(_.get).sum / n, "ms")
    put("spark.gc_ms_per_op", stageMs.map(_.gcMs).sum / n, "ms")
    put("spark.spill_bytes_per_op", stageMs.map(_.spill).sum / n, "B")
    put("spark.task_failures", st.taskFailures.get.toDouble, "count")
    // per op, |in-job + out-of-job - wall| / wall: the two parts come
    // from different clocks (listener events, client-thread samples)
    val err = ops.map(d => math.abs(inJobMs(d.op) + outJobMs(d.op) - d.ms) / math.max(d.ms, 1e-9))
    put("trace.wall_identity_max_err", if (err.isEmpty) 0.0 else err.max, "ratio")
    put("trace.wall_identity_ops_within_5pct", ratio(err.count(_ <= 0.05).toDouble, err.size), "ratio")
    val identity = ops.sortBy(_.op).map(d => Map("op" -> d.op, "kind" -> d.kind, "wall_ms" -> d.ms,
      "in_job_ms" -> inJobMs(d.op), "out_of_job_ms" -> outJobMs(d.op)))
    put("trace.overhead_ratio", ratio(untraced.opsPerS, r.opsPerS), "ratio")
    // per op kind instead: traced latency over the untraced latency of the
    // same kinds, so that a difference in the phases' op mix does not read
    // as overhead
    val untracedMs = untraced.done.filter(_.error.isEmpty).groupBy(_.kind)
      .map { case (k, ds) => k -> mean(ds.map(_.ms)) }
    val both = ops.filter(d => d.error.isEmpty && untracedMs.contains(d.kind))
    put("trace.overhead_latency_ratio", ratio(both.map(_.ms).sum, both.map(d => untracedMs(d.kind)).sum), "ratio")

    // read / filter / agg
    put("read.build_ms", perOpMs(isCall("read")), "ms")
    put("read.exec_ms", perOpMs(isAction("read")), "ms")
    put("read.rows_examined_per_result", ratio(sumC("read.", "leaf_rows"), sumC("read.", "result_rows")), "ratio")
    put("filter.parse_us", mean(spanMs(_ == "filter.parse")) * 1000, "us")
    put("filter.compile_us", mean(spanMs(_ == "filter.compile")) * 1000, "us")
    put("filter.selectivity", ratio(c("read.scanFiltered.result_rows"), c("read.scanFiltered.leaf_rows")), "ratio")
    put("agg.build_ms", perOpMs(isCall("agg")), "ms")
    put("agg.exec_ms", perOpMs(isAction("agg")), "ms")
    put("agg.rows_examined_per_result", ratio(c("agg.collect.leaf_rows"), c("agg.collect.result_rows")), "ratio")

    // write
    val commits = c("write.commits")
    put("write.apply_build_ms", perOpMs(n => n.startsWith("write.Mutations.")), "ms")
    put("write.store_write_ms", mean(spanMs(_ == "write.BucketedStore.write")), "ms")
    put("write.cells_per_s", ratio(c("write.cells"), ops.filter(_.group == "write").map(_.ms).sum / 1000), "1/s")
    put("write.bytes_written_per_user_byte", ratio(c("write.bytes_written"), c("write.user_bytes")), "ratio")
    put("write.files_per_commit", ratio(c("write.files"), commits), "count")
    put("write.durable_get_ms", opMs(_.kind == "durable_get"), "ms")
    val getStages = ops.filter(_.kind == "durable_get").flatMap(d => jobsByOp.getOrElse(d.op, Nil))
      .flatMap(_.stages).flatMap(s => Option(st.stages.get(s)))
    put("write.bytes_read_per_get", ratio(getStages.map(_.bytesRead).sum, ops.count(_.kind == "durable_get")), "B")
    put("flow.hfile_get_ms", opMs(_.kind == "hfile_get"), "ms")

    // flow / codec / admin / stream
    put("flow.export_ms", opMs(_.kind == "export"), "ms")
    put("flow.import_ms", opMs(_.kind == "import"), "ms")
    put("flow.compact_ms", opMs(_.kind == "compact"), "ms")
    put("flow.bytes_rewritten_per_compaction", ratio(c("flow.bytes_rewritten"), ops.count(_.kind == "compact")), "B")
    put("flow.store_files_live", finalState.getOrElse("store_files_live", 0.0), "count")
    val maint = ops.count(_.group == "maint").toDouble
    put("flow.fs_read_ops_per_op", ratio(c("flow.fs_read_ops"), maint), "count")
    put("flow.fs_write_ops_per_op", ratio(c("flow.fs_write_ops"), maint), "count")
    put("flow.fs_bytes_read_per_op", ratio(c("flow.fs_bytes_read"), maint), "B")
    put("codec.encode_cells_per_s", ratio(c("codec.cells_encoded"), spanMs(_ == "flow.HFiles.export").sum / 1000), "1/s")
    put("codec.decode_cells_per_s", ratio(c("codec.cells_decoded"), spanMs(_ == "flow.HFiles.importCells.action").sum / 1000), "1/s")
    put("codec.bytes_per_cell", ratio(c("codec.bytes_encoded"), c("codec.cells_encoded")), "B")
    put("admin.split_ms", opMs(_.kind == "split"), "ms")
    put("stream.replicate_ms", opMs(_.kind == "replicate"), "ms")
    put("stream.cells_per_s", ratio(c("stream.cells"), ops.filter(_.kind == "replicate").map(_.ms).sum / 1000), "1/s")
    put("stream.visible_lag_ms", ratio(c("stream.lag_ms"), c("stream.batches")), "ms")

    // ext
    val dedupOps = ops.filter(d => d.kind.startsWith("dedup") && d.error.isEmpty)
    val annOps = ops.filter(d => d.kind.startsWith("ann") && d.error.isEmpty)
    val textOps = ops.filter(d => d.kind.startsWith("text") && d.error.isEmpty)
    put("ext.dedup_ms", mean(dedupOps.map(_.ms)), "ms")
    put("ext.dedup_docs_per_s", ratio(c("ext.dedup_docs"), dedupOps.map(_.ms).sum / 1000), "1/s")
    put("ext.dedup_candidates_per_pair", ratio(sumC("ext.Dedup", "join_rows"), sumC("ext.Dedup", "result_rows")), "ratio")
    put("ext.ann_ms", mean(annOps.map(_.ms)), "ms")
    put("ext.ann_rows_scanned_per_query", ratio(sumC("ext.Similarity", "join_rows"), c("ext.ann_queries")), "count")
    put("ext.text_ms", mean(textOps.map(_.ms)), "ms")
    put("ext.text_docs_per_s", ratio(c("ext.text_docs"), textOps.map(_.ms).sum / 1000), "1/s")

    // model: the cached stores and indexes set-up leaves behind
    put("model.load_ms", finalState.getOrElse("model_load_ms", 0.0), "ms")
    put("model.cache_mem_bytes", cacheMem, "B")
    put("model.cache_disk_bytes", cacheDisk, "B")

    // self time per layer: span time minus the part its children cover
    val children = spans.groupBy(_.parent)
    val self = spans.groupBy(s => s.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => durMs(s) - children.getOrElse(s.id, Nil).map(durMs).sum).sum / n
    }
    (out.toMap, self, identity)
  }
}

/** A minimal JSON writer for the report (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case ch if ch < ' ' => b.append(Util.fmt("\\u%04x", ch.toInt))
      case ch => b.append(ch)
    }
    b.append('"').toString
  }
}
