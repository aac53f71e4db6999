package graftbench

import scala.collection.mutable

import graftbench.Main.{OpRec, PassRec}

/** The per-layer figures of a traced run. Counts are means per
  * operation (or per pass), so they repeat exactly on one seed; times are
  * medians. A metric whose layer the workload never calls reads 0.
  */
object Layers {
  val kinds = Seq("query", "merge", "delete", "compact", "serve", "drain", "operator", "kernel")
  val stateOps = Seq("merge", "delete", "serve", "compact")
  val operators = Seq("exact_dedup", "minhash_pairs", "simhash_pairs", "dup_clusters",
    "quality_scores", "lang_id", "token_freq", "exact_substring", "bpe_tokens")
  val kernels = Seq("simhash64", "minhash_sig", "rolling_min_hash", "shingles", "ws_tokens",
    "bpe_stats", "lexicon_counts", "nfc_normalize", "html_entities")
  val selfLayers = Seq("operators", "plans", "spark", "pipeline", "ops", "exprs",
    "genstate", "streaming")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of [s, e] intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (open && s0 <= curE) curE = math.max(curE, e0)
      else {
        if (open) total += curE - curS
        curS = s0; curE = e0; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  def compute(ops: Seq[OpRec], passes: Seq[PassRec], rec: Recorder, tracer: Tracer,
      t0Ms: Long, w: Workload): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val nPass = math.max(1, passes.size).toDouble
    val jobs = rec.jobs.toSeq.sortBy(_.submitMs)
    def jobsIn(s: Long, e: Long) = jobs.filter(j => j.submitMs >= s && j.submitMs <= e)
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(rec.stages.get)

    for (k <- kinds) {
      val os = ops.filter(_.kind == k)
      val per = os.map { o =>
        val js = jobsIn(o.startMs, o.endMs)
        val st = stagesOf(js)
        val busy = unionMs(js.map(j => (j.submitMs, if (j.endMs < 0) o.endMs else j.endMs)),
          o.startMs, o.endMs) / 1e3
        (js.size.toDouble, st.size.toDouble, st.map(_.tasks).sum.toDouble, busy,
          o.latNs / 1e9 - busy)
      }
      m(s"spark.$k.jobs") = mean(per.map(_._1))
      m(s"spark.$k.stages") = mean(per.map(_._2))
      m(s"spark.$k.tasks") = mean(per.map(_._3))
      m(s"spark.$k.job_busy_s") = median(per.map(_._4))
      m(s"spark.$k.driver_gap_s") = median(per.map(_._5))
    }

    // span epoch window: the tracer's clock started at t0Ms
    val spans = tracer.spans.toSeq
    def window(s: Span) = (t0Ms + s.startNs / 1000000L, t0Ms + s.endNs / 1000000L)
    def secs(s: Span) = (s.endNs - s.startNs) / 1e9
    def named(n: String) = spans.filter(_.name == n)
    val batches = rec.batches.toSeq.filter(b =>
      ops.exists(o => b.startMs >= o.startMs && b.startMs <= o.endMs))

    for (o <- stateOps) {
      val ss = named(s"genstate.dedup.$o")
      val bs = if (o == "merge") batches else Nil
      val jobCounts = ss.map { s => val (a, b) = window(s); jobsIn(a, b).size.toDouble } ++
        bs.map(b => jobsIn(b.startMs, b.startMs + b.triggerMs).size.toDouble)
      m(s"genstate.dedup.$o.jobs") = mean(jobCounts)
      m(s"genstate.dedup.${o}_s") = median(ss.map(secs) ++ bs.map(_.addBatchMs / 1e3))
    }
    m("genstate.files_created") = passes.map(_.filesCreated).sum / nPass
    m("genstate.state_bytes") = passes.map(_.stateBytes).sum / nPass
    m("genstate.live_generations") = passes.map(_.liveGens.toDouble).sum / nPass
    m("genstate.fs_write_ops") = passes.map(_.fsWrites).sum / nPass
    m("genstate.fs_list_ops") = passes.map(_.fsLists).sum / nPass
    m("genstate.write_amp") =
      if (w.ingestBytes > 0) passes.map(_.bytesWritten).sum / nPass / w.ingestBytes else 0.0
    m("genstate.space_amp") =
      if (w.survivorBytes > 0) passes.map(_.stateBytes).sum / nPass / w.survivorBytes else 0.0

    m("operators.build_s") = median(named("operators.build").map(secs))
    m("plans.plan_s") = median(named("plans.plan").map(secs))
    m("spark.exec_s") = median(named("spark.exec").map(secs))
    m("pipeline.ooh_s") = median(named("pipeline.ooh").map(secs))

    val allStages = stagesOf(ops.flatMap(o => jobsIn(o.startMs, o.endMs)))
    def perPass(f: StageRec => Double) = allStages.map(f).sum / nPass
    m("sources.input_bytes") = perPass(_.inputBytes.toDouble)
    m("sources.records_read") = perPass(_.recordsRead.toDouble)
    for (k <- kernels) m(s"exprs.${k}_s") = median(named(s"exprs.$k").map(secs))
    m("spark.task_cpu_s") = perPass(_.cpuNs / 1e9)
    m("spark.task_gc_s") = perPass(_.gcMs / 1e3)
    for (o <- operators) m(s"ops.${o}_s") = median(named(s"ops.$o").map(secs))
    m("spark.shuffle_write_bytes") = perPass(_.shuffleWriteBytes.toDouble)
    m("spark.spill_bytes") = perPass(_.spillBytes.toDouble)
    m("spark.task_failures") = perPass(_.taskFailures.toDouble)

    m("streaming.batches") = batches.size / nPass
    m("streaming.add_batch_s") = median(batches.map(_.addBatchMs / 1e3))
    m("streaming.overhead_s") = median(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3))
    m("streaming.input_rows_per_s") = median(batches.map(_.rowsPerS))

    // self time per layer and per pass, and the share of operation time
    // spent inside each group of layers
    val self = tracer.selfSeconds
    for (l <- selfLayers)
      m(s"self.${l}_s") = self.filter(_._1.startsWith(s"$l.")).values.sum / nPass
    val opTime = ops.map(_.latNs / 1e9).sum
    def total(prefixes: String*) =
      spans.filter(s => s.name.startsWith("op.") == false &&
        prefixes.exists(p => s.name.startsWith(p)) &&
        !spans.exists(q => q.id == s.parent && prefixes.exists(p => q.name.startsWith(p))))
        .map(secs).sum
    def share(x: Double) = if (opTime > 0) x / opTime else 0.0
    m("share.genstate") = share(total("genstate.") +
      batches.map(_.addBatchMs / 1e3).sum)
    m("share.ops_exprs") = share(total("ops.", "exprs."))
    m("share.operators") = share(total("operators.", "pipeline.", "plans."))
    m.toMap
  }
}
