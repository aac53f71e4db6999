package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM half: runs one workload as a closed loop with one
  * client and writes every operation's timing, the traced layer figures
  * and the first result of every correctness case to the work dir.
  * `perfbench/run.py` generates the inputs, launches this, computes the
  * DuckDB oracles meanwhile, runs the gate and prints the metrics.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * data, work, cores, setup-start-ms (epoch ms at which set-up began),
  * and for chassis: files, ingest-bytes, survivor-bytes.
  */
object Main {

  /** One issued operation. Times are epoch ms (for attributing Spark jobs)
    * plus the nanoTime latency.
    */
  final case class OpRec(pass: Int, name: String, kind: String, check: Option[String],
      startMs: Long, endMs: Long, latNs: Long, error: Option[String])

  /** One pass: its summed operation latencies and what it left in the
    * state dirs (files and bytes created, bytes at the end, live
    * generations, counted file-system calls).
    */
  final case class PassRec(pass: Int, runNs: Long, bytesWritten: Long, filesCreated: Long,
      stateBytes: Long, liveGens: Int, fsWrites: Long, fsLists: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val setupStartMs = a("setup-start-ms").toLong
    val cores = a("cores").toInt
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()

    // the correctness cases go out before Spark starts: run.py computes
    // the oracles while the session comes up, and the window waits for them
    val checks = Workloads.checks(workload)
    val out = Paths.get(work)
    val resDir = out.resolve("results")
    val oracleSql = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      checks.values.exists(_.oracle == k) }
    val cases = checks.map { case (k, c) => k -> Json.obj(
      "oracle" -> c.oracle, "survivors" -> c.survivors, "arg" -> c.arg,
      "result" -> resDir.resolve(k).toString) }
    Files.write(out.resolve("checks.tmp"),
      Json.render(Json.obj("checks" -> cases, "oracle_sql" -> oracleSql)).getBytes(UTF_8))
    Files.move(out.resolve("checks.tmp"), out.resolve("checks.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    if (trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = graft.GraftSession.create("graftbench", cores)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer(t0Ns)

    val w: Workload = workload match {
      case "chassis" => new Workloads.Chassis(spark, data, work, a("files").toInt,
        a("ingest-bytes").toLong, a("survivor-bytes").toLong)
      case "stateless" => new Workloads.Stateless(spark, data, work)
    }

    warmUp(spark)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val first = mutable.Map.empty[String, (Result, Seq[String])]
    val wrong = mutable.Map.empty[String, String]

    tracer.enabled = trace
    rec.full = trace

    def runPass(p: Int): Unit = {
      resetMemos()
      val seen = mutable.Map.empty[String, Long]
      var written, created = 0L
      def scan(): Unit = w.stateDirs.foreach { d =>
        listFiles(Paths.get(d)).foreach { case (f, n) =>
          if (!seen.contains(f)) { written += n; created += 1 }
          seen(f) = n
        }
      }
      val fsW0 = CountingLocalFs.writes.get
      val fsL0 = CountingLocalFs.lists.get
      var runNs = 0L
      val results = mutable.ArrayBuffer.empty[(String, Result)]
      for (op <- w.pass(p)) {
        tracer.op = s"p$p.${op.name}"
        val s = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val (res, err) =
          try (tracer(s"op.${op.kind}")(op.body(tracer)), None)
          catch {
            case NonFatal(e) => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        val lat = System.nanoTime() - n0
        runNs += lat
        ops += OpRec(p, op.name, op.kind, op.check, s, System.currentTimeMillis(), lat, err)
        System.err.println(
          f"perfbench: pass $p ${op.name} ${lat / 1e9}%.3f s${err.fold("")(" " + _)}")
        for (k <- op.check; r <- res) results += k -> r
        scan()
      }
      // correctness bookkeeping stays outside the operations' timing
      for ((k, r) <- results) {
        val canon = canonical(r)
        first.get(k) match {
          case None => first(k) = (r, canon)
          case Some((_, c)) if c != canon =>
            wrong.getOrElseUpdate(k, s"the pass $p result differs from an earlier pass's")
          case _ =>
        }
      }
      val stateBytes = seen.values.sum
      val live = if (trace) w.liveGenerations(spark) else 0
      passes += PassRec(p, runNs, written, created, stateBytes, live,
        CountingLocalFs.writes.get - fsW0, CountingLocalFs.lists.get - fsL0)
      w.afterPass()
    }

    val ready = out.resolve("oracle.done")
    val giveUp = System.nanoTime() + 120e9.toLong
    while (!Files.exists(ready) && System.nanoTime() < giveUp) Thread.sleep(20)
    val setupS = (System.currentTimeMillis() - setupStartMs) / 1e3
    System.err.println(f"perfbench: set-up took $setupS%.1f s")
    // the window: passes until --seconds have elapsed, at least one
    val start = System.nanoTime()
    var p = 1
    while (p == 1 || (System.nanoTime() - start) / 1e9 < seconds) { runPass(p); p += 1 }
    org.apache.spark.BenchBridge.drain(spark.sparkContext)

    // each case's first result goes to parquet for the gate, four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      first.toSeq.map { case (k, (r, _)) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
            .coalesce(1).write.parquet(resDir.resolve(k).toString)
        })
      }.foreach(_.get())
    } finally pool.shutdown()

    val layers =
      if (trace) Layers.compute(ops.toSeq, passes.toSeq, rec, tracer, t0Ms, w) else Map.empty
    val seen = checks.keys.map(k => k -> Json.obj(
      "seen" -> first.contains(k), "wrong" -> wrong.getOrElse(k, ""))).toMap
    val doc = Json.obj(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupS,
      "rss_peak_mb" -> vmHwmMb(),
      "ops" -> ops.toSeq.map(o => Json.obj("pass" -> o.pass, "name" -> o.name,
        "kind" -> o.kind, "check" -> o.check.getOrElse(""), "lat_s" -> o.latNs / 1e9,
        "error" -> o.error.getOrElse(""))),
      "passes" -> passes.toSeq.map(r => Json.obj("pass" -> r.pass, "run_s" -> r.runNs / 1e9,
        "bytes_written" -> r.bytesWritten, "files_created" -> r.filesCreated,
        "state_bytes" -> r.stateBytes)),
      "batches" -> rec.batches.toSeq.flatMap(b =>
        ops.find(o => b.startMs >= o.startMs && b.startMs <= o.endMs).map(o => Json.obj(
          "pass" -> o.pass, "op" -> o.name, "trigger_s" -> b.triggerMs / 1e3,
          "add_batch_s" -> b.addBatchMs / 1e3, "rows" -> b.rows))),
      "ingest_bytes" -> w.ingestBytes, "survivor_bytes" -> w.survivorBytes,
      "checks" -> seen, "layers" -> layers)
    Files.write(out.resolve("jvm.json"), Json.render(doc).getBytes(UTF_8))
    if (trace) {
      val lines = tracer.spans.map(s => Json.render(Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_s" -> s.startNs / 1e9,
        "end_s" -> s.endNs / 1e9)))
      Files.write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Spark's own first-use costs (job submission, codegen, shuffle, join,
    * window) on a throwaway in-memory table, so that they land in set-up
    * rather than on whichever operation runs first. Calls no graft code.
    */
  def warmUp(spark: SparkSession): Unit = {
    val t = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k", "rand(1) AS x")
    t.groupBy("k").agg(org.apache.spark.sql.functions.max("id").as("m"))
      .join(t, "k").selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY x) AS r")
      .where("r <= 2").collect()
  }

  /** The memos `graft.Bench` clears before each pass, so that every pass
    * pays the same first-use cost.
    */
  def resetMemos(): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.engine.Bucketing.clearCaches()
    graft.ops.TextAnalysis.clearCaches()
    graft.ops.Similarity.clearCaches()
    graft.ops.Quantization.clearCaches()
    graft.ops.IncrementalIvfPq.clearCaches()
  }

  /** Sorted rendering of a result, doubles to 10 significant digits, so
    * two passes' results compare equal exactly when their values do.
    */
  def canonical(r: Result): Seq[String] = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => String.format("%.10g", Double.box(d))
      case f: Float => String.format("%.7g", Double.box(f.toDouble))
      case row: Row => row.toSeq.map(cell).mkString("{", ",", "}")
      case s: scala.collection.Map[_, _] =>
        s.toSeq.map { case (k, x) => s"${cell(k)}:${cell(x)}" }.sorted.mkString("<", ",", ">")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    r.rows.map(row => row.toSeq.map(cell).mkString("|")).sorted.toSeq
  }

  def listFiles(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val b = Seq.newBuilder[(String, Long)]
        s.filter(Files.isRegularFile(_)).forEach(f => b += f.toString -> Files.size(f))
        b.result()
      } finally s.close()
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}

/** JSON for the files run.py reads, through the Jackson Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
