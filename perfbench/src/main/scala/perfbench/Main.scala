package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One engine call the benchmark times, forced to completion by `run` and
  * judged by `check` (None = correct, Some(reason) = wrong). */
final case class Op(name: String, layer: String, run: () => Any, check: Any => Option[String])

/** A workload: seeded inputs, the engine build over them, and the ops one
  * pass calls in order. */
trait Workload {
  /** Make inputs, build the engine-side frames and the references. Layer
    * steps go through `h.step` so the traced run can time them. */
  def setup(h: Harness): Unit
  def inputRows: Long
  def digest: String
  def ops: Seq[Op]
  /** Direct per-layer probes of the traced run: metric name -> a call
    * returning the metric's value in seconds. */
  def probes: Seq[(String, () => Double)]
}

/** Clock, job groups, cleanup between ops, and (traced run) the listeners
  * and spans around every call into the engine. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val storage = new StorageListener
  sc.addSparkListener(storage)
  val tracer = new Tracer
  private val groups = new GroupListener
  private val plans = new PlanListener
  if (traced) {
    sc.addSparkListener(groups)
    spark.listenerManager.register(plans)
  }

  private var parent = 0
  private var groupSeq = 0
  /** RDDs that belong to the workload's inputs and survive between ops. */
  private var keep = Set.empty[Int]

  /** Run `body` as a span of `kind`/`name` under the current span:
    * (result, seconds, the closed span). */
  def spanned[T](kind: String, name: String)(body: => T): (T, Double, Span) = {
    val outer = parent
    val t0 = nowMs
    val id = tracer.add(outer, kind, name, t0, t0)
    parent = id
    try {
      val r = body
      val s = tracer.close(id, nowMs)
      (r, s.dur / 1000.0, s)
    } finally parent = outer
  }

  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    val (r, s, _) = spanned(kind, name)(body)
    (r, s)
  }

  /** Seconds per layer step, one map per setup; a step name used twice
    * in one setup sums. */
  val stepTimes = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  def step[T](name: String)(body: => T): T = {
    val (r, s) = span("step", name)(body)
    val m = stepTimes.last
    m(name) = m.getOrElse(name, 0.0) + s
    r
  }

  def markInputs(): Unit = {
    Bus.drain(sc)
    keep = sc.getPersistentRDDs.keySet.toSet ++ storage.rddIds
    plans.take() // setup's SQL executions belong to no op
  }

  /** Remove every RDD block an op left behind, including blocks of RDDs the
    * driver has dropped but not yet cleaned, so each op starts from the
    * same block store whatever the garbage collector did. */
  def cleanup(): Unit = {
    Bus.drain(sc)
    (sc.getPersistentRDDs.keySet ++ storage.rddIds).filterNot(keep.contains)
      .foreach(Bus.unpersist(sc, _))
    Bus.drain(sc)
  }

  def dropAll(): Unit = { keep = Set.empty; cleanup() }

  /** Per-op results of the traced passes: metric suffix -> samples. */
  val opStats = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]

  /** Run one op: wall seconds and whether it threw or failed its check. */
  def runOp(op: Op, record: Boolean): (Double, Boolean) = {
    groupSeq += 1
    val group = s"${op.name}#$groupSeq"
    sc.setJobGroup(group, op.name, interruptOnCancel = false)
    val (res, secs, opSpan) = try spanned("op", op.name) {
      try Right(op.run()) catch { case e: Throwable => Left(e) }
    } finally sc.clearJobGroup()
    val ok = res match {
      case Left(e) =>
        System.err.println(s"[perfbench] ${op.name} threw: $e")
        false
      case Right(r) =>
        val bad = try op.check(r) catch { case e: Throwable => Some(s"check threw $e") }
        bad.foreach(m => System.err.println(s"[perfbench] ${op.name} wrong: $m"))
        bad.isEmpty
    }
    cleanup()
    if (traced) {
      Bus.drain(sc)
      val c = groups.take(group)
      plans.take().foreach(_.foreach { case (ph, a, b) =>
        c.planMs += b - a
        tracer.add(opSpan.id, "plan", ph, a, b)
      })
      c.jobIntervals.foreach { case (a, b) => tracer.add(opSpan.id, "job", "job", a, b) }
      if (record) {
        val covered = Spans.covered(c.jobIntervals.toSeq, opSpan.start, opSpan.end)
        val m = opStats.getOrElseUpdate(s"${op.layer}.${op.name}", mutable.LinkedHashMap.empty)
        def put(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
        put("s", secs)
        put("jobs", c.jobs)
        put("tasks", c.tasks)
        put("plan_s", c.planMs / 1000.0)
        put("driver_s", math.max(0.0, opSpan.dur - covered) / 1000.0)
        put("task_s", c.taskMs / 1000.0)
        put("shuffle_mb", c.shuffleBytes / 1e6)
        put("spill_mb", c.spillBytes / 1e6)
      }
    }
    (secs, ok)
  }

  def drain(): Unit = Bus.drain(sc)
}

object Harness {
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  val GraphOps = Seq("pagerank", "wcc", "scc", "core_number", "louvain", "bfs")
  val CorpusOps = Seq("minhash", "lsh_pairs", "simhash", "exact")
  val OpMetrics = Seq("s", "jobs", "tasks", "plan_s", "driver_s", "task_s", "shuffle_mb", "spill_mb")
  val CoreSteps = Seq("core.canonicalize_s", "core.symmetrize_s", "core.vertices_s", "core.materialize_s")
  val PrimsProbes = Seq("prims.aggregate_s", "prims.materialize_s", "prims.loop_round_s")

  /** Every per-layer metric, in BENCHMARK.json order. A workload reports 0
    * for a layer it does not exercise. */
  val PerLayer: Seq[(String, String)] =
    (CoreSteps ++ PrimsProbes).map(_ -> "s") ++
      GraphOps.flatMap(o => OpMetrics.map(m => s"algos.$o.$m" -> unit(m))) ++
      CorpusOps.flatMap(o => OpMetrics.map(m => s"pipeline.$o.$m" -> unit(m))) ++
      Seq("pipeline.hash60_s" -> "s", "trace.pass_s" -> "s")

  def unit(m: String): String = m match {
    case "jobs" | "tasks" => "count"
    case "shuffle_mb" | "spill_mb" => "MB"
    case _ => "s"
  }

  /** How many times one run sets the workload up; setup_s is the median. */
  val SetupRuns = 7
  /** Repeats of each direct probe in the traced run. */
  val ProbeRuns = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.lang.Double.toString(v)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args.getOrElse("workload", sys.error("--workload is required"))
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val outDir = args.getOrElse("out", ".bench_build/perfbench/out")
    val result = try run(workload, seed, seconds, traced, outDir) catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
        ""
    }
    // the result line is the last line of stdout, after Spark has stopped
    println(result)
    System.exit(0)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          outDir: String): String = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val wl: Workload = workload match {
      case "graph_large" => new GraphWorkload(scale = 12, seed)
      case "corpus_dedup" => new CorpusWorkload(replicas = 2, seed)
      case other => sys.error(s"unknown workload $other")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, traced)

    try {
      val setupSecs = (0 until SetupRuns).map { i =>
        if (i > 0) h.dropAll()
        h.stepTimes += mutable.Map.empty
        h.span("setup", s"setup$i")(wl.setup(h))._2
      }
      h.markInputs()
      println(s"input_digest workload=$workload seed=$seed digest=${wl.digest} input_rows=${wl.inputRows}")

      var attempted = 0
      var failed = 0
      def pass(label: String, record: Boolean): Double =
        h.span("pass", label) {
          wl.ops.map { op =>
            val (s, ok) = h.runOp(op, record)
            attempted += 1
            if (!ok) failed += 1
            s
          }.sum
        }._1

      val warmup = pass("warmup", record = false)
      h.drain()
      h.storage.resetPeak()
      val passes = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += pass(s"pass${passes.length}", record = true)
      h.drain()
      val peakMb = h.storage.peak / 1e6
      val passS = median(passes.toSeq)

      val probeVals = if (!traced) Map.empty[String, Double] else
        wl.probes.map { case (name, probe) =>
          name -> median((0 until ProbeRuns).map(_ => h.span("probe", name)(probe())._1))
        }.toMap

      val failedRatio = failed.toDouble / attempted
      println(s"summary workload=$workload seed=$seed traced=$traced passes=${passes.mkString(",")} " +
        s"setup_s=${median(setupSecs)} warmup_s=$warmup pass_s=$passS " +
        s"input_rows_per_s=${wl.inputRows / passS} ops_failed_ratio=$failedRatio " +
        s"peak_storage_mb=$peakMb attempted=$attempted failed=$failed")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", median(setupSecs), "s"),
          ("warmup_s", warmup, "s"),
          ("pass_s", passS, "s"),
          ("input_rows_per_s", wl.inputRows / passS, "rows/s"),
          ("peak_storage_mb", peakMb, "MB"))
        else {
          val layer = mutable.LinkedHashMap.empty[String, Double]
          PerLayer.foreach { case (n, _) => layer(n) = 0.0 }
          h.stepTimes.flatMap(_.keys).distinct.foreach { n =>
            if (layer.contains(n + "_s")) layer(n + "_s") = median(h.stepTimes.map(_.getOrElse(n, 0.0)).toSeq)
          }
          h.opStats.foreach { case (op, m) => m.foreach { case (k, xs) => layer(s"$op.$k") = median(xs.toSeq) } }
          probeVals.foreach { case (n, s) => layer(n) = s }
          layer("trace.pass_s") = passS
          val path = java.nio.file.Paths.get(outDir, s"trace-$workload-seed$seed.json")
          java.nio.file.Files.write(path, h.tracer.json.getBytes("UTF-8"))
          System.err.println(s"[perfbench] spans written to $path")
          PerLayer.map { case (n, u) => (n, layer(n), u) }
        }
      val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    } finally {
      try spark.stop() catch { case _: Throwable => () }
    }
  }
}
