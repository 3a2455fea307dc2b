package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (normally launched by `run.py`):
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --trace-out <file>
  * }}}
  *
  * Sets the workload up `SetupReps` times (reporting the median; op 0 runs
  * once after the first set-up as a replay), runs its untimed warm-up ops,
  * then a closed loop of ops for `--seconds`, then (untraced runs only)
  * untimed ops for the heap reading. Every op is checked. The
  * last stdout line is the result object; the line before it records the
  * workload's input properties and op count.
  *
  * Untraced runs (`--trace 0`) time the entry point with no listener and
  * no span recording and report the end-to-end metrics. Traced runs
  * alternate plain and traced ops, register the collectors for the traced
  * ones, run the per-layer probes after the loop, write the span document
  * to `--trace-out`, and report the per-layer metrics they measured.
  */
object Main {
  val SetupReps = 3
  val HeapSamples = 45
  val MaxHeapOps = 6

  final case class Op(i: Int, traced: Boolean, docs: Long, wallS: Double, innerS: Double,
                      problems: Seq[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val runSeconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    val tracer = new Tracer(runId, enabled = traced)
    val off = new Tracer(runId, enabled = false)
    val wl: Workload = workload match {
      case "ingest_scrub" => new IngestScrub(spark, seed, s"$work/data")
      case "daily_curate" => new DailyCurate(spark, seed, s"$work/data")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val collectors = new Collectors(tracer)
    val heap = new HeapWatch

    try {
      // (peak live heap MB, samples) over the ops run with `watchHeap`
      var heapReading = (0.0, 0)

      def runOp(i: Int, withTrace: Boolean, watchHeap: Boolean = false): Op = {
        val docs = wl.land(i)
        val tr = if (withTrace) tracer else off
        if (withTrace) { collectors.register(spark); collectors.reset() }
        val gc0 = Collectors.gcSeconds()
        val t0 = System.nanoTime()
        val failure =
          try {
            if (watchHeap) heap.measure(wl.op(i, tr)) match {
              case (_, mb, k) => heapReading = (math.max(heapReading._1, mb), heapReading._2 + k)
            }
            else tr.span("op")(wl.op(i, tr))
            None
          }
          catch { case NonFatal(e) => Some(s"op $i threw ${e.getClass.getName}: ${e.getMessage}") }
        val wallS = (System.nanoTime() - t0) / 1e9
        var inner = Double.NaN
        if (withTrace) {
          collectors.drain(spark)
          collectors.unregister(spark)
          layerSamples.add(wallS, Collectors.gcSeconds() - gc0, collectors)
          inner = collectors.streamMs("addBatch") / 1e3
        }
        val problems = failure.toSeq ++ (
          if (failure.nonEmpty) Nil
          else try wl.check(i)
          catch { case NonFatal(e) => Seq(s"check $i threw ${e.getClass.getName}: ${e.getMessage}") })
        Op(i, withTrace, docs, wallS, inner, problems)
      }

      // (set-up seconds, bootstrap seconds) per repetition. After the
      // first set-up, op 0 runs once: its output must equal that of op 0
      // after the last set-up, so a seed gives the same output every time.
      var replay: Option[(Op, String)] = None
      val setups = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        val boot = wl.setup()
        val s = (System.nanoTime() - t0) / 1e9
        if (rep == 1) replay = Some((runOp(0, withTrace = false), wl.digest))
        (s, boot)
      }
      val setupS = sessionS + Workload.median(setups.map(_._1))
      // the bootstrap call alone is short; its least-disturbed repetition
      // is the steadier reading
      val bootstrapS = setups.map(_._2).min

      val ops = ArrayBuffer.empty[Op]
      val warm = (0 until wl.warmupOps).map { i =>
        val o = runOp(i, withTrace = false)
        if (i == 0 && o.problems.isEmpty && !replay.exists(_._2 == wl.digest))
          o.copy(problems = Seq("op 0 output differs from op 0 after the first set-up"))
        else o
      }
      val deadline = System.nanoTime() + (runSeconds * 1e9).toLong
      var i = wl.warmupOps
      while (System.nanoTime() < deadline) {
        ops += runOp(i, withTrace = traced && i % 2 == 0)
        i += 1
      }
      // Untraced runs end with untimed ops for the heap reading, with the
      // whole heap collected every `HeapWatch.PeriodMs` while they run,
      // until `HeapSamples` samples are taken (a short op gives few). No
      // collection is forced during a timed op.
      val heapOps = ArrayBuffer.empty[Op]
      while (!traced && heapReading._2 < HeapSamples && heapOps.size < MaxHeapOps) {
        heapOps += runOp(i, withTrace = false, watchHeap = true)
        i += 1
      }
      val all = replay.map(_._1).toSeq ++ warm ++ ops ++ heapOps
      val attempted = all.size
      val failed = all.count(_.problems.nonEmpty)
      all.filter(_.problems.nonEmpty).take(5).foreach(o =>
        System.err.println(s"op ${o.i} failed: ${o.problems.take(5).mkString("; ")}"))

      val plain = ops.filterNot(_.traced)
      val walls = plain.map(_.wallS)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          Seq(
            ("setup_s", setupS, "s"),
            ("docs_per_s", plain.map(_.docs).sum / walls.sum, "docs/s"),
            ("op_p50_s", Workload.median(walls.toSeq), "s"),
            ("bootstrap_s", bootstrapS, "s"),
            ("heap_peak_mb", heapReading._1, "MB"),
            ("ok_frac", 1.0 - failed.toDouble / attempted, "frac"))
        } else {
          val out = new Layers
          tracer.span("probes")(wl.probes(tracer, out))
          val tracedOps = ops.filter(_.traced)
          layerSamples.report(out)
          // a traced op's wall time outside the micro-batch it ran
          out.put("streaming.overhead_s",
            Workload.median(tracedOps.map(o => o.wallS - o.innerS).toSeq), "s")
          out.put("trace.overhead_frac",
            Workload.median(tracedOps.map(_.wallS).toSeq) / Workload.median(walls.toSeq) - 1,
            "frac")
          val spans = tracer.all
          out.put("trace.unaccounted_frac",
            Workload.median(spans.filter(_.name == "op").map(Trace.unaccounted(spans, _))), "frac")
          val doc = Trace.toJson(spans, Seq("run_id" -> runId, "workload" -> workload,
            "seed" -> seed, "info" -> Json.Obj(wl.info: _*)))
          java.nio.file.Files.write(java.nio.file.Paths.get(opts("trace-out")),
            doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.values.toSeq.map { case (n, (v, u)) => (n, v, u) }
        }

      println(Json.obj(Seq("info" -> Json.Obj((wl.info ++ Seq(
        "ops" -> ops.size, "traced_ops" -> ops.count(_.traced), "warmup_op_s" -> warm.map(_.wallS),
        "op_wall_s" -> walls.toSeq, "op_growth" -> growth(walls.toSeq), "session_s" -> sessionS,
        "setup_reps_s" -> setups.map(_._1), "heap_ops" -> heapOps.size, "heap_samples" -> heapReading._2)): _*))))
      println(Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.Obj(metrics.map { case (n, v, u) =>
          n -> Json.Obj("value" -> v, "unit" -> u) }: _*))))
    } finally {
      heap.close()
      spark.stop()
    }
  }

  /** Median of the last third of op times over the median of the first
    * third: cost that grows with lake size. Printed in the info line, not
    * as a gated metric: with three ops per run its spread is too wide. */
  def growth(walls: Seq[Double]): Double = {
    val third = math.max(walls.size / 3, 1)
    Workload.median(walls.takeRight(third)) / Workload.median(walls.take(third))
  }

  /** Per-op listener readings of the traced ops: name → (value, unit). */
  private object layerSamples {
    private val rows = ArrayBuffer.empty[Seq[(String, Double, String)]]

    def add(wallS: Double, gcS: Double, c: Collectors): Unit = c.synchronized {
      val plan = c.plans.map(p => Collectors.codegenCounts(p._2)).maxByOption { case (a, b) => a + b }
      rows += Seq(
        ("spark.jobs_per_op", c.jobs.toDouble, "count"),
        ("spark.stages_per_op", c.stages.toDouble, "count"),
        ("spark.tasks_per_op", c.tasks.toDouble, "count"),
        ("spark.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes"),
        ("spark.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        ("spark.spill_bytes", c.spill.toDouble, "bytes"),
        ("spark.task_skew", c.worstSkew, "ratio"),
        ("spark.busy_frac", c.taskRunMs / 1e3 / (wallS * Runtime.getRuntime.availableProcessors()),
          "frac"),
        ("jvm.gc_s", gcS, "s"),
        ("plan.codegen_stages", plan.map(_._1.toDouble).getOrElse(0.0), "count"),
        ("plan.ops_outside_codegen", plan.map(_._2.toDouble).getOrElse(0.0), "count"))
    }

    def report(out: Layers): Unit =
      if (rows.nonEmpty) for (((name, _, unit), k) <- rows.head.zipWithIndex)
        out.put(name, Workload.median(rows.map(_(k)._2).toSeq), unit)
  }

  /** The engine's session settings (`graft.GraftSession.local`) on
    * `local[<cores>]`, with Spark's scratch and warehouse paths under
    * `work` so a run writes only inside its directory. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.PiiFunctions.register(spark)
    spark
  }
}
