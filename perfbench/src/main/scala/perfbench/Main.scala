package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The benchmark's JVM side. Run by perfbench/run.py, which builds it,
  * checks the outputs listed in the result file, and prints the
  * metrics:
  *
  *   perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *                  --work <dir> --result <file> [--in.<key> <dir> ...]
  *   perfbench.Main --bases <inputs dir>
  *
  * The second form generates the seed-independent input bases
  * ([[Gen]]); perfbench/gen.py makes each seed's inputs (the `--in.*`
  * directories).
  *
  * Order: session (through the program's GraftSession front door),
  * set-up (three timed input reads, of which the median counts, then
  * the one-time build, one warm pass and the untimed settle passes), a
  * calibration query, then untraced passes until `seconds` have passed
  * (and at least MinPasses), or until the workload's inputs hold no
  * further pass. A traced run then makes one more pass with spans on,
  * and the per-layer breakdown. */
object Main {
  val SetupReps = 3
  /** Untimed passes of the timed sequence after the warm pass, timed as
    * set-up: the JIT keeps compiling the program's paths for several
    * full-size passes after one warm pass on a small input, and passes
    * timed before that settles differ by a fifth from run to run. */
  val SettlePasses = 2
  /** The smallest number of timed passes a run makes. */
  val MinPasses = 2

  private def opJson(o: Op): ListMap[String, Any] = ListMap("latency_ms" -> o.latencyS * 1e3,
    "kind" -> o.kind, "output" -> o.output, "error" -> o.error)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    if (a.contains("bases")) {
      val spark = graft.core.GraftSession.local(cores)
      spark.sparkContext.setLogLevel("ERROR")
      new Gen(spark, Paths.get(a("bases")).toAbsolutePath).bases()
      spark.stop()
      return
    }
    val workload = Workloads(a("workload"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath

    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new Metrics(spark)
    val tracer = new Tracer(false, s"${a("workload")}-${System.currentTimeMillis()}")
    val inputs = a.collect { case (k, v) if k.startsWith("in.") => k.stripPrefix("in.") -> v }
    val c = new Ctx(spark, metrics, tracer, work, inputs, traced)

    def say(msg: String): Unit = System.err.println(s"[perfbench] $msg")
    say(f"session ready after $sessionS%.2f s")
    val setupReps = (1 to SetupReps).map(_ => c.timed(workload.prepare(c))._2)
    val buildS = c.timed(workload.build(c))._2
    c.record("build_s") = buildS
    val warmS = c.timed(workload.warm(c))._2
    val settleS = c.timed((1 to SettlePasses).foreach(_ => workload.pass(c)))._2
    say(f"set-up: reads ${setupReps.map(s => f"$s%.2f").mkString(" ")} s; " +
      f"build $buildS%.2f s; warm pass $warmS%.2f s; settle passes $settleS%.2f s")

    // a fixed query, so box drift shows in the record (env.calib_s)
    val calibS = Workloads.medianOf((1 to 3).map(_ => c.timed(
      spark.range(0L, 4000000L, 1L, cores).selectExpr("sum(xxhash64(id) % 1000003)").collect())._2))

    def runPass(): ListMap[String, Any] = {
      metrics.resetStoragePeak()
      val c0 = metrics.counters()
      val t0 = System.currentTimeMillis()
      val ops =
        try workload.pass(c)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] pass failed: $e")
          Seq(Op((System.currentTimeMillis() - t0) / 1e3, "error", "", e.toString))
        }
      val t1 = System.currentTimeMillis()
      val d = metrics.counters() - c0
      ListMap("wall_s" -> (t1 - t0) / 1e3,
        "shuffle_mb" -> d.shuffleWrite / Metrics.MB,
        "storage_peak_mb" -> metrics.storagePeakBytes() / Metrics.MB,
        "counters" -> d, "idle_s" -> metrics.idleSeconds(t0, t1),
        "ops" -> ops.map(opJson))
    }

    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    def failed(p: ListMap[String, Any]): Boolean =
      p("ops").asInstanceOf[Seq[ListMap[String, Any]]].exists(_("error") != "")
    val tRun = System.nanoTime()
    while (!passes.lastOption.exists(failed) && (passes.size < MinPasses ||
        (System.nanoTime() - tRun) / 1e9 < seconds) && workload.canPass(c)) {
      passes += runPass()
      say(s"pass ${passes.size}: ${passes.last("wall_s")} s")
    }
    if (!workload.canPass(c)) say(s"inputs used up after ${passes.size} passes")

    var tracedPass: Option[ListMap[String, Any]] = None
    if (traced) {
      tracer.enabled = true
      val p = runPass()
      tracedPass = Some(p)
      val d = p("counters").asInstanceOf[Counters]
      val l = c.layer
      l("spark.jobs") = d.jobs.toDouble
      l("spark.stages") = d.stages.toDouble
      l("spark.tasks") = d.tasks.toDouble
      l("spark.task_busy_s") = d.taskBusyS
      l("spark.task_cpu_s") = d.taskCpuS
      l("spark.gc_s") = d.gcS
      l("spark.idle_s") = p("idle_s").asInstanceOf[Double]
      l("spark.shuffle_read_mb") = d.shuffleRead / Metrics.MB
      l("spark.spill_mb") = d.spill / Metrics.MB
      l("spark.input_mb") = d.input / Metrics.MB
      l("spark.output_mb") = d.output / Metrics.MB
      l("trace.overhead_s") = p("wall_s").asInstanceOf[Double] -
        Workloads.medianOf(passes.map(_("wall_s").asInstanceOf[Double]).toSeq)
      workload.layers(c)
      l("env.calib_s") = calibS
      tracer.selfSecondsByLayer.foreach { case (layer, s) => l(s"self.${layer}_s") = s }
      tracer.write(work.resolve("spans.jsonl"))
    }
    val finishS = c.timed(workload.finish(c))._2
    say(f"finish $finishS%.2f s")

    def countersJson(p: ListMap[String, Any]): ListMap[String, Any] =
      p.map {
        case ("counters", d: Counters) => "counters" -> ListMap(
          "jobs" -> d.jobs, "stages" -> d.stages, "tasks" -> d.tasks,
          "task_busy_s" -> d.taskBusyS, "task_cpu_s" -> d.taskCpuS, "gc_s" -> d.gcS,
          "shuffle_read_mb" -> d.shuffleRead / Metrics.MB, "spill_mb" -> d.spill / Metrics.MB,
          "input_mb" -> d.input / Metrics.MB, "output_mb" -> d.output / Metrics.MB)
        case kv => kv
      }
    val result = ListMap(
      "workload" -> a("workload"), "trace" -> traced, "cores" -> cores,
      "session_s" -> sessionS, "setup_reps_s" -> setupReps,
      "build_s" -> buildS, "warm_s" -> warmS, "settle_s" -> settleS,
      "setup_s" -> (sessionS + Workloads.medianOf(setupReps) + buildS + warmS + settleS),
      "calib_s" -> calibS,
      "passes" -> passes.map(countersJson).toSeq,
      "traced_pass" -> tracedPass.map(countersJson).orNull,
      "layer_ops" -> c.layerOps.map(opJson).toSeq,
      "sample_ops" -> c.sampleOps.map(opJson).toSeq,
      "layer" -> c.layer, "record" -> c.record)
    Files.write(Paths.get(a("result")), Json(result).getBytes("UTF-8"))
    metrics.close()
    spark.stop()
  }
}
