package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.ops.dedup.Dedup
import graft.ops.similarity.VectorOps
import graft.pipeline.{CorpusCurationJob, WeeklyReportJob}
import graft.pipeline.WeeklyReportJob.DomainSources

/** One timed operation: its latency, its kind, and where its output
  * went (checked after the JVM exits). `error` is set when the call
  * threw. */
final case class Op(latencyS: Double, kind: String, output: String,
                    error: String = "")

/** Everything a workload needs while it runs. `traced` says whether the
  * run ends with a traced pass and the per-layer breakdown; `layer`
  * collects the per-layer metrics of that breakdown; `record` collects
  * facts the output checks need. */
final class Ctx(val spark: SparkSession, val metrics: Metrics, val trace: Tracer,
                val work: Path, val inputs: Map[String, String], val traced: Boolean) {
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val record: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Operations a traced run's layer measurements performed; their
    * outputs are checked too. */
  val layerOps: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  /** Untimed operations made after the passes to measure output quality
    * on a sample of fixed size; their outputs are checked, and their
    * recall is the run's recall. */
  val sampleOps: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var n = 0

  /** A fresh, not yet existing directory for one operation's output. */
  def outDir(name: String): String = {
    n += 1
    work.resolve("out").resolve(f"$n%04d-$name").toString
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` in span `name`; record its seconds and shuffle MB. */
  def measured(name: String)(body: => Unit): Unit = {
    val c0 = metrics.counters()
    val (_, s) = timed(trace(name)(body))
    layer(s"${name}_s") = s
    layer(s"${name}_shuffle_mb") = (metrics.counters() - c0).shuffleWrite / Metrics.MB
  }
}

/** A benchmark workload: inputs, set-up, the timed pass, and the
  * per-layer breakdown of a traced run. */
trait Workload {
  /** Read the inputs. Timed as set-up and repeated; the median counts. */
  def prepare(c: Ctx): Unit
  /** What serving needs once, after [[prepare]] (the ANN index). Timed
    * as set-up, once. */
  def build(c: Ctx): Unit = ()
  /** One warm pass on a small input, after [[build]]. Timed as set-up,
    * once: JIT and codegen warm only the first time. */
  def warm(c: Ctx): Unit
  /** One pass of the timed operation sequence. */
  def pass(c: Ctx): Seq[Op]
  /** Whether the inputs hold one more untraced pass, keeping back what a
    * traced run's traced pass and [[layers]] still need. The timed loop
    * stops when they do not. */
  def canPass(c: Ctx): Boolean = true
  /** Per-layer measurements for a traced run (after the passes). */
  def layers(c: Ctx): Unit
  /** Work after the timed passes that the output checks need. */
  def finish(c: Ctx): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "curation_run" => new CurationRun
    case "ann_serve" => new AnnServe
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def count(p: SparkPlan)(pf: PartialFunction[SparkPlan, Int]): Int =
      collectWithSubqueries(p)(pf).sum
  }

  /** Shuffle exchanges and reused exchanges in a final (post-AQE) plan. */
  def exchanges(p: SparkPlan): (Int, Int) = (
    Plans.count(p) { case _: ShuffleExchangeLike => 1 },
    Plans.count(p) { case _: ReusedExchangeExec => 1 })

  def topKNodes(p: SparkPlan): Int =
    Plans.count(p) { case n if n.nodeName.startsWith("TopKPerKey") => 1 }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def files(dir: String, suffix: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val it = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(suffix)).toVector
      } finally it.close()
    }
  }

  /** One successful action as the session's QueryExecutionListener saw
    * it: its wall seconds, its planning seconds (analysis, optimization
    * and planning phases), the paths it wrote, and its final plan. */
  final case class Action(seconds: Double, planS: Double, writes: Seq[String],
                          plan: SparkPlan)

  /** Records every successful action the body runs, so a traced run can
    * read the timings and plans of writes the program performs itself. */
  final class ActionLog(spark: SparkSession) {
    private val actions = mutable.ArrayBuffer.empty[Action]
    private val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        val writes = qe.logical.collect {
          case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
        }
        actions.synchronized(actions += Action(ns / 1e9, planMs / 1e3, writes, qe.executedPlan))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def apply[T](body: => T): (T, Seq[Action]) = {
      spark.listenerManager.register(l)
      try {
        val r = body
        org.apache.spark.GraftMetricsBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        (r, actions.synchronized(actions.toVector))
      } finally spark.listenerManager.unregister(l)
    }
  }
}

import Workloads._

// ------------------------------------------------------------------ weekly

/** `WeeklyReportJob.runReport` with default arguments over a
  * seed-chosen GenFarms fleet, traced down to its two writes and its
  * sections. Runs inside a traced ann_serve run: a timed weekly
  * workload does not fit the benchmark's time budget (see CHANGES.md). */
object WeeklyDrive {
  def measure(c: Ctx): Unit = {
    val spark = c.spark
    WeeklyReportJob.runReport(spark, DomainSources.parquet(spark, c.inputs("warm_facts")),
      c.outDir("warm"))
    // one runReport call; its writes' times, planning times and final
    // plans come from the actions the session saw during the call
    val src = DomainSources.parquet(spark, c.inputs("facts"))
    val out = c.outDir("report")
    val ((_, s), actions) = new ActionLog(spark)(
      c.timed(c.trace("pipeline.runReport")(WeeklyReportJob.runReport(spark, src, out))))
    def writeS(dir: String): Double =
      actions.filter(_.writes.exists(_.endsWith(dir))).map(_.seconds).sum
    c.layerOps += Op(s, "report", out)
    c.layer("pipeline.report_s") = s
    c.layer("pipeline.sub_write_s") = writeS("/week_sub")
    c.layer("pipeline.summary_write_s") = writeS("/week_summary")
    c.layer("catalyst.plan_s") = actions.map(_.planS).sum
    c.layer("sinks.files_written") = files(out, ".parquet").size
    val ex = actions.map(a => exchanges(a.plan))
    c.layer("plan.exchanges") = ex.map(_._1).sum
    c.layer("plan.reused_exchanges") = ex.map(_._2).sum

    // each section's *From frame on its own to a noop sink
    val sections = graft.devtools.WeeklyScale.queries(spark, c.inputs("facts")).collect {
      case (n, df, _) if n.startsWith("sub_") && n != "sub_plan" => n -> df
      case ("week_summary", df, _) => "summary" -> df
    }
    sections.foreach { case (n, df) => c.measured(s"section.$n")(c.noop(df)) }
  }
}

// ------------------------------------------------------------------ curation

/** `CorpusCurationJob.run` over seeded documents plus q91's re-crawl
  * copies (perfbench/gen.py). */
final class CurationRun extends Workload {
  private var docs: DataFrame = _

  def prepare(c: Ctx): Unit =
    docs = c.spark.read.parquet(s"${c.inputs("docs")}/input.parquet")

  def warm(c: Ctx): Unit = CorpusCurationJob.run(c.spark,
    c.spark.read.parquet(s"${c.inputs("warm_docs")}/input.parquet"), c.outDir("warm"))

  def pass(c: Ctx): Seq[Op] = {
    val out = c.outDir("curate")
    val (_, s) = c.timed(c.trace("pipeline.curation") {
      CorpusCurationJob.run(c.spark, docs, out)
    })
    Seq(Op(s, "curate", out))
  }

  def layers(c: Ctx): Unit = {
    // the funnel's stages one at a time, each materialized before the
    // next starts, through the same public operators run() composes
    val uniq = Dedup.exactKeep(docs, "doc_id", "text").cache()
    val (_, exactS) = c.timed(c.trace("dedup.exact")(uniq.count()))
    val bands = Dedup.lshBands(
      Dedup.minHashText(uniq, "doc_id", "text", 3, 16), "doc_id", 16, 4).cache()
    val (_, sigS) = c.timed(c.trace("dedup.signature")(bands.count()))
    val cand = Dedup.candidatePairs(bands, "doc_id").cache()
    val (nCand, candS) = c.timed(c.trace("dedup.candidates")(cand.count()))
    val jh = Dedup.jaccardTextReleasable(cand, uniq, "doc_id", "text", 3)
    val j = jh.df.cache()
    val (nVerified, verifyS) = c.timed(c.trace("dedup.verify") {
      j.count()
      j.filter(col("jaccard") >= 0.7).count()
    })
    val deduped = uniq.join(j.filter(col("jaccard") >= 0.7)
      .select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val (_, qualityS) = c.timed(c.trace("text.quality")(c.noop(deduped.filter(
      graft.ops.text.TextOps.qualityScore(col("text"), CorpusCurationJob.Stopwords) >= 0.5))))
    c.layer("dedup.exact_s") = exactS
    c.layer("dedup.signature_s") = sigS
    c.layer("dedup.candidates_s") = candS
    c.layer("dedup.candidate_pairs") = nCand.toDouble
    c.layer("dedup.verify_s") = verifyS
    c.layer("dedup.verified_ratio") = if (nCand == 0) 0.0 else nVerified.toDouble / nCand
    c.layer("text.quality_s") = qualityS
    Seq(j, cand, bands, uniq).foreach(_.unpersist(true))
    jh.release()

    // native MinHashSig throughput over the corpus (signature only)
    val text = docs.select("text").cache()
    val n = text.count()
    c.noop(text.select(graft.functions.MinHashSig.signature(col("text"), 3, 16)))
    val (_, mhS) = c.timed(c.trace("functions.minhash")(
      c.noop(text.select(graft.functions.MinHashSig.signature(col("text"), 3, 16)))))
    c.layer("functions.minhash_rows_per_s") = n / mhS
    text.unpersist(true)

    // the same dedup kernels used incrementally
    StreamDrive.measure(c, c.inputs("feed"))
  }
}

// ------------------------------------------------------------------ stream

/** Drives `StreamingJobs.nearDupStream` in bucketed-store mode with
  * compaction, as back-to-back AvailableNow runs: each operation drops
  * the next batch file into the watched directory and runs the query
  * until that batch is committed. A drive starts from an empty store.
  * Runs inside a traced curation_run run: a timed stream workload does
  * not fit the benchmark's time budget (see CHANGES.md). */
object StreamDrive {
  val CompactEvery = 1
  private val schema = new StructType().add("doc_id", LongType).add("text", StringType)

  /** Drive every batch of `feed` through a fresh store and record the
    * streaming and band-store layer metrics; the drive's batches are
    * checked like any operation. */
  def measure(c: Ctx, feed: String): Unit = {
    val spark = c.spark
    val out = c.outDir("stream")
    val table = "band_store"
    val watch = s"$out/watch"
    Files.createDirectories(Paths.get(watch))
    val p0 = c.metrics.progressEvents().size
    val j0 = c.metrics.counters().jobs
    val batches = files(feed, ".parquet").map(_.getParent.getFileName.toString)
      .distinct.count(_.startsWith("batch_"))
    val ops = (0 until batches).map { b =>
      files(s"$feed/batch_$b.parquet", ".parquet").zipWithIndex.foreach { case (f, i) =>
        Files.copy(f, Paths.get(watch, s"b${b}_$i.parquet"))
      }
      val kind = if (b > 0 && b % CompactEvery == 0) "compaction" else "batch"
      val (_, s) = c.timed(c.trace(s"streaming.$kind") {
        graft.streaming.StreamingJobs.nearDupStream(
          spark.readStream.schema(schema).parquet(watch),
          s"$out/store", s"$out/curated", s"$out/chk", tau = 0.7,
          storeTable = Some(table), storeCompactEvery = CompactEvery)
          .awaitTermination()
      })
      Op(s, kind, out)
    }
    c.layerOps ++= ops
    val jobs = c.metrics.counters().jobs - j0
    val prog = c.metrics.progressEvents().drop(p0).filter(_.inputRows > 0)
    def med(k: String): Double = medianOf(prog.map(_.durationMs.getOrElse(k, 0L).toDouble))
    c.layer("streaming.add_batch_ms") = med("addBatch")
    c.layer("streaming.query_planning_ms") = med("queryPlanning")
    c.layer("streaming.wal_commit_ms") = med("walCommit")
    c.layer("streaming.get_batch_ms") = med("getBatch")
    c.layer("streaming.batch_ms") = medianOf(ops.map(_.latencyS * 1e3))
    c.layer("streaming.jobs_per_batch") = jobs.toDouble / ops.size
    c.layer("store.compaction_ms") =
      medianOf(ops.filter(_.kind == "compaction").map(_.latencyS * 1e3))
    graft.ops.dedup.BandStore.refreshStore(spark, table)
    c.layer("store.band_rows") = spark.table(table).count().toDouble
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val storeFiles = files(s"$out/store", ".parquet")
    c.layer("store.files") = storeFiles.size
    val inBytes = files(watch, ".parquet").map(Files.size).sum
    c.layer("store.mb_per_input_mb") = storeFiles.map(Files.size).sum.toDouble / inBytes
    val curated = spark.read.parquet(s"$out/curated").select("doc_id", "text").cache()
    c.layer("dedup.dropped_ratio") =
      1.0 - curated.count().toDouble / spark.read.parquet(watch).count()
    // the bands of the curated documents, computed as nearDupStream
    // computes them, for the check of the band store's rows
    Dedup.lshBands(Dedup.minHashText(curated, "doc_id", "text", 3, 16), "doc_id", 16, 4)
      .select("doc_id", "band", "band_key").write.parquet(s"$out/expected_bands")
    curated.unpersist(true)
  }
}

// ------------------------------------------------------------------ ann

/** Closed-loop serving with one client: batches of distinct
  * seed-drawn probe vectors through `VectorOps.ivfPqTopK` against an IVF-PQ
  * index built and stored in set-up in q210's layout (one IVF cell per
  * label, 4×16 PQ codes packed next to their cell), served with the
  * `servingKnobs` nprobe and shortlist for that index. */
final class AnnServe extends Workload {
  val PerBatch = 16
  val BatchesPerPass = 4
  /** Batches [[layers]] serves. */
  val LayerBatches = 3
  /** Probes kept back for the warm pass: the ones that sort last. */
  val WarmProbes = BatchesPerPass * PerBatch
  /** Probes kept back for the recall sample: the ones before the warm
    * pass's. One batch of this size is served after the passes; recall
    * is measured on it, so its sampling error does not depend on how
    * many batches a run serves. */
  val RecallProbes = 1024
  val K = 5
  private var corpus: DataFrame = _
  private var probes: DataFrame = _
  private var rows: Array[Row] = Array.empty
  private var schema: StructType = _
  private var cents: DataFrame = _
  private var packed: DataFrame = _
  private var books: DataFrame = _
  private var nlist = 0
  private var nPacked = 0L
  private var knobs = (0, 0)
  private var next = 0
  private var logged = 0
  private val served = mutable.LinkedHashSet.empty[Long]

  def prepare(c: Ctx): Unit = {
    val dir = c.inputs("ann")
    corpus = c.spark.read.parquet(s"$dir/corpus.parquet")
    probes = c.spark.read.parquet(s"$dir/probes.parquet").orderBy("q_order")
      .select("vec_id", "embedding")
    schema = probes.schema
    rows = probes.collect()
  }

  override def build(c: Ctx): Unit = {
    val spark = c.spark
    val idx = c.outDir("index")
    VectorOps.ivfCentroids(corpus, "label").write.parquet(s"$idx/cents")
    val (codes, bks) = VectorOps.pqCodes(corpus, "vec_id", m = 4, ksub = 16)
    VectorOps.pqCodesPacked(codes, "vec_id")
      .join(corpus.select(col("vec_id"), col("label").as("cell")), "vec_id")
      .write.parquet(s"$idx/packed")
    bks.write.parquet(s"$idx/books")
    cents = spark.read.parquet(s"$idx/cents")
    packed = spark.read.parquet(s"$idx/packed")
    books = spark.read.parquet(s"$idx/books")
    nlist = cents.count().toInt
    nPacked = packed.count()
    knobs = VectorOps.servingKnobs(nlist, K, (nPacked + nlist - 1) / nlist)
  }

  private def serve(c: Ctx, batch: Seq[Row]): DataFrame = VectorOps.ivfPqTopK(
    c.spark.createDataFrame(java.util.Arrays.asList(batch: _*), schema),
    corpus, cents, packed, books, "vec_id", m = 4, ksub = 16, k = K,
    nprobe = knobs._1, shortlist = knobs._2)

  /** One pass over the probes that sort last (never served when
    * timed). */
  def warm(c: Ctx): Unit =
    rows.takeRight(WarmProbes).grouped(PerBatch).foreach(b => serve(c, b.toSeq).collect())


  private def batchesLeft: Int = (rows.length - WarmProbes - RecallProbes - next) / PerBatch

  override def canPass(c: Ctx): Boolean =
    batchesLeft >= BatchesPerPass + (if (c.traced) BatchesPerPass + LayerBatches else 0)

  /** The next PerBatch probes; every probe is served at most once. */
  private def nextBatch(): Seq[Row] = {
    require(batchesLeft > 0, "ran out of distinct probes")
    val b = rows.slice(next, next + PerBatch).toSeq
    next += PerBatch
    b
  }

  /** Append one served batch to served.jsonl; returns the op reference. */
  private def log(c: Ctx, batch: Seq[Row], res: Array[Row]): String = {
    val path = c.work.resolve("out").resolve("served.jsonl")
    val op = logged
    logged += 1
    served ++= batch.map(_.getLong(0))
    Files.write(path, (Json(ListMap("op" -> op, "probes" -> batch.map(_.getLong(0)),
      "rows" -> res.toSeq.map(r => Seq(r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Any]("rank").toString.toLong)))) + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    s"$path#$op"
  }

  def pass(c: Ctx): Seq[Op] = (0 until BatchesPerPass).map { _ =>
    val batch = nextBatch()
    val (res, s) = c.timed(c.trace("similarity.serve")(serve(c, batch).collect()))
    Op(s, "serve", log(c, batch, res))
  }

  /** The recall sample, then the exact top-k of every probe served. */
  override def finish(c: Ctx): Unit = {
    val sample = rows.slice(rows.length - WarmProbes - RecallProbes, rows.length - WarmProbes)
    val (res, s) = c.timed(serve(c, sample.toSeq).collect())
    c.sampleOps += Op(s, "serve", log(c, sample.toSeq, res))
    val exact = VectorOps.bruteForceKnn(
      probes.filter(col("vec_id").isin(served.toSeq: _*)), corpus, K)
      .select("q_id", "c_id").collect()
    val path = c.work.resolve("out").resolve("exact.jsonl")
    Files.write(path, exact.map(r => s"[${r.getLong(0)},${r.getLong(1)}]")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    c.record("exact") = path.toString
    c.record("k") = K
  }

  def layers(c: Ctx): Unit = {
    c.layer("similarity.build_s") = c.record("build_s").asInstanceOf[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    val jobs = mutable.ArrayBuffer.empty[Double]
    var topk = 0
    (0 until LayerBatches).foreach { _ =>
      val batch = nextBatch()
      val j0 = c.metrics.counters().jobs
      val ((df, res), s) = c.timed(c.trace("similarity.serve") {
        val (df, p) = c.timed(c.trace("catalyst.plan.serve") {
          val df = serve(c, batch)
          df.queryExecution.executedPlan
          df
        })
        planMs += p * 1e3
        val (res, e) = c.timed(c.trace("similarity.exec")(df.collect()))
        execMs += e * 1e3
        (df, res)
      })
      jobs += (c.metrics.counters().jobs - j0).toDouble
      topk = topKNodes(df.queryExecution.executedPlan)
      c.layerOps += Op(s, "serve", log(c, batch, res))
    }
    c.layer("similarity.plan_ms") = medianOf(planMs.toSeq)
    c.layer("similarity.exec_ms") = medianOf(execMs.toSeq)
    c.layer("spark.jobs_per_op") = medianOf(jobs.toSeq)
    c.layer("plans.topk_nodes") = topk
    c.layer("similarity.scored_codes") = PerBatch.toDouble * knobs._1 * nPacked / nlist

    // native dot product next to its higher-order-function reference
    val pairs = corpus.select(col("embedding").as("a"))
      .crossJoin(corpus.limit(32).select(col("embedding").as("b"))).cache()
    val nPairs = pairs.count()
    def rate(name: String, f: (Column, Column) => Column): Double = {
      c.noop(pairs.select(f(col("a"), col("b"))))
      val (_, s) = c.timed(c.trace(s"functions.$name")(
        c.noop(pairs.select(f(col("a"), col("b")).as("d")))))
      nPairs / s
    }
    c.layer("functions.dot_rows_per_s") = rate("dot", VectorOps.dot)
    // the higher-order-function form the native expression replaced,
    // spelled here so the reference does not depend on main code
    c.layer("functions.dot_hof_rows_per_s") = rate("dot_hof", (a, b) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    pairs.unpersist(true)

    WeeklyDrive.measure(c)
  }
}
