package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Runs one workload for a measured window and writes its raw record —
  * setup, every timed operation, and in a traced run the per-layer
  * numbers and spans — as JSON. `run.py` turns it into the metrics.
  *
  * {{{
  * Main --workload elt_queries --seed 1 --seconds 12 --trace 0 \
  *      --fixture <sf dir> --expected expected/digests.json \
  *      --work <scratch dir> --out <result.json> [--trace-out <spans.json>]
  * }}}
  * With `--dump-oracle <file>` it instead writes the DuckDB oracle SQL of
  * every benchmarked query, for `gen_expected.py`.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  /** Warm-up stops once two successive warm passes agree this closely. */
  val SettleTolerance = 0.10
  /** Warm-up also stops, after at least two passes, when this much time
    * has gone into it. */
  val WarmBudgetS = 12.0

  /** Runs `pass` until two successive passes settle or the budget is
    * spent; returns the pass times and whether they settled. */
  def warmUp(pass: Int => Unit): (Seq[Double], Boolean) = {
    val times = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (times.size < 2 ||
        (!settled(times) && (System.nanoTime() - start) / 1e9 < WarmBudgetS)) {
      val t0 = System.nanoTime()
      pass(times.size + 1)
      times += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] warm pass ${times.size}: ${times.last}%.2f s")
    }
    (times.toList, settled(times))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle") match {
      case Some(out) => dumpOracle(out)
      case None => run(args)
    }
  }

  private def dumpOracle(out: String): Unit = {
    val names = QueryWorkload.eltQueries ++ QueryWorkload.corpusQueries
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out), Serialization.writePretty(
      names.map(n => n -> sql.getOrElse(n, null)).toMap))
  }

  private def run(args: Map[String, String]): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val fixture = args("fixture")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.LocalSession.build(cores.toString)
    val sc = spark.sparkContext
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> cores, "master" -> sc.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "fixture" -> fixture)
    val measure = new Measure(spark, seconds, cores, trace)
    workload match {
      case "elt_queries" | "corpus_queries" =>
        val names =
          if (workload == "elt_queries") QueryWorkload.eltQueries
          else QueryWorkload.corpusQueries
        queries(spark, fixture, names, loadExpected(args("expected")), seed,
          cores, measure, rec)
      case "elt_loop" =>
        loop(spark, fixture, seed, Paths.get(args("work")), cores, trace,
          measure, rec)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    rec ++= measure.record
    if (trace) {
      args.get("trace-out").foreach(p => Files.writeString(Paths.get(p),
        Serialization.write(measure.tracer.all.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))
    }
    Files.writeString(Paths.get(args("out")), Serialization.write(rec))
    spark.stop()
  }

  private def loadExpected(path: String): Map[String, Expected] = {
    val root = JsonMethods.parse(Files.readString(Paths.get(path)))
    (root \ "queries") match {
      case JObject(fields) => fields.collect {
        case (name, v) if (v \ "digest") != JNothing =>
          name -> Expected((v \ "columns").extract[Seq[String]],
            (v \ "digest").extract[String])
      }.toMap
      case _ => Map.empty
    }
  }

  private def queries(spark: SparkSession, fixture: String,
                      names: Seq[String], expected: Map[String, Expected],
                      seed: Long, cores: Int, measure: Measure,
                      rec: mutable.Map[String, Any]): Unit = {
    // warm-up: Spark's first-query cost alone, then concurrent passes
    // over the list until their time settles
    val warm = new QueryWorkload(spark, fixture, names, expected,
      new Tracer(false, spark.sparkContext), new LayerExtras)
    val first = warm.run(names.head, 0)
    var warmFailures = if (first.ok) 0 else 1
    val (warmTimes, isSettled) =
      warmUp(_ => warmFailures += warm.concurrentPass(cores))
    rec ++= Seq("warm_pass_s" -> warmTimes, "warm_settled" -> isSettled,
      "warm_failures" -> warmFailures,
      "rows_per_pass" -> graft.Tables.all.map(t =>
        graft.Tables(spark, fixture, t).count()).sum)

    val wl = new QueryWorkload(spark, fixture, names, expected, measure.tracer,
      measure.extras)
    measure.start()
    // whole passes, so every query weighs the same in the percentiles,
    // and at least two, so that the pass time is a median
    var pass = 0
    while (pass < 2 || !measure.expired) {
      pass += 1
      val t0 = System.nanoTime()
      new Random(seed * 1000 + pass).shuffle(names)
        .foreach(n => measure.ops += wl.run(n, pass))
      measure.passes += pass -> (System.nanoTime() - t0) / 1e9
    }
    measure.stop()
  }

  private def loop(spark: SparkSession, fixture: String, seed: Long,
                   work: java.nio.file.Path, cores: Int, trace: Boolean,
                   measure: Measure, rec: mutable.Map[String, Any]): Unit = {
    // No warm-up: a loop from a fresh process is what a scheduler that
    // launches its pipelines each interval pays, and a warm loop would
    // not fit the run's time. Set-up is the session and the slicing.
    val rounds = EltLoop.Rounds
    val lp = new EltLoop(spark, fixture, rounds, seed, work, cores,
      measure.tracer, measure.extras)
    rec ++= Seq("warm_pass_s" -> Nil, "warm_settled" -> false,
      "warm_failures" -> 0, "rounds" -> rounds,
      "rows_per_pass" -> lp.sourceRows)
    val failedChecks = mutable.ArrayBuffer.empty[String]
    measure.start()
    var pass = 0
    var lastDb = ""
    while (pass == 0 || !measure.expired) {
      pass += 1
      lastDb = s"loop$pass"
      val (ops, checks) = lp.runLoop(lastDb, pass)
      // the loop's time is its rounds'; the end-state checks are not timed
      measure.passes += pass -> ops.map(_.seconds).sum
      // a failed end-state check fails the loop's last round
      measure.ops ++= (if (checks.isEmpty) ops else ops.init :+
        ops.last.copy(ok = false, error = checks.mkString("; ")))
      failedChecks ++= checks.map(c => s"loop $pass: $c")
    }
    measure.stop()
    failedChecks.foreach(c => System.err.println(s"[perfbench] check FAILED: $c"))
    rec += "failed_checks" -> failedChecks.toList
    if (trace) {
      val (rowsIn, cut) = lp.ingested(lastDb)
      measure.layer("streams.rows_in", rowsIn.toDouble / rounds)
      measure.layer("streams.cut_frac", cut)
      measure.layer("sinks.files_written",
        measure.extras.sinkFiles.toDouble / rounds)
    }
  }

  /** True once the last two warm passes differ by at most the tolerance. */
  def settled(times: collection.Seq[Double]): Boolean =
    times.size >= 2 && {
      val (a, b) = (times(times.size - 2), times.last)
      math.abs(b - a) <= SettleTolerance * a
    }
}

/** The measured window: operations, passes, GC, heap, and in a traced
  * run the listener, the spans and the per-layer numbers. */
final class Measure(spark: SparkSession, seconds: Double, cores: Int,
                    trace: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpResult]
  val passes = mutable.ArrayBuffer.empty[(Int, Double)]
  val tracer = new Tracer(trace, spark.sparkContext)
  val extras = new LayerExtras
  private val listener = new LayerListener
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcBeans.map(_.getCollectionTime).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var t0, t1 = 0L
  private var gc0, gc1 = 0L
  /** Wall-clock end of set-up: the start of the first timed operation. */
  var setupEndMs = 0L

  def layer(name: String, v: Double): Unit = layers(name) = v

  def start(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
    gc0 = gcMs
    t0 = System.nanoTime()
    setupEndMs = System.currentTimeMillis()
  }
  def expired: Boolean = System.nanoTime() - t0 >= seconds * 1e9

  def stop(): Unit = {
    t1 = System.nanoTime()
    gc1 = gcMs
    if (tracer.enabled) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      computeLayers()
    }
  }

  private def computeLayers(): Unit = {
    val n = ops.size.max(1).toDouble
    val spans = tracer.all
    val opTime = ops.map(_.seconds).sum
    def spanSum(p: Span => Boolean) = spans.filter(p).map(_.seconds).sum
    val all = listener.layers.values
    def total(f: listener.Counters => Long) = all.map(f).sum.toDouble
    val lq = listener.layers.get("queries")
    val lsink = listener.layers.get("sinks")
    val execWall = spans.filter(_.parent == -1).map(_.op).distinct
      .map(listener.jobWallSeconds).sum
    val runS = total(_.runMs) / 1e3
    layer("queries.build_s", spanSum(_.name == "build") / n)
    layer("queries.build_jobs", lq.map(_.jobs).getOrElse(0L) / n)
    layer("plan.plan_s", spanSum(_.name == "plan") / n)
    layer("plan.exchanges", extras.exchanges / n)
    layer("exec.exec_s", execWall / n)
    layer("exec.jobs", total(_.jobs) / n)
    layer("exec.stages", total(_.stages) / n)
    layer("exec.tasks", total(_.tasks) / n)
    layer("exec.task_cpu_s", total(_.cpuNs) / 1e9 / n)
    layer("exec.task_run_s", runS / n)
    layer("exec.idle_core_s", (execWall * cores - runS) / n)
    layer("exec.shuffle_write_bytes", total(_.shuffleWrite) / n)
    layer("exec.shuffle_read_bytes", total(_.shuffleRead) / n)
    layer("exec.spill_bytes", total(_.spill) / n)
    layer("tables.scan_bytes", total(_.inBytes) / n)
    layer("tables.scan_rows", total(_.inRows) / n)
    // wall share of operation time under the matching spans; spans that
    // run side by side (the streams of one round) are counted once
    def share(p: Span => Boolean) =
      if (opTime == 0) 0.0
      else Tracer.union(spans.filter(p).map(s => (s.startNs, s.endNs))) / 1e9 / opTime
    layer("orchestrator.round_share", share(_.name == "runOnce"))
    layer("orchestrator.extract_share", share(_.name.startsWith("extract:")))
    layer("sinks.write_share", share(_.name.startsWith("sink:")))
    layer("sinks.bytes_written", lsink.map(_.outBytes).getOrElse(0L) / n)
    layer("state.save_share", share(_.name == "state"))
    layer("model.refresh_share", share(_.name == "model"))
    layer("streams.batch_share", share(_.name == "ingest"))
    // set from the finished loop by the ELT workload
    layer("streams.rows_in", 0.0)
    layer("streams.cut_frac", 0.0)
    layer("sinks.files_written", 0.0)
    layer("maintenance.cycle_share", share(_.name == "maintenance"))
    layer("maintenance.repairs", extras.repairs / n)
    layer("maintenance.repair_frac",
      if (extras.audits > 0) extras.repairs.toDouble / extras.audits else 0.0)
    layer("maintenance.index_files", extras.indexFiles.toDouble)
    layer("jvm.gc_s", (gc1 - gc0) / 1e3 / n)
    layer("jvm.heap_peak_mb",
      heapPools.map(_.getPeakUsage.getUsed).sum / (1 << 20).toDouble)
    // the traced run's own op time, against the untraced run's: the
    // difference is the tracing overhead
    layer("trace.op_s", opTime / n)
    layer("trace.spans", spans.size / n)
  }

  def record: Map[String, Any] = Map(
    "setup_end_ms" -> setupEndMs,
    "measured_s" -> (t1 - t0) / 1e9,
    "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
      "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error)).toList,
    "passes" -> passes.map { case (p, t) => Map("pass" -> p, "seconds" -> t) }
      .toList,
    "gc_s" -> (gc1 - gc0) / 1e3,
    "layers" -> layers.toMap)
}
