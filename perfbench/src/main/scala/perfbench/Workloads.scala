package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Tables}
import graft.operators.{TextDedup, Upsert, Warehouse, Watermark}
import graft.runner.{Maintenance, MaintainedIndex, Orchestrator}
import graft.sinks.Sinks
import graft.state.Bookmarks

/** One timed operation: a query, or one round of the ELT loop. */
final case class OpResult(name: String, pass: Int, seconds: Double,
                          ok: Boolean, error: String = "")

/** What the expected-digest file holds for one query. */
final case class Expected(columns: Seq[String], digest: String)

/** Per-operation layer numbers gathered in a traced run, beyond what the
  * listener counts by itself. */
final class LayerExtras {
  var exchanges = 0L
  var sinkFiles = 0L
  var repairs = 0L
  var audits = 0L
  var indexFiles = 0L
}

/** A query workload: one client runs the named registered queries one
  * after another; each operation builds the query, forces its physical
  * plan and materializes every row into the result digest, which must
  * equal the DuckDB oracle's. */
final class QueryWorkload(spark: SparkSession, fixture: String,
                          names: Seq[String],
                          expected: Map[String, Expected],
                          tracer: Tracer, extras: LayerExtras) {

  def run(name: String, pass: Int): OpResult = {
    val op = s"$name#$pass"
    tracer.beginOp(op)
    val t0 = System.nanoTime()
    val outcome =
      try tracer.span(op, -1, name, "queries") { root =>
        val df = tracer.span(op, root, "build", "queries") { _ =>
          SparkEntry.queries(name)(spark, fixture)
        }
        val plan = tracer.span(op, root, "plan", "plan") { _ =>
          df.queryExecution.executedPlan
        }
        val got = tracer.span(op, root, "execute", "exec") { _ =>
          Canon.digest(df)
        }
        if (tracer.enabled) extras.exchanges += QueryWorkload.exchanges(plan)
        expected.get(name) match {
          case None => Some("no expected digest")
          case Some(e) if e.columns != Canon.columns(df) =>
            Some(s"columns ${Canon.columns(df)} != ${e.columns}")
          case Some(e) if e.digest != got.render =>
            Some(s"digest ${got.render} != ${e.digest}")
          case _ => None
        }
      } catch { case e: Throwable => Some(s"threw: ${e.getMessage}") }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.endOp()
    // operators' own caches must not leak into the next query
    spark.catalog.clearCache()
    System.err.println(f"[perfbench] $op ${dt}%.3f s" +
      outcome.fold("")(err => s" FAILED: $err"))
    OpResult(name, pass, dt, outcome.isEmpty, outcome.getOrElse(""))
  }

  /** Runs each query once, `threads` at a time (untimed warm-up). */
  def concurrentPass(threads: Int): Int = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = names.map { n =>
        pool.submit(() => {
          try {
            val df = SparkEntry.queries(n)(spark, fixture)
            Canon.digest(df)
            0
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] warm-up $n threw: ${e.getMessage}")
            1
          }
        })
      }
      fs.map(_.get()).sum
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}

object QueryWorkload {
  /** Shuffle and broadcast exchanges in a physical plan, counting the
    * stages adaptive execution materialized. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => 1 + exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  val eltQueries: Seq[String] = Seq(
    "q1_task_durations", "q2_watermark_scan", "q3_flatten_json",
    "q4_explode_substream", "q5_schema_project", "q6_upsert_dedup",
    "q7_multi_tenant_union", "q8_date_parse_msjson", "q9_interval_chunks",
    "q10_assoc_flatten", "q11_analytics_rollup", "q12_bookmark_advance",
    "q13_sessionize", "x5_tpch_q1", "x6_star_join", "x17_top_customers",
    "x23_cube", "x27_pivot_daily", "x157_rollup_revenue",
    "x161_rolling_revenue")

  /** The kernel-heavy corpus operators. A run takes over a minute, more
    * than the driven benchmark's time allows, so `BENCHMARK.json` leaves
    * this workload out; `run.py --workload corpus_queries` still runs it. */
  val corpusQueries: Seq[String] = Seq(
    "x8_ngram_jaccard", "x93_cluster_split", "x224_substring_dedup",
    "x234_substring_manifest_serve", "x120_pq_codes", "x140_prf_retrieval",
    "x145_mmr_rerank", "x146_ccnet_buckets", "x188_pagerank")
}

/** The incremental write path, `rounds` rounds over time slices of the
  * fixture's `events`, `orders`, `lineitem` and `documents`. Each round:
  * `Orchestrator.runOnce` (extract → `Watermark.newerThan` →
  * `Upsert.latestPerKey` → `Sinks.writeBucketed` append), `Bookmarks.save`
  * and a model refresh over the landed tables. The last round then runs
  * one `Trigger.AvailableNow` batch of `Streams.substringIngestManifest`
  * over the landed documents and `Maintenance.runCycle` over a digest
  * index of them. Every loop runs in its own database and directories. */
final class EltLoop(spark: SparkSession, fixture: String, rounds: Int,
                    seed: Long, workDir: Path, cores: Int,
                    tracer: Tracer, extras: LayerExtras) {
  import EltLoop._

  private val sources: Map[String, DataFrame] = streams.map { s =>
    val t = Tables(spark, fixture, s.table)
    s.name -> (if (s.table == "documents")
      t.withColumn("ts", timestamp_seconds(lit(DocEpoch) + col("doc_id") * 60))
    else t)
  }.toMap

  /** Slice bounds per stream: R cut points across its time range, the
    * inner ones jittered by the seed; the last is the stream's maximum. */
  private val bounds: Map[String, Seq[java.sql.Timestamp]] = {
    val rnd = new Random(seed)
    val jitter = (1 until rounds).map(k =>
      (k + (rnd.nextDouble() - 0.5) * 0.5) / rounds)
    streams.map { s =>
      val r = sources(s.name).agg(min(col(s.ts).cast("timestamp")),
        max(col(s.ts).cast("timestamp"))).head()
      val (lo, hi) = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
      s.name -> (jitter.map(f => new java.sql.Timestamp(lo + ((hi - lo) * f).toLong)) :+
        r.getTimestamp(1))
    }.toMap
  }

  /** Source rows the loop lands: every row of every stream. */
  val sourceRows: Long = streams.map(s => sources(s.name).count()).sum

  /** One loop in database `db`; returns its rounds and check failures. */
  def runLoop(db: String, pass: Int): (Seq[OpResult], Seq[String]) = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val dir = Files.createDirectories(workDir.resolve(db))
    val land = streams.map(s => s.name -> s"$db.land_${s.name}").toMap
    val digT = s"$db.doc_digests"
    val (ledT, base) = (s"$db.ingest_ledger", s"$db.ingest_keys")
    val cleanT = s"$db.clean_docs"
    val modelT = s"$db.model_daily_revenue"
    val statePath = dir.resolve("state.json")
    val ckpt = dir.resolve("checkpoint").toString
    // the digest index starts empty; maintenance fills it
    TextDedup.writeDigestIndex(sources("documents").limit(0), "text", digT,
      numBuckets = Buckets)
    var round = 0
    val jobs = streams.map { s =>
      Orchestrator.StreamJob(s.name, s.ts,
        extract = (sp, bookmark) => {
          val src = sources(s.name)
            .filter(col(s.ts) <= lit(bounds(s.name)(round - 1)))
          val batch = bookmark.fold(src)(b => Watermark.newerThan(src, s.ts, b))
          Upsert.latestPerKey(batch, s.keys, s.ts, s.tieBreak)
        },
        sink = df => Sinks.writeBucketed(df, land(s.name), s.keys.take(1),
          Buckets, append = true),
        advanceToMaxSeen = true, keyProperties = s.keys)
    }
    val index = MaintainedIndex("doc_digests",
      tables = Seq(("digests", digT, Seq.empty)),
      corpusKeys = sp => digestKeys(sp.table(land("documents"))),
      indexKeys = sp => sp.table(digT).select(col("digest")),
      appendMissing = Some((sp, keys) => Sinks.writeBucketed(
        keys.toDF("digest"), digT, Seq("digest"), Buckets, append = true)),
      deleteStale = Some((sp, keys) =>
        Warehouse.deleteFromIndex(sp, digT, "digest", keys)))

    var state = Bookmarks.empty
    var batches = 0L
    var lastAudit = ""
    val results = (1 to rounds).map { r =>
      round = r
      val op = s"$db-round$r"
      tracer.beginOp(op)
      val t0 = System.nanoTime()
      val err = try {
        tracer.span(op, -1, "round", "orchestrator") { root =>
          state = tracer.span(op, root, "runOnce", "orchestrator") { ro =>
            Orchestrator.runOnce(spark,
              Seq(Orchestrator.Pipeline("fixture", jobs.map(traced(op, ro, _)))),
              state, parallelism = cores)
          }
          tracer.span(op, root, "state", "state") { _ =>
            Bookmarks.save(state, statePath)
          }
          tracer.span(op, root, "model", "model") { mo =>
            val df = tracer.span(op, mo, "build", "queries") { _ =>
              dailyRevenue(upserted(spark.table(land("orders")), "orders"),
                upserted(spark.table(land("lineitem")), "lineitem"))
            }
            val plan = tracer.span(op, mo, "plan", "plan") { _ =>
              df.queryExecution.executedPlan
            }
            if (tracer.enabled) extras.exchanges += QueryWorkload.exchanges(plan)
            tracer.span(op, mo, "execute", "model") { _ =>
              df.write.mode("overwrite").saveAsTable(modelT)
            }
          }
          // the ingest and the maintenance cycle close the loop's last round
          if (r == rounds) batches += tracer.span(op, root, "ingest", "streams") { _ =>
            val q = graft.streaming.Streams.substringIngestManifest(
                spark.readStream.schema(spark.table(land("documents")).schema)
                  .parquet(tableDir(land("documents"))),
                "doc_id", "text", L = 24, ledT, "docs", base,
                numBuckets = Buckets) { (cleaned, _) =>
                cleaned.write.mode("append").saveAsTable(cleanT)
              }
              .trigger(Trigger.AvailableNow())
              .option("checkpointLocation", ckpt).start()
            q.awaitTermination()
            q.recentProgress.count(_.numInputRows > 0).toLong
          }
          if (r == rounds) tracer.span(op, root, "maintenance", "maintenance") { _ =>
            val log = Maintenance.runCycle(spark, Seq(index))
            val audits = log.filter(_.action == "audit")
            lastAudit = audits.lastOption.map(_.detail).getOrElse("")
            if (tracer.enabled) {
              extras.audits += audits.size
              extras.repairs += log.count(a =>
                !Set("audit", "conflict_audit").contains(a.action))
            }
          }
        }
        None
      } catch { case e: Throwable =>
        e.printStackTrace()
        Some(s"threw: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.endOp()
      if (tracer.enabled) {
        extras.sinkFiles = streams.map(s => files(land(s.name))).sum
        extras.indexFiles = files(digT)
      }
      System.err.println(f"[perfbench] $op ${dt}%.3f s" +
        err.fold("")(e => s" FAILED: $e"))
      OpResult(s"round$r", pass, dt, err.isEmpty, err.getOrElse(""))
    }
    val checks =
      if (results.exists(!_.ok)) Seq("a round failed")
      else verify(land, state, ledT, modelT, batches, lastAudit)
    (results, checks)
  }

  /** The loop's end state against the whole fixture. */
  private def verify(land: Map[String, String], state: Bookmarks,
                     ledT: String, modelT: String, batches: Long,
                     lastAudit: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    streams.foreach { s =>
      // each round lands exactly its slice's latest row per key
      val landed = spark.table(land(s.name)).count()
      val slices = sources(s.name).select((s.keys.map(col) :+ slice(s)): _*)
        .distinct().count()
      if (landed != slices) out += s"${s.name}: landed $landed rows != $slices"
      val cols = sources(s.name).columns.toSeq
      val got = Canon.digest(upserted(
        spark.table(land(s.name)).select(cols.map(col): _*), s.name))
      val want = Canon.digest(upserted(sources(s.name), s.name))
      if (got != want) out += s"${s.name}: landing ${got.render} != ${want.render}"
      val maxTs = sources(s.name).agg(max(col(s.ts).cast("timestamp")))
        .head().getTimestamp(0).toInstant.toString
      if (!state.get(s"fixture.${s.name}").contains(maxTs))
        out += s"${s.name}: bookmark ${state.get(s"fixture.${s.name}")} != $maxTs"
    }
    val model = Canon.digest(spark.table(modelT))
    val wantModel = Canon.digest(dailyRevenue(
      upserted(sources("orders"), "orders"),
      upserted(sources("lineitem"), "lineitem")))
    if (model != wantModel) out += s"model ${model.render} != ${wantModel.render}"
    val ledgerRows = spark.table(ledT).filter(col("index_name") === "docs")
      .count()
    if (ledgerRows != batches) out += s"ledger rows $ledgerRows != batches $batches"
    if (lastAudit != "missing=0 stale=0") out += s"last audit: $lastAudit"
    out.result()
  }

  /** The round whose slice holds each row of stream `s`. */
  private def slice(s: StreamDef) =
    bounds(s.name).zipWithIndex.foldRight(lit(null).cast("int")) {
      case ((b, k), rest) => when(col(s.ts) <= lit(b), lit(k + 1)).otherwise(rest)
    }

  /** Wraps a stream's extract and sink closures in spans. */
  private def traced(op: String, parent: Int,
                     j: Orchestrator.StreamJob): Orchestrator.StreamJob =
    if (!tracer.enabled) j
    else j.copy(
      extract = (sp, b) =>
        tracer.span(op, parent, s"extract:${j.name}", "orchestrator")(_ =>
          j.extract(sp, b)),
      sink = df =>
        tracer.span(op, parent, s"sink:${j.name}", "sinks")(_ => j.sink(df)))

  private def tableDir(table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath

  /** Data files under a table's location. */
  private def files(table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(tableDir(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Documents the ingest took in over a finished loop, and the share of
    * them it cut. */
  def ingested(db: String): (Long, Double) = {
    val r = spark.table(s"$db.clean_docs")
      .agg(count(when(col("n_chars_removed") > 0, 1)), count(lit(1))).head()
    (r.getLong(1), if (r.getLong(1) == 0) 0.0 else r.getLong(0).toDouble / r.getLong(1))
  }
}

object EltLoop {
  final case class StreamDef(name: String, table: String, ts: String,
                             keys: Seq[String], tieBreak: Seq[String] = Nil)

  /** `events` lands as the latest event per user, the others per key. */
  val streams: Seq[StreamDef] = Seq(
    StreamDef("events", "events", "ts", Seq("user_id"), Seq("event_id")),
    StreamDef("orders", "orders", "o_orderdate", Seq("o_orderkey")),
    StreamDef("lineitem", "lineitem", "l_shipdate",
      Seq("l_orderkey", "l_linenumber")),
    StreamDef("documents", "documents", "ts", Seq("doc_id")))

  val Rounds = 6
  val Buckets = 4
  /** Documents carry no time; the loop gives doc `i` the time
    * 2024-01-01 + i minutes so that they arrive in id order. */
  val DocEpoch = 1704067200L

  /** The latest row per key of a stream's rows, as the model reads them. */
  def upserted(df: DataFrame, stream: String): DataFrame = {
    val s = streams.find(_.name == stream).get
    Upsert.latestPerKey(df, s.keys, s.ts, s.tieBreak)
  }

  def digestKeys(docs: DataFrame): DataFrame =
    docs.select(sha2(lower(trim(col("text"))), 256).as("digest")).distinct()

  /** The model the loop refreshes: revenue and orders per order day,
    * summed in whole cents so that no summation order can change it. */
  def dailyRevenue(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          100).cast("long")).as("revenue_cents"),
        countDistinct(col("o_orderkey")).as("orders"))
}
