package graft.runner

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Watermark
import graft.state.Bookmarks

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val events = Seq(
    (1L, ts("2024-01-01 00:00:00")),
    (2L, ts("2024-01-20 00:00:00"))
  ).toDF("event_id", "ts")

  test("runOnce filters by bookmark, sinks, and advances state (O1/O2/W3)") {
    var sunk: Seq[Long] = Nil
    val job = Orchestrator.StreamJob(
      name = "events", tsCol = "ts",
      extract = (_, bk) => bk.map(Watermark.newerThan(events, "ts", _))
        .getOrElse(events),
      sink = (df: DataFrame) =>
        sunk = df.collect().map(_.getLong(0)).toSeq.sorted,
      advanceToMaxSeen = true)
    val p = Orchestrator.Pipeline("sys", Seq(job))

    val s1 = Orchestrator.runOnce(spark, Seq(p), Bookmarks.empty)
    assert(sunk == Seq(1L, 2L)) // first run: full extract
    assert(s1.get("sys.events").contains("2024-01-20T00:00:00Z")) // max seen

    val s2 = Orchestrator.runOnce(spark, Seq(p), s1)
    assert(sunk.isEmpty) // nothing newer than the advanced bookmark
    assert(s2.get("sys.events") == s1.get("sys.events")) // unchanged on empty
  }

  test("runOnce default policy advances the bookmark to run start, " +
      "independent of the data seen (W3)") {
    val job = Orchestrator.StreamJob("events", "ts",
      extract = (_, _) => events, sink = _ => ())
    assert(!job.advanceToMaxSeen)
    val p = Orchestrator.Pipeline("sys", Seq(job))
    def bracketed(state: Bookmarks): Bookmarks = {
      val before = java.time.Instant.now()
      val s = Orchestrator.runOnce(spark, Seq(p), state)
      val after = java.time.Instant.now()
      val bk = java.time.Instant.parse(s.get("sys.events").get)
      assert(!bk.isBefore(before) && !bk.isAfter(after))
      s
    }
    val s1 = bracketed(Bookmarks.empty) // not the batch max (2024-01-20)
    Thread.sleep(5)
    val s2 = bracketed(s1) // advances again though nothing new was seen
    assert(s2.get("sys.events") != s1.get("sys.events"))
  }

  test("catalog round-trip drives selection: discover, patch, sync only selected") {
    var synced: Seq[String] = Nil
    def job(n: String) = Orchestrator.StreamJob(n, "ts",
      extract = (_, _) => events, sink = _ => synced :+= n,
      keyProperties = Seq("event_id"),
      schemaDdl = Some("event_id BIGINT, ts TIMESTAMP"))
    val p = Orchestrator.Pipeline("sys", Seq(job("a"), job("b"), job("c")))

    // discovery emits everything UNselected — nothing syncs yet
    val discovered = Catalog.discover(Seq(p))
    assert(discovered.entries.map(_.stream) == Seq("a", "b", "c"))
    assert(discovered.entries.forall(!_.selected))
    assert(discovered.entries.head.keyProperties == Seq("event_id"))
    Orchestrator.runOnce(spark, Seq(p), Bookmarks.empty,
      catalog = Some(discovered))
    assert(synced.isEmpty)

    // selection patch + file round-trip (the user-editable artifact)
    val path = Files.createTempDirectory("cat").resolve("catalog.json")
    Catalog.save(discovered.select(Seq("sys" -> "a", "sys" -> "c")), path)
    val loaded = Catalog.load(path)
    assert(loaded.isSelected("sys", "a") && loaded.isSelected("sys", "c"))
    assert(!loaded.isSelected("sys", "b"))
    assert(loaded.entries.head.schema == "event_id BIGINT, ts TIMESTAMP")

    val s = Orchestrator.runOnce(spark, Seq(p), Bookmarks.empty,
      catalog = Some(loaded))
    assert(synced.sorted == Seq("a", "c")) // b skipped
    assert(s.get("sys.a").isDefined && s.get("sys.b").isEmpty)
  }

  test("JSON-schema -> catalog -> projection: the declared-schema config path") {
    // the reference's path: a stream's schemas/<s>.json declares the shape,
    // the catalog carries it, the engine projects to it
    val schemaJson =
      """{"type": "object", "additionalProperties": false,
          "properties": {
            "event_id": {"type": ["null", "integer"]},
            "ts": {"type": ["null", "string"], "format": "date-time"}}}"""
    val declared = graft.schema.JsonSchema.toStructType(schemaJson)
    var projectedCols: Seq[String] = Nil
    val job = Orchestrator.StreamJob("e", "ts",
      extract = (_, _) => events.withColumn("extra",
        org.apache.spark.sql.functions.lit("drop-me")),
      sink = df => projectedCols = df.columns.toSeq,
      keyProperties = Seq("event_id"),
      schemaDdl = Some(declared.toDDL))
    val p = Orchestrator.Pipeline("sys", Seq(job))
    val cat = Catalog.discover(Seq(p)).select(Seq("sys" -> "e"))
    // the catalog's schema string round-trips to the declared StructType
    val fromCatalog = org.apache.spark.sql.types.StructType
      .fromDDL(cat.entries.head.schema)
    assert(fromCatalog == declared)
    // and a job projecting to it drops undeclared columns
    val projecting = job.copy(sink = df => projectedCols =
      graft.operators.Project.toDeclared(df, fromCatalog.fieldNames.toSeq)
        .columns.toSeq)
    Orchestrator.runOnce(spark, Seq(p.copy(jobs = Seq(projecting))),
      Bookmarks.empty, catalog = Some(cat))
    assert(projectedCols == Seq("event_id", "ts")) // extra dropped
  }

  test("loop persists state after each round") {
    val statePath = Files.createTempDirectory("orch").resolve("state.json")
    val job = Orchestrator.StreamJob("e", "ts",
      extract = (_, _) => events, sink = _ => (), advanceToMaxSeen = true)
    Orchestrator.loop(spark, Seq(Orchestrator.Pipeline("sys", Seq(job))),
      statePath, intervalMillis = 0, rounds = 2)
    val persisted = Bookmarks.load(statePath)
    assert(persisted.get("sys.e").contains("2024-01-20T00:00:00Z"))
  }

  test("loop + maintenance: a multi-cycle run ends compacted AND fresh " +
      "with no manual calls — stale deleted, missing appended after " +
      "every ingest, partials deep-merged, file layout compacted (the " +
      "scheduler's per-cycle dbt-maintenance analog)") {
    import org.apache.spark.sql.functions.{col, lit, lower, pmod, sha2, trim}
    import graft.operators.{Graph, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val landT = "graft_idx_test.m_docs"
    val digT = "graft_idx_test.m_digests"
    val et = Seq("graft_idx_test.m_ob", "graft_idx_test.m_edges",
      "graft_idx_test.m_totals", "graft_idx_test.m_stats")
    (Seq(landT, digT) ++ et).foreach(graft.sinks.Sinks.dropManaged(spark, _))
    // bootstrap: the landing corpus holds one seed doc; the digest
    // index additionally holds a PHANTOM digest (a prior takedown the
    // index never heard about) — cycle 1 must delete it
    Seq((0L, "seed doc")).toDF("doc_id", "text")
      .write.format("parquet").saveAsTable(landT)
    graft.operators.TextDedup.writeDigestIndex(
      spark.table(landT).unionByName(
        Seq((99L, "stale text")).toDF("doc_id", "text")),
      "text", digT, numBuckets = 2)
    // edge index seeded with two disjoint ingests: partial rows the
    // cycle's deep merge must fold
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L), (13L, 1L), (13L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obT, edT, toT, stT) = et
    Graph.writeEdgeIndex(li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
      part, obT, edT, toT, stT, numBuckets = 2)
    Graph.appendEdgeIndex(li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
      part, obT, edT, toT, stT, numBuckets = 2)

    val digests = (df: DataFrame) =>
      df.select(sha2(lower(trim(col("text"))), 256).as("k"))
    val maintained = Seq(
      MaintainedIndex("digests",
        tables = Seq(("digests", digT, Seq.empty)),
        corpusKeys = s => digests(s.table(landT)),
        indexKeys = s => s.table(digT).select(col("digest")),
        appendMissing = Some((s, keys) => graft.sinks.Sinks.writeBucketed(
          keys.toDF("digest"), digT, Seq("digest"), 2, append = true)),
        deleteStale = Some((s, keys) =>
          Warehouse.deleteFromIndex(s, digT, "digest", keys))),
      MaintainedIndex("edges",
        tables = Seq(("ob", obT, Seq("order_key", "brand")),
          ("edges", edT, Seq("src", "dst")),
          ("totals", toT, Seq("brand")), ("stats", stT, Seq.empty)),
        corpusKeys = s => li.select(col("l_orderkey")).distinct(),
        indexKeys = s => s.table(obT).select(col("order_key")).distinct(),
        merge = Some(s => Graph.mergeEdgeIndex(s, obT, edT, toT, stT))))

    // three cycles, each landing two new docs BEFORE maintenance runs
    var round = 0
    val job = Orchestrator.StreamJob("docs", "ts",
      extract = (s, _) => {
        round += 1
        Seq((round * 10L + 1, s"doc ${round}a"),
          (round * 10L + 2, s"doc ${round}b")).toDF("doc_id", "text")
      },
      sink = df => df.write.mode("append").format("parquet")
        .saveAsTable(landT))
    val statePath = Files.createTempDirectory("morch").resolve("state.json")
    Orchestrator.loop(spark,
      Seq(Orchestrator.Pipeline("sys", Seq(job))), statePath,
      intervalMillis = 0, rounds = 3, maintenance = maintained)

    // fresh: every landed doc indexed, the phantom digest gone
    val fresh = Warehouse.indexFreshnessAudit(Seq(("d",
        digests(spark.table(landT)),
        spark.table(digT).select(col("digest"))))).collect().head
    assert(fresh.getLong(3) === 0L, "missing after the loop")
    assert(fresh.getLong(4) === 0L, "stale after the loop")
    // compacted: three append cycles, still <= one file per bucket
    val files = Warehouse.indexFileAudit(spark, Seq(("d", digT)))
      .collect().head
    assert(files.getLong(2) <= files.getLong(1),
      s"files ${files.getLong(2)} > buckets after maintenance")
    // deep-merged: the additive tables are back to one row per key
    val worst = Warehouse.indexPartialAudit(spark,
        Seq(("e", edT, Seq("src", "dst")), ("t", toT, Seq("brand"))))
      .collect().map(_.getDouble(3)).max
    assert(worst === 1.0, "edge partials not folded")
    // steady state: one more cycle repairs NOTHING (audit rows only)
    val log = Maintenance.runCycle(spark, maintained)
    assert(log.forall(_.action == "audit"), log.mkString("; "))
    assert(log.forall(_.detail == "missing=0 stale=0"), log.mkString("; "))
    (Seq(landT, digT) ++ et).foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("steady-state cycle cost: an audit-only cycle reads the corpus " +
      "key frame EXACTLY once per index — the closing audit row reuses " +
      "the opening audit when nothing changed the key sets") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val digT = "graft_idx_test.ss_digests"
    graft.sinks.Sinks.dropManaged(spark, digT)
    val docs = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    graft.operators.TextDedup.writeDigestIndex(docs, "text", digT,
      numBuckets = 2)
    var corpusScans = 0
    val idx = MaintainedIndex("ss",
      tables = Seq(("digests", digT, Seq.empty)),
      corpusKeys = s => {
        corpusScans += 1
        docs.select(org.apache.spark.sql.functions
          .sha2(org.apache.spark.sql.functions
            .lower(org.apache.spark.sql.functions
              .trim(col("text"))), 256).as("k"))
      },
      indexKeys = s => s.table(digT).select(col("digest")),
      appendMissing = Some((s, keys) => graft.sinks.Sinks.writeBucketed(
        keys.toDF("digest"), digT, Seq("digest"), 2, append = true)),
      deleteStale = Some((s, keys) =>
        graft.operators.Warehouse.deleteFromIndex(s, digT, "digest", keys)))
    val log = Maintenance.runCycle(spark, Seq(idx))
    assert(log.map(_.action) === Seq("audit"), log.mkString("; "))
    assert(log.head.detail === "missing=0 stale=0")
    assert(corpusScans === 1,
      s"audit-only cycle built the corpus key frame $corpusScans times")
    graft.sinks.Sinks.dropManaged(spark, digT)
  }

  test("loop + tombstone capture: an IN-LOOP corpus delete (captured " +
      "by the landing delete path) reaches the additive edge index " +
      "through the cycle's idempotent versioned delete — the index " +
      "ends stale=0 and rebuild-identical, and a re-cycle re-applies " +
      "nothing (ledger no-op + pruned feed)") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val landT = "graft_idx_test.tc_lineitem"
    val tombT = "graft_idx_test.tc_tombstones"
    val ledger = "graft_idx_test.tc_ledger"
    val bases = Seq("graft_idx_test.tc_ob", "graft_idx_test.tc_edges",
      "graft_idx_test.tc_totals", "graft_idx_test.tc_stats")
    val rb = bases.map(_ + "_reb")
    val all = Seq(landT, tombT, ledger) ++ rb ++
      bases.flatMap(b => b +: (1 to 4).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 3L), (13L, 1L), (13L, 2L), (14L, 2L), (14L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    li.write.format("parquet").saveAsTable(landT)
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(spark.table(landT), part, ledger,
      "edges", obB, edB, toB, stB, numBuckets = 2)

    val maintained = Seq(MaintainedIndex("edges",
      tables = Seq(("ob", obB, Seq("order_key", "brand"))),
      resolveTables = Some(s => {
        val (ob, ed, tot, _) = Graph.resolveEdgeIndex(s, ledger, "edges",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq("order_key", "brand")),
          ("edges", ed, Seq("src", "dst")), ("totals", tot, Seq("brand")))
      }),
      corpusKeys = s => s.table(landT).select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "edges",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      tombstones = Some(TombstoneFeed(tombT,
        (s, rows, bid) => Graph.deleteFromEdgeIndexVersioned(rows, part,
          ledger, "edges", obB, edB, toB, stB, batchId = Some(bid))))))

    // round 2 of the loop DELETES orders 11 and 14 from the landing
    // table through the capture path; the SAME round's maintenance
    // cycle consumes the captured batch
    var round = 0
    val job = Orchestrator.StreamJob("docs", "ts",
      extract = (s, _) => { round += 1; li.limit(0) },
      sink = _ => if (round == 2) {
        Warehouse.deleteFromLandingWithCapture(spark, landT,
          "l_orderkey", li.filter(col("l_orderkey").isin(11L, 14L))
            .select(col("l_orderkey")), tombT)
        ()
      })
    val statePath = java.nio.file.Files.createTempDirectory("torch")
      .resolve("state.json")
    Orchestrator.loop(spark,
      Seq(Orchestrator.Pipeline("sys", Seq(job))), statePath,
      intervalMillis = 0, rounds = 3, maintenance = maintained)

    // fresh: the edge index reflects the post-delete corpus
    val fresh = Warehouse.indexFreshnessAudit(Seq(("e",
        spark.table(landT).select(col("l_orderkey")).distinct(),
        Graph.readEdgeIndexVersioned(spark, ledger, "edges",
          obB, edB, toB, stB)._1.select(col("order_key")).distinct())))
      .collect().head
    assert(fresh.getLong(3) === 0L, "missing after the loop")
    assert(fresh.getLong(4) === 0L, "stale after the loop")
    // rebuild-identical serving frames
    val Seq(obR, edR, toR, stR) = rb
    Graph.writeEdgeIndex(li.filter(!col("l_orderkey").isin(11L, 14L)),
      part, obR, edR, toR, stR, numBuckets = 2)
    val (obV, eV, tV, sV) = Graph.readEdgeIndexVersioned(spark, ledger,
      "edges", obB, edB, toB, stB)
    val (obE, eE, tE, sE) = Graph.readEdgeIndex(spark, obR, edR, toR, stR)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rs(obV) === rs(obE) && rs(eV) === rs(eE))
    assert(rs(tV) === rs(tE) && rs(sV) === rs(sE))
    // the feed was pruned and the delete applied exactly once: another
    // cycle repairs nothing
    assert(spark.table(tombT).count() === 0L)
    val log2 = Maintenance.runCycle(spark, maintained)
    assert(log2.forall(_.action == "audit"), log2.mkString("; "))
    // exactly one delete ledger row however many cycles consumed it
    assert(Snapshots.ledger(spark, ledger, "edges")
      .filter(col("action") === "delete").count() === 1L)
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("runCycle + compactFamily: a VERSIONED family compacts by " +
      "publishing the next snapshot — one family-wide staged write, " +
      "logged once, with the old snapshot untouched under an " +
      "in-flight reader (the per-table in-place swap would race it)") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.cf_ledger"
    val bases = Seq("graft_idx_test.cf_ob", "graft_idx_test.cf_edges",
      "graft_idx_test.cf_totals", "graft_idx_test.cf_stats")
    val all = ledger +: bases.flatMap(b =>
      b +: (1 to 3).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 2L), (12L, 3L), (13L, 1L), (13L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obB, edB, toB, stB) = bases
    // two ingests → >1 file per bucket on the additive tables
    Graph.writeEdgeIndexVersioned(
      li.filter(col("l_orderkey") % 2 === 0), part, ledger, "cf",
      obB, edB, toB, stB, numBuckets = 2)
    Graph.appendEdgeIndexVersioned(
      li.filter(col("l_orderkey") % 2 === 1), part, ledger, "cf",
      obB, edB, toB, stB)
    // an in-flight reader pinned to v1 (resolution happens at build)
    val (_, eOld, _, _) = Graph.readEdgeIndexVersioned(spark, ledger,
      "cf", obB, edB, toB, stB)
    val truth = eOld.collect().map(_.toSeq).toSet
    val resolved = (s: org.apache.spark.sql.SparkSession) => {
      val (ob, ed, tot, st) = Graph.resolveEdgeIndex(s, ledger, "cf",
        obB, edB, toB, stB)
      Seq(("ob", ob, Seq.empty[String]), ("edges", ed, Seq.empty[String]),
        ("totals", tot, Seq.empty[String]),
        ("stats", st, Seq.empty[String]))
    }
    val idx = MaintainedIndex("cf",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(resolved),
      corpusKeys = s => li.select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "cf",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFamily = Some(s => {
        Graph.mergeEdgeIndexVersioned(s, ledger, "cf",
          obB, edB, toB, stB); ()
      }))
    val log = Maintenance.runCycle(spark, Seq(idx))
    assert(log.count(_.action == "compact") === 1, log.mkString("; "))
    assert(log.exists(a => a.action == "audit" &&
      a.detail == "missing=0 stale=0"), log.mkString("; "))
    // the publish landed: v2 current, canonical one-file-per-bucket
    assert(Snapshots.currentVersion(spark, ledger, "cf") === 2L)
    val (_, edT, _, _) = Graph.resolveEdgeIndex(spark, ledger, "cf",
      obB, edB, toB, stB)
    val fa = Warehouse.indexFileAudit(spark, Seq(("edges", edT)))
      .collect().head
    assert(fa.getLong(2) <= math.max(fa.getLong(1), 1L),
      s"v2 edges not compacted: files=${fa.getLong(2)}")
    // rows preserved bit-identically; the v1 reader still serves its
    // COMPLETE old snapshot (nothing was dropped or swapped in place)
    assert(Graph.readEdgeIndexVersioned(spark, ledger, "cf",
      obB, edB, toB, stB)._2.collect().map(_.toSeq).toSet === truth)
    assert(eOld.collect().map(_.toSeq).toSet === truth)
    // steady state: one more cycle compacts nothing more
    val log2 = Maintenance.runCycle(spark, Seq(idx))
    assert(log2.forall(_.action == "audit"), log2.mkString("; "))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }
  test("runCycle retire: a multi-cycle run reclaims snapshots past the " +
      "grace window — old physical tables drop, ledger rows stay, " +
      "current + previous versions survive, serving reads unaffected") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val landT = "graft_idx_test.rt_lineitem"
    val tombT = "graft_idx_test.rt_tombstones"
    val ledger = "graft_idx_test.rt_ledger"
    val bases = Seq("graft_idx_test.rt_ob", "graft_idx_test.rt_edges",
      "graft_idx_test.rt_totals", "graft_idx_test.rt_stats")
    val all = Seq(landT, tombT, ledger) ++
      bases.flatMap(b => b +: (1 to 6).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L), (12L, 1L),
      (12L, 2L), (13L, 2L), (13L, 3L), (14L, 1L), (14L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    li.write.format("parquet").saveAsTable(landT)
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(spark.table(landT), part, ledger,
      "rt", obB, edB, toB, stB, numBuckets = 2) // v1
    val idx = MaintainedIndex("rt",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "rt",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => s.table(landT).select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "rt",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      tombstones = Some(TombstoneFeed(tombT,
        (s, rows, bid) => Graph.deleteFromEdgeIndexVersioned(rows, part,
          ledger, "rt", obB, edB, toB, stB, batchId = Some(bid)),
        isApplied = Some((s, bid) =>
          Snapshots.isApplied(s, ledger, "rt", bid)))),
      ledger = Some((ledger, "rt")),
      retireBases = Some(bases)) // keepVersions = 2 (default)
    // three cycles, each consuming one captured delete -> versions
    // grow v2, v3, v4; the grace window trails one cycle behind
    Seq(10L, 12L, 14L).zipWithIndex.foreach { case (key, i) =>
      Warehouse.deleteFromLandingWithCapture(spark, landT, "l_orderkey",
        li.filter(col("l_orderkey") === key).select(col("l_orderkey")),
        tombT, ledger = Some((ledger, "rt")))
      val log = Maintenance.runCycle(spark, Seq(idx))
      val cur = Snapshots.currentVersion(spark, ledger, "rt")
      assert(cur === (i + 2).toLong, log.mkString("; "))
      // cycles publishing v3+ retire the now-out-of-grace snapshots
      if (cur >= 3)
        assert(log.exists(a => a.action == "retire" &&
          a.detail == s"versions=${cur - 2}"), log.mkString("; "))
    }
    // current (v4) + previous (v3) survive; v1, v2 physically gone
    bases.foreach { b =>
      assert(spark.catalog.tableExists(s"${b}_v4"), s"$b v4 missing")
      assert(spark.catalog.tableExists(s"${b}_v3"), s"$b v3 missing")
      assert(!spark.catalog.tableExists(s"${b}_v2"), s"$b v2 lingers")
      assert(!spark.catalog.tableExists(s"${b}_v1"), s"$b v1 lingers")
    }
    // ledger rows all preserved: build + 3 deletes
    assert(Snapshots.ledger(spark, ledger, "rt").count() === 4L)
    // serving reads resolve the current snapshot and match a
    // from-scratch rebuild of the final landing state
    val rb = bases.map(_ + "_reb")
    val Seq(obR, edR, toR, stR) = rb
    rb.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    Graph.writeEdgeIndex(spark.table(landT), part, obR, edR, toR, stR,
      numBuckets = 2)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val (obV, eV, tV, sV) = Graph.readEdgeIndexVersioned(spark, ledger,
      "rt", obB, edB, toB, stB)
    val (obE, eE, tE, sE) = Graph.readEdgeIndex(spark, obR, edR, toR, stR)
    assert(rs(obV) === rs(obE) && rs(eV) === rs(eE))
    assert(rs(tV) === rs(tE) && rs(sV) === rs(sE))
    // steady state: one more cycle retires nothing and repairs nothing
    val logS = Maintenance.runCycle(spark, Seq(idx))
    assert(!logS.exists(_.action == "retire"), logS.mkString("; "))
    assert(logS.exists(a => a.action == "audit" &&
      a.detail == "missing=0 stale=0"), logS.mkString("; "))
    (all ++ rb).foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("epoch-salted capture: delete -> re-ingest -> IDENTICAL delete " +
      "applies as a fresh batch (no batch-id aliasing), the cycle ends " +
      "stale=0 and rebuild-identical; replays stay pruned no-ops and " +
      "an unverifiable batch is kept + flagged, never pruned") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val landT = "graft_idx_test.ep_lineitem"
    val tombT = "graft_idx_test.ep_tombstones"
    val ledger = "graft_idx_test.ep_ledger"
    val bases = Seq("graft_idx_test.ep_ob", "graft_idx_test.ep_edges",
      "graft_idx_test.ep_totals", "graft_idx_test.ep_stats")
    val rb = bases.map(_ + "_reb")
    val all = Seq(landT, tombT, ledger) ++ rb ++
      bases.flatMap(b => b +: (1 to 6).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 3L), (13L, 1L), (13L, 2L), (14L, 2L), (14L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val delRows = li.filter(col("l_orderkey").isin(11L, 14L))
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    li.write.format("parquet").saveAsTable(landT)
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(spark.table(landT), part, ledger,
      "edges", obB, edB, toB, stB, numBuckets = 2)
    val feed = TombstoneFeed(tombT,
      (s, rows, bid) => Graph.deleteFromEdgeIndexVersioned(rows, part,
        ledger, "edges", obB, edB, toB, stB, batchId = Some(bid)),
      isApplied = Some((s, bid) =>
        Snapshots.isApplied(s, ledger, "edges", bid)))
    val idx = MaintainedIndex("edges",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "edges",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => s.table(landT).select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "edges",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      tombstones = Some(feed))
    // epoch 1: delete orders {11, 14} through the capture path
    val bid1 = Warehouse.deleteFromLandingWithCapture(spark, landT,
      "l_orderkey", delRows.select(col("l_orderkey")), tombT,
      ledger = Some((ledger, "edges")))
    assert(bid1.startsWith("e1-"), bid1)
    val log1 = Maintenance.runCycle(spark, Seq(idx))
    assert(log1.exists(a => a.action == "delete_batch" &&
      a.detail == s"batch=$bid1"), log1.mkString("; "))
    assert(spark.table(tombT).count() === 0L, "feed not pruned")
    // re-ingest the SAME rows: landing append + versioned index append
    delRows.write.mode("append").format("parquet").saveAsTable(landT)
    assert(Graph.appendEdgeIndexVersioned(delRows, part, ledger, "edges",
      obB, edB, toB, stB), "re-ingest append did not apply")
    // epoch 2: the IDENTICAL key set deleted again — the repeat
    // takedown / next retention sweep. The salt makes it a FRESH batch.
    val bid2 = Warehouse.deleteFromLandingWithCapture(spark, landT,
      "l_orderkey", delRows.select(col("l_orderkey")).distinct(), tombT,
      ledger = Some((ledger, "edges")))
    assert(bid2 !== bid1, s"aliased: $bid2")
    assert(bid2.startsWith("e2-"), bid2)
    val log2 = Maintenance.runCycle(spark, Seq(idx))
    assert(log2.exists(a => a.action == "delete_batch" &&
      a.detail == s"batch=$bid2"),
      s"second delete did not apply: ${log2.mkString("; ")}")
    assert(log2.exists(a => a.action == "audit" &&
      a.detail == "missing=0 stale=0"), log2.mkString("; "))
    // the index is bit-identical to a from-scratch rebuild of the
    // final landing state
    val Seq(obR, edR, toR, stR) = rb
    Graph.writeEdgeIndex(spark.table(landT), part, obR, edR, toR, stR,
      numBuckets = 2)
    val (obV, eV, tV, sV) = Graph.readEdgeIndexVersioned(spark, ledger,
      "edges", obB, edB, toB, stB)
    val (obE, eE, tE, sE) = Graph.readEdgeIndex(spark, obR, edR, toR, stR)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rs(obV) === rs(obE) && rs(eV) === rs(eE))
    assert(rs(tV) === rs(tE) && rs(sV) === rs(sE))
    // two distinct delete rows in the ledger — one per epoch
    assert(Snapshots.ledger(spark, ledger, "edges")
      .filter(col("action") === "delete").count() === 2L)
    // REPLAY: the captured batch re-delivered (crash before prune) —
    // apply no-ops, isApplied confirms, the feed is pruned silently
    delRows.withColumn("batch_id", org.apache.spark.sql.functions.lit(bid2))
      .write.mode("append").format("parquet").saveAsTable(tombT)
    val log3 = Maintenance.runCycle(spark, Seq(idx))
    assert(!log3.exists(_.action == "delete_batch"), log3.mkString("; "))
    assert(!log3.exists(_.action == "delete_batch_stuck"),
      log3.mkString("; "))
    assert(spark.table(tombT).count() === 0L, "replay not pruned")
    assert(Snapshots.ledger(spark, ledger, "edges")
      .filter(col("action") === "delete").count() === 2L)
    // STUCK: a feed WITHOUT the isApplied guard sees a ledger-resident
    // batch no-op — it must be KEPT and flagged, not pruned (pruning
    // would discard the only repair rows)
    delRows.withColumn("batch_id", org.apache.spark.sql.functions.lit(bid2))
      .write.mode("append").format("parquet").saveAsTable(tombT)
    val blind = idx.copy(tombstones = Some(feed.copy(isApplied = None)))
    val log4 = Maintenance.runCycle(spark, Seq(blind))
    assert(log4.exists(a => a.action == "delete_batch_stuck" &&
      a.detail == s"batch=$bid2"), log4.mkString("; "))
    assert(spark.table(tombT).count() > 0L, "stuck batch was pruned")
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("conflict_audit: the concurrent-writer tripwire reads " +
      "conflicts=0 on a clean ledger, flags a version carrying two " +
      "staging publishes, and ignores same-version plain appends") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.cw_ledger"
    val bases = Seq("graft_idx_test.cw_ob", "graft_idx_test.cw_edges",
      "graft_idx_test.cw_totals", "graft_idx_test.cw_stats")
    val all = ledger +: bases.flatMap(b =>
      b +: (1 to 3).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(li, part, ledger, "cw",
      obB, edB, toB, stB, numBuckets = 2)
    val idx = MaintainedIndex("cw",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "cw",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => li.select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "cw",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      ledger = Some((ledger, "cw")))
    // clean ledger: the tripwire reads zero
    val log1 = Maintenance.runCycle(spark, Seq(idx))
    assert(log1.exists(a => a.action == "conflict_audit" &&
      a.detail == "conflicts=0"), log1.mkString("; "))
    assert(Snapshots.versionConflicts(spark, ledger, "cw").isEmpty)
    // plain appends SHARE the current version by design - no trip
    Snapshots.publish(spark, ledger, "cw", 1L, "ingest-a", "append")
    Snapshots.publish(spark, ledger, "cw", 1L, "ingest-b", "append")
    assert(Snapshots.versionConflicts(spark, ledger, "cw").isEmpty)
    // the race: writer A merges to version 2 (real staged tables);
    // writer B, who staged CONCURRENTLY against the same current
    // version, publishes its own batch at version 2 too - B's tables
    // overwrote A's during staging, A's mutation is recorded but lost
    Graph.mergeEdgeIndexVersioned(spark, ledger, "cw",
      obB, edB, toB, stB)
    assert(Snapshots.versionConflicts(spark, ledger, "cw").isEmpty)
    Snapshots.publish(spark, ledger, "cw", 2L, "writer-b-compact",
      "compact")
    val hits = Snapshots.versionConflicts(spark, ledger, "cw").collect()
    assert(hits.length === 1)
    assert(hits.head.getAs[Long]("version") === 2L)
    assert(hits.head.getAs[Seq[String]]("batch_ids") ===
      Seq("merge-v2", "writer-b-compact"))
    val log2 = Maintenance.runCycle(spark, Seq(idx))
    assert(log2.exists(a => a.action == "conflict_audit" &&
      a.detail == "conflicts=1"), log2.mkString("; "))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("writer lease: two racing writers serialize — the loser is " +
      "denied BEFORE staging, retries after release, and BOTH " +
      "mutations' effects land with the tripwire clean") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.ls_ledger"
    val leaseT = "graft_idx_test.ls_lease"
    val bases = Seq("graft_idx_test.ls_ob", "graft_idx_test.ls_edges",
      "graft_idx_test.ls_totals", "graft_idx_test.ls_stats")
    val all = Seq(ledger, leaseT) ++
      bases.flatMap(b => b +: (1 to 4).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 2L), (12L, 3L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(li, part, ledger, "ls",
      obB, edB, toB, stB, numBuckets = 2) // v1
    val delA = li.filter(col("l_orderkey") === 10L)
    val delB = li.filter(col("l_orderkey") === 12L)
    // writer A holds the lease through its whole stage+publish; writer
    // B's attempt INSIDE that window is denied before it stages
    // anything (the prevention the tripwire could only detect)
    var bDenied = false
    Snapshots.withLease(spark, leaseT, "ls") {
      // EVERY later arrival must back off while the lease is held —
      // repeated attempts pin the (ts, owner) arrival ordering (an
      // owner-id ordering would let ~half of random arrivals steal a
      // held lease)
      (1 to 5).foreach { _ =>
        intercept[Snapshots.LeaseDenied] {
          Snapshots.withLease(spark, leaseT, "ls") { bDenied = true }
        }
      }
      assert(Graph.deleteFromEdgeIndexVersioned(delA, part, ledger,
        "ls", obB, edB, toB, stB)) // v2
    }
    assert(!bDenied, "loser's body ran under a denied lease")
    // A released: B retries and applies at the NEXT version
    Snapshots.withLease(spark, leaseT, "ls") {
      assert(Graph.deleteFromEdgeIndexVersioned(delB, part, ledger,
        "ls", obB, edB, toB, stB)) // v3
    }
    // both mutations' effects present: orders 10 and 12 gone, 11 kept
    val (obV, _, _, _) = Graph.readEdgeIndexVersioned(spark, ledger,
      "ls", obB, edB, toB, stB)
    val keys = obV.select(col("order_key")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keys === Set(11L))
    assert(Snapshots.currentVersion(spark, ledger, "ls") === 3L)
    // the tripwire is clean: no version carries two staging publishes
    assert(Snapshots.versionConflicts(spark, ledger, "ls").isEmpty)
    // no LIVE lease after both writers finished (held rows all carry
    // released markers — release is append-only, never a rewrite)
    assert(Snapshots.liveLeases(spark, leaseT, "ls").isEmpty)
    // crashed-holder recovery: a leaked row INSIDE the expiry bound
    // blocks the next writer until the operator clears the family's
    // leases (or the bound elapses — the expiry self-heal test);
    // ts a beat in the past so it sorts before any live arrival
    import spark.implicits._
    Seq(("ls", "crashed-writer", System.currentTimeMillis() - 1000L,
        "held"))
      .toDF("index_name", "owner", "ts", "state")
      .write.mode("append").format("parquet").saveAsTable(leaseT)
    intercept[Snapshots.LeaseDenied] {
      Snapshots.withLease(spark, leaseT, "ls") { () }
    }
    Snapshots.clearLeases(spark, leaseT, "ls")
    Snapshots.withLease(spark, leaseT, "ls") { () } // acquires again
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("append-only release: a lease-churn storm (concurrent acquire/" +
      "deny/release appends) always drains — no release can resurrect " +
      "another writer's released row into a phantom lease") {
    import graft.operators.Snapshots
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val leaseT = "graft_idx_test.storm_lease"
    graft.sinks.Sinks.dropManaged(spark, leaseT)
    val successes = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        Thread.sleep(i * 150L) // stagger past the documented tie window
        var done = false
        var tries = 0
        while (!done && tries < 60) {
          tries += 1
          try {
            Snapshots.withLease(spark, leaseT, "storm") {
              Thread.sleep(100L) // overlap the other writers' attempts
              successes.incrementAndGet()
              ()
            }
            done = true
          } catch {
            case _: Snapshots.LeaseDenied => Thread.sleep(150L)
          }
        }
        assert(done, s"writer $i starved — phantom lease never drained")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(successes.get() === 4)
    // drained: every held row carries its released marker. Under the
    // retired rewrite-release, overlapping releases re-wrote the table
    // from each writer's own pre-release listing and the last swap
    // won — resurrecting already-released rows that denied every later
    // writer until clearLeases.
    assert(Snapshots.liveLeases(spark, leaseT, "storm").isEmpty)
    spark.catalog.refreshTable(leaseT)
    val rows = spark.table(leaseT).collect()
    assert(rows.count(_.getAs[String]("state") == "held") ===
      rows.count(_.getAs[String]("state") == "released"))
    graft.sinks.Sinks.dropManaged(spark, leaseT)
  }

  test("runCycle under the family lease: two concurrent cycles on the " +
      "same family serialize — the tombstone batch applies exactly " +
      "once, the tripwire stays clean, a denied cycle logs " +
      "lease_denied and its retry completes") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{Graph, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.lcyc_ledger"
    val leaseT = "graft_idx_test.lcyc_lease"
    val tombT = "graft_idx_test.lcyc_tomb"
    val bases = Seq("graft_idx_test.lcyc_ob", "graft_idx_test.lcyc_edges",
      "graft_idx_test.lcyc_totals", "graft_idx_test.lcyc_stats")
    val all = Seq(ledger, leaseT, tombT) ++
      bases.flatMap(b => b +: (1 to 4).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 2L), (12L, 3L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(li, part, ledger, "lcyc",
      obB, edB, toB, stB, numBuckets = 2) // v1
    // one captured tombstone batch (epoch-salted id, the feed law)
    val delRows = li.filter(col("l_orderkey") === 10L)
    val bid = Snapshots.batchIdFor(delRows.select(col("l_orderkey")),
      Snapshots.currentVersion(spark, ledger, "lcyc"))
    delRows.withColumn("batch_id", lit(bid))
      .write.format("parquet").saveAsTable(tombT)
    val corpus = li.filter(col("l_orderkey") =!= 10L)
    val idx = MaintainedIndex("lcyc",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "lcyc",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => corpus.select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "lcyc",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      tombstones = Some(TombstoneFeed(tombT,
        (s, rows, b) => Graph.deleteFromEdgeIndexVersioned(rows, part,
          ledger, "lcyc", obB, edB, toB, stB, batchId = Some(b)),
        isApplied = Some((s, b) =>
          Snapshots.isApplied(s, ledger, "lcyc", b)))),
      ledger = Some((ledger, "lcyc")),
      retireBases = Some(bases),
      lease = Some(leaseT))
    // two cycles race; the first to append the lease row runs the
    // whole pass, the later arrival is denied BEFORE staging anything
    @volatile var logA: Seq[MaintenanceAction] = Seq.empty
    @volatile var logB: Seq[MaintenanceAction] = Seq.empty
    val a = new Thread(() => { logA = Maintenance.runCycle(spark, Seq(idx)) })
    val b = new Thread(() => {
      Thread.sleep(1000L) // land inside A's hold, past the tie window
      logB = Maintenance.runCycle(spark, Seq(idx))
    })
    a.start(); b.start(); a.join(180000); b.join(180000)
    val both = logA ++ logB
    // the batch applied exactly once across both cycles
    assert(both.count(a0 => a0.action == "delete_batch") <= 1,
      both.mkString("; "))
    // a denied cycle is visible as such, and its retry completes the
    // pass (steady state: feed already consumed by the holder)
    val retried =
      if (both.exists(_.action == "lease_denied"))
        Maintenance.runCycle(spark, Seq(idx))
      else Seq.empty
    val closing = (both ++ retried).filter(_.action == "audit")
    assert(closing.nonEmpty)
    assert(closing.last.detail === "missing=0 stale=0",
      (both ++ retried).mkString("; "))
    // exactly one delete row in the ledger; tripwire clean; feed pruned
    assert(Snapshots.ledger(spark, ledger, "lcyc")
      .filter(col("action") === "delete").count() === 1L)
    assert(Snapshots.versionConflicts(spark, ledger, "lcyc").isEmpty)
    assert(spark.table(tombT).count() === 0L)
    assert(Snapshots.liveLeases(spark, leaseT, "lcyc").isEmpty)
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("conflict_audit cold start: a MaintainedIndex whose ledger " +
      "table has not been created yet (family migrating in, stream " +
      "batch 0 not delivered) audits clean instead of aborting the " +
      "cycle") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Graph, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.cs_ledger" // never created
    val bases = Seq("graft_idx_test.cs_ob", "graft_idx_test.cs_edges",
      "graft_idx_test.cs_totals", "graft_idx_test.cs_stats")
    val Seq(obB, edB, toB, stB) = bases
    (ledger +: bases).foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y")).toDF("p_partkey", "p_brand")
    // version-0 base tables only: the unversioned layout a family has
    // before its first versioned publish
    Graph.writeEdgeIndex(li, part, obB, edB, toB, stB, numBuckets = 2)
    // the guarded readers all see "never published"
    assert(Snapshots.currentVersion(spark, ledger, "cs") === 0L)
    assert(!Snapshots.isApplied(spark, ledger, "cs", "anything"))
    assert(Snapshots.ledger(spark, ledger, "cs").isEmpty)
    assert(Snapshots.versionConflicts(spark, ledger, "cs").isEmpty)
    val idx = MaintainedIndex("cs",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "cs",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => li.select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "cs",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      ledger = Some((ledger, "cs")))
    // the whole cycle must complete — before the guard this threw
    // AnalysisException out of versionConflicts and aborted ALL indexes
    val log = Maintenance.runCycle(spark, Seq(idx))
    assert(log.exists(a => a.action == "conflict_audit" &&
      a.detail == "conflicts=0"), log.mkString("; "))
    assert(log.exists(a => a.action == "audit" &&
      a.detail == "missing=0 stale=0"), log.mkString("; "))
    (ledger +: bases).foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("lease expiry self-heal: a crash-leaked lease (driver killed " +
      "inside a guarded cycle) starves the next cycle only until " +
      "maxHoldMs — the cycle after the bound logs lease_expired, " +
      "steps over the phantom, repairs, and ends fresh, with NO " +
      "clearLeases call anywhere") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{Graph, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.lexp_ledger"
    val leaseT = "graft_idx_test.lexp_lease"
    val tombT = "graft_idx_test.lexp_tomb"
    val bases = Seq("graft_idx_test.lexp_ob", "graft_idx_test.lexp_edges",
      "graft_idx_test.lexp_totals", "graft_idx_test.lexp_stats")
    val all = Seq(ledger, leaseT, tombT) ++
      bases.flatMap(b => b +: (1 to 4).map(v => s"${b}_v$v"))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 2L), (12L, 3L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val Seq(obB, edB, toB, stB) = bases
    Graph.writeEdgeIndexVersioned(li, part, ledger, "lexp",
      obB, edB, toB, stB, numBuckets = 2) // v1
    // a pending repair, so the post-expiry cycle demonstrably WORKS:
    // one captured tombstone batch the starved cycles cannot apply
    val delRows = li.filter(col("l_orderkey") === 10L)
    val bid = Snapshots.batchIdFor(delRows.select(col("l_orderkey")),
      Snapshots.currentVersion(spark, ledger, "lexp"))
    delRows.withColumn("batch_id", lit(bid))
      .write.format("parquet").saveAsTable(tombT)
    val corpus = li.filter(col("l_orderkey") =!= 10L)
    val idx = MaintainedIndex("lexp",
      tables = Seq(("ob", obB, Seq.empty[String])),
      resolveTables = Some(s => {
        val (ob, _, _, _) = Graph.resolveEdgeIndex(s, ledger, "lexp",
          obB, edB, toB, stB)
        Seq(("ob", ob, Seq.empty[String]))
      }),
      corpusKeys = s => corpus.select(col("l_orderkey")).distinct(),
      indexKeys = s => Graph.readEdgeIndexVersioned(s, ledger, "lexp",
        obB, edB, toB, stB)._1.select(col("order_key")).distinct(),
      compactFilesFactor = Double.MaxValue,
      tombstones = Some(TombstoneFeed(tombT,
        (s, rows, b) => Graph.deleteFromEdgeIndexVersioned(rows, part,
          ledger, "lexp", obB, edB, toB, stB, batchId = Some(b)),
        isApplied = Some((s, b) =>
          Snapshots.isApplied(s, ledger, "lexp", b)))),
      ledger = Some((ledger, "lexp")),
      retireBases = Some(bases),
      lease = Some(leaseT),
      leaseMaxHoldMs = 2500L)
    // the crash: a holder that appended its held row and died before
    // the finally-release could run (a driver kill — unreachable by
    // exception injection precisely because withLease releases on
    // exceptions, so the leak is simulated at the row level)
    Seq(("lexp", "crashed-cycle", System.currentTimeMillis(), "held"))
      .toDF("index_name", "owner", "ts", "state")
      .write.mode("append").format("parquet").saveAsTable(leaseT)
    // inside the bound: the cycle is denied — starvation, but bounded
    val starved = Maintenance.runCycle(spark, Seq(idx))
    assert(starved.exists(_.action == "lease_denied"),
      starved.mkString("; "))
    assert(!starved.exists(_.action == "delete_batch"))
    // wait out the bound; the next cycle steps over the phantom and
    // completes the WHOLE pass — repair, audit, retire — unaided
    Thread.sleep(2700L)
    val healed = Maintenance.runCycle(spark, Seq(idx))
    assert(healed.exists(a => a.action == "lease_expired" &&
      a.detail.contains("owner=crashed-cycle")), healed.mkString("; "))
    assert(healed.exists(a => a.action == "delete_batch"),
      healed.mkString("; "))
    assert(healed.filter(_.action == "audit").last.detail ===
      "missing=0 stale=0", healed.mkString("; "))
    // the phantom is durably terminated (expired marker), not live
    assert(Snapshots.liveLeases(spark, leaseT, "lexp").isEmpty)
    spark.catalog.refreshTable(leaseT)
    assert(spark.table(leaseT)
      .filter(col("owner") === "crashed-cycle" &&
        col("state") === "expired").count() === 1L)
    // and the repair actually landed
    assert(Snapshots.versionConflicts(spark, ledger, "lexp").isEmpty)
    val (obV, _, _, _) = Graph.readEdgeIndexVersioned(spark, ledger,
      "lexp", obB, edB, toB, stB)
    assert(obV.select(col("order_key")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(11L, 12L))
    all.foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("legacy lease-table migration: a pre-round-18 3-column lease " +
      "table (delete-based release, no state column) is migrated in " +
      "place on first touch — its at-rest rows become held leaks that " +
      "expiry then reclaims, instead of an AnalysisException bricking " +
      "every acquisition") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Snapshots
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val leaseT = "graft_idx_test.leg_lease"
    graft.sinks.Sinks.dropManaged(spark, leaseT)
    // the legacy shape: (index_name, owner, ts), one crash-leaked row
    // (delete-based release means anything at rest IS a leak)
    Seq(("leg", "old-writer", System.currentTimeMillis()))
      .toDF("index_name", "owner", "ts")
      .write.format("parquet").saveAsTable(leaseT)
    // first touch migrates: the leaked row reads as a live held lease
    // (fresh ts, inside the bound) and denies — the legacy semantics,
    // preserved, where before this failed with AnalysisException
    intercept[Snapshots.LeaseDenied] {
      Snapshots.withLease(spark, leaseT, "leg") { () }
    }
    spark.catalog.refreshTable(leaseT)
    assert(spark.table(leaseT).columns.contains("state"))
    assert(spark.table(leaseT)
      .filter(col("owner") === "old-writer" && col("state") === "held")
      .count() === 1L)
    // and expiry reclaims the migrated leak like any 4-column one
    // (bound well above the acquire's own append/list latency, so the
    // fresh own-row never self-expires)
    Thread.sleep(2100L)
    Snapshots.withLease(spark, leaseT, "leg", maxHoldMs = 2000L) { () }
    assert(Snapshots.liveLeases(spark, leaseT, "leg").isEmpty)
    assert(spark.table(leaseT)
      .filter(col("owner") === "old-writer" &&
        col("state") === "expired").count() === 1L)
    graft.sinks.Sinks.dropManaged(spark, leaseT)
  }

  test("lease-table compaction: a multi-cycle lease-guarded run keeps " +
      "the lease table BOUNDED — terminated history is reclaimed " +
      "while the cycle holds the lease, instead of growing two rows " +
      "and two files per acquisition forever") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Snapshots
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val leaseT = "graft_idx_test.lcmp_lease"
    val tbl = "graft_idx_test.lcmp_keys"
    Seq(leaseT, tbl).foreach(graft.sinks.Sinks.dropManaged(spark, _))
    Seq(1L, 2L, 3L).toDF("k").write.format("parquet").saveAsTable(tbl)
    val idx = MaintainedIndex("lcmp",
      tables = Seq(("t", tbl, Seq.empty[String])),
      corpusKeys = s => s.table(tbl).select(col("k")),
      indexKeys = s => s.table(tbl).select(col("k")),
      compactFilesFactor = Double.MaxValue,
      lease = Some(leaseT),
      leaseCompactRows = 0)
    val logs = (1 to 5).map(_ => Maintenance.runCycle(spark, Seq(idx)))
    // every cycle past the first reclaimed its predecessor's pair
    assert(logs.drop(1).forall(_.exists(_.action == "lease_compact")),
      logs.flatten.mkString("; "))
    // bounded: only the LAST cycle's own (held, released) pair remains
    // — not 2 rows per acquisition
    spark.catalog.refreshTable(leaseT)
    assert(spark.table(leaseT).count() === 2L)
    assert(Snapshots.liveLeases(spark, leaseT, "lcmp").isEmpty)
    Seq(leaseT, tbl).foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }
}
