package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Catalog plugin (ATTACH / SHOW TABLES analogue) + Structured Streaming
  * twins validated against their batch equivalents.
  */
class CatalogAndStreamingSpec extends AnyFunSuite {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.g", "graft.catalog.GraphArCatalog")
    .config("spark.sql.catalog.g.path", getClass.getResource("/graphar/git/Git.yaml").getPath)
    .getOrCreate()

  test("catalog: SHOW TABLES lists vertex and edge tables (attach.test golden)") {
    val tables = spark.sql("SHOW TABLES IN g").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(tables === Set("Person.vertex", "Person_knows_Person.edge"))
  }

  test("catalog: count over catalog table (read_vertices.test golden)") {
    assert(spark.sql("SELECT count(*) AS n FROM g.`Person.vertex`")
      .collect()(0).getLong(0) === 37700L)
  }

  test("catalog: point lookup through SQL") {
    val r = spark.sql(
      "SELECT hash_phone_no FROM g.`Person.vertex` WHERE _graphArVertexIndex = 7")
      .collect()
    assert(r.map(_.getInt(0)).toSeq === Seq(7))
  }

  test("catalog: writes are rejected (read-only, like the reference)") {
    val e = intercept[Exception] {
      spark.sql("DROP TABLE g.`Person.vertex`")
    }
    assert(e.getMessage.toLowerCase.contains("read-only") ||
      e.getMessage.toLowerCase.contains("not supported"))
  }

  test("streaming: windowed counts equal the batch twin") {
    import spark.implicits._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select("h", "event_type", "n", "total_value").collect()
        .map(_.toSeq).toSet
      val batch = EventStreams.windowedCounts(
        Tables.events(spark, "/root/testdata/sf0.001")).collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming: windowed HLL distinct-users matches the batch twin exactly") {
    import spark.implicits._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.windowedDistinctUsers(stream.toDF())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("complete").start()
    try {
      // two batches: sketch state must merge across micro-batches
      val (b1, b2) = events.splitAt(events.size / 2)
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("hll_out").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
      val batch = EventStreams.windowedDistinctUsers(
        Tables.events(spark, "/root/testdata/sf0.001")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // sketch estimates track truth on this cardinality (sanity)
      val exact = Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("h"))
        .agg(countDistinct(col("user_id")).as("n")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      streamed.foreach { case (h, est) =>
        val n = exact(h).toDouble
        assert(math.abs(est - n) <= math.max(2.0, 0.05 * n),
          s"window $h: est $est vs exact $n")
      }
    } finally q.stop()
  }

  test("streaming: stateful sessionization matches batch sessionization") {
    import spark.implicits._
    val evDf = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val events = evDf.as[Event].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val streamedClosed = spark.table("sess_out").as[EventStreams.Session]
        .collect().toSet
      // batch twin: all sessions (closed + open)
      val all = EventStreams.openSessions(evDf.as[Event]).collect().toSet
      // every streamed (closed) session must appear in the batch result
      assert(streamedClosed.subsetOf(all))
      // and the remainder must be exactly the still-open (last) sessions
      val open = all -- streamedClosed
      val lastPerUser = all.groupBy(_.user_id).view
        .mapValues(_.maxBy(_.session_end.getTime)).values.toSet
      assert(open === lastPerUser.filterNot(streamedClosed.contains).toSet)
      assert(all.nonEmpty)
    } finally q.stop()
  }

  test("funnel state machine: order-sensitive, strictly-increasing times, cross-batch continuation") {
    import spark.implicits._
    import EventStreams.{Event, FunnelDepth}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def e(id: Long, t: Long, u: Long, typ: String) =
      Event(id, new java.sql.Timestamp(t * 1000), u, typ, 0.0)
    val stream = MemoryStream[Event]
    val q = EventStreams.funnelStream(stream.toDS(),
        Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // one batch, scrambled arrival order:
      //  user 1: click@10 precedes view@20 in EVENT time — the click
      //          must not count even though a view arrives later
      //  user 2: view@10 and click@10 — equal times, strict > rejects
      //  user 3: view@10, click@20 — a clean two-step prefix
      //  user 4: a lone purchase — depth 0, must emit NOTHING
      stream.addData(Seq(
        e(1, 20, 1, "view"), e(2, 10, 1, "click"),
        e(4, 10, 2, "click"), e(3, 10, 2, "view"),
        e(5, 10, 3, "view"), e(6, 20, 3, "click"),
        e(7, 5, 4, "purchase")))
      q.processAllAvailable()
      // later block: state continues across the batch boundary
      //  user 1: click@30 after its view@20 → depth 2
      //  user 2: click@15 strictly after view@10 → depth 2
      //  user 3: purchase@30 completes the funnel → depth 3
      stream.addData(Seq(e(8, 30, 1, "click"), e(10, 15, 2, "click"),
        e(9, 30, 3, "purchase")))
      q.processAllAvailable()
      stream.addData((1L to 4L).map(u => e(-u, 1000, u, "flush")))
      q.processAllAvailable()
      val got = spark.table("funnel_out").as[FunnelDepth].collect()
        .map(f => f.user_id -> f.depth).toMap
      assert(got === Map(1L -> 2, 2L -> 2, 3L -> 3))
    } finally q.stop()
  }

  test("watermark semantics: in-allowance late row merges, beyond-allowance late row drops") {
    import spark.implicits._
    import graft.streaming.StreamingQueries.Ev
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("tss", "600 seconds")
      .groupBy(window(col("tss"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_sem")
      .outputMode("append").start()
    try {
      // batch 0: [10:00, 10:05] in hour-10; head of hour-12 at 12:00
      stream.addData(Seq(Ev(1, ts(0), "a", 1.0), Ev(2, ts(300), "a", 1.0),
        Ev(3, ts(7200), "a", 1.0)))
      q.processAllAvailable() // watermark now 12:00 − 10 min = 11:50
      // batch 1: 11:55 is 5 min late but INSIDE the allowance and its
      // hour-11 window end (12:00) > 11:50 → must merge; 10:30 is an
      // hour-10 row whose window closed at 11:00 <= 11:50 → must drop
      stream.addData(Seq(Ev(4, ts(6900), "a", 1.0), Ev(5, ts(1800), "a", 1.0)))
      q.processAllAvailable()
      // flush every real window
      stream.addData(Ev(-1, ts(10 * 86400), "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wm_sem").filter(col("event_type") === "a")
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    // hour-10 has the two on-time rows ONLY (10:30 dropped);
    // hour-11 holds the merged late 11:55 row; hour-12 its head
    assert(got === Map(
      java.sql.Timestamp.valueOf("2026-01-01 10:00:00") -> 2L,
      java.sql.Timestamp.valueOf("2026-01-01 11:00:00") -> 1L,
      java.sql.Timestamp.valueOf("2026-01-01 12:00:00") -> 1L), got.toString)
  }

  test("late-feed window gate equals its SQL watermark model at sf0.001") {
    // same construction the st_window_late oracle hash-checks at sf0.01:
    // replay batch assignment + watermark rule in Spark SQL over the
    // batch table and compare row-for-row with the streamed result
    import graft.streaming.StreamingQueries
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.lateFeedWindowCounts(spark, sf)
      .collect().map(_.toSeq).toSet
    Tables.events(spark, sf).createOrReplaceTempView("events")
    val modeled = spark.sql(
      StreamingQueries.oracle("st_window_late")
        .replaceAll("// ", "DIV ") // DuckDB // -> Spark DIV
        .replaceAll("epoch\\(ts\\)", "unix_timestamp(ts)")
        .replaceAll("INTERVAL 600 SECOND", "INTERVAL 600 SECONDS")
        .replaceAll("INTERVAL 1 HOUR", "INTERVAL 1 HOURS"))
      .collect().map(_.toSeq).toSet
    assert(streamed === modeled,
      s"extra=${(streamed -- modeled).take(3)} missing=${(modeled -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("dedup-within-watermark: duplicates never re-emit, late originals drop") {
    import graft.streaming.StreamingQueries
    val sf = "/root/testdata/sf0.001"
    val out = StreamingQueries.lateFeedDedup(spark, sf).collect()
    // exactly-once per key despite planted same-batch and re-sent dups
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    val total = Tables.events(spark, sf).count()
    assert(out.length < total, "some late-shifted originals must drop")
    // equals the SQL watermark model row-for-row
    Tables.events(spark, sf).createOrReplaceTempView("events")
    val modeled = spark.sql(
      StreamingQueries.oracle("st_dedup_stream")
        .replaceAll("// ", "DIV ")
        .replaceAll("epoch\\(ts\\)", "unix_timestamp(ts)")
        .replaceAll("INTERVAL 600 SECOND", "INTERVAL 600 SECONDS"))
      .collect().map(_.toSeq).toSet
    assert(out.map(_.toSeq).toSet === modeled)
  }

  test("sessionize: cross-batch event a gap OLDER than session start becomes its own session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("late_sess_out")
      .outputMode("append").start()
    try {
      stream.addData(Event(1L, ts(5000), 7L, "click", 1.0)) // batch 1: t=5000
      q.processAllAvailable()
      stream.addData(Event(2L, ts(0), 7L, "click", 2.0))    // batch 2: t=0, 5000s older
      q.processAllAvailable()
      // flush the open session via a far-future event
      stream.addData(Event(3L, ts(100000), 7L, "click", 3.0))
      q.processAllAvailable()
      val sessions = spark.table("late_sess_out").as[EventStreams.Session]
        .collect().sortBy(_.session_start.getTime)
      // batch twin (globally sorted) sees [0,0] and [5000,5000]: two
      // sessions — the late event must NOT merge into [0,5000]
      assert(sessions.length === 2, sessions.mkString(";"))
      assert(sessions(0).session_start === ts(0) && sessions(0).session_end === ts(0)
        && sessions(0).n_events === 1L)
      assert(sessions(1).session_start === ts(5000) && sessions(1).session_end === ts(5000))
    } finally q.stop()
  }

  test("federated catalog: several graphs as namespaces, cross-graph SQL join") {
    import spark.implicits._
    import graft.sources.graphar.GraphArWriter
    def writeGraph(gname: String, n: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"gar_fed_$gname").toString
      GraphArWriter.writeVertices(
        (0L until n).map(i => (i, s"${gname}_$i")).toDF("uid", "uname"), dir,
        GraphArWriter.VertexSpec("User", chunkSize = 4))
      GraphArWriter.writeGraphYaml(dir, gname, Seq("User"), Seq.empty)
      s"$dir/$gname.yaml"
    }
    val y1 = writeGraph("Alpha", 6)
    val y2 = writeGraph("Beta", 9)
    spark.conf.set("spark.sql.catalog.fed", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.fed.paths", s"$y1,$y2")
    assert(spark.sql("SHOW NAMESPACES IN fed").collect()
      .map(_.getString(0)).toSet === Set("Alpha", "Beta"))
    assert(spark.sql("SHOW TABLES IN fed.Alpha").select("tableName")
      .collect().map(_.getString(0)).toSet === Set("User.vertex"))
    // cross-graph join in one statement
    assert(spark.sql(
      """SELECT count(*) AS n FROM fed.Alpha.`User.vertex` a
        |JOIN fed.Beta.`User.vertex` b ON a.uid = b.uid""".stripMargin)
      .collect()(0).getLong(0) === 6L)
    // unknown namespace errors, read-only DDL refused
    intercept[Exception] { spark.sql("SHOW TABLES IN fed.Gamma").collect() }
    intercept[Exception] { spark.sql("DROP TABLE fed.Alpha.`User.vertex`") }
  }

  test("catalog time travel: snapshot-pinned catalogs read v0 and LATEST of a versioned graph") {
    import spark.implicits._
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    val base = java.nio.file.Files.createTempDirectory("gar_cat_tt").toString
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("src", "dst", "w"), "TT",
      GraphArWriter.EdgeSpec("N", "link", "N",
        srcVertexCount = 8, dstVertexCount = 8,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4))
    GraphArMutations.addEdges(spark, base,
      Seq((2L, 3L, 3.0), (3L, 4L, 4.0), (4L, 5L, 5.0)).toDF("src", "dst", "w"))
    // two pinned catalogs: ttv0 reads version 0, ttl follows LATEST
    spark.conf.set("spark.sql.catalog.ttv0", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.ttv0.snapshotBase", base)
    spark.conf.set("spark.sql.catalog.ttv0.snapshot", "0")
    spark.conf.set("spark.sql.catalog.ttl", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.ttl.snapshotBase", base)
    assert(spark.sql("SELECT count(*) AS n FROM ttv0.`N_link_N.edge`")
      .collect()(0).getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) AS n FROM ttl.`N_link_N.edge`")
      .collect()(0).getLong(0) === 5L)
    // both versions joinable side by side in one statement
    assert(spark.sql(
      """SELECT count(*) AS n FROM ttl.`N_link_N.edge` l
        |LEFT ANTI JOIN ttv0.`N_link_N.edge` v
        |ON l._graphArSrcIndex = v._graphArSrcIndex""".stripMargin)
      .collect()(0).getLong(0) === 3L)
  }

  test("catalog SQL INSERT INTO: edge appends stage deltas; overwrite and vertex insert refuse") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_cat_ins").toString
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("src", "dst", "w"), "INS",
      GraphArWriter.EdgeSpec("N", "link", "N",
        srcVertexCount = 8, dstVertexCount = 8,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4))
    spark.conf.set("spark.sql.catalog.ins", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.ins.snapshotBase", base)
    // append: one staged delta, snapshot reads unchanged, folded view grows
    spark.sql("INSERT INTO ins.`N_link_N.edge` VALUES (5, 6, CAST(6.0 AS DOUBLE))")
    assert(GraphArMutations.stagedDeltas(spark, base).size === 1)
    assert(spark.sql("SELECT count(*) AS n FROM ins.`N_link_N.edge`")
      .collect()(0).getLong(0) === 2L) // pinned snapshot is immutable
    val cur = GraphArMutations.currentEdges(spark, base)
    assert(cur.count() === 3L)
    assert(cur.filter(col("src") === 5L && col("dst") === 6L).count() === 1L)
    // the TVF folds it for SQL users too
    graph.GraphTableFunctions.register(spark)
    assert(spark.sql(s"SELECT count(*) AS n FROM graph_current_edges('$base')")
      .collect()(0).getLong(0) === 3L)
    // schema validation happens BEFORE staging: wrong arity refuses
    intercept[Exception] {
      spark.sql("INSERT INTO ins.`N_link_N.edge` VALUES (7, 8)")
    }
    assert(GraphArMutations.stagedDeltas(spark, base).size === 1)
    // only append: INSERT OVERWRITE refuses; non-versioned catalogs refuse
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE ins.`N_link_N.edge` VALUES (9, 9, CAST(1.0 AS DOUBLE))")
    }
    // vertex insert refuses with the keyed-upsert pointer (vertex-only
    // versioned base: initVertices refuses a base that holds versions)
    val vbase = java.nio.file.Files.createTempDirectory("gar_cat_insv").toString
    GraphArMutations.initVertices(spark, vbase,
      Seq((0L, "a")).toDF("uid", "name"), "VG",
      GraphArWriter.VertexSpec("User", chunkSize = 4), orderCol = "uid")
    spark.conf.set("spark.sql.catalog.insv", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.insv.snapshotBase", vbase)
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO insv.`User.vertex` VALUES (1, 'b')")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("stageVertexDelta")), msgs(ex).mkString(" | "))
  }

  test("catalog SQL DELETE: key predicates stage remove deltas; property predicates refuse") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_cat_del").toString
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0), (2L, 3L, 4.0))
        .toDF("src", "dst", "w"), "DEL",
      GraphArWriter.EdgeSpec("N", "link", "N",
        srcVertexCount = 8, dstVertexCount = 8,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4))
    spark.conf.set("spark.sql.catalog.del", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.del.snapshotBase", base)
    // key-only predicate: stages one remove delta, pinned snapshot intact
    spark.sql("DELETE FROM del.`N_link_N.edge` " +
      "WHERE `_graphArSrcIndex` = 1 AND `_graphArDstIndex` >= 3")
    assert(GraphArMutations.stagedDeltas(spark, base).size === 1)
    assert(spark.sql("SELECT count(*) FROM del.`N_link_N.edge`")
      .collect()(0).getLong(0) === 4L) // snapshot reads are immutable
    val cur = GraphArMutations.currentEdges(spark, base)
    assert(cur.count() === 3L)
    assert(cur.filter(col("src") === 1L && col("dst") === 3L).count() === 0L)
    // matching nothing stages nothing
    spark.sql("DELETE FROM del.`N_link_N.edge` WHERE `_graphArSrcIndex` = 99")
    assert(GraphArMutations.stagedDeltas(spark, base).size === 1)
    // property predicate would over-delete sibling rows of the key —
    // canDeleteWhere refuses and nothing is staged
    intercept[Exception] {
      spark.sql("DELETE FROM del.`N_link_N.edge` WHERE w > 1.5")
    }
    assert(GraphArMutations.stagedDeltas(spark, base).size === 1)
    assert(GraphArMutations.currentEdges(spark, base).count() === 3L)
  }

  test("catalog SQL UPDATE/DELETE/MERGE on vertex tables: row-level deltas + time travel") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_cat_upd").toString
    GraphArMutations.initVertices(spark, base,
      Seq((0L, "a", 10.0), (1L, "b", 20.0), (2L, "c", 30.0))
        .toDF("uid", "name", "score"), "UPD",
      GraphArWriter.VertexSpec("User", chunkSize = 4), orderCol = "uid")
    spark.conf.set("spark.sql.catalog.upd", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.upd.snapshotBase", base)
    // UPDATE: row-level rewrite stages ONE upsert delta of the changed
    // rows; the pinned snapshot stays immutable
    spark.sql("UPDATE upd.`User.vertex` SET score = score + 5 WHERE uid >= 1")
    assert(GraphArMutations.stagedVertexDeltas(spark, base).size === 1)
    assert(spark.sql("SELECT CAST(sum(score) AS DOUBLE) FROM upd.`User.vertex`")
      .collect()(0).getDouble(0) === 60.0)
    val afterUpd = GraphArMutations.currentVertices(spark, base)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(afterUpd === Map(0L -> 10.0, 1L -> 25.0, 2L -> 35.0))
    // matching nothing stages nothing
    spark.sql("UPDATE upd.`User.vertex` SET score = 0 WHERE uid = 99")
    assert(GraphArMutations.stagedVertexDeltas(spark, base).size === 1)
    // DELETE goes through the same row-level path — so (unlike the
    // edge table's key-only SupportsDelete) a PROPERTY predicate is
    // fine: the rewrite scans exact matching rows and removes by key
    spark.sql("DELETE FROM upd.`User.vertex` WHERE name = 'a'")
    assert(GraphArMutations.stagedVertexDeltas(spark, base).size === 2)
    val afterDel = GraphArMutations.currentVertices(spark, base)
    assert(afterDel.count() === 2L)
    assert(afterDel.filter(col("uid") === 0L).count() === 0L)
    // MERGE INTO: matched update + not-matched insert in one delta
    Seq((2L, "c2", 1.0), (5L, "e", 50.0)).toDF("uid", "name", "score")
      .createOrReplaceTempView("upd_src")
    spark.sql(
      """MERGE INTO upd.`User.vertex` t USING upd_src s ON t.uid = s.uid
        |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.score = s.score
        |WHEN NOT MATCHED THEN INSERT (uid, name, score)
        |  VALUES (s.uid, s.name, s.score)""".stripMargin)
    assert(GraphArMutations.stagedVertexDeltas(spark, base).size === 3)
    val afterMerge = GraphArMutations.currentVertices(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(afterMerge === Set((1L, "b", 25.0), (2L, "c2", 1.0), (5L, "e", 50.0)))
    // compaction folds the three deltas into v1; a snapshot-pinned
    // catalog still time-travels to the pre-DML v0
    GraphArMutations.compactVertexDeltas(spark, base)
    assert(GraphArMutations.currentVertices(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet === afterMerge)
    spark.conf.set("spark.sql.catalog.updv0", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.updv0.snapshotBase", base)
    spark.conf.set("spark.sql.catalog.updv0.snapshot", "0")
    assert(spark.sql("SELECT CAST(sum(score) AS DOUBLE) FROM updv0.`User.vertex`")
      .collect()(0).getDouble(0) === 60.0)
    // SQL-only read-your-writes: the vertex TVF folds the live log
    graph.GraphTableFunctions.register(spark)
    assert(spark.sql(s"SELECT count(*) FROM graph_current_vertices('$base')")
      .collect()(0).getLong(0) === 3L)
  }

  test("retention policy: auto-prune respects the keep window, references, and LATEST") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import graft.streaming.GraphArSink
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_retain").toString
    def spec(t: String) = GraphArWriter.EdgeSpec("N", t, "N",
      srcVertexCount = 8, dstVertexCount = 8,
      chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4)
    try {
      spark.conf.set("spark.graft.retainSnapshots", "1")
      // v0: two edge types
      GraphArMutations.initEdgeTypes(spark, base, "RG", Seq(
        (Seq((0L, 1L, 1.0)).toDF("src", "dst", "w"), spec("link")),
        (Seq((2L, 3L, 2.0)).toDF("src", "dst", "w"), spec("ship"))))
      // v1 rewrites ONLY link; its ship yaml references v0's files, so
      // the keep=1 auto-prune at this commit must NOT delete v0
      GraphArMutations.addEdgesOf(spark, base, "N_link_N",
        Seq((4L, 5L, 3.0)).toDF("src", "dst", "w"))
      assert(GraphArSink.versions(spark, base) === Seq(0L, 1L))
      // v2 rewrites ship too: v0 is now unreferenced and auto-pruned
      GraphArMutations.addEdgesOf(spark, base, "N_ship_N",
        Seq((6L, 7L, 4.0)).toDF("src", "dst", "w"))
      assert(GraphArSink.versions(spark, base) === Seq(1L, 2L))
      // v1 survives (v2's link yaml references its data); reads intact
      assert(GraphArMutations.currentEdgesOf(spark, base, "N_link_N")
        .count() === 2L)
      assert(GraphArMutations.currentEdgesOf(spark, base, "N_ship_N")
        .count() === 2L)
      // an age floor composes: nothing this young is deleted even
      // outside the keep window
      spark.conf.set("spark.graft.retainSnapshotsMaxAgeSec", "3600")
      GraphArMutations.addEdgesOf(spark, base, "N_link_N",
        Seq((0L, 2L, 5.0)).toDF("src", "dst", "w"))
      assert(GraphArSink.versions(spark, base) === Seq(1L, 2L, 3L))
    } finally {
      spark.conf.unset("spark.graft.retainSnapshots")
      spark.conf.unset("spark.graft.retainSnapshotsMaxAgeSec")
    }
  }

  test("per-table retention: the _RETENTION property overrides session conf and binds every writer") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import graft.streaming.GraphArSink
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_retain_tbl").toString
    val spec = GraphArWriter.EdgeSpec("N", "link", "N",
      srcVertexCount = 8, dstVertexCount = 8,
      chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4)
    def addOne(s: Long, d: Long): Unit =
      GraphArMutations.addEdges(spark, base,
        Seq((s, d, 1.0)).toDF("src", "dst", "w"))
    try {
      GraphArMutations.initEdges(spark, base,
        Seq((0L, 1L, 1.0)).toDF("src", "dst", "w"), "RT", spec)
      // no policy anywhere: every version is retained
      addOne(2L, 3L); addOne(4L, 5L)
      assert(GraphArSink.versions(spark, base) === Seq(0L, 1L, 2L))
      // the table property prunes on the next commit even though THIS
      // session carries no retain conf — the policy travels with the table
      GraphArSink.setRetention(spark, base, keep = Some(1))
      assert(GraphArSink.retentionOf(spark, base)
        === GraphArSink.Retention(Some(1), None))
      addOne(0L, 5L)
      assert(GraphArSink.versions(spark, base) === Seq(3L))
      // and it WINS over a looser session conf (table property binds)
      spark.conf.set("spark.graft.retainSnapshots", "10")
      addOne(1L, 2L)
      assert(GraphArSink.versions(spark, base) === Seq(4L))
      // clearing the property falls back to the session conf
      GraphArSink.setRetention(spark, base)
      assert(GraphArSink.retentionOf(spark, base)
        === GraphArSink.Retention(None, None))
      addOne(3L, 4L)
      assert(GraphArSink.versions(spark, base) === Seq(4L, 5L))
      // the surviving snapshot still reads whole
      assert(GraphArMutations.currentEdges(spark, base).count() === 6L)
      // a keep of 0 would prune LATEST itself — refused up front
      intercept[IllegalArgumentException] {
        GraphArSink.setRetention(spark, base, keep = Some(0))
      }
    } finally {
      spark.conf.unset("spark.graft.retainSnapshots")
    }
  }

  test("SQL retention surface: ALTER TABLE SET/UNSET TBLPROPERTIES maps onto _RETENTION") {
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import graft.streaming.GraphArSink
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gar_retain_sql").toString
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "w"), "RS",
      GraphArWriter.EdgeSpec("N", "link", "N",
        srcVertexCount = 8, dstVertexCount = 8,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4))
    spark.conf.set("spark.sql.catalog.retn", "graft.catalog.GraphArCatalog")
    spark.conf.set("spark.sql.catalog.retn.snapshotBase", base)
    val tbl = "retn.`N_link_N.edge`"
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES(" +
      "'retention.keep'='1', 'retention.maxAgeSec'='3600')")
    assert(GraphArSink.retentionOf(spark, base)
      === GraphArSink.Retention(Some(1), Some(3600L)))
    // SHOW TBLPROPERTIES reads the stored policy back
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("retention.keep") === Some("1"))
    assert(props.get("retention.maxAgeSec") === Some("3600"))
    // UNSET removes one key, keeping the other
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES('retention.maxAgeSec')")
    assert(GraphArSink.retentionOf(spark, base)
      === GraphArSink.Retention(Some(1), None))
    // the SQL-set policy actually prunes at the next commit
    GraphArMutations.addEdges(spark, base,
      Seq((2L, 3L, 2.0)).toDF("src", "dst", "w"))
    assert(GraphArSink.versions(spark, base) === Seq(1L))
    // a non-retention property refuses like the rest of the DDL surface
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES('owner'='me')")
    }
    // vertex tables of a versioned catalog expose the same properties
    // (retention is a property of the snapshot base, not of one table)
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES('retention.keep')")
    assert(GraphArSink.retentionOf(spark, base)
      === GraphArSink.Retention(None, None))
  }

  test("streaming delta ingest: batches stage O(batch) deltas, periodic compaction folds them") {
    import spark.implicits._
    import graft.sources.graphar.{GraphArMutations, GraphArWriter}
    import graft.streaming.GraphArSink
    val base = java.nio.file.Files.createTempDirectory("gar_stream_delta").toString
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "w"), "SD",
      GraphArWriter.EdgeSpec("N", "link", "N",
        srcVertexCount = 8, dstVertexCount = 8,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4))
    val stream = MemoryStream[(Long, Long, Double)](spark)
    val q = GraphArSink.edgeDeltas(
      stream.toDF().toDF("src", "dst", "w"), base, compactEvery = 2)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      stream.addData((1L, 2L, 2.0)); q.processAllAvailable() // batch 0: staged
      assert(GraphArMutations.stagedDeltas(spark, base).nonEmpty)
      assert(graft.streaming.GraphArSink.versions(spark, base) === Seq(0L))
      stream.addData((2L, 3L, 3.0)); q.processAllAvailable() // batch 1: compacts
      assert(GraphArMutations.stagedDeltas(spark, base).isEmpty)
      assert(graft.streaming.GraphArSink.versions(spark, base) === Seq(0L, 1L))
      stream.addData((3L, 4L, 4.0)); q.processAllAvailable() // batch 2: staged
      val got = GraphArMutations.currentEdges(spark, base)
        .select("src", "dst", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 4L, 4.0)))
      // read-your-writes view includes the still-staged batch 2
      assert(GraphArMutations.stagedDeltas(spark, base).nonEmpty)
    } finally q.stop()
  }
}
