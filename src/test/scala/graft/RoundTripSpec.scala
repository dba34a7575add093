package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.graphar.GraphArWriter

/** Writer→connector round-trips across all three GraphAr file_types and
  * all seven property primitives, including nulls and multiple property
  * groups.
  */
class RoundTripSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sampleDf = {
    import spark.implicits._
    (0 until 100).map { i =>
      (i % 2 == 0, i, i.toLong * 1000, i.toFloat / 3, i.toDouble / 7,
        if (i % 10 == 0) null else s"s,$i\"q\nnl", // comma, quote, newline
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + i)))
    }.toDF("b", "i32", "i64", "f", "d", "s", "dt")
  }

  for (ft <- Seq("parquet", "csv", "orc")) {
    test(s"$ft vertex round-trip: all 7 types, nulls, 3 chunks, 2 groups") {
      val dir = Files.createTempDirectory(s"gar_$ft").toString
      GraphArWriter.writeVertices(sampleDf, dir,
        GraphArWriter.VertexSpec("T", chunkSize = 40, fileType = ft),
        groups = Seq("g1" -> Seq("b", "i32", "i64", "f"), "g2" -> Seq("d", "s", "dt")))
      GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq.empty)
      val back = spark.read.format("graphar")
        .option("path", s"$dir/G.yaml").option("type", "T").load()
      assert(back.count() === 100)
      // index continuity across chunks
      assert(back.agg(min(col("_graphArVertexIndex")), max(col("_graphArVertexIndex")))
        .collect()(0).toSeq === Seq(0L, 99L))
      val row41 = back.filter(col("_graphArVertexIndex") === 41L).collect()(0)
      assert(row41.getBoolean(1) === false)
      assert(row41.getInt(2) === 41)
      assert(row41.getLong(3) === 41000L)
      assert(row41.getString(6) === "s,41\"q\nnl")
      assert(row41.getDate(7).toLocalDate.toEpochDay === 19041L)
      // null round-trip across all formats (csv: bare-empty=null,
      // quoted-empty=empty-string convention)
      assert(back.filter(col("_graphArVertexIndex") === 40L).collect()(0).isNullAt(6))
    }
  }

  for (ft <- Seq("parquet", "csv", "orc")) {
    test(s"$ft pushed filters on bool and date properties") {
      val dir = Files.createTempDirectory(s"gar_tf_$ft").toString
      GraphArWriter.writeVertices(sampleDf, dir,
        GraphArWriter.VertexSpec("T", chunkSize = 40, fileType = ft),
        groups = Seq("g1" -> Seq("b", "i32", "i64", "f"), "g2" -> Seq("d", "s", "dt")))
      GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq.empty)
      val back = spark.read.format("graphar")
        .option("path", s"$dir/G.yaml").option("type", "T").load()
      // bool equality: PropFilters compares Booleans directly; rows 0,2,...
      assert(back.filter(col("b") === true).count() === 50)
      assert(back.filter(col("b") === false)
        .select(min(col("i32"))).collect()(0).getInt(0) === 1)
      // date range: compared as epoch-day ints (the GraphAr date
      // encoding) — chunk stats can skip whole files, the per-row test
      // keeps residual exactness; ids 50..59 carry days 19050..19059
      val dLo = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19050L))
      val dHi = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19060L))
      val dateSel = back.filter(col("dt") >= dLo && col("dt") < dHi)
      assert(dateSel.select(col("i32")).collect().map(_.getInt(0)).sorted
        === (50 until 60).toArray)
      // combined bool AND date, crossing both property groups
      assert(back.filter(col("b") === true && col("dt") >= dLo && col("dt") < dHi)
        .select(col("i32")).collect().map(_.getInt(0)).sorted
        === Array(50, 52, 54, 56, 58))
    }
  }

  test("orc full scan crosses the DSv2 boundary columnar, values match the row path") {
    val dir = Files.createTempDirectory("gar_orc_col").toString
    GraphArWriter.writeVertices(sampleDf, dir,
      GraphArWriter.VertexSpec("T", chunkSize = 40, fileType = "orc"),
      groups = Seq("g1" -> Seq("b", "i32", "i64", "f"), "g2" -> Seq("d", "s", "dt")))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq.empty)
    val v = spark.read.format("graphar")
      .option("path", s"$dir/G.yaml").option("type", "T").load()
    val full = v.select(col("_graphArVertexIndex"), col("i64"), col("s"), col("dt"))
    assert(full.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"orc full scan not columnar:\n${full.queryExecution.executedPlan}")
    val viaColumnar = full.collect().map(_.toSeq).toSeq
    // a residual property predicate forces the row path — same values
    val viaRow = v.filter(col("i64") > Long.MinValue)
      .select(col("_graphArVertexIndex"), col("i64"), col("s"), col("dt"))
    assert(!viaRow.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(viaRow.collect().map(_.toSeq).toSeq === viaColumnar)
  }

  test("multi-type graph: two vertex types + edge type through the catalog") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gar_multi").toString
    GraphArWriter.writeVertices((0 until 20).map(i => (i.toLong, s"u$i")).toDF("uid", "name"),
      dir, GraphArWriter.VertexSpec("User", 8, "parquet"))
    GraphArWriter.writeVertices((0 until 10).map(i => (i.toLong, i * 1.5)).toDF("pid", "price"),
      dir, GraphArWriter.VertexSpec("Item", 8, "parquet"))
    GraphArWriter.writeEdges(Seq((0L, 1L), (1L, 2L), (5L, 9L)).toDF("src", "dst"), dir,
      GraphArWriter.EdgeSpec("User", "bought", "Item",
        srcVertexCount = 20, dstVertexCount = 10, chunkSize = 2,
        srcChunkSize = 8, dstChunkSize = 8, fileType = "parquet"))
    GraphArWriter.writeGraphYaml(dir, "Shop", Seq("User", "Item"), Seq("User_bought_Item"))

    val sess = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.shop", "graft.catalog.GraphArCatalog")
      .config("spark.sql.catalog.shop.path", s"$dir/Shop.yaml")
      .getOrCreate()
    val tables = sess.sql("SHOW TABLES IN shop").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(tables === Set("User.vertex", "Item.vertex", "User_bought_Item.edge"))
    assert(sess.sql("SELECT count(*) AS n FROM shop.`Item.vertex`")
      .collect()(0).getLong(0) === 10L)
    val joined = sess.sql(
      """SELECT u.name, i.price FROM shop.`User_bought_Item.edge` e
        |JOIN shop.`User.vertex` u ON u._graphArVertexIndex = e._graphArSrcIndex
        |JOIN shop.`Item.vertex` i ON i._graphArVertexIndex = e._graphArDstIndex
        |ORDER BY u.name""".stripMargin).collect()
    assert(joined.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("u0", 1.5), ("u1", 3.0), ("u5", 13.5)))
  }

  test("csv distinguishes null from empty string") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gar_nullcsv").toString
    val df = Seq((0L, "x"), (1L, ""), (2L, null)).toDF("k", "s")
    GraphArWriter.writeVertices(df, dir, GraphArWriter.VertexSpec("N", 10, "csv"))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("N"), Seq.empty)
    val back = spark.read.format("graphar")
      .option("path", s"$dir/G.yaml").option("type", "N").load()
      .orderBy("k").collect()
    assert(back(1).getString(2) === "")
    assert(back(2).isNullAt(2))
  }

  test("LIMIT combined with a pushed edge seek returns exactly LIMIT rows") {
    val yaml = sources.graphar.GraphArQueries.fixture(spark, "/root/testdata/sf0.001")
    val e = spark.read.format("graphar").option("path", yaml)
      .option("src", "Part").option("type", "link").option("dst", "Part").load()
    val hop = e.filter(col("_graphArSrcIndex") === 42L)
    val full = hop.count()
    assert(full > 3, s"need degree > 3 at vertex 42, got $full")
    assert(hop.limit(3).collect().length === 3)
    assert(hop.limit(0).collect().length === 0)
    // vertex side: seek + limit
    val v = spark.read.format("graphar").option("path", yaml)
      .option("type", "Part").load()
    assert(v.filter(col("_graphArVertexIndex") === 5L).limit(1).collect().length === 1)
  }

  test("orc edge round-trip with CSR seek") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gar_orc_e").toString
    val edges = Seq((0L, 1L, 1.5), (0L, 2L, 2.5), (1L, 2L, 3.5), (3L, 0L, 4.5))
      .toDF("src", "dst", "w")
    GraphArWriter.writeEdges(edges, dir,
      GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = 4, dstVertexCount = 4,
        chunkSize = 2, srcChunkSize = 2, dstChunkSize = 2, fileType = "orc"))
    // vertices needed for a loadable graph yaml
    GraphArWriter.writeVertices((0 until 4).map(i => Tuple1(i)).toDF("x"), dir,
      GraphArWriter.VertexSpec("T", 4, "orc"))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
    val back = spark.read.format("graphar").option("path", s"$dir/G.yaml")
      .option("src", "T").option("type", "e").option("dst", "T").load()
    assert(back.count() === 4)
    val hop0 = back.filter(col("_graphArSrcIndex") === 0L)
      .select("_graphArDstIndex", "w").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(hop0 === Set((1L, 1.5), (2L, 2.5)))
    val hopDst = back.filter(col("_graphArDstIndex") === 2L)
      .select("_graphArSrcIndex").collect().map(_.getLong(0)).toSet
    assert(hopDst === Set(0L, 1L))
  }

  test("edge property groups: split columns into group files, read back, project one group") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gar_egroups").toString
    val edges = Seq((0L, 1L, 1.5, "a"), (0L, 2L, 2.5, "b"), (1L, 2L, 3.5, "c"))
      .toDF("src", "dst", "w", "tag")
    GraphArWriter.writeEdges(edges, dir,
      GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = 3, dstVertexCount = 3,
        chunkSize = 2, srcChunkSize = 2, dstChunkSize = 2),
      groups = Seq("weights" -> Seq("w"), "labels" -> Seq("tag")))
    GraphArWriter.writeVertices((0 until 3).map(Tuple1(_)).toDF("x"), dir,
      GraphArWriter.VertexSpec("T", 4))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
    // both group dirs exist under both layouts
    for (layout <- Seq("ordered_by_source", "ordered_by_dest");
         g <- Seq("weights", "labels"))
      assert(new java.io.File(s"$dir/edge/T_e_T/$layout/$g/part0/chunk0").exists,
        s"$layout/$g chunk missing")
    val back = spark.read.format("graphar").option("path", s"$dir/G.yaml")
      .option("src", "T").option("type", "e").option("dst", "T").load()
    assert(back.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).sorted.toSeq
      === Seq((0L, 1L, 1.5, "a"), (0L, 2L, 2.5, "b"), (1L, 2L, 3.5, "c")))
    // single-group projection still answers (and a CSR seek on top)
    val wOnly = back.filter(col("_graphArSrcIndex") === 0L).select("w")
      .collect().map(_.getDouble(0)).toSet
    assert(wOnly === Set(1.5, 2.5))
    // misconfigured groups fail fast, before any file is staged
    def badWrite(gs: Seq[(String, Seq[String])]): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        GraphArWriter.writeEdges(edges, dir + "_bad",
          GraphArWriter.EdgeSpec("T", "e", "T", 3, 3), groups = gs)
      }
    assert(badWrite(Seq("weights" -> Seq("w"))) // tag unassigned
      .getMessage.contains("not assigned"))
    assert(badWrite(Seq("g" -> Seq("w"), "g" -> Seq("tag"))) // dup group name
      .getMessage.contains("duplicate group name"))
    assert(badWrite(Seq("adj_list" -> Seq("w", "tag"))) // reserved dir
      .getMessage.contains("reserved"))
    assert(badWrite(Seq("g" -> Seq("w", "tag", "src"))) // endpoint col
      .getMessage.contains("non-property"))
    assert(badWrite(Seq("g" -> Seq("w", "tag", "wieght"))) // typo'd col
      .getMessage.contains("wieght"))
    // vertex path enforces the same contract (no silent column drop)
    assert(intercept[IllegalArgumentException] {
      GraphArWriter.writeVertices(
        Seq((1, "a")).toDF("x", "y"), dir + "_vbad",
        GraphArWriter.VertexSpec("T", 4), groups = Seq("g" -> Seq("x")))
    }.getMessage.contains("not assigned"))
  }

  test("edge write: string, date, double and null properties round-trip on both layouts; decimal refused") {
    import spark.implicits._
    val n = 60
    val rows = (0 until n).map { i =>
      (((i * 7) % 13).toLong, ((i * 5) % 11).toLong,
        if (i % 9 == 0) null else s"s$i",
        if (i % 8 == 0) null else java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + i)),
        if (i % 7 == 0) None else Some(i / 4.0))
    }
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getLong(1), Option(r.getString(2)),
      Option(r.get(3)).map {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
      },
      if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq.sortBy(_.toString)
    // the writer sees java.sql.Date rows, then java.time.LocalDate rows
    for ((java8, dateClass) <- Seq("false" -> classOf[java.sql.Date],
                                   "true" -> classOf[java.time.LocalDate])) {
      spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
      try {
        val edges = rows.toDF("src", "dst", "s", "dt", "d")
        assert(edges.rdd.filter(!_.isNullAt(3)).first().get(3).getClass === dateClass)
        val input = asTuples(edges)
        // the first listed layout serves a full scan: write it both ways
        for (layouts <- Seq(Seq("src", "dst"), Seq("dst", "src"))) {
          val dir = Files.createTempDirectory(s"gar_kryo_${layouts.head}").toString
          val spec = GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = 13,
            dstVertexCount = 13, chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4,
            layouts = layouts, bloomCols = Seq("s", "dt"))
          assert(GraphArWriter.writeEdges(edges, dir, spec,
            groups = Seq("g1" -> Seq("s", "dt"), "g2" -> Seq("d"))) === n.toLong)
          GraphArWriter.writeVertices((0 until 13).map(Tuple1(_)).toDF("x"), dir,
            GraphArWriter.VertexSpec("T", 4))
          GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
          val back = spark.read.format("graphar").option("path", s"$dir/G.yaml")
            .option("src", "T").option("type", "e").option("dst", "T").load()
            .select("_graphArSrcIndex", "_graphArDstIndex", "s", "dt", "d")
          assert(asTuples(back) === input, s"java8API=$java8 layouts=$layouts")
          // each layout's offsets: monotone, and their steps are the
          // aligned vertices' degrees
          for ((layout, aligned) <- Seq("ordered_by_source" -> 0, "ordered_by_dest" -> 1)) {
            val degrees = input.groupBy(t => if (aligned == 0) t._1 else t._2)
              .map { case (v, es) => v -> es.size.toLong }
            val offsets = (0 until 4).flatMap { p =>
              val o = spark.read.parquet(s"$dir/edge/T_e_T/$layout/offset/chunk$p")
                .collect().map(_.getLong(0)).toSeq
              assert(o.head === 0L && o.sliding(2).forall(w => w(0) <= w(1)),
                s"$layout part $p offsets $o")
              o.sliding(2).map(w => w(1) - w(0)).toSeq
            }
            assert(offsets === (0L until 13L).map(degrees.getOrElse(_, 0L)), layout)
          }
        }
      } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
    // GraphAr has no decimal type: refused before any layout is written
    val dir = Files.createTempDirectory("gar_kryo_dec").toString
    val dec = Seq((0L, 1L, BigDecimal("1.25"))).toDF("src", "dst", "amount")
    intercept[IllegalArgumentException] {
      GraphArWriter.writeEdges(dec, dir,
        GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = 2, dstVertexCount = 2))
    }
    assert(!new java.io.File(s"$dir/edge").exists)
  }

  test("packed write tasks (maxTasks) produce byte-identical layout to one-chunk-per-task") {
    import spark.implicits._
    def degreeMap(yaml: String): Map[Long, Long] =
      graph.GraphArGraph(spark, yaml).degreesFast("T", "e", "T")
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap

    // 25 vertices / chunkSize 4 → 7 chunks; edges over 25 aligned
    // vertices / srcChunkSize 4 → 7 CSR parts; maxTasks 3 packs ~3
    // units per task, including a trailing part range with no edges
    val verts = (0 until 25).map(i => (i, s"v$i")).toDF("x", "name")
    val edges = Seq((0L, 1L, 1.0), (0L, 2L, 2.0), (1L, 2L, 3.0), (5L, 0L, 4.0),
      (5L, 9L, 5.0), (9L, 5L, 6.0), (10L, 11L, 7.0))
      .toDF("src", "dst", "w")
    val dirs = Seq(None, Some(3)).map { mt =>
      val dir = Files.createTempDirectory(s"gar_pack_${mt.getOrElse(0)}").toString
      GraphArWriter.writeVertices(verts, dir,
        GraphArWriter.VertexSpec("T", chunkSize = 4, maxTasks = mt))
      GraphArWriter.writeEdges(edges, dir,
        GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = 25,
          dstVertexCount = 25, chunkSize = 2, srcChunkSize = 4,
          dstChunkSize = 4, maxTasks = mt))
      GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
      s"$dir/G.yaml"
    }
    val Seq(plainYaml, packedYaml) = dirs
    def readV(y: String) = spark.read.format("graphar").option("path", y)
      .option("type", "T").load().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    def readE(y: String) = spark.read.format("graphar").option("path", y)
      .option("src", "T").option("type", "e").option("dst", "T").load()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(readV(packedYaml) === readV(plainYaml))
    assert(readE(packedYaml) === readE(plainYaml))
    assert(readE(packedYaml).size === 7)
    // offset tables must agree too (degrees come straight from them),
    // including parts whose vertices have no edges
    assert(degreeMap(packedYaml) === degreeMap(plainYaml))
    // CSR seek still lands on the right rows in the packed layout
    val hop5 = spark.read.format("graphar").option("path", packedYaml)
      .option("src", "T").option("type", "e").option("dst", "T").load()
      .filter(col("_graphArSrcIndex") === 5L)
      .select("_graphArDstIndex").collect().map(_.getLong(0)).toSet
    assert(hop5 === Set(0L, 9L))
  }

  test("DSv2 write path: df.write.format(graphar) creates graph, append adds types, overwrite replaces") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gar_dsv2w").toString
    val yaml = s"$dir/W.yaml"
    // 1. vertices into a brand-new graph
    val people = (0 until 50).map(i => (s"name$i", i * 2)).toDF("nm", "age")
    people.write.format("graphar").option("path", yaml)
      .option("type", "Person").option("chunk_size", "16").mode("append").save()
    val v = spark.read.format("graphar").option("path", yaml)
      .option("type", "Person").load()
    assert(v.count() === 50)
    assert(v.filter(col("_graphArVertexIndex") === 7L)
      .select("nm").collect()(0).getString(0) === "name7")
    // 2. append of the SAME type is rejected (would renumber the index)
    val err = intercept[Exception] {
      people.write.format("graphar").option("path", yaml)
        .option("type", "Person").mode("append").save()
    }
    assert(err.getMessage.contains("overwrite"), err.getMessage)
    // 3. edges: vertex counts default to the graph's own metadata
    val edges = Seq((0L, 1L, 1.5), (0L, 3L, 2.5), (3L, 49L, 3.5), (48L, 0L, 4.5))
      .toDF("src", "dst", "w")
    edges.write.format("graphar").option("path", yaml)
      .option("src", "Person").option("type", "knows").option("dst", "Person")
      .option("chunk_size", "2").option("src_chunk_size", "16")
      .option("dst_chunk_size", "16").mode("append").save()
    val e = spark.read.format("graphar").option("path", yaml)
      .option("src", "Person").option("type", "knows").option("dst", "Person").load()
    assert(e.count() === 4)
    assert(e.filter(col("_graphArSrcIndex") === 0L).count() === 2) // CSR seek path
    assert(e.filter(col("_graphArDstIndex") === 0L)
      .select("_graphArSrcIndex").collect()(0).getLong(0) === 48L)
    // 4. overwrite replaces the vertex type; index column defines order
    val fewer = Seq((10L, "z10"), (0L, "z0"), (5L, "z5"))
      .toDF("_graphArVertexIndex", "nm")
      .withColumn("age", lit(1))
    // _graphArVertexIndex orders the rows then drops; 3 rows → ids 0,1,2
    fewer.write.format("graphar").option("path", yaml)
      .option("type", "Person").option("chunk_size", "16").mode("overwrite").save()
    val v2 = spark.read.format("graphar").option("path", yaml)
      .option("type", "Person").load()
    assert(v2.count() === 3)
    assert(v2.orderBy("_graphArVertexIndex").select("nm")
      .collect().map(_.getString(0)).toSeq === Seq("z0", "z5", "z10"))
    // the edge type written earlier is still listed in the graph yaml
    assert(spark.read.format("graphar").option("path", yaml)
      .option("src", "Person").option("type", "knows").option("dst", "Person")
      .load().count() === 4)
    // overwrite cleared the old layout: 50-row write had chunks 0..3,
    // the 3-row rewrite must leave only chunk0 (no stale files)
    val chunkFiles = new java.io.File(s"$dir/vertex/Person/props")
      .listFiles().map(_.getName).filter(_.startsWith("chunk")).sorted
    assert(chunkFiles.toSeq === Seq("chunk0"), chunkFiles.mkString(","))
    // SELF-overwrite: the input plan reads the very type being replaced —
    // the staged write must complete against the old files before the swap
    val selfDerived = spark.read.format("graphar").option("path", yaml)
      .option("type", "Person").load()
      .filter(col("nm") =!= "z5")
      .select(col("nm"), (col("age") + 100).as("age"))
    selfDerived.write.format("graphar").option("path", yaml)
      .option("type", "Person").option("chunk_size", "16").mode("overwrite").save()
    val v3 = spark.read.format("graphar").option("path", yaml)
      .option("type", "Person").load()
    assert(v3.count() === 2)
    assert(v3.select("nm").collect().map(_.getString(0)).toSet === Set("z0", "z10"))
    assert(v3.filter(col("age") < 100).count() === 0)
  }

  test("mutation verbs: init/add/remove version history, time travel, LATEST repoint, vertex-count growth") {
    import spark.implicits._
    import graft.sources.graphar.GraphArMutations
    import graft.streaming.GraphArSink
    val base = Files.createTempDirectory("gar_mut").toString
    val spec = GraphArWriter.EdgeSpec("N", "link", "N",
      srcVertexCount = 8, dstVertexCount = 8,
      chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4)
    val e0 = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0)).toDF("src", "dst", "w")
    assert(GraphArMutations.initEdges(spark, base, e0, "Mut", spec) === 0L)
    // add two edges, one to a vertex beyond the declared count (grown)
    val v1 = GraphArMutations.addEdges(spark, base,
      Seq((3L, 9L, 4.0), (0L, 2L, 5.0)).toDF("src", "dst", "w"),
      newVertexCount = Some(10L))
    assert(v1 === 1L)
    // remove every copy of (1,2) — and a no-op key that matches nothing
    val v2 = GraphArMutations.removeEdges(spark, base,
      Seq((1L, 2L), (7L, 7L)).toDF("src", "dst"))
    assert(v2 === 2L)
    def readV(sel: String) = spark.read.format("graphar")
      .option("snapshotBase", base).option("snapshot", sel)
      .option("src", "N").option("type", "link").option("dst", "N").load()
      .select(col("_graphArSrcIndex"), col("_graphArDstIndex"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(GraphArSink.versions(spark, base) === Seq(0L, 1L, 2L))
    assert(readV("latest") ===
      Set((0L, 1L, 1.0), (2L, 3L, 3.0), (3L, 9L, 4.0), (0L, 2L, 5.0)))
    assert(readV("1") === readV("latest") + ((1L, 2L, 2.0)))
    assert(readV("0") === Set((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0)))
    // the grown vertex count persists into v2's metadata (degree of 9 works)
    val conf = spark.sessionState.newHadoopConf()
    val info = graft.meta.GraphArMeta.loadGraph(
      GraphArSink.latestYaml(spark, base), conf)
    val al = info.edges.head.adjList("src").get
    assert(info.edges.head.alignedVertexCount(al, conf) === 10L)
  }

  test("delta log: staged adds/removes fold in order, compaction amortizes to one rewrite") {
    import spark.implicits._
    import graft.sources.graphar.GraphArMutations
    import graft.streaming.GraphArSink
    val base = Files.createTempDirectory("gar_delta").toString
    val spec = GraphArWriter.EdgeSpec("N", "link", "N",
      srcVertexCount = 8, dstVertexCount = 8,
      chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4)
    GraphArMutations.initEdges(spark, base,
      Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("src", "dst", "w"), "D", spec)
    // d0: add two edges; d1: remove one original + one just-added
    assert(GraphArMutations.stageDelta(spark, base,
      adds = Some(Seq((2L, 3L, 3.0), (3L, 4L, 4.0)).toDF("src", "dst", "w"))) === 0L)
    assert(GraphArMutations.stageDelta(spark, base,
      removeKeys = Some(Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"))) === 1L)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Set((0L, 1L, 1.0), (2L, 3L, 3.0))
    assert(asSet(GraphArMutations.currentEdges(spark, base)) === want)
    // snapshot itself untouched while the log is pending
    assert(GraphArSink.versions(spark, base) === Seq(0L))
    // compaction: one rewrite, log retired, LATEST now equals the fold
    val v = GraphArMutations.compactDeltas(spark, base)
    assert(v === 1L)
    assert(GraphArMutations.stagedDeltas(spark, base).isEmpty)
    assert(asSet(GraphArMutations.currentEdges(spark, base)) === want)
    assert(GraphArSink.versions(spark, base) === Seq(0L, 1L))
    // idempotent on an empty log
    assert(GraphArMutations.compactDeltas(spark, base) === -1L)
    // a snapshot commit with a staged log pending is refused (staged
    // removes would re-apply over the commit's adds — history reorder)
    GraphArMutations.stageDelta(spark, base,
      adds = Some(Seq((5L, 6L, 6.0)).toDF("src", "dst", "w")))
    val err = intercept[IllegalArgumentException] {
      GraphArMutations.addEdges(spark, base,
        Seq((6L, 7L, 7.0)).toDF("src", "dst", "w"))
    }
    assert(err.getMessage.contains("compactDeltas"), err.getMessage)
    assert(GraphArMutations.compactDeltas(spark, base) === 2L)
    // re-init on a live base is refused (would repoint LATEST backwards)
    val err2 = intercept[IllegalArgumentException] {
      GraphArMutations.initEdges(spark, base,
        Seq((0L, 1L, 1.0)).toDF("src", "dst", "w"), "D", spec)
    }
    assert(err2.getMessage.contains("repoint"), err2.getMessage)
    // schema-mismatched adds are rejected at STAGE time, not at the fold
    val err3 = intercept[IllegalArgumentException] {
      GraphArMutations.stageDelta(spark, base,
        adds = Some(Seq((1L, 2L, "oops")).toDF("src", "dst", "not_w")))
    }
    assert(err3.getMessage.contains("edge schema"), err3.getMessage)
  }

  test("vertex mutation verbs: upsert replaces and appends, remove deletes, index re-derived") {
    import spark.implicits._
    import graft.sources.graphar.GraphArMutations
    import graft.streaming.GraphArSink
    val base = Files.createTempDirectory("gar_vmut").toString
    val v0 = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "nm")
    GraphArMutations.initVertices(spark, base, v0, "VMut",
      GraphArWriter.VertexSpec("T", chunkSize = 2), orderCol = "k")
    // upsert: replace k=20, insert k=15 (shifts later indices)
    GraphArMutations.upsertVertices(spark, base,
      Seq((20L, "B"), (15L, "x")).toDF("k", "nm"), orderCol = "k")
    GraphArMutations.removeVertices(spark, base,
      Seq(Tuple1(10L)).toDF("k"), orderCol = "k")
    def readV(sel: String) = spark.read.format("graphar")
      .option("snapshotBase", base).option("snapshot", sel)
      .option("type", "T").load()
      .orderBy("_graphArVertexIndex")
      .select("_graphArVertexIndex", "k", "nm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(GraphArSink.versions(spark, base) === Seq(0L, 1L, 2L))
    assert(readV("1") ===
      Seq((0L, 10L, "a"), (1L, 15L, "x"), (2L, 20L, "B"), (3L, 30L, "c")))
    assert(readV("latest") ===
      Seq((0L, 15L, "x"), (1L, 20L, "B"), (2L, 30L, "c")))
    assert(readV("0") === Seq((0L, 10L, "a"), (1L, 20L, "b"), (2L, 30L, "c")))
  }

  test("bloom sidecars: per-chunk files, point-lookup pruning, stale guard") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.EqualTo
    import graft.sources.graphar.{BloomSidecar, PropFilters}
    val dir = Files.createTempDirectory("gar_bloom").toString
    // nm = name_((i·37) mod 200) is unique (gcd(37,200)=1) and UNSORTED
    // across chunks — min/max stats cannot prune a point probe on it
    val df = (0 until 200).map { i =>
      (i.toLong, s"name_${(i * 37) % 200}", i % 10)
    }.toDF("id", "nm", "sz")
    GraphArWriter.writeVertices(df, dir,
      GraphArWriter.VertexSpec("T", chunkSize = 40,
        bloomCols = Seq("nm", "id")))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq.empty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val chunks = (0 until 5).map(c => new Path(s"$dir/vertex/T/props/chunk$c"))
    val fs = chunks.head.getFileSystem(conf)
    chunks.foreach(p => assert(fs.exists(BloomSidecar.sidecarPath(p))))

    // connector answers stay exact with pruning active
    val back = spark.read.format("graphar")
      .option("path", s"$dir/G.yaml").option("type", "T").load()
    assert(back.filter(col("nm") === "name_151") // row 123·37 ≡ 151 (mod 200)
      .select(col("id")).collect().map(_.getLong(0)).toSeq === Seq(123L))

    // chunk-skip decision: the owning chunk (123/40 = 3) must pass; all
    // others refute modulo the 1% fpp (allow one false positive)
    val nmMatches = chunks.map(p =>
      PropFilters.bloomChunkCanMatch(p, Seq(EqualTo("nm", "name_151")), conf))
    assert(nmMatches(3))
    assert(nmMatches.count(identity) <= 2)
    // integral column probes go through the long path
    val idMatches = chunks.map(p =>
      PropFilters.bloomChunkCanMatch(p, Seq(EqualTo("id", 55L)), conf))
    assert(idMatches(1))
    assert(idMatches.count(identity) <= 2)
    // non-membership predicates never consult the sidecar (no skip)
    assert(chunks.forall(p => PropFilters.bloomChunkCanMatch(p,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 10000L)), conf)))

    // stale guard: a chunk whose file is NEWER than its sidecar (e.g.
    // rewritten without bloomCols) must not be pruned by the old bloom
    fs.setTimes(chunks.head, System.currentTimeMillis() + 60000L, -1L)
    assert(PropFilters.bloomChunkCanMatch(chunks.head,
      Seq(EqualTo("nm", "no_such_name")), conf))
    // while a fresh sidecar still refutes the impossible probe elsewhere
    assert(!PropFilters.bloomChunkCanMatch(chunks(2),
      Seq(EqualTo("nm", "no_such_name")), conf))
  }

  test("edge bloom sidecars: per-chunk files in both layouts, point-lookup pruning") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.EqualTo
    import graft.sources.graphar.{BloomSidecar, PropFilters}
    val dir = Files.createTempDirectory("gar_ebloom").toString
    // 4 src-parts × multiple chunks; tag unsorted across chunks
    val edges = (0 until 400).map { i =>
      (i.toLong % 64, (i.toLong * 7) % 64, s"tag_${(i * 37) % 400}")
    }.toDF("src", "dst", "tag")
    GraphArWriter.writeEdges(edges, dir,
      GraphArWriter.EdgeSpec("T", "e", "T",
        srcVertexCount = 64, dstVertexCount = 64,
        chunkSize = 50, srcChunkSize = 16, dstChunkSize = 16,
        bloomCols = Seq("tag")))
    GraphArWriter.writeVertices((0 until 64).map(Tuple1(_)).toDF("x"), dir,
      GraphArWriter.VertexSpec("T", 64))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new Path(dir).getFileSystem(conf)
    // sidecars exist beside every property chunk of both layouts
    val propChunks = Seq("ordered_by_source", "ordered_by_dest").flatMap { l =>
      val st = fs.globStatus(new Path(s"$dir/edge/T_e_T/$l/props/part*/chunk*"))
      st.map(_.getPath).filterNot(_.getName.endsWith(".bloom"))
    }
    assert(propChunks.nonEmpty)
    propChunks.foreach(p => assert(fs.exists(BloomSidecar.sidecarPath(p)),
      s"missing sidecar for $p"))
    // connector answers stay exact with the probe active
    val back = spark.read.format("graphar")
      .option("path", s"$dir/G.yaml")
      .option("src", "T").option("type", "e").option("dst", "T").load()
    val got = back.filter(col("tag") === "tag_259") // row 7: (7*37)=259
      .select(col("_graphArSrcIndex"), col("_graphArDstIndex"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((7L, 49L)))
    // pruning: most chunks refute the point probe
    val matches = propChunks.map(p =>
      PropFilters.bloomChunkCanMatch(p, Seq(EqualTo("tag", "tag_259")), conf))
    assert(matches.count(identity) <= propChunks.length / 2,
      s"bloom pruned too little: ${matches.count(identity)}/${propChunks.length}")
  }
}
