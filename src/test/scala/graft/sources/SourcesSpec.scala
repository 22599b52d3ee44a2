package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink round-trips over the real test tables. */
class SourcesSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_src").toString + "/" + name

  test("binaryFile ingest: real PNGs read back byte-identical, glob routes by extension") {
    import graft.operators.Multimodal.ImageCodec
    val dir = Files.createTempDirectory("graft_bin")
    val payloads = (0 until 4).map { i =>
      val p = ImageCodec.encodePng(8 + i, 8)((x, y) => (x, y, i))
      Files.write(dir.resolve(s"img$i.png"), p)
      s"img$i.png" -> p
    }.toMap
    Files.write(dir.resolve("notes.txt"), "not an image".getBytes("UTF-8"))
    // glob filter routes only the media files into the decode path
    val rows = Sources.readBinary(spark, dir.toString, Some("*.png"))
      .select(col("path"), col("length"), col("content")).collect()
    assert(rows.length == 4, "pathGlobFilter must exclude the stray text file")
    rows.foreach { r =>
      val name = r.getString(0).split("/").last
      val content = r.getAs[Array[Byte]]("content")
      assert(content.sameElements(payloads(name)), s"$name bytes must round-trip")
      assert(r.getLong(1) == payloads(name).length)
      // the ingested bytes decode through the REAL codec path
      assert(ImageCodec.sniffFormat(content) == "image/png")
      assert(ImageCodec.decode(content).getHeight == 8)
    }
  }

  test("text write/read round-trip (to_textfiles/read_text analog)") {
    val path = tmp("txt")
    val lines = Tables.documents(spark, sfDir).select("text").as[String]
    Sources.writeText(lines, path)
    val back = Sources.readText(spark, path)
    assert(back.count() == lines.count())
    assert(back.collect().sorted.sameElements(lines.collect().sorted))
  }

  test("csv round-trip preserves values with explicit schema") {
    val path = tmp("csv")
    val df = Tables.nation(spark, sfDir)
    Sources.writeCsv(df, path)
    val back = Sources.readCsv(spark, path, df.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("json round-trip preserves values") {
    val path = tmp("json")
    val df = Tables.region(spark, sfDir)
    Sources.writeJson(df, path)
    val back = Sources.readJson(spark, path, df.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      df.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves values") {
    val path = tmp("orc")
    val df = Tables.customer(spark, sfDir)
    Sources.writeOrc(df, path)
    val back = Sources.readOrc(spark, path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
  }

  test("avro round-trip preserves values (nation table) and splits per partition") {
    val path = tmp("avro")
    val df = Tables.nation(spark, sfDir).repartition(3)
    Sources.writeAvro(df, path)
    val back = Sources.readAvro(spark, path)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("avro round-trip: nullable + binary + double columns") {
    val path = tmp("avro2")
    val df = Seq(
      (1L, Some("alpha"), 1.5, Array[Byte](1, 2, 3)),
      (2L, None, -0.25, Array[Byte]()),
      (3L, Some("gamma"), 0.0, Array[Byte](9))
    ).toDF("id", "name", "score", "payload")
    Sources.writeAvro(df, path)
    val back = Sources.readAvro(spark, path).orderBy("id").collect()
    val orig = df.orderBy("id").collect()
    assert(back.length == orig.length)
    back.zip(orig).foreach { case (b, o) =>
      assert(b.getLong(0) == o.getLong(0))
      assert(Option(b.getString(1)) == Option(o.getString(1)))
      assert(b.getDouble(2) == o.getDouble(2))
      assert(b.getAs[Array[Byte]](3).toSeq == o.getAs[Array[Byte]](3).toSeq)
    }
  }

  test("avro round-trip: array column (embeddings table)") {
    val path = tmp("avro_arr")
    val df = Tables.embeddings(spark, sfDir) // array<float> column
    Sources.writeAvro(df, path)
    val back = Sources.readAvro(spark, path)
    assert(back.schema("embedding").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val a = df.orderBy("vec_id").head().getAs[scala.collection.Seq[Float]]("embedding").toList
    val b = back.orderBy("vec_id").head().getAs[scala.collection.Seq[Float]]("embedding").toList
    assert(a == b && back.count() == df.count())
  }

  test("avro round-trip: nested struct + map + array-of-struct") {
    val path = tmp("avro_nested")
    val df = Seq(
      (1L, ("alpha", 10), Map("k1" -> 1.5, "k2" -> -0.5), Seq((1, "x"), (2, "y"))),
      (2L, ("beta", -3), Map.empty[String, Double], Seq.empty[(Int, String)]),
      (3L, (null: String, 0), Map("z" -> 0.0), Seq((9, null: String)))
    ).toDF("id", "rec", "props", "items")
    Sources.writeAvro(df, path)
    val back = Sources.readAvro(spark, path)
    assert(back.schema("rec").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(back.schema("props").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    val o = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    o.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getStruct(1).toSeq == y.getStruct(1).toSeq)
      assert(x.getMap[String, Double](2) == y.getMap[String, Double](2))
      assert(x.getSeq[Row](3).map(_.toSeq) == y.getSeq[Row](3).map(_.toSeq))
    }
  }

  test("avro reader rejects multi-branch unions with a clear error") {
    // non-null multi-branch unions stay out of scope: build one directly
    val dir = tmp("avro_union")
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"u","fields":
        |[{"name":"v","type":["int","string"]}]}""".stripMargin)
    val f = new java.io.File(dir); f.mkdirs()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, new java.io.File(f, "part-0.avro"))
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("v", 42)
    w.append(rec); w.close()
    val e = intercept[IllegalArgumentException] {
      Sources.readAvro(spark, dir)
    }
    assert(e.getMessage.contains("union"))
  }

  test("partitioned parquet write enables partition pruning") {
    val path = tmp("part_parquet")
    val df = Tables.orders(spark, sfDir)
    Sources.writeParquet(df, path, partitionBy = Seq("o_orderstatus"))
    val back = Sources.readParquet(spark, path)
    val pruned = back.filter(col("o_orderstatus") === "F")
    assert(pruned.count() == df.filter(col("o_orderstatus") === "F").count())
    // partition filter must appear in the scan, not as a post-filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("o_orderstatus"),
      s"expected partition pruning in:\n$plan")
  }

  test("custom DSv2 connector: range predicate absorbed at the source, columns pruned") {
    import graft.sources.{SynthProvider, SynthTable}
    val df = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 10000L).option("parts", 4).load()
    // filter pushdown: the surviving [lo, hi) must appear in the scan
    // description — the generator never produced the excluded rows
    val filtered = df.filter(col("doc_id") >= 2500 && col("doc_id") < 7500)
      .select("doc_id")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("SynthScan[lo=2500,hi=7500"),
      s"range predicate did not reach the source:\n$plan")
    // column pruning: only the projected column appears in the read schema
    assert(plan.contains("cols=doc_id]"), s"column pruning missing:\n$plan")
    // no post-scan Filter node survives — the predicate was fully absorbed
    assert(!plan.contains("Filter ("), s"residual filter should not exist:\n$plan")
    assert(filtered.count() == 5000)
    // values match the declared formula (the oracle's contract)
    val row = df.filter(col("doc_id") === 1234).select("h", "bucket").head()
    val h = 1234L * SynthTable.Mult % SynthTable.HMod
    assert(row.getLong(0) == h && row.getLong(1) == h % SynthTable.BMod)
    // partition topology: the source declares its splits
    assert(filtered.rdd.getNumPartitions == 4)
    // non-range predicates stay residual and still evaluate correctly
    val residual = df.filter(col("bucket") === 5)
    val rplan = residual.queryExecution.executedPlan.toString
    assert(rplan.contains("Filter"), s"residual predicate must be re-evaluated:\n$rplan")
    assert(residual.count() ==
      (0L until 10000L).count(x => x * SynthTable.Mult % SynthTable.HMod % SynthTable.BMod == 5))
  }

  test("custom DSv2 connector: COUNT/MIN/MAX pushed to source closed forms; SUM falls back") {
    import graft.sources.SynthProvider
    val df = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 10000L).option("parts", 4).load()
    val agg = df.filter(col("doc_id") >= 100 && col("doc_id") < 9900)
      .agg(expr("count(*)").as("n"), min("doc_id").as("mn"), max("doc_id").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("SynthAggScan[lo=100,hi=9900"),
      s"aggregate did not push to the source:\n$plan")
    val r = agg.head()
    assert(r.getLong(0) == 9800 && r.getLong(1) == 100 && r.getLong(2) == 9899)
    // an empty surviving range answers count 0 with null min/max
    val empty = df.filter(col("doc_id") >= 5000 && col("doc_id") < 5000)
      .agg(expr("count(*)"), min("doc_id"), max("doc_id")).head()
    assert(empty.getLong(0) == 0 && empty.isNullAt(1) && empty.isNullAt(2))
    // SUM has no closed form — the builder declines and the row scan runs
    val sumAgg = df.filter(col("doc_id") < 100).agg(sum("h"))
    val splan = sumAgg.queryExecution.executedPlan.toString
    assert(splan.contains("SynthScan[") && !splan.contains("SynthAggScan"),
      s"SUM must fall back to the row scan:\n$splan")
    assert(sumAgg.head().getLong(0) ==
      (0L until 100L).map(x => x * graft.sources.SynthTable.Mult % graft.sources.SynthTable.HMod).sum)
  }

  test("custom DSv2 connector: ORDER BY doc_id LIMIT pushes as a range prefix; DESC falls back") {
    import graft.sources.SynthProvider
    val df = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 10000L).option("parts", 4).load()
    val topn = df.filter(col("doc_id") >= 3000).orderBy(col("doc_id").asc).limit(50)
      .select("doc_id")
    val plan = topn.queryExecution.executedPlan.toString
    assert(plan.contains("SynthScan[lo=3000,hi=3050"),
      s"TopN did not collapse into the range prefix:\n$plan")
    assert(!plan.contains("TakeOrderedAndProject"),
      s"sort+limit should have vanished into the source:\n$plan")
    assert(topn.collect().map(_.getLong(0)).toSeq == (3000L until 3050L).toSeq)
    // descending order has no closed form here — Spark keeps its TopN
    val desc = df.orderBy(col("doc_id").desc).limit(3).select("doc_id")
    val dplan = desc.queryExecution.executedPlan.toString
    assert(dplan.contains("TakeOrderedAndProject"),
      s"DESC TopN must fall back to Spark:\n$dplan")
    assert(desc.collect().map(_.getLong(0)).toSeq == Seq(9999L, 9998L, 9997L))
  }

  test("custom DSv2 connector: storage-partitioned self-join runs with NO exchange") {
    import graft.sources.SynthProvider
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def rd = spark.table("graft.synth_100000_8")
      val a = rd
      val b = rd.filter(col("doc_id") >= 40000).select(col("doc_id"), col("h").as("h2"))
      val j = a.join(b, "doc_id")
      j.count() // materialize so AQE finalizes the plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("bucketBy=8"), s"bucketed scan missing:\n$plan")
      assert(!plan.contains("Exchange"),
        s"key-grouped partitioning must eliminate the join shuffle:\n$plan")
      assert(j.count() == 60000L)
      // values survive the stride readers: h equals the closed form
      val r = j.filter(col("doc_id") === 54321).head()
      assert(r.getLong(1) == 54321L * graft.sources.SynthTable.Mult % graft.sources.SynthTable.HMod)
      assert(r.getLong(1) == r.getLong(3))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("DSv2 reported ordering: the storage-partitioned join is sort-free too") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def rd = spark.table("graft.synth_100000_8")
      val j = rd.join(
        rd.filter(col("doc_id") >= 40000).select(col("doc_id"), col("h").as("h2")),
        "doc_id")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // key-grouped layout kills the exchange; REPORTED ordering must now
      // kill the SortMergeJoin's per-partition sorts as well — the whole
      // physical join cost answered from connector metadata
      assert(!plan.contains("Exchange"), s"exchange crept back:\n$plan")
      if (plan.contains("SortMergeJoin"))
        assert(!plan.contains("Sort "),
          s"declared doc_id ordering must satisfy the SMJ requirement:\n$plan")
      assert(j.count() == 60000L)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("DSv2 reported statistics: a small synth relation auto-broadcasts, no hint") {
    import graft.sources.SynthProvider
    val big = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 500000L).option("parts", 8).load()
    val small = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 500L).option("parts", 2).load()
      .select(col("doc_id"), col("h").as("h_dim"))
    val j = big.join(small, "doc_id") // NO broadcast() hint anywhere
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"reported numRows/sizeInBytes must drive an auto-broadcast:\n$plan")
    assert(j.count() == 500L)
  }

  test("custom DSv2 connector: broadcast join hands its key set to the scan at runtime") {
    import graft.sources.SynthProvider
    val dir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    // a REAL file-backed dim (DPP requires a selective predicate on the
    // filtering side; a LocalRelation constant-folds away)
    spark.range(0, 1000).selectExpr("id * 191 AS doc_id", "id % 10 AS tag")
      .write.mode("overwrite").parquet(dir)
    val dim = spark.read.parquet(dir).filter(col("tag") === 3)
    val fact = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 200000L).option("parts", 8).load()
    val j = fact.join(dim, Seq("doc_id")).agg(sum("h").as("s"), count(lit(1)).as("n"))
    // collect() (NOT head(), which builds a separate QueryExecution) so
    // the inspected plan is the one that actually ran
    val row = j.collect()(0)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter planned on the scan:\n$plan")
    assert(plan.contains("+runtime("),
      s"runtime key set never reached the scan:\n$plan")
    // 100 dim keys with tag=3 (id % 10 == 3), those with id*191 < 200000
    val ids = (0L until 1000L).filter(_ % 10 == 3).map(_ * 191).filter(_ < 200000L)
    assert(row.getLong(1) == ids.length.toLong)
    assert(row.getLong(0) ==
      ids.map(x => x * graft.sources.SynthTable.Mult % graft.sources.SynthTable.HMod).sum)
  }

  test("custom DSv2 connector: columnar batches feed codegen; row path A/B identical") {
    import graft.sources.SynthProvider
    def rd(columnar: Boolean) = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 20000L).option("parts", 4).option("columnar", columnar).load()
    val cPlan = rd(columnar = true).filter(col("doc_id") >= 5000)
      .queryExecution.executedPlan.toString
    assert(cPlan.contains("ColumnarToRow"),
      s"columnar path must bridge through the vectorized ColumnarToRow:\n$cPlan")
    val rPlan = rd(columnar = false).filter(col("doc_id") >= 5000)
      .queryExecution.executedPlan.toString
    assert(!rPlan.contains("ColumnarToRow"), s"row path must stay row-based:\n$rPlan")
    // identical results across page boundaries (4096-row pages, stride
    // partitions) and under a residual filter
    def sig(columnar: Boolean) = rd(columnar)
      .filter(col("bucket") === 5)
      .agg(count(lit(1)), sum("h"), sum("doc_id")).head()
    assert(sig(columnar = true) == sig(columnar = false))
    // columnar composes with the bucketed stride layout
    val b = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 20000L).option("parts", 4)
      .option("bucketBy", "true").load()
    assert(b.agg(sum("h")).head().getLong(0) ==
      rd(columnar = false).agg(sum("h")).head().getLong(0))
  }

  test("custom DSv2 sink: commit is atomic — a failed job leaves the committed version intact") {
    spark.sql("DROP TABLE IF EXISTS graft.mem_atomic")
    // first write commits
    spark.range(0, 100).selectExpr("id", "id * 7 AS v")
      .writeTo("graft.mem_atomic").create()
    assert(spark.table("graft.mem_atomic").count() == 100)
    val sum0 = spark.table("graft.mem_atomic").selectExpr("sum(v)").head().getLong(0)
    // second write fails mid-task (after some rows were already buffered):
    // NOTHING of it may become visible
    val boom = org.apache.spark.sql.functions.udf((x: Long) =>
      if (x == 50L) throw new RuntimeException("boom") else x)
    intercept[Exception] {
      spark.range(0, 100).select(boom(col("id")).as("id"),
        (col("id") * 1000).as("v")).writeTo("graft.mem_atomic").append()
    }
    assert(spark.table("graft.mem_atomic").count() == 100,
      "aborted append must not leak partial rows")
    assert(spark.table("graft.mem_atomic").selectExpr("sum(v)").head().getLong(0) == sum0)
    // INSERT OVERWRITE runs the truncate path: old version fully replaced
    spark.sql("INSERT OVERWRITE graft.mem_atomic SELECT id, id AS v FROM range(0, 5)")
    val after = spark.table("graft.mem_atomic").collect().map(_.getLong(0)).sorted
    assert(after.toSeq == (0L until 5L))
    spark.sql("DROP TABLE graft.mem_atomic")
  }

  test("DSv2 DELETE WHERE: filters evaluated exactly; refused/failed deletes keep the version") {
    import graft.sources.{MemFilterEval, MemStore}
    spark.sql("DROP TABLE IF EXISTS graft.mem_delspec")
    spark.range(0, 100)
      .selectExpr("id AS k", "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS tag",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id * 7 END AS v")
      .writeTo("graft.mem_delspec").create()
    // the translated-filter delete: comparison + conjunction + IN + disjunction
    spark.sql("DELETE FROM graft.mem_delspec WHERE (tag = 'a' AND k < 30) OR k IN (97, 98)")
    val left = spark.table("graft.mem_delspec").select("k").collect().map(_.getLong(0)).toSet
    val expect = (0L until 100L).filterNot(k =>
      (k % 3 == 0 && k < 30) || k == 97 || k == 98).toSet
    assert(left == expect, "survivors must be exactly the non-matching rows")
    // NULL comparisons are not-true → those rows are KEPT, not deleted
    spark.sql("DELETE FROM graft.mem_delspec WHERE v < 100")
    val left2 = spark.table("graft.mem_delspec").select("k").collect().map(_.getLong(0)).toSet
    assert(left2 == expect.filterNot(k => k % 10 != 0 && k * 7 < 100),
      "NULL v rows must survive a v < 100 delete (three-valued logic)")
    // a filter shape the evaluator can't decide exactly is refused by
    // canDeleteWhere — and since round 7 the statement FALLS BACK to the
    // group-based row-level rewrite instead of erroring: the LIKE is
    // evaluated by Spark over the scanned group, matching rows dropped
    // (here: none contain 'x'; 'b' matches all tag='b' survivors)
    val before = spark.table("graft.mem_delspec").count()
    spark.sql("DELETE FROM graft.mem_delspec WHERE tag LIKE '%x%'")
    assert(spark.table("graft.mem_delspec").count() == before,
      "no-match copy-on-write delete must keep every row")
    spark.sql("DELETE FROM graft.mem_delspec WHERE tag LIKE '%b%'")
    assert(spark.table("graft.mem_delspec").select("tag").collect()
      .forall(_.getString(0) == "a"),
      "copy-on-write delete must evaluate the non-translatable predicate")
    // a delete whose evaluation THROWS mid-scan mutates nothing either:
    // commitDelete's compute swap rethrows with the mapping unchanged
    val beforePoison = spark.table("graft.mem_delspec").count()
    intercept[Exception] {
      MemStore.commitDelete("mem_delspec",
        r => throw new RuntimeException("poisoned predicate"))
    }
    assert(spark.table("graft.mem_delspec").count() == beforePoison,
      "failed delete must leave the committed version intact")
    // supported()/eval() stay case-aligned: whatever supported admits,
    // eval decides without hitting its fallback throw
    import org.apache.spark.sql.sources._
    val schema = spark.table("graft.mem_delspec").schema
    assert(!MemFilterEval.supported(StringContains("tag", "x"), schema))
    assert(!MemFilterEval.supported(EqualTo("nope", 1L), schema))
    spark.sql("DROP TABLE graft.mem_delspec")
  }

  test("DSv2 row-level ops: UPDATE and MERGE rewrite copy-on-write, atomically, aborts keep the version") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_rlo")
    spark.range(0, 50)
      .selectExpr("id AS k", "id * 10 AS v",
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag")
      .writeTo("graft.mem_rlo").create()
    val v1 = MemStore.currentVersion("mem_rlo")

    // UPDATE: matched rows rewritten, unmatched copied over — one version
    spark.sql("UPDATE graft.mem_rlo SET v = v + 1000 WHERE tag = 'even'")
    assert(MemStore.currentVersion("mem_rlo") == v1 + 1,
      "an UPDATE must install exactly one new version")
    val afterUpdate = spark.table("graft.mem_rlo")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 50L).foreach { k =>
      val expect = if (k % 2 == 0) k * 10 + 1000 else k * 10
      assert(afterUpdate(k) == expect, s"k=$k: got ${afterUpdate(k)}, want $expect")
    }
    assert(afterUpdate.size == 50, "UPDATE must not lose or duplicate rows")

    // MERGE: matched update + not-matched insert in ONE statement/version
    spark.range(40, 60)
      .selectExpr("id AS k", "id * 100 AS v", "'merged' AS tag")
      .createOrReplaceTempView("rlo_src")
    val v2 = MemStore.currentVersion("mem_rlo")
    spark.sql("""MERGE INTO graft.mem_rlo t USING rlo_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.tag = s.tag
                |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)
                |""".stripMargin)
    assert(MemStore.currentVersion("mem_rlo") == v2 + 1,
      "a MERGE must install exactly one new version")
    val afterMerge = spark.table("graft.mem_rlo")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(afterMerge.size == 60)
    (0L until 40L).foreach { k =>
      val expect = if (k % 2 == 0) k * 10 + 1000 else k * 10
      assert(afterMerge(k) == ((expect, if (k % 2 == 0) "even" else "odd")))
    }
    (40L until 60L).foreach(k => assert(afterMerge(k) == ((k * 100, "merged"))))

    // an UPDATE whose evaluation fails mid-job aborts: no version burned,
    // contents intact (the two-phase commit's abort path through ReplaceData)
    val v3 = MemStore.currentVersion("mem_rlo")
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k >= 0) throw new RuntimeException("rlo boom"); k
    }
    spark.udf.register("rlo_boom", boom)
    intercept[Exception] {
      spark.sql("UPDATE graft.mem_rlo SET v = rlo_boom(k) WHERE tag = 'merged'")
    }
    assert(MemStore.currentVersion("mem_rlo") == v3,
      "a failed UPDATE must not burn a version")
    assert(spark.table("graft.mem_rlo").count() == 60,
      "a failed UPDATE must leave contents intact")

    // time-travel relations refuse row-level writes like every other verb
    intercept[Exception] {
      spark.sql(s"UPDATE graft.mem_rlo VERSION AS OF $v3 SET v = 0")
    }
    spark.sql("DROP TABLE graft.mem_rlo")
  }

  test("DSv2 delta row-level ops: WriteDelta plans, per-verb deltas apply keyed, aborts keep the version") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.memd_spec")
    spark.range(0, 40)
      .selectExpr("id AS k", "id * 10 AS v")
      .writeTo("graft.memd_spec").create()
    val v1 = MemStore.currentVersion("memd_spec")

    // UPDATE on the delta flavor plans WriteDelta, not ReplaceData
    val upd = spark.sql("UPDATE graft.memd_spec SET v = v + 7 WHERE k % 4 = 1")
    val plan = upd.queryExecution.executedPlan.toString
    assert(plan.contains("WriteDelta"),
      s"memd tables must take the delta path:\n$plan")
    assert(!plan.contains("ReplaceData"), s"no group rewrite expected:\n$plan")
    assert(MemStore.currentVersion("memd_spec") == v1 + 1)
    val afterUpdate = spark.table("graft.memd_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterUpdate.size == 40, "delta UPDATE must not change row count")
    (0L until 40L).foreach { k =>
      assert(afterUpdate(k) == (if (k % 4 == 1) k * 10 + 7 else k * 10))
    }

    // one MERGE drives all three writer verbs keyed by k
    spark.range(30, 50).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("dspec_src")
    val v2 = MemStore.currentVersion("memd_spec")
    spark.sql("""MERGE INTO graft.memd_spec t USING dspec_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
                |WHEN NOT MATCHED BY SOURCE AND t.k % 10 = 2 THEN DELETE
                |""".stripMargin)
    assert(MemStore.currentVersion("memd_spec") == v2 + 1,
      "a delta MERGE must install exactly one version")
    val afterMerge = spark.table("graft.memd_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (30L until 50L).foreach(k => assert(afterMerge(k) == k * 100, s"k=$k"))
    (0L until 30L).foreach { k =>
      if (k % 10 == 2) assert(!afterMerge.contains(k), s"k=$k must be deleted")
      else assert(afterMerge(k) == (if (k % 4 == 1) k * 10 + 7 else k * 10))
    }

    // failed job aborts: version and contents intact
    val v3 = MemStore.currentVersion("memd_spec")
    val n3 = spark.table("graft.memd_spec").count()
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k >= 0) throw new RuntimeException("delta boom"); k
    }
    spark.udf.register("dspec_boom", boom)
    intercept[Exception] {
      spark.sql("UPDATE graft.memd_spec SET v = dspec_boom(k) WHERE k >= 30")
    }
    assert(MemStore.currentVersion("memd_spec") == v3 &&
      spark.table("graft.memd_spec").count() == n3,
      "a failed delta job must keep the committed version")

    // a delta referencing a phantom id fails the WHOLE commit
    intercept[Exception] {
      MemStore.commitDelta("memd_spec", _.getLong(0),
        deletes = Seq(999999L), updates = Nil, inserts = Nil)
    }
    assert(MemStore.currentVersion("memd_spec") == v3,
      "a phantom-id delta must not burn a version")
    spark.sql("DROP TABLE graft.memd_spec")
  }

  test("DSv2 streaming write: epoch replay is a no-op — no rows, no version burned") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_epoch")
    spark.sql("CREATE TABLE graft.mem_epoch (k BIGINT)")
    import org.apache.spark.sql.catalyst.InternalRow
    def rows(vs: Long*) = vs.map(v => InternalRow(v): InternalRow)
    MemStore.commitEpoch("mem_epoch", "qA", 0L, rows(1L, 2L))
    MemStore.commitEpoch("mem_epoch", "qA", 1L, rows(3L))
    val v = MemStore.currentVersion("mem_epoch")
    val n = spark.table("graft.mem_epoch").count()
    assert(n == 3)
    // a restarted micro-batch re-delivers the SAME epoch id: no-op
    MemStore.commitEpoch("mem_epoch", "qA", 1L, rows(3L))
    MemStore.commitEpoch("mem_epoch", "qA", 0L, rows(1L, 2L))
    assert(MemStore.currentVersion("mem_epoch") == v,
      "replayed epochs must not burn versions")
    assert(spark.table("graft.mem_epoch").count() == n,
      "replayed epochs must not duplicate rows")
    // the next NEW epoch still commits
    MemStore.commitEpoch("mem_epoch", "qA", 2L, rows(4L))
    assert(spark.table("graft.mem_epoch").count() == n + 1)
    // the high-water mark is PER QUERY: a second writer's epoch 0 must
    // commit, not be swallowed by the first writer's mark
    MemStore.commitEpoch("mem_epoch", "qB", 0L, rows(5L))
    assert(spark.table("graft.mem_epoch").count() == n + 2,
      "a different query's epoch 0 must not be dropped")
    MemStore.commitEpoch("mem_epoch", "qB", 0L, rows(5L)) // its own replay: no-op
    assert(spark.table("graft.mem_epoch").count() == n + 2)
    spark.sql("DROP TABLE graft.mem_epoch")
  }

  test("DSv2 streaming write: an ALTER between an epoch's tasks and its commit reads the new column NULL, the old ones intact") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.catalog.SupportsWrite
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    spark.sql("DROP TABLE IF EXISTS graft.mem_salter")
    spark.sql("CREATE TABLE graft.mem_salter (k BIGINT, v BIGINT)")
    val table = MemStore.open("mem_salter", None, delta = false, changes = false)
      .asInstanceOf[SupportsWrite]
    val info = new LogicalWriteInfo {
      override def queryId(): String = "q-salter"
      override def schema() = table.schema()
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val sw = table.newWriteBuilder(info).build().toStreaming
    val w = sw.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).createWriter(0, 0L, 0L)
    w.write(InternalRow(1L, 10L))
    w.write(InternalRow(2L, 20L))
    val message = w.commit()
    // the tasks wrote two-column rows; the commit lands after the ALTER
    spark.sql("ALTER TABLE graft.mem_salter ADD COLUMN extra BIGINT")
    sw.commit(0L, Array(message))
    val got = spark.table("graft.mem_salter").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSeq
    assert(got == Seq((1L, 10L, true), (2L, 20L, true)),
      s"rows must decode with the schema their tasks wrote under: $got")
    spark.sql("DROP TABLE graft.mem_salter")
  }

  test("DSv2 change feed: one version per micro-batch; non-append history refused") {
    spark.sql("DROP TABLE IF EXISTS graft.mem_cfspec")
    spark.range(0, 10).selectExpr("id AS k").writeTo("graft.mem_cfspec").create()
    spark.range(10, 25).selectExpr("id AS k").writeTo("graft.mem_cfspec").append()
    spark.range(25, 30).selectExpr("id AS k").writeTo("graft.mem_cfspec").append()
    val q = spark.readStream.table("graft.mem_cfspec")
      .writeStream.outputMode("append").format("memory")
      .queryName("cfspec_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every row exactly once across the batches
    val got = spark.table("cfspec_sink").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 30L), s"change feed must replay appends exactly once: ${got.toSeq}")
    // one VERSION per micro-batch: 3 commits → ≥3 non-empty batches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"expected one version per micro-batch, got ${batches.length} non-empty batches")
    // a delete breaks append-only history: a fresh feed from v0 must refuse
    spark.sql("DELETE FROM graft.mem_cfspec WHERE k < 5")
    val q2 = spark.readStream.table("graft.mem_cfspec")
      .writeStream.outputMode("append").format("memory")
      .queryName("cfspec_sink2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      Option(c.getMessage).exists(_.contains("non-append commit"))),
      s"expected the non-append refusal, got $err")
    spark.sql("DROP TABLE graft.mem_cfspec")
  }

  test("DSv2 VERSION AS OF: snapshots are immutable, expiry errors, aborts burn no version") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_tt_spec")
    spark.range(0, 10).selectExpr("id AS k").writeTo("graft.mem_tt_spec").create() // v1
    spark.sql("DELETE FROM graft.mem_tt_spec WHERE k >= 5")                        // v2
    spark.range(100, 103).selectExpr("id AS k").writeTo("graft.mem_tt_spec").append() // v3
    def ks(v: Long): Seq[Long] =
      spark.sql(s"SELECT k FROM graft.mem_tt_spec VERSION AS OF $v")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(0).isEmpty, "v0 is the empty table at creation")
    assert(ks(1) == (0L until 10L), "v1 = initial append")
    assert(ks(2) == (0L until 5L), "v2 = post-delete snapshot")
    assert(ks(3) == (0L until 5L) ++ (100L to 102L), "v3 = post-append")
    // the latest relation reads v3; earlier snapshots stayed immutable
    assert(spark.table("graft.mem_tt_spec").count() == 8)
    // unknown version: load-time error carrying the retained range
    val e = intercept[Exception] { ks(99) }
    assert(e.getMessage != null)
    // an ABORTED write burns no version id: v-history unchanged
    val vBefore = MemStore.currentVersion("mem_tt_spec")
    val boom = org.apache.spark.sql.functions.udf((x: Long) =>
      if (x == 1L) throw new RuntimeException("boom") else x)
    intercept[Exception] {
      spark.range(0, 3).select(boom(col("id")).as("k"))
        .writeTo("graft.mem_tt_spec").append()
    }
    assert(MemStore.currentVersion("mem_tt_spec") == vBefore,
      "aborted job must not install or burn a version")
    assert(ks(vBefore) == (0L until 5L) ++ (100L to 102L))
    // a pinned relation refuses row-level writes at the store layer
    intercept[Exception] {
      new graft.sources.MemTable("mem_tt_spec", Some(1L)).truncateTable()
    }
    // expiry: drive past MaxVersions commits; v1 must error, not remap
    (0 until MemStore.MaxVersions).foreach { i =>
      spark.sql(s"DELETE FROM graft.mem_tt_spec WHERE k = ${100 + i}")
    }
    val e2 = intercept[Exception] { ks(1) }
    assert(e2.getMessage.contains("retained versions"),
      s"expired version must fail with the retained range: ${e2.getMessage}")
    spark.sql("DROP TABLE graft.mem_tt_spec")
  }

  test("DSv2 replaceWhere: atomic slice restatement; refused/aborted overwrites keep the version") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_rw_spec")
    spark.range(0, 100)
      .selectExpr("id AS k", "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS tag")
      .writeTo("graft.mem_rw_spec").create()
    // restate the 'a' slice with shifted keys, one atomic version
    val vBefore = MemStore.currentVersion("mem_rw_spec")
    spark.range(1000, 1005).selectExpr("id AS k", "'a' AS tag")
      .writeTo("graft.mem_rw_spec").overwrite(col("tag") === "a")
    assert(MemStore.currentVersion("mem_rw_spec") == vBefore + 1,
      "replaceWhere is ONE version install")
    val ks = spark.table("graft.mem_rw_spec").select("k").collect().map(_.getLong(0)).toSet
    val expect = (0L until 100L).filterNot(_ % 3 == 0).toSet ++ (1000L until 1005L)
    assert(ks == expect, "slice dropped and replacement appended atomically")
    // a condition the evaluator can't decide exactly is refused up front
    intercept[Exception] {
      spark.range(0, 1).selectExpr("id AS k", "'a' AS tag")
        .writeTo("graft.mem_rw_spec").overwrite(col("tag").contains("x"))
    }
    assert(spark.table("graft.mem_rw_spec").select("k").collect()
      .map(_.getLong(0)).toSet == expect, "refused overwrite keeps the version")
    // an overwrite whose job fails mid-task neither deletes nor appends
    val boom = org.apache.spark.sql.functions.udf((x: Long) =>
      if (x == 2L) throw new RuntimeException("boom") else x)
    intercept[Exception] {
      spark.range(0, 5).select(boom(col("id")).as("k"), lit("b").as("tag"))
        .writeTo("graft.mem_rw_spec").overwrite(col("tag") === "b")
    }
    assert(spark.table("graft.mem_rw_spec").select("k").collect()
      .map(_.getLong(0)).toSet == expect, "aborted overwrite keeps the version")
    spark.sql("DROP TABLE graft.mem_rw_spec")
  }

  test("MemStore: concurrent commits serialize atomically — no lost rows, one version per commit") {
    import graft.sources.MemStore
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val name = "mem_concurrency_spec"
    MemStore.drop(name)
    MemStore.create(name, StructType(Seq(StructField("v", LongType))))
    val threads = 8
    val commitsPer = 25
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit =
            (0 until commitsPer).foreach { i =>
              MemStore.commitAppend(name,
                Seq(InternalRow(t * 1000L + i), InternalRow(-(t * 1000L + i) - 1)))
            }
        })
      }
      futs.foreach(_.get())
      // every commit's rows landed exactly once (ConcurrentHashMap.compute
      // serializes the swaps), and every commit burned exactly one version
      assert(MemStore.rows(name).size == threads * commitsPer * 2,
        "no commit may be lost or doubled under contention")
      assert(MemStore.currentVersion(name) == threads * commitsPer.toLong,
        "version ids must count exactly one per commit")
    } finally {
      pool.shutdown()
      MemStore.drop(name)
    }
  }

  test("DSv2 streaming read: offsets pace multiple micro-batches, rows exactly once") {
    val q = spark.readStream.table("graft.synth_10000_4")
      .groupBy(lit(1).as("g"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("synth_stream_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // exactly-once over offsets: n = rows, sum = closed form
    val row = spark.table("synth_stream_spec").head()
    assert(row.getLong(1) == 10000L, "every generated row exactly once")
    assert(row.getLong(2) == 10000L * 9999L / 2, "offset ranges neither skip nor re-read")
    // admission control actually paced the drain: > 1 data batch
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches data batches")
  }

  test("DSv2 metadata column: _shard hidden from *, materialized on demand, pushdown composes") {
    import graft.sources.SynthProvider
    val df = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 10000L).option("parts", 4).load()
    // hidden: SELECT * must NOT surface the metadata column
    assert(!df.columns.contains("_shard"), "metadata column leaked into *")
    // explicit reference materializes it, and the value follows the
    // declared layout formula in flat mode
    val rows = df.filter(col("doc_id") >= 100 && col("doc_id") < 108)
      .select(col("doc_id"), col("_shard")).collect()
    assert(rows.length == 8)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(0) % 4,
      s"_shard must be doc_id mod parts, got $r"))
    // ...and in bucketed mode (same formula — the layout's definition)
    val bk = spark.read.format(classOf[SynthProvider].getName)
      .option("rows", 1000L).option("parts", 4).option("bucketBy", "true").load()
      .select(col("doc_id"), col("_shard"))
    bk.collect().foreach(r => assert(r.getLong(1) == r.getLong(0) % 4))
    // range pushdown still reaches the source with the metadata column on
    val q = df.filter(col("doc_id") >= 2500 && col("doc_id") < 7500)
      .select(col("doc_id"), col("_shard"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("SynthScan[lo=2500,hi=7500"),
      s"pushdown must compose with the metadata column:\n$plan")
    assert(plan.contains("_shard"), s"the scan must carry the requested metadata column:\n$plan")
    // unrequested means unread: a plain query's scan schema has no _shard
    val plain = df.select("doc_id").queryExecution.executedPlan.toString
    assert(!plain.contains("_shard"), s"unrequested metadata column must not be generated:\n$plain")
  }

  test("graft catalog: SHOW TABLES lists live mem tables; __changes names reserved") {
    spark.sql("DROP TABLE IF EXISTS graft.mem_listspec")
    spark.range(0, 3).selectExpr("id AS k").writeTo("graft.mem_listspec").create()
    val names = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(names.contains("mem_listspec"),
      s"SHOW TABLES must list the live mem tables, got ${names.toSeq}")
    // a dropped table disappears from the listing
    spark.sql("DROP TABLE graft.mem_listspec")
    val after = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(!after.contains("mem_listspec"), "dropped tables must not be listed")
    // the CDF suffix is reserved — not creatable as a base table
    intercept[Exception] {
      spark.range(0, 1).selectExpr("id AS k")
        .writeTo("graft.mem_x__changes").create()
    }
  }

  test("DSv2 schema evolution: ADD/RENAME are metadata-only; old versions keep the old schema; rewrites refused") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_evospec")
    spark.range(0, 5).selectExpr("id AS k", "id * 2 AS v")
      .writeTo("graft.mem_evospec").create()
    val vPre = MemStore.currentVersion("mem_evospec")
    val rowsPre = MemStore.rows("mem_evospec")
    spark.sql("ALTER TABLE graft.mem_evospec ADD COLUMN extra BIGINT")
    spark.sql("ALTER TABLE graft.mem_evospec RENAME COLUMN v TO val")
    // metadata-only: two version installs, the ROWS are the same objects
    assert(MemStore.currentVersion("mem_evospec") == vPre + 2,
      "each ALTER must install exactly one version")
    assert(MemStore.rows("mem_evospec") eq rowsPre,
      "ALTER must not rewrite a single row (metadata-only evolution)")
    // head read: new schema, pre-ALTER rows back-fill NULL for the new column
    assert(spark.table("graft.mem_evospec").columns.toSeq == Seq("k", "val", "extra"))
    assert(spark.table("graft.mem_evospec").where(col("extra").isNull).count() == 5)
    // appends after the ALTER carry the new column; both widths coexist
    spark.range(5, 8).selectExpr("id AS k", "id * 2 AS val", "id AS extra")
      .writeTo("graft.mem_evospec").append()
    val agg = spark.table("graft.mem_evospec")
      .agg(count(lit(1)), sum("extra"), sum("val")).head()
    assert(agg.getLong(0) == 8 && agg.getLong(1) == 18 && agg.getLong(2) == 2 * 28,
      s"mixed-width reads must NULL-pad old rows, got $agg")
    // version-consistent reads: VERSION AS OF pre-ALTER serves the OLD schema
    val old = spark.sql(s"SELECT * FROM graft.mem_evospec VERSION AS OF $vPre")
    assert(old.columns.toSeq == Seq("k", "v"),
      s"a pre-ALTER snapshot must keep the old schema, got ${old.columns.toSeq}")
    assert(old.count() == 5)
    // filters evaluate correctly over NULL-backfilled columns
    assert(spark.sql("DELETE FROM graft.mem_evospec WHERE extra >= 7") != null)
    assert(spark.table("graft.mem_evospec").count() == 7,
      "a filter on an evolved column must treat pre-ALTER rows as NULL")
    // shapes that would need a data rewrite are refused loudly
    intercept[Exception] { spark.sql("ALTER TABLE graft.mem_evospec DROP COLUMN extra") }
    intercept[Exception] { spark.sql("ALTER TABLE graft.mem_evospec ADD COLUMN f BIGINT FIRST") }
    intercept[Exception] { spark.sql("ALTER TABLE graft.mem_evospec ALTER COLUMN k TYPE INT") }
    assert(spark.table("graft.mem_evospec").columns.toSeq == Seq("k", "val", "extra"),
      "refused ALTERs must leave the schema untouched")
    spark.sql("DROP TABLE graft.mem_evospec")
  }

  test("DSv2 schema evolution x row-level ops: UPDATE/MERGE rewrite over NULL-padded rows") {
    import graft.sources.MemStore
    // copy-on-write flavor: the ReplaceData scan must pad pre-ALTER rows
    // before the rewrite, and the replacement write carries full width
    spark.sql("DROP TABLE IF EXISTS graft.mem_evorlo")
    spark.range(0, 6).selectExpr("id AS k", "id * 10 AS v")
      .writeTo("graft.mem_evorlo").create()
    spark.sql("ALTER TABLE graft.mem_evorlo ADD COLUMN extra BIGINT")
    spark.sql("UPDATE graft.mem_evorlo SET extra = k + 100 WHERE k % 2 = 0")
    val got = spark.table("graft.mem_evorlo").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == (0L until 6L).map(k =>
      (k, k * 10, if (k % 2 == 0) k + 100 else -1L)),
      s"CoW rewrite over padded rows must back-fill then update: ${got.toSeq}")
    spark.sql("DROP TABLE graft.mem_evorlo")
    // delta (merge-on-read) flavor: WriteDelta's keyed update rows are
    // full-width post-ALTER even when the matched row predates it
    spark.sql("DROP TABLE IF EXISTS graft.memd_evorlo")
    spark.range(0, 6).selectExpr("id AS k", "id * 10 AS v")
      .writeTo("graft.memd_evorlo").create()
    spark.sql("ALTER TABLE graft.memd_evorlo ADD COLUMN extra BIGINT")
    spark.range(0, 3).selectExpr("id * 2 AS k", "id AS e")
      .createOrReplaceTempView("evorlo_src")
    spark.sql("""MERGE INTO graft.memd_evorlo t USING evorlo_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.extra = s.e
                |WHEN NOT MATCHED THEN INSERT (k, v, extra) VALUES (s.k, -1, s.e)
                |""".stripMargin)
    val got2 = spark.table("graft.memd_evorlo").orderBy("k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got2.toSeq == (0L until 6L).map(k =>
      (k, if (k % 2 == 0) k / 2 else -1L)),
      s"delta update over an evolved table must key correctly: ${got2.toSeq}")
    // the delta commit's CDF preimages keep the pre-ALTER width (padded
    // on read), postimages the new width — both visible and typed
    val ops = spark.table("graft.memd_evorlo__changes")
      .groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops("update_preimage") == 3 && ops("update_postimage") == 3 &&
      ops("insert") == 6, s"evolved-table delta change log: $ops")
    spark.sql("DROP TABLE graft.memd_evorlo")
  }

  test("DSv2 change feed: maxRowsPerBatch splits a fat commit across micro-batches, totals unchanged") {
    spark.sql("DROP TABLE IF EXISTS graft.mem_fatspec")
    spark.range(0, 10).selectExpr("id AS k").writeTo("graft.mem_fatspec").create()
    spark.range(10, 110).selectExpr("id AS k").writeTo("graft.mem_fatspec").append() // fat: 100 rows
    val q = spark.readStream.option("maxRowsPerBatch", "30")
      .table("graft.mem_fatspec")
      .writeStream.outputMode("append").format("memory")
      .queryName("fatspec_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("fatspec_sink").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 110L),
      s"row-budget pacing must not drop or replay rows: ${got.length} rows")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    // v1 fits one batch (10 ≤ 30); v2 must split into ceil(100/30) = 4
    assert(batches.length >= 5,
      s"a 100-row commit under a 30-row budget must span ≥4 batches, got ${batches.length}")
    assert(batches.map(_.numInputRows).max <= 30,
      s"no batch may exceed the row budget: ${batches.map(_.numInputRows).toSeq}")
    spark.sql("DROP TABLE graft.mem_fatspec")
  }

  test("DSv2 __changes relation: typed row-level history, startingVersion slices, plain feed still refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.memd_cdfspec")
    spark.range(0, 10).selectExpr("id AS k", "id AS v")
      .writeTo("graft.memd_cdfspec").create() // v1: 10 inserts
    spark.sql("UPDATE graft.memd_cdfspec SET v = v + 100 WHERE k % 2 = 0") // v2: delta update
    spark.sql("DELETE FROM graft.memd_cdfspec WHERE k = 3") // v3: metadata delete
    // batch read: exact per-verb counts and update pre/post images
    val ch = spark.table("graft.memd_cdfspec__changes")
    assert(ch.columns.toSeq == Seq("k", "v", "_change_type", "_commit_version"))
    val byOp = ch.groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byOp("insert") == ((10L, 45L)), s"v1 bulk inserts: $byOp")
    assert(byOp("update_preimage") == ((5L, 20L)), s"preimages carry OLD values: $byOp")
    assert(byOp("update_postimage") == ((5L, 520L)), s"postimages carry NEW values: $byOp")
    assert(byOp("delete") == ((1L, 3L)), s"metadata delete logs removed rows: $byOp")
    // startingVersion excludes the bulk load — the incremental-sync read
    assert(spark.read.option("startingVersion", "2")
      .table("graft.memd_cdfspec__changes").count() == 11)
    // an unknown/expired sync point fails with the retained range, never
    // a silent remap to some other version
    val bad = intercept[Exception] {
      spark.read.option("startingVersion", "99")
        .table("graft.memd_cdfspec__changes").count()
    }
    assert(bad.getMessage.contains("retained versions") ||
      Option(bad.getCause).exists(_.getMessage.contains("retained versions")),
      s"expected the retained-range error, got $bad")
    // the SAME history streams through the __changes relation…
    val q = spark.readStream.table("graft.memd_cdfspec__changes")
      .writeStream.outputMode("append").format("memory")
      .queryName("cdfspec_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("cdfspec_sink").count() == 21,
      "streamed CDF must deliver every change row exactly once")
    // …while the PLAIN feed keeps refusing non-append history
    val q2 = spark.readStream.table("graft.memd_cdfspec")
      .writeStream.outputMode("append").format("memory")
      .queryName("cdfspec_sink2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      Option(c.getMessage).exists(_.contains("non-append commit"))),
      s"plain feed must still refuse row-level history, got $err")
    // the changes relation is read-only
    intercept[Exception] {
      spark.sql("DELETE FROM graft.memd_cdfspec__changes WHERE k = 1")
    }
    spark.sql("DROP TABLE graft.memd_cdfspec")
  }

  test("DSv2 change feed: rolled history starts new readers at the oldest retained version") {
    import graft.sources.MemStore
    spark.sql("DROP TABLE IF EXISTS graft.mem_rollspec")
    spark.range(0, 2).selectExpr("id AS k").writeTo("graft.mem_rollspec").create()
    (0 until MemStore.MaxVersions).foreach { i =>
      spark.range(10L + i, 11L + i).selectExpr("id AS k")
        .writeTo("graft.mem_rollspec").append()
    }
    // v0/v1 expired; a NEW reader must start at the oldest retained
    // version instead of failing on the expired initial offset (r7
    // behavior), serving exactly the still-retained slices
    val q = spark.readStream.table("graft.mem_rollspec")
      .writeStream.outputMode("append").format("memory")
      .queryName("rollspec_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("rollspec_sink").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (10L until 26L),
      s"rolled-history reader must serve the retained slices, got ${got.toSeq}")
    spark.sql("DROP TABLE graft.mem_rollspec")
  }

  test("DSv2 mem table reported statistics: a small dim auto-broadcasts with no hint") {
    spark.sql("DROP TABLE IF EXISTS graft.mem_statspec")
    spark.range(0, 1000)
      .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS tag")
      .writeTo("graft.mem_statspec").create()
    // fact side sized ABOVE the broadcast threshold (5M × 16B ≈ 80 MB),
    // dim side a 1000-row mem table whose ONLY size information is the
    // scan's reported statistics — no hint anywhere
    val fact = spark.range(0, 5000000L).selectExpr("id % 1000 AS fk", "id AS v")
    val q = fact.join(spark.table("graft.mem_statspec"), col("fk") === col("k"))
      .groupBy("tag").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val rows = q.collect() // collect BEFORE reading the AQE-final plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("MemScan"),
      s"reported stats must earn a hint-free broadcast of the mem dim:\n$plan")
    // the broadcast must come from REPORTED stats at plan time, not from
    // AQE's runtime shuffle-size rescue: the logical relation's stats are
    // the scan's numbers (without SupportsReportStatistics they default
    // to the session-wide huge fallback and this assertion fails)
    val dimStats = spark.table("graft.mem_statspec")
      .queryExecution.optimizedPlan.stats
    assert(dimStats.sizeInBytes > 0 &&
      dimStats.sizeInBytes < 10L * 1024 * 1024,
      s"dim stats must be scan-reported, got ${dimStats.sizeInBytes}")
    assert(rows.map(_.getLong(2)).sum == 5000000L &&
      rows.map(_.getLong(1)).sum == 5000000L * 4999999L / 2,
      "every fact row joins exactly once")
    spark.sql("DROP TABLE graft.mem_statspec")
  }

  test("MemStore.commitDelta: a delete+update of the same row id is a rewrite bug, refused whole") {
    import graft.sources.MemStore
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val name = "memd_guardspec"
    MemStore.drop(name)
    MemStore.create(name, StructType(Seq(StructField("k", LongType))))
    MemStore.commitAppend(name, Seq(InternalRow(1L), InternalRow(2L)))
    val v = MemStore.currentVersion(name)
    val e = intercept[IllegalArgumentException] {
      MemStore.commitDelta(name, _.getLong(0),
        deletes = Seq(1L), updates = Seq((1L, InternalRow(9L))), inserts = Nil)
    }
    assert(e.getMessage.contains("deletes AND updates"),
      s"expected the overlap refusal, got ${e.getMessage}")
    assert(MemStore.currentVersion(name) == v && MemStore.rows(name).size == 2,
      "a refused delta must not burn a version or change rows")
    MemStore.drop(name)
  }

  test("MemStore capacity gate: a commit at the cap installs, one past it is refused whole") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val name = "mem_capspec"
    def append(ks: Long*)(v: MemStore.MemVersion) =
      (v.schema, v.rows ++ ks.map(InternalRow(_)), Vector.empty[(String, InternalRow)])
    MemStore.drop(name)
    MemStore.create(name, StructType(Seq(StructField("k", LongType))))
    MemStore.install(name, cap = 3)(append(1L, 2L))
    MemStore.install(name, cap = 3)(append(3L))
    val v = MemStore.currentVersion(name)
    assert(MemStore.rows(name).map(_.getLong(0)) == Vector(1L, 2L, 3L), "a commit at the cap installs")
    val e = intercept[IllegalArgumentException](MemStore.install(name, cap = 3)(append(4L)))
    assert(e.getMessage.contains("would install 4 rows > MaxCommittedRows=3"), e.getMessage)
    assert(MemStore.currentVersion(name) == v && MemStore.rows(name).map(_.getLong(0)) == Vector(1L, 2L, 3L),
      "a refused commit keeps the previous version and its rows")
    MemStore.drop(name)
  }

  test("custom DSv2 connector: Int/Short-typed range literals are absorbed, not residual") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, EqualTo}
    // untyped SQL paths can hand the builder an Int-typed literal; the
    // range must tighten identically to the Long case instead of the
    // filter silently falling through to the residual array
    val b = new graft.sources.SynthScanBuilder(10000L, 4)
    val residual = b.pushFilters(Array(
      GreaterThanOrEqual("doc_id", Int.box(2500)),
      LessThan("doc_id", Short.box(7500.toShort))))
    assert(residual.isEmpty, "integral non-Long literals must be absorbed")
    assert(b.build().description().contains("SynthScan[lo=2500,hi=7500"),
      "Int/Short literals must tighten [lo, hi)")
    // a fractional literal has no exact integer absorption — stays residual
    val b2 = new graft.sources.SynthScanBuilder(10000L, 4)
    assert(b2.pushFilters(Array(EqualTo("doc_id", Double.box(1.5)))).length == 1)
  }
}
