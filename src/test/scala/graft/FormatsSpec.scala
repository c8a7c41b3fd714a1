package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.Relational
import graft.sources.Tables

/** File-format coverage beyond the reference's CSV (SURVEY.md §2.2): the
  * same result must round-trip losslessly through parquet, ORC, JSON, and
  * CSV sinks/sources.
  */
class FormatsSpec extends GraftSuite {

  private lazy val result: DataFrame =
    Relational.totalByNation(
      Tables.orders(spark, sf), Tables.customer(spark, sf), Tables.nation(spark, sf))

  private def roundtrip(fmt: String): Seq[(String, Double, Long)] = {
    val dir = Files.createTempDirectory(s"graft_$fmt").toString + "/out"
    result.write.format(fmt).option("header", "true").mode("overwrite").save(dir)
    val back = fmt match {
      case "csv" =>
        spark.read.format(fmt).option("header", "true")
          .schema("n_name STRING, total DOUBLE, n_orders BIGINT").load(dir)
      case _ => spark.read.format(fmt).load(dir)
    }
    back.select("n_name", "total", "n_orders")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
  }

  test("parquet/orc/json/csv round-trips agree") {
    val expected = result.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    for (fmt <- Seq("parquet", "orc", "json", "csv")) {
      assert(roundtrip(fmt) === expected, s"$fmt round-trip diverged")
    }
  }

  test("binaryFile source ingests raw assets into the multimodal pipeline") {
    import org.apache.spark.sql.functions._
    // raw on-disk media stand-ins: the real ingest boundary of the
    // multimodal lake (content arrives as FILES, not table rows)
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("graft_binary")
    // REAL media files: deterministic BMPs on disk, plus a decoy
    Files.write(dir.resolve("a.bmp"), Multimodal.BmpCodec.encode(1L))
    Files.write(dir.resolve("b.bmp"), Multimodal.BmpCodec.encode(2L))
    Files.write(dir.resolve("skip.txt"), "not media".getBytes("UTF-8"))
    val assets = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bmp") // predicate applied at LISTING time
      .load(dir.toString)
    assert(assets.columns.toSeq ===
      Seq("path", "modificationTime", "length", "content"))
    val got = assets
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("length"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(
      ("a.bmp", Multimodal.BmpCodec.fileBytes(
        Multimodal.BmpCodec.width(1L), Multimodal.BmpCodec.height(1L)).toLong),
      ("b.bmp", Multimodal.BmpCodec.fileBytes(
        Multimodal.BmpCodec.width(2L), Multimodal.BmpCodec.height(2L)).toLong)),
      "the glob must exclude non-media and file sizes must round-trip")
    // the ingested files feed the decode stage unchanged: file -> bytes ->
    // REAL header parse, end to end
    val ingested = assets.select(
      when(element_at(split(col("path"), "/"), -1) === "a.bmp", 1L)
        .otherwise(2L).as("asset_id"),
      lit("video").as("media_type"),
      col("content").as("payload"))
    val profiled = Multimodal.decodeBatched(ingested).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4))).toSet
    assert(profiled === Set(
      (1L, Multimodal.BmpCodec.width(1L), Multimodal.BmpCodec.height(1L)),
      (2L, Multimodal.BmpCodec.width(2L), Multimodal.BmpCodec.height(2L))),
      "decoded dimensions must come from the real headers")
  }

  test("text source ingests raw line corpora; wholetext keeps one doc per file") {
    import org.apache.spark.sql.functions._
    // the canonical LLM-corpus ingest boundary: plain text on disk
    val dir = Files.createTempDirectory("graft_text")
    Files.write(dir.resolve("a.txt"), "alpha beta\ngamma".getBytes("UTF-8"))
    Files.write(dir.resolve("b.txt"), "delta".getBytes("UTF-8"))
    // line mode: one row per line, ids derived from (file, line) — the
    // deterministic id rule a file-offset-free ingest needs
    val lines = spark.read.text(dir.toString)
      .select(element_at(split(input_file_name(), "/"), -1).as("file"), col("value"))
    val got = lines.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a.txt", "alpha beta"), ("a.txt", "gamma"), ("b.txt", "delta")))
    // wholetext mode: one row per FILE — document-granular corpora
    // (newlines preserved inside the doc)
    val docs = spark.read.option("wholetext", "true").text(dir.toString)
      .select(element_at(split(input_file_name(), "/"), -1).as("file"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(docs === Set(("a.txt", "alpha beta\ngamma"), ("b.txt", "delta")))
    // and the ingested lines feed the text pipeline unchanged
    val stats = graft.operators.TextAnalysis.textStats(
      lines.select(xxhash64(col("file"), col("value")).as("doc_id"),
        col("value").as("text"), lit("en").as("lang")))
    assert(stats.count() === 3L)
  }

  test("fixture drift guard: clean fixtures silent; migrations named precisely") {
    import graft.sources.Tables
    // every real fixture table is drift-free today — the guard must stay
    // silent on the driver's current encoding (incl. the MICROS events ts)
    for (name <- Tables.names) {
      val schema = Tables.load(spark, sf, name).schema
      assert(Tables.fixtureDrift(name, schema).isEmpty,
        s"unexpected drift on current fixture $name")
    }
    // fake the historical NANOS→MICROS class of break: a type migration
    // the loaders can't normalize (ts becomes a string)
    import org.apache.spark.sql.types._
    val migrated = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", StringType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val d1 = Tables.fixtureDrift("events", migrated)
    assert(d1.length === 1 && d1.head.contains("events.ts") &&
      d1.head.contains("reads as string"), d1.mkString("; "))
    // dropped + renamed column: both named
    val renamed = StructType(Seq(
      StructField("doc_id", LongType), StructField("body", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val d2 = Tables.fixtureDrift("documents", renamed)
    assert(d2.exists(_.contains("documents.text is MISSING")), d2.mkString("; "))
    assert(d2.exists(_.contains("documents.body")), d2.mkString("; "))
    // unknown table: no expectation, no noise
    assert(Tables.fixtureDrift("not_a_table", migrated).isEmpty)
  }

  test("ASCII drift probe: fixture docs are byte==char; a multi-byte doc is counted") {
    import graft.sources.Tables
    // the frame-family ops (q94/q203/frameSample) slice payload BYTES
    // while their oracles slice text CHARACTERS — valid iff the corpus
    // is pure ASCII, which this probe certifies on the live fixture
    assert(Tables.nonAsciiDocs(Tables.documents(spark, sf)) === 0L,
      "documents fixture grew multi-byte text: frame-family oracles " +
        "(q94/q203) slice chars while the ops slice bytes — see " +
        "Tables.nonAsciiDocs scaladoc")
    // and it NAMES the break when a regenerated fixture ships UTF-8
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val drifted = Seq((1L, "plain ascii text"), (2L, "café au lait"),
      (3L, "ascii again")).toDF("doc_id", "text")
    assert(Tables.nonAsciiDocs(drifted) === 1L)
  }

  test("quantity drift probe: fixture l_quantity integer-valued and positive") {
    import graft.sources.Tables
    // partsuppDerived (q211–q213) casts sum(l_quantity) to long — Spark
    // truncates, the DuckDB oracle rounds; and divides by it — ANSI
    // DIVIDE_BY_ZERO on a zero-sum group. Valid iff quantities are
    // integer-valued and positive, which this probe certifies.
    assert(Tables.quantityDriftRows(Tables.lineitem(spark, sf)) === 0L,
      "lineitem fixture grew fractional or non-positive l_quantity: " +
        "the q211–q213 long casts diverge between Spark (trunc) and " +
        "DuckDB (round) — see Tables.quantityDriftRows scaladoc")
    // and it NAMES the break on a drifted fixture
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val drifted = Seq((1L, 5.0), (2L, 2.5), (3L, 0.0), (4L, -1.0))
      .toDF("l_orderkey", "l_quantity")
    assert(Tables.quantityDriftRows(drifted) === 3L)
  }

  test("stableSingleFile: one partition, query order re-asserted (direction + nulls)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions.col
    val df = Seq((3L, Some("b")), (1L, None), (2L, Some("a")), (4L, Some("a")))
      .toDF("k", "s")
      .orderBy(col("s").desc_nulls_last, col("k"))
    val expected = df.collect().map(_.getLong(0)).toSeq
    val out = Verify.stableSingleFile(df)
    assert(out.rdd.getNumPartitions === 1)
    assert(out.collect().map(_.getLong(0)).toSeq === expected)
    // a non-attribute top sort key (expression) falls back to plain coalesce
    val exprSorted = Seq((2L, 3.0), (1L, 9.0)).toDF("k", "v").orderBy((col("v") * 2).desc)
    val fb = Verify.stableSingleFile(exprSorted)
    assert(fb.rdd.getNumPartitions === 1)
    assert(fb.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("Verify: a failed query leaves no earlier run's output behind and is reported") {
    val out = Files.createTempDirectory("graft_verify")
    val emptySf = Files.createTempDirectory("graft_empty_sf")
    val stale = out.resolve("q01_sum_by_group")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "an earlier run's output")
    val failed = Verify.dumpQueries(spark, emptySf.toString, out.toString, _ == "q01_sum_by_group")
    assert(failed === Seq("q01_sum_by_group"))
    assert(!Files.exists(stale), "the earlier output must not survive a failed run")
  }

  test("Verify: oracle_sql.json parses back to exactly the chosen oracles") {
    // the subset: every oracle holding a character JSON must escape (a
    // quote, a backslash or a control character), plus q01
    val special = SparkEntry.oracleSql.collect {
      case (k, v) if v.exists(c => c == '"' || c == '\\' || c < ' ') => k
    }.toSet
    val chosen = special + "q01_sum_by_group"
    val sqls = chosen.toSeq.map(SparkEntry.oracleSql)
    assert(sqls.exists(_.contains('"')) && sqls.exists(_.contains('\n')),
      "escaping must be exercised")
    val out = Files.createTempDirectory("graft_oracle_json")
    Verify.writeOracleSql(out.toString, chosen)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(out.resolve("oracle_sql.json").toFile,
        classOf[java.util.LinkedHashMap[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap === SparkEntry.oracleSql.filter { case (k, _) => chosen(k) })
  }

  test("normalizeTsCol: NANOS-era bigint date reads back as the exact NTZ instant") {
    import graft.sources.Tables
    import spark.implicits.{localSeqToDatasetHolder, newLongEncoder}
    // 1996-01-01T00:00:00 UTC and one microsecond later, as epoch NANOS —
    // what a NANOS fixture delivers for o_orderdate under nanosAsLong
    val base = 820454400000000000L
    val df = Seq(base, base + 1000L).toDF("o_orderdate")
    val out = Tables.normalizeTsCol(df, "o_orderdate")
    assert(out.schema("o_orderdate").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val got = out.collect().map(_.getAs[java.time.LocalDateTime](0)).toSeq
    assert(got === Seq(
      java.time.LocalDateTime.parse("1996-01-01T00:00:00"),
      java.time.LocalDateTime.parse("1996-01-01T00:00:00.000001")))
    // a timestamp column passes through untouched (current MICROS fixture)
    val already = Tables.orders(spark, sf)
    assert(Tables.normalizeTsCol(already, "o_orderdate") eq already)
  }
}
