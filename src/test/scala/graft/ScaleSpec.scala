package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale
import graft.sources.Tables

/** Skew salting and bucketed co-located joins — the explicit scale paths
  * (SURVEY.md §4; reference's skew roll-over `D/Program.cs:131-139`).
  */
class ScaleSpec extends GraftSuite {

  test("salted two-phase aggregation equals direct aggregation (incl. a hot key)") {
    import spark.implicits._
    // 90% of rows share one hot key — the reference's skew regime
    val rows = (1 to 20000).map { i =>
      val k = if (i % 10 == 0) s"k${i % 7}" else "hot"
      (k, i.toLong, (i % 997) / 100.0)
    }
    val df = rows.toDF("key", "row_id", "value").repartition(8)
    val direct = df.groupBy($"key").agg(sum($"value").as("sum_value"))
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toMap
    val salted = Scale.saltedSumByKey(df, "key", "value", "row_id")
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toMap
    assert(salted === direct)
  }

  test("bloom prefilter: matches a brute-force md5 bloom; members always pass") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def positions(key: String, m: Int): Seq[Long] = {
      val h = md5hex(key)
      (0 until 3).map(j => java.lang.Long.parseLong(h.substring(4 * j, 4 * j + 4), 16) % m)
    }
    val m = 16384
    val dim = Tables.customer(spark, sf).filter(col("c_mktsegment") === "BUILDING")
    val dimKeys = dim.select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val bloomPos = dimKeys.flatMap(k => positions(k.toString, m))
    val probeKeys = Tables.orders(spark, sf).select(col("o_custkey"))
      .distinct().collect().map(_.getLong(0))
    val expected = probeKeys.map { k =>
      val pass = positions(k.toString, m).forall(bloomPos.contains)
      (pass, dimKeys.contains(k))
    }
    val expPass = expected.count(_._1).toLong
    val expMember = expected.count(_._2).toLong
    val expFp = expected.count(e => e._1 && !e._2).toLong
    val row = graft.operators.Scale.bloomPrefilterStats(
      Tables.orders(spark, sf), "o_custkey", dim, "c_custkey").collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ===
      ((probeKeys.length.toLong, expPass, expMember, expFp)))
    // the Bloom guarantee: every true member passes
    assert(row.getLong(1) - row.getLong(3) === row.getLong(2))
  }

  test("count-min: estimates >= true counts and equal a brute-force sketch") {
    import graft.sources.Tables
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def pos(tok: String, j: Int, w: Int): Long =
      java.lang.Long.parseLong(md5hex(tok).substring(4 * j, 4 * j + 4), 16) % w
    val docs = Tables.documents(spark, sf)
    val tokens = docs.select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
    val cells = new scala.collection.mutable.HashMap[(Int, Long), Long]().withDefaultValue(0L)
    tokens.foreach(t => (0 until 3).foreach { j =>
      cells((j, pos(t, j, 1024))) += 1L
    })
    val trueCounts = tokens.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
    val expected = trueCounts.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
      .map { case (t, n) =>
        val est = (0 until 3).map(j => cells((j, pos(t, j, 1024)))).min
        (t, n, est, est - n)
      }
    val got = graft.operators.TextAnalysis.countMinTopTokens(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    got.foreach { case (_, n, est, _) => assert(est >= n, "CM never underestimates") }
  }

  test("z-order range partitioning narrows per-file ranges of BOTH columns") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    // zOrderEncode min-max scales both columns into 16 bits — without the
    // scaling, the wider column owns every significant bit and the curve
    // degenerates to single-column ordering
    val withZ = graft.operators.Scale.zOrderEncode(Tables.orders(spark, sf),
      pmod(col("o_custkey"), lit(65536L)),
      pmod(floor(col("o_totalprice")).cast("long"), lit(65536L)))
    // avg per-partition (min,max) spread of x and y under a given layout —
    // the quantity row-group pruning depends on
    def spreads(df: DataFrame): (Double, Double) = {
      val r = df
        .select(spark_partition_id().as("p"), col("x"), col("y"))
        .groupBy("p")
        .agg((max(col("x")) - min(col("x"))).as("rx"), (max(col("y")) - min(col("y"))).as("ry"))
        .agg(avg(col("rx")), avg(col("ry"))).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val (zx, zy) = spreads(withZ.repartitionByRange(16, col("z")))
    val (rx, ry) = spreads(withZ.repartition(16))
    assert(zx < rx / 2, s"z-order should narrow x: $zx vs random $rx")
    assert(zy < ry / 2, s"z-order should narrow y: $zy vs random $ry")
    // single-column layout narrows only its own column
    val (sx, sy) = spreads(withZ.repartitionByRange(16, col("x")))
    assert(sx <= zx, "sorting by x alone is at least as tight on x")
    assert(zy < sy, s"but z-order is tighter on y: $zy vs x-sorted $sy")
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf, set in SparkTestBase
    Tables.orders(spark, sf).write
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bucketed")
    Tables.customer(spark, sf).write
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bucketed")
    val joined = spark.table("orders_bucketed")
      .join(spark.table("customer_bucketed").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must read co-located buckets: no hashpartitioning
    // exchange on the join keys (the only exchange allowed is the
    // aggregation's on c_nationkey)
    val joinSection = plan.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin"), plan)
    assert(!joinSection.contains("Exchange hashpartitioning(o_custkey"), plan)
    assert(!joinSection.contains("Exchange hashpartitioning(c_custkey"), plan)
    // and results match the unbucketed join
    val expected = Relationalish()
    val got = joined.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got === expected)
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT served from footer statistics") {
    // the metadata-only aggregation path (SURVEY §4): with pushdown on,
    // MAX/MIN/COUNT over a parquet scan read row-group stats, not data
    val dir = java.nio.file.Files.createTempDirectory("graft_aggpd").toString + "/orders"
    Tables.orders(spark, sf).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // aggregate pushdown exists only on the DSv2 read path
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val agg = spark.read.parquet(dir)
        .agg(min(col("o_totalprice")), max(col("o_totalprice")), count(lit(1)))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]"),
        s"expected pushed aggregation in:\n$plan")
      val r = agg.collect()(0)
      val e = Tables.orders(spark, sf)
        .agg(min(col("o_totalprice")), max(col("o_totalprice")), count(lit(1))).collect()(0)
      assert((r.getDouble(0), r.getDouble(1), r.getLong(2)) ===
        ((e.getDouble(0), e.getDouble(1), e.getLong(2))))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
      prevV1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.useV1SourceList", v)
        case None => spark.conf.unset("spark.sql.sources.useV1SourceList")
      }
    }
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/orders_by_year"
    val withYear = Tables.orders(spark, sf)
      .withColumn("order_year", year(col("o_orderdate")))
    withYear.write.partitionBy("order_year").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("order_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"), plan)
    // pruning must not change results
    val expected = withYear.filter(col("order_year") === 1995).count()
    assert(pruned.count() === expected && expected > 0)
    // and only the matching partition directory is listed in the scan
    val scannedParts = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size
      }.sum
    assert(scannedParts === 1, s"expected 1 pruned partition, scanned $scannedParts")
  }

  private def Relationalish(): Set[(Int, Double)] =
    Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet

  test("keySkewAudit: brute-force histogram equality; buckets partition keys and rows") {
    val events = Tables.events(spark, sf)
    val perKey = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1))
    val total = perKey.sum
    def bucket(c: Long) = 63 - java.lang.Long.numberOfLeadingZeros(c) // floor(log2)
    val expected = perKey.groupBy(bucket).toSeq.sortBy(_._1).map { case (b, cs) =>
      (b.toLong, cs.length.toLong, cs.sum, cs.max,
        BigDecimal(cs.sum.toDouble / total).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Scale.keySkewAudit(events, "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum === perKey.length.toLong, "buckets must partition the key set")
    assert(got.map(_._3).sum === total, "buckets must partition the row mass")
  }

  test("compactionPlan: equals a single-node replica; partition-count invariant; conserves bytes over contiguous bins (q310)") {
    import graft.operators.Multimodal
    val target = 64L * 1024
    val files = Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("asset_id"), length(col("payload")).cast("long").as("n_bytes"))
    val got = Scale.compactionPlan(files, "asset_id", "n_bytes", target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // single-node replica: sort (size desc, id asc), lay end to end,
    // bin by start offset
    val local = files.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, n) => (-n, id) }
    var off = 0L
    val binned = local.map { case (id, n) =>
      val b = off / target; off += n; (b, id, n)
    }
    val expected = binned.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, fs) =>
      (b, fs.length.toLong, fs.map(_._3).sum, fs.map(_._3).min,
        fs.map(_._3).max, fs.map(_._2).min)
    }
    assert(got === expected)
    // the plan depends only on the (size desc, id asc) TOTAL order, so
    // it must be partition-count invariant (the distributed prefix sum
    // is exact, not per-partition-approximate)
    val got5 = Scale.compactionPlan(files.repartition(7), "asset_id",
        "n_bytes", target, parts = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got5 === got)
    // conservation + shape: bins are contiguous from 0, bytes conserve,
    // and every non-final bin is filled to at least the target minus
    // one largest file (next-fit by start offset cannot leave more
    // headroom than the file that straddles the boundary)
    assert(got.map(_._1) === got.indices.map(_.toLong))
    assert(got.map(_._3).sum === local.map(_._2).sum)
    val maxFile = local.map(_._2).max
    got.dropRight(1).foreach { case (b, _, tot, _, _, _) =>
      assert(tot >= target - maxFile, s"bin $b underfilled: $tot")
    }
  }

  test("compactionExecute: forecast == measured post-state; blobs byte-equal the planned concatenation; rerun idempotent (q316)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // constructed fixture: 3 families, sizes spanning the small-file
    // threshold, payload bytes deterministic per id so blob content is
    // independently recomputable
    val target = 4096L
    val smallBytes = 1024L
    def payloadOf(id: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((id * 31 + i) % 256).toByte)
    val fixture = (1L to 60L).map { id =>
      val fam = Seq("alpha", "beta", "gamma")((id % 3).toInt)
      val n = (200 + (id * 137) % 3000).toInt
      (fam, id, n.toLong, payloadOf(id, n))
    }
    val assets = fixture.toDF("family", "file_id", "n_bytes", "payload")
      .repartition(5)
    val outDir = java.nio.file.Files.createTempDirectory("graft_exec_spec").toString
    val report = Scale.compactionExecute(assets, "family", "file_id",
        "n_bytes", "payload", outDir, target, smallBytes).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getLong(7),
        r.getBoolean(8), r.getDouble(9)))
    assert(report.length === 3)
    report.foreach { case (fam, nb, tb, dBefore, planned, actual, fMatch,
        aBytes, bMatch, dAfter) =>
      assert(fMatch && bMatch, s"$fam: execution diverged from plan")
      assert(actual === planned && aBytes === tb)
      assert(dAfter <= dBefore, s"$fam: debt did not collapse")
      assert(nb === 20L)
    }
    // forecast == measured post-state, row for row on the shared columns
    val forecast = Scale.compactionForecast(assets.drop("payload"), "family",
        "file_id", "n_bytes", target, smallBytes).collect()
      .map(r => (r.getString(0), r.getLong(5))).toMap // family -> planned
    report.foreach { case (fam, _, _, _, _, actual, _, _, _, _) =>
      assert(actual === forecast(fam), s"$fam: forecast != executed file count")
    }
    // blob content: every written file byte-equals the concatenation of
    // its planned members in (size desc, id) order — the single-node
    // next-fit replica recomputed here without touching the operator
    val byFam = fixture.groupBy(_._1)
    for ((fam, rows) <- byFam) {
      val ordered = rows.sortBy { case (_, id, n, _) => (-n, id) }
      var off = 0L
      val binned = ordered.map { case (_, id, n, p) =>
        val b = off / target; off += n; (b, id, p)
      }
      for ((b, members) <- binned.groupBy(_._1)) {
        val expectBytes = members.flatMap(_._3).toArray
        val onDisk = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(outDir, s"$fam-$b.blob"))
        assert(java.util.Arrays.equals(onDisk, expectBytes),
          s"$fam-$b.blob content diverges from the planned concatenation")
      }
    }
    // no stray outputs beyond the planned bins
    val expectedFiles = byFam.map { case (fam, rows) =>
      fam -> {
        val sizes = rows.sortBy { case (_, id, n, _) => (-n, id) }.map(_._3)
        var off = 0L
        sizes.map { n => val b = off / target; off += n; b }.distinct.length
      }
    }
    val listed = new java.io.File(outDir).list().toSeq.filter(_.endsWith(".blob"))
    assert(listed.length === expectedFiles.values.sum)
    // rerun lands on the identical listing (fresh-dir semantics)
    Scale.compactionExecute(assets, "family", "file_id", "n_bytes",
      "payload", outDir, target, smallBytes).collect()
    val relisted = new java.io.File(outDir).list().toSeq.filter(_.endsWith(".blob"))
    assert(relisted.sorted === listed.sorted)
  }

  test("round-13 lakehouse ops prune their scans: asset-store metadata queries never read payload; the layout audit reads only (o_orderkey, o_orderdate)") {
    import graft.operators.Multimodal
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("ReadSchema"))
        .map(l => l.substring(l.indexOf("ReadSchema"))).toSeq
    // q310/q312/q313 consume only the asset STORE's metadata columns
    // (asset_id, media_type, n_bytes) — since round 14 the store is a
    // real parquet table with the payload in a BINARY column, and the
    // reader must PRUNE that column: a metadata query over a 100 TB
    // blob table that ships the blobs is exactly the bug this asserts
    // against. (The store-BUILD pass reads only doc_id; it runs once
    // per session and is covered by the store round-trip spec.)
    val files = Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("media_type"), col("asset_id"), col("n_bytes"))
    for ((name, df) <- Seq(
        "q310" -> Scale.compactionPlan(files, "asset_id", "n_bytes", 65536L),
        "q313" -> Scale.compactionPlanKeyed(files, "media_type", "asset_id",
          "n_bytes", 65536L),
        "q312" -> Scale.compactionDebt(files, "media_type", "n_bytes"))) {
      val scans = readSchemas(df)
      // post-localCheckpoint plans may show no file scan at all (the
      // RDD leaf hides it — q310/q313); any file scan that IS visible
      // must exclude payload. q312 has no checkpoint, so its store scan
      // is always visible: assert it exists and is pruned.
      if (name == "q312")
        assert(scans.nonEmpty, s"$name: expected a visible store scan")
      scans.foreach { s =>
        assert(!s.contains("payload") && s.contains("n_bytes"),
          s"$name must prune the payload column from the store scan: $s")
      }
    }
    val audit = Scale.layoutSkippingAudit(Tables.orders(spark, sf),
      "o_orderdate", "o_orderkey")
    // visible scans: the probes branch prunes all the way to
    // (o_orderdate) alone; no branch may read beyond the two consumed
    // columns (the rank branches hide behind the footer-stats checkpoint)
    readSchemas(audit).foreach { s =>
      assert(s.contains("o_orderdate") && s.count(_ == ',') <= 1 &&
        !s.contains("o_totalprice") && !s.contains("o_comment"),
        s"q311 must scan within (o_orderkey, o_orderdate): $s")
    }
  }

  test("compactionDebt: equals a single-node replica; threshold splits the fixture (q312)") {
    import graft.operators.Multimodal
    val files = Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("media_type"), length(col("payload")).as("n_bytes"))
    val got = Scale.compactionDebt(files, "media_type", "n_bytes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val local = files.collect().map(r => (r.getString(0), r.getInt(1).toLong))
    val expected = local.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, fs) =>
      val total = fs.map(_._2).sum
      val small = fs.map(_._2).filter(_ < 4096L)
      (f, fs.length.toLong, total, small.length.toLong, small.sum,
        BigDecimal(small.sum.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got === expected)
    // the 4096 threshold must split the population in some family, or
    // the conditional sums are inert
    assert(expected.exists(e => e._4 > 0 && e._4 < e._2))
  }

  test("compactionPlanKeyed: per family == the global planner on that family alone; partition-count invariant (q313)") {
    import graft.operators.Multimodal
    val files = Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("media_type"), col("asset_id"),
        length(col("payload")).cast("long").as("n_bytes"))
    val target = 64L * 1024
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val got = rowsOf(Scale.compactionPlanKeyed(files, "media_type",
      "asset_id", "n_bytes", target))
    // independence: each family's bins equal the GLOBAL planner run on
    // that family's files alone — families cannot perturb each other
    val perFamily = Seq("audio", "image", "video").flatMap { fam =>
      Scale.compactionPlan(files.filter(col("media_type") === fam)
          .drop("media_type"), "asset_id", "n_bytes", target)
        .collect().map(r => (fam, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    assert(got === perFamily)
    // and the keyed plan is partition-count invariant like the global one
    val got3 = rowsOf(Scale.compactionPlanKeyed(files.repartition(5),
      "media_type", "asset_id", "n_bytes", target, parts = 3))
    assert(got3 === got)
  }

  test("compactionForecast == join of the registered debt and keyed-plan outputs; compaction retires most files (q315)") {
    import graft.operators.Multimodal
    val files = Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("media_type"), col("asset_id"),
        length(col("payload")).as("n_bytes"))
    val target = 64L * 1024
    val got = Scale.compactionForecast(files, "media_type", "asset_id",
        "n_bytes", target)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6))).toSeq
    // compositional identity: the forecast must equal joining the two
    // ops it narrates (q312's debt, q313's plan collapsed per family)
    val debt = Scale.compactionDebt(files.select(col("media_type"),
        col("n_bytes")), "media_type", "n_bytes")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    val planned = Scale.compactionPlanKeyed(files, "media_type", "asset_id",
        "n_bytes", target)
      .collect().groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val expected = debt.keys.toSeq.sorted.map { fam =>
      val (nf, tb, sf_, ds) = debt(fam)
      val pf = planned(fam)
      (fam, nf, tb, sf_, ds, pf,
        BigDecimal(1.0 - pf.toDouble / nf)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got === expected)
    // the fixture's small files mean compaction must retire >half the
    // files in every family
    got.foreach { case (fam, _, _, _, _, _, red) =>
      assert(red > 0.5, s"$fam reduction $red") }
  }

  test("layoutSkippingAudit: equals a single-node replica; sorted layout skips, arrival layout cannot (q311)") {
    val orders = Tables.orders(spark, sf)
    val got = Scale.layoutSkippingAudit(orders, "o_orderdate", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // single-node replica: rank-slice files over each total order, then
    // probe every distinct key against per-file [min, max]. The key is
    // read as epoch micros — a monotone image, so order/min/max agree
    // with the operator's raw-column comparisons.
    val rows = orders
      .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.length
    def replica(layout: String, ordered: Seq[(Long, Long)]) = {
      val stats = ordered.zipWithIndex
        .groupBy { case (_, r0) => r0.toLong * 64 / n }
        .map { case (f, fs) => (f, fs.map(_._1._2).min, fs.map(_._1._2).max) }
        .toSeq
      val probes = rows.map(_._2).distinct
      val reads = probes.map(v => stats.count { case (_, lo, hi) =>
        lo <= v && v <= hi })
      (layout, stats.length.toLong, probes.length.toLong,
        reads.map(_.toLong).sum, reads.max.toLong,
        BigDecimal(reads.map(_.toLong).sum.toDouble / probes.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = Seq(
      replica("arrival", rows.sortBy(_._1).toSeq),
      replica("sorted", rows.sortBy { case (id, d) => (d, id) }.toSeq))
    assert(got === expected)
    // the audit must SHOW the layout effect: the sorted layout reads
    // (far) fewer files per probe than the arrival layout
    val byLayout = got.map(r => r._1 -> r._6).toMap
    assert(byLayout("sorted") < byLayout("arrival") / 4,
      s"sorted layout should skip most files: $byLayout")
  }

  test("near-dup verify joins never pick a broadcast build (explode-blind estimates)") {
    // Regression lock for the measured ×30 failure (SURVEY §6.11): the
    // candidate frame descends from explode(pair_combinations(...)),
    // whose size estimate is blind to the K² in-bucket expansion, so the
    // planner used to pick the QUADRATIC candidate set as a broadcast
    // build — a guaranteed driver-side OOM at real scale. The fix pins
    // SHUFFLE_HASH on the corpus-derived side of every post-candidates
    // verify join; this asserts the executed plan actually honors it.
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      df.queryExecution.executedPlan.toString
    }
    // the raw (un-checkpointed) builders — the public entry points cache
    // and localCheckpoint the pair set, which hides the verify join
    // behind a Scan ExistingRDD in the inspected plan. Every pinned verify
    // join is asserted (the round-9 manual sibling sweep that found
    // q74/q95/q120, made permanent): a new verify join added without its
    // pin belongs in this list. q120 (containmentRefine) has no verify
    // join any more; it is asserted join-free below.
    val embs = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    val builders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "embeddingNearDupUnordered" -> (() =>
        graft.operators.Similarity.embeddingNearDupUnordered(embs, 0.9, 8, 6)),
      "incrementalEmbeddingNearDupFromIndex" -> (() =>
        graft.operators.Similarity.incrementalEmbeddingNearDupFromIndex(
          embs, graft.operators.Similarity.hyperplaneBucketRows(embs))),
      "minhashLshPairsUnordered" -> (() =>
        graft.operators.Dedup.minhashLshPairsUnordered(docs, 5, 0.6)),
      "weightedJaccardRefine" -> (() =>
        graft.operators.Dedup.weightedJaccardRefine(docs)),
      "incrementalNearDupPairs" -> (() =>
        graft.operators.Dedup.incrementalNearDupPairs(docs)),
      "containmentDiscover" -> (() =>
        graft.operators.Dedup.containmentDiscover(docs)))
    for ((name, build) <- builders) {
      val plan = finalPlan(build())
      assert(plan.contains("ShuffledHashJoin"),
        s"$name verify join lost its shuffle_hash pin:\n" + plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name must not broadcast any side of a pair-verify join:\n" + plan)
    }
    // containmentRefine reads |A∩B|, |A| and |B| from the pair index: once
    // the index exists, building it runs no job (no shingle sets are
    // checkpointed) and its executed plan holds no join and no shingle pass
    graft.operators.Dedup.pairIndex(docs)
    val sc = spark.sparkContext
    sc.setJobGroup("containmentRefine-construct", "construction only")
    val refine = try graft.operators.Dedup.containmentRefine(docs) finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("containmentRefine-construct").isEmpty,
      "containmentRefine must not run a job while it is built")
    val plan = finalPlan(refine)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "containmentRefine must not join:\n" + plan)
    assert(!plan.contains("shingle_hashes"), "containmentRefine must not shingle:\n" + plan)
  }

  test("UNIVERSAL sweep: no registered query's static plan broadcasts a pair-expansion build or runs an unpartitioned window over an unbounded frame") {
    // The ×30 defect class as a permanent invariant instead of a
    // remembered audit: a BroadcastHashJoin whose BUILD side descends
    // from a PAIR EXPANSION (explode of pair_combinations — the K²
    // in-bucket generator) trusts a row-count estimate that is blind to
    // the quadratic fan-out AT EVERY SCALE: the estimate tracks bucket
    // count while reality tracks ΣK², so the frame stays "small enough
    // to broadcast" on paper while growing quadratically in fact —
    // exactly the shape that chose the candidate set as a
    // driver-collected broadcast build and died at ×30 (SURVEY §6.11).
    // The round-9 fix pinned six sites by hand after a manual sibling
    // sweep; this re-runs that sweep over EVERY registered query on
    // every build. LINEAR explodes (tokens, shingles, probe masks) are
    // deliberately out of scope: their estimates are child-size-
    // proportional, so the static planner stops broadcasting them as
    // the input grows — those broadcasts are fixture-scale artifacts,
    // not scale hazards. Static plans only (AQE off): the defect lives
    // in the estimate-driven static choice — AQE's runtime re-plan sees
    // true sizes, and at fixture scale legitimately broadcasts frames
    // that are huge at production scale, so finalized fixture plans are
    // the wrong thing to audit. Coverage split with the companion test
    // above: the pair pipelines localCheckpoint their candidate frames,
    // which hides Generate ancestry behind Scan ExistingRDD in any plan
    // downstream of the checkpoint — those regions are asserted by the
    // raw-builder test over all six pinned sites; THIS sweep guards
    // every visible region of every registered query, i.e. any future
    // pair expansion consumed without an intervening checkpoint.
    // WINDOW HALF (round-12 addition): a WindowExec with an EMPTY
    // partition spec funnels its whole input through ONE task — benign
    // over a bounded frame (a domain-keyed aggregate, a top-k head, a
    // pid-subtotal frame), fatal over corpus rows (the negativeSamples
    // vocab-CDF defect class this sweep exists to catch). Two rules:
    // (1) every unpartitioned window's input subtree must be row-bounded
    // by an aggregate / limit / local scan (resolving ReusedExchange) —
    // a window straight over corpus rows has none; (2) the per-query
    // COUNT of unpartitioned windows must match the audited allowlist
    // below EXACTLY, so a new site (even one sitting over a
    // corpus-proportional aggregate like groupBy(user_id), which rule 1
    // cannot distinguish from a domain-keyed one) fails until a human
    // audits it and updates the list. Inventory: the executed plan that
    // `runMain graft.Profile` writes to target/profile/<qNN>.txt; the
    // audit of all 95 current sites (every one bounded) is recorded in
    // SURVEY §6.
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.functions.{PairCombinations, PairCombinationsKeyed}
    // Reviewed quadratic-by-design exceptions only (none today). Keep
    // this list justified per-site or the invariant rots.
    val allowed: Set[String] = Set()
    // query -> audited count of empty-partition-spec WindowExec nodes;
    // every site verified bounded (domain-keyed agg / top-k / pid frame)
    val allowedWindows: Map[String, Int] = Map(
      "q58_pack_offsets" -> 1, "q62_mixture_weights" -> 1,
      "q69_temperature_mixture" -> 2, "q92_mixture_sample" -> 2,
      "q107_curriculum" -> 2, "q111_datasheet" -> 1,
      "q112_epoch_plan" -> 2, "q113_interleave" -> 2,
      "q124_weighted_sample" -> 1, "q126_hybrid_rrf" -> 2,
      "q153_abtt_outliers" -> 1, "q156_vocab_growth" -> 1,
      "q158_zipf_fit" -> 1, "q167_budget_select" -> 1,
      "q169_water_fill" -> 6, "q172_pareto_frontier" -> 1,
      "q179_neyman_sample" -> 4, "q189_classifier_auc" -> 1,
      "q193_cusum_drift" -> 4, "q201_trend_test" -> 2,
      "q202_benford" -> 1, "q205_interarrival_ks" -> 1,
      "q206_ht_estimate" -> 4, "q214_filter_attrition" -> 1,
      "q215_source_calibration" -> 2, "q218_rate_outliers" -> 2,
      "q220_late_arrivals" -> 1, "q221_srm_check" -> 2,
      "q222_conversion_latency" -> 2, "q224_ordered_funnel" -> 1,
      "q225_incremental_datasheet" -> 1, "q227_persisted_datasheet" -> 1,
      "q235_survival_km" -> 3, "q245_chi2_independence" -> 1,
      "q246_bh_fdr" -> 2, "q247_mann_whitney" -> 1,
      "q248_kruskal_wallis" -> 3, "q249_spearman" -> 2,
      "q253_ks_two_sample" -> 1, "q254_ks_panel" -> 3,
      "q259_changepoint" -> 3, "q264_cmh" -> 1,
      "q266_auc_delong" -> 1, "q275_changepoint_panel" -> 3,
      "q276_weekday_effect" -> 3, "q281_logrank" -> 1,
      "q285_hill_tail" -> 1, "q287_woe_iv" -> 1,
      "q288_stratified_ate" -> 3, "q289_lsh_planner" -> 1,
      "q294_periodogram" -> 3, "q295_lead_lag" -> 1,
      "q296_seasonal_decomp" -> 3,
      // round 13: the compaction planner's pid-subtotal frame (<= parts
      // rows over a groupBy(pid) aggregate — the q58/q234 two-stage
      // prefix-sum pattern)
      "q310_compaction_plan" -> 1)
    // (q311's two pid-subtotal frames sit UPSTREAM of its footer-stats
    // localCheckpoint — executed at build time, audited by its spec,
    // invisible to this static sweep like the pair-pipeline checkpoints)
    def generateDescended(p: SparkPlan): Boolean =
      p.find {
        case g: GenerateExec =>
          g.generator.find {
            case _: PairCombinations | _: PairCombinationsKeyed => true
            case _ => false
          }.isDefined
        case _ => false
      }.isDefined
    def rowBounded(p: SparkPlan): Boolean = {
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
        TakeOrderedAndProjectExec, LocalTableScanExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      p.collectFirst {
        case _: GlobalLimitExec | _: LocalLimitExec |
             _: TakeOrderedAndProjectExec | _: BaseAggregateExec |
             _: LocalTableScanExec => true
        // ReusedExchange is a leaf pointing at another subtree — judge
        // by the exchange it reuses
        case r: ReusedExchangeExec if rowBounded(r.child) => true
      }.isDefined
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders =
      try {
        SparkEntry.queries.toSeq
          .sortBy { case (name, _) => name.drop(1).takeWhile(_.isDigit).toInt }
          .filterNot { case (name, _) => allowed.contains(name) }
          .flatMap { case (name, fn) =>
            val plan = fn(spark, sf).queryExecution.executedPlan
            val broadcastHits = plan.collect {
              case b: BroadcastHashJoinExec
                  if generateDescended(
                    if (b.buildSide == BuildLeft) b.left else b.right) =>
                s"$name: ${b.nodeName} builds a Generate-descended frame"
            }
            val wins = plan.collect {
              case w: WindowExec if w.partitionSpec.isEmpty => w
            }
            val unbounded = wins.filterNot(w => rowBounded(w.child)).map(w =>
              s"$name: unpartitioned Window over an UNBOUNDED frame:\n" +
                w.child.treeString.linesIterator.take(6).mkString("\n"))
            val countHit =
              if (wins.size != allowedWindows.getOrElse(name, 0))
                Seq(s"$name: ${wins.size} unpartitioned windows, allowlist says " +
                  s"${allowedWindows.getOrElse(name, 0)} — audit the new site " +
                  "(runMain graft.Profile, target/profile/<qNN>.txt) and update allowedWindows")
              else Seq.empty
            broadcastHits ++ unbounded ++ countHit
          }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(offenders.isEmpty,
      "plan-invariant offenders (pin shuffle_hash / fix the window / update the audited lists):\n" +
        offenders.mkString("\n"))
  }
}
