package graft

import graft.operators.{Governance, Similarity, TextAnalysis}
import graft.sources.Tables

/** Right-to-erasure laws: tombstone serving == filtered re-ingest and
  * pair-grain erasure == a full re-run, plus the governance audits and
  * the persisted-artifact staleness report.
  */
class GovernanceSpec extends GraftSuite {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val embs = Tables.embeddings(spark, sf)

  test("erasureBm25: tombstones at the index-row grain == filtered re-ingest") {
    val del = Governance.erasureRequests(docs)
    val deletedIds = del.collect().map(_.getLong(0)).toSet
    assert(deletedIds.nonEmpty, "fixture must contain the congruence class")
    val tombstoned = Governance.erasureBm25(docs, del).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reingested = TextAnalysis.bm25TopDocs(
      docs.join(broadcast(del), Seq("doc_id"), "left_anti")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(tombstoned === reingested)
    assert(tombstoned.nonEmpty)
    assert(tombstoned.forall(t => !deletedIds.contains(t._1)))
    // non-vacuity: dropping docs changes N/avgdl/df, so scores move even
    // for retained docs — the law is about a genuinely different ranking
    val baseline = TextAnalysis.bm25TopDocs(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(tombstoned !== baseline)
  }

  test("erasureAudit: brute-force per-source equality and mass invariants") {
    val del = Governance.erasureRequests(docs)
    val deletedIds = del.collect().map(_.getLong(0)).toSet
    val rows = docs.select($"source", $"doc_id", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val expected = rows.groupBy(_._1).toSeq.map { case (src, rs) =>
      val total = rs.map(_._3).sum
      val erased = rs.filter(r => deletedIds.contains(r._2)).map(_._3).sum
      val nErased = rs.count(r => deletedIds.contains(r._2)).toLong
      val ppm = BigDecimal(1e6 * (total - erased) / total)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (src, rs.length.toLong, nErased, total, erased, ppm)
    }.sortBy(_._1)
    val got = Governance.erasureAudit(docs, del).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    assert(got.map(_._3).sum === deletedIds.size.toLong)
    assert(got.forall(t => t._5 <= t._4 && t._6 <= 1000000L))
  }

  test("erasureSurvivors: pair-grain tombstones == full re-run on the filtered corpus") {
    val del = Governance.erasureRequests(docs)
    val tombstoned = Governance.erasureSurvivors(docs, del).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val rerun = graft.operators.Dedup.nearDupSurvivors(
      docs.join(broadcast(del), Seq("doc_id"), "left_anti")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(tombstoned === rerun)
    assert(tombstoned.nonEmpty, "the filtered fixture should still have near-dup pairs")
    val deletedIds = del.collect().map(_.getLong(0)).toSet
    assert(tombstoned.forall(t => !deletedIds.contains(t._1)))
  }

  test("erasure splits a cluster bridged by the deleted doc") {
    // hand-built pair set: 1—2—3 is one component only through 2
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val whole = graft.operators.Dedup.survivorsOverPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(whole === Seq((1L, 1L), (2L, 1L), (3L, 1L)), "one cluster via the bridge")
    val keep = Seq(1L, 3L).toDF("doc_id")
    val restricted = graft.operators.Dedup.restrictPairs(pairs, keep)
    // no surviving edge: 1 and 3 were never near-dups of each other, so
    // after erasing the bridge they are independent non-duplicates
    // (survivorsOverPairs reports edge-bearing nodes only)
    assert(restricted.count() === 0L)
    assert(graft.operators.Dedup.survivorsOverPairs(restricted).count() === 0L)
    // erasing a leaf instead keeps the other edge intact
    val keep2 = Seq(1L, 2L).toDF("doc_id")
    val leaf = graft.operators.Dedup.survivorsOverPairs(
      graft.operators.Dedup.restrictPairs(pairs, keep2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(leaf === Seq((1L, 1L), (2L, 1L)))
  }

  test("tableProfile equals the in-JVM per-column recompute; branch scans stay pruned") {
    import graft.operators.Governance
    val orders = Tables.orders(spark, sf)
    val rows = orders.collect()
    val fields = orders.schema.fields
    val expected = fields.map { f =>
      val i = orders.schema.fieldIndex(f.name)
      val vals = rows.map(r => if (r.isNullAt(i)) null else r.get(i))
      val nonNull = vals.filter(_ != null)
      val (numArr, strArr) = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          (Array.empty[Double], nonNull.map(_.asInstanceOf[String]))
        case org.apache.spark.sql.types.TimestampNTZType =>
          (nonNull.map { v =>
            java.time.Duration.between(java.time.LocalDateTime.of(1970, 1, 1, 0, 0),
              v.asInstanceOf[java.time.LocalDateTime]).toNanos / 1000.0
          }, Array.empty[String])
        case org.apache.spark.sql.types.TimestampType =>
          (nonNull.map { v =>
            val ts = v.asInstanceOf[java.sql.Timestamp]
            ts.getTime * 1000.0 + (ts.getNanos / 1000) % 1000
          }, Array.empty[String])
        case _ =>
          (nonNull.map(v => v.toString.toDouble), Array.empty[String])
      }
      (f.name, rows.length.toLong, (vals.length - nonNull.length).toLong,
        (numArr.distinct.length + strArr.distinct.length).toLong,
        if (numArr.isEmpty) null else Double.box(numArr.min),
        if (numArr.isEmpty) null else Double.box(numArr.max),
        if (strArr.isEmpty) null else strArr.min,
        if (strArr.isEmpty) null else strArr.max)
    }.sortBy(_._1).toSeq
    val profiled = Governance.tableProfile(orders)
    val got = profiled.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) null else Double.box(r.getDouble(4)),
      if (r.isNullAt(5)) null else Double.box(r.getDouble(5)),
      if (r.isNullAt(6)) null else r.getString(6),
      if (r.isNullAt(7)) null else r.getString(7))).toSeq
    assert(got === expected)
    got.foreach { case (c, n, nulls, ndv, _, _, _, _) =>
      assert(ndv <= n - nulls, s"$c: ndv must be bounded by non-null rows")
    }
    // every union branch prunes its scan to the one profiled column
    val scans = profiled.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { line =>
      val schema = line.substring(line.indexOf("ReadSchema"))
      assert(schema.count(_ == ',') == 0,
        s"a profile branch reads more than one column: $line")
    }
  }

  test("fkProfile: clean fixture is orphan/null-free; injected defects are counted exactly") {
    def run(orders: org.apache.spark.sql.DataFrame) =
      Governance.fkProfile(Tables.lineitem(spark, sf), orders,
          Tables.part(spark, sf), Tables.supplier(spark, sf),
          Tables.customer(spark, sf), Tables.nation(spark, sf),
          Tables.region(spark, sf))
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
    val orders = Tables.orders(spark, sf)
    val clean = run(orders)
    assert(clean.size === 7)
    clean.foreach { case (e, (nRows, nNulls, nOrphans, ndv, fanout)) =>
      assert(nNulls === 0L && nOrphans === 0L, s"$e: fixture must be referentially clean")
      assert(nRows > 0L && ndv > 0L && fanout >= 1L, e)
    }
    // brute-force one edge end to end
    val custKeys = orders.select($"o_custkey").collect().map(_.getLong(0)).toSeq
    val hist = custKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(clean("orders.o_custkey->customer") ===
      ((custKeys.size.toLong, 0L, 0L, hist.size.toLong, hist.values.max)))
    // inject defects: every 100th order points nowhere, every 101st is null
    val dirty = orders.withColumn("o_custkey",
      when($"o_orderkey" % 100 === 0, lit(999999999L))
        .when($"o_orderkey" % 101 === 0, lit(null: java.lang.Long))
        .otherwise($"o_custkey"))
    val nBad = orders.filter($"o_orderkey" % 100 === 0).count()
    val nNull = orders.filter($"o_orderkey" % 101 === 0 && $"o_orderkey" % 100 =!= 0).count()
    val got = run(dirty)("orders.o_custkey->customer")
    assert(got._2 === nNull, "null FKs must be counted")
    assert(got._3 === nBad, "orphaned FKs must be counted")
    // every other edge is untouched by the orders mutation except the
    // lineitem->orders PARENT side, which fkProfile reads only for keys
    assert(run(dirty)("customer.c_nationkey->nation") ===
      clean("customer.c_nationkey->nation"))
    // plan shape: every branch scans exactly ONE column (the FK or the
    // PK) — a profile that drags full rows through 14 scans is wrong
    val scans = Governance.fkProfile(Tables.lineitem(spark, sf), orders,
        Tables.part(spark, sf), Tables.supplier(spark, sf),
        Tables.customer(spark, sf), Tables.nation(spark, sf),
        Tables.region(spark, sf))
      .queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { line =>
      val schema = line.substring(line.indexOf("ReadSchema"))
      assert(schema.count(_ == ',') == 0,
        s"an fkProfile branch reads more than one column: $line")
    }
  }

  test("lDiversityReport: brute-force entropy/distinct-l; single-band cell flags (q230)") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val rows = Tables.customer(spark, sf)
      .select($"c_nationkey".cast("long").as("c_nationkey"), $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("long").as("band"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = rows.groupBy(r => (r._1, r._2)).toSeq
      .sortBy { case ((nk, seg), _) => (nk, seg) }
      .map { case ((nk, seg), g) =>
        val cs = g.groupBy(_._3).values.map(_.size.toLong).toSeq
        val n = cs.sum
        val s6 = cs.map(c => c * math.round(log2(c.toDouble) * 1e6)).sum
        (nk, seg, n, cs.size.toLong, round4(log2(n.toDouble) - s6 / 1e6 / n),
          cs.size >= 3)
      }
    val got = Governance.lDiversityReport(Tables.customer(spark, sf)).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // constructed corners: a 100-row single-band cell is k-anonymous but
    // NOT l-diverse (the leak q82 cannot see); a two-band 50/50 cell has
    // exactly 1 bit of entropy
    import spark.implicits.localSeqToDatasetHolder
    val crafted = (
      (1 to 100).map(i => (1L, "LEAK", 500.0)) ++
      (1 to 50).map(i => (2L, "EVEN", 500.0)) ++
      (1 to 50).map(i => (2L, "EVEN", 1500.0))
    ).toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val c = Governance.lDiversityReport(crafted).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4), r.getBoolean(5)))
    assert(c === Array((1L, 1L, 0.0, false), (2L, 2L, 1.0, false)))
  }

  test("sourceConcentration: matches brute force; uniform and one-source corners") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // brute-force Gini/HHI from the collected strata
    def brute(strata: Seq[(String, String, Long)]) =
      strata.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, g) =>
        val xs = g.sortBy(s => (s._3, s._2)).map(_._3)
        val n = xs.size.toLong
        val tot = xs.sum
        val rm = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
        (lang, n, tot,
          round6(xs.max.toDouble / tot),
          round6(xs.map(x => x * x).sum.toDouble / (tot.toDouble * tot)),
          round6((2.0 * rm - (n + 1) * tot) / (n.toDouble * tot)))
      }
    val strata = docs
      .groupBy($"lang", $"source")
      .agg(sum(size(split($"text", " ")).cast("long")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val got = Governance.sourceConcentration(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === brute(strata))
    // corners: a uniform corpus has gini 0 and hhi 1/n; a corpus where one
    // source holds (almost) everything approaches top_share/hhi/gini 1
    val uniform = (0 until 4).flatMap(s =>
      Seq(("en", s"s$s", "alpha beta gamma delta")))
      .toDF("lang", "source", "text")
    val u = Governance.sourceConcentration(uniform).collect()(0)
    assert(u.getDouble(3) === 0.25 && u.getDouble(4) === 0.25 && u.getDouble(5) === 0.0)
    val skewed = (("en", "big", Seq.fill(997)("w").mkString(" ")) +:
      (0 until 3).map(s => ("en", s"s$s", "w"))).toDF("lang", "source", "text")
    val k = Governance.sourceConcentration(skewed).collect()(0)
    assert(k.getDouble(3) === 0.997)
    assert(k.getDouble(4) > 0.99 && k.getDouble(5) > 0.74,
      "concentration indexes must approach their one-source limits")
  }

  test("artifact fingerprint: XOR merge law, order independence, staleness verdicts, requireFresh") {
    import graft.operators.Curation
    val base = docs.filter($"doc_id" % 10 =!= 1)
    // XOR merge law: the fingerprint of a union of disjoint slices is the
    // XOR of the slice hashes and the sum of the counts
    def fpOf(df: org.apache.spark.sql.DataFrame) =
      Governance.artifactFingerprint(df, Governance.docCanonical)
        .collect()(0) match { case r => (r.getLong(0), r.getLong(1)) }
    val (nA, xA) = fpOf(docs.filter($"doc_id" % 2 === 0))
    val (nB, xB) = fpOf(docs.filter($"doc_id" % 2 =!= 0))
    val (nU, xU) = fpOf(docs)
    assert(nU === nA + nB && xU === (xA ^ xB))
    // order/partitioning independence
    assert(fpOf(docs.repartition(7)) === ((nU, xU)))
    assert(fpOf(docs.orderBy($"text")) === ((nU, xU)))
    // empty slice: count 0, hash 0 (the coalesce guard)
    assert(fpOf(docs.filter($"doc_id" < 0)) === ((0L, 0L)))

    // build an artifact and judge the three staleness scenarios
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_spec").toString
    Curation.writeDatasheetPartials(base, s"$tmp/p")
    val mutated = base.withColumn("text",
      when($"doc_id" === 5L, concat($"text", lit("~"))).otherwise($"text"))
    val rep = Governance.stalenessReport(spark, Seq(
        ("fresh", s"$tmp/p", base, Governance.docCanonical),
        ("grown", s"$tmp/p", docs, Governance.docCanonical),
        ("mutated", s"$tmp/p", mutated, Governance.docCanonical)))
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(rep("fresh") === ((true, true, true)))
    assert(rep("grown") === ((false, false, false)))
    // the in-place mutation is visible ONLY to the content hash
    assert(rep("mutated") === ((true, false, false)))

    // read-time enforcement: same slice passes, mutated slice throws with
    // the descriptive message
    Governance.requireFresh(spark, s"$tmp/p", base, Governance.docCanonical)
    val e = intercept[IllegalArgumentException] {
      Governance.requireFresh(spark, s"$tmp/p", mutated,
        Governance.docCanonical, label = "partials")
    }
    assert(e.getMessage.contains("stale artifact 'partials'"))
    // and the serve path of the artifact itself is untouched by the
    // hidden _fingerprint dir (underscore paths are invisible to reads)
    assert(Curation.datasheetFromPartials(spark, Seq(s"$tmp/p")).count() > 0)
  }

  test("PQ/spectral staleness: a one-component vector mutation flips stale") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecfp").toString
    val base = embs.filter($"vec_id" % 10 =!= 1)
    Similarity.writePqIndex(base, s"$tmp/pq")
    Similarity.writeSpectralModel(base, s"$tmp/sp")
    // a ONE-COMPONENT vector mutation: the content change a row count
    // can never see — only the canonical's per-component hash catches it
    val mutated = base.withColumn("embedding",
      when($"vec_id" === 4L,
        transform($"embedding", (x, i) => when(i === 0, x + lit(0.25f)).otherwise(x)))
        .otherwise($"embedding"))
    val rep = Governance.stalenessReport(spark, Seq(
        ("pq_ok", s"$tmp/pq", base, Governance.embCanonical),
        ("pq_mut", s"$tmp/pq", mutated, Governance.embCanonical),
        ("sp_mut", s"$tmp/sp", mutated, Governance.embCanonical)))
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(rep("pq_ok") === ((true, true, true)))
    assert(rep("pq_mut") === ((true, false, false)))
    assert(rep("sp_mut") === ((true, false, false)))
  }

  test("tClosenessReport equals the brute-force prefix EMD; a concentrated class maximizes (q256)") {
    val cust = Tables.customer(spark, sf)
    val rows = cust.select("c_nationkey", "c_mktsegment", "c_acctbal")
      .collect().map(r => ((r.getAs[Number](0).longValue, r.getString(1)),
        math.floor(r.getDouble(2) / 1000).toLong))
    val n = rows.length.toLong
    val bands = rows.map(_._2).distinct.sorted
    val m = bands.length.toLong
    val tb = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = Governance.tClosenessReport(cust).collect()
    val byQi = rows.groupBy(_._1)
    assert(got.length == byQi.size)
    got.foreach { g =>
      val qi = (g.getAs[Number](0).longValue, g.getString(1))
      val grp = byQi(qi)
      val ng = grp.length.toLong
      val gb = grp.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      var fg = 0L; var fa = 0L
      val sNum = bands.map { b =>
        fg += gb.getOrElse(b, 0L); fa += tb(b)
        math.abs(fg * n - fa * ng)
      }.sum
      val t = sNum.toDouble / (ng.toDouble * n * (m - 1))
      assert(g.getLong(2) == ng)
      assert(g.getDouble(3) == BigDecimal(t).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(g.getBoolean(4) == (g.getDouble(3) <= 0.2))
      assert(g.getDouble(3) >= 0.0 && g.getDouble(3) <= 1.0)
    }
    // constructed contrast: against a dominant uniform bulk, the class
    // pinned to one extreme band is farther from the global mix than a
    // class that mirrors the bulk (two classes alone would deviate
    // symmetrically and tie)
    import spark.implicits._
    val synth = ((1 to 80).map(i => (0L, "BULK", (i % 4) * 1000.0 + 10.0))
      ++ (1 to 40).map(i => (1L, "MIRROR", (i % 4) * 1000.0 + 10.0))
      ++ (1 to 40).map(_ => (2L, "PINNED", 10.0)))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val tmap = Governance.tClosenessReport(synth).collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(tmap("PINNED") > tmap("MIRROR"))
    assert(tmap("PINNED") == 0.375 && tmap("MIRROR") == 0.125)
  }

  test("constraintAudit passes the clean fixture and counts injected violations exactly (q257)") {
    import org.apache.spark.sql.functions.{lit => flit}
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf)
    val cust = Tables.customer(spark, sf)
    val clean = Governance.constraintAudit(li, ord, cust).collect()
    assert(clean.length == 10)
    // the fixture genuinely violates exactly one rule: (l_orderkey,
    // l_linenumber) is NOT a unique key in the generated lineitem — the
    // audit must report it (with the exact dup mass) and pass the rest
    val baseDup = li.count() -
      li.select("l_orderkey", "l_linenumber").distinct().count()
    assert(baseDup > 0L)
    clean.foreach { r =>
      if (r.getString(0) == "lineitem.linekey_unique")
        assert((r.getLong(2), r.getBoolean(3)) == ((baseDup, false)))
      else assert((r.getLong(2), r.getBoolean(3)) == ((0L, true)),
        s"rule ${r.getString(0)} must pass the fixture")
    }
    // inject: 2 out-of-range quantities (their copied keys also collide),
    // 1 verbatim duplicate row, 1 orphan order — each lands in exactly
    // its own counter
    val badLi = li.union(li.limit(2).withColumn("l_quantity", flit(999.0)))
      .union(li.limit(1))
    val badOrd = ord.union(ord.limit(1).withColumn("o_custkey", flit(-1L)))
    val audited = Governance.constraintAudit(badLi, badOrd, cust).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(audited("lineitem.quantity_in_1_50") == ((2L, false)))
    assert(audited("lineitem.linekey_unique") == ((baseDup + 3L, false)))
    assert(audited("orders.custkey_fk_customer") == ((1L, false)))
    assert(audited("orders.orderkey_unique") == ((1L, false)))
    assert(audited("lineitem.returnflag_domain")._2 &&
      audited("orders.orderstatus_domain")._2)
  }
}
