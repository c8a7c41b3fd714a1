package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.sources.Tables

class CurationSpec extends GraftSuite {

  private lazy val docs = Tables.documents(spark, sf)

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def grams(text: String, n: Int): Seq[String] = {
    val ws = text.split(" ", -1).toSeq
    if (ws.length < n) Nil else ws.sliding(n).map(_.mkString(" ")).toSeq
  }

  test("wordGrams matches sliding windows and is empty below n words") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "xyz").toDF("text")
      .select(Curation.wordGrams($"text", 3).as("g"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got === Seq(Seq("a b c", "b c d"), Nil, Nil))
  }

  test("decontaminate equals the brute-force overlap computation") {
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val bench = fixture.filter(_._1 < 50).flatMap(d => grams(d._2, 3)).toSet
    val expected = fixture.filter(_._1 >= 50).flatMap { case (id, text) =>
      val gs = grams(text, 3).distinct
      val cont = gs.count(bench.contains)
      val ratio = round6(cont.toDouble / gs.size)
      if (cont > 0 && ratio >= 0.5) Some((id, gs.size.toLong, cont.toLong, ratio)) else None
    }.sortBy(_._1)
    val got = Curation.decontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain contaminated docs (planted near-dups)")
    assert(got.size < fixture.size - 50, "threshold must be selective")
  }

  test("decontaminate broadcasts the benchmark side") {
    val plan = Curation.decontaminate(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe join in:\n$plan")
  }

  test("repetitionSignals equals the brute-force ratios") {
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = fixture.flatMap { case (id, text) =>
      val g2 = grams(text, 2); val g3 = grams(text, 3)
      if (g2.isEmpty || g3.isEmpty) None
      else {
        val c2 = g2.groupBy(identity).map(_._2.size)
        val c3 = g3.groupBy(identity).map(_._2.size)
        Some((id,
          round6(c2.max.toDouble / g2.size),
          round6((g2.size - c2.size).toDouble / g2.size),
          round6((g3.size - c3.size).toDouble / g3.size)))
      }
    }.sortBy(_._1)
    val got = Curation.repetitionSignals(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.size === fixture.size)
  }

  test("mixtureWeights: shares sum to 1, weights rebalance to uniform") {
    val rows = Curation.mixtureWeights(docs).collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"token shares sum to $shareSum")
    // weight * share == 1/n_strata for every stratum (the rebalance law)
    val n = rows.length
    rows.foreach { r =>
      val w = r.getDouble(5); val s = r.getDouble(4)
      assert(math.abs(w * s - 1.0 / n) < 1e-4,
        s"stratum ${r.getString(0)}/${r.getString(1)}: w*s = ${w * s}")
    }
  }

  test("sorted_intersect_count rejects unsorted or non-distinct input with NULL") {
    import spark.implicits._
    val df = Seq((Seq(3L, 1L, 2L), Seq(1L, 2L, 3L)), // left unsorted
      (Seq(1L, 1L, 2L), Seq(1L, 2L, 3L)),            // left has duplicates
      (Seq(1L, 2L, 3L), Seq(3L, 2L)),                // right unsorted
      (Seq(1L, 2L, 4L), Seq(2L, 4L, 8L))             // both valid
    ).toDF("a", "b")
      .select(graft.functions.MinHashFunctions.sorted_intersect_count($"a", $"b").as("i"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got === Seq(None, None, None, Some(2L)))
  }

  test("temperatureMixture: weights sum to 1, preserve order, flatten the head") {
    val rows = Curation.temperatureMixture(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5, "shares sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-5, "weights sum to 1")
    // sqrt smoothing preserves the share order but compresses the range
    val byShare = rows.sortBy(_._3)
    assert(byShare.map(_._4).sameElements(byShare.map(_._4).sorted), "order preserved")
    val maxShare = rows.map(_._3).max
    val maxWeight = rows.map(_._4).max
    if (maxShare > 1.0 / rows.length + 1e-6)
      assert(maxWeight < maxShare, "head language flattened toward uniform")
  }

  test("tokenTopK matches brute-force counts and plans as TakeOrdered") {
    val texts = docs.select(col("text")).collect().map(_.getString(0))
    val counts = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
    val expected = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
    val q = graft.operators.TextAnalysis.tokenTopK(docs, 10)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "top-k must not globally sort the vocabulary")
  }

  test("tfidfTopTerms matches a brute-force tf-idf ranking") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nDocs = fixture.length
    val tf = fixture.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (term, g) => (id, term, g.size) }
    }
    val df = tf.groupBy(_._2).map { case (term, g) => (term, g.size) }
    val expected = tf.map { case (id, term, f) =>
      (id, term, round4(f * math.log(nDocs.toDouble / df(term))))
    }.groupBy(_._1).toSeq.flatMap { case (id, g) =>
      g.sortBy { case (_, term, s) => (-s, term) }.take(3).zipWithIndex
        .map { case ((_, term, s), i) => (id, term, s, i + 1) }
    }.sortBy(r => (r._1, r._4))
    val got = graft.operators.TextAnalysis.tfidfTopTerms(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got === expected)
  }

  test("docChunks covers every token; chunk boundaries and checksums are exact") {
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = fixture.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      val n = ws.length
      val nChunks = if (n <= 64) 1 else math.ceil((n - 64) / 32.0).toInt + 1
      (0 until nChunks).map { k =>
        val chunk = ws.slice(k * 32, math.min(k * 32 + 64, n))
        (id, k.toLong, chunk.length.toLong, md5hex(chunk.mkString(" ")))
      }
    }.sortBy(r => (r._1, r._2))
    val got = graft.operators.Sampling.docChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === expected)
    // full coverage: chunk token counts minus overlaps == corpus token count
    val totalTokens = fixture.map(_._2.split(" ", -1).length.toLong).sum
    val lastCovered = expected.groupBy(_._1).values.map { chunks =>
      chunks.map(c => c._2 * 32 + c._3).max // max end offset per doc
    }.sum
    assert(lastCovered === totalTokens, "chunks must cover every token exactly")
  }

  test("bm25TopDocs matches a brute-force BM25 ranking") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val query = Seq("table", "data", "row")
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val n = fixture.length
    val avgdl = fixture.map(_._2.length.toLong).sum.toDouble / n
    val dfm = query.map(t => t -> fixture.count(_._2.contains(t))).toMap
    val expected = fixture.flatMap { case (id, ws) =>
      val terms = query.filter(ws.contains)
      if (terms.isEmpty) None
      else {
        val s = terms.map { t =>
          val tf = ws.count(_ == t).toDouble
          val df = dfm(t).toDouble
          math.log((n - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1) /
            (tf + 1.2 * (1 - 0.75 + 0.75 * ws.length / avgdl))
        }.sum
        Some((id, round4(s)))
      }
    }.sortBy { case (id, s) => (-s, id) }.take(20).toSeq
    val got = graft.operators.TextAnalysis.bm25TopDocs(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
  }

  test("lengthHistogram bins partition the corpus") {
    val rows = graft.operators.TextAnalysis.lengthHistogram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum === docs.count())
    assert(rows.forall(_._1 % 50 == 0))
  }

  test("redaction: planted PII is counted; fixture is PII-free") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val planted = Seq(
      (0L, "s1", "contact me at jane.doe+x@mail.example.org for details"),
      (1L, "s1", "call 555-867-5309 or 555.867.5309 today"),
      (2L, "s2", "ssn 123-45-6789 leaked beside customer data"),
      (3L, "s2", "clean text with no sensitive content at all"))
      .toDF("doc_id", "source", "text")
    val report = Curation.redactionReport(planted).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(report("s1") === ((2L, 2L, 3L, 0L))) // 1 email + 2 phones, both docs hit
    assert(report("s2") === ((2L, 1L, 1L, 1L))) // 1 ssn; 'customer' denylisted
    // the real corpus carries no structural PII (what q88's oracle checks)
    assert(Curation.redactionReport(docs).collect().map(_.getLong(2)).sum === 0L)
    // scale shape: map-side combined aggregation over a pruned scan (only
    // text + source leave the parquet reader)
    val plan = Curation.redactionReport(docs).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), s"no map-side combine in:\n$plan")
    assert(!plan.contains("n_chars") && !plan.contains("doc_id"),
      s"scan not pruned to text+source:\n$plan")
  }

  test("dupGramMass equals a brute-force cross-document gram count") {
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val occ = texts.flatMap { case (id, t) => grams(t, 3).map(g => (g, id)) }
    val byGram = occ.groupBy(_._1)
    val total = occ.length.toLong
    val dup = byGram.values.filter(_.map(_._2).distinct.length > 1).map(_.length).sum.toLong
    val row = Curation.dupGramMass(docs).collect()(0)
    assert(row.getLong(0) === total)
    assert(row.getLong(1) === byGram.size.toLong)
    assert(row.getLong(2) === dup)
    assert(row.getDouble(3) === round6(dup.toDouble / total))
    val plan = Curation.dupGramMass(docs).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), s"no map-side combine in:\n$plan")
  }

  test("duplicatedSpans: multi-span fixture and brute-force interval union on the corpus") {
    import spark.implicits._
    def bruteSpans(texts: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, Long, Double)] = {
      val occ = texts.flatMap { case (id, t) =>
        val ws = t.split(" ", -1).toSeq
        if (ws.length < k) Nil
        else ws.sliding(k).zipWithIndex.map { case (g, i) => (g.mkString(" "), id, i) }.toSeq
      }
      val counts = occ.groupBy(_._1).view.mapValues(_.size).toMap
      val nTokens = texts.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
      occ.filter(o => counts(o._1) >= 2).groupBy(_._2).map { case (id, os) =>
        var spans = List.empty[(Int, Int)]
        os.map(_._3).sorted.foreach { p =>
          spans match {
            case (s, e) :: rest if p <= e + 1 => spans = (s, math.max(e, p + k - 1)) :: rest
            case _                            => spans = (p, p + k - 1) :: spans
          }
        }
        val dupTokens = spans.map { case (s, e) => e - s + 1 }.sum.toLong
        id -> ((spans.size.toLong, dupTokens, nTokens(id),
          round6(dupTokens.toDouble / nTokens(id))))
      }
    }
    def collect(df: org.apache.spark.sql.DataFrame) =
      Curation.duplicatedSpans(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
    // constructed: docs 1/2 share two SEPARATED 8+-token runs -> exactly two
    // merged spans each; doc 3 is clean and must be absent
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val s1 = words("s", 9); val s2 = words("t", 8)
    val d1 = (s1 ++ words("a", 5) ++ s2 ++ words("b", 3)).mkString(" ")
    val d2 = (words("c", 4) ++ s1 ++ words("d", 6) ++ s2).mkString(" ")
    val d3 = words("e", 20).mkString(" ")
    val constructed = Seq((1L, d1), (2L, d2), (3L, d3))
    val gotC = collect(constructed.toDF("doc_id", "text"))
    assert(gotC === bruteSpans(constructed, 8))
    assert(gotC(1L) === ((2L, 17L, 25L, round6(17.0 / 25))), "two spans of 9+8 tokens")
    assert(!gotC.contains(3L))
    // the real fixture: full-table equality against the brute force
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(collect(docs) === bruteSpans(texts, 8))
    val plan = Curation.duplicatedSpans(docs).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), s"no map-side combine on gram counts in:\n$plan")
    assert(!plan.contains("Cartesian"), "span detection must stay join-bucketed")
  }

  test("cutDuplicatedSpans: retained text equals the brute-force span cut, checksummed") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def brute(texts: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, String)] = {
      val occ = texts.flatMap { case (id, t) =>
        val ws = t.split(" ", -1).toSeq
        if (ws.length < k) Nil
        else ws.sliding(k).zipWithIndex.map { case (g, i) => (g.mkString(" "), id, i) }.toSeq
      }
      val counts = occ.groupBy(_._1).view.mapValues(_.size).toMap
      val coveredBy = occ.filter(o => counts(o._1) >= 2)
        .groupBy(_._2).view.mapValues(_.flatMap(o => o._3 until o._3 + k).toSet).toMap
      texts.map { case (id, t) =>
        val ws = t.split(" ", -1).toSeq
        val cov = coveredBy.getOrElse(id, Set.empty)
        val kept = ws.zipWithIndex.collect { case (w, i) if !cov(i) => w }
        id -> ((ws.length.toLong, kept.length.toLong, md5hex(kept.mkString(" "))))
      }.toMap
    }
    def collect(df: org.apache.spark.sql.DataFrame) =
      Curation.cutDuplicatedSpans(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // constructed corpus from the q97 fixture: shared runs cut from BOTH
    // docs (aggressive variant), clean doc untouched
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val s1 = words("s", 9); val s2 = words("t", 8)
    val d1 = (s1 ++ words("a", 5) ++ s2 ++ words("b", 3)).mkString(" ")
    val d2 = (words("c", 4) ++ s1 ++ words("d", 6) ++ s2).mkString(" ")
    val d3 = words("e", 20).mkString(" ")
    val constructed = Seq((1L, d1), (2L, d2), (3L, d3))
    val gotC = collect(constructed.toDF("doc_id", "text"))
    assert(gotC === brute(constructed, 8))
    assert(gotC(1L)._2 === 8L, "25 tokens minus the 17 duplicated")
    assert(gotC(1L)._3 === md5hex((words("a", 5) ++ words("b", 3)).mkString(" ")))
    assert(gotC(3L) === ((20L, 20L, md5hex(d3))), "clean doc passes through intact")
    // the real fixture
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(collect(docs) === brute(texts, 8))
  }

  test("dsirImportance equals the brute-force hashed log-likelihood ratio; target lang wins") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % 1024
    }
    val rows = docs.select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = rows.flatMap { case (id, lang, t) =>
      t.split(" ", -1).map(w => (id, lang, bucket(w))) }
    val ct = toks.filter(_._2 == "en").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cs = toks.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val nt = ct.values.sum; val ns = cs.values.sum
    // integer micro-units: the weighted sum must be exact (order-free)
    val r6 = cs.keys.map { b =>
      b -> java.math.BigDecimal.valueOf(
        math.log(((ct.getOrElse(b, 0L) + 1).toDouble / (nt + 1024)) /
          ((cs(b) + 1).toDouble / (ns + 1024))) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }.toMap
    val expected = toks.groupBy(t => (t._1, t._2)).view.mapValues { ts =>
      round4(ts.groupBy(_._3).map { case (b, os) => os.size * r6(b) }.sum / 1e6)
    }.toSeq.map { case ((id, lang), s) => (id, lang, s) }
      .sortBy { case (id, _, s) => (-s, id) }.take(50)
    val got = Curation.dsirImportance(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(got === expected)
    // the fixture's languages share most vocabulary, so demand enrichment
    // over the base rate rather than outright dominance
    val baseRate = rows.count(_._2 == "en").toDouble / rows.length
    assert(got.count(_._2 == "en").toDouble / got.length > baseRate,
      s"selection must be enriched in the target language (base $baseRate)")
    val plan = Curation.dsirImportance(docs).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"bucket ratio table and totals must broadcast:\n$plan")
  }

  test("corpusDiff classifies all four statuses; fixture masses partition both snapshots") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a b"), (2L, "c d e"), (3L, "f")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "c d e"), (3L, "f CHANGED"), (4L, "g h")).toDF("doc_id", "text")
    val got = Curation.corpusDiff(oldSnap, newSnap).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      "added" -> ((1L, 2L)),     // doc 4: 2 tokens
      "removed" -> ((1L, 2L)),   // doc 1: OLD-side 2 tokens
      "changed" -> ((1L, 2L)),   // doc 3: NEW-side 2 tokens
      "unchanged" -> ((1L, 3L))))
    // fixture: every doc of old ∪ new is classified exactly once, token
    // mass adds up against direct recomputation
    val docs0 = docs
    val oldF = docs0.filter(col("doc_id") % 10 =!= 1)
    val newF = docs0.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" rev1"))).otherwise(col("text")))
    val rep = Curation.corpusDiff(oldF, newF).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep.keySet === Set("added", "removed", "changed", "unchanged"),
      "the fixture derivation must make every branch non-vacuous")
    val union = oldF.select("doc_id").union(newF.select("doc_id")).distinct().count()
    assert(rep.values.map(_._1).sum === union)
    val removedToks = oldF.filter(col("doc_id") % 10 === 0)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    val newToks = newF
      .agg(sum(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    assert(rep.values.map(_._2).sum === removedToks + newToks)
  }

  test("bpeMerges equals a reference BPE trainer; greedy tie-break and rewrite pinned") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // reference implementation of the BATCHED rule: per round, rank pairs
    // by (count desc, text), accept the independent set (no higher-ranked
    // pair shares a symbol) capped at the merges still needed, apply the
    // batch in rank order, repeat
    def bruteBpe(texts: Seq[String], n: Int): Seq[(Int, String, String, Long)] = {
      val freq = texts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var vocab: Map[List[String], Long] =
        freq.map { case (w, f) => (w.map(_.toString).toList :+ "</w>") -> f }
      def mergeSyms(syms: List[String], a: String, b: String): List[String] = {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toList
      }
      val res = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var exhausted = false
      while (res.size < n && !exhausted) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        vocab.foreach { case (syms, f) =>
          syms.sliding(2).foreach {
            case Seq(a, b) => counts((a, b)) += f
            case _ =>
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ranked = counts.toSeq.sortBy { case ((a, b), cc) => (-cc, s"$a $b") }
          val accepted = ranked.zipWithIndex.filter { case (((a, b), _), i) =>
            !ranked.take(i).exists { case ((x, y), _) =>
              Set(x, y).intersect(Set(a, b)).nonEmpty }
          }.map(_._1).take(n - res.size)
          accepted.foreach { case ((a, b), c) =>
            res += ((res.size + 1, s"$a $b", a + b, c))
            vocab = vocab.toSeq.map { case (syms, f) => (mergeSyms(syms, a, b), f) }
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          }
        }
      }
      res.toSeq
    }
    def run(df: org.apache.spark.sql.DataFrame, n: Int) =
      TextAnalysis.bpeMerges(df, n).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // constructed: "l o" and "o w" tie at 3 — the pair-text tiebreak must pick "l o"
    val tiny = Seq("low low lower").toDF("text")
    val gotTiny = run(tiny, 3)
    assert(gotTiny.head === ((1, "l o", "lo", 3L)), "tie-break by pair text")
    assert(gotTiny === bruteBpe(Seq("low low lower"), 3))
    // fixture corpus vs the reference trainer
    val texts = docs.select(col("text")).collect().map(_.getString(0)).toSeq
    assert(run(docs, 5) === bruteBpe(texts, 5))
  }

  test("sourceDriftPsi equals the brute-force PSI; terms are nonnegative and planted drift ranks top") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def brutePsi(rows: Seq[(String, Long)]): Map[String, (Long, Double)] = {
      val cb = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val n = rows.size.toLong; val nb = cb.size.toLong
      rows.groupBy(_._1).map { case (src, rs) =>
        val sb = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val ns = rs.size.toLong
        val t6 = cb.toSeq.sortBy(_._1).map { case (bin, cBin) =>
          val p = (sb.getOrElse(bin, 0L) + 1).toDouble / (ns + nb)
          val q = (cBin + 1).toDouble / (n + nb)
          java.math.BigDecimal.valueOf((p - q) * math.log(p / q) * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }.sum
        src -> ((ns, round4(t6 / 1e6)))
      }
    }
    def binsOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select(col("source"),
          floor(TextAnalysis.qualityCol(col("text")) * 10).cast("long").as("bin"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = TextAnalysis.sourceDriftPsi(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === brutePsi(binsOf(docs)))
    assert(got.values.map(_._1).sum === docs.count(), "sources partition the corpus")
    assert(got.values.forall(_._2 >= 0.0), "PSI terms are individually nonnegative")
    // planted drift: a source holding only the corpus' shortest docs must
    // out-drift every organic source
    val drifted = docs.orderBy(col("n_chars"), col("doc_id")).limit(20)
      .withColumn("source", lit("drifted"))
    val withDrift = TextAnalysis.sourceDriftPsi(docs.unionByName(drifted)).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    val dPsi = withDrift.find(_._1 == "drifted").get._2
    assert(withDrift.filter(_._1 != "drifted").forall(_._2 < dPsi),
      s"planted drift must rank top: $dPsi vs ${withDrift.filter(_._1 != "drifted").map(_._2).max}")
  }

  test("materializeMixture: deterministic draw, head flattened, within-language bounds") {
    def run() = Curation.materializeMixture(docs).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val r1 = run()
    assert(r1 === run(), "the same doc set must be drawn every run")
    val langTokens = docs
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(split(col("text"), " "))).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    r1.foreach { case (lang, (nKept, tokKept, p)) =>
      assert(p > 0.0 && p <= 1.0, s"$lang p=$p")
      assert(tokKept <= langTokens(lang) && nKept > 0, s"$lang")
    }
    // temperature flattening: keep-probability is monotone NON-INCREASING
    // in language token mass (p ~ 1/sqrt(mass) before the clamp at 1)
    val byMass = r1.toSeq.sortBy { case (lang, _) => -langTokens(lang) }.map(_._2._3)
    assert(byMass.zip(byMass.tail).forall { case (a, b) => a <= b + 1e-12 },
      s"p_keep not flattening: $byMass")
  }

  test("tokenEntropy equals brute-force Shannon entropy; extremes hit 0 and 1") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val n = ws.length.toDouble
      // micro-unit quantized weighted sum — exact, order-free (mirrors
      // the operator and oracle exactly)
      val s6 = ws.groupBy(identity).values.map { g =>
        g.length * java.math.BigDecimal.valueOf(log2(g.length.toDouble) * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }.sum
      val h = log2(n) - s6 / 1e6 / n
      id -> ((ws.length.toLong, ws.distinct.length.toLong, round4(h)))
    }.toMap
    val got = graft.operators.TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, (n, ty, h)) =>
      val (en, ety, eh) = expected(id)
      assert(n === en && ty === ety, s"doc $id")
      assert(h === eh, s"doc $id: $h vs $eh") // exact: the sum is integer arithmetic
    }
    // extremes: repetition -> 0; all-distinct -> norm 1
    val extremes = Seq((0L, "spam spam spam spam"), (1L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val ex = graft.operators.TextAnalysis.tokenEntropy(extremes).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(ex(0L) === ((0.0, 0.0)))
    assert(ex(1L)._2 === 1.0)
  }

  test("SQL-registered cosine_sim accepts array<float> embeddings") {
    graft.functions.VectorFunctions.register(spark)
    Tables.embeddings(spark, sf).limit(5).createOrReplaceTempView("emb_sql_coerce")
    val rows = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_sql_coerce").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("bpeFertility equals encoding every word with the learned merges") {
    import graft.operators.TextAnalysis
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    // learned merges (bit-verified against the reference trainer above)
    val merges = TextAnalysis.bpeMerges(docs, 5).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // single-pass left-to-right non-overlapping rewrite == training's replace
    def applyMerge(syms: List[String], pair: (String, String)): List[String] = {
      val Array(a, b) = pair._1.split(" ", 2)
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += pair._2; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    def encode(w: String): List[String] =
      merges.foldLeft(w.map(_.toString).toList :+ "</w>")(applyMerge)
    val fixture = docs.select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = fixture
      .flatMap { case (lang, text) => text.split(" ", -1).filter(_.nonEmpty).map(lang -> _) }
      .groupBy(_._1).view.mapValues { ws =>
        val toks = ws.map(w => encode(w._2).length.toLong).sum
        val chars = ws.map(_._2.length.toLong).sum
        (ws.size.toLong, toks, round4(toks.toDouble / ws.size), round4(chars.toDouble / toks))
      }.toMap
    val got = TextAnalysis.bpeFertility(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === expected)
    // sanity: </w> guarantees fertility > 1; merges guarantee fewer tokens
    // than the unmerged chars+1 form
    val unmergedToks = fixture
      .flatMap { case (_, text) => text.split(" ", -1).filter(_.nonEmpty) }
      .map(_.length.toLong + 1).sum
    assert(got.values.map(_._2).sum < unmergedToks, "merges must compress the corpus")
    got.values.foreach { case (_, _, tpw, _) => assert(tpw > 1.0) }
  }

  test("epochPlan: budgets follow the mixture weights; epochs = budget / available") {
    import graft.operators.Curation
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val mix = Curation.temperatureMixture(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val got = Curation.epochPlan(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(got.map(_._1).toSet === mix.keySet)
    got.foreach { case (lang, tokens, w, target, epochs) =>
      val (mTokens, mW) = mix(lang)
      assert(tokens === mTokens && w === mW)
      assert(target === math.round(w * 1000000L))
      assert(epochs === round4(target.toDouble / tokens))
    }
    // weights are renormalized to 1, so targets sum to the budget up to
    // the round-6 weight quantization
    assert(math.abs(got.map(_._4).sum - 1000000L) <= got.length * 1L,
      s"targets ${got.map(_._4).sum} must sum to ~budget")
    // temperature flattening: epochs ∝ 1/sqrt(share), so the smallest
    // language must get the highest repeat factor
    assert(got.minBy(_._2)._5 === got.map(_._5).max,
      "lowest-resource language must be upsampled the most")
  }

  test("bpeFertility encoding is invertible: stripping separators restores every word") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // decode(encode(w)) == w: merges only ever concatenate adjacent
    // symbols, so removing spaces and the </w> marker must restore the
    // original word — checked through the same replace chain the operator
    // uses, on a vocabulary slice
    val merges = TextAnalysis.bpeMerges(docs, 5).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = docs.limit(50).collect().flatMap(_.getAs[String]("text").split(" "))
      .filter(_.nonEmpty).distinct.toSeq
    val enc = merges.foldLeft(
        concat(regexp_replace($"w", "(.)", "$1 "), lit("</w>"))) {
      case (seq, (pair, merged)) =>
        trim(replace(concat(lit(" "), seq, lit(" ")), lit(s" $pair "), lit(s" $merged ")))
    }
    val decoded = words.toDF("w")
      .select($"w", regexp_replace(regexp_replace(enc, " ", ""), "</w>$", "").as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    decoded.foreach { case (w, d) => assert(d === w, s"round-trip broke: $w -> $d") }
  }

  test("interleaveSchedule equals brute-force stride scheduling; prefix interleaves langs") {
    import graft.operators.Curation
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val weights = Curation.temperatureMixture(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val fixture = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = fixture.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.sortBy(d => (md5hex(d._1.toString), d._1)).zipWithIndex.map {
        case ((id, _), i) => (id, lang, i + 1, round4((i + 1) / weights(lang)))
      }
    }.sortBy(r => (r._4, r._1)).take(50)
    val got = Curation.interleaveSchedule(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got === expected)
    // interleaving law: the 50-row prefix must contain every language
    assert(got.map(_._2).toSet === weights.keySet,
      "stride scheduling must interleave all languages from the start")
    // plan law: final order is a TakeOrderedAndProject, not a global sort
    val plan = Curation.interleaveSchedule(docs).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("corpusDatasheet equals the brute-force (lang x source) rollup; shares sum to 1") {
    import graft.operators.{Curation, TextAnalysis}
    def round(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    val quality = TextAnalysis.qualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fixture = docs.select(col("doc_id"), col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ", -1).length.toLong)).toSeq
    val totalToks = fixture.map(_._4).sum
    val expected = fixture.groupBy(t => (t._2, t._3)).map { case (k, rs) =>
      val toks = rs.map(_._4).sum
      val q4 = rs.map(r => math.round(quality(r._1) * 10000)).sum
      k -> ((rs.size.toLong, toks, round(q4.toDouble / rs.size / 1e4, 4),
        round(toks.toDouble / totalToks, 6)))
    }
    val got = Curation.corpusDatasheet(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got === expected)
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-3, "token shares must sum to ~1")
  }

  test("curriculumStages: exact quartile cuts, stage laws, no global sort window") {
    import graft.operators.{Curation, TextAnalysis}
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val quality = TextAnalysis.qualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nw = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // quantile_cont interpolation on the sorted quality values
    val sorted = quality.values.toSeq.sorted
    def qc(q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) sorted(lo)
      else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
    }
    val (c1, c2, c3) = (qc(0.25), qc(0.5), qc(0.75))
    val expected = quality.toSeq.map { case (id, ql) =>
      val stage = if (ql >= c3) 1 else if (ql >= c2) 2 else if (ql >= c1) 3 else 4
      (stage, id, ql)
    }.groupBy(_._1).view.mapValues { rs =>
      val q4 = rs.map(r => math.round(r._3 * 10000)).sum
      (rs.size.toLong, rs.map(r => nw(r._2)).sum,
        round4(q4.toDouble / rs.size / 1e4),
        round4(rs.map(_._3).min), round4(rs.map(_._3).max))
    }.toMap
    val got = Curation.curriculumStages(docs).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got === expected)
    assert(got.keySet === Set(1, 2, 3, 4))
    assert(got.values.map(_._1).sum === quality.size)
    // stage quality ranges must be ordered: stage 1 min >= stage 2 max ... (>= by cut semantics)
    assert(got(1)._4 >= got(2)._5 && got(2)._4 >= got(3)._5 && got(3)._4 >= got(4)._5)
    // scale guard: no sort-based percentile in the plan (the only windows
    // are exactQuantileByGroup's, over the bounded histogram frame — one
    // row per distinct rounded-4 value, never per corpus row)
    val plan = Curation.curriculumStages(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("), s"sort-based percentile planned:\n$plan")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("boilerplateSegments equals the brute-force pseudo-line accounting; planted template flagged") {
    // brute force over the corpus fixture: non-overlapping 8-word
    // segments, df >= 3 distinct docs => boilerplate
    val fixture = docs.select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val segs = fixture.flatMap { case (id, src, text) =>
      text.split(" ", -1).grouped(8).map(g => (id, src, md5Hex(g.mkString(" ")), g.length.toLong))
    }
    val df3 = segs.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size).toMap
    val expected = segs.groupBy(_._2).view.mapValues { ss =>
      val bp = ss.count(s => df3(s._3) >= 3).toLong
      (ss.map(_._1).distinct.size.toLong, ss.size.toLong, bp,
        round6(bp.toDouble / ss.size), ss.map(_._4).sum,
        ss.filter(s => df3(s._3) < 3).map(_._4).sum)
    }.toMap
    val got = Curation.boilerplateSegments(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === expected)
    // the corpus plants real cross-doc duplication: the report must be
    // non-vacuous, and removal can only shrink token mass
    assert(got.values.map(_._3).sum > 0, "no boilerplate flagged — vacuous fixture")
    assert(got.values.forall(v => v._6 <= v._5))

    // planted template: an identical 8-word header in 4 docs across 2
    // sources is flagged in full; unique bodies survive
    import scala.jdk.CollectionConverters._
    val header = "terms of service apply to this mirror"  // 7 words + 1 below
    val rows = (0 until 4).map { i =>
      org.apache.spark.sql.Row(100L + i, s"s${i % 2}", s"$header page unique$i body$i tail$i")
    } :+ org.apache.spark.sql.Row(200L, "s9", "wholly original document with no template at all")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val planted = spark.createDataFrame(rows.asJava, schema)
    val rep = Curation.boilerplateSegments(planted, width = 8, minDocs = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(5), r.getLong(6)))).toMap
    // each planted doc = 11 words = 2 segments: the 8-word header+page
    // (df=4, flagged) and the 3-word remainder (unique); s0/s1 each hold
    // 2 planted docs => 2 flagged segments, 22 tokens total, 6 kept
    assert(rep("s0") === ((2L, 22L, 6L)) && rep("s1") === ((2L, 22L, 6L)))
    assert(rep("s9") === ((0L, 8L, 8L)))
  }

  private def clsBucket(tok: String): Long =
    java.lang.Long.parseLong(md5Hex(tok).substring(0, 4), 16) % 64

  test("qualityClassifier equals a reference micro-unit GD trainer; eval confusion is consistent") {
    // reference trainer: same hashed features, integer micro-unit weights,
    // quantized sigmoid, floor() steps — plain Scala over the collected corpus
    val fixture = docs.select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val feats: Map[Long, Map[Long, Long]] = fixture.map { case (id, _, text) =>
      val counts = text.split(" ", -1).toSeq.groupBy(clsBucket).view.mapValues(_.size.toLong).toMap
      id -> (counts + (-1L -> (counts.getOrElse(-1L, 0L) + 1L)))
    }.toMap
    val y: Map[Long, Long] = fixture.map(d => d._1 -> (if (d._2 == "en") 1L else 0L)).toMap
    val n = fixture.size
    var w: Map[Long, Long] = feats.values.flatMap(_.keys).toSet.map((b: Long) => b -> 0L).toMap
    for (_ <- 1 to 4) {
      val p: Map[Long, Long] = feats.map { case (id, fs) =>
        val zm = fs.map { case (b, c) => w(b) * c }.sum
        val raw = 1e6 / (1.0 + math.exp(-(zm / 1e6)))
        // determinism guard (see trainQualityWeights scaladoc): no doc's
        // unrounded sigmoid sits within 1e-6 of a .5 micro-unit boundary
        // in any round (1-ulp exp() jitter at the 1e6 scale is ~1e-10,
        // four orders below), so a cross-engine exp() difference cannot
        // flip the quantized pm and diverge the weight trajectory
        assert(math.abs(raw - math.floor(raw) - 0.5) > 1e-6,
          s"doc $id round-score $raw too close to a .5 boundary")
        id -> math.round(raw)
      }
      val g: Map[Long, Long] = feats.toSeq
        .flatMap { case (id, fs) => fs.map { case (b, c) => b -> (p(id) - y(id) * 1000000L) * c } }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      w = w.map { case (b, wm) => b -> (wm - math.floor(0.0009765625 * g(b) / n).toLong) }
    }
    val got = Curation.qualityClassifierWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === w)
    // training moved off the origin and uses the full bucket range + bias
    assert(w.values.exists(_ != 0L) && w.contains(-1L))

    // eval: confusion matrix rows partition the corpus; fractions are
    // per-label; the z>=0 rule scored with the SAME weights
    val zs = feats.map { case (id, fs) => id -> fs.map { case (b, c) => w(b) * c }.sum }
    val expectedCm = fixture.groupBy { d =>
      (y(d._1), if (zs(d._1) >= 0L) 1L else 0L)
    }.view.mapValues(_.size.toLong).toMap
    val gotCm = Curation.qualityClassifierEval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(gotCm.view.mapValues(_._1).toMap === expectedCm)
    assert(gotCm.map(_._2._1).sum === n.toLong)
    gotCm.foreach { case ((yy, _), (nd, frac)) =>
      val labelTotal = gotCm.collect { case ((`yy`, _), (c, _)) => c }.sum
      assert(frac === round6(nd.toDouble / labelTotal))
    }

    // q145 acceptance sampling with the same weights: brute-force the
    // md5-uniform coin (first 5 hex digits mod 1e6) against the
    // micro-quantized sigmoid score
    val srcs = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val pm = zs.view.mapValues(z => math.round(1e6 / (1.0 + math.exp(-(z / 1e6))))).toMap
    val uu = fixture.map(d =>
      d._1 -> java.lang.Long.parseLong(md5Hex(d._1.toString).substring(0, 5), 16) % 1000000L).toMap
    val expSample = fixture.groupBy(d => srcs(d._1)).view.mapValues { ds =>
      val acc = ds.filter(d => uu(d._1) < pm(d._1))
      (ds.size.toLong, acc.size.toLong, round6(acc.size.toDouble / ds.size),
        acc.map(d => pm(d._1)).sum)
    }.toMap
    val gotSample = Curation.classifierSample(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(gotSample === expSample)
    // a calibrated coin accepts some docs and rejects some in a mixed corpus
    assert(gotSample.values.map(_._2).sum > 0 && gotSample.values.exists(v => v._2 < v._1))
  }

  test("qualityClassifier separates a vocab-disjoint fixture perfectly") {
    import scala.jdk.CollectionConverters._
    val rows = (0 until 8).map { i =>
      val (lang, txt) =
        if (i % 2 == 0) ("en", "alpha beta gamma alpha beta gamma delta epsilon")
        else ("xx", "uno dos tres cuatro cinco seis siete ocho")
      org.apache.spark.sql.Row(i.toLong, lang, txt)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val planted = spark.createDataFrame(rows.asJava, schema)
    val cm = Curation.qualityClassifierEval(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // perfectly separable vocab => the 4-round classifier gets recall and
    // specificity 1.0 (only the two diagonal rows exist)
    assert(cm === Map((0L, 0L) -> 1.0, (1L, 1L) -> 1.0))
  }

  test("chunkDocuments equals the brute-force sliding-window reference") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (chunk, overlap) = (64, 16)
    val stride = chunk - overlap
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = fixture.flatMap { case (id, text) =>
      val ts = text.split(" ", -1)
      val nChunks = if (ts.length <= chunk) 1
        else 1 + (ts.length - chunk + stride - 1) / stride
      (0 until nChunks).map { i =>
        val start = i * stride
        val len = math.min(chunk, ts.length - start)
        (id, i, start, len, md5hex(ts.slice(start, start + len).mkString(" ")))
      }
    }
    val dupOf = expected.groupBy(_._5).view.mapValues(_.size.toLong).toMap
    val expRows = expected
      .map(e => (e._1, e._2, e._3, e._4, e._5, dupOf(e._5)))
      .sortBy(e => (e._1, e._2))
    val got = Curation.chunkDocuments(docs, chunk, overlap).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getLong(5))).toSeq
    assert(got === expRows)
    // window laws on the result itself: full coverage (chunk spans tile
    // the doc), exact stride, tail ends exactly at n_tok
    got.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3 === 0, s"doc $id first chunk offset")
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 === a._3 + stride, s"doc $id stride")
          assert(a._3 + a._4 >= b._3, s"doc $id coverage gap")
        case _ =>
      }
      val n = fixture.find(_._1 == id).get._2.split(" ", -1).length
      assert(sorted.last._3 + sorted.last._4 === n, s"doc $id tail end")
    }
  }

  test("classifierCalibration: buckets partition the corpus; totals match the confusion matrix") {
    val cal = Curation.classifierCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = docs.count()
    val nPos = docs.filter(col("lang") === "en").count()
    assert(cal.map(_._2).sum === nDocs, "buckets must partition the corpus")
    assert(cal.map(_._3).sum === nPos, "positive mass must be conserved")
    cal.foreach { case (b, n, p, rate) =>
      assert(p >= 0L && p <= n)
      assert(rate === BigDecimal(p.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"bucket $b rate")
    }
    assert(cal.map(_._1).distinct.length === cal.length, "one row per bucket")
    // cross-check with q144: mbucket >= 0 <=> zm >= 0 <=> pred = 1, so the
    // non-negative buckets hold exactly the predicted-positive documents
    val cm = Curation.qualityClassifierEval(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val predPos = cm.collect { case ((_, 1L), n) => n }.sum
    assert(cal.filter(_._1 >= 0L).map(_._2).sum === predPos)
  }

  test("paretoFrontier equals brute-force dominance; dropped docs are dominated by frontier docs") {
    import graft.operators.TextAnalysis
    val s = docs.select(col("doc_id"), TextAnalysis.qualityCol(col("text")).as("q"),
        size(split(col("text"), " ")).cast("long").as("t")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def dom(b: (Long, Double, Long), a: (Long, Double, Long)): Boolean =
      b._2 >= a._2 && b._3 <= a._3 && (b._2 > a._2 || b._3 < a._3)
    val expected = s.filterNot(a => s.exists(b => dom(b, a))).sortBy(x => (-x._2, x._1)).toSeq
    val got = Curation.paretoFrontier(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.size < s.length, "the frontier must be a strict subset")
    // completeness: every dropped doc is dominated by some FRONTIER doc
    // (dominance is transitive, so maximal points witness every drop)
    val gotSet = got.toSet
    s.filterNot(gotSet).foreach { a =>
      assert(got.exists(b => dom(b, a)), s"dropped $a lacks a frontier witness")
    }
  }

  test("budgetWaterFill equals the unit-level simulation and conserves the budget exactly") {
    // independent reference: literal water-filling — pour the budget one
    // token at a time into the least-filled open source (ties: smaller
    // capacity, then name). Slow but unarguably the stated semantics.
    def reference(caps: Seq[(String, Long)], budget: Long): Map[String, Long] = {
      val total = caps.map(_._2).sum
      if (total <= budget) return caps.toMap
      val order = caps.sortBy { case (s, c) => (c, s) }
      val alloc = collection.mutable.Map(caps.map { case (s, _) => s -> 0L }: _*)
      var left = budget
      while (left > 0) {
        val open = order.filter { case (s, c) => alloc(s) < c }
        val target = open.minBy { case (s, c) => (alloc(s), c, s) }
        alloc(target._1) += 1
        left -= 1
      }
      alloc.toMap
    }
    val capSeq = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = capSeq.map(_._2).sum
    for (budget <- Seq(24000L, 5000L, 1000000L, 19L)) {
      val expected = reference(capSeq, budget)
      val got = Curation.budgetWaterFill(docs, budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.map(_._3).sum === math.min(budget, total), s"budget=$budget")
      got.foreach { case (s, cap, a, capped) =>
        assert(a <= cap, s"$s over capacity at budget=$budget")
        if (capped) assert(a === cap, s"$s capped but not at capacity")
      }
      // equal treatment: uncapped allocations differ by at most one unit
      val uncapped = got.filterNot(_._4).map(_._3)
      if (uncapped.nonEmpty)
        assert(uncapped.max - uncapped.min <= 1L, s"budget=$budget")
      assert(got.map(g => g._1 -> g._3).toMap === expected, s"budget=$budget")
    }
  }

  test("budgetSelect equals the in-JVM prefix cut and is partition-count invariant") {
    import graft.operators.TextAnalysis
    // the selection logic is the target here; the quality formula itself
    // is q21-gated, so its column is a fair shared input
    val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityCol(col("text")).as("q"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val budget = 10000L
    var cum = 0L
    val expected = scored.sortBy { case (id, q, _) => (-q, id) }.flatMap {
      case (id, q, t) =>
        cum += t
        if (cum <= budget) Some((id, q, t, cum)) else None
    }.toSeq.takeWhile { case (_, _, _, c) => c <= budget }
    // prefix semantics: stop at the first overflow, don't skip past it
    val firstOver = {
      var c = 0L
      scored.sortBy { case (id, q, _) => (-q, id) }.indexWhere { case (_, _, t) =>
        c += t; c > budget
      }
    }
    assert(expected.size === (if (firstOver < 0) scored.length else firstOver))
    val got = Curation.budgetSelect(docs, budget).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.size < scored.length, "the cut must bind on the fixture")
    val got2 = Curation.budgetSelect(docs, budget, parts = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    val got7 = Curation.budgetSelect(docs, budget, parts = 7).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got2 === got && got7 === got,
      "the distributed prefix sum must not depend on range-partition count")
  }

  test("setCoverSelect equals the in-JVM greedy; gains diminish; coverage is exact") {
    val universe = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), grams(r.getString(1), 2).distinct.toSet)).toMap
    var covered = Set.empty[String]
    val expected = (1 to 5).flatMap { r =>
      val alive = universe.filter(_._2.exists(g => !covered(g)))
      if (alive.isEmpty) None
      else {
        val (docId, gain) = alive.view
          .map { case (id, gs) => (id, (gs -- covered).size.toLong) }
          .minBy { case (id, g) => (-g, id) }
        covered = covered ++ universe(docId)
        Some((r, docId, gain))
      }
    }
    val withTotal = expected.scanLeft(0L)(_ + _._3).tail.zip(expected)
      .map { case (tot, (r, id, g)) => (r, id, g, tot) }
    val got = Curation.setCoverSelect(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === withTotal)
    // submodularity: greedy coverage gains never increase down the rounds
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last))
    assert(got.map(_._2).distinct.size === got.size, "selections must be distinct")
    // the final covered_total is exactly the union size of the picks
    assert(got.last._4 ===
      got.map(_._2).flatMap(universe).distinct.size.toLong)
  }

  test("bootstrapCi equals the in-JVM replica recompute and is deterministic") {
    import java.security.MessageDigest
    import graft.operators.TextAnalysis
    // the quality formula is q21-gated; its integer micro-score is a fair
    // shared input — the bootstrap machinery (md5 uniforms, Poisson(1)
    // inverse CDF, weighted replica means, envelope) is recomputed here
    // from scratch
    val perDoc = docs.select(col("doc_id"), col("lang"),
        round(TextAnalysis.qualityCol(col("text")) * 1e4, 0).cast("long").as("qm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val thresholds = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    def weight(docId: Long, b: Int): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$docId:$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex.take(13), 16).toDouble /
        math.pow(16.0, 13)
      thresholds.indexWhere(u < _) match { case -1 => 6L; case i => i.toLong }
    }
    val replicas = 16
    val reps = (for { (id, lang, qm) <- perDoc; b <- 0 until replicas }
      yield { val w = weight(id, b); ((lang, b), (w, w * qm)) })
      .groupBy(_._1).toSeq
      .map { case ((lang, _), rows) =>
        (lang, rows.map(_._2._1).sum, rows.map(_._2._2).sum) }
      .filter(_._2 > 0L)
      .map { case (lang, sw, swq) => (lang, round6(swq.toDouble / sw / 10000.0)) }
    val boot = reps.groupBy(_._1).map { case (lang, rs) =>
      lang -> ((rs.map(_._2).min, rs.map(_._2).max, rs.size.toLong)) }
    val stats = perDoc.groupBy(_._2).map { case (lang, rows) =>
      lang -> ((rows.size.toLong,
        round6(rows.map(_._3).sum.toDouble / rows.size / 10000.0))) }
    val expected = stats.keySet.intersect(boot.keySet).toSeq.sorted.map { lang =>
      val (n, m) = stats(lang); val (lo, hi, nr) = boot(lang)
      (lang, n, m, lo, hi, nr)
    }
    def run() = Curation.bootstrapCi(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSeq
    val got = run()
    assert(got === expected)
    got.foreach { case (lang, nDocs, m, lo, hi, nr) =>
      assert(lo <= hi && nr >= 1L && nr <= replicas.toLong, lang)
      assert(lo <= m && m <= hi,
        s"$lang: corpus mean outside the bootstrap envelope")
      assert(nDocs > 0L, lang)
    }
    assert(run() === got, "bootstrap weights must be deterministic")
  }

  test("incrementalDatasheet: merge == full recompute, for any slicing of the corpus") {
    import spark.implicits._
    val full = Curation.corpusDatasheet(docs).collect().map(_.toSeq).toSeq
    for (m <- Seq(2L, 10L, 7L)) {
      val got = Curation.incrementalDatasheet(
        docs.filter($"doc_id" % m =!= 1), docs.filter($"doc_id" % m === 1))
        .collect().map(_.toSeq).toSeq
      assert(got === full, s"slicing mod $m must not change the datasheet")
    }
    // an EMPTY delta is the identity
    val idGot = Curation.incrementalDatasheet(docs, docs.limit(0))
      .collect().map(_.toSeq).toSeq
    assert(idGot === full)
  }

  test("datasheetFromPartials (q227): disk round-trip merge == in-session merge == recompute") {
    import spark.implicits._
    val full = Curation.corpusDatasheet(docs).collect().map(_.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ds_spec").toString
    // three doc-disjoint shards (uneven split): integer partials make the
    // file merge exact regardless of how the corpus was sliced at write
    Curation.writeDatasheetPartials(docs.filter($"doc_id" % 7 === 0), s"$tmp/a")
    Curation.writeDatasheetPartials(docs.filter($"doc_id" % 7 === 1), s"$tmp/b")
    Curation.writeDatasheetPartials(docs.filter($"doc_id" % 7 >= 2), s"$tmp/c")
    val fromFiles = Curation
      .datasheetFromPartials(spark, Seq(s"$tmp/a", s"$tmp/b", s"$tmp/c"))
      .collect().map(_.toSeq).toSeq
    assert(fromFiles === full,
      "serving from persisted partial shards must equal the from-scratch datasheet")
    // and equals the in-session merge over a DIFFERENT slicing — the
    // partials are slicing-invariant additive masses
    val inSession = Curation.incrementalDatasheet(
      docs.filter($"doc_id" % 10 =!= 1), docs.filter($"doc_id" % 10 === 1))
      .collect().map(_.toSeq).toSeq
    assert(fromFiles === inSession)
  }

  test("filterAttrition: patterns partition the corpus; pass row == docs failing no rule") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val rows = Curation.filterAttrition(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.map(_._2).sum === docs.count(), "patterns must partition the corpus")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "doc shares must sum to ~1")
    // every pattern is a canonical-order subset of the rule names
    val order = Seq("short", "lowq", "rep", "lang")
    rows.map(_._1).filterNot(_ == "pass").foreach { p =>
      val parts = p.split(",").toSeq
      assert(parts.nonEmpty && parts == order.filter(parts.contains),
        s"non-canonical pattern: $p")
    }
    // cross-check each rule against the COMPOSITIONAL reference path
    // (wordGrams + array ops) instead of the native word_ngram_stats
    val gs = Curation.wordGrams($"text", 2)
    val ref = docs.select(
        (size(split($"text", " ")) < 25).as("short"),
        (TextAnalysis.qualityCol($"text") < 0.5).as("lowq"),
        ((size(gs) - size(array_distinct(gs))).cast("double") / size(gs) > 0.06).as("rep"),
        ($"lang" =!= "en").as("lang"))
      .collect()
      .map(r => Seq("short" -> r.getBoolean(0), "lowq" -> r.getBoolean(1),
        "rep" -> r.getBoolean(2), "lang" -> r.getBoolean(3)))
    val expected = ref
      .map(flags => flags.collect { case (n, true) => n } match {
        case Nil => "pass"
        case fs  => fs.mkString(",")
      })
      .groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
    assert(rows.map(r => (r._1, r._2)).toMap === expected)
    // a 1-word document must land under 'short' without tripping the
    // ANSI 0/0 on the rep rule (word_ngram_stats yields n_grams = 0)
    val withTiny = docs.select($"text", $"lang")
      .unionAll(Seq(("word", "en")).toDF("text", "lang"))
    val tiny = Curation.filterAttrition(withTiny).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val base = rows.map(r => (r._1, r._2)).toMap
    assert(tiny.getOrElse("short,lowq", 0L) + tiny.getOrElse("short", 0L) ===
      base.getOrElse("short,lowq", 0L) + base.getOrElse("short", 0L) + 1L,
      "the 1-word doc must join a short-only pattern")
    // plan shape: the rule scan prunes to exactly the two consumed
    // columns (text, lang) — no rule drags doc_id/source/n_chars along
    val scans = Curation.filterAttrition(docs)
      .queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { line =>
      val schema = line.substring(line.indexOf("ReadSchema"))
      assert(schema.contains("text") && schema.contains("lang") &&
        schema.count(_ == ',') == 1,
        s"filterAttrition must scan exactly (lang, text): $line")
    }
  }

  test("sourceQuantileCalibration: global deciles == percentile; per-source panel is monotone") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val rows = Curation.sourceQuantileCalibration(docs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val nSources = docs.select($"source").distinct().count()
    assert(rows.length === nSources * 9, "9 deciles per source")
    // the global panel equals the sort-based percentile, rounded at 4
    val scored = docs.select(TextAnalysis.qualityCol($"text").as("quality"))
    val globals = rows.map(r => (r._2, r._4)).distinct.toMap
    (1 to 9).foreach { d =>
      val exp = scored.agg(expr(s"percentile(quality, ${d / 10.0})"))
        .collect()(0).getDouble(0)
      val exp6 = java.math.BigDecimal.valueOf(exp)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(globals(d) === exp6, s"global decile $d")
    }
    // per source: deciles never decrease, and gap is the rounded difference
    rows.groupBy(_._1).foreach { case (src, panel) =>
      val byD = panel.sortBy(_._2)
      assert(byD.map(_._3).sliding(2).forall(p => p.head <= p.last),
        s"$src: source deciles must be monotone")
      byD.foreach { case (_, _, sq, gq, gap) =>
        val exp = java.math.BigDecimal.valueOf(sq - gq)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        assert(gap === exp, s"$src gap")
      }
    }
  }

  test("conformalQuality: the guarantee holds per alpha; thresholds and sets are monotone (q240)") {
    val got = Curation.conformalQuality(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(0.05, 0.1, 0.2))
    // the split-conformal guarantee is MARGINAL (in expectation over
    // calibration draws); one fixed split fluctuates by O(1/sqrt(n)),
    // so assert the guarantee up to a two-sigma finite-sample band
    got.foreach { case (a, nc, _, cov, sz) =>
      assert(nc > 0)
      val slack = 2.0 / math.sqrt(nc.toDouble)
      assert(cov >= 1 - a - slack,
        s"alpha=$a coverage $cov below guarantee band (n_calib=$nc)")
      assert(sz >= cov && sz <= 2.0, s"alpha=$a set size $sz out of range")
    }
    // tightening confidence (smaller alpha) can only RAISE the threshold,
    // coverage, and set size — the conformal tradeoff in one assert each
    val byA = got.sortBy(_._1)
    assert(byA.map(_._3) === byA.map(_._3).sorted.reverse, "qhat monotone")
    assert(byA.map(_._4) === byA.map(_._4).sorted.reverse, "coverage monotone")
    assert(byA.map(_._5) === byA.map(_._5).sorted.reverse, "set size monotone")
    // the sets must carry information at some confidence level: below
    // size 2 means the classifier's evidence actually excludes labels
    assert(got.exists(_._5 < 2.0), "all-labels sets everywhere = vacuous")
  }

  test("mondrianConformal: the guarantee holds WITHIN each class (q241)") {
    val got = Curation.mondrianConformal(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.map(g => (g._1, g._2)).sorted ===
      Seq((0.1, 0L), (0.1, 1L), (0.2, 0L), (0.2, 1L)))
    got.foreach { case (a, y, nc, _, cov) =>
      assert(nc > 0)
      val slack = 2.0 / math.sqrt(nc.toDouble)
      assert(cov >= 1 - a - slack,
        s"alpha=$a class=$y coverage $cov below guarantee band (n=$nc)")
    }
    // the reason Mondrian exists: under class imbalance the two classes
    // need DIFFERENT thresholds — a shared marginal q-hat would have to
    // split the difference
    val byAlpha = got.groupBy(_._1)
    byAlpha.values.foreach { rows =>
      val qs = rows.map(_._4)
      assert(qs.distinct.size === qs.size,
        "per-class thresholds must differ on an imbalanced fixture")
    }
    // per-class q-hat tightens (drops) as alpha rises, like q240's
    Seq(0L, 1L).foreach { y =>
      val q01 = got.find(g => g._1 == 0.1 && g._2 == y).get._4
      val q02 = got.find(g => g._1 == 0.2 && g._2 == y).get._4
      assert(q02 <= q01, s"class $y threshold must tighten with alpha")
    }
  }

  test("hbosOutliers equals the brute-force histogram scoring; a planted extreme doc ranks first (q258)") {
    val rows = docs.select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2).split(" ", -1).length.toLong))
    val n = rows.length.toLong
    val (x0, x1) = (rows.map(_._2).min, rows.map(_._2).max)
    val (y0, y1) = (rows.map(_._3).min, rows.map(_._3).max)
    def bin(v: Long, lo: Long, hi: Long): Long = (v - lo) * 16 / (hi - lo + 1)
    val binned = rows.map { case (id, x, y) =>
      (id, x, y, bin(x, x0, x1), bin(y, y0, y1))
    }
    val dx = binned.groupBy(_._4).view.mapValues(_.length.toLong).toMap
    val dy = binned.groupBy(_._5).view.mapValues(_.length.toLong).toMap
    def roundN(v: Double, k: Int): Double =
      BigDecimal(v).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = binned.map { case (id, x, y, bx, by) =>
      (id, x, y, bx, by,
        roundN(-math.log(dx(bx).toDouble / n) - math.log(dy(by).toDouble / n), 6))
    }.sortBy(e => (-e._6, e._1)).take(20)
    val got = Curation.hbosOutliers(docs).collect()
      .map(g => (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3),
        g.getLong(4), g.getDouble(5)))
    assert(got.toSeq == exp.toSeq)
    // every bin index the operator emitted is in [0, 15] (the exact
    // integer binning can't step outside the histogram)
    assert(got.forall(g => g._4 >= 0 && g._4 <= 15 && g._5 >= 0 && g._5 <= 15))
    // planted: one doc 100x longer than a tight cluster owns a thin bin
    // on BOTH features and must take rank 1
    import spark.implicits._
    val synth = ((1 to 200).map { i =>
      (i.toLong, Seq.fill(10 + i % 3)("w").mkString(" "), 100L + i % 10)
    } :+ ((999L, Seq.fill(900)("w").mkString(" "), 10000L)))
      .toDF("doc_id", "text", "n_chars")
    val top = Curation.hbosOutliers(synth).collect()(0)
    assert(top.getLong(0) == 999L)
  }

  test("isotonicCalibration: equals the stack PAV bit-for-bit; monotone; pooled mass preserved (q263)") {
    val cal = Curation.classifierCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // classic pool-adjacent-violators with a block stack; every pooled
    // mean is ONE integer/integer division, the same two integers the
    // operator's minimax divides — equality is exact, not approximate
    case class Block(n: Long, p: Long) { def m: Double = p.toDouble / n }
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Block, Int)]
    cal.foreach { case (_, n, p) =>
      var b = Block(n, p); var w = 1
      while (stack.nonEmpty && stack.last._1.m >= b.m) {
        val (top, tw) = stack.remove(stack.length - 1)
        b = Block(top.n + b.n, top.p + b.p); w += tw
      }
      stack.append((b, w))
    }
    val pav = stack.flatMap { case (b, w) => Seq.fill(w)(b.m) }.toSeq
    val got = Curation.isotonicCalibration(docs).collect()
    assert(got.length == cal.length)
    got.zip(cal).zip(pav).foreach { case ((g, (mb, n, p)), fit) =>
      assert(g.getLong(0) == mb && g.getLong(1) == n && g.getLong(2) == p)
      assert(g.getDouble(3) == BigDecimal(p.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(g.getDouble(4) == BigDecimal(fit)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the fitted curve is monotone non-decreasing in the margin bucket
    val fits = got.map(_.getDouble(4)).toSeq
    assert(fits.zip(fits.tail).forall { case (a, b) => a <= b })
    // PAV preserves the weighted mass: sum n_i * fit_i == sum n_pos
    val mass = got.map(g => g.getLong(1) * g.getDouble(4)).sum
    assert(math.abs(mass - cal.map(_._3).sum) < 1e-3)
    // and the fit genuinely repaired something: the raw curve on this
    // fixture is NOT monotone (otherwise the test proves nothing)
    val raws = got.map(_.getDouble(3)).toSeq
    assert(raws.zip(raws.tail).exists { case (a, b) => a > b },
      "fixture reliability curve should contain a violation")
  }

  test("aucDelong: AUC equals q189 and the brute-force placement variance; band brackets (q266)") {
    val scored = Curation.classifierAuc(docs).collect()(0)
    val g = Curation.aucDelong(docs).collect()(0)
    // same AUC as the registered q189 operator (shared integer frame)
    assert(g.getDouble(2) == scored.getDouble(0))
    assert(g.getLong(0) == scored.getLong(1) && g.getLong(1) == scored.getLong(2))
    // brute force straight from the definition on the per-doc margins
    val byScore = Curation.docMargins(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val pos = byScore.filter(_._2 == 1L).map(_._1.toDouble)
    val neg = byScore.filter(_._2 == 0L).map(_._1.toDouble)
    val m = pos.length; val n = neg.length
    val v10 = pos.map(z => (neg.count(_ < z) + 0.5 * neg.count(_ == z)) / n)
    val v01 = neg.map(z => (pos.count(_ > z) + 0.5 * pos.count(_ == z)) / m)
    val auc = v10.sum / m
    def svar(xs: Seq[Double]): Double = {
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
    }
    val se = math.sqrt(svar(v10) / m + svar(v01) / n)
    assert(math.abs(g.getDouble(2) - auc) < 1e-6)
    assert(math.abs(g.getDouble(3) - se) < 1e-6)
    assert(g.getDouble(4) <= g.getDouble(2) && g.getDouble(2) <= g.getDouble(5))
  }

  test("q144, q160, q189, q266, q240 and q241 read one scorer: equal label totals and n_calib") {
    val cm = Curation.qualityClassifierEval(docs).collect()
    def labelTotal(y: Long): Long =
      cm.filter(_.getAs[Long]("y") == y).map(_.getAs[Long]("n_docs")).sum
    val (nPos, nNeg) = (labelTotal(1L), labelTotal(0L))
    assert(nPos > 0L && nNeg > 0L, "the fixture holds both labels")
    val auc = Curation.classifierAuc(docs).collect()(0)
    assert((auc.getAs[Long]("n_pos"), auc.getAs[Long]("n_neg")) === ((nPos, nNeg)))
    val delong = Curation.aucDelong(docs).collect()(0)
    assert((delong.getAs[Long]("n_pos"), delong.getAs[Long]("n_neg")) === ((nPos, nNeg)))
    val cal = Curation.classifierCalibration(docs).collect()
    assert((cal.map(_.getAs[Long]("n_docs")).sum, cal.map(_.getAs[Long]("n_pos")).sum) ===
      ((nPos + nNeg, nPos)))
    // q240's marginal calibration slice is the union of q241's per-label ones
    val nCal = Curation.conformalQuality(docs).collect()
      .filter(_.getAs[Double]("alpha") == 0.1).map(_.getAs[Long]("n_calib"))
    val nCalByLabel = Curation.mondrianConformal(docs).collect()
      .filter(_.getAs[Double]("alpha") == 0.1).map(_.getAs[Long]("n_calib"))
    assert(nCalByLabel.length === 2)
    assert(nCal.toSeq === Seq(nCalByLabel.sum))
  }

  test("brierDecomposition: Murphy identity and brute force over the isofit frame (q268)") {
    val iso = Curation.isotonicCalibration(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(4)))
    val nt = iso.map(_._1).sum; val pt = iso.map(_._2).sum
    val yb = pt.toDouble / nt
    val rel6 = iso.map { case (nd, np, p) =>
      val yi = np.toDouble / nd
      math.round(nd * ((p - yi) * (p - yi)) * 1000000.0)
    }.sum
    val res6 = iso.map { case (nd, np, _) =>
      val yi = np.toDouble / nd
      math.round(nd * ((yi - yb) * (yi - yb)) * 1000000.0)
    }.sum
    def roundN(v: Double, k: Int): Double =
      BigDecimal(v).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rel = rel6.toDouble / 1000000.0 / nt
    val res = res6.toDouble / 1000000.0 / nt
    val unc = yb * (1.0 - yb)
    val g = Curation.brierDecomposition(docs).collect()(0)
    assert(g.getLong(0) == nt)
    assert(g.getDouble(1) == roundN(yb, 6) && g.getDouble(2) == roundN(unc, 6))
    assert(g.getDouble(3) == roundN(rel, 6) && g.getDouble(4) == roundN(res, 6))
    assert(g.getDouble(5) == roundN(rel - res + unc, 6))
    assert(g.getDouble(6) == roundN(1.0 - (rel - res + unc) / unc, 6))
    // the published identity: brier = rel - res + unc (to rounding)
    assert(math.abs(g.getDouble(5) - (g.getDouble(3) - g.getDouble(4) + g.getDouble(2))) < 3e-6)
  }
}
