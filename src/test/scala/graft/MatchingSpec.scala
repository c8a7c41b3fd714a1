package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Events, Governance, Matching, Sampling,
  SessionArtifacts}
import graft.sources.Tables

/** Round-4 matching/release additions: fuzzy ER join, sparse lexical
  * similarity, RRF fusion, weighted sampling, DP release, profile drift,
  * and the session transition matrix — each checked against a brute-force
  * in-JVM recomputation of the stated semantics (same JVM => same libm /
  * BigDecimal rounding, so equality is exact).
  */
class MatchingSpec extends GraftSuite {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val parts = Tables.part(spark, sf)

  private def roundN(x: Double, n: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(n, java.math.RoundingMode.HALF_UP).doubleValue()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Exact 13-hex-digit md5 fraction — the engine-shared uniform. */
  private def md5Uniform(s: String): Double =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 13), 16).toDouble / math.pow(16.0, 13)

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzyNameMatch equals brute-force token-blocked Levenshtein over the catalog") {
    val catalog = parts.groupBy(col("p_name")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val names = catalog.keys.toSeq.sorted
    val expected = (for {
      a <- names; b <- names if a < b
      if a.split(" ").toSet.intersect(b.split(" ").toSet).nonEmpty
      d = lev(a, b) if d <= 3
    } yield (a, b, d, catalog(a), catalog(b))).sortBy(t => (t._1, t._2))
    val got = Matching.fuzzyNameMatch(parts).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture catalog should contain near-identical names")
    // the blocking is part of the contract: a within-distance pair sharing
    // no token must be absent even though its edit distance qualifies
    val unblocked = (for {
      a <- names; b <- names if a < b
      if a.split(" ").toSet.intersect(b.split(" ").toSet).isEmpty && lev(a, b) <= 3
    } yield (a, b)).toSet
    assert(unblocked.forall(p => !got.exists(g => (g._1, g._2) == p)))
  }

  test("tfidfCosinePairs equals brute-force rare-term-blocked micro-quantized cosine") {
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val tf = fixture.flatMap { case (id, text) =>
      text.split(" ", -1).toSeq.groupBy(identity).map { case (t, g) => ((id, t), g.size.toLong) }
    }.toMap
    val df = tf.keys.groupBy(_._2).map { case (t, ks) => (t, ks.size.toLong) }
    val nDocs = fixture.size.toLong
    val topw: Map[Long, Seq[(String, Double, Long)]] = tf.keys.groupBy(_._1).map {
      case (id, ks) =>
        val ws = ks.toSeq.map { case (_, t) =>
          (t, roundN(tf((id, t)) * math.log(nDocs.toDouble / df(t)), 4), df(t))
        }
        (id, ws.sortBy { case (t, w, _) => (-w, t) }.take(8))
    }
    val dfCap = nDocs * 64 / 1000 // relative rare-term cap, integer floor
    val cand = (for {
      (ida, wsa) <- topw.toSeq; (idb, wsb) <- topw.toSeq if ida < idb
      if wsa.exists { case (t, _, d) => d <= dfCap && wsb.exists(_._1 == t) }
    } yield (ida, idb)).distinct
    def nsq(ws: Seq[(String, Double, Long)]): Long =
      ws.map { case (_, w, _) => roundN(w * w * 1e6, 0).toLong }.sum
    val expected = cand.flatMap { case (ida, idb) =>
      val wb = topw(idb).map(w => (w._1, w._2)).toMap
      val dot = topw(ida).flatMap { case (t, wa, _) =>
        wb.get(t).map(w2 => roundN(wa * w2 * 1e6, 0).toLong)
      }.sum
      val cos = roundN((dot / 1e6) /
        (math.sqrt(nsq(topw(ida)) / 1e6) * math.sqrt(nsq(topw(idb)) / 1e6)), 4)
      if (cos >= 0.7) Some((ida, idb, cos)) else None
    }.sortBy(t => (t._1, t._2))
    val got = Matching.tfidfCosinePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain lexically-near pairs (planted near-dups)")
  }

  test("matching plans: candidates come from equi-joins, never a cartesian") {
    // fuzzy match: token-blocked self-join + levenshtein verify
    val fm = Matching.fuzzyNameMatch(parts).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!fm.contains("CartesianProduct"), s"cartesian in fuzzy match:\n$fm")
    assert(!fm.contains("BroadcastNestedLoopJoin"), s"BNLJ in fuzzy match:\n$fm")
    // tfidf pairs: the only nested-loop is the 1-row scalar broadcast of
    // n_docs (the documented scalar-broadcast pattern); candidate
    // generation itself is an equi-join on the term
    val tp = Matching.tfidfCosinePairs(docs).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!tp.contains("CartesianProduct"), s"cartesian in tfidf pairs:\n$tp")
    assert(tp.contains("Join") , s"expected equi-joins in:\n$tp")
  }

  test("hybridRrf fuses the two top-20 lists by exact reciprocal-rank micro-units") {
    val lex = graft.operators.TextAnalysis.bm25TopDocs(docs, topk = 20).collect()
      .map(r => r.getLong(0)).toSeq.zipWithIndex.map { case (id, i) => (id, i + 1) }
    val emb = Tables.embeddings(spark, sf)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    val qv = vecs(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vec = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, roundN(cos(qv, v), 6)) }
      .sortBy { case (id, c) => (-c, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    val fused = (lex.map(_._1) ++ vec.map(_._1)).distinct.map { id =>
      val rl = lex.find(_._1 == id).map(_._2)
      val rv = vec.find(_._1 == id).map(_._2)
      val score = rl.map(r => roundN(1e6 / (r + 60), 0).toLong).getOrElse(0L) +
        rv.map(r => roundN(1e6 / (r + 60), 0).toLong).getOrElse(0L)
      (id, rl, rv, score)
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(10)
    val got = Matching.hybridRrf(docs, emb).collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getLong(3))
    }.toSeq
    assert(got === fused)
    assert(got.size == 10)
    // both retrieval modes contribute to the fused head
    assert(got.exists(_._2.isDefined) && got.exists(_._3.isDefined))
  }

  test("weightedSample is the exact bottom-k of A-ES keys and merges associatively") {
    val rows = docs.select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val keyed = rows.map { case (id, lang, nc) =>
      (id, lang, nc, -math.log(md5Uniform(id.toString)) / nc)
    }
    val expected = keyed.sortBy { case (id, _, _, k) => (k, id) }.take(50)
      .map { case (id, lang, nc, k) => (id, lang, nc, roundN(k * 1e6, 4)) }
      .sortBy { case (id, _, _, km) => (km, id) }
    val got = Sampling.weightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    // mergeability: bottom-50 of the union of two halves' bottom-50s
    val (h1, h2) = keyed.partition(_._1 % 2 == 0)
    def bot(s: Seq[(Long, String, Long, Double)]) =
      s.sortBy { case (id, _, _, k) => (k, id) }.take(50)
    assert(bot(bot(h1) ++ bot(h2)) === keyed.sortBy { case (id, _, _, k) => (k, id) }.take(50))
  }

  test("dpLangHistogram: replayable noise, correct magnitude, exact formula") {
    val langs = docs.select(col("lang")).distinct().collect().map(_.getString(0)).toSeq.sorted
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expected = langs.map { lang =>
      val u = md5Uniform(s"dp:r1:$lang")
      val noise = -1.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      (lang, counts(lang), roundN(counts(lang) + noise, 4))
    }
    val got = Curation.dpLangHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
    // replayable: same tag reproduces; a different release tag re-draws
    val again = Curation.dpLangHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again === got)
    val other = Curation.dpLangHistogram(docs, releaseTag = "r2").collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(langs.exists(l => other(l) != got.find(_._1 == l).get._3))
    // Laplace(1) noise stays within ~log(16^13) of zero (u is a 13-hex grid)
    got.foreach { case (lang, n, noisy) =>
      assert(math.abs(noisy - n) < 40.0, s"$lang noise implausible: $noisy vs $n")
    }
    // KEYED release (the registered q125 form): noise keyed by
    // md5('dp:' || key || ':' || tag || ':' || lang) — replayable with
    // the key, and a different draw from the public secretless default
    val keyed = Curation.dpLangHistogram(docs, secretKey = "graft-fixture-key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val expectedKeyed = langs.map { lang =>
      val u = md5Uniform(s"dp:graft-fixture-key:r1:$lang")
      val noise = -1.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      (lang, counts(lang), roundN(counts(lang) + noise, 4))
    }
    assert(keyed === expectedKeyed)
    assert(langs.exists(l =>
      keyed.find(_._1 == l).get._3 != got.find(_._1 == l).get._3))
  }

  test("profileDrift surfaces planted null/new-value/range drift") {
    import spark.implicits._
    val v1 = Seq((1L, "t", "en", "web", 10L), (2L, "t", "de", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val v2 = Seq((1L, "t", "en", "web", 10L), (2L, "t", null, "books", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curation.profileDrift(v1, v2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7), r.getString(8), r.getString(9), r.getString(10)))
      .toSeq
    assert(got.map(_._1) === Seq("lang", "n_chars", "source"))
    val lang = got(0); val nchars = got(1); val source = got(2)
    assert(lang._4 == 0L && lang._5 == 1L, "null appeared in lang")
    assert(lang._6 == 2L && lang._7 == 1L, "lang cardinality shrank")
    assert(source._9 == "books" && source._8 == "web", "new source value surfaced in min")
    assert(nchars._10 == "000000000020" && nchars._11 == "000000000025", "range widened")
  }

  test("slidingDistinctUsers: exact below sketch fill, KMV estimate above, merge law") {
    val du = Tables.events(spark, sf)
      .select(expr("ts div 86400000000000").as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val days = du.map(_._1).distinct.sorted
    def brute(k: Int): Seq[(Long, Long, Double, Long)] = days.map { wend =>
      val inWin = du.filter { case (d, _) => d >= wend - 6 && d <= wend }
      val nDays = days.count(d => d >= wend - 6 && d <= wend).toLong
      val exact = inWin.map(_._2).distinct.size.toLong
      // merged bottom-k of the per-day bottom-k sketches
      val daily = inWin.groupBy(_._1).values.flatMap(
        _.map(u => md5Hex(u._2.toString)).distinct.sorted.take(k))
      val sk = daily.toSeq.distinct.sorted.take(k)
      val est =
        if (sk.size < k) sk.size.toDouble
        else {
          val frac = (1 to 13).map(i =>
            Character.digit(sk.last.charAt(i - 1), 16) * math.pow(16.0, -i)).sum
          (k - 1).toDouble / frac
        }
      (wend, nDays, roundN(est, 4), exact)
    }
    // k=64 at sf0.001: every window is below fill -> exact branch everywhere
    val got64 = Events.slidingDistinctUsers(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got64 === brute(64))
    assert(got64.forall { case (_, _, est, exact) => est == exact.toDouble })
    // k=8 forces the estimator branch; estimate within 3x of truth (loose,
    // k=8 is a deliberately tiny sketch) and both branches brute-match
    val got8 = Events.slidingDistinctUsers(Tables.events(spark, sf), k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got8 === brute(8))
    assert(got8.exists { case (_, _, est, exact) => est != exact.toDouble })
    got8.foreach { case (_, _, est, exact) =>
      assert(est > exact / 3.0 && est < exact * 3.0) }
  }

  test("rakingWeights: raked margins converge to the corpus; sample skew is removed (q238)") {
    val got = Sampling.rakingWeights(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val tgtL = docs.groupBy(col("lang")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val tgtS = docs.groupBy(col("source")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // the final half-round scales sources, so source margins match to
    // rounding; lang margins carry the last perturbation but must be
    // within 1% after 3 rounds (IPF convergence)
    val gotS = got.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    gotS.foreach { case (s, w) =>
      assert(math.abs(w - tgtS(s)) <= 0.01, s"source margin $s: $w vs ${tgtS(s)}") }
    val gotL = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    gotL.foreach { case (l, w) =>
      assert(math.abs(w - tgtL(l)) / tgtL(l) <= 0.01, s"lang margin $l: $w vs ${tgtL(l)}") }
    // raking must actually DO something: the naive inverse-rate blowup
    // (4x each cell) does not reproduce the margins this closely
    val naive = got.groupBy(_._1).view.mapValues(_.map(_._3 * 4.0).sum).toMap
    assert(naive.exists { case (l, w) =>
      math.abs(w - tgtL(l)) / tgtL(l) > math.abs(gotL(l) - tgtL(l)) / tgtL(l) },
      "raked margins should beat the naive constant-rate expansion somewhere")
  }

  test("negativeSamples: brute-force CDF resolution; smoothing lifts the tail (q234)") {
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = texts.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .map { case (t, g) => (t, g.length.toLong) }
    val cdf = counts.toSeq.sortBy(_._1).foldLeft(Vector.empty[(String, Long, Long)]) {
      case (acc, (t, n)) =>
        val lo = acc.lastOption.map(_._3).getOrElse(0L)
        acc :+ ((t, lo, lo + math.round(math.pow(n.toDouble, 0.75) * 1e6)))
    }
    val tw = cdf.last._3
    def md5hex(v: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = texts.map(_._1).sorted.flatMap { id =>
      (1L to 4L).map { slot =>
        val u = java.lang.Long.parseLong(md5hex(s"$id:$slot").substring(0, 13), 16) /
          math.pow(16.0, 13)
        val r = math.floor(u * tw).toLong
        // binary-search the span containing r
        val tok = cdf.find(c => r >= c._2 && r < c._3).get._1
        (id, slot, tok)
      }
    }.toSeq
    val got = Sampling.negativeSamples(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // exactly one token resolves per draw (bucket spans tile the CDF)
    assert(got.map(g => (g._1, g._2)).distinct.size === got.size)
    // the 3/4 smoothing must actually lift the tail: rare tokens' share
    // of draws exceeds their share of raw corpus mass
    val total = counts.values.sum.toDouble
    val median = counts.values.toSeq.sorted.apply(counts.size / 2)
    val rare = counts.filter(_._2 < median).keySet
    assert(rare.nonEmpty, "fixture vocab must have a below-median tail")
    val rawShare = counts.filter(c => rare(c._1)).values.sum / total
    val drawShare = got.count(g => rare(g._3)).toDouble / got.size
    assert(drawShare > rawShare, s"smoothed draw share $drawShare <= raw $rawShare")
    // the distributed two-stage CDF is BIT-IDENTICAL to the sequential
    // fold at every partition count (parts=1 degenerates to the former
    // single-window cumsum; 7 exercises uneven range boundaries)
    val seqCdf = cdf.map(c => (c._1, c._2, c._3)).toSet
    for (p <- Seq(1, 7, 32)) {
      val distCdf = Sampling.vocabCdf(docs, p).collect()
        .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSet
      assert(distCdf === seqCdf, s"CDF diverges from the fold at parts=$p")
    }
    // and the plan never funnels the vocabulary through one task: the
    // only empty-partition window runs over the <= parts-row pid
    // subtotal aggregate, never over the token frame
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Sampling.vocabCdf(docs, 5).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val wins = plan.collect { case w: WindowExec => w }
    val (unpart, part) = wins.partition(_.partitionSpec.isEmpty)
    assert(part.nonEmpty, "the within-pid cumsum window must be partitioned")
    assert(unpart.nonEmpty, "expected the parts-row base window")
    unpart.foreach { w =>
      val aggBelow = w.child.collect {
        case a: BaseAggregateExec
          if a.groupingExpressions.exists(_.references.exists(_.name == "pid")) => a
      }
      assert(aggBelow.nonEmpty,
        "an unpartitioned window must sit over the bounded pid aggregate, " +
          s"not the vocab frame:\n${w.child.treeString}")
    }
  }

  /** In-JVM replica of the q233/q239 pipeline: blocked keyed comparison
    * vectors and the 3-round micro-unit EM fit.
    */
  private def fsInJvm(): (Vector[(Long, Long, Vector[Long])], Array[Long], Array[Long]) = {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getAs[Number](4).longValue(), r.getDouble(5)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val byBlock = parts.toVector.groupBy(p => (p._3, p._5))
    val keyed: Vector[(Long, Long, Vector[Long])] = byBlock.values.toVector.flatMap { g =>
      for {
        a <- g; b <- g if a._1 < b._1
      } yield (a._1, b._1, Vector(
        if (a._4 == b._4) 1L else 0L,
        if (math.floor(a._6 / 100) == math.floor(b._6 / 100)) 1L else 0L,
        if (a._2.split(" ").distinct.toSet
          .intersect(b._2.split(" ").distinct.toSet).size >= 2) 1L else 0L,
        if (lev(a._2, b._2) <= 10) 1L else 0L))
    }
    val gammas = keyed.map(_._3)
    var p6 = 100000L
    val m6 = Array.fill(4)(900000L); val u6 = Array.fill(4)(100000L)
    def clamp(v: Long) = math.min(math.max(v, 1L), 999999L)
    for (_ <- 1 to 3) {
      val pp = p6 / 1e6; val ppc = 1 - p6 / 1e6
      val gms: Vector[Long] = gammas.map { gamma =>
        def prod(ps: Array[Long]): Double = (0 until 4).map { k =>
          if (gamma(k) == 1L) ps(k) / 1e6 else 1 - ps(k) / 1e6
        }.reduce(_ * _)
        val num = pp * prod(m6)
        math.round(1e6 * (num / (num + ppc * prod(u6))))
      }
      val sg = gms.sum; val n = gms.length.toLong
      val sug = gms.map(1000000L - _).sum
      for (k <- 0 until 4) {
        val smk = gammas.zip(gms).collect { case (g, gm) if g(k) == 1L => gm }.sum
        val suk = gammas.zip(gms).collect { case (g, gm) if g(k) == 1L => 1000000L - gm }.sum
        m6(k) = clamp((1000000L * smk + sg / 2) / sg)
        u6(k) = clamp((1000000L * suk + sug / 2) / sug)
      }
      p6 = clamp((sg + n / 2) / n)
    }
    (keyed, m6, u6)
  }

  test("fsLinkageWeights: in-JVM EM replica; discriminative fields earn positive weight") {
    val (_, m6, u6) = fsInJvm()
    val got = graft.operators.Matching.fsLinkageWeights(Tables.part(spark, sf))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val expOrder = Seq(("name_lev10", 3), ("name_tok2", 2), ("price_band_eq", 1), ("type_eq", 0))
    got.zip(expOrder).foreach { case ((f, m, u, _, _), (ef, k)) =>
      assert(f === ef)
      assert(m === round6(m6(k) / 1e6), s"m for $f")
      assert(u === round6(u6(k) / 1e6), s"u for $f")
    }
    // EM without labels must still discover discriminative structure:
    // type equality separates matches from chance far better than the
    // near-universal lev10 field
    val wa = got.map(g => g._1 -> g._4).toMap
    assert(wa("type_eq") > 1.0, "type agreement must carry real evidence")
    assert(wa("type_eq") > wa("name_lev10"))
  }

  test("fsLinkageMatches: brute-force scoring of every blocked pair (q239)") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val (keyed, m6, u6) = fsInJvm()
    val expected = keyed.map { case (ka, kb, g) =>
      val score = (0 until 4).map { k =>
        if (g(k) == 1L) log2(m6(k).toDouble / u6(k))
        else log2((1000000L - m6(k)).toDouble / (1000000L - u6(k)))
      }.reduce(_ + _)
      (ka, kb, round4(score))
    }.filter(_._3 >= 4.0).sortBy(t => (t._1, t._2))
    val got = graft.operators.Matching.fsLinkageMatches(Tables.part(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    assert(got.size < keyed.size, "the threshold must actually reject pairs")
    // monotone in the evidence threshold: a higher bar only removes pairs
    val strict = graft.operators.Matching.fsLinkageMatches(
      Tables.part(spark, sf), minBits = 6.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.subsetOf(got.map(t => (t._1, t._2)).toSet))
  }

  test("distinctUsersFromSketchFiles: shard slicing is free; exact below fill (q228)") {
    import org.apache.spark.sql.functions.expr
    val ev = Tables.events(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q228_spec").toString
    def serve(slices: Seq[(String, String)], k: Int = 64) = {
      slices.foreach { case (pred, name) =>
        Events.writeDailySketches(ev.filter(expr(pred)), s"$tmp/$name", k) }
      Events.distinctUsersFromSketchFiles(spark, slices.map(s => s"$tmp/${s._2}"), k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val day = "(ts div 86400000000000)"
    val one = serve(Seq(("true", "all")))
    val two = serve(Seq((s"$day % 2 = 0", "e2"), (s"$day % 2 = 1", "o2")))
    val three = serve(Seq((s"$day % 3 = 0", "a3"), (s"$day % 3 = 1", "b3"),
      (s"$day % 3 = 2", "c3")))
    assert(two === one && three === one,
      "any day-disjoint shard slicing must serve the identical rollup")
    // a sketch big enough to never fill degrades to the exact count
    val exact = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val big = serve(Seq((s"$day % 2 = 0", "be"), (s"$day % 2 = 1", "bo")),
      k = 1000000)
    assert(big.map { case (t, _, est) => (t, est.toLong) }.toMap === exact,
      "below fill the merged sketch must BE the exact distinct count")
  }

  test("aboveAvgSpenders equals brute force; EXISTS decorrelates to a semi join") {
    import graft.operators.Extended
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_EVEN)))
    val n = orders.length
    val total = orders.map(_._2).sum
    val spenders = orders.filter { case (_, p) => p * n > total }.map(_._1).toSet
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = cust.filter(c => spenders.contains(c._1)).sortBy(_._1).toSeq
    val result = Extended.aboveAvgSpenders(spark,
      Tables.customer(spark, sf), Tables.orders(spark, sf))
    val got = result.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.size < cust.length)
    // Catalyst decorrelates: a semi join appears, no per-row subquery
    val plan = result.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("LeftSemi") || plan.contains("left_semi"),
      s"expected decorrelated semi join in:\n$plan")
  }

  test("topSessionPaths equals brute-force in-session trigram counts") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val gap = 1800L * 1000000000L
    val tris = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val s = es.sortBy(e => (e._3, e._2))
      s.lazyZip(s.drop(1)).lazyZip(s.drop(2)).toSeq.collect {
        case (a, b, c) if b._3 - a._3 <= gap && c._3 - b._3 <= gap =>
          (a._4, b._4, c._4)
      }
    }
    val expected = tris.groupBy(identity).toSeq
      .map { case (t, g) => (t._1, t._2, t._3, g.size.toLong) }
      .sortBy { case (a, b, c, cnt) => (-cnt, a, b, c) }.take(10)
    val got = graft.operators.Events.topSessionPaths(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("methodAgreement partitions the union of the q27/q28 pair sets") {
    import graft.operators.Dedup
    val mh = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Seq(
      "both" -> (mh & sh).size.toLong,
      "minhash_only" -> (mh -- sh).size.toLong,
      "simhash_only" -> (sh -- mh).size.toLong,
    ).filter(_._2 > 0).sortBy(_._1)
    val got = Dedup.methodAgreement(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum == (mh | sh).size.toLong)
    // non-vacuous on the fixture: the methods agree on a core AND disagree
    assert((mh & sh).nonEmpty && (mh != sh))
  }

  test("annNdcg grades the LSH ranking exactly; perfect list scores 1.0") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val truth = Similarity.cosineTopK(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    val approx = Similarity.lshCosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val idcg = Similarity.ndcgIdcgMicro(3, 5)
    val expected = approx.groupBy(_._1).toSeq.map { case (qid, rows) =>
      val dcg = rows.map { case (_, nid, rnk) =>
        val rel = truth.get((qid, nid)).map(6 - _).getOrElse(0)
        roundN(rel / (math.log(rnk + 1.0) / math.log(2.0)) * 1e6, 0).toLong
      }.sum
      (qid, dcg, roundN(dcg / idcg.toDouble, 4))
    }.sortBy(_._1)
    val got = Similarity.annNdcg(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.forall { case (_, _, n) => n >= 0.0 && n <= 1.0 })
    // a perfect approximate list (the exact top-3) scores exactly 1.0:
    // grades 5,4,3 at ranks 1,2,3 reproduce the idcg numerator
    val perfect = (1 to 3).map(i =>
      roundN((6 - i) / (math.log(i + 1.0) / math.log(2.0)) * 1e6, 0).toLong).sum
    assert(perfect == idcg)
  }

  test("scd2History equals brute-force change-point intervals; one shuffle only") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val changes = sorted.zipWithIndex.filter { case (e, i) =>
        i == 0 || sorted(i - 1)._4 != e._4
      }.map(_._1)
      changes.zipWithIndex.map { case (e, i) =>
        val to = if (i + 1 < changes.size) Some(changes(i + 1)._3 - 1) else None
        (uid, e._4, e._3, to, to.isEmpty)
      }
    }.sortBy(t => (t._1, t._3))
    val result = Events.scd2History(Tables.events(spark, sf))
    val got = result.collect().map { r =>
      (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))
    }.toSeq
    assert(got === expected)
    // intervals per user are disjoint, ordered, and end open
    got.groupBy(_._1).foreach { case (_, ivs) =>
      ivs.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.exists(_ < b._3))
        case _ =>
      }
      assert(ivs.last._5 && ivs.init.forall(!_._5))
    }
    // the two window passes share one (user_id) exchange; the final
    // canonical orderBy adds the range exchange, nothing else
    // (AdaptiveSparkPlan.toString prints the initial plan too — count
    // within the final plan section only)
    val plan = result.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected one hash exchange in:\n$plan")
  }

  test("weightedSampleByStratum is the exact per-language bottom-k of the q124 keys") {
    val rows = docs.select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val keyed = rows.map { case (id, lang, nc) =>
      (lang, id, nc, -math.log(md5Uniform(id.toString)) / nc)
    }
    val expected = keyed.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      g.sortBy { case (_, id, _, k) => (k, id) }.take(10)
    }.map { case (lang, id, nc, k) => (lang, id, nc, roundN(k * 1e6, 4)) }
      .sortBy { case (lang, id, _, km) => (lang, km, id) }
    val got = Sampling.weightedSampleByStratum(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    // keys are stratum-independent: the global q124 draw agrees on keys
    val globalKeys = Sampling.weightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    got.filter(g => globalKeys.contains(g._2)).foreach { g =>
      assert(globalKeys(g._2) == g._4)
    }
  }

  test("effectiveTokenMass reconciles with q97's span map and the raw token totals") {
    import graft.operators.Curation
    val spans = Curation.duplicatedSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap // doc_id -> dup_tokens
    val base = docs.select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong))
    val expected = base.groupBy(_._2).toSeq.map { case (src, rows) =>
      val total = rows.map(_._3).sum
      val dup = rows.map(r => spans.getOrElse(r._1, 0L)).sum
      (src, rows.size.toLong, total, dup, total - dup,
        roundN(dup.toDouble / total, 6))
    }.sortBy(_._1)
    val got = Curation.effectiveTokenMass(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got === expected)
    // conservation: effective + dup == total, per source and overall
    got.foreach { case (_, _, t, d, e, _) => assert(e + d == t) }
    assert(got.map(_._4).sum > 0L, "fixture has duplicated spans")
  }

  test("containmentSearch equals brute-force one-sided shingle containment") {
    import graft.operators.Dedup
    def shingles(t: String): Set[String] =
      (if (t.length < 5) Seq(t.take(5)) // matches shingleArray's clamp-at-1
       else (0 to t.length - 5).map(i => t.substring(i, i + 5))).toSet
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val q = shingles(fixture(0L))
    val expected = fixture.toSeq.filter(_._1 != 0L).flatMap { case (id, t) =>
      val shared = (shingles(t) & q).size.toLong
      val c = roundN(shared.toDouble / q.size, 6)
      if (c >= 0.5) Some((id, shared, q.size.toLong, c)) else None
    }.sortBy(_._1)
    val got = Dedup.containmentSearch(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "doc 0 should have containment partners on the fixture")
  }

  test("prfExpandedRetrieval equals composing the library's own stages; expansion widens terms") {
    import graft.operators.TextAnalysis
    val seed = TextAnalysis.Bm25SeedQuery
    val fbIds = TextAnalysis.bm25TopDocs(docs, topk = 3).collect().map(_.getLong(0)).toSet
    val fbTerms = TextAnalysis.tfidfTopTerms(docs, k = 2).collect()
      .filter(r => fbIds.contains(r.getLong(0))).map(_.getString(1)).toSet
    val expanded = (seed.toSet ++ fbTerms).toSeq
    // the expanded run must equal bm25TopDocs under the expanded term set
    val expected = TextAnalysis.bm25TopDocs(docs, query = expanded, topk = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = TextAnalysis.prfExpandedRetrieval(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    assert(expanded.size > seed.size, "feedback must contribute new terms")
    assert(got.nonEmpty)
  }

  test("dupGraphShape equals brute-force graph arithmetic; planted clique scores 1.0") {
    import graft.operators.Dedup
    def brute(edges: Set[(Long, Long)]): (Long, Long, Long, Long, Double) = {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, g) => (n, g.size.toLong) }
      val wedges = deg.values.map(d => d * (d - 1) / 2).sum
      val tris = (for {
        (a, b) <- edges; (b2, c) <- edges if b2 == b && edges.contains((a, c))
      } yield (a, b, c)).size.toLong
      val cc = if (wedges == 0) 0.0
        else roundN(3.0 * tris / wedges, 6)
      (deg.size.toLong, edges.size.toLong, wedges, tris, cc)
    }
    val edges = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.dupGraphShape(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).head
    assert(got === brute(edges))
    // planted 3-clique: three identical docs -> 3 edges, 3 wedges,
    // 1 triangle, clustering exactly 1.0
    import spark.implicits._
    SessionArtifacts.clearAll()
    val clique = Seq((1L, "aaaaa bbbbb ccccc ddddd"), (2L, "aaaaa bbbbb ccccc ddddd"),
      (3L, "aaaaa bbbbb ccccc ddddd")).toDF("doc_id", "text")
    val cq = Dedup.dupGraphShape(clique).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).head
    SessionArtifacts.clearAll()
    assert(cq === ((3L, 3L, 3L, 1L, 1.0)))
  }

  test("neardupPagerank equals the brute-force integer power iteration") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val n = deg.size.toLong
    val r0 = 1000000L / n
    val base = 150000L / n
    var rank: Map[Long, Long] = deg.view.mapValues(_ => r0).toMap
    for (_ <- 1 to 4) {
      val contrib = rank.map { case (node, r) => node -> r / deg(node) }
      rank = adj.map { case (node, nbrs) =>
        node -> (base + (17L * nbrs.map(contrib).sum) / 20L)
      }
    }
    val expected = deg.keys.toSeq.sorted.map(id => (id, deg(id), rank(id)))
    val got = Dedup.neardupPagerank(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // total mass stays within the floor-loss envelope of 1e6 micro-units
    val mass = got.map(_._3).sum
    assert(mass <= 1000000L && mass > 800000L, s"mass $mass")
    // a hub linked by every member of its template family outranks its
    // leaves: max-degree node is a per-component rank maximum
    val byComp = got.map(_._1).toSet
    assert(byComp === deg.keySet)
  }

  test("containmentDiscover finds beyond-band inclusions; equals JVM brute force on fixture") {
    import spark.implicits._
    import graft.operators.Dedup
    // constructed inclusion: a short document quoted verbatim inside a
    // much longer one — containment ~1, Jaccard well under the 0.6 band
    val quote = "the quick brown fox jumps over the lazy dog again and again"
    val filler = (1 to 40).map(i => s"filler_token_$i unrelated_word_$i").mkString(" ")
    val built = Seq(
      (1L, quote),
      (2L, s"$filler $quote $filler"),
      (3L, "completely different content with nothing shared at all here")
    ).toDF("doc_id", "text")
    val found = Dedup.containmentDiscover(built).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val hit = found.filter(p => p._1 == 1L && p._2 == 2L)
    assert(hit.length === 1, s"the planted inclusion must be discovered: ${found.toSeq}")
    assert(hit.head._3 >= 0.95, "containment of the quote must be ~1")
    assert(hit.head._4 < 0.6, "the planted pair must sit BELOW the near-dup band")
    // ...and symmetric banding indeed cannot see it (the claim the op exists for)
    val banded = Dedup.minhashLshPairs(built).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!banded.contains((1L, 2L)),
      "if the band finds it, the discovery op is redundant on this fixture")
    SessionArtifacts.clearAll()
    // fixture law: equals the JVM exact all-ordered-pairs brute force on
    // distinct char-5-gram STRINGS (independent of the engine's hashing
    // and blocking; collisions in the 64-bit shingle hash would surface)
    def grams5(t: String): Set[String] =
      (0 to math.max(t.length - 5, 0)).map(i => t.substring(i, math.min(i + 5, t.length)))
        .filter(_.nonEmpty).toSet
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val fixture = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), grams5(r.getString(1))))
    val expected = (for {
      (ida, ga) <- fixture; (idb, gb) <- fixture
      if ida != idb
      i = (ga intersect gb).size
      c = round6(i.toDouble / ga.size)
      if c >= 0.9
    } yield (ida, idb, c, round6(i.toDouble / (ga.size + gb.size - i))))
      .sortBy(p => (p._1, p._2)).toSeq
    val got = Dedup.containmentDiscover(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "the fixture's near-dup families must surface here too")
  }

  test("heapsContainmentCorpus: vocabulary grows with corpus size; every planted prefix pair discovered at containment 1.0 (q302)") {
    import graft.operators.Dedup
    val corpus = Dedup.heapsContainmentCorpus(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the corpus derives deterministically from ids: spot-check doc 0
    // against the closed form (len 30, token = "w" + 6-hex md5 prefix of
    // (0*131 + 97j) mod 50 — see the operator's rendering note)
    def md5hex6(v: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(6)
    val d0 = (0 until 30).map(j => "w" + md5hex6(((97L * j) % 50L).toString))
      .mkString(" ")
    corpus.find(_._1 == 0L).foreach(c => assert(c._2 === d0))
    // HEAPS PROPERTY — the reason this fixture exists: distinct token
    // vocabulary over the first half of the corpus is materially smaller
    // than over the whole (the raw fixture's ~2k-type vocabulary is flat
    // in corpus size, which degenerates posting selectivity)
    def vocab(cs: Seq[(Long, String)]): Int =
      cs.flatMap(_._2.split(" ")).distinct.length
    val half = corpus.take(corpus.length / 2)
    val vHalf = vocab(half.toSeq); val vFull = vocab(corpus.toSeq)
    assert(vFull > vHalf * 1.4,
      s"vocabulary must grow with corpus size: half=$vHalf full=$vFull")
    // every planted pair (d = 3 mod 10 -> d-3) surfaces with containment
    // exactly 1.0 (text-prefix construction => gram-subset)
    val found = Dedup.containmentDiscover(Dedup.heapsContainmentCorpus(docs))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val planted = corpus.map(_._1).filter(d => d % 10 == 3 && d >= 3)
      .map(d => (d, d - 3))
    assert(planted.nonEmpty)
    planted.foreach { p =>
      assert(found.get(p).contains(1.0), s"planted pair $p missing or < 1.0")
    }
  }

  test("kcoreDecomposition equals exact peeling; h-index iterate is converged at 8 rounds") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj: Map[Long, Seq[Long]] = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // independent truth: textbook min-degree peeling (Batagelj–Zaveršnik
    // order) — nothing shared with the h-index formulation under test
    val core = scala.collection.mutable.Map(
      adj.view.mapValues(_.size.toLong).toSeq: _*)
    val alive = scala.collection.mutable.Set(adj.keys.toSeq: _*)
    val curDeg = scala.collection.mutable.Map(
      adj.view.mapValues(_.size.toLong).toSeq: _*)
    var level = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(x => (curDeg(x), x))
      level = math.max(level, curDeg(v))
      core(v) = level
      alive -= v
      adj(v).foreach { u => if (alive(u)) curDeg(u) = curDeg(u) - 1L }
    }
    val expected = adj.keys.toSeq.sorted
      .map(id => (id, adj(id).size.toLong, core(id)))
    val got = Dedup.kcoreDecomposition(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // the truncation budget is honest: 8 rounds have already reached the
    // peeling fixed point (and the iterate is monotone, so more rounds
    // cannot move it)
    val more = Dedup.kcoreDecomposition(docs, rounds = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(more === got, "8 h-index rounds must already be converged")
    got.foreach { case (id, deg, c) =>
      assert(c >= 1L && c <= deg, s"node $id: core $c outside [1, deg=$deg]")
    }
    assert(got.exists(_._3 >= 2L),
      "the fixture's template families must produce a 2-core")
  }

  test("rankCanonical keeper = per-cluster (rank desc, id) argmax over its own frames") {
    import graft.operators.Dedup
    val members = Dedup.nearDupSurvivors(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // doc -> cluster_rep
    val rank = Dedup.neardupPagerank(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap // doc -> rank_micro
    assert(members.keySet === rank.keySet,
      "membership and rank frames must share the >=1-edge domain")
    val expectedKeeper = members.groupBy(_._2).view.mapValues { ms =>
      ms.keys.toSeq.sortBy(id => (-rank(id), id)).head
    }.toMap
    val got = Dedup.rankCanonical(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSet === members.keySet, "one row per cluster member")
    got.foreach { case (doc, rep, canon, keeps, rm, crm) =>
      assert(rep === members(doc))
      assert(canon === expectedKeeper(rep), s"cluster $rep")
      assert(keeps === (doc == canon))
      assert(rm === rank(doc))
      assert(crm === rank(canon))
    }
    // the policies genuinely differ in what they consult: rank keepers
    // have the max rank in their cluster, not necessarily the min id
    val keepers = got.filter(_._4)
    assert(keepers.nonEmpty)
    keepers.foreach { case (doc, rep, _, _, rm, _) =>
      assert(members.collect { case (d, r) if r == rep => rank(d) }.max === rm)
    }
  }

  test("collocations equals brute-force PMI ranking; min-count floor filters hapaxes") {
    import graft.operators.TextAnalysis
    val texts = docs.select(col("text")).collect().map(_.getString(0)).toSeq
    val tokss = texts.map(_.split(" ", -1).toSeq)
    val bg = tokss.filter(_.size >= 2)
      .flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
    val uni = tokss.flatten.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
    val nPos = bg.values.sum
    // sf0.001 is 10x smaller than the sf0.01 calibration - scale the floor
    val minCount = 2L
    val expected = bg.toSeq.filter(_._2 >= minCount).map { case ((a, b), cab) =>
      val pmi = roundN(math.log(nPos.toDouble * cab / (uni(a).toDouble * uni(b))) * 1e6, 0) / 1e6
      (a, b, cab, pmi)
    }.sortBy { case (a, b, _, p) => (-p, a, b) }.take(20)
    val got = TextAnalysis.collocations(docs, minCount = minCount).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // every hapax-pair is excluded regardless of its (maximal) PMI
    assert(got.forall(_._3 >= minCount))
  }

  test("madOutliers equals brute force; robust to an injected extreme value") {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.size - 1)
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      if (lo == hi) lo else (math.ceil(pos) - pos) * lo + (pos - pos.toInt) * hi
    }
    def brute(rows: Seq[(String, Double)]): Seq[(String, Long, Long, Double, Double)] =
      rows.groupBy(_._1).toSeq.map { case (t, g) =>
        val vs = g.map(v => roundN(v._2, 2))
        val med = roundN(median(vs), 4)
        val ds = vs.map(v => roundN(math.abs(v - med), 4))
        val mad = roundN(median(ds), 4)
        (t, vs.size.toLong, ds.count(_ > 3.0 * mad).toLong, med, mad)
      }.sortBy(_._1)
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = Events.madOutliers(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(got === brute(rows))
    // robustness: one extreme value barely moves the MAD cut, so the
    // other outliers stay flagged (the property a mean/sigma rule lacks)
    import spark.implicits._
    val spiked = ev.select(col("event_type"), col("value"))
      .unionAll(Seq(("purchase", 1e9)).toDF("event_type", "value"))
    val spikedGot = Events.madOutliers(spiked).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    val baseGot = got.map(r => (r._1, r._3)).toMap
    assert(spikedGot("purchase") >= baseGot("purchase"),
      "an injected extreme must not UNflag existing outliers under MAD")
  }

  test("epochShuffle checksums equal brute force; new seed => new permutation") {
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    def brute(seed: String): Seq[(Long, Long, String)] =
      ids.map { id => (id, md5Hex(s"$seed:$id")) }
        .groupBy { case (_, k) =>
          (Character.digit(k.charAt(0), 16) * 16 + Character.digit(k.charAt(1), 16)) % 8
        }
        .map { case (shard, rows) =>
          val ordered = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
          (shard.toLong, rows.size.toLong, md5Hex(ordered.mkString(",")))
        }.toSeq.sortBy(_._1)
    val got = Sampling.epochShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === brute("epoch0"))
    assert(got.map(_._2).sum == ids.size.toLong, "shards partition the corpus")
    // replayable: identical run-to-run; a new seed is a fresh permutation
    val again = Sampling.epochShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(again === got)
    val e1 = Sampling.epochShuffle(docs, seed = "epoch1").collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got.exists { case (s, _, c) => e1.get(s).exists(_ != c) },
      "a different seed must permute differently")
  }

  test("persisted daily sketches merge with a new day == full recompute (incremental DAU)") {
    import org.apache.spark.sql.functions.{col, expr}
    // the q128 store pattern: persist per-day sketches, ingest a new day
    // by MERGING (never re-reading history), get the same rollup a full
    // recompute would — KMV's associative merge end-to-end through a sink
    val ev = Tables.events(spark, sf)
    val du = ev.select(expr("ts div 86400000000000").as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val days = du.map(_._1).distinct.sorted
    val (histDays, newDays) = days.splitAt(days.size - 3)
    def dailySketch(rows: Seq[(Long, Long)]): Map[Long, List[String]] =
      rows.groupBy(_._1).map { case (d, us) =>
        (d, us.map(u => md5Hex(u._2.toString)).distinct.sorted.take(64).toList)
      }
    // persist history sketches through a parquet sink and read them back
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_store").toString + "/store"
    dailySketch(du.filter(d => histDays.contains(d._1))).toSeq
      .toDF("day", "sketch").write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toMap
    // incremental ingest: only the new days' raw data is touched
    val merged = persisted ++ dailySketch(du.filter(d => newDays.contains(d._1)))
    assert(merged === dailySketch(du), "store + new-day merge must equal full recompute")
  }

  test("sessionTransitions equals brute-force in-session lead pairs; P rows sum to 1") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val pairs = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      sorted.zip(sorted.drop(1)).collect {
        case (a, b) if b._3 - a._3 <= 1800L * 1000000000L => (a._4, b._4)
      }
    }
    val counts = pairs.groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
    val totals = pairs.groupBy(_._1).map { case (t, g) => (t, g.size.toLong) }
    val expected = counts.toSeq.map { case ((a, b), n) =>
      (a, b, n, roundN(n.toDouble / totals(a), 4))
    }.sortBy(t => (t._1, t._2))
    val got = Events.sessionTransitions(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (t, rows) =>
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) < 0.01, s"P($t -> *) sums to $s")
    }
  }

  private def cosSeq(a: Array[Double], b: Array[Double]): Double = {
    // same sequential accumulation as the native CosineSimilarity loop
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def cosMicro(a: Array[Double], b: Array[Double]): Long =
    math.round(roundN(cosSeq(a, b), 6) * 1e6)

  /** Independent greedy MMR over raw vectors (λ = 7/10, micro units). */
  private def bruteMmr(vecs: Map[Long, Array[Double]], qid: Long, pool: Int,
      select: Int): Seq[(Long, Int, Long, Long, Long)] = {
    val rel = vecs.toSeq.collect { case (id, v) if id != qid =>
      (id, cosMicro(vecs(qid), v))
    }
    val pooled = rel.sortBy { case (id, r) => (-r, id) }.take(pool)
    var chosen = Vector.empty[Long]
    (1 to math.min(select, pooled.size)).map { step =>
      val (id, r, ms) = pooled.filterNot(p => chosen.contains(p._1)).map {
        case (id, r) =>
          val ms = if (chosen.isEmpty) 0L
            else chosen.map(s => cosMicro(vecs(id), vecs(s))).max
          (id, r, ms)
      }.sortBy { case (id, r, ms) => (-(7L * r - 3L * ms), id) }.head
      chosen :+= id
      (qid, step, id, r, ms)
    }
  }

  test("mmrRerank equals an in-JVM brute-force greedy on the fixture") {
    val embs = Tables.embeddings(spark, sf)
    val vecs = embs.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val expected = (0L until 3L).flatMap(q => bruteMmr(vecs, q, 16, 8))
    val got = Matching.mmrRerank(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.size === 24, "3 queries x 8 picks")
  }

  test("mmrRerank diversifies a planted template cluster that pure relevance would flood") {
    import spark.implicits._
    // 8-dim geometry: query 0 on axis 0; ten near-identical "template"
    // docs at rel~0.9 (mutual sim~1.0, sharing axis 1); eight diverse
    // docs at rel~0.85 whose off-axis mass sits on DISTINCT axes 2..7
    // (mutual sim ~0.72, all below their 0.765 sim to the templates)
    def vec(entries: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(8)(0.0f)
      entries.foreach { case (i, x) => v(i) = x }
      v.toSeq
    }
    val templates = (10L to 19L).map(i =>
      (i, vec(0 -> 0.9f, 1 -> 0.436f, 2 -> 0.001f * (i - 10))))
    val diverse = (20L to 27L).map { i =>
      val j = (i - 20).toInt
      if (j < 6) (i, vec(0 -> 0.85f, (2 + j) -> 0.527f))
      else (i, vec(0 -> 0.85f, (2 + j - 6) -> -0.527f))
    }
    val df = ((0L, vec(0 -> 1.0f)) +: (templates ++ diverse))
      .toDF("vec_id", "embedding")
    val picks = Matching.mmrRerank(df, nQueries = 1, pool = 16, select = 8)
      .collect().map(_.getLong(2)).toSet
    val pickedTemplates = picks.count(id => id >= 10L && id <= 19L)
    // pure relevance would fill all 8 slots from the template family
    assert(pickedTemplates >= 1, "the most relevant template must be picked")
    assert(pickedTemplates <= 2, s"MMR must not flood: $pickedTemplates templates picked")
    assert(picks.count(_ >= 20L) >= 6, "diverse docs take the remaining slots")
  }

  private def interp(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
    if (lo == hi) lo else (math.ceil(pos) - pos) * lo + (pos - pos.toInt) * hi
  }

  test("winsorizedValueStats equals brute force; clamped mean is tail-insensitive") {
    val ev = Tables.events(spark, sf)
    val cents = ev.select(col("event_type"), round(col("value") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
      val cs = g.map(_._2)
      val lo = math.floor(interp(cs.map(_.toDouble), 0.05)).toLong
      val hi = math.ceil(interp(cs.map(_.toDouble), 0.95)).toLong
      val trimmed = cs.filter(c => c >= lo && c <= hi)
      (t, cs.size.toLong, cs.count(_ < lo).toLong, cs.count(_ > hi).toLong,
        roundN(cs.sum.toDouble / cs.size / 100.0, 4),
        roundN(cs.map(c => math.max(math.min(c, hi), lo)).sum.toDouble / cs.size / 100.0, 4),
        roundN(trimmed.sum.toDouble / trimmed.size / 100.0, 4),
        lo, hi)
    }
    val got = Events.winsorizedValueStats(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got === expected)
    // the published estimators must actually resist a tail: inflate the
    // corpus max 100x and the winsorized/trimmed means barely move
    import spark.implicits._
    val spiked = ev.select(col("event_type"), col("value"))
      .unionAll(Seq(("purchase", 1e7)).toDF("event_type", "value"))
    val s = Events.winsorizedValueStats(spiked).collect()
      .map(r => (r.getString(0), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .find(_._1 == "purchase").get
    val base = got.find(_._1 == "purchase").get
    assert(s._2 > base._5 + 10.0, "the raw mean must move under the spike")
    assert(math.abs(s._3 - base._6) < 1.0 && math.abs(s._4 - base._7) < 1.0,
      "winsorized/trimmed means must not")
  }

  test("lateArrivalAudit equals brute force; an in-order stream has zero late rows") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val wmDelay = 3600L * 1000000000L
    val arr = rows.map { case (t, ts, id, u) =>
      (t, ts, id, ts + (if (u % 17 == 3) 7200L * 1000000000L else 0L))
    }.sortBy(e => (e._4, e._3))
    var pm = Long.MinValue
    val flagged = arr.map { case (t, ts, _, _) =>
      val late = pm != Long.MinValue && ts < pm - wmDelay
      val lateness = if (late) (pm - wmDelay - ts) / 1000000000L else 0L
      pm = math.max(pm, ts)
      (t, late, lateness)
    }
    val expected = flagged.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
      val nl = g.count(_._2).toLong
      (t, g.size.toLong, nl, roundN(nl.toDouble / g.size, 6),
        if (nl > 0) g.filter(_._2).map(_._3).max else 0L)
    }
    val got = Events.lateArrivalAudit(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSeq
    assert(got === expected)
    assert(got.map(_._3).sum > 0, "the delayed-client class must produce late rows")
    // with no injected delay the fixture stream is in arrival order: a
    // correct watermark rule flags nothing
    val inOrder = Events.lateArrivalAudit(ev, injectedDelayNs = 0L).collect()
      .map(_.getLong(2)).sum
    assert(inOrder === 0L)
  }

  test("srmCheck equals brute force; arms partition the user set") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("user_id")).collect().map(_.getLong(0)).toSeq
    def arm(u: Long): Long = java.lang.Long.parseLong(md5Hex(u.toString).take(4), 16) % 2
    val users = rows.distinct
    val byArm = users.groupBy(arm).view.mapValues(_.size.toLong).toMap
    val evByArm = rows.groupBy(arm).view.mapValues(_.size.toLong).toMap
    val nTotal = users.size.toLong
    val d = byArm.getOrElse(0L, 0L) - byArm.getOrElse(1L, 0L)
    val chi2 = roundN(d.toDouble * d / nTotal, 6)
    val expected = Seq(0L, 1L).filter(byArm.contains).map { a =>
      (a, byArm(a), evByArm(a), roundN(byArm(a).toDouble / nTotal, 6), chi2,
        d.toDouble * d / nTotal > 3.841)
    }
    val got = Events.srmCheck(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum === nTotal, "arms must partition the user set")
    // on a wider synthetic user pool the md5 split is near-uniform: the
    // arms still partition the users and the flag agrees with chi2
    import spark.implicits._
    val balanced = (0L until 2048L).map(u => (u, u)).toDF("user_id", "event_id")
    val b = Events.srmCheck(balanced).collect()
      .map(r => (r.getLong(1), r.getDouble(4), r.getBoolean(5)))
    assert(b.map(_._1).sum === 2048L)
    b.foreach { case (_, chi2, flag) =>
      if (math.abs(chi2 - 3.841) > 1e-5) assert(flag === chi2 > 3.841)
    }
  }

  test("orderedFunnel equals brute force; steps are monotone") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("user_id"), col("ts"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val horizon = 24L * 3600L * 1000000000L
    def next(prev: Map[Long, Long], t: String): Map[Long, Long] =
      rows.filter(_._3 == t).flatMap { case (u, ts, _) =>
        prev.get(u).filter(f => ts > f && ts - f <= horizon).map(_ => (u, ts))
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val s1 = rows.filter(_._3 == "signup").groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val s2 = next(s1, "click")
    val s3 = next(s2, "purchase")
    val sizes = Seq(s1.size.toLong, s2.size.toLong, s3.size.toLong)
    val expected = Seq(("signup", 1), ("click", 2), ("purchase", 3)).map { case (t, i) =>
      (i, t, sizes(i - 1), roundN(sizes(i - 1).toDouble / sizes.head, 6))
    }
    val got = Events.orderedFunnel(ev).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
    assert(sizes.sliding(2).forall(p => p.head >= p.last), "funnel must be monotone")
    assert(sizes.last < sizes.head, "the horizon must actually cut the fixture funnel")
    // zero-entrant edge: a first step no event matches must yield a
    // 0-count row with a NULL share, not an ANSI divide-by-zero
    val empty = Events.orderedFunnel(ev, steps = Seq("no_such_type", "purchase"))
      .collect().map(r => (r.getLong(2), r.isNullAt(3)))
    assert(empty.forall { case (n, isNull) => n === 0L && isNull })
  }

  test("conversionLatency equals brute force") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("user_id"), col("ts"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val firstSignup = rows.filter(_._3 == "signup").groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val lats = rows.filter(_._3 == "purchase").flatMap { case (u, ts, _) =>
      firstSignup.get(u).filter(ts > _).map(s => (u, ts - s))
    }.groupBy(_._1).values.map(g => (g.map(_._2).min / 1000000000L).toDouble).toSeq
    val expected = (
      firstSignup.size.toLong, lats.size.toLong,
      roundN(lats.size.toDouble / firstSignup.size, 6),
      roundN(interp(lats, 0.25), 4), roundN(interp(lats, 0.5), 4),
      roundN(interp(lats, 0.75), 4), roundN(interp(lats, 0.9), 4))
    val got = Events.conversionLatency(ev).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).head
    assert(got === expected)
    assert(got._1 > 0L && got._2 <= got._1)
    // zero-conversion edge: an empty latency panel must not annihilate
    // the report row — one row, zero conversions, null percentiles
    val noPurchase = Events.conversionLatency(
      ev.filter(col("event_type") =!= "purchase")).collect()
    assert(noPurchase.length === 1)
    assert(noPurchase(0).getLong(1) === 0L && noPurchase(0).isNullAt(3))
  }

  test("a purchase at the signup instant converts in neither q222 nor q235") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // user 1 purchases only at its signup instant; user 3 also purchases
    // there, so its first later purchase is the one two days on
    val ev = Seq(
      (1L, "signup", 0L), (1L, "purchase", 0L),
      (2L, "signup", 0L), (2L, "purchase", 1L * NsDay),
      (3L, "signup", 0L), (3L, "purchase", 0L), (3L, "purchase", 2L * NsDay),
      (9L, "click", 10L * NsDay)
    ).map { case (u, t, ts) => (u, 0L, t, ts, 0.0) }
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val lat = Events.conversionLatency(ev).collect().head
    val kmConverted = Events.survivalCurve(ev).agg(sum(col("n_converted"))).head.getLong(0)
    assert((lat.getLong(0), lat.getLong(1)) === (3L, 2L))
    assert(lat.getLong(1) === kmConverted)
    // latencies of 1 and 2 days: p25 and p90 interpolate between them
    assert(lat.getDouble(3) === 108000.0 && lat.getDouble(6) === 164160.0)
  }

  test("rateOutliers equals brute force over per-user median gaps") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("user_id"), col("ts"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val perUser = rows.groupBy(_._1).map { case (u, g) =>
      val secs = g.sortBy(e => (e._2, e._3)).map(_._2 / 1000000000L)
      val gaps = secs.zip(secs.drop(1)).map { case (a, b) => (b - a).toDouble }
      (u, g.size.toLong, interp(gaps, 0.5), secs.max - secs.min)
    }.filter(_._2 >= 8L).toSeq
    assert(perUser.nonEmpty, "fixture must have users above the event floor")
    val cut = interp(perUser.map(_._3), 0.1)
    val expected = perUser.filter(_._3 <= cut).sortBy(_._1).map { case (u, n, med, span) =>
      (u, n, roundN(med, 1), roundN(n * 86400.0 / math.max(span, 1L), 4), roundN(cut, 4))
    }
    val got = Events.rateOutliers(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(got === expected)
    assert(got.size < perUser.size, "the cut must not flag everyone")
  }

  test("quantilesFromSketchFiles: any shard slicing serves the single-pass q87 panel; fingerprint fresh (q272)") {
    import org.apache.spark.sql.functions.expr
    val ev = Tables.events(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q272_spec").toString
    def serve(slices: Seq[(String, String)]) = {
      slices.foreach { case (pred, name) =>
        Events.writeDailyQuantileSketches(ev.filter(expr(pred)), s"$tmp/$name") }
      Events.quantilesFromSketchFiles(spark, slices.map(s => s"$tmp/${s._2}"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSeq
    }
    val day = "(ts div 86400000000000)"
    val one = serve(Seq(("true", "all")))
    val two = serve(Seq((s"$day % 2 = 0", "e2"), (s"$day % 2 = 1", "o2")))
    val three = serve(Seq((s"$day % 3 = 0", "a3"), (s"$day % 3 = 1", "b3"),
      (s"$day % 3 = 2", "c3")))
    assert(two === one && three === one,
      "any day-disjoint shard slicing must serve identical percentiles")
    // the merged-shard estimates ARE the q87 single-pass sample estimates
    // (bottom-k of unioned per-day bottom-ks == global bottom-k)
    val q87 = Events.quantileSketch(ev).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(one.map(t => (t._1, t._3, t._4)) === q87)
    // overlapping (idempotent) re-writes merge without skew
    val dup = serve(Seq(("true", "d1"), ("true", "d2")))
    assert(dup === one, "duplicate shards must merge idempotently")
    // the q242 staleness contract holds on the shard dirs
    Governance.requireFresh(spark, s"$tmp/all", ev, Governance.eventCanonical)
  }

  test("rakingEss equals brute-force Kish formulas; ESS <= n and deff >= 1 (q273)") {
    val raked = Sampling.rakingWeights(docs).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    def roundN(v: Double, k: Int): Double =
      BigDecimal(v).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
    def essOf(cells: Seq[(Long, Double)]): (Long, Double) = {
      val sw6 = cells.map { case (n, w) => math.round(n * w * 1000000.0) }.sum
      val sww6 = cells.map { case (n, w) => math.round(n * (w * w) * 1000000.0) }.sum
      val e = (sw6.toDouble / 1000000.0) * (sw6.toDouble / 1000000.0) /
        (sww6.toDouble / 1000000.0)
      (cells.map(_._1).sum, e)
    }
    val byLang = raked.groupBy(_._1).view
      .mapValues(cs => essOf(cs.map(c => (c._2, c._3 / c._2)))).toMap
    val (nt, essAll) = essOf(raked.map(c => (c._2, c._3 / c._2)))
    val got = Sampling.rakingEss(docs).collect()
    assert(got.length == byLang.size)
    got.foreach { g =>
      val (n, e) = byLang(g.getString(0))
      assert(g.getLong(1) == n)
      assert(g.getDouble(2) == roundN(e, 4))
      assert(g.getDouble(3) == roundN(n.toDouble / e, 6))
      assert(g.getDouble(4) == roundN(essAll, 4))
      assert(g.getDouble(5) == roundN(nt.toDouble / essAll, 6))
      // Kish bounds (Cauchy-Schwarz): ESS never exceeds n, deff >= 1
      assert(g.getDouble(2) <= n + 1e-9 && g.getDouble(3) >= 1.0 - 1e-9)
    }
  }

  test("quantileTreatmentEffect equals brute-force per-arm order statistics; A/A CIs overlap (q274)") {
    def md5hex(v: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def armOf(u: Long): Long =
      java.lang.Long.parseLong(md5hex(u.toString).substring(0, 4), 16) % 2
    def roundN(v: Double, k: Int): Double =
      BigDecimal(v).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), armOf(r.getLong(1)), math.round(r.getDouble(2) * 10000)))
    val got = Events.quantileTreatmentEffect(Tables.events(spark, sf)).collect()
    got.foreach { g =>
      val t = g.getString(0)
      def stats(a: Long): (Long, Long, Long, Long) = {
        val xs = rows.filter(r => r._1 == t && r._2 == a).map(_._3).sorted
        val n = xs.length
        def kth(k: Long): Long = xs((k - 1).toInt.max(0).min(n - 1))
        val half = 1.96 * math.sqrt(n.toDouble)
        (n.toLong, kth(math.ceil(n / 2.0).toLong),
          kth(math.max(math.floor((n - half) / 2.0).toLong, 1L)),
          kth(math.min(math.ceil(1.0 + (n + half) / 2.0).toLong, n.toLong)))
      }
      val (n0, m0, l0, h0) = stats(0L); val (n1, m1, l1, h1) = stats(1L)
      assert(g.getLong(1) == n0 && g.getLong(2) == n1)
      assert(g.getDouble(3) == roundN(m0 / 10000.0, 4))
      assert(g.getDouble(4) == roundN(m1 / 10000.0, 4))
      assert(g.getDouble(5) == roundN((m1 - m0) / 10000.0, 4))
      assert(g.getDouble(6) == roundN(l0 / 10000.0, 4))
      assert(g.getDouble(7) == roundN(h0 / 10000.0, 4))
      assert(g.getBoolean(10) == (l1 > h0 || l0 > h1))
      // the md5 coin is an A/A: per-arm medians must sit inside each
      // other's CIs — no type's interval pair separates
      assert(!g.getBoolean(10), s"A/A arms must not separate for $t")
    }
    assert(got.nonEmpty)
  }

  test("blockingQuality equals brute force; completeness is exactly the even-planted fraction (q292)") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val base = parts.select(col("p_partkey"), col("p_brand"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val twins = base.filter(_._1 < 50L).map { case (k, b, s) =>
      (k + 90000000L, b, if (k % 2 == 0) s else s + 1)
    }
    val all = base ++ twins
    val blocks = all.groupBy(r => (r._2, r._3)).view.mapValues(_.size.toLong)
    val n = all.length.toLong
    val cand = blocks.values.map(m => m * (m - 1) / 2).sum
    val byKey = base.map(r => (r._1, (r._2, r._3))).toMap
    val rec = twins.count(t => byKey.get(t._1 - 90000000L).contains((t._2, t._3))).toLong
    val g = graft.operators.Matching.blockingQuality(parts).collect()(0)
    assert(g.getLong(0) == n && g.getLong(1) == 50L && g.getLong(2) == rec)
    assert(g.getDouble(3) == round4(rec.toDouble / 50))
    assert(g.getLong(4) == cand && g.getLong(5) == n * (n - 1) / 2)
    assert(g.getDouble(6) == round6(1.0 - cand.toDouble / (n * (n - 1) / 2)))
    // the construction law: exactly the even planted keys co-block
    assert(rec == (0L until 50L).count(_ % 2 == 0))
    assert(g.getDouble(3) == 0.5)
    // blocking must actually prune: RR above 99% on the fixture catalog
    assert(g.getDouble(6) > 0.99)
  }
}
