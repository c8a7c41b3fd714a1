package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Events, Inference}
import graft.sources.Tables

/** Brute-force replicas for the round-11 inference family (q245–q252):
  * every statistic is recomputed in plain Scala on collected fixture rows
  * with the SAME operation order, and compared exactly on the rounded
  * outputs (JVM and codegen'd Spark doubles are both IEEE binary64 with
  * identical association, so equality is exact, not approximate).
  */
class InferenceSpec extends GraftSuite {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val events = Tables.events(spark, sf)

  private def roundN(x: Double, n: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(n, java.math.RoundingMode.HALF_UP).doubleValue()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def arm(userId: Long): Long =
    java.lang.Long.parseLong(md5Hex(userId.toString).substring(0, 4), 16) % 2

  /** A&S 26.2.17 upper tail, the spec-side replica. */
  private def upperTail(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.2316419 * x)
    val poly = (((((1.330274429 * t + -1.821255978) * t
      + 1.781477937) * t + -0.356563782) * t + 0.319381530) * t)
    math.exp(x * x / -2.0) * 0.3989422804014327 * poly
  }

  /** value → doubled tie-averaged rank over a value multiset. */
  private def doubledRanks(vs: Seq[Long]): Map[Long, Long] = {
    val byVal = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sorted = byVal.keys.toSeq.sorted
    var cl = 0L
    sorted.map { v =>
      val t = byVal(v); val r2 = 2 * cl + t + 1; cl += t; v -> r2
    }.toMap
  }

  test("upperTail matches commons-math3 normal CDF within the A&S 7.5e-8 bound") {
    val nd = new org.apache.commons.math3.distribution.NormalDistribution()
    for (x <- Seq(0.0, 0.1, 0.5, 1.0, 1.645, 1.96, 2.575, 3.5, 5.0)) {
      val exact = 1.0 - nd.cumulativeProbability(x)
      assert(math.abs(upperTail(x) - exact) < 7.5e-8, s"x=$x")
    }
  }

  test("chi2Independence equals the brute-force zero-filled grid (q245)") {
    val rows = docs.select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toLong
    val srcs = rows.map(_._1).distinct.sorted
    val langs = rows.map(_._2).distinct.sorted
    val obs = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cells = for { s <- srcs; l <- langs } yield {
      val o = obs.getOrElse((s, l), 0L)
      val e = rt(s).toDouble * ct(l) / n
      val contrib = (o - e) * (o - e) / e
      (s, l, o, roundN(e, 4), roundN(contrib, 6), math.round(contrib * 1000000.0))
    }
    val chi2 = roundN(cells.map(_._6).sum / 1000000.0, 4)
    val dof = (srcs.size - 1L) * (langs.size - 1L)
    val got = Inference.chi2Independence(docs).collect()
    assert(got.length == cells.size)
    got.zip(cells).foreach { case (g, (s, l, o, e, c, _)) =>
      assert(g.getString(0) == s && g.getString(1) == l)
      assert(g.getLong(2) == o)
      assert(g.getDouble(3) == e && g.getDouble(4) == c)
      assert(g.getDouble(5) == chi2 && g.getLong(6) == dof)
    }
    // the grid really is zero-filled: cells = |sources| × |langs| even if
    // some combination never occurs
    assert(got.length == srcs.size * langs.size)
  }

  test("bhFdrPanel equals the brute-force panel; step-up cut respects the BH line (q246)") {
    val rows = docs.select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val per = rows.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.count(_._2 >= 300L).toLong)
    }.toMap
    val n = rows.length.toLong
    val k = per.values.map(_._2).sum
    val m = per.size.toLong
    val scored = per.toSeq.map { case (s, (ns, ks)) =>
      val nr = n - ns; val kr = k - ks
      val ph = k.toDouble / n
      val z =
        if (nr > 0 && ph > 0.0 && ph < 1.0)
          Some((ks.toDouble / ns - kr.toDouble / nr)
            / math.sqrt(ph * (1.0 - ph) * (1.0 / ns + 1.0 / nr)))
        else None
      val p = z.map(zz => roundN(math.min(2.0 * upperTail(math.abs(zz)), 1.0), 6))
        .getOrElse(1.0)
      (s, ns, ks, z, p)
    }
    val ranked = scored.sortBy { case (s, _, _, _, p) => (p, s) }.zipWithIndex
      .map { case (r, i) => (r, i + 1) }
    val kStar = ranked.filter { case ((_, _, _, _, p), i) => p <= i * 0.05 / m }
      .map(_._2).reduceOption(_ max _).getOrElse(0)
    val expected = ranked.map { case ((s, ns, ks, z, p), i) =>
      (s, ns, ks, roundN(ks.toDouble / ns, 4), z.map(roundN(_, 4)), p, i,
        i <= kStar)
    }.sortBy(_._1)
    val got = Inference.bhFdrPanel(docs).collect()
    assert(got.length == expected.size)
    got.zip(expected).foreach { case (g, (s, ns, ks, rate, z, p, i, sig)) =>
      assert(g.getString(0) == s && g.getLong(1) == ns && g.getLong(2) == ks)
      assert(g.getDouble(3) == rate)
      assert(z.forall(zz => g.getDouble(4) == zz) && (z.nonEmpty || g.isNullAt(4)))
      assert(g.getDouble(5) == p && g.getInt(6) == i && g.getBoolean(7) == sig)
    }
    // BH law on the emitted panel: every significant p sits at/below its
    // own line's cut rank, every non-significant one ranks above k*
    val sigRanks = got.filter(_.getBoolean(7)).map(_.getInt(6))
    if (sigRanks.nonEmpty) assert(sigRanks.max == kStar)
  }

  test("mannWhitney equals the brute-force tie-averaged rank sum (q247)") {
    val rows = docs.filter(col("source").isin("src0", "src1"))
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val r2 = doubledRanks(rows.map(_._2))
    val a = rows.filter(_._1 == "src0"); val b = rows.filter(_._1 == "src1")
    val n1 = a.length.toLong; val n2 = b.length.toLong; val n = n1 + n2
    val r1x2 = a.map(r => r2(r._2)).sum
    val ties = rows.map(_._2).groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val u1x2 = r1x2.toDouble - n1.toDouble * (n1 + 1)
    val varU = n1.toDouble * n2 / 12.0 *
      ((n + 1).toDouble - ties.toDouble / (n.toDouble * (n - 1)))
    val z = (u1x2 - n1.toDouble * n2) / (2.0 * math.sqrt(varU))
    val g = Inference.mannWhitney(docs).collect()(0)
    assert(g.getLong(0) == n1 && g.getLong(1) == n2)
    assert(g.getDouble(2) == roundN(u1x2 / 2.0, 1))
    assert(g.getDouble(3) == roundN(ties.toDouble, 1))
    assert(g.getDouble(4) == roundN(z, 4))
  }

  test("mannWhitney on a constructed shift detects it with the right sign") {
    import spark.implicits._
    // src0 systematically longer than src1 → U1 large → positive z
    val d = (1 to 40).map(i => (i.toLong, s"t$i", "en", "src0", 100L + i)) ++
      (1 to 40).map(i => (100L + i, s"u$i", "en", "src1", 50L + i % 5))
    val df = d.toDF("doc_id", "text", "lang", "source", "n_chars")
    val g = Inference.mannWhitney(df).collect()(0)
    assert(g.getDouble(4) > 3.0, s"z=${g.getDouble(4)}")
  }

  test("kruskalWallis equals the brute-force rank ANOVA (q248)") {
    val rows = docs.select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val r2 = doubledRanks(rows.map(_._2))
    val n = rows.length.toLong
    val ties = rows.map(_._2).groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val per = rows.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(r => r2(r._2)).sum)
    }.toMap
    val termsMicro = per.toSeq.sortBy(_._1).map { case (_, (nj, rjx2)) =>
      math.round(3.0 * rjx2.toDouble * rjx2.toDouble
        / (n.toDouble * (n + 1) * nj) * 1000000.0)
    }
    val hRaw = termsMicro.sum / 1000000.0 - 3.0 * (n + 1)
    val tieCorr = 1.0 - ties.toDouble / (n.toDouble * n * n - n)
    val got = Inference.kruskalWallis(docs).collect()
    assert(got.length == per.size)
    got.foreach { g =>
      val (nj, rjx2) = per(g.getString(0))
      assert(g.getLong(1) == nj)
      assert(g.getDouble(2) == roundN(rjx2.toDouble / (2.0 * nj), 4))
      assert(g.getDouble(3) == roundN(hRaw, 4))
      assert(g.getDouble(4) == roundN(hRaw / tieCorr, 4))
      assert(g.getLong(5) == per.size - 1L)
    }
  }

  test("spearmanRho equals brute-force Pearson-on-average-ranks; 1.0 on a monotone pair (q249)") {
    val rows = docs.select(col("n_chars"),
        size(split(col("text"), " ")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rx = doubledRanks(rows.map(_._1)); val ry = doubledRanks(rows.map(_._2))
    val n = rows.length.toLong
    val (sx, sy) = (rows.map(r => rx(r._1)).sum, rows.map(r => ry(r._2)).sum)
    val sxx = rows.map(r => rx(r._1) * rx(r._1)).map(BigInt(_)).sum
    val syy = rows.map(r => ry(r._2) * ry(r._2)).map(BigInt(_)).sum
    val sxy = rows.map(r => rx(r._1) * ry(r._2)).map(BigInt(_)).sum
    val cov = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
    val vx = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
    val vy = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
    val g = Inference.spearmanRho(docs).collect()(0)
    assert(g.getLong(0) == n)
    assert(g.getDouble(1) == roundN(cov / (math.sqrt(vx) * math.sqrt(vy)), 6))

    import spark.implicits._
    // y strictly increasing in x → ranks identical → ρ = 1 exactly
    val mono = (1 to 30).map(i => (i.toLong, ("w " * i).trim, "en", "s", 10L + 2 * i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Inference.spearmanRho(mono).collect()(0).getDouble(1) == 1.0)
  }

  test("didEstimate equals the brute-force per-user change test (q250)") {
    val NsPerDay = 86400L * 1000000000L
    val evs = events.select("user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val days = evs.map(_._2 / NsPerDay)
    val mid = (days.min + days.max + 1) / 2
    val perUser = evs.filter(_._3 == "purchase").groupBy(_._1).view.mapValues { g =>
      val x = g.filter(_._2 / NsPerDay < mid)
        .map(e => math.round(e._4 * 10000)).sum
      val y = g.filter(_._2 / NsPerDay >= mid)
        .map(e => math.round(e._4 * 10000)).sum
      (x, y)
    }.toMap
    val ds = evs.map(_._1).distinct.map { u =>
      val (x, y) = perUser.getOrElse(u, (0L, 0L))
      (arm(u), y - x)
    }
    def stats(a: Long): (Long, Long, BigInt) = {
      val g = ds.filter(_._1 == a).map(_._2)
      (g.length.toLong, g.sum, g.map(d => BigInt(d) * d).sum)
    }
    val (na, sa, ssa) = stats(0L); val (nb, sb, ssb) = stats(1L)
    val ma = sa.toDouble / na; val mb = sb.toDouble / nb
    val va = (ssa.toDouble - sa.toDouble * sa / na) / (na - 1)
    val vb = (ssb.toDouble - sb.toDouble * sb / nb) / (nb - 1)
    val g = Events.didEstimate(events).collect()(0)
    assert(g.getLong(0) == na && g.getLong(1) == nb)
    assert(g.getDouble(2) == roundN(ma / 1e4, 4))
    assert(g.getDouble(3) == roundN(mb / 1e4, 4))
    assert(g.getDouble(4) == roundN((mb - ma) / 1e4, 4))
    assert(g.getDouble(5) == roundN(math.sqrt(va / na + vb / nb) / 1e4, 4))
    assert(g.getDouble(6) == roundN((mb - ma) / math.sqrt(va / na + vb / nb), 4))
    // the fixture is an A/A: the change-score test must sit inside 1.96
    assert(math.abs(g.getDouble(6)) < 1.96)
  }

  test("seasonalNaiveEval equals the brute-force lag-7 evaluation (q252)") {
    val NsPerDay = 86400L * 1000000000L
    val daily = events.select("ts").collect().map(_.getLong(0) / NsPerDay)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val mx = daily.keys.max
    val scored = daily.toSeq.flatMap { case (d, c) =>
      daily.get(d - 7).map(f => (d, c, f, math.abs(c - f), d > mx - 7))
    }
    val train = scored.filter(!_._5); val tst = scored.filter(_._5)
    val maeTr = train.map(_._4).sum.toDouble / train.size
    val maeTe = tst.map(_._4).sum.toDouble / tst.size
    val smape = tst.map(s => s._4 * 2.0 / (s._2 + s._3)).sum / tst.size
    val g = Events.seasonalNaiveEval(events).collect()(0)
    assert(g.getLong(0) == train.size && g.getLong(1) == tst.size)
    assert(g.getDouble(2) == roundN(maeTr, 4))
    assert(g.getDouble(3) == roundN(maeTe, 4))
    assert(g.getDouble(4) == roundN(maeTe / maeTr, 6))
    assert(math.abs(g.getDouble(5) - roundN(smape, 6)) <= 1e-6)
  }

  test("ksTwoSample equals the brute-force integer ECDF supremum; 1.0 on disjoint supports (q253)") {
    val rows = docs.filter(col("source").isin("src0", "src1"))
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val a = rows.filter(_._1 == "src0").map(_._2)
    val b = rows.filter(_._1 == "src1").map(_._2)
    val n1 = a.length.toLong; val n2 = b.length.toLong
    val dNum = (a ++ b).distinct.map { v =>
      math.abs(a.count(_ <= v) * n2 - b.count(_ <= v) * n1)
    }.max
    val dRaw = dNum.toDouble / (n1.toDouble * n2)
    val lam = dRaw * math.sqrt(n1.toDouble * n2 / (n1 + n2))
    val l2 = lam * lam
    val q = 2.0 * (math.exp(-2.0 * l2) - math.exp(-8.0 * l2)
      + math.exp(-18.0 * l2) - math.exp(-32.0 * l2)
      + math.exp(-50.0 * l2) - math.exp(-72.0 * l2)
      + math.exp(-98.0 * l2) - math.exp(-128.0 * l2))
    val g = Inference.ksTwoSample(docs).collect()(0)
    assert(g.getLong(0) == n1 && g.getLong(1) == n2 && g.getLong(2) == dNum)
    assert(g.getDouble(3) == roundN(dRaw, 6))
    assert(g.getDouble(4) == roundN(math.max(math.min(q, 1.0), 0.0), 6))

    import spark.implicits._
    // disjoint supports → the ECDFs separate completely → D = 1, p ≈ 0
    val dj = ((1 to 30).map(i => (i.toLong, "t", "en", "src0", 100L + i)) ++
      (1 to 30).map(i => (100L + i, "t", "en", "src1", 500L + i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val gd = Inference.ksTwoSample(dj).collect()(0)
    assert(gd.getDouble(3) == 1.0 && gd.getDouble(4) < 1e-6)
    // identical samples → D = 0, λ = 0: the truncated alternating chain
    // MISCONVERGES there (it returns 0 where the true tail is 1 — a
    // false rejection); the λ < 0.3 pin must serve p = 1 exactly
    val same = ((1 to 30).map(i => (i.toLong, "t", "en", "src0", 100L + i % 7)) ++
      (1 to 30).map(i => (100L + i, "t", "en", "src1", 100L + i % 7)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val gs = Inference.ksTwoSample(same).collect()(0)
    assert(gs.getDouble(3) == 0.0 && gs.getDouble(4) == 1.0)
  }

  /** Spec-side replica of the pinned Kolmogorov tail. */
  private def kolmTail(lam: Double): Double = {
    val l2 = lam * lam
    val chain = 2.0 * (math.exp(-2.0 * l2) - math.exp(-8.0 * l2)
      + math.exp(-18.0 * l2) - math.exp(-32.0 * l2)
      + math.exp(-50.0 * l2) - math.exp(-72.0 * l2)
      + math.exp(-98.0 * l2) - math.exp(-128.0 * l2))
    if (lam < 0.3) 1.0 else math.max(math.min(chain, 1.0), 0.0)
  }

  test("ksPanel equals the brute-force per-source sup + BH step-up (q254)") {
    val rows = docs.select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = rows.length.toLong
    val values = rows.map(_._2).distinct.sorted
    val srcs = rows.map(_._1).distinct.sorted
    val scored = srcs.map { s =>
      val own = rows.filter(_._1 == s).map(_._2)
      val ns = own.length.toLong
      val dNum = values.map { v =>
        val fs = own.count(_ <= v).toLong
        val fa = rows.count(_._2 <= v).toLong
        math.abs(fs * (n - ns) - (fa - fs) * ns)
      }.max
      val dRaw = dNum.toDouble / (ns.toDouble * (n - ns))
      val lam = dRaw * math.sqrt(ns.toDouble * (n - ns) / n)
      (s, ns, dNum, dRaw, roundN(kolmTail(lam), 6))
    }
    val m = srcs.size.toLong
    val ranked = scored.sortBy { case (s, _, _, _, p) => (p, s) }.zipWithIndex
      .map { case (r, i) => (r, i + 1) }
    val kStar = ranked.filter { case ((_, _, _, _, p), i) => p <= i * 0.05 / m }
      .map(_._2).reduceOption(_ max _).getOrElse(0)
    val expected = ranked.map { case ((s, ns, dn, dr, p), i) =>
      (s, ns, dn, roundN(dr, 6), p, i, i <= kStar)
    }.sortBy(_._1)
    val got = Inference.ksPanel(docs).collect()
    assert(got.length == expected.size)
    got.zip(expected).foreach { case (g, (s, ns, dn, dr, p, i, sig)) =>
      assert(g.getString(0) == s && g.getLong(1) == ns && g.getLong(2) == dn)
      assert(g.getDouble(3) == dr && g.getDouble(4) == p)
      assert(g.getInt(5) == i && g.getBoolean(6) == sig)
    }
  }

  test("ksPanel flags a planted shifted source and spares the rest") {
    import spark.implicits._
    // 9 sources drawn from the same 12-value comb; the 10th shifted far
    // right → its ECDF separates → smallest p; BH must flag it
    val base = (0 until 9).flatMap { s =>
      (1 to 60).map(i => ((s * 1000 + i).toLong, "t", "en", s"s$s", 100L + i % 12))
    }
    val shifted = (1 to 60).map(i => ((9000 + i).toLong, "t", "en", "s9", 400L + i % 12))
    val df = (base ++ shifted).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Inference.ksPanel(df).collect()
    val flagged = got.filter(_.getBoolean(6)).map(_.getString(0)).toSet
    assert(flagged.contains("s9"), s"flagged=$flagged")
    // the shifted source carries the panel's best rank
    assert(got.filter(_.getString(0) == "s9").head.getInt(5) == 1)
  }

  test("jackknifeInfluence equals brute-force leave-one-out deltas; signs identify lifters (q251)") {
    val rows = docs.select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = rows.length.toLong
    val s = rows.map(_._2).sum
    val k = rows.count(_._2 >= 300L).toLong
    val got = Inference.jackknifeInfluence(docs).collect()
    got.foreach { g =>
      val grp = rows.filter(_._1 == g.getString(0))
      val ns = grp.length.toLong; val ss = grp.map(_._2).sum
      val ks = grp.count(_._2 >= 300L).toLong
      assert(g.getLong(1) == ns)
      assert(g.getDouble(2) ==
        roundN(s.toDouble / n - (s - ss).toDouble / (n - ns), 6))
      assert(g.getDouble(3) ==
        roundN(k.toDouble / n - (k - ks).toDouble / (n - ns), 6))
      // identity: a source with above-average pass rate lifts the corpus
      val lifts = ks.toDouble / ns > k.toDouble / n
      if (math.abs(g.getDouble(3)) > 1e-9) assert((g.getDouble(3) > 0) == lifts)
    }
    // influences telescope: Σ_s ns·infl_s ≈ 0 is NOT an identity (the
    // jackknife deltas are not a partition), but the full-corpus mean is
    // recoverable from any single row: mean_all = infl + mean_loo — spot
    // check one source end to end
    val g0 = got(0)
    val grp = rows.filter(_._1 == g0.getString(0))
    val loo = (s - grp.map(_._2).sum).toDouble / (n - grp.length)
    assert(math.abs((loo + g0.getDouble(2)) - s.toDouble / n) < 1e-3)
  }

  private val NsDay = 86400L * 1000000000L

  /** (day, count) ascending from the fixture events. */
  private def dailyCounts: Seq[(Long, Long)] =
    events.select("ts").collect().map(_.getLong(0) / NsDay)
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)

  test("ewmaControl equals the brute-force fold; planted drift flags late days only (q255)") {
    val daily = dailyCounts
    val cs = daily.map(_._2.toDouble)
    val t = daily.length.toLong
    val s = daily.map(_._2).sum
    val ss = daily.map(c => c._2 * c._2).sum
    val mu = s.toDouble / t
    val sigma = math.sqrt((ss.toDouble - s.toDouble * s / t) / t)
    var acc = mu
    val exp = daily.zipWithIndex.map { case ((d, c), p) =>
      val i = p + 1
      acc = 0.2 * cs(p) + 0.8 * acc
      val band = 3.0 * sigma * math.sqrt(0.2 / (2.0 - 0.2)
        * (1.0 - math.pow(0.8, 2.0 * i)))
      (d, c, i.toLong, roundN(acc, 4), roundN(mu, 4), roundN(band, 4),
        roundN(math.abs(acc - mu), 6) > roundN(band, 6))
    }
    val got = Events.ewmaControl(events).collect()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getDouble(3),
        g.getDouble(4), g.getDouble(5), g.getBoolean(6)) == e)
    }
    // planted drift: 20 flat days then a +100 step — the chart must stay
    // quiet through the flat prefix and alarm within the drifted tail
    import spark.implicits._
    val synth = (1 to 30).map(d => (d.toLong, if (d <= 20) 100L else 200L))
      .toDF("d", "c")
    val rows = graft.operators.Events.ewmaFromDailyCounts(synth, 0.2, 3.0)
      .collect().map(r => (r.getLong(0), r.getBoolean(6)))
    assert(rows.filter(_._1 <= 20L).forall(!_._2), "no flag before the step")
    assert(rows.exists(r => r._1 > 20L && r._2), "the drifted tail must alarm")
  }

  test("changepointScan equals the brute-force argmax; planted step is localized (q259)") {
    val daily = dailyCounts
    val t = daily.length.toLong
    val st = daily.map(_._2).sum
    val sst = daily.map(c => c._2 * c._2).sum
    val sigma = math.sqrt((sst.toDouble - st.toDouble * st / t) / t)
    var sk = 0L
    val cands = daily.zipWithIndex.dropRight(1).map { case ((d, c), p) =>
      sk += c
      val k = p + 1L
      val num = math.abs(t * sk - k * st)
      val ck = num.toDouble / (math.sqrt((k * (t - k) * t).toDouble) * sigma)
      (d, k, ck, sk)
    }
    val best = cands.maxBy(c => (roundN(c._3, 6), -c._1))
    val g = Events.changepointScan(events).collect()(0)
    assert(g.getLong(0) == best._1 && g.getLong(1) == best._2)
    assert(g.getDouble(3) == roundN(best._3, 4))
    assert(g.getDouble(4) == roundN(best._4.toDouble / best._2, 4))
    assert(g.getDouble(5) ==
      roundN((st - best._4).toDouble / (t - best._2), 4))
    // planted step: 20 days at 100/day then 10 at 200/day — the scan
    // must split exactly at the boundary with a vanishing p
    import spark.implicits._
    val ts = (for (d <- 0 until 30; j <- 0 until (if (d < 20) 100 else 200))
      yield d * NsDay + j).toDF("ts")
    val r = Events.changepointScan(ts).collect()(0)
    assert(r.getLong(0) == 19L, "split day = last pre-change day")
    assert(r.getDouble(6) < 0.001, "planted step must reject")
    assert(r.getDouble(4) == 100.0 && r.getDouble(5) == 200.0)
    // gap days: the scan runs on the observed days, so the split counts
    // add up to the days with events, not to the calendar span
    val gapped = (for (d <- 0 until 30 if d % 7 != 3; j <- 0 until (if (d < 20) 100 else 200))
      yield d * NsDay + j).toDF("ts")
    val gr = Events.changepointScan(gapped).collect()(0)
    assert(gr.getLong(0) == 19L)
    assert(gr.getLong(1) + gr.getLong(2) == (0 until 30).count(_ % 7 != 3))
  }

  test("overdispersionPanel equals brute-force moments; bursty frame flags (q260)") {
    val rows = events.select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = rows.map(_._2).distinct.length.toLong
    val byType = rows.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).values.map(_.length.toLong).toSeq).toMap
    val got = Events.overdispersionPanel(events).collect()
    assert(got.length == byType.size)
    got.foreach { g =>
      val cs = byType(g.getString(0))
      val s = cs.sum; val ss = cs.map(c => c * c).sum
      val mean = s.toDouble / n
      val vr = (ss.toDouble - s.toDouble * s / n) / (n - 1)
      val z = math.sqrt(2.0 * ((n - 1).toDouble * vr / mean)) -
        math.sqrt(2.0 * (n - 1).toDouble - 1.0)
      assert(g.getLong(1) == n && g.getLong(2) == cs.length.toLong
        && g.getLong(3) == s)
      assert(g.getDouble(4) == roundN(mean, 6))
      assert(g.getDouble(5) == roundN(vr / mean, 4))
      assert(g.getDouble(6) == roundN(z, 4))
      assert(g.getBoolean(7) == (roundN(z, 4) > 1.6449))
    }
    // constructed contrast on one user universe: a type where every user
    // fires once (underdispersed) vs one where a single user holds the
    // burst — only the burst flags
    import spark.implicits._
    val flat = (1 to 100).map(u => ("steady", u.toLong))
    val burst = (1 to 99).map(u => ("bursty", u.toLong)) ++
      Seq.fill(100)(("bursty", 100L))
    val panel = Events.overdispersionPanel((flat ++ burst)
      .toDF("event_type", "user_id")).collect()
      .map(r => (r.getString(0), r.getBoolean(7))).toMap
    assert(panel("bursty") && !panel("steady"))
  }

  test("holtForecastEval equals the brute-force fold; exact-linear series recovered (q261)") {
    val daily = dailyCounts
    val cs = daily.map(_._2.toDouble)
    val ntr = cs.length - 7
    var l = cs(0); var b = cs(1) - cs(0)
    (1 until ntr).foreach { p =>
      val nl = 0.3 * cs(p) + 0.7 * (l + b)
      b = 0.1 * (nl - l) + 0.9 * b
      l = nl
    }
    val saeNaive = (1 until ntr).map(p => math.abs(cs(p) - cs(p - 1))).sum
    val saeTest = (1 to 7).map(h => math.abs(cs(ntr - 1 + h) - (l + h * b))).sum
    val g = Events.holtForecastEval(events).collect()(0)
    assert(g.getLong(0) == ntr.toLong && g.getLong(1) == 7L)
    assert(g.getDouble(2) == roundN(l, 4) && g.getDouble(3) == roundN(b, 4))
    assert(g.getDouble(4) == roundN(saeTest / 7.0, 4))
    assert(g.getDouble(5) == roundN((saeTest / 7.0) / (saeNaive / (ntr - 1)), 6))
    // exact linear series: Holt locks on (l_t = x_t, b = slope) and
    // forecasts the held-out week perfectly
    import spark.implicits._
    val ts = (for (d <- 0 until 30; j <- 0 until (10 + 3 * d))
      yield d * NsDay + j).toDF("ts")
    val r = Events.holtForecastEval(ts).collect()(0)
    assert(r.getDouble(3) == 3.0 && r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
  }

  test("mutualInformation equals brute force; bijective map saturates NMI, proportional grid zeroes MI (q262)") {
    val rows = docs.select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toLong
    val o = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val mi6 = o.map { case ((s, l), c) =>
      math.round(c.toDouble / n * log2(c.toDouble * n / (rt(s).toDouble * ct(l)))
        * 1000000.0)
    }.sum
    def h6(m: Map[String, Long]) = m.values.map(c =>
      math.round(-(c.toDouble / n * log2(c.toDouble / n)) * 1000000.0)).sum
    val g = Inference.mutualInformation(docs).collect()(0)
    assert(g.getLong(0) == n)
    assert(g.getDouble(1) == roundN(mi6 / 1000000.0, 6))
    assert(g.getDouble(2) == roundN(h6(rt) / 1000000.0, 6))
    assert(g.getDouble(3) == roundN(h6(ct) / 1000000.0, 6))
    import spark.implicits._
    // lang a bijection of source → I = H(source) = H(lang) → NMI = 1
    val bij = (1 to 4).flatMap(i => Seq.fill(10)((s"s$i", s"l$i")))
      .toDF("source", "lang")
    assert(Inference.mutualInformation(bij).collect()(0).getDouble(4) >= 0.9999)
    // exactly proportional cells → every MI term is 0 bits
    val prop = (Seq.fill(10)(("a", "en")) ++ Seq.fill(10)(("a", "de"))
      ++ Seq.fill(20)(("b", "en")) ++ Seq.fill(20)(("b", "de")))
      .toDF("source", "lang")
    assert(Inference.mutualInformation(prop).collect()(0).getDouble(1) == 0.0)
  }

  test("cmhStratified equals brute-force hypergeometric moments; Simpson-style confounding zeroes out (q264)") {
    val byUser = events.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rows = byUser.toSeq.map { case (u, ts) =>
      val stratum = 63 - java.lang.Long.numberOfLeadingZeros(ts.length.toLong)
      (stratum.toLong, arm(u), if (ts.contains("purchase")) 1L else 0L)
    }
    val perStr = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var d6 = 0L; var v6 = 0L
    val expRows = perStr.map { case (st, rs) =>
      val n1 = rs.count(_._2 == 0L).toLong; val n2 = rs.count(_._2 == 1L).toLong
      val a = rs.filter(_._2 == 0L).map(_._3).sum
      val m1 = rs.map(_._3).sum; val nk = n1 + n2
      val ok = nk > 1 && m1 > 0 && m1 < nk
      val e = n1.toDouble * m1 / nk
      val v = n1.toDouble * n2 * m1 * (nk - m1) /
        (nk.toDouble * nk * (nk - 1))
      if (ok) { d6 += math.round((a - e) * 1000000.0); v6 += math.round(v * 1000000.0) }
      (st, n1, n2, a, m1 - a, if (ok) Some(roundN(e, 4)) else None)
    }
    val z = if (v6 > 0) Some(roundN((d6.toDouble / 1000000.0)
      / math.sqrt(v6.toDouble / 1000000.0), 4)) else None
    val got = Events.cmhStratified(events).collect()
    assert(got.length == expRows.length)
    got.zip(expRows).foreach { case (g, (st, n1, n2, a, b, e)) =>
      assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3),
        g.getLong(4)) == ((st, n1, n2, a, b)))
      assert((if (g.isNullAt(5)) None else Some(g.getDouble(5))) == e)
      assert((if (g.isNullAt(7)) None else Some(g.getDouble(7))) == z)
    }
    // the fixture is an A/A (md5 coin): the pooled CMH z must sit inside
    // the 1.96 band like q192's
    assert(z.forall(math.abs(_) < 1.96))

    // Simpson-style construction: within each activity stratum both arms
    // convert at the SAME rate, but arm 0 is overrepresented in the
    // high-converting stratum — a naive pooled 2x2 sees a large gap, CMH
    // sees none. Users are picked by their REAL md5 arm.
    import spark.implicits._
    val ids0 = Iterator.from(1).map(_.toLong).filter(arm(_) == 0L)
    val ids1 = Iterator.from(1).map(_.toLong).filter(arm(_) == 1L)
    def mk(ids: Iterator[Long], k: Int, nEvents: Int, conv: Int): Seq[(Long, String)] =
      ids.take(k).toSeq.zipWithIndex.flatMap { case (u, i) =>
        val purchase = if (i < conv) Seq((u, "purchase")) else Seq.empty
        purchase ++ Seq.fill(nEvents - purchase.length)((u, "view"))
      }
    // stratum floor(log2(2)) = 1: high conversion (50%); arm0-heavy
    // stratum floor(log2(8)) = 3: low conversion (10%); arm1-heavy
    val synth = (mk(ids0, 80, 2, 40) ++ mk(ids1, 20, 2, 10)
      ++ mk(ids0, 20, 8, 2) ++ mk(ids1, 80, 8, 8))
      .toDF("user_id", "event_type")
    val panel = Events.cmhStratified(synth).collect()
    assert(panel.length == 2)
    // per-stratum rate gaps are exactly zero, hence pooled z is 0
    panel.foreach { r =>
      assert(r.getDouble(6) == 0.0)
      assert(r.getDouble(7) == 0.0)
    }
    // while the NAIVE pooled gap is large (the trap CMH exists to avoid):
    // arm0 converts (40+2)/100, arm1 (10+8)/100
    assert(math.abs((40 + 2) / 100.0 - (10 + 8) / 100.0) > 0.2)
  }

  test("permutationTest equals the brute-force relabelings; A/A accepts, planted effect hits the p floor (q267)") {
    def armOf(s: String): Long =
      java.lang.Long.parseLong(md5Hex(s).substring(0, 4), 16) % 2
    val vm = events.select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.filter(_._2 == "purchase")
        .map(e => math.round(e._3 * 10000)).sum).toMap
    def diff(armF: Long => Long): Option[Double] = {
      val (a, b) = vm.partition { case (u, _) => armF(u) == 0L }
      if (a.isEmpty || b.isEmpty) None
      else Some(math.abs(a.values.sum.toDouble / a.size
        - b.values.sum.toDouble / b.size))
    }
    val dObs = diff(u => armOf(u.toString)).get
    val dBs = (1 to 64).flatMap(b => diff(u => armOf(s"$u:$b")))
    val ge = dBs.count(db => roundN(db, 6) >= roundN(dObs, 6))
    val g = Events.permutationTest(events).collect()(0)
    assert(g.getLong(0) == vm.size.toLong)
    assert(g.getDouble(5) == roundN(dObs / 10000.0, 4))
    assert(g.getLong(6) == 64L)
    assert(g.getDouble(7) == roundN((ge + 1).toDouble / 65, 6))
    // the fixture is an A/A: the permutation p must not reject at 5%
    assert(g.getDouble(7) > 0.05)
    // planted effect on REAL md5 arms: arm-0 users purchase 10x — no
    // relabeling reproduces the aligned split, so p hits the floor zone
    import spark.implicits._
    val ids0 = Iterator.from(1).map(_.toLong).filter(u => armOf(u.toString) == 0L)
      .take(40).toSeq
    val ids1 = Iterator.from(10000).map(_.toLong)
      .filter(u => armOf(u.toString) == 1L).take(40).toSeq
    val synth = (ids0.map(u => (u, "purchase", 10.0))
      ++ ids1.map(u => (u, "purchase", 1.0)))
      .toDF("user_id", "event_type", "value")
    val p = Events.permutationTest(synth).collect()(0).getDouble(7)
    assert(p <= 3.0 / 65, s"planted effect should be near the 1/65 floor: $p")
  }

  test("retentionDecayFit equals brute force; an exactly-geometric cohort recovers slope -ln2 (q270)") {
    val NsD = 86400L * 1000000000L
    val act = events.select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1) / NsD)).distinct
    val coh = act.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val tri = act.map { case (u, d) => (coh(u), d - coh(u)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sizes = tri.collect { case ((cd, 0L), n) => (cd, n) }.toMap
    val mx = tri.keys.map { case (cd, off) => cd + off }.max
    val offs = (1L to (mx - coh.values.min)).flatMap { off =>
      val den = sizes.collect { case (cd, sz) if mx - cd >= off => sz }.sum
      val a = tri.collect { case ((_, o), n) if o == off => n }.sum
      if (a > 0) Some((off, math.round(math.log(a.toDouble / den) * 1e6))) else None
    }
    val np = offs.length.toLong
    val sx = offs.map(_._1).sum; val sy = offs.map(_._2).sum
    val sxx = offs.map(o => o._1 * o._1).sum
    val sxy = offs.map(o => o._1 * o._2).sum
    val dx = np.toDouble * sxx - sx.toDouble * sx
    val cn = np.toDouble * sxy - sx.toDouble * sy
    val slope = cn / dx / 1000000.0
    val g = Events.retentionDecayFit(events).collect()(0)
    assert(g.getLong(0) == np)
    assert(g.getDouble(1) == roundN(slope, 6))
    // the headline identities on the operator's own outputs
    if (!g.isNullAt(3)) assert(g.getDouble(3) > 0.0)
    if (!g.isNullAt(4)) assert(g.getDouble(4) >= 0.0 && g.getDouble(4) <= 1.0)
    // constructed geometric cohort: 1024 users on day 0, active share
    // halves every day for 10 days → slope = −ln2, half-life 1 day, r² ≈ 1
    import spark.implicits._
    val ts = (1 to 1024).flatMap { i =>
      val l = 63 - java.lang.Long.numberOfLeadingZeros(1024L / i)
      (0L to l.toLong).map(d => (i.toLong, d * NsD + i))
    }.toDF("user_id", "ts")
    val r = Events.retentionDecayFit(ts).collect()(0)
    assert(r.getLong(0) == 10L)
    assert(math.abs(r.getDouble(1) + math.log(2.0)) < 1e-5)
    assert(r.getDouble(3) == 1.0)
    assert(r.getDouble(4) > 0.999999)
  }

  test("changepointPanel: per-type scans equal q259 run per slice; planted shift flags only its type (q275)") {
    // per-type equivalence: the panel's per-type row (before BH) must
    // equal changepointScan run on that type's events alone
    val types = events.select("event_type").distinct().collect()
      .map(_.getString(0)).sorted
    val panel = Events.changepointPanel(events).collect()
      .map(r => r.getString(0) -> r).toMap
    types.foreach { t =>
      val solo = Events.changepointScan(
        events.filter(col("event_type") === t)).collect()(0)
      val p = panel(t)
      assert((p.getLong(1), p.getLong(2), p.getLong(3), p.getDouble(4),
        p.getDouble(5), p.getDouble(6), p.getDouble(7)) ==
        ((solo.getLong(0), solo.getLong(1), solo.getLong(2), solo.getDouble(3),
          solo.getDouble(4), solo.getDouble(5), solo.getDouble(6))))
    }
    // BH bookkeeping: ranks are a permutation of 1..m
    assert(panel.values.map(_.getInt(8)).toSeq.sorted == (1 to types.length))
    // planted shift: one type steps 100→200 after day 20, two types stay
    // on a jittered flat comb — only the shifted type is significant
    import spark.implicits._
    val ts = (for {
      (t, step) <- Seq(("shift", true), ("flat1", false), ("flat2", false))
      d <- 0 until 30
      j <- 0 until (if (step && d >= 20) 200 else 100 + (d % 2))
    } yield (t, d * NsDay + j)).toDF("event_type", "ts")
    val full = Events.changepointPanel(ts).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(9)))).toMap
    assert(full("shift") == ((19L, true)), s"planted step: ${full("shift")}")
    assert(!full("flat1")._2 && !full("flat2")._2, s"combs spared: $full")
  }

  test("weekdayEffect equals kruskalWallisOn over phases; planted weekly rhythm detected (q276)") {
    // the registered query's H must match a brute-force doubled-rank KW
    // over (phase, daily count)
    val daily = dailyCounts
    val obs = daily.map { case (d, c) => (s"phase${d % 7}", c) }
    val byVal = obs.map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    var cl = 0L
    val r2 = byVal.map { case (v, t) =>
      val r = 2 * cl + t + 1; cl += t; v -> r
    }.toMap
    val n = obs.length.toLong
    val perPhase = obs.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(o => r2(o._2)).sum)
    }.toMap
    val cj6 = perPhase.values.map { case (nj, rj2) =>
      math.round(3.0 * rj2.toDouble * rj2.toDouble / (n.toDouble * (n + 1) * nj)
        * 1000000.0)
    }.sum
    val hRaw = cj6 / 1000000.0 - 3.0 * (n + 1)
    val got = Events.weekdayEffect(events).collect()
    assert(got.length == perPhase.size)
    got.foreach { g =>
      assert(g.getDouble(3) == roundN(hRaw, 4))
      assert(g.getLong(5) == perPhase.size - 1L)
    }
    // planted rhythm over 8 weeks: phase-0 days carry 3x the count — H
    // clears the chi2(6) 5% critical value 12.59; a flat comb scores 0
    import spark.implicits._
    val rhythmic = (for {
      d <- 0 until 56
      j <- 0 until (if (d % 7 == 0) 150 else 50)
    } yield d * NsDay + j).toDF("ts")
    val h = Events.weekdayEffect(rhythmic).collect()(0).getDouble(3)
    assert(h > 12.59, s"weekly rhythm must reject: $h")
    val flat = (for { d <- 0 until 56; j <- 0 until 50 }
      yield d * NsDay + j).toDF("ts")
    // constant counts: every day ties at rank mid — H = 0 under the
    // tie-averaged convention (tie_corr null-guards the corrected form)
    val hf = Events.weekdayEffect(flat).collect()(0)
    assert(hf.getDouble(3) == 0.0)
  }

  test("ebShrunkRates equals brute force; posterior means interpolate raw and pooled with the n/(n+M) law (q278)") {
    val per = docs.select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues { g =>
        (g.length.toLong, g.count(_._2 >= 300L).toLong)
      }.toMap
    val r6 = per.view.mapValues { case (n, k) =>
      math.round(k.toDouble / n * 1000000.0)
    }.toMap
    val j = per.size.toLong
    val sr = r6.values.sum; val srr = r6.values.map(v => v * v).sum
    val m = sr.toDouble / j.toDouble / 1000000.0
    val v = (srr.toDouble - sr.toDouble * sr / j.toDouble) / (j - 1) / 1.0e12
    val mStr = m * (1.0 - m) / v - 1.0
    assert(v > 0.0 && mStr > 0.0, "fixture ensemble must be informative")
    val got = Inference.ebShrunkRates(docs).collect()
    assert(got.length == per.size)
    got.foreach { g =>
      val (n, k) = per(g.getString(0))
      val raw = k.toDouble / n
      val shr = (k + m * mStr) / (n + mStr)
      assert(g.getLong(1) == n && g.getLong(2) == k)
      assert(g.getDouble(3) == roundN(raw, 6))
      assert(g.getDouble(4) == roundN(shr, 6))
      assert(g.getDouble(5) == roundN(m, 6))
      assert(g.getDouble(6) == roundN(mStr, 4))
      // the posterior mean sits BETWEEN the raw rate and the pool, and
      // the shrink fraction is exactly M/(n+M) — decreasing in n
      assert((shr - raw) * (m - raw) >= 0.0)
      if (raw != m)
        assert(math.abs((raw - shr) / (raw - m) - mStr / (n + mStr)) < 1e-9)
    }
  }

  test("mdeReadout equals brute force; MDE/se is exactly the 2.8016 planning constant (q279)") {
    val vms = events.select("user_id", "event_type", "value").collect()
      .filter(_.getString(1) == "purchase")
      .map(r => (arm(r.getLong(0)), math.round(r.getDouble(2) * 10000)))
    def mom(a: Long) = {
      val xs = vms.filter(_._1 == a).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (na, s1a, s2a) = mom(0L); val (nb, s1b, s2b) = mom(1L)
    def svar(s1: Long, s2: Long, n: Long) =
      (s2.toDouble - s1.toDouble * s1 / n) / (n - 1)
    val se = math.sqrt(svar(s1a, s2a, na) / na + svar(s1b, s2b, nb) / nb)
    val pooled = (s1a + s1b).toDouble / (na + nb)
    val g = Events.mdeReadout(events).collect()(0)
    assert(g.getLong(0) == na && g.getLong(1) == nb)
    assert(g.getDouble(2) == roundN(se / 10000.0, 4))
    assert(g.getDouble(3) == roundN(2.8016 * se / 10000.0, 4))
    assert(g.getDouble(4) == roundN(2.8016 * se / pooled, 6))
    // the planning identity, and the A/A sanity: the observed q192 z is
    // far inside the detectable band (the fixture has no treatment)
    assert(math.abs(g.getDouble(3) / g.getDouble(2) - 2.8016) < 1e-3)
    val dObs = math.abs(s1b.toDouble / nb - s1a.toDouble / na)
    assert(dObs < 2.8016 * se, "A/A observed diff must sit under the MDE")
  }

  test("neweyWestSe equals the brute-force HAC formula; persistence inflates, alternation deflates (q277)") {
    val daily = dailyCounts
    val d0 = daily.map(_._1).min; val d1 = daily.map(_._1).max
    val byDay = daily.toMap
    val xs = (d0 to d1).map(d => byDay.getOrElse(d, 0L))
    def nw(series: Seq[Long], maxLag: Int = 7): (Long, Double, Double, Double) = {
      val t = series.length.toLong; val s = series.sum
      val y = series.map(x => t * x - s)
      val num0 = y.map(v => v * v).sum
      val wsum = (1 to maxLag).map { l =>
        val numl = (0 until (series.length - l)).map(i => y(i) * y(i + l)).sum
        2L * (maxLag + 1) * numl - 2L * l * numl
      }.sum
      val td = t.toDouble
      val vN = num0.toDouble / (td * td * (t - 1)) / td
      val vW = math.max(((maxLag + 1).toDouble * num0 + wsum)
        / ((maxLag + 1).toDouble * td * td * td * td), 0.0)
      (t, s.toDouble / t, math.sqrt(vN), math.sqrt(vW))
    }
    val (t, mu, seN, seW) = nw(xs)
    val g = Events.neweyWestSe(events).collect()(0)
    assert(g.getLong(0) == t)
    assert(g.getDouble(1) == roundN(mu, 4))
    assert(g.getDouble(2) == roundN(seN, 6) && g.getDouble(3) == roundN(seW, 6))
    assert(g.getDouble(4) == roundN(seW / seN, 4))
    // constructed: a 16-day level shift keeps every lag ≤ 7 positively
    // autocorrelated and must INFLATE the honest se (a short-period
    // block comb self-cancels at the longer lags — measured, so the
    // canary is the shift); strict alternation must DEFLATE it
    import spark.implicits._
    def mk(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (c, d) =>
      (0 until c).map(j => d.toLong * NsDay + j)
    }.toDF("ts")
    val persistent = mk((0 until 32).map(d => if (d < 16) 150 else 50))
    val rp = Events.neweyWestSe(persistent).collect()(0).getDouble(4)
    assert(rp > 1.5, s"a level shift must inflate the se: $rp")
    val alternating = mk((0 until 32).map(d => if (d % 2 == 0) 150 else 50))
    val ra = Events.neweyWestSe(alternating).collect()(0).getDouble(4)
    assert(ra < 0.8, s"alternation must deflate the se: $ra")
    // one day has no sample variance: the naive se and the ratio are
    // null, not an ANSI divide-by-zero, and the HAC se is 0
    val one = Events.neweyWestSe(mk(Seq(5))).collect()(0)
    assert(one.getLong(0) == 1L && one.isNullAt(2) && one.getDouble(3) == 0.0 && one.isNullAt(4))
    // gap days: the series spans the calendar, and a missing day is a zero
    val gapCounts = (0 until 20).map(d => if (Set(3, 4, 11)(d)) 0 else 40 + 7 * (d % 5))
    val (gt, gmu, gseN, gseW) = nw(gapCounts.map(_.toLong))
    val gapped = Events.neweyWestSe(mk(gapCounts)).collect()(0)
    assert(gapped.getLong(0) == 20L && gt == 20L)
    assert(gapped.getDouble(1) == roundN(gmu, 4))
    assert(gapped.getDouble(2) == roundN(gseN, 6) && gapped.getDouble(3) == roundN(gseW, 6))
  }

  test("medianCi equals brute-force order statistics; interval brackets; uniform closed form (q271)") {
    val vals = events.select("event_type", "value").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 10000)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val got = Events.medianCi(events).collect()
    assert(got.length == vals.size)
    got.foreach { g =>
      val xs = vals(g.getString(0)); val n = xs.length
      def kth(k: Long): Double = xs((k - 1).toInt.max(0).min(n - 1)) / 10000.0
      val half = 1.96 * math.sqrt(n.toDouble)
      val kMed = math.ceil(n / 2.0).toLong
      val kLo = math.max(math.floor((n - half) / 2.0).toLong, 1L)
      val kHi = math.min(math.ceil(1.0 + (n + half) / 2.0).toLong, n.toLong)
      assert(g.getLong(1) == n.toLong)
      assert(g.getDouble(2) == roundN(kth(kMed), 4))
      assert(g.getDouble(3) == roundN(kth(kLo), 4))
      assert(g.getDouble(4) == roundN(kth(kHi), 4))
      assert(g.getDouble(3) <= g.getDouble(2) && g.getDouble(2) <= g.getDouble(4))
    }
    // uniform 1..100 (values i/10000): n=100, half=19.6 → klo=40, khi=61
    import spark.implicits._
    val uni = (1 to 100).map(i => ("u", i / 10000.0)).toDF("event_type", "value")
    val u = Events.medianCi(uni).collect()(0)
    assert(u.getLong(1) == 100L)
    assert(u.getDouble(2) == 0.005 && u.getDouble(3) == 0.004 && u.getDouble(4) == 0.0061)
  }

  test("logrankTest equals brute force; identical curves score exactly 0; a planted arm effect rejects (q281)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // brute-force replica on the fixture: q235's per-user frame + arm
    val rows = events.select(col("user_id"), col("event_type"), col("ts").cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mxTs = rows.map(_._3).max
    val su = rows.filter(_._2 == "signup").groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val purch = rows.filter(_._2 == "purchase").groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    val pu = su.toSeq.map { case (uid, s) =>
      val p = purch.getOrElse(uid, Array.empty[Long]).filter(_ > s)
      if (p.nonEmpty) (arm(uid), (p.min - s) / NsDay, 1L)
      else (arm(uid), (mxTs - s) / NsDay, 0L)
    }
    def brute(per: Seq[(Long, Long, Long)]): (Long, Long, Long, Long, Long) = {
      val byT = per.groupBy(_._2).toSeq.sortBy(_._1)
      var r = per.size.toLong; var rA = per.count(_._1 == 0L).toLong
      var oA = 0L; var se6 = 0L; var sv6 = 0L
      byT.foreach { case (_, g) =>
        val d = g.map(_._3).sum; val dA = g.filter(_._1 == 0L).map(_._3).sum
        oA += dA
        if (d >= 1L) se6 += math.round(d.toDouble * rA / r * 1e6)
        if (d >= 1L && r >= 2L)
          sv6 += math.round(d.toDouble * (r - d) * rA * (r - rA)
            / (r.toDouble * r * (r - 1)) * 1e6)
        r -= g.size; rA -= g.count(_._1 == 0L)
      }
      (per.count(_._1 == 0L).toLong, per.count(_._1 == 1L).toLong, oA, se6, sv6)
    }
    val (nA, nB, oA, se6, sv6) = brute(pu)
    val g = Events.logrankTest(events).collect()(0)
    assert(g.getLong(0) == nA && g.getLong(1) == nB && g.getLong(2) == oA)
    assert(g.getDouble(3) == roundN(se6 / 1e6, 4))
    assert(g.getDouble(4) == roundN(sv6 / 1e6, 4))
    val z = (oA - se6 / 1e6) / math.sqrt(sv6 / 1e6)
    assert(g.getDouble(5) == roundN(z, 4))
    assert(g.getDouble(6) == roundN(z * z, 4))
    assert(g.getDouble(7) == roundN(math.min(2.0 * upperTail(math.abs(z)), 1.0), 6))
    // the fixture split is a true A/A: the log-rank z stays inside 4 sigma
    assert(math.abs(z) < 4.0, s"A/A log-rank z out of band: $z")

    // users picked by their ACTUAL md5 coin (the q264 device)
    val armed = (1L to 400L).map(u => (arm(u), u))
    val a0 = armed.filter(_._1 == 0L).map(_._2)
    val a1 = armed.filter(_._1 == 1L).map(_._2)
    def evFrame(users: Seq[(Long, Option[Long])], frontier: Long) = {
      val evs = users.zipWithIndex.flatMap { case ((u, conv), i) =>
        Seq((u, 2L * i, "signup", 0L, 0.0)) ++
          conv.map(t => (u, 2L * i + 1L, "purchase", t * NsDay, 0.0))
      } :+ (999999L, 888888L, "click", frontier * NsDay, 0.0)
      evs.toDF("user_id", "event_id", "event_type", "ts", "value")
    }
    // identical (t, churned) multisets in both arms -> O == E exactly
    val mirror = a0.take(4).zip(Seq(Some(1L), Some(3L), None, None)) ++
      a1.take(4).zip(Seq(Some(1L), Some(3L), None, None))
    val m0 = Events.logrankTest(evFrame(mirror, 10L)).collect()(0)
    assert(m0.getLong(2).toDouble == m0.getDouble(3),
      "identical curves: observed == expected exactly")
    assert(m0.getDouble(5) == 0.0 && m0.getDouble(7) == 1.0)
    // planted effect: arm 0 converts day 1, arm 1 never converts
    val eff = a0.take(30).map(u => (u, Option(1L))) ++
      a1.take(30).map(u => (u, Option.empty[Long]))
    val m1 = Events.logrankTest(evFrame(eff, 20L)).collect()(0)
    assert(m1.getDouble(5) > 0.0, "early-converting arm drives O_a above E_a")
    assert(m1.getDouble(7) < 0.01, "a 30-vs-30 total separation must reject")
  }

  test("ratioMetricDelta equals brute force; constant denominator collapses to the plain mean se (q282)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica: per-user (y, x) totals over ALL events
    val rows = events.select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byUser = rows.groupBy(_._1).map { case (u, g) =>
      (arm(u),
        g.filter(_._2 == "purchase").map(e => math.round(e._3 * 10000)).sum,
        g.count(_._2 == "click").toLong)
    }.toSeq
    def mom(a: Long) = {
      val g = byUser.filter(_._1 == a)
      (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(e => e._2 * e._2).sum, g.map(e => e._3 * e._3).sum,
        g.map(e => e._3 * e._2).sum)
    }
    def varR(n: Long, sy: Long, sx: Long, syy: Long, sxx: Long, sxy: Long) = {
      def sv(s12: Long, s1: Long, s2: Long) =
        (s12.toDouble - s1.toDouble * s2.toDouble / n.toDouble) / (n - 1)
      val r = sy.toDouble / sx.toDouble
      val xbar = sx.toDouble / n.toDouble
      (sv(syy, sy, sy) - 2.0 * r * sv(sxy, sx, sy) + r * r * sv(sxx, sx, sx)) /
        (n.toDouble * xbar * xbar)
    }
    val (na, sya, sxa, syya, sxxa, sxya) = mom(0L)
    val (nb, syb, sxb, syyb, sxxb, sxyb) = mom(1L)
    val rA = sya.toDouble / sxa.toDouble; val rB = syb.toDouble / sxb.toDouble
    val vA = varR(na, sya, sxa, syya, sxxa, sxya)
    val vB = varR(nb, syb, sxb, syyb, sxxb, sxyb)
    val z = (rB - rA) / math.sqrt(vA + vB)
    val g = Events.ratioMetricDelta(events).collect()(0)
    assert(g.getLong(0) == na && g.getLong(1) == nb)
    assert(g.getDouble(2) == roundN(rA / 1e4, 6))
    assert(g.getDouble(3) == roundN(rB / 1e4, 6))
    assert(g.getDouble(4) == roundN((rB - rA) / 1e4, 6))
    assert(g.getDouble(5) == roundN(math.sqrt(vA + vB) / 1e4, 6))
    assert(g.getDouble(6) == roundN(z, 4))
    assert(g.getDouble(7) == roundN(math.min(2.0 * upperTail(math.abs(z)), 1.0), 6))
    assert(math.abs(z) < 4.0, s"A/A ratio-metric z out of band: $z")
    // constant denominator (x == 1 per user): the delta-method variance
    // reduces EXACTLY to s_yy/n — the plain per-user mean se
    val armed = (1L to 300L).map(u => (arm(u), u))
    val evs = armed.zipWithIndex.flatMap { case ((_, u), i) =>
      Seq((u, 2L * i, "click", i.toLong * 1000L, 0.0),
        (u, 2L * i + 1L, "purchase", i.toLong * 1000L + 1L, (u % 7 + 1).toDouble))
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val c = Events.ratioMetricDelta(evs).collect()(0)
    val cU = armed.map { case (a, u) => (a, math.round((u % 7 + 1).toDouble * 10000)) }
    def meanVar(a: Long) = {
      val ys = cU.filter(_._1 == a).map(_._2)
      val n = ys.size.toLong
      val vy = (ys.map(y => y * y).sum.toDouble - ys.sum.toDouble * ys.sum / n) / (n - 1)
      vy / n
    }
    val seMean = math.sqrt(meanVar(0L) + meanVar(1L)) / 1e4
    assert(c.getDouble(5) == roundN(seMean, 6),
      "x==1: delta-method se must equal the plain two-sample mean se")
    // no per-user product ceiling: y ≈ 5·10⁹ micro-units per user makes
    // y·y ≈ 2.5·10¹⁹ > Long.MaxValue — the former long·long moment
    // aborted under ANSI; the DECIMAL multiply must compute, matching
    // the BigInt brute force
    val whales = (1L to 60L).flatMap { u =>
      Seq((u, u * 10L + 1L, "click", u * 1000L, 0.0),
        (u, u * 10L + 2L, "click", u * 1000L + 1L, 0.0),
        (u, u * 10L + 3L, "purchase", u * 1000L + 2L,
          400000.0 + (u % 7).toDouble * 20000.0))
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val w = Events.ratioMetricDelta(whales).collect()(0)
    val wu = (1L to 60L).map(u =>
      (arm(u), math.round((400000.0 + (u % 7).toDouble * 20000.0) * 10000), 2L))
    def momB(a: Long) = {
      val g = wu.filter(_._1 == a)
      (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(e => BigInt(e._2) * e._2).sum, g.map(e => BigInt(e._3) * e._3).sum,
        g.map(e => BigInt(e._3) * e._2).sum)
    }
    def varB(n: Long, sy: Long, sx: Long, syy: BigInt, sxx: BigInt, sxy: BigInt) = {
      def sv(s12: BigInt, s1: Long, s2: Long) =
        (s12.toDouble - s1.toDouble * s2.toDouble / n.toDouble) / (n - 1)
      val r = sy.toDouble / sx.toDouble
      val xbar = sx.toDouble / n.toDouble
      (sv(syy, sy, sy) - 2.0 * r * sv(sxy, sx, sy) + r * r * sv(sxx, sx, sx)) /
        (n.toDouble * xbar * xbar)
    }
    val (wna, wsya, wsxa, wsyya, wsxxa, wsxya) = momB(0L)
    val (wnb, wsyb, wsxb, wsyyb, wsxxb, wsxyb) = momB(1L)
    assert(wsyya > BigInt(Long.MaxValue),
      "fixture must actually exceed the long ceiling")
    val wrA = wsya.toDouble / wsxa.toDouble; val wrB = wsyb.toDouble / wsxb.toDouble
    val wvA = varB(wna, wsya, wsxa, wsyya, wsxxa, wsxya)
    val wvB = varB(wnb, wsyb, wsxb, wsyyb, wsxxb, wsxyb)
    assert(w.getLong(0) == wna && w.getLong(1) == wnb)
    assert(w.getDouble(2) == roundN(wrA / 1e4, 6))
    assert(w.getDouble(3) == roundN(wrB / 1e4, 6))
    assert(w.getDouble(5) == roundN(math.sqrt(wvA + wvB) / 1e4, 6))
  }

  test("tostEquivalence equals brute force; identical arms declare, a shifted arm refuses (q283)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica on the fixture's purchase micro-values
    val vms = events.select(col("user_id"), col("event_type"), col("value")).collect()
      .filter(_.getString(1) == "purchase")
      .map(r => (arm(r.getLong(0)), math.round(r.getDouble(2) * 10000)))
    def mom(a: Long) = {
      val xs = vms.filter(_._1 == a).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (na, s1a, s2a) = mom(0L); val (nb, s1b, s2b) = mom(1L)
    val se = math.sqrt(
      (s2a.toDouble - s1a.toDouble * s1a / na) / (na - 1) / na
        + (s2b.toDouble - s1b.toDouble * s1b / nb) / (nb - 1) / nb)
    val diff = s1b.toDouble / nb - s1a.toDouble / na
    val delta = 0.05 * ((s1a + s1b).toDouble / (na + nb))
    def tail(x: Double): Double =
      if (x >= 0.0) upperTail(x) else 1.0 - upperTail(-x)
    val pT = math.max(tail((diff + delta) / se), tail((delta - diff) / se))
    val g = Events.tostEquivalence(events).collect()(0)
    assert(g.getLong(0) == na && g.getLong(1) == nb)
    assert(g.getDouble(2) == roundN(s1a.toDouble / na / 1e4, 4))
    assert(g.getDouble(3) == roundN(s1b.toDouble / nb / 1e4, 4))
    assert(g.getDouble(4) == roundN(diff / 1e4, 4))
    assert(g.getDouble(5) == roundN(delta / 1e4, 4))
    assert(g.getDouble(6) == roundN(se / 1e4, 4))
    assert(g.getDouble(7) == roundN((diff + delta) / se, 4))
    assert(g.getDouble(8) == roundN((delta - diff) / se, 4))
    assert(g.getDouble(9) == roundN(pT, 6))
    assert(g.getBoolean(10) == (pT < 0.05))
    // constructed: both arms draw the SAME value multiset -> diff = 0,
    // and with enough users the ±5% band is resolvable -> equivalent
    val armed = (1L to 600L).map(u => (arm(u), u))
    // low-variance values (sd ~0.005 vs a ±5%-of-mean ~0.15 band): the
    // within band must be resolvable for the declaration to be possible
    def frame(shiftB: Double) = armed.zipWithIndex.map { case ((a, u), i) =>
      val v = (3.0 + (u % 2) * 0.01) * (if (a == 1L) shiftB else 1.0)
      (u, i.toLong, "purchase", i.toLong * 1000L, v)
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val same = Events.tostEquivalence(frame(1.0)).collect()(0)
    assert(same.getDouble(9) < 0.05 && same.getBoolean(10),
      "identical value distributions must declare equivalence")
    // a 30% shifted arm sits far outside the 5% band -> refuses
    val far = Events.tostEquivalence(frame(1.3)).collect()(0)
    assert(far.getDouble(9) > 0.05 && !far.getBoolean(10),
      "a 30% lift must NOT be declared equivalent at a 5% margin")
  }

  test("tostEquivalence compiles to generated code: no interpreted fallback (q283)") {
    // a generated method past Janino's 64 KB limit fails to compile; with
    // the fallback off that failure throws instead of silently switching
    // the stage to interpreted evaluation
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val rows = Events.tostEquivalence(events).collect()
      assert(rows.length === 1)
      assert(!rows(0).isNullAt(9), "the fixture's arms must reach the p_tost branch")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q192, q237, q279 and q283 read one arm-moment frame: equal n, means and se") {
    // no tolerance: the four readouts share one moment aggregate and one
    // mean/variance expression, so their common outputs are the same doubles
    def one(df: DataFrame) = df.collect() match { case Array(r) => r }
    val ab = one(Events.abValueTest(events))
    val ms = one(Events.msprtMonitor(events))
    val mde = one(Events.mdeReadout(events))
    val tost = one(Events.tostEquivalence(events))
    def ns(r: Row) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    assert(ns(ab)._1 > 1L && ns(ab)._2 > 1L, "the fixture must populate both arms")
    for (r <- Seq(ms, mde, tost)) assert(ns(r) == ns(ab))
    for (c <- Seq("mean_a", "mean_b")) {
      assert(!ab.isNullAt(ab.fieldIndex(c)))
      assert(tost.getAs[Double](c) == ab.getAs[Double](c), c)
    }
    assert(!mde.isNullAt(mde.fieldIndex("se")))
    assert(tost.getAs[Double]("se") == mde.getAs[Double]("se"))
  }

  test("labelerAgreement equals brute force; self-agreement kappa=1; directional disagreement rejects (q284)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val cells = docs.select(col("n_chars"), col("text")).collect().map { r =>
      val a = if (r.getLong(0) >= 300L) 1L else 0L
      val b = if (r.getString(1).split(" ", -1).length >= 60) 1L else 0L
      (a, b)
    }
    val n = cells.length.toLong
    val n11 = cells.count(c => c._1 == 1L && c._2 == 1L).toLong
    val n10 = cells.count(c => c._1 == 1L && c._2 == 0L).toLong
    val n01 = cells.count(c => c._1 == 0L && c._2 == 1L).toLong
    val n00 = cells.count(c => c._1 == 0L && c._2 == 0L).toLong
    val po = (n11 + n00).toDouble / n.toDouble
    val pA = (n11 + n10).toDouble / n.toDouble
    val pB = (n11 + n01).toDouble / n.toDouble
    val pe = pA * pB + (1.0 - pA) * (1.0 - pB)
    val g = Inference.labelerAgreement(docs).collect()(0)
    assert(g.getLong(0) == n && g.getLong(1) == n11 && g.getLong(2) == n10)
    assert(g.getLong(3) == n01 && g.getLong(4) == n00)
    assert(g.getDouble(5) == roundN(pA, 6) && g.getDouble(6) == roundN(pB, 6))
    assert(g.getDouble(7) == roundN(po, 6) && g.getDouble(8) == roundN(pe, 6))
    assert(g.getDouble(9) == roundN((po - pe) / (1.0 - pe), 6))
    if (n10 + n01 > 0) {
      val chi2 = (math.abs((n10 - n01).toDouble) - 1.0) *
        (math.abs((n10 - n01).toDouble) - 1.0) / (n10 + n01).toDouble
      assert(g.getDouble(10) == roundN(chi2, 4))
      assert(g.getDouble(11) ==
        roundN(math.min(2.0 * upperTail(math.sqrt(chi2)), 1.0), 6))
    }
    // a labeler agrees with itself perfectly: thresholds that define the
    // SAME split drive kappa to exactly 1 (n10 = n01 = 0)
    val selfSame = (1 to 40).map(i =>
      (i.toLong, ("w " * (if (i % 2 == 0) 100 else 10)).trim, "en", "s",
        if (i % 2 == 0) 400L else 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = Inference.labelerAgreement(selfSame).collect()(0)
    assert(s1.getDouble(9) == 1.0 && s1.getLong(2) == 0L && s1.getLong(3) == 0L)
    // purely DIRECTIONAL disagreement (every mismatch is a-passes-b-fails):
    // McNemar rejects even though raw agreement is high
    val dir = ((1 to 80).map(i => (i.toLong, ("w " * 100).trim, "en", "s", 400L))
      ++ (81 to 100).map(i => (i.toLong, ("w " * 10).trim, "en", "s", 400L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d1 = Inference.labelerAgreement(dir).collect()(0)
    assert(d1.getLong(2) == 20L && d1.getLong(3) == 0L)
    assert(d1.getDouble(11) < 0.001, "20-vs-0 directional disagreement must reject")
  }

  test("hillTailIndex equals brute force; recovers a constructed Pareto alpha; degenerate tail pins to null (q285)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica: descending order stats with multiplicity
    val vms = events.select(col("event_type"), col("value")).collect()
      .filter(_.getString(0) == "purchase")
      .map(r => math.round(r.getDouble(1) * 10000)).filter(_ >= 1L)
    def brute(xs: Seq[Long]): (Long, Long, Option[(Long, Long, Long)]) = {
      val n = xs.size.toLong
      val k = math.ceil(math.sqrt(n.toDouble)).toLong
      val byV = xs.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(-_._1)
      var cum = 0L; var s6 = 0L
      var k1: Option[(Long, Long)] = None
      byV.foreach { case (v, c) =>
        val prev = cum; cum += c
        val l6 = math.round(math.log(v.toDouble) * 1e6)
        s6 += math.max(0L, math.min(cum, k) - prev) * l6
        if (k1.isEmpty && cum >= k + 1) k1 = Some((v, l6))
      }
      (n, k, k1.map { case (v, l6) => (v, l6, s6) })
    }
    val (n, k, tail) = brute(vms)
    val g = Events.hillTailIndex(events).collect()(0)
    assert(g.getLong(0) == n && g.getLong(1) == k)
    tail.foreach { case (vmK1, l6K1, s6) =>
      val inv = (s6 - k * l6K1) / 1e6 / k
      assert(g.getDouble(2) == roundN(vmK1 / 1e4, 4))
      assert(g.getDouble(3) == roundN(inv, 6))
      if (s6 - k * l6K1 > 0) assert(g.getDouble(4) == roundN(1.0 / inv, 4))
    }
    // constructed exact Pareto(alpha=2) quantile grid: x_i = (n/i)^(1/2);
    // Hill at k = sqrt(n) must land near 2
    val np = 10000
    val par = (1 to np).map(i =>
      (i.toLong, i.toLong, "purchase", i.toLong * 1000L,
        math.pow(np.toDouble / i, 0.5)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val p = Events.hillTailIndex(par).collect()(0)
    assert(math.abs(p.getDouble(4) - 2.0) < 0.3,
      s"Hill on an exact Pareto(2) grid drifted: ${p.getDouble(4)}")
    // all-equal values: every top-k ratio is 1, inv_alpha = 0, alpha null
    val flat = (1 to 100).map(i =>
      (i.toLong, i.toLong, "purchase", i.toLong * 1000L, 5.0))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val f = Events.hillTailIndex(flat).collect()(0)
    assert(f.getDouble(3) == 0.0 && f.isNullAt(4),
      "a degenerate tail must pin inv_alpha to 0 and alpha to null")
  }

  test("markovStationary satisfies piP = pi; closed-form 2-state chain exact; dead ends throw (q286)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // the fixed point law on the fixture: pi P == pi within the rounding
    // + convergence budget (the gate checks exact oracle equality; this
    // checks the MATH the iterate converged to)
    val got = Events.markovStationary(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-5)
    val matrix = Events.sessionTransitions(events).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val rowSum = matrix.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val pi = got.map(g => (g._1, g._3)).toMap
    got.foreach { case (t, _, p) =>
      val inflow = matrix.collect { case ((s, d), c) if d == t =>
        pi(s) * c.toDouble / rowSum(s)
      }.sum
      assert(math.abs(inflow - p) < 1e-4, s"pi P != pi at $t: $inflow vs $p")
    }
    // 2-state chain with a known closed form: a->b always, b->a 1 in 4
    // => pi = (0.2, 0.8); the (-0.25)^24 residual is far below 1e-6
    def path(u: Long, types: Seq[String]) = types.zipWithIndex.map {
      case (t, i) => (u, u * 100 + i, t, u * 1000000L + i * 1000L, 0.0)
    }
    val chain = (path(1L, Seq("a", "b")) ++ path(2L, Seq("b", "a"))
      ++ path(3L, Seq("b", "b")) ++ path(4L, Seq("b", "b"))
      ++ path(5L, Seq("b", "b")))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val c = Events.markovStationary(chain).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(c("a") == 0.2 && c("b") == 0.8)
    // the residual column: converged chains show ~0; a slowly mixing
    // chain (self-loop mass 0.999/0.998, spectral gap 0.003 => 24
    // steps cannot converge) shows a VISIBLY non-zero residual instead
    // of silently shipping a non-converged pi
    val fixtureResid = Events.markovStationary(events).collect()
      .map(_.getDouble(3)).distinct
    assert(fixtureResid.length == 1 && fixtureResid.head < 1e-6,
      s"fixture chain must be converged, residual ${fixtureResid.toSeq}")
    val slow = Events.markovStationaryFromCounts(spark,
      Seq(("a", "a", 999L), ("a", "b", 1L), ("b", "b", 499L), ("b", "a", 1L)))
    val sr = slow.collect().map(_.getDouble(3)).distinct
    assert(sr.length == 1 && sr.head > 1e-4,
      s"slow chain must surface a non-zero residual, got ${sr.toSeq}")
    // a destination that never transitions out must fail loudly, not
    // silently leak stationary mass
    val dead = (path(1L, Seq("a", "z")) ++ path(2L, Seq("a", "a")))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val e = intercept[IllegalArgumentException] {
      Events.markovStationary(dead).collect()
    }
    assert(e.getMessage.contains("dead-end"))
  }

  test("woeIvPanel equals brute force; a perfect separator scores high IV, class-balanced buckets score 0 (q287)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rows = docs.select(col("text"), col("lang")).collect().map { r =>
      val padded = " " + r.getString(0).toLowerCase + " "
      val cnt = (padded.length - padded.replace(" the ", "").length) / 5
      (math.min(cnt.toLong, 7L), if (r.getString(1) == "en") 1L else 0L)
    }
    val byB = rows.groupBy(_._1).view
      .mapValues(g => (g.count(_._2 == 1L).toLong, g.count(_._2 == 0L).toLong))
      .toMap
    val gt = byB.values.map(_._1).sum; val bt = byB.values.map(_._2).sum
    val kb = byB.size.toLong
    def pgpb(g: Long, b: Long) =
      ((g + 0.5) / (gt + 0.5 * kb), (b + 0.5) / (bt + 0.5 * kb))
    val iv6 = byB.values.map { case (g, b) =>
      val (pg, pb) = pgpb(g, b)
      math.round((pg - pb) * math.log(pg / pb) * 1e6)
    }.sum
    val got = Inference.woeIvPanel(docs).collect()
    assert(got.length == byB.size)
    got.foreach { r =>
      val (g, b) = byB(r.getLong(0))
      val (pg, pb) = pgpb(g, b)
      assert(r.getLong(1) == g && r.getLong(2) == b)
      assert(r.getDouble(3) ==
        roundN(math.round(math.log(pg / pb) * 1e6) / 1e6, 6))
      assert(r.getDouble(4) == roundN(iv6 / 1e6, 6))
    }
    // a perfect separator: bucket >= 1 iff en (every en doc says "the",
    // no other doc does) -> IV far above the 0.3 "strong" band
    def doc(i: Int, en: Boolean) =
      (i.toLong, if (en) "the cat the dog the fox" else "chat chien renard",
        if (en) "en" else "fr", "s", 100L)
    val sep = ((1 to 50).map(doc(_, true)) ++ (51 to 100).map(doc(_, false)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = Inference.woeIvPanel(sep).collect()
    assert(s1.head.getDouble(4) > 3.0, "a perfect separator must score IV >> 0.3")
    // class-balanced buckets (same en/other count in every bucket, G = B):
    // pG = pB exactly in every bucket -> WOE = 0 and IV = 0 exactly
    // ("the x " repetition keeps marker counts exact: no shared spaces)
    val bal = (for {
      b <- 0 to 3; l <- Seq("en", "fr"); j <- 1 to 5
    } yield ((b * 100 + (if (l == "en") 50 else 0) + j).toLong,
      ("the x " * b) + "pad", l, "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Inference.woeIvPanel(bal).collect()
    assert(b1.forall(r => r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0),
      "balanced buckets must score exactly 0")
  }

  test("stratifiedAte equals brute force; a constructed Simpson confound zeroes the ATE while the naive gap stands (q288)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica on the fixture
    val pu = events.select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).map { case (_, g) =>
        val nErr = g.count(_._2 == "error").toLong
        (g.length.toLong,
          if (nErr * 5 > g.length) 1L else 0L,
          g.filter(_._2 == "purchase").map(e => math.round(e._3 * 10000)).sum)
      }.toSeq
    val byB = pu.groupBy(u => (63 - java.lang.Long.numberOfLeadingZeros(u._1)).toLong)
    val rowsB = byB.view.mapValues { g =>
      val n1 = g.count(_._2 == 1L).toLong; val n0 = g.count(_._2 == 0L).toLong
      val s1 = g.filter(_._2 == 1L).map(_._3).sum
      val s0 = g.filter(_._2 == 0L).map(_._3).sum
      (n1, n0, s1, s0)
    }.toMap
    val d6 = rowsB.view.mapValues { case (n1, n0, s1, s0) =>
      if (n1 >= 1 && n0 >= 1)
        Some(math.round((s1.toDouble / n1 - s0.toDouble / n0) * 100.0))
      else None
    }.toMap
    val wsum = rowsB.collect { case (b, (n1, n0, _, _)) if d6(b).isDefined => n1 + n0 }.sum
    val ate6 = rowsB.collect { case (b, (n1, n0, _, _)) if d6(b).isDefined =>
      d6(b).get * (n1 + n0)
    }.sum
    val nt1 = rowsB.values.map(_._1).sum; val nt0 = rowsB.values.map(_._2).sum
    val st1 = rowsB.values.map(_._3).sum; val st0 = rowsB.values.map(_._4).sum
    val got = Events.stratifiedAte(events).collect()
    assert(got.length == rowsB.size)
    got.foreach { r =>
      val (n1, n0, s1, s0) = rowsB(r.getLong(0))
      assert(r.getLong(1) == n1 && r.getLong(2) == n0)
      if (n1 >= 1) assert(r.getDouble(3) == roundN(s1 / 1e4 / n1, 4))
      if (n0 >= 1) assert(r.getDouble(4) == roundN(s0 / 1e4 / n0, 4))
      d6(r.getLong(0)).foreach(v => assert(r.getDouble(5) == roundN(v / 1e6, 4)))
      assert(r.getDouble(6) == roundN(ate6 / (wsum.toDouble * 1e6), 4))
      assert(r.getDouble(7) == roundN(st1 / 1e4 / nt1 - st0 / 1e4 / nt0, 4))
    }
    // constructed Simpson confound: within every activity bucket the
    // treated/control spends are IDENTICAL (diff exactly 0), but the
    // treated mass sits in the high-spend bucket -> naive gap 2.4
    def user(u: Long, treated: Boolean, heavy: Boolean): Seq[(Long, Long, String, Long, Double)] = {
      // treated = error share > 1/5: light users need 1 error in 2
      // events, heavy users need 2 errors in 8
      val spend = if (heavy) 5.0 else 1.0
      val nErr = if (!treated) 0 else if (heavy) 2 else 1
      val nTot = if (heavy) 8 else 2
      Seq((u, u * 100, "purchase", u * 1000L, spend)) ++
        (1 to nErr).map(j => (u, u * 100 + 90 + j, "error", u * 1000L + 90 + j, 0.0)) ++
        (1 to (nTot - 1 - nErr)).map(j => (u, u * 100 + j, "view", u * 1000L + j, 0.0))
    }
    val simpson = ((1L to 10L).flatMap(user(_, treated = true, heavy = false))
      ++ (11L to 50L).flatMap(user(_, treated = false, heavy = false))
      ++ (51L to 90L).flatMap(user(_, treated = true, heavy = true))
      ++ (91L to 100L).flatMap(user(_, treated = false, heavy = true)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val s = Events.stratifiedAte(simpson).collect()
    assert(s.forall(_.getDouble(6) == 0.0), "within-bucket-identical spends must zero the ATE")
    assert(s.forall(_.getDouble(7) == 2.4), "the naive gap must stand at 2.4")
    assert(s.forall(_.getLong(8) == 0L))
  }

  test("rdGateAudit equals brute force; a planted jump is recovered, a smooth relation scores tau = 0 (q291)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica on the fixture window
    val rows = docs.select(col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(r => r._1 >= 150L && r._1 < 450L)
    def stopDensity6(text: String): Long = {
      val padded = " " + text.toLowerCase + " "
      def occ(m: String): Int =
        (padded.length - padded.replace(m, "").length) / m.length
      val words = text.split(" ", -1).length
      math.round((occ(" the ") + occ(" a ") + occ(" of ")).toDouble / words * 1e6)
    }
    case class M(n: Long, su: Long, suu: BigInt, sy: Long, suy: BigInt, syy: BigInt)
    def mom(side: Seq[(Long, Long)]): M = M(side.size.toLong,
      side.map(_._1).sum, side.map(e => BigInt(e._1) * e._1).sum,
      side.map(_._2).sum, side.map(e => BigInt(e._1) * e._2).sum,
      side.map(e => BigInt(e._2) * e._2).sum)
    def fit(m: M): (Double, Double, Double) = {
      val det = m.n.toDouble * m.suu.toDouble - m.su.toDouble * m.su.toDouble
      val a = (m.sy.toDouble * m.suu.toDouble - m.su.toDouble * m.suy.toDouble) / det
      val b = (m.n.toDouble * m.suy.toDouble - m.su.toDouble * m.sy.toDouble) / det
      val va = (m.syy.toDouble - a * m.sy.toDouble - b * m.suy.toDouble) /
        (m.n - 2.0) * m.suu.toDouble / det
      (a, b, va)
    }
    val uy = rows.map(r => (r._1 - 300L, stopDensity6(r._2)))
    val (aL, bL, vL) = fit(mom(uy.filter(_._1 < 0L).toSeq))
    val (aR, bR, vR) = fit(mom(uy.filter(_._1 >= 0L).toSeq))
    val g = Inference.rdGateAudit(docs).collect()(0)
    assert(g.getLong(0) == uy.count(_._1 < 0L) && g.getLong(1) == uy.count(_._1 >= 0L))
    assert(g.getDouble(2) == roundN(aL / 1e6, 6) && g.getDouble(3) == roundN(aR / 1e6, 6))
    assert(g.getDouble(4) == roundN(bL / 1e6, 8) && g.getDouble(5) == roundN(bR / 1e6, 8))
    assert(g.getDouble(6) == roundN((aR - aL) / 1e6, 6))
    val se = math.sqrt(vL + vR)
    assert(g.getDouble(7) == roundN(se / 1e6, 6))
    assert(g.getDouble(8) == roundN((aR - aL) / se, 4))
    assert(math.abs(g.getDouble(8)) < 4.0, "the synthetic fixture must show no real cliff")
    // planted jump: zero stopwords below the cutoff, dense-with-noise
    // above -> tau recovers the jump and z rejects hard
    def doc(i: Int, chars: Long, dense: Boolean, alt: Boolean) = {
      val text = if (!dense) "xx yy zz ww vv"
      else if (alt) "the x the x pad" else "the x the x the x pad"
      (i.toLong, text, "en", "s", chars)
    }
    val jump = ((0 until 60).map(i => doc(i, 150L + i * 2, dense = false, alt = false))
      ++ (60 until 120).map(i => doc(i, 300L + (i - 60) * 2, dense = true, alt = i % 2 == 0)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val j = Inference.rdGateAudit(jump).collect()(0)
    assert(j.getDouble(6) > 0.3, s"planted jump not recovered: ${j.getDouble(6)}")
    assert(j.getDouble(9) < 1e-6, "a planted cliff must reject hard")
    // smooth: the same template everywhere -> tau exactly 0
    val smooth = (0 until 120).map(i =>
      (i.toLong, "the x the x pad", "en", "s", 150L + (i % 150) * 2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sm = Inference.rdGateAudit(smooth).collect()(0)
    assert(sm.getDouble(6) == 0.0, "a constant relation must score tau exactly 0")
  }

  test("markovEntropyRate: deterministic chain scores 0 bits, uniform chain log2(m); pi matches q286 (q293)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val got = Events.markovEntropyRate(events).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // pi must be exactly q286's (same integer state)
    val pi286 = Events.markovStationary(events).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    got.foreach { g => assert(g._2 == pi286(g._1)) }
    // bits live in [0, log2(m)]; the rate is one constant across rows
    val m = got.length
    val hMax = math.log(m.toDouble) / math.log(2.0)
    assert(got.forall(g => g._3 >= 0.0 && g._3 <= hMax + 1e-9))
    assert(got.map(_._4).distinct.length == 1)
    assert(got.head._4 > 0.0 && got.head._4 <= hMax + 1e-9)
    // a deterministic 2-cycle: every transition certain -> 0 bits,
    // predictability exactly 1
    def path(u: Long, types: Seq[String]) = types.zipWithIndex.map {
      case (t, i) => (u, u * 100 + i, t, u * 1000000L + i * 1000L, 0.0)
    }
    val det = (path(1L, Seq("a", "b")) ++ path(2L, Seq("b", "a")))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val d = Events.markovEntropyRate(det).collect()
    assert(d.forall(_.getDouble(2) == 0.0) && d.forall(_.getDouble(3) == 0.0))
    assert(d.forall(_.getDouble(4) == 1.0))
    // a uniform 2-state chain: h = exactly 1 bit, predictability 0
    val uni = (path(1L, Seq("a", "a")) ++ path(2L, Seq("a", "b"))
      ++ path(3L, Seq("b", "a")) ++ path(4L, Seq("b", "b")))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val u = Events.markovEntropyRate(uni).collect()
    assert(u.forall(_.getDouble(2) == 1.0) && u.forall(_.getDouble(3) == 1.0))
    assert(u.forall(_.getDouble(4) == 0.0))
  }

  test("periodogram equals brute force; a planted weekly comb peaks at 7; a flat series has no peak (q294)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // brute-force replica on the fixture daily series
    val daily = events.select(expr("ts div 86400000000000").as("d")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.min; val d1 = daily.keys.max
    val xs = (d0 to d1).map(d => daily.getOrElse(d, 0L))
    val tt = xs.length.toLong; val sx = xs.sum
    val ys = xs.map(x => tt * x - sx)
    def pw6(p: Long): BigInt = {
      val twoPi = 6.283185307179586
      var c9 = BigInt(0); var s9 = BigInt(0)
      ys.zipWithIndex.foreach { case (y, t) =>
        val a = twoPi * (t % p).toDouble / p
        c9 += BigInt(y) * math.round(math.cos(a) * 1e9)
        s9 += BigInt(y) * math.round(math.sin(a) * 1e9)
      }
      val cd = c9.toDouble / 1e9; val sd = s9.toDouble / 1e9
      BigInt(math.round((cd * cd + sd * sd) / 1e6))
    }
    val powers = (2L to 30L).map(p => p -> pw6(p)).toMap
    val tp = powers.values.sum
    val got = Events.periodogram(events).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.length == 29)
    got.foreach { case (p, share, _) =>
      assert(share == roundN((BigDecimal(powers(p)) / BigDecimal(tp)).toDouble, 6)
        || share == roundN(powers(p).toDouble / tp.toDouble, 6))
    }
    assert(got.count(_._3) == 1)
    // planted weekly comb: weekday load 100, weekend 700 over 10 weeks
    val comb = (0 until 70).flatMap { day =>
      val n = if (day % 7 >= 5) 21 else 3
      (0 until n).map(j =>
        ((day * 100 + j).toLong, (day * 1000 + j).toLong, "click",
          day.toLong * NsDay + j * 1000L, 0.0))
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val c = Events.periodogram(comb).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val peak = c.filter(_._3)
    assert(peak.length == 1 && peak.head._1 == 7L,
      s"weekly comb must peak at 7, got ${peak.toSeq}")
    assert(peak.head._2 > 0.5, "the planted rhythm must dominate the spectrum")
    // a constant series: zero centered power everywhere -> null shares,
    // no peak row
    val flat = (0 until 40).map(i =>
      (i.toLong, i.toLong, "click", i.toLong * NsDay, 0.0))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val f = Events.periodogram(flat).collect()
    assert(f.forall(r => r.isNullAt(1) && !r.getBoolean(2)))
  }

  test("leadLagCcf equals brute force; a planted 3-day shift peaks at +3 and flips sign when swapped (q295)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // brute-force replica on the fixture
    val daily = events.select(col("event_type"), expr("ts div 86400000000000").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(e => e._1 == "click" || e._1 == "purchase")
    val d0 = daily.map(_._2).min; val d1 = daily.map(_._2).max
    val xa = (d0 to d1).map(d => daily.count(e => e._1 == "click" && e._2 == d).toLong)
    val xb = (d0 to d1).map(d => daily.count(e => e._1 == "purchase" && e._2 == d).toLong)
    val tt = xa.length.toLong
    val ya = xa.map(x => tt * x - xa.sum); val yb = xb.map(x => tt * x - xb.sum)
    val daa = ya.map(y => BigInt(y) * y).sum; val dbb = yb.map(y => BigInt(y) * y).sum
    def ccf(k: Long): Double = {
      val nab = (0 until ya.length).collect {
        case t if t + k >= 0 && t + k < ya.length => BigInt(ya(t)) * yb((t + k).toInt)
      }.sum
      roundN(nab.toDouble / math.sqrt(daa.toDouble * dbb.toDouble), 6)
    }
    val got = Events.leadLagCcf(events).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.length == 15)
    got.foreach { case (k, c, _) => assert(c == ccf(k), s"lag $k") }
    assert(got.count(_._3) == 1)
    // planted lead: purchases replay the click curve 3 days later
    def burst(day: Int, n: Int, typ: String, base: Long) =
      (0 until n).map(j => (base + day * 1000L + j, base + day * 1000L + j,
        typ, day.toLong * NsDay + j * 1000L, 0.0))
    val curve = (0 until 40).map(d => 3 + ((d * 37) % 11)) // varying daily load
    val planted = (curve.zipWithIndex.flatMap { case (n, d) => burst(d, n, "click", 0L) }
      ++ curve.zipWithIndex.flatMap { case (n, d) => burst(d + 3, n, "purchase", 9000000L) })
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val p = Events.leadLagCcf(planted).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val peak = p.filter(_._3)
    assert(peak.length == 1 && peak.head._1 == 3L,
      s"a 3-day replay must peak at +3, got ${peak.toSeq}")
    // 0.72 on a 40-day window: the 3 non-overlapping edge days and the
    // full-series centering cap the attainable ccf below 1
    assert(peak.head._2 > 0.6)
    // swapping the roles flips the lead to a lag of the same size
    val sw = Events.leadLagCcf(planted, typeA = "purchase", typeB = "click")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).filter(_._2)
    assert(sw.length == 1 && sw.head._1 == -3L)
    // maxLag = 60 exceeds the former fixed k+50 slot: the widened
    // packing must still flag exactly the +3 peak (an overflowed slot
    // would silently flag a wrong row)
    val wide = Events.leadLagCcf(planted, maxLag = 60).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    assert(wide.length == 121)
    val wPeak = wide.filter(_._2)
    assert(wPeak.length == 1 && wPeak.head._1 == 3L,
      s"maxLag=60 must still peak at +3, got ${wPeak.toSeq}")
    // past the documented packing bound the op refuses loudly
    val err = intercept[IllegalArgumentException] {
      Events.leadLagCcf(planted, maxLag = 1000001)
    }
    assert(err.getMessage.contains("maxLag"))
  }

  test("seasonalDecomposition equals brute force; a weekly comb is all seasonal, a pure trend all trend (q296)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // brute-force replica on the fixture daily series
    val daily = events.select(expr("ts div 86400000000000").as("d")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.min; val d1 = daily.keys.max
    val xs = (d0 to d1).map(d => (d, daily.getOrElse(d, 0L)))
    val full = (3 until xs.length - 3).map { i =>
      val (d, x) = xs(i)
      val t7 = (i - 3 to i + 3).map(j => xs(j)._2).sum
      (d, x, math.round((x * 7 - t7).toDouble / 7.0 * 1e6),
        ((d % 7) + 7) % 7)
    }
    val sIdx = full.groupBy(_._4).view.mapValues { g =>
      (math.round(g.map(_._3).sum.toDouble / g.length), g.length.toLong)
    }.toMap
    val rs = full.map(f => f._3 - sIdx(f._4)._1)
    val ds = full.map(_._3)
    val trs = full.map(f => f._2 * 1000000L - sIdx(f._4)._1)
    def popVar(vs: Seq[Long]): Double = {
      val n = vs.length.toLong
      (vs.map(v => BigInt(v) * v).sum.toDouble
        - vs.sum.toDouble * vs.sum.toDouble / n) / n
    }
    val (vr, vd, vt) = (popVar(rs), popVar(ds), popVar(trs))
    val got = Events.seasonalDecomposition(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.length == 7)
    got.foreach { case (p, np, s, fs, ft) =>
      assert(np == sIdx(p)._2 && s == roundN(sIdx(p)._1 / 1e6, 4))
      assert(fs == roundN(math.max(0.0, 1.0 - vr / vd), 4))
      assert(ft == roundN(math.max(0.0, 1.0 - vr / vt), 4))
    }
    // weekly comb, no trend: the weekday rhythm carries ~everything
    val comb = (0 until 70).flatMap { day =>
      val n = if (day % 7 >= 5) 21 else 3
      (0 until n).map(j => ((day * 100 + j).toLong, (day * 1000 + j).toLong,
        "click", day.toLong * NsDay + j * 1000L, 0.0))
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val c = Events.seasonalDecomposition(comb).collect()
    assert(c.forall(_.getDouble(3) > 0.99), "a pure comb must be ~all seasonal")
    // a pure linear ramp: the centered MA absorbs it EXACTLY -> zero
    // seasonal indices, f_seasonal null (no detrended variance),
    // f_trend exactly 1
    val ramp = (0 until 40).flatMap { day =>
      (0 to day).map(j => ((day * 100 + j).toLong, (day * 1000 + j).toLong,
        "click", day.toLong * NsDay + j * 1000L, 0.0))
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
    val r = Events.seasonalDecomposition(ramp).collect()
    assert(r.forall(_.getDouble(2) == 0.0), "linear ramp: seasonal exactly 0")
    assert(r.forall(_.isNullAt(3)), "no detrended variance -> null f_seasonal")
    assert(r.forall(_.getDouble(4) == 1.0), "linear ramp: f_trend exactly 1")
  }

  test("cochranArmitage equals brute force; flat dose-response scores T exactly 0, a monotone one rejects (q298)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica on the fixture
    val pu = events.select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).toSeq.map { case (_, g) =>
        ((63 - java.lang.Long.numberOfLeadingZeros(g.length.toLong)).toLong,
          if (g.count(_._2 == "purchase").toLong * 5 > g.length) 1L else 0L)
      }
    val byB = pu.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    val n = pu.size.toLong; val a = pu.map(_._2).sum
    val swn = byB.map { case (w, (nb, _)) => w * nb }.sum
    val sw2n = byB.map { case (w, (nb, _)) => w * w * nb }.sum
    val swa = byB.map { case (w, (_, ab)) => w * ab }.sum
    val pbar = a.toDouble / n.toDouble
    val t = swa.toDouble - swn.toDouble * pbar
    val v = pbar * (1.0 - pbar) * (sw2n.toDouble - swn.toDouble * swn / n.toDouble)
    val g = Events.cochranArmitage(events).collect()(0)
    assert(g.getLong(0) == n && g.getLong(1) == a && g.getLong(2) == byB.size)
    assert(g.getDouble(3) == roundN(t, 4))
    if (v > 0.0) {
      assert(g.getDouble(4) == roundN(t / math.sqrt(v), 4))
      assert(g.getDouble(5) ==
        roundN(math.min(2.0 * upperTail(math.abs(t / math.sqrt(v))), 1.0), 6))
    } else {
      // a universal conversion rate (pbar = 1, the sf0.001 fixture)
      // degenerates V to 0: null z by the stated guard
      assert(g.isNullAt(4) && g.isNullAt(5))
    }
    // flat dose-response: every bucket heavy-purchases at exactly 1/2
    // -> T = 0 (light heavy-users: 1 purchase in 2 events, share 1/2;
    // heavy heavy-users: 2 purchases in 8, share 1/4 - both above 1/5)
    def user(u: Long, nEv: Int, convert: Boolean) = {
      val nP = if (!convert) 0 else if (nEv >= 8) 2 else 1
      (Seq.fill(nP)("purchase") ++ Seq.fill(nEv - nP)("view"))
        .zipWithIndex.map { case (t2, i) =>
          (u, u * 100 + i, t2, u * 1000000L + i * 1000L, 0.0)
        }
    }
    val flat = ((1L to 20L).flatMap(u => user(u, 2, u % 2 == 0))
      ++ (21L to 40L).flatMap(u => user(u, 8, u % 2 == 0)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val fr = Events.cochranArmitage(flat).collect()(0)
    assert(fr.getDouble(3) == 0.0, "a flat dose-response must score T exactly 0")
    // monotone: light users never convert, heavy users always -> rejects
    val mono = ((1L to 40L).flatMap(u => user(u, 2, convert = false))
      ++ (41L to 80L).flatMap(u => user(u, 8, convert = true)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val mr = Events.cochranArmitage(mono).collect()(0)
    assert(mr.getDouble(4) > 3.0 && mr.getDouble(5) < 0.01)
  }

  test("captureRecapture equals brute force; a closed world collapses to n1 exactly; half overlap matches Chapman (q299)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val NsDay = 86400L * 1000000000L
    // brute-force replica on the fixture
    val ev = events.select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max + 1) / 2
    val pu = ev.groupBy(_._1).view.mapValues { g =>
      (if (g.exists(_._2 < mid)) 1L else 0L, if (g.exists(_._2 >= mid)) 1L else 0L)
    }.toMap
    val n1 = pu.values.map(_._1).sum; val n2 = pu.values.map(_._2).sum
    val mm = pu.values.count(v => v._1 == 1L && v._2 == 1L).toLong
    val obs = pu.size.toLong
    val nHat = (n1 + 1.0) * (n2 + 1.0) / (mm + 1.0) - 1.0
    val se = math.sqrt((n1 + 1.0) * (n2 + 1.0) * (n1 - mm) * (n2 - mm) /
      ((mm + 1.0) * (mm + 1.0) * (mm + 2.0)))
    val g = Events.captureRecapture(events).collect()(0)
    assert(g.getLong(0) == n1 && g.getLong(1) == n2 && g.getLong(2) == mm)
    assert(g.getLong(3) == obs)
    assert(g.getDouble(4) == roundN(nHat, 2) && g.getDouble(5) == roundN(se, 2))
    assert(g.getDouble(6) == roundN(nHat - obs, 2))
    // closed world: every user seen in both halves -> n_hat = n1 exactly
    def sighting(u: Long, day: Long) =
      (u, u * 10 + day, "click", day * NsDay, 0.0)
    val closed = (1L to 20L).flatMap(u => Seq(sighting(u, 0L), sighting(u, 9L)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val c = Events.captureRecapture(closed).collect()(0)
    assert(c.getDouble(4) == 20.0 && c.getDouble(6) == 0.0 && c.getDouble(5) == 0.0)
    // 10 both + 10 first-only + 10 second-only: Chapman 21*21/11 - 1
    val half = ((1L to 10L).flatMap(u => Seq(sighting(u, 0L), sighting(u, 9L)))
      ++ (11L to 20L).map(u => sighting(u, 0L))
      ++ (21L to 30L).map(u => sighting(u, 9L)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val h = Events.captureRecapture(half).collect()(0)
    assert(h.getDouble(4) == roundN(21.0 * 21.0 / 11.0 - 1.0, 2))
    assert(h.getLong(3) == 30L)
  }

  test("negativeBinomialFit equals brute force; MoM identities exact on a constructed burst; underdispersion pins null (q300)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // brute-force replica on the fixture
    val rows = events.select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nu = rows.map(_._2).distinct.length.toLong
    val byT = rows.groupBy(_._1).view.mapValues { g =>
      val cs = g.groupBy(_._2).values.map(_.size.toLong)
      (cs.sum, cs.map(c => c * c).sum)
    }.toMap
    val got = Events.negativeBinomialFit(events).collect()
    assert(got.length == byT.size)
    got.foreach { r =>
      val (s1, s2) = byT(r.getString(0))
      val m = s1.toDouble / nu.toDouble
      val v = (s2.toDouble - s1.toDouble * s1 / nu.toDouble) / nu.toDouble
      assert(r.getLong(1) == nu)
      assert(r.getDouble(2) == roundN(m, 4) && r.getDouble(3) == roundN(v, 4))
      if (v > m) {
        assert(r.getDouble(4) == roundN(m * m / (v - m), 4))
        assert(r.getDouble(5) == roundN(m / v, 6))
      } else assert(r.isNullAt(4) && r.isNullAt(5))
    }
    // constructed burst: counts {4, 0, 0, 0} -> mean 1, var 3,
    // r = 1/2 exactly, p = 1/3
    val burst = ((1 to 4).map(j => (1L, j.toLong, "g", j * 1000L, 0.0))
      ++ (2 to 4).map(u => (u.toLong, u * 100L, "other", u * 1000L, 0.0)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val b = Events.negativeBinomialFit(burst).collect()
      .map(r => (r.getString(0), r)).toMap
    assert(b("g").getDouble(4) == 0.5 && b("g").getDouble(5) == 0.333333)
    // exactly one "other" event for users 2..4: v < m -> null fit
    assert(b("other").isNullAt(4) && b("other").isNullAt(5))
  }
}
