package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Fidelity

/** ScalaCheck properties promised in SURVEY.md §5.4: aggregation invariance
  * under permutation/partitioning, and the range-partition routing model of
  * the reference's cutoff shuffle (O8/O9, `D/Program.cs:63-149`).
  * (Plain scalacheck Gen with fixed seeds — the scalatest bridge artifact
  * is not in the offline cache.)
  */
class PropertySpec extends GraftSuite {

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val donorGen: Gen[List[(String, String)]] = for {
    n      <- Gen.choose(1, 40)
    ids    <- Gen.listOfN(n, Gen.choose(1, 999))
    states <- Gen.listOfN(n, Gen.oneOf("CA", "TX", "NY", "WA", "other"))
  } yield ids.distinct.zip(states).map { case (id, st) => (f"D$id%03d", st) }

  test("property: group-sum invariant under row permutation and partition count") {
    import spark.implicits._
    samples(donorGen.flatMap(d => Gen.choose(1L, 1000000L).map((d, _))), 8)
      .foreach { case (donors, seed) =>
        val rnd = new scala.util.Random(seed)
        val donations = donors.flatMap { case (id, _) =>
          Seq.fill(rnd.nextInt(3) + 1)((id, (rnd.nextInt(10000) + 1) / 100.0))
        }
        val dDf = donors.toDF("donor_id", "donor_state")
        def total(rows: Seq[(String, Double)], parts: Int) =
          Fidelity.donationTotalByState(
            dDf, rows.toDF("donor_id", "amount").repartition(parts))
            .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        val base = total(donations, 1)
        assert(total(rnd.shuffle(donations), 3) === base)
        assert(total(donations.reverse, 7) === base)
      }
  }

  test("property: simhash pigeonhole banding finds EVERY pair within the hamming budget") {
    import spark.implicits._
    // adversarial near-dup corpora: clusters of texts derived from a base by
    // tiny edits, plus unrelated noise — recall 1 is a structural guarantee
    // of the bit-slice banding, not probabilistic, so NO qualifying pair may
    // ever be missing
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega", "sigma")
    val baseGen = Gen.listOfN(40, word).map(_.mkString(" "))
    samples(Gen.listOfN(4, baseGen), 4).foreach { bases =>
      val docs = bases.zipWithIndex.flatMap { case (b, i) =>
        Seq((i * 10L, b), (i * 10L + 1, b.replaceFirst("a", "o")), (i * 10L + 2, b + " tail"))
      }.toDF("doc_id", "text")
      val viaBanding = graft.operators.Dedup.simhashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // ground truth: all-pairs over the signatures themselves
      val sigs = graft.operators.Dedup.simhashSignatures(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val allPairs = (for {
        (id1, s1) <- sigs; (id2, s2) <- sigs if id1 < id2
        if java.lang.Long.bitCount(s1 ^ s2) <= 1
      } yield (id1, id2)).toSet
      assert(viaBanding === allPairs)
    }
  }

  test("property: sorted_intersect_count equals Set intersection on generated arrays") {
    import graft.functions.MinHashFunctions
    import spark.implicits._
    val arrGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    samples(Gen.zip(arrGen, arrGen), 24).foreach { case (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size.toLong
      val got = Seq((a, b)).toDF("a", "b")
        .select(MinHashFunctions.sorted_intersect_count(col("a"), col("b")))
        .collect()(0).getLong(0)
      assert(got === expected, s"a=$a b=$b")
    }
  }

  test("property: KMV estimate is exact below k and partition-invariant above it") {
    import spark.implicits._
    val idsGen = Gen.choose(5, 300).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 10000L)))
    samples(idsGen, 6).foreach { ids =>
      val df = ids.map(id => ("g", id)).toDF("grp", "k")
        .select(col("grp"), md5(col("k").cast("string")).as("h"))
      implicit val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING)
      def run(parts: Int) = df.repartition(parts).as[(String, String)]
        .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
        .agg(new graft.functions.Aggregators.KMVSketchOf[(String, String)](_._2, 64)
          .toColumn.name("kmv"))
        .collect().head._2
      val one = run(1); val many = run(7)
      assert(one === many, "sketch must not depend on partitioning")
      val nd = ids.distinct.size
      if (nd < 64) assert(one.distinct_estimate === nd.toDouble)
      else assert(math.abs(one.distinct_estimate - nd) / nd < 0.6,
        s"estimate ${one.distinct_estimate} vs exact $nd")
    }
  }

  test("property: word_grams equals a reference sliding window on arbitrary texts") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // adversarial whitespace: empty tokens, leading/trailing/multiple
    // spaces, multi-byte UTF-8, single chars
    val tokenGen = Gen.oneOf("a", "bb", "über", "", "x1", "日本", "z")
    val textGen = for {
      n    <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, tokenGen)
    } yield toks.mkString(" ")
    samples(Gen.listOfN(20, textGen), 5).foreach { texts =>
      val df = texts.toDF("text")
      // the one tokenizer every lexical operator and oracle shares keeps
      // empty tokens, as `String.split(" ", -1)` does
      val toks = df.select(graft.operators.TextAnalysis.tokens($"text"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      assert(toks === texts.map(_.split(" ", -1).toSeq))
      for (ng <- Seq(2, 3)) {
        val got = df.select(TextFunctions.word_grams($"text", ng).as("g"))
          .collect().map(_.getSeq[String](0).toSeq).toSeq
        val expected = texts.map { t =>
          val ws = t.split(" ", -1).toSeq
          if (ws.length < ng) Nil else ws.sliding(ng).map(_.mkString(" ")).toSeq
        }
        assert(got === expected)
        val gotD = df.select(TextFunctions.word_grams($"text", ng, distinct = true).as("g"))
          .collect().map(_.getSeq[String](0).toSeq).toSeq
        assert(gotD === expected.map(_.distinct))
      }
    }
  }

  test("property: jaccard is symmetric-keyed, bounded, and 1 for identical texts") {
    import spark.implicits._
    val textGen = Gen.listOfN(30, Gen.oneOf("data", "spark", "row", "key", "agg"))
      .map(_.mkString(" "))
    samples(Gen.listOfN(6, textGen), 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, threshold = 0.0).collect()
      pairs.foreach { r =>
        assert(r.getLong(0) < r.getLong(1), "pair key must be ordered (id1 < id2)")
        val j = r.getDouble(2)
        assert(j >= 0.0 && j <= 1.0)
      }
      val dup = Seq((0L, texts.head), (1L, texts.head)).toDF("doc_id", "text")
      val j = graft.operators.Dedup.ngramJaccardPairs(dup, threshold = 0.0)
        .collect().head.getDouble(2)
      assert(j === 1.0)
    }
  }

  test("property: histogram quantile equals sort-based percentile on generated groups") {
    import spark.implicits._
    // heavy duplication, negatives, and arbitrary q — the interpolation
    // short-circuits and the cumulative-coverage selection must agree with
    // percentile() on every draw, bit-for-bit
    val gen = for {
      n    <- Gen.choose(1, 60)
      vals <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-5, 5).map(_.toDouble), Gen.choose(-10000, 10000).map(_ / 100.0)))
      q    <- Gen.oneOf(0.0, 0.1, 1.0 / 3.0, 0.5, 0.735, 0.9, 1.0)
    } yield (vals, q)
    samples(gen, 12).foreach { case (vals, q) =>
      val df = vals.map(("g", _)).toDF("g", "v")
      val expected = df.groupBy($"g").agg(expr(s"percentile(v, $q)"))
        .collect()(0).getDouble(1)
      val got = graft.operators.Scale.exactQuantileByGroup(df, "g", "v", q)
        .collect()(0).getDouble(1)
      assert(got === expected, s"q=$q vals=$vals")
    }
  }

  test("property: the multi-quantile panel == per-q percentile over random multi-group draws") {
    import spark.implicits._
    // the fused one-histogram pass must agree with percentile() for EVERY
    // quantile of a panel simultaneously, across unevenly-sized groups
    // with heavy duplication
    val gen = for {
      n1   <- Gen.choose(1, 50)
      n2   <- Gen.choose(1, 8)
      v1   <- Gen.listOfN(n1, Gen.choose(-300, 300).map(_ / 10.0))
      v2   <- Gen.listOfN(n2, Gen.oneOf(Gen.const(1.0), Gen.choose(-5, 5).map(_.toDouble)))
      qs   <- Gen.someOf(Seq(0.0, 0.05, 0.25, 1.0 / 3.0, 0.5, 0.735, 0.9, 1.0))
        .suchThat(_.nonEmpty)
    } yield (v1, v2, qs.toSeq)
    samples(gen, 10).foreach { case (v1, v2, qs) =>
      val df = (v1.map(("a", _)) ++ v2.map(("b", _))).toDF("g", "v")
      val expected = qs.flatMap { q =>
        df.groupBy($"g").agg(expr(s"percentile(v, $q)"))
          .collect().map(r => ((r.getString(0), q), r.getDouble(1)))
      }.toMap
      val got = graft.operators.Scale.exactQuantilesByGroup(df, "g", "v", qs)
        .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
      assert(got === expected, s"qs=$qs v1=$v1 v2=$v2")
    }
  }

  test("property: A-ES weighted sample is invariant under uniform weight scaling") {
    // key = -ln(u)/w: scaling every weight by c scales every key by 1/c,
    // so the selected SET and its order never move — the property that
    // makes the sample comparable across corpus re-weightings
    val docs = graft.sources.Tables.documents(spark, sf)
    val base = graft.operators.Sampling.weightedSample(docs).collect()
      .map(_.getLong(0)).toSeq
    for (c <- Seq(7L, 1000L)) {
      val scaled = graft.operators.Sampling.weightedSample(
        docs.withColumn("n_chars", col("n_chars") * c)).collect()
        .map(_.getLong(0)).toSeq
      assert(scaled === base, s"sample moved under weight scaling x$c")
    }
  }

  test("property: fuzzy match pair set is invariant under catalog-row duplication") {
    // the distinct-name reduction makes row multiplicity affect ONLY the
    // n_parts mass columns, never which pairs match
    val parts = graft.sources.Tables.part(spark, sf)
    val base = graft.operators.Matching.fuzzyNameMatch(parts).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val doubled = graft.operators.Matching.fuzzyNameMatch(
      parts.unionAll(parts.withColumn("p_partkey", col("p_partkey") + 1000000L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(doubled.map(t => (t._1, t._2, t._3)).toSeq ===
      base.map(t => (t._1, t._2, t._3)).toSeq)
    assert(doubled.map(t => (t._4, t._5)).toSeq ===
      base.map(t => (t._4 * 2, t._5 * 2)).toSeq)
  }

  test("property: compactionPlan conserves bytes, packs next-fit tight, and ignores input partitioning on generated file lists") {
    import spark.implicits._
    val fileGen: Gen[List[Long]] = for {
      n     <- Gen.choose(1, 120)
      sizes <- Gen.listOfN(n, Gen.choose(1L, 5000L))
    } yield sizes
    samples(fileGen.flatMap(s => Gen.choose(2000L, 20000L).map((s, _))), 6)
      .foreach { case (sizes, target) =>
        val files = sizes.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("file_id", "n_bytes")
        def run(df: org.apache.spark.sql.DataFrame, parts: Int) =
          graft.operators.Scale.compactionPlan(df, "file_id", "n_bytes",
            target, parts)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
        val got = run(files, 8)
        // partitioning of the INPUT and of the prefix sum are both
        // irrelevant: the plan depends only on the (size desc, id) order
        assert(run(files.repartition(3), 2) === got)
        // conservation; bins start at 0 and strictly increase; when no
        // file EXCEEDS the target, bins are also contiguous and every
        // non-final bin is filled to at least target - maxFile (an
        // over-target file legitimately skips the start-bins it spans)
        assert(got.map(_._3).sum === sizes.sum)
        assert(got.head._1 === 0L)
        assert(got.map(_._1) === got.map(_._1).sorted.distinct)
        if (sizes.max <= target) {
          assert(got.map(_._1) === got.indices.map(_.toLong))
          got.dropRight(1).foreach { case (_, _, tot, _, _, _) =>
            assert(tot >= target - sizes.max)
          }
        }
      }
  }

  test("property: layoutSkippingAudit — key-sorted layout never reads more files per probe than arrival order") {
    import spark.implicits._
    val gen: Gen[List[(Long, Long)]] = for {
      n    <- Gen.choose(10, 400)
      keys <- Gen.listOfN(n, Gen.choose(0L, 50L)) // few distinct keys => ties
    } yield keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    samples(gen, 5).foreach { rows =>
      val df = rows.toDF("id", "k")
      val out = graft.operators.Scale.layoutSkippingAudit(df, "k", "id", files = 8)
        .collect().map(r => r.getString(0) ->
          (r.getLong(3).toDouble / r.getLong(2))).toMap
      assert(out("sorted") <= out("arrival") + 1e-9,
        s"sorted must not read more than arrival: $out")
    }
  }

  test("property: Laplace release noise scales exactly as 1/epsilon") {
    // same md5 uniform per (tag, lang) => noise(eps) = noise(1)/eps
    // bit-for-bit before the output rounding
    val docs = graft.sources.Tables.documents(spark, sf)
    val e1 = graft.operators.Curation.dpLangHistogram(docs, eps = 1.0).collect()
      .map(r => (r.getString(0), r.getDouble(2) - r.getLong(1))).toMap
    val e4 = graft.operators.Curation.dpLangHistogram(docs, eps = 4.0).collect()
      .map(r => (r.getString(0), r.getDouble(2) - r.getLong(1))).toMap
    e1.foreach { case (lang, n1) =>
      assert(math.abs(e4(lang) - n1 / 4.0) < 2e-4, // two round(4) boundaries
        s"$lang: eps=4 noise ${e4(lang)} != ${n1 / 4.0}")
    }
  }
}
