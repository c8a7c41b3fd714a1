package graft

import org.apache.spark.sql.functions._

import graft.functions.{Aggregators, VectorFunctions}
import graft.operators.Similarity
import graft.sources.Tables

class FunctionsSpec extends GraftSuite {
  import org.apache.spark.sql.Column

  private def $(name: String): Column = col(name)

  test("native cosine_sim matches compositional cosine on all embedding pairs") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id")).limit(2000)
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("comp"),
        VectorFunctions.cosine_sim(col("a.v"), col("b.v")).as("native"))
    assert(pairs.filter(abs(col("comp") - col("native")) > 1e-12).count() === 0)
  }

  test("native expression accepts raw float arrays (auto-cast)") {
    val e = Tables.embeddings(spark, sf)
    val n = e.as("a").join(e.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(VectorFunctions.cosine_sim(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(abs(col("c") - 1.0) < 1e-9)
      .count()
    assert(n === e.count(), "self-cosine must be 1")
  }

  test("SQL registration: cosine_sim callable from spark.sql") {
    VectorFunctions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_t")
    val row = spark.sql(
      """SELECT round(cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                        CAST(a.embedding AS ARRAY<DOUBLE>)), 6) AS c
        |FROM emb_t a LIMIT 1""".stripMargin).collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
  }

  test("SQL registration: signature/shingle functions callable with literal params") {
    VectorFunctions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_t")
    val r = spark.sql(
      """SELECT size(minhash_signature(text, 5, 126)) AS m,
        |       simhash_signature(text, 5) AS s,
        |       sorted_intersect_count(shingle_hashes(text, 5), shingle_hashes(text, 5)) AS i,
        |       size(shingle_hashes(text, 5)) AS n
        |FROM docs_t LIMIT 1""".stripMargin).collect()(0)
    assert(r.getInt(0) === 126)
    assert(r.getLong(2) === r.getInt(3).toLong, "self-intersection == set size")
    // non-literal width must fail analysis with a clear message
    val ex = intercept[Exception](
      spark.sql("SELECT minhash_signature(text, CAST(size(split(text, ' ')) AS INT), 126) FROM docs_t").collect())
    assert(ex.getMessage.contains("literal"))
  }

  test("cosineTopKNative equals cosineTopK") {
    val a = Similarity.cosineTopK(Tables.embeddings(spark, sf)).collect().toSeq
    val b = Similarity.cosineTopKNative(Tables.embeddings(spark, sf)).collect().toSeq
    assert(a === b)
  }

  test("codegen: cosine_sim projection is inside a WholeStageCodegen stage") {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val e = Tables.embeddings(spark, sf)
      .select(transform(col("embedding"), _.cast("double")).as("v"))
    val df = e.select(VectorFunctions.cosine_sim(col("v"), col("v")).as("c"))
    val codegenProjects = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec =>
        w.collect { case p: ProjectExec => p.projectList.map(_.sql).mkString(",") }
    }.flatten
    assert(codegenProjects.exists(_.contains("cosine_sim")),
      s"cosine_sim not in codegen stage:\n${df.queryExecution.executedPlan}")
    // force evaluation through the codegen path
    assert(df.filter(col("c").isNotNull).count() > 0)
  }

  test("DotProductRewrite: compositional aggregate/zip_with plans as native dot_product") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val df = e.select(col("vec_id"), Similarity.dot(col("v"), col("v")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"), s"rewrite did not fire:\n$optimized")
    assert(!optimized.contains("aggregate("), s"lambda chain survived:\n$optimized")
    // and values are identical to the un-rewritten computation
    val direct = e.select(col("vec_id"), VectorFunctions.dot_product(col("v"), col("v")).as("d"))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      direct.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
  }

  test("native expressions match the lambda chain on ragged and null-element arrays") {
    // ragged lengths: zip_with null-pads -> null propagates; null element:
    // multiply(null) -> null through the sum. The native expressions must
    // agree so DotProductRewrite is a pure plan rewrite. Arrays are built
    // from a column to defeat constant folding (codegen path exercised).
    val df = spark.range(1).select(
      array(col("id").cast("double") + 1.0, lit(2.0), lit(3.0)).as("a3"),
      array(col("id").cast("double") + 4.0, lit(5.0)).as("b2"),
      array(col("id").cast("double") + 1.0, lit(null).cast("double"), lit(3.0)).as("an"))
    val r = df.select(
      VectorFunctions.dot_product($("a3"), $("b2")).as("n0"),
      VectorFunctions.dot_product($("a3"), $("an")).as("n1"),
      VectorFunctions.cosine_sim($("a3"), $("b2")).as("n2"),
      VectorFunctions.cosine_sim($("a3"), $("an")).as("n3"),
      Similarity.dot($("a3"), $("b2")).as("n4"),
      Similarity.dot($("a3"), $("an")).as("n5")).collect()(0)
    (0 until 6).foreach(i => assert(r.isNullAt(i), s"col n$i must be null"))
    // and the rewrite (registered in the previous test) agrees on ragged input
    val rewritten = df.select(Similarity.dot($("a3"), $("b2")).as("d"))
    assert(rewritten.collect()(0).isNullAt(0))
  }

  test("minhash_signature equals the explode+min compositional form bit-for-bit") {
    import graft.functions.MinHashFunctions
    import graft.operators.Dedup
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "héllo wörld"), (9004L, "aaaaaaa"))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(50)
      .unionByName(spark.createDataFrame(edge).toDF("doc_id", "text"))
    val native = docs.select(col("doc_id"),
      MinHashFunctions.minhash_signature(col("text"), 5, Dedup.NumHashes).as("sig"))
    val toks = docs
      .select(col("doc_id"), explode(Dedup.shingleArray(col("text"), 5)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val sigCols = (0 until Dedup.NumHashes).map(s => min(xxhash64(lit(s), col("h"))).as(s"h$s"))
    val comp = toks.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val joined = native.join(comp, "doc_id").collect()
    assert(joined.length === 54)
    joined.foreach { r =>
      val sig = r.getSeq[Long](1)
      (0 until Dedup.NumHashes).foreach(s =>
        assert(sig(s) === r.getLong(2 + s), s"hash $s diverges for doc ${r.getLong(0)}"))
    }
  }

  test("simhash_signature equals the explode+md5+bit-sum compositional form bit-for-bit") {
    import graft.functions.MinHashFunctions
    import graft.operators.Dedup
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "héllo wörld"), (9004L, "aaaaaaa"))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(50)
      .unionByName(spark.createDataFrame(edge).toDF("doc_id", "text"))
    val native = docs.select(col("doc_id"),
      MinHashFunctions.simhash_signature(col("text"), 5).as("sig"))
    // the pre-fusion formulation this expression replaces (and the oracle
    // SQL's shape): explode, md5 hex, 32 ascii-parity bit sums, sign bits
    val hashed = docs
      .select(col("doc_id"), explode(Dedup.shingleArray(col("text"), 5)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    val bitSums = (0 until 32).map(i => sum(ascii(substring(col("h"), i + 1, 1)) % 2 * 2 - 1).as(s"s$i"))
    val agg = hashed.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val compSig = (0 until 32)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val comp = agg.select(col("doc_id"), compSig.as("csig"))
    val joined = native.join(comp, "doc_id").collect()
    assert(joined.length === 54)
    joined.foreach(r => assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)} diverges"))
  }

  test("shingle_hashes/sorted_intersect_count equal their compositional forms") {
    import graft.functions.MinHashFunctions
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(60)
    val both = docs.select(col("doc_id"),
      MinHashFunctions.shingle_hashes(col("text"), 5).as("native"),
      array_sort(array_distinct(transform(Dedup.shingleArray(col("text"), 5), g => xxhash64(g))))
        .as("comp"))
    assert(both.filter(col("native") =!= col("comp")).count() === 0)
    // intersect count on pairs: native merge == size(array_intersect)
    val pairs = both.as("a").join(both.as("b"), col("a.doc_id") < col("b.doc_id")).limit(500)
      .select(
        MinHashFunctions.sorted_intersect_count(col("a.native"), col("b.native")).as("ni"),
        size(array_intersect(col("a.comp"), col("b.comp"))).cast("long").as("ci"))
    assert(pairs.filter(col("ni") =!= col("ci")).count() === 0)
  }

  test("null/NaN element semantics match the compositional forms (buckets, intersect)") {
    import graft.functions.MinHashFunctions
    import graft.operators.Similarity
    // arrays from a column so constant folding doesn't bypass codegen
    val df = spark.range(1).select(
      array(col("id").cast("double") + 1.0, lit(null).cast("double"), lit(3.0)).as("vn"),
      array(col("id").cast("double") + 1.0, lit(Double.NaN), lit(3.0)).as("vnan"),
      array(col("id") + 1L, lit(null).cast("long"), lit(9L)).as("hn"),
      array(col("id") + 1L, lit(9L)).as("h"))
    val r = df.select(
      VectorFunctions.hyperplane_buckets(col("vn"), 2, 4).as("bn"),
      Similarity.lshBucket(col("vn")).as("comp_null"),
      element_at(VectorFunctions.hyperplane_buckets(col("vnan"), 1, Similarity.NumPlanes), 1).as("bnan"),
      Similarity.lshBucket(col("vnan")).as("comp_nan"),
      MinHashFunctions.sorted_intersect_count(col("hn"), col("h")).as("in1"),
      MinHashFunctions.sorted_intersect_count(col("h"), col("h")).as("in2")).collect()(0)
    // null element: every projection nullifies -> all-zero buckets, both forms
    assert(r.getSeq[Long](0) === Seq(0L, 0L))
    assert(r.getLong(1) === 0L)
    // NaN projection: Spark orders NaN above 0 -> bit SET, both forms
    assert(r.getLong(2) === r.getLong(3))
    // null element in a hash set -> count is NULL, clean set works
    assert(r.isNullAt(4))
    assert(r.getLong(5) === 2L)
  }

  test("hyperplane_buckets equals the compositional lshBucket/neardupBucket bit-for-bit") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val nd = graft.operators.Similarity.NeardupTables
    val compCols = (0 until nd).map(t =>
      graft.operators.Similarity.neardupBucket(col("v"), t).as(s"c$t"))
    val rows = e.select(
      (Seq(
        VectorFunctions.hyperplane_buckets(col("v"), nd, graft.operators.Similarity.NeardupBits).as("native"),
        element_at(VectorFunctions.hyperplane_buckets(col("v"), 1, graft.operators.Similarity.NumPlanes), 1).as("lsh_native"),
        graft.operators.Similarity.lshBucket(col("v")).as("lsh_comp")) ++ compCols): _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Long](0)
      assert(r.getLong(1) === r.getLong(2), "single-table form must equal lshBucket")
      (0 until nd).foreach(t => assert(native(t) === r.getLong(3 + t), s"table $t diverges"))
    }
  }

  test("rolling_hash matches a reference Scala fold and stays in codegen") {
    import graft.functions.RollingHash
    def ref(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val rows = Tables.documents(spark, sf)
      .select(col("text"), RollingHash.rolling_hash(col("text")).as("h"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === ref(r.getString(0))))
    assert(rows.nonEmpty)
  }

  test("KMV sketch: partition-invariant, exact under k, within tolerance over k") {
    val li = Tables.lineitem(spark, sf)
    val a = graft.operators.Typed.kmvDistinct(spark, li).collect()
    val b = graft.operators.Typed.kmvDistinct(spark, li.repartition(13)).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "sketch must be invariant to partitioning (canonical k-smallest set)")
    assert(a.nonEmpty)
    a.foreach { r =>
      val est = r.getDouble(2); val exact = r.getLong(3)
      assert(exact > 64, "fixture groups must exercise the estimator path")
      assert(math.abs(est - exact) / exact < 0.5,
        s"estimate $est too far from exact $exact (k=64, ~4 sigma bound)")
    }
    // fewer distinct keys than k: the count is exact by construction
    val s = graft.operators.Typed.kmvDistinct(spark, li.limit(40)).collect()
    assert(s.nonEmpty)
    s.foreach(r => assert(r.getDouble(2) === r.getLong(3).toDouble))
  }

  test("TwoLevelSum: reduce/merge equals sum (reference partial+final agg)") {
    import spark.implicits._
    val values = Tables.orders(spark, sf).select(col("o_totalprice")).as[Double]
    val s = values.repartition(7).select(new Aggregators.TwoLevelSumOf[Double](identity).toColumn).collect()(0)
    val expected = Tables.orders(spark, sf).agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(math.abs(s - expected) < 1e-4)
  }

  test("pair_combinations equals the interpreted HOF expansion as a multiset") {
    import graft.functions.MinHashFunctions
    import spark.implicits._
    val cases = Seq(
      Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(2L, 1L),
      Seq(5L, 5L), Seq(3L, 1L, 2L), Seq(4L, 4L, 1L), Seq(9L, 8L, 7L, 6L, 5L))
    val df = cases.toDF("ids")
    val both = df.select(
      MinHashFunctions.pair_combinations(col("ids")).as("native"),
      expr("""filter(
             |  flatten(transform(ids, a -> transform(ids, b -> struct(a AS id1, b AS id2)))),
             |  p -> p.id1 < p.id2)""".stripMargin).as("hof")).collect()
    both.foreach { r =>
      def pairs(i: Int) = r.getSeq[org.apache.spark.sql.Row](i)
        .map(p => (p.getLong(0), p.getLong(1))).sorted
      assert(pairs(0) === pairs(1))
    }
    // null element -> NULL (the HOF comparison would be undefined)
    val nullRow = spark.range(1)
      .select(array(col("id") + 1, lit(null).cast("long")).as("ids"))
      .select(MinHashFunctions.pair_combinations(col("ids")).as("p")).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("pair_combinations_keyed equals the interpreted keyed HOF expansion as a multiset") {
    import graft.functions.MinHashFunctions
    import spark.implicits._
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(7L), Seq(70L)),
      (Seq(1L, 2L), Seq(10L, 20L)),
      (Seq(2L, 1L), Seq(20L, 10L)),
      (Seq(5L, 5L), Seq(50L, 51L)),
      (Seq(3L, 1L, 2L), Seq(30L, 10L, 20L)),
      (Seq(9L, 8L, 7L, 6L), Seq(90L, 80L, 70L, 60L)))
    val df = cases.toDF("ids", "ps")
    val both = df.select(
      MinHashFunctions.pair_combinations_keyed(col("ids"), col("ps")).as("native"),
      expr("""filter(
             |  flatten(transform(arrays_zip(ids, ps), a ->
             |    transform(arrays_zip(ids, ps), b ->
             |      struct(a.ids AS id1, a.ps AS p1, b.ids AS id2, b.ps AS p2)))),
             |  p -> p.id1 < p.id2)""".stripMargin).as("hof")).collect()
    both.foreach { r =>
      def pairs(i: Int) = r.getSeq[org.apache.spark.sql.Row](i)
        .map(p => (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))).sorted
      assert(pairs(0) === pairs(1))
    }
    // null element or length mismatch -> NULL
    val bad = spark.range(1).select(
      MinHashFunctions.pair_combinations_keyed(
        array(col("id") + 1, lit(null).cast("long")), array(lit(1L), lit(2L))).as("a"),
      MinHashFunctions.pair_combinations_keyed(
        array(lit(1L), lit(2L)), array(lit(1L))).as("b")).collect()(0)
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("minhash_band_keys equals xxhash64 over signature band slices bit-for-bit") {
    import graft.functions.MinHashFunctions
    val docs = Tables.documents(spark, sf).limit(50)
    val sigs = docs.select(col("doc_id"),
      MinHashFunctions.minhash_signature(col("text"), 5, 126).as("sig"),
      MinHashFunctions.minhash_band_keys(col("text"), 5, 126, 6).as("bks"))
    val bandCols = (0 until 21).map { b =>
      xxhash64((0 until 6).map(r => element_at(col("sig"), b * 6 + r + 1)): _*)
    }
    val rows = sigs.select(col("bks"), array(bandCols: _*).as("comp")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("word_grams equals the compositional wordGrams on edge-case texts") {
    import graft.functions.TextFunctions
    import graft.operators.Curation
    import spark.implicits._
    // empties kept (split-on-every-space), leading/trailing/double spaces,
    // fewer-than-n words, empty text, multi-byte UTF-8
    val texts = Seq(
      "a b c d e", "a b", "", "xyz", " a  b ", "a  b c", "über zwei drei vier",
      "t t t t t", "one")
    val df = texts.toDF("text")
    for (n <- Seq(2, 3)) {
      val rows = df.select(
        TextFunctions.word_grams($"text", n).as("native"),
        Curation.wordGrams($"text", n).as("hof"),
        TextFunctions.word_grams($"text", n, distinct = true).as("native_d"),
        array_distinct(Curation.wordGrams($"text", n)).as("hof_d")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n multiplicity form")
        assert(r.getSeq[String](2) === r.getSeq[String](3), s"n=$n distinct form")
      }
    }
    // null text -> null array (both forms)
    val nr = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.word_grams($"text", 2).as("g")).collect()(0)
    assert(nr.isNullAt(0))
  }

  test("word_ngram_stats equals explode+groupBy counting and stays in codegen") {
    import graft.functions.TextFunctions
    import graft.operators.Curation
    import spark.implicits._
    val texts = Seq(
      "a b a b a", "a b c d e", "a a a a", "one two", "", "x",
      "the cat sat on the cat sat on a mat").zipWithIndex.map(_.swap)
    val df = texts.toDF("id", "text")
    val native = df.select($"id", TextFunctions.word_ngram_stats($"text", 2).as("s"))
      .select($"id", $"s.n_grams", $"s.n_distinct", $"s.max_count")
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expected = texts.map { case (id, t) =>
      val ws = t.split(" ", -1).toSeq
      val gs = if (ws.length < 2) Nil else ws.sliding(2).map(_.mkString(" ")).toSeq
      val counts = gs.groupBy(identity).map(_._2.size)
      id -> ((gs.size.toLong, counts.size.toLong,
        (if (counts.isEmpty) 0 else counts.max).toLong))
    }.toMap
    assert(native === expected)
    // the stats projection must sit inside a WholeStageCodegen stage
    // (parquet-backed input so ConvertToLocalRelation can't fold it away;
    // no orderBy so the plan isn't hidden behind an un-finalized AQE root)
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val proj = Tables.documents(spark, sf)
      .select(TextFunctions.word_ngram_stats($"text", 2).as("s"))
    val codegenProjects = proj.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec =>
        w.collect { case p: ProjectExec => p.projectList.map(_.sql).mkString(",") }
    }.flatten
    assert(codegenProjects.exists(_.contains("word_ngram_stats")),
      s"word_ngram_stats not in codegen stage:\n${proj.queryExecution.executedPlan}")
    // and the full per-doc repetition query must not shuffle on doc_id (the
    // only exchange is the canonical output sort)
    val plan = Curation.repetitionSignals(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"per-doc repetition stats must not shuffle:\n$plan")
  }
}
