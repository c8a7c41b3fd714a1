package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, SessionArtifacts}
import graft.sources.Tables

/** Dev-only LSH-family scaling experiment (Test/runMain graft.ProfileScaling).
  *
  * Builds synthetic corpora at 1x / 3x / 10x the sf0.1 document count
  * (10x ~ sf1) and measures the q27 core (pair pipeline: banding +
  * candidate generation + exact-Jaccard verification) and the q53 core
  * (connected-component survivors) at each scale, with candidate and
  * pair counts — the empirical check that everything past banding is
  * candidate-proportional, i.e. wall-time and candidate volume grow
  * ~linearly with the corpus.
  *
  * Replica construction: replica 0 is the sf0.1 corpus verbatim; replica
  * r >= 1 maps every word w to the length-preserving pseudo-word
  * substr(md5(w || ':' || r), 1, len(w)). The map is a function of
  * (word, replica) only, so two near-dup documents inside a replica
  * transform identically — each replica carries the same near-dup pair
  * structure — while distinct replicas share (essentially) no
  * vocabulary (no cross-replica near-dups, no artificial quadratic
  * duplicate blowup from naive copying); preserving word lengths keeps
  * the shingle statistics, and hence the background candidate-collision
  * rate, comparable to the original corpus. Corpora are written to
  * target/scaling/ as parquet so every measured run scans from disk
  * like the registered queries.
  */
object ProfileScaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = "target/scaling"
    val spark = GraftSession
      .builder(appName = "graft-scaling", master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // optional section filter: `Test/runMain graft.ProfileScaling pq
    // chunk-pagerank` re-runs only those sections ("core" = everything
    // through clsdial); replica corpora are (re)materialized regardless
    // (idempotent _SUCCESS-guarded no-ops once written)
    val only = args.toSet
    def want(s: String): Boolean = only.isEmpty || only.contains(s)

    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")

    def replica(r: Int): DataFrame =
      if (r == 0) base
      else base.select(
        ($"doc_id" + lit(r * 10000000L)).as("doc_id"),
        array_join(
          transform(split($"text", " "),
            w => md5(concat(w, lit(s":$r"))).substr(lit(1), greatest(length(w), lit(1)))),
          " ").as("text"))

    val scales = Seq(1, 3, 10)
    scales.foreach { s =>
      val dir = s"$outRoot/x$s"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        (0 until s).map(replica).reduce(_ union _)
          .repartition(32).write.mode("overwrite").parquet(dir)
      }
    }

    if (want("core")) {
    // warm the JIT/codegen on the smallest corpus before measuring —
    // both halves, so the x1 measurement isn't charged one-time compile
    SessionArtifacts.clearAll()
    Dedup.survivorsOverPairs(Dedup.pairIndex(spark.read.parquet(s"$outRoot/x1"))).count()

    println("[scaling] scale docs candidates pairs t_pairs_s t_components_s")
    val rows = scales.map { s =>
      val docs = spark.read.parquet(s"$outRoot/x$s")
      val nDocs = docs.count()
      SessionArtifacts.clearAll()
      System.gc()
      // candidate count via the same bucket pipeline (measured separately
      // so the pair timing below stays a single clean pipeline run)
      val (pairs, tPairs) = time {
        val p = Dedup.pairIndex(docs)
        p.count() -> p
      }
      val (nSurv, tComp) = time {
        Dedup.survivorsOverPairs(pairs._2).count()
      }
      val buckets = Dedup.bandBuckets(docs)
        .groupBy($"band", $"bh").agg(count(lit(1)).as("k")).filter($"k" > 1)
        .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)).cast("long"))
        .collect()(0).getLong(0)
      println(f"[scaling] x$s%-2d $nDocs%6d $buckets%9d ${pairs._1}%5d $tPairs%8.2f $tComp%8.2f surv=$nSurv")
      (s, nDocs, buckets, pairs._1, tPairs, tComp)
    }
    // least-squares scaling exponent of t_pairs vs docs (log-log)
    val xs = rows.map(r => math.log(r._2.toDouble))
    val ys = rows.map(r => math.log(r._5))
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    println(f"[scaling] pair-pipeline scaling exponent (log-log slope): $slope%.2f")

    // q97 core (duplicated-span detection): gram counts + islands should
    // scale with gram occurrences, i.e. ~linearly in the corpus. The
    // pseudo-word map preserves each replica's duplicated spans (short
    // words can md5-collide, so replicas run slightly dup-richer than
    // the original — counts are reported, not assumed).
    println("[scaling] spans: scale docs affected dup_tokens t_s")
    val spanRows = scales.map { s =>
      val docs = spark.read.parquet(s"$outRoot/x$s")
      System.gc()
      val (res, t) = time {
        val r = graft.operators.Curation.duplicatedSpans(docs)
          .agg(coalesce(count(lit(1)), lit(0L)).as("affected"),
            coalesce(sum($"dup_tokens"), lit(0L)).as("dup_tokens"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      println(f"[scaling] spans x$s%-2d ${docs.count()}%6d ${res._1}%6d ${res._2}%9d $t%8.2f")
      (s, t)
    }
    val sx = spanRows.map(r => math.log(r._1.toDouble))
    val sy = spanRows.map(r => math.log(r._2))
    val smx = sx.sum / sx.size; val smy = sy.sum / sy.size
    val sslope = sx.zip(sy).map { case (x, y) => (x - smx) * (y - smy) }.sum /
      sx.map(x => (x - smx) * (x - smx)).sum
    println(f"[scaling] span-pipeline scaling exponent (log-log slope): $sslope%.2f")

    // q106 core (bigram-LM surprisal): the scoring join is the only new
    // token-proportional stage of round 4 — bigram-table rows and
    // wall-time should grow ~linearly (replicas share no vocabulary, so
    // the model table is replica-additive)
    println("[scaling] bigram-lm: scale docs bigram_rows t_s")
    val lmRows = scales.map { s =>
      val docs = spark.read.parquet(s"$outRoot/x$s")
      System.gc()
      val (nBigrams, t) = time {
        val r = graft.operators.TextAnalysis.bigramSurprisal(docs)
        r.write.format("noop").mode("overwrite").save()
        // distinct corpus bigram count = the model-table size
        docs.select(split($"text", " ").as("ts")).filter(size($"ts") >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))")).as("b"))
          .agg(count_distinct($"b")).collect()(0).getLong(0)
      }
      println(f"[scaling] bigram-lm x$s%-2d ${docs.count()}%6d $nBigrams%9d $t%8.2f")
      (s, t)
    }
    val lx = lmRows.map(r => math.log(r._1.toDouble))
    val ly = lmRows.map(r => math.log(r._2))
    val lmx = lx.sum / lx.size; val lmy = ly.sum / ly.size
    val lslope = lx.zip(ly).map { case (x, y) => (x - lmx) * (y - lmy) }.sum /
      lx.map(x => (x - lmx) * (x - lmx)).sum
    println(f"[scaling] bigram-lm scaling exponent (log-log slope): $lslope%.2f")

    // q122 core (rare-term-blocked tf-idf cosine pairs): replicas share
    // no vocabulary, so df stays per-replica and blocked candidates are
    // replica-additive — candidates/pairs should grow ~linearly. (Pair
    // counts can drift a little across scales: N grows, so idf = ln(N/df)
    // reweights the top-8 vectors — reported, not assumed.)
    println("[scaling] tfidf-pairs: scale docs pairs t_s")
    val tpRows = scales.map { s =>
      val docs = spark.read.parquet(s"$outRoot/x$s")
      System.gc()
      val (nPairs, t) = time {
        graft.operators.Matching.tfidfCosinePairs(docs).count()
      }
      println(f"[scaling] tfidf-pairs x$s%-2d ${docs.count()}%6d $nPairs%6d $t%8.2f")
      (s, t)
    }
    val tx = tpRows.map(r => math.log(r._1.toDouble))
    val ty = tpRows.map(r => math.log(r._2))
    val tmx = tx.sum / tx.size; val tmy = ty.sum / ty.size
    val tslope = tx.zip(ty).map { case (x, y) => (x - tmx) * (y - tmy) }.sum /
      tx.map(x => (x - tmx) * (x - tmx)).sum
    println(f"[scaling] tfidf-pairs scaling exponent (log-log slope): $tslope%.2f")

    // q121 core (fuzzy catalog match): the fact table grows 10x but the
    // NAME CATALOG is constant (64 names), so after the distinct-name
    // reduction the matcher's work should be ~flat — the
    // catalog-proportional claim made empirical
    println("[scaling] fuzzy-match: scale rows pairs t_s")
    val partBase = Tables.part(spark, sfDir).select($"p_partkey", $"p_name")
    scales.foreach { s =>
      val rep = (0 until s).map(r =>
        partBase.select(($"p_partkey" + lit(r * 10000000L)).as("p_partkey"), $"p_name"))
        .reduce(_ union _)
      System.gc()
      val (nPairs, t) = time {
        graft.operators.Matching.fuzzyNameMatch(rep).count()
      }
      println(f"[scaling] fuzzy-match x$s%-2d ${rep.count()}%8d $nPairs%5d $t%8.2f")
    }
    } // end want("core") part 1
    // ---- round 5: embedding family (q48 pair pipeline, q95 ingest probe,
    // q100 SemDeDup) on x1/x3/x10 VECTOR replicas. Replica r applies a
    // signed cyclic permutation (an orthogonal transform keyed by r) to
    // every vector: within-replica cosines are preserved exactly, so each
    // replica carries the original's near-dup structure, while
    // cross-replica similarities stay at the random background — the
    // vector analog of the pseudo-word map above.
    val embBase = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val dim = embBase.select(size($"embedding")).first().getInt(0)
    def vecReplica(r: Int): DataFrame =
      if (r == 0) embBase
      else {
        val shift = (r * 7) % dim
        embBase.select(
          ($"vec_id" + lit(r * 10000000L)).as("vec_id"),
          array((0 until dim).map { i =>
            val sign = if (((i + 1) * 104729 + r * 7919) % 2 == 0) 1.0f else -1.0f
            element_at($"embedding", ((i + shift) % dim) + 1) * lit(sign)
          }: _*).as("embedding"))
      }
    scales.foreach { s =>
      val dir = s"$outRoot/emb_x$s"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        (0 until s).map(vecReplica).reduce(_ union _)
          .repartition(32).write.mode("overwrite").parquet(dir)
      }
    }
    import graft.operators.Similarity

    // candidate volume (Σ k·(k−1)/2 over buckets, all tables) at a dial —
    // the quantity the (tables, bits) dial exists to control
    def candCount(embs: DataFrame, tables: Int, bits: Int): Long =
      Similarity.hyperplaneBucketRows(embs, tables, bits)
        .groupBy($"t", $"bk").agg(count(lit(1)).as("k")).filter($"k" > 1)
        .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)).cast("long"))
        .collect()(0).getLong(0)

    if (want("core")) {
    println("[scaling] embeddings: scale nvecs cand8x6 cand24x12 pairs t_pairs_s t_ingest_s")
    scales.foreach { s =>
      val embs = spark.read.parquet(s"$outRoot/emb_x$s")
      val n = embs.count()
      SessionArtifacts.clearAll()
      System.gc()
      val c86 = candCount(embs, 8, 6)
      val c2412 = candCount(embs, 24, 12)
      // the pair pipeline runs at the dial that HOLDS at the scale: the
      // 8x6 fixture dial's candidate volume grows ~quadratically at a
      // fixed bucket count (measured in the cand8x6 column — the reason
      // the production dial exists), so x3/x10 verify at 24x12
      val (tables, bits) = if (s == 1) (8, 6) else (24, 12)
      val (nPairs, tPairs) = time {
        Similarity.embeddingNearDup(embs, 0.45, tables, bits).count()
      }
      // ingest probe with the index already built (the q95 shape): only
      // the 200-vector batch is bucketed from scratch — per-ingest work
      // should stay ~flat as the corpus grows
      val (nInc, tInc) = time {
        Similarity.incrementalEmbeddingNearDup(embs, 200L, 0.45, tables, bits).count()
      }
      println(f"[scaling] embeddings x$s%-2d $n%6d $c86%9d $c2412%7d $nPairs%5d ($tables%2dx$bits%-2d) $tPairs%8.2f $tInc%8.2f inc=$nInc")
    }

    // q100 SemDeDup: k grows with the corpus (k = 16·s) so cells hold
    // n/k ~constant and the within-cell pair work stays ~linear — the
    // operator's own scaladoc contract, measured
    println("[scaling] semdedup: scale nvecs k dropped t_s")
    scales.foreach { s =>
      val embs = spark.read.parquet(s"$outRoot/emb_x$s")
      System.gc()
      val (nDropped, t) = time {
        Similarity.semanticDedup(embs, k = 16 * s, tau = 0.45)
          .agg(coalesce(sum($"n_dropped"), lit(0L))).collect()(0).getLong(0)
      }
      println(f"[scaling] semdedup x$s%-2d ${embs.count()}%6d ${16 * s}%3d $nDropped%6d $t%8.2f")
    }

    // ---- round 5: the PRODUCTION LSH dial measured (24x12 @ tau=0.9 vs
    // the 8x6 fixture dial). 100 planted near-dup pairs at cos ~0.92
    // (v' = 0.92·v + 0.39·(signed half-rotation of v), so |u| = |v| and
    // the planted cosine is ~0.92 regardless of the fixture's vector
    // norms); the scaladoc claims ~equal recall at ~20x fewer candidates
    // — both numbers measured here. 8x6 recall runs at x1 only: its x10
    // candidate volume is the quadratic blowup the dial exists to avoid.
    def planted(embs: DataFrame): DataFrame = {
      val half = dim / 2
      embs.filter($"vec_id" < 100).select(
        ($"vec_id" + 90000000L).as("vec_id"),
        array((0 until dim).map { j =>
          val sign = if ((j * 7919 + 3) % 2 == 0) 1.0f else -1.0f
          (element_at($"embedding", j + 1) * 0.92f +
            element_at($"embedding", ((j + half) % dim) + 1) * (0.39f * sign))
        }: _*).as("embedding"))
    }
    println("[scaling] lsh-dial: corpus dial candidates found/truth t_s")
    Seq((1, 8, 6), (1, 24, 12), (10, 24, 12)).foreach { case (s, tables, bits) =>
      val embs = spark.read.parquet(s"$outRoot/emb_x$s")
      val withPlanted = embs.unionByName(planted(embs)).localCheckpoint()
      SessionArtifacts.clearAll()
      System.gc()
      // exact truth over the 100 planted (i, i+9e7) pairs only
      val truth = withPlanted.filter($"vec_id" < 100).as("a")
        .join(withPlanted.filter($"vec_id" >= 90000000L).as("b"),
          col("b.vec_id") === col("a.vec_id") + 90000000L)
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
          round(graft.functions.VectorFunctions.cosine_sim(
            transform(col("a.embedding"), _.cast("double")),
            transform(col("b.embedding"), _.cast("double"))), 6).as("cos"))
        .filter($"cos" >= 0.9)
        .select($"id1", $"id2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cands = candCount(withPlanted, tables, bits)
      val (found, t) = time {
        Similarity.embeddingNearDup(withPlanted, 0.9, tables, bits)
          .select($"id1", $"id2")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val hit = (found.intersect(truth)).size
      println(f"[scaling] lsh-dial x$s%-2d ${tables}x$bits%-2d $cands%9d $hit%3d/${truth.size}%-3d $t%8.2f")
    }

    // ---- round 5: batched BPE round count at a production-ish merge
    // budget — nMerges=64 should train in FAR fewer than 64 rounds
    // (the O(rounds)-not-O(vocab) driver-synchronization claim)
    Seq(1, 3).foreach { s =>
      val docs = spark.read.parquet(s"$outRoot/x$s")
      System.gc()
      val ((merges, rounds), t) = time {
        val (df, r) = graft.operators.TextAnalysis.bpeMergesWithRounds(docs, 64)
        (df.count(), r)
      }
      println(f"[scaling] bpe64 x$s%-2d merges=$merges%3d rounds=$rounds%2d $t%8.2f s")
    }

    // ---- round 5: the boilerplate + classifier family (q142/q143/q145).
    // These replicas carry lang/source (the ops group on them); the
    // pseudo-word map preserves within-replica segment duplication and
    // lang-vocab disjointness, so template counts and separability
    // replicate per copy. Expectations: boilerplate is segment-
    // proportional (two shuffles, ~linear); classifier training is
    // rounds x two corpus-linear aggregates with a fixed 65-row driver
    // state, so wall time should be ~linear in docs and FLAT in rounds'
    // driver cost.
    val base4 = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang", $"source")
    def replica4(r: Int): DataFrame =
      if (r == 0) base4
      else base4.select(
        ($"doc_id" + lit(r * 10000000L)).as("doc_id"),
        array_join(
          transform(split($"text", " "),
            w => md5(concat(w, lit(s":$r"))).substr(lit(1), greatest(length(w), lit(1)))),
          " ").as("text"),
        $"lang", $"source")
    println("[scaling] curation: scale docs bp_segs toks_kept t_bp_s cls_acc t_train_s n_accepted t_sample_s")
    scales.foreach { s =>
      val docs = (0 until s).map(replica4).reduce(_ union _)
        .repartition(32).persist()
      val nDocs = docs.count()
      System.gc()
      val ((bp, kept), tBp) = time {
        val r = Curation.boilerplateSegments(docs)
          .agg(sum($"n_bp_segments"), sum($"toks_kept")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      System.gc()
      val (acc, tTrain) = time {
        // eval = training + one scoring pass; report overall accuracy
        val cm = Curation.qualityClassifierEval(docs)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val correct = cm.filter(c => c._1 == c._2).map(_._3).sum
        correct.toDouble / cm.map(_._3).sum
      }
      System.gc()
      val (nAcc, tSample) = time {
        Curation.classifierSample(docs)
          .agg(sum($"n_accepted")).collect()(0).getLong(0)
      }
      docs.unpersist()
      println(f"[scaling] curation x$s%-2d $nDocs%6d $bp%7d $kept%9d $tBp%8.2f acc=$acc%.3f $tTrain%8.2f acc_n=$nAcc%6d $tSample%8.2f")
    }

    // ---- round 6: the classifier PRODUCTION dial — buckets = 2^15 (a
    // fastText-scale hashed vocabulary) and rounds up to 16, vs the
    // registered demo dial (64 x 4). What must stay bounded for the
    // Lloyd-pattern claim to hold at this dial: the per-round gradient
    // collect and weight broadcast (both <= observed-buckets + 1 rows,
    // corpus-independent) and the wall-time PER ROUND (two map-side-
    // combined aggregates over the persisted feature frame, ~linear in
    // corpus). rounds=8 and rounds=16 are separate weights-cache keys
    // but share the session feature frame, so (t16 - t8) / 8 isolates
    // the marginal per-round cost with the frame build already paid
    // (t_frame+1r below charges the build plus one round).
    val prodBuckets = 32768
    println("[scaling] clsdial: scale docs wv_rows t_frame+1r_s t_8r_s t_16r_s t_per_round_s")
    scales.foreach { s =>
      val docs = (0 until s).map(replica4).reduce(_ union _)
        .repartition(32).persist()
      val nDocs = docs.count()
      SessionArtifacts.clearAll()
      System.gc()
      val (wvRows, tWarm) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 1).count()
      }
      val (_, t8) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 8).count()
      }
      val (_, t16) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 16).count()
      }
      docs.unpersist()
      SessionArtifacts.clearAll()
      val perRound = (t16 - t8) / 8.0
      println(f"[scaling] clsdial x$s%-2d $nDocs%6d $wvRows%6d $tWarm%8.2f $t8%8.2f $t16%8.2f $perRound%8.2f")
    }
    } // end want("core") part 2

    // ---- round 6: PQ / IVF-PQ (session model cache: the pq carrier
    // pays training + encode cold, ivfpq rides the cached model —
    // exactly how the bench charges q148/q149; claim under test:
    // carrier corpus-LINEAR, rider probe-proportional), chunking (one
    // projection pass + one fingerprint-count exchange), and near-dup
    // PageRank as a pair-index rider (4 join+agg iterations over
    // edge-proportional rows; carrier build charged separately)
    if (want("pq")) {
      // warm JIT/codegen on x1 first — otherwise the x1 row is charged
      // the one-time compile of the whole train/encode/ADC plan family
      SessionArtifacts.clearAll()
      Similarity.ivfPqAnnRecall(spark.read.parquet(s"$outRoot/emb_x1")).count()
      println("[scaling] pq: scale nvecs t_pq_carrier_s t_ivfpq_rider_s")
      scales.foreach { s =>
        val embs = spark.read.parquet(s"$outRoot/emb_x$s")
        SessionArtifacts.clearAll()
        System.gc()
        val (_, tPq) = time(Similarity.pqAnnRecall(embs).count())
        val (_, tIvf) = time(Similarity.ivfPqAnnRecall(embs).count())
        println(f"[scaling] pq x$s%-2d ${embs.count()}%6d $tPq%8.2f $tIvf%8.2f")
      }
    }
    // ---- round 7: the new selection/diagnostic family. Claims under
    // test: q173 bootstrap is ONE exploded scan (linear in docs x
    // replicas); q175 k-core is a pair-index RIDER (8 bulk-synchronous
    // rounds over edge-proportional rows — carrier charged separately);
    // q174 facility location is Lloyd-training-proportional with a
    // driver greedy that is k²-bounded (measured at k=16 fixed and at
    // the k=16·s growing dial the scaladoc prescribes); q176 profile is
    // one unpivoted pass (linear in rows x cols, NDV-shuffle bound)
    if (want("r7new")) {
      import graft.operators.{Governance, Similarity => Sim}
      val b4 = Tables.documents(spark, sfDir)
        .select($"doc_id", $"text", $"lang", $"source")
      def rep4(r: Int): DataFrame =
        if (r == 0) b4
        else b4.select(
          ($"doc_id" + lit(r * 10000000L)).as("doc_id"),
          array_join(
            transform(split($"text", " "),
              w => md5(concat(w, lit(s":$r"))).substr(lit(1), greatest(length(w), lit(1)))),
            " ").as("text"),
          $"lang", $"source")
      // bootstrap needs lang (in-memory replica frame); the pair-index
      // carrier + riders and the profile scan the CANONICAL parquet
      // corpora — a production corpus is a table on disk, and the
      // in-memory union-of-replicas plan was measured to distort the
      // carrier by >10x at x10 (lineage re-evaluation, not operator cost)
      // JIT/codegen warmup on x1 (the core section's convention): the
      // first pair-pipeline + window-plan compile otherwise lands on
      // whichever scale row runs first
      SessionArtifacts.clearAll()
      Dedup.kcoreDecomposition(spark.read.parquet(s"$outRoot/x1")).count()
      Curation.bootstrapCi(b4).count()
      println("[scaling] r7new: scale docs t_bootstrap_s t_pairs_s t_kcore_s t_profile_s nvecs t_fl16_s t_fl16s_s")
      scales.foreach { s =>
        val docsL = (0 until s).map(rep4).reduce(_ union _)
          .repartition(32).persist()
        val nDocs = docsL.count()
        System.gc()
        val (_, tBoot) = time(Curation.bootstrapCi(docsL).count())
        docsL.unpersist()
        val docs = spark.read.parquet(s"$outRoot/x$s")
        SessionArtifacts.clearAll()
        System.gc()
        val (_, tPairs) = time(Dedup.pairIndex(docs).count())
        val (_, tKcore) = time(Dedup.kcoreDecomposition(docs).count())
        System.gc()
        val (_, tProf) = time(Governance.tableProfile(docs).count())
        val embs = spark.read.parquet(s"$outRoot/emb_x$s")
        val nVecs = embs.count()
        System.gc()
        val (_, tFl) = time(Sim.facilityLocationSelect(embs).count())
        val (_, tFlGrow) = time(
          Sim.facilityLocationSelect(embs, k = 16 * s, nSel = 5 * s).count())
        println(f"[scaling] r7new x$s%-2d $nDocs%6d $tBoot%8.2f $tPairs%8.2f $tKcore%8.2f $tProf%8.2f $nVecs%6d $tFl%8.2f $tFlGrow%8.2f")
      }
    }
    if (want("chunk-pagerank")) {
      println("[scaling] chunk-pagerank: scale docs chunks t_chunk_s t_pairs_s nodes t_pr_s")
      scales.foreach { s =>
        val docs = spark.read.parquet(s"$outRoot/x$s")
        SessionArtifacts.clearAll()
        System.gc()
        val (nCh, tCh) = time(Curation.chunkDocuments(docs).count())
        val (_, tPairs) = time(Dedup.pairIndex(docs).count())
        val (nPr, tPr) = time(Dedup.neardupPagerank(docs).count())
        println(f"[scaling] chunk-pagerank x$s%-2d ${docs.count()}%6d $nCh%7d $tCh%8.2f $tPairs%8.2f $nPr%6d $tPr%8.2f")
      }
    }
    spark.stop()
  }
}
