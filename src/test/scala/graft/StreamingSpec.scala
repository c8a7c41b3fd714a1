package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Events, SessionArtifacts}
import graft.sources.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends GraftSuite {

  test("streaming hourly agg over replayed fixture == batch hourly agg") {
    // stream the parquet fixture via AvailableNow into a complete-mode
    // memory sink, then compare with the batch operator
    val stream = EventStreams.eventFixtureStream(spark, sf)
    val q = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"), col("event_type"), col("n"))
      .writeStream.outputMode("complete").format("memory").queryName("hourly_replay")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("hourly_replay")
      .select("hour_epoch", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = Events.hourlyAgg(Tables.events(spark, sf))
      .select("hour_epoch", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming transitions == batch in-session pairs; state evicts losslessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e._3, e._1)) // global event-time order, like a real feed
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.transitionStream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("trans_out")
      .start()
    val (a, b) = raw.splitAt(raw.length / 2)
    input.addData(a.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("trans_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    q.stop()
    // brute-force expected pairs on micro-truncated time (the stream's
    // resolution), per user in (ts, event_id) order
    val expected = raw.map(e => (e._2, e._1, e._3 / 1000, e._4)).groupBy(_._1).toSeq
      .flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._2))
        sorted.zip(sorted.drop(1)).collect {
          case (x, y) if y._3 - x._3 <= 1800L * 1000000L => (x._4, y._4)
        }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    // and the live multiset matches the batch matrix (nano arithmetic)
    val batch = Events.sessionTransitions(Tables.events(spark, sf)).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed === batch)
  }

  test("checkpoint recovery: a restarted stateful query resumes from state, not from scratch") {
    import org.apache.spark.sql.functions.{col, expr}
    import java.nio.file.Files
    // the production replay pattern: file source + AvailableNow + a
    // checkpoint dir; the query is STOPPED between two data drops and
    // restarted with the same checkpoint — the second run must read ONLY
    // the new files and carry the typed-aggregator state across the
    // restart (complete-mode totals over BOTH drops)
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_state").toString
    val all = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val (a, b) = (all.filter(col("event_id") % 2 === 0), all.filter(col("event_id") % 2 =!= 0))
    a.write.parquet(s"$srcDir/drop=1")
    val schema = spark.read.parquet(s"$srcDir/drop=1").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir)
        .withColumn("day", expr("ts div 86400000000000"))
        .groupBy(col("day"))
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("ckpt_out").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // first incarnation: drop 1 only
    val afterFirst = spark.table("ckpt_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    b.write.parquet(s"$srcDir/drop=2")
    runOnce() // restarted incarnation: same checkpoint, reads only drop 2
    val afterSecond = spark.table("ckpt_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = all.select(expr("ts div 86400000000000").as("day"))
      .groupBy(col("day")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(afterSecond === expected, "restart must resume and see both drops")
    assert(afterFirst != expected, "first incarnation saw only drop 1")
    // the checkpoint recorded both incarnations' progress
    assert(new java.io.File(s"$ckpt/offsets").list().length >= 2)
  }

  test("streaming daily KMV sketches == batch; q128's rollup reproduces from streamed state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.dailyUserSketchStream(input.toDS())
      .writeStream.outputMode("complete").format("memory").queryName("dau_sketch")
      .start()
    val (a, b) = raw.splitAt(raw.length / 2)
    input.addData(a.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("dau_sketch").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toMap
    q.stop()
    // batch daily sketches: bottom-64 distinct md5(user) per day
    def md5Hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val du = raw.map(e => (e._3 / 86400000000000L, e._2)).distinct
    val batchDaily = du.groupBy(_._1).map { case (d, us) =>
      (d, us.map(u => md5Hex(u._2.toString)).distinct.sorted.take(64).toList)
    }
    assert(streamed === batchDaily)
    // q128's est_users / n_days reproduce from the streamed state alone
    val days = streamed.keys.toSeq.sorted
    val fromState = days.map { wend =>
      val win = days.filter(d => d >= wend - 6 && d <= wend)
      val sk = win.flatMap(streamed).distinct.sorted.take(64)
      val est =
        if (sk.size < 64) sk.size.toDouble
        else {
          val frac = (1 to 13).map(i =>
            Character.digit(sk.last.charAt(i - 1), 16) * math.pow(16.0, -i)).sum
          63.0 / frac
        }
      (wend, win.size.toLong,
        java.math.BigDecimal.valueOf(est).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    val batchQ128 = Events.slidingDistinctUsers(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromState === batchQ128)
  }

  test("streaming SCD2: closed intervals == batch history; open intervals live in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e._3, e._1))
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.scd2Stream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("scd2_out")
      .start()
    val thirds = raw.length / 3
    input.addData(raw.take(thirds).map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    input.addData(raw.drop(thirds).map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("scd2_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    val batch = Events.scd2History(Tables.events(spark, sf)).collect()
    val closed = batch.filter(!_.getBoolean(4))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === closed)
    assert(streamed.nonEmpty)
    // every user's open interval stayed in state: exactly one batch row
    // per user is open, and none of them was emitted
    val open = batch.filter(_.getBoolean(4)).map(_.getLong(0)).toSeq
    assert(open.distinct.size == open.size)
    assert(open.toSet === batch.map(_.getLong(0)).toSet)
  }

  test("out-of-order events behind a user's frontier are dropped, not chained") {
    // an event from an EARLIER point in a user's timeline arriving in a
    // LATER micro-batch (possible within the watermark) must not emit a
    // reversed transition or a negative-length SCD2 interval — the
    // documented per-user in-order contract, with late stragglers dropped
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tsSec: Long, typ: String) =
      Event(id, new Timestamp(tsSec * 1000), 7L, typ, 1.0)

    val tIn = MemoryStream[Event]
    val tq = EventStreams.transitionStream(tIn.toDS())
      .writeStream.outputMode("append").format("memory").queryName("ooo_trans")
      .start()
    tIn.addData(ev(1, 1000, "a"), ev(2, 2000, "b"))
    tq.processAllAvailable()
    // t=1500 is behind the user's frontier (2000): dropped, NOT chained as
    // b->c / c->a; t=3000 chains off the intact frontier as b->a
    tIn.addData(ev(3, 1500, "c"), ev(4, 3000, "a"))
    tq.processAllAvailable()
    val trans = spark.table("ooo_trans").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    tq.stop()
    assert(trans === Seq(("a", "b"), ("b", "a")))

    val sIn = MemoryStream[Event]
    val sq = EventStreams.scd2Stream(sIn.toDS())
      .writeStream.outputMode("append").format("memory").queryName("ooo_scd2")
      .start()
    sIn.addData(ev(1, 1000, "a"), ev(2, 2000, "b"))
    sq.processAllAvailable()
    sIn.addData(ev(3, 1500, "c"), ev(4, 3000, "a"))
    sq.processAllAvailable()
    val intervals = spark.table("ooo_scd2").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sortBy(_._2)
    sq.stop()
    // the late t=1500 "c" is dropped: intervals stay disjoint, positive
    // length, and exactly the in-order history
    assert(intervals === Seq(
      ("a", 1000000000L, 2000000000L - 1), ("b", 2000000000L, 3000000000L - 1)))
    assert(intervals.forall { case (_, from, to) => to > from })
  }

  test("SCD2 equal-timestamp ties follow batch q129's (ts, event_id) order; duplicates dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tsSec: Long, typ: String) =
      Event(id, new Timestamp(tsSec * 1000), 9L, typ, 1.0)
    val in = MemoryStream[Event]
    val q = EventStreams.scd2Stream(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("tie_scd2")
      .start()
    in.addData(ev(1, 1000, "a"))
    q.processAllAvailable()
    // same timestamp, HIGHER event_id, later micro-batch: legal under the
    // batch (tsu, event_id) tie-break — closes "a" as the EMPTY interval
    // (valid_to = valid_from - 1), exactly the artifact Events.scd2History
    // emits for same-micro change points (lead(tsu) - 1 < tsu); an as-of
    // probe [from, to] can never match it
    in.addData(ev(2, 1000, "b"))
    q.processAllAvailable()
    // a duplicate delivery of the frontier event and an equal-ts LOWER id
    // are both at-or-behind the (ts, event_id) frontier: dropped
    in.addData(ev(2, 1000, "b"), ev(1, 1000, "c"))
    q.processAllAvailable()
    in.addData(ev(3, 2000, "a"))
    q.processAllAvailable()
    val streamed = spark.table("tie_scd2").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(t => (t._2, t._3))
    q.stop()
    assert(streamed === Seq(
      ("a", 1000000000L, 1000000000L - 1), // empty interval, == batch
      ("b", 1000000000L, 2000000000L - 1)))
  }

  test("stream-stream interval join pairs purchases with in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStreams.purchaseClickJoin(purchases.toDF(), clicks.toDF())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()

    def ev(id: Long, tsSec: Long, user: Long, v: Double) =
      Event(id, new Timestamp(tsSec * 1000), user, "x", v)

    clicks.addData(ev(1, 1000, 7, 1.0), ev(2, 2000, 7, 2.0), ev(3, 1000, 8, 3.0))
    purchases.addData(ev(10, 2500, 7, 50.0)) // clicks 1000 & 2000 in window
    purchases.addData(ev(11, 5000, 7, 60.0)) // only click 2000 too old? 5000-1800=3200 > 2000 => none
    q.processAllAvailable()
    val rows = spark.table("ssjoin_out")
      .select("p_event", "c_event").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(rows === Set((10L, 1L), (10L, 2L)))
  }

  test("watermark drops late data deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()

    def ev(id: Long, tsSec: Long) = Event(id, new Timestamp(tsSec * 1000), 1L, "click", 1.0)

    input.addData(ev(1, 0), ev(2, 600))       // window [0, 3600)
    q.processAllAvailable()
    input.addData(ev(3, 3600 * 3))            // advances watermark far past window 0
    q.processAllAvailable()
    input.addData(ev(4, 700))                 // LATE: before watermark -> dropped
    q.processAllAvailable()
    input.addData(ev(5, 3600 * 5))            // close window at 3*3600 too
    q.processAllAvailable()
    val out = spark.table("late_out").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    q.stop()
    assert(out(0L) === 2L, s"late event must not count: $out") // not 3
  }

  test("stateful sessionize: gap splits sessions, state persists across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapSeconds = 1800L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()

    def ev(id: Long, tsSec: Long, user: Long, v: Double) =
      Event(id, new Timestamp(tsSec * 1000), user, "click", v)

    // batch 1: user 1 has two events 10min apart (one open session)
    input.addData(ev(1, 1000, 1, 1.0), ev(2, 1600, 1, 2.0))
    q.processAllAvailable()
    assert(spark.table("sessions_out").count() === 0) // still open

    // batch 2: >30min gap closes the first session, opens a second
    input.addData(ev(3, 5000, 1, 4.0))
    q.processAllAvailable()
    val closed = spark.table("sessions_out").as[EventStreams.SessionOut].collect()
    q.stop()
    assert(closed.length === 1)
    assert(closed(0).user_id === 1L)
    assert(closed(0).session_start_epoch === 1000L)
    assert(closed(0).n_events === 2L)
    assert(closed(0).total_value === 3.0)
  }

  test("streaming incremental embedding near-dup == batch pairs at the ingest boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cut = 200L
    val corpus = Tables.embeddings(spark, sf).filter(col("vec_id") >= cut)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // the corpus probe side is the PERSISTED hyperplaneBucketRows table —
    // written once, read back, probed by every ingest micro-batch (the
    // production story; bucketing is per-row local, so the filtered
    // read-back equals the filtered session index bit-for-bit, and the
    // equality below proves the persisted path against the session-path
    // batch result)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_emb_index_stream").toString + "/index"
    graft.operators.Similarity.hyperplaneBucketRows(Tables.embeddings(spark, sf))
      .write.mode("overwrite").parquet(idxDir)
    val corpusBuckets = spark.read.parquet(idxDir)
      .filter(col("vec_id") >= cut)
      .select(col("vec_id").as("old_id"), col("t"), col("bk"))
    val corpusVectors = corpus.select(col("vec_id").as("old_id"), col("v").as("v2"))
    val newRows = Tables.embeddings(spark, sf).filter(col("vec_id") < cut)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.incrementalEmbeddingStream(
        input.toDS().toDF("vec_id", "embedding"), corpusBuckets, corpusVectors)
      .writeStream.outputMode("append").format("memory").queryName("inc_emb_out")
      .start()
    val (a, b) = newRows.splitAt(newRows.length / 2)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    // at-least-once per band collision: dedup before comparing
    val streamed = spark.table("inc_emb_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val batch = graft.operators.Similarity
      .incrementalEmbeddingNearDup(Tables.embeddings(spark, sf), newIdCut = cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "the fixture should have pairs straddling the boundary")
  }

  test("streaming PSI drift == batch sourceDriftPsi bit-for-bit across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.psiDriftStream(input.toDS().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("psi_out")
      .start()
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("psi_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val batch = graft.operators.TextAnalysis.sourceDriftPsi(Tables.documents(spark, sf))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming compaction debt == batch compactionDebt bit-for-bit at every trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.operators.Multimodal.assetStore(Tables.documents(spark, sf), "bmp")
      .select(col("media_type"), length(col("payload")).as("n_bytes"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val input = MemoryStream[(String, Int)]
    val q = EventStreams.compactionDebtStream(
        input.toDS().toDF("media_type", "n_bytes"))
      .writeStream.outputMode("complete").format("memory").queryName("debt_out")
      .start()
    def emitted() = spark.table("debt_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    def batchOver(prefix: Seq[(String, Int)]) =
      graft.operators.Scale.compactionDebt(
          prefix.toDF("media_type", "n_bytes"), "media_type", "n_bytes")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    // three UNEVEN splits; the metric must equal the batch form over
    // each prefix, not just at the end
    val (a, rest) = rows.splitAt(rows.length / 5)
    val (b, c) = rest.splitAt(rest.length / 2)
    var prefix = Seq.empty[(String, Int)]
    for (chunk <- Seq(a, b, c)) {
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
      prefix = prefix ++ chunk
      assert(emitted() === batchOver(prefix), s"prefix of ${prefix.length}")
    }
    q.stop()
    // the fixture must exercise BOTH sides of the threshold somewhere
    val last = emitted()
    assert(last.exists(r => r._4 > 0L) && last.exists(r => r._4 < r._2),
      "threshold should split the fixture population")
  }

  test("streaming Misra-Gries candidates: superset of exact heavy hitters at every cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.heavyHitterStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("mg_out")
      .start()
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("mg_out")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    q.stop()
    val k = 49
    val nTotal = rows.map(_._2.split(" ", -1).length.toLong).sum
    assert(streamed.forall(_._1 === nTotal), "summary must count every streamed token")
    assert(streamed.length <= k)
    // the exact heavy set (batch pass) must survive the streaming merge tree
    val exact = graft.operators.TextAnalysis.heavyHitters(Tables.documents(spark, sf), k)
      .collect().map(_.getString(0)).toSet
    val cand = streamed.map(_._2).toSet
    assert(exact.nonEmpty && exact.subsetOf(cand),
      s"missing heavy hitters: ${exact.diff(cand)}")
  }

  test("streaming mixture plan == batch epochPlan bit-for-bit across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.mixturePlanStream(input.toDS().toDF("doc_id", "lang", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("mix_out")
      .start()
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("mix_out")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toSet
    q.stop()
    val batch = graft.operators.Curation.epochPlan(Tables.documents(spark, sf))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming budget burn-down == in-JVM recompute; unbudgeted sources omitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val alloc = graft.operators.Curation.budgetWaterFill(docs, 9000L)
      .select(col("source"), col("allocation"))
    // drop one source from the plan: its ingest must vanish from the monitor
    val dropped = alloc.orderBy(col("source")).limit(1)
      .collect().map(_.getString(0)).head
    val planned = alloc.filter(col("source") =!= dropped)
    val rows = docs.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.budgetBurndownStream(
        input.toDS().toDF("doc_id", "source", "text"), planned)
      .writeStream.outputMode("complete").format("memory").queryName("burn_out")
      .start()
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("burn_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    q.stop()
    val allocMap = planned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._2).collect {
      case (src, g) if allocMap.contains(src) =>
        val toks = g.map(_._3.split(" ", -1).length.toLong).sum
        val al = allocMap(src)
        (src, al, g.length.toLong, toks, math.max(0L, al - toks), toks > al)
    }.toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    assert(!streamed.exists(_._1 == dropped), "unbudgeted source must be omitted")
    assert(streamed.exists(_._6), "the tight 9000-token plan should overshoot somewhere")
  }

  test("streaming quantile sketch == batch quantile sketch bit-for-bit (incl. across batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay the fixture through a MemoryStream in TWO batches: the merge
    // path (partial bottom-k folds combined across micro-batches) must
    // land on exactly the batch query's estimates
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => Event(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = EventStreams.quantileSketchStream(input.toDS())
      .writeStream.outputMode("complete").format("memory").queryName("qsketch_out")
      .start()
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("qsketch_out")
      .select("event_type", "p50_est", "p90_est")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    q.stop()
    val batch = Events.quantileSketch(Tables.events(spark, sf))
      .select("event_type", "p50_est", "p90_est")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup: suppresses within the watermark horizon, evicts state beyond it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Doc]
    val q = EventStreams.dedupStream(input.toDF(), delay = "30 minutes")
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()

    def doc(id: Long, tsSec: Long, text: String) =
      EventStreams.Doc(id, new Timestamp(tsSec * 1000), text)
    def ids: Set[Long] =
      spark.table("dedup_out").collect().map(_.getLong(0)).toSet

    // same fingerprint after case/whitespace normalization: 1 and 2 collide.
    // WHICH of two same-batch duplicates survives is not contractual (it is
    // whichever the operator meets first after the fingerprint exchange) —
    // assert exactly one of them did, not a specific one
    input.addData(doc(1, 1000, "hello  world"), doc(2, 1100, "Hello world"),
      doc(3, 1200, "unique text"))
    q.processAllAvailable()
    val firstBatch = ids
    assert(firstBatch.intersect(Set(1L, 2L)).size === 1, s"one of the dup pair: $firstBatch")
    assert(firstBatch.contains(3L) && firstBatch.size === 2)
    // still within the horizon -> suppressed
    input.addData(doc(4, 1300, "hello world"))
    q.processAllAvailable()
    assert(ids === firstBatch)
    // push the watermark far past 1300 + 30min -> key state evicted
    input.addData(doc(5, 100000, "filler"))
    q.processAllAvailable()
    input.addData(doc(6, 100100, "hello world"))
    q.processAllAvailable()
    q.stop()
    assert(ids.contains(6L), "evicted key must be re-admitted past the horizon")
  }

  test("sessionize flushes the final open session when the watermark passes its gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapSeconds = 1800L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("final_sessions_out").start()

    def ev(id: Long, tsSec: Long, user: Long, v: Double) =
      Event(id, new Timestamp(tsSec * 1000), user, "click", v)

    // batch 1: user 1's only session, never followed by another user-1 event
    input.addData(ev(1, 1000, 1, 1.0), ev(2, 1600, 1, 2.0))
    q.processAllAvailable()
    // batch 2: user 2 far in the future — after this batch the watermark is
    // 10000 - 1800 = 8200s, past user 1's gap horizon of 1600 + 1800 = 3400s
    input.addData(ev(3, 10000, 2, 5.0))
    q.processAllAvailable()
    // batch 3: any new data lets the timeout fire with the advanced watermark
    input.addData(ev(4, 10100, 2, 1.0))
    q.processAllAvailable()
    val out = spark.table("final_sessions_out").as[EventStreams.SessionOut].collect()
    q.stop()
    // user 1's trailing session was flushed by timeout, not by a later event
    assert(out.count(_.user_id == 1L) === 1)
    val u1 = out.find(_.user_id == 1L).get
    assert(u1.session_start_epoch === 1000L && u1.n_events === 2L && u1.total_value === 3.0)
    // user 2's session is still open (watermark has not passed 10100+1800)
    assert(!out.exists(_.user_id == 2L))
  }

  test("stream-static incremental near-dup matches the batch operator across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") >= 100)
    val corpusBuckets = graft.operators.Dedup.bandBuckets(corpus)
      .withColumnRenamed("doc_id", "old_id")
      .localCheckpoint() // the persisted-index stand-in: computed once
    val corpusShingles = graft.operators.Dedup.shingleIndex(corpus)
      .select(col("doc_id").as("old_id"), col("hs").as("hs2"))
      .localCheckpoint()
    val expected = graft.operators.Dedup.incrementalNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture must contain cross-boundary near-dups")

    val newDocs = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val stream = EventStreams.incrementalNearDupStream(
      input.toDF().toDF("doc_id", "text"), corpusBuckets, corpusShingles)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("incdedup_out").start()
    // two micro-batches: the index answers both without recomputation
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    input.addData(b1.toSeq)
    q.processAllAvailable()
    input.addData(b2.toSeq)
    q.processAllAvailable()
    // at-least-once per batch: collapse band-collision duplicates to a set
    val got = spark.table("incdedup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(got === expected)
  }

  test("stream-static classifier scoring == batch micro-unit formula per doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
    // offline-trained model: the q143 weight table, collected once (the
    // broadcast a deployment ships to the scoring stream)
    val w = graft.operators.Curation.qualityClassifierWeights(docs)
      .select(col("b"), col("w_micro")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val wm = w.toMap
    val fixture = docs.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // reference scorer: plain Scala replay of the micro-unit formula
    val expected = fixture.map { case (id, src, text) =>
      val zm = wm.getOrElse(-1L, 0L) + text.split(" ", -1).map { t =>
        wm.getOrElse(
          java.lang.Long.parseLong(md5Hex(t).substring(0, 4), 16) % 64, 0L)
      }.sum
      val pm = math.round(1e6 / (1.0 + math.exp(-(zm / 1e6))))
      val u = java.lang.Long.parseLong(md5Hex(id.toString).substring(0, 5), 16) % 1000000L
      (id, src, pm, u < pm)
    }.toSet

    val input = MemoryStream[(Long, String, String)]
    val stream = EventStreams.classifierScoreStream(
      input.toDF().toDF("doc_id", "source", "text"), w)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("clsscore_out").start()
    // stateless scoring: any micro-batch split yields the same rows
    val (b1, b2) = fixture.toSeq.splitAt(fixture.length / 2)
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    val got = spark.table("clsscore_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet
    q.stop()
    assert(got === expected)
    // the calibrated coin accepts some and rejects some on a mixed corpus
    assert(expected.exists(_._4) && expected.exists(!_._4))
  }

  test("streaming erasure audit == batch erased columns; duplicate requests idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val delIds = graft.operators.Governance.erasureRequests(docs)
      .collect().map(_.getLong(0)).toSeq
    assert(delIds.nonEmpty)
    val input = MemoryStream[Long]
    val stream = EventStreams.erasureAuditStream(
      input.toDF().toDF("doc_id"), docs)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("erasure_out").start()
    // the queue redelivers: first batch, then the full list again plus a
    // repeat of the first id — dropDuplicates must absorb all of it
    val (b1, b2) = delIds.splitAt(delIds.length / 2)
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2 ++ delIds.take(1))
    q.processAllAvailable()
    val streamed = spark.table("erasure_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val batch = graft.operators.Governance
      .erasureAudit(docs, graft.operators.Governance.erasureRequests(docs))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4)))
      .filter(_._2 > 0L).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming PQ serving == in-JVM ADC recompute from the persisted artifacts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val embs = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("pq_stream").toString
    Similarity.writePqIndex(embs, s"$tmp/idx")
    val (candidates, codebook, cents) = Similarity.pqServingStatic(spark, s"$tmp/idx")
    val nProbe = 4; val k = 3
    // independent truth from the SAME parquet artifacts, all in JVM
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val codeRows = spark.read.parquet(s"$tmp/idx/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) // (vec, s, cid)
    val lists = spark.read.parquet(s"$tmp/idx/ivflists").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // vec -> cell
    val books = spark.read.parquet(s"$tmp/idx/codebooks").collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2).toArray)).toMap
    val subDim = books.head._2.length
    val queries = embs.filter(col("vec_id") < 5)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val expected = queries.flatMap { case (qid, qv) =>
      val probed = cents.sortBy { case (cid, cv) => (round6(-cos(qv, cv)), cid) }
        .take(nProbe).map(_._1).toSet
      val codesByVec = codeRows.filter(t => t._1 != qid && probed(lists(t._1)))
        .groupBy(_._1)
      codesByVec.map { case (vid, rows) =>
        val adc = round6(rows.sortBy(_._2).map { case (_, s, cid) =>
          round6(qv.slice(s * subDim, (s + 1) * subDim)
            .zip(books((s, cid))).map { case (a, b) => a * b }.sum)
        }.sum)
        (vid, adc)
      }.toSeq.sortBy { case (vid, adc) => (-adc, vid) }.take(k).zipWithIndex
        .map { case ((vid, adc), i) => (qid, vid, adc, i + 1) }
    }.toSet
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.pqServeStream(
        input.toDS().toDF("query_id", "qv"), candidates, codebook, cents,
        nProbe, k)
      .writeStream.outputMode("update").format("memory").queryName("pq_serve_out")
      .start()
    val feed = queries.map { case (qid, qv) => (qid, qv.toSeq) }
    input.addData(feed.take(2).toIndexedSeq)
    q.processAllAvailable()
    input.addData(feed.drop(2).toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("pq_serve_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    q.stop()
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    assert(queries.map(_._1).toSet === streamed.map(_._1),
      "every streamed query must be answered")
    SessionArtifacts.clearAll()
  }

  test("streaming A/B monitor == batch abValueTest once drained; cold start emits, not crashes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val input = MemoryStream[(Long, String, Double)]
    val q = EventStreams.abTestStream(input.toDS().toDF("user_id", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName("ab_out")
      .start()
    // cold start: one row (at most one arm, n <= 1) must emit the
    // null-guarded row rather than hit ANSI divide-by-zero
    input.addData(rows.head)
    q.processAllAvailable()
    assert(spark.table("ab_out").collect().length === 1)
    val (a, b) = rows.tail.splitAt(rows.length / 2)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val streamed = spark.table("ab_out").collect().map(key).toSeq
    q.stop()
    val batch = Events.abValueTest(Tables.events(spark, sf)).collect().map(key).toSeq
    assert(streamed === batch)
    assert(streamed.head._5 === batch.head._5)
  }

  test("streaming attribution == brute-force first-touch credit at stream resolution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e._3, e._1)) // global event-time order, like a real feed
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.attributionStream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("attrib_out")
      .start()
    val (a, b) = raw.splitAt(raw.length / 2)
    input.addData(a.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    input.addData(b.map(toEvent).toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("attrib_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues { g =>
        (g.count(_._2 == "session").toLong, g.count(_._2 == "purchase").toLong,
          g.filter(_._2 == "purchase").map(_._3).sum)
      }.toMap
    q.stop()
    // brute force on micro-truncated time (the stream's resolution)
    val gapUs = 1800L * 1000000L
    val expected = raw.map(e => (e._2, e._1, e._3 / 1000, e._4, math.round(e._5 * 10000)))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.toSeq.sortBy(e => (e._3, e._2))
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(sorted.head))
        sorted.sliding(2).foreach {
          case Seq(p, c) =>
            if (c._3 - p._3 > gapUs) sessions += scala.collection.mutable.ArrayBuffer(c)
            else sessions.last += c
          case _ =>
        }
        sessions.map { s =>
          val purch = s.filter(_._4 == "purchase")
          (s.head._4, purch.length.toLong, purch.map(_._5).sum)
        }
      }.toSeq.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum)).toMap
    assert(streamed === expected)
    assert(streamed.values.map(_._2).sum === raw.count(_._4 == "purchase").toLong,
      "every purchase credited exactly once")
  }

  test("streaming dataset fingerprint == batch at every drained cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.fingerprintStream(
        input.toDS().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("fp_out")
      .start()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toIndexedSeq)
    q.processAllAvailable()
    // mid-stream cut: the live table IS the batch fingerprint of the
    // prefix — XOR needs no finalization, so the law holds at EVERY cut
    val mid = spark.table("fp_out").collect().map(key).toSet
    val midBatch = graft.operators.Governance.datasetFingerprint(
        Tables.documents(spark, sf).filter(col("doc_id").isin(a.map(_._1): _*)))
      .collect().map(key).toSet
    assert(mid === midBatch)
    input.addData(b.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("fp_out").collect().map(key).toSet
    q.stop()
    val batch = graft.operators.Governance.datasetFingerprint(
      Tables.documents(spark, sf)).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming late audit == batch audit on micro-truncated time, any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
      // the derived ARRIVAL order (micro grain, the stream's resolution)
      .sortBy(e => (e._3 / 1000 +
        (if (e._2 % 17 == 3) 7200L * 1000000L else 0L), e._1))
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.lateAuditStream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("late_out")
      .start()
    // three uneven splits: the frontier must survive every boundary
    val splits = Seq(raw.take(raw.length / 3), raw.slice(raw.length / 3, raw.length / 2),
      raw.drop(raw.length / 2))
    splits.foreach { s => input.addData(s.map(toEvent).toIndexedSeq); q.processAllAvailable() }
    val streamed = spark.table("late_out").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSeq
      .groupBy(_._1).view.mapValues { g =>
        (g.size.toLong, g.count(_._2).toLong, g.map(_._3).max)
      }.toMap
    q.stop()
    // batch audit on the SAME micro grain: truncate ns to micros first
    val microEvents = Tables.events(spark, sf)
      .withColumn("ts", expr("ts div 1000") * 1000L)
    val batch = Events.lateArrivalAudit(microEvents).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(streamed === batch)
    assert(streamed.values.map(_._2).sum > 0, "delayed clients must produce late rows")
  }

  test("cusumMomentStream: streamed day moments finish to the exact batch detector") {
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    val raw = ev.select($"ts".cast("long"), $"value")
      .as[EventStreams.CusumEvent].collect().toSeq
    val input = MemoryStream[EventStreams.CusumEvent]
    val q = EventStreams.cusumMomentStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("cusum_out")
      .start()
    val splits = Seq(raw.take(raw.length / 5), raw.slice(raw.length / 5, raw.length / 2),
      raw.drop(raw.length / 2))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    // latest row per day is the final moment state
    val streamed = spark.table("cusum_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    // the streamed state IS the batch moment frame...
    val batchMoments = ev
      .groupBy((expr("ts div 86400000000000") * 86400).as("day_epoch"))
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 10000, 0).cast("long")).as("s1"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batchMoments,
      "streamed per-day moments must equal the batch moments bit-for-bit")
    // ...and finishing it reproduces the WHOLE q193 detector: k, both
    // CUSUM tracks, and the alarm column
    val served = Events.cusumFromMoments(
      streamed.toSeq.map { case (d, (n, s1)) => (d, n, s1) }
        .toDF("day_epoch", "n_events", "s1")).collect().map(_.toSeq).toSeq
    val full = Events.cusumDriftDays(ev).collect().map(_.toSeq).toSeq
    assert(served === full,
      "finishing the streamed moments must equal the from-scratch detector")
  }

  test("msprtMomentStream: streamed arm moments finish to the exact batch monitor; A/A holds, effect stops") {
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)

    // replay a value frame through the stream in three uneven splits and
    // finish the latest per-arm state through the shared finisher
    def streamedMonitor(values: org.apache.spark.sql.DataFrame,
        name: String): Seq[Seq[Any]] = {
      val raw = values.select($"user_id", $"event_type", $"value")
        .as[EventStreams.MsprtEvent].collect().toSeq
      val input = MemoryStream[EventStreams.MsprtEvent]
      val q = EventStreams.msprtMomentStream(input.toDS())
        .writeStream.outputMode("update").format("memory").queryName(name)
        .start()
      val splits = Seq(raw.take(raw.length / 5),
        raw.slice(raw.length / 5, raw.length / 2), raw.drop(raw.length / 2))
      splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
      val state = spark.table(name).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .zipWithIndex
        .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
      q.stop()
      val (a, b) = (state(0L), state(1L))
      Events.msprtFromMoments(
        Seq((a._1, a._2, a._3, b._1, b._2, b._3))
          .toDF("n_a", "s1_a", "s2_a", "n_b", "s1_b", "s2_b"))
        .collect().map(_.toSeq).toSeq
    }

    // equals-batch law on the fixture (A/A): bit-identical monitor row
    val aa = streamedMonitor(ev, "msprt_aa")
    assert(aa === Events.msprtMonitor(ev).collect().map(_.toSeq).toSeq,
      "streamed moments must finish to the exact batch monitor row")
    // the A/A peeking guarantee survives the stream: p stays high at the
    // final look (and every intermediate state is a valid look)
    assert(aa.head(5).asInstanceOf[Double] > 0.5, s"A/A p too low: ${aa.head(5)}")

    // inject the q237 +40.00 arm-1 effect and replay: the monitor stops
    val treated = ev.withColumn("value",
      when(graft.operators.Scale.md5SlicePos($"user_id", 0, 2) === 1L,
        $"value" + 40.0).otherwise($"value"))
    val tr = streamedMonitor(treated, "msprt_tr")
    assert(tr === Events.msprtMonitor(treated).collect().map(_.toSeq).toSeq)
    assert(tr.head(5).asInstanceOf[Double] < 0.05,
      s"streamed treated p should stop: ${tr.head(5)}")
  }

  test("datasheetPartialStream: final stratum partials equal batch, any micro-batch split") {
    import graft.operators.Curation
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val raw = docs.select($"doc_id", $"lang", $"source", $"text")
      .as[EventStreams.DsDoc].collect().toSeq
    val input = MemoryStream[EventStreams.DsDoc]
    val q = EventStreams.datasheetPartialStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("ds_out")
      .start()
    // three uneven splits — additivity must hold across every boundary
    val splits = Seq(raw.take(raw.length / 4), raw.slice(raw.length / 4, raw.length / 2),
      raw.drop(raw.length / 2))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    // the memory sink accumulates one row per touched stratum per batch;
    // the LAST row per stratum is the final state
    val streamed = spark.table("ds_out").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    val batch = Curation.datasheetPartials(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed === batch,
      "streamed final partials must equal the batch partials bit-for-bit")
    // and therefore the q227 serve path finishes them to the datasheet:
    // persist the final streamed state and serve from the file
    val tmp = java.nio.file.Files.createTempDirectory("graft_ds_stream").toString
    streamed.toSeq.map { case ((l, s), (n, t, qs)) => (l, s, n, t, qs) }
      .toDF("lang", "source", "n_docs", "n_tokens", "q4s")
      .write.mode("overwrite").parquet(s"$tmp/state")
    val served = Curation.datasheetFromPartials(spark, Seq(s"$tmp/state"))
      .collect().map(_.toSeq).toSeq
    val full = Curation.corpusDatasheet(docs).collect().map(_.toSeq).toSeq
    assert(served === full,
      "finishing the streamed state must equal the from-scratch datasheet")
  }

  test("ksCountStream: streamed per-value counts finish to the exact batch KS row, any split") {
    import graft.operators.Inference
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)

    def streamedKs(src: org.apache.spark.sql.DataFrame,
        name: String): Seq[Seq[Any]] = {
      val raw = src.select($"doc_id", $"source", $"n_chars")
        .as[EventStreams.KsDoc].collect().toSeq
      val input = MemoryStream[EventStreams.KsDoc]
      val q = EventStreams.ksCountStream(input.toDS())
        .writeStream.outputMode("update").format("memory").queryName(name)
        .start()
      // three uneven splits — the associativity law the twin rests on
      val splits = Seq(raw.take(raw.length / 7),
        raw.slice(raw.length / 7, raw.length / 3), raw.drop(raw.length / 3))
      splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
      // latest emitted row per value IS the count frame
      val state = spark.table(name).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).zipWithIndex
        .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
      q.stop()
      Inference.ksFromCounts(
        state.toSeq.map { case (v, (c1, c2)) => (v, c1, c2) }
          .toDF("v", "c1", "c2"))
        .collect().map(_.toSeq).toSeq
    }

    val streamed = streamedKs(docs, "ks_stream")
    val batch = Inference.ksTwoSample(docs).collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "streamed counts must finish to the exact batch KS row")

    // inject a shape shift into the monitored source mid-stream's data:
    // the drift must show as a near-zero p through the SAME finisher
    val drifted = docs.withColumn("n_chars",
      when($"source" === "src0", $"n_chars" + 10000L).otherwise($"n_chars"))
    val ds = streamedKs(drifted, "ks_stream_drift")
    assert(ds === Inference.ksTwoSample(drifted).collect().map(_.toSeq).toSeq)
    assert(ds.head(3).asInstanceOf[Double] == 1.0, "shifted ECDFs separate: D = 1")
    assert(ds.head(4).asInstanceOf[Double] < 1e-4, s"drift p should reject: ${ds.head(4)}")
  }

  test("ewma control chart: streamed per-day counts finish to the exact batch chart (q255 twin)") {
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    // the EWMA state IS the per-day count frame cusumMomentStream already
    // maintains by pure addition — no new stream operator, the
    // datasheet/KMV reuse pattern: stream the counts, finish through the
    // identical ewmaFromDailyCounts the batch chart uses
    val raw = ev.select($"ts".cast("long"), $"value")
      .as[EventStreams.CusumEvent].collect().toSeq
    val input = MemoryStream[EventStreams.CusumEvent]
    val q = EventStreams.cusumMomentStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("ewma_days")
      .start()
    val splits = Seq(raw.take(raw.length / 6),
      raw.slice(raw.length / 6, raw.length / 2), raw.drop(raw.length / 2))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    val state = spark.table("ewma_days").collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    val served = Events.ewmaFromDailyCounts(
      state.toSeq.map { case (dayEpoch, c) => (dayEpoch / 86400L, c) }
        .toDF("d", "c"), 0.2, 3.0)
      .collect().map(_.toSeq).toSeq
    val batch = Events.ewmaControl(ev).collect().map(_.toSeq).toSeq
    assert(served === batch,
      "finishing the streamed day counts must equal the batch EWMA chart")
  }

  test("valueCountStream: streamed per-value counts finish to the exact batch median CI, any split (q271 twin)") {
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    val raw = ev.select($"event_type", $"value")
      .as[EventStreams.ValueEvent].collect().toSeq
    val input = MemoryStream[EventStreams.ValueEvent]
    val q = EventStreams.valueCountStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("vc_out")
      .start()
    val splits = Seq(raw.take(raw.length / 4),
      raw.slice(raw.length / 4, raw.length / 2), raw.drop(raw.length / 2))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    // latest row per (type, value) is the count-frame state
    val state = spark.table("vc_out").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    val served = Events.medianFromValueCounts(
      state.toSeq.map { case ((t, vm), c) => (t, vm, c) }
        .toDF("event_type", "vm", "c"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.medianCi(ev).collect().map(_.toSeq).toSeq
    assert(served === batch,
      "finishing the streamed value counts must equal the batch median CI")
  }

  test("markov stationary streaming twin: drained transition counts finish to the batch pi (q286)") {
    // the ELEVENTH twin, by pure reuse: transitionStream already emits
    // the in-session pairs; their counts are pure addition, and
    // markovStationaryFromCounts is the IDENTICAL finisher the batch op
    // uses — so the streamed stationary distribution equals the batch
    // one bit-for-bit over any per-user-in-order micro-batch split
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e._3, e._1))
    def toEvent(e: (Long, Long, Long, String, Double)): Event = {
      val micros = e._3 / 1000
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      Event(e._1, ts, e._2, e._4, e._5)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.transitionStream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("mkv_trans")
      .start()
    // three deliberately uneven splits
    val (c1, c2) = (raw.length / 5, raw.length * 3 / 4)
    Seq(raw.slice(0, c1), raw.slice(c1, c2), raw.slice(c2, raw.length))
      .foreach { part =>
        input.addData(part.map(toEvent).toIndexedSeq)
        q.processAllAvailable()
      }
    val counts = spark.table("mkv_trans").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((s, d), c) => (s, d, c) }
    q.stop()
    val streamed = Events.markovStationaryFromCounts(spark, counts)
      .collect().map(_.toSeq).toSeq
    val batch = Events.markovStationary(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "finishing the streamed transition counts must equal the batch stationary pi")
  }

  test("hill tail-index streaming twin: streamed value counts finish to the batch estimate, any split (q285 twin)") {
    // the TWELFTH twin, by pure reuse at both ends: valueCountStream's
    // per-(type, value) counts are pure addition, and
    // hillFromValueCounts is the identical batch finisher — a tail-index
    // drift monitor ("did the metric grow a heavier tail this week")
    // streams for free
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    val raw = ev.select($"event_type", $"value")
      .as[EventStreams.ValueEvent].collect().toSeq
    val input = MemoryStream[EventStreams.ValueEvent]
    val q = EventStreams.valueCountStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("hill_vc")
      .start()
    val splits = Seq(raw.take(raw.length / 5),
      raw.slice(raw.length / 5, raw.length * 4 / 5), raw.drop(raw.length * 4 / 5))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    val state = spark.table("hill_vc").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    val served = Events.hillFromValueCounts(
      state.toSeq.collect { case ((t, vm), c) if t == "purchase" => (vm, c) }
        .toDF("vm", "c"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.hillTailIndex(ev).collect().map(_.toSeq).toSeq
    assert(served === batch,
      "finishing the streamed value counts must equal the batch Hill estimate")
  }

  test("periodogram streaming twin: streamed day counts finish to the exact batch spectrum (q294 twin)") {
    // the THIRTEENTH twin, zero new stream operators (the q255-EWMA
    // pattern): cusumMomentStream's per-day counts are pure addition
    // and periodogramFromDaily is the identical batch finisher — a live
    // rhythm monitor ("did a weekly cycle appear?") streams for free
    import graft.operators.Events
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    val raw = ev.select($"ts".cast("long"), $"value")
      .as[EventStreams.CusumEvent].collect().toSeq
    val input = MemoryStream[EventStreams.CusumEvent]
    val q = EventStreams.cusumMomentStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("pgram_days")
      .start()
    val splits = Seq(raw.take(raw.length / 3),
      raw.slice(raw.length / 3, raw.length * 5 / 6), raw.drop(raw.length * 5 / 6))
    splits.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
    val state = spark.table("pgram_days").collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(g => g.maxBy(_._2)._1._2).toMap
    q.stop()
    val served = Events.periodogramFromDaily(
      state.toSeq.map { case (dayEpoch, c) => (dayEpoch / 86400L, c) }
        .toDF("d", "x"), 30)
      .collect().map(_.toSeq).toSeq
    val batch = Events.periodogram(ev).collect().map(_.toSeq).toSeq
    assert(served === batch,
      "finishing the streamed day counts must equal the batch periodogram")
  }
}
