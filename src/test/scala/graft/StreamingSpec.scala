package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._


import graft.core.{IncrementalStrategy, Materialization, Materializer, Model, Warehouse}
import graft.sources.Catalog
import graft.streaming.{EventStream, IngestDedup}

/** Structured Streaming forms match their batch (oracle-verified)
  * counterparts on the same events.
  */
class StreamingSpec extends SparkSpec {

  private lazy val cat = Catalog(spark, sfDir)

  test("streaming tumbling windows equal the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = cat.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.tumblingStream(stream).writeStream
      .format("memory").queryName("e01_stream")
      .outputMode("complete").start()
    // two micro-batches to exercise incremental state merge
    val (b1, b2) = rows.splitAt(rows.size / 2)
    input.addData(b1); query.processAllAvailable()
    input.addData(b2); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e01_stream").collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.tumbling(cat.events).collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assertSameSets(streamed, batch)
  }

  test("streaming sliding windows equal the batch hop aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = cat.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.slidingStream(stream).writeStream
      .format("memory").queryName("e21_stream")
      .outputMode("complete").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    input.addData(b1); query.processAllAvailable()
    input.addData(b2); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e21_stream").collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.sliding(cat.events).collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assertSameSets(streamed, batch)
    // every event contributes to exactly size/slide = 4 hops
    val nEvents = rows.size.toLong
    val hopTotal = EventStream.sliding(cat.events)
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    assert(hopTotal == 4 * nEvents,
      s"hop multiplicity: $hopTotal != 4 * $nEvents")
  }

  /** Epoch millis from either timestamp flavor: the MemoryStream side
    * carries java.sql.Timestamp (LTZ) while the batch side reads the
    * canonical TIMESTAMP_NTZ events; under the pinned UTC session the
    * two name the same instant, so parity compares on epoch millis.
    */
  private def tsMillis(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
    case t: Timestamp => t.getTime
    case d: java.time.LocalDateTime =>
      d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case x => sys.error(s"column $i is not a timestamp: $x (${x.getClass})")
  }

  private def assertSameSets[A](streamed: Set[A], batch: Set[A]): Unit = {
    val onlyStream = streamed -- batch
    val onlyBatch = batch -- streamed
    val ok = onlyStream.isEmpty && onlyBatch.isEmpty
    assert(ok,
      s"\nonly in stream (${onlyStream.size}): ${onlyStream.take(4).mkString("; ")}\n" +
        s"only in batch (${onlyBatch.size}): ${onlyBatch.take(4).mkString("; ")}")
  }

  test("append-mode windowed agg emits a window only after the watermark passes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.tumblingStream(stream).writeStream
      .format("memory").queryName("e01_append")
      .outputMode("append").start()
    def at(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    input.addData((1L, at(1), 1L, "view", 1.0), (2L, at(1), 2L, "view", 2.0))
    query.processAllAvailable()
    // watermark still before the window end: nothing may be emitted
    assert(spark.table("e01_append").count() == 0)
    // event time jumps to 06:30 -> watermark 04:30 -> the 01:00 window
    // (end 02:00) finalizes; the 06:00 window stays open
    input.addData((3L, at(6), 1L, "view", 5.0))
    query.processAllAvailable()
    input.addData((4L, at(6), 2L, "view", 7.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("e01_append").collect()
      .map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((Timestamp.valueOf("2024-01-01 01:00:00"), 2L, 3.0)),
      s"exactly the finalized 01:00 window must be emitted, got ${rows.toSeq}")
  }

  test("stream-static enrichment join equals the batch join, stateless across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = cat.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.enrich(stream, cat.customer).writeStream
      .format("memory").queryName("e05_stream")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    input.addData(b1); query.processAllAvailable()
    input.addData(b2); query.processAllAvailable()
    query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(2), r.getString(3), r.getString(5))
    val streamed = spark.table("e05_stream").collect().map(key).toSet
    val batch = EventStream.enrich(
      cat.events.select("event_id", "ts", "user_id", "event_type", "value"),
      cat.customer).collect().map(key).toSet
    assert(streamed.size == rows.size, "every event must be enriched exactly once")
    assertSameSets(streamed, batch)
  }

  test("e18 streaming trending: cross-batch count updates merge, rank matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = Warehouse.scratch(spark, "e18spec")
    val mat = Materializer(wh)
    val model = Model("trending_counts", Seq("events"),
      Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("window_start", "event_type"), None)),
      ctx => ctx.source("events"))
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = graft.core.Scratch.dir("e18spec_ckpt")
    val query = EventStream.trendingCountsStream(stream).writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        mat.run(model, _ => batch); ()
      }
      .start()
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: hour 1 has view=2, click=1
    input.addData((1L, at(1, 0), 1L, "view", 1.0), (2L, at(1, 10), 2L, "view", 1.0),
      (3L, at(1, 20), 3L, "click", 1.0))
    query.processAllAvailable()
    // batch 2: the SAME hour-1 window updates (click overtakes view);
    // the update-mode re-emit must replace, not double-count
    input.addData((4L, at(1, 30), 1L, "click", 1.0), (5L, at(1, 40), 2L, "click", 1.0),
      (6L, at(2, 0), 1L, "view", 1.0))
    query.processAllAvailable()
    query.stop()
    try {
      val got = EventStream.topK(
          wh.read("analytics", "trending_counts"), k = 2)
        .orderBy("window_start", "rnk").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      assert(got == Seq(
        ("2024-01-01 01:00:00.0", "click", 3L, 1),
        ("2024-01-01 01:00:00.0", "view", 2L, 2),
        ("2024-01-01 02:00:00.0", "view", 1L, 1)),
        s"unexpected trending state: $got")
      // parity with the batch form over the same rows
      val batchRows = Seq(
        (1L, at(1, 0), 1L, "view", 1.0), (2L, at(1, 10), 2L, "view", 1.0),
        (3L, at(1, 20), 3L, "click", 1.0), (4L, at(1, 30), 1L, "click", 1.0),
        (5L, at(1, 40), 2L, "click", 1.0), (6L, at(2, 0), 1L, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = EventStream.topK(EventStream.trendingCounts(batchRows), k = 2)
        .orderBy("window_start", "rnk").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("e09 streaming upsert maintains latest-per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = Warehouse.scratch(spark, "e09spec")
    val mat = Materializer(wh)
    val model = Model("user_state", Seq("events"),
      Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("user_id"), Some("last_ts"))),
      ctx => ctx.source("events"))
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = graft.core.Scratch.dir("e09spec_ckpt")
    val query = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        mat.run(model, _ => EventStream.latestPerUser(batch)); ()
      }
      .start()
    def at(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // batch 1: user 3 has an in-batch ts tie -> event_id 4 must win
    input.addData((1L, at(1), 1L, "view", 1.0), (2L, at(2), 2L, "view", 2.0),
      (3L, at(3), 3L, "view", 3.0), (4L, at(3), 3L, "click", 4.0))
    query.processAllAvailable()
    // batch 2: users 2 and 3 advance, user 4 appears, user 1 untouched
    input.addData((5L, at(5), 2L, "purchase", 5.0),
      (6L, at(6), 3L, "view", 6.0), (7L, at(4), 4L, "view", 7.0))
    query.processAllAvailable()
    query.stop()
    try {
      val got = wh.read("analytics", "user_state").orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4)))
        .toSeq
      assert(got == Seq((1L, 1L, "view", 1.0), (2L, 5L, "purchase", 5.0),
        (3L, 6L, "view", 6.0), (4L, 7L, "view", 7.0)),
        s"unexpected final state: $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("e12 CDC apply: tombstones delete across batches, reinsert resurrects, mirror filters at read") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = Warehouse.scratch(spark, "e12spec")
    val mat = Materializer(wh)
    val model = Model("user_mirror", Seq("events"),
      Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("user_id"), Some("last_ts"),
          lastWriteWins = true, tiebreak = Seq("last_event_id"))),
      ctx => ctx.source("events"))
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = graft.core.Scratch.dir("e12spec_ckpt")
    val query = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        mat.run(model, _ => EventStream.latestPerUserCdc(batch)); ()
      }
      .start()
    def at(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // batch 1: user 1 upserted; user 2's update then IN-BATCH delete —
    // the tombstone must win the in-batch reduce, not vanish from it
    input.addData((1L, at(1), 1L, "view", 1.0),
      (2L, at(2), 2L, "view", 2.0), (3L, at(3), 2L, "error", 0.0))
    query.processAllAvailable()
    // batch 2: user 1 deleted; user 2 reinserted after its tombstone
    input.addData((4L, at(4), 1L, "error", 0.0), (5L, at(5), 2L, "click", 5.0))
    query.processAllAvailable()
    // batch 3: user 3 appears; a LATE pre-delete row for user 1 must
    // NOT resurrect it (the stored tombstone outranks it on last_ts)
    input.addData((6L, at(2), 1L, "view", 9.0), (7L, at(6), 3L, "view", 7.0))
    query.processAllAvailable()
    // batch 4: EQUAL-timestamp ties across batches resolve by
    // event_id DESC (the declared tiebreak), not by batch recency —
    // user 3's higher-id row at the same ts wins, user 2's LOWER-id
    // row at the same ts loses to the stored row even though it
    // arrived in a later micro-batch
    input.addData((8L, at(6), 3L, "view", 8.0), (0L, at(5), 2L, "view", 0.5))
    query.processAllAvailable()
    query.stop()
    try {
      val live = wh.read("analytics", "user_mirror")
        .filter(col("op") =!= "D").orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSeq
      assert(live == Seq((2L, 5L, 5.0), (3L, 8L, 8.0)),
        s"unexpected live mirror: $live")
      // the tombstone itself is retained (it's a fact, not an absence)
      val dead = wh.read("analytics", "user_mirror")
        .filter(col("op") === "D").collect().map(_.getLong(0)).toSeq
      assert(dead == Seq(1L), s"expected user 1 tombstone, got $dead")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("e03 stream ingest lands every event in the incremental table exactly once") {
    val out = graft.queries.Streaming.e03.run(spark, sfDir)
    val n = cat.events.count()
    assert(out.count() == n)
    assert(out.select("event_id").distinct().count() == n)
  }

  test("stream dedup: cross-batch re-delivery within the watermark emits each event once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = cat.events.filter(col("user_id") < 20)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupStream(stream).writeStream
      .format("memory").queryName("e04_stream")
      .outputMode("append").start()
    // batch 1: first half; batch 2: second half PLUS a replay of a
    // slice of batch 1 (the at-least-once failure mode: a partition
    // re-delivered across a micro-batch boundary)
    val (b1, b2) = rows.splitAt(rows.size / 2)
    input.addData(b1); query.processAllAvailable()
    input.addData(b2 ++ b1.filter(_._1 % 10 == 0)); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e04_stream").select("event_id").collect()
      .map(_.getLong(0)).toSeq
    assert(streamed.size == rows.size, "every event exactly once")
    assert(streamed.toSet == rows.map(_._1).toSet)
  }

  test("native session_window: streaming with watermark equals the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

    val evs = cat.events.filter(col("user_id") < 10)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventStream.Ev].collect().toSeq
    // sentinel far-future event per user: advances the watermark past
    // every real session so append mode emits them all; the sentinel
    // sessions themselves stay open and are never emitted
    val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 86400000L)
    val flush = evs.map(_.user_id).distinct
      .map(u => EventStream.Ev(Long.MaxValue, flushTs, u, 0.0))

    val input = MemoryStream[EventStream.Ev]
    val query = sessions(input.toDS().toDF().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("e10_stream")
      .outputMode("append").start()
    input.addData(evs); query.processAllAvailable()
    input.addData(flush); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e10_stream").collect()
      .map(r => (r.getLong(0), tsMillis(r, 1), tsMillis(r, 2), r.getLong(3)))
      .toSet
    val batch = sessions(cat.events.filter(col("user_id") < 10)).collect()
      .map(r => (r.getLong(0), tsMillis(r, 1), tsMillis(r, 2), r.getLong(3)))
      .toSet
    assertSameSets(streamed, batch)
  }

  test("flatMapGroupsWithState sessionization equals the batch window form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = cat.events.filter(col("user_id") < 10)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventStream.Ev].collect().toSeq
    // sentinel far-future event per user closes every open session
    val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 86400000L)
    val flush = evs.map(_.user_id).distinct
      .map(u => EventStream.Ev(Long.MaxValue, flushTs, u, 0.0))

    val input = MemoryStream[EventStream.Ev]
    val query = EventStream.sessionizeStream(input.toDS()).writeStream
      .format("memory").queryName("e02_stream")
      .outputMode("append").start()
    input.addData(evs); query.processAllAvailable()
    input.addData(flush); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e02_stream")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), tsMillis(r, 1), tsMillis(r, 2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = EventStream.sessionize(cat.events.filter(col("user_id") < 10))
      .collect()
      .map(r => (r.getLong(0), tsMillis(r, 2), tsMillis(r, 3),
        r.getLong(4), r.getDouble(5))).toSet
    assertSameSets(streamed, batch)
  }

  test("stream dedup: replay AFTER the watermark horizon still emits no duplicate") {
    // the bounded-state contract: dropDuplicatesWithinWatermark
    // forgets keys once the watermark passes them — safe ONLY because
    // the same watermark also filters rows that old, so a replay
    // arriving after its key's state expired is dropped as late data
    // rather than re-emitted. Output stays exactly-once either way;
    // this pins the second half of that argument.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupStream(stream).writeStream
      .format("memory").queryName("e04_late")
      .outputMode("append").start()
    input.addData((1L, at(1), 1L, "view", 1.0)); query.processAllAvailable()
    // jump event time 12h -> watermark (2h delay) passes 01:00 by far,
    // so event 1's dedup state is eligible for eviction
    input.addData((2L, at(13), 2L, "view", 2.0)); query.processAllAvailable()
    // replay of event 1 at its ORIGINAL (now far-late) timestamp
    input.addData((1L, at(1), 1L, "view", 1.0)); query.processAllAvailable()
    query.stop()
    val ids = spark.table("e04_late").select("event_id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == Seq(1L, 2L),
      s"late replay must not re-emit: got ${ids.toSeq.sorted}")
  }

  test("event-time-timeout sessionization: watermark closes idle sessions, no sentinel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = cat.events.filter(col("user_id") < 10)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventStream.Ev].collect().toSeq
    // one far-future event for a DIFFERENT user: it advances the
    // GLOBAL watermark past every real session's gap horizon, so all
    // user<10 sessions must emit via TIMEOUT — none of those users
    // ever sees another event (the no-sentinel production semantics)
    val futureTs = new Timestamp(evs.map(_.ts.getTime).max + 48L * 3600 * 1000)
    val input = MemoryStream[EventStream.Ev]
    val query = EventStream.sessionizeStreamEventTime(
        input.toDS().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("e02_evt")
      .outputMode("append").start()
    input.addData(evs); query.processAllAvailable()
    input.addData(EventStream.Ev(Long.MaxValue, futureTs, 999999L, 0.0))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("e02_evt")
      .filter(col("user_id") < 10)
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), tsMillis(r, 1), tsMillis(r, 2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = EventStream.sessionize(cat.events.filter(col("user_id") < 10))
      .collect()
      .map(r => (r.getLong(0), tsMillis(r, 2), tsMillis(r, 3),
        r.getLong(4), r.getDouble(5))).toSet
    assertSameSets(streamed, batch)
  }

  // The r10 regression pin: e14's streamed left-outer join must
  // reproduce the batch LEFT join exactly, INCLUDING the null-extended
  // tail rows that only flush once the global (min-policy) watermark
  // passes them — which requires per-leg sentinels. A view-only
  // sentinel stalls the purchases leg's watermark and drops the last
  // ~2.5h of unmatched rows; this test would have caught that.
  test("e14 streamed left-outer join equals the batch LEFT join, nulls included") {
    def pairs(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
      rows.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSeq.sorted
    val streamed = pairs(graft.queries.Streaming.e14.run(spark, sfDir)
      .select("event_id", "purchase_id").collect())
    val others = cat.events.filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val purchases = cat.events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user_id"))
    val batch = pairs(others.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("ts") >= col("p_ts") &&
        col("ts") <= col("p_ts") + expr("interval 30 minutes"),
      "left_outer")
      .select(col("event_id"), col("p_event_id")).collect())
    assert(streamed.size == batch.size,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
    assert(streamed == batch)
    // and the null-extended subset specifically (the tail-flush rows)
    assert(streamed.count(_._2 == -1L) == batch.count(_._2 == -1L))
  }

  test("e08 and e14 read a directory-form events table like the single-file form") {
    // the same sf0.01 events, rewritten as a directory of part files
    // (plus Spark's _SUCCESS and .crc side files)
    val single = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val dirForm = graft.core.Scratch.dir("events_dir_form")
    spark.read.parquet(s"$single/events.parquet").repartition(3)
      .write.parquet(dirForm.resolve("events.parquet").toString)
    def rows(q: graft.queries.Q, dir: String): Seq[String] =
      q.run(spark, dir).collect().map(_.toString).toSeq.sorted
    try Seq(graft.queries.Streaming.e08, graft.queries.Streaming.e14).foreach { q =>
      val fromFile = rows(q, single)
      assert(fromFile.nonEmpty, s"${q.name} must emit rows on sf0.01")
      assert(rows(q, dirForm.toString) == fromFile,
        s"${q.name}: directory-form events changed the output")
    } finally graft.core.Scratch.remove(dirForm)
  }

  test("e15 late slice is discriminating: aggregating it would change the result") {
    // guards the e15 oracle against degenerating — if the delayed
    // partition stopped overlapping the on-time windows, "drops late
    // rows" and "aggregates everything" would be indistinguishable
    // and the gate would pass vacuously
    val c = graft.sources.Catalog(spark, sfDir)
    val all = c.events.groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .count().count()
    val onTime = c.events.filter(col("event_id") % 3 =!= 0)
      .groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .count().count()
    val lateRows = c.events.filter(col("event_id") % 3 === 0).count()
    assert(lateRows > 0, "late slice empty")
    assert(all > onTime,
      "late slice adds no groups - the e15 drop check is vacuous")
  }

  test("ingest dedup steps: admitted digests block later copies across batches") {
    import spark.implicits._
    val wh = Warehouse.scratch(spark, "ingestdedup")
    val digest = md5(col("text").cast("binary"))
    wh.write(Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .select(col("doc_id"), digest.as("content_hash")),
      "analytics", "corpus")
    // a step freezes nothing: no RDD stays persisted behind it
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    def nothingPersisted(): Unit =
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
        "a step left an RDD persisted")
    def step(batch: org.apache.spark.sql.DataFrame): Long = {
      val admitted = IngestDedup.step(wh, "analytics", "corpus", batch, digest)
      nothingPersisted()
      admitted
    }
    // batch 1: one corpus dup (dropped), one in-batch dup pair (keep
    // min id), one novel doc
    val b1 = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"),
      (13L, "delta")).toDF("doc_id", "text")
    assert(IngestDedup.step(wh, "analytics", "corpus", b1, digest) == 2L)
    nothingPersisted()
    // batch 2: dups of batch-1 ADMISSIONS (blocked by accumulated
    // state, not by the original corpus), plus one novel doc
    val b2 = Seq((20L, "gamma"), (21L, "delta"), (22L, "epsilon"))
      .toDF("doc_id", "text")
    assert(IngestDedup.step(wh, "analytics", "corpus", b2, digest) == 1L)
    nothingPersisted()
    // batch 3: only known digests, from the corpus and from admissions
    val b3 = Seq((30L, "alpha"), (31L, "epsilon"), (32L, "gamma"))
      .toDF("doc_id", "text")
    assert(step(b3) == 0L)
    // a null-text doc has a null digest, which matches nothing — not
    // even the null digest an earlier step admitted
    val nullDoc = Seq((40L, "zeta")).toDF("doc_id", "text")
      .select(col("doc_id"), lit(null).cast("string").as("text"))
    assert(step(nullDoc) == 1L)
    assert(step(nullDoc.select(lit(41L).as("doc_id"), col("text"))) == 1L)
    val ids = wh.read("analytics", "corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L, 13L, 22L, 40L, 41L), s"got $ids")
  }

  test("stream erasure is order-free: before / same-batch / after the tombstone all erase") {
    import spark.implicits._
    import graft.streaming.ErasureStream
    import graft.streaming.ErasureStream.{Out, Rec}
    implicit val sqlCtx = spark.sqlContext

    // final per-user rows after draining a scripted stream
    def drive(batches: Seq[Seq[Rec]], name: String): Map[Long, Out] = {
      val input = MemoryStream[Rec]
      val query = ErasureStream(input.toDS()).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      query.stop()
      // update-mode memory sink keeps every emission: the LAST row
      // per user is the sink protocol's final word
      spark.table(name).as[Out].collect().zipWithIndex
        .groupBy(_._1.user_id)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
    }
    val ev = (u: Long, v: Long) => Rec(u, "event", v)
    val erase = (u: Long) => Rec(u, "erase", 0L)

    // user 1 erased AFTER events, user 2 erased in the SAME batch as
    // its events, user 3 erased BEFORE its events, user 4 survives
    val out = drive(Seq(
      Seq(ev(1, 10), ev(2, 20), ev(4, 40)),
      Seq(erase(1), ev(2, 21), erase(2), erase(3)),
      Seq(ev(1, 11), ev(3, 30), ev(4, 41))), "e17_orders")
    assert(out(1).erased && out(2).erased && out(3).erased)
    assert(!out(4).erased && out(4).n_events == 2 &&
      out(4).total_micros == 81L)
    // erased users' final emission zeroes the aggregate — state keeps
    // only the suppression flag, never a forgotten subject's counts
    assert(Seq(1L, 2L, 3L).forall(u =>
      out(u).n_events == 0 && out(u).total_micros == 0))

    // order-freeness: tombstone-first arrival converges to the same
    // surviving snapshot set
    val out2 = drive(Seq(
      Seq(erase(1), erase(2), erase(3)),
      Seq(ev(1, 10), ev(2, 20), ev(4, 40)),
      Seq(ev(1, 11), ev(2, 21), ev(3, 30), ev(4, 41))), "e17_orders2")
    assert(out2.filter(!_._2.erased).view.mapValues(o =>
        (o.n_events, o.total_micros)).toMap
      == out.filter(!_._2.erased).view.mapValues(o =>
        (o.n_events, o.total_micros)).toMap)
  }

  test("e22 chained stateful operators: dedup -> hourly agg -> 4h rollup in ONE streaming query equals the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupThenRollupStream(stream).writeStream
      .format("memory").queryName("e22_stream")
      .outputMode("append").start()
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def ev(id: Long, h: Int, m: Int, typ: String) =
      (id, at(h, m), id % 3, typ, 1.0)
    val b1 = Seq(ev(1, 1, 0, "view"), ev(2, 1, 10, "view"),
      ev(3, 1, 20, "click"), ev(4, 2, 0, "view"), ev(5, 3, 30, "click"),
      ev(6, 3, 40, "view"))
    // batch 2 REDELIVERS 1 and 3 verbatim (inside the 2h dedup
    // watermark delay) and adds the second 4h-window's events
    val b2 = Seq(ev(1, 1, 0, "view"), ev(3, 1, 20, "click"),
      ev(7, 5, 0, "view"), ev(8, 5, 30, "click"), ev(9, 6, 0, "view"),
      ev(10, 7, 50, "click"))
    // sentinel far past everything: watermark jumps to 38:00, closing
    // every real hourly window AND every real 4h rollup window; the
    // sentinel's own windows stay open and are never emitted
    val sentinel = Seq((99L, Timestamp.valueOf("2024-01-02 16:00:00"),
      0L, "view", 0.0))
    input.addData(b1); query.processAllAvailable()
    input.addData(b2); query.processAllAvailable()
    input.addData(sentinel); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("e22_stream").collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // batch form over the distinct REAL rows only — duplicates
    // removed by the same operator chain, sentinel excluded because
    // its windows never closed on the stream side
    val batch = EventStream.dedupThenRollup(
        (b1 ++ b2).toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
      .map(r => (tsMillis(r, 0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed.nonEmpty, "no rollup windows were emitted")
    assertSameSets(streamed, batch)
    // the redelivered ids must not double-count: hour 1's view count
    // inside the first 4h window is 2 (events 1,2), so peak_hourly for
    // (00:00, view) is 2, not 3
    val firstView = streamed.find(t =>
      t._1 == Timestamp.valueOf("2024-01-01 00:00:00").getTime && t._2 == "view")
    assert(firstView.exists(_._3 == 2L),
      s"redelivery leaked into the hourly count: $firstView")
  }

  test("e23 streaming near-dup ingest: foreachBatch over the LSH index equals the full recompute; redeliveries emit nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = cat.documents.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (oldDocs, newDocs) = docs.partition(_._1 % 5 != 0)

    val store = graft.core.Scratch.dir("e23spec").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation",
        graft.core.Scratch.dir("e23spec_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val pairs = graft.operators.Dedup.lshIngest(batch,
            s"$store/docs", s"$store/index", n = 3, threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1), id))
        emitted.synchronized { emitted ++= pairs }; ()
      }.start()
    input.addData(oldDocs); query.processAllAvailable()
    // batch 2 is POISONED with redeliveries of a third of batch 1
    input.addData(newDocs ++ oldDocs.filter(_._1 % 3 == 0))
    query.processAllAvailable()
    // batch 3 is ALL redelivery — the ingest must emit nothing
    input.addData(newDocs); query.processAllAvailable()
    query.stop()

    val full = graft.operators.Dedup
      .minhashPairs(cat.documents, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emitted.map(p => (p._1, p._2)).toSet == full,
      "streamed union != full recompute")
    assert(emitted.size == full.size, "a pair was emitted more than once")
    assert(!emitted.exists(_._3 >= 2) || emitted.count(_._3 >= 2) ==
      full.count(p => p._1 % 5 == 0 || p._2 % 5 == 0),
      "discovery-time partition drifted")
    assert(emitted.forall(p => p._3 <= 1 ||
      (p._1 % 5 == 0 || p._2 % 5 == 0)), "a redelivered doc re-emitted pairs")
  }

  test("e11/e18 memoized restart: a second invocation is a checkpoint restart with identical results") {
    // the bench runs each entry 3x in-process; iterations 2..n take
    // the memoized path (same landing dir, same checkpoint, no new
    // files) and must read back the SAME committed state the first
    // pass built — a restart that re-ingested or dropped state would
    // diverge here before it ever reached the DuckDB oracle. All
    // eight memoized entries run over the same dir in one session, so
    // a fixture memo that handed one entry another's checkpoint or
    // sink fails here too.
    import graft.queries.Streaming._
    for (q <- Seq(e08, e11, e14, e15, e16, e17, e18, e20)) {
      val first = q.run(spark, sfDir).collect().map(_.toString).toSeq
      val again = q.run(spark, sfDir).collect().map(_.toString).toSeq
      assert(first.nonEmpty, s"${q.name}: empty first result")
      assert(again == first, s"${q.name}: restart diverged from first run")
    }
  }

  /** transformWithState requires the RocksDB state store; scope the
    * provider to one query and restore the suite default after. Also
    * pins shuffle partitions to 2 for the query's lifetime: each
    * micro-batch opens/commits/snapshot-uploads ONE RocksDB instance
    * per state partition, so the suite's 32 partitions would spend
    * ~16× the wall on store bookkeeping for a 10-row fixture (the
    * partition count is frozen into the checkpoint at first start,
    * which is also why production picks it deliberately).
    */
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val pkey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    val prevP = spark.conf.get(pkey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(pkey, "2")
    try body
    finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.conf.set(pkey, prevP)
    }
  }

  test("e24 transformWithState quota: per-user-day admissions match the batch form; each closed window's timer emits its summary exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Quota
    import graft.streaming.Quota.QEv
    withRocksDb {
      val input = MemoryStream[QEv]
      val query = Quota.quotaStream(
          input.toDS().withWatermark("ts", "1 hour"), quota = 2)
        .writeStream.format("memory").queryName("e24_stream")
        .option("checkpointLocation",
          graft.core.Scratch.dir("e24spec_ckpt").toString)
        .outputMode("append").start()
      def at(d: Int, h: Int, m: Int) =
        Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
      // day 1: user 1 fires 4 times (2 admitted, 2 rejected), user 2
      // twice (all admitted), user 3 once
      val b1 = Seq(QEv(1, at(1, 9, 0), 1), QEv(2, at(1, 9, 30), 1),
        QEv(3, at(1, 10, 0), 2), QEv(4, at(1, 10, 30), 1),
        QEv(5, at(1, 11, 0), 2), QEv(6, at(1, 12, 0), 3),
        QEv(7, at(1, 13, 0), 1))
      // day 2: user 2 fires 3 times — the quota RESET at the window
      // boundary is the point
      val b2 = Seq(QEv(8, at(2, 8, 0), 2), QEv(9, at(2, 9, 0), 2),
        QEv(10, at(2, 10, 0), 2), QEv(11, at(2, 11, 0), 1))
      // sentinels advance the watermark past day 2's end so BOTH
      // days' window timers fire; the sentinels' own day-3 window
      // never closes and must emit no summary
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      input.addData(Seq(QEv(99, at(3, 6, 0), 9))); query.processAllAvailable()
      input.addData(Seq(QEv(98, at(3, 8, 0), 9))); query.processAllAvailable()
      query.stop()

      val out = spark.table("e24_stream").as[Quota.QOut].collect().toSeq
      val realIds = (b1 ++ b2).map(_.event_id).toSet
      val decisions = out
        .filter(o => o.kind == "decision" && realIds(o.event_id))
        .map(o => (o.user_id, o.window_start.getTime, o.event_id, o.admitted))
        .toSet
      val batchD = Quota.admissions((b1 ++ b2).toDF(), quota = 2)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getBoolean(3))).toSet
      assert(decisions == batchD,
        s"stream decisions drifted from the batch window form")
      // the quota reset across the day boundary actually happened:
      // user 2's day-2 events re-admit after day-1 admissions
      assert(decisions.count(d => d._1 == 2L && d._4) == 4)

      val sumRows = out.filter(_.kind == "summary")
      val summaries = sumRows
        .map(o => (o.user_id, o.window_start.getTime, o.n_admitted,
          o.n_rejected)).toSet
      val batchS = Quota.admissionSummary((b1 ++ b2).toDF(), quota = 2)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getLong(3))).toSet
      assert(summaries == batchS,
        s"timer summaries != batch roll-up: $summaries vs $batchS")
      assert(sumRows.size == batchS.size,
        "a window summary emitted twice (timer state not freed) or missing")
      // sentinel users never appear in summaries (their window is
      // still open when the query stops)
      assert(!summaries.exists(_._1 == 9L))
    }
  }

  test("e24 closed-window stragglers: no second summary, no state resurrection — diverted as kind=late") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Quota
    import graft.streaming.Quota.QEv
    withRocksDb {
      val input = MemoryStream[QEv]
      val query = Quota.quotaStream(
          input.toDS().withWatermark("ts", "1 hour"), quota = 2)
        .writeStream.format("memory").queryName("e24_late")
        .option("checkpointLocation",
          graft.core.Scratch.dir("e24late_ckpt").toString)
        .outputMode("append").start()
      def at(d: Int, h: Int, m: Int) =
        Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
      // day 1, user 1: 2 admitted + 1 rejected
      input.addData(Seq(QEv(1, at(1, 9, 0), 1), QEv(2, at(1, 9, 30), 1),
        QEv(3, at(1, 10, 0), 1)))
      query.processAllAvailable()
      // sentinels push the watermark past day 1's close — the timer
      // fires, the summary emits, user 1's day-1 entry is FREED
      input.addData(Seq(QEv(90, at(2, 6, 0), 9))); query.processAllAvailable()
      input.addData(Seq(QEv(91, at(2, 8, 0), 9))); query.processAllAvailable()
      // the straggler: a day-1 event arriving after the close (TWS
      // delivers sub-watermark rows — the r14 ADVICE resurrection
      // path: without the divert it would re-create the entry, re-arm
      // a timer at the already-past close, and re-emit a summary with
      // a reset count)
      input.addData(Seq(QEv(4, at(1, 23, 0), 1))); query.processAllAvailable()
      // push the watermark further: any wrongly re-armed timer fires
      input.addData(Seq(QEv(92, at(3, 6, 0), 9))); query.processAllAvailable()
      input.addData(Seq(QEv(93, at(3, 8, 0), 9))); query.processAllAvailable()
      query.stop()

      val out = spark.table("e24_late").as[Quota.QOut].collect().toSeq
      val u1sums = out.filter(o => o.kind == "summary" && o.user_id == 1L)
      assert(u1sums.size == 1,
        s"summary must emit exactly once, got ${u1sums.size}")
      assert(u1sums.head.n_admitted == 2L && u1sums.head.n_rejected == 1L,
        "the one summary must carry the pre-close counts, not a reset")
      // the closed-window straggler never competes for quota and never
      // resurrects state. Two layers enforce this and the test accepts
      // either's fingerprint: Spark 4's own TWS late-record filter
      // (previous-batch watermark) usually drops the row before the
      // processor — observed on this engine, the row simply vanishes —
      // and the processor's own divert guard (this round's ADVICE fix)
      // surfaces anything that slips the filter as kind="late" without
      // touching MapState. What must NEVER appear: a decision row for
      // the straggler, or a second summary.
      assert(out.filter(_.event_id == 4L).forall(o =>
        o.kind == "late" && !o.admitted),
        "a closed-window straggler must not become a decision")
      assert(out.count(o => o.kind == "summary" && o.user_id == 1L) == 1,
        "straggler resurrected the window: summary emitted twice")
    }
  }

  test("e24 initial state: a mid-day batch-to-streaming cutover carries quota counts — no quota resets, summaries combine both halves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Quota
    import graft.streaming.Quota.QEv
    withRocksDb {
      def at(d: Int, h: Int, m: Int) =
        Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
      // BATCH half (pre-cutover): user 1 burns its whole day-1 quota,
      // user 2 burns half
      val morning = Seq(QEv(1, at(1, 8, 0), 1), QEv(2, at(1, 9, 0), 1),
        QEv(3, at(1, 9, 30), 2))
      // STREAMED half: user 1's first streamed event must REJECT
      // (quota carried in), user 2 has exactly one admission left,
      // user 3 is unseen by the backfill
      val afternoon = Seq(QEv(4, at(1, 14, 0), 1), QEv(5, at(1, 15, 0), 2),
        QEv(6, at(1, 16, 0), 2), QEv(7, at(1, 17, 0), 3))
      val seeds = Quota.admissionSummary(morning.toDF(), quota = 2)
        .as[Quota.SeedCounts]
      val input = MemoryStream[QEv]
      val query = Quota.quotaStreamSeeded(
          input.toDS().withWatermark("ts", "1 hour"), seeds, quota = 2)
        .writeStream.format("memory").queryName("e24_seeded")
        .option("checkpointLocation",
          graft.core.Scratch.dir("e24seed_ckpt").toString)
        .outputMode("append").start()
      input.addData(afternoon); query.processAllAvailable()
      input.addData(Seq(QEv(99, at(2, 6, 0), 9))); query.processAllAvailable()
      input.addData(Seq(QEv(98, at(2, 8, 0), 9))); query.processAllAvailable()
      query.stop()

      val out = spark.table("e24_seeded").as[Quota.QOut].collect().toSeq
      val decisions = out
        .filter(o => o.kind == "decision" && o.event_id >= 4 && o.event_id <= 7)
        .map(o => o.event_id -> o.admitted).toMap
      // truth: the batch form over the UNION, restricted to the
      // streamed half — cutover must be invisible in the decisions
      val batchAll = Quota.admissions((morning ++ afternoon).toDF(), quota = 2)
        .collect().map(r => (r.getLong(2), r.getBoolean(3))).toMap
      assert(decisions == batchAll.filter { case (k, _) => k >= 4L },
        s"cutover changed decisions: $decisions")
      assert(!decisions(4L), "user 1's carried-in quota must reject event 4")
      assert(decisions(5L) && !decisions(6L) && decisions(7L))

      // the seeded windows' timers fire once, with COMBINED counts
      val sums = out.filter(_.kind == "summary")
        .map(o => (o.user_id, o.n_admitted, o.n_rejected)).toSet
      val batchSums = Quota
        .admissionSummary((morning ++ afternoon).toDF(), quota = 2)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(sums == batchSums,
        s"seeded summaries != batch roll-up: $sums vs $batchSums")
    }
  }

  test("e24 restart semantics: killed after batch N and restarted from the checkpoint, decisions + summaries equal the uninterrupted run") {
    import spark.implicits._
    import graft.streaming.Quota
    import graft.streaming.Quota.QEv
    def at(d: Int, h: Int, m: Int) =
      Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
    // four arrival batches: day-1 admissions (u1 over quota), day-2
    // admissions (u2 over quota; wm passes day-1's close), then two
    // sentinel days that close day-2 and flush every timer on both
    // execution paths
    val f1 = Seq(QEv(1, at(1, 9, 0), 1), QEv(2, at(1, 9, 30), 1),
      QEv(3, at(1, 10, 0), 1), QEv(4, at(1, 11, 0), 2))
    val f2 = Seq(QEv(5, at(2, 8, 0), 1), QEv(6, at(2, 9, 0), 2),
      QEv(7, at(2, 9, 30), 2), QEv(8, at(2, 10, 0), 2))
    val f3 = Seq(QEv(90, at(3, 6, 0), 9))
    val f4 = Seq(QEv(91, at(4, 6, 0), 9))
    // one file per feed: the live query polls its source dir while a
    // feed is written, and a multi-file feed could reach it split over
    // two micro-batches, turning the reference run's arrival order
    // into a race
    def feed(dir: String, rows: Seq[QEv]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(dir)
    def stream(srcDir: String) = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[QEv].schema)
      .parquet(srcDir).as[QEv].withWatermark("ts", "1 hour")
    def row(o: Quota.QOut) = (o.kind, o.user_id, o.window_start.getTime,
      o.event_id, o.admitted, o.n_admitted, o.n_rejected)
    withRocksDb {
      // UNINTERRUPTED reference: one query lives across all four feeds
      // (same file source + foreachBatch shape as the restart path, so
      // the only variable is the restart)
      val liveSrc = graft.core.Scratch.dir("e24rst_live_src").toString
      val liveCk = graft.core.Scratch.dir("e24rst_live_ckpt").toString
      val liveGot = scala.collection.mutable.ArrayBuffer.empty[Quota.QOut]
      val q = Quota.quotaStream(stream(liveSrc), quota = 2)
        .writeStream.option("checkpointLocation", liveCk)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Quota.QOut], _: Long) =>
          val rows = b.collect()
          liveGot.synchronized { liveGot ++= rows }; ()
        }.start()
      Seq(f1, f2, f3, f4).foreach { f =>
        feed(liveSrc, f); q.processAllAvailable()
      }
      q.stop()

      // KILLED path: each drain is a separate query object running
      // one Trigger.Once batch over the SAME checkpoint — after batch
      // 2 the query is gone (the in-process stand-in for a process
      // kill; RocksDB state, timers, and the watermark all come back
      // from the checkpoint alone on the next start)
      val src = graft.core.Scratch.dir("e24rst_src").toString
      val ck = graft.core.Scratch.dir("e24rst_ckpt").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[Quota.QOut]
      def drain(): Unit = {
        val q2 = Quota.quotaStream(stream(src), quota = 2)
          .writeStream.option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Quota.QOut], _: Long) =>
            val rows = b.collect()
            got.synchronized { got ++= rows }; ()
          }.start()
        q2.awaitTermination()
      }
      Seq(f1, f2, f3, f4).foreach { f => feed(src, f); drain() }

      // sentinel users excluded: their windows are still open at stop
      val liveSet = liveGot.filter(_.user_id != 9L).map(row).toSet
      val gotSet = got.filter(_.user_id != 9L).map(row).toSet
      assert(gotSet == liveSet,
        s"restarted run diverged from the uninterrupted run")
      // exactly-once summaries survived the restart (set equality
      // alone would mask a duplicate). Sentinel user 9 excluded here
      // too: its last window closes via the extra timer batch
      // processAllAvailable runs after f4's watermark advance — a
      // batch the final Trigger.Once drain (one batch, prior-ckpt
      // watermark) never schedules. Both paths stop with it open or
      // just-closed; the users under test closed two drains earlier.
      assert(got.count(o => o.kind == "summary" && o.user_id != 9L) ==
        liveGot.count(o => o.kind == "summary" && o.user_id != 9L))
      // ...and both paths equal the batch replay of the same corpus
      val corpus = (f1 ++ f2).toDF()
      val batchD = Quota.admissions(corpus, quota = 2).collect()
        .map(r => ("decision", r.getLong(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getBoolean(3), -1L, -1L)).toSet
      val batchS = Quota.admissionSummary(corpus, quota = 2).collect()
        .map(r => ("summary", r.getLong(0), r.getTimestamp(1).getTime,
          -1L, false, r.getLong(2), r.getLong(3))).toSet
      assert(gotSet == batchD ++ batchS,
        "restarted stream drifted from the batch replay")
    }
  }

  test("e24 TTL rate limiter: counts accumulate inside the TTL horizon and reset once the state expires") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Quota
    import graft.streaming.Quota.QEv
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // A ProcessingTime-mode TWS operator requests another micro-batch
    // unconditionally (wall-clock work could always be due), so
    // processAllAvailable/AvailableNow would spin; and MemoryStream
    // cannot recover a checkpoint across query restarts. Feed a FILE
    // source instead — the production restart shape: each drain is
    // one Trigger.Once run over the files that arrived since the
    // last checkpoint, and the TTL clock keeps running across
    // restarts because the expiry rides in the RocksDB state.
    def drain(srcDir: String, ckpt: String,
        ttl: java.time.Duration): Map[Long, Boolean] = {
      // foreachBatch sink: the memory sink refuses checkpoint
      // recovery (not fault-tolerant), and recovery IS this test
      val got = scala.collection.mutable.Map.empty[Long, Boolean]
      val src = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[QEv].schema)
        .parquet(srcDir).as[QEv]
      val q = Quota.rateLimitStream(src, quota = 2, ttl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Quota.QOut], _: Long) =>
          val rows = batch.collect().map(o => o.event_id -> o.admitted)
          got.synchronized { got ++= rows }; ()
        }
        .start()
      q.awaitTermination()
      got.toMap
    }
    def feed(dir: String, rows: Seq[QEv]): Unit =
      rows.toDF().write.mode("append").parquet(dir)
    withRocksDb {
      // horizon >> test wall time: the count survives the restart
      // and the quota still binds
      val src1 = graft.core.Scratch.dir("e24ttl1_src").toString
      val ck1 = graft.core.Scratch.dir("e24ttl1_ckpt").toString
      feed(src1, Seq(QEv(1, t0, 1), QEv(2, t0, 1), QEv(3, t0, 1)))
      val held1 = drain(src1, ck1,
        java.time.Duration.ofMinutes(30))
      feed(src1, Seq(QEv(4, t0, 1))) // still inside the TTL horizon
      val held = held1 ++ drain(src1, ck1,
        java.time.Duration.ofMinutes(30))
      assert(held == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
        s"within-TTL admissions drifted: $held")

      // tiny horizon + a wall-clock pause: the state EXPIRES between
      // the two runs and the next event starts a fresh count — TTL as
      // the reset mechanism, no cleanup code anywhere
      val src2 = graft.core.Scratch.dir("e24ttl2_src").toString
      val ck2 = graft.core.Scratch.dir("e24ttl2_ckpt").toString
      feed(src2, Seq(QEv(1, t0, 1), QEv(2, t0, 1), QEv(3, t0, 1)))
      val reset1 = drain(src2, ck2,
        java.time.Duration.ofMillis(50))
      Thread.sleep(2000) // >> 50 ms TTL
      feed(src2, Seq(QEv(4, t0, 1)))
      val reset = reset1 ++ drain(src2, ck2,
        java.time.Duration.ofMillis(50))
      assert(reset(1L) && reset(2L) && !reset(3L),
        s"pre-expiry admissions drifted: $reset")
      assert(reset(4L), "state did not expire: event 4 should re-admit")
    }
  }

  test("streamShufflePartitions: landing-bytes derivation, floor 1, session cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sp_test")
    val confKey = "spark.graft.stream.bytesPerShufflePartition"
    try {
      // empty landing dir: floored at 1 (a query must still plan)
      assert(graft.queries.Streaming
        .streamShufflePartitions(spark, dir.toString) == 1)
      // 2 MB of landing files under the 32 MB default: still 1
      java.nio.file.Files.write(dir.resolve("a.parquet"),
        new Array[Byte](2 * 1024 * 1024))
      assert(graft.queries.Streaming
        .streamShufflePartitions(spark, dir.toString) == 1)
      // explicit 1 MB target: ceil(2 MB / 1 MB) = 2
      spark.conf.set(confKey, (1024 * 1024).toString)
      assert(graft.queries.Streaming
        .streamShufflePartitions(spark, dir.toString) == 2)
      // tiny target: derivation saturates at the SESSION's configured
      // shuffle partitions (8 here) — a large window keeps cluster
      // parallelism, never exceeds it
      spark.conf.set(confKey, "1024")
      assert(graft.queries.Streaming
        .streamShufflePartitions(spark, dir.toString) ==
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
      // multiple landing dirs sum their bytes
      spark.conf.set(confKey, (1024 * 1024).toString)
      assert(graft.queries.Streaming.streamShufflePartitions(
        spark, dir.toString, dir.toString) == 4)
      // a missing dir contributes zero instead of failing (fixture
      // dirs are created lazily by the entries)
      assert(graft.queries.Streaming.streamShufflePartitions(
        spark, dir.resolve("absent").toString) == 1)
    } finally {
      spark.conf.unset(confKey)
      graft.core.Scratch.remove(dir)
    }
  }

  test("landFiles: N slices land in one Spark job, one file per slice, mtimes ascending") {
    import scala.jdk.CollectionConverters._
    val ids = spark.range(0L, 300L).toDF("id")
    def landed(landing: java.nio.file.Path): Seq[java.nio.file.Path] =
      java.nio.file.Files.list(landing).iterator().asScala.toSeq
        .sortBy(_.getFileName.toString)
    def rows(f: java.nio.file.Path): Set[Long] =
      spark.read.parquet(f.toString).collect().map(_.getLong(0)).toSet
    val landing = graft.core.Scratch.dir("landfiles")
    val group = s"landfiles-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try graft.queries.Streaming.landFiles(landing, (0 until 3).map(i =>
        (ids.filter(col("id") % 3 === i), s"s$i", 1700000000000L + i * 1000L)): _*)
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length == 1)
    val files = landed(landing)
    assert(files.map(_.getFileName.toString) == Seq("s0.parquet", "s1.parquet", "s2.parquet"))
    files.zipWithIndex.foreach { case (f, i) =>
      assert(rows(f) == (0L until 300L).filter(_ % 3 == i).toSet, s"slice $i")
      assert(f.toFile.lastModified == 1700000000000L + i * 1000L, s"mtime of slice $i")
    }
    // an empty slice still lands a file, schema and all
    val withEmpty = graft.core.Scratch.dir("landfiles_empty")
    graft.queries.Streaming.landFiles(withEmpty,
      (ids.filter(col("id") < 10L), "a", 1700000000000L),
      (ids.filter(col("id") < 0L), "b", 1700000001000L),
      (ids.filter(col("id") >= 290L), "c", 1700000002000L))
    val three = landed(withEmpty)
    assert(three.map(_.getFileName.toString) == Seq("a.parquet", "b.parquet", "c.parquet"))
    assert(three.map(rows) == Seq((0L until 10L).toSet, Set.empty[Long],
      (290L until 300L).toSet))
    assert(spark.read.parquet(three(1).toString).schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> org.apache.spark.sql.types.LongType))
    assert(three.map(_.toFile.lastModified) ==
      Seq(1700000000000L, 1700000001000L, 1700000002000L))
    graft.core.Scratch.remove(landing)
    graft.core.Scratch.remove(withEmpty)
  }

  test("RddBridge.checkpointBytes: frozen blocks report bytes, unfrozen report unknown") {
    import org.apache.spark.sql.graftbridge.RddBridge
    val df = spark.range(10000L).toDF("id")
    assert(RddBridge.checkpointBytes(df).isEmpty,
      "an unfrozen plan has no checkpoint blocks to measure")
    val frozen = df.localCheckpoint(true)
    val bytes = RddBridge.checkpointBytes(frozen)
    assert(bytes.exists(_ > 0L), "eager localCheckpoint blocks must be visible " +
      "to the storage registry (the zero-job broadcast gate reads them)")
    RddBridge.unpersistCheckpoint(frozen, blocking = true)
  }

  test("broadcast gate fails closed: a frame with no registered blocks gets no hint") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.graftbridge.RddBridge
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.queries.WebQueries.maybeBroadcastCheckpointed(df)
        .queryExecution.analyzed.exists(_.isInstanceOf[ResolvedHint])
    val frozen = spark.range(1000L).toDF("id").localCheckpoint(true)
    assert(hinted(frozen), "a small frozen frame is under the cap")
    // the same plan with its blocks gone: the size is unknown, not 0
    RddBridge.unpersistCheckpoint(frozen, blocking = true)
    assert(RddBridge.checkpointBytes(frozen).isEmpty)
    assert(!hinted(frozen), "an unknown size must withhold the hint")
    assert(!hinted(spark.range(10L).toDF("id")),
      "a frame that was never frozen has no blocks and gets no hint")
  }
}
