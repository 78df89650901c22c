package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch = Seq(
    Event(1L, "click", ts(0), 1.0),
    Event(1L, "click", ts(5), 2.0),
    Event(1L, "click", ts(50), 4.0), // > 30 min gap → new session
    Event(2L, "view", ts(10), 8.0))

  test("windowed counts on a batch frame") {
    val out = EventPipeline.windowedCounts(batch.toDF(), "1 hour")
      .orderBy("h", "event_type").collect()
    assert(out.map(_.getLong(2)).sum == 4)
  }

  test("sessionize splits on inactivity gap (batch mode)") {
    val sessions = EventPipeline.sessionize(batch.toDS(), gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(sessions.length == 3)
    assert(sessions(0) == Session(1L, 2, 3.0, ts(0), ts(5)))
    assert(sessions(1).n_events == 1 && sessions(1).total == 4.0)
    assert(sessions(2).user_id == 2L)
  }

  test("native session_window agrees with the custom sessionizer (batch)") {
    val sw = EventPipeline.sessionWindowAgg(batch.toDF(), "30 minutes")
      .collect().sortBy(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val custom = EventPipeline.sessionize(batch.toDS(), gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(sw.length == custom.length)
    sw.zip(custom).foreach { case (r, s) =>
      assert(r.getLong(0) == s.user_id && r.getTimestamp(1) == s.start)
      // session_window end = last event + gap; the sessionizer records
      // the last event time itself
      assert(r.getTimestamp(2).getTime == s.end.getTime + 30 * 60 * 1000L)
      assert(r.getLong(3) == s.n_events && r.getDouble(4) == s.total)
    }
  }

  test("session_window aggregation over an unbounded stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventPipeline.sessionWindowAgg(
        input.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sw_stream")
      .outputMode("complete").start()
    try {
      input.addData(batch: _*)
      q.processAllAvailable()
      val rows = spark.table("sw_stream").collect()
      assert(rows.length == 3) // two sessions for user 1, one for user 2
      assert(rows.map(_.getLong(3)).sum == 4)
    } finally q.stop()
  }

  test("windowed counts over a real unbounded stream (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(batch: _*)
    val q = EventPipeline.windowedCounts(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.map(_.getLong(2)).sum == 4)
    } finally q.stop()
  }

  test("stream-static enrichment join (MemoryStream x static dim)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq(("click", "interactive"), ("view", "passive"))
      .toDF("event_type", "kind")
    val q = EventPipeline.enrich(mem.toDF(), dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select("user_id", "kind").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(rows.toSeq == Seq((1L, "interactive"), (1L, "interactive"),
        (1L, "interactive"), (2L, "passive")))
    } finally q.stop()
  }

  test("stream-stream interval join with watermark-bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val l = clicks.toDF().select(col("user_id"), col("t"))
    val right = buys.toDF().toDF("user_id", "rt", "amount")
    val q = EventPipeline.intervalJoin(l, right,
        key = "user_id", band = "10 minutes")
      .select(l("user_id"), col("t"), col("rt"), col("amount"))
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      clicks.addData(Event(1L, "click", ts(0), 1.0),
        Event(2L, "click", ts(0), 1.0))
      // u1 buys inside the band; u2 buys 20 min later (outside)
      buys.addData((1L, ts(5), 9.99), (2L, ts(20), 5.0))
      q.processAllAvailable()
      val rows = spark.table("ij_out")
        .select("user_id", "amount").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 9.99)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join null-pads after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val l = clicks.toDF().select(col("user_id"), col("t"))
    val right = buys.toDF().toDF("user_id", "rt", "amount")
    val q = EventPipeline.intervalJoin(l, right,
        key = "user_id", band = "10 minutes", watermark = "30 minutes",
        joinType = "left_outer")
      .select(l("user_id"), col("amount"))
      .writeStream.format("memory").queryName("ij_outer")
      .outputMode("append").start()
    try {
      clicks.addData(Event(1L, "click", ts(0), 1.0),
        Event(2L, "click", ts(0), 1.0))
      buys.addData((1L, ts(5), 9.99))
      q.processAllAvailable()
      // advance both watermarks far past u2's band so the engine can
      // prove no partner is coming and emit the null-padded row
      clicks.addData(Event(9L, "click",
        Timestamp.valueOf("2024-01-01 12:00:00"), 1.0))
      buys.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      clicks.addData(Event(8L, "click",
        Timestamp.valueOf("2024-01-01 13:00:00"), 1.0))
      buys.addData((8L, Timestamp.valueOf("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("ij_outer")
        .filter(col("user_id").isin(1L, 2L))
        .collect().map(r => (r.getLong(0), Option(r.get(1))))
      assert(rows.toSet == Set((1L, Some(9.99)), (2L, None)))
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // event_type doubles as the dedup key here; duplicates arrive both
    // within one micro-batch and across micro-batches
    val q = EventPipeline.dedupStream(mem.toDF(), "event_type")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(1L, "click", ts(0), 1.0),
        Event(2L, "click", ts(1), 2.0), Event(3L, "view", ts(2), 3.0))
      q.processAllAvailable()
      mem.addData(Event(4L, "click", ts(3), 4.0),
        Event(5L, "buy", ts(4), 5.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("event_type", "user_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(rows.toSeq == Seq(("buy", 5L), ("click", 1L), ("view", 3L)))
    } finally q.stop()
  }

  test("file stream source shape matches the batch events table") {
    val stream = EventPipeline.readEventStream(spark, sf)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.contains("t"))
  }

  test("streaming upsert: foreachBatch MERGEs each micro-batch into a table") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import graft.api.GraftSession
    import graft.api.GraftSession.{MergeInsert, MergeUpdate, MergeWhen}
    implicit val sqlCtx = spark.sqlContext
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_stream_merge"))
    g.execute("CREATE TABLE tally (user_id BIGINT, total DOUBLE, n BIGINT)")
    val mem = MemoryStream[Event]
    // the streaming-materialized-upsert pattern: aggregate the micro-batch,
    // MERGE the delta — update existing keys, insert new ones. State lives
    // in the TABLE, not in streaming state: restarts replay idempotently
    // from the sink's perspective and the table is queryable mid-stream.
    val q = mem.toDF().writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val delta = df.groupBy(col("user_id"))
          .agg(sum(col("value")).as("dtotal"), count(lit(1)).as("dn"))
          .as("d")
        g.merge("tally", delta,
          expr("tally.user_id = d.user_id"),
          Seq(
            MergeWhen(matched = true, None, MergeUpdate(Map(
              "total" -> expr("total + dtotal"),
              "n" -> expr("n + dn")))),
            MergeWhen(matched = false, None, MergeInsert(
              Seq("user_id", "total", "n"),
              Seq(expr("d.user_id"), expr("dtotal"), expr("dn"))))))
        ()
      }
      .start()
    try {
      mem.addData(Event(1L, "click", ts(0), 1.0),
        Event(1L, "click", ts(1), 2.0), Event(2L, "view", ts(2), 8.0))
      q.processAllAvailable()
      mem.addData(Event(1L, "buy", ts(3), 4.0),
        Event(3L, "click", ts(4), 16.0))
      q.processAllAvailable()
      val rows = g.table("tally").orderBy("user_id")
        .as[(Long, Double, Long)].collect().toSeq
      assert(rows == Seq((1L, 7.0, 3L), (2L, 8.0, 1L), (3L, 16.0, 1L)))
    } finally q.stop()
  }

  test("insertIfNew makes foreachBatch landing exactly-once on replay") {
    import java.nio.file.Files
    import graft.api.GraftSession
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_once"))
    g.execute("CREATE TABLE landed (id BIGINT)")
    val b0 = Seq(1L, 2L).toDF("id")
    val b1 = Seq(3L).toDF("id")
    assert(g.insertIfNew("landed", 0L, b0))
    assert(!g.insertIfNew("landed", 0L, b0)) // replayed epoch → no-op
    assert(g.insertIfNew("landed", 1L, b1))
    assert(!g.insertIfNew("landed", 1L, b1))
    assert(g.table("landed").count() == 3)
    // the commit log survives a session restart
    val g2 = GraftSession(spark, g.root)
    assert(!g2.insertIfNew("landed", 1L, b1))
    assert(g2.table("landed").count() == 3)
  }

  test("insertIfNew keys epochs per query — two streams share a table") {
    import java.nio.file.Files
    import graft.api.GraftSession
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_once2"))
    g.execute("CREATE TABLE landed (id BIGINT)")
    val qa = "query-a"; val qb = "query-b"
    // epoch ids are per-query (both number from 0): the same epoch id
    // from a DIFFERENT query must land, a replay from the SAME query
    // must not
    assert(g.insertIfNew("landed", 0L, Seq(1L).toDF("id"), qa))
    assert(g.insertIfNew("landed", 0L, Seq(2L).toDF("id"), qb))
    assert(!g.insertIfNew("landed", 0L, Seq(1L).toDF("id"), qa))
    assert(!g.insertIfNew("landed", 0L, Seq(2L).toDF("id"), qb))
    assert(g.insertIfNew("landed", 1L, Seq(3L).toDF("id"), qa))
    assert(g.table("landed").count() == 3)
  }

  test("insertIfNew survives two CONCURRENT writers — no lost epochs") {
    // the round-7 log was read-modify-rewrite: two foreachBatch threads
    // could read the same 'seen' set and the second rewrite dropped the
    // first's committed epoch, so its replay landed twice. The log is
    // append-only now (commits commute) and check+insert+append holds
    // the per-table write lock — this race must stay deterministic.
    import java.nio.file.Files
    import graft.api.GraftSession
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_race"))
    g.execute("CREATE TABLE landed (id BIGINT)")
    val epochs = 12
    def run(qid: String, base: Long): Thread = {
      val t = new Thread(() => (0 until epochs).foreach { e =>
        assert(g.insertIfNew("landed", e.toLong,
          Seq(base + e).toDF("id"), qid))
      })
      t.start(); t
    }
    val threads = Seq(run("query-a", 1000L), run("query-b", 2000L))
    threads.foreach(_.join())
    assert(g.table("landed").count() == 2L * epochs)
    // post-race replay of EVERY epoch from BOTH queries is a no-op —
    // with the rewrite log a dropped epoch re-applied here
    for (q <- Seq("query-a", "query-b"); e <- 0 until epochs)
      assert(!g.insertIfNew("landed", e.toLong, Seq(-1L).toDF("id"), q),
        s"epoch $e of $q was lost by a concurrent commit")
    assert(g.table("landed").count() == 2L * epochs)
    assert(g.table("landed").filter(col("id") === -1L).count() == 0)
  }

  test("insertIfNew crash window: insert landed but log append did not") {
    // Pin the documented one-micro-batch crash window: if the process
    // dies BETWEEN insert() and the log append, the epoch is NOT
    // recorded and foreachBatch's replay re-applies it — a duplicate.
    // This spec exists so any silent change to that contract (either
    // closing the window or widening it) fails loudly.
    import java.nio.file.Files
    import graft.api.GraftSession
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_crashwin"))
    g.execute("CREATE TABLE landed (id BIGINT)")
    val b0 = Seq(1L, 2L).toDF("id")
    g.insert("landed", b0) // the "crashed" delivery: data, no log entry
    assert(g.insertIfNew("landed", 0L, b0, "q")) // replay re-applies...
    assert(g.table("landed").count() == 4)       // ...window = 1 batch
    assert(!g.insertIfNew("landed", 0L, b0, "q")) // then never again
    assert(g.table("landed").count() == 4)
  }

  test("streaming ingest keeps an incremental matview fresh per batch") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import graft.api.GraftSession
    implicit val sqlCtx = spark.sqlContext
    val g = GraftSession(spark,
      graft.TmpDirs.create("graft_stream_imv"))
    g.execute("CREATE TABLE ev (event_type STRING, value DOUBLE)")
    g.createIncrementalMatView("evagg", "ev", Seq("event_type"),
      Seq(("count", "*", "n"), ("sum", "value", "total")))
    val modes = scala.collection.mutable.Buffer[String]()
    val mem = MemoryStream[Event]
    // landing + aggregate maintenance in one foreachBatch: each
    // micro-batch appends one batch dir, and the matview folds exactly
    // that delta — the refresh never rescans landed history
    val q = mem.toDF().select(col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        g.insert("ev", df)
        modes += g.refreshIncrementalMatView("evagg")
        ()
      }
      .start()
    try {
      mem.addData(Event(1L, "click", ts(0), 1.0),
        Event(2L, "click", ts(1), 2.0), Event(3L, "view", ts(2), 8.0))
      q.processAllAvailable()
      mem.addData(Event(4L, "click", ts(3), 4.0))
      q.processAllAvailable()
      assert(modes.toSeq == Seq("incremental(1)", "incremental(1)"))
      val rows = g.table("evagg").orderBy("event_type")
        .as[(String, Long, Double)].collect().toSeq
      assert(rows == Seq(("click", 3L, 7.0), ("view", 1L, 8.0)))
    } finally q.stop()
  }
  test("trending top-k: streamed counts + per-batch rank match batch truth") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventPipeline.trendingCounts(mem.toDF(), "event_type", "1 hour")
      .writeStream.format("memory").queryName("trend_counts")
      .outputMode("complete").start()
    try {
      mem.addData(
        Event(1L, "click", ts(0), 1.0), Event(2L, "click", ts(5), 1.0),
        Event(3L, "view", ts(10), 1.0), Event(4L, "click", ts(15), 1.0),
        Event(5L, "view", ts(20), 1.0), Event(6L, "scroll", ts(25), 1.0))
      q.processAllAvailable()
      val top = EventPipeline.rankTrending(
          spark.table("trend_counts"), "event_type", k = 2)
        .orderBy("h", "rnk")
        .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
      assert(top.toSeq == Seq((1, "click", 3L), (2, "view", 2L)))
      // late-but-in-watermark arrivals re-rank the window
      mem.addData(Event(7L, "scroll", ts(30), 1.0),
        Event(8L, "scroll", ts(31), 1.0), Event(9L, "scroll", ts(32), 1.0))
      q.processAllAvailable()
      val top2 = EventPipeline.rankTrending(
          spark.table("trend_counts"), "event_type", k = 2)
        .orderBy("h", "rnk")
        .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
      assert(top2.toSeq == Seq((1, "scroll", 4L), (2, "click", 3L)))
    } finally q.stop()
  }
}
