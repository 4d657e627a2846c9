package graft

import graft.operators.{CdcApply, Dedup, Joins}
import graft.sources.TestSources
import graft.streaming.{FileSink, Reconcile, ReconcileLease, Stateful, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming semantics (SURVEY §2.8 T1-T10, §2.3 J9/J10) driven through
  * real MemoryStream micro-batches — the behaviors the batch-equivalent
  * oracle queries can't see: watermark late-drop, cross-batch state,
  * replay idempotence, stream joins, reconcile lifecycle. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Drop a text intake loop's histories, the paragraph leg's included. */
  private def dropTextHistory(table: String): Unit =
    (Dedup.IntakeHistory ++ Dedup.ParagraphHistory).drop(spark, table)

  test("T1/T6: watermark drops late rows in append mode") {
    val ms = TestSources.memory[(Timestamp, Long)]
    val agg = StreamOps.windowedAgg(
      StreamOps.withWatermark(ms.toDF.toDF("ts", "v"), "ts", "10 minutes"),
      "ts", "10 minutes", "10 minutes", Seq.empty, Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("t1_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: rows up to 01:00 → watermark advances to 00:50
    ms.addData((ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 01:00:00"), 2L))
    q.processAllAvailable()
    // batch 2: a row at 00:07 is behind the watermark → dropped;
    // a row at 01:05 keeps the stream moving and closes earlier windows
    ms.addData((ts("2024-01-01 00:07:00"), 3L), (ts("2024-01-01 01:05:00"), 4L))
    q.processAllAvailable()
    // push watermark far ahead so every window emits
    ms.addData((ts("2024-01-01 03:00:00"), 5L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("t1_out")
      .select(col("window.start").cast("string").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("2024-01-01 00:00:00") === 1L) // late 00:07 row NOT counted
    assert(out("2024-01-01 01:00:00") === 2L) // 01:00 + 01:05
  }

  test("T2: streaming tumbling agg equals the batch computation") {
    val rows = Seq(
      (ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:04:00"), 2L),
      (ts("2024-01-01 00:06:00"), 3L), (ts("2024-01-01 00:11:00"), 4L))
    val ms = TestSources.memory[(Timestamp, Long)]
    val agg = StreamOps.windowedAgg(ms.toDF.toDF("ts", "v"), "ts",
      "5 minutes", "5 minutes", Seq.empty, Seq(count(lit(1)).as("n"), sum($"v").as("s")))
    val q = agg.writeStream.format("memory").queryName("t2_out")
      .outputMode(OutputMode.Complete).start()
    ms.addData(rows.take(2): _*); q.processAllAvailable()
    ms.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t2_out")
      .select(col("window.start").cast("string"), $"n", $"s").collect().toSet
    val batch = StreamOps.windowedAgg(rows.toDF("ts", "v"), "ts",
      "5 minutes", "5 minutes", Seq.empty, Seq(count(lit(1)).as("n"), sum($"v").as("s")))
      .select(col("window.start").cast("string"), $"n", $"s").collect().toSet
    assert(streamed === batch)
  }

  test("T4: streaming session windows merge events within the gap") {
    val ms = TestSources.memory[(Long, Timestamp)]
    val agg = StreamOps.sessionAgg(
      StreamOps.withWatermark(ms.toDF.toDF("user", "ts"), "ts", "1 minute"),
      "ts", "10 minutes", Seq(col("user")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("t4_out")
      .outputMode(OutputMode.Complete).start()
    // user 1: two events 5 min apart (one session) + one 30 min later
    // (second session); user 2: single event
    ms.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:05:00")),
      (2L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    ms.addData((1L, ts("2024-01-01 00:40:00")))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("t4_out")
      .select(col("user"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(sessions === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("T5: dropDuplicates holds across micro-batches") {
    val ms = TestSources.memory[(Long, String)]
    val q = StreamOps.dedup(ms.toDF.toDF("k", "v"), Seq("k"))
      .writeStream.format("memory").queryName("t5_out")
      .outputMode(OutputMode.Append).start()
    ms.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
    q.processAllAvailable()
    ms.addData((1L, "a-dup-next-batch"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("t5_out").select("k").as[Long].collect().sorted
    assert(keys === Array(1L, 2L, 3L))
  }

  test("T5b: dropDuplicatesWithinWatermark bounds dedup state by event time") {
    val ms = TestSources.memory[(Long, Timestamp)]
    val df = StreamOps.withWatermark(ms.toDF.toDF("k", "ts"), "ts", "10 minutes")
    val q = StreamOps.dedupWithinWatermark(df, Seq("k"))
      .writeStream.format("memory").queryName("t5b_out")
      .outputMode(OutputMode.Append).start()
    ms.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:01:00")),
      (2L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    ms.addData((1L, ts("2024-01-01 00:02:00"))) // dup within watermark → dropped
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("t5b_out").select("k").as[Long].collect().sorted
    assert(keys === Array(1L, 2L))
  }

  test("T7: flatMapGroupsWithState running aggregate accumulates across batches") {
    val ms = TestSources.memory[(Long, Double)]
    val q = Stateful.runningPerKey(ms.toDS())
      .writeStream.format("memory").queryName("t7_out")
      .outputMode(OutputMode.Update).start()
    ms.addData((1L, 1.0), (1L, 2.0), (2L, 10.0)); q.processAllAvailable()
    ms.addData((1L, 3.0)); q.processAllAvailable()
    q.stop()
    // last update per key wins
    val last = spark.table("t7_out").groupBy($"key")
      .agg(max(struct($"n", $"total")).as("m"))
      .select($"key", $"m.n", $"m.total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(last === Set((1L, 3L, 6.0), (2L, 1L, 10.0)))
  }

  test("T7c: transformWithState running aggregate matches flatMapGroupsWithState across batches") {
    // the new API requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = TestSources.memory[(Long, Double)]
      val q = Stateful.runningPerKeyTws(ms.toDS())
        .writeStream.format("memory").queryName("t7c_out")
        .outputMode(OutputMode.Update).start()
      ms.addData((1L, 1.0), (1L, 2.0), (2L, 10.0)); q.processAllAvailable()
      ms.addData((1L, 3.0)); q.processAllAvailable()
      q.stop()
      val last = spark.table("t7c_out").groupBy($"key")
        .agg(max(struct($"n", $"total")).as("m"))
        .select($"key", $"m.n", $"m.total")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(last === Set((1L, 3L, 6.0), (2L, 1L, 10.0))) // same as T7
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T7d: transformWithState TTL actually evicts idle state (bounded-state claim)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = TestSources.memory[(Long, Double)]
      // explicit trigger interval: in ProcessingTime mode the engine
      // re-triggers continuously to evaluate timers/TTL; with the default
      // 0 ms trigger that is a busy-loop of empty micro-batches (each
      // paying a full RocksDB checkpoint), and the test never quiesces
      val q = Stateful.runningPerKeyTtl(ms.toDS(), ttlMillis = 30000)
        .writeStream.format("memory").queryName("t7d_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .outputMode(OutputMode.Update).start()
      try {
        // processAllAvailable is unusable here: in ProcessingTime mode the
        // engine re-runs batches for timer/TTL evaluation, so `noNewData`
        // is never signaled — poll the sink for the expected row instead
        def rows(): Set[(Long, Double)] = spark.table("t7d_out")
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
        def await(want: (Long, Double)): Unit = {
          val t0 = System.currentTimeMillis
          while (!rows().contains(want) && System.currentTimeMillis - t0 < 60000)
            Thread.sleep(100)
          assert(rows().contains(want), s"timed out waiting for $want in ${rows()}")
        }
        ms.addData((1L, 1.0)); await((1L, 1.0))
        ms.addData((1L, 2.0)); await((2L, 3.0)) // within TTL: accumulates
        Thread.sleep(40000) // let the TTL lapse (wide margin: co-tenant scheduling jitter)
        ms.addData((1L, 5.0))
        await((1L, 5.0)) // state evicted: n restarts at 1
        assert(!rows().contains((3L, 8.0)), s"state survived past its TTL: ${rows()}")
      } finally q.stop()
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T7b: firstSeenOnly suppresses keys already seen in earlier batches") {
    val ms = TestSources.memory[(Long, String)]
    val q = Stateful.firstSeenOnly(ms.toDS())
      .writeStream.format("memory").queryName("t7b_out")
      .outputMode(OutputMode.Update).start()
    ms.addData((1L, "first"), (2L, "first")); q.processAllAvailable()
    ms.addData((1L, "AGAIN"), (3L, "first")); q.processAllAvailable()
    q.stop()
    val out = spark.table("t7b_out").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "first"), (2L, "first"), (3L, "first")))
  }

  test("S15: rate source is a streaming frame with the documented schema") {
    val df = TestSources.rate(spark, rowsPerSecond = 5)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq === Seq("timestamp", "value"))
  }

  test("T8/T9: cdcSink applies upserts+tombstones; replayed batch is a no-op") {
    val ms = TestSources.memory[(Long, String, Long, Boolean)]
    val df = ms.toDF.toDF("id", "v", "seq", "tomb")
    val dir = tmpDir("cdc")
    val q = df.writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamOps.applyBatch(b, id, s"$dir/state", Seq("id"), Seq($"seq"), $"tomb"): Unit
      }.start()
    ms.addData((1L, "a", 1L, false), (2L, "b", 1L, false)); q.processAllAvailable()
    ms.addData((1L, "a2", 2L, false), (2L, null, 2L, true), (3L, "c", 2L, false))
    q.processAllAvailable()
    q.stop()
    val state = StreamOps.readState(spark, s"$dir/state", df.schema)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(state === Set((1L, "a2"), (3L, "c")))
    // replay an already-applied batchId with stale data → skipped
    val stale = Seq((1L, "STALE", 1L, false)).toDF("id", "v", "seq", "tomb")
    assert(!StreamOps.applyBatch(stale, 1L, s"$dir/state", Seq("id"), Seq($"seq"), $"tomb"))
    val after = StreamOps.readState(spark, s"$dir/state", df.schema)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(after === state)
    // snapshot GC: only the current and previous batch dirs survive
    val dirs = new java.io.File(s"$dir/state").listFiles
      .map(_.getName).filter(_.startsWith("batch-")).sorted
    assert(dirs.length <= 2, s"superseded snapshots not GC'd: ${dirs.mkString(",")}")
    // pointer always exists after a flip (no delete-then-rename window)
    assert(new java.io.File(s"$dir/state/_LATEST").exists)
  }

  test("T8+S12: CDC state schema evolves when a batch carries new fields") {
    val dir = tmpDir("cdcevo")
    import org.apache.spark.sql.functions.col
    val b1 = Seq((1L, "a", 1L, false)).toDF("id", "v", "seq", "tomb")
    assert(StreamOps.applyBatch(b1, 0L, s"$dir/state", Seq("id"), Seq(col("seq")), col("tomb")))
    // batch 1 carries a NEW column `score` → state widens, old row reads NULL
    val b2 = Seq((2L, "b", 2L, false, 9.5)).toDF("id", "v", "seq", "tomb", "score")
    assert(StreamOps.applyBatch(b2, 1L, s"$dir/state", Seq("id"), Seq(col("seq")), col("tomb")))
    val state = StreamOps.readState(spark, s"$dir/state", b2.schema)
    assert(state.columns.toSeq === Seq("id", "v", "seq", "tomb", "score"))
    val byId = state.select("id", "score").as[(Long, Option[Double])].collect().toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5))
  }

  test("J9: stream-static join enriches each micro-batch") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier")
    val ms = TestSources.memory[(Long, Double)]
    val q = Joins.streamStaticJoin(ms.toDF.toDF("k", "v"), dim, Seq("k"))
      .writeStream.format("memory").queryName("j9_out")
      .outputMode(OutputMode.Append).start()
    ms.addData((1L, 5.0), (2L, 6.0), (99L, 7.0)); q.processAllAvailable()
    q.stop()
    val out = spark.table("j9_out").select("k", "tier")
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "gold"), (2L, "silver"))) // inner join drops 99
  }

  test("J10: stream-stream join matches only within the event-time bound") {
    val clicks = TestSources.memory[(Long, Timestamp)]
    val buys = TestSources.memory[(Long, Timestamp)]
    val joined = Joins.streamStreamJoin(
      clicks.toDF.toDF("k", "click_ts"), buys.toDF.toDF("k", "buy_ts"),
      "k", "click_ts", "buy_ts", "10 minutes", "0 minutes", "30 minutes")
    val q = joined.select($"k", $"click_ts", $"buy_ts") // single unambiguous key out
      .writeStream.format("memory").queryName("j10_out")
      .outputMode(OutputMode.Append).start()
    clicks.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
    buys.addData((1L, ts("2024-01-01 00:10:00")), // within 30 min → match
      (2L, ts("2024-01-01 02:00:00")))            // outside bound → no match
    q.processAllAvailable()
    q.stop()
    val out = spark.table("j10_out").select("k").as[Long].collect().toSet
    assert(out === Set(1L))
  }

  test("T8: a NULL tombstone predicate counts as an upsert, not a dropped change") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("cdcnull")
    val b1 = Seq((1L, "old", 1L, "keep")).toDF("id", "v", "seq", "kind")
    StreamOps.applyBatch(b1, 0L, s"$dir/state", Seq("id"), Seq(col("seq")),
      col("kind") === "del")
    // latest change for key 1 has kind=NULL → must still upsert
    val b2 = Seq((1L, "new", 2L, null.asInstanceOf[String])).toDF("id", "v", "seq", "kind")
    StreamOps.applyBatch(b2, 1L, s"$dir/state", Seq("id"), Seq(col("seq")),
      col("kind") === "del")
    val v = StreamOps.readState(spark, s"$dir/state", b1.schema)
      .select("v").as[String].collect()
    assert(v.toSeq === Seq("new"))
  }

  test("T10: reconcile ignores unnamed ad-hoc queries instead of NPE/pruning them") {
    val adhoc = TestSources.memory[Long]
    adhoc.addData(1L)
    // no .queryName(...) → StreamingQuery.name returns null
    val unnamed = adhoc.toDF.writeStream.format("console").outputMode(OutputMode.Append).start()
    try {
      val (started, stopped) = Reconcile(spark, Map.empty)
      assert(started.isEmpty && stopped.isEmpty) // unnamed stream untouched
      assert(unnamed.isActive)
    } finally unnamed.stop()
  }

  test("T10: reconcile starts missing queries, stops unmanaged, stop() returns true") {
    val msA = TestSources.memory[Long]
    val msB = TestSources.memory[Long]
    msA.addData(1L); msB.addData(1L)
    def writer(ms: MemoryStream[Long], name: String) =
      ms.toDF.writeStream.format("memory").queryName(name).outputMode(OutputMode.Append)
    val (started1, stopped1) = Reconcile(spark,
      Map("recA" -> writer(msA, "recA"), "recB" -> writer(msB, "recB")))
    assert(started1 === Seq("recA", "recB") && stopped1.isEmpty)
    assert(Reconcile.list(spark).count(Set("recA", "recB")) === 2)
    // shrink desired set → recB pruned, like deleting an unmanaged connector
    val (started2, stopped2) = Reconcile(spark, Map("recA" ->
      writer(msA, "recA")))
    assert(started2.isEmpty && stopped2 === Seq("recB"))
    // regression: stop() must report success, not be eaten by the catch
    assert(Reconcile.stop(spark, "recA"))
    assert(!Reconcile.list(spark).contains("recA"))
  }

  test("T10: two drivers reconcile disjoint partitions of one desired set independently (multi-worker contract)") {
    // the MULTI-WORKER SCOPE note in Reconcile's scaladoc, pinned: a
    // StreamingQueryManager is per-SparkSession, so two "drivers"
    // (sessions here) each own THEIR partition of the desired map — the
    // analogue of Connect task assignment across workers — and one
    // session's reconcile can neither list nor prune the other's
    // queries. The reference's ?forward=true leader forwarding
    // (main.sh:155-159) exists because any Connect worker may receive
    // any PUT; the Spark-native contract is the opposite: routing is
    // static (each driver gets a disjoint name partition), so no
    // forwarding layer is needed and an empty desired set on one driver
    // must NOT tear down the other's half of the world.
    val sessionB = spark.newSession()
    val msA = TestSources.memory[Long]
    val msB = TestSources.memory[Long](implicitly, sessionB.sqlContext)
    msA.addData(1L); msB.addData(1L)
    val wA = msA.toDF.writeStream.format("memory").queryName("part0")
      .outputMode(OutputMode.Append)
    val wB = msB.toDF.writeStream.format("memory").queryName("part1")
      .outputMode(OutputMode.Append)
    try {
      val (sA, _) = Reconcile(spark, Map("part0" -> wA))
      val (sB, _) = Reconcile(sessionB, Map("part1" -> wB))
      assert(sA === Seq("part0") && sB === Seq("part1"))
      // each manager sees exactly its own partition
      assert(Reconcile.list(spark) === Seq("part0"))
      assert(Reconcile.list(sessionB) === Seq("part1"))
      // isolation: driver B reconciling to EMPTY prunes only its own
      // query — driver A's stays up even though B's desired set does
      // not contain "part0"
      val (started, stopped) = Reconcile(sessionB, Map.empty)
      assert(started.isEmpty && stopped === Seq("part1"))
      assert(Reconcile.list(spark) === Seq("part0"))
    } finally {
      Reconcile(spark, Map.empty); Reconcile(sessionB, Map.empty)
    }
  }

  test("T10: lease-elected leader — one shared desired set, follower mutates nothing, expiry fails over") {
    // the DYNAMIC half of main.sh:155-159's ?forward=true story: two
    // drivers point at the SAME desired set; the filesystem lease
    // (create-exclusive epoch files) elects who reconciles it. The
    // fake clock drives expiry deterministically.
    import org.apache.hadoop.fs.Path
    val sessionB = spark.newSession()
    val dir = new Path(tmpDir("leasedir"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val msA = TestSources.memory[Long]
    val msB = TestSources.memory[Long](implicitly, sessionB.sqlContext)
    msA.addData(1L); msB.addData(1L)
    val desiredA = Map("shared" -> msA.toDF.writeStream.format("memory")
      .queryName("shared").outputMode(OutputMode.Append))
    val desiredB = Map("shared" -> msB.toDF.writeStream.format("memory")
      .queryName("shared").outputMode(OutputMode.Append))
    try {
      // t=0: A wins epoch 1 and reconciles; B is refused and mutates NOTHING
      val rA = ReconcileLease.reconcileIfLeader(spark, dir, "driverA",
        desiredA, ttlMs = 1000, nowMs = 0)
      assert(rA.map { case (l, s, t) => (l.owner, l.epoch, s, t) } ===
        Some(("driverA", 1L, Seq("shared"), Seq.empty)))
      // the fencing pattern the scaladoc prescribes: after side effects,
      // the held epoch still being current proves no takeover happened
      // mid-mutation
      assert(ReconcileLease.current(hconf, dir).exists(_.epoch == rA.get._1.epoch))
      val rB = ReconcileLease.reconcileIfLeader(sessionB, dir, "driverB",
        desiredB, ttlMs = 1000, nowMs = 100)
      assert(rB.isEmpty, "follower ran a reconcile under a live foreign lease")
      assert(Reconcile.list(sessionB).isEmpty, "follower started queries")
      // t=500: A renews — epoch bumps, ownership continuous
      val renewed = ReconcileLease.tryAcquire(hconf, dir, "driverA", 1000, 500).get
      assert(renewed.owner === "driverA" && renewed.epoch === 2 &&
        renewed.expiresAtMs === 1500)
      // t=1200: B still fenced (A renewed to 1500)
      assert(ReconcileLease.tryAcquire(hconf, dir, "driverB", 1000, 1200).isEmpty)
      // t=1600: A is dead (no renewal past 1500) — B steals and takes over
      val rB2 = ReconcileLease.reconcileIfLeader(sessionB, dir, "driverB",
        desiredB, ttlMs = 1000, nowMs = 1600)
      assert(rB2.map { case (l, s, t) => (l.owner, s, t) } ===
        Some(("driverB", Seq("shared"), Seq.empty)))
      assert(Reconcile.list(sessionB) === Seq("shared"))
      // an ex-leader's post-effect fence check now FAILS — its held
      // epoch (2) is no longer current, so it must compensate
      assert(!ReconcileLease.current(hconf, dir).exists(_.epoch == 2L),
        "stale fencing token must not verify after a takeover")
      // the ex-leader's next tick loses: live foreign lease, no mutation
      assert(ReconcileLease.reconcileIfLeader(spark, dir, "driverA",
        desiredA, ttlMs = 1000, nowMs = 1700).isEmpty)
      val cur = ReconcileLease.current(hconf, dir).get
      assert(cur.owner === "driverB" && cur.epoch === 3,
        s"fencing token must be monotone across the takeover: $cur")
      // explicit release frees the lease immediately — no ttl wait —
      // and epochs stay monotone (a zombie's stale token can never
      // outrank the next real leader)
      ReconcileLease.release(hconf, dir, "driverB")
      val released = ReconcileLease.current(hconf, dir).get
      assert(released.epoch === 4 && !released.liveAt(1700))
      val back = ReconcileLease.tryAcquire(hconf, dir, "driverA", 1000, 1800).get
      assert(back.owner === "driverA" && back.epoch === 5,
        s"monotone epochs across release+reacquire: $back")
      // owner ids serialize space-separated — whitespace would write a
      // lease every reader skips as unparseable (invisible live lease →
      // split-brain), so it is rejected at the door
      intercept[IllegalArgumentException] {
        ReconcileLease.tryAcquire(hconf, dir, "driver A", 1000, 1900)
      }
      intercept[IllegalArgumentException] {
        ReconcileLease.release(hconf, dir, "")
      }
    } finally {
      Reconcile(spark, Map.empty); Reconcile(sessionB, Map.empty)
    }
  }

  test("T10: reconcile under churn — desired set flips while data flows, no row dropped or duplicated") {
    // the main.sh:146-196 semantics UNDER LOAD: a managed query is pruned
    // while records are in flight, data keeps arriving while nothing
    // runs, then the same connector is re-desired (same checkpoint).
    // Exactly-once across the whole transition: every id lands exactly
    // once in the batchId-keyed idempotent sink — the stop may abandon an
    // uncommitted batch (replayed on restart under the SAME batchId, so
    // the keyed write converges) and the offline window's rows replay
    // from the committed offset instead of being dropped.
    val ms = TestSources.memory[Long]
    val ckpt = tmpDir("churnckpt")
    val sink = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
    def writer = ms.toDF.toDF("id").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        sink.put(batchId, batch.collect().map(_.getLong(0))): Unit
      }
    def managed = spark.streams.active.find(_.name == "churn")
    // phase 1: desired = {churn} → started; first wave flows through
    ms.addData(0L until 100L: _*)
    val (s1, p1) = Reconcile(spark, Map("churn" -> writer))
    assert(s1 === Seq("churn") && p1.isEmpty)
    managed.get.processAllAvailable()
    assert(sink.values.asScala.flatten.toSet === (0L until 100L).toSet)
    // phase 2: second wave lands, then the connector is pruned mid-flow
    // (no processAllAvailable — the stop races the in-flight batch)
    ms.addData(100L until 150L: _*)
    val (s2, p2) = Reconcile(spark, Map.empty)
    assert(s2.isEmpty && p2 === Seq("churn"))
    assert(managed.isEmpty)
    // phase 3: data arrives while NOTHING is running
    ms.addData(150L until 200L: _*)
    // phase 4: re-desire the same connector, same checkpoint → resumes
    // from the committed offset, replays anything uncommitted
    val (s3, p3) = Reconcile(spark, Map("churn" -> writer))
    assert(s3 === Seq("churn") && p3.isEmpty)
    managed.get.processAllAvailable()
    assert(Reconcile.stop(spark, "churn"))
    val perBatch = sink.values.asScala.map(_.length.toLong).sum
    val distinct = sink.values.asScala.flatten.toSet
    assert(distinct === (0L until 200L).toSet,
      s"dropped rows across the churn: ${(0L until 200L).toSet.diff(distinct)}")
    assert(perBatch === 200L,
      s"duplicated rows across the churn: $perBatch batch rows for 200 distinct ids")
  }

  test("L5 streaming: text-quality signals over a stream equal the batch result") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "der hund und die katze sind nicht da"),
      (3L, ""), (4L, "x"))
    val ms = TestSources.memory[(Long, String)]
    val streamed = TF.withLangId(
      TF.withQuality(ms.toDF.toDF("id", "text"), "text"), "text")
      .select($"id", $"quality", $"fp", $"pred_lang")
    val q = streamed.writeStream.format("memory").queryName("l5_stream_out")
      .outputMode(OutputMode.Append).start()
    ms.addData(docs.take(2): _*); q.processAllAvailable()
    ms.addData(docs.drop(2): _*); q.processAllAvailable()
    q.stop()
    val stream = spark.table("l5_stream_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSet
    val batch = TF.withLangId(
      TF.withQuality(docs.toDF("id", "text"), "text"), "text")
      .select($"id", $"quality", $"fp", $"pred_lang").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSet
    assert(stream === batch && stream.size === 4)
    assert(stream.exists(_._4 == "en") && stream.exists(_._4 == "de"))
  }

  test("S13: file sink lands streaming rows as parquet files") {
    val ms = TestSources.memory[(Long, String)]
    val dir = tmpDir("fsink")
    ms.addData((1L, "x"), (2L, "y"))
    val q = FileSink.writer(ms.toDF.toDF("id", "s"), "parquet",
      s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.parquet(s"$dir/out").as[(Long, String)].collect().toSet
    assert(back === Set((1L, "x"), (2L, "y")))
  }

  test("S2 resumable: polls over a growing table are disjoint and exhaustive across a restart") {
    import graft.sources.IncrementalSource
    val dir = tmpDir("incsrc")
    val data = s"$dir/table"
    val state = s"$dir/offsets"
    (1L to 10L).map(i => (i, s"row$i")).toDF("id", "s").write.mode("append").parquet(data)
    // poll 1: everything; rows re-read until committed (at-least-once)
    val p1 = IncrementalSource.pollIncrementing(spark.read.parquet(data), "id", state)
    assert(p1.batch.count() === 10L)
    val p1again = IncrementalSource.pollIncrementing(spark.read.parquet(data), "id", state)
    assert(p1again.batch.count() === 10L) // uncommitted → same rows again
    p1.commit()
    // table grows; "restart": nothing carried over but the state dir
    (11L to 15L).map(i => (i, s"row$i")).toDF("id", "s").write.mode("append").parquet(data)
    val p2 = IncrementalSource.pollIncrementing(spark.read.parquet(data), "id", state)
    val got2 = p2.batch.select($"id").as[Long].collect().toSet
    assert(got2 === (11L to 15L).toSet) // disjoint from poll 1, exhaustive
    p2.commit()
    // empty poll: no new rows, commit is a no-op, offset survives
    val p3 = IncrementalSource.pollIncrementing(spark.read.parquet(data), "id", state)
    assert(p3.batch.isEmpty); p3.commit()
    assert(IncrementalSource.readOffset(spark, state) === Some((0L, 15L)))
  }

  test("S2 bounded polls: a backlog drains across N polls, exactly-once across a mid-drain restart") {
    import graft.sources.{ConnectorConfig, IncrementalSource}
    val dir = tmpDir("incbounded")
    val data = s"$dir/table"
    val state = s"$dir/offsets"
    // a 23-row backlog against maxRowsPerPoll=10: 10 + 10 + 3
    (1L to 23L).map(i => (i, s"row$i")).toDF("id", "s").write.mode("append").parquet(data)
    def poll() = IncrementalSource.pollIncrementing(
      spark.read.parquet(data), "id", state, maxRowsPerPoll = 10)
    val p1 = poll()
    assert(p1.batch.select($"id").as[Long].collect().toSet === (1L to 10L).toSet)
    p1.commit()
    // mid-drain "restart": an UNCOMMITTED poll is re-read in full (the
    // at-least-once contract), never skipped past
    val lost = poll()
    assert(lost.batch.select($"id").as[Long].collect().toSet === (11L to 20L).toSet)
    // lost.commit() never runs — crash here
    val p2 = poll() // fresh process, same state dir
    assert(p2.batch.select($"id").as[Long].collect().toSet === (11L to 20L).toSet,
      "uncommitted bounded poll must be re-delivered after a restart")
    p2.commit()
    val p3 = poll() // remainder is smaller than the bound
    assert(p3.batch.select($"id").as[Long].collect().toSet === (21L to 23L).toSet)
    p3.commit()
    val p4 = poll()
    assert(p4.batch.isEmpty) // drained; offset at the true high-water mark
    assert(IncrementalSource.readOffset(spark, state) === Some((0L, 23L)))
    // the Connect config key dispatches the bound (and rejects nonsense)
    val dir2 = tmpDir("incbounded2")
    val cfg = ConnectorConfig.Config("b-src", Map("mode" -> "incrementing",
      "table" -> "events", "incrementing.column.name" -> "event_id",
      "batch.max.rows" -> "7"))
    val c1 = ConnectorConfig.pollSource(spark, sf0001, cfg, s"$dir2/state")
    assert(c1.batch.count() === 7L)
    intercept[IllegalArgumentException] {
      ConnectorConfig.pollSource(spark, sf0001, ConnectorConfig.Config("bad",
        cfg.settings + ("batch.max.rows" -> "0")), s"$dir2/state")
    }
  }

  test("S3 bounded polls: the (ts, id) pin honors the bound on the lexicographic order") {
    import graft.sources.IncrementalSource
    val dir = tmpDir("tsbounded")
    val data = s"$dir/table"
    val state = s"$dir/offsets"
    val t1 = ts("2024-01-01 00:00:01"); val t2 = ts("2024-01-01 00:00:02")
    // 4 rows at t1 (ids 1-4), 2 at t2 (ids 5-6): bound 3 must split the
    // equal-timestamp run on the id tie-break, not skip or re-read
    Seq((t1, 1L), (t1, 2L), (t1, 3L), (t1, 4L), (t2, 5L), (t2, 6L))
      .toDF("ts", "id").write.mode("append").parquet(data)
    def poll() = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state, maxRowsPerPoll = 3)
    val p1 = poll()
    assert(p1.batch.select($"id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    p1.commit()
    val p2 = poll()
    assert(p2.batch.select($"id").as[Long].collect().toSet === Set(4L, 5L, 6L))
    p2.commit()
    assert(poll().batch.isEmpty)
  }

  test("S3 resumable: timestamp+incrementing resumes mid-timestamp on the id tie-break") {
    import graft.sources.IncrementalSource
    val dir = tmpDir("tssrc")
    val data = s"$dir/table"
    val state = s"$dir/offsets"
    val t1 = ts("2024-01-01 00:00:01"); val t2 = ts("2024-01-01 00:00:02")
    Seq((t1, 1L), (t1, 2L), (t2, 3L)).toDF("ts", "id")
      .write.mode("append").parquet(data)
    val p1 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p1.batch.count() === 3L); p1.commit()
    // new rows: same timestamp t2 with higher id (tie-break must include
    // it), plus a later timestamp
    Seq((t2, 4L), (ts("2024-01-01 00:00:03"), 5L)).toDF("ts", "id")
      .write.mode("append").parquet(data)
    val p2 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p2.batch.select($"id").as[Long].collect().toSet === Set(4L, 5L))
    p2.commit()
    val p3 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p3.batch.isEmpty)
  }

  test("S3: NULL-keyed rows are excluded explicitly, never an NPE") {
    import graft.sources.IncrementalSource
    val dir = tmpDir("tsnull")
    val data = s"$dir/table"
    val state = s"$dir/offsets"
    // initial poll over a table whose rows ALL have NULL ts: max(struct)
    // would return struct(null, id) (struct ordering keeps it non-null)
    // and the pin dereference would NPE without the key filter
    Seq((None: Option[java.sql.Timestamp], 1L), (None, 2L))
      .toDF("ts", "id").write.mode("append").parquet(data)
    val p0 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p0.batch.isEmpty); p0.commit() // no offset written
    assert(IncrementalSource.readOffset(spark, state) === None)
    // mixed: NULL-keyed rows skipped (Connect parity: mode columns are
    // non-nullable there), keyed rows delivered and committed
    val t = ts("2024-01-01 00:00:01")
    Seq((Some(t), 3L), (None, 4L)).toDF("ts", "id")
      .write.mode("append").parquet(data)
    val p1 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p1.batch.select($"id").as[Long].collect().toSet === Set(3L))
    p1.commit()
    val p2 = IncrementalSource.pollTimestampIncrementing(
      spark.read.parquet(data), "ts", "id", state)
    assert(p2.batch.isEmpty)
  }

  test("L4g streaming leg: ivfAppendSink lands micro-batches in the index delta, probe-visible, compactable") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 400)
    val table = "t_ivf_stream"
    Similarity.dropIvfIndex(spark, table)
    Similarity.writeIvfIndex(spark, base, table, nLists = 8, lloydIters = 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val deltaP = new org.apache.hadoop.fs.Path(
      graft.operators.Layout.deltaDirOf(spark, table))
    // two micro-batches of arriving vectors, the second with planted
    // copies of the probes
    val b0 = emb.where($"vec_id" >= 400 && $"vec_id" < 430)
      .as[(Long, Seq[Float])].collect()
    val queries = emb.where($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val planted = queries.select(($"q_id" + 900000).as("vec_id"), $"q_vec".as("embedding"))
      .as[(Long, Seq[Float])].collect()
    val ms = TestSources.memory[(Long, Seq[Float])]
    val q = ms.toDF.toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", tmpDir("ivfsinkckpt"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        Similarity.appendToIvfDelta(spark, b, table, id): Unit
      }.start()
    try {
      ms.addData(b0.toSeq)
      q.processAllAvailable()
      ms.addData(planted.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    try {
      // both batches landed as their own delta subdirectories
      val batches = fs.listStatus(deltaP).map(_.getPath.getName).sorted
      assert(batches === Array("batch-0", "batch-1"))
      assert(spark.read.option("recursiveFileLookup", "true")
        .parquet(deltaP.toString).count() === b0.length + planted.length)
      // main untouched; probes see the streamed vectors through the union
      assert(spark.table(table).count() === base.count())
      val top = Similarity.ivfTopKIndexed(spark, queries, table, k = 5, nProbe = 8)
        .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
      (0L until 3L).foreach { qid =>
        assert(top.contains((qid, qid + 900000)),
          s"streamed planted copy of query $qid not probe-visible")
      }
      // compaction folds both batches into the bucketed main
      Similarity.compactIvfDelta(spark, table)
      assert(!fs.exists(deltaP))
      assert(spark.table(table).count() === base.count() + b0.length + planted.length)
    } finally {
      fs.delete(deltaP, true)
      Similarity.dropIvfIndex(spark, table)
    }
  }

  test("L23 streaming intake: clean/score/dedup loop is exactly-once across a real mid-stream restart + compaction") {
    import graft.operators.{Dedup, Layout}
    import org.apache.hadoop.fs.Path
    def doc(n: Int): String = (0 until 40).map(w => s"tok${n}word$w").mkString(" ")
    def html(t: String): String =
      s"""<div class="d"><p>$t</p></div><script>var x = "<b>";</script>"""
    val hist = "t_intake_hist"
    dropTextHistory(hist)
    val srcDir = tmpDir("intake_src")
    val out = tmpDir("intake_out"); val ckpt = tmpDir("intake_ckpt")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(hconf)
    // file source, one file per micro-batch: unlike MemoryStream (which
    // drops committed batches from its buffer), files survive a restart,
    // so deleting the checkpoint's commit record forces an AUTHENTIC
    // replay of the uncommitted batch through the recovery path
    var nextFile = 0
    def addBatch(rows: (Long, String)*): Unit = {
      def jstr(s: String) =
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val w = new java.io.PrintWriter(s"$srcDir/f$nextFile.json", "UTF-8")
      try rows.foreach { case (id, h) =>
        w.println(s"""{"doc_id":$id,"html":${jstr(h)}}""")
      } finally w.close()
      nextFile += 1
    }
    def sink() = spark.readStream
      .schema("doc_id LONG, html STRING")
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamOps.mixedIntakeBatch(b, id, hist, 4, "html", "payload",
          "doc_id", out): Unit
      }
    def batchIds(b: Int) = spark.read.parquet(s"$out/batch-$b")
      .select($"doc_id").as[Long].collect().sorted
    // batch 0: doc 1; near-dup of 1; doc 3; exact dup of 3; low-quality
    addBatch((1L, html(doc(1))), (2L, html(doc(1) + " zz")),
      (3L, html(doc(3))), (4L, html(doc(3))), (9L, html("tiny low quality")))
    // batch 1: 5 fresh; 6 exact-dups HISTORY doc 1; 7 near-dups HISTORY doc 3
    addBatch((5L, html(doc(5))), (6L, html(doc(1))), (7L, html(doc(3) + " yy")))
    val q = sink().start()
    try {
      try q.processAllAvailable() finally q.stop()
      assert(batchIds(0) === Array(1L, 3L))
      assert(batchIds(1) === Array(5L))
      // survivors carry the CLEANED text (markup gone) + quality score
      val b0 = spark.read.parquet(s"$out/batch-0")
      assert(b0.columns.sorted === Array("doc_id", "quality", "text"),
        s"survivor schema: ${b0.columns.mkString(",")}")
      assert(b0.where($"doc_id" === 1).select($"text").as[String].head() === doc(1),
        "markup survived the clean stage")
      assert(b0.where($"doc_id" === 1).select($"quality").as[Double].head() >= 0.75)
      // ---- the mid-stream crash: Spark logged offsets for batch 1 but
      // the epoch's commit is LOST, and the sink died BEFORE its pointer
      // flip — then an operator ran compaction before the restart (the
      // replay-after-fold window the manifest exists for)
      assert(fs.delete(new Path(ckpt, "commits/1"), false),
        "test setup: commit record for batch 1 not found")
      graft.sources.AtomicPointer.write(hconf,
        new Path(out, "_LATEST.tmp-crash"), new Path(out, "_LATEST"), "0")
      Dedup.IntakeHistory.fold(spark, hist)
      assert(spark.table(hist).select($"doc_id").distinct().count() === 3)
      // restart from the same checkpoint: batch 1 REPLAYS through
      // recovery, then the stream continues with batch 2
      addBatch((8L, html(doc(8))), (10L, html(doc(5) + " qq")))
      val q2 = sink().start()
      try q2.processAllAvailable() finally q2.stop()
      // replayed batch 1: identical survivors (not emptied — same-id
      // probes excluded its own folded copies), appends skipped by the
      // fold manifest (not duplicated)
      assert(batchIds(1) === Array(5L), "replayed batch changed its survivor set")
      // batch 2 after the restart: 10 near-dups doc 5 (now folded into
      // the MAIN tables), 8 fresh
      assert(batchIds(2) === Array(8L))
      // fold everything and check the accumulated history is exact:
      // each survivor once — 4 band rows, 1 shingle row, 1 hash row per
      // id, no duplicates from the replay
      Dedup.IntakeHistory.fold(spark, hist)
      assert(spark.table(hist).select($"doc_id").distinct().as[Long]
        .collect().sorted === Array(1L, 3L, 5L, 8L))
      assert(spark.table(hist).groupBy($"doc_id").count()
        .select($"count").distinct().as[Long].collect().toSeq === Seq(4L),
        "band rows duplicated across the replay")
      assert(spark.table(s"${hist}_sh").groupBy($"doc_id").count()
        .select($"count").distinct().as[Long].collect().toSeq === Seq(1L))
      assert(spark.table(s"${hist}_xh").groupBy($"__xid").count()
        .select($"count").distinct().as[Long].collect().toSeq === Seq(1L),
        "hash rows duplicated across the replay")
      // and the loop still dedups correctly driven directly (batch 3:
      // exact dup of folded 8, near-dup of folded 8, one fresh)
      assert(StreamOps.mixedIntakeBatch(
        Seq((11L, html(doc(8))), (12L, html(doc(8) + " rr")),
          (13L, html(doc(13)))).toDF("doc_id", "html"),
        3L, hist, 4, "html", "payload", "doc_id", out))
      assert(batchIds(3) === Array(13L))
    } finally dropTextHistory(hist)
  }

  test("L2i streaming leg: delta-mode near-dedup ingest is exactly-once on every leg") {
    import graft.operators.{Dedup, Layout}
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    val hist = "t_stream_delta_hist"
    Dedup.BandHistory.drop(spark, hist)
    val out = tmpDir("neardelta_out"); val ckpt = tmpDir("neardelta_ckpt")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val ms = TestSources.memory[(Long, String)]
    val q = ms.toDF.toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamOps.nearDedupBatch(b, id, hist, 4, "text", "doc_id", out): Unit
      }.start()
    try {
      try {
        // batch 0: doc 1, a near-dup of it, fresh doc 3
        ms.addData((1L, doc(1)), (2L, doc(1) + " zz"), (3L, doc(3)))
        q.processAllAvailable()
        // batch 1: doc 4 near-dups DELTA-held doc 1; 5 fresh; 6 exact-dups 5
        ms.addData((4L, doc(1) + " yy"), (5L, doc(5)), (6L, doc(5)))
        q.processAllAvailable()
      } finally q.stop()
      def batchIds(b: Int) = spark.read.parquet(s"$out/batch-$b")
        .select($"doc_id").as[Long].collect().sorted
      assert(batchIds(0) === Array(1L, 3L))
      assert(batchIds(1) === Array(5L)) // doc 4 was caught against the DELTA
      // main tables stayed EMPTY — every append lives in the delta dirs
      assert(spark.table(hist).count() === 0)
      assert(spark.table(s"${hist}_sh").count() === 0)
      def deltaIds() = spark.read.option("recursiveFileLookup", "true")
        .parquet(Layout.deltaDirOf(spark, hist))
        .select($"doc_id").distinct().as[Long].collect().sorted
      assert(deltaIds() === Array(1L, 3L, 5L))
      // the band table has one row per (id, band), so "once" = exactly
      // 4 band rows per id (a double-append would show 8)
      def bandRows() = spark.read.option("recursiveFileLookup", "true")
        .parquet(Layout.deltaDirOf(spark, hist))
        .groupBy($"doc_id").count()
        .select($"count").distinct().as[Long].collect().toSeq
      // FULL replay of the last batch (its id is in the pointer): no-op —
      // no append, output untouched
      val replay = Seq((4L, doc(1) + " yy"), (5L, doc(5)), (6L, doc(5)))
        .toDF("doc_id", "text")
      assert(!StreamOps.nearDedupBatch(replay, 1L, hist, 4, "text", "doc_id", out))
      assert(batchIds(1) === Array(5L))
      assert(deltaIds() === Array(1L, 3L, 5L))
      assert(bandRows() === Seq(4L))
      // CRASH WINDOW: history (delta) written, pointer flip lost. The
      // replay probes its own crashed delta copy (same-id pairs
      // excluded), recomputes identical survivors, and OVERWRITES its own
      // delta subdirectory — band-row count stays exactly one append's worth
      val hconf = spark.sparkContext.hadoopConfiguration
      graft.sources.AtomicPointer.write(hconf,
        new org.apache.hadoop.fs.Path(out, "_LATEST.tmp-crash"),
        new org.apache.hadoop.fs.Path(out, "_LATEST"), "0")
      assert(StreamOps.nearDedupBatch(replay, 1L, hist, 4, "text", "doc_id", out))
      assert(batchIds(1) === Array(5L)) // identical, not emptied
      assert(deltaIds() === Array(1L, 3L, 5L))
      assert(bandRows() === Seq(4L), s"replay double-appended: ${bandRows()}")
      // compaction folds the delta into the mains; the loop continues
      // correctly against the folded history
      Dedup.BandHistory.fold(spark, hist)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, hist))))
      assert(spark.table(hist).select($"doc_id").distinct().count() === 3)
      val next = Seq((7L, doc(5) + " qq"), (8L, doc(8))).toDF("doc_id", "text")
      assert(StreamOps.nearDedupBatch(next, 2L, hist, 4, "text", "doc_id", out))
      assert(batchIds(2) === Array(8L)) // doc 7 caught against the FOLDED main
    } finally Dedup.BandHistory.drop(spark, hist)
  }

  test("L23 url leg: a body-less row does not shadow its URL twin — NULL-html rows never reach the URL dedup leg") {
    def doc(n: Int): String = (0 until 40).map(w => s"tok${n}word$w").mkString(" ")
    val hist = "t_url_nullhtml_hist"
    val outDir = tmpDir("url_nullhtml_out")
    dropTextHistory(hist)
    try {
      // the lower id has no body: were it in the URL leg, it would win
      // canonical-URL keep-first and then die at the quality gate,
      // taking the real page with it
      val batch = Seq((1L, "https://example.com/a", null: String),
          (2L, "https://example.com/a", s"<p>${doc(2)}</p>"))
        .toDF("doc_id", "url", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload",
        "doc_id", outDir, urlDedupCol = Some("url")))
      assert(spark.read.parquet(s"$outDir/batch-0").select($"doc_id")
        .as[Long].collect().toSeq === Seq(2L))
    } finally dropTextHistory(hist)
  }

  test("L23 optional legs: boilerplate extraction + LM gate inside the intake loop — nav text never reaches the corpus, gibberish dies on the LM") {
    import graft.operators.{Dedup, NgramLm}
    val hist = "t_legs_hist"
    val outDir = tmpDir("legs_out")
    dropTextHistory(hist)
    try {
      val good = Seq.fill(8)("the table scans rows fast and the query joins the table").mkString(" ")
      val gib = Seq.fill(25)("qjz xvk wqq zzj pqx").mkString(" ")
      def page(t: String) =
        s"""<ul><li><a href="/">Home</a></li><li><a href="/x">About us</a></li></ul><p>$t</p><div><a href="/t">Terms of Service</a> <a href="/p">Privacy Policy</a> (c) site</div>"""
      val lm = NgramLm.trainCharBigram(
        Seq.fill(40)(good).toDF("text"), "text")
      // doc 3 reuses the training vocabulary in a different word order:
      // LM-clean (all bigrams seen) but shingle-distinct (the within-
      // batch near-dedup must NOT fire — a same-text-plus-tail doc
      // correctly would)
      val good3 = Seq.fill(8)("joins the query fast rows scans table and the table").mkString(" ")
      val batch = Seq((1L, page(good)), (2L, page(gib)), (3L, page(good3)))
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id", outDir,
        minQuality = 0.5, extractBoilerplate = true, lmGate = Some((lm, -3.0))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.keySet === Set(1L, 3L), s"LM gate outcome wrong: ${out.keySet}")
      // the block classifier ran INSIDE the loop: no nav/footer text
      // survives into the corpus (what plain strip_html would keep)
      out.values.foreach { t =>
        assert(!t.contains("Home") && !t.contains("Privacy"), s"boilerplate leaked: $t")
      }
    } finally dropTextHistory(hist)
  }

  test("L31 multimodal intake: one loop dedups a mixed binary batch per modality, junk passes through, exactly-once across a replay") {
    import graft.operators.Multimodal
    val hist = "t_mm_hist"
    val outDir = tmpDir("mm_out")
    Dedup.MultimodalHistory.drop(spark, hist)
    try {
      def img(pairs: (Long, Long)*) = Multimodal.syntheticPpmMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload")
      def imgPng(pairs: (Long, Long)*) = Multimodal.syntheticPngMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload")
      def aud(pairs: (Long, Long)*) = Multimodal.syntheticWavPcm16(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed")
        .select($"doc_id", $"payload")
      def audMu(pairs: (Long, Long)*) = Multimodal.syntheticWavMulawTone(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed")
        .select($"doc_id", $"payload")
      def vid(pairs: (Long, Long)*) = Multimodal.syntheticY4mBlocks(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 64, 32, 4)
        .select($"doc_id", $"payload")
      def vidMj(pairs: (Long, Long)*) = Multimodal.syntheticAviMjpegBlocks(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 64, 32, 4)
        .select($"doc_id", $"payload")
      val b0 = img((30L, 30L)).unionByName(aud((31L, 31L))).unionByName(vid((32L, 32L)))
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload", "doc_id", outDir))
      // batch 1: fresh per modality, re-encoded copies of HISTORY items
      // (each must die on ITS modality's history), a within-batch
      // re-encode pair (PPM 63 + PNG 163 — min id survives), and junk
      val junk = Seq((999L, "no modality".getBytes)).toDF("doc_id", "payload")
      val b1 = img((60L, 60L), (63L, 63L)).unionByName(imgPng((163L, 63L)))
        .unionByName(aud((61L, 61L))).unionByName(audMu((131L, 31L)))
        .unionByName(vid((62L, 62L))).unionByName(vidMj((132L, 32L)))
        .unionByName(imgPng((130L, 30L))).unionByName(junk)
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload", "doc_id", outDir))
      def out1: Set[Long] = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out1 === Set(60L, 61L, 62L, 63L, 999L),
        s"multimodal routing broke: $out1")
      // partial replay (pointer rolled back): identical survivors
      // against the loop's own appended identities
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload", "doc_id", outDir))
      assert(out1 === Set(60L, 61L, 62L, 63L, 999L), "replay changed the survivor set")
      // full replay: pointer already records batch 1 → no-op
      assert(!StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload", "doc_id", outDir))
    } finally Dedup.MultimodalHistory.drop(spark, hist)
  }

  test("L32 mixed intake: one loop routes text and binary rows by null-ness, merges one survivor write, both-rows keep independent legs, exactly-once across a replay") {
    import graft.operators.Multimodal
    val hist = "t_mixed_hist"
    val outDir = tmpDir("mixed_out")
    StreamOps.dropMixedHistory(spark, hist)
    try {
      // text synthesized from a SEED id (so copies share tokens), with
      // an optional payload column riding along for "both" rows
      def html(seed: org.apache.spark.sql.Column, suffix: String) =
        concat(lit("<p>"), array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), seed, lit("w"), i)), " "), lit(suffix), lit("</p>"))
      def text(pairs: (Long, Long)*) = pairs.toSeq.toDF("doc_id", "__seed")
        .select($"doc_id", html($"__seed", "").as("html"),
          lit(null).cast("binary").as("payload"))
      def textNear(pairs: (Long, Long)*) = pairs.toSeq.toDF("doc_id", "__seed")
        .select($"doc_id", html($"__seed", " zzextra").as("html"),
          lit(null).cast("binary").as("payload"))
      def noHtml(df: org.apache.spark.sql.DataFrame) = df
        .select($"doc_id", lit(null).cast("string").as("html"), $"payload")
      def img(pairs: (Long, Long)*) = noHtml(Multimodal.syntheticPpmMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16))
      def imgPng(pairs: (Long, Long)*) = noHtml(Multimodal.syntheticPngMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16))
      def aud(pairs: (Long, Long)*) = noHtml(Multimodal.syntheticWavPcm16(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed"))
      def audMu(pairs: (Long, Long)*) = noHtml(Multimodal.syntheticWavMulawTone(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed"))
      val b0 = text((1L to 20L).map(i => (i, i)): _*)
        .unionByName(img((100L, 100L))).unionByName(aud((101L, 101L)))
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload",
        "doc_id", outDir))
      val out0 = spark.read.parquet(s"$outDir/batch-0")
      assert(out0.select($"doc_id").as[Long].collect().toSet
        === ((1L to 20L).toSet ++ Set(100L, 101L)), "seed survivors wrong")
      // batch 1: fresh text, a text exact copy (hash history) and near
      // copy (band history), fresh + re-encoded binary (modality
      // histories), junk (passes — no identity), and two BOTH rows:
      // 70 fresh on both legs, 71 fresh text + payload copy of history
      // image 100 (text survives, payload dies — legs independent)
      val junk = Seq((999L, "no modality".getBytes))
        .toDF("doc_id", "payload")
      val b1 = text((40L to 49L).map(i => (i, i)): _*)
        .unionByName(text((1005L, 5L)))        // exact copy of seeded 5
        .unionByName(textNear((1006L, 6L)))    // near copy of seeded 6
        .unionByName(img((160L, 160L)))
        .unionByName(imgPng((1100L, 100L)))    // re-encode of history 100
        .unionByName(audMu((1101L, 101L)))     // re-encode of history 101
        .unionByName(noHtml(junk))
        .unionByName(text((70L, 70L))
          .select($"doc_id", $"html").crossJoin(
            Multimodal.syntheticPpmMixed(Seq((70L, 700L)).toDF("d", "__seed"),
              "__seed", 16, 16).select($"payload")))
        .unionByName(text((71L, 71L))
          .select($"doc_id", $"html").crossJoin(
            Multimodal.syntheticPngMixed(Seq((71L, 100L)).toDF("d", "__seed"),
              "__seed", 16, 16).select($"payload")))
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir))
      def out1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id", $"text".isNotNull.as("t"), $"payload".isNotNull.as("p"))
        .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
      val o1 = out1
      assert(o1.keySet === ((40L to 49L).toSet ++ Set(70L, 71L, 160L, 999L)),
        s"mixed routing broke: ${o1.keySet}")
      assert(o1(70L) === ((true, true)), "both-legs row must keep both")
      assert(o1(71L) === ((true, false)),
        "payload leg must die independently of the text leg")
      assert(o1(160L) === ((false, true)) && o1(999L) === ((false, true)))
      // partial replay (pointer rolled back): identical survivors
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir))
      assert(out1.keySet === ((40L to 49L).toSet ++ Set(70L, 71L, 160L, 999L)),
        "replay changed the survivor set")
      // full replay: pointer already records batch 1 → no-op
      assert(!StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir))
    } finally StreamOps.dropMixedHistory(spark, hist)
  }

  test("L33 embedding leg: mixed intake seeds the _ei quantizer from batch 0, drops semantic dups within-batch and vs history, no-identity passes, replays exactly-once") {
    val hist = "t_mixed_emb_hist"
    val outDir = tmpDir("mixed_emb_out")
    StreamOps.dropMixedHistory(spark, hist)
    try {
      def v(xs: Double*) = xs.map(_.toFloat).toArray
      def x2(a: Array[Float]) = a.map(_ * 2.0f)
      def vecs(rows: (Long, Array[Float])*) = rows.toSeq.toDF("doc_id", "embedding")
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("binary").as("payload"), $"embedding")
      def run(b: org.apache.spark.sql.DataFrame, id: Long) =
        StreamOps.mixedIntakeBatch(b, id, hist, 4, "html", "payload",
          "doc_id", outDir, embCol = Some("embedding"))
      def ids(b: Long): Set[Long] = spark.read.parquet(s"$outDir/batch-$b")
        .select($"doc_id").as[Long].collect().toSet
      val e1 = v(1, 0, 0, 0)
      // batch 0 trains the frozen quantizer AND seeds the history —
      // its own vectors must all survive (nothing to collide with)
      val b0 = vecs((1L, e1), (2L, v(0, 1, 0, 0)), (3L, v(0, 0, 1, 0)))
      assert(run(b0, 0L))
      assert(ids(0L) === Set(1L, 2L, 3L), "seed batch lost a vector")
      // batch 1: fresh 4 survives; 101 (2x copy of HISTORY vector 1)
      // dies on the _ei probe; the in-batch pair (5, 105=2x5) resolves
      // keep-min under the frozen quantizer; zero-norm 300 has no
      // identity and passes
      val v5 = v(1, 0, 1, 0)
      val b1 = vecs((4L, v(0, 1, 1, 0)), (101L, x2(e1)), (5L, v5),
        (105L, x2(v5)), (300L, v(0, 0, 0, 0)))
      assert(run(b1, 1L))
      assert(ids(1L) === Set(4L, 5L, 300L), s"embedding routing broke: ${ids(1L)}")
      // partial replay (pointer rolled back): identical survivors —
      // 4 and 5 now meet their OWN appended _ei rows (same-id guard)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(run(b1, 1L))
      assert(ids(1L) === Set(4L, 5L, 300L), "replay changed the survivor set")
      // full replay: no-op
      assert(!run(b1, 1L))
      // fold the _ei delta, then a copy of a FOLDED vector still dies
      graft.operators.Similarity.compactIvfDelta(spark, s"${hist}_ei")
      val b2 = vecs((201L, x2(v(0, 1, 1, 0))), (6L, v(0, 0, 1, 1)))
      assert(run(b2, 2L))
      assert(ids(2L) === Set(6L), "post-fold history identity missed")
    } finally StreamOps.dropMixedHistory(spark, hist)
  }

  test("L39 intake leg: paragraph dedup before scoring — shared paragraphs die within-batch and vs the _pg history, survivors reassemble, replay exactly-once") {
    import graft.operators.Dedup
    val hist = "t_para_intake"
    val outDir = tmpDir("para_intake_out")
    dropTextHistory(hist)
    try {
      def toks(seed: Long) = (0 until 40).map(i => s"tok${seed}w$i").mkString(" ")
      val footer = "shared footer paragraph repeated on every page of the site"
      def page(id: Long, paras: String*) =
        (id, paras.map(p => s"<p>$p</p>").mkString("\n"))
      // batch 0: docs 1/2 both carry the footer — doc 1 (min id) keeps
      // it, doc 2 sheds it and reassembles from its own body alone
      val b0 = Seq(
        page(1L, toks(1), footer),
        page(2L, footer, toks(2))).toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.1, paragraphDedup = true))
      def texts(b: Long): Map[Long, String] = spark.read.parquet(s"$outDir/batch-$b")
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val t0 = texts(0L)
      assert(t0.keySet === Set(1L, 2L))
      assert(t0(1L).contains("shared footer paragraph") &&
        t0(1L).contains("tok1w0"), s"canonical carrier lost a paragraph: ${t0(1L)}")
      assert(!t0(2L).contains("shared footer") && t0(2L).contains("tok2w0"),
        "within-batch shared paragraph must die in the later doc")
      // batch 1: doc 10 repeats the footer (history kill — only its
      // fresh body survives); doc 11 is ONLY the footer (drops whole)
      val b1 = Seq(
        page(10L, toks(10), footer),
        page(11L, footer)).toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.1, paragraphDedup = true))
      val t1 = texts(1L)
      assert(t1.keySet === Set(10L), s"history paragraph leg broke: ${t1.keySet}")
      assert(!t1(10L).contains("shared footer") && t1(10L).contains("tok10w0"))
      // partial replay (pointer rolled back): same-id _pg guard keeps
      // the batch's own paragraphs — identical survivors
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.1, paragraphDedup = true))
      assert(texts(1L) === t1, "replay changed the paragraph survivors")
      // fold via the one-call maintenance (paragraph family included),
      // then the history kill still holds main-side
      assert(StreamOps.maintainMixedHistories(spark, hist, 1e-9)
        .contains("paragraph"))
      val b2 = Seq(page(20L, footer, toks(20))).toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(b2, 2L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.1, paragraphDedup = true))
      val t2 = texts(2L)
      assert(t2.keySet === Set(20L) && !t2(20L).contains("shared footer"),
        s"post-fold paragraph identity missed: $t2")
    } finally dropTextHistory(hist)
  }

  test("L33 seeding guard: a vector-free first batch defers _ei creation — the quantizer trains on the first batch that carries vectors, never on zero") {
    val hist = "t_mixed_seedguard"
    val outDir = tmpDir("mixed_seedguard_out")
    StreamOps.dropMixedHistory(spark, hist)
    try {
      def v(xs: Double*) = xs.map(_.toFloat).toArray
      def x2(a: Array[Float]) = a.map(_ * 2.0f)
      def vecs(rows: (Long, Array[Float])*) = rows.toSeq.toDF("doc_id", "embedding")
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("binary").as("payload"), $"embedding")
      def textRows(ids: Long*) = ids.toSeq.toDF("doc_id")
        .select($"doc_id", concat(lit("<p>"),
            array_join(transform(sequence(lit(0), lit(39)),
              i => concat(lit("tok"), $"doc_id", lit("w"), i)), " "),
            lit("</p>")).as("html"),
          lit(null).cast("binary").as("payload"),
          lit(null).cast("array<float>").as("embedding"))
      def run(b: org.apache.spark.sql.DataFrame, id: Long) =
        StreamOps.mixedIntakeBatch(b, id, hist, 4, "html", "payload",
          "doc_id", outDir, embCol = Some("embedding"))
      def ids(b: Long): Set[Long] = spark.read.parquet(s"$outDir/batch-$b")
        .select($"doc_id").as[Long].collect().toSet
      // batch 0 carries TEXT only — before the guard this trained an
      // EMPTY quantizer (frozen forever; every later vector → list -1)
      assert(run(textRows(1L, 2L), 0L))
      assert(ids(0L) === Set(1L, 2L))
      assert(!spark.catalog.tableExists(s"${hist}_ei"),
        "a vector-free batch must not create the _ei index")
      // batch 1 carries the first vectors: THIS batch seeds the
      // quantizer; its in-batch 2x pair resolves keep-min
      val e1 = v(1, 0, 0, 0)
      assert(run(vecs((10L, e1), (11L, v(0, 1, 0, 0)), (110L, x2(e1))), 1L))
      assert(ids(1L) === Set(10L, 11L), s"late seeding broke: ${ids(1L)}")
      assert(spark.catalog.tableExists(s"${hist}_ei_centroids"))
      assert(spark.table(s"${hist}_ei_centroids").count() > 0,
        "seeded quantizer must have non-empty centroids")
      // batch 2: a copy of a HISTORY vector dies on the (late-seeded)
      // _ei probe — semantic dedup was not silently disabled
      assert(run(vecs((20L, x2(v(0, 1, 0, 0))), (21L, v(0, 0, 1, 0))), 2L))
      assert(ids(2L) === Set(21L), s"history probe dead after deferral: ${ids(2L)}")
    } finally StreamOps.dropMixedHistory(spark, hist)
  }

  test("L36 perplexity-bucket routing: intakeBatch keeps head+middle on frozen thresholds, drops tail, unscored passes") {
    import graft.operators.{Dedup, NgramLm}
    val hist = "t_lmb_hist"
    val outDir = tmpDir("lmb_out")
    dropTextHistory(hist)
    try {
      // the CCNet shape: LM trained on a CLEAN reference (pure "ab"
      // docs — every "zq"/"bz"/"qz" bigram is unseen and penalized),
      // thresholds drawn from a scored crawl-like spread whose score
      // strictly decreases as the bad-bigram suffix grows — terciles
      // are i<=9 head, 10..19 middle, 20..29 tail
      def body(i: Int) = "ab" * 20 + "zq" * i
      val cleanRef = (900L until 905L).map(id => (id, "ab" * 20)).toDF("doc_id", "text")
      val lm = NgramLm.trainCharBigram(cleanRef, "text")
      val spread = (0 until 30).map(i => (i.toLong, body(i))).toDF("doc_id", "text")
      val th = NgramLm.bucketThresholds(
        NgramLm.scoreDocs(spread, "text", "doc_id", lm), "doc_id", ringPct = 100)
      // batch: one doc per bucket + an evidence-free single char
      val batch = Seq(
        (105L, s"<p>${body(5)}</p>"),   // head    → kept
        (115L, s"<p>${body(15)}</p>"),  // middle  → kept
        (125L, s"<p>${body(25)}</p>"),  // tail    → dropped
        (130L, "<p>a</p>"))             // unscored → passes
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        lmBuckets = Some((lm, th, Set("head", "middle")))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(105L, 115L, 130L), s"bucket routing broke: $out")
      // head-only routing drops the middle doc too (fresh ids so the
      // hash history cannot interfere)
      val batch2 = Seq(
        (205L, s"<p>${body(6)}</p>"),
        (215L, s"<p>${body(16)}</p>")).toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch2, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, lmBuckets = Some((lm, th, Set("head")))))
      val out2 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out2 === Set(205L), s"head-only routing broke: $out2")
      // composing with the scalar lmGate shares one scoring pass and
      // must demand the same CharLm instance
      val thrown = intercept[IllegalArgumentException] {
        StreamOps.mixedIntakeBatch(batch2, 2L, hist, 4, "html", "payload", "doc_id",
          outDir, minQuality = 0.0,
          lmGate = Some((NgramLm.trainCharBigram(cleanRef, "text"), -99.0)),
          lmBuckets = Some((lm, th, Set("head"))))
      }
      assert(thrown.getMessage.contains("share one CharLm"))
    } finally dropTextHistory(hist)
  }

  test("L34 decontamination leg: intakeBatch drops docs sharing an eval n-gram, short docs pass, the eval set itself never enters the corpus") {
    import graft.operators.{Decontaminate, Dedup}
    val hist = "t_decon_hist"
    val evalT = "t_decon_eval"
    val outDir = tmpDir("decon_out")
    dropTextHistory(hist)
    Decontaminate.dropEvalGrams(spark, evalT)
    try {
      def page(body: String) = s"<p>$body</p>"
      def toks(seed: Long) = (0 until 40).map(i => s"tok${seed}w$i").mkString(" ")
      // frozen eval set: two held-out benchmark docs
      val eval = Seq((9001L, toks(9001)), (9002L, toks(9002)))
        .toDF("doc_id", "text")
      Decontaminate.writeEvalGrams(spark, eval, "text", evalT, n = 5)
      // batch: fresh 1/2; 3 quotes five eval tokens verbatim (one
      // 5-gram hit → dropped); 4 has < 5 tokens (no grams → passes
      // decon; generous quality floor keeps it); 5 shares only FOUR
      // consecutive eval tokens (no 5-gram → survives)
      val evalQuote = (0 until 5).map(i => s"tok9001w$i").mkString(" ")
      val fourGram = (0 until 4).map(i => s"tok9002w$i").mkString(" ")
      val batch = Seq(
        (1L, page(toks(1))),
        (2L, page(toks(2))),
        (3L, page(s"${toks(3)} $evalQuote")),
        (4L, page("four tokens only here")),
        (5L, page(s"${toks(5)} $fourGram")))
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.1, decontaminate = Some((evalT, 5))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(1L, 2L, 4L, 5L), s"decontamination outcome wrong: $out")
      // the contaminated doc left nothing behind in the histories: a
      // replay of its exact text under a fresh id (decon OFF) must be
      // treated as NEW, not deduped against ghost rows
      assert(StreamOps.mixedIntakeBatch(
        Seq((13L, page(s"${toks(3)} $evalQuote"))).toDF("doc_id", "html"),
        1L, hist, 4, "html", "payload", "doc_id", outDir, minQuality = 0.1))
      val out1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out1 === Set(13L), "contaminated doc left ghost history rows")
    } finally {
      dropTextHistory(hist)
      Decontaminate.dropEvalGrams(spark, evalT)
    }
  }

  test("L40 multimodal decontamination leg: eval image/audio/vector copies die at intake and leave no ghost history rows; controls and junk pass") {
    import graft.operators.{Decontaminate, Multimodal}
    val hist = "t_mmdecon_hist"
    val evalT = "t_mmdecon_eval"
    val outDir = tmpDir("mmdecon_out")
    StreamOps.dropMixedHistory(spark, hist)
    Decontaminate.dropEvalIdentities(spark, evalT)
    try {
      def v(xs: Double*) = xs.map(_.toFloat).toArray
      def x2(a: Array[Float]) = a.map(_ * 2.0f)
      def neg(a: Array[Float]) = a.map(x => -x)
      val nullEmb = lit(null).cast("array<float>").as("embedding")
      def img(pairs: (Long, Long)*) = Multimodal.syntheticPpmMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", lit(null).cast("string").as("html"), $"payload", nullEmb)
      def imgPng(pairs: (Long, Long)*) = Multimodal.syntheticPngMixed(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", lit(null).cast("string").as("html"), $"payload", nullEmb)
      def aud(pairs: (Long, Long)*) = Multimodal.syntheticWavPcm16(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed")
        .select($"doc_id", lit(null).cast("string").as("html"), $"payload", nullEmb)
      def audMu(pairs: (Long, Long)*) = Multimodal.syntheticWavMulawTone(
        pairs.toSeq.toDF("doc_id", "__seed"), "__seed")
        .select($"doc_id", lit(null).cast("string").as("html"), $"payload", nullEmb)
      def vecs(rows: (Long, Array[Float])*) = rows.toSeq.toDF("doc_id", "embedding")
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("binary").as("payload"), $"embedding")
      // frozen eval set: one image, one audio clip, one vector
      val e1 = v(1, 0, 0, 0)
      val evalRows = img((9001L, 42L)).unionByName(aud((9002L, 43L)))
        .unionByName(vecs((9003L, e1)))
      Decontaminate.writeEvalIdentities(spark, evalRows, "payload", "doc_id",
        evalT, embCol = Some("embedding"))
      // batch: fresh image/audio/vector survive; a PNG re-encode of the
      // eval image, a μ-law re-encode of the eval clip and a 2x copy of
      // the eval vector die; a negated control and junk pass
      val batch = img((10L, 100L)).unionByName(aud((11L, 101L)))
        .unionByName(vecs((12L, v(0, 1, 0, 0))))
        .unionByName(imgPng((20L, 42L)))   // eval image leak
        .unionByName(audMu((21L, 43L)))    // eval audio leak
        .unionByName(vecs((22L, x2(e1)))) // eval vector leak
        .unionByName(vecs((23L, neg(e1)))) // control: cos -1 → passes
        .unionByName(Seq((24L, "junk".getBytes)).toDF("doc_id", "payload")
          .select($"doc_id", lit(null).cast("string").as("html"), $"payload", nullEmb))
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload",
        "doc_id", outDir, embCol = Some("embedding"),
        decontaminateMm = Some(evalT)))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(10L, 11L, 12L, 23L, 24L),
        s"multimodal decontamination outcome wrong: $out")
      // the leaked items left NO ghost history rows: replaying their
      // exact content under fresh ids with decon OFF must see them as
      // NEW (nothing in _ph/_ab/_ei to collide with)
      assert(StreamOps.mixedIntakeBatch(
        imgPng((30L, 42L)).unionByName(vecs((31L, x2(e1)))),
        1L, hist, 4, "html", "payload", "doc_id", outDir,
        embCol = Some("embedding")))
      val out1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out1 === Set(30L, 31L), "contaminated payloads left ghost history rows")
    } finally {
      StreamOps.dropMixedHistory(spark, hist)
      Decontaminate.dropEvalIdentities(spark, evalT)
    }
  }

  test("Mixed history maintenance: one byte-ratio auto-fold call covers all five families, folds only where earned, replay stays exactly-once across the fold") {
    import graft.operators.Multimodal
    val hist = "t_mixed_maint"
    val outDir = tmpDir("mixed_maint_out")
    StreamOps.dropMixedHistory(spark, hist)
    try {
      def html(seed: org.apache.spark.sql.Column) =
        concat(lit("<p>"), array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), seed, lit("w"), i)), " "), lit("</p>"))
      val nullPay = lit(null).cast("binary").as("payload")
      val nullEmb = lit(null).cast("array<float>").as("embedding")
      val text = (1L to 8L).toDF("doc_id")
        .select($"doc_id", html($"doc_id").as("html"), nullPay, nullEmb)
      def noHtml(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
        lit(null).cast("string").as("html"), $"payload", nullEmb)
      val pay = noHtml(Multimodal.syntheticPpmMixed(
          Seq((20L, 20L)).toDF("doc_id", "__seed"), "__seed", 16, 16))
        .unionByName(noHtml(Multimodal.syntheticWavPcm16(
          Seq((21L, 21L)).toDF("doc_id", "__seed"), "__seed")))
        .unionByName(noHtml(Multimodal.syntheticY4mBlocks(
          Seq((22L, 22L)).toDF("doc_id", "__seed"), "__seed", 64, 32, 4)))
      def v(xs: Double*) = xs.map(_.toFloat).toArray
      val vecs = Seq((30L, v(1, 0, 0, 0)), (31L, v(0, 1, 0, 0)))
        .toDF("doc_id", "embedding")
        .select($"doc_id", lit(null).cast("string").as("html"), nullPay, $"embedding")
      val b0 = text.unionByName(pay).unionByName(vecs)
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload",
        "doc_id", outDir, embCol = Some("embedding")))
      val expected = ((1L to 8L) ++ Seq(20L, 21L, 22L, 30L, 31L)).toSet
      def ids0: Set[Long] = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids0 === expected)
      // every family appended a delta in batch 0 → a tiny ratio folds all
      assert(StreamOps.maintainMixedHistories(spark, hist, 1e-9).toSet
        === Set("text", "image", "audio", "video", "embedding"))
      // nothing left to fold — the measured trigger must not re-fire
      assert(StreamOps.maintainMixedHistories(spark, hist, 1e-9).isEmpty)
      // replay ACROSS the fold: the fold manifest keeps the appends
      // from duplicating, the probes (now main-side) keep same-id rows
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload",
        "doc_id", outDir, embCol = Some("embedding")))
      assert(ids0 === expected, "replay across the fold changed the survivor set")
      assert(StreamOps.maintainMixedHistories(spark, hist, 1e-9).isEmpty,
        "a replayed (manifest-skipped) append must not re-create deltas")
    } finally StreamOps.dropMixedHistory(spark, hist)
  }

  test("L23 job budget: one steady-state intakeBatch launches at most 20 Spark jobs (pinned — driver overhead multiplies at production cadence)") {
    // The r11 audit: ~12 batch-sized jobs per micro-batch read as pure
    // driver overhead in l23b's segment table. Measured decomposition
    // at the pin (JobCountProbe): 4 parquet writes (survivors, band
    // delta, _sh delta, hash delta — the ORDER is the crash-prefix
    // contract, so they cannot merge), 1 localCheckpoint barrier
    // (exactNew — also what gives the planner concrete sizes for the
    // broadcast anti-joins), and ~15 broadcast/subquery jobs, each a
    // distinct bounded exchange the probes need. The survivor
    // checkpoint was FUSED into the exactly-once write (the write is
    // the barrier; appends re-read the batch dir with an explicit
    // schema so not even a footer-discovery job remains). This pin
    // fails if the count silently grows.
    import graft.operators.Dedup
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val hist = "t_budget_hist"
    val outDir = tmpDir("budget_out")
    dropTextHistory(hist)
    try {
      def docs(ids: Range) = ids.map(_.toLong).toDF("doc_id")
        .select($"doc_id", concat(lit("<p>"),
          array_join(transform(sequence(lit(0), lit(39)),
            i => concat(lit("tok"), $"doc_id", lit("w"), i)), " "),
          lit("</p>")).as("html"))
      StreamOps.mixedIntakeBatch(docs(0 until 300), 0L, hist, 4,
        "html", "payload", "doc_id", outDir)
      Dedup.IntakeHistory.fold(spark, hist) // steady state: folded main
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(): Unit }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        StreamOps.mixedIntakeBatch(docs(300 until 450), 1L, hist, 4,
          "html", "payload", "doc_id", outDir)
        // the listener bus is async — give it a moment to drain
        org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(n.get() <= 20,
        s"steady-state text-only mixedIntakeBatch launched ${n.get()} jobs (pinned at 20) — " +
          "a new job slipped into the hot path; re-run graft.tools.JobCountProbe " +
          "to attribute it and either fuse it or re-justify the budget")
    } finally dropTextHistory(hist)
  }

  test("L39 job budget: the paragraph-enabled intakeBatch stays within 34 jobs (two barriers, one append, two dedup passes over the default path)") {
    import graft.operators.Dedup
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val hist = "t_budget_pg_hist"
    val outDir = tmpDir("budget_pg_out")
    dropTextHistory(hist)
    try {
      def docs(ids: Range) = ids.map(_.toLong).toDF("doc_id")
        .select($"doc_id", concat(lit("<p>"),
          array_join(transform(sequence(lit(0), lit(39)),
            i => concat(lit("tok"), $"doc_id", lit("w"), i)), " "),
          lit("</p><p>shared footer paragraph on every page</p>")).as("html"))
      StreamOps.mixedIntakeBatch(docs(0 until 300), 0L, hist, 4, "html", "payload", "doc_id",
        outDir, paragraphDedup = true)
      Dedup.IntakeHistory.fold(spark, hist)
      Dedup.ParagraphHistory.fold(spark, hist) // steady state: folded mains
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(): Unit }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        StreamOps.mixedIntakeBatch(docs(300 until 450), 1L, hist, 4, "html", "payload", "doc_id",
          outDir, paragraphDedup = true)
        org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
      } finally spark.sparkContext.removeSparkListener(listener)
      // measured 33 at the pin: the leg adds ~13 jobs over the default
      // path's 20 — 2 localCheckpoint barriers (cleaned batch + within
      // result), 1 _pg delta write, and ~10 broadcast/exchange jobs
      // across the TWO dedup passes (within: hot-canon broadcast +
      // reassembly join; probe: batch-keys broadcast, hits broadcast,
      // reassembly join — each a distinct bounded exchange). Pinned so
      // growth is loud, like the parent.
      assert(n.get() <= 34,
        s"paragraph-enabled text-only mixedIntakeBatch launched ${n.get()} jobs (pinned at 34)")
    } finally dropTextHistory(hist)
  }

  test("L31 job budget: one steady-state multimodalIntakeBatch launches at most 50 Spark jobs (pinned)") {
    // Measured decomposition at the pin (JobCountProbe multimodal,
    // r13): 47 jobs — 4 parquet writes (survivors + three deltas,
    // crash-prefix ordered so they cannot merge), 6 checkpoint
    // barriers (ONE payload batch + five id-set stage boundaries — the
    // r12 slimming traded 5 payload-copy checkpoints for id-only
    // ones), and ~37 broadcast/subquery jobs across the six banded
    // identity joins (each a distinct bounded exchange: band sides,
    // vote denominators, hot-bucket counts, anti-joins). Three banded
    // modality pipelines cost ~2.5x the text loop's 20 — pinned so the
    // count cannot silently grow.
    import graft.operators.{Dedup, Multimodal}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val hist = "t_budget_mm_hist"
    val outDir = tmpDir("budget_mm_out")
    Dedup.MultimodalHistory.drop(spark, hist)
    try {
      def mixed(ids: Range) = {
        val f = ids.map(_.toLong).toDF("doc_id")
          .select($"doc_id", $"doc_id".as("__seed"))
        Multimodal.syntheticPpmMixed(f.where($"doc_id" % 3 === 0), "__seed", 16, 16)
          .unionByName(Multimodal.syntheticWavPcm16(f.where($"doc_id" % 3 === 1), "__seed"))
          .unionByName(Multimodal.syntheticY4mBlocks(f.where($"doc_id" % 3 === 2), "__seed", 64, 32, 4))
          .select($"doc_id", $"payload")
      }
      StreamOps.mixedIntakeBatch(mixed(0 until 90), 0L, hist, 4,
        "html", "payload", "doc_id", outDir)
      Dedup.MultimodalHistory.fold(spark, hist) // steady state: folded mains
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(): Unit }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        StreamOps.mixedIntakeBatch(mixed(90 until 135), 1L, hist, 4,
          "html", "payload", "doc_id", outDir)
        org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(n.get() <= 50,
        s"steady-state binary-only mixedIntakeBatch launched ${n.get()} jobs (pinned at 50) — " +
          "re-run 'Test/runMain graft.tools.JobCountProbe multimodal' to attribute")
    } finally Dedup.MultimodalHistory.drop(spark, hist)
  }

  test("L40 guard: a batch id colliding with an eval identity id fails LOUDLY, not silently passing leakage") {
    import graft.operators.{Decontaminate, Multimodal}
    val evalT = "t_guard_eval"
    Decontaminate.dropEvalIdentities(spark, evalT)
    try {
      val evalRows = Multimodal.syntheticPpmMixed(
          Seq((7000L, 7000L)).toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload")
      Decontaminate.writeEvalIdentities(spark, evalRows, "payload",
        "doc_id", evalT)
      // a FRESH payload under the EVAL id: the same-id replay guard in
      // the probes would silently pass it — the guard must raise
      val collide = Multimodal.syntheticPpmMixed(
          Seq((7000L, 1L)).toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload")
      val e = intercept[Exception] {
        Decontaminate.dropContaminatedMultimodal(spark, collide,
          "payload", "doc_id", evalT).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("collides")),
        s"expected the id-collision raise, got: ${msgs(e).mkString(" | ")}")
      // disjoint ids pass the guard untouched; checkIds=false opts out
      val fresh = Multimodal.syntheticPpmMixed(
          Seq((1L, 1L)).toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload")
      assert(Decontaminate.dropContaminatedMultimodal(spark, fresh,
        "payload", "doc_id", evalT).count() === 1)
      assert(Decontaminate.dropContaminatedMultimodal(spark, collide,
        "payload", "doc_id", evalT, checkIds = false).count() === 1)
    } finally Decontaminate.dropEvalIdentities(spark, evalT)
  }

  test("L44 all-legs composition: url dedup + paragraph + classifier + buckets + gram-decontaminate + mm-decontaminate + embeddings in ONE mixedIntakeBatch — every leg's plant dies with every other leg on, replay exactly-once") {
    import graft.operators.{Decontaminate, Multimodal, NgramLm, QualityClassifier => QC}
    val hist = "t_allleg_hist"
    val evalG = "t_allleg_evalg"
    val evalM = "t_allleg_evalmm"
    val outDir = tmpDir("allleg_out")
    StreamOps.dropMixedHistory(spark, hist)
    Decontaminate.dropEvalGrams(spark, evalG)
    Decontaminate.dropEvalIdentities(spark, evalM)
    try {
      // ---- frozen reference state (built once, before any batch) ----
      def toks(seed: Long) = (0 until 40).map(i => s"tok${seed}w$i").mkString(" ")
      def gib(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      val footer = "shared footer paragraph repeated on every page"
      val evalQuote = "evalquote alpha beta gamma delta"
      Decontaminate.writeEvalGrams(spark,
        Seq((1L, s"an eval benchmark item containing $evalQuote verbatim"))
          .toDF("id", "text"), "text", evalG, n = 5)
      def v(xs: Double*) = xs.map(_.toFloat).toArray
      val evalRows = Multimodal.syntheticPpmMixed(
          Seq((7000L, 7000L)).toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", $"payload",
          lit(null).cast("array<float>").as("embedding"))
        .unionByName(Seq((7001L, v(1, 0, 0, 0)), (7002L, v(0, 1, 0, 0)),
            (7003L, v(0, 0, 1, 0)), (7004L, v(0, 0, 0, 1)))
          .toDF("doc_id", "embedding")
          .select($"doc_id", lit(null).cast("binary").as("payload"),
            $"embedding"))
      Decontaminate.writeEvalIdentities(spark, evalRows, "payload",
        "doc_id", evalM, embCol = Some("embedding"), nLists = 2)
      // LM on the corpus' own token language; thresholds HAND-frozen
      // around the measured clean/gibberish scores (threshold
      // derivation itself is pinned in NgramLmSpec/L36 — this test is
      // about the COMPOSITION)
      val lm = NgramLm.trainCharBigram(
        (900L to 905L).map(s => (s, toks(s))).toDF("doc_id", "text"), "text")
      def scoreOf(t: String) = NgramLm.scoreDocs(
          Seq((1L, t)).toDF("doc_id", "text"), "text", "doc_id", lm)
        .select($"avg_logp").head().getDouble(0)
      val cScore = scoreOf(toks(40))
      val gScore = scoreOf(gib(toks(41)))
      assert(gScore < cScore, "fixture broken: gibberish must score below clean")
      val th = NgramLm.PplThresholds((cScore + gScore) / 2, 0L, cScore + 1.0, 0L)
      // trained classifier: positives + negatives in the SAME char
      // language as the clean docs (so the LM bucket router would PASS
      // the classifier's plant — the kill below is attributable to the
      // classifier leg alone); unknown-vocab docs score ~bias ≈ 0.5,
      // above the 0.3 gate, so only trained-negative vocabulary dies
      val clf = QC.train(
        ((960L to 962L).map(s => (s, toks(s), 1)) ++
          (963L to 965L).map(s => (s, toks(s), 0))).toDF("id", "text", "y"),
        "text", "id", "y", dim = 256, epochs = 2, lr = 0.5)
      // ---- row builders (mixed schema: html | url | payload | embedding) ----
      def textRow(id: Long, seed: Long, extraPara: String = "",
          gibberish: Boolean = false, suffix: String = "",
          url: Option[String] = None) = {
        val body = (if (gibberish) gib(toks(seed)) else toks(seed)) + suffix
        val html = s"<p>$body</p>" +
          (if (extraPara.nonEmpty) s"<p>$extraPara</p>" else "") +
          s"<p>$footer</p>"
        Seq((id, html, url.getOrElse(s"http://d$id.example.com/x")))
          .toDF("doc_id", "html", "url")
          .select($"doc_id", $"html", $"url",
            lit(null).cast("binary").as("payload"),
            lit(null).cast("array<float>").as("embedding"))
      }
      def payRow(df: org.apache.spark.sql.DataFrame) = df
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("string").as("url"), $"payload",
          lit(null).cast("array<float>").as("embedding"))
      def img(id: Long, seed: Long) = payRow(Multimodal.syntheticPpmMixed(
        Seq((id, seed)).toDF("doc_id", "__seed"), "__seed", 16, 16))
      def imgPng(id: Long, seed: Long) = payRow(Multimodal.syntheticPngMixed(
        Seq((id, seed)).toDF("doc_id", "__seed"), "__seed", 16, 16))
      def vec(id: Long, e: Array[Float]) = Seq((id, e))
        .toDF("doc_id", "embedding")
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("string").as("url"),
          lit(null).cast("binary").as("payload"), $"embedding")
      def run(b: org.apache.spark.sql.DataFrame, id: Long) =
        StreamOps.mixedIntakeBatch(b, id, hist, 4, "html", "payload",
          "doc_id", outDir, minQuality = 0.0,
          embCol = Some("embedding"), decontaminate = Some((evalG, 5)),
          paragraphDedup = true,
          lmBuckets = Some((lm, th, Set("head", "middle"))),
          decontaminateMm = Some(evalM),
          urlDedupCol = Some("url"),
          qualityModel = Some((clf, 300000L)))
      def ids(b: Long): Set[Long] = spark.read.parquet(s"$outDir/batch-$b")
        .select($"doc_id").as[Long].collect().toSet
      // ---- batch 0: seeds every history through the full chain ----
      val b0 = (1L to 10L).map(s => textRow(s, s)).reduce(_ unionByName _)
        .unionByName(img(100L, 100L))
        .unionByName(vec(200L, v(0, 1, 1, 0)))
        .unionByName(vec(201L, v(1, 1, 0, 0)))
      assert(run(b0, 0L))
      assert(ids(0L) === ((1L to 10L).toSet ++ Set(100L, 200L, 201L)),
        s"seed survivors wrong: ${ids(0L)}")
      // within-batch paragraph keep-first: only the min doc kept the
      // shared footer
      val texts0 = spark.read.parquet(s"$outDir/batch-0")
        .where($"text".isNotNull).select($"doc_id", $"text")
        .as[(Long, String)].collect().toMap
      assert(texts0(1L) === s"${toks(1L)}\n$footer")
      assert(texts0(2L) === toks(2L))
      // ---- batch 1: one planted kill PER LEG, all legs on ----
      val b1 = textRow(40L, 40L) // fresh: survives, footer dies on _pg
        .unionByName(textRow(1005L, 5L)) // full copy of doc 5: every
        // paragraph is in _pg → drops at the paragraph probe (the legs
        // MASK each other by design — earliest leg fires first)
        .unionByName(textRow(1006L, 6L, suffix = " zzextra")) // near copy
        // of doc 6's survivor text → past paragraphs, dies on the band
        .unionByName(textRow(777L, 777L, extraPara = evalQuote)) // eval
        // 5-gram in an otherwise-fresh doc → past paragraphs + LM,
        // dies on the gram table
        .unionByName(textRow(778L, 778L,
          extraPara = "alpha beta gamma delta surrounded by own words"))
        // 4-of-5 overlap control: no shared 5-gram → survives
        .unionByName(textRow(41L, 41L, gibberish = true)) // scores below
        // b1 → tail → dropped by the bucket router
        .unionByName(textRow(42L, 963L)) // body in the clean CHAR
        // language (LM passes it) but trained-NEGATIVE vocabulary →
        // dies on the classifier gate alone
        .unionByName(textRow(43L, 43L,
          url = Some("HTTP://D40.example.com/x#frag"))) // canonical-URL
        // duplicate of doc 40 → dies at the url leg BEFORE cleaning
        .unionByName(img(160L, 160L)) // fresh image
        .unionByName(imgPng(1100L, 100L)) // re-encode of history image
        .unionByName(imgPng(1700L, 7000L)) // re-encode of EVAL image
        .unionByName(payRow(Seq((999L, "no modality".getBytes))
          .toDF("doc_id", "payload"))) // junk: no identity anywhere
        .unionByName(vec(205L, v(0, 0, 1, 1))) // fresh vector
        .unionByName(vec(1200L, v(0, 2, 2, 0))) // 2x of history vector
        .unionByName(vec(1201L, v(2, 0, 0, 0))) // 2x of EVAL vector
        .unionByName(vec(210L, v(1, 0, 1, 0))) // in-batch pair:
        .unionByName(vec(211L, v(2, 0, 2, 0))) //   keep-min under _ei
      assert(run(b1, 1L))
      assert(ids(1L) === Set(40L, 778L, 160L, 999L, 205L, 210L),
        s"composed survivor set wrong: ${ids(1L)}")
      val texts1 = spark.read.parquet(s"$outDir/batch-1")
        .where($"text".isNotNull).select($"doc_id", $"text")
        .as[(Long, String)].collect().toMap
      assert(texts1(40L) === toks(40L),
        s"footer must die on the _pg history: '${texts1(40L)}'")
      // ---- partial replay: identical survivors on every leg ----
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_LATEST"), false)
      assert(run(b1, 1L))
      assert(ids(1L) === Set(40L, 778L, 160L, 999L, 205L, 210L),
        "replay changed the composed survivor set")
      // full replay: no-op
      assert(!run(b1, 1L))
      // ---- composed job budget (the all-legs steady state): fold
      // every history, then one small fresh batch through all seven
      // legs — pinned so growth in any leg's job count is loud, like
      // the per-loop pins (L23 ≤20, L39 ≤34, L31 ≤50) ----
      StreamOps.maintainMixedHistories(spark, hist, maxDeltaRatio = 1e-9)
      val b2 = textRow(50L, 50L)
        .unionByName(img(170L, 170L))
        .unionByName(vec(220L, v(1, 0, 0, 1)))
      val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          nJobs.incrementAndGet(): Unit
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(run(b2, 2L))
        org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(ids(2L) === Set(50L, 170L, 220L), s"steady batch broke: ${ids(2L)}")
      // measured 149 at the pin: roughly the sum of the per-loop pins
      // (text+paragraph ≤34, multimodal ≤50) plus the embedding
      // within+probe+append legs, the four eval-identity probes with
      // their broadcast builds and the id guard, the gram probe, the
      // url-leg canonical broadcast, and the LM score pass — every one
      // a batch-sized or broadcast-bounded job. Pinned so growth in
      // any leg is loud, like the per-loop pins.
      assert(nJobs.get() <= 155,
        s"all-legs mixedIntakeBatch launched ${nJobs.get()} jobs (pinned at 155) — " +
          "re-run 'Test/runMain graft.tools.JobCountProbe alllegs' to attribute")
    } finally {
      StreamOps.dropMixedHistory(spark, hist)
      Decontaminate.dropEvalGrams(spark, evalG)
      Decontaminate.dropEvalIdentities(spark, evalM)
    }
  }

  test("L45 intake leg: the Gopher rule pack gates the cleaned text — each planted violation dies, the compliant doc survives") {
    import graft.operators.{Dedup, GopherRules}
    val hist = "t_gopher_hist"
    val outDir = tmpDir("gopher_out")
    dropTextHistory(hist)
    try {
      // the cleaning pass collapses newlines, so the planted
      // violations here are ones that survive single-line form
      // (bullet-start, symbol ratio, word count, top-2-gram coverage);
      // line-granular rules are pinned in GopherRulesSpec
      val ok = "the quick brown fox jumps over a lazy dog " +
        "every good sentence should have some different words " +
        "people write many things about the wide world " +
        "reading takes time and gives back useful knowledge " +
        "rivers flow down from tall mountains into the sea " +
        "builders design strong houses with solid stone walls " +
        "farmers grow fresh food across wide open fields " +
        "children learn new games during long summer days"
      val batch = Seq(
        (1L, s"<p>$ok</p>"),
        (2L, "<p>" + "• buy the thing now " * 20 + "</p>"), // bullet start
        (3L, "<p>" + "tag # marker # thing of the lot " * 20 + "</p>"),
        (4L, "<p>too short</p>"),
        (5L, "<p>" + "click here " * 40 + "</p>")) // top-2-gram dominance
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(gopherRules = Some(GopherRules.Config()))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(1L), s"gopher gate broke: $out")
    } finally dropTextHistory(hist)
  }

  test("L49 intake leg: C4 line surgery — per-line kills rewrite the survivor text, doc-level rules kill, history sees the surgered text") {
    import graft.operators.{C4Rules, Dedup}
    val hist = "t_c4_hist"
    val outDir = tmpDir("c4_out")
    dropTextHistory(hist)
    try {
      val good3 = Seq(
        "the cat sat on the mat today.",
        "the dog ran across the green field.",
        "many people walk along the river at dawn.")
      // doc 3's base lines differ from doc 1's: its post-surgery text
      // must not exact-collide with doc 1 inside the batch
      val good3b = Seq(
        "the sun rose over the quiet valley this morning.",
        "several birds sang from the branches of the old oak.",
        "a gentle wind moved slowly through the tall grass.")
      def html(lines: String*) = lines.map(l => s"<p>$l</p>").mkString
      val batch = Seq(
        (1L, html(good3: _*)),                       // compliant → survives
        (2L, html("this line has five good words",   // no terminal punct →
          "more words that keep going along fine")), // empty rebuild → dies
        (3L, html(good3b :+                          // js line cut, doc
          "please enable javascript to continue reading this page.": _*)),
        (4L, html(good3 :+                           // lorem in a SURVIVING
          "the printed sample read lorem ipsum dolor sit amet today.": _*)),
        (5L, html(good3 :+                           // brace line survives →
          "the code sample { x } appears in the documentation today.": _*)),
        (6L, html(good3 :+                           // blocklist word
          "the filter flags porn content in this line today.": _*)),
        (7L, html(good3.take(2): _*)))               // 2 sentences → dies
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(c4 = Some(C4Rules.Config()))))
      val out = spark.read.parquet(s"$outDir/batch-0")
      val ids = out.select($"doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L), s"c4 gate broke: $ids")
      // the survivor's OUTPUT text is the surgered rebuild — the
      // javascript line is gone, the three good lines remain
      val t3 = out.where($"doc_id" === 3L).select($"text").as[String].head()
      assert(t3 === good3b.mkString("\n"), s"doc 3 must be surgered: $t3")
      // the history hash was taken on the SURGERED text: re-presenting
      // doc 3's post-surgery form (no javascript line) under a new id
      // dies as an exact duplicate against the history
      val replay = Seq((30L, html(good3b: _*)))
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(replay, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(c4 = Some(C4Rules.Config()))))
      val out1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out1.isEmpty,
        s"surgered-identical replay must die against the history: $out1")
    } finally dropTextHistory(hist)
  }

  test("L50 front-to-chain: WARC containers → pages() → URL dedup + C4 gates in ONE intakeBatch — the CommonCrawl front feeds the existing chain") {
    import graft.operators.{C4Rules, Dedup}
    import graft.sources.Warc
    val hist = "t_warc_hist"
    val outDir = tmpDir("warc_out")
    dropTextHistory(hist)
    try {
      val good3 = Seq(
        "the cat sat on the mat today.",
        "the dog ran across the green field.",
        "many people walk along the river at dawn.")
      val good3b = Seq(
        "the sun rose over the quiet valley this morning.",
        "several birds sang from the branches of the old oak.",
        "a gentle wind moved slowly through the tall grass.")
      def page(lines: Seq[String]) = lines.map(l => s"<p>$l</p>").mkString
      // two containers (one gzip'd), with a planted URL duplicate
      // across containers and a C4-killed page; one malformed record
      val c1 = Warc.buildWet(Seq(
        ("http://a.example.com/x", page(good3)),
        ("http://b.example.com/y", page(Seq("this line has five good words",
          "more words that keep going along fine"))))) ++
        "WARC/1.0\r\nbroken tail".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val good3c = Seq(
        "the baker set warm bread on the wooden table.",
        "a small boat drifted past the stone bridge at noon.",
        "workers stacked heavy crates beside the open gate.")
      val c2 = Warc.buildWet(Seq(
        ("HTTP://A.example.com/x#frag", page(good3c)), // canonical dup of /x
        ("http://c.example.com/z", page(good3b))), gzip = true)
      val containers = Seq((1L, c1), (2L, c2)).toDF("file_id", "bytes")
      // the front: explode records, synthesize stable doc ids from the
      // container id and the record's position hash (url is unique
      // post-dedup anyway), feed the EXISTING intake chain
      val pages = Warc.pages(containers, "bytes")
        .where($"url".isNotNull) // quarantine rows carry no page
        .select(xxhash64($"url").as("doc_id"), $"url",
          $"page_text".as("html"))
      assert(StreamOps.mixedIntakeBatch(pages, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, urlDedupCol = Some("url"),
        gates = StreamOps.TextGates(c4 = Some(C4Rules.Config()))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id", $"text").collect()
      val texts = out.map(_.getString(1)).toSet
      // survivors: a/x (first canonical occurrence wins the URL leg,
      // so ONE of the two /x bodies) and c/z; b/y dies at C4
      assert(out.length === 2, s"expected 2 survivors: ${texts.mkString(" | ")}")
      assert(texts.contains(good3b.mkString("\n")),
        s"c/z must survive with its surgered text: $texts")
      // exactly ONE of the two /x bodies survives the URL leg
      assert(Seq(good3, good3c).count(g => texts.contains(g.mkString("\n"))) === 1,
        s"one canonical-/x body must survive: $texts")
      assert(!texts.exists(_.contains("five good words")),
        s"the C4-killed page must not survive: $texts")
    } finally dropTextHistory(hist)
  }

  test("L50+L51 composed loop: WARC containers → pages() → mixedIntakeBatch, survivors costed by the PERSISTED unigram vocab as the packing currency — exactly-once across a replay, packing identical") {
    import graft.operators.{Bpe, Multimodal, Packing, Unigram}
    import graft.sources.Warc
    val hist = "t_warc_uni_hist"
    val outDir = tmpDir("warc_uni_out")
    val vocabTable = "t_warc_uni_vocab"
    StreamOps.dropMixedHistory(spark, hist)
    spark.sql(s"DROP TABLE IF EXISTS $vocabTable")
    try {
      def htmlOf(seed: Long): String =
        "<p>" + (0 until 40).map(w => s"tok${seed}w$w").mkString(" ") + "</p>"
      def url(i: Int): String = s"http://u$i.example.com/p"
      // the CommonCrawl front: two containers (one gzip'd), a
      // cross-container canonical-URL dup, a same-text dup under a
      // fresh url, and a malformed tail on the plain container
      val c1 = Warc.buildWet(Seq(
        (url(1), htmlOf(1)), (url(2), htmlOf(2)), (url(3), htmlOf(3)))) ++
        "WARC/1.0\r\nbroken tail".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val c2 = Warc.buildWet(Seq(
        (s"HTTP://U3.example.com/p#frag", htmlOf(33)), // canonical dup of url(3)
        (url(4), htmlOf(4)),
        (url(5), htmlOf(2))), gzip = true) // exact text copy of page 2
      val containers0 = Seq((1L, c1), (2L, c2)).toDF("file_id", "bytes")
      def pagesOf(cs: org.apache.spark.sql.DataFrame) =
        Warc.pages(cs, "bytes").where($"url".isNotNull)
          .select(xxhash64($"url").as("doc_id"), $"url",
            $"page_text".as("html"), lit(null).cast("binary").as("payload"))
      // one binary row rides the same batch — the mixed loop's point
      val img = Multimodal.syntheticPpmMixed(
        Seq((9000L, 77L)).toDF("doc_id", "__seed"), "__seed", 16, 16)
        .select($"doc_id", lit(null).cast("string").as("html"),
          lit(null).cast("string").as("url"), $"payload")
      val b0 = pagesOf(containers0)
        .select($"doc_id", $"html", $"url", $"payload").unionByName(img)
      assert(StreamOps.mixedIntakeBatch(b0, 0L, hist, 4, "html", "payload",
        "doc_id", outDir, urlDedupCol = Some("url")))
      val s0 = spark.read.parquet(s"$outDir/batch-0")
      val t0 = s0.where($"text".isNotNull).select($"text").as[String]
        .collect().toSet
      // url(3)'s canonical pair collapsed to one row; the htmlOf(2)
      // text copy collapsed at exact dedup; payload row survived
      assert(t0.size === 4, s"expected 4 text survivors: ${t0.size}")
      assert(Seq(1L, 2L, 4L).forall(sd =>
        t0.contains((0 until 40).map(w => s"tok${sd}w$w").mkString(" "))),
        s"unique pages must survive: $t0")
      assert(s0.where($"payload".isNotNull).count() === 1L)
      // the PERSISTED unigram vocab is the costing model (train once
      // on the front's word dictionary, tokenize forever — l46c)
      Unigram.writeVocab(spark, Unigram.train(
        Bpe.wordDict(b0.where($"html".isNotNull).select($"html".as("text")),
          "text"), targetSize = 96), vocabTable)
      val model = Unigram.readVocab(spark, vocabTable)
      def packedOf(upTo: Long = 0L): Set[Seq[Any]] = {
        val surv = (0L to upTo).map(b =>
            spark.read.parquet(s"$outDir/batch-$b"))
          .reduce(_.unionByName(_))
          .where($"text".isNotNull).select($"doc_id", $"text")
        val costed = Unigram.applyUnigram(surv, "text", model)
          .select($"doc_id", size($"uni_tokens").cast("long").as("n_tok"))
        Packing.packSequences(costed, "doc_id", "n_tok", seqLen = 64,
            shards = 4)
          .select($"doc_id", $"n_tok", $"shard", $"seq_in_shard",
            $"start_in_seq")
          .collect().map(_.toSeq).toSet
      }
      val packed0 = packedOf()
      assert(packed0.nonEmpty && packed0.forall(r =>
        r(1).asInstanceOf[Long] > 0L), "every survivor must carry tokens")
      // batch 1: fresh pages + an exact copy of a batch-0 survivor
      // (hash history) + a near copy (band history) — both must die
      val c3 = Warc.buildWet(Seq(
        (url(11), htmlOf(11)), (url(12), htmlOf(12)),
        (url(13), htmlOf(1)), // exact copy of survivor 1
        (url(14), htmlOf(2).replace("</p>", " zzextra</p>")))) // near copy
      val b1 = pagesOf(Seq((3L, c3)).toDF("file_id", "bytes"))
        .select($"doc_id", $"html", $"url", $"payload")
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir, urlDedupCol = Some("url")))
      def s1Texts = spark.read.parquet(s"$outDir/batch-1")
        .where($"text".isNotNull).select($"text").as[String].collect().toSet
      val before = s1Texts
      assert(before.size === 2 && Seq(11L, 12L).forall(sd =>
        before.contains((0 until 40).map(w => s"tok${sd}w$w").mkString(" "))),
        s"history probes must kill the copies: $before")
      val packed1 = packedOf(1L)
      // CRASH between the survivor write and the pointer flip
      graft.sources.AtomicPointer.write(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(outDir, "_LATEST.tmp-crash"),
        new org.apache.hadoop.fs.Path(outDir, "_LATEST"), "0")
      assert(StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir, urlDedupCol = Some("url")))
      assert(s1Texts === before, "replay changed the survivor set")
      // the packing currency — persisted-vocab token counts — and the
      // layout derived from it are REPLAY-INVARIANT
      assert(packedOf(1L) === packed1, "replay changed the packed layout")
      // full replay: no-op on the pointer
      assert(!StreamOps.mixedIntakeBatch(b1, 1L, hist, 4, "html", "payload",
        "doc_id", outDir, urlDedupCol = Some("url")))
    } finally {
      StreamOps.dropMixedHistory(spark, hist)
      spark.sql(s"DROP TABLE IF EXISTS $vocabTable")
    }
  }

  test("L50 WET sink: byte-bounded containers, bit-identical replay across a crashed pointer flip, exactly-once read view, idempotent file export, live foreachBatch leg") {
    import graft.sources.Warc
    import graft.streaming.WetSink
    val out = tmpDir("wet_sink_out")
    val hconf = spark.sparkContext.hadoopConfiguration
    def docs(from: Int, until: Int) = (from until until)
      .map(i => (f"http://w.example.com/$i%03d", s"document number $i " * 12))
      .toDF("url", "text")
    // batch 0 publishes: containers byte-bounded, many per shard
    assert(WetSink.writeBatch(docs(0, 40), 0L, out, "url", "text",
      maxContainerBytes = 1200, shards = 2, gzip = true))
    val c0 = spark.read.parquet(s"$out/batch-0")
    val st = c0.agg(max($"n_bytes"), count(lit(1)), sum($"n_records"))
      .collect().head
    // bound + at most ONE record of overshoot (record ≈ 128 overhead +
    // 23 url + ~240 text ≈ 400 bytes)
    assert(st.getLong(0) <= 1200 + 450,
      s"container payload ${st.getLong(0)} must respect the bound")
    assert(st.getLong(1) >= 8, s"the bound must force many containers: ${st.getLong(1)}")
    assert(st.getLong(2) === 40L)
    // round trip through the published read view
    val back0 = Warc.pages(WetSink.readContainers(spark, out), "warc")
      .select($"url", $"page_text", $"malformed").collect()
    assert(back0.map(_.getInt(2)).forall(_ === 0))
    assert(back0.map(r => (r.getString(0), r.getString(1))).toSet ===
      docs(0, 40).collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // batch 1 fully written, then CRASH before the pointer flip
    // (simulated by rewinding _LATEST — the line the flip publishes)
    assert(WetSink.writeBatch(docs(40, 70), 1L, out, "url", "text",
      maxContainerBytes = 1200, shards = 2, gzip = true))
    val crashed = spark.read.parquet(s"$out/batch-1")
      .orderBy($"shard", $"seq").select($"warc")
      .as[Array[Byte]].collect()
    graft.sources.AtomicPointer.write(hconf,
      new org.apache.hadoop.fs.Path(out, "_LATEST.tmp-crash"),
      new org.apache.hadoop.fs.Path(out, "_LATEST"), "0")
    // the unpublished batch is INVISIBLE to consumers (the FileSink
    // _spark_metadata lesson: directory listings lie, the log decides)
    assert(WetSink.readContainers(spark, out)
      .where($"batch_id" === 1L).count() === 0L)
    // replay rebuilds BIT-IDENTICAL containers, then flips
    assert(WetSink.writeBatch(docs(40, 70), 1L, out, "url", "text",
      maxContainerBytes = 1200, shards = 2, gzip = true))
    val replayed = spark.read.parquet(s"$out/batch-1")
      .orderBy($"shard", $"seq").select($"warc")
      .as[Array[Byte]].collect()
    assert(crashed.length === replayed.length)
    crashed.zip(replayed).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b),
        "replayed container bytes must be bit-identical")
    }
    // a FULL replay no-ops on the pointer
    assert(!WetSink.writeBatch(docs(40, 70), 1L, out, "url", "text",
      maxContainerBytes = 1200, shards = 2, gzip = true))
    // exactly-once read view across both batches
    val all = Warc.pages(WetSink.readContainers(spark, out), "warc")
    assert(all.count() === 70L)
    assert(all.select($"url").distinct().count() === 70L)
    // file export: published containers land as CommonCrawl-layout
    // files, one per container, idempotent re-export, parse-back equal
    val fileDir = tmpDir("wet_files")
    val nFiles = WetSink.exportFiles(spark, out, fileDir)
    val nContainers = WetSink.readContainers(spark, out).count()
    assert(nFiles === nContainers, s"$nFiles files vs $nContainers containers")
    def fileBytes(): Map[String, Seq[Byte]] = {
      val d = new java.io.File(fileDir)
      d.listFiles().filter(_.getName.endsWith(".gz")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val files1 = fileBytes()
    assert(files1.size === nFiles.toInt, "every container gzips in this fixture")
    val fromFiles = files1.values.flatMap(b =>
      Warc.parseAll(b.toArray)._1.map(r => (r.targetUri, Warc.payloadText(r)))).toSet
    assert(fromFiles === (docs(0, 70).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet),
      "exported files must parse back to the exactly-once page set")
    assert(WetSink.exportFiles(spark, out, fileDir) === nFiles)
    assert(fileBytes() === files1, "re-export must rewrite identical files")
    // live leg: the same batches through a real foreachBatch stream
    val out2 = tmpDir("wet_live_out"); val ckpt = tmpDir("wet_live_ckpt")
    val ms = MemoryStream[(String, String)]
    val q = WetSink.sink(ms.toDF().toDF("url", "text"), out2, ckpt,
      "url", "text", maxContainerBytes = 1200, shards = 2).start()
    ms.addData((0 until 6).map(i => (s"http://live.example.com/$i", s"live $i")): _*)
    q.processAllAvailable()
    ms.addData((6 until 10).map(i => (s"http://live.example.com/$i", s"live $i")): _*)
    q.processAllAvailable()
    q.stop()
    val live = Warc.pages(WetSink.readContainers(spark, out2), "warc")
      .select($"url", $"page_text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(live === (0 until 10).map(i =>
      (s"http://live.example.com/$i", s"live $i")).toSet)
  }

  test("L50 WET sink hardening: duplicate-url ties pack deterministically across input order; a regressed batch id fails loudly instead of dropping data") {
    import graft.streaming.WetSink
    // ADVICE r18: duplicate urls with DIFFERENT texts — the in-shard
    // order must totally order them (url, text) so a container cut
    // falling between ties picks the same members regardless of the
    // input's physical row order
    val rows = (0 until 60).map { i =>
      (s"http://dup.example.com/${i / 4}", s"variant $i " * 10)
    }
    def packedBytes(df: org.apache.spark.sql.DataFrame): Seq[Seq[Byte]] =
      WetSink.packBounded(df, "url", "text", maxContainerBytes = 900,
        shards = 2)
        .orderBy($"shard", $"seq").select($"warc")
        .as[Array[Byte]].collect().toSeq.map(_.toSeq)
    val forward = packedBytes(rows.toDF("url", "text"))
    val scrambled = packedBytes(
      rows.reverse.toDF("url", "text").repartition(7))
    assert(forward === scrambled,
      "container bytes must not depend on input row order under duplicate urls")
    // regressed batch id (fresh checkpoint against a published outDir)
    // must throw, not silently no-op every future batch
    val out = tmpDir("wet_guard_out")
    assert(WetSink.writeBatch(rows.toDF("url", "text"), 0L, out,
      "url", "text", maxContainerBytes = 900, shards = 2))
    assert(WetSink.writeBatch(rows.toDF("url", "text"), 1L, out,
      "url", "text", maxContainerBytes = 900, shards = 2))
    val ex = intercept[IllegalStateException] {
      WetSink.writeBatch(rows.toDF("url", "text"), 0L, out,
        "url", "text", maxContainerBytes = 900, shards = 2)
    }
    assert(ex.getMessage.contains("batch"), ex.getMessage)
    // exact replay of the CURRENT batch stays a quiet no-op
    assert(!WetSink.writeBatch(rows.toDF("url", "text"), 1L, out,
      "url", "text", maxContainerBytes = 900, shards = 2))
    // a sink whose FIRST published batch id is > 0 (checkpoint resumed
    // against a fresh outDir) reads back fine: the read view is the
    // published range ∩ what exists, not an assumed 0..pointer run
    val out2 = tmpDir("wet_guard_sparse")
    assert(WetSink.writeBatch(rows.toDF("url", "text"), 3L, out2,
      "url", "text", maxContainerBytes = 900, shards = 2))
    val view = WetSink.readContainers(spark, out2)
    assert(view.select($"batch_id").distinct().as[Long].collect().toSeq
      === Seq(3L))
    assert(view.agg(sum($"n_records")).as[Long].head() === 60L)
  }

  test("L49b composition: PII mask → C4 surgery → langid floor → Gopher in ONE intakeBatch — kills attributable, survivor text masked AND surgered, survivors equal the closed-form composition") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{C4Rules, Dedup, GopherRules, LangId}
    val hist = "t_c4comp_hist"
    val outDir = tmpDir("c4comp_out")
    dropTextHistory(hist)
    try {
      // disjoint 50-token slices formatted as 10 six-word lines (a
      // stop word opens each line, '.' closes it) — C4- and
      // Gopher-compliant by construction, shingle-disjoint across docs
      // (the near-dedup leg must not collapse them), char-bigram-alike
      // (one trained language)
      val pool = (0 until 1000).map(i => s"tok$i")
      def docLines(j: Int, extra: Seq[String] = Nil): Seq[String] =
        (0 until 10).map { i =>
          (if (i % 2 == 0) "the " else "with ") +
            pool.slice(50 * j + 5 * i, 50 * j + 5 * i + 5).mkString(" ") + "."
        } ++ extra
      def gib(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      def html(lines: Seq[String]) = lines.map(l => s"<p>$l</p>").mkString
      val langModel = LangId.train(
        ((10 to 13).map(j => (900L + j, docLines(j).mkString(" "), "en")) ++
          (10 to 13).map(j => (910L + j, gib(docLines(j).mkString(" ")), "xx")))
          .toDF("id", "text", "lang"),
        "text", "id", "lang", Seq("en", "xx"), dim = 2048, epochs = 2)
      val dupLine = "the tok980 tok981 tok982 tok983 tok984."
      val soupLines = (0 until 8).map(i =>
        s"##$i@@ %%$i^^ &&$i** (($i)) ++$i--.")
      val rows = Seq(
        (1L, docLines(0)),                                // control
        (2L, docLines(1, Seq("the a@x.io b@y.io c@z.io now today."))), // PII-dense
        (3L, docLines(2, Seq("with reach bob@mail.example.org for details today."))), // PII-light → masked
        (4L, docLines(3, Seq("the printed sample read lorem ipsum dolor sit amet today."))), // C4 doc rule
        (5L, docLines(4, Seq("the please enable javascript to continue reading page."))), // C4 line cut, survives
        (6L, docLines(5).map(gib)),                       // wrong language
        (7L, soupLines),                                  // unseen alphabet → langid FLOOR
        (8L, Seq.fill(10)(dupLine)),                      // Gopher dup_line_frac
        (9L, docLines(7)))                                // second control
      val batch = rows.map { case (id, ls) => (id, html(ls)) }
        .toDF("doc_id", "html")
      val gates = StreamOps.TextGates(
        pii = Some(2),
        c4 = Some(C4Rules.Config()),
        langIdKeep = Some((langModel, Set("en"))),
        langIdMinScoreMicro = 900000L,
        gopherRules = Some(GopherRules.Config()))
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, gates = gates))
      val out = spark.read.parquet(s"$outDir/batch-0")
      val ids = out.select($"doc_id").as[Long].collect().toSet
      // closed form: the same per-row rules applied in the intake
      // order to the same cleaned text (the c4-mode cleaning chain)
      val cleaned = TF.normalizeTextKeepNewlines(TF.stripHtml(
        TF.blockTagsToNewlines($"html")))
      val expected = batch.select($"doc_id", cleaned.as("text"))
        .where(TF.piiKeeps($"text", 2))
        .select($"doc_id", TF.maskPiiAll($"text").as("text"))
        .where(C4Rules.keeps($"text"))
        .select($"doc_id", C4Rules.cleanedText($"text").as("text"))
        .where(LangId.keeps($"text", langModel, Set("en"), 900000L))
        .where(GopherRules.keeps($"text"))
        .select($"doc_id").as[Long].collect().toSet
      assert(ids === expected, s"intake $ids != closed-form $expected")
      assert(Set(1L, 9L).subsetOf(ids), s"controls must survive: $ids")
      assert((Set(2L, 4L, 6L, 7L, 8L) & ids).isEmpty,
        s"every planted kill must fire: $ids")
      // the PII survivor is masked AND its doc survived surgery intact
      val t3 = out.where($"doc_id" === 3L).select($"text").as[String].head()
      assert(t3.contains("<EMAIL>") && !t3.contains("@"),
        s"survivor 3 must be masked: $t3")
      // the javascript line is gone from survivor 5's OUTPUT text
      val t5 = out.where($"doc_id" === 5L).select($"text").as[String].head()
      assert(!t5.contains("javascript") && t5.split("\n").length === 10,
        s"survivor 5 must be surgered to its ten good lines: $t5")
    } finally dropTextHistory(hist)
  }

  test("L43d intake leg: host-blocklist filtering right after URL dedup — blocked hosts leave no output and NO history rows; requires the url leg") {
    import graft.operators.Dedup
    val hist = "t_hostf_hist"
    val outDir = tmpDir("hostf_out")
    dropTextHistory(hist)
    try {
      val blocked = Seq("bad.example.com").toDF("host")
      val gates = StreamOps.TextGates(hostBlocklist = Some(blocked))
      val batch = Seq(
        (1L, "<p>alpha beta gamma one</p>", "http://Good.example.com/a"),
        // canonicalizes to host bad.example.com → blocked
        (2L, "<p>delta epsilon zeta two</p>", "HTTP://BAD.Example.com:80/x"),
        // NULL url passes (no evidence)
        (3L, "<p>eta theta iota three</p>", null.asInstanceOf[String]))
        .toDF("doc_id", "html", "url")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, urlDedupCol = Some("url"), gates = gates))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(1L, 3L), s"host blocklist broke: $out")
      // NO ghost history: the blocked doc's EXACT text re-presented
      // under a fresh id on an unblocked host must survive the hash
      // probe — a history row from the blocked row would kill it
      val batch2 = Seq(
        (10L, "<p>delta epsilon zeta two</p>", "http://good.example.com/b"))
        .toDF("doc_id", "html", "url")
      assert(StreamOps.mixedIntakeBatch(batch2, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, urlDedupCol = Some("url"), gates = gates))
      val out2 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out2 === Set(10L), s"blocked row left a ghost history row: $out2")
      // the blocklist without the url leg is a loud contract error
      val thrown = intercept[IllegalArgumentException] {
        StreamOps.mixedIntakeBatch(batch, 2L, hist, 4, "html", "payload", "doc_id",
          outDir, minQuality = 0.0, gates = gates)
      }
      assert(thrown.getMessage.contains("urlDedupCol"))
    } finally dropTextHistory(hist)
  }

  test("L42d intake leg: Pareto-noisy classifier keep — survivors equal the closed-form per-row rule, tail docs pass probabilistically, clean docs all pass") {
    import graft.operators.{Dedup, QualityClassifier => QC}
    val hist = "t_pareto_hist"
    val outDir = tmpDir("pareto_out")
    dropTextHistory(hist)
    try {
      def toks(seed: Long) = (0 until 30).map(i => s"tok${seed}w$i").mkString(" ")
      def gib(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      val clf = QC.train(
        ((900L to 904L).map(s => (s, toks(s), 1)) ++
          (905L to 909L).map(s => (s, gib(toks(s)), 0))).toDF("id", "text", "y"),
        "text", "id", "y", dim = 128, epochs = 2)
      // alpha = 0.5: a zero-score doc keeps with probability ~2^-0.5 ≈
      // 0.71, so the deterministic ring draw leaves BOTH outcomes
      // represented across 12 ids — the tail-diversity property a hard
      // threshold destroys
      val alpha = 0.5
      val rows = (0L until 12L).map(i => (i, gib(toks(100 + i)))) ++
        (20L until 23L).map(i => (i, toks(200 + i)))
      val batch = rows.map { case (id, t) => (id, s"<p>$t</p>") }
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(qualityPareto = Some((clf, alpha)))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      // the cleaned text equals the raw text here (plain tokens, single
      // spaces), so the intake decision must equal the rule applied
      // directly — the l39d oracle pins the rule itself cross-engine
      val expected = rows.toDF("doc_id", "text")
        .where(QC.paretoKeeps($"text", $"doc_id", clf, alpha))
        .select($"doc_id").as[Long].collect().toSet
      assert(out === expected, s"intake $out != closed-form $expected")
      // the noise cuts BOTH ways by design (GPT-3 appendix A): a
      // high-scoring doc with an unlucky tiny β draw can die too
      // (P ≈ 1 − (2−s)^−α), so assert representation, not unanimity
      assert(((20L until 23L).toSet & expected).nonEmpty,
        "high-scoring docs should be represented")
      val gibIds = (0L until 12L).toSet
      assert((gibIds & expected).nonEmpty, "Pareto noise should admit SOME tail docs at alpha=0.5")
      assert((gibIds -- expected).nonEmpty, "…and reject the rest")
    } finally dropTextHistory(hist)
  }

  test("L46 intake leg: trained language-ID routing — wrong-language docs die before any scoring, keep-set docs survive") {
    import graft.operators.{Dedup, LangId}
    val hist = "t_langid_hist"
    val outDir = tmpDir("langid_out")
    dropTextHistory(hist)
    try {
      def toks(seed: Long) = (0 until 25).map(i => s"word${seed}x$i").mkString(" ")
      def xx(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      val labeled = ((1L to 15L).map(i => (i, toks(i), "en")) ++
        (16L to 30L).map(i => (i, xx(toks(i)), "xx"))).toDF("id", "text", "lang")
      // dim 2048, not 64: the confidence-floor plant below relies on
      // its unseen bigrams landing in UNTRAINED buckets (at dim 64
      // every bucket is trained and collisions score the plant high)
      val model = LangId.train(labeled, "text", "id", "lang",
        Seq("en", "xx"), dim = 2048, epochs = 2, ngram = 2)
      val batch = Seq(
        (100L, s"<p>${toks(40)}</p>"),      // en → kept
        (101L, s"<p>${xx(toks(41))}</p>"),  // xx → dropped
        (102L, s"<p>${toks(42)}</p>"),      // en → kept
        (103L, s"<p>${xx(toks(43))}</p>"))  // xx → dropped
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(langIdKeep = Some((model, Set("en"))))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      assert(out === Set(100L, 102L), s"language routing broke: $out")
      // confidence floor (CCNet §4.2): a doc in NEITHER language —
      // char bigrams the training never saw — scores ≈ the bias on
      // every head (p ≈ 0.5). Its argmax STILL lands somewhere in the
      // keep set half the time, so pure argmax routing admits it; the
      // floor is what kills it. Same batch re-run with the floor on:
      // both in-set docs (p ≈ 1) survive, the off-distribution plant
      // dies on confidence alone.
      // symbol soup: no char bigram of it ever appears in the training
      // texts (letters + digits), so every head scores near its bias
      val soup = (0 until 25).map(_ => "##@@%%^^&&**").mkString(" ")
      val batch2 = Seq(
        (200L, s"<p>${toks(50)}</p>"),   // en, p ≈ 1 → survives the floor
        (201L, s"<p>$soup</p>"))         // unseen alphabet → low top score
        .toDF("doc_id", "html")
      import graft.functions.{TextFunctions => TFn}
      val scores = batch2.select($"doc_id",
        graft.operators.LangId.scoresMicro(
          TFn.normalizeText(TFn.stripHtml($"html")), model).as("s"))
        .select($"doc_id", $"s.en", $"s.xx").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // the plant's top head must actually sit below the floor (and the
      // control's above) or this test asserts nothing
      assert(math.max(scores(201L)._1, scores(201L)._2) < 900000L,
        s"plant not low-confidence: ${scores(201L)}")
      assert(math.max(scores(200L)._1, scores(200L)._2) >= 900000L,
        s"control not high-confidence: ${scores(200L)}")
      assert(StreamOps.mixedIntakeBatch(batch2, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(
          langIdKeep = Some((model, Set("en", "xx"))),
          langIdMinScoreMicro = 900000L)))
      val out1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out1 === Set(200L),
        s"the confidence floor must kill the off-distribution doc: $out1")
    } finally dropTextHistory(hist)
  }

  test("L47 intake leg: DSIR threshold keep — the intake decision equals the closed-form noised rule; target-like docs survive, off-distribution docs die") {
    import graft.operators.{Dedup, Dsir}
    val hist = "t_dsir_hist"
    val outDir = tmpDir("dsir_out")
    dropTextHistory(hist)
    try {
      // a SHARED clean vocabulary in DISJOINT 30-word slices: batch
      // docs carry features the models actually saw (the distribution
      // signal, not hash-collision noise) while staying far from each
      // other in shingle space (the intake loop's near-dedup leg must
      // not collapse them)
      val vocab = (0 until 180).map(i => s"cleanword$i")
      def slice(j: Int) = vocab.slice(30 * j, 30 * j + 30).mkString(" ")
      def gib(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      val target = (0 to 5).map(j => (900L + j, slice(j))).toDF("id", "text")
      val raw = ((0 to 5).map(j => (910L + j, slice(j))) ++
        (0 to 5).map(j => (920L + j, gib(slice(j))))).toDF("id", "text")
      val m = Dsir.train(target, raw, "text", dim = 4096)
      val rows = (0L until 6L).map(i => (i, slice(i.toInt))) ++
        (10L until 16L).map(i => (i, gib(slice(i.toInt - 10))))
      val batch = rows.map { case (id, t) => (id, s"<p>$t</p>") }
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(dsir = Some((m, 0L)))))
      val out = spark.read.parquet(s"$outDir/batch-0")
        .select($"doc_id").as[Long].collect().toSet
      // cleaned text == raw text (plain tokens), so the intake decision
      // must equal the rule applied directly — the l43 oracle pins the
      // weight+noise arithmetic itself cross-engine
      val expected = rows.toDF("doc_id", "text")
        .where(Dsir.keeps($"text", $"doc_id", m, 0L))
        .select($"doc_id").as[Long].collect().toSet
      assert(out === expected, s"intake $out != closed-form $expected")
      // direction: 30-token margins dwarf the Gumbel noise here, so the
      // in-distribution docs all clear 0 and the permuted docs all miss
      assert((0L until 6L).toSet.subsetOf(expected),
        s"target-like docs must survive: $expected")
      assert(((10L until 16L).toSet & expected).isEmpty,
        s"off-distribution docs must die: $expected")
    } finally dropTextHistory(hist)
  }

  test("L7b intake leg: Dolma PII policy — PII-dense docs drop, survivors carry MASKED text (and so do their history hashes)") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Dedup
    val hist = "t_pii_hist"
    val outDir = tmpDir("pii_out")
    dropTextHistory(hist)
    try {
      def words(seed: Long) = (0 until 30).map(i => s"word${seed}w$i").mkString(" ")
      val batch = Seq(
        (1L, s"<p>${words(1)}</p>"), // clean → survives untouched
        (2L, s"<p>${words(2)} reach me at bob@mail.example.org</p>"), // masked
        (3L, s"<p>${words(3)} a@x.io b@y.io c@z.io host 10.0.0.7</p>")) // dense → drops
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(pii = Some(2))))
      val out = spark.read.parquet(s"$outDir/batch-0")
      val ids = out.select($"doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L), s"PII policy broke: $ids")
      val masked = out.where($"doc_id" === 2L)
        .select($"text").as[String].head()
      assert(masked.contains("<EMAIL>") && !masked.contains("@"),
        s"survivor must carry the masked text: $masked")
      // the exact-hash history must hold the MASKED text's hash — a
      // re-crawl with a DIFFERENT email at the same spot is the same
      // document after masking and must die against history
      val batch2 = Seq(
        (10L, s"<p>${words(2)} reach me at alice@other.example.com</p>"))
        .toDF("doc_id", "html")
      assert(StreamOps.mixedIntakeBatch(batch2, 1L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0,
        gates = StreamOps.TextGates(pii = Some(2))))
      val out2 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().toSet
      assert(out2.isEmpty,
        s"mask-equal re-crawl must die against the masked history: $out2")
    } finally dropTextHistory(hist)
  }

  test("L48 all-gates composition: url dedup + host blocklist + PII + language ID + Gopher + classifier + Pareto + DSIR in ONE intakeBatch — one attributable kill per gate, survivors equal the closed-form rule composition") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Dedup, Dsir, GopherRules, LangId, QualityClassifier => QC}
    val hist = "t_allgate_hist"
    val outDir = tmpDir("allgate_out")
    dropTextHistory(hist)
    try {
      // shared 30-word vocab slices (disjoint per doc — near-dedup must
      // not fire; prefix-shared so char bigrams stay in-language)
      val vocab = (0 until 420).map(i => s"word$i")
      def slice(j: Int) = vocab.slice(30 * j, 30 * j + 30).mkString(" ")
      def gib(t: String) =
        t.map(c => if (c >= 'a' && c <= 'z') ('z' - (c - 'a')).toChar else c)
      // junk tokens: same character soup (langid sees 'en') but vocab
      // DSIR trains as raw-only — the dsir kill must be attributable
      def junk(j: Int) = vocab.slice(30 * j, 30 * j + 30)
        .map(w => w + "droj").mkString(" ")
      // ---- frozen models ----
      val langModel = LangId.train(
        ((0 to 3).map(j => (900L + j, slice(j), "en")) ++
          (0 to 3).map(j => (910L + j, gib(slice(j)), "xx")))
          .toDF("id", "text", "lang"),
        "text", "id", "lang", Seq("en", "xx"), dim = 1024, epochs = 2)
      // positives cover EVERY survivor-destined slice (0-4, 7): an
      // unseen-vocab doc scores ≈ the bias (p ≈ 0.5), which the Pareto
      // draw then kills ~97% of the time — the controls must sit at
      // p ≈ 1 so only the trained-negative plant dies on the clf legs
      val clf = QC.train(
        (Seq(0, 1, 2, 3, 4, 7).zipWithIndex.map { case (j, i) =>
          (920L + i, slice(j), 1) } :+
          ((930L, slice(12).replace("word", "negword"), 0)))
          .toDF("id", "text", "y"),
        "text", "id", "y", dim = 2048, epochs = 2)
      // DISJOINT samples (target = every survivor-destined slice, raw
      // = the junk vocabulary only): with target ⊂ raw the shared
      // tokens carry only the ±ln((nq+dim)/(np+dim)) smoothing sliver
      // and a couple of hash collisions with raw-only buckets flip an
      // unseen doc's sign — disjoint samples give every real token
      // ±0.65 ln-units, a ±38M-micro doc margin no collision or
      // Gumbel draw can cross
      val dsirModel = Dsir.train(
        (0 to 9).map(j => (940L + j, slice(j))).toDF("id", "text"),
        (4 to 7).map(j => (960L + j, junk(j))).toDF("id", "text"),
        "text", dim = 8192)
      // Gopher config relaxed to the synthetic corpus (30-word docs, no
      // stopwords) — only the planted bullet doc may trip it
      val gopher = GopherRules.Config(minWords = 5, minStopWords = 0,
        minAlphaFrac = 0.0, maxMeanWordLen = 20.0, maxBulletFrac = 0.5)
      val blocked = Seq("blocked.example.com").toDF("host")
      // ---- the batch: one control + one planted kill per gate ----
      val rows = Seq(
        (1L, slice(0), "http://a.example.com/x"),   // control: survives
        (2L, slice(1), "HTTP://A.example.com/x#f"), // url dup of 1 → url leg
        (3L, slice(2), "http://blocked.example.com/y"), // host blocklist
        (4L, slice(3) + " a@x.io b@y.io c@z.io 10.0.0.7 10.0.0.8",
          "http://d4.example.com/x"),               // PII-dense → drops
        (5L, slice(4) + " reach bob@mail.example.org",
          "http://d5.example.com/x"),               // PII-light → masked
        (6L, gib(slice(5)), "http://d6.example.com/x"), // wrong language
        (7L, ("• buy now\n" * 12) + slice(6).split(" ").take(8).mkString(" "),
          "http://d7.example.com/x"),               // Gopher bullet_frac
        (8L, slice(12).replace("word", "negword"),
          "http://d8.example.com/x"),               // trained-negative → clf
        (9L, junk(5), "http://d9.example.com/x"),   // raw-only vocab → dsir
        (10L, slice(7), "http://d10.example.com/x"),  // second control
        (13L, slice(9), "http://d13.example.com/x")) // clf-UNSEEN
        // vocab → p ≈ sigmoid(bias) ≈ 0.61: passes the 0.5 hard
        // threshold, but id 13's ring draw (u = 0.069, β = 0.154)
        // demands p > 0.846 — the Pareto leg's own attributable kill
      val batch = rows.map { case (id, t, u) =>
        (id, s"<p>$t</p>", u) }.toDF("doc_id", "html", "url")
      val gates = StreamOps.TextGates(
        gopherRules = Some(gopher),
        // alpha 0.5 (the L42d calibration): the trained positives sit at
        // p ~ 0.85-0.95, which alpha = 9 would kill ~half the time —
        // the composition needs controls that SURVIVE deterministically
        qualityPareto = Some((clf, 0.5)),
        hostBlocklist = Some(blocked),
        langIdKeep = Some((langModel, Set("en"))),
        dsir = Some((dsirModel, 0L)),
        pii = Some(2))
      assert(StreamOps.mixedIntakeBatch(batch, 0L, hist, 4, "html", "payload", "doc_id",
        outDir, minQuality = 0.0, urlDedupCol = Some("url"),
        // 500000, not 300000: the 6-pos/1-neg training pushes the
        // trained-negative plant only to p ~ 0.35 (GateProbe-read)
        qualityModel = Some((clf, 500000L)), gates = gates))
      val out = spark.read.parquet(s"$outDir/batch-0")
      val ids = out.select($"doc_id").as[Long].collect().toSet
      // closed form: the same per-row rules applied directly to the
      // body text (cleaning is identity on these plain-token bodies),
      // AFTER the url legs drop 2 (canonical dup) and 3 (blocked host)
      val expected = rows.toDF("doc_id", "text", "url")
        .where(!$"doc_id".isin(2L, 3L))
        .where(TF.piiKeeps($"text", 2))
        .select($"doc_id", TF.maskPiiAll($"text").as("text"))
        .where(LangId.keeps($"text", langModel, Set("en")))
        .where(GopherRules.keeps($"text", gopher))
        .where(QC.keeps($"text", clf, 500000L))
        .where(QC.paretoKeeps($"text", $"doc_id", clf, 0.5))
        .where(Dsir.keeps($"text", $"doc_id", dsirModel, 0L))
        .select($"doc_id").as[Long].collect().toSet
      assert(ids === expected, s"intake $ids != closed-form $expected")
      // attribution: controls survive, every plant died
      assert(Set(1L, 10L).subsetOf(ids), s"controls must survive: $ids")
      assert((Set(2L, 3L, 4L, 6L, 7L, 8L, 9L, 13L) & ids).isEmpty,
        s"every planted kill must fire: $ids")
      // the masked survivor carries masked text into the output
      assert(ids.contains(5L), s"the PII-light doc must survive masked: $ids")
      val t5 = out.where($"doc_id" === 5L).select($"text").as[String].head()
      assert(t5.contains("<EMAIL>") && !t5.contains("@"),
        s"PII survivor must be masked: $t5")
    } finally dropTextHistory(hist)
  }
}
