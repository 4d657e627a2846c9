package graft

import graft.operators.Smt
import graft.sources.{AvroSerde, ConnectorConfig, JdbcBridge, KafkaEnvelope}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's END-TO-END dataflow (SURVEY §0), run live in one test:
  *
  * RDBMS --(JDBC source, mode=incrementing)--> Kafka topic (framed Avro)
  *   --(SMT chain)--> (Debezium JDBC sink: upsert)--> RDBMS
  *
  * with the engine's pieces in the same roles: `ConnectorConfig.pollSource`
  * (resumable offsets) → `KafkaEnvelope.wrap` → `AvroSerde.serializeFramed`
  * / `deserializeRegistry` (registry wire format + schema resolution) →
  * `Smt.*` → `JdbcBridge.applyCdcBatch` into embedded Derby — then a
  * second poll proves offset resume (only NEW rows flow), and read-back
  * equality proves the sink applied exactly the source rows. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("full connect pipeline: incremental poll -> framed Avro topic -> SMT -> live CDC sink -> resume") {
    val url = "jdbc:derby:memory:pipeline;create=true"
    val stateDir = tmpDir("pipeline_offsets")
    val cfg = ConnectorConfig.Config("pipe", Map(
      "table" -> "events", "mode" -> "incrementing",
      "incrementing.column.name" -> "event_id"))

    val valueCols = Seq("event_id", "user_id", "event_type", "value")
    val valueSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val writerJson = AvroSerde.avroSchemaFor(valueSchema)

    // one "connector cycle": poll → topic encode → topic decode → SMT → sink
    def runCycle(): Long = {
      val poll = ConnectorConfig.pollSource(spark, sf0001, cfg, stateDir)
      val batch = poll.batch.select(valueCols.map(col): _*)
      // produce: Kafka envelope with framed-Avro VALUE (the topic leg)
      val wire = AvroSerde.serializeFramed(batch, valueCols, schemaId = 7)
        .select(col("avro_value"))
      // consume: registry decode (writer selected by frame id) + SMT chain
      val decoded = AvroSerde.deserializeRegistry(wire, "avro_value",
          Map(7 -> writerJson), valueSchema, "v")
        .select(col("v.event_id").as("event_id"), col("v.user_id").as("user_id"),
          col("v.event_type").as("event_type"), col("v.value").as("value"))
        .transform(Smt.renameFields("value" -> "amount"))
        .transform(Smt.maskFields(None, "user_id"))
      val n = decoded.count()
      if (n > 0)
        JdbcBridge.applyCdcBatch(decoded, url, "events_t", Seq("event_id"),
          ord = Seq(lit(1)), isTombstone = lit(false))
      poll.commit()
      n
    }

    // seed the sink table with the post-SMT schema (PK on event_id)
    val sinkSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("amount", DoubleType)))
    JdbcBridge.createTable(url, "events_t", sinkSchema, Seq("event_id"))

    // cycle 1: everything flows
    val total = graft.sources.Tables.events(spark, sf0001).count()
    assert(runCycle() === total)

    // cycle 2: offsets resumed — nothing new, sink untouched
    assert(runCycle() === 0L)

    // read-back equality through the real JDBC source: every source row
    // arrived exactly once, SMT applied (value renamed, user_id masked)
    val back = JdbcBridge.read(spark, ConnectorConfig.Config("sink", Map(
      "connection.url" -> url, "table" -> "events_t",
      "partition.column" -> "event_id",
      "partition.lower.bound" -> "1",
      "partition.upper.bound" -> "100000", "tasks.max" -> "4")))
    assert(back.count() === total)
    assert(back.where($"user_id".isNotNull).count() === 0L) // masked
    val expect = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"value".as("amount"))
    val got = back.select($"event_id", $"amount")
    assert(got.join(expect, Seq("event_id", "amount"), "left_anti").count() === 0L)
    assert(expect.join(got, Seq("event_id", "amount"), "left_anti").count() === 0L)
  }

  test("ConnectorRunner: a properties-only pipeline — bounded polls drain into a live upsert sink") {
    import graft.sources.ConnectorRunner
    val url = "jdbc:derby:memory:runner;create=true"
    val stateDir = tmpDir("runner_offsets")
    // the ENTIRE pipeline as one Connect-style config: incremental
    // source bounded to 400 rows/poll, a 3-transform SMT chain, an
    // auto-created PK upsert sink — no code besides the properties
    val cfg = ConnectorConfig.Config("runner", ConnectorConfig.parseFlatJson("""{
      "table": "events", "mode": "incrementing",
      "incrementing.column.name": "event_id",
      "batch.max.rows": 400,
      "transforms": "trim,mask,tag",
      "transforms.trim.type": "org.apache.kafka.connect.transforms.ReplaceField$Value",
      "transforms.trim.exclude": "ts,props",
      "transforms.trim.renames": "value:amount",
      "transforms.mask.type": "org.apache.kafka.connect.transforms.MaskField$Value",
      "transforms.mask.fields": "user_id",
      "transforms.tag.type": "org.apache.kafka.connect.transforms.InsertField$Value",
      "transforms.tag.static.field": "pipeline",
      "transforms.tag.static.value": "r7",
      "connection.url": "jdbc:derby:memory:runner;create=true",
      "table.name.format": "events_r", "insert.mode": "upsert",
      "pk.fields": "event_id", "auto.create": "true"}"""))
    val total = graft.sources.Tables.events(spark, sf0001).count()
    // first bounded cycle delivers exactly the poll cap...
    assert(ConnectorRunner.runOnce(spark, sf0001, cfg, stateDir) === 400L)
    // ...drain finishes the backlog across further bounded polls
    assert(ConnectorRunner.drain(spark, sf0001, cfg, stateDir) === total - 400L)
    // drained: one more cycle delivers nothing
    assert(ConnectorRunner.runOnce(spark, sf0001, cfg, stateDir) === 0L)
    // read back through the real JDBC source: every row once, SMTs applied
    val back = JdbcBridge.read(spark, ConnectorConfig.Config("rb", Map(
      "connection.url" -> url, "table" -> "events_r")))
    assert(back.count() === total)
    assert(back.where($"user_id".isNotNull).count() === 0L)
    assert(back.where($"pipeline" === "r7").count() === total)
    val expect = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"value".as("amount"))
    val got = back.select($"event_id", $"amount")
    assert(got.join(expect, Seq("event_id", "amount"), "left_anti").count() === 0L)
    assert(expect.join(got, Seq("event_id", "amount"), "left_anti").count() === 0L)
    // redelivery idempotence (the upsert contract): wipe the offsets and
    // re-run — rows overwrite in place, the count stays exact
    val stateDir2 = tmpDir("runner_offsets2")
    assert(ConnectorRunner.runOnce(spark, sf0001, cfg, stateDir2) === 400L)
    assert(JdbcBridge.read(spark, ConnectorConfig.Config("rb2", Map(
      "connection.url" -> url, "table" -> "events_r"))).count() === total)
  }

  test("ConnectorRunner.drain: a Filter dropping every row still consumes the SOURCE") {
    import graft.sources.ConnectorRunner
    val stateDir = tmpDir("drain_filter")
    val outDir = tmpDir("drain_filter_out") + "/files"
    // every bounded poll survives the source but dies in the chain —
    // "drained" must mean the SOURCE is empty, not that one cycle
    // delivered nothing (the old delivered-count termination stopped
    // after the first all-filtered poll with backlog left behind)
    val cfg = ConnectorConfig.Config("fdrain", Map(
      "table" -> "events", "mode" -> "incrementing",
      "incrementing.column.name" -> "event_id", "batch.max.rows" -> "400",
      "transforms" -> "tag,f",
      "transforms.tag.type" -> "InsertField$Value",
      "transforms.tag.static.field" -> "topic",
      "transforms.tag.static.value" -> "ev",
      "transforms.f.type" -> "Filter",
      "transforms.f.predicate" -> "p",
      "predicates.p.type" -> "predicates.TopicNameMatches",
      "predicates.p.pattern" -> "ev",
      "sink.path" -> outDir))
    assert(ConnectorRunner.drain(spark, sf0001, cfg, stateDir) === 0L)
    // offsets really advanced past the filtered rows: an UNFILTERED
    // pass over the same state delivers nothing
    val unfiltered = ConnectorConfig.Config("fdrain2",
      cfg.settings - "transforms")
    assert(ConnectorRunner.runOnce(spark, sf0001, unfiltered, stateDir) === 0L)
  }

  test("ConnectorRunner: sink misconfiguration fails the FIRST cycle even when every row is filtered") {
    import graft.sources.ConnectorRunner
    // both sinks configured + a Filter dropping everything: the old
    // n>0-gated validation let this 'drain' silently and commit offsets
    // past the data (r7 ADVICE) — now the config fails before any poll
    val cfg = ConnectorConfig.Config("badsink", Map(
      "table" -> "events", "mode" -> "incrementing",
      "incrementing.column.name" -> "event_id",
      "transforms" -> "tag,f",
      "transforms.tag.type" -> "InsertField$Value",
      "transforms.tag.static.field" -> "topic",
      "transforms.tag.static.value" -> "ev",
      "transforms.f.type" -> "Filter",
      "transforms.f.predicate" -> "p",
      "predicates.p.type" -> "predicates.TopicNameMatches",
      "predicates.p.pattern" -> "no-such-topic",
      "connection.url" -> "jdbc:derby:memory:badsink;create=true",
      "table.name.format" -> "t",
      "sink.path" -> (tmpDir("badsink") + "/files")))
    val stateDir = tmpDir("badsink_offsets")
    val e = intercept[IllegalArgumentException] {
      ConnectorRunner.runOnce(spark, sf0001, cfg, stateDir)
    }
    assert(e.getMessage.contains("ONE sink"))
    // nothing was committed: a corrected config still sees the backlog
    val fixed = ConnectorConfig.Config("badsink2",
      cfg.settings - "connection.url" - "table.name.format" - "transforms")
    assert(ConnectorRunner.runOnce(spark, sf0001, fixed, stateDir) > 0L)
  }

  test("ConnectorRunner: errors.tolerance=all delivers clean rows and quarantines corrupt ones to the DLQ path") {
    import graft.sources.ConnectorRunner
    val base = tmpDir("tol_all")
    val outDir = base + "/out"; val dlqDir = base + "/dlq"
    // every 100th event's props payload is truncated JSON at the SOURCE
    // (query mode); the converter must split, not fail, not silently null
    val cfg = ConnectorConfig.Config("tol", Map(
      "query" -> ("SELECT event_id, CASE WHEN event_id % 100 = 0 " +
        "THEN '{\"k\": ' ELSE props END AS props FROM events"),
      "mode" -> "incrementing", "incrementing.column.name" -> "event_id",
      "batch.max.rows" -> "700",
      "value.converter" -> "json",
      "value.converter.column" -> "props",
      "value.converter.schema" -> "k INT",
      "errors.tolerance" -> "all",
      "errors.deadletter.path" -> dlqDir,
      "sink.path" -> outDir))
    val total = graft.sources.Tables.events(spark, sf0001).count()
    val corrupt = graft.sources.Tables.events(spark, sf0001)
      .where($"event_id" % 100 === 0).count()
    assert(ConnectorRunner.drain(spark, sf0001, cfg, base + "/state")
      === total - corrupt)
    // clean side: parsed field flattened to a top-level column, raw gone
    val out = spark.read.parquet(outDir)
    assert(out.columns.toSet === Set("event_id", "k"))
    assert(out.count() === total - corrupt)
    assert(out.where($"event_id" % 100 === 0).count() === 0L)
    // DLQ side: exactly the planted rows, raw payload preserved verbatim
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() === corrupt)
    assert(dlq.where($"raw" === "{\"k\": ").count() === corrupt)
    assert(dlq.select($"event_id").except(
      graft.sources.Tables.events(spark, sf0001)
        .where($"event_id" % 100 === 0).select($"event_id")).count() === 0L)
  }

  test("ConnectorRunner: errors.tolerance=none fails loudly BEFORE the offset commit") {
    import graft.sources.ConnectorRunner
    val base = tmpDir("tol_none")
    val cfg = ConnectorConfig.Config("strict", Map(
      "query" -> ("SELECT event_id, CASE WHEN event_id % 100 = 0 " +
        "THEN '{\"k\": ' ELSE props END AS props FROM events"),
      "mode" -> "incrementing", "incrementing.column.name" -> "event_id",
      "value.converter" -> "json",
      "value.converter.column" -> "props",
      "value.converter.schema" -> "k INT",
      "sink.path" -> (base + "/out")))
    val e = intercept[IllegalStateException] {
      ConnectorRunner.runOnce(spark, sf0001, cfg, base + "/state")
    }
    assert(e.getMessage.contains("errors.tolerance=none"))
    // the failed cycle committed nothing: switching the same state to
    // tolerance=all still sees the whole backlog
    val tolerant = ConnectorConfig.Config("strict2", cfg.settings
      + ("errors.tolerance" -> "all"))
    val total = graft.sources.Tables.events(spark, sf0001).count()
    val corrupt = graft.sources.Tables.events(spark, sf0001)
      .where($"event_id" % 100 === 0).count()
    assert(ConnectorRunner.runOnce(spark, sf0001, tolerant, base + "/state")
      === total - corrupt)
  }

  test("handoff: properties-driven bounded polls -> SMT -> streaming near-dedup -> JDBC upsert, exactly-once through a crash replay") {
    import graft.operators.Dedup
    import graft.sources.ConnectorRunner
    import graft.streaming.StreamOps
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger

    // corpus: 10 distinct docs, then near-dups of docs 1-3 plus ONE new
    // doc arriving later (higher doc_id => later bounded poll) — the
    // continuous-ingest shape: yesterday's corpus is already history
    // when today's batch lands
    val sents = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank while birds sing",
      "distributed query engines shuffle partitions across executors and prune columns at the columnar scan layer",
      "a watermark bounds state growth in streaming joins so the store evicts rows once event time passes",
      "bucketed tables join without exchanges because both sides already share the same hash partitioning on disk",
      "minhash signatures approximate jaccard similarity by taking minima of permuted shingle hashes per band",
      "vector indexes cluster embeddings around centroids so a probe scans only the nearest inverted lists",
      "the schema registry resolves writer schemas by id so consumers decode framed avro payloads safely",
      "morton keys interleave rank bits while hilbert walks keep file regions connected across octant boundaries",
      "dead letter queues quarantine malformed records so healthy rows keep flowing through the connector",
      "offset commits follow sink writes so a crash between the two redelivers the batch idempotently")
    val fresh = "compaction rewrites bucketed history tables keeping survivors so probes stop dragging dead bands"
    val corpus =
      sents.zipWithIndex.map { case (t, i) => (i + 1L, t, s"note-${i + 1}") } ++
      (1 to 3).map(i => (10L + i, sents(i - 1) + " zzextra", s"note-dup$i")) :+
      ((14L, fresh, "note-14"))
    val srcDir = tmpDir("handoff_src")
    corpus.toDF("doc_id", "text", "note")
      .write.parquet(s"$srcDir/documents.parquet")

    // leg 1, the reference's user contract: ONE properties map — bounded
    // incremental polls, an SMT dropping the payload cruft, a file sink
    // landing each poll for the streaming leg to pick up
    val staging = tmpDir("handoff_staging")
    val cfg = ConnectorConfig.Config("handoff", Map(
      "table" -> "documents", "mode" -> "incrementing",
      "incrementing.column.name" -> "doc_id",
      "batch.max.rows" -> "5",
      "transforms" -> "trim",
      "transforms.trim.type" -> "org.apache.kafka.connect.transforms.ReplaceField$Value",
      "transforms.trim.exclude" -> "note",
      "sink.path" -> staging))
    val stateDir = tmpDir("handoff_offsets")

    // leg 2: streaming near-dedup against the persisted band history,
    // survivors upserted into Derby. nearDedupBatch is exactly-once on
    // the survivor dirs (batch-id pointer); the JDBC leg is
    // at-least-once + PK upsert — replays re-deliver the same rows
    // idempotently, never skip them (a skip would LOSE a crash that hit
    // between survivor write and upsert)
    val url = "jdbc:derby:memory:handoff;create=true"
    JdbcBridge.createTable(url, "docs_s", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))),
      Seq("doc_id"))
    val hist = "t_handoff_hist"
    Dedup.BandHistory.drop(spark, hist)
    val survDir = tmpDir("handoff_surv")
    val ckpt = tmpDir("handoff_ckpt")
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def deliver(batch: DataFrame, batchId: Long): Unit = {
      seen += batchId
      StreamOps.nearDedupBatch(batch, batchId, hist, 4, "text", "doc_id", survDir): Unit
      val surv = spark.read.parquet(s"$survDir/batch-$batchId")
        .select($"doc_id", $"text")
      JdbcBridge.upsert(surv, url, "docs_s", Seq("doc_id"))
    }
    def runStream(): Unit = {
      val q = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(staging)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => deliver(b, id))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sinkRows(): Set[(Long, String)] =
      JdbcBridge.read(spark, ConnectorConfig.Config("rb", Map(
        "connection.url" -> url, "table" -> "docs_s")))
        .as[(Long, String)].collect().toSet

    try {
      // day 1: two bounded polls land docs 1-10; the stream builds the
      // history and delivers all ten (nothing to dedup against yet)
      assert(ConnectorRunner.runOnce(spark, srcDir, cfg, stateDir) === 5L)
      assert(ConnectorRunner.runOnce(spark, srcDir, cfg, stateDir) === 5L)
      // the SMT ran inside the runner: the staging files carry no cruft
      assert(!spark.read.parquet(staging).columns.contains("note"))
      runStream()
      val day1 = sinkRows()
      assert(day1.map(_._1) === (1L to 10L).toSet)

      // CRASH REPLAY: the worker dies after the survivor write + pointer
      // flip but before the checkpoint commit — the batch re-delivers
      // whole. nearDedupBatch skips (pointer already at this id), the
      // upsert re-applies the identical survivor dir: the sink must not
      // change by a single row
      val lastId = seen.last
      deliver(spark.read.parquet(staging), lastId)
      assert(sinkRows() === day1, "crash replay changed the sink")

      // day 2: the remaining poll lands the three near-dups + one new
      // doc; the stream dedups against the PERSISTED history — only the
      // new doc survives to the sink
      assert(ConnectorRunner.drain(spark, srcDir, cfg, stateDir) === 4L)
      runStream()
      val day2 = sinkRows()
      assert(day2.map(_._1) === (1L to 10L).toSet + 14L,
        s"expected docs 1-10 + 14, got ${day2.map(_._1).toSeq.sorted}")
      assert(day2.count(_._1 == 14L) === 1)
      assert((day2 -- day1).map(_._1) === Set(14L),
        "near-dups of the persisted history leaked into the sink")

      // and replaying the day-2 batch is idempotent too
      deliver(spark.read.parquet(staging), seen.last)
      assert(sinkRows() === day2)
    } finally Dedup.BandHistory.drop(spark, hist)
  }
}
