package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import graft.operators.{C4Rules, GopherRules, SmtChain}
import graft.sources.{AvroSerde, ConnectorConfig, IncrementalSource}
import graft.streaming.StreamOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one timed cycle did: records in the committed batch, whether the
  * batch and the reader's result matched the oracle, how many history
  * folds the compaction step fired, and the reader-query times. */
final case class CycleOutcome(records: Long, batchOk: Boolean, readOk: Boolean,
    folds: Int, readS: Seq[Double], detail: String)

/** A closed-loop workload: `produce` lands the next input (the producer
  * side, untimed), `batch` runs the engine on it, `read` is the
  * downstream reader, `compact` the between-batch maintenance. The loop
  * never starts a batch before the previous cycle returned. */
abstract class Workload(val spark: SparkSession, val dir: Path, val seed: Long,
    val tracer: Tracer) {
  protected def span[T](name: String)(f: => T): T = tracer.span(name)(f)
  val digest = new Gen.Digest
  /** Seed the state or history to its starting size, as batch 0. */
  def seedState(): Unit
  def produce(batchId: Long): Unit
  def batch(batchId: Long): Unit
  def read(batchId: Long): CycleOutcome
  def compact(): Int = 0
  /** Oracle mismatches seen while seeding and warming up. */
  val setupProblems = ArrayBuffer.empty[String]
  protected def check(o: CycleOutcome): Unit =
    if (!o.readOk) setupProblems += s"set-up ${o.detail}"

  /** Layer readings only the workload can take: sizes on disk, and
    * outcome ratios over every cycle so far. */
  def layerReadings(): Map[String, Double] = Map.empty

  protected def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** The Connect path: bounded incrementing poll over an append-only
  * change log, registry Avro decode (v1, then v2 mid-run), a five-step
  * `transforms=` chain, CDC apply into the versioned state, and a reader
  * query (fixed key lookups plus one aggregate) against that state. */
final class CdcSync(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer,
    liveKeys: Int, batchRows: Int, v2AtBatch: Long)
    extends Workload(spark, dir, seed, tracer) {

  private val gen = new Gen.CdcGen(seed, liveKeys)
  private val sourceDir = dir.resolve("source").toString
  private val offsetDir = dir.resolve("offsets").toString
  private val stateDir = dir.resolve("state")
  private val lookups = gen.lookupKeys()

  private val v1 = StructType(Seq(
    StructField("id", LongType), StructField("op", StringType),
    StructField("cust_name", StringType), StructField("email", StringType),
    StructField("amount_cents", LongType), StructField("score", IntegerType)))
  private val v2 = v1.add(StructField("tier", StringType))
  private val v1Json = AvroSerde.avroSchemaFor(v1)
  private val v2Json = AvroSerde.avroSchemaFor(v2)
  private var registry = Map(1 -> v1Json)
  private var reader = v1
  private val sourceSchema = StructType(Seq(StructField("offset", LongType),
    StructField("topic", StringType), StructField("value", BinaryType)))

  /** The sink connector's `transforms=` chain, as a Connect user writes it. */
  private val chain = SmtChain.fromConfig(ConnectorConfig.Config("orders-sink", Map(
    "transforms" -> "dropHeartbeats,rename,mask,source,castScore",
    "predicates" -> "isHeartbeat",
    "predicates.isHeartbeat.type" ->
      "org.apache.kafka.connect.transforms.predicates.TopicNameMatches",
    "predicates.isHeartbeat.pattern" -> ".*\\.heartbeat",
    "transforms.dropHeartbeats.type" -> "org.apache.kafka.connect.transforms.Filter",
    "transforms.dropHeartbeats.predicate" -> "isHeartbeat",
    "transforms.rename.type" -> "org.apache.kafka.connect.transforms.ReplaceField$Value",
    "transforms.rename.renames" -> "cust_name:name",
    "transforms.mask.type" -> "org.apache.kafka.connect.transforms.MaskField$Value",
    "transforms.mask.fields" -> "email",
    "transforms.mask.replacement" -> "****",
    "transforms.source.type" -> "org.apache.kafka.connect.transforms.InsertField$Value",
    "transforms.source.static.field" -> "source_db",
    "transforms.source.static.value" -> "orders_pg",
    "transforms.castScore.type" -> "org.apache.kafka.connect.transforms.Cast$Value",
    "transforms.castScore.spec" -> "score:float64")))

  private val encoders = Map(1 -> v1Json, 2 -> v2Json).map { case (id, js) =>
    id -> new org.apache.avro.Schema.Parser().parse(js)
  }

  /** Confluent framing of one change: magic, schema id, Avro body. */
  private def frame(c: Gen.Change): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = encoders(c.schemaId)
    val r = new GenericData.Record(schema)
    r.put("id", c.id); r.put("op", c.op); r.put("cust_name", c.name)
    r.put("email", c.email); r.put("amount_cents", c.amountCents); r.put("score", c.score)
    if (c.schemaId == 2) r.put("tier", c.tier)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(AvroSerde.wireHeader(c.schemaId))
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
    new GenericDatumWriter[GenericRecord](schema).write(r, enc)
    enc.flush()
    bos.toByteArray
  }

  private var pendingBytes = 0L
  private var pendingRows = 0L
  private var maxPoll = batchRows
  /** Files each landing added to the change log, oldest first. */
  private val landedFiles = scala.collection.mutable.Queue.empty[Seq[Path]]

  private def logFiles(): Set[Path] = {
    val d = Path.of(sourceDir)
    if (!Files.exists(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filterNot(p => p.getFileName.toString.matches("\\.?_.*")).toSet
      finally s.close()
    }
  }

  private def land(changes: Seq[Gen.Change]): Unit = {
    val rows = changes.map { c =>
      val b = frame(c)
      digest.add(c.offset); digest.add(b)
      Row(c.offset, c.topic, b)
    }
    pendingBytes = rows.map(_.getAs[Array[Byte]](2).length.toLong).sum
    pendingRows = rows.size
    maxPoll = rows.size
    val before = logFiles()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sourceSchema)
      .coalesce(1).write.mode("append").parquet(sourceDir)
    // the log keeps the last few landings, as a topic with retention
    // does; every older one is committed already, and without retention
    // the poll would list and open a file more on every cycle
    landedFiles.enqueue((logFiles() -- before).toSeq)
    while (landedFiles.size > LogRetention) landedFiles.dequeue().foreach(Files.delete)
  }

  def seedState(): Unit = { land(gen.snapshot()); batch(0L); check(read(0L)) }

  private val LogRetention = 4

  def produce(batchId: Long): Unit = {
    if (batchId == v2AtBatch) {
      // the producer registers v2 and starts writing it mid-run; the
      // consumer reads with the latest registered schema from here on
      gen.v2 = true
      registry = registry + (2 -> v2Json)
      reader = v2
    }
    land(gen.batch(batchRows))
  }

  private val writeBytes = ArrayBuffer.empty[Double]
  private val snapshotBytes = ArrayBuffer.empty[Double]

  def batch(batchId: Long): Unit = span("batch") {
    val poll = span("poll") {
      IncrementalSource.pollIncrementing(
        spark.read.schema(sourceSchema).parquet(sourceDir), "offset", offsetDir,
        maxRowsPerPoll = maxPoll)
    }
    val decoded = span("decode") {
      AvroSerde.deserializeRegistry(poll.batch, "value", registry, reader, "v")
        .select(col("offset"), col("topic"), col("v.*"))
    }
    val records = span("smt") { chain(decoded) }
    span("apply") {
      StreamOps.applyBatch(records, batchId, stateDir.toString, Seq("id"),
        Seq(col("offset")), col("op") === "d")
      poll.commit()
    }
    val snap = bytesUnder(stateDir.resolve(s"batch-$batchId"))
    snapshotBytes += snap.toDouble
    writeBytes += snap.toDouble / math.max(1L, pendingBytes)
  }

  private var lastCount = 0L

  def read(batchId: Long): CycleOutcome = {
    val r0 = System.nanoTime()
    val (look, agg) = span("read") {
      val st = StreamOps.readState(spark, stateDir.toString, reader)
      val hasTier = st.columns.contains("tier")
      val cols = Seq(col("id"), col("name"), col("email"), col("amount_cents"),
        col("score"), col("source_db")) ++
        (if (hasTier) Seq(col("tier")) else Seq(lit(null).cast("string").as("tier")))
      val look = st.where(col("id").isin(lookups: _*)).select(cols: _*).collect()
      val agg = st.agg(count(lit(1)), sum(col("amount_cents")),
        if (hasTier) count(col("tier")) else lit(0L)).collect()(0)
      (look, agg)
    }
    val readS = (System.nanoTime() - r0) / 1e9
    val got = look.map(r => r.getLong(0) -> r).toMap
    val lookOk = lookups.distinct.forall { k =>
      (gen.state.get(k), got.get(k)) match {
        case (None, None) => true
        case (Some(e), Some(r)) =>
          r.getString(1) == e.name && r.getString(2) == "****" &&
            r.getLong(3) == e.amountCents && r.getDouble(4) == e.score.toDouble &&
            r.getString(5) == "orders_pg" && r.getString(6) == e.tier
        case _ => false
      }
    }
    val expCount = gen.state.size.toLong
    val expSum = gen.state.valuesIterator.map(_.amountCents).sum
    val expTier = gen.state.valuesIterator.count(_.tier != null).toLong
    lastCount = agg.getLong(0)
    val aggOk = agg.getLong(0) == expCount &&
      (expCount == 0 || agg.getLong(1) == expSum) && agg.getLong(2) == expTier
    CycleOutcome(pendingRows, batchOk = true, readOk = lookOk && aggOk, 0, Seq(readS),
      if (lookOk && aggOk) "" else
        s"batch $batchId: reader saw count=${agg.getLong(0)} sum=${agg.get(1)} " +
          s"tier=${agg.getLong(2)}, oracle count=$expCount sum=$expSum tier=$expTier, lookups ok=$lookOk")
  }

  override def layerReadings(): Map[String, Double] = Map(
    "cdc.state_rows" -> lastCount.toDouble,
    "cdc.snapshot_bytes" -> Stats.median(snapshotBytes.toSeq),
    "cdc.write_amp" -> Stats.median(writeBytes.toSeq))
}

/** Five-family intake: text, image, audio, video and embedding rows in
  * one mixed micro-batch, with every family's history maintained
  * between batches. The reader scans the committed survivor ids, which
  * must be exactly the ids the generator planted as originals. */
final class FiveFamilyIntake(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer,
    table: String, batchRows: Int, maxDeltaRatio: Double)
    extends Workload(spark, dir, seed, tracer) {

  private val gen = new Gen.MixedGen(seed)
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("html", StringType), StructField("payload", BinaryType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  /** C4 line surgery, the Gopher rules and the PII policy (at most two
    * instances per document, masked). */
  private val gates = StreamOps.TextGates(gopherRules = Some(GopherRules.Config()),
    c4 = Some(C4Rules.Config()), pii = Some(2))
  private val outDir = dir.resolve("out")
  /** Planted kind of every row of the landed batch. */
  private var pending: Map[Long, Gen.Kind.Value] = Map.empty
  private var copies = 0L; private var copiesDropped = 0L
  private var origs = 0L; private var origsDropped = 0L
  private var rows = 0L; private var survivors = 0L

  private def inputPath(batchId: Long): String =
    dir.resolve("incoming").resolve(s"batch-$batchId").toString

  def produce(batchId: Long): Unit = {
    val landed = gen.batch(batchId * 10000000L, batchRows)
    landed.foreach { r =>
      digest.add(r.id); digest.add(r.html); digest.add(r.payload)
      if (r.emb != null) r.emb.foreach(x => digest.add(java.lang.Float.floatToIntBits(x).toLong))
    }
    pending = landed.map(r => r.id -> r.kind).toMap
    val data = landed.map(r => Row(r.id, r.html, r.payload,
      if (r.emb == null) null else r.emb.toSeq))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(inputPath(batchId))
  }

  def seedState(): Unit = { produce(0L); batch(0L); check(read(0L)) }

  def batch(batchId: Long): Unit = span("batch") {
    span("intake") {
      StreamOps.mixedIntakeBatch(spark.read.schema(schema).parquet(inputPath(batchId)),
        batchId, table, 8, "html", "payload", "doc_id", outDir.toString,
        extractBoilerplate = true, embCol = Some("embedding"), gates = gates)
    }
  }

  /** Fifteen downstream consumers each read the committed batch: its
    * ids and each row's content size. Every read is one sample. A read
    * of a 500-row batch takes about 60 ms and single reads vary by a
    * fifth, so a run of two cycles needs this many for a steady median. */
  def read(batchId: Long): CycleOutcome = {
    val path = outDir.resolve(s"batch-$batchId").toString
    val timed = (1 to 15).map { _ =>
      val r0 = System.nanoTime()
      val committed = span("read") {
        spark.read.parquet(path).select(col("doc_id"),
          coalesce(length(col("payload")), length(col("text")), size(col("embedding"))))
          .collect()
      }
      // every committed row must still carry its content
      val ids = committed.filterNot(_.isNullAt(1)).map(_.getLong(0)).toSet
      (ids, (System.nanoTime() - r0) / 1e9)
    }
    val got = timed.head._1
    val expected = pending.collect { case (id, Gen.Kind.Original) => id }.toSet
    copies += pending.count(kv => Gen.Kind.isCopy(kv._2))
    copiesDropped += pending.count(kv => Gen.Kind.isCopy(kv._2) && !got(kv._1))
    origs += expected.size
    origsDropped += expected.count(!got(_))
    rows += pending.size; survivors += got.size
    val ok = timed.forall(_._1 == expected)
    CycleOutcome(pending.size.toLong, batchOk = true, readOk = ok, 0, timed.map(_._2),
      if (ok) "" else {
        val missing = expected -- got; val extra = got -- expected
        s"batch $batchId: ${missing.size} originals dropped (e.g. ${missing.take(3)}), " +
          s"${extra.size} planted rows kept (e.g. ${extra.take(3).map(i => i -> pending(i))})"
      })
  }

  override def compact(): Int = span("compact") {
    StreamOps.maintainMixedHistories(spark, table, maxDeltaRatio).size
  }

  /** Outcome ratios, and the bytes of the history tables' bucketed
    * mains and their deltas (`<table>__delta` directories), straight
    * from the warehouse. */
  override def layerReadings(): Map[String, Double] = {
    val wh = Path.of(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val dirs =
      if (!Files.exists(wh)) Seq.empty[Path]
      else {
        val s = Files.list(wh)
        try s.toArray.toSeq.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.startsWith(table))
        finally s.close()
      }
    val (delta, main) = dirs.partition(_.getFileName.toString.endsWith("__delta"))
    val d = delta.map(bytesUnder).sum.toDouble
    val m = main.map(bytesUnder).sum.toDouble
    Map("history.main_bytes" -> m, "history.delta_bytes" -> d,
      "history.bytes_per_survivor" -> (if (survivors == 0) 0.0 else (m + d) / survivors),
      "intake.dup_recall" -> (if (copies == 0) 0.0 else copiesDropped.toDouble / copies),
      "intake.false_drop_frac" -> (if (origs == 0) 0.0 else origsDropped.toDouble / origs),
      "intake.survivor_frac" -> (if (rows == 0) 0.0 else survivors.toDouble / rows))
  }
}
