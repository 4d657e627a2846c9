package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Production write side of the WARC/WET story — the bounded-container
  * packer plus its exactly-once streaming leg. [[graft.sources.Warc]]
  * is the read side; `Warc.packWet` is the FIXTURE-grade writer (one
  * `collect_list` row per caller-chosen bucket — a whole container on
  * one row with no size bound, fine for registry fixtures, wrong for a
  * corpus). This sink is what a pipeline that CLAIMS the write side
  * runs at 100 TB:
  *
  *  - **Bounded containers.** Rows are sharded by url hash, ordered by
  *    (url, text) within the shard, and cut into containers by CUMULATIVE
  *    payload bytes — the [[graft.operators.Packing.packSequences]]
  *    start-div discipline, so every container carries at most
  *    `maxContainerBytes` plus one record of overshoot (CommonCrawl
  *    ships ~1 GB files for exactly this reason: a container must fit
  *    a reader task). The per-record byte estimate counts the text,
  *    the url, and the fixed record framing.
  *  - **Deterministic bytes.** Shard assignment, in-shard order, and
  *    container cuts are pure functions of the rows, so a replayed
  *    batch rebuilds BIT-IDENTICAL containers — that is what makes the
  *    overwrite-then-flip delivery below exactly-once rather than
  *    merely idempotent-ish (StreamingSpec pins the bytes equal across
  *    a simulated crash).
  *  - **Exactly-once delivery.** The [[graft.streaming.StreamOps
  *    .mixedIntakeBatch]] contract verbatim: write `batch-<id>` with
  *    mode(overwrite), then flip the `_LATEST` pointer via
  *    [[graft.sources.AtomicPointer]]. A fully-replayed batch no-ops
  *    on the pointer; a crash between write and flip replays into an
  *    identical overwrite; consumers ([[readContainers]]) read only
  *    batches the pointer has published.
  *
  * Scale shape: one shuffle to (shard) for the cumulative cut (the
  * window), one shuffle to (shard, seq) for assembly — both on keys
  * whose cardinality the caller controls; assembly materializes at
  * most ONE container per group, i.e. memory is bounded by
  * `maxContainerBytes`, by construction, per task. Nothing reads or
  * rewrites previously published batches.
  */
object WetSink {

  /** Fixed framing estimate per record (version line, WARC-Type,
    * Content-Type, Content-Length headers, blank line, terminator) —
    * the url and text are counted exactly on top of this. */
  private val RecordOverhead = 128L

  /** Container output schema: the shard, the container sequence number
    * within the shard, the WET container bytes, and its record/byte
    * tallies (the sanity columns a pipeline materializes next to the
    * files — the [[graft.operators.Packing.sequenceStats]] habit). */
  val containerSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("warc", BinaryType),
    StructField("n_records", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Pack (url, text) rows into byte-bounded WET containers.
    * Containers are `conversion` records in url order (the
    * [[graft.sources.Warc.buildWet]] grammar; one gzip member per
    * record when `gzip`, the CommonCrawl layout). Every container's
    * estimated payload is ≤ `maxContainerBytes` + one record. Rows
    * with a NULL url or text are dropped — the write side serializes
    * survivor rows, which carry both by construction. */
  def packBounded(df: DataFrame, urlCol: String, textCol: String,
      maxContainerBytes: Long, shards: Int = 256,
      gzip: Boolean = false): DataFrame = {
    require(maxContainerBytes > 0, "maxContainerBytes must be positive")
    require(shards > 0, "shards must be positive")
    // total order inside the shard: url, then text (ADVICE r18) — with
    // url alone, two distinct texts under a duplicate url tie, and a
    // container cut falling between them would pick members
    // nondeterministically across replays, breaking bit-identical
    // replay. Identical (url, text) pairs are interchangeable bytes, so
    // the pair IS a total order for every observable purpose.
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__url"), col("__text"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = df
      .select(col(urlCol).as("__url"), col(textCol).as("__text"))
      .where(col("__url").isNotNull && col("__text").isNotNull)
      .withColumn("__shard",
        pmod(xxhash64(col("__url")), lit(shards)).cast("int"))
      .withColumn("__bytes", octet_length(col("__text")).cast("long") +
        octet_length(col("__url")) + lit(RecordOverhead))
      .withColumn("__end", sum(col("__bytes")).over(w))
      // start-div binning (the packSequences discipline): the record
      // whose payload STARTS inside bin k belongs to container k
      .withColumn("__seq", expr(s"(__end - __bytes) div $maxContainerBytes"))
    val grouped = cut
      .groupBy(col("__shard"), col("__seq"))
      .agg(sort_array(collect_list(struct(col("__url"), col("__text"))))
        .as("__recs"),
        count(lit(1)).as("__n"), sum(col("__bytes")).as("__b"))
    val enc = RowEncoder.encoderFor(containerSchema)
    grouped.mapPartitions { rows =>
      rows.map { r =>
        val recs = r.getSeq[Row](2).map(x => (x.getString(0), x.getString(1)))
        Row(r.getInt(0), r.getLong(1),
          graft.sources.Warc.buildWet(recs, gzip), r.getLong(3), r.getLong(4))
      }
    }(enc)
  }

  /** One exactly-once container-write micro-batch (the
    * [[graft.streaming.StreamOps.mixedIntakeBatch]] pointer contract).
    * Returns false if `batchId` is already published (full replay:
    * no-op); a partial replay overwrites `batch-<id>` with identical
    * bytes and flips the pointer it crashed before. */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String,
      urlCol: String, textCol: String, maxContainerBytes: Long,
      shards: Int = 256, gzip: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(outDir)
    val pointer = new Path(root, "_LATEST")
    val current = graft.sources.AtomicPointer.read(hconf, pointer).map(_.toLong)
    current.foreach { cur =>
      if (cur == batchId) return false // full replay of this batch: no-op
      if (cur > batchId)
        // NOT a replay: foreachBatch only ever replays the most recent
        // uncommitted batch, so a smaller id means the stream restarted
        // with a FRESH checkpoint (ids reset to 0) against a published
        // outDir. Silently no-op'ing here would drop every new batch
        // with no error (ADVICE r18) — fail loudly instead.
        throw new IllegalStateException(
          s"WetSink at $outDir has published through batch $cur but " +
          s"received batch $batchId — the checkpoint and outDir are out " +
          "of step (fresh checkpoint against an existing sink?). " +
          "Refusing to drop data: point the stream at a new outDir or " +
          "restore the matching checkpoint.")
    }
    packBounded(batch, urlCol, textCol, maxContainerBytes, shards, gzip)
      .write.mode("overwrite").parquet(new Path(root, s"batch-$batchId").toString)
    graft.sources.AtomicPointer.write(hconf,
      new Path(root, s"_LATEST.tmp-$batchId"), pointer, batchId.toString)
    true
  }

  /** [[writeBatch]] as a streaming sink — caller `.start()`s it. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      urlCol: String, textCol: String, maxContainerBytes: Long,
      shards: Int = 256, gzip: Boolean = false): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir, urlCol, textCol,
          maxContainerBytes, shards, gzip): Unit
      }

  /** Materialize the PUBLISHED containers as CommonCrawl-layout files
    * (`batch-B-shard-S-seq-Q.warc.wet[.gz]`) under `fileDir` — the
    * transfer half of the S13 FileSink lesson applied here: ship only
    * what the `_LATEST` pointer published, never a directory listing
    * (a crashed batch's parquet is invisible to [[readContainers]],
    * so it cannot leak into the export). Idempotent by construction:
    * every file stages to a tmp sibling and overwrite-renames (the
    * [[graft.sources.AtomicPointer]] flip, binary form), and container
    * bytes are deterministic, so a re-export after any crash rewrites
    * identical files. Executor-side `foreachPartition` — container
    * bytes never visit the driver; one file per container, sized by
    * the packer's `maxContainerBytes`. Returns the file count. */
  def exportFiles(spark: SparkSession, outDir: String,
      fileDir: String): Long = {
    val rows = readContainers(spark, outDir)
      .select(col("batch_id"), col("shard"), col("seq"), col("warc"))
    val n = spark.sparkContext.longAccumulator("wet_files")
    // ship the driver's RESOLVED conf (site files + spark.hadoop.*
    // session settings — object-store credentials, endpoints, fs impls)
    // rather than rebuilding a bare Configuration on the executor,
    // which sees only the classpath site files (ADVICE r18)
    val serConf = new graft.sources.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    rows.foreachPartition { it: Iterator[Row] =>
      val hconf = serConf.value
      var fs: org.apache.hadoop.fs.FileSystem = null
      it.foreach { r =>
        val warc = r.getAs[Array[Byte]](3)
        val gz = warc.length >= 2 && (warc(0) & 0xff) == 0x1f &&
          (warc(1) & 0xff) == 0x8b
        val name = f"batch-${r.getLong(0)}%d-shard-${r.getInt(1)}%04d-" +
          f"seq-${r.getLong(2)}%06d.warc.wet" + (if (gz) ".gz" else "")
        val dest = new Path(fileDir, name)
        if (fs == null) fs = dest.getFileSystem(hconf)
        val tmp = new Path(fileDir, s".$name.tmp")
        val out = fs.create(tmp, true)
        try out.write(warc) finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, hconf)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        n.add(1)
      }
    }
    n.value
  }

  /** Every PUBLISHED container (batches 0..pointer, the exactly-once
    * read view — an unflipped crashed batch directory is invisible
    * here, the FileSink `_spark_metadata` lesson), with the batch id
    * stamped per row. Empty frame when nothing is published yet. */
  def readContainers(spark: SparkSession, outDir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(outDir)
    val withBatch = containerSchema.add(StructField("batch_id", LongType))
    graft.sources.AtomicPointer.read(hconf, new Path(root, "_LATEST")) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withBatch)
      case Some(id) =>
        // ONE multi-path scan, not a union of one scan per batch — a
        // per-batch union builds an O(batches) driver plan on every
        // read after thousands of micro-batches (ADVICE r18). The
        // path list is the PUBLISHED range ∩ one directory listing:
        // the pointer bound keeps crashed unpublished batch dirs
        // invisible, and the listing tolerates a sink whose first
        // published batch id is > 0 (a checkpoint resumed against a
        // fresh outDir) instead of assuming every id since 0 exists.
        // The batch id is recovered per row from the file path.
        val fs = root.getFileSystem(hconf)
        val present = fs.listStatus(root)
          .map(_.getPath.getName).filter(_.startsWith("batch-")).toSet
        val paths = (0L to id.toLong).map(b => s"batch-$b")
          .filter(present).map(d => new Path(root, d).toString)
        if (paths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withBatch)
        else spark.read.schema(containerSchema).parquet(paths: _*)
          .withColumn("batch_id", regexp_extract(input_file_name(),
            "batch-(\\d+)/[^/]*$", 1).cast("long"))
    }
  }
}
