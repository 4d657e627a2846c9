package graft.tools

import graft.operators.Dedup
import graft.streaming.StreamOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Diagnostic: Spark jobs launched by ONE steady-state text-only
  * [[StreamOps.mixedIntakeBatch]] (a batch with no payload column) —
  * the driver-overhead number ask #6 is about (jobs × micro-batches ×
  * streams multiplies at production cadence).
  *
  * `main("multimodal")` probes a binary-only batch (no html column)
  * instead, and additionally reports the bytes held by cached
  * (localCheckpoint) blocks right after the measured batch — the
  * resident-blob-bytes number behind the r12 ask #5 barrier slimming. */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("multimodal")) { multimodal(); return }
    if (args.headOption.contains("alllegs")) { allLegs(); return }
    if (args.headOption.contains("ivf")) { ivf(); return }
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val table = "jcp_hist"
    val outDir = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/jcp_out"
    val outP = new org.apache.hadoop.fs.Path(outDir)
    outP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(outP, true)
    Dedup.IntakeHistory.drop(spark, table)
    def docs(ids: Range) = ids.map(_.toLong).toDF("doc_id")
      .select($"doc_id", concat(lit("<p>"),
        array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), $"doc_id", lit("w"), i)), " "),
        lit("</p>")).as("html"))
    // seed + fold so the measured batch is steady-state
    StreamOps.mixedIntakeBatch(docs(0 until 3000), 0L, table, 8,
      "html", "payload", "doc_id", outDir)
    Dedup.IntakeHistory.fold(spark, table)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = names.synchronized {
        names += s"job ${js.jobId}: [${js.stageInfos.map(si => si.name.takeWhile(_ != '(')).mkString(" | ")}] desc=${Option(js.properties.getProperty("spark.job.description")).getOrElse("").take(80)}"
      }
    }
    spark.sparkContext.addSparkListener(listener)
    StreamOps.mixedIntakeBatch(docs(3000 until 4500), 1L, table, 8,
      "html", "payload", "doc_id", outDir)
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
    spark.sparkContext.removeSparkListener(listener)
    println(s"[jobcount] text-only mixedIntakeBatch steady-state jobs = ${names.size}")
    names.foreach(n => println(s"[jobcount]   $n"))
    spark.stop()
  }

  /** `main("ivf")` — jobs per persisted-index probe call (the VERDICT
    * r18 #2 driver-round-trip number): one warm [[graft.operators
    * .Similarity.ivfTopKIndexed]] call and one steady-state
    * [[graft.operators.Similarity.semanticIncrementalDelta]] call,
    * per-job names. */
  private def ivf(): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    import spark.implicits._
    val table = "jcp_ivf_idx"
    Similarity.dropIvfIndex(spark, table)
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (math.abs((i * 2654435761L + j * 40503L) % 1000) / 500.0 - 1.0).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(spark, vecs(0 until 4000), table, nLists = 16)
    val queries = vecs(0 until 64).toDF("q_id", "q_vec")
    // warm-up (plan caches, codegen) so the measured calls are steady
    Similarity.ivfTopKIndexed(spark, queries, table, k = 5).count()
    Similarity.semanticIncrementalDelta(spark, vecs(4000 until 4100), table,
      tau = 0.999).count()
    def measure(tag: String)(body: => Unit): Unit = {
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = names.synchronized {
          names += s"job ${js.jobId}: [${js.stageInfos.map(si => si.name.takeWhile(_ != '(')).mkString(" | ")}]"
        }
      }
      spark.sparkContext.addSparkListener(listener)
      body
      org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
      spark.sparkContext.removeSparkListener(listener)
      println(s"[jobcount] $tag jobs = ${names.size}")
      names.foreach(n => println(s"[jobcount]   $n"))
    }
    measure("ivfTopKIndexed") {
      Similarity.ivfTopKIndexed(spark, queries, table, k = 5).count(): Unit
    }
    measure("semanticIncrementalDelta") {
      Similarity.semanticIncrementalDelta(spark, vecs(4100 until 4200), table,
        tau = 0.999).count(): Unit
    }
    // the maintenance/append paths the VERDICT r18 #2 family also prices:
    // jobs per streaming delta append and per full index build
    // (sample + lloyd + 2 table writes + meta)
    measure("appendToIvfDelta") {
      Similarity.appendToIvfDelta(spark, vecs(4200 until 4300), table,
        batchId = 1)
    }
    measure("writeIvfIndex") {
      Similarity.dropIvfIndex(spark, "jcp_ivf_idx2")
      Similarity.writeIvfIndex(spark, vecs(0 until 4000), "jcp_ivf_idx2",
        nLists = 16)
    }
    spark.stop()
  }

  private def multimodal(): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.operators.Multimodal
    val table = "jcp_mm_hist"
    val outDir = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/jcp_mm_out"
    val outP = new org.apache.hadoop.fs.Path(outDir)
    outP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(outP, true)
    graft.operators.Dedup.MultimodalHistory.drop(spark, table)
    // a mixed batch: one third each of images, audio clips, video clips
    def mixed(ids: Range) = {
      val f = ids.map(_.toLong).toDF("doc_id").select($"doc_id", $"doc_id".as("__seed"))
      Multimodal.syntheticPpmMixed(f.where($"doc_id" % 3 === 0), "__seed", 32, 32)
        .unionByName(Multimodal.syntheticWavPcm16(f.where($"doc_id" % 3 === 1), "__seed"))
        .unionByName(Multimodal.syntheticY4mBlocks(f.where($"doc_id" % 3 === 2), "__seed", 64, 32, 4))
        .select($"doc_id", $"payload")
    }
    // seed + fold every history so the measured batch is steady-state
    StreamOps.mixedIntakeBatch(mixed(0 until 900), 0L, table, 8,
      "html", "payload", "doc_id", outDir)
    graft.operators.Dedup.MultimodalHistory.fold(spark, table)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = names.synchronized {
        names += s"job ${js.jobId}: [${js.stageInfos.map(si => si.name.takeWhile(_ != '(')).mkString(" | ")}] desc=${Option(js.properties.getProperty("spark.job.description")).getOrElse("").take(80)}"
      }
    }
    spark.sparkContext.addSparkListener(listener)
    StreamOps.mixedIntakeBatch(mixed(900 until 1350), 1L, table, 8,
      "html", "payload", "doc_id", outDir)
    // resident checkpoint bytes BEFORE the frames go out of scope —
    // the number the one-payload-checkpoint design bounds
    val cached = spark.sparkContext.getRDDStorageInfo
    val bytes = cached.map(i => i.memSize + i.diskSize).sum
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
    spark.sparkContext.removeSparkListener(listener)
    println(s"[jobcount] binary-only mixedIntakeBatch steady-state jobs = ${names.size}")
    println(f"[jobcount] resident checkpoint blocks = ${cached.length}, bytes = $bytes%,d")
    cached.sortBy(-_.memSize).take(12).foreach(i =>
      println(f"[jobcount]   rdd ${i.id}: ${i.memSize + i.diskSize}%,d B  ${i.name}"))
    names.foreach(n => println(s"[jobcount]   $n"))
    spark.stop()
  }

  /** `main("alllegs")` — attribute the StreamingSpec L44 composed pin:
    * one steady-state [[StreamOps.mixedIntakeBatch]] with EVERY leg on
    * (url dedup, boilerplate off/paragraph on, classifier, buckets,
    * gram + multimodal decontamination, embeddings), per-job names. */
  private def allLegs(): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.operators.{Decontaminate, Multimodal, NgramLm, QualityClassifier => QC}
    val table = "jcp_all_hist"
    val evalG = "jcp_all_evalg"
    val evalM = "jcp_all_evalmm"
    val outDir = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/jcp_all_out"
    val outP = new org.apache.hadoop.fs.Path(outDir)
    outP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(outP, true)
    StreamOps.dropMixedHistory(spark, table)
    Decontaminate.dropEvalGrams(spark, evalG)
    Decontaminate.dropEvalIdentities(spark, evalM)
    def toks(seed: Long) = (0 until 40).map(i => s"tok${seed}w$i").mkString(" ")
    Decontaminate.writeEvalGrams(spark,
      Seq((1L, "an eval item alpha beta gamma delta epsilon")).toDF("id", "text"),
      "text", evalG, n = 5)
    Decontaminate.writeEvalIdentities(spark,
      Multimodal.syntheticPpmMixed(Seq((7000L, 7000L)).toDF("doc_id", "__seed"),
          "__seed", 16, 16)
        .select($"doc_id", $"payload",
          lit(null).cast("array<float>").as("embedding"))
        .unionByName(Seq((7001L, Array(1f, 0f, 0f, 0f)))
          .toDF("doc_id", "embedding")
          .select($"doc_id", lit(null).cast("binary").as("payload"), $"embedding")),
      "payload", "doc_id", evalM, embCol = Some("embedding"), nLists = 2)
    val lm = NgramLm.trainCharBigram(
      (900L to 905L).map(s => (s, toks(s))).toDF("doc_id", "text"), "text")
    val th = NgramLm.PplThresholds(-99.0, 0L, 99.0, 0L) // routing CASE on, never drops
    val clf = QC.train(
      ((960L to 962L).map(s => (s, toks(s), 1)) ++
        (963L to 965L).map(s => (s, toks(s), 0))).toDF("id", "text", "y"),
      "text", "id", "y", dim = 256, epochs = 2, lr = 0.5)
    def batch(ids: Range) = {
      val f = ids.map(_.toLong).toDF("doc_id")
      f.where($"doc_id" % 3 === 0).select($"doc_id",
          concat(lit("<p>tokens "), $"doc_id", lit(" body</p>")).as("html"),
          concat(lit("http://h"), $"doc_id", lit(".example.com/")).as("url"),
          lit(null).cast("binary").as("payload"),
          lit(null).cast("array<float>").as("embedding"))
        .unionByName(Multimodal.syntheticPpmMixed(
            f.where($"doc_id" % 3 === 1).select($"doc_id", $"doc_id".as("__seed")),
            "__seed", 16, 16)
          .select($"doc_id", lit(null).cast("string").as("html"),
            lit(null).cast("string").as("url"), $"payload",
            lit(null).cast("array<float>").as("embedding")))
        .unionByName(f.where($"doc_id" % 3 === 2).select($"doc_id",
          lit(null).cast("string").as("html"),
          lit(null).cast("string").as("url"),
          lit(null).cast("binary").as("payload"),
          transform(sequence(lit(0), lit(7)),
            j => (pmod(hash($"doc_id", j), lit(1000)) / lit(500.0) - 1.0)
              .cast("float")).as("embedding")))
    }
    def run(ids: Range, b: Long) = StreamOps.mixedIntakeBatch(batch(ids), b,
      table, 8, "html", "payload", "doc_id", outDir, minQuality = 0.0,
      embCol = Some("embedding"), decontaminate = Some((evalG, 5)),
      paragraphDedup = true, lmBuckets = Some((lm, th, Set("head", "middle"))),
      decontaminateMm = Some(evalM), urlDedupCol = Some("url"),
      qualityModel = Some((clf, 300000L)))
    run(0 until 900, 0L)
    StreamOps.maintainMixedHistories(spark, table, maxDeltaRatio = 1e-9)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = names.synchronized {
        names += s"job ${js.jobId}: [${js.stageInfos.map(si => si.name.takeWhile(_ != '(')).mkString(" | ")}] desc=${Option(js.properties.getProperty("spark.job.description")).getOrElse("").take(80)}"
      }
    }
    spark.sparkContext.addSparkListener(listener)
    run(900 until 1350, 1L)
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext) // deterministic drain (ADVICE r19)
    spark.sparkContext.removeSparkListener(listener)
    println(s"[jobcount] all-legs mixedIntakeBatch steady-state jobs = ${names.size}")
    names.foreach(n => println(s"[jobcount]   $n"))
    spark.stop()
  }
}
