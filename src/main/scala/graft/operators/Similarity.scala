package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY §2.9 L3/L4):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * approximate variant as the scale path.
  *
  * Zero-norm/empty embeddings score NaN and are excluded from every
  * top-k (Spark sorts NaN above all doubles — unfiltered, one broken
  * vector would rank #1 for every query).
  *
  * 100 TB shapes:
  *  - brute force: `queries` is small (user-supplied) → broadcast it;
  *    the corpus streams through map-side scoring in one whole-stage-
  *    codegen'd pass, then a two-stage top-k: the bounded
  *    [[Aggregators.topK]] combiner reduces every input partition to a
  *    ≤k-element buffer map-side, so the per-query shuffle carries
  *    k × partitions rows, never the scored corpus. (A plain
  *    `row_number() OVER (PARTITION BY q_id)` would funnel every score
  *    for a query into one task — the straggler that kills 100×.)
  *  - ANN: corpus pre-bucketed by hyperplane signature (narrow, one
  *    pass); a query probes only its own bucket → per-bucket scan.
  *    Multi-probe (flip one bit) bounds recall loss; recall/latency is
  *    tuned by nPlanes.
  */
object Similarity {

  /** Two-stage top-k over a scored frame with columns (qId, cId,
    * cos_sim): map-side bounded-heap partial aggregation per qId, one
    * k×partitions-row shuffle, final merge, explode best-first →
    * rank = position+1. Same (cos_sim desc, cId asc) order and output
    * columns as the window form it replaces. `cId` must be integral
    * (carried as long through the combiner, cast back on output). */
  private def topKStage(scored: DataFrame, k: Int,
      qId: String, cId: String): DataFrame = {
    val cIdType = scored.schema(cId).dataType
    val tk = udaf(Aggregators.topK(k))
    // no pre-aggregation `where` on cos_sim: NULL/NaN scores and NULL
    // ids are skipped inside the combiner's reduce (ScoredIn) — a
    // filter on the scored alias gets substituted into the join
    // condition by pushdown and re-evaluates the cosine kernel 2-3×
    // per candidate pair, the dominant cost of the whole scan
    scored
      .groupBy(col(qId))
      .agg(tk(col("cos_sim"), col(cId).cast("long")).alias("__top"))
      .select(col(qId), posexplode(col("__top")))
      .select(col(qId), col("col.id").cast(cIdType).alias(cId),
        col("col.sim").alias("cos_sim"), (col("pos") + 1).alias("rank"))
  }

  /** L4 — exact brute-force cosine top-k for each query vector. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qId), col(cId), VF.cosineNative(col(qVec), col(cVec)).alias("cos_sim"))
    topKStage(scored, k, qId, cId)
  }

  /** L4 (oracle-deterministic variant) — brute-force top-k over the
    * integer-quantized grid: exact cross-engine-reproducible scores
    * (see VectorFunctions.cosineQ), same broadcast + two-stage shape. */
  def bruteForceTopKQ(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    // quantize BELOW the join, once per row — inside the post-join
    // projection each corpus vector would be re-quantized once per
    // query and each query vector once per corpus row (the O(dim) HOF
    // transform rivals the cosine kernel itself). Projects on the join
    // inputs cannot be collapsed through the join, so these stick.
    val cq = corpus.select(col(cId), VF.quantize(col(cVec)).alias("__cq"))
    val qq = queries.select(col(qId), VF.quantize(col(qVec)).alias("__qq"))
    val scored = cq.crossJoin(broadcast(qq))
      .select(col(qId), col(cId), VF.cosineQ(col("__qq"), col("__cq")).alias("cos_sim"))
    topKStage(scored, k, qId, cId)
  }

  /** ANN via IVF (inverted-file) coarse quantization: `nLists`
    * deterministic coarse centroids — sampled hash-strided from the
    * corpus (the minimum-id vector of each `pmod(shuffleKey(id), nLists)`
    * ring bucket), then refined by `lloydIters` deterministic Lloyd's
    * iterations (assign → per-list mean → reassign); every corpus vector
    * is assigned to its nearest centroid, and a query scans only the
    * `nProbe` centroid lists closest to it.
    *
    * Hash-strided, not smallest-id (the previous sample): low ids
    * typically correlate with one ingest batch/domain, which made every
    * centroid a near-neighbor of that domain and skewed the inverted
    * lists badly for everything else. The ring hash de-correlates the
    * pick from ingest order while staying a pure function of the ids —
    * equally deterministic, recall pinned by the `l04d` planted contract.
    * A ring bucket can be EMPTY on small/collision-heavy corpora (one
    * centroid per populated bucket only) — the sample is topped back up
    * to min(nLists, corpus) by id-order fill so the effective list count
    * never silently drops below what the caller asked for.
    *
    * Lloyd's refinement is deterministic end-to-end: per-list means are
    * computed over the QUANTIZED integer grid (long sums are exact and
    * aggregation-order-independent, unlike float sums), so the refined
    * centroids are a pure function of the data. Empty and degenerate
    * (all-zero mean) lists keep their sampled centroid. Each iteration
    * costs one assignment pass + one (list, dim)-grouped partial
    * aggregation whose result is nLists × dim rows — bounded driver-side
    * like the sample itself.
    *
    * 100 TB shape: the pick is one partial-aggregating groupBy into
    * nLists groups (each map task keeps ≤nLists (id, vec) candidates);
    * centroids broadcast (nLists ≪ corpus); assignment is one map-side
    * pass; the probe join shuffles on list id only. Recall improves with
    * nProbe at linear cost — the classic IVF trade-off. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4, lloydIters: Int = 1,
      qId: String = "q_id", qVec: String = "q_vec",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val centRows = buildCentroids(corpus, nLists, lloydIters, cId, cVec)
    val cents = typedLit(centRows.toSeq)
    val assigned = assign(corpus, cents, cId, cVec)
    val probes = queries.select(col(qId), col(qVec),
      explode(probeListsAgainst(cents, col(qVec), nProbe)).alias("__list"))
    // each corpus vector lives in exactly one list and probe lists are
    // distinct, so no (q, c) duplicates — two-stage top-k directly
    val probed = assigned.join(broadcast(probes), Seq("__list"))
      .select(col(qId), col(cId), VF.cosineNative(col(qVec), col(cVec)).alias("cos_sim"))
    topKStage(probed, k, qId, cId)
  }

  /** Per-vector scored lists against a centroid literal:
    * array<struct<list, sim>>. */
  private def scoredAgainst(cents: Column, vec: Column): Column =
    transform(cents, c => struct(c.getField("_1").alias("list"),
      VF.cosineNative(vec, c.getField("_2")).alias("sim")))

  /** Nearest list = running-max fold (no shuffle, no window). NaN sims
    * (zero-norm CORPUS vector — centroids are never degenerate) never
    * win the fold: `NaN > x` is true under Spark ordering, so without
    * the guard a broken vector would take the first list and, worse, a
    * NaN-scoring centroid would absorb everything. */
  private[graft] def nearestAgainst(cents: Column, vec: Column): Column =
    aggregate(scoredAgainst(cents, vec),
      struct(lit(-1L).alias("list"), lit(-2.0d).alias("sim")),
      (acc, x) => when(!isnan(x.getField("sim")) &&
        x.getField("sim") > acc.getField("sim"), x).otherwise(acc))
      .getField("list")

  /** nProbe nearest lists = sort the scored array desc, slice. Both this
    * and [[nearestAgainst]] break ties earliest-array-index-first, which
    * is what makes the planted-copy recall contracts (l04d/l04e) hold. */
  private def probeListsAgainst(cents: Column, vec: Column, nProbe: Int): Column =
    transform(slice(array_sort(scoredAgainst(cents, vec),
      (a, b) => when(a.getField("sim") > b.getField("sim"), -1)
        .when(a.getField("sim") < b.getField("sim"), 1).otherwise(0)),
      1, nProbe), c => c.getField("list"))

  /** The deterministic IVF coarse-quantizer build shared by [[ivfTopK]]
    * (per-call) and [[writeIvfIndex]] (persisted): hash-strided ring
    * sample, id-order top-up, `lloydIters` integer-grid Lloyd's
    * refinements. Returns the id-sorted centroid rows. */
  private def buildCentroids(corpus: DataFrame, nLists: Int, lloydIters: Int,
      cId: String, cVec: String): Array[(Long, Seq[Float])] = {
    require(lloydIters >= 0, "lloydIters must be >= 0")
    // Zero-norm/null vectors are excluded from the sample AND the mean:
    // such a centroid scores NaN against EVERY vector, and NaN wins
    // Spark's `>` — one broken centroid would capture the whole corpus
    // and degrade IVF to a per-query full scan.
    val validCorpusRaw = corpus
      .where(col(cVec).isNotNull && !isnan(VF.cosineNative(col(cVec), col(cVec))))
    // index build makes 1 (sample) + lloydIters (mean) passes over the
    // (id, vec) projection — persist it for the build's duration when
    // iterating (disk-spillable: at 100 TB the projection is a fraction
    // of the table, and re-scanning parquet per pass costs more than the
    // spill; released before the caller's probe plan is built)
    val buildPasses = 1 + lloydIters
    val validCorpus =
      if (buildPasses > 1) validCorpusRaw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else validCorpusRaw
    // Collect the nLists centroid vectors (bounded, driver-side by
    // design — same footprint as broadcasting them) into one literal
    // array<struct<list, cent>> so assignment is a pure projection.
    var centRows: Array[(Long, Seq[Float])] = validCorpus
      .groupBy(pmod(Sampling.shuffleKey(cId), lit(nLists.toLong)).alias("__rb"))
      .agg(min_by(struct(col(cId).cast("long").alias("id"), col(cVec).alias("vec")),
        col(cId)).alias("__c"))
      .select(col("__c.id"), col("__c.vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      // id-sorted centroid array: the nearest-list fold and the probe
      // sort both break ties by array position, so the array order must
      // itself be a pure function of the data
      .sortBy(_._1)
    if (centRows.length < nLists) {
      // id-order top-up for unpopulated ring buckets (TakeOrderedAndProject
      // — per-partition top-k then a k-row merge, never a global sort)
      val have = centRows.map(_._1).toSet
      val fill = validCorpus
        .select(col(cId).cast("long").alias("id"), col(cVec).alias("vec"))
        .where(!col("id").isin(have.toSeq: _*))
        .orderBy(col("id")).limit(nLists - centRows.length)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      centRows = (centRows ++ fill).sortBy(_._1)
    }
    val qScale = 1000000L
    for (_ <- 0 until lloydIters) {
      val cents0 = typedLit(centRows.toSeq)
      // per-(list, dimension) exact integer sums over the quantized grid;
      // result is <= nLists x dim rows — bounded like the sample collect.
      // Long sums are exact and aggregation-order-independent (float sums
      // are not), so the refined centroids are a pure function of the data
      val sums = validCorpus
        .select(nearestAgainst(cents0, col(cVec)).alias("__list"),
          posexplode(VF.quantize(col(cVec), qScale)))
        .groupBy(col("__list"), col("pos"))
        .agg(sum(col("col")).alias("s"), count(lit(1)).alias("n"))
        .collect()
      val byList = sums.groupBy(_.getLong(0))
      centRows = centRows.map { case (id, vec) =>
        byList.get(id) match {
          case Some(rows) =>
            val mean = new Array[Float](rows.map(_.getInt(1)).max + 1)
            rows.foreach { r =>
              mean(r.getInt(1)) =
                (r.getLong(2).toDouble / r.getLong(3) / qScale).toFloat
            }
            if (mean.forall(_ == 0f)) (id, vec)  // degenerate: keep sample
            else (id, mean.toSeq)
          case None => (id, vec)                 // empty list: keep sample
        }
      }
    }
    if (buildPasses > 1) validCorpus.unpersist(blocking = false)
    centRows
  }

  /** Driver-side cache behind [[readCentroids]], keyed by the centroid
    * table's catalog identity (qualified name, createTime, location).
    * Every path that changes a persisted quantizer creates a NEW
    * catalog table object — [[writeIvfIndex]] overwrites (drop +
    * recreate) and [[reclusterIvfIndex]] swaps via RENAME of a freshly
    * written side table — so a generation change always changes the
    * key; append/compact never touch the centroid table, correctly
    * sharing the cached copy. Bounded LRU (16 entries × nLists rows,
    * trivially small). Invalidation-across-rebuild is pinned in
    * DedupSpec. */
  private val centroidCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, String),
        Array[(Long, Seq[Float])]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String),
            Array[(Long, Seq[Float])]]): Boolean = size() > 16
    })

  /** The (nLists-row, driver-bounded) centroid table of a persisted
    * index, id-sorted — the same order as the build, so the
    * nearest-list fold and probe sort reproduce the build's
    * tie-breaks. Served from a generation-keyed driver cache: the
    * collect otherwise costs one Spark job on EVERY probe call (it led
    * every JobCountProbe trace), which at cluster scale is a scheduler
    * round-trip per micro-batch. */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
      table: String): Array[(Long, Seq[Float])] = {
    val centT = s"${table}_centroids"
    val key = try {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(centT))
      (meta.qualifiedName, meta.createTime, meta.location.toString)
    } catch { case scala.util.control.NonFatal(_) => null }
    if (key != null) {
      val hit = centroidCache.get(key)
      if (hit != null) return hit
    }
    val rows = spark.table(centT)
      .select(col("list"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    if (key != null) centroidCache.put(key, rows)
    rows
  }

  /** `df`'s (`cId`, `cVec`) rows with `__list`, the nearest centroid of
    * the `cents` literal — the assignment every build, append and
    * SemDeDup pass projects. */
  private def assign(df: DataFrame, cents: Column, cId: String,
      cVec: String): DataFrame =
    df.select(col(cId), col(cVec), nearestAgainst(cents, col(cVec)).alias("__list"))

  /** Mean cosine similarity of assigned rows (`cVec`, `__list`) to
    * their centroid — the tightness number the aging policy stands on.
    * Zero-norm/null vectors are excluded (they are indexed but score
    * NaN against any centroid; the mean must reflect list tightness,
    * not data hygiene). One bounded aggregate; a production deployment
    * would sample the input. */
  private def listTightness(df: DataFrame, cVec: String,
      centRows: Array[(Long, Seq[Float])]): (Long, Double) = {
    val centMap = typedLit(centRows.toMap)
    val sim = VF.cosineNative(col(cVec), element_at(centMap, col("__list")))
    val r = df.select(sim.alias("__s"))
      .where(col("__s").isNotNull && !isnan(col("__s")))
      .agg(count(lit(1)), avg(col("__s"))).head()
    (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
  }

  /** Persist an IVF index — the PRODUCTION shape: [[ivfTopK]] rebuilds
    * its coarse quantizer on every call (the honest per-call bench
    * cost), while a deployment builds the index once per corpus and
    * amortizes it over every query batch. Three tables:
    *
    *  - `table_centroids` — (list, centroid), nLists rows (the
    *    broadcast/driver side of every probe);
    *  - `table` — the corpus assigned to lists, BUCKETED on `__list`,
    *    so a probe (a) prunes the scan to the probed lists' bucket
    *    files (`SelectedBucketsCount` — pinned in PlanSpec) and
    *    (b) joins the broadcast probe frame with no corpus-side
    *    exchange. At 100 TB this is the difference between scanning
    *    nProbe/nLists of the corpus and scanning all of it;
    *  - `table_meta` — the build-time tightness baseline of
    *    [[ivfAging]] and the build parameters.
    *
    * Deterministic: same corpus + params → byte-identical index. A
    * build starts a new generation, so it clears the table's delta
    * state: the previous generation's delta rows were assigned under
    * the old centroids, and its fold manifest would skip the new
    * stream's first batch ids.
    *
    * Rebuilding in a NEW session over a non-durable metastore: call
    * [[dropIvfIndex]] first — `mode=overwrite` cannot see the previous
    * session's surviving warehouse directories (the
    * [[Layout.dropTableAndLocation]] rationale). */
  def writeIvfIndex(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      table: String, nLists: Int = 16, lloydIters: Int = 1,
      numBuckets: Int = 16,
      cId: String = "vec_id", cVec: String = "embedding"): Unit = {
    Layout.deleteDeltaState(spark, Layout.deltaDirOf(spark, table))
    writeIvfMeta(spark, table, writeGeneration(spark, corpus, corpus, table,
      s"${table}_centroids", nLists, lloydIters, numBuckets, cId, cVec))
  }

  /** One index generation — the sequence every build path shares:
    * train the quantizer on `trainOn`, write `rows` assigned to it into
    * the bucketed `mainT`, then the centroids into `centT`. Main
    * first: [[reclusterIvfIndex]]'s re-entry reads a registered
    * centroid side table as "main swap already committed". Returns the
    * generation's meta; its tightness rides the bucketed write as
    * observe() metrics — never a second scan of what was just written.
    *
    * A training set with no usable vector (all null or zero-norm)
    * fails here: a quantizer without centroids assigns every vector to
    * list -1, so probes return nothing — and an intake history would
    * stay that way (ensure skips existing tables; the NaN baseline
    * never triggers a retrain). */
  private def writeGeneration(spark: org.apache.spark.sql.SparkSession,
      trainOn: DataFrame, rows: DataFrame, mainT: String, centT: String,
      nLists: Int, lloydIters: Int, numBuckets: Int, cId: String,
      cVec: String): IvfMeta = {
    val centRows = buildCentroids(trainOn, nLists, lloydIters, cId, cVec)
    require(centRows.nonEmpty, s"IVF index $mainT: the training set has no " +
      "usable vector (every one is null or zero-norm), so the quantizer " +
      "would have no centroids — train on a set that carries some")
    val (obs, assigned) = observedAssignment(rows, centRows, cId, cVec)
    Layout.writeBucketed(assigned, mainT, Seq("__list"), numBuckets)
    val (n, mean) = assignmentStats(obs)
    import spark.implicits._
    centRows.toSeq.toDF("list", "centroid")
      .write.mode("overwrite").format("parquet").saveAsTable(centT)
    IvfMeta(mean, n, nLists, lloydIters)
  }

  /** The persisted index's one-row meta table: the quantizer's
    * build-time tightness (the [[ivfAging]] baseline) and the build
    * parameters a [[reclusterIvfIndex]] rebuild reuses. Rewritten by
    * every build and recluster. */
  private final case class IvfMeta(builtMeanSim: Double, builtRows: Long,
      nLists: Int, lloydIters: Int)

  private def writeIvfMeta(spark: org.apache.spark.sql.SparkSession,
      table: String, m: IvfMeta): Unit = {
    import spark.implicits._
    Seq((m.builtMeanSim, m.builtRows, m.nLists, m.lloydIters))
      .toDF("built_mean_sim", "built_rows", "n_lists", "lloyd_iters")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  private def readIvfMeta(spark: org.apache.spark.sql.SparkSession,
      table: String): IvfMeta = {
    require(spark.catalog.tableExists(s"${table}_meta"),
      s"${table}_meta missing — build the index with writeIvfIndex")
    val r = spark.table(s"${table}_meta")
      .select(col("built_mean_sim"), col("built_rows"),
        col("n_lists"), col("lloyd_iters")).head()
    IvfMeta(r.getDouble(0), r.getLong(1), r.getInt(2), r.getInt(3))
  }

  /** Create the embedding-history index `${table}_ei` if missing —
    * the [[graft.operators.Dedup.History.ensure]] discipline for the
    * embedding modality (crash-safe: a half-created index is dropped
    * whole and rebuilt; callers must pass the SAME first-batch vectors
    * on a replay, which foreachBatch guarantees). The quantizer trains
    * on `firstVectors` and freezes — the production SemDeDup seeding;
    * [[reclusterIfDrifted]] owns drift. The main table starts EMPTY:
    * every vector enters through [[appendToIvfDelta]]'s exactly-once
    * delta batches (folded by [[compactIvfDelta]]), so seeding it with
    * the training vectors would double-count the first batch.
    *
    * Returns whether the index exists. Seeding is deferred (false)
    * while `firstVectors` is empty: a quantizer trained on zero vectors
    * would freeze that way. The emptiness check (one limit-1 job) runs
    * only while the index is missing, so the steady-state loop pays
    * catalog checks alone. */
  def ensureSemanticHistory(spark: org.apache.spark.sql.SparkSession,
      firstVectors: DataFrame, table: String, nLists: Int = 16,
      numBuckets: Int = 16,
      cId: String = "vec_id", cVec: String = "embedding"): Boolean = {
    val t = s"${table}_ei"
    // all THREE tables must exist: a generation is written main →
    // centroids → meta, and a crash part-way leaves a prefix — without
    // the meta check that half-state would go undetected until
    // ivfAging / reclusterIfDrifted throw on their own require, long
    // after intake resumed on the crippled index
    if (Seq(t, s"${t}_centroids", s"${t}_meta").forall(spark.catalog.tableExists)) true
    else if (firstVectors.isEmpty) false
    else {
      dropIvfIndex(spark, t) // orphaned locations / half-created index
      writeIvfMeta(spark, t, writeGeneration(spark, firstVectors,
        firstVectors.limit(0), t, s"${t}_centroids", nLists, lloydIters = 1,
        numBuckets = numBuckets, cId = cId, cVec = cVec))
      true
    }
  }

  /** Drop a persisted IVF index (every table AND its warehouse
    * location, plus the delta state — see
    * [[Layout.dropTableAndLocation]] for why the location matters
    * across sessions). */
  def dropIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    Layout.dropWithDelta(spark, table)
    // the side tables, and the swap halves a crashed recluster may leave
    Seq("_centroids", "_meta", "__recluster", "_centroids__next")
      .foreach(s => Layout.dropTableAndLocation(spark, table + s))
  }

  /** The (observation, assigned-frame) pair of a generation write:
    * rows assigned to their nearest centroid, with the non-NaN row
    * count and tightness mean attached as observe() metrics so they
    * materialize DURING the caller's one write pass — never as a
    * separate scan (guide §1.2: no second pass for numbers the first
    * pass can carry). */
  private def observedAssignment(batch: DataFrame,
      centRows: Array[(Long, Seq[Float])], cId: String, cVec: String):
      (org.apache.spark.sql.Observation, DataFrame) = {
    val centMap = typedLit(centRows.toMap)
    val sim = VF.cosineNative(col(cVec), element_at(centMap, col("__list")))
    val ok = sim.isNotNull && !isnan(sim)
    val obs = org.apache.spark.sql.Observation()
    val assigned = assign(batch, typedLit(centRows.toSeq), cId, cVec)
      .observe(obs, count(when(ok, 1)).as("n_ok"), avg(when(ok, sim)).as("mean"))
    (obs, assigned)
  }

  /** (non-NaN rows, tightness mean) from an [[observedAssignment]]
    * observation — call only after the write action ran.
    *
    * Bounded wait (ADVICE r19): `Observation.get` blocks FOREVER if the
    * observed CollectMetrics node was dropped from the executed plan
    * (e.g. a future writeBucketed change re-projecting the frame, or a
    * write path bypassing the observed Dataset). The metrics land
    * within listener-bus latency of the action that just ran, so a
    * 30 s poll either returns them or fails loudly naming both
    * possible causes instead of hanging the build. */
  private def assignmentStats(
      obs: org.apache.spark.sql.Observation): (Long, Double) = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var m = org.apache.spark.sql.graftshim.ObservationBridge.getOrEmpty(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      m = org.apache.spark.sql.graftshim.ObservationBridge.getOrEmpty(obs)
    }
    require(m.nonEmpty,
      "observed assignment metrics did not arrive within 30 s. Either " +
        "the executed plan dropped the CollectMetrics node (the caller's " +
        "write must execute the observed Dataset itself, not a " +
        "re-projection of it — the observedAssignment contract), or the " +
        "listener bus did not deliver the metrics in time (a " +
        "backlogged or overloaded Spark driver)")
    val mean = m.get("mean") match {
      case Some(d: java.lang.Double) => d.toDouble
      case _ => Double.NaN
    }
    (m("n_ok").asInstanceOf[Long], mean)
  }

  /** Streaming-ingest append to a persisted IVF index, EXACTLY-ONCE:
    * assign `batch` to the EXISTING centroids (frozen quantizer, the
    * build's exact rule, so main ∪ delta is bit-identical to building
    * over old+new with these centroids) and land the assigned rows in
    * the index's delta directory through [[Layout.appendDelta]] —
    * `batch-<batchId>/` with mode=overwrite, so redelivery is
    * idempotent WITHOUT ever rewriting or even reading the main index
    * (the property that matters when the index is 100 TB and the batch
    * is minutes of data). One pass over the batch, one job.
    *
    * The delta is deliberately NOT bucketed: it stays small — bounded
    * by the [[compactIvfDelta]] cadence — so probe-side pruning on it
    * is parquet min/max, not bucket files; the 100 TB main table keeps
    * its bucket pruning. Drift is measured by [[ivfAging]], not here:
    * a streaming sink must not rescan the corpus per micro-batch.
    *
    * A batch the fold manifest records as already folded
    * ([[Layout.foldManifestDirOf]]) is SKIPPED: re-appending a folded
    * batch would let the next fold duplicate its vectors in the main
    * index — each then consuming two top-k slots. Corollary: batch ids
    * must be monotonic over the index lifetime (one streaming
    * checkpoint); rebuild with [[writeIvfIndex]] for a fresh stream. */
  def appendToIvfDelta(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, batchId: Long,
      cId: String = "vec_id", cVec: String = "embedding"): Unit =
    // readCentroids keeps the build order → the build's tie-breaks
    Layout.appendDelta(spark, table, batchId)(
      assign(batch, typedLit(readCentroids(spark, table).toSeq), cId, cVec))

  /** Fold the delta directory back into the bucketed main table
    * ([[Layout.foldDeltaIntoBucketed]]: write main ∪ delta to a tmp
    * table under the SAME bucket spec, drop, rename — and complete an
    * interrupted swap instead of dropping the only copy), then delete
    * the delta. No-op without a delta.
    *
    * Crash contract: the delta-dir rename to `__folded` is the commit
    * record, so re-entry after a crash at ANY point either completes
    * the fold or restores the delta and reruns — never duplicates and
    * never loses a vector. Between an interrupted run and its re-run,
    * probes may temporarily not see the delta rows (and a probe during
    * the drop-rename instant can fail to resolve the table) — the
    * standard swap-window caveat. */
  def compactIvfDelta(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    Layout.foldDeltaIntoBucketed(spark, table,
      noSpecHint = "build the index with writeIvfIndex first")

  /** The aging report behind the persisted index's re-clustering
    * policy: build-time tightness (recorded by [[writeIvfIndex]] in the
    * `_meta` table) vs the CURRENT tightness of main ∪ delta under the
    * frozen quantizer. `drift` is the absolute drop in mean cosine
    * similarity-to-assigned-centroid; `drifted` is the measured trigger
    * `drift > tau`. */
  final case class IvfAging(builtMeanSim: Double, builtRows: Long,
      currentMeanSim: Double, currentRows: Long, drift: Double,
      drifted: Boolean)

  /** Measure a persisted index's aging — the policy's READ side, safe
    * to run any time. The FROZEN quantizer keeps appends cheap and
    * deterministic, at the price that a shifting ingest distribution
    * slowly loosens the lists: probes stay CORRECT (every vector is in
    * exactly one list) but recall-per-nProbe decays as lists widen.
    * Tightness-drop is the standard proxy for that decay, and unlike
    * recall it needs no query workload to measure.
    *
    * `sampleFraction` < 1 measures the mean over a seeded Bernoulli
    * sample instead of the full index — the 100 TB read side (the mean
    * concentrates: at any production row count the sampling error is
    * orders below a sane τ, so pick a fraction whose sampled rows are
    * ~1e6+ and the trigger is unaffected; the build-time baseline is
    * exact either way). Seeded, so a re-read of an unchanged index
    * reports the same number. */
  def ivfAging(spark: org.apache.spark.sql.SparkSession, table: String,
      tau: Double = 0.02, cVec: String = "embedding",
      sampleFraction: Double = 1.0): IvfAging = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val meta = readIvfMeta(spark, table)
    val centRows = readCentroids(spark, table)
    val whole = Layout.withDelta(spark, table)
    val cur =
      if (sampleFraction < 1.0) whole.sample(sampleFraction, seed = 42L)
      else whole
    val (n, mean) = listTightness(cur, cVec, centRows)
    val drift = meta.builtMeanSim - mean
    IvfAging(meta.builtMeanSim, meta.builtRows, mean, n, drift,
      !drift.isNaN && drift > tau)
  }

  /** Re-cluster a persisted IVF index in place — the aging policy's
    * WRITE side: fold any delta, retrain the coarse quantizer over the
    * index's CURRENT content with the build's own recorded parameters,
    * re-assign every vector, and swap. Deterministic: the result is
    * bit-identical to [[writeIvfIndex]] over the same content (same
    * centroid sample, Lloyd's grid, bucket spec) — parity is pinned in
    * DedupSpec.
    *
    * This is a MAINTENANCE operation, triggered by measured drift
    * ([[reclusterIfDrifted]]), not a hot-path one: it rewrites the full
    * index once, which at 100 TB is a layout job amortized over every
    * probe that follows (the same cost class as the initial build — and
    * the reason the trigger is a measured threshold rather than a
    * cadence).
    *
    * Crash contract (the [[compactIvfDelta]] discipline, extended to
    * the two-table swap): the new generation is fully committed to
    * side tables (`<table>__recluster`, `<table>_centroids__next`)
    * before anything is dropped, and the main-table swap commits before
    * the centroid swap, so every crash state is decidable from catalog
    * existence at re-entry — an interrupted run either completes the
    * swap or rebuilds from intact inputs; content is never lost.
    * Probes CONCURRENT with the swap, however, can see mismatched
    * generations (new assignments under old centroids or vice versa —
    * silently wrong pruning, not an error), so run this from the
    * maintenance session that owns the index with probes quiesced —
    * the same ownership rule compaction already requires. The fold
    * manifest is preserved: folded batch ids stay folded across a
    * recluster, so a replaying stream cannot re-append them. */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, cId: String = "vec_id",
      cVec: String = "embedding"): Unit = {
    val tmp = table + "__recluster"
    val centT = table + "_centroids"
    val nextT = centT + "__next"
    val cat = spark.catalog
    // ---- re-entry: finish an interrupted swap (decidable states) ----
    if (!cat.tableExists(table) && cat.tableExists(table + "__compact")) {
      // crashed inside the compactIvfDelta call below (main dropped,
      // `__compact` holding the only copy — the fold's commit rename
      // happens before its drop, so a catalog-registered __compact with
      // main missing is always the complete folded generation): the
      // fold protocol's own re-entry renames it back. Delegate before
      // deciding our own swap states.
      compactIvfDelta(spark, table)
    }
    if (!cat.tableExists(table)) {
      // crashed between drop-main and rename: tmp holds the only copy
      require(cat.tableExists(tmp),
        s"recluster recovery: none of $table, ${table}__compact, $tmp exists")
      // the drop that preceded the crash is itself two steps (DROP
      // TABLE, then location delete) — a crash between them leaves the
      // old main's warehouse directory on disk with no catalog entry,
      // and RENAME would wedge moving the managed location onto it.
      // dropTableAndLocation re-resolves the managed path for a
      // missing entry, so this clears exactly that stale directory.
      Layout.dropTableAndLocation(spark, table)
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    }
    if (!cat.tableExists(tmp) && cat.tableExists(nextT)) {
      // main swap committed (tmp renamed away), centroid swap pending —
      // `nextT` in the catalog means its write committed (registration
      // is the commit marker), so completing is always safe
      val meta = readIvfMeta(spark, table)
      Layout.dropTableAndLocation(spark, centT)
      spark.sql(s"ALTER TABLE `$nextT` RENAME TO `$centT`")
      // the assignment frame is gone here: measure the swapped-in
      // generation from the table
      val (n, mean) = listTightness(spark.table(table), cVec,
        readCentroids(spark, table))
      writeIvfMeta(spark, table, meta.copy(builtMeanSim = mean, builtRows = n))
      return
    }
    // ---- fresh rebuild (also the crashed-before-any-drop path: both
    // side tables are rebuilt from the intact main generation; a crash
    // after the swaps but before the meta rewrite just reruns — the
    // rebuild is deterministic, so the rerun converges) ----
    compactIvfDelta(spark, table)
    val meta = readIvfMeta(spark, table)
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — build the index with writeIvfIndex first"))
    Layout.dropTableAndLocation(spark, tmp)   // stale uncommitted halves
    Layout.dropTableAndLocation(spark, nextT)
    val corpus = spark.table(table).select(col(cId), col(cVec))
    val next = writeGeneration(spark, corpus, corpus, tmp, nextT,
      meta.nLists, meta.lloydIters, spec.numBuckets, cId, cVec)
    // ---- swap: main first, then centroids (the re-entry order) ----
    Layout.dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    Layout.dropTableAndLocation(spark, centT)
    spark.sql(s"ALTER TABLE `$nextT` RENAME TO `$centT`")
    writeIvfMeta(spark, table, next)
  }

  /** The measured aging trigger: re-cluster iff the index's tightness
    * has dropped more than `tau` below its build-time baseline.
    * Returns the PRE-decision report and whether a rebuild ran. Run on
    * the maintenance cadence (e.g. alongside [[compactIvfDelta]]);
    * τ≈0.02-0.05 absolute cosine is a reasonable starting band — low
    * enough to catch a distribution shift before recall sags, high
    * enough that ingest noise never triggers a 100 TB rewrite. */
  def reclusterIfDrifted(spark: org.apache.spark.sql.SparkSession,
      table: String, tau: Double = 0.02, cId: String = "vec_id",
      cVec: String = "embedding",
      sampleFraction: Double = 1.0): (IvfAging, Boolean) = {
    val aging = ivfAging(spark, table, tau, cVec,
      sampleFraction = sampleFraction)
    if (aging.drifted) reclusterIvfIndex(spark, table, cId, cVec)
    (aging, aging.drifted)
  }

  /** Probe a persisted IVF index ([[writeIvfIndex]]) — no build work at
    * query time: centroids load from the (nLists-row) table, the probed
    * list ids resolve driver-side (bounded by nLists), and the corpus
    * scan prunes to the probed lists' bucket files before a broadcast
    * join scores them. Identical results to [[ivfTopK]] with the same
    * build parameters (parity-tested: same deterministic quantizer).
    *
    * Rows in the index's delta directory ([[appendToIvfDelta]]) are
    * scored too, so streaming appends are visible to probes
    * immediately, before any compaction. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      table: String, k: Int, nProbe: Int = 4,
      qId: String = "q_id", qVec: String = "q_vec",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val centRows = readCentroids(spark, table) // build order → same tie-breaks
    val cents = typedLit(centRows.toSeq)
    val probes = queries.select(col(qId), col(qVec),
      explode(probeListsAgainst(cents, col(qVec), nProbe)).alias("__list"))
    // probed list ids, driver-side: bounded by nLists, and the isin
    // filter is what turns the bucketed layout into bucket PRUNING at
    // the scan (a join alone prunes nothing). ONE bounded job — a
    // map-side-partial collect_set (each task emits ≤nLists values) —
    // where the previous shape paid an eager localCheckpoint job PLUS a
    // distinct+collect job per probe call: driver round-trips are
    // cluster-scheduler latency at scale, and the probe frame it
    // checkpointed is broadcast-sized by definition, so recomputing its
    // nLists-cosine scoring inside the broadcast build is cheaper than
    // the extra round-trip (ADVICE/VERDICT r18 #2).
    val lists = probes.agg(collect_set(col("__list")))
      .head().getSeq[Long](0).toArray
    val pruned = Layout.withDelta(spark, table)
      .where(col("__list").isin(lists.toSeq: _*))
    val probed = pruned.join(broadcast(probes), Seq("__list"))
      .select(col(qId), col(cId), VF.cosineNative(col(qVec), col(cVec)).alias("cos_sim"))
    topKStage(probed, k, qId, cId)
  }

  /** SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — the public scalable recipe): k-means-cluster the
    * embeddings FIRST (the same deterministic coarse quantizer IVF
    * uses), then compare cosine ONLY within each cluster and collapse
    * groups at `cos >= tau` to their minimum id. The cluster pass is
    * what makes this scale: pair work is Σ m_c² over cluster sizes
    * instead of one global O(n²) join, and the per-cluster self-join
    * shuffles on list id exactly like the LSH bucket joins. A
    * τ-similar pair CAN straddle a cluster boundary and be missed —
    * that is SemDeDup's documented recall trade-off, priced against
    * never materializing the global pair space (the same deal the
    * banded LSH operators make explicitly).
    *
    * Returns (idCol, cluster) for EVERY input row — the
    * [[Dedup.nearDupClusters]] shape: isolated vectors (and NaN /
    * zero-norm ones, which score no pair) map to themselves; filter
    * `id === cluster` for survivors or join back for the full dedup
    * map. Clusters over `maxCluster` rows are SIDELINED (members keep
    * themselves) — the LSH hot-bucket discipline: one degenerate
    * mega-cluster must not go quadratic in a single task. Recall
    * contracts pass `Int.MaxValue`. */
  def semanticDupClusters(df: DataFrame, tau: Double, nLists: Int = 16,
      lloydIters: Int = 1, maxCluster: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = typedLit(buildCentroids(df, nLists, lloydIters, idCol, vecCol).toSeq)
    semanticOverAssigned(assign(df, cents, idCol, vecCol), df, tau, maxCluster,
      idCol, vecCol)
  }

  /** [[semanticDupClusters]] against a PERSISTED index's frozen
    * quantizer ([[writeIvfIndex]]): the production shape — the corpus
    * was already clustered once to build the index, so dedup reuses
    * those centroids instead of re-training, and successive dedup
    * passes stay comparable under one quantizer until a
    * [[reclusterIfDrifted]] retrain. */
  def semanticDupClustersIndexed(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, table: String, tau: Double, maxCluster: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = typedLit(readCentroids(spark, table).toSeq)
    semanticOverAssigned(assign(df, cents, idCol, vecCol), df, tau, maxCluster,
      idCol, vecCol)
  }

  private def semanticOverAssigned(assigned: DataFrame, all: DataFrame,
      tau: Double, maxCluster: Int, idCol: String, vecCol: String): DataFrame = {
    // cluster sizes are nLists rows — always broadcastable; the semi
    // join prunes sidelined clusters map-side before any pair work
    val small = assigned.groupBy(col("__list"))
      .agg(count(lit(1)).as("__n")).where(col("__n") <= maxCluster)
      .select(col("__list"))
    val bounded = assigned.join(broadcast(small), Seq("__list"), "left_semi")
    // aliased self-join → one shared exchange on the list id (the
    // minhashCandidates discipline)
    val pairs = bounded.as("a").join(bounded.as("b"),
        col("a.__list") === col("b.__list"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").alias("id_a"), col(s"b.$idCol").alias("id_b"),
        VF.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")).alias("cos_sim"))
      // NaN guard (the embeddingNearDups rationale): a zero-norm vector
      // scores NaN > tau under Spark ordering and would join everything
      .where(!isnan(col("cos_sim")) && col("cos_sim") >= tau)
      .select(col("id_a"), col("id_b"))
    Graph.connectedComponents(pairs, "id_a", "id_b",
        nodes = Some(all.select(col(idCol))))
      .select(col("id").alias(idCol), col("component").alias("cluster"))
  }

  /** Incremental SEMANTIC dedup — the persisted-history leg SemDeDup
    * lacks in batch form ([[semanticDupClusters]]): batch vectors whose
    * cosine to ANY history vector in the SAME frozen-quantizer list
    * reaches `tau` under a DIFFERENT id are dropped. This is the image
    * `_ph` / audio `_ab` / video `_vb` incremental discipline applied
    * to the embedding modality, with the persisted IVF index ITSELF as
    * the history — no second persisted structure: seed with
    * [[writeIvfIndex]], append each survivor batch with
    * [[appendToIvfDelta]] (exactly-once, fold-manifest replay safety),
    * fold with [[compactIvfDelta]]; probes see main ∪ delta.
    *
    * Same-id exclusion is the replay guard (a batch meeting its own
    * crashed append is a replay artifact, not a duplicate). Vectors
    * with no identity — null, or zero-norm scoring NaN against every
    * centroid and history row — pass through by construction (the
    * multimodal "no evidence" convention). A τ-pair straddling a
    * quantizer-list boundary can be missed: SemDeDup's documented
    * recall trade-off, identical to the batch operator's, priced
    * against never joining the batch to the whole history.
    *
    * Scale shape: the batch assigns against broadcast centroids and
    * BROADCASTS into the history join; the main-table leg prunes its
    * scan to the batch's list ids (a driver-side `isin` over ≤ nLists
    * values — that filter is what turns the bucketed layout into
    * bucket pruning) and never exchanges; the delta leg is
    * small × small. Only (id, cos) pairs come back. Batch lists over
    * `maxList` batch rows are SIDELINED (members pass through — the
    * under-drop direction): the LSH hot-bucket discipline — a
    * batch-side mass-duplicate class must not star-join a 100 TB
    * history list. Recall contracts pass `Int.MaxValue`. */
  def semanticIncrementalDelta(spark: org.apache.spark.sql.SparkSession,
      newDf: DataFrame, table: String, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding",
      maxList: Int = 4096): DataFrame = {
    val centRows = readCentroids(spark, table) // build order → same tie-breaks
    val cents = typedLit(centRows.toSeq)
    val bid = graft.Cols.fresh(newDf.columns ++ Seq(cId, cVec), "__bid")
    val bvec = graft.Cols.fresh(newDf.columns ++ Seq(cId, cVec, bid), "__bvec")
    val assigned = newDf
      .select(col(idCol).alias(bid), col(vecCol).alias(bvec),
        nearestAgainst(cents, col(vecCol)).alias("__list"))
      .where(col("__list").isNotNull)
    // ONE bounded job (≤nLists rows of (list, count)) yields BOTH the
    // sideline decision and the probed-list literal — the previous
    // shape paid an eager localCheckpoint job, then a count+semi-join,
    // then a distinct+collect job, i.e. several driver round-trips per
    // micro-batch in exactly the many-small-job pattern the composed
    // loops are budgeted against (VERDICT r18 #2). The batch assignment
    // is recomputed inside the broadcast build below — it is
    // broadcast-sized by definition, cheaper than the extra jobs.
    val lists = assigned.groupBy(col("__list")).agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxList).select(col("__list"))
      .collect().map(_.getLong(0))
    // sideline = drop oversized lists map-side via the SAME literal —
    // no count-frame semi-join in the plan at all
    val probes = assigned.where(col("__list").isin(lists.toSeq: _*))
    val pruned = Layout.withDelta(spark, table)
      .where(col("__list").isin(lists.toSeq: _*))
    val dropped = pruned.join(broadcast(probes), Seq("__list"))
      .select(col(bid),
        VF.cosineNative(col(bvec), col(cVec)).alias("__cos"), col(cId))
      // NaN guard (the semanticOverAssigned rationale): a zero-norm
      // vector scores NaN > tau under Spark ordering
      .where(!isnan(col("__cos")) && col("__cos") >= tau &&
        col(cId) =!= col(bid))
      .select(col(bid)).distinct()
    newDf.join(broadcast(dropped), col(idCol) === col(bid), "left_anti")
  }

  /** ANN: bucket corpus by hyperplane signature; probe the query's own
    * bucket plus all 1-bit-flip neighbors (multi-probe) and top-k within. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 6,
      qId: String = "q_id", qVec: String = "q_vec",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val bucketed = corpus.withColumn("__bucket", VF.hyperplaneSig(col(cVec), nPlanes))
    val probes = queries
      .withColumn("__sig", VF.hyperplaneSig(col(qVec), nPlanes))
      .select(col(qId), col(qVec),
        explode(array_distinct(array(
          col("__sig") +: (0 until nPlanes).map(b => col("__sig").bitwiseXOR(lit(1L << b))): _*)))
          .alias("__bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("__bucket"))
      .select(col(qId), col(cId), VF.cosineNative(col(qVec), col(cVec)).alias("cos_sim"))
    // multi-probe can surface the same (q, c) pair from several buckets
    // (identical score each time) — dedup before the bounded top-k or a
    // duplicate could occupy two of the k slots. No NaN where-filter:
    // pushdown would clone the cosine into the join condition; NaN pairs
    // ride through the dedup and are skipped inside the combiner.
    val deduped = scored
      .groupBy(col(qId), col(cId)).agg(first(col("cos_sim")).alias("cos_sim"))
    topKStage(deduped, k, qId, cId)
  }
}
