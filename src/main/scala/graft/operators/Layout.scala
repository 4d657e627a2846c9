package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB join paths (SURVEY §4,
  * "Partitioning & shuffle"):
  *
  *  - **Bucketing**: persist both join sides bucketed on the join key →
  *    Catalyst plans the join with zero Exchange (each bucket pair joins
  *    in place). This is the steady-state layout for a fact table that
  *    is joined on the same key every day.
  *  - **Salting**: when one key dominates (hot key), spread it over
  *    `salts` sub-keys on the fact side and replicate the dim side per
  *    salt — turns one straggler partition into `salts` even ones.
  */
object Layout {

  /** Write `df` as a bucketed managed table (sorted within buckets for
    * merge-friendly reads). Join two tables bucketed with the same
    * (cols, numBuckets) and the plan has no shuffle on either side.
    *
    * File-count note for 100 TB: Spark's bucketed write emits one file
    * per (writing task × populated bucket) — no shuffle at write time,
    * but a wide write fans out to tasks×buckets files. Set
    * `onePassPerBucket` to pre-shuffle on the bucket columns so each
    * bucket lands in exactly one file (costs one exchange at write
    * time; buys single-file sorted buckets, so bucket-side reads skip
    * the per-file merge sort). The zero-exchange JOIN property is the
    * same either way. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: String = "overwrite",
      onePassPerBucket: Boolean = false): Unit = {
    val laid =
      if (onePassPerBucket) df.repartition(numBuckets, bucketCols.map(df.col): _*)
      else df
    laid.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop a managed table AND its warehouse location. The location
    * delete matters across sessions — with a non-durable metastore (the
    * default in-memory Derby) a new session's catalog has no entry for
    * the old table, `mode=overwrite` therefore takes the CREATE path,
    * and `saveAsTable` refuses with LOCATION_ALREADY_EXISTS over the
    * surviving directory. */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    import org.apache.hadoop.fs.Path
    val catalog = spark.sessionState.catalog
    val ident =
      try Some(spark.sessionState.sqlParser.parseTableIdentifier(table))
      catch { case _: Exception => None }
    // Resolve the location from the catalog while the entry still exists —
    // Spark lowercases managed-table directory names and nests non-default
    // databases under <db>.db/, so <warehouse>/<table> verbatim misses
    // mixed-case or db-qualified names.
    val resolved = ident.filter(catalog.tableExists)
      .map(i => new Path(catalog.getTableMetadata(i).location))
    ident match {
      case Some(i) => spark.sql(s"DROP TABLE IF EXISTS ${i.quotedString}")
      case None    => spark.sql(s"DROP TABLE IF EXISTS `$table`")
    }
    val loc = resolved.getOrElse {
      // cross-session: the in-memory metastore has no entry, so rebuild the
      // managed location the way Spark lays it out
      val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      ident match {
        case Some(i) =>
          val db = i.database.getOrElse(catalog.getCurrentDatabase)
          val base = if (db == "default") wh else new Path(wh, db.toLowerCase + ".db")
          new Path(base, i.table.toLowerCase)
        case None => new Path(wh, table.toLowerCase)
      }
    }
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The delta directory of a managed bucketed table: a sibling of its
    * warehouse location. Streaming appends land here (one
    * `batch-<id>/` subdirectory per micro-batch, overwrite-own-dir so
    * replays are idempotent), probes union it with the bucketed main,
    * and [[foldDeltaIntoBucketed]] folds it back in. Resolvable even
    * mid-compaction when the main catalog entry is dropped (the managed
    * path is rebuilt the way Spark lays it out). */
  private[graft] def deltaDirOf(spark: SparkSession, table: String): String = {
    import org.apache.hadoop.fs.Path
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc =
      if (catalog.tableExists(ident))
        new Path(catalog.getTableMetadata(ident).location)
      else {
        val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
        val db = ident.database.getOrElse(catalog.getCurrentDatabase)
        val base = if (db == "default") wh
          else new Path(wh, db.toLowerCase + ".db")
        new Path(base, ident.table.toLowerCase)
      }
    loc.toString + "__delta"
  }

  /** Measured (deltaBytes, mainBytes) of one bucketed+delta table —
    * the AUTO-compaction policy's trigger input. Filesystem metadata
    * only (`getContentSummary`), no Spark jobs: the policy runs on
    * every micro-batch, so the measurement must cost a few namenode
    * RPCs, not a scan. Delta bytes are a faithful proxy for the delta
    * probe legs' cost — every probe unions `main ∪ delta` and the
    * delta leg's work is linear in exactly these bytes. */
  private[graft] def deltaMainBytes(spark: SparkSession, table: String): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val deltaP = new Path(deltaDirOf(spark, table))
    val mainP = new Path(deltaDirOf(spark, table).stripSuffix("__delta"))
    val fs = deltaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: Path): Long =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    (bytes(deltaP), bytes(mainP))
  }

  /** AUTO-fold policy — the measured trigger [[Similarity.ivfAging]]
    * established: `fold` runs when the accumulated delta bytes (summed
    * over `tables`) reach `maxDeltaRatio` of their bucketed mains.
    * Delta bytes are what the probes' delta legs pay per micro-batch,
    * so the trigger bounds steady-state probe cost at ≤ (1 + ratio)×
    * the folded cost while amortizing fold work against real growth —
    * an empty or tiny main folds immediately (cheap), a 100 TB main
    * only once the deltas have earned it. The measurement is
    * filesystem metadata ([[deltaMainBytes]]), no jobs — safe to call
    * on every micro-batch.
    *
    * With any table MISSING nothing folds: a delta directory without
    * its table is stale state (a new session over an old warehouse, or
    * a drop that crashed between the table and its delta), the main's
    * zero bytes would make any delta look due, and the fold would read
    * catalog metadata that does not exist. The next ensure/build clears
    * that state. Crash states are the fold protocol's own; the policy
    * only decides WHEN to enter it. Returns true when `fold` ran. */
  private[graft] def foldIfDue(spark: SparkSession, tables: Seq[String],
      maxDeltaRatio: Double)(fold: => Unit): Boolean = {
    require(maxDeltaRatio > 0, "maxDeltaRatio must be positive")
    if (!tables.forall(spark.catalog.tableExists)) return false
    val (d, m) = tables.map(deltaMainBytes(spark, _))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val due = d > 0 && d >= maxDeltaRatio * m
    if (due) fold
    due
  }

  /** The fold manifest of a delta table: one empty `batch-<id>` marker
    * file per delta batch already folded into the bucketed main table.
    * [[foldDeltaIntoBucketed]] writes the markers BEFORE its commit
    * rename, and the streaming appends ([[Dedup.appendBandHistoryDelta]],
    * [[appendDelta]]) skip marked batches — closing the
    * one at-least-once hole the commit-record protocol alone leaves: a
    * batch whose delta append landed but whose STREAM checkpoint commit
    * was lost, then folded before the stream replays it, would be
    * re-appended (the fold keeps no memory of what it folded) and the
    * next fold would duplicate its rows in the main table permanently.
    *
    * Marker-before-commit is safe in every crash state: a marker whose
    * fold never committed only suppresses a replay of a batch whose
    * rows still sit in the LIVE delta dir (the rename to `__folded` is
    * the only way rows leave it), so nothing is lost — whereas
    * marker-after-commit reopens the exact race above in the window
    * between rename and marker write.
    *
    * Consequence the appends document: batch ids must be MONOTONIC over
    * the table's lifetime (one streaming checkpoint). Restarting a
    * stream from a FRESH checkpoint against an existing history reuses
    * folded ids and would see its first batches silently skipped —
    * rebuild the history (or keep the checkpoint) instead. Markers are
    * zero-byte files, one per batch ever folded, dropped with the
    * table. */
  private[graft] def foldManifestDirOf(spark: SparkSession, table: String): String =
    deltaDirOf(spark, table) + "__manifest"

  /** True when `batchId` of `table`'s delta was already folded into the
    * main table — the append-side gate of the manifest protocol. */
  private[graft] def isBatchFolded(spark: SparkSession, table: String,
      batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      foldManifestDirOf(spark, table), s"batch-$batchId")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Delete a table's delta dir AND its protocol siblings (`__folded`
    * commit record, `__manifest` fold markers) — the teardown every
    * drop/ensure path must use so a rebuilt table never inherits stale
    * markers that would suppress its first batches. */
  private[graft] def deleteDeltaState(spark: SparkSession, deltaDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val delta = new Path(deltaDir)
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(delta, true)
    fs.delete(new Path(deltaDir + "__folded"), true)
    fs.delete(new Path(deltaDir + "__manifest"), true)
  }

  /** Drop `t` and its location, then its delta state (resolved while
    * the catalog entry still exists). */
  private[graft] def dropWithDelta(spark: SparkSession, t: String): Unit = {
    val delta = deltaDirOf(spark, t)
    dropTableAndLocation(spark, t)
    deleteDeltaState(spark, delta)
  }

  /** Read a table's delta directory. Batches live in `batch-<id>/`
    * subdirectories (so a replayed micro-batch overwrites exactly its
    * own files), and Spark's parquet source does NOT list non-partition
    * subdirectories — a plain `read.parquet(deltaDir)` finds zero data
    * files and dies in schema inference. `recursiveFileLookup` walks the
    * batch subdirs, and the main table's schema is passed explicitly so
    * an empty or just-created delta can never trip inference. */
  private[graft] def readDelta(spark: SparkSession, table: String,
      deltaPath: String): DataFrame =
    spark.read.schema(spark.table(table).schema)
      .option("recursiveFileLookup", "true")
      .parquet(deltaPath)

  /** Land one batch's rows in `batch-<id>/` of `t`'s delta directory —
    * overwrite-own-dir, so a replay rewrites exactly its own files —
    * unless the fold manifest records the batch as already folded
    * ([[foldManifestDirOf]]: re-appending it would let the next fold
    * duplicate its rows in the main table). `rows` is evaluated only
    * when the batch lands. Batch ids must be monotonic over the table
    * lifetime. */
  private[graft] def appendDelta(spark: SparkSession, t: String, batchId: Long)(
      rows: => DataFrame): Unit =
    if (!isBatchFolded(spark, t, batchId))
      rows.write.mode("overwrite").parquet(s"${deltaDirOf(spark, t)}/batch-$batchId")

  /** `t`'s delta rows, when its delta directory exists. */
  private[graft] def deltaOf(spark: SparkSession, t: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(deltaDirOf(spark, t))
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(readDelta(spark, t, p.toString))
    else None
  }

  /** `t`'s bucketed main ∪ its delta — what every history probe reads. */
  private[graft] def withDelta(spark: SparkSession, t: String): DataFrame =
    deltaOf(spark, t).fold(spark.table(t))(spark.table(t).unionByName(_))

  /** Fold a table's delta directory back into the bucketed main table
    * (write main ∪ delta to a tmp table under the SAME bucket spec,
    * drop, rename — and complete an interrupted swap instead of
    * dropping the only copy), then delete the delta. No-op without a
    * delta.
    *
    * Crash contract: the delta-dir rename to `__folded` is the commit
    * record, so re-entry after a crash at ANY point either completes
    * the fold or restores the delta and reruns — never duplicates and
    * never loses a row. Between an interrupted run and its re-run,
    * probes may temporarily not see the delta rows (and a probe during
    * the drop-rename instant can fail to resolve the table) — the
    * standard swap-window caveat. Crash-state recovery is exhaustively
    * tested on the IVF instantiation (DedupSpec), which shares this
    * exact code path. */
  private[graft] def foldDeltaIntoBucketed(spark: SparkSession, table: String,
      noSpecHint: String = "write the table bucketed first"): Unit = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmp = table + "__compact"
    val deltaPath = new Path(deltaDirOf(spark, table))
    // the delta dir renamed to __folded is the COMMIT RECORD: the rename
    // happens only once the tmp table fully contains main ∪ delta, so at
    // re-entry every crash state is decidable (unlike a delete-last
    // protocol, where "main present + delta present" cannot distinguish
    // a fresh run from a crash just after the swap — re-folding there
    // would duplicate every delta row)
    val foldedPath = new Path(deltaPath + "__folded")
    val fs = deltaPath.getFileSystem(hconf)
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp)) {
      // crashed between drop-old and rename: tmp (which contains the
      // folded delta — the commit record proves it) holds the ONLY copy.
      // The drop itself is two steps (DROP TABLE, then location delete);
      // a crash between them leaves the old main's directory on disk
      // with no catalog entry, which would wedge the RENAME below —
      // dropTableAndLocation re-resolves the managed path for a missing
      // entry and clears exactly that stale directory first.
      dropTableAndLocation(spark, table)
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
      fs.delete(foldedPath, true)
      return
    }
    if (fs.exists(foldedPath)) {
      // crashed after the commit record: if the swap also completed the
      // fold is durable — finish the cleanup; if tmp still coexists with
      // main the swap did NOT happen, so restore the delta and rerun.
      // The restore MERGES the folded batches back under the live delta
      // dir instead of replacing it: the ingest loop may have kept
      // running between the crash and this recovery, landing NEW
      // batch-<id> subdirectories there — deleting the live dir would
      // destroy durably-acknowledged batches. A name collision (the
      // same batch replayed after the crash) keeps the LIVE copy; the
      // two are identical by the append's determinism.
      if (spark.catalog.tableExists(tmp) && spark.catalog.tableExists(table)) {
        if (!fs.exists(deltaPath)) fs.mkdirs(deltaPath)
        fs.listStatus(foldedPath).foreach { st =>
          val target = new Path(deltaPath, st.getPath.getName)
          // HDFS rename reports failure by RETURNING false, not by
          // throwing — proceeding to the recursive delete below on a
          // failed restore would destroy that batch; abort instead and
          // let re-entry retry the merge
          if (!fs.exists(target) && !fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"delta recovery: could not restore ${st.getPath} to $target")
        }
        fs.delete(foldedPath, true)
      } else {
        fs.delete(foldedPath, true)
        return
      }
    }
    if (!fs.exists(deltaPath)) return // nothing to fold
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — $noSpecHint"))
    dropTableAndLocation(spark, tmp) // stale tmp from a mid-write crash
    writeBucketed(withDelta(spark, table), tmp, spec.bucketColumnNames, spec.numBuckets,
      onePassPerBucket = true)
    // record every batch id being folded BEFORE the commit rename (the
    // [[foldManifestDirOf]] contract): after the rename these rows live
    // only in tmp/main, and an unmarked replay re-appending one of them
    // would be duplicated by the next fold
    val manifest = new Path(foldManifestDirOf(spark, table))
    fs.mkdirs(manifest)
    fs.listStatus(deltaPath).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("batch-")) {
        val m = new Path(manifest, st.getPath.getName)
        if (!fs.exists(m)) fs.create(m, true).close()
      }
    }
    fs.rename(deltaPath, foldedPath) // COMMIT: tmp fully contains the delta
    dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    fs.delete(foldedPath, true)
  }

  /** Equi-join of two same-bucketed tables by name — shuffle-free when
    * both were written with identical bucketing. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      on: Seq[String], how: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), on, how)

  /** Morton (Z-order) interleave of per-column bit ranks: bit `i` of
    * rank `j` lands at position `i * n + j`. The naive
    * bits×cols OR-chain stays a single codegen'd expression — at 16 bits
    * × 2 cols that is 32 shift/and/or terms per row, noise next to the
    * parquet decode around it. */
  private[graft] def zKey(ranks: Seq[Column], bits: Int): Column = {
    val n = ranks.size
    val terms = for {
      i <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` Z-ORDERED on `zCols` (numeric-castable columns): each
    * column is ranked onto a 2^bits equi-width grid between its observed
    * min/max, the ranks bit-interleave into a Morton key, and the data
    * is range-partitioned + sorted by that key (then the key is
    * dropped — it is a layout device, not data).
    *
    * Why this matters at 100 TB: a single-column sort gives parquet
    * row-group/page stats that prune scans on THAT column only — a
    * filter on any other column reads everything. Z-ordering clusters
    * ALL `zCols` simultaneously, so each file/row-group covers a narrow
    * range of every z column and min/max skipping engages for filters
    * on any of them (measured in LayoutSpec: a second-column box filter
    * decodes a fraction of the linear layout's rows). The grid is
    * equi-width, so pruning (never correctness) degrades on heavily
    * skewed columns — pre-transform such columns if it matters.
    *
    * NULLs rank NULL, z-sort first, and prune like any stats-backed
    * value; rows are only reordered, never changed (oracle-pinned by
    * `l16_zorder`). The min/max collect is one 2×|zCols|-scalar
    * aggregate — bounded, like the IVF centroid pull. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 16, mode: String = "overwrite",
      curve: String = "morton"): Unit = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    require(numFiles > 0, "numFiles must be positive")
    require(bits > 0 && zCols.size * bits <= 62,
      s"need bits > 0 and |zCols| * bits <= 62, got ${zCols.size} x $bits")
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (morton, hilbert)")
    val buckets = 1L << bits
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val ranks = zCols.zipWithIndex.map { case (c, j) =>
      // all-NULL or constant column: every row ranks 0 (no information
      // to cluster on); width_bucket would reject an empty range
      if (stats.isNullAt(2 * j) || stats.getDouble(2 * j) == stats.getDouble(2 * j + 1))
        when(col(c).isNull, lit(null).cast("long")).otherwise(lit(0L))
      else {
        val (mn, mx) = (stats.getDouble(2 * j), stats.getDouble(2 * j + 1))
        // width_bucket is 1-based and sends v == max to buckets+1 — clamp
        // back and shift to a 0-based rank in [0, 2^bits)
        (least(lit(buckets), width_bucket(col(c).cast("double"),
          lit(mn), lit(mx), lit(buckets))) - 1).cast("long")
      }
    }
    writeByZ(df, path, ranks, bits, numFiles, mode, curve = curve)
  }

  /** [[writeZOrdered]] with EQUAL-FREQUENCY ranks: each column is
    * ranked against its own `approxQuantile` boundaries (2^bits - 1 of
    * them; one bounded driver collect per call, like the min/max pass),
    * so a heavily skewed column still spreads across the full grid and
    * its min/max pruning stays selective — the equi-width grid puts
    * most of a skewed column's rows into a handful of cells, and files
    * then span the whole value range (measured in LayoutSpec: on a
    * power-law column the quantile grid decodes a fraction of what the
    * equi-width grid reads). Costs one quantile sketch pass over
    * `zCols`; same write path, same purity contract. Ties that straddle
    * a boundary share a rank — pruning, never correctness, is affected.
    * Default `bits = 6` (64 equal-frequency buckets per column): the
    * binary-search rank tree doubles per level, so bits is a direct
    * codegen-size dial — 6 keeps the generated method comfortably
    * inside JIT limits (measured: the difference between ~45 s and
    * ~25 s for the sf0.1 rewrite) while a 64×64 grid still dwarfs any
    * practical file count, and pruning granularity is file count, not
    * grid resolution. */
  def writeZOrderedQuantile(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 6, relativeError: Double = 0.01,
      mode: String = "overwrite", curve: String = "morton"): Unit = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    require(numFiles > 0, "numFiles must be positive")
    require(bits > 0 && bits <= 12 && zCols.size * bits <= 62,
      s"need 0 < bits <= 12 and |zCols| * bits <= 62, got ${zCols.size} x $bits")
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (morton, hilbert)")
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    val doubled = df.select(zCols.map(c => col(c).cast("double").alias(c)): _*)
    // rank = #boundaries <= v (upper-bound binary search, exact under
    // duplicate boundaries), built as `bits` element_at/when steps over
    // the sorted boundary literal — one PROJECTION PER LEVEL, each
    // evaluated once and fused by whole-stage codegen. The two rejected
    // shapes are both measured multi-× disasters at sf0.1: an
    // `aggregate` HOF fold evaluates interpreted with a boxed lambda
    // call per boundary (~53 s for the write), and a single nested
    // Column doubles its tree per level (the accumulator appears in
    // both the probe index and the sum), overflowing codegen into
    // fallback (~30 s). Per-level columns keep the whole search
    // O(bits) ops per row (~1 s, the equi-width cost band). The
    // descending power-of-two steps keep every probed index within
    // [1, 2^bits - 1]. The explicit isNull wrap matters: `NULL <= b`
    // is NULL and `when` would take the otherwise branch at every
    // step, silently ranking NULLs 0 — they must rank NULL like the
    // width_bucket path.
    var cur = df
    def fresh(base: String): String = graft.Cols.fresh(cur.columns, base)
    val rankNames = zCols.zipWithIndex.map { case (c, ci) =>
      val bounds = doubled.stat.approxQuantile(c, probs, relativeError)
      val out = fresh(s"__zq$ci")
      if (bounds.isEmpty) { // all-NULL column: no boundaries to rank on
        cur = cur.withColumn(out,
          when(col(c).isNull, lit(null).cast("long")).otherwise(lit(0L)))
      } else {
        val bArr = typedLit(bounds.toSeq)
        val v = col(c).cast("double")
        var acc = fresh(s"__zq${ci}_l")
        cur = cur.withColumn(acc, lit(0L))
        for (step <- (0 until bits).map(i => 1L << (bits - 1 - i))) {
          val next = fresh(s"__zq${ci}_l")
          cur = cur.withColumn(next, col(acc) +
            when(element_at(bArr, (col(acc) + lit(step)).cast("int")) <= v,
              lit(step)).otherwise(lit(0L)))
            .drop(acc)
          acc = next
        }
        cur = cur.withColumn(out,
          when(col(c).isNull, lit(null).cast("long")).otherwise(col(acc)))
          .drop(acc)
      }
      out
    }
    writeByZ(cur, path, rankNames.map(col), bits, numFiles, mode,
      alsoDrop = rankNames, curve = curve)
  }

  /** Shared write tail of the z-order family: MATERIALIZE the rank
    * expressions as their own projection, then interleave, range
    * partition + sort on the key, drop the scaffolding, write.
    *
    * The materialization is load-bearing, not cosmetic: [[zKey]]
    * references each rank `bits` times (one bit extraction per level),
    * and the quantile path's rank is itself a `bits`-level nested
    * binary search whose tree doubles per level — inlined, the combined
    * projection multiplies to tens of thousands of expression nodes
    * (measured ~2 min of optimizer + codegen-overflow time at sf0.1 vs
    * ~1 s materialized). CollapseProject keeps a non-cheap alias that
    * is referenced more than once in its own Project (the same
    * guarantee the minhash signature pass relies on), so each rank
    * computes exactly once per row. */
  private def writeByZ(df: DataFrame, path: String, ranks: Seq[Column],
      bits: Int, numFiles: Int, mode: String,
      alsoDrop: Seq[String] = Nil, curve: String = "morton"): Unit = {
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (morton, hilbert)")
    def fresh(base: String, taken: Seq[String]): String =
      graft.Cols.fresh(taken, base)
    val rankNames = ranks.indices.foldLeft(Seq.empty[String]) { (acc, i) =>
      acc :+ fresh(s"__zr$i", df.columns.toSeq ++ acc)
    }
    val zc = fresh("__z", df.columns.toSeq ++ rankNames)
    val srcCols = df.columns.map(c => df(s"`${c.replace("`", "``")}`"))
    val ranked = df.select(
      srcCols ++ rankNames.zip(ranks).map { case (n, r) => r.alias(n) }: _*)
    val keyed =
      if (curve == "morton")
        ranked.withColumn(zc, zKey(rankNames.map(col), bits))
      else
        // native single-pass expression (Skilling transform + reversed
        // interleave fused); bit-identical to the column-ladder form
        // ([[hilbertTranspose]] + zKey(reverse)), which survives as the
        // independent parity oracle in LayoutSpec
        ranked.withColumn(zc, hilbertKey(rankNames.map(col), bits))
    keyed
      .repartitionByRange(numFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(rankNames ++ alsoDrop :+ zc: _*)
      .write.mode(mode).parquet(path)
  }

  /** Hilbert index of the rank columns via the native codegen'd
    * [[graft.functions.HilbertKey]] expression — the z-write hot path.
    * The column-ladder derivation below ([[hilbertTranspose]]) is kept
    * as the independently-written parity oracle. */
  private[graft] def hilbertKey(ranks: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      graft.functions.HilbertKey(ranks.map(ColumnBridge.expression), bits))
  }

  /** Rewrite rank columns `xs` (each a Long in [0, 2^bits)) into the
    * HILBERT TRANSPOSE of the same coordinates — Skilling's
    * AxesToTranspose ("Programming the Hilbert curve", AIP Conf. Proc.
    * 707, 2004; public-domain algorithm), after which the plain
    * [[zKey]] interleave of `xs.reverse` is the Hilbert index.
    *
    * Why offer it next to Morton: a Morton curve teleports across the
    * whole grid at every power-of-two boundary (the jump from octant 0
    * to octant 1 crosses the full key range), so a box filter straddling
    * such a boundary reads files whose min/max span everything between.
    * The Hilbert curve moves one grid cell per step — every file covers
    * a CONNECTED region, which typically prunes 10-30% more of a box
    * filter's complement (measured in LayoutSpec on the same 5% box).
    *
    * Shape: the bit loop is ((bits-1) × n + n + 1) successive
    * self-projections — each step computes every updated column from the
    * PREVIOUS projection only, so the expression tree stays O(bits × n)
    * total (the same per-level-projection idiom as the quantile rank's
    * binary search; a single nested Column here would double per step
    * and overflow codegen). Consecutive projections fuse into one
    * whole-stage-codegen stage. NULL ranks (NULL z values) propagate
    * through the XOR ladder exactly like the Morton OR-chain: any NULL
    * rank → NULL key → those rows sort first, as before. */
  private[graft] def hilbertTranspose(df: DataFrame, xs: Seq[String],
      bits: Int): DataFrame = {
    val n = xs.size
    if (n == 1) return df // 1-D: Hilbert degenerates to the identity
    var cur = df
    // one projection per step: every updated column evaluated from the
    // previous step's attributes, never from this step's own aliases
    def step(updates: Map[String, Column]): Unit =
      cur = cur.select(cur.columns.map(c =>
        updates.getOrElse(c, col(c)).alias(c)): _*)
    // inverse-undo loop: Q = 2^(bits-1) down to 2
    for (qb <- (1 until bits).reverse; i <- 0 until n) {
      val q = 1L << qb; val p = q - 1L
      val x0 = col(xs.head); val xi = col(xs(i))
      val cond = xi.bitwiseAND(lit(q)) =!= lit(0L)
      if (i == 0)
        // invert branch only: the exchange term (X0 ^ X0) & P is 0
        step(Map(xs.head -> when(cond, x0.bitwiseXOR(lit(p))).otherwise(x0)))
      else {
        val t = x0.bitwiseXOR(xi).bitwiseAND(lit(p))
        step(Map(
          xs.head -> when(cond, x0.bitwiseXOR(lit(p))).otherwise(x0.bitwiseXOR(t)),
          xs(i)   -> when(cond, xi).otherwise(xi.bitwiseXOR(t))))
      }
    }
    // Gray encode: X(i) ^= X(i-1), sequentially (each step reads the
    // already-updated predecessor)
    for (i <- 1 until n)
      step(Map(xs(i) -> col(xs(i)).bitwiseXOR(col(xs(i - 1)))))
    // trailing correction: t = XOR of (Q-1) over set bits of X(n-1),
    // materialized once so the n applications don't re-derive it
    val tName = graft.Cols.fresh(cur.columns, "__ht")
    val last = col(xs.last)
    val tCol = (1 until bits).map { b =>
      when(last.bitwiseAND(lit(1L << b)) =!= lit(0L), lit((1L << b) - 1L))
        .otherwise(lit(0L))
    }.reduceOption(_.bitwiseXOR(_)).getOrElse(lit(0L))
    cur = cur.withColumn(tName, tCol)
    step(xs.map(x => x -> col(x).bitwiseXOR(col(tName))).toMap)
    cur.drop(tName)
  }

  /** Compact a leaf directory of parquet files down to
    * ceil(totalBytes / targetBytes) files — the small-files fix for
    * accumulating sinks (a streaming ingest writing a file per
    * micro-batch per partition turns 100 TB into hundreds of millions
    * of files; scan planning, not I/O, becomes the bottleneck).
    *
    * Shape: one narrow `coalesce` read→write pass (no shuffle — target
    * file count only ever shrinks), then a rename swap:
    * tmp write → `dir` renamed aside → tmp renamed in → old deleted.
    * Each rename is a single metadata op; a crash leaves either the
    * original or the compacted dir complete, plus at most a stale
    * `<dir>__compact_old` / `__compact_tmp` to sweep (recovery: if
    * `dir` is missing, rename `__compact_old` back).
    *
    * Scope: ONE leaf directory — compact partitioned layouts per
    * partition directory, and do not point this at a Structured
    * Streaming sink that readers consume through `_spark_metadata`
    * (the file-manifest log would keep naming the old files; compact a
    * downstream copy instead). Row-bag equality is asserted before the
    * swap (`verifyCount`) — cheap insurance against swapping in a
    * partial write.
    *
    * @return the compacted file count. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20, verifyCount: Boolean = true): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    // normalize BEFORE deriving the swap siblings: raw string concat on
    // a trailing-slash dir would nest tmp INSIDE the target, and the
    // rename swap would then fail after the original was renamed aside
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    if (dataFiles.isEmpty) return 0 // nothing to compact (schema
    // inference over zero files would throw, and a swap would race)
    val totalBytes = dataFiles.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = path.suffix("__compact_tmp")
    val old = path.suffix("__compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    val src = spark.read.parquet(path.toString)
    src.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    if (verifyCount) {
      val (a, b) = (src.count(), spark.read.parquet(tmp.toString).count())
      require(a == b, s"compaction row count mismatch: $a -> $b (tmp kept at $tmp)")
    }
    require(fs.rename(path, old), s"could not rename $dir aside")
    require(fs.rename(tmp, path), s"could not swap compacted dir in (original at $old)")
    fs.delete(old, true)
    fs.listStatus(path).count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** The per-row salt expression for [[saltedJoin]] — a pure function of
    * the row's hashable columns, so the SAME row salts identically across
    * task retries, speculative attempts and input repartitionings (the
    * previous `monotonically_increasing_id()` salt was correct — any salt
    * is — but changed assignment per attempt, making runs irreproducible).
    * Map-typed columns are skipped (`hash()` rejects MapType); rows that
    * are byte-identical on every hashable column share a salt, which is
    * the one residual skew case — such rows are indistinguishable anyway,
    * and exact dedup (L1) is the right tool for mass-identical data.
    * Package-visible so LayoutSpec can pin the spread/determinism. */
  private[graft] def saltExpr(fact: DataFrame, salts: Int): Column = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val cols = fact.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    require(cols.nonEmpty, "saltedJoin needs at least one non-map column to salt on")
    pmod(hash(cols: _*), lit(salts))
  }

  /** Skew-safe equi-join: fact rows get a deterministic salt in
    * [0, salts), the (small) dim side is replicated once per salt, and
    * the join key becomes (key, salt) — a hot key's rows land in `salts`
    * partitions instead of one. Result equals a plain equi-join. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int, how: String = "inner"): DataFrame = {
    require(salts > 0)
    // right/full outer would emit each unmatched dim row once per salt
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")(how),
      s"saltedJoin supports fact-preserving join types only, got $how")
    // uniquified temp column: a fixed "__salt" would silently clobber
    // (and then drop) a caller column of that name on either side
    val salt = graft.Cols.fresh(fact.columns.toSeq ++ dim.columns, "__salt")
    val salted = fact.withColumn(salt, saltExpr(fact, salts))
    val replicated = dim.crossJoin(
      dim.sparkSession.range(salts).select(col("id").cast("int").alias(salt)))
    salted.join(replicated, Seq(key, salt), how).drop(salt)
  }
}
