package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC sink semantics of the Debezium JDBC sink the reference installs
  * (reference `Dockerfile:28-31`): `insert.mode=upsert` merges by primary
  * key, `delete.enabled` turns a null-value record (tombstone) into a row
  * DELETE (SURVEY §2.1 S10/S11, §2.8 T8).
  *
  * Batch form below; the streaming form is the same transform inside
  * `foreachBatch` ([[graft.streaming.StreamOps.applyBatch]]), which is the
  * Spark idiom for an idempotent at-least-once sink — the analogue of the
  * Connect offsets topic + JDBC batch write.
  *
  * Scale: one shuffle on the key (window argmax), map-side nothing to
  * combine; skewed keys are handled by AQE. No driver-side state.
  */
object CdcApply {

  /** S10/T8 — upsert: keep only the latest record per key, ordered by
    * `ord` (e.g. source timestamp, then offset as tie-break). */
  def latestPerKey(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** S11 — tombstone delete: drop state rows whose key appears in the
    * tombstone set (records with null value). NULL-SAFE key match
    * (`<=>`): [[latestPerKey]]'s window treats a NULL key as one key,
    * so the join must too — plain equality never matches NULL, and a
    * NULL-keyed state row could then neither be replaced nor deleted
    * (one duplicate accumulating per batch). */
  def applyTombstones(state: DataFrame, tombstones: DataFrame, keys: Seq[String]): DataFrame = {
    val tset = tombstones.select(keys.map(col): _*).distinct()
    val cond = keys.map(k => state(k) <=> tset(k)).reduce(_ && _)
    state.join(tset, cond, "left_anti")
  }

  /** Full CDC apply: fold a change batch into `state` — upsert latest
    * non-tombstone per key, then delete tombstoned keys. `isTombstone`
    * marks delete records (Connect: value IS NULL). */
  def apply(state: DataFrame, changes: DataFrame, keys: Seq[String],
      ord: Seq[Column], isTombstone: Column): DataFrame = {
    val lastChange = latestPerKey(changes, keys, ord)
    // NULL predicate = not a tombstone (a bare where(!p) would drop the
    // row from BOTH branches and silently keep the stale state row)
    val tomb = coalesce(isTombstone, lit(false))
    val upserts = lastChange.where(!tomb)
    // ONE anti-join: upserts and deletes partition lastChange, and a
    // state row is kept iff its key saw no change of either kind — two
    // chained anti-joins (one per branch) would pay an extra shuffle
    // every micro-batch for the same result
    val kept = applyTombstones(state, lastChange, keys)
    kept.unionByName(upserts.select(state.columns.map(col): _*))
  }
}
