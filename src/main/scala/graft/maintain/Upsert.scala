package graft.maintain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert (MERGE-like latest-wins) semantics, committed by
  * [[Snapshots.commitUpsert]], [[Snapshots.commitUpsertScoped]] and
  * the CDC sink `Incremental.upsertStream` — the lakehouse primitive
  * the reference's Iceberg ambition implies but never implements (its
  * delta simulation only appends, simple_iceberg_exploration.py:188-247).
  *
  * Semantics: rows from `updates` replace target rows with the same
  * key; among several candidates for one key the highest `versionCol`
  * wins, ties broken by `tiebreakCol` (arg-max), so the result is
  * deterministic for any input. New keys insert, missing keys keep
  * their target row — i.e. MERGE ... WHEN MATCHED UPDATE WHEN NOT
  * MATCHED INSERT, expressed as one union + one windowed shuffle on
  * the key.
  *
  * Scale: ONE hash shuffle on the key (the window), no join. Feed it
  * only the touched files ([[Snapshots.commitUpsertScoped]]) —
  * upserting 1k keys into a 100 TB table must not rewrite the table.
  */
object Upsert {

  /** Pure frame-level merge (no IO) — unit-testable semantics. */
  def mergeFrames(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tiebreakCol: String): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col(tiebreakCol).desc)
    target.unionByName(updates, allowMissingColumns = true)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }
}
