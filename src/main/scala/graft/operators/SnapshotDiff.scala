package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Change-data-capture between two snapshots of a keyed table — the diff
  * half of the refresh lifecycle (the reference re-ingests the whole
  * workbook each run; reference `refresh-vmware.cypher` models the same
  * "what changed since last refresh" question with per-run mark-and-sweep,
  * see `graft.operators.Upsert`). `diff` answers it as data: one row per
  * key that appeared, disappeared, or changed between snapshots, with the
  * old and new values side by side.
  *
  * Scale notes: one full-outer shuffle join on the key columns — the
  * minimal cost of any snapshot diff; both sides are pruned to
  * keys ++ compared columns before the join (column pruning reaches the
  * scan), and unchanged keys — the overwhelming majority at 100 TB — are
  * filtered out map-side after the join, so the result stays tiny. For
  * repeated diffs against the same store, bucket both snapshots on the key
  * to make the join shuffle-free (see ingest/Refresh bucketing).
  */
object SnapshotDiff {

  /** Diff two snapshots on `keys`, comparing `compareCols` null-safely.
    * Output columns: the keys, `change_type` ∈ {'added','removed',
    * 'changed'}, and `old_<c>` / `new_<c>` for every compared column.
    * Unchanged keys are omitted. Map-typed columns compare by their entries,
    * independent of insertion order, and are output as maps.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame,
      keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    // Reserved internals — an input column shaped like one would silently
    // corrupt the join/classification instead of failing fast.
    val inCols = keys ++ compareCols
    val resClash = inCols.filter(c => c.startsWith("_ok_") || c.startsWith("_nk_") ||
      c == "_in_old" || c == "_in_new" || c == "change_type")
    require(resClash.isEmpty,
      s"key/compare columns collide with reserved diff internals: $resClash")
    val oldSel = oldSnap.select(
      keys.map(k => col(k).as(s"_ok_$k")) ++
        compareCols.map(c => col(c).as(s"old_$c")) :+
        lit(true).as("_in_old"): _*)
    val newSel = newSnap.select(
      keys.map(k => col(k).as(s"_nk_$k")) ++
        compareCols.map(c => col(c).as(s"new_$c")) :+
        lit(true).as("_in_new"): _*)
    val cond = keys.map(k => col(s"_ok_$k") <=> col(s"_nk_$k")).reduce(_ && _)
    // Maps have no equality in Spark SQL; compare their entries sorted by
    // key, so equal maps built in different insertion orders are unchanged.
    def comparable(c: String, side: String): Column = oldSel.schema(s"old_$c").dataType match {
      case _: MapType => array_sort(map_entries(col(s"${side}_$c")))
      case _ => col(s"${side}_$c")
    }
    val changedCond: Column = compareCols
      .map(c => !(comparable(c, "old") <=> comparable(c, "new")))
      .reduceOption(_ || _).getOrElse(lit(false))
    oldSel.join(newSel, cond, "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(changedCond, "changed"))
      .filter(col("change_type").isNotNull)
      .select(
        keys.map(k => coalesce(col(s"_ok_$k"), col(s"_nk_$k")).as(k)) ++
          (col("change_type") +:
            compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c")))): _*)
  }
}
