package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical property-graph model (SURVEY.md §1.3).
  *
  * The reference's labeled property graph (46 node labels, 51 relationship
  * types — /root/reference/refresh-vmware.cypher) maps to two Datasets:
  *
  *   nodes(id, label, tenant, key, props: Map[String,String])
  *   edges(src, dst, relType, tenant, props: Map[String,String])
  *
  * `id` is deterministic: xxhash64(label, canonical key tuple), so the same
  * business entity gets the same id on every batch on every executor — no
  * driver-side id assignment, no monotonically_increasing_id drift.
  * `tenant` carries the reference's `managedby` scoping
  * (refresh-vmware.cypher:27,75,182): every mark-and-sweep refresh is
  * tenant-local, which at 100 TB maps to partition pruning on the store.
  */
final case class Node(
    id: Long,
    label: String,
    tenant: String,
    key: String,
    props: Map[String, String])

final case class Edge(
    src: Long,
    dst: Long,
    relType: String,
    tenant: String,
    props: Map[String, String])

object Graph {
  val NodeCols: Seq[String] = Seq("id", "label", "tenant", "key", "props")
  val EdgeCols: Seq[String] = Seq("src", "dst", "relType", "tenant", "props")

  /** Separator inside canonical key strings — keeps ("ab","c") ≠ ("a","bc"). */
  val KeySep: String = "\u001f"
  /** Distinct-from-any-string stand-in for null key parts in id hashing. */
  val NullSentinel: String = "\u0000"

  /** Deterministic node id from label + business-key columns.
    * Mirrors the MERGE composite keys of SURVEY §1.2: uniqueness of
    * (label, key tuple) ⇒ uniqueness of id (modulo 64-bit collisions,
    * which the store's dedup-by-(label,key) invariant makes harmless).
    * The '' separator keeps ("ab","c") ≠ ("a","bc").
    */
  def nodeId(label: String, keyCols: Column*): Column =
    xxhash64((lit(label) +: keyCols.map(c => coalesce(c.cast("string"), lit(NullSentinel)))): _*)

  /** Human-readable canonical key string (used for diff/debug dumps). */
  def keyString(keyCols: Column*): Column =
    concat_ws(KeySep, keyCols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** `props` collects the given columns as a string map (null values kept
    * out of the map — Cypher `SET n.p = null` removes the property).
    */
  private def propsMap(propCols: Map[String, Column]): Column = {
    val propEntries = propCols.toSeq.sortBy(_._1).flatMap { case (name, c) =>
      Seq(lit(name), c.cast("string"))
    }
    if (propEntries.isEmpty) map().cast("map<string,string>")
    else map_filter(map(propEntries: _*), (_, v) => v.isNotNull)
  }

  /** The canonical node columns (id, label, tenant, key, props, _ord) — the
    * only place that order is spelled out for nodes.
    */
  private def nodeCols(label: String, tenant: Column, keyCols: Seq[Column],
      propCols: Map[String, Column], ord: Column): Seq[Column] = Seq(
    nodeId(label, keyCols: _*).as("id"),
    lit(label).as("label"),
    tenant.cast("string").as("tenant"),
    keyString(keyCols: _*).as("key"),
    propsMap(propCols).as("props"),
    ord.cast("long").as("_ord"))

  /** The canonical edge columns (src, dst, relType, tenant, props, _ord). */
  private def edgeCols(srcId: Column, relType: String, dstId: Column, tenant: Column,
      propCols: Map[String, Column], ord: Column): Seq[Column] = Seq(
    srcId.as("src"),
    dstId.as("dst"),
    lit(relType).as("relType"),
    tenant.cast("string").as("tenant"),
    propsMap(propCols).as("props"),
    ord.cast("long").as("_ord"))

  /** One node as a struct of the canonical node columns, for `emit`. */
  def nodeRow(
      label: String,
      tenant: Column,
      keyCols: Seq[Column],
      propCols: Map[String, Column],
      ord: Column = lit(0L)): Column =
    struct(nodeCols(label, tenant, keyCols, propCols, ord): _*)

  /** One edge from already-resolved endpoint ids as a struct of the
    * canonical edge columns, for `emit`.
    */
  def edgeRowIds(
      srcId: Column,
      relType: String,
      dstId: Column,
      tenant: Column,
      propCols: Map[String, Column] = Map.empty,
      ord: Column = lit(0L)): Column =
    struct(edgeCols(srcId, relType, dstId, tenant, propCols, ord): _*)

  /** One edge whose endpoint ids are computed from each side's label+keys. */
  def edgeRow(
      srcLabel: String,
      srcKeys: Seq[Column],
      relType: String,
      dstLabel: String,
      dstKeys: Seq[Column],
      tenant: Column,
      propCols: Map[String, Column] = Map.empty,
      ord: Column = lit(0L)): Column =
    edgeRowIds(nodeId(srcLabel, srcKeys: _*), relType, nodeId(dstLabel, dstKeys: _*),
      tenant, propCols, ord)

  /** All the entities one source frame contributes, in one pass: every
    * source row yields one output row per `(guard, row)` pair whose guard is
    * true. A false or null guard drops that entity for that source row,
    * exactly as `df.filter(guard)` would, so a per-entity filter becomes
    * its guard. The rows must all be `nodeRow`s or all edge rows; the
    * output has their fields as columns.
    *
    * One projection + generator over `df` replaces one `select` per
    * entity, so `df`'s own plan appears once in the result instead of once
    * per entity.
    */
  def emit(df: DataFrame, rows: Seq[(Column, Column)]): DataFrame =
    df.select(explode(array(rows.map { case (g, r) => when(g, r) }: _*)).as("_e"))
      .filter(col("_e").isNotNull)
      .select("_e.*")

  /** Build a nodes frame from a source frame: one row per source row. */
  def nodesFrom(
      df: DataFrame,
      label: String,
      tenant: Column,
      keyCols: Seq[Column],
      propCols: Map[String, Column],
      ord: Column = lit(0L)): DataFrame =
    df.select(nodeCols(label, tenant, keyCols, propCols, ord): _*)

  /** Edge frame from already-resolved endpoint id columns. */
  def edgesFromIds(
      df: DataFrame,
      srcId: Column,
      relType: String,
      dstId: Column,
      tenant: Column,
      propCols: Map[String, Column] = Map.empty,
      ord: Column = lit(0L)): DataFrame =
    df.select(edgeCols(srcId, relType, dstId, tenant, propCols, ord): _*)

  /** Build an edges frame: src/dst ids computed from each side's label+keys. */
  def edgesFrom(
      df: DataFrame,
      srcLabel: String,
      srcKeys: Seq[Column],
      relType: String,
      dstLabel: String,
      dstKeys: Seq[Column],
      tenant: Column,
      propCols: Map[String, Column] = Map.empty,
      ord: Column = lit(0L)): DataFrame =
    edgesFromIds(df, nodeId(srcLabel, srcKeys: _*), relType, nodeId(dstLabel, dstKeys: _*),
      tenant, propCols, ord)
}
