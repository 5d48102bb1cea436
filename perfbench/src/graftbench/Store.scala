package graftbench

import graft.ingest.{Ingest, Refresh}
import graft.ingest.Refresh.GraphStore
import graft.model.Graph
import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The part of the property graph the operator reports read, built straight
  * from a generated inventory with the program's own model (`Graph` ids,
  * keys and props, undirected types canonicalized as `Ingest` does), so a
  * read-side workload can have a written store without paying for a cold
  * `Refresh.refresh`. Written with `Refresh.write` and read back with
  * `Refresh.load`, it has the layout refreshes produce.
  *
  * Labels and relationship types are the ones `GraphViews` and the blast
  * radius follow: VMs in a resource pool of a cluster, hosts connected to
  * datastores, one disk per VM on its host's datastore, snapshots of VMs.
  */
object Store {

  /** Nodes [[build]] makes: VMs, their disks and snapshots, clusters with
    * one pool each, hosts and datastores.
    */
  def nodeCount(tenants: Seq[Gen.Tenant]): Long = tenants.map(t =>
    2L * t.vms.size + t.vms.count(_.snapshot) + 2L * t.clusters + t.hosts + t.datastores).sum

  /** Edges [[build]] makes: three per VM, one per snapshot, pool and host. */
  def edgeCount(tenants: Seq[Gen.Tenant]): Long = tenants.map(t =>
    3L * t.vms.size + t.vms.count(_.snapshot) + t.clusters + t.hosts).sum

  def build(spark: SparkSession, tenants: Seq[Gen.Tenant]): GraphStore = {
    import spark.implicits._
    val vms = tenants.flatMap(t => t.vms.map { v =>
      val name = s"vm${t.idx}-${v.serial}"
      (t.uid, t.server, t.vmUuid(v), name, s"Cluster${v.host % t.clusters}",
        s"[${t.dsName(v.host / 10)}] $name/$name.vmdk", t.dsUrl(v.host / 10),
        if (v.snapshot) s"snap-${v.serial}" else null)
    }).toDF("uid", "server", "uuid", "name", "cluster", "path", "url", "snap")
    val hosts = tenants.flatMap(t => (0 until t.hosts).map(h =>
      (t.uid, s"host-$h", t.hostName(h), t.dsUrl(h / 10))))
      .toDF("uid", "objid", "name", "url")
    val dss = tenants.flatMap(t => (0 until t.datastores).map(d =>
      (t.uid, t.dsUrl(d), t.dsName(d), "1048576", "524288")))
      .toDF("uid", "url", "name", "capacity", "inuse")
    val clusters = tenants.flatMap(t => (0 until t.clusters).map(c =>
      (t.uid, t.server, s"Cluster$c", s"/DC1/Cluster$c/Resources/prod")))
      .toDF("uid", "server", "cluster", "pool")
    val poolPath = concat(lit("/DC1/"), col("cluster"), lit("/Resources/prod"))
    val snaps = vms.filter(col("snap").isNotNull)

    def nodes(df: DataFrame, label: String, tenant: Boolean, keys: Seq[String],
        props: Map[String, org.apache.spark.sql.Column]): DataFrame =
      Graph.nodesFrom(df, label, if (tenant) col("uid") else lit(null), keys.map(col), props)
    def edges(df: DataFrame, srcLabel: String, srcKeys: Seq[org.apache.spark.sql.Column],
        rel: String, dstLabel: String, dstKeys: Seq[org.apache.spark.sql.Column]): DataFrame =
      Graph.edgesFrom(df, srcLabel, srcKeys, rel, dstLabel, dstKeys, col("uid"))

    val vmKeys = Seq(col("uuid"), col("uid"))
    val n = Seq(
      nodes(vms, "Virtualmachine", tenant = true, Seq("uuid", "uid"),
        Map("uuid" -> col("uuid"), "name" -> col("name"), "managedby" -> col("uid"))),
      nodes(clusters, "Vcentercluster", tenant = true, Seq("cluster", "uid"),
        Map("name" -> col("cluster"), "managedby" -> col("uid"))),
      Graph.nodesFrom(clusters, "Vresourcepool", lit(null), Seq(col("server"), col("pool")),
        Map("path" -> col("pool"), "name" -> lit("prod"), "vc" -> col("server"))),
      nodes(hosts, "Vspherehost", tenant = true, Seq("objid", "uid"),
        Map("objid" -> col("objid"), "name" -> col("name"), "managedby" -> col("uid"))),
      nodes(dss, "Vdatastore", tenant = true, Seq("url"),
        Map("url" -> col("url"), "name" -> col("name"), "capacity" -> col("capacity"),
          "inuse" -> col("inuse"), "managedby" -> col("uid"))),
      nodes(vms, "Virtualdisk", tenant = false, Seq("path"), Map("path" -> col("path"))),
      nodes(snaps, "Vsnapshot", tenant = false, Seq("snap", "uuid"),
        Map("name" -> col("snap"), "vmuuid" -> col("uuid"), "description" -> lit("generated"),
          "timestamp" -> lit("2024/03/05 22:00:00"), "size" -> lit("8192"))))
    val e = Seq(
      edges(vms, "Virtualmachine", vmKeys, "IN_RESOURCE_POOL", "Vresourcepool",
        Seq(col("server"), poolPath)),
      edges(clusters, "Vresourcepool", Seq(col("server"), col("pool")), "MEMBER_OF_CLUSTER",
        "Vcentercluster", Seq(col("cluster"), col("uid"))),
      edges(hosts, "Vspherehost", Seq(col("objid"), col("uid")), "CONNECTED_DATASTORE",
        "Vdatastore", Seq(col("url"))),
      edges(vms, "Virtualdisk", Seq(col("path")), "ON_DATASTORE", "Vdatastore", Seq(col("url"))),
      edges(vms, "Virtualdisk", Seq(col("path")), "VDISK_FOR_VM", "Virtualmachine", vmKeys),
      edges(snaps, "Vsnapshot", Seq(col("snap"), col("uuid")), "SNAPSHOT_OF", "Virtualmachine",
        vmKeys))
    GraphStore(
      n.reduce(_ unionByName _).drop("_ord"),
      Upsert.canonicalizeUndirected(e.reduce(_ unionByName _), Ingest.UndirectedRelTypes)
        .select(Refresh.edgeSchema.fieldNames.map(col).toSeq: _*))
  }
}
