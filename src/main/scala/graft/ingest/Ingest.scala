package graft.ingest

import java.util.regex.Pattern

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.model.Graph
import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's 16 load statements (refresh-vmware.cypher:33-277, pass 1 —
  * SURVEY.md §0 declares pass 1 canonical) as pure sheet-frames → batch
  * transformations. Each statement contributes node/edge frames; `run`
  * assembles them with last-writer-wins property merging keyed by
  * (statement order, sheet row order) — the deterministic batch recast of
  * Cypher's eager row-at-a-time writes.
  *
  * Faithfulness decisions (recorded per SURVEY §0/§7.3):
  *  - `vm.fqdn` ← the sheet's `DNS Name` column (the reference reads it off
  *    the node — a bug; we implement the intent, refresh-vmware.cypher:183).
  *  - Mid-statement MATCH gates join against the batch's own entity sets
  *    (self-contained workbook assumption) — equivalent to the reference's
  *    graph-state matches in the steady state because mark-and-sweep makes
  *    the tenant's graph equal the workbook every run. External CMDB nodes
  *    (Jumboframes, Clientdomain→Company, refresh-vmware.cypher:101,151)
  *    are the exception and are matched against the existing store.
  *  - Vresourcepool identity: canonical (vc, path). The :66 merge key is
  *    (name,cluster,dc,vc), but :67 sets path and the :199/:215-217 sites
  *    address pools by (path,vc); (vc,path) reconciles all sites. Pool rows
  *    whose (name,cluster,dc,vc) collide with different paths are resolved
  *    last-writer (mirroring the row-order-dependent Neo4j outcome).
  *  - MERGE with a null key property fails the statement in Cypher; rows
  *    with null keys are filtered out instead (engine guard, SURVEY M2).
  */
object Ingest {

  /** Relationship types merged with undirected patterns (`-[:R]-`) anywhere
    * in the reference; canonicalized to (min,max) endpoint order on store.
    */
  val UndirectedRelTypes: Set[String] = Set(
    "CONTROLLED_BY_VC",   // :41,:76
    "LINK_SPEED",         // :173
    "PNIC_OF_HOST",       // :174
    "OS_VIA_TOOLS",       // :202
    "OS_VIA_CONFIG",      // :203
    "VDISK_FOR_VM",       // :248
    "ON_DATASTORE",       // :251
    "ADAPTER_FOR",        // :257
    "ADAPTER_TYPE",       // :259
    "PARTITION_FOR",      // :269
    "SNAPSHOT_OF")        // :276

  /** Anchored IPv4 matcher — the reference's `=~` regex
    * (refresh-vmware.cypher:108) is a Cypher FULL match; Spark rlike is a
    * substring match, so we anchor the identical pattern (SURVEY P3).
    */
  private val Ipv4Octet = "(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
  private val Ipv4Full = s"^(?:\\b$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\b)$$"

  /** Cypher split() is by literal delimiter, Spark's by regex (SURVEY F1). */
  private def splitLit(c: Column, delim: String): Column = split(c, Pattern.quote(delim))
  /** Cypher 0-based index i → 1-based element_at (SURVEY F2). */
  private def elem(c: Column, cypherIdx: Int): Column = element_at(c, cypherIdx + 1)
  private def lastElem(c: Column): Column = element_at(c, -1)

  private def ord(stmt: Int): Column = (lit(stmt.toLong) * lit(1L << 40)) + col("_rowno")

  final case class Batch(nodes: DataFrame, edges: DataFrame)

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Run all statements over a workbook, against `storeNodes`/`storeEdges`
    * for the external CMDB prerequisites, and assemble the batch.
    */
  def run(wb: Workbook.Sheets, storeNodes: DataFrame, storeEdges: DataFrame): Batch = {
    val (nodes, edges) = barrier(statements(wb, storeNodes, storeEdges))
    assemble(nodes, edges)
  }

  /** Materialize both statement unions ONCE (eager localCheckpoint) before
    * assemble. Three effects: (1) every one of assemble's chained ops, and
    * every downstream consumer of the batch (Refresh reads batch.nodes at
    * three points), would otherwise re-analyze or re-execute the unions'
    * whole plans; with the barrier each collapses to a leaf. (2) The
    * statements execute exactly once instead of once per consumer.
    * (3) Lineage is cut, the same discipline Refresh.materialize mandates
    * for chained refreshes. Each union is coalesced to defaultParallelism
    * first: its partitions are the sum of every branch's, mostly empty at
    * workbook sizes, and assemble, refresh and write would read them all.
    * With one emit per source frame the golden workbook's analyzed unions
    * are 360 (node side) and 781 (edge side) plan nodes, down from 928 and
    * 1,947 with one select per entity (PlanSpec pins the bound). The two
    * checkpoints are independent jobs and are submitted at once.
    */
  private[graft] def barrier(stmts: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val n = stmts._1.sparkSession.sparkContext.defaultParallelism
    val Seq(nodes, edges) = Await.result(Future.sequence(
      Seq(stmts._1, stmts._2).map(df => Future(df.coalesce(n).localCheckpoint(true)))),
      Duration.Inf)
    (nodes, edges)
  }

  /** The 14 statement builders' output as two lazy unions (nodes, edges). */
  private[graft] def statements(
      wb: Workbook.Sheets, storeNodes: DataFrame, storeEdges: DataFrame): (DataFrame, DataFrame) = {
    val vCluster = wb("vCluster")
    val vInfo = wb("vInfo")
    val vRP = wb("vRP")
    val vHost = wb("vHost")

    // --- shared gate frames (batch-derived entity sets) ---
    // vCenter servers: keyed by uid, name = last writer (:35).
    val vcs = Upsert.dedupeLastWriter(
      vCluster.select(col("VI SDK UUID").as("_uid"), col("VI SDK Server").as("_vcname"), col("_rowno"))
        .filter(col("_uid").isNotNull),
      keys = Seq("_uid"), orderCols = Seq("_rowno")).drop("_rowno")
    val vcNames = vcs.select(col("_vcname")).distinct()
    // clusters: (name, managedby) (:38).
    val clusterSet = vCluster.select(col("Name").as("_ccname"), col("VI SDK UUID").as("_ccuid"))
      .filter(col("_ccname").isNotNull && col("_ccuid").isNotNull).distinct()

    // vHost rows that pass the :74 gate (vc by name ∧ cluster by (name,uid)).
    val hostRows = vHost
      .join(vcNames, vHost("VI SDK Server") === vcNames("_vcname"), "left_semi")
      .join(clusterSet,
        vHost("Cluster") === clusterSet("_ccname") && vHost("VI SDK UUID") === clusterSet("_ccuid"),
        "left_semi")
    // host resolution set for later statements: (name, cluster, uid) → objid.
    val hostSet = Upsert.dedupeLastWriter(
      hostRows.select(col("Host").as("_hname"), col("Cluster").as("_hcluster"),
        col("VI SDK UUID").as("_huid"), col("Object ID").as("_hobjid"), col("_rowno")),
      keys = Seq("_hname", "_hcluster", "_huid"), orderCols = Seq("_rowno")).drop("_rowno")

    // VMs known to the batch: (uuid, uid) (:244,:255,:267,:274 gates).
    val vmSet = vInfo.select(col("VM UUID").as("_vmuuid"), col("VI SDK UUID").as("_vmuid"))
      .filter(col("_vmuuid").isNotNull).distinct()

    // External CMDB prerequisites from the store (refresh-vmware.cypher:101,151).
    val jumboNode = storeNodes
      .filter(col("label") === "Jumboframes" && col("props")("name") === "enabled")
      .select(col("id").as("_jumboid")).limit(1)
    val domainCompany = {
      val cd = storeNodes.filter(col("label") === "Clientdomain")
        .select(col("id").as("_cdid"), col("props")("name").as("_cdname"))
      val co = storeNodes.filter(col("label") === "Company").select(col("id").as("_coid"))
      val e = storeEdges.select(col("src"), col("dst"))
      // (cd)--(a:Company): any relationship, either direction (:101).
      val hop = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      cd.join(hop, cd("_cdid") === hop("src")).join(co, hop("dst") === co("_coid"))
        .select(col("_cdname"), col("_cdid"), col("_coid")).distinct()
    }

    // vRP rows that pass the :59 gate, with derived path columns — shared by
    // the resource-pool statement and the VM statement's OPTIONAL MATCHes.
    val rpRows = vRP
      .withColumn("_rp", splitLit(col("Resource pool"), "Resources"))
      .withColumn("_dcvmc", elem(col("_rp"), 0))
      .withColumn("_respool", elem(col("_rp"), 1))
      .withColumn("_dc", elem(splitLit(col("_dcvmc"), "/"), 1))
      .withColumn("_cluster", elem(splitLit(col("_dcvmc"), "/"), 2))
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(clusterSet, col("_cluster") === col("_ccname") && uid === col("_ccuid"), "left_semi")
      .filter(col("_dc").isNotNull)
    val dcSet = rpRows.select(col("_dc").as("_dcname"), uid.as("_dcuid")).distinct()
    // :66 pool identities (vc, path) that exist after the vRP statement.
    val rpPoolPaths = rpRows
      .withColumn("_pool", lastElem(splitLit(col("_respool"), "/")))
      .filter(col("_pool").isNotNull && col("_pool") =!= "")
      .select(col("VI SDK Server").as("_ppvc"), col("Resource pool").as("_pppath")).distinct()

    // The 14 statement builders are independent of each other (they share
    // only the already-built gate frames above), so their construction —
    // pure driver-side Catalyst analysis — runs concurrently. Dataset
    // construction and analysis on a shared SparkSession is thread-safe
    // (the supported multi-tenant / parallel-job-submission pattern);
    // Await preserves the statement order for `ord` determinism.
    val parts = Await.result(Future.sequence(Seq(
      Future(stmtClusters(vCluster)),
      Future(stmtVcVersion(vInfo, vcs)),
      Future(stmtResourcePools(rpRows)),
      Future(stmtHosts(hostRows, domainCompany)),
      Future(stmtNtpDns(vHost, hostRows)),
      Future(stmtSwitches(wb("vSwitch"), hostSet, jumboNode)),
      Future(stmtPortgroups(wb("vPort"), hostSet)),
      Future(stmtNics(wb("vNIC"), hostSet)),
      Future(stmtVms(vInfo, dcSet, clusterSet, rpPoolPaths)),
      Future(stmtDatastores(wb("vDatastore"), vcs, hostSet)),
      Future(stmtDisks(wb("vDisk"), vcs, vmSet, wb("vDatastore"))),
      Future(stmtAdapters(wb("vNetwork"), vcNames, vmSet, wb("vPort"))),
      Future(stmtPartitions(wb("vPartition"), vcNames, vmSet)),
      Future(stmtSnapshots(wb("vSnapshot"), vcNames, vmSet))),
    ), Duration.Inf)
    (checked(parts.flatMap(_._1), "node"), checked(parts.flatMap(_._2), "edge"))
  }

  // Positional union, not unionByName: every frame comes from Graph.emit,
  // Graph.nodesFrom or Graph.edgesFrom*, which emit the canonical (id, label,
  // tenant, key, props, _ord) / (src, dst, relType, tenant, props, _ord)
  // order, and positional union skips the by-name resolution pass. It is
  // only safe while every builder really does emit that order — node/edge
  // columns are mostly same-typed strings, so a misordered frame would
  // misalign SILENTLY. One cheap name check per frame turns that data
  // corruption into a loud error.
  private def checked(frames: Seq[DataFrame], what: String): DataFrame = {
    val canon = frames.head.columns.toSeq
    frames.foreach { f =>
      require(f.columns.toSeq == canon,
        s"$what builder emitted columns ${f.columns.mkString("(", ",", ")")}; " +
          s"positional union requires the canonical ${canon.mkString("(", ",", ")")}")
    }
    frames.reduce(_ union _)
  }

  /** Merge node/edge contributions: props are last-writer-wins per
    * (id, prop) keyed by (statement, row) order — one shuffle on id.
    */
  private[ingest] def assemble(nodes: DataFrame, edges: DataFrame): Batch = {
    val base = Upsert.dedupeLastWriter(
      nodes.select("id", "label", "tenant", "key", "_ord"),
      keys = Seq("id"), orderCols = Seq("_ord")).drop("_ord")
    val kv = nodes.select(col("id"), col("_ord"), explode(col("props")).as(Seq("_pk", "_pv")))
    val latest = Upsert.dedupeLastWriter(kv, keys = Seq("id", "_pk"), orderCols = Seq("_ord"))
    val props = latest.groupBy("id")
      .agg(map_from_entries(array_sort(collect_list(struct(col("_pk"), col("_pv"))))).as("props"))
    val mergedNodes = base.join(props, Seq("id"), "left")
      .withColumn("props", coalesce(col("props"), map().cast("map<string,string>")))
      .select("id", "label", "tenant", "key", "props")

    val canon = Upsert.canonicalizeUndirected(edges, UndirectedRelTypes)
    val mergedEdges = Upsert.dedupeLastWriter(canon,
      keys = Seq("src", "relType", "dst"), orderCols = Seq("_ord"))
      .drop("_ord")
      .select("src", "dst", "relType", "tenant", "props")
    Batch(mergedNodes, mergedEdges)
  }

  private def uid: Column = col("VI SDK UUID")
  private def noProps: Map[String, Column] = Map.empty
  private val always: Column = lit(true)
  /** One statement's output: node frames and edge frames, one `Graph.emit`
    * (or single-entity frame) per distinct source frame.
    */
  private type Out = (Seq[DataFrame], Seq[DataFrame])

  // ---- statement 1: vCluster → vCenter + clusters (:33-41) ----
  private def stmtClusters(vCluster: DataFrame): Out = {
    val rows = vCluster.filter(uid.isNotNull)
    val o = ord(1)
    val named = col("Name").isNotNull
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vcenterserver", lit(null), Seq(uid),
        Map("uid" -> uid, "name" -> col("VI SDK Server")), o),
      // :36 placeholder pool — identity (vc, path), see scaladoc.
      col("VI SDK Server").isNotNull -> Graph.nodeRow("Vresourcepool", lit(null),
        Seq(col("VI SDK Server"), lit("None Configured")),
        Map("path" -> lit("None Configured"), "name" -> lit("None Configured"),
          "vc" -> col("VI SDK Server")), o),
      // :37 placeholder portgroup (label Vmportgroup as written).
      always -> Graph.nodeRow("Vmportgroup", uid, Seq(lit("None Provided"), uid),
        Map("name" -> lit("None Provided"), "managedby" -> uid), o),
      named -> Graph.nodeRow("Vcentercluster", uid, Seq(col("Name"), uid),
        Map("name" -> col("Name"), "managedby" -> uid,
          "hosts" -> col("OverallStatus"), "cpu" -> col("TotalCpu"),
          "CpuCored" -> col("NumCpuCores"), "memory" -> col("TotalMemory"),
          "ha" -> col("HA enabled"), "drs" -> col("DRS enabled")), o)))
    val e = Graph.edgesFrom(rows.filter(named), "Vcentercluster", Seq(col("Name"), uid),
      "CONTROLLED_BY_VC", "Vcenterserver", Seq(uid), uid, noProps, o)
    (Seq(nodes), Seq(e))
  }

  // ---- statement 2: vInfo → vCenter version/build (:43-51) ----
  private def stmtVcVersion(vInfo: DataFrame, vcs: DataFrame): Out = {
    val o = ord(2)
    // :47 matches the vCenter by NAME, but Vcenterserver identity is uid —
    // resolve name → uid through the vCluster-derived map (inner join = gate).
    val rows = vInfo
      .select(col("VI SDK Server type").as("_vcversion"), col("VI SDK Server").as("_vcserver"),
        col("_rowno"))
      .dropDuplicates("_vcversion", "_vcserver") // WITH DISTINCT (:45)
      .join(vcs, col("_vcserver") === col("_vcname"))
      .withColumn("_vname", elem(splitLit(col("_vcversion"), " build-"), 0))
      .withColumn("_vbuild", elem(splitLit(col("_vcversion"), " build-"), 1))
      .filter(col("_vname").isNotNull && col("_vbuild").isNotNull)
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vcenterversion", lit(null), Seq(col("_vname")),
        Map("name" -> col("_vname")), o),
      always -> Graph.nodeRow("Vcenterbuild", lit(null), Seq(col("_vbuild")),
        Map("build" -> col("_vbuild")), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRow("Vcenterbuild", Seq(col("_vbuild")), "BUILD_OF",
        "Vcenterversion", Seq(col("_vname")), lit(null), noProps, o),
      always -> Graph.edgeRowIds(Graph.nodeId("Vcenterserver", col("_uid")),
        "IS_VCENTER_BUILD", Graph.nodeId("Vcenterbuild", col("_vbuild")), lit(null), noProps, o)))
    (Seq(nodes), Seq(edges))
  }

  // ---- statement 3: vRP → datacenters + resource-pool tree (:53-71) ----
  private def stmtResourcePools(rpRows: DataFrame): Out = {
    val o = ord(3)
    val rows = rpRows
      .withColumn("_pool", lastElem(splitLit(col("_respool"), "/")))
      .withColumn("_parentpath", expr("replace(_respool, concat('/', _pool), '')"))
      .withColumn("_parent", lastElem(splitLit(col("_parentpath"), "/")))
    val isPool = col("_pool") =!= "" // :65
    // Canonical pool identity (vc, path); path = the full `Resource pool`.
    val poolKeys = Seq(col("VI SDK Server"), col("Resource pool"))
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vspheredatacenter", uid, Seq(col("_dc"), uid),
        Map("name" -> col("_dc"), "managedby" -> uid), o),
      isPool -> Graph.nodeRow("Vresourcepool", lit(null), poolKeys,
        Map("name" -> col("_pool"), "cluster" -> col("_cluster"), "dc" -> col("_dc"),
          "vc" -> col("VI SDK Server"), "path" -> col("Resource pool"),
          "vms" -> col("# VMs"), "cpus" -> col("# vCPUs"), "memcfg" -> col("Mem Configured")), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRow("Vcentercluster", Seq(col("_cluster"), uid), "LOCATED_IN_DC",
        "Vspheredatacenter", Seq(col("_dc"), uid), uid, noProps, o),
      always -> Graph.edgeRow("Vspheredatacenter", Seq(col("_dc"), uid), "CONTROLLED_BY_VC",
        "Vcenterserver", Seq(uid), uid, noProps, o),
      isPool -> Graph.edgeRow("Vresourcepool", poolKeys, "MEMBER_OF_CLUSTER",
        "Vcentercluster", Seq(col("_cluster"), uid), uid, noProps, o)))
    // :69-71 parent pool (inner MATCH) — matched by (name, cluster, dc, vc);
    // resolve to the parent's canonical (vc, full path) identity. Duplicate
    // (name,cluster,dc,vc) parents collapse last-writer, mirroring Neo4j's
    // row-order-dependent path property under the :66 merge key.
    val poolRows = rows.filter(isPool)
    val parentCands = Upsert.dedupeLastWriter(
      poolRows.select(col("VI SDK Server").as("_pvc"), col("_cluster").as("_pcl"),
        col("_dc").as("_pdc"), col("_pool").as("_pname"),
        col("Resource pool").as("_ppfull"), col("_rowno").as("_prow")),
      keys = Seq("_pvc", "_pcl", "_pdc", "_pname"), orderCols = Seq("_prow"))
    val childRows = poolRows.join(parentCands,
      col("VI SDK Server") === col("_pvc") && col("_cluster") === col("_pcl") &&
        col("_dc") === col("_pdc") && col("_parent") === col("_pname"))
    val eChild = Graph.edgesFromIds(childRows, Graph.nodeId("Vresourcepool", poolKeys: _*),
      "CHILD_RESOURCE_POOL",
      Graph.nodeId("Vresourcepool", col("_pvc"), col("_ppfull")), uid, noProps, o)
    (Seq(nodes), Seq(edges, eChild))
  }

  // ---- statement 4: vHost → hosts + dimension nodes (:73-103) ----
  private def stmtHosts(hostRows: DataFrame, domainCompany: DataFrame): Out = {
    val o = ord(4)
    val rows = hostRows.filter(col("Object ID").isNotNull)
    val hostKeys = Seq(col("Object ID"), uid)
    val esx = splitLit(col("ESX Version"), " build-")
    val vendor = coalesce(col("Vendor"), lit("None Provided"))
    val model = coalesce(col("Model"), lit("None Provided"))
    val bios = Seq(coalesce(col("BIOS Version"), lit("None Provided")), col("BIOS Date"))
    // (label, key, relationship from the host) of the one-key dimensions.
    val dims = Seq(
      ("Vconfigstatus", col("Config status"), "CONFIG_STATUS"),
      ("Vspherecpupwrmgpol", col("`Current CPU power man. policy`"), "IN_CPU_POW_MGMT"),
      ("Vspherehostpwrmgpol", col("Host Power Policy"), "IN_HOST_POW_PLCY"),
      ("Cpumodel", col("CPU Model"), "HAS_CPU"),
      ("Vsphereesxversion", elem(esx, 0), "IS_ESX_VERSION"),
      ("Crmmanufacturer", vendor, "MANUFACTURED_BY"),
      ("Crmmodel", model, "ASSET_MODEL"))

    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vspherehost", uid, hostKeys,
        Map("objid" -> col("Object ID"), "managedby" -> uid,
          "name" -> col("Host"), "hosts" -> col("NumHosts"), "cpu" -> col("# CPU"),
          "cores" -> col("# Cores"), "memory" -> col("# Memory"),
          "memusage" -> col("Memory usage %"), "vms" -> col("# VMs"),
          "license" -> col("Assigned License(s)"), "chipset" -> col("Max EVC"),
          "boot" -> col("Boot time"), "servicetag" -> col("Service tag")), o),
      elem(esx, 1).isNotNull -> Graph.nodeRow("Vsphereesxbuild", lit(null),
        Seq(elem(esx, 1)), Map("build" -> elem(esx, 1)), o),
      always -> Graph.nodeRow("Biosversion", lit(null), bios,
        Map("version" -> bios.head, "date" -> col("BIOS Date")), o)) ++
      dims.map { case (label, key, _) =>
        key.isNotNull -> Graph.nodeRow(label, lit(null), Seq(key), Map("name" -> key), o)
      })

    def fromHost(rel: String, dstLabel: String, dstKeys: Seq[Column]) =
      Graph.edgeRow("Vspherehost", hostKeys, rel, dstLabel, dstKeys, uid, noProps, o)
    val edges = Graph.emit(rows, Seq(
      always -> fromHost("MEMBER_OF_CLUSTER", "Vcentercluster", Seq(col("Cluster"), uid)),
      always -> fromHost("CONTROLLED_BY_VC", "Vcenterserver", Seq(uid)),
      elem(esx, 1).isNotNull -> fromHost("IS_ESX_BUILD", "Vsphereesxbuild", Seq(elem(esx, 1))),
      (elem(esx, 1).isNotNull && elem(esx, 0).isNotNull) -> Graph.edgeRow("Vsphereesxbuild",
        Seq(elem(esx, 1)), "BUILD_OF", "Vsphereesxversion", Seq(elem(esx, 0)), uid, noProps, o),
      always -> Graph.edgeRow("Biosversion", bios, "MANUFACTURED_BY", "Crmmanufacturer",
        Seq(vendor), uid, noProps, o),
      always -> fromHost("BIOS_VERSION", "Biosversion", bios)) ++
      dims.map { case (label, key, rel) => key.isNotNull -> fromHost(rel, label, Seq(key)) })
    // :100-103 stage 2 — only rows whose Domain matches a CMDB Clientdomain
    // that is linked to a Company (D3 row-elimination: earlier writes stand).
    val domainRows = rows
      .withColumn("_domain", coalesce(col("Domain"), lit("None Provided")))
      .join(domainCompany, col("_domain") === col("_cdname"))
    val hostId = Graph.nodeId("Vspherehost", hostKeys: _*)
    val eDomain = Graph.emit(domainRows, Seq(
      always -> Graph.edgeRowIds(hostId, "OF_DOMAIN", col("_cdid"), uid, noProps, o),
      always -> Graph.edgeRowIds(hostId, "ESX_HOST_FOR", col("_coid"), uid, noProps, o)))
    (Seq(nodes), Seq(edges, eDomain))
  }

  // ---- statements 5-8: NTP/DNS servers by IP|FQDN (:105-139) ----
  private def stmtNtpDns(vHost: DataFrame, hostRows: DataFrame): Out = {
    val o = ord(5)
    // :107 gate: host by (objid, name) — no managedby in the pattern; the
    // batch host set is keyed (objid, uid), name must also match.
    val hs = hostRows.select(col("Object ID").as("_gobjid"), col("Host").as("_ghost"),
      uid.as("_guid")).distinct()
    val gated = vHost.join(hs,
      col("Object ID") === col("_gobjid") && col("Host") === col("_ghost") && uid === col("_guid"),
      "left_semi")
    val hostKeys = Seq(col("Object ID"), uid)

    def family(listCol: String, rel: String, label: String): Out = {
      val exploded = gated
        .select(col("Object ID"), uid, col("_rowno"),
          explode(splitLit(col(listCol), ",")).as("_raw"))
        .withColumn("_val", trim(col("_raw")))
        .filter(col("_val").isNotNull)
      val isIp = col("_val").rlike(Ipv4Full)
      // Ntpserver{ipaddress:x} and Ntpserver{fqdn:x} are distinct identity
      // domains on the same label (different key property) — the key tuple
      // carries the property name to keep them apart.
      val kinds = Seq(isIp -> "ipaddress", !isIp -> "fqdn")
      (Seq(Graph.emit(exploded, kinds.map { case (g, prop) =>
        g -> Graph.nodeRow(label, lit(null), Seq(lit(prop), col("_val")),
          Map(prop -> col("_val")), o)
      })), Seq(Graph.emit(exploded, kinds.map { case (g, prop) =>
        g -> Graph.edgeRow("Vspherehost", hostKeys, rel, label,
          Seq(lit(prop), col("_val")), uid, noProps, o)
      })))
    }
    val (ntpN, ntpE) = family("NTP Server(s)", "USES_NTP", "Ntpserver")
    val (dnsN, dnsE) = family("DNS Servers", "USES_DNS", "Dnsserver")
    (ntpN ++ dnsN, ntpE ++ dnsE)
  }

  // ---- statement 9: vSwitch (:141-152) ----
  private def stmtSwitches(vSwitch: DataFrame, hostSet: DataFrame, jumboNode: DataFrame): Out = {
    val o = ord(6)
    val rows = vSwitch.join(hostSet,
      col("Host") === col("_hname") && col("Cluster") === col("_hcluster") && uid === col("_huid"))
      .filter(col("Switch").isNotNull)
    val swKeys = Seq(col("Switch"), col("Host"))
    val hasPolicy = col("Policy").isNotNull
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vswitch", lit(null), swKeys,
        Map("name" -> col("Switch"), "host" -> col("Host"),
          "ports" -> col("# Ports"), "freeports" -> col("Free Ports"),
          "promiscuous" -> col("Promiscuous Mode"), "macchanges" -> col("Mac Changes"),
          "forged" -> col("Forged Transmits"), "shaping" -> col("Traffic Shaping"),
          "notifysw" -> col("Notify Switch"), "mtu" -> col("MTU").cast("int"),
          "offload" -> col("Offload")), o),
      hasPolicy -> Graph.nodeRow("Vlbpolicy", lit(null), Seq(col("Policy")),
        Map("name" -> col("Policy")), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRowIds(Graph.nodeId("Vswitch", swKeys: _*), "VSWITCH_FOR_HOST",
        Graph.nodeId("Vspherehost", col("_hobjid"), uid), uid, noProps, o),
      hasPolicy -> Graph.edgeRow("Vswitch", swKeys, "LOAD_BALANCING_POLICY", "Vlbpolicy",
        Seq(col("Policy")), uid, noProps, o)))
    // :150-152 — only if the external Jumboframes{enabled} node exists.
    val jumboRows = rows.filter(col("MTU").cast("int") >= 9000).crossJoin(broadcast(jumboNode))
    val eJumbo = Graph.edgesFromIds(jumboRows, Graph.nodeId("Vswitch", swKeys: _*),
      "HAS_JUMBO_FRAMES", col("_jumboid"), uid, noProps, o)
    (Seq(nodes), Seq(edges, eJumbo))
  }

  // ---- statement 10: vPort → portgroups (:154-163) ----
  private def stmtPortgroups(vPort: DataFrame, hostSet: DataFrame): Out = {
    val o = ord(7)
    // Gate: host+cluster ∧ switch (name, host) — the switch comes from the
    // batch's vSwitch statement, keyed (Switch, Host); a vPort row whose
    // switch was not ingested fails the :156 MATCH.
    val rows = vPort.join(hostSet,
      col("Host") === col("_hname") && col("Cluster") === col("_hcluster") && uid === col("_huid"))
      .filter(col("Port Group").isNotNull)
    val pgKeys = Seq(col("Port Group"), col("Host"), uid)
    val policy = coalesce(col("Policy"), lit("None Provided"))
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vportgroup", uid, Seq(col("Port Group"), uid),
        Map("name" -> col("Port Group"), "managedby" -> uid), o),
      always -> Graph.nodeRow("Vhostportgroup", uid, pgKeys,
        Map("name" -> col("Port Group"), "host" -> col("Host"), "managedby" -> uid,
          "vlan" -> col("VLAN"), "promiscuous" -> col("Promiscuous Mode"),
          "macchanges" -> col("Mac Changes"), "forged" -> col("Forged Transmits"),
          "shaping" -> col("Traffic Shaping")), o),
      always -> Graph.nodeRow("Vlbpolicy", lit(null), Seq(policy), Map("name" -> policy), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRow("Vhostportgroup", pgKeys, "HOST_PG_FOR",
        "Vportgroup", Seq(col("Port Group"), uid), uid, noProps, o),
      always -> Graph.edgeRowIds(Graph.nodeId("Vhostportgroup", pgKeys: _*),
        "STANDARD_PG_ON", Graph.nodeId("Vspherehost", col("_hobjid"), uid), uid, noProps, o),
      always -> Graph.edgeRow("Vswitch", Seq(col("Switch"), col("Host")),
        "LOAD_BALANCING_POLICY", "Vlbpolicy", Seq(policy), uid, noProps, o)))
    (Seq(nodes), Seq(edges))
  }

  // ---- statement 11: vNIC (:165-176) ----
  private def stmtNics(vNIC: DataFrame, hostSet: DataFrame): Out = {
    val o = ord(8)
    val rows = vNIC.join(hostSet,
      col("Host") === col("_hname") && col("Cluster") === col("_hcluster") && uid === col("_huid"))
      .filter(col("Network Device").isNotNull)
    val nicKeys = Seq(col("Network Device"), col("Host"))
    val speed = coalesce(col("Speed"), lit("No link"))
    val driver = coalesce(col("Driver"), lit("None Provided"))
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vmnic", lit(null), nicKeys,
        Map("name" -> col("Network Device"), "host" -> col("Host"),
          "mac" -> col("MAC"), "wake" -> col("WakeOn"), "pci" -> col("PCI")), o),
      always -> Graph.nodeRow("Vmnicdriver", lit(null), Seq(driver), Map("name" -> driver), o),
      always -> Graph.nodeRow("Vmnicspeed", lit(null), Seq(speed), Map("name" -> speed), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRow("Vmnic", nicKeys, "USES_DRIVER", "Vmnicdriver",
        Seq(driver), uid, noProps, o),
      always -> Graph.edgeRow("Vmnic", nicKeys, "LINK_SPEED", "Vmnicspeed",
        Seq(speed), uid, noProps, o),
      always -> Graph.edgeRowIds(Graph.nodeId("Vmnic", nicKeys: _*), "PNIC_OF_HOST",
        Graph.nodeId("Vspherehost", col("_hobjid"), uid), uid, noProps, o),
      always -> Graph.edgeRow("Vswitch", Seq(col("Switch"), col("Host")), "NETWORK_ADAPTERS",
        "Vmnic", nicKeys, uid, noProps, o)))
    (Seq(nodes), Seq(edges))
  }

  // ---- statement 12: vInfo → VMs (:178-224) — the most complex one ----
  private def stmtVms(
      vInfo: DataFrame, dcSet: DataFrame, clusterSet: DataFrame, rpPoolPaths: DataFrame): Out = {
    val o = ord(9)
    val vms = vInfo.filter(col("VM UUID").isNotNull)
      .withColumn("_folderdc", elem(splitLit(col("Folder"), "/"), 1))
      .withColumn("_pooldepth", size(splitLit(col("Resource pool"), "/")))
      .withColumn("_folderdepth", size(splitLit(col("Folder"), "/")))
      .withColumn("_poolcluster", elem(splitLit(col("Resource pool"), "/"), 2))
    // :180-181 OPTIONAL MATCH dc/cluster on derived keys (left joins; both
    // sets are distinct on their join keys, so each VM stays one row). Only
    // the parent wiring reads the matches; the nodes come from `vms`.
    val rows = vms
      .join(dcSet, col("_folderdc") === col("_dcname") && uid === col("_dcuid"), "left")
      .withColumn("_hasdc", col("_dcname").isNotNull)
      .join(clusterSet, col("_poolcluster") === col("_ccname") && uid === col("_ccuid"), "left")
      .withColumn("_hascc", col("_ccname").isNotNull)

    val vmKeys = Seq(col("VM UUID"), uid)
    val vmId = Graph.nodeId("Virtualmachine", vmKeys: _*)
    val vcpus = Seq(concat(col("CPUs"), lit(" vCPUs")), col("CPUs").cast("int"))
    val hwver = col("HW version").cast("int")
    val osTools = col("OS according to the VMware Tools")
    val osConfig = col("OS according to the configuration file")
    val networks = (1 to 4).map(i => coalesce(col(s"Network #$i"), lit("Not Configured")))
    // (label, key, relationship from the VM) of the one-key dimensions.
    val dims = Seq(
      ("Vconnectionstate", col("Connection state"), "CONNECTION_STATE"),
      ("Vconfigstatus", col("Config status"), "CONFIG_STATUS"),
      ("Vmpwrstate", col("Powerstate"), "IN_POWER_STATE"),
      ("Vmpgueststate", col("Guest state"), "IN_GUEST_STATE"),
      ("Vmheartbeat", col("Heartbeat"), "HEARTBEAT"))

    // :199-203 FOREACH conditional writes (D2 → guarded rows).
    val poolGuard = col("Resource pool").isNotNull && col("_pooldepth") > 4
    val folderGuard = col("Folder").isNotNull && col("_folderdepth") > 2
    val poolPath = coalesce(col("Resource pool"), lit("None Configured"))

    val nodes = Graph.emit(vms, Seq(
      always -> Graph.nodeRow("Virtualmachine", uid, vmKeys,
        Map("uuid" -> col("VM UUID"), "managedby" -> uid,
          "name" -> col("VM"), "fqdn" -> col("DNS Name"), "poweron" -> col("PowerOn"),
          "changedon" -> col("Change Version"), "note" -> col("Annotation"),
          "vmid" -> col("VM ID"), "needsconsolidation" -> col("Consolidation Needed"),
          "cpus" -> col("CPUs"), "memory" -> col("Memory").cast("int"),
          "nics" -> col("NICs").cast("int"), "disks" -> col("Disks").cast("int"),
          "cbt" -> col("CBT")), o),
      col("CPUs").isNotNull -> Graph.nodeRow("Vcpus", lit(null), vcpus,
        Map("name" -> vcpus.head, "qty" -> vcpus(1)), o),
      hwver.isNotNull -> Graph.nodeRow("Vhwver", lit(null), Seq(hwver), Map("name" -> hwver), o),
      poolGuard -> Graph.nodeRow("Vresourcepool", lit(null), Seq(col("VI SDK Server"), poolPath),
        Map("path" -> poolPath, "vc" -> col("VI SDK Server"),
          "name" -> lastElem(splitLit(col("Resource pool"), "/"))), o),
      folderGuard -> Graph.nodeRow("Vfolder", lit(null), Seq(col("Folder")),
        Map("path" -> col("Folder"), "name" -> lastElem(splitLit(col("Folder"), "/"))), o)) ++
      // :202-203 — the FOREACH guard is exists(col), so the coalesce default
      // is unreachable; null columns create no node.
      (dims.map { case (label, key, _) => (label, key) } ++ Seq("Vmos" -> osTools, "Vmos" -> osConfig))
        .map { case (label, key) =>
          key.isNotNull -> Graph.nodeRow(label, lit(null), Seq(key), Map("name" -> key), o)
        } ++
      networks.map(n => always -> Graph.nodeRow("Vportgroup", uid, Seq(n, uid),
        Map("name" -> n, "managedby" -> uid), o)))

    def vmEdge(rel: String, dstLabel: String, dstKeys: Seq[Column],
        guard: Column = always, props: Map[String, Column] = noProps) =
      (guard && dstKeys.map(_.isNotNull).reduce(_ && _)) ->
        Graph.edgeRow("Virtualmachine", vmKeys, rel, dstLabel, dstKeys, uid, props, o)
    val vmEdges = Seq(
      vmEdge("HW_VERSION", "Vhwver", Seq(hwver),
        props = Map("upgradestatus" -> col("HW upgrade status"))), // :187,:212
      vmEdge("HAS_VCPUS", "Vcpus", vcpus),
      // :199-200 / :201 conditional pool/folder membership
      poolGuard -> Graph.edgeRowIds(vmId, "IN_RESOURCE_POOL",
        Graph.nodeId("Vresourcepool", col("VI SDK Server"), poolPath), uid, noProps, o),
      folderGuard -> Graph.edgeRowIds(vmId, "IN_FOLDER",
        Graph.nodeId("Vfolder", col("Folder")), uid, noProps, o),
      // :202-203 OS via tools/config (undirected)
      vmEdge("OS_VIA_TOOLS", "Vmos", Seq(coalesce(osTools, lit("None Provided"))),
        guard = osTools.isNotNull),
      vmEdge("OS_VIA_CONFIG", "Vmos", Seq(coalesce(osConfig, lit("None Provided"))),
        guard = osConfig.isNotNull)) ++
      dims.map { case (label, key, rel) => vmEdge(rel, label, Seq(key)) } ++
      // :204-211 four portgroup links
      networks.map(n => vmEdge("IN_PORTGROUP", "Vportgroup", Seq(n, uid)))

    // :214-217 parent wiring — against the batch's full folder/pool sets
    // (order-independent recast of the per-row eager visibility, §3.3).
    val folderPaths = vms.filter(folderGuard).select(col("Folder").as("_fpath")).distinct()
    val poolPaths = vms.filter(poolGuard)
      .select(col("VI SDK Server").as("_ppvc"), col("Resource pool").as("_pppath"))
      .unionByName(rpPoolPaths)
      .distinct()

    val wired = rows
      .join(folderPaths, col("Folder") === col("_fpath"), "left")
      .withColumn("_hasfolder", col("_fpath").isNotNull)
      .withColumn("_fname", lastElem(splitLit(col("_fpath"), "/")))
      .withColumn("_fparent", expr("replace(_fpath, concat('/', _fname), '')"))
      .join(poolPaths, col("VI SDK Server") === col("_ppvc") && col("Resource pool") === col("_pppath"), "left")
      .withColumn("_haspool", col("_pppath").isNotNull)
      .withColumn("_ppname", lastElem(splitLit(col("_pppath"), "/")))
      .withColumn("_ppparent", expr("replace(_pppath, concat('/', _ppname), '')"))
    val fp2 = folderPaths.select(col("_fpath").as("_fppath2"))
    val pp2 = poolPaths.select(col("_ppvc").as("_ppvc2"), col("_pppath").as("_pppath2"))
    val wired2 = wired
      .join(fp2, col("_fparent") === col("_fppath2"), "left")
      .withColumn("_hasparentfolder", col("_fppath2").isNotNull)
      .join(pp2, col("_ppvc") === col("_ppvc2") && col("_ppparent") === col("_pppath2"), "left")
      .withColumn("_hasparentpool", col("_pppath2").isNotNull)

    val folderId = Graph.nodeId("Vfolder", col("_fpath"))
    val dcId = Graph.nodeId("Vspheredatacenter", col("_dcname"), uid)
    val poolId = Graph.nodeId("Vresourcepool", col("_ppvc"), col("_pppath"))
    val ccId = Graph.nodeId("Vcentercluster", col("_ccname"), uid)
    def wiredEdge(guard: Column, srcId: Column, rel: String, dstId: Column) =
      guard -> Graph.edgeRowIds(srcId, rel, dstId, uid, noProps, o)
    // Every VM edge comes from wired2: its left joins are on distinct path
    // sets, so it has exactly one row per row of `rows`.
    val edges = Graph.emit(wired2, vmEdges ++ Seq(
      // :218-223 parent wiring guards
      wiredEdge(col("_hasfolder") && col("_hasparentfolder"), folderId, "IN_FOLDER",
        Graph.nodeId("Vfolder", col("_fparent"))),
      wiredEdge(col("_hasfolder") && !col("_hasparentfolder") && col("_hasdc"),
        folderId, "LOCATED_IN_DC", dcId),
      wiredEdge(!col("_hasfolder") && col("_hasdc"), vmId, "LOCATED_IN_DC", dcId),
      wiredEdge(col("_haspool") && col("_hasparentpool"), poolId, "CHILD_RESOURCE_OF",
        Graph.nodeId("Vresourcepool", col("_ppvc"), col("_ppparent"))),
      wiredEdge(col("_hascc") && col("_haspool") && !col("_hasparentpool"),
        poolId, "LOCATED_IN_CLUSTER", ccId),
      wiredEdge(col("_hascc") && !col("_haspool"), vmId, "LOCATED_IN_CLUSTER", ccId)))
    (Seq(nodes), Seq(edges))
  }

  // ---- statement 13: vDatastore (:227-240) ----
  private def stmtDatastores(vDatastore: DataFrame, vcs: DataFrame, hostSet: DataFrame): Out = {
    val o = ord(10)
    val rows = vDatastore.join(vcs, uid === col("_uid"), "left_semi")
      .filter(col("URL").isNotNull)
    val dsKeys = Seq(col("URL"))
    // (label, key, relationship from the datastore) of the one-key dimensions.
    val dims = Seq(("Vconfigstatus", col("Config status"), "CONFIG_STATUS"),
      ("Vdatastoretype", col("Type"), "DATASTORE_TYPE"))
    val nodes = Graph.emit(rows, (always -> Graph.nodeRow("Vdatastore", uid, dsKeys,
      Map("url" -> col("URL"), "name" -> col("Name"), "accessible" -> col("Accessible"),
        "capacity" -> col("Capacity MB"), "inuse" -> col("In Use MB"), "free" -> col("Free MB"),
        "hosts" -> col("# Hosts"), "verion" -> col("Version"), "sio" -> col("SIOC enabled"),
        "vms" -> col("# VMs"), "address" -> col("Address"), "managedby" -> uid), o)) +:
      dims.map { case (label, key, _) =>
        key.isNotNull -> Graph.nodeRow(label, lit(null), Seq(key), Map("name" -> key), o)
      })
    val edges = Graph.emit(rows, dims.map { case (label, key, rel) =>
      key.isNotNull -> Graph.edgeRow("Vdatastore", dsKeys, rel, label, Seq(key), uid, noProps, o)
    })
    // :237-240 host connections: explode + trim + match host by (name, uid).
    val hostLinks = rows
      .select(col("URL"), uid, col("_rowno"), explode(splitLit(col("Hosts"), ",")).as("_raw"))
      .withColumn("_hn", trim(col("_raw")))
      .join(hostSet, col("_hn") === col("_hname") && uid === col("_huid"))
    val eHosts = Graph.edgesFromIds(hostLinks,
      Graph.nodeId("Vspherehost", col("_hobjid"), uid), "CONNECTED_DATASTORE",
      Graph.nodeId("Vdatastore", dsKeys: _*), uid, noProps, o)
    (Seq(nodes), Seq(edges, eHosts))
  }

  // ---- statement 14: vDisk (:242-251) ----
  private def stmtDisks(
      vDisk: DataFrame, vcs: DataFrame, vmSet: DataFrame, vDatastore: DataFrame): Out = {
    val o = ord(11)
    val rows = vDisk.join(vcs, uid === col("_uid"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")
      .filter(col("Path").isNotNull)
    val vd = Graph.nodesFrom(rows, "Virtualdisk", lit(null), Seq(col("Path")),
      Map("path" -> col("Path"), "disk" -> col("Disk"), "capacity" -> col("Capacity MB"),
        "thin" -> col("Thin"), "controller" -> col("Controller"), "mode" -> col("Disk Mode"),
        "eager" -> col("Eagerly Scrub"), "template" -> col("Template")), o)
    val eVm = Graph.edgesFrom(rows, "Virtualdisk", Seq(col("Path")), "VDISK_FOR_VM",
      "Virtualmachine", Seq(col("VM UUID"), uid), uid, noProps, o)
    // :249-251: datastore name from "[ds] path"; gate = ds of same tenant
    // connected to the row's host (the ds Hosts list must include it).
    val withDs = rows.withColumn("_dsname", expr("replace(split(Path, '\\\\]')[0], '[', '')"))
    val dsHost = vDatastore
      .select(col("URL").as("_dsurl"), col("Name").as("_dsn"), uid.as("_dsuid"),
        explode(splitLit(col("Hosts"), ",")).as("_dsraw"))
      .withColumn("_dshost", trim(col("_dsraw")))
      .distinct()
    val diskDs = withDs.join(dsHost,
      col("_dsname") === col("_dsn") && uid === col("_dsuid") && col("Host") === col("_dshost"))
    val eDs = Graph.edgesFromIds(diskDs, Graph.nodeId("Virtualdisk", col("Path")),
      "ON_DATASTORE", Graph.nodeId("Vdatastore", col("_dsurl")), uid, noProps, o)
    (Seq(vd), Seq(eVm, eDs))
  }

  // ---- statement 15: vNetwork → adapters (:253-263) ----
  private def stmtAdapters(
      vNetwork: DataFrame, vcNames: DataFrame, vmSet: DataFrame, vPort: DataFrame): Out = {
    val o = ord(12)
    val rows = vNetwork
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")
      .filter(col("Mac Address").isNotNull)
    val adKeys = Seq(col("Mac Address"), col("VM UUID"))
    val hasType = col("Adapter").isNotNull
    val nodes = Graph.emit(rows, Seq(
      always -> Graph.nodeRow("Vmadapter", lit(null), adKeys,
        Map("mac" -> col("Mac Address"), "vmuuid" -> col("VM UUID"),
          "startconnected" -> col("Starts Connected"), "ip" -> col("IP Address")), o),
      hasType -> Graph.nodeRow("Vmadaptertype", lit(null), Seq(col("Adapter")),
        Map("name" -> col("Adapter")), o)))
    val edges = Graph.emit(rows, Seq(
      always -> Graph.edgeRow("Vmadapter", adKeys, "ADAPTER_FOR", "Virtualmachine",
        Seq(col("VM UUID"), uid), uid, noProps, o),
      hasType -> Graph.edgeRow("Vmadapter", adKeys, "ADAPTER_TYPE", "Vmadaptertype",
        Seq(col("Adapter")), uid, noProps, o)))
    // :261-263 stage 2: host portgroup (name, host, managedby) from vPort batch.
    val pgSet = vPort.select(col("Port Group").as("_pgname"), col("Host").as("_pghost"),
      uid.as("_pguid")).distinct()
    val pgRows = rows.join(pgSet,
      col("Network") === col("_pgname") && col("Host") === col("_pghost") && uid === col("_pguid"))
    val ePg = Graph.edgesFromIds(pgRows, Graph.nodeId("Vmadapter", adKeys: _*), "IN_PORTGROUP",
      Graph.nodeId("Vhostportgroup", col("_pgname"), col("_pghost"), uid), uid, noProps, o)
    (Seq(nodes), Seq(edges, ePg))
  }

  // ---- statement 16a: vPartition (:265-270) ----
  private def stmtPartitions(vPartition: DataFrame, vcNames: DataFrame, vmSet: DataFrame): Out = {
    val o = ord(13)
    val rows = vPartition
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")
      .filter(col("Disk").isNotNull)
    val keys = Seq(col("Disk"), col("VM UUID"))
    val vmp = Graph.nodesFrom(rows, "Vpartition", lit(null), keys,
      Map("disk" -> col("Disk"), "vmuuid" -> col("VM UUID"), "capacity" -> col("Capacity MB"),
        "consumed" -> col("Consumed MB"), "free" -> col("Free %")), o)
    val e = Graph.edgesFrom(rows, "Vpartition", keys, "PARTITION_FOR", "Virtualmachine",
      Seq(col("VM UUID"), uid), uid, noProps, o)
    (Seq(vmp), Seq(e))
  }

  // ---- statement 16b: vSnapshot (:272-277) ----
  private def stmtSnapshots(vSnapshot: DataFrame, vcNames: DataFrame, vmSet: DataFrame): Out = {
    val o = ord(14)
    val rows = vSnapshot
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")
      .filter(col("Name").isNotNull)
    val keys = Seq(col("Name"), col("VM UUID"))
    val vmss = Graph.nodesFrom(rows, "Vsnapshot", lit(null), keys,
      Map("name" -> col("Name"), "vmuuid" -> col("VM UUID"),
        "description" -> col("Description"), "timestamp" -> col("Date / time"),
        "size" -> col("Size MB (total)")), o)
    val e = Graph.edgesFrom(rows, "Vsnapshot", keys, "SNAPSHOT_OF", "Virtualmachine",
      Seq(col("VM UUID"), uid), uid, noProps, o)
    (Seq(vmss), Seq(e))
  }
}
