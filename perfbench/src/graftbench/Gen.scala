package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded RVTools-style inventories and their `.xlsx` rendering.
  *
  * One [[Tenant]] is one vCenter: hosts, datastores (one per ten hosts, each
  * connected to exactly those ten hosts) and VMs, each VM with one disk,
  * adapter and partition and some with a snapshot. `VI SDK UUID` and
  * `VI SDK Server` are retagged per tenant, and every tenant-scoped business
  * key (host object id, datastore URL, disk path, MAC) carries the tenant
  * index, so tenants never share a tenant-scoped node.
  *
  * The same seed gives the same inventory, the same churn and byte-identical
  * files: all randomness comes from `SplittableRandom`, and zip entries carry
  * a fixed timestamp.
  */
object Gen {

  final case class Vm(serial: Int, host: Int, cpus: Int, memMb: Int, version: Int,
      snapshot: Boolean)

  final case class Tenant(idx: Int, hosts: Int, vms: Vector[Vm], nextSerial: Int) {
    val clusters: Int = math.max(1, math.min(4, hosts / 5))
    val datastores: Int = (hosts + 9) / 10
    def uid: String = f"vc-uuid-$idx%04d"
    def server: String = s"vcenter$idx.acme.local"
    def vmUuid(v: Vm): String = s"vm-uuid-$idx-${v.serial}"
    def hostName(h: Int): String = s"esx$idx-$h.acme.local"
    def cluster(h: Int): String = s"Cluster${h % clusters}"
    def dsName(d: Int): String = s"t$idx-ds-$d"
    def dsUrl(d: Int): String = s"ds:///vmfs/volumes/${dsName(d)}/"
    def vmUuids: Set[String] = vms.iterator.map(vmUuid).toSet
  }

  /** The generator's record of one churn step, by `VM UUID`. */
  final case class Churn(removed: Set[String], added: Set[String], changed: Set[String])

  private def newVm(serial: Int, hosts: Int, rnd: SplittableRandom): Vm =
    Vm(serial, rnd.nextInt(hosts), 1 + rnd.nextInt(8), 1024 * (1 + rnd.nextInt(32)),
      1 + rnd.nextInt(50), rnd.nextInt(10) == 0)

  def tenant(idx: Int, hosts: Int, vms: Int, rnd: SplittableRandom): Tenant =
    Tenant(idx, hosts, Vector.tabulate(vms)(i => newVm(i, hosts, rnd)), vms)

  /** Remove `n` VMs, add `n` fresh ones and change `n` survivors' CPU count
    * and change version. Disjoint sets, so the expected `Virtualmachine`
    * diff is exactly (removed, added, changed).
    */
  def churn(t: Tenant, n: Int, rnd: SplittableRandom): (Tenant, Churn) = {
    require(3 * n <= t.vms.size, s"churn $n too large for ${t.vms.size} VMs")
    val order = shuffled(t.vms.indices.toVector, rnd)
    val removedIdx = order.take(n).toSet
    val changedIdx = order.slice(n, 2 * n).toSet
    val kept = t.vms.indices.filterNot(removedIdx).map { i =>
      val v = t.vms(i)
      if (changedIdx(i)) v.copy(cpus = v.cpus % 8 + 1, version = v.version + 1) else v
    }.toVector
    val fresh = Vector.tabulate(n)(i => newVm(t.nextSerial + i, t.hosts, rnd))
    val next = t.copy(vms = kept ++ fresh, nextSerial = t.nextSerial + n)
    (next, Churn(removedIdx.map(i => t.vmUuid(t.vms(i))), fresh.map(next.vmUuid).toSet,
      changedIdx.map(i => t.vmUuid(t.vms(i)))))
  }

  private def shuffled(xs: Vector[Int], rnd: SplittableRandom): Vector[Int] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
    a.toVector
  }

  type Row = Array[String]

  /** The twelve sheets for `tenants`, in RVTools column order. */
  def sheets(tenants: Seq[Tenant]): Seq[(String, Seq[String], Seq[Row])] = {
    val out = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Row]]
    def add(sheet: String, r: String*): Unit =
      out.getOrElseUpdate(sheet, mutable.ArrayBuffer.empty) += r.toArray
    for (t <- tenants) {
      import t.{uid, server}
      for (c <- 0 until t.clusters)
        add("vCluster", uid, server, s"Cluster$c", "green", "88000", "32", "524288", "True", "True")
      for (c <- 0 until t.clusters; sub <- Seq("", "/prod"))
        add("vRP", s"/DC1/Cluster$c/Resources$sub", server, uid, "3", "8", "65536")
      for (h <- 0 until t.hosts) {
        val name = t.hostName(h)
        add("vHost", server, uid, t.cluster(h), s"host-$h", name, "1", "2", "32", "262144",
          "61 %", "20", "vmware-lic-ent", "intel-broadwell", "2024/01/05 08:00:00",
          s"SVC${t.idx}-$h", "green", "Balanced",
          "High performance", s"Intel Xeon Gold ${h % 7}", "7.0.3 build-20842708",
          "Dell Inc.", "PowerEdge R740", "2.15.0", "2023/10/10", "acme.local",
          "10.0.0.10, ntp1.acme.local", "10.0.0.53, dns1.acme.local")
        add("vSwitch", name, t.cluster(h), uid, "vSwitch0", "128", "100", "Reject", "Accept",
          "Accept", "False", "True", if (h % 2 == 0) "9000" else "1500", "True",
          "loadbalance_srcid")
        add("vPort", name, t.cluster(h), uid, "vSwitch0", "PG-App", "loadbalance_srcid", "100",
          "Reject", "Accept", "Accept", "False")
        add("vNIC", name, t.cluster(h), uid, "vSwitch0", "vmnic0", "ixgbe", "10000 Mb",
          f"aa:bb:${t.idx}%02x:${h / 256}%02x:${h % 256}%02x", "True", "0000:3b:00.0")
      }
      for (d <- 0 until t.datastores) {
        val hosts = (d * 10 until math.min(d * 10 + 10, t.hosts)).map(t.hostName)
        add("vDatastore", uid, server, t.dsUrl(d), t.dsName(d), "True", "1048576", "524288",
          "524288", hosts.size.toString, "6.82", "False", "100", "10.0.2.10", "green", "VMFS",
          hosts.mkString(", "))
      }
      for (v <- t.vms) {
        val uuid = t.vmUuid(v)
        val name = s"vm${t.idx}-${v.serial}"
        val c = v.host % t.clusters
        val mac = f"00:50:56:${t.idx}%02x:${v.serial / 256 % 256}%02x:${v.serial % 256}%02x"
        add("vInfo", server, "VMware vCenter Server 7.0.3 build-20845200", uid, uuid, name,
          s"vm-${v.serial}", s"$name.acme.local", "2024/03/01 10:00:00", v.version.toString,
          "generated", "False", v.cpus.toString, v.memMb.toString, "1", "1", "True",
          (15 + v.serial % 5).toString, "Up-to-date", "connected", "green", "poweredOn",
          "running", "green", s"/DC1/Cluster$c/Resources/prod", "/DC1/vm/apps",
          "Ubuntu Linux (64-bit)", "Ubuntu Linux (64-bit)", "PG-App", null, null, null)
        add("vNetwork", server, uid, uuid, mac, "VMXNET 3", "True",
          s"10.${t.idx}.${v.serial / 250 % 250}.${v.serial % 250}", "PG-App", t.hostName(v.host))
        add("vDisk", uid, server, uuid, s"[${t.dsName(v.host / 10)}] $name/$name.vmdk",
          "Hard disk 1", "40960", "True", "SCSI controller 0", "persistent", "False", "False",
          t.hostName(v.host))
        add("vPartition", server, uid, uuid, "/dev/sda1", "40960", "20480", "50")
        if (v.snapshot)
          add("vSnapshot", server, uid, uuid, s"snap-${v.serial}", "generated",
            "2024/03/05 22:00:00", "8192")
      }
    }
    graft.ingest.Workbook.SheetNames.map { s =>
      (s, graft.ingest.Workbook.SheetColumns(s), out.getOrElse(s, mutable.ArrayBuffer.empty).toSeq)
    }
  }

  def rowCount(sheets: Seq[(String, Seq[String], Seq[Row])]): Long =
    sheets.map(_._3.size.toLong).sum

  private def esc(s: String): String =
    if (s.exists(c => c == '&' || c == '<' || c == '>' || c == '"'))
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    else s

  private def colLetters(i0: Int): String = {
    var i = i0 + 1
    val sb = new StringBuilder
    while (i > 0) { val r = (i - 1) % 26; sb.insert(0, ('A' + r).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  private def isInt(s: String): Boolean =
    s.nonEmpty && s.length <= 15 && s.forall(_.isDigit) && (s == "0" || s.head != '0')

  private val NsMain = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val NsRel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val Stamp = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Write `sheets` as an OOXML workbook the way Excel stores RVTools
    * exports: text through the shared-string table, integers as number
    * cells, null cells omitted. Returns the file size in bytes.
    */
  def writeXlsx(path: String, sheets: Seq[(String, Seq[String], Seq[Row])]): Long = {
    val shared = mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int = shared.getOrElseUpdate(s, shared.size)
    val letters = (0 until sheets.map(_._2.size).max).map(colLetters)

    def sheetXml(header: Seq[String], rows: Seq[Row]): Array[Byte] = {
      val sb = new java.lang.StringBuilder(rows.size * header.size * 24 + 256)
      sb.append(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="$NsMain"><sheetData>""")
      def cells(r: Int, row: Iterable[String]): Unit = {
        sb.append("<row r=\"").append(r).append("\">")
        var c = 0
        for (v <- row) {
          if (v != null) {
            sb.append("<c r=\"").append(letters(c)).append(r)
            if (isInt(v)) sb.append("\"><v>").append(v).append("</v></c>")
            else sb.append("\" t=\"s\"><v>").append(sharedIdx(v)).append("</v></c>")
          }
          c += 1
        }
        sb.append("</row>")
      }
      cells(1, header)
      var r = 2
      for (row <- rows) { cells(r, row); r += 1 }
      sb.append("</sheetData></worksheet>")
      sb.toString.getBytes(UTF_8)
    }

    val rendered = sheets.map { case (name, header, rows) => (name, sheetXml(header, rows)) }
    val n = rendered.size
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
          "</Types>"),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$NsRel/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>"),
      "xl/workbook.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$NsMain" xmlns:r="$NsRel"><sheets>""" +
          rendered.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="$NsRel/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          s"""<Relationship Id="rId${n + 1}" Type="$NsRel/sharedStrings" Target="sharedStrings.xml"/>""" +
          "</Relationships>"),
      "xl/sharedStrings.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="$NsMain" count="${shared.size}" uniqueCount="${shared.size}">""" +
          shared.keys.map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString +
          "</sst>"))
      .map { case (k, v) => k -> v.getBytes(UTF_8) } ++
      rendered.zipWithIndex.map { case ((_, xml), i) => s"xl/worksheets/sheet${i + 1}.xml" -> xml }

    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    zos.setLevel(Deflater.BEST_SPEED)
    try parts.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(Stamp)
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
    new java.io.File(path).length
  }
}
