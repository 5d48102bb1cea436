package graftbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom
import scala.util.control.NonFatal

/** The benchmark's own tests; no Spark session needed.
  * `python3 perfbench/run.py --selftest` builds and runs them.
  */
object SelfTest {

  private val tests = Seq[(String, () => Unit)](
    "one seed gives byte-identical workbooks" -> { () =>
      val dir = Files.createTempDirectory(new File(".bench_build/tmp").toPath, "selftest").toFile
      def write(seed: Long, name: String): Array[Byte] = {
        val r = new SplittableRandom(seed)
        val t = Gen.tenant(3, 12, 150, r)
        val (next, _) = Gen.churn(t, 5, r)
        val f = new File(dir, name)
        Gen.writeXlsx(f.getPath, Gen.sheets(Seq(t, next.copy(idx = 4))))
        Files.readAllBytes(f.toPath)
      }
      try {
        val a = write(7, "a.xlsx")
        assert(java.util.Arrays.equals(a, write(7, "b.xlsx")), "same seed, different bytes")
        assert(!java.util.Arrays.equals(a, write(8, "c.xlsx")), "different seeds, same bytes")
      } finally Bench.deleteTree(dir)
    },
    "the program's parser reads the generated workbook back" -> { () =>
      val dir = Files.createTempDirectory(new File(".bench_build/tmp").toPath, "selftest").toFile
      try {
        val sheets = Gen.sheets(Seq(Gen.tenant(1, 23, 90, new SplittableRandom(1))))
        val f = new File(dir, "w.xlsx")
        Gen.writeXlsx(f.getPath, sheets)
        val parsed = graft.ingest.Xlsx.readWorkbook(f.getPath)
        for ((name, header, rows) <- sheets) {
          val (h, r) = parsed(name)
          assert(h == header, s"$name header")
          assert(r == rows.map(_.toSeq), s"$name rows")
        }
      } finally Bench.deleteTree(dir)
    },
    "churn removes, adds and changes disjoint VMs" -> { () =>
      val t = Gen.tenant(0, 10, 100, new SplittableRandom(3))
      val (next, c) = Gen.churn(t, 7, new SplittableRandom(4))
      assert(Seq(c.removed, c.added, c.changed).forall(_.size == 7))
      assert((c.removed & c.changed).isEmpty && (c.added & t.vmUuids).isEmpty)
      assert(next.vmUuids == t.vmUuids -- c.removed ++ c.added)
      val before = t.vms.map(v => t.vmUuid(v) -> v).toMap
      val changed = next.vms.filter(v => before.get(next.vmUuid(v)).exists(_ != v))
      assert(changed.map(next.vmUuid).toSet == c.changed)
    },
    "metric names are well formed and unique" -> { () =>
      Stats.checkNames((Bench.EndToEnd ++ Bench.PerLayer).map(_._1))
      for (bad <- Seq(Seq("a b"), Seq("x", "x"), Seq("")))
        assert(scala.util.Try(Stats.checkNames(bad)).isFailure, s"accepted $bad")
    },
    "a tail percentile needs at least 10 samples beyond it" -> { () =>
      def xs(n: Int) = (1 to n).map(_.toDouble)
      assert(Stats.tail(xs(19)).isEmpty)
      assert(Stats.tail(xs(20)).map(_._1).contains(50.0))
      assert(Stats.tail(xs(40)).map(_._1).contains(75.0))
      assert(Stats.tail(xs(100)).map(_._1).contains(90.0))
      for (n <- 20 to 2000 by 7; (p, v) <- Stats.tail(xs(n))) {
        assert(xs(n).count(_ > v) >= 10, s"n=$n p=$p has fewer than 10 beyond")
        val next = Stats.TailLadder.find(_ > p)
        assert(next.forall(q => Stats.beyond(n, q) < 10), s"n=$n skipped a higher percentile")
      }
    },
    "span self time is duration minus child coverage" -> { () =>
      val parent = Span(1, "cycle", 0, 1, 0.0, 100.0)
      def child(a: Double, b: Double) = Span(2, "c", 1, 1, a, b)
      def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-9, s"$a != $b")
      close(Tracer.selfTime(parent, Nil), 100.0)
      close(Tracer.selfTime(parent, Seq(child(10, 30), child(50, 60))), 70.0)
      close(Tracer.selfTime(parent, Seq(child(10, 30), child(20, 40))), 70.0) // overlap
      close(Tracer.selfTime(parent, Seq(child(-5, 10), child(95, 120))), 85.0) // clipped
      close(Tracer.selfTime(parent, Seq(child(0, 100))), 0.0)
      val spans = Seq(parent, child(10, 30), Span(3, "d", 2, 1, 15.0, 20.0))
      assert(Tracer.innermost(spans, 17.0).map(_.id).contains(3))
      assert(Tracer.innermost(spans, 40.0).map(_.id).contains(1))
      assert(Tracer.innermost(spans, 140.0).isEmpty)
    })

  def main(args: Array[String]): Unit = {
    new File(".bench_build/tmp").mkdirs()
    val failed = tests.filterNot { case (name, t) =>
      val ok =
        try { t(); true }
        catch { case e: AssertionError => println(s"FAIL $name: ${e.getMessage}"); false
                case NonFatal(e) => println(s"FAIL $name: $e"); false }
      if (ok) println(s"ok   $name")
      ok
    }
    println(s"${tests.size - failed.size}/${tests.size} passed")
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}
