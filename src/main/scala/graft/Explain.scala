package graft

/** Dump formatted physical plans for named queries — the .explain feedback
  * loop for pushdown / broadcast / codegen checks (run via sbt runMain).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the bench's session (extensions included — the injected optimizer
    // rules change plan shape), so dumped plans match what it executes.
    val spark = GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq else Seq("q_j5_dim_hop")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
