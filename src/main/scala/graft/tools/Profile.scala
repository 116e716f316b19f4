package graft.tools

/** Ad-hoc profiler: time named queries (2 runs: cold + warm) and print
  * formatted plans. Usage: runMain graft.tools.Profile <sfDir> <name>... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("cdc_take_n")
    val spark = graft.GraftSession.local()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (sys.env.contains("PROFILE_EXPLAIN")) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
