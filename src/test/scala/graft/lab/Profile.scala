package graft

/** Dev tool: cold/warm wall-clock of registered queries (args = query
  * names; default = bench set) at SPARK_GRAFT_SF_DIR. The cold−warm gap
  * is JVM JIT + codegen compile; warm is steady-state throughput. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-profile", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchNames
    names.foreach { name =>
      // time the same plan Bench times — resolved through defs.benched
      // so non-bench sort-only queries profile their unsorted plan too
      SparkEntry.defs.get(name).map(_.benched) match {
        case None => println(s"[profile] unknown query: $name")
        case Some(fn) =>
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          try {
            val cold = once(); val warm = once()
            println(f"[profile] $name cold=$cold%.1fs warm=$warm%.1fs")
          } catch {
            case e: Throwable => println(s"[profile] $name FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
