package graft

/** Dev probe: min-of-N back-to-back timing for ANY registered query —
  * including non-headline twins (`c_pipeline_fused`, `q_taxi_fused`)
  * that `Bench` deliberately excludes to keep the headline series
  * comparable across rounds. Used to refresh the PLANS.md fused-twin
  * pairings each round. Not a driver surface.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… runMain graft.SoloBench name1 name2 …`
  */
object SoloBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-solo", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.TableStats.analyze(spark, sfDir)
    def fnOf(name: String) = {
      val d = SparkEntry.defs.getOrElse(name,
        sys.error(s"unknown query $name"))
      d.benched
    }
    def cleanSlate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    args.foreach { name =>
      val fn = fnOf(name)
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[solo] $name warmup skipped: ${e.getMessage}") }
      val times = (1 to samples).map { _ =>
        cleanSlate()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[solo] $name%-24s min ${times.min}%.3f s " +
        s"(all: ${times.map(t => f"$t%.3f").mkString(" ")})")
    }
    spark.stop()
  }
}
