package graft

/** Scratch harness (not registered): per-job decomposition of the
  * x_dedup_components contraction loop — which call sites the ~50
  * sf0.1 jobs belong to, so the exchange-count cut can be verified
  * job by job (r19 optimization round). */
object CcLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-cclab", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.TableStats.analyze(spark, sfDir)

    val t0 = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val now = System.nanoTime()
          val dt = if (t0.get == 0) 0.0 else (now - t0.get) / 1e6
          t0.set(now)
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          println(f"[cc] job=${j.jobId}%3d gap=$dt%7.1f ms " +
            f"stages=${j.stageInfos.size}%2d site=$site")
        }
      })

    val name = if (args.nonEmpty) args(0) else "x_dedup_components"
    (1 to 2).foreach { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val s0 = System.nanoTime()
      val df = SparkEntry.defs(name).benched(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(f"[cc] === $name run$i total ${(System.nanoTime() - s0) / 1e9}%.3f s ===")
    }
    spark.stop()
  }
}
