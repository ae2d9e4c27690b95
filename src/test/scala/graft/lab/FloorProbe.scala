package graft

/** Measures the FIXED per-query cost the bench pays regardless of data
  * volume — the decomposition behind the sf0.1 total-vs-comparator gap
  * (PLANS.md round 10). Not registered; run via
  * `SPARK_GRAFT_SF_DIR=… runMain graft.FloorProbe`.
  *
  * Components probed, in the exact Bench session config:
  *   1. empty job        — one noop write of `range(1)`: scheduler +
  *                         codegen + commit floor for a 1-task job
  *   2. one tiny shuffle — `range(1e5).groupBy(id%3).count` noop write:
  *                         adds one exchange stage (AQE materializes it
  *                         as its own job) + final stage
  *   3. two shuffles     — …plus a global orderBy of the 3-row result:
  *                         the oracle-determinism ORDER BY every
  *                         registered query carries
  *   4. suite floor      — every bench query run at sf0.001 (~1/100 of
  *                         sf0.1): data cost ≈ 0 there, so the sum IS
  *                         the suite's fixed overhead in one window
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-floorprobe", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    def time(label: String, n: Int)(body: => Unit): Double = {
      body // warm
      val samples = (1 to n).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val best = samples.min
      println(f"[floor] $label%-28s min ${best}%.3f s  " +
        s"(all: ${samples.map(s => f"$s%.3f").mkString(" ")})")
      best
    }

    time("rdd_count", 20) {
      spark.sparkContext.parallelize(Seq(1), 1).count()
    }
    time("df_count", 20) {
      spark.range(1).count()
    }
    time("empty_job", 20) {
      spark.range(1).write.format("noop").mode("overwrite").save()
    }
    time("one_shuffle", 5) {
      spark.range(100000).groupBy(expr("id % 3").as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    time("shuffle_plus_orderby", 5) {
      spark.range(100000).groupBy(expr("id % 3").as("k")).count()
        .orderBy("k").write.format("noop").mode("overwrite").save()
    }

    // suite floor: the whole bench set at sf0.001
    graft.core.TableStats.analyze(spark, "/root/testdata/sf0.001")
    val names = SparkEntry.benchNames
    // warm pass (JIT/codegen), then timed pass
    names.foreach { n =>
      try SparkEntry.benchQueries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"[floor] $n warm FAILED: ${e.getMessage}") }
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        }
      })
    var total = 0.0
    names.foreach { n =>
      try {
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        SparkEntry.benchQueries(n)(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        total += dt
        println(f"[floor] q $n%-26s $dt%.3f s jobs=${jobs.get} stages=${stages.get}")
      } catch { case e: Throwable =>
        println(s"[floor] q $n FAILED: ${e.getMessage}") }
    }
    println(f"[floor] suite_sf0.001_total $total%.3f s over ${names.size} queries")
    spark.stop()
  }
}
