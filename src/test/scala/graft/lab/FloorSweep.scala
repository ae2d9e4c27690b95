package graft

import org.apache.spark.sql.SparkSession

/** Round-11 experiment (verdict item 2): can any scheduler/shuffle conf
  * shave the ~50 ms serial driver latency each AQE stage-job pays — the
  * fixed floor that dominates the sf0.1 suite total (15.8 s over the
  * suite at sf0.001, where data cost ≈ 0)?
  *
  * Sweeps candidate conf sets, each in a FRESH SparkContext (the knobs
  * are context-level), measuring the FloorProbe micros plus the full
  * bench suite at sf0.001. Not registered; run via
  * `runMain graft.FloorSweep`. Results recorded in PLANS.md round 11.
  */
object FloorSweep {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  private def session(extra: Map[String, String]): SparkSession = {
    val s = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-floorsweep", extraConf = extra)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def time(n: Int)(body: => Unit): Double = {
    body // warm
    (1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val sweeps: Seq[(String, Map[String, String])] = Seq(
      "baseline" -> Map.empty,
      // task-launch path: no locality negotiation in local mode anyway?
      "locality0" -> Map("spark.locality.wait" -> "0"),
      // tiny shuffles: codec + spill-codec startup per task
      "nocompress" -> Map(
        "spark.shuffle.compress" -> "false",
        "spark.shuffle.spill.compress" -> "false",
        "spark.broadcast.compress" -> "false",
        "spark.rdd.compress" -> "false"),
      // fewer post-shuffle partitions → fewer tasks per stage-job
      "coalesce1" -> Map(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m"),
      // cut the listener/event path where the stage-done → replan
      // handoff serializes
      "fastbus" -> Map(
        "spark.scheduler.listenerbus.eventqueue.capacity" -> "30000",
        "spark.extraListeners" -> ""),
      "all" -> Map(
        "spark.locality.wait" -> "0",
        "spark.shuffle.compress" -> "false",
        "spark.shuffle.spill.compress" -> "false",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    )
    // order-reversal knob: later sessions in one JVM inherit JIT warmth,
    // so a single ordering conflates conf effect with warm-up — run both
    // directions and compare same-label numbers
    val ordered =
      if (sys.env.get("SPARK_GRAFT_SWEEP_REVERSE").contains("1"))
        sweeps.reverse
      else sweeps
    for ((label, conf) <- ordered) {
      val s = session(conf)
      try {
        val empty = time(20) {
          s.range(1).write.format("noop").mode("overwrite").save()
        }
        val oneShuffle = time(8) {
          s.range(100000).groupBy(expr("id % 3").as("k")).count()
            .write.format("noop").mode("overwrite").save()
        }
        val twoShuffle = time(8) {
          s.range(100000).groupBy(expr("id % 3").as("k")).count()
            .orderBy("k").write.format("noop").mode("overwrite").save()
        }
        graft.core.TableStats.analyze(s, "/root/testdata/sf0.001")
        val names = SparkEntry.benchNames
        names.foreach { n => // warm: JIT + codegen are one-time
          try SparkEntry.benchQueries(n)(s, "/root/testdata/sf0.001")
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        var suite = 0.0
        names.foreach { n =>
          try {
            val t0 = System.nanoTime()
            SparkEntry.benchQueries(n)(s, "/root/testdata/sf0.001")
              .write.format("noop").mode("overwrite").save()
            suite += (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () }
        }
        println(f"[sweep] $label%-12s empty=$empty%.3f one=$oneShuffle%.3f " +
          f"two=$twoShuffle%.3f suite_sf0.001=$suite%.2f s")
      } finally s.stop()
    }
  }
}
