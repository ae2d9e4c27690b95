package graft.queries

/** Dev probe (round 16): full-query timing of scaled-K semdedup at
  * sf10 (the argmin-pack + single width-restore plan). */
object SemDedupSf10Lab {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-semdedup-sf10", sfDir = Some("target/sf10"))
    spark.sparkContext.setLogLevel("ERROR")
    (1 to 3).foreach { p =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("x_semdedup")(spark, "target/sf10")
        .write.format("noop").mode("overwrite").save()
      println(f"[sf10lab] full x_semdedup pass$p ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
