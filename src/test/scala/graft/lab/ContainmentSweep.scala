package graft

/** Round-11 sweep (verdict item 5): trade recall-irrelevant containment
  * candidates for time at sf10 by lowering the hot-shingle df cap.
  *
  * Context (DfProbe, sf10): max shingle df is 25, so the shipped cap of
  * 100 never fires there — the 52 s is pure cold candidate volume,
  * Σ_shingle df² ≈ 279 M rows, 63% of it from the df∈(10,25] band.
  * This main times `containmentAtCap` at descending caps in ONE session
  * and measures pair recall against the exact (uncapped) output — the
  * same witness `x_containment_recall` oracle-checks at verify scale.
  * Results → PLANS.md round 11. Not registered.
  */
object ContainmentSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "target/sf10"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-csweep", sfDir = Some(dir))
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.TableStats.analyze(spark, dir)

    // each arm's output is parked in a temp parquet (NOT a
    // localCheckpoint): the between-arms clean slate unpersists every
    // held block, so the exact pair set must survive it on disk
    def run(cap: Int, tag: String): (Double, Long) = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val t0 = System.nanoTime()
      graft.queries.ExtQueries
        .containmentAtCap(spark, dir, cap)
        .select("doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"target/csweep_$tag")
      val cnt = spark.read.parquet(s"target/csweep_$tag").count()
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, cnt)
    }

    val (tExact, nExact) = run(Int.MaxValue, "exact")
    println(f"[csweep] cap=exact time=$tExact%.1f s pairs=$nExact")
    val caps =
      if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(25, 15, 10, 5)
    for (cap <- caps) {
      val (t, nCapped) = run(cap, s"c$cap")
      val exact = spark.read.parquet("target/csweep_exact")
      val capped = spark.read.parquet(s"target/csweep_c$cap")
      val hits = capped.join(exact, Seq("doc_a", "doc_b"), "left_semi").count()
      val recall = hits.toDouble / nExact
      println(f"[csweep] cap=$cap%-5d time=$t%.1f s pairs=$nCapped " +
        f"hits=$hits recall=$recall%.4f")
    }
    spark.stop()
  }
}
