package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev A/B: per-level anti-join BFS (shipped) vs hop-capped union-min
  * BFS (candidate) on the x_shortest_path entity graph. Not registered;
  * run via `SPARK_GRAFT_SF_DIR=… runMain graft.BfsLab`. */
object BfsLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-bfslab", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("BFSLAB_STATS").contains("1")) {
      graft.core.TableStats.analyze(spark, "/root/testdata/sf0.001")
      graft.core.TableStats.analyze(spark, sfDir)
      println("[bfslab] stats registered")
    }

    def edgesAndSeeds(): (DataFrame, DataFrame) = {
      def tagged(tag: Int, c: org.apache.spark.sql.Column) =
        (c.cast("long") * 4 + tag).as("t")
      val co = tbl(spark, sfDir, "orders")
        .select(tagged(0, col("o_custkey")).as("a"),
          tagged(1, col("o_orderkey")).as("b"))
      val os = tbl(spark, sfDir, "lineitem")
        .select(tagged(1, col("l_orderkey")).as("a"),
          tagged(2, col("l_suppkey")).as("b"))
      val fwd = co.union(os)
      val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      val seeds = tbl(spark, sfDir, "customer")
        .filter(col("c_custkey") % 500 === 0)
        .select(tagged(0, col("c_custkey")).as("node"))
      (und, seeds)
    }

    // candidate: hop-capped union-min (no per-level anti-join)
    def unionMin(seeds: DataFrame, edges: DataFrame, maxHops: Int,
        broadcastRowCap: Long = 1L << 20): DataFrame = {
      var levels = List(
        seeds.select(col("node"), lit(0).as("dist")).localCheckpoint(false))
      var frontier = levels.head.select("node")
      var frontierRows = frontier.count()
      var hop = 1
      while (hop <= maxHops && frontierRows > 0) {
        val probe =
          if (frontierRows <= broadcastRowCap) broadcast(frontier)
          else frontier
        val next = probe.join(edges, probe("node") === edges("a"))
          .select(edges("b").as("node"))
          .distinct()
          .withColumn("dist", lit(hop))
          .localCheckpoint(false)
        frontierRows = next.count()
        if (frontierRows > 0) {
          levels ::= next
          frontier = next.select("node")
        }
        hop += 1
      }
      levels.reduce(_ union _).groupBy("node")
        .agg(min("dist").as("dist"))
    }

    // candidate 2: fully lazy — no per-level counts/checkpoints, frontier
    // always broadcast-hinted, one action total
    def lazyUnionMin(seeds: DataFrame, edges: DataFrame,
        maxHops: Int): DataFrame = {
      var levels = List(seeds.select(col("node"), lit(0).as("dist")))
      var frontier = levels.head.select("node")
      for (hop <- 1 to maxHops) {
        val f = frontier.select(col("node").as("fn"))
        val next = broadcast(f)
          .join(edges, col("fn") === col("a"))
          .select(col("b").as("node"))
          .distinct()
        levels ::= next.withColumn("dist", lit(hop))
        frontier = next
      }
      levels.reduce(_ union _).groupBy("node")
        .agg(min("dist").as("dist"))
    }

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })

    def cleanSlate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }

    def time(label: String, n: Int)(body: => Unit): Unit = {
      val samples = (1 to n).map { _ =>
        cleanSlate()
        jobs.set(0)
        val t0 = System.nanoTime(); body
        ((System.nanoTime() - t0) / 1e9, jobs.get)
      }
      val best = samples.minBy(_._1)
      println(f"[bfslab] $label%-16s min ${best._1}%.3f s jobs=${best._2} " +
        s"(all: ${samples.map(s => f"${s._1}%.3f").mkString(" ")})")
    }

    // correctness cross-check first
    val (e1, s1) = edgesAndSeeds()
    val a = graft.ops.Bfs.distances(s1, e1, 3).dist
      .groupBy("dist").count().orderBy("dist").collect()
    val b = unionMin(s1, e1, 3)
      .groupBy("dist").count().orderBy("dist").collect()
    println(s"[bfslab] anti : ${a.mkString(" ")}")
    println(s"[bfslab] umin : ${b.mkString(" ")}")
    require(a.sameElements(b), "variant mismatch")

    // warm then A/B
    time("anti_join", 5) {
      val (e, s) = edgesAndSeeds()
      graft.ops.Bfs.distances(s, e, 3).dist
        .write.format("noop").mode("overwrite").save()
    }
    time("union_min", 5) {
      val (e, s) = edgesAndSeeds()
      unionMin(s, e, 3)
        .write.format("noop").mode("overwrite").save()
    }
    time("anti_join", 5) {
      val (e, s) = edgesAndSeeds()
      graft.ops.Bfs.distances(s, e, 3).dist
        .write.format("noop").mode("overwrite").save()
    }
    time("union_min", 5) {
      val (e, s) = edgesAndSeeds()
      unionMin(s, e, 3)
        .write.format("noop").mode("overwrite").save()
    }
    val c = lazyUnionMin(s1, e1, 3)
      .groupBy("dist").count().orderBy("dist").collect()
    println(s"[bfslab] lazy : ${c.mkString(" ")}")
    require(a.sameElements(c), "lazy variant mismatch")
    time("lazy_umin", 5) {
      val (e, s) = edgesAndSeeds()
      lazyUnionMin(s, e, 3)
        .write.format("noop").mode("overwrite").save()
    }
    time("lazy_umin", 5) {
      val (e, s) = edgesAndSeeds()
      lazyUnionMin(s, e, 3)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
