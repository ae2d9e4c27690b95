package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tbl

/** Round-12 profiling probe (dev-only, not registered): decompose
  * where `w_star_join` / `a3_daily_metrics` raw time goes at sf1 —
  * specifically whether the decimal SUM buffer (precision+10 > 18 →
  * non-Long-backed Decimal in the UnsafeRow aggregation buffer) is the
  * gap vs the DuckDB comparator's int128 decimal, by timing the same
  * plan with (a) the shipped decimal sum, (b) a scaled-integer-cents
  * sum (exact same rational arithmetic, Long-backed end to end),
  * (c) a plain double sum (exactness dropped — lower bound). */
object DecimalLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-decimallab", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.TableStats.analyze(spark, sfDir)

    def star(rev: org.apache.spark.sql.Column,
             fin: org.apache.spark.sql.Column): DataFrame =
      tbl(spark, sfDir, "region")
        .join(tbl(spark, sfDir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(tbl(spark, sfDir, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .join(tbl(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"))
        .hint("shuffle_hash")
        .join(tbl(spark, sfDir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_lineitems"), fin.as("revenue"))
        .orderBy("r_name", "n_name")

    val decRev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2)))
    val centsRev = round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "star_decimal" -> (() => star(decRev, sum(decRev).cast("double"))),
      "star_cents" -> (() => star(centsRev,
        (sum(centsRev).cast("double") / lit(1e4)).as("revenue"))),
      "star_double" -> (() => star(col("l_extendedprice"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
    )
    for ((name, mk) <- variants; i <- 1 to 3) {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      println(f"[dlab] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // a3 shape: join + date groupBy with the decimal sum vs cents sum
    def a3(sumAmt: org.apache.spark.sql.Column): DataFrame = {
      val tripss = tbl(spark, sfDir, "lineitem")
        .join(tbl(spark, sfDir, "orders").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .select(
          graft.functions.DateTimeF.toDateCol(col("o_orderdate"))
            .as("pickup_date"),
          graft.functions.DateTimeF.timestampDiffMinutes(
            col("l_shipdate"), col("o_orderdate")).as("drive_time"),
          col("l_extendedprice").as("total_amount"))
      tripss.groupBy(col("pickup_date"))
        .agg((sum("drive_time").cast("double") / count(lit(1)))
          .as("avg_drive_time"),
          sum("drive_time").as("total_drive_time"),
          (sumAmt / count(lit(1))).as("avg_amount"),
          sumAmt.as("sum_amount"))
        .select(col("pickup_date").cast("string").as("pickup_date"),
          col("avg_drive_time"), col("total_drive_time"),
          col("avg_amount"), col("sum_amount"))
        .orderBy(col("pickup_date").desc)
    }
    val a3variants: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "a3_decimal" -> sum(col("total_amount").cast(DecimalType(18, 2)))
        .cast("double"),
      "a3_cents" -> (sum(round(col("total_amount") * 100).cast("long"))
        .cast("double") / lit(100.0)),
      "a3_double" -> sum(col("total_amount"))
    )
    for ((name, c) <- a3variants; i <- 1 to 3) {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      a3(c).write.format("noop").mode("overwrite").save()
      println(f"[dlab] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // floor decomposition: scans alone, then the bare fact-fact join
    val floors: Seq[(String, () => DataFrame)] = Seq(
      "scan_lineitem" -> (() => tbl(spark, sfDir, "lineitem")
        .select(count(col("l_orderkey")).as("n"))),
      "scan_both" -> (() => tbl(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .union(tbl(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_totalprice")))
        .select(count(lit(1)).as("n"))),
      "join_only" -> (() => tbl(spark, sfDir, "lineitem")
        .select(col("l_orderkey"))
        .join(tbl(spark, sfDir, "orders").select(col("o_orderkey"))
          .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .select(count(lit(1)).as("n")))
    )
    for ((name, mk) <- floors; i <- 1 to 3) {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      println(f"[dlab] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
