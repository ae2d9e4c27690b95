package graft

import org.apache.spark.sql.functions._

/** Scratch probe (not registered, r19): how selective would an a-side
  * length filter on the containment self-join be? A doc with cold
  * (post-df-cap) distinct-shingle count < ceil(0.4 * na) can never emit
  * a passing (doc_a, *) pair, so its rows could be dropped from the
  * probe side — IF such docs exist in any number. This measures that. */
object ContainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(cores = 8,
      appName = "graft-containprobe", sfDir = Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.TextF
    val K = 3
    val cap = graft.queries.ExtQueries.MaxShingleDf
    val sh = graft.parallelScan(spark,
        tbl(spark, sfDir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(array_distinct(
        TextF.shinglesFromTokens(TextF.lowerTokens(col("text")), K)))
        .as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shingle"))
      .localCheckpoint()
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > cap).select("shingle")
    val na = sh.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val coldN = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("nc"))
    val j = na.join(coldN, Seq("doc_id"), "left")
      .select(col("na"), coalesce(col("nc"), lit(0L)).as("nc"))
    val r = j.agg(count(lit(1)).as("docs"),
      sum(when(col("nc") < ceil(col("na") * 0.4), 1).otherwise(0))
        .as("prunable"),
      sum("na").as("rows_all"),
      sum(when(col("nc") < ceil(col("na") * 0.4), col("nc")).otherwise(0L))
        .as("rows_prunable")).head()
    println(s"[probe] docs=${r.getLong(0)} prunable=${r.getLong(1)} " +
      s"coldRows=${r.getLong(2)} prunableColdRows=${r.getLong(3)}")
    spark.stop()
  }
}
