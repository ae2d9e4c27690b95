package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextF

/** Dev probe (round 16): where does x_lang_id's size-independent cost
  * come from — row counts, partition widths, per-stage split. */
object LangIdLab {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cores = cpus.toInt,
      appName = "graft-langidlab", sfDir = Some(dir))
    spark.sparkContext.setLogLevel("ERROR")
    val d = graft.parallelScan(spark,
        graft.tbl(spark, dir, "documents").select(col("doc_id"), col("lang"),
          col("text")))
      .select(col("doc_id"), col("lang"), trim(lower(col("text"))).as("s"))
    def h = d.select(col("doc_id"), col("lang"),
      explode(TextF.charBigramHistogram(col("s"))).as("hh"))
      .select(col("doc_id"), col("lang"), col("hh.term").as("bg"),
        col("hh.tf").as("c"))
    println(s"[lab] d partitions = ${d.rdd.getNumPartitions}")
    var t0 = System.nanoTime()
    val nh = h.count()
    println(f"[lab] h rows = $nh%,d in ${(System.nanoTime()-t0)/1e9}%.2f s")
    t0 = System.nanoTime()
    val nb = d.select(sum(greatest(length(col("s")) - 1, lit(0)))).head.getLong(0)
    println(f"[lab] bigram instances = $nb%,d in ${(System.nanoTime()-t0)/1e9}%.2f s")
    t0 = System.nanoTime()
    val nv = h.groupBy("bg").count().count()
    println(f"[lab] distinct bigrams = $nv%,d in ${(System.nanoTime()-t0)/1e9}%.2f s")
    spark.stop()
  }
}
