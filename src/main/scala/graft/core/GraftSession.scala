package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory (SURVEY.md §7.1 module 1).
  *
  * Reference behavior replaced: the reference creates BigQuery clients and
  * submits remote jobs (`taxi_trips_etl.py:25-26`); here the "engine" is a
  * locally configured SparkSession with scale-appropriate defaults:
  *  - AQE on → runtime shuffle coalescing, broadcast conversion, skew splits
  *  - shuffle.partitions sized to the local core count (a real cluster run
  *    would size this to ~2-3x total cores; AQE coalesces the excess),
  *    the AQE starting count sized from the fixture when one is given
  *  - UTC session timezone (BigQuery TIMESTAMP semantics are UTC)
  */
object GraftSession {

  /** Initial shuffle-partition count sized from the DATASET, not the
    * core count — the shuffle analog of `ScaleQueries.autoBuckets`,
    * and measured both ways at the scale points:
    *
    *  - With a fixed 32, per-partition shuffle_hash builds grow
    *    linearly with data and OOM at the sf10 point
    *    (j_enrich_join_graph: 60M rows / 32 ≈ 2M-row hash builds × 32
    *    concurrent tasks in one 8 GB heap).
    *  - A blanket 256 fixes sf10 but REGRESSES sf1 by 25–40% (a3 3.6 →
    *    5.2–6.2 s, star 3.3 → 4.6–5.6 s, alternating A/B): 8× the map
    *    outputs and the coalesce pass are pure overhead when every
    *    build already fits.
    *
    * So the initial count derives from the input directory's bytes
    * (~4 MB of source parquet per partition — at ~150 the iterative
    * BFS still OOM'd its shuffle-arm joins at sf10 while ~286 holds
    * comfortably, so the divisor errs toward more, smaller partitions;
    * floor at the core count, capped): sf0.1/sf1 stay at 32, sf10
    * lands at ~290 and every build stays bounded. AQE's coalescing
    * then shrinks small shuffles back toward the advisory size at ANY
    * setting — this knob only sets the upper bound AQE starts from. On
    * a real cluster the same rule falls out of
    * `spark.sql.shuffle.partitions ≈ 2-3× total cores` scaling with
    * the fleet; a single fixed-size box has to derive it from the data
    * instead. */
  def initialShufflePartitions(sfDir: String, cores: Int): Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles() match {
        case null => 0L
        case fs => fs.map(sizeOf).sum
      } else f.length()
    val bytes = sizeOf(new java.io.File(sfDir))
    val bySize = math.ceil(bytes / (4.0 * 1024 * 1024)).toInt
    math.min(1024, math.max(cores, bySize))
  }

  /** Every key [[local]] sets, `extraConf` applied last (it overrides).
    *
    * Without `sfDir` this is the unsized session (`graft.Main`, the unit
    * specs, the perfbench harness): shuffle partitions floor at 8. With
    * `sfDir` it is the fixture-sized session Bench times and every
    * Verify/Explain/lab run plans under: shuffle partitions = cores, and
    * AQE starts from [[initialShufflePartitions]] of that directory. */
  def sessionConf(cores: Int, appName: String = "graft",
      sfDir: Option[String] = None,
      extraConf: Map[String, String] = Map.empty): Map[String, String] = {
    val partitions = sfDir match {
      case None => Map("spark.sql.shuffle.partitions" ->
        math.max(cores, 8).toString)
      case Some(dir) => Map(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          initialShufflePartitions(dir, cores).toString)
    }
    Map(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> appName,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.timeType.enabled" -> "true", // 4.1 TIME feature flag
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.filterPushdown" -> "true",
      "spark.ui.enabled" -> "false"
    ) ++ partitions ++ extraConf
  }

  /** The one SparkSession builder: [[sessionConf]] plus the
    * [[graft.plans.GraftExtensions]] binding. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft",
            sfDir: Option[String] = None,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
    sessionConf(cores, appName, sfDir, extraConf)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
