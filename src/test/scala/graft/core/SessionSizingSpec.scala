package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-sized initial-shuffle-partition rule (the sf10 OOM fix;
  * A/B numbers in the scaladoc): floor at the core count for small
  * inputs, bytes/4MB when the data outgrows it, hard cap. Also pins the
  * session config [[GraftSession.local]] builds, and that it is the only
  * session builder in the tree. */
class SessionSizingSpec extends AnyFunSuite {

  test("small input floors at the core count") {
    val d = Files.createTempDirectory("sizing").toFile
    Files.write(d.toPath.resolve("t.parquet"), new Array[Byte](1024))
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 32)
    assert(GraftSession.initialShufflePartitions(d.toString, 8) === 8)
  }

  test("missing dir is treated as empty, not an error") {
    assert(GraftSession.initialShufflePartitions("/no/such/dir", 16) === 16)
  }

  test("large input scales by bytes and caps") {
    val d = Files.createTempDirectory("sizing2").toFile
    // sparse file: logical length drives the rule, no real 1 GB write
    val f = new java.io.RandomAccessFile(
      new java.io.File(d, "big.parquet"), "rw")
    f.setLength(1200L * 1024 * 1024)
    f.close()
    // 1200 MB / 4 MB = 300
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 300)
    val f2 = new java.io.RandomAccessFile(
      new java.io.File(d, "huge.parquet"), "rw")
    f2.setLength(100L * 1024 * 1024 * 1024)
    f2.close()
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 1024)
  }

  test("unsized session keeps its config (Main, specs, perfbench)") {
    assert(GraftSession.sessionConf(cores = 4) === Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.timeType.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.filterPushdown" -> "true",
      "spark.ui.enabled" -> "false"))
    // local applies exactly that map: the shared spec session is built
    // through it with one override
    val extra = Map("spark.sql.shuffle.partitions" -> "4")
    val live = graft.TestSession.spark.conf
    GraftSession.sessionConf(cores = 4, appName = "graft-test",
      extraConf = extra).foreach { case (k, v) =>
      assert(live.get(k) === v, k)
    }
  }

  test("sfDir sizes the session exactly as Bench did") {
    val d = Files.createTempDirectory("sizing3").toFile
    val f = new java.io.RandomAccessFile(
      new java.io.File(d, "big.parquet"), "rw")
    f.setLength(1200L * 1024 * 1024)
    f.close()
    for (cores <- Seq(4, 32)) {
      val conf = GraftSession.sessionConf(cores, sfDir = Some(d.toString))
      val bench = Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.timeType.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          GraftSession.initialShufflePartitions(d.toString, cores).toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")
      bench.foreach { case (k, v) => assert(conf.get(k) === Some(v), k) }
      assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        === "300")
    }
    // extraConf (Bench's SPARK_GRAFT_EXTRA_CONF) is applied last
    val off = GraftSession.sessionConf(32, sfDir = Some(d.toString),
      extraConf = Map("spark.sql.adaptive.enabled" -> "false"))
    assert(off("spark.sql.adaptive.enabled") === "false")
  }

  test("GraftSession is the only session builder under src/") {
    val needle = "SparkSession" + ".builder"
    val allowed = new java.io.File(
      "src/main/scala/graft/core/GraftSession.scala").getCanonicalFile
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(new java.io.File("src"))
    assert(files.exists(_.getCanonicalFile == allowed),
      "run from the repo root")
    val offenders = files.filter { f =>
      f.getCanonicalFile != allowed &&
        new String(Files.readAllBytes(f.toPath), "UTF-8").contains(needle)
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession.local: " +
      offenders.mkString(", "))
  }
}
