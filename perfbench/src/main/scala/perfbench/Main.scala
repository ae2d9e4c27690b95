package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, to_date}

import graft.SparkEntry
import graft.core.{Catalog, FixtureMeta, GraftSession, TableStats}
import graft.pipeline.{RetryPolicy, Runner, Stage, TaxiPipeline}

/** One timed item: its wall clock, the split into its layer phases, and
  * where its output sits for the correctness check. */
final case class ItemResult(visit: Int, name: String, start: Long, end: Long,
    phases: Seq[(String, Double)], error: Option[String],
    output: Option[String]) {
  def wallS: Double = (end - start) / 1e9
}

/** A benchmark workload: an ordered cycle of items run one at a time. */
trait Workload {
  /** Items per round; a run is whole rounds. */
  def roundSize: Int
  /** Seconds one round took when the benchmark was defined (4-core host).
    * A run is `--seconds / roundS` rounds, so two commits compared time
    * the same items for a seed. */
  def roundS: Double
  /** The visit order, cyclic, fixed by the seed. */
  def order(seed: Long): Iterator[String]
  /** Fixture layout; reused when its stamp is fresh. Not set-up time. */
  def prep(spark: SparkSession): Unit = ()
  /** Called once on the final session, after set-up, before timing. */
  def begin(spark: SparkSession): Unit = ()
  /** Warm-up on the sf0.001 fixture: each operator once, or one day. */
  def warm(spark: SparkSession): Unit
  /** Runs one item; returns its phase times and output location. */
  def run(spark: SparkSession, name: String, visit: Int, tracer: Tracer,
      span: Long): (Seq[(String, Double)], Option[String])
  /** Oracle SQL per item name (or per template name). */
  def oracles: Map[String, String]
}

object Main {
  val SetupCycles = 3
  val ItemTimeoutMs = 60000L

  private def seeded[T](xs: Seq[T], seed: Long): Iterator[T] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.shuffle(xs)).flatten
  }

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The reference's daily 4-stage batch, one `ds` per item, all days
    * committing into one warehouse. */
  final class TaxiBackfill(sf: String, warmSf: String, work: String)
      extends Workload {
    private val daysDir = s"$work/days/sf0.1"
    private val warmDaysDir = s"$work/days/sf0.001"
    private val warehouse = s"$work/wh"
    private var days: Seq[String] = Nil
    // a failed stage must fail the item now, not sleep out the
    // reference's three-minute retry delay
    private val policy = RetryPolicy(retries = 0,
      retryDelay = scala.concurrent.duration.Duration.Zero,
      timeout = scala.concurrent.duration.Duration(ItemTimeoutMs, "ms"))

    def roundSize: Int = 1
    def roundS: Double = 1.6

    def order(seed: Long): Iterator[String] = seeded(days, seed)

    /** Lays the fixture's `events` out as `YYYY/MM/DD/part-*` day paths
      * (the reference's date-prefixed landing zone), one write for all
      * days, guarded by a [[FixtureMeta]] stamp of the source. */
    private def layout(spark: SparkSession, src: String, dst: String): Seq[String] = {
      val fs = fsOf(spark, dst)
      val stamp = FixtureMeta.sourceStamp(spark, src, Seq("events"))
      if (!(FixtureMeta.complete(spark, dst) &&
            FixtureMeta.valid(spark, s"$dst/_stamp", stamp))) {
        fs.delete(new Path(dst), true)
        val staging = s"$dst/_by_day"
        graft.eventsTbl(spark, src).withColumn("perfbench_day", to_date(col("ts")))
          .repartition(col("perfbench_day"))
          .write.partitionBy("perfbench_day").parquet(staging)
        fs.listStatus(new Path(staging)).map(_.getPath)
          .filter(_.getName.startsWith("perfbench_day=")).foreach { p =>
            val Array(y, m, d) = p.getName.stripPrefix("perfbench_day=").split("-")
            fs.mkdirs(new Path(s"$dst/$y/$m"))
            if (!fs.rename(p, new Path(s"$dst/$y/$m/$d")))
              sys.error(s"day layout rename failed: $p")
          }
        fs.delete(new Path(staging), true)
        FixtureMeta.write(spark, s"$dst/_stamp", stamp)
        fs.create(new Path(dst, "_SUCCESS"), true).close()
      }
      for {
        y <- fs.listStatus(new Path(dst)).filter(_.isDirectory).map(_.getPath)
          .filterNot(_.getName.startsWith("_")).toSeq
        m <- fs.listStatus(y).map(_.getPath).toSeq
        d <- fs.listStatus(m).map(_.getPath).toSeq
      } yield s"${y.getName}-${m.getName}-${d.getName}"
    }.sorted

    override def prep(spark: SparkSession): Unit = {
      days = layout(spark, sf, daysDir)
      layout(spark, warmSf, warmDaysDir)
    }

    def warm(spark: SparkSession): Unit = {
      val cat = new Catalog(spark, s"$work/warm_wh")
      Runner.run(cat, TaxiPipeline.stages(spark, warmSf, warmDaysDir, "2024-01-05"),
        policy)
    }

    private var catalog: Catalog = null

    override def begin(spark: SparkSession): Unit = {
      // a run starts from an empty warehouse, so its size is this run's
      fsOf(spark, warehouse).delete(new Path(warehouse), true)
      catalog = new Catalog(spark, warehouse)
    }

    def run(spark: SparkSession, ds: String, visit: Int, tracer: Tracer,
        span: Long): (Seq[(String, Double)], Option[String]) = {
      val phases = mutable.ArrayBuffer.empty[(String, Double)]
      val stages = TaxiPipeline.stages(spark, sf, daysDir, ds).map { st =>
        if (!tracer.enabled) st
        else Stage(st.name, { c =>
          tracer.span(st.name, span, visit) { id =>
            // runs on Runner's attempt thread: parent its jobs here
            c.spark.sparkContext.setLocalProperty(Tracer.ParentKey, id.toString)
            val (ok, s) = timed(st.run(c))
            phases.synchronized(phases += (st.name -> s))
            ok
          }
        })
      }
      val ran = Runner.run(catalog, stages, policy)
      if (ran.size != 4) sys.error(s"pipeline for $ds short-circuited after $ran")
      (phases.toList, Some(s"$warehouse/most_populars_${TaxiPipeline.dsNoDash(ds)}"))
    }

    def oracles: Map[String, String] =
      Map("c_pipeline_e2e" -> SparkEntry.oracleSql("c_pipeline_e2e"))
  }

  /** The driver-loop and in-row-model operators, one per item: the
    * operator's benched plan (build) and one parquet write (action). */
  final class DedupLoops(sf: String, warmSf: String, work: String)
      extends Workload {
    val names: Seq[String] = Seq("x_dedup_components", "x_semdedup",
      "x_bpe_merges", "x_minhash_lsh_pairs", "x_lang_id", "x_tfidf_topterms")

    def roundSize: Int = names.size
    def roundS: Double = 9.5

    override def begin(spark: SparkSession): Unit =
      fsOf(spark, s"$work/out").delete(new Path(s"$work/out"), true)

    def order(seed: Long): Iterator[String] = seeded(names, seed)

    def warm(spark: SparkSession): Unit = names.foreach { n =>
      SparkEntry.defs(n).benched(spark, warmSf)
        .write.format("noop").mode("overwrite").save()
    }

    def run(spark: SparkSession, name: String, visit: Int, tracer: Tracer,
        span: Long): (Seq[(String, Double)], Option[String]) = {
      val sc = spark.sparkContext
      val out = s"$work/out/$visit"
      val (df, build) = timed(tracer.span("build", span, visit) { id =>
        sc.setLocalProperty(Tracer.ParentKey, id.toString)
        SparkEntry.defs(name).benched(spark, sf)
      })
      val (_, action) = timed(tracer.span("action", span, visit) { id =>
        sc.setLocalProperty(Tracer.ParentKey, id.toString)
        df.write.mode("overwrite").parquet(out)
      })
      (Seq("build" -> build, "action" -> action), Some(out))
    }

    def oracles: Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
  }

  /** Untimed hygiene between items: several operators localCheckpoint
    * intermediates that stay in the block manager until collected. */
  private def cleanSlate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracer = new Tracer(opts("trace") == "1")
    val fixtures = opts("fixtures")
    val work = opts("work")
    val sf = s"$fixtures/sf0.1"
    val warmSf = s"$fixtures/sf0.001"
    val wl: Workload = workload match {
      case "taxi_backfill" => new TaxiBackfill(sf, warmSf, work)
      case "dedup_loops" => new DedupLoops(sf, warmSf, work)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    // Set-up, repeated: session, ANALYZE, warm-up. The first cycle counts
    // from JVM start; fixture prep (first cycle only) is reported apart.
    var spark: SparkSession = null
    var prepS = 0.0
    val setups = (1 to SetupCycles).map { k =>
      if (spark != null) spark.stop()
      val t0 = if (k == 1) jvmStart else tracer.now()
      val id = tracer.newId()
      def part[T](name: String)(body: => T): (T, Double) = {
        val s0 = tracer.now()
        val r = body
        val s1 = tracer.now()
        tracer.record(Span(tracer.newId(), name, s0, s1, id, -1))
        (r, (s1 - s0) / 1e9)
      }
      val (sp, sessionS) = part("session")(GraftSession.local())
      spark = sp
      if (k == 1) prepS = part("prep")(wl.prep(spark))._2
      val (_, analyzeS) = part("analyze") {
        TableStats.clear()
        TableStats.analyze(spark, warmSf)
        TableStats.analyze(spark, sf)
      }
      val (_, warmS) = part("warmup")(wl.warm(spark))
      val t1 = tracer.now()
      tracer.record(Span(id, "setup", t0, t1, 0L, -1))
      val total = (t1 - t0) / 1e9 - (if (k == 1) prepS else 0.0)
      Map("session_s" -> sessionS, "analyze_s" -> analyzeS,
        "warmup_s" -> warmS, "total_s" -> total)
    }
    wl.begin(spark)
    val sc = spark.sparkContext
    val listener = new JobListener
    if (tracer.enabled) sc.addSparkListener(listener)

    // Closed loop, one client, a fixed number of whole rounds.
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    val items = mutable.ArrayBuffer.empty[ItemResult]
    val order = wl.order(seed)
    val visits = wl.roundSize * math.max(1, math.round(seconds / wl.roundS).toInt)
    for (visit <- 0 until visits) {
      val name = order.next()
      cleanSlate(spark)
      sc.setLocalProperty(Tracer.ItemKey, visit.toString)
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val alarm = watchdog.schedule(new Runnable {
        def run(): Unit = { timedOut.set(true); sc.cancelAllJobs() }
      }, ItemTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      val itemId = if (tracer.enabled) tracer.newId() else 0L
      sc.setLocalProperty(Tracer.ParentKey, itemId.toString)
      val t0 = tracer.now()
      val (phases, output, error) =
        try {
          val (p, o) = wl.run(spark, name, visit, tracer, itemId)
          (p, o, None)
        } catch {
          case scala.util.control.NonFatal(e) =>
            (Nil, None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      val t1 = tracer.now()
      alarm.cancel(false)
      tracer.record(Span(itemId, "item", t0, t1, 0L, visit))
      val err = if (timedOut.get) Some(s"timed out after $ItemTimeoutMs ms") else error
      items += ItemResult(visit, name, t0, t1, phases, err, output)
    }
    watchdog.shutdownNow()
    sc.setLocalProperty(Tracer.ItemKey, null)
    sc.setLocalProperty(Tracer.ParentKey, null)

    val jobs = if (tracer.enabled) listener.finished(sc) else Nil
    val stamp = FixtureMeta.sourceStamp(spark, sf, TableStats.FixtureTables)
    val warmStamp = FixtureMeta.sourceStamp(spark, warmSf, TableStats.FixtureTables)

    val j = new Json
    j.obj {
      j.field("workload", workload)
      j.field("seed", seed)
      j.field("prep_s", prepS)
      j.key("setups"); j.arr(setups.foreach(m => j.numObj(m)))
      j.key("provenance"); j.obj {
        j.field("nproc", Runtime.getRuntime.availableProcessors().toLong)
        j.field("java_version", System.getProperty("java.version"))
        j.field("spark_version", spark.version)
        j.field("max_heap_bytes", Runtime.getRuntime.maxMemory())
        j.field("fixture_stamp_sf0.1", stamp)
        j.field("fixture_stamp_sf0.001", warmStamp)
      }
      j.field("vm_hwm_kb", vmHwmKb())
      j.key("oracles"); j.obj(wl.oracles.foreach { case (k, v) => j.field(k, v) })
      j.key("items"); j.arr(items.foreach { it =>
        j.obj {
          j.field("visit", it.visit.toLong); j.field("name", it.name)
          j.field("start", it.start); j.field("end", it.end)
          j.field("wall_s", it.wallS)
          j.key("phases"); j.numObj(it.phases.toMap)
          it.error.foreach(j.field("error", _))
          it.output.foreach(j.field("output", _))
        }
      })
      j.key("spans"); j.arr(tracer.all.foreach { s =>
        j.obj {
          j.field("id", s.id); j.field("name", s.name); j.field("start", s.start)
          j.field("end", s.end); j.field("parent", s.parent)
          j.field("trace", s.trace.toLong)
        }
      })
      j.key("jobs"); j.arr(jobs.foreach { r =>
        j.obj {
          j.field("job", r.jobId.toLong); j.field("item", r.item.toLong)
          j.field("parent", r.parent); j.field("start", r.start); j.field("end", r.end)
          j.field("stages", r.stages.toLong); j.field("tasks", r.tasks.toLong)
          j.field("run_ns", r.runNs); j.field("cpu_ns", r.cpuNs)
          j.field("gc_ms", r.gcMs); j.field("sched_delay_ms", r.schedDelayMs)
          j.field("input_rows", r.inputRows); j.field("input_bytes", r.inputBytes)
          j.field("shuffle_write_bytes", r.shuffleWrite)
          j.field("shuffle_read_bytes", r.shuffleRead)
          j.field("spill_bytes", r.spill); j.field("output_bytes", r.outputBytes)
          j.field("peak_task_memory_bytes", r.peakTaskMem)
        }
      })
    }
    Files.write(Paths.get(opts("out")), j.result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal streaming JSON writer for the run record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb += ','; first = false }
  private def str(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def key(k: String): Unit = { sep(); str(k); sb += ':'; first = true }
  def obj(body: => Unit): Unit = { if (!first) sb += ','; sb += '{'; first = true; body; sb += '}'; first = false }
  def arr(body: => Unit): Unit = { if (!first) sb += ','; sb += '['; first = true; body; sb += ']'; first = false }
  def field(k: String, v: String): Unit = { key(k); str(v); first = false }
  def field(k: String, v: Long): Unit = { key(k); sb ++= v.toString; first = false }
  def field(k: String, v: Double): Unit = { key(k); sb ++= num(v); first = false }
  def numObj(m: Map[String, Double]): Unit = obj(m.foreach { case (k, v) => field(k, v) })
  def result: String = sb.toString
}
