package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ts.{Incremental, TimeSeries}

/** One timed call into the program. `run` is the construct phase (the
  * call into the module, eager jobs included); the digest of the returned
  * DataFrame is the action phase. `run` returning None (an ingest update)
  * has no action phase; its output is checked through the store. */
final case class Op(name: String, kind: String, module: String,
                    oracle: Option[String], run: SparkSession => Option[DataFrame])

final case class OpRecord(
    i: Int, pass: Int, name: String, kind: String, module: String,
    startMs: Double, constructS: Double, actionS: Double, wallS: Double,
    rows: Long, digest: String, columns: Seq[String], oracle: Option[String],
    error: Option[String], persistedDelta: Int) {
  def toMap: Map[String, Any] = Map(
    "i" -> i, "pass" -> pass, "name" -> name, "kind" -> kind, "module" -> module,
    "start_ms" -> startMs, "construct_s" -> constructS, "action_s" -> actionS,
    "wall_s" -> wallS, "rows" -> rows, "digest" -> digest, "columns" -> columns,
    "oracle" -> oracle, "error" -> error, "persisted_delta" -> persistedDelta)
}

/** Benchmark entry point: one JVM, `local[4]`, one client thread. See
  * perfbench/README.md for the workloads and metrics. */
object Main {
  val Cores = 4
  val Fmt = "yyyy-MM-dd HH:mm:ss"
  val EventsStart = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  val EventDays = 30
  /** Scratch roots the program hard-codes under /dev/shm for the
    * checkpoints, screen stores and stream copies of the ops run here. */
  val ShmRoots = Seq("graft-ckpt", "graft-upsert", "graft-editdist", "graft-dsir",
    "graft-docstream", "graft-tokstream")

  /** One cold pass of `curation_batch`: batch pipelines, then the
    * incremental foreachBatch screens. */
  val CurationOps = Seq("mm_phash_dup_groups" -> "batch", "jaccard_prefix_join" -> "batch",
    "label_prop_3iter" -> "batch", "streaming_editdist_pairs" -> "screen",
    "streaming_dsir_weights" -> "screen", "streaming_foreachbatch_upsert" -> "screen")
  val ReadOps = Seq("candles_1h", "candles_4h_resample", "gap_fill_1h", "asof_purchase_click",
    "rsi_cutler_14")
  val AnnOps = Seq("cosine_topk_brute", "ann_lsh_topk", "ann_recall_lsh", "ann_ndcg_lsh")

  lazy val moduleOf: Map[String, String] = Seq(
    "ts" -> graft.ts.TsQueries.all, "rel" -> graft.rel.RelQueries.all,
    "text" -> graft.text.TextQueries.all, "vec" -> graft.vec.VecQueries.all,
    "mm" -> graft.mm.MmQueries.all, "streaming" -> graft.streaming.StreamQueries.all)
    .flatMap { case (m, regs) => regs.map(_.name -> m) }.toMap

  def registryOp(name: String, kind: String, dir: String): Op =
    Op(name, kind, moduleOf(name), SparkEntry.oracleSql.get(name),
      s => Some(SparkEntry.queries(name)(s, dir)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val setupReps = opts("setup-reps").toInt
    val dir = Paths.get(opts("data")).toAbsolutePath.toString
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val leftovers = removeLeftovers()
    note(s"removed $leftovers leftover /dev/shm scratch entries")

    val b = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
    if (trace) {
      b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[TriggerListener].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new SchedulerListener)
    Trace.dataDir = dir

    val bench = new Bench(spark, dir, work, seed, trace)
    val wl: Workload = workload match {
      case "interactive" => new Interactive(bench)
      case "curation_batch" => new CurationBatch(bench, CurationOps)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // setup_s = JVM start to a ready session, plus the median of
    // setupReps repetitions of the workload's own setup, each on a fresh
    // session; the last one's session is the one measured
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val prepS = (1 to setupReps).map { rep =>
      if (rep > 1) spark.catalog.clearCache()
      bench.spark = if (rep == 1) spark else spark.newSession()
      val p0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - p0) / 1e9
    }
    val setupS = sessionS + prepS.sorted.apply(setupReps / 2)
    note(f"session ${sessionS}%.2f s, workload setup ${prepS.map(x => f"$x%.2f").mkString(" ")} s")

    val gc0 = gcMs()
    val t0 = System.nanoTime()
    wl.measure(seconds)
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    note(f"timed $timedS%.2f s")
    wl.check()

    // lowest of three full-GC readings: each GC lets Spark's context
    // cleaner release what the previous one made unreachable
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val sc = spark.sparkContext
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val persisted = sc.getPersistentRDDs.size

    // graft.Bench's host-speed controls, one reading each, after timing
    def cal(name: String): Option[Double] = if (opts.get("cal").contains("1")) {
      val c0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      Some((System.nanoTime() - c0) / 1e9)
    } else None
    val calS = cal("boilerplate_ngram_ratio")
    val cal2S = cal("streaming_running_counts")

    val counters = bench.records.map { r =>
      val c = Trace.of(r.i)
      val idle = r.wallS - Trace.covered(c.jobIntervals.toSeq, r.startMs, r.startMs + r.wallS * 1e3) / 1e3
      r.i.toString -> Map(
        "jobs" -> c.jobs, "jobs_failed" -> c.jobsFailed, "stages" -> c.stages, "tasks" -> c.tasks,
        "idle_s" -> idle, "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs,
        "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead, "spill" -> c.spill,
        "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
        "planning_ms" -> c.planningMs, "scan_bytes" -> c.scanBytes, "scan_rows" -> c.scanRows,
        "write_bytes" -> c.writeBytes, "files_written" -> c.filesWritten,
        "trigger_ms" -> c.triggerMs.toSeq, "addBatch_ms" -> c.addBatchMs,
        "queryPlanning_ms" -> c.queryPlanningMs, "walCommit_ms" -> c.walCommitMs,
        "getBatch_ms" -> c.getBatchMs, "state_rows" -> c.stateRows.values.sum)
    }.toMap
    val spans = if (trace) Trace.linkSpans().filter(_.op >= 0).map(s => Seq(
      s.id, s.parent, s.layer, s.name, s.op, s.start, s.end)) else Nil

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "session_s" -> sessionS, "prep_s" -> prepS, "timed_s" -> timedS,
      "heap_retained_mb" -> heapMb, "gc_s" -> gcS, "passes" -> wl.passWalls.toSeq,
      "ops" -> bench.records.map(_.toMap).toSeq,
      "failed_checks" -> wl.failedOps.toSeq.sorted,
      "checks" -> wl.checks.toSeq,
      "leak" -> wl.leak.toSeq,
      "store" -> wl.store,
      "memo" -> Map("persisted_rdds" -> persisted, "cached_bytes" -> cachedBytes),
      "meta" -> Map("cal_q" -> "boilerplate_ngram_ratio", "cal_s" -> calS,
        "cal2_q" -> "streaming_running_counts", "cal2_s" -> cal2S,
        "leftovers_removed" -> leftovers, "spark" -> spark.version),
      "counters" -> counters, "spans" -> spans)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(opts("out")), result)
    note("result written")
    spark.stop()
    note("session stopped")
  }

  def note(msg: String): Unit = {
    val t = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"perfbench [$t%7.2f s] $msg")
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def shmEntries(root: String): Seq[Path] = {
    val p = Paths.get("/dev/shm", root)
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }
  }

  /** Scratch that earlier processes left under the program's hard-coded
    * /dev/shm roots; removed before setup and counted. */
  def removeLeftovers(): Int = {
    val found = ShmRoots.flatMap(shmEntries)
    found.foreach(rmrf)
    found.size
  }

  def rmrf(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(rmrf) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  def present(candles: DataFrame): DataFrame = candles.select(
    date_format(col("bucket"), Fmt).as("bucket"), col("series").as("event_type"),
    col("open"), col("high"), col("low"), col("close"),
    round(col("volume"), 4).as("volume"), col("trades"))

  def candleOracle(unit: String, where: String): String =
    s"""SELECT strftime(date_trunc('$unit', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       |       event_type, arg_min(value, ts) AS open, max(value) AS high,
       |       min(value) AS low, arg_max(value, ts) AS close,
       |       round(sum(value), 4) AS volume, count(*) AS trades
       |FROM events WHERE $where GROUP BY 1, 2""".stripMargin

  def stamp(t: java.time.LocalDateTime): String =
    t.format(java.time.format.DateTimeFormatter.ofPattern(Fmt))
}

/** Shared state of one run: the session, inputs, and the op records. */
final class Bench(var spark: SparkSession, val dir: String, val work: Path,
                  val seed: Long, val trace: Boolean) {
  val records = mutable.ArrayBuffer[OpRecord]()
  private val sc = spark.sparkContext

  /** Run `op` untimed (warm-up); failures surface later in timed runs. */
  def warm(op: Op): Unit =
    try op.run(spark).foreach(Digest.of)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"perfbench: warm-up of ${op.name} failed: $e") }

  def timed(op: Op, pass: Int, session: SparkSession): OpRecord = {
    val i = records.size
    sc.setLocalProperty(Trace.OpProp, i.toString)
    sc.setLocalProperty(Trace.PhaseProp, "construct")
    Trace.current = i
    val rdds0 = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    var t1 = t0
    var result: Option[Digest.Result] = None
    var error: Option[String] = None
    try {
      val df = op.run(session)
      t1 = System.nanoTime()
      sc.setLocalProperty(Trace.PhaseProp, "action")
      result = df.map(Digest.of)
    } catch {
      case scala.util.control.NonFatal(e) =>
        error = Some((e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
        if (t1 == t0) t1 = System.nanoTime()
    }
    val t2 = System.nanoTime()
    sc.setLocalProperty(Trace.OpProp, null)
    sc.setLocalProperty(Trace.PhaseProp, null)
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(sc)
      Trace.span("op", op.name, i, Trace.ms(t0), Trace.ms(t2))
      Trace.span(s"${op.module}.construct", op.name, i, Trace.ms(t0), Trace.ms(t1))
      if (result.isDefined) Trace.span(s"${op.module}.action", op.name, i, Trace.ms(t1), Trace.ms(t2))
    }
    Trace.current = -1
    val rec = OpRecord(i, pass, op.name, op.kind, op.module, Trace.ms(t0),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9,
      result.map(_.rows).getOrElse(-1L), result.map(_.hex).getOrElse(""),
      result.map(_.columns).getOrElse(Nil), op.oracle, error,
      (sc.getPersistentRDDs.keySet -- rdds0).size)
    records += rec
    rec
  }

  /** Hygiene counters after a pass: temp views left in `sessions`,
    * streaming checkpoint dirs, and persisted RDDs. */
  def leak(pass: Int, sessions: Seq[SparkSession]): Map[String, Any] = Map(
    "pass" -> pass,
    "temp_views" -> sessions.distinct.map(_.catalog.listTables().collect().count(_.isTemporary)).sum,
    "ckpt_dirs" -> Main.shmEntries("graft-ckpt").size,
    "persisted_rdds" -> sc.getPersistentRDDs.size)
}

abstract class Workload(val bench: Bench) {
  val passWalls = mutable.ArrayBuffer[Double]()
  val leak = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val failedOps = mutable.Set[Int]()
  def store: Map[String, Any] = Map.empty
  def setup(): Unit
  def measure(seconds: Double): Unit
  def check(): Unit = ()
}

/** `curation_batch`: each pass runs a fixed op list once, every op cold:
  * the cache is cleared and the op gets a new session, so no session
  * memo can serve it. Another pass starts only if it is expected to end
  * within `seconds` (there is always at least one). */
final class CurationBatch(b: Bench, ops: Seq[(String, String)]) extends Workload(b) {
  import b.dir

  /** The screens read derived multi-file copies of the inputs; derive
    * them here (removing earlier copies so every repetition does the
    * work) rather than inside the first timed pass. */
  def setup(): Unit = {
    val spark = b.spark
    Seq("graft-docstream", "graft-tokstream").flatMap(Main.shmEntries).foreach(Main.rmrf)
    graft.sources.Fixtures.ensureDocStreamFiles(spark, dir, n = 3)
    graft.sources.Fixtures.ensureTokenStreamFiles(spark, dir, n = 3)
  }

  def measure(seconds: Double): Unit = {
    val spark = b.spark
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 + passWalls.last <= seconds) {
      val p0 = System.nanoTime()
      val sessions = mutable.ArrayBuffer[SparkSession](spark)
      ops.foreach { case (n, kind) =>
        spark.catalog.clearCache()
        val s = spark.newSession()
        sessions += s
        b.timed(Main.registryOp(n, kind, dir), pass, s)
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      leak += b.leak(pass, sessions.toSeq)
      pass += 1
    }
  }
}

/** `interactive`: closed loop, one client. Each round runs a fixed
  * multiset of ops in a seeded order: registry reads, ad-hoc
  * `Tables.eventsRange` candle windows, range reads of the ingest store,
  * vector ops served by the session memo, and one `Incremental.update`
  * tick of the replayed event days. Another round starts only if it is
  * expected to end within `seconds`, after at least [[MinRounds]]: the
  * first round still pays JIT warm-up, so the median round is a warm
  * one in every run. */
final class Interactive(b: Bench) extends Workload(b) {
  import b.dir
  import Main._
  val MinRounds = 3
  private def spark = b.spark

  private val rng = new Random(b.seed)
  private val storePath = b.work.resolve("candle-store").toString
  private var day = 0                      // last replayed day in the store
  private val ticks = mutable.ArrayBuffer[Int]()  // update ops since last check
  private val Windows = Seq((6, "minute"), (24, "hour"), (72, "hour"), (168, "day"), (336, "day"))

  private def dayStart(d: Int) = EventsStart.plusDays(d - 1)
  private def events(until: java.time.LocalDateTime) =
    Tables(spark, dir).eventsRange(stamp(EventsStart), stamp(until))

  private def windowOp(): Op = {
    val (hours, unit) = Windows(rng.nextInt(Windows.size))
    val from = EventsStart.plusHours(rng.nextInt(EventDays * 24 - hours + 1).toLong)
    val until = from.plusHours(hours.toLong)
    Op(s"events_range_${hours}h_$unit", "read", "ts",
      Some(candleOracle(unit, s"ts >= TIMESTAMP '${stamp(from)}' AND ts < TIMESTAMP '${stamp(until)}'")),
      s => Some(present(TimeSeries.candles(Tables(s, dir).eventsRange(stamp(from), stamp(until)), unit))))
  }

  private def storeReadOp(): Op = {
    val end = dayStart(day + 1)
    val hours = Seq(6, 24, 72)(rng.nextInt(3)).min(day * 24)
    val from = EventsStart.plusHours(rng.nextInt(day * 24 - hours + 1).toLong)
    val until = from.plusHours(hours.toLong)
    Op(s"store_range_${hours}h", "read", "ts",
      Some(candleOracle("hour", s"ts >= TIMESTAMP '${stamp(from)}' AND ts < TIMESTAMP '${stamp(until)}' " +
        s"AND ts < TIMESTAMP '${stamp(end)}'")),
      s => Some(present(s.read.parquet(storePath)
        .filter(col("pdate") >= to_date(lit(stamp(from).take(10))) &&
          col("pdate") <= to_date(lit(stamp(until).take(10))) &&
          col("bucket") >= to_timestamp(lit(stamp(from))) &&
          col("bucket") < to_timestamp(lit(stamp(until)))))))
  }

  private def updateOp(): Op = {
    day += 1
    val d = day
    Op(s"update_tick", "update", "ts", None, s => {
      Incremental.update(s, events(dayStart(d + 1)), storePath, "hour"); None
    })
  }

  /** Builds the ingest store up to a seeded day and warms the session
    * memo with every vector op, so that cost lands in setup. */
  def setup(): Unit = {
    day = 3 + new Random(b.seed).nextInt(18)
    Incremental.rebuild(events(dayStart(day + 1)), storePath, "hour")
    AnnOps.foreach(n => b.warm(registryOp(n, "ann", dir)))
  }

  def measure(seconds: Double): Unit = {
    val slots: Seq[String] = ReadOps ++ Seq("window", "window", "store") ++ AnnOps :+ "update"
    val t0 = System.nanoTime()
    var round = 0
    while (round < MinRounds || (System.nanoTime() - t0) / 1e9 + passWalls.last <= seconds) {
      val r0 = System.nanoTime()
      // after a wrap the store is empty until the round's update tick
      // rebuilds it, so that tick runs first
      val order = rng.shuffle(slots).sortBy(s => if (day == 0 && s == "update") 0 else 1)
      order.foreach { slot =>
        val op = slot match {
          case "window" => windowOp()
          case "store" => storeReadOp()
          case "update" => updateOp()
          case n if AnnOps.contains(n) => registryOp(n, "ann", dir)
          case n => registryOp(n, "read", dir)
        }
        val rec = b.timed(op, round, spark)
        if (op.kind == "update") ticks += rec.i
      }
      passWalls += (System.nanoTime() - r0) / 1e9
      leak += b.leak(round, Seq(spark))
      round += 1
      // the replay ran out: check the store and restart from an empty
      // one, between rounds so that neither lands in a timed round
      if (day == EventDays) { check(); rmrf(Paths.get(storePath)); day = 0 }
    }
  }

  /** The ingest store must equal a full `TimeSeries.candles` rebuild over
    * the replayed days; on a mismatch every update since the last check
    * counts as failed. */
  override def check(): Unit = {
    val got = Digest.of(present(spark.read.parquet(storePath).drop("pdate")))
    val want = Digest.of(present(TimeSeries.candles(events(dayStart(day + 1)), "hour")))
    val ok = got == want
    checks += Map("check" -> "store_vs_rebuild", "day" -> day, "ok" -> ok,
      "rows" -> got.rows, "ops" -> ticks.toSeq)
    if (!ok) failedOps ++= ticks
    ticks.clear()
  }

  override def store: Map[String, Any] = {
    val files = Files.walk(Paths.get(storePath)).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    val rows = spark.read.parquet(storePath).count()
    Map("files" -> files.size, "bytes" -> files.map(Files.size).sum, "rows" -> rows)
  }
}
