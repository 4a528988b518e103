package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs' location, the
  * seed, and the run's trace and result accumulators. */
final class Ctx(val spark: SparkSession, val sfDir: String, val work: String,
                val seed: Long, val seconds: Int, val trace: Trace) {
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  /** Per-op latency samples (ms) of the op kinds the workload times. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Scalar results (items moved, wall times) keyed by name. */
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Seconds each named set-up step took (its latest run). */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def step[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps(label) = (System.nanoTime() - t0) / 1e9
  }

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms

  /** One correctness check: counts an attempt, and a failure when false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def fail(what: String): Unit = { attempted += 1; failures += what }

  /** A fresh, empty directory under the run's work dir. */
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** One benchmark process: `Main <workload> <seed> <seconds> <trace 0|1>
  * <cpus> <sfDir> <workDir> <resultFile>`. Builds the session, runs the
  * workload's set-up, warmup and timed closed loop, and writes the raw
  * samples, counters and spans to `resultFile` as JSON. The launcher
  * (`perfbench/run.py`) turns that file into the metrics it prints. */
object Main {
  /** Set-ups timed per run, after the warmup; `setup_s` is their median.
    * The run's first set-up, on a cold JVM, feeds the warmup and is
    * reported apart. */
  val SetupReps = 3

  trait Workload {
    /** Builds the inputs the timed phase uses, from the seed: each call
      * replaces what the previous one built with the same inputs, and
      * leaves what the warmup built in place. */
    def setup(ctx: Ctx): Unit
    /** Untimed ops that bring the JIT and caches to steady state. */
    def warmup(ctx: Ctx): Unit
    /** One timed op of the closed loop. Records its latency samples
      * under "op", the items it moved under the "items" value, and the
      * milliseconds it moved them in as an "items_ms" sample. */
    def op(ctx: Ctx, id: Int): Unit
    /** Traced runs only: counters and separate layer measurements
      * taken after op `id`, outside its span and its timing. */
    def extras(ctx: Ctx, id: Int): Unit = ()
    /** Checks made after the timed phase, plus end-of-run counters. */
    def finish(ctx: Ctx): Unit
    /** "op" samples the timed phase takes at least, past its seconds if
      * need be (up to [[MaxOverrun]] times them): a median needs ten
      * samples beyond it to be steady. */
    val minSamples: Int = 1
  }

  val MaxOverrun = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, cpusS, sfDir, work, out) = args
    val t0 = System.nanoTime()
    val cpus = cpusS.toInt
    require(cpus >= 1, s"core count must be positive, got $cpus")
    val trace = new Trace(traceS == "1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", classOf[graft.sinks.GraftCatalog].getName)
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace.enabled) spark.sparkContext.addSparkListener(new JobRecorder(trace))
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(s"session ready")
    val ctx = new Ctx(spark, sfDir, work, seedS.toLong, secondsS.toInt, trace)
    val w: Workload = name match {
      case "supplier_sync" => new SupplierSync
      case "corpus_dedup" => new CorpusDedup
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try {
      val (_, coldSetupMs) = timed(w.setup(ctx))
      // Warmup checks count like any other: a failing warmup op means
      // the run measures a broken program.
      val (_, warmupMs) = timed(w.warmup(ctx))
      log("warmup done")
      // Set-up runs again several times on the warm JVM: a cold set-up
      // mostly times the JIT, and set-ups while it warms spread widely.
      val setupMs = (0 until SetupReps).map(_ => timed(w.setup(ctx))._2)
      ctx.samples.clear(); ctx.values.clear()
      log("set-up done")
      // The closed loop: one client, next op when the last returns.
      // Traced extras run between ops and are left out of the clock.
      var opNanos = 0L
      var id = 0
      val budget = ctx.seconds * 1000000000L
      def opSamples = ctx.samples.get("op").fold(0)(_.size)
      while (id == 0 || opNanos < budget ||
        (opSamples < w.minSamples && opNanos < MaxOverrun * budget)) {
        val start = trace.nowMs
        val fs0 = if (trace.enabled) FsStats.snap() else null
        val n0 = System.nanoTime()
        try w.op(ctx, id)
        catch { case scala.util.control.NonFatal(e) =>
          ctx.fail(s"op $id threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        opNanos += System.nanoTime() - n0
        if (trace.enabled) {
          FsStats.record(trace, id, fs0, FsStats.snap())
          trace.add(id, "op", "op", start, trace.nowMs)
          try w.extras(ctx, id)
          catch { case scala.util.control.NonFatal(e) =>
            ctx.fail(s"extras $id threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          }
        }
        id += 1
      }
      val timedS = opNanos / 1e9
      log(s"$id timed ops done")
      val heapMb = retainedHeapMb()
      // The end-of-run checks read the tables back: an engine error
      // there is a failed check, not a reason to withhold the timings.
      val (_, finishMs) = timed(
        try w.finish(ctx)
        catch { case scala.util.control.NonFatal(e) =>
          ctx.fail(s"end-of-run checks threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        })
      val json = Json.obj(
        "workload" -> name, "seed" -> ctx.seed, "cpus" -> cpus,
        "session_s" -> sessionS, "cold_setup_s" -> coldSetupMs / 1e3,
        "setup_reps_s" -> setupMs.map(_ / 1e3), "warmup_s" -> warmupMs / 1e3,
        "timed_s" -> timedS, "finish_s" -> finishMs / 1e3, "ops" -> id, "steps" -> ctx.steps.toMap,
        "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
        "failures" -> ctx.failures.take(20).toSeq,
        "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> ctx.values.toMap,
        "retained_heap_mb" -> heapMb,
        "trace" -> Json.Raw(if (trace.enabled) trace.toJson else "null"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
      log("result written")
    } finally {
      spark.stop()
      log("session stopped")
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  /** Driver heap still in use after full collections: the least of a
    * few, with pauses between them so Spark's context cleaner can drop
    * the broadcasts and shuffles each collection let go of. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Milliseconds taken by `body`, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
