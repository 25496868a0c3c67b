package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory of the graft mains and the test session.
  * Callers add only the settings that differ from the shared config. */
object GraftSession {

  /** Parallelism of the correctness paths (Verify's default, FixtureGen,
    * CodegenAudit, the test session). The goldens, the neg-fraction pins
    * and the 150/150 three-scale-factor oracle certification were all
    * produced at 4, and tools/trisf.sh runs Verify without
    * SPARK_GRAFT_CPUS. */
  val CorrectnessCores = 4

  /** SPARK_GRAFT_CPUS when set, else `default`: the host's core count
    * for the measuring mains. */
  def cores(default: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `local[cores]`, one shuffle partition per core, UTC session zone,
    * TIMESTAMP(NANOS) parquet read as longs, the graft extensions, no UI.
    * AQE and partition coalescing are Spark 4.1 defaults. */
  def builder(app: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
}

/** Measuring helpers shared by the timing mains. */
object Harness {

  /** Wall seconds of `build` plus a `noop`-format write of its result —
    * the whole physical plan executes (a count() would let Spark prune
    * projections and skip most of the work being measured). The builder
    * runs inside the timed window: plan-construction work (q107's tier
    * census, eager checkpoints) belongs to the query's cost. The clean-up
    * after it runs outside the window, also when the query throws; the
    * failure is rethrown. */
  def timeOnce(spark: SparkSession)(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      build.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } finally {
      // Deterministic between-query cleanup. clearCache() drops SQL-
      // cached frames, but localCheckpoint blocks (dedup/canonicalize
      // intermediates) are RDD-persisted and only freed when the GC +
      // ContextCleaner get around to them — letting them pile up across
      // the sweep makes cleaner/GC stalls land on whichever heavy query
      // runs next (measured: q45 5.4s → 34.8s in a full sweep without
      // this). The blocks are garbage once the query's write finished,
      // so free them synchronously here.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // Broadcast blocks and codegen classloaders are freed by the
      // ContextCleaner only after a DRIVER GC notices they're
      // unreachable. Across a 60+ query sweep the backlog grows until
      // collection lands mid-query on whichever entry runs late in the
      // sweep (measured: q64 3.5 s fresh vs 71 s as sweep query #63,
      // with q51 298 s in the worst 8g-heap run; ScaleBench's factor-10
      // quality_rules 409 s vs ~13 s healthy). One explicit GC here
      // drains the backlog each iteration.
      System.gc()
    }
  }

  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Median of the reps after the first, which is dropped as warm-up. */
  def dropFirstMedian(reps: Seq[Double]): Double = median(reps.drop(1))

  /** 1-minute load average, "-1" when /proc/loadavg is unreadable.
    * Machine load outside this JVM showed up as 2.4x total-time swings
    * between otherwise identical runs — stamping it at both ends makes a
    * contaminated run self-identifying. */
  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0)
    catch { case _: Throwable => "-1" }

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): a raw tab or CR in oracle SQL would otherwise make
    * tools/check.py's json.load fail and silently zero the oracle
    * check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** HostCalib idle-host reference, seconds at parallelism 32. */
  def idleRef: Double = sys.env.getOrElse("SPARK_GRAFT_IDLE_REF", "1.9").toDouble

  /** Idle-window gate: a sweep started on a loaded
    * host produced a 252 s total and a 44.8 s q82 cell that two same-HEAD
    * pairing runs refuted, and a contaminated window inverted a q72
    * crossover verdict — only the calib/load stamps rescued the reading.
    * Compares `calibStart` against [[idleRef]] (only meaningful at
    * parallelism 32) and returns `window_ok` for the artifact.
    * SPARK_GRAFT_REQUIRE_IDLE=1 refuses outright (manual regen mode,
    * exit 3); the default loudly marks so an automated run never
    * breaks. */
  def windowOk(spark: SparkSession, calibStart: Double, tag: String): Boolean = {
    val ref = idleRef
    val ok = spark.sparkContext.defaultParallelism != 32 || calibStart <= ref * 1.15
    if (!ok) {
      System.err.println(f"[$tag] WINDOW-CONTAMINATED calib_start=$calibStart%.3f " +
        f"> 1.15 x idle_ref=$ref%.2f — absolute cells from this sweep are " +
        "inflated; re-run on an idle host or read PAIRING ratios instead")
      if (sys.env.get("SPARK_GRAFT_REQUIRE_IDLE").contains("1")) {
        System.err.println(s"[$tag] SPARK_GRAFT_REQUIRE_IDLE=1 — refusing to sweep")
        spark.stop(); sys.exit(3)
      }
    }
    ok
  }
}
