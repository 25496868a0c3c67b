package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ml.GraftPipelines
import graft.sources.CorpusReader

/** One benchmark pass in a fresh JVM: set the session up `setups` times
  * (the last one is kept), stamp the host, run every op once, cold, and
  * write `result.json` (plus `spans.json` when traced) to `out`.
  *
  * Args are key=value: kind=catalog|opinion, ops=a,b,c, input=DIR,
  * out=DIR, cores=N, setups=N, trace=0|1, seed=N, check=0|1.
  *
  * Output checks run outside the timed window: a catalog op's result is
  * written to parquet for the caller's oracle compare, an opinion-mining
  * op writes its predictions with `CorpusReader.writeTsv` inside the op
  * and reports its held-out accuracy.
  */
object Harness {
  private val tablesRead = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val tracer = new Tracer
    val run = tracer.add("run", 0L, 0L, tracer.nowUs, 0L)
    val mainStart = System.nanoTime()
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val kind = opt("kind")
    val ops = opt("ops").split(",").filter(_.nonEmpty).toSeq
    val input = opt("input")
    val out = opt("out")
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    val traced = opt("trace") == "1"
    val check = opt("check") == "1"
    val seed = opt("seed").toLong
    Files.createDirectories(Paths.get(out))

    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors, "load_start" -> loadavg())

    // ---------------------------------------------------------- set-up
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var t0 = mainStart
    for (i <- 1 to setups) {
      spark = session(cores, traced)
      listInputs(spark, kind, input)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < setups) {
        Tables.clear(spark)
        spark.stop()
        t0 = System.nanoTime()
      }
    }

    // ALU probe: a fixed amount of work per core; I/O probe: re-read of a
    // fixed file. Both also warm the scheduler before the first op.
    host("alu_probe_s") = aluProbe(spark, cores)
    host("io_probe_s") = ioProbe(spark, s"$input/probe.parquet")

    // ------------------------------------------------------------ pass
    if (traced) tracer.register(spark)
    tracer.resetHeapPeak()
    val gc0 = tracer.gcSeconds()
    val (cg0, cgMs0) = tracer.codegen()
    val pass = tracer.add("pass", run.id, 0L, tracer.nowUs, 0L)
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val results = ops.map { name =>
      val op = tracer.add(name, pass.id, 0L, tracer.nowUs, 0L)
      op.trace = op.id
      opSpans += op
      runOp(spark, tracer, pass, op, kind, name, input, out, seed, check)
    }
    pass.end = tracer.nowUs
    val gc1 = tracer.gcSeconds()
    val (cg1, cgMs1) = tracer.codegen()
    val heapPeak = tracer.heapPeakMb()

    host("alu_probe_end_s") = aluProbe(spark, cores)
    host("load_end") = loadavg()
    if (traced) {
      tracer.drain(spark, pass)
      tracer.unregister(spark)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "cores" -> cores, "setup_s" -> setupS.toSeq, "ops" -> results,
      "host" -> host, "rss_peak_mb" -> rssPeakMb())
    if (traced) {
      run.end = tracer.nowUs
      val layers = tracer.finish(opSpans.toSeq, cores) ++ Map(
        "codegen.compiles" -> (cg1 - cg0).toDouble,
        "codegen.compile_s" -> (cgMs1 - cgMs0) / 1e3,
        "jvm.gc_s" -> (gc1 - gc0),
        "jvm.heap_peak_mb" -> heapPeak)
      result("layers") = layers.toSeq.sortBy(_._1).toMap
      Files.writeString(Paths.get(s"$out/spans.json"), Json(tracer.all.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_us" -> s.start, "end_us" -> s.end)
      }))
    }
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    Tables.clear(spark)
    spark.stop()
  }

  /** The one session every pass uses: local[cores], cores shuffle
    * partitions, the graft Catalyst extensions, AQE on. */
  def session(cores: Int, traced: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (traced) Tracer.listenerConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Lists the workload's inputs and reads their parquet footers. */
  private def listInputs(spark: SparkSession, kind: String, input: String): Unit =
    if (kind == "catalog")
      tablesRead.foreach(t => spark.read.parquet(s"$input/$t.parquet").schema)
    else Seq("train/pos", "train/neg", "test").foreach { d =>
      spark.read.option("wholetext", "true").text(s"$input/$d").inputFiles
    }

  private def runOp(spark: SparkSession, tracer: Tracer, pass: Span, op: Span, kind: String,
                    name: String, input: String, out: String, seed: Long,
                    check: Boolean): Map[String, Any] = {
    val r = mutable.LinkedHashMap[String, Any]("name" -> name)
    try {
      if (kind == "catalog") {
        val df = tracer.span(spark, "build", op)(SparkEntry.queries(name)(spark, input))
        // the built DataFrame's own analysis ran eagerly, before any action
        Tracer.current.foreach(_.phases(df.queryExecution))
        tracer.span(spark, "execute", op) {
          df.write.mode("overwrite").format("noop").save()
        }
        op.end = tracer.nowUs
        if (check) tracer.unmeasured(spark, "check", pass) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$name")
          SparkEntry.oracleSql.get(name).foreach(sql => r("oracle_sql") = sql)
        }
      } else {
        r("accuracy") = pipelineOp(spark, tracer, op, name, input, s"$out/check/$name", seed)
        op.end = tracer.nowUs
      }
      r("ok") = true
    } catch {
      case e: Throwable =>
        op.end = tracer.nowUs
        r("ok") = false
        r("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" ").take(400)
    }
    // Between-op clean-up, outside the op's span: as in graft.Bench.
    val elapsed = (op.end - op.start) / 1e6
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    (r += ("elapsed_s" -> elapsed)).toMap
  }

  /** One opinion-mining variant: ingest the corpus, fit on the seeded 0.8
    * split, score the 0.2 split, predict the unlabeled set and write the
    * predictions TSV. Returns held-out accuracy. */
  private def pipelineOp(spark: SparkSession, tracer: Tracer, op: Span, name: String,
                         input: String, tsvOut: String, seed: Long): Double = {
    val (labeled, unknown) = tracer.span(spark, "ingest", op) {
      val l = CorpusReader.loadLabeled(spark, s"$input/train").persist()
      val u = CorpusReader.loadUnknown(spark, s"$input/test").persist()
      l.count(); u.count()
      (l, u)
    }
    val Array(train, held) = labeled.randomSplit(Array(0.8, 0.2), seed)
    val model: DataFrame => DataFrame = tracer.span(spark, "fit", op) {
      name match {
        case "script3Fit" =>
          val (vec, down) = GraftPipelines.script3Fit(train)
          (df: DataFrame) => down.transform(vec.transform(df))
        case other =>
          val p = other match {
            case "script4"    => GraftPipelines.script4()
            case "script5"    => GraftPipelines.script5()
            case "naiveBayes" => GraftPipelines.naiveBayes()
            case _ => throw new NoSuchElementException(s"no pipeline variant $other")
          }
          val m = p.fit(train)
          (df: DataFrame) => m.transform(df)
      }
    }
    val acc = tracer.span(spark, "eval", op) {
      GraftPipelines.accuracyEvaluator().evaluate(model(held))
    }
    tracer.span(spark, "sink", op) {
      CorpusReader.writeTsv(model(unknown), tsvOut)
    }
    acc
  }

  private def aluProbe(spark: SparkSession, cores: Int): Double = {
    val rows = 20_000_000L * cores
    def run(n: Long): Unit = spark.range(0L, n, 1L, cores)
      .selectExpr("sum((id % 1000003) * 2654435761 % 97)").collect()
    run(rows / 100)
    val t0 = System.nanoTime()
    run(rows)
    (System.nanoTime() - t0) / 1e9
  }

  private def ioProbe(spark: SparkSession, path: String): Double = {
    def read(): Unit = spark.read.parquet(path).write.mode("overwrite").format("noop").save()
    read()
    val t0 = System.nanoTime()
    read()
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")

  /** Peak resident set of this JVM (driver and local executors). */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else "%.6f".formatLocal(Locale.ROOT, d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
