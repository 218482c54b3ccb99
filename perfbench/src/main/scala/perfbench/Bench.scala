package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One run's settings, as parsed from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cores: Int) {
  val tracer = new Tracer(trace)

  def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // one task per corpus file, so a pass runs in several even waves over
    // the cores, as a large corpus does, instead of one packed split per core
    .config("spark.sql.files.maxPartitionBytes", "2m")
    .getOrCreate()
}

/** Shared shape of a workload run: repeated set-ups, a timed loop of calls
  * into the engine, and the metrics every workload reports.
  */
object Bench {

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Force a plan through the `noop` sink, as `graft.Bench` does, so every
    * output column is computed.
    */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `body`, logging its wall seconds to stderr under `name`. */
  def phase[A](name: String)(body: => A): A = {
    val (a, s) = Timer.timed(body)
    System.err.println(f"[perfbench] $name: $s%.2f s")
    a
  }

  /** Call `body` `warm` times untimed, so the JIT has compiled the hot
    * paths, then until `seconds` have passed (at least once); returns each
    * timed call's wall seconds.
    */
  def loop(seconds: Double, warm: Int = 0)(body: => Unit): Vector[Double] = {
    if (warm > 0) phase(s"$warm warm-up calls")((1 to warm).foreach(_ => body))
    val out = Vector.newBuilder[Double]
    val start = System.nanoTime()
    var elapsed = 0.0
    while (elapsed < seconds || elapsed == 0.0) {
      val t = System.nanoTime()
      body
      val now = System.nanoTime()
      out += (now - t) / 1e9
      elapsed = (now - start) / 1e9
    }
    val calls = out.result()
    System.err.println(s"[perfbench] ${calls.length} calls: " + calls.map(c => f"$c%.3f").mkString(" "))
    calls
  }

  /** The end-to-end metrics every workload reports. `calls` are the wall
    * seconds of the workload's unit calls.
    */
  def endToEnd(r: Report, setups: Seq[Double], calls: Seq[Double], textsPerS: Double,
      callsPerS: Double): Unit = {
    r.put("setup_s", Report.median(setups), "s")
    r.put("texts_per_s", textsPerS, "1/s")
    r.put("calls_per_s", callsPerS, "1/s")
    r.put("call_p50_ms", Report.median(calls) * 1e3, "ms")
    r.put("call_p99_ms", Report.percentile(calls, 0.99) * 1e3, "ms")
  }

  /** Spark stage metrics of a traced window, per timed call, plus the
    * pipeline attribution: task time per row beyond the single-thread time
    * of the kernels those tasks run, and how busy the cores were.
    */
  def sparkLayers(r: Report, t: StageRecorder.Totals, calls: Int, rows: Long,
      wall: Double, cores: Int, kernelUsPerRow: Double): Unit = {
    val c = calls.toDouble
    r.put("spark.jobs", t.jobs / c, "jobs/call")
    r.put("spark.stages", t.stages / c, "stages/call")
    r.put("spark.tasks", t.tasks / c, "tasks/call")
    r.put("spark.task_run_s", t.runS / c, "s/call")
    r.put("spark.task_cpu_s", t.cpuS / c, "s/call")
    r.put("spark.gc_s", t.gcS / c, "s/call")
    r.put("spark.task_skew", t.taskSkew, "ratio")
    r.put("spark.input_mb", t.inputMb / c, "MB/call")
    r.put("spark.shuffle_write_mb", t.shuffleWriteMb / c, "MB/call")
    r.put("spark.shuffle_read_mb", t.shuffleReadMb / c, "MB/call")
    r.put("spark.spill_mb", t.spillMb / c, "MB/call")
    r.put("spark.output_mb", t.outputMb / c, "MB/call")
    r.put("pipeline.overhead_us_per_row",
      if (rows == 0) 0.0 else t.runS * 1e6 / rows - kernelUsPerRow, "us")
    r.put("pipeline.cpu_util", t.cpuS / (wall * cores), "ratio")
  }

  /** JVM metrics and trace output, then stop the session. */
  def finish(ctx: Ctx, spark: SparkSession, r: Report, gcS: Double, genS: Double): Report = {
    if (ctx.trace) {
      r.put("bench.gen_s", genS, "s")
      r.put("bench.failed_frac", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
      Layers.jvm(spark.sparkContext, gcS, r)
      ctx.tracer.write(s"${ctx.work}/trace-${ctx.workload}-seed${ctx.seed}.jsonl")
    }
    spark.stop()
    r
  }

  /** Zeros for the layers a workload does not exercise, so every traced run
    * reports the same metric names.
    */
  def absent(r: Report, metrics: (String, String)*): Unit =
    metrics.foreach { case (name, unit) => r.put(name, 0.0, unit) }

  val IoMetrics = Seq("io.commit_s" -> "s", "io.resume_s" -> "s", "io.read_committed_s" -> "s",
    "io.write_stage_s" -> "s", "io.files_written" -> "count", "io.output_mb_per_input_mb" -> "ratio")
  val ServeMetrics = Seq("serve.overhead_ms_p50" -> "ms", "serve.overhead_ms_p99" -> "ms",
    "serve.cpu_ms_per_req" -> "ms", "serve.batch_ms_p50" -> "ms", "serve.detect_samples" -> "count",
    "serve.batch_samples" -> "count", "api.batch_ms" -> "ms", "api.batch_jobs" -> "count")
}

/** Wall-clock timing of a block. */
object Timer {
  def seconds(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }
  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime(); val a = body; (a, (System.nanoTime() - t) / 1e9)
  }
}
