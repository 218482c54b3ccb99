package perfbench

/** Entry point of one benchmark run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints the run's report as the last line of standard output. The process
  * always ends through `System.exit`, because `HttpApi.stop()` leaves its
  * non-daemon server pool alive.
  */
object Main {

  val Workloads: Map[String, Ctx => Report] = Map(
    "scan_fixture" -> Pipelines.scanFixture,
    "detect_http" -> DetectHttp.run)

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
        def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
        val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", opt("work"), Runtime.getRuntime.availableProcessors())
        val run = Workloads.getOrElse(ctx.workload,
          throw new IllegalArgumentException(s"unknown workload ${ctx.workload}"))
        println(run(ctx).json)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.exit(code)
  }
}
