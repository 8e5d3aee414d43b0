package perfbench

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --params <workloads.json> --work <dir> --spans <file>`.
  * Prints
  * progress lines, then one JSON result object as its last stdout line.
  * `--selftest` runs the checks' own tests; `--corrupt <check>` perturbs
  * one expected value (stats, geofence, kmeans or dropped) so a run can
  * show that check failing.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (args.contains("--selftest")) {
      val errs = Checks.selfTest()
      errs.foreach(e => println(s"[selftest] FAILED: $e"))
      println(s"[selftest] ${if (errs.isEmpty) "ok" else s"${errs.size} failed"}")
      sys.exit(if (errs.isEmpty) 0 else 1)
    }
    def need(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val run = new TelcoRun(
      workload = workload,
      p = Params.load(need("params"), workload),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      workDir = need("work"),
      spansOut = opts.getOrElse("spans", s"$workload-spans.jsonl"),
      corrupt = opts.get("corrupt"))
    val result = run.run()
    println(result)
    sys.exit(0)
  }
}
