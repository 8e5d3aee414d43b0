package graft.tools

import org.apache.spark.sql.SparkSession

/** THE local session config — one source of truth shared by the graded
  * bench main ([[graft.Bench]]) and the dev tools (RunOne,
  * ExplainDump). A tool reading is only comparable to the graded bench if the
  * session carries the same perf-critical knobs; before this was
  * shared, RunOne ran on Spark defaults and over-read codegen-heavy
  * queries ~2× (r14 measurement: q85 5.2 s "steady" under the default
  * 100-entry janino class cache — the fused arm plan alone churns it,
  * so every run recompiled its WholeStageCodegen classes — vs 2.8 s
  * in-bench with the 8000-entry cache below).
  *
  * Knob rationale (full history in git: these lived in Bench.scala):
  *   - codegen.cache.maxEntries 8000: 300 queries × ~10 codegen stages
  *     churn the default 100-entry janino class cache, so deep in a
  *     sweep every timed pass recompiles classes a smaller suite would
  *     reuse (the recurring q156 in-suite inflation, r11 root cause).
  *     Size the cache to hold the whole suite.
  *   - status-store retention caps: the default store retains 1000 SQL
  *     executions (each a full plan-description string) and 100k task
  *     wrappers; a ~1000-execution sweep fills the heap with UI
  *     bookkeeping nobody reads (UI is off) and the GC pressure
  *     inflates late-sweep timings.
  *   - periodicGC 2min: ContextCleaner frees shuffle files and
  *     broadcast blocks only after their weak refs are collected; a
  *     long-lived session needs a GC cadence shorter than the sweep.
  *   - shuffle.partitions = cpus (not 200): local[32] has exactly 32
  *     execution slots; 200 partitions is pure scheduling overhead at
  *     this scale. On a real cluster this is sized to the executor
  *     fleet instead.
  *   - buffer.pageSize 256 KB ([[PageSize]]): unset, Spark sizes its
  *     Tungsten pages from heap and cores, 16 MB on a 3 GB 4-core driver
  *     and up to 64 MB on bigger ones. Every hash-aggregate task, every
  *     shuffle-write task and every broadcast `UnsafeHashedRelation`
  *     allocates whole pages, so a ~2,000-event micro-batch allocated
  *     many 16 MB `long[]`s. Each is a G1 humongous object (>= half a
  *     region) and can start a concurrent mark. 256 KB is the largest
  *     power of two whose page stays under half of G1's smallest region
  *     (1 MB), so no page is humongous on any heap size; it is not tuned
  *     to one VM. Measured on perfbench `telco_read` (4-core VM, 3 GB
  *     heap, medians of 10 runs each): GC pauses 118 -> 78, of them
  *     humongous-triggered 32 -> 10.5, concurrent cycles 17 -> 6, peak
  *     heap 112.7 -> 99.6 MB; the broadcast relation of a 10k-row
  *     attach store 17.3 MB -> ~3 MB. Records larger than a page still
  *     work: Spark allocates max(pageSize, required). The 8,192-entry
  *     page table caps one task at 2 GB of 256 KB pages, more than a
  *     local session's execution pool holds.
  */
object ToolSession {
  /** Tungsten page size; see the knob list above. */
  val PageSize = "256k"

  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // off: bench readings never pay UI bookkeeping
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.buffer.pageSize", PageSize)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
