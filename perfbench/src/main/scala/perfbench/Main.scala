package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (three times, the last session
  * kept), one cold pass, then the workload's fixed number of warm passes,
  * and with `--trace 1` one traced pass after the first of them (the cold
  * pass is traced too). The metrics come from these passes only, so a
  * faster program is compared on the same passes as a slower one. If
  * they end before `--seconds` of warm wall time, extra passes fill the
  * rest; they are checked but feed no metric. Every pass checks every
  * output. Writes the raw run record (and, traced, the span file);
  * `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --digests <file> --work <dir>
  *   --out <file> [--spans <file>] [--cores <n>]
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val digests = Recorded.load(a("digests"))

    val (spark, delta, setups) = setUp(workload, a("data"), a("work"), cores)
    val trace = new Trace(spark.sparkContext, s"${workload.name}-$seed")
    val h = new Harness(Env(spark, a("data"), delta),
      workload.order(seed, _), digests, trace)
    trace.enable(traced)
    h.pass(0, "cold")
    val warmStart = System.nanoTime()
    // the workload's warm passes; traced, one more (pass 2) is traced
    val warm = workload.warmPasses + (if (traced) 1 else 0)
    (1 to warm).foreach { i =>
      trace.enable(traced && i == 2)
      h.pass(i, "warm")
    }
    trace.enable(false)
    var i = warm + 1
    while ((System.nanoTime() - warmStart) / 1e9 < seconds) {
      h.pass(i, "extra")
      i += 1
    }

    val record = Seq[(String, Any)](
      "workload" -> workload.name, "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Trace.MB,
      "traced" -> traced, "setup_s" -> setups,
      "attempted" -> h.attempted, "failed" -> h.failures.size,
      "passes" -> h.passes.map(p => Map("index" -> p.index, "kind" -> p.kind,
        "traced" -> p.traced, "wall_s" -> p.wallS, "phases" -> p.phases,
        "ok" -> p.ok, "heap_after_gc_mb" -> p.heapMb)),
      "samples" -> h.samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
        "module" -> s.module, "phase" -> s.phase, "wall_s" -> s.wallS)),
      "failures" -> h.failures.map(f => Map("pass" -> f.pass,
        "kind" -> f.kind, "op" -> f.op, "reason" -> f.reason)))
    if (traced) trace.write(a("spans"), "workload" -> workload.name,
      "seed" -> seed, "cores" -> cores)
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      Json.obj(record) + "\n")
  }

  /** Set up [[Setups]] times and keep the last session. A set-up builds
    * the session and resolves every source table and generated input.
    * The first is timed from JVM start, so it also carries class loading;
    * later ones start from a stopped session. */
  def setUp(workload: Workload, data: String, work: String,
            cores: Int): (SparkSession, Option[Delta], Seq[Double]) = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    var spark: SparkSession = null
    var delta: Option[Delta] = None
    val times = (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Sessions.local("perfbench", cores)
      // session ready: every source table resolved (listing + footers)
      Option(new java.io.File(data).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach(f => spark.read.parquet(f.getPath).schema)
      delta = workload.prepare(spark, work)
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    (spark, delta, times)
  }
}

/** Recorded outputs: op name → digest (queries) or count summary (ingest
  * ops), one `name<TAB>value` a line. */
object Recorded {
  def load(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
}
