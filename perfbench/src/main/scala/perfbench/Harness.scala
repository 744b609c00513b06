package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

import scala.collection.mutable
import scala.util.control.NonFatal

/** The whole-result action: run the frame's own executed plan and pull
  * every row of every partition through a sink — what the `noop` data
  * source does, without re-planning the frame inside a write command, so
  * the `plan` span is the only planning a line pays.
  *
  * The sink keeps an order-insensitive digest of the rows it drops: the
  * row count and the sums of both 32-bit halves of each row's 64-bit
  * hash (over its UnsafeRow bytes). Every timed result is thus checked,
  * and the check itself is a string compare after the action. Executed
  * plans emit UnsafeRows; only a plan that does not is projected, so the
  * sink adds no codegen of its own to the usual line. */
object Sink {
  final case class Result(rows: Long, digest: String)

  def run(df: DataFrame): Result = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench sink")) {
      val plan = qe.executedPlan
      val schema = plan.schema
      val rdd = plan.execute()
      val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var n, lo, hi = 0L
        while (it.hasNext) {
          val r = it.next() match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          val h = XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset,
            r.getSizeInBytes, 42L)
          n += 1; lo += h & 0xffffffffL; hi += h >>> 32
        }
        (n, lo, hi)
      })
      val n = parts.map(_._1).sum
      Result(n, f"rows=$n h=${parts.map(_._2).sum}%x:${parts.map(_._3).sum}%x")
    }
  }
}

final case class Sample(pass: Int, op: String, module: String, phase: String,
                        wallS: Double)
final case class Failure(pass: Int, kind: String, op: String, reason: String)
final case class PassRec(index: Int, kind: String, traced: Boolean,
                         wallS: Double, phases: Map[String, Double],
                         ok: Boolean, heapMb: Double)

/** Runs passes of one workload and keeps score. A pass is timed as the
  * sum of its ops' wall times; leaked-block sweeps, checks, scratch
  * cleanup and the end-of-pass GC run between ops and passes, outside
  * every timed region.
  *
  * An op that throws, or whose output fails its check, is a failure: it
  * contributes no sample, and its pass is marked failed, so `run.py`
  * takes no sample from that pass. */
final class Harness(env: Env, order: Int => Seq[Op],
                    digests: Map[String, String], trace: Trace) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[Failure]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  var attempted = 0L
  private var generation = 0

  /** One pass over the workload's ops, every output checked. */
  def pass(index: Int, kind: String): PassRec = {
    graft.ops.Scratch.bumpGeneration()
    generation += 1
    val failed0 = failures.size
    val walls = mutable.LinkedHashMap.empty[String, Double]
    trace.span("pass", "pass" -> index, "kind" -> kind) {
      order(index).foreach { op =>
        runOp(op, index, kind).foreach { w =>
          walls(op.phase) = walls.getOrElse(op.phase, 0.0) + w
          samples += Sample(index, op.name, op.module, op.phase, w)
        }
        sweepLeakedBlocks()
      }
    }
    trace.settle()
    deleteScratch()
    val heap = heapAfterGc()
    val rec = PassRec(index, kind, trace.enabled, walls.values.sum,
      walls.toMap, failures.size == failed0, heap)
    passes += rec
    rec
  }

  /** One op; returns its wall seconds, or None if it failed. */
  private def runOp(op: Op, index: Int, kind: String): Option[Double] = {
    attempted += 1
    def fail(reason: String): Option[Double] = {
      failures += Failure(index, kind, op.name, reason)
      System.err.println(s"perfbench: FAIL ${op.name} ($kind pass $index): $reason")
      None
    }
    try {
      val check = op match {
        case IndexOp(_, _, _, _, c) => c
        case _ => None
      }
      val expect = check.map(_.expect(env))
      val t0 = System.nanoTime()
      val got = trace.span("line", "pass" -> index, "op" -> op.name,
          "module" -> op.module, "phase" -> op.phase) {
        op match {
          case q: Query =>
            val df = trace.span("build")(q.fn(env.spark, env.data))
            trace.span("plan")(df.queryExecution.executedPlan)
            val r = trace.span("exec")(Sink.run(df))
            trace.note("out_rows", r.rows)
            r.digest
          case i: IndexOp => trace.span("build")(i.fn(env))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val problem = check match {
        case Some(c) =>
          val seen = c.observe(env)
          if (expect.contains(seen)) None
          else Some(s"index holds $seen, expected ${expect.get}")
        case None =>
          val want = recorded(op)
          if (got == want) None else Some(s"output $got, recorded $want")
      }
      problem match {
        case Some(p) => fail(p)
        case None => Some(wall)
      }
    } catch {
      case NonFatal(t) => fail(t.toString.linesIterator.take(1).mkString)
    }
  }

  /** Heap in use after full GCs, repeated until two rounds in a row do
    * not shrink it: a GC hands dead broadcasts and shuffles to Spark's
    * cleaner, which polls for them every 100 ms, and only a later GC
    * collects what the cleaner released. One quiet round can miss a late
    * cleaner (a run once read 153 MB where its others read 85); two in a
    * row give it 200 ms. */
  private def heapAfterGc(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var still = 0
    var rounds = 0
    while (still < 2 && rounds < 8) {
      System.gc()
      Thread.sleep(100)
      val now = mem.getHeapMemoryUsage.getUsed
      still = if (used - now > (1L << 20)) 0 else still + 1
      used = math.min(used, now)
      rounds += 1
    }
    used / Trace.MB
  }

  private def recorded(op: Op): String = digests.getOrElse(op.name,
    throw new IllegalStateException(s"no recorded output for ${op.name}"))

  /** Persistent RDDs never carry state across ops (standing state lives
    * on disk), so any left after an op leaked from it. */
  private def sweepLeakedBlocks(): Unit =
    env.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** Remove this pass's standing-index roots, so disk use stays flat. */
  private def deleteScratch(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val mine = s".*_g${generation}(_.*)?".r
    for {
      dir <- Seq(tmp, new java.io.File(tmp, "graft_buckets"))
      f <- Option(dir.listFiles()).toSeq.flatten
      if f.getName.startsWith("graft_") && mine.matches(f.getName)
    } deleteTree(f.toPath)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(x => java.nio.file.Files.deleteIfExists(x))
    finally walk.close()
  }
}
