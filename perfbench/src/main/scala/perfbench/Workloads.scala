package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of a pass. A [[Query]] returns a frame whose whole
  * result is materialized; an [[IndexOp]] is an eager standing-index call
  * (ingest, append, compact) that returns a count summary. */
sealed trait Op {
  def name: String
  /** the engine module that implements the op — the per-layer key */
  def module: String
  /** `query` for a query line; `ingest`/`serve`/`append` for the
    * standing-index ops */
  def phase: String
}

final case class Query(name: String, module: String, phase: String,
                       fn: (SparkSession, String) => DataFrame) extends Op

/** `fn` returns the op's count summary (e.g. `postings=123`), checked
  * against the recorded value on every pass. An op whose outcome depends
  * on the seed (an append) returns nothing and carries a [[Check]],
  * run instead on every pass. */
final case class IndexOp(name: String, module: String, phase: String,
                         fn: Env => String, check: Option[Check] = None)
    extends Op

/** A seed-dependent op check, outside the timed region: `observe` after
  * the op must equal `expect` before it. */
final case class Check(expect: Env => String, observe: Env => String)

/** What an op sees besides the session: the data directory and the
  * run's seed-generated standing-index delta, if the workload has one. */
final case class Env(spark: SparkSession, data: String, delta: Option[Delta])

/** The standing-index append batch: a directory holding
  * `embeddings.parquet`, re-keyed copies of `vectors` corpus embeddings. */
final case class Delta(dir: String, vectors: Long)

/** A workload: the ops of one pass in canonical order, how a seed turns
  * them into the order of each pass of a run, and how many warm passes a
  * run times. */
trait Workload {
  def name: String
  /** the units of a pass: each runs its ops in order, and the seed
    * shuffles the units */
  def units: Seq[Seq[Op]]
  def ops: Seq[Op] = units.flatten
  /** warm passes every run times, whatever the program's speed, so a
    * faster program is measured on the same passes as a slower one */
  def warmPasses: Int
  /** resolve the run's generated inputs in `work`; timed as set-up */
  def prepare(spark: SparkSession, work: String): Option[Delta] = None
  /** the order of pass `pass` for `seed`. The cold pass (0) runs the
    * canonical order: its first line pays the JVM's first class loading
    * and compiling, which varies from line to line, so a drawn order
    * would make the cold pass time depend on the seed. Each warm pass
    * draws its own: a line runs slower early in a pass, after the
    * end-of-pass GCs, so one order for the whole run would tie a line's
    * latency to the seed. */
  def order(seed: Long, pass: Int): Seq[Op] =
    if (pass == 0) ops
    else new scala.util.Random(seed * 1009 + pass).shuffle(units).flatten
}

object Workloads {
  private lazy val registry = graft.SparkEntry.queries

  /** registry lookup by short id (`q01` → `q01_pricing_summary`) */
  def query(id: String, module: String, phase: String = "query"): Query = {
    val hits = registry.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"short id $id matches ${hits.mkString(",")}")
    Query(hits.head, module, phase, registry(hits.head))
  }

  /** Short star-schema queries, where fixed per-query cost (analysis, job
    * scheduling, scan set-up) dominates. One line from each sixth of the
    * warm-latency distribution of the 50 relational lines at this scale,
    * fastest first: a running window, a pivot, a rollup, an anti join, an
    * aggregate and a six-table join. A line takes about half a second, so
    * a run times six warm passes: six samples of each line. */
  object Relational extends Workload {
    val name = "relational"
    val units: Seq[Seq[Op]] = Seq("q17", "q20", "q19", "q09", "q01", "q82")
      .map(id => Seq(query(id, "queries")))
    val warmPasses = 6
  }

  /** LLM-data curation, one unit per module: a bigram language model
    * (q109, text), MinHash candidates verified by a similarity join (q59,
    * dedup), the triangle census (q123, graph), the dataset build (q96,
    * pipeline) and the IVF-PQ standing index (similarity) built, served,
    * appended to and compacted ([[StandingIndex]]). The heavier lines,
    * BPE (q112), connected components (q73), k-means (q133, q135) and
    * PageRank (q89, 5 to 6 s a warm line), would push a run past its
    * share of the benchmark's time budget. A warm pass takes about 11 s,
    * so a run times two. */
  object Curation extends Workload {
    val name = "curation"
    val units: Seq[Seq[Op]] = Seq(Seq(query("q109", "text")),
      Seq(query("q59", "dedup")), Seq(query("q123", "graph")),
      Seq(query("q96", "pipeline")), StandingIndex.ops)
    val warmPasses = 2
    override def prepare(spark: SparkSession, work: String): Option[Delta] =
      StandingIndex.prepare(spark, work)
  }

  val all: Seq[Workload] = Seq(Relational, Curation)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (have ${all.map(_.name).mkString(", ")})"))
}
