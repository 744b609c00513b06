package perfbench

import graft.ops.Scratch
import graft.similarity.IvfPq
import org.apache.spark.sql.SparkSession

/** Build-then-serve on the IVF-PQ index, one unit of the curation
  * workload: each pass ingests it (training the IVF centroids and PQ
  * codebooks) into a fresh scratch generation, serves q129 from it,
  * appends the seed's delta and compacts.
  *
  * The append and the compaction are checked on every pass: afterwards
  * the index must hold what it held before plus exactly the delta's
  * vectors. */
object StandingIndex {
  private def root(e: Env) = Scratch.root(e.spark, e.data, "ivfpq")
  private def vectors(e: Env) = e.spark.read.parquet(root(e)).count()
  private def deltaVecs(e: Env) =
    e.spark.read.parquet(s"${e.delta.get.dir}/embeddings.parquet")

  val ingest: Op = IndexOp("x5_ingest_ivfpq", "similarity", "ingest",
    e => s"vectors=${IvfPq.ivfPqIngest(e.spark, e.data)._3}")
  val serve: Op = Workloads.query("q129", "similarity", "serve")
  val append: Op = IndexOp("a1_append_ivfpq", "similarity", "append",
    e => { IvfPq.ivfPqAppend(deltaVecs(e), root(e)); "" },
    Some(Check(e => s"vectors=${vectors(e) + e.delta.get.vectors}",
      e => s"vectors=${vectors(e)}")))
  // compaction rewrites the index without changing what it holds
  val compact: Op = IndexOp("a2_compact_ivfpq", "similarity", "append",
    e => { IvfPq.ivfPqCompact(e.spark, root(e)); "" },
    Some(Check(e => s"vectors=${vectors(e)}", e => s"vectors=${vectors(e)}")))

  /** one op per phase, in lifecycle order; the seed draws the delta */
  val ops: Seq[Op] = Seq(ingest, serve, append, compact)

  /** The delta batch, generated from the seed before the JVM starts
    * (`run.py`): `embeddings.parquet` and its row count in `vectors.txt`.
    * Set-up resolves the table. */
  def prepare(spark: SparkSession, work: String): Option[Delta] = {
    val dir = s"$work/delta"
    val vectors = scala.io.Source.fromFile(s"$dir/vectors.txt", "UTF-8")
      .mkString.trim.toLong
    spark.read.parquet(s"$dir/embeddings.parquet").schema
    Some(Delta(dir, vectors))
  }
}
