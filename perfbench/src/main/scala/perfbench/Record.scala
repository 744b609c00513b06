package perfbench

/** Records the expected outputs the benchmark checks against. It dumps
  * every query op of every workload with `graft.Verify` (the full result
  * as parquet under `<out>/<name>`, plus `oracle_sql.json`: the layout
  * `tools/validate_oracle.py` compares against DuckDB), then digests each
  * dump with the benchmark's own sink; for every ingest op it records the
  * count summary.
  *
  * Usage: perfbench.Record <dataDir> <outDir>   (writes <outDir>/digests.tsv)
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val ops = Workloads.all.flatMap(_.ops).distinctBy(_.name)
    val queries = ops.collect { case q: Query => q.name }
    graft.Verify.main(Array(data, out, queries.mkString(",")))
    val spark = graft.Sessions.local("perfbench-record")
    val env = Env(spark, data, None)
    val lines = ops.collect {
      case q: Query =>
        q.name -> Sink.run(spark.read.parquet(s"$out/${q.name}")).digest
      case i: IndexOp if i.phase == "ingest" => i.name -> i.fn(env)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/digests.tsv"),
      lines.map { case (k, v) => s"$k\t$v\n" }.mkString)
    lines.foreach { case (k, v) => println(s"$k\t$v") }
    spark.stop()
  }
}
