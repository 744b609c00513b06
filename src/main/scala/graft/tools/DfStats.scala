package graft.tools

import graft.{Sessions, Tables}
import org.apache.spark.sql.functions._

/** Posting-statistics probe behind the similarity-join dispatch constant:
  * prints, for a documents dir (optionally with the hot-gram transform
  * applied: one fixed 3-token phrase prepended to every doc), the exact posting-join cost Σ_g df·(df−1)/2 (pair
  * rows the posting-count plan materializes), total postings Σ_g df, the
  * max df, and the pair-rows/postings ratio the dispatch thresholds on.
  *
  * Usage: runMain graft.tools.DfStats <sfDir>[,<sfDir>...] [hotgram]
  */
object DfStats {
  def main(args: Array[String]): Unit = {
    val dirs = args.headOption.getOrElse("localdata/sf1").split(",").toSeq
    val hot = args.lift(1).contains("hotgram")
    val spark = Sessions.local("graft-df-stats")
    spark.sparkContext.setLogLevel("WARN")
    for (d <- dirs) {
      val base = Tables.documents(spark, d)
      val docs = if (!hot) base else base.withColumn("text",
        concat(lit("aqa bqb cqc "), col("text")))
      val sets = docs
        .withColumn("toks", graft.text.Text.tokens)
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          graft.functions.exprs.gram3SetSorted(col("toks")).as("hs"))
      val r = sets.select(explode(col("hs")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * (col("df") - 1) / 2).as("pair_rows"),
          sum(col("df")).as("postings"), max(col("df")).as("max_df"),
          count(lit(1)).as("distinct_grams"))
        .head
      val pairRows = r.getDouble(0); val postings = r.getLong(1)
      println(f"DFSTATS dir=$d hot=$hot pair_rows=${pairRows.toLong} " +
        f"postings=$postings max_df=${r.getLong(2)} grams=${r.getLong(3)} " +
        f"ratio=${pairRows / postings}%.2f")
    }
    spark.stop()
  }
}
