package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Sum}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = sys.props("perfbench.data")
  private lazy val spark = {
    new java.io.File(sys.props("java.io.tmpdir")).mkdirs()
    graft.Sessions.local("perfbench-test", 2)
  }
  override def afterAll(): Unit = spark.stop()

  test("a throwing line and a wrong-result line are failures with no timing sample") {
    val good: (SparkSession, String) => DataFrame = (s, _) => s.range(100).toDF("id")
    val ops = Seq(
      Query("good", "queries", "query", good),
      Query("throws", "queries", "query", (_, _) => sys.error("doctored crash")),
      Query("wrong", "queries", "query", (s, _) => s.range(99).toDF("id")),
      IndexOp("append_wrong", "dedup", "append", _ => "",
        Some(Check(_ => "postings=2", _ => "postings=1"))))
    val recorded = Seq("good", "throws", "wrong")
      .map(_ -> Sink.run(good(spark, data)).digest).toMap
    val h = new Harness(Env(spark, data, None), _ => ops, recorded,
      new Trace(spark.sparkContext, "test"))
    val cold = h.pass(0, "cold")
    val warm = h.pass(1, "warm")

    assert(h.attempted == 8)
    assert(h.failures.map(f => (f.pass, f.op)).toSet == Set(
      0 -> "throws", 0 -> "wrong", 0 -> "append_wrong", 1 -> "throws",
      1 -> "wrong", 1 -> "append_wrong"))
    assert(h.failures.find(_.op == "throws").get.reason.contains("doctored crash"))
    // no timing sample from a failed op, no pass time from a failed pass
    assert(h.samples.map(s => (s.pass, s.op)) == Seq(0 -> "good", 1 -> "good"))
    assert(!cold.ok && !warm.ok)
  }

  test("the timed action keeps q01's decimal aggregates that count() prunes") {
    val helper = new AdaptiveSparkPlanHelper {}
    def decimalSums(plan: SparkPlan): Int = helper.collect(plan) {
      case a: BaseAggregateExec => a.aggregateExpressions.filter { e =>
        (e.mode == Final || e.mode == Complete) && (e.aggregateFunction match {
          case s: Sum => s.child.dataType.isInstanceOf[DecimalType]
          case _ => false
        })
      }
    }.flatten.size
    def q01 = Workloads.query("q01", "queries").fn(spark, data)

    // the harness's action: the frame's own executed plan, run whole
    val df = q01
    Sink.run(df)
    val timed = decimalSums(df.queryExecution.executedPlan)
    // sum_qty/avg_qty and sum_base_price/avg_price share one decimal sum
    // each, so the seven decimal aggregate columns need five sums
    assert(timed == 5)
    assert(df.columns.toSeq.containsSlice(Seq("sum_qty", "sum_base_price",
      "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc")))

    // the noop data source executes the same aggregates
    var noopPlan: SparkPlan = null
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = if (noopPlan == null) noopPlan = qe.executedPlan
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      q01.write.format("noop").mode("overwrite").save()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(decimalSums(noopPlan) == timed)

    // count() plans groupBy().count() over the frame: no decimal sum left
    assert(decimalSums(q01.groupBy().count().queryExecution.executedPlan) == 0)
  }
}
