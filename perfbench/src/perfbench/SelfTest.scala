package perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Checks span-to-job attribution on a live SparkContext: jobs land on the
  * innermost span of the thread that submitted them, a job group set by
  * the code under a span does not disturb that, spans on another thread
  * stay separate, and jobs outside any span land on span 0. */
object SelfTest {
  def run(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new SpanListener
    sc.addSparkListener(listener)
    tracer.span("outer", 1) {
      spark.range(1000).count()
      tracer.span("inner", 1) {
        sc.setJobGroup("engine-group", "set by the code under test")
        spark.range(1000).repartition(3).count()
        sc.clearJobGroup()
      }
      spark.range(10).count()
    }
    val other = new Thread(() => tracer.span("other", 2)(spark.range(100).count()))
    other.start()
    other.join()
    spark.range(5).count()
    listener.drain()
    sc.removeSparkListener(listener)

    val id = tracer.spans.map(s => s.name -> s.id).toMap
    val got = listener.jobSpans.asScala.toSeq.sortBy(_._1).map(_._2.longValue)
    val want = Seq(id("outer"), id("inner"), id("outer"), id("other"), 0L)
    val innerTasks = listener.stageAggs.filter(_.span == id("inner")).map(_.tasks).sum
    val nested = tracer.spans.find(_.name == "inner").exists(_.parent == id("outer"))
    val ok = got == want && innerTasks >= 4 && nested
    println(s"selftest jobs=$got want=$want inner_tasks=$innerTasks nested=$nested " +
      (if (ok) "OK" else "FAILED"))
    if (ok) 0 else 1
  }
}
