package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The dispatch figures of the traced run are read from executed plans. */
class PlansSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[1]").appName("PlansSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Executes `df` the way the traced run does and returns the plan that ran. */
  private def ran(df: org.apache.spark.sql.DataFrame) = {
    df.localCheckpoint(true)
    df.queryExecution.executedPlan
  }

  test("a broadcast join and a shuffled hash join are told apart") {
    val l = spark.range(100).withColumnRenamed("id", "k")
    val r = spark.range(50).withColumnRenamed("id", "k")
    assert(Plans.joins(ran(l.join(r.hint("broadcast"), "k"))) == ((1, 0)))
    assert(Plans.joins(ran(l.join(r.hint("shuffle_hash"), "k")))._2 == 1)
  }

  test("the span trigger count is the row count of the need_span filter") {
    val pass1 = spark.range(100).select(col("id"),
      struct((col("id") % 4 === 0).as("need_span")).as("ev")).localCheckpoint(true)
      .select(col("id"), col("ev.need_span").as("need_span"))
    val both = pass1.filter(!col("need_span")).unionByName(pass1.filter(col("need_span")))
    assert(Plans.spanTriggered(ran(both)).contains(25L))
    assert(Plans.spanTriggered(ran(pass1.filter(!col("need_span")))).isEmpty)
  }
}
