package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** Hand-built signature rows with the doc ids `Signatures.compute`
    * gives them: the doc_id each row was built with is replaced by its
    * conv_id's rank from `Signatures.docIds`. */
  protected def withDocIds(sigs: Dataset[model.DocSig]): Dataset[model.DocSig] = {
    import spark.implicits._
    sigs.drop("doc_id").join(operators.Signatures.docIds(sigs.toDF()), "conv_id")
      .as[model.DocSig]
  }

  /** Runs `body` with the session's broadcast threshold set to `value`:
    * "-1" forces every size-gated dispatch to its shuffle branch, a large
    * value to its broadcast branch. */
  protected def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
