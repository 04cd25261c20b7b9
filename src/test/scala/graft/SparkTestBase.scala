package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (JVM-forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Dev.session(4, 4, "tjk-tests")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  def turnsDf(turns: Seq[graft.tjk.Turn]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.createDataset(turns).toDF()
      .withColumn("value", length(col("text")).cast("double"))
  }
}
