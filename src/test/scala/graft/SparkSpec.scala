package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the mains' [[Sessions]] config
  * on 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Order-insensitive row compare, like the reference's sorted-JSON
    * equality (reference PivotTest.java:375-384). */
  def assertRowsMatch(df: DataFrame, expected: Seq[Row]): Unit = {
    val got = df.collect().map(_.toString).sorted.toSeq
    val exp = expected.map(_.toString).sorted
    assert(got == exp, s"\ngot:      $got\nexpected: $exp")
  }

  def fieldTypes(df: DataFrame): Map[String, String] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
