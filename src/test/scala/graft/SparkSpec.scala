package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite pays Spark startup once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.language.implicitConversions
  implicit def sparkImplicits: SparkSession = spark

  /** Whether computing `df` would read a data source: a relation in the
    * optimized plan or a file scan in the physical plan. */
  def readsFiles(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.optimizedPlan.collectWithSubqueries { case r: LogicalRelation => r }.nonEmpty ||
      qe.sparkPlan.collectWithSubqueries { case s: FileSourceScanExec => s }.nonEmpty
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
