package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession fixture for operator specs. */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the session Verify and Bench run: GraftSession's confs, so the
    // kernel SQL functions + the DeriveBucketFilter pruning rule (a
    // no-op unless spark.graft.ts.bucketUs is set) are loaded
    val s = LocalSession.builder(4, 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
