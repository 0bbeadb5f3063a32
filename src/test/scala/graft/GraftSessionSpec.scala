package graft

import org.apache.spark.sql.functions._

/** The harness session factory: every suite runs on `GraftSession(4)`
  * (SparkSpec), so its settings are the ones Bench, Verify and Explain
  * run with.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession: local[cpus], one shuffle partition per core, AQE sized by bytes, UTC, no UI") {
    // getOrCreate: the factory hands back the shared session, not a second one
    assert(GraftSession(4) eq spark)
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(java.util.TimeZone.getDefault.getID == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("GraftSession: GraftExtensions rewrite the builtin hash chain to native Hash60") {
    val df = spark.range(3).select(
      graft.functions.PortableHash.hash60Builtin(col("id").cast("string")).as("h"))
    val plan = df.queryExecution.optimizedPlan
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.functions.Hash60]))),
      s"NativeHashRewrite missing from the optimized plan:\n$plan")
  }
}
