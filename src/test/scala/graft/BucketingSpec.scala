package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing: when both join sides are bucketed +
  * sorted on the join key, the sort-merge join needs NO shuffle — the
  * 100 TB answer for repeated large-large joins on a stable key. */
class BucketingSpec extends SparkSpec {

  test("bucketed lineitem ⋈ orders joins without a shuffle") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    // the in-memory catalog is fresh each JVM but the warehouse dir
    // persists — clear stale locations from previous runs
    for (t <- Seq("b_lineitem", "b_orders")) {
      val d = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(d)
      }
    }
    Tables(spark, sf0001, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    Tables(spark, sf0001, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")

    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    val joinSection = plan // initial AQE plan: exchanges visible if present
    assert(joinSection.contains("SortMergeJoin") || joinSection.contains("ShuffledHashJoin")
      || joinSection.contains("BroadcastHashJoin"))
    // the join itself must not reshuffle its bucketed inputs: the only
    // allowed exchange is the one ABOVE the join for the final groupBy
    val beforeAgg = plan.split("HashAggregate").last
    assert(!beforeAgg.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")

    // and the result matches the unbucketed join
    val expected = Tables(spark, sf0001, "lineitem")
      .join(Tables(spark, sf0001, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    assert(joined.except(expected).count() == 0 &&
      expected.except(joined).count() == 0)
  }

  test("bucketedTable sweeps dead builders' dirs from the session's warehouse") {
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val deadPid = Iterator.from(4000000).find(p => java.lang.ProcessHandle.of(p).isEmpty).get
    val stale = new java.io.File(warehouse, s"sweep_probe_${deadPid}_1")
    new java.io.File(stale, "part-0").mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val t = graft.queries.Qh.bucketedTable(spark, "sweep_probe", sf0001, 2, Seq("id")) {
      spark.range(10).toDF("id")
    }
    assert(t.count() == 10)
    assert(!stale.exists(), s"stale dir $stale survived the sweep")
  }
}
