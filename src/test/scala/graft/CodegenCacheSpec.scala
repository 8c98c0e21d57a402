package graft

import org.apache.spark.sql.functions.col

/** The generated-class cache holds more than Spark's default 100 entries:
  * a repeated pass over more distinct whole-stage plans than that compiles
  * nothing the second time. At the default cap the LRU evicts every class
  * before its next use and the second round recompiles all of them. */
class CodegenCacheSpec extends SparkSpec {

  test("a second round over 150 distinct whole-stage plans compiles nothing") {
    // each literal multiplier is inlined into its own generated class
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(10).select(col("id") * i).write.format("noop").mode("overwrite").save()
    }
    val c0 = Bench.codegenCompiles
    round()
    val c1 = Bench.codegenCompiles
    round()
    assert(c1 - c0 >= 150, s"first round compiled only ${c1 - c0} classes")
    assert(Bench.codegenCompiles - c1 == 0)
  }
}
