package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.RuntimeFilter

/** Bloom-prefiltered join (ops/RuntimeFilter): the final answer must
  * equal the plain join exactly (no false negatives), and the
  * pre-filter must actually shed probe rows under a selective build
  * predicate — the property that makes it a runtime filter and not a
  * no-op.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val d = SharedSpark.testData()

  test("bloom-prefiltered join == plain join; prefilter sheds rows") {
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    val build = spark.read.parquet(s"$d/supplier.parquet")
      .filter(col("s_nationkey") === 5).select("s_suppkey")
    val plain = li.join(build, col("l_suppkey") === col("s_suppkey"))
      .select("l_orderkey", "l_linenumber").collect().toSet
    val filtered = RuntimeFilter
      .bloomFilteredJoin(li, "l_suppkey", build, "s_suppkey")
      .select("l_orderkey", "l_linenumber").collect().toSet
    assert(filtered === plain)
    val total = li.count()
    val pre = RuntimeFilter
      .bloomPrefilter(li, "l_suppkey", build, "s_suppkey").count()
    assert(pre >= plain.size.toLong,
      "bloom dropped a matching row (false negative — impossible)")
    assert(pre < total,
      s"prefilter shed nothing: $pre of $total rows passed")
  }
}
