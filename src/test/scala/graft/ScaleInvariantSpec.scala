package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Scratch
import graft.tools.{Scale, ScaleCases}

/** Every scale-harness case at k = 1 and 2 on sf0.001. The closed-form
  * invariants live in the cases ([[graft.tools.Scale]]), so this runs
  * exactly what a hand run at any k asserts; the JSON lines the cases
  * print are swallowed.
  */
class ScaleInvariantSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val d = SharedSpark.testData()

  for (c <- ScaleCases.all(spark, d))
    test(s"${c.name} holds its invariants at k = 1 and 2") {
      Console.withOut(new java.io.ByteArrayOutputStream)(c.run(Seq(1, 2)))
    }

  test("write mode doubles every table and shifts ids onto disjoint copies") {
    val out = Scratch.dir("graft_scale_write")
    Console.withOut(new java.io.ByteArrayOutputStream)(
      Scale.write(spark, d, out, 2))
    for (t <- Scale.Tables) {
      val base = spark.read.parquet(s"$d/$t.parquet")
      val rep = spark.read.parquet(s"$out/$t.parquet")
      assert(rep.count() == 2 * base.count(), t)
      // copy 1's ids land past every copy-0 id: distinct ids double
      for (c <- Scale.WriteShift if base.columns.contains(c))
        assert(rep.select(col(c)).distinct().count() ==
          2 * base.select(col(c)).distinct().count(), s"$t.$c")
    }
  }
}
