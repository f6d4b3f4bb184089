package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}

/** Gate-output contract: the driver's correctness comparator sorts rows
  * with pandas and crashes on ARRAY/MAP/STRUCT cells (round-9 lesson:
  * three gates shipped raw arrays and erred on the driver while passing
  * the repo's more-lenient local replay). Every gated query must emit
  * scalar columns only — list-shaped results leave as `to_json` (or a
  * fixed-scale decimal-string CSV for doubles, whose JSON formatting is
  * engine-dependent). The same rule is enforced at replay time by
  * tools/crosscheck.py; this spec catches it at `sbt test` time, before
  * any dump exists.
  *
  * Construction runs at sf0.001; a handful of gates execute real jobs at
  * DataFrame-construction time (Word2Vec training, BPE merge learning,
  * iterative graph ops) — cheap at this scale and their schemas must be
  * checked like any other gate's, so nothing is skipped.
  */
class GateOutputContractSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val d = SharedSpark.testData()

  /** A gate-output field the driver's comparator can't hash stably:
    * ARRAY/MAP/STRUCT crash its pandas row sort (round-9 lesson), and
    * DECIMAL renders engine-dependently — Spark types a bare `2.0`
    * literal in a raw SQL expr as DECIMAL(2,1), so a bigint/2.0 chain
    * emits DECIMAL where the DuckDB oracle emits DOUBLE; identical
    * values, different parquet renders, driver hash mismatch (the r10
    * a_mann_whitney failure). Gate outputs must be double/bigint/
    * string/timestamp/boolean only.
    */
  private def banned(f: org.apache.spark.sql.types.StructField): Boolean =
    f.dataType.isInstanceOf[ArrayType] ||
      f.dataType.isInstanceOf[MapType] ||
      f.dataType.isInstanceOf[StructType] ||
      f.dataType.isInstanceOf[DecimalType]

  test("no gate emits a top-level ARRAY/MAP/STRUCT/DECIMAL column") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        q(spark, d).schema.fields.collect {
          case f if banned(f) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      "gates emitting driver-incomparable complex-typed columns " +
        s"(serialize with to_json / cast decimals to double at the " +
        s"query boundary):\n  " + offenders.mkString("\n  "))
  }

  test("the contract flags a deliberately DECIMAL-emitting fixture " +
      "(the a_mann_whitney class cannot recur silently)") {
    import org.apache.spark.sql.functions.expr
    val fixture = spark.range(1)
      .select(expr("id / 2.0").as("u"),   // bare 2.0 literal → DECIMAL
        expr("cast(id as double) / 2.0").as("ok"))
    val flagged = fixture.schema.fields.filter(banned).map(_.name).toSeq
    assert(flagged === Seq("u"),
      s"decimal-literal division must be flagged, double must not: " +
        fixture.schema.simpleString)
  }
}
