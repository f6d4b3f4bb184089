package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The engine's custom SQL functions as ONE (name, builder) table. Both
  * registration paths derive from it: [[registerAll]] (per session — the
  * operator library calls it lazily, so the library stays drop-in) and
  * [[graft.GraftExtensions]] (`spark.sql.extensions`, which survives into
  * pure-SQL contexts such as the thrift server or spark-sql shell).
  */
object GraftFunctions {

  final case class Fn(name: String, cls: Class[_ <: Expression],
      arity: Int, build: Seq[Expression] => Expression) {
    /** The registry builder: arity-checked, so a wrong call fails at
      * analysis with the function's name instead of an index error.
      */
    def builder(exprs: Seq[Expression]): Expression = {
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      build(exprs)
    }
  }

  val table: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], 2, e => DotProduct(e(0), e(1))),
    Fn("graft_l2", classOf[L2Distance], 2, e => L2Distance(e(0), e(1))),
    Fn("graft_md5long", classOf[Md5Long], 1, e => Md5Long(e(0))),
    Fn("graft_kmv", classOf[KmvSketch], 2, e => KmvSketch(e(0), e(1))),
    Fn("graft_cms", classOf[CmsSketch], 2, e => CmsSketch(e(0), e(1))),
    Fn("graft_hll", classOf[HllSketch], 2, e => HllSketch(e(0), e(1))),
    Fn("graft_bloom", classOf[BloomSketch], 3,
      e => BloomSketch(e(0), e(1), e(2))),
    Fn("graft_qsketch", classOf[QuantileSketch], 3,
      e => QuantileSketch(e(0), e(1), e(2))),
    Fn("graft_boot_fold", classOf[BootstrapFold], 3,
      e => BootstrapFold(e(0), e(1), e(2))))

  def registerAll(s: SparkSession): Unit =
    table.foreach(f => s.sessionState.functionRegistry
      .createOrReplaceTempFunction(f.name, f.builder, "built-in"))
}
