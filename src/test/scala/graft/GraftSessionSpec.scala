package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOf, AsOfJoinStrategy, GraftSqlParser, RangeJoinRewrite}

/** [[GraftSession.install]]: nothing in a session built with the
  * extensions, exactly the functions, the as-of strategy and the range
  * rewrite — once — in a plain one. */
class GraftSessionSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  private def wrongArity(s: SparkSession): AnalysisException =
    intercept[AnalysisException] {
      s.sql("SELECT mqtt_matches('a/+')").collect()
    }

  /** Run each graded query whose body calls `install`. */
  private def runInstallers(s: SparkSession): Unit = {
    SparkEntry.queries("range_join_auto")(s, sf).collect()
    SparkEntry.queries("cdc_sql_route")(s, sf).collect()
    val a = s.range(0, 10).select(col("id").as("k"), (col("id") * 10).as("t"))
    val b = s.range(0, 5).select(col("id").as("rk"), (col("id") * 10 - 5).as("rt"))
    AsOf.join(a, b, Seq("k"), Seq("rk"), "t", "rt").collect()
  }

  test("a wrong argument count stays WRONG_NUM_ARGS after cdc_sql_route " +
       "in an extensions session") {
    SparkEntry.queries("cdc_sql_route")(spark, sf).collect()
    assert(wrongArity(spark).getCondition.startsWith("WRONG_NUM_ARGS"))
  }

  test("a wrong argument count is WRONG_NUM_ARGS in a plain session after install") {
    withPlainSession { plain =>
      GraftSession.install(plain)
      assert(wrongArity(plain).getCondition.startsWith("WRONG_NUM_ARGS"))
    }
  }

  test("install adds nothing to an extensions session") {
    runInstallers(spark)
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("install gives a plain session the strategy and the rewrite once, " +
       "keeps a function already registered, and adds no parser") {
    withPlainSession { plain =>
      plain.udf.register("dot_product", (_: Seq[Double], _: Seq[Double]) => -1.0)
      GraftSession.install(plain)
      runInstallers(plain)
      GraftSession.install(plain)
      assert(plain.experimental.extraStrategies === Seq(AsOfJoinStrategy))
      assert(plain.experimental.extraOptimizations === Seq(RangeJoinRewrite))
      assert(plain.sql("SELECT dot_product(array(1d), array(2d))").head().getDouble(0) === -1.0)
      assert(plain.sql("SELECT mqtt_matches('cdc/#', 'cdc/a/b')").head().getBoolean(0))
      assert(!plain.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    }
  }
}
