package graft

import graft.ops.{Folds, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd native expressions (graft_ema / graft_autocorr1 /
  * graft_dotf) must be bit-identical to the composed higher-order-function
  * forms they replaced — same IEEE ops in the same order.
  */
class FoldParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val series = (1 to 300).map(_ => Seq.fill(1 + rnd.nextInt(40))(rnd.nextDouble() * 200 - 50))

  test("graft_ema == aggregate() fold on 300 random series") {
    val df = series.toDF("xs")
    val got = df
      .select(Folds.emaLR(col("xs"), 9), Folds.emaLRHof(col("xs"), 9))
      .as[(Double, Double)]
      .collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_autocorr1 == composed fold on 300 random series") {
    val df = series.toDF("xs")
    val got = df
      .select(Folds.autocorrLag1(col("xs"), 1e-6), Folds.autocorrLag1Hof(col("xs"), 1e-6))
      .as[(Double, Double)]
      .collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_dotf == composed fold on random float vectors") {
    val vecs = (1 to 100).map { _ =>
      (Seq.fill(64)(rnd.nextFloat() * 2 - 1), Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val got = vecs
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")), Folds.dotHof(col("a"), col("b")))
      .as[(Double, Double)]
      .collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_autocorr1 over a NaN gives NaN on both paths, as the DuckDB oracle does") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val xs = Array(1.0, 2.5, Double.NaN, 4.0)
    val ac = graft.functions.AutocorrLag1(BoundReference(0, ArrayType(DoubleType), nullable = true), Literal(1e-6))
    val row = InternalRow(ArrayData.toArrayData(xs))
    val interpreted = ac.eval(row).asInstanceOf[Double]
    val generated = GenerateUnsafeProjection.generate(Seq(ac)).apply(row).getDouble(0)
    assert(interpreted.isNaN, s"interpreted: $interpreted")
    assert(generated.isNaN, s"generated: $generated")

    assume(graft.sinks.DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val list = xs.map(x => if (x.isNaN) "'nan'::DOUBLE" else s"${x}::DOUBLE").mkString("[", ", ", "]")
    val oracle = graft.sinks.DuckDbLive.withConnection("") { c =>
      graft.sinks.DuckDbLive.queryRow(c,
        s"SELECT ${graft.oracle.OracleSql.autocorrLag1("l")} FROM (SELECT $list AS l)")(0)
    }
    assert(oracle.asInstanceOf[Number].doubleValue.isNaN, s"oracle: $oracle")
  }

  test("native expressions survive both codegen and interpreted eval") {
    // interpreted path: eval() via a filter on a literal-backed row
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("xs")
    val v = df.select(Folds.emaLR(col("xs"), 9)).as[Double].head()
    val k = 2.0 / 10.0
    val expect = (1.0 * (1 - k) + 2.0 * k) * (1 - k) + 3.0 * k
    assert(v == expect)
  }
}
