package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TsFunctions
import graft.kernels.Kernels
import graft.kernels.Kernels.uni

/** The SQL surface `TsFunctions.register` installs: each registered name,
  * called from SQL on one small input, returns exactly what its Column
  * UDF returns, and the table covers every name the registration adds.
  * The GAK names also match `Kernels.gak` / `logUnnormalizedGak` bit for
  * bit. */
class SqlSurfaceSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private val a = Array(0.0, 1.0, 2.5, 1.0, -0.5, 0.75)
  private val b = Array(0.5, 2.0, 2.0, 0.0, 1.5)
  private val c = Array(1.5, -1.0, 0.5, 2.0, 0.25, 1.0)
  private val q = Array(1.0, 2.5, 1.0)
  private val am = Array(Array(0.0, 1.0), Array(1.0, 2.0), Array(2.5, 0.5), Array(1.0, 1.0))
  private val bm = Array(Array(0.5, 1.0), Array(2.0, 2.0), Array(0.0, 0.0))
  private val cm = Array(Array(1.0, 0.0), Array(0.5, 1.5), Array(2.0, 1.0), Array(0.0, 2.5))
  private val sa = Array(0, 1, 3, 2)
  private val sb = Array(1, 1, 0, 3)

  private lazy val input = Seq((a, b, c, q, am, bm, cm, sa, sb))
    .toDF("a", "b", "c", "q", "am", "bm", "cm", "sa", "sb")

  private def d(v: Double) = lit(v)
  private def i(v: Int) = lit(v)

  /** (SQL name, SQL arguments, the same call through the Column UDF). */
  private val table: Seq[(String, String, Column)] = {
    import TsFunctions._
    val (ca, cb, cc, cq) = (col("a"), col("b"), col("c"), col("q"))
    val (cam, cbm, ccm) = (col("am"), col("bm"), col("cm"))
    Seq(
      ("ts_dtw", "a, b", dtwUdf(ca, cb)),
      ("ts_dtw_mv", "am, bm", dtwMvUdf(cam, cbm)),
      ("ts_euclidean_mv", "am, cm", euclideanMvUdf(cam, ccm)),
      ("ts_lcss_mv", "am, bm, 0.75D", lcssMvUdf(cam, cbm, d(0.75))),
      ("ts_gak_mv", "am, bm, 1.5D", gakMvUdf(cam, cbm, d(1.5))),
      ("ts_softdtw_mv", "am, bm, 0.5D", softDtwMvUdf(cam, cbm, d(0.5))),
      ("ts_sbd_mv", "am, cm", sbdMvUdf(cam, ccm)),
      ("ts_dtw_sakoe", "a, b, 2", dtwSakoeUdf(ca, cb, i(2))),
      ("ts_dtw_itakura", "a, b, 2.0D", dtwItakuraUdf(ca, cb, d(2.0))),
      ("ts_euclidean", "a, c", euclideanUdf(ca, cc)),
      ("ts_sqeuclidean", "a, c", sqEuclideanUdf(ca, cc)),
      ("ts_lcss", "a, b, 0.75D", lcssUdf(ca, cb, d(0.75))),
      ("ts_lcss_path", "a, b, 0.75D", lcssPathUdf(ca, cb, d(0.75))),
      ("ts_ctw", "a, b", ctwUdf(ca, cb)),
      ("ts_softdtw_alignment", "a, b, 0.5D", softDtwAlignmentValueUdf(ca, cb, d(0.5))),
      ("ts_gak", "a, b, 1.5D", gakUdf(ca, cb, d(1.5))),
      ("ts_log_gak", "a, b, 1.5D", logGakUdf(ca, cb, d(1.5))),
      ("ts_softdtw", "a, b, 0.5D", softDtwUdf(ca, cb, d(0.5))),
      ("ts_softdtw_grad", "a, b, 0.5D", softDtwGradUdf(ca, cb, d(0.5))),
      ("ts_sbd", "a, c", sbdUdf(ca, cc)),
      ("ts_lb_keogh", "a, c, 1", lbKeoghUdf(ca, cc, i(1))),
      ("ts_dtw_subseq", "q, a", dtwSubseqUdf(cq, ca)),
      ("ts_dtw_subseq_match", "q, a", dtwSubseqMatchUdf(cq, ca)),
      ("ts_ldtw", "a, b, 8", ldtwUdf(ca, cb, i(8))),
      ("ts_matrix_profile", "a, 3, true", matrixProfileUdf(ca, i(3), lit(true))),
      ("ts_sax", "a, 3, 4", saxUdf(ca, i(3), i(4))),
      ("ts_sax_mindist", "sa, sb, 4, 8", saxMindistUdf(col("sa"), col("sb"), i(4), i(8))),
      ("ts_resample", "a, 9", resampleUdf(ca, i(9))),
      ("ts_znorm", "a", znormUdf(ca)),
      ("ts_minmax", "a", minmaxUdf(ca)),
      ("ts_resample_znorm", "a, 9", resampleZnormUdf(ca, i(9))))
  }

  private def sqlValue(name: String, args: String): Any = {
    input.createOrReplaceTempView("sql_surface")
    spark.sql(s"SELECT $name($args) FROM sql_surface").head().get(0)
  }

  test("the table covers every name TsFunctions.register adds") {
    // a new session starts with the built-in functions only
    val fresh = spark.newSession()
    def names = fresh.catalog.listFunctions().collect().map(_.name).toSet
    val builtIn = names
    TsFunctions.register(fresh)
    assert(names -- builtIn == table.map(_._1).toSet)
    assert(table.size == 31)
  }

  test("each SQL name returns what its Column UDF returns") {
    TsFunctions.register(spark)
    for ((name, args, udfCall) <- table) {
      val want = input.select(udfCall).head().get(0)
      assert(sqlValue(name, args) == want, s"$name($args)")
    }
  }

  test("ts_gak, ts_log_gak and ts_gak_mv match the kernels bit for bit") {
    TsFunctions.register(spark)
    def same(got: Any, want: Double) =
      java.lang.Double.doubleToRawLongBits(got.asInstanceOf[Double]) ==
        java.lang.Double.doubleToRawLongBits(want)
    assert(same(sqlValue("ts_gak", "a, b, 1.5D"), Kernels.gak(uni(a), uni(b), 1.5)))
    assert(same(sqlValue("ts_log_gak", "a, b, 1.5D"),
      Kernels.logUnnormalizedGak(uni(a), uni(b), 1.5)))
    assert(same(sqlValue("ts_gak_mv", "am, bm, 1.5D"), Kernels.gak(am, bm, 1.5)))
  }
}
