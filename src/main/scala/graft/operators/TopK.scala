package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/** Bounded top-k per key as a typed aggregation (SURVEY §4.2 TopKByKey).
  *
  * The `row_number() OVER (PARTITION BY key ORDER BY v)` formulation
  * shuffles EVERY candidate row to the key's reducer and sorts there; this
  * aggregator keeps a k-slot insertion buffer per key, so map-side partial
  * aggregation caps the exchange at k rows per key per mapper and no sort
  * ever happens — the difference between shuffling n² rows and k·n at
  * fleet scale.
  *
  * Ordering: ascending (v, id) — ties break by id for determinism,
  * matching the window formulation it replaces; NaN ranks after every
  * number, as in Spark's sort. Negate v for "largest k".
  */
object TopK {

  /** k-slot sorted buffer; ids/vs are parallel arrays of length k, first n valid. */
  case class Buf(var ids: Array[Long], var vs: Array[Double], var n: Int)

  /** Whether (v, id) ranks strictly before (w, jd): ascending v, ties by
    * id, and Spark's sort rule for NaN — after every number, all NaNs
    * tying. Numbers compare with plain `<` / `==`. */
  private def precedes(v: Double, id: Long, w: Double, jd: Long): Boolean =
    if (w.isNaN) !v.isNaN || id < jd
    else v < w || (v == w && id < jd)

  /** Inserts (v, id) into `b`, keeping its k = `b.ids.length` best in
    * ascending (v, id) order; a full buffer drops whatever ranks last.
    * The one k-slot insert of [[TopKAgg]] and the DTW k-NN cascade. */
  def insert(b: Buf, id: Long, v: Double): Unit = {
    val k = b.ids.length
    if (b.n == k && !precedes(v, id, b.vs(k - 1), b.ids(k - 1))) return
    // find insertion point (v, id) ascending, from the end
    var i = math.min(b.n, k - 1)
    while (i > 0 && precedes(v, id, b.vs(i - 1), b.ids(i - 1))) {
      b.vs(i) = b.vs(i - 1); b.ids(i) = b.ids(i - 1)
      i -= 1
    }
    b.vs(i) = v; b.ids(i) = id
    if (b.n < k) b.n += 1
  }

  class TopKAgg(k: Int) extends Aggregator[(Long, Long, Double), Buf, Buf]
      with Serializable {
    def zero: Buf = Buf(new Array[Long](k), new Array[Double](k), 0)

    def reduce(b: Buf, in: (Long, Long, Double)): Buf = { insert(b, in._2, in._3); b }
    def merge(a: Buf, b: Buf): Buf = {
      var i = 0
      while (i < b.n) { insert(a, b.ids(i), b.vs(i)); i += 1 }
      a
    }
    def finish(b: Buf): Buf = b
    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
  }

  /** Top-k rows per key from (key, id, v) — ascending v, ties by id.
    * Output: (key, rank [1-based], id, v). */
  def byKey(rows: DataFrame, k: Int,
            keyCol: String, idCol: String, vCol: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col(keyCol).cast("long"), col(idCol).cast("long"), col(vCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn)
      .flatMap { case (key, buf) =>
        (0 until buf.n).map(i => (key, i + 1, buf.ids(i), buf.vs(i)))
      }
      .toDF(keyCol, "rank", idCol, vCol)
  }
}
