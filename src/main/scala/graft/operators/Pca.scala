package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column — the dimensionality
  * reduction step an embedding pipeline runs before ANN indexing /
  * visualization / whitening. Not a tslearn surface (tslearn defers to
  * sklearn's PCA); included as a first-class pipeline operator.
  *
  * 100 TB shape: ONE pass over the data with a moment aggregator whose
  * buffer is d + d(d+1)/2 doubles (count, per-dim sums, upper-triangle
  * second moments) — map-side combined, cluster-size independent, no
  * shuffle wider than the d²-bounded buffer. The d×d eigensolve runs on
  * the driver (trivial at embedding dims), and the projection is a
  * broadcast-literal codegen'd expression — map-only, no UDF.
  *
  * Determinism contract (the oracle replays every step): power
  * iteration from the shared ramp init ([[graft.ml.DistributedBary
  * .powerInit]] semantics), `steps` matvec+normalize rounds per
  * component, Rayleigh eigenvalue, sign fixed by the dot with the
  * per-dim SUM vector, and Hotelling deflation C ← C − λ v vᵀ between
  * components. */
object Pca {

  case class MomentBuf(var n: Long, var sums: Array[Double],
                       var prods: Array[Double])

  /** Packed upper-triangle index for (i, j) with i <= j. */
  private def tri(d: Int, i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)

  class MomentAgg(d: Int)
      extends Aggregator[Array[Float], MomentBuf, MomentBuf] with Serializable {
    def zero: MomentBuf =
      MomentBuf(0L, new Array[Double](d), new Array[Double](d * (d + 1) / 2))
    def reduce(b: MomentBuf, x: Array[Float]): MomentBuf = {
      var i = 0
      while (i < d) {
        val xi = x(i).toDouble
        b.sums(i) += xi
        var j = i
        var t = tri(d, i, i)
        while (j < d) { b.prods(t) += xi * x(j); j += 1; t += 1 }
        i += 1
      }
      b.n += 1
      b
    }
    def merge(a: MomentBuf, b: MomentBuf): MomentBuf = {
      var i = 0
      while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
      i = 0
      while (i < a.prods.length) { a.prods(i) += b.prods(i); i += 1 }
      a.n += b.n
      a
    }
    def finish(b: MomentBuf): MomentBuf = b
    def bufferEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
    def outputEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
  }

  case class Model(mean: Array[Double], comps: Array[Array[Double]],
                   eigs: Array[Double], n: Long)

  /** Fit top-k principal components. Population covariance
    * C_ij = E[x_i x_j] − μ_i μ_j from the one-pass moments; per
    * component: `steps` power-method updates from the ramp init,
    * Rayleigh λ = vᵀCv, sign flip iff (Σ_r x_r)·v < 0, then deflate. */
  def fit(df: DataFrame, vecCol: String = "embedding", k: Int = 2,
          steps: Int = 60): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(vecCol))).head().getInt(0)
    val buf = df.select(col(vecCol)).as[Array[Float]]
      .select(new MomentAgg(d).toColumn).head()
    val n = buf.n.toDouble
    val mean = buf.sums.map(_ / n)
    // full (mirrored) covariance for the matvec
    val c = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = buf.prods(tri(d, i, j)) / n - mean(i) * mean(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1
      }
      i += 1
    }
    val comps = new Array[Array[Double]](k)
    val eigs = new Array[Double](k)
    var comp = 0
    while (comp < k) {
      val v = graft.ml.DistributedBary.powerInit(d)
      var t = 0
      while (t < steps) {
        val w = new Array[Double](d)
        i = 0
        while (i < d) {
          var s = 0.0
          var j = 0
          while (j < d) { s += c(i)(j) * v(j); j += 1 }
          w(i) = s
          i += 1
        }
        var n2 = 0.0
        i = 0
        while (i < d) { n2 += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(n2)
        if (nrm > 0) { i = 0; while (i < d) { v(i) = w(i) / nrm; i += 1 } }
        t += 1
      }
      var lam = 0.0
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { lam += v(i) * c(i)(j) * v(j); j += 1 }
        i += 1
      }
      var dot = 0.0
      i = 0
      while (i < d) { dot += buf.sums(i) * v(i); i += 1 }
      val signed = if (dot < 0) v.map(-_) else v
      comps(comp) = signed
      eigs(comp) = lam
      // Hotelling deflation (sign-invariant: v vᵀ = (−v)(−v)ᵀ)
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { c(i)(j) -= lam * signed(i) * signed(j); j += 1 }
        i += 1
      }
      comp += 1
    }
    Model(mean, comps, eigs, buf.n)
  }

  /** Project `vecCol` onto the fitted components as codegen'd
    * broadcast-literal expressions — pc_c = Σ_j (x_j − μ_j) v_cj,
    * divided by √λ_c when `whiten` (unit variance per component — the
    * standard normalization before cosine ANN / OPQ). Map-only:
    * pipelines into whatever scan feeds it. */
  def project(df: DataFrame, model: Model, vecCol: String = "embedding",
              whiten: Boolean = false): DataFrame = {
    val cen = zip_with(col(vecCol), typedLit(model.mean),
      (x, m) => x.cast("double") - m)
    model.comps.zipWithIndex.foldLeft(df) { case (acc, (v, c)) =>
      val proj = aggregate(zip_with(cen, typedLit(v.toSeq), (a, b) => a * b),
        lit(0.0), (s, x) => s + x)
      acc.withColumn(s"pc${c + 1}",
        if (whiten) proj / math.sqrt(model.eigs(c)) else proj)
    }
  }
}
