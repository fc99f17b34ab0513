package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kernels.{Kernels, Ncc}

/** KShape clustering — semantics of
  * `/root/reference/tslearn/clustering/kshape.py:21-291`.
  *
  * Assignment distance is 1 − max NCC (FFT cross-correlation kernel);
  * shape extraction per cluster is the leading eigenvector of
  * M = Qᵀ (Σ xxᵀ) Q over SBD-aligned members (`kshape.py:118-137`).
  *
  * Spark layout: one job per iteration — the broadcast assignment map feeds
  * a per-cluster gram fold (DistributedBary.shapesWithInertia — the sz×sz
  * buffer is cluster-size-independent, each task folds its own rows), then
  * a local Breeze eigendecomposition per cluster on the driver. Input must
  * be equal-length (KShape z-normalizes internally, as the reference does).
  *
  * @param init "sample" (reference default: k series sampled with
  *   `seed`) or "first" (the k lowest series_ids — the deterministic
  *   mode the SQL trace oracle replays, as TimeSeriesKMeans does)
  * @param shapeSteps 0 = eigSym shape extraction (production); > 0 =
  *   exactly that many deterministic power-method updates per cluster
  *   per iteration (DistributedBary.shapeByClusterPower) so an external
  *   oracle can replay the identical iterate sequence
  */
class KShape(val k: Int, val maxIter: Int = 20, val tol: Double = 1e-6,
             val seed: Long = 0L, val init: String = "sample",
             val shapeSteps: Int = 0) extends Serializable {

  case class Model(centroids: Array[Array[Double]], inertia: Double) {
    def predict(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(centroids)
      df.select(col("series_id").cast("long"), col("values").cast("array<double>"))
        .as[(Long, Array[Double])]
        .map { case (id, vs) =>
          val z = Kernels.scaleMeanVariance(Kernels.uni(vs)).map(_(0))
          val (c, d) = KShape.nearest(z, bc.value)
          (id, c, d)
        }.toDF("series_id", "cluster", "dist")
    }
  }

  def fit(df: DataFrame): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val series = df.select(col("series_id").cast("long"), col("values").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, vs) =>
        (id, Kernels.scaleMeanVariance(Kernels.uni(vs)).map(_(0)))
      }
    TimeSeriesKMeans.withFitInput(series) { (data, n) =>
      require(n >= k, s"need at least k=$k series")
      // deterministic init: k sampled members as initial shapes, or the k
      // lowest-id members ("first" — the trace-oracle mode). "first" takes
      // the true k lowest ids so gapped / non-zero-based id spaces still
      // yield exactly k centroids.
      var centroids: Array[Array[Double]] =
        if (init == "first")
          data.toDF("id", "vs").orderBy("id").limit(k)
            .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
        else data.rdd.takeSample(withReplacement = false, k, seed).map(_._2)
      var prevInertia = Double.PositiveInfinity
      var inertia = Double.PositiveInfinity
      var iter = 0
      var done = false
      while (iter < maxIter && !done) {
        val bc = spark.sparkContext.broadcast(centroids)
        // assignment + inertia + shape extraction in ONE job per
        // iteration: the SBD distance computed by the assignment map rides
        // the row into the per-cluster gram fold, which accumulates Σd²
        // alongside the sz×sz gram (KShapeInertiaFuseSpec locks the trace
        // against the unfused loop).
        val assigned = data.map { case (_, vs) =>
          val (c, d) = KShape.nearest(vs, bc.value)
          (c, d, vs)
        }
        val (updated, d2sum) =
          try DistributedBary.shapesWithInertia(assigned, centroids, shapeSteps)
          finally bc.destroy()
        inertia = d2sum / n
        centroids = Array.tabulate(k)(c => updated.getOrElse(c, centroids(c)))
        if (prevInertia - inertia < tol) done = true
        prevInertia = inertia
        iter += 1
      }
      Model(centroids, inertia)
    }
  }
}

object KShape {
  private val sbd: (Array[Double], Array[Double]) => Double =
    (c, x) => Ncc.sbd(Kernels.uni(c), Kernels.uni(x))

  /** argmin over centroids of 1 − maxNCC. */
  def nearest(vs: Array[Double], centroids: Array[Array[Double]]): (Int, Double) =
    TimeSeriesKMeans.nearest(centroids, vs, sbd)
}
