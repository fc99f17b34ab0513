package graft.tools

import graft.LocalSpark

/** Dev-only probe (not part of the driver contract): walls and ns/cell
  * of the distributed long-series matrix profile
  * (`operators.MatrixProfileDist`) at 100 k / 1 M points — the operator
  * whose 100× story was design-argued but never measured at target
  * shape (spec inputs are ≤ 512 points). Also cross-checks equality
  * against the local kernel at a size the O(n²·m) kernel can still do.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.MpProbe"
  */
object MpProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()

    def walk(n: Int, seed: Long): Array[Double] = {
      val rng = new scala.util.Random(seed)
      val ts = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += rng.nextGaussian(); ts(i) = acc; i += 1 }
      ts
    }

    // SPARK_GRAFT_MP_TILED_ONLY=1 skips the parity + broadcast sections
    val tiledOnly = sys.env.get("SPARK_GRAFT_MP_TILED_ONLY").contains("1")
    // ---- parity vs the local kernel at a kernel-feasible size ----
    if (!tiledOnly) {
      val n = 8192; val m = 64
      val ts = walk(n + m - 1, 7L)
      val (local, tLoc) = LocalSpark.timed(graft.kernels.Kernels.matrixProfile(ts, m))
      val (dist, tDist) = LocalSpark.timed {
        graft.operators.MatrixProfileDist.matrixProfile(spark, ts, m, blockSize = 1024)
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      }
      val maxDiff = local.indices.map(i => math.abs(local(i) - dist(i))).max
      println(f"[mpprobe] parity n=$n m=$m: maxAbsDiff=$maxDiff%.3e " +
        f"local=$tLoc%.2f s dist=$tDist%.2f s (kernel is O(n2·m); dist O(n2))")
    }

    // ---- scale walls (min of 2) ----
    if (!tiledOnly) for ((n, m, bs) <- Seq(
        (100000, 64, 16384), (100000, 256, 16384),
        (1000000, 256, 65536), (1000000, 256, 16384), (1000000, 256, 8192))) {
      val ts = walk(n + m - 1, 11L)
      def run(): Long = graft.operators.MatrixProfileDist
        .matrixProfile(spark, ts, m, blockSize = bs).count()
      val (_, t1) = LocalSpark.timed(run())
      val (cnt, t2) = LocalSpark.timed(run())
      val wall = math.min(t1, t2)
      val cells = n.toLong * n / 2
      println(f"[mpprobe] n=$n%,d m=$m block=$bs: wall=$wall%.2f s " +
        f"(runs $t1%.2f/$t2%.2f), rows=$cnt, ~cells=${cells}%,d, " +
        f"${wall * 1e9 / cells}%.3f ns/cell")
    }
    // ---- tiled (no-broadcast) path: parity + the cost of generality ----
    if (!tiledOnly) {
      val n = 8192; val m = 64
      val ts = walk(n + m - 1, 7L)
      val local = graft.kernels.Kernels.matrixProfile(ts, m)
      import spark.implicits._
      val df = spark.createDataset(ts.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }).toDF("idx", "v")
        .repartition(32).cache()
      df.count()
      val (tiles, tT) = LocalSpark.timed {
        graft.operators.MatrixProfileDist.matrixProfileTiled(spark, df, m, blockSize = 1024)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      val maxDiff = local.indices.map(i => math.abs(local(i) - tiles(i.toLong))).max
      println(f"[mpprobe] tiled parity n=$n m=$m: maxAbsDiff=$maxDiff%.3e wall=$tT%.2f s")
      df.unpersist()
    }
    // SPARK_GRAFT_MP_TILED="n:m:bs:repeat[,...]" overrides the tiled
    // sweep (round-12 2M probe: single-shot, the wall alone is ~9 min)
    val tiledConfigs = sys.env.get("SPARK_GRAFT_MP_TILED") match {
      case Some(cfg) => cfg.split(",").toSeq.map { c =>
        val p = c.split(":"); (p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt) }
      case None => Seq((1000000, 256, 32768, 2), (1000000, 256, 16384, 2))
    }
    for ((n, m, bs, rep) <- tiledConfigs) {
      val ts = walk(n + m - 1, 11L)
      import spark.implicits._
      val df = spark.createDataset(ts.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }).toDF("idx", "v")
        .repartition(64).cache()
      df.count()
      def run(): Long = graft.operators.MatrixProfileDist
        .matrixProfileTiled(spark, df, m, blockSize = bs).count()
      var wall = Double.PositiveInfinity
      var cnt = 0L
      val walls = (1 to rep).map { _ =>
        val (c, t) = LocalSpark.timed(run()); cnt = c; wall = math.min(wall, t); t }
      val (t1, t2) = (walls.head, walls.last)
      val cells = n.toLong * n / 2
      val nb = (n + bs - 1) / bs
      println(f"[mpprobe] tiled n=$n%,d m=$m block=$bs tilePairs=${nb.toLong * (nb + 1) / 2}: " +
        f"wall=$wall%.2f s (runs $t1%.2f/$t2%.2f), rows=$cnt, ${wall * 1e9 / cells}%.3f ns/cell")
      df.unpersist()
    }
    // SPARK_GRAFT_MP_CHUNK="n:m:bs:W:chunks" — the anytime/chunked probe
    // (VERDICT r13 stretch 8): at 10⁸+ points even the tiled full sweep
    // is one unbounded O(n²) job (5·10¹⁵ cells ≈ 11 h at local[32]);
    // matrixProfileDiagBand runs bounded O(n·W) diagonal-band chunks
    // that fold by min. The series is generated DISTRIBUTED (closed-form
    // sin + hash noise per idx — an 800 MB driver array would defeat the
    // no-single-node-holds-the-series contract this path exists for);
    // the sweep cost is data-independent, so any series measures ns/cell.
    sys.env.get("SPARK_GRAFT_MP_CHUNK").foreach { cfg =>
      val p = cfg.split(":")
      val n = p(0).toLong; val m = p(1).toInt; val bs = p(2).toInt
      val w = p(3).toLong; val chunks = p(4).toInt
      import org.apache.spark.sql.functions._
      val band = math.ceil(m / 4.0).toLong
      val series = spark.range(n + m - 1).select(col("id").as("idx"),
        (sin(col("id").cast("double") * 0.0007) +
          (pmod(hash(col("id")).cast("double"), lit(1000.0)) - 500.0) / 2500.0).as("v"))
        .localCheckpoint()
      // a chunk whose gFrom already reaches the last diagonal is empty —
      // skip it (matrixProfileDiagBand requires a non-empty band), and
      // never divide by cells=0 in the rate print (ADVICE r15)
      (0 until chunks).foreach { c =>
        val gFrom = band + c * w
        val gTo = math.min(band + (c + 1) * w, n - 1)
        if (gFrom < n - 1) {
          val (cnt, t) = LocalSpark.timed {
            graft.operators.MatrixProfileDist
              .matrixProfileDiagBand(spark, series, m, gFrom, gTo, blockSize = bs).count()
          }
          // cells swept: sum over g in (gFrom, gTo] of (n - g)
          val k = gTo - gFrom
          val cells = k * n - (gFrom * k + k * (k + 1) / 2)
          val rate = if (cells > 0) f"${t * 1e9 / cells}%.3f" else "n/a"
          println(f"[mpprobe] chunk n=$n%,d m=$m block=$bs g=($gFrom,$gTo]: " +
            f"wall=$t%.2f s, rows=$cnt, cells=$cells%,d, $rate ns/cell")
        } else println(s"[mpprobe] chunk $c skipped: gFrom=$gFrom >= ${n - 1} (empty band)")
      }
      series.unpersist()
    }
    // SPARK_GRAFT_MP_CHUNK_SEG="n:m:bs:W:chunks" — the A/B twin of
    // SPARK_GRAFT_MP_CHUNK (VERDICT r14 #4): identical chunk schedule,
    // but the segment relation is built ONCE (segmentSeries, persisted
    // MEMORY_AND_DISK) and every chunk sweeps against it. The first
    // chunk pays the build; the per-chunk delta vs the rebuild path is
    // the r14-measured overhead term the resumable form removes.
    // Optional 6th field `pq` (n:m:bs:W:chunks:pq) exercises the
    // documented CROSS-SESSION resume path mid-run: after the first
    // chunk, the segment relation is written to parquet, reattached via
    // the public SegmentedSeries constructor, and the remaining chunks
    // sweep the reloaded relation — the route a 10⁹-point multi-day run
    // would actually take across driver restarts.
    sys.env.get("SPARK_GRAFT_MP_CHUNK_SEG").foreach { cfg =>
      val p = cfg.split(":")
      val n = p(0).toLong; val m = p(1).toInt; val bs = p(2).toInt
      val w = p(3).toLong; val chunks = p(4).toInt
      val viaParquet = p.length > 5 && p(5) == "pq"
      import org.apache.spark.sql.functions._
      val band = math.ceil(m / 4.0).toLong
      // SPARK_GRAFT_MP_PARTS bounds the segs build's map-side
      // collect_list partials: local[32]'s 32 fat range slices hold
      // ~n/32 struct partials EACH during the partial aggregate — the
      // 10⁸ run needed ~100g heap for that alone; 256 slices at 10⁹
      // bound a task's partial state to ~4 M rows. On a fleet the input
      // arrives in many partitions naturally; this knob only reproduces
      // that shape under local-mode's shared heap.
      val parts = sys.env.get("SPARK_GRAFT_MP_PARTS").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
      // NOT localCheckpoint'd (unlike the rebuild-route twin): the
      // closed-form series feeds segmentsPlan exactly ONCE — the segs
      // relation is the persisted artifact — and at 10⁹ points the
      // checkpoint's ~30 GB of row blocks evicted the build's own
      // working set (the first 10⁹ attempt OOM'd a 110 g heap in the
      // checkpoint stage itself).
      val series = spark.range(0L, n + m - 1, 1L, parts).select(col("id").as("idx"),
        (sin(col("id").cast("double") * 0.0007) +
          (pmod(hash(col("id")).cast("double"), lit(1000.0)) - 500.0) / 2500.0).as("v"))
      val (seg0, tSeg) = LocalSpark.timed {
        graft.operators.MatrixProfileDist.segmentSeries(spark, series, m, blockSize = bs)
      }
      println(f"[mpprobe] chunkseg n=$n%,d segmentSeries plan: $tSeg%.2f s (lazy — first chunk materializes)")
      var seg = seg0
      (0 until chunks).foreach { c =>
        val gFrom = band + c * w
        val gTo = math.min(band + (c + 1) * w, n - 1)
        if (gFrom < n - 1) {
          val (cnt, t) = LocalSpark.timed {
            graft.operators.MatrixProfileDist
              .matrixProfileDiagBand(spark, seg, gFrom, gTo).count()
          }
          val k = gTo - gFrom
          val cells = k * n - (gFrom * k + k * (k + 1) / 2)
          val rate = if (cells > 0) f"${t * 1e9 / cells}%.3f" else "n/a"
          println(f"[mpprobe] chunkseg n=$n%,d m=$m block=$bs g=($gFrom,$gTo]: " +
            f"wall=$t%.2f s, rows=$cnt, cells=$cells%,d, $rate ns/cell")
        } else println(s"[mpprobe] chunkseg $c skipped: gFrom=$gFrom >= ${n - 1} (empty band)")
        if (viaParquet && c == 0) {
          val pqPath = sys.env.getOrElse("SPARK_GRAFT_MP_SEG_DIR", "/tmp/mpprobe_segs")
          val (_, tW) = LocalSpark.timed { seg.segs.write.mode("overwrite").parquet(pqPath) }
          seg.unpersist()
          val reloaded = spark.read.parquet(pqPath)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          seg = graft.operators.MatrixProfileDist.SegmentedSeries(
            reloaded, seg.nPoints, seg.m, seg.blockSize)
          println(f"[mpprobe] chunkseg segs -> parquet ($pqPath): $tW%.2f s; " +
            "remaining chunks sweep the RELOADED relation (cross-session resume path)")
        }
      }
      seg.unpersist()
      series.unpersist()
    }
    // SPARK_GRAFT_MP_FOLD="n:m:bs:W" — the anytime-fold wall at output
    // shape (VERDICT r16 #6): the nineteenth probe measured the chunk
    // SWEEPS at 10⁹ but not the running element-wise-min fold over their
    // outputs (n rows × k chunks — the query a consumer runs after every
    // chunk to get the best-so-far profile). Two real chunks are swept
    // against a shared segment relation, each output written to parquet
    // (the resume artifact a fleet run would keep), then the fold —
    // read both, unionByName, groupBy(i).min(mp) — is timed on its own.
    // ns/row is the figure of merit; the fold is one exchange on i at
    // any k, so two chunks measure the per-row cost of the general fold.
    sys.env.get("SPARK_GRAFT_MP_FOLD").foreach { cfg =>
      val p = cfg.split(":")
      val n = p(0).toLong; val m = p(1).toInt; val bs = p(2).toInt
      val w = p(3).toLong
      import org.apache.spark.sql.functions._
      val band = math.ceil(m / 4.0).toLong
      val parts = sys.env.get("SPARK_GRAFT_MP_PARTS").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
      val series = spark.range(0L, n + m - 1, 1L, parts).select(col("id").as("idx"),
        (sin(col("id").cast("double") * 0.0007) +
          (pmod(hash(col("id")).cast("double"), lit(1000.0)) - 500.0) / 2500.0).as("v"))
      val seg = graft.operators.MatrixProfileDist.segmentSeries(spark, series, m, blockSize = bs)
      val dir = sys.env.getOrElse("SPARK_GRAFT_MP_FOLD_DIR", "/tmp/mpprobe_fold")
      (0 until 2).foreach { c =>
        val gFrom = band + c * w
        val gTo = math.min(band + (c + 1) * w, n - 1)
        val (_, t) = LocalSpark.timed {
          graft.operators.MatrixProfileDist
            .matrixProfileDiagBand(spark, seg, gFrom, gTo)
            .write.mode("overwrite").parquet(s"$dir/chunk$c")
        }
        println(f"[mpprobe] fold-prep chunk$c g=($gFrom,$gTo]: sweep+write $t%.2f s")
      }
      seg.unpersist()
      val (folded, tF) = LocalSpark.timed {
        spark.read.parquet(s"$dir/chunk0")
          .unionByName(spark.read.parquet(s"$dir/chunk1"))
          .groupBy("i").agg(min(col("mp")).as("mp"))
          .count()
      }
      val inRows = 2L * n // ~n rows per chunk output
      println(f"[mpprobe] fold n=$n%,d: wall=$tF%.2f s over ~$inRows%,d input rows " +
        f"-> $folded%,d folded rows, ${tF * 1e9 / inRows}%.3f ns/input-row")
    }
    spark.stop()
  }
}
