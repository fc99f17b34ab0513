package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.LocalSpark
import graft.streaming.StreamingOps

/** VERDICT r12 #4 / r13 #4 — the RocksDB soak at REAL state size.
  * Every prior streaming soak topped out at ~640 band-bucket keys
  * (16 bands × a 40-doc pool): enough for parity and flatness
  * assertions, useless as evidence that the disk-backed provider
  * sustains ingest once state outgrows executor heaps. This probe
  * drives `dedupNearMinhash` band-bucket state past 10⁶ keys on the
  * RocksDBStateStoreProvider with a zipf-replicated corpus (fresh docs
  * grow state; zipf repeats of the seen head land in existing buckets
  * and emit dup hits — the real ingest mix), and records the
  * throughput CURVE (per-decile batch rate) plus the provider's own
  * metrics so a compaction stall shows up as a decile cliff rather
  * than being averaged away.
  *
  * Usage: runMain graft.tools.StateSoakProbe [nBatches docsPerBatch]
  * Defaults 250 × 300 → 250 batches, 75 k docs × ~75 % fresh ≈ 56 k
  * distinct signatures × 16 bands ≈ 0.9 M keys; 280 × 300 crosses 10⁶.
  */
object StateSoakProbe {
  // splitmix64 avalanche — deterministic doc content, no RNG state
  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 280
    val docsPerBatch = if (args.length > 1) args(1).toInt else 300

    val spark = LocalSpark.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupNearMinhash(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("soak_big")
      .outputMode("append").start()

    // fresh doc i: 10 tokens drawn from a 2²⁰ vocabulary by avalanche —
    // distinct shingle sets, hence distinct signatures, hence 16 new
    // (band, bucket) keys each. zipf repeat: square a uniform hash to
    // skew the replay toward the low-id head (rank-1 docs replayed
    // most), replicating the duplicate mass shape of a crawl.
    def freshText(i: Long): String =
      (0 until 10).map(w => s"t${(mix(i * 37L + w) >>> 44)}").mkString(" ")

    var freshSoFar = 0L
    var docId = 0L
    val decile = math.max(1, nBatches / 10)
    val metrics = scala.collection.mutable.ArrayBuffer[String]()
    var lastT = System.nanoTime()
    var lastB = 0
    val t0 = lastT

    (0 until nBatches).foreach { b =>
      val rows = (0 until docsPerBatch).map { i =>
        val fresh = (i % 4) != 3 // 75 % fresh, 25 % zipf replay
        val text =
          if (fresh || freshSoFar == 0) {
            freshSoFar += 1; freshText(freshSoFar)
          } else {
            val u = (mix(b * 1009L + i) >>> 11).toDouble / (1L << 53).toDouble
            freshText(1L + (u * u * freshSoFar).toLong.min(freshSoFar - 1))
          }
        docId += 1
        (docId, text)
      }
      in.addData(rows: _*)
      q.processAllAvailable()

      if ((b + 1) % decile == 0 || b == nBatches - 1) {
        val now = System.nanoTime()
        val p = q.lastProgress
        val so = p.stateOperators.head
        val cm = so.customMetrics
        import scala.jdk.CollectionConverters._
        val keys = cm.keySet().asScala.toSeq.sorted
        if (b + 1 == decile) // metric names vary by Spark version — dump once
          System.err.println(s"[soak] customMetrics keys: ${keys.mkString(", ")}")
        // sum the latency families by name pattern instead of guessing
        // exact keys (they are per-phase: commit has writeBatch/flush/
        // compact/checkpoint/fileSync components)
        def fam(sub: String*): Long = keys
          .filter(k => sub.forall(s => k.toLowerCase.contains(s.toLowerCase)))
          .map(k => cm.get(k).longValue()).sum
        def one(k: String): Long = Option(cm.get(k)).map(_.longValue()).getOrElse(-1L)
        // Rate over batches ACTUALLY elapsed since the last report, not
        // the fixed decile width: the condition also fires at the final
        // batch, and when nBatches is not a multiple of 10 the last
        // interval spans fewer than `decile` batches — dividing by the
        // fixed width would inflate that sample (ADVICE r14).
        val batchesSince = (b + 1) - lastB
        lastB = b + 1
        val rate = batchesSince / ((now - lastT) / 1e9)
        lastT = now
        metrics += f"""{"batch":${b + 1},"batch_per_s":$rate%.2f,"state_rows":${so.numRowsTotal},"state_bytes":${so.memoryUsedBytes},"commit_ms":${fam("commit")},"compact_ms":${fam("compact")},"sst_bytes":${one("rocksdbSstFileSize")}}"""
        System.err.println(s"[soak] ${metrics.last}")
      }
    }
    val total = (System.nanoTime() - t0) / 1e9
    val fin = q.lastProgress.stateOperators.head
    val hits = spark.table("soak_big").count()
    q.stop()
    println(f"""{"probe":"state_soak","provider":"rocksdb","batches":$nBatches,"docs_per_batch":$docsPerBatch,"distinct_docs":$freshSoFar,"state_rows":${fin.numRowsTotal},"state_bytes":${fin.memoryUsedBytes},"dup_hits":$hits,"wall_s":$total%.1f,"deciles":[${metrics.mkString(",")}]}""")
    spark.stop()
  }
}
