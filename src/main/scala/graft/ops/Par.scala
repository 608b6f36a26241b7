package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-gated parallelism floor for CPU-heavy row-local kernels.
  *
  * The fixture tables are single parquet files, so their scans plan as ONE
  * input partition; a per-row kernel that costs real CPU (md5/MinHash
  * signatures, image/audio decode + DCT, trigram LM walks, classifier
  * scoring) then serializes on one core while the other 31 idle — measured
  * via per-stage task metrics: e.g. the q28 SimHash map was a single task
  * with 9.3 s of CPU, q189's phash decode 17.7 s across ≤4 tasks
  * (optimization guide §2.5: input parallelism — repartition immediately
  * after the read; §1.2: fix the distributed shape before per-task work).
  *
  * [[widen]] raises the partition count to the scheduler's default
  * parallelism ONLY when the input has fewer partitions — at production
  * scale a 100 TB scan already plans thousands of splits, so the gate makes
  * this a provable no-op (no extra exchange is ever added at scale; the
  * round-robin shuffle exists exactly and only in the
  * tiny-input/expensive-kernel regime it repairs). Round-robin repartition
  * sorts its input before distributing (SPARK-23207, on by default), so the
  * row→partition assignment is deterministic under retries.
  *
  * Call it on the RAW input frame BEFORE the expensive projection — a
  * projection written below the exchange would still execute in the
  * original single map task.
  */
object Par {
  def widen(df: DataFrame): DataFrame = {
    // Streaming frames cannot be partition-inspected (.rdd is a batch-only
    // surface) — their parallelism is the micro-batch source's concern;
    // pass through untouched.
    if (df.isStreaming) return df
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    val cur = df.queryExecution.toRdd.getNumPartitions
    if (cur > 0 && cur < target) df.repartition(target) else df
  }
}
