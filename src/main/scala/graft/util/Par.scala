package graft.util

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame

/** Source-grain parallelism repair (guide §2.5 "input skew: one huge
  * unsplittable file … repartition immediately after the read").
  *
  * The test archives ship each table as ONE parquet file with one row
  * group, so every scan is a single input split — and a map-only kernel
  * pipeline then runs on ONE core of `local[32]` until its first
  * exchange. Measured on the bench: q_av_mux burned 5.8 CPU-s over 4.3
  * wall-s (CPU/wall ≈ 1.3 on a 32-thread box — a serial stage); with the
  * spine spread it runs 1.4 s warm.
  *
  * `spread` round-robins the rows across the context's default
  * parallelism so the kernel stage uses the machine. Scope is
  * deliberately NARROW — the video/AV codec lanes only, where the
  * per-row kernel is expensive enough (≥ ~1 ms/row: JPEG/GIF encode +
  * decode) that a measured A/B showed a ~4× wall win. Applying it to the
  * cheap kernels (tokenizers, shingles, audio synthesis at ~0.1-0.5
  * CPU-ms/row) was measured a net LOSS: the exchange + 32-task overhead
  * exceeds the serial kernel cost, and under this host's co-tenant
  * memory-bandwidth thrash the parallel stage bills 4-8× the CPU for
  * equal-or-worse wall (A/B artifacts ab_spread_{on,off}_r16.json,
  * OPTIMIZATION_r16.md).
  *
  * No-op when the source already scans wide (the guard, NOT a local[32]
  * tuning: at archive scale a table arrives as many files/row groups,
  * the scan has its own parallelism, and repartitioning again would be a
  * pure pessimization) and on streaming frames (micro-batch sources size
  * their own batches).
  *
  * APPLY TO BARE SCANS (or cheap scan+project spines) ONLY: the guard
  * probes `df.rdd.getNumPartitions`, which forces physical planning and
  * RDD instantiation for `df` (no job runs, but planning isn't free and
  * the probe bypasses AQE) — harmless on a bare table scan, wasteful on
  * a frame with a big plan under it.
  */
object Par {
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    // planning-only probe (no job): the physical scan's split count
    val n = df.rdd.getNumPartitions
    if (n * 2 >= par) df else df.repartition(par)
  }

  /** Run independent jobs (e.g. writes to disjoint paths) on a pool of
    * `threads`, submitted in `tasks` order, so the tail of one job
    * back-fills the executors the next needs (guide §2.6). Returns once
    * every task has finished. The first task to fail rethrows its own
    * exception (not the `ExecutionException` wrapper), after the pool is
    * shut down with interrupts and drained: queued tasks never start and
    * no running sibling outlives the call. */
  def overlap(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      tasks.foreach(t => done.submit(() => t()))
      tasks.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
