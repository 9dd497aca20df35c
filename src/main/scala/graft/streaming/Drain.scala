package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The one way a streaming monitor produces a finite, oracle-comparable
  * result: drain the stream through `Trigger.AvailableNow` into a memory
  * sink, copy the summary-sized sink to the driver, release the sink and
  * its checkpoint. Every AvailableNow query (q35-q37, q43, q61, q70, q87)
  * and the multi-batch [[LateReplay]] (q81) end here.
  */
object Drain {

  /** Ceiling on rows the sink detach will copy to the driver — far above
    * any monitor output (q35-q37 emit 4-20 rows at sf0.01), far below
    * driver-OOM territory. */
  val MaxStreamingSinkRows = 1000000L

  /** State partitions for the BOUNDED-group streaming monitors (windowed
    * aggregations over window × codec/band — tens of live groups at any
    * corpus size, because windows close under the watermark and the
    * category axes are fixed): sized to the state bound, not the host —
    * see [[availableNow]]'s scaladoc for the measured rationale.
    * Key-scale monitors (q35/q87) deliberately do NOT use this. */
  val BoundedMonitorStateParts = 4

  /** The detached sink rows and the query's `recentProgress` (the
    * per-trigger state-operator metrics, e.g. watermark drops). */
  final case class Drained(result: DataFrame,
      progress: Array[StreamingQueryProgress])

  /** Per-run scratch base for syscall-heavy small-file I/O (state-store
    * checkpoints, replay inputs): `/dev/shm/<name>` when tmpfs exists,
    * else a fresh temp dir. This host throttles syscall-heavy disk I/O
    * (see BASELINE.md); a real cluster points this at fast scratch/DFS. */
  def scratchRoot(name: String): java.nio.file.Path =
    if (new java.io.File("/dev/shm").isDirectory) {
      val d = new java.io.File(s"/dev/shm/$name")
      d.mkdirs(); d.toPath
    } else java.nio.file.Files.createTempDirectory(name)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val PartsKey = "spark.sql.shuffle.partitions"

  /** Drain `df` through Trigger.AvailableNow into a memory sink and return
    * the sink rows as a local DataFrame. Sink name and checkpoint are
    * per-invocation (a bench session may run the query after verify), and
    * both are released before returning, on the failure path too.
    *
    * State store: RocksDB — measured faster than the HDFS-backed provider
    * for these monitors on this host (q35 at sf0.1, 200k keys in one
    * batch: 2.5-3.0 s vs 3.8-4.4 s min-of-3 across two draws each; q37
    * equal-or-better — numbers in BASELINE.md), and the standard cluster
    * recommendation for large state (millions of live keys don't live on
    * the executor heap).
    *
    * `statePartitions > 0` sets `spark.sql.shuffle.partitions` for the
    * stream: a stateful operator's state-store partition count is fixed
    * to the shuffle partitions of its first batch, and a monitor whose
    * group cardinality is BOUNDED small (window × codec, ~tens of live
    * groups) pays one state-store commit per partition per trigger for
    * zero extra parallelism — measured r9: q81's 8-trigger replay drops
    * ~8 s → ~3 s at 4 state partitions (OPTIMIZATION_r09.md). Scale-safe
    * because it is sized to the operator's STATE BOUND, not to this host:
    * the map-side work keeps the input's own parallelism; only the
    * ≤O(groups) merged partials cross the exchange. Monitors with
    * row-scale key spaces (q35/q87 key on clip_id/fingerprint) keep the
    * session default.
    *
    * Both settings are session conf, overridden only until `start()`
    * returns: the stream runs on its own clone of the session (taken when
    * the query is constructed), so the caller's session reads its own
    * values again while the stream is still draining.
    *
    * `maxRows` guards the driver copy: the memory sink already holds the
    * rows on the driver and the detach doubles that, so a row-scale result
    * fails loudly here instead of silently becoming a driver-OOM path. */
  def availableNow(df: DataFrame, name: String, mode: String,
      maxRows: Long = MaxStreamingSinkRows,
      statePartitions: Int = 0): Drained = {
    val s = df.sparkSession
    val sink = s"${name}_${System.nanoTime()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory(scratchRoot("graft-ckpt"), name).toString
    val overrides = Seq(ProviderKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") ++
      (if (statePartitions > 0) Seq(PartsKey -> statePartitions.toString)
       else Nil)
    val callerConf = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      val q = try df.writeStream.outputMode(mode)
          .format("memory").queryName(sink)
          .option("checkpointLocation", s"$ckpt/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        finally callerConf.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      q.awaitTermination()
      val sinkDf = s.table(sink)
      val sinkRows = sinkDf.count()
      require(sinkRows <= maxRows,
        s"drain($name): sink holds $sinkRows rows > $maxRows — streaming " +
          "monitor outputs must be summary-sized; write row-scale results " +
          "to a file sink instead")
      Drained(
        s.createDataFrame(java.util.Arrays.asList(sinkDf.collect(): _*),
          sinkDf.schema),
        q.recentProgress)
    } finally {
      s.catalog.dropTempView(sink)
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      catch { case _: Exception => () }
    }
  }
}
