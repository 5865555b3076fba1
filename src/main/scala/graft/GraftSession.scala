package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are sized for `local[N]` single-JVM runs but every choice is
  * cluster-safe: AQE on (runtime re-planning, skew-join splitting at scale),
  * shuffle partitions pinned low for local mode (a real cluster would size
  * this to ~2-3x total cores or rely on AQE coalescing), UTC session time
  * zone for deterministic timestamp semantics against the DuckDB oracle.
  */
object GraftSession {
  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark
  }

  /** Runtime confs the engine needs regardless of who built the session
    * (the driver harness builds its own `SparkSession` for `SparkEntry`).
    * All of these are dynamic SQL confs, safe to set post-construction.
    *
    * Streaming checkpoint files go through [[graft.io.NioCheckpointFiles]].
    * Without a native `libhadoop`, Hadoop's local FS forks `chmod`/`ls`
    * for each file it writes, and every trigger writes several: the offset
    * and commit log entries, file-source/sink metadata, and one state
    * delta or changelog file per state partition. A warm `createAtomic`
    * costs 29.8 ms on Spark's default FileContext-based manager, 6.8 ms on
    * its FileSystem-based one and 0.52 ms on the java.nio one (4-core
    * host). On the 2-domain RocksDB detection stream (perfbench
    * `detect_dense`, same host) that took `walCommit` and `commitOffsets`
    * from 32-46 ms to 1 ms each and the state commit from about 320 ms to
    * 15-21 ms per trigger. The key is Spark's own:
    * `CheckpointFileManager.create` reads it from the session's Hadoop
    * conf, so it reaches every writer of every query started afterwards.
    */
  def tune(spark: SparkSession): SparkSession = {
    // events.parquet has shipped as both TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across driver runs; this conf lets the NANOS
    // encoding decode (as raw longs) and is a no-op on MICROS files.
    // Tables.events dispatches on the decoded type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Deterministic timestamp semantics against the DuckDB oracle: NTZ
    // wall-clocks must read as UTC instants whoever built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // local checkpoint writes without Hadoop's per-file forks (see above)
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.io.NioCheckpointFiles].getName)
    spark
  }

  /** Large-state streaming: back the state store with RocksDB instead of
    * the default in-heap HDFS-backed map. The default provider holds every
    * key in executor heap — fine for the detection plane's per-domain
    * state, an OOM for 100 TB-scale keyed state (billions of dedup
    * fingerprints in `Dedup.exactStream`, per-flow machines in
    * StateMachines). RocksDB spills to local SSD with bounded heap, and
    * changelog checkpointing ships per-batch deltas instead of re-uploading
    * full SST files.
    *
    * Session-wide conf, captured by each streaming query at start — set it
    * before `writeStream.start()`. Existing checkpoints are provider-bound:
    * never flip this under a query's existing checkpoint dir.
    */
  def useRocksDbState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark
  }
}
