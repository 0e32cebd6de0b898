package graft

import org.apache.spark.sql.SparkSession

/** Single place all entry points (Verify, Bench, tests, service loop) build
  * their SparkSession, so correctness-critical configs stay consistent.
  *
  * Config rationale:
  *  - `nanosAsLong`: the driver-provided `events.parquet` stores
  *    TIMESTAMP(NANOS) which Spark's parquet reader otherwise rejects
  *    ([PARQUET_TYPE_ILLEGAL]); we read ns-as-long and convert in
  *    [[graft.sources.Tables]].
  *  - UTC session TZ: oracle (DuckDB) computes on naive timestamps; pinning
  *    UTC makes TIMESTAMP <-> TIMESTAMP_NTZ casts wall-clock-exact.
  *  - ANSI off: classic permissive Spark semantics (null on malformed cast)
  *    so engine behavior is total, mirroring the reference's best-effort
  *    pipeline semantics (src/rabbit-sanctuary.js:56-71 retries rather than
  *    aborting a cycle).
  *  - AQE on: runtime coalescing + skew-join handling — the 100 TB path.
  */
object Session {

  /** Materialization barrier for iterative operators (d07's label
    * propagation, t05's prefix sum): cuts lineage so round N's plan does
    * not re-derive rounds 1..N−1.
    *
    * With `spark.graft.checkpointDir` set — which [[build]] now does by
    * DEFAULT (a tmpdir locally; `SPARK_GRAFT_CHECKPOINT_DIR` points it at
    * HDFS/S3 on a cluster) — barriers use reliable `checkpoint()` storage
    * that survives executor loss, the 100 TB setting. Clearing the conf
    * (or `SPARK_GRAFT_CHECKPOINT_DIR=""`) falls back to `localCheckpoint`:
    * no storage round-trip, but blocks are executor-local and
    * NON-reliable — losing one executor mid-iteration fails the whole
    * barriered operator.
    */
  def barrier(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        // re-point when the conf changed since the last barrier (tests
        // swap dirs mid-session); setCheckpointDir appends a per-app
        // UUID child, so match on the configured prefix
        if (!spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** Per-gate scratch directory for EPHEMERAL data: streaming landing
    * staging, streaming checkpoint locations, temp sinks, codec fixture
    * files — everything a gate creates and abandons inside one
    * invocation (round-14 optimization, guide §6 I/O placement).
    *
    * `SPARK_GRAFT_TMPDIR` overrides (point it at fast local NVMe on a
    * production node); the local default prefers `/dev/shm` when
    * writable — RAM-backed scratch for data whose lifetime is one gate.
    * Measured motivation: the streaming state store commits one delta
    * file per store per partition per micro-batch; on the sandbox's
    * ext4 `/tmp` those commits hit journal stalls that doubled-to-
    * tripled the stream-stream-join floor with multi-second outliers
    * (w09 7.4 s on tmpfs vs 12-21 s on disk, same box, same night).
    * Falls back to `java.io.tmpdir`. The per-process base is removed
    * by a shutdown hook, so repeated sweeps cannot accumulate RAM.
    */
  def scratchDir(prefix: String): String = {
    val base = scratchBase
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  private lazy val scratchBase: java.nio.file.Path = {
    val root = sys.env.get("SPARK_GRAFT_TMPDIR").filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val base = root.resolve(s"graft-scratch-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(base)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => }
      }
      rm(base)
    }))
    base
  }

  def build(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // scale sizing: 128 MiB scan splits and post-shuffle targets keep
      // partitions executor-memory-friendly at any SF; AQE coalesces the
      // small local shuffles down and splits skewed ones up from there
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // StateMetrics sums input rows over recentProgress, a ring buffer
      // capped by this conf (default 100) — a gate running more
      // micro-batches than the cap would silently undercount
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_STATESTORE=rocksdb flips the streaming state store to
      // the spill-to-disk provider — at 100 TB the in-memory HDFS-backed
      // store is the first thing swapped (join/session state no longer
      // bounded by executor heap); StreamingSpec pins result parity
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATESTORE") match {
          case Some("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case _ =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        })
      // reliable barriers BY DEFAULT: localCheckpoint blocks are
      // executor-local, so on a real cluster losing one executor
      // mid-iteration fails every barriered operator (g01/g03/d12/
      // prefix-sum). Every entry point now runs with a real checkpoint
      // dir — locally a tmpdir, on a cluster point
      // SPARK_GRAFT_CHECKPOINT_DIR at HDFS/S3. Set it to "" to opt back
      // into executor-local blocks (fastest, non-reliable).
      // the local default rides the scratch base (RAM-backed when
      // /dev/shm exists — barrier checkpoints are per-query ephemeral);
      // production still points SPARK_GRAFT_CHECKPOINT_DIR at HDFS/S3
      .config("spark.graft.checkpointDir",
        sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR",
          scratchBase.resolve("ckpt").toString))
      // shuffle/broadcast block files ride the same scratch base (tmpfs
      // locally, `SPARK_GRAFT_TMPDIR`-pointed NVMe on a bare-metal node).
      // On YARN/K8s/standalone the cluster manager's LOCAL_DIRS /
      // SPARK_LOCAL_DIRS override spark.local.dir, so this default only
      // governs local-mode runs — guide §6 I/O placement, not a
      // local-only constant tune.
      .config("spark.local.dir", scratchBase.resolve("blocks").toString)
      // checkpoints of barriered frames that go out of scope are GC'd
      // with their RDDs instead of accumulating for the app's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
