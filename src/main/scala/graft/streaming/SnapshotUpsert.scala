package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Upsert

/** Streaming CDC sink: apply each micro-batch of keyed changes as a
  * latest-wins merge ([[graft.operators.Upsert]]) into a versioned parquet
  * snapshot — the `foreachBatch` "stream into a table" shape that turns a
  * change feed into an always-current corpus snapshot.
  *
  * Exactly-once publication without a table format: every applied batch
  * writes a NEW version directory (`b<batchId>`), and readers follow a
  * pointer file (`_latest`) that is switched with an atomic move only
  * after the version's parquet write has fully committed. A crash between
  * write and switch leaves the pointer on the previous complete version;
  * Structured Streaming then replays the batch, which rewrites the same
  * version directory and switches the pointer — and a batch whose pointer
  * switch DID land is detected by its id and skipped, so replays never
  * double-apply. Readers never see a partial snapshot.
  *
  * At 100 TB the same layout holds: the pointer/version dance is
  * metadata-sized, each version shares nothing but is itself produced by
  * the O(changes) merge shape (changes collapsed and joined once —
  * see [[graft.operators.Upsert.merge]]), and old versions are dropped by
  * [[vacuum]] (run automatically after each pointer switch with the
  * `retain` window; `retain <= 0` opts out) — exactly the commit protocol
  * table formats (Delta/Iceberg) implement with a log in place of the
  * pointer file.
  */
object SnapshotUpsert {

  private val Pointer = "_latest"

  /** Bootstrap the snapshot store: version `b-1` = the initial table. */
  def init(snapshot: DataFrame, dir: String): Unit = {
    snapshot.write.mode("overwrite").parquet(s"$dir/b-1")
    switchPointer(dir, "b-1")
  }

  /** The `foreachBatch` function: curry the config, hand the rest to
    * `writeStream.foreachBatch`. Merge is whole-row latest-wins per `key`
    * with `seqCol` ordering inside the batch and `deleteCol` tombstones.
    */
  def applyBatch(dir: String, key: String, seqCol: String = "seq",
                 deleteCol: String = "del", retain: Int = 2)(batch: DataFrame, batchId: Long): Unit = {
    val version = s"b$batchId"
    val current = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"snapshot at $dir not initialised — call init() first"))
    // skip any batch at or below the published id, not just the newest:
    // a re-delivered OLDER batch (restart against a stale checkpoint)
    // must never move the pointer backwards and roll back later batches
    if (batchId <= versionId(current)) return
    val spark = batch.sparkSession
    val merged = Upsert.merge(
      spark.read.parquet(s"$dir/$current"), batch, key, seqCol, deleteCol)
    merged.write.mode("overwrite").parquet(s"$dir/$version")
    switchPointer(dir, version)
    // retention runs AFTER the pointer switch, so the window it keeps is
    // anchored on the version just published: with retain >= 2 the
    // previous version survives this call, and the one case that still
    // needs it — a crash between write and switch, replayed from the
    // prior pointer — reads a version vacuum can never delete (the
    // pointer's own). retain <= 0 disables GC.
    if (retain > 0) vacuum(dir, retain)
  }

  /** The `foreachBatch` function for MATERIALIZED-VIEW maintenance
    * (w13): each micro-batch of raw (key, cents) rows advances the
    * stored per-key aggregate via [[Upsert.incrementalAgg]] — the same
    * versioned-pointer exactly-once protocol as the CDC sink (replayed
    * batches detected by id and skipped, readers never see a partial
    * MV), but the state carried between batches is the keys-sized
    * aggregate vector, so each step is O(batch + |keys|), never
    * O(history rows).
    */
  def applyAggBatch(dir: String, key: String, retain: Int = 2)(batch: DataFrame, batchId: Long): Unit = {
    val version = s"b$batchId"
    val current = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"snapshot at $dir not initialised — call init() first"))
    if (batchId <= versionId(current)) return
    val spark = batch.sparkSession
    // the aggregate vector is fixed by Upsert.incrementalAgg: batches are
    // (key, cents) rows, history snapshots (key, n, sum_cents, max_cents).
    // Validate up front — a mismatched history (e.g. one init'd with raw
    // rows) otherwise fails only deep inside foreachBatch with an opaque
    // unresolved-column analysis error
    require(batch.columns.contains(key) && batch.columns.contains("cents"),
      s"applyAggBatch batch must have ($key, cents) columns, got ${batch.columns.mkString(", ")}")
    val history = spark.read.parquet(s"$dir/$current")
    val needed = Seq(key, "n", "sum_cents", "max_cents")
    require(needed.forall(history.columns.contains),
      s"applyAggBatch history snapshot must have (${needed.mkString(", ")}) columns " +
        s"(init it with an Upsert.incrementalAgg-shaped aggregate), got ${history.columns.mkString(", ")}")
    val merged = Upsert.incrementalAgg(history, batch, key)
    merged.write.mode("overwrite").parquet(s"$dir/$version")
    switchPointer(dir, version)
    if (retain > 0) vacuum(dir, retain)
  }

  /** The `foreachBatch` function for SCD TYPE-2 dimension maintenance
    * (w15): each micro-batch of effective-dated changes advances the
    * stored dimension via [[Upsert.scd2Apply]] — closed versions pass
    * through untouched, only changed keys' open rows re-enter the
    * version chain — under the same versioned-pointer exactly-once
    * protocol as the CDC sink. Requires each batch to be a genuine
    * increment (no change older than an already-closed version; see
    * scd2Apply's contract) — which mtime-ordered landing batches of an
    * append-only change feed satisfy by construction.
    */
  def applyScd2Batch(dir: String, key: String, tsCol: String = "change_ts",
                     deleteCol: String = "del", retain: Int = 2)(batch: DataFrame, batchId: Long): Unit = {
    val version = s"b$batchId"
    val current = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"snapshot at $dir not initialised — call init() first"))
    if (batchId <= versionId(current)) return
    val spark = batch.sparkSession
    val dim = spark.read.parquet(s"$dir/$current")
    val needed = Seq(key, "effective_from", "effective_to", "is_current")
    require(needed.forall(dim.columns.contains),
      s"applyScd2Batch history must be an SCD2 dimension with (${needed.mkString(", ")}) " +
        s"columns (init it with Upsert.scd2Recompute), got ${dim.columns.mkString(", ")}")
    val merged = Upsert.scd2Apply(dim, batch, key, tsCol, deleteCol)
    merged.write.mode("overwrite").parquet(s"$dir/$version")
    switchPointer(dir, version)
    if (retain > 0) vacuum(dir, retain)
  }

  /** The `foreachBatch` function for an OP-AWARE CDC stream (w19):
    * each micro-batch of (key, payload…, op, seq) log rows advances the
    * snapshot via [[Upsert.cdcApply]] — the I/U/D existence automaton —
    * under the same versioned-pointer exactly-once protocol. Batch
    * splitting is sound because the automaton folds left-to-right and
    * the materialized snapshot IS its carried state: as long as batches
    * arrive in seq order (mtime-ordered landing files of an append-only
    * log do), per-batch apply equals the one-shot apply — the t17/w10
    * merge law, extended to op semantics (gated by sharing x12's
    * oracle string verbatim).
    */
  def applyCdcBatch(dir: String, key: String, seqCol: String = "seq",
                    opCol: String = "op", retain: Int = 2)(batch: DataFrame, batchId: Long): Unit = {
    val version = s"b$batchId"
    val current = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"snapshot at $dir not initialised — call init() first"))
    if (batchId <= versionId(current)) return
    val spark = batch.sparkSession
    val merged = Upsert.cdcApply(
      spark.read.parquet(s"$dir/$current"), batch, key, seqCol, opCol)
    merged.write.mode("overwrite").parquet(s"$dir/$version")
    switchPointer(dir, version)
    if (retain > 0) vacuum(dir, retain)
  }

  /** Read the current snapshot (the pointer's version directory). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"snapshot at $dir not initialised"))
    spark.read.parquet(s"$dir/$v")
  }

  /** Time-travel read: the snapshot AS OF a specific applied batch id —
    * the `VERSION AS OF` read table formats offer, for free from the
    * versioned layout. Only versions inside the retention window survive
    * [[vacuum]]; asking for a GC'd (or never-applied) version fails with
    * the retained range in the message rather than a bare path error.
    */
  def readVersion(spark: SparkSession, dir: String, batchId: Long): DataFrame = {
    val v = s"b$batchId"
    if (!Files.isDirectory(Paths.get(dir, v))) {
      val have = {
        val ls = Files.list(Paths.get(dir))
        try ls.iterator().asScala
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("b-?\\d+"))
          .map(_.getFileName.toString).toSeq.sortBy(versionId)
        finally ls.close()
      }
      throw new IllegalArgumentException(
        s"version $v not present at $dir (retained: ${have.mkString(", ")}) — " +
          "older versions are vacuumed; raise `retain` to keep more history")
    }
    spark.read.parquet(s"$dir/$v")
  }

  /** Retention: delete version directories OLDER than the `keep` most
    * recent ones at or below the published pointer (the pointer's version
    * itself is always kept; versions ABOVE the pointer — an in-flight
    * write — are never touched). Returns the deleted version names. This
    * is the vacuum half of the commit protocol: without it the store
    * grows by one full snapshot per applied batch.
    */
  def vacuum(dir: String, keep: Int = 2): Seq[String] = {
    require(keep >= 1, "keep must be at least 1")
    val current = currentVersion(dir).getOrElse(return Seq.empty)
    val cur = versionId(current)
    val root = Paths.get(dir)
    val versions = {
      val ls = Files.list(root)
      try ls.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("b-?\\d+"))
        .map(_.getFileName.toString)
        .filter(v => versionId(v) <= cur)
        .toSeq
      finally ls.close()
    }
    val doomed = versions.sortBy(versionId).dropRight(keep)
    doomed.foreach { v =>
      val d = root.resolve(v)
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    doomed
  }

  private def versionId(version: String): Long = version.stripPrefix("b").toLong

  def currentVersion(dir: String): Option[String] = {
    val p = Paths.get(dir, Pointer)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  private def switchPointer(dir: String, version: String): Unit =
    graft.AtomicFile.write(Paths.get(dir, Pointer), version.getBytes(StandardCharsets.UTF_8))
}
