package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ocds.Compile

/** Persistence layout (SURVEY.md §2 S7, §1.4's 100 TB layout; reference
  * `file_worker.py:322-386` bulk_create + `core/settings.py:262-263`
  * batch size).
  *
  * Lake layout:
  *  - fact tables partitioned by `collection_id` — collection wipes become
  *    partition drops (S9) and every per-collection job prunes at the scan;
  *  - rows hash-clustered by `ocid` within each collection partition
  *    (repartition before write), so the compile reads ocid-clustered
  *    files straight from the lake and pays its one ocid shuffle
  *    (`Compile.summariesAndWarnings`); no copy of the facts is kept
  *    outside the lake;
  *  - the content-addressed store partitioned by a 2-hex-char prefix of
  *    `hash_md5` (256 buckets) — the dedup anti-join (S8) prunes to one
  *    bucket per hash, and inserts spread uniformly.
  *
  * The serving copy mirrors the reference's PostgreSQL sink over JDBC with
  * its batch size of 1000 (`settings.py:262-263`); no database runs in this
  * harness, so that writer is contract-only.
  */
object Sink {

  /** S7: append fact rows into the partitioned lake layout. */
  def writeFacts(facts: DataFrame, path: String, mode: String = "append"): Unit =
    facts
      .repartition(col("collection_id"), col("ocid"))
      .write
      .partitionBy("collection_id")
      .mode(mode)
      .parquet(path)

  /** S7/T5: idempotent per-collection write — DYNAMIC partition overwrite
    * replaces exactly the collection partitions present in `facts`,
    * leaving every other collection untouched. The write a retryable job
    * (the batch compile) uses so a replay after a mid-write crash lands
    * clean instead of appending duplicates. */
  def overwriteCollectionPartitions(facts: DataFrame, path: String): Unit =
    facts
      .repartition(col("collection_id"))
      .write
      .partitionBy("collection_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Atomically replace the `collection_id=id` partition directory of
    * `path` with `rows` (which must contain only that collection's rows;
    * the partition column is dropped — the directory name carries it, as
    * in every partitionBy write). The new content lands in an
    * underscore-prefixed temp dir inside the table (invisible to Spark
    * readers, guaranteed same filesystem), then swaps in via two directory
    * renames — a reader sees the old or the new partition, never a
    * half-written one, and a writer crash leaves the original intact plus
    * invisible debris that the next call sweeps (ADVICE r7: the previous
    * cache-and-dynamic-overwrite-in-place silently dropped rows if a
    * cached block was lost mid-write, because recomputation re-read the
    * already-truncated table).
    *
    * `rows` MAY be a plan reading the very partition being replaced — the
    * write consumes the OLD directory and the swap happens after, so the
    * read-own-write hazard (and the persist it forced) is gone. Zero rows
    * drop the partition (matching dynamic overwrite, which cannot write an
    * empty one). Returns the new partition's row count.
    *
    * On an object store a production deployment would swap a manifest
    * instead of renaming directories; the two-rename shape is the same
    * commit protocol. */
  def swapCollectionPartition(
      spark: SparkSession, path: String, collectionId: Long, rows: DataFrame,
      // inner Hive partition columns to PRESERVE through the rewrite
      // (the check tables' check_bucket) — a flat rewrite of one
      // collection would conflict with the other collections' nested
      // directory structure on the next whole-table read
      innerPartition: Seq[String] = Nil): Long = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    val partDir = table.resolve(s"collection_id=$collectionId")
    val tmpDir = table.resolve(s"_swap_tmp_collection_id=$collectionId")
    val oldDir = table.resolve(s"_swap_old_collection_id=$collectionId")
    // Recovery runs here as a backstop, but callers whose `rows` plan READS
    // this table must call recoverSwapDebris BEFORE building that plan:
    // Spark snapshots the file listing at read time (underscore dirs
    // excluded), so a plan built over pre-recovery listing misses the
    // restored rows — and if partDir itself was the debris, reads an empty
    // partition and the rewrite deletes the only copy (ADVICE r8).
    recoverSwapDebris(path, collectionId)
    val writer = rows.drop("collection_id").write.mode("overwrite")
    (if (innerPartition.nonEmpty) writer.partitionBy(innerPartition: _*) else writer)
      .parquet(tmpDir.toString)
    val n = spark.read.parquet(tmpDir.toString).count()
    if (n == 0) deleteDir(tmpDir) // empty partition = dropped partition
    if (JF.exists(partDir)) JF.move(partDir, oldDir)
    if (n > 0) JF.move(tmpDir, partDir)
    deleteDir(oldDir)
    n
  }

  /** Restore debris left by a [[swapCollectionPartition]] that crashed
    * mid-swap, BEFORE any plan is built over the table's file listing.
    * Disambiguated by which debris survives the crash:
    *  - oldDir AND tmpDir: the swap died between its two renames (tmp was
    *    never promoted). The partition may ALREADY have been recreated by
    *    a later append (a stream batch landing before the next swap ran)
    *    — then a wholesale restore is wrong and a plain sweep would
    *    silently delete the retired rows' only copy; instead fold the
    *    retired files back into the live partition (part-file names are
    *    job-unique, so file-level moves cannot collide). The crashed
    *    swap's tmp content is abandoned either way — its source rows are
    *    back in the partition and the caller's rewrite runs again.
    *  - oldDir alone: the swap died after promoting the new partition but
    *    before its final sweep — the retired copy is stale; sweep it.
    * Idempotent; a no-op on a clean table. MUST be invoked by every caller
    * that constructs a rewrite plan reading this table (compaction, purge)
    * before that plan's first read — Spark's eager file-listing snapshot
    * will not see files this call moves back afterwards. */
  def recoverSwapDebris(path: String, collectionId: Long): Unit = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    val partDir = table.resolve(s"collection_id=$collectionId")
    val tmpDir = table.resolve(s"_swap_tmp_collection_id=$collectionId")
    val oldDir = table.resolve(s"_swap_old_collection_id=$collectionId")
    if (JF.exists(oldDir) && JF.exists(tmpDir) && JF.exists(partDir)) {
      import scala.jdk.CollectionConverters._
      val stream = JF.list(oldDir)
      try stream.iterator.asScala.toSeq.foreach { f =>
        mergeMove(f, partDir.resolve(f.getFileName.toString))
      } finally stream.close()
    } else if (JF.exists(oldDir) && !JF.exists(partDir)) JF.move(oldDir, partDir)
    deleteDir(tmpDir)
    deleteDir(oldDir)
  }

  /** Fold `src` into `dest`, surviving nested Hive partition dirs (the
    * check tables' collection_id=N/check_bucket=M layout): colliding
    * DIRECTORIES merge recursively; colliding FILES delete the source —
    * part-file names are job-unique, so a file collision can only be a
    * _SUCCESS-style marker. Flat tables behave exactly as before. */
  private def mergeMove(src: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => JF}
    if (!JF.exists(dest)) { JF.move(src, dest); return }
    if (JF.isDirectory(src) && JF.isDirectory(dest)) {
      import scala.jdk.CollectionConverters._
      val stream = JF.list(src)
      try stream.iterator.asScala.toSeq.foreach { c =>
        mergeMove(c, dest.resolve(c.getFileName.toString))
      } finally stream.close()
      JF.delete(src)
    } else JF.delete(src)
  }

  private def deleteDir(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }

  /** Lake maintenance: rewrite ONE collection's partition of `path` into
    * freshly clustered files — the small-files compaction every
    * append-per-batch lake needs (each keep-open `addfiles` batch lands
    * its own files; hundreds of batches fragment the partition the
    * compile/scan jobs read). Fact tables keep their ocid clustering;
    * small per-collection tables coalesce to the single file
    * [[writeByCollection]] would have produced. The rewrite goes through
    * [[swapCollectionPartition]] — readers never see a half-compacted
    * partition, and a crashed compaction leaves the original whole. */
  def compactCollection(
      spark: SparkSession, path: String, collectionId: Long,
      clusterByOcid: Boolean,
      // preserved inner Hive partitions (check tables: check_bucket)
      innerPartition: Seq[String] = Nil): Long = {
    recoverSwapDebris(path, collectionId) // BEFORE the listing snapshot below
    val part = spark.read.parquet(path)
      .filter(col("collection_id") === collectionId)
    val clustered =
      if (clusterByOcid) part.repartition(col("ocid"))
      else if (innerPartition.nonEmpty) part.repartition(innerPartition.map(col): _*)
      else part.repartition(1)
    swapCollectionPartition(spark, path, collectionId, clustered, innerPartition)
  }

  /** Streaming-outcome maintenance (the record-outcome analogue of
    * [[compactCollection]]): `Streaming.recordCompileStream` lands one
    * `batch_id=N` partition per micro-batch forever — a long-lived stream
    * fragments its outcome table into thousands of tiny-file directories.
    * Fold every batch partition into the single highest one, preserving
    * the outcome rows; per-row micro-batch provenance collapses to the
    * fold id, which is dead weight once the stream has drained (its only
    * live role is the dynamic-partition-overwrite replay dedup while the
    * stream runs). MUST only run against a TERMINATED stream whose final
    * batch committed its checkpoint: to an in-flight replay of a folded
    * batch, the fold is indistinguishable from loss (the replay would
    * overwrite only its own, now-absent, partition).
    *
    * Commit protocol (same family as [[swapCollectionPartition]], tuned so
    * a concurrent reader can see brief DUPLICATES but never loss): the
    * folded rows land in an underscore-prefixed dir (invisible to Spark
    * readers, same filesystem) and a rename to `_fold_ready_batch_id=<max>`
    * marks them complete; promotion then replaces ONLY the `batch_id=<max>`
    * dir with the fold (the one sliver of loss window, bounded to that
    * single batch and healed by the fold itself) and sweeps the lower
    * batch dirs afterwards — a reader mid-sweep double-counts the
    * not-yet-swept batches (their rows are already in the fold) instead of
    * losing rows. A `_fold_sweeping_batch_id=<max>` marker brackets the
    * promote+sweep so a crash resumes the sweep on the next call rather
    * than starting a fresh fold over the duplicated residuals (which would
    * bake the double-counting into the new fold). A crash anywhere else
    * self-heals too: an unfinished write is deleted, a ready-but-
    * unpromoted fold is promoted; batches newer than the fold (a stream
    * resumed after the crash) are left alone. Returns the folded
    * partition's row count. */
  def compactOutcomes(spark: SparkSession, outDir: String): Long = {
    import java.nio.file.{Files => JF, Paths => JP}
    import scala.jdk.CollectionConverters._
    val table = JP.get(outDir)
    if (!JF.isDirectory(table)) return 0L
    val Ready = "_fold_ready_batch_id="
    val Sweeping = "_fold_sweeping_batch_id="
    def ls(): Seq[java.nio.file.Path] = {
      val stream = JF.list(table)
      try stream.iterator.asScala.toSeq finally stream.close()
    }
    def batchDirs(): Seq[java.nio.file.Path] =
      ls().filter(_.getFileName.toString.startsWith("batch_id="))
    def idOf(p: java.nio.file.Path): Long =
      p.getFileName.toString.dropWhile(_ != '=').drop(1).toLong
    def sweepBelow(max: Long): Unit =
      batchDirs().filter(idOf(_) < max).foreach(deleteDir)
    def promote(ready: java.nio.file.Path): Long = {
      val max = ready.getFileName.toString.stripPrefix(Ready).toLong
      val marker = table.resolve(s"$Sweeping$max")
      if (!JF.exists(marker)) JF.createFile(marker)
      val dest = table.resolve(s"batch_id=$max")
      deleteDir(dest)
      JF.move(ready, dest)
      sweepBelow(max)
      JF.delete(marker)
      spark.read.parquet(dest.toString).count()
    }
    deleteDir(table.resolve("_fold_tmp"))
    // resume a crashed fold: a ready dir is promoted (finishing its sweep);
    // a sweep marker without a ready dir means the fold IS live and only
    // the sweep is unfinished — complete it before anything reads or
    // refolds the duplicated residuals
    ls().find(_.getFileName.toString.startsWith(Ready)) match {
      case Some(ready) => promote(ready)
      case None =>
        ls().find(_.getFileName.toString.startsWith(Sweeping)).foreach { mk =>
          sweepBelow(mk.getFileName.toString.stripPrefix(Sweeping).toLong)
          JF.delete(mk)
        }
    }
    val parts = batchDirs()
    if (parts.isEmpty) return 0L
    val max = parts.map(idOf).max
    val tmp = table.resolve("_fold_tmp")
    spark.read.parquet(outDir).drop("batch_id")
      .repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val ready = table.resolve(s"$Ready$max")
    JF.move(tmp, ready)
    promote(ready)
  }

  /** Read back with partition pruning available on `collection_id`. */
  def readFacts(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** None for a missing OR fully-wiped table (a directory whose partitions
    * were all dropped has no parquet footers to infer a schema from) —
    * the read guard every optional lake table goes through.
    *
    * `merge = true` unions the schema across ALL footers instead of
    * sampling one — required for stores whose layout gained columns
    * across appends (the vector store's znorm/sq8 markers): without it,
    * which columns are visible depends on which footer Spark samples, so
    * a mixed-era store would nondeterministically toggle the marker
    * filters (ADVICE r19). Footer-only cost, paid per read, only on the
    * stores that evolve. */
  def readOrEmpty(
      spark: SparkSession, path: String, merge: Boolean = false): Option[DataFrame] =
    if (!new java.io.File(path).exists()) None
    else scala.util.Try(
      if (merge) spark.read.option("mergeSchema", "true").parquet(path)
      else spark.read.parquet(path)).toOption

  /** S8 store: one row per content hash, partitioned by hash prefix. The
    * keyed repartition takes an explicit task count
    * ([[graft.ocds.Compile.shuffleParallelism]]): AQE would coalesce the
    * small shuffle to ONE task that writes every bucket directory in turn.
    * Each bucket still lands wholly in one task — one file per touched
    * bucket directory. */
  def writeDedupStore(data: DataFrame, path: String, mode: String = "append"): Unit =
    data
      .withColumn("hash_bucket", hashBucket(col("hash_md5")))
      .repartition(Compile.shuffleParallelism(data.sparkSession), col("hash_bucket"))
      .write
      .partitionBy("hash_bucket")
      .mode(mode)
      .parquet(path)

  def readDedupStore(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def hashBucket(hash: Column): Column = substring(hash, 1, 2)

  /** The stored hashes sharing a `hash_bucket` with `rows` — the anti-join
    * side of S8's insert-if-absent, statically pruned to the touched
    * bucket partitions (a driver-side isin bounded by the 256-value bucket
    * domain, the [[graft.Pipeline.checkedSlice]] idiom), so a batch reads
    * its buckets' share of the store, not all of it. The schema is given:
    * a store whose buckets all look numeric ("07", "42") would otherwise
    * infer an integer partition column. None while no store exists. */
  def dedupStoreSlice(spark: SparkSession, path: String, rows: DataFrame): Option[DataFrame] =
    if (!new java.io.File(path).exists()) None
    else {
      import spark.implicits._
      val touched = rows.select(hashBucket(col("hash_md5"))).distinct().as[String].collect()
      Some(spark.read.schema("hash_md5 STRING, hash_bucket STRING")
        .parquet(path)
        .filter(col("hash_bucket").isin(touched.toIndexedSeq: _*))
        .select("hash_md5"))
    }

  /** Sink for small per-collection tables (collection_note, package_data):
    * same collection_id partitioning as the fact tables (wipes stay
    * partition drops) but no ocid clustering — one coalesced file per
    * collection instead of one per shuffle partition. */
  def writeByCollection(rows: DataFrame, path: String, mode: String = "append"): Unit =
    rows
      .repartition(col("collection_id"))
      .write
      .partitionBy("collection_id")
      .mode(mode)
      .parquet(path)

  /** Bucket count for the check tables' id-pruning partitions — the same
    * 64-dir sizing trade as the streaming stores' bucket domains. */
  val CheckBuckets = 64

  /** The check-table writer (release_check / record_check): like
    * [[writeByCollection]] — collection_id stays the OUTER partition, so
    * tree wipes remain O(directories) and per-collection reads prune —
    * plus an INNER `check_bucket = pmod(id, 64)` partition, so the
    * streaming checker's per-batch idempotence anti-join reads only the
    * batch ids' buckets instead of the collection's whole check history
    * (VERDICT r15 finding #1: the anti-join side grew with stream
    * lifetime). One narrow shuffle on the partition pair keeps per-batch
    * file counts = touched buckets; like [[writeDedupStore]] it takes an
    * explicit task count, so AQE cannot funnel every bucket through one
    * writer task. A lake whose check tables were
    * written by the pre-bucket (flat collection_id) layout needs a
    * one-time rewrite: the layouts cannot mix inside one table, and an
    * append would corrupt partition discovery for EVERY later read — so
    * the writer FAILS FAST on a detected flat layout instead of
    * corrupting (code-review r16). */
  def writeChecks(rows: DataFrame, path: String, mode: String = "append"): Unit = {
    requireBucketedCheckLayout(path)
    rows
      .withColumn("check_bucket", pmod(col("id"), lit(CheckBuckets.toLong)))
      .repartition(Compile.shuffleParallelism(rows.sparkSession),
        col("collection_id"), col("check_bucket"))
      .write
      .partitionBy("collection_id", "check_bucket")
      .mode(mode)
      .parquet(path)
  }

  /** Refuse to append the bucketed layout into a pre-bucket flat check
    * table: a collection partition holding data FILES directly (instead
    * of check_bucket= subdirectories) is the old layout, and mixing the
    * two makes the whole table unreadable (conflicting directory
    * structures) on the next scan. */
  private def requireBucketedCheckLayout(path: String): Unit = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    if (!JF.isDirectory(table)) return
    import scala.jdk.CollectionConverters._
    val colls = { val s = JF.list(table)
      try s.iterator.asScala.toSeq.filter(p =>
        JF.isDirectory(p) && p.getFileName.toString.startsWith("collection_id="))
      finally s.close() }
    val flat = colls.find { c =>
      val s = JF.list(c)
      try s.iterator.asScala.exists(f =>
        JF.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    flat.foreach { c =>
      throw new IllegalStateException(
        s"$path holds the pre-bucket flat check layout (${c.getFileName} has " +
          "bare part files); rewrite the table once (read -> writeChecks to a " +
          "fresh directory) before appending bucketed checks")
    }
  }

  /** Training-shard writer — materializes a sharded layout frame
    * (`TextQueries.shuffleExportOf(docs, n, payloadCols)` — (shard, seq,
    * ...) rows — or `mixEpochExportOf`'s (shard, vtime, ...) epoch via
    * `orderCols`) as the files a training run actually reads: one
    * JSON-lines file per shard under `dir/shard=N/`, rows in `orderCols`
    * order. `orderCols` must be a TOTAL order within a shard (seq is; the
    * epoch's (vtime, source, doc_id, k) is) — a tie would make the
    * in-file order, and so the bytes, partitioning-dependent.
    *
    * Layout contract, pinned by SinkSpec:
    *  - exactly ONE file per shard: `repartition(col("shard"))` puts each
    *    shard wholly inside one task (several shards may share a task;
    *    the partitionBy writer still splits them into their own
    *    directories, each receiving its rows in the task's sorted order);
    *  - in-file order is (`orderCols` ascending — seq for the shuffle
    *    layout, the epoch's schedule key for --epoch exports) —
    *    `sortWithinPartitions` before the projection, which is narrow
    *    and order-preserving;
    *  - bytes are REPRODUCIBLE: content-stable layout + total in-shard
    *    order + deterministic JSON field order means two writes from
    *    differently-partitioned inputs produce byte-identical shard files
    *    (file NAMES carry task/attempt ids and differ — readers list the
    *    directory).
    * Parallelism == shard count, the export's own knob (a 100 TB export
    * uses O(10k) shards, so no writer task exceeds a shard's size). */
  def writeShards(
      laidOut: DataFrame, dir: String,
      orderCols: Seq[String] = Seq("seq")): Unit = {
    val payload = laidOut.columns.filterNot(_ == "shard")
    laidOut
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard") +: orderCols.map(col): _*)
      // ignoreNullFields=false: Spark's default DROPS null fields from
      // to_json, which would give the export a ragged schema — a doc with
      // null text would emit no "text" key at all and break readers that
      // index into it; null must serialize as an explicit JSON null
      .select(col("shard"),
        to_json(struct(payload.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "false")).as("value"))
      .write.partitionBy("shard").mode("overwrite").text(dir)
  }

  /** The serving-copy writer (reference: PostgreSQL bulk_create in batches
    * of 1000). Contract-only here — no database in the harness. */
  def writeJdbc(df: DataFrame, url: String, table: String, batchSize: Int = 1000): Unit =
    df.write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .mode("append")
      .save()
}
