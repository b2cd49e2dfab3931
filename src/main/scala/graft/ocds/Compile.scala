package graft.ocds

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Spark job wrapping the pure [[Merge]] engine — the compile-releases
  * flagship (SURVEY.md §2 A6/A7; reference
  * `process/processors/compiler.py:21-114`).
  *
  * Physical plan, chosen for the 100 TB shape:
  *
  *   scan → hash `repartition($"ocid")` → `sortWithinPartitions(ocid, date,
  *   tiebreak)` → `mapPartitions` streaming CONSECUTIVE groups
  *
  * i.e. exactly one shuffle keyed on ocid, then a single narrow pass per
  * partition. The per-group iterator buffers only one contracting process's
  * releases at a time — the same bound as the reference's `iterator() +
  * groupby` scan ("Some OCIDs have thousands of releases",
  * `compiler.py:61-65`) — never the whole partition, so executor memory is
  * independent of partition size. Merge results are reduced to plain case
  * classes INSIDE the partition, so no Jackson tree ever crosses an
  * encoder/serialization boundary.
  */
object Compile {

  /** One compiled contracting process, summarized into oracle-comparable
    * scalars. */
  final case class CompiledSummary(
      ocid: String,
      compiled_id: String,
      max_date: String,
      tender_status: String,
      tender_amount: Double,
      n_parties: Long,
      n_releases: Long,
      n_warnings: Long)

  /** One merge warning, path-keyed (A7). Duplicate-id warnings carry their
    * JSON path; repeated-date warnings are keyed "(date)". */
  final case class WarningRow(ocid: String, path: String)

  /** Streams consecutive same-key rows of a SORTED iterator as one group —
    * memory bound = largest single group, never the partition. Shared by
    * every per-ocid job (release compile, record compile, …). */
  def consecutiveGroups[R](it: Iterator[R])(key: R => String): Iterator[(String, Seq[R])] = {
    val b = it.buffered
    new Iterator[(String, Seq[R])] {
      def hasNext: Boolean = b.hasNext
      def next(): (String, Seq[R]) = {
        val k = key(b.head)
        val buf = mutable.ArrayBuffer.empty[R]
        while (b.hasNext && key(b.head) == k) buf += b.next()
        k -> buf.toSeq
      }
    }
  }

  private def groupedByKey(it: Iterator[(String, String)]): Iterator[(String, Seq[String])] =
    consecutiveGroups(it)(_._1).map { case (k, rows) => k -> rows.map(_._2) }

  /** Partition count for keyed repartitions whose consumers are CPU- or
    * file-bound rather than byte-bound: the merge stages here (compact rows
    * feeding a ~µs-per-row Jackson merge) and the lake's bucket-partitioned
    * writes (`Sink.writeDedupStore`/`writeChecks`, where each bucket
    * directory costs a Parquet writer plus a commit). AQE's BYTE-based
    * coalescing (advisory size / minPartitionSize) serializes exactly these
    * stages — measured q_compile_ocds running its whole merge on 5 of 24
    * available slots, and a 256-bucket dedup-store append on one task. An
    * EXPLICIT numPartitions on the keyed repartition opts the exchange out
    * of AQE coalescing at the value the operator already configured
    * (spark.sql.shuffle.partitions — the env-driven knob the harness and a
    * real cluster both set), so the stage's parallelism follows the
    * configured cores, not the shuffle's byte count. */
  def shuffleParallelism(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** The shared physical plan: one ocid-keyed shuffle + sorted single-pass
    * merge; `f` reduces each (ocid, result) to encodable rows in-partition.
    * `releases` must have columns (ocid, date, tiebreak, release). */
  private def perGroup[T: Encoder](releases: DataFrame, s: SparkSession)(
      f: (String, Int, Merge.Result) => IterableOnce[T]): Dataset[T] = {
    import s.implicits._
    releases
      .repartition(shuffleParallelism(s), col("ocid"))
      .sortWithinPartitions("ocid", "date", "tiebreak")
      .select("ocid", "release")
      .as[(String, String)]
      .mapPartitions(it => groupedByKey(it).flatMap { case (ocid, rels) =>
        f(ocid, rels.size, Merge.compile(ocid, rels))
      })
  }

  /** Summarize one already-compiled release document into the summary row
    * the merge engine emits — shared by the merge path and the DIRECT
    * compiled-release loads (compiled-release format files,
    * `file_worker.py:371-380`; record-embedded compiledRelease fallbacks).
    * Generic OCDS data may omit any of these paths — absent fields
    * summarize as null/0, they must never kill the job. */
  def summarizeDoc(
      ocid: String, c: com.fasterxml.jackson.databind.JsonNode,
      nReleases: Long, nWarnings: Long): CompiledSummary = {
    def at(path: String*): Option[com.fasterxml.jackson.databind.JsonNode] =
      path.foldLeft(Option(c)) { (n, f) => n.flatMap(x => Option(x.get(f))) }
    CompiledSummary(
      ocid = ocid,
      compiled_id = at("id").map(_.asText).orNull,
      max_date = at("date").map(_.asText).orNull,
      tender_status = at("tender", "status").map(_.asText).orNull,
      tender_amount = at("tender", "value", "amount")
        .map(_.decimalValue.doubleValue).getOrElse(0.0),
      n_parties = at("parties").map(_.size.toLong).getOrElse(0L),
      n_releases = nReleases,
      n_warnings = nWarnings)
  }

  private def summarize(ocid: String, nRel: Int, res: Merge.Result): Seq[CompiledSummary] =
    res.compiled.toSeq.map(c =>
      summarizeDoc(ocid, c, nRel.toLong, res.warnings.size.toLong))

  private def toWarningRow(ocid: String, w: Merge.MergeWarning): WarningRow = w match {
    case Merge.DuplicateIdValue(path, _) => WarningRow(ocid, path)
    case Merge.RepeatedDateValue(_, _)   => WarningRow(ocid, "(date)")
    case Merge.NonObjectRelease(_)       => WarningRow(ocid, "(non-object)")
  }

  /** Compile + extract the summary scalars the oracle can cross-check.
    * A group whose merge fails (all releases non-object) yields NO summary
    * row instead of killing the job — the reference records an ERROR
    * CollectionNote for that ocid and keeps compiling the rest
    * (`compile_releases` error path, `processors/compiler.py:75-84`); here
    * the failure surfaces as a `(non-object)` row in [[warnings]]. */
  def summaries(releases: DataFrame, s: SparkSession): Dataset[CompiledSummary] = {
    import s.implicits._
    perGroup(releases, s)((ocid, nRel, res) => summarize(ocid, nRel, res))
  }

  /** Summary + warning rows from ONE merge pass (one shuffle) — the
    * pipeline's shape: the reference emits compiled releases and their
    * notes in the same group scan (`compiler.py:60-84`); running
    * [[summaries]] and [[warnings]] separately would merge every group
    * twice. Exactly one of the two fields is set per row; split with a
    * filter after persisting. */
  final case class CompileOut(summary: Option[CompiledSummary], warning: Option[WarningRow])

  def summariesAndWarnings(releases: DataFrame, s: SparkSession): Dataset[CompileOut] = {
    import s.implicits._
    perGroup(releases, s) { (ocid, nRel, res) =>
      summarize(ocid, nRel, res).map(x => CompileOut(Some(x), None)) ++
        res.warnings.map(w => CompileOut(None, Some(toWarningRow(ocid, w))))
    }
  }

  /** One extension-ruled compiled process (A8 output row). */
  final case class ExtSummary(ocid: String, n_parties: Long, n_extensions: Long)

  /** A8/F13: the same one-shuffle plan, but each group unions its rows'
    * package extension sets (the reference collects them during the group
    * scan, `processors/compiler.py:68-72`) and derives the merge rules from
    * the union via [[Extensions]]; rules are cached per distinct set within
    * the partition, mirroring the reference's `lru_cache`d merger
    * (`compiler.py:170-177`). `releases` needs columns
    * (ocid, date, tiebreak, release, extensions: array<string>). */
  def summariesWithExtensions(
      releases: DataFrame, s: SparkSession,
      registry: Map[String, Extensions.RuleDelta] = Extensions.defaultRegistry): Dataset[ExtSummary] = {
    import s.implicits._
    releases
      .repartition(shuffleParallelism(s), col("ocid"))
      .sortWithinPartitions("ocid", "date", "tiebreak")
      .select("ocid", "release", "extensions")
      .as[(String, String, Seq[String])]
      .mapPartitions { it =>
        val rulesCache = mutable.Map.empty[Set[String], Merge.Rules]
        consecutiveGroups(it)(_._1).map { case (ocid, rows) =>
          val exts = Extensions.applyDependencies(rows.iterator.flatMap(_._3).toSet)
          val rules = rulesCache.getOrElseUpdate(exts, Extensions.rulesFor(exts, registry))
          val res = Merge.compile(ocid, rows.map(_._2), rules)
          val nParties = res.compiled.flatMap(c => Option(c.get("parties")))
            .map(_.size.toLong).getOrElse(0L)
          ExtSummary(ocid, nParties, exts.size.toLong)
        }
      }
  }

  /** One record-compile note (code ∈ INFO/WARNING/ERROR). `ocid` names the
    * record the note describes — the reference stores the same context in
    * the note's `data` JSON, and it is the key that makes a replayed
    * batch's note writes deduplicable (follow-up texts like "Its
    * compiledRelease was used." repeat VERBATIM across ocids, so text
    * alone cannot key idempotence). */
  final case class RecordNote(code: String, note: String, ocid: String)

  /** One record-compile output row; exactly one field is set. */
  final case class RecordOut(summary: Option[CompiledSummary], note: Option[RecordNote])

  /** The record_compiler's per-ocid job (`record_compiler.py:51-160`) as
    * the same one-shuffle sorted-group plan as [[summaries]]: group records
    * by ocid, elect the FIRST record in (filename, record_seq) order — the
    * reference's order-by-insertion-id pick (`record_compiler.py:58-76`)
    * made deterministic for a distributed load — warn when the ocid occurs
    * more than once (`"OCID … occurs N times."`), and run the pure
    * [[RecordCompile]] decision tree on the elected record. `records`
    * needs columns (ocid, filename, record_seq, record). */
  def recordSummariesAndNotes(records: DataFrame, s: SparkSession): Dataset[RecordOut] = {
    import s.implicits._
    records
      .repartition(shuffleParallelism(s), col("ocid"))
      .sortWithinPartitions("ocid", "filename", "record_seq")
      .select("ocid", "record")
      .as[(String, String)]
      .mapPartitions(it => consecutiveGroups(it)(_._1).flatMap { case (ocid, rows) =>
        val out = mutable.ArrayBuffer.empty[RecordOut]
        if (rows.size > 1)
          out += RecordOut(None, Some(RecordNote("WARNING", s"OCID $ocid occurs ${rows.size} times.", ocid)))
        Canonical.parse(rows.head._2) match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            val d = RecordCompile.decide(ocid, o)
            d.notes.foreach(n => out += RecordOut(None, Some(RecordNote(n.level, n.text, ocid))))
            d.compiled.foreach(c => out += RecordOut(
              Some(summarizeDoc(ocid, c, d.classification.total.toLong, d.notes.size.toLong)), None))
          case _ => () // a non-object record cannot be compiled; decide()'s
            // callers never see it (extraction already yields objects only)
        }
        out
      })
  }

  /** Compile + emit the warning side-output, one row per warning (A7). */
  def warnings(releases: DataFrame, s: SparkSession): Dataset[WarningRow] = {
    import s.implicits._
    perGroup(releases, s)((ocid, _, res) => res.warnings.map(toWarningRow(ocid, _)))
  }
}
