package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.ocds.{Canonical, Compile, RecordCompile, Upgrade}

/** OCDS compile-releases wired into Spark (SURVEY.md §2 A6/A7 — the
  * reference's flagship transform, `process/processors/compiler.py:21-114`).
  *
  * The driver's tables carry no OCDS documents, so releases are SYNTHESIZED
  * deterministically from `events`: one release per event, ocid per user,
  * date = zero-padded epoch-micros (lexicographic == numeric order, exactly
  * the reference's ISO-string ordering semantics), scalar fields under
  * `tender.*` (exercises last-write-wins), and id-keyed `parties`/`awards`
  * arrays (exercises id-merge + duplicate-id warnings). The DuckDB oracle
  * recomputes the same semantics relationally (window functions), so a green
  * hash-match checks the WHOLE engine: flatten, id-keyed array merge,
  * last-write-wins, date/id synthesis, warning emission.
  *
  * Fine-grained merge semantics (nulls, nested arrays, whole-list merge,
  * non-object releases) are pinned by the MergeSpec goldens ported from
  * `tests/processors/test_compiler.py`.
  */
object OcdsQueries {

  /** Per-release upgrade summary (q_upgrade_parties output row). */
  final case class UpgradeSummary(
      event_id: Long, n_parties: Long, n_warnings: Long, buyer_id: String)

  /** Per-record decision-tree summary (q_record_classify output row). */
  final case class RecordSummary(
      ocid: String, n_total: Long, n_dated: Long, n_undated: Long,
      n_linked: Long, n_tagged: Long, outcome: String, compiled_id: String,
      n_notes: Long)

  /** One synthetic OCDS release per event.
    * Columns: ocid, date, tiebreak, release (JSON text).
    * The dupIds=true variant (the warnings/notes family's input) is
    * materialized once per JVM as real parquet ([[Tables.materialize]]) —
    * the reference's release table is persistent storage, and bench cost
    * should attribute to the engines, not to re-running the generator. */
  private[graft] def releasesFromEvents(s: SparkSession, d: String, dupIds: Boolean): DataFrame =
    // BOTH variants materialized once per JVM (r20 — the dup variant's
    // rationale verbatim): the reference's release table is persistent
    // storage, and the to_json generator is ~8 µs/row pinned on the
    // single-row-group events scan's one task, re-executed per consumer
    // subtree otherwise; the multi-file parquet read also gives the
    // downstream merge a parallel scan
    if (dupIds) Tables.materialize("releases_dup", d, buildReleasesFromEvents(s, d, dupIds = true))
    else Tables.materialize("releases_plain", d, buildReleasesFromEvents(s, d, dupIds = false))

  private def buildReleasesFromEvents(s: SparkSession, d: String, dupIds: Boolean): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    val parties =
      if (dupIds)
        array(
          struct((k % 5).as("id"), concat(lit("P"), k % 5).as("name")),
          struct((k % 3).as("id"), concat(lit("P"), k % 3).as("name")))
      else
        array(struct((k % 5).as("id"), concat(lit("P"), k % 5).as("name")))
    val awards =
      if (dupIds)
        array(
          struct((k % 7).as("id"), lit("active").as("status")),
          struct((k % 2).as("id"), lit("active").as("status")))
      else
        array(struct((k % 7).as("id"), lit("active").as("status")))
    // no fanOut here: every consumer immediately groups by ocid, and that
    // shuffle already spreads the merge engine across cores — an extra
    // repartition exchange measured as pure cost (r5 A/B)
    Tables.events(s, d).select(
      concat(lit("ocds-"), col("user_id")).as("ocid"),
      lpad(col("ts_us").cast(StringType), 20, "0").as("date"),
      col("event_id").as("tiebreak"),
      to_json(struct(
        lpad(col("ts_us").cast(StringType), 20, "0").as("date"),
        col("event_id").cast(StringType).as("id"),
        struct(
          col("event_type").as("status"),
          struct(col("value").as("amount")).as("value")).as("tender"),
        parties.as("parties"),
        awards.as("awards"))).as("release"))
  }

  /** Shared oracle prelude: the same synthesized releases, relationally. */
  private val OracleRel =
    """SELECT 'ocds-' || CAST(user_id AS VARCHAR) AS ocid,
              event_id,
              lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') AS rdate,
              event_type, value,
              CAST(props->>'$.k' AS BIGINT) AS k
       FROM events"""

  /** One synthetic OCDS **1.0** release per event (inline organizations, no
    * parties array): buyer, procuringEntity (== buyer for even users),
    * one tenderer, one supplier that matches the tenderer but (for k%3==0)
    * carries an extra `details` field — the exact shape of the reference's
    * upgrade golden (`tests/test_util.py:17-20`). */
  private[graft] def releases10FromEvents(s: SparkSession, d: String): DataFrame =
    // materialized once per JVM; fanOut on the READ side — the parquet
    // scan coalesces small files by bytes, but the consumer (the upgrade
    // engine) is CPU-bound per row
    Tables.fanOut(Tables.materialize("releases10", d, buildReleases10FromEvents(s, d)))

  private def buildReleases10FromEvents(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    val u = col("user_id")
    val buyerName = concat(lit("Buyer-"), u % 7)
    val peName = when(u % 2 === 0, buyerName).otherwise(concat(lit("PE-"), u % 7))
    val tName = concat(lit("T-"), k % 5)
    Tables.events(s, d).select(
      col("event_id"),
      to_json(struct(
        struct(buyerName.as("name")).as("buyer"),
        struct(
          struct(peName.as("name")).as("procuringEntity"),
          array(struct(tName.as("name"))).as("tenderers")).as("tender"),
        array(struct(array(struct(
          tName.as("name"),
          when(k % 3 === 0, lit("d")).otherwise(lit(null).cast(StringType)).as("details")))
          .as("suppliers"))).as("awards"))).as("release"))
  }

  /** One synthetic record release per event, shaped to hit every branch of
    * the record-compile decision tree: user%7==3 → all undated; user%5==1 →
    * linked stubs (url+date only); user%11==4 → some releases tagged
    * `compiled`; user%3==0 → the record embeds a compiledRelease. */
  private def recordRowsFromEvents(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    val u = col("user_id")
    val ocid = concat(lit("ocds-"), u)
    val dateStr = lpad(col("ts_us").cast(StringType), 20, "0")
    val undated = (u % 7 === 3) || (u % 7 === 2 && k % 3 === 0)
    val stub = u % 5 === 1
    val nullS = lit(null).cast(StringType)
    // no fanOut: the record-compile consumer groups by ocid (same reasoning
    // as releasesFromEvents above)
    Tables.events(s, d).select(
      ocid.as("ocid"),
      col("event_id").as("tiebreak"),
      (u % 3 === 0).as("has_cr"),
      to_json(struct(
        when(stub, nullS).otherwise(ocid).as("ocid"),
        when(stub, nullS).otherwise(col("event_id").cast(StringType)).as("id"),
        when(undated, nullS).otherwise(dateStr).as("date"),
        when(stub, nullS).otherwise(
          when(u % 11 === 4 && k % 2 === 0, lit("compiled")).otherwise(lit("planning"))).as("tag0"),
        when(stub, concat(lit("http://x/"), col("event_id"))).otherwise(nullS).as("url"),
        when(stub, lit(null).cast(StringType)).otherwise(col("event_type")).as("status")))
        .as("release"))
  }

  /** Record-compile job: same one-shuffle sorted-group plan as
    * [[Compile]], then the pure decision tree per record. */
  private def recordClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    recordRowsFromEvents(s, d)
      .repartition(col("ocid"))
      .sortWithinPartitions("ocid", "tiebreak")
      .select("ocid", "has_cr", "release")
      .as[(String, Boolean, String)]
      .mapPartitions { it =>
        Compile.consecutiveGroups(it)(_._1).map { case (ocid, rows) =>
          val record = Canonical.mapper.createObjectNode()
          val releases = Canonical.mapper.createArrayNode()
          rows.foreach { case (_, _, json) =>
            // tag0 is a to_json-friendly scalar; expand to the OCDS list form
            val r = Canonical.parse(json).asInstanceOf[ObjectNode]
            Option(r.remove("tag0")).filter(_.isTextual).foreach { t =>
              val tags = Canonical.mapper.createArrayNode(); tags.add(t.asText)
              r.set[JsonNode]("tag", tags)
            }
            releases.add(r)
          }
          record.set[JsonNode]("releases", releases)
          if (rows.head._2) {
            val cr = Canonical.mapper.createObjectNode()
            cr.put("id", s"$ocid-CR")
            record.set[JsonNode]("compiledRelease", cr)
          }
          val dcn = RecordCompile.decide(ocid, record)
          val c = dcn.classification
          RecordSummary(
            ocid, c.total.toLong, c.dated.toLong, c.undated.toLong,
            c.linked.toLong, c.tagged.toLong, dcn.outcome,
            dcn.compiled.flatMap(o => Option(o.get("id")).map(_.asText)).orNull,
            dcn.notes.size.toLong)
        }
      }
      .toDF()
      .orderBy("ocid")
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_compile_ocds", Seq("A6", "W1", "O1", "F8", "J8"),
      (s, d) => Compile.summaries(releasesFromEvents(s, d, dupIds = false), s)
        .toDF()
        .orderBy("ocid"),
      Some(s"""WITH r AS ($OracleRel),
               w AS (SELECT ocid, event_id, rdate, event_type, value, k % 5 AS party,
                            row_number() OVER (PARTITION BY ocid
                                               ORDER BY rdate DESC, event_id DESC) AS rn,
                            CASE WHEN rdate = lag(rdate) OVER (PARTITION BY ocid
                                                               ORDER BY rdate, event_id)
                                 THEN 1 ELSE 0 END AS rep
                     FROM r)
               SELECT ocid,
                      ocid || '-' || max(rdate) AS compiled_id,
                      max(rdate) AS max_date,
                      max(CASE WHEN rn = 1 THEN event_type END) AS tender_status,
                      max(CASE WHEN rn = 1 THEN value END) AS tender_amount,
                      count(DISTINCT party) AS n_parties,
                      count(*) AS n_releases,
                      CAST(sum(rep) AS BIGINT) AS n_warnings
               FROM w GROUP BY ocid ORDER BY ocid"""),
      "Compile-releases flagship: per-ocid sorted merge via graft.ocds.Merge inside one shuffle + narrow pass; oracle recomputes last-write-wins/id-merge relationally"),

    QueryDef(
      "q_compile_warnings", Seq("A7", "A1"),
      (s, d) => Compile.warnings(releasesFromEvents(s, d, dupIds = true), s)
        .toDF()
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy("path"),
      Some(s"""WITH r AS ($OracleRel),
               d AS (SELECT CASE WHEN rdate = lag(rdate) OVER (PARTITION BY ocid
                                                               ORDER BY rdate, event_id)
                                 THEN 1 ELSE 0 END AS rep
                     FROM r)
               SELECT path, n FROM (
                 SELECT 'parties' AS path, count(*) AS n FROM r WHERE k % 5 = k % 3
                 UNION ALL
                 SELECT 'awards' AS path, count(*) AS n FROM r WHERE k % 7 = k % 2
                 UNION ALL
                 SELECT '(date)' AS path, CAST(coalesce(sum(rep), 0) AS BIGINT) AS n FROM d)
               WHERE n > 0 ORDER BY path"""),
      "Warning aggregation by path (A7): duplicate-id + repeated-date side-outputs of the merge, grouped per JSON path (compiler.py:154-165)"),

    QueryDef(
      "q_compile_extensions", Seq("A8", "F13", "A6"),
      (s, d) => {
        // releases with parties + per-row package extension sets: rows with
        // even k carry a registry extension that flips `parties` to
        // wholeListMerge; rows with k%3==0 carry the lots extension, whose
        // dependency rule pulls in submissionTerms (util.py:180-182). The
        // group-level UNION decides the rules for the whole ocid.
        val k = get_json_object(col("props"), "$.k").cast(LongType)
        val emptyArr = array().cast("array<string>")
        val wl = when(k % 2 === 0, array(lit("urn:graft:wholeListParties"))).otherwise(emptyArr)
        val lots = when(k % 3 === 0,
          array(lit(graft.ocds.Extensions.extensionUrl("lots")))).otherwise(emptyArr)
        val releases = Tables.events(s, d).select(
          concat(lit("ocds-"), col("user_id")).as("ocid"),
          lpad(col("ts_us").cast(StringType), 20, "0").as("date"),
          col("event_id").as("tiebreak"),
          to_json(struct(
            lpad(col("ts_us").cast(StringType), 20, "0").as("date"),
            col("event_id").cast(StringType).as("id"),
            array(struct((k % 5).as("id"), concat(lit("P"), k % 5).as("name")))
              .as("parties"))).as("release"),
          concat(wl, lots).as("extensions"))
        Compile.summariesWithExtensions(releases, s).toDF().orderBy("ocid")
      },
      Some(s"""WITH r AS ($OracleRel),
               g AS (SELECT ocid,
                            max(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS wl,
                            max(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS lots,
                            count(DISTINCT k % 5) AS dp
                     FROM r GROUP BY ocid)
               SELECT ocid,
                      CAST(CASE WHEN wl = 1 THEN 1 ELSE dp END AS BIGINT) AS n_parties,
                      CAST(wl + 2 * lots AS BIGINT) AS n_extensions
               FROM g ORDER BY ocid"""),
      "Extension-driven merge rules (A8/F13): per-ocid union of package extension sets; " +
        "a registry extension flips parties to wholeListMerge (last array wins, size 1) " +
        "vs id-merge (distinct ids); lots pulls in submissionTerms via the dependency rule"),

    QueryDef(
      "q_compile_versioned", Seq("A6", "W1", "O1"),
      (s, d) => {
        import s.implicits._
        // same one-shuffle sorted-group plan as the compiled merge, but the
        // engine emits per-field change HISTORY (Merge.versioned — the
        // public ocdsmerge spec's other half, beyond reference parity)
        releasesFromEvents(s, d, dupIds = false)
          // explicit N: opt out of AQE's byte-based coalescing for the
          // CPU-dense versioned merge (Compile.shuffleParallelism's note)
          .repartition(Compile.shuffleParallelism(s), col("ocid"))
          .sortWithinPartitions("ocid", "date", "tiebreak")
          .select("ocid", "release")
          .as[(String, String)]
          .mapPartitions { it =>
            Compile.consecutiveGroups(it)(_._1).map { case (ocid, rows) =>
              val v = graft.ocds.Merge.versioned(ocid, rows.map(_._2)).versioned.get
              val statusN = v.get("tender").get("status").size.toLong
              val amountN = v.get("tender").get("value").get("amount").size.toLong
              // each party's name is a function of its id here, so every
              // item carries exactly one name entry → sum == distinct ids
              val parties = v.get("parties")
              val partyNames = (0 until parties.size)
                .map(i => parties.get(i).get("name").size.toLong).sum
              (ocid, statusN, amountN, partyNames)
            }
          }
          .toDF("ocid", "n_status_versions", "n_amount_versions", "n_party_names")
          .orderBy("ocid")
      },
      Some(s"""WITH r AS ($OracleRel),
               ord AS (
                 SELECT ocid, event_type, value, k,
                        row_number() OVER w AS rn,
                        lag(event_type) OVER w AS prev_status,
                        lag(value) OVER w AS prev_amount
                 FROM r WINDOW w AS (PARTITION BY ocid ORDER BY rdate, event_id))
               SELECT ocid,
                      CAST(sum(CASE WHEN rn = 1 OR event_type <> prev_status
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_status_versions,
                      CAST(sum(CASE WHEN rn = 1 OR value <> prev_amount
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_amount_versions,
                      CAST(count(DISTINCT k % 5) AS BIGINT) AS n_party_names
               FROM ord GROUP BY ocid ORDER BY ocid"""),
      "Versioned-release merge (the public ocdsmerge spec beyond the reference's compiled-" +
        "only surface): per-field change history per ocid; the oracle replays entry counts " +
        "as lag()-change detection and distinct party ids relationally"),

    QueryDef(
      "q_upgrade_parties", Seq("F11", "F5", "F8"),
      (s, d) => {
        import s.implicits._
        releases10FromEvents(s, d) // already fanned out below its projection
          .as[(Long, String)]
          .mapPartitions(_.map { case (eid, json) =>
            // the parsed tree is row-private: in-place avoids the deep copy
            val res = Upgrade.upgradeInPlace(Canonical.parse(json).asInstanceOf[ObjectNode])
            UpgradeSummary(
              eid,
              res.release.get("parties").size().toLong,
              res.warnings.size.toLong,
              res.release.get("buyer").get("id").asText)
          })
          .toDF()
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
                     CAST(CASE WHEN user_id % 2 = 0 THEN 2 ELSE 3 END AS BIGINT) AS n_parties,
                     CAST(CASE WHEN CAST(props->>'$.k' AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_warnings,
                     md5('Buyer-' || CAST(user_id % 7 AS VARCHAR) || '----') AS buyer_id
              FROM events ORDER BY event_id"""),
      "OCDS 1.0→1.1 upgrade (F11) over synthesized 1.0 releases: parties collection, md5 id synthesis (oracle recomputes the hash), role merge, differs-warnings"),

    QueryDef(
      "q_record_classify", Seq("P5", "A9", "O2", "F12", "W2"),
      (s, d) => recordClassify(s, d),
      Some("""WITH r AS (
                SELECT 'ocds-' || CAST(user_id AS VARCHAR) AS ocid,
                       user_id AS u, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS k,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') AS d0
                FROM events),
              rr AS (
                SELECT ocid, u, event_id,
                       CASE WHEN u % 7 = 3 OR (u % 7 = 2 AND k % 3 = 0) THEN NULL ELSE d0 END AS rdate,
                       CASE WHEN u % 5 = 1 THEN 1 ELSE 0 END AS stub,
                       CASE WHEN u % 5 <> 1 AND u % 11 = 4 AND k % 2 = 0 THEN 1 ELSE 0 END AS tagged
                FROM r),
              cls AS (
                SELECT ocid,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(count(rdate) AS BIGINT) AS n_dated,
                       CAST(count(*) - count(rdate) AS BIGINT) AS n_undated,
                       CAST(coalesce(sum(CASE WHEN rdate IS NOT NULL AND stub = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_linked,
                       CAST(coalesce(sum(tagged), 0) AS BIGINT) AS n_tagged,
                       max(rdate) AS max_rdate,
                       min(CASE WHEN tagged = 1 THEN event_id END) AS first_tagged,
                       (min(u) % 3 = 0) AS has_cr
                FROM rr GROUP BY ocid)
              SELECT ocid, n_total, n_dated, n_undated, n_linked, n_tagged,
                     CASE WHEN n_dated > 0 AND n_linked = 0 THEN 'merged'
                          WHEN has_cr THEN 'compiledRelease'
                          WHEN n_tagged > 0 THEN 'tagged'
                          ELSE 'none' END AS outcome,
                     CASE WHEN n_dated > 0 AND n_linked = 0 THEN ocid || '-' || max_rdate
                          WHEN has_cr THEN ocid || '-CR'
                          WHEN n_tagged > 0 THEN CAST(first_tagged AS VARCHAR)
                          ELSE NULL END AS compiled_id,
                     CAST(CASE WHEN n_dated > 0 AND n_linked = 0
                               THEN CASE WHEN n_undated > 0 THEN 1 ELSE 0 END
                               ELSE 2 END AS BIGINT) AS n_notes
              FROM cls ORDER BY ocid"""),
      "Record-compile decision tree (record_compiler.py:78-143): classification counts (A9), linked-release predicate (F12), in-group date sort (O2), fallback order; oracle replays the tree relationally"),

    QueryDef(
      "q_record_elect", Seq("A9", "W2", "O2", "A7", "S7"),
      (s, d) => {
        // the BATCH record-compile engine of the load pipeline
        // (Compile.recordSummariesAndNotes; file_worker record routing +
        // record_compiler election): one record per event, several records
        // per ocid — the engine elects the FIRST in (filename, record_seq)
        // order, warns "OCID … occurs N times." on duplicates, and
        // decision-trees the elected record (all dated here → merged).
        // Oracle replays the election with a window row_number and builds
        // the same summary + warning rows relationally.
        val u = col("user_id")
        val eid = col("event_id").cast(StringType)
        val ocid = concat(lit("ocds-"), u)
        val dstr = lpad(col("ts_us").cast(StringType), 20, "0")
        val k = get_json_object(col("props"), "$.k").cast(LongType)
        val recs = Tables.events(s, d).select(
          ocid.as("ocid"),
          eid.as("filename"),
          lit(0L).as("record_seq"),
          to_json(struct(
            ocid.as("ocid"),
            array(struct(
              dstr.as("date"), eid.as("id"), ocid.as("ocid"),
              array(lit("tender")).as("tag"),
              struct(col("event_type").as("status"),
                struct(k.as("amount")).as("value")).as("tender"))).as("releases")))
            .as("record"))
        val out = Compile.recordSummariesAndNotes(recs, s).toDF()
        val sums = out.filter(col("summary").isNotNull).select(
          lit("summary").as("kind"),
          col("summary.ocid").as("ocid"),
          col("summary.compiled_id").as("text"),
          col("summary.max_date").as("max_date"),
          col("summary.tender_status").as("tender_status"),
          col("summary.tender_amount").as("tender_amount"),
          col("summary.n_releases").as("n_releases"))
        val notes = out.filter(col("note").isNotNull).select(
          col("note.code").as("kind"),
          lit(null).cast(StringType).as("ocid"),
          col("note.note").as("text"),
          lit(null).cast(StringType).as("max_date"),
          lit(null).cast(StringType).as("tender_status"),
          lit(null).cast(DoubleType).as("tender_amount"),
          lit(null).cast(LongType).as("n_releases"))
        sums.unionByName(notes).orderBy("kind", "text")
      },
      Some("""WITH recs AS (
                SELECT 'ocds-' || CAST(user_id AS VARCHAR) AS ocid,
                       CAST(event_id AS VARCHAR) AS filename,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') AS rdate,
                       event_type,
                       CAST(props->>'$.k' AS BIGINT) AS k
                FROM events),
              e AS (
                SELECT *,
                       row_number() OVER (PARTITION BY ocid ORDER BY filename) AS rn,
                       count(*) OVER (PARTITION BY ocid) AS cnt
                FROM recs)
              SELECT * FROM (
                SELECT 'summary' AS kind, ocid,
                       ocid || '-' || rdate AS text,
                       rdate AS max_date,
                       event_type AS tender_status,
                       CAST(k AS DOUBLE) AS tender_amount,
                       CAST(1 AS BIGINT) AS n_releases
                FROM e WHERE rn = 1
                UNION ALL
                SELECT 'WARNING' AS kind, NULL AS ocid,
                       'OCID ' || ocid || ' occurs ' || CAST(cnt AS VARCHAR)
                         || ' times.' AS text,
                       NULL AS max_date, NULL AS tender_status,
                       CAST(NULL AS DOUBLE) AS tender_amount,
                       CAST(NULL AS BIGINT) AS n_releases
                FROM e WHERE rn = 1 AND cnt > 1)
              ORDER BY kind, text"""),
      "Batch record-compile election (record_compiler.py:58-76 as the load pipeline " +
        "runs it): first record per ocid in (filename, record_seq) order wins, " +
        "duplicate-ocid WARNING notes, merged summaries of the elected record; oracle " +
        "replays election + notes with a window row_number"),

    QueryDef(
      "q_metadata", Seq("A3", "O2", "F1"),
      (s, d) => {
        val k = get_json_object(col("props"), "$.k").cast(LongType)
        val iso = date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        // some rows land outside the (1970-01-01, today] window on purpose
        val rdate = when(k % 7 === 0, lit("1970-01-01"))
          .when(k % 13 === 0, lit("2100-01-01T00:00:00Z"))
          .otherwise(iso)
        val compiled = Tables.events(s, d).select(
          concat(lit("ocds-"), col("user_id")).as("ocid"), rdate.as("release_date"))
        val pkgs = Tables.events(s, d).select(
          concat(lit("p"), lpad(col("event_id").cast(StringType), 10, "0")).as("filename"),
          to_json(struct(
            concat(lit("L-"), col("user_id") % 4).as("license"),
            concat(lit("http://pp/"), col("user_id") % 3).as("publicationPolicy")))
            .as("package_data"))
        graft.ocds.Metadata.metadata(compiled, pkgs, today = "2099-12-31")
          .orderBy("ocid_prefix")
      },
      Some("""WITH c AS (
                SELECT 'ocds-' || CAST(user_id AS VARCHAR) AS ocid,
                       CASE WHEN CAST(props->>'$.k' AS BIGINT) % 7 = 0 THEN '1970-01-01'
                            WHEN CAST(props->>'$.k' AS BIGINT) % 13 = 0 THEN '2100-01-01T00:00:00Z'
                            ELSE strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%dT%H:%M:%SZ')
                       END AS release_date
                FROM events),
              sample AS (
                SELECT 'L-' || CAST(user_id % 4 AS VARCHAR) AS license,
                       'http://pp/' || CAST(user_id % 3 AS VARCHAR) AS publication_policy
                FROM events WHERE event_id = (SELECT min(event_id) FROM events))
              SELECT substr(max(ocid), 1, 11) AS ocid_prefix,
                     min(release_date) AS published_from,
                     max(release_date) AS published_to,
                     (SELECT license FROM sample) AS license,
                     (SELECT publication_policy FROM sample) AS publication_policy
              FROM c
              WHERE release_date > '1970-01-01' AND release_date <= '2099-12-31'"""),
      "The metadata read surface (views.py:157-234): ocid prefix + publication range over " +
        "compiled facts (windowed by date), license/publicationPolicy from a deterministic " +
        "min-filename package sample — two single-row plans joined"),

    QueryDef(
      "q_collection_notes", Seq("A7", "F11", "U2", "A1"),
      (s, d) => {
        import s.implicits._
        // upgrade leg: 1.0 releases upgraded during load; differs-warnings
        // become WARNING notes on the upgraded collection (id 2)
        val upItems = releases10FromEvents(s, d).select(
          concat(lit("f"), lpad(col("event_id").cast(StringType), 10, "0")).as("filename"),
          lit("ocds-x").as("ocid"),
          col("event_id").cast(StringType).as("release_id"),
          lit("d").as("release_date"),
          col("release").as("data"))
        val upNotes = graft.control.Notes.fromUpgradeWarnings(
          Upgrade.upgradeItems(upItems, s).toDF(), 2L)
        // compile leg: duplicate-id releases plus one non-object poison
        // group; warnings/failures become WARNING/ERROR notes on the
        // compiled collection (id 3)
        val poisoned = releasesFromEvents(s, d, dupIds = true).unionByName(
          Seq(("ocds-zz", "0", -1L, "[1,2,3]")).toDF("ocid", "date", "tiebreak", "release"))
        val compNotes = graft.control.Notes.fromCompileWarnings(
          Compile.warnings(poisoned, s).toDF(), 3L)
        // the notes read endpoint (views.py:261-281), summarized per code.
        // localCheckpoint the note rows ONCE (r20): forTree reads its
        // input twice (the n_total aside and the windowed top-k chain
        // partition differently, so no exchange is reusable between
        // them), and each subtree otherwise re-runs the WHOLE upgrade +
        // merge-warning engines (~60 s of CPU at sf0.1, the two heaviest
        // stages of this query). In production notes are a persisted
        // fact table and forTree reads the lake; here the one-row-per-
        // warning frame is the engines' side output, materialized at the
        // same round boundary the CC engines use.
        graft.control.Notes.forTree(
          upNotes.unionByName(compNotes).localCheckpoint(), Seq(1L, 2L, 3L))
          .select(col("code"), col("n_total").as("n_notes"),
            col("notes").getItem(0).getField("note").as("first_note"))
          .orderBy("code")
      },
      Some(s"""WITH r AS ($OracleRel),
               d AS (SELECT ocid,
                            CASE WHEN rdate = lag(rdate) OVER (PARTITION BY ocid
                                                               ORDER BY rdate, event_id)
                                 THEN 1 ELSE 0 END AS rep
                     FROM r),
               cw AS (
                 SELECT 'OCID ' || ocid || ': merge warning at parties' AS note
                 FROM r WHERE k % 5 = k % 3
                 UNION ALL
                 SELECT 'OCID ' || ocid || ': merge warning at awards'
                 FROM r WHERE k % 7 = k % 2
                 UNION ALL
                 SELECT 'OCID ' || ocid || ': merge warning at (date)'
                 FROM d WHERE rep = 1),
               uw AS (SELECT count(*) AS n FROM r WHERE k % 3 = 0)
               SELECT code, n_notes, first_note FROM (
                 SELECT 'ERROR' AS code, CAST(1 AS BIGINT) AS n_notes,
                        'OCID ocds-zz could not be compiled.' AS first_note
                 UNION ALL
                 SELECT 'WARNING',
                        (SELECT count(*) FROM cw) + (SELECT n FROM uw),
                        (SELECT min(note) FROM cw))
               ORDER BY code"""),
      "collection_note persistence + the notes read endpoint (util.py:113-116, " +
        "views.py:261-281): upgrade differs-warnings and merge warnings/failures as " +
        "INFO/WARNING/ERROR rows, grouped per code; oracle rebuilds the note strings " +
        "('OCID…' compile notes sort before 'f…' upgrade notes, so first_note is exact)"),

    QueryDef(
      "q_field_counts", Seq("F1", "A4", "F5"),
      (s, d) => {
        // sparse synthetic releases: fields drop out on k-mod conditions
        // (to_json omits null struct fields), so coverage genuinely varies
        // — the field-counts surface docs/querying-data.rst:145-147 sends
        // analysts to. Materialized once per JVM (the reference's release
        // table is persistent storage; bench cost attributes to the walk
        // engine, not the generator), fanOut on the READ side: the Jackson
        // path walk is the CPU-bound stage and the path aggregation's
        // shuffle only spreads the (tiny) reduce side.
        def build = {
          val k = get_json_object(col("props"), "$.k").cast(LongType)
          def condValue = when(k % 5 =!= 0, struct(col("value").as("amount")))
          val award1 = struct((k % 7).cast(StringType).as("id"), condValue.as("value"))
          val award2 = struct((k % 2 + 7).cast(StringType).as("id"), condValue.as("value"))
          Tables.events(s, d).select(to_json(struct(
            col("event_id").cast(StringType).as("id"),
            lpad(col("ts_us").cast(StringType), 20, "0").as("date"),
            struct(
              col("event_type").as("status"),
              when(k % 3 =!= 0, struct(col("value").as("amount"))).as("value")).as("tender"),
            when(k % 4 =!= 0, struct(concat(lit("B"), col("user_id") % 7).as("name"))).as("buyer"),
            when(k % 2 === 1, array(award1, award2)).otherwise(array(award1)).as("awards")))
            .as("data"))
        }
        val sparse = Tables.fanOut(Tables.materialize("sparse_releases", d, build))
        graft.ocds.FieldCounts.counts(sparse, "data", s).orderBy("path")
      },
      Some(s"""WITH r AS (SELECT CAST(props->>'$$.k' AS BIGINT) AS k FROM events),
               p AS (
                 SELECT 'id' AS path, 1 AS occ FROM r
                 UNION ALL SELECT 'date', 1 FROM r
                 UNION ALL SELECT 'tender', 1 FROM r
                 UNION ALL SELECT 'tender/status', 1 FROM r
                 UNION ALL SELECT 'tender/value', 1 FROM r WHERE k % 3 <> 0
                 UNION ALL SELECT 'tender/value/amount', 1 FROM r WHERE k % 3 <> 0
                 UNION ALL SELECT 'buyer', 1 FROM r WHERE k % 4 <> 0
                 UNION ALL SELECT 'buyer/name', 1 FROM r WHERE k % 4 <> 0
                 UNION ALL SELECT 'awards', 1 FROM r
                 UNION ALL SELECT 'awards/id', 1 + k % 2 FROM r
                 UNION ALL SELECT 'awards/value', 1 + k % 2 FROM r WHERE k % 5 <> 0
                 UNION ALL SELECT 'awards/value/amount', 1 + k % 2 FROM r WHERE k % 5 <> 0)
              SELECT path, CAST(SUM(occ) AS BIGINT) AS n_total,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM p GROUP BY path ORDER BY path"""),
      "Field-coverage counts (the summarize field_counts surface querying-data.rst " +
        "points analysts to): per-row Jackson path walk with array-index collapse and " +
        "per-doc pre-aggregation, then ONE hash aggregation over the schema-bounded " +
        "path dimension")
  )
}
