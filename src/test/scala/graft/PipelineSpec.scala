package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.control.{Control, Wipe}
import graft.ingest.Sink

/** End-to-end §3.1: load → compile → check → finalize over real files,
  * then wipe the collection tree from the written lake. */
class PipelineSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def inputTree(): Path = {
    val dir = Files.createTempDirectory("graft-pipeline")
    Files.writeString(dir.resolve("a.json"),
      """{"uri": "http://x/a", "version": "1.1", "publisher": {"name": "A"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-a", "id": "a1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["planning"], "initiationType": "tender"},
        |   {"ocid": "ocds-a", "id": "a2", "date": "2020-01-02T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}
        | ]}""".stripMargin)
    Files.writeString(dir.resolve("b.json"),
      """{"uri": "http://x/b", "version": "1.1", "publisher": {"name": "B"},
        | "publishedDate": "2020-01-02T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-b", "id": "b1", "date": "2020-01-03T00:00:00Z",
        |    "tag": ["planning"]}
        | ]}""".stripMargin) // b1 misses required initiationType → 1 check failure
    dir
  }

  test("loadAndCompile runs §3.1 end-to-end and finalizes both collections") {
    val lake = Files.createTempDirectory("graft-lake").toString
    val report = Pipeline.loadAndCompile(s, inputTree().toString, lake, now = "2020-06-01 00:00:00")

    assert(report.files === 2)
    assert(report.items === 3)
    assert(report.distinctData === 3)
    assert(report.compiled === 2) // ocds-a merged from 2 releases, ocds-b from 1
    assert(report.checkFailures === 1) // b1's missing initiationType

    val orig = report.plane.collection(report.collectionId)
    val comp = report.plane.collection(report.compiledCollectionId)
    assert(orig.completedAt.contains("2020-06-01 00:00:00"))
    assert(orig.cachedReleasesCount.contains(3L))
    assert(comp.completedAt.nonEmpty && comp.compilationStarted)
    assert(comp.cachedCompiledReleasesCount.contains(2L))
    assert(report.plane.steps.isEmpty) // every LOAD step consumed (T2)

    // the lake is queryable: compiled ocds-a took last-write-wins tag path
    import org.apache.spark.sql.functions.col
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
    assert(compiled.filter(col("ocid") === "ocds-a")
      .select("n_releases").collect().head.getLong(0) === 2L)

    // the compile stage ran CO-LOCATED off the ocid-bucketed compile-input
    // table it materialized: the same plan re-built over that table shows
    // ZERO exchanges (the shuffle-free warehouse shape, VERDICT r6 #5)
    val tbl = Pipeline.bucketedCompileTable(lake)
    assert(s.catalog.tableExists(tbl))
    val compilePlan = graft.ocds.Compile
      .summariesAndWarningsCoLocated(s.table(tbl), s)
      .queryExecution.executedPlan.toString
    assert(!compilePlan.contains("Exchange"), s"unexpected shuffle:\n$compilePlan")

    // and the wipe removes the whole tree from the written layout
    import s.implicits._
    val colls = Seq(
      (report.collectionId, Option.empty[Long], Option.empty[String]),
      (report.compiledCollectionId, Some(report.collectionId), Some("compile-releases"))
    ).toDF("id", "parent", "transform_type")
    val survivors = Wipe.wipeTrees(
      Sink.readFacts(s, s"$lake/release")
        .unionByName(compiled.select("collection_id", "ocid"), allowMissingColumns = true),
      colls, Seq(report.collectionId))
    assert(survivors.count() === 0)
  }

  test("the dedup store stays content-addressed across batches (insert-if-absent, S8)") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir = inputTree()
    val lake = Files.createTempDirectory("graft-lake-dedup").toString
    val stage = Pipeline.load(s, dir.toString, lake, keepOpen = true)
    // a later batch re-offers release b1 byte-for-byte, plus one new release
    val later = Files.createTempDirectory("graft-pipeline-later").resolve("c.json")
    Files.writeString(later,
      """{"uri": "http://x/c", "version": "1.1", "publisher": {"name": "C"},
        | "publishedDate": "2020-01-04T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-b", "id": "b1", "date": "2020-01-03T00:00:00Z",
        |    "tag": ["planning"]},
        |   {"ocid": "ocds-c", "id": "c1", "date": "2020-01-05T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}
        | ]}""".stripMargin)
    val (_, n2, _) = Pipeline.loadFilesInto(
      s, Seq(later.toString), lake, stage.plane, stage.collectionId, None)
    assert(n2 === 2) // both items land as facts of the collection
    val store = Sink.readDedupStore(s, s"$lake/data")
    // …but the store holds each content hash once: a1, a2, b1, c1
    assert(store.count() === 4)
    assert(store.agg(countDistinct(col("hash_md5"))).head().getLong(0) === 4)
    val facts = Sink.readFacts(s, s"$lake/release")
    assert(facts.select("hash_md5").distinct().count() === 4)
    assert(facts.count() === 5)
  }

  test("upgrade=true builds original → upgraded → compiled, upgrades during load, persists notes") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe-up")
    // 1.0-shaped releases: inline orgs, no parties; the supplier repeats the
    // tenderer with an extra field → a differs-warning (the upgrade golden)
    Files.writeString(dir.resolve("u.json"),
      """{"uri": "http://x/u", "version": "1.0", "publisher": {"name": "U"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-u", "id": "u1", "date": "2020-01-01T00:00:00Z",
        |    "buyer": {"name": "B"},
        |    "tender": {"tenderers": [{"name": "T"}]},
        |    "awards": [{"id": "a", "suppliers": [{"name": "T", "details": "d"}]}]}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake-up").toString
    val report = Pipeline.loadAndCompile(
      s, dir.toString, lake, now = "2020-06-01 00:00:00", upgrade = true)

    assert(report.upgradedCollectionId === Some(report.collectionId + 1))
    assert(report.compiledCollectionId === report.collectionId + 2)
    // all three collections finalized
    Seq(report.collectionId, report.upgradedCollectionId.get, report.compiledCollectionId)
      .foreach(id => assert(report.plane.collection(id).completedAt.nonEmpty, s"collection $id"))
    // the upgraded collection's facts carry the synthesized parties array
    val upgraded = Sink.readFacts(s, s"$lake/release")
      .filter(col("collection_id") === report.upgradedCollectionId.get)
    assert(upgraded.count() === 1)
    val data = upgraded.select("data").collect().head.getString(0)
    assert(data.contains("\"parties\""))
    // …and a different content hash than the original row
    val origHash = Sink.readFacts(s, s"$lake/release")
      .filter(col("collection_id") === report.collectionId)
      .select("hash_md5").collect().head.getString(0)
    assert(upgraded.select("hash_md5").collect().head.getString(0) !== origHash)
    // the differs-warning was persisted as a WARNING note on the upgraded
    // collection (create_logger_note flow)
    val notes = Sink.readFacts(s, s"$lake/collection_note")
    assert(report.notes >= 1)
    assert(notes.filter(
      col("collection_id") === report.upgradedCollectionId.get
        && col("code") === "WARNING").count() >= 1)
    // compile consumed the UPGRADED rows: compiled summary counts the parties
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
      .filter(col("collection_id") === report.compiledCollectionId)
    assert(compiled.select("n_parties").collect().head.getLong(0) >= 2L)
  }

  test("record packages load into record facts and compile per file during load") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rec")
    // r1: two dated releases, no linked → merged; r2: one dated LINKED
    // release + embedded compiledRelease → the INFO fallback branch
    Files.writeString(dir.resolve("r.json"),
      """{"uri": "http://x/r", "version": "1.1", "publisher": {"name": "R"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "records": [
        |  {"ocid": "ocds-r1", "releases": [
        |    {"ocid": "ocds-r1", "id": "r1a", "date": "2020-01-01T00:00:00Z",
        |     "tag": ["planning"], "initiationType": "tender"},
        |    {"ocid": "ocds-r1", "id": "r1b", "date": "2020-01-02T00:00:00Z",
        |     "tag": ["tender"], "initiationType": "tender"}]},
        |  {"ocid": "ocds-r2",
        |   "releases": [{"ocid": "ocds-r2", "url": "http://x/lr",
        |                 "date": "2020-01-01T00:00:00Z"}],
        |   "compiledRelease": {"ocid": "ocds-r2", "id": "r2c",
        |     "date": "2020-01-03T00:00:00Z", "tag": ["compiled"],
        |     "initiationType": "tender"}}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake3").toString
    val report = Pipeline.loadAndCompile(s, dir.toString, lake, now = "2020-06-01 00:00:00")

    assert(report.items === 2) // 2 records
    assert(report.compiled === 2) // r1 merged; r2 via its compiledRelease
    // records landed in the record fact table, keyed by ocid only
    val recs = Sink.readFacts(s, s"$lake/record")
      .filter(col("collection_id") === report.collectionId)
    assert(recs.count() === 2)
    // compiled facts carry the expected provenance: r1 merged from 2
    // releases, r2's fallback took the embedded compiledRelease id
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
      .filter(col("collection_id") === report.compiledCollectionId)
    assert(compiled.filter(col("ocid") === "ocds-r1")
      .select("n_releases").collect().head.getLong(0) === 2L)
    assert(compiled.filter(col("ocid") === "ocds-r2")
      .select("compiled_id").collect().head.getString(0) === "r2c")
    // the INFO fallback notes were persisted on the compiled collection
    val notes = Sink.readFacts(s, s"$lake/collection_note")
      .filter(col("collection_id") === report.compiledCollectionId)
    assert(notes.filter(col("code") === "INFO").count() === 2)
    // completion: per-file compile tracking released the gates (T3)
    val orig = report.plane.collection(report.collectionId)
    assert(orig.completedAt.nonEmpty && orig.cachedRecordsCount.contains(2L))
    assert(report.plane.filesOf(report.collectionId).forall(_.compilationStarted))
    assert(report.plane.collection(report.compiledCollectionId).completedAt.nonEmpty)
  }

  test("array-of-record-packages: first package's metadata only; compiled files none " +
      "(test_process_file goldens)") {
    import org.apache.spark.sql.functions.col
    // mirrors tests/processors/test_process_file.py:142-162: an ARRAY of
    // record packages loads every package's records but keeps only the
    // FIRST package's envelope, records-array excluded
    val dir = Files.createTempDirectory("graft-rec-arr")
    Files.writeString(dir.resolve("arr.json"),
      """[{"uri": "http://x/p1", "version": "1.1", "publisher": {"name": "P1"},
        |  "publishedDate": "2020-01-01T00:00:00Z",
        |  "records": [{"ocid": "ocds-x1", "releases": [
        |    {"ocid": "ocds-x1", "id": "a", "date": "2020-01-01T00:00:00Z",
        |     "tag": ["tender"], "initiationType": "tender"}]}]},
        | {"uri": "http://x/p2", "version": "1.1", "publisher": {"name": "P2"},
        |  "publishedDate": "2020-01-02T00:00:00Z",
        |  "records": [{"ocid": "ocds-x2", "releases": [
        |    {"ocid": "ocds-x2", "id": "b", "date": "2020-01-02T00:00:00Z",
        |     "tag": ["tender"], "initiationType": "tender"}]}]}
        |]""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake-ra").toString
    val report = Pipeline.loadAndCompile(s, dir.toString, lake, now = "2020-06-01 00:00:00")
    assert(report.items === 2)
    assert(Sink.readFacts(s, s"$lake/record").select("ocid")
      .collect().map(_.getString(0)).toSet === Set("ocds-x1", "ocds-x2"))
    assert(report.distinctData === 2) // 2 Data rows
    val pkgs = s.read.parquet(s"$lake/package_data")
    assert(pkgs.count() === 1) // first package only
    val pkgJson = pkgs.select("package_data").collect().head.getString(0)
    assert(pkgJson.contains("\"P1\"") && !pkgJson.contains("\"records\""))

    // …and compiled-release files store NO package metadata at all
    // (test_process_file.py:164-177: PackageData.objects.count() == 0)
    val dir2 = Files.createTempDirectory("graft-cr-nopkg")
    Files.writeString(dir2.resolve("c.json"),
      """{"ocid": "ocds-y1", "id": "y1", "date": "2020-01-01T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender"}""".stripMargin)
    val lake2 = Files.createTempDirectory("graft-lake-crn").toString
    Pipeline.loadAndCompile(s, dir2.toString, lake2, now = "2020-06-01 00:00:00")
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake2/package_data")))
  }

  test("record packages upgrade during load: original → upgraded → compiled chain") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rec-up")
    // 1.0-shaped releases inside the record: inline orgs, no parties —
    // the upgrade leg must lift them into a parties collection per release
    Files.writeString(dir.resolve("ru.json"),
      """{"uri": "http://x/ru", "version": "1.0", "publisher": {"name": "R"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "records": [
        |  {"ocid": "ocds-ru1", "releases": [
        |    {"ocid": "ocds-ru1", "id": "u1", "date": "2020-01-01T00:00:00Z",
        |     "buyer": {"name": "B"},
        |     "tender": {"tenderers": [{"name": "T"}]}}]}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake-ru").toString
    val report = Pipeline.loadAndCompile(
      s, dir.toString, lake, now = "2020-06-01 00:00:00", upgrade = true)

    assert(report.upgradedCollectionId === Some(report.collectionId + 1))
    Seq(report.collectionId, report.upgradedCollectionId.get, report.compiledCollectionId)
      .foreach(id => assert(report.plane.collection(id).completedAt.nonEmpty, s"collection $id"))
    // the upgraded record facts carry synthesized parties inside releases
    val upRecs = Sink.readFacts(s, s"$lake/record")
      .filter(col("collection_id") === report.upgradedCollectionId.get)
    assert(upRecs.count() === 1)
    assert(upRecs.select("data").collect().head.getString(0).contains("\"parties\""))
    // compile consumed the UPGRADED records: the compiled summary sees them
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
      .filter(col("collection_id") === report.compiledCollectionId)
    assert(compiled.count() === 1)
    assert(compiled.select("n_parties").collect().head.getLong(0) >= 2L)
    assert(report.plane.collection(report.collectionId).cachedRecordsCount.contains(1L))
  }

  test("later record batches skip already-compiled ocids (AlreadyExists guard)") {
    import org.apache.spark.sql.functions.col
    def pkgOf(records: String): String =
      s"""{"uri": "http://x", "version": "1.1", "publisher": {"name": "R"},
         | "publishedDate": "2020-01-01T00:00:00Z", "records": [$records]}""".stripMargin
    def rec(ocid: String, rid: String, date: String): String =
      s"""{"ocid": "$ocid", "releases": [
         |  {"ocid": "$ocid", "id": "$rid", "date": "$date",
         |   "tag": ["tender"], "initiationType": "tender"}]}""".stripMargin
    val dir = Files.createTempDirectory("graft-rec2")
    Files.writeString(dir.resolve("a.json"), pkgOf(rec("ocds-k", "k1", "2020-01-01T00:00:00Z")))
    val lake = Files.createTempDirectory("graft-lake4").toString
    val stage = Pipeline.load(s, dir.toString, lake, keepOpen = true)
    var plane = stage.plane
    // a later batch re-offers ocds-k (different release) plus a new ocid
    val f2 = dir.resolve("b.json")
    Files.writeString(f2, pkgOf(
      rec("ocds-k", "k2", "2020-02-01T00:00:00Z") + "," +
        rec("ocds-m", "m1", "2020-01-05T00:00:00Z")))
    val (p2, n2, _) = Pipeline.loadFilesInto(
      s, Seq(f2.toString), lake, plane, stage.collectionId, None)
    plane = p2
    assert(n2 === 2)
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
      .filter(col("collection_id") === stage.compiledCollectionId.get)
    // ocds-k kept its FIRST batch's compile (max date 2020-01-01 — the
    // merged id is ocid-maxDate; batch 2's k2 would have made it
    // 2020-02-01); ocds-m compiled fresh
    assert(compiled.count() === 2)
    assert(compiled.filter(col("ocid") === "ocds-k")
      .select("compiled_id").collect().head.getString(0)
      === "ocds-k-2020-01-01T00:00:00Z")
    // close + finish completes the whole tree
    plane = Control.closeCollection(plane, stage.collectionId, "2020-06-01 00:00:00", 2)
    val fin = Pipeline.compileAndFinish(s, lake, plane, stage.collectionId, "2020-06-01 00:00:00")
    assert(fin.compiled === 2)
    assert(fin.plane.collection(stage.collectionId).cachedRecordsCount.contains(3L))
  }

  test("compiled-release files land directly in the collection's compiled facts") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-cr")
    // concatenated compiled releases — one of the reference's physical
    // shapes for this format (tests/fixtures/compiled_release.json)
    Files.writeString(dir.resolve("c.json"),
      """{"ocid": "ocds-c1", "id": "c1", "date": "2020-01-01T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender",
        | "tender": {"status": "complete", "value": {"amount": 10}}}
        |{"ocid": "ocds-c2", "id": "c2", "date": "2020-01-02T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender"}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake5").toString
    val report = Pipeline.loadAndCompile(s, dir.toString, lake, now = "2020-06-01 00:00:00")

    assert(report.items === 2)
    assert(report.compiled === 2)
    assert(report.compiledCollectionId === report.collectionId) // rows live on the ROOT
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
      .filter(col("collection_id") === report.collectionId)
    assert(compiled.count() === 2)
    assert(compiled.filter(col("ocid") === "ocds-c1")
      .select("tender_amount").collect().head.getDouble(0) === 10.0)
    // the --compile child completed EMPTY (compiler.py:81-83's no-op)
    val child = report.plane.collections.values
      .find(_.parent.contains(report.collectionId)).get
    assert(child.completedAt.nonEmpty
      && child.cachedCompiledReleasesCount.contains(0L))
    val root = report.plane.collection(report.collectionId)
    assert(root.completedAt.nonEmpty
      && root.cachedCompiledReleasesCount.contains(2L))
  }

  test("compiled-release files upgrade during load into the derived collection") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-cr-up")
    // a 1.0-shaped compiled release (inline buyer, no parties): the
    // upgrade leg lifts organizations exactly as for release packages
    Files.writeString(dir.resolve("c.json"),
      """{"ocid": "ocds-cu1", "id": "cu1", "date": "2020-01-01T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender",
        | "buyer": {"name": "B"},
        | "tender": {"tenderers": [{"name": "T"}]}}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake-cru").toString
    val report = Pipeline.loadAndCompile(
      s, dir.toString, lake, now = "2020-06-01 00:00:00", upgrade = true)

    assert(report.items === 1)
    val uid = report.upgradedCollectionId.get
    val compiled = Sink.readFacts(s, s"$lake/compiled_release")
    assert(compiled.filter(col("collection_id") === report.collectionId).count() === 1)
    // the upgraded collection got its own compiled row, with the parties
    // the upgrade synthesized
    val up = compiled.filter(col("collection_id") === uid)
    assert(up.count() === 1)
    assert(up.select("n_parties").collect().head.getLong(0) >= 2L)
    // the whole chain finalized, upgraded child carrying its compiled count
    Seq(report.collectionId, uid, report.collectionId + 2)
      .foreach(id => assert(report.plane.collection(id).completedAt.nonEmpty, s"collection $id"))
    assert(report.plane.collection(uid).cachedCompiledReleasesCount.contains(1L))
  }

  test("compile warnings append to collection_note without deleting existing notes") {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val dir = Files.createTempDirectory("graft-pipe-warn")
    // two releases, same ocid, SAME date → Merge.RepeatedDateValue warning
    Files.writeString(dir.resolve("w.json"),
      """{"uri": "http://x/w", "version": "1.1", "publisher": {"name": "W"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-w", "id": "w1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["planning"], "initiationType": "tender"},
        |   {"ocid": "ocds-w", "id": "w2", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-lake-warn").toString
    val stage = Pipeline.load(s, dir.toString, lake, collectionId = 61L,
      now = "2020-06-01 00:00:00")
    val compiledId = stage.compiledCollectionId.get
    // what Api.create does for a creation note: an INFO row on EVERY
    // created collection, including the compiled child (ADVICE r7: the old
    // partition overwrite deleted it whenever the compile warned)
    Sink.writeByCollection(
      Seq((compiledId, "INFO", "api creation note", "{}"))
        .toDF("collection_id", "code", "note", "data"),
      s"$lake/collection_note")
    val fin = Pipeline.compileAndFinish(s, lake, stage.plane, 61L, "2020-06-01 00:00:00")
    assert(fin.notes >= 1) // the repeated-date warning
    val compiledNotes = Sink.readFacts(s, s"$lake/collection_note")
      .filter(col("collection_id") === compiledId)
    assert(compiledNotes.filter(col("code") === "WARNING").count() >= 1)
    assert(compiledNotes
      .filter(col("note") === "api creation note").count() === 1)
  }

  test("a closed-empty tree compiles to completion with zero counts") {
    val lake = Files.createTempDirectory("graft-lake-empty").toString
    // the compiler's _collection_is_empty case: closed with
    // expected_files_count=0 before any file arrived — trivially
    // compilable, and the whole tree must finalize without touching the
    // (nonexistent) lake tables
    var plane = Control.Plane(Map(
      41L -> Control.Collection(41L, "src", "v", steps = Set("compile"),
        storeEndAt = Some("2020-06-01 00:00:00"), expectedFilesCount = Some(0)),
      42L -> Control.Collection(42L, "src", "v", parent = Some(41L),
        transformType = Some(Control.Transform.CompileReleases))))
    val stage = Pipeline.compileAndFinish(s, lake, plane, 41L, "2020-06-01 00:00:00")
    assert(stage.compiled === 0L)
    assert(stage.plane.collection(41L).completedAt.nonEmpty)
    assert(stage.plane.collection(42L).completedAt.nonEmpty)
    assert(stage.plane.collection(42L).cachedCompiledReleasesCount.contains(0L))
  }

  test("a second run on the same ids is rejected by the run-once gates") {
    val lake = Files.createTempDirectory("graft-lake2").toString
    val dir = inputTree().toString
    val r1 = Pipeline.loadAndCompile(s, dir, lake)
    // replaying against the FINALIZED plane: complete() must refuse
    assert(Control.complete(r1.plane, r1.collectionId, "later", 9, 9, 9).isEmpty)
    assert(Control.startCompilation(r1.plane, r1.compiledCollectionId).isEmpty)
  }
}
