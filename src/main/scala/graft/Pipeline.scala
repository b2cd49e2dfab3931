package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.check.Checker
import graft.control.{Control, Notes}
import graft.ingest.{Ingest, Sink}
import graft.ocds.{Compile, Upgrade}

/** The `manage.py load … [--upgrade] --compile` flow (SURVEY.md §3.1) as
  * composable batch stages — the entry points a user of the reference would
  * reach for: walk → register → detect → stream-load → [upgrade] →
  * dedup-store → persist → close → gate → compile (+notes) → check →
  * finalize, with the control plane threaded through as an immutable value.
  *
  * The collection DAG matches the loader's (`processors/loader.py:42-105`):
  * original → compiled, or original → upgraded → compiled when the upgrade
  * step is planned; the upgrade itself runs during load as a narrow map
  * over the loaded items (`file_worker.py:330-335`), its differs-warnings
  * persisted as WARNING collection notes (`create_logger_note`), and merge
  * warnings/failures as WARNING/ERROR notes (`compiler.py:75-84`) — all in
  * the `collection_note` lake table.
  *
  * The reference runs this as seven RabbitMQ workers against PostgreSQL;
  * here each stage is a few Spark jobs, and the data-independent ones run
  * side by side as [[Legs]] on driver threads:
  *  - a release-package batch ([[loadFilesInto]]) materializes its items
  *    (and their upgrade) once, then writes four legs: the `release` facts
  *    (original rows, then upgraded rows, in order within the one leg),
  *    the `data` store, `package_data`, and the upgrade notes;
  *  - [[compileAndFinish]] runs the compile chain (release facts → one
  *    ocid shuffle → merge → `compiled_release` + notes) beside the V1
  *    structural check.
  * ONE WRITER PER TABLE: no two legs ever write the same table.
  * `FileOutputCommitter` stages every job writing one path under the
  * same `_temporary` directory, so concurrent appends to one table are
  * unsafe; two writes to one table stay sequential inside one leg.
  *
  * The worker hand-offs are the SEAMS between [[load]] and
  * [[compileAndFinish]]: `load(keepOpen=true)` leaves the collection open
  * exactly like `load --keep-open` (`load.py:156-161`), more files arrive
  * via [[loadFilesInto]] (the file_worker's job run inline, driven by the
  * CLI's `addfiles`), a later close releases the compile gate, and
  * [[compileAndFinish]] is the compiler+checker+finisher worker chain as
  * one call. [[loadAndCompile]] composes the stages for the common
  * closed-load case. The only cross-node movement is Spark shuffles.
  */
object Pipeline {

  /** What a full run did, plus the final control plane. */
  final case class LoadReport(
      collectionId: Long,
      upgradedCollectionId: Option[Long],
      compiledCollectionId: Long,
      dataVersion: String,
      files: Int,
      items: Long,
      distinctData: Long,
      compiled: Long,
      checkFailures: Long,
      notes: Long,
      plane: Control.Plane)

  /** What the load stage did. `notes` counts the upgrade differs-warnings
    * persisted so far (compile warnings come later).
    * `compiledCollectionId` is None when the load planned no compile step
    * (`load` without `--compile`, reference load.py:34). */
  final case class LoadStage(
      collectionId: Long,
      upgradedCollectionId: Option[Long],
      compiledCollectionId: Option[Long],
      dataVersion: String,
      files: Int,
      items: Long,
      notes: Long,
      plane: Control.Plane)

  /** What the compile+check+finalize stage did. */
  final case class CompileStage(
      compiledCollectionId: Long,
      compiled: Long,
      checkFailures: Long,
      notes: Long,
      plane: Control.Plane)

  /** Stage 1 (`load.py` + `file_worker.py` inline): create the collection
    * DAG, register and stream-load every file under `inputDir`, optionally
    * upgrading 1.0→1.1 into a derived collection. With `keepOpen` the
    * collection stays open for [[loadFilesInto]] additions (`load
    * --keep-open`); otherwise it is closed with the loaded file count.
    *
    * Step selection mirrors `create_collections` (loader.py:79-102):
    * `compile` plans the compile step and creates the compiled child
    * (parented to the upgraded collection when `upgrade`, else the root);
    * `check` plans the schema-check step on the root. Neither is implied —
    * the reference's "additional processing is not automatically
    * configured" contract (load.py:34). The programmatic default keeps
    * compile=true for the library's own compose-everything callers; the
    * CLI passes the user's explicit flags. */
  def load(
      spark: SparkSession,
      inputDir: String,
      lakeDir: String,
      collectionId: Long = 1L,
      now: String = "1970-01-01 00:00:00",
      upgrade: Boolean = false,
      keepOpen: Boolean = false,
      sourceId: Option[String] = None,
      dataVersionOverride: Option[String] = None,
      compile: Boolean = true,
      check: Boolean = false): LoadStage = {

    // §3.1 steps 1-2: create the collection DAG the loader builds
    // (`loader.py:42-105`) — original [→ upgraded] [→ compiled] —
    // validating each transform transition like clean_fields (V2).
    // `sourceId` is load.py's required -s/--source (defaults to the input
    // path when the caller has no source registry); `dataVersionOverride`
    // is -t/--time, else the earliest file mtime (load.py:89-100)
    val paths = Ingest.walk(spark, Seq(inputDir))
    require(paths.nonEmpty, s"no input files under $inputDir")
    val dataVersion = dataVersionOverride
      .getOrElse(Ingest.dataVersion(spark, paths))
    val upgradedId = if (upgrade) Some(collectionId + 1) else None
    val compiledId =
      if (compile) Some(collectionId + (if (upgrade) 2 else 1)) else None
    // steps exactly as loader.py:79-85: check, then upgrade ELSE compile
    // (an upgrading root's compile step lives on the upgraded child)
    val rootSteps = (if (check) Set("check") else Set.empty[String]) ++
      (if (upgrade) Set("upgrade") else if (compile) Set("compile") else Set.empty[String])
    val original = Control.Collection(
      collectionId, sourceId = sourceId.getOrElse(inputDir), dataVersion = dataVersion,
      steps = rootSteps)
    var plane = Control.Plane(Map(collectionId -> original))
    def addChild(c: Control.Collection): Unit = {
      val errs = Control.validateNew(plane, c)
      require(errs.isEmpty, s"invalid transform: $errs")
      plane = plane.copy(collections = plane.collections.updated(c.id, c))
    }
    upgradedId.foreach { uid =>
      addChild(Control.Collection(
        uid, sourceId = sourceId.getOrElse(inputDir), dataVersion = dataVersion,
        parent = Some(collectionId),
        steps = if (compile) Set("compile") else Set.empty,
        transformType = Some(Control.Transform.Upgrade1011)))
    }
    compiledId.foreach { kid =>
      addChild(Control.Collection(
        kid, sourceId = sourceId.getOrElse(inputDir), dataVersion = dataVersion,
        parent = Some(upgradedId.getOrElse(collectionId)),
        transformType = Some(Control.Transform.CompileReleases)))
    }

    // steps 3-4: register + stream-load (+ upgrade leg)
    val (loaded, nItems, nNotes) =
      loadFilesInto(spark, paths, lakeDir, plane, collectionId, upgradedId)
    plane = loaded

    if (!keepOpen) {
      plane = Control.closeCollection(plane, collectionId, now, paths.size)
      upgradedId.foreach { uid =>
        plane = Control.closeCollection(plane, uid, now, paths.size)
      }
    }
    LoadStage(collectionId, upgradedId, compiledId, dataVersion, paths.size,
      nItems, nNotes, plane)
  }

  /** The file_worker's job for a batch of `paths`, run inline against an
    * OPEN collection tree: register each file (S6), sniff the batch's
    * format once, and ROUTE it like `_store_data` (`file_worker.py:
    * 322-386`) — release packages → release facts (+ upgrade leg), record
    * packages → record facts + per-file immediate compile
    * (`compiler.py:146-148`), compiled releases → compiled_release facts
    * directly — then complete the LOAD steps. The reference's `addfiles`
    * merely enqueues this work for its workers; in a worker-less engine the
    * command that accepts the files performs them — the same disposition as
    * `load` itself. Returns (plane, items loaded, notes written). */
  def loadFilesInto(
      spark: SparkSession,
      rawPaths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long]): (Control.Plane, Long, Long) = {

    // file-level replay dedup (T1): a path already registered against this
    // collection was (or is being) loaded — re-loading it would append
    // duplicate fact rows, the exact duplication registerFile's
    // at-least-once dedup exists to prevent. An all-duplicates batch is a
    // clean no-op. Compared SCHEME-INSENSITIVELY, the same identity the
    // streaming guard uses (ADVICE r7): the binaryFile source registers
    // "file:/x/a.json" URIs while CLI addfiles offers "/x/a.json" — an
    // exact-string filter would let the CLI re-load a stream-loaded file.
    def pathKey(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val already = plane0.filesOf(collectionId).map(f => pathKey(f.filename)).toSet
    val paths = rawPaths.filterNot(p => already(pathKey(p)))
    if (paths.isEmpty) return (plane0, 0L, 0L)

    var plane = paths.foldLeft(plane0)(Control.registerFile(_, collectionId, _))

    // detect once per batch (the reference sniffs once per COLLECTION,
    // set_data_type; a collection's later batches must keep its format)
    val dt = plane.collection(collectionId).dataTypeFormat match {
      case Some(f) =>
        val d = Ingest.detectDataType(spark, paths.head)
        require(d.format == f,
          s"collection $collectionId is '$f' but batch detected '${d.format}' " +
            "(a collection has a single format, file_worker.py:211-214)")
        d
      case None => Ingest.detectDataType(spark, paths.head)
    }
    val (p2, nItems, nNotes) = dt.format match {
      case graft.ingest.FormatDetect.Format.RecordPackage =>
        loadRecordBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
      case graft.ingest.FormatDetect.Format.CompiledRelease =>
        loadCompiledBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
      case _ =>
        loadReleaseBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
    }
    (markLoaded(p2, collectionId, paths, dt.format), nItems, nNotes)
  }

  /** Collection `id`'s lifecycle rows for a loaded batch: each of `paths`
    * registered (a no-op for a file registered before the load), its LOAD
    * step completed, and the batch's format recorded — the same for the
    * loading collection and for its upgraded child. */
  private def markLoaded(
      plane0: Control.Plane, id: Long, paths: Seq[String], format: String): Control.Plane = {
    val plane = paths.foldLeft(plane0)((p, f) =>
      Control.completeStep(Control.registerFile(p, id, f), id, Control.StepName.Load, Some(f)))
    plane.copy(collections = plane.collections.updated(id,
      plane.collection(id).copy(dataTypeFormat = Some(format))))
  }

  /** Release-package leg of [[loadFilesInto]]: stream-load items into the
    * partitioned lake + content-addressed dedup store, persist package
    * metadata, and apply the tree's upgrade leg when present. */
  private def loadReleaseBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    var plane = plane0
    // persisted and counted up front: the fact, dedup-store and upgrade
    // legs below all consume it — without the persist each would re-open
    // and re-parse every input file, and without the count the concurrent
    // legs would each race to parse it
    val items = Ingest.loadItems(spark, paths, dt).toDF()
      .withColumn("collection_id", lit(collectionId))
      .persist()
    val nItems = items.count()
    // optional upgrade, applied during load like `file_worker.py:330-335`:
    // a narrow map re-content-addressing each item, materialized once (a
    // noop write: a scan of the cache, no count's exchange) because two
    // legs (facts, notes) consume it. `up` (and therefore `items`) stays
    // persisted until both legs have run — unpersisting earlier would
    // silently re-run the whole load+upgrade from the source files inside
    // a leg
    val up = upgradedId.map { uid =>
      val u = Upgrade.upgradeItems(items, spark).toDF().persist()
      u.write.format("noop").mode("overwrite").save()
      uid -> u
    }

    // four independent legs, one writer per table. Each leg returns the
    // collection notes it wrote (only the upgrade-notes leg writes any)
    val nNotes = Legs.inParallel(
      // release facts: original rows, then the upgraded collection's —
      // sequential, never concurrent appends to one table
      () => {
        Sink.writeFacts(items, s"$lakeDir/release")
        up.foreach { case (uid, u) =>
          Sink.writeFacts(
            u.drop("upgrade_warnings").withColumn("collection_id", lit(uid)),
            s"$lakeDir/release")
        }
        0L
      },
      () => { storeNewData(spark, items, lakeDir); 0L },
      // persisted so later jobs (compile checks, addchecks, metadata) can
      // rebuild envelopes without re-reading the source files
      () => {
        Sink.writeByCollection(
          Ingest.loadPackageData(spark, paths, dt).toDF()
            .withColumn("collection_id", lit(collectionId)),
          s"$lakeDir/package_data")
        0L
      },
      // the upgrade's differs-warnings become WARNING notes on the
      // upgraded collection
      () => up.fold(0L) { case (uid, u) =>
        val notes = Notes.fromUpgradeWarnings(u, uid).persist()
        Sink.writeByCollection(notes, s"$lakeDir/collection_note")
        try notes.count() finally { notes.unpersist(); () }
      }).sum

    // the upgraded collection gets its own file/step lifecycle rows
    up.foreach { case (uid, u) =>
      plane = markLoaded(plane, uid, paths, dt.format)
      u.unpersist()
    }
    items.unpersist()
    (plane, nItems, nNotes)
  }

  /** S8 insert-if-absent (the reference's get-or-create, `util.py:93-110`):
    * append the distinct documents of `rows` whose content hash the store
    * does not hold yet, so a release re-offered by a later batch, or by
    * another collection, stays one stored row. The anti-join side is the
    * store pruned to the batch's hash buckets ([[Sink.dedupStoreSlice]]);
    * a fresh lake has no store and skips it. */
  private def storeNewData(spark: SparkSession, rows: DataFrame, lakeDir: String): Unit = {
    val path = s"$lakeDir/data"
    Sink.dedupStoreSlice(spark, path, rows) match {
      case None => Sink.writeDedupStore(Ingest.dedupData(rows), path)
      // checkpointed, not persisted, BEFORE the append: the anti-join
      // plan reads the very table being written, and a cached plan over
      // that path would be re-listed and invalidated by the append itself
      case Some(stored) =>
        Sink.writeDedupStore(Ingest.dedupData(rows, Some(stored)).localCheckpoint(), path)
    }
  }

  /** Record-package leg (`file_worker.py:351-360` Record rows +
    * `compiler.py:146-189` / `record_compiler.py`): records land in the
    * `record` fact table and compile PER FILE IMMEDIATELY, while the
    * collection is still open — no end-of-collection barrier. Each batch's
    * new ocids are decision-treed ([[Compile.recordSummariesAndNotes]]);
    * ocids compiled by an earlier batch are skipped (the AlreadyExists
    * guard, `record_compiler.py:52-56` — their first-loaded record already
    * won), and each file's plane row flips `compilationStarted`, the flag
    * the completion gate requires per file (T3). */
  private def loadRecordBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    var plane = plane0
    val records = Ingest.loadRecords(spark, paths, dt).toDF()
      .withColumn("collection_id", lit(collectionId))
      .persist()
    Sink.writeFacts(records, s"$lakeDir/record")
    storeNewData(spark, records, lakeDir)
    val pkgs = Ingest.loadPackageData(spark, paths, dt).toDF()
    Sink.writeByCollection(
      pkgs.withColumn("collection_id", lit(collectionId)), s"$lakeDir/package_data")

    // upgrade leg (`file_worker.py:330-335` applies upgrade_10_11 to
    // records too): each record's embedded releases upgrade in a narrow
    // map, the upgraded collection gets its own record facts + lifecycle
    // rows, and the per-file compile below consumes the UPGRADED records
    var nNotes = 0L
    var compileSrc = records
    var upgradedCache: Option[DataFrame] = None
    upgradedId.foreach { uid =>
      // `up` stays persisted until the compile below has consumed its
      // projection — unpersisting here would silently re-run the whole
      // upgrade when the compile plan finally evaluates
      val up = Upgrade.upgradeRecords(records, spark).toDF().persist()
      upgradedCache = Some(up)
      val upFacts = up.drop("upgrade_warnings").withColumn("collection_id", lit(uid))
      Sink.writeFacts(upFacts, s"$lakeDir/record")
      val notes = Notes.fromUpgradeWarnings(up, uid).persist()
      Sink.writeByCollection(notes, s"$lakeDir/collection_note")
      nNotes += notes.count()
      notes.unpersist()
      plane = markLoaded(plane, uid, paths, dt.format)
      compileSrc = upFacts
    }

    // per-file immediate compile off the tree's compile BASE (the upgraded
    // collection when present, else the original)
    val baseId = upgradedId.getOrElse(collectionId)
    plane.compiledChild(plane.collection(baseId)).foreach { compiledC =>
      val compiledId = compiledC.id
      if (!compiledC.compilationStarted)
        plane = Control.startCompilation(plane, compiledId).getOrElse(plane)
      // AlreadyExists guard: anti-join against ocids an earlier batch
      // compiled (partition-pruned to this compiled collection)
      val fresh = Sink.readOrEmpty(spark, s"$lakeDir/compiled_release") match {
        case Some(existing) => compileSrc.join(
          existing.filter(col("collection_id") === compiledId).select("ocid"),
          Seq("ocid"), "left_anti")
        case None => compileSrc
      }
      val out = Compile.recordSummariesAndNotes(
        fresh.select(col("ocid"), col("filename"), col("record_seq"),
          col("data").as("record")), spark)
        .toDF().persist()
      // NOTES FIRST, deduplicated by (code, note, data) against the rows
      // already in the compiled collection's partition: a crash between
      // the two writes then re-emits the notes on replay and the anti-join
      // drops the already-written ones — neither loss nor duplication,
      // whichever side of the window the crash lands on (the r7 honest-
      // caveat window, now closed). The ocid rides in `data` (the
      // reference's note context JSON) so repeated follow-up TEXTS across
      // ocids stay distinct rows.
      val freshNotes = out.filter(col("note").isNotNull).select(
        lit(compiledId).as("collection_id"), col("note.code").as("code"),
        col("note.note").as("note"),
        to_json(struct(col("note.ocid").as("ocid"))).as("data"))
      nNotes += appendNewNotes(spark, lakeDir, freshNotes, compiledId)
      Sink.writeFacts(
        out.filter(col("summary").isNotNull).select(col("summary.*"))
          .withColumn("filename", lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn("collection_id", lit(compiledId)),
        s"$lakeDir/compiled_release")
      out.unpersist()
      // the completion gate tracks per-file compile on the compile BASE
      // (finisher checks the compiled child's PARENT's files)
      paths.foreach(f => plane = Control.markFileCompiled(plane, baseId, f))
    }
    val nItems = records.count()
    upgradedCache.foreach(_.unpersist())
    records.unpersist()
    (plane, nItems, nNotes)
  }

  /** Compiled-release leg (`file_worker.py:371-380`): already-compiled
    * releases land DIRECTLY in the loading collection's own
    * `compiled_release` facts — no package envelope (`process_file`:
    * package = None), no derived compile later (the compiler returns for
    * this format, `compiler.py:81-83`). Each document is summarized into
    * the same row shape the merge engine emits (n_releases=1: the document
    * IS the compiled release; n_warnings=0). */
  private def loadCompiledBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    import spark.implicits._
    var plane = plane0
    val items = Ingest.loadItems(spark, paths, dt).toDF().persist()
    storeNewData(spark, items, lakeDir)
    // filename rides along (the reference's CompiledRelease keeps its
    // collection_file FK): it is this format's ONLY filename-keyed trace
    // in the lake, which the streaming loader's crash repair keys on
    def writeSummaries(src: org.apache.spark.sql.DataFrame, cid: Long): Unit =
      Sink.writeFacts(
        src.select("filename", "ocid", "data")
          .as[(String, String, String)]
          .mapPartitions(_.map { case (filename, ocid, data) =>
            (filename, Compile.summarizeDoc(ocid, graft.ocds.Canonical.parse(data),
              nReleases = 1L, nWarnings = 0L))
          })
          .toDF("filename", "summary")
          .select(col("summary.*"), col("filename"))
          .withColumn("collection_id", lit(cid)),
        s"$lakeDir/compiled_release")
    writeSummaries(items, collectionId)

    // upgrade leg: a compiled release IS a release, so `upgrade_10_11`
    // applies exactly as for release packages (`file_worker.py:330-335`
    // routes the upgraded collection's compiled-release rows through the
    // same _store_data) — the upgraded collection gets its own
    // compiled_release facts and lifecycle rows
    var nNotes = 0L
    upgradedId.foreach { uid =>
      val up = Upgrade.upgradeItems(items, spark).toDF().persist()
      writeSummaries(up, uid)
      val notes = Notes.fromUpgradeWarnings(up, uid).persist()
      Sink.writeByCollection(notes, s"$lakeDir/collection_note")
      nNotes += notes.count()
      notes.unpersist()
      plane = markLoaded(plane, uid, paths, dt.format)
      up.unpersist()
    }
    val nItems = items.count()
    items.unpersist()
    (plane, nItems, nNotes)
  }

  /** Stage 2 (the compiler → checker → finisher worker chain as one call):
    * compile gate (T4) on the collection that PLANS compile (the upgraded
    * one when present), run-once flip on the compiled collection (T5,
    * `compiler.py:59-62`), ONE merge pass emitting compiled rows and notes
    * together, the enqueued latch (`compiler.py:106-108`), V1 structural
    * checks of the original rows, then completion gates + cached counts
    * leaf-first under the optimistic guard. Reads everything it needs from
    * the lake, so it composes with any load history (keep-open loads,
    * addfiles batches) — the worker hand-off seam. */
  def compileAndFinish(
      spark: SparkSession,
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      now: String): CompileStage = {

    // route on the collection's sniffed format, like the compiler worker
    // (`compiler.py:69-83`): record packages already compiled per file
    // during load; compiled-release collections have nothing to compile
    plane0.collection(collectionId).dataTypeFormat match {
      case Some(graft.ingest.FormatDetect.Format.RecordPackage) =>
        return recordFinish(spark, lakeDir, plane0, collectionId, now)
      case Some(graft.ingest.FormatDetect.Format.CompiledRelease) =>
        return compiledFinish(spark, lakeDir, plane0, collectionId, now)
      case _ => () // release package (or closed-empty): the merge path below
    }

    var plane = plane0
    val upgradedId = plane.upgradedChild(collectionId).map(_.id)
    val compileBaseId = upgradedId.getOrElse(collectionId)
    val compiledId = plane.compiledChild(plane.collection(compileBaseId))
      .getOrElse(throw new IllegalArgumentException(
        s"collection $collectionId has no compile-releases child"))
      .id

    require(Control.compilable(plane, plane.collection(compileBaseId)),
      "collection failed the compile gate")
    plane = Control.startCompilation(plane, compiledId)
      .getOrElse(throw new IllegalStateException("compilation already started"))
    // closed-EMPTY tree (expected_files_count=0, trivially compilable,
    // `compiler._collection_is_empty`): no facts were ever written for
    // this tree — nothing to merge or check, finalize the chain with zeros
    val treeHasFacts = Sink.readOrEmpty(spark, s"$lakeDir/release")
      .exists(_.filter(col("collection_id") === compileBaseId).limit(1).count() > 0)
    if (!treeHasFacts) {
      plane = Control.complete(plane, compiledId, now, 0L, 0L, 0L)
        .getOrElse(throw new IllegalStateException("compiled collection not completable"))
      upgradedId.foreach { uid =>
        plane = Control.complete(plane, uid, now, 0L, 0L, 0L)
          .getOrElse(throw new IllegalStateException("upgraded collection not completable"))
      }
      plane = Control.complete(plane, collectionId, now, 0L, 0L, 0L)
        .getOrElse(throw new IllegalStateException("collection not completable"))
      return CompileStage(compiledId, 0L, 0L, 0L, plane)
    }
    // the compile chain (shuffle → merge → compiled facts + notes) runs
    // as one leg; V1 structural checks on the ORIGINAL rows run beside it
    // (they only read release/package_data, which the chain never
    // writes): each item's envelope is rebuilt from ITS file's package
    // metadata (checker.py:101-108) and validated. The check row's id is
    // the fact row's stable content key — deterministic across runs and
    // partitionings (the reference keys release_check on the release
    // row's PK), unlike monotonically_increasing_id.
    val Seq(nNotes, checkFailures) = Legs.inParallel(
      () => compileMerged(spark, lakeDir, compileBaseId, compiledId),
      () => Checker.checkItems(
        checkInput(spark, lakeDir, "release", collectionId, collectionId), "release", spark)
        .filter(!col("ok")).count())
    plane = plane.copy(collections = plane.collections.updated(compiledId,
      plane.collection(compiledId).copy(compilationEnqueued = true)))

    // completion gates + cached counts, leaf-first: compiled → upgraded →
    // original
    val nItems = Sink.readFacts(spark, s"$lakeDir/release")
      .filter(col("collection_id") === collectionId).count()
    val nCompiled = Sink.readFacts(spark, s"$lakeDir/compiled_release")
      .filter(col("collection_id") === compiledId).count()
    plane = Control.complete(plane, compiledId, now, 0L, 0L, nCompiled)
      .getOrElse(throw new IllegalStateException("compiled collection not completable"))
    upgradedId.foreach { uid =>
      plane = Control.complete(plane, uid, now, nItems, 0L, 0L)
        .getOrElse(throw new IllegalStateException("upgraded collection not completable"))
    }
    plane = Control.complete(plane, collectionId, now, nItems, 0L, 0L)
      .getOrElse(throw new IllegalStateException("collection not completable"))

    CompileStage(compiledId, nCompiled, checkFailures, nNotes, plane)
  }

  /** [[compileAndFinish]]'s merge chain: ONE merge pass over the
    * compile base's release facts, read straight from the lake and
    * grouped by one ocid shuffle, emitting compiled rows into
    * `compiledId`'s compiled_release partition and merge warnings as its
    * notes. Returns the notes written. */
  private def compileMerged(
      spark: SparkSession,
      lakeDir: String,
      compileBaseId: Long,
      compiledId: Long): Long = {
    val compileOut = Compile.summariesAndWarnings(
      Sink.readFacts(spark, s"$lakeDir/release")
        .filter(col("collection_id") === compileBaseId)
        .select(col("ocid"), col("release_date").as("date"),
          col("release_id").as("tiebreak"), col("data").as("release")),
      spark)
      .toDF()
      .persist()
    val compiled = compileOut.filter(col("summary").isNotNull)
      .select(col("summary.*"))
      // merge-produced rows span many source files — no single filename
      // (the direct compiled-release load is the filename-keyed case)
      .withColumn("filename", lit(null).cast(org.apache.spark.sql.types.StringType))
      .withColumn("collection_id", lit(compiledId))
    // dynamic partition OVERWRITE, not append: a compile retried after a
    // mid-write crash (the run-once latch only persists on success) must
    // replace its own partition, never duplicate it (T5's idempotence at
    // the storage layer)
    Sink.overwriteCollectionPartitions(compiled, s"$lakeDir/compiled_release")
    val freshCompileNotes = Notes.fromCompileWarnings(
      compileOut.filter(col("warning").isNotNull).select(col("warning.*")),
      compiledId)
    // retry-idempotent APPEND, not a partition overwrite: the compiled
    // child's note partition is NOT exclusively this job's output —
    // Api.create persists the user's creation note on every created
    // collection including the compiled one, and an overwrite would
    // silently delete it on any compile emitting >=1 warning (ADVICE r7)
    val nNotes = appendNewNotes(spark, lakeDir, freshCompileNotes, compiledId)
    compileOut.unpersist()
    nNotes
  }

  /** Append the `fresh` notes that collection `cid`'s `collection_note`
    * partition does not hold yet, matched on (code, note, data), and
    * return how many were appended: a replayed batch or compile re-emits
    * its notes and only the missing ones land. */
  private def appendNewNotes(
      spark: SparkSession, lakeDir: String, fresh: DataFrame, cid: Long): Long = {
    val notes = (Sink.readOrEmpty(spark, s"$lakeDir/collection_note") match {
      case Some(existing) => fresh.join(
        existing.filter(col("collection_id") === cid).select("code", "note", "data"),
        Seq("code", "note", "data"), "left_anti")
      case None => fresh
    }).persist()
    // count (and thereby materialize the cache) BEFORE the append: the
    // anti-join plan reads the very table being written
    val n = notes.count()
    Sink.writeByCollection(notes, s"$lakeDir/collection_note")
    notes.unpersist()
    n
  }

  /** The session-catalog name the compile's ocid-bucketed input copy was
    * once written under, one per lake directory. Nothing writes that
    * table any more; the name remains for callers that still drop it. */
  def bucketedCompileTable(lakeDir: String): String =
    "graft_compile_in_" + graft.ocds.Canonical.md5hex(lakeDir).take(12)

  /** Record-package finish: the per-ocid compiles already ran during load
    * ([[loadRecordBatch]]); what remains is V1 structural checks of the
    * record rows (record-package schema, envelope rebuilt per file like the
    * release path) and the completion gates — the compiled child completes
    * once every parent file's `compilationStarted` flag is set (T3,
    * `finisher.py`'s record branch). */
  private def recordFinish(
      spark: SparkSession,
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      now: String): CompileStage = {
    var plane = plane0
    val upgradedId = plane.upgradedChild(collectionId).map(_.id)
    val baseId = upgradedId.getOrElse(collectionId)
    val compiledId = plane.compiledChild(plane.collection(baseId))
      .getOrElse(throw new IllegalArgumentException(
        s"collection $collectionId has no compile-releases child")).id
    require(Control.compilable(plane, plane.collection(baseId)),
      "collection failed the compile gate")
    // normally flipped by the first record batch; a closed-empty record
    // collection reaches here without any batch having run
    if (!plane.collection(compiledId).compilationStarted)
      plane = Control.startCompilation(plane, compiledId).getOrElse(plane)

    val (nRecords, checkFailures) =
      Sink.readOrEmpty(spark, s"$lakeDir/record") match {
        case None => (0L, 0L)
        case Some(all) =>
          val failures = Checker.checkItems(
            checkInput(spark, lakeDir, "record", collectionId, collectionId), "record", spark)
            .filter(!col("ok")).count()
          (all.filter(col("collection_id") === collectionId).count(), failures)
      }
    val nCompiled = Sink.readOrEmpty(spark, s"$lakeDir/compiled_release")
      .map(_.filter(col("collection_id") === compiledId).count()).getOrElse(0L)
    plane = Control.complete(plane, compiledId, now, 0L, 0L, nCompiled)
      .getOrElse(throw new IllegalStateException("compiled collection not completable"))
    upgradedId.foreach { uid =>
      plane = Control.complete(plane, uid, now, 0L, nRecords, 0L)
        .getOrElse(throw new IllegalStateException("upgraded collection not completable"))
    }
    plane = Control.complete(plane, collectionId, now, 0L, nRecords, 0L)
      .getOrElse(throw new IllegalStateException("collection not completable"))
    CompileStage(compiledId, nCompiled, checkFailures, 0L, plane)
  }

  /** Compiled-release finish: the loaded rows already ARE the collection's
    * compiled facts ([[loadCompiledBatch]]); the compiler does nothing for
    * this format (`compiler.py:81-83`) beyond flipping the compiled child's
    * run-once latch, so the child (created only when the user asked
    * `--compile`) completes EMPTY and the root completes with its own
    * compiled count. The reference's checker checks only release/record
    * rows, so this format has no structural-check pass. */
  private def compiledFinish(
      spark: SparkSession,
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      now: String): CompileStage = {
    var plane = plane0
    def compiledCount(cid: Long): Long =
      Sink.readOrEmpty(spark, s"$lakeDir/compiled_release")
        .map(_.filter(col("collection_id") === cid).count()).getOrElse(0L)
    val upgradedId = plane.upgradedChild(collectionId).map(_.id)
    val baseId = upgradedId.getOrElse(collectionId)
    // the --compile child (if requested) hangs off the compile base and
    // completes EMPTY (the compiler's no-op for this format)
    plane.compiledChild(plane.collection(baseId)).foreach { c =>
      if (!c.compilationStarted)
        plane = Control.startCompilation(plane, c.id).getOrElse(plane)
      plane = Control.complete(plane, c.id, now, 0L, 0L, 0L)
        .getOrElse(throw new IllegalStateException("compiled collection not completable"))
    }
    upgradedId.foreach { uid =>
      plane = Control.complete(plane, uid, now, 0L, 0L, compiledCount(uid))
        .getOrElse(throw new IllegalStateException("upgraded collection not completable"))
    }
    val nCompiled = compiledCount(collectionId)
    plane = Control.complete(plane, collectionId, now, 0L, 0L, nCompiled)
      .getOrElse(throw new IllegalStateException("collection not completable"))
    CompileStage(collectionId, nCompiled, 0L, 0L, plane)
  }

  /** Finisher leg for a load that planned NO compile step (`load` without
    * `--compile` — reference load.py:34: additional processing is opt-in):
    * there is no compiled child and no merge to run, so the chain is just
    * the completion gates + cached counts, upgraded child first, then the
    * root. The collection ends completed ("closed" in reference terms) but
    * uncompiled — `addchecks`, a later API-created compile collection, or
    * analytics over the raw release facts are all still possible. */
  def finishUncompiled(
      spark: SparkSession,
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      now: String): Control.Plane = {
    var plane = plane0
    def counts(id: Long): (Long, Long, Long) = {
      def n(table: String): Long = Sink.readOrEmpty(spark, s"$lakeDir/$table")
        .map(_.filter(col("collection_id") === id).count()).getOrElse(0L)
      // compiled_release counts too: a compiled-release-format load lands
      // its rows directly under the loading collection
      (n("release"), n("record"), n("compiled_release"))
    }
    plane.upgradedChild(collectionId).map(_.id).foreach { uid =>
      val (rel, rec, comp) = counts(uid)
      plane = Control.complete(plane, uid, now, rel, rec, comp)
        .getOrElse(throw new IllegalStateException("upgraded collection not completable"))
    }
    val (rel, rec, comp) = counts(collectionId)
    plane = Control.complete(plane, collectionId, now, rel, rec, comp)
      .getOrElse(throw new IllegalStateException("collection not completable"))
    plane
  }

  /** The checker pass (the `addchecks` command AND the load-planned
    * `--check` step run the same code): validate every item of `cid`
    * against the official schema, persist one check row per item into
    * release_check / record_check (incremental — rows already checked are
    * anti-joined away), and return Some((checked, failed)). None when the
    * collection's format has no check pass at all (compiled releases — the
    * reference's checker handles only Release and Record rows) or the fact
    * table is absent. */
  def runChecks(
      spark: SparkSession,
      lakeDir: String,
      plane: Control.Plane,
      cid: Long,
      // restricts the check to one micro-batch's files (the streaming
      // checker leg); None = the whole collection (CLI addchecks)
      files: Option[Seq[String]] = None): Option[(Long, Long)] = {
    // package metadata is stored under the ROOT collection (the upgraded
    // collection's rows come from the same source files)
    val rootId = plane.rootParent(plane.collection(cid)).id
    val isRecord = plane.collection(cid).dataTypeFormat
      .contains(Control.Format.RecordPackage)
    val (factTable, checkTable, kind) =
      if (isRecord) ("record", "record_check", "record")
      else ("release", "release_check", "release")
    if (plane.collection(cid).dataTypeFormat
        .contains(graft.ingest.FormatDetect.Format.CompiledRelease) ||
        Sink.readOrEmpty(spark, s"$lakeDir/$factTable").isEmpty)
      return None
    val rows0 = checkInput(spark, lakeDir, factTable, cid, rootId, files)
    // the streaming slice feeds rows TWICE — the driver-side touched-
    // bucket collect and the anti-join probe; persist so the md5-heavy
    // check-id projection and the package join run once per batch, not
    // twice (code-review r16). Whole-collection passes read rows once.
    val rows = if (files.isDefined) rows0.persist() else rows0
    try {
      // whole-collection passes anti-join the full slice; a files-restricted
      // (streaming) pass prunes it to the batch ids' buckets — O(batch
      // share), not O(stream lifetime) (VERDICT r15 finding #1)
      val existing = checkedSlice(spark, lakeDir, checkTable, cid,
        if (files.isDefined) Some(rows) else None)
      val checks = Checker.checkUnchecked(rows, existing, kind, spark)
        .toDF().withColumn("collection_id", lit(cid)).persist()
      // count BEFORE the append: the plan reads the check table (the
      // anti-join side) lazily, so evaluating it after writing to the
      // same table would anti-join the rows against themselves → checked=0
      val result = (checks.count(), checks.filter(!col("ok")).count())
      Sink.writeChecks(checks, s"$lakeDir/$checkTable")
      checks.unpersist()
      Some(result)
    } finally {
      if (files.isDefined) { rows.unpersist(); () }
    }
  }

  /** The structural check's input over collection `cid`'s `factTable`
    * rows (only `files`' rows when given): the stable check id, the item,
    * and the envelope rebuilt from its file's `package_data` row, stored
    * under the root collection `rootId` (checker.py:101-108). Record rows
    * carry no release id. `package_data` can be legitimately absent (crash
    * remnants, older lakes): the checker already treats a missing envelope
    * as null. */
  private def checkInput(
      spark: SparkSession, lakeDir: String, factTable: String, cid: Long, rootId: Long,
      files: Option[Seq[String]] = None): DataFrame = {
    val all = Sink.readFacts(spark, s"$lakeDir/$factTable").filter(col("collection_id") === cid)
    val facts = files.fold(all)(fs => all.filter(col("filename").isin(fs: _*)))
      .select(col("filename"), col("ocid"),
        (if (factTable == "record") lit("") else col("release_id")).as("release_id"),
        col("hash_md5"), col("data"))
    val withPkg = Sink.readOrEmpty(spark, s"$lakeDir/package_data") match {
      case Some(p) => facts.join(
        p.filter(col("collection_id") === rootId).select("filename", "package_data"),
        Seq("filename"), "left")
      case None => facts.withColumn(
        "package_data", lit(null).cast(org.apache.spark.sql.types.StringType))
    }
    withPkg.select(Checker.checkId.as("id"), col("data"), col("package_data"))
  }

  /** The already-checked slice a check pass anti-joins against. With
    * `batchRows` (the streaming leg), the scan statically prunes to the
    * batch ids' `check_bucket` partitions — the driver-side isin is
    * bounded by the 64-value bucket domain (the NeardupStore idiom), so
    * a micro-batch's idempotence read costs O(batch's bucket share of
    * one collection), never the whole check history. Exposed at package
    * level so StreamingSpec can pin the PartitionFilters. */
  private[graft] def checkedSlice(
      spark: SparkSession, lakeDir: String, checkTable: String, cid: Long,
      batchRows: Option[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val all = Sink.readOrEmpty(spark, s"$lakeDir/$checkTable")
      .map(_.filter(col("collection_id") === cid))
      .getOrElse(return spark.emptyDataFrame.withColumn("id", lit(0L)))
    batchRows match {
      case None => all
      case Some(rows) =>
        val touched = rows
          .select(pmod(col("id"), lit(Sink.CheckBuckets.toLong)).as("b"))
          .distinct().as[Long].collect()
        if (touched.isEmpty) all.limit(0)
        else all.filter(col("check_bucket").isin(touched: _*))
    }
  }

  /** A loaded collection's fact rows as the (source, doc_id, text)
    * document frame the corpus-pipeline engines consume — the seam shared
    * by the CLI's `dedup`/`substr-dedup` commands (whole collection) and
    * the streaming near-dup store (`files` = one micro-batch's filename
    * slice). doc_id = xxhash64 of the content hash (deterministic under
    * any partitioning; identical items collapse to one document), text =
    * the item JSON flattened to word tokens. Compiled-release collections
    * carry no raw text surface → None. */
  def collectionDocsOf(
      spark: SparkSession,
      lakeDir: String,
      c: Control.Collection,
      files: Option[Seq[String]] = None): Option[DataFrame] = {
    val table = c.dataTypeFormat match {
      case Some(graft.ingest.FormatDetect.Format.CompiledRelease) => return None
      case Some(Control.Format.RecordPackage) => "record"
      case _ => "release"
    }
    Sink.readOrEmpty(spark, s"$lakeDir/$table").map { t =>
      val slice = files match {
        case Some(fs) => t.filter(col("filename").isin(fs: _*))
        case None     => t
      }
      slice.filter(col("collection_id") === c.id)
        .select(lit(c.sourceId).as("source"),
          xxhash64(col("hash_md5")).as("doc_id"),
          regexp_replace(col("data"), "[^A-Za-z0-9]+", " ").as("text"))
        .dropDuplicates("doc_id")
    }
  }

  /** Load every file under `inputDir` into collection `collectionId`,
    * optionally upgrade 1.0→1.1 into a derived collection, compile into the
    * final derived collection, structurally check the loaded rows, and
    * finalize the whole tree. `now` is the caller's clock (kept pure for
    * testability, like the control plane). */
  def loadAndCompile(
      spark: SparkSession,
      inputDir: String,
      lakeDir: String,
      collectionId: Long = 1L,
      now: String = "1970-01-01 00:00:00",
      upgrade: Boolean = false): LoadReport = {
    val l = load(spark, inputDir, lakeDir, collectionId, now, upgrade)
    val c = compileAndFinish(spark, lakeDir, l.plane, collectionId, now)
    val nData = Sink.readDedupStore(spark, s"$lakeDir/data").count()
    LoadReport(l.collectionId, l.upgradedCollectionId, c.compiledCollectionId,
      l.dataVersion, l.files, l.items, nData, c.compiled, c.checkFailures,
      l.notes + c.notes, c.plane)
  }
}
