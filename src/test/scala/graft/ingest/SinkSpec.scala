package graft.ingest

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.ocds.Compile

/** S7 round-trip: load → write the partitioned layout → read back pruned →
  * compile over the written layout, matching the direct compile. */
class SinkSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def facts = {
    import s.implicits._
    Seq(
      (1L, "ocds-a", "2020-01-01", "r1", """{"date":"2020-01-01","v":"old"}"""),
      (1L, "ocds-a", "2020-01-02", "r2", """{"date":"2020-01-02","v":"new"}"""),
      (1L, "ocds-b", "2020-01-03", "r3", """{"date":"2020-01-03","v":"only"}"""),
      (2L, "ocds-c", "2020-01-04", "r4", """{"date":"2020-01-04","v":"other"}""")
    ).toDF("collection_id", "ocid", "date", "tiebreak", "release")
  }

  test("writeFacts produces collection_id partitions; reads prune to one") {
    val dir = Files.createTempDirectory("graft-sink").toString
    Sink.writeFacts(facts, dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("collection_id=")).sorted
    assert(parts === Array("collection_id=1", "collection_id=2"))
    val pruned = Sink.readFacts(s, dir).filter(org.apache.spark.sql.functions.col("collection_id") === 1L)
    assert(pruned.count() === 3)
    // partition pruning visible in the physical plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("collection_id"))
  }

  test("compile over the written layout equals the direct compile") {
    import s.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString
    Sink.writeFacts(facts, dir)
    val readBack = Sink.readFacts(s, dir)
      .filter(org.apache.spark.sql.functions.col("collection_id") === 1L)
      .select("ocid", "date", "tiebreak", "release")
    val fromLake = Compile.summaries(readBack, s).collect().sortBy(_.ocid)
    val direct = Compile.summaries(
      facts.filter($"collection_id" === 1L).select("ocid", "date", "tiebreak", "release"), s)
      .collect().sortBy(_.ocid)
    assert(fromLake.toSeq === direct.toSeq)
    assert(fromLake.map(_.ocid).toSeq === Seq("ocds-a", "ocds-b"))
  }

  test("dedup store partitions by hash prefix and supports the anti-join") {
    import s.implicits._
    val dir = Files.createTempDirectory("graft-store").toString
    val data = Seq(
      ("aa11", "{\"x\":1}"), ("ab22", "{\"x\":2}"), ("aa33", "{\"x\":3}")
    ).toDF("hash_md5", "data")
    Sink.writeDedupStore(data, dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("hash_bucket=")).sorted
    assert(parts === Array("hash_bucket=aa", "hash_bucket=ab"))
    val incoming = Seq(("aa11", "dup"), ("cc44", "new")).toDF("hash_md5", "data")
    val fresh = Ingest.dedupData(incoming, Some(Sink.readDedupStore(s, dir)))
    assert(fresh.select("hash_md5").as[String].collect().toSeq === Seq("cc44"))
  }

  /** Per directory of a partitioned write, the writer task of each part
    * file (`part-<task>-<job>…`: the Spark partition that wrote it). */
  private def writerTasks(dir: String): Map[String, Seq[Int]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .groupBy(f => root.relativize(f.getParent).toString)
      .map { case (d, fs) => d -> fs.map(_.getFileName.toString.slice(5, 10).toInt) }
    finally walk.close()
  }

  test("bucket-partitioned writes: one file per touched bucket, shuffle.partitions writer tasks") {
    import s.implicits._
    // AQE would coalesce these tiny shuffles to ONE task writing every
    // bucket directory; the explicit count spreads the buckets over the
    // configured partitions while each bucket stays whole in one task
    val parallelism = s.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parallelism > 1)
    val storeDir = Files.createTempDirectory("graft-store-tasks").toString
    val hashes = (0 until 16).map(i => f"$i%02x" + "feed")
    Sink.writeDedupStore(hashes.map(h => (h, s"""{"h":"$h"}""")).toDF("hash_md5", "data"), storeDir)
    val storeFiles = writerTasks(storeDir)
    assert(storeFiles.keySet === hashes.map(h => s"hash_bucket=${h.take(2)}").toSet)
    assert(storeFiles.values.forall(_.size == 1), storeFiles)
    assert(storeFiles.values.flatten.toSet.size === parallelism, storeFiles)

    val checkDir = Files.createTempDirectory("graft-checks-tasks").toString
    Sink.writeChecks((0L until 16L).map(id => (id, true, 1L)).toDF("id", "ok", "collection_id"),
      checkDir)
    val checkFiles = writerTasks(checkDir)
    assert(checkFiles.keySet === (0 until 16).map(b => s"collection_id=1/check_bucket=$b").toSet)
    assert(checkFiles.values.forall(_.size == 1), checkFiles)
    assert(checkFiles.values.flatten.toSet.size === parallelism, checkFiles)
  }

  test("a bucketed fact table compiles with ZERO exchanges; plain input still shuffles once") {
    import org.apache.spark.sql.functions.col
    s.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
    Sink.writeFactsBucketed(
      facts.select("ocid", "date", "tiebreak", "release"), "graft_bucketed_spec", buckets = 2)
    val fromBucketed = Compile.summariesCoLocated(s.table("graft_bucketed_spec"), s)
    val bucketedPlan = fromBucketed.queryExecution.executedPlan.toString
    // the whole point: the bucketed scan's distribution satisfies the
    // group-by requirement, so NO shuffle anywhere in the compile
    assert(!bucketedPlan.contains("Exchange"), s"unexpected shuffle:\n$bucketedPlan")
    // …and on a plain (non-bucketed) frame the same code path lets
    // Catalyst insert the one ocid shuffle summaries() does explicitly
    val fromPlain = Compile.summariesCoLocated(facts, s)
    assert(fromPlain.queryExecution.executedPlan.toString.contains("Exchange"))
    // results identical to the explicit-repartition job on the same rows
    val expected = Compile.summaries(
      facts.select("ocid", "date", "tiebreak", "release"), s).collect().sortBy(_.ocid).toSeq
    assert(fromBucketed.collect().sortBy(_.ocid).toSeq === expected)
    assert(fromPlain.collect().sortBy(_.ocid).toSeq === expected)
    s.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
  }

  test("compactCollection after a mid-swap crash keeps every row (recovery precedes the plan)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-swapcrash").toString
    Sink.writeFacts(facts, dir)
    val before = Sink.readFacts(s, dir)
      .filter(col("collection_id") === 1L)
      .select("ocid", "tiebreak").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(before.length === 3)
    // simulate a swap that crashed BETWEEN its two renames: the live
    // partition was retired to _swap_old, the replacement still sits in
    // _swap_tmp, and collection_id=1 does not exist. Before the fix the
    // compaction built its read plan over this listing (which excludes
    // underscore dirs AND the missing partition), saw zero rows, and
    // deleted the restored partition — silent loss of collection 1.
    val table = JP.get(dir)
    val partDir = table.resolve("collection_id=1")
    JF.move(partDir, table.resolve("_swap_old_collection_id=1"))
    val tmp = table.resolve("_swap_tmp_collection_id=1")
    JF.createDirectories(tmp)
    JF.write(tmp.resolve("part-half-written.parquet"), Array[Byte](1, 2, 3))
    assert(!JF.exists(partDir))
    val n = Sink.compactCollection(s, dir, 1L, clusterByOcid = false)
    assert(n === 3L)
    val after = Sink.readFacts(s, dir)
      .filter(col("collection_id") === 1L)
      .select("ocid", "tiebreak").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(after.toSeq === before.toSeq)
    // debris swept; other collection untouched
    assert(new java.io.File(dir).list().count(_.startsWith("_swap")) === 0)
    assert(Sink.readFacts(s, dir).filter(col("collection_id") === 2L).count() === 1)
  }

  test("writeShards: one file per shard, seq order in-file, bytes reproducible") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    // doc 157 carries a NULL text: the export must keep the schema
    // rectangular (explicit JSON null, never a dropped key)
    val rows = (1L to 157L).map(i =>
      (i, s"s${i % 3}", if (i == 157L) null else s"text of $i"))
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_shards")
      Sink.writeShards(
        graft.TextQueries.shuffleExportOf(docs, nShards = 4, payloadCols = Seq("text")),
        dir.toString)
      dir
    }
    // read back: per shard directory, the (sorted) part files' lines in order
    def readShards(dir: java.nio.file.Path): Map[Long, (Int, Seq[String])] =
      Files.list(dir).iterator.asScala
        .filter(p => p.getFileName.toString.startsWith("shard="))
        .map { shardDir =>
          val parts = Files.list(shardDir).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          val lines = parts.flatMap(p =>
            Files.readAllLines(p).asScala.toSeq)
          shardDir.getFileName.toString.stripPrefix("shard=").toLong ->
            (parts.size, lines.toSeq)
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    assert(a.keySet === Set(0L, 1L, 2L, 3L))
    // exactly one file per shard (the repartition-by-shard contract)
    a.values.foreach { case (nFiles, _) => assert(nFiles === 1) }
    // in-file order IS seq order, seqs contiguous from 1, payload present
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    a.foreach { case (shard, (_, lines)) =>
      val parsed = lines.map(mapper.readTree)
      assert(parsed.map(_.get("seq").asLong).toSeq ===
        (1L to lines.length.toLong), s"shard $shard")
      parsed.foreach { n =>
        assert(n.has("text"), s"text key dropped for doc ${n.get("doc_id")}")
        if (n.get("doc_id").asLong == 157L)
          assert(n.get("text").isNull, "null text must serialize as JSON null")
        else
          assert(n.get("text").asText === s"text of ${n.get("doc_id").asLong}")
      }
    }
    // the whole export is a permutation of the corpus
    assert(a.values.flatMap(_._2).map(l => mapper.readTree(l).get("doc_id").asLong)
      .toSeq.sorted === (1L to 157L))
    // byte-reproducibility: a differently-partitioned, shuffled input
    // writes IDENTICAL shard contents
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(7)))
    assert(a.view.mapValues(_._2).toMap === b.view.mapValues(_._2).toMap,
      "shard bytes depend on input partitioning")
  }

  test("writeShards --epoch layout: vtime order in-file, bytes reproducible, repetition fanned") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val rows = (1L to 31L).map(i => (i, s"s${i % 2}", s"text of $i"))
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_epoch_shards")
      Sink.writeShards(
        graft.TextQueries.mixEpochExportOf(docs, totalBudget = 100L, nShards = 4),
        dir.toString, orderCols = Seq("vtime", "source", "doc_id", "k"))
      dir
    }
    def readShards(dir: java.nio.file.Path): Map[Long, Seq[String]] =
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.startsWith("shard="))
        .map { d =>
          val parts = Files.list(d).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          assert(parts.size === 1, s"${d.getFileName}: ${parts.size} files")
          d.getFileName.toString.stripPrefix("shard=").toLong ->
            parts.flatMap(p => Files.readAllLines(p).asScala.toSeq).toSeq
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = a.values.flatten.map(mapper.readTree).toSeq
    // budget 100 over 31 docs: repetition must appear (some doc > 1 copy),
    // text fans out on every copy
    assert(parsed.size > 31)
    assert(parsed.groupBy(_.get("doc_id").asLong).values.exists(_.size > 1))
    parsed.foreach { n =>
      assert(n.get("text").asText === s"text of ${n.get("doc_id").asLong}")
    }
    // schedule order: vtime non-decreasing within each shard file
    a.foreach { case (shard, lines) =>
      val vs = lines.map(l => mapper.readTree(l).get("vtime").asDouble)
      assert(vs === vs.sorted, s"shard $shard not in vtime order")
    }
    // byte-reproducibility from a shuffled, repartitioned input
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(5)))
    assert(a === b, "epoch shard bytes depend on input partitioning")
  }

  test("packed epoch export: fixed-B windows except tails, token conservation, reproducible") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    // varied doc lengths so windows straddle documents; B=7 far below doc
    // sizes' lcm so every shard gets straddles AND a ragged tail
    val rnd = new scala.util.Random(7)
    val rows = (1L to 31L).map(i =>
      (i, s"s${i % 2}", Seq.fill(1 + rnd.nextInt(9))(s"w$i").mkString(" ")))
    val B = 7
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_packed_shards")
      Sink.writeShards(
        graft.TextQueries.packedEpochExportOf(
          docs, totalBudget = 60L, nShards = 3, epochIdx = 0L, B = B),
        dir.toString, orderCols = Seq("window_id"))
      dir
    }
    def readShards(dir: java.nio.file.Path): Map[Long, Seq[String]] =
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.startsWith("shard="))
        .map { d =>
          val parts = Files.list(d).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          assert(parts.size === 1, s"${d.getFileName}: ${parts.size} files")
          d.getFileName.toString.stripPrefix("shard=").toLong ->
            parts.flatMap(p => Files.readAllLines(p).asScala.toSeq).toSeq
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    a.foreach { case (shard, lines) =>
      val parsed = lines.map(mapper.readTree)
      // windows contiguous from 0, in order (the in-file orderCols)
      assert(parsed.map(_.get("window_id").asLong).toSeq ===
        (0L until lines.length.toLong), s"shard $shard window ids")
      // every window exactly B tokens except the final (tail) window
      val sizes = parsed.map(_.get("tokens").size)
      assert(sizes.dropRight(1).forall(_ == B),
        s"shard $shard: non-tail window != $B tokens: $sizes")
      assert(sizes.last <= B && sizes.last >= 1, s"shard $shard tail")
      parsed.foreach(n =>
        assert(n.get("n_tokens").asLong === n.get("tokens").size.toLong))
    }
    // token conservation vs the UNPACKED epoch: per shard, the windows'
    // concatenated token stream == the schedule-ordered docs' BPE streams
    import org.apache.spark.sql.functions.{call_function, col}
    graft.functions.GraftExtensions.ensureRegistered(s)
    val docsDf = rows.toDF("doc_id", "source", "text")
    val laid = graft.TextQueries
      .mixEpochExportOf(docsDf, totalBudget = 60L, nShards = 3)
      .withColumn("tk", call_function("bpe_tokens", col("text")))
      .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"), col("k"))
      .select(col("shard"), col("tk")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.flatMap(_.getSeq[String](1)).toSeq).toMap
    val unpacked = laid.filter(_._2.nonEmpty)
    val packedStream = a.view.mapValues(_.flatMap(l =>
      mapper.readTree(l).get("tokens").elements().asScala.map(_.asText).toSeq)).toMap
    assert(packedStream === unpacked, "window concat != schedule-order token stream")
    // byte-reproducibility from a shuffled, repartitioned input
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(5)))
    assert(a === b, "packed shard bytes depend on input partitioning")
  }

  test("writeJdbc round-trips through an embedded Derby database") {
    import s.implicits._
    // the serving-copy contract (reference: PostgreSQL bulk_create in
    // batches, settings.py:262-263) driven against a real JDBC database:
    // in-memory Derby, which ships on the Spark classpath
    val url = "jdbc:derby:memory:graftsink;create=true"
    java.sql.DriverManager.getConnection(url).close() // create the db
    val rows = Seq(
      (1L, "ocds-a", "r1"), (1L, "ocds-b", "r2"), (2L, "ocds-c", "r3")
    ).toDF("collection_id", "ocid", "release_id")
    Sink.writeJdbc(rows, url, "release_serving", batchSize = 2)
    val back = s.read.format("jdbc")
      .option("url", url).option("dbtable", "release_serving").load()
    assert(back.count() === 3)
    assert(back.select("ocid").as[String].collect().sorted.toSeq ===
      Seq("ocds-a", "ocds-b", "ocds-c"))
    // append mode: a second write adds rows instead of replacing
    Sink.writeJdbc(rows.limit(1), url, "release_serving")
    assert(s.read.format("jdbc")
      .option("url", url).option("dbtable", "release_serving").load().count() === 4)
  }
}
