package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Pipeline, Queries}
import graft.control.{Control, PlaneStore}
import graft.ingest.Sink
import graft.streaming.Streaming

/** The JVM side of the benchmark: runs one workload closed-loop with one
  * client thread against inputs `run.py` generated, and prints every
  * observation as a `PB {json}` line on stdout. Correctness verdicts and
  * statistics are computed by `run.py` from these lines.
  *
  * Usage: Harness <workload> <workDir> <seconds> <trace 0|1> <plant none|wrong|throw> */
object Harness {

  final case class Opts(workload: String, work: Path, seconds: Double, trace: Boolean,
      plant: String)

  private val Now = "2024-06-01 00:00:00"
  val PairQueries: Seq[String] = Seq("q_ngram_jaccard", "q_dedup_clusters", "q_neardup_lsh",
    "q_simhash_neardup", "q_neardup_embedding")

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, plant) = args
    val o = Opts(workload, Paths.get(work).toAbsolutePath, seconds.toDouble, trace == "1", plant)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.install)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    emit("stamp", "cores" -> cores, "master" -> s"local[$cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "session_ready_epoch_ms" -> System.currentTimeMillis(),
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    val tracer = if (o.trace) Some(new Tracer(spark, cores)) else None
    val run = new Run(spark, o, tracer)
    var status = 1
    try {
      o.workload match {
        case "ocds_load"   => run.ocdsLoad()
        case "ocds_stream" => run.ocdsStream()
        case "pair_search" => run.pairSearch()
        case other         => sys.error(s"unknown workload $other")
      }
      status = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      tracer.foreach(_.occurrences.foreach { occ =>
        emit("span", "name" -> occ.name, "wall_s" -> occ.wallS, "self_s" -> occ.selfS,
          "counters" -> occ.counters, "cpu_by_module" -> occ.cpuByModule)
      })
      if (status == 0) emit("end")
      // the lakes and Spark's temporary files live in the work directory,
      // which the next run clears: skip the orderly shutdown and its cleanup
      Runtime.getRuntime.halt(status)
    }
  }

  /** One observation line: `PB {"ev": ..., ...}`. */
  def emit(ev: String, fields: (String, Any)*): Unit = synchronized {
    println("PB " + Json(("ev" -> ev) +: fields))
    Console.out.flush()
  }

  private final class Run(spark: SparkSession, o: Opts, tracer: Option[Tracer]) {
    private val input = o.work.resolve("input")
    private var firstTimed = true
    private var planted = false
    private var tracing = false

    /** Spans cover timed operations only; warm-up work is not traced. */
    private def span[T](name: String, home: String = "")(body: => T): T =
      tracer match {
        case Some(t) if tracing => t.span(name, home)(body)
        case _ => body
      }

    /** Runs one timed operation closed-loop style: a thrown call is a
      * failed operation and yields no time. */
    private def op(kind: String, timed: Boolean)(body: => Map[String, Any]): Option[Map[String, Any]] = {
      if (timed && firstTimed) {
        firstTimed = false
        emit("first_timed", "epoch_ms" -> System.currentTimeMillis())
      }
      val t0 = System.nanoTime()
      try {
        if (timed && o.plant == "throw" && !planted) {
          planted = true
          throw new IllegalStateException("planted failure")
        }
        tracing = timed
        val obs = try body finally tracing = false
        val s = (System.nanoTime() - t0) / 1e9
        emit("op", (Seq("kind" -> kind, "timed" -> timed, "ok" -> true, "s" -> s) ++ obs): _*)
        Some(obs)
      } catch {
        case e: Exception =>
          emit("op", "kind" -> kind, "timed" -> timed, "ok" -> false,
            "error" -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
          None
      }
    }

    /** Post-GC old-generation occupancy, sampled between operations once
      * their cached data is released. */
    private def heapSample(): Unit = {
      spark.catalog.clearCache()
      // the ContextCleaner drops released shuffles and broadcasts only
      // after a GC has found them unreachable: collect, let it run, collect
      for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      old.foreach(p => emit("heap", "old_gen_mb" -> p.getUsage.getUsed / (1024.0 * 1024.0)))
    }

    /** The planted wrong result: one count off by one, on a timed operation. */
    private def plantWrong(n: Long): Long =
      if (o.plant == "wrong" && !firstTimed && !planted) { planted = true; n + 1 } else n

    private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    private def deleteTree(p: Path): Unit =
      if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

    private def treeBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

    /** Rows and distinct content hashes of a lake's dedup store. */
    private def dataStore(lake: Path): (Long, Long) = {
      import org.apache.spark.sql.functions.{count, count_distinct, lit}
      val r = Sink.readDedupStore(spark, lake.resolve("data").toString)
        .agg(count(lit(1)), count_distinct(col("hash_md5"))).head()
      (r.getLong(0), r.getLong(1))
    }

    private def savePlane(plane: Control.Plane): Unit = if (tracer.isDefined) {
      val times = (0 until 5).map { i =>
        val dir = o.work.resolve(s"plane-$i")
        Files.createDirectories(dir)
        val t0 = System.nanoTime()
        PlaneStore.save(dir.toString, plane)
        val ms = (System.nanoTime() - t0) / 1e6
        val bytes = treeBytes(dir)
        deleteTree(dir)
        (ms, bytes)
      }
      emit("layer", "name" -> "control.PlaneStore.save_ms", "value" -> times.map(_._1).sorted.apply(2))
      emit("layer", "name" -> "control.plane_bytes", "value" -> times.head._2.toDouble)
    }

    // ---------------------------------------------------------------- ocds_load

    def ocdsLoad(): Unit = {
      var k = 0
      /** One iteration: a fresh lake, one closed collection loaded with
        * upgrade, compiled and checked. */
      def iteration(dir: Path, timed: Boolean): Unit = {
        val lake = o.work.resolve(s"lake-$k")
        k += 1
        var plane: Control.Plane = null
        op(if (timed) "load" else "warmup", timed) {
          val l = span("Pipeline.load") {
            Pipeline.load(spark, dir.toString, lake.toString, now = Now,
              upgrade = true, compile = true, check = true)
          }
          val c = span("Pipeline.compileAndFinish") {
            Pipeline.compileAndFinish(spark, lake.toString, l.plane, l.collectionId, Now)
          }
          val (checked, failed) = span("Pipeline.runChecks") {
            Pipeline.runChecks(spark, lake.toString, c.plane, l.collectionId).get
          }
          plane = c.plane
          Map("files" -> l.files, "items" -> plantWrong(l.items), "compiled" -> c.compiled,
            "compile_check_failures" -> c.checkFailures, "checked" -> checked,
            "check_failures" -> failed)
        }.foreach { _ =>
          if (timed) {
            val (rows, distinct) = dataStore(lake)
            val table = Pipeline.bucketedCompileTable(lake.toString)
            val tableBytes = treeBytes(o.work.resolve("warehouse").resolve(table))
            emit("store", "data_rows" -> rows, "distinct_data" -> distinct,
              "lake_bytes" -> (treeBytes(lake) + tableBytes))
            if (tracer.isDefined && k == 2) savePlane(plane)
          }
        }
        spark.sql(s"DROP TABLE IF EXISTS ${Pipeline.bucketedCompileTable(lake.toString)}")
        deleteTree(lake)
        heapSample()
      }
      // warm-up: one untimed iteration on the same input
      iteration(input, timed = false)
      if (tracer.isDefined) kernels()
      val t0 = System.nanoTime()
      while (elapsed(t0) < o.seconds) iteration(input, timed = true)
    }

    // -------------------------------------------------------------- ocds_stream

    private def batches(): Seq[Seq[String]] = {
      val doc = graft.ocds.Canonical.parse(Files.readString(o.work.resolve("batches.json")))
      doc.elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq
    }

    /** Episodes of one open collection in a fresh lake. Each planned batch
      * lands in the landing directory and is drained by one AvailableNow
      * run of the streaming loader; the history grows across batches. An
      * episode's first batch is its untimed warm-up. */
    def ocdsStream(): Unit = {
      val plan = batches()
      // the measuring window opens after the first warm-up batch
      var window: Option[Long] = None
      def inWindow = window.forall(t0 => elapsed(t0) < o.seconds)
      var k = 0
      var compared = false
      while (inWindow) {
        val dir = o.work.resolve(s"stream-$k")
        k += 1
        val landing = Files.createDirectories(dir.resolve("landing"))
        val lake = dir.resolve("lake")
        val ckpt = dir.resolve("ckpt").toString
        val plane = new AtomicReference(Control.Plane(Map(
          1L -> Control.Collection(1L, "perfbench", Now, steps = Set("check")))))
        def drain(): Unit = Streaming.releaseLoadStream(spark, landing.toString, lake.toString,
          1L, None, plane, ckpt, checks = true).awaitTermination()
        val traced0 = tracer.fold(0)(_.occurrences.size)
        var landed = 0
        var ok = true
        while (ok && landed < plan.size && inWindow) {
          val files = plan(landed)
          files.foreach(f => Files.copy(input.resolve(f), landing.resolve(f)))
          ok = op(if (landed == 0) "warmup" else "batch", timed = landed > 0) {
            span("streaming.batch")(drain())
            Map("batch" -> landed)
          }.isDefined
          heapSample()
          landed += 1
          if (window.isEmpty) {
            if (tracer.isDefined) kernels()
            window = Some(System.nanoTime())
          }
        }
        if (ok) {
          tracer.filter(_ => landed > 1).foreach { t =>
            // tasks per batch against batch number: the O(history) cost
            val tasks = t.occurrences.drop(traced0).map(_.counters("tasks"))
            val mx = (tasks.size - 1) / 2.0
            val my = tasks.sum / tasks.size
            val sxx = tasks.indices.map(i => (i - mx) * (i - mx)).sum
            emit("layer", "name" -> "streaming.tasks_growth_per_batch", "value" ->
              (if (sxx == 0) 0.0 else tasks.indices.map(i => (i - mx) * (tasks(i) - my)).sum / sxx))
            val empties = (0 until 3).map { _ =>
              val e0 = System.nanoTime(); drain(); elapsed(e0)
            }
            emit("layer", "name" -> "streaming.empty_drain_s", "value" -> empties.sorted.apply(1))
            savePlane(plane.get())
          }
          val facts = Sink.readFacts(spark, lake.resolve("release").toString)
            .filter(col("collection_id") === 1L)
          val checks = spark.read.parquet(lake.resolve("release_check").toString)
            .filter(col("collection_id") === 1L)
          val (rows, distinct) = dataStore(lake)
          emit("episode", "batches" -> landed, "items" -> plantWrong(facts.count()),
            "data_rows" -> rows, "distinct_data" -> distinct, "checked" -> checks.count(),
            "check_failures" -> checks.filter(!col("ok")).count(),
            "files" -> plane.get().filesOf(1L).size, "lake_bytes" -> treeBytes(lake))
          if (!compared) { compared = true; compareWithBatch(dir) }
        }
        spark.catalog.clearCache()
        deleteTree(dir)
      }
    }

    /** The stream's final lake against a batch load of the same files. */
    private def compareWithBatch(dir: Path): Unit = {
      val lake = dir.resolve("batch-lake").toString
      val l = Pipeline.load(spark, dir.resolve("landing").toString, lake, now = Now,
        keepOpen = true, compile = false, check = true)
      Pipeline.runChecks(spark, lake, l.plane, l.collectionId)
      def facts(lk: String) = Sink.readFacts(spark, s"$lk/release")
        .select(org.apache.spark.sql.functions.regexp_extract(col("filename"), "[^/]+$", 0).as("file"),
          col("ocid"), col("release_id"), col("hash_md5"), col("data"))
      def checks(lk: String) = spark.read.parquet(s"$lk/release_check")
        .select("ok", "n_errors", "cove_output")
      def hashes(lk: String) = Sink.readDedupStore(spark, s"$lk/data").select("hash_md5").distinct()
      val streamLake = dir.resolve("lake").toString
      def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      emit("stream_vs_batch",
        "facts" -> same(facts(streamLake), facts(lake)),
        "checks" -> same(checks(streamLake), checks(lake)),
        "data" -> same(hashes(streamLake), hashes(lake)))
    }

    // -------------------------------------------------------------- pair_search

    def pairSearch(): Unit = {
      val sf = o.work.resolve("sf").toString
      val defs = PairQueries.map(Queries.byName)
      Files.writeString(o.work.resolve("oracle.json"),
        Json(defs.map(q => q.name -> q.oracle.getOrElse(""))))
      // untimed first pass: warms the JVM and writes each result for the
      // oracle comparison
      op("pass", timed = false) {
        defs.foreach { q =>
          val df = q.run(spark, sf)
          val out = if (o.plant == "wrong" && q.name == PairQueries.head)
            df.limit((df.count() - 1).toInt)
          else df
          out.write.mode("overwrite").parquet(o.work.resolve("out").resolve(q.name).toString)
        }
        Map.empty
      }
      heapSample()
      val t0 = System.nanoTime()
      while (elapsed(t0) < o.seconds) {
        op("pass", timed = true) {
          val perQuery = defs.map { q =>
            val q0 = System.nanoTime()
            span(q.name, homeModule(q.run)) {
              q.run(spark, sf).write.mode("overwrite").format("noop").save()
            }
            q.name -> elapsed(q0)
          }
          Map("queries" -> perQuery.toMap)
        }
        heapSample()
      }
    }

    private def homeModule(f: AnyRef): String =
      Tracer.moduleOf(f.getClass.getName)

    // ------------------------------------------------------------------ kernels

    /** Single-threaded per-release cost of the engine's JSON kernels, on the
      * first 2000 releases of the workload's input. */
    private def kernels(): Unit = {
      import graft.ocds.{Canonical, Merge, Upgrade}
      import graft.check.{Checker, JsonSchema, OcdsSchemas}
      val files = Files.list(input).iterator.asScala.toSeq.sortBy(_.toString)
      val sample = files.iterator.flatMap { f =>
        val root = Canonical.parse(Files.readString(f))
        val pkg = root.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        pkg.remove("releases")
        val pkgJson = Canonical.mapper.writeValueAsString(pkg)
        root.get("releases").elements.asScala.map(r =>
          (r.get("ocid").asText, Canonical.mapper.writeValueAsString(r), pkgJson,
            r.path("date").asText))
      }.take(2000).toIndexedSeq
      // the engine hands Merge each ocid's releases sorted by date
      val byOcid = sample.groupBy(_._1).toSeq.map { case (ocid, rs) =>
        (ocid, rs.sortBy(_._4).map(_._2)) }
      val envelopes = sample.map(r => Checker.repackage(r._2, r._3, "releases"))
      val schema = OcdsSchemas.releasePackage
      var sink = 0L
      def usPerRelease(name: String)(body: => Long): Unit = {
        val runs = (0 until 4).map { _ =>
          val t0 = System.nanoTime()
          sink += body
          (System.nanoTime() - t0) / 1e3 / sample.size
        }.tail.sorted
        emit("layer", "name" -> name, "value" -> runs(1))
      }
      usPerRelease("ocds.Canonical.parse_us")(sample.map(r => Canonical.parse(r._2).size.toLong).sum)
      usPerRelease("ocds.Upgrade.upgradeJson_us")(sample.map(r => Upgrade.upgradeJson(r._2)._1.length.toLong).sum)
      usPerRelease("ocds.Canonical.contentHash_us")(sample.map(r => Canonical.contentHash(r._2).length.toLong).sum)
      usPerRelease("ocds.Merge.compile_us")(byOcid.map { case (ocid, rs) => Merge.compile(ocid, rs).warnings.size.toLong }.sum)
      usPerRelease("check.JsonSchema.validate_us")(envelopes.map(e => JsonSchema.validate(schema, e).size.toLong).sum)
      emit("kernel_sink", "value" -> sink)
    }
  }
}

/** Minimal JSON writer for the observation lines. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ", ", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
