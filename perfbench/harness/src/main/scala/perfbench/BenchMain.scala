package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{QueryDef, SparkEntry, Sessions, Tables}
import graft.cve.{Flatten, Ingest, Queries, Warehouse}

/** The benchmark's JVM: runs one workload against the program's public
  * functions and writes raw timings, checks and trace counters as one JSON
  * file. `perfbench/run.py` generates the inputs, launches this main and
  * turns the file into metrics.
  *
  * Args: <workload> <seed> <seconds> <trace 0|1> <inputs dir> <work dir>
  *       <results file> <set-up rounds> <input generation seconds>
  *
  * A run is: session start; the workload's one-time preparation; repeated
  * set-up rounds; then a measured phase, a closed loop with one client for
  * `seconds`. A traced run (trace 1) also measures with the benchmark's
  * SparkListener attached, between two phases without it, so the difference
  * is the tracing overhead.
  */
object BenchMain {

  /** One operation's outcome: wall and process CPU time in milliseconds,
    * rows returned, and whether its output check passed. */
  final case class Op(shape: String, ms: Double, rows: Long, ok: Boolean, error: String = null,
      extra: Map[String, Any] = Map.empty, cpuMs: Double = 0) {
    def json: Map[String, Any] = Map("shape" -> shape, "ms" -> ms, "rows" -> rows, "ok" -> ok,
      "error" -> Option(error), "cpu_ms" -> cpuMs) ++ extra
  }

  private def errorOf(errs: Seq[String]): String = if (errs.isEmpty) null else errs.mkString("; ")

  trait Workload {
    /** Operations that make one pass; a phase measures whole passes only. */
    def passLength: Int = 1
    /** Operations a phase runs at most, whatever `seconds` is. */
    def maxOps: Int = Int.MaxValue
    /** One-time set-up, before the repeated rounds. */
    def prepare(): Op
    /** One repeated set-up round. */
    def setupRound(): Op
    /** Work the traced phase runs, with the listener on, before its loop. */
    def tracedPrelude(): Seq[Op] = Nil
    def op(i: Int, traced: Boolean): Op
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread), in nanoseconds. */
  private def cpuNs(): Long = osBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, work, resultsFile, roundsS, inputsS) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val builder = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.adaptive.enabled", "true")
    // nvd_query's session is cve.Main's (Sessions.localWithCatalog): Hive
    // support, so every table write and lookup goes through the Derby
    // metastore, which Hive creates in the JVM's working directory, `work`.
    val spark = (if (workload != "nvd_query") builder else builder.enableHiveSupport()
      .config("spark.hadoop.hive.exec.scratchdir", new File(work, "hive-scratch").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark.sparkContext)
    val result = try {
      val w: Workload = workload match {
        case "nvd_query" => new NvdQuery(spark, trace, inputs, work)
        case "catalog_heavy" => new CatalogHeavy(spark, trace, inputs)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run(trace, w, secondsS.toDouble, traceS == "1", roundsS.toInt) ++ Map(
        "workload" -> workload, "seed" -> seedS.toLong, "cpus" -> cpus,
        "session_s" -> sessionS, "inputs_s" -> inputsS.toDouble,
        "catalog" -> spark.conf.get("spark.sql.catalogImplementation"))
    } finally spark.stop()
    val doc = result ++ Map("peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(resultsFile), Json.render(doc).getBytes("UTF-8"))
  }

  private def run(trace: Trace, w: Workload, seconds: Double, traced: Boolean,
      rounds: Int): Map[String, Any] = {
    val prepared = w.prepare()
    val setup = (1 to rounds).map(_ => w.setupRound())
    val phases =
      if (!traced) Seq(phase(trace, w, seconds, traced = false))
      else {
        // Tracing overhead is measured plain, traced, plain, after one
        // unreported phase, so that JIT warm-up still under way cancels out
        // instead of reading as (negative) overhead.
        phase(trace, w, seconds, traced = false)
        val before = phase(trace, w, seconds, traced = false)
        trace.attachListener()
        val tracedPhase = phase(trace, w, seconds, traced = true)
        trace.detachListener()
        Seq(before, tracedPhase, phase(trace, w, seconds, traced = false))
      }
    Map("prepare" -> prepared.json, "setup_rounds" -> setup.map(_.json), "phases" -> phases)
  }

  /** Closed loop, one client: the next operation starts when the previous
    * one ends, for `seconds` and at least one whole pass, but no more than
    * the workload's `maxOps`. */
  private def phase(trace: Trace, w: Workload, seconds: Double, traced: Boolean)
      : Map[String, Any] = {
    trace.reset()
    val prelude = if (traced) w.tracedPrelude() else Nil
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var i = 0
    while (i < w.maxOps &&
        (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || i % w.passLength != 0)) {
      ops += w.op(i, traced)
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val spans = trace.spanStats.map { case (k, s) =>
      k -> Map("calls" -> s.calls, "wall_s" -> s.wallNs / 1e9) }
    val counters = trace.counters().map { case (k, c) =>
      k -> Map("jobs" -> c.jobs, "stages" -> c.stages, "one_task_stages" -> c.oneTaskStages,
        "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks, "feed_scan_tasks" -> c.feedScanTasks,
        "task_run_s" -> c.taskRunNs / 1e9, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "task_wait_s" -> c.taskWaitNs / 1e9, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes)
    }
    Map("wall_s" -> wallS, "ops" -> ops.map(_.json),
      "prelude" -> prelude.map(_.json), "spans" -> spans, "counters" -> counters)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  private def readJson(path: String): java.util.Map[String, Object] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(path), classOf[java.util.Map[String, Object]])

  private def num(m: java.util.Map[String, Object], k: String): Long =
    m.get(k).asInstanceOf[Number].longValue

  private def dbl(m: java.util.Map[String, Object], k: String): Double =
    m.get(k).asInstanceOf[Number].doubleValue

  private def str(m: java.util.Map[String, Object], k: String): Option[String] =
    Option(m.get(k)).map(_.toString)

  /** Data files under `dir` (Spark's `_SUCCESS` and checksum files excluded):
    * (count, bytes). */
  private def dataFiles(dir: File): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0L)) {
      case ((n, b), f) =>
        if (f.isDirectory) { val (n2, b2) = dataFiles(f); (n + n2, b + b2) }
        else if (f.getName.startsWith("_") || f.getName.startsWith(".")) (n, b)
        else (n + 1, b + f.length)
    }

  private def mismatches(expected: Map[String, Long], actual: Map[String, Long]): Seq[String] =
    expected.toSeq.sorted.collect { case (k, n) if actual(k) != n =>
      s"$k: ${actual(k)} rows, generator made $n" }

  private def failed(shape: String, t0: Long, e: Exception): Op =
    Op(shape, ms(t0), 0, ok = false, s"${e.getClass.getName}: ${e.getMessage}")

  // ── nvd_query ──
  // Why: the paper's own system, end to end. Set-up is its write path —
  // `cve.Main -p -csv -idb -icwe` minus the CLI: seeded year feeds through
  // Ingest, Flatten and both warehouse sinks, the only code that runs the
  // ingest, flatten and sink layers. The measured phase is its read path: a
  // closed loop with one client over the landed warehouse, mixing the four
  // query shapes of `cve.Main` (EP2 report, score listing, CPE listing, CWE
  // lookup) in equal shares, about 10% of the CVE ids missing. The session
  // has Hive support, as cve.Main's does. Small results make each query
  // latency-bound by per-job planning and scheduling, so a layout change that
  // helps reads and costs writes shows in the loop or in the set-up.
  final class NvdQuery(spark: SparkSession, trace: Trace, inputs: String, work: String)
      extends Workload {
    private val feeds = s"$inputs/feeds"
    private val manifest = readJson(s"$feeds/manifest.json")
    private val counts = manifest.get("counts").asInstanceOf[java.util.Map[String, Object]]
    private val ops = manifest.get("ops").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toIndexedSeq
    private val cwePath = s"$inputs/cwe_catalog.csv"
    private val db = Warehouse.Database

    /** A pass is one block of the plan, which holds every shape in fixed
      * proportions, so each run measures the same mix. */
    override val passLength: Int = num(manifest, "block").toInt
    private val csvDir = new File(work, "csv")
    private def tbl(name: String) = spark.table(s"$db.$name")

    /** One landing: one scan of the feed directory, the three flattened
      * frames, the tab-CSVs, the catalog tables and the CWE dimension. The
      * row counts are checked after the timed part. */
    private def land(): Op = {
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      val feed = trace.span("ingest|read|construct")(Ingest.readFeedDir(spark, feeds))
      val cvss = trace.span("flatten|cvss|construct")(Flatten.cvss(feed))
      val problems = trace.span("flatten|problems|construct")(Flatten.problems(feed))
      val cpes = trace.span("flatten|cpes|construct")(Flatten.cpes(feed))
      trace.span("warehouse|csv_write|exec")(
        Warehouse.writeWarehouseCsvs(cvss, problems, cpes, csvDir.getAbsolutePath))
      trace.span("warehouse|catalog_write|exec")(
        Warehouse.saveFacts(spark, db, cvss, problems, cpes))
      trace.span("warehouse|cwe_write|exec")(
        Warehouse.saveCwe(spark, db, Warehouse.cweCatalog(spark, cwePath)))
      val took = ms(t0)
      val cpu = (cpuNs() - c0) / 1e6
      def csvRows(name: String) = spark.read.option("sep", "\t").option("header", "true")
        .csv(new File(csvDir, name).getAbsolutePath).count()
      val facts = Seq("cvss", "cve_problem", "cpe").map(k => k -> num(counts, k)).toMap
      val csv = Map("cvss" -> csvRows("cve_cvss_scores.csv"),
        "cve_problem" -> csvRows("cve_related_problems.csv"), "cpe" -> csvRows("cve_cpes.csv"))
      val tables = (facts.keys.toSeq :+ "cwe").map(t => t -> tbl(t).count()).toMap
      val errs = mismatches(facts, csv).map("csv " + _) ++
        mismatches(facts + ("cwe" -> num(counts, "cwe")), tables).map("catalog " + _)
      val (csvFiles, csvBytes) = dataFiles(csvDir)
      val (catFiles, catBytes) = dataFiles(new File(work, s"warehouse/$db.db"))
      Op("land", took, facts("cvss"), errs.isEmpty, errorOf(errs),
        Map("csv_files" -> csvFiles, "csv_bytes" -> csvBytes, "catalog_files" -> catFiles,
          "catalog_bytes" -> catBytes, "zip_bytes" -> num(manifest, "zip_bytes"),
          "zips" -> num(manifest, "zips")), cpu)
    }

    def prepare(): Op = land()

    /** The traced phase lands the feeds once more, warm, so the ingest,
      * flatten and sink layers get counters too. */
    override def tracedPrelude(): Seq[Op] = Seq(land())

    /** A set-up round warms the read path with one block of the plan, taken
      * from its tail, which a measured phase never reaches. Three rounds
      * bring the JIT close enough to steady state that a measured phase's
      * blocks no longer speed up. */
    def setupRound(): Op = {
      val t0 = System.nanoTime()
      val first = ops.size - passLength * (warmRounds + 1)
      warmRounds += 1
      val errs = (first until first + passLength).map(op(_, traced = false))
        .filterNot(_.ok).map(_.error)
      Op("warm_queries", ms(t0), passLength, errs.isEmpty, errorOf(errs))
    }

    private var warmRounds = 0

    /** Builds, plans and runs the frames one operation needs, each step in
      * its own span: (rows per frame, what the scans read when traced). */
    private def timed(shape: String, traced: Boolean)(build: => Seq[DataFrame])
        : (Seq[Array[Row]], Map[String, Any]) = {
      val dfs = trace.span(s"queries|$shape|build")(build)
      trace.span(s"queries|$shape|plan")(dfs.foreach(_.queryExecution.executedPlan))
      val rows = trace.span(s"queries|$shape|exec")(dfs.map(_.collect()))
      (rows, if (traced) Scans.of(dfs) else Map.empty[String, Any])
    }

    def op(i: Int, traced: Boolean): Op = {
      val o = ops(i % ops.size)
      val shape = o.get("shape").toString
      val want = num(o, "rows")
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      try {
        val (rows, scan, err) = shape match {
          case "cve_report" =>
            val id = o.get("cve").toString
            val (rs, scan) = timed(shape, traced)(Seq(
              Queries.byCve(tbl("cvss"), id).orderBy("cve").limit(1),
              Queries.cweLookup(Queries.problemsFor(tbl("cve_problem"), id), tbl("cwe"))
                .orderBy("problem"),
              Queries.cpesFor(tbl("cpe"), id).orderBy("cpe23uri")))
            val Seq(report, problems, cpes) = rs
            val err =
              if (report.length != want) s"$id: ${report.length} report rows, want $want"
              else if (report.exists(_.getString(0) != id)) s"$id: report for ${report.head.getString(0)}"
              else if (problems.length != num(o, "problems")) s"$id: ${problems.length} problems"
              else if (cpes.length != num(o, "cpes")) s"$id: ${cpes.length} cpes"
              else null
            (report.length.toLong, scan, err)
          case "score_listing" =>
            val score = dbl(o, "score")
            val date = str(o, "date")
            val (Seq(rs), scan) = timed(shape, traced)(Seq(
              Queries.byScoreDate(tbl("cvss"), score, date).orderBy("cve")))
            val ids = rs.map(_.getString(0))
            val err =
              if (rs.length != want) s"score>=$score date>=$date: ${rs.length} rows, want $want"
              else if (!ids.sameElements(ids.sorted)) s"score>=$score: not ordered by cve"
              else null
            (rs.length.toLong, scan, err)
          case "cpe_listing" =>
            val cpe = o.get("cpe").toString
            val score = dbl(o, "score")
            val date = str(o, "date")
            val (Seq(rs), scan) = timed(shape, traced)(Seq(
              Queries.byCpe(tbl("cvss_vs_cpes"), cpe, score, date).orderBy("cpe23uri", "cve")))
            val err =
              if (rs.length != want) s"$cpe score>=$score date>=$date: ${rs.length} rows, want $want"
              else if (rs.exists(r => !r.getString(0).contains(cpe))) s"$cpe: foreign platform"
              else null
            (rs.length.toLong, scan, err)
          case "cwe_lookup" =>
            val id = num(o, "cwe").toInt
            val (Seq(rs), scan) = timed(shape, traced)(Seq(
              Queries.byCwe(tbl("cwe"), id).orderBy("cwe_id").limit(1)))
            val err =
              if (rs.length != want) s"CWE-$id: ${rs.length} rows, want $want"
              else if (rs.exists(_.getInt(0) != id)) s"CWE-$id: wrong row"
              else null
            (rs.length.toLong, scan, err)
        }
        Op(shape, ms(t0), rows, err == null, err, scan, (cpuNs() - c0) / 1e6)
      } catch { case ex: Exception => failed(shape, t0, ex) }
    }
  }

  // ── catalog_heavy ──
  // Why: the control for CVE-path changes and the target of the operator
  // work. The Ingest and Queries layers stay idle. The members touch every
  // operator module except CveOps (whose queries read the NVD fixture through
  // an absolute path of a development checkout) and mix construction-bound
  // queries (eager jobs, a from-store index build) with execution-bound ones
  // (shuffles, windows, codegen'd aggregation). One operation is one pass;
  // a run measures its first pass in a fresh JVM, as a catalog CLI
  // invocation pays it: JIT warm-up included.
  final class CatalogHeavy(spark: SparkSession, trace: Trace, inputs: String) extends Workload {
    /** A phase is exactly one pass, so a run reports the cold pass however
      * fast it is, never a mix of cold and warm passes. */
    override val maxOps: Int = 1
    val Members: Seq[String] = Seq(
      "q91_edit_distance",      // Dedup: construction-bound, eager jobs
      "q173_fusion_from_store", // Vectors: IVF-PQ store built at construction
      "q22_ngram_jaccard",      // Dedup: shingle self-join, execution-bound
      "q146_dedup_consensus",   // Multimodal: three-signal dedup vote
      "q181_merkle_roots",      // Merkle: hash folds over shrinking frames
      "q176_cms_freq",          // Audit: count-min sketch aggregate
      "q11_agg_groupby",        // Relational: shuffle aggregation
      "q64_cube",               // Relational: cube
      "q67_sessions",           // Temporal: sessionisation windows
      "q153_score_auc",         // Eval: ranking metric
      "q189_zorder_prune")      // Maintenance: z-order layout and pruning
    private val dataDir = s"$inputs/catalog"
    private val byName: Map[String, QueryDef] = SparkEntry.all.map(d => d.name -> d).toMap
    private val recorded: Map[String, Long] =
      readJson(s"$inputs/catalog_counts.json").get("rows")
        .asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }.toMap
    private val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "documents", "embeddings", "events")

    /** One aggregation job, to start Spark's executors and code generation. */
    def prepare(): Op = {
      val t0 = System.nanoTime()
      val sum = spark.range(1000000).selectExpr("sum(id * 2)").collect().head.getLong(0)
      val took = ms(t0)
      Op("warm_spark", took, 1, sum == 999999000000L)
    }

    /** A set-up round reads one row of every table (footers, file listing). */
    def setupRound(): Op = {
      val t0 = System.nanoTime()
      tables.foreach(t => Tables.load(spark, dataDir, t).limit(1).collect())
      val took = ms(t0)
      Op("warm_tables", took, tables.size, ok = true)
    }

    /** One operation is one pass over the members; each member's result is
      * checked and kept in the pass's record. */
    def op(i: Int, traced: Boolean): Op = {
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      val members = Members.map(member)
      val errs = members.filterNot(_.ok).map(_.error)
      Op("pass", ms(t0), members.map(_.rows).sum, errs.isEmpty, errorOf(errs),
        Map("members" -> members.map(_.json)), (cpuNs() - c0) / 1e6)
    }

    private def member(name: String): Op = {
      val t0 = System.nanoTime()
      try {
        val df = trace.span(s"operators|$name|construct")(byName(name).impl(spark, dataDir))
        trace.span(s"operators|$name|plan")(df.queryExecution.executedPlan)
        // toRdd.count() materialises every column; a plain count() would
        // let the optimiser prune projected work.
        val n = trace.span(s"operators|$name|exec")(df.queryExecution.toRdd.count())
        val err = recorded.get(name) match {
          case Some(want) if want != n => s"$name: $n rows, recorded $want"
          case None => s"$name: no recorded row count"
          case _ => null
        }
        Op(name, ms(t0), n, err == null, err)
      } catch { case ex: Exception => failed(name, t0, ex) }
    }
  }
}
