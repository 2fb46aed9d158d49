package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.etl.{EtlConfig, GitAnalytics, GitEtl, GitEtlIncr, GitLogSource}
import graft.sources.Sinks

/** JVM side of the benchmark: runs one workload in one process and writes
  * `result.json` into `--out`. It only calls the program's public entry
  * points and observes Spark through listeners; it never changes program
  * state it could not reach as an ordinary caller.
  *
  * Protocol (the same for every workload):
  *  1. set-up, `Setups` times: start a SparkSession and run one small
  *     job; `setup_s` samples are these wall times;
  *  2. prime, untimed: one run of the workload's operations over the real
  *     inputs;
  *  3. warm-up, untimed: one pass (the first pass after the prime ran
  *     10-35% slower than the first timed one, mostly JIT compilation);
  *  4. measured passes until `--seconds` is spent (at least one); each
  *     operation is timed once, a thrown operation is counted as failed
  *     and never retried; a full GC runs between passes, outside timing;
  *  5. with `--trace 1`, `--seconds` more of traced passes (listeners
  *     attached, one span per layer call) give the layer metrics, and
  *     their median against the untraced one gives the tracing overhead.
  */
object Harness {

  final case class Opts(workload: String, inputs: Path, out: Path, seconds: Double,
                        trace: Boolean, threads: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), Paths.get(a("inputs")), Paths.get(a("out")), a("seconds").toDouble,
      a("trace") == "1", a("threads").toInt)
    Files.createDirectories(o.out)
    val run = o.workload match {
      case "etl_full"  => new EtlFull(o)
      case "inventory" => new Inventory(o)
      case w           => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val res = run.execute()
    Files.writeString(o.out.resolve("result.json"), Json.render(res), UTF_8)
    Files.writeString(o.out.resolve("spans.jsonl"),
      run.tracer.spans.map(s => Json.render(s.toMap)).mkString("\n"), UTF_8)
  }

  val Setups = 5

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.threads}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val w = Files.walk(src)
    try w.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally w.close()
  }

  def treeBytes(p: Path, suffix: String): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(q => Files.isRegularFile(q) && q.toString.endsWith(suffix))
      .map(Files.size).sum
    finally w.close()
  }
}

import Harness._

/** One span per layer call: name, start, end, parent, run id. Kept in
  * memory; written once when the run ends. */
final class Tracer {
  final case class Span(id: Int, parent: Int, run: String, name: String, start: Long, end: Long) {
    def seconds: Double = secs(start, end)
    def toMap: Seq[(String, Any)] =
      Seq("id" -> id, "parent" -> parent, "run" -> run, "name" -> name,
        "start_ns" -> start, "end_ns" -> end)
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var enabled = false
  var run = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), run, name, now(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = now())
      }
    }

  def of(run: String, name: String): Seq[Span] = spans.filter(s => s.run == run && s.name == name).toSeq
}

/** Spark-side counts per label. The label is a local property the
  * harness sets before each layer call; Spark copies it into every job
  * and stage the call starts, on any thread. */
final class Meter extends SparkListener {
  final class Counts {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, spill, input, output, peakMem = new AtomicLong
    val taskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  }
  val byLabel = new ConcurrentHashMap[String, Counts]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()

  def counts(label: String): Counts = byLabel.computeIfAbsent(label, _ => new Counts)
  private def label(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Meter.Key)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = label(e.properties)
    if (l != null && l.startsWith(Meter.Drain)) drainJobs.put(e.jobId, l)
    else if (l != null) {
      counts(l).jobs.incrementAndGet()
      e.stageIds.foreach(stageLabel.putIfAbsent(_, l))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val l = label(e.properties)
    if (l != null) stageLabel.put(e.stageInfo.stageId, l)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageLabel.get(e.stageInfo.stageId)).foreach(l => counts(l).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLabel.get(e.stageId)).foreach { l =>
      val c = counts(l)
      c.tasks.incrementAndGet()
      if (e.taskInfo != null)
        c.taskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long])
          .add(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
        c.peakMem.accumulateAndGet(m.peakExecutionMemory, (x, y) => math.max(x, y))
      }
    }
  private val drainJobs = new ConcurrentHashMap[Int, String]()
  /** Label of the last marker job whose end was delivered. */
  @volatile var drained = ""
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(drainJobs.get(e.jobId)).foreach(drained = _)

  /** Sum of one counter over every label that matches. */
  def sum(f: String => Boolean)(g: Counts => Long): Long =
    byLabel.asScala.collect { case (l, c) if f(l) => g(c) }.sum
}

object Meter {
  val Key = "perfbench.label"
  val Drain = "drain"
}

/** Final-plan facts per forced query, reported by Spark after it ran. */
final class PlanListener extends QueryExecutionListener {
  final case class Planned(catalystS: Double, exchanges: Int, rddIds: Seq[Int])
  val forced = new java.util.concurrent.LinkedBlockingQueue[Planned]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "foreach" || funcName == "foreachPartition") {
      val ph = qe.tracker.phases
      val catalyst = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum / 1000.0
      forced.put(Planned(catalyst, PlanListener.exchanges(qe.executedPlan),
        PlanListener.rddScans(qe.executedPlan)))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])
  def rddScans(p: SparkPlan): Seq[Int] = nodes(p).collect { case r: RDDScanExec => r.rdd.id }.distinct
}

/** Copies System.err through and hands every complete line to `onLine`
  * (the program reports shared-artifact builds there). */
final class LineTap(under: PrintStream, onLine: String => Unit) extends OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  override def write(b: Int): Unit = synchronized {
    under.write(b)
    if (b == '\n') { onLine(new String(buf.toByteArray, UTF_8)); buf.reset() } else buf.write(b)
  }
  override def flush(): Unit = under.flush()
}

/** Shared skeleton: set-up, timed passes, traced passes, result map. */
abstract class Workload(val o: Opts) {
  val tracer = new Tracer
  val meter = new Meter
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per-pass samples by metric name (untraced passes). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def passSamples: Seq[Double] = samples.get("pass_s").map(_.toSeq).getOrElse(Nil)
  val tracedPass = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  /** One measured pass; returns named timings (must include "pass_s"),
    * or None when an operation failed. */
  def pass(label: String): Option[Seq[(String, Double)]]
  /** Derive layer metrics from the traced passes' labels and spans. */
  def traceLayers(tracedRuns: Seq[String]): Unit
  /** Untimed, before the passes: one run of the workload's operations. */
  def prime(): Unit
  /** Untimed, after the passes: answers and facts the output checks read. */
  def finish(): Unit = ()
  /** Listeners of the traced passes. */
  def attach(): Unit = spark.sparkContext.addSparkListener(meter)
  def detach(): Unit = spark.sparkContext.removeSparkListener(meter)

  /** Run one operation: counted as attempted; a throw is counted as failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** Time `body` as one layer call: a span when tracing, a Spark label always. */
  def layer[T](label: String, name: String)(body: => T): (T, Double) = {
    spark.sparkContext.setLocalProperty(Meter.Key, s"$label/$name")
    val t0 = now()
    try { val r = tracer.span(name)(body); (r, secs(t0, now())) }
    finally spark.sparkContext.setLocalProperty(Meter.Key, null)
  }

  def execute(): Seq[(String, Any)] = {
    val setups = (1 to Setups).map { i =>
      val t0 = now()
      spark = session(o)
      op("set-up job")(spark.range(1000).selectExpr("sum(id)").collect())
      val s = secs(t0, now())
      if (i < Setups) { spark.stop(); spark = null }
      s
    }
    val t0 = now()
    op("prime")(prime())
    extra("prime_s") = secs(t0, now())
    val t1 = now()
    pass("w0")
    System.gc()
    extra("warmup_s") = secs(t1, now())
    val budget = (o.seconds * 1e9).toLong
    if (!o.trace) loop(budget)
    else {
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcMillis()
      val all = loop(2 * budget)
      layers("jvm.gc_s") = (gcMillis() - gc0) / 1000.0 / all.size
      layers("jvm.peak_heap_mb") = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      layers("trace.overhead_frac") = median(tracedPass.toSeq) / median(passSamples) - 1.0
      attach()
      tracer.run = "after"
      tracer.enabled = true
      traceLayers(all.filter(_.startsWith("t")))
      tracer.enabled = false
      drain()
      detach()
    }
    op("finish")(finish())
    spark.stop()
    Seq(
      "workload" -> o.workload,
      "setup_s" -> setups,
      "samples" -> samples.toSeq.map { case (k, v) => k -> v.toSeq },
      "traced_pass_s" -> tracedPass.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "layers" -> layers.toSeq,
      "extra" -> extra.toSeq)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Passes while the budget is not spent (so at least one). With
    * `--trace 1` untraced and traced passes alternate, so both kinds see
    * the JVM equally warm; the traced ones carry label prefix "t". */
  private def loop(budget: Long): Seq[String] = {
    val start = now()
    val runs = mutable.ArrayBuffer.empty[String]
    while (runs.isEmpty || now() - start < budget) {
      val traced = o.trace && runs.size % 2 == 1
      val label = s"${if (traced) "t" else "u"}${runs.size}"
      tracer.run = label
      if (traced) { attach(); tracer.enabled = true }
      val res =
        try pass(label)
        finally if (traced) { tracer.enabled = false; drain(); detach() }
      runs += label
      res.foreach { timings =>
        if (traced) tracedPass += timings.toMap.apply("pass_s")
        else timings.foreach { case (k, v) => samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
      System.gc()
    }
    runs.toSeq
  }

  /** Wait until the listener saw every event posted so far: the bus
    * delivers in order, so a marker job's end comes after all of them. */
  def drain(): Unit = {
    val marker = s"${Meter.Drain}-${now()}"
    spark.sparkContext.setLocalProperty(Meter.Key, marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(Meter.Key, null)
    val deadline = now() + 30L * 1000000000L
    while (meter.drained != marker && now() < deadline) Thread.sleep(10)
  }

  def spanMedian(runs: Seq[String], name: String): Double =
    median(runs.flatMap(r => tracer.of(r, name)).map(_.seconds))

  /** Median over traced passes of one counter summed over the pass's labels. */
  def countMedian(runs: Seq[String], names: Set[String])(g: meter.Counts => Long): Double =
    median(runs.map(r => meter.sum(l => names.exists(n => l == s"$r/$n"))(g).toDouble))
}

/** etl_full: repositories in, tables out, answers out. The traced run
  * adds the incremental path over the same corpus: a committed snapshot at
  * the base heads, then one GitEtlIncr refresh over the delta heads. */
final class EtlFull(o: Opts) extends Workload(o) {
  private val root = o.inputs.resolve("repos")
  private val config = EtlConfig.load(o.inputs.resolve("config.toml"))
  private val tablesDir = o.out.resolve("tables").toString
  private val EtlLayers = Seq("etl.scan", "etl.extract", "etl.write", "etl.report")
  private val SearchPattern = "fix|bug"
  private val Queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "top_files" -> ((s, d) => GitAnalytics.topFilesPerRepo(s, d)),
    "author_activity" -> ((s, d) => GitAnalytics.authorActivity(s, d)),
    "cumulative_churn" -> ((s, d) => GitAnalytics.cumulativeChurn(s, d)),
    "commit_cadence" -> ((s, d) => GitAnalytics.commitCadence(s, d)),
    "co_changed_files" -> ((s, d) => GitAnalytics.coChangedFiles(s, d)),
    "search_commits" -> ((s, d) => GitAnalytics.searchCommits(s, d, SearchPattern)))
  private var lastReport: GitEtl.EtlReport = _
  /** (repo, base head, delta head) of every repository the delta moves. */
  private val heads: Seq[(String, String, String)] =
    Files.readAllLines(o.inputs.resolve("heads.tsv"), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map(a => (a(0), a(1), a(2)))

  private def setRefs(pick: ((String, String, String)) => String): Unit =
    heads.foreach { h =>
      val p = new ProcessBuilder("git", "update-ref", "refs/heads/main", pick(h))
        .directory(root.resolve(h._1).toFile).inheritIO().start()
      if (p.waitFor() != 0) throw new RuntimeException(s"git update-ref failed in ${h._1}")
    }
  setRefs(_._2) // a run always starts at the base heads

  def pass(label: String): Option[Seq[(String, Double)]] = tracer.span("pass") {
    val etl = op("etl") {
      tracer.span("etl") {
        val (tables, scan) = layer(label, "etl.scan")(GitEtl.dataframes(spark, root, config, 1))
        val (_, extract) = layer(label, "etl.extract")(tables("events").count())
        val (_, write) = layer(label, "etl.write")(GitEtl.write(tables, tablesDir))
        val (rep, report) = layer(label, "etl.report")(GitEtl.report(tables))
        tables("events").unpersist()
        lastReport = rep
        scan + extract + write + report
      }
    }
    etl.flatMap { etlS =>
      val qs = tracer.span("analytics") {
        Queries.map { case (name, q) =>
          op(s"query $name")(layer(label, s"queries.git.$name")(q(spark, tablesDir).foreach(_ => ()))._2)
        }
      }
      if (qs.forall(_.isDefined)) {
        val analytics = qs.flatten.sum
        Some(Seq("pass_s" -> (etlS + analytics), "etl_s" -> etlS, "analytics_s" -> analytics))
      } else None
    }
  }

  def traceLayers(runs: Seq[String]): Unit = {
    Seq("etl_s", "analytics_s").foreach(m => layers(m) = median(samples.get(m).map(_.toSeq).getOrElse(Nil)))
    Seq("scan", "extract", "write", "report").foreach(n => layers(s"etl.${n}_s") = spanMedian(runs, s"etl.$n"))
    // one Spark task is one repository shard; the extraction stage is the
    // one that spent the most task time in the extract call
    val extractTasks = runs.flatMap { r =>
      Option(meter.byLabel.get(s"$r/etl.extract")).flatMap { c =>
        val stages = c.taskMs.asScala.values.map(_.asScala.toSeq.map(_ / 1000.0))
        if (stages.isEmpty) None else Some(stages.maxBy(_.sum))
      }
    }
    layers("etl.extract.task_max_s") = median(extractTasks.map(_.max))
    layers("etl.extract.task_p50_s") = median(extractTasks.map(median))
    val etlNames = EtlLayers.toSet
    layers("etl.jobs") = countMedian(runs, etlNames)(_.jobs.get)
    layers("etl.stages") = countMedian(runs, etlNames)(_.stages.get)
    layers("etl.tasks") = countMedian(runs, etlNames)(_.tasks.get)
    Queries.foreach { case (n, _) => layers(s"queries.git.${n}_s") = spanMedian(runs, s"queries.git.$n") }
    val qNames = Queries.map(q => s"queries.git.${q._1}").toSet
    layers("queries.git.jobs") = countMedian(runs, qNames)(_.jobs.get)
    layers("queries.git.shuffle_bytes") = countMedian(runs, qNames)(_.shuffleWrite.get)

    val bytes = treeBytes(Paths.get(tablesDir), ".parquet").toDouble
    layers("sources.parquet_bytes") = bytes
    layers("sources.bytes_per_commit") = bytes / math.max(1L, lastReport.nLogs)

    layers("etl.giant_extract_s") = tracer.span("etl.giant_extract") {
      val t0 = now()
      GitLogSource.extractRepo(root.resolve("giant")).foreach(_ => ())
      secs(t0, now())
    }
    // the JDBC sink over the tables just written, into a fresh embedded Derby
    System.setProperty("derby.stream.error.file", o.out.resolve("derby.log").toString)
    val db = o.out.resolve("derby")
    val written = Seq("repositories", "logs", "changed_files")
      .map(t => t -> spark.read.parquet(s"$tablesDir/$t.parquet")).toMap
    op("jdbc sink") {
      layers("sources.jdbc_s") = layer("jdbc", "sources.jdbc")(
        Sinks.writeReferenceDb(written, s"jdbc:derby:$db;create=true"))._2
    }
    op("incremental refresh")(incremental())
  }

  /** Snapshot at the base heads (untimed state), then the timed refresh
    * over the delta heads on a copy of it; heads go back to base after. */
  private def incremental(): Unit = {
    val snap0 = o.out.resolve("incr/snapshot0")
    val snap1 = o.out.resolve("incr/snapshot1")
    layer("incr", "incr.snapshot")(GitEtlIncr.run(spark, root, snap0.toString, config))
    copyTree(snap0, snap1)
    setRefs(_._3)
    val rep = try {
      val (r, s) = layer("incr", "incr.refresh")(GitEtlIncr.run(spark, root, snap1.toString, config))
      layers("refresh_s") = s
      r
    } finally setRefs(_._2)
    drain()
    layers("incr.commits_extracted") = rep.batchLogs.toDouble
    val byMode = rep.modes.values.groupBy(identity).view.mapValues(_.size).toMap
    Seq("full", "since", "noop", "rewind").foreach(m => layers(s"incr.repos.$m") = byMode.getOrElse(m, 0).toDouble)
    val refresh = Set("incr.refresh")
    layers("incr.jobs") = countMedian(Seq("incr"), refresh)(_.jobs.get)
    layers("incr.snapshot_read_bytes") = countMedian(Seq("incr"), refresh)(_.input.get)
    layers("incr.bytes_written") = countMedian(Seq("incr"), refresh)(_.output.get)
    val logs = Sinks.readSnapshot(spark, snap1.resolve("logs").toString)
    val repos = Sinks.readSnapshot(spark, snap1.resolve("repositories").toString)
    logs.join(repos, logs("repository_id") === repos("repo_id"))
      .select(repos("name"), logs("repository_id"), logs("commit_hash"))
      .write.mode("overwrite").parquet(o.out.resolve("answers/committed_logs.parquet").toString)
    extra("modes") = rep.modes.toSeq.sortBy(_._1)
  }

  def prime(): Unit = GitEtl.run(spark, root, tablesDir, config)

  /** The answers over the tables the last pass wrote. */
  override def finish(): Unit = {
    // independent writes, so they run as concurrent Spark jobs
    val writes = Queries.map { case (name, q) =>
      Future(q(spark, tablesDir).write.mode("overwrite")
        .parquet(o.out.resolve(s"answers/$name.parquet").toString))
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    extra("report") = Seq(
      "analyzed" -> lastReport.analyzed,
      "ignored" -> lastReport.ignored,
      "failed" -> lastReport.failed.keys.toSeq.sorted,
      "n_logs" -> lastReport.nLogs,
      "n_changed_files" -> lastReport.nChangedFiles)
    extra("search_pattern") = SearchPattern
  }
}

/** inventory: a fixed sample of SparkEntry.queries, each pass with an
  * empty SharedState (artifacts are memoized per table directory, so each
  * pass reads the tables through a directory alias of its own). */
final class Inventory(o: Opts) extends Workload(o) {
  private val keys = Inventory.Keys
  private val tables = o.inputs.resolve("tables")
  private val plans = new PlanListener
  private val records = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
  /** (artifact, end of its build, its build seconds) */
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()
  private val BuiltLine = """^\[shared\] built (\S+) in ([0-9.]+)s""".r

  private def alias(label: String): String = {
    val p = o.out.resolve(s"alias-$label")
    Files.deleteIfExists(p)
    Files.createSymbolicLink(p, tables.toAbsolutePath)
    p.toString
  }

  def pass(label: String): Option[Seq[(String, Double)]] = tracer.span("pass") {
    val dir = alias(label)
    val traced = tracer.enabled
    if (traced) { plans.forced.clear(); built.clear() }
    val per = keys.map { k =>
      op(s"key $k") {
        val marker = spark.sparkContext.emptyRDD[Int].id
        val (df, construct) = layer(label, s"$k/construct")(SparkEntry.queries(k)(spark, dir))
        val artifacts = drainBuilt()
        val (_, force) = layer(label, s"$k/exec")(df.foreach(_ => ()))
        if (traced) records += record(label, k, construct, force, artifacts, marker)
        construct + force
      }
    }
    if (per.forall(_.isDefined)) Some(Seq("pass_s" -> per.flatten.sum)) else None
  }

  private def drainBuilt(): Seq[(String, Long, Double)] = {
    val b = Seq.newBuilder[(String, Long, Double)]
    var x = built.poll()
    while (x != null) { b += x; x = built.poll() }
    b.result()
  }

  private def record(label: String, key: String, construct: Double, force: Double,
                     artifacts: Seq[(String, Long, Double)], marker: Int): Seq[(String, Any)] = {
    val p = Option(plans.forced.poll(10, java.util.concurrent.TimeUnit.SECONDS))
    val catalyst = p.map(_.catalystS).getOrElse(0.0)
    Seq(
      "key" -> key, "run" -> label,
      "construct_s" -> construct, "plan_s" -> catalyst, "exec_s" -> (force - catalyst),
      "exchanges" -> p.map(_.exchanges).getOrElse(-1),
      "artifacts_built" -> artifacts.map(_._1),
      "artifact_build_s" -> covered(artifacts),
      "artifacts_reused" -> p.map(_.rddIds.count(_ < marker)).getOrElse(-1))
  }

  /** Wall seconds the builds cover: an artifact built inside another
    * one's build is not counted twice. */
  private def covered(b: Seq[(String, Long, Double)]): Double = {
    val spans = b.map { case (_, end, s) => (end - (s * 1e9).toLong, end) }.sortBy(_._1)
    spans.foldLeft((0L, Long.MinValue)) { case ((total, reach), (start, end)) =>
      if (end <= reach) (total, reach) else (total + end - math.max(start, reach), end)
    }._1 / 1e9
  }

  override def attach(): Unit = { super.attach(); spark.listenerManager.register(plans) }
  override def detach(): Unit = { spark.listenerManager.unregister(plans); super.detach() }

  override def execute(): Seq[(String, Any)] = {
    if (o.trace) {
      val err = System.err
      System.setErr(new PrintStream(new LineTap(err, {
        case BuiltLine(name, s) => built.add((name, now(), s.toDouble))
        case _ => ()
      }), true, "UTF-8"))
    }
    val res = super.execute()
    res :+ ("records" -> records.toSeq)
  }

  override def traceLayers(runs: Seq[String]): Unit = {
    // Spark's counts per key are complete only once the pass was drained
    records.indices.foreach { i =>
      val r = records(i).toMap
      val l = r("run").toString; val k = r("key").toString
      def c(phase: String) = Option(meter.byLabel.get(s"$l/$k/$phase"))
      val both = Seq(c("construct"), c("exec")).flatten
      records(i) = records(i) ++ Seq(
        "jobs_construct" -> c("construct").map(_.jobs.get).getOrElse(0L),
        "jobs_exec" -> c("exec").map(_.jobs.get).getOrElse(0L),
        "stages" -> both.map(_.stages.get).sum,
        "shuffle_read_bytes" -> both.map(_.shuffleRead.get).sum,
        "shuffle_write_bytes" -> both.map(_.shuffleWrite.get).sum,
        "spill_bytes" -> both.map(_.spill.get).sum)
    }
    layers("inventory_s") = median(passSamples)
    def perRun(f: Map[String, Any] => Double): Double =
      median(runs.map(r => records.map(_.toMap).filter(_("run") == r).map(f).sum))
    def num(k: String)(m: Map[String, Any]): Double = m(k) match {
      case n: Int => n.toDouble; case n: Long => n.toDouble; case n: Double => n; case _ => 0.0
    }
    layers("plans.construct_s") = perRun(num("construct_s"))
    layers("plans.construct_jobs") = perRun(num("jobs_construct"))
    layers("plans.artifact_build_s") = perRun(num("artifact_build_s"))
    layers("plans.artifacts_built") = perRun(m => m("artifacts_built").asInstanceOf[Seq[_]].size.toDouble)
    layers("plans.artifacts_reused") = perRun(num("artifacts_reused"))
    layers("plans.catalyst_s") = perRun(num("plan_s"))
    layers("plans.exchanges") = perRun(num("exchanges"))
    layers("queries.exec_s") = perRun(num("exec_s"))
    layers("queries.jobs") = perRun(num("jobs_exec"))
    val all = keys.flatMap(k => Seq(s"$k/construct", s"$k/exec")).toSet
    layers("queries.stages") = countMedian(runs, all)(_.stages.get)
    layers("queries.shuffle_read_bytes") = countMedian(runs, all)(_.shuffleRead.get)
    layers("queries.shuffle_write_bytes") = countMedian(runs, all)(_.shuffleWrite.get)
    layers("queries.spill_bytes") = countMedian(runs, all)(_.spill.get)
    layers("queries.peak_exec_mem_mb") = median(runs.map(r =>
      keys.map(k => Option(meter.byLabel.get(s"$r/$k/exec")).map(_.peakMem.get).getOrElse(0L)).max / 1048576.0))
  }

  /** Also writes the answers the output checks compare. */
  def prime(): Unit = {
    val dir = alias("prime")
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, dir).write.mode("overwrite")
        .parquet(o.out.resolve(s"answers/$k").toString)
    }
    val sql = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    extra("keys") = keys
    extra("oracle_sql") = sql
  }
}

object Inventory {
  /** Keys whose construction builds shared artifacts, chosen from a
    * per-key run over every key: q_minhash builds dedup.sig.Md5 on top
    * of dedup.shingles3; q_embed_cov builds embed.covCells, which
    * q_pca_power's construction reads; q_overlap builds
    * dedup.winnow.4.4, which q_winnow's final plan scans. */
  val Keys: Seq[String] = Seq("q_embed_cov", "q_minhash", "q_overlap", "q_pca_power", "q_winnow")
}

/** Minimal JSON rendering for the result file (numbers, strings, lists, objects). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => render(m.toSeq)
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
      case (_: String, _) => true
      case _ => false
    } => kv.map { case (k: String, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (a, b) => render(Seq(a, b))
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
