package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.pipeline.{CatalogStore, JobService, ParquetCatalog}

/** One benchmark run of one workload, in one JVM, as a single client
  * in a closed loop: set-up, warm-up rounds, then timed rounds until
  * `--seconds` have passed (whole rounds only). The first warm-up
  * round is the untimed check pass: it writes every output for the
  * oracle check where the other rounds materialise to the noop sink.
  * A traced run
  * (`--trace 1`) also registers a SparkListener, times the catalog
  * calls of `saas_jobs`, makes the module calls of its workload once
  * after the timed rounds, and writes every span and Spark event as
  * JSONL. Results go to `--out` as one JSON object; perfbench/run.py
  * turns them into metrics.
  *
  * Usage (run.py supplies every flag):
  * {{{
  * perfbench.Harness --workload W --data DIR --uploads DIR --seed N
  *   --seconds S --warmup K --trace 0|1 --cpus N --out FILE
  *   --check-dir DIR --trace-file FILE --queries q1,q2,...
  * }}}
  */
object Harness {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.US)
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = opt("cpus").toInt
    val traced = opt("trace") == "1"
    val spans = new Spans
    val spark = spans("setup.session") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", sys.env("SPARK_LOCAL_DIRS"))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val census = if (traced) Some(new Census) else None
    census.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, opt("data"), opt("uploads"),
      opt("seed").toLong, traced, opt("check-dir"), spans,
      opt("queries").split(",").filter(n => n.nonEmpty && n != "-").toSeq)
    val w: Workload = opt("workload") match {
      case "saas_jobs" => new SaasJobs(ctx)
      case "etl_batch_10x" => new SharedSession(ctx)
      case "dedup_similarity" => new SessionPerRound(ctx)
      case "stream_ingest" => new SessionPerQuery(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rounds = ArrayBuffer.empty[Map[String, Any]]
    def round(phase: String): Unit = {
      val r = rounds.size
      spans.round = r
      val cpu0 = cpuNanos()
      val ops = w.ops(r)
      var failed = 0
      spans(s"round.$phase") {
        ops.foreach { case (name, f) =>
          try spans(name)(f())
          catch { case scala.util.control.NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] round $r: $name failed: $e")
          }
        }
      }
      val span = spans.last("round." + phase)
      rounds += Map("round" -> r, "phase" -> phase,
        "start" -> span.start, "end" -> span.end,
        "cpu_s" -> (cpuNanos() - cpu0) / 1e9, "ops" -> ops.size,
        "failed" -> failed)
      w.afterRound(r)
    }

    spans("setup.workload")(w.setup())
    spans("setup.warmup") {
      round("check")
      (2 to opt("warmup").toInt).foreach(_ => round("warmup"))
    }
    val timedStart = Spans.now()
    val seconds = opt("seconds").toDouble
    do round("timed") while (Spans.now() - timedStart < seconds * 1000)
    val peakRssMb = peakRss()
    spans.round = -1
    if (traced) spans("probes")(w.probes())
    census.foreach(_.drain())

    val out = Map(
      "workload" -> opt("workload"),
      "timed_start" -> timedStart,
      "jvm_start" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime.toDouble,
      "rounds" -> rounds,
      "spans" -> spans.all.map(_.toMap),
      "peak_rss_mb" -> peakRssMb,
      "cpus" -> cpus) ++ w.results
    Files.writeString(Paths.get(opt("out")), Json(out))
    if (traced) {
      val lines = spans.all.map(s => Json(s.toMap + ("kind" -> "span"))) ++
        census.toSeq.flatMap(_.events.map(Json(_))) ++
        w.streamEvents.map(e => Json(e + ("kind" -> "batch")))
      Files.write(Paths.get(opt("trace-file")), lines.asJava)
    }
    spark.stop()
  }

  private def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRss(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final case class Ctx(spark: SparkSession, data: String, uploads: String,
    seed: Long, traced: Boolean, checkDir: String, spans: Spans,
    queries: Seq[String]) {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  /** The query's output, written as graft.Verify writes it. */
  def dump(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")), prefix)
      .toString
}

/** A span: name, start and end (epoch ms), the enclosing span and the
  * round it belongs to (-1 outside rounds). */
final case class Span(id: Int, name: String, parent: Int, round: Int,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "round" -> round, "start" -> start, "end" -> end)
}

/** In-memory span recorder for the harness's single client thread. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var round: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val id = buf.size
    val parent = stack.headOption.getOrElse(-1)
    val start = Spans.now()
    buf += Span(id, name, parent, round, start, start)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      buf(id) = buf(id).copy(end = Spans.now())
    }
  }
  def all: Seq[Span] = buf.toSeq
  def last(name: String): Span = buf.findLast(_.name == name).get
}

object Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
}

/** Spark jobs, stages and task metrics, kept in memory (traced runs
  * only). Jobs are matched to spans by time afterwards: the harness
  * submits one operation at a time. */
final class Census extends SparkListener {
  private val queue = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val writeTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    queue.add(Map("kind" -> "job_start", "job" -> e.jobId,
      "time" -> e.time.toDouble, "stages" -> e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    queue.add(Map("kind" -> "job_end", "job" -> e.jobId,
      "time" -> e.time.toDouble))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
      writeTasks.merge(e.stageId, 1, Integer.sum)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val base = Map[String, Any]("kind" -> "stage", "stage" -> i.stageId,
      "tasks" -> i.numTasks,
      "submitted" -> i.submissionTime.map(_.toDouble).getOrElse(0.0),
      "completed" -> i.completionTime.map(_.toDouble).getOrElse(0.0),
      "write_files" -> writeTasks.getOrDefault(i.stageId, 0))
    queue.add(if (m == null) base else base ++ Map(
      "run_s" -> m.executorRunTime / 1e3,
      "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
      "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1048576.0,
      "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
      "spill_disk_mb" -> m.diskBytesSpilled / 1048576.0,
      "input_mb" -> m.inputMetrics.bytesRead / 1048576.0,
      "input_rows" -> m.inputMetrics.recordsRead,
      "output_mb" -> m.outputMetrics.bytesWritten / 1048576.0))
  }

  /** Waits until the listener bus has delivered every event: the queue
    * stops growing and every started job has ended. */
  def drain(): Unit = {
    var last = -1
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline && {
        val n = queue.size
        val open = queue.asScala.count(_("kind") == "job_start") -
          queue.asScala.count(_("kind") == "job_end")
        val busy = n != last || open > 0
        last = n
        busy
      }) Thread.sleep(200)
  }
  def events: Seq[Map[String, Any]] = queue.asScala.toSeq
}

/** Micro-batch progress of the streams a workload starts. */
final class Batches extends StreamingQueryListener {
  private val queue = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    queue.add(Map(
      "time" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "batch" -> p.batchId, "rows" -> p.numInputRows,
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def size: Int = queue.size
  def events: Seq[Map[String, Any]] = queue.asScala.toSeq
}

abstract class Workload(val ctx: Ctx) {
  /** Work done once before the warm-up rounds. */
  def setup(): Unit = ()
  /** The operations of round `r`, run in order; round 0 is the check
    * pass. */
  def ops(r: Int): Seq[(String, () => Unit)]
  def afterRound(r: Int): Unit = ()
  /** Module calls, timed once in traced runs. */
  def probes(): Unit = ()
  def results: Map[String, Any] = Map.empty
  def streamEvents: Seq[Map[String, Any]] = Nil
}

/** Registered queries, each materialised to the noop sink in the
  * timed rounds, in the order given. */
abstract class QueryWorkload(ctx: Ctx) extends Workload(ctx) {
  private val registry = graft.Registry.all.map(q => q.name -> q).toMap
  val names: Seq[String] = ctx.queries
  names.foreach(n => require(registry.contains(n), s"unknown query $n"))

  def run(name: String, s: SparkSession, r: Int): Unit = {
    val df = registry(name).fn(s, ctx.data)
    if (r == 0) ctx.dump(name, df) else ctx.noop(df)
  }

  override def results: Map[String, Any] = {
    // the oracle SQL as graft.Verify resolves it, banded re-render included
    val oracles = graft.SparkEntry.oracleSql ++
      graft.sim.SimQueries.resolvedBandedOracles(ctx.spark, ctx.data)
    Map("oracle_sql" -> names.map(n => n -> oracles.get(n)).toMap)
  }
}

/** `etl_batch_10x`: every query on the one long-lived session. */
final class SharedSession(ctx: Ctx) extends QueryWorkload(ctx) {
  def ops(r: Int) = names.map(n => n -> (() => run(n, ctx.spark, r)))
}

/** `dedup_similarity`: each round on a fresh session, as a per-corpus
  * job would run; the previous round's cached tables are released.
  * Its traced run also makes the module calls of [[Probes]], one
  * `stream_index_ingest` included, so that every layer is traced on
  * a workload the benchmark gates. */
final class SessionPerRound(ctx: Ctx) extends QueryWorkload(ctx) {
  private var session: SparkSession = _
  private val streams = new Streams(ctx)
  def ops(r: Int) = {
    session = ctx.spark.newSession()
    names.map(n => n -> (() => run(n, session, r)))
  }
  override def afterRound(r: Int): Unit = Probes.release(ctx)
  override def probes(): Unit = {
    Probes.dedup(ctx)
    Probes.textIndex(ctx)
    streams.setup()
    ctx.spans("stream_index_ingest")(ctx.noop(graft.Registry.all
      .find(_.name == "stream_index_ingest").get.fn(streams.session(), ctx.data)))
    streams.afterRound(-1)
  }
  override def results: Map[String, Any] = super.results ++ streams.results
  override def streamEvents: Seq[Map[String, Any]] = streams.events
}

/** `stream_ingest`: each query on its own session. */
final class SessionPerQuery(ctx: Ctx) extends QueryWorkload(ctx) {
  private val streams = new Streams(ctx)
  override def setup(): Unit = streams.setup()
  def ops(r: Int) = names.map(n => n -> (() => run(n, streams.session(), r)))
  override def afterRound(r: Int): Unit = streams.afterRound(r)
  override def probes(): Unit = Probes.textIndex(ctx)
  override def results: Map[String, Any] = super.results ++ streams.results
  override def streamEvents: Seq[Map[String, Any]] = streams.events
}

/** Sessions for streams: in traced runs keeps the micro-batch progress
  * of the streams they start, and after each round measures and
  * removes the index roots the ingest grew under the temp dir. */
final class Streams(ctx: Ctx) {
  private val batches = new Batches
  private val tmp = Paths.get(sys.props("java.io.tmpdir"))
  private var keep = Set.empty[Path]
  private val indexMb = ArrayBuffer.empty[Map[String, Any]]
  // io.Staging names an artifact after its source file's size and
  // mtime; those stay for later rounds, as staged artifacts do
  private val stagedSuffixes = Fs.list(Paths.get(ctx.data)).map { f =>
    s"_${Files.size(f)}_${Files.getLastModifiedTime(f).toMillis}"
  }
  private def entries(): Set[Path] = Fs.list(tmp).toSet

  def session(): SparkSession = {
    val s = ctx.spark.newSession()
    if (ctx.traced) s.streams.addListener(batches)
    s
  }
  def setup(): Unit = keep = entries()
  def afterRound(r: Int): Unit = {
    val grown = entries() -- keep
    keep ++= grown.filter(p =>
      stagedSuffixes.exists(p.getFileName.toString.endsWith))
    val mb = grown.toSeq
      .filter(p => Seq("graft_stream_ingest_ix_", "graft_stream_embingest_ix_")
        .exists(p.getFileName.toString.startsWith))
      .map(Fs.bytes).sum / 1048576.0
    indexMb += Map("round" -> r, "mb" -> mb)
    (grown -- keep).foreach(Fs.remove)
  }
  def results: Map[String, Any] =
    Map("index_mb" -> indexMb.toSeq, "stream_batches" -> events)
  lazy val events: Seq[Map[String, Any]] = {
    // progress events arrive on the listener bus after the query ends
    val deadline = System.currentTimeMillis() + 5000
    var last = -1
    while (ctx.traced && System.currentTimeMillis() < deadline &&
        batches.size != last) {
      last = batches.size
      Thread.sleep(300)
    }
    batches.events
  }
}

/** Module calls timed once, after the timed rounds of a traced run. */
object Probes {
  import graft.text.Dedup

  /** Releases every cached table and persisted RDD of the context. */
  def release(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Near-duplicate pairs, connected components over them, k-means. */
  def dedup(ctx: Ctx): Unit = {
    val s = ctx.spark.newSession()
    val docs = graft.io.Tables.documents(s, ctx.data)
    val pairs = ctx.spans("text.near_dup_pairs") {
      val p = Dedup.nearDupPairs(docs, "doc_id", "text")
      ctx.noop(p)
      p
    }
    ctx.spans("ops.connected_components")(ctx.noop(
      graft.ops.Graph.connectedComponents(pairs.select("id_a", "id_b"))))
    ctx.spans("sim.kmeans")(ctx.noop(graft.sim.Clustering.kmeans(
      graft.io.Tables.embeddings(s, ctx.data), 5)))
    release(ctx)
  }

  /** The persisted text index on the ingest stream's day deltas: the
    * day-0 write, the three day appends, and a serving lookup. */
  def textIndex(ctx: Ctx): Unit = {
    val s = ctx.spark.newSession()
    val docs = graft.io.Tables.documents(s, ctx.data).select("doc_id", "text")
    val root = ctx.tmpDir("perfbench_ix_")
    ctx.spans("text.index_write")(
      Dedup.writeIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", root))
    (1 to 3).foreach { m =>
      ctx.spans("text.index_append")(Dedup.appendAcceptedIndexed(root,
        Dedup.readIndex(s, root), docs.filter(col("doc_id") % 4 === m),
        "doc_id", "text"))
    }
    val served = ctx.tmpDir("perfbench_serve_ix_")
    Dedup.writeIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", served)
    ctx.spans("text.lookup")(ctx.noop(Dedup.lookupReport(
      Dedup.readIndex(s, served), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text")))
    release(ctx)
  }
}

/** `saas_jobs`: the reference's request mix against [[JobService]] on
  * a parquet catalog. Each round is one `startEtl` on the next upload,
  * one `listJobs().collect()` and one `login`, alternating the two
  * users and a right and a wrong password. */
final class SaasJobs(ctx: Ctx) extends Workload(ctx) {
  private val catalogDir = ctx.tmpDir("perfbench_catalog_")
  private val resultDir = ctx.tmpDir("perfbench_results_")
  private val timed =
    if (ctx.traced) Some(new TimedCatalog(
      new ParquetCatalog(ctx.spark, catalogDir), ctx.spans, catalogDir))
    else None
  private val store: CatalogStore =
    timed.getOrElse(new ParquetCatalog(ctx.spark, catalogDir))
  private val svc = new JobService(ctx.spark, store)
  private val users = Seq("alice" -> s"pw-a-${ctx.seed}", "bob" -> s"pw-b-${ctx.seed}")
  private val uploads = Fs.list(Paths.get(ctx.uploads)).map(_.toString).filter(_.endsWith(".csv")).toSeq.sorted
  require(uploads.nonEmpty, s"no uploads under ${ctx.uploads}")
  private val requests = ArrayBuffer.empty[scala.collection.Map[String, Any]]

  override def setup(): Unit = users.foreach { case (u, p) =>
    require(svc.register(u, p), s"register $u")
  }
  def ops(r: Int) = {
    val (user, pw) = users(r % users.size)
    val upload = uploads(r % uploads.size)
    val out = s"$resultDir/job_$r"
    val right = r % 4 < 2
    // kept whether or not its calls succeed: run.py checks what is missing
    val rec = scala.collection.mutable.Map[String, Any]("request" -> r,
      "user" -> user, "upload" -> upload, "out" -> out, "login_expected" -> right)
    requests += rec
    Seq[(String, () => Unit)](
      "startEtl" -> (() => rec += "job_id" -> svc.startEtl(user, upload, out)),
      "listJobs" -> (() => rec += "listed" -> svc.listJobs().collect().length),
      "login" -> (() => rec += "login" -> svc.login(user, if (right) pw else pw + "x")))
  }
  override def results: Map[String, Any] = {
    val listed = svc.listJobs().collect().map(r => Map(
      "id" -> r.getLong(0), "filename" -> r.getString(1),
      "status" -> r.getString(2), "result_url" -> r.getString(3),
      "upload_time" -> r.getString(4))).toSeq
    val raw = svc.jobs.select(col("id"), unix_micros(col("upload_time")))
      .collect().map(r => Map("id" -> r.getLong(0), "upload_us" -> r.getLong(1))).toSeq
    Map("requests" -> requests.toSeq, "list_jobs" -> listed, "jobs_raw" -> raw,
      "sentiment_sql" -> graft.text.Sentiment.oracleCaseSql("text"),
      "catalog_sizes" -> timed.toSeq.flatMap(_.sizes))
  }
}

/** A [[CatalogStore]] that times every call (traced runs): a read is
  * the table open (listing and schema), a write the whole staged
  * rewrite; after each write it records the catalog's size on disk. */
final class TimedCatalog(inner: CatalogStore, spans: Spans, dir: String)
    extends CatalogStore {
  val sizes = ArrayBuffer.empty[Map[String, Any]]
  def readUsers(): DataFrame = spans("pipeline.catalog_read")(inner.readUsers())
  def readJobs(): DataFrame = spans("pipeline.catalog_read")(inner.readJobs())
  def writeUsers(df: DataFrame): Unit = write(inner.writeUsers(df))
  def writeJobs(df: DataFrame): Unit = write(inner.writeJobs(df))
  private def write(body: => Unit): Unit = {
    spans("pipeline.catalog_write")(body)
    sizes += Map("round" -> spans.round,
      "mb" -> Fs.bytes(Paths.get(dir)) / 1048576.0)
  }
}

object Fs {
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }
  private def walk(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }
  /** Bytes of the regular files under `p`. */
  def bytes(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  def remove(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
