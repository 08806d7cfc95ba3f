package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.crmls.Crmls
import graft.sources.Streams
import graft.streaming.{CrmlsStream, CrmlsStreamMain, UpsertJoin}

/** JVM side of the stream workloads.
  *
  * Runs the production streaming path the way `CrmlsStreamMain.main`
  * wires it (same `Config` parse, same `StateStore` and
  * `ParquetUpsertSink` construction, changelog on), with Kafka replaced
  * by six file-drop topic directories and the 10 s trigger replaced by a
  * zero-interval one, so latency measures the pipeline rather than the
  * trigger phase.
  *
  * Protocol with `run.py`, through files in the work directory:
  *   1. start the live stream over `live/`, which holds the seed topics,
  *      and commit the seed batch; then write `ready.json`;
  *   2. wait for the generator's `gen_log.json`, drain, stop;
  *   3. check the sink against `Crmls.pipeline` over the same topics;
  *   4. write `result.json` (and, when tracing, the raw events).
  *
  * Tracing uses only public hooks: a SparkListener, a
  * StreamingQueryListener, a QueryExecutionListener and file walks of
  * the state, sink and changelog directories after each progress event.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("workdir")
    val trace = opt("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // the CPUs this process may run on: availableProcessors follows the
    // affinity mask and the container's CPU quota
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3

    val t0 = System.nanoTime()
    val live = start(spark, s"$work/live-state", s"$work/live")
    live.query.processAllAvailable()
    val setupS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark, live)) else None
    writeAtomic(s"$work/ready.json",
      s"""{"cores":$cores,"boot_s":$bootS,"setup_s":$setupS}""")

    // the runner gives up on a run after 170 s; a harness it could not
    // stop must not wait for the generator forever
    val genLog = new File(s"$work/gen_log.json")
    val giveUp = jvmStart + 180000L
    while (!genLog.exists()) {
      if (System.currentTimeMillis() > giveUp) sys.exit(3)
      Thread.sleep(20)
    }
    live.query.processAllAvailable()
    live.query.stop()
    live.sink.awaitCompaction()
    val drainedAt = System.currentTimeMillis()
    tracer.foreach(_.unwatch())

    val check = verify(spark, live, s"$work/live")
    val stored = Seq("state", "sink", "changelog")
      .map(d => d -> treeBytes(new File(s"${live.cfg.statePath}/$d"))).toMap
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    tracer.foreach(t => writeAtomic(s"$work/trace_events.json", t.json()))
    writeAtomic(s"$work/result.json",
      s"""{"drained_at_ms":$drainedAt,"vm_hwm_kb":$hwm,""" +
        s""""checkpoint":${q(live.cfg.checkpointDir)},""" +
        stored.map { case (k, v) => s""""${k}_bytes":$v""" }.mkString(",") + "," +
        check + "}")
    spark.stop()
  }

  /** The session: `run_spark.sh`'s query-engine block, in local mode on
    * `cores` cores, with every scratch path inside the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("graft-crmls-stream")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", (3 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Live(cfg: CrmlsStreamMain.Config, sink: UpsertJoin.ParquetUpsertSink,
                        query: StreamingQuery)

  /** `CrmlsStreamMain.main` over file-drop topics under `topicsRoot`. */
  def start(spark: SparkSession, root: String, topicsRoot: String): Live = {
    val cfg = CrmlsStreamMain.parse(Array(
      "--bootstrap-server", "file-drop", "--state-path", root,
      "--changelog-dir", s"$root/changelog") ++
      CrmlsStreamMain.topicFlags.flatMap { case (flag, entity) => Seq(flag, entity) })
    val store = new CrmlsStream.StateStore(spark, s"${cfg.statePath}/state")
    val sink = new UpsertJoin.ParquetUpsertSink(spark, cfg.sinkPath,
      changelogDir = cfg.changelogDir,
      changelogCheckpointEvery = cfg.changelogCheckpointEvery)
    val tagged = CrmlsStreamMain.taggedUnionOf(cfg.topics.map { case (entity, topic) =>
      entity -> Streams.jsonLinesSource(spark, s"$topicsRoot/$topic")
    })
    Live(cfg, sink, CrmlsStream.run(tagged, store, sink, cfg.checkpointDir,
      trigger = Trigger.ProcessingTime(0)))
  }

  /** Sink snapshot vs. `Crmls.pipeline` over the same topic files,
    * compared order-insensitively by per-row hash. Materializing the
    * pipeline's hashes is timed as `crmls_rebuild`. Returns JSON fields. */
  def verify(spark: SparkSession, live: Live, topicsRoot: String): String = {
    val expected = Crmls.pipeline(live.cfg.topics.map { case (entity, topic) =>
      entity -> spark.read.text(s"$topicsRoot/$topic")
    })
    val cols = expected.columns.toSeq.map(col)
    def hashed(df: DataFrame) = df.select(xxhash64(cols: _*).as("h")).cache()
    def fingerprint(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
      s"""{"rows":${r.getLong(0)},"hash":"${Option(r.get(1)).getOrElse(0)}"}"""
    }
    val sc = spark.sparkContext
    sc.setJobGroup("crmls_rebuild", "crmls_rebuild")
    val t0 = System.nanoTime()
    val exp = hashed(expected)
    val expFp = fingerprint(exp)
    val rebuildS = (System.nanoTime() - t0) / 1e9
    sc.setJobGroup("verify", "verify")
    val got = hashed(live.sink.snapshot(spark).select(cols: _*))
    val out = s""""rebuild_s":$rebuildS,"expected":$expFp,"actual":${fingerprint(got)},""" +
      s""""missing_rows":${exp.exceptAll(got).count()},""" +
      s""""extra_rows":${got.exceptAll(exp).count()}"""
    exp.unpersist(); got.unpersist()
    sc.clearJobGroup()
    out
  }

  def treeBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()

  def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def writeAtomic(path: String, content: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** In-memory event recorder for the traced run. Records raw events only;
  * `analyze.py` turns them into spans and per-layer metrics. */
final class Tracer(spark: SparkSession, l: Harness.Live) {
  private val events = ArrayBuffer.empty[String]
  private var hookNs = 0L
  @volatile private var watching = true
  private val walked = Seq("state", "sink", "changelog")
  private var lastWalk = Map.empty[String, Map[String, (Long, Long)]]
  walk(0L)

  private def record(line: String): Unit = events.synchronized { events += line }
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally synchronized { hookNs += System.nanoTime() - t0 }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      record(s"""{"ev":"job_start","job":${e.jobId},"t":${e.time},""" +
        s""""batch":${prop("streaming.sql.batchId").getOrElse("null")},""" +
        s""""group":${prop("spark.jobGroup.id").map(Harness.q).getOrElse("null")},""" +
        s""""stages":[${e.stageIds.mkString(",")}]}""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      record(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val m = i.taskMetrics
      record(s"""{"ev":"stage","stage":${i.stageId},"tasks":${i.numTasks},""" +
        s""""run_ms":${m.executorRunTime},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""output":${m.outputMetrics.bytesWritten}}""")
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        record(s"""{"ev":"qe","start":${ph.values.map(_.startTimeMs).min},""" +
          s""""plan_ms":${ph.values.map(p => p.endTimeMs - p.startTimeMs).sum}}""")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      if (watching && p.id == l.query.id) {
        val d = p.durationMs
        val durs = d.keySet().toArray.map(k => s""""$k":${d.get(k)}""").mkString(",")
        record(s"""{"ev":"progress","batch":${p.batchId},"ts":${Harness.q(p.timestamp)},""" +
          s""""rows":${p.numInputRows},"ms":{$durs}}""")
        walk(p.batchId)
      }
    }
  })

  /** Bytes of files that are new or changed since the previous walk, per
    * directory. Hidden names (checksums, in-flight swaps) and Spark's
    * `_temporary` write staging are skipped; everything else, pending
    * deltas included, counts. */
  private def walk(batch: Long): Unit = {
    val now = walked.map { d =>
      d -> files(new File(s"${l.cfg.statePath}/$d"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }.toMap
    val fields = walked.map { d =>
      val before = lastWalk.getOrElse(d, Map.empty)
      val changed = now(d).filter { case (p, v) => !before.get(p).contains(v) }
      s""""${d}_rewritten":${changed.values.map(_._1).sum},"${d}_files":${changed.size},""" +
        s""""${d}_total":${now(d).values.map(_._1).sum}"""
    }.mkString(",")
    record(s"""{"ev":"walk","batch":$batch,$fields}""")
    lastWalk = now
  }

  private def files(f: File): Seq[File] =
    if (!f.exists() || f.getName.startsWith(".") || f.getName == "_temporary") Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)

  def unwatch(): Unit = watching = false

  def json(): String =
    events.synchronized {
      s"""{"hook_ms":${hookNs / 1e6},"events":[\n${events.mkString(",\n")}\n]}"""
    }
}
