package dumpbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.DumpBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST._

import graft.core.{DumpExecutor, EngineConfig, FloorplanParser, FloorplanRow}
import graft.sink.{FileContract, PartitionedParquetSink, WriteResult}
import graft.sources.{SnapshotJdbcSource, SqlTranslate}

/** Spans and counters recorded at the program's layer boundaries, from
  * outside the program: every span wraps a call into a public function of
  * graft (the executor, the translator, `spark.sql`, the sink, the
  * snapshot scope), and Spark's own listeners report the actions and jobs
  * those calls start. Everything stays in memory until [[json]].
  *
  * Spans nest on the driver thread: pass > core.execute > (sources.pin,
  * sources.translate, sources.analyze, query.exec, sink.write). Jobs carry
  * the id of the span that started them as a local property, which Spark
  * propagates to the threads that run broadcasts and subqueries. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var pass = -1
  private var retries = 0

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): Int =
        Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)
      // Jobs that a SQL action starts carry its execution id. Jobs without
      // one were started directly on the SparkContext, as Parquet schema
      // inference is when a DataFrame is created.
      val inAction = Option(p).exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)
      val job = new Job(e.jobId, prop(PassKey), prop(SpanKey), inAction, e.time)
      jobs.put(e.jobId, job)
      e.stageIds.foreach(s => stageToJob.put(s, job))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageToJob.get(e.stageId)
      val m = e.taskMetrics
      if (job != null && m != null) job.synchronized {
        job.tasks += 1
        job.runMs += m.executorRunTime
        job.cpuNs += m.executorCpuTime
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        job.inputBytes += m.inputMetrics.bytesRead
        job.outputBytes += m.outputMetrics.bytesWritten
        job.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      actions.add(Action(funcName, kind(funcName, qe), durationNs,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      actions.add(Action(funcName, "failed", 0L, 0L, 0L, 0L))
  })

  private def now(): Long = System.nanoTime()

  /** Runs `body` as a span named `name` under the innermost open span. */
  def span[T](name: String, attrs: (String, JValue)*)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevSpan)
      spans += Span(id, parent, pass, name, t0, t1, attrs.toList)
    }
  }

  /** Records a span whose boundaries were taken by the caller. */
  private def record(name: String, t0: Long, t1: Long): Unit = {
    spans += Span(nextId, stack.headOption.getOrElse(0), pass, name, t0, t1, Nil)
    nextId += 1
  }

  /** One traced floorplan pass. */
  def runPass(passId: Int)(body: => Int): Int = {
    pass = passId
    sc.setLocalProperty(PassKey, passId.toString)
    try span("pass")(body)
    finally {
      sc.setLocalProperty(PassKey, null)
      DumpBenchBridge.drainListeners(sc)
    }
  }

  /** `Floorista`'s executor factory for a traced lake-mode pass: the sink,
    * the query runner and the retry sleeper are wrapped, nothing else. */
  def executorFactory(config: EngineConfig)
      : (PartitionedParquetSink, String => DataFrame) => DumpExecutor =
    (_, _) => new TracedExecutor(tracedSink(config), tracedRunner, null)

  /** A traced JDBC-mode pass. `Floorista.run` builds its JDBC executor
    * itself and never calls the executor factory, so this repeats what
    * `run` does in JDBC mode, with the traced sink, runner and snapshot
    * scope in place. */
  def runJdbc(config: EngineConfig): Int = {
    val jdbc = config.jdbc.get
    val sink = tracedSink(config)
    if (!sink.verify()) return 1
    val inner = SnapshotJdbcSource.dumpAttemptScope(spark, jdbc)
    val scope: DumpExecutor.AttemptScope = (row, body) => {
      val t0 = now()
      var b0 = -1L
      var b1 = -1L
      try inner(row, run => {
        b0 = now()
        try body(sql => probe(span("sources.analyze")(run(sql))))
        finally b1 = now()
      })
      finally {
        val t1 = now()
        if (b0 < 0) record("sources.pin", t0, t1)
        else { record("sources.pin", t0, b0); record("sources.pin", b1, t1) }
      }
    }
    val executor = new TracedExecutor(sink, tracedRunner, scope)
    val rows = FloorplanParser.parseFile(config.floorplanFile)
    val dumped = rows.zipWithIndex.count { case (raw, i) => executor.execute(raw, i + 1) }
    if (dumped != rows.size) 1 else 0
  }

  private def tracedSink(config: EngineConfig) =
    new TracedSink(spark, config.bucketUrl, config.fileContract)

  private val tracedRunner: String => DataFrame = sql => {
    val translated = span("sources.translate")(SqlTranslate.translate(sql))
    probe(span("sources.analyze")(spark.sql(translated)))
  }

  /** Executes the dump's DataFrame once into the noop sink: the query's
    * execution time without any Parquet encoding or commit. */
  private def probe(df: DataFrame): DataFrame = {
    span("query.exec")(df.write.format("noop").mode("overwrite").save())
    DumpBenchBridge.drainListeners(sc)
    actions.clear()
    df
  }

  private final class TracedExecutor(sink: PartitionedParquetSink, run: String => DataFrame,
                                     scope: DumpExecutor.AttemptScope)
      extends DumpExecutor(sink, run, sleeper = _ => retries += 1, attemptScope = scope) {
    override def execute(row: FloorplanRow, dumpNo: Int): Boolean = {
      val r0 = retries
      var ok = false
      span("core.execute", "prefix" -> JString(row.prefix)) {
        ok = super.execute(row, dumpNo)
      }
      spans(spans.size - 1) = spans.last.copy(attrs = spans.last.attrs ++ List(
        "ok" -> JBool(ok), "retries" -> JInt(retries - r0)))
      ok
    }
  }

  private final class TracedSink(spark: SparkSession, root: String, contract: FileContract)
      extends PartitionedParquetSink(spark, root, contract) {
    override def write(df: DataFrame, prefix: String, rowsPerFile: Option[Int],
                       date: LocalDate): WriteResult = {
      val before = fsStats(root)
      var after = before
      val r = span("sink.write") {
        try super.write(df, prefix, rowsPerFile, date)
        finally {
          after = fsStats(root)
          // The listener bus delivers actions asynchronously; draining it
          // here ties every action this write started to this span.
          DumpBenchBridge.drainListeners(sc)
        }
      }
      val delta = after.map { case (k, v) => k -> JInt(v - before.getOrElse(k, 0L)) }
      val mine = Iterator.continually(actions.poll()).takeWhile(_ != null).toList
        .filter(a => a.kind != "probe")
      def ms(kind: String, f: Action => Double): JDouble =
        JDouble(mine.filter(_.kind == kind).map(f).sum)
      spans(spans.size - 1) = spans.last.copy(attrs = delta.toList ++ List(
        "write_ms" -> ms("write", _.durationNs / 1e6),
        "count_ms" -> ms("count", _.durationNs / 1e6),
        "actions_ms" -> JDouble(mine.map(_.durationNs / 1e6).sum),
        "plan_ms" -> ms("write", a => (a.optimizationMs + a.planningMs).toDouble),
        "actions" -> JArray(mine.map(a => JString(a.kind)))))
      r
    }
  }

  private def fsStats(root: String): Map[String, Long] = {
    val scheme = new java.net.URI(root).getScheme
    val stats = FileSystem.getGlobalStorageStatistics.get(scheme)
    val hadoop =
      if (stats == null) Map.empty[String, Long]
      else FsKeys.map(k => k -> Option(stats.getLong(k)).map(_.longValue).getOrElse(0L)).toMap
    // Hadoop's local file system counts bytes but not operations; the
    // counting wrapper installed for traced runs counts those.
    if (scheme == "file") hadoop ++ CountingLocalFileSystem.counts else hadoop
  }

  def json: JValue = {
    def wallMs(ns: Long): Double = wallBaseMs + (ns - nanoBase) / 1e6
    import scala.jdk.CollectionConverters._
    JObject(
      "spans" -> JArray(spans.toList.map { s =>
        JObject(List("id" -> JInt(s.id), "parent" -> JInt(s.parent), "pass" -> JInt(s.pass),
          "name" -> JString(s.name), "start_ms" -> JDouble(wallMs(s.start)),
          "end_ms" -> JDouble(wallMs(s.end))) ++
          (if (s.attrs.isEmpty) Nil else List("attrs" -> JObject(s.attrs))))
      }),
      "jobs" -> JArray(jobs.values.asScala.toList.sortBy(_.id).map { j =>
        JObject("id" -> JInt(j.id), "pass" -> JInt(j.pass), "span" -> JInt(j.span),
          "in_action" -> JBool(j.inAction), "wall_ms" -> JInt(j.endMs - j.startMs),
          "tasks" -> JInt(j.tasks), "run_ms" -> JInt(j.runMs), "cpu_ns" -> JInt(j.cpuNs),
          "shuffle_bytes" -> JInt(j.shuffleBytes), "input_bytes" -> JInt(j.inputBytes),
          "output_bytes" -> JInt(j.outputBytes), "output_records" -> JInt(j.outputRecords))
      }),
      "unattributed_actions" -> JArray(actions.asScala.toList.map(a => JString(a.kind))))
  }
}

object Tracer {
  private val PassKey = "dumpbench.pass"
  private val SpanKey = "dumpbench.span"
  private val FsKeys = Seq("bytesRead", "bytesWritten", "readOps", "largeReadOps", "writeOps")

  final case class Span(id: Int, parent: Int, pass: Int, name: String, start: Long, end: Long,
                        attrs: List[(String, JValue)])

  final class Job(val id: Int, val pass: Int, val span: Int, val inAction: Boolean,
                  val startMs: Long) {
    @volatile var endMs = startMs
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  final case class Action(func: String, kind: String, durationNs: Long,
                          analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** What an action did, from its plan: the sink's staged Parquet write,
    * its footer re-read, the noop probe, or anything else. */
  private def kind(funcName: String, qe: QueryExecution): String = {
    val plan = qe.logical.getClass.getSimpleName
    if (plan.startsWith("InsertIntoHadoopFsRelation")) "write"
    else if (funcName == "count") "count"
    else if (qe.logical.toString.contains("NoopTable")) "probe"
    else s"$funcName:$plan"
  }
}
