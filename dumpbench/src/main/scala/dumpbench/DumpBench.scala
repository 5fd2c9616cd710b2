package dumpbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.{EngineConfig, Floorista, JdbcConfig}
import graft.sink.FileContract
import graft.sources.{JdbcDrivers, Sources}
import graft.tools.BuildTimer

/** Runs one workload's floorplan through `new Floorista(spark, config).run()`
  * in passes, each into a fresh output root, and writes what it measured as
  * JSON. The first pass is the process's cold pass; later passes repeat
  * until the measuring time is spent. Pass 1 warms the JIT up and is not
  * measured; passes 2 .. `last_measured` are, however many more the time
  * allows, so a faster program does not change how many samples a metric
  * takes. run.py builds the inputs, launches this, and checks every pass's
  * committed dumps.
  *
  * Usage: DumpBench <config.json> <result.json>
  *
  * Untraced runs call `Floorista.run()` exactly as the cron entry point
  * does. Traced runs alternate untraced and traced later passes, so the
  * tracing overhead is measured in the same process. */
object DumpBench {
  implicit private val formats: Formats = DefaultFormats

  final case class Pass(id: Int, traced: Boolean, wallS: Double, cpuS: Double, gcS: Double,
                        exitCode: Int, artifactBuildS: Double, artifactBuilds: Int)

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(new File(args(0)))
    val spawnedAtMs = (cfg \ "spawned_at_ms").extract[Long]
    val seconds = (cfg \ "seconds").extract[Double]
    val lastMeasured = (cfg \ "last_measured").extract[Int]
    val trace = (cfg \ "trace").extract[Boolean]
    val outRoot = new File((cfg \ "out_root").extract[String])
    val tableDir = (cfg \ "table_dir").extractOpt[String]
    val views = (cfg \ "views").extract[List[String]]
    val jdbc = cfg \ "jdbc" match {
      case j: JObject => Some(JdbcConfig((j \ "host").extract[String], (j \ "port").extract[Int],
        (j \ "database").extract[String], (j \ "user").extract[String],
        (j \ "password").extract[String]))
      case _ => None
    }
    val contract =
      if ((cfg \ "contract").extract[String] == "exact") FileContract.Exact
      else FileContract.Scalable

    val builder = SparkSession.builder()
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .appName("dumpbench")
      .master(s"local[${(cfg \ "cores").extract[Int]}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tableDir.foreach(dir => Sources.registerAll(spark, dir))
    jdbc.foreach(verifyConnection)
    val setupS = (System.currentTimeMillis() - spawnedAtMs) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

    def runPass(id: Int, traced: Boolean): Pass = {
      val bucket = new File(outRoot, s"pass-$id")
      bucket.mkdirs()
      val config = EngineConfig(
        bucketUrl = "file://" + bucket.getAbsolutePath, endpoint = None, region = None,
        accessKeyId = None, secretAccessKey = None,
        floorplanFile = (cfg \ "floorplan").extract[String], jdbc = jdbc,
        tableDir = tableDir, fileContract = contract)
      val artifacts0 = BuildTimer.perArtifactSeconds.toMap
      val build0 = BuildTimer.totalSeconds
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      val t0 = System.nanoTime()
      def body(): Int = {
        // The SparkEntry query outputs the floorplan selects from, defined
        // afresh each pass as a nightly job would; the memoized artifacts
        // behind them live as long as the session.
        views.foreach(v => SparkEntry.queries(v)(spark, tableDir.get).createOrReplaceTempView(v))
        (tracer, traced, jdbc) match {
          case (Some(t), true, Some(_)) => t.runJdbc(config)
          case (Some(t), true, None) => new Floorista(spark, config, t.executorFactory(config)).run()
          case _ => new Floorista(spark, config).run()
        }
      }
      val code = tracer match {
        case Some(t) if traced => t.runPass(id)(body())
        case _ => body()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val built = BuildTimer.perArtifactSeconds.count { case (k, v) =>
        v > artifacts0.getOrElse(k, 0.0)
      }
      Pass(id, traced, wall, (os.getProcessCpuTime - cpu0) / 1e9, (gcMs - gc0) / 1e3, code,
        BuildTimer.totalSeconds - build0, built)
    }

    val passes = ArrayBuffer(runPass(0, traced = trace))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var peakRssMb = 0.0
    // Traced runs order their measured passes traced, untraced, untraced,
    // traced, ... so that both kinds sit equally far along the JIT warm-up.
    while (passes.size <= lastMeasured || System.nanoTime() < deadline) {
      val id = passes.size
      passes += runPass(id, traced = trace && (id % 4 == 1 || id % 4 == 2))
      if (id == lastMeasured) peakRssMb = peakRss()
    }
    spark.stop()

    val result = JObject(
      "setup_s" -> JDouble(setupS),
      "peak_rss_mb" -> JDouble(peakRssMb),
      "passes" -> JArray(passes.toList.map(p => JObject(
        "id" -> JInt(p.id), "traced" -> JBool(p.traced), "wall_s" -> JDouble(p.wallS),
        "cpu_s" -> JDouble(p.cpuS), "gc_s" -> JDouble(p.gcS), "exit_code" -> JInt(p.exitCode),
        "artifact_build_s" -> JDouble(p.artifactBuildS),
        "artifact_builds" -> JInt(p.artifactBuilds)))),
      "oracle_sql" -> JObject(views.map(v => v -> JString(SparkEntry.oracleSql(v)))),
      "trace" -> tracer.map(_.json).getOrElse(JNull))
    val out = new java.io.PrintWriter(args(1))
    try out.write(JsonMethods.compact(JsonMethods.render(result)))
    finally out.close()
  }

  /** The engine's JDBC path is usable: a connection opens and answers. */
  private def verifyConnection(j: JdbcConfig): Unit = {
    JdbcDrivers.ensureManagerReady(j.url)
    val props = new java.util.Properties()
    props.setProperty("user", j.user)
    props.setProperty("password", j.password)
    val conn = java.sql.DriverManager.getConnection(j.url, props)
    try {
      val rs = conn.createStatement().executeQuery("SELECT 1")
      require(rs.next() && rs.getInt(1) == 1, "connection check returned no row")
    } finally conn.close()
  }

  /** The process's resident-memory high-water mark (Linux VmHWM), in MB. */
  private def peakRss(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
