package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{CacheHygiene, SparkEntry}
import graft.sources.StoreRoot

/** The JVM half of the benchmark. `run.py` generates the inputs, starts
  * this main once per run, then checks every output it names against
  * the DuckDB oracle and computes the metrics from `report.json`.
  *
  * Modes:
  *   run        one workload: `--setups` set-ups, then whole passes until
  *              `--seconds` have passed (at least one); with `--trace 1`
  *              an untraced phase and then a traced one
  *   calibrate  every SparkEntry query once on one input set (used to
  *              derive the catalogue pool, see README.md)
  *   plans      the optimised plans of the full-output action and of a
  *              `count()` for two queries (the full-output test)
  *   cds        a small job that records a class-data archive (build)
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    a("mode") match {
      case "run" => run(a, work)
      case "calibrate" => calibrate(a, work)
      case "plans" => plans(a, work)
      case "cds" => cds(work)
    }
  }

  /** The session settings graft.Bench uses, at local[cpus]. */
  def settings(cpus: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString)

  def session(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes written through Hadoop's local file system (every Spark and
    * graft write in a local[N] session goes through it). */
  def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum

  /** Files written by the SQL writes that started at or after `sinceMs`,
    * from the "number of written files" metric of each write command. */
  def filesWritten(spark: SparkSession, sinceMs: Double): Long = {
    val store = spark.sharedState.statusStore
    store.executionsList().filter(_.submissionTime >= sinceMs).map { e =>
      val values = store.executionMetrics(e.executionId)
      e.metrics.filter(_.name == "number of written files")
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).sum
    }.sum
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f))
        .map(f => Files.size(f)).sum
      finally s.close()
    }

  private def run(a: Map[String, String], work: Path): Unit = {
    val cpus = a("cpus").toInt
    val conf = settings(cpus, work)
    val traced = a("trace") == "1"
    val workload = Workload(a, work)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to a("setups").toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(conf)
      workload.setup(spark, i)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    HeapPeak.install()
    val seconds = a("seconds").toDouble
    var firstOp = 0
    val phases = (if (traced) Seq(false, true) else Seq(false)).map { on =>
      listener.detail = on
      val r = new Runner(spark, new Tracer(on), listener, work.resolve("ops"), firstOp)
      r.loop(workload, seconds)
      firstOp += r.ops.size
      r
    }
    PerfbenchBus.drain(spark.sparkContext)
    val timed = phases.last
    val kernels = if (traced) workload.kernels(spark, timed.tracer) else Map.empty[String, Double]
    val env = conf.toMap ++ Map(
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val out = Json.obj(
      "env" -> Json.obj(env.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "workload_info" -> workload.info,
      "setup_s" -> Json.arr(setups.map(Json.num(_)).toSeq: _*),
      "untraced" -> phases.head.json(withTrace = false),
      "traced" -> (if (traced) timed.json(withTrace = true) else "null"),
      "kernels" -> Json.obj(kernels.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "jobs" -> (if (!traced) "[]" else Json.arr(listener.jobs.toSeq.map { j =>
        Json.obj("id" -> j.jobId.toString, "group" -> Json.str(j.group),
          "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
          "ok" -> j.ok.toString, "stages" -> Json.arr(j.stages.map(_.toString): _*))
      }: _*)),
      "stages" -> (if (!traced) "[]" else Json.arr(listener.stages.values.toSeq.map { s =>
        Json.obj("id" -> s.stageId.toString, "attempt" -> s.attempt.toString,
          "group" -> Json.str(s.jobGroup), "tasks" -> s.numTasks.toString,
          "submit_ms" -> Json.num(s.submitMs), "complete_ms" -> Json.num(s.completeMs),
          "task_busy_ms" -> s.taskBusyMs.toString, "sched_delay_ms" -> s.schedDelayMs.toString,
          "gc_ms" -> s.gcMs.toString, "failed_tasks" -> s.failedTasks.toString,
          "shuffle_read" -> s.shuffleRead.toString, "shuffle_write" -> s.shuffleWrite.toString,
          "input_bytes" -> s.inputBytes.toString, "spill_bytes" -> s.spillBytes.toString)
      }: _*)))
    Files.writeString(work.resolve("report.json"), out)
    writeOracleSql(work)
    spark.stop()
  }

  private def writeOracleSql(work: Path): Unit =
    Files.writeString(work.resolve("oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))

  /** Each query twice under its own fresh store root: `s` is the first
    * run (it pays for any store the query builds), `warm_s` the second. */
  private def calibrate(a: Map[String, String], work: Path): Unit = {
    val spark = session(settings(a("cpus").toInt, work))
    val dir = a("inputs")
    val only = a.get("queries").map(_.split(",").toSet)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only.forall(_(q._1))).map {
      case (name, fn) =>
        val root = work.resolve("stores").resolve(name)
        spark.conf.set(StoreRoot.confKey, root.toString)
        val out = work.resolve("ops").resolve(name).toString
        var err = ""
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          try fn(spark, dir).write.mode("overwrite").parquet(out)
          catch { case NonFatal(e) => err = String.valueOf(e.getMessage).take(200) }
          CacheHygiene.release(spark, blocking = true)
          (System.nanoTime() - t0) / 1e9
        }
        StoreRoot.deleteRecursively(root)
        Json.obj("name" -> Json.str(name), "s" -> Json.num(times(0)),
          "warm_s" -> Json.num(times(1)), "error" -> Json.str(err))
    }
    Files.writeString(work.resolve("calibration.json"), Json.arr(rows: _*))
    writeOracleSql(work)
    spark.stop()
  }

  /** A small job, run once after each build under
    * `-XX:ArchiveClassesAtExit`: later JVMs map the classes it loaded from
    * the archive instead of loading them from the jars, which shortens
    * the first session start. */
  private def cds(work: Path): Unit = {
    val spark = session(settings(2, work))
    val out = work.resolve("cds").toString
    spark.range(10000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
    spark.stop()
  }

  private def plans(a: Map[String, String], work: Path): Unit = {
    val spark = session(settings(a("cpus").toInt, work))
    spark.conf.set(StoreRoot.confKey, work.resolve("stores").toString)
    def count(p: LogicalPlan) = (
      p.collect { case w: Window => w }.size, p.collect { case j: Join => j }.size)
    val rows = a("queries").split(",").toSeq.map { q =>
      val df = SparkEntry.queries(q)(spark, a("inputs"))
      val (fw, fj) = count(df.queryExecution.optimizedPlan)
      val (cw, cj) = count(df.groupBy().count().queryExecution.optimizedPlan)
      q -> Json.obj("full_windows" -> fw.toString, "full_joins" -> fj.toString,
        "count_windows" -> cw.toString, "count_joins" -> cj.toString)
    }
    Files.writeString(work.resolve("plans.json"), Json.obj(rows: _*))
    spark.stop()
  }
}

/** One op as the report records it. */
final class OpRec(val id: Int, val pass: Int, val name: String) {
  var startMs, endMs = 0.0
  var error = ""
  val outputs = mutable.ArrayBuffer.empty[(String, String)]
  var bytesWritten, filesWritten = 0L
  var planNodes, exchanges = 0
  var persistedBytes = 0L
  var persistedRdds = 0
  def latencyS: Double = (endMs - startMs) / 1000
  val extra = mutable.LinkedHashMap.empty[String, Double]
}

/** Runs passes of one workload, records ops, and (traced) spans. */
final class Runner(val spark: SparkSession, val tracer: Tracer,
    listener: BenchListener, outRoot: Path, firstOp: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  val passExtra = mutable.ArrayBuffer.empty[Map[String, Double]]
  var inputRecords, inputBytes = 0L
  /** Per pass: the largest heap in use right after a collection the JVM
    * ran on its own during the pass, and the number of those collections. */
  val passHeapMb = mutable.ArrayBuffer.empty[Double]
  val passGcs = mutable.ArrayBuffer.empty[Long]
  /** The op in progress (workloads attach counts to it). */
  var current: OpRec = _

  def loop(w: Workload, seconds: Double): Unit = {
    val r0 = listener.inputRecords
    val b0 = listener.inputBytes
    val startMs = Clock.nowMs
    var pass = 0
    while (pass == 0 || Clock.nowMs - startMs < seconds * 1000) {
      w.prepare(this, pass)
      HeapPeak.startPass()
      val t0 = Clock.nowMs
      w.pass(this, pass)
      passWalls += (Clock.nowMs - t0) / 1000
      val (peak, gcs) = HeapPeak.read()
      passHeapMb += peak / 1048576.0
      passGcs += gcs
      passExtra += w.finish(this, pass)
      pass += 1
    }
    inputRecords = listener.inputRecords - r0
    inputBytes = listener.inputBytes - b0
  }

  def outDir(name: String): Path = outRoot.resolve(s"${current.id}").resolve(name)

  /** One closed-loop op: everything `body` does, then the session's
    * cache release, inside one span; a throw marks the op failed. */
  def op(pass: Int, name: String)(body: => Unit): OpRec = {
    val r = new OpRec(firstOp + ops.size, pass, name)
    ops += r
    current = r
    tracer.op = r.id
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-${r.id}", name, interruptOnCancel = false)
    val w0 = Main.fsBytesWritten
    r.startMs = Clock.nowMs
    tracer.span("op") {
      try body
      catch { case NonFatal(e) => r.error = s"${e.getClass.getName}: ${e.getMessage}".take(400) }
      if (tracer.on) {
        val info = sc.getRDDStorageInfo
        r.persistedRdds = sc.getPersistentRDDs.size
        r.persistedBytes = info.map(i => i.memSize + i.diskSize).sum
      }
      tracer.span("core.release") { CacheHygiene.release(spark, blocking = true) }
    }
    r.endMs = Clock.nowMs
    r.bytesWritten = Main.fsBytesWritten - w0
    if (tracer.on) {
      PerfbenchBus.drain(sc)
      r.filesWritten = Main.filesWritten(spark, r.startMs)
    }
    sc.clearJobGroup()
    r
  }

  /** Build a SparkEntry query's plan and run its full-output action:
    * every column of every row written as parquet for the oracle check. */
  def query(name: String, dir: String): Unit = {
    val df = tracer.span("operators.build") { SparkEntry.queries(name)(spark, dir) }
    if (tracer.on) tracer.span("plans.plan") {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      current.planNodes += plan.collect { case p: SparkPlan => p }.size
      current.exchanges += plan.collect { case e: Exchange => e }.size
    }
    val path = outDir(name)
    tracer.span("operators.exec") { df.write.mode("overwrite").parquet(path.toString) }
    current.outputs += name -> path.toString
  }

  def json(withTrace: Boolean): String = Json.obj(
    "pass_wall_s" -> Json.arr(passWalls.map(Json.num(_)).toSeq: _*),
    "pass_extra" -> Json.arr(passExtra.map(m =>
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)).toSeq: _*),
    "input_records" -> inputRecords.toString, "input_bytes" -> inputBytes.toString,
    "pass_heap_mb" -> Json.arr(passHeapMb.map(Json.num(_)).toSeq: _*),
    "pass_gcs" -> Json.arr(passGcs.map(_.toString).toSeq: _*),
    "ops" -> Json.arr(ops.toSeq.map { o =>
      Json.obj("id" -> o.id.toString, "pass" -> o.pass.toString,
        "name" -> Json.str(o.name),
        "start_ms" -> Json.num(o.startMs), "end_ms" -> Json.num(o.endMs),
        "lat_s" -> Json.num(o.latencyS), "error" -> Json.str(o.error),
        "outputs" -> Json.obj(o.outputs.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
        "bytes_written" -> o.bytesWritten.toString, "files_written" -> o.filesWritten.toString,
        "plan_nodes" -> o.planNodes.toString, "exchanges" -> o.exchanges.toString,
        "persisted_bytes" -> o.persistedBytes.toString,
        "persisted_rdds" -> o.persistedRdds.toString,
        "extra" -> Json.obj(o.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }: _*),
    "spans" -> (if (!withTrace) "[]" else Json.arr(tracer.spans.toSeq.map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs))
    }: _*)))
}

/** The largest heap occupancy right after a garbage collection, from the
  * collectors' own notifications: no collection inside a pass is forced,
  * so the figure is what the workload held when the JVM chose to collect. */
object HeapPeak {
  private var peak, gcs = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized {
          peak = math.max(peak, used)
          gcs += 1
        }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Before a pass, untimed: one forced collection, so that what earlier
    * passes and the set-ups promoted does not count toward this pass's
    * peak; then a pause for its notification, and a reset. */
  def startPass(): Unit = {
    System.gc()
    Thread.sleep(200)
    synchronized { peak = 0; gcs = 0 }
  }

  /** (peak bytes, collections) since the last reset. */
  def read(): (Long, Long) = synchronized { (peak, gcs) }
}

/** Minimal JSON writer (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: String*): String = vs.mkString("[", ",", "]")
}
