package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry, Tables}
import graft.operators.EtlPipeline

/** The benchmark's JVM: one fresh process per measured run.
  *
  * Usage: Harness <run|setup> <queries|etl> <dataDir> <outDir> <opsFile>
  *                <seconds> <trace 0|1>
  *
  * Set-up is `Sessions.build` plus one touch of every input table (file
  * listing and footer schema, no Spark job); `setup` mode stops there. `run` mode then executes the ops listed in `opsFile`
  * in that order through the public entry points:
  *  - queries: `SparkEntry.benchQueries(name)(spark, dir)` is the build
  *    step and a `noop` write is the action. One cold pass, then
  *    [[MinWarmPasses]] warm passes, and more while `seconds` have not
  *    gone by since the cold pass began. Nothing is rerun or discarded
  *    by its spread.
  *  - etl: `EtlPipeline.handle` per landed CSV, one after another, with the
  *    JSON-array sink and a JDBC upsert into an on-disk Derby store; the
  *    first file is cold, the rest warm. Every file listed is handled:
  *    the workload is its file set, so `seconds` does not apply.
  * Output checks run after the timed passes. With trace 1 the `Trace`
  * listeners are registered before the first op. Everything goes to
  * `outDir/records.jsonl`, written when the run ends.
  */
object Harness {
  /** Warm latencies keep falling over the first passes while the JIT
    * settles, so a run takes a fixed number of them whatever the host's
    * speed; more follow only if `seconds` have not yet gone by. */
  val MinWarmPasses = 2

  private val records = scala.collection.mutable.ArrayBuffer[String]()
  private def record(fields: (String, Any)*): Unit = records += Json.obj(fields: _*)

  private def nowMs: Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    System.setProperty("spark.log.level", "ERROR")
    val Array(mode, kind, dataDir, outDir, opsFile, seconds, traceFlag) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val ops = Files.readAllLines(Paths.get(opsFile)).asScala.toSeq.filter(_.nonEmpty)

    val t0 = System.nanoTime()
    val spark = Sessions.build(s"local[$cpus]", cpus.toString, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val jdbcUrl = s"jdbc:derby:$outDir/derby;create=true"
    kind match {
      case "queries" =>
        Option(new File(dataDir).list()).toSeq.flatten.sorted
          .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
          .foreach {
            case "events" => Tables.events(spark, dataDir).schema
            case t        => Tables.table(spark, dataDir, t).schema
          }
      case "etl" => DriverManager.getConnection(jdbcUrl).close()
    }
    val t2 = System.nanoTime()
    record("kind" -> "setup", "end_ms" -> nowMs,
      "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)

    if (mode == "setup") {
      // a set-up sample ends here; stopping the session would only add
      // the wait for its shutdown
      write(outDir)
      Runtime.getRuntime.halt(0)
    }
    val trace = if (traceFlag == "1") Some(new Trace) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    kind match {
      case "queries" => runQueries(spark, dataDir, ops, deadline, trace.nonEmpty)
      case "etl"     => runEtl(spark, outDir, jdbcUrl, ops, trace.nonEmpty)
    }
    trace.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      records ++= t.lines
    }
    spark.stop()
    record("kind" -> "exit", "vmhwm_kb" -> vmHwmKb)
    write(outDir)
  }

  private def write(outDir: String): Unit =
    Files.write(Paths.get(outDir, "records.jsonl"), records.asJava)

  /** One op: a build step and an action, timed apart. A failure is kept
    * with its message; it never ends the run.
    */
  private def timed(name: String, phase: String, pass: Int, traced: Boolean)
      (build: => AnyRef)(action: AnyRef => Unit): Unit = {
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val gc0 = if (traced) gcMs else 0L
    val start = nowMs
    val t0 = System.nanoTime()
    var built = -1.0
    var analysisMs = 0L
    val error =
      try {
        val b = build
        built = (System.nanoTime() - t0) / 1e9
        // a built DataFrame was analyzed by its own QueryExecution, which
        // no listener sees; its tracker still holds the phase
        if (traced) b match {
          case df: org.apache.spark.sql.Dataset[_] => analysisMs =
            df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
          case _ =>
        }
        action(b)
        None
      } catch { case NonFatal(e) =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(3).mkString(" | "))
      }
    val total = (System.nanoTime() - t0) / 1e9
    if (built < 0) built = total
    val fields = Seq("kind" -> "op", "name" -> name, "phase" -> phase,
      "pass" -> pass, "start" -> start, "build_s" -> built, "total_s" -> total,
      "ok" -> error.isEmpty, "error" -> error.orNull)
    val counters =
      if (!traced) Nil
      else Seq(
        "codegen" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0),
        "files" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0),
        "gc_ms" -> (gcMs - gc0), "analysis_ms" -> analysisMs)
    record(fields ++ counters: _*)
  }

  private def runQueries(spark: SparkSession, dir: String, ops: Seq[String],
      deadline: Long, traced: Boolean): Unit = {
    val bench = SparkEntry.benchQueries
    def pass(phase: String, n: Int): Unit = {
      ops.foreach { name =>
        timed(name, phase, n, traced)(bench(name)(spark, dir)) { df =>
          df.asInstanceOf[org.apache.spark.sql.DataFrame]
            .write.format("noop").mode("overwrite").save()
        }
      }
      if (traced) record("kind" -> "pass", "phase" -> phase, "pass" -> n,
        "cached_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum)
    }
    pass("cold", 0)
    var n = 1
    while (n <= MinWarmPasses || System.nanoTime() < deadline) { pass("warm", n); n += 1 }
    // output check, outside the timed passes
    ops.foreach { name =>
      val rows = try bench(name)(spark, dir).count()
        catch { case NonFatal(_) => -1L }
      record("kind" -> "count", "name" -> name, "rows" -> rows)
      SparkEntry.oracleSql.get(name)
        .foreach(sql => record("kind" -> "oracle", "name" -> name, "sql" -> sql))
    }
  }

  private def runEtl(spark: SparkSession, outDir: String, jdbcUrl: String,
      files: Seq[String], traced: Boolean): Unit = {
    val table = "transactions"
    files.zipWithIndex.foreach { case (csv, i) =>
      val out = s"$outDir/json/$i.json"
      val ts = f"2024-08-01 ${i / 3600}%02d:${i / 60 % 60}%02d:${i % 60}%02d"
      // the handler call is the whole op; it has no separate build step
      timed(csv, if (i == 0) "cold" else "warm", i, traced)(csv) { _ =>
        val res = EtlPipeline.handle(spark, csv, out, ts,
          Some((jdbcUrl, table, new Properties())), Some(EtlPipeline.WatchedFolder))
        if (res.statusCode != 200)
          throw new RuntimeException(s"status ${res.statusCode}: " +
            res.error.getOrElse(res.message))
      }
      record("kind" -> "etl_out", "index" -> i, "csv" -> csv, "json" -> out)
    }
    // output check: what the warehouse holds after the last file
    try {
      val conn = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = conn.createStatement().executeQuery(
          s"""SELECT COUNT(*), SUM(CAST("amount" * 100 AS BIGINT)) FROM $table""")
        rs.next()
        record("kind" -> "derby", "rows" -> rs.getLong(1), "cents" -> rs.getLong(2))
      } finally conn.close()
    } catch { case NonFatal(e) =>
      record("kind" -> "derby", "error" -> String.valueOf(e.getMessage))
    }
    try DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // shutdown always throws
  }

  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}
