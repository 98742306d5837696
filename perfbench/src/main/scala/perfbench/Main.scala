package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.api.EnergyApi
import graft.core.{EnergyAnalytics, EnergyIngest}
import graft.sources.SnapshotTable

/** Benchmark driver: one JVM, one `local[cpus]` session configured by
  * `Tables.configure`, one client thread issuing operations in a closed
  * loop. Reads a run description written by run.py (inputs already
  * generated from the seed) and writes raw timings, request results for
  * the correctness check and, when traced, the span tree.
  *
  * Usage: Main <run.json>
  */
object Main {
  private val mapper = new ObjectMapper()

  /** One timed operation of the measured loop. */
  final case class Op(pass: Int, name: String, kind: String, seconds: Double,
                      buildSeconds: Double, error: Option[String], tick: Int = -1)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val work = cfg.get("work").asText
    val cpus = cfg.get("cpus").asInt
    val seconds = cfg.get("seconds").asDouble
    val traced = cfg.get("trace").asBoolean
    val result = mapper.createObjectNode()
    quietLogs()

    val session = () => Tables.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val workload: Workload =
      if (cfg.get("kind").asText == "gate") new Gate(cfg, work)
      else new Energy(cfg, work)

    // Set-up is repeated and the median reported: session start plus
    // the workload's own set-up, on a fresh SparkContext each time.
    val setup = (0 until cfg.get("setup_reps").asInt).map { rep =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val spark = session()
      workload.setUp(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = session()
    val t0 = System.nanoTime()
    workload.warmUp(spark)
    result.put("warmup_s", (System.nanoTime() - t0) / 1e9)

    // Closed loop: whole passes until `seconds` have gone by. A traced
    // run alternates untraced and traced passes, to price the tracing.
    val ops = Vector.newBuilder[Op]
    val passes = mapper.createArrayNode()
    val gcBefore = gcSeconds()
    val loopStart = System.nanoTime()
    var tracer: Option[Tracer] = None
    var pass = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while ((pass < (if (traced) 3 else 1) || elapsed < seconds) &&
        !workload.exhausted) {
      if (traced && pass == 1) tracer = Some(new Tracer(spark))
      val on = tracer.filter(_ => pass % 2 == 1)
      val p0 = System.nanoTime()
      val done = on.fold(workload.pass(spark, pass, None))(
        t => t.span("pass", s"pass $pass")(workload.pass(spark, pass, on)))
      ops ++= done
      passes.addObject().put("wall_s", (System.nanoTime() - p0) / 1e9)
        .put("traced", on.isDefined).put("ops", done.size)
      pass += 1
    }
    finish()

    def finish(): Unit = {
      tracer.foreach(_.close())
      result.put("gc_s", gcSeconds() - gcBefore)
      result.put("heap_retained_mb", retainedHeapMb())
      val setupArr = result.putArray("setup_s")
      setup.foreach(setupArr.add(_))
      result.set[JsonNode]("passes", passes)
      val opsArr = result.putArray("ops")
      ops.result().foreach { o =>
        val n = opsArr.addObject().put("pass", o.pass).put("name", o.name)
          .put("kind", o.kind).put("s", o.seconds).put("build_s", o.buildSeconds)
          .put("tick", o.tick)
        o.error.foreach(n.put("error", _))
      }
      workload.report(spark, result)
      tracer.foreach(t => t.toJson(result.putArray("spans")))
      mapper.writeValue(new File(s"$work/result.json"), result)
      spark.stop()
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Driver heap still reachable after full collections: what a pass
    * leaves behind (leaked persists, cached plans, listener state).
    */
  private def retainedHeapMb(): Double = {
    // the context cleaner frees shuffle and broadcast state only after
    // a collection finds their handles unreachable, so collect, let it
    // run, and collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def quietLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setRootLevel(Level.ERROR)
  }

  /** Times one operation; `build` returns what `execute` consumes. The
    * build step is where the engine's eager actions run, so it is kept
    * apart from execution.
    */
  def timeOp[A](pass: Int, name: String, kind: String, tracer: Option[Tracer])(
      build: => A)(execute: A => Unit): Op = {
    def within[T](k: String, n: String)(body: => T): T =
      tracer.fold(body)(_.span(k, n)(body))
    val t0 = System.nanoTime()
    var t1 = t0
    val error = try {
      within("op", name) {
        val a = within("build", name)(build)
        t1 = System.nanoTime()
        within("execute", name)(execute(a))
      }
      None
    } catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val t2 = System.nanoTime()
    if (error.isDefined) t1 = t2
    Op(pass, name, kind, (t2 - t0) / 1e9, (t1 - t0) / 1e9, error)
  }

  def rowsJson(arr: ArrayNode, rows: Array[Row]): Unit = rows.foreach { r =>
    val a = arr.addArray()
    (0 until r.length).foreach { i =>
      r.get(i) match {
        case null => a.addNull()
        case d: java.lang.Double => a.add(d.doubleValue)
        case l: java.lang.Long => a.add(l.longValue)
        case n: java.lang.Integer => a.add(n.intValue)
        case b: java.lang.Boolean => a.add(b.booleanValue)
        case v => a.add(v.toString)
      }
    }
  }
}

trait Workload {
  def setUp(spark: SparkSession, rep: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, pass: Int, tracer: Option[Tracer]): Seq[Main.Op]
  /** True when the inputs for another pass have run out. */
  def exhausted: Boolean = false
  def report(spark: SparkSession, out: ObjectNode): Unit
}

/** Gate queries: each execution is `SparkEntry.queries(name)(spark, dir)`
  * (build, including any eager actions) then a full execution into the
  * `noop` sink, with the cache cleared before each.
  */
final class Gate(cfg: JsonNode, work: String) extends Workload {
  private val dir = cfg.get("data").asText
  private val names = cfg.get("queries").asScala.map(_.asText).toVector
  private var warmFailures = Map.empty[String, String]

  def setUp(spark: SparkSession, rep: Int): Unit =
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
      .foreach(load => load(spark, dir).schema)

  /** The warm-up executes each query once and keeps the result (as
    * parquet) for the oracle check after the run.
    */
  def warmUp(spark: SparkSession): Unit = names.foreach { n =>
    spark.catalog.clearCache()
    try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$work/results/$n")
    catch { case e: Throwable =>
      warmFailures += n -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  def pass(spark: SparkSession, pass: Int, tracer: Option[Tracer]): Seq[Main.Op] =
    names.map { n =>
      spark.catalog.clearCache()
      Main.timeOp(pass, n, "query", tracer)(SparkEntry.queries(n)(spark, dir)) {
        _.write.format("noop").mode("overwrite").save()
      }
    }

  def report(spark: SparkSession, out: ObjectNode): Unit = {
    val o = out.putObject("warm_failures")
    warmFailures.foreach { case (k, v) => o.put(k, v) }
    val sql = out.putObject("oracle_sql")
    names.foreach(n => sql.put(n, SparkEntry.oracleSql(n)))
  }
}

/** The paper's pipeline against one snapshot table: each tick lands a
  * blob (`EnergyIngest.ingest` -> `SnapshotTable.append`), every
  * `merge_every`-th tick re-delivers an earlier blob through
  * `SnapshotTable.merge` on `id`, and then issues the tick's request mix
  * against the latest snapshot, collecting each result.
  */
final class Energy(cfg: JsonNode, work: String) extends Workload {
  private val e = cfg.get("energy")
  private val blobs = e.get("blobs").asScala.map(_.asText).toVector
  private val requests = e.get("requests").asScala.toVector
  private val ticksPerPass = e.get("ticks_per_pass").asInt
  private val mergeEvery = e.get("merge_every").asInt
  private val mergeLag = e.get("merge_lag").asInt
  private var table = ""
  private var tick = 0
  private var committedBytes = 0L
  private var landedBytes = 0L
  private val results = new ObjectMapper().createArrayNode()

  private def tableAt(rep: Int) = s"$work/tables/readings_$rep"

  private def good(spark: SparkSession, path: String): DataFrame =
    EnergyIngest.ingest(spark, path)._1

  def setUp(spark: SparkSession, rep: Int): Unit = {
    table = tableAt(rep)
    SnapshotTable.append(good(spark, e.get("preload").asText), table)
    SnapshotTable.read(spark, table).count()
  }

  /** Every operation type once, on the first set-up's table (a
    * throwaway), so first-call costs stay out of the measured loop.
    */
  def warmUp(spark: SparkSession): Unit = {
    val scratch = tableAt(0)
    SnapshotTable.append(good(spark, e.get("warm").asText), scratch)
    SnapshotTable.merge(spark, scratch, good(spark, e.get("warm").asText), "id")
    requests.head.asScala.foreach(r => request(spark, scratch, r).collect())
  }

  private def dirBytes(path: String): Long =
    Files.walk(Paths.get(path)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  override def exhausted: Boolean =
    tick + ticksPerPass > blobs.size

  def pass(spark: SparkSession, pass: Int, tracer: Option[Tracer]): Seq[Main.Op] =
    (0 until ticksPerPass).flatMap { _ =>
      val t = tick
      tick += 1
      val commits = Seq("append" -> blobs(t)) ++
        (if ((t + 1) % mergeEvery == 0) Seq("merge" -> blobs(t - mergeLag)) else Nil)
      val commitOps = commits.map { case (kind, path) =>
        val before = if (tracer.isDefined) dirBytes(table) else 0L
        val op = Main.timeOp(pass, kind, kind, tracer)(good(spark, path)) { df =>
          if (kind == "append") SnapshotTable.append(df, table)
          else SnapshotTable.merge(spark, table, df, "id")
        }
        if (tracer.isDefined) {
          committedBytes += dirBytes(table) - before
          landedBytes += new File(path).length
        }
        op
      }
      val reqOps = requests(t).asScala.toSeq.map { r =>
        val kind = r.get("op").asText
        var rows: Array[Row] = Array.empty
        val op = Main.timeOp(pass, kind, "request", tracer)(
          tracer.fold(SnapshotTable.read(spark, table))(
            _.span("read", "snapshot")(SnapshotTable.read(spark, table)))) { snap =>
          rows = request(spark, snap, r).collect()
        }
        val rec = results.addObject().put("tick", t).put("landed", t + 1)
        rec.set[JsonNode]("request", r)
        Main.rowsJson(rec.putArray("rows"), rows)
        op.copy(tick = t)
      }
      commitOps ++ reqOps
    }

  private def request(spark: SparkSession, table: String, r: JsonNode): DataFrame =
    request(spark, SnapshotTable.read(spark, table), r)

  private def request(spark: SparkSession, readings: DataFrame, r: JsonNode): DataFrame = {
    def s(k: String) = r.get(k).asText
    r.get("op").asText match {
      case "by_home" => EnergyApi.getEnergyByHomeID(readings, s("home"))
      case "home_vs_avg" => EnergyAnalytics.homeVsGlobalAvg(readings, s("home"))
      case "kpis" => EnergyAnalytics.kpis(readings, "EnergyConsumption", "HouseholdSize")
      case "topk" => EnergyAnalytics.topKCategories(readings, "HomeID",
        "EnergyConsumption", r.get("k").asInt)
      case "season_totals" => EnergyAnalytics.sumBy(readings, col("Season"),
        "Season", "EnergyConsumption")
      case "anomalies_home" => EnergyApi.detectAnomalies(readings, Some(s("home")),
        Some(s("start")), Some(s("end")))
      case "forecast" => EnergyApi.forecast(spark, r.get("days").asInt, Some(s("home")))
    }
  }

  /** Final-snapshot facts for the check, taken after the timed loop. */
  def report(spark: SparkSession, out: ObjectNode): Unit = {
    val snap = SnapshotTable.read(spark, table)
    val fin = out.putObject("final")
    fin.put("landed", tick)
    fin.put("live_files", SnapshotTable.filesForRead(table).size)
    fin.put("committed_bytes", committedBytes).put("landed_bytes", landedBytes)
    Main.rowsJson(fin.putArray("kpis"),
      EnergyAnalytics.kpis(snap, "EnergyConsumption", "HouseholdSize").collect())
    Main.rowsJson(fin.putArray("per_home"),
      EnergyAnalytics.totalsByCategory(snap, "HomeID", "EnergyConsumption").collect())
    out.set[JsonNode]("requests", results)
  }
}
