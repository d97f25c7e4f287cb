package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}

/** Closed-loop operator benchmark, one client.
  *
  *   Harness <out.json> <sfDir> <checkSfDir> <panelFile> <orderFile> <seconds> <trace 0|1>
  *       <resultsDir>
  *
  * Builds the session as `graft.Bench` does and calls the operators of
  * `panelFile`: one cold round, then warm calls (see `Run.execute`). A call
  * is timed from `SparkEntry.queries(name)(spark, sf)` through a `noop`
  * write, which computes every row and column of the result. Untimed, it
  * then writes each operator's last result for the oracle check, checks
  * session hygiene around every call and runs the `graft.Bench` calibration
  * fold; with tracing it also self-tests the timed action and times the
  * `graft.Tables` loaders.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.toList match {
    case out :: sfDir :: checkSf :: panelFile :: orderFile :: seconds :: trace :: results :: Nil =>
      def lines(f: String) = Files.readAllLines(Paths.get(f)).toArray(Array.empty[String])
        .toSeq.map(_.trim).filter(_.nonEmpty)
      val (spark, setupS) = session(sfDir)
      // wall seconds of each harness phase, timed or not
      val phases = mutable.LinkedHashMap.empty[String, Double]
      def timed[T](phase: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally phases(phase) = (System.nanoTime() - t0) / 1e9
      }
      val res = timed("loop")(new Run(spark, sfDir, lines(panelFile), lines(orderFile),
        seconds.toDouble, trace == "1").execute())
      val check = timed("write_results")(writeResults(spark, res.lastResult, Paths.get(results)))
      val (selfTest, tables) =
        if (trace == "1") (timed("self_test")(SelfTest(spark, checkSf)),
          timed("tables")(tableLoads(spark, sfDir)))
        else (Map.empty, Nil)
      val calib = timed("calib")(calibrate(spark))
      write(Paths.get(out), res.report ++ Map(
        "setup_s" -> setupS, "result_errors" -> check, "self_test" -> selfTest,
        "tables" -> tables, "calib_s" -> calib, "peak_rss_mb" -> peakRssMb(),
        "heap_mb" -> Run.mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted),
        "nproc" -> cpus, "phase_s" -> phases))
      spark.stop()
    case _ =>
      System.err.println("usage: Harness <out> <sfDir> <checkSfDir> <panelFile> <orderFile> " +
        "<seconds> <trace> <resultsDir>")
      sys.exit(2)
  }

  private def write(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writeValueAsString(v))

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session exactly as `graft.Bench` builds and warms it; returns the
    * seconds from JVM start until it is ready for the first operator. */
  private def session(sfDir: String): (SparkSession, Double) = {
    System.setProperty("derby.stream.error.file", s"${graft.ops.Scratch.dir}/derby.log")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation", graft.ops.Scratch.ckptDir)
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", s"${graft.ops.Scratch.dir}/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${graft.ops.Scratch.dir}/metastore_db;create=true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).repartition(2).groupBy(org.apache.spark.sql.functions.col("id") % 10)
      .count().collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - started) / 1000.0)
  }

  /** The timed action: a `noop` write consumes every row of the full output
    * schema, so no column can be pruned away as under `count()`. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed: write each operator's last result where the oracle check
    * reads it, exactly as `graft.Verify` writes it. */
  private def writeResults(spark: SparkSession, dfs: Map[String, DataFrame],
      dir: Path): Map[String, String] = {
    Files.createDirectories(dir)
    // untimed, so the writes run side by side: each is a short job on few cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val writes = dfs.toSeq.map { case (name, df) =>
      Future(Try(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"))
        .failed.toOption.map(e => name -> Run.message(e)))
    }
    val errors = try Await.result(Future.sequence(writes), Duration.Inf).flatten.toMap
      finally pool.shutdown()
    val sql = SparkEntry.oracleSql.filter { case (k, _) => dfs.contains(k) }
    write(dir.resolve("oracle_sql.json"), sql)
    errors
  }

  /** One call of each `graft.Tables` loader per repetition, traced. */
  private def tableLoads(spark: SparkSession, sfDir: String): Seq[Map[String, Any]] = {
    val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    val tracer = new Tracer(spark)
    tracer.start()
    try for (rep <- 1 to 3; (name, load) <- loaders) yield {
      tracer.reset()
      val t0 = System.nanoTime()
      load(spark, sfDir)
      val ms = (System.nanoTime() - t0) / 1e6
      Map("table" -> name, "rep" -> rep, "ms" -> ms, "jobs" -> tracer.take().jobs)
    } finally tracer.stop()
  }

  /** `graft.Bench`'s fixed-work calibration fold, measured as Bench
    * measures it: one run to compile and JIT it, then the median of three.
    * Its time tracks the host's current speed, not the engine's. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 1200000000L, 1, 32)
        .selectExpr("sum((id * 2654435761) % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq(once(), once(), once()).sorted.apply(1)
  }

  private def peakRssMb(): Double = Try {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }.getOrElse(-1.0)
}

/** Session state an operator call must leave as it found it. */
final case class SessionState(confs: Map[String, String], objects: Set[String]) {
  def changesTo(after: SessionState): Seq[String] = {
    val keys = confs.keySet ++ after.confs.keySet
    keys.toSeq.filter(k => confs.get(k) != after.confs.get(k)).sorted.map("conf:" + _) ++
      (objects -- after.objects).toSeq.sorted.map("dropped " + _) ++
      (after.objects -- objects).toSeq.sorted.map("created " + _)
  }
}

object SessionState {
  def of(spark: SparkSession): SessionState = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    // The embedded metastore is created on first use, by the catalog or by
    // the global temp view manager. Until an operator has used it, no table
    // or global temp view can exist, and listing them would create it here.
    val metastore = Files.exists(Paths.get(graft.ops.Scratch.dir, "metastore_db"))
    val global = if (!metastore) Nil else
      cat.globalTempViewManager.listViewNames("*").map(cat.globalTempDatabase + "." + _)
    val tables = if (!metastore) Nil else cat.listDatabases().flatMap { db =>
      cat.listTables(db, "*", includeLocalTempViews = false).map(t => s"table:$db.${t.table}")
    }
    val views = (cat.listLocalTempViews("*").map(_.table) ++ global).map("view:" + _)
    SessionState(spark.conf.getAll, (views ++ tables).toSet)
  }
}

final class Run(spark: SparkSession, sfDir: String, panel: Seq[String], order: Seq[String],
    seconds: Double, trace: Boolean) {
  private val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val leaks = mutable.LinkedHashMap.empty[String, Seq[String]]
  private val last = mutable.LinkedHashMap.empty[String, DataFrame]
  private val tracer = new Tracer(spark)
  private var warmS = 0.0
  private var rounds = 0

  def lastResult: Map[String, DataFrame] = last.toMap

  /** The cold round runs the panel in its listed order, so each operator's
    * first call sits at the same place in every run. Warm rounds then run
    * `order` until there are at least two and `seconds` of warm call time
    * have passed. Whole rounds give every operator the same number of warm
    * calls, so the seed cannot change which operators the latency
    * percentiles weigh. A traced run alternates untraced and traced warm
    * rounds. */
  def execute(): Run = {
    round(panel, "cold", traced = trace)
    while (rounds < 3 || warmS < seconds) round(order, "warm", traced = trace && rounds % 2 == 0)
    this
  }

  private def round(ops: Seq[String], kind: String, traced: Boolean): Unit = {
    if (traced) tracer.start()
    try ops.foreach(op => call(op, kind, traced))
    finally if (traced) tracer.stop()
    rounds += 1
  }

  private def call(name: String, kind: String, traced: Boolean): Unit = {
    val before = SessionState.of(spark)
    val scratchBefore = if (traced) Run.scratchBytes() else 0L
    if (traced) tracer.reset()
    var error: String = null
    val gc0 = Run.gcMs()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = phase(traced, "build")(SparkEntry.queries(name)(spark, sfDir))
      t1 = System.nanoTime()
      phase(traced, "action")(Harness.materialize(df))
      last(name) = df
    } catch { case e: Throwable => error = Run.message(e) }
    val t2 = System.nanoTime()
    val gcMs = Run.gcMs() - gc0
    val stats = if (traced) Some(tracer.take().toMap) else None
    val changed = before.changesTo(SessionState.of(spark))
    if (changed.nonEmpty) leaks(name) = leaks.getOrElse(name, Nil) ++ changed
    // Untimed: a full collection leaves only what the engine still holds
    // (memoized results, cached blocks, listener state), and starts the next
    // call on an empty young generation whatever operator ran before it.
    System.gc()
    val liveHeap = Run.mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val latency = (t2 - t0) / 1e9
    if (kind == "warm") warmS += latency
    calls += Map(
      "op" -> name, "round" -> rounds, "kind" -> kind, "traced" -> traced,
      "ok" -> (error == null), "error" -> error, "latency_s" -> latency,
      "build_s" -> (if (error == null) (t1 - t0) / 1e9 else null),
      "action_s" -> (if (error == null) (t2 - t1) / 1e9 else null),
      "gc_ms" -> gcMs, "live_heap_mb" -> liveHeap, "state_changes" -> changed,
      "scratch_bytes" -> (if (traced) Run.scratchBytes() - scratchBefore else null),
      "stats" -> stats.orNull)
  }

  private def phase[T](traced: Boolean, name: String)(body: => T): T =
    if (traced) tracer.phase(name)(body) else body

  def report: Map[String, Any] = Map(
    "ops" -> order, "rounds" -> rounds, "warm_s" -> warmS, "calls" -> calls.toList,
    "leaks" -> leaks.toMap, "scratch_total_bytes" -> Run.scratchBytes())
}

object Run {
  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Milliseconds the JVM's collectors have spent so far. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Bytes the engine has staged in its per-JVM scratch directories. */
  def scratchBytes(): Long = Seq(graft.ops.Scratch.dir, graft.ops.Scratch.ckptDir)
    .map(d => Try {
      val s = Files.walk(Paths.get(d))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close()
    }.getOrElse(0L)).sum
}

/** Asserts that the timed action computes every output column: the plan of
  * the `noop` write must project the operator's full schema, while the plan
  * of `count()` on the same frame must not (the pruning the action avoids).
  * Projection-heavy operators make the difference large. */
object SelfTest {
  val Op = "fn_bech32_check"

  def apply(spark: SparkSession, sfDir: String): Map[String, Any] = Map(Op -> Try {
    val df = SparkEntry.queries(Op)(spark, sfDir)
    val cols = df.columns.toSeq
    val written = capture(spark)(Harness.materialize(df)).flatMap(
      _.executedPlan.collectFirst { case w: V2TableWriteExec => w.query.output.map(_.name) })
      .headOption
    val counted = capture(spark)(df.count()).flatMap(
      _.optimizedPlan.collectFirst { case a: Aggregate => a.child.output.size }).headOption
    Map[String, Any]("ok" -> (written.contains(cols) && counted.exists(_ < cols.size)),
      "columns" -> cols.size, "materialized_columns" -> written.map(_.size).getOrElse(-1),
      "count_columns" -> counted.getOrElse(-1))
  }.recover { case e => Map[String, Any]("ok" -> false, "error" -> Run.message(e)) }.get)

  private def capture(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; PerfbenchBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }
}
