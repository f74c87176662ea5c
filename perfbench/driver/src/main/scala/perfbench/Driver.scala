package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.etl.{FraudEtlPipeline, Scd2}
import graft.sources.AtomicMart

/** Benchmark driver: one JVM per run, one client thread, closed loop.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`: `mix` (drive SparkEntry queries) or `fraud` (daily ETL);
  *  - `work`: the run's private directory; everything the run writes
  *    goes below it;
  *  - `cpus`: N of `local[N]`;
  *  - `passes`: how many whole passes over the queries (mix) or whole
  *    campaigns of days (fraud) the timed window holds, after one untimed
  *    warm pass;
  *  - `seed`: fixes the per-pass query order (mix);
  *  - `trace`: 1 records spans and Spark events for the per-layer report;
  *  - mix: `data` (table dir), `queries` (comma list);
  *  - fraud: `drops` (generated drop dir with `day_NN/` folders and the
  *    dims).
  *
  * It writes one JSON report to `<work>/report.json` and the outputs
  * the Python side checks under `<work>/check/`.
  */
object Driver {
  private val Mb = 1024.0 * 1024.0
  /** Set-ups per run (the first from JVM start); the median is `setup_s`. */
  private val Setups = 5

  final case class Op(id: Int, name: String, seconds: Double, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val kv = a.split("=", 2); kv(0) -> kv(1) }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val traced = opt.get("trace").contains("1")
    System.setProperty("graft.cells.dir", work.resolve("cells").toString)
    System.setProperty("graft.scratch.dir", work.resolve("scratch").toString)

    // Set-up = JVM start (first time only) + session + warm-up, repeated
    // `Setups` times; the last session runs the workload.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var run: Run = null
    for (_ <- 1 to Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        t0 = System.currentTimeMillis()
      }
      spark = session(cpus, work)
      run = new Run(spark, opt, work, traced)
      run.warmUp()
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }
    val recorder = new Recorder
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val out = new Json
    out.arr("setup_s", setupS)
    run.capture()
    run.warmPass()
    out.num("window_s", run.timed(opt("passes").toInt))
    out.num("retained_heap_mb", retainedHeapMb())
    out.arr("ops", run.ops.map(o => Json.obj(
      "id" -> o.id, "name" -> o.name, "seconds" -> o.seconds, "error" -> o.error)))
    out.arr("stored_bytes", run.storedBytes)
    out.arr("states", run.states)
    spark.stop()
    out.arr("spans", run.spans.all.map(s => spanJson(s, Option.when(traced)(recorder))))
    Files.writeString(work.resolve("report.json"), out.render)
  }

  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap still referenced after full collections. Spark's
    * ContextCleaner frees broadcast, shuffle and RDD state only after a
    * collection has found its owner dead, so collect until the figure
    * settles (at most five rounds). */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(300); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb }
    var last = used()
    var now = used()
    var rounds = 2
    while (rounds < 5 && math.abs(now - last) > 0.01 * last) {
      last = now; now = used(); rounds += 1
    }
    now
  }

  private def spanJson(s: Span, rec: Option[Recorder]): Map[String, Any] = {
    val base = Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
      "name" -> s.name, "seconds" -> s.seconds)
    rec.fold(base)(r => base ++ spanWork(s, r.jobsIn(s.startMs, s.endMs)))
  }

  /** The Spark work charged to a span: every job submitted in its window. */
  private def spanWork(s: Span, js: Seq[Recorder#Job]): Map[String, Any] = {
    // time inside the span during which no Spark job was running
    val busyMs = js.map(j => (math.max(j.submitMs, s.startMs), math.min(j.endMs, s.endMs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        val from = math.max(a, reach)
        if (b > from) (acc + (b - from), b) else (acc, reach)
      }._1
    Map("driver_only_s" -> math.max(0.0, s.seconds - busyMs / 1000.0),
      "jobs" -> js.size, "broadcast_jobs" -> js.count(_.broadcast),
      "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
      "failed_tasks" -> js.map(_.failedTasks).sum,
      "task_run_s" -> js.map(_.runMs).sum / 1000.0,
      "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "task_gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "task_wait_s" -> js.map(_.waitMs).sum / 1000.0,
      "input_bytes" -> js.map(_.inputBytes).sum,
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum,
      "shuffle_read_bytes" -> js.map(_.shuffleReadBytes).sum,
      "spill_bytes" -> js.map(_.spillBytes).sum,
      "pinned_bytes" -> js.map(_.pinnedBytes).sum)
  }
}

/** The workload half of a run: warm-up, timed loop, output capture. */
final class Run(spark: SparkSession, opt: Map[String, String], work: Path,
                traced: Boolean) {
  import Driver.Op

  val spans = new Spans
  val ops = mutable.ArrayBuffer.empty[Op]
  val storedBytes = mutable.ArrayBuffer.empty[Long]
  val states = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val mode = opt("mode")
  private val TimeoutS = 120L
  private var opSeq = 0

  // ---- mix -------------------------------------------------------------
  private lazy val data = opt("data")
  private lazy val queries = opt("queries").split(",").toSeq

  // ---- fraud -----------------------------------------------------------
  private lazy val drops = Paths.get(opt("drops"))
  private lazy val days: Seq[Path] = Files.list(drops).iterator().asScala
    .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("day_"))
    .toSeq.sortBy(_.getFileName.toString)
  private lazy val clients = spark.read.parquet(drops.resolve("clients.parquet").toString)
  private lazy val accounts = spark.read.parquet(drops.resolve("accounts.parquet").toString)

  def warmUp(): Unit = mode match {
    case "mix" => guarded("warm-q1_agg") {
      SparkEntry.queries("q1_agg")(spark, data).write.format("noop").mode("overwrite").save()
    }
    case "fraud" => guarded("warm-dims") { clients.count(); accounts.count() }
  }

  /** Runs the timed passes / campaigns; returns the length of the timed
    * window. The amount of work is fixed, so a faster program finishes
    * sooner rather than doing more. */
  def timed(passes: Int): Double = {
    val t0 = System.nanoTime()
    for (pass <- 0 until passes) {
      mode match {
        case "mix" => order(pass).foreach(query)
        case "fraud" => campaign(pass)
      }
      if (traced) storedBytes += spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed work before the timed window: two passes over the queries,
    * each in its own seeded order (mix), or the first two full-size days
    * (fraud: SCD2 init, then merge), so the timed work starts with
    * compiled code. On 4 cores a mix pass still runs ~10% faster the
    * second time than the first, and a few percent faster after that. */
  def warmPass(): Unit = mode match {
    case "mix" => Seq(-1, -2).foreach(p => order(p).foreach(q => guarded(s"warm-$q") {
      SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
    }))
    case "fraud" =>
      val layout = freshLayout(work.resolve("warm"))
      days.take(2).foreach { day =>
        copyDay(day, Paths.get(layout.dropDir))
        guarded(s"warm-${day.getFileName}") {
          FraudEtlPipeline.runDaily(spark, layout, clients, accounts, FraudEtlPipeline.atomicPublish)
          AtomicMart.read(spark, layout.martPath).collect()
        }
      }
  }

  private def order(pass: Int): Seq[String] =
    new Random(opt("seed").toLong * 1000003L + pass).shuffle(queries)

  /** Mix: writes each query's result once for the output check, with its
    * DuckDB twin, before the timed window; this pass also warms every
    * query and fills the session caches. The fraud outputs are captured
    * during the first campaign. */
  def capture(): Unit = if (mode == "mix") {
    queries.foreach { q =>
      guarded(s"capture-$q") {
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(work.resolve("check").resolve(q).toString)
      }
    }
    // the DuckDB twins, with the learned-cell tables this run exported
    val twins = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(sql => q -> sql
      .replace("__GRAFT_CELLS__", SparkEntry.cellsExportPath(data))
      .replace("__GRAFT_SEMCELLS__", SparkEntry.semCellsExportPath(data)))).toMap
    Files.writeString(work.resolve("check").resolve("oracle_sql.json"), Json.value(twins))
  }

  private def query(name: String): Unit = op(name, "query") { id =>
    val df = spans(id, opSeq, "construct", name)(_ => SparkEntry.queries(name)(spark, data))
    if (traced) spans(id, opSeq, "plan", name)(_ => df.queryExecution.executedPlan)
    spans(id, opSeq, "exec", name)(_ => df.write.format("noop").mode("overwrite").save())
  }

  private def campaign(pass: Int): Unit = {
    val layout = freshLayout(work.resolve(s"campaign_$pass"))
    days.zipWithIndex.foreach { case (day, i) =>
      copyDay(day, Paths.get(layout.dropDir))
      var date = ""
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      val ok = op(day.getFileName.toString, "day") { id =>
        val publish: (DataFrame, String, String) => Unit = (mart, path, d) =>
          spans(id, opSeq, "publish", d)(_ => FraudEtlPipeline.atomicPublish(mart, path, d))
        date = spans(id, opSeq, "run_daily", day.getFileName.toString) { _ =>
          FraudEtlPipeline.runDaily(spark, layout, clients, accounts, publish)
        }.getOrElse(throw new IllegalStateException(s"no drop found for ${day.getFileName}"))
        val df = spans(id, opSeq, "construct", date) { _ =>
          AtomicMart.read(spark, layout.martPath).filter(col("batch_date") === date)
        }
        if (traced) spans(id, opSeq, "plan", date)(_ => df.queryExecution.executedPlan)
        rows = spans(id, opSeq, "exec", date)(_ => df.collect())
      }
      if (ok && pass == 0) {
        val check = Files.createDirectories(work.resolve("check"))
        writeRows(check.resolve(f"day_$i%02d_mart.tsv"), rows, Seq("event_dt_us",
          "client_key", "passport", "fio", "phone", "segment", "rule", "batch_date"))
        writeRows(check.resolve(f"day_$i%02d_terminals.tsv"),
          Scd2.currentView(spark.read.parquet(layout.historyPath)).collect(),
          Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address"))
      }
      if (ok && traced) states += martState(layout, i)
    }
  }

  /** On-disk state after a day: mart data files and bytes, SCD2 history
    * rows and live mart rows (read outside the timed spans). */
  private def martState(layout: FraudEtlPipeline.Layout, day: Int): Map[String, Any] = {
    val files = Files.walk(Paths.get(layout.martPath, "data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    Map("day" -> day, "mart_files" -> files.size,
      "mart_bytes" -> files.map(Files.size(_)).sum,
      "history_rows" -> spark.read.parquet(layout.historyPath).count(),
      "mart_rows" -> AtomicMart.read(spark, layout.martPath).count())
  }

  /** One timed operation on a watchdog thread inside its own job group;
    * a failure or timeout is recorded, never thrown. */
  private def op(name: String, kind: String)(body: Int => Unit): Boolean = {
    opSeq += 1
    val seq = opSeq
    val t0 = System.nanoTime()
    val err = spans(0, seq, kind, name)(id => attempt(s"pb-$seq", name)(body(id)))
    ops += Op(seq, name, (System.nanoTime() - t0) / 1e9, err)
    err.isEmpty
  }

  private def guarded(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err = attempt(s"pb-$name", name)(body)
    System.err.println(f"[perfbench] $name ${(System.nanoTime() - t0) / 1e9}%.3f s $err")
  }

  private def attempt(group: String, name: String)(body: => Unit): String = {
    @volatile var failure: Throwable = null
    val sc = spark.sparkContext
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        body
      } catch { case t: Throwable => failure = t }
      finally sc.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(TimeoutS * 1000L)
    if (worker.isAlive) {
      sc.cancelJobGroup(group)
      worker.interrupt()
      worker.join(10000L)
      s"timed out after ${TimeoutS}s"
    } else if (failure != null)
      Option(failure.getMessage).getOrElse(failure.getClass.getName).linesIterator.take(1).mkString
    else ""
  }

  private def freshLayout(root: Path): FraudEtlPipeline.Layout = {
    val drop = Files.createDirectories(root.resolve("drop"))
    FraudEtlPipeline.Layout(drop.toString, root.resolve("archive").toString,
      root.resolve("terminals_hist").toString, root.resolve("mart").toString)
  }

  private def copyDay(from: Path, to: Path): Unit =
    Files.list(from).iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))

  private def writeRows(path: Path, rows: Array[org.apache.spark.sql.Row],
                        cols: Seq[String]): Unit =
    Files.write(path, rows.map(r => cols.map(c => Option(r.getAs[Any](c))
      .fold("\\N")(_.toString)).mkString("\t")).toSeq.asJava)
}

/** Minimal JSON writer for the run report. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[(String, Any)]
  def num(k: String, v: Double): Unit = fields += k -> v
  def arr(k: String, v: Iterable[Any]): Unit = fields += k -> v
  def render: String = Json.value(fields.toSeq.toMap)
}

object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
