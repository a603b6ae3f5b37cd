package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: runs one workload over inputs that
  * `perfbench/run.py` generated, times every call into the engine, and
  * writes what it saw under `<work>/out/`:
  *
  *   - `oracle_sql.json`: the DuckDB oracle text of every face in the plan;
  *   - `ops.jsonl`: one record per timed operation (span, parent, timing,
  *     outcome and, in a traced run, its layer counters);
  *   - `results/<key>.json`: the rows of the first run of each distinct
  *     operation, for the DuckDB comparison (every later run of it must
  *     return the same rows);
  *   - `summary.json`: set-up phases, heap and GC figures.
  *
  * Protocol: after writing `oracle_sql.json` the harness prints
  * `ORACLE_SQL_READY` and waits for one stdin line, so the oracle results
  * are computed before the engine starts. It prints `DONE` at the end.
  *
  * Usage: `Harness <workload> <workDir> <trace 0|1>`; the amount of work
  * is in the plan.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, traceArg) = args
    val work = new File(workDir)
    val out = new File(work, "out")
    out.mkdirs()
    val plan = Json.read(new File(work, "plan.json"))
    val faces = strings(plan.get("faces"))
    Json.write(new File(out, "oracle_sql.json"),
      Json.obj(faces.distinct.map(f => f -> Json.str(graft.SparkEntry.oracleSql(f))): _*))
    println("ORACLE_SQL_READY")
    System.out.flush()
    scala.io.StdIn.readLine()

    val tSession0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession0) / 1e9

    val rec = new Recorder(workload, str(plan.get("seed")), out, spark.sparkContext)
    val ctx = Ctx(spark, plan, work, rec,
      if (traceArg == "1") Some(new Tracer(spark)) else None)
    val summary = mutable.LinkedHashMap[String, String]("session_s" -> Json.num(sessionS))
    workload match {
      case "agent_sql" => AgentSql.run(ctx, summary)
      case "store_ingest" => StoreIngest.run(ctx, summary)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    summary("retained_heap_mb") = Json.num(retainedHeapMb())
    rec.flush()
    Json.write(new File(out, "summary.json"), Json.obj(summary.toSeq: _*))
    spark.stop()
    println("DONE")
    System.out.flush()
  }

  final case class Ctx(spark: SparkSession, plan: java.util.Map[String, Object],
                       work: File, rec: Recorder, tracer: Option[Tracer]) {
    def path(key: String): String = new File(work, str(plan.get(key))).getAbsolutePath

    /** The timed section. An untraced run runs `section(0)` once. A traced
      * run runs sections 0 and 2 untraced around section 1 with the
      * listeners installed, and records traced wall ÷ the mean untraced
      * wall, so warm-up drift between the repetitions cancels. A workload
      * gives each section its own fresh inputs where a repeat would hit a
      * cache the first run filled. GC time and peak heap cover the section
      * the metrics come from: the only one untraced, the traced one traced.
      */
    def timed(summary: mutable.Map[String, String])(section: Int => Double): Unit = {
      summary("timed_start_ms") = System.currentTimeMillis().toString
      def measured(k: Int): Double = {
        resetHeapPeak()
        val gc0 = gcMs()
        val wall = section(k)
        summary("gc_ms") = Json.num((gcMs() - gc0).toDouble)
        summary("heap_peak_mb") = Json.num(heapPeakMb())
        wall
      }
      rec.phase = "timed"
      tracer match {
        case None =>
          summary("timed_wall_s") = Json.num(measured(0))
        case Some(tr) =>
          rec.phase = "untraced"
          val before = section(0)
          rec.phase = "timed"
          tr.install()
          rec.tracer = Some(tr)
          val traced = measured(1)
          rec.tracer = None
          tr.uninstall()
          rec.phase = "untraced"
          val after = section(2)
          summary("untraced_wall_s") = Json.arr(Seq(before, after).map(Json.num))
          summary("timed_wall_s") = Json.num(traced)
          summary("trace_overhead_ratio") = Json.num(traced / ((before + after) / 2))
      }
    }
  }

  def strings(o: Object): Seq[String] = o match {
    case null => Seq.empty
    case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
    case other => throw new IllegalArgumentException(s"expected a list, got $other")
  }

  def maps(o: Object): Seq[java.util.Map[String, Object]] = o match {
    case null => Seq.empty
    case l: java.util.List[_] => l.asScala.map(_.asInstanceOf[java.util.Map[String, Object]]).toSeq
    case other => throw new IllegalArgumentException(s"expected a list, got $other")
  }

  def str(o: Object): String = String.valueOf(o)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the engine keeps alive. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Times operations and keeps one record per operation in memory; the
  * records are written once, when the run ends.
  */
final class Recorder(workload: String, seed: String, out: File,
                     sc: org.apache.spark.SparkContext) {
  /** Set while a traced section runs; untraced sections carry no listener cost. */
  var tracer: Option[Tracer] = None
  private val lines = mutable.ArrayBuffer.empty[String]
  private val digests = mutable.HashMap.empty[String, String]
  private var nextSpan = 0
  /** The run phase every record carries: fixture, warm, untraced, timed or final. */
  var phase = "fixture"

  def newSpan(): Int = { nextSpan += 1; nextSpan }

  final case class Outcome[A](value: Option[A], ms: Double)

  /** An operation still running after this long has its jobs cancelled
    * and counts as failed.
    */
  val TimeoutS = 60L
  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** One timed operation. `build` runs first (its time is the build
    * layer); `exec` consumes what it built. `attrs` is evaluated once the
    * timing has stopped. Failures are caught and recorded, never rethrown.
    */
  def op[B, A](name: String, kind: String, parent: Option[Int] = None,
               attrs: => Seq[(String, String)] = Nil)
              (build: => B)(exec: B => A): Outcome[A] = {
    val span = newSpan()
    val mark = tracer.map(_.mark())
    val w0 = System.currentTimeMillis()
    val group = s"perfbench-$span"
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(group) }
    }, TimeoutS, java.util.concurrent.TimeUnit.SECONDS)
    val t0 = System.nanoTime()
    var wBuilt = w0
    val result: Either[Throwable, A] =
      try {
        val b = build
        wBuilt = System.currentTimeMillis()
        Right(exec(b))
      } catch { case e: Throwable => Left(e) }
      finally { alarm.cancel(false); sc.clearJobGroup() }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val ms = (t1 - t0) / 1e6
    val layers = for (tr <- tracer; m <- mark) yield tr.since(m, w0, wBuilt, w1)
    val err = result.left.toOption.map { e =>
      (if (timedOut.get) s"timed out after $TimeoutS s; " else "") +
        s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val fields = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.str(seed),
      "phase" -> Json.str(phase), "span" -> span.toString,
      "parent" -> parent.map(_.toString).getOrElse("null"),
      "op" -> Json.str(name), "kind" -> Json.str(kind),
      "start_ms" -> w0.toString, "end_ms" -> w1.toString, "dur_ms" -> Json.num(ms),
      "ok" -> result.isRight.toString,
      "error" -> err.map(Json.str).getOrElse("null")) ++ attrs ++
      layers.map(l => "layers" -> Json.obj(l.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)).toSeq
    lines += Json.obj(fields: _*)
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    Outcome(result.toOption, ms)
  }

  /** A span that only groups child operations (a day or a poll). */
  def group(name: String, kind: String, parent: Option[Int], attrs: Seq[(String, String)] = Nil)
           (body: Int => Unit): Unit = {
    val span = newSpan()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body(span)
    lines += Json.obj((Seq(
        "workload" -> Json.str(workload), "seed" -> Json.str(seed),
        "phase" -> Json.str(phase), "span" -> span.toString,
        "parent" -> parent.map(_.toString).getOrElse("null"),
        "op" -> Json.str(name), "kind" -> Json.str(kind),
        "start_ms" -> w0.toString, "end_ms" -> System.currentTimeMillis().toString,
        "dur_ms" -> Json.num((System.nanoTime() - t0) / 1e6), "ok" -> "true",
        "error" -> "null") ++ attrs): _*)
  }

  /** Check a result against the first timed result under the same key:
    * the first is written for the oracle comparison, later ones must
    * match it. Rows of an `ordered` result must match in order; the rows
    * of any other result are compared as a sorted set. Returns an error
    * message on a mismatch.
    */
  def check(key: String, df: DataFrame, rows: Array[Row], ordered: Boolean): Option[String] = {
    val doc = Json.rows(df.columns.toIndexedSeq, rows)
    val canonical =
      if (ordered) doc
      else Json.rows(df.columns.toIndexedSeq, Array.empty[Row]) +
        rows.map(r => Json.value(r.toSeq)).sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    digests.get(key) match {
      case None =>
        digests(key) = digest
        Json.write(new File(out, s"results/$key.json"), doc)
        None
      case Some(d) if d == digest => None
      case Some(_) => Some(s"result of $key differs from its first run")
    }
  }

  /** Record a failed check as a failed operation of its own. */
  def fail(name: String, parent: Option[Int], message: String): Unit = {
    System.err.println(s"[perfbench] $name failed: $message")
    val now = System.currentTimeMillis()
    lines += Json.obj(
      "workload" -> Json.str(workload), "seed" -> Json.str(seed),
      "phase" -> Json.str(phase), "span" -> newSpan().toString,
      "parent" -> parent.map(_.toString).getOrElse("null"),
      "op" -> Json.str(name), "kind" -> Json.str("check"),
      "start_ms" -> now.toString, "end_ms" -> now.toString, "dur_ms" -> "0.0",
      "ok" -> "false", "error" -> Json.str(message))
  }

  def flush(): Unit =
    Json.write(new File(out, "ops.jsonl"), lines.mkString("", "\n", "\n"))
}
