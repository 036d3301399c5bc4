package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

// Inside package graft, so the private[graft] memo resets and counters
// are called directly rather than through reflection.
import graft.ops.{DecisionMemo, PlanCache}

/** The benchmark's JVM side: one closed-loop client on a `local[cores]`
  * session, configured as `graft.Bench` configures its session.
  *
  *  1. Set-up, `setups` times: a fresh session plus every corpus table
  *     opened; each is timed.
  *  2. One untimed pass over the keys, in the order given, that warms
  *     the JVM and builds the standing artifacts; the order is fixed so
  *     that every run starts its timed passes from the same state.
  *     Oracled keys write their result as parquet under `work/out/<key>`
  *     for the output check.
  *  3. Timed passes until `seconds` have gone by, and at least two, so
  *     that every run measures the same whole passes however slow the
  *     host is. Every pass first resets the result memos and then
  *     runs each key's construction and `noop`-sink materialization in
  *     an order drawn from the seed. An untraced run stops at the first
  *     query that would start after `seconds`, so its last pass may be
  *     partial; a traced run makes whole passes, the even ones traced
  *     and the odd ones not, which prices the tracing.
  *  4. The self-checks of the keys that have one.
  *
  * Everything measured goes to `work/result.json`; spans of the traced
  * passes go to `spans` as JSON lines.
  *
  * Usage: Harness data=DIR keys=K1,K2 seed=N seconds=S trace=0|1
  *        setups=N cores=N work=DIR spans=FILE
  */
object Harness {

  final case class Sample(pass: Int, key: String, constructS: Double, execS: Double, cpuS: Double,
      ok: Boolean)
  final case class PassRec(pass: Int, traced: Boolean, wallS: Double, cpuS: Double, jitS: Double)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution: the scheduler stamps
    * job events with `currentTimeMillis`, so spans share its clock. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = opt("data")
    val keys = opt("keys").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    def newSession(): SparkSession = {
      val s = graft.GraftSession.builder(s"local[$cores]", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "2097152")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    var spark: SparkSession = null
    val setupS = (1 to opt("setups").toInt).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession()
      graft.Tables.all.foreach(t => graft.Tables(spark, dir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
    def resetMemos(): Unit = { PlanCache.resetMemos(); DecisionMemo.clear() }
    def message(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    val errors = mutable.ArrayBuffer[(Int, String, String)]()

    resetMemos()
    val w0 = System.nanoTime()
    val warmupKeyS = keys.map { k =>
      val k0 = System.nanoTime()
      try {
        val df = queries(k)(spark, dir)
        // one file, as graft.Verify writes it, so row order is kept
        if (oracle.contains(k)) df.coalesce(1).write.parquet(s"$work/out/$k")
        else df.write.mode("overwrite").format("noop").save()
      } catch { case e: Throwable => errors += ((0, k, message(e))) }
      k -> (System.nanoTime() - k0) / 1e9
    }.toMap
    val warmupS = (System.nanoTime() - w0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val samples = mutable.ArrayBuffer[Sample]()
    val passRecs = mutable.ArrayBuffer[PassRec]()
    val spans = mutable.ArrayBuffer[Span]()
    val layers = new Layers(cores)
    var nextId = 0
    def span(parent: Int, kind: String, name: String, a: Double, b: Double): Span = {
      nextId += 1
      val s = Span(nextId, parent, kind, name, a, b)
      spans += s
      s
    }
    val workloadId = { nextId += 1; nextId }

    val timedStart = nowMs
    val minPasses = 2
    var pass = 0
    while (pass < minPasses || nowMs - timedStart < seconds * 1e3) {
      pass += 1
      val traced = trace && pass % 2 == 0
      resetMemos()
      val persistent = sc.getPersistentRDDs.size
      val hits0 = DecisionMemo.hits.get
      val misses0 = DecisionMemo.misses.get
      val gc0 = Jvm.gcMs
      val cpu0 = Jvm.cpuNs
      val jit0 = Jvm.jitMs
      tracer.filter(_ => traced).foreach(_.start())
      def due = !trace && pass > minPasses && nowMs - timedStart >= seconds * 1e3
      // lazily, so the deadline is checked before each query starts
      val started = order(pass).iterator.zipWithIndex.takeWhile { case (_, i) => i == 0 || !due }
      val phases = started.map { case (k, _) =>
        if (traced) sc.setJobGroup(s"perfbench:$pass:$k", s"perfbench $k", interruptOnCancel = false)
        val u0 = Jvm.cpuNs
        val q0 = nowMs
        var c1 = q0
        var ok = true
        try {
          val df = queries(k)(spark, dir)
          c1 = nowMs
          df.write.mode("overwrite").format("noop").save()
        } catch { case e: Throwable => ok = false; errors += ((pass, k, message(e))) }
        val q1 = nowMs
        if (traced) sc.clearJobGroup()
        samples += Sample(pass, k, (c1 - q0) / 1e3, (q1 - c1) / 1e3, (Jvm.cpuNs - u0) / 1e9, ok)
        (k, q0, c1, q1)
      }.toList
      val (p0, p1) = (phases.head._2, phases.last._4)
      val cpuS = (Jvm.cpuNs - cpu0) / 1e9
      val jitS = (Jvm.jitMs - jit0) / 1e3
      passRecs += PassRec(pass, traced, (p1 - p0) / 1e3, cpuS, jitS)
      tracer.filter(_ => traced).foreach { t =>
        val (jobs, trigs) = t.stop()
        val passSpan = span(workloadId, "pass", s"pass $pass", p0, p1)
        val qs = phases.map { case (k, q0, c1, q1) =>
          val q = span(passSpan.id, "query", k, q0, q1)
          (q, span(q.id, "construct", k, q0, c1), span(q.id, "execute", k, c1, q1))
        }
        layers.addPass(pass, passSpan, qs, jobs, trigs, span)
        layers.add("memo.decision_hits", DecisionMemo.hits.get - hits0)
        layers.add("memo.decision_misses", DecisionMemo.misses.get - misses0)
        layers.add("jvm.gc_s", (Jvm.gcMs - gc0) / 1e3)
        layers.add("jvm.cpu_s", cpuS)
        layers.add("jvm.jit_s", jitS)
        layers.max("memo.persistent_rdds", persistent)
        layers.max("memo.cached_mb",
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      }
    }
    if (trace) spans += Span(workloadId, 0, "workload", keys.mkString(","), timedStart, nowMs)

    val k0 = System.nanoTime()
    val checks = keys.filter(graft.SelfChecks.checks.contains).map { k =>
      val r = try graft.SelfChecks.checks(k)(spark, dir) catch {
        case e: Throwable => graft.SelfChecks.CheckResult(false, "", "", message(e))
      }
      k -> Map("pass" -> r.pass, "detail" -> r.detail)
    }.toMap

    val result = mutable.LinkedHashMap[String, Any](
      "seed" -> seed,
      "order" -> (1 to pass).map(order),
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "warmup_key_s" -> warmupKeyS,
      "passes" -> passRecs.map(p => Map("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jit_s" -> p.jitS)),
      "samples" -> samples.map(s => Map("pass" -> s.pass, "key" -> s.key,
        "construct_s" -> s.constructS, "exec_s" -> s.execS, "cpu_s" -> s.cpuS, "ok" -> s.ok)),
      "errors" -> errors.map { case (p, k, m) => Map("pass" -> p, "key" -> k, "error" -> m) },
      "self_checks" -> checks,
      "self_checks_s" -> (System.nanoTime() - k0) / 1e9,
      "oracle_sql" -> oracle,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb)
    if (trace) {
      val selfMs = Spans.selfMs(spans.toSeq)
      result("layers") = layers.result(passRecs.filter(_.traced).map(_.wallS).sum,
        spans.toSeq.map(s => s.kind -> selfMs(s.id)))
      Json.writeLines(opt("spans"), spans.toSeq.sortBy(_.startMs).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s.id))))
    }
    Json.writeLines(s"$work/result.json", Seq(result))
    spark.stop()
  }
}

/** Sums of the per-layer figures over the traced passes. */
final class Layers(cores: Int) {
  // every figure is present, at zero, even where a workload never moves it
  private val sums = mutable.LinkedHashMap[String, Double](Seq(
    "ops.construct_s", "ops.construct_jobs", "driver.gap_s", "exec.materialize_s",
    "spark.jobs", "shuffle.stages", "shuffle.write_bytes", "shuffle.read_bytes",
    "spill.bytes", "scan.bytes", "scan.rows", "write.bytes", "task.busy_s", "task.cpu_s",
    "memo.decision_hits", "memo.decision_misses", "jvm.gc_s", "jvm.cpu_s", "jvm.jit_s",
    "stream.triggers", "stream.trigger_s", "stream.latest_offset_s", "stream.add_batch_s",
    "stream.wal_commit_s", "stream.query_planning_s",
    "ingest.docs", "ingest.query_s",
  ).map(_ -> 0.0): _*)
  private val maxima = mutable.LinkedHashMap[String, Double](Seq(
    "shuffle.max_task_read_bytes", "task.max_s", "memo.persistent_rdds", "memo.cached_mb",
  ).map(_ -> 0.0): _*)
  private var passes = 0

  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def max(name: String, v: Double): Unit = maxima(name) = math.max(maxima.getOrElse(name, 0.0), v)

  /** Builds the job and trigger spans of one traced pass under its query
    * spans, and adds the pass's figures. A job carrying the harness's
    * job group belongs to that query; jobs of a streaming query's own
    * thread carry the stream's group and are placed by start time, which
    * is unambiguous with a single client. */
  def addPass(passNo: Int, pass: Span, queries: Seq[(Span, Span, Span)], jobs: Seq[JobRec],
      trigs: Seq[TriggerRec], span: (Int, String, String, Double, Double) => Span): Unit = {
    passes += 1
    val phases = queries.flatMap { case (_, c, e) => Seq(c, e) }
    val trigSpans = trigs.map { t =>
      val parent = Spans.enclosing(phases, t.startMs)
      t -> span(parent.fold(pass.id)(_.id), "trigger", parent.fold("")(_.name), t.startMs, t.endMs)
    }
    val constructIds = queries.map(_._2.id).toSet
    jobs.foreach { j =>
      val own = phases.filter(p => j.group == s"perfbench:$passNo:${p.name}")
      val phase = Spans.enclosing(if (own.nonEmpty) own else phases, j.startMs)
      val parent = Spans.enclosing(trigSpans.map(_._2), j.startMs)
        .filter(t => phase.forall(_.id == t.parent)).orElse(phase)
      span(parent.fold(pass.id)(_.id), "job", j.desc, j.startMs, j.endMs)
      if (phase.exists(p => constructIds(p.id))) add("ops.construct_jobs", 1)
      add("spark.jobs", 1)
      add("shuffle.stages", j.shuffleStages)
      add("shuffle.write_bytes", j.shuffleWrite.toDouble)
      add("shuffle.read_bytes", j.shuffleRead.toDouble)
      max("shuffle.max_task_read_bytes", j.maxTaskShuffleRead.toDouble)
      add("spill.bytes", j.spill.toDouble)
      add("scan.bytes", j.scanBytes.toDouble)
      add("scan.rows", j.scanRows.toDouble)
      add("write.bytes", j.outBytes.toDouble)
      add("task.busy_s", j.busyMs / 1e3)
      add("task.cpu_s", j.cpuNs / 1e9)
      max("task.max_s", j.maxTaskMs / 1e3)
    }
    queries.foreach { case (q, c, e) =>
      val inQuery = jobs.filter(j => j.startMs >= q.startMs && j.startMs <= q.endMs)
      add("driver.gap_s", (q.ms - Spans.covered(inQuery.map(j => (j.startMs, j.endMs)), q.startMs, q.endMs)) / 1e3)
      add("ops.construct_s", c.ms / 1e3)
      add("exec.materialize_s", e.ms / 1e3)
      val qTrigs = trigSpans.filter { case (_, s) => s.parent == c.id || s.parent == e.id }.map(_._1)
      if (qTrigs.nonEmpty) {
        add("ingest.docs", qTrigs.map(_.rows).sum.toDouble)
        add("ingest.query_s", q.ms / 1e3)
      }
    }
    add("stream.triggers", trigs.size)
    Seq("triggerExecution" -> "stream.trigger_s", "latestOffset" -> "stream.latest_offset_s",
      "addBatch" -> "stream.add_batch_s", "walCommit" -> "stream.wal_commit_s",
      "queryPlanning" -> "stream.query_planning_s").foreach { case (part, name) =>
      add(name, trigs.map(_.seconds(part)).sum)
    }
  }

  /** Per-pass means of the sums, the maxima, and the ratios. `selfMs`
    * holds every span's kind and self time. */
  def result(tracedWallS: Double, selfMs: Seq[(String, Double)]): Map[String, Double] = {
    def sum(n: String) = sums.getOrElse(n, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val n = math.max(1, passes).toDouble
    Seq("construct", "execute", "trigger", "job").foreach { k =>
      add(s"self.${k}_s", selfMs.filter(_._1 == k).map(_._2).sum / 1e3)
    }
    val perPass = sums.filter { case (k, _) => !Set("ingest.docs", "ingest.query_s")(k) }
      .map { case (k, v) => k -> v / n }
    (perPass ++ maxima ++ Map(
      "task.busy_share" -> ratio(sum("task.busy_s"), cores * tracedWallS),
      "memo.decision_hit_ratio" ->
        ratio(sum("memo.decision_hits"), sum("memo.decision_hits") + sum("memo.decision_misses")),
      "ingest.docs_per_s" -> ratio(sum("ingest.docs"), sum("ingest.query_s")),
      "write.amp" -> ratio(sum("write.bytes"), sum("scan.bytes")))).toMap
  }
}

object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** CPU time of every thread of the process so far. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers spent compiling so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Sum of the heap pools' peak occupancy over the whole run. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's peak resident set (`VmHWM`), from /proc. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def writeLines(path: String, rows: Seq[Any]): Unit = {
    val f = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, rows.map(r => render(r) + "\n").mkString.getBytes("UTF-8"))
  }
}
