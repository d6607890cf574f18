package perfbench

import java.io.File
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import graft.engine.{Engine, EtlContext}
import graft.expr.OrientExpr
import graft.loaders.Loaders
import graft.spec.{ComponentSpec, PipelineSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every metric the benchmark prints, by name and unit. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "pipeline_p50_ms" -> "ms", "cpu_s" -> "s",
    "stored_peak_mb" -> "MB", "ok_frac" -> "ratio", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "spec.parse_ms" -> "ms", "expr.compile_ms" -> "ms", "engine.build_ms" -> "ms",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.idle_s" -> "s",
    "engine.driver_cpu_s" -> "s", "engine.build_jobs" -> "count",
    "graph.ckpt_jobs" -> "count", "graph.build_s" -> "s",
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB",
    "stages.transform_s" -> "s", "stages.shuffle_joins" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "loaders.write_s" -> "s", "loaders.output_mb" -> "MB", "loaders.files" -> "count",
    "dedup.pairs" -> "count", "dedup.pair_precision" -> "ratio", "dedup.pairs_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.tasks" -> "count", "spark.session_s" -> "s", "trace.overhead_pct" -> "%")

  val NamePattern = "[A-Za-z0-9_.-]+"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--trace-out <file>]
  * Prints one JSON line: {correct, attempted, failed, metrics}. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = Workloads(need("workload"))
    val t0 = System.nanoTime
    val spark = Engine.session("perfbench", Some("local[4]"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime - t0) / 1e9
    val runner = new Runner(spark, workload, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), sessionS)
    val line = runner.run()
    opt.get("trace-out").foreach(p => Gen.write(new File(p))(out => out(runner.traceJson)))
    println(line)
    System.out.flush()
    // a timed-out op may still hold the driver thread: do not wait for it
    if (runner.stuck) Runtime.getRuntime.halt(0)
    spark.stop()
  }
}

final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
                   trace: Boolean, work: File, sessionS: Double) {
  import Metrics._

  private val sc = spark.sparkContext
  private val counters = new Counters
  sc.addSparkListener(counters)
  private val phases = new Phases
  if (trace) spark.listenerManager.register(phases)
  private val tracer = new Tracer
  private val runSpan = tracer.newId()
  private val born = System.currentTimeMillis
  // the whole process must finish within 180 s
  private val deadline = System.nanoTime + 150L * 1000000000L
  private val worker = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  var stuck = false
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis - born) / 1000.0}%.1fs $msg")
  private var attempted, failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  /** One measured pipeline run. */
  final case class Stat(ok: Boolean, rows: Long, wallMs: Double, cpuS: Double,
                        driverCpuS: Double, storedMb: Double, idleS: Double,
                        acc: Counters#Acc, layerMs: Map[String, Double])

  private def remainingS: Int = ((deadline - System.nanoTime) / 1000000000L).toInt

  /** Run `body` on the op thread; a hang past the timeout is a failure and
    * ends the measurement, since the thread cannot be reclaimed. */
  private def onWorker[T](timeoutS: Int)(body: => T): Either[String, T] = {
    val f = worker.submit(() => body)
    try Right(f.get(math.max(1, math.min(timeoutS, remainingS)).toLong, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        stuck = true; sc.cancelAllJobs(); f.cancel(true)
        Left(s"timed out after ${math.min(timeoutS, remainingS)} s")
      case e: ExecutionException => Left(String.valueOf(e.getCause))
    }
  }

  private def verdict(what: String, r: Either[String, Option[String]]): Boolean = {
    attempted += 1
    val err = r.fold(Some(_), identity)
    err.foreach { e => failed += 1; if (errors.size < 5) errors += s"$what: $e" }
    err.isEmpty
  }

  private def runOp(i: Int, op: Op, traced: Boolean): Stat = {
    val g = s"op$i"
    val groups = mutable.ArrayBuffer(g)
    val layerMs = mutable.HashMap.empty[String, Double]
    val pipe = tracer.newId()
    counters.markStored()
    val wall0 = System.currentTimeMillis
    val out = onWorker(w.timeoutS) {
      val tcpu0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime
      sc.setJobGroup(g, op.template, false)
      def layer[T](name: String)(f: => T): T =
        if (!traced) f
        else {
          val id = tracer.newId()
          val grp = s"$g/$id"
          groups.synchronized(groups += grp)
          sc.setJobGroup(grp, name, false)
          val s = System.nanoTime
          val sMs = System.currentTimeMillis
          try f finally {
            tracer.add(id, pipe, name, sMs, System.currentTimeMillis)
            layerMs(name) = layerMs.getOrElse(name, 0.0) + (System.nanoTime - s) / 1e6
          }
        }
      val spec = layer("spec.parse")(PipelineSpec.parse(op.json))
      val ctx = new EtlContext(spark)
      val df = layer("engine.run")(Engine.run(ctx, spec))
      val values = layer("terminal")(op.finish(df))
      val wallMs = (System.nanoTime - t0) / 1e6
      val driverCpu = (threads.getCurrentThreadCpuTime - tcpu0) / 1e9
      // the traced run also times the dialect compiler on the config's
      // expressions (the engine compiles them inside Engine.run)
      if (traced) layer("expr.compile")(expressions(spec).foreach(e =>
        try OrientExpr.compile(e, ctx.varMap) catch { case _: Exception => () }))
      (values, wallMs, driverCpu)
    }
    val wall1 = System.currentTimeMillis
    counters.drain(sc, groups)
    val storedMb = counters.peakStored / 1048576.0
    val acc = counters.total(groups)
    val busy = Tracer.union(acc.busy.toSeq.map { case (s, e) =>
      (math.max(s, wall0), math.min(e, wall1)) }.filter(i => i._2 > i._1))
    if (traced) {
      tracer.add(pipe, runSpan, "pipeline", wall0, wall1)
      counters.jobsIn(groups.toSet).foreach { j =>
        val parent = j.group.split('/').lift(1).map(_.toInt).getOrElse(pipe)
        tracer.add(tracer.newId(), parent, "spark.job", j.start, j.end)
      }
    }
    val ok = verdict(s"${w.name}#$i ${op.template}", out.flatMap { case (values, _, _) =>
      if (stuck) Left("timed out")
      else onWorker(w.timeoutS) { sc.setJobGroup(s"check$i", "check", false); op.check(values) }
    })
    val (wallMs, driverCpuS) = out.fold(_ => ((wall1 - wall0).toDouble, 0.0), r => (r._2, r._3))
    // driver plus executors: the engine-calling thread and the task threads;
    // JIT and GC threads are left out, they make a cold op look expensive
    val cpuS = driverCpuS + acc.cpuNs / 1e9
    log(f"op $i ${op.template}: $wallMs%.0f ms, cpu $cpuS%.2f s${if (ok) "" else " FAILED"}")
    Stat(ok, op.rows, wallMs, cpuS, driverCpuS, storedMb, ((wall1 - wall0) - busy) / 1000.0,
      acc, layerMs.toMap)
  }

  private def expressions(spec: PipelineSpec): Seq[String] =
    (spec.begin ++ spec.transformers).flatMap(c =>
      Seq("expression", "if", "joinValue").flatMap(c.str))

  private var nextOp = 0
  private def loop(secs: Double, traced: Boolean): Seq[Stat] = {
    val until = System.nanoTime + (secs * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Stat]
    do { out += runOp(nextOp, w.op(nextOp), traced); nextOp += 1 }
    while (System.nanoTime < until && !stuck && remainingS > w.timeoutS / 2)
    out.toSeq
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete()
  }

  /** Set-up repeated `reps` times, each into a fresh directory. */
  private def setup(reps: Int): Seq[Double] = (0 until reps).map { r =>
    if (r > 0) deleteTree(new File(work, s"rep${r - 1}"))
    val dir = new File(work, s"rep$r")
    dir.mkdirs()
    val t0 = System.nanoTime
    val ok = verdict(s"${w.name} setup", onWorker(w.timeoutS * 2) {
      sc.setJobGroup("setup", "setup", false); w.setup(spark, dir, seed); None })
    if (ok) w.warmup.zipWithIndex.foreach { case (op, k) =>
      if (!stuck) runOp(-1 - k - 1000 * r, op, traced = false) }
    val s = (System.nanoTime - t0) / 1e9
    log(f"set-up $r: $s%.2f s")
    s
  }

  def traceJson: String = tracer.json(born)

  def run(): String = {
    val setupS = setup(3)
    val metrics: Seq[(String, Double)] =
      if (stuck) Nil
      else if (!trace) endToEnd(setupS, loop(seconds, traced = false))
      else {
        val plain = loop(seconds / 3, traced = false)
        phases.settle()
        val before = phases.snapshot
        val traced = if (stuck) Nil else loop(seconds / 3, traced = true)
        phases.settle()
        val ph = phases.snapshot.zip(before).map { case (a, b) => a - b }
        perLayer(plain, traced, ph, if (stuck) Map.empty else layers())
      }
    tracer.add(runSpan, 0, "run", born, System.currentTimeMillis)
    log(s"done: $attempted ops checked, $failed failed")
    errors.foreach(e => log(s"FAILED $e"))
    val wanted = if (trace) Metrics.perLayer else Metrics.endToEnd
    val values = metrics.toMap
    val body = wanted.map { case (n, u) =>
      val v = values.getOrElse(n, Double.NaN)
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0 && !stuck && metrics.nonEmpty}, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": ${if (attempted == 0) 1 else failed}, "metrics": {${body.mkString(", ")}}}"""
  }

  private def endToEnd(setupS: Seq[Double], ops: Seq[Stat]): Seq[(String, Double)] = {
    val good = ops.filter(_.ok)
    Seq(
      "rows_per_s" -> good.map(_.rows).sum / (good.map(_.wallMs).sum / 1000),
      "pipeline_p50_ms" -> median(good.map(_.wallMs)),
      "cpu_s" -> median(ops.map(_.cpuS)),
      "stored_peak_mb" -> median(ops.map(_.storedMb)),
      "ok_frac" -> good.size.toDouble / ops.size,
      "setup_s" -> median(setupS))
  }

  /** Layer costs from prefix runs of one config: cut after the extractor,
    * after the plain stages, and after the whole transformer chain, then
    * the loader called on its own. */
  private def layers(): Map[String, Double] = {
    val op = w.op(nextOp)
    val spec = PipelineSpec.parse(op.json)
    val ts = spec.transformers
    val special = ts.indexWhere(t => Set("neardupdedup", "connectedcomponents")(t.name))
    val firstSpecial = if (special < 0) ts.size else special
    val loader = spec.loader.getOrElse(ComponentSpec("memory", Map.empty))
    // the prefix action materialises every column of every row, as a loader would
    def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    final case class Cut(buildS: Double, execS: Double, buildJobs: Long, ckptJobs: Long, df: DataFrame)
    def cut(n: Int): Either[String, Cut] = {
      val g = s"cut$n"
      val r = onWorker(w.timeoutS) {
        val ctx = new EtlContext(spark)
        sc.setJobGroup(s"$g/build", "build", false)
        val t0 = System.nanoTime
        val df = Engine.run(ctx, spec.copy(transformers = ts.take(n), loader = None))
        val t1 = System.nanoTime
        sc.setJobGroup(s"$g/exec", "exec", false)
        action(df)
        ((t1 - t0) / 1e9, (System.nanoTime - t1) / 1e9, df)
      }
      counters.drain(sc, Seq(s"$g/build", s"$g/exec"))
      verdict(s"${w.name} prefix of $n stages", r.map(_ => None))
      r.map { case (b, e, df) =>
        val a = counters.total(Seq(s"$g/build"))
        Cut(b, e, a.jobs, a.ckptJobs, df)
      }
    }
    val out = mutable.HashMap.empty[String, Double]
    for {
      c0 <- cut(0).toOption
      c1 <- cut(firstSpecial).toOption
      cN <- (if (firstSpecial == ts.size) Right(c1) else cut(ts.size)).toOption
    } {
      out("sources.scan_s") = c0.execS
      out("stages.transform_s") = c1.execS - c0.execS
      val specialName = if (special < 0) "" else ts(special).name
      val (graphS, graphJobs, dedupS) = specialName match {
        case "connectedcomponents" => (cN.buildS - c1.buildS, (cN.ckptJobs - c1.ckptJobs).toDouble, 0.0)
        case "neardupdedup" => (0.0, 0.0, cN.buildS + cN.execS - c1.buildS - c1.execS)
        case _ => (0.0, 0.0, 0.0)
      }
      out("graph.build_s") = graphS
      out("graph.ckpt_jobs") = graphJobs
      out("dedup.pairs_s") = dedupS
      out("engine.build_ms") = cN.buildS * 1000
      out("engine.build_jobs") = cN.buildJobs.toDouble
      // the loader layer on its own: Loaders.load on the built frame; an
      // acting loader re-runs the chain, so the chain's own run is taken off
      val loaded = onWorker(w.timeoutS) {
        sc.setJobGroup("load", "load", false)
        val t0 = System.nanoTime
        val acted = Loaders.load(new EtlContext(spark), loader, cN.df)
        val s = (System.nanoTime - t0) / 1e9
        (if (acted) s - cN.execS else s, if (acted) Nil else op.finish(cN.df))
      }
      verdict(s"${w.name} loader", loaded.flatMap { case (_, v) =>
        onWorker(w.timeoutS) { sc.setJobGroup("check-load", "check", false); op.check(v) } })
      loaded.foreach { case (s, _) => out("loaders.write_s") = s }
    }
    onWorker(w.timeoutS)(w.pairs(spark)).foreach { case (pairs, planted) =>
      out("dedup.pairs") = pairs.toDouble
      out("dedup.pair_precision") = if (pairs == 0) 0.0 else planted.toDouble / pairs
    }
    out.toMap
  }

  private def perLayer(plain: Seq[Stat], traced: Seq[Stat], ph: Seq[Long],
                       cuts: Map[String, Double]): Seq[(String, Double)] = {
    val n = math.max(1, traced.size).toDouble
    def per(f: Stat => Double): Double = median(traced.map(f))
    def mb(b: Long) = b / 1048576.0
    val Seq(_, analysis, optimization, planning, joins) = ph
    Seq(
      "spec.parse_ms" -> per(_.layerMs.getOrElse("spec.parse", 0.0)),
      "expr.compile_ms" -> per(_.layerMs.getOrElse("expr.compile", 0.0)),
      "spark.analysis_ms" -> analysis / n,
      "spark.optimization_ms" -> optimization / n,
      "spark.planning_ms" -> planning / n,
      "spark.jobs" -> per(_.acc.jobs.toDouble),
      "spark.idle_s" -> per(_.idleS),
      "engine.driver_cpu_s" -> per(_.driverCpuS),
      "sources.input_mb" -> per(s => mb(s.acc.bytesRead)),
      "stages.shuffle_joins" -> joins / n,
      "spark.shuffle_write_mb" -> per(s => mb(s.acc.shuffleWrite)),
      "spark.spill_mb" -> per(s => mb(s.acc.spill)),
      "loaders.output_mb" -> per(s => mb(s.acc.bytesWritten)),
      "loaders.files" -> w.outputFiles().toDouble,
      "spark.task_cpu_s" -> per(_.acc.cpuNs / 1e9),
      "spark.task_run_s" -> per(_.acc.runMs / 1000.0),
      "spark.gc_s" -> per(_.acc.gcMs / 1000.0),
      "spark.tasks" -> per(_.acc.tasks.toDouble),
      "spark.session_s" -> sessionS,
      "trace.overhead_pct" -> (median(traced.map(_.wallMs)) / median(plain.map(_.wallMs)) - 1) * 100
    ) ++ cuts.toSeq
  }
}
