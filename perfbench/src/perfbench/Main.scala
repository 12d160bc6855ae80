package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

object Stats {
  /** Median (mean of the middle two for an even count); 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ") + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** `metrics`: the names and units to report, in order: BENCHMARK.json's
  * end-to-end list for an untraced run, its per-layer list for a traced one.
  */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                      metrics: Seq[(String, String)])

/** One timed op of a pass: wall time, the CPU time of the process's threads
  * other than the JIT compiler's, and the JIT compiler threads' CPU time.
  */
final case class Sample(op: String, ms: Double, cpuS: Double, jitS: Double, pass: Int, traced: Boolean)

/** What every workload shares: the session, the tracer, op accounting and
  * output checks. Every attempted op is counted; a failed op is counted in
  * `failed` and leaves no latency sample.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val opts: Opts) {
  val samples: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var pass = -1

  def dir(name: String): Path = opts.work.resolve(name)

  /** Times `f` as one op of the current pass; None when it threw. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuSeconds()
    val jit0 = Main.jitSeconds()
    try {
      val r = tracer.span(name)(f)
      val jit = Main.jitSeconds() - jit0
      samples += Sample(name, (System.nanoTime() - t0) / 1e6, Main.cpuSeconds() - cpu0 - jit, jit, pass, tracer.on)
      Main.log(f"pass $pass op $name ${samples.last.ms}%.1f ms")
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: op $name failed: $e")
        None
    }
  }

  /** Records an output-check failure (checks run outside timed ops). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      mismatches += what
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
}

/** A named metric value; units follow BENCHMARK.json. */
final case class Metric(name: String, value: Double, unit: String)

/** A workload: repeated set-up, an untimed warm-up that also verifies
  * outputs, then passes over a fixed op list until the run's seconds are up.
  */
trait Workload {
  /** One set-up from inputs to a queryable state; timed for `setup_s`. */
  def setup(): Unit
  /** Untimed: first execution of every op shape (JIT, codegen) and checks. */
  def warm(): Unit
  /** One pass over the workload's fixed op list, each op via `ctx.op`. */
  def pass(): Unit
  /** Whether an op's samples count toward the end-to-end metrics. */
  def endToEnd(op: String): Boolean = true
  /** Per-layer metrics of a traced run. */
  def layers(): Seq[Metric]
}

/** Which end-to-end figure each per-layer metric should move, and on which
  * workload:
  *   - sources.*, codec.*, rollup.*, pipeline.*: pass_cpu_s on ingest;
  *     nothing on sweep, which never builds a tier cascade.
  *   - sweep.*: pass_cpu_s on sweep; nothing on ingest.
  *   - pass.wall_s: the untraced pass's wall time, which every layer moves.
  *   - pass.jit_cpu_s: the JIT compiler's CPU time over the untraced pass,
  *     which falls when a pass generates fewer new classes.
  *   - trace.overhead_s: traced minus untraced pass time in the same run.
  *
  * The pass's wall time is a per-layer figure, not an end-to-end one: on a
  * shared host other tenants' load moves it by a fifth or more for whole
  * runs at a time, more than any bound a regression check could use, while
  * the CPU time the pass takes moves about half as much.
  */
object Main {
  val SetupReps = 3

  /** Per-layer name prefixes each workload reports; the other workload's
    * names read 0 in its traced run.
    */
  val Owners: Map[String, Seq[String]] = Map(
    "ingest" -> Seq("sources.", "codec.", "rollup.", "pipeline."),
    "sweep" -> Seq("sweep."))

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val metrics = need("metrics").split(",").toSeq.map { nu =>
      val i = nu.lastIndexOf('=')
      nu.take(i) -> nu.drop(i + 1)
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, metrics)
  }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("tmp/warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // output hashes cover every column, map-typed ones included
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.2f $msg")

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.work)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, o)
    val w: Workload = o.workload match {
      case "ingest"    => new Ingest(ctx)
      case "sweep"     => new Sweep(ctx)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the first set-up also pays the JVM's and Spark's cold start, several
    // times a warm one's, which would make the median the slower of the rest
    w.setup()
    val setupS = (1 to SetupReps).map(_ => time(w.setup()))
    System.err.println(s"perfbench: setup ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    w.warm()
    settle()
    log("timed passes start")
    val t0 = System.nanoTime()
    var passes = 0
    // a traced run needs a traced and an untraced pass
    val minPasses = if (o.trace) 2 else 1
    while (passes < minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      // a traced run alternates traced and untraced passes, so the two
      // differ only in tracing: their difference is the tracing overhead
      tracer.on = o.trace && passes % 2 == 0
      ctx.pass = passes
      w.pass()
      passes += 1
    }
    tracer.on = false
    val timed = ctx.samples.filter(s => w.endToEnd(s.op))
    def passMedian(traced: Boolean, of: Sample => Double = _.ms / 1e3) =
      Stats.median(timed.filter(_.traced == traced).groupBy(_.pass).values.map(_.map(of).sum).toSeq)
    val got: Seq[Metric] = if (!o.trace) {
      Seq(Metric("setup_s", Stats.median(setupS), "s"),
        Metric("pass_cpu_s", passMedian(traced = false, _.cpuS), "s"),
        Metric("retained_heap_mb", retainedHeapMb(spark), "MB"))
    } else {
      tracer.on = true
      ctx.pass = -1
      val own = w.layers()
      tracer.on = false
      tracer.drain()
      tracer.write(o.work.resolve(s"traces/${o.workload}-${o.seed}.json"))
      own ++ Seq(Metric("pass.wall_s", passMedian(traced = false), "s"),
        Metric("pass.jit_cpu_s", passMedian(traced = false, _.jitS), "s"),
        Metric("trace.overhead_s", passMedian(traced = true) - passMedian(traced = false), "s"))
    }
    val metrics = reported(o, got)
    System.err.println(s"perfbench: $passes passes, ${ctx.attempted} ops, ${ctx.failed} failed")
    val body = metrics.map(m => s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString("{", ",", "}")
    val correct = ctx.mismatches.isEmpty
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$body}""")
    spark.stop()
  }

  /** The metrics `o.metrics` asks for, in its order. Every computed metric
    * must be asked for with the same unit, and every name asked for must be
    * computed, except, in a traced run, another workload's per-layer names,
    * which read 0.
    */
  def reported(o: Opts, got: Seq[Metric]): Seq[Metric] = {
    val asked = o.metrics.toMap
    val byName = got.map(m => m.name -> m).toMap
    got.foreach { m =>
      require(asked.get(m.name).contains(m.unit), s"metric ${m.name} (${m.unit}) is not in the list asked for")
    }
    def ownedBy(w: String, n: String) = Owners(w).exists(n.startsWith)
    o.metrics.map { case (n, u) =>
      byName.getOrElse(n, {
        require(o.trace && !ownedBy(o.workload, n) && Owners.keys.exists(ownedBy(_, n)),
          s"metric $n is asked for but not computed by ${o.workload}")
        Metric(n, 0.0, u)
      })
    }
  }

  /** Waits (up to 5 s) until the JIT compiler has been idle for 250 ms, so
    * compilations queued by the warm-up do not land in the timed passes.
    */
  def settle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + 5000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < end) {
      last = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
  }

  /** CPU time of the whole process: task, planner, JIT and GC threads. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JIT compiler threads' entries under /proc. The set is fixed for the
    * JVM's life, as run.py turns off the dynamic creation of these threads.
    */
  private lazy val jitTasks: Seq[Path] = {
    val tasks = Files.list(Paths.get("/proc/self/task")).iterator().asScala.toSeq.filter { t =>
      scala.util.Try(Files.readString(t.resolve("comm"))).toOption.exists(_.contains("CompilerThre"))
    }
    require(tasks.nonEmpty, "no JIT compiler threads found under /proc/self/task")
    tasks
  }

  /** CPU time of the JIT compiler threads (the first field of schedstat is
    * the thread's time on a CPU, in ns, the clock getProcessCpuTime reads).
    * They compile what the first passes and each pass's freshly generated
    * classes make hot, in the background and on no fixed schedule, so their
    * share of a pass swings from run to run; [[Sample]] keeps it apart.
    */
  def jitSeconds(): Double =
    jitTasks.map(t => Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong).sum / 1e9

  /** Heap in use after full collections: what the run keeps alive. Spark's
    * cleaner frees shuffle and broadcast state after a collection finds it
    * unreachable, so collections repeat and the least reading counts.
    */
  def retainedHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Full evaluation of every row and column; writes nothing. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).forEach(rmrf(_))
    Files.delete(p)
  }
}
