package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SessionTuning, SparkEntry}

/** The benchmark's JVM side: sets up a session, warms the workload on
  * the tiny data, runs timed passes for the given seconds, checks the
  * outputs and writes one result file. `run.py` builds the inputs,
  * launches this and prints the result line.
  *
  * Usage: perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --warm-data <dir> --oracle <dir>
  *   --work <dir> --out <file> [--cpus n]
  *        perfbench.Harness --oracle-sql <file>
  */
object Harness {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, data: String = "", warmData: String = "",
                        oracle: String = "", work: String = "", out: String = "",
                        cpus: Int = 4, oracleSql: String = "")

  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case k +: v +: rest =>
      val o = parse(rest)
      k match {
        case "--workload" => o.copy(workload = v)
        case "--seed" => o.copy(seed = v.toLong)
        case "--seconds" => o.copy(seconds = v.toDouble)
        case "--trace" => o.copy(trace = v == "1")
        case "--data" => o.copy(data = v)
        case "--warm-data" => o.copy(warmData = v)
        case "--oracle" => o.copy(oracle = v)
        case "--work" => o.copy(work = v)
        case "--out" => o.copy(out = v)
        case "--cpus" => o.copy(cpus = v.toInt)
        case "--oracle-sql" => o.copy(oracleSql = v)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    case other => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}")
  }

  /** The session every contract main builds (see `graft.Bench`). */
  def session(cpus: Int): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder())
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    if (o.oracleSql.nonEmpty) writeOracleSql(o.oracleSql)
    else run(o)
  }

  private def writeOracleSql(path: String): Unit = {
    val sql = SparkEntry.oracleSql
    val entries = Workload.checkedRows.filter(sql.contains)
      .map(n => s"${Json.str(n)}:${Json.str(sql(n))}")
    write(path, entries.mkString("{\n", ",\n", "\n}\n"))
  }

  private def run(o: Opts): Unit = {
    val wl = Workload(o.workload)
    // the set-up counts from JVM start: class loading and the first
    // session are fixed costs of every run
    val jvmStart = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = session(o.cpus)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, enabled = false), o.seed,
      o.data, o.warmData, o.oracle, o.work)
    wl.prepare(ctx)
    val setup = (System.nanoTime() - jvmStart) / 1e9
    log(f"set-up: $setup%.2f s")
    val w0 = System.nanoTime()
    wl.warm(ctx)
    val warmup = (System.nanoTime() - w0) / 1e9
    log(f"warm-up: $warmup%.2f s")

    // timed passes for the run's seconds; a traced run alternates
    // untraced and traced passes so that it can state its own overhead
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = wl.minPasses * (if (o.trace) 2 else 1)
    settle(ctx)
    val start = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - start < o.seconds * 1e9) {
      val traced = o.trace && passes.size % 2 == 1
      ctx.trace.enabled = traced
      val first = ctx.ops.size
      val t0 = System.nanoTime()
      wl.pass(ctx, passes.size)
      passes += Pass(traced, (System.nanoTime() - t0) / 1e9, ctx.ops.drop(first).toSeq)
      log(f"pass ${passes.size}${if (traced) " (traced)" else ""}: ${passes.last.wall}%.2f s")
    }
    ctx.trace.enabled = false
    val v0 = System.nanoTime()
    wl.verify(ctx)
    log(f"verify: ${(System.nanoTime() - v0) / 1e9}%.2f s")
    ctx.trace.drain()

    val plain = passes.filterNot(_.traced).toSeq
    val ops = plain.flatMap(_.ops)
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) {
        val traced = passes.filter(_.traced).toSeq
        val overhead = 100.0 * (Stats.median(traced.map(_.wall)) /
          Stats.median(plain.map(_.wall)) - 1.0)
        Layers.metrics(ctx, traced.size, passes.size, overhead)
      } else Seq(
        ("setup_s", setup, "s"),
        ("pass_s", Stats.median(plain.map(_.wall)), "s"),
        ("p50_ms", Stats.median(ops) * 1e3, "ms"),
        ("peak_rss_mb", peakRssMb, "MB"))
    if (o.trace) ctx.trace.write(s"${o.work}/spans.jsonl")

    val detail = Seq(
      "warmup_s" -> Json.num(warmup),
      "pass_s" -> plain.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "ops" -> ops.size.toString,
      "p90_ms" -> Json.num(Stats.percentile(ops, 90) * 1e3),
      "p90_samples_beyond" -> (ops.size - math.ceil(0.9 * ops.size).toInt).toString,
      "unchecked" -> ctx.unchecked.toString,
      "failures" -> ctx.failures.take(20).map(Json.str).mkString("[", ",", "]"))
    write(o.out,
      s"""{"attempted":${ctx.attempted},"failed":${ctx.failures.size},""" +
        metrics.map { case (k, v, u) => s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
          .mkString(""""metrics":{""", ",", "},") +
        detail.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(""""detail":{""", ",", "}}") + "\n")
    spark.stop()
  }

  /** One timed pass: traced or not, its seconds and its operations'. */
  final case class Pass(traced: Boolean, wall: Double, ops: Seq[Double])

  /** The timed passes start from the same state: the set-up's and the
    * warm-up's garbage collected, Spark's cleaner done with their
    * shuffle files and broadcasts, and their written files flushed to
    * disk, so that the passes do not pay for them. */
  private def settle(ctx: Ctx): Unit = {
    System.gc()
    ctx.trace.drain()
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    Thread.sleep(200)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(text) finally w.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** Per-layer figures from the spans of the traced passes, per pass. */
object Layers {
  private val ExecCounts = Seq("stages", "tasks", "task_s", "gc_s", "sched_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")

  def metrics(ctx: Ctx, tracedPasses: Int, allPasses: Int,
              overheadPct: Double): Seq[(String, Double, String)] = {
    val p = math.max(tracedPasses, 1).toDouble
    val spans = ctx.trace.all
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def named(n: String) = spans.filter(_.name == n)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum / p
    def total(ss: Seq[Span], k: String) = ss.map(_.count(k)).sum / p
    def p50ms(ss: Seq[Span]) = Stats.median(ss.map(_.seconds)) * 1e3
    def unitOf(k: String) =
      if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count"
    // the layer below construction and planning: exec spans, and the
    // curation stages, which build and write in one call
    val exec = spans.filter(s => !children.contains(s.id) && s.name != "construct" && s.name != "plan")
    val serve = spans.filter(_.name.startsWith("serve.")).flatMap(subtree)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    out += (("queries.construct_s", secs(named("construct")), "s"))
    out += (("queries.construct_jobs", total(named("construct"), "jobs"), "count"))
    out += (("plan.plan_s", secs(named("plan")), "s"))
    out += (("exec.exec_s", secs(exec), "s"))
    out += (("exec.jobs", total(exec, "jobs"), "count"))
    for (k <- ExecCounts) out += ((s"exec.$k", total(exec, k), unitOf(k)))
    out += (("exec.task_max_s", (0.0 +: exec.map(_.count("task_max_s"))).max, "s"))
    out += (("serving.rows_read_per_row_returned",
      serve.map(_.count("input_records")).sum / math.max(ctx.sums.getOrElse("rows_returned", 0.0), 1.0),
      "ratio"))
    for (k <- Seq("latest", "history", "olhc", "recent"))
      out += ((s"serving.${k}_p50_ms", p50ms(named(s"serve.$k")), "ms"))
    out += (("operators.indicator_p50_ms", p50ms(named("serve.indicator")), "ms"))
    out += (("serving.request_p90_ms", Stats.percentile(
      spans.filter(_.name.startsWith("serve.")).map(_.seconds), 90) * 1e3, "ms"))
    for (f <- Seq("relational", "window", "normalize"))
      out += ((s"queries.${f}_s", secs(named(s"row.$f")), "s"))
    for (f <- Workload.Families) {
      val cold = named(s"maintain.$f.cold")
      out += ((s"maintain.${f}_cold_s", secs(cold), "s"))
      out += ((s"maintain.${f}_warm_s", Stats.median(named(s"maintain.$f.warm").map(_.seconds)), "s"))
      out += ((s"maintain.${f}_cold_jobs", total(cold.flatMap(subtree), "jobs"), "count"))
      out += ((s"maintain.${f}_artifact_bytes",
        ctx.sums.getOrElse(s"${f}_artifact_bytes", 0.0) / allPasses, "bytes"))
    }
    out += (("maintain.write_amp", ctx.sums.getOrElse("artifact_bytes", 0.0) /
      math.max(ctx.sums.getOrElse("input_bytes", 0.0), 1.0), "ratio"))
    for (st <- graft.CurationRun.Stages) {
      val ss = named(s"curation.$st")
      out += ((s"curation.${st}_s", secs(ss), "s"))
      out += ((s"curation.${st}_jobs", total(ss, "jobs"), "count"))
      out += ((s"curation.${st}_rows_out", total(ss, "output_records"), "count"))
    }
    out += (("trace.overhead_pct", overheadPct, "%"))
    out.toSeq
  }
}
