package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CurationRun, SparkEntry, Tables}
import graft.operators.Indicators
import graft.queries.{Analytics, NormalizeQueries, Relational, Serving, WindowQueries}

/** What a workload sees of the run: the session, the tracer, the seeded
  * random source, the data dirs and the run's counters. */
final class Ctx(val spark: SparkSession, val trace: Tracer, val seed: Long,
                val data: String, val warmData: String, val oracle: String,
                val work: String, val checks: Boolean = true) {
  val rng = new Random(seed)
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Latency of each timed operation, in seconds, in run order. */
  val ops = mutable.ArrayBuffer.empty[Double]
  /** Figures a workload adds up over the run beside its spans. */
  val sums = mutable.LinkedHashMap.empty[String, Double]
  /** Rows whose oracle answer is missing. */
  var unchecked = 0
  def sum(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  /** What a warm-up pass sees: the same run on `dir`, untraced, with
    * its own random stream and output checks off. */
  def forWarmUp(dir: String): Ctx = new Ctx(spark, trace, ~seed, dir, warmData, oracle, work,
    checks = false)

  def fail(what: String): Unit = {
    if (failures.size < 20) System.err.println(s"[perfbench] FAILED $what")
    failures += what
  }

  /** Runs `body` as one checked operation: an exception counts as a
    * failure instead of ending the run. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what: ${e.toString.take(200)}"); None }
  }

  /** Runs `body` as one timed operation. */
  def op[T](body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    ops += (System.nanoTime() - t0) / 1e9
    out
  }

  /** Construct, plan and run one DataFrame pipeline, each phase in its
    * own span. */
  def timed[T](build: => DataFrame)(action: DataFrame => T): T = {
    val df = trace("construct")(build)
    trace("plan")(df.queryExecution.executedPlan)
    trace("exec")(action(df))
  }
}

trait Workload {
  /** Passes a run makes at least, for enough latency samples. */
  def minPasses: Int = 1
  /** In set-up: inputs derived from the data and the seed. */
  def prepare(ctx: Ctx): Unit
  /** Once, after the set-up: the workload on the tiny data, so that the
    * timed passes run with JIT and codegen warm. */
  def warm(ctx: Ctx): Unit = pass(ctx.forWarmUp(ctx.warmData), 0)
  /** One timed pass at the main scale; checks its own outputs. */
  def pass(ctx: Ctx, n: Int): Unit
  /** After the last pass: output checks that need a separate run. */
  def verify(ctx: Ctx): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "serve" => new ServeWorkload
    case "analytics" => new AnalyticsWorkload
    case "write" => new WriteWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Registry rows timed by `analytics`, each with its family: every
    * third row, by name, of the relational, window and normalize
    * registries, so that a run fits its time budget. */
  def analyticsRows: Seq[(String, String)] =
    (Relational.queries.keys.map(_ -> "relational") ++
      Analytics.queries.keys.map(_ -> "relational") ++
      WindowQueries.queries.keys.map(_ -> "window") ++
      NormalizeQueries.queries.keys.map(_ -> "normalize")).toSeq.sortBy(_._1)
      .zipWithIndex.collect { case (r, i) if i % 3 == 0 => r }

  /** The maintained-channel families `write` times: the postings
    * index, whose fold launches the most jobs cold. */
  val Families: Seq[String] = Seq("bm25_wand_fold")

  /** Every registry row whose oracle answer the benchmark checks. */
  def checkedRows: Seq[String] =
    analyticsRows.map(_._1) ++ Families.map("q_" + _)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Opens and counts the input tables, as a batch job's set-up does. */
  def touch(ctx: Ctx, tables: String*): Long =
    tables.map(t => Tables.table(ctx.spark, ctx.data, t).count()).sum
}

/** Closed loop, one client: point reads and the indicator refresh over
  * `events`, keys drawn from a seeded Zipf. */
final class ServeWorkload extends Workload {
  private val RequestsPerPass = 10
  // 100 requests a run at least: the p90 then has 10 samples beyond it
  override val minPasses = 10
  private val Cols = Seq("event_id", "ts", "user_id", "event_type", "value")
  private val Ord = Seq(col("ts"), col("event_id"))
  /** Per key, rows newest first: (event_id, ts µs, user_id, type, value). */
  private var byKey: Map[Long, IndexedSeq[Seq[Any]]] = Map.empty
  private var newest: IndexedSeq[Seq[Any]] = IndexedSeq.empty
  private var keys: IndexedSeq[Long] = IndexedSeq.empty
  private var cdf: Array[Double] = Array.empty

  override def prepare(ctx: Ctx): Unit = {
    val all = Tables.events(ctx.spark, ctx.data).select(Cols.map(col): _*)
      .collect().toIndexedSeq.map(r => Cols.indices.map(i => Check.canon(r.get(i))))
    val desc = Ordering.by[Seq[Any], (Long, Long)](r =>
      (r(1).asInstanceOf[Long], r(0).asInstanceOf[Long])).reverse
    newest = all.sorted(desc)
    byKey = newest.groupBy(_(2).asInstanceOf[Long])
    keys = new Random(ctx.seed).shuffle(byKey.keys.toIndexedSeq.sorted)
    val w = keys.indices.map(i => 1.0 / (i + 1))
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def zipfKey(rng: Random): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    keys(math.min(if (i >= 0) i else -i - 1, keys.length - 1))
  }

  /** 30 requests on the real table: a server is timed warm, and the
    * tiny table leaves the first timed requests still compiling. */
  override def warm(ctx: Ctx): Unit = {
    val w = ctx.forWarmUp(ctx.data)
    for (n <- 0 until 3) pass(w, n)
  }

  private def indicators(bars: DataFrame): DataFrame =
    Indicators.withMacd(
      Indicators.withRsi(bars, "value", 14, Seq("user_id"), Ord),
      "value", Seq("user_id"), Ord)
      .select("event_id", "rsi", "macd", "macd_signal", "macd_hist")

  /** RSI(14) and MACD(12, 26, 9) of an oldest-first series, the plain way. */
  private def expectedIndicators(bars: IndexedSeq[Seq[Any]]): Seq[Seq[Any]] = {
    val v = bars.map(_(4).asInstanceOf[Double])
    def ema(x: IndexedSeq[Double], n: Int): IndexedSeq[Double] = {
      val a = 2.0 / (n + 1)
      x.tail.scanLeft(x.head)((e, xi) => a * xi + (1 - a) * e)
    }
    val macd = ema(v, 12).zip(ema(v, 26)).map { case (f, s) => f - s }
    val signal = ema(macd, 9)
    v.indices.map { i =>
      val diffs = (math.max(1, i - 14) to i).map(j => v(j) - v(j - 1))
      val rsi: Any = if (diffs.isEmpty) null else {
        val g = diffs.map(math.max(_, 0.0)).sum / diffs.size
        val l = diffs.map(d => math.max(-d, 0.0)).sum / diffs.size
        if (g + l > 0) 100.0 * (g / (g + l)) else null
      }
      Seq(bars(i)(0), rsi, macd(i), signal(i), macd(i) - signal(i))
    }
  }

  /** One pass is the request mix exactly, in seeded order: the run's
    * time then does not depend on how the seed happens to mix them. */
  private val Mix = Seq.fill(4)("latest") ++ Seq.fill(2)("history") ++
    Seq.fill(2)("olhc") ++ Seq("recent", "indicator")

  def pass(ctx: Ctx, n: Int): Unit = ctx.rng.shuffle(Mix).foreach(request(ctx, _))

  private def request(ctx: Ctx, kind: String): Unit = {
    val key = zipfKey(ctx.rng)
    val since = f"2024-01-${1 + ctx.rng.nextInt(30)}%02d ${ctx.rng.nextInt(24)}%02d:00:00"
    val (build, cols, expected) = kind match {
      case "latest" => ((ev: DataFrame) => Serving.latest(ev, key), Cols,
        () => byKey(key).take(1))
      case "history" => ((ev: DataFrame) => Serving.history(ev, key, 2000), Cols,
        () => byKey(key).take(2000))
      case "olhc" => ((ev: DataFrame) => Serving.olhcWindow(ev, key, since), Cols,
        () => {
          val lo = Check.canon(java.time.LocalDateTime.parse(since.replace(' ', 'T'))).asInstanceOf[Long]
          byKey(key).filter(_(1).asInstanceOf[Long] >= lo)
        })
      case "recent" => ((ev: DataFrame) => Serving.recentGlobal(ev, 6),
        Seq("event_id", "ts", "event_type", "value"),
        () => newest.take(6).map(r => Seq(r(0), r(1), r(3), r(4))))
      case "indicator" => ((ev: DataFrame) => indicators(Serving.history(ev, key, 20)),
        Seq("event_id", "rsi", "macd", "macd_signal", "macd_hist"),
        () => expectedIndicators(byKey(key).take(20).reverse))
    }
    val req = ctx.trace.newRequest()
    ctx.attempt(s"serve $kind key=$key") {
      val rows = ctx.op(ctx.trace(s"serve.$kind", req)(
        ctx.timed(build(Tables.events(ctx.spark, ctx.data)))(_.collect())))
      if (ctx.trace.enabled) ctx.sum("rows_returned", rows.length)
      val got = Check.rows(cols, rows)
      val want = Check.rows(cols, expected().map(Row.fromSeq).toArray)
      Check.compare(got, want).foreach(why => ctx.fail(s"serve $kind key=$key: $why"))
    }
  }
}

/** One pass over the relational, window and normalize registry rows in
  * seeded order, each materialized to the noop sink. */
final class AnalyticsWorkload extends Workload {
  private val rows = Workload.analyticsRows

  def prepare(ctx: Ctx): Unit =
    Workload.touch(ctx, "customer", "orders", "lineitem", "part", "supplier", "events")

  def pass(ctx: Ctx, n: Int): Unit =
    for ((name, family) <- ctx.rng.shuffle(rows)) {
      val req = ctx.trace.newRequest()
      ctx.attempt(name) {
        ctx.op(ctx.trace(s"row.$family", req)(
          ctx.timed(SparkEntry.queries(name)(ctx.spark, ctx.data))(Workload.noop)))
      }
    }

  /** Rows' results against the DuckDB answers of their oracle SQL: a
    * third of the rows per run, chosen by the seed, so that any three
    * consecutive seeds check them all. */
  override def verify(ctx: Ctx): Unit =
    for (((name, _), i) <- rows.zipWithIndex if Math.floorMod(i + ctx.seed, 3L) == 0)
      Oracle.check(ctx, name, SparkEntry.queries(name)(ctx.spark, ctx.data))
}

/** The write side: one full `CurationRun`, then the maintained channels,
  * in one pass. Its timed operations are the warm reads of the
  * maintained channels; the curation run and the cold steps count in the
  * pass time. */
final class WriteWorkload extends Workload {
  private val curate = new CurateWorkload
  private val maintain = new MaintainWorkload

  def prepare(ctx: Ctx): Unit = { curate.prepare(ctx); maintain.prepare(ctx) }
  def pass(ctx: Ctx, n: Int): Unit = { curate.pass(ctx, n); maintain.pass(ctx, n) }
}

/** One full `CurationRun` into a fresh directory, one stage at a time. */
final class CurateWorkload extends Workload {
  private var epoch = 0
  private var docs = 0L
  private var expected = Map.empty[(String, String), Long]

  def prepare(ctx: Ctx): Unit = {
    docs = Workload.touch(ctx, "documents")
    Workload.touch(ctx, "embeddings")
    epoch = ctx.seed.toInt & 0xffff
    val src = scala.io.Source.fromFile(new File(ctx.oracle, "curate_report.tsv"), "UTF-8")
    try expected = src.getLines().map(_.split("\t")).map(a => (a(0), a(1)) -> a(2).toLong).toMap
    finally src.close()
  }

  def pass(ctx: Ctx, n: Int): Unit = {
    val out = s"${ctx.work}/curate-$n"
    val req = ctx.trace.newRequest()
    for (stage <- CurationRun.Stages) ctx.attempt(s"curate $stage") {
      val ran = ctx.trace(s"curation.$stage", req)(
        CurationRun.run(ctx.spark, ctx.data, out, stopAfter = Some(stage), shuffleEpoch = epoch))
      if (ran != Seq(stage)) ctx.fail(s"curate $stage: ran ${ran.mkString(",")}")
    }
    ctx.attempt("curate report") {
      val report = ctx.spark.read.parquet(s"$out/report").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      if (ctx.checks && report.values.sum != docs)
        ctx.fail(s"curate report: counts sum to ${report.values.sum}, not $docs docs")
      if (ctx.checks && report != expected)
        ctx.fail(s"curate report: ${report.toSeq.sorted.take(6)} vs recorded ${expected.toSeq.sorted.take(6)}")
    }
    Harness.deleteTree(new File(out))
  }
}

/** The maintained channels of [[Workload.Families]], each cold (its
  * artifacts built from a fresh alias of the data dir) and then warm
  * (served from the artifacts the cold step built), several times. */
final class MaintainWorkload extends Workload {
  private val WarmReads = 5
  /** Jobs of each family's first cold step: the warm-up's, which runs on
    * the same documents and embeddings. */
  private var firstColdJobs = Map.empty[String, Long]
  private var aliases = 0
  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  private def artifactDirs: Set[File] =
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft-ann-art")).toSet

  /** A fresh directory of hard links to the data files: a new input dir
    * and so a new artifact-cache key, at no copy cost. */
  private def alias(ctx: Ctx): String = {
    aliases += 1
    val dir = new File(ctx.work, s"alias-$aliases")
    dir.mkdirs()
    for (f <- new File(ctx.data).listFiles() if f.isFile)
      Files.createLink(new File(dir, f.getName).toPath, f.toPath)
    dir.getPath
  }

  def prepare(ctx: Ctx): Unit = Workload.touch(ctx, "documents", "embeddings")

  def pass(ctx: Ctx, n: Int): Unit = {
    val d = alias(ctx)
    val before = artifactDirs
    for (f <- Workload.Families) {
      val row = SparkEntry.queries(s"q_$f")
      val req = ctx.trace.newRequest()
      val seen = artifactDirs
      ctx.trace.drain()
      val jobs0 = ctx.trace.jobs.get
      ctx.attempt(s"maintain $f") {
        ctx.trace(s"maintain.$f.cold", req)(ctx.timed(row(ctx.spark, d))(Workload.noop))
        ctx.trace.drain()
        val jobs = ctx.trace.jobs.get - jobs0
        val built = artifactDirs -- seen
        for (_ <- 1 to WarmReads)
          ctx.op(ctx.trace(s"maintain.$f.warm", req)(ctx.timed(row(ctx.spark, d))(Workload.noop)))
        // proof that the cold step ran cold and the warm ones warm: the
        // cold step built artifacts with as many jobs as the first cold
        // step, the warm ones built none
        if (built.isEmpty) ctx.fail(s"maintain $f: the cold step built no artifacts")
        if ((artifactDirs -- seen -- built).nonEmpty) ctx.fail(s"maintain $f: a warm step rebuilt")
        firstColdJobs.get(f) match {
          case None => firstColdJobs += f -> jobs
          case Some(j) if j != jobs => ctx.fail(s"maintain $f: cold step ran $jobs jobs, the first ran $j")
          case _ =>
        }
        val bytes = built.toSeq.map(Harness.treeBytes).sum.toDouble
        ctx.sum(s"${f}_artifact_bytes", bytes)
        ctx.sum("artifact_bytes", bytes)
      }
      // the warm output against its oracle answer, untimed
      Oracle.check(ctx, s"q_$f", row(ctx.spark, d))
    }
    ctx.sum("input_bytes",
      Seq("documents", "embeddings").map(t => new File(d, s"$t.parquet").length).sum.toDouble)
    (artifactDirs -- before).foreach(Harness.deleteTree)
    Harness.deleteTree(new File(d))
  }
}

/** Result checks against DuckDB answers stored beside the data. */
object Oracle {
  def check(ctx: Ctx, name: String, got: => DataFrame): Unit = {
    val answer = new File(ctx.oracle, s"$name.parquet")
    if (!ctx.checks) ()
    else if (!answer.exists) ctx.unchecked += 1
    else ctx.attempt(s"check $name") {
      Check.compare(got, ctx.spark.read.parquet(answer.getPath))
        .foreach(why => ctx.fail(s"$name: $why"))
    }
  }
}
