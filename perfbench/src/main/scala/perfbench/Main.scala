package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * Usage (normally through `perfbench/run.py`, which builds the engine
  * and generates the inputs first):
  * {{{
  * perfbench.Main --workload <query_fixture|query_x10|ingest_mixed>
  *   --seed <n> --trace <0|1> --fixture <dir> --work <dir>
  *   [--batches <dir>] [--goldens <file>] [--record-goldens]
  *   [--setup-reps <n>] [--gen-s <s>]
  * }}}
  *
  * The process runs on `local[min(4, nproc)]`. It sets the engine up
  * `--setup-reps` times (a fresh session each time; the last one is
  * kept), then runs the workload's fixed schedule — one pass over the
  * query rows, or one ingest cycle — exactly once, however fast the code
  * is, so every run measures the same work. With `--trace 1` it instead
  * runs exactly three schedules — untraced, traced with the listeners of
  * [[Trace]] attached, untraced — and reports the per-layer metrics of
  * the traced one plus its slowdown over the last. It ends by printing
  * one line `PERFBENCH_RECORD <json>` on stdout.
  */
object Main {
  final case class Args(workload: String, seed: Long,
                        trace: Boolean, fixture: String, work: String,
                        batches: String, goldens: String, record: Boolean,
                        setupReps: Int, genS: Double)

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val flags = a.filter(_ == "--record-goldens").toSet
    def get(k: String, d: => String) = kv.getOrElse(k, d)
    Args(get("workload", sys.error("--workload is required")),
      get("seed", "0").toLong,
      get("trace", "0") == "1", get("fixture", sys.error("--fixture is required")),
      get("work", "."), get("batches", ""), get("goldens", ""),
      flags.nonEmpty, get("setup-reps", "2").toInt,
      get("gen-s", "0").toDouble)
  }

  /** What a workload needs from [[Main]]: the session and op timing. */
  final class Ctx(val args: Args) {
    var spark: SparkSession = _
    private var nextOp = 0
    val spans = ArrayBuffer.empty[Span]
    val notes = ArrayBuffer.empty[String]

    /** Time one operation under its own job group. `body` returns
      * whether its output was correct; a throw counts as a failure.
      */
    def op(kind: String, name: String, batch: Option[Long] = None)
          (body: (() => Unit) => Boolean): Span = {
      nextOp += 1
      val id = nextOp
      val sc = spark.sparkContext
      sc.setJobGroup(Layers.GroupPrefix + id, s"$kind:$name", interruptOnCancel = false)
      var built = -1L
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val ok = try body(() => built = System.currentTimeMillis())
        catch { case e: Throwable =>
          note(s"$kind $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        } finally sc.clearJobGroup()
      val s = Span(id, kind, name, t0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e6, ok, batch, built)
      spans += s
      s
    }

    def note(msg: String): Unit = {
      notes += msg.take(400)
      System.err.println(s"[perfbench] $msg")
    }
  }

  /** One workload: set-up, one schedule, and the end-of-run check. */
  trait Workload {
    /** Everything before the first timed op; called once per session. */
    def setup(ctx: Ctx): Map[String, Double]
    /** Stop what `setup` started outside the session (between set-ups
      * and at the end).
      */
    def release(ctx: Ctx): Unit
    /** Run one schedule (pass or cycle) and return its spans. */
    def schedule(ctx: Ctx, n: Int): Seq[Span]
    /** Untimed end-of-run verification; returns (attempted, failed). */
    def verify(ctx: Ctx): (Int, Int)
    /** Workload-specific report values (untimed, end of run). */
    def report(ctx: Ctx, traced: Boolean): Map[String, Double]
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def newSession(): SparkSession = {
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadavg(): Double = scala.util.Try(
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble).getOrElse(-1.0)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val load0 = loadavg()
    val ctx = new Ctx(args)
    val wl: Workload = args.workload match {
      case "query_fixture" | "query_x10" => new QueryWorkload(args)
      case "ingest_mixed" => new IngestWorkload(args)
      case w => sys.error(s"unknown workload $w")
    }
    // set-up, several times; each fresh session starts from nothing the
    // previous one left behind, so the median is one set-up's cost
    val setups = (1 to math.max(1, args.setupReps)).map { r =>
      if (r > 1) {
        wl.release(ctx)
        graft.Memo.clearAll()
        ctx.spark.stop()
      }
      val t0 = System.nanoTime()
      ctx.spark = newSession()
      val sessionMs = (System.nanoTime() - t0) / 1e6
      val parts = wl.setup(ctx)
      Map("setup_s" -> (System.nanoTime() - t0) / 1e9,
        "graft.session_start_ms" -> sessionMs) ++ parts
    }
    def setupMedian(k: String) = Stats.median(setups.map(_.getOrElse(k, 0.0)))
    val cachedBytes = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble

    val passWalls = ArrayBuffer.empty[Double]
    def runSchedule(n: Int): Seq[Span] = {
      val t0 = System.nanoTime()
      val s = wl.schedule(ctx, n)
      passWalls += (System.nanoTime() - t0) / 1e9
      s
    }
    var layers = Map.empty[String, Double]
    var attribution: Option[Layers.Attribution] = None
    if (!args.trace) runSchedule(0)
    else {
      // untraced, traced, untraced: the first schedule takes the JVM's
      // warm-up, and the traced one is compared with the untraced one
      // after it (any warm-up left counts against tracing)
      val tracer = new Trace(ctx.spark)
      runSchedule(0)
      val gc0 = gcMs()
      tracer.start()
      val traced = runSchedule(1)
      tracer.stop()
      val gc1 = gcMs()
      runSchedule(2)
      val (m, a) = Layers.compute(tracer, traced, Cores)
      attribution = Some(a)
      layers = m ++ IngestWorkload.TracedExtras.map(_ -> 0.0) ++ Map(
        "spark.gc_ms" -> (gc1 - gc0).toDouble,
        "bench.trace_overhead" ->
          (passWalls(1) / passWalls(2) - 1.0))
      val scratch = new java.io.File(graft.Scratch.dir("perfbench-probe")).getParentFile
      layers ++= Map(
        "graft.memo_build_ms" -> setupMedian("graft.memo_build_ms"),
        "graft.memo_cached_bytes" -> cachedBytes,
        "graft.scratch_bytes" -> (dirBytes(scratch) +
          dirBytes(new java.io.File(args.work, "target"))).toDouble)
      ctx.note(f"trace: traced schedule ${passWalls(1)}%.2f s, untraced" +
        f" ${passWalls(0)}%.2f s and ${passWalls(2)}%.2f s;" +
        s" jobs by group ${a.byGroup}, by sink label ${a.bySink}," +
        s" by time ${a.byTime}, unattributed ${a.unattributed}")
    }
    val report = wl.report(ctx, args.trace)
    val (vAttempted, vFailed) = wl.verify(ctx)
    wl.release(ctx)
    val load1 = loadavg()
    val spark = ctx.spark
    val host = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_before" -> load0, "loadavg_after" -> load1,
      "master" -> s"local[$Cores]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    graft.Memo.clearAll()
    spark.stop()

    val spans = ctx.spans.toSeq
    val primary = if (args.workload == "ingest_mixed") "commit" else "query"
    val lat = spans.filter(s => s.kind == primary && s.ok).map(_.latMs)
    val endToEnd = Map(
      "setup_s" -> setupMedian("setup_s"),
      "pass_s" -> Stats.median(passWalls.toSeq),
      "op_gmean_ms" -> Stats.gmean(lat))
    if (args.trace) layers ++= Map(
      "graft.session_start_ms" -> setupMedian("graft.session_start_ms"),
      "jvm.heap_peak_mb" -> heapPeakMb(),
      "bench.gen_s" -> args.genS,
      "bench.host_loadavg" -> load0) ++
      report.filter(_._1.startsWith("ingest."))
    val attempted = spans.size + vAttempted
    val failed = spans.count(!_.ok) + vFailed
    val record = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd, "per_layer" -> layers, "report" -> report,
      "passes" -> passWalls.toSeq, "setups" -> setups,
      "samples" -> Map("ops" -> lat.size, "passes" -> passWalls.size),
      "attribution" -> attribution.map(a => Map("by_group" -> a.byGroup,
        "by_sink_label" -> a.bySink, "by_time" -> a.byTime,
        "unattributed" -> a.unattributed, "spans" -> a.spans)).getOrElse(Map.empty),
      "host" -> host, "notes" -> ctx.notes.toSeq,
      "ops" -> spans.map(s => Map("kind" -> s.kind, "name" -> s.name,
        "ms" -> s.latMs, "ok" -> s.ok)))
    println("PERFBENCH_RECORD " + Json.render(record))
    System.out.flush()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Geometric mean (0 for an empty sample): every op weighs the same
    * whatever its size, so no single slow op sets the value.
    */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile (0 for an empty sample). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
