package perfbench

import java.nio.file.{Files, Path, Paths}

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the recorder, its seed and a scratch
  * directory inside the checkout. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long, val work: Path) {
  def tr: Tracer = rec.tracer
  def rng(salt: Long): java.util.SplittableRandom = new java.util.SplittableRandom(seed * 1000003L + salt)
}

trait Workload {
  def name: String
  /** The op kinds pooled into the traced record's `op.*` latencies. */
  def primary: Seq[String]
  /** Benchmark-side expectations computed once per run, untimed and
    * without program code. */
  def prepare(ctx: Ctx): Unit = ()
  /** Builds the workload's tables and expectations under `dir`; the state
    * of the last call is the one measured. */
  def setup(ctx: Ctx, dir: Path): Unit
  /** Whether passes run before measuring (see [[Main.WarmSeconds]]). */
  def warm: Boolean = true
  /** One pass of the op mix (its summed op latency is one `pass_s` sample). */
  def pass(ctx: Ctx): Unit
  /** Run-end checks and counters, outside the measured window. */
  def finish(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  /** Passes run before measuring (JIT, codegen and caches warm up); their
    * checks still count, their timings are dropped. */
  val WarmSeconds = 2.0

  val Workloads: Map[String, () => Workload] = Map(
    "ingest_query" -> (() => new IngestQuery),
    "dml_cdc" -> (() => new DmlCdc),
    "llm_curation" -> (() => new LlmCuration))

  /** End-to-end metrics (name, unit), printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_ratio" -> "ratio", "heap_live_mb" -> "MB", "pass_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val wlName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val make = Workloads.getOrElse(wlName, usage(s"unknown workload $wlName"))
    val buildDir = Paths.get(sys.props.getOrElse("perfbench.buildDir", ".bench_build")).toAbsolutePath
    val work = buildDir.resolve("work").resolve(s"$wlName-${ProcessHandle.current().pid()}")
    LogFiles.deleteTree(work)
    Files.createDirectories(work)

    val loadBefore = Host.loadAvg
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .config("spark.graft.catalog.snapshotCacheSize", IngestQuery.CacheSize.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder(new Tracer(trace))
    val ctx = new Ctx(spark, rec, seed, work)
    val wl = make()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phases("jvm_spark") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try {
      phase("prepare")(wl.prepare(ctx))
      val setupS = (0 until SetupReps).map { i =>
        val dir = work.resolve(s"setup$i")
        if (i > 0) LogFiles.deleteTree(work.resolve(s"setup${i - 1}"))
        val t0 = System.nanoTime()
        wl.setup(ctx, dir)
        (System.nanoTime() - t0) / 1e9
      }

      phase("warm") {
        val warmUntil = System.nanoTime() + (WarmSeconds * 1e9).toLong
        if (wl.warm) do wl.pass(ctx) while (System.nanoTime() < warmUntil)
      }
      rec.resetMeasurements()

      val gc0 = Host.gcMs
      val cpu0 = Host.cpuNs
      val (steal0, jiffies0) = Host.stealJiffies
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) {
        rec.startPass()
        wl.pass(ctx)
        rec.endPass()
      }
      val wallNs = System.nanoTime() - t0
      val cpuPerWall = (Host.cpuNs - cpu0).toDouble / wallNs
      val gcMs = (Host.gcMs - gc0).toDouble
      val stealRatio = Host.stealJiffies match {
        case (s, j) if j > jiffies0 => (s - steal0).toDouble / (j - jiffies0)
        case _ => 0.0
      }
      phases("measure") = wallNs / 1e9
      phase("finish")(wl.finish(ctx))
      val heapMb = Host.liveHeapMb
      val loadAfter = Host.loadAvg

      val prim = wl.primary.flatMap(k => rec.latMs.getOrElse(k, Seq.empty[Double]))
      rec.runEndCheck(prim.nonEmpty, s"no successful ${wl.primary.mkString("/")} op")
      val primTail = if (prim.isEmpty) Stats.Tail(50, 0, 0, defined = false) else Stats.tail(prim)
      val primP50 = if (prim.isEmpty) 0.0 else Stats.median(prim)
      val e2e = Map(
        "setup_s" -> Stats.median(setupS),
        "ok_ratio" -> (rec.attempted - rec.failed).toDouble / math.max(1L, rec.attempted),
        "heap_live_mb" -> heapMb,
        "pass_s" -> (if (rec.passMs.isEmpty) 0.0 else Stats.median(rec.passMs.toSeq) / 1000.0))

      // op-kind latencies and host state, derived the same way in both modes
      for ((kind, xs) <- rec.latMs if xs.nonEmpty) {
        val t = Stats.tail(xs.toSeq)
        rec.put(s"$kind.p50_ms", Stats.median(xs.toSeq))
        rec.put(s"$kind.tail_ms", t.value)
        rec.put(s"$kind.tail_pct", t.pct)
        rec.put(s"$kind.n", xs.size)
      }
      rec.put("op.p50_ms", primP50)
      rec.put("op.tail_ms", primTail.value)
      rec.put("op.tail_pct", primTail.pct)
      rec.put("op.n", primTail.n)
      rec.put("jvm.gc_ms", gcMs)
      rec.put("jvm.cpu_per_wall", cpuPerWall)
      rec.put("host.loadavg_before", loadBefore)
      rec.put("host.loadavg_after", loadAfter)
      rec.put("host.steal_ratio", stealRatio)
      rec.put("trace.overhead_ratio", rec.tracer.overheadNs.toDouble / wallNs)
      rec.put("trace.e2e_gap_ratio", GapFile.gap(buildDir, wlName, trace, primP50))

      println(s"record workload=$wlName seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
        s"cpus=$cpus setups=${setupS.map(s => f"$s%.3f").mkString(",")} passes=${rec.passMs.size} " +
        s"attempted=${rec.attempted} failed=${rec.failed}")
      println("phases " + phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
      println(f"host loadavg_before=$loadBefore%.2f loadavg_after=$loadAfter%.2f " +
        f"cpu_per_wall=$cpuPerWall%.3f steal_ratio=$stealRatio%.3f gc_ms=$gcMs%.0f")
      println(f"tail primary=${wl.primary.mkString("/")} pct=${primTail.pct}%.1f n=${primTail.n} defined=${primTail.defined}")
      for ((kind, xs) <- rec.latMs) println(s"samples $kind ms=${xs.map(x => f"$x%.0f").mkString(",")}")
      rec.failures.foreach(f => println(s"failure $f"))
      for ((n, u) <- EndToEnd) println(f"metric $n%-28s ${e2e(n)}%14.4f $u")
      for ((n, u) <- PerLayer.Names) println(f"layer  $n%-44s ${rec.layer.getOrElse(n, 0.0)}%14.4f $u")
      if (trace) rec.tracer.writeJsonl(buildDir.resolve("spans").resolve(s"$wlName-seed$seed.jsonl"))

      val metrics =
        if (trace) PerLayer.Names.map { case (n, u) => n -> (rec.layer.getOrElse(n, 0.0), u) }
        else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      val body = metrics.map { case (n, (v, u)) =>
        val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
        s""""$n": {"value": $num, "unit": "$u"}"""
      }.mkString(", ")
      val correct = rec.failed == 0 && rec.attempted > 0
      println(s"""{"correct": $correct, "attempted": ${math.max(1L, rec.attempted)}, "failed": ${rec.failed}, "metrics": {$body}}""")
    } finally {
      spark.stop()
      LogFiles.deleteTree(work)
    }
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.keys.toSeq.sorted.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }
}

/** The gap between a traced run's primary median and the latest untraced
  * run of the same workload in this checkout (0 when there is none). */
object GapFile {
  def gap(buildDir: Path, workload: String, traced: Boolean, p50: Double): Double = {
    val f = buildDir.resolve("records").resolve(s"$workload.untraced_p50_ms")
    if (!traced) {
      Files.createDirectories(f.getParent)
      Files.writeString(f, p50.toString)
      0.0
    } else if (Files.exists(f)) {
      val base = Files.readString(f).trim.toDouble
      if (base > 0) p50 / base - 1.0 else 0.0
    } else 0.0
  }
}
