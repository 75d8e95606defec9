package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed, the length of the timed
  * region, the run's own work directory, and the record it reports into. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    work: String, rec: Record) {
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** A benchmark workload. Set-up runs [[setupRep]] several times (the
  * median is reported; the last repetition's state is what the timed
  * run uses), then [[warmup]] once. [[run]] is the timed region, [[check]]
  * verifies outputs outside it. */
trait Workload {
  def setupRep(i: Int): Unit
  def warmup(): Unit
  def run(seconds: Double): Unit
  def check(): Unit
  def close(): Unit = ()
}

/** Runs one workload once and writes its record.
  *
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR
  *  --record FILE --metrics FILE`, where the metrics file lists the metric
  * names BENCHMARK.json declares, one per line. */
object Main {
  val SetupReps = 3
  val SettleMaxMs = 2000L
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"

    // Names first: a catalogue that disagrees with BENCHMARK.json fails
    // here, before any set-up or timed work.
    val declared = Files.readAllLines(Paths.get(o("metrics")), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).toSet
    val (dryE2e, dryLayer) = Metrics.compute(new Record)
    val produced = dryE2e.keySet ++ dryLayer.keySet
    require(produced == declared,
      s"metric catalogue mismatch: missing ${(declared -- produced).toSeq.sorted}" +
        s", undeclared ${(produced -- declared).toSeq.sorted}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(o("work"), "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(o("work"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Autotune's derived session knobs apply; environment overrides do not.
    // Every program setting a workload depends on is a constructor argument.
    val audit = graft.Autotune.install(spark, env = Map.empty)
    val rec = new Record
    rec.info("autotune") = s"cores=${graft.Autotune.detectHost().cores} " +
      s"heap_mb=${audit.heapMb} ${audit.render}"
    rec.info("nproc") = Runtime.getRuntime.availableProcessors.toString
    rec.info("heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    rec.info("master") = spark.sparkContext.master
    Trace.start(spark.sparkContext, traced)
    val sessionMs = (System.currentTimeMillis() - jvmStartMs).toDouble
    rec.set("setup.session_ms", sessionMs)
    // where a run's wall time goes, on stderr
    def phase(name: String): Unit = System.err.println(f"[perfbench] $name%s " +
      f"at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s")
    phase("session ready")

    val ctx = Ctx(spark, seed, seconds, o("work"), rec)
    val wl: Workload = workload match {
      case "stream_backfill" => new StreamBackfill(ctx)
      case "curation_batch" => new CurationBatch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      for (i <- 0 until SetupReps) {
        val t0 = System.nanoTime()
        wl.setupRep(i)
        rec.add("setup.data", (System.nanoTime() - t0) / 1e6)
      }
      phase("set-up done")
      val w0 = System.nanoTime()
      wl.warmup()
      settle()
      rec.set("setup.warmup_ms", (System.nanoTime() - w0) / 1e6)
      rec.set("setup_s", (sessionMs + Stats.median(rec.get("setup.data")) +
        rec.value("setup.warmup_ms")) / 1000.0)

      phase("warm-up done")
      Trace.reset()
      val (gc0, jit0, cpu0) = (gcMs, jitMs, hostCpu)
      wl.run(seconds)
      rec.set("jvm.gc_ms", gcMs - gc0)
      rec.set("jvm.jit_ms", jitMs - jit0)
      val cpu = hostCpu.zip(cpu0).map { case (a, b) => a - b }
      if (cpu.sum > 0) rec.set("host.cpu_steal_ratio", cpu(7).toDouble / cpu.sum)
      phase("timed run done")
      wl.check()
      if (traced) attribute(rec)
      phase("checks done")
    } catch {
      case e: Throwable =>
        rec.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      try wl.close() catch { case e: Throwable => e.printStackTrace() }
      val (e2e, layer) = Metrics.compute(rec)
      Files.writeString(Paths.get(o("record")),
        Json.record(workload, seed, seconds, traced, rec, e2e, layer))
      try spark.stop() catch { case _: Throwable => () }
      phase("session stopped")
    }
  }

  /** Let the JIT finish compiling what set-up and warm-up made hot, so the
    * timed region does not share the cores with a compile backlog: wait
    * until a second passes with under 100 ms of compilation, at most
    * [[SettleMaxMs]]. */
  private def settle(): Unit = {
    System.gc()
    val until = System.nanoTime() + SettleMaxMs * 1000000L
    var last = jitMs
    var quiet = false
    while (!quiet && System.nanoTime() < until) {
      Thread.sleep(1000)
      val now = jitMs
      quiet = now - last < 100
      last = now
    }
  }

  /** The host's CPU time counters (`/proc/stat`, in ticks: user, nice,
    * system, idle, iowait, irq, softirq, steal); zeros where unavailable.
    * Steal is CPU time the hypervisor gave to other machines. */
  private def hostCpu: Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").slice(1, 9).map(_.toLong).toSeq
    catch { case _: Exception => Seq.fill(8)(0L) }

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum.toDouble
  private def jitMs: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Fold the trace into the record: per span name, its call count and the
    * Spark work charged to it; plus whole-run execution totals. */
  private def attribute(rec: Record): Unit = {
    val spans = Trace.spans()
    val work = Trace.listener.all
    spans.groupBy(_.name).foreach { case (name, ss) =>
      val ws = ss.flatMap(s => work.get(s.id))
      def sum(f: Work => Long) = ws.map(f).sum.toDouble
      rec.set(Metrics.spanKey(name, "count"), ss.size)
      rec.set(Metrics.spanKey(name, "jobs"), sum(_.jobs.sum))
      rec.set(Metrics.spanKey(name, "tasks"), sum(_.tasks.sum))
      rec.set(Metrics.spanKey(name, "inputBytes"), sum(_.inputBytes.sum))
      rec.set(Metrics.spanKey(name, "inputRecords"), sum(_.inputRecords.sum))
      rec.set(Metrics.spanKey(name, "outputBytes"), sum(_.outputBytes.sum))
    }
    Trace.selfMs(spans).foreach { case (name, ms) =>
      rec.set(Metrics.spanKey(name, "self_ms"), ms)
    }
    val all = work.values.toSeq
    rec.set("exec.jobs", all.map(_.jobs.sum).sum.toDouble)
    rec.set("exec.tasks", all.map(_.tasks.sum).sum.toDouble)
    rec.set("exec.shuffle_bytes", all.map(_.shuffleBytes.sum).sum.toDouble)
    rec.set("exec.spill_bytes", all.map(_.spillBytes.sum).sum.toDouble)
    // bytes the storage layer wrote: every span of the write path
    val writeSpans = spans.filter(s =>
      s.name.startsWith("table.") || s.name.startsWith("stream."))
    rec.set("table.bytes_written", writeSpans.flatMap(s => work.get(s.id))
      .map(_.outputBytes.sum).sum.toDouble)
  }
}

/** Just enough JSON for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def metrics(ms: Map[String, Metric]): String =
    obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit),
        "n" -> m.n.toString, "stat" -> str(m.stat)))
    })

  def record(workload: String, seed: Long, seconds: Double, traced: Boolean,
      rec: Record, e2e: Map[String, Metric],
      layer: Map[String, Metric]): String =
    obj(Seq(
      "workload" -> str(workload),
      "seed" -> seed.toString,
      "seconds" -> num(seconds),
      "trace" -> (if (traced) "1" else "0"),
      "attempted" -> rec.attempted.toString,
      "failures" -> rec.failed.map(str).mkString("[", ", ", "]"),
      "info" -> obj(rec.info.toSeq.map { case (k, v) => k -> str(v) }),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer),
      "samples" -> obj(rec.streams.toSeq.sortBy(_._1).map { case (k, xs) =>
        k -> xs.map(num).mkString("[", ", ", "]") }))) + "\n"
}
