package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.core.Sessions

/** One benchmark run in one JVM: set up (session creation and the
  * workload's untimed warm-up pass), then run timed passes, one after
  * another, until `--seconds` have passed and at least two passes ran. With `--trace 1` every other
  * pass records spans and listener tallies; the passes in between give the
  * untraced time the tracing overhead is measured against. Writes the raw
  * run record to `--out`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE --cores N [--queries q1,q2,...]
  */
object Main {

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }

  @volatile private var probeSink = 0L

  /** A fixed single-thread CPU workload (the same xorshift loop as
    * `Bench.cpuProbeMs`): its wall time shows host contention. */
  private def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 10000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink = x
    (System.nanoTime() - t0) / 1e6
  }

  private def peakRssMib(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  private def host(): Map[String, Any] =
    Map("loadavg_1m" -> loadAvg(), "cpu_probe_ms" -> cpuProbeMs())

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    cpuProbeMs() // JIT the probe loop before the first reading
    val hostBefore = host()
    val t0 = System.nanoTime()

    val spark = Sessions.local(a("cores").toInt, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val tr = new Trace(sc, t0)
    val wl = Workload(a("workload"), spark, a("data"), a("work"), tr, a("seed").toLong,
      a.get("queries").toSeq.flatMap(_.split(',')))
    wl.warm()
    val setupS = (System.nanoTime() - t0) / 1e9

    val tally = new Tally
    val passes = mutable.ArrayBuffer[PassRec]()
    val m0 = System.nanoTime()
    // at least two passes, so every run has the same pass positions
    while (passes.size < 2 || (System.nanoTime() - m0) / 1e9 < seconds) {
      val i = passes.size
      val p = new PassRec(i, trace && i % 2 == 0)
      System.gc() // every pass starts from the same heap state
      if (p.traced) sc.addSparkListener(tally)
      tr.on = p.traced
      tr.pass = i
      val p0 = System.nanoTime()
      try wl.pass(p)
      catch { case e: Exception => p.error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      p.seconds = (System.nanoTime() - p0) / 1e9 - p.untimedS
      tr.on = false
      if (p.traced) {
        p.tally = tally.take(sc)
        sc.removeSparkListener(tally)
        p.self = tr.selfSeconds(i)
      }
      if (p.error.isEmpty)
        try wl.after(p)
        catch { case e: Exception => p.error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      if (p.error.nonEmpty && p.ops.forall(_._3)) {
        val failed = p.ops.map { case (n, ms, _) => (n, ms, false) }
        p.ops.clear()
        p.ops ++= (if (failed.isEmpty) Seq(("pass", p.seconds * 1e3, false)) else failed)
      }
      passes += p
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    val record = Map(
      "workload" -> a("workload"), "seed" -> a("seed").toLong, "trace" -> trace,
      "seconds" -> seconds,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> a("cores").toInt,
        "heap_max_mib" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")),
        "before" -> hostBefore, "after" -> host()),
      "config" -> spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1).toMap,
      "setup_s" -> setupS, "session_s" -> sessionS, "measured_s" -> measuredS,
      "passes" -> passes.map(p => Map(
        "seconds" -> p.seconds, "traced" -> p.traced, "error" -> p.error,
        "ops" -> p.ops.map { case (n, ms, ok) => Seq(n, ms, ok) },
        "counts" -> p.counts, "self" -> p.self,
        "tally" -> p.tally.map { case (layer, t) => layer -> Map(
          "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks, "list_tasks" -> t.listTasks,
          "task_ms" -> t.taskMs, "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
          "gc_ms" -> t.gcMs, "peak_mem_bytes" -> t.peakMem) })),
      "failures" -> wl.failures.map { case (n, d) => s"$n: $d" },
      "spans" -> (if (trace) tr.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.start / 1e9, s.end / 1e9, s.pass)) else Nil),
      "peak_rss_mib" -> peakRssMib(), "jvm_s" -> (System.nanoTime() - t0) / 1e9) ++ wl.extra
    Files.writeString(Paths.get(a("out")),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(record))
    spark.stop()
  }
}
