package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.core.Caches
import graft.ingest.{Ledger, ListenIngest}
import graft.pipeline.EventsPipeline
import graft.streaming.StreamingIngest

/** One measured unit of work: its wall time, the operations in it (name,
  * ms, output correct), row/file counts and, when traced, per-layer self
  * seconds and listener tallies. */
final class PassRec(val index: Int, val traced: Boolean) {
  var seconds = 0.0
  /** Time spent inside the pass on the environment's work (landing files). */
  var untimedS = 0.0
  val ops = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val counts = mutable.LinkedHashMap[String, Double]()
  var self = Map.empty[String, Double]
  var tally = Map.empty[String, Tally#Acc]
  var error: Option[String] = None
}

/** A workload on one session. `warm` is the untimed warm-up pass of set-up;
  * `after` checks each timed `pass`, untimed. Failed checks are collected
  * in `failures`. */
abstract class Workload(val spark: SparkSession, val data: String,
                        val work: String, val tr: Trace) {
  val failures = mutable.ArrayBuffer[(String, String)]()
  def warm(): Unit
  def pass(p: PassRec): Unit
  def after(p: PassRec): Unit = ()
  /** Workload-specific fields of the run record. */
  def extra: Map[String, Any] = Map.empty

  protected def check(p: PassRec, name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failures += ((name, detail))
      p.error = Some(s"$name: $detail")
    }

  protected def count1(): (Observation, DataFrame => DataFrame) = {
    val o = Observation()
    (o, df => df.observe(o, count(lit(1)).as("n")))
  }

  protected def obsLong(o: Observation, key: String): Long =
    o.get.get(key) match {
      case Some(n: Number) => n.longValue
      case _ => 0L
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
            tr: Trace, seed: Long, queries: Seq[String]): Workload = name match {
    case "etl" => new EtlDay(spark, data, work, tr)
    case "queries" => new Queries(queries, spark, data, work, tr, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  /** `readRaw` takes one path and `ingestTick` hands its callback a list:
    * bridge them with a brace glob over the file names. */
  def braceGlob(paths: Seq[String]): String = {
    val dirs = paths.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    require(dirs.size == 1, s"new files span several directories: $dirs")
    paths.map(p => p.substring(p.lastIndexOf('/') + 1)).mkString(s"${dirs.head}/{", ",", "}")
  }

  /** (data files, MiB) under `dir`, recursively; Spark's own markers and
    * checksum files are not data. */
  def dataFiles(dir: String): (Long, Double) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0.0)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator.asScala.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toSeq
        (fs.size.toLong, fs.map(Files.size).sum / 1048576.0)
      } finally s.close()
    }
  }
}

/** One day of the reference's ETL on a fresh lake: the backfill lands and
  * one ledger tick writes it to bronze with `writeBronze`; then small
  * batches land (new files, a renamed copy, a re-landed file) and each is
  * one more tick that appends to bronze; after every tick the streaming
  * ingest drains the landing directory on its own checkpoint; last, the
  * daily job reads bronze back and writes silver, gold and the per-user
  * peak days as parquet. Landing files is the environment's work and is
  * left out of the pass time. */
final class EtlDay(spark: SparkSession, data: String, work: String, tr: Trace)
    extends Workload(spark, data, work, tr) {
  private val plan = Workload.readJson(s"$data/plan.json")
  private val stage = s"$data/stage"
  private val backfill = plan.get("backfill")
  private val ticks: Seq[Seq[JsonNode]] =
    plan.get("ticks").elements.asScala.map(_.elements.asScala.toSeq).toSeq
  private def bf(k: String): Long = backfill.get(k).asLong
  private def planned(ops: Set[String], key: String): Long =
    ticks.flatten.filter(a => ops(a.get("op").asText)).map(_.get(key).asLong).sum
  private def op(a: JsonNode): String = a.get("op").asText
  private val backfillFiles = backfill.get("files").elements.asScala.map(_.asText).toSeq

  private final class TickRec {
    var files, raw, corrupt = 0L
    var bronze: Observation = _
  }
  private var lake = ""
  private def landing = s"$lake/landing"
  private val recs = mutable.ArrayBuffer[TickRec]()
  private var obs = Map.empty[String, Observation]
  private var listed, hashed = 0L

  private val streamRows = new java.util.concurrent.atomic.AtomicLong
  private val streamBatches = new java.util.concurrent.atomic.AtomicLong
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        streamRows.addAndGet(e.progress.numInputRows)
        streamBatches.incrementAndGet()
      }
  })

  def warm(): Unit = {
    val p = new PassRec(-1, false)
    pass(p); after(p)
  }

  /** Copy staged files into the landing directory (untimed). */
  private def land(p: PassRec, files: Seq[(String, String)]): Unit = {
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(landing))
    files.foreach { case (name, src) =>
      Files.copy(Paths.get(stage, src), Paths.get(landing, name), StandardCopyOption.REPLACE_EXISTING)
    }
    hashed += files.size
    listed += new File(landing).list().length
    p.untimedS += (System.nanoTime() - t0) / 1e9
  }

  /** One ledger tick; its callback parses the new files and hands bronze
    * to `write`. */
  private def tick(p: PassRec, name: String)(write: DataFrame => Unit): Unit = {
    val r = new TickRec
    recs += r
    val t0 = System.nanoTime()
    tr.span("ledger") {
      Ledger.ingestTick(spark, landing, s"$lake/ledger") { paths =>
        r.files = paths.size
        val raw = tr.span("listen_ingest.read") {
          val df = ListenIngest.readRaw(spark, Workload.braceGlob(paths))
          val c = df.agg(count(lit(1)), count(col(ListenIngest.CorruptCol))).head()
          r.raw = c.getLong(0); r.corrupt = c.getLong(1)
          df
        }
        tr.span("listen_ingest.bronze") {
          val (o, observe) = count1()
          r.bronze = o
          write(observe(ListenIngest.bronze(raw)))
        }
      }
    }
    p.ops += ((name, (System.nanoTime() - t0) / 1e6, true))
  }

  private def stream(): Unit = tr.span("streaming_ingest") {
    StreamingIngest.runOnce(spark, landing, s"$lake/stream_bronze", s"$lake/checkpoint")
  }

  def pass(p: PassRec): Unit = {
    lake = s"$work/day-${p.index}"
    recs.clear(); obs = Map.empty; listed = 0; hashed = 0
    streamRows.set(0); streamBatches.set(0)
    land(p, backfillFiles.map(n => (n, n)))
    tick(p, "backfill")(ListenIngest.writeBronze(_, s"$lake/bronze"))
    stream()
    ticks.foreach { acts =>
      land(p, acts.map(a => (a.get("name").asText, a.get("src").asText)))
      // writeBronze overwrites; an incremental tick appends
      tick(p, "tick")(_.write.partitionBy("user_name").mode("append").parquet(s"$lake/bronze"))
      stream()
    }
    tr.span("listen_ingest.silver") {
      val (o, observe) = count1()
      obs += "silver" -> o
      observe(ListenIngest.silver(spark.read.parquet(s"$lake/bronze")))
        .write.parquet(s"$lake/silver")
    }
    tr.span("listen_ingest.gold") {
      val daily = Observation()
      obs += "gold" -> daily
      ListenIngest.goldDaily(spark.read.parquet(s"$lake/silver"))
        .observe(daily, count(lit(1)).as("n"), sum(col("listen_count")).as("listens"))
        .write.parquet(s"$lake/gold_daily")
      val (o, observe) = count1()
      obs += "peak" -> o
      observe(ListenIngest.goldTop3Days(spark.read.parquet(s"$lake/gold_daily")))
        .write.parquet(s"$lake/gold_peaks")
    }
  }

  override def after(p: PassRec): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    val bronzeRows = recs.map(r => obsLong(r.bronze, "n"))
    val silver = obsLong(obs("silver"), "n")
    val listens = obsLong(obs("gold"), "listens")
    val perUser = spark.read.parquet(s"$lake/gold_peaks").groupBy("user_name").count()
      .agg(count(lit(1)), max(col("count"))).head()
    val batchBronze = spark.read.parquet(s"$lake/bronze").count()
    val streamBronze = spark.read.parquet(s"$lake/stream_bronze").count()
    val (bFiles, bMb) = Workload.dataFiles(s"$lake/bronze")
    val (sFiles, _) = Workload.dataFiles(s"$lake/silver")
    val (gFiles, _) = Workload.dataFiles(s"$lake/gold_daily")
    val (pFiles, _) = Workload.dataFiles(s"$lake/gold_peaks")
    val rowsIn = recs.map(_.raw).sum
    p.counts ++= Seq(
      "ledger.files_listed" -> listed, "ledger.files_hashed" -> hashed,
      "ledger.files_new" -> recs.map(_.files).sum, "ledger.rows" -> rowsIn,
      "listen_ingest.rows_in" -> rowsIn, "listen_ingest.corrupt_rows" -> recs.map(_.corrupt).sum,
      "listen_ingest.input_mb" -> (bf("bytes") + planned(Set("new"), "bytes")) / 1048576.0,
      "listen_ingest.bronze_rows" -> bronzeRows.sum, "listen_ingest.bronze_files" -> bFiles,
      "listen_ingest.bronze_mb" -> bMb, "listen_ingest.silver_rows" -> silver,
      "listen_ingest.dup_dropped" -> (batchBronze - silver), "listen_ingest.silver_files" -> sFiles,
      "listen_ingest.gold_rows" -> obsLong(obs("gold"), "n"),
      "listen_ingest.peak_rows" -> obsLong(obs("peak"), "n"),
      "streaming_ingest.rows" -> streamRows.get, "streaming_ingest.batches" -> streamBatches.get,
      "streaming_ingest.files" -> (backfillFiles.size + ticks.flatten.count(op(_) != "reland")),
      "lake.files_written" -> (bFiles + sFiles + gFiles + pFiles)
    ).map { case (k, v) => k -> v.toString.toDouble }

    val bfRec = recs.head
    check(p, "backfill files", bfRec.files == backfillFiles.size,
      s"${bfRec.files} != ${backfillFiles.size}")
    check(p, "backfill raw rows", bfRec.raw == bf("raw"), s"${bfRec.raw} != ${bf("raw")}")
    check(p, "backfill corrupt rows", bfRec.corrupt == bf("corrupt"), s"${bfRec.corrupt} != ${bf("corrupt")}")
    ticks.zip(recs.tail).zipWithIndex.foreach { case ((acts, r), i) =>
      val news = acts.filter(op(_) == "new")
      check(p, s"tick $i new files", r.files == news.size, s"${r.files} != ${news.size}")
      check(p, s"tick $i raw rows", r.raw == news.map(_.get("raw").asLong).sum,
        s"${r.raw} != ${news.map(_.get("raw").asLong).sum}")
    }
    recs.zip(bronzeRows).zipWithIndex.foreach { case ((r, b), i) =>
      check(p, s"tick $i bronze=raw-corrupt", b == r.raw - r.corrupt, s"$b != ${r.raw} - ${r.corrupt}")
    }
    val valid = bf("valid") + planned(Set("new"), "valid")
    check(p, "bronze rows", batchBronze == valid, s"$batchBronze != $valid")
    check(p, "silver=bronze-dups", silver == batchBronze - bf("dups"), s"$silver != $batchBronze - ${bf("dups")}")
    check(p, "sum(gold.listen_count)=silver", listens == silver, s"$listens != $silver")
    check(p, "peak_rows<=3/user", perUser.getLong(1) <= 3L, s"max ${perUser.get(1)} per user")
    check(p, "peak users", perUser.getLong(0) == plan.get("users").asLong,
      s"${perUser.getLong(0)} != ${plan.get("users").asLong}")
    val streamRaw = bf("raw") + planned(Set("new", "copy"), "raw")
    check(p, "stream input rows", streamRows.get == streamRaw, s"${streamRows.get} != $streamRaw")
    check(p, "stream bronze = batch bronze + renamed copies",
      streamBronze == valid + planned(Set("copy"), "valid"),
      s"$streamBronze != $valid + ${planned(Set("copy"), "valid")}")
    Caches.releaseScratch(spark)
  }
}

/** Registered queries run one after another, in an order permuted by the
  * seed, each written to the `noop` sink with a result fingerprint taken
  * in the same pass; scratch caches are released after each, as `Bench`
  * does. The warm-up pass writes every result as parquet instead, for the
  * oracle check, and its fingerprints (rows, and a sum of row hashes) are
  * the ones every later execution must reproduce. */
final class Queries(names: Seq[String], spark: SparkSession,
                    data: String, work: String, tr: Trace, seed: Long)
    extends Workload(spark, data, work, tr) {
  private val verified = mutable.Map[String, (Long, Long)]()
  private val warmMs = mutable.LinkedHashMap[String, Double]()
  private var silverBuildS = 0.0

  private def fingerprinted(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    (df.observe(o, count(lit(1)).as("n"),
      sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))).as("h")), o)
  }

  private def fp(o: Observation): (Long, Long) = (obsLong(o, "n"), obsLong(o, "h"))

  def warm(): Unit = {
    val t0 = System.nanoTime()
    EventsPipeline.silver(spark, data).count()
    silverBuildS = (System.nanoTime() - t0) / 1e9
    names.foreach { q =>
      val t0 = System.nanoTime()
      val (df, o) = fingerprinted(SparkEntry.queries(q)(spark, data))
      try {
        df.write.mode("overwrite").parquet(s"$work/verify/$q")
        warmMs(q) = (System.nanoTime() - t0) / 1e6
        verified(q) = fp(o)
      } finally Caches.releaseScratch(spark)
    }
  }

  def pass(p: PassRec): Unit = {
    val order = new scala.util.Random(seed * 1000003L + p.index).shuffle(names)
    order.foreach { q =>
      val t0 = System.nanoTime()
      val o = tr.span(s"query.$q") {
        val (df, o) = fingerprinted(SparkEntry.queries(q)(spark, data))
        if (tr.on) tr.span("query.plan")(df.queryExecution.executedPlan)
        df.write.format("noop").mode("overwrite").save()
        o
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val got = fp(o)
      val ok = verified.get(q).contains(got)
      check(p, s"fingerprint $q", ok, s"$got != ${verified.get(q)}")
      p.ops += ((q, ms, ok))
      Caches.releaseScratch(spark)
    }
  }

  override def extra: Map[String, Any] = Map(
    "silver_build_s" -> silverBuildS, "warm_ms" -> warmMs,
    "oracle_sql" -> names.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap,
    "verify_dir" -> s"$work/verify",
    "fingerprints" -> verified.map { case (q, (n, h)) => q -> Seq(n, h) })
}
