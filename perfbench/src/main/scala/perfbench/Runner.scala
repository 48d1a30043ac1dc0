package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Bench, Tables}
import graft.mpp.MppEngine

/** Closed-loop statement runner: one client thread sends the next
  * statement only after the previous one has returned all its rows.
  *
  * Reads the statement plan that `run.py` generated from the workload
  * seed, times each statement from the call into the engine up to the
  * last row reaching this client, and writes one JSON record per
  * statement with its rows, so answers are checked after the run and
  * outside every timer. With `"trace": true` the same statements also
  * record spans (`mpp.sql`, `plan`, `exec`), Spark job/stage/task
  * counters attributed to the statement whose interval holds the job,
  * GC deltas and warehouse listing diffs.
  *
  * Usage: Runner <plan.json> <records.jsonl>
  */
object Runner {

  private val mapper = new ObjectMapper()

  final case class Stmt(id: Int, cls: String, sql: String, pre: Seq[String],
      explain: Boolean)

  private def stmts(node: JsonNode): Seq[Stmt] =
    node.elements().asScala.map { s =>
      Stmt(s.path("id").asInt(-1), s.path("cls").asText(), s.path("sql").asText(),
        s.path("pre").elements().asScala.map(_.asText()).toSeq,
        s.path("explain").asBoolean(false))
    }.toSeq

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val plan = mapper.readTree(new File(args(0)))
    val out = new PrintWriter(args(1), "UTF-8")
    def emit(n: ObjectNode): Unit = { out.println(mapper.writeValueAsString(n)); out.flush() }
    val trace = plan.path("trace").asBoolean(false)
    val dataDir = plan.path("data_dir").asText()
    val workDir = plan.path("work_dir").asText()
    val nproc = plan.path("nproc").asInt(4)

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Bench.defaultInitParts(dataDir).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    plan.path("sources").elements().asScala.map(_.asText()).foreach { t =>
      Tables(spark, dataDir, t).createOrReplaceTempView(t)
    }
    val sessionS = (System.nanoTime() - t00) / 1e9

    def runAll(node: JsonNode, engine: MppEngine): Double = {
      val t0 = System.nanoTime()
      for (s <- stmts(node)) {
        s.pre.foreach(p => engine.sql(p).collect())
        engine.sql(s.sql).collect()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // The engine, DDL and bulk load are repeated on a fresh warehouse each
    // time so every repetition does identical work; the last one is the
    // one measured. The warm-up then runs once on it.
    var engine: MppEngine = null
    var wh = ""
    val setupS = (0 until plan.path("setup_reps").asInt(1)).map { r =>
      val prev = wh
      wh = s"$workDir/wh$r"
      val t0 = System.nanoTime()
      engine = new MppEngine(spark, s"file:$wh")
      val sec = (System.nanoTime() - t0) / 1e9 + runAll(plan.path("setup"), engine)
      if (prev.nonEmpty) deleteTree(Paths.get(prev))
      sec
    }
    val setupBytes = dirBytes(Paths.get(wh))
    val warmupS = runAll(plan.path("warmup"), engine)
    val head = mapper.createObjectNode()
    head.put("type", "setup")
    head.put("session_s", sessionS)
    val reps = head.putArray("reps_s")
    setupS.foreach(s => reps.add(s))
    head.put("warmup_s", warmupS)
    head.put("warehouse_bytes", setupBytes)
    emit(head)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotals(): (Long, Long) =
      (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)
    val gc0 = gcTotals()
    var listing = if (trace) listFiles(Paths.get(wh)) else Map.empty[String, Long]
    val intervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val windowT0 = System.nanoTime()
    for (s <- stmts(plan.path("statements"))) {
      val gcBefore = if (trace) gcTotals() else (0L, 0L)
      val rec = mapper.createObjectNode()
      rec.put("type", "stmt")
      rec.put("id", s.id)
      rec.put("cls", s.cls)
      var w0 = System.currentTimeMillis()
      var t0 = System.nanoTime()
      try {
        s.pre.foreach(p => engine.sql(p).collect())
        w0 = System.currentTimeMillis()
        t0 = System.nanoTime()
        val (rows, df) =
          if (!trace) {
            val df = engine.sql(s.sql)
            (df.collect(), df)
          } else {
            val df = engine.sql(s.sql)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan
            val t2 = System.nanoTime()
            val rows = df.collect()
            val t3 = System.nanoTime()
            val sp = rec.putObject("spans")
            sp.put("mpp.sql", (t1 - t0) / 1e9)
            sp.put("plan", (t2 - t1) / 1e9)
            sp.put("exec", (t3 - t2) / 1e9)
            (rows, df)
          }
        rec.put("lat_s", (System.nanoTime() - t0) / 1e9)
        rec.put("ok", true)
        val w1 = System.currentTimeMillis()
        intervals += ((s.id, w0, w1))
        rec.put("t0_ms", w0)
        rec.put("t1_ms", w1)
        writeRows(rec, df, rows)
        if (trace && s.explain) rec.put("shards", engine.explainShards(df))
      } catch {
        case NonFatal(e) =>
          rec.put("lat_s", (System.nanoTime() - t0) / 1e9)
          rec.put("ok", false)
          rec.put("err", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
          intervals += ((s.id, w0, System.currentTimeMillis()))
      }
      if (trace) {
        val g = gcTotals()
        rec.put("gc_s", (g._1 - gcBefore._1) / 1e3)
        rec.put("gc_count", g._2 - gcBefore._2)
        val now = listFiles(Paths.get(wh))
        putListingDiff(rec.putObject("fs"), listing, now)
        listing = now
      }
      emit(rec)
    }
    val windowS = (System.nanoTime() - windowT0) / 1e9
    val gc1 = gcTotals()

    listener.foreach { l =>
      l.awaitQuiet()
      for ((id, n) <- l.attribute(intervals.toSeq)) {
        n.put("type", "jobs")
        n.put("id", id)
        emit(n)
      }
    }
    val end = mapper.createObjectNode()
    end.put("type", "end")
    end.put("window_s", windowS)
    end.put("gc_s", (gc1._1 - gc0._1) / 1e3)
    end.put("gc_count", gc1._2 - gc0._2)
    end.put("warehouse_bytes", dirBytes(Paths.get(wh)))
    end.put("peak_rss_mb", peakRssMb())
    emit(end)
    out.close()
    // Every record is written; skip the multi-second SparkContext stop.
    // The caller deletes the run's work directory.
    Runtime.getRuntime.halt(0)
  }

  private def writeRows(rec: ObjectNode, df: DataFrame, rows: Array[Row]): Unit = {
    val cols = rec.putArray("cols")
    df.schema.fieldNames.foreach(c => cols.add(c))
    val arr = rec.putArray("rows")
    rows.foreach { r =>
      val a = arr.addArray()
      (0 until r.length).foreach(i => addValue(a, r.get(i)))
    }
  }

  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case x: Long => a.add(x)
    case x: Int => a.add(x)
    case x: Short => a.add(x.toInt)
    case x: Byte => a.add(x.toInt)
    case x: Double => a.add(x)
    case x: Float => a.add(x.toDouble)
    case x: Boolean => a.add(x)
    case x: java.sql.Timestamp =>
      a.add(x.toLocalDateTime.toString.replace('T', ' '))
    case x: java.math.BigDecimal => a.add(x.toPlainString)
    case x => a.add(x.toString)
  }

  private def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally st.close()
    }

  private def dirBytes(root: Path): Long = listFiles(root).values.sum

  private val DeltaManifest = """.*\.d\d+\.json$""".r

  /** Files added and removed by one statement, split into the catalog
    * (`_mpp_catalog/`) and table storage; live and archived bytes after it. */
  private def putListingDiff(n: ObjectNode, before: Map[String, Long],
      after: Map[String, Long]): Unit = {
    def isCatalog(p: String) = p.startsWith("_mpp_catalog")
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    val (catAdded, dataAdded) = added.partition(isCatalog)
    n.put("catalog_files_written", catAdded.size)
    n.put("catalog_bytes_written", catAdded.toSeq.map(after).sum)
    n.put("catalog_full_manifests", catAdded.count(p =>
      p.contains("/manifests/") && p.endsWith(".json") &&
        DeltaManifest.findFirstIn(p).isEmpty))
    n.put("files_added", dataAdded.size)
    n.put("files_removed", removed.count(p => !isCatalog(p)))
    n.put("bytes_written", dataAdded.toSeq.map(after).sum)
    val data = after.filter { case (p, _) => !isCatalog(p) }
    val (archived, rest) = data.partition(_._1.contains("/.archive/"))
    // Live: bucket files outside hidden (staging, swap) directories.
    val live = rest.filter { case (p, _) =>
      p.contains("/bucket=") && !s"/$p".contains("/.")
    }
    n.put("live_files", live.size)
    n.put("live_bytes", live.values.sum)
    n.put("archive_bytes", archived.values.sum)
  }

  private def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
}
