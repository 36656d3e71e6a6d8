package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

import graft.{Graft, GraftSession, GraftSql, QueryDef, SparkEntry, Tables}

/** Benchmark harness: one JVM, one Spark session (`local[cores]`), one
  * closed-loop client thread.
  *
  * `Harness <plan.json> <result.json>` reads a workload plan (statements,
  * per-pass order, ingest rounds), sets the engine up, runs one untimed warm
  * pass, then runs timed passes until the plan's time budget is spent, and
  * last runs the plan's known-defect probes once each, untimed. It
  * writes raw observations only: per-statement latency, result shape and
  * digest, setup phases, pass walls and, on traced runs, per-statement spans
  * and executor statistics. Metrics and output checks are computed by the
  * caller from that file.
  */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Stmt(id: String, kind: String, text: String, capture: Boolean,
      oracle: Boolean, path: Option[String], prepared: Option[String])
  final case class Write(day: String, lo: Long, size: Long, drop: Option[String])
  final case class Pass(write: Option[Write], stmts: Seq[Int])

  private def opt(n: JsonNode, k: String): Option[JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)

  private def parseWrite(n: JsonNode): Write =
    Write(n.get("day").asText, n.get("lo").asLong, n.get("size").asLong,
      opt(n, "drop").map(_.asText))

  private def parsePass(n: JsonNode): Pass =
    Pass(opt(n, "write").map(parseWrite), n.get("stmts").elements.asScala.map(_.asInt).toSeq)

  private def now(): Long = System.nanoTime()
  private def ms(from: Long, to: Long): Double = (to - from) / 1e6

  /** Wall-clock epoch ms of a nanoTime reading, to line spans up with
    * listener event times. */
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def epochMs(nano: Long): Double = epochBase + nano / 1e6

  def main(args: Array[String]): Unit = {
    val entered = now()
    val plan = mapper.readTree(new File(args(0)))
    val out = Paths.get(args(1))
    val dataDir = plan.get("data_dir").asText
    val workDir = Paths.get(plan.get("work_dir").asText)
    val seconds = plan.get("seconds").asDouble
    val traced = plan.get("trace").asBoolean
    val cores = plan.get("cores").asInt
    val stmts = plan.get("statements").elements.asScala.map { n =>
      Stmt(n.get("id").asText, n.get("kind").asText, n.get("text").asText,
        opt(n, "capture").exists(_.asBoolean), opt(n, "oracle").exists(_.asBoolean),
        opt(n, "path").map(_.asText), opt(n, "prepared").map(_.asText))
    }.toIndexedSeq
    val warm = plan.get("warm").elements.asScala.map(parsePass).toSeq
    val passes = plan.get("passes").elements.asScala.map(parsePass).toIndexedSeq
    val probes = opt(plan, "probes").map(_.elements.asScala.map(_.asInt).toSeq).getOrElse(Seq.empty)
    val minTimed = opt(plan, "min_timed").map(_.asInt).getOrElse(0)
    val ingest = opt(plan, "ingest")
    val verified: Map[String, Set[String]] = opt(plan, "verified").map { v =>
      v.properties.asScala.map(e => e.getKey -> e.getValue.elements.asScala.map(_.asText).toSet).toMap
    }.getOrElse(Map.empty)

    // ---- setup: session, prepare, registration, warm pass -----------------
    val setup = mutable.LinkedHashMap.empty[String, Double]
    var t = now()
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    setup("session.build_s") = ms(t, now()) / 1e3
    t = now()
    val graft = Graft(spark) // runs GraftSession.prepare on the session
    setup("session.prepare_s") = ms(t, now()) / 1e3

    val listener = if (traced) Some(new StatementListener) else None
    val planListener = if (traced) Some(new PlanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    planListener.foreach(spark.listenerManager.register)

    val registrations = mutable.ArrayBuffer.empty[Double]
    t = now()
    graft.registerDir(dataDir)
    val registerMs = ms(t, now())
    registrations += registerMs
    setup("tables.register_s") = registerMs / 1e3

    val defs: Map[String, QueryDef] = SparkEntry.allDefs.map(d => d.name -> d).toMap
    val ingestTable = ingest.map(_.get("table").asText).getOrElse("")
    val ingestDir = workDir.resolve("ingest")
    val writeMs = mutable.ArrayBuffer.empty[Double]
    var newFile = ""

    def writeDay(w: Write): Unit = {
      val t0 = now()
      val dayDir = ingestDir.resolve(s"dt=${w.day}")
      Tables.df(spark, dataDir, "events")
        .where(col("event_id") >= w.lo && col("event_id") < w.lo + w.size)
        .withColumn("ts", expr(s"timestampadd(DAY, datediff(DATE'${w.day}', to_date(ts)), ts)"))
        .coalesce(1).write.mode("overwrite").parquet(dayDir.toString)
      newFile = Files.list(dayDir).iterator.asScala
        .map(_.toString).find(_.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written under $dayDir"))
      w.drop.foreach(d => deleteTree(ingestDir.resolve(s"dt=$d")))
      writeMs += ms(t0, now())
      val t1 = now()
      graft.registerPartitioned(ingestTable, ingestDir.toString, "dt")
      registrations += ms(t1, now())
    }

    ingest.foreach { ing =>
      ing.get("initial").elements.asScala.map(parseWrite).foreach(writeDay)
      ing.get("prepare").elements.asScala.foreach { p =>
        graft.prepare(p.get(0).asText, p.get(1).asText)
      }
    }

    // ---- one statement ------------------------------------------------------
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val results = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, (Array[Row], StructType)]]
    val pathReads = mutable.ArrayBuffer.empty[Double]
    val watched = mutable.Map.empty[String, QueryExecution]
    var seq = 0

    def build(st: Stmt): DataFrame = st.kind match {
      case "sql" => graft.query(st.text.replace("{new_file}", newFile))
      case "def" => defs(st.text).run(spark, dataDir)
    }

    def runStatement(i: Int, pass: Int, trace: Boolean): Map[String, Any] = {
      val st = stmts(i)
      seq += 1
      val group = s"stmt-$seq"
      val rec = mutable.LinkedHashMap[String, Any]("i" -> i, "pass" -> pass)
      val spans = mutable.ArrayBuffer.empty[Seq[Any]]
      def span[A](name: String)(f: => A): A = {
        val a = now()
        try f finally spans += Seq(name, epochMs(a), epochMs(now()))
      }
      if (trace) {
        // The facade rewrites the dialect text and opens path tables inside
        // Graft.query; repeat those two calls just before the statement so
        // their cost is visible. The repeats sit outside the statement's
        // wall time and are subtracted from graft.build's self time.
        if (st.kind == "sql") span("graftsql.rewrite") {
          try GraftSql.rewrite(st.prepared.getOrElse(st.text).replace("{new_file}", newFile))
          catch { case _: Exception => () }
        }
        st.path.foreach { p =>
          val a = now()
          span("sources.path_read") {
            _root_.graft.sources.Formats.read(spark, p.replace("{new_file}", newFile)).schema
          }
          pathReads += ms(a, now())
        }
        spark.sparkContext.setJobGroup(group, st.id)
      }
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val start = now()
      try {
        val df = if (trace) span("graft.build")(build(st)) else build(st)
        val rows = if (trace) {
          val qe = df.queryExecution
          planListener.foreach(_.watch(qe))
          watched(group) = qe
          val optimized = span("optimizer.optimize")(qe.optimizedPlan)
          span("planner.plan")(qe.executedPlan)
          rec("plan_nodes") = optimized.collect { case p => p }.size
          rec("analysis_ms") = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
          span("exec.run")(df.collect())
        } else df.collect()
        val (digest, values) =
          if (trace) span("result.fetch")(consume(rows, st.capture)) else consume(rows, st.capture)
        val end = now()
        rec("ms") = ms(start, end)
        rec("ok") = true
        rec("rows") = rows.length
        rec("cols") = df.schema.length
        rec("digest") = digest
        if (st.capture) rec("values") = values
        if (st.oracle && !verified.getOrElse(st.id, Set.empty).contains(digest)) {
          val seen = results.getOrElseUpdate(st.id, mutable.LinkedHashMap.empty)
          if (!seen.contains(digest) && seen.size < 3) seen(digest) = (rows, df.schema)
        }
        if (trace) spans += Seq("statement", epochMs(start), epochMs(end))
      } catch {
        case e: Throwable =>
          rec("ms") = ms(start, now())
          rec("ok") = false
          rec("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}".take(300)
      } finally {
        if (trace) spark.sparkContext.clearJobGroup()
      }
      rec("compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      rec("compile_ms") = (CodeGenerator.compileTime - ct0) / 1e6
      if (trace) {
        rec("group") = group
        rec("spans") = spans.toSeq
      }
      rec.toMap
    }

    def runPass(p: Pass, index: Int, trace: Boolean): Double = {
      val a = now()
      p.write.foreach(writeDay)
      p.stmts.foreach(i => records += runStatement(i, index, trace))
      ms(a, now())
    }

    // ---- warm pass ------------------------------------------------------------
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ctt0 = CodeGenerator.compileTime
    t = now()
    warm.foreach(p => runPass(p, -1, trace = false))
    setup("setup.warm_pass_s") = ms(t, now()) / 1e3
    setup("codegen.setup_compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble
    setup("codegen.setup_compile_ms") = (CodeGenerator.compileTime - ctt0) / 1e6
    val setupEnd = now()
    setup("setup_s") = ms(entered, setupEnd) / 1e3

    // ---- timed passes ---------------------------------------------------------
    // Passes start until the deadline and always run to their end, so every
    // statement of the mix is timed equally often. Past the deadline, passes
    // still start while fewer than `minTimed` statements have been timed, up
    // to twice the budget.
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcMs()
    val deadline = setupEnd + (seconds * 1e9).toLong
    val hardStop = setupEnd + (2 * seconds * 1e9).toLong
    val warmRecords = records.size
    def timed = records.size - warmRecords
    while (passWalls.size < passes.size && (passWalls.isEmpty || now() < deadline ||
        (timed < minTimed && now() < hardStop)))
      passWalls += runPass(passes(passWalls.size), passWalls.size, traced) / 1e3
    val timedWall = ms(setupEnd, now()) / 1e3
    val timedGcMs = gcMs() - gc0

    // ---- known-defect probes: once each, untimed ------------------------------
    probes.foreach(i => records += runStatement(i, -2, trace = false))

    // ---- executor statistics for traced statements --------------------------
    listener.foreach { l =>
      BenchBus.drain(spark.sparkContext)
      val pl = planListener.get
      for (idx <- records.indices; g <- records(idx).get("group").map(_.toString)) {
        val s = l.stats(g)
        val facts = watched.get(g).flatMap(pl.of).getOrElse(PlanFacts(0, 0))
        records(idx) = records(idx) ++ Map(
          "jobs" -> s.jobs, "tasks" -> s.tasks, "executor_run_ms" -> s.runMs,
          "executor_cpu_ms" -> s.cpuNs / 1e6,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "spill_bytes" -> s.spillBytes, "input_bytes" -> s.inputBytes,
          "input_records" -> s.inputRecords, "aqe_updates" -> s.aqeUpdates,
          "stage_skews" -> s.stageSkews.toSeq,
          "jobs_spans" -> s.jobIntervals.map { case (a, b) => Seq(a.toDouble, b.toDouble) }.toSeq,
          "exchanges" -> facts.exchanges, "files_read" -> facts.filesRead)
      }
    }

    // ---- result dumps for the oracle comparison (outside every timing) ------
    val dumps = mutable.ArrayBuffer.empty[Map[String, String]]
    val dumpDir = workDir.resolve("dumps")
    val byId = stmts.map(s => s.id -> s).toMap
    for ((id, byDigest) <- results; ((digest, (rows, schema)), n) <- byDigest.zipWithIndex) {
      val dir = dumpDir.resolve(s"${id.replace(':', '_')}~$n").toString
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir)
      val st = byId(id)
      val oracle = if (st.kind == "def") defs(st.text).oracle else None
      dumps += Map("id" -> id, "digest" -> digest, "dir" -> dir) ++ oracle.map("oracle_sql" -> _.trim)
    }

    val result = Map(
      "setup" -> setup.toMap,
      "registrations_ms" -> registrations.toSeq,
      "ingest_write_ms" -> writeMs.toSeq,
      "path_reads_ms" -> pathReads.toSeq,
      "passes_s" -> passWalls.toSeq,
      "timed_wall_s" -> timedWall,
      "timed_gc_ms" -> timedGcMs,
      "records" -> records.toSeq,
      "dumps" -> dumps.toSeq,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    mapper.writeValue(out.toFile, result)
  }

  /** Consume every row: an order-independent digest of the result, plus the
    * first rows as text when the caller checks values. */
  private def consume(rows: Array[Row], capture: Boolean): (String, Seq[Seq[String]]) = {
    var a = 0L
    var b = 0L
    rows.foreach { r =>
      val s = r.toString
      a += MurmurHash3.stringHash(s, 0x5eed)
      b += MurmurHash3.stringHash(s, 0xbeef)
    }
    val values =
      if (capture) rows.take(20).map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
      else Seq.empty
    (f"${rows.length}%d-$a%016x-$b%016x", values)
  }

  /** Collection time of every garbage collector of this JVM so far: in
    * local mode the driver and the executors share it. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val files = Files.walk(p).iterator.asScala.toSeq.reverse
      files.foreach(Files.delete)
    }
}
