package perfbench

import java.io.{File, FileInputStream}
import java.time.LocalDate
import java.util.Properties
import java.util.zip.ZipFile

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

import graft.{QueryCatalog, Tables}
import graft.operators.DiffEngine
import graft.pipelines.Pipelines
import graft.sources.excel.{ExcelSink, Xlsx}

/** Closed-loop benchmark harness for one workload: one client issues one
  * operation at a time and waits for it. Runs a warm-up pass (set-up),
  * then whole timed passes until `seconds` have elapsed, and writes every
  * operation's time and check data as JSON for `run.py` to score.
  *
  * With tracing on, odd passes are traced: each phase of each operation
  * is a span timed around the benchmark's own call into the program, the
  * [[Tracer]] listener attributes Spark jobs and tasks to those spans, and
  * extra probe operations time the Excel layer's public functions on their
  * own. Even passes stay untraced so the tracing overhead can be measured.
  *
  * Usage: Harness <spec.properties>
  */
object Harness {

  /** One operation's record; `spans` holds (phase, start ns, end ns) and
    * `cpu` the process CPU seconds spent inside them. */
  final class OpRec(val id: String, val name: String) {
    val spans = mutable.ArrayBuffer[(String, Long, Long)]()
    val info = mutable.LinkedHashMap[String, Any]()
    var error: String = null
    var cpu = 0.0
    def seconds: Double = spans.map(s => s._3 - s._2).sum / 1e9
  }

  final case class Op(name: String, probe: Boolean, body: Ctx => Unit)

  final class Ctx(val spark: SparkSession, val rec: OpRec, val traced: Boolean) {
    def span[T](phase: String)(f: => T): T = {
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, phase)
      val cpu0 = Jvm.cpuSeconds
      val t0 = System.nanoTime()
      try f finally {
        rec.spans += ((phase, t0, System.nanoTime()))
        rec.cpu += Jvm.cpuSeconds - cpu0
        spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "check")
      }
    }
    def put(k: String, v: Any): Unit = rec.info(k) = v
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val p = new Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    def s(k: String) = Option(p.getProperty(k)).getOrElse(sys.error(s"spec lacks $k"))
    def list(k: String) = s(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val workload = s("workload")
    val seed = s("seed").toLong
    val seconds = s("seconds").toDouble
    val traceOn = s("trace") == "1"
    val cores = s("cores").toInt
    val sfDir = s("sf_dir")
    val workDir = s("work_dir")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (!traceOn) None else {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    }

    val ops: Seq[Op] = (workload match {
      case "relational" | "corpus" =>
        val byName = QueryCatalog.all.map(q => q.name -> q).toMap
        list("queries").map(n => catalogOp(byName(n), sfDir))
      case "excel-roundtrip" => excelOps(p, sfDir, workDir)
      case other => sys.error(s"unknown workload $other")
    }) ++ list("tables").map(n => tableProbe(n, sfDir))

    /** Pass `i`'s operation order; probes run only in traced passes. */
    def pass(i: Int, traced: Boolean): Seq[OpRec] = {
      val order = new Random(seed * 7919 + i).shuffle(ops.filter(o => traced || !o.probe))
      order.map { op =>
        val rec = new OpRec(s"$i:${op.name}", op.name)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, rec.id)
        val gc0 = Jvm.gcSeconds
        try op.body(new Ctx(spark, rec, traced))
        catch { case e: Throwable =>
          rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        // outside the timed window, as Bench does: count, then evict the
        // blocks the operation left behind
        val leaked = spark.sparkContext.getPersistentRDDs.values
        rec.info("blocks_leaked") = leaked.size
        rec.info("gc_s") = Jvm.gcSeconds - gc0
        leaked.foreach(_.unpersist(blocking = false))
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        rec
      }
    }

    val warm = pass(-1, traced = false)
    System.gc()
    val setupS = (System.nanoTime() - t0) / 1e9
    val passes = mutable.ArrayBuffer[(Boolean, Seq[OpRec])]()
    var heapPeak = 0.0
    val start = System.nanoTime()
    // at least two timed passes; a traced run brackets its traced pass
    // with untraced ones, so the passes' warming trend cancels out of the
    // tracing overhead
    val minPasses = if (traceOn) 3 else 2
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = traceOn && passes.size % 2 == 1
      passes += ((traced, pass(passes.size, traced)))
      // between passes, never inside one: the full GC also drains the
      // ContextCleaner's backlog before the next pass, as Bench does
      heapPeak = math.max(heapPeak, Jvm.liveHeapMb())
    }
    tracer.foreach { t =>
      Tracer.drain(spark.sparkContext)
      passes.filter(_._1).foreach(_._2.foreach(r => attribute(t, r, cores)))
    }

    val json = new StringBuilder
    json.append("{\"meta\":").append(Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "sf_dir" -> sfDir, "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))))
    json.append(",\"setup_s\":").append(Json.num(setupS))
    json.append(",\"heap_peak_mb\":").append(Json.num(heapPeak))
    json.append(",\"warmup\":").append(warm.map(opJson).mkString("[", ",", "]"))
    json.append(",\"passes\":").append(passes.map { case (tr, recs) =>
      s"""{"traced":$tr,"ops":${recs.map(opJson).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]"))
    json.append("}")
    java.nio.file.Files.write(new File(s("out")).toPath,
      json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def opJson(r: OpRec): String = {
    val phases = r.spans.groupBy(_._1).map { case (ph, ss) =>
      ph -> ss.map(x => x._3 - x._2).sum / 1e9 }.toSeq.sortBy(_._1)
    Json.obj(Seq("name" -> r.name, "seconds" -> r.seconds, "cpu_s" -> r.cpu,
      "error" -> r.error,
      "spans" -> Json.Raw(Json.obj(phases))) ++ r.info.toSeq)
  }

  // ------------------------------------------------------------ operations

  /** A headline query: build the DataFrame, then execute it through the
    * digest sink. Traced runs also time the plan phases on their own. */
  private def catalogOp(q: QueryCatalog.Q, sfDir: String): Op =
    Op(q.name, probe = false, c => {
      val df = c.span("build")(q.run(c.spark, sfDir))
      if (c.traced) {
        val qe = df.queryExecution
        c.put("analyze_s", qe.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0))
        c.span("optimize")(qe.optimizedPlan)
        val plan = c.span("physical")(qe.executedPlan)
        c.put("exchanges", exchanges(plan))
      }
      val (rows, digest) = c.span("exec")(sink(df, c.rec.id))
      c.put("rows", rows)
      c.put("digest", digest)
    })

  /** Direct `Tables.load` of one table the workload reads (traced only). */
  private def tableProbe(name: String, sfDir: String): Op =
    Op(s"load:$name", probe = true, c => {
      val df = c.span("tables")(Tables.load(c.spark, sfDir, name))
      c.put("columns", df.columns.length)
    })

  def sink(df: DataFrame, id: String): (Long, String) = {
    df.write.format(classOf[DigestSource].getName).option("id", id)
      .mode("overwrite").save()
    Digest.results.remove(id)
  }

  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case other =>
      (if (other.isInstanceOf[Exchange]) 1 else 0) +
        other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** The reference's three flows, plus (traced passes only) direct calls
    * into the Excel codec, the sinks and the diff engine. */
  private def excelOps(p: Properties, sfDir: String, workDir: String): Seq[Op] = {
    val runDate = LocalDate.parse(p.getProperty("run_date"))
    val q1 = p.getProperty("q1")
    val q2 = p.getProperty("q2")
    val template = p.getProperty("template")
    val key = p.getProperty("key")
    val compare = p.getProperty("compare").split("\\|").toSeq
    val wordDiff = p.getProperty("word_diff").split("\\|").toSet
    val segments = p.getProperty("segments").split(",").toSeq
    val out = s"$workDir/xlsx"
    Seq("download", "upload").foreach(d => new File(s"$out/$d").mkdirs())

    def written(c: Ctx, path: String, rows: Long): Unit = {
      c.put("rows", rows)
      c.put("cells", cellCount(path))
      c.put("bytes", new File(path).length)
    }
    def quarter(c: Ctx, path: String) =
      c.spark.read.format("xlsx").option("headerRow", "1").load(path)

    val downloads = segments.map(seg => Op(s"download:$seg", probe = false, c => {
      val (path, n) = c.span("pipeline")(
        Pipelines.download(c.spark, sfDir, seg, runDate, s"$out/download"))
      written(c, path, n)
    }))
    val upload = Op("upload:ALL", probe = false, c => {
      val (path, n) = c.span("pipeline")(
        Pipelines.upload(c.spark, sfDir, "ALL", template, s"$out/upload", runDate))
      written(c, path, n)
    })
    val compareOp = Op("compare", probe = false, c => {
      val (diff, path) = c.span("pipeline")(
        Pipelines.compareAndHighlight(c.spark, q1, q2, key, compare, wordDiff))
      c.put("marks", Json.Raw(Json.obj(highlighted(path))))
      c.put("bytes", new File(path).length)
    })

    val probes = Seq(
      Op("probe:read", probe = true, c => {
        val cells = Seq(q1, q2).map { path =>
          val in = new java.io.BufferedInputStream(new FileInputStream(path))
          try c.span("excel-read")(Xlsx.read(in)).map(_.cells.size.toLong).sum
          finally in.close()
        }.sum
        c.put("cells_read", cells)
      }),
      Op("probe:write-positional", probe = true, c => {
        val seg = segments.head
        val df = Tables.orders(c.spark, sfDir)
          .join(Tables.customer(c.spark, sfDir), col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === seg).orderBy(col("o_orderkey"))
        val path = s"$out/probe-positional.xlsx"
        val n = c.span("excel-write")(ExcelSink.writePositional(df, path,
          startRow = 8, skipSheetCols = Set(3, 5)))
        c.put("segment", seg)
        written(c, path, n)
      }),
      Op("probe:write-header", probe = true, c => {
        val df = Tables.customer(c.spark, sfDir).orderBy(col("c_custkey"))
        val path = s"$out/probe-header.xlsx"
        val n = c.span("excel-write")(ExcelSink.writeHeaderMatched(df, template, path,
          headerRow = 5, startRow = 6))
        written(c, path, n)
      }),
      Op("probe:diff", probe = true, c => {
        val old = quarter(c, q1).withColumn("__ord", monotonically_increasing_id())
        val diff = DiffEngine.diff(old, quarter(c, q2), key, "__ord", compare)
        val (rows, _) = c.span("diff")(sink(diff, c.rec.id))
        c.put("rows", rows)
      }),
      Op("probe:highlight", probe = true, c => {
        val old = quarter(c, q1).withColumn("__ord", monotonically_increasing_id())
        val diff = DiffEngine.diff(old, quarter(c, q2), key, "__ord", compare)
        val marks = diff.filter(col("status") =!= "UNCHANGED")
        val local = c.spark.createDataFrame(marks.collectAsList(), marks.schema)
        val copy = s"$out/probe-q2.xlsx"
        java.nio.file.Files.copy(new File(q2).toPath, new File(copy).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val path = c.span("highlight")(ExcelSink.writeHighlighted(copy, local, key))
        c.put("marks", local.count())
        c.put("bytes", new File(path).length)
      }))
    downloads ++ Seq(upload, compareOp) ++ probes
  }

  /** The Compare flow's fills (reference Compare.py:212-220). */
  private val StatusFill = Map("FFADD8E6" -> "CHANGED", "FFFFC0CB" -> "CLEARED",
    "FFFFFF00" -> "NEW")

  /** Cells of a highlighted workbook per status, read back from its
    * fills: the check sees what a user of the Compare flow sees, without
    * running the diff a second time. */
  private def highlighted(path: String): Seq[(String, Any)] = {
    val z = new ZipFile(path)
    def part(n: String) = new String(z.getInputStream(z.getEntry(n)).readAllBytes(), "UTF-8")
    def section(xml: String, tag: String) =
      xml.substring(xml.indexOf(s"<$tag"), xml.indexOf(s"</$tag>"))
    try {
      val styles = part("xl/styles.xml")
      val fills = "(?s)<fill>(.*?)</fill>".r.findAllMatchIn(section(styles, "fills"))
        .map(m => "rgb=\"([0-9A-Fa-f]{8})\"".r.findFirstMatchIn(m.group(1))
          .map(_.group(1).toUpperCase).getOrElse("")).toIndexedSeq
      val xfFill = "<xf\\b[^>]*>".r.findAllIn(section(styles, "cellXfs")).map { xf =>
        "fillId=\"(\\d+)\"".r.findFirstMatchIn(xf).map(_.group(1).toInt).getOrElse(0)
      }.toIndexedSeq
      val counts = mutable.Map[String, Long]().withDefaultValue(0L)
      z.entries().asScala.filter(_.getName.startsWith("xl/worksheets/")).foreach { e =>
        "<c\\b[^>]*?\\bs=\"(\\d+)\"".r.findAllMatchIn(part(e.getName)).foreach { m =>
          StatusFill.get(fills.lift(xfFill(m.group(1).toInt)).getOrElse(""))
            .foreach(st => counts(st) += 1)
        }
      }
      counts.toSeq.sortBy(_._1)
    } finally z.close()
  }

  /** Cells in every worksheet part of a written workbook. */
  private def cellCount(path: String): Long = {
    val z = new ZipFile(path)
    try z.entries().asScala.filter(_.getName.startsWith("xl/worksheets/")).map { e =>
      val xml = new String(z.getInputStream(e).readAllBytes(), "UTF-8")
      "<c ".r.findAllMatchIn(xml).size.toLong
    }.sum
    finally z.close()
  }

  // ----------------------------------------------------------- attribution

  /** Fold the listener's jobs and tasks for one traced operation into its
    * record: counts by phase and by the module at the job's call site. */
  private def attribute(t: Tracer, r: OpRec, cores: Int): Unit = {
    val jobs = t.jobs.values.asScala.filter(_.op == r.id).toSeq
    def jobSecs(js: Seq[JobRec]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
    def in(phases: String*) = jobs.filter(j => phases.contains(j.phase))
    def at(file: String) = jobs.filter(_.site.contains(s" at $file:"))
    r.info("build_jobs") = in("build").size
    r.info("exec_jobs") = in("exec", "pipeline").size
    r.info("tables_jobs") = in("tables").size
    r.info("infer_jobs") = at("Tables.scala").size
    r.info("infer_s") = jobSecs(at("Tables.scala"))
    r.info("materialize_jobs") = at("Materialize.scala").size
    r.info("materialize_s") = jobSecs(at("Materialize.scala"))

    // Spark time covered by jobs inside the excel-write spans: the rest
    // of the span is the sink's own (encoding, outside Spark) time
    val writes = r.spans.filter(_._1 == "excel-write")
    if (writes.nonEmpty) {
      val covered = union(in("excel-write").map(j => (j.start, j.end)))
      r.info("write_jobs_s") = covered / 1e3
    }

    val execJobs = in("exec", "pipeline").toSet
    val tasks = t.tasks.asScala.filter(k => t.jobOf(k.stage).exists(execJobs)).toSeq
    r.info("stages") = tasks.map(_.stage).distinct.size
    r.info("tasks") = tasks.size
    r.info("task_busy_s") = tasks.map(_.runMs).sum / 1e3
    r.info("task_wait_s") = tasks.map(_.waitMs).sum / 1e3
    r.info("shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / 1048576.0
    r.info("shuffle_read_mb") = tasks.map(_.shuffleRead).sum / 1048576.0
    r.info("spill_mb") = tasks.map(_.spill).sum / 1048576.0
    r.info("failed_tasks") = tasks.count(_.failed)
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
    r.info("skew") = if (skews.isEmpty) 1.0 else skews.max
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** Minimal JSON rendering for the harness's output file. */
object Json {
  final case class Raw(s: String)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Prints the DuckDB oracle SQL of the named catalog queries as one JSON
  * object, for `record_expected.py`'s cross-check.
  *
  * Usage: OracleDump <query name>... */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val byName = QueryCatalog.all.map(q => q.name -> q).toMap
    println(Json.obj(args.toSeq.flatMap(n => byName(n).oracle.map(n -> _))))
  }
}
