package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{QueryCatalog, Session}

/** Dev probe for named catalog queries on `SPARK_GRAFT_SF_DIR`, in one
  * of two modes:
  *
  *  - `explain <tag> <suffix> <query>...` dumps `.explain("formatted")`
  *    to `plans/<tag>/<query>_<suffix>.txt` — the before/after plan
  *    evidence the optimization rounds commit alongside the code;
  *  - `stages <query>` runs the query once warm, then once under a
  *    stage listener, and prints one line per completed stage (tasks,
  *    wall, cpu, shuffle bytes, input records).
  *
  * Usage: `sbt "runMain graft.tools.Probe explain r19 before q_curate_v2"`
  * or `sbt "runMain graft.tools.Probe stages q_ngram_jaccard"`
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    def query(n: String) = QueryCatalog.byName.getOrElse(n,
      sys.error(s"no such query: $n"))
    args.toSeq match {
      case Seq("explain", tag, suffix, names @ _*) =>
        val spark = Session.local()
        new java.io.File(s"plans/$tag").mkdirs()
        names.foreach { n =>
          val txt = query(n).run(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"plans/$tag/${n}_$suffix.txt"), txt)
          println(s"[probe] wrote plans/$tag/${n}_$suffix.txt " +
            s"(${txt.linesIterator.size} lines)")
        }
        spark.stop()
      case Seq("stages", qname) =>
        val q = query(qname)
        val spark = Session.local()
        // warm pass (scan cache, codegen) — not instrumented
        q.run(spark, sfDir).queryExecution.toRdd.count()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

        val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            stages.add(f"stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
              f"wall=${(si.completionTime.get - si.submissionTime.get) / 1000.0}%6.2fs " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2fs run=${m.executorRunTime / 1e3}%7.2fs " +
              f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
              f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
              f"in=${m.inputMetrics.recordsRead}%10d recs | ${si.name.take(60)}")
          }
        })
        val t0 = System.nanoTime()
        val n = q.run(spark, sfDir).queryExecution.toRdd.count()
        val el = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // let the listener bus drain
        println(s"=== $qname: rows=$n wall=${el}s ===")
        stages.forEach(println(_))
        spark.stop()
      case _ =>
        sys.error("usage: Probe explain <tag> <suffix> <query>... | " +
          "Probe stages <query>")
    }
  }
}
