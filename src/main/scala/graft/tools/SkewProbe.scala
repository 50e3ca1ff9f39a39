package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session

/** Measurement tool (not part of the library surface): stage-level
  * evidence that the r15 skew-safe doc-frequency rework in
  * [[graft.operators.Dedup.rareShingleCandidates]] removes the
  * single-task stage the old count-over-window shape produced under a
  * planted every-document shingle. Numbers go to SCALE.md's near-dup
  * section.
  *
  * The probe isolates exactly the subplan that changed — the df
  * classification feeding (a) the rare-id groups and (b) the per-doc
  * (n_sh, cm) stats — and runs it twice over the same exploded
  * relation: OLD = `count(1) over (partition by s)` (the r5-r14 shape),
  * NEW = two-phase groupBy count + broadcast hot set + bounded mid
  * join. A task-end listener records per-stage task-duration
  * distributions; the old shape's window stage shows max-task >>
  * median-task (every occurrence of the planted shingle in one window
  * group), the new shape's stages stay flat.
  *
  * Run: SPARK_GRAFT_SKEW_DOCS=200000 sbt "runMain graft.tools.SkewProbe"
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "200000").toLong
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    // planted skew: ONE trigram shared by EVERY doc (df = nDocs — the
    // stop-shingle regime, all occurrences in one window group under
    // the old shape) plus a tail shared by exactly one OTHER doc
    // (df = 2 — rare, so candidacy and the pair expansion are
    // exercised: nDocs/2 planted near-dup pairs)
    val docs = spark.range(nDocs).select($"id".as("doc_id"),
      format_string("zzz zzz zzz tail%d alpha%d beta%d gamma%d",
        ($"id" / 2).cast("long"), ($"id" / 2).cast("long"),
        ($"id" / 2).cast("long"), ($"id" / 2).cast("long")).as("text"))
      .repartition(cpus * 2)
      .localCheckpoint()
    docs.count()

    val exploded = docs
      .select($"doc_id".as("id"),
        explode(graft.plans.TextExpressions.word_shingles($"text", 3))
          .as("s_raw"))
      .select($"id", xxhash64($"s_raw").as("s"))
      .localCheckpoint()
    val nRows = exploded.count()

    // per-stage task-duration distribution
    val durations = new mutable.HashMap[Int, mutable.ArrayBuffer[(Long, Long)]]()
    val stageNames = new mutable.HashMap[Int, String]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        durations.synchronized {
          val recs = Option(te.taskMetrics)
            .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
          durations.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty)
            .append((te.taskInfo.duration, recs))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        durations.synchronized {
          stageNames(sc.stageInfo.stageId) = sc.stageInfo.name.take(50)
        }
    }

    def probe(label: String)(consume: DataFrame => Unit): Unit = {
      durations.synchronized { durations.clear(); stageNames.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      consume(exploded)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"=== $label: wall=$wall%.2fs rows=$nRows%d docs=$nDocs%d ===")
      durations.synchronized {
        durations.toSeq.sortBy(_._1).foreach { case (sid, ds) =>
          val byTime = ds.map(_._1).sorted
          val byRecs = ds.map(_._2).sorted
          val medT = byTime(byTime.size / 2)
          val medR = byRecs(byRecs.size / 2)
          // record skew is the deterministic dial: the old window's hot
          // task must READ every occurrence of the planted shingle
          println(f"  stage $sid%3d tasks=${ds.size}%4d " +
            f"medT=${medT / 1000.0}%6.2fs maxT=${byTime.last / 1000.0}%6.2fs " +
            f"medRec=$medR%9d maxRec=${byRecs.last}%9d " +
            f"recSkew=${byRecs.last.toDouble / math.max(medR, 1)}%6.1fx")
        }
      }
    }

    // OLD r5-r14 shape: df via count-over-window — the planted shingle's
    // nDocs occurrences form ONE window group on one task
    probe("old window df") { ex =>
      val dfc = ex.withColumn("df_count",
        count(lit(1)).over(Window.partitionBy($"s")))
      val rare = dfc.filter($"df_count" <= 20 && $"df_count" >= 2).count()
      val stats = dfc.groupBy($"id")
        .agg(count(lit(1)).as("n_sh"), count_if($"df_count" > 20).as("cm"))
        .agg(sum($"cm")).collect()(0).getLong(0)
      println(s"  [old] rare_rows=$rare common_total=$stats")
    }

    // NEW shape: the shared candidate machinery itself (rare candidate
    // counts + per-doc stats), hot keys classified via broadcast
    probe("new tiered df") { ex =>
      val (cand, stats) = graft.operators.Dedup.rareShingleCandidates(
        ex, maxDocFreq = 20, hotDocFreq = 1 << 16)
      val nCand = cand.count()
      val common = stats.agg(sum($"cm")).collect()(0).getLong(0)
      println(s"  [new] cand_pairs=$nCand common_total=$common")
    }
    spark.stop()
  }
}
