package graft
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Developer tool (not part of the driver contract), the repository's
  * one plan and job profiler: for each selected query, write
  * `.explain("formatted")` to `plans/<tag>/<query>_<suffix>.txt` and
  * print, from one listener,
  *  - a per-query total: output rows, job count, stage count, shuffle
  *    write bytes, input bytes, wall seconds;
  *  - one line per Spark job (wall seconds, stages, tasks, description),
  *    so the expensive jobs inside a multi-action query (q50's phases,
  *    q52's CC kernel actions, BPE learn iterations) are attributable;
  *  - the slowest stages, submission → completion.
  * Wall-clock on a shared host swings with ambient load, so plan shape,
  * job counts and shuffle volume are the signals optimization decisions
  * are made on. Per-phase numbers for the trained q50 pipeline come from
  * `perfbench/run.py --trace 1`.
  *
  * Usage: runMain graft.PlanDump <tag> <suffix> [names]
  *   names: comma-separated `SparkEntry.queries` names or name prefixes
  *   (default: every `Bench.headline` query)
  * e.g.   runMain graft.PlanDump r21 before q70_top_terms,q01_scan_filter_project
  */
object PlanDump {

  private final case class Job(id: Int, desc: String, start: Long,
      stages: Int, tasks: Int, var end: Long = 0L)
  private final case class Stage(id: Int, name: String, secs: Double,
      tasks: Int)

  private final class Profiler extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var shuffleWrite = 0L
    private var inputBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
        .getOrElse("?")
      jobs(e.jobId) = Job(e.jobId, desc.take(90), e.time,
        e.stageIds.length, e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(
        e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      inputBytes += si.taskMetrics.inputMetrics.bytesRead
      val secs = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield (c - s) / 1e3).getOrElse(-1.0)
      stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(70),
        secs, si.numTasks)
    }
    def reset(): Unit = synchronized {
      jobs.clear(); stages.clear(); shuffleWrite = 0L; inputBytes = 0L
    }
    def report(name: String, rows: Long, secs: Double): Unit = synchronized {
      println(f"[plandump] $name%-28s rows=$rows%7d jobs=${jobs.size}%3d " +
        f"stages=${stages.size}%3d shuffleMB=${shuffleWrite / 1e6}%9.2f " +
        f"inputMB=${inputBytes / 1e6}%8.2f secs=$secs%7.2f")
      // A job whose end event has not drained from the async listener
      // bus yet has no duration: mark it rather than print a negative one.
      jobs.values.foreach { j =>
        if (j.end > 0)
          println(f"[job] ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc}")
        else println(s"[job] ${j.id} undrained")
      }
      // Slow stages (>= 0.3 s): where a multi-stage job's time goes.
      stages.filter(_.secs >= 0.3).sortBy(-_.secs).take(20).foreach { s =>
        println(f"[stage] ${s.id}%4d ${s.secs}%8.3f s tasks=${s.tasks}%4d  ${s.name}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r21")
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = SparkEntry.queries
    val names = only.fold(Bench.headline.filter(qs.contains)) { prefixes =>
      val unknown = prefixes.filterNot(p => qs.keys.exists(_.startsWith(p)))
      require(unknown.isEmpty,
        s"no SparkEntry.queries name starts with ${unknown.mkString(", ")}")
      qs.keys.toSeq.sorted.filter(n => prefixes.exists(n.startsWith))
    }
    val spark = GraftSession()
    val profiler = new Profiler
    spark.sparkContext.addSparkListener(profiler)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)

    // Warmup (JIT + parquet footers), untimed.
    Tables.load(spark, sfDir, "region").groupBy("r_name").count().count()

    names.foreach { name =>
      // Construction is INSIDE the timed/counted region: several
      // queries (q50 pipeline, q73/q74 BPE learn) run Spark jobs
      // eagerly while building the returned frame. The pause lets the
      // previous query's events drain before the reset.
      Thread.sleep(300)
      profiler.reset()
      val t0 = System.nanoTime()
      val df = qs(name)(spark, sfDir)
      // Capture the pre-execution plan (AQE isFinalPlan=false), the
      // form committed under plans/.
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      df.unpersist(false)
      // Give the async listener bus a moment to drain.
      Thread.sleep(500)
      profiler.report(name, rows, secs)
    }
    spark.stop()
  }
}
