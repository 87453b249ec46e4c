package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.config.DedupeConfig
import graft.model.{Settings, Training}
import graft.blocking.PredicateLearner
import graft.pipeline.{DedupePipeline, PhaseLog}
import graft.queries.PipelineQueries

/** One benchmark run of one workload, in its own JVM.
  *
  * Usage: perfbench.Harness <workload> <dataDir> <workDir> <seconds>
  *        <trace 0|1> <cores> <resultJson>
  *
  * Set-up: session start, three timed input loads (their median is
  * reported), then one warm-up pass, whose outputs `run.py` also checks
  * against an independent oracle where the workload has one. Then a
  * closed loop — one client, the next pass starts when the previous one
  * ends — runs passes until `seconds` have elapsed and at least two have
  * run. With tracing on, the loop alternates untraced and traced passes,
  * and each traced pass must run as many Spark jobs as the untraced pass
  * before it plus the workload's `tracedExtraJobs`. Every pass is
  * checked. The run's figures go to `resultJson` for `run.py` to finish
  * and print.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsArg, traceArg, coresArg,
      resultPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", graft.functions.GraftExtensions.CONF)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    // Stamped with seconds since JVM start, so time spent outside the
    // measured steps shows in the log.
    def log(msg: String): Unit = System.err.println(
      f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")
    log("session started")

    val w: Workload = workload match {
      case "q50_trained" => new Q50Trained(spark, dataDir)
      case "query_mix" => new QueryMix(spark, dataDir)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext, cores)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    val loads = (1 to 3).map(_ => timed(w.load())._2)
    log(s"input loaded 3 times: ${loads.mkString(", ")} s")
    val out = s"$workDir/out"
    val passes = mutable.ArrayBuffer.empty[Pass]
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def runPass(kind: String): Pass = {
      val before = Host.sample()
      val jit0 = jit.getTotalCompilationTime
      var untimed: () => Unit = () => ()
      def body(): (Option[String], Double) = timed {
        try {
          kind match {
            case "traced" =>
              tracer.get.reset()
              untimed = w.tracedPass(out, tracer.get)
            case "verify" => w.verifyPass(out)
            case _ => w.pass(out)
          }
          None
        } catch { case e: Throwable => Some(s"$kind pass: $e") }
      }
      // Jobs are counted only when tracing, outside the pass's clock.
      val ((failure, secs), jobs) =
        tracer.fold((body(), -1L))(_.jobsDuring(body()))
      val after = Host.sample()
      untimed()
      val drift = passes.reverse.find(_.kind == "timed")
        .filter(p => kind == "traced" && failure.isEmpty &&
          jobs != p.jobs + w.tracedExtraJobs)
        .map(p => s"traced pass ran $jobs Spark jobs, the untraced pass " +
          s"${p.jobs} + ${w.tracedExtraJobs}: the traced copy of the " +
          "pipeline no longer matches the code it stands for")
      val problems = failure.toSeq ++ drift ++
        (if (failure.isEmpty) w.check(out, kind) else Nil)
      problems.foreach(p => log(s"FAILED $p"))
      PhaseLog.drain()
      val p = Pass(kind, secs, (jit.getTotalCompilationTime - jit0) / 1e3,
        Host.stealPct(before, after), Host.loadPerCore(cores), jobs,
        problems)
      passes += p
      log(f"${w.name} $kind pass " +
        f"${passes.size}: $secs%.3f s, $jobs jobs")
      p
    }

    val warm = runPass("verify")
    // Traced runs alternate untraced and traced passes and end on an
    // untraced one, so the untraced median brackets the traced passes.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    do {
      runPass(if (traced && i % 2 == 1) "traced" else "timed")
      i += 1
    } while (elapsed < seconds || i < 2 ||
      (traced && (i < 3 || i % 2 == 0)))

    val timedS = passes.filter(_.kind == "timed").map(_.seconds).toSeq
    val tracedS = passes.filter(_.kind == "traced").map(_.seconds).toSeq
    val runS = median(timedS)
    // Settled: the run's last two timed passes are within 15% of each
    // other, so the pass time had stopped falling by the end of the run.
    val lastTwo = timedS.takeRight(2)
    val settled = lastTwo.size == 2 && lastTwo.max <= 1.15 * lastTwo.min
    if (!settled)
      log(s"not shown settled: passes " +
        passes.map(p => f"${p.kind} ${p.seconds}%.2f").mkString(", "))
    val layers: Map[String, Double] = tracer.map { t =>
      w.layers(t) + ("trace.overhead_s" -> (median(tracedS) - runS))
    }.getOrElse(Map.empty)

    val json = Json.obj(Map(
      "workload" -> w.name,
      "records" -> w.records,
      "session_s" -> sessionS,
      "load_s" -> loads,
      "setup_s" -> (sessionS + median(loads) + warm.seconds),
      "run_s" -> runS,
      "settled" -> settled,
      "session" -> SessionKeys.map(k =>
        k -> spark.conf.getOption(k).getOrElse("")).toMap,
      "peak_rss_mb" -> Host.peakRssMb(),
      "gc_s" -> Host.gcSeconds(),
      "passes" -> passes.map(_.json).toSeq,
      "facts" -> w.facts,
      "layers" -> layers))
    Files.writeString(Paths.get(resultPath), json)
    log("result written")
    spark.stop()
  }

  /** The session settings every run reports, so a later shared session
    * factory can be checked against them.
    */
  val SessionKeys: Seq[String] = Seq("spark.master", "spark.sql.extensions",
    "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.adaptive.enabled",
    "spark.ui.enabled", "spark.sql.ansi.enabled")

  /** One pass. `jobs` is its Spark job count, -1 when not tracing. */
  final case class Pass(kind: String, seconds: Double, jitS: Double,
      stealPct: Double, loadPerCore: Double, jobs: Long,
      problems: Seq[String]) {
    def json: Map[String, Any] = Map("kind" -> kind, "s" -> seconds,
      "jit_s" -> jitS, "steal_pct" -> stealPct, "load_per_core" -> loadPerCore,
      "jobs" -> jobs, "problems" -> problems)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A workload: its input, the pass a user runs, and its checks. */
trait Workload {
  def name: String
  /** Input records, the size `records_per_s` is stated against. */
  def records: Long
  /** Spark jobs a traced pass runs beyond the untraced pass. */
  def tracedExtraJobs: Long = 0L
  /** One input load (a set-up step, repeated and reported as median). */
  def load(): Unit
  /** The program path a user runs, writing its outputs under `out`. */
  def pass(out: String): Unit
  /** A pass whose outputs `run.py` checks independently. */
  def verifyPass(out: String): Unit = pass(out)
  /** The same work with a span around each layer call. Returns a step
    * to run after the pass's clock stops (data-shape counts, clean-up).
    */
  def tracedPass(out: String, t: Tracer): () => Unit
  /** Problems found in the outputs of the pass just run. */
  def check(out: String, kind: String): Seq[String]
  /** Per-layer metrics from the traced passes. */
  def layers(t: Tracer): Map[String, Double]
  /** Run facts `run.py` needs for its own checks. */
  def facts: Map[String, Any] = Map.empty
}

/** The flagship q50 pipeline on customer-derived person entries,
  * through the trained-model path as `q50_dedupe_pipeline` runs it, with
  * `graft.Main`'s sinks: entries in, `DedupePipeline.run`, `unique_map`
  * and `entries_unique` written as parquet.
  */
final class Q50Trained(spark: SparkSession, dir: String) extends Workload {
  val name = "q50_trained"
  // The count that closes the traced pass's `pipeline.block` span.
  override val tracedExtraJobs = 1L
  lazy val cfg: DedupeConfig = PipelineQueries.trainedPersonConfig(spark, dir)
  def entries(): DataFrame = PipelineQueries.personEntries(spark, dir)
  // Ground truth: a mutated duplicate's entry id is its person's id + 10M.
  lazy val truth: DataFrame = entries().select(col("entry_id"),
    (col("entry_id") % 10000000L).cast("string").as("uuid"))

  private lazy val expected: (Long, Long) = {
    val kept = entries().where(expr(cfg.filterCondition))
    (kept.count(), kept.select(cfg.columns.map(col): _*).distinct().count())
  }
  lazy val records: Long = entries().count()
  def load(): Unit = entries().count()

  private var lastHash = ""
  private var firstHash: Option[String] = None
  private var firstContent: Option[Long] = None
  private val shape = mutable.LinkedHashMap.empty[String, Double]

  override def facts: Map[String, Any] = Map(
    "model_hash" -> lastHash, "filtered_rows" -> expected._1,
    "unique_records" -> expected._2)

  def pass(out: String): Unit = {
    val r = DedupePipeline.run(entries(), cfg)
    lastHash = Settings.modelHash(cfg, r.model)
    write(r.uniqueMap, r.mapped, out)
    r.release()
  }

  private def write(um: DataFrame, mapped: DataFrame, out: String): Unit = {
    um.write.mode("overwrite").parquet(s"$out/unique_map")
    mapped.write.mode("overwrite").parquet(s"$out/entries_unique")
  }

  def check(out: String, kind: String): Seq[String] = {
    val (rows, uniques) = expected
    val um = spark.read.parquet(s"$out/unique_map")
    val Seq(n, keys, nullIds, content) = um.agg(count(lit(1)),
      countDistinct(col(cfg.key)), count(when(col("dedupe_id").isNull, 1)),
      expr(s"bit_xor(xxhash64(${cfg.key}, dedupe_id))")).head()
      .toSeq.map(v => Option(v).map(_.asInstanceOf[Number].longValue)
        .getOrElse(0L))
    val eu = spark.read.parquet(s"$out/entries_unique").count()
    firstHash = firstHash.orElse(Some(lastHash))
    firstContent = firstContent.orElse(Some(content))
    Seq(
      (n == rows && keys == rows && nullIds == 0L) ->
        s"unique_map has $n rows, $keys keys, $nullIds null ids; " +
          s"expected a dedupe_id for each of $rows filtered rows",
      (eu == uniques) -> s"entries_unique has $eu rows, expected $uniques",
      firstHash.contains(lastHash) ->
        s"model hash $lastHash differs from the first pass's",
      firstContent.contains(content) ->
        s"$kind pass clusters differ from the first pass's"
    ).collect { case (false, msg: String) => msg }
  }

  /** `DedupePipeline.run` stage by stage through its public stage
    * functions, with a span around each. The one difference from `run`
    * is the count that closes `pipeline.block`, so blocking and scoring
    * get separate spans.
    */
  def tracedPass(out: String, t: Tracer): () => Unit = {
    val mem = StorageLevel.MEMORY_AND_DISK
    val src = entries().persist(mem)
    val eu = t.span("pipeline.preprocess") {
      val e = DedupePipeline.preprocess(src, cfg).persist(mem)
      e.count()
      e
    }
    // DedupePipeline.trainOrLoad's training branch, step by step.
    val labeled = Training.readTrainingFile(spark, cfg.trainingFile.get, cfg)
      .persist(mem)
    val model = t.span("model.train")(Training.train(cfg, labeled))
    val learned = t.span("blocking.learn")(
      PredicateLearner.learn(eu, labeled, cfg))
    labeled.unpersist(false)
    val predicates =
      if (learned.nonEmpty) learned else DedupePipeline.defaultPredicates(cfg)
    cfg.settingsFile.foreach(sf => Settings(model, predicates).save(sf))
    lastHash = Settings.modelHash(cfg, model)
    val (bm, sc, pb) = t.span("pipeline.block") {
      val b = DedupePipeline.block(eu, cfg, predicates)
      b._2.count()
      b
    }
    val scored = t.span("model.score") {
      val s = DedupePipeline.scorePairs(eu, sc, cfg, model)._2
        .select("l_id", "r_id", "score").persist(mem)
      s.count()
      s
    }
    val em = t.span("cluster.hac") {
      val m = DedupePipeline.cluster(scored, cfg).persist(mem)
      m.count()
      m
    }
    val notes = PhaseLog.drainNotes()
    val (mapped, um) = t.span("pipeline.apply") {
      val (mp, u0) = DedupePipeline.apply(em, eu, src, cfg)
      val u = u0.persist(mem)
      u.count()
      (mp, u)
    }
    t.span("sources.write")(write(um, mapped, out))
    () => {
      if (shape.isEmpty) shape ++= shapeCounts(src, eu, bm, pb, scored, em,
        notes.getOrElse("cc_kernel.hac-cluster", ""))
      Seq(src, eu, bm, pb, sc, scored, em, um).foreach(_.unpersist(false))
    }
  }

  /** Data-shape counts of one traced pass, read off its pinned frames. */
  private def shapeCounts(src: DataFrame, eu: DataFrame, bm: DataFrame,
      pb: DataFrame, scored: DataFrame, em: DataFrame,
      ccNote: String): Seq[(String, Double)] = {
    val filtered = src.where(expr(cfg.filterCondition)).count()
    val uniques = eu.count()
    val blockSizes = pb.groupBy("block_id").count()
    val Seq(plural, maxBlock) = blockSizes
      .agg(count(lit(1)), coalesce(max("count"), lit(0L))).head().toSeq
      .map(_.asInstanceOf[Number].doubleValue)
    val candidates = scored.count()
    val above = scored.where(col("score") >= cfg.threshold).count()
    val clusters = em.groupBy("canon_id").count()
    val Seq(components, largest) = clusters
      .agg(count(lit(1)), coalesce(max("count"), lit(0L))).head().toSeq
      .map(_.asInstanceOf[Number].doubleValue)
    // "<kernel> (<n> edges, cap <c>)", as ConnectedComponents.auto notes.
    val edges = "\\((\\d+) edges".r.findFirstMatchIn(ccNote)
      .map(_.group(1).toDouble).getOrElse(-1.0)
    // A unique record's identity is the smallest uuid among its entries;
    // true pairs are unique-record pairs that share one.
    val ids = eu.select(col("_unique_id"), explode(col("src_ids"))
        .as(cfg.key))
      .join(truth, cfg.key)
      .groupBy("_unique_id").agg(min("uuid").as("uuid"))
    val truePairs = ids.as("l").join(ids.as("r"),
        col("l.uuid") === col("r.uuid") &&
          col("l._unique_id") < col("r._unique_id"))
      .select(col("l._unique_id").as("l_id"), col("r._unique_id").as("r_id"))
      .persist()
    val nTrue = truePairs.count()
    val found = truePairs.join(scored.select(
        least(col("l_id"), col("r_id")).as("l_id"),
        greatest(col("l_id"), col("r_id")).as("r_id")), Seq("l_id", "r_id"))
      .count()
    truePairs.unpersist(false)
    Seq(
      "pipeline.preprocess.unique_ratio" -> uniques.toDouble / filtered,
      "blocking.map.rows" -> bm.count().toDouble,
      "ops.kolb.plural_blocks" -> plural,
      "ops.kolb.max_block" -> maxBlock,
      "ops.kolb.candidate_pairs" -> candidates.toDouble,
      "model.score.pair_yield" -> above.toDouble / math.max(1L, candidates),
      "blocking.recall" -> found.toDouble / math.max(1L, nTrue),
      "cluster.hac.edges" -> edges,
      "cluster.hac.components" -> components,
      "cluster.hac.largest_component" -> largest,
      // 0 = driver union-find, 1 = distributed runStar.
      "cluster.hac.kernel" -> (if (ccNote.startsWith("run-star")) 1.0
        else 0.0))
  }

  def layers(t: Tracer): Map[String, Double] =
    Layers.spans(t, Layers.pipelineSpans) ++ shape ++
      Layers.queryGroups(t)
}

/** One headline query per module group, once each in `Bench` order. */
final class QueryMix(spark: SparkSession, dir: String) extends Workload {
  val name = "query_mix"
  val names: Seq[String] = graft.Bench.headline.filter(n =>
    Layers.groups.exists(_._2.contains(n.takeWhile(_ != '_'))))
  private val queries = SparkEntry.queries
  private val tables = new java.io.File(dir).list().toSeq.sorted
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
  lazy val records: Long =
    tables.map(graft.Tables.load(spark, dir, _).count()).sum
  def load(): Unit = tables.foreach(graft.Tables.load(spark, dir, _).count())

  /** Rows each query returned in the last pass, and in the verify pass
    * whose outputs `run.py` compares with the oracle.
    */
  private val rows = mutable.LinkedHashMap.empty[String, Long]
  private val verifiedRows = mutable.LinkedHashMap.empty[String, Long]

  /** Builds and runs each query into `sink`, counting its rows with an
    * observed metric on the way, inside a span per query when traced.
    */
  private def each(t: Option[Tracer])(sink: (String, DataFrame) => Unit)
      : Unit = {
    rows.clear()
    names.foreach { n =>
      def one(): Unit = {
        val df = queries(n)(spark, dir)
        val obs = Observation()
        sink(n, df.observe(obs, count(lit(1)).as("rows")))
        rows(n) = obs.get("rows").asInstanceOf[Number].longValue
        df.unpersist(false)
      }
      t.fold(one())(_.span(s"query.$n")(one()))
    }
  }

  private def noop(n: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def pass(out: String): Unit = each(None)(noop)

  override def verifyPass(out: String): Unit = {
    each(None)((n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/mix/$n"))
    val oracle = SparkEntry.oracleSql.filter { case (n, _) =>
      names.contains(n) }
    Files.writeString(Paths.get(s"$out/mix/oracle_sql.json"),
      Json.obj(oracle))
  }

  def tracedPass(out: String, t: Tracer): () => Unit = {
    each(Some(t))(noop)
    () => ()
  }

  /** Every pass must return the verify pass's row count per query. */
  def check(out: String, kind: String): Seq[String] = {
    if (kind == "verify") verifiedRows ++= rows
    names.filterNot(n => rows.get(n) == verifiedRows.get(n)).map(n =>
      s"$kind pass: $n returned ${rows.getOrElse(n, "no")} rows, the " +
        s"verify pass ${verifiedRows.getOrElse(n, "no")}")
  }

  def layers(t: Tracer): Map[String, Double] =
    Layers.spans(t, Layers.pipelineSpans) ++ Layers.queryGroups(t) ++
      Layers.zeroShape
}

/** Naming and aggregation of the per-layer metrics. */
object Layers {
  val pipelineSpans: Seq[String] = Seq("pipeline.preprocess", "model.train",
    "blocking.learn", "pipeline.block", "model.score", "cluster.hac",
    "pipeline.apply", "sources.write")

  /** Query-mix module groups, by the code each query mostly runs. */
  val groups: Seq[(String, Seq[String])] = Seq(
    "queries.analytics" -> Seq("q21"),
    "queries.relational" -> Seq("q13"),
    "dedup" -> Seq("q35"),
    "ann" -> Seq("q52"),
    "text" -> Seq("q70"),
    "multimodal" -> Seq("q75"))

  val shapeNames: Seq[String] = Seq("pipeline.preprocess.unique_ratio",
    "blocking.map.rows", "ops.kolb.plural_blocks", "ops.kolb.max_block",
    "ops.kolb.candidate_pairs", "model.score.pair_yield", "blocking.recall",
    "cluster.hac.edges", "cluster.hac.components",
    "cluster.hac.largest_component", "cluster.hac.kernel")

  def zeroShape: Map[String, Double] = shapeNames.map(_ -> 0.0).toMap

  private val mib = 1024.0 * 1024.0

  def spans(t: Tracer, names: Seq[String]): Map[String, Double] =
    names.flatMap { n =>
      val c = t.spans.getOrElse(n, new SpanCounts)
      val cores = t.cores
      Seq(s"$n.s" -> c.seconds, s"$n.jobs" -> c.jobs.toDouble,
        s"$n.stages" -> c.stages.toDouble, s"$n.tasks" -> c.tasks.toDouble,
        s"$n.failed_tasks" -> c.failedTasks.toDouble,
        s"$n.shuffle_mb" -> c.shuffleBytes / mib,
        s"$n.spill_mb" -> c.spillBytes / mib, s"$n.gc_s" -> c.gcMs / 1e3,
        s"$n.busy_frac" ->
          (if (c.seconds > 0) c.runMs / 1e3 / (c.seconds * cores) else 0.0),
        s"$n.sched_wait_s" -> c.schedMs / 1e3)
    }.toMap

  def queryGroups(t: Tracer): Map[String, Double] = {
    def queryOf(span: String) = span.stripPrefix("query.").takeWhile(_ != '_')
    val grouped = groups.flatMap { case (g, qs) =>
      val c = new SpanCounts
      t.spans.foreach { case (n, s) =>
        if (n.startsWith("query.") && qs.contains(queryOf(n))) c.add(s)
      }
      Seq(s"$g.s" -> c.seconds, s"$g.jobs" -> c.jobs.toDouble,
        s"$g.stages" -> c.stages.toDouble, s"$g.shuffle_mb" -> c.shuffleBytes / mib,
        s"$g.scans" -> c.scans.values.sum.toDouble)
    }
    val q70 = t.spans.collectFirst {
      case (n, s) if queryOf(n) == "q70" => s.scans("documents").toDouble
    }.getOrElse(0.0)
    (grouped :+ ("text.q70.documents_scans" -> q70)).toMap
  }
}

/** Host contention and memory, read from /proc. */
object Host {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)))

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def sample(): (Long, Long) = {
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  def loadPerCore(cores: Int): Double =
    read("/proc/loadavg").split("\\s+")(0).toDouble / cores

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(m: Map[String, Any]): String = value(m)

  def value(v: Any): String = v match {
    case s: String => graft.JsonStr.escape(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
