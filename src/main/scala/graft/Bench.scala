package graft

import graft.spark.{Dedup, ExtractJob, GraftOps, Quality, Scratch, TableIO, TranscriptGen}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The one measurement main. With no arguments it is the driver benchmark:
  * every SparkEntry query timed at SPARK_GRAFT_SF_DIR plus the headline
  * extraction throughput (turns/sec), as one JSON line on stdout. The
  * [[Usage]] modes time queries, break them into jobs, write their plans,
  * and measure N→4N scaling on [[matchedPairs]]. `python3 perfbench/run.py`
  * measures extraction per payload mix and per kernel layer. */
object Bench {

  val Usage = "usage: Bench [queries|jobs [csv|all] | plan <outDir> <csv|all> | scaling extract|skew|curation]"

  sealed trait Mode
  case object Driver extends Mode
  final case class Queries(names: Seq[String]) extends Mode
  final case class Jobs(names: Seq[String]) extends Mode
  final case class Plan(outDir: String, names: Seq[String]) extends Mode
  final case class Scaling(face: String) extends Mode

  /** `queryRuns` samples per query, `tpd` turns per document, scaling
    * from `n` to 4`n` cores, curation volume multiplied `mult`×. */
  final case class Config(mode: Mode, cpus: Int, queryRuns: Int, tpd: Int, n: Int, mult: Int)

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir("graft-spark").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (non-empty turns, seconds) of ExtractJob over turnsPerDoc× the
    * documents table; `preBucketed` is the production-on-Iceberg shape
    * (bucket(B, conv_id) scan ⇒ exchange elided, map-only). */
  def extractionThroughput(spark: SparkSession, sfDir: String,
      turnsPerDoc: Int, buckets: Int, preBucketed: Boolean = false): (Long, Double) = {
    val turns = TranscriptGen.turns(spark, sfDir, turnsPerDoc)
    timed {
      val job =
        if (preBucketed) ExtractJob.runPreBucketed(spark, turns, buckets)
        else ExtractJob.run(spark, turns, buckets)
      job.extracted.filter(_.extracted_text != null).count()
    }
  }

  /** The SparkEntry queries a comma-separated filter names (all of them
    * for `None` or "all"); `Left` lists the names that are not queries. */
  def queryNames(csv: Option[String]): Either[String, Seq[String]] = {
    val known = SparkEntry.queries.keySet
    val ns = csv.filter(_ != "all")
      .fold(known.toSeq.sorted)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = ns.filterNot(known)
    if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(",")}")
    else Right(ns)
  }

  /** Command line plus the numeric environment knobs; `Left` is the
    * reason the call is malformed. Starts no Spark session. */
  def parse(args: Seq[String], env: Map[String, String]): Either[String, Config] = {
    def positive(key: String, default: Int): Either[String, Int] = env.get(key)
      .fold[Either[String, Int]](Right(default))(v =>
        v.toIntOption.filter(_ > 0).toRight(s"$key must be a positive integer, got '$v'"))
    val mode: Either[String, Mode] = args match {
      case Seq() => Right(Driver)
      case "queries" +: csv if csv.size <= 1 => queryNames(csv.headOption).map(Queries)
      case "jobs" +: csv if csv.size <= 1 => queryNames(csv.headOption).map(Jobs)
      case Seq("plan", outDir, csv) => queryNames(Some(csv)).map(Plan(outDir, _))
      case Seq("scaling", face @ ("extract" | "skew" | "curation")) => Right(Scaling(face))
      case _ => Left(s"unrecognised arguments: ${args.mkString(" ")}")
    }
    for {
      m <- mode
      cpus <- positive("SPARK_GRAFT_CPUS", 4)
      runs <- positive("SPARK_GRAFT_QUERY_RUNS", 3)
      tpd <- positive("SPARK_GRAFT_TPD", if (m == Scaling("extract")) 20 else 200)
      // 4N threads must fit the machine's cores
      n <- positive("SPARK_GRAFT_N", math.max(1, Runtime.getRuntime.availableProcessors / 4))
      mult <- positive("SPARK_GRAFT_MULT", 100)
    } yield Config(m, cpus, runs, tpd, n, mult)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    parse(args.toSeq, sys.env) match {
      case Right(cfg) => run(cfg, sfDir)
      case Left(err) =>
        System.err.println(s"Bench: $err\n$Usage")
        sys.exit(2)
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Steal share from which a sample is contended (BENCH.md "Measurement protocol"). */
  private val Contended = 0.03

  /** `body`'s result and the share of machine CPU time stolen while it ran. */
  private def withSteal[T](body: => T): (T, Double) = {
    def cpuStat(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (v(7), v.take(8).sum) // (steal, total)
    }
    val (s0, t0) = cpuStat()
    val r = body
    val (s1, t1) = cpuStat()
    (r, (s1 - s0).toDouble / math.max(t1 - t0, 1L))
  }

  // One JSON object per report line; values are already JSON text.
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s + "\""
  private def num(x: Double, digits: Int = 3): String = s"%.${digits}f".format(x)

  private def run(cfg: Config, sfDir: String): Unit = cfg.mode match {
    case Scaling(face) => scaling(face, cfg, sfDir)
    case mode =>
      val spark = session(cfg.cpus)
      try {
        // warmup: JIT + codegen + parquet footer caches
        extractionThroughput(spark, sfDir, turnsPerDoc = 1, buckets = cfg.cpus)
        mode match {
          case Queries(names) => queries(spark, sfDir, cfg, names)
          case Jobs(names) => jobs(spark, sfDir, names)
          case Plan(outDir, names) => plans(spark, sfDir, outDir, names)
          case _ => driver(spark, sfDir, cfg)
        }
      } finally spark.stop()
  }

  private final case class Timing(sec: Double, steal: Double, failed: Boolean)

  /** Times each action on each query: the fastest of `cfg.queryRuns`
    * calls (one contended sample can inflate a query 4-6×), its steal
    * share, and whether any call threw (timed like a return). Also returns
    * the `failed_queries` and `contended_queries` report fields. */
  private def sweep(spark: SparkSession, sfDir: String, cfg: Config, names: Seq[String])(
      actions: (DataFrame => Unit)*): (Seq[(String, Seq[Timing])], Seq[(String, String)]) = {
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      name -> actions.map { action =>
        val samples = (1 to cfg.queryRuns).map(_ => withSteal(timed(
          try { action(fn(spark, sfDir)); false } catch { case _: Throwable => true })))
        val ((_, sec), steal) = samples.minBy(_._1._2)
        Timing(sec, steal, samples.exists(_._1._1))
      }
    }
    def flagged(p: Timing => Boolean): String =
      results.collect { case (k, ts) if ts.exists(p) => str(k) }.mkString("[", ",", "]")
    (results, Seq("failed_queries" -> flagged(_.failed),
      "contended_queries" -> flagged(_.steal >= Contended)))
  }

  private def driver(spark: SparkSession, sfDir: String, cfg: Config): Unit = {
    val (results, flags) =
      sweep(spark, sfDir, cfg, SparkEntry.queries.keys.toSeq.sorted)(_.count())
    // headline at a workload big enough to dominate fixed costs (~0.4 s/job
    // of scheduler+scan setup), min of k runs: hypervisor noise swings a
    // clean 3.4 s run to 9 s, five attempts reliably include a clean window
    def fastestOf(k: Int, preBucketed: Boolean): (Long, Double) = {
      val runs = (1 to k).map(_ => extractionThroughput(spark, sfDir, cfg.tpd,
        buckets = cfg.cpus * 4, preBucketed))
      (runs.head._1, runs.map(_._2).min)
    }
    val (turns, extractSec) = fastestOf(5, preBucketed = false)
    val (pbTurns, pbSec) = fastestOf(3, preBucketed = true)
    println(obj(Seq(
      "metric" -> str("extracted turns/sec"), "value" -> num(turns / extractSec, 1),
      "unit" -> str("turns/sec"),
      "queries" -> obj(results.map { case (k, ts) => k -> num(ts.head.sec) }: _*),
      "sf" -> str(sfDir), "queries_total_sec" -> num(results.map(_._2.head.sec).sum),
      "extract_turns" -> turns.toString, "extract_sec" -> num(extractSec),
      "prebucketed_turns_per_sec" -> num(pbTurns / pbSec, 1),
      "cpus" -> cfg.cpus.toString) ++ flags: _*))
  }

  /** The noop sink times the computation, count() the driver's pruned plan. */
  private def queries(spark: SparkSession, sfDir: String, cfg: Config,
      names: Seq[String]): Unit = {
    val (results, flags) = sweep(spark, sfDir, cfg, names)(
      _.write.format("noop").mode("overwrite").save(), _.count())
    println(obj(Seq("queries" -> obj(results.map { case (k, Seq(noop, cnt)) =>
        k -> obj("noop" -> num(noop.sec), "count" -> num(cnt.sec)) }: _*),
      "sf" -> str(sfDir), "cpus" -> cfg.cpus.toString) ++ flags: _*))
  }

  /** Per-job and per-stage wall of one warm execution of each query. */
  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val lst = new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: SparkListenerJobStart): Unit = starts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = println(
        f"    job ${j.jobId}%4d ${(j.time - starts.getOrDefault(j.jobId, j.time)) / 1e3}%7.3f s")
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        val i = st.stageInfo
        val dt = i.completionTime.zip(i.submissionTime).map(t => (t._1 - t._2) / 1e3)
        println(f"      stage ${i.stageId}%4d ${dt.getOrElse(-1.0)}%7.3f s  " +
          f"tasks=${i.numTasks}%3d  ${i.name.take(70)}")
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      spark.sparkContext.addSparkListener(lst)
      val (_, wall) = timed(fn(spark, sfDir).count())
      Thread.sleep(200) // let the listener bus drain
      spark.sparkContext.removeSparkListener(lst)
      println(f"== $name total ${wall}%.3f s")
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, s"$name.txt"), plan + "\n")
      println(s"wrote $outDir/$name.txt")
    }
  }

  /** Task wall times (ms) by stage, for the hottest-task ratios. */
  private final class TaskTimes extends SparkListener {
    private val recs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Option(te.taskMetrics)
      .foreach(m => recs.add((te.stageId, m.shuffleReadMetrics.recordsRead, m.executorRunTime)))
    /** (max/median, max/fair-share) task time of the heaviest stage (most
      * shuffle records read, then most task time). Fair share = stage task
      * time / cores: a task under 1.0 cannot be the critical path. */
    def ratios(cores: Int): (Double, Double) = recs.asScala.toSeq.groupBy(_._1).values
      .maxByOption(s => (s.map(_._2).sum, s.map(_._3).sum)).fold((-1.0, -1.0)) { stage =>
        val times = stage.map(_._3).sorted
        val med = math.max(times(times.size / 2), 1L).toDouble
        (times.last / med, times.last / math.max(times.sum.toDouble / cores, 1.0))
      }
  }

  /** One scaling run: the face's result (rows, or a digest), its seconds
    * and steal share, and the heaviest stage's task ratios. */
  private final case class Run(rows: Long, sec: Double, steal: Double,
      maxOverMedian: Double, maxOverFair: Double)

  /** Builds its input on the session, then times one action. */
  private type Face = SparkSession => (Long, Double)

  /** `face` on a fresh `local[cores]` session. */
  private def once(cores: Int)(face: Face): Run = {
    val spark = session(cores)
    try {
      val tasks = new TaskTimes
      spark.sparkContext.addSparkListener(tasks)
      val ((rows, sec), steal) = withSteal(face(spark))
      Thread.sleep(600) // let the listener bus drain
      val (overMedian, overFair) = tasks.ratios(cores)
      Run(rows, sec, steal, overMedian, overFair)
    } finally spark.stop()
  }

  private final case class Pair(n: Run, n4: Run) {
    def clean: Boolean = n.steal < Contended && n4.steal < Contended
    def eff: Double = (n.sec / n4.sec) / 4.0 // (thru4/thruN)/4 == secN/(4*sec4)
  }

  /** N→4N matched pairs (BENCH.md "Measurement protocol"): after one
    * discarded 4N warm-up run, N and 4N run back-to-back so each pair
    * shares one noise window; pairs with a contended side are rejected,
    * sampling stops at 3 clean pairs or 5 pairs, and the median clean pair
    * (of all pairs if none is clean) is the estimate. Every run must give
    * the same rows. Returns the median pair and its JSON report. */
  private def matchedPairs(label: String, n: Int)(face: Face): (Pair, String) = {
    once(4 * n)(face)
    val pairs = ArrayBuffer.empty[Pair]
    while (pairs.length < 5 && pairs.count(_.clean) < 3)
      pairs += Pair(once(n)(face), once(4 * n)(face))
    System.err.println(s"[scaling] $label pairs: " + pairs.map(p =>
      f"(${p.n.sec}%.2f,${p.n4.sec}%.2f)->${p.eff}%.3f${if (p.clean) "" else "*steal"}")
      .mkString(" "))
    val usable = { val c = pairs.filter(_.clean); if (c.nonEmpty) c else pairs }
    val byEff = usable.sortBy(_.eff)
    val med = byEff(byEff.length / 2)
    require(pairs.forall(p => p.n.rows == med.n.rows && p.n4.rows == med.n.rows),
      s"$label: row counts differ across parallelism")
    (med, obj("eff" -> num(med.eff), "best_eff" -> num(byEff.last.eff),
      "rows" -> med.n.rows.toString, "sec_n" -> num(med.n.sec), "sec_4n" -> num(med.n4.sec),
      "steal_n" -> num(med.n.steal, 4), "steal_4n" -> num(med.n4.steal, 4),
      "task_max_over_median_4n" -> num(med.n4.maxOverMedian, 2),
      "task_max_over_fairshare_4n" -> num(med.n4.maxOverFair, 2),
      "pairs" -> pairs.length.toString, "clean_pairs" -> pairs.count(_.clean).toString))
  }

  /** One bucket layout at both sizes, B >> cores as at production scale:
    * hot salted buckets amortize only when each core runs many waves
    * (B = 4*cores measured 0.667 N->4N on 8 cores). */
  private val SkewBuckets = 128

  private def scaling(face: String, cfg: Config, sfDir: String): Unit = {
    val n = cfg.n
    def report(value: Double, fields: (String, String)*): Unit = println(obj(Seq(
      "metric" -> str("scaling efficiency N->4N"), "face" -> str(face),
      "value" -> num(value), "unit" -> str("ratio"), "n_cores" -> n.toString,
      "sf" -> str(sfDir)) ++ fields: _*))
    face match {
      case "extract" =>
        def extract(preBucketed: Boolean): Face = spark => extractionThroughput(spark, sfDir,
          cfg.tpd, buckets = spark.sparkContext.defaultParallelism * 4, preBucketed)
        val (ex, exchange) = matchedPairs("exchange", n)(extract(preBucketed = false))
        val (_, prebucketed) = matchedPairs("pre-bucketed", n)(extract(preBucketed = true))
        // output determinism across parallelism: xor of per-row hashes
        val digest: Face = spark => timed {
          import spark.implicits._
          ExtractJob.run(spark, TranscriptGen.turns(spark, sfDir, 2),
            spark.sparkContext.defaultParallelism * 4).extracted.toDF()
            .select(xxhash64(col("conv_id"), col("turn_idx"),
              coalesce(col("extracted_text"), lit("")), col("confidence")))
            .as[Long].reduce(_ ^ _)
        }
        report(ex.eff, "tpd" -> cfg.tpd.toString, "exchange" -> exchange,
          "prebucketed" -> prebucketed,
          "deterministic" -> (once(n)(digest).rows == once(4 * n)(digest).rows).toString)

      case "skew" =>
        // ~20% of all turns in one conversation; the unsalted counterfactual
        // keys buckets by the raw conv_id hash (same exchange and operator)
        def skewed(salted: Boolean): Face = spark => {
          val turns = TranscriptGen.skewedTurns(spark, sfDir, cfg.tpd)
          timed {
            val extracted =
              if (salted) ExtractJob.run(spark, turns, SkewBuckets).extracted.toDF()
              else GraftOps.extractTurns(turns.toDF()
                .withColumn("b", pmod(hash(col("conv_id")), lit(SkewBuckets)))
                .repartition(SkewBuckets, col("b")))
            extracted.where(col("extracted_text").isNotNull).count()
          }
        }
        val (s, salted) = matchedPairs("skew salted", n)(skewed(salted = true))
        val (u, unsalted) = matchedPairs("skew unsalted", n)(skewed(salted = false))
        require(s.n.rows == u.n.rows, "row counts diverged across configurations")
        report(s.eff, "tpd" -> cfg.tpd.toString, "mega_frac" -> "0.2",
          "buckets" -> SkewBuckets.toString, "salted" -> salted, "unsalted" -> unsalted,
          "unsalted_penalty_4n" -> num(u.n4.sec / s.n4.sec, 2))

      case "curation" =>
        val staged = stageCuration(sfDir, n, cfg.mult)
        try {
          // the map-only shape most curation operators share, and the
          // dedup family's one exchange
          val (rl, rowLocal) = matchedPairs("curation row-local", n)(spark =>
            timed(Quality.signals(spark, staged).where(col("keep") === 1L).count()))
          val (_, shuffle) = matchedPairs("curation shuffle", n)(spark =>
            timed(Dedup.minhashLsh(spark, staged).count()))
          report(rl.eff, "mult" -> cfg.mult.toString, "rowlocal" -> rowLocal,
            "shuffle" -> shuffle)
        } finally Scratch.deleteRecursively(new java.io.File(staged))
    }
  }

  /** Stages the documents table once (input generation is not measured),
    * `mult`× with a per-replica suffix word so dedup measures signature and
    * join cost, not a quadratic planted-duplicate pair explosion. */
  private def stageCuration(sfDir: String, n: Int, mult: Int): String = {
    val staged = java.nio.file.Files.createTempDirectory(
      Scratch.root.toPath, "curscale").toString
    val spark = session(4 * n)
    try {
      // spread the SOURCE rows first (one small parquet file = one scan
      // task) so the explode runs at full parallelism
      TableIO(spark, sfDir).read("documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .withColumn("r", explode(sequence(lit(0), lit(mult - 1))))
        .select((col("doc_id") * mult + col("r")).as("doc_id"),
          concat(col("text"), lit(" replica"), col("r")).as("text"))
        .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    } finally spark.stop()
    staged
  }
}
