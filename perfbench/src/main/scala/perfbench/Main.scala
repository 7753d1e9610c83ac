package perfbench

import graft.extract.{ExtractOptions, Extractor, Summary}
import graft.spark.{ExtractJob, ExtractedTurn, Turn}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark: one JVM, Spark at local[nproc], driving the extractor's
  * public Spark faces (`ExtractJob.run` / `runPreBucketed`) on a seeded
  * workload read back from parquet, so every timed pass starts at the scan.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--root <dir>]
  *
  * The last stdout line is the result object; the line before it records
  * the machine (nproc, heap, load average) and the run's details. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: File)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    if (kv.size * 2 != args.length) return Left("arguments come in --name value pairs")
    val unknown = kv.keySet -- Set("--workload", "--seed", "--seconds", "--trace", "--root")
    if (unknown.nonEmpty) return Left(s"unknown arguments: ${unknown.mkString(" ")}")
    for {
      w <- kv.get("--workload").filter(Inputs.Names.contains)
        .toRight(s"--workload must be one of ${Inputs.Names.mkString(", ")}")
      seed <- kv.get("--seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      secs <- kv.get("--seconds").flatMap(_.toIntOption).filter(_ > 0)
        .toRight("--seconds must be a positive integer")
      tr <- kv.get("--trace").filter(Set("0", "1")).toRight("--trace must be 0 or 1")
    } yield Args(w, seed, secs, tr == "1", new File(kv.getOrElse("--root", ".")))
  }

  def main(args: Array[String]): Unit = parse(args) match {
    case Left(msg) =>
      System.err.println(s"perfbench: $msg")
      sys.exit(2)
    case Right(a) =>
      val code =
        try { run(a); 0 }
        catch { case e: Throwable => e.printStackTrace(); 1 }
      sys.exit(code)
  }

  /** Buckets, and input files of the map-only face, per core (Bench's
    * headline uses the same 4). 16 per core cost ~25 % more CPU per
    * news_pages pass in per-task overhead and was no steadier. */
  val TasksPerCore = 4

  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // scan the small local inputs as one task per file, the way a bucketed
      // production table scans one task per bucket file; without it Spark
      // packs the files into ~nproc splits whose count shifts with the seed
      .config("spark.sql.files.minPartitionNum", (cpus * TasksPerCore).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The workload's extraction face over its parquet input (lazy). */
  def face(spark: SparkSession, in: Input, buckets: Int): ExtractJob.Result = {
    import spark.implicits._
    val turns = spark.read.parquet(in.turnsPath).as[Turn]
    if (in.preBucketed) ExtractJob.runPreBucketed(spark, turns, buckets)
    else ExtractJob.run(spark, turns, buckets)
  }

  /** One pass: the face into the noop sink. */
  def pass(spark: SparkSession, in: Input, buckets: Int): Unit =
    face(spark, in, buckets).extracted.write.format("noop").mode("overwrite").save()

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(a: Args): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val buckets = cpus * TasksPerCore
    val work = new File(a.root, s".bench_build/perfbench/${a.workload}")
    val trace = new Trace(a.trace)
    HeapWatch.install()
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load_avg_1m" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "java" -> System.getProperty("java.version"))

    // ---- set-up: session start + warm-up pass, three times; the first
    // one also generates the inputs (timed apart, not part of set-up)
    var (spark, start1) = seconds(trace.span("session.start", -1)(_ => session(cpus, work)))
    info("spark") = spark.version
    val (in, genS) = seconds(trace.span("generate", -1)(_ =>
      Inputs.make(a.workload, spark, a.seed, a.root, work)))
    val setups = mutable.ArrayBuffer(start1 + seconds(trace.span("warmup", -1)(_ =>
      pass(spark, in, buckets)))._2)
    for (_ <- 1 to 2) {
      spark.stop()
      val (s, st) = seconds(trace.span("session.start", -1)(_ => session(cpus, work)))
      spark = s
      setups += st + seconds(trace.span("warmup", -1)(_ => pass(spark, in, buckets)))._2
    }
    info ++= Seq("generate_s" -> genS, "setup_samples_s" -> setups.toSeq,
      "turns" -> in.turns, "input_mb" -> in.inputBytes / 1e6,
      "distinct_payloads" -> in.payloads.length, "buckets" -> buckets,
      "face" -> (if (in.preBucketed) "runPreBucketed" else "run")) ++ in.notes

    // ---- correctness, outside every timed region
    val problems = mutable.ArrayBuffer.empty[String]
    val expected = trace.span("check.direct", -1)(_ => direct(in.payloads))
    problems ++= in.gate(expected)
    val chk = trace.span("check.spark", -1)(_ => Check.run(spark, in, expected, buckets))
    if (chk.rows != in.turns) problems += s"${chk.rows} output rows for ${in.turns} input turns"
    if (chk.unmapped > 0) problems += s"${chk.unmapped} output rows with unknown keys"
    if (chk.mismatched > 0) problems += s"${chk.mismatched} turns differ from a direct kernel call"
    info ++= Seq("check_failed_turns" -> chk.failed, "lineage_balance" -> chk.lineageBalance)

    // ---- timed passes
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passJit = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val events = new SparkEvents
    var attempts = 0
    var thrown = 0
    val uptime = ManagementFactory.getRuntimeMXBean
    val steal0 = CpuSteal.ticks()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (attempts < (if (a.trace) 4 else 1) || System.nanoTime() < deadline) {
      val traced = a.trace && attempts % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(events)
        spark.listenerManager.register(events)
      }
      System.gc()
      val gc0 = gcMillis()
      val alloc0 = threadAllocated()
      val w0 = uptime.getUptime
      val cpu0 = processCpuNs()
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      attempts += 1
      try {
        val (_, t) = seconds(trace.span(if (traced) "pass.traced" else "pass", -1) { id =>
          pass(spark, in, buckets)
          if (traced) {
            PerfbenchBridge.drainListeners(spark.sparkContext)
            val ev = events.take()
            ev.record(trace, id)
            layer += sparkLayers(ev, in, gcMillis() - gc0, threadAllocated(alloc0))
          }
        })
        windows += ((w0, uptime.getUptime))
        passCpu += (processCpuNs() - cpu0) / 1e9
        passJit += (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
        if (traced) tracedTimes += t else passTimes += t
      } catch {
        case scala.util.control.NonFatal(e) =>
          thrown += 1
          System.err.println(s"perfbench: pass failed: $e")
      }
      if (traced) {
        spark.listenerManager.unregister(events)
        spark.sparkContext.removeSparkListener(events)
      }
    }
    val passS = median(passTimes.toSeq)
    info("cpu_steal_share") = CpuSteal.share(steal0, CpuSteal.ticks())
    info ++= Seq("pass_samples_s" -> passTimes.toSeq, "pass_cpu_s" -> passCpu.toSeq,
      "pass_jit_s" -> passJit.toSeq,
      "passes_thrown" -> thrown)
    if (passTimes.isEmpty) problems += "every timed pass threw"

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("turns_per_s", in.turns / passS, "1/s"),
        ("input_mb_per_s", in.inputBytes / 1e6 / passS, "MB/s"),
        ("setup_s", median(setups.toSeq), "s"))
      else {
        val rp = trace.span("replay", -1)(id => Replay.run(in, expected, trace, id))
        if (rp.mismatched > 0)
          problems += s"kernel replay differs from Extractor.extract on ${rp.mismatched} docs"
        info ++= Seq("traced_pass_samples_s" -> tracedTimes.toSeq, "replay_rounds" -> rp.rounds,
          "replay_docs_matching_share" -> (1.0 - rp.mismatched.toDouble / in.payloads.length))
        val sparkMed = layer.flatMap(_.keys).distinct.map(k => k -> median(layer.map(_(k)).toSeq))
        val cpuS = sparkMed.toMap.getOrElse("spark.executor_cpu_s", Double.NaN)
        rp.metrics.map { case (k, v) => (k, v, unitOf(k)) } ++
          sparkMed.map { case (k, v) => (k, v, unitOf(k)) } ++ Seq(
            ("spark.overhead_share", 1.0 - rp.kernelCpuSeconds / cpuS, "share"),
            ("lineage.balance", chk.lineageBalance, "share"),
            ("jvm.heap_live_peak_mb", HeapWatch.peakMb(windows.toSeq), "MB"),
            ("trace.overhead_share", median(tracedTimes.toSeq) / passS - 1.0, "share"))
      }

    if (a.trace) {
      val f = new File(work.getParentFile, s"trace-${a.workload}-${a.seed}.jsonl")
      trace.write(f)
      info("trace_file") = f.getPath
      info("self_s") = trace.selfSeconds().take(24).toMap
    }
    info("problems") = problems.toSeq
    spark.stop()
    deleteTree(new File(work, "turns.parquet"))
    deleteTree(new File(work, "sf"))

    println(Json(Map("info" -> info)))
    println(Json(mutable.LinkedHashMap(
      "correct" -> problems.isEmpty,
      "attempted" -> in.turns * attempts,
      "failed" -> (chk.failed * (attempts - thrown) + in.turns * thrown),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
  }

  private def unitOf(k: String): String =
    if (k.endsWith(".us_per_doc") || k.endsWith("_us")) "us"
    else if (k.endsWith(".b_per_doc")) "B"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("b_per_input_b")) "B/B"
    else if (k == "spark.tasks" || k.startsWith("extract.fail_")) "count"
    else if (k == "spark.task_skew") "ratio"
    else "share"

  /** `Extractor.extract` on every distinct payload, in parallel. */
  def direct(payloads: Array[String]): Array[Summary] = {
    val out = new Array[Summary](payloads.length)
    java.util.stream.IntStream.range(0, payloads.length).parallel()
      .forEach(i => out(i) = Extractor.extract(payloads(i), ExtractOptions()))
    out
  }

  /** Spark-layer numbers of one traced pass. */
  private def sparkLayers(ev: SparkEvents.Events, in: Input, gcMs: Long,
      allocBytes: Long): Map[String, Double] = {
    val ts = ev.tasks
    Map(
      "spark.scan_s" -> ev.scanMs / 1e3,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
      "spark.shuffle_write_s" -> ts.map(_.shuffleWriteNs).sum / 1e9,
      "spark.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "spark.task_skew" -> ev.taskSkew,
      "spark.tasks" -> ts.length.toDouble,
      "jvm.alloc_b_per_input_b" -> allocBytes.toDouble / in.inputBytes)
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def threadAllocated(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Bytes allocated since `before` by threads alive now. */
  private def threadAllocated(before: Map[Long, Long]): Long =
    threadAllocated().map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Heap still in use just after each collection, sampled through GC
    * notifications. */
  object HeapWatch {
    private val samples = mutable.ArrayBuffer.empty[(Long, Long)] // (gc start ms, used after)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          samples.synchronized { samples += ((gc.getStartTime, used)) }
        }
    }

    /** The highest post-collection heap among the collections that started
      * inside a window (JVM uptime ms); with none inside, the heap after a
      * full collection now. */
    def peakMb(windows: Seq[(Long, Long)]): Double = {
      Thread.sleep(200) // notifications arrive on a service thread
      val in = samples.synchronized(samples.toSeq).collect {
        case (t, used) if windows.exists { case (a, b) => t >= a && t <= b } => used
      }
      if (in.nonEmpty) in.max / 1e6
      else {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }
    }
  }
}

/** Time the hypervisor gave this machine's CPUs to other guests, from
  * /proc/stat where it exists: a run record, so noisy runs can be told
  * apart from slow code. */
object CpuSteal {
  /** (steal, total) ticks summed over all CPUs; zeros where unavailable. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** The Spark-side correctness check: every output row against the direct
  * kernel call on its payload, plus the lineage rows' turn total. */
object Check {
  final case class Result(rows: Long, mismatched: Long, failed: Long, unmapped: Long,
      lineageBalance: Double)

  def same(r: ExtractedTurn, s: Summary): Boolean =
    java.lang.Double.compare(r.confidence, s.confidence) == 0 &&
      r.extracted_html == s.html && r.extracted_text == s.text && r.failed == s.failed &&
      r.spans.length == s.spans.length &&
      r.spans.indices.forall(i => r.spans(i).start == s.spans(i)._1 && r.spans(i).end == s.spans(i)._2)

  def run(spark: SparkSession, in: Input, expected: Array[Summary], buckets: Int): Result = {
    import spark.implicits._
    val exp = spark.sparkContext.broadcast(expected)
    val key = in.key
    val res = Main.face(spark, in, buckets)
    val counts = res.extracted.mapPartitions { it =>
      val c = new Array[Long](4) // rows, mismatched, failed, unmapped
      it.foreach { r =>
        c(0) += 1
        if (r.failed) c(2) += 1
        val k = key(r.conv_id, r.turn_idx)
        if (k < 0 || k >= exp.value.length) c(3) += 1
        else if (!same(r, exp.value(k))) c(1) += 1
      }
      Iterator((c(0), c(1), c(2), c(3)))
    }.collect()
    exp.destroy()
    val lineage = res.lineageRows.map(l => l.extracted_turns + l.failed_turns + l.empty_turns).sum
    Result(counts.map(_._1).sum, counts.map(_._2).sum, counts.map(_._3).sum,
      counts.map(_._4).sum, lineage.toDouble / in.turns)
  }
}

/** The traced kernel replay over every distinct payload, weighted by its
  * number of turns so per-doc numbers describe the workload's mix. */
object Replay {
  /** `kernelCpuSeconds`: replay thread CPU, weighted to one pass's turns. */
  final case class Result(metrics: Seq[(String, Double)], mismatched: Int, rounds: Int,
      kernelCpuSeconds: Double)

  def run(in: Input, expected: Array[Summary], trace: Trace, parent: Int): Result = {
    val opts = ExtractOptions()
    val n = in.payloads.length
    val quiet = new Trace(false)
    for (i <- 0 until math.min(n, 200)) // JIT warm-up of the replay's own code
      KernelReplay.replay(in.payloads(i), opts, new KernelReplay.DocCost, countBytes = false,
        quiet, -1)

    // round 0 counts allocation, records spans and checks every doc; the
    // timing rounds follow, at least one, more while under a second
    val costs = Array.fill(n)(new KernelReplay.DocCost)
    var mismatched = 0
    trace.span("replay.round", parent) { round =>
      for (i <- 0 until n) {
        val s = trace.span("replay.doc", round)(doc =>
          KernelReplay.replay(in.payloads(i), opts, costs(i), countBytes = true, trace, doc))
        if (!KernelReplay.same(s, expected(i))) mismatched += 1
      }
    }
    var rounds = 0
    val t0 = System.nanoTime()
    while (rounds == 0 || (System.nanoTime() - t0 < 1000000000L && rounds < 50)) {
      for (i <- 0 until n)
        KernelReplay.replay(in.payloads(i), opts, costs(i), countBytes = false, quiet, -1)
      rounds += 1
    }
    // the untraced kernel on the same docs, for the replay's own overhead
    var directNs = 0.0
    for (i <- 0 until n) {
      val t = System.nanoTime()
      Extractor.extract(in.payloads(i), opts)
      directNs += (System.nanoTime() - t).toDouble * in.weights(i)
    }

    val w = in.weights.map(_.toDouble)
    val totalW = w.sum
    val layerNs = KernelReplay.Layers.indices.map(l =>
      (0 until n).map(i => costs(i).ns(l) * w(i)).sum / rounds)
    val layerB = KernelReplay.Layers.indices.map(l =>
      (0 until n).map(i => costs(i).bytes(l) * w(i)).sum)
    val kernelNs = layerNs.sum
    val perDocUs = (0 until n).map(i => costs(i).totalNs / 1e3 / rounds)
    val byTime = (0 until n).sortBy(perDocUs)
    val cum = byTime.scanLeft(0.0)((acc, i) => acc + w(i)).tail
    val p50 = perDocUs(byTime(cum.indexWhere(_ >= totalW / 2)))
    def weighted(f: KernelReplay.DocCost => Boolean): Double =
      (0 until n).filter(i => f(costs(i))).map(w).sum

    val metrics = KernelReplay.Layers.indices.flatMap { l =>
      val name = KernelReplay.Layers(l)
      Seq(s"$name.us_per_doc" -> layerNs(l) / totalW / 1e3,
        s"$name.b_per_doc" -> layerB(l) / totalW,
        s"$name.share" -> layerNs(l) / kernelNs)
    } ++ Seq(
      "extract.retry_rate" -> weighted(_.retried) / totalW,
      "extract.turn_p50_us" -> p50,
      "extract.turn_max_us" -> perDocUs.max,
      "extract.fail_stack_overflow" -> weighted(_.failClass == "stack_overflow"),
      "extract.fail_other" -> weighted(_.failClass == "other"),
      "trace.kernel_overhead_share" -> (kernelNs / directNs - 1.0))
    val kernelCpuNs = (0 until n).map(i => costs(i).cpuNs * w(i)).sum / rounds
    Result(metrics, mismatched, rounds, kernelCpuNs / 1e9)
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
