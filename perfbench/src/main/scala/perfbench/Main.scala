package perfbench

import java.io.File
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import graft.tools.KernelScaling
import Workloads._

/** One benchmark run:
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * A single client runs ops of one workload in a closed loop for
  * `seconds`, checks every op's output, and prints one JSON result as
  * the last line of stdout. With `--trace 1` every other op is traced
  * (Spark jobs tagged per op, layer spans recorded), the other
  * workloads' layers are swept once, and the per-layer metrics are
  * printed instead of the end-to-end ones. The full run record (ops,
  * yardstick, input properties, spans and jobs) lands in `runs/` next
  * to the work directory, which is deleted at the end.
  */
object Main {

  val workloadNames = Seq("encode_zipf", "scan_decode", "query_pruned", "dedup_webdocs")

  /** Input sizes: small enough for a run to fit its time budget on a
    * 4-core host, large enough that per-job overhead is not all of an op.
    */
  val EncodeRows = 16000L

  def make(name: String): Workload = name match {
    case "encode_zipf" => new EncodeZipf(rows = EncodeRows)
    case "scan_decode" => new ScanDecode(rows = 16000)
    case "query_pruned" => new QueryPruned(rows = 16000)
    // 4 000 pages: the hottest LSH buckets reach 50-100 rows, over the
    // workload's bucket cap
    case "dedup_webdocs" => new DedupWebdocs(docs = 4000)
  }

  val SetupReps = 3
  /** Untimed ops before the loop, so JIT and codegen are warm when timing
    * starts. A fixed count, not a time: op times still fall for a while
    * after warm-up, so every run must start its loop at the same point.
    */
  val WarmupOps = Map("encode_zipf" -> 5, "scan_decode" -> 8, "query_pruned" -> 12,
    "dedup_webdocs" -> 5)
  /** Traced ops each other workload runs in a traced run's layer sweep,
    * after its warm-up.
    */
  val SweepOps = Map("encode_zipf" -> 2, "scan_decode" -> 2, "query_pruned" -> 12,
    "dedup_webdocs" -> 1)

  /** (name, unit) of every metric listed under `key` in BENCHMARK.json,
    * the one place the metric names and units are defined.
    */
  def declared(key: String): Seq[(String, String)] = {
    import org.json4s._
    val spec = jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8"))
    (spec \ key).children.map { m =>
      val JString(name) = m \ "name": @unchecked
      val JString(unit) = m \ "unit": @unchecked
      name -> unit
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wName = opts.getOrElse("workload", "")
    require(workloadNames.contains(wName), s"unknown workload '$wName'; one of ${workloadNames.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val runs = new File(work.getParentFile, "runs")
    runs.mkdirs()
    rm(work.getPath)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()

    val yardStart = yardstick(cores)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = secs(t0)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val ctx = Ctx(spark, rec, work, seed, cores)
    val w = make(wName)

    try {
      val setups = (0 until SetupReps).map(r => w.setup(ctx, r))
      val warmOps = WarmupOps(wName)
      val (_, warmS) = timed((1 to warmOps).foreach(k => w.op(ctx, -k, traced = false)))
      // after the warm-up, so the reference answers are computed warm
      val (_, checkS) = timed(w.prepareChecks(ctx))
      val setupS = sessionS + Stats.median(setups.map(s => s.stageS + s.buildS)) + warmS

      // ---- the closed loop ------------------------------------------
      val done = scala.collection.mutable.ArrayBuffer[Done]()
      val loopStart = System.nanoTime()
      var i = 0
      while (secs(loopStart) < seconds || done.size < 3) {
        val traced = trace && i % 2 == 1
        rec.enabled = traced
        done += attempt(w, ctx, i, traced)
        rec.enabled = false
        i += 1
      }
      val loopS = secs(loopStart)
      val ops = done.map(_.checked)
      val okOps = ops.filter(_.ok).toSeq
      val failedShare = Stats.Share(ops.count(!_.ok), ops.size, "ops")

      // ---- per-layer: the other workloads' layers, swept once --------
      // each after its own untimed warm-up, so its layer figures are warm
      val sweep = scala.collection.mutable.ArrayBuffer[(Workload, Seq[OpResult], SetupTimes)]()
      if (trace) workloadNames.filter(_ != wName).zipWithIndex.foreach { case (n, k) =>
        val o = make(n)
        val st = o.setup(ctx, 0)
        (1 to WarmupOps(n)).foreach(j => o.op(ctx, -j, traced = false))
        o.prepareChecks(ctx)
        rec.enabled = true
        // a multiple of 12, so the query sweep runs whole rounds
        val base = 120000 * (k + 1)
        val ds = (0 until SweepOps(n)).map(j => attempt(o, ctx, base + j, traced = true))
        rec.enabled = false
        sweep += ((o, ds.map(_.checked), st))
      }
      val sweptOps = sweep.flatMap(_._2).toSeq
      val allOps = ops ++ sweptOps
      val failed = allOps.count(!_.ok)
      val tr = rec.snapshot(spark)
      val layerMetrics: Map[String, Double] =
        if (!trace) Map.empty
        else {
          val own = w.layers(ctx, tr, ops.toSeq)
          val others = sweep.map { case (o, os, _) => o.layers(ctx, tr, os) }
          val allSetups = setups ++ sweep.map(_._3)
          val builds = allSetups.map(_.buildS).filter(_ > 0)
          val tracedOps = ops.filter(_.traced).toSeq
          val plainOps = ops.filterNot(_.traced).toSeq
          val cover = Stats.opCoverage(tr.spans)
          val synth = Map(
            "synth.stage.wall_s" -> Stats.median(setups.map(_.stageS)),
            "synth.store_build.wall_s" -> med(builds))
          val traceM = Map(
            "trace.overhead_share" ->
              (w.typicalOpS(tracedOps) / w.typicalOpS(plainOps) - 1.0),
            "trace.span_coverage_share" -> med(tracedOps.flatMap(o => cover.get(o.id))),
            "codec.yardstick.tok_per_s_1" -> yardStart._1,
            "codec.yardstick.tok_per_s_n" -> yardStart._2)
          others.foldLeft(Map.empty[String, Double])(_ ++ _) ++ own ++ synth ++ traceM
        }
      val yardEnd = yardstick(cores)
      val rssMb = peakRssMb()

      val e2e = ListMap(
        "setup_s" -> setupS,
        "op_wall_s" -> (if (okOps.isEmpty) 0.0 else w.typicalOpS(okOps)),
        "ok_op_share" -> (1.0 - failedShare.value),
        "peak_rss_mb" -> rssMb)
      val named = (if (okOps.isEmpty) Nil else w.named(okOps)) ++ Seq(
        ("setup_s", setupS, "s", f"session $sessionS%.3f + median staging/build of $SetupReps + $warmOps warm-up ops $warmS%.3f"),
        ("failed_op_share", failedShare.value, "share", failedShare.base),
        ("peak_rss_mb", rssMb, "MB", "VmHWM at run end"))

      // ---- report ---------------------------------------------------
      println(s"workload=$wName seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} cores=$cores")
      named.foreach { case (n, v, u, note) => println(f"  $n%-28s $v%16.6f $u%-7s $note") }
      println(f"  yardstick tok/s 1 thread: ${yardStart._1}%.0f -> ${yardEnd._1}%.0f; " +
        f"$cores threads: ${yardStart._2}%.0f -> ${yardEnd._2}%.0f")
      allOps.filterNot(_.ok).take(5).foreach(o => println(s"  FAILED op ${o.id}: ${o.error}"))

      def pick(key: String, from: Map[String, Double]) = declared(key).map { case (n, u) =>
        (n, from.getOrElse(n, throw new IllegalStateException(s"$key metric $n not measured")), u)
      }
      val perLayer = if (trace) pick("per_layer", layerMetrics) else Nil
      perLayer.foreach { case (n, v, u) => println(f"  $n%-46s $v%.6g $u") }

      val record = ListMap(
        "workload" -> wName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cores" -> cores, "loop_s" -> loopS, "check_prepare_s" -> checkS,
        "data_location" -> dataLocation(work), "flush_policy" ->
          "no fsync: Spark writes through the page cache, the OS flushes in the background",
        "spark_settings" -> sparkSettings(spark),
        "yardstick" -> ListMap("start_1" -> yardStart._1, "start_n" -> yardStart._2,
          "end_1" -> yardEnd._1, "end_n" -> yardEnd._2),
        "setup" -> setups, "named" -> named.map { case (n, v, u, note) =>
          ListMap("name" -> n, "value" -> v, "unit" -> u, "note" -> note) },
        "end_to_end" -> e2e, "per_layer" -> ListMap(perLayer.map(m => m._1 -> m._2): _*),
        "input" -> w.inputProps, "ops" -> ops, "swept_ops" -> sweptOps,
        "span_self_us" -> Stats.selfTimeByName(tr.spans),
        "span_coverage" -> Stats.opCoverage(tr.spans).toSeq.sortBy(_._1).map { case (k, v) => ListMap("op" -> k, "covered" -> v) },
        "spans" -> tr.spans, "jobs" -> tr.jobs, "stages" -> tr.stages.values.toSeq.sortBy(_.stageId),
        "sql" -> tr.sql.values.toSeq.sortBy(_.execId))
      val recFile = new File(runs, s"$wName-seed$seed-trace${if (trace) 1 else 0}.json")
      java.nio.file.Files.writeString(recFile.toPath, json(record))

      val metrics = ListMap((if (trace) perLayer else pick("end_to_end", e2e)).map {
        case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
      println(json(ListMap("correct" -> (failed == 0 && ops.nonEmpty), "attempted" -> allOps.size,
        "failed" -> failed, "metrics" -> metrics)))
    } finally {
      spark.stop()
      rm(work.getPath)
    }
  }

  /** Op `i` of `w`; an op that throws is a failed op. */
  def attempt(w: Workload, ctx: Ctx, i: Int, traced: Boolean): Done =
    try w.op(ctx, i, traced) catch {
      case e: Exception => Done(OpResult(i, 0.0, ok = false, "", traced),
        () => Seq(s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Compact JSON of maps, sequences and case classes; a number that is
    * not finite becomes null.
    */
  def json(v: Any): String = {
    import org.json4s._
    jackson.JsonMethods.compact(Extraction.decompose(v)(DefaultFormats).transform {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
    })
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def sparkSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.driver.memory", "spark.sql.files.maxPartitionBytes").contains(k)
    } ++ Map("max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString)

  /** KernelScaling tokens/s on 1 thread and on every core: the
    * host-noise control stored with each run.
    */
  def yardstick(cores: Int): (Double, Double) =
    (KernelScaling.measure(1), KernelScaling.measure(cores))

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Filesystem type holding `dir` (tmpfs means every byte is in memory). */
  def dataLocation(dir: File): String = {
    val path = dir.getCanonicalPath
    val src = scala.io.Source.fromFile("/proc/mounts")
    try {
      val mounts = src.getLines().map(_.split(' ')).collect { case a if a.length > 2 => (a(1), a(2)) }.toSeq
      val (mnt, fs) = mounts.filter { case (m, _) => path == m || path.startsWith(m.stripSuffix("/") + "/") }
        .maxByOption(_._1.length).getOrElse(("?", "?"))
      s"$fs at $mnt"
    } finally src.close()
  }
}
