package perfbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.encode.{TokenDecoder, TokenEncoder}
import graft.encode.TokenEncoder.EncodeConfig
import graft.model.TokenRow
import graft.synth.TokenSynth
import perfbench.Stats.JobRec

/** What every workload can reach: the session, the tracer, a private
  * work directory and the run's seed.
  */
final case class Ctx(spark: SparkSession, rec: Recorder, work: File, seed: Long,
                     cores: Int) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** One timed op: its wall time, whether its output passed the check,
  * and (for the query mix) which query and predicate class it was.
  */
final case class OpResult(id: Int, wallS: Double, ok: Boolean, error: String,
                          traced: Boolean, kind: String = "", cls: String = "")

/** An op that has returned, and the check of its output. The loop runs
  * the checks after its timed window, so they take no time from it.
  */
final case class Done(result: OpResult, check: () => Seq[String]) {
  def checked: OpResult = {
    val errors = try check() catch {
      case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    result.copy(ok = errors.isEmpty, error = errors.mkString("; "))
  }
}

/** Set-up of one workload: input staging and store build, in seconds. */
final case class SetupTimes(stageS: Double, buildS: Double)

trait Workload {
  def name: String
  /** Stage the seeded input and build what the op reads. `rep` > 0
    * repeats the set-up from scratch, for a steadier set-up time.
    */
  def setup(ctx: Ctx, rep: Int): SetupTimes
  /** Compute the reference answers the checks compare against; runs
    * after the warm-up ops and before the first checked op.
    */
  def prepareChecks(ctx: Ctx): Unit
  /** Run op `i`; traced ops tag their Spark jobs and open layer spans.
    * A negative `i` is a warm-up op, whose output goes unchecked.
    */
  def op(ctx: Ctx, i: Int, traced: Boolean): Done
  /** This workload's own end-to-end metrics, printed and recorded beside
    * the gated ones: (name, value, unit, note with the base).
    */
  def named(ops: Seq[OpResult]): Seq[(String, Double, String, String)]
  /** Per-layer metrics from the traced ops' trace. */
  def layers(ctx: Ctx, trace: Trace, ops: Seq[OpResult]): Map[String, Double]
  /** Input properties recorded with the run. */
  def inputProps: Map[String, Any]
  /** The wall time that stands for one op in the gate: the median op. */
  def typicalOpS(ops: Seq[OpResult]): Double = Stats.median(ops.map(_.wallS))
}

object Workloads {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }

  def duBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def group(w: String, i: Int): String = s"$w-op-$i"

  /** Stage the seeded TokenSynth table to parquet; returns its path. */
  def stageTokens(ctx: Ctx, rows: Long, name: String): String = {
    val path = ctx.dir(name)
    TokenSynth.dataset(ctx.spark, rows, ctx.seed, parallelism = ctx.cores)
      .write.mode("overwrite").parquet(path)
    path
  }

  def readTokens(ctx: Ctx, path: String): Dataset[TokenRow] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(path).as[TokenRow]
  }

  /** Encode settings shared by every store the benchmark builds: the
    * parquet-backed setting graft.Bench uses, with partitions sized so
    * there are several blocks per core.
    */
  def encodeConfig(rows: Long, cores: Int): EncodeConfig =
    EncodeConfig(targetRowsPerPart = math.max(200L, rows / (cores * 12L)).toInt,
      cacheInput = false)

  /** The staged input in one pass: its digest (the checks' reference),
    * token count and rows per source.
    */
  final case class Profile(digest: Digest, tokens: Long, sources: Map[String, Long]) {
    def +(o: Profile): Profile = Profile(digest + o.digest, tokens + o.tokens,
      (sources.keySet ++ o.sources.keySet).map(k =>
        k -> (sources.getOrElse(k, 0L) + o.sources.getOrElse(k, 0L))).toMap)
    def props: Map[String, Any] = Map("rows" -> digest.rows, "tokens" -> tokens,
      "raw_bytes" -> 4L * tokens, "source_shares" -> scala.collection.immutable.ListMap(
        sources.toSeq.sorted.map { case (s, n) => s -> s"$n/${digest.rows} rows" }: _*))
  }

  def profile(ds: Dataset[TokenRow]): Profile =
    ds.rdd.mapPartitions { it =>
      val rows = it.toVector
      Iterator.single(Profile(Digest.of(rows.iterator), rows.map(_.n_tok.toLong).sum,
        rows.groupBy(_.source).map { case (s, rs) => s -> rs.size.toLong }))
    }.collect().foldLeft(Profile(Digest.empty, 0L, Map.empty))(_ + _)

  /** Lineage facts of a committed store. */
  final case class StoreFacts(blocks: Long, tokens: Long, raw: Long, encoded: Long,
                              zstdBlocks: Long, codecMix: Map[String, Long], diskBytes: Long) {
    def ratio: Double = raw.toDouble / encoded
  }

  def storeFacts(spark: SparkSession, dir: String): StoreFacts = {
    val byCodec = spark.read.parquet(s"$dir/lineage").groupBy("codecId")
      .agg(count(lit(1)), sum("totalTokens"), sum("rawBytes"), sum("encodedBytes"),
        sum(when(col("postCodec") === 1, 1L).otherwise(0L)))
      .collect()
    def total(i: Int) = byCodec.map(_.getLong(i)).sum
    val mix = byCodec.map(r =>
      graft.codec.CodecIds.names.getOrElse(r.getInt(0), s"id${r.getInt(0)}") -> r.getLong(1)).toMap
    StoreFacts(total(1), total(2), total(3), total(4), total(5), mix, duBytes(dir))
  }


  // ---- layer sums over a set of jobs ----------------------------------

  final case class Sums(wallUs: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
                        inputBytes: Long, inputRecords: Long, shuffleWrite: Long,
                        spill: Long, retries: Int)

  def sums(trace: Trace, jobs: Seq[JobRec]): Sums = {
    val st = trace.stagesOf(jobs)
    Sums(Stats.unionLength(jobs.map(j => (j.start, j.end))),
      st.map(_.runMs).sum, st.map(_.cpuNs).sum, st.map(_.gcMs).sum,
      st.map(_.inputBytes).sum, st.map(_.inputRecords).sum,
      st.map(_.shuffleWriteBytes).sum, st.map(_.spillBytes).sum, st.map(_.retries).sum)
  }

  /** Op wall time not covered by any of its Spark jobs, in seconds. */
  def driverGapS(trace: Trace, op: OpResult, jobs: Seq[JobRec]): Double = {
    val root = trace.opSpans(op.id).find(_.parent < 0)
    root.map { r =>
      (r.dur - Stats.unionLength(Stats.clip(jobs.map(j => (j.start, j.end)), r.start, r.end))) / 1e6
    }.getOrElse(0.0)
  }

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}

import Workloads._

// ============================================================================

/** encode_zipf: one op is `TokenEncoder.run` into a fresh directory. */
final class EncodeZipf(rows: Long) extends Workload {
  val name = "encode_zipf"
  private var input = ""
  private var cfg: EncodeConfig = _
  private var tokens = 0L
  private var want: Digest = _
  private var props = Map.empty[String, Any]
  private var first: Option[StoreFacts] = None
  private var pin: Option[Pin] = None
  private var probeStore = ""
  private var cores = 1
  private var seed = 0L

  def setup(ctx: Ctx, rep: Int): SetupTimes = {
    cores = ctx.cores
    seed = ctx.seed
    val (p, stageS) = timed(stageTokens(ctx, rows, s"encode-input-$rep"))
    if (input.nonEmpty) rm(input)
    input = p
    cfg = encodeConfig(rows, ctx.cores)
    SetupTimes(stageS, 0.0)
  }

  def prepareChecks(ctx: Ctx): Unit = {
    val p = profile(readTokens(ctx, input))
    want = p.digest
    props = p.props
    tokens = p.tokens
    pin = Pins.load(rows, cores, seed)
  }

  /** One untimed encode of the staged input: its store's lineage facts. */
  def encodeOnce(ctx: Ctx): StoreFacts = {
    val out = ctx.dir("encode-once")
    rm(out)
    TokenEncoder.run(readTokens(ctx, input), out, cfg)
    try storeFacts(ctx.spark, out) finally rm(out)
  }

  def op(ctx: Ctx, i: Int, traced: Boolean): Done = {
    val out = ctx.dir(s"encode-out-$i")
    rm(out)
    val ds = readTokens(ctx, input)
    val (_, wall) = timed {
      if (traced) ctx.rec.op(ctx.spark, i, group(name, i), "op.encode") {
        ctx.rec.span("graft.encode.TokenEncoder.run")(TokenEncoder.run(ds, out, cfg))
      } else TokenEncoder.run(ds, out, cfg)
    }
    def check(): Seq[String] = try {
      val f = storeFacts(ctx.spark, out)
      val same = first match {
        case None => first = Some(f); Nil
        case Some(f0) =>
          if (f0.ratio == f.ratio && f0.codecMix == f.codecMix) Nil
          else Seq(s"ratio/codec mix moved: ${f.ratio} ${f.codecMix} vs ${f0.ratio} ${f0.codecMix}")
      }
      // compression must never move for a seed: no fewer raw bytes per
      // encoded byte than pinned, and the same codec for every block
      val pinned = pin.toSeq.flatMap { q =>
        if (f.raw == q.raw && f.encoded <= q.encoded && f.codecMix == q.codecMix) Nil
        else Seq(s"off the pin for seed $seed: ${f.raw}/${f.encoded} bytes ${f.codecMix}, " +
          s"pinned ${q.raw}/${q.encoded} bytes ${q.codecMix}")
      }
      same ++ pinned ++ Checks.digest("encode", Digest.ofDataset(
        TokenDecoder.read(ctx.spark, out, verifyChecksums = true)), want)
    } finally {
      // the newest traced op's store stays for the codec probe
      if (traced) { if (probeStore.nonEmpty) rm(probeStore); probeStore = out } else rm(out)
    }
    if (i < 0) rm(out)
    Done(OpResult(i, wall, ok = true, "", traced), if (i < 0) () => Nil else () => check())
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String, String)] = {
    val f = first
    Seq(
      ("encode_tok_per_s", tokens / med(ops.map(_.wallS)), "tok/s", s"median of ${ops.size} ops"),
      ("compression_ratio", f.map(_.ratio).getOrElse(0.0), "x",
        f.map(x => s"${x.raw}/${x.encoded} bytes").getOrElse("") +
          (if (pin.isDefined) "; held to the seed's pin" else "; seed not pinned")),
      ("store_bytes_per_raw_byte", f.map(_.diskBytes.toDouble / (4.0 * tokens)).getOrElse(0.0),
        "ratio", f.map(x => s"${x.diskBytes}/${4 * tokens} bytes").getOrElse("")))
  }

  def layers(ctx: Ctx, trace: Trace, ops: Seq[OpResult]): Map[String, Double] = {
    val tr = ops.filter(_.traced)
    val per = tr.map { o =>
      val jobs = trace.jobsOf(group(name, o.id))
      val layerOf = Stats.encodeLayers(jobs, trace.sql)
      def of(l: String) = jobs.filter(j => layerOf(j.jobId) == l)
      val blockStages = trace.stagesOf(of("blocks"))
      val mapSt = blockStages.filter(_.isMap)
      val asmSt = blockStages.filterNot(_.isMap)
      val all = sums(trace, jobs)
      val root = trace.opSpans(o.id).find(_.parent < 0)
      val wallS = root.map(_.dur / 1e6).getOrElse(o.wallS)
      Map(
        "encode.plan.wall_s" -> sums(trace, of("plan")).wallUs / 1e6,
        "encode.exchange.map_task_s" -> mapSt.map(_.runMs).sum / 1e3,
        "encode.exchange.shuffle_write_bytes_per_tok" -> mapSt.map(_.shuffleWriteBytes).sum.toDouble / tokens,
        "encode.exchange.fetch_wait_s" -> asmSt.map(_.fetchWaitMs).sum / 1e3,
        "encode.assemble.task_s" -> asmSt.map(_.runMs).sum / 1e3,
        "encode.assemble.cpu_s" -> asmSt.map(_.cpuNs).sum / 1e9,
        "encode.assemble.task_max_over_median" -> Stats.maxOverMedian(asmSt),
        "encode.write.output_bytes" -> asmSt.map(_.outputBytes).sum.toDouble,
        "encode.lineage.wall_s" -> sums(trace, of("lineage")).wallUs / 1e6,
        "encode.commit.wall_s" -> sums(trace, of("commit")).wallUs / 1e6,
        "encode.driver_gap_s" -> driverGapS(trace, o, jobs),
        "encode.gc_s" -> all.gcMs / 1e3,
        "encode.spill_bytes" -> all.spill.toDouble,
        "encode.task_retries" -> all.retries.toDouble,
        "encode.core_busy_share" -> all.taskMs / 1e3 / (wallS * cores))
    }
    val agg = per.flatMap(_.keys).distinct.map(k => k -> med(per.map(_(k)))).toMap
    val f = first.getOrElse(storeFacts(ctx.spark, probeStore))
    val codec = CodecProbe.measure(ctx.spark, probeStore)
    val encTokPerS = tokens / med(tr.map(_.wallS))
    agg ++ codec.encodeSide ++ Map(
      "encode.blocks" -> f.blocks.toDouble,
      "encode.spark_over_kernel" -> encTokPerS / (codec.encodeAutoTokPerS * cores),
      "codec.zstd.win_share" -> f.zstdBlocks.toDouble / f.blocks) ++
      graft.codec.CodecIds.names.values.map(c => s"codec.blocks.$c" -> f.codecMix.getOrElse(c, 0L).toDouble)
  }

  def inputProps: Map[String, Any] = {
    val f = first
    props ++ Map(
      "encode_config" -> cfg.toString,
      "blocks_vs_cores" -> f.map(x => s"${x.blocks} blocks / $cores cores").getOrElse(""),
      "codec_mix" -> f.map(_.codecMix).getOrElse(Map.empty),
      "store_bytes" -> f.map(_.diskBytes).getOrElse(0L),
      "pinned" -> pin.isDefined)
  }
}

// ============================================================================

/** scan_decode: one op is a full `TokenDecoder.read` of a store built in set-up. */
final class ScanDecode(rows: Long) extends Workload {
  val name = "scan_decode"
  var input = ""
  var store = ""
  private var want: Digest = _
  private var props = Map.empty[String, Any]
  private var tokens = 0L
  private var facts: StoreFacts = _
  private var cores = 1

  def setup(ctx: Ctx, rep: Int): SetupTimes = {
    cores = ctx.cores
    val (p, stageS) = timed(stageTokens(ctx, rows, s"decode-input-$rep"))
    if (input.nonEmpty) rm(input)
    input = p
    val s = ctx.dir(s"decode-store-$rep")
    rm(s)
    val (_, buildS) = timed(TokenEncoder.run(readTokens(ctx, input), s, encodeConfig(rows, ctx.cores)))
    if (store.nonEmpty) rm(store)
    store = s
    SetupTimes(stageS, buildS)
  }

  private def decodeAll(ctx: Ctx): Long =
    TokenDecoder.read(ctx.spark, store).queryExecution.toRdd.count()

  def prepareChecks(ctx: Ctx): Unit = {
    val p = profile(readTokens(ctx, input))
    want = p.digest
    props = p.props
    tokens = p.tokens
    facts = storeFacts(ctx.spark, store)
  }

  /** The verified full decode must reproduce the input exactly. */
  def verifyStore(ctx: Ctx): Seq[String] =
    Checks.digest("decode", Digest.ofDataset(
      TokenDecoder.read(ctx.spark, store, verifyChecksums = true)), want)

  def op(ctx: Ctx, i: Int, traced: Boolean): Done = {
    val (n, wall) = timed {
      if (traced) ctx.rec.op(ctx.spark, i, group(name, i), "op.decode") {
        ctx.rec.span("graft.encode.TokenDecoder.read")(decodeAll(ctx))
      } else decodeAll(ctx)
    }
    Done(OpResult(i, wall, ok = true, "", traced), () =>
      (if (n != want.rows) Seq(s"decode: $n rows, expected ${want.rows}") else Nil) ++
        (if (i == 0) verifyStore(ctx) else Nil))
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String, String)] =
    Seq(("decode_tok_per_s", tokens / med(ops.map(_.wallS)), "tok/s", s"median of ${ops.size} ops"))

  def layers(ctx: Ctx, trace: Trace, ops: Seq[OpResult]): Map[String, Double] = {
    val tr = ops.filter(_.traced)
    val per = tr.map { o =>
      val jobs = trace.jobsOf(group(name, o.id))
      val st = trace.stagesOf(jobs)
      val all = sums(trace, jobs)
      val root = trace.opSpans(o.id).find(_.parent < 0)
      val wallS = root.map(_.dur / 1e6).getOrElse(o.wallS)
      Map(
        "decode.scan.input_bytes_per_tok" -> all.inputBytes.toDouble / tokens,
        "decode.task_s" -> all.taskMs / 1e3,
        "decode.cpu_s" -> all.cpuNs / 1e9,
        "decode.gc_s" -> all.gcMs / 1e3,
        "decode.task_max_over_median" -> Stats.maxOverMedian(st),
        "decode.core_busy_share" -> all.taskMs / 1e3 / (wallS * cores))
    }
    val agg = per.flatMap(_.keys).distinct.map(k => k -> med(per.map(_(k)))).toMap
    val codec = CodecProbe.measure(ctx.spark, store)
    val decTokPerS = tokens / med(tr.map(_.wallS))
    agg ++ codec.decodeSide ++ Map(
      "decode.spark_over_kernel" -> decTokPerS / (codec.decodeTokPerS * cores))
  }

  def inputProps: Map[String, Any] = props ++ Map(
    "encode_config" -> encodeConfig(rows, cores).toString,
    "blocks_vs_cores" -> s"${facts.blocks} blocks / $cores cores",
    "codec_mix" -> facts.codecMix,
    "store_bytes" -> facts.diskBytes)
}
