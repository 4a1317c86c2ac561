package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.encode.CompressedSearch
import graft.model.TokenRow
import graft.synth.WebDocSynth
import Workloads._

/** One query of the mix: a kind (the CompressedSearch call), a
  * predicate class, and its arguments.
  */
final case class QuerySpec(kind: String, cls: String, lo: Int = 0, hi: Int = 0,
                           source: String = "", toks: Seq[Int] = Nil) {
  def label: String = s"$kind/$cls"
}

/** query_pruned: one op is one call from a seeded mix of
  * CompressedSearch queries against a store built in set-up. The mix
  * runs in rounds; each round is every query once, in a seeded order,
  * so the selective and broad classes each make exactly half of it.
  */
final class QueryPruned(rows: Long) extends Workload {
  val name = "query_pruned"
  private val Narrow = 1 << 27 // the `narrow` regime's band (wiki only)
  private val K = 10
  private val inner = new ScanDecode(rows) // same input staging + store build
  private var specs = Vector.empty[QuerySpec]
  private var want = Map.empty[String, Either[Digest, Seq[Seq[Any]]]]
  private var storeBlocks = 0L
  private var seed = 0L

  def setup(ctx: Ctx, rep: Int): SetupTimes = {
    seed = ctx.seed
    specs = Vector.empty
    inner.setup(ctx, rep)
  }

  private def input(ctx: Ctx): DataFrame = ctx.spark.read.parquet(inner.input)

  /** The 12 queries; phrases come from the staged input, so they are
    * chosen on first use.
    */
  private def ensureSpecs(ctx: Ctx): Unit = if (specs.isEmpty) {
    val in = input(ctx)
    def firstTokens(src: String, n: Int): Seq[Int] =
      in.where(col("source") === src && col("n_tok") >= n).orderBy("doc_id")
        .select(slice(col("tokens"), 1, n)).first().getSeq[Int](0)
    specs = Vector(
      QuerySpec("count", "selective", Narrow + 100, Narrow + 103),
      QuerySpec("count", "broad", 0, 63),
      QuerySpec("search", "selective", Narrow + 1000, Narrow + 1003),
      QuerySpec("search", "broad", 0, 63),
      QuerySpec("search_src", "selective", Narrow + 2000, Narrow + 2003, source = "wiki"),
      QuerySpec("search_src", "broad", 0, 63, source = "code"),
      QuerySpec("phrase", "selective", toks = firstTokens("wiki", 3)),
      QuerySpec("phrase", "broad", toks = firstTokens("books", 2)),
      QuerySpec("bm25", "selective", toks = Seq(Narrow + 3000, Narrow + 3001, Narrow + 3002)),
      QuerySpec("bm25", "broad", toks = Seq(3, 7, 12)),
      QuerySpec("read_docs", "selective", Narrow + 4000, Narrow + 4001),
      QuerySpec("read_docs", "broad", 0, 15))
  }

  def prepareChecks(ctx: Ctx): Unit = {
    inner.prepareChecks(ctx)
    ensureSpecs(ctx)
    val raw = readTokens(ctx, inner.input).collect()
    want = specs.map(s => s.label -> reference(raw, s)).toMap
    storeBlocks = storeFacts(ctx.spark, inner.store).blocks
  }

  /** The brute-force answer: a plain loop over the raw input rows,
    * read back from the staged parquet and sharing no code with the
    * compressed-domain query.
    */
  private def reference(raw: Array[TokenRow], s: QuerySpec): Either[Digest, Seq[Seq[Any]]] = {
    def inRange(t: Int) = t >= s.lo && t <= s.hi
    def hitRows(keep: TokenRow => Boolean) = raw.iterator.filter(keep).flatMap { r =>
      val n = r.tokens.count(inRange).toLong
      if (n > 0) Some(Seq(r.doc_id, r.source, n)) else None
    }.toSeq
    s.kind match {
      case "count" => Right(Seq(Seq(raw.iterator.map(_.tokens.count(inRange).toLong).sum)))
      case "search" => Right(hitRows(_ => true))
      case "search_src" => Right(hitRows(_.source == s.source))
      case "phrase" =>
        val p = s.toks.toArray
        Right(raw.iterator.flatMap { r =>
          val t = r.tokens
          val n = (0 to t.length - p.length).count(i => p.indices.forall(k => t(i + k) == p(k))).toLong
          if (n > 0) Some(Seq(r.doc_id, r.source, n)) else None
        }.toSeq)
      case "bm25" =>
        val (k1, b) = (1.2, 0.75)
        val q = s.toks.distinct.toArray
        val nDocs = raw.length.toLong
        val avgdl = raw.iterator.map(_.n_tok.toLong).sum.toDouble / nDocs
        val w = q.map { t =>
          val d = raw.count(_.tokens.contains(t)).toDouble
          math.log((nDocs - d + 0.5) / (d + 0.5) + 1)
        }
        val scored = raw.iterator.flatMap { r =>
          val tf = q.map(t => r.tokens.count(_ == t))
          if (tf.forall(_ == 0)) None
          else Some((r.doc_id, r.source, q.indices.filter(tf(_) > 0).map { j =>
            val t = tf(j).toDouble
            math.floor(w(j) * (t * (k1 + 1)) / (t + k1 * (1 - b + b * r.n_tok / avgdl)) * 1e6 + 0.5).toLong
          }.sum))
        }.toSeq
        Right(scored.sortBy(x => (-x._3, x._1)).take(K).map(x => Seq(x._1, x._2, x._3)))
      case "read_docs" => Left(Digest.of(raw.iterator.filter(_.tokens.exists(inRange))))
    }
  }

  /** Call the graft function for `s` and force its whole result. */
  private def run(ctx: Ctx, s: QuerySpec): Either[Digest, Seq[Seq[Any]]] = {
    val sp = ctx.spark
    val store = inner.store
    def rows(df: DataFrame) = Right(df.collect().toSeq.map(_.toSeq))
    s.kind match {
      case "count" => rows(CompressedSearch.countTokens(sp, store, s.lo, s.hi))
      case "search" => rows(CompressedSearch.searchDocs(sp, store, s.lo, s.hi))
      case "search_src" => rows(CompressedSearch.searchDocsInSource(sp, store, s.source, s.lo, s.hi))
      case "phrase" => rows(CompressedSearch.phraseSearchDocs(sp, store, s.toks.toArray))
      case "bm25" => rows(CompressedSearch.bm25TopK(sp, store, s.toks.toArray, K))
      case "read_docs" => Left(Digest.ofDataset(CompressedSearch.readDocs(sp, store, s.lo, s.hi)))
    }
  }

  private val spanName = Map("count" -> "countTokens", "search" -> "searchDocs",
    "search_src" -> "searchDocsInSource", "phrase" -> "phraseSearchDocs",
    "bm25" -> "bm25TopK", "read_docs" -> "readDocs")

  /** Op `i` runs round `i / 12` at position `i % 12`; each round's
    * order is a pure function of the seed and the round.
    */
  def specFor(i: Int): QuerySpec = {
    val n = specs.size
    val order = new scala.util.Random(seed * 1000003L + Math.floorDiv(i, n))
      .shuffle(specs.indices.toVector)
    specs(order(Math.floorMod(i, n)))
  }

  def op(ctx: Ctx, i: Int, traced: Boolean): Done = {
    ensureSpecs(ctx)
    val s = specFor(i)
    val (got, wall) = timed {
      if (traced) ctx.rec.op(ctx.spark, i, group(name, i), "op.query") {
        ctx.rec.span(s"graft.encode.CompressedSearch.${spanName(s.kind)}")(run(ctx, s))
      } else run(ctx, s)
    }
    Done(OpResult(i, wall, ok = true, "", traced, s.kind, s.cls), () => (got, want(s.label)) match {
      case (Left(g), Left(w)) => Checks.digest(s.label, g, w)
      case (Right(g), Right(w)) if s.kind == "bm25" => Checks.sameRanking(s.label, g, w)
      case (Right(g), Right(w)) => Checks.sameRows(s.label, g, w)
      case _ => Seq(s"${s.label}: result shape differs")
    })
  }

  /** Gate time: the geometric mean of each query's median, which a
    * shifting mix cannot move the way it moves a plain median.
    */
  override def typicalOpS(ops: Seq[OpResult]): Double = {
    val meds = ops.groupBy(o => (o.kind, o.cls)).values.map(os => Stats.median(os.map(_.wallS)))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String, String)] = {
    val walls = ops.map(_.wallS)
    val t = Stats.tail(walls)
    val sel = ops.count(_.cls == "selective")
    Seq(("query_latency_p50_s", med(walls), "s", s"median of ${ops.size} queries"),
      ("query_latency_tail_s", t.map(_.value).getOrElse(walls.max), "s",
        t.map(_.label).getOrElse(s"max: only ${walls.size} samples")),
      ("query_selective_share", sel.toDouble / ops.size, "share",
        Stats.Share(sel, ops.size, "queries selective").base))
  }

  def layers(ctx: Ctx, trace: Trace, ops: Seq[OpResult]): Map[String, Double] = {
    val kinds = Seq("count", "search", "search_src", "phrase", "bm25", "read_docs")
    val byKind = kinds.map(k => s"query.$k.p50_s" -> med(ops.filter(_.kind == k).map(_.wallS)))
    val tr = ops.filter(_.traced)
    val per = tr.map { o =>
      val jobs = trace.jobsOf(group(name, o.id))
      val sel = jobs.filter(j => Stats.queryLayer(trace.stagesOf(Seq(j))) == "select")
      val pay = jobs.filterNot(sel.contains)
      val all = sums(trace, jobs)
      Map("jobs" -> jobs.size.toDouble,
        "select" -> sums(trace, sel).wallUs / 1e6,
        "blocks" -> sums(trace, pay).inputRecords.toDouble / storeBlocks,
        "input" -> all.inputBytes.toDouble,
        "shuffle" -> all.shuffleWrite.toDouble,
        "gap" -> driverGapS(trace, o, jobs),
        "gc" -> all.gcMs / 1e3)
    }
    def m(k: String) = med(per.map(_(k)))
    def mean(k: String) = if (per.isEmpty) 0.0 else per.map(_(k)).sum / per.size
    byKind.toMap ++ Map(
      "query.selective.p50_s" -> med(ops.filter(_.cls == "selective").map(_.wallS)),
      "query.broad.p50_s" -> med(ops.filter(_.cls == "broad").map(_.wallS)),
      "query.jobs_per_query" -> mean("jobs"),
      "query.select.wall_s" -> m("select"),
      "query.blocks_read_share" -> mean("blocks"),
      "query.scan.input_bytes" -> mean("input"),
      "query.shuffle_bytes" -> mean("shuffle"),
      "query.driver_gap_s" -> m("gap"),
      "query.gc_s" -> mean("gc"))
  }

  def inputProps: Map[String, Any] = inner.inputProps ++ Map(
    "queries" -> specs.map(s => s"${s.label} lo=${s.lo} hi=${s.hi} src=${s.source} toks=${s.toks.mkString(",")}"),
    "selective_vs_broad" -> s"${specs.count(_.cls == "selective")}/${specs.size} selective per round")
}

// ============================================================================

/** dedup_webdocs: one op is `Dedup.removeNearDuplicatesCCStaged` over
  * seeded WebDocSynth pages; traced ops call its public stages one by
  * one instead.
  */
final class DedupWebdocs(docs: Int) extends Workload {
  val name = "dedup_webdocs"
  private val Threshold = 0.7
  private val ShingleN = 3
  /** Half the library default: at this input size the boilerplate
    * buckets reach 50-100 rows, so the cap binds, as it does on a large
    * corpus at the default.
    */
  private val MaxBucket = 32
  private var input = ""
  private var texts = Map.empty[String, String]
  private var exact = Seq.empty[(String, String, Double)]
  private var expected = Set.empty[String]
  private val obs = scala.collection.mutable.Map[Int, (Long, Long)]()
  private val stageStats = scala.collection.mutable.Map[Int, (Long, Long, Int)]()

  def setup(ctx: Ctx, rep: Int): SetupTimes = {
    val p = ctx.dir(s"dedup-input-$rep")
    val (_, stageS) = timed {
      WebDocSynth.dataset(ctx.spark, docs, ctx.seed).repartition(ctx.cores)
        .write.mode("overwrite").parquet(p)
    }
    if (input.nonEmpty) rm(input)
    input = p
    SetupTimes(stageS, 0.0)
  }

  private def df(ctx: Ctx): DataFrame = ctx.spark.read.parquet(input)

  /** The reference: every pair with exact Jaccard >= the threshold,
    * found by the benchmark's own all-pairs join over the raw texts, and
    * the survivors those pairs leave. The library's LSH is approximate,
    * but at this threshold it finds every exact pair on each seed tried
    * (see README), so a lost pair is a lost-recall failure.
    */
  def prepareChecks(ctx: Ctx): Unit = {
    texts = df(ctx).select("doc_id", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    exact = Checks.exactPairs(texts, Threshold, ShingleN)
    expected = Checks.expectedSurvivors(texts.keys.toSeq, exact.map(p => (p._1, p._2)))
  }

  private def capOf(o: Observation): (Long, Long) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val m = Await.result(Future(o.get), scala.concurrent.duration.Duration(60, "s"))
    (m.getOrElse("rows_dropped", 0L).asInstanceOf[Long],
      m.getOrElse("max_bucket_rows", 0L).asInstanceOf[Long])
  }

  def op(ctx: Ctx, i: Int, traced: Boolean): Done = {
    val stage = ctx.dir(s"dedup-stage-$i")
    val o = Observation(s"cap_${i + 1}_${System.nanoTime()}")
    val in = df(ctx)
    val rec = ctx.rec
    var pairs = Option.empty[Seq[(String, String, Double)]]
    val (survivors, wall) = timed {
      if (!traced)
        Dedup.removeNearDuplicatesCCStaged(in, "doc_id", "text", stage,
          maxBucket = MaxBucket, capObs = Some(o))
          .select("doc_id").collect().map(_.getString(0)).toSet
      else rec.op(ctx.spark, i, group(name, i), "op.dedup") {
        val staged = rec.span("graft.dedup.Dedup.stageSignatures") {
          Dedup.stageSignatures(in, "doc_id", "text", ShingleN, stage)
        }
        var nCand = 0L
        val cand = rec.span("graft.dedup.Dedup.minhashCandidatesSigned") {
          val c = Dedup.minhashCandidatesSigned(staged, maxBucket = MaxBucket, capObs = Some(o)).cache()
          nCand = c.count(); c
        }
        val verified = rec.span("graft.dedup.Dedup.minhashVerifyShingled") {
          val v = Dedup.minhashVerifyShingled(staged, cand, Threshold).cache()
          pairs = Some(v.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq)
          v
        }
        val (labels, sweeps) = rec.span("graft.dedup.Dedup.connectedComponentsCounted") {
          val (l, s) = Dedup.connectedComponentsCounted(verified)
          (l.cache(), s)
        }
        val kept = rec.span("bench.antijoin") {
          val losers = labels.where(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
          in.join(losers, Seq("doc_id"), "left_anti").select("doc_id").collect()
            .map(_.getString(0)).toSet
        }
        stageStats(i) = (nCand, pairs.map(_.size).getOrElse(0).toLong, sweeps)
        Seq(cand, verified, labels).foreach(_.unpersist())
        kept
      }
    }
    rm(stage)
    Done(OpResult(i, wall, ok = true, "", traced), () => {
      obs(i) = capOf(o)
      // an untraced op's pairs stay internal: only its survivors are checked
      Checks.dedup(texts.keys.toSeq, exact, pairs, survivors)
    })
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String, String)] =
    Seq(("dedup_docs_per_s", docs / med(ops.map(_.wallS)), "docs/s", s"median of ${ops.size} ops"))

  def layers(ctx: Ctx, trace: Trace, ops: Seq[OpResult]): Map[String, Double] = {
    val tr = ops.filter(_.traced)
    def spanS(o: OpResult, n: String) =
      trace.opSpans(o.id).filter(_.name == s"graft.dedup.Dedup.$n").map(_.dur).sum / 1e6
    def m(f: OpResult => Double) = med(tr.map(f))
    Map(
      "dedup.stage.wall_s" -> m(spanS(_, "stageSignatures")),
      "dedup.candidates.wall_s" -> m(spanS(_, "minhashCandidatesSigned")),
      "dedup.candidates.pairs" -> m(o => stageStats(o.id)._1.toDouble),
      "dedup.lsh.rows_dropped" -> m(o => obs(o.id)._1.toDouble),
      "dedup.lsh.max_bucket_rows" -> m(o => obs(o.id)._2.toDouble),
      "dedup.verify.wall_s" -> m(spanS(_, "minhashVerifyShingled")),
      "dedup.verify.kept_share" -> m { o =>
        val (c, v, _) = stageStats(o.id); if (c == 0) 0.0 else v.toDouble / c },
      "dedup.cc.wall_s" -> m(spanS(_, "connectedComponentsCounted")),
      "dedup.cc.sweeps" -> m(o => stageStats(o.id)._3.toDouble),
      "dedup.task_max_over_median" -> m(o => Stats.maxOverMedian(trace.stagesOf(trace.jobsOf(group(name, o.id))))),
      "dedup.shuffle_bytes" -> m(o => sums(trace, trace.jobsOf(group(name, o.id))).shuffleWrite.toDouble))
  }

  def inputProps: Map[String, Any] = Map(
    "docs" -> docs, "raw_bytes" -> texts.values.map(_.getBytes("UTF-8").length.toLong).sum,
    "exact_pairs" -> exact.size,
    "survivors" -> Stats.Share(expected.size, docs, "docs").base,
    "lsh_rows_dropped" -> obs.values.headOption.map(_._1).getOrElse(-1L),
    "dedup_config" -> s"shingleN=$ShingleN k=64 threshold=$Threshold maxBucket=$MaxBucket bands=derived")
}
