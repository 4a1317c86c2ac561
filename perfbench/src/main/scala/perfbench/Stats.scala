package perfbench

/** The metric math of the benchmark, kept free of Spark so it can be
  * unit-tested on recorded traces: percentiles, the tail rule, shares
  * printed with their base, interval unions, span self time and the
  * job-to-layer attribution.
  */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A tail latency with the evidence behind it: the `percentile`-th
    * nearest-rank sample, and how many of the `n` samples lie beyond it.
    */
  final case class Tail(percentile: Int, value: Double, beyond: Int, n: Int) {
    def label: String = s"p$percentile ($beyond of $n samples beyond)"
  }

  /** The highest integer percentile (50..99) whose nearest-rank sample
    * still has at least `minBeyond` samples strictly after it in rank.
    * None when even the median would have fewer than `minBeyond`
    * samples beyond it — too few samples to call anything a tail.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, rank, n - rank)
    }.find(_._3 >= minBeyond).map { case (p, rank, beyond) =>
      Tail(p, s(rank - 1), beyond, n)
    }
  }

  /** A share that always travels with its base, e.g. `3/40 blocks`. */
  final case class Share(num: Long, den: Long, of: String) {
    def value: Double = if (den == 0) 0.0 else num.toDouble / den
    def base: String = s"$num/$den $of"
    override def toString: String = f"$value%.4f ($base)"
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip intervals to [lo, hi). */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)

  // ---- spans -------------------------------------------------------

  /** One traced region: times are microseconds on the run's clock,
    * `parent` is -1 for a root, `op` is -1 outside any op.
    */
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, op: Int) {
    def dur: Long = end - start
  }

  /** Self time per span: its duration minus the time its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(clip(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per span name. */
  def selfTimeByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Share of each op's root span covered by its layer (child) spans,
    * keyed by op id.
    */
  def opCoverage(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(s => s.parent < 0 && s.op >= 0 && s.dur > 0).map { root =>
      val covered = unionLength(clip(kids.getOrElse(root.id, Nil).map(c => (c.start, c.end)),
        root.start, root.end))
      root.op -> covered.toDouble / root.dur
    }.toMap
  }

  // ---- Spark listener trace ----------------------------------------

  /** Task counters summed over one stage attempt set (all attempts). */
  final case class StageRec(stageId: Int, name: String, details: String,
                            isMap: Boolean, tasks: Int, runMs: Long,
                            cpuNs: Long, gcMs: Long, inputBytes: Long,
                            inputRecords: Long, outputBytes: Long,
                            shuffleWriteBytes: Long, shuffleReadBytes: Long,
                            fetchWaitMs: Long, spillBytes: Long,
                            retries: Int, durations: Vector[Long])

  /** A Spark job as the listener saw it; times in microseconds. */
  final case class JobRec(jobId: Int, group: String, sqlExec: Long,
                          start: Long, end: Long, stageIds: Seq[Int])

  /** A SQL execution and the directory it writes to ("" for none). */
  final case class SqlRec(execId: Long, writeTarget: String)

  /** The last path segment a SQL plan description writes to, or "":
    * the first argument of the write command's detail section,
    * `(n) Execute InsertIntoHadoopFsRelationCommand` ... `Arguments: <path>, ...`.
    */
  def writeTargetOf(planDescription: String): String = {
    val m = """\(\d+\) Execute InsertIntoHadoopFsRelationCommand[^\n]*\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)""".r
      .findFirstMatchIn(planDescription)
    m.map(_.group(1).stripSuffix("/").split('/').last).getOrElse("")
  }

  /** Encode-layer of every job of one `TokenEncoder.run` call, from
    * the directory its SQL execution writes: `blocks` is the
    * exchange + block-assembly job, `lineage` the lineage write,
    * `completed` the commit marker. A job that writes nothing is `plan`
    * before the blocks write started, and the lineage read-back after.
    */
  def encodeLayers(jobs: Seq[JobRec], sql: Map[Long, SqlRec]): Map[Int, String] = {
    def target(j: JobRec) = sql.get(j.sqlExec).map(_.writeTarget).getOrElse("")
    val blocksStart = jobs.filter(target(_) == "blocks").map(_.start)
      .reduceOption(_ min _).getOrElse(Long.MaxValue)
    jobs.map { j =>
      j.jobId -> (target(j) match {
        case "blocks" => "blocks"
        case "lineage" => "lineage"
        case "completed" => "commit"
        case _ => if (j.start < blocksStart) "plan" else "lineage"
      })
    }.toMap
  }

  /** Query-layer of a job: the payload-free block-selection job runs
    * inside CompressedSearch's `selectBlocks`; everything else scans
    * payloads.
    */
  def queryLayer(stages: Seq[StageRec]): String =
    if (stages.exists(_.details.contains("selectBlocks"))) "select" else "payload"

  /** Task skew: per stage with at least two tasks, the longest task
    * over the median one; the worst such stage wins. 1.0 is an even
    * stage, and also the answer when no stage has two tasks.
    */
  def maxOverMedian(stages: Seq[StageRec]): Double = {
    val ratios = stages.filter(_.durations.size >= 2).flatMap { st =>
      val m = median(st.durations.map(_.toDouble))
      if (m > 0) Some(st.durations.max / m) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
