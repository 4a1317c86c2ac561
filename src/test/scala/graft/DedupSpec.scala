package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** MinHash candidate generation and near-dup removal: the one-pass
  * bucket cap against the window + (band, bucket) self-join it
  * replaced, its plan shape, the staged read-back's job count, and the
  * two connected-components arms behind cluster removal.
  */
class DedupSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def shufflePartitions: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Boilerplate floods (identical pages and light variants of one
    * template, which fill the same band buckets far past a cap of 8 or
    * 16), a few planted near-dup pairs and distinct pages. Ids are
    * shuffled against the text so that the cap's id order is not the
    * corpus order.
    */
  private def corpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(5)
    val template = (0 until 40).map(i => s"nav$i").mkString(" ")
    val flood = (0 until 70).map { i =>
      if (i % 3 == 0) template
      else template + s" footer${rng.nextInt(4)}"
    }
    val pairs = (0 until 12).flatMap { p =>
      val base = (0 until 30).map(_ => s"w${p}_${rng.nextInt(50)}")
      val variant = base.updated(rng.nextInt(30), s"x${p}_edit")
      Seq(base.mkString(" "), variant.mkString(" "))
    }
    val distinct = (0 until 40).map(i => (0 until 25).map(j => s"u${i}_$j").mkString(" "))
    val texts = flood ++ pairs ++ distinct
    val ids = rng.shuffle(texts.indices.map(_.toLong * 7 + 3))
    ids.zip(texts)
  }

  private def signed(df: DataFrame): DataFrame = {
    graft.functions.MinHashSig.register(spark)
    graft.functions.Shingles.register(spark)
    df.select(col("id"),
        graft.functions.Shingles.shinglesNative(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.MinHashSig.minhashSig(col("sh")))
  }

  /** The cap as a window + (band, bucket) self-join, as it was before
    * the one-pass form: raw LSH pairs and the two cap figures.
    */
  private def selfJoinReference(withSig: DataFrame, maxBucket: Int)
      : (Set[(Any, Any)], Long, Long) = {
    val bands = Dedup.bandsForThreshold(64, 0.7)
    val rowsPerBand = 64 / bands
    val banded = withSig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val ranked = banded.withColumn("rn",
      row_number().over(Window.partitionBy("band", "bucket").orderBy("id")))
    val caps = ranked.agg(
      sum(when(col("rn") > maxBucket, 1L).otherwise(0L)),
      max(col("rn")).cast("long")).collect()(0)
    val capped = ranked.where(col("rn") <= maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    (pairSet(pairs), caps.getLong(0), caps.getLong(1))
  }

  private def pairSet(df: DataFrame): Set[(Any, Any)] =
    df.select("id_a", "id_b").collect().map(r => (r.get(0), r.get(1))).toSet

  private def frames: Seq[(String, DataFrame)] = {
    import spark.implicits._
    val longIds = corpus.toDF("id", "text")
    val stringIds = corpus.map { case (i, t) => (f"doc-$i%05d", t) }.toDF("id", "text")
    Seq("Long" -> longIds, "String" -> stringIds)
  }

  test("one-pass cap: same LSH pairs and cap figures as the window + self-join") {
    for ((idType, df) <- frames; maxBucket <- Seq(8, 16)) {
      val withSig = signed(df)
      val (wantPairs, wantDropped, wantMax) = selfJoinReference(withSig, maxBucket)
      val obs = Observation(s"cap_${idType}_$maxBucket")
      val got = pairSet(Dedup.minhashCandidatesSigned(withSig, maxBucket = maxBucket,
        estMargin = -1, capObs = Some(obs)))
      val m = obs.get
      val ctx = s"ids=$idType maxBucket=$maxBucket"
      assert(wantDropped > 0, s"$ctx: the cap does not bind on this corpus")
      assert(got == wantPairs, s"$ctx: ${(got diff wantPairs).take(3)} / ${(wantPairs diff got).take(3)}")
      assert(m("rows_dropped") == wantDropped, ctx)
      assert(m("max_bucket_rows") == wantMax, ctx)
      // the estimate pre-filter keeps a subset of the same pairs
      val filtered = pairSet(Dedup.minhashCandidatesSigned(withSig, maxBucket = maxBucket))
      assert(filtered.nonEmpty && filtered.subsetOf(wantPairs), ctx)
    }
  }

  test("candidate plan: one (band, bucket) shuffle of n partitions, no (band, bucket) join") {
    val (_, df) = frames.head
    val cand = Dedup.minhashCandidatesSigned(signed(df), maxBucket = 8)
    cand.collect()
    val plan = cand.queryExecution.executedPlan
    def keyedOnBand(names: Seq[String]) = names.contains("band") || names.contains("bucket")
    val bandShuffles = collect(plan) {
      case s: ShuffleExchangeExec if keyedOnBand(s.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case _ => Nil
      }) => s
    }
    assert(bandShuffles.length == 1, plan.toString)
    assert(bandShuffles.head.numPartitions == shufflePartitions)
    assert(bandShuffles.head.shuffleOrigin == REPARTITION_BY_NUM)
    val bandJoins = collect(plan) {
      case j: BaseJoinExec
          if keyedOnBand((j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))) => j
    }
    assert(bandJoins.isEmpty, plan.toString)
  }

  test("stageSignatures runs one job, the write, and reads back its own schema") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val stage = tmpDir("dedup-stage") + "/sig"
    val (staged, jobs, _) = traceJobs(Dedup.stageSignatures(df, "doc_id", "text", 3, stage))
    assert(jobs.length == 1, s"jobs: $jobs")
    assert(staged.columns.toSeq == Seq("id", "sh", "sig"))
    assert(staged.schema.map(_.dataType) == spark.read.parquet(stage).schema.map(_.dataType))
    assert(staged.count() == df.count())
  }

  test("removeNearDuplicatesCCStaged: same survivors with the iterative CC arm; labels unique") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val stage = tmpDir("dedup-cc") + "/sig"
    val survivors = Dedup.removeNearDuplicatesCCStaged(df, "doc_id", "text", stage,
      maxBucket = 16).select("doc_id").as[Long].collect().toSet
    val pairs = Dedup.minhashPairsStaged(df, "doc_id", "text", tmpDir("dedup-cc2") + "/sig",
      maxBucket = 16).cache()
    for (cap <- Seq(Dedup.SmallGraphEdgeCap, 0)) {
      val (labels, sweeps) = Dedup.connectedComponentsCounted(pairs, smallGraphCap = cap)
      assert((sweeps == 0) == (cap > 0), s"cap=$cap sweeps=$sweeps")
      val ids = labels.select("id").as[Long].collect()
      assert(ids.length == ids.distinct.length, s"cap=$cap: an id labelled twice")
      val losers = labels.where(col("id") =!= col("cluster")).select("id").as[Long].collect().toSet
      assert(losers.nonEmpty)
      assert(df.select("doc_id").as[Long].collect().toSet -- losers == survivors, s"cap=$cap")
    }
    pairs.unpersist()
  }
}
