package graft

import org.apache.spark.sql.functions._

import graft.encode.TokenEncoder
import graft.encode.TokenEncoder.EncodeConfig
import graft.model.TokenRow
import graft.synth.TokenSynth

/** Block assembly: the partId routing of `encodeBlocks`, the job count
  * of one `run`, the exchange-free plan sample, and a golden store that
  * pins the encoded bytes of a fixed input.
  */
class AssemblySpec extends SparkSpecBase {

  private def synth(rows: Long = 6000L, seed: Long = 42L, parallelism: Int = 4) =
    TokenSynth.dataset(spark, rows, seed, parallelism)

  private def shufflePartitions: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("block assembly runs n tasks and reducer r holds only partIds = r mod n") {
    import spark.implicits._
    val n = shufflePartitions
    val ds = synth()
    val cfg = EncodeConfig(targetRowsPerPart = 300)
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    assert(TokenEncoder.planSaltTotal(plan) >= 2 * n, "too few partIds to cover n reducers")
    val got = TokenEncoder.encodeBlocks(ds, plan, cfg)
      .select(spark_partition_id(), $"partId").as[(Int, Int)].collect()
    assert(got.nonEmpty)
    val wrong = got.filter { case (pid, p) => pid != p % n }
    assert(wrong.isEmpty, s"partIds on the wrong reducer: ${wrong.take(5).mkString(", ")}")
    // every reducer got work: the exchange was not coalesced below n
    assert(got.map(_._1).toSet == (0 until n).toSet)
    // the routing keys are Spark's own hash partitioning, key for key
    val keys = TokenEncoder.reducerKeys(n)
    val routed = keys.toSeq.toDF("k").repartition(n, $"k")
      .select(spark_partition_id(), $"k").as[(Int, Int)].collect().toMap
    assert(keys.indices.forall(r => routed(r) == keys(r)))
  }

  test("multi-block partIds: blockSeq restarts per partId, blockIds unique") {
    import spark.implicits._
    val ds = synth()
    val cfg = EncodeConfig(targetRowsPerPart = 1000, blockTokens = 1 << 14)
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    val runId = "rassembly"
    val blocks = TokenEncoder.encodeBlocks(ds, plan, cfg, runId = runId)
      .select("blockId", "partId", "blockSeq").as[(String, Int, Int)].collect()
    val byPart = blocks.groupBy(_._2)
    assert(byPart.values.count(_.length > 1) >= 2, "blockTokens did not split any partId")
    for ((p, bs) <- byPart)
      assert(bs.map(_._3).sorted.toSeq == bs.indices, s"partId $p seqs ${bs.map(_._3).sorted.toSeq}")
    assert(blocks.forall { case (id, p, seq) => id == s"$runId-$p-$seq" })
    assert(blocks.map(_._1).distinct.length == blocks.length)
  }

  test("run() into a fresh dir issues at most 5 jobs and infers no parquet schema") {
    val out = tmpDir("assembly-jobs")
    val cfg = EncodeConfig(targetRowsPerPart = 300)
    val (_, jobs, stages) = traceJobs(TokenEncoder.run(synth(), out, cfg))
    assert(jobs.nonEmpty && jobs.length <= 5, s"${jobs.length} jobs: $jobs")
    // a footer-inference job runs outside any SQL execution; every job
    // of run() belongs to one of its queries
    assert(jobs.forall(_.sqlExecution), s"jobs outside a SQL execution: $jobs")
    // exactly one stage reads the exchange: block assembly, n tasks
    val assembly = stages.filter(_.shuffleReadRecords > 0)
    assert(assembly.map(_.tasks) == Seq(shufflePartitions), s"stages: $stages")
  }

  test("one-stage partitionPlan equals the exchange-based per-source count") {
    for (ds <- Seq(synth(), synth(rows = 9000L, seed = 7L, parallelism = 7));
         (target, frac) <- Seq((500, 0.05), (137, 0.2), (4000, 1.0))) {
      val counts = ds.sample(withReplacement = false, frac, seed = 42L)
        .groupBy("source").count().collect()
        .map(r => (r.getString(0), math.max(1L, (r.getLong(1) / frac).toLong)))
        .sortBy(_._1)
      var base = 0
      val want = counts.map { case (src, n) =>
        val salts = math.max(1, math.ceil(n.toDouble / target).toInt)
        val e = src -> ((base, salts))
        base += salts
        e
      }.toMap
      val (got, jobs, stages) = traceJobs(TokenEncoder.partitionPlan(ds, target, frac))
      assert(got == want, s"target=$target frac=$frac")
      assert(jobs.length == 1 && stages.length == 1, s"jobs=$jobs stages=$stages")
    }
  }

  // Golden store: a fixed TokenSynth input encoded with the shuffled
  // path must keep its bytes. The figures were recorded from the
  // earlier groupByKey-based assembly. The per-block checksum hashes
  // the block's token stream in order, so it also pins the
  // within-partId row order (shuffle-read order); the input is sorted
  // by descending doc_id inside each partition so that this order is
  // not simply doc_id order.
  private final case class Golden(raw: Long, encoded: Long,
                                  codecMix: Map[(Int, Int), Int],
                                  checksums: Seq[(Int, Int, Long)])

  private val goldenSmallBlocks = Golden(4773972L, 1035908L,
    Map((1, 0) -> 3, (1, 1) -> 16, (2, 0) -> 6, (3, 0) -> 2, (3, 1) -> 3,
      (4, 0) -> 4, (5, 1) -> 1, (6, 1) -> 3, (7, 1) -> 2),
    Seq((0, 0, 2990028935907700126L), (1, 0, 1661916082173070330L),
      (1, 1, -2119814577396833491L), (2, 0, 7185349639885043321L),
      (2, 1, -8570889220612426290L), (3, 0, -1935274512687805436L),
      (3, 1, -1454140761913048948L), (4, 0, 7304147070414799705L),
      (4, 1, 343416869339254207L), (4, 2, 1497775053194152612L),
      (5, 0, -3942002449043779666L), (5, 1, -1909604153451415337L),
      (6, 0, -8765579522660245509L), (6, 1, -1323251687923381945L),
      (6, 2, 6620334388262881349L), (7, 0, -6468785800584595477L),
      (7, 1, -5556715584169028600L), (7, 2, -7907273573661042487L),
      (8, 0, 8218458764592987355L), (8, 1, 1889238142488069065L),
      (9, 0, 3167758358072965030L), (9, 1, -7989903319751744536L),
      (9, 2, -5552150346244310108L), (10, 0, 3687702142477244276L),
      (10, 1, 5260869777180168300L), (10, 2, 9175467475473765047L),
      (11, 0, -2014546155439633828L), (11, 1, 3518974238415757305L),
      (11, 2, -5788679146589244465L), (12, 0, 6903356140195329297L),
      (12, 1, -9121150316662811997L), (12, 2, -2818572262619566923L),
      (13, 0, 4368902566532525269L), (13, 1, -5254967916903240305L),
      (13, 2, -2547510581364212414L), (13, 3, -1797062132983092378L),
      (14, 0, 8418544666102653934L), (14, 1, -4864996112692047934L),
      (14, 2, 124718869223807979L), (14, 3, 2751089998014231008L)))

  private val goldenDefaultBlocks = Golden(4773972L, 989166L,
    Map((1, 0) -> 1, (1, 1) -> 5, (2, 1) -> 3, (3, 0) -> 1, (3, 1) -> 1,
      (4, 0) -> 1, (5, 1) -> 1, (6, 1) -> 1, (7, 1) -> 1),
    Seq((0, 0, 2990028935907700126L), (1, 0, -6262469073981185438L),
      (2, 0, -8453320584436319406L), (3, 0, -8530997266471662995L),
      (4, 0, 8622962986628310138L), (5, 0, 1810044694393794136L),
      (6, 0, 6666931917116042805L), (7, 0, 550107677664535518L),
      (8, 0, -3379449932998154121L), (9, 0, -2795847497597129678L),
      (10, 0, 186286304084518663L), (11, 0, -3208077611083571490L),
      (12, 0, 2527023833148545127L), (13, 0, -2041179435959660389L),
      (14, 0, 1594482721702472454L)))

  test("golden store: fixed input keeps its bytes, codec mix and block checksums") {
    import spark.implicits._
    for ((blockTokens, want) <- Seq((1 << 15) -> goldenSmallBlocks,
                                    EncodeConfig().blockTokens -> goldenDefaultBlocks)) {
      val out = tmpDir("assembly-golden")
      val input = synth(seed = 11L).sortWithinPartitions($"doc_id".desc).as[TokenRow]
      TokenEncoder.run(input, out,
        EncodeConfig(targetRowsPerPart = 500, blockTokens = blockTokens))
      val rows = spark.read.parquet(s"$out/blocks")
        .select("partId", "blockSeq", "codecId", "postCodec", "rawBytes",
          "encodedBytes", "checksum")
        .collect()
      val got = Golden(rows.map(_.getLong(4)).sum, rows.map(_.getLong(5)).sum,
        rows.groupBy(r => (r.getInt(2), r.getInt(3))).map { case (k, v) => k -> v.length },
        rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(6))).sortBy(r => (r._1, r._2)).toSeq)
      assert(got == want, s"blockTokens=$blockTokens")
    }
  }
}
