package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Stats._

class StatsSpec extends AnyFunSuite {

  test("tail: highest percentile that keeps at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(tail(xs) == Some(Tail(90, 90.0, 10, 100)))
    assert(tail(xs).get.label == "p90 (10 of 100 samples beyond)")
    // 20 samples: only the median keeps 10 beyond
    assert(tail((1 to 20).map(_.toDouble)) == Some(Tail(50, 10.0, 10, 20)))
    // order of the input does not matter
    assert(tail((1 to 100).reverse.map(_.toDouble)) == tail(xs))
  }

  test("tail: too few samples for any tail") {
    assert(tail((1 to 15).map(_.toDouble)).isEmpty)
    assert(tail(Nil).isEmpty)
  }

  test("quantile and median interpolate like statistics/numpy") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
  }

  test("a share always prints with its base") {
    val s = Share(3, 40, "blocks")
    assert(s.base == "3/40 blocks")
    assert(s.value == 0.075)
    assert(s.toString == "0.0750 (3/40 blocks)")
    assert(Share(0, 40, "ops").toString == "0.0000 (0/40 ops)")
    assert(Share(0, 0, "ops").value == 0.0)
  }

  test("interval union and clipping") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(unionLength(Nil) == 0L)
    assert(clip(Seq((0L, 10L), (50L, 60L)), 5L, 55L) == Seq((5L, 10L), (50L, 55L)))
  }

  test("span self time subtracts the time children cover, once") {
    val spans = Seq(
      Span(0, "op", 0, 100, -1, 7),
      Span(1, "a", 10, 40, 0, 7),
      Span(2, "b", 30, 60, 0, 7), // overlaps a: covered 10..60
      Span(3, "a.inner", 15, 20, 1, 7))
    val self = selfTimes(spans)
    assert(self(0) == 50L)
    assert(self(1) == 25L)
    assert(self(3) == 5L)
    assert(selfTimeByName(spans)("a") == 25L)
    assert(opCoverage(spans) == Map(7 -> 0.5))
  }

  private val writePlan =
    """== Physical Plan ==
      |Execute InsertIntoHadoopFsRelationCommand (4)
      |+- AdaptiveSparkPlan (3)
      |   +- Exchange (2)
      |      +- Scan parquet  (1)
      |
      |
      |(1) Scan parquet
      |Output [4]: [doc_id#0, tokens#1, n_tok#2, source#3]
      |Batched: true
      |Location: InMemoryFileIndex [file:/data/encode-input-0]
      |ReadSchema: struct<doc_id:string>
      |
      |(2) Exchange
      |Input [4]: [doc_id#0, tokens#1, n_tok#2, source#3]
      |Arguments: hashpartitioning(partId#9, 4), REPARTITION_BY_COL, [plan_id=10]
      |
      |(4) Execute InsertIntoHadoopFsRelationCommand
      |Input [3]: [blockId#20, runId#21, partId#22]
      |Arguments: file:/data/encode-out-3/blocks, false, Parquet, [compression=uncompressed, path=file:/data/encode-out-3/blocks], Append
      |""".stripMargin

  test("write target comes from the write command's own arguments") {
    assert(writeTargetOf(writePlan) == "blocks")
    assert(writeTargetOf("== Physical Plan ==\n* HashAggregate (3)\n") == "")
  }

  // jobs of one TokenEncoder.run call as the listener recorded them
  // (ids, SQL executions and order from a traced encode_zipf run)
  private val encodeJobs = Seq(
    JobRec(438, "encode_zipf-op-1", 90, 1000, 1026, Seq(700)),
    JobRec(439, "encode_zipf-op-1", 90, 1030, 1044, Seq(701)),
    JobRec(440, "encode_zipf-op-1", 91, 1050, 1243, Seq(702)),
    JobRec(441, "encode_zipf-op-1", 91, 1245, 1893, Seq(703)),
    JobRec(442, "encode_zipf-op-1", -1, 1900, 1931, Seq(704)),
    JobRec(443, "encode_zipf-op-1", 92, 1935, 2047, Seq(705)),
    JobRec(444, "encode_zipf-op-1", 93, 2050, 2148, Seq(706)),
    JobRec(445, "encode_zipf-op-1", -1, 2150, 2181, Seq(707)))
  private val encodeSql = Map(
    90L -> SqlRec(90, ""), 91L -> SqlRec(91, "blocks"),
    92L -> SqlRec(92, "lineage"), 93L -> SqlRec(93, "completed"))

  test("encode jobs attribute to plan, blocks, lineage and commit") {
    val layer = encodeLayers(encodeJobs, encodeSql)
    assert(encodeJobs.map(j => layer(j.jobId)) ==
      Seq("plan", "plan", "blocks", "blocks", "lineage", "lineage", "commit", "lineage"))
  }

  test("a run with no blocks write attributes every job to plan") {
    val jobs = encodeJobs.take(2)
    assert(encodeLayers(jobs, encodeSql).values.toSet == Set("plan"))
  }

  private def stage(id: Int, details: String, durations: Vector[Long]) =
    StageRec(id, s"stage $id", details, isMap = false, durations.size, durations.sum,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0, durations)

  test("query jobs: the selectBlocks job is the metadata job") {
    val sel = stage(1, "org.apache.spark.sql.Dataset.take\ngraft.encode.CompressedSearch$.selectBlocks(CompressedSearch.scala:1220)", Vector(5L))
    val pay = stage(2, "org.apache.spark.sql.Dataset.collect\nperfbench.QueryPruned.run", Vector(5L))
    assert(queryLayer(Seq(sel)) == "select")
    assert(queryLayer(Seq(pay)) == "payload")
  }

  test("task skew is the worst stage's max over median") {
    assert(maxOverMedian(Seq(stage(1, "", Vector(10L, 10L, 30L)), stage(2, "", Vector(4L, 4L)))) == 3.0)
    assert(maxOverMedian(Seq(stage(1, "", Vector(10L)))) == 1.0)
  }
}
