package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.codec.{BlockCodec, StringCols}

/** Single-threaded timings of the codec layer on a fixed sample of a
  * store's own blocks (read from its `blocks` parquet): statistics,
  * automatic codec selection + encode, decode, and the doc-id/source
  * string columns. No Spark runs inside the timed loops.
  */
object CodecProbe {

  final case class Result(statsNsPerTok: Double, encodeAutoTokPerS: Double,
                          trialsPerBlock: Double, decodeTokPerS: Double,
                          stringRowsPerS: Double) {
    def encodeSide: Map[String, Double] = Map(
      "codec.stats.ns_per_tok" -> statsNsPerTok,
      "codec.encode_auto.tok_per_s" -> encodeAutoTokPerS,
      "codec.trials_per_block" -> trialsPerBlock)
    def decodeSide: Map[String, Double] = Map(
      "codec.decode.tok_per_s" -> decodeTokPerS,
      "codec.strings.decode_rows_per_s" -> stringRowsPerS)
  }

  val SampleBlocks = 12
  private val MinLoopS = 0.3

  /** Median seconds of one pass of `body`, over passes repeated for at
    * least MinLoopS (and at least three).
    */
  private def passS(body: => Unit): Double = {
    body // warm
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (times.size < 3 || (System.nanoTime() - t0) / 1e9 < MinLoopS) {
      val s = System.nanoTime()
      body
      times += (System.nanoTime() - s) / 1e9
    }
    Stats.median(times.toSeq)
  }

  def measure(spark: SparkSession, store: String): Result = {
    val all = spark.read.parquet(s"$store/blocks")
      .select("partId", "blockSeq", "codecId", "postCodec", "symtab", "payload",
        "totalTokens", "docIdsEnc", "sourcesEnc", "blockRows")
      .orderBy(col("partId"), col("blockSeq"))
      .collect()
    // an even stride over the store's blocks keeps the sample's codec
    // mix close to the store's
    val stride = math.max(1, all.length / SampleBlocks)
    val sample = all.indices.by(stride).take(SampleBlocks).map(all(_))
    final case class B(cid: Int, post: Int, st: Array[Byte], pay: Array[Byte], n: Int,
                       ids: Array[Byte], srcs: Array[Byte], rows: Int)
    val bs = sample.map(r => B(r.getInt(2), r.getInt(3), r.getAs[Array[Byte]](4),
      r.getAs[Array[Byte]](5), r.getLong(6).toInt, r.getAs[Array[Byte]](7),
      r.getAs[Array[Byte]](8), r.getInt(9)))
    val toks = bs.map(b => BlockCodec.decode(b.cid, b.post, b.st, b.pay, b.n))
    val nTok = toks.map(_.length.toLong).sum
    val nRows = bs.map(_.rows.toLong).sum

    val statsS = passS(toks.foreach(t => BlockCodec.stats(t, t.length)))
    val encS = passS(toks.foreach(t => BlockCodec.encodeAuto(t, t.length)))
    val decS = passS(bs.foreach(b => BlockCodec.decode(b.cid, b.post, b.st, b.pay, b.n)))
    val strS = passS(bs.foreach { b =>
      StringCols.decodeDocIds(b.ids, b.rows); StringCols.decodeSources(b.srcs, b.rows)
    })
    val trials = toks.map(t => BlockCodec.candidates(BlockCodec.stats(t, t.length)).size)
    Result(statsS * 1e9 / nTok, nTok / encS, trials.sum.toDouble / trials.size,
      nTok / decS, nRows / strS)
  }
}
