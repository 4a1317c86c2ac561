package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.json4s._

/** What an encode_zipf store of one seed must keep: its lineage raw and
  * encoded bytes and the number of blocks per codec.
  */
final case class Pin(raw: Long, encoded: Long, codecMix: Map[String, Long])

/** The pins of one input size and core count (the block layout depends
  * on both), keyed by seed.
  */
final case class PinFile(rows: Long, cores: Int, seeds: Map[String, Pin])

/** perfbench/pins.json holds, per seed, the compression the library
  * reached on encode_zipf's input when the file was written. Every
  * encode op of a pinned seed is held to it, so a speed-up bought with
  * weaker codec selection fails its check. Rewrite the file only with a
  * change that means to move compression:
  *
  *   python3 perfbench/run.py --pin 0-255
  */
object Pins {
  val file = Paths.get("perfbench", "pins.json")

  def load(rows: Long, cores: Int, seed: Long): Option[Pin] =
    if (!Files.exists(file)) None
    else {
      implicit val fmt: Formats = DefaultFormats
      val pf = jackson.JsonMethods.parse(Files.readString(file)).extract[PinFile]
      if (pf.rows == rows && pf.cores == cores) pf.seeds.get(seed.toString) else None
    }

  /** Pins <first>-<last> <work dir>: encode each seed's input once and
    * write the pins of those seeds.
    */
  def main(args: Array[String]): Unit = {
    val Array(lo, hi) = args(0).split("-").map(_.toLong)
    val work = new File(args(1)).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cores, work)
    try {
      val seeds = (lo to hi).map { seed =>
        val ctx = Ctx(spark, new Recorder, work, seed, cores)
        val w = new EncodeZipf(Main.EncodeRows)
        w.setup(ctx, 0)
        val f = w.encodeOnce(ctx)
        println(s"seed $seed: ${f.raw}/${f.encoded} bytes ${f.codecMix}")
        seed.toString -> Pin(f.raw, f.encoded, f.codecMix)
      }
      // one line per seed
      val body = seeds.map { case (k, p) =>
        s"""    "$k": ${jackson.Serialization.write(p)(DefaultFormats)}""" }.mkString(",\n")
      Files.writeString(file, s"""{\n  "rows": ${Main.EncodeRows},\n  "cores": $cores,\n""" +
        s"""  "seeds": {\n$body\n  }\n}\n""")
    } finally {
      spark.stop()
      Workloads.rm(work.getPath)
    }
  }
}
