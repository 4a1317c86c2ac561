package graft.model

/** Core data model of the engine (SURVEY.md §7.1).
  *
  * The input table shape is fixed by BASELINE.json `input_hint`:
  * pre-tokenized training sequences. This is the Spark-native
  * re-targeting of the reference's dynamic record stream
  * (reference: undatum/common/iterable.py:128-139) onto one typed
  * schema.
  */
final case class TokenRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String
)

/** Row metadata without the token payload — what [[graft.encode]]'s
  * metadata-only decode (`TokenDecoder.readMeta`) yields when a query
  * needs counts/sources but not the tokens themselves.
  */
final case class TokenMeta(
    doc_id: String,
    n_tok: Int,
    source: String
)

/** Per-column-block statistics driving codec selection.
  *
  * Direct lineage from the reference's stats accumulator
  * (undatum/cmds/statistics.py:54-110): `card`/`n` generalizes the
  * uniq-share dictionary-key test (dictshare < 70,
  * undatum/constants.py:5); `min`/`max` generalize the int-width
  * guess (undatum/utils.py:106-111); `runs` and `repeatShare` are
  * new, feeding RLE / FSST selection.
  */
final case class ColumnStats(
    n: Long,            // token count
    min: Int,
    max: Int,
    card: Long,         // distinct values (exact if <= cap, else cap+1)
    cardExact: Boolean,
    runs: Long,         // number of value-change runs
    maxRun: Int,
    repeat4Share: Double, // share of 4-grams seen before (sampled) — FSST signal
    sampleDeltaW: Int,    // 95p zigzag-delta bit width over a sampled prefix
    sampleW90: Int        // 90p raw value bit width over the sample (33 if a
                          // negative was sampled) — miniblock-pack signal:
                          // p90 far under width(max) means width is position-
                          // clustered (docs of different regimes in one block)
) {
  def avgRun: Double = if (runs == 0) 0.0 else n.toDouble / runs
  def uniqShare: Double = if (n == 0) 100.0 else 100.0 * card.toDouble / n
}

object ColumnStats {
  val empty: ColumnStats =
    ColumnStats(0L, Int.MaxValue, Int.MinValue, 0L, cardExact = true, 0L, 0, 0.0, 0, 0)
}

/** One encoded column block: the unit of compressed storage.
  *
  * A logical encode-partition emits one or more blocks; each block is
  * self-contained (codec id + symbol table + payload + row metadata)
  * so decode is embarrassingly parallel.
  *
  * `docIds`/`sources`/`lengths` carry the non-token columns losslessly;
  * lengths are the per-row n_tok (invariant n_tok == tokens.length).
  */
final case class EncodedBlock(
    blockId: String,      // shuffled: s"$runId-$partId-$blockSeq", blockSeq
                          // restarting at 0 per partId; no-shuffle:
                          // s"$runId-$partId-p$taskPid-$blockSeq", blockSeq
                          // counting per task (one partId can emit blocks
                          // from several input partitions, so blockSeq alone
                          // is NOT a per-partId sequence there — order/dedupe
                          // by blockId, never by blockSeq).
                          // runId keys a crashed attempt's blocks as distinct
    runId: String,
    partId: Int,          // logical encode-partition (resume unit)
    blockSeq: Int,
    codecId: Int,         // graft.codec.CodecIds
    postCodec: Int,       // 0 = none, 1 = zstd over payload
    symtab: Array[Byte],
    payload: Array[Byte],
    lengthsEnc: Array[Byte], // varint-encoded per-row token counts
    docIdsEnc: Array[Byte],  // zstd(newline-joined doc ids) — shared
                             // prefixes compress to ~nothing
    sourcesEnc: Array[Byte], // varint dict count + dict strings + varint ids
    docBloomEnc: Array[Byte], // DocBloom over this block's doc ids;
                              // null in legacy stores = no pruning
    blockRows: Int,
    totalTokens: Long,
    minTok: Int,          // zone map: min/max token value in the block.
    maxTok: Int,          // Empty block => (Int.MaxValue, Int.MinValue),
                          // so any intersects-[lo,hi] predicate prunes it.
                          // Readers of pre-zone-map stores backfill the
                          // no-pruning sentinels (MinValue, MaxValue).
    rawBytes: Long,       // 4 * totalTokens
    encodedBytes: Long,   // symtab + payload + lengthsEnc
    metaBytes: Long,      // docIdsEnc + sourcesEnc + docBloomEnc
    encodeMillis: Long,   // time to seal this block once its rows are in:
                          // stats, codec selection, kernel, zstd, sidecars
                          // (excludes the wait on upstream rows)
    checksum: Long        // order-sensitive hash of the token stream
)

/** Lineage / checkpoint record, one per encoded block (BASELINE.json:
  * "input file, partition id, row range, checksum, codec chosen,
  * compression ratio"). The lineage table doubles as the commit log
  * for exact resume: a partId present in lineage is complete.
  */
final case class LineageRecord(
    inputFile: String,
    partId: Int,
    blockId: String,
    rowCount: Int,
    totalTokens: Long,
    checksum: Long,
    codecId: Int,
    postCodec: Int,
    rawBytes: Long,
    encodedBytes: Long,
    ratio: Double,
    encodeMillis: Long
)
