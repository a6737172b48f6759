package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import Common._

/** Multimodal asset metadata: format sniffing, perceptual-hash
  * near-dups, chunk dedup and frame sampling.
  */
object MultimodalQueries extends QueryFamily {

  // frame plan: 2 fps cadence on the 8 ms/byte stub clock
  private val frameIntervalMs = 500L
  private val frameMsPerByte = 8L
  // content-addressed chunk size in bytes
  private val chunkBytes = 64

  val defs: Seq[QueryDef] = Seq(
    // §7.5 extensions — multimodal binary-column metadata.
    // §7.5 — magic-byte sniffing end-to-end: payloads are CONSTRUCTED
    // with a real container signature chosen by doc_id, then the
    // engine actually sniffs the bytes. The oracle derives the
    // expected kind independently from doc_id — ground truth by
    // construction, not a mirrored implementation.
    QueryDef("q_multimodal_sniff", withTables { s =>
      val sigs = Multimodal.MagicSignatures.map { case (_, b) => lit(b) }
      val media = concat(
        element_at(array(sigs: _*), (col("doc_id") % sigs.size).cast("int") + 1),
        encode(col("text"), "UTF-8"))
      s.table("documents")
        .select(Multimodal.sniffKind(media).as("sniffed_kind"))
        .groupBy("sniffed_kind").agg(count(lit(1)).as("n_assets"))
        .orderBy("sniffed_kind")
    }, Some(OraclesExt.multimodalSniff)),
    // Chunk-level content-addressable dedup across binary assets (the
    // CAS sizing report; digest-keyed shuffle only).
    QueryDef("q_chunk_dedup", withTables { s =>
      Multimodal.chunkDedup(Multimodal.assetTable(s.table("documents")), chunkBytes)
        .orderBy("chunk_md5")
    }, Some(OraclesExt.chunkDedup(chunkBytes))),
    // Perceptual (dHash) near-dup pairs over binary payloads: banded
    // Hamming join (collision-sized, never all-pairs) + exact verify.
    QueryDef("q_phash_neardup", withTables { s =>
      Multimodal.phashNearDupPairs(Multimodal.assetTable(s.table("documents")))
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.phashNearDup)),
    // §7.5 — multimodal frame-sampling plan: the row-per-frame seek
    // schedule a decoder fleet consumes; cadence/offsets are real
    // integer plumbing, the duration clock is the documented stub.
    QueryDef("q_frame_plan", withTables { s =>
      Multimodal.frameSamplePlan(
        Multimodal.assetTable(s.table("documents")),
        frameIntervalMs, frameMsPerByte)
    }, Some(OraclesExt.frameSamplePlan(frameIntervalMs,
      frameMsPerByte))),
    QueryDef("q_multimodal_meta", withTables { s =>
      val assets = Multimodal.withChecksums(
        Multimodal.assetTable(s.table("documents")))
      assets.select(
        col("asset_id"), col("kind"), col("byte_len"), col("checksum"),
        col("meta.origin").as("origin"),
        col("meta.declared_bytes").as("declared_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        size(Multimodal.chunk(col("media"), chunkBytes)).as("n_chunks"),
        size(Multimodal.sampleChunks(col("media"), chunkBytes, 2)).as("n_sampled"),
        md5(substring(col("media"), 1, chunkBytes)).as("head_chunk_md5"))
        .orderBy("asset_id")
    }, Some(OraclesExt.multimodalMeta)))
}
