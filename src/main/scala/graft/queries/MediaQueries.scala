package graft
package queries

import graft.llm.MediaOps
import Oracle.Sql

/** Multimodal operators over synthetic media metadata, frames and audio.
  */
private[graft] object MediaQueries {

  val all: Seq[Query] = Seq(
    Query("m1_media_meta", (s, dir) => MediaOps.mediaMeta(Tables.documents(s, dir)),
      Sql(MediaOps.mediaMetaSql)),
    Query("m2_frame_sample", (s, dir) => MediaOps.frameSample(Tables.documents(s, dir)),
      Sql(MediaOps.frameSampleSql())),
    Query("m4_media_dedup", (s, dir) => // binary-payload dedup by header
      // fingerprint + size bucket — the pre-decode dup collapse; one
      // shuffle on a 12-byte key over the BINARY column
      MediaOps.mediaDedup(Tables.documents(s, dir)),
      Sql(MediaOps.mediaDedupSql())),
    Query("m9_shot_boundaries", (s, dir) => // shot-boundary detection (the
      // first stage of every video curation pipeline): consecutive-frame
      // byte L1 distance per video, cut flagged by a cross-multiplied
      // normalized threshold — partition-batched row-local work, raw
      // payloads never shuffle
      MediaOps.shotBoundaries(MediaOps.syntheticMedia(Tables.documents(s, dir))),
      Sql(MediaOps.shotBoundariesSql())),
    Query("m8_augment_features", (s, dir) => // deterministic augmentation
      // (horizontal flip then center crop) over ACTUAL pixels: decode ->
      // transform -> re-encode -> decode again -> integer channel stats;
      // the oracle replays the exact flip/crop index map against the
      // pixel-generating formula
      MediaOps.augmentedFeatures(Tables.documents(s, dir)),
      Sql(MediaOps.augmentedFeaturesSql())),
    Query("m6_resize_features", (s, dir) => // decode -> nearest-neighbor
      // RESIZE over the actual pixel grid -> re-encode -> decode again,
      // reduced to integer channel stats; the oracle replays the exact
      // truncating-division resample map against the generating formula,
      // so any off-by-one anywhere in the round trip diverges
      MediaOps.resizedFeatures(Tables.documents(s, dir)),
      Sql(MediaOps.resizedFeaturesSql())),
    Query("m3_decode_features", (s, dir) => // REAL image decode: a synthetic
      // binary-PPM corpus parsed byte-for-byte (tokenizing header,
      // 8-bit RGB raster) in the mapPartitions batched-codec shape; the
      // oracle computes the same per-channel pixel sums/means from the
      // pixel-generating FORMULA, so any parse off-by-one diverges
      MediaOps.ppmFeatures(Tables.documents(s, dir)),
      Sql(MediaOps.ppmFeaturesSql)),
    Query("m5_perceptual_dedup", (s, dir) => // perceptual near-dup: REAL
      // decode -> brightness-invariant gradient hash (dHash) -> one
      // 16-byte-key shuffle; collapses shifted re-encodes whose bytes
      // (and md5) all differ — m4's exact-byte pass cannot; oracle
      // derives the hash bits from the pixel-generating formula
      MediaOps.perceptualDedup(Tables.documents(s, dir)),
      Sql(MediaOps.perceptualDedupSql)),
    Query("m10_audio_resample", (s, dir) => // sample-rate conversion
      // (16 kHz -> 12 kHz, L/M = 3/4) by integer-exact linear
      // interpolation over the DECODED s16 payload — the speech-pipeline
      // house-rate normalization; row-local HOF algebra, offset trick
      // keeps the one division non-negative so both engines' integer
      // division agrees on signed audio
      MediaOps.audioResample(Tables.documents(s, dir)),
      Sql(MediaOps.audioResampleSql())),
    Query("m7_audio_frames", (s, dir) => // audio modality: REAL little-endian
      // s16 PCM decoded back from the binary payload, then 16-sample
      // frames reduced with codegen'd array algebra — energy, adjacent
      // zero crossings, peak-based silence; oracle regenerates the PCM
      // from the sample formula, so any codec off-by-one diverges
      MediaOps.audioFrames(Tables.documents(s, dir)),
      Sql(MediaOps.audioFramesSql())))
}
