package graft.model

import org.apache.spark.sql.types._

/**
 * Explicit schemas for the five wire formats the reference consumes
 * (see SURVEY.md §1.2). The reference declares schemas per DAG edge in
 * code (`declarer.declare(new Fields(...))`); here they are ordinary
 * `StructType`s so Catalyst can prune/push down against them.
 *
 * Reference: record formats at pageview/PageView.java:44-46,
 * RollingFlightDist.java:91-113, RollingHashtagCount.java:44-63,
 * lib/spout/RandomMessageSpout.java:57-65.
 */
object Schemas {

  /** `view` topic: TSV `url \t status \t zip \t user` (PageView.java:44-46). */
  val pageView: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = true),
    StructField("zip_code", IntegerType, nullable = true),
    StructField("user_id", IntegerType, nullable = true)))

  /** `adsb` topic: one JSON object per line, trailing comma
   *  (RollingFlightDist.java:90-113). PosTime is epoch millis; Spd knots;
   *  Trak track degrees; Gnd on-ground flag (true => dropped). */
  val adsb: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = true),
    StructField("Icao", StringType, nullable = true),
    StructField("PosTime", LongType, nullable = true),
    StructField("Lat", DoubleType, nullable = true),
    StructField("Long", DoubleType, nullable = true),
    StructField("Spd", DoubleType, nullable = true),
    StructField("Trak", DoubleType, nullable = true),
    StructField("Gnd", BooleanType, nullable = true)))

  /** `book` topic: raw text line (WordCount.java:63). */
  val sentence: StructType = StructType(Seq(
    StructField("sentence", StringType, nullable = true)))
}

/** Typed views of the parsed records, for `Dataset[T]` paths. */
case class PageView(url: String, http_status: Int, zip_code: Int, user_id: Int)

case class AdsbPosition(
    icao: String, posTime: Long, lat: Double, lng: Double,
    spd: Double, trak: Double)

/** One aircraft's freshest report — DistFilterBolt's flightMap value
 *  (RollingFlightDist.java:216-218); speed already in km/s. */
case class FlightState(posTime: Long, lat: Double, lng: Double,
    spdKms: Double, trak: Double)

/** A position report fanned out to one comparison shard (the Spark
 *  analog of DistFilterBolt's allGrouping broadcast + hashCode
 *  ownership, RollingFlightDist.java:213): `owned` marks the one shard
 *  whose state this aircraft lives in. */
case class ShardedReport(shard: Int, owned: Boolean, icao: String,
    posTime: Long, lat: Double, lng: Double, spdKms: Double, trak: Double)

/** One speculative proximity warning, canonically ordered by icao —
 *  same shape as `JoinOps.proximityPairs` rows. */
case class ProximityWarning(icao1: String, icao2: String, step: Int,
    curr_time: Long, dist_r: Double)

/** One decoded image's projection (MultimodalOps.decodeImagePartitioned):
 *  pixel dimensions + 16-bin luminance histogram; width = -1 marks an
 *  undecodable payload (kept, not dropped — a curation pipeline filters
 *  or quarantines on it explicitly). */
case class ImageFeatures(id: Long, width: Int, height: Int,
    lum_hist: Seq[Long])

/** One decoded audio clip's projection
 *  (MultimodalOps.decodeWavPartitioned): PCM format metadata + 16-bin
 *  amplitude histogram over all channel samples; sample_rate = -1
 *  marks an undecodable (or non-16-bit-PCM) payload — quarantined like
 *  ImageFeatures' width = -1, never dropped. */
case class AudioFeatures(id: Long, sample_rate: Int, channels: Int,
    n_samples: Long, amp_hist: Seq[Long])

/** One clip's channel-0 windowed frame statistics (the VAD-ish
 *  feature set a speech-curation pass extracts after decode):
 *  quarantine convention = all counters -1. */
case class AudioFrameFeatures(id: Long, n_windows: Long,
    zero_crossings: Long, energy: Long, peak_abs: Long,
    silent_windows: Long)

/** One probed media container's metadata
 *  (MultimodalOps.probeMp4Partitioned): ISO BMFF brand + movie-header
 *  timing + track count + payload size; brand = "corrupt" (with -1
 *  fields) marks a payload that is not a well-formed MP4 — quarantined
 *  for routing, never dropped. */
case class ContainerMeta(id: Long, brand: String, timescale: Long,
    duration_ms: Long, n_tracks: Long, mdat_bytes: Long)

/** One decoded image's perceptual-hash fingerprints (base + the
 *  brightness-shifted control): quarantine convention = width -1. */
case class PhashFeatures(id: Long, width: Int, height: Int,
    phash: Long, phash_shifted: Long)

/** One decoded animated GIF's frame statistics (delay in the GIF
 *  wire unit, centiseconds, summed over frames): quarantine
 *  convention = all counters -1, empty hist. */
case class GifFeatures(id: Long, n_frames: Long, width: Int,
    height: Int, total_delay_cs: Long, lum_hist: Seq[Long])

/** ONE FRAME's perceptual-hash fingerprints of a decoded animated
 *  GIF (MultimodalOps.gifFramePhashesPartitioned) — the clip-level
 *  video signature is the ORDERED sequence of these rows; quarantine
 *  convention = a single row with frame/width/height -1 and sentinel
 *  hashes 0 (the clip is routed, its frames never enter a dedup
 *  pass). */
case class GifFramePhash(id: Long, frame: Long, width: Int,
    height: Int, phash: Long, phash_shifted: Long)

/** One decoded WAV clip's 64-bit envelope-DCT audio fingerprint
 *  (MultimodalOps.audioFingerprintPartitioned); quarantine
 *  convention = sample_rate -1 with sentinel fp 0 (undecodable,
 *  non-PCM16LE, or too short to window — routed, never dropped,
 *  never enters a dedup join). */
case class AudioFingerprint(id: Long, sample_rate: Int,
    n_samples: Long, fp: Long)

/** One decoded MJPEG-in-AVI clip's projection
 *  (MultimodalOps.decodeMjpegAviPartitioned): frame count, constant
 *  frame dimensions, the container's microseconds-per-frame, and a
 *  16-bin luminance histogram accumulated over EVERY decoded frame's
 *  pixels; n_frames = -1 (with -1 fields) marks a malformed container,
 *  a desynced/truncated chunk, or an undecodable frame — quarantined
 *  for routing, never dropped. */
case class VideoFeatures(id: Long, n_frames: Long, width: Int,
    height: Int, us_per_frame: Long, lum_hist: Seq[Long])
