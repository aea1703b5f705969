package graft.ext

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/sampled/embedded on executors.
  *
  * The actual codec step is a clearly marked STUB (no image/audio
  * libraries ship in this container): `decodeStub` parses a
  * deterministic fake header instead of calling a real decoder. All the
  * Spark-side plumbing is real and tested — schema, binary payloads,
  * partition-parallel `mapPartitions` decode, per-frame explode shape,
  * fixed-width feature vectors — so swapping the stub body for a real
  * decoder (JNI/ImageIO/pandas-UDF on PySpark) changes no dataflow.
  */
object Multimodal {

  /** Media row: payload + envelope metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded metadata (stub decoder output). */
  case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int)

  /** Sampled frame: deterministic slice fingerprints. */
  case class Frame(media_id: Long, frame_idx: Int, frame_hash: String)

  private val kinds = Array("image", "audio", "video")

  /** Synthesize a media table from `documents`: payload = fake 12-byte
    * header ("GFT1" + dims) + the UTF-8 text bytes. Deterministic, so
    * every downstream op is reproducible. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaRowsOf(documents(s, d).select("doc_id", "text").as[(Long, String)])
  }

  /** The media synthesis over an arbitrary (doc_id, text) frame — a
    * stateless typed map, so it composes onto a STREAMING Dataset too
    * (e112 rides it). */
  private[graft] def mediaRowsOf(docs: Dataset[(Long, String)])
      : Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.map { case (id, text) =>
      val kind = kinds((id % 3).toInt)
      val body = text.getBytes(StandardCharsets.UTF_8)
      val w = (64 + (id * 31) % 1024).toInt
      val h = (64 + (id * 17) % 768).toInt
      val header = Array[Byte]('G', 'F', 'T', '1',
        (w >> 8).toByte, w.toByte, (h >> 8).toByte, h.toByte,
        (body.length >> 8).toByte, body.length.toByte,
        (id % 3).toByte, 0)
      MediaRow(id, kind, header ++ body)
    }
  }

  /** STUB DECODER — replace with a real codec. Parses the fake "GFT1"
    * header; a real implementation would hand `payload` to an image/
    * audio library here. Runs per-partition on executors: the 100 TB
    * shape (no driver round-trips, payloads never collected). */
  def decodeStub(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val p = m.payload
        require(p.length >= 12 && p(0) == 'G' && p(1) == 'F' && p(2) == 'T',
          s"bad media header for ${m.media_id}")
        val w = ((p(4) & 0xff) << 8) | (p(5) & 0xff)
        val h = ((p(6) & 0xff) << 8) | (p(7) & 0xff)
        val frames = if (m.kind == "video") 1 + (p.length % 7) else 1
        MediaMeta(m.media_id, m.kind, p.length.toLong, w, h, frames)
      }
    }
  }

  /** Shared framing convention (m71/m74/m75): skip the 12-byte fake
    * codec header, split the body into `everyNBytes`-byte slices, at
    * least one frame per media. Centralized so the frame indexing of
    * the sampling, energy, and scene tiers can never diverge. */
  private def frameSlices(payload: Array[Byte], everyNBytes: Int = 64)
      : Seq[(Int, Array[Byte])] = {
    val body = payload.drop(12)
    val n = math.max(1, body.length / everyNBytes)
    (0 until n).map(i =>
      i -> body.slice(i * everyNBytes, (i + 1) * everyNBytes))
  }

  /** Frame sampling: deterministic byte-range slices hashed per frame
    * (the video-frame-extraction shape: one input row → n_frames rows). */
  def sampleFrames(media: Dataset[MediaRow], everyNBytes: Int = 64)
      : Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      frameSlices(m.payload, everyNBytes).map { case (i, slice) =>
        val digest = MessageDigest.getInstance("MD5").digest(slice)
        Frame(m.media_id, i, digest.map("%02x".format(_)).mkString.take(16))
      }
    }
  }

  /** Pseudo feature-extraction: fixed-width vector from payload hash
    * bytes, normalized — the embedding-column shape for the similarity
    * tier (real models would run here via a native scorer). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8)
      : DataFrame = {
    import media.sparkSession.implicits._
    media.map { m =>
      val digest = MessageDigest.getInstance("SHA-256").digest(m.payload)
      val raw = (0 until dim).map(i => (digest(i) & 0xff) / 255.0f)
      val norm = math.sqrt(raw.map(x => x * x).sum).toFloat max 1e-9f
      (m.media_id, raw.map(_ / norm).toArray)
    }.toDF("media_id", "features")
  }

  // ----------------------------------------------- driver-contract ops

  /** m70: media envelope metadata — the oracle-checkable plumbing layer
    * (byte counts + content hash over the synthesized payload text). */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(lit(kinds), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      octet_length(col("text")).cast("bigint").as("body_bytes"),
      md5(col("text")).as("payload_md5"))
      .orderBy("media_id")

  val mediaMetaSql: String =
    """SELECT doc_id AS media_id,
      |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |  CAST(octet_length(text::BLOB) AS BIGINT) AS body_bytes,
      |  md5(text) AS payload_md5
      |FROM documents ORDER BY media_id""".stripMargin

  /** m71: decode + frame-sample through the real mapPartitions path.
    * Oracle-checked: the payload after the 12-byte header is the raw
    * UTF-8 text (pure ASCII in the fixtures, verified), so every frame
    * hash is md5 over a byte slice DuckDB reproduces with substring. */
  def mediaFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sampleFrames(mediaTable(s, d)).toDF()
      .withColumn("frame_idx", col("frame_idx").cast("bigint"))
      .orderBy("media_id", "frame_idx")
  }

  val mediaFramesSql: String =
    """SELECT doc_id AS media_id, i AS frame_idx,
      |  substr(md5(substring(text, CAST(i * 64 + 1 AS INT), 64)), 1, 16)
      |    AS frame_hash
      |FROM (SELECT doc_id, text,
      |        unnest(range(0, greatest(length(text) // 64, 1))) AS i
      |      FROM documents)
      |ORDER BY media_id, frame_idx""".stripMargin

  /** m72: feature extraction as a driver-contract op — a fixed-width
    * unit vector per media row, derived from SHA-256 over the payload's
    * lowercase-hex encoding (hex, not raw bytes: DuckDB's sha256 hashes
    * VARCHAR only, and the hex string is pure ASCII on both engines).
    * Exploded to (media_id, dim_idx, feature) scalar rows — array cells
    * don't hash in the driver compare. Every double op is a fixed
    * left-associated chain, so features are bit-identical across
    * engines with NO rounding step. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).flatMap { m =>
      val hexStr = m.payload.map("%02x".format(_)).mkString
      val digest = MessageDigest.getInstance("SHA-256")
        .digest(hexStr.getBytes(StandardCharsets.UTF_8))
      val r = (0 until 8).map(i => (digest(i) & 0xff) / 255.0)
      val norm = math.max(math.sqrt(
        r(0) * r(0) + r(1) * r(1) + r(2) * r(2) + r(3) * r(3) +
          r(4) * r(4) + r(5) * r(5) + r(6) * r(6) + r(7) * r(7)), 1e-9)
      (0 until 8).map(i => (m.media_id, i.toLong, r(i) / norm))
    }.toDF("media_id", "dim_idx", "feature")
      .orderBy("media_id", "dim_idx")
  }

  /** DuckDB twin: rebuilds the 12-byte header in hex with printf,
    * re-derives the digest, and applies the same left-assoc math. */
  val mediaFeaturesSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    64 + (doc_id * 31) % 1024 AS w,
      |    64 + (doc_id * 17) % 768 AS h,
      |    octet_length(text::BLOB) AS blen, text
      |  FROM documents),
      |digs AS (
      |  SELECT media_id, sha256(
      |    '47465431' || printf('%02x%02x%02x%02x%02x%02x%02x%02x',
      |      w // 256, w % 256, h // 256, h % 256,
      |      (blen // 256) % 256, blen % 256, media_id % 3, 0)
      |    || lower(hex(text::BLOB))) AS dg
      |  FROM m),
      |raws AS (
      |  SELECT media_id,
      |    ('0x' || substr(dg, 1, 2))::INT / 255.0 AS r0,
      |    ('0x' || substr(dg, 3, 2))::INT / 255.0 AS r1,
      |    ('0x' || substr(dg, 5, 2))::INT / 255.0 AS r2,
      |    ('0x' || substr(dg, 7, 2))::INT / 255.0 AS r3,
      |    ('0x' || substr(dg, 9, 2))::INT / 255.0 AS r4,
      |    ('0x' || substr(dg, 11, 2))::INT / 255.0 AS r5,
      |    ('0x' || substr(dg, 13, 2))::INT / 255.0 AS r6,
      |    ('0x' || substr(dg, 15, 2))::INT / 255.0 AS r7
      |  FROM digs),
      |norms AS (
      |  SELECT *, greatest(sqrt(r0*r0 + r1*r1 + r2*r2 + r3*r3
      |    + r4*r4 + r5*r5 + r6*r6 + r7*r7), 1e-9) AS nrm
      |  FROM raws)
      |SELECT media_id, CAST(i AS BIGINT) AS dim_idx,
      |  CASE i WHEN 0 THEN r0 WHEN 1 THEN r1 WHEN 2 THEN r2
      |         WHEN 3 THEN r3 WHEN 4 THEN r4 WHEN 5 THEN r5
      |         WHEN 6 THEN r6 ELSE r7 END / nrm AS feature
      |FROM norms, generate_series(0, 7) AS g(i)
      |ORDER BY media_id, dim_idx""".stripMargin

  /** m73: stub RESIZE/downsample — the remaining multimodal verb:
    * image rows get halved dimensions and a 2:1 byte-stride downsample
    * of the payload (a real codec would interpolate; the stub keeps
    * every other byte), fingerprinted per thumbnail. Exercises the
    * executor-side payload TRANSFORM shape — metadata recomputed,
    * payload rewritten per partition, nothing collected. The DuckDB
    * twin reproduces the stride with `regexp_replace('(.).','\\1','gs')`
    * (keep the first of each char pair + the odd tail — ASCII
    * payloads, so bytes == chars, the m71 assumption). */
  def mediaResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).filter(_.kind == "image").map { m =>
      val p = m.payload
      val w = ((p(4) & 0xff) << 8) | (p(5) & 0xff)
      val h = ((p(6) & 0xff) << 8) | (p(7) & 0xff)
      val body = p.drop(12)
      val half = Array.tabulate((body.length + 1) / 2)(i => body(2 * i))
      val digest = MessageDigest.getInstance("MD5").digest(half)
      (m.media_id, (w / 2).toLong, (h / 2).toLong,
        digest.map("%02x".format(_)).mkString.take(16))
    }.toDF("media_id", "new_w", "new_h", "thumb_md5")
      .orderBy("media_id")
  }

  val mediaResizeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST((64 + (doc_id * 31) % 1024) // 2 AS BIGINT) AS new_w,
      |  CAST((64 + (doc_id * 17) % 768) // 2 AS BIGINT) AS new_h,
      |  substr(md5(regexp_replace(text, '(.).', '\1', 'gs')), 1, 16)
      |    AS thumb_md5
      |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin

  /** m74: windowed ENERGY over audio payloads — per 64-byte frame, the
    * sum of unsigned byte values (the stub for RMS/loudness feature
    * extraction; a real audio lib would decode PCM samples here, the
    * framing/flatMap dataflow is identical). Executor-side
    * per-partition compute over the binary column, one output row per
    * frame, nothing collected. Oracle: fixture payload bodies are pure
    * ASCII (the m71 assumption), so byte values == `ascii()` codes of
    * the character slices in DuckDB. */
  def mediaEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).filter(_.kind == "audio").flatMap { m =>
      frameSlices(m.payload).map { case (i, slice) =>
        (m.media_id, i.toLong,
          slice.foldLeft(0L)((acc, b) => acc + (b & 0xff)),
          slice.length.toLong)
      }
    }.toDF("media_id", "frame_idx", "energy", "n_bytes")
      .orderBy("media_id", "frame_idx")
  }

  val mediaEnergySql: String =
    """SELECT media_id, i AS frame_idx,
      |  CAST(coalesce(list_sum(list_transform(range(1, length(f) + 1),
      |    j -> ascii(substr(f, CAST(j AS INT), 1)))), 0) AS BIGINT)
      |    AS energy,
      |  CAST(length(f) AS BIGINT) AS n_bytes
      |FROM (
      |  SELECT doc_id AS media_id, i,
      |    substring(text, CAST(i * 64 + 1 AS INT), 64) AS f
      |  FROM (SELECT doc_id, text,
      |          unnest(range(0, greatest(length(text) // 64, 1))) AS i
      |        FROM documents WHERE doc_id % 3 = 1))
      |ORDER BY media_id, frame_idx""".stripMargin

  // ------------------------------------------ m75 scene changes

  private val sceneDelta = 200L

  /** m75: scene-change detection — frames where the energy jumps by ≥
    * `sceneDelta` against the previous frame of the same media (the
    * shot-boundary heuristic a video pipeline runs on decoded frame
    * statistics; here over the m74 energy stub, with the Spark-side
    * dataflow — per-media ordered lag, flagged frames only — real).
    * The window partitions by media_id and a media's frame count is
    * codec-bounded, so the sort is per-key-local and the stage scales
    * by media count, not corpus size. */
  def mediaScenes(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    mediaEnergy(s, d)
      .withColumn("delta", col("energy") - lag("energy", 1).over(w))
      .filter(abs(col("delta")) >= sceneDelta)
      .select("media_id", "frame_idx", "energy", "delta")
      .orderBy("media_id", "frame_idx")
  }

  val mediaScenesSql: String =
    s"""WITH fr AS (
      |  SELECT media_id, i AS frame_idx,
      |    CAST(coalesce(list_sum(list_transform(range(1, length(f) + 1),
      |      j -> ascii(substr(f, CAST(j AS INT), 1)))), 0) AS BIGINT)
      |      AS energy
      |  FROM (
      |    SELECT doc_id AS media_id, i,
      |      substring(text, CAST(i * 64 + 1 AS INT), 64) AS f
      |    FROM (SELECT doc_id, text,
      |            unnest(range(0, greatest(length(text) // 64, 1))) AS i
      |          FROM documents WHERE doc_id % 3 = 1))),
      |d AS (
      |  SELECT media_id, frame_idx, energy,
      |    energy - lag(energy) OVER (
      |      PARTITION BY media_id ORDER BY frame_idx) AS delta
      |  FROM fr)
      |SELECT media_id, frame_idx, energy, CAST(delta AS BIGINT) AS delta
      |FROM d WHERE abs(delta) >= $sceneDelta
      |ORDER BY media_id, frame_idx""".stripMargin

  // ------------------------------------------- m76 media exact dedup

  /** m76: exact dedup over the multimodal column — media grouped by
    * the md5 of their CONTENT bytes (payload minus the 12-byte
    * envelope header, sliced with binary `substring` on the real
    * payload column), per kind. The dedup tier (d50) extended to
    * binary media: identical assets uploaded under different ids
    * collapse to one keeper. One hash aggregation, map-side partials,
    * shuffle carries (kind, md5) pairs — never payload bytes. */
  def mediaDedup(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).toDF()
      .select(col("media_id"), col("kind"),
        md5(expr("substring(payload, 13, 536870912)")).as("content_md5"))
      .groupBy("kind", "content_md5")
      .agg(min("media_id").as("keep_media_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_media_id", "kind")

  val mediaDedupSql: String =
    """SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |  md5(text) AS content_md5,
      |  min(doc_id) AS keep_media_id, count(*) AS n_copies
      |FROM documents GROUP BY 1, 2
      |ORDER BY keep_media_id, kind""".stripMargin

  // ---------------------------------------------- m77 shard manifest

  /** Shard byte budget (a scaled-down WebDataset `maxsize`). */
  private[graft] val shardBudget = 4096L
  /** Media rows per manifest block — the independent unit of work. */
  private[graft] val shardBlock = 256L

  /** One manifest row: where a sample lands in its shard sequence. */
  case class ShardSlot(media_id: Long, kind: String, block: Long,
      n_bytes: Long, shard: Long, shard_off: Long)

  /** m77: WebDataset-style SHARD packing manifest — the step that turns
    * a media corpus into size-capped archive shards a dataloader
    * streams sequentially: walk samples in deterministic (media_id)
    * order and close the current shard whenever adding the next sample
    * would exceed the byte budget (samples are never split; an
    * oversize sample gets a shard of its own). Emits, per sample, its
    * shard ordinal and byte offset within the shard — the manifest a
    * tar-writer materializes archives from.
    *
    * The greedy close-on-overflow rule is inherently sequential (the
    * boundary depends on the running remainder, so no window/cumsum
    * reformulation is exact — contrast t64, whose fixed-length packs
    * ARE a pure cumsum). It runs as `flatMapSortedGroups` over
    * (kind, block) groups: Spark sorts each group's iterator inside the
    * shuffle (no per-group materialization), and the sequential state
    * is two longs.
    *
    * Scale shape: the packing unit is the (kind, block) group of at
    * most `shardBlock` contiguous media_ids — bounded groups that pack
    * independently and in parallel (a corpus-global walk would
    * serialize 100 TB through one task). One shuffle of (id, kind,
    * n_bytes) triples — payload bytes never move; the real tar write
    * would stream payloads per-group from storage. */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaMeta(s, d)
      .select(col("media_id"), col("kind"),
        expr(s"media_id div $shardBlock").as("block"),
        (col("body_bytes") + 12L).as("n_bytes"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (_, kind, block, _) => (kind, block) }
      .flatMapSortedGroups(col("media_id")) { case ((kind, block), rows) =>
        var shard = 0L; var used = 0L
        rows.map { case (id, _, _, nb) =>
          if (used > 0 && used + nb > shardBudget) { shard += 1; used = 0 }
          val slot = ShardSlot(id, kind, block, nb, shard, used)
          used += nb
          slot
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** DuckDB twin: the same greedy walk as a per-(kind, block) recursive
    * CTE advancing one row per step — exact because groups are bounded
    * (≤`shardBlock` rows) and the state carried is (shard, used). */
  val shardManifestSql: String =
    s"""WITH RECURSIVE m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |    doc_id // $shardBlock AS block,
      |    CAST(12 + octet_length(text::BLOB) AS BIGINT) AS n_bytes
      |  FROM documents),
      |r AS (
      |  SELECT media_id, kind, block, n_bytes,
      |    row_number() OVER (PARTITION BY kind, block ORDER BY media_id)
      |      AS rn
      |  FROM m),
      |g AS (
      |  SELECT media_id, kind, block, n_bytes, rn,
      |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS shard_off,
      |    n_bytes AS used
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.media_id, r.kind, r.block, r.n_bytes, r.rn,
      |    CASE WHEN g.used + r.n_bytes > $shardBudget
      |      THEN g.shard + 1 ELSE g.shard END,
      |    CASE WHEN g.used + r.n_bytes > $shardBudget
      |      THEN 0 ELSE g.used END,
      |    CASE WHEN g.used + r.n_bytes > $shardBudget
      |      THEN r.n_bytes ELSE g.used + r.n_bytes END
      |  FROM g JOIN r ON r.kind = g.kind AND r.block = g.block
      |    AND r.rn = g.rn + 1)
      |SELECT media_id, kind, block, n_bytes, shard, shard_off
      |FROM g ORDER BY media_id""".stripMargin

  // --------------------------------- m78 media near-dup (fingerprint)

  private val fpFrames = 8 // signature length (frames)
  private val fpQuant = 64L // energy quantization step
  private val fpBand = 4 // frames per LSH band
  private val fpMatchMin = 6 // of fpFrames that must agree
  private val fpBandCap = 32L // hot-band guard (d52's DF-cap discipline)

  /** m78: NEAR-dup detection over the multimodal column — the
    * perceptual-fingerprint shape (Chromaprint/pHash-style): every
    * payload gets a signature of its first 8 frames' quantized
    * energies (the m74 content-derived stub feature generalized to
    * all kinds — a real pipeline would put chroma/MFCC or DCT frames
    * here, the dataflow is identical), candidates come from a 2-band
    * LSH equi-join WITHIN a kind (exact match on either half of the
    * signature — never an all-pairs scan, the d52 blocking discipline
    * applied to binary media), and a pair is a near-dup when ≥ 6 of
    * 8 quantized frames agree. Catches the perturbed re-encodes
    * m76's exact-md5 dedup can't see.
    *
    * Scale shape: the signature build is one per-partition frame map
    * over payloads (shuffle carries (media_id, 8 longs) — never
    * payload bytes); candidates are equi-joins on (kind, band)
    * strings with hot bands above `fpBandCap` members dropped by an
    * aggregate-and-filter (the DF-cap rule: a degenerate band would
    * otherwise go quadratic); the verify step compares two 8-element
    * arrays per candidate. Media with fewer than 8 frames carry no
    * signature (too short to fingerprint) — both engines exclude them
    * structurally. */
  def mediaNearDup(s: SparkSession, d: String): DataFrame =
    nearDupFromSig(cachedSignatures(s, d))

  /** The m78 pipeline over an arbitrary media frame — factored so the
    * spec can plant a controlled near-dup (few flipped bytes) and a
    * degenerate hot band, which the fixture corpus only thinly
    * exercises (its injected near-dups mostly cross kinds). */
  /** Per-media quantized 8-frame energy signature, computed DIRECTLY
    * in the typed map (the whole payload is in the row, so no
    * frame-explode → groupBy shuffle is ever needed — and the same
    * stateless shape is legal inside an append-mode stream, which is
    * what e112 rides). Media shorter than `fpFrames` frames emit no
    * row. */
  private[graft] def signaturesOf(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.flatMap { m =>
      val frames = frameSlices(m.payload).take(fpFrames)
      if (frames.length < fpFrames) Nil
      else Seq((m.media_id, m.kind, frames.map { case (_, slice) =>
        slice.foldLeft(0L)((acc, b) => acc + (b & 0xff)) / fpQuant }))
    }.toDF("media_id", "kind", "sig")
  }

  /** The per-(session, dir) cached corpus signature frame — THREE
    * consumers ride it (m78's self-join, m79's corpus/new split, and
    * e112's batch-side band index), and each uncached reference
    * re-runs the full payload synthesis + energy fold scan. Its
    * one-time cost is the `cache_media_sigs` bench/rehearsal warm
    * line item; dropping "media_sigs" is the targeted re-time clear. */
  private[graft] def cachedSignatures(s: SparkSession, d: String): DataFrame =
    graft.SessionStore.frame(s, d, "media_sigs") { signaturesOf(mediaTable(s, d)) }

  /** The 2-band LSH keys of a signature frame: (media_id, kind,
    * band_idx, band-string). */
  private[graft] def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("media_id"), col("kind"),
        posexplode(array(
          slice(col("sig"), 1, fpBand),
          slice(col("sig"), fpBand + 1, fpBand))).as(Seq("band_idx", "b")))
      .select(col("media_id"), col("kind"), col("band_idx"),
        array_join(transform(col("b"), _.cast("string")), ",").as("band"))

  private[graft] def mediaNearDupOf(media: Dataset[MediaRow]): DataFrame =
    nearDupFromSig(signaturesOf(media))

  private def nearDupFromSig(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    val coldBands = bands
      .groupBy("kind", "band_idx", "band").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= fpBandCap)
      .select("kind", "band_idx", "band")
    val safe = bands.join(coldBands, Seq("kind", "band_idx", "band"))
    val cand = safe.toDF("kind", "band_idx", "band", "media_a")
      .join(safe.toDF("kind", "band_idx", "band", "media_b"),
        Seq("kind", "band_idx", "band"))
      .filter(col("media_a") < col("media_b"))
      .select("kind", "media_a", "media_b").distinct()
    cand
      .join(sig.select(col("media_id").as("media_a"),
        col("sig").as("sig_a")), "media_a")
      .join(sig.select(col("media_id").as("media_b"),
        col("sig").as("sig_b")), "media_b")
      .withColumn("n_match", expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))")
        .cast("long"))
      .filter(col("n_match") >= fpMatchMin)
      .select("kind", "media_a", "media_b", "n_match")
      .orderBy("media_a", "media_b")
  }

  val mediaNearDupSql: String =
    s"""WITH fr AS (
      |  SELECT media_id, kind, i AS frame_idx,
      |    CAST(coalesce(list_sum(list_transform(range(1, length(f) + 1),
      |      j -> ascii(substr(f, CAST(j AS INT), 1)))), 0) AS BIGINT)
      |      AS energy
      |  FROM (
      |    SELECT doc_id AS media_id,
      |      ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind, i,
      |      substring(text, CAST(i * 64 + 1 AS INT), 64) AS f
      |    FROM (SELECT doc_id, text,
      |            unnest(range(0, least(greatest(length(text) // 64, 1),
      |              $fpFrames))) AS i
      |          FROM documents))),
      |sig AS (
      |  SELECT media_id, kind,
      |    list(energy // $fpQuant ORDER BY frame_idx) AS sig
      |  FROM fr GROUP BY media_id, kind HAVING count(*) = $fpFrames),
      |bands AS (
      |  SELECT media_id, kind, bi AS band_idx,
      |    array_to_string(CASE bi WHEN 0 THEN sig[1:$fpBand]
      |      ELSE sig[${fpBand + 1}:${2 * fpBand}] END, ',') AS band
      |  FROM sig, generate_series(0, 1) AS g(bi)),
      |cold AS (
      |  SELECT kind, band_idx, band FROM bands
      |  GROUP BY kind, band_idx, band
      |  HAVING count(*) <= $fpBandCap),
      |safe AS (
      |  SELECT b.* FROM bands b
      |  JOIN cold c ON c.kind = b.kind AND c.band_idx = b.band_idx
      |    AND c.band = b.band),
      |cand AS (
      |  SELECT DISTINCT a.kind, a.media_id AS media_a,
      |    b.media_id AS media_b
      |  FROM safe a JOIN safe b
      |    ON a.kind = b.kind AND a.band_idx = b.band_idx
      |    AND a.band = b.band AND a.media_id < b.media_id)
      |SELECT c.kind, c.media_a, c.media_b,
      |  CAST(len(list_filter(range(1, ${fpFrames + 1}),
      |    i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match
      |FROM cand c
      |JOIN sig sa ON sa.media_id = c.media_a
      |JOIN sig sb ON sb.media_id = c.media_b
      |WHERE len(list_filter(range(1, ${fpFrames + 1}),
      |  i -> sa.sig[i] = sb.sig[i])) >= $fpMatchMin
      |ORDER BY media_a, media_b""".stripMargin

  // ---------------------------- m79 incremental media near-dup gate

  /** m79: INCREMENTAL media near-dup — d58's absorb contract applied
    * to the multimodal column: a "new crawl batch" of media
    * (media_id % 7 == 3) is checked against the EXISTING corpus by
    * the m78 fingerprint (≥ 6/8 quantized frames agree, within a
    * kind) without ever re-pairing the corpus against itself. The
    * corpus-side band index streams through an equi-join against the
    * BROADCAST new-batch bands (a crawl increment is small by
    * definition), hot corpus bands above `fpBandCap` are dropped
    * before any pair forms, and the verdict is one row per new media:
    * its best corpus match (max frame agreement, ties → smallest
    * corpus id, a plain min-of-struct aggregate) or is_dup=0 if
    * novel. At 100 TB: per-batch work tracks the batch's candidate
    * fan-out, never corpus size — the media tier's crawler-ingest
    * gate, the same shape as d58/e109 for text. */
  def mediaIncrNearDup(s: SparkSession, d: String): DataFrame = {
    val newBands = bandsOf(cachedSignatures(s, d)
      .filter(col("media_id") % 7 === 3))
      .select(col("kind"), col("band_idx"), col("band"),
        col("media_id").as("n_id"))
    val cand = corpusBandIndex(s, d)
      .join(broadcast(newBands), Seq("kind", "band_idx", "band"))
      .select("n_id", "c_id")
    incrMediaFinish(s, d, cand)
  }

  /** The corpus side of the m79 gate — (kind, band_idx, band, c_id)
    * with hot bands (> `fpBandCap` members) dropped. Shared with the
    * streaming twin (e112) so the two paths can never diverge on the
    * capped representation. */
  private[graft] def corpusBandIndex(s: SparkSession, d: String): DataFrame = {
    val corpBands = bandsOf(cachedSignatures(s, d)
      .filter(col("media_id") % 7 =!= 3))
    val cold = corpBands.groupBy("kind", "band_idx", "band")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= fpBandCap)
      .select("kind", "band_idx", "band")
    corpBands.join(cold, Seq("kind", "band_idx", "band"))
      .select(col("kind"), col("band_idx"), col("band"),
        col("media_id").as("c_id"))
  }

  /** Scoring epilogue shared by m79 and its streaming twin (e112): a
    * candidate (n_id, c_id) frame (possibly with band-collision
    * duplicates — dedup'd here) → frame-agreement count from the
    * signatures → best corpus match per new media → a verdict row for
    * EVERY new-batch media (including those too short to fingerprint:
    * un-checkable, reported novel). Candidates are bounded by the new
    * batch's fan-out — broadcast on both signature joins' small
    * sides. */
  private[graft] def incrMediaFinish(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val sig = cachedSignatures(s, d)
    // broadcast only batch-bounded frames: the candidate set and the
    // NEW-batch signatures (media_id % 7 == 3). The corpus-side
    // signature frame streams through a plain join — broadcasting it
    // would be an O(corpus) driver materialization, exactly the
    // unbounded-collect class this gate exists to avoid.
    val newSig = sig.filter(col("media_id") % 7 === 3)
    val scored = broadcast(cand.select("n_id", "c_id").distinct())
      .join(sig.select(col("media_id").as("c_id"), col("sig").as("sig_c")),
        "c_id")
      .join(broadcast(newSig.select(col("media_id").as("n_id"),
        col("sig").as("sig_n"))), "n_id")
      .withColumn("n_match", expr(
        "size(filter(zip_with(sig_n, sig_c, (x, y) -> x = y), m -> m))")
        .cast("long"))
      .filter(col("n_match") >= fpMatchMin)
    val best = scored.groupBy("n_id")
      .agg(min(struct((-col("n_match")).as("nm"), col("c_id").as("cid")))
        .as("m"))
      .select(col("n_id").as("new_media_id"), col("m.cid").as("dup_of"),
        (-col("m.nm")).as("best_match"))
    documents(s, d).filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("new_media_id"),
        element_at(lit(kinds), (col("doc_id") % 3 + 1).cast("int"))
          .as("kind"))
      .join(broadcast(best), Seq("new_media_id"), "left")
      .select(col("new_media_id"), col("kind"), col("dup_of"),
        col("best_match"),
        when(col("dup_of").isNotNull, 1L).otherwise(0L).as("is_dup"))
      .orderBy("new_media_id")
  }

  val mediaIncrNearDupSql: String =
    s"""WITH fr AS (
      |  SELECT media_id, kind, i AS frame_idx,
      |    CAST(coalesce(list_sum(list_transform(range(1, length(f) + 1),
      |      j -> ascii(substr(f, CAST(j AS INT), 1)))), 0) AS BIGINT)
      |      AS energy
      |  FROM (
      |    SELECT doc_id AS media_id,
      |      ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind, i,
      |      substring(text, CAST(i * 64 + 1 AS INT), 64) AS f
      |    FROM (SELECT doc_id, text,
      |            unnest(range(0, least(greatest(length(text) // 64, 1),
      |              $fpFrames))) AS i
      |          FROM documents))),
      |sig AS (
      |  SELECT media_id, kind,
      |    list(energy // $fpQuant ORDER BY frame_idx) AS sig
      |  FROM fr GROUP BY media_id, kind HAVING count(*) = $fpFrames),
      |bands AS (
      |  SELECT media_id, kind, bi AS band_idx,
      |    array_to_string(CASE bi WHEN 0 THEN sig[1:$fpBand]
      |      ELSE sig[${fpBand + 1}:${2 * fpBand}] END, ',') AS band
      |  FROM sig, generate_series(0, 1) AS g(bi)),
      |cold AS (
      |  SELECT kind, band_idx, band FROM bands WHERE media_id % 7 <> 3
      |  GROUP BY kind, band_idx, band
      |  HAVING count(*) <= $fpBandCap),
      |cand AS (
      |  SELECT DISTINCT n.media_id AS n_id, c.media_id AS c_id
      |  FROM bands c
      |  JOIN cold k ON k.kind = c.kind AND k.band_idx = c.band_idx
      |    AND k.band = c.band
      |  JOIN bands n ON n.kind = c.kind AND n.band_idx = c.band_idx
      |    AND n.band = c.band
      |  WHERE c.media_id % 7 <> 3 AND n.media_id % 7 = 3),
      |scored AS (
      |  SELECT cand.n_id, cand.c_id,
      |    CAST(len(list_filter(range(1, ${fpFrames + 1}),
      |      i -> sn.sig[i] = sc.sig[i])) AS BIGINT) AS n_match
      |  FROM cand
      |  JOIN sig sn ON sn.media_id = cand.n_id
      |  JOIN sig sc ON sc.media_id = cand.c_id
      |  WHERE len(list_filter(range(1, ${fpFrames + 1}),
      |    i -> sn.sig[i] = sc.sig[i])) >= $fpMatchMin),
      |best AS (
      |  SELECT n_id, c_id, n_match FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY n_id
      |    ORDER BY n_match DESC, c_id) = 1)
      |SELECT d.doc_id AS new_media_id,
      |  ['image','audio','video'][(d.doc_id % 3 + 1)::INT] AS kind,
      |  best.c_id AS dup_of, best.n_match AS best_match,
      |  CAST(CASE WHEN best.c_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_dup
      |FROM documents d LEFT JOIN best ON best.n_id = d.doc_id
      |WHERE d.doc_id % 7 = 3 ORDER BY new_media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m70_media_meta"     -> mediaMeta _,
    "m71_media_frames"   -> mediaFrames _,
    "m72_media_features" -> mediaFeatures _,
    "m73_media_resize"   -> mediaResize _,
    "m74_media_energy"   -> mediaEnergy _,
    "m75_media_scenes"   -> mediaScenes _,
    "m76_media_dedup"    -> mediaDedup _,
    "m77_shard_manifest" -> shardManifest _,
    "m78_media_neardup"  -> mediaNearDup _,
    "m79_media_incr_neardup" -> mediaIncrNearDup _,
  )

  val oracleSql: Map[String, String] = Map(
    "m70_media_meta"     -> mediaMetaSql,
    "m71_media_frames"   -> mediaFramesSql,
    "m72_media_features" -> mediaFeaturesSql,
    "m73_media_resize"   -> mediaResizeSql,
    "m74_media_energy"   -> mediaEnergySql,
    "m75_media_scenes"   -> mediaScenesSql,
    "m76_media_dedup"    -> mediaDedupSql,
    "m77_shard_manifest" -> shardManifestSql,
    "m78_media_neardup"  -> mediaNearDupSql,
    "m79_media_incr_neardup" -> mediaIncrNearDupSql,
  )
}
