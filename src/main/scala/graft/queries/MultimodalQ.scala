package graft.queries

import graft.{Declared, Tables}
import graft.functions.Hashing
import graft.operators.Multimodal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal queries over the media catalog: a binary payload with typed
  * metadata, frame sampling, decode/resize stubs, perceptual-hash dedup,
  * caption pairing and shard manifests ([[graft.operators.Multimodal]]).
  */
object MultimodalQ {
  import Tables.t

  /** Media catalog: binary payload + typed metadata struct, metadata derived
    * via the portable hash so DuckDB reproduces it exactly.
    */
  val mmCatalog = Declared(
    "mm_catalog",
    (s, dir) =>
      Multimodal.catalog(t(s, dir, "documents"))
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      (['png', 'jpeg', 'webp'])[CAST(h % 3 + 1 AS INTEGER)] AS format,
      CAST(32 + h % 448 AS INTEGER) AS width,
      CAST(32 + (h // 448) % 448 AS INTEGER) AS height,
      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      FROM (SELECT doc_id, text, ${Hashing.md5Hash60Sql("text")} AS h FROM documents)
      ORDER BY doc_id"""))

  /** Frame sampling over the binary payload (video-style). The oracle slices
    * the source text — same bytes (ASCII fixture), real binary plumbing on
    * the Spark side.
    */
  val mmFrames = Declared(
    "mm_frame_sample",
    (s, dir) =>
      Multimodal.frameSample(
        Multimodal.catalog(t(s, dir, "documents").filter(col("doc_id") < 50)), 64)
        .select(col("doc_id"), col("frame_id"), col("frame_bytes"), col("frame_md5"))
        .orderBy(col("doc_id"), col("frame_id")),
    Some("""SELECT doc_id, CAST(i AS INTEGER) AS frame_id,
      CAST(len(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS INTEGER) AS frame_bytes,
      md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
      FROM documents CROSS JOIN generate_series(0, 16) AS t(i)
      WHERE doc_id < 50 AND i <= CAST(ceil(len(text) / 64.0) AS INTEGER) - 1
      ORDER BY doc_id, frame_id"""))

  /** True-binary parquet round trip: the catalog's `blob` column (md5-chain
    * bytes — NON-ASCII, full 0–255 range, unlike the ASCII text payload) is
    * written to parquet, read back, and checksummed. The oracle recomputes
    * the same bytes from the documents table directly, so a single byte
    * mangled anywhere in Spark's binary write/read path breaks the hash
    * match. (DuckDB's md5 is VARCHAR-only → both engines checksum the HEX
    * rendering; hex() is uppercase in both.)
    */
  val mmBlob = Declared(
    "mm_blob_roundtrip",
    (s, dir) => {
      val tmp = graft.Tables.scratch("mm_blob")
      Multimodal.catalog(t(s, dir, "documents"))
        .select(col("doc_id"), col("blob"))
        .write.mode("overwrite").parquet(s"$tmp/blob.parquet")
      s.read.parquet(s"$tmp/blob.parquet")
        .select(
          col("doc_id"),
          octet_length(col("blob")).cast("long").as("blob_bytes"),
          hex(col("blob")).as("blob_hex"),
          md5(hex(col("blob"))).as("blob_hex_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH b AS (
        SELECT doc_id,
          unhex(md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')) AS blob
        FROM documents)
      SELECT doc_id,
        CAST(octet_length(blob) AS BIGINT) AS blob_bytes,
        hex(blob) AS blob_hex,
        md5(hex(blob)) AS blob_hex_md5
      FROM b ORDER BY doc_id"""))

  /** Decode-stub features through mapPartitions (rows-only: the decode body
    * is the stub; MultimodalSpec pins its values).
    */
  val mmDecode = Declared(
    "mm_decode_features",
    (s, dir) =>
      Multimodal.decodeFeatures(s, Multimodal.catalog(t(s, dir, "documents")))
        .toDF()
        .select(
          col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"), round(col("mean_byte"), 6).as("mean_byte"),
          col("max_byte"), round(col("entropy_proxy"), 6).as("entropy_proxy"))
        .orderBy(col("doc_id")),
    // the STUB features are deterministic byte statistics over the (ASCII)
    // payload, so even the decode stage is oracle-checkable — the oracle
    // recomputes them from the text's bytes; a real codec would revert this
    // query to rows-only + spec-pinned
    Some("""WITH h AS (
        SELECT doc_id, text,
          CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv,
          list_transform(range(strlen(text)),
            i -> ascii(substr(text, CAST(i + 1 AS INTEGER), 1))) AS bs
        FROM documents)
      SELECT doc_id,
        (['png', 'jpeg', 'webp'])[CAST(hv % 3 + 1 AS INTEGER)] AS format,
        CAST(32 + hv % 448 AS INTEGER) AS width,
        CAST(32 + (hv // 448) % 448 AS INTEGER) AS height,
        CAST(strlen(text) AS BIGINT) AS n_bytes,
        round(CAST(list_sum(bs) AS DOUBLE) / len(bs), 6) AS mean_byte,
        CAST(list_max(bs) AS INTEGER) AS max_byte,
        round(CAST(len(list_distinct(bs)) AS DOUBLE) / 256.0, 6) AS entropy_proxy
      FROM h ORDER BY doc_id"""))

  /** Resize-stub through the same batch-map shape as the decode stub:
    * stride-2 byte downsample stands in for a real resampler, metadata
    * halves, and the output payload is checksum-pinned — the oracle
    * reproduces the downsampled bytes from the (ASCII) source text, so the
    * whole binary-in → binary-out path is hash-checked.
    */
  val mmResize = Declared(
    "mm_resize_stub",
    (s, dir) =>
      Multimodal.resizeStub(s, Multimodal.catalog(t(s, dir, "documents")), factor = 2)
        .toDF()
        .orderBy(col("doc_id")),
    Some("""WITH h AS (
        SELECT doc_id, text,
          CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv
        FROM documents),
      r AS (
        SELECT doc_id,
          CAST((32 + hv % 448) // 2 AS INTEGER) AS new_width,
          CAST((32 + (hv // 448) % 448) // 2 AS INTEGER) AS new_height,
          array_to_string(list_transform(range(1, len(text) + 1, 2),
            i -> substr(text, CAST(i AS INTEGER), 1)), '') AS ds
        FROM h)
      SELECT doc_id, new_width, new_height,
        CAST(len(ds) AS BIGINT) AS n_bytes_out, md5(ds) AS out_md5
      FROM r ORDER BY doc_id"""))

  /** Perceptual-hash-style media fingerprinting (dHash shape): a 63-bit
    * fingerprint from adjacent-byte brightness comparisons over the payload,
    * grouped into duplicate-media clusters — the image-dedup stage that
    * completes the catalog → decode → resize → frame pipeline. Bytes compare
    * through their TWO-CHAR HEX pairs (uppercase hex is ordered exactly like
    * unsigned bytes), so the whole fingerprint is portable string arithmetic
    * inside whole-stage codegen — no UDF, no per-row JVM call — and one hash
    * aggregate groups the corpus. With the deterministic md5-chain payload
    * stub, adjacent-byte bits are avalanche-random, so only bit-identical
    * payloads cluster (n_copies readout; every group emitted so the oracle
    * pins all 500 fingerprints); a real image decoder would make the same
    * 63 comparisons reflect brightness gradients and cluster VISUAL
    * near-dups — the plumbing is what this query proves.
    */
  /** dHash-shaped 63-bit fingerprint over the hex rendering in column `h` —
    * shared by [[mmPhash]] and [[mmCaptionPairs]]. */
  private def phashBits: org.apache.spark.sql.Column =
    (0 until 63).map { i =>
      (substring(col("h"), 2 * i + 1, 2) < substring(col("h"), 2 * i + 3, 2))
        .cast("long") * lit(1L << i)
    }.reduce(_ + _)

  /** DuckDB mirror of [[phashBits]]. */
  private def phashBitsSql: String =
    (0 until 63)
      .map(i => s"(substr(h, ${2 * i + 1}, 2) < substr(h, ${2 * i + 3}, 2))::BIGINT * ${1L << i}")
      .mkString(" + ")

  val mmPhash = Declared(
    "mm_phash_dedup",
    (s, dir) => {
      val bits = phashBits
      Multimodal.catalog(t(s, dir, "documents"))
        .select(col("doc_id"), upper(hex(col("blob"))).as("h"))
        .select(col("doc_id"), bits.as("phash"))
        .groupBy(col("phash"))
        .agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keeper"))
        .orderBy(col("phash"))
    },
    Some {
      s"""WITH cat AS (
        SELECT doc_id,
          upper(md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')) AS h
        FROM documents),
      ph AS (SELECT doc_id, $phashBitsSql AS phash FROM cat)
      SELECT phash, CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS keeper
      FROM ph GROUP BY phash ORDER BY phash"""
    })

  /** Image–caption training-pair curation (the CLIP/LAION data shape): the
    * media catalog joins its caption table 1:1 on the id key, then each pair
    * runs the full curation gauntlet with ATTRIBUTED outcomes — caption gate
    * (word count in [5, 200], mean word length ≤ 12 — the boilerplate/
    * garbage caption screen), image gate (min dimension ≥ 64 from the typed
    * metadata, no decode needed), and perceptual dedup (keep-one per
    * [[phashBits]] fingerprint, elected among gated survivors only, so a
    * junk copy never outranks a clean one). Output is the per-language
    * funnel ledger (status × count + share) a curation run reports before
    * anyone trains. One co-keyed join + one phash aggregate join — the
    * corpus is scanned once per side; at 100 TB the keeper election is the
    * same hash-aggregate discipline as dedup_url (never a window over the
    * catalog).
    */
  val mmCaptionPairs = Declared(
    "mm_caption_pairs",
    (s, dir) => {
      // both "sides" of the catalog ⋈ caption join are per-row derivations
      // of the SAME documents row (the fixture synthesizes the media
      // catalog from the text), so the r11 shape paid a second corpus scan
      // plus a doc_id SMJ (two exchanges) to re-unite them — and ran the
      // 4×md5 + 63-comparison phash pipeline on the UNSPREAD scan (one
      // partition at fixture scale). One spread projection computes both
      // gates and the fingerprint in a single pass; h ≡ the catalog's
      // upper(hex(unhex(...))) since Spark's md5 renders lowercase hex and
      // hex() uppercase. Checkpointed: the keeper election and the funnel
      // tagging both consume it.
      val mh = graft.functions.Hashing.md5Hash60(col("text"))
      val pairs = Tables.spread(t(s, dir, "documents"), "doc_id")
        .withColumn("__h", mh)
        .withColumn("h", upper(concat(
          md5(col("text")), md5(concat(col("text"), lit("a"))),
          md5(concat(col("text"), lit("b"))), md5(concat(col("text"), lit("c"))))))
        .withColumn("nw",
          size(graft.functions.TextFns.words(col("text"))).cast("long"))
        .withColumn("nc",
          length(regexp_replace(col("text"), "\\s", "")).cast("long"))
        .select(col("doc_id"), col("lang"), phashBits.as("phash"),
          (least((lit(32) + col("__h") % 448).cast("int"),
            (lit(32) + expr("(__h div 448) % 448")).cast("int")) >= 64)
            .as("image_ok"),
          (col("nw").between(5L, 200L) &&
            col("nc") <= col("nw") * 12L).as("caption_ok"))
        .localCheckpoint()
      val keepers = pairs.filter(col("caption_ok") && col("image_ok"))
        .groupBy(col("phash")).agg(min(col("doc_id")).as("keeper"))
      pairs.join(broadcast(keepers), Seq("phash"), "left")
        .select(col("lang"),
          when(!col("caption_ok"), "caption_fail")
            .when(!col("image_ok"), "image_fail")
            .when(col("doc_id") =!= col("keeper"), "dup_dropped")
            .otherwise("kept").as("status"))
        .groupBy(col("lang"), col("status")).agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))), 6))
        .orderBy(col("lang"), col("status"))
    },
    Some {
      s"""WITH cat AS (
        SELECT doc_id,
          upper(md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')) AS h,
          ${graft.functions.Hashing.md5Hash60Sql("text")} AS mh
        FROM documents),
      img AS (
        SELECT doc_id, $phashBitsSql AS phash,
          least(CAST(32 + mh % 448 AS INTEGER),
                CAST(32 + (mh // 448) % 448 AS INTEGER)) >= 64 AS image_ok
        FROM cat),
      cap AS (
        SELECT doc_id, lang,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nw,
          CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nc
        FROM documents),
      capg AS (
        SELECT doc_id, lang,
          (nw BETWEEN 5 AND 200 AND nc <= nw * 12) AS caption_ok
        FROM cap),
      pairs AS (
        SELECT i.doc_id, i.phash, i.image_ok, c.lang, c.caption_ok
        FROM img i JOIN capg c USING (doc_id)),
      keepers AS (
        SELECT phash, min(doc_id) AS keeper FROM pairs
        WHERE caption_ok AND image_ok GROUP BY phash),
      tagged AS (
        SELECT p.lang,
          CASE WHEN NOT p.caption_ok THEN 'caption_fail'
               WHEN NOT p.image_ok THEN 'image_fail'
               WHEN p.doc_id <> k.keeper THEN 'dup_dropped'
               ELSE 'kept' END AS status
        FROM pairs p LEFT JOIN keepers k USING (phash)),
      m AS (
        SELECT lang, status, CAST(count(*) AS BIGINT) AS n
        FROM tagged GROUP BY lang, status)
      SELECT lang, status, n,
        round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6) AS share
      FROM m ORDER BY lang, status"""
    })

  /** WebDataset-style shard manifest — the dataloader handoff: pack each
    * source's samples (payload size = n_chars; the blob column slots in
    * unchanged) into ~2 KiB shards in ingestion order and emit the per-shard
    * manifest (item count, byte total, id range) a training job mounts. The
    * running byte offset is a TWO-LEVEL prefix sum, never one global
    * running window: an intra-bucket window partitioned by (source,
    * 256-id bucket) — thousands of independent partitions — plus a bucket
    * offset from a window over the tiny per-bucket totals table. That is the
    * scalable prefix-sum shape: at 100 TB the only ordered window over
    * unbounded data is partitioned down to bucket granularity, and the
    * bucket-offset table is O(corpus/256) rows of three integers.
    */
  val mmShardManifest = Declared(
    "mm_shard_manifest",
    (s, dir) => {
      val shardBytes = 2048L
      val sized = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").as("bytes"),
          (col("doc_id") / 256L).cast("long").as("bkt"))
      val intraW = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
      val intra = sized.withColumn("intra_before",
        coalesce(sum(col("bytes")).over(intraW), lit(0L)))
      val offW = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bucketOff = sized.groupBy(col("source"), col("bkt"))
        .agg(sum(col("bytes")).as("bb"))
        .withColumn("bkt_off", coalesce(sum(col("bb")).over(offW), lit(0L)))
        .select(col("source"), col("bkt"), col("bkt_off"))
      intra.join(bucketOff, Seq("source", "bkt"))
        .withColumn("shard_id",
          ((col("bkt_off") + col("intra_before")) / shardBytes).cast("long"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_items"), sum(col("bytes")).as("n_bytes"),
          min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
        .orderBy(col("source"), col("shard_id"))
    },
    Some("""WITH sized AS (
        SELECT source, doc_id, n_chars AS bytes, doc_id // 256 AS bkt
        FROM documents),
      intra AS (
        SELECT *, coalesce(sum(bytes) OVER (
          PARTITION BY source, bkt ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS intra_before
        FROM sized),
      boff AS (
        SELECT source, bkt, coalesce(sum(bb) OVER (
          PARTITION BY source ORDER BY bkt
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bkt_off
        FROM (SELECT source, bkt, sum(bytes) AS bb FROM sized GROUP BY 1, 2)),
      assigned AS (
        SELECT i.source, i.doc_id, i.bytes,
          (b.bkt_off + i.intra_before) // 2048 AS shard_id
        FROM intra i JOIN boff b ON i.source = b.source AND i.bkt = b.bkt)
      SELECT source, CAST(shard_id AS BIGINT) AS shard_id,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(bytes) AS BIGINT) AS n_bytes,
        min(doc_id) AS first_id, max(doc_id) AS last_id
      FROM assigned GROUP BY 1, 2 ORDER BY source, shard_id"""))

  val all: Seq[Declared] = Seq(
    mmCatalog, mmFrames, mmBlob, mmDecode, mmResize, mmPhash, mmCaptionPairs,
    mmShardManifest)
}
