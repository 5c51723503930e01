package graft.queries

import graft.{Declared, Tables}
import graft.functions.{Hashing, RollingHash}
import graft.operators.Multimodal
import graft.streaming.StreamingOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal, streaming, and custom-Expression queries. */
object ExtrasQ {
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

  /** Custom codegen'd Expression: portable polynomial rolling hash, verified
    * byte-for-byte against a DuckDB list_reduce over the same ASCII bytes.
    */
  val rollingHashQ = Declared(
    "text_rolling_hash",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          RollingHash.rolling_hash(col("text")).as("rhash"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, len(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007) AS rhash
      FROM documents ORDER BY doc_id"""))

  /** Structured Streaming: tumbling 1-hour windows per event type, computed
    * by a real streaming query (memory sink, complete mode) and checked
    * against the batch oracle.
    */
  val streamWindow = Declared(
    "stream_window_agg",
    (s, dir) => StreamingOps.windowedTypeCounts(s, dir),
    Some("""SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS h,
      event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY h, event_type ORDER BY h, event_type"""))

  /** Sliding 1-hour windows advancing every 15 minutes — every event belongs
    * to exactly 4 windows. The oracle reproduces Spark's window assignment
    * arithmetic: starts are the event's 15-minute bucket minus k×15 min for
    * k = 0..3 (window length ÷ slide = 4 overlapping windows, all of which
    * contain the event).
    */
  val streamWindowSliding = Declared(
    "stream_window_sliding",
    (s, dir) => StreamingOps.slidingTypeCounts(s, dir),
    Some("""WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
      x AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, t)
            - k.k * (INTERVAL 15 MINUTE) AS ws, event_type, value
        FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
      SELECT ws, event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM x GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** Append-mode windowed counts with a 10-minute watermark — the unbounded
    * deployment mode: each window emitted once when the watermark passes its
    * end. The oracle applies the same cutoff (windows ending ≤ max(ts) − 10
    * min), so exactly-once emission semantics are hash-checked.
    */
  val streamWindowAppend = Declared(
    "stream_window_append",
    (s, dir) => StreamingOps.windowedTypeCountsAppend(s, dir),
    Some("""WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
      wm AS (SELECT max(t) - INTERVAL 10 MINUTE AS w FROM e)
      SELECT time_bucket(INTERVAL 1 HOUR, t) AS h, event_type,
        CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
      FROM e CROSS JOIN wm
      GROUP BY h, event_type, wm.w
      HAVING h + INTERVAL 1 HOUR <= wm.w
      ORDER BY h, event_type"""))

  /** Streaming exact dedup (state-bounded dropDuplicates) — the oracle is
    * the batch distinct count per type over the same content key.
    */
  val streamDedup = Declared(
    "stream_dedup",
    (s, dir) => StreamingOps.dedupStream(s, dir),
    Some("""SELECT event_type, count(*) AS n_unique FROM (
        SELECT DISTINCT event_type,
          md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || props) AS ck
        FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** Stream-static enrichment join — oracle is the equivalent batch join. */
  val streamStaticJoin = Declared(
    "stream_static_join",
    (s, dir) => StreamingOps.enrichedTypeCounts(s, dir),
    Some("""SELECT c_mktsegment, event_type,
        CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type
      ORDER BY c_mktsegment, event_type"""))

  /** Stream-stream interval join (attribution): every click-purchase pair
    * by the same user within 30 minutes, from two unbounded sides with
    * watermark-bounded join state ([[StreamingOps.clickPurchaseJoin]]).
    * Oracle is the equivalent batch interval join.
    */
  val streamStreamJoin = Declared(
    "stream_stream_join",
    (s, dir) => StreamingOps.clickPurchaseJoin(s, dir),
    Some("""SELECT c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts
      FROM events c JOIN events p ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY user_id, click_ts, purchase_ts"""))

  /** Stream-stream LEFT OUTER interval join — null rows for expired
    * unmatched clicks, emitted only when the watermark proves no future
    * match can arrive ([[StreamingOps.clickPurchaseJoinOuter]]). The oracle
    * is the batch left join with the SAME expiry cutoff: unmatched clicks
    * qualify only below min(max click ts, max purchase ts) − 10 min −
    * 30 min (per-side watermark tracks each side's own max; the global
    * watermark is their minimum).
    */
  val streamStreamOuter = Declared(
    "stream_stream_outer",
    (s, dir) => StreamingOps.clickPurchaseJoinOuter(s, dir),
    Some("""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                    - INTERVAL 10 MINUTE AS w),
      matched AS (
        SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
        FROM c JOIN p ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
      unmatched AS (
        SELECT c.user_id, c.ts AS click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
          AND c.ts + INTERVAL 30 MINUTE < wm.w)
      SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      ORDER BY user_id, click_ts, purchase_ts NULLS FIRST"""))

  /** Custom-state streaming: flatMapGroupsWithState sessionization driven as
    * a real streaming query; oracle is the batch gaps-and-islands SQL (same
    * 30-min gap as q_sessionize, without the per-user seq column).
    */
  val streamSessionize = Declared(
    "stream_sessionize",
    (s, dir) => StreamingOps.sessionStream(s, dir),
    Some("""WITH flagged AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800.0
               THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      numbered AS (
        SELECT user_id, ts, value,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged)
      SELECT user_id,
        CAST(min(ts) AS TIMESTAMP) AS session_start,
        CAST(max(ts) AS TIMESTAMP) AS session_end,
        count(*) AS n_events,
        round(sum(value), 2) AS session_value
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_start"""))

  /** Streaming incremental dedup — a document stream anti-joined in-flight
    * against the static fingerprint index (stateless stream-static anti
    * join; the index owns the memory, not the stream engine). Oracle is the
    * equivalent batch anti join. The fixture split has no cross-split dups,
    * so everything passes — StreamingIncrementalDedupSpec proves the
    * rejection path on a synthetic overlap.
    */
  val streamIncrementalDedup = Declared(
    "stream_incremental_dedup",
    (s, dir) => StreamingOps.incrementalDedupStream(s, dir),
    Some("""WITH fps AS (
        SELECT doc_id, lang,
          md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        FROM documents),
      idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_new, min(doc_id) AS first_doc
      FROM fps b
      WHERE doc_id % 10 >= 8
        AND NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = b.fp)
      GROUP BY lang ORDER BY lang"""))

  /** Streaming trending top-k: daily per-type counts maintained by the
    * stream (Complete mode), top-3 per day ranked at readout — the
    * dashboard-over-state split ([[StreamingOps.trendingTopK]]). Oracle is
    * the equivalent batch count + row_number.
    */
  val streamTopk = Declared(
    "stream_topk",
    (s, dir) => StreamingOps.trendingTopK(s, dir),
    Some("""WITH c AS (
        SELECT time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS d,
          event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT d, event_type, n,
          row_number() OVER (PARTITION BY d ORDER BY n DESC, event_type) AS rk
        FROM c)
      SELECT d, CAST(rk AS INTEGER) AS rk, event_type, n
      FROM r WHERE rk <= 3 ORDER BY d, rk"""))

  /** foreachBatch keyed upsert — each micro-batch MERGEs into a running
    * "latest event per user" table ([[StreamingOps.foreachBatchUpsert]]).
    * Oracle is the batch argmax per user over the same events.
    */
  /** Streaming data-quality gate ([[StreamingOps.qualityGate]]): per-batch
    * rule scoring merged into a running violation ledger; row-local rules
    * make sum-over-batches ≡ whole-table evaluation, which is what the
    * oracle recomputes.
    */
  val streamQualityGate = Declared(
    "stream_quality_gate",
    (s, dir) => StreamingOps.qualityGate(s, dir),
    Some("""WITH scan AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type NOT IN
            ('click','error','purchase','signup','view') THEN 1 ELSE 0 END)
            AS BIGINT) AS v_type,
          CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
          CAST(sum(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_uid,
          CAST(sum(CASE WHEN value < 0 OR value > 100 THEN 1 ELSE 0 END)
            AS BIGINT) AS v_range
        FROM events),
      ledger AS (
        SELECT 'event_type_known' AS check_name, n AS n_checked, v_type AS n_violations FROM scan
        UNION ALL SELECT 'ts_not_null', n, v_ts FROM scan
        UNION ALL SELECT 'user_id_positive', n, v_uid FROM scan
        UNION ALL SELECT 'value_in_0_100', n, v_range FROM scan)
      SELECT check_name, n_checked, n_violations,
        n_violations = 0 AS passed
      FROM ledger ORDER BY check_name"""))

  /** Streaming distinct-user HLL ([[StreamingOps.distinctUsersStream]]):
    * per-batch sketch partials unioned into O(types × 2^lgK) state; the
    * oracle recomputes the exact counts and pins the 5% estimate contract
    * (DuckDB has no Datasketches HLL — q_hll_sketch's convention).
    */
  val streamHllUsers = Declared(
    "stream_hll_users",
    (s, dir) => StreamingOps.distinctUsersStream(s, dir),
    Some("""SELECT event_type,
      CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      true AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val streamUpsert = Declared(
    "stream_upsert",
    (s, dir) => StreamingOps.foreachBatchUpsert(s, dir),
    Some("""WITH ranked AS (
        SELECT user_id, event_type, ts,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, event_type AS last_type, CAST(ts AS TIMESTAMP) AS last_ts,
        CAST(n_events AS BIGINT) AS n_events
      FROM ranked WHERE rn = 1 ORDER BY user_id"""))

  val streamCdcApply = Declared(
    "stream_cdc_apply",
    (s, dir) => StreamingOps.foreachBatchCdc(s, dir),
    Some("""WITH ranked AS (
        SELECT user_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          CAST(round(value * 100) AS BIGINT) AS cents,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT
        CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_live_users,
        round(CAST(sum(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT)
          / 100.0, 2) AS total_value,
        CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tombstoned
      FROM ranked WHERE rn = 1"""))

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
  private[graft] def phashBits: org.apache.spark.sql.Column =
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

  /** Per-document (doc_id, lang, phash, image_ok, caption_ok) gates of
    * [[mmCaptionPairs]]. Both "sides" of the catalog ⋈ caption join are
    * per-row derivations of the SAME documents row (the fixture
    * synthesizes the media catalog from the text), so the r11 shape paid a
    * second corpus scan plus a doc_id SMJ (two exchanges) to re-unite them
    * — and ran the 4×md5 + 63-comparison phash pipeline on the UNSPREAD
    * scan (one partition at fixture scale). One spread projection computes
    * both gates and the fingerprint in a single pass; h ≡ the catalog's
    * upper(hex(unhex(...))) since Spark's md5 renders lowercase hex and
    * hex() uppercase. MultimodalSpec pins (phash, image_ok) to the gates
    * derived from [[Multimodal.catalog]], row for row.
    */
  private[graft] def captionGates(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val mh = graft.functions.Hashing.md5Hash60(col("text"))
    Tables.spread(t(s, dir, "documents"), "doc_id")
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
  }

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
      // checkpointed: the keeper election and the funnel tagging both
      // consume the gates
      val pairs = captionGates(s, dir).localCheckpoint()
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

  /** Streaming NEAR-dup gate ([[StreamingOps.simhashDedupStream]]): incoming
    * docs fingerprint in-flight and any simhash band collision with the
    * batch-owned index marks them suspect — stream_incremental_dedup's exact
    * gate generalized to the near-dup radius. Oracle recomputes the identical
    * fingerprints, index, and per-language ledger in one batch pass.
    */
  val streamSimhashDedup = Declared(
    "stream_simhash_dedup",
    (s, dir) => StreamingOps.simhashDedupStream(s, dir),
    Some {
      val sh = graft.operators.SimHash.oracleSql().replace("ORDER BY doc_id", "")
      s"""WITH sh AS ($sh),
      idx AS (SELECT DISTINCT bucket FROM (
          SELECT 'L' || CAST(simhash & 65535 AS VARCHAR) AS bucket
          FROM sh WHERE doc_id % 10 < 8
          UNION ALL
          SELECT 'H' || CAST((simhash >> 16) & 65535 AS VARCHAR)
          FROM sh WHERE doc_id % 10 < 8)),
      flag AS (
        SELECT s.doc_id, d.lang,
          (('L' || CAST(s.simhash & 65535 AS VARCHAR)) IN (SELECT bucket FROM idx)
           OR ('H' || CAST((s.simhash >> 16) & 65535 AS VARCHAR)) IN (SELECT bucket FROM idx))
            AS suspect
        FROM sh s JOIN documents d USING (doc_id)
        WHERE s.doc_id % 10 >= 8)
      SELECT lang,
        CAST(sum(CASE WHEN suspect THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
        CAST(sum(CASE WHEN suspect THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
        min(CASE WHEN NOT suspect THEN doc_id END) AS first_novel
      FROM flag GROUP BY lang ORDER BY lang"""
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

  /** Streaming drift monitor ([[StreamingOps.driftPsiStream]]): the current
    * window arrives as a stream and bins against broadcast reference edges;
    * PSI read out over the bounded state grid. Counts are
    * batching-invariant, so the oracle is IDENTICAL to dq_drift_psi's —
    * one adjudication for both the batch and streaming shapes.
    */
  val streamDriftPsi = Declared(
    "stream_drift_psi",
    (s, dir) => StreamingOps.driftPsiStream(s, dir),
    Some("""WITH e AS (
        SELECT event_type, value, CAST(ts AS DATE) AS d FROM events),
      cut AS (SELECT min(d) + INTERVAL 15 DAY AS cut FROM e),
      tagged AS (
        SELECT event_type, value,
          CASE WHEN d < cut THEN 'ref' ELSE 'cur' END AS side
        FROM e CROSS JOIN cut),
      edges AS (
        SELECT event_type, min(value) AS vmin, max(value) AS vmax
        FROM tagged WHERE side = 'ref' GROUP BY event_type),
      binned AS (
        SELECT t.event_type, t.side,
          CASE WHEN e.vmax > e.vmin
            THEN least(9, greatest(0, CAST(floor(
              (t.value - e.vmin) * 10.0 / (e.vmax - e.vmin)) AS INTEGER)))
            ELSE 0 END AS bin,
          count(*) AS c
        FROM tagged t JOIN edges e USING (event_type)
        GROUP BY 1, 2, 3),
      per_side AS (
        SELECT event_type, bin,
          sum(CASE WHEN side = 'ref' THEN c ELSE 0 END) AS cr,
          sum(CASE WHEN side = 'cur' THEN c ELSE 0 END) AS cc
        FROM binned GROUP BY 1, 2),
      tot AS (
        SELECT event_type, sum(cr) AS nr, sum(cc) AS nc
        FROM per_side GROUP BY 1),
      terms AS (
        SELECT p.event_type, t.nr, t.nc,
          CAST(round(((p.cr + 1.0) / (t.nr + 10.0) - (p.cc + 1.0) / (t.nc + 10.0))
            * ln(((p.cr + 1.0) / (t.nr + 10.0)) / ((p.cc + 1.0) / (t.nc + 10.0)))
            * 1e9) AS BIGINT) AS term_nano
        FROM per_side p JOIN tot t USING (event_type))
      SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
        CAST(max(nc) AS BIGINT) AS n_cur,
        round(sum(term_nano) / 1e9, 6) AS psi,
        round(sum(term_nano) / 1e9, 6) > 0.1 AS drifted
      FROM terms GROUP BY event_type ORDER BY event_type"""))

  /** Streaming CEP pattern detection ([[StreamingOps.patternDetect]]): first
    * strictly-ordered view → click → purchase per user through a custom
    * flatMapGroupsWithState machine (O(1) state per key, idempotent emission
    * via the done flag). Greedy first-match ≡ events_funnel's per-user
    * logic, so the batch SQL adjudicates the stream; the microsecond
    * conversion delay folds through exact integer division on both sides.
    */
  val streamPatternDetect = Declared(
    "stream_pattern_detect",
    (s, dir) => StreamingOps.patternDetectStream(s, dir),
    Some("""WITH v AS (
        SELECT user_id, min(ts) AS vt FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts) AS ct FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
      SELECT p.user_id, v.vt AS view_ts, c.ct AS click_ts, p.pt AS purchase_ts,
        CAST(date_diff('microsecond', v.vt, p.pt) // 1000000 AS BIGINT)
          AS secs_to_convert
      FROM p JOIN c USING (user_id) JOIN v USING (user_id)
      ORDER BY user_id"""))

  /** Continuous top-k ([[StreamingOps.topkPurchasersStream]]): the
    * "biggest spenders right now" dashboard as a streaming aggregate.
    * Totals fold to exact cents in-stream, so the batch SQL adjudicates
    * the streamed state exactly — batching-invariant by construction.
    */
  val streamTopkPurchasers = Declared(
    "stream_topk_purchasers",
    (s, dir) => StreamingOps.topkPurchasersStream(s, dir),
    Some("""SELECT CAST(rnk AS INTEGER) AS rnk, user_id, n_purchases,
        total_cents FROM (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            AS total_cents,
          row_number() OVER (
            ORDER BY sum(CAST(round(value * 100) AS BIGINT)) DESC, user_id)
            AS rnk
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      WHERE rnk <= 10 ORDER BY rnk"""))

  val all: Seq[Declared] = Seq(
    streamDriftPsi, streamPatternDetect, streamTopkPurchasers,
    mmShardManifest,
    mmPhash, mmCaptionPairs,
    mmCatalog, mmFrames, mmBlob, mmDecode, mmResize, rollingHashQ, streamWindow,
    streamWindowSliding, streamWindowAppend, streamDedup, streamStaticJoin,
    streamStreamJoin, streamStreamOuter, streamSessionize,
    streamIncrementalDedup, streamTopk, streamUpsert, streamCdcApply,
    streamQualityGate, streamHllUsers, streamSimhashDedup)
}
