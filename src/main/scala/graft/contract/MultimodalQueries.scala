package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.multimodal.Multimodal
import graft.sources.Tables
import Query.Batch

/** Image, audio and media-metadata operators (`graft.multimodal`). */
private[contract] object MultimodalQueries {

  val all: Seq[Query] = Seq(
    Query("q_multimodal_meta", Batch, (s, d) =>
      Multimodal.extractMetadata(s, Multimodal.asBinaryPayloads(Tables.documents(s, d)))
        .toDF().orderBy(col("doc_id")),
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
                sha256(text) AS payload_sha,
                CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INT) AS width,
                CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 512 AS INT) AS height
         FROM documents ORDER BY doc_id"""),

    // Frame sampling (1→N multimodal fan-out). Frame BYTES flow through the
    // operator; the oracle checks the deterministic geometry (index,
    // length) since DuckDB can't hash Spark binary output portably.
    Query("q_multimodal_frames", Batch, (s, d) =>
      Multimodal.sampleFrames(s, Multimodal.asBinaryPayloads(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), length(col("frame")).as("frame_len"))
        .orderBy(col("doc_id"), col("frame_idx")),
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
              f AS (SELECT doc_id, n,
                           unnest(range(least(8, CAST(ceil(n / 256.0) AS BIGINT)))) AS frame_idx
                    FROM d)
         SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
                CAST(least(n, (frame_idx + 1) * 256) - frame_idx * 256 AS INT) AS frame_len
         FROM f ORDER BY doc_id, frame_idx"""),

    // Audio feature extraction: synthetic 16-bit PCM clips (closed-form
    // integer triangle wave — SQL-replayable, no RNG/trig) flow as REAL
    // little-endian bytes through encode → shuffle → per-partition decode,
    // framing, and silence/energy/zero-crossing extraction. Every output
    // is an exact integer, so the whole feature table hash-matches the
    // oracle's closed-form replay — no tolerances, no parity booleans.
    Query("q_audio_features", Batch, (s, d) => {
      val clips = Multimodal.asPcmClips(s, Tables.documents(s, d))
      Multimodal.audioFeatures(s, clips).toDF()
        .select(col("doc_id"), col("n_samples"), col("n_frames"),
          col("n_silent_frames"), col("energy"), col("zero_crossings"))
        .orderBy(col("doc_id"))
    },
      // Closed-form replay of the PCM synthesis (integer triangle wave) and
      // the frame-windowed features — exact integers end to end.
      """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS p, 2 + doc_id % 8 AS a,
                           256 * (4 + doc_id % 5) AS n
                    FROM documents),
              s AS (SELECT doc_id, p, a, n,
                           unnest(generate_series(0, CAST(n - 1 AS INT))) AS i
                    FROM d),
              smp AS (SELECT doc_id, i, i // 256 AS f,
                             (CASE WHEN (i // 256) % 5 = 4 THEN 0 ELSE a END)
                             * (abs((i % (2*p)) - p) * 2 - p) AS v
                      FROM s),
              zcs AS (SELECT doc_id, f, v,
                             lead(v) OVER (PARTITION BY doc_id, f ORDER BY i) AS nv
                      FROM smp),
              perf AS (SELECT doc_id, f, max(abs(v)) AS mx,
                              sum(CASE WHEN v * nv < 0 THEN 1 ELSE 0 END) AS zc
                       FROM zcs GROUP BY 1, 2),
              en AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS energy FROM smp GROUP BY 1),
              fr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
                            CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent_frames,
                            CAST(sum(zc) AS BIGINT) AS zero_crossings
                     FROM perf GROUP BY 1)
         SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples, fr.n_frames,
                fr.n_silent_frames, en.energy, fr.zero_crossings
         FROM d JOIN fr USING (doc_id) JOIN en USING (doc_id)
         ORDER BY doc_id"""),

    // ViT-style 2-D patch grid over decoded image geometry — the vision
    // counterpart of frame sampling; the oracle replays the stub
    // decoder's deterministic geometry and the full grid arithmetic.
    Query("q_multimodal_patches", Batch, (s, d) =>
      Multimodal.patchGrid(s,
        Multimodal.extractMetadata(s, Multimodal.asBinaryPayloads(Tables.documents(s, d))))
        .toDF().orderBy(col("doc_id"), col("py"), col("px")),
      // Stub-decoder geometry replayed exactly: w = 64 + n mod 512,
      // h = 64 + (n div 7) mod 512 over the UTF-8 byte length.
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
              g AS (SELECT doc_id, CAST(64 + n % 512 AS INT) AS w,
                           CAST(64 + (n // 7) % 512 AS INT) AS h FROM m),
              gx AS (SELECT doc_id, w, h, unnest(range(0, w, 160)) AS x0 FROM g),
              p AS (SELECT doc_id, w, h, x0, unnest(range(0, h, 160)) AS y0 FROM gx)
         SELECT doc_id,
                CAST(x0 / 160 AS INT) AS px, CAST(y0 / 160 AS INT) AS py,
                CAST(x0 AS INT) AS x0, CAST(y0 AS INT) AS y0,
                CAST(LEAST(224, w - x0) AS INT) AS pw,
                CAST(LEAST(224, h - y0) AS INT) AS ph
         FROM p ORDER BY doc_id, py, px"""),

    // Perceptual-hash near-dup over media payloads: real DCT pHash math
    // (block-mean grid → 2-D DCT-II → median-threshold 64-bit print) over
    // the honest stub decode, paired with the SAME Hamming-banded join
    // SimHash uses. SELF-ASSERTING via planted payloads (the corpus has no
    // exact media dups at sf0.01): an identical pair MUST surface at
    // Hamming 0 (banding guarantees identical prints collide), a 4-byte
    // perturbation stays within the near threshold, an unrelated pattern
    // must NOT pair with the base — all deterministic. The oracle pins the
    // corpus+planted row count and the booleans.
    Query("q_multimodal_phash", Batch, (s, d) => {
      import s.implicits._
      val planted = {
        // dense-spectrum pseudo-random "pixels" (a periodic pattern would
        // leave most DCT coefficients at the median, where signs are
        // noise); measured prints: near at Hamming 6 sharing 1 band, far
        // at Hamming 32 — all deterministic
        val base = Array.tabulate(2048) { i =>
          val h = i * PortableHash.A + 123456789L; ((h >> 16) & 0xFF).toByte
        }
        val near = base.clone(); (100 until 108).foreach(i => near(i) = (near(i) + 24).toByte)
        val far = Array.tabulate(2048)(i => ((i * i * 17 + 3) % 251).toByte)
        Seq((9000001L, base), (9000002L, base.clone()), (9000003L, near), (9000004L, far))
          .toDF("doc_id", "payload")
      }
      val payloads = Multimodal.asBinaryPayloads(Tables.documents(s, d))
        .unionByName(planted)
      val ph = Multimodal.perceptualHash(s, payloads).toDF()
      val pairs = graft.operators.Dedup
        .hamming64BandedPairs(ph, "doc_id", "phash", maxHamming = 10)
      val stats = pairs.agg(
        (coalesce(sum(when(col("doc_a") === 9000001L && col("doc_b") === 9000002L
          && col("hamming") === 0L, 1L)), lit(0L)) === 1L).as("dup_ok"),
        (coalesce(sum(when(col("doc_a") === 9000001L && col("doc_b") === 9000003L, 1L)),
          lit(0L)) === 1L).as("near_ok"),
        (coalesce(sum(when(col("doc_a") === 9000001L && col("doc_b") === 9000004L, 1L)),
          lit(0L)) === 0L).as("far_ok"),
        (coalesce(max(col("hamming")), lit(0L)) <= 10L).as("bounds_ok"))
      ph.agg(count(lit(1)).as("n_media")).crossJoin(broadcast(stats))
    },
      // pHash: planted-payload assertions are verified in-plan; the oracle
      // pins the media count (corpus + 4 planted) and the boolean outcomes.
      """SELECT CAST(count(*) + 4 AS BIGINT) AS n_media,
                true AS dup_ok, true AS near_ok, true AS far_ok, true AS bounds_ok
         FROM documents"""),

    // REAL image decode end-to-end (no stub on this path): every 20th doc
    // gets a deterministic synthetic PNG — true codec bytes from the JRE's
    // PNG writer — decoded back by javax.imageio (Multimodal.decodeImage).
    // SELF-ASSERTING: geometry must round-trip EXACTLY (the sizes, 24-39 ×
    // 16-27, are disjoint from the non-image fallback's 64+ range, so a
    // silent fallback fails the check); an 8-pixel real edit must stay
    // within Hamming 16 of the original's DCT pHash (bound calibrated
    // green at both verify SFs); and the print population must be diverse
    // (>half distinct). Oracle pins the sampled count and the booleans.
    Query("q_image_decode", Batch, (s, d) => {
      import s.implicits._
      val imgs = Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 24 + (id % 16).toInt
            val h = 16 + (id % 12).toInt
            (id, w, h,
              Multimodal.syntheticPng(id, w, h),
              Multimodal.syntheticPng(id, w, h, perturb = true))
          }
        }.toDF("doc_id", "exp_w", "exp_h", "payload", "edited")
        .localCheckpoint(false)
      val meta = Multimodal.extractMetadata(s, imgs.select(col("doc_id"), col("payload"))).toDF()
      val geom = meta.join(imgs.select(col("doc_id"), col("exp_w"), col("exp_h")), Seq("doc_id"))
        .agg(
          count(lit(1)).as("n_imgs"),
          (coalesce(sum(when(col("width") =!= col("exp_w")
            || col("height") =!= col("exp_h"), 1L)), lit(0L)) === 0L).as("geom_ok"))
      val ph = Multimodal.perceptualHash(s, imgs.select(col("doc_id"), col("payload"))).toDF()
      val phEdited = Multimodal
        .perceptualHash(s, imgs.select(col("doc_id"), col("edited").as("payload"))).toDF()
        .select(col("doc_id"), col("phash").as("phash_e"))
      val near = ph.join(phEdited, Seq("doc_id"))
        .agg(
          (coalesce(max(bit_count(col("phash").bitwiseXOR(col("phash_e")))), lit(0))
            <= 16).as("edit_near_ok"),
          (countDistinct(col("phash")) * 2 > count(lit(1))).as("diverse_ok"))
      geom.crossJoin(broadcast(near))
    },
      // Real-PNG decode round-trip: geometry/pHash assertions are verified
      // in-plan; the oracle pins the sampled-image count and the booleans.
      """SELECT CAST(count(*) AS BIGINT) AS n_imgs, true AS geom_ok,
                true AS edit_near_ok, true AS diverse_ok
         FROM documents WHERE doc_id % 20 = 0"""),
  )
}
