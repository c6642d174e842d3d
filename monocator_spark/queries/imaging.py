"""Image near-duplicate detection over perceptual hashes (SURVEY.md §2 O11
payload axis + the training-data dedup brief).

The corpus invariant (`BASELINE.json` input_hint) carries ``phash:int64``
per image; near-duplicate images differ in a few bits of that hash. At
100 TB scale the all-pairs Hamming join is impossible, so the production
plan is *bit-sampling LSH on the hash itself*: split the hash into ``b``
contiguous bands — any pair within Hamming distance ``r`` (r < b) agrees
on ≥1 whole band by pigeonhole — join on (band_id, band_value), then
verify candidates with an exact popcount. The banded plan is therefore
*exactly* equivalent to the brute-force join at threshold r ≤ b-1, which
is what the DuckDB oracle pins: the oracle keeps the naive quadratic
self-join, the Spark side ships the banded one, and the driver
hash-compares the results.

Testdata has no image bytes, so the hash column is synthesized
deterministically on BOTH engines from ``documents.doc_id`` with planted
near-dup structure: ~5 docs per group share an md5-derived 60-bit base
hash; non-representative members flip 1-2 doc_id-dependent bits, so
intra-group Hamming ≤ 4 while inter-group distance concentrates at ~30.
Band parameters: 6 bands × 10 bits covers the 60-bit hash; threshold 4 ≤
b-1 = 5 keeps the pigeonhole guarantee. (On a real 64-bit phash corpus
you'd pick 4×16-bit bands for threshold ≤ 3 — wider bands mean smaller
LSH buckets, the right trade when the corpus is billions of images.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from monocator_spark.operators.band_index import (
    BIT_KEYS,
    band_groups,
    band_index,
    band_pairs,
    bit_bands,
    dedup_against_index,
)
from monocator_spark.queries.relational import T

_N_GROUPS = 100
_BANDS = 6
_BAND_BITS = 10
_THRESHOLD = 4
_PHASH_VERIFY = f"bit_count(a.phash ^ b.phash) <= {_THRESHOLD}"

# 60-bit base hash per group (15 md5 hex digits — always positive)
_BASE_SPARK = (
    "cast(conv(substr(md5(concat('img|', cast(doc_id % {g} as string))),1,15),16,10)"
    " as bigint)".format(g=_N_GROUPS)
)
_BASE_DUCK = (
    "CAST(('0x'||substr(md5('img|'||CAST(doc_id % {g} AS VARCHAR)),1,15)) AS BIGINT)"
    .format(g=_N_GROUPS)
)

# planted near-dup noise: group representative (doc_id % 5 = 0) keeps the
# base; others flip bit (doc_id % 60), and the doc_id % 5 >= 3 ones flip a
# second bit (doc_id*7 % 60) — intra-group Hamming ≤ 4 = _THRESHOLD
_PHASH_SPARK = (
    f"({_BASE_SPARK}"
    " ^ (case when doc_id % 5 = 0 then cast(0 as bigint)"
    "    else shiftleft(cast(1 as bigint), cast(doc_id % 60 as int)) end)"
    " ^ (case when doc_id % 5 >= 3"
    "    then shiftleft(cast(1 as bigint), cast((doc_id * 7) % 60 as int))"
    "    else cast(0 as bigint) end))"
)
_PHASH_DUCK = (
    f"xor(xor({_BASE_DUCK},"
    " CASE WHEN doc_id % 5 = 0 THEN CAST(0 AS BIGINT)"
    "      ELSE CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT) END),"
    " CASE WHEN doc_id % 5 >= 3"
    "      THEN CAST(1 AS BIGINT) << CAST((doc_id * 7) % 60 AS INT)"
    "      ELSE CAST(0 AS BIGINT) END)"
)


def _phash_bands(ph):
    """(doc_id, phash) → + (band_id, band_val): 6 contiguous 10-bit bands."""
    return bit_bands(ph, "phash", _BANDS, _BAND_BITS)


def _phash(spark, sf_dir):
    return T(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PHASH_SPARK).alias("phash")
    )


def q_phash_hamming_pairs(spark, sf_dir):
    """Banded-LSH Hamming join: candidates from band-equality, exact
    popcount verify. Output ≡ brute-force pairs at Hamming ≤ 4."""
    pairs = band_pairs(
        _phash_bands(_phash(spark, sf_dir)),
        BIT_KEYS,
        carry={"pa": "a.phash", "pb": "b.phash"},
        verify=_PHASH_VERIFY,
    )
    return pairs.select(
        "doc_a", "doc_b", F.expr("bit_count(pa ^ pb)").cast("int").alias("hamming")
    )


SQL_PHASH_PAIRS = f"""
WITH ph AS (
  SELECT doc_id, {_PHASH_DUCK} AS phash FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_THRESHOLD}
"""


def q_phash_dedup_groups(spark, sf_dir):
    """Image near-dup dedup as a pipeline consumes it: every image mapped
    to a cluster representative (min doc_id sharing any hash band) — the
    O(images) output shape, not the quadratic pair list."""
    return band_groups(_phash_bands(_phash(spark, sf_dir)), BIT_KEYS)


SQL_PHASH_GROUPS = f"""
WITH ph AS (
  SELECT doc_id, {_PHASH_DUCK} AS phash FROM documents
),
bands AS (
  SELECT doc_id, band_id,
         (phash >> (band_id * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS band_val
  FROM ph, (SELECT unnest(range(0, {_BANDS})) AS band_id) b
),
rep AS (
  SELECT doc_id, band_id, band_val,
         MIN(doc_id) OVER (PARTITION BY band_id, band_val) AS grp_rep
  FROM bands
)
SELECT doc_id, MIN(grp_rep) AS rep_id, doc_id > MIN(grp_rep) AS is_dup
FROM rep GROUP BY doc_id
"""


# -- Incremental image dedup: new batch vs persisted phash band index ----------
# The image-side twin of textops.dedup_incremental_newbatch — the crawl's
# actual continuous-ingest shape: every epoch fetches new images that must
# be near-dup-checked against the already-stored corpus WITHOUT re-reading
# it. The persisted state is the phash band index: one row per (band_id,
# band_val, member doc, phash) of the existing corpus. A new image probes
# its 6 band buckets (equi-join on the band key — only matching buckets are
# ever read), then verifies candidates with an EXACT popcount: at
# threshold 4 ≤ bands-1 = 5 the pigeonhole guarantee makes the banded plan
# output-identical to the naive all-pairs Hamming join, which is exactly
# what the DuckDB oracle runs (quadratic, band-free) — two independent
# plans, same rows.
#
# Shape at 100 TB: index rows are (longs × 4), O(6·corpus), partitioned by
# the uniform 10-bit band key; the new batch (≪ corpus) explodes to 6 band
# rows each and joins only its own buckets. In-batch dedup rides the same
# band explode. No stage touches old image bytes or old band buckets the
# batch does not probe.


def q_phash_incremental_newbatch(spark, sf_dir):
    """Deterministic 80/20 corpus split (md5 of doc_id): the 80% is the
    already-ingested image corpus whose band index is the persisted state,
    the 20% is this epoch's fetched batch."""
    ph = _phash(spark, sf_dir)
    is_new = (
        F.expr(
            "cast(conv(substr(md5(concat('imginc|', cast(doc_id as string))),1,15),16,10)"
            " as bigint)"
        )
        % 5
        == 0
    )
    index = band_index(_phash_bands(ph.where(~is_new)), BIT_KEYS, carry=["phash"])
    return dedup_against_index(
        _phash_bands(ph.where(is_new)), index, BIT_KEYS, verify=_PHASH_VERIFY
    )


SQL_PHASH_INCREMENTAL = f"""
WITH ph AS (
  SELECT doc_id, {_PHASH_DUCK} AS phash FROM documents),
split AS (
  SELECT doc_id,
         (CAST(('0x'||substr(md5('imginc|'||CAST(doc_id AS VARCHAR)),1,15))
               AS BIGINT) % 5 = 0) AS is_new
  FROM documents),
newp AS (SELECT p.* FROM ph p JOIN split s USING (doc_id) WHERE s.is_new),
oldp AS (SELECT p.* FROM ph p JOIN split s USING (doc_id) WHERE NOT s.is_new),
ex AS (
  SELECT n.doc_id, MIN(o.doc_id) AS ex_rep
  FROM newp n JOIN oldp o
    ON bit_count(xor(n.phash, o.phash)) <= {_THRESHOLD}
  GROUP BY 1),
batch AS (
  SELECT b.doc_id, MIN(a.doc_id) AS batch_rep
  FROM newp a JOIN newp b
    ON a.doc_id < b.doc_id
   AND bit_count(xor(a.phash, b.phash)) <= {_THRESHOLD}
  GROUP BY 1)
SELECT n.doc_id,
       CASE WHEN e.ex_rep IS NOT NULL THEN 'dup_existing'
            WHEN b.batch_rep IS NOT NULL THEN 'dup_batch'
            ELSE 'new' END AS verdict,
       COALESCE(e.ex_rep, b.batch_rep, n.doc_id) AS rep_id
FROM newp n
LEFT JOIN ex e ON e.doc_id = n.doc_id
LEFT JOIN batch b ON b.doc_id = n.doc_id
"""


# -- image resize / thumbnail (real codec + real resampling) -------------------
# Brief: "decode / feature-extract / resize / frame-sample as Pandas UDFs
# over mapInPandas". Testdata carries no image bytes, so the Spark side
# synthesizes each payload with the engine's own deterministic codec
# (functions/imaging.py — the same encode/decode the crawl validation path
# uses), then does the full decode → nearest-neighbor downscale → re-encode
# round trip inside Arrow batches. The emitted columns are exactly the ones
# the oracle can derive arithmetically from the documented spec (dims from
# doc_id; thumb_nbytes = 8-byte header + new_w*new_h payload for both
# codecs), so the hash compare pins that the REAL resize produced a thumb
# of exactly the specified geometry and encoding size. Pixel content is
# pinned separately by tests/test_imaging.py (not SQL-expressible).
_THUMB_MAXDIM = 16


def q_image_resize_thumb(spark, sf_dir):
    """decode → resize (nearest, aspect-preserving, max dim 16) → encode."""
    d = T(spark, sf_dir, "documents").select("doc_id")

    def resize_batches(it):
        from monocator_spark.functions import imaging as img

        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            w = 16 + ids % 49
            h = 16 + (ids * 3) % 49
            rows = {"doc_id": ids, "w": w.astype(np.int64), "h": h.astype(np.int64),
                    "new_w": [], "new_h": [], "thumb_nbytes": []}
            for i, doc in enumerate(ids):
                fmt = "png" if doc % 2 == 0 else "jpeg"
                payload = img.encode(img.pixels_for(str(doc), int(w[i]), int(h[i])), fmt)
                px, got_fmt = img.decode(payload)
                m = max(px.shape)
                if m <= _THUMB_MAXDIM:
                    thumb = px
                else:
                    nh = max(1, px.shape[0] * _THUMB_MAXDIM // m)
                    nw = max(1, px.shape[1] * _THUMB_MAXDIM // m)
                    # nearest-neighbor: src index = dst index * src // dst
                    yi = (np.arange(nh) * px.shape[0]) // nh
                    xi = (np.arange(nw) * px.shape[1]) // nw
                    thumb = px[yi][:, xi]
                enc = img.encode(thumb, got_fmt)
                rows["new_h"].append(thumb.shape[0])
                rows["new_w"].append(thumb.shape[1])
                rows["thumb_nbytes"].append(len(enc))
            out = pd.DataFrame(rows)
            for c in ("new_w", "new_h", "thumb_nbytes"):
                out[c] = out[c].astype(np.int64)
            yield out

    return d.mapInPandas(
        resize_batches,
        "doc_id long, w long, h long, new_w long, new_h long, thumb_nbytes long",
    )


SQL_RESIZE_THUMB = f"""
WITH dims AS (
  SELECT doc_id,
         16 + doc_id % 49 AS w,
         16 + (doc_id * 3) % 49 AS h
  FROM documents
),
scaled AS (
  SELECT doc_id, w, h,
         CASE WHEN greatest(w, h) <= {_THUMB_MAXDIM} THEN w
              ELSE greatest(1, (w * {_THUMB_MAXDIM}) // greatest(w, h)) END AS new_w,
         CASE WHEN greatest(w, h) <= {_THUMB_MAXDIM} THEN h
              ELSE greatest(1, (h * {_THUMB_MAXDIM}) // greatest(w, h)) END AS new_h
  FROM dims
)
SELECT doc_id, w, h, new_w, new_h,
       8 + new_w * new_h AS thumb_nbytes
FROM scaled
"""


# -- video frame sampling (stub codec, real byte plumbing) ---------------------
# No video libs in this container, so the "container format" is a stub per
# the brief: the document's UTF-8 bytes stand in for the stream, carrying a
# typed metadata column n_frames = 1 + doc_id % 240. The sampling spec is
# real and the UDF really slices the frame byte-ranges out of the payload
# (uniform frame_size = byte_len // n_frames; at most 8 frames, evenly
# strided: stride = ceil(n_frames/8)). Every emitted column is derivable
# from the spec, so the oracle pins the sampling arithmetic end-to-end.
def q_frame_sample_stub(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (1 + F.col("doc_id") % 240).cast("long").alias("n_frames"),
    )

    def sample_batches(it):
        for pdf in it:
            out_rows = []
            for doc, payload, n_frames in zip(
                pdf["doc_id"], pdf["payload"], pdf["n_frames"]
            ):
                n_frames = int(n_frames)
                stride = -(-n_frames // 8)  # ceil
                idxs = list(range(0, n_frames, stride))
                fsz = len(payload) // n_frames
                frames = [payload[i * fsz : (i + 1) * fsz] for i in idxs]
                out_rows.append(
                    (
                        int(doc),
                        n_frames,
                        len(idxs),
                        idxs[-1],
                        sum(len(fb) for fb in frames),
                    )
                )
            yield pd.DataFrame(
                out_rows,
                columns=["doc_id", "n_frames", "n_sampled", "last_idx", "sampled_bytes"],
            ).astype(np.int64)

    return d.mapInPandas(
        sample_batches,
        "doc_id long, n_frames long, n_sampled long, last_idx long, sampled_bytes long",
    )


SQL_FRAME_SAMPLE = """
WITH meta AS (
  SELECT doc_id,
         1 + doc_id % 240 AS n_frames,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents
),
samp AS (
  SELECT doc_id, n_frames,
         (n_frames + 7) // 8 AS stride,
         byte_len // n_frames AS frame_size
  FROM meta
)
SELECT doc_id, n_frames,
       (n_frames + stride - 1) // stride AS n_sampled,
       stride * ((n_frames + stride - 1) // stride - 1) AS last_idx,
       ((n_frames + stride - 1) // stride) * frame_size AS sampled_bytes
FROM samp
"""


# -- audio windowed energy (stub codec, real frame math) -----------------------
# The audio leg of the multimodal brief (image ✓ resize/phash, video ✓
# frame sampling, audio → this). No audio libs in this container, so the
# "decode" is the brief-sanctioned deterministic stand-in: the document's
# UTF-8 bytes are the PCM stream (u8 samples, ASCII-only testdata so every
# byte is also SQL-addressable), with typed metadata columns sample_rate =
# 8000·(1 + doc_id%3) and channels = 1 + doc_id%2. Everything downstream of
# the stub is the real feature-extraction shape: interleaved frames (the
# trailing partial frame dropped), 256-frame analysis windows, per-window
# energy = sum of sample bytes (implicit channel mixdown), duration from
# the rate. Vectorized per Arrow batch with np.add.reduceat — no per-sample
# Python. The DuckDB oracle recomputes the per-window energies from the
# same bytes (unnest a window range → substr → codepoint sum), so this one
# pins VALUES, not just arithmetic, end to end.
_AWIN = 64  # analysis window, in sample frames (testdata docs are ~50-560 bytes; 64 keeps 1-9 windows per doc so the window math is actually exercised)


def q_audio_window_energy(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (8000 * (1 + F.col("doc_id") % 3)).cast("long").alias("sample_rate"),
        (1 + F.col("doc_id") % 2).cast("long").alias("channels"),
    )

    def energy_batches(it):
        for pdf in it:
            out_rows = []
            for doc, payload, rate, ch in zip(
                pdf["doc_id"], pdf["payload"], pdf["sample_rate"], pdf["channels"]
            ):
                ch = int(ch)
                a = np.frombuffer(payload, dtype=np.uint8)
                n_samples = len(a) // ch
                used = a[: n_samples * ch].astype(np.int64)
                n_windows = -(-n_samples // _AWIN) if n_samples else 0
                if n_windows:
                    starts = np.arange(0, n_samples * ch, _AWIN * ch)
                    wsum = np.add.reduceat(used, starts)
                    peak_w = int(np.argmax(wsum))  # first argmax
                    total, peak = int(used.sum()), int(wsum.max())
                else:
                    total, peak, peak_w = 0, 0, -1
                out_rows.append(
                    (
                        int(doc), int(rate), ch, n_samples,
                        n_samples * 1000 // int(rate), n_windows,
                        total, peak, peak_w,
                    )
                )
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "doc_id", "sample_rate", "channels", "n_samples",
                    "duration_ms", "n_windows", "total_energy",
                    "peak_energy", "peak_window",
                ],
            ).astype(np.int64)

    return d.mapInPandas(
        energy_batches,
        "doc_id long, sample_rate long, channels long, n_samples long, "
        "duration_ms long, n_windows long, total_energy long, "
        "peak_energy long, peak_window long",
    )


SQL_AUDIO_ENERGY = f"""
WITH meta AS (
  SELECT doc_id, text,
         8000 * (1 + doc_id % 3) AS sample_rate,
         1 + doc_id % 2 AS channels,
         (octet_length(encode(text)) // (1 + doc_id % 2)) AS n_samples
  FROM documents
),
m AS (
  SELECT doc_id, text, sample_rate, channels, n_samples,
         (n_samples + {_AWIN} - 1) // {_AWIN} AS n_windows,
         n_samples * channels AS used_bytes
  FROM meta
),
wins AS (
  SELECT doc_id, w.widx,
         list_aggregate(
           list_transform(
             string_split(
               substr(text, 1 + w.widx * {_AWIN} * channels,
                      least({_AWIN} * channels,
                            used_bytes - w.widx * {_AWIN} * channels)),
               ''),
             x -> unicode(x)),
           'sum') AS energy
  FROM m, unnest(range(n_windows)) AS w(widx)
),
peaks AS (
  SELECT doc_id, widx, energy,
         MAX(energy) OVER (PARTITION BY doc_id) AS pk
  FROM wins
),
agg AS (
  SELECT doc_id,
         CAST(SUM(energy) AS BIGINT) AS total_energy,
         CAST(MAX(energy) AS BIGINT) AS peak_energy
  FROM wins GROUP BY doc_id
),
pw AS (
  SELECT doc_id, CAST(MIN(widx) AS BIGINT) AS peak_window
  FROM peaks WHERE energy = pk GROUP BY doc_id
)
SELECT m.doc_id, m.sample_rate,
       CAST(m.channels AS BIGINT) AS channels,
       CAST(m.n_samples AS BIGINT) AS n_samples,
       CAST(m.n_samples * 1000 // m.sample_rate AS BIGINT) AS duration_ms,
       CAST(m.n_windows AS BIGINT) AS n_windows,
       COALESCE(agg.total_energy, 0) AS total_energy,
       COALESCE(agg.peak_energy, 0) AS peak_energy,
       COALESCE(pw.peak_window, -1) AS peak_window
FROM m LEFT JOIN agg USING (doc_id) LEFT JOIN pw USING (doc_id)
"""


# -- image quality gate (real codec round trip, value-pinned oracle) -----------
# The LAION-style pre-training filter: decode → integer pixel stats →
# keep/reject verdict. The pristine pixels are the document's UTF-8 bytes
# (ASCII testdata, so SQL-addressable) reshaped to h×w with w derived from
# doc_id and the trailing partial row truncated — then the payload takes a
# REAL `functions.imaging` encode→decode round trip: even doc_ids go
# through the png path (lossless), odd through the jpeg path, whose 4-level
# quantization ((b//4)*4+2) the oracle replicates. Stats are exact int64
# arithmetic — mean/variance/horizontal-gradient in milli-units via integer
# division — so the driver pins VALUES, including the codec's loss, not
# just shapes. The gradient is genuinely 2D: |v[i,j+1]−v[i,j]| within rows
# only, never across the row boundary. At 100 TB each image is one row
# through one mapInPandas pass — scan-local, zero shuffles.
_GATE_MIN_PX = 64        # below: 'undersized' (testdata n_px spans 30..552)
_GATE_FLAT_GRAD = 32_000     # grad_milli below: 'flat'        (~p25)
_GATE_LOW_VAR = 858_000      # var_milli below: 'low_contrast' (~p25)


def q_image_quality_gate(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def gate_batches(it):
        from monocator_spark.functions import imaging as img

        for pdf in it:
            out_rows = []
            for doc, payload in zip(pdf["doc_id"], pdf["payload"]):
                doc = int(doc)
                fmt = "png" if doc % 2 == 0 else "jpeg"
                b = np.frombuffer(payload, dtype=np.uint8)
                w = 8 + doc % 24
                h = len(b) // w
                n = w * h
                # real codec round trip: raw bytes as pristine pixels
                px, got_fmt = img.decode(img.encode(b[:n].reshape(h, w), fmt))
                v = px.astype(np.int64)
                if n:
                    s1, s2 = int(v.sum()), int((v * v).sum())
                    mean_m = s1 * 1000 // n
                    var_m = (n * s2 - s1 * s1) * 1000 // (n * n)
                    gsum = int(np.abs(np.diff(v, axis=1)).sum())
                    ng = h * (w - 1)
                    grad_m = gsum * 1000 // ng if ng else 0
                else:
                    mean_m = var_m = grad_m = 0
                if n < _GATE_MIN_PX:
                    verdict = "undersized"
                elif grad_m < _GATE_FLAT_GRAD:
                    verdict = "flat"
                elif var_m < _GATE_LOW_VAR:
                    verdict = "low_contrast"
                else:
                    verdict = "ok"
                out_rows.append(
                    (doc, got_fmt, w, h, n, mean_m, var_m, grad_m, verdict)
                )
            out = pd.DataFrame(
                out_rows,
                columns=[
                    "doc_id", "fmt", "w", "h", "n_px",
                    "mean_milli", "var_milli", "grad_milli", "verdict",
                ],
            )
            for c in ("doc_id", "w", "h", "n_px", "mean_milli", "var_milli",
                      "grad_milli"):
                out[c] = out[c].astype(np.int64)
            yield out

    return d.mapInPandas(
        gate_batches,
        "doc_id long, fmt string, w long, h long, n_px long, "
        "mean_milli long, var_milli long, grad_milli long, verdict string",
    )


SQL_QUALITY_GATE = f"""
WITH dims AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
         8 + doc_id % 24 AS w,
         octet_length(encode(text)) // (8 + doc_id % 24) AS h
  FROM documents
),
px AS (
  -- v = the decoded pixel list: raw byte for png, 4-level dequantized for
  -- jpeg — exactly functions/imaging.py's codec semantics
  SELECT doc_id, fmt, w, h, w * h AS n_px,
         list_transform(
           range(w * h),
           k -> CASE WHEN fmt = 'jpeg'
                     THEN (unicode(substr(text, 1 + CAST(k AS INT), 1)) // 4) * 4 + 2
                     ELSE unicode(substr(text, 1 + CAST(k AS INT), 1)) END
         ) AS v
  FROM dims
),
stats AS (
  SELECT doc_id, fmt, w, h, n_px,
         list_aggregate(v, 'sum') AS s1,
         list_aggregate(list_transform(v, x -> x * x), 'sum') AS s2,
         list_aggregate(
           list_transform(
             range(n_px - 1),
             k -> CASE WHEN (k + 1) % w = 0 THEN 0
                       ELSE abs(v[CAST(k AS INT) + 2] - v[CAST(k AS INT) + 1]) END),
           'sum') AS gsum
  FROM px
),
m AS (
  SELECT doc_id, fmt, w, h, n_px,
         CASE WHEN n_px > 0 THEN s1 * 1000 // n_px ELSE 0 END AS mean_milli,
         CASE WHEN n_px > 0
              THEN (n_px * s2 - s1 * s1) * 1000 // (n_px * n_px)
              ELSE 0 END AS var_milli,
         CASE WHEN h * (w - 1) > 0
              THEN COALESCE(gsum, 0) * 1000 // (h * (w - 1))
              ELSE 0 END AS grad_milli
  FROM stats
)
SELECT doc_id, fmt,
       CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(n_px AS BIGINT) AS n_px,
       CAST(mean_milli AS BIGINT) AS mean_milli,
       CAST(var_milli AS BIGINT) AS var_milli,
       CAST(grad_milli AS BIGINT) AS grad_milli,
       CASE WHEN n_px < {_GATE_MIN_PX} THEN 'undersized'
            WHEN grad_milli < {_GATE_FLAT_GRAD} THEN 'flat'
            WHEN var_milli < {_GATE_LOW_VAR} THEN 'low_contrast'
            ELSE 'ok' END AS verdict
FROM m
"""


# -- Aspect-ratio bucketing (multi-resolution image-training batching) -----------
# Image pre-training pipelines batch samples by aspect-ratio bucket so a
# batch shares one (bw, bh) target and resize/crop loss stays minimal
# (the SDXL "aspect bucketing" recipe; NovelAI's original writeup). The op
# assigns every image to the ladder bucket minimizing |w/h − bw/bh| with
# EXACT integer arithmetic — no float ratio can flip an argmin between
# engines: |w/h − bw/bh| ∝ |w·bh − h·bw| / bh once the common 1/h drops,
# so scoring with |w·bh − h·bw| · (L/bh), L = lcm(all bh) = 79,672,320,
# is an exact cross-engine comparator (max score·16+15 < 2^63). Argmin +
# deterministic lowest-index tie-break in ONE `least()` by packing
# score·16 + idx. (w, h) are synthesized from doc_id on both engines
# (testdata carries no real dims); spans 64..2048 px both axes.
#
# Shape at 100 TB: pure scalar Catalyst expressions — scan-local, zero
# shuffles, whole-stage codegen; the ladder is a compile-time literal.
_ASPECT_LADDER = [
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536),
]
_ASPECT_L = 79672320  # lcm of all ladder heights


_ASPECT_PACKED = ", ".join(
    f"abs(w * {bh} - h * {bw}) * {_ASPECT_L // bh} * 16 + {i}"
    for i, (bw, bh) in enumerate(_ASPECT_LADDER)
)
_ASPECT_BW_CASE = " ".join(
    f"WHEN {i} THEN {bw}" for i, (bw, _) in enumerate(_ASPECT_LADDER)
)
_ASPECT_BH_CASE = " ".join(
    f"WHEN {i} THEN {bh}" for i, (_, bh) in enumerate(_ASPECT_LADDER)
)


def q_image_aspect_bucket(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(64 + (doc_id * 37) % 1985 as bigint)").alias("w"),
        F.expr("cast(64 + (doc_id * 101) % 1985 as bigint)").alias("h"),
    )
    a = d.withColumn("bucket_idx", F.expr(f"least({_ASPECT_PACKED}) % 16"))
    return a.select(
        "doc_id", "w", "h",
        F.col("bucket_idx").cast("long").alias("bucket_idx"),
        F.expr(f"cast(CASE bucket_idx {_ASPECT_BW_CASE} END as bigint)").alias(
            "bucket_w"
        ),
        F.expr(f"cast(CASE bucket_idx {_ASPECT_BH_CASE} END as bigint)").alias(
            "bucket_h"
        ),
        F.expr("(w * 1000000) DIV h").alias("ar_ppm"),
    )


SQL_ASPECT_BUCKET = f"""
WITH dims AS (
  SELECT doc_id,
         CAST(64 + (doc_id * 37) % 1985 AS BIGINT) AS w,
         CAST(64 + (doc_id * 101) % 1985 AS BIGINT) AS h
  FROM documents
),
assigned AS (
  SELECT doc_id, w, h, least({_ASPECT_PACKED}) % 16 AS bucket_idx FROM dims
)
SELECT doc_id, w, h, CAST(bucket_idx AS BIGINT) AS bucket_idx,
       CAST(CASE bucket_idx {_ASPECT_BW_CASE} END AS BIGINT) AS bucket_w,
       CAST(CASE bucket_idx {_ASPECT_BH_CASE} END AS BIGINT) AS bucket_h,
       (w * 1000000) // h AS ar_ppm
FROM assigned
"""


# -- Joint image+caption metadata filter (image-text dataset assembly) ------------
# The FIRST filter any image-text dataset build applies (LAION's assembly
# recipe): purely metadata-level — image dimensions, aspect-ratio bounds,
# caption length — before any pixel or embedding work is spent. Ordered
# verdicts (first failing rule names the reason): undersized → extreme_ar
# → short_caption → long_caption → ok. (w, h) reuse the aspect-op synth;
# the caption is the doc's first 12 whitespace tokens — both derived
# identically on both engines. Aspect bound is integer cross-multiplied
# (w > 2h / h > 2w), caption length in tokens and chars — no floats.
#
# Shape at 100 TB: scan-local scalar expressions, zero shuffles; this is
# the op that makes the 90%-reject happen BEFORE bytes move anywhere.
_CIF_MIN_SIDE = 256
_CIF_MAX_AR = 2           # max(w,h) <= 2 * min(w,h)
_CIF_MIN_CAP_TOK = 3
_CIF_MAX_CAP_CHARS = 90

def q_caption_image_filter(spark, sf_dir):
    ws = "filter(split(text, ' '), t -> t <> '')"
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(64 + (doc_id * 37) % 1985 as bigint)").alias("w"),
        F.expr("cast(64 + (doc_id * 101) % 1985 as bigint)").alias("h"),
        F.expr(f"array_join(slice({ws}, 1, 12), ' ')").alias("caption"),
    ).select(
        "doc_id", "w", "h", "caption",
        F.expr("cast(size(filter(split(caption, ' '), t -> t <> '')) as bigint)")
        .alias("cap_tokens"),
        F.expr("cast(length(caption) as bigint)").alias("cap_chars"),
    )
    return d.select(
        "doc_id", "w", "h", "cap_tokens", "cap_chars",
        F.expr(
            f"CASE WHEN least(w, h) < {_CIF_MIN_SIDE} THEN 'undersized'"
            f" WHEN greatest(w, h) > {_CIF_MAX_AR} * least(w, h) THEN 'extreme_ar'"
            f" WHEN cap_tokens < {_CIF_MIN_CAP_TOK} THEN 'short_caption'"
            f" WHEN cap_chars > {_CIF_MAX_CAP_CHARS} THEN 'long_caption'"
            f" ELSE 'ok' END"
        ).alias("verdict"),
    )


SQL_CAPTION_FILTER = f"""
WITH d AS (
  SELECT doc_id,
         CAST(64 + (doc_id * 37) % 1985 AS BIGINT) AS w,
         CAST(64 + (doc_id * 101) % 1985 AS BIGINT) AS h,
         array_to_string(
           list_filter(string_split(text, ' '), t -> t <> '')[1:12], ' '
         ) AS caption
  FROM documents
),
m AS (
  SELECT doc_id, w, h,
         CAST(len(list_filter(string_split(caption, ' '), t -> t <> ''))
              AS BIGINT) AS cap_tokens,
         CAST(length(caption) AS BIGINT) AS cap_chars
  FROM d
)
SELECT doc_id, w, h, cap_tokens, cap_chars,
       CASE WHEN least(w, h) < {_CIF_MIN_SIDE} THEN 'undersized'
            WHEN greatest(w, h) > {_CIF_MAX_AR} * least(w, h) THEN 'extreme_ar'
            WHEN cap_tokens < {_CIF_MIN_CAP_TOK} THEN 'short_caption'
            WHEN cap_chars > {_CIF_MAX_CAP_CHARS} THEN 'long_caption'
            ELSE 'ok' END AS verdict
FROM m
"""


# -- CLIP-style image-text alignment gate (LAION assembly stage) ------------------
# The canonical LAION-5B keep/drop decision: embed the image, embed the
# caption, keep the pair iff cosine(image_emb, text_emb) clears a
# threshold (LAION used CLIP similarity ≥ 0.28). The image embedding is
# the `embeddings` table row joined on doc_id — a 1:1 equi-join on the
# storage key (in production the vector is a sibling column of the same
# row group; zero skew, co-partitioned). The caption embedding is derived
# DETERMINISTICALLY from the caption text (first 12 tokens, like
# caption_image_filter): dim d = Σ_tokens (md5long(token|d) % 201 − 100) —
# a stand-in "text tower" both engines compute identically (the real
# model isn't in the sandbox; same discipline as the imaging codec stub).
#
# Cross-engine exactness, PQ-op style (ann_pq_adc): the image vector is
# fixed-point floor(x·1000), the caption vector is already integer, and
# the τ=0.1 threshold test is integer cross-multiplied —
#     cos ≥ τ  ⟺  dot ≥ 0  AND  100·dot² ≥ na·nb
# so no float ever decides a verdict. Bounds: |img_i| ≤ 1000,
# |cap_i| ≤ 1200 ⇒ dot ≤ 7.7e7, 100·dot² ≤ 5.9e17 < 2^63, na·nb ≤ 5.9e15
# — every product exact in int64 (and in DuckDB's double dot-product,
# < 2^53 before the bigint cast).
#
# Shape at 100 TB: scan-local expressions + one co-partitioned 1:1 join;
# the gate runs on metadata-sized integers, not pixels, and drops ~80% of
# pairs before any byte of image data moves.
_CLIP_CAP_TOKENS = 12
_CLIP_DIM = 64
_CLIP_TAU_SQ100 = 1  # 100·τ² for τ = 0.1


def q_clip_alignment_gate(spark, sf_dir):
    ws = "filter(split(text, ' '), t -> t <> '')"
    # The stand-in text tower hashes per (token, dim) — 64 md5s per token.
    # Computed per ROW that is 64·|caption| md5s per document; computed per
    # DISTINCT token it is Zipf-bounded vocab work (the same
    # vocab-not-corpus discipline as the BPE trainer): hash each distinct
    # caption token once, join back to per-doc (token, multiplicity), and
    # elementwise-sum with 64 map-side-combined SUM aggregates (no
    # explode, one shuffle keyed on doc_id). Measured ~4x faster at
    # sf0.1 (5.5 s -> 1.4 s); the gap widens with corpus size.
    inst = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.expr(f"slice({ws}, 1, {_CLIP_CAP_TOKENS})")).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tok_dim = (
        "cast(conv(substr(md5(concat(tok, '|', cast(d as string))),1,15),16,10)"
        " as bigint) % 201 - 100"
    )
    vocab = (
        inst.select("tok")
        .distinct()
        .select(
            "tok",
            F.expr(
                f"transform(sequence(0, {_CLIP_DIM - 1}), d -> {tok_dim})"
            ).alias("vec"),
        )
    )
    # Left-join the summed caption vector back onto documents, coalescing
    # missing dims to 0: a doc whose caption yields ZERO tokens (empty/
    # whitespace/NULL text) must still gate — with a zero cap_vec, exactly
    # like the oracle's COALESCE(list_sum(...), 0) — instead of silently
    # vanishing through the explode. Such docs then fail the nb_q > 0 term
    # of the verdict below on both engines.
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .join(
            inst.join(vocab, "tok")
            .groupBy("doc_id")
            .agg(
                *[
                    F.sum(F.col("cnt") * F.expr(f"vec[{i}]")).alias(f"c{i}")
                    for i in range(_CLIP_DIM)
                ]
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.array(
                *[
                    F.coalesce(F.col(f"c{i}"), F.lit(0).cast("long"))
                    for i in range(_CLIP_DIM)
                ]
            ).alias("cap_vec"),
        )
    )
    e = T(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"
        ).alias("img_vec"),
    )
    idot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    j = d.join(e, "doc_id").select(
        "doc_id",
        F.expr(idot.format(a="img_vec", b="cap_vec")).alias("dot_q"),
        F.expr(idot.format(a="img_vec", b="img_vec")).alias("na_q"),
        F.expr(idot.format(a="cap_vec", b="cap_vec")).alias("nb_q"),
    )
    # nb_q > 0 guard: a zero caption vector (degenerate caption, or a full
    # hash cancellation) has no direction, so cos is undefined — the gate
    # rejects it rather than letting 0 >= na·0 vacuously pass.
    return j.select(
        "doc_id",
        "dot_q",
        "na_q",
        "nb_q",
        (
            (F.col("nb_q") > 0)
            & (F.col("dot_q") >= 0)
            & (
                F.lit(100) * F.col("dot_q") * F.col("dot_q")
                >= F.lit(_CLIP_TAU_SQ100) * F.col("na_q") * F.col("nb_q")
            )
        ).alias("aligned"),
    )


def _sql_clip_gate() -> str:
    md5l = "CAST(('0x'||substr(md5(t || '|' || CAST(d AS VARCHAR)),1,15)) AS BIGINT)"

    def ldp(x, y):
        return (
            "CAST(list_dot_product("
            f"list_transform({x}, v -> CAST(v AS DOUBLE)),"
            f" list_transform({y}, v -> CAST(v AS DOUBLE))) AS BIGINT)"
        )

    return f"""
WITH cap AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '')[1:{_CLIP_CAP_TOKENS}]
           AS toks
  FROM documents),
capvec AS (
  SELECT doc_id,
         list_transform(range(0, {_CLIP_DIM}), d ->
           CAST(COALESCE(list_sum(list_transform(toks,
                  t -> {md5l} % 201 - 100)), 0) AS BIGINT)) AS cap_vec
  FROM cap),
imgvec AS (
  SELECT vec_id AS doc_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS img_vec
  FROM embeddings),
scored AS (
  SELECT c.doc_id,
         {ldp('i.img_vec', 'c.cap_vec')} AS dot_q,
         {ldp('i.img_vec', 'i.img_vec')} AS na_q,
         {ldp('c.cap_vec', 'c.cap_vec')} AS nb_q
  FROM capvec c JOIN imgvec i USING (doc_id))
SELECT doc_id, dot_q, na_q, nb_q,
       (nb_q > 0 AND dot_q >= 0
        AND 100 * dot_q * dot_q >= {_CLIP_TAU_SQ100} * na_q * nb_q)
         AS aligned
FROM scored
"""


SQL_CLIP_GATE = _sql_clip_gate()


IMAGING = {
    "phash_hamming_pairs": (q_phash_hamming_pairs, SQL_PHASH_PAIRS),
    "phash_dedup_groups": (q_phash_dedup_groups, SQL_PHASH_GROUPS),
    "phash_incremental_newbatch": (
        q_phash_incremental_newbatch,
        SQL_PHASH_INCREMENTAL,
    ),
    "image_resize_thumb": (q_image_resize_thumb, SQL_RESIZE_THUMB),
    "frame_sample_stub": (q_frame_sample_stub, SQL_FRAME_SAMPLE),
    "audio_window_energy": (q_audio_window_energy, SQL_AUDIO_ENERGY),
    "image_quality_gate": (q_image_quality_gate, SQL_QUALITY_GATE),
    "image_aspect_bucket": (q_image_aspect_bucket, SQL_ASPECT_BUCKET),
    "caption_image_filter": (q_caption_image_filter, SQL_CAPTION_FILTER),
    "clip_alignment_gate": (q_clip_alignment_gate, SQL_CLIP_GATE),
}
