"""Multimodal-column plumbing: treat image/audio/video payloads as opaque
``binary`` columns with typed metadata, and run decode/feature-extraction
as Arrow-batched ``mapInPandas`` operators.

The image path decodes REAL bytes: a dependency-free 24-bit BMP codec
(``functions/imaging.py`` -- the container ships no PIL/opencv) parses
magic, headers, bottom-up BGR rows, and 4-byte row padding into pixel
arrays; features are computed from the decoded pixels and value-hash
checked against a closed-form SQL oracle. The Spark-side plumbing --
binary parquet columns, narrow mapInPandas, no shuffle until the feature
join -- is exactly how a 100 TB image-dedup/feature pipeline is laid out.

The driver's tables have no binary column, so image payloads are a
generated BMP fixture (``ensure_image_fixture``) and the audio/video
metadata/frame operators derive payloads from ``documents.text`` utf-8
bytes; the operator contracts are unchanged either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import fixture
from ..registry import Registry
from ..sources.catalog import load_table

FEATURE_DIM = 4


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: byte length, content
    hash, and a modality tag. Pure Column ops -- fully oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        "doc_id",
        modality.alias("modality"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


# Image fixture: every doc gets a REAL 24-bit BMP whose dimensions and
# pixels are closed-form functions of doc_id -- so the oracle can compute
# the expected pixel statistics in pure SQL while the engine must actually
# PARSE the bytes (magic, headers, bottom-up BGR rows, 4-byte padding) to
# reproduce them. Widths 8..16 exercise every row-padding remainder.
IMG_W = "8 + doc_id % 9"
IMG_H = "4 + doc_id % 5"
# pixel value at (y, x, channel c in RGB order):
IMG_PIXEL = "(doc_id + 31*y + 7*x + 11*c) % 256"


@fixture("images", scratch=True)
def ensure_image_fixture(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write (once per session) a parquet table of (doc_id, bmp) with real
    encoded BMP bytes per document, under scratch. Encode runs in its own
    Spark job via ``mapInPandas``; the feature query decodes in a later
    job -- the bytes genuinely round-trip through parquet."""
    from ..functions.imaging import bmp_codec

    # not fanned out: a 32-file fixture makes every downstream image
    # scan pay per-file open cost that outweighs the parallel encode
    # (fresh-process A/B: features 0.68 -> 0.73s, phash 0.73 -> 0.90s)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    encode_bmp, _ = bmp_codec()  # nested fns: cloudpickle ships by value

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 4 + d % 5
                y = _np.arange(h)[:, None, None]
                x = _np.arange(w)[None, :, None]
                c = _np.arange(3)[None, None, :]
                arr = ((d + 31 * y + 7 * x + 11 * c) % 256).astype(_np.uint8)
                rows.append((d, encode_bmp(arr)))
            yield _pd.DataFrame(rows, columns=["doc_id", "bmp"])

    docs.mapInPandas(encode_batches, schema="doc_id bigint, bmp binary").write.mode(
        "overwrite"
    ).parquet(out)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + feature extraction, Arrow-batched.

    Reads the BMP fixture parquet, parses every payload with the
    dependency-free codec (``functions/imaging.py``), and emits per-image
    features from the DECODED pixels:

    - ``f0/f1/f2``: per-channel (R/G/B) pixel sums normalized to [0, 1];
    - ``f3``: a position-weighted red-channel checksum
      (``sum(R[y,x] * (y*w + x + 1))`` normalized) -- channel means are
      invariant under row/column flips, so this is the term that makes a
      bottom-up/BGR/padding decode bug hash-visible;
    - ``n_frames``: decoded image height (rows, the frame analog).

    The UDF emits only EXACT integer sums; the division + round happen in
    Column space so both engines round identical doubles. ``mapInPandas``
    keeps the decode embarrassingly parallel -- each Arrow batch decodes
    in-process with zero shuffle, the layout of any 100 TB image-feature
    pipeline (decode cost scales with executors, not with driver)."""
    images = spark.read.parquet(ensure_image_fixture(spark, sf_dir))
    from ..functions.imaging import bmp_codec

    _, decode_bmp = bmp_codec()  # nested fn: cloudpickle ships by value

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["bmp"]):
                arr = decode_bmp(bytes(payload)).astype(_np.int64)
                h, w, _ = arr.shape
                pos = _np.arange(h)[:, None] * w + _np.arange(w)[None, :] + 1
                rows.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        int(arr[:, :, 0].sum()),
                        int(arr[:, :, 1].sum()),
                        int(arr[:, :, 2].sum()),
                        int((arr[:, :, 0] * pos).sum()),
                    )
                )
            yield _pd.DataFrame(
                rows, columns=["doc_id", "w", "h", "s0", "s1", "s2", "spos"]
            )

    sums = images.mapInPandas(
        decode_batches,
        schema="doc_id bigint, w int, h int, s0 bigint, s1 bigint, s2 bigint, spos bigint",
    )
    norm = F.col("w") * F.col("h") * 255
    return sums.select(
        "doc_id",
        F.round(F.col("s0") / norm, 6).alias("f0"),
        F.round(F.col("s1") / norm, 6).alias("f1"),
        F.round(F.col("s2") / norm, 6).alias("f2"),
        F.round(F.col("spos") / norm, 6).alias("f3"),
        F.col("h").cast("long").alias("n_frames"),
    )


SQL_MULTIMODAL_FEATURES = f"""
WITH dims AS (SELECT doc_id, {IMG_W} AS w, {IMG_H} AS h FROM documents),
ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM dims),
xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
cs AS (SELECT doc_id, w, h, y, x, unnest(range(0, 3)) AS c FROM xs),
px AS (SELECT doc_id, w, h, y, x, c, {IMG_PIXEL} AS v FROM cs)
SELECT doc_id,
  round(CAST(SUM(CASE WHEN c = 0 THEN v END) AS DOUBLE) / (w*h*255), 6) AS f0,
  round(CAST(SUM(CASE WHEN c = 1 THEN v END) AS DOUBLE) / (w*h*255), 6) AS f1,
  round(CAST(SUM(CASE WHEN c = 2 THEN v END) AS DOUBLE) / (w*h*255), 6) AS f2,
  round(CAST(SUM(CASE WHEN c = 0 THEN v * (y*w + x + 1) END) AS DOUBLE) / (w*h*255), 6) AS f3,
  CAST(h AS BIGINT) AS n_frames
FROM px GROUP BY doc_id, w, h
"""


# --- audio feature extraction: the signal-processing mapInPandas shape ---
PCM_CENTER = 80  # subtract from byte values: letters go +, space/digits -
PCM_FRAME = 256  # samples per analysis frame


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-'audio'-payload signal features -- total energy, zero
    crossings, peak frame energy -- computed from the raw byte stream in
    one Arrow-batched ``mapInPandas`` pass (numpy vectorized, zero
    shuffle): the layout of a real 100 TB audio pipeline, where a codec
    decode replaces ``frombuffer`` and the features become MFCC/VAD.

    Payloads are the documents' utf-8 bytes interpreted as unsigned
    8-bit PCM centered at ``PCM_CENTER`` (chosen INSIDE the corpus's
    ascii range so the sign actually alternates at word boundaries --
    centering at 128 would make every ascii sample negative and the
    zero-crossing count vacuously 0). Every feature is an exact integer,
    so the DuckDB oracle recomputes them from per-character code points
    (``unicode(substr(...))`` == utf-8 byte ONLY for single-byte chars)
    and must match bit-for-bit. Non-ASCII payloads would diverge (Spark
    reads BYTES, the oracle reads CODE POINTS), so both engines exclude
    them identically -- the same octet_length == length guard the prefix
    ops use. Same modality derivation as ``multimodal_meta``
    (doc_id % 3 == 1 -> audio). Not fanned out: the modality slice is a
    third of an already-small corpus and the mapInPandas pass is cheap
    (interleaved A/B read the extra exchange as a 1.67x loss)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 1)
        .where(F.octet_length("text") == F.length("text"))
    )

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = _np.frombuffer(text.encode("utf-8"), dtype=_np.uint8)
                s = b.astype(_np.int64) - PCM_CENTER
                neg = s < 0
                zc = int((neg[1:] != neg[:-1]).sum())
                sq = s * s
                n = len(s)
                peak = 0
                for k in range(0, n, PCM_FRAME):
                    peak = max(peak, int(sq[k : k + PCM_FRAME].sum()))
                rows.append((int(doc_id), n, int(sq.sum()), zc, peak))
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "energy", "zero_crossings", "peak_frame_energy"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        feat_batches,
        schema=(
            "doc_id bigint, n_samples bigint, energy bigint, "
            "zero_crossings bigint, peak_frame_energy bigint"
        ),
    )


SQL_AUDIO_FEATURES = f"""
WITH samples AS (
  SELECT doc_id, pos,
         unicode(substr(text, CAST(pos AS INT), 1)) - {PCM_CENTER} AS s,
         (pos - 1) // {PCM_FRAME} AS frame
  FROM (
    SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS pos
    FROM documents
    WHERE doc_id % 3 = 1
      AND strlen(text) = length(text)  -- ASCII guard, see Spark side
  )
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(s * s) AS BIGINT) AS energy
  FROM samples GROUP BY 1
),
flips AS (
  SELECT doc_id,
         CASE WHEN (s < 0) <> (lag(s) OVER (PARTITION BY doc_id ORDER BY pos) < 0)
              THEN 1 ELSE 0 END AS flip
  FROM samples
),
zc AS (
  SELECT doc_id, CAST(sum(flip) AS BIGINT) AS zero_crossings
  FROM flips GROUP BY 1
),
frames AS (
  SELECT doc_id, frame, CAST(sum(s * s) AS BIGINT) AS fe
  FROM samples GROUP BY 1, 2
),
peaks AS (
  SELECT doc_id, CAST(max(fe) AS BIGINT) AS peak_frame_energy
  FROM frames GROUP BY 1
)
SELECT doc_id, n_samples, energy, zero_crossings, peak_frame_energy
FROM agg JOIN zc USING (doc_id) JOIN peaks USING (doc_id)
"""


FRAME_BYTES = 100  # stub "frame" size
FRAME_STRIDE = 2  # sample every 2nd frame


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over 'video' payloads: one row in, one row out per
    sampled fixed-size byte chunk (every ``FRAME_STRIDE``-th frame) --
    the 1->N expansion shape of real video frame extraction, as a narrow
    ``mapInPandas`` with zero shuffle. A real decoder replaces the
    byte-slice with actual frame decode; an md5-per-chunk keeps the stub
    under the full value-hash gate. The fingerprint is md5 of the chunk's
    UPPERCASE HEX (not the raw bytes): DuckDB's md5 only accepts VARCHAR,
    so hashing the hex form is the one encoding both engines can compute
    byte-exactly for ANY payload, including non-UTF8 binary and non-ASCII
    text -- no character-slice == byte-slice assumption."""
    # not fanned out: same small-slice shape as audio_features (A/B 1.57x)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 2)  # the 'video' modality slice
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    frame_bytes, frame_stride = FRAME_BYTES, FRAME_STRIDE

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for idx in range(0, n_frames, frame_stride):
                    chunk = data[idx * frame_bytes : (idx + 1) * frame_bytes]
                    fp = _hashlib.md5(chunk.hex().upper().encode()).hexdigest()
                    rows.append((int(doc_id), idx, fp, len(chunk)))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_md5", "frame_len"]
            )

    return docs.mapInPandas(
        sample_batches,
        schema="doc_id bigint, frame_idx bigint, frame_md5 string, frame_len bigint",
    )


SQL_FRAME_SAMPLE = f"""
WITH v AS (SELECT doc_id, hex(encode(text)) AS h FROM documents WHERE doc_id % 3 = 2),
idx AS (
  SELECT doc_id, h,
         unnest(range(0, (length(h) // 2 + {FRAME_BYTES - 1}) // {FRAME_BYTES},
                      {FRAME_STRIDE})) AS frame_idx
  FROM v
)
SELECT doc_id, frame_idx,
       md5(substr(h, frame_idx * {2 * FRAME_BYTES} + 1, {2 * FRAME_BYTES})) AS frame_md5,
       CAST(length(substr(h, frame_idx * {2 * FRAME_BYTES} + 1, {2 * FRAME_BYTES})) // 2
            AS BIGINT) AS frame_len
FROM idx
"""


# --- perceptual-hash image dedup: multimodal x dedup family ---
#
# aHash-style block-mean hash on a fixed 4x4 grid: pixel (y, x) maps to
# block (y*4//h, x*4//w) -- integer-exact "resize" both engines can
# express -- and bit b is set iff the block's gray sum exceeds its share
# of the image total (cross-multiplied, so the comparison stays in exact
# integers).
PHASH_BITS = 16


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 16-bit block-mean perceptual hash from the DECODED
    pixels (real BMP parse, Arrow-batched, zero shuffle) -- the image
    twin of ``simhash`` over text. All block statistics are exact
    integer sums, so the engine's decode path and the oracle's
    closed-form pixel algebra must produce bit-identical hashes."""
    images = spark.read.parquet(ensure_image_fixture(spark, sf_dir))
    from ..functions.imaging import bmp_codec

    _, decode_bmp = bmp_codec()

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["bmp"]):
                arr = decode_bmp(bytes(payload)).astype(_np.int64)
                h, w, _ = arr.shape
                gray = arr.sum(axis=2)
                blk = (
                    (_np.arange(h) * 4 // h)[:, None] * 4
                    + (_np.arange(w) * 4 // w)[None, :]
                )
                gb = _np.zeros(16, dtype=_np.int64)
                nb = _np.zeros(16, dtype=_np.int64)
                _np.add.at(gb, blk.ravel(), gray.ravel())
                _np.add.at(nb, blk.ravel(), 1)
                bits = (gb * (w * h)) > (int(gray.sum()) * nb)
                rows.append((int(doc_id), int((bits << _np.arange(16)).sum())))
            yield _pd.DataFrame(rows, columns=["doc_id", "phash"])

    return images.mapInPandas(phash_batches, schema="doc_id bigint, phash int")


def image_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-dup image clusters: hash-groupBy on the 16-bit phash
    (the ``dedup_exact`` shape -- one map-side-combinable aggregate, no
    self-join), reporting every cluster of >= 2 images with a
    deterministic representative (min doc_id). This is deliberately the
    CLUSTER form, not a Hamming-pair form: measured on this corpus the
    synthetic gradient images collapse to ~105 distinct hashes over 500
    docs, so a ham<=1 pair listing is output-quadratic within clusters
    (8,505 pairs at sf0.01, ~1M at sf0.1) -- the exact blow-up the
    repo's pair operators exist to avoid; a production image-dedup keeps
    one representative per cluster and the banded-Hamming machinery for
    NEAR-dups is already demonstrated by ``simhash_neardup_pairs``
    (identical banding applies to this 16-bit hash verbatim). What this
    operator adds is the decode: every hash bit must survive the real
    BMP parse bit-identically to the oracle's closed-form pixel algebra."""
    sig = image_phash(spark, sf_dir)
    return (
        sig.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


SQL_IMAGE_PHASH_CLUSTERS = f"""
WITH dims AS (SELECT doc_id, {IMG_W} AS w, {IMG_H} AS h FROM documents),
ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM dims),
xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
cs AS (SELECT doc_id, w, h, y, x, unnest(range(0, 3)) AS c FROM xs),
px AS (SELECT doc_id, w, h, y, x, c, {IMG_PIXEL} AS v FROM cs),
gray AS (
  SELECT doc_id, w, h, y, x, CAST(sum(v) AS BIGINT) AS g
  FROM px GROUP BY 1, 2, 3, 4, 5
),
blk AS (
  SELECT doc_id, (y * 4 // h) * 4 + (x * 4 // w) AS b, w, h, g FROM gray
),
bsum AS (
  SELECT doc_id, b, w, h, CAST(sum(g) AS BIGINT) AS gb, count(*) AS nb
  FROM blk GROUP BY 1, 2, 3, 4
),
tot AS (
  SELECT doc_id, CAST(sum(gb) AS BIGINT) AS gt FROM bsum GROUP BY 1
),
ph AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN gb * w * h > gt * nb THEN 1 << b ELSE 0 END) AS INT)
             AS phash
  FROM bsum JOIN tot USING (doc_id) GROUP BY doc_id
)
SELECT phash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM ph GROUP BY phash HAVING count(*) >= 2
"""


def register(reg: Registry) -> None:
    reg.add("multimodal_meta", multimodal_meta, SQL_MULTIMODAL_META, "binary payload metadata")
    reg.add(
        "image_phash_clusters",
        image_phash_clusters,
        SQL_IMAGE_PHASH_CLUSTERS,
        "perceptual-hash image dedup clusters: real decode, hash-groupBy",
    )
    reg.add(
        "audio_features",
        audio_features,
        SQL_AUDIO_FEATURES,
        "PCM-style audio features (energy/ZCR/peak frame) via mapInPandas",
    )
    reg.add(
        "multimodal_features",
        multimodal_features,
        SQL_MULTIMODAL_FEATURES,
        "REAL BMP decode via mapInPandas, closed-form pixel oracle",
    )
    reg.add(
        "multimodal_frame_sample",
        multimodal_frame_sample,
        SQL_FRAME_SAMPLE,
        "1->N frame sampling via mapInPandas",
    )
