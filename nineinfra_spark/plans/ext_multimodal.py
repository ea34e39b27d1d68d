"""[EXT] Multimodal column handling (SURVEY.md §2.10 [EXT]).

Treats media payloads as opaque ``binary`` columns with typed
metadata — the lakehouse pattern for image/audio/video at 100 TB:
bytes live in parquet binary columns (or object-store references),
metadata in plain columns, and decode/feature-extraction runs as
Arrow-batched Python over ``mapInPandas``.

Decode: PPM (binary P6) decodes FOR REAL — ``decode_ppm`` is a full
parser on numpy alone, driven end-to-end through ``mapInPandas`` by
``mm_ppm_decode_stats`` with the channel sums oracle-verified.
Entropy-coded formats (png/jpeg/wav) need codec libraries this
container doesn't ship; for those ``decode_image`` raises and the
byte-level feature extractors stand in. The Spark-side plumbing —
binary schema, Arrow batch shape, partition behavior, UDF
signatures — is identical either way, so swapping in a JPEG codec
changes one function, not a plan.

The testdata has no binary table, so payloads are derived
deterministically from ``documents.text`` (utf-8 bytes). That keeps
every query oracle-able: DuckDB computes the same bytes via
``encode()``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.operators.lsh import band_pairs
from nineinfra_spark.plans._util import spread, t
from nineinfra_spark.plans.registry import query

N_HIST_BUCKETS = 8


def payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, fmt, width, height).

    The binary payload + typed metadata shape every multimodal table
    here uses; metadata is deterministic so oracles can replicate it.

    Measured r16: a ``spread`` here (parallelizing the single-file
    scan) LOST ~0.1 s at sf0.1 — the byte-histogram consumers do too
    little per-row work to amortize the exchange at 5k docs. Left
    serial; a real many-file media corpus parallelizes in the scan.
    """
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("png"), F.lit("jpeg"), F.lit("wav")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("fmt"),
        (16 + (F.col("doc_id") % 5) * 8).cast("int").alias("width"),
        (16 + (F.col("doc_id") % 7) * 8).cast("int").alias("height"),
    )


def decode_image(payload: bytes, fmt: str) -> object:
    """Decode dispatch for the binary media column.

    ``ppm`` and ``wav`` decode FOR REAL (:func:`decode_ppm` — a full
    P6 parser, :func:`decode_wav` — a chunk-walking RIFF/WAVE PCM
    parser; both on numpy/struct alone, exercised end-to-end by
    ``mm_ppm_decode_stats`` / ``mm_wav_decode_stats``). Entropy-coded
    formats (png/jpeg and compressed audio) need external codecs this
    container doesn't ship and raise — the one remaining env-blocked
    integration point, scoped to the codec, not the pipeline.
    """
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "wav":
        return decode_wav(payload)
    raise NotImplementedError(
        f"decoding {fmt!r} requires a codec library not present in this "
        "environment; ppm and wav decode natively (decode_ppm/"
        "decode_wav), and the byte-level feature extractors cover the rest"
    )


@query(
    "mm_metadata_extract",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
           octet_length(encode(text)) AS n_bytes,
           CAST(16 + (doc_id % 5) * 8 AS INT) AS width,
           CAST(16 + (doc_id % 7) * 8 AS INT) AS height,
           CAST(16 + (doc_id % 5) * 8 AS INT) * CAST(16 + (doc_id % 7) * 8 AS INT) AS n_pixels
    FROM documents
    """,
    tags=("ext", "multimodal"),
)
def mm_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata projection over a binary media column: byte
    size from the binary payload itself plus declared dimensions.
    Pure per-row projection on the binary column — scan-speed at any
    scale, and the payload column is pruned away by Catalyst wherever
    a query touches only metadata."""
    return payloads(spark, sf_dir).select(
        "doc_id",
        "fmt",
        F.length("payload").alias("n_bytes"),
        "width",
        "height",
        (F.col("width") * F.col("height")).alias("n_pixels"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text), 16),
                              i -> ascii(substr(text, CAST(i AS INT), 1))) AS frames
        FROM documents
    )
    SELECT doc_id, len(frames) AS n_frames,
           CAST(list_aggregate(frames, 'sum') AS BIGINT) AS frame_checksum
    FROM f
    """,
    tags=("ext", "multimodal"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a media stream: take every 16th byte as a
    'frame' (stand-in for video frame extraction), emit frame count +
    checksum. The access pattern — strided reads within one row's
    payload, no cross-row state — is exactly how real frame sampling
    distributes: rows are independent, so partitioning is free."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(text), 16), i -> ascii(substr(text, i, 1)))"
            ).alias("frames"),
        )
        .select(
            "doc_id",
            F.size("frames").alias("n_frames"),
            F.expr("aggregate(frames, 0L, (acc, x) -> acc + x)").alias("frame_checksum"),
        )
    )


def _byte_histogram_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-payload byte histogram (deterministic
    fake 'decode' — see module docstring). Vectorized per Arrow batch;
    emits a fixed set of scalar feature columns (h0..h7) like a real
    embedding extractor would emit fixed-shape features. Scalar
    columns (not array<double>) keep the row hashable for downstream
    row-wise tooling and make the result exactly oracle-able."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist = np.bincount(arr >> 5, minlength=N_HIST_BUCKETS)
            row = {"doc_id": int(doc_id), "n_bytes": int(len(arr))}
            for k in range(N_HIST_BUCKETS):
                row[f"h{k}"] = int(hist[k])
            out.append(row)
        yield pd.DataFrame(out)


_HIST_ORACLE = """
    WITH b AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               hex(encode(text)) AS hx
        FROM documents
    )
    SELECT doc_id, n_bytes,
{bucket_cols}
    FROM b
"""
# byte >> 5 == hi_nibble >> 1, so the bucket of byte i is determined by
# the i-th odd hex digit alone — exact integer arithmetic, no float.
_BUCKET_COL = (
    "        len(list_filter(range(1, n_bytes + 1), "
    "i -> (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) // 2 = {k}"
    ")) AS h{k}"
)


@query(
    "mm_decode_features",
    oracle=_HIST_ORACLE.format(
        bucket_cols=",\n".join(_BUCKET_COL.format(k=k) for k in range(N_HIST_BUCKETS))
    ),
    tags=("ext", "multimodal", "mapInPandas"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``:
    Arrow-batched rows → numpy per batch → fixed-shape integer features
    (8-bucket byte histogram as the deterministic decode stand-in; the
    real decoder plugs into ``decode_image``).

    This is THE pattern for multimodal feature extraction at 100 TB:
    embarrassingly parallel over partitions, Arrow transfer (no
    per-row pickling), bounded memory per batch (Spark caps Arrow
    batch rows), output schema fixed so downstream plans are stable.
    The histogram is fully deterministic, so it carries a real DuckDB
    oracle (bucket counts recomputed from the hex of the encoded
    payload — ``byte >> 5`` depends only on the high nibble)."""
    src = payloads(spark, sf_dir).select("doc_id", "payload")
    schema = "doc_id long, n_bytes long, " + ", ".join(
        f"h{k} long" for k in range(N_HIST_BUCKETS)
    )
    return src.mapInPandas(_byte_histogram_batches, schema).orderBy("doc_id")


# -- REAL decode: PPM (pure numpy, no media libraries) ----------------------

PPM_W, PPM_H = 10, 10  # synthetic payload raster
_PPM_BYTES = PPM_W * PPM_H * 3


def decode_ppm(payload: bytes) -> "object":
    """REAL image decode for binary P6 PPM — a full parser for an
    actual on-disk image format, implemented on numpy alone (PPM is
    magic + ASCII header + raw RGB24, so no media library is needed):
    magic check, comment lines, arbitrary header whitespace, maxval
    validation, truncation check, reshape to (height, width, 3).

    This replaces the former blanket decode stub for the one format
    the environment can genuinely decode; png/jpeg/wav still raise in
    :func:`decode_image` (entropy-coded formats need external codecs).
    """
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    # header = magic + 3 ASCII ints (width, height, maxval), with
    # whitespace separators and optional '#' comment lines
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    n_samples = width * height * 3
    if len(payload) - pos < n_samples:
        raise ValueError("truncated PPM payload")
    data = np.frombuffer(payload, dtype=np.uint8, count=n_samples, offset=pos)
    return data.reshape(height, width, 3)


def ppm_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL binary P6 PPM images: a valid header plus a
    10×10 RGB raster whose samples are the doc's text bytes tiled to
    length (ASCII corpus, so DuckDB's ascii(substr(...)) sees the
    identical sample values)."""
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 38)
    header = F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n")
    body = F.substring(F.repeat(F.col("text"), 8), 1, _PPM_BYTES)
    return docs.select(
        "doc_id",
        F.encode(F.concat(header, body), "UTF-8").alias("payload"),
    )


def _ppm_stats_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_ppm(bytes(payload))
            h, w, _ = img.shape
            sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            rows.append(
                (
                    int(doc_id),
                    int(w),
                    int(h),
                    int(sums[0]),
                    int(sums[1]),
                    int(sums[2]),
                )
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "width", "height", "r_sum", "g_sum", "b_sum"]
        )


@query(
    "mm_ppm_decode_stats",
    oracle=f"""
    WITH rep AS (
        SELECT doc_id, substr(repeat(text, 8), 1, {_PPM_BYTES}) AS body
        FROM documents WHERE length(text) >= 38
    )
    SELECT doc_id,
           {PPM_W} AS width, {PPM_H} AS height,
           CAST(list_aggregate(list_transform(
               generate_series(1, {_PPM_BYTES}, 3),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS r_sum,
           CAST(list_aggregate(list_transform(
               generate_series(2, {_PPM_BYTES}, 3),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS g_sum,
           CAST(list_aggregate(list_transform(
               generate_series(3, {_PPM_BYTES}, 3),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS b_sum
    FROM rep
    """,
    tags=("ext", "multimodal", "mapInPandas", "real-decode"),
)
def mm_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL image decode in the Arrow pipeline: valid P6
    PPM payloads are built per document, then ``mapInPandas`` runs the
    actual parser (``decode_ppm`` — header grammar, raster reshape)
    and emits per-channel integer sums of the decoded pixels. The
    DuckDB oracle recomputes the channel sums from the same tiled
    bytes arithmetically, so a parser that misreads the header, drops
    a row of the raster, or swaps channels fails the hash.

    Scale posture: identical to `mm_decode_features` — embarrassingly
    parallel mapInPandas over the binary column, Arrow transfer,
    fixed output schema, integer-exact stats. Swapping in a JPEG
    decoder changes ONE function (`decode_image`), not the plan."""
    src = ppm_payloads(spark, sf_dir)
    schema = (
        "doc_id long, width int, height int, r_sum long, g_sum long, b_sum long"
    )
    return src.mapInPandas(_ppm_stats_batches, schema)


# -- REAL audio decode: RIFF/WAVE PCM ------------------------------------

WAV_FRAMES = 150  # frames per payload
WAV_CHANNELS = 2  # interleaved stereo
WAV_RATE = 8000
_WAV_DATA_BYTES = WAV_FRAMES * WAV_CHANNELS  # 8-bit PCM: 1 byte/sample


def _wav_header() -> bytes:
    """Canonical RIFF/WAVE header for the synthetic payloads: fmt
    chunk (PCM, 2ch, 8 kHz, 8-bit), a LIST chunk in the MIDDLE (so a
    parser that assumes 'data follows fmt' fails), then data."""
    import struct

    fmt = struct.pack(
        "<IHHIIHH", 16, 1, WAV_CHANNELS, WAV_RATE,
        WAV_RATE * WAV_CHANNELS, WAV_CHANNELS, 8,
    )
    list_chunk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    riff_size = 4 + (8 + 16) + len(list_chunk) + (8 + _WAV_DATA_BYTES)
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
        + b"fmt " + fmt
        + list_chunk
        + b"data" + struct.pack("<I", _WAV_DATA_BYTES)
    )


def decode_wav(payload: bytes) -> "object":
    """REAL audio decode for RIFF/WAVE PCM — a chunk-walking parser on
    numpy/struct alone (WAV PCM is a container + raw samples, so no
    media library is needed): RIFF/WAVE magic, fmt chunk validation
    (PCM only, 8-bit only here), arbitrary chunk order with unknown
    chunks skipped by their declared size (word-aligned), truncation
    checks, interleaved samples reshaped to (n_frames, n_channels).

    The audio-modality twin of :func:`decode_ppm`; compressed codecs
    (mp3/aac/opus) remain env-blocked at the codec, not the pipeline.
    """
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csize,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + csize]
        if len(body) < csize:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt_chunk = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, _rate, _brate, _align, bits = fmt_chunk
    if audio_format != 1:
        raise ValueError(f"only PCM (format 1) supported, got {audio_format}")
    if bits != 8:
        raise ValueError(f"only 8-bit PCM supported here, got {bits}")
    if len(data) % n_channels:
        raise ValueError("data chunk not a whole number of frames")
    samples = np.frombuffer(data, dtype=np.uint8)
    return samples.reshape(-1, n_channels)


def wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL RIFF/WAVE PCM payloads: the canonical header
    plus 150 stereo frames whose interleaved samples are the doc's
    text bytes tiled to length (ASCII corpus, so DuckDB's
    ascii(substr(...)) sees identical sample values)."""
    docs = spread(
        t(spark, sf_dir, "documents").filter(F.length("text") >= 38), "doc_id"
    )
    body = F.substring(F.repeat(F.col("text"), 8), 1, _WAV_DATA_BYTES)
    return docs.select(
        "doc_id",
        F.concat(F.lit(_wav_header()), F.encode(body, "UTF-8")).alias("payload"),
    )


def _wav_stats_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            pcm = decode_wav(bytes(payload))
            n_frames, n_ch = pcm.shape
            sums = pcm.sum(axis=0, dtype=np.int64)
            peaks = pcm.max(axis=0)
            rows.append(
                (
                    int(doc_id), int(n_frames), int(n_ch), WAV_RATE,
                    int(sums[0]), int(sums[1]),
                    int(peaks[0]), int(peaks[1]),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_frames", "n_channels", "sample_rate",
                "l_sum", "r_sum", "l_peak", "r_peak",
            ],
        )


@query(
    "mm_wav_decode_stats",
    oracle=f"""
    WITH rep AS (
        SELECT doc_id, substr(repeat(text, 8), 1, {_WAV_DATA_BYTES}) AS body
        FROM documents WHERE length(text) >= 38
    )
    SELECT doc_id,
           {WAV_FRAMES} AS n_frames, {WAV_CHANNELS} AS n_channels,
           {WAV_RATE} AS sample_rate,
           CAST(list_aggregate(list_transform(
               generate_series(1, {_WAV_DATA_BYTES}, 2),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS l_sum,
           CAST(list_aggregate(list_transform(
               generate_series(2, {_WAV_DATA_BYTES}, 2),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS r_sum,
           CAST(list_aggregate(list_transform(
               generate_series(1, {_WAV_DATA_BYTES}, 2),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'max') AS INT)
               AS l_peak,
           CAST(list_aggregate(list_transform(
               generate_series(2, {_WAV_DATA_BYTES}, 2),
               i -> ascii(substr(body, CAST(i AS INT), 1))), 'max') AS INT)
               AS r_peak
    FROM rep
    """,
    tags=("ext", "multimodal", "mapInPandas", "real-decode", "audio"),
)
def mm_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL audio decode in the Arrow pipeline — the audio
    twin of `mm_ppm_decode_stats`: valid RIFF/WAVE PCM payloads (fmt
    chunk + a LIST chunk deliberately in the middle + data chunk) are
    built per document, ``mapInPandas`` runs the actual chunk-walking
    parser (``decode_wav``) and emits per-channel integer sums and
    peaks of the decoded samples. The DuckDB oracle recomputes them
    arithmetically from the same tiled bytes, so a parser that
    miswalks chunks, drops frames, or swaps channels fails the hash.

    Scale posture: embarrassingly parallel mapInPandas over the
    binary column, Arrow transfer, fixed schema, integer-exact stats;
    a compressed-codec decoder would change ONE function, not the
    plan."""
    src = wav_payloads(spark, sf_dir)
    schema = (
        "doc_id long, n_frames int, n_channels int, sample_rate int, "
        "l_sum long, r_sum long, l_peak int, r_peak int"
    )
    return src.mapInPandas(_wav_stats_batches, schema)


# -- perceptual-hash image near-dup ----------------------------------------

#: 5×5 block grid over the 10×10 raster → 25-bit average hash.
PHASH_GRID = 5
PHASH_BITS = PHASH_GRID * PHASH_GRID
#: Near-dup verification threshold. 5 bands × 5 bits: by pigeonhole,
#: ANY pair at hamming ≤ 4 must agree on at least one whole band, so
#: band-collision blocking has GUARANTEED (not probabilistic) recall
#: at this threshold — which is exactly what lets the oracle state the
#: declarative all-pairs predicate while the plan runs banded.
PHASH_HAM_T = 4
_PHASH_BANDS = 5
_BAND_BITS = PHASH_BITS // _PHASH_BANDS


def ahash_grid(img, grid: int) -> int:
    """grid²-bit average hash of a decoded HxWx3 uint8 raster:
    block luminance sums (r+g+b over the block — the /3 and /block
    means cancel against the global mean comparison), bit b set iff
    grid²·block_sum > total_sum (strict, cross-multiplied integers —
    no float mean can flip an engine). Python ints throughout:
    exact."""
    import numpy as np

    h, w, _ = img.shape
    bits = grid * grid
    bh, bw = h // grid, w // grid
    gray = img.sum(axis=2, dtype=np.int64)  # r+g+b per pixel
    blocks = gray.reshape(grid, bh, grid, bw).sum(axis=(1, 3), dtype=np.int64)
    total = int(blocks.sum())
    out = 0
    for bi in range(grid):
        for bj in range(grid):
            if bits * int(blocks[bi, bj]) > total:
                out |= 1 << (bi * grid + bj)
    return out


def ahash_25(img) -> int:
    """25-bit average hash of a 10×10 raster (5×5 grid of 2×2-pixel
    blocks) — see :func:`ahash_grid`."""
    return ahash_grid(img, PHASH_GRID)


def _phash_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    for pdf in batches:
        rows = [
            (int(doc_id), ahash_25(decode_ppm(bytes(payload))))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "phash"])


@query(
    "mm_phash_neardup",
    oracle=f"""
    WITH rep AS (
        SELECT doc_id, substr(repeat(text, 8), 1, {_PPM_BYTES}) AS body
        FROM documents WHERE length(text) >= 38
    ),
    bs AS (
        SELECT doc_id, list_transform(generate_series(0, {PHASH_BITS - 1}), b ->
            list_aggregate(list_transform(generate_series(0, 11), k ->
                ascii(substr(body,
                    CAST((2*(b//{PHASH_GRID}) + (k//3)//2)*{PPM_W * 3}
                         + (2*(b%{PHASH_GRID}) + (k//3)%2)*3 + (k%3) + 1
                         AS INT), 1))), 'sum')) AS blocks
        FROM rep
    ),
    h AS (
        SELECT doc_id,
               list_aggregate(list_transform(generate_series(1, {PHASH_BITS}), i ->
                   CASE WHEN {PHASH_BITS}*blocks[i] > list_aggregate(blocks, 'sum')
                        THEN 1 << (i-1) ELSE 0 END), 'sum') AS phash
        FROM bs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_T}
    """,
    tags=("ext", "multimodal", "dedup", "phash", "mapInPandas"),
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate pairs by perceptual hash — the
    content-level multimodal dedup path (vs `dedup_embedding_clusters`'
    model-level one): every image decodes FOR REAL (`decode_ppm`
    through mapInPandas), hashes to a 25-bit block-luminance aHash
    (`ahash_25`), and pairs at hamming ≤ {PHASH_HAM_T} are reported.

    Scale posture: candidates come from LSH banding over the hash —
    5 bands × 5 bits, equi-join per band, pairs deduped — never an
    all-pairs scan; and at THIS threshold the banding is EXACT, not
    approximate: hamming ≤ 4 errors cannot touch all 5 bands
    (pigeonhole), so band-blocking recall is 100% and the DuckDB
    oracle can state the declarative all-pairs predicate the plan
    must reproduce hash-for-hash. (A round-6 byte-HISTOGRAM variant
    was measured degenerate — letter-frequency soup collides
    everything; the positional block structure is what makes this key
    selective: 489/500 distinct hashes, max band posting list 33 at
    sf0.01.) Scale accounting (measured): the tiled sf1 corpus holds
    950k TRUE pairs at this radius vs 8.1k at sf0.1 — the OUTPUT is
    quadratic in corpus near-dup density, so wall grows with it
    (×25 for ×10 data, i.e. 4× SUB-linear against the ×117 output and
    ×102 candidate growth). A real JPEG corpus swaps `decode_ppm` for
    the codec and 64-bit pHash for the 25-bit grid — 16-bit bands
    (65k-key space) then keep posting lists short, and a pipeline
    that only needs canonicals should consume the CLUSTER form
    (`dedup_embedding_clusters` shape) instead of the pair relation."""
    src = ppm_payloads(spark, sf_dir)
    hashes = src.mapInPandas(_phash_batches, "doc_id long, phash long")
    hashes = hashes.localCheckpoint(eager=False)  # self-join input, see operators/lsh.py
    # The 5-bit band keys crowd (~2M raw candidates at sf0.1), so the
    # 8-byte phash rides through the band join and hamming is verified
    # before the pair distinct; distinct-then-re-attach measured 2.20 s
    # (OPTIMIZATION_r16.md). Banding recall is exact at this radius
    # (pigeonhole, above).
    hamming = F.expr("cast(bit_count(phash_a ^ phash_b) as int)").alias("hamming")
    return band_pairs(
        hashes,
        "doc_id",
        [F.expr(f"(phash >> {b * _BAND_BITS}) & 31") for b in range(_PHASH_BANDS)],
        names=("doc_a", "doc_b"),
        carry=["phash"],
        out=[hamming],
        keep=F.col("hamming") <= PHASH_HAM_T,
    )


# -- 64-bit perceptual-hash near-dup (the web-scale variant) -----------------

#: 8×8 block grid over a 16×16 raster → 64-bit average hash — the
#: production geometry the 25-bit query's docstring promises: 4 bands
#: × 16 bits give a 65k-key space per band, so posting lists stay
#: short at corpus scale (candidate growth is bounded by band-key
#: collisions, not by true-pair count).
PHASH64_GRID = 8
PHASH64_BITS = PHASH64_GRID * PHASH64_GRID
PPM64_W, PPM64_H = 16, 16
_PPM64_BYTES = PPM64_W * PPM64_H * 3
#: 4 bands × 16 bits: by pigeonhole, ANY pair at hamming ≤ 3 must
#: agree on at least one whole band — banding recall is GUARANTEED at
#: this radius, so the DuckDB oracle can state the all-pairs predicate
#: while the plan runs banded (same contract as the 25-bit query).
PHASH64_HAM_T = 3
_PHASH64_BANDS = 4
_BAND64_BITS = PHASH64_BITS // _PHASH64_BANDS


def ppm64_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL binary P6 PPM images at 16×16, TWO renditions
    per document: the original raster (text bytes tiled to length)
    and a locally-edited copy (first two pixels overwritten — a
    thumbnail re-render / watermark stamp stand-in). Near-dup
    detection between renditions of the same asset is the actual
    pHash use-case; the corpus therefore contains genuine near-pairs
    at small hamming distances rather than only organic ham≈30
    strangers. Rendition ids MIRROR the original's: ``-doc_id - 1``
    — collision-free against every non-negative doc_id at any corpus
    size (a fixed additive offset would alias once doc_id crosses
    it)."""
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 38)
    body = F.substring(F.repeat(F.col("text"), 21), 1, _PPM64_BYTES)
    orig = docs.select(F.col("doc_id"), body.alias("body"))
    rend = docs.select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat(
            F.lit("zzzzzz"), F.substring(body, 7, _PPM64_BYTES - 6)
        ).alias("body"),
    )
    header = F.lit(f"P6\n{PPM64_W} {PPM64_H}\n255\n")
    return orig.unionAll(rend).select(
        "doc_id",
        F.encode(F.concat(header, F.col("body")), "UTF-8").alias("payload"),
    )


def _phash64_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            h = ahash_grid(decode_ppm(bytes(payload)), PHASH64_GRID)
            if h >= 1 << 63:  # pack bit 63 into a SIGNED int64
                h -= 1 << 64
            rows.append((int(doc_id), h))
        yield pd.DataFrame(rows, columns=["doc_id", "phash"])


@query(
    "mm_phash_neardup_64",
    oracle=f"""
    WITH rep0 AS (
        SELECT doc_id, substr(repeat(text, 21), 1, {_PPM64_BYTES}) AS body
        FROM documents WHERE length(text) >= 38
    ),
    rep AS (
        SELECT doc_id, body FROM rep0
        UNION ALL
        SELECT -doc_id - 1, 'zzzzzz' || substr(body, 7)
        FROM rep0
    ),
    bs AS (
        SELECT doc_id, list_transform(generate_series(0, {PHASH64_BITS - 1}), b ->
            list_aggregate(list_transform(generate_series(0, 11), k ->
                ascii(substr(body,
                    CAST((2*(b//{PHASH64_GRID}) + (k//3)//2)*{PPM64_W * 3}
                         + (2*(b%{PHASH64_GRID}) + (k//3)%2)*3 + (k%3) + 1
                         AS INT), 1))), 'sum')) AS blocks
        FROM rep
    ),
    h AS (
        SELECT doc_id, blocks, list_aggregate(blocks, 'sum') AS total
        FROM bs
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(list_aggregate(list_transform(
                   generate_series(1, {PHASH64_BITS}), i ->
                   CASE WHEN ({PHASH64_BITS}*a.blocks[i] > a.total)
                             != ({PHASH64_BITS}*b.blocks[i] > b.total)
                        THEN 1 ELSE 0 END), 'sum') AS INT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
    ) WHERE hamming <= {PHASH64_HAM_T}
    """,
    tags=("ext", "multimodal", "dedup", "phash", "mapInPandas"),
)
def mm_phash_neardup_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-BIT image perceptual-hash near-dup — the web-scale geometry
    the 25-bit `mm_phash_neardup` docstring defers to: 16×16 rasters
    decode FOR REAL (`decode_ppm` through mapInPandas), hash to a
    64-bit 8×8 block-luminance aHash (`ahash_grid`), and rendition
    pairs at hamming ≤ {PHASH64_HAM_T} are reported. The corpus holds
    two renditions per asset (original + locally-edited copy — see
    `ppm64_payloads`), so the result is the original↔rendition match
    relation, the dedup decision an image pipeline actually needs.

    Scale posture: candidates come from LSH banding — 4 bands ×
    16 bits, equi-join per band over a 65k-key space, pairs deduped —
    never an all-pairs scan; at hamming ≤ 3 the banding is EXACT by
    pigeonhole (4 bands cannot all be touched by 3 errors), so the
    DuckDB oracle states the declarative all-pairs predicate the
    banded plan must reproduce hash-for-hash. vs the 25-bit variant:
    the 16-bit band key space is 2048× larger, so posting lists — and
    therefore candidate pairs — are bounded by near-duplicate density
    rather than by band-key crowding (sf0.01: max posting list 2 at
    64-bit vs 33 at 25-bit); this is the geometry whose candidate
    growth the sf1 proof tracks against posting lists, not pair
    count. Bit 63 packs into a SIGNED int64 (two's complement); band
    extraction masks after the arithmetic shift, and XOR+bit_count
    are sign-transparent, so the signed representation is free."""
    src = ppm64_payloads(spark, sf_dir)
    hashes = src.mapInPandas(_phash64_batches, "doc_id long, phash long")
    hashes = hashes.localCheckpoint(eager=False)  # self-join input, see operators/lsh.py
    # Distinct-then-re-attach, unlike the 25-bit query: the 65k-key
    # bands never crowd (posting lists 1-2, candidates ≈ true pairs),
    # so carrying the phash only widens the band-join rows. A/B
    # median-of-5 ×2 interleaved: carry 1.59/1.25 s vs re-attach
    # 1.35/1.19 s.
    cand = band_pairs(
        hashes,
        "doc_id",
        [
            F.expr(f"(phash >> {b * _BAND64_BITS}) & 65535")
            for b in range(_PHASH64_BANDS)
        ],
        names=("doc_a", "doc_b"),
    )
    ha = hashes.select(F.col("doc_id").alias("doc_a"), F.col("phash").alias("pa"))
    hb = hashes.select(F.col("doc_id").alias("doc_b"), F.col("phash").alias("pb"))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("cast(bit_count(pa ^ pb) as int)").alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH64_HAM_T)
    )
