"""Multimodal column plumbing (north-star §3): opaque binary payloads with
typed metadata, processed by Arrow-batched pandas functions.

The container has no image/audio codecs, so the decode kernels are
deterministic fakes behind a clearly-marked seam (``_decode_stub``) — the
Spark-side contract is real and tested: schema (binary + metadata struct),
mapInPandas batch iteration, partition sizing, and the select/filter
pushdown AROUND the opaque column.

At 100 TB the decisive property is that binary payloads never pass through a
shuffle: derive features first (mapInPandas, narrow), then aggregate/join on
the small feature columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import fixture_memo, load_table, scratch_dir
from ..plans.registry import register

# Output schema for extract_features — metadata stays typed, payload dropped.
FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "fake_width int, fake_height int, content_sha string"
)


def _decode_stub(payload: bytes) -> tuple[int, int]:
    """STUB for a real image/audio decode (no codec libs in this container).

    Deterministic fake dimensions derived from the payload so tests are
    stable. Replace with PIL/torchaudio/ffmpeg in a real deployment —
    signature and batch shape stay identical.

    Uses a stable digest, NOT Python's builtin hash(): that one is salted
    per-process (PYTHONHASHSEED), and task output that differs across
    workers/retries is a correctness hazard under Spark's task retry.
    """
    import hashlib

    h = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big") & 0x7FFFFFFF
    return 64 + h % 512, 64 + (h >> 9) % 512


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas batch holds ~10k rows of (id, type, bytes);
    per-batch python cost is one vectorized pass, not per-row serde.
    """
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_decode_stub(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(bytes(b)) for b in pdf["payload"]],
                "fake_width": [w for w, _ in dims],
                "fake_height": [h for _, h in dims],
                "content_sha": [hashlib.sha256(bytes(b)).hexdigest()
                                for b in pdf["payload"]],
            })

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Fixture adapter: synthesize a binary payload column from documents
    (cast text→bytes) plus a metadata struct — the canonical multimodal
    row shape: (id, payload binary, meta struct<media_type,n_bytes>)."""
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video").alias("media_type"),
            F.length("text").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


@register(
    "q57_multimodal_features",
    sql="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(length(text) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def q57_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → binary payload + metadata
    struct → mapInPandas feature extraction. The deterministic outputs
    (bytes, sha256) are oracle-checked; the stubbed decode dims are not."""
    docs = load_table(spark, sf_dir, "documents")
    binary = with_binary_payload(docs)
    feats = extract_features(
        binary.select("doc_id", "payload", F.col("meta.media_type").alias("media_type"))
    )
    return feats.select("doc_id", "media_type", "n_bytes", "content_sha")


@register(
    "q58_media_type_rollup",
    sql="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           count(*) AS n_assets,
           CAST(sum(length(text)) AS BIGINT) AS total_bytes,
           round(avg(length(text)), 4) AS avg_bytes
    FROM documents
    GROUP BY 1
    ORDER BY media_type
    """,
)
def q58_media_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset inventory over the metadata struct ONLY — demonstrates that
    aggregations on multimodal tables touch the typed metadata and never
    shuffle the binary payload (ReadSchema excludes it entirely)."""
    docs = load_table(spark, sf_dir, "documents")
    binary = with_binary_payload(docs)
    return (
        binary.groupBy(F.col("meta.media_type").alias("media_type"))
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("meta.n_bytes").cast("bigint").alias("total_bytes"),
            F.round(F.avg("meta.n_bytes"), 4).alias("avg_bytes"),
        )
        .orderBy("media_type")
    )


# Output schema for sample_frames — one row per sampled frame.
FRAME_SCHEMA = ("doc_id bigint, frame_idx int, frame_ts_sec double, "
                "frame_sha string")


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame sampling over video assets: one output row per sampled frame
    (every 2 seconds of asset duration) — the 1-to-N mapInPandas
    expansion shape every video pipeline needs.

    The decode kernel is a deterministic stub (no codecs in this container):
    frame bytes are derived as sha256(payload || frame_idx). Everything
    Spark-side is real — Arrow batch iteration, per-row expansion, typed
    output schema — and a real ffmpeg/PyAV kernel drops into the same seam
    with the identical signature. Binary payloads never cross a shuffle:
    sampling happens in the scan projection; only (id, idx, ts, sha) rows
    flow on."""
    import hashlib
    import math

    def op(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_ts_sec": [],
                   "frame_sha": []}
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                n_frames = max(1, int(math.ceil(row["duration_sec"]
                                                / 2.0)))
                for i in range(n_frames):
                    out["doc_id"].append(row["doc_id"])
                    out["frame_idx"].append(i)
                    out["frame_ts_sec"].append(round(i * 2.0, 3))
                    out["frame_sha"].append(hashlib.sha256(
                        payload + i.to_bytes(4, "big")).hexdigest())
            yield pd.DataFrame(out)

    return assets.mapInPandas(op, schema=FRAME_SCHEMA)


@register(
    "q118_video_frame_sampling",
    sql="""
    WITH v AS (
      SELECT doc_id, length(text) AS n_bytes,
             round(length(text) / 100.0, 2) AS duration_sec
      FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT doc_id, duration_sec,
             unnest(range(0, greatest(CAST(ceil(duration_sec / 2.0) AS BIGINT),
                                      1))) AS frame_idx
      FROM v
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           round(frame_idx * 2.0, 3) AS frame_ts_sec
    FROM frames
    """,
)
def q118_video_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star frame sampling end-to-end: the 'video' subset of the
    multimodal fixture (duration derived deterministically from size, as a
    container-less stand-in for demuxed metadata) expands to one row per
    2-second sample via mapInPandas. The deterministic outputs (doc, idx,
    timestamp) are oracle-checked; the stubbed frame hash is exercised but
    not oracle-compared (no sha256(blob||int) in the oracle engine)."""
    docs = load_table(spark, sf_dir, "documents")
    videos = (with_binary_payload(docs)
              .filter(F.col("meta.media_type") == "video")
              .select("doc_id", "payload",
                      F.round(F.col("meta.n_bytes") / 100.0, 2)
                      .alias("duration_sec")))
    frames = sample_frames(videos)
    return frames.select("doc_id", "frame_idx", "frame_ts_sec")


RESIZE_SCHEMA = (
    "doc_id bigint, fake_width int, fake_height int, "
    "target_width int, target_height int, scale_num bigint, scale_den bigint"
)


def resize_plan(assets: DataFrame) -> DataFrame:
    """Resize AUDIT for image payloads: compute source dims (stubbed decode)
    and the aspect-preserving target dims that fit in 224×224 —
    the planning half of a real resize kernel. The actual pixel resample is
    the stubbed seam (no codec libs here); everything Spark-side is real:
    Arrow batch shape, integer-exact scale ratio (numerator/denominator, no
    float drift across engines), payloads never shuffle (the plan derives
    from dims only).
    """
    import hashlib  # noqa: F401  (mirrors _decode_stub's deterministic digest)
    import pandas as pd

    def op(batches):
        for pdf in batches:
            dims = [_decode_stub(p) for p in pdf["payload"]]
            w = pd.Series([d[0] for d in dims], index=pdf.index)
            h = pd.Series([d[1] for d in dims], index=pdf.index)
            long_side = w.combine(h, max)
            tw = (w * 224 // long_side).astype("int32")
            th = (h * 224 // long_side).astype("int32")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "fake_width": w.astype("int32"),
                "fake_height": h.astype("int32"),
                "target_width": tw,
                "target_height": th,
                "scale_num": pd.Series([224] * len(pdf), index=pdf.index,
                                       dtype="int64"),
                "scale_den": long_side.astype("int64"),
            })

    return assets.select("doc_id", "payload").mapInPandas(op, RESIZE_SCHEMA)


@register(
    "q166_multimodal_resize",
    sql="""
    WITH dims AS (
        SELECT doc_id,
               CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT)
                   & 2147483647 AS h
        FROM documents
    ),
    wh AS (
        SELECT doc_id,
               64 + h % 512 AS w,
               64 + (h // 512) % 512 AS ht
        FROM dims
    )
    SELECT doc_id,
           CAST(w AS INTEGER)  AS fake_width,
           CAST(ht AS INTEGER) AS fake_height,
           CAST(w * 224 // greatest(w, ht) AS INTEGER)  AS target_width,
           CAST(ht * 224 // greatest(w, ht) AS INTEGER) AS target_height,
           CAST(224 AS BIGINT) AS scale_num,
           CAST(greatest(w, ht) AS BIGINT) AS scale_den
    FROM wh ORDER BY doc_id
    """,
)
def q166_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize planning over binary payloads via mapInPandas — now
    ORACLE-checked end to end: the stub decode derives dims from the
    payload's sha256 head bytes with pure integer arithmetic, so the
    DuckDB oracle recomputes the identical plan (digest → dims →
    aspect-preserving integer targets) from the raw text. The unit test
    additionally pins aspect-ratio preservation and fit-in-bounds."""
    docs = load_table(spark, sf_dir, "documents")
    return resize_plan(with_binary_payload(docs)).orderBy("doc_id")


ENERGY_SCHEMA = (
    "doc_id bigint, frame_idx int, start_ms bigint, rms bigint, peak bigint"
)


def audio_energy_frames(assets: DataFrame) -> DataFrame:
    """Audio-modality plumbing: windowed RMS/peak energy for eight 250 ms
    frames per asset — the silence-trim / voice-activity precursor. The
    PCM decode is the stubbed seam (deterministic fake samples derived from the payload
    digest, marked like _decode_stub); the Spark side is the real shape: a
    1-to-N mapInPandas expansion where payload bytes never outlive their
    input batch and only (doc_id, frame stats) rows shuffle onward.
    Integer RMS/peak keep the output engine-exact for tests."""
    import hashlib

    import pandas as pd

    def fake_pcm(payload: bytes, n: int) -> list[int]:
        # STUB decode: n deterministic pseudo-samples in [-32768, 32767]
        # from the payload digest (replace with soundfile/ffmpeg in a real
        # deployment; batch shape and schema stay identical).
        h = hashlib.sha256(payload).digest()
        seed = int.from_bytes(h[:8], "big")
        out = []
        x = seed
        for _ in range(n):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            out.append((x >> 16) % 65536 - 32768)
        return out

    samples_per_frame = 64

    def op(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm = fake_pcm(payload, samples_per_frame * 8)
                for i in range(8):
                    fr = pcm[i * samples_per_frame:(i + 1) * samples_per_frame]
                    rms = int((sum(s * s for s in fr) // len(fr)) ** 0.5)
                    rows.append((int(doc_id), i, i * 250, rms,
                                 max(abs(s) for s in fr)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "start_ms", "rms", "peak"])

    return assets.select("doc_id", "payload").mapInPandas(op, ENERGY_SCHEMA)


@register(
    "q182_audio_energy",
    sql="""
    WITH RECURSIVE
    seed AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substr(sha256(text), 1, 16)) AS UBIGINT)
                    AS HUGEINT) AS x0
        FROM documents
    ),
    gen(doc_id, k, x) AS (
        SELECT doc_id, 0, x0 FROM seed
        UNION ALL
        SELECT doc_id, k + 1,
               (x * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
        FROM gen WHERE k < 512
    ),
    samples AS (
        SELECT doc_id, k - 1 AS idx,
               CAST((x // 65536) % 65536 - 32768 AS BIGINT) AS s
        FROM gen WHERE k >= 1
    )
    SELECT doc_id,
           CAST(idx // 64 AS INTEGER) AS frame_idx,
           CAST((idx // 64) * 250 AS BIGINT) AS start_ms,
           CAST(floor(sqrt(sum(s * s) // 64)) AS BIGINT) AS rms,
           max(abs(s)) AS peak
    FROM samples GROUP BY doc_id, idx // 64
    """,
)
def q182_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-energy extraction over binary payloads — now
    ORACLE-checked: the stubbed PCM decode is a 64-bit LCG seeded from the
    payload digest, which the DuckDB oracle replays exactly in HUGEINT
    arithmetic (512 recursive steps per doc) before computing the same
    integer RMS/peak per 64-sample frame. A pandas-UDF media kernel and a
    recursive-SQL reimplementation agreeing on every frame is the audio
    counterpart of q220's tokenizer cross-check. Completes the multimodal
    set: q57 image features, q118 video frames, q166 resize planning, all
    on the same mapInPandas spine."""
    docs = load_table(spark, sf_dir, "documents")
    return (audio_energy_frames(with_binary_payload(docs))
            .orderBy("doc_id", "frame_idx"))


@register(
    "q236_binary_manifest",
    sql="""
    WITH payloads AS (
        SELECT doc_id, source, encode(text) AS payload
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                    AS n_assets,
           CAST(sum(octet_length(payload)) AS BIGINT)  AS total_bytes,
           CAST(max(octet_length(payload)) AS BIGINT)  AS max_bytes,
           substr(md5(string_agg(md5(CAST(payload AS VARCHAR)), ','
                                 ORDER BY doc_id)), 1, 16) AS content_digest
    FROM payloads GROUP BY source
    """,
)
def q236_binary_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column manifest — the first ORACLE-checked query over opaque
    binary payloads (the multimodal ops q57/q58/q118/q166/q182 are
    rows-only by the decode stubs' nature): text encoded to bytes stands in
    for media blobs, and per-source asset counts, byte totals, and an
    order-stable digest of every payload's base64-md5 pin that binary
    columns survive scan→shuffle→aggregate byte-exactly in both engines.
    Bytes never cross a shuffle here — the per-payload md5 is computed
    before the groupBy, so the exchange carries 32-char digests."""
    from ..sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    per_doc = docs.select(
        "doc_id", "source",
        F.octet_length(payload).alias("nbytes"),
        F.md5(payload).alias("digest"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_assets"),
                 F.sum("nbytes").cast("bigint").alias("total_bytes"),
                 F.max("nbytes").cast("bigint").alias("max_bytes"),
                 F.substring(F.md5(F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list(F.struct("doc_id", "digest"))),
                     lambda s: s["digest"]))), 1, 16).alias("content_digest")))


# ---------------------------------------------------------------------------
# Real container-header kernels (no codec libs needed): PNG IHDR, JPEG SOFn,
# WAV fmt — pure struct-module parsing of the first bytes of a binary
# column. These are the PRODUCTION metadata kernels; the _decode_stub fakes
# above remain only for the text-cast fixtures that aren't valid containers.
# ---------------------------------------------------------------------------

import struct
import zlib


def make_png(width: int, height: int) -> bytes:
    """Minimal structurally-valid PNG: signature + IHDR (with real CRC) +
    IEND. No IDAT — header parsers (ours and real ones) read only IHDR."""
    ihdr = b"IHDR" + struct.pack(">II5B", width, height, 8, 6,  # 8-bit RGBA
                                 0, 0, 0)
    iend = b"IEND"
    return (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + ihdr
            + struct.pack(">I", zlib.crc32(ihdr) & 0xFFFFFFFF)
            + struct.pack(">I", 0) + iend
            + struct.pack(">I", zlib.crc32(iend) & 0xFFFFFFFF))


def make_jpeg(width: int, height: int) -> bytes:
    """Minimal structurally-valid JPEG: SOI + APP0(JFIF) + COM + SOF0 + EOI.
    The COM segment is deliberate — a correct reader must WALK segments to
    SOF, not assume a fixed offset."""
    app0 = (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    com_body = b"hdr"
    com = b"\xff\xfe" + struct.pack(">H", 2 + len(com_body)) + com_body
    sof0 = (b"\xff\xc0" + struct.pack(">H", 8 + 3 * 3) + b"\x08"
            + struct.pack(">HH", height, width) + b"\x03"
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + com + sof0 + b"\xff\xd9"


def make_wav(sample_rate: int, channels: int) -> bytes:
    """Minimal structurally-valid RIFF/WAVE: a JUNK chunk BEFORE fmt (real
    encoders emit those — a correct reader walks chunks), then fmt + data."""
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00" * 4
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate,
                                sample_rate * channels * 2,   # 16-bit PCM
                                channels * 2, 16)
    data = b"data" + struct.pack("<I", 64) + bytes(64)
    body = b"WAVE" + junk + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px
_HEADER_NONE = {"container": "unknown", "width": None, "height": None,
                "bit_depth": None, "sample_rate": None, "channels": None,
                "bits_per_sample": None, "header_ok": False}


def parse_media_header(payload: bytes) -> dict:
    """REAL container-header parse (pure Python, no codec libs): PNG IHDR
    width/height/bit-depth (+CRC verify), JPEG SOFn dimensions/precision/
    component count (walking marker segments, skipping APP/COM/DQT/DHT),
    WAV fmt sample-rate/channels/bits (walking RIFF chunks). Returns a
    uniform field dict with None for fields the container lacks; unknown
    magic or malformed structure -> container='unknown', header_ok=False.
    This is the production metadata kernel for q389 — works on any real
    PNG/JPEG/WAV head bytes, not just the planted fixtures (golden-vector
    unit tests include a real encoder-produced PNG)."""
    out = dict(_HEADER_NONE)
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            (length,) = struct.unpack_from(">I", payload, 8)
            if payload[12:16] != b"IHDR" or length != 13:
                return out
            width, height, bit_depth, color_type = struct.unpack_from(
                ">IIBB", payload, 16)
            (crc,) = struct.unpack_from(">I", payload, 12 + 4 + 13)
            out.update(container="png", width=width, height=height,
                       bit_depth=bit_depth,
                       channels=_PNG_CHANNELS.get(color_type),
                       header_ok=crc == (zlib.crc32(payload[12:12 + 4 + 13])
                                         & 0xFFFFFFFF))
            return out
        if payload[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= len(payload) and payload[i] == 0xFF:
                marker = payload[i + 1]
                if marker == 0xFF:
                    i += 1          # spec-legal fill byte before a marker
                    continue
                if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                    i += 2          # standalone markers carry no length
                    continue
                (seglen,) = struct.unpack_from(">H", payload, i + 2)
                if (0xC0 <= marker <= 0xCF
                        and marker not in (0xC4, 0xC8, 0xCC)):  # SOFn
                    precision = payload[i + 4]
                    height, width = struct.unpack_from(">HH", payload, i + 5)
                    out.update(container="jpeg", width=width, height=height,
                               bit_depth=precision,
                               channels=payload[i + 9], header_ok=True)
                    return out
                i += 2 + seglen
            out["container"] = "jpeg"
            return out
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            i = 12
            while i + 8 <= len(payload):
                cid = payload[i:i + 4]
                (size,) = struct.unpack_from("<I", payload, i + 4)
                if cid == b"fmt ":
                    fmt_code, channels, rate = struct.unpack_from(
                        "<HHI", payload, i + 8)
                    (bits,) = struct.unpack_from("<H", payload, i + 8 + 14)
                    out.update(container="wav", sample_rate=rate,
                               channels=channels, bits_per_sample=bits,
                               header_ok=fmt_code == 1)
                    return out
                i += 8 + size + (size & 1)   # chunks are word-aligned
            out["container"] = "wav"
            return out
    except (struct.error, IndexError):
        return dict(_HEADER_NONE)
    return out


MEDIA_HEADER_SCHEMA = (
    "doc_id bigint, container string, width int, height int, bit_depth int, "
    "sample_rate int, channels int, bits_per_sample int, header_ok boolean")

_WAV_RATES = (8000, 16000, 22050, 44100, 48000)


def _planted_media(doc_id: int) -> bytes:
    """Deterministic planted container per doc id (the generation law the
    q389 oracle replays): png / jpeg / wav round-robin with id-derived
    header fields."""
    k = doc_id % 3
    if k == 0:
        return make_png(16 + doc_id % 1000, 16 + (doc_id * 7) % 777)
    if k == 1:
        return make_jpeg(32 + (doc_id * 3) % 500, 32 + (doc_id * 11) % 600)
    return make_wav(_WAV_RATES[doc_id % 5], 1 + doc_id % 2)


def extract_media_headers(assets: DataFrame) -> DataFrame:
    """mapInPandas over a binary column: parse real container headers into
    typed metadata. Payload bytes never outlive their input batch — only
    the small header fields flow onward (the 100 TB multimodal discipline:
    derive features in the scan stage, shuffle metadata only)."""
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_media_header(bytes(b)) for b in pdf["payload"]]
            out = {"doc_id": pdf["doc_id"]}
            out["container"] = [p["container"] for p in parsed]
            for f in ("width", "height", "bit_depth", "sample_rate",
                      "channels", "bits_per_sample"):
                out[f] = pd.array([p[f] for p in parsed], dtype="Int32")
            out["header_ok"] = [p["header_ok"] for p in parsed]
            yield pd.DataFrame(out)

    return assets.mapInPandas(op, schema=MEDIA_HEADER_SCHEMA)


@register(
    "q389_media_header_audit",
    sql="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav'
           END AS container,
           CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 1000
                                WHEN 1 THEN 32 + (doc_id * 3) % 500
                END AS INTEGER) AS width,
           CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 777
                                WHEN 1 THEN 32 + (doc_id * 11) % 600
                END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 8
                END AS INTEGER) AS bit_depth,
           CAST(CASE WHEN doc_id % 3 = 2 THEN
                  CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                  WHEN 2 THEN 22050 WHEN 3 THEN 44100
                                  ELSE 48000 END
                END AS INTEGER) AS sample_rate,
           CAST(CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 3
                                ELSE 1 + doc_id % 2
                END AS INTEGER) AS channels,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 16
                END AS INTEGER) AS bits_per_sample,
           TRUE AS header_ok
    FROM documents ORDER BY doc_id
    """,
)
def q389_media_header_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media-metadata extraction, oracle-checked end to end: plant a
    structurally-valid PNG/JPEG/WAV binary per document (id-derived header
    fields — width/height/bit-depth for images, sample-rate/channels/bits
    for audio), then parse those fields back OUT OF THE ACTUAL BYTES with
    the pure-Python container kernels (PNG IHDR + CRC verify, JPEG marker
    walk to SOFn past APP0/COM segments, RIFF chunk walk past a JUNK chunk
    to fmt). The oracle replays the generation law, so any disagreement
    between what was encoded into the container and what the parser reads
    out fails the hash — generator∘parser must be the identity on every
    field. Golden-vector unit tests (a real encoder-produced PNG, spec-built
    JPEG/WAV with decoy segments) pin the parser against real files, not
    just the planted ones. Plant+parse run in ONE mapInPandas pass: payload
    bytes never leave their Arrow batch, no shuffle carries a blob."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [_planted_media(int(i)) for i in pdf["doc_id"]]})

    assets = docs.mapInPandas(plant, schema="doc_id bigint, payload binary")
    return extract_media_headers(assets).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q387 — binaryFile ingest audit (raw files -> lake, driver-checked e2e)
# ---------------------------------------------------------------------------

@fixture_memo("documents")
def _materialized_asset_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write each fixture document's utf-8 bytes as one ``doc_<id>.txt``
    file (once per fixture state, same convention as the signature/IVF
    indexes) — the raw-file drop zone a binaryFile ingest starts from."""
    import os

    d = scratch_dir("assets_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # foreachPartition writes files executor-side (local[..] shares the
    # filesystem); at cluster scale the drop zone is object storage and
    # this materialization IS the upstream system's job.
    def write_part(rows):
        for r in rows:
            p = os.path.join(d, f"doc_{r.doc_id}.txt")
            with open(p, "wb") as f:
                f.write(r.text.encode("utf-8"))
    docs.foreachPartition(write_part)
    return d


@register(
    "q387_binary_ingest_audit",
    sql="""
    SELECT doc_id,
           strlen(text)::BIGINT AS n_bytes,
           md5(text) AS content_md5
    FROM documents ORDER BY doc_id
    """,
)
def q387_binary_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end raw-file ingest through the ``binaryFile`` source: the
    fixture corpus is materialized as one file per document (cached drop
    zone), read back as (path, length, content) rows via
    :func:`read_binary_files` with a ``*.txt`` listing-time glob, and
    audited — id recovered from the filename, byte length and content md5
    computed from the binary payload. The oracle recomputes all three
    from the documents table, closing the loop: what landed as files is
    byte-identical to the table (the ingest-integrity check a 100 TB
    asset pipeline runs per drop). The content column stays opaque binary
    through a narrow map — no shuffle touches payload bytes (the ORDER BY
    ships only id/length/md5)."""
    from ..sources.readers import read_binary_files

    assets = _materialized_asset_dir(spark, sf_dir)
    files = read_binary_files(spark, assets, glob="*.txt")
    return (files.select(
        F.regexp_extract("path", r"doc_(\d+)\.txt$", 1)
        .cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Full PNG codec (stdlib-only): real IDAT encode/decode with spec filters
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def make_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """COMPLETE 8-bit grayscale PNG (signature + IHDR + one zlib IDAT +
    IEND), with scanline filters cycling through ALL FIVE spec types
    (None/Sub/Up/Average/Paeth, row y uses y % 5) so a decoder must
    implement real unfiltering, not just strip a zero byte."""
    if len(pixels) != width * height:
        raise ValueError("make_png_gray: pixels must be width*height bytes")
    prior = bytes(width)
    filtered = bytearray()
    for y in range(height):
        row = pixels[y * width:(y + 1) * width]
        ft = y % 5
        filtered.append(ft)
        for x in range(width):
            a = row[x - 1] if x else 0           # left
            b = prior[x]                          # up
            c = prior[x - 1] if x else 0          # up-left
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = (row[x] - a) & 0xFF
            elif ft == 2:
                v = (row[x] - b) & 0xFF
            elif ft == 3:
                v = (row[x] - (a + b) // 2) & 0xFF
            else:
                v = (row[x] - _paeth(a, b, c)) & 0xFF
            filtered.append(v)
        prior = row
    ihdr = struct.pack(">II5B", width, height, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> dict:
    """REAL PNG pixel decode, stdlib only: chunk walk with CRC verification
    on every chunk, multi-IDAT concatenation, zlib inflate, and full
    five-filter-type unfiltering at the correct byte stride. Supports the
    non-interlaced 8-bit grayscale / truecolor / truecolor-alpha layouts
    (color types 0/2/6 — what camera/tool encoders overwhelmingly emit).
    Returns {width, height, channels, pixels: bytes} with ``pixels`` the
    raw sample bytes row-major. Raises ValueError on structural corruption
    — a training pipeline routes those rows to the DLQ, never guesses."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, ihdr, idat = 8, None, bytearray()
    while i + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, i)
        tag = payload[i + 4:i + 8]
        body = payload[i + 8:i + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, i + 8 + length)
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        i += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    width, height, bit_depth, color_type, _comp, _filt, interlace = (
        struct.unpack(">II5B", ihdr))
    if bit_depth != 8 or interlace != 0 or color_type not in (0, 2, 6):
        raise ValueError(
            f"unsupported layout: depth={bit_depth} color={color_type} "
            f"interlace={interlace}")
    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length mismatch")
    out = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
        row = bytearray(stride)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                v = line[x]
            elif ft == 1:
                v = (line[x] + a) & 0xFF
            elif ft == 2:
                v = (line[x] + b) & 0xFF
            elif ft == 3:
                v = (line[x] + (a + b) // 2) & 0xFF
            elif ft == 4:
                v = (line[x] + _paeth(a, b, c)) & 0xFF
            else:
                raise ValueError(f"bad filter type {ft}")
            row[x] = v
        out[y * stride:(y + 1) * stride] = row
        prior = bytes(row)
    return {"width": width, "height": height, "channels": bpp,
            "pixels": bytes(out)}


def _planted_png_pixels(doc_id: int) -> tuple[int, int, bytes]:
    """The q408 generation law (the oracle replays it as pure integer SQL):
    id-derived dimensions, pixel(x, y) = (doc_id*31 + x*7 + y*13) % 256."""
    w = 8 + doc_id % 25
    h = 8 + (doc_id * 7) % 25
    px = bytes((doc_id * 31 + x * 7 + y * 13) % 256
               for y in range(h) for x in range(w))
    return w, h, px


@register(
    "q408_png_pixel_decode",
    sql="""
    SELECT d.doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(sum(px) AS BIGINT) AS sum_px,
           CAST(min(px) AS INTEGER) AS min_px,
           CAST(max(px) AS INTEGER) AS max_px,
           CAST(sum((yy.y * w + xx.x + 1) * px) AS BIGINT) AS pos_digest
    FROM (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 7) % 25 AS h
          FROM documents) d,
         LATERAL (SELECT unnest(range(0, h)) AS y) yy,
         LATERAL (SELECT unnest(range(0, w)) AS x) xx,
         LATERAL (SELECT (d.doc_id * 31 + xx.x * 7 + yy.y * 13) % 256
                  AS px) p
    GROUP BY d.doc_id, w, h
    ORDER BY d.doc_id
    """,
)
def q408_png_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL image codec loop, oracle-checked per pixel: encode an
    id-derived grayscale image into a COMPLETE PNG (real zlib IDAT, all
    five scanline filter types cycling per row), then decode the actual
    bytes back — chunk CRCs verified, IDAT inflated, every row unfiltered —
    and aggregate exact integer pixel statistics (sum, min, max, and a
    position-weighted digest that pins EVERY pixel's value AND location).
    The oracle recomputes the statistics from the generation law alone, so
    encoder∘zlib∘decoder∘unfilter must be the identity on every pixel of
    every image. Plant+decode run in ONE mapInPandas pass — pixels never
    leave their Arrow batch; only the 8 stat columns flow on (the 100 TB
    multimodal discipline). This retires the round-1 stub caveat for PNG:
    decode here is real and works on any non-interlaced 8-bit PNG (the
    golden-vector unit decodes a genuine encoder-produced file)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                w, h, px = _planted_png_pixels(doc_id)
                dec = decode_png(make_png_gray(w, h, px))
                pix = dec["pixels"]
                rows.append((
                    doc_id, dec["width"], dec["height"], len(pix),
                    sum(pix), min(pix), max(pix),
                    sum((k + 1) * v for k, v in enumerate(pix)),
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "n_px", "sum_px",
                "min_px", "max_px", "pos_digest"])

    return (docs.mapInPandas(
        plant_decode,
        schema=("doc_id bigint, width int, height int, n_px bigint, "
                "sum_px bigint, min_px int, max_px int, pos_digest bigint"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Real WAV PCM samples: encode + decode with de-interleaving (q409)
# ---------------------------------------------------------------------------

def make_wav_pcm(sample_rate: int, channels: int,
                 samples: list[int]) -> bytes:
    """COMPLETE RIFF/WAVE with real 16-bit little-endian signed PCM payload
    (interleaved channel samples), a JUNK decoy chunk before fmt like
    make_wav's header-only sibling."""
    if len(samples) % channels:
        raise ValueError("sample count must be a multiple of channels")
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00" * 4
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate,
                                sample_rate * channels * 2, channels * 2, 16)
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    body = b"WAVE" + junk + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm(payload: bytes) -> dict:
    """REAL PCM decode: RIFF chunk walk (word-aligned, decoy chunks
    skipped), fmt validation (PCM code 1, 16-bit), data chunk unpacked to
    signed samples and DE-INTERLEAVED per channel. Returns {sample_rate,
    channels, frames, samples: list[list[int]] per channel}. Raises on
    structural corruption."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        (size,) = struct.unpack_from("<I", payload, i + 4)
        body = payload[i + 8:i + 8 + size]
        if len(body) != size:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    code, channels, rate, _bps, _align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0)
    if code != 1 or bits != 16:
        raise ValueError(f"unsupported WAV: code={code} bits={bits}")
    if len(data) % (2 * channels):
        raise ValueError("data chunk not frame-aligned")
    flat = struct.unpack(f"<{len(data) // 2}h", data)
    per = [list(flat[c::channels]) for c in range(channels)]
    return {"sample_rate": rate, "channels": channels,
            "frames": len(flat) // channels, "samples": per}


def _planted_pcm(doc_id: int) -> tuple[int, int, list[int]]:
    """q409 generation law (pure integers, oracle-replayable): id-derived
    channel count and frame count; interleaved sample i is
    ((doc_id * 7919 + i * 31) % 65536) - 32768."""
    channels = 1 + doc_id % 2
    frames = 64 + doc_id % 100
    total = frames * channels
    samples = [((doc_id * 7919 + i * 31) % 65536) - 32768
               for i in range(total)]
    return channels, frames, samples


@register(
    "q409_wav_pcm_decode",
    sql="""
    SELECT d.doc_id,
           CAST(ch AS INTEGER) AS channel,
           CAST(frames AS BIGINT) AS frames,
           CAST(sum(s) AS BIGINT) AS sum_s,
           CAST(min(s) AS INTEGER) AS min_s,
           CAST(max(s) AS INTEGER) AS max_s,
           CAST(sum((t.i // nch + 1) * s) AS BIGINT) AS pos_digest
    FROM (SELECT doc_id, 1 + doc_id % 2 AS nch,
                 64 + doc_id % 100 AS frames
          FROM documents) d,
         LATERAL (SELECT unnest(range(0, frames * nch)) AS i) t,
         LATERAL (SELECT t.i % nch AS ch,
                         ((d.doc_id * 7919 + t.i * 31) % 65536) - 32768
                             AS s) v
    GROUP BY d.doc_id, ch, frames
    ORDER BY d.doc_id, channel
    """,
)
def q409_wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio sample decode, oracle-checked per sample: plant id-derived
    interleaved 16-bit PCM into a complete RIFF/WAVE container, decode the
    actual bytes back (chunk walk past the JUNK decoy, fmt validation,
    de-interleaving), and emit exact integer per-channel statistics — the
    frame-position-weighted digest pins every sample's value, channel AND
    frame index, so interleaving errors cannot cancel. The oracle
    recomputes everything from the generation law. One mapInPandas pass;
    PCM bytes never leave their Arrow batch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                channels, frames, samples = _planted_pcm(doc_id)
                dec = decode_wav_pcm(make_wav_pcm(
                    _WAV_RATES[doc_id % 5], channels, samples))
                assert dec["frames"] == frames
                for c, chan in enumerate(dec["samples"]):
                    rows.append((
                        doc_id, c, len(chan), sum(chan), min(chan),
                        max(chan),
                        sum((f + 1) * s for f, s in enumerate(chan)),
                    ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "channel", "frames", "sum_s", "min_s", "max_s",
                "pos_digest"])

    return (docs.mapInPandas(
        plant_decode,
        schema=("doc_id bigint, channel int, frames bigint, sum_s bigint, "
                "min_s int, max_s int, pos_digest bigint"))
        .orderBy("doc_id", "channel"))


# ---------------------------------------------------------------------------
# Real AVI container: uncompressed DIB frames + frame-sampled decode (q410)
# ---------------------------------------------------------------------------

def _riff_list(tag: bytes, body: bytes) -> bytes:
    return b"LIST" + struct.pack("<I", 4 + len(body)) + tag + body


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def make_avi(width: int, height: int, frames: list[bytes]) -> bytes:
    """Minimal-but-REAL AVI: RIFF('AVI ') -> LIST hdrl (avih + LIST strl
    with a 'vids'/'DIB ' strh and a BITMAPINFOHEADER strf) -> LIST movi of
    uncompressed 24bpp '00db' frames. Each frame must be in DIB layout:
    BGR samples, rows padded to 4-byte boundaries, stored BOTTOM-UP — the
    quirks a real decoder has to undo."""
    stride = (3 * width + 3) & ~3
    for f in frames:
        if len(f) != stride * height:
            raise ValueError("frame must be stride*height DIB bytes")
    fps = 25
    avih = struct.pack("<14I", 1_000_000 // fps, stride * height * fps, 0,
                       0x10, len(frames), 0, 1, stride * height, width,
                       height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, len(frames),
                                            stride * height, 0, 0, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       stride * height, 0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00db", f)
                                        for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_frames(payload: bytes) -> dict:
    """REAL frame-sample decode: walk the RIFF tree to avih (dimensions,
    frame count) and the movi LIST, take every 2nd '00db' frame,
    and undo the DIB layout — strip row padding, flip bottom-up rows,
    keep BGR byte order. Returns {width, height, n_frames,
    frames: [(frame_idx, bytes)]} with each frame's samples row-major
    top-down. Raises on structural corruption."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI")
    width = height = total = None
    frames: list[tuple[int, bytes]] = []

    def walk(buf: bytes, base: int, end: int) -> None:
        nonlocal width, height, total
        i = base
        frame_no = 0
        while i + 8 <= end:
            tag = buf[i:i + 4]
            (size,) = struct.unpack_from("<I", buf, i + 4)
            if i + 8 + size > end:
                raise ValueError("truncated chunk")
            if tag == b"LIST":
                walk(buf, i + 12, i + 8 + size)
            elif tag == b"avih":
                vals = struct.unpack_from("<14I", buf, i + 8)
                total, width, height = vals[4], vals[8], vals[9]
            elif tag == b"00db":
                frames.append((frame_no, buf[i + 8:i + 8 + size]))
                frame_no += 1
            i += 8 + size + (size & 1)

    try:
        walk(payload, 12, len(payload))
    except struct.error as exc:      # truncated/shifted chunk structure
        raise ValueError(f"corrupt RIFF structure: {exc}") from exc
    if width is None or total is None:
        raise ValueError("missing avih header")
    if len(frames) != total:
        raise ValueError(f"frame count mismatch: {len(frames)} != {total}")
    stride = (3 * width + 3) & ~3
    out = []
    for idx, dib in frames:
        if idx % 2:
            continue
        if len(dib) != stride * height:
            raise ValueError("bad frame size")
        rows = [dib[y * stride:y * stride + 3 * width]
                for y in range(height - 1, -1, -1)]    # bottom-up -> top
        out.append((idx, b"".join(rows)))
    return {"width": width, "height": height, "n_frames": total,
            "frames": out}


def _planted_video(doc_id: int) -> tuple[int, int, int, list[bytes]]:
    """q410 generation law: id-derived dimensions/frame count; sample value
    at (frame f, row y TOP-DOWN, col x, channel c in BGR order) is
    (doc_id*17 + f*11 + y*13 + x*7 + c*5) % 256. The encoder stores rows
    bottom-up with 4-byte padding (DIB), so decode must undo both."""
    w = 4 + doc_id % 8
    h = 4 + (doc_id * 3) % 8
    n = 3 + doc_id % 6
    stride = (3 * w + 3) & ~3
    frames = []
    for f in range(n):
        dib = bytearray(stride * h)
        for y_top in range(h):
            y_store = h - 1 - y_top       # DIB rows are bottom-up
            for x in range(w):
                for c in range(3):
                    dib[y_store * stride + 3 * x + c] = (
                        doc_id * 17 + f * 11 + y_top * 13 + x * 7 + c * 5
                    ) % 256
        frames.append(bytes(dib))
    return w, h, n, frames


@register(
    "q410_avi_frame_sample",
    sql="""
    SELECT d.doc_id,
           CAST(f.f AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(sum(((yy.y * w + xx.x) * 3 + cc.c + 1) * v) AS BIGINT)
               AS pos_digest
    FROM (SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id * 3) % 8 AS h,
                 3 + doc_id % 6 AS n FROM documents) d,
         LATERAL (SELECT unnest(range(0, n)) AS f) f,
         LATERAL (SELECT unnest(range(0, h)) AS y) yy,
         LATERAL (SELECT unnest(range(0, w)) AS x) xx,
         LATERAL (SELECT unnest(range(0, 3)) AS c) cc,
         LATERAL (SELECT (d.doc_id * 17 + f.f * 11 + yy.y * 13
                          + xx.x * 7 + cc.c * 5) % 256 AS v) vv
    WHERE f.f % 2 = 0
    GROUP BY d.doc_id, f.f, w, h
    ORDER BY d.doc_id, frame_idx
    """,
)
def q410_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, oracle-checked per sample byte: plant an
    id-derived uncompressed 24bpp AVI (RIFF hdrl/movi tree; frames in true
    DIB layout — BGR, 4-byte row padding, bottom-up rows), decode every
    2nd frame back out of the actual container bytes (RIFF tree walk,
    avih cross-check, padding strip + row flip), and emit exact integer
    per-frame statistics with a position-weighted digest over (row, col,
    channel) — so a padding or row-order mistake cannot cancel. The oracle
    recomputes from the generation law in TOP-DOWN coordinates; the
    encoder stores bottom-up, so the digest matches only if the decoder
    actually undoes the DIB layout. One mapInPandas pass; frame bytes
    never leave their Arrow batch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                w, h, n, frames = _planted_video(doc_id)
                dec = decode_avi_frames(make_avi(w, h, frames))
                assert (dec["width"], dec["height"],
                        dec["n_frames"]) == (w, h, n)
                for idx, pix in dec["frames"]:
                    rows.append((
                        doc_id, idx, w, h, sum(pix),
                        sum((k + 1) * v for k, v in enumerate(pix)),
                    ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "width", "height", "sum_v",
                "pos_digest"])

    return (docs.mapInPandas(
        plant_decode,
        schema=("doc_id bigint, frame_idx int, width int, height int, "
                "sum_v bigint, pos_digest bigint"))
        .orderBy("doc_id", "frame_idx"))


# ---------------------------------------------------------------------------
# q428 — perceptual average-hash (aHash) over the real PNG codec path
# ---------------------------------------------------------------------------

def ahash_bits(width: int, height: int, pixels: bytes) -> list[int]:
    """64-bit perceptual average hash as a bit list (index by*8+bx): 8x8
    average-pool with the block law bx=(x*8)//w, by=(y*8)//h, bit set when
    block_sum * n_pixels > total_sum * block_n — pure integer compares, no
    division, so both engines replay it exactly."""
    n = width * height
    total = sum(pixels)
    bsum = [0] * 64
    bn = [0] * 64
    for y in range(height):
        by = (y * 8) // height
        row = y * width
        for x in range(width):
            bidx = by * 8 + (x * 8) // width
            bsum[bidx] += pixels[row + x]
            bn[bidx] += 1
    return [1 if bsum[i] * n > total * bn[i] else 0 for i in range(64)]


_Q428_SQL = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 7) % 25 AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, xx.x, yy.y,
         (doc_id * 31 + xx.x * 7 + yy.y * 13) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS y) yy,
       LATERAL (SELECT unnest(range(0, w)) AS x) xx),
tot AS (SELECT doc_id, sum(v) AS ts, w * h AS n
        FROM px GROUP BY doc_id, w, h),
blocks AS (
  SELECT p.doc_id, ((p.y * 8) // p.h) * 8 + (p.x * 8) // p.w AS bidx,
         sum(p.v) AS bs, count(*) AS bn
  FROM px p GROUP BY p.doc_id, ((p.y * 8) // p.h) * 8 + (p.x * 8) // p.w),
bits AS (
  SELECT b.doc_id, b.bidx,
         CAST(b.bs * t.n > t.ts * b.bn AS BIGINT) AS bit
  FROM blocks b JOIN tot t USING (doc_id)),
hashes AS (
  SELECT doc_id,
         sum(CASE WHEN bidx < 32 THEN bit * (1::BIGINT << bidx)
                  ELSE 0 END) AS hash_lo,
         sum(CASE WHEN bidx >= 32 THEN bit * (1::BIGINT << (bidx - 32))
                  ELSE 0 END) AS hash_hi,
         CAST(sum(bit) AS BIGINT) AS n_bits
  FROM bits GROUP BY doc_id),
ref AS (SELECT hash_lo AS rl, hash_hi AS rh FROM hashes WHERE doc_id = 0)
SELECT d.doc_id, CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(d.hash_hi AS BIGINT) AS hash_hi,
       CAST(d.hash_lo AS BIGINT) AS hash_lo, d.n_bits,
       CAST(bit_count(xor(d.hash_lo, ref.rl))
            + bit_count(xor(d.hash_hi, ref.rh)) AS INTEGER) AS hamming_ref
FROM hashes d JOIN dims m USING (doc_id), ref
ORDER BY d.doc_id
"""


@register("q428_image_ahash_scan", sql=_Q428_SQL)
def q428_image_ahash_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing over the REAL codec path: each planted PNG
    is fully decoded (q408's encode∘zlib∘decode∘unfilter loop), average-
    pooled to the 8x8 aHash grid with pure-integer compares (no division —
    see :func:`ahash_bits`), and the 64-bit hash ships as two 32-bit-ranged
    bigints plus the Hamming distance to the reference image (doc 0) —
    the primitive perceptual near-dup dedup builds on (bucket by hash
    bands, then Hamming-verify, exactly like MinHash->verify for text).
    The oracle recomputes hash and distance from the pixel generation law,
    so one wrong pixel, block boundary, or bit weight anywhere flips the
    hash and fails the compare.

    100 TB lens: decode+hash run in ONE mapInPandas pass — pixels never
    leave their Arrow batch; only (doc_id, two ints) flow on, and the
    Hamming stage is a scan-side expression against one broadcast
    reference row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                w, h, px = _planted_png_pixels(doc_id)
                dec = decode_png(make_png_gray(w, h, px))
                bits = ahash_bits(dec["width"], dec["height"], dec["pixels"])
                lo = sum(b << k for k, b in enumerate(bits[:32]))
                hi = sum(b << k for k, b in enumerate(bits[32:]))
                rows.append((doc_id, dec["width"], dec["height"],
                             hi, lo, sum(bits)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "hash_hi", "hash_lo", "n_bits"])

    hashed = docs.mapInPandas(
        plant_hash,
        "doc_id long, width int, height int, hash_hi long, hash_lo long, "
        "n_bits long")
    ref = (hashed.filter(F.col("doc_id") == 0)
           .select(F.col("hash_lo").alias("rl"),
                   F.col("hash_hi").alias("rh")))
    return (hashed.crossJoin(F.broadcast(ref))
            .select("doc_id", "width", "height", "hash_hi", "hash_lo",
                    "n_bits",
                    (F.bit_count(F.col("hash_lo").bitwiseXOR(F.col("rl")))
                     + F.bit_count(F.col("hash_hi").bitwiseXOR(F.col("rh"))))
                    .cast("int").alias("hamming_ref"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q430 — audio energy fingerprint over the real WAV decode path
# ---------------------------------------------------------------------------

AFP_WINDOW = 32  # frames per energy window


def audio_fingerprint(chan: list[int]) -> tuple[int, int, int]:
    """(n_windows, energy_sum, fingerprint) for one channel: sum |s| per
    window of AFP_WINDOW frames (last window may be partial), fingerprint
    bit w-1 set when window w's energy exceeds window w-1's — the
    delta-coded energy contour every audio-dedup fingerprint family
    (Shazam/Chromaprint lineage) is built on. Pure integers throughout."""
    energies = [sum(abs(s) for s in chan[i:i + AFP_WINDOW])
                for i in range(0, len(chan), AFP_WINDOW)]
    fp = sum((1 << (w - 1)) for w in range(1, len(energies))
             if energies[w] > energies[w - 1])
    return len(energies), sum(energies), fp


_Q430_SQL = f"""
WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS nch, 64 + doc_id % 100 AS frames
           FROM documents),
s AS (
  SELECT doc_id, nch, t.i % nch AS ch, (t.i // nch) // {AFP_WINDOW} AS w,
         abs(((doc_id * 7919 + t.i * 31) % 65536) - 32768) AS a
  FROM d, LATERAL (SELECT unnest(range(0, frames * nch)) AS i) t),
wnd AS (SELECT doc_id, nch, ch, w, sum(a) AS e
        FROM s GROUP BY doc_id, nch, ch, w),
bits AS (
  SELECT cur.doc_id, cur.ch, CAST(cur.e > prev.e AS BIGINT) << (cur.w - 1)
           AS bitval
  FROM wnd cur JOIN wnd prev
    ON prev.doc_id = cur.doc_id AND prev.ch = cur.ch
   AND prev.w = cur.w - 1),
fp AS (
  SELECT w.doc_id, w.nch, w.ch,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(w.e) AS BIGINT) AS energy,
         CAST(coalesce((SELECT sum(b.bitval) FROM bits b
                        WHERE b.doc_id = w.doc_id AND b.ch = w.ch), 0)
              AS BIGINT) AS fprint
  FROM wnd w GROUP BY w.doc_id, w.nch, w.ch)
SELECT doc_id,
       CAST(max(nch) AS INTEGER) AS n_channels,
       max(n_windows) AS n_windows,
       max(CASE WHEN ch = 0 THEN energy END) AS energy_ch0,
       max(CASE WHEN ch = 0 THEN fprint END) AS fp_ch0,
       coalesce(max(CASE WHEN ch = 1 THEN energy END), -1) AS energy_ch1,
       coalesce(max(CASE WHEN ch = 1 THEN fprint END), -1) AS fp_ch1,
       CASE WHEN max(nch) = 2
            THEN CAST(bit_count(xor(max(CASE WHEN ch = 0 THEN fprint END),
                                    max(CASE WHEN ch = 1 THEN fprint END)))
                      AS BIGINT)
            ELSE -1 END AS channel_hamming
FROM fp GROUP BY doc_id ORDER BY doc_id
"""


@register("q430_audio_fingerprint", sql=_Q430_SQL)
def q430_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting over the REAL codec path: decode each planted
    WAV (q409's RIFF walk + de-interleave), window each channel into
    32-frame energy sums, and delta-code the energy contour into a
    per-channel fingerprint (see :func:`audio_fingerprint`) — the
    primitive audio near-dup matching builds on. Stereo docs also report
    the Hamming distance between their channels' fingerprints (the
    self-similarity signal). The oracle recomputes windows, bits and
    Hamming from the sample generation law, so one wrong sample, window
    boundary, or bit weight fails the compare.

    100 TB lens: decode + fingerprint in ONE mapInPandas pass — PCM never
    leaves its Arrow batch; one bounded row per document flows on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                channels, frames, samples = _planted_pcm(doc_id)
                dec = decode_wav_pcm(make_wav_pcm(
                    _WAV_RATES[doc_id % 5], channels, samples))
                stats = [audio_fingerprint(ch) for ch in dec["samples"]]
                nw, e0, f0 = stats[0]
                if channels == 2:
                    _, e1, f1 = stats[1]
                    ham = bin(f0 ^ f1).count("1")
                else:
                    e1 = f1 = ham = -1
                rows.append((doc_id, channels, nw, e0, f0, e1, f1, ham))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_channels", "n_windows", "energy_ch0", "fp_ch0",
                "energy_ch1", "fp_ch1", "channel_hamming"])

    return (docs.mapInPandas(
        plant_fp,
        schema=("doc_id bigint, n_channels int, n_windows bigint, "
                "energy_ch0 bigint, fp_ch0 bigint, energy_ch1 bigint, "
                "fp_ch1 bigint, channel_hamming bigint"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q431 — video shot-boundary detection (frame aHash deltas, real AVI path)
# ---------------------------------------------------------------------------

CUT_HAMMING = 16  # consecutive-frame Hamming >= this -> shot cut


_Q431_SQL = f"""
WITH d AS (SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id * 3) % 8 AS h,
                  3 + doc_id % 6 AS n FROM documents),
px AS (
  SELECT doc_id, w, h, f.f, yy.y, xx.x,
         (d.doc_id * 17 + f.f * 11 + yy.y * 13 + xx.x * 7) % 256
         + (d.doc_id * 17 + f.f * 11 + yy.y * 13 + xx.x * 7 + 5) % 256
         + (d.doc_id * 17 + f.f * 11 + yy.y * 13 + xx.x * 7 + 10) % 256
           AS ival
  FROM d,
       LATERAL (SELECT unnest(range(0, n)) AS f) f,
       LATERAL (SELECT unnest(range(0, h)) AS y) yy,
       LATERAL (SELECT unnest(range(0, w)) AS x) xx
  WHERE f.f % 2 = 0),
tot AS (SELECT doc_id, f, sum(ival) AS ts, w * h AS np
        FROM px GROUP BY doc_id, f, w, h),
blocks AS (
  SELECT doc_id, f, ((y * 8) // h) * 8 + (x * 8) // w AS bidx,
         sum(ival) AS bs, count(*) AS bn
  FROM px GROUP BY doc_id, f, ((y * 8) // h) * 8 + (x * 8) // w),
hashes AS (
  SELECT b.doc_id, b.f,
         sum(CASE WHEN bidx < 32 AND b.bs * t.np > t.ts * b.bn
                  THEN 1::BIGINT << bidx ELSE 0 END) AS lo,
         sum(CASE WHEN bidx >= 32 AND b.bs * t.np > t.ts * b.bn
                  THEN 1::BIGINT << (bidx - 32) ELSE 0 END) AS hi
  FROM blocks b JOIN tot t ON t.doc_id = b.doc_id AND t.f = b.f
  GROUP BY b.doc_id, b.f)
SELECT a.doc_id, CAST(a.f AS INTEGER) AS frame_a,
       CAST(b.f AS INTEGER) AS frame_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS INTEGER) AS hamming,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            >= {CUT_HAMMING} AS INT) AS is_cut
FROM hashes a JOIN hashes b ON b.doc_id = a.doc_id AND b.f = a.f + 2
ORDER BY a.doc_id, frame_a
"""


@register("q431_video_shot_boundaries", sql=_Q431_SQL)
def q431_video_shot_boundaries(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the REAL video path: decode every 2nd
    frame out of each planted AVI (q410's RIFF walk, DIB un-padding, row
    flip), aHash each frame's BGR-summed intensity plane (q428's
    pure-integer block law), and emit consecutive-sampled-frame Hamming
    distances with a cut flag at >= 16 bits — the scene-change primitive
    video curation pipelines use to pick representative frames. The
    oracle recomputes intensities, hashes and Hamming from the frame
    generation law in top-down coordinates, so a DIB layout mistake or
    one wrong hash bit fails the compare.

    100 TB lens: decode + per-frame hash + in-doc deltas all happen in
    ONE mapInPandas pass (a video's frames live in one row) — only the
    bounded pair rows flow on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plant_cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                w, h, n, frames = _planted_video(doc_id)
                dec = decode_avi_frames(make_avi(w, h, frames))
                hashes = []
                for idx, pix in dec["frames"]:
                    ival = [pix[3 * k] + pix[3 * k + 1] + pix[3 * k + 2]
                            for k in range(w * h)]
                    bits = ahash_bits(w, h, ival)
                    lo = sum(b << k for k, b in enumerate(bits[:32]))
                    hi = sum(b << k for k, b in enumerate(bits[32:]))
                    hashes.append((idx, lo, hi))
                for (fa, la, ha), (fb, lb, hb) in zip(hashes, hashes[1:]):
                    ham = bin(la ^ lb).count("1") + bin(ha ^ hb).count("1")
                    rows.append((doc_id, fa, fb, ham,
                                 int(ham >= CUT_HAMMING)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_a", "frame_b", "hamming", "is_cut"])

    return (docs.mapInPandas(
        plant_cuts,
        schema=("doc_id bigint, frame_a int, frame_b int, hamming int, "
                "is_cut int"))
        .orderBy("doc_id", "frame_a"))
