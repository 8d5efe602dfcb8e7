"""Multimodal (image/audio/video) column plumbing (north-star scope).

Opaque media live in ``binary`` columns beside a typed metadata struct;
decode / feature-extract / frame-sample run as Arrow-batched pandas
functions over ``mapInPandas`` — the only layer of this engine allowed to
leave the JVM, because media decoding genuinely needs Python libraries.

The image/audio LIBRARIES are not in this container, so three decode tiers
share identical plumbing (schema, binary handling, Arrow batch shape,
partitioning):

- ``decode_features`` — deterministic fake pixel math (md5-derived, hence
  reproducible in the SQL oracle) for the registered fixture queries;
- ``decode_features_png`` (r08) and its siblings — REAL decode that
  executes HERE through the pure-stdlib codecs in ``edgy_spark/functions``
  (png, jpeg, gif, webp/vp8, wav, flac, mp3, written from the public
  specs), cross-validated against the JVM's independent decoders where
  the JDK reads the format;
- ``decode_features_real`` — the PIL-backed full-format path, exercised by
  ``pytest.importorskip`` tests (tests/test_multimodal_real.py) wherever
  the library exists.

The real decode runs in two shapes:

- **the codec lane** — every ``decode_features_*`` / ``decode_frames_*``
  operator is a docstring, a codec lookup and a ``rows_of(data)``
  generator handed to :func:`_codec_lane`, the one batch loop that owns
  the ``on_error`` contract (NULL payloads, the codecs' failure surface,
  the ``decode_error`` column), the ``(n_bytes, content_md5)`` digest and
  the in-stage ``synth`` fusion of the synthetic codec gates;
- **the id→row gate** — :func:`_fused_media_gate`, for the bench codec
  gates: a doc_id goes in, one fixed-width row of longs comes out, media
  bytes are synthesized and decoded inside ``row_of`` and never form a
  column.

Codecs reach the Python workers BY VALUE through :func:`_codec` (one
table of which codec modules import which), so decode works when the
driver runs from outside the repo and the workers have no ``edgy_spark``
on sys.path (pinned by tests/test_codec_lanes.py).

There is no media fixture in the driver's testdata, so binary payloads are
synthesized from ``documents.text`` (utf-8 bytes) or from ``doc_id`` —
stable and realistic enough to exercise the byte path end to end.

Scale: mapInPandas streams Arrow batches; media bytes never pass through
the driver, and a 100 TB corpus decodes at executor parallelism.  Partition
sizing is byte-based (maxPartitionBytes), not row-based, which is what you
want when rows are megabytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edgy_spark.catalog import register
from edgy_spark.plans.spread import sort_once
from edgy_spark.sources import load

FRAME_BYTES = 256  # fake "frame" size for the video-sampling path


def _check_on_error(on_error: str) -> bool:
    """Shared contract for the real-decode operators' error handling:
    ``"raise"`` fails the job on the first malformed asset (the fixture
    queries' mode — synthesized bytes are valid by construction);
    ``"null"`` captures per row — the malformed asset yields NULL stats
    plus a ``decode_error`` column instead of killing the task, which is
    the only workable mode over a 100 TB crawl where malformed bytes are
    a certainty.  The codecs guarantee ValueError/NotImplementedError as
    the complete failure surface (fuzz-pinned), so "null" cannot mask an
    operator bug."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    return on_error == "null"


#: Every codec module another codec module imports (png → gif's animation
#: helpers; webp → gif's helpers and the VP8 decoder).  Shipping a codec by
#: value must ship these too: a module left out is pickled BY REFERENCE,
#: and workers without ``edgy_spark`` on sys.path fail with
#: ModuleNotFoundError.  tests/test_codec_lanes.py checks the table
#: against the modules' actual imports.
_CODEC_IMPORTS = {"png": ("gif",), "webp": ("gif", "vp8")}


def _codec(name: str):
    """Return the codec module ``edgy_spark.functions.<name>``, registered
    with cloudpickle BY VALUE together with every codec module it imports
    (:data:`_CODEC_IMPORTS`).  A closure that captures the module's
    functions then carries their code to the Python workers, so decode
    works even when the driver runs from outside the repo and the workers
    have no ``edgy_spark`` on sys.path.  Driver-side only."""
    import importlib

    from pyspark import cloudpickle

    for dep in (name, *_CODEC_IMPORTS.get(name, ())):
        cloudpickle.register_pickle_by_value(
            importlib.import_module(f"edgy_spark.functions.{dep}")
        )
    return importlib.import_module(f"edgy_spark.functions.{name}")


_IMAGE_STATS = "width long, height long, mean_luma long"
_FRAME_STATS = "frame_idx long, width long, height long, mean_luma long"
_LOUDNESS_STATS = (
    "sample_rate long, channels long, n_frames long, "
    "duration_us long, peak_amplitude long, mean_square long"
)


def _codec_lane(
    media_df: DataFrame,
    rows_of,
    columns: str,
    on_error: str,
    synth=None,
    digest: bool = False,
) -> DataFrame:
    """The one Arrow batch loop behind every ``decode_features_*`` /
    ``decode_frames_*`` operator.

    ``rows_of(data: bytes)`` decodes one payload and yields its stats
    tuples — one per asset for the image and audio lanes, one per frame
    or sample for the frame lanes; ``columns`` is their DDL.  The output
    is ``doc_id``, then ``n_bytes, content_md5`` of the payload when
    ``digest``, then ``columns``, then ``decode_error`` in
    ``on_error='null'`` mode (:func:`_check_on_error`).  A NULL payload,
    or a ValueError/NotImplementedError raised while ``rows_of`` runs,
    fails the task in ``'raise'`` mode; in ``'null'`` mode it becomes ONE
    row of NULL stats carrying the message, after any rows the asset
    yielded before it — a mid-stream corruption (an interrupted crawl
    download) keeps the frames decoded before it.

    ``synth`` is a mapInPandas body that turns the input's ``doc_id``
    batches into ``(doc_id, media)`` batches, for the synthetic codec
    gates.  It runs INSIDE the decode's own Python stage (one
    MapInPandas, guide §4): the synthesized bytes never cross the
    JVM<->Arrow boundary, where two chained mapInPandas stages serialized
    every payload out of the synth stage and back into the decode stage.
    With a real media corpus ``synth`` stays None.

    ``decode`` below is what cloudpickle ships to the workers: it must
    name no module-level ``edgy_spark`` object (those pickle by reference
    and do not import there), only its closure cells.
    """
    tolerant = _check_on_error(on_error)
    schema = "doc_id long"
    if digest:
        schema += ", n_bytes long, content_md5 string"
    schema += f", {columns}"
    if tolerant:
        schema += ", decode_error string"
    names = [c.split()[0] for c in schema.split(",")]
    n_stats = len(columns.split(","))
    ok = (None,) if tolerant else ()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches if synth is None else synth(batches):
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                if payload is None:
                    if not tolerant:
                        raise ValueError("NULL media payload")
                    rows.append(
                        (doc_id,) + (None,) * (len(names) - 2)
                        + ("NULL media payload",)
                    )
                    continue
                data = bytes(payload)
                head = (
                    (doc_id, len(data), hashlib.md5(data).hexdigest())
                    if digest
                    else (doc_id,)
                )
                try:
                    for stats in rows_of(data):
                        rows.append(head + stats + ok)
                except (ValueError, NotImplementedError) as e:
                    if not tolerant:
                        raise
                    rows.append(head + (None,) * n_stats + (str(e),))
            yield pd.DataFrame(rows, columns=names)

    return media_df.mapInPandas(decode, schema)


def with_media_column(docs: DataFrame) -> DataFrame:
    """Attach a binary payload + typed metadata struct to each document."""
    payload = F.col("text").cast("binary")
    meta = F.struct(
        F.lit("image/fake").alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.col("source").alias("origin"),
    )
    return docs.select("doc_id", payload.alias("media"), meta.alias("media_meta"))


def decode_features(media_df: DataFrame) -> DataFrame:
    """mapInPandas decode: binary → (doc_id, n_bytes, content_md5, width,
    height).  Arrow-batched; one Python roundtrip for the whole pipeline."""

    # NOTE: the closure must be self-contained (no references to module-level
    # edgy_spark functions): cloudpickle serializes those by reference, and
    # Spark's Python workers don't have edgy_spark on sys.path when the
    # driver runs from outside the repo.
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def fake_dims(md5_hex: str) -> tuple[int, int]:
            h = int(md5_hex[:15], 16)
            return (h % 640 + 1, (h // 640) % 480 + 1)

        for pdf in batches:
            # one bytes() materialization per payload (rows are megabytes —
            # a second conversion for len() would double the copy cost)
            payloads = [bytes(p) for p in pdf["media"]]
            digests = [hashlib.md5(p).hexdigest() for p in payloads]
            dims = [fake_dims(d) for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "content_md5": digests,
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                }
            )

    return media_df.mapInPandas(
        decode,
        "doc_id long, n_bytes long, content_md5 string, width long, height long",
    )


def decode_features_real(media_df: DataFrame) -> DataFrame:
    """Real-decoder twin of :func:`decode_features`: PIL ``Image.open`` over
    the binary payload, actual (width, height) from the decoded image.  Same
    output schema, same Arrow-batched mapInPandas shape — swapping fake for
    real decode changes ONE closure, nothing in the plan.

    The container ships without PIL, so this path is exercised by a
    ``pytest.importorskip("PIL")`` test (tests/test_multimodal_real.py) that
    runs wherever the library exists; without PIL the call fails fast on
    the DRIVER with NotImplementedError (below) rather than obscurely
    inside the Python workers at execution time.
    """
    try:
        import PIL  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real image decode requires PIL (absent from this container) — "
            "decode_features is the deterministic stand-in with identical "
            "plumbing"
        ) from e

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io

        from PIL import Image

        for pdf in batches:
            payloads = [bytes(p) for p in pdf["media"]]
            sizes = [Image.open(io.BytesIO(p)).size for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "content_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                    "width": [w for w, _ in sizes],
                    "height": [h for _, h in sizes],
                }
            )

    return media_df.mapInPandas(
        decode,
        "doc_id long, n_bytes long, content_md5 string, width long, height long",
    )


def decode_features_png(media_df: DataFrame, on_error: str = "raise", synth=None) -> DataFrame:
    """ACTUALLY-executing real decode (r08): full PNG pixel decode — zlib
    inflate + all five scanline unfilters — via the pure-stdlib codec
    (functions/png.py, written from the public PNG spec), so the "real
    decoder" path no longer depends on a library this container lacks.
    Emits true (width, height) plus ``mean_luma`` (Rec.601 integer luma
    averaged over every decoded pixel — evidence the PIXELS were decoded,
    not just the header).  Same Arrow-batched mapInPandas shape as
    decode_features / decode_features_real: swapping decoders changes one
    closure, nothing in the plan.  Cross-validated against the JVM's
    independent javax.imageio decoder in tests/test_multimodal_real.py.

    The codec travels to the Python workers BY VALUE (:func:`_codec`
    registers functions/png.py and the gif.py helpers it imports — pure
    stdlib, so their pickled globals are just ``struct``/``zlib`` module
    refs): unlike the in-closure import it replaces, the decode works even
    when the driver runs from outside the repo and the workers have no
    ``edgy_spark`` on sys.path (the same constraint the decode_features
    NOTE documents; pinned by tests/test_codec_lanes.py's
    clean-sys.path subprocess test).
    """
    decode_png = _codec("png").decode_png
    rec601 = _codec("gif").rec601_mean

    def rows_of(data: bytes):
        import numpy as np

        w, h, ch, px = decode_png(data)
        if ch >= 3:  # Rec.601 integer luma over RGB(A)
            yield (w, h, rec601(px, ch, w, h))
        else:  # grey(+alpha): the grey plane IS luma
            grey = np.frombuffer(px, dtype=np.uint8)[::ch]
            yield (w, h, int(grey.sum(dtype=np.int64)) // (w * h))

    return _codec_lane(media_df, rows_of, _IMAGE_STATS, on_error, synth, digest=True)


def decode_features_jpeg(media_df: DataFrame, on_error: str = "raise", synth=None) -> DataFrame:
    """REAL baseline-JPEG decode inside Python workers via the from-spec
    pure-stdlib codec (functions/jpeg.py — Huffman + dequantize + exact
    IDCT + chroma upsampling, cross-validated against javax.imageio in
    tests/test_jpeg_real.py): true dimensions and a pixel-derived Rec.601
    mean luma per asset.

    Same Arrow-batched ``mapInPandas`` shape and by-value codec shipping
    as :func:`decode_features_png`.  General JPEG is lossy, so decoded
    pixel stats are not SQL-predictable from arbitrary source bytes —
    the JVM cross-validation suite pins that path — but the DC-only
    flat-block family IS bit-exact by construction, and
    :func:`multimodal_jpeg_block_stats` routes it through this decoder
    under the driver's value-hash gate.
    """
    jpeg = _codec("jpeg")
    decode_jpeg = jpeg.decode_jpeg
    mean_luma = jpeg.mean_luma

    def rows_of(data: bytes):
        w, h, ch, px = decode_jpeg(data)
        # mean_luma raises on a non-(1|3)-component buffer — reachable via
        # 8-bit MULTI-component SOF3, whose components are not color
        # channels (route to the lossless lane instead, review r14)
        yield (w, h, mean_luma(px, ch, w, h))

    return _codec_lane(media_df, rows_of, _IMAGE_STATS, on_error, synth, digest=True)


@register(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           (('0x' || substr(md5(text), 1, 15))::BIGINT % 640) + 1 AS width,
           ((('0x' || substr(md5(text), 1, 15))::BIGINT // 640) % 480) + 1 AS height
    FROM documents
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf"),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode + feature extraction through the full mapInPandas path;
    the fake decode's outputs are md5-derived so the oracle replays them."""
    docs = load(spark, sf_dir, "documents")
    return decode_features(with_media_column(docs)).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, unnest(range(0,
               CAST(ceil(length(text)::DOUBLE / {FRAME_BYTES}) AS BIGINT),
               2)) AS frame_idx, text
      FROM documents)
    SELECT doc_id, frame_idx,
           md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
             AS frame_md5
    FROM frames
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "video", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for 'video' payloads: every 2nd {FRAME_BYTES}-byte
    frame, one output row per sampled frame (mapInPandas, 1→N rows)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # frames are 256-CHAR chunks (md5 of their utf-8 bytes) so the
                # oracle's char-based substring reproduces them exactly
                n_frames = math.ceil(len(text) / FRAME_BYTES)
                for i in range(0, n_frames, 2):
                    ids.append(doc_id)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(
                            text[i * FRAME_BYTES:(i + 1) * FRAME_BYTES].encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return docs.mapInPandas(
        sample, "doc_id long, frame_idx long, frame_md5 string"
    ).orderBy("doc_id", "frame_idx")


WIN_CHARS = 256     # fake "audio window" size, in chars (mirrors FRAME_BYTES)
ENERGY_MOD = 100000


@register(
    "multimodal_audio_energy",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(length(text)::DOUBLE / {WIN_CHARS}) AS BIGINT))) AS win_idx,
             text
      FROM documents),
    e AS (
      SELECT doc_id, win_idx,
             ('0x' || substr(md5(substring(text, win_idx * {WIN_CHARS} + 1, {WIN_CHARS})), 1, 15))::BIGINT
               % {ENERGY_MOD} AS energy
      FROM w)
    SELECT doc_id, win_idx, energy,
           CAST(COUNT(*) OVER (PARTITION BY doc_id) * energy
             - SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT) AS dev_scaled
    FROM e ORDER BY doc_id, win_idx
    """,
    tags=("multimodal", "audio", "pandas-udf"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio' windowed energy with per-track normalization via grouped
    applyInPandas (the grouped-map UDF form; the two ops above are the
    ungrouped mapInPandas form).

    Each document payload is windowed into {WIN_CHARS}-char "audio windows";
    a window's energy is md5-derived (deterministic fake of an RMS level —
    a real pipeline would decode PCM here) and then centered against the
    WHOLE track's mean.  The centering is what makes this a genuine grouped
    computation: a window's output depends on every other window of its
    track.  It is emitted scale-free as ``n*energy - total`` — pure int64
    arithmetic, so Spark and the oracle's window functions agree exactly
    with no float-summation-order hazard.

    Scale: one shuffle on doc_id; each group is one track (bounded memory);
    Arrow batches carry text in, int64 rows out.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def energy_windows(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib
        import math

        ids, idxs, energies = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n_win = math.ceil(len(text) / WIN_CHARS)
            for i in range(n_win):
                chunk = text[i * WIN_CHARS:(i + 1) * WIN_CHARS].encode()
                h = int(hashlib.md5(chunk).hexdigest()[:15], 16)
                ids.append(doc_id)
                idxs.append(i)
                energies.append(h % ENERGY_MOD)
        out = pd.DataFrame({"doc_id": ids, "win_idx": idxs, "energy": energies})
        # per-track centering (int64-exact): n*e - sum(e)
        g = out.groupby("doc_id")["energy"]
        out["dev_scaled"] = g.transform("size") * out["energy"] - g.transform("sum")
        return out

    return (
        docs.groupBy("doc_id")
        .applyInPandas(
            energy_windows,
            "doc_id long, win_idx long, energy long, dev_scaled long",
        )
        .orderBy("doc_id", "win_idx")
    )


TARGET_BINS = 4  # fixed-size "thumbnail" length for the resize path


@register(
    "multimodal_thumbnail_resize",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(length(text)::DOUBLE / {FRAME_BYTES}) AS BIGINT))) AS f_idx,
             CAST(ceil(length(text)::DOUBLE / {FRAME_BYTES}) AS BIGINT) AS n_frames,
             text
      FROM documents),
    px AS (
      SELECT doc_id, n_frames,
             (f_idx * {TARGET_BINS}) // n_frames AS bin_idx,
             ('0x' || substr(md5(substring(text, f_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})), 1, 15))::BIGINT
               % {ENERGY_MOD} AS pixel
      FROM w)
    SELECT doc_id, bin_idx,
           CAST(SUM(pixel) AS BIGINT) AS pixel_sum,
           COUNT(*) AS n_src_frames
    FROM px GROUP BY doc_id, bin_idx
    ORDER BY doc_id, bin_idx
    """,
    tags=("multimodal", "resize", "pandas-udf"),
)
def multimodal_thumbnail_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize / area-downsample: collapse each document's frame sequence to a
    fixed {TARGET_BINS}-bin thumbnail by integer area pooling (bin =
    frame_idx * bins // n_frames — the index map every nearest/area image
    resizer uses along each axis).  Frame "pixel" values are md5-derived
    (deterministic stand-in for decoded pixels; a real pipeline would
    decode + box-filter here) and pooled as exact int64 sums.

    Scale: ungrouped mapInPandas — a frame's bin depends only on its own
    doc's frame count, so there is NO shuffle at all: every doc emits its
    thumbnail rows from the scan stage, and the only exchange is the
    presentation orderBy.  Compare multimodal_audio_energy, whose per-track
    normalization genuinely needs the groupBy(doc_id) shuffle.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            ids, bins, sums, counts = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n_frames = math.ceil(len(text) / FRAME_BYTES)
                acc: dict[int, list[int]] = {}
                for f in range(n_frames):
                    chunk = text[f * FRAME_BYTES:(f + 1) * FRAME_BYTES].encode()
                    px = int(hashlib.md5(chunk).hexdigest()[:15], 16) % ENERGY_MOD
                    b = (f * TARGET_BINS) // n_frames
                    if b not in acc:
                        acc[b] = [0, 0]
                    acc[b][0] += px
                    acc[b][1] += 1
                for b in sorted(acc):
                    ids.append(doc_id)
                    bins.append(b)
                    sums.append(acc[b][0])
                    counts.append(acc[b][1])
            yield pd.DataFrame(
                {"doc_id": ids, "bin_idx": bins, "pixel_sum": sums, "n_src_frames": counts}
            )

    return docs.mapInPandas(
        pool, "doc_id long, bin_idx long, pixel_sum long, n_src_frames long"
    ).orderBy("doc_id", "bin_idx")


@register(
    "multimodal_png_pixel_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 31 + 2 AS width,
                      (doc_id * 7) % 23 + 2 AS height
               FROM documents),
    s AS (SELECT d.doc_id, d.width, d.height,
                 SUM((d.doc_id * 31 + t.i * 17) % 256) AS total
          FROM d, generate_series(0, 32 * 24 - 1) AS t(i)
          WHERE t.i < d.width * d.height
          GROUP BY d.doc_id, d.width, d.height)
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(total // (width * height) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode"),
)
def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode under the driver's value-hash gate: each document
    id deterministically defines a greyscale image (width = id%31+2,
    height = (id*7)%23+2, sample i = (id*31 + i*17)%256 in row-major
    order), which is ENCODED to genuine PNG bytes and DECODED back by the
    from-spec stdlib codec (functions/png.py) inside Arrow-batched
    ``mapInPandas`` — the oracle recomputes width/height/mean-luma from
    the pixel formula directly, so a bit error anywhere in the chunk
    framing, zlib round-trip, scanline unfiltering, or luma math breaks
    the hash.  (The RGB/RGBA + Sub/Up/Average/Paeth filter paths are
    cross-validated against the JVM's javax.imageio in
    tests/test_multimodal_real.py; the encoder emits filter-0 rows.)

    Scale: pixels never leave the executors — the exchanged rows are
    (doc_id, 3 small ints); the CPU-bound synth+decode stage is spread to
    cluster parallelism by ``_parallel_doc_ids`` (the fixture scan is one
    file → one partition).  With a real media fixture the synth step
    disappears and decode_features_png runs over the binary column
    directly, with the multi-file scan's native parallelism.
    """
    encode_png = _codec("png").encode_png

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 31 + 2, (i * 7) % 23 + 2
                rows = [
                    bytes((i * 31 + (y * w + x) * 17) % 256 for x in range(w))
                    for y in range(h)
                ]
                media.append(encode_png(w, h, rows, color_type=0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return (
        decode_features_png(docs, synth=synth)
        .select("doc_id", "width", "height", "mean_luma")
        .transform(sort_once, "doc_id")
    )


@register(
    "multimodal_jpeg_block_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 5 + 1 AS bw,
                      (doc_id * 3) % 4 + 1 AS bh
               FROM documents),
    s AS (SELECT d.doc_id, d.bw, d.bh,
                 SUM((d.doc_id * 37 + t.i * 19) % 256) AS total
          FROM d, generate_series(0, 5 * 4 - 1) AS t(i)
          WHERE t.i < d.bw * d.bh
          GROUP BY d.doc_id, d.bw, d.bh)
    SELECT doc_id,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(total // (bw * bh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode"),
    bench=True,
)
def multimodal_jpeg_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-format decode under the driver's value-hash gate: each
    document id defines a flat-block grayscale image ((doc_id%5+1) x
    ((doc_id*3)%4+1) blocks of 8x8, block b's sample =
    (doc_id*37 + b*19) % 256), ENCODED to genuine baseline JPEG by the
    DC-only encoder and DECODED back through the full from-spec pipeline
    (marker parse, canonical Huffman with DC prediction, dequantize,
    T.81 float IDCT, level shift — functions/jpeg.py) inside
    Arrow-batched ``mapInPandas``.  DC-only blocks are the one JPEG
    family whose decode is bit-exact (every pixel = coefficient/8 + 128),
    so the oracle predicts width/height/mean-luma from the block formula
    directly and any entropy-coding or IDCT bit error breaks the hash.
    The encoder itself is cross-validated pixel-for-pixel against the
    JVM's independent javax.imageio decoder in tests/test_jpeg_real.py.

    Scale: the PNG twin's shape — pixels never leave the executors, the
    exchanged rows are (doc_id, 3 small ints), decode parallelism is the
    scan's.  With a real media corpus the synth step disappears and
    decode_features_jpeg runs over the binary column directly.
    """
    jpeg = _codec("jpeg")
    encode_flat = jpeg.encode_jpeg_flat
    decode_jpeg = jpeg.decode_jpeg
    mean_luma = jpeg.mean_luma

    # one fused Python stage (synth + decode, _fused_media_gate): the
    # decoder entry point and luma statistic (jpeg.mean_luma) are the
    # SAME code decode_features_jpeg runs, and the gate's rows are
    # pinned identical to the composed pipeline by the oracle hash
    def row_of(i: int):
        bw, bh = i % 5 + 1, (i * 3) % 4 + 1
        blocks = [(i * 37 + b * 19) % 256 for b in range(bw * bh)]
        w, h, ch, px = decode_jpeg(encode_flat(bw * 8, bh * 8, blocks))
        return (w, h, mean_luma(px, ch, w, h))

    return _fused_media_gate(
        spark, sf_dir, row_of, ("width", "height", "mean_luma")
    )


@register(
    "multimodal_jpeg_progressive_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 7) % 5 + 1 AS bw,
                      doc_id % 3 + 1 AS bh
               FROM documents),
    s AS (SELECT d.doc_id, d.bw, d.bh,
                 SUM((d.doc_id * 53 + t.i * 29) % 256) AS total
          FROM d, generate_series(0, 5 * 3 - 1) AS t(i)
          WHERE t.i < d.bw * d.bh
          GROUP BY d.doc_id, d.bw, d.bh)
    SELECT doc_id,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(total // (bw * bh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "progressive"),
    bench=True,  # r10: Annex G decode throughput, tracked round-over-round
)
def multimodal_jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) decode under the driver's value-hash gate — the
    web-crawl-dominant JPEG flavor the r09 verdict named as the largest
    env-gated surface, now decoding for real: each document's flat-block
    image is encoded with the DC coefficient SPLIT across successive-
    approximation scans (high bits Huffman-coded, an all-EOB AC scan,
    then one raw refinement bit per block — functions/jpeg.py
    encode_jpeg_flat_progressive) and decoded through the full Annex G
    machinery (multi-scan coefficient accumulation, point-transform
    shifts, EOB-run decode, raw-bit DC refinement) inside Arrow-batched
    ``mapInPandas``.  DC-only blocks keep the decode bit-exact
    ((d >> 1) << 1 | (d & 1) must reconstruct d), so the oracle predicts
    width/height/mean-luma from the block formula and any error anywhere
    in the progressive path breaks the hash.  Real multi-scan AC
    progressive streams (JDK-written) are cross-validated against
    javax.imageio in tests/test_jpeg_real.py.

    Scale: identical to the baseline twin — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    jpeg = _codec("jpeg")
    encode_prog = jpeg.encode_jpeg_flat_progressive
    decode_jpeg = jpeg.decode_jpeg
    mean_luma = jpeg.mean_luma

    # one fused Python stage — same decoder entry point and shared luma
    # statistic as decode_features_jpeg (see multimodal_jpeg_block_stats)
    def row_of(i: int):
        bw, bh = (i * 7) % 5 + 1, i % 3 + 1
        blocks = [(i * 53 + b * 29) % 256 for b in range(bw * bh)]
        w, h, ch, px = decode_jpeg(encode_prog(bw * 8, bh * 8, blocks))
        return (w, h, mean_luma(px, ch, w, h))

    return _fused_media_gate(
        spark, sf_dir, row_of, ("width", "height", "mean_luma")
    )


@register(
    "multimodal_jpeg_multiscan_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 11) % 5 + 1 AS bw,
                      (doc_id * 7) % 3 + 1 AS bh
               FROM documents),
    s AS (SELECT d.doc_id, d.bw, d.bh,
                 SUM((d.doc_id * 61 + t.i * 23) % 256) AS total
          FROM d, generate_series(0, 5 * 3 - 1) AS t(i)
          WHERE t.i < d.bw * d.bh
          GROUP BY d.doc_id, d.bw, d.bh)
    SELECT doc_id,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(total // (bw * bh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "multiscan"),
)
def multimodal_jpeg_multiscan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SCAN SEQUENTIAL (SOF0, T.81 A.2.3) decode under the driver's
    value-hash gate — the last sequential-JPEG shape the codec matrix
    rejected (r10 verdict #1 secondary): each document's flat-block image
    is a 3-component frame whose Y component arrives in its own scan and
    whose Cb+Cr arrive INTERLEAVED in a second scan (functions/jpeg.py
    encode_jpeg_flat_multiscan), decoded through the shared coefficient
    store (_sequential_scan — both the single-component raster walk and
    the partial-interleave MCU walk execute) inside Arrow-batched
    ``mapInPandas``.  Cb = Cr = 128 keeps R = G = B = Y, so the Rec.601
    integer luma equals the block sample exactly and the oracle predicts
    width/height/mean-luma from the block formula; any error in the scan
    routing, per-scan DC prediction, or store accumulation breaks the
    hash.  The stream is cross-validated against javax.imageio in
    tests/test_jpeg_real.py.

    Scale: identical to the other codec queries — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    encode_ms = _codec("jpeg").encode_jpeg_flat_multiscan

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                bw, bh = (i * 11) % 5 + 1, (i * 7) % 3 + 1
                blocks = [(i * 61 + b * 23) % 256 for b in range(bw * bh)]
                media.append(encode_ms(bw * 8, bh * 8, blocks))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return (
        decode_features_jpeg(docs, synth=synth)
        .select("doc_id", "width", "height", "mean_luma")
        .transform(sort_once, "doc_id")
    )


@register(
    "multimodal_jpeg_cmyk_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 13) % 5 + 1 AS bw,
                      (doc_id * 5) % 3 + 1 AS bh
               FROM documents),
    s AS (SELECT d.doc_id, d.bw, d.bh,
                 SUM(((d.doc_id * 47 + t.i * 31) % 256)
                     * ((d.doc_id * 19 + t.i * 17) % 256) // 255) AS total
          FROM d, generate_series(0, 5 * 3 - 1) AS t(i)
          WHERE t.i < d.bw * d.bh
          GROUP BY d.doc_id, d.bw, d.bh)
    SELECT doc_id,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(total // (bw * bh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "cmyk"),
    bench=True,  # r12: 4-component codec branch, tracked per round
)
def multimodal_jpeg_cmyk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADOBE CMYK / YCCK (4-component) decode under the driver's
    value-hash gate — the most frequent remaining real-crawl decode miss
    after baseline + progressive + multi-scan (r11 verdict #2:
    print-origin web assets need the APP14 transform).  Each document's
    flat-block image is a 4-component SOF0 frame with the Adobe APP14
    marker (functions/jpeg.py encode_jpeg_flat_cmyk); EVEN doc_ids take
    transform 0 (stored inverted CMY), ODD doc_ids transform 2 (YCCK —
    the decoder must run the YCbCr inverse plus the libjpeg-convention
    inversion), so BOTH color branches sit under the hash.  Per-block
    C' = M' = Y' = luma and K' = k make the decoded RGB the exact integer
    ``luma * k // 255``, so the oracle predicts mean luma analytically;
    JDK cross-validation (the JDK color-manages: sRGB-encode of the
    linear product, predicted analytically to ±1) is in
    tests/test_jpeg_real.py.

    Scale: identical to the other codec queries — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    jpeg = _codec("jpeg")
    encode_cmyk = jpeg.encode_jpeg_flat_cmyk
    decode_jpeg = jpeg.decode_jpeg
    mean_luma = jpeg.mean_luma

    # one fused Python stage — same decoder entry point and shared luma
    # statistic as decode_features_jpeg (see multimodal_jpeg_block_stats)
    def row_of(i: int):
        bw, bh = (i * 13) % 5 + 1, (i * 5) % 3 + 1
        lum = [(i * 47 + b * 31) % 256 for b in range(bw * bh)]
        kk = [(i * 19 + b * 17) % 256 for b in range(bw * bh)]
        w, h, ch, px = decode_jpeg(
            encode_cmyk(bw * 8, bh * 8, lum, kk, transform=(i % 2) * 2)
        )
        return (w, h, mean_luma(px, ch, w, h))

    return _fused_media_gate(
        spark, sf_dir, row_of, ("width", "height", "mean_luma")
    )


@register(
    "multimodal_jpeg_rgb_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 11) % 5 + 1 AS bw,
                      (doc_id * 7) % 3 + 1 AS bh
               FROM documents),
    s AS (SELECT d.doc_id, d.bw, d.bh,
                 SUM(299 * ((d.doc_id * 43 + t.i * 37) % 256)
                     + 587 * 128 + 114 * 128) AS total
          FROM d, generate_series(0, 5 * 3 - 1) AS t(i)
          WHERE t.i < d.bw * d.bh
          GROUP BY d.doc_id, d.bw, d.bh)
    SELECT doc_id,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(total // (1000 * bw * bh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "rgb", "adobe"),
)
def multimodal_jpeg_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED-RGB JPEG decode under the driver's value-hash gate (r12
    review finding: 3-component Adobe transform-0 / R-G-B-component-ID
    frames are stored RGB and must NOT run the YCbCr inverse).  Each
    document's flat-block multiscan stream is tagged stored-RGB — EVEN
    doc_ids via an Adobe APP14 transform-0 marker, ODD doc_ids via
    R/G/B component IDs with no APP14 (libjpeg jdmaster's fallback
    guess) — so a decoded block is literally (lum, 128, 128) and the
    Rec.601 mean luma is (299*lum + 587*128 + 114*128) // 1000,
    predicted exactly by the oracle.  A regression back to the YCbCr
    inverse shifts every pixel and breaks the hash.

    Scale: identical to the other codec queries — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    encode_ms = _codec("jpeg").encode_jpeg_flat_multiscan

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        app14 = (
            b"\xff\xee"
            + _struct.pack(">H", 14)
            + b"Adobe"
            + _struct.pack(">HHHB", 100, 0, 0, 0)
        )
        # marker-anchored patterns: _BitWriter stuffs 0xFF inside entropy
        # data (T.81 F.1.2.3), so \xff\xda cannot occur by chance; the
        # SOF component list is anchored by its nc=3 count byte
        sof_ids = b"\x03\x01\x11\x00\x02\x11\x00\x03\x11\x00"
        sos1_ids = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
        sos2_ids = b"\xff\xda\x00\x0a\x02\x02\x00\x03\x00\x00\x3f\x00"

        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                bw, bh = (i * 11) % 5 + 1, (i * 7) % 3 + 1
                blocks = [(i * 43 + b * 37) % 256 for b in range(bw * bh)]
                data = encode_ms(bw * 8, bh * 8, blocks)
                if i % 2 == 0:  # Adobe APP14 transform 0 after SOI
                    data = data[:2] + app14 + data[2:]
                else:  # component IDs spell R/G/B, no APP14
                    # loud fixture guard: each pattern must occur exactly
                    # once (the SOS patterns are marker-anchored; the SOF
                    # pattern is anchored by its nc=3 count byte) — a
                    # header-layout drift or an entropy collision must
                    # fail HERE, not as an opaque oracle hash mismatch
                    if not (
                        data.count(sof_ids) == 1
                        and data.count(sos1_ids) == 1
                        and data.count(sos2_ids) == 1
                    ):
                        raise ValueError(
                            "rgb_stats fixture patterns did not match "
                            "exactly once — encoder layout drifted?"
                        )
                    data = (
                        data.replace(
                            sof_ids,
                            b"\x03\x52\x11\x00\x47\x11\x00\x42\x11\x00",
                        )
                        .replace(
                            sos1_ids,
                            b"\xff\xda\x00\x08\x01\x52\x00\x00\x3f\x00",
                        )
                        .replace(
                            sos2_ids,
                            b"\xff\xda\x00\x0a\x02\x47\x00\x42\x00\x00\x3f\x00",
                        )
                    )
                media.append(data)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return (
        decode_features_jpeg(docs, synth=synth)
        .select("doc_id", "width", "height", "mean_luma")
        .transform(sort_once, "doc_id")
    )


@register(
    "multimodal_png_palette_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 17 + 2 AS w,
                      (doc_id * 5) % 13 + 2 AS h,
                      CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
                                      WHEN 2 THEN 16 ELSE 256 END AS n
               FROM documents),
    px AS (SELECT d.doc_id, d.w, d.h,
                  (d.doc_id + t.i * 13) % d.n AS v
           FROM d, generate_series(0, 18 * 14 - 1) AS t(i)
           WHERE t.i < d.w * d.h),
    s AS (SELECT doc_id, w, h,
                 SUM(299 * ((doc_id * 7 + v * 13) % 256)
                   + 587 * ((doc_id * 11 + v * 29) % 256)
                   + 114 * ((doc_id * 3 + v * 47) % 256)) AS total
          FROM px GROUP BY doc_id, w, h)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(total // (1000 * w * h) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "palette"),
)
def multimodal_png_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEXED-COLOUR (palette, color type 3) PNG decode under the
    driver's value-hash gate — the last common web-corpus PNG flavor the
    codec matrix rejected (r10 verdict #1).  Each document defines a
    palette image: bit depth cycles 1/2/4/8 with doc_id%4 (so every
    sub-byte MSB-first unpack path executes), palette entry j is an RGB
    triple derived from (doc_id, j), pixel p's index is
    (doc_id + p*13) % n_entries, and every third document carries a
    partial tRNS chunk (exercising the RGBA expansion + opaque-default
    tail, spec 11.3.2 — the Rec.601 luma ignores alpha, so the oracle is
    depth- and alpha-invariant).  The bytes are ENCODED as genuine
    bit-packed PNGs and DECODED back through PLTE expansion by the
    from-spec codec (functions/png.py) inside Arrow-batched
    ``mapInPandas``; the oracle recomputes the luma from the index
    formula directly, so an error anywhere in the packing, filtering,
    PLTE lookup, or tRNS handling breaks the hash.  JDK-written palette
    PNGs (incl. Adam7-interlaced) are cross-validated against
    javax.imageio in tests/test_multimodal_real.py.

    Scale: identical to the other codec queries — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    encode_png = _codec("png").encode_png

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 17 + 2, (i * 5) % 13 + 2
                depth = (1, 2, 4, 8)[i % 4]
                n = 1 << depth
                pal = bytes(
                    c
                    for j in range(n)
                    for c in (
                        (i * 7 + j * 13) % 256,
                        (i * 11 + j * 29) % 256,
                        (i * 3 + j * 47) % 256,
                    )
                )
                rows = [
                    bytes((i + (y * w + x) * 13) % n for x in range(w))
                    for y in range(h)
                ]
                trns = (
                    bytes((i + v * 17) % 256 for v in range((n + 1) // 2))
                    if i % 3 == 0
                    else None
                )
                media.append(
                    encode_png(
                        w, h, rows, color_type=3, depth=depth,
                        palette=pal, trns=trns,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return (
        decode_features_png(docs, synth=synth)
        .select("doc_id", "width", "height", "mean_luma")
        .transform(sort_once, "doc_id")
    )


# ---------------------------------------------------------------------------
# real audio decode (pure-stdlib WAV codec, functions/wav.py)
# ---------------------------------------------------------------------------

WAV_MAX_FRAMES = 123  # doc_id % 120 + 4 ∈ [4, 123]; 2 channels → ≤246 samples


def decode_features_wav(media_df: DataFrame, on_error: str = "raise", synth=None) -> DataFrame:
    """ACTUALLY-executing real audio decode: parse genuine RIFF/WAVE bytes
    back to PCM16 samples with the from-spec stdlib codec
    (functions/wav.py) inside Arrow-batched ``mapInPandas`` and emit the
    loudness profile a speech/audio pipeline filters on — frame count,
    format fields read from the ``fmt `` chunk (NOT trusted metadata),
    integer peak amplitude and mean-square energy.  The audio twin of
    :func:`decode_features_png`: same by-value codec shipping, same
    batch shape, swapping decoders changes one closure.

    Scale: samples never leave the executors — each payload reduces to six
    small ints in the exchanged rows; decode parallelism is the scan's.
    """
    decode_wav = _codec("wav").decode_wav

    def rows_of(data: bytes):
        rate, ch, samples = decode_wav(data)
        n_frames = len(samples) // ch
        yield (
            rate,
            ch,
            n_frames,
            n_frames * 1_000_000 // rate,
            # an empty data chunk is VALID WAV (review r08): a zero-length
            # track scores silence, not a crash
            max((abs(s) for s in samples), default=0),
            sum(s * s for s in samples) // len(samples) if samples else 0,
        )

    return _codec_lane(media_df, rows_of, _LOUDNESS_STATS, on_error, synth)


@register(
    "multimodal_wav_loudness",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      doc_id % 2 + 1 AS channels,
                      8000 + (doc_id % 3) * 4000 AS sample_rate,
                      doc_id % 120 + 4 AS n_frames
               FROM documents),
    s AS (SELECT d.doc_id, d.channels, d.sample_rate, d.n_frames,
                 CASE WHEN (d.doc_id * 131 + t.k * 997) % 65536 >= 32768
                      THEN (d.doc_id * 131 + t.k * 997) % 65536 - 65536
                      ELSE (d.doc_id * 131 + t.k * 997) % 65536 END AS smp
          FROM d, generate_series(0, {2 * WAV_MAX_FRAMES} - 1) AS t(k)
          WHERE t.k < d.n_frames * d.channels),
    g AS (SELECT doc_id, channels, sample_rate, n_frames,
                 MAX(abs(smp)) AS peak, SUM(smp * smp) AS ss, COUNT(*) AS n
          FROM s GROUP BY 1, 2, 3, 4)
    SELECT doc_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames * 1000000 // sample_rate AS BIGINT) AS duration_us,
           CAST(peak AS BIGINT) AS peak_amplitude,
           CAST(ss // n AS BIGINT) AS mean_square
    FROM g ORDER BY doc_id
    """,
    tags=("multimodal", "audio", "decode"),
)
def multimodal_wav_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the driver's value-hash gate: each document
    id deterministically defines a PCM16 track (channels = id%2+1, rate =
    8000 + (id%3)*4000 Hz, frames = id%120+4, interleaved sample k =
    signed16((id*131 + k*997) % 65536)), which is ENCODED to genuine WAV
    bytes and DECODED back by the from-spec stdlib codec (functions/wav.py)
    inside Arrow-batched ``mapInPandas``.  The oracle recomputes every
    statistic from the sample formula directly, so a bit error anywhere in
    the RIFF chunk walk, fmt parsing, or little-endian signed-sample
    unpacking breaks the hash — note sample_rate/channels come OUT of the
    decoded fmt chunk, not from the synthesis side.  (The codec is
    additionally cross-validated against the stdlib ``wave`` module and
    the JVM's javax.sound.sampled in tests/test_wav.py.)

    Scale: same story as multimodal_png_pixel_stats — with a real media
    fixture the synth step disappears and decode_features_wav runs over
    the binary column directly; exchanged rows are seven small ints.
    """
    encode_wav = _codec("wav").encode_wav

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                ch = i % 2 + 1
                rate = 8000 + (i % 3) * 4000
                n = (i % 120 + 4) * ch
                samples = []
                for k in range(n):
                    v = (i * 131 + k * 997) % 65536
                    samples.append(v - 65536 if v >= 32768 else v)
                media.append(encode_wav(rate, ch, samples))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_features_wav(docs, synth=synth).transform(sort_once, "doc_id")


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (real decode -> 8x8 block aHash -> groups)
# ---------------------------------------------------------------------------

PH_GROUPS = 40        # distinct base patterns; ~12 docs share each at sf0.01
PH_SHIFT_SALT = 7919  # per-doc brightness shift seed ((doc_id*salt) % 3 - 1)


@register(
    "multimodal_phash_dup_groups",
    oracle=f"""
    WITH gs AS (SELECT DISTINCT doc_id % {PH_GROUPS} AS g FROM documents),
    dims AS (SELECT g, g % 13 + 8 AS w, (g * 5) % 11 + 8 AS h FROM gs),
    px AS (SELECT g, w, h,
                  ((t.i // w) * 8 // h) * 8 + (t.i % w) * 8 // w AS b,
                  (g * 41 + t.i * 23) % 254 + 1 AS v
           FROM dims, generate_series(0, 20 * 18 - 1) AS t(i)
           WHERE t.i < w * h),
    blocks AS (SELECT g, w, h, b, SUM(v) AS bs, COUNT(*) AS nb
               FROM px GROUP BY g, w, h, b),
    tot AS (SELECT g, SUM(bs) AS ts FROM blocks GROUP BY g),
    hash AS (SELECT blocks.g,
                    CAST(SUM(CASE WHEN b >= 32 AND bs * w * h >= ts * nb
                             THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT)
                      AS phash_hi,
                    CAST(SUM(CASE WHEN b < 32 AND bs * w * h >= ts * nb
                             THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
                      AS phash_lo
             FROM blocks JOIN tot USING (g) GROUP BY blocks.g),
    perdoc AS (SELECT d.doc_id, h.phash_hi, h.phash_lo
               FROM (SELECT doc_id, doc_id % {PH_GROUPS} AS g FROM documents) d
               JOIN hash h USING (g))
    SELECT doc_id, phash_hi, phash_lo,
           MIN(doc_id) OVER (PARTITION BY phash_hi, phash_lo) AS keeper_doc_id,
           CAST(COUNT(*) OVER (PARTITION BY phash_hi, phash_lo) AS BIGINT)
             AS group_size
    FROM perdoc
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "dedup", "phash"),
)
def multimodal_phash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup with REAL pixel decode: synthesize per-doc
    greyscale PNGs where docs sharing ``doc_id % PH_GROUPS`` carry the same
    base pattern under a per-doc global brightness shift of -1/0/+1 (so
    their BYTES and md5 differ — pinned by tests), decode with the
    from-spec stdlib codec, compute the classic 8x8 average-hash
    (downsample to 64 blocks, bit = block mean >= image mean), and group
    by hash: byte-level dedup misses these, perceptual dedup catches them.

    Exactness: the bit test is the cross-multiplied integer comparison
    ``block_sum * w * h >= total_sum * n_block`` — no float means, and
    algebraically invariant under a constant brightness shift (both sides
    gain exactly ``shift * n_block * w * h``), which is WHY the shifted
    variants hash identically without any tolerance.  The 64-bit hash is
    emitted as two BIGINT halves (bit 63 would wrap a signed BIGINT).

    Scale: decode + hash run in one Arrow-batched ``mapInPandas`` pass
    (pixels never leave the executor); the dedup shuffle carries
    (doc_id, 2 longs).  With a real media corpus the synth step disappears
    and near-dup matching extends to Hamming-distance banding over the
    same two halves (the SimHash operator's bucketing, dedup.py).
    """
    from pyspark.sql import Window

    png = _codec("png")
    encode_png = png.encode_png
    decode_png = png.decode_png
    groups, salt = PH_GROUPS, PH_SHIFT_SALT

    def synth_decode_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                g = i % groups
                w, h = g % 13 + 8, (g * 5) % 11 + 8
                shift = (i * salt) % 3 - 1
                scan = [
                    bytes(
                        (g * 41 + (y * w + x) * 23) % 254 + 1 + shift
                        for x in range(w)
                    )
                    for y in range(h)
                ]
                # real encode -> real decode round trip (the codec under test)
                dw, dh, ch, px = decode_png(encode_png(w, h, scan, color_type=0))
                assert (dw, dh, ch) == (w, h, 1)
                ts = sum(px)
                bs = [0] * 64
                nb = [0] * 64
                for y in range(dh):
                    rowbase = y * dw
                    by = y * 8 // dh
                    for x in range(dw):
                        b = by * 8 + x * 8 // dw
                        bs[b] += px[rowbase + x]
                        nb[b] += 1
                wh = dw * dh
                phash = sum(
                    1 << b for b in range(64) if bs[b] * wh >= ts * nb[b]
                )
                rows.append((doc_id, phash >> 32, phash & 0xFFFFFFFF))
            yield pd.DataFrame(rows, columns=["doc_id", "phash_hi", "phash_lo"])

    docs = _parallel_doc_ids(spark, sf_dir)
    hashed = docs.mapInPandas(
        synth_decode_hash, "doc_id long, phash_hi long, phash_lo long"
    )
    w = Window.partitionBy("phash_hi", "phash_lo")
    return (
        hashed.select(
            "doc_id",
            "phash_hi",
            "phash_lo",
            F.min("doc_id").over(w).alias("keeper_doc_id"),
            F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# real GIF decode (pure-stdlib LZW codec, functions/gif.py — r11)
# ---------------------------------------------------------------------------

def decode_features_gif(media_df: DataFrame, on_error: str = "raise", synth=None) -> DataFrame:
    """Real GIF first-frame decode — Appendix F variable-width LZW +
    color-table expansion + 4-pass de-interlacing — via the pure-stdlib
    codec (functions/gif.py, written from the GIF89a spec), in the same
    Arrow-batched ``mapInPandas`` shape (and by-value codec shipping) as
    :func:`decode_features_png`.  Emits true (width, height) plus the
    Rec.601 integer ``mean_luma`` over every decoded pixel.
    Cross-validated pixel-exactly against the JVM's independent
    javax.imageio GIF plugin (both directions: JDK-written compressed
    streams decode here; our streams decode there) in
    tests/test_multimodal_real.py.

    Semantic caveat: TRANSPARENT pixels contribute their palette RGB to
    ``mean_luma`` (the palette entry under a transparent index is encoder
    residue, so two visually identical GIFs can differ) — the oracle
    replicates the same convention, so results stay cross-engine exact;
    alpha-weighted luma is what a perceptual consumer should use."""
    gif = _codec("gif")
    decode_gif = gif.decode_gif
    rec601 = gif.rec601_mean

    def rows_of(data: bytes):
        w, h, ch, px = decode_gif(data)
        yield (w, h, rec601(px, ch, w, h))

    return _codec_lane(media_df, rows_of, _IMAGE_STATS, on_error, synth, digest=True)


@register(
    "multimodal_gif_palette_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 19 + 1 AS w,
                      (doc_id * 3) % 11 + 1 AS h,
                      CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 16
                                      ELSE 64 END AS n
               FROM documents),
    px AS (SELECT d.doc_id, d.w, d.h,
                  (d.doc_id * 3 + t.i * 7) % d.n AS v
           FROM d, generate_series(0, 20 * 12 - 1) AS t(i)
           WHERE t.i < d.w * d.h),
    s AS (SELECT doc_id, w, h,
                 SUM(299 * ((doc_id * 5 + v * 11) % 256)
                   + 587 * ((doc_id * 13 + v * 17) % 256)
                   + 114 * ((doc_id * 7 + v * 23) % 256)) AS total
          FROM px GROUP BY doc_id, w, h)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(total // (1000 * w * h) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "gif"),
)
def multimodal_gif_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode under the driver's value-hash gate — the remaining
    common web-corpus image container after PNG and JPEG: each document
    defines an indexed-color image (palette size cycles 4/16/64 with
    doc_id%3, palette entry j an RGB triple derived from (doc_id, j),
    pixel p's index (doc_id*3 + p*7) % n), ENCODED as a genuine GIF89a
    LZW stream (every third document interlaced, so the 4-pass scatter
    executes) and DECODED back through the from-spec LZW + color-table
    pipeline (functions/gif.py) inside Arrow-batched ``mapInPandas``.
    GIF is lossless, so the oracle recomputes the luma from the index
    formula directly — an error anywhere in the bit unpacking, table
    reset, interlace scatter, or palette lookup breaks the hash.  Real
    compressed streams (JDK-written) are cross-validated in
    tests/test_multimodal_real.py.

    Scale: identical to the other codec queries — pixels never leave the
    executors; exchanged rows are (doc_id, 3 small ints).
    """
    encode = _codec("gif").encode_gif

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 19 + 1, (i * 3) % 11 + 1
                n = (4, 16, 64)[i % 3]
                pal = bytes(
                    c
                    for j in range(n)
                    for c in (
                        (i * 5 + j * 11) % 256,
                        (i * 13 + j * 17) % 256,
                        (i * 7 + j * 23) % 256,
                    )
                )
                rows = [
                    bytes((i * 3 + (y * w + x) * 7) % n for x in range(w))
                    for y in range(h)
                ]
                media.append(
                    encode(w, h, rows, pal, interlaced=(i % 3 == 0))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return (
        decode_features_gif(docs, synth=synth)
        .select("doc_id", "width", "height", "mean_luma")
        .transform(sort_once, "doc_id")
    )


def decode_frames_gif(
    media_df: DataFrame, max_frames: int = 8, on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """REAL animation frame sampling (r11) — the genuine-decode upgrade of
    :func:`sample_frames`' byte-slice stand-in: each GIF's first
    ``max_frames`` frames decode through the from-spec LZW codec and emit
    one row per frame with true dimensions and Rec.601 mean luma.  Same
    Arrow-batched ``mapInPandas`` + by-value codec shipping as every other
    real-decode operator; the 1→N frame expansion happens executor-side,
    so a 100 TB corpus of animations fans out at scan parallelism with no
    driver involvement."""
    gif = _codec("gif")
    iter_frames = gif.iter_gif_frames
    rec601 = gif.rec601_mean

    def rows_of(data: bytes):
        # incremental walk: frames decoded before a mid-stream corruption
        # bank as rows ahead of the error row (review r11d)
        for fi, (w, h, ch, px) in zip(range(max_frames), iter_frames(data)):
            yield (fi, w, h, rec601(px, ch, w, h))

    # max_frames <= 0 samples NO frames and decodes nothing, NULL payloads
    # included (decode_gif_frames' contract): a constant-false filter
    # empties the input, and Spark prunes the constant-true one
    return _codec_lane(
        media_df.where(F.lit(max_frames > 0)), rows_of, _FRAME_STATS, on_error, synth
    )


def decode_frames_gif_composed(
    media_df: DataFrame, max_frames: int = 8, on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """COMPOSED animation frame sampling (r12): like
    :func:`decode_frames_gif` but each emitted row is a frame composed
    onto the LOGICAL SCREEN — offsets, transparency show-through, and
    disposal methods 0-3 applied (functions/gif.py
    iter_gif_frames_composed) — the frame a vision-training sampler
    would feed a model, not the raw sub-rect.  Dimensions are the
    logical screen's (constant per asset); mean_luma is Rec.601 over
    the composed RGBA, transparent canvas pixels contributing RGB 0.
    Same Arrow-batched ``mapInPandas`` shape, per-asset on_error
    capture, and mid-stream banking as the per-rect operator."""
    gif = _codec("gif")
    iter_composed = gif.iter_gif_frames_composed
    rec601 = gif.rec601_mean

    def rows_of(data: bytes):
        for fi, (w, h, ch, px) in zip(range(max_frames), iter_composed(data)):
            yield (fi, w, h, rec601(px, ch, w, h))

    # same max_frames <= 0 short-circuit as decode_frames_gif
    return _codec_lane(
        media_df.where(F.lit(max_frames > 0)), rows_of, _FRAME_STATS, on_error, synth
    )


def decode_frames_gif_timesampled(
    media_df: DataFrame,
    every_cs: int = 2,
    max_samples: int = 8,
    on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """TIME-BASED animation sampling (r12): one row per regular tick —
    the composed frame VISIBLE at t = 0, every_cs, 2*every_cs, ...
    centiseconds of the animation's own GCE delay track
    (functions/gif.py time_sampled_composed_frames) — the fixed-rate
    extraction a video-style training pipeline uses, where frame count
    per asset reflects DURATION, not frame-record count.  Emits
    (doc_id, sample_idx, t_cs, frame_idx, width, height, mean_luma);
    the same Arrow-batched ``mapInPandas`` shape and on_error capture
    as every other real-decode operator."""
    gif = _codec("gif")
    iter_samples = gif.iter_time_sampled_composed_frames
    rec601 = gif.rec601_mean

    def rows_of(data: bytes):
        # samples from completed visibility windows bank before a
        # mid-stream corruption raises (the r11d contract); a frame
        # visible at several ticks is measured once
        luma_cache: dict[int, int] = {}
        for k, t, fi, (w, h, ch, px) in iter_samples(data, every_cs, max_samples):
            if fi not in luma_cache:
                luma_cache[fi] = rec601(px, ch, w, h)
            yield (k, t, fi, w, h, luma_cache[fi])

    return _codec_lane(
        media_df, rows_of,
        "sample_idx long, t_cs long, frame_idx long, " + _IMAGE_STATS,
        on_error, synth,
    )


@register(
    "multimodal_gif_timesample_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 3) % 5 + 2 AS a,
                      (doc_id * 7) % 5 + 2 AS h,
                      (doc_id * 31) % 255 AS c0,
                      (doc_id * 37) % 255 AS c1,
                      (doc_id * 41) % 255 AS c2,
                      doc_id % 3 + 1 AS disp,
                      (doc_id * 13) % 5 + 2 AS s1,
                      (doc_id * 13) % 5 + 2 + (doc_id * 7) % 5 + 2 AS s2
               FROM documents),
    s AS (SELECT *, 2 * a AS w,
                 (a + 1) // 2 AS even_cols, a // 2 AS odd_cols
          FROM d),
    ticks AS (SELECT s.*, k.k, 2 * k.k AS t
              FROM s, generate_series(0, 7) AS k(k)
              WHERE 2 * k.k < s.s2
                 OR 2 * k.k = 2 * ((s.s2 + 1) // 2)),
    m AS (SELECT doc_id, k, t, w, h,
                 CASE WHEN t >= s2 THEN 2
                      WHEN t >= s1 THEN 1 ELSE 0 END AS frame_idx,
                 CASE WHEN t >= s2 THEN
                        CASE disp
                          WHEN 1 THEN even_cols * c0 + odd_cols * c1 + a * c2
                          WHEN 2 THEN a * c2
                          ELSE a * c0 + a * c2
                        END
                      WHEN t >= s1
                        THEN even_cols * c0 + odd_cols * c1 + a * c0
                      ELSE 2 * a * c0 END AS rowsum
          FROM ticks)
    SELECT doc_id,
           CAST(k AS BIGINT) AS sample_idx,
           CAST(t AS BIGINT) AS t_cs,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((rowsum * h) // (w * h) AS BIGINT) AS mean_luma
    FROM m
    ORDER BY doc_id, sample_idx
    """,
    tags=("multimodal", "decode", "gif", "frames", "timesample"),
)
def multimodal_gif_timesample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BASED composed-frame sampling under the driver's value-hash
    gate: the same 3-frame composition fixture as
    :func:`multimodal_gif_composed_stats` but with per-frame GCE delays
    (2-6 cs from doc_id, above the browser zero-delay clamp), sampled at
    a fixed 2 cs tick — so the emitted
    rows depend on the DELAY TRACK (which frame is visible at each tick,
    when the final state is reached), not just frame order.  The oracle
    reproduces the visibility windows in closed form; an error in delay
    decode, window arithmetic, or the one-final-sample stop rule breaks
    the hash.

    Scale: identical to the other codec queries — sampling happens
    executor-side inside Arrow-batched ``mapInPandas``; exchanged rows
    are (doc_id, 6 small ints).
    """
    encode_rects = _codec("gif").encode_gif_animation_rects
    pal = bytes(v for v in range(256) for _ in range(3))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                a, h = (i * 3) % 5 + 2, (i * 7) % 5 + 2
                c0, c1, c2 = (i * 31) % 255, (i * 37) % 255, (i * 41) % 255
                ct = 255
                # delays 2..6 cs: above the browser <=1 cs -> 10 cs clamp,
                # so the oracle's window arithmetic is the raw delay track
                d0, d1, d2 = (
                    (i * 13) % 5 + 2, (i * 7) % 5 + 2, (i * 11) % 5 + 2,
                )
                frames = [
                    {
                        "left": 0, "top": 0, "disposal": 1, "delay_cs": d0,
                        "rows": [bytes([c0]) * (2 * a) for _ in range(h)],
                    },
                    {
                        "left": 0, "top": 0, "disposal": i % 3 + 1,
                        "transparent": ct, "delay_cs": d1,
                        "rows": [
                            bytes(ct if x % 2 == 0 else c1 for x in range(a))
                            for _ in range(h)
                        ],
                    },
                    {
                        "left": a, "top": 0, "disposal": 0, "delay_cs": d2,
                        "rows": [bytes([c2]) * a for _ in range(h)],
                    },
                ]
                media.append(encode_rects(2 * a, h, frames, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_frames_gif_timesampled(docs, synth=synth).transform(
        sort_once, "doc_id", "sample_idx"
    )


@register(
    "multimodal_gif_composed_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 3) % 5 + 2 AS a,
                      (doc_id * 7) % 5 + 2 AS h,
                      (doc_id * 31) % 255 AS c0,
                      (doc_id * 37) % 255 AS c1,
                      (doc_id * 41) % 255 AS c2,
                      doc_id % 3 + 1 AS disp
               FROM documents),
    s AS (SELECT doc_id, a, h, disp,
                 2 * a AS w,
                 (a + 1) // 2 AS even_cols,
                 a // 2 AS odd_cols,
                 c0, c1, c2
          FROM d),
    fr AS (
      SELECT doc_id, 0 AS f, w, h, 2 * a * c0 AS rowsum FROM s
      UNION ALL
      SELECT doc_id, 1, w, h,
             even_cols * c0 + odd_cols * c1 + a * c0
      FROM s
      UNION ALL
      SELECT doc_id, 2, w, h,
             CASE disp
               WHEN 1 THEN even_cols * c0 + odd_cols * c1 + a * c2
               WHEN 2 THEN a * c2
               ELSE a * c0 + a * c2
             END
      FROM s)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((rowsum * h) // (w * h) AS BIGINT) AS mean_luma
    FROM fr
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "decode", "gif", "frames", "composed"),
)
def multimodal_gif_composed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED-frame GIF sampling under the driver's value-hash gate
    (r11 verdict #4: per-frame stats were fine, but an actual
    vision-training frame sampler consumes composed frames).  Each
    document is a 3-frame animation on a 2a x h logical screen with a
    256-entry grayscale palette (index v -> (v,v,v), so luma == index):
    frame 0 fills the screen with c0 (disposal 1); frame 1 is a LEFT-HALF
    sub-rect whose even columns are the TRANSPARENT index (c0 shows
    through) and odd columns c1, with disposal doc_id % 3 + 1 — so
    do-not-dispose, restore-to-background (renders transparent, RGB 0),
    and restore-to-previous all sit under the hash; frame 2 is a
    RIGHT-HALF flat-c2 sub-rect whose composed stats differ per disposal
    branch.  The oracle computes every composed frame's mean luma in
    closed form; any error in offset placement, transparency
    show-through, or disposal handling breaks the value hash.

    Scale: identical to the other codec queries — composition happens
    executor-side inside Arrow-batched ``mapInPandas``; exchanged rows
    are (doc_id, frame_idx, 3 small ints).
    """
    encode_rects = _codec("gif").encode_gif_animation_rects
    pal = bytes(v for v in range(256) for _ in range(3))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                a, h = (i * 3) % 5 + 2, (i * 7) % 5 + 2
                c0, c1, c2 = (i * 31) % 255, (i * 37) % 255, (i * 41) % 255
                ct = 255
                frames = [
                    {
                        "left": 0, "top": 0, "disposal": 1,
                        "rows": [bytes([c0]) * (2 * a) for _ in range(h)],
                    },
                    {
                        "left": 0, "top": 0, "disposal": i % 3 + 1,
                        "transparent": ct,
                        "rows": [
                            bytes(ct if x % 2 == 0 else c1 for x in range(a))
                            for _ in range(h)
                        ],
                    },
                    {
                        "left": a, "top": 0, "disposal": 0,
                        "rows": [bytes([c2]) * a for _ in range(h)],
                    },
                ]
                media.append(encode_rects(2 * a, h, frames, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_frames_gif_composed(docs, synth=synth).transform(sort_once, "doc_id", "frame_idx")


@register(
    "multimodal_gif_frame_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 13 + 1 AS w,
                      (doc_id * 7) % 9 + 1 AS h
               FROM documents),
    fr AS (SELECT d.doc_id, d.w, d.h, f.f
           FROM d, generate_series(0, 2) AS f(f)),
    px AS (SELECT fr.doc_id, fr.w, fr.h, fr.f,
                  (fr.doc_id + fr.f * 29 + t.i * 7) % 16 AS v
           FROM fr, generate_series(0, 13 * 9 - 1) AS t(i)
           WHERE t.i < fr.w * fr.h),
    s AS (SELECT doc_id, f, w, h,
                 SUM(299 * ((doc_id * 5 + v * 19) % 256)
                   + 587 * ((doc_id * 3 + v * 31) % 256)
                   + 114 * ((doc_id * 11 + v * 43) % 256)) AS total
          FROM px GROUP BY doc_id, f, w, h)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(total // (1000 * w * h) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "decode", "gif", "frames"),
)
def multimodal_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame sampling under the driver's value-hash gate —
    the video-adjacent path decoding for real: each document defines a
    3-frame animation (16-entry palette from (doc_id, j), frame f's pixel
    p indexed (doc_id + f*29 + p*7) % 16), encoded as a genuine
    multi-image GIF89a (per-frame GCE delays) and decoded back through
    the frame iterator (functions/gif.py) inside Arrow-batched
    ``mapInPandas`` — a real 1→N expansion per asset.  The oracle
    recomputes every frame's luma from the index formula, so an error in
    the frame walk, per-frame GCE scoping, or LZW restart between images
    breaks the hash.  The JDK's sequence writer/reader cross-validate
    both directions in tests/test_multimodal_real.py.

    Scale: identical to the other codec queries; the frame fan-out is
    executor-side (exchanged rows are (doc_id, frame_idx, 3 ints)).
    """
    encode_anim = _codec("gif").encode_gif_animation

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 13 + 1, (i * 7) % 9 + 1
                pal = bytes(
                    c
                    for j in range(16)
                    for c in (
                        (i * 5 + j * 19) % 256,
                        (i * 3 + j * 31) % 256,
                        (i * 11 + j * 43) % 256,
                    )
                )
                frames = [
                    [
                        bytes((i + f * 29 + (y * w + x) * 7) % 16 for x in range(w))
                        for y in range(h)
                    ]
                    for f in range(3)
                ]
                media.append(encode_anim(w, h, frames, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_frames_gif(docs, synth=synth).transform(sort_once, "doc_id", "frame_idx")


def _parallel_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id scan spread to the cluster's parallelism for the CPU-bound
    synth+decode gates: at fixture scale the single documents parquet file
    yields ONE input partition, serializing a pure-Python codec gate onto
    one core (webp measured 25.9s -> 3.0s at sf0.1 on local[32]).  The
    repartition moves only 8-byte doc_id rows — the parallelism a real
    multi-file media scan has natively.  As of r14 every synth gate in
    this module (png/jpeg/gif/wav/webp/flac/phash families) goes through
    this helper; the plan pin in tests/test_plans.py
    (test_codec_gates_decode_in_parallel) covers them all.
    """
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _fused_media_gate(
    spark: SparkSession, sf_dir: str, row_of_id, columns: tuple[str, ...]
) -> DataFrame:
    """Single Python stage for the synthetic codec gates: synthesize the
    media bytes and decode them in the SAME Arrow batch loop (guide §4 —
    as two chained ``mapInPandas`` stages the payload crossed the
    JVM<->Python boundary twice, once out of the synth stage and once
    into the decode stage, for bytes that exist only to be decoded;
    fusing halves the boundary cost — interleaved A/B on the webp_lossy
    gate at sf0.1: 2.63 -> 2.36 s/pass, identical rows).

    ``row_of_id`` maps a doc_id to its feature tuple and MUST route
    through the same ``functions/*`` codec entry points as the family's
    ``decode_features_*`` operator, so the gate still drives the full
    from-spec decode path under the driver's value hash.  With a real
    media corpus the synth lane disappears entirely and
    ``decode_features_*`` over the binary column remains the production
    operator (unchanged by this fusion).  Strict decode contract: these
    are self-generated payloads, so a decode failure raises loudly —
    the crawl-tolerant ``on_error='null'`` lane lives on the operators.
    """
    cols = ["doc_id", *columns]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(int(i), *row_of_id(int(i))) for i in pdf["doc_id"]]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    schema = ", ".join(f"{c} long" for c in cols)
    return (
        _parallel_doc_ids(spark, sf_dir)
        .mapInPandas(run, schema)
        .transform(sort_once, "doc_id")
    )


# ---------------------------------------------------------------------------
# WebP — the highest-frequency web image format (r12 verdict missing-list
# #1).  VP8L lossless decodes natively; since r14 lossy "VP8 " key frames
# decode too (functions/vp8.py, BT.601 RGBA presentation here, native
# planes via the lossy lane below); standalone ALPH surfaces as an honest
# decode_error row through on_error='null'
# ---------------------------------------------------------------------------


def decode_features_webp(media_df: DataFrame, on_error: str = "raise") -> DataFrame:
    """REAL WebP decode inside Python workers via the from-spec pure-stdlib
    VP8L codec (functions/webp.py — canonical prefix codes, LZ77 backrefs,
    color cache, and all four transform inverses written from the public
    lossless bitstream spec).  Emits true (width, height) plus ``mean_luma``
    (Rec.601 integer luma over the decoded RGBA pixels — evidence the
    PIXELS were decoded, not just the header).  Same Arrow-batched
    mapInPandas shape (and by-value codec shipping) as
    :func:`decode_features_png`.

    Cross-validation note: the JDK's javax.imageio cannot read WebP (and
    PIL is absent here), so the JVM lane the PNG/GIF/JPEG codecs use does
    not apply — conformance is anchored by hand-built spec vectors and
    encoder round-trips in tests/test_webp.py.  Lossy VP8 stills decode
    for real (functions/vp8.py with a BT.601 presentation conversion;
    the exact-luma lane is :func:`decode_features_webp_lossy`); animated
    frames raise NotImplementedError in the codec and land as
    ``decode_error`` rows when ``on_error='null'`` (the crawl contract:
    dark data is visible, never silently wrong).
    """
    webp = _codec("webp")
    decode_webp = webp.decode_webp
    mean_luma_rgba = webp.mean_luma_rgba

    def rows_of(data: bytes):
        w, h, ch, px = decode_webp(data)
        yield (w, h, mean_luma_rgba(px, ch, w, h))

    return _codec_lane(media_df, rows_of, _IMAGE_STATS, on_error, digest=True)


@register(
    "multimodal_webp_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 14 + 2 AS width,
                      (doc_id * 5) % 11 + 2 AS height
               FROM documents),
    s AS (SELECT d.doc_id, d.width, d.height,
                 SUM(299 * ((d.doc_id * 11 + t.i * 7) % 256)
                   + 587 * ((d.doc_id * 13 + t.i * 5) % 256)
                   + 114 * ((d.doc_id * 17 + t.i * 3) % 256)) AS total
          FROM d, generate_series(0, 15 * 12 - 1) AS t(i)
          WHERE t.i < d.width * d.height
          GROUP BY d.doc_id, d.width, d.height)
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(total // (1000 * width * height) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "webp"),
    bench=True,
)
def multimodal_webp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL VP8L WebP decode under the driver's value-hash gate: each
    document id deterministically defines an RGBA image (width =
    id%14+2, height = (id*5)%11+2; pixel i's channels r = (id*11+i*7)%256,
    g = (id*13+i*5)%256, b = (id*17+i*3)%256, alpha opaque), ENCODED to a
    genuine VP8L stream and DECODED back by the from-spec codec inside
    Arrow-batched ``mapInPandas`` — rotating the encode path per document
    so the gate exercises ALL FOUR decoder transform inverses: id%4==0 →
    COLOR_INDEXING (the image always has <=180 distinct colors, packed
    indices when few), id%4==1 → SUBTRACT_GREEN + PREDICTOR((id//4)%14),
    id%4==2 → PREDICTOR((id//4)%14) alone (the mode cycles on id//4 so it
    does not alias with the %4 rotation), id%4==3 → SUBTRACT_GREEN + the
    cross-COLOR transform with id-derived element bytes.  The oracle
    recomputes
    width/height/mean-luma from the pixel formula directly, so a bit error
    anywhere in the prefix-code plumbing, transform inverses, or luma math
    breaks the hash.

    Scale: pixels never leave the executors — the exchanged rows are
    (doc_id, 3 small ints); decode parallelism is the cluster's (the
    fixture's single-partition scan is spread by the 8-byte doc_id
    repartition in ``_parallel_doc_ids``).  With a real media fixture the
    synth step disappears and decode_features_webp runs over the binary
    column directly at the scan's natural multi-file parallelism.
    """
    webp = _codec("webp")
    encode_webp = webp.encode_webp_lossless
    decode_webp = webp.decode_webp
    mean_luma_rgba = webp.mean_luma_rgba

    # one fused Python stage (synth + decode, _fused_media_gate) — same
    # decoder entry point and shared Rec.601 statistic
    # (webp.mean_luma_rgba) as decode_features_webp
    def row_of(i: int):
        w, h = i % 14 + 2, (i * 5) % 11 + 2
        rgba = bytes(
            v
            for p in range(w * h)
            for v in (
                (i * 11 + p * 7) % 256,
                (i * 13 + p * 5) % 256,
                (i * 17 + p * 3) % 256,
                255,
            )
        )
        # mode cycles on i//4 — gcd(4,14)=2, so an i%14 mode would
        # alias with the %4 rotation and each branch would only
        # ever see half the predictor modes (review r13)
        if i % 4 == 0:
            data = encode_webp(w, h, rgba, palette=True)
        elif i % 4 == 1:
            data = encode_webp(
                w, h, rgba, subtract_green=True, predictor_mode=(i // 4) % 14
            )
        elif i % 4 == 2:
            data = encode_webp(w, h, rgba, predictor_mode=(i // 4) % 14)
        else:
            data = encode_webp(
                w, h, rgba, subtract_green=True,
                color_cte=((i * 7) % 256, (i * 11) % 256, (i * 13) % 256),
            )
        dw, dh, ch, px = decode_webp(data)
        return (dw, dh, mean_luma_rgba(px, ch, dw, dh))

    return _fused_media_gate(
        spark, sf_dir, row_of, ("width", "height", "mean_luma")
    )


def decode_features_webp_lossy(
    media_df: DataFrame, on_error: str = "raise"
) -> DataFrame:
    """REAL lossy-VP8 WebP decode inside Python workers via the from-spec
    pure-stdlib key-frame decoder (functions/vp8.py — boolean arithmetic
    decoder, intra prediction, token-tree residuals, integer inverse
    WHT/DCT, in-loop deblocking; RFC 6386).  Emits (width, height,
    mean_luma) where ``mean_luma`` is the integer mean of the NATIVE Y
    plane — no YUV->RGB presentation conversion, so the statistic is
    exact and oracle-predictable even for a lossy codec (the flat-MB
    fixture reconstructs bit-exactly, the JPEG DC-only device).

    Crawl contract: ``on_error='null'`` turns malformed/unsupported
    payloads into visible ``decode_error`` rows, same as every decode
    lane here.
    """
    webp = _codec("webp")
    decode_planes = webp.decode_webp_planes
    mean_luma_y = webp.mean_luma_y

    def rows_of(data: bytes):
        w, h, y, _u, _v = decode_planes(data)
        yield (w, h, mean_luma_y(y, w, h))

    return _codec_lane(media_df, rows_of, _IMAGE_STATS, on_error, digest=True)


@register(
    "multimodal_webp_lossy_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 4 + 1 AS mw,
                      (doc_id * 3) % 4 + 1 AS mh
               FROM documents),
    s AS (SELECT d.doc_id, d.mw, d.mh,
                 SUM((d.doc_id * 29 + t.i * 23) % 256) AS total
          FROM d, generate_series(0, 4 * 4 - 1) AS t(i)
          WHERE t.i < d.mw * d.mh
          GROUP BY d.doc_id, d.mw, d.mh)
    SELECT doc_id,
           CAST(mw * 16 AS BIGINT) AS width,
           CAST(mh * 16 AS BIGINT) AS height,
           CAST(total // (mw * mh) AS BIGINT) AS mean_luma
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "webp", "lossy"),
    bench=True,  # r14: lossy VP8 decode throughput, tracked round-over-round
)
def multimodal_webp_lossy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy VP8 WebP decode under the driver's value-hash gate — the
    r13 verdict's #1 coverage gap (most real crawl ``.webp`` is lossy):
    each document id defines a flat-macroblock image (doc_id%4+1 x
    (doc_id*3)%4+1 MBs of 16x16; MB b's luma = (doc_id*29 + b*23) % 256),
    ENCODED to a genuine VP8 key frame and DECODED back through the full
    from-spec pipeline (boolean decoder, key-frame header, intra modes,
    token trees with band/context model, dequant, inverse WHT + DCT —
    functions/vp8.py) inside Arrow-batched ``mapInPandas``.  The intra
    mode ROTATES per macroblock ((doc_id + b) % 5 over DC/V/H/TM/B_PRED,
    the B_PRED lane alternating B_DC/B_TM submodes under the context-
    conditioned kf_bmode tables), so the gate exercises every 16x16
    predictor, both token block-type lanes (Y2+type-0 and type-3), and
    the subblock mode coder.  Flat DC-only macroblocks are the lossy-
    codec family whose decode is bit-exact (dequantized Y2 DC 64r folds
    through WHT and DCT to exactly r — vp8.py module docstring), so the
    oracle predicts width/height/mean-Y-luma from the formula directly
    and any entropy-coding, prediction, or transform bit error breaks
    the hash.

    Scale: the VP8L twin's shape — pixels never leave the executors, the
    exchanged rows are (doc_id, 3 small ints); the fixture's single-file
    scan is spread by ``_parallel_doc_ids``.  With a real media corpus
    the synth step disappears and decode_features_webp_lossy runs over
    the binary column at the scan's natural multi-file parallelism.
    """
    webp = _codec("webp")
    encode_lossy = webp.encode_webp_lossy_flat
    decode_planes = webp.decode_webp_planes
    mean_luma_y = webp.mean_luma_y

    # one fused Python stage (synth + decode, _fused_media_gate) — same
    # decoder entry point and shared native-Y mean (webp.mean_luma_y)
    # as decode_features_webp_lossy
    def row_of(i: int):
        mw, mh = i % 4 + 1, (i * 3) % 4 + 1
        lumas = [(i * 29 + b * 23) % 256 for b in range(mw * mh)]
        modes = [(i + b) % 5 for b in range(mw * mh)]
        w, h, y, _u, _v = decode_planes(encode_lossy(mw, mh, lumas, modes=modes))
        return (w, h, mean_luma_y(y, w, h))

    return _fused_media_gate(
        spark, sf_dir, row_of, ("width", "height", "mean_luma")
    )


def decode_frames_webp_composed(
    media_df: DataFrame, max_frames: int = 8, on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """COMPOSED animated-WebP frame sampling (r14): each emitted row is an
    ANMF frame composed onto the canvas — offsets, alpha blending vs
    replacement, and dispose-to-background applied
    (functions/webp.py iter_webp_frames_composed), per-frame VP8L/VP8
    payloads decoded by the from-spec codecs.  Dimensions are the
    canvas's (constant per asset); mean_luma is the SAME Rec.601 integer
    convention as every GIF frame operator (functions/gif.py
    rec601_mean — transparent canvas pixels contribute RGB 0), so the
    two animation families cannot drift apart.  Same Arrow-batched
    ``mapInPandas`` shape, per-asset on_error capture, and mid-stream
    banking as the GIF composed operator."""
    iter_composed = _codec("webp").iter_webp_frames_composed
    rec601 = _codec("gif").rec601_mean

    def rows_of(data: bytes):
        for fi, (w, h, ch, px) in zip(range(max_frames), iter_composed(data)):
            yield (fi, w, h, rec601(px, ch, w, h))

    # same max_frames <= 0 short-circuit as decode_frames_gif
    return _codec_lane(
        media_df.where(F.lit(max_frames > 0)), rows_of, _FRAME_STATS, on_error, synth
    )


@register(
    "multimodal_webp_anim_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      2 * (doc_id % 3 + 1) AS a,
                      (doc_id * 7) % 5 + 2 AS h,
                      (doc_id * 31) % 255 AS c0,
                      (doc_id * 37) % 255 AS c1,
                      (doc_id * 41) % 255 AS c2,
                      (doc_id * 43) % 255 AS bgc,
                      doc_id % 2 AS disp
               FROM documents),
    s AS (SELECT doc_id, a, h, disp, bgc,
                 2 * a AS w,
                 (a + 1) // 2 AS even_cols,
                 a // 2 AS odd_cols,
                 c0, c1, c2
          FROM d),
    fr AS (
      SELECT doc_id, 0 AS f, w, h, 2 * a * c0 AS rowsum FROM s
      UNION ALL
      SELECT doc_id, 1, w, h,
             even_cols * c0 + odd_cols * c1 + a * c0
      FROM s
      UNION ALL
      SELECT doc_id, 2, w, h,
             CASE disp
               WHEN 1 THEN a * bgc + a * c2
               ELSE even_cols * c0 + odd_cols * c1 + a * c2
             END
      FROM s)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((rowsum * h) // (w * h) AS BIGINT) AS mean_luma
    FROM fr
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "decode", "webp", "animation"),
)
def multimodal_webp_anim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED WebP composition under the driver's value-hash gate (r13
    verdict missing-list #4): each document id defines a three-frame
    animation on a (2a x h) canvas, a = 2*(doc_id%3+1) (even, per the
    container's halved offset fields), h = (doc_id*7)%5+2, gray levels
    c0/c1/c2/bg = (doc_id*{31,37,41,43})%255 — ENCODED to genuine
    VP8X+ANIM+ANMF chunks with per-frame VP8L payloads and DECODED back
    composed (functions/webp.py iter_webp_frames_composed):

    - frame 0: full canvas, c0, replace (no-blend);
    - frame 1: LEFT half, alternating transparent/c1 columns, alpha
      BLENDED (c0 shows through the even columns), and dispose-to-
      background when doc_id is odd;
    - frame 2: RIGHT half, c2, replace — so the emitted frame-2 row
      reads EITHER the disposed background fill (bg) or the persisted
      frame-1 composite on the left, exercising both disposal paths
      under the hash.

    Gray pixels make Rec.601 luma equal the gray level exactly, so the
    oracle reproduces every composed mean in closed form; an error in
    chunk walk, offset/blend/dispose handling, or the per-frame VP8L
    decode breaks the hash.

    Scale: identical to the other codec gates — composition happens
    executor-side inside Arrow-batched ``mapInPandas``; exchanged rows
    are (doc_id, 4 small ints); the fixture scan is spread by
    ``_parallel_doc_ids``.
    """
    encode_anim = _codec("webp").encode_webp_anim

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def gray(v: int, alpha: int = 255) -> bytes:
            return bytes((v, v, v, alpha))

        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                a, h = 2 * (i % 3 + 1), (i * 7) % 5 + 2
                c0, c1, c2, bgc = (
                    (i * 31) % 255, (i * 37) % 255, (i * 41) % 255,
                    (i * 43) % 255,
                )
                f0 = gray(c0) * (2 * a * h)
                f1 = b"".join(
                    gray(0, 0) if x % 2 == 0 else gray(c1)
                    for _ in range(h)
                    for x in range(a)
                )
                f2 = gray(c2) * (a * h)
                frames = [
                    {"x": 0, "y": 0, "w": 2 * a, "h": h, "rgba": f0,
                     "blend": False},
                    {"x": 0, "y": 0, "w": a, "h": h, "rgba": f1,
                     "blend": True, "dispose_bg": i % 2 == 1},
                    {"x": a, "y": 0, "w": a, "h": h, "rgba": f2,
                     "blend": False},
                ]
                media.append(
                    encode_anim(2 * a, h, frames, bg_rgba=(bgc, bgc, bgc, 255))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_frames_webp_composed(docs, synth=synth).transform(sort_once, "doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# FLAC (lossless audio) — the from-spec compressed-audio lane (r12 verdict
# missing-list #4: crawl audio is rarely WAV; FLAC is the integer-exact
# compressed format a from-spec build can decode bit-identically)
# ---------------------------------------------------------------------------


def decode_features_flac(media_df: DataFrame, on_error: str = "raise") -> DataFrame:
    """REAL compressed-audio decode inside Python workers via the from-spec
    pure-stdlib FLAC codec (functions/flac.py — fixed/LPC predictors, Rice
    residual partitions, stereo decorrelation, both CRCs verified).  Emits
    the SAME loudness profile as :func:`decode_features_wav` — frame count,
    format fields from STREAMINFO/frame headers (not trusted metadata),
    integer peak amplitude and mean-square energy — so a FLAC-transcoded
    corpus scores identically to its WAV original (the codec's
    cross-validation anchor, tests/test_flac.py).

    Scale: samples never leave the executors — each payload reduces to six
    small ints in the exchanged rows; decode parallelism is the scan's.
    """
    flac = _codec("flac")
    decode_flac = flac.decode_flac
    loudness_stats = flac.loudness_stats

    def rows_of(data: bytes):
        yield loudness_stats(*decode_flac(data))

    return _codec_lane(media_df, rows_of, _LOUDNESS_STATS, on_error)


@register(
    "multimodal_flac_loudness",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      doc_id % 2 + 1 AS channels,
                      8000 + (doc_id % 3) * 4000 AS sample_rate,
                      doc_id % 120 + 4 AS n_frames
               FROM documents),
    s AS (SELECT d.doc_id, d.channels, d.sample_rate, d.n_frames,
                 CASE WHEN (d.doc_id * 131 + t.k * 997) % 65536 >= 32768
                      THEN (d.doc_id * 131 + t.k * 997) % 65536 - 65536
                      ELSE (d.doc_id * 131 + t.k * 997) % 65536 END AS smp
          FROM d, generate_series(0, {2 * WAV_MAX_FRAMES} - 1) AS t(k)
          WHERE t.k < d.n_frames * d.channels),
    g AS (SELECT doc_id, channels, sample_rate, n_frames,
                 MAX(abs(smp)) AS peak, SUM(smp * smp) AS ss, COUNT(*) AS n
          FROM s GROUP BY 1, 2, 3, 4)
    SELECT doc_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames * 1000000 // sample_rate AS BIGINT) AS duration_us,
           CAST(peak AS BIGINT) AS peak_amplitude,
           CAST(ss // n AS BIGINT) AS mean_square
    FROM g ORDER BY doc_id
    """,
    tags=("multimodal", "audio", "decode", "flac"),
    bench=True,
)
def multimodal_flac_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode under the driver's value-hash gate,
    deliberately the EXACT SAME synthetic track as multimodal_wav_loudness
    (channels = id%2+1, rate = 8000+(id%3)*4000 Hz, frames = id%120+4,
    interleaved sample k = signed16((id*131 + k*997)%65536)) — but the
    bytes on the wire are genuine FLAC: fixed-blocking frames, Rice
    residuals, and a per-document rotation across BOTH predictor families
    (fixed orders and the quantized-coefficient LPC model) and ALL FOUR
    stereo layouts (independent / mid-side / left-side / right-side for
    2-channel docs) so the gate exercises every subframe decode branch
    and every stereo reconstruction plus both CRCs.  The shared oracle
    IS the
    WAV-transcode equivalence the codec's conformance anchors on: a FLAC
    bit error anywhere decodes to different samples than the WAV original
    and breaks the hash.

    Scale: exchanged rows are seven small ints; the fixture's
    single-partition scan is spread by ``_parallel_doc_ids`` so the
    pure-Python encode+decode runs cluster-wide.  With a real media
    fixture the synth step disappears and decode_features_flac runs over
    the binary column directly at the scan's natural parallelism.
    """
    flac = _codec("flac")
    encode_flac = flac.encode_flac
    decode_flac = flac.decode_flac
    loudness_stats = flac.loudness_stats

    # one fused Python stage (synth + decode, _fused_media_gate) — same
    # decoder entry point and shared loudness profile
    # (flac.loudness_stats) as decode_features_flac
    def row_of(i: int):
        ch = i % 2 + 1
        rate = 8000 + (i % 3) * 4000
        n = (i % 120 + 4) * ch
        samples = []
        for k in range(n):
            v = (i * 131 + k * 997) % 65536
            samples.append(v - 65536 if v >= 32768 else v)
        mode = "independent"
        if ch == 2:
            # ch == 2 ⇔ odd id, so rotate on id//2 (odd ids mod 4
            # alone would only ever hit two of the four layouts)
            mode = (
                "independent", "mid_side", "left_side", "right_side"
            )[(i // 2) % 4]
        method = ("fixed", "lpc")[(i // 3) % 2]
        drate, dch, dsamples = decode_flac(
            encode_flac(
                rate, ch, samples, block_size=64,
                stereo_mode=mode, method=method,
            )
        )
        return loudness_stats(drate, dch, dsamples)

    return _fused_media_gate(
        spark, sf_dir, row_of,
        (
            "sample_rate", "channels", "n_frames",
            "duration_us", "peak_amplitude", "mean_square",
        ),
    )


# ---------------------------------------------------------------------------
# MP3 (MPEG audio) — r14: the frame/metadata layer of crawl audio.  Full
# Layer III sample decode is float-valued DSP with no integer-exact
# cross-engine formulation (and no decoder library ships here), so the
# sample-exact lanes stay WAV/FLAC; this lane parses the REAL frame
# stream — the statistics an audio-corpus pipeline filters on.
# ---------------------------------------------------------------------------


def decode_features_mp3(media_df: DataFrame, on_error: str = "raise", synth=None) -> DataFrame:
    """REAL MPEG-audio frame-stream parsing inside Python workers via the
    from-spec pure-stdlib parser (functions/mp3.py — sync walk, header
    field decode against the published bitrate/sample-rate tables, spec-
    formula Layer III frame sizing, ID3v1/v2 tag skipping).  Emits the
    crawl-metadata profile: frame count, sample rate, channel mode, total
    samples, summed per-frame bitrate, and the exact audio byte span —
    every component integer, so the synth gate can hash-pin the whole
    walk.  Sample decode is an honest NotImplementedError in the codec
    (module docstring there); crawl contract (`on_error='null'`) as
    everywhere.
    """
    stream_stats = _codec("mp3").mp3_stream_stats

    def rows_of(data: bytes):
        yield stream_stats(data)

    return _codec_lane(
        media_df, rows_of,
        "n_frames long, sample_rate long, channel_mode string, "
        "total_samples long, sum_bitrate_kbps long, audio_bytes long",
        on_error, synth, digest=True,
    )


def _mp3_oracle() -> str:
    from edgy_spark.functions.mp3 import BITRATES_V1_L3

    kbps_case = " ".join(
        f"WHEN {i} THEN {BITRATES_V1_L3[i]}" for i in range(1, 15)
    )
    return f"""
    WITH d AS (SELECT doc_id,
                      doc_id % 5 + 2 AS nf,
                      CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 32000 END AS sr,
                      CASE doc_id % 4 WHEN 0 THEN 'stereo'
                           WHEN 1 THEN 'joint_stereo'
                           WHEN 2 THEN 'dual_channel' ELSE 'mono' END AS cm
               FROM documents),
    f AS (SELECT d.doc_id, d.nf, d.sr, d.cm,
                 CASE (d.doc_id + t.i) % 14 + 1 {kbps_case} END AS kbps,
                 (d.doc_id + t.i) % 2 AS pad
          FROM d, generate_series(0, 6) AS t(i)
          WHERE t.i < d.nf)
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(sr AS BIGINT) AS sample_rate,
           cm AS channel_mode,
           CAST(nf * 1152 AS BIGINT) AS total_samples,
           CAST(SUM(kbps) AS BIGINT) AS sum_bitrate_kbps,
           CAST(SUM(144 * kbps * 1000 // sr + pad) AS BIGINT) AS audio_bytes
    FROM f
    GROUP BY doc_id, nf, sr, cm
    ORDER BY doc_id
    """


@register(
    "multimodal_mp3_frame_stats",
    oracle=_mp3_oracle(),
    tags=("multimodal", "audio", "mp3"),
)
def multimodal_mp3_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 frame-stream parsing under the driver's value-hash gate:
    each document id defines a Layer III stream of doc_id%5+2 frames with
    ROTATING bitrate indices ((doc_id+f)%14+1 — all fourteen table rows
    under the hash), alternating padding bits, an id-derived sample rate
    and channel mode, an ID3v2 prefix tag when doc_id%4==0 (size
    (doc_id%37)+10 — the syncsafe skip executes under the hash) and an
    ID3v1 trailer when doc_id%3==0 — ENCODED as genuine spec-formula
    frames and PARSED back (functions/mp3.py) inside Arrow-batched
    ``mapInPandas``.  ``audio_bytes`` equals the summed spec frame sizes
    floor(144*kbps*1000/sr)+pad, so a single mis-stepped frame boundary,
    table row, or tag skip breaks the hash.

    Scale: the codec-gate shape — payloads never leave the executors,
    exchanged rows are (doc_id, 5 small ints + 1 short string); the
    fixture scan is spread by ``_parallel_doc_ids``.  With a real audio
    corpus the synth step disappears and decode_features_mp3 runs over
    the binary column directly.
    """
    encode_frames = _codec("mp3").encode_mp3_frames

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                nf = i % 5 + 2
                specs = [
                    {
                        "bitrate_idx": (i + f) % 14 + 1,
                        "padding": (i + f) % 2,
                        "sr_idx": i % 3,
                        "channel_mode": i % 4,
                    }
                    for f in range(nf)
                ]
                media.append(
                    encode_frames(
                        specs,
                        id3v2_size=(i % 37) + 10 if i % 4 == 0 else None,
                        id3v1=i % 3 == 0,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    return (
        decode_features_mp3(_parallel_doc_ids(spark, sf_dir), synth=synth)
        .select(
            "doc_id", "n_frames", "sample_rate", "channel_mode",
            "total_samples", "sum_bitrate_kbps", "audio_bytes",
        )
        .transform(sort_once, "doc_id")
    )


# ---------------------------------------------------------------------------
# lossless JPEG (SOF3) — r14: the DCT-free integer-exact process
# (DNG/DICOM lineage) and the repo's first >8-bit-precision image lane
# ---------------------------------------------------------------------------


def decode_features_jpeg_lossless(
    media_df: DataFrame, on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """REAL lossless-JPEG decode inside Python workers via the from-spec
    SOF3 path (functions/jpeg.py — seven-predictor predictive coding,
    Huffman-coded mod-2^16 differences, 2..16-bit sample precision,
    restart-interval prediction resets).  Emits (width, height,
    n_components, precision, mean_sample) — the sample mean is over the
    FULL-precision integers (no 8-bit squeeze), exact because the
    process is lossless by construction.  Crawl contract
    (``on_error='null'``) as every decode lane."""
    decode_lossless = _codec("jpeg").decode_jpeg_lossless

    def rows_of(data: bytes):
        w, h, nc, prec, samples = decode_lossless(data)
        yield (w, h, nc, prec, sum(samples) // (w * h * nc))

    return _codec_lane(
        media_df, rows_of,
        "width long, height long, n_components long, precision long, "
        "mean_sample long",
        on_error, synth, digest=True,
    )


@register(
    "multimodal_jpeg_lossless_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 9 + 2 AS w,
                      (doc_id * 5) % 7 + 2 AS h,
                      CASE doc_id % 3 WHEN 0 THEN 256 WHEN 1 THEN 4096
                           ELSE 65536 END AS top
               FROM documents),
    s AS (SELECT d.doc_id, d.w, d.h, d.top,
                 SUM((d.doc_id * 7 + (t.i % d.w) * 3 + (t.i // d.w) * 11)
                     % d.top) AS total
          FROM d, generate_series(0, 10 * 8 - 1) AS t(i)
          WHERE t.i < d.w * d.h
          GROUP BY d.doc_id, d.w, d.h, d.top)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CASE top WHEN 256 THEN 8 WHEN 4096 THEN 12 ELSE 16 END
                AS BIGINT) AS precision,
           CAST(total // (w * h) AS BIGINT) AS mean_sample
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "decode", "jpeg", "lossless"),
)
def multimodal_jpeg_lossless_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS (SOF3) JPEG decode under the driver's value-hash gate —
    the r13 verdict's rare-variants item, and the repo's first image lane
    whose samples exceed 8 bits: each document id defines a grayscale
    image (w = doc_id%9+2, h = (doc_id*5)%7+2; sample(x,y) =
    (doc_id*7 + x*3 + y*11) mod 2^P) at a precision that ROTATES
    8/12/16 bits with doc_id%3, ENCODED with predictor doc_id%7+1 (all
    seven Annex H predictors under the hash) and DECODED back through
    the full from-spec path (marker walk, canonical Huffman SSSS +
    magnitude bits, mod-2^16 predictive reconstruction) inside
    Arrow-batched ``mapInPandas``.  Lossless by construction — decoded
    samples equal the formula EXACTLY at full precision, so the oracle
    recomputes width/height/precision/mean-sample in closed form and any
    predictor, EXTEND, or Huffman slip breaks the hash.

    Scale: the codec-gate shape — samples never leave the executors;
    exchanged rows are (doc_id, 4 small ints); the fixture scan is
    spread by ``_parallel_doc_ids``.
    """
    encode_lossless = _codec("jpeg").encode_jpeg_lossless

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 9 + 2, (i * 5) % 7 + 2
                prec = (8, 12, 16)[i % 3]
                top = 1 << prec
                src = [
                    (i * 7 + x * 3 + y * 11) % top
                    for y in range(h)
                    for x in range(w)
                ]
                media.append(
                    encode_lossless(
                        w, h, src, precision=prec, predictor=i % 7 + 1
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    return (
        decode_features_jpeg_lossless(_parallel_doc_ids(spark, sf_dir), synth=synth)
        .select(
            "doc_id", "width", "height", "precision", "mean_sample"
        )
        .transform(sort_once, "doc_id")
    )


# ---------------------------------------------------------------------------
# APNG (animated PNG) — r14: the third animation family; adds the
# DISPOSE-PREVIOUS operation (revert to the pre-frame canvas) that the
# WebP container lacks
# ---------------------------------------------------------------------------


def decode_frames_apng_composed(
    media_df: DataFrame, max_frames: int = 8, on_error: str = "raise",
    synth=None,
) -> DataFrame:
    """COMPOSED APNG frame sampling (r14): each emitted row is an fcTL
    frame composed onto the canvas — rects, blend_op SOURCE/OVER, and
    dispose_op NONE/BACKGROUND/PREVIOUS applied (functions/png.py
    iter_apng_frames_composed; per-frame payloads decode through the
    SAME still PNG decoder, rebuilt as standalone streams).  Dimensions
    are the canvas's; mean_luma is the shared Rec.601 convention
    (functions/gif.py rec601_mean — transparent canvas pixels contribute
    RGB 0).  Same Arrow-batched ``mapInPandas`` shape, per-asset
    on_error capture, and mid-stream banking as the GIF/WebP composed
    operators."""
    iter_composed = _codec("png").iter_apng_frames_composed
    rec601 = _codec("gif").rec601_mean

    def rows_of(data: bytes):
        for fi, (w, h, ch, px) in zip(range(max_frames), iter_composed(data)):
            yield (fi, w, h, rec601(px, ch, w, h))

    # same max_frames <= 0 short-circuit as decode_frames_gif
    return _codec_lane(
        media_df.where(F.lit(max_frames > 0)), rows_of, _FRAME_STATS, on_error, synth
    )


@register(
    "multimodal_apng_stats",
    oracle="""
    WITH d AS (SELECT doc_id,
                      (doc_id * 3) % 5 + 2 AS a,
                      (doc_id * 7) % 5 + 2 AS h,
                      (doc_id * 31) % 255 AS c0,
                      (doc_id * 37) % 255 AS c1,
                      (doc_id * 41) % 255 AS c2,
                      doc_id % 3 AS disp
               FROM documents),
    s AS (SELECT doc_id, a, h, disp,
                 2 * a AS w,
                 (a + 1) // 2 AS even_cols,
                 a // 2 AS odd_cols,
                 c0, c1, c2
          FROM d),
    fr AS (
      SELECT doc_id, 0 AS f, w, h, 2 * a * c0 AS rowsum FROM s
      UNION ALL
      SELECT doc_id, 1, w, h,
             even_cols * c0 + odd_cols * c1 + a * c0
      FROM s
      UNION ALL
      SELECT doc_id, 2, w, h,
             CASE disp
               WHEN 1 THEN a * c2          -- background: transparent black
               WHEN 2 THEN a * c0 + a * c2 -- previous: frame-1 rect reverts
               ELSE even_cols * c0 + odd_cols * c1 + a * c2
             END
      FROM s)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((rowsum * h) // (w * h) AS BIGINT) AS mean_luma
    FROM fr
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "decode", "png", "animation"),
)
def multimodal_apng_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED PNG composition under the driver's value-hash gate: each
    document id defines a three-frame APNG on a (2a x h) canvas
    (a = (doc_id*3)%5+2, h = (doc_id*7)%5+2; gray levels c0/c1/c2 =
    (doc_id*{31,37,41})%255) — ENCODED as genuine acTL/fcTL/IDAT/fdAT
    chunks (frame 0 the full-canvas default image, per spec) and DECODED
    back composed (functions/png.py iter_apng_frames_composed, each
    frame through the real still-PNG decoder):

    - frame 0: full canvas, c0, SOURCE blend;
    - frame 1: LEFT half, alternating transparent/c1 columns, OVER
      blend (c0 shows through the even columns), dispose_op rotating
      doc_id%3 over NONE / BACKGROUND / PREVIOUS — PREVIOUS (revert to
      the pre-frame canvas) is the operation the WebP container lacks;
    - frame 2: RIGHT half, c2, SOURCE — its row reads the disposed left
      half: the persisted composite (NONE), transparent black
      (BACKGROUND, contributing 0 luma), or restored c0 (PREVIOUS).

    Gray pixels make Rec.601 luma the gray level exactly, so the oracle
    reproduces every composed mean in closed form; an error in the chunk
    walk, fdAT reassembly, blend math, or any disposal op breaks the
    hash.

    Scale: identical to the other codec gates — composition happens
    executor-side inside Arrow-batched ``mapInPandas``; exchanged rows
    are (doc_id, 4 small ints); the fixture scan is spread by
    ``_parallel_doc_ids``.
    """
    encode_apng = _codec("png").encode_apng

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def gray(v: int, alpha: int = 255) -> bytes:
            return bytes((v, v, v, alpha))

        for pdf in batches:
            media = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                a, h = (i * 3) % 5 + 2, (i * 7) % 5 + 2
                c0, c1, c2 = (
                    (i * 31) % 255, (i * 37) % 255, (i * 41) % 255,
                )
                f0 = gray(c0) * (2 * a * h)
                f1 = b"".join(
                    gray(0, 0) if x % 2 == 0 else gray(c1)
                    for _ in range(h)
                    for x in range(a)
                )
                f2 = gray(c2) * (a * h)
                frames = [
                    {"x": 0, "y": 0, "w": 2 * a, "h": h, "rgba": f0,
                     "blend": 0},
                    {"x": 0, "y": 0, "w": a, "h": h, "rgba": f1,
                     "blend": 1, "dispose": i % 3},
                    {"x": a, "y": 0, "w": a, "h": h, "rgba": f2,
                     "blend": 0},
                ]
                media.append(encode_apng(2 * a, h, frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    docs = _parallel_doc_ids(spark, sf_dir)
    return decode_frames_apng_composed(docs, synth=synth).transform(sort_once, "doc_id", "frame_idx")
