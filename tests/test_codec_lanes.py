"""The decode-lane contract, one table row per ``decode_features_*`` /
``decode_frames_*`` operator in ``edgy_spark/operators/multimodal.py``.

For every lane: the strict-mode column list and rows of a valid asset;
strict mode raising on a truncated and on a NULL payload; an unknown
``on_error`` rejected at call time; ``on_error='null'`` mode giving the
valid asset its stats, a truncated asset NULL stats plus one error row
(``n_bytes``/``content_md5`` filled on digest lanes, frames decoded before
the failure kept on frame lanes) and a NULL payload the
``"NULL media payload"`` row; ``max_frames=0`` returning nothing.

The second half runs every lane and every ``multimodal_*`` catalog query
in a subprocess whose Python workers cannot import ``edgy_spark``: the
codecs must travel to the workers by value.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap
from dataclasses import dataclass, field

import pytest

from edgy_spark.functions import flac, gif, jpeg, mp3, png, wav, webp
from edgy_spark.operators import multimodal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GRAY_PAL = bytes(v for v in range(256) for _ in range(3))
_IMAGE = ["width", "height", "mean_luma"]
_DIGEST = ["n_bytes", "content_md5"]
_FRAME = ["frame_idx", "width", "height", "mean_luma"]
_LOUDNESS = [
    "sample_rate", "channels", "n_frames", "duration_us",
    "peak_amplitude", "mean_square",
]


def _gray(v: int, alpha: int = 255) -> bytes:
    return bytes((v, v, v, alpha))


def _gif_rects(delays=None) -> bytes:
    frames = [
        {"left": 0, "top": 0, "disposal": 1,
         "rows": [bytes([c]) * 4 for _ in range(2)]}
        for c in (10, 20, 30)
    ]
    for f, d in zip(frames, delays or ()):
        f["delay_cs"] = d
    return gif.encode_gif_animation_rects(4, 2, frames, _GRAY_PAL)


def _webp_anim() -> bytes:
    return webp.encode_webp_anim(2, 2, [
        {"x": 0, "y": 0, "w": 2, "h": 2, "rgba": _gray(c) * 4, "blend": False}
        for c in (60, 90, 120)
    ])


def _apng() -> bytes:
    return png.encode_apng(2, 2, [
        {"x": 0, "y": 0, "w": 2, "h": 2, "rgba": _gray(c) * 4, "blend": 0}
        for c in (60, 90, 120)
    ])


@dataclass
class Lane:
    good: bytes
    bad: bytes
    stats: list[str]  # strict-mode columns after doc_id (and the digest)
    rows: list[tuple]  # the valid asset's stats rows
    digest: bool = False  # (n_bytes, content_md5) after doc_id
    kept: int = 0  # frames the truncated asset banks before its error row
    kwargs: dict = field(default_factory=dict)


_png = png.encode_png(2, 2, [b"\x80\x80", b"\x40\x40"], color_type=0)
_jpeg = jpeg.encode_jpeg_flat(16, 8, [50, 200])
_wav = wav.encode_wav(8000, 1, [5, -5, 100])
_gif = gif.encode_gif(2, 2, [bytes([0, 1]), bytes([2, 3])], _GRAY_PAL)
_gif_anim = gif.encode_gif_animation(
    2, 2, [[bytes([f, f + 1]), bytes([f + 2, f])] for f in (10, 20, 30)],
    _GRAY_PAL,
)
_gif_composed = _gif_rects()
_gif_timed = _gif_rects((4, 4, 4))
_webp = webp.encode_webp_lossless(2, 2, bytes(range(16)), subtract_green=True)
_webp_lossy = webp.encode_webp_lossy_flat(2, 1, [40, 200], modes=[0, 4])
_webp_composed = _webp_anim()
_flac = flac.encode_flac(8000, 1, [10, -20, 30, -40] * 32, block_size=64)
_mp3 = mp3.encode_mp3_frames(
    [{"bitrate_idx": 9}, {"bitrate_idx": 14}], id3v2_size=12
)
_jpeg_lossless = jpeg.encode_jpeg_lossless(
    2, 2, [100, 4000, 0, 4095], precision=12, predictor=2
)
_apng_composed = _apng()

LANES = {
    "decode_features_png": Lane(
        _png, _png[:40], _IMAGE, [(2, 2, 96)], digest=True
    ),
    "decode_features_jpeg": Lane(
        _jpeg, _jpeg[: len(_jpeg) // 2], _IMAGE, [(16, 8, 125)], digest=True
    ),
    "decode_features_wav": Lane(
        _wav, _wav[:30], _LOUDNESS, [(8000, 1, 3, 375, 100, 3350)]
    ),
    "decode_features_gif": Lane(
        _gif, _gif[:-6], _IMAGE, [(2, 2, 1)], digest=True
    ),
    "decode_frames_gif": Lane(
        _gif_anim, _gif_anim[:-8], _FRAME,
        [(0, 2, 2, 10), (1, 2, 2, 20), (2, 2, 2, 30)], kept=2,
    ),
    "decode_frames_gif_composed": Lane(
        _gif_composed, _gif_composed[:-8], _FRAME,
        [(0, 4, 2, 10), (1, 4, 2, 20), (2, 4, 2, 30)], kept=2,
    ),
    "decode_frames_gif_timesampled": Lane(
        _gif_timed, _gif_timed[:-6],
        ["sample_idx", "t_cs", "frame_idx", "width", "height", "mean_luma"],
        [(0, 0, 0, 4, 2, 10), (1, 2, 0, 4, 2, 10), (2, 4, 1, 4, 2, 20),
         (3, 6, 1, 4, 2, 20), (4, 8, 2, 4, 2, 30)],
        kept=2,
    ),
    "decode_features_webp": Lane(
        _webp, _webp[:15], _IMAGE, [(2, 2, 6)], digest=True
    ),
    "decode_features_webp_lossy": Lane(
        _webp_lossy, _webp_lossy[:20], _IMAGE, [(32, 16, 120)], digest=True
    ),
    "decode_frames_webp_composed": Lane(
        _webp_composed, _webp_composed[:-8], _FRAME,
        [(0, 2, 2, 60), (1, 2, 2, 90), (2, 2, 2, 120)], kept=2,
    ),
    "decode_features_flac": Lane(
        _flac, _flac[: len(_flac) // 2], _LOUDNESS,
        [(8000, 1, 128, 16000, 40, 750)],
    ),
    "decode_features_mp3": Lane(
        _mp3, _mp3[:30],
        ["n_frames", "sample_rate", "channel_mode", "total_samples",
         "sum_bitrate_kbps", "audio_bytes"],
        [(2, 44100, "stereo", 2304, 448, 1461)], digest=True,
    ),
    "decode_features_jpeg_lossless": Lane(
        _jpeg_lossless, _jpeg_lossless[:25],
        ["width", "height", "n_components", "precision", "mean_sample"],
        [(2, 2, 1, 12, 2048)], digest=True,
    ),
    # the APNG chunk walk validates the whole stream before composing,
    # so a truncated tail banks no frame
    "decode_frames_apng_composed": Lane(
        _apng_composed, _apng_composed[:-20], _FRAME,
        [(0, 2, 2, 60), (1, 2, 2, 90), (2, 2, 2, 120)], kept=0,
    ),
}

MAX_FRAMES_LANES = {
    "decode_frames_gif", "decode_frames_gif_composed",
    "decode_frames_webp_composed", "decode_frames_apng_composed",
}


def _media(spark, rows):
    return spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in rows],
        "doc_id long, media binary",
    )


def _sort_key(row):
    return tuple((v is None, v) for v in row)


@pytest.mark.parametrize("name", sorted(LANES))
def test_codec_lane_contract(spark, name):
    lane = LANES[name]
    fn = getattr(multimodal, name)
    lead = ["doc_id"] + (_DIGEST if lane.digest else [])
    prefix = (
        (len(lane.good), hashlib.md5(lane.good).hexdigest())
        if lane.digest else ()
    )
    n_stats = len(lane.stats)

    # strict: columns and rows of the valid asset; truncated and NULL raise
    strict = fn(_media(spark, [(1, lane.good)]), **lane.kwargs)
    assert strict.columns == lead + lane.stats
    assert sorted(tuple(r) for r in strict.collect()) == [
        (1, *prefix, *r) for r in lane.rows
    ]
    for payload, msg in ((lane.bad, "ValueError"), (None, "NULL media payload")):
        with pytest.raises(Exception, match=msg):
            fn(_media(spark, [(2, payload)]), **lane.kwargs).collect()
    with pytest.raises(ValueError, match="on_error must be"):
        fn(_media(spark, [(1, lane.good)]), on_error="skip", **lane.kwargs)

    # 'null': one error row per failed asset, earlier frames kept
    df = fn(
        _media(spark, [(1, lane.good), (2, lane.bad), (3, None)]),
        on_error="null", **lane.kwargs,
    )
    assert df.columns == lead + lane.stats + ["decode_error"]
    got = sorted((tuple(r) for r in df.collect()), key=_sort_key)
    bad_prefix = (
        (len(lane.bad), hashlib.md5(lane.bad).hexdigest())
        if lane.digest else ()
    )
    by_doc = {d: [r for r in got if r[0] == d] for d in (1, 2, 3)}
    assert by_doc[1] == [(1, *prefix, *r, None) for r in lane.rows]
    assert by_doc[2][: lane.kept] == [
        (2, *prefix, *r, None) for r in lane.rows[: lane.kept]
    ]
    (err,) = by_doc[2][lane.kept:]
    assert err[: len(lead)] == (2, *bad_prefix)
    assert err[len(lead):-1] == (None,) * n_stats and err[-1]
    assert by_doc[3] == [
        (3, *(None,) * (len(lead) - 1 + n_stats), "NULL media payload")
    ]
    assert len(got) == sum(len(v) for v in by_doc.values())

    # max_frames=0 samples nothing and raises on nothing, NULL included
    if name in MAX_FRAMES_LANES:
        every = _media(spark, [(1, lane.good), (2, lane.bad), (3, None)])
        assert fn(every, max_frames=0).collect() == []
        assert fn(every, max_frames=0, on_error="null").collect() == []


def test_gif_timesampled_max_samples_zero(spark):
    """decode_frames_gif_timesampled has no max_frames short-circuit: with
    max_samples=0 a valid or truncated asset yields no sample, and a NULL
    payload still raises (strict) or becomes its error row ('null')."""
    lane = LANES["decode_frames_gif_timesampled"]
    fn = multimodal.decode_frames_gif_timesampled
    assert fn(
        _media(spark, [(1, lane.good), (2, lane.bad)]), max_samples=0
    ).collect() == []
    with pytest.raises(Exception, match="NULL media payload"):
        fn(_media(spark, [(3, None)]), max_samples=0).collect()
    rows = fn(
        _media(spark, [(1, lane.good), (2, lane.bad), (3, None)]),
        max_samples=0, on_error="null",
    ).collect()
    assert [tuple(r) for r in rows] == [(3,) + (None,) * 6 + ("NULL media payload",)]


def test_codec_table_names_every_module_a_codec_imports():
    """_codec ships a codec together with the codec modules _CODEC_IMPORTS
    names for it; one it imports but the table misses would be pickled by
    reference.  Walk each shipped codec's globals, transitively."""
    import importlib
    import inspect
    import re

    shipped = set(re.findall(r'_codec\("(\w+)"\)', inspect.getsource(multimodal)))
    assert {"png", "jpeg", "gif", "webp", "wav", "flac", "mp3"} <= shipped
    for name in shipped:
        root = f"edgy_spark.functions.{name}"
        seen, todo = {root}, [root]
        while todo:
            mod = importlib.import_module(todo.pop())
            for v in vars(mod).values():
                ref = v.__name__ if inspect.ismodule(v) else getattr(v, "__module__", None)
                if isinstance(ref, str) and ref.startswith("edgy_spark.") and ref not in seen:
                    seen.add(ref)
                    todo.append(ref)
        assert seen - {root} == {
            f"edgy_spark.functions.{d}"
            for d in multimodal._CODEC_IMPORTS.get(name, ())
        }, name


# ---------------------------------------------------------------------------
# by-value codec shipping: workers that cannot import edgy_spark
# ---------------------------------------------------------------------------

_CLEAN_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    sys.path.insert(0, {tests!r})
    from pyspark import cloudpickle
    from pyspark.sql import SparkSession

    from edgy_spark.catalog import QUERIES, load_all_registrations
    from edgy_spark.operators import multimodal
    from test_codec_lanes import LANES

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    failed = {{}}

    def attempt(name, action):
        # each lane and query must register what it ships itself
        for m in list(cloudpickle.list_registry_pickle_by_value()):
            cloudpickle.unregister_pickle_by_value(sys.modules[m])
        try:
            action()
        except Exception as e:  # the worker's traceback names the cause
            failed[name] = "ModuleNotFoundError" if "ModuleNotFoundError" in str(e) else repr(e)[:300]

    # negative control: a closure that names a module-level edgy_spark
    # function is pickled by reference and cannot load on the workers
    check = multimodal._check_on_error

    def by_reference(batches):
        for pdf in batches:
            check("raise")
            yield pdf

    attempt(
        "control",
        lambda: spark.range(1).mapInPandas(by_reference, "id long").collect(),
    )
    for name, lane in sorted(LANES.items()):
        df = spark.createDataFrame(
            [(1, bytearray(lane.good))], "doc_id long, media binary"
        )
        attempt(name, lambda: getattr(multimodal, name)(df).collect())
    load_all_registrations()
    for name in sorted(q for q in QUERIES if q.startswith("multimodal_")):
        attempt(name, lambda: QUERIES[name].fn(spark, {sf!r}).count())
    spark.stop()
    print(json.dumps(failed, sort_keys=True))
    """
)


def test_codecs_ship_by_value_to_workers_without_the_repo(tmp_path):
    """The driver has the repo on sys.path only; the workers (cwd and
    PYTHONPATH outside the repo) can load edgy_spark code only if it was
    pickled by value."""
    from tests.conftest import SF_SMOKE

    script = tmp_path / "clean_driver.py"
    script.write_text(_CLEAN_DRIVER.format(
        repo=REPO, tests=os.path.join(REPO, "tests"), sf=SF_SMOKE
    ))
    keep = [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.abspath(p).startswith(REPO)
    ]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(keep))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    failed = json.loads(out.stdout.strip().splitlines()[-1])
    assert failed.pop("control") == "ModuleNotFoundError"
    assert failed == {}
