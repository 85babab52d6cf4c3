"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest scenebench/test_scenebench.py -q
"""

from __future__ import annotations

import lzma
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import harness as H  # noqa: E402
import oracle  # noqa: E402

# -- generators ---------------------------------------------------------------


def test_generators_are_deterministic():
    assert gen.make_clip(7, 3) == gen.make_clip(7, 3)
    assert gen.make_clip(7, 3).data != gen.make_clip(8, 3).data
    assert gen.make_clip(7, 3).data != gen.make_clip(7, 4).data
    rows = gen.hash_rows(7, "live", 1, 2, 30)
    assert rows == gen.hash_rows(7, "live", 1, 2, 30)
    assert rows != gen.hash_rows(8, "live", 1, 2, 30)
    assert gen.lire_artifacts(rows) == gen.lire_artifacts(gen.hash_rows(7, "live", 1, 2, 30))
    assert gen.query_jpegs(7, 2) == gen.query_jpegs(7, 2)
    assert gen.query_jpegs(7, 2) != gen.query_jpegs(8, 2)


def test_clip_frame_count_matches_its_header():
    from shotit_worker_spark.functions import videocodec as VC

    c = gen.make_clip(5, 0)
    assert VC.frame_count(c.data) == c.n_src
    assert c.expected_frames == int(c.n_src / gen.CLIP_FPS * gen.FRAME_FPS)


# -- statistics and spans -------------------------------------------------------


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    for n in (1, 2, 5, 37, 100):
        xs = list(rng.random(n))
        for q in (0, 10, 50, 90, 100):
            assert H.percentile(xs, q) == pytest.approx(np.percentile(xs, q), abs=1e-15)
    with pytest.raises(ValueError):
        H.percentile([], 50)


def test_beyond_and_drift():
    xs = list(range(1, 101))
    assert H.beyond(xs, H.percentile(xs, 90)) == 10
    assert H.drift_ratio([10, 10, 10, 5, 5, 5, 1, 1, 1]) == 0.1
    assert H.drift_ratio([3.0, 4.0]) == 1.0


def _span(i, name, start, end, parent=None):
    return H.Span(i, name, start, end, parent, 0)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 5.0, 0),  # overlaps a: 1..5 covered once
        _span(3, "c", 8.0, 12.0, 0),  # runs past its parent: clipped to 8..10
        _span(4, "d", 1.5, 2.0, 1),
    ]
    st = H.self_times(spans)
    assert st["op"] == [pytest.approx(10 - 4 - 2)]
    assert st["a"] == [pytest.approx(3 - 0.5)]
    assert st["b"] == [pytest.approx(2)]
    assert st["c"] == [pytest.approx(4)]


def test_trace_nests_and_crosses_threads():
    tr = H.Trace(True)
    with tr.span("op", rid=3) as op:
        with tr.span("inner") as inner:
            pass
    with tr.span("server", parent=op):
        pass
    assert inner.parent == op.id and inner.rid == 3
    assert tr.spans[2].parent == op.id and tr.spans[2].rid == 3
    off = H.Trace(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_warm_until_steady_stops_when_latency_stops_falling():
    lat = [5.0, 4.0, 3.0, 2.0, 2.0, 2.0, 2.0, 2.0]
    assert H.warm_until_steady(lambda i: lat[i], round_size=1) == 5
    assert H.warm_until_steady(lambda i: 1.0, round_size=2) == 4


# -- oracle gates -------------------------------------------------------------------


def _artifact(docs):
    from shotit_worker_spark.sources.lire_xml import hashes_to_lire_xml

    rows = [{"time": t, "hi": hi, "ha": ha} for t, hi, ha in docs]
    return lzma.compress(hashes_to_lire_xml(rows).encode())


def _fake_reference(clip, frame_no):
    return f"hi{frame_no}", f"{frame_no:x} 1 2"


def _hashed(clip):
    return [(round((i + 0.5) / 12, 4),) + _fake_reference(clip, i)
            for i in range(clip.expected_frames)]


def test_hash_gate_passes_and_fails_on_corruption():
    clips = [gen.make_clip(1, 0), gen.make_clip(1, 1)]
    good = {f"/out/{c.name}.xml.xz": _artifact(_hashed(c)) for c in clips}

    def check(written, sample=1):
        return oracle.check_hash_artifacts(clips, written, sample, reference=_fake_reference)

    assert check(good) == []
    p0 = f"/out/{clips[0].name}.xml.xz"
    p1 = f"/out/{clips[1].name}.xml.xz"
    assert check({p0: good[p0]})  # an artifact missing
    assert check({**good, p0: _artifact(_hashed(clips[0])[:-1])})  # a frame dropped
    assert check({**good, p0: good[p0][:-7]})  # truncated xz
    wrong = _hashed(clips[1])
    wrong[1] = (wrong[1][0], "other", wrong[1][2])
    assert check({**good, p1: _artifact(wrong)}, sample=1)  # sampled frame differs


def test_hash_gate_reference_is_the_real_kernel():
    clip = gen.make_clip(2, 0)
    hi, ha = oracle.reference_frame_hash(clip, 0)
    assert len(ha.split(" ")) == 100 and hi


def test_java_2f_rounds_half_up():
    assert oracle.java_2f(0.125) == "0.13"
    assert oracle.java_2f(0.625) == "0.63"
    assert oracle.java_2f(0.0417) == "0.04"


def test_loader_d1_matches_the_engine_reference_loop():
    from shotit_worker_spark.operators.dedup import sequential_dedup_pandas

    rows = gen.hash_rows(3, "live", 1, 3, 90)
    # make some shots recur a few seconds later, as cuts back to a scene do
    for r in rows[60:70]:
        r["hi"] = rows[0]["hi"]
    engine = sequential_dedup_pandas(pd.DataFrame(rows))
    want, counts = oracle.loader(rows)
    assert counts["d1"] == len(engine) and counts["out"] == len(want)
    assert counts["d1"] < counts["in"]


def test_index_rows_gate_fails_on_corruption():
    want, _ = oracle.loader(gen.hash_rows(4, "live", 1, 2, 40))
    got = [dict(r) for r in want]
    assert oracle.check_index_rows(got, want) == []
    assert oracle.check_index_rows(got[1:], want)
    assert oracle.check_index_rows(got + got[:1], want)
    bent = [dict(r) for r in want]
    bent[0]["vector"] = bent[0]["vector"] * 1.001
    assert oracle.check_index_rows(bent, want)
    moved = [dict(r) for r in want]
    moved[0]["duration"] += 1
    assert oracle.check_index_rows(moved, want)
    assert oracle.check_top1(["a", "b"], "a") == []
    assert oracle.check_top1(["b", "a"], "a")
    assert oracle.check_top1([], "a")


def test_topk_gate_fails_on_corruption():
    rng = np.random.default_rng(5)
    n, dim, nlist, k, nprobe = 300, 8, 6, 5, 2
    stored = rng.random((n, dim))
    centroids = rng.random((nlist, dim))
    lists = np.argmax(stored @ centroids.T, axis=1)
    ids = np.array([f"r{i}" for i in range(n)])
    tie = np.arange(n)
    q = stored[17] / np.linalg.norm(stored[17])
    sel = np.isin(lists, oracle.probes(centroids, q, nprobe))
    scores = stored @ q
    order = [i for i in np.lexsort((tie, -scores)) if sel[i]][:k]
    good = [(ids[i], float(scores[i])) for i in order]
    planted = good[0][0]

    def check(got, planted=planted):
        return oracle.check_topk(got, q, planted, ids, lists, stored, centroids, k, nprobe)

    assert check(good) == []
    assert check(good, planted="r999")
    assert check(good[:-1])
    assert check([good[0], good[2], good[1]] + good[3:])
    assert check(good[:-1] + [("r999", good[-1][1])])
    assert check(good[:-1] + [good[0]])
    assert check([(good[0][0], good[0][1] + 1e-6)] + good[1:])
