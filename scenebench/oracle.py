"""Independent checks of every workload's outputs.

Each gate returns a list of problems (empty when the output is right)
and takes plain Python/numpy data, so it runs without Spark and can be
fed corrupted outputs in tests.
"""

from __future__ import annotations

import lzma
from decimal import ROUND_HALF_UP, Decimal
from xml.etree import ElementTree

import numpy as np

import gen

# the reference loader's D1 parameters (loader.js:206-207)
D1_KEPT_WINDOW = 24
D1_TIME_WINDOW = 2.0
DIM = gen.HA_DIM


# -- hasher stage ---------------------------------------------------------


def parse_artifact(blob: bytes) -> list[tuple[float, str, str]]:
    """``.xml.xz`` -> [(time, hi, ha)] in document order."""
    root = ElementTree.fromstring(lzma.decompress(blob).decode("utf-8"))
    out = []
    for doc in root.iter("doc"):
        f = {e.get("name"): e.text or "" for e in doc}
        out.append((float(f["id"]), f.get("cl_hi", ""), f.get("cl_ha", "")))
    return out


def reference_frame_hash(clip: gen.Clip, frame_no: int) -> tuple[str, str]:
    """(hi, ha) of one sampled frame, computed in this process by calling
    the media kernels directly, outside any Spark plan."""
    from shotit_worker_spark.functions import media as M

    for i, _t, image in M._sample_y4m(clip.data, float(gen.FRAME_FPS)):
        if i == frame_no:
            hi, _vec = M._descriptor(image, DIM, "cl")
            return hi, M.image_ha_tokens(image, "cl")
    raise ValueError(f"{clip.name} has no frame {frame_no}")


def check_hash_artifacts(clips: list[gen.Clip], written: dict[str, bytes],
                         sample: int, reference=reference_frame_hash) -> list[str]:
    """One artifact per clip; floor(duration * 12) frames on the
    hasher's time grid; the xz read-back parses; one sampled frame
    (chosen by ``sample``) re-embedded directly in this process matches."""
    problems = []
    by_name = {}
    for path, blob in written.items():
        rel = "/".join(path.split("/")[-2:])
        by_name[rel.removesuffix(".xml.xz")] = blob
    if sorted(by_name) != sorted(c.name for c in clips):
        return [f"artifacts {sorted(by_name)} != clips {sorted(c.name for c in clips)}"]
    for n, clip in enumerate(clips):
        try:
            docs = parse_artifact(by_name[clip.name])
        except (lzma.LZMAError, ElementTree.ParseError, KeyError, ValueError) as e:
            problems.append(f"{clip.name}: unreadable artifact ({e})")
            continue
        want = [round((i + 0.5) / gen.FRAME_FPS, 4) for i in range(clip.expected_frames)]
        if [d[0] for d in docs] != want:
            problems.append(f"{clip.name}: {len(docs)} frames, want {len(want)} on the 12 fps grid")
            continue
        if any(not hi or not ha for _t, hi, ha in docs):
            problems.append(f"{clip.name}: empty hash field")
        if n == sample % len(clips):
            frame_no = sample % clip.expected_frames
            if docs[frame_no][1:] != reference(clip, frame_no):
                problems.append(f"{clip.name}: frame {frame_no} hash differs from the direct re-embed")
    return problems


# -- loader stage ---------------------------------------------------------


def java_2f(t: float) -> str:
    """Java's ``%.2f``: HALF_UP on the shortest decimal repr (Spark's
    format_string), not Python's round-half-even."""
    return str(Decimal(repr(t)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def ha_vector(ha: str) -> np.ndarray:
    v = np.zeros(DIM)
    toks = [int(t, 16) for t in ha.split(" ") if t][:DIM]
    v[:len(toks)] = toks
    n = np.sqrt((v * v).sum())
    return v / n if n > 0 else v


def loader(rows: list[dict]) -> tuple[list[dict], dict[str, int]]:
    """Pure-Python loader (loader.js:185-255): per file sort by time,
    duration = last time, D1 sequential dedup over the kept list, then
    D2 one row per primary_key (earliest time, then hash_id).
    Returns the index rows and the row counts after each stage."""
    by_file: dict[str, list[dict]] = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r)
    after_d1 = []
    for file_id, rs in by_file.items():
        rs = sorted(rs, key=lambda r: r["time"])
        duration = rs[-1]["time"]
        kept: list[dict] = []
        for r in rs:
            recent = [k for k in kept[-D1_KEPT_WINDOW:]
                      if r["time"] - k["time"] < D1_TIME_WINDOW]
            if all(k["hi"] != r["hi"] for k in recent):
                kept.append(r)
        for r in kept:
            after_d1.append({
                "file": file_id, "time": r["time"],
                "hash_id": f"{file_id}/{java_2f(r['time'])}",
                "vector": ha_vector(r["ha"]), "duration": duration,
                "primary_key": sum(ord(c) for c in r["hi"]),
            })
    winners: dict[int, dict] = {}
    for r in after_d1:
        w = winners.get(r["primary_key"])
        if w is None or (r["time"], r["hash_id"]) < (w["time"], w["hash_id"]):
            winners[r["primary_key"]] = r
    out = sorted(winners.values(), key=lambda r: r["hash_id"])
    return out, {"in": len(rows), "d1": len(after_d1), "out": len(out)}


def check_index_rows(got: list[dict], want: list[dict]) -> list[str]:
    """Rows the engine folded == the pure-Python loader's rows."""
    g = {r["hash_id"]: r for r in got}
    w = {r["hash_id"]: r for r in want}
    if len(g) != len(got):
        return ["duplicate hash_id in folded rows"]
    if g.keys() != w.keys():
        extra, missing = sorted(g.keys() - w.keys()), sorted(w.keys() - g.keys())
        return [f"hash_ids differ: {len(extra)} extra {extra[:2]}, {len(missing)} missing {missing[:2]}"]
    problems = []
    for hid, wr in w.items():
        gr = g[hid]
        if (gr["file"], gr["time"], gr["duration"], gr["primary_key"]) != (
                wr["file"], wr["time"], wr["duration"], wr["primary_key"]):
            problems.append(f"{hid}: payload differs")
        elif not np.allclose(np.asarray(gr["vector"]), wr["vector"], rtol=0, atol=1e-12):
            problems.append(f"{hid}: vector differs")
        if len(problems) >= 3:
            break
    return problems


def check_top1(got_ids: list[str], want_id: str) -> list[str]:
    if not got_ids or got_ids[0] != want_id:
        return [f"top-1 {got_ids[:1]} is not the fresh frame {want_id}"]
    return []


# -- serve_search -----------------------------------------------------------


def probes(centroids: np.ndarray, q: np.ndarray, nprobe: int) -> np.ndarray:
    return np.argsort(-(centroids @ q), kind="stable")[:nprobe]


def check_topk(got: list[tuple[str, float]], q: np.ndarray, planted: str,
               ids: np.ndarray, lists: np.ndarray, stored: np.ndarray,
               centroids: np.ndarray, k: int, nprobe: int,
               tol: float = 1e-9) -> list[str]:
    """Top-k == exact inner-product search over the probed lists of the
    index's stored vectors, and top-1 is the planted frame."""
    sel = np.isin(lists, probes(centroids, q, nprobe))
    scores = stored[sel] @ q
    want = np.sort(scores)[::-1][:k]
    score_of = dict(zip(ids[sel], scores))
    problems = []
    if not got or got[0][0] != planted:
        problems.append(f"top-1 {got[:1]} is not the planted frame {planted}")
    if len(got) != len(want) or len({g for g, _ in got}) != len(got):
        return problems + [f"{len(got)} hits ({len({g for g, _ in got})} distinct), want {len(want)}"]
    for (gid, gs), ws in zip(got, want):
        # hits with equal scores may come back in either order
        if gid not in score_of:
            problems.append(f"hit {gid} is not in the probed lists")
        elif abs(score_of[gid] - gs) > tol or abs(gs - ws) > tol:
            problems.append(f"hit {gid}@{gs:.9f}: exact score {score_of[gid]:.9f}, rank score {ws:.9f}")
        if problems:
            break
    return problems
