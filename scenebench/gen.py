"""Seeded input generators. Same seed, identical bytes.

Every workload input is derived from one ``numpy.random.Generator``
per object, seeded from ``(seed, kind, index)``, so a generator can be
called per clip or per batch in any order and still return the same
bytes for the same key.
"""

from __future__ import annotations

import lzma
from dataclasses import dataclass

import numpy as np

FRAME_FPS = 12  # the hasher's sampling rate (functions.media.FRAME_FPS)
# power-of-two source rate: duration * 12 is exact in binary floating
# point, so the frame-count oracle floor(duration * 12) has no rounding
# edge the engine's float arithmetic could fall on the other side of
CLIP_FPS = 16
CLIP_W, CLIP_H = 96, 54
SHOT_FRAMES = (3, 5, 2, 6)  # source frames per shot of a clip: 1 s
HA_DIM = 100  # hash tokens per frame (the loader's vector dim)


def rng_for(seed: int, kind: str, index: int = 0) -> np.random.Generator:
    """An independent stream per (seed, kind, index)."""
    tag = int.from_bytes(kind.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), tag, int(index)])


# -- video clips (the ingest_live hasher stage) ---------------------------


@dataclass(frozen=True)
class Clip:
    name: str  # "imdbID/fileName.y4m", the path tail the engine keys on
    data: bytes
    n_src: int  # source frames at CLIP_FPS

    @property
    def expected_frames(self) -> int:
        """floor(duration * 12), exact: duration = n_src / CLIP_FPS."""
        return self.n_src * FRAME_FPS // CLIP_FPS


def _scene(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """A blocky RGB scene: coarse random colour blocks plus fine noise,
    so every shot has distinct colour-layout and edge structure."""
    blocks = rng.integers(0, 256, (6, 8, 3))
    img = np.kron(blocks, np.ones((h // 6 + 1, w // 8 + 1, 1)))[:h, :w]
    img = img + rng.normal(0, 12, img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def _rgb_to_yuv420(rgb: np.ndarray) -> bytes:
    """BT.601 limited-range RGB -> planar 4:2:0 (the Y4M C420jpeg
    layout functions.videocodec decodes)."""
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 16 + 0.257 * r + 0.504 * g + 0.098 * b
    u = 128 - 0.148 * r - 0.291 * g + 0.439 * b
    v = 128 + 0.439 * r - 0.368 * g - 0.071 * b

    def sub(p):
        return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))

    planes = [y, sub(u), sub(v)]
    return b"".join(
        np.clip(np.rint(p), 0, 255).astype(np.uint8).tobytes() for p in planes
    )


def make_clip(seed: int, index: int) -> Clip:
    """One 1 s Y4M clip of four static shots (runs of identical frames,
    as in real footage), so the hasher emits repeated hashes. Sizes are
    fixed and the seed picks the content, so every seed hands the engine
    the same amount of work."""
    rng = rng_for(seed, "clip", index)
    frames: list[bytes] = []
    for run in SHOT_FRAMES:
        frames += [_rgb_to_yuv420(_scene(rng, CLIP_H, CLIP_W))] * run
    header = f"YUV4MPEG2 W{CLIP_W} H{CLIP_H} F{CLIP_FPS}:1 Ip A1:1 C420jpeg\n"
    data = header.encode() + b"".join(b"FRAME\n" + f for f in frames)
    return Clip(f"tt{seed % 10**7:07d}/clip{index:06d}.y4m", data, len(frames))


# -- LIRE hash artifacts (the ingest_live base) ---------------------------


def _ha(rng: np.random.Generator) -> str:
    """100 hex hash tokens, the BitSampling value range."""
    return " ".join(format(int(x), "x") for x in rng.integers(1, 1 << 12, HA_DIM))


def hash_rows(seed: int, kind: str, index: int, n_files: int,
              frames_per_file: int) -> list[dict]:
    """Hash rows (file, time, hi, ha) of ``n_files`` episodes, each a
    sequence of static shots 1-12 frames long (so the loader's D1
    collapses runs). Times follow the hasher's (i + 0.5) / 12 grid.
    Shot lengths are fixed; the seed picks the hashes."""
    rng = rng_for(seed, kind, index)
    rows = []
    for f in range(n_files):
        file_id = f"tt{index:05d}/{kind}{f:03d}.mp4"
        i = shot = 0
        while i < frames_per_file:
            hi, ha = rng.bytes(120).hex(), _ha(rng)
            for _ in range(min((f + shot) % 12 + 1, frames_per_file - i)):
                rows.append({"file": file_id,
                             "time": round((i + 0.5) / FRAME_FPS, 4),
                             "hi": hi, "ha": ha})
                i += 1
            shot += 1
    return rows


def lire_artifacts(rows: list[dict]) -> dict[str, bytes]:
    """Hash rows -> ``{file}.xml.xz`` artifacts, via the engine's own
    XML serialiser (the hasher's upload format)."""
    from shotit_worker_spark.sources.lire_xml import hashes_to_lire_xml

    by_file: dict[str, list[dict]] = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r)
    return {
        f"{f}.xml.xz": lzma.compress(hashes_to_lire_xml(rs).encode(), preset=6)
        for f, rs in sorted(by_file.items())
    }


# -- query frames (serve_search) ----------------------------------------


def query_jpegs(seed: int, n: int) -> list[bytes]:
    """``n`` distinct 180-row JPEG frames, the hasher's thumbnail
    geometry and wire format."""
    from shotit_worker_spark.functions.jpegcodec import encode_jpeg

    return [
        encode_jpeg(_scene(rng_for(seed, "query", i), 180, 320), quality=90)
        for i in range(n)
    ]
