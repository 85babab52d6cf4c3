"""ingest_live: new video becomes searchable while the index serves.

A closed loop with one writer. Each operation is one batch of ``nproc``
seeded Y4M clips (one per core) landing in a live stream:

  hasher  decode_frames -> embed_images -> frames_to_hashes
          -> write_lire_xml_xz (the batch's ``.xml.xz`` artifacts)
  loader  read_lire_xml_xz -> loader_transform -> IndexFolder.foreach_batch
  search  IndexFolder.search for the batch's first frame

Latency is the freshness delay: from the clips landing until their
first frame comes back as top-1.

The index state an operation sees does not depend on run speed. The
stream runs in cycles of CYCLE batches over the same bootstrapped base;
compact_adds runs before every COMPACT_EVERY-th batch of a cycle is
folded (a live stream's maintenance, so its cost lands in that batch's
latency); and between cycles the adds are dropped, untimed. Batch j of every
cycle therefore meets the same base and the same adds layout, and the
timed window is a whole number of cycles.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen
import harness as H
import oracle

CYCLE = 4
COMPACT_EVERY = 2  # compact before folding every second batch of a cycle
BASE_FILES, BASE_FRAMES = 24, 120
K, NPROBE = 15, 10


def generate(seed: int, cpus: int) -> dict:
    base = gen.hash_rows(seed, "base", 0, BASE_FILES, BASE_FRAMES)
    batches = [[gen.make_clip(seed, j * cpus + c) for c in range(cpus)]
               for j in range(CYCLE)]
    # the frame each search asks for: clip 0's first frame, which D1
    # always keeps and D2 keeps on ties (earliest time, lowest hash_id)
    fresh = [oracle.reference_frame_hash(clips[0], 0) for clips in batches]
    return {"base": (base, gen.lire_artifacts(base)), "batches": batches,
            "fresh": fresh}


def _write_tree(root: str, files: dict[str, bytes]) -> None:
    for rel, blob in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(blob)


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(d, n))
    return size, files


def run(run: H.Run, ctx) -> float:
    from shotit_worker_spark.functions import media as M
    from shotit_worker_spark.plans.ingest import loader_transform
    from shotit_worker_spark.sources import lire_xml as LX
    from shotit_worker_spark.streaming.indexfold import IndexFolder

    spark, cpus, trace = ctx.spark, ctx.cpus, run.trace
    inp = ctx.inputs
    videos = os.path.join(ctx.workdir, "videos")
    with ctx.excluded():
        _write_tree(os.path.join(ctx.workdir, "base"), inp["base"][1])
        for j, clips in enumerate(inp["batches"]):
            _write_tree(os.path.join(videos, f"b{j}"), {c.name: c.data for c in clips})
        base_rows, _ = oracle.loader(inp["base"][0])

    folder = IndexFolder(spark, os.path.join(ctx.workdir, "state"))
    t0 = time.perf_counter()
    with trace.span("indexfold.bootstrap"):
        folder.foreach_batch(loader_transform(LX.read_lire_xml_xz(
            spark, os.path.join(ctx.workdir, "base"))), 0)
    run.sample("indexfold.bootstrap.s", time.perf_counter() - t0)
    ctx.mark("base bootstrapped")

    with ctx.excluded():
        index = folder._index()
        got = [r.asDict() for r in index.load(spark).drop("centroid_id").collect()]
        problems = oracle.check_index_rows(got, base_rows)
        if problems:
            run.setup_failures.append(f"bootstrapped base is wrong: {problems}")
        centroids = index.centroids
        base_vecs = np.stack([r["vector"] for r in base_rows])
    cycle_rows: list[list[dict]] = [[] for _ in range(CYCLE)]
    cycle_ops: list[H.Op] = []
    live = []  # (disk bytes, live rows) after each untraced op

    def op(i: int, traced: bool):
        j = i % CYCLE
        if j == 0:
            shutil.rmtree(folder.adds_path, ignore_errors=True)
        clips = inp["batches"][j]
        fresh = inp["fresh"][j]
        q = oracle.ha_vector(fresh[1])
        want_id = f"{clips[0].name}/{oracle.java_2f(round(0.5 / gen.FRAME_FPS, 4))}"
        landing = os.path.join(ctx.workdir, "landing", f"op{i}")

        def span(name: str, **kw):
            return trace.span(name, **kw) if traced else H.NULL

        if traced:
            ctx.jobs.delta()
        t0 = time.perf_counter()
        with span("op", rid=i):
            src = (spark.read.format("binaryFile")
                   .option("recursiveFileLookup", "true")
                   .load(os.path.join(videos, f"b{j}"))
                   .repartition(cpus))  # one clip per core
            if traced:
                # materialise each stage so its span holds its own work
                with span("media.decode_frames"):
                    frames = M.decode_frames(src).persist()
                    n_frames = frames.count()
                with span("media.embed_images"):
                    emb = M.embed_images(frames).persist()
                    emb.count()
                with span("media.frames_to_hashes"):
                    hashes = M.frames_to_hashes(emb).persist()
                    hashes.count()
            else:
                hashes = M.frames_to_hashes(M.embed_images(M.decode_frames(src)))
            with span("lire_xml.write"):
                paths = LX.write_lire_xml_xz(hashes, landing)
            if j % COMPACT_EVERY == COMPACT_EVERY - 1:
                with span("indexfold.compact"):
                    # archive every batch folded so far this cycle
                    folder.compact_adds(below_batch_id=j + 1)
            with span("lire_xml.read"):
                read = LX.read_lire_xml_xz(spark, landing)
                if traced:
                    read = read.persist()
                    n_in = read.count()
            with span("ingest.loader_transform"):
                rows = loader_transform(read)
                if traced:
                    rows = rows.persist()
                    n_out = rows.count()
            with span("indexfold.fold"):
                folder.foreach_batch(rows, j + 1)
            if traced:
                adds_files = _tree_size(folder.adds_path)[1]
            with span("indexfold.search"):
                hits = folder.search(q, k=K, nprobe=NPROBE, id_col="hash_id",
                                     tie_col="primary_key").collect()
        latency = time.perf_counter() - t0

        # -- oracle, untimed -------------------------------------------
        written = {}
        for p in paths:
            with open(p, "rb") as f:
                written[p] = f.read()
        shutil.rmtree(landing, ignore_errors=True)
        problems = oracle.check_hash_artifacts(clips, written, sample=i)
        hash_rows = []
        for p, blob in written.items():
            file_id = "/".join(p.split("/")[-2:]).removesuffix(".xml.xz")
            docs = oracle.parse_artifact(blob)
            if file_id == clips[0].name and docs[0][1:] != fresh:
                problems.append("fresh frame hash differs from the direct re-embed")
            hash_rows += [{"file": file_id, "time": t, "hi": h, "ha": a}
                          for t, h, a in docs]
        want, counts = oracle.loader(hash_rows)
        cycle_rows[j] = want
        problems += oracle.check_top1([h["hash_id"] for h in hits], want_id)

        if traced:
            for df in (frames, emb, hashes, read, rows):
                df.unpersist()
            jobs, tasks = ctx.jobs.delta()
            run.sample("spark.jobs_per_op", jobs)
            run.sample("spark.tasks_per_op", tasks)
            run.sample("media.decode_frames.frames", n_frames)
            run.sample("lire_xml.bytes_per_frame",
                       sum(len(b) for b in written.values()) / n_frames)
            run.sample("ingest.rows_in", n_in)
            run.sample("ingest.rows_out", n_out)
            run.sample("ingest.d1_kept_ratio", counts["d1"] / counts["in"])
            run.sample("ingest.d2_kept_ratio", counts["out"] / counts["d1"])
            run.sample("indexfold.adds_files", adds_files)
            vecs = np.concatenate([base_vecs] + [
                np.stack([r["vector"] for r in cycle_rows[b]]) for b in range(j + 1)])
            lists = np.argmax(vecs @ centroids.T, axis=1)
            run.sample("indexfold.rows_scored_per_query",
                       int(np.isin(lists, oracle.probes(centroids, q, NPROBE)).sum()))
        else:
            size = _tree_size(folder.base_path)[0] + _tree_size(folder.adds_path)[0]
            rows_live = len(base_rows) + sum(len(cycle_rows[b]) for b in range(j + 1))
            live.append((size, rows_live))
        o = H.Op(latency, counts["out"], not problems, traced)
        if j == 0:
            cycle_ops.clear()
        cycle_ops.append(o)
        if j == CYCLE - 1:
            # a wrong earlier batch marks its own op failed
            for b, found in check_cycle().items():
                if b == j:
                    problems += found
                    o.ok = False
                else:
                    cycle_ops[b].ok = False
                    run.failures.append(f"batch {b + 1}: {'; '.join(found)}")
        return o, problems

    def check_cycle() -> dict[int, list[str]]:
        """After a whole cycle the adds hold exactly the loader oracle's
        rows of each batch; one read per cycle. Returns the problems of
        each wrong batch."""
        folded = [
            r.asDict() for r in spark.read.parquet(folder.adds_path)
            .where("epoch = 0").drop("epoch", "batch_id", "centroid_id").collect()
        ]
        wrong = {}
        for b in range(CYCLE):
            names = {c.name for c in inp["batches"][b]}
            found = oracle.check_index_rows(
                [r for r in folded if r["file"] in names], cycle_rows[b])
            if found:
                wrong[b] = found
        return wrong

    ctx.drive(op, warm_round=COMPACT_EVERY, warm_max_s=8.0, cycle=CYCLE)
    n_timed = sum(1 for o in run.ops if not o.traced)
    return statistics.median(b / n for b, n in live[-n_timed:])
