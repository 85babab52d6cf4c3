"""serve_search: the searcher path, query image -> top-k over HTTP.

Set-up builds an IVF_SQ8 index with the reference defaults (nlist 128,
nprobe 10, k 15) over a seeded corpus that contains the
embed_query_image vectors of seeded JPEG frames, holds it in a
ResidentSearcher and serves it with SearchHTTPServer. One closed-loop
client POSTs the JPEGs to /search and waits for each reply, as the
reference's web front end does; the server handles requests on one
thread, so more clients would only add queue wait. Read-only and
cache-resident: latency here is planning, scheduling and the query
embed.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
import os
import time
import urllib.error
import urllib.request

import numpy as np

import gen
import harness as H
import oracle

N_CORPUS = 20_000
N_QUERIES = 4
NLIST, NPROBE, K = 128, 10, 15
PREWARM_QUERIES = 100


def generate(seed: int, cpus: int) -> dict:
    from shotit_worker_spark.functions.media import embed_query_image

    jpegs = gen.query_jpegs(seed, N_QUERIES)
    planted = np.stack([embed_query_image(j) for j in jpegs])
    # filler drawn from the planted vectors' own per-dimension spread,
    # so the corpus is one dense blob like real hash-space vectors
    rng = gen.rng_for(seed, "corpus")
    mu, sd = planted.mean(axis=0), planted.std(axis=0)
    corpus = np.clip(mu + 3 * sd * rng.standard_normal((N_CORPUS, mu.size)), 0, None)
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    slots = rng.choice(N_CORPUS, N_QUERIES, replace=False)
    corpus[slots] = planted
    return {"jpegs": jpegs, "planted": planted, "slots": slots, "corpus": corpus}


class _TracedSearcher:
    """Wraps the ResidentSearcher the server calls, recording the plan
    (search() until it returns its DataFrame) and exec (collect) spans
    under the client's open request span."""

    def __init__(self, inner, trace: H.Trace):
        self.inner, self.trace = inner, trace

    def warm(self):
        return self.inner.warm()

    def search(self, q, **kw):
        req = self.trace.request
        if req is None:
            return self.inner.search(q, **kw)
        with self.trace.span("serve.plan", parent=req):
            df = self.inner.search(q, **kw)
        return _TracedFrame(df, self.trace, req)


class _TracedFrame:
    def __init__(self, df, trace, req):
        self.df, self.trace, self.req = df, trace, req

    def collect(self):
        with self.trace.span("serve.exec", parent=self.req):
            return self.df.collect()


def run(run: H.Run, ctx) -> float:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from shotit_worker_spark.index.ivf import build_ivf
    from shotit_worker_spark.plans import http_api
    from shotit_worker_spark.plans.serve import ResidentSearcher

    spark, trace = ctx.spark, run.trace
    inp = ctx.inputs
    corpus = inp["corpus"]
    ids = np.array([f"corpus/{i:06d}" for i in range(N_CORPUS)])
    with ctx.excluded():
        # the corpus lands as a parquet file; the engine reads it
        src = os.path.join(ctx.workdir, "corpus.parquet")
        pq.write_table(pa.table({
            "hash_id": ids, "primary_key": np.arange(N_CORPUS),
            "vector": pa.array(list(corpus), type=pa.list_(pa.float64())),
        }), src)
        rows = spark.read.parquet(src)

    t0 = time.perf_counter()
    with trace.span("ivf.build"):
        index = build_ivf(rows, os.path.join(ctx.workdir, "ivf"), nlist=NLIST, quantize=True)
    run.sample("ivf.build.s", time.perf_counter() - t0)
    ctx.mark("index built")
    index_bytes = sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(index.path) for n in names
        if n.endswith(".parquet")
    )
    run.sample("ivf.index_bytes", index_bytes)

    with ctx.excluded():
        # the index as stored, read straight from its parquet files
        tab = pq.read_table(index.path, columns=["hash_id", "centroid_id", "sq8_code"])
        codes = np.stack(tab.column("sq8_code").to_numpy(zero_copy_only=False)).astype(np.float64)
        stored = index.mins + (codes + 128.0) * index.scales
        lists = np.asarray(tab.column("centroid_id").to_pylist())
        oids = tab.column("hash_id").to_numpy(zero_copy_only=False)
        sizes = np.bincount(lists, minlength=NLIST)
        run.sample("ivf.list_skew", sizes.max() / sizes.mean())

    ctx.mark("oracle ready")
    searcher = ResidentSearcher(spark, index)
    if trace.enabled:
        embed = http_api.embed_query_image

        def traced_embed(image, **kw):
            req = trace.request
            if req is None:
                return embed(image, **kw)
            with trace.span("media.embed_query", parent=req):
                return embed(image, **kw)

        http_api.embed_query_image = traced_embed
        probe_ids = index.probe_ids

        def traced_probe(q, nprobe):
            if trace.request is None:
                return probe_ids(q, nprobe)
            with trace.span("ivf.probe_ids"):
                return probe_ids(q, nprobe)

        index.probe_ids = traced_probe
        served = _TracedSearcher(searcher, trace)
    else:
        served = searcher
    t0 = time.perf_counter()
    with trace.span("serve.warm"):
        server = http_api.SearchHTTPServer(served, k=K, nprobe=NPROBE)
    run.sample("serve.warm.s", time.perf_counter() - t0)
    server.start()
    ctx.mark("server warm")
    url = f"http://127.0.0.1:{server.port}/search"

    def op(i: int, traced: bool):
        qn = i % N_QUERIES
        body = inp["jpegs"][qn]
        if traced:
            ctx.jobs.delta()
        t0 = time.perf_counter()
        with trace.span("http.request", rid=i) if traced else H.NULL as req:
            trace.request = req
            try:
                with urllib.request.urlopen(
                    urllib.request.Request(url, data=body, method="POST"), timeout=60
                ) as resp:
                    status, payload = resp.status, resp.read()
            except urllib.error.HTTPError as e:
                status, payload = e.code, b""
            finally:
                trace.request = None
        latency = time.perf_counter() - t0
        if traced:
            jobs, tasks = ctx.jobs.delta()
            run.sample("spark.jobs_per_op", jobs)
            run.sample("spark.tasks_per_op", tasks)
        if status != 200:
            return H.Op(latency, 1, False, traced), [f"HTTP {status}"]
        docs = json.loads(payload)["response"]["docs"]
        q = inp["planted"][qn]
        if traced:
            scored = int(np.isin(lists, oracle.probes(index.centroids, q, NPROBE)).sum())
            run.sample("serve.rows_scored_per_query", scored)
            run.sample("serve.useful_ratio", K / scored)
        problems = oracle.check_topk(
            [(d["hash_id"], d["score"]) for d in docs], q, ids[inp["slots"][qn]],
            oids, lists, stored, index.centroids, K, NPROBE,
        )
        return H.Op(latency, 1, not problems, traced), problems

    try:
        # in a fresh JVM, resident-search latency keeps falling for the
        # first few hundred queries (JIT warm-up); run the first ones on
        # every core at once, straight into the searcher, then warm the
        # HTTP path in drive() until its latency stops falling
        with ThreadPoolExecutor(ctx.cpus) as pool:
            list(pool.map(
                lambda n: searcher.search(inp["planted"][n % N_QUERIES],
                                          k=K, nprobe=NPROBE).collect(),
                range(PREWARM_QUERIES)))
        ctx.mark(f"{PREWARM_QUERIES} concurrent warm-up queries")
        ctx.drive(op, warm_round=10, warm_max_s=4.0)
    finally:
        server.stop()
        searcher.close()
    return index_bytes / N_CORPUS
