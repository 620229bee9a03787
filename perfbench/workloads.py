"""The benchmark's workloads: ``serve`` and ``churn``.

Both build their index during set-up, then run one timed window that
alternates batched queries with closed-loop interactive ones (one client:
each query is sent after the previous one returns), so every gated
end-to-end metric is measured on each and both query kinds sample the
same stretch of time. They differ in the properties the engine's
behaviour depends on:

* ``serve``: 1500 docs over a 2k-term vocabulary (about 2k (shard, term)
  merge groups in set-up; the stopwords every query carries span up to 12
  posting blocks, so block-max WAND has blocks to skip), a handle pinned
  with ``cache=True``, and the windows on the freshly built
  single-generation index (stored block bounds, no tombstones).
* ``churn``: a 400-doc base, then an upsert (half of it replaces live urls)
  timed until a fresh handle answers and counted in set-up, and every
  query on an uncached handle over the two-generation index (parquet
  scans, recomputed bounds, tombstone cogroup).

The traced run additionally runs the upsert (serve), ``delete_by_query``
and ``compact`` (both) and the layer probes of ``layers.py``, so that each
layer is measured on each workload.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import layers
from harness import Tracer, dir_bytes, median
from model import IndexModel

from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators import update as U
from unichem2index_spark.operators.ingest import build_index_from_webtext
from unichem2index_spark.schemas import WEBTEXT_SCHEMA


@dataclass(frozen=True)
class Plan:
    corpus: gen.CorpusSpec
    cache: bool  # IndexHandle.open(cache=...)
    batch_size: int
    upsert_docs: int
    # share of an upsert batch that replaces live urls; one half weighs the
    # tombstone path and the new-url path alike (no published figure used)
    replace_share: float
    # True: one upsert before the reads, so every read sees two
    # generations and the replaced urls' tombstones
    writes: bool


WINDOW_QUERIES = 5000  # more than any window completes
# Warm-up before the windows: one query per edge-case k (k=1, k=100; also
# oracle-checked) and one batch start the Python workers and fill the cache.
EDGE_QUERIES = 1
UPSERT_STREAM = 100  # generator stream of the upsert batch (base corpus: 0)

PLANS = {
    "serve": Plan(
        corpus=gen.CorpusSpec(n_docs=1500, vocab=2_000, n_hosts=30),
        cache=True, batch_size=32,
        upsert_docs=30, replace_share=0.5, writes=False,
    ),
    "churn": Plan(
        corpus=gen.CorpusSpec(n_docs=400, vocab=1_000, n_hosts=20),
        cache=False, batch_size=16,
        upsert_docs=48, replace_share=0.5, writes=True,
    ),
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    shards: int
    t_process: float  # perf_counter at process start
    t_spark_s: float  # SparkSession start-up time
    attempted: int = 0
    failed: int = 0
    lat_s: list = field(default_factory=list)  # interactive query latencies
    window_s: float = 0.0  # wall time of the interactive queries
    batch_s: float = 0.0  # wall time of the timed batches
    batch_n: int = 0  # queries in the timed batches
    samples: dict = field(default_factory=dict)  # layer name -> values

    def add(self, name: str, v) -> None:
        self.samples.setdefault(name, []).append(v)


class Session:
    """One index directory, its oracle model and the current handle."""

    def __init__(self, ctx: Ctx, plan: Plan, path: str):
        self.ctx, self.plan, self.path = ctx, plan, path
        self.model = IndexModel()
        self.handle: Q.IndexHandle | None = None
        self.qstream = 0

    # -- writes ---------------------------------------------------------
    def _df(self, docs):
        return self.ctx.spark.createDataFrame(
            [d.row(i) for i, d in enumerate(docs)], WEBTEXT_SCHEMA
        )

    def build(self, docs) -> float:
        c = self.ctx
        df = self._df(docs)
        t = time.perf_counter()
        with c.tracer.span("ingest.build_index_from_webtext"):
            build_index_from_webtext(c.spark, df, self.path, n_shards=c.shards)
        dt = time.perf_counter() - t
        self.model.build(docs)
        return dt

    def open(self) -> None:
        c = self.ctx
        if self.handle is not None:
            self.handle.close()
        t = time.perf_counter()
        with c.tracer.span("query.open"):
            self.handle = Q.IndexHandle.open(c.spark, self.path, cache=self.plan.cache)
        c.add("query.open_s", time.perf_counter() - t)

    def upsert(self) -> float:
        """add_generation of one seeded batch, then a first query on a
        freshly opened handle; returns the update-to-visible time."""
        c, p = self.ctx, self.plan
        live = sorted(self.model.live_by_url)
        n_rep = int(p.upsert_docs * p.replace_share)
        rng = np.random.default_rng([c.seed, 4])
        rep = [live[i] for i in rng.choice(len(live), n_rep, replace=False)]
        rep_ids = [int(u.rsplit("/", 1)[1]) for u in rep]
        new_ids = [UPSERT_STREAM * 10**7 + j for j in range(p.upsert_docs - n_rep)]
        docs = gen.gen_docs(
            p.corpus, c.seed, UPSERT_STREAM, p.upsert_docs,
            url_ids=rep_ids + new_ids, ts_offset_s=86400,
        )
        # replaced urls keep their host: the url names the doc slot
        for d, u in zip(docs, rep):
            d.url = u
        df = self._df(docs)
        q = self.queries(1)[0]
        t = time.perf_counter()
        with c.tracer.span("update.add_generation"), \
                c.tracer.jobs("commit", c.samples.setdefault("update.jobs", [])):
            U.add_generation(c.spark, self.path, df)
        c.add("update.add_generation_s", time.perf_counter() - t)
        self.model.add_generation(docs)
        self.open()
        self.run_query(q, record=False)
        return time.perf_counter() - t

    def delete(self) -> None:
        """delete_by_query on two seeded live hosts, then reopen."""
        c = self.ctx
        hosts = self.model.live_hosts()
        rng = np.random.default_rng([c.seed, 5])
        pick = {hosts[int(i)] for i in rng.choice(len(hosts), 2, replace=False)}
        pred = "source IN (" + ", ".join(f"'{h}'" for h in sorted(pick)) + ")"
        t = time.perf_counter()
        with c.tracer.span("update.delete_by_query"):
            res = U.delete_by_query(c.spark, self.path, pred)
        c.add("update.delete_by_query_s", time.perf_counter() - t)
        expect = self.model.delete_hosts(pick)
        c.attempted += 1
        c.failed += res.n_replaced != expect
        self.open()

    def compact(self) -> float:
        c = self.ctx
        t = time.perf_counter()
        with c.tracer.span("update.compact"):
            U.compact(c.spark, self.path)
        dt = time.perf_counter() - t
        self.model.compact()
        return dt

    # -- reads ----------------------------------------------------------
    def queries(self, n: int, edge: bool = False) -> list[dict]:
        self.qstream += 1
        make = gen.edge_queries if edge else gen.gen_queries
        return make(gen.QuerySpec(), self.ctx.seed, self.qstream, n, self.model.terms())

    def run_query(self, q: dict, record: bool = True) -> float:
        """One interactive query; result checked against the oracle after
        the clock stops."""
        c = self.ctx
        req = q["query_id"]
        calls = c.samples.setdefault("query.jobs", []) if record else []
        t0 = time.perf_counter()
        with c.tracer.span("query.request", req=req), c.tracer.jobs(f"q-{self.qstream}-{req}", calls):
            with c.tracer.span("query.call", req=req):
                df = Q.bm25_topk_wand(c.spark, self.handle, q["terms"], q["k"])
            t1 = time.perf_counter()
            with c.tracer.span("query.collect", req=req):
                rows = df.collect()
        t2 = time.perf_counter()
        if record and c.tracer.enabled:
            c.add("query.call_ms", (t1 - t0) * 1000)
            c.add("query.collect_ms", (t2 - t1) * 1000)
        c.attempted += 1
        c.failed += not self.model.check(
            q["terms"], q["k"], [(r.doc_id, r.score) for r in rows]
        )
        return t2 - t0

    def window(self, seconds: float) -> None:
        """Closed loop for ``seconds``: rounds of one batch, then interactive
        queries in pairs until their wall time has caught up with the
        batches', so each kind gets about half the window and both are
        spread over all of it. The next request goes out when the previous
        one has returned and been checked. In the traced run the second
        query of each pair runs with tracing on and the first with it off,
        and the two latency medians give the tracing overhead."""
        c = self.ctx
        traced = c.tracer.enabled
        qs = iter(self.queries(WINDOW_QUERIES))
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds:
            c.tracer.enabled = traced
            c.batch_s += self.batch()
            c.batch_n += self.plan.batch_size
            while True:
                c.tracer.enabled = traced and i % 2 == 1
                dt = self.run_query(next(qs))
                if traced:
                    c.add("trace.on_ms" if i % 2 else "trace.off_ms", dt * 1000)
                c.lat_s.append(dt)
                c.window_s += dt
                i += 1
                if i % 2 == 0 and (
                    c.window_s >= c.batch_s or time.perf_counter() - start >= seconds
                ):
                    break
        c.tracer.enabled = traced

    def warmup(self) -> None:
        for q in self.queries(EDGE_QUERIES, edge=True):
            self.run_query(q, record=False)
        self.batch()

    def batch(self) -> float:
        """One oracle-checked ``bm25_topk_batch``; returns its wall time."""
        c, p = self.ctx, self.plan
        qs = self.queries(p.batch_size)
        t = time.perf_counter()
        with c.tracer.span("query.batch"):
            rows = Q.bm25_topk_batch(c.spark, self.handle, qs).collect()
        dt = time.perf_counter() - t
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
        for q in qs:
            c.attempted += 1
            res = [(d, s) for _, d, s in sorted(got.get(q["query_id"], []))]
            c.failed += not self.model.check(q["terms"], q["k"], res)
        return dt


def run(name: str, ctx: Ctx) -> dict:
    """Run workload ``name``; returns its end-to-end metrics (and, in the
    traced run, fills ``ctx.samples`` with the per-layer ones)."""
    plan = PLANS[name]
    traced = ctx.tracer.enabled
    path = os.path.join(ctx.work, "index")
    s = Session(ctx, plan, path)
    base = gen.gen_docs(plan.corpus, ctx.seed, 0, plan.corpus.n_docs)

    build_s = s.build(base)
    s.open()
    out = {}
    if plan.writes:  # churn is ready once its second generation is open
        out["update_visible_s"] = s.upsert()
    setup_s = time.perf_counter() - ctx.t_process
    s.warmup()
    s.window(ctx.seconds)
    layers.wand_probe(s)
    if traced:  # the traced run exercises every layer
        if not plan.writes:
            s.upsert()
        s.delete()
    layers.index_state(s)
    space = dir_bytes(path) / s.model.physical_text_bytes()

    if traced:
        ctx.add("update.compact_s", s.compact())
        s.open()
        for q in s.queries(EDGE_QUERIES, edge=True):
            s.run_query(q, record=False)
        layers.build_probe(ctx, s._df(base), os.path.join(ctx.work, "probe"), build_s)

    return out | {
        "setup_s": setup_s,
        "build_docs_per_s": plan.corpus.n_docs / build_s,
        "search_p50_ms": median(ctx.lat_s) * 1000,
        "search_qps": len(ctx.lat_s) / ctx.window_s,
        "batch_qps": ctx.batch_n / ctx.batch_s,
        "index_bytes_per_text_byte": space,
    }
