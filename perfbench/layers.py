"""Per-layer probes for the traced run (``--trace 1``).

Each probe times calls into one layer's public functions from outside the
program, forcing lazy stages by materializing them (``persist`` +
``count``). Probes run only when the tracer is enabled and never inside a
timed end-to-end window.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from harness import dir_bytes, median

from unichem2index_spark.functions.codec import PostingBlock
from unichem2index_spark.functions.wand import wand_topk
from unichem2index_spark.operators import build as B
from unichem2index_spark.operators import ingest as I
from unichem2index_spark.operators import query as Q
from unichem2index_spark.sources.tables import SegmentStore

WAND_PROBE_QUERIES = 8


def count_manifest_commits(ctx) -> None:
    """Count ``SegmentStore.write_manifest`` calls (every commit point of
    build, update, delete and compact goes through it)."""
    orig = SegmentStore.write_manifest

    def counted(self, meta):
        ctx.add("tables.manifest_commits", 1)
        return orig(self, meta)

    SegmentStore.write_manifest = counted


def _timed_count(df):
    t = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t, n


def build_probe(ctx, webtext, scratch_dir: str, build_wall_s: float) -> None:
    """Re-run the build's stages one at a time on the same input:
    extract -> doc ids -> tokenize -> SPIMI runs -> (shard, term) merge ->
    segment write."""
    if not ctx.tracer.enabled:
        return
    held = []

    def keep(df):
        held.append(df.persist())
        return df

    with ctx.tracer.span("probe.build"):
        ext = keep(I.extracted_webtext(webtext))
        ctx.add("ingest.extract_s", _timed_count(ext)[0])
        ids = keep(I.dedup_and_assign_doc_ids(ext, key="url", ts_col="warc_ts"))
        ctx.add("ingest.docid_s", _timed_count(ids)[0])
        docs = ids.select(
            "doc_id", "url", "warc_ts", "text", "lang",
            F.parse_url(F.col("url"), F.lit("HOST")).alias("source"),
        )
        tok = keep(B.tokenized_docs(docs))
        ctx.add("build.tokenize_s", _timed_count(tok)[0])
        runs = keep(B.spimi_runs(tok, ctx.shards))
        dt, n_runs = _timed_count(runs)
        ctx.add("build.spimi_s", dt)
        ctx.add("build.spimi_run_rows", n_runs)
        stats = B.corpus_stats(tok)
        tstats = keep(B.term_stats_from_runs(runs, stats["n_docs"]))
        tstats.count()
        seg = keep(B.merge_runs_to_segments(runs, tstats, stats["avgdl"]))
        dt, blocks = _timed_count(seg)
        groups = runs.select("shard", "term").distinct().count()
        ctx.add("build.merge_s", dt)
        ctx.add("build.merge_groups", groups)
        ctx.add("build.merge_ms_per_group", dt * 1000 / groups)
        ctx.add("build.blocks", blocks)
        ctx.add("build.wall_s", build_wall_s)
        t = time.perf_counter()
        SegmentStore(scratch_dir).write_segments(seg)
        ctx.add("tables.segments_write_s", time.perf_counter() - t)
    for df in held:
        df.unpersist()


def wand_probe(s) -> None:
    """Run the WAND kernel serially on the driver over each sampled query's
    per-shard cursors (the same blocks the engine reads), and decode every
    one of those blocks once for the codec rate."""
    ctx = s.ctx
    if not ctx.tracer.enabled:
        return
    spark, h = ctx.spark, s.handle
    deleted = h.deleted_ids(spark)
    stored = not h.multi_gen
    with ctx.tracer.span("probe.wand"):
        for q in s.queries(WAND_PROBE_QUERIES):
            uniq = sorted(set(q["terms"]))
            idfs = {
                r.term: float(r.idf)
                for r in h.term_stats(spark).where(F.col("term").isin(uniq))
                .select("term", "idf").collect()
            }
            pdf = h.segments(spark).where(F.col("term").isin(list(idfs))).toPandas()
            kernel = decoded = total = 0.0
            enc = []
            for _, shard in pdf.groupby("shard"):
                cursors = [
                    Q._cursors_from_group(g, str(t), idfs[str(t)], h.avgdl, stored)
                    for t, g in shard.groupby("term", sort=True)
                ]
                t0 = time.perf_counter()
                wand_topk(cursors, h.avgdl, q["k"], deleted=deleted)
                kernel += time.perf_counter() - t0
                decoded += sum(len(c.blk_cache) for c in cursors)
                total += sum(len(c.enc_blocks) for c in cursors)
                enc.extend(b for c in cursors for b in c.enc_blocks)
            t0 = time.perf_counter()
            for b in enc:
                PostingBlock.decode(*b)
            dt = time.perf_counter() - t0
            ctx.add("wand.kernel_ms", kernel * 1000)
            ctx.add("wand.blocks_decoded", decoded)
            ctx.add("wand.blocks_total", total)
            if dt > 0:
                ctx.add("codec.decode_mb_per_s", sum(map(len, (x for b in enc for x in b))) / dt / 1e6)


def index_state(s) -> None:
    """Tombstone and generation counts of the index before compaction."""
    ctx = s.ctx
    if not ctx.tracer.enabled:
        return
    ctx.add("update.tombstones", len(s.handle.deleted_ids(ctx.spark)))
    ctx.add("update.generations", len(s.handle.generations or [0]))
    ctx.add("tables.segment_bytes", dir_bytes(s.handle.store.path(s.handle.store._resolve("segments"))))


def summarize(ctx) -> dict:
    """Per-layer metrics from the traced run's samples (medians where a
    layer ran more than once)."""
    smp = ctx.samples
    q_jobs = smp.get("query.jobs", [])
    u_jobs = smp.get("update.jobs", [])
    pooled = ("query.jobs", "update.jobs", "wand.blocks_decoded", "wand.blocks_total")
    out = {k: median(v) for k, v in smp.items() if k not in pooled}
    # over all probe queries: one ratio of block totals, not a median of
    # per-query ratios (which a majority of unprunable queries pins to 1)
    out["wand.blocks_decoded_ratio"] = (
        sum(smp["wand.blocks_decoded"]) / sum(smp["wand.blocks_total"])
    )
    out["tables.manifest_commits"] = sum(smp.get("tables.manifest_commits", []))
    out["query.jobs_per_query"] = median([j for j, _ in q_jobs])
    out["query.tasks_per_query"] = median([t for _, t in q_jobs])
    out["update.jobs_per_commit"] = median([j for j, _ in u_jobs])
    return out
