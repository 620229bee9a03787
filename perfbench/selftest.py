"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py            # everything (about 8 minutes)
    python3 perfbench/selftest.py --no-run   # generator and oracle only

Run from the repository root. Checks that the generator is deterministic
per seed, that generated pages extract to exactly the generated words, that
the oracle model follows the engine's doc-id and tombstone contract, that a
run prints every metric of BENCHMARK.json with its unit (both trace modes,
every workload), and that a run fails without printing a result when the
program is absent. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from model import IndexModel  # noqa: E402

from unichem2index_spark.functions.bm25 import Bm25Oracle  # noqa: E402
from unichem2index_spark.functions.extract import extract_text  # noqa: E402
from unichem2index_spark.functions.tokenize import tokenize  # noqa: E402

SPEC = gen.CorpusSpec(n_docs=60, vocab=2_000)
# Ungated end-to-end metrics every run prints in its diagnostics line.
DIAGNOSTIC_METRICS = {"op_fail_ratio": "ratio"}


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def rows(docs):
    return [d.row(i) for i, d in enumerate(docs)]


def test_generator() -> None:
    a = gen.gen_docs(SPEC, 7, 0, SPEC.n_docs)
    check(rows(a) == rows(gen.gen_docs(SPEC, 7, 0, SPEC.n_docs)), "docs repeat for a seed")
    check(rows(a) != rows(gen.gen_docs(SPEC, 8, 0, SPEC.n_docs)), "docs differ across seeds")
    present = {w for d in a for w in d.words}
    q = gen.gen_queries(gen.QuerySpec(), 7, 1, 50, present)
    check(q == gen.gen_queries(gen.QuerySpec(), 7, 1, 50, present), "queries repeat for a seed")
    check(q != gen.gen_queries(gen.QuerySpec(), 8, 1, 50, present), "queries differ across seeds")
    check(all(len(set(x["terms"])) == len(x["terms"]) for x in q), "query terms are distinct")
    check(len({gen.term(i) for i in range(SPEC.vocab)}) == SPEC.vocab
          and not {gen.term(i) for i in range(SPEC.vocab)} & set(gen.STOPWORDS),
          "content terms are distinct and never stopwords")
    check(all(tokenize(extract_text(r[2])) == d.words for r, d in zip(rows(a), a)),
          "extracted html tokenizes to the generated words")
    check(gen.vocabulary(SPEC, 7)[:len(gen.STOPWORDS)] == list(gen.STOPWORDS),
          "stopwords hold the top Zipf ranks")
    lens = [len(d.words) for d in a]
    check(min(lens) >= SPEC.min_len and max(lens) <= SPEC.max_len, "doc lengths within the spec's clip")
    check(all(x["terms"][0] in gen.STOPWORDS and not set(x["terms"][1:]) & set(gen.STOPWORDS)
              and 1 <= len(x["terms"]) <= gen.QuerySpec().max_terms and x["k"] == gen.QuerySpec().k
              for x in q), "queries: one stopword, then 0-4 content terms, k=10")
    e = gen.edge_queries(gen.QuerySpec(), 7, 1, 3, present)
    check([x["k"] for x in e] == [1] * 3 + [100] * 3 and [x["query_id"] for x in e] == list(range(6)),
          "edge-case queries cover k=1 and k=100")


def test_model() -> None:
    docs = gen.gen_docs(SPEC, 3, 0, 10)
    m = IndexModel()
    m.build(docs)
    urls = sorted(d.url for d in docs)
    check([m.live_by_url[u] for u in urls] == list(range(10)), "build doc ids are url ranks")
    up = gen.gen_docs(SPEC, 3, 1, 2, url_ids=[10**7 + 5, 99])
    up[0].url = urls[3]
    m.add_generation(up)
    check(m.deleted == {3} and m.next_id == 12, "upsert tombstones the replaced doc")
    oracle = Bm25Oracle(sorted(m.words.items()))
    terms = up[0].words[:2]
    exp = [(d, s) for d, s in oracle.topk(terms, 20) if d != 3][:5]
    check(m.expected(terms, 5) == exp, "expected results keep pre-merge stats, drop tombstones")
    m.compact()
    check(3 not in m.words and m.n_live == 11, "compaction drops tombstoned docs")


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w, trace)
            check(p.returncode == 0, f"{w} trace={trace} exits 0")
            lines = p.stdout.strip().splitlines()
            res, diag = json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace} result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} trace={trace} all results match the oracle")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace} prints every {kind} metric with its unit")
            check(all(isinstance(v["value"], float) for v in res["metrics"].values()),
                  f"{w} trace={trace} metric values are numbers")
            e2e = {k: v["unit"] for k, v in diag["end_to_end"].items()}
            want = {m["name"]: m["unit"] for m in spec["end_to_end"]} | DIAGNOSTIC_METRICS
            check(want.items() <= e2e.items(), f"{w} trace={trace} diagnostics carry every end-to-end metric")
            if trace:
                check("trace_overhead" in diag and diag["per_layer"]["build.merge_groups"] > 0,
                      f"{w} traced run reports tracing overhead and merge groups")


def test_without_program() -> None:
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run("serve", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and not p.stdout.strip(), "fails without a result when the program is absent")


if __name__ == "__main__":
    test_generator()
    test_model()
    test_without_program()
    if "--no-run" not in sys.argv:
        test_runs()
    print("selftest passed")
