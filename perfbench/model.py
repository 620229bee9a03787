"""Oracle model of the index: what every query must return.

The model replays the engine's documented contract on the generated docs,
independently of the engine:

* doc ids are dense ranks of url, per build or per update batch, starting
  at the index's ``next_doc_id`` (``ingest.dedup_and_assign_doc_ids``);
* an upsert of a live url tombstones the old doc id;
* until ``compact``, BM25 statistics count every posting physically
  present, tombstoned ones included (the Lucene pre-merge contract in
  ``operators/update.py``), while tombstoned docs never appear in results;
* ``compact`` drops tombstoned docs and recomputes statistics over the
  live docs.

Expected results come from ``functions.bm25.Bm25Oracle`` over the docs the
statistics cover, filtered to live docs.
"""

from __future__ import annotations

from unichem2index_spark.functions.bm25 import Bm25Oracle

SCORE_TOL = 1e-6  # engine scores are rounded to 6 decimal places


class IndexModel:
    def __init__(self) -> None:
        self.words: dict[int, list[str]] = {}  # physically present docs
        self.host: dict[int, str] = {}
        self.text_bytes: dict[int, int] = {}
        self.deleted: set[int] = set()
        self.live_by_url: dict[str, int] = {}
        self.next_id = 0
        self._oracle: Bm25Oracle | None = None

    def _add(self, docs) -> None:
        """One build or update batch (urls distinct within the batch)."""
        for rank, d in enumerate(sorted(docs, key=lambda d: d.url)):
            doc_id = self.next_id + rank
            old = self.live_by_url.get(d.url)
            if old is not None:
                self.deleted.add(old)
            self.live_by_url[d.url] = doc_id
            self.words[doc_id] = d.words
            self.host[doc_id] = d.host
            self.text_bytes[doc_id] = len(" ".join(d.words).encode())
        self.next_id += len(docs)
        self._oracle = None

    build = add_generation = _add

    def delete_hosts(self, hosts: set[str]) -> int:
        """``delete_by_query`` on ``source IN hosts``; returns docs deleted."""
        hit = [
            i for i in self.live_by_url.values() if self.host[i] in hosts
        ]
        self.deleted.update(hit)
        self.live_by_url = {
            u: i for u, i in self.live_by_url.items() if i not in self.deleted
        }
        self._oracle = None
        return len(hit)

    def compact(self) -> None:
        for i in self.deleted:
            del self.words[i], self.host[i], self.text_bytes[i]
        self.deleted = set()
        self._oracle = None

    @property
    def n_live(self) -> int:
        return len(self.live_by_url)

    def live_hosts(self) -> list[str]:
        return sorted({self.host[i] for i in self.live_by_url.values()})

    def physical_text_bytes(self) -> int:
        return sum(self.text_bytes.values())

    def terms(self) -> set[str]:
        return {w for ws in self.words.values() for w in ws}

    def expected(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        if self._oracle is None:
            self._oracle = Bm25Oracle(sorted(self.words.items()))
        top = self._oracle.topk(terms, k + len(self.deleted))
        return [(d, s) for d, s in top if d not in self.deleted][:k]

    def check(self, terms: list[str], k: int, got: list[tuple[int, float]]) -> bool:
        """Rank identity, and every score within the 6-dp rounding."""
        exp = self.expected(terms, k)
        return len(got) == len(exp) and all(
            gd == ed and abs(gs - es) <= SCORE_TOL
            for (gd, gs), (ed, es) in zip(got, exp)
        )
