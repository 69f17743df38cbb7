"""The serve workloads: inputs, closed-loop traffic, result checks, metrics.

Both workloads send the same shape of traffic through the public API:
single ``search_ids`` calls, a repeated ``search_ids_many`` query log and
full ``search()`` calls collected to the driver.  They differ in which side
of the program's driver-local gates (``pysearch.query.LOCAL_MAX_VOCAB``,
``LOCAL_MAX_POSTINGS``, the batch gate) their index and traffic sit on, so
a change to one execution path moves one workload and not the other.
NOTES.md gives the sizes and the reasons.
"""

from __future__ import annotations

import re
import statistics
import time
import traceback
from dataclasses import dataclass, replace
from typing import Dict, List, Optional

import numpy as np
import pandas as pd

import gen


@dataclass(frozen=True)
class Config:
    n_docs: int           # corpus rows offered to build_index
    rare_per_doc: float   # unique tail tokens per doc (vocabulary growth)
    pool: int             # distinct single queries
    popular: bool         # Zipf popularity (repeats) or each query once
    q_terms: tuple        # words per single query
    q_ranks: tuple        # vocabulary ranks single-query words come from
    all_share: float      # share of single queries in mode="all"
    filtered: bool        # single queries carry a filter= predicate
    batch: int            # queries in the search_ids_many log
    batch_terms: tuple    # words per log query
    batch_ranks: tuple    # vocabulary ranks the log's words come from
    per_pass: tuple       # (single, batch, search) ops per interleaved pass
    oracle_queries: int   # single queries checked against brute_topk
    tail: str             # the traced run's untimed tail (tail.py)
    vocab: int = 20000    # vocabulary words (fewer in smoke mode)


# posting-block segment size: bench.py's, so that the distributed path
# scores several segments in parallel at these corpus sizes
SEGMENT_SIZE = 512

# An op is calm when the hypervisor stole at most this share of the host's
# CPU time while it ran.  Other guests' load shows as steal and slows whole
# stretches of a run 1.2-2.5x (NOTES.md), so latency metrics are taken over
# calm ops, and over all ops only when none was calm.
STEAL_MAX = 0.02


def cpu_times() -> list:
    """System-wide CPU jiffies from /proc/stat: user .. steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(1, sum(d))


WORKLOADS: Dict[str, Config] = {
    # index below every driver-local gate: ~16k term_stats rows, a few
    # hundred candidate postings per query, a 40-query log far under the
    # batch gate -> single queries and the log run with zero Spark jobs
    "serve_local": Config(n_docs=3000, rare_per_doc=0.0, pool=300,
                          popular=True, q_terms=(1, 4),
                          q_ranks=(20, 3000), all_share=0.25,
                          filtered=False, batch=40, batch_terms=(1, 4),
                          batch_ranks=(20, 3000), per_pass=(12, 2, 1),
                          oracle_queries=4, tail="ingest"),
    # vocabulary above LOCAL_MAX_VOCAB (~240k term_stats rows), so df
    # lookups are Spark jobs; every single query is filtered (always
    # distributed) and seen once, so no cache answers it; the 480-query
    # log of common words sums to ~3.1M candidate postings, 1.5x the
    # batch gate's 2M, so the log is scored by the distributed batch scan
    "serve_spark": Config(n_docs=2500, rare_per_doc=90.0, pool=4000,
                          popular=False, q_terms=(2, 4),
                          q_ranks=(20, 2000), all_share=0.0,
                          filtered=True, batch=480, batch_terms=(5, 7),
                          batch_ranks=(0, 25), per_pass=(3, 1, 1),
                          oracle_queries=1, tail="curate"),
}


def config(name: str, smoke: bool) -> Config:
    c = WORKLOADS[name]
    if smoke:  # tiny inputs: same code paths up to the gate sizes
        c = replace(c, n_docs=300, rare_per_doc=min(c.rare_per_doc, 2.0),
                    pool=min(c.pool, 200), batch=min(c.batch, 12),
                    per_pass=(4, 1, 1), oracle_queries=1, vocab=2000)
    return c


@dataclass
class Inputs:
    corpus: pd.DataFrame
    singles: List[tuple]        # (query, mode, filter) stream, in order
    warm_singles: List[tuple]
    log: Dict[str, str]         # the search_ids_many query log
    searches: List[str]
    warm_searches: List[str]
    vocab: gen.Vocab


def make_inputs(seed: int, c: Config) -> Inputs:
    vocab = gen.Vocab(c.vocab)
    corpus = gen.webtext(seed, c.n_docs, vocab, rare_per_doc=c.rare_per_doc)
    rng = np.random.default_rng([seed, 17])
    pool = gen.query_pool(seed, vocab, c.pool, terms=c.q_terms,
                          ranks=c.q_ranks)
    # modes and filters follow the pool position, like lengths, so the
    # traffic's make-up is the same for every seed; only its words change.
    # Each filter keeps the 11 of 97 sites whose number starts with d.
    every = round(1 / c.all_share) if c.all_share else 0
    modes = ["all" if every and i % every == 1 else "any"
             for i in range(len(pool))]
    flt = [f"url LIKE 'https://s{1 + i % 8}%'" if c.filtered else None
           for i in range(len(pool))]
    keyed = list(zip(pool, modes, flt))
    if c.popular:
        singles = gen.zipf_stream(rng, keyed, 20000)
        searches = gen.zipf_stream(rng, pool, 2000)
    else:  # each query once, in seeded order
        singles = [keyed[i] for i in rng.permutation(len(keyed))]
        searches = [pool[i] for i in rng.permutation(len(pool))]
    log_pool = gen.query_pool(seed + 1, vocab, c.batch, terms=c.batch_terms,
                              ranks=c.batch_ranks)
    # warm-up draws come after the timed streams' ends, so a run whose
    # window is short never replays a warm-up query
    return Inputs(
        corpus=corpus,
        singles=singles[: len(singles) // 2],
        warm_singles=singles[len(singles) // 2:],
        log={f"q{i:04d}": q for i, q in enumerate(log_pool)},
        searches=searches[: len(searches) // 2],
        warm_searches=searches[len(searches) // 2:],
        vocab=vocab,
    )


def frame_rows(pdf: pd.DataFrame) -> List[tuple]:
    """(doc_id, score) pairs exactly as returned: ints and float64 bits."""
    return [(int(d), float(s)) for d, s in zip(pdf["doc_id"], pdf["score"])]


class Traffic:
    """Closed-loop client: one operation at a time, seeded op order."""

    def __init__(self, spark, searcher, inp: Inputs, c: Config, seed: int,
                 tracer=None):
        self.spark, self.s, self.inp, self.c = spark, searcher, inp, c
        self.seed, self.tracer = seed, tracer
        self.lat: Dict[str, List[float]] = {"single": [], "batch": [],
                                            "search": []}
        self.steal: Dict[str, List[float]] = {k: [] for k in self.lat}
        self.results: Dict[tuple, List[tuple]] = {}
        self.batch_result: Optional[pd.DataFrame] = None
        self.search_results: Dict[str, list] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: List[str] = []

    def _single(self, key):
        q, mode, flt = key
        rows = frame_rows(self.s.search_ids(q, k=10, mode=mode, filter=flt))
        if self.results.setdefault(key, rows) != rows:
            self.mismatches.append(f"search_ids not repeatable for {key}")

    def _batch(self, _arg):
        out = self.s.search_ids_many(self.inp.log, k=10)
        if self.batch_result is None:
            self.batch_result = out
        elif not out.equals(self.batch_result):
            self.mismatches.append("search_ids_many not repeatable")

    def _search(self, q):
        rows = self.s.search(q, k=10).collect()
        self.search_results.setdefault(q, rows)

    def _pass(self, n_pass: int, timed: bool) -> List[str]:
        single, batch, search = self.c.per_pass
        if not timed:  # the warm-up pass: every kind, fewer singles
            single = max(1, single // 3)
        ops = ["single"] * single + ["batch"] * batch + ["search"] * search
        np.random.default_rng([self.seed, n_pass, timed]).shuffle(ops)
        return ops

    def _op(self, kind: str, arg, timed: bool) -> Optional[float]:
        """Run one operation; its latency, or None when it raised."""
        fn = {"single": self._single, "batch": self._batch,
              "search": self._search}[kind]
        t0 = time.perf_counter()
        try:
            if timed and self.tracer is not None:
                with self.tracer.op(self.spark, kind):
                    fn(arg)
            else:
                fn(arg)
        except Exception:  # a failed op is counted and the loop goes on
            traceback.print_exc()
            return None
        return time.perf_counter() - t0

    def run(self, seconds: float) -> None:
        """The timed window: interleaved passes until ``seconds`` elapse,
        and at least one whole pass, so every op kind has a sample."""
        until = time.perf_counter() + seconds
        si, se = iter(self.inp.singles), iter(self.inp.searches)
        n_pass = 0
        while True:
            for kind in self._pass(n_pass, True):
                if n_pass and time.perf_counter() >= until:
                    return
                arg = (next(si) if kind == "single" else
                       next(se) if kind == "search" else None)
                cpu = cpu_times()
                dt = self._op(kind, arg, True)
                steal = steal_share(cpu, cpu_times())
                self.attempted += 1
                if dt is None:
                    self.failed += 1
                else:
                    self.lat[kind].append(dt)
                    self.steal[kind].append(steal)
            n_pass += 1

    def calm(self, kind: str) -> List[float]:
        """Latencies of the ``kind`` ops that ran without CPU steal, or of
        all of them when none did."""
        lat = self.lat[kind]
        ok = [t for t, s in zip(lat, self.steal[kind]) if s <= STEAL_MAX]
        return ok or lat

    def warm_up(self, budget_s: float) -> int:
        """Untimed passes until two successive passes' median single-query
        latencies agree within 10 %, or the budget is spent.  Every pass
        repeats the same seeded ops, so the program's caches hold the same
        entries after one pass or after five, and the timed window that
        follows starts from the same state in every run of a seed."""
        meds: List[float] = []
        t_end = time.perf_counter() + budget_s
        while not meds or time.perf_counter() < t_end:
            lat = []
            si = iter(self.inp.warm_singles)
            se = iter(self.inp.warm_searches)
            for kind in self._pass(0, False):
                arg = (next(si) if kind == "single" else
                       next(se) if kind == "search" else None)
                dt = self._op(kind, arg, False)
                if kind == "single" and dt is not None:
                    lat.append(dt)
            meds.append(statistics.median(lat) if lat else 0.0)
            if len(meds) >= 2 and abs(meds[-1] - meds[-2]) <= 0.1 * meds[-2]:
                break
        return len(meds)


_LIKE = re.compile(r"^url LIKE '([^'%]*)%'$")


def check(searcher, traffic: Traffic, c: Config, seed: int) -> List[str]:
    """Result checks, run after the timed window.  Returns the problems
    found; any problem fails the run."""
    from pysearch.analyze import analyze
    from pysearch.oracle import brute_topk

    problems = list(traffic.mismatches)
    docs = searcher.docs.select("doc_id", "url", "text").toPandas()
    texts = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    rng = np.random.default_rng([seed, 99])
    tokens: Dict[int, set] = {}

    # top-k (doc_id, score) of timed single queries == brute force, bit
    # for bit, over the index's own docs table.  A filter cuts the oracle's
    # full ranking to the allowed urls; mode="all" to the docs holding
    # every query term (all terms present: the same BM25 sum as "any")
    keys = sorted(traffic.results)
    for i in rng.choice(len(keys), min(c.oracle_queries, len(keys)),
                        replace=False):
        q, mode, flt = keys[i]
        allowed = None
        if flt is not None:
            prefix = _LIKE.match(flt).group(1)
            allowed = set(docs["doc_id"][docs["url"].str.startswith(prefix)])
        if mode == "all":
            if not tokens:
                tokens = {d: set(analyze(t)) for d, t in texts.items()}
            need = set(analyze(q))
            holds = {d for d, ts in tokens.items() if need <= ts}
            allowed = holds if allowed is None else allowed & holds
        if allowed is None:
            want = brute_topk(texts, q, 10)
        else:
            want = [p for p in brute_topk(texts, q, len(texts))
                    if p[0] in allowed][:10]
        if traffic.results[keys[i]] != want:
            problems.append(f"search_ids != brute_topk for {keys[i]}")

    # search_ids_many == search_ids for the same plans
    if traffic.batch_result is not None:
        b = traffic.batch_result
        qids = sorted(traffic.inp.log)
        for i in rng.choice(len(qids), min(5, len(qids)), replace=False):
            qid = qids[i]
            got = frame_rows(b[b["qid"] == qid])
            want = frame_rows(searcher.search_ids(traffic.inp.log[qid], k=10))
            if got != want:
                problems.append(f"search_ids_many != search_ids for {qid}")

    # search() hits are a subset of the same query's search_ids top-k
    for q, rows in sorted(traffic.search_results.items())[:3]:
        top = set(frame_rows(searcher.search_ids(q, k=10)))
        got = {(int(r["doc_id"]), float(r["score"])) for r in rows}
        if not got <= top or (top and not got):
            problems.append(f"search() hits disagree with search_ids for {q!r}")
    return problems


def end_to_end(traffic: Traffic, setup_s: float) -> dict:
    single, batch = traffic.calm("single"), traffic.calm("batch")
    return {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (statistics.median(single), "s"),
        "queries_per_s": (len(single) / sum(single), "1/s"),
        "batch_queries_per_s": (
            len(traffic.inp.log) * len(batch) / sum(batch), "1/s"),
        "search_p50_s": (statistics.median(traffic.calm("search")), "s"),
    }


def intent(name: str, tr) -> List[str]:
    """Workload-intent assertions from the traced run's Spark job counts:
    serve_local's single queries and query-log batches run no Spark job,
    serve_spark's each run at least one."""
    bad = []
    for o in tr.ops:
        if o["kind"] not in ("single", "batch"):
            continue
        n = len(o["jobs"])
        if name == "serve_local" and n != 0:
            bad.append(f"serve_local {o['kind']} op {o['id']} ran {n} Spark jobs")
        if name == "serve_spark" and n == 0:
            bad.append(f"serve_spark {o['kind']} op {o['id']} ran no Spark job")
    return bad


def op_counts(tr) -> List[list]:
    """Per timed op: kind, blocks fetched, postings scored, Spark jobs.
    Two traced runs of one seed must agree on their common prefix."""
    per = {o["id"]: [o["kind"], 0, 0, len(o["jobs"])] for o in tr.ops}
    for s in tr.spans:
        if s.op in per:
            if s.name == "query.fetch":
                per[s.op][1] += s.count.get("blocks", 0)
            elif s.name == "score.kernel":
                per[s.op][2] += s.count.get("postings", 0)
    return [per[i] for i in sorted(per)]
