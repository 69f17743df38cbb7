"""Span tracing for the traced benchmark run (``--trace 1``).

The tracer wraps the program's layer boundaries from the outside: it
replaces module attributes and ``Searcher`` methods with timing wrappers at
start-up and restores them at exit, so no file of the program changes.
Spans (name, start, end, parent, op id) are kept in memory and written out
when the run ends; self times are derived from them afterwards.

Each timed operation runs under its own Spark job group.  Its jobs are read
back through ``statusTracker`` and its stage metrics from the application
status store, which Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "count")

    def __init__(self, sid, name, start, parent, op):
        self.id, self.name, self.start = sid, name, start
        self.parent, self.op = parent, op
        self.end = start
        self.count: Dict[str, float] = {}


class Tracer:
    def __init__(self):
        self.spans: List[Span] = []
        self.ops: List[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._main_stack: List[Span] = self._stack()
        self._lock = threading.Lock()
        self._patches: list = []
        self._op: Optional[int] = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> List[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        st = self._stack()
        # a pool thread of the program has no open span of its own: hang its
        # spans under whatever the main thread has open
        top = st[-1] if st else (self._main_stack[-1]
                                 if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, 0.0,
                      top.id if top else None, self._op)
            self.spans.append(sp)
        st.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            st.pop()
            with self._lock:  # spans also close on the program's threads
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record an interval that was timed before the tracer existed."""
        sp = Span(len(self.spans), name, start, None, None)
        sp.end = end
        self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str,
             count: Optional[Callable] = None,
             wrap_result: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``.
        ``count(span, args, result)`` records counters; ``wrap_result``
        rewraps a returned value (e.g. a deferred ``finish`` callable)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if count is not None:
                    count(sp, args, out)
            return wrap_result(out) if wrap_result is not None else out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def traced_callable(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- operations and Spark jobs ------------------------------------------
    @contextmanager
    def op(self, spark, kind: str):
        """One timed operation: its own span, op id and Spark job group."""
        sc = spark.sparkContext
        op_id = len(self.ops)
        group = f"perfbench-op{op_id}-{kind}"
        with self.span("trace.op"):
            tr = sc.statusTracker()
            before = set(tr.getJobIdsForGroup(None))
            sc.setJobGroup(group, kind, False)
        self._op = op_id
        try:
            with self.span(f"op.{kind}") as sp:
                yield sp
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            with self.span("trace.op"):
                _wait_listener_bus(sc)
                jobs = set(tr.getJobIdsForGroup(group))
                # jobs started from the program's own worker threads carry
                # no group; ops run one at a time, so new ones are this op's
                jobs |= set(tr.getJobIdsForGroup(None)) - before
            self.ops.append({"id": op_id, "kind": kind, "span": sp.id,
                             "wall_s": sp.end - sp.start,
                             "jobs": sorted(jobs)})

    def stage_metrics(self, spark) -> None:
        """Attach per-op Spark stage metrics (read once, after the run)."""
        sc = spark.sparkContext
        _wait_listener_bus(sc)
        tr = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for o in self.ops:
            m = dict(stages=0, tasks=0, executor_run_s=0.0, jvm_gc_s=0.0,
                     shuffle_read_bytes=0, shuffle_write_bytes=0,
                     input_bytes=0, failed_tasks=0)
            for jid in o["jobs"]:
                info = tr.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        attempts = store.stageData(int(sid), False, None,
                                                   False, None)
                    except Exception:  # skipped stage: never ran, no data
                        continue
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                            continue
                        m["stages"] += 1
                        m["tasks"] += int(sd.numCompleteTasks())
                        m["failed_tasks"] += int(sd.numFailedTasks())
                        m["executor_run_s"] += sd.executorRunTime() / 1e3
                        m["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                        m["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                        m["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                        m["input_bytes"] += int(sd.inputBytes())
            o.update(m)

    # -- derived values ------------------------------------------------------
    def children(self) -> Dict[Optional[int], List[Span]]:
        out: Dict[Optional[int], List[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    @staticmethod
    def covered(intervals, lo: float, hi: float) -> float:
        """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
        tot, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    tot += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            tot += cur_e - cur_s
        return tot

    def self_time(self, sp: Span, kids: Dict[Optional[int], List[Span]]) -> float:
        return (sp.end - sp.start) - self.covered(
            [(c.start, c.end) for c in kids.get(sp.id, [])], sp.start, sp.end)

    def dump(self, path: str, t0: float) -> None:
        kids = self.children()
        with open(path, "w") as f:
            json.dump({
                "spans": [
                    {"id": s.id, "name": s.name, "start": s.start - t0,
                     "end": s.end - t0, "parent": s.parent, "op": s.op,
                     "self": self.self_time(s, kids), **s.count}
                    for s in self.spans],
                "ops": self.ops}, f)


def _wait_listener_bus(sc) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status store holds all jobs and stages started so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


# -- the program's layer boundaries ----------------------------------------

def _blocks_count(sp, _args, pdf) -> None:
    sp.count["blocks"] = len(pdf)
    sp.count["bytes"] = int(sum(
        pdf[c].map(len).sum() for c in ("doc_ids_bin", "tfs_bin", "dls_bin")
        if c in pdf))


def _postings_scored(sp, args, _out) -> None:
    # every kernel takes (term, n, payloads...) block rows first
    sp.count["postings"] = int(sum(r[1] for r in args[0]))


def _postings_decoded(sp, args, _out) -> None:
    # unpack_block(n, ...) decodes one block, the batch forms a list of ns
    ns = args[0]
    sp.count["postings"] = int(sum(ns)) if hasattr(ns, "__iter__") else int(ns)


def install(tr: Tracer) -> None:
    """Wrap every boundary the per-layer metrics are read from."""
    from pysearch import build, codec, score, session
    from pysearch.query import Searcher

    tr.wrap(session, "build_spark", "session.spark_start")
    tr.wrap(Searcher, "__init__", "query.load")
    tr.wrap(Searcher, "search_ids", "query.search_ids")
    tr.wrap(Searcher, "search_ids_many", "query.search_ids_many")
    tr.wrap(Searcher, "search", "query.search")
    tr.wrap(Searcher, "_analyze_query", "query.analyze")
    tr.wrap(Searcher, "_term_dfs", "query.df_lookup")
    tr.wrap(Searcher, "_collect_blocks", "query.fetch", count=_blocks_count)
    for name in [n for n in dir(score) if n.startswith("score_segment_blocks")]:
        tr.wrap(score, name, "score.kernel", count=_postings_scored)
    for name in ("unpack_block", "unpack_blocks_batch",
                 "unpack_positions_batch"):
        tr.wrap(codec, name, "codec.decode", count=_postings_decoded)
    # deferred-commit stages return a finish() the build calls later (the
    # docs finish overlaps the postings stage in a pool thread)
    tr.wrap(build, "build_docs_stage", "build.docs_stage",
            wrap_result=lambda out: (
                (out[0], tr.traced_callable(out[1], "build.docs_stage"),
                 *out[2:]) if isinstance(out, tuple) else out))
    tr.wrap(build, "build_postings_stage", "build.postings_stage",
            wrap_result=lambda out: (
                tr.traced_callable(out, "build.postings_stage")
                if callable(out) else out))
    tr.wrap(build, "build_finalize_stage", "build.finalize")
    tr.wrap(build, "build_index", "build.index")


def install_tail(tr: Tracer) -> None:
    """Wrap the boundaries only the traced tail (tail.py) reaches: the
    write path, and the hybrid search with the Searcher methods it calls,
    so its own time is the span's self time."""
    from pysearch import build, compact, delete, streaming
    from pysearch.query import Searcher

    tr.wrap(Searcher, "refresh", "query.refresh")
    for name in ("_check_fresh", "_catalog_keys", "_score_many_blocks",
                 "_use_local_batch"):
        tr.wrap(Searcher, name, "query." + name.lstrip("_"))
    tr.wrap(streaming, "search_with_arrivals",
            "streaming.search_with_arrivals")
    tr.wrap(build, "build_finalize_delta", "build.finalize_delta")
    tr.wrap(delete, "delete_docs", "delete")
    tr.wrap(compact, "compact_index", "compact")


def per_layer(tr: Tracer, slots: int, lineage: dict, wall: tuple) -> dict:
    """The per-layer metrics of one traced run, as {name: (value, unit)}.

    Query-side values are per single ``search_ids`` operation, Spark
    values per timed operation, build values of the set-up build."""
    kids = tr.children()
    by_op: Dict[int, List[Span]] = {}
    for s in tr.spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    ops = tr.ops
    singles = [o for o in ops if o["kind"] == "single"]
    n1 = max(1, len(singles))

    def total(name, op_list, field=None):
        out = 0.0
        for o in op_list:
            for s in by_op.get(o["id"], []):
                if s.name == name:
                    out += s.count.get(field, 0) if field else s.end - s.start
        return out

    def self_of(name, op_list):
        return sum(tr.self_time(s, kids) for o in op_list
                   for s in by_op.get(o["id"], []) if s.name == name)

    def joinback(o):
        out = 0.0
        for s in by_op.get(o["id"], []):
            if s.name == "query.search":
                inner = [(c.start, c.end) for c in kids.get(s.id, [])
                         if c.name == "query.search_ids"]
                out += (s.end - s.start) - tr.covered(inner, s.start, s.end)
        return out

    searches = [o for o in ops if o["kind"] == "search"]
    batches = [o for o in ops if o["kind"] == "batch"]
    nops = max(1, len(ops))
    spark_sum = {k: sum(o.get(k, 0) for o in ops) for k in (
        "stages", "tasks", "executor_run_s", "jvm_gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "input_bytes", "failed_tasks")}
    op_wall = sum(o["wall_s"] for o in ops)

    named = lambda n: [s for s in tr.spans if s.name == n]  # noqa: E731
    dur = lambda n: sum(s.end - s.start for s in named(n))  # noqa: E731
    # build.* and lineage.* describe the set-up build; the traced tail's
    # append has metrics of its own (tail.py)
    b = named("build.index")[0]
    setup = lambda n: [(s.start, s.end) for s in named(n)  # noqa: E731
                       if b.start <= s.start and s.end <= b.end]
    in_build = lambda n: sum(e - s for s, e in setup(n))  # noqa: E731
    docs_iv, post_iv = setup("build.docs_stage"), setup("build.postings_stage")
    overlap = (tr.covered(docs_iv, *wall) + tr.covered(post_iv, *wall)
               - tr.covered(docs_iv + post_iv, *wall))
    top = [(s.start, s.end) for s in tr.spans if s.parent is None]
    bookkeeping = dur("trace.op")
    return {
        "session.spark_start_s": (dur("session.spark_start"), "s"),
        "query.load_s": (dur("query.load"), "s"),
        "query.analyze_s": (total("query.analyze", singles) / n1, "s"),
        "query.df_lookup_s": (total("query.df_lookup", singles) / n1, "s"),
        "query.fetch_s": (total("query.fetch", singles) / n1, "s"),
        "query.blocks_fetched": (
            total("query.fetch", singles, "blocks") / n1, "count"),
        "query.bytes_fetched": (
            total("query.fetch", singles, "bytes") / n1, "bytes"),
        "query.self_s": (self_of("query.search_ids", singles) / n1, "s"),
        "query.local_ratio": (
            sum(1 for o in singles if not o["jobs"]) / n1, "ratio"),
        "query.joinback_s": (
            sum(joinback(o) for o in searches) / max(1, len(searches)), "s"),
        "score.kernel_s": (total("score.kernel", singles) / n1, "s"),
        "score.kernel_calls": (
            sum(1 for o in singles for s in by_op.get(o["id"], [])
                if s.name == "score.kernel") / n1, "count"),
        "score.postings_scored": (
            total("score.kernel", singles, "postings") / n1, "count"),
        "score.batch_kernel_s": (
            total("score.kernel", batches) / max(1, len(batches)), "s"),
        "codec.decode_s": (total("codec.decode", singles) / n1, "s"),
        "codec.postings_decoded": (
            total("codec.decode", singles, "postings") / n1, "count"),
        "spark.jobs": (sum(len(o["jobs"]) for o in ops) / nops, "count"),
        "spark.jobs_per_query": (
            sum(len(o["jobs"]) for o in singles) / n1, "count"),
        "spark.stages": (spark_sum["stages"] / nops, "count"),
        "spark.tasks": (spark_sum["tasks"] / nops, "count"),
        "spark.executor_run_s": (spark_sum["executor_run_s"] / nops, "s"),
        "spark.jvm_gc_s": (spark_sum["jvm_gc_s"] / nops, "s"),
        "spark.shuffle_read_bytes": (
            spark_sum["shuffle_read_bytes"] / nops, "bytes"),
        "spark.shuffle_write_bytes": (
            spark_sum["shuffle_write_bytes"] / nops, "bytes"),
        "spark.input_bytes": (spark_sum["input_bytes"] / nops, "bytes"),
        "spark.failed_tasks": (spark_sum["failed_tasks"], "count"),
        "spark.slot_busy_ratio": (
            spark_sum["executor_run_s"] / max(1e-9, op_wall * slots), "ratio"),
        "build.index_s": (b.end - b.start, "s"),
        "build.docs_stage_s": (in_build("build.docs_stage"), "s"),
        "build.postings_stage_s": (in_build("build.postings_stage"), "s"),
        "build.overlap_s": (overlap, "s"),
        "build.finalize_s": (in_build("build.finalize"), "s"),
        "lineage.files_written": (lineage["files"], "count"),
        "lineage.bytes_written": (lineage["bytes"], "bytes"),
        "lineage.commits": (lineage["commits"], "count"),
        "trace.overhead_s": (tr.overhead_s + bookkeeping, "s"),
        "trace.unattributed_s": (
            (wall[1] - wall[0]) - tr.covered(top, *wall), "s"),
    }


def index_footprint(index_dir: str) -> dict:
    """Files, bytes and table commit dirs under an index directory."""
    import os

    files = nbytes = commits = 0
    for root, dirs, names in os.walk(index_dir):
        commits += sum(1 for d in dirs if d.startswith("commit-"))
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": nbytes, "commits": commits}
