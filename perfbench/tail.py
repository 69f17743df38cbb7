"""The traced run's untimed tail: the write-side and curation layers.

After the timed window of a ``--trace 1`` run the tail drives once, with
checks, the layers the serve traffic does not reach.  Each workload runs
one half, so that a traced run stays well inside its time limit:

- ingest (serve_local, on its serve index): a seeded arrival batch scored
  with ``streaming.search_with_arrivals``, appended with
  ``build_index(append=True)``, a query per log entry on the long-lived
  ``Searcher`` (the first pays the stale refresh), then ``delete_docs``,
  ``compact_index`` and queries after each.  Each step is checked against
  the contract the program states for it: the appended index answers as
  the hybrid search did; pending deletes drop the deleted docs and leave
  every other score unchanged; the purged index answers as a fresh build
  of the surviving docs;
- curate (serve_spark): one pass of the twelve curation ops over a seeded
  ``documents`` table, each collected and compared with its
  ``oracle_sql()`` in DuckDB.

None of it is timed as an end-to-end metric; its spans give per-layer
metrics only, and it runs after the window, so the serve workloads keep
their set-up and window unchanged.
"""

from __future__ import annotations

import math
import os
from typing import Dict, List, Tuple

import gen
import tracing

ARRIVALS = 200       # arrival batch rows (40 in smoke mode)
ARRIVAL_DUPS = 5     # of them: indexed urls, and as many indexed texts
LOG_QUERIES = 8      # search_with_arrivals query log
DELETES = 5          # urls deleted before compaction
CURATE_DOCS = 1500   # rows of the curation ops' documents table (200 smoke)

CURATE_OPS = ("dd_minhash_pairs", "dd_simhash_band_pairs", "dd_dup_clusters",
              "dd_dedup_survivors", "dd_chunk_dedup", "tx_quality",
              "tx_fingerprints", "tx_decontaminate_top50", "tx_repetition",
              "samp_token_budget", "samp_balance_lang",
              "pipeline_pretrain_filter")


def _answers(searcher, log: Dict[str, str]) -> Dict[str, list]:
    """{qid: [(url, score), ...]}: each query's top-10 ``search_ids``, in
    rank order.  Urls identify docs across indexes whose doc ids differ."""
    hits = {qid: searcher.search_ids(q, k=10) for qid, q in log.items()}
    # the docs are read after the searches: the first search refreshes a
    # Searcher whose index changed
    url_of = dict(searcher.docs.select("doc_id", "url").toPandas()
                  .itertuples(index=False))
    return {qid: [(url_of[d], float(sc))
                  for d, sc in zip(h["doc_id"], h["score"])]
            for qid, h in hits.items()}


def ingest(spark, searcher, index_dir: str, inp, seed: int,
           smoke: bool) -> Tuple[List[str], Dict[str, dict]]:
    """Returns (problems, index footprints before/after each write)."""
    import pandas as pd

    from pysearch import build, compact, delete, streaming
    from pysearch.query import Searcher

    import workloads

    problems: List[str] = []
    batch = gen.arrivals(seed, 40 if smoke else ARRIVALS, inp.vocab,
                         inp.corpus, ARRIVAL_DUPS)
    batch_df = spark.createDataFrame(batch)
    log = dict(sorted(inp.log.items())[:LOG_QUERIES])

    hybrid = streaming.search_with_arrivals(searcher, batch_df, log, k=10)
    want: Dict[str, list] = {qid: [] for qid in log}
    for r in hybrid.itertuples(index=False):
        want[r.qid].append((r.url, float(r.score)))
    new_urls = set(batch["url"]) - set(inp.corpus["url"])
    if not any(u in new_urls for hits in want.values() for u, _ in hits):
        problems.append("no arrival doc ranked in any hybrid top-10")

    fp = {"before_append": tracing.index_footprint(index_dir)}
    build.build_index(spark, batch_df, index_dir, append=True,
                      segment_size=workloads.SEGMENT_SIZE)
    fp["after_append"] = tracing.index_footprint(index_dir)

    # the answer after the flush == the hybrid answer before it
    appended = _answers(searcher, log)
    for qid in log:
        if appended[qid] != want[qid]:
            problems.append(f"post-append search_ids != search_with_arrivals "
                            f"for {qid}")

    # pending deletes: the deleted urls vanish, every other hit keeps its
    # score bit for bit (corpus stats change only at the purge)
    gone = [u for hits in appended.values() for u, _ in hits][:DELETES]
    n = delete.delete_docs(spark, index_dir, urls=gone)
    if n != len(gone):
        problems.append(f"delete_docs marked {n} of {len(gone)} urls")
    for qid, hits in _answers(searcher, log).items():
        kept = dict(appended[qid])
        if ({u for u, _ in hits} & set(gone)
                or any(kept.get(u, sc) != sc for u, sc in hits)):
            problems.append(f"hits after delete_docs wrong for {qid}")

    files = _files(index_dir)
    compact.compact_index(spark, index_dir)
    fp["compact_rewritten"] = {"bytes": sum(
        size for path, size in _files(index_dir).items() if path not in files)}

    # after the purge: the same hits, bit for bit, as a fresh build of
    # the surviving docs
    purged = _answers(searcher, log)
    left = set(searcher.docs.select("url").toPandas()["url"])
    if left & set(gone):
        problems.append("compact_index left deleted docs in the docs table")
    offered = pd.concat([inp.corpus, batch]).drop_duplicates("url")
    fresh_dir = os.path.join(os.path.dirname(index_dir), "fresh")
    build.build_index(spark, spark.createDataFrame(
        offered[offered["url"].isin(left)]), fresh_dir,
        segment_size=workloads.SEGMENT_SIZE)
    if purged != _answers(Searcher(spark, fresh_dir), log):
        problems.append("hits after compact_index != a fresh build of the "
                        "surviving docs")
    return problems, fp


def _files(root: str) -> Dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def _normalize(rows, columns) -> list:
    """Order-insensitive rows with columns sorted by name; floats to 9
    significant digits and typed, so 1.0 and 1 do not compare equal."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "f:nan" if math.isnan(v) else f"f:{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def curate(spark, tr, work: str, seed: int, vocab,
           smoke: bool) -> Tuple[List[str], Dict[str, int]]:
    """One traced pass of the curation ops; returns the problems found and
    the rows each op returned."""
    import duckdb
    import numpy as np

    from pysearch.ops import OPS

    sf_dir = os.path.join(work, "curate")
    os.makedirs(sf_dir)
    gen.documents(seed, 200 if smoke else CURATE_DOCS, vocab).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False)
    order = list(CURATE_OPS)
    np.random.default_rng([seed, 23]).shuffle(order)
    rows = {}
    for name in order:
        with tr.span(f"ops.{name}"):
            sdf = OPS[name][0](spark, sf_dir)
            rows[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])

    problems = []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'documents.parquet')}'")
    for name in CURATE_OPS:
        rel = con.sql(OPS[name][1])
        cols, got = rows[name]
        want_cols = [d[0] for d in rel.description]
        if (sorted(cols) != sorted(want_cols) or _normalize(got, cols)
                != _normalize(rel.fetchall(), want_cols)):
            problems.append(f"{name} rows != its oracle_sql in DuckDB")
    con.close()
    return problems, {name: len(rows[name][1]) for name in CURATE_OPS}


def metrics(tr, fp: Dict[str, dict]) -> dict:
    """The tail's per-layer metrics, as {name: (value, unit)}.  ``fp`` is
    empty when the run drove no ingest; a layer the run did not drive
    reads 0."""
    kids = tr.children()
    named = lambda n: [s for s in tr.spans if s.name == n]  # noqa: E731
    dur = lambda n: sum(s.end - s.start for s in named(n))  # noqa: E731
    # build.index spans: the set-up build, the append, the check's fresh
    # build of the survivors
    builds = named("build.index")
    append = builds[1].end - builds[1].start if fp else 0.0
    grew = lambda k: (fp["after_append"][k]  # noqa: E731
                      - fp["before_append"][k] if fp else 0)
    out = {
        "query.refresh_s": (
            dur("query.refresh") / max(1, len(named("query.refresh"))), "s"),
        "build.append_s": (append, "s"),
        "build.finalize_delta_s": (dur("build.finalize_delta"), "s"),
        "lineage.append_files_written": (grew("files"), "count"),
        "lineage.append_bytes_written": (grew("bytes"), "bytes"),
        "lineage.append_commits": (grew("commits"), "count"),
        "streaming.hybrid_s": (dur("streaming.search_with_arrivals"), "s"),
        "streaming.hybrid_self_s": (
            sum(tr.self_time(s, kids)
                for s in named("streaming.search_with_arrivals")), "s"),
        "delete.s": (dur("delete"), "s"),
        "compact.s": (dur("compact"), "s"),
        "compact.bytes_rewritten": (
            fp["compact_rewritten"]["bytes"] if fp else 0, "bytes"),
    }
    for name in CURATE_OPS:
        out[f"ops.{name}_s"] = (dur(f"ops.{name}"), "s")
    return out
