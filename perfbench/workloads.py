"""The workloads, their seeded inputs and their per-layer readout.

Every serving workload is a closed loop with one client and no think
time: serving is in-process, so the caller waits for each answer.

* ingest      — one-shot builds of a seeded 20k-page corpus, each
                followed by a probe stream on a fresh searcher over it;
                the traced run adds one live cycle (see live_cycle).
* serve_hot   — a Zipf-skewed stream over a fixed pool of 100 queries in
                six families; the pool's postings fit the posting cache.
* serve_cold  — a fixed set of uniform 1-3 term queries and 3-digit
                ``tok`` prefixes, in whole passes on fresh searchers:
                first-touch term lookup, posting read and decode; the
                cache and BMW pruning are bypassed.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

import numpy as np

from perfbench import common, oracle
from perfbench.trace import Tracer, fold_event_log

SERVE_DOCS = 48_000  # pages; doc index 7*i, so warc_ts spans 4 UTC days
SERVE_STRIDE = 7
LIVE_BASE_DOCS = 5_000
LIVE_BASE_START = 3_000_000
INGEST_DOCS = 20_000
WARM_DOCS = 5_000
PROBES_PER_STEP = 100  # queries after each build
CHECKED_PER_STEP = 15  # of those, answers checked against the oracle
COLD_POOL = 100  # serve_cold queries, served whole in every pass
HOT_SETUP_ROUNDS = 3  # set-up passes over the pool; setup_s takes the median
COLD_STARTS = 5  # serve_cold set-ups, each in a fresh interpreter


# ------------------------------------------------------------------ inputs

def serve_indices() -> np.ndarray:
    return np.arange(SERVE_DOCS, dtype=np.int64) * SERVE_STRIDE


def live_base_indices() -> np.ndarray:
    return LIVE_BASE_START + np.arange(LIVE_BASE_DOCS, dtype=np.int64)


def ingest_indices(seed: int) -> np.ndarray:
    return 10_000_000 + (seed % 100_000) * INGEST_DOCS + np.arange(INGEST_DOCS)


def hot_pool() -> list[dict]:
    """The fixed serve_hot pool: reference queries plus the HEAD/MID/RARE
    term probes, in all six query families."""
    from data_prepper_spark.corpus import (
        HEAD_TERMS as H,
        MID_TERMS as M,
        RARE_TERMS as R,
        reference_queries,
    )

    ref = reference_queries()
    ops = [{"kind": "match", "q": q["query_text"], "k": q["k"]} for q in ref[:40]]
    ops += [
        {"kind": "bool", "must": [R[i % 5], H[i]], "should": [M[i % 8]],
         "must_not": [M[(i + 3) % 8]], "k": 10}
        for i in range(10)
    ]
    ops += [
        {"kind": "bool", "must": [M[i], H[i + 1]], "should": [H[i + 2]],
         "must_not": [], "k": 10}
        for i in range(5)
    ]
    ops += [
        {"kind": "prefix", "p": p, "k": 10}
        for p in ["tok00", "tok01", "tok012", "tok45", "tok499",
                  "zanz", "quix", "spar", "ind", "mel"]
    ]
    since = ["2025-01-01T12:00:00", "2025-01-02T00:00:00", "2025-01-02T18:00:00",
             "2025-01-03T06:00:00", "2025-01-03T20:00:00"]
    ops += [
        {"kind": "filtered", "q": q, "k": 10, "since": since[i % 5]}
        for i, q in enumerate(["spark index", "web search engine", "zanzibar the",
                               "data query", "tok0042 tok0043 the", "the of",
                               "melange page", "quixote", "engine a", "abyssal of"])
    ]
    ops += [
        {"kind": "agg", "q": q}
        for q in ["spark", "zanzibar", "web page", "quixote melange", "index the",
                  "tok0042", "farolito", "query engine", "abyssal", "data"]
    ]
    ops += [{"kind": "family", "q": q["query_text"], "k": 10} for q in ref[:10]]
    ops += [
        {"kind": "family", "q": q, "k": 10, "start": a, "end": z}
        for q, a, z in [("spark index", "2025.01.02", None),
                        ("zanzibar the", None, "2025.01.02"),
                        ("web search engine", "2025.01.02", "2025.01.03"),
                        ("the of", "2025.01.03", None),
                        ("data query", "2025.01.01", "2025.01.01")]
    ]
    return ops


def zipf_stream(pool: list[dict], seed: int, deck: int = 500):
    """Endless Zipf(1.0)-skewed draws from *pool*, dealt from shuffled
    decks in which each query appears in proportion to its weight, so
    every run serves the same mix whatever its length; the popularity
    order is fixed and the seed only shuffles the decks."""
    order = np.random.default_rng(0).permutation(len(pool))
    w = 1.0 / np.arange(1, len(pool) + 1)
    counts = np.maximum(1, np.round(deck * w / w.sum()).astype(int))
    cards = np.repeat(order, counts)
    rng = np.random.default_rng([seed, 1])
    while True:
        for i in rng.permutation(cards):
            yield pool[i]


def uniform_stream(seed: int, salt: int):
    """Endless queries in a fixed five-slot pattern: 1, 2, 2 and 3 terms
    drawn uniformly from the 5,000-term vocabulary, then one 3-digit
    ``tok`` prefix (which expands to up to ten terms).  The fixed shares
    keep the median inside the 2-term queries and the 90th percentile
    inside the prefixes, rather than on a boundary between two kinds."""
    from data_prepper_spark.corpus import VOCAB

    rng = np.random.default_rng([seed, salt])
    while True:
        for n in (1, 2, 2, 3):
            terms = VOCAB[rng.integers(0, len(VOCAB), n)]
            yield {"kind": "match", "q": " ".join(terms.tolist()), "k": 10}
        yield {"kind": "prefix", "p": f"tok{int(rng.integers(10, 500)):03d}", "k": 10}


def cold_pool() -> list[dict]:
    """The fixed serve_cold query set: the first COLD_POOL queries of a
    uniform stream with a fixed seed.  Every run serves all of it in whole
    passes, so runs of different seeds time the same queries and differ
    only in their order."""
    stream = uniform_stream(0, 2)
    return [next(stream) for _ in range(COLD_POOL)]


def live_probe_pool() -> list[dict]:
    from data_prepper_spark.corpus import reference_queries

    return [{"kind": "match", "q": q["query_text"], "k": 10} for q in reference_queries()[:24]]


# ------------------------------------------------------- engine and oracle

def _since(op) -> _dt.datetime:
    return _dt.datetime.fromisoformat(op["since"])


def serve(op: dict, searcher, family=None):
    """Run one query op against the engine's driver-mode serving path."""
    from data_prepper_spark.index.boolquery import search_bool, search_prefix
    from data_prepper_spark.index.filtered import match_agg_date_histogram, search_filtered

    kind = op["kind"]
    if kind == "match":
        return searcher.search(op["q"], k=op["k"])
    if kind == "bool":
        return search_bool(searcher, must=op["must"], should=op["should"],
                           must_not=op["must_not"], k=op["k"])
    if kind == "prefix":
        return search_prefix(searcher, op["p"], k=op["k"])
    if kind == "filtered":
        return search_filtered(searcher, op["q"], [("warc_ts", ">=", _since(op))], k=op["k"])
    if kind == "agg":
        return match_agg_date_histogram(searcher, op["q"], "warc_ts", "day")
    if kind == "family":
        return family.search(op["q"], k=op["k"], start=op.get("start"), end=op.get("end"))
    raise ValueError(f"unknown op kind {kind!r}")


def _period_filter(op) -> str:
    day = oracle.DAY_US
    conds = []
    if op.get("start"):
        conds.append(f"ts_us >= {oracle.to_us(_dt.datetime.strptime(op['start'], '%Y.%m.%d'))}")
    if op.get("end"):
        conds.append(f"ts_us < {oracle.to_us(_dt.datetime.strptime(op['end'], '%Y.%m.%d')) + day}")
    return " AND ".join(conds) or "TRUE"


def expected(op: dict, orc: oracle.BM25Oracle):
    """The oracle's answer to *op*, trimmed to what a top-k check needs."""
    kind = op["kind"]
    if kind == "agg":
        return [list(x) for x in orc.date_histogram(op["q"])]
    if kind == "match":
        full = orc.match(op["q"])
    elif kind == "bool":
        full = orc.ranked(op["must"], op["should"], op["must_not"])
    elif kind == "prefix":
        full = orc.ranked(should=orc.prefix_terms(op["p"]))
    elif kind == "filtered":
        full = orc.match(op["q"], extra_filter=f"d.ts_us >= {oracle.to_us(_since(op))}")
    elif kind == "family":
        sub = oracle.BM25Oracle(orc.con, orc.docs, orc.post, doc_filter=_period_filter(op))
        full = sub.match(op["q"])
    else:
        raise ValueError(f"unknown op kind {kind!r}")
    return [list(x) for x in oracle.trim(full, op["k"])]


def verdict(op: dict, got, exp) -> str | None:
    if op["kind"] == "agg":
        return None if [list(x) for x in got] == [list(x) for x in exp] else "histogram differs"
    return oracle.compare_topk([(int(d), float(s)) for d, s in got],
                               [(int(d), float(s)) for d, s in exp], op["k"])


def op_key(op: dict) -> str:
    return json.dumps(op, sort_keys=True)


# -------------------------------------------------------------- the run

class Run:
    """State of one benchmark run: counters, latencies and the readout."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, t_process: float, event_log: str | None = None):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.t_process = t_process  # perf_counter reading at process start
        self.event_log = event_log
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # (perf_counter at start, seconds) of each timed operation
        self.op_s: list[tuple[float, float]] = []  # the workload's unit operation
        self.query_s: list[tuple[float, float]] = []  # every timed query
        self.query_by_kind: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.overhead_s: dict[bool, list[float]] = {False: [], True: []}  # by traced
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.tracer = Tracer() if trace else None
        self.build_windows: list[tuple[str, float, float]] = []  # (phase, epoch start, end)
        self.peak_rss_mb: tuple[float, float] | None = None  # (driver, JVM + workers)
        self.n_queries = 0
        self.host = common.HostSpeed({"ingest": "cpu", "serve_hot": "serial",
                                      "serve_cold": "parallel"}[workload])

    def setup_done(self, seconds: float | None = None) -> None:
        """Set-up ends: record setup_s (*seconds*, or the time since process
        start) and restart the peak-RSS count for the timed region."""
        self.setup_s = time.perf_counter() - self.t_process if seconds is None else seconds
        self.host.sample(5)
        common.reset_peak_rss()

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(why)

    def checked(self, op, got, exp) -> None:
        """Count a finished op against its oracle answer (*exp* None: no
        oracle answer for this op, it only has to not raise)."""
        self.attempted += 1
        if isinstance(got, Exception):
            self.fail(f"{op_key(op)}: raised {got!r}")
        elif exp is not None:
            why = verdict(op, got, exp)
            if why:
                self.fail(f"{op_key(op)}: {why}")

    def timed_query(self, op, searcher, family=None, record=True, root="query"):
        """Serve *op* and time it; while spans are installed, inside a root
        span named *root*.<kind>."""
        tr = self.tracer if (self.tracer and self.tracer.active) else None
        self.n_queries += 1
        if tr:
            tr.op = f"{root}{self.n_queries}"
        t0 = time.perf_counter()
        i = tr.begin(f"{root}.{op['kind']}") if tr else None
        try:
            got = serve(op, searcher, family)
        except Exception as e:  # counted as a failed op, the run goes on
            got = e
        finally:
            if tr:
                tr.end(i)
        dt = time.perf_counter() - t0
        if record:
            self.query_s.append((t0, dt))
            self.query_by_kind[op["kind"]].append((t0, dt))
        return got, dt


# ------------------------------------------------------------ wrappers

def _rows_bytes(rows) -> float:
    n = 0
    for r in rows:
        for v in r.values():
            if isinstance(v, (bytes, bytearray)):
                n += len(v)
    return n


def install_serving_spans(tr: Tracer) -> None:
    """Spans at each serving-layer boundary, wrapped where the engine's
    call sites look the function up."""
    from data_prepper_spark.index import boolquery as BQ
    from data_prepper_spark.index import family as FA
    from data_prepper_spark.index import filtered as FI
    from data_prepper_spark.index import query as Q

    S = Q.BM25Searcher
    tr.wrap(S, "__init__", "searcher.open")
    tr.wrap(S, "term_stats", "term_lookup", count=lambda a, kw, o: {"terms": len(a[1])})
    tr.wrap(S, "_pruned_slice_rows", "posting_fetch", count=lambda a, kw, o: {"terms": len(a[1])})
    tr.wrap(S, "_read_slice_rows", "posting_read",
            count=lambda a, kw, o: {"terms": len(a[1]), "bytes": _rows_bytes(o)})
    tr.wrap(S, "_score_pruned", "score_loop")
    for mod in (Q, BQ, FI):
        for name in ("decode_slice", "decode_slice_lazy"):
            if name in vars(mod):
                tr.wrap(mod, name, "decode")
        for name in ("score_bmw_lazy", "score_bmw", "score_brute"):
            if name in vars(mod):
                tr.wrap(mod, name, "score", count=lambda a, kw, o: {"candidates": len(o[0])})
        if "topk_select" in vars(mod):
            tr.wrap(mod, "topk_select", "topk")
        if "mask_term_slice" in vars(mod):
            tr.wrap(mod, "mask_term_slice", "mask")
    tr.wrap(BQ, "search_bool", "bool")
    tr.wrap(BQ, "expand_prefix", "prefix_expand", count=lambda a, kw, o: {"terms": len(o)})
    tr.wrap(FI._DocValues, "col", "docvalues")
    tr.wrap(FI._DocValues, "ids", "docvalues")
    tr.wrap(FI, "search_filtered", "filtered")
    tr.wrap(FI, "match_agg_date_histogram", "agg")
    tr.wrap(FA.FamilySearcher, "search", "family")


# per-query self time of each serving layer: metric -> span name
SERVING_MS = {
    "term_lookup.ms": "term_lookup",
    "posting_fetch.ms": "posting_fetch",
    "posting_read.ms": "posting_read",
    "decode.ms": "decode",
    "score_loop.ms": "score_loop",
    "score.ms": "score",
    "topk.ms": "topk",
    "bool.ms": "bool",
    "prefix_expand.ms": "prefix_expand",
    "docvalues.load_ms": "docvalues",
    "filtered.ms": "filtered",
    "agg.ms": "agg",
    "family.ms": "family",
}


def serving_readout(run: Run) -> dict:
    """Per-query layer self times and counts from the traced queries."""
    tr = run.tracer
    roots = {s.name for s in tr.spans if s.name.startswith("query.")}
    agg = tr.by_name(roots)
    n_q = sum(agg[r]["calls"] for r in roots) if roots else 0
    per = (lambda v: v / n_q) if n_q else (lambda v: 0.0)
    g = lambda name, key="self_s": agg.get(name, {}).get(key, 0.0)  # noqa: E731
    c = lambda name, key: agg.get(name, {}).get("counts", {}).get(key, 0.0)  # noqa: E731
    out = {}
    for metric, span in SERVING_MS.items():
        out[metric] = per(g(span)) * 1e3
    out["term_lookup.calls"] = per(g("term_lookup", "calls"))
    out["posting_read.terms"] = per(c("posting_read", "terms"))
    out["posting_read.bytes"] = per(c("posting_read", "bytes"))
    requested = c("posting_fetch", "terms")
    out["posting_cache.hit_ratio"] = (
        1.0 - c("posting_read", "terms") / requested if requested else 0.0
    )
    out["decode.calls"] = per(g("decode", "calls"))
    out["score.calls"] = per(g("score", "calls"))
    out["score.candidates_out"] = per(c("score", "candidates"))
    out["prefix_expand.terms"] = per(c("prefix_expand", "terms"))
    # the family fold: per-period scoring calls under family searches
    fam = tr.by_name({"family"})
    n_fam = agg.get("family", {}).get("calls", 0)
    out["family.period_calls"] = fam.get("score_loop", {}).get("calls", 0) / n_fam if n_fam else 0.0
    out["family.fold_ms"] = (
        fam.get("score_loop", {}).get("wall_s", 0.0) / n_fam * 1e3 if n_fam else 0.0
    )
    root_wall = sum(agg[r]["wall_s"] for r in roots)
    root_self = sum(agg[r]["self_s"] for r in roots)
    out["query.layer_cover"] = 1.0 - root_self / root_wall if root_wall else 0.0
    opens = [s for s in tr.spans
             if s.name == "searcher.open" and not str(s.op).startswith("live.")]
    out["searcher.open_ms"] = (
        sum(s.end - s.start for s in opens) / len(opens) * 1e3 if opens else 0.0
    )
    out["trace.traced_queries"] = float(n_q)
    return out


# ---------------------------------------------------------------- serving

def run_serve_hot(run: Run, fx) -> None:
    from data_prepper_spark.index.family import FamilySearcher
    from data_prepper_spark.index.query import BM25Searcher

    with open(fx.pool_answers) as f:
        answers = json.load(f)
    pool = hot_pool()
    # set-up: open the searchers and serve every pool query once, so the
    # pool's postings, decode memos and docvalues are resident; the answers
    # are checked here.  Done HOT_SETUP_ROUNDS times on fresh searchers;
    # setup_s is the time before the first round plus the median round.
    t_first = time.perf_counter()
    rounds = []
    for _ in range(HOT_SETUP_ROUNDS):
        run.host.sample(3)
        t0 = time.perf_counter()
        searcher = BM25Searcher(None, fx.serve_index)
        family = FamilySearcher(None, fx.family_root)
        for op in pool:
            got, _ = run.timed_query(op, searcher, family, record=False)
            run.checked(op, got, answers[op_key(op)])
        rounds.append(time.perf_counter() - t0)
    first: dict[str, object] = {}
    stream = zipf_stream(pool, run.seed)
    run.setup_done(t_first - run.t_process + common.median(rounds))

    def leg(seconds):
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            run.host.tick()
            op = next(stream)
            got, dt = run.timed_query(op, searcher, family)
            key = op_key(op)
            # the first timed answer of each query against the oracle, the
            # rest against that one
            run.checked(op, got, answers[key] if key not in first else first[key])
            if not isinstance(got, Exception):
                first.setdefault(key, [list(x) for x in got])

    _serving_legs(run, leg, lambda seconds: trace_overhead(
        run, stream, lambda: searcher, family, seconds))
    run.peak_rss_mb = common.peak_rss_mb()


def run_serve_cold(run: Run, fx) -> None:
    from data_prepper_spark.index.query import BM25Searcher

    pool = cold_pool()
    with open(fx.cold_pool_answers) as f:
        answers = json.load(f)
    order = np.random.default_rng([run.seed, 2])
    # set-up is a cold start; the median of COLD_STARTS of them, each in a
    # fresh interpreter with its own first query
    starts = uniform_stream(run.seed, 5)
    run.setup_done(common.median([_cold_start(run, fx.serve_index, next(starts))
                                  for _ in range(COLD_STARTS)]))

    def leg(seconds):
        # whole passes over the pool, each on a fresh searcher (nothing
        # cached) in a seeded order, until the window has passed
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            searcher = BM25Searcher(None, fx.serve_index)
            for i in order.permutation(len(pool)):
                run.host.tick()
                got, _ = run.timed_query(pool[i], searcher)
                run.checked(pool[i], got, answers[op_key(pool[i])])

    _serving_legs(run, leg, lambda seconds: trace_overhead(
        run, uniform_stream(run.seed, 6), lambda: BM25Searcher(None, fx.serve_index), None,
        seconds))
    run.peak_rss_mb = common.peak_rss_mb()


_COLD_START = """
import sys
from data_prepper_spark.index.boolquery import search_prefix
from data_prepper_spark.index.query import BM25Searcher
s = BM25Searcher(None, sys.argv[1])
s.search(sys.argv[2], k=10) if sys.argv[3] == "match" else search_prefix(s, sys.argv[2], k=10)
print("ready", flush=True)
"""


def _cold_start(run: Run, index_dir: str, op: dict) -> float:
    """Seconds from starting a fresh interpreter until it has imported the
    engine, opened a searcher over *index_dir* and answered *op*."""
    run.host.sample(3)
    t0 = time.perf_counter()
    p = subprocess.Popen(
        [sys.executable, "-c", _COLD_START, index_dir, op.get("q") or op["p"], op["kind"]],
        cwd=common.ROOT, stdout=subprocess.PIPE, text=True)
    line = p.stdout.readline()
    dt = time.perf_counter() - t0
    p.stdout.close()
    p.wait(timeout=60)
    run.attempted += 1
    if line.strip() != "ready" or p.returncode:
        run.fail(f"cold start {op_key(op)}: exit {p.returncode}")
    return dt


def _serving_legs(run: Run, leg, overhead) -> None:
    """Untraced: one leg of run.seconds.  Traced: the same leg with spans
    installed, then *overhead(seconds)* measures what the spans cost."""
    if not run.trace:
        leg(run.seconds)
        return
    install_serving_spans(run.tracer)
    try:
        leg(run.seconds)
    finally:
        run.tracer.restore()
    overhead(run.seconds / 3)


def trace_overhead(run: Run, ops, make_searcher, family=None, seconds=None) -> None:
    """Tracing cost on equal footing: each op of *ops* is served once
    untraced and once traced, in alternating order, on two searchers from
    *make_searcher* that have served the same queries (serve_hot's one
    warm searcher serves both), until *ops* ends or *seconds* pass.
    trace.overhead_ms is the difference of the two medians; the spans of
    these queries are dropped."""
    tr = run.tracer
    keep = len(tr.spans)
    searchers = {False: make_searcher(), True: make_searcher()}
    t_end = time.perf_counter() + seconds if seconds else float("inf")
    for i, op in enumerate(ops):
        if time.perf_counter() >= t_end:
            break
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                install_serving_spans(tr)
            try:
                _, dt = run.timed_query(op, searchers[traced], family, record=False)
            finally:
                if traced:
                    tr.restore()
            run.overhead_s[traced].append(dt)
    del tr.spans[keep:]


# ------------------------------------------------------------------ ingest

def run_ingest(run: Run, fx) -> None:
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    cfg = IndexConfig(**common.INDEX_CFG)
    # the host's speed is sampled on a background thread all along: Spark
    # holds every core, and the driver waits for it
    with run.host.in_background():
        spark = fx.spark()
        corpus = common.write_pages(os.path.join(run.work, "corpus.parquet"),
                                    ingest_indices(run.seed))
        warm = common.write_pages(os.path.join(run.work, "warm.parquet"),
                                  ingest_indices(run.seed)[:WARM_DOCS])
        # JIT, codegen and Python-worker start-up land here, not in the rate
        build_oneshot(spark, spark.read.parquet(warm), os.path.join(run.work, "warm"), cfg,
                      field_cols=("lang", "warc_ts"))
        stream = uniform_stream(run.seed, 3)
        run.setup_done()

        builds, served = [], []
        t0 = time.perf_counter()
        # whole builds only: start another while it can end inside the window
        while not builds or time.perf_counter() - t0 + run.op_s[-1][1] < run.seconds:
            out = os.path.join(run.work, f"idx{len(builds)}")
            epoch0 = time.time()
            t1 = time.perf_counter()
            stats = build_oneshot(spark, spark.read.parquet(corpus), out, cfg,
                                  field_cols=("lang", "warc_ts"))
            wall = time.perf_counter() - t1
            run.op_s.append((t1, wall))
            builds.append(_build_facts(out, stats, wall, epoch0, run))
            served += _probe(run, out, stream)
        run.peak_rss_mb = common.peak_rss_mb()

    con = oracle.connect()
    oracle.load_pages(con, "ing", corpus)
    want = oracle.build_stats(con, "ing")
    orc = oracle.BM25Oracle(con, "ing_docs", "ing_post")
    for i, b in enumerate(builds):
        run.attempted += 1
        why = _check_build(b["dir"], b["stats"], want)
        if why:
            run.fail(f"build {i}: {why}")
    for op, got, check in served:
        run.checked(op, got, expected(op, orc) if check else None)
    con.close()
    run.report["build_docs_per_s"] = (
        want["n_docs"] / common.median([s for _, s in run.op_s]), "docs/s")
    run.report["index_bytes_per_doc"] = (
        common.median([b["index_bytes"] for b in builds]) / want["n_docs"], "B/doc")
    run.report["build_docs"] = (want["n_docs"], "docs")
    if run.trace:
        run.layers.update(_build_layers(run, builds, corpus, cfg, want))
        live_cycle(run, fx, spark, cfg)
    fx.stop_spark()
    if run.trace:
        run.layers.update(_spark_layers(run, len(builds)))


def _probe(run: Run, index_dir: str, stream, n: int = PROBES_PER_STEP) -> list:
    """A fresh searcher over *index_dir* answers *n* queries, traced in a
    traced run, which then measures the tracing cost on the same queries.
    Returns (op, answer, to_check) with the first CHECKED_PER_STEP marked."""
    from data_prepper_spark.index.query import BM25Searcher

    ops = [next(stream) for _ in range(n)]
    if run.trace:
        install_serving_spans(run.tracer)
    try:
        searcher = BM25Searcher(None, index_dir)
        out = [(op, run.timed_query(op, searcher)[0], i < CHECKED_PER_STEP)
               for i, op in enumerate(ops)]
    finally:
        if run.trace:
            run.tracer.restore()
    if run.trace:
        trace_overhead(run, ops, lambda: BM25Searcher(None, index_dir))
    return out


def _check_build(index_dir: str, stats: dict, want: dict) -> str | None:
    import pyarrow.dataset as pads

    if int(stats["n_docs"]) != want["n_docs"]:
        return f"n_docs {stats['n_docs']} != {want['n_docs']}"
    if int(stats["total_tokens"]) != want["total_tokens"]:
        return f"total_tokens {stats['total_tokens']} != {want['total_tokens']}"
    ts = pads.dataset(f"{index_dir}/termstats", partitioning="hive").to_table(
        columns=["term", "df"])
    got = dict(zip(ts["term"].to_pylist(), ts["df"].to_pylist()))
    if got != want["df"]:
        bad = sorted(set(got.items()) ^ set(want["df"].items()))[:3]
        return f"per-term df differs, e.g. {bad}"
    return None


def _build_facts(out: str, stats: dict, wall: float, epoch0: float, run: Run) -> dict:
    timings = json.loads(stats["timings"])
    t = epoch0
    for name in ("t_tokens", "t_docmeta", "t_encode", "t_termstats"):
        run.build_windows.append((name[2:], t, t + timings[name]))
        t += timings[name]
    return {
        "wall": wall,
        "timings": timings,
        "index_bytes": common.du(out),
        "postings_bytes": common.du(os.path.join(out, "postings")),
        "docmeta_bytes": common.du(os.path.join(out, "docmeta")),
        "staging_bytes": common.du(os.path.join(out, "_staging")),
        "dir": out,
        "stats": stats,
    }


def _build_layers(run: Run, builds: list[dict], corpus: str, cfg, want: dict) -> dict:
    """Build-stage times from the returned timings, bytes from the index
    directory, and the UDF split derived from in-process kernel timings
    on a fixed sample (scaled to the corpus, divided by the cores)."""
    import pyarrow.dataset as pads

    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    st = {k: mean([b["timings"][k] for b in builds])
          for k in ("t_tokens", "t_docmeta", "t_encode", "t_termstats")}
    postings = sum(want["df"].values())
    slices = pads.dataset(f"{builds[-1]['dir']}/postings", partitioning="hive").count_rows()
    tok_k, enc_k = _kernel_estimates(corpus, cfg, want, postings)
    cores = common.nproc()
    pb = mean([b["postings_bytes"] for b in builds])
    return {
        "tokenize.stage_s": st["t_tokens"],
        "tokenize.kernel_s": tok_k,
        "tokenize.udf_overhead_s": st["t_tokens"] - tok_k / cores,
        "tokenize.tokens_out": float(postings),
        "docmeta.stage_s": st["t_docmeta"],
        "docmeta.bytes": mean([b["docmeta_bytes"] for b in builds]),
        "encode.stage_s": st["t_encode"],
        "encode.kernel_s": enc_k,
        "encode.udf_overhead_s": st["t_encode"] - enc_k / cores,
        "encode.slices_out": float(slices),
        "postings.bytes": pb,
        "codec.bytes_per_posting": pb / postings if postings else 0.0,
        "termstats.stage_s": st["t_termstats"],
        "staging.bytes": mean([b["staging_bytes"] for b in builds]),
        "build.wall_s": mean([b["wall"] for b in builds]),
        "build.phase_cover": mean([sum(b["timings"].values()) / b["wall"] for b in builds]),
    }


def _kernel_estimates(corpus: str, cfg, want: dict, postings: int,
                      sample: int = 1000) -> tuple[float, float]:
    """Seconds the tokenize and encode kernels would take in one process
    over the whole corpus, from timing them on the first *sample* pages."""
    import pandas as pd
    import pyarrow.parquet as pq

    from data_prepper_spark.hashing import pmod, xxh64_signed
    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.textproc import extract_text_series, tokenize_counts_arrow

    pages = pq.read_table(corpus, columns=["url", "html", "lang"]).to_pandas()
    pages = pages[pages["lang"] == cfg.lang].head(sample).reset_index(drop=True)
    t0 = time.perf_counter()
    texts = extract_text_series(pages["html"])
    owners, terms, tfs, lens = tokenize_counts_arrow(texts)
    tok_s = (time.perf_counter() - t0) * want["n_docs"] / len(pages)

    doc_ids = np.array([xxh64_signed(u) for u in pages["url"]], dtype=np.int64)
    uniq = {t: xxh64_signed(t) for t in set(terms.tolist())}
    term_ids = np.array([uniq[t] for t in terms.tolist()], dtype=np.int64)
    d = doc_ids[owners]
    tokens = pd.DataFrame({
        "term_id": term_ids,
        "term_bucket": [pmod(int(t), cfg.n_buckets) for t in term_ids],
        "range_id": ((d >> (64 - cfg.range_bits)) + (1 << (cfg.range_bits - 1))).astype(np.int32),
        "doc_id": d,
        "tf": tfs.astype(np.int32),
        "dl": lens[owners].astype(np.int32),
    })
    avgdl = float(lens.mean())
    encode = encode_slice_fn(avgdl, cfg.k1, cfg.b, cfg.block_size, cfg.codec)
    groups = [g.reset_index(drop=True) for _, g in tokens.groupby(["term_bucket", "range_id"])]
    t0 = time.perf_counter()
    for g in groups:
        encode(g)
    enc_s = (time.perf_counter() - t0) * postings / len(tokens)
    return tok_s, enc_s


def _spark_layers(run: Run, n_builds: int) -> dict:
    """Spark task totals per build phase (per build) and for the live
    fold, from the event log."""
    folded = fold_event_log(run.event_log, run.build_windows)
    out = {}
    tot = dict.fromkeys(("run_s", "cpu_s", "gc_s", "tasks"), 0.0)
    for phase in ("tokens", "docmeta", "encode", "termstats"):
        f = folded.get(phase, {})
        out[f"spark.{phase}.run_s"] = f.get("run_s", 0.0) / n_builds
        for k in tot:
            tot[k] += f.get(k, 0.0) / n_builds
    out["spark.fold.run_s"] = folded.get("fold", {}).get("run_s", 0.0)
    out["spark.executor_run_s"] = tot["run_s"]
    out["spark.executor_cpu_s"] = tot["cpu_s"]
    out["spark.gc_s"] = tot["gc_s"]
    out["spark.tasks"] = tot["tasks"]
    out["encode.shuffle_write_bytes"] = folded.get("encode", {}).get(
        "shuffle_write_bytes", 0) / n_builds
    return out


# -------------------------------------------------------------------- live

def live_cycle(run: Run, fx, spark, cfg) -> None:
    """Writes beside reads on a copy of the live base index: seeded
    tombstones, then one upsert batch (new pages plus base urls with new
    content) through live.apply_batch, then compact; after each step a
    reopened searcher answers probes, checked against the oracle.  The
    first step's tombstones keep the batch's fold on the purge path."""
    import pandas as pd

    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.index import live
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.query import BM25Searcher

    idx = os.path.join(run.work, "live")
    shutil.copytree(fx.live_base, idx)
    rng = np.random.default_rng([run.seed, 4])
    picked = rng.choice(live_base_indices(), size=200, replace=False)
    deleted, upserted = picked[:50], picked[50:]
    new = 4_000_000 + (run.seed % 100_000) * 1_000 + np.arange(400)
    rewrite = 6_000_000 + (run.seed % 100_000) * 1_000 + np.arange(len(upserted))
    batch = common.write_pages(
        os.path.join(run.work, "batch.parquet"),
        np.concatenate([new, rewrite]),
        url_from=np.concatenate([new, upserted]),
    )
    del_ids = [xxh64_signed(u) for u in common.pages_frame(deleted)["url"]]

    con = oracle.connect()
    oracle.open_tables(con, "base", fx.live_oracle)
    oracle.load_pages(con, "batch", batch)
    con.register("del_ids", pd.DataFrame({"doc_id": del_ids}))
    for t in ("docs", "post"):
        con.execute(f"CREATE VIEW del_{t} AS SELECT * FROM base_{t} "
                    "WHERE doc_id NOT IN (SELECT doc_id FROM del_ids)")
        # an upsert replaces the base copy only when its new content is
        # indexed (lang en), i.e. when the doc is in the batch's docs
        con.execute(f"CREATE VIEW new_{t} AS SELECT * FROM del_{t} "
                    "WHERE doc_id NOT IN (SELECT doc_id FROM batch_docs) "
                    f"UNION ALL SELECT * FROM batch_{t}")
    after_delete = oracle.BM25Oracle(con, "del_docs", "del_post", stats="base")
    after_batch = oracle.BM25Oracle(con, "new_docs", "new_post")
    probes = live_probe_pool()
    sizes: dict = {}
    lat: list[float] = []

    def timed_builder(spark_, df, out, cfg_):
        t0, epoch0 = time.perf_counter(), time.time()
        stats = build_oneshot(spark_, df, out, cfg_)
        sizes["delta_build_s"] = time.perf_counter() - t0
        sizes["delta_bytes"] = common.du(out)
        run.build_windows.append(("delta", epoch0, time.time()))
        return stats

    def step(label, mutate, orc):
        t0 = time.perf_counter()
        run.tracer.op = "live." + label
        mutate()
        searcher = BM25Searcher(None, live.resolve_current(idx))
        got, _ = run.timed_query(probes[0], searcher, record=False, root="live.query")
        visible = time.perf_counter() - t0
        run.checked(probes[0], got, expected(probes[0], orc))
        for i in range(1, len(probes)):
            got, dt = run.timed_query(probes[i], searcher, record=False, root="live.query")
            lat.append(dt)
            run.checked(probes[i], got, expected(probes[i], orc))
        return visible

    _install_live_spans(run.tracer, sizes)
    try:
        del_s = step("delete", lambda: live.live_delete_docs(idx, del_ids), after_delete)
        epoch0 = time.time()
        batch_s = step("batch", lambda: live.apply_batch(
            spark, spark.read.parquet(batch), 1, idx, cfg, builder=timed_builder), after_batch)
        run.build_windows.append(("fold", epoch0, time.time()))
        compact_s = step("compact", lambda: live.compact(spark, idx), after_batch)
    finally:
        run.tracer.restore()
    n_docs = con.execute("SELECT count(*) FROM batch_docs").fetchone()[0]
    con.close()
    run.report["live.batch_visible_s"] = (batch_s, "s")
    run.report["live.delete_visible_s"] = (del_s, "s")
    run.report["live.compact_visible_s"] = (compact_s, "s")
    run.report["live.build_docs_per_s"] = (n_docs / sizes["delta_build_s"], "docs/s")
    run.report["live.query_p50_ms"] = (common.median(lat) * 1e3, "ms")
    agg = run.tracer.by_name()
    w = lambda n: agg.get(n, {}).get("wall_s", 0.0)  # noqa: E731
    roots = {s.name for s in run.tracer.spans if s.name.startswith("live.query.")}
    in_q = run.tracer.by_name(roots)
    n_q = sum(in_q[r]["calls"] for r in roots)
    written = (sizes["delta_bytes"] + sizes.get("purged_bytes", 0)
               + common.du(live.resolve_current(idx)))
    run.layers.update({
        "live.delta_build_s": sizes["delta_build_s"],
        "live.fold_s": w("live.fold"),
        "live.merge_s": w("live.merge"),
        "deletes.purge_s": w("deletes.purge"),
        "live.bytes_written": float(written),
        "live.write_amp": written / sizes["delta_bytes"],
        "deletes.mask_ms": in_q.get("mask", {}).get("self_s", 0.0) / n_q * 1e3,
    })


def _install_live_spans(tr: Tracer, sizes: dict) -> None:
    from data_prepper_spark.index import live

    install_serving_spans(tr)
    tr.wrap(live, "_fold", "live.fold")
    tr.wrap(live, "merge_indexes", "live.merge")

    def purged(a, kw, out):  # purge_deletes(spark, src, dst, ...) writes dst
        sizes["purged_bytes"] = sizes.get("purged_bytes", 0) + common.du(a[2])

    tr.wrap(live, "purge_deletes", "deletes.purge", count=purged)
