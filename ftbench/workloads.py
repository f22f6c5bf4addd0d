"""The `build` and `search` workloads.

Both are driven by one closed-loop client: the next operation starts when
the previous one has returned. Operations are timed in wall time; the
end-to-end figures are scaled by the run's calibration level (see
`calibration_s`). Every call into the engine goes
through its public functions; the benchmark reads `LoadedIndex._td_cache`
and the registry's module-level caches but never writes them.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from engine import registry
from engine.codec import decode_postings
from engine.corpus import corpus_base
from engine.index import build_index
from engine.refine import refine_pages
from engine.search import parse_query
from engine.searcher import LoadedIndex
from engine.wand import TermCursor, exhaustive_topk, intersect_topk, wand_topk

import inputs
from inputs import PAGES_SCHEMA, Query
from stats import median
from tracing import Tracer, plan_counters, sql_python_rows

BATCH = 32
CLASSES = [("or", 10), ("or", 100), ("and", 10), ("and", 100)]
STREAM_CYCLES = 48
WARMUP_SINGLES = 2
EXACT_SAMPLE = 4
BUILD_PROBE_BATCHES = 6
BUILD_WARMUP_SINGLES = 2
# catalog queries of the traced runs: each fills or reads one of the
# registry's corpus caches, or stands for the relational, aggregation and
# dedup paths; none goes through the on-disk index or update caches
CATALOG = (
    "bm25_and", "bm25_english", "bm25_french", "search_query_string",
    "bm25_combined_fields", "rel_join_agg_topn", "agg_date_histogram",
    "dedup_minhash_lsh",
)
CATALOG_WARM_PASSES = 1
# the calibration job's typical wall time after a warm-up, on a 4-core x86
# VM (2.0 GHz) shared with other guests: the level a run is scaled to
CALIB_REF_S = 0.25


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    corpus: inputs.Corpus
    plan: inputs.QueryPlan
    tracer: Tracer
    fixtures: str | None = None
    warmup: inputs.Corpus | None = None
    calib: list = field(default_factory=list)  # calibration job times, s
    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    checks_s: float = 0.0
    setup_end: float = 0.0
    setup_checks_s: float = 0.0
    info: dict = field(default_factory=dict)
    samples: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def sc(self):
        return self.spark.sparkContext

    def start_measuring(self) -> None:
        """Close set-up (checks run so far are not set-up time) and, in an
        untraced run, warm the calibration job up with two untimed runs."""
        self.setup_end = time.perf_counter()
        self.setup_checks_s = self.checks_s
        if not self.trace:
            calibration_s(self.spark)
            calibration_s(self.spark)

    def calibrate(self) -> None:
        """Run the calibration job once, after a measured operation. Traced
        runs skip it: their per-layer figures are not scaled."""
        if not self.trace:
            self.calib.append(calibration_s(self.spark))

    def scale(self) -> float:
        """CALIB_REF_S over the median calibration time of the run."""
        return CALIB_REF_S / median(self.calib)

    def op(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, why: str) -> None:
        self.failed_ops.add(op_id)
        print(f"ftbench: operation {op_id} failed: {why}", file=sys.stderr)


def _hits(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _layout(n_docs: int) -> dict:
    """The fixture-index layout of the engine's declared BM25 queries."""
    return dict(
        n_buckets=4, docs_per_shard=max(256, -(-n_docs // 16)), n_segments=2,
        hot_df=inputs.HOT_DF, n_salts=4,
    )


def _dir_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under root — checksum and marker
    files excluded."""
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# --- the write path ----------------------------------------------------------


def index_pass(ctx: Ctx, root: str, traced: bool, corpus: inputs.Corpus | None = None):
    """refine_pages -> build_index over `corpus` (default: the run's
    corpus) into a fresh directory. Returns (wall seconds, manifest).

    In the traced run every pass, traced or not, also materialises refine
    (through a count-only sink) and corpus_base on their own, so each layer
    gets its own span and traced and untraced passes do the same Spark
    work; build_index then recomputes both. Untraced runs skip that."""
    spark, tr = ctx.spark, ctx.tracer
    corpus = corpus or ctx.corpus
    layout = _layout(corpus.n_urls)
    t0 = time.perf_counter()
    pages = spark.read.schema(PAGES_SCHEMA).parquet(corpus.path)
    if not ctx.trace:
        docs = refine_pages(pages)
        manifest = build_index(spark, docs.select("doc_id", "text"), root, **layout)
        return time.perf_counter() - t0, manifest
    tr.enabled = traced
    try:
        with tr.span("pass"):
            with tr.spark_span("refine.refine_pages", ctx.sc) as s:
                docs = refine_pages(pages)
                rows_out = int(docs._jdf.queryExecution().toRdd().count())
            if traced:
                s.counts["rows_out"] = rows_out
                s.counts.update(plan_counters(docs))
            with tr.spark_span("corpus.corpus_base", ctx.sc) as s:
                agg = corpus_base(docs.select("doc_id", "text")).agg(F.sum("dl"))
                tokens = int(agg.collect()[0][0])
            if traced:
                s.counts["tokens"] = tokens
            with tr.spark_span("index.build_index", ctx.sc) as s:
                manifest = build_index(spark, docs.select("doc_id", "text"), root, **layout)
            if traced:
                s.counts["python_rows_sent"] = sql_python_rows(spark, s.counts["job_ids"])
                s.counts["postings_bytes"], s.counts["postings_files"] = _dir_bytes(
                    os.path.join(root, "postings")
                )
    finally:
        tr.enabled = False
    return time.perf_counter() - t0, manifest


# --- the read path -----------------------------------------------------------


def _pack(rows) -> list[dict]:
    """Posting rows of one term -> the cursor row format, in part order."""
    return [
        {
            "doc_ids_enc": r["doc_ids_enc"],
            "tfs_enc": r["tfs_enc"],
            "dls_enc": r["dls_enc"],
            "skips": [
                (s["first_doc"], s["doc_off"], s["tf_off"], s["dl_off"], s["max_impact"])
                for s in r["skips"]
            ],
        }
        for r in sorted(rows, key=lambda r: r["part"])
    ]


def _top(hits, k):
    return sorted(hits, key=lambda h: (-h[1], h[0]))[:k]


def replay(ctx: Ctx, idx: LoadedIndex, q: Query, spark_hits) -> None:
    """Driver-side replay of one query on the posting rows it fetches:
    decode, the pruned kernel (block-max WAND for `or`, intersection for
    `and`) and the exhaustive scorer, each in its own span. A disagreement
    between the kernels, or with Spark's answer, is a wand mismatch."""
    tr = ctx.tracer
    parsed = parse_query(q.text)
    found = {t: idx._td_cache[t] for t in parsed.terms + parsed.must_not if t in idx._td_cache}
    terms = [t for t in parsed.terms if t in found]
    neg = [t for t in parsed.must_not if t in found]
    mismatches = 0
    if terms and not (q.mode == "and" and len(terms) < len(parsed.terms)):
        tids = [found[t][2] for t in terms]
        neg_tids = [found[t][2] for t in neg]
        idfs = {found[t][2]: idx.idf(found[t][0]) for t in terms}
        buckets = sorted({found[t][1] for t in terms + neg})
        rows = (
            idx.postings.filter(F.col("bucket").isin(buckets) & F.col("tid").isin(tids + neg_tids))
            .collect()
        )
        avgdl = idx.manifest.avgdl
        by_shard_tid = defaultdict(list)
        for r in rows:
            by_shard_tid[(r["shard"], r["tid"])].append(r)
        shards = sorted({s for s, _ in by_shard_tid})
        tr.enabled = True
        try:
            with tr.span("codec.decode_postings"):
                decoded = {}
                for key, rs in by_shard_tid.items():
                    parts = [
                        decode_postings(r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], r["skips"])
                        for r in sorted(rs, key=lambda r: r["part"])
                    ]
                    decoded[key] = tuple(np.concatenate(p) for p in zip(*parts))
            with tr.span("wand.wand_topk"):
                pruned = []
                for sh in shards:
                    cursors = [
                        TermCursor(_pack(by_shard_tid[(sh, t)]), idfs[t], avgdl)
                        for t in tids if (sh, t) in by_shard_tid
                    ]
                    negs = [
                        TermCursor(_pack(by_shard_tid[(sh, t)]), 0.0, avgdl)
                        for t in neg_tids if (sh, t) in by_shard_tid
                    ]
                    if not cursors or (q.mode == "and" and len(cursors) < len(tids)):
                        continue
                    kernel = intersect_topk if q.mode == "and" else wand_topk
                    pruned += kernel(cursors, q.k, must_not=negs)
                pruned = _top(pruned, q.k)
            with tr.span("wand.exhaustive_topk"):
                lists = []
                for t in tids:
                    per = [decoded[(sh, t)] for sh in shards if (sh, t) in decoded]
                    if per:
                        ids, tfs, dls = (np.concatenate(c) for c in zip(*per))
                        lists.append((ids, tfs, dls, idfs[t]))
                neg_ids = [decoded[(sh, t)][0] for sh in shards for t in neg_tids if (sh, t) in decoded]
                if q.mode == "and" and len(lists) < len(tids):
                    exact = []
                else:
                    exact = exhaustive_topk(
                        lists, q.k, avgdl, mode=q.mode,
                        must_not_ids=np.concatenate(neg_ids) if neg_ids else None,
                    )
        finally:
            tr.enabled = False
        mismatches = int(pruned != exact) + int(pruned != spark_hits)
    elif spark_hits:
        mismatches = 1
    ctx.samples["wand.mismatches"].append(mismatches)


def single_query(ctx: Ctx, idx: LoadedIndex, q: Query, traced: bool):
    """One search(...).collect(). Returns (wall seconds, hits)."""
    tr = ctx.tracer
    if ctx.trace:
        terms = parse_query(q.text)
        looked = list(dict.fromkeys(terms.terms + terms.must_not))
        ctx.samples["td_hits"].append(sum(t in idx._td_cache for t in looked))
        ctx.samples["td_lookups"].append(len(looked))
    t0 = time.perf_counter()
    if not traced:
        hits = _hits(idx.search(q.text, k=q.k, mode=q.mode).collect())
        return time.perf_counter() - t0, hits
    tr.enabled = True
    try:
        with tr.span("query") as top:
            with tr.span("search.parse_query"):
                parse_query(q.text)
            with tr.spark_span("searcher.search", ctx.sc) as s_plan:
                df = idx.search(q.text, k=q.k, mode=q.mode)
            with tr.spark_span("searcher.collect", ctx.sc) as s_exec:
                hits = _hits(df.collect())
            s_exec.counts.update(plan_counters(df))
            top.counts["spark_jobs"] = s_plan.counts["spark_jobs"] + s_exec.counts["spark_jobs"]
            top.counts["spark_tasks"] = s_plan.counts["spark_tasks"] + s_exec.counts["spark_tasks"]
    finally:
        tr.enabled = False
    wall = time.perf_counter() - t0
    replay(ctx, idx, q, hits)
    return wall, hits


def batch_query(ctx: Ctx, idx: LoadedIndex, items: list[tuple[str, Query]], traced: bool):
    """One search_many(...).collect() over queries of one (mode, k) class.
    Returns (wall seconds, {qid: hits})."""
    mode, k = items[0][1].klass
    tr = ctx.tracer
    t0 = time.perf_counter()
    tr.enabled = traced
    try:
        with tr.spark_span("searcher.search_many", ctx.sc) as s:
            df = idx.search_many([(qid, q.text) for qid, q in items], k=k, mode=mode)
            rows = df.collect()
        if s is not None:
            s.counts.update(plan_counters(df))
    finally:
        tr.enabled = False
    wall = time.perf_counter() - t0
    out = {qid: [] for qid, _ in items}
    for r in rows:
        out[r["qid"]].append((int(r["doc_id"]), float(r["score"])))
    return wall, out


def _guarded(ctx: Ctx, fn, *args):
    """Run one operation; an exception fails it and the run goes on."""
    op_id = ctx.op()
    try:
        return op_id, fn(*args)
    except Exception:  # noqa: BLE001 — the client loop must keep running
        ctx.fail(op_id, traceback.format_exc())
        return op_id, None


# --- workloads ---------------------------------------------------------------


def calibration_s(spark) -> float:
    """Wall time of one run of a fixed Spark job that calls no engine code:
    a Python UDF over 40 000 rows in 4 partitions, then a sum. Like a
    query it is mostly Spark scheduling and Python-worker round trips, so
    its time follows the shared host's current speed, and no engine change
    moves it."""
    f = F.udf(lambda x: (x * 7 + 3) % 11, "long")
    t = time.perf_counter()
    spark.range(0, 40_000, numPartitions=4).select(f("id").alias("v")).agg(F.sum("v")).collect()
    return time.perf_counter() - t


def build_workload(ctx: Ctx) -> dict:
    """Set-up: one whole warm-up pass over the small warm-up corpus, then
    the probe set on its index, once as a search_many batch and its first
    BUILD_WARMUP_SINGLES probes one at a time. Measured: refine ->
    build_index passes over the run's corpus into fresh directories, each
    followed by the probe set on the index it just wrote: six times as a
    search_many batch, then once one query at a time. Every batch and
    every single query of every measured pass must return the first
    measured batch's hits."""
    probes = inputs.probe_queries(ctx.plan)
    reference = None
    passes, queries, batches = [], [], []
    index_bytes = None

    def one_pass(i: int, traced: bool, measured: bool):
        nonlocal index_bytes, reference
        corpus = ctx.corpus if measured else ctx.warmup
        root = os.path.join(ctx.work, "idx", f"pass-{i}")
        op_id, res = _guarded(ctx, index_pass, ctx, root, traced, corpus)
        if res is None:
            return
        wall, manifest = res
        if measured:
            ctx.calibrate()
        query_walls, batch_walls = [], []
        t = time.perf_counter()
        if measured:
            index_bytes = _dir_bytes(root)[0]
        if manifest.n_docs != corpus.n_urls:
            ctx.fail(op_id, f"manifest n_docs {manifest.n_docs} != {corpus.n_urls} refined")
        ctx.checks_s += time.perf_counter() - t
        idx = LoadedIndex(ctx.spark, root)
        for _ in range(BUILD_PROBE_BATCHES if measured else 1):
            bop, b = _guarded(ctx, batch_query, ctx, idx, [(str(j), q) for j, q in enumerate(probes)], traced)
            if measured:
                ctx.calibrate()
            if b is None or not measured:
                continue
            batch_walls.append(b[0] / len(probes))
            t = time.perf_counter()
            hits = [b[1][str(j)] for j in range(len(probes))]
            if reference is None:
                reference = hits
            elif hits != reference:
                ctx.fail(bop, "search_many probe hits differ from the first measured batch")
            ctx.checks_s += time.perf_counter() - t
        for j, q in list(enumerate(probes))[: None if measured else BUILD_WARMUP_SINGLES]:
            qop, r = _guarded(ctx, single_query, ctx, idx, q, traced)
            if measured and j % 2:
                ctx.calibrate()
            if r is None or not measured:
                continue
            query_walls.append(r[0])
            if reference is not None and r[1] != reference[j]:
                ctx.fail(qop, f"probe {q.text!r} hits differ from the first measured batch")
        shutil.rmtree(root, ignore_errors=True)
        if measured:
            ctx.samples["op_traced" if traced else "op_untraced"].append(wall)
            passes.append(wall)
            queries.extend(query_walls)
            batches.extend(batch_walls)

    t0 = time.perf_counter()
    one_pass(0, traced=False, measured=False)
    ctx.info["warmup_s"] = time.perf_counter() - t0
    ctx.start_measuring()
    deadline = time.perf_counter() + ctx.seconds
    i = 1
    # at least one measured pass; the traced run traces the middle one of
    # three, so a warm-up trend across passes does not show as overhead
    min_passes = 3 if ctx.trace else 1
    while i <= min_passes or time.perf_counter() < deadline:
        one_pass(i, traced=ctx.trace and i % 2 == 0, measured=True)
        i += 1
    if not passes or not queries or not batches:
        raise RuntimeError("no successful measured pass")
    return {
        "n_docs": ctx.corpus.n_urls,
        "index_passes": passes,
        "queries": queries,
        "batch_queries": batches,
        "index_bytes": index_bytes,
    }


def search_workload(ctx: Ctx) -> dict:
    """Set-up: the index `build` writes, built once, then a pool warm-up
    (one search_many batch over every pool term, then single queries).
    Phase 1: the stream one query at a time, in whole 16-query cycles.
    Phase 2: the same stream in batches of 32 queries of one (mode, k)
    class through search_many, in whole rounds of 4 batches."""
    root = os.path.join(ctx.work, "idx", "search")
    build_wall, manifest = index_pass(ctx, root, traced=ctx.trace)
    index_bytes = _dir_bytes(root)[0]
    idx = LoadedIndex(ctx.spark, root)
    pool = ctx.plan.pool
    warm_batch = [
        (f"w{i}", Query(f"{pool[i % len(pool)]} {pool[(i * 5 + 1) % len(pool)]}", "or", 10, None))
        for i in range(BATCH)
    ]
    batch_query(ctx, idx, warm_batch, traced=False)
    for q in inputs.warmup_queries(ctx.plan, WARMUP_SINGLES):
        single_query(ctx, idx, q, traced=False)
    ctx.samples["td_hits"].clear()
    ctx.samples["td_lookups"].clear()
    stream = inputs.query_stream(ctx.plan, ctx.seed, STREAM_CYCLES)

    ctx.start_measuring()
    # phase 1: whole cycles, so every run scores the same mix of shapes
    n_cycle = len(inputs.CYCLE)
    p1_end = time.perf_counter() + ctx.seconds * 0.6
    singles: dict[int, list] = {}
    queries = []
    i = 0
    # the traced run traces every other query, swapping parity each cycle,
    # so each slot is timed both ways over two cycles
    min_queries = 2 * n_cycle if ctx.trace else n_cycle
    while (i < min_queries or time.perf_counter() < p1_end) and i + n_cycle <= len(stream):
        walls = []
        for j in range(i, i + n_cycle):
            traced = ctx.trace and (j + j // n_cycle) % 2 == 0
            _, r = _guarded(ctx, single_query, ctx, idx, stream[j], traced)
            if j % 2:
                ctx.calibrate()
            if r is None:
                continue
            singles[j] = r[1]
            walls.append(r[0])
            ctx.samples["op_traced" if traced else "op_untraced"].append(r[0])
        queries += walls
        i += n_cycle

    # phase 2: whole rounds, one batch of 32 per (mode, k) class, taken from
    # the same stream 8 cycles at a time
    per_round = BATCH * len(CLASSES)
    p2_end = time.perf_counter() + ctx.seconds * 0.4
    rounds = []
    rnd = 0
    while (rnd == 0 or time.perf_counter() < p2_end) and (rnd + 1) * per_round <= len(stream):
        lo = rnd * per_round
        spent, ok = 0.0, True
        for b, klass in enumerate(CLASSES):
            items = [(str(j), stream[j]) for j in range(lo, lo + per_round) if stream[j].klass == klass]
            op_id, r = _guarded(ctx, batch_query, ctx, idx, items, ctx.trace and b % 2 == 0)
            ctx.calibrate()
            if r is None:
                ok = False
                continue
            spent += r[0]
            t = time.perf_counter()
            for qid, hits in r[1].items():
                j = int(qid)
                if j in singles and singles[j] != hits:
                    ctx.fail(op_id, f"search_many hits for {stream[j].text!r} differ from search")
                    break
            ctx.checks_s += time.perf_counter() - t
        if ok:
            rounds.append(spent / per_round)
        rnd += 1

    t = time.perf_counter()
    check_idx = LoadedIndex(ctx.spark, root)
    rng = random.Random(ctx.seed + 2)
    for j in rng.sample(sorted(singles), min(EXACT_SAMPLE, len(singles))):
        q = stream[j]
        op_id, exact = _guarded(
            ctx, lambda q=q: _hits(check_idx.search(q.text, k=q.k, mode=q.mode, algo="exhaustive").collect())
        )
        if exact is not None and exact != singles[j]:
            ctx.fail(op_id, f"wand hits for {q.text!r} differ from exhaustive")
    ctx.checks_s += time.perf_counter() - t
    ctx.info["fresh_terms_used"] = sum(1 for q in stream[:i] if q.fresh)
    if not queries or not rounds:
        raise RuntimeError("too few successful measured queries")
    return {
        "n_docs": manifest.n_docs,
        # the set-up build is the one index pass of this workload
        "index_passes": [build_wall],
        "queries": queries,
        "batch_queries": rounds,
        "index_bytes": index_bytes,
    }


# --- the catalog layer (traced runs only) -------------------------------------


def _cache_entries() -> dict[str, int]:
    """Entry count of every module-level cache of the registry."""
    return {
        name: len(value) for name, value in sorted(vars(registry).items())
        if name.endswith("_CACHE") and isinstance(value, dict)
    }


def _fingerprint(rows) -> list:
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else repr(v) for v in r) for r in rows
    )


def catalog(ctx: Ctx) -> None:
    """CATALOG over the smallest fixture set: one cold pass (it fills the
    registry's corpus caches), then CATALOG_WARM_PASSES warm passes in a
    seeded order. Every warm answer must equal the cold one, and no warm
    pass may change any cache's entry count."""
    queries = registry.queries()
    tr = ctx.tracer
    reference = {}
    order = list(CATALOG)
    random.Random(ctx.seed + 3).shuffle(order)
    for p in range(1 + CATALOG_WARM_PASSES):
        warm = p > 0
        before = _cache_entries()
        tr.enabled = True
        try:
            with tr.spark_span("catalog.warm_pass" if warm else "catalog.cold_pass", ctx.sc):
                for name in order:
                    with tr.span(f"registry.{name}.{'warm' if warm else 'cold'}"):
                        op_id, rows = _guarded(ctx, lambda n=name: queries[n](ctx.spark, ctx.fixtures).collect())
                    if rows is None:
                        continue
                    fp = _fingerprint(rows)
                    if not warm:
                        reference[name] = fp
                    elif fp != reference.get(name):
                        ctx.fail(op_id, f"{name}: warm answer differs from the cold pass")
        finally:
            tr.enabled = False
        after = _cache_entries()
        if warm:
            ctx.samples["cache_entries_start"].append(sum(before.values()))
            ctx.samples["cache_entries_end"].append(sum(after.values()))
            if before != after:
                ctx.fail(ctx.op(), f"warm catalog pass changed the registry caches: {before} -> {after}")
        ctx.info[f"catalog_caches_pass{p}"] = {k: v for k, v in after.items() if v}


WORKLOADS = {"build": build_workload, "search": search_workload}


def end_to_end(ctx: Ctx, res: dict) -> dict:
    """Medians of the per-operation wall times, each scaled by the run's
    calibration level; the unscaled medians go to the info record."""
    ctx.info["samples"] = {k: len(res[k]) for k in ("index_passes", "queries", "batch_queries")}
    ctx.info["query_ms"] = [round(1e3 * w, 1) for w in res["queries"]]
    ctx.info["calibration_ms"] = [round(1e3 * w, 1) for w in ctx.calib]
    raw = {
        "index_docs_per_s": res["n_docs"] / median(res["index_passes"]),
        "query_p50_ms": 1e3 * median(res["queries"]),
        "batch_queries_per_s": 1.0 / median(res["batch_queries"]),
    }
    ctx.info["raw"] = raw
    scale = ctx.scale()
    failed = len(ctx.failed_ops)
    return {
        "index_docs_per_s": (raw["index_docs_per_s"] / scale, "docs/s"),
        "index_bytes_per_text_byte": (res["index_bytes"] / ctx.corpus.text_bytes, "B/B"),
        "query_p50_ms": (raw["query_p50_ms"] * scale, "ms"),
        "batch_queries_per_s": (raw["batch_queries_per_s"] / scale, "queries/s"),
        "ok_op_share": ((ctx.attempted - failed) / ctx.attempted, "share"),
    }


def per_layer(ctx: Ctx) -> dict:
    """Reduce the traced run's spans and samples to per-layer metrics:
    medians of span times, per-operation means of counts."""
    tr = ctx.tracer
    selfs = tr.self_times()

    def ms(name):
        spans = tr.by_name(name)
        return 1e3 * median([s.end - s.start for s in spans]) if spans else float("nan")

    def count(name, key, per_op=False):
        vals = [s.counts.get(key, 0) for s in tr.by_name(name)]
        if not vals:
            return float("nan")
        return sum(vals) / len(vals) if per_op else median(vals)

    def med(key):
        vals = ctx.samples[key]
        return median(vals) if vals else float("nan")

    top = "pass" if ctx.info["workload"] == "build" else "query"
    top_self = [selfs[i] for i, s in enumerate(tr.spans) if s.name == top]
    traced = ctx.samples["op_traced"]
    untraced = ctx.samples["op_untraced"]
    hits, looks = sum(ctx.samples["td_hits"]), sum(ctx.samples["td_lookups"])
    setup = ctx.info["setup_parts"]
    out = {
        "session.get_spark_s": (setup["get_spark"], "s"),
        "packaging.ship_s": (setup["ship"], "s"),
        "session.first_job_s": (setup["first_job"], "s"),
        "session.jvm_peak_rss_mb": (ctx.info["rss_mb"]["jvm"], "MB"),
        "refine.refine_pages_ms": (ms("refine.refine_pages"), "ms"),
        "refine.rows_out": (count("refine.refine_pages", "rows_out"), "count"),
        "refine.python_rows_sent": (count("refine.refine_pages", "python_rows_sent"), "count"),
        "corpus.corpus_base_ms": (ms("corpus.corpus_base"), "ms"),
        "corpus.tokens": (count("corpus.corpus_base", "tokens"), "count"),
        "index.build_index_ms": (ms("index.build_index"), "ms"),
        "index.shuffle_bytes": (count("index.build_index", "shuffle_bytes"), "B"),
        "index.python_rows_sent": (count("index.build_index", "python_rows_sent"), "count"),
        "index.postings_bytes": (count("index.build_index", "postings_bytes"), "B"),
        "index.postings_files": (count("index.build_index", "postings_files"), "count"),
        "index.spark_jobs": (count("index.build_index", "spark_jobs"), "count"),
        "index.spark_tasks": (count("index.build_index", "spark_tasks"), "count"),
        "search.parse_query_ms": (ms("search.parse_query"), "ms"),
        "searcher.search_ms": (ms("searcher.search"), "ms"),
        "searcher.td_hit_ratio": (hits / looks if looks else float("nan"), "ratio"),
        "searcher.collect_ms": (ms("searcher.collect"), "ms"),
        "searcher.spark_jobs_per_query": (count("query", "spark_jobs", per_op=True), "count"),
        "searcher.spark_tasks_per_query": (count("query", "spark_tasks", per_op=True), "count"),
        "searcher.posting_rows": (count("searcher.collect", "scan_rows", per_op=True), "count"),
        "searcher.posting_bytes": (count("searcher.collect", "shuffle_bytes", per_op=True), "B"),
        "searcher.python_rows_sent": (count("searcher.collect", "python_rows_sent", per_op=True), "count"),
        "searcher.search_many_ms": (ms("searcher.search_many"), "ms"),
        "searcher.batch_posting_rows": (count("searcher.search_many", "scan_rows", per_op=True), "count"),
        "codec.decode_postings_ms": (ms("codec.decode_postings"), "ms"),
        "wand.wand_topk_ms": (ms("wand.wand_topk"), "ms"),
        "wand.exhaustive_topk_ms": (ms("wand.exhaustive_topk"), "ms"),
        "wand.mismatches": (float(sum(ctx.samples["wand.mismatches"])), "count"),
        "trace.traced_op_ms": (1e3 * median(traced) if traced else float("nan"), "ms"),
        "trace.untraced_op_ms": (1e3 * median(untraced) if untraced else float("nan"), "ms"),
        "trace.overhead_ms": (
            1e3 * (median(traced) - median(untraced)) if traced and untraced else float("nan"), "ms"
        ),
        "trace.op_self_ms": (1e3 * median(top_self) if top_self else float("nan"), "ms"),
        "catalog.cold_pass_ms": (ms("catalog.cold_pass"), "ms"),
        "catalog.warm_pass_ms": (ms("catalog.warm_pass"), "ms"),
        "catalog.spark_jobs_per_pass": (count("catalog.warm_pass", "spark_jobs"), "count"),
        "catalog.shuffle_bytes_per_pass": (count("catalog.warm_pass", "shuffle_bytes"), "B"),
        "registry.cache_entries_start": (med("cache_entries_start"), "count"),
        "registry.cache_entries_end": (med("cache_entries_end"), "count"),
    }
    for name in CATALOG:
        out[f"registry.{name}.cold_ms"] = (ms(f"registry.{name}.cold"), "ms")
        out[f"registry.{name}.warm_ms"] = (ms(f"registry.{name}.warm"), "ms")
    return out
