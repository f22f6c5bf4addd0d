"""Seeded benchmark inputs: the pages corpus and the search query stream.

Everything here runs before the Spark session starts and is timed as
`inputs_s`, outside `setup_s`.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
from collections import Counter
from dataclasses import dataclass

N_PAGES = 1000
WARMUP_PAGES = 200  # the build workload's warm-up pass
VOCAB_SIZE = 5000
HOT_DF = 100  # the build's hot_df: terms at or above it are salted
POOL_PER_STRATUM = 8
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@dataclass
class Corpus:
    path: str
    n_urls: int
    text_bytes: int
    df: dict  # term -> number of pages containing it


def write_corpus(path: str, seed: int, n_pages: int = N_PAGES) -> Corpus:
    """Generate the pages corpus and write it as one Parquet file.

    Timestamps are written in microseconds: pyarrow's default nanosecond
    timestamps are rejected by Spark's Parquet reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.pages import generate_pages_fast

    pdf = generate_pages_fast(n_pages, seed=seed, vocab_size=VOCAB_SIZE)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")
    df = Counter()
    for text in pdf["text"]:
        df.update(set(text.split()))
    return Corpus(
        path=path,
        n_urls=int(pdf["url"].nunique()),
        text_bytes=int(sum(len(t.encode("utf-8")) for t in pdf["text"])),
        df=dict(df),
    )


def write_fixtures(out: str) -> str:
    """The smallest catalog fixture set (scale factor 0.001: documents,
    embeddings, events and the relational tables), made by the repository's
    own generator with its fixed seed. Returns the directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "gen_sfdata.py"), "0.001", out],
        check=True, stdout=subprocess.DEVNULL,
    )
    return out


@dataclass(frozen=True)
class Query:
    text: str
    mode: str
    k: int
    fresh: str | None  # the term this query uses for the first time, if any

    @property
    def klass(self) -> tuple[str, int]:
        return (self.mode, self.k)


# The fixed 16-query cycle: (positive terms, mode, k, one -term exclusion,
# carries a term never used before in the run). Each (mode, k) class has
# four slots, one of them fresh, so batches of 32 of one class are 8 cycles.
CYCLE = (
    (1, "or", 10, False, False),
    (2, "or", 10, False, True),
    (3, "or", 100, False, False),
    (2, "and", 10, False, False),
    (4, "or", 10, True, False),
    (1, "or", 100, False, True),
    (2, "and", 100, False, False),
    (3, "or", 100, True, False),
    (2, "or", 10, True, False),
    (3, "and", 10, False, True),
    (1, "and", 100, True, False),
    (4, "or", 100, False, False),
    (2, "and", 10, True, False),
    (3, "and", 100, False, False),
    (2, "and", 100, False, True),
    (1, "and", 10, False, False),
)
FRESH_PER_CYCLE = sum(1 for slot in CYCLE if slot[4])


@dataclass
class QueryPlan:
    pool: list[str]   # terms the set-up looks up before measuring
    hot: list[str]    # pool terms used for -term exclusions
    fresh: list[str]  # terms reserved for first use, in order


def plan_terms(df: dict, seed: int) -> QueryPlan:
    """Draw the reused pool from three document-frequency strata (hot: at
    least HOT_DF pages, mid: 10..HOT_DF-1, rare: 2..9) and reserve every
    other mid/rare term, shuffled, for fresh-term slots."""
    rng = random.Random(seed)
    by_df = sorted(df, key=lambda t: (-df[t], t))
    hot = [t for t in by_df if df[t] >= HOT_DF]
    mid = [t for t in by_df if 10 <= df[t] < HOT_DF]
    rare = [t for t in by_df if 2 <= df[t] < 10]
    pool_hot = rng.sample(hot, POOL_PER_STRATUM)
    pool_mid = rng.sample(mid, POOL_PER_STRATUM)
    pool_rare = rng.sample(rare, POOL_PER_STRATUM)
    pool = pool_hot + pool_mid + pool_rare
    taken = set(pool)
    fresh = [t for t in mid + rare if t not in taken]
    rng.shuffle(fresh)
    return QueryPlan(pool=pool, hot=pool_hot, fresh=fresh)


def query_stream(plan: QueryPlan, seed: int, cycles: int) -> list[Query]:
    """`cycles` repetitions of CYCLE with seeded terms. Only the terms vary
    with the seed; the slot shapes are fixed."""
    if cycles * FRESH_PER_CYCLE > len(plan.fresh):
        raise ValueError("not enough reserved terms for the requested cycles")
    rng = random.Random(seed + 1)
    fresh = iter(plan.fresh)
    out = []
    for _ in range(cycles):
        for n_terms, mode, k, exclude, is_fresh in CYCLE:
            new = next(fresh) if is_fresh else None
            terms = ([new] if new else []) + rng.sample(plan.pool, n_terms - bool(new))
            if exclude:
                terms.append("-" + rng.choice([t for t in plan.hot if t not in terms]))
            out.append(Query(" ".join(terms), mode, k, new))
    return out


def warmup_queries(plan: QueryPlan, n: int) -> list[Query]:
    """Pool-only queries with the cycle's shapes, for the set-up warm-up."""
    out = []
    for i in range(n):
        n_terms, mode, k, _, _ = CYCLE[i % len(CYCLE)]
        terms = [plan.pool[(i * 3 + j) % len(plan.pool)] for j in range(n_terms)]
        out.append(Query(" ".join(dict.fromkeys(terms)), mode, k, None))
    return out


def probe_queries(plan: QueryPlan) -> list[Query]:
    """The build workload's fixed probe set: two queries per pool stratum
    and two across strata, all `or`, k=10."""
    p = plan.pool
    n = POOL_PER_STRATUM
    out = []
    for base in (0, n, 2 * n):
        out.append(Query(f"{p[base]} {p[base + 1]}", "or", 10, None))
        out.append(Query(f"{p[base + 2]} {p[base + 3]} {p[base + 4]}", "or", 10, None))
    out.append(Query(f"{p[5]} {p[n + 5]} {p[2 * n + 5]}", "or", 10, None))
    out.append(Query(f"{p[6]} {p[n + 6]}", "or", 10, None))
    return out
