"""Correctness references for the benchmark's ops, computed without the
engine's Spark plans: DuckDB over the registered oracle SQL, and pure
Python for BPE merges and near-duplicate pairs."""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter
from decimal import Decimal

REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    # floats rounded so rows equal within REL_TOL sort to the same place
    return repr(tuple(f"{x:.6g}" if isinstance(x, float) else x for x in row))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when the two results are equal as multisets of rows (columns
    matched by name, floats within REL_TOL); otherwise the first reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    order_a = [cols_a.index(c) for c in sorted(cols_a)]
    order_b = [cols_b.index(c) for c in sorted(cols_b)]
    a = sorted((tuple(_norm(r[i]) for i in order_a) for r in rows_a), key=_sort_key)
    b = sorted((tuple(_norm(r[i]) for i in order_b) for r in rows_b), key=_sort_key)
    if all(map(_close, a, b)):
        return None
    # rounding can order nearly equal floats differently: match row by row
    unmatched = list(b)
    for x in a:
        hit = next((i for i, y in enumerate(unmatched) if _close(x, y)), None)
        if hit is None:
            return f"no row matches {x}"
        del unmatched[hit]
    return None


def duck_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_rows(con, sql: str):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def bpe_merges(texts, n_merges: int):
    """Word-level BPE over whitespace tokens of lowercase a-z text:
    (round, left, right, pair_freq), most frequent pair first, ties to
    the lexicographically smallest (left, right); greedy left-to-right
    non-overlapping merge."""
    words = Counter(w for t in texts for w in t.split())
    vocab = [(list(w), f) for w, f in words.items()]
    out = []
    for r in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for sym, f in vocab:
            for p in zip(sym, sym[1:]):
                pairs[p] += f
        if not pairs:
            break
        (left, right), pf = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, left, right, pf))
        merged = []
        for sym, f in vocab:
            new, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    new.append(left + right)
                    i += 2
                else:
                    new.append(sym[i])
                    i += 1
            merged.append((new, f))
        vocab = merged
    return out


def _tokens(text: str) -> list[str]:
    return [t for t in (re.sub(r"(^[^a-z]+|[^a-z]+$)", "", w)
                        for w in re.split(r"\s+", text.lower())) if t]


def near_dup_pairs(texts: dict[int, str], threshold: float = 0.5) -> set[tuple[int, int]]:
    """(low id, high id) pairs whose word-3-gram shingle sets have
    Jaccard >= threshold; docs with fewer than 3 tokens have no shingles.
    The definition of the registered ``dedup_jaccard`` oracle SQL."""
    sh = {}
    for d, t in texts.items():
        tok = _tokens(t)
        if len(tok) >= 3:
            sh[d] = {" ".join(tok[i:i + 3]) for i in range(len(tok) - 2)}
    index: dict[str, list[int]] = {}
    for d in sorted(sh):
        for g in sh[d]:
            index.setdefault(g, []).append(d)
    # |A & B| per candidate pair: the number of shingles they share
    overlap: Counter = Counter()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                overlap[a, b] += 1
    return {
        (a, b) for (a, b), n in overlap.items()
        if n >= threshold * (len(sh[a]) + len(sh[b]) - n)
    }


def admitted(batches: list[dict[int, str]], threshold: float = 0.5) -> set[int]:
    """Doc ids the streamed admission gate accepts when ``batches`` arrive
    in order: per batch, the lowest id of each exact text, minus the
    higher id of each in-batch near-duplicate pair, minus texts already
    accepted and docs that near-duplicate an accepted doc."""
    accepted: dict[int, str] = {}
    for batch in batches:
        first: dict[str, int] = {}
        for d in sorted(batch):
            first.setdefault(batch[d], d)
        b = {d: t for d, t in batch.items() if first[t] == d}
        losers = {hi for _, hi in near_dup_pairs(b, threshold)}
        seen = set(accepted.values())
        b = {d: t for d, t in b.items() if d not in losers and t not in seen}
        near = set()
        for lo, hi in near_dup_pairs({**accepted, **b}, threshold):
            if lo in accepted and hi in b:
                near.add(hi)
            elif hi in accepted and lo in b:
                near.add(lo)
        accepted.update({d: t for d, t in b.items() if d not in near})
    return set(accepted)
