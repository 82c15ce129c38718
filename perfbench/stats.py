"""Statistics and output digests shared by run.py, compare.py and
make_digests.py. Pure Python apart from pyarrow for reading parquet."""

import hashlib
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them.
    One value is its own quartiles."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def pair_wins(base, change, lower_is_better=True):
    """Fraction of (base, change) pairs the change wins. Ties count for
    neither side but stay in the denominator."""
    pairs = list(zip(base, change))
    if not pairs:
        return None
    wins = sum(1 for b, c in pairs if (c < b if lower_is_better else c > b))
    return wins / len(pairs)


def traced_ratio(samples):
    """(traced / untraced - 1, ops) from [(op name, pass, traced, latency)].

    Per op name, the difference of the mean log latencies of its traced and
    untraced samples. A traced run swaps which ops are traced every pass,
    and later passes run faster (warm-up), so names traced in a later pass
    than untraced, and names traced in an earlier one, are averaged as two
    groups and the groups' means averaged: the pass effect enters them with
    opposite signs and cancels. Names with samples of one kind only are
    left out; (0.0, 0) when none has both."""
    by_name = {}
    for name, p, traced, latency in samples:
        by_name.setdefault(name, ([], []))[0 if traced else 1].append(
            (p, math.log(latency)))
    groups = {}
    for t, u in by_name.values():
        if not t or not u:
            continue
        d = statistics.mean(x for _, x in t) - statistics.mean(x for _, x in u)
        later = statistics.mean(p for p, _ in t) - statistics.mean(p for p, _ in u)
        groups.setdefault((later > 0) - (later < 0), []).append(d)
    if not groups:
        return 0.0, 0
    delta = statistics.mean(statistics.mean(ds) for ds in groups.values())
    return math.exp(delta) - 1.0, sum(len(ds) for ds in groups.values())


def canonical_value(v):
    """A result value as the repository's oracle check compares it: the
    Python str() of the value pyarrow (or DuckDB) hands back."""
    return str(v)


def canonical_rows(columns, rows):
    """Rows with columns put in name order and values canonicalised, sorted
    so that the digest ignores row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canonical_value(r[i]) for i in order) for r in rows)


def digest(columns, rows):
    """{"rows": n, "sha256": h}: the row count plus a hash of the sorted
    canonical rows and the sorted column names."""
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for r in canonical_rows(columns, rows):
        h.update(b"\n")
        h.update("\x1f".join(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def parquet_digest(path):
    """Digest of a query result Spark wrote as a parquet directory."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    cols = tbl.column_names
    rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if cols else []
    return digest(cols, rows)
