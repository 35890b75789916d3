"""Pure logic of the benchmark: seeded inputs, percentiles, spreads and
the oracle compares. `run.py` drives the runs; the unit tests in
`test_benchlib.py` cover this module alone."""
import datetime
import decimal
import hashlib
import math
import random
import statistics

# ------------------------------------------------------------- statistics

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, or None unless at
    least `min_beyond` samples lie beyond it on each side that bounds it:
    above it for q >= 0.5, below it for q < 0.5 (for the median, both)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    idx = max(0, math.ceil(q * n) - 1)
    above, below = n - idx - 1, idx
    need = [above] if q > 0.5 else [below] if q < 0.5 else [above, below]
    if min(need) < min_beyond:
        return None
    return xs[idx]


def median(values):
    return statistics.median(values)


def spread(values):
    """Inter-quartile distance as a share of the median, as
    statistics.quantiles(values, n=4) gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# ----------------------------------------------------------- seeded inputs

# The ingest table: lineitem-shaped, in the types CREATE TABLE accepts.
LI_COLS = [
    ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
    ("l_linenumber", "int"), ("l_quantity", "float"),
    ("l_extendedprice", "float"), ("l_discount", "float"), ("l_tax", "float"),
    ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "str"),
    ("l_comment", "str"),
]
_WORDS = ("carefully final deposits sleep quickly furiously ironic requests "
          "boldly regular accounts haggle slyly pending packages wake blithely "
          "express foxes nag silent pinto beans cajole").split()


def rng(seed, *stream):
    """An independent, reproducible random stream per (seed, purpose)."""
    key = "/".join(str(s) for s in (seed,) + stream)
    return random.Random(int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big"))


def cents(r, lo, hi):
    """A two-decimal value in [lo, hi], as its exact text."""
    c = r.randint(lo * 100, hi * 100)
    return f"{c // 100}.{c % 100:02d}"


def gen_lineitem_csv(seed, idx, nrows):
    """One seeded CSV payload (bytes) in COPY's default dialect, and the
    totals the checks compare against, computed from the text written."""
    r = rng(seed, "csv", idx)
    day0 = datetime.date(1992, 1, 1)
    lines = []
    okey = idx * 10_000_000
    while len(lines) < nrows:
        okey += r.randint(1, 7)
        for ln in range(1, r.randint(1, 7) + 1):
            if len(lines) == nrows:
                break
            qty = r.randint(1, 50)
            price = cents(r, 900, 105000)
            row = [str(okey), str(r.randint(1, 200000)), str(r.randint(1, 10000)),
                   str(ln), f"{qty}.0", price, f"0.0{r.randint(0, 9)}",
                   f"0.0{r.randint(0, 8)}", r.choice("ARN"), r.choice("FO"),
                   (day0 + datetime.timedelta(days=r.randint(0, 2500))).isoformat(),
                   " ".join(r.choice(_WORDS) for _ in range(r.randint(2, 6)))]
            lines.append(",".join(row))
    data = ("\n".join(lines) + "\n").encode()
    return data, csv_totals(data)


def parse_line(line):
    """A COPY text line as typed values (the ingest table's columns)."""
    cells = line.split(",")
    out = []
    for (_, ty), c in zip(LI_COLS, cells):
        if c == "":
            out.append(None)
        elif ty == "int":
            out.append(int(c))
        elif ty == "float":
            out.append(float(c))
        else:
            out.append(c)
    return tuple(out)


def canon_line(line):
    """One line in a form that does not depend on how a writer renders a
    number (17 vs 17.0, 0.05 vs 5.0E-2)."""
    return "|".join("" if v is None else repr(v) for v in parse_line(line))


def lines_hash(data):
    """Hash of the sorted canonical lines of a COPY text payload."""
    lines = sorted(canon_line(l) for l in data.decode().split("\n") if l)
    h = hashlib.sha256()
    for l in lines:
        h.update(l.encode())
        h.update(b"\n")
    return h.hexdigest()


def csv_totals(data):
    """Row count, exact column sums and a sorted-line hash of a payload."""
    n = 0
    s = {"l_orderkey": 0, "l_linenumber": 0, "l_quantity": decimal.Decimal(0),
         "l_extendedprice": decimal.Decimal(0), "l_discount": decimal.Decimal(0)}
    dates = set()
    for line in data.decode().split("\n"):
        if not line:
            continue
        c = line.split(",")
        n += 1
        s["l_orderkey"] += int(c[0])
        s["l_linenumber"] += int(c[3])
        s["l_quantity"] += decimal.Decimal(c[4])
        s["l_extendedprice"] += decimal.Decimal(c[5])
        s["l_discount"] += decimal.Decimal(c[6])
        dates.add(c[10])
    q = decimal.Decimal("0.01")
    return {"n": n, "s_orderkey": s["l_orderkey"], "s_linenumber": s["l_linenumber"],
            "s_quantity": s["l_quantity"].quantize(q),
            "s_extendedprice": s["l_extendedprice"].quantize(q),
            "s_discount": s["l_discount"].quantize(q), "d_shipdate": len(dates),
            "hash": lines_hash(data)}


def agg_matches(cols, row, totals):
    """The read-back aggregate (text values over the wire) against the
    generator's totals; returns None or the first mismatch."""
    got = dict(zip(cols, row))
    for k in ("n", "s_orderkey", "s_linenumber", "s_quantity", "s_extendedprice",
              "s_discount", "d_shipdate"):
        want = totals[k]
        have = got.get(k)
        try:
            ok = decimal.Decimal(have) == decimal.Decimal(want)
        except (TypeError, decimal.InvalidOperation):
            ok = False
        if not ok:
            return f"{k}: got {have!r}, want {want!r}"
    return None


def gen_serving(seed, qids, vocab, keys, conns, rounds):
    """Per connection, `rounds` rounds of (ann, bm25, hybrid, point) calls
    with seeded qids, term sets and order keys."""
    out = []
    for c in range(conns):
        r = rng(seed, "serve", c)
        ops = []
        for _ in range(rounds):
            terms = " ".join(sorted(r.sample(vocab, r.randint(2, 3))))
            ops += [["ann", str(r.choice(qids))], ["bm25", terms],
                    ["hybrid", str(r.choice(qids)), " ".join(sorted(r.sample(vocab, 3)))],
                    ["point", str(r.choice(keys))]]
        out.append(ops)
    return out


# ------------------------------------------------------------ oracle checks

def _compat(a, b):
    a, b = str(a), str(b)
    if a == b:
        return True
    groups = [{"int8", "int16", "int32", "int64"}, {"float32", "float64"},
              {"datetime64[ns]", "datetime64[us]", "datetime64[ms]"}]
    if any(a in g and b in g for g in groups):
        return True
    return {a, b} <= groups[2] | {"object"}


def _equal(x, y):
    import numpy as np
    import pandas as pd
    try:
        if isinstance(x, (np.ndarray, list)) or isinstance(y, (np.ndarray, list)):
            return bool(np.array_equal(np.asarray(x), np.asarray(y)))
        if x is None and y is None:
            return True
        if x == y:
            return True
        if x != x and y != y:  # NaN
            return True
        if hasattr(x, "isoformat") or hasattr(y, "isoformat"):
            return pd.Timestamp(x) == pd.Timestamp(y)
    except Exception:
        return False
    return False


def compare_frames(got, exp):
    """Hash-grade compare of two pandas frames, as tools/drivercheck.py
    does it: same column names, compatible dtypes, same row count,
    and exactly equal values once columns and rows are sorted. Returns
    None when equal, else the first difference."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    cols = sorted(got.columns)
    got, exp = got[cols], exp[cols]
    bad = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in cols
           if not _compat(got[c].dtype, exp[c].dtype)]
    if bad:
        return f"dtypes {bad}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    try:
        got = got.sort_values(by=cols).reset_index(drop=True)
        exp = exp.sort_values(by=cols).reset_index(drop=True)
    except Exception as e:
        return f"sort: {type(e).__name__}: {e}"
    for i, (a, b) in enumerate(zip(got.values.tolist(), exp.values.tolist())):
        for c, x, y in zip(cols, a, b):
            if not _equal(x, y):
                return f"row {i} col {c}: {x!r} != {y!r}"
    return None


def text_equal(text, want):
    """A text-format wire value against a typed oracle value."""
    if text is None or want is None or (isinstance(want, float) and want != want):
        return text is None and (want is None or want != want)
    if isinstance(want, int):
        try:
            return int(text) == want
        except ValueError:
            return False
    if isinstance(want, float):
        try:
            return float(text) == want
        except ValueError:
            return False
    if hasattr(want, "isoformat"):
        return text[:10] == want.isoformat()[:10] and (
            len(text) <= 10 or text[11:19] == want.isoformat()[11:19])
    return text == str(want)


def compare_text_rows(cols, rows, exp_cols, exp_rows):
    """Wire rows (text) against oracle rows (typed, in result order)."""
    if list(cols) != list(exp_cols):
        return f"columns {list(cols)} != {list(exp_cols)}"
    if len(rows) != len(exp_rows):
        return f"rows {len(rows)} != {len(exp_rows)}"
    for i, (a, b) in enumerate(zip(rows, exp_rows)):
        for c, x, y in zip(cols, a, b):
            if not text_equal(x, y):
                return f"row {i} col {c}: {x!r} != {y!r}"
    return None
