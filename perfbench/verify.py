"""Output check: each pass's report rows against a DuckDB replica.

The replica of a report is the library's own DuckDB oracle SQL for the query
the report mirrors (`SparkEntry.oracleSql`, passed through by the driver JVM),
rewritten by `replica`, run over the same generated parquet. Both sides are
reduced to one digest: columns sorted by name, every value normalized
(DECIMAL -> float, lists -> tuples), rows sorted. The comparison is exact, as with the repository's exact
oracle compare. A report with no replica (its kernel calls libm `exp`) must
give the same digest on every pass of the run.
"""
import decimal
import hashlib
import os
import re

import duckdb

# the traced run's layer self times must sum to the traced full pass within
# this share of it (see tests/test_perfbench.py)
SELF_SUM_TOLERANCE = 0.25

TABLES = ("events", "documents")

# The MinHash oracles index two 32-element coefficient list literals inside a
# per-shingle lambda, which DuckDB rebuilds for every element: the signature
# of 2,000 documents takes ~35 s, and the CTE is evaluated once per reference.
_COEFFS = re.compile(r"\[\d+(?:, \d+){15,}\]")
_SIG_FROM = re.compile(r"(AS sig\s+FROM h)\)")


def accelerate(sql: str) -> str:
    """Same query, faster: the coefficient lists become columns of a one-row
    relation joined to the signature's input, and the signature and band CTEs
    are materialized once. SQL without that shape is returned unchanged.
    tests/test_perfbench.py pins the result equal to the verbatim SQL."""
    lits = list(dict.fromkeys(_COEFFS.findall(sql)))
    if len(lits) != 2 or not _SIG_FROM.search(sql):
        return sql
    out = sql.replace(lits[0], "_ca").replace(lits[1], "_cb")
    out = _SIG_FROM.sub(r"\1, (SELECT %s AS _ca, %s AS _cb) _c)" % (lits[0], lits[1]), out, 1)
    return re.sub(r"\b(sig|bands) AS \(", r"\1 AS MATERIALIZED (", out)


# The pipe1 oracle marks a potential spike wherever |d| > crit. The library
# (SpikeOps.detectSpikes, after the reference's potential_spike_check) also
# skips the second row of a series and its last four rows; the oracle omits
# that guard, so a spike candidate at those positions made the two disagree.
_SPIKE_POT = "(ABS(d) > crit) AS pot"
_SPIKE_POT_GUARDED = ("(ABS(d) > crit AND row_number() OVER w <> 2 AND "
                      "count(*) OVER (PARTITION BY user_id) - row_number() OVER w + 1 >= 5) AS pot")


def replica(sql: str) -> str:
    """The replica the checker runs for an oracle: `accelerate`d, and with the
    library's spike position guard added where the oracle lacks it.
    tests/test_perfbench.py pins both rewrites."""
    return accelerate(sql).replace(_SPIKE_POT, _SPIKE_POT_GUARDED)


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns, rows) -> str:
    """Order-independent digest of a result: `rows` are sequences aligned
    with `columns`. An empty result hashes the same whatever its columns
    (the driver's JSON rows carry no column names when there are none)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order] if rows else []).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_digest(rows) -> str:
    """Digest of the driver's collected rows (one dict per row)."""
    cols = list(rows[0].keys()) if rows else []
    return digest(cols, [[r.get(c) for c in cols] for r in rows])


class Checker:
    """Replica digests for one generated input; `pass_ok` checks one pass.
    A report without a replica must repeat exactly and, unless
    `allow_empty`, must not be empty. The small warm-up input allows it: its
    few rows can leave the gap scan with nothing to flag."""

    def __init__(self, data_dir: str, oracles: dict, tmp_dir: str, allow_empty: bool = False):
        os.makedirs(tmp_dir, exist_ok=True)
        con = duckdb.connect(config={"threads": 4, "temp_directory": tmp_dir})
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            p = os.path.join(data_dir, t + ".parquet")
            if os.path.exists(p):
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
        self.expected = {}
        for name, sql in oracles.items():
            if sql is None:
                self.expected[name] = None
                continue
            cur = con.execute(replica(sql))
            cols = [d[0] for d in cur.description]
            self.expected[name] = digest(cols, cur.fetchall())
        con.close()
        self.allow_empty = allow_empty
        self.stable = {}          # reports without a replica: first digest seen
        self.mismatches = []

    def pass_ok(self, outputs: dict) -> bool:
        ok = True
        for name, rows in outputs.items():
            d = spark_digest(rows)
            want = self.expected.get(name)
            if want is None:
                want = self.stable.setdefault(name, d) if rows or self.allow_empty else "<empty>"
            if d != want:
                ok = False
                self.mismatches.append({"report": name, "got": d[:16], "want": want[:16]})
        return ok
