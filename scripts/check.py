#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the testdata tables and compare to the parquet dumped by
graft.Verify (column names sorted, values compared row-by-row).

`--selftest` runs the cell comparator against known tricky pairs
(NaN/NaN, -0.0 vs +0.0, None/None) and exits non-zero on any miss —
the r8 lesson was that a float `!=` compare is blind to zero sign
while the driver's byte-hash is not.
"""
import sys, json, glob, math
import duckdb


def cell_diff(a, b):
    """Return None if the two cells hash-compare equal, else a reason.
    Mirrors the driver's byte-level hash: -0.0 and +0.0 are DIFFERENT
    (distinct IEEE bit patterns) even though they are `==`."""
    if a is None and b is None:
        return None
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return None
            if fa != fb:
                return f"{a!r} != {b!r}"
            if fa == 0.0 and math.copysign(1, fa) != math.copysign(1, fb):
                return f"zero-sign {a!r} vs {b!r}"
            return None
        if str(a) != str(b):
            return f"{a!r} != {b!r}"
        return None
    except (TypeError, ValueError):
        if str(a) != str(b):
            return f"{a!r} != {b!r}"
        return None


def type_diff(got_t, exp_t):
    """Return None if the two DuckDB logical type STRINGS are equal,
    else a reason (a plain string compare, standing in for the
    driver's byte-level hash, which sees int64 vs int128 (HUGEINT) and
    int64 vs float64 as DIFFERENT even when every value compares
    equal — the r10 corpus_card/corpus_quota class: `sum(BIGINT)`
    returns HUGEINT in DuckDB)."""
    if str(got_t) == str(exp_t):
        return None
    return f"type {got_t} vs {exp_t}"


def selftest():
    tcases = [
        ("BIGINT", "BIGINT", True),
        ("BIGINT", "HUGEINT", False),   # the r10 corpus_card class
        ("BIGINT", "DOUBLE", False),
        ("INTEGER", "BIGINT", False),
        ("DOUBLE", "DOUBLE", True),
        ("VARCHAR", "VARCHAR", True),
    ]
    tbad = [(a, b, want) for a, b, want in tcases
            if (type_diff(a, b) is None) != want]
    for a, b, want in tbad:
        print(f"SELFTEST FAIL: type_diff({a!r}, {b!r}) "
              f"expected {'equal' if want else 'different'}")
    cases = [
        (1.0, 1.0, True),
        (1.0, 1.0000001, False),
        (float("nan"), float("nan"), True),
        (None, None, True),
        (-0.0, 0.0, False),   # the r8 dsir/avg_pool class
        (0.0, -0.0, False),
        (0.0, 0.0, True),
        (-0.0, -0.0, True),
        ("a", "a", True),
        ("a", "b", False),
    ]
    bad = [(a, b, want) for a, b, want in cases
           if (cell_diff(a, b) is None) != want]
    for a, b, want in bad:
        print(f"SELFTEST FAIL: cell_diff({a!r}, {b!r}) "
              f"expected {'equal' if want else 'different'}")
    n_all = len(cases) + len(tcases)
    n_bad = len(bad) + len(tbad)
    print(f"selftest: {n_all - n_bad}/{n_all} pass")
    sys.exit(1 if n_bad else 0)


if "--selftest" in sys.argv:
    selftest()

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "target/verify_out"

con = duckdb.connect()
for tbl in ["region","nation","customer","supplier","part","orders",
            "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name in sorted(oracle):
    pq = f"{out_dir}/{name}"
    if not glob.glob(f"{pq}/*.parquet"):
        results[name] = "NO_SPARK_OUTPUT"
        continue
    try:
        grel = con.sql(f"SELECT * FROM '{pq}/*.parquet'")
        # (col, type) pairs sorted by name — stable sort, so duplicate
        # column names keep their relative order and compare
        # POSITIONALLY below instead of collapsing in a dict (where a
        # type mismatch in all but the last duplicate was masked)
        gpairs = sorted(zip(grel.columns, (str(t) for t in grel.types)),
                        key=lambda p: p[0])
        got = grel.fetchdf()
    except Exception as e:
        results[name] = f"SPARK_READ_FAIL {e}"
        continue
    try:
        erel = con.sql(oracle[name])
        epairs = sorted(zip(erel.columns, (str(t) for t in erel.types)),
                        key=lambda p: p[0])
        exp = erel.fetchdf()
    except Exception as e:
        results[name] = f"ORACLE_FAIL {str(e)[:200]}"
        continue
    g = got[sorted(got.columns)]
    e_ = exp[sorted(exp.columns)]
    if list(g.columns) != list(e_.columns):
        results[name] = f"COLS {list(g.columns)} vs {list(e_.columns)}"
        continue
    # driver's byte-hash sees type width before it sees values —
    # an int64-vs-HUGEINT result fails there even if every cell is ==
    tbad = next((f"col {c}: {type_diff(gt, et)}"
                 for (c, gt), (_, et) in zip(gpairs, epairs)
                 if type_diff(gt, et)), None)
    if tbad:
        results[name] = f"TYPE {tbad}"
        continue
    if len(g) != len(e_):
        results[name] = f"ROWS {len(g)} vs {len(e_)}"
        continue
    if len(g) == 0:
        results[name] = "OK_EMPTY"
        continue
    bad = None
    try:
        # positional iteration (g.iloc[:, j]), not name lookup: on a
        # duplicated column label g[c] returns a DataFrame and .tolist()
        # raises, aborting the whole gate instead of failing one query —
        # the same class the TYPE check above already fixed positionally
        for j, c in enumerate(g.columns):
            gv, ev = g.iloc[:, j].tolist(), e_.iloc[:, j].tolist()
            for i, (a, b) in enumerate(zip(gv, ev)):
                d = cell_diff(a, b)
                if d:
                    bad = f"col {c} row {i}: {d}"; break
            if bad: break
    except Exception as ex:
        # one malformed query must never abort the run for the rest
        bad = f"COMPARE_FAIL {str(ex)[:200]}"
    results[name] = bad or "OK"

n_ok = sum(1 for v in results.values() if v.startswith("OK"))
for k, v in results.items():
    mark = "PASS" if v.startswith("OK") else "FAIL"
    print(f"{mark} {k}: {v}")
# rows-only (no-oracle) queries
for pq in sorted(glob.glob(f"{out_dir}/*/")):
    name = pq.rstrip("/").split("/")[-1]
    if name not in oracle:
        try:
            n = con.sql(f"SELECT count(*) FROM '{pq}/*.parquet'").fetchone()[0]
            print(f"{'PASS' if n > 0 else 'WARN'} {name}: ROWS_ONLY n={n}")
        except Exception as ex:
            print(f"FAIL {name}: ROWS_ONLY {ex}")
print(f"== {n_ok}/{len(results)} oracle-checked pass")
