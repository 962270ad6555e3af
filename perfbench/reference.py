"""Reference results the benchmark checks every operation against.

Each output the harness digests (see src/perfbench/Digest.scala) gets a
reference computed here, once per seed, independently of Spark:

- outputs with a `SparkEntry.oracleSql` entry are replayed in DuckDB
  over the same generated files (the SQL text comes from the harness,
  which writes it from the library's registry);
- planted duplicate groups, the expected ODS, the per-batch published
  row counts and both PageRank results come from the generator's
  ground truth (PageRank is integer arithmetic, so a numpy replica is
  bit-exact).

The digest is the row count plus the sum (mod 2^64) of the first 8
bytes of md5 over each row's canonical text, columns in name order.
"""
import datetime as _dt
import decimal
import hashlib
import struct

import duckdb
import numpy as np

SCALE = 1_000_000_000_000
RANK_ITERS = 2          # CorpusBuild.rankIters
_EPOCH = _dt.datetime(1970, 1, 1)


def _cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", float(v)))[0]
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, _dt.datetime):
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    return str(v)


def digest(rows):
    """[rows, digest] of an iterable of row tuples (columns already in
    the harness's order)."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.md5("\x1f".join(_cell(c) for c in r).encode()).digest()
        total += struct.unpack(">q", h[:8])[0]
        n += 1
    return [n, "%016x" % (total % (1 << 64))]


def _sorted_cols(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ([tuple(r[i] for i in order) for r in rows])


def oracle(sql, tables):
    """Run one oracle query in DuckDB with `tables` (name -> parquet path
    or arrow table) as views; digest the result."""
    con = duckdb.connect()
    try:
        for name, src in tables.items():
            if isinstance(src, str):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
            else:
                con.register(name, src)
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return digest(_sorted_cols(names, cur.fetchall()))
    finally:
        con.close()


def pagerank(edges, iters=RANK_ITERS):
    """Graph.pageRankScaled in exact integer arithmetic: distinct edges,
    rank0 = Scale div n, teleport (15 Scale) div (100 n), dangling mass
    shared evenly (div n), each node gives rank div outdeg per edge."""
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):]
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n).astype(np.int64)
    rank = np.full(n, SCALE // n, np.int64)
    base = SCALE * 15 // (100 * n)
    for _ in range(iters):
        share = int(rank[outdeg == 0].sum()) // n
        ins = np.zeros(n, np.int64)
        np.add.at(ins, d, rank[s] // outdeg[s])
        rank = base + (85 * (ins + share)) // 100
    node_vals = nodes.tolist()
    return digest((node_vals[i], int(rank[i])) for i in range(n))


def references(workload, data, truth, oracle_sql):
    """Every output's [rows, digest] for one generated input set."""
    if workload == "report_window":
        ods = truth["ods"]
        names = ods.column_names
        cols = [ods.column(c).to_pylist() for c in names]
        star = {t: f"{data}/{t}.parquet"
                for t in ("region", "nation", "customer")}
        return {
            "ods": digest(_sorted_cols(names, list(zip(*cols)))),
            "batch_rows": digest(enumerate(truth["batch_rows"])),
            "trgx_shift_cut": oracle(oracle_sql["trgx_shift_cut"],
                                     {"orders": ods}),
            "report_family": oracle(oracle_sql["report_family"],
                                    dict(star, orders=ods)),
        }
    if workload == "corpus_build":
        return {
            "corpus_pipeline": oracle(
                oracle_sql["corpus_pipeline"],
                {"documents": f"{data}/documents.parquet"}),
            "dedup_groups": digest(
                (g, i) for i, g in sorted(truth["groups"].items())),
            "pagerank_small": pagerank(truth["domain_edges"]),
            "pagerank_large": pagerank(truth["page_edges"].tolist()),
        }
    raise ValueError(workload)
