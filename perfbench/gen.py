"""Seeded input generator for the three benchmark workloads.

Every table keeps the column names and parquet types of the sf0.1
testdata (TestdataSchemaSpec pins them) and the value domains the
reports depend on: month-end dates over at least 13 months, 25 nations
in 5 regions (so the `n_nationkey % 6` bottler split applies), five
market segments and the `1-URGENT` / `2-HIGH` order priorities.

`generate(workload, seed, out_dir)` writes the parquet inputs under
`out_dir` and returns the ground truth the checker needs for outputs
that have no DuckDB oracle (the ODS after all merges, planted duplicate
groups, the graphs PageRank runs on).
"""
import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (one place; README.md quotes them) ----------------------------
CUSTOMERS = 15_000
BULK_ORDERS = 40_000          # first ODS batch: the bulk load
BATCHES = 1                   # incremental batches after the bulk load
BATCH_ORDERS = 2_000          # half updates of existing keys, half new
MONTHS = 24                   # 1995-01 .. 1996-12

CORPUS_DOCS = 3_000
CORPUS_SOURCES = 20
DOMAIN_NODES = 100
DOMAIN_EDGES = 400
PAGE_NODES = 20_000
PAGE_EDGES = 101_000          # distinct; above the 100k driver-path cutoff

START = _dt.date(1995, 1, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_EPOCH = _dt.date(1970, 1, 1)
_DAY_US = 86_400_000_000


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    pq.write_table(table, path)


def _day_us(d):
    return (d - _EPOCH).days * _DAY_US


def _month_days(months):
    """Day offsets (from START) of every day in the first `months`
    months — dates are drawn from these so every month is covered."""
    end = START
    for _ in range(months):
        end = (end.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)
    return (end - START).days


def _order_table(keys, cust, status, price, day, prio):
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array([STATUSES[i] for i in status], pa.string()),
        "o_totalprice": pa.array(price, pa.float64()),
        "o_orderdate": pa.array(_day_us(START) + day.astype(np.int64) * _DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in prio],
                                    pa.string()),
    })


def _prices(rng, n):
    return np.round(rng.uniform(1000.0, 500000.0, n), 2)


# ---- report_window -----------------------------------------------------

def gen_report(seed, out):
    """The star's dimensions plus the ODS staging batches that load its
    orders. Batch 0 is the bulk load; every later batch updates half its
    rows (existing natural keys, new status/price/priority) and inserts
    the other half. Batches are orders-shaped plus the `dw_dt` load-date
    string the rng bookkeeping reads. Returns the expected ODS after all
    merges (stg values win, ids survive updates, new keys get ids in
    o_orderkey order continuing from the current max id — the
    Pipelines.odsMerge contract) and the row count after each batch."""
    rng = _rng(seed, 1)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())}),
           f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    nc = CUSTOMERS
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                              pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in
                                  rng.integers(0, 5, nc)], pa.string())}),
        f"{out}/customer.parquet")

    days = _month_days(MONTHS)
    cols = {}          # orderkey -> (cust, status, price, day, prio)
    ids = {}
    next_key = 0
    max_id = 0
    batch_rows = []
    sizes = [BULK_ORDERS] + [BATCH_ORDERS] * BATCHES
    for b, size in enumerate(sizes):
        n_upd = 0 if b == 0 else size // 2
        n_new = size - n_upd
        upd = (rng.choice(next_key, n_upd, replace=False)
               if n_upd else np.empty(0, np.int64))
        # new keys continue past every existing key
        new = next_key + np.arange(n_new)
        next_key += n_new
        keys = np.concatenate([upd, new]).astype(np.int64)
        cust = np.concatenate([
            np.array([cols[k][0] for k in upd], np.int64),
            rng.integers(0, nc, n_new)])
        day = np.concatenate([
            np.array([cols[k][3] for k in upd], np.int64),
            rng.integers(0, days, n_new)])
        perm = rng.permutation(size)
        keys, cust, day = keys[perm], cust[perm], day[perm]
        status = rng.integers(0, 3, size)
        price = _prices(rng, size)
        prio = rng.integers(0, 5, size)
        stg = _order_table(keys, cust, status, price, day, prio)
        stg = stg.append_column("dw_dt", pa.array(
            [(START + _dt.timedelta(days=int(d))).isoformat() for d in day],
            pa.string()))
        _write(stg, f"{out}/stg_{b:03d}.parquet")
        batch_rows.append(next_key)
        for i in range(size):
            cols[int(keys[i])] = (int(cust[i]), int(status[i]),
                                  float(price[i]), int(day[i]), int(prio[i]))
        for k in new.tolist():
            max_id += 1
            ids[k] = max_id
    keys = np.arange(next_key, dtype=np.int64)
    v = [cols[k] for k in range(next_key)]
    ods = _order_table(keys, [r[0] for r in v], [r[1] for r in v],
                       [r[2] for r in v], np.array([r[3] for r in v]),
                       [r[4] for r in v])
    ods = ods.append_column("ods_id", pa.array(
        [ids[k] for k in range(next_key)], pa.int64()))
    return {"input_rows": 5 + 25 + nc + int(sum(sizes)),
            "batch_rows": batch_rows, "ods": ods}


# ---- corpus_build ------------------------------------------------------

def _vocab(rng, n=3000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def gen_corpus(seed, out):
    """Documents with planted structure: ~8% fail the C4 rules (too
    short, or lorem-ipsum boilerplate), ~6% are exact copies (some with
    case/whitespace changes the fingerprint normalizes away), ~6% are
    near copies (last word swapped: 3-shingle Jaccard >= 0.96), and ~3%
    share only their first half with another doc (LSH candidates that
    verification must reject)."""
    rng = _rng(seed, 3)
    vocab = np.array(_vocab(rng))
    n = CORPUS_DOCS
    texts = [None] * n
    good = np.zeros(n, bool)
    parent = list(range(n))          # planted duplicate links

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    kind = rng.choice(5, n, p=[0.77, 0.08, 0.06, 0.06, 0.03])
    kind[:100] = 0                   # every copy has an original before it
    lens = rng.integers(60, 160, n)
    for i in range(n):
        k = kind[i]
        if k != 0:
            base = int(rng.integers(0, i))
            while not good[base]:
                base = int(rng.integers(0, i))
        if k == 0:
            texts[i] = " ".join(rng.choice(vocab, lens[i]))
            good[i] = True
        elif k == 1:                 # C4 reject
            if rng.random() < 0.5:
                texts[i] = " ".join(rng.choice(vocab, int(rng.integers(10, 45))))
            else:
                texts[i] = ("lorem ipsum " +
                            " ".join(rng.choice(vocab, lens[i])))
        elif k == 2:                 # exact copy, maybe re-cased/re-spaced
            t = texts[base]
            r = rng.random()
            if r < 0.3:
                t = t.upper()
            elif r < 0.6:
                t = "  " + t.replace(" ", "\n", 3) + " "
            texts[i] = t
            good[i] = True
            union(base, i)
        elif k == 3:                 # near copy: last word swapped
            w = texts[base].split()
            w[-1] = str(rng.choice(vocab))
            while w[-1] == texts[base].split()[-1]:
                w[-1] = str(rng.choice(vocab))
            texts[i] = " ".join(w)
            good[i] = True
            union(base, i)
        else:                        # half overlap: candidate, not a dup
            w = texts[base].split()
            h = len(w) // 2
            texts[i] = " ".join(w[:h] + list(rng.choice(vocab, len(w) - h)))
            good[i] = True
    src = rng.integers(0, CORPUS_SOURCES, n)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i}" for i in src], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    groups = {i: find(i) for i in range(n) if good[i]}

    dsrc = rng.integers(0, DOMAIN_NODES - 5, DOMAIN_EDGES * 2)
    ddst = rng.integers(0, DOMAIN_NODES, DOMAIN_EDGES * 2)
    dom = np.unique(np.stack([dsrc, ddst], 1)[dsrc != ddst], axis=0)
    dom = dom[rng.permutation(len(dom))[:DOMAIN_EDGES]]
    _write(pa.table({
        "src": pa.array([f"d{i}.example.org" for i in dom[:, 0]], pa.string()),
        "dst": pa.array([f"d{i}.example.org" for i in dom[:, 1]],
                        pa.string())}), f"{out}/domain_edges.parquet")

    m = int(PAGE_EDGES * 1.1)
    psrc = rng.integers(0, PAGE_NODES - 500, m)          # some sinks
    pdst = (PAGE_NODES * rng.power(0.4, m)).astype(np.int64)  # skewed in-degree
    page = np.unique(np.stack([psrc, pdst], 1)[psrc != pdst], axis=0)
    page = page[np.sort(rng.permutation(len(page))[:PAGE_EDGES])]
    assert len(page) == PAGE_EDGES
    _write(pa.table({"src": pa.array(page[:, 0], pa.int64()),
                     "dst": pa.array(page[:, 1], pa.int64())}),
           f"{out}/page_edges.parquet")
    return {"input_rows": n + len(dom) + len(page), "groups": groups,
            "domain_edges": [(f"d{a}.example.org", f"d{b}.example.org")
                             for a, b in dom],
            "page_edges": page}


GENERATORS = {"report_window": gen_report, "corpus_build": gen_corpus}


def generate(workload, seed, out):
    return GENERATORS[workload](seed, out)
