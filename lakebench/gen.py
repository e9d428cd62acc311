"""Seeded input generator for the lakehouse benchmark.

Every input the benchmark feeds the program is made here from
(workload, seed): the same pair always yields byte-identical files, and
the program never sees the seed. Tables keep the TPC-H sf0.1 schemas of
part/orders/lineitem and documents/embeddings, at a smaller row count so
that a run of a few seconds holds enough batches for a tail percentile.

    python3 lakebench/gen.py --workload etl_batches --seed 1 --out DIR

writes DIR/manifest.json plus parquet files. The manifest lists the
batches in order and what was planted in each, so the checks can name
what they expect after any prefix of batches.
"""

import argparse
import bisect
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("etl_batches", "ivm_churn", "dedup_ann_ingest")

# Row counts. Roughly sf0.005-0.01 of TPC-H: a batch's cost is then
# mostly the program's fixed per-call work, and one run holds its warm-up
# and timed batches. The batch counts cover the workloads' warm-up plus
# timed batches (see Workloads.scala).
ETL_ORDERS, ETL_PARTS, ETL_SUPPS, ETL_CUSTS = 6000, 1000, 100, 1500
ETL_DROPS = 13
ETL_DROP_SHARE = 0.015        # orders touched per drop, as a share of base
IVM_ORDERS, IVM_BUCKETS = 4000, 8
IVM_STEPS = 9
IVM_DML_SHARE = 0.005         # rows touched per DML, as a share of base
DOCS, DOC_DIM, DOC_CENTERS = 1000, 64, 32
WAVES, WAVE_NEW, WAVE_UPD, WAVE_DEL = 4, 30, 4, 3
WAVE_QUERIES, WAVE_LOOKUPS = 12, 10
NEAR_SHARE, COPY_SHARE = 0.2, 0.1

EPOCH = np.datetime64("1992-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
STATUS = ["F", "O", "P"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS, LSTAT = ["A", "N", "R"], ["F", "O"]
COLORS = ["almond", "azure", "blush", "coral", "cream", "forest", "ghost",
          "khaki", "linen", "maroon", "navy", "olive", "peru", "plum",
          "rose", "sienna", "tan", "thistle", "violet", "wheat"]
TYPES = ["STANDARD BRASS", "SMALL STEEL", "MEDIUM TIN", "LARGE COPPER",
         "ECONOMY NICKEL", "PROMO BRUSHED"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window",
         "index", "commit", "view", "feed", "lake", "file", "stage", "plan",
         "shard", "cache", "page", "node", "task", "job", "spill", "sink",
         "drop", "load", "write"]

PART_SCHEMA = pa.schema([
    ("p_partkey", pa.int64()), ("p_name", pa.string()),
    ("p_brand", pa.string()), ("p_type", pa.string()),
    ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us"))])
FACT_SCHEMA = pa.schema(list(LINEITEM_SCHEMA) + [("l_bucket", pa.int32())])
DIM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("o_orderpriority", pa.string()),
    ("o_orderstatus", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()),
    ("embedding", pa.list_(pa.float32()))])


class Rng:
    """The numpy-style draws the generator uses, on Python's Mersenne
    Twister: scalar draws there are several times cheaper than numpy's."""

    def __init__(self, seed):
        self.r = random.Random(seed)

    def integers(self, lo, hi=None, size=None):
        lo, hi = (0, lo) if hi is None else (lo, hi)
        if size is None:
            return self.r.randrange(lo, hi)
        return [self.r.randrange(lo, hi) for _ in range(size)]

    def uniform(self, lo, hi):
        return self.r.uniform(lo, hi)

    def normal(self, mu, sd):
        return self.r.gauss(mu, sd)

    def random(self):
        return self.r.random()

    def choice(self, pool, k, replace=False):
        pool = range(pool) if isinstance(pool, int) else pool
        return self.r.sample(list(pool), k)


def ts(day):
    return EPOCH + np.timedelta64(int(day) * DAY_US, "us")


def write(path, rows, schema):
    """Rows are tuples in schema order; one row group, no wall-clock
    metadata, so equal rows give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def money(rng, lo, hi):
    return round(float(rng.uniform(lo, hi)), 2)


# ---------------------------------------------------------------- TPC-H base

def base_orders(rng, n_orders):
    """orders + lineitem rows as tuples (schema order) and the parts."""
    days = rng.integers(0, 2400, size=n_orders)
    orders, lines = [], []
    for i in range(n_orders):
        key = i + 1
        orders.append((key, int(rng.integers(1, ETL_CUSTS + 1)),
                       STATUS[rng.integers(3)], money(rng, 900, 450000),
                       ts(days[i]), PRIOS[rng.integers(5)]))
        for ln in range(1, int(rng.integers(1, 8)) + 1):
            lines.append(new_line(rng, key, ln, days[i]))
    return orders, lines


def new_line(rng, okey, ln, day, partkey=None):
    q = float(rng.integers(1, 51))
    return (okey, partkey or int(rng.integers(1, ETL_PARTS + 1)),
            int(rng.integers(1, ETL_SUPPS + 1)), ln, q,
            round(q * float(rng.uniform(900, 2000)), 2),
            int(rng.integers(0, 11)) / 100, int(rng.integers(0, 9)) / 100,
            FLAGS[rng.integers(3)], LSTAT[rng.integers(2)],
            ts(day + int(rng.integers(1, 122))))


def base_parts(rng, n_parts):
    return [new_part(rng, k) for k in range(1, n_parts + 1)]


def new_part(rng, key):
    name = " ".join(COLORS[j] for j in rng.choice(len(COLORS), 3, replace=False))
    return (key, name, f"Brand#{rng.integers(1, 6)}{rng.integers(1, 6)}",
            TYPES[rng.integers(len(TYPES))], int(rng.integers(1, 51)),
            money(rng, 900, 2100))


# ------------------------------------------------------------- etl_batches

# The orchestrator's per-entity rules, restated: not-null columns, the
# latest-wins order (key, order column, tie-breakers), the merge key and
# the raw file + column its RI check semi-joins against.
ETL_RULES = {
    "products": dict(file="part", notnull=(0, 1), key=(0,), order=1, tie=(),
                     dim=("lineitem", 1)),
    "orders": dict(file="orders", notnull=(0, 1, 4), key=(0,), order=4,
                   tie=(), dim=("lineitem", 0)),
    "order_items": dict(file="lineitem", notnull=(0, 1, 10), key=(0, 3),
                        order=10, tie=(1, 2), dim=("orders", 0)),
}


def land(raw):
    """What one orchestrator run lands from raw files {file: rows}:
    {entity: (landed rows, n_rejected)}."""
    out = {}
    for entity, r in ETL_RULES.items():
        rows = raw[r["file"]]
        valid = [x for x in rows if all(x[i] is not None for i in r["notnull"])]
        best = {}
        for x in valid:
            k = tuple(x[i] for i in r["key"])
            rank = (x[r["order"]],) + tuple(-x[i] for i in r["tie"])
            if k not in best or rank > best[k][0]:
                best[k] = (rank, x)
        dim_file, dim_col = r["dim"]
        dim = {x[dim_col] for x in raw[dim_file] if x[dim_col] is not None}
        landed = [x for _, x in best.values() if x[r["key"][0]] in dim]
        landed.sort(key=lambda x: tuple(x[i] for i in r["key"]))
        out[entity] = (landed, len(rows) - len(valid))
    return out


def gen_etl(rng, out):
    orders, lines = base_orders(rng, ETL_ORDERS)
    parts = base_parts(rng, ETL_PARTS)
    raw = {"part": parts, "orders": orders, "lineitem": lines}
    man = {"workload": "etl_batches", "base": "base", "batches": []}
    man["base_bytes"] = write_raw(out, "base", raw)
    write_expected(out, "base", land(raw))
    # generator-side state: order key -> (order day, highest line number)
    state = {o[0]: (int((o[4] - EPOCH) // np.timedelta64(DAY_US, "us")), 0)
             for o in orders}
    for ln in lines:
        d, n = state[ln[0]]
        state[ln[0]] = (d, max(n, ln[3]))
    by_date = sorted(state, key=lambda k: (state[k][0], k))
    next_order, next_part = ETL_ORDERS + 1, ETL_PARTS + 1
    max_day = 2400
    per_drop = max(1, int(ETL_ORDERS * ETL_DROP_SHARE))
    for b in range(ETL_DROPS):
        planted = {f: dict(updates=0, new_keys=0, dups=0, late_versions=0,
                           null_violations=0, orphans=0)
                   for f in ("part", "orders", "lineitem")}
        po, pl, pp = planted["orders"], planted["lineitem"], planted["part"]
        d_orders, d_lines, d_parts = [], [], []
        n_upd = int(per_drop * 0.75)
        upd = set()
        while len(upd) < n_upd:  # skewed towards recent order dates
            i = len(by_date) - 1 - int(abs(rng.normal(0, len(by_date) * 0.12)))
            if i >= 0:
                upd.add(by_date[i])
        for k in sorted(upd):
            day, n = state[k]
            d_orders.append((k, int(rng.integers(1, ETL_CUSTS + 1)),
                             STATUS[rng.integers(3)], money(rng, 900, 450000),
                             ts(day), PRIOS[rng.integers(5)]))
            for ln in range(1, n + 1):
                d_lines.append(new_line(rng, k, ln, day))
            pl["updates"] += n
            if rng.random() < 0.1:  # an extra line on an existing order
                n += 1
                d_lines.append(new_line(rng, k, n, day))
                state[k] = (day, n)
                pl["new_keys"] += 1
            po["updates"] += 1
        for _ in range(per_drop - n_upd):
            k, n = next_order, int(rng.integers(1, 8))
            day = max_day + int(rng.integers(0, 5))
            next_order += 1
            d_orders.append((k, int(rng.integers(1, ETL_CUSTS + 1)),
                             STATUS[rng.integers(3)], money(rng, 900, 450000),
                             ts(day), PRIOS[rng.integers(5)]))
            for ln in range(1, n + 1):
                d_lines.append(new_line(rng, k, ln, day))
            state[k] = (day, n)
            by_date.append(k)
            po["new_keys"] += 1
            pl["new_keys"] += n
        max_day += 1
        # parts: a few brand-new parts wired to lines of the drop, then price
        # updates of parts the drop's lines reference
        for _ in range(2):
            j = int(rng.integers(len(d_lines)))
            d_lines[j] = (d_lines[j][0], next_part) + d_lines[j][2:]
            d_parts.append(new_part(rng, next_part))
            next_part += 1
            pp["new_keys"] += 1
        ref = sorted({x[1] for x in d_lines if x[1] < ETL_PARTS + 1})
        for pk in rng.choice(ref, min(len(ref), per_drop // 4), replace=False):
            d_parts.append(new_part(rng, int(pk)))
            pp["updates"] += 1
        # out-of-order older versions: an older row for the same key, in
        # the same drop; latest-wins must keep the newer one
        for _ in range(max(1, per_drop // 20)):
            o = d_orders[int(rng.integers(len(d_orders)))]
            if sum(1 for y in d_orders if y[0] == o[0]) == 1:
                older = o[4] - np.timedelta64(int(rng.integers(1, 30)) * DAY_US, "us")
                d_orders.append(o[:3] + (money(rng, 900, 450000), older) + o[5:])
                po["late_versions"] += 1
            x = d_lines[int(rng.integers(len(d_lines)))]
            if sum(1 for y in d_lines if y[0] == x[0] and y[3] == x[3]) == 1:
                older = x[10] - np.timedelta64(int(rng.integers(1, 30)) * DAY_US, "us")
                d_lines.append(x[:4] + (x[4] + 1.0,) + x[5:10] + (older,))
                pl["late_versions"] += 1
        # null-rule violations (fresh keys, so they only ever reject)
        for _ in range(max(1, per_drop // 50)):
            d_orders.append((next_order, None, "O", money(rng, 900, 450000),
                             ts(max_day), PRIOS[0]))
            next_order += 1
            x = d_lines[int(rng.integers(len(d_lines)))]
            d_lines.append((x[0], None, x[2], 100 + len(d_lines)) + x[4:])
            po["null_violations"] += 1
            pl["null_violations"] += 1
        d_parts.append((next_part, None, "Brand#11", TYPES[0], 1, 1000.0))
        next_part += 1
        pp["null_violations"] += 1
        # RI orphans: lines of orders absent from the drop, an order with no
        # lines in the drop, a part no line references
        in_drop = {o[0] for o in d_orders}
        lost = {int(k) for k in rng.integers(1, ETL_ORDERS + 1,
                                             size=max(1, per_drop // 50))} - in_drop
        for k in sorted(lost):
            d_lines.append(new_line(rng, k, 1, state[k][0]))
            pl["orphans"] += 1
        d_orders.append((next_order, 1, "O", 1000.0, ts(max_day), PRIOS[1]))
        next_order += 1
        po["orphans"] += 1
        referenced = {x[1] for x in d_lines}
        unref = [k for k in range(1, ETL_PARTS + 1) if k not in referenced]
        d_parts.append(new_part(rng, unref[int(rng.integers(len(unref)))]))
        pp["orphans"] += 1
        # exact duplicates (of rows without nulls, so that a duplicate
        # counts once, as a duplicate)
        for f, rows in (("orders", d_orders), ("lineitem", d_lines),
                        ("part", d_parts)):
            whole = [x for x in rows if None not in x]
            for _ in range(max(1, len(rows) // 33)):
                rows.append(whole[int(rng.integers(len(whole)))])
                planted[f]["dups"] += 1
        drop = {"part": d_parts, "orders": d_orders, "lineitem": d_lines}
        name = f"drop_{b:04d}"
        nbytes = write_raw(out, name, drop)
        landed = land(drop)
        write_expected(out, name, landed)
        man["batches"].append(dict(
            dir=name, bytes=nbytes,
            rows=sum(len(v) for v in drop.values()), planted=planted,
            rejected={e: v[1] for e, v in landed.items()},
            merged={e: len(v[0]) for e, v in landed.items()}))
    return man


def write_raw(out, name, raw):
    return sum(write(os.path.join(out, name, f"{f}.parquet"), rows, s)
               for f, rows, s in (("part", raw["part"], PART_SCHEMA),
                                  ("orders", raw["orders"], ORDERS_SCHEMA),
                                  ("lineitem", raw["lineitem"], LINEITEM_SCHEMA)))


def write_expected(out, name, landed):
    for entity, schema in (("products", PART_SCHEMA), ("orders", ORDERS_SCHEMA),
                           ("order_items", LINEITEM_SCHEMA)):
        write(os.path.join(out, "expect", name, f"{entity}.parquet"),
              landed[entity][0], schema)


# --------------------------------------------------------------- ivm_churn

def gen_ivm(rng, out):
    orders, lines = base_orders(rng, IVM_ORDERS)
    fact = {(x[0], x[3]): x + (x[0] % IVM_BUCKETS,) for x in lines}
    man = {"workload": "ivm_churn", "base": "base/fact.parquet",
           "dim": "base/dim.parquet", "batches": []}
    man["base_bytes"] = (
        write(os.path.join(out, "base", "fact.parquet"),
              sorted(fact.values()), FACT_SCHEMA) +
        write(os.path.join(out, "base", "dim.parquet"),
              [(o[0], o[5], o[2]) for o in orders], DIM_SCHEMA))
    groups = Groups(fact.values())
    buckets = [set() for _ in range(IVM_BUCKETS)]
    next_ln = {}
    for k in fact:
        buckets[k[0] % IVM_BUCKETS].add(k)
        next_ln[k[0]] = max(next_ln.get(k[0], 0), k[1])
    n_rows = max(1, int(len(fact) * IVM_DML_SHARE))
    for s in range(IVM_STEPS):
        # a fixed schedule of kinds and threats, so every three steps hold
        # the same mix whatever the seed; the seed picks the rows. An
        # upsert leaves every extremum in place, a delete removes a group
        # maximum, an update lowers one.
        kind = ("upsert", "delete", "update")[s % 3]
        want_threat = kind != "upsert"
        bucket = int(rng.integers(IVM_BUCKETS))
        pool = sorted(buckets[bucket])
        safe = [k for k in pool if not groups.extreme(fact[k])]
        risky = [k for k in pool if groups.is_max(fact[k])]
        picks = [safe[i] for i in rng.choice(len(safe), min(n_rows, len(safe)),
                                             replace=False)]
        if want_threat and risky:
            picks[0] = risky[int(rng.integers(len(risky)))]
        picks.sort()
        removed = [fact[k] for k in picks]
        threat = any(groups.extreme(x) for x in removed)
        step = dict(kind=kind, bucket=bucket, threat=threat)
        if kind == "upsert":
            rows = [fact[k][:5] + (money(rng, 900, 100000),) + fact[k][6:]
                    for k in picks]
            okeys = sorted({k[0] for k in picks})
            for ok in okeys[: max(1, len(okeys) // 4)]:  # new lines
                next_ln[ok] += 1
                rows.append(new_line(rng, ok, next_ln[ok], 2000) + (ok % IVM_BUCKETS,))
            path = f"step_{s:04d}.parquet"
            step.update(file=path, rows=len(rows),
                        bytes=write(os.path.join(out, path), rows, FACT_SCHEMA))
        else:
            rows = []
            if kind == "update":  # lower the price: the same double product the JVM computes
                rows = [x[:5] + (x[5] * 0.9,) + x[6:] for x in removed]
            # the statement names its rows by key; the file holds the rows
            # it deletes (pre-images) or writes (post-images), so every
            # kind's input volume is measured the same way
            path = f"step_{s:04d}.parquet"
            step.update(ids=[k[0] * 16 + k[1] for k in picks], rows=len(picks),
                        file=path, bytes=write(os.path.join(out, path),
                                               rows or removed, FACT_SCHEMA))
        for x in removed:
            groups.remove(x)
            del fact[(x[0], x[3])]
            buckets[bucket].discard((x[0], x[3]))
        for x in rows:
            k = (x[0], x[3])
            if k in fact:
                groups.remove(fact[k])
            fact[k] = x
            groups.add(x)
            buckets[bucket].add(k)
        man["batches"].append(step)
    return man


class Groups:
    """Sorted l_extendedprice values per l_suppkey group: the state a
    min/max view's extrema come from."""

    def __init__(self, rows):
        self.vals = {}
        for x in rows:
            self.vals.setdefault(x[2], []).append(x[5])
        for v in self.vals.values():
            v.sort()

    def add(self, x):
        bisect.insort(self.vals.setdefault(x[2], []), x[5])

    def remove(self, x):
        v = self.vals[x[2]]
        del v[bisect.bisect_left(v, x[5])]

    def is_max(self, x):
        return x[5] == self.vals[x[2]][-1]

    def extreme(self, x):
        v = self.vals[x[2]]
        return x[5] == v[0] or x[5] == v[-1]


# -------------------------------------------------------- dedup_ann_ingest

def gen_docs(rng, out):
    nrng = np.random.default_rng(rng.integers(1 << 30))
    centers = nrng.normal(0, 1, (DOC_CENTERS, DOC_DIM))

    def text():
        return " ".join(VOCAB[j] for j in rng.integers(
            0, len(VOCAB), size=rng.integers(30, 61)))

    def vec(c=None):
        base = centers[rng.integers(DOC_CENTERS)] if c is None else c
        return [float(v) for v in
                (base + nrng.normal(0, 0.3, DOC_DIM)).astype(np.float32)]

    docs = {i: (i, text(), vec()) for i in range(DOCS)}
    man = {"workload": "dedup_ann_ingest", "base": "base/docs.parquet",
           "batches": []}
    man["base_bytes"] = write(os.path.join(out, "base", "docs.parquet"),
                              [docs[i] for i in sorted(docs)], DOCS_SCHEMA)
    next_id = DOCS
    for w in range(WAVES):
        alive = sorted(docs)
        rows, planted = [], []
        for _ in range(WAVE_NEW):
            r = rng.random()
            if r < NEAR_SHARE + COPY_SHARE:
                src = alive[int(rng.integers(len(alive)))]
                words = docs[src][1].split()
                kind = "copy"
                if r < NEAR_SHARE:
                    kind = "near"
                    j = int(rng.integers(len(words)))
                    words[j] = VOCAB[(VOCAB.index(words[j]) + 1) % len(VOCAB)]
                rows.append((next_id, " ".join(words), vec(np.array(docs[src][2]))))
                planted.append([next_id, src, kind])
            else:
                rows.append((next_id, text(), vec()))
            next_id += 1
        involved = {p[1] for p in planted}
        free = [i for i in alive if i not in involved]
        chosen = [free[i] for i in rng.choice(len(free), WAVE_UPD + WAVE_DEL,
                                               replace=False)]
        upd, dele = sorted(chosen[:WAVE_UPD]), sorted(chosen[WAVE_UPD:])
        for i in upd:
            rows.append((i, text(), vec()))
        for x in rows:
            docs[x[0]] = x
        for i in dele:
            del docs[i]
        alive = sorted(docs)
        path = f"wave_{w:04d}.parquet"
        man["batches"].append(dict(
            file=path, bytes=write(os.path.join(out, path), rows, DOCS_SCHEMA),
            rows=len(rows) + len(dele), new=[r[0] for r in rows[:WAVE_NEW]],
            planted=planted, updated=upd, deleted=dele,
            queries=sorted(int(alive[i]) for i in rng.choice(
                len(alive), WAVE_QUERIES, replace=False)),
            lookups=[r[0] for r in rows[:WAVE_LOOKUPS]]))
    return man


def generate(workload, seed, out):
    """Write every input of (workload, seed) under `out`; returns the
    manifest (also written as out/manifest.json)."""
    salt = WORKLOADS.index(workload)
    rng = Rng(seed * len(WORKLOADS) + salt)
    os.makedirs(out, exist_ok=True)
    man = {"etl_batches": gen_etl, "ivm_churn": gen_ivm,
           "dedup_ann_ingest": gen_docs}[workload](rng, out)
    man["seed"] = seed
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out, "manifest.json"))
    return man


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
