"""Seeded input generator for the benchmark.

Writes the tables the registry's loaders read (`graft.core.Tables`): the
star schema `region nation customer supplier part orders lineitem`, plus
`events`, `documents` and `embeddings`, each as
`<dir>/<table>.parquet/part-NNNNN.parquet`.

A base table set of scale `sf` (TPC-H units: lineitem = 6M x sf rows) is
drawn from the seed with the same columns, types and value domains as the
registry's testdata, then replicated `mult` times:

- every replica's keys are offset by a power of ten above the base key
  range, so replica key ranges never overlap and foreign keys stay inside
  their replica;
- document replica r rotates its first r words to the tail, so every
  document has word-rotated near-duplicates;
- embedding replica r > 0 adds seeded gaussian jitter to the base vector
  and renormalises it.

Rows are written in a seed-dependent order across FILES files per table.
The same (seed, sf, mult) always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 16

PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "users": 15_000, "documents": 50_000, "embeddings": 20_000,
}

STAR = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"]
CORPUS = ["documents", "embeddings"]

VOCAB = np.array(["a", "the", "agg", "batch", "big", "column", "customer",
                  "data", "fast", "filter", "group", "hash", "join", "key",
                  "line", "merge", "order", "part", "query", "row", "scan",
                  "slow", "small", "sort", "spark", "stream", "table",
                  "value", "vector", "window"])

DAY_US = 86_400_000_000
EPOCH_1995 = 9131 * DAY_US      # 1995-01-01
EPOCH_2024 = 19723 * DAY_US     # 2024-01-01


def rows(table, sf):
    return max(1, int(round(PER_SF[table] * sf)))


def stride(n):
    """Smallest power of ten strictly above n: the replica key stride."""
    p = 10
    while p <= n:
        p *= 10
    return p


class _Tables:
    def __init__(self, seed, sf, mult):
        self.seed, self.sf, self.mult = seed, sf, mult

    def rng(self, *salt):
        return np.random.default_rng([self.seed, *salt])

    def rep(self, base):
        """Tile a base column across the replicas."""
        return np.tile(base, self.mult)

    def keys(self, n):
        r = np.repeat(np.arange(self.mult, dtype=np.int64), n)
        return np.tile(np.arange(n, dtype=np.int64), self.mult) + r * stride(n)

    def fk(self, rng, n_rows, n_target):
        """Foreign keys into a table of n_target base rows, per replica."""
        r = np.repeat(np.arange(self.mult, dtype=np.int64), n_rows)
        return self.rep(rng.integers(0, n_target, n_rows)) + r * stride(n_target)

    def money(self, rng, n, lo, hi):
        return self.rep(np.round(lo + rng.random(n) * (hi - lo), 2))

    def pick(self, rng, n, xs):
        return self.rep(np.array(xs)[rng.integers(0, len(xs), n)])

    def day(self, rng, n, epoch_us, days):
        return self.rep(epoch_us + rng.integers(0, days + 1, n) * DAY_US)

    def region(self):
        return {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}

    def nation(self):
        k = np.arange(25)
        return {"n_nationkey": pa.array(k, pa.int32()),
                "n_name": [f"NATION_{i}" for i in k],
                "n_regionkey": pa.array(k % 5, pa.int32())}

    def customer(self):
        n, g = rows("customer", self.sf), self.rng(1)
        key = self.keys(n)
        return {"c_custkey": key,
                "c_name": [f"Customer#{k:09d}" for k in key],
                "c_nationkey": pa.array(self.rep(g.integers(0, 25, n)), pa.int32()),
                "c_acctbal": self.money(g, n, -999.99, 9999.99),
                "c_mktsegment": self.pick(g, n, ["AUTOMOBILE", "BUILDING",
                                                 "FURNITURE", "HOUSEHOLD",
                                                 "MACHINERY"])}

    def supplier(self):
        n, g = rows("supplier", self.sf), self.rng(2)
        key = self.keys(n)
        return {"s_suppkey": key,
                "s_name": [f"Supplier#{k:09d}" for k in key],
                "s_nationkey": pa.array(self.rep(g.integers(0, 25, n)), pa.int32()),
                "s_acctbal": self.money(g, n, -999.99, 9999.99)}

    def part(self):
        n, g = rows("part", self.sf), self.rng(3)
        key = self.keys(n)
        adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red",
                        "small"])[g.integers(0, 8, n)]
        noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                         "rod", "widget"])[g.integers(0, 8, n)]
        return {"p_partkey": key,
                "p_name": self.rep(np.char.add(np.char.add(adj, " "), noun)),
                "p_brand": self.rep(np.char.add("Brand#",
                                                g.integers(1, 26, n).astype(str))),
                "p_type": self.pick(g, n, ["ECONOMY", "LARGE", "MEDIUM",
                                           "PROMO", "SMALL", "STANDARD"]),
                "p_size": pa.array(self.rep(g.integers(1, 51, n)), pa.int32()),
                "p_retailprice": np.round(900.0 + (key % 1000) / 10.0, 1)}

    def orders(self):
        n, g = rows("orders", self.sf), self.rng(4)
        return {"o_orderkey": self.keys(n),
                "o_custkey": self.fk(g, n, rows("customer", self.sf)),
                "o_orderstatus": self.pick(g, n, ["F", "O", "P"]),
                "o_totalprice": self.money(g, n, 1000.0, 500000.0),
                "o_orderdate": pa.array(self.day(g, n, EPOCH_1995, 2403),
                                        pa.timestamp("us")),
                "o_orderpriority": self.pick(g, n, ["1-URGENT", "2-HIGH",
                                                    "3-MEDIUM",
                                                    "4-NOT SPECIFIED",
                                                    "5-LOW"])}

    def lineitem(self):
        n, g = rows("lineitem", self.sf), self.rng(5)
        return {"l_orderkey": self.fk(g, n, rows("orders", self.sf)),
                "l_partkey": self.fk(g, n, rows("part", self.sf)),
                "l_suppkey": self.fk(g, n, rows("supplier", self.sf)),
                "l_linenumber": pa.array(self.rep(g.integers(1, 8, n)), pa.int32()),
                "l_quantity": self.rep(g.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": self.money(g, n, 900.0, 105000.0),
                "l_discount": self.rep(g.integers(0, 11, n) / 100.0),
                "l_tax": self.rep(g.integers(0, 9, n) / 100.0),
                "l_returnflag": self.pick(g, n, ["A", "N", "R"]),
                "l_linestatus": self.pick(g, n, ["F", "O"]),
                "l_shipdate": pa.array(self.day(g, n, EPOCH_1995 + DAY_US, 2498),
                                       pa.timestamp("us"))}

    def events(self):
        n, g = rows("events", self.sf), self.rng(6)
        # strictly increasing in event_id: event i falls in [i, i+1) steps
        step = 30 * DAY_US // n
        ts = EPOCH_2024 + np.arange(n, dtype=np.int64) * step \
            + g.integers(0, step, n)
        return {"event_id": self.keys(n),
                "ts": pa.array(self.rep(ts), pa.timestamp("us")),
                "user_id": self.fk(g, n, rows("users", self.sf)),
                "event_type": self.pick(g, n, ["click", "error", "purchase",
                                               "signup", "view"]),
                "value": self.money(g, n, 0.0, 560.0),
                "props": self.rep(np.array([f'{{"k": {k}}}'
                                            for k in g.integers(0, 100, n)]))}

    def documents(self):
        n, g = rows("documents", self.sf), self.rng(7)
        base = []
        for i in range(n):
            # ~5% of documents copy an earlier document's words and
            # append "dup", as the registry's corpus does
            if i > 0 and g.random() < 0.05:
                base.append(base[g.integers(0, i)] + ["dup"])
            else:
                base.append(list(VOCAB[g.integers(0, len(VOCAB),
                                                  g.integers(10, 101))]))
        text = [" ".join(w[r:] + w[:r])
                for r in range(self.mult) for w in base]
        lang = np.where(g.random(n) < 0.41, "en",
                        np.array(["de", "es", "fr", "zh"])[g.integers(0, 4, n)])
        return {"doc_id": self.keys(n), "text": text, "lang": self.rep(lang),
                "source": self.rep(np.char.add("src",
                                               g.integers(0, 20, n).astype(str))),
                "n_chars": np.array([len(t) for t in text], dtype=np.int64)}

    def embeddings(self):
        dims = 64
        n, g = rows("embeddings", self.sf), self.rng(8)
        base = g.standard_normal((n, dims))
        label = g.integers(0, 10, n)
        vecs = []
        for r in range(self.mult):
            v = base if r == 0 else \
                base + 0.05 * self.rng(8, r).standard_normal((n, dims))
            vecs.append(v / np.linalg.norm(v, axis=1, keepdims=True))
        flat = np.concatenate(vecs).astype(np.float32)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(flat.ravel()), dims)
        return {"vec_id": self.keys(n),
                "embedding": emb.cast(pa.list_(pa.float32())),
                "label": pa.array(self.rep(label), pa.int32())}


def write(out_dir, seed, sf, mult, tables):
    """Write `tables` at scale sf x mult under out_dir.

    Returns {table: (rows, bytes, files)}.
    """
    gen = _Tables(seed, sf, mult)
    stats = {}
    for ti, name in enumerate(tables):
        t = pa.table(getattr(gen, name)())
        order = np.random.default_rng([seed, 100, ti]).permutation(t.num_rows)
        t = t.take(pa.array(order))
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        nbytes, nfiles = 0, 0
        for i, idx in enumerate(np.array_split(np.arange(t.num_rows),
                                               min(FILES, t.num_rows))):
            f = os.path.join(path, f"part-{i:05d}.parquet")
            pq.write_table(t.slice(int(idx[0]), len(idx)), f)
            nbytes += os.path.getsize(f)
            nfiles += 1
        stats[name] = (t.num_rows, nbytes, nfiles)
    return stats
