"""Seeded input generator for the benchmark.

Everything the engine sees is made here from `--seed`: TPC-H-shaped
tables (the schemas of the repo's fixture tables), Debezium change
feeds for `orders` and `lineitem`, and an independent in-memory model
of each table's expected state after the feed is applied. The model
never calls the engine; the output checks compare the engine against it.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "bench"
PK = {"orders": ("o_orderkey",), "lineitem": ("l_orderkey", "l_linenumber")}

WORDS = ("the a batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer lake index shard plan cache page "
         "node edge graph token model").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1_000_000  # naive, UTC


def _ts(days):
    """Day offsets from 1995-01-01 as naive microsecond timestamps."""
    return pa.array(EPOCH_1995 + np.asarray(days, np.int64) * 86_400_000_000,
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


# The customer-part co-purchase graph is a dense core (most orders go to
# a few customers and parts) plus a sparse periphery, so the k-core
# operator peels the periphery in the same few rounds for every seed and
# a run's cost does not hinge on the seed's graph.
CORE_CUSTOMERS, CORE_PARTS, CORE_SHARE = 60, 200, 0.7


def _core_or_uniform(rng, n, core, total):
    return np.where(rng.random(n) < CORE_SHARE, rng.integers(0, core, n),
                    rng.integers(0, total, n)).astype(np.int64)


def tables(seed, scale, docs=0, vecs=0):
    """TPC-H-shaped tables at `scale` (1.0 = 1.5M orders); `docs` and
    `vecs` size the text and embedding tables the curation queries read.
    Returns {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(50, int(150_000 * scale)), max(10, int(10_000 * scale))
    n_part, n_ord = max(50, int(200_000 * scale)), max(100, int(1_500_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999, 9999)})
    adj = rng.choice(["large", "hot", "blue", "small", "red"], n_part)
    noun = rng.choice(["ring", "bolt", "gear", "pipe", "plate"], n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": _core_or_uniform(rng, n_ord, CORE_CUSTOMERS, n_cust),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 900, 450_000),
        "o_orderdate": _ts(rng.integers(0, 2400, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": _core_or_uniform(rng, n_li, CORE_PARTS, n_part),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(np.arange(n_li) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 100_000),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(rng.integers(0, 2500, n_li))})
    if docs:
        t["documents"] = _documents(rng, docs)
    if vecs:
        t["embeddings"] = _embeddings(rng, vecs)
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            w = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(w)))
            w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(WORDS, k, p=_WORD_P)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], np.int64)})


_WORD_P = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.8
_WORD_P = _WORD_P / _WORD_P.sum()


def _embeddings(rng, n, d=64, labels=10):
    centers = rng.normal(size=(labels, d))
    label = rng.integers(0, labels, n)
    v = 0.35 * centers[label] + rng.normal(size=(n, d))
    dup = rng.random(n) < 0.03
    src = rng.integers(0, n, n)
    v[dup] = v[src[dup]] + 0.2 * rng.normal(size=(int(dup.sum()), d))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_tables(tbls, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tbls.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"))


# ---------------------------------------------------------------- change feed

class Model:
    """Expected state of one table: key -> row dict, plus a list of live
    keys for O(1) skewed sampling (swap-remove on delete)."""

    def __init__(self, tbl, pk):
        self.pk = pk
        self.rows = {}
        self.keys = []
        self.pos = {}
        for r in tbl.to_pylist():
            self.put(tuple(r[c] for c in pk), r)

    def put(self, k, row):
        if k not in self.rows:
            self.pos[k] = len(self.keys)
            self.keys.append(k)
        self.rows[k] = row

    def drop(self, k):
        del self.rows[k]
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def table(self, schema):
        return pa.Table.from_pylist(list(self.rows.values()), schema=schema)


def _json_value(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return v


def _image(row):
    return {k: _json_value(v) for k, v in row.items()}


class FeedGen:
    """Debezium change generator over the `orders` and `lineitem` models.

    Op mix 6/3/1 insert/update/delete (the ChangeFeed mix); updates and
    deletes pick keys with a Zipf skew over the live-key list; about 2%
    of updates move the primary key and carry the old key in `before`.
    Envelopes alternate between the flat form and `{schema, payload}`.
    """

    def __init__(self, seed, tbls):
        self.rng = np.random.default_rng(seed + 7919)
        self.models = {t: Model(tbls[t], PK[t]) for t in PK}
        self.schemas = {t: tbls[t].schema for t in PK}
        self.next_order = int(tbls["orders"]["o_orderkey"].to_numpy().max()) + 1
        self.next_li_order = self.next_order + 10_000_000
        self.seq = 0
        self.ts_ms = 1_700_000_000_000

    def _pick(self, m):
        i = int(self.rng.zipf(1.2)) - 1
        return m.keys[i % len(m.keys)]

    def _new_row(self, table, key):
        r = self.rng
        if table == "orders":
            return {"o_orderkey": key[0], "o_custkey": int(r.integers(0, 1000)),
                    "o_orderstatus": "O", "o_totalprice": round(float(r.uniform(900, 450_000)), 2),
                    "o_orderdate": dt.datetime(2001, 1, 1) + dt.timedelta(days=int(r.integers(0, 900))),
                    "o_orderpriority": PRIORITIES[int(r.integers(0, 5))]}
        return {"l_orderkey": key[0], "l_partkey": int(r.integers(0, 1000)),
                "l_suppkey": int(r.integers(0, 100)), "l_linenumber": key[1],
                "l_quantity": float(r.integers(1, 51)),
                "l_extendedprice": round(float(r.uniform(900, 100_000)), 2),
                "l_discount": 0.05, "l_tax": 0.02, "l_returnflag": "N",
                "l_linestatus": "O",
                "l_shipdate": dt.datetime(2001, 6, 1) + dt.timedelta(days=int(r.integers(0, 900)))}

    def _fresh_key(self, table):
        if table == "orders":
            self.next_order += 1
            return (self.next_order - 1,)
        self.next_li_order += 1
        return (self.next_li_order - 1, int(self.rng.integers(1, 8)))

    def _updated(self, table, row):
        r, new = self.rng, dict(row)
        if table == "orders":
            new["o_totalprice"] = round(float(r.uniform(900, 450_000)), 2)
            new["o_orderstatus"] = ["O", "F", "P"][int(r.integers(0, 3))]
        else:
            new["l_quantity"] = float(r.integers(1, 51))
            new["l_linestatus"] = ["O", "F"][int(r.integers(0, 2))]
        return new

    def change(self, table):
        """One change on `table`: mutates the model, returns the envelope."""
        m = self.models[table]
        u = self.rng.random()
        if u < 0.6 or len(m.keys) < 10:
            k = self._fresh_key(table)
            before, after, op = None, self._new_row(table, k), "c"
            m.put(k, after)
        elif u < 0.9:
            k = self._pick(m)
            before = m.rows[k]
            after = self._updated(table, before)
            if self.rng.random() < 0.02:  # primary-key move
                nk = self._fresh_key(table)
                after.update(zip(m.pk, nk))
                m.drop(k)
                m.put(nk, after)
            else:
                m.put(k, after)
            op = "u"
        else:
            k = self._pick(m)
            before, after, op = m.rows[k], None, "d"
            m.drop(k)
        self.seq += 1
        self.ts_ms += int(self.rng.integers(0, 3))
        payload = {
            "before": None if before is None else _image(before),
            "after": None if after is None else _image(after),
            "source": {"db": DB, "table": table, "ts_ms": self.ts_ms,
                       "file": "mysql-bin.000001", "pos": self.seq},
            "op": op, "ts_ms": self.ts_ms + 5}
        if self.seq % 2:
            return payload
        return {"schema": {"type": "struct", "name": f"{DB}.{table}.Envelope"},
                "payload": payload}

    def file_lines(self, n_changes, li_share):
        """`n_changes` changes as JSON lines, `li_share` of them on lineitem."""
        out = []
        for _ in range(n_changes):
            t = "lineitem" if self.rng.random() < li_share else "orders"
            out.append(json.dumps(self.change(t), separators=(",", ":")))
        return "\n".join(out) + "\n"

    def write_models(self, out_dir):
        os.makedirs(out_dir, exist_ok=True)
        for t, m in self.models.items():
            pq.write_table(m.table(self.schemas[t]), os.path.join(out_dir, f"{t}.parquet"))
